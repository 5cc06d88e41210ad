package graftbench

import graft.engine.Docs
import graft.geo.{Geo, Mercator}
import graft.sources.OsmPbf
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{array, col, concat, element_at, explode, floor, lit, pmod, sequence, when, xxhash64}

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

/** Input sizes of the three workloads. */
final case class Sizes(
    orders: Int, // docs_pmtiles: orders in the generated base tables
    osmGrid: Int, // osm_mbtiles: the node grid is osmGrid x osmGrid
    buildings: Int,
    relations: Int,
    pipPoints: Int, // pip_partitioned
    pipPolys: Int) {
  def tag: String = s"o$orders-g$osmGrid-b$buildings-r$relations-p$pipPoints-q$pipPolys"
}

object Sizes {
  /** What the benchmark runs. */
  val Bench = Sizes(orders = 8000, osmGrid = 120, buildings = 6000, relations = 120,
    pipPoints = 80000, pipPolys = 8000)
  /** Small inputs of the same shape, for the specs. */
  val Tiny = Sizes(orders = 400, osmGrid = 24, buildings = 120, relations = 6,
    pipPoints = 2000, pipPolys = 200)
}

/** A generated input set: the files the program receives, plus what the
  * generator knows about them. `genS` is the wall time generation took
  * when the files were made; a cache hit reports that recorded time. */
final case class Fixture(workload: String, seed: Long, dir: String,
                         files: Map[String, String], facts: Map[String, Double],
                         genS: Double, cached: Boolean) {
  def file(k: String): String = files(k)
  def bytes: Long = files.valuesIterator.map(p => Fixtures.sizeOf(new File(p))).sum
}

/**
 * Deterministic input generators. Each takes a seed, writes files and
 * nothing else; the same seed gives byte-identical files. Fixtures are
 * cached under a key made of the workload, the seed, [[GenVersion]],
 * [[Docs.SynthVersion]] and the sizes, so a change to either generator
 * can never reuse stale files.
 */
object Fixtures {

  /** Bump whenever any generator's output changes. */
  val GenVersion = "g2"

  def key(workload: String, seed: Long, sizes: Sizes): String =
    s"$workload-s$seed-$GenVersion-${Docs.SynthVersion}-${sizes.tag}"

  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
    else f.length()

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** The fixture for (workload, seed, sizes) under `root`, generated on a miss. */
  def obtain(spark: SparkSession, root: String, workload: String, seed: Long,
             sizes: Sizes): Fixture = {
    val dir = new File(root, key(workload, seed, sizes))
    val ready = new File(dir, "_READY")
    if (ready.exists()) {
      val lines = new String(Files.readAllBytes(ready.toPath), UTF_8).split("\n").toSeq
      val kv = lines.filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
      }.toMap
      val facts = kv.collect { case (k, v) if k.startsWith("fact.") => k.stripPrefix("fact.") -> v.toDouble }
      val files = kv.collect { case (k, v) if k.startsWith("file.") =>
        k.stripPrefix("file.") -> new File(dir, v).getPath }
      return Fixture(workload, seed, dir.getPath, files, facts, kv("gen_s").toDouble, cached = true)
    }
    val tmp = new File(root, s"${dir.getName}.tmp-${ProcessHandle.current().pid()}")
    deleteTree(tmp)
    tmp.mkdirs()
    val t0 = System.nanoTime()
    val (files, facts) = generate(spark, tmp.getPath, workload, seed, sizes)
    val genS = (System.nanoTime() - t0) / 1e9
    val body = (Seq(s"gen_s=$genS") ++
      files.toSeq.sorted.map { case (k, v) => s"file.$k=$v" } ++
      facts.toSeq.sorted.map { case (k, v) => s"fact.$k=$v" }).mkString("\n")
    Files.write(new File(tmp, "_READY").toPath, body.getBytes(UTF_8))
    deleteTree(dir)
    Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    Fixture(workload, seed, dir.getPath, files.map { case (k, v) => k -> new File(dir, v).getPath },
      facts, genS, cached = false)
  }

  /** Writes the workload's inputs under `dir`; returns (name -> relative path, facts). */
  def generate(spark: SparkSession, dir: String, workload: String, seed: Long,
               sizes: Sizes): (Map[String, String], Map[String, Double]) = workload match {
    case "docs_pmtiles" => docs(spark, dir, seed, sizes)
    case "osm_mbtiles" => osm(spark, dir, seed, sizes)
    case "pip_partitioned" => pip(spark, dir, seed, sizes)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def rng(seed: Long, stream: Long): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L + stream)

  /** A seeded uniform draw in [0, 1) per row: a hash of (seed, stream, id),
    * so the value does not depend on partitioning or task order. */
  private def uniform(seed: Long, stream: Int, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(stream), id), lit(1L << 53)).cast("double") / (1L << 53).toDouble

  private def pick(values: Array[String], u: Column): Column =
    element_at(array(values.map(lit(_)).toIndexedSeq: _*), (floor(u * values.length) + 1).cast("int"))

  // ---------------------------------------------------------------- docs

  private val Statuses = Array("F", "O", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Nations = Array("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES")

  /** The key-shift variant [[Docs.pointDocs]] / [[Docs.lineDocs]] apply. */
  def docsVariant(seed: Long): Int = 1 + java.lang.Math.floorMod(seed, 9L).toInt

  /**
   * The interleaved docs table. Seeded TPC-H-shaped base tables
   * (`orders`, `lineitem`, `nation`) go through the product's own
   * synthesis ([[Docs.pointDocs]], [[Docs.lineDocs]],
   * [[Docs.polygonDocs]]) with the seed's key-shift variant, and the
   * result is written once as splittable parquet: the table a
   * production run would scan.
   */
  private def docs(spark: SparkSession, dir: String, seed: Long,
                   sizes: Sizes): (Map[String, String], Map[String, Double]) = {
    import spark.implicits._
    val base = s"$dir/base"
    val orders = spark.range(0, sizes.orders, 1, 4).select(
      // strictly increasing keys with seeded gaps, as TPC-H's sparse keys
      (col("id") * 4 + 1 + floor(uniform(seed, 1, col("id")) * 4)).as("o_orderkey"),
      pick(Statuses, uniform(seed, 2, col("id"))).as("o_orderstatus"),
      pick(Priorities, uniform(seed, 3, col("id"))).as("o_orderpriority"),
      (floor(uniform(seed, 4, col("id")) * 7) + 1).cast("int").as("lines"))
    orders.drop("lines").coalesce(1).write.parquet(s"$base/orders.parquet")
    orders.select(col("o_orderkey").as("l_orderkey"),
        explode(sequence(lit(1), col("lines"))).as("l_linenumber"))
      .coalesce(1).write.parquet(s"$base/lineitem.parquet")
    Nations.zipWithIndex.map { case (n, k) => (k.toLong, n) }.toSeq.toDF("n_nationkey", "n_name")
      .coalesce(1).write.parquet(s"$base/nation.parquet")

    val v = docsVariant(seed)
    Docs.synthParallelism = spark.sparkContext.defaultParallelism
    val table = Docs.pointDocs(spark, base, v)
      .unionByName(Docs.lineDocs(spark, base, v))
      .unionByName(Docs.polygonDocs(spark, base))
    table.repartition(8, col("doc_id")).sortWithinPartitions(col("doc_id"))
      .write.parquet(s"$dir/docs")
    deleteTree(new File(base))
    val n = spark.read.parquet(s"$dir/docs").count()
    (Map("docs" -> "docs"), Map("docs" -> n.toDouble, "variant" -> v.toDouble))
  }

  // ----------------------------------------------------------------- osm

  private val Amenities = Array("cafe", "school", "bank", "pharmacy", "restaurant", "bench")

  private def node(id: Long, lon: Double, lat: Double, tags: Seq[(String, String)]) =
    OsmPbf.Entity("node", id, lat, lon, tags, Array.empty, Array.empty, Array.empty,
      Array.empty, 1, 0L, 1L, 1, "graftbench")
  private def way(id: Long, refs: Array[Long], tags: Seq[(String, String)]) =
    OsmPbf.Entity("way", id, Double.NaN, Double.NaN, tags, refs, Array.empty, Array.empty,
      Array.empty, 1, 0L, 1L, 1, "graftbench")

  /**
   * A synthetic extract: a jittered node grid (about a tenth of the
   * nodes tagged), unpadded highway ways along grid rows and columns,
   * closed building ways with their own corner nodes, and
   * `type=multipolygon` relations whose outer ring is split over two
   * ways and whose inner ring is one closed way.
   */
  private def osm(spark: SparkSession, dir: String, seed: Long,
                  sizes: Sizes): (Map[String, String], Map[String, Double]) = {
    val r = rng(seed, 2)
    val (lon0, lat0, spanLon, spanLat) = (8.3, 47.2, 0.48, 0.36)
    val g = sizes.osmGrid
    val dx = spanLon / g
    val dy = spanLat / g
    val nodes = Array.newBuilder[OsmPbf.Entity]
    val ways = Array.newBuilder[OsmPbf.Entity]
    val rels = Array.newBuilder[OsmPbf.Entity]
    def gridId(row: Int, c: Int): Long = 1L + row.toLong * g + c
    var tagged = 0
    for (row <- 0 until g; c <- 0 until g) {
      val lon = lon0 + (c + 0.8 * (r.nextDouble() - 0.5)) * dx
      val lat = lat0 + (row + 0.8 * (r.nextDouble() - 0.5)) * dy
      val tags =
        if (r.nextInt(10) == 0) {
          tagged += 1
          Seq("amenity" -> Amenities(r.nextInt(Amenities.length)), "name" -> s"poi ${gridId(row, c)}")
        } else Seq.empty
      nodes += node(gridId(row, c), lon, lat, tags)
    }
    var nextNode = gridId(g - 1, g - 1) + 1
    var nextWay = 1L
    var highways = 0
    def addRoad(refs: Array[Long], kind: String): Unit = {
      ways += way(nextWay, refs, Seq("highway" -> kind, "name" -> s"road $nextWay"))
      nextWay += 1
      highways += 1
    }
    for (row <- 0 until g by 3) {
      var c = 0
      while (c < g - 1) {
        val len = math.min(g - c, 12 + r.nextInt(24))
        addRoad((c until c + len).map(gridId(row, _)).toArray, if (row % 12 == 0) "primary" else "residential")
        c += len - 1
      }
    }
    for (c <- 0 until g by 5) {
      var row = 0
      while (row < g - 1) {
        val len = math.min(g - row, 12 + r.nextInt(24))
        addRoad((row until row + len).map(gridId(_, c)).toArray, "residential")
        row += len - 1
      }
    }
    def ring(cx: Double, cy: Double, hw: Double, hh: Double): Array[Long] = {
      val ids = Array.fill(4) { val id = nextNode; nextNode += 1; id }
      nodes += node(ids(0), cx - hw, cy - hh, Seq.empty)
      nodes += node(ids(1), cx + hw, cy - hh, Seq.empty)
      nodes += node(ids(2), cx + hw, cy + hh, Seq.empty)
      nodes += node(ids(3), cx - hw, cy + hh, Seq.empty)
      ids
    }
    for (_ <- 0 until sizes.buildings) {
      val cx = lon0 + r.nextDouble() * spanLon
      val cy = lat0 + r.nextDouble() * spanLat
      val ids = ring(cx, cy, 0.00005 + r.nextDouble() * 0.0002, 0.00005 + r.nextDouble() * 0.00015)
      ways += way(nextWay, ids :+ ids(0), Seq("building" -> "yes"))
      nextWay += 1
    }
    var nextRel = 1L
    for (_ <- 0 until sizes.relations) {
      val cx = lon0 + r.nextDouble() * spanLon
      val cy = lat0 + r.nextDouble() * spanLat
      val hw = 0.003 + r.nextDouble() * 0.008
      val hh = 0.002 + r.nextDouble() * 0.006
      val outer = ring(cx, cy, hw, hh)
      val inner = ring(cx, cy, hw * 0.4, hh * 0.4)
      val w1 = nextWay; val w2 = nextWay + 1; val w3 = nextWay + 2
      nextWay += 3
      ways += way(w1, Array(outer(0), outer(1), outer(2)), Seq.empty)
      ways += way(w2, Array(outer(2), outer(3), outer(0)), Seq.empty)
      ways += way(w3, inner :+ inner(0), Seq.empty)
      rels += OsmPbf.Entity("relation", nextRel, Double.NaN, Double.NaN,
        Seq("type" -> "multipolygon", "landuse" -> "forest", "name" -> s"wood $nextRel"),
        Array.empty, Array("way", "way", "way"), Array(w1, w2, w3),
        Array("outer", "outer", "inner"), 1, 0L, 1L, 1, "graftbench")
      nextRel += 1
    }
    val all = nodes.result().sortBy(_.id) ++ ways.result() ++ rels.result()
    val path = s"$dir/extract.osm.pbf"
    OsmPbf.write(path, spark.sparkContext.hadoopConfiguration, all.iterator)
    (Map("pbf" -> "extract.osm.pbf"), Map(
      "nodes" -> all.count(_.kind == "node").toDouble, "tagged_nodes" -> tagged.toDouble,
      "highways" -> highways.toDouble, "buildings" -> sizes.buildings.toDouble,
      "relations" -> sizes.relations.toDouble))
  }

  // ----------------------------------------------------------------- pip

  /** Share of the points and of the polygons placed in the megacity cell. */
  val MegacityShare = 0.05
  /** The z7 cell (x, y) that holds the megacity. */
  val MegacityCell = (64, 44)

  /** Lon/lat box strictly inside the megacity's z7 cell. */
  def megacityBox: (Double, Double, Double, Double) = {
    val nz = 1 << 7
    val (x, y) = MegacityCell
    val (w, e) = (Mercator.lon(x.toDouble / nz), Mercator.lon((x + 1).toDouble / nz))
    val (n, s) = (Mercator.lat(y.toDouble / nz), Mercator.lat((y + 1).toDouble / nz))
    val (mx, my) = ((e - w) * 0.2, (n - s) * 0.2)
    (w + mx, s + my, e - mx, n - my)
  }

  private def square(cx: Double, cy: Double, h: Double): Array[Byte] =
    Geo.toWkb(Geo.factory.toGeometry(new org.locationtech.jts.geom.Envelope(cx - h, cx + h, cy - h, cy + h)))

  /**
   * Points `(doc_id, lon, lat)` and small square polygons
   * `(doc_id, geom WKB)` spread over many z7 cells, plus a megacity
   * cell that holds [[MegacityShare]] of both: the hot cell a
   * partitioned join has to survive.
   */
  private def pip(spark: SparkSession, dir: String, seed: Long,
                  sizes: Sizes): (Map[String, String], Map[String, Double]) = {
    import spark.implicits._
    val (mw, ms, me, mn) = megacityBox
    val megaPts = (sizes.pipPoints * MegacityShare).toInt
    val megaPolys = (sizes.pipPolys * MegacityShare).toInt
    // the first megaPts points and megaPolys polygons lie in the megacity
    def coord(mega: Column, stream: Int, lo: Double, hi: Double, mlo: Double, mhi: Double) = {
      val u = uniform(seed, stream, col("id"))
      when(mega, u * (mhi - mlo) + mlo).otherwise(u * (hi - lo) + lo)
    }
    val ptMega = col("id") < megaPts
    spark.range(0, sizes.pipPoints, 1, 4).select(
      concat(lit("pt_"), col("id")).as("doc_id"),
      coord(ptMega, 11, -120.0, 120.0, mw, me).as("lon"),
      coord(ptMega, 12, -55.0, 65.0, ms, mn).as("lat"))
      .write.parquet(s"$dir/points")
    val polyMega = col("id") < megaPolys
    val u = uniform(seed, 15, col("id"))
    spark.range(0, sizes.pipPolys, 1, 2).select(col("id"),
        coord(polyMega, 13, -120.0, 120.0, mw, me).as("cx"),
        coord(polyMega, 14, -55.0, 65.0, ms, mn).as("cy"),
        when(polyMega, u * 0.04 + 0.01).otherwise(u * 0.6 + 0.2).as("h"))
      .as[(Long, Double, Double, Double)]
      .map { case (id, cx, cy, h) => (s"poly_$id", square(cx, cy, h)) }
      .toDF("doc_id", "geom")
      .write.parquet(s"$dir/polys")
    (Map("points" -> "points", "polys" -> "polys"), Map(
      "points" -> sizes.pipPoints.toDouble, "polys" -> sizes.pipPolys.toDouble,
      "mega_points" -> megaPts.toDouble, "mega_polys" -> megaPolys.toDouble))
  }
}
