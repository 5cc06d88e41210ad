package graft.engine

import graft.SparkTestBase
import graft.model.{Doc, Span}
import graft.sources.OsmPbf
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Sample
import org.apache.spark.sql.execution.{FileSourceScanExec, SampleExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer

/**
 * The range-bound sampler behind the tile shuffle: where its `Sample`
 * lands in the plan, how close its bounds come to exact quantiles,
 * that the driver holds a bounded number of keys, and that tile output
 * does not depend on the bounds.
 */
class RangeBoundSampleSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Buckets = 24

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft_bounds")

  /** Point docs clustered around three centres (one dense), plus lines:
    * a skewed tile-key distribution, written as splittable parquet. */
  private lazy val docsPath: String = {
    val r = new scala.util.Random(5)
    val centres = Seq((2.35, 48.85, 0.02), (13.4, 52.5, 0.2), (-74.0, 40.7, 1.0))
    val docs = (0 until 3000).map { i =>
      val (cx, cy, s) = centres(if (i % 5 < 3) 0 else 1 + i % 2)
      val wkt =
        if (i % 10 == 9) f"LINESTRING (${cx - s}%.5f ${cy - s}%.5f, ${cx + s}%.5f ${cy + s}%.5f)"
        else f"POINT (${cx + s * r.nextGaussian()}%.5f ${cy + s * r.nextGaussian()}%.5f)"
      Doc(f"doc_$i%05d", Seq(Span("text", s"d $i", null, 0), Span("geom", wkt, null, 1)))
    }
    val p = dir.resolve("docs").toString
    docs.toDF().repartition(4).write.parquet(p)
    p
  }

  private def docsKv: Dataset[Kv] =
    Pipeline.renderedFromDocs(spark.read.parquet(docsPath), new Pipeline.GraftProfile(12, 12, 7),
      rebalance = 4)

  /** A synthetic extract: a node grid with unpadded highways along its
    * rows and columns, closed building ways, and multipolygon
    * relations whose member ways are untagged. */
  private lazy val pbfPath: String = {
    val r = new scala.util.Random(9)
    def node(id: Long, lon: Double, lat: Double, tags: (String, String)*) =
      OsmPbf.Entity("node", id, lat, lon, tags, Array.empty, Array.empty, Array.empty,
        Array.empty, 1, 0L, 1L, 1, "t")
    def way(id: Long, refs: Seq[Long], tags: (String, String)*) =
      OsmPbf.Entity("way", id, Double.NaN, Double.NaN, tags, refs.toArray, Array.empty,
        Array.empty, Array.empty, 1, 0L, 1L, 1, "t")
    val g = 60
    val (lon0, lat0, d) = (8.3, 47.2, 0.004)
    def gid(row: Int, c: Int): Long = 1L + row * g + c
    val nodes = ArrayBuffer.empty[OsmPbf.Entity]
    val ways = ArrayBuffer.empty[OsmPbf.Entity]
    val rels = ArrayBuffer.empty[OsmPbf.Entity]
    for (row <- 0 until g; c <- 0 until g)
      nodes += (if ((row * g + c) % 3 == 0) node(gid(row, c), lon0 + c * d, lat0 + row * d, "amenity" -> "cafe")
                else node(gid(row, c), lon0 + c * d, lat0 + row * d))
    var nextNode = gid(g - 1, g - 1) + 1
    var nextWay = 1L
    for (row <- 0 until g by 4) { ways += way(nextWay, (0 until g).map(gid(row, _)), "highway" -> "primary"); nextWay += 1 }
    for (c <- 0 until g by 6) { ways += way(nextWay, (0 until g).map(gid(_, c)), "highway" -> "residential"); nextWay += 1 }
    def ring(cx: Double, cy: Double, h: Double): Seq[Long] = {
      val ids = (0 until 4).map(_ => { nextNode += 1; nextNode })
      Seq((-h, -h), (h, -h), (h, h), (-h, h)).zip(ids).foreach { case ((x, y), id) =>
        nodes += node(id, cx + x, cy + y) }
      ids
    }
    // buildings cluster in one corner of the grid
    for (_ <- 0 until 2000) {
      val ids = ring(lon0 + g * d * r.nextDouble() * r.nextDouble(),
        lat0 + g * d * r.nextDouble() * r.nextDouble(), 0.0005)
      ways += way(nextWay, ids :+ ids.head, "building" -> "yes"); nextWay += 1
    }
    for (rel <- 1L to 20L) {
      val (cx, cy) = (lon0 + g * d * r.nextDouble(), lat0 + g * d * r.nextDouble())
      val outer = ring(cx, cy, 0.01)
      val inner = ring(cx, cy, 0.004)
      ways += way(nextWay, outer :+ outer.head)
      ways += way(nextWay + 1, inner :+ inner.head)
      rels += OsmPbf.Entity("relation", rel, Double.NaN, Double.NaN,
        Seq("type" -> "multipolygon", "landuse" -> "forest"), Array.empty,
        Array("way", "way"), Array(nextWay, nextWay + 1), Array("outer", "inner"), 1, 0L, 1L, 1, "t")
      nextWay += 2
    }
    val p = dir.resolve("grid.osm.pbf").toString
    OsmPbf.write(p, spark.sparkContext.hadoopConfiguration,
      (nodes.sortBy(_.id) ++ ways ++ rels).iterator)
    p
  }

  private def osmFeatures = Osm.sourceFeatures(spark.read.format("osmpbf").load(pbfPath))
  private val osmProfile = new Pipeline.GraftProfile(14, 14, 12)

  // ------------------------------------------------------------ placement

  private def samplePlan(kv: Dataset[Kv]): SparkPlan =
    TileAssembler.boundSample(kv, Buckets).queryExecution.sparkPlan

  private def samplesIn(p: SparkPlan): Seq[SparkPlan] = p.collect { case s: SampleExec => s }

  test("placement: a persisted feature stream is sampled from the cache, not re-read") {
    val features = osmFeatures.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      features.count()
      val plan = samplePlan(Pipeline.renderedFromFeatures(features, osmProfile))
      val ss = samplesIn(plan)
      assert(ss.nonEmpty && ss.forall(_.children.head.isInstanceOf[InMemoryTableScanExec]), plan)
      assert(plan.collect { case s @ (_: FileSourceScanExec | _: BatchScanExec) => s }.isEmpty,
        s"the sample must not scan the input files:\n$plan")
      assert(plan.collect { case j: BaseJoinExec => j }.isEmpty, plan)
    } finally features.unpersist()
  }

  test("placement: over a join the sample sits above it and no join input is sampled") {
    val plan = samplePlan(Pipeline.renderedFromFeatures(osmFeatures, osmProfile))
    val joins = plan.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, plan)
    joins.foreach(j => assert(samplesIn(j).isEmpty, s"a join input is sampled:\n$plan"))
    assert(samplesIn(plan).exists(_.collect { case j: BaseJoinExec => j }.nonEmpty),
      s"no sample above a join:\n$plan")
  }

  test("placement: nothing is pushed below a limit") {
    val kv = spark.range(0, 20000, 1, 4).limit(5000)
      .map(i => Kv(i * 7919 % 20000, 0L, Array.emptyByteArray))
    val plan = samplePlan(kv)
    val limits = plan.collect { case l if l.nodeName.contains("Limit") => l }
    assert(limits.nonEmpty, plan)
    limits.foreach(l => assert(samplesIn(l).isEmpty, s"sample below a limit:\n$plan"))
    assert(samplesIn(plan).nonEmpty, plan)
  }

  test("placement: a docs plan keeps the sample directly on the parquet scan") {
    val plan = samplePlan(docsKv)
    val ss = samplesIn(plan)
    assert(ss.nonEmpty && ss.forall(_.children.head.isInstanceOf[FileSourceScanExec]), plan)
  }

  // -------------------------------------------------------- bound quality

  /** Rows per bucket of `keys` under `bounds`, as the shuffle routes them. */
  private def bucketRows(keys: Array[Long], bounds: Array[Long]): Array[Long] = {
    val rows = new Array[Long](bounds.length + 1)
    keys.foreach { k =>
      val ip = java.util.Arrays.binarySearch(bounds, k)
      rows(if (ip >= 0) ip else -(ip + 1)) += 1
    }
    rows
  }

  private def skew(rows: Array[Long]): Double = {
    val s = rows.sorted
    s.last.toDouble / math.max(1L, s(s.length / 2))
  }

  private def exactBounds(keys: Array[Long]): Array[Long] =
    SqlBridge.determineBounds(ArrayBuffer.from(keys.iterator.map(k => (k, 1.0f))), Buckets)

  /** Prints and returns (exact skew, sampled skew) for `kv`, checking
    * the driver held at most partitions × reservoir keys. */
  private def compare(name: String, kv: Dataset[Kv], reservoir: Int): (Double, Double) = {
    val keys = kv.select(col("key")).as[Long].collect()
    val sketch = TileAssembler.sketchKeys(kv, Buckets, reservoir)
    val k = if (reservoir > 0) reservoir
      else math.ceil(3.0 * 20 * Buckets / sketch.length).toInt
    assert(sketch.forall(_._2.length <= k))
    assert(sketch.map(_._2.length).sum <= sketch.length * k)
    if (reservoir > 0) assert(sketch.exists { case (seen, kept) => seen > kept.length },
      "a forced-small reservoir must drop keys, so that the weights matter")
    val exact = bucketRows(keys, exactBounds(keys))
    val sampled = bucketRows(keys, TileAssembler.boundsFromSketch(sketch, Buckets))
    def line(label: String, rows: Array[Long]) =
      f"$label%-8s buckets=${rows.length}%2d max=${rows.max}%6d median=${rows.sorted.apply(rows.length / 2)}%6d skew=${skew(rows)}%.2f"
    println(s"[bounds] $name rows=${keys.length} partitions=${sketch.length} " +
      s"keys_held=${sketch.map(_._2.length).sum} (cap ${sketch.length * k})\n  " +
      line("exact", exact) + "\n  " + line("sampled", sampled))
    (skew(exact), skew(sampled))
  }

  /** 400k keys: one hot key holds 30% of the rows, the rest fall on a
    * heavy-headed tail (u^3 over a million values). */
  private def skewedKv: Dataset[Kv] =
    spark.range(0, 400000, 1, 4).map { i =>
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(i, 17)
      val u = (h & 0x7fffffffL) / 2147483648.0
      val key = if (i % 10 < 3) 500000L else (1e6 * u * u * u).toLong
      Kv(key, i, Array.emptyByteArray)
    }

  test("bounds: skewed keys stay within 1.5x of exact quantiles, also with a tiny reservoir") {
    val (exact, sampled) = compare("skewed", skewedKv, reservoir = 0)
    assert(sampled <= 1.5 * exact, s"skew $sampled vs exact $exact")
    val (exact2, small) = compare("skewed/k=64", skewedKv, reservoir = 64)
    assert(small <= 1.5 * exact2, s"skew $small vs exact $exact2")
  }

  test("bounds: OSM join fixture stays within 3x of exact quantiles") {
    val features = osmFeatures.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val kv = Pipeline.renderedFromFeatures(features, osmProfile)
      val (exact, sampled) = compare("osm", kv, reservoir = 0)
      assert(sampled <= 3 * exact, s"skew $sampled vs exact $exact")
      val (exact2, small) = compare("osm/k=16", kv, reservoir = 16)
      assert(small <= 3 * exact2, s"skew $small vs exact $exact2")
    } finally features.unpersist()
  }

  // ------------------------------------------------------------- output

  /** The sampler this one replaced: `Sample(0.01)` above every file-scan
    * leaf of the unanalysed plan, every sampled key collected, and
    * equal-frequency picks from the sorted sample. */
  private def legacyBounds(kv: Dataset[Kv], buckets: Int): Array[Long] = {
    val plan = kv.queryExecution.logical.transformUp {
      case lr: LogicalRelation => Sample(0.0, 0.01, withReplacement = false, 42L, lr)
      case dr: DataSourceV2Relation => Sample(0.0, 0.01, withReplacement = false, 42L, dr)
    }
    val sample = SqlBridge.ofRows(spark, plan).select(col("key")).as[Long].collect().sorted
    (1 until buckets).map(i => sample(((i.toLong * (sample.length - 1)) / buckets).toInt))
      .distinct.toArray
  }

  private def tilesOf(ds: Dataset[graft.model.TileBytes]): Seq[(Long, Seq[Byte])] =
    ds.collect().map(t => (t.tile_id, t.bytes.toSeq)).toSeq

  private def sameTiles(name: String, kv: Dataset[Kv], profile: Profile): Unit = {
    val bounds = legacyBounds(kv, Buckets)
    assert(bounds.length > 4, s"$name: the old sampler must produce real bounds")
    val before = tilesOf(TileAssembler.assembleRanged(kv, bounds, profile, gzipTiles = false, None))
    val after = tilesOf(TileAssembler.assemble(kv, profile, Buckets / 6, gzipTiles = false))
    assert(after.map(_._1) == before.map(_._1), s"$name: tile ids or their order differ")
    assert(after == before, s"$name: un-gzipped MVT bytes differ")
  }

  test("output: tiles from the new bounds equal the old sampler's, byte for byte") {
    sameTiles("docs", docsKv, new Pipeline.GraftProfile(12, 12, 7))
    sameTiles("osm", Pipeline.renderedFromFeatures(osmFeatures, osmProfile), osmProfile)
  }

  // ------------------------------------------------------------- codegen

  test("RangeSteer: generated code picks the same partition as interpreted evaluation") {
    val rnd = new scala.util.Random(3)
    val bounds = Array.fill(60)(rnd.nextLong()).sorted.distinct
    val steer = TileAssembler.RangeSteer(BoundReference(0, LongType, nullable = false), bounds,
      TileAssembler.hashPreimages(bounds.length + 1))
    assert(!steer.isInstanceOf[CodegenFallback])
    val generated = GenerateUnsafeProjection.generate(Seq(steer))
    val keys = Seq(Long.MinValue, Long.MaxValue) ++ bounds ++ bounds.map(_ - 1) ++
      Seq.fill(5000)(rnd.nextLong())
    keys.foreach { k =>
      val row = InternalRow(k)
      assert(generated(row).getInt(0) == steer.eval(row), s"key $k")
    }
  }
}
