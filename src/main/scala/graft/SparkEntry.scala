package graft

import graft.engine._
import graft.geo.{Geo, Mercator, TileCoord}
import graft.model._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Driver contract: `queries` = one entry per implemented operator
 * (SURVEY.md §2), `oracleSql` = the DuckDB-runnable equivalent over the
 * same parquet tables. Column names and row order are aligned between
 * both sides.
 *
 * Geo queries run over the synthesized interleaved docs table
 * (see `engine/Docs.scala`); their oracles re-derive the expected
 * result arithmetically from the base tables, which cross-checks the
 * whole WKT->JTS->mercator->tile pipeline against an independent
 * derivation.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Deterministic total order for a SMALL (oracle-sized) result
    * without `orderBy`'s range exchange: RangePartitioner SAMPLES its
    * child to compute bounds, re-executing everything above the last
    * shuffle a second time — for the dedup gates that segment is the
    * expensive exact-verify join (r6 measured the orderBy form at ~2x
    * the noop cost of the same query). One shuffle to a single
    * partition + in-partition sort yields the identical global row
    * order (Verify coalesce(1)s the result anyway) at one execution.
    * Only for results bounded by the oracle's size, never for data. */
  private def sortedSmall(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** Scratch dir for gate fixtures that round-trip real files: prefer
    * tmpfs (/dev/shm, where the bench already points spark.local.dir)
    * over the disk-backed java.io.tmpdir — the q70 files-archive gate
    * writes+reads ~10^3 files and disk-sync jitter dominated its
    * measurement (2.2-8.1 s spread at sf0.1). Fixture CONTENT and the
    * query results are unchanged; only the scratch medium moves. */
  private def scratchDir(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, prefix)
    else java.nio.file.Files.createTempDirectory(prefix)
  }

  /** Flagship: full docs -> tiles pipeline on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val docs = Docs.docs(spark, dir)
    val profile = new Pipeline.GraftProfile(pointMaxZoom = 7, lineMaxZoom = 7, polyMaxZoom = 6)
    import spark.implicits._
    Pipeline.tiles(docs, profile, numPartitions = 8, gzipTiles = false)
      .groupBy($"z").agg(count(lit(1)).as("tiles"), sum($"feature_count").as("features"))
      .orderBy($"z")
  }

  // ---- shared oracle fragments (keep in sync with engine/Docs.scala) ----
  private val lonSql = "(CAST(o_orderkey * 9973 % 36000 AS DOUBLE) / 100.0 - 180.0)"
  private val latSql = "(CAST(o_orderkey * 7919 % 17000 AS DOUBLE) / 100.0 - 85.0)"
  // mercator world coords (same formula shape as geo/Mercator.scala)
  private def worldYSql(lat: String) =
    s"(0.5 - 0.25 * ln((1 + sin(radians($lat))) / (1 - sin(radians($lat)))) / pi())"
  private def worldXSql(lon: String) = s"(($lon + 180.0) / 360.0)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------- relational core (scan/filter/agg/join/window) ----------

    "q01_agg_pushdown" -> ((s, dir) => {
      // TPC-H Q1 shape: scan + filter pushdown + hash agg (partial map-side)
      t(s, dir, "lineitem")
        .where(col("l_shipdate") < lit("1998-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        // scaled-integer sums: per-row floor of the identical IEEE
        // expression on both engines, summed exactly as BIGINT — immune
        // to decimal-rendering differences in the gate's normalizer
        .agg(
          sum(floor(col("l_quantity"))).as("sum_qty"),
          sum(floor(col("l_extendedprice") * lit(100.0))).as("sum_price_c"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q02_broadcast_join" -> ((s, dir) => {
      // small-dim broadcast join chain: customer x nation x region
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("customers"),
          sum(floor(col("c_acctbal") * lit(100.0))).as("balance_c"))
        .orderBy(col("r_name"))
    }),

    "q03_shuffle_join_topn" -> ((s, dir) => {
      // large-large shuffle join + top-N
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(10000.0)))
          .as("revenue_c4"),
          count(lit(1)).as("items"))
        .orderBy(col("revenue_c4").desc, col("o_orderkey"))
        .limit(50)
    }),

    "q04_window_topk" -> ((s, dir) => {
      // top-3 orders per customer by price: window row_number (the
      // label-grid density-limit pattern, SURVEY §2.5)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"))
        .orderBy(col("o_custkey"), col("rk"), col("o_orderkey"))
    }),

    "q08_sql_frontend" -> ((s, dir) => {
      // SQL front end over the registered NATIVE expressions (world_x /
      // world_y implement doGenCode -> whole-stage codegen'd); oracle
      // recomputes mercator independently in DuckDB
      graft.functions.GeoFunctions.register(s)
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT
             CAST(FLOOR(world_x((o_orderkey * 9973 % 36000) / 100.0 - 180.0) * 64) AS INT) AS tx,
             CAST(FLOOR(world_y((o_orderkey * 7919 % 17000) / 100.0 - 85.0) * 64) AS INT) AS ty,
             COUNT(*) AS n
           FROM orders_v GROUP BY 1, 2 ORDER BY 1, 2""")
    }),

    "q09_bbox_pushdown" -> ((s, dir) => {
      // the spatial pushdown rule in the gate: st_contains_lonlat over
      // a polygon literal expands into range conjuncts that reach the
      // parquet scan as PushedFilters; the exact JTS covers() test
      // stays as the post-filter. Oracle mirrors the containment
      // arithmetic directly (rectangle off the coordinate grid, so no
      // boundary ambiguity).
      graft.functions.SpatialRules.install(s)
      val poly = graft.geo.Geo.fromWktOrNull(
        "POLYGON ((-90.005 -40.005, 60.005 -40.005, 60.005 50.005, -90.005 50.005, -90.005 -40.005))")
      val o = t(s, dir, "orders")
      val lon = (col("o_orderkey") * 9973 % 36000) / 100.0 - 180.0
      val lat = (col("o_orderkey") * 7919 % 17000) / 100.0 - 85.0
      o.select(col("o_orderkey"), lon.as("lon"), lat.as("lat"))
        .where(graft.functions.SpatialRules.st_contains_lonlat(
          lit(graft.geo.Geo.toWkb(poly)), col("lon"), col("lat")))
        .agg(count(lit(1)).as("inside"), sum(col("o_orderkey")).as("key_sum"))
    }),

    "q32_geojson_scan" -> ((s, dir) => {
      // GeoJSON reader through the gate: features generated from the
      // nation table -> NDJSON file -> readFeatures -> parsed coords;
      // the oracle recomputes the same coordinates arithmetically
      val rows = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
        .collect().sortBy(_.getInt(0))
      val lines = rows.map { r =>
        val k = r.getInt(0)
        val lon = (k.toLong * 9973 % 36000) / 100.0 - 180.0
        val lat = (k.toLong * 7919 % 17000) / 100.0 - 85.0
        s"""{"type":"Feature","id":"$k","geometry":{"type":"Point","coordinates":[$lon,$lat]},"properties":{"name":"${r.getString(1)}"}}"""
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_gj").resolve("n.ndjson")
      java.nio.file.Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      val docs = graft.sources.GeoJson.readFeatures(s, tmp.toString)
      import s.implicits._
      docs.map { d =>
        val wkt = d.spans.find(_.kind == "geom").get.text
        val c = graft.geo.Geo.fromWktOrNull(wkt).getCoordinate
        val name = d.spans.find(_.kind == "text").map(_.text.stripPrefix("name=")).getOrElse("")
        (d.doc_id, name, c.x, c.y)
      }.toDF("doc_id", "name", "lon", "lat").orderBy(col("doc_id"))
    }),

    "q39_geoparquet_scan" -> ((s, dir) => {
      // GeoParquet round-trip in the gate: orders -> WKB point file
      // written WITH the `geo` footer + bbox covering, read back
      // through the footer-driven reader with a bounds box — the
      // covering range predicates reach the parquet scan as
      // PushedFilters (asserted in GeoParquetSpec), the exact envelope
      // test keeps the result correct; oracle re-derives the
      // containment arithmetically (same box as q09, off-grid corners)
      import s.implicits._
      val pts = t(s, dir, "orders").select(col("o_orderkey"),
          ((col("o_orderkey") * 9973 % 36000) / 100.0 - 180.0).as("lon"),
          ((col("o_orderkey") * 7919 % 17000) / 100.0 - 85.0).as("lat"))
        .as[(Long, Double, Double)]
        .map { case (k, lon, lat) =>
          (k, graft.geo.Geo.toWkb(graft.geo.Geo.factory.createPoint(
            new org.locationtech.jts.geom.Coordinate(lon, lat))))
        }.toDF("okey", "geometry")
      val out = java.nio.file.Files.createTempDirectory("graft_gpq_gate").toString + "/pts"
      graft.sources.GeoParquet.write(pts, out, geometryTypes = Seq("Point"))
      graft.sources.GeoParquet.read(s, out,
          Some(graft.sources.GeoParquet.Bounds(-90.005, -40.005, 60.005, 50.005)))
        .agg(count(lit(1)).as("inside"), sum(col("okey")).as("key_sum"))
    }),

    "q41_geoarrow_scan" -> ((s, dir) => {
      // GeoArrow point encoding in the gate: orders -> struct<x,y>
      // parquet with the `geo` footer (encoding=point, NO bbox
      // column), bounds read prunes on the coordinate columns' own
      // stats; oracle identical containment arithmetic to q09/q39
      val pts = t(s, dir, "orders").select(col("o_orderkey").as("okey"),
        struct(
          ((col("o_orderkey") * 9973 % 36000) / 100.0 - 180.0).as("x"),
          ((col("o_orderkey") * 7919 % 17000) / 100.0 - 85.0).as("y")).as("geometry"))
      val out = java.nio.file.Files.createTempDirectory("graft_ga_gate").toString + "/pts"
      graft.sources.GeoParquet.write(pts, out, geometryTypes = Seq("Point"), encoding = "point")
      graft.sources.GeoParquet.read(s, out,
          Some(graft.sources.GeoParquet.Bounds(-90.005, -40.005, 60.005, 50.005)))
        .agg(count(lit(1)).as("inside"), sum(col("okey")).as("key_sum"))
    }),

    // ---------- geo: docs synthesis + projection + tile assignment ----------

    "q10_docs_shape" -> ((s, dir) => {
      // the interleaved docs table itself: per-source doc counts and
      // span-sequence integrity (offsets strictly 0..n-1 in order)
      Docs.docsTable(s, dir)
        .select(
          substring_index(col("doc_id"), "_", 1).as("src"),
          size(col("spans")).as("n_spans"),
          (col("spans") === array_sort(col("spans"),
            (l, r) => (l.getField("offset") - r.getField("offset")).cast("int")))
            .cast("int").as("ordered"))
        .groupBy(col("src"))
        .agg(count(lit(1)).as("docs"), sum(col("n_spans")).as("spans"),
          sum(col("ordered")).as("ordered_docs"))
        .orderBy(col("src"))
    }),

    "q11_tile_assign" -> ((s, dir) => {
      // point docs -> (zoom 7 tile x, y) through the real engine path:
      // WKT parse -> JTS -> mercator -> tile index. Oracle re-derives
      // the same tiles arithmetically in DuckDB.
      val sf = Docs.pointFeatures(s, dir)
      import s.implicits._
      sf.map { f =>
        val g = Geo.fromWkb(f.geom)
        val c = g.getCoordinate
        val z = 7
        (f.doc_id,
          Mercator.tileIndex(Mercator.worldX(c.x), z),
          Mercator.tileIndex(Mercator.worldY(c.y), z))
      }.toDF("doc_id", "tile_x", "tile_y")
        .orderBy(col("doc_id"))
    }),

    "q12_tiles_per_zoom" -> ((s, dir) => {
      // distinct covered tiles per zoom for the point layer (the
      // zoom-explode fan-out, SURVEY §2.3/§2.4 tile-cover join)
      val sf = Docs.pointFeatures(s, dir)
      import s.implicits._
      sf.flatMap { f =>
        val c = Geo.fromWkb(f.geom).getCoordinate
        (0 to 7).map { z =>
          (z, Mercator.tileIndex(Mercator.worldX(c.x), z).toLong * 100000 +
            Mercator.tileIndex(Mercator.worldY(c.y), z)) }
      }.toDF("z", "txy")
        .groupBy(col("z"))
        .agg(countDistinct(col("txy")).as("tiles"), count(lit(1)).as("points"))
        .orderBy(col("z"))
    }),

    "q13_pip_join" -> ((s, dir) => {
      // point-in-polygon: broadcast STRtree of admin rectangles, exact
      // covers() probe per partition; smallest containing poly id wins
      val sf = Docs.pointFeatures(s, dir)
      import s.implicits._
      val pts = sf.map { f =>
        val c = Geo.fromWkb(f.geom).getCoordinate
        (f.doc_id, c.x, c.y)
      }.toDF("doc_id", "lon", "lat")
      val polys = SpatialJoin.collectPolys(
        Docs.sourceFeatures(Docs.polygonDocs(s, dir)).toDF())
      SpatialJoin.pointInPolygon(pts, polys, left = true)
        .groupBy(col("poly_id"))
        .agg(count(lit(1)).as("points"))
        .orderBy(col("poly_id"))
    }),

    "q42_pip_partitioned" -> ((s, dir) => {
      // the BIG-BIG point-in-polygon path: grid-cell cogroup + per-cell
      // STRtree probe + smallest-id winner — must equal the broadcast
      // path, so the oracle is q13's arithmetic re-derivation
      val sf = Docs.pointFeatures(s, dir)
      import s.implicits._
      val pts = sf.map { f =>
        val c = Geo.fromWkb(f.geom).getCoordinate
        (f.doc_id, c.x, c.y)
      }.toDF("doc_id", "lon", "lat")
      val polysDf = Docs.sourceFeatures(Docs.polygonDocs(s, dir)).toDF()
      SpatialJoin.pointInPolygonPartitioned(pts, polysDf, gridZoom = 6, left = true)
        .where(col("poly_id").isNotNull)
        .groupBy(col("poly_id"))
        .agg(count(lit(1)).as("points"))
        .orderBy(col("poly_id"))
    }),

    "q60_point_buffer" -> ((s, dir) => {
      // the tile-buffer point filter: single-point features survive
      // iff inside [-buf, extent+buf] on both axes (buf = 4px = 64
      // tile units at extent 4096) — bounds the oracle replays exactly
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("long").as("ok"),
          col("l_linenumber").cast("int").as("ln"))
        .as[(Long, Int)]
      li.groupByKey(_._1 % 32).mapGroups { (grp, it) =>
        val feats = it.map { case (ok, ln) =>
          val x = ((ok * 17 + ln * 29) % 4352 - 128).toInt
          val y = ((ok * 23 + ln * 31) % 4352 - 128).toInt
          graft.engine.Mvt.LayerFeature.of(ok * 10 + ln, 1,
            graft.engine.Mvt.encodePoints(Array((x, y))), Map.empty)
        }.toSeq
        val kept = graft.engine.FeatureMerge.removePointsOutsideBuffer(feats, 4.0)
        val pts = kept.flatMap(f => graft.engine.Mvt.decodeCommands(1, f.commands).flatMap(_._2))
        (grp, kept.length.toLong, pts.map(_._1.toLong).sum, pts.map(_._2.toLong).sum)
      }.toDF("grp", "kept", "x_sum", "y_sum")
        .orderBy(col("grp"))
    }),

    "q59_layer_attr_stats" -> ((s, dir) => {
      // the tilejson vector_layers statistics operator: per (layer,
      // attr) type inference (mixed types collapse to String) + zoom
      // range rollup, with the value types known by construction so
      // the oracle can replay the inference in SQL
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("long").as("ok"),
          col("l_linenumber").cast("int").as("ln"),
          col("l_returnflag").as("rf"))
        .as[(Long, Int, String)]
      val specs = li.map { case (ok, ln, rf) =>
        val value = (ok % 3) match {
          case 0 => "true"
          case 1 => ok.toString
          case _ => s"v$ln"
        }
        graft.model.FeatureSpec(
          layer = s"l_$rf", geom = Array.emptyByteArray, id = ok,
          sortKey = 0, minzoom = ln % 5, maxzoom = ln % 5 + (ok % 4).toInt,
          attrs = Map(s"k${ln % 3}" -> value))
      }
      graft.engine.TileStats.layerAttrStats(specs)
        .select(col("layer"), col("key"), col("type"),
          col("minzoom").cast("long").as("minzoom"),
          col("maxzoom").cast("long").as("maxzoom"))
        .orderBy(col("layer"), col("key"))
    }),

    "q58_naturalearth_scan" -> ((s, dir) => {
      // Natural Earth theme-table scan through the gate: plain-WKB
      // GEOMETRY blobs in a sqlite table, written by the from-scratch
      // page writer, read by the b-tree parser
      import s.implicits._
      val rows = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
        .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
      def lonOf(k: Int) = (k.toLong * 9973 % 36000) / 100.0 - 180.0
      def latOf(k: Int) = (k.toLong * 7919 % 17000) / 100.0 - 85.0
      val path = java.nio.file.Files.createTempDirectory("graft_q58").resolve("ne.sqlite").toString
      graft.engine.SqliteWriter.write(path, Seq(graft.engine.SqliteWriter.Table(
        "ne_10m_populated_places",
        "CREATE TABLE ne_10m_populated_places (key TEXT, NAME TEXT, GEOMETRY BLOB)",
        rows.map { case (k, n) =>
          val wkb = graft.geo.Geo.toWkb(graft.geo.Geo.factory.createPoint(
            new org.locationtech.jts.geom.Coordinate(lonOf(k), latOf(k))))
          Array[Any]((k + 1L).toString, n, wkb)
        }.toSeq)))
      graft.sources.NaturalEarth.read(s, path, "ne_10m_populated_places")
        .select(col("attrs"), col("geom"))
        .as[(Map[String, String], Array[Byte])]
        .map { case (attrs, wkb) =>
          val c = graft.geo.Geo.fromWkb(wkb).getCoordinate
          (attrs("key").toLong, attrs("NAME"),
            math.round(c.x * 1e7), math.round(c.y * 1e7))
        }
        .toDF("id", "name", "lon_e7", "lat_e7")
        .orderBy(col("id"))
    }),

    "q57_geopackage_scan" -> ((s, dir) => {
      // GeoPackage through the gate: nation points written as a real
      // gpkg via the from-scratch SQLite page writer (meta tables +
      // GP geometry blobs), read back through the b-tree parser
      import s.implicits._
      val rows = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
        .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
      def lonOf(k: Int) = (k.toLong * 9973 % 36000) / 100.0 - 180.0
      def latOf(k: Int) = (k.toLong * 7919 % 17000) / 100.0 - 85.0
      val path = java.nio.file.Files.createTempDirectory("graft_q57").resolve("n.gpkg").toString
      graft.sources.GeoPackage.writePoints(path, "pts", Seq("key", "name"),
        rows.map { case (k, n) => (lonOf(k), latOf(k), Seq((k + 1L).toString, n)) }.toSeq)
      graft.sources.GeoPackage.read(s, path)
        .select(col("attrs"), col("geom"))
        .as[(Map[String, String], Array[Byte])]
        .map { case (attrs, wkb) =>
          val c = graft.geo.Geo.fromWkb(wkb).getCoordinate
          (attrs("key").toLong, attrs("name"),
            math.round(c.x * 1e7), math.round(c.y * 1e7))
        }
        .toDF("id", "name", "lon_e7", "lat_e7")
        .orderBy(col("id"))
    }),

    "q56_shapefile_scan" -> ((s, dir) => {
      // shapefile I/O through the gate: nation points written with the
      // from-scratch .shp/.dbf writer, read back through the parser,
      // coords integer-exact on the 1e-7 grid
      import s.implicits._
      val rows = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
        .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
      def lonOf(k: Int) = (k.toLong * 9973 % 36000) / 100.0 - 180.0
      def latOf(k: Int) = (k.toLong * 7919 % 17000) / 100.0 - 85.0
      val pts = rows.map { case (k, name) =>
        (lonOf(k), latOf(k), Seq((k + 1L).toString, name)) }.toSeq
      val base = java.nio.file.Files.createTempDirectory("graft_q56").resolve("n").toString
      graft.sources.Shapefile.writePoints(base, pts,
        Seq(("KEY", 6), ("NAME", 32)), s.sparkContext.hadoopConfiguration)
      graft.sources.Shapefile.read(s, base + ".shp")
        .select(col("attrs"), col("geom"))
        .as[(Map[String, String], Array[Byte])]
        .map { case (attrs, wkb) =>
          val c = graft.geo.Geo.fromWkb(wkb).getCoordinate
          (attrs("KEY").toLong, attrs("NAME"),
            math.round(c.x * 1e7), math.round(c.y * 1e7))
        }
        .toDF("id", "name", "lon_e7", "lat_e7")
        .orderBy(col("id"))
    }),

    "q55_ring_assembly" -> ((s, dir) => {
      // the multipolygon ring stitcher through the gate: each order's
      // outer rectangle and inner hole arrive as shuffled partial
      // chains; assembly must close both rings, nest the hole, and
      // reproduce the closed-form area (all coords are exact halves)
      import s.implicits._
      val orders = t(s, dir, "orders").select(col("o_orderkey").cast("long").as("grp"))
        .repartition(64)
        .as[Long]
      orders.map { ok =>
        val w = (2 + ok % 4).toDouble; val h = (2 + ok % 3).toDouble
        def c(x: Double, y: Double) = new org.locationtech.jts.geom.Coordinate(x, y)
        // outer ring as 4 edges, hole as 2 L-shaped chains
        val segs: Seq[Array[org.locationtech.jts.geom.Coordinate]] = Seq(
          Array(c(0, 0), c(w, 0)), Array(c(w, 0), c(w, h)),
          Array(c(w, h), c(0, h)), Array(c(0, h), c(0, 0)),
          Array(c(0.5, 0.5), c(1.5, 0.5), c(1.5, 1.5)),
          Array(c(1.5, 1.5), c(0.5, 1.5), c(0.5, 0.5)))
        // deterministic shuffle
        val mixed = segs.zipWithIndex.sortBy { case (_, i) => (i * 31 + ok) % 7 }.map(_._1)
        val g = graft.geo.RingAssembler.assemble(mixed)
        val poly = g.asInstanceOf[org.locationtech.jts.geom.Polygon]
        (ok, math.round(g.getArea), poly.getNumInteriorRing.toLong, 1L)
      }.toDF("grp", "area", "holes", "shells")
        .orderBy(col("grp"))
    }),

    "q54_marching_squares" -> ((s, dir) => {
      // raster vectorization through the gate: each order seeds a 9x9
      // binary DEM; marching squares (with the below-threshold padding
      // border) must produce polygons whose EXACT shoelace area and
      // boundary segment count match the per-cell case table — which
      // the oracle replays in SQL over a padded range-join grid.
      // Midpoint crossings are exact halves, so doubles are lossless.
      import s.implicits._
      // rebalance first: the small parquet arrives as one split, and
      // ~100us of vectorization per row would otherwise pin one core
      val orders = t(s, dir, "orders").select(col("o_orderkey").cast("long").as("grp"))
        .repartition(64)
        .as[Long]
      orders.map { ok =>
        val bits = (i: Int, j: Int) => (ok * 7 + i * 13 + j * 31) % 5 < 2
        val f = new Array[Float](81)
        for (j <- 0 until 9; i <- 0 until 9) f(j * 9 + i) = if (bits(i, j)) 100f else 0f
        val g = graft.raster.Raster.marchingSquares(f, 9, 9, 50.0)
        val rings = (0 until g.getNumGeometries).flatMap { k =>
          val p = g.getGeometryN(k).asInstanceOf[org.locationtech.jts.geom.Polygon]
          (p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN))
            .map(_.getCoordinates.length - 1)
        }
        (ok, math.round(g.getArea * 8), rings.sum.toLong)
      }.toDF("grp", "area_x8", "segs")
        .orderBy(col("grp"))
    }),

    "q53_merge_points" -> ((s, dir) => {
      // merge-points-to-multipoint through the gate: per tile group,
      // same-attrs point features collapse to ONE multipoint carrying
      // every input point (duplicates kept) and the smallest input id;
      // integer MVT grid makes the oracle a plain lineitem rollup
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("long").as("ok"),
          col("l_linenumber").cast("int").as("ln"),
          col("l_returnflag").as("flag"))
        .as[(Long, Int, String)]
      li.groupByKey(_._1 % 64).flatMapGroups { (grp, it) =>
        val feats = it.toSeq
          .map { case (ok, ln, flag) =>
            graft.engine.Mvt.LayerFeature.of(
              ok * 10 + ln, 1,
              graft.engine.Mvt.encodePoints(Array((
                ((ok * 7 + ln * 3) % 4096).toInt, ((ok * 11 + ln * 5) % 4096).toInt))),
              Map("f" -> flag))
          }.sortBy(_.id)
        graft.engine.FeatureMerge.mergeMultiPoint(feats).map { f =>
          val pts = graft.engine.Mvt.decodeCommands(1, f.commands).flatMap(_._2)
          (grp, f.attrsMap("f"), 1L, pts.length.toLong,
            pts.map(_._1.toLong).sum, pts.map(_._2.toLong).sum, f.id)
        }.iterator
      }.toDF("grp", "flag", "n_feats", "n_points", "x_sum", "y_sum", "min_id")
        .groupBy(col("grp"), col("flag"))
        .agg(sum(col("n_feats")).as("n_feats"), sum(col("n_points")).as("n_points"),
          sum(col("x_sum")).as("x_sum"), sum(col("y_sum")).as("y_sum"),
          min(col("min_id")).as("min_id"))
        .orderBy(col("grp"), col("flag"))
    }),

    "q51_line_merge" -> ((s, dir) => {
      // the graph line merger through the gate: each order's lineitem
      // chain arrives as shuffled, alternately reversed 2-point
      // segments; the merger must stitch exactly one polyline per
      // order with every vertex once. Sums are integer-exact on the
      // tile grid, so the oracle recomputes them from lineitem alone.
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("long").as("grp"),
          col("l_linenumber").cast("int").as("ln"))
        .withColumn("x", (col("ln") * 37 + pmod(col("grp"), lit(11)).cast("int")).cast("int"))
        .withColumn("y", pmod(col("grp") * 13 + col("ln") * 29, lit(3000)).cast("int"))
        .as[(Long, Int, Int, Int)]
      li.groupByKey(_._1).flatMapGroups { (g, it) =>
        // the synthetic lineitem carries duplicate (order, linenumber)
        // pairs — the chain is over distinct vertices
        val ps = it.toSeq.distinct.sortBy(_._2).map(p => (p._3, p._4))
        if (ps.length < 3) Iterator.empty
        else {
          val segs = ps.sliding(2).zipWithIndex.map { case (pair, i) =>
            val a = Array(pair.head, pair.last)
            if (i % 2 == 1) a.reverse else a
          }.toSeq
          // shuffle the segment order deterministically
          val mixed = segs.sortBy(seg => (seg.head._2 * 31 + seg.last._1) % 7)
          val merged = graft.engine.LineMerger.merge(mixed, graft.engine.LineMerger.Params())
          val vs = merged.flatten
          Iterator.single((g, merged.length.toLong, vs.length.toLong,
            vs.map(_._1.toLong).sum, vs.map(_._2.toLong).sum))
        }
      }.toDF("grp", "n_lines", "n_vertices", "x_sum", "y_sum")
        .orderBy(col("grp"))
    }),

    "q52_simplify_dp" -> ((s, dir) => {
      // Douglas-Peucker through the gate: each order's chain is a
      // "tent" (rise to an apex at linenumber 4, then fall), so DP at
      // tolerance 50 must keep exactly {first, apex, last} — the
      // split point is the global max-deviation vertex and both
      // flanks collapse as collinear. Oracle is closed-form.
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("long").as("grp"),
          col("l_linenumber").cast("int").as("ln"))
        .as[(Long, Int)]
      li.groupByKey(_._1).flatMapGroups { (g, it) =>
        // distinct linenumbers; the tent apex (ln=4) must be present
        // and interior, so {first, apex, last} is the provable DP
        // output whatever the gaps (each flank is a collinear subset,
        // and the apex is the unique max-deviation vertex >= tol)
        val lns = it.map(_._2).toSeq.distinct.sorted
        if (!(lns.contains(4) && lns.head < 4 && lns.last > 4)) Iterator.empty
        else {
          val coords = lns.map { ln =>
            new org.locationtech.jts.geom.Coordinate(
              ln * 100.0, (4 - math.abs(ln - 4)) * 100.0)
          }.toArray
          val kept = graft.geo.Simplify.douglasPeucker(coords, 50.0, ring = false)
          Iterator.single((g, kept.length.toLong,
            kept.map(c => math.round(c.x)).sum, kept.map(c => math.round(c.y)).sum))
        }
      }.toDF("grp", "kept", "x_sum", "y_sum")
        .orderBy(col("grp"))
    }),

    "q50_osmpbf_scan" -> ((s, dir) => {
      // OSM PBF through the gate: nation rows become tagged dense
      // nodes, regions become ways over their nations' nodes; written
      // to a PBF via the from-scratch encoder, read back through
      // format("osmpbf"), and reduced to integer-exact columns the
      // oracle recomputes arithmetically (coords at OSM's native
      // 1e-7-degree grid, so the round trip is lossless)
      val rows = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1)
      def lonOf(k: Int) = (k.toLong * 9973 % 36000) / 100.0 - 180.0
      def latOf(k: Int) = (k.toLong * 7919 % 17000) / 100.0 - 85.0
      val e0 = Array.empty[Long]; val s0 = Array.empty[String]
      val nodes = rows.map { case (k, name, _) =>
        graft.sources.OsmPbf.Entity("node", k + 1L, latOf(k), lonOf(k),
          Seq("name" -> name), e0, s0, e0, s0, 1, 0L, 0L, 0, "") }
      val ways = rows.groupBy(_._3).toSeq.sortBy(_._1).map { case (r, ns) =>
        graft.sources.OsmPbf.Entity("way", 1000L + r, Double.NaN, Double.NaN,
          Seq("name" -> s"region_$r"), ns.map(_._1 + 1L).sorted.toArray, s0, e0, s0, 1, 0L, 0L, 0, "") }
      val tmp = scratchDir("graft_q50").resolve("n.osm.pbf").toString
      graft.sources.OsmPbf.write(tmp, s.sparkContext.hadoopConfiguration,
        (nodes ++ ways).iterator, blockSize = 10)
      val df = s.read.format("osmpbf").load(tmp)
      val nullL = lit(null).cast("long")
      val nodesOut = df.where(col("kind") === "node").select(
        col("kind"), col("id"),
        try_element_at(col("tags"), lit("name")).as("name"),
        round(col("lon") * 1e7).cast("long").as("lon_e7"),
        round(col("lat") * 1e7).cast("long").as("lat_e7"),
        lit(0L).as("refs_n"), lit(0L).as("refs_sum"))
      val waysOut = df.where(col("kind") === "way").select(
        col("kind"), col("id"),
        try_element_at(col("tags"), lit("name")).as("name"),
        nullL.as("lon_e7"), nullL.as("lat_e7"),
        size(col("refs")).cast("long").as("refs_n"),
        aggregate(col("refs"), lit(0L), (a, x) => a + x).as("refs_sum"))
      nodesOut.unionByName(waysOut).orderBy(col("kind"), col("id"))
    }),

    "q61_relation_info" -> ((s, dir) => {
      // relation info on member ways through the FULL osm pipeline
      // (pbf write -> scan -> relation-info joins incl. super-relation
      // closure): supplier rows become padded ways, each way joins one
      // of 10 bus routes (role by parity), each route joins one of 3
      // super-routes; the oracle replays the membership arithmetic
      val rows = t(s, dir, "supplier").select(col("s_suppkey"))
        .collect().map(_.get(0).asInstanceOf[Number].intValue).sorted
      def lonOf(k: Long, i: Long) = ((k * 97 + i * 13) % 36000) / 100.0 - 180.0
      def latOf(k: Long, i: Long) = ((k * 61 + i * 7) % 17000) / 100.0 - 85.0
      val e0 = Array.empty[Long]; val s0 = Array.empty[String]
      val ways = rows.map { k =>
        graft.sources.OsmPbf.Entity("way", k.toLong, Double.NaN, Double.NaN,
          Seq("highway" -> "primary"), Array(3L * k, 3L * k + 1, 3L * k + 2),
          s0, e0, s0, 1, 0L, 0L, 0, "",
          refLats = Array(latOf(k, 0), latOf(k, 1), latOf(k, 2)),
          refLons = Array(lonOf(k, 0), lonOf(k, 1), lonOf(k, 2)))
      }
      val routes = (0 until 10).map { r =>
        val members = rows.filter(_ % 10 == r)
        graft.sources.OsmPbf.Entity("relation", 5000L + r, Double.NaN, Double.NaN,
          Seq("type" -> "route", "route" -> "bus", "ref" -> s"R$r"), e0,
          members.map(_ => "way").toArray, members.map(_.toLong).toArray,
          members.map(k => if (k % 2 == 0) "forward" else "").toArray, 1, 0L, 0L, 0, "")
      }
      val supers = (0 until 3).map { m =>
        val children = (0 until 10).filter(_ % 3 == m)
        graft.sources.OsmPbf.Entity("relation", 6000L + m, Double.NaN, Double.NaN,
          Seq("type" -> "route", "route" -> "bus", "ref" -> s"SR$m"), e0,
          children.map(_ => "relation").toArray, children.map(r => 5000L + r).toArray,
          children.map(_ => "").toArray, 1, 0L, 0L, 0, "")
      }
      val tmp = scratchDir("graft_q61").resolve("r.osm.pbf").toString
      graft.sources.OsmPbf.write(tmp, s.sparkContext.hadoopConfiguration,
        (ways ++ routes ++ supers).iterator, locationsOnWays = true)
      graft.engine.Osm.sourceFeatures(s.read.format("osmpbf").load(tmp))
        .toDF()
        .where(col("doc_id").startsWith("way/"))
        .select(col("span_sig").as("way_id"),
          size(col("relations")).as("n_rels"),
          array_join(transform(col("relations"),
            m => m.getField("rel_tags").getItem("ref")), ",").as("refs_csv"),
          array_join(transform(col("relations"), m => m.getField("role")), ",").as("roles_csv"))
        .orderBy(col("way_id"))
    }),

    "q63_vector_write_roundtrip" -> ((s, dir) => {
      // line + polygon-with-hole WRITERS round-tripped through their
      // own readers: per supplier row a 3-point polyline goes out via
      // Shapefile.writeGeoms (shape type 3) and a square-with-hole
      // polygon via GeoPackage.writeFeatures; both come back through
      // the DSv2 providers and reduce to integer-exact metrics the
      // oracle replays (coords integral; hole side s/4 and area
      // (15/16)s^2 are exact binary fractions, scaled x16)
      val ks = t(s, dir, "supplier").select(col("s_suppkey"))
        .collect().map(_.get(0).asInstanceOf[Number].longValue).sorted
      val gf = graft.geo.Geo.factory
      def c(x: Double, y: Double) = new org.locationtech.jts.geom.Coordinate(x, y)
      val lines = ks.map { k =>
        val a = (k % 60 - 30).toDouble; val b = (k % 30 - 15).toDouble
        (gf.createLineString(Array(c(a, b), c(a + 1, b), c(a + 1, b + 2)))
          : org.locationtech.jts.geom.Geometry, Seq(k.toString))
      }.toSeq
      val polys = ks.map { k =>
        val cx = (k % 10).toDouble; val cy = -(k % 7).toDouble
        val sz = (1 + k % 3).toDouble
        val shell = gf.createLinearRing(Array(
          c(cx, cy), c(cx + sz, cy), c(cx + sz, cy + sz), c(cx, cy + sz), c(cx, cy)))
        val q = sz / 4
        val hole = gf.createLinearRing(Array(
          c(cx + q, cy + q), c(cx + 2 * q, cy + q), c(cx + 2 * q, cy + 2 * q),
          c(cx + q, cy + 2 * q), c(cx + q, cy + q)))
        (graft.geo.Geo.toWkb(gf.createPolygon(shell, Array(hole))), Seq(k.toString))
      }.toSeq
      val tmp = scratchDir("graft_q63")
      val shpBase = tmp.resolve("lines").toString
      graft.sources.Shapefile.writeGeoms(shpBase, 3, lines, Seq(("k", 12)),
        s.sparkContext.hadoopConfiguration)
      val gpkgPath = tmp.resolve("polys.gpkg").toString
      graft.sources.GeoPackage.writeFeatures(gpkgPath, "polys", Seq("k"), polys, "POLYGON")
      import s.implicits._
      val lineOut = s.read.format("shapefile").load(shpBase + ".shp")
        .select(col("attrs").getItem("k").cast("long").as("k"), col("geom"))
        .as[(Long, Array[Byte])]
        .map { case (k, wkb) =>
          val g = graft.geo.Geo.fromWkb(wkb)
          ("line", k, g.getNumPoints,
            math.round(g.getCoordinates.map(_.x).sum),
            math.round(g.getCoordinates.map(_.y).sum))
        }
      val polyOut = s.read.format("geopackage").load(gpkgPath)
        .select(col("attrs").getItem("k").cast("long").as("k"), col("geom"))
        .as[(Long, Array[Byte])]
        .map { case (k, wkb) =>
          val g = graft.geo.Geo.fromWkb(wkb).asInstanceOf[org.locationtech.jts.geom.Polygon]
          ("poly", k, g.getNumPoints, math.round(g.getArea * 16), g.getNumInteriorRing.toLong)
        }
      lineOut.union(polyOut).toDF("kind", "k", "n_pts", "m1", "m2")
        .orderBy(col("kind"), col("k"))
    }),

    "q64_crs_reproject" -> ((s, dir) => {
      // projected-CRS ingestion through the gate: nation points with
      // closed-form lon/lat are FORWARD-projected to UTM zone 33N
      // metres at fixture time, written as a shapefile whose .prj
      // declares EPSG:32633 in WKT1, then read back through the
      // Shapefile -> Crs -> Proj path, which must invert the
      // Transverse Mercator series back to WGS84. The oracle replays
      // the ORIGINAL lon/lat arithmetic and never sees the projection,
      // so forward-then-inverse must be identity on the 1e-6 grid
      // (series round trip is ~3e-8 deg in-zone).
      import s.implicits._
      val rows = t(s, dir, "nation").select(col("n_nationkey"))
        .collect().map(_.get(0).asInstanceOf[Number].intValue).sorted
      def lonOf(k: Int) = 12.0 + (k.toLong * 7 % 60) / 10.0
      def latOf(k: Int) = 40.0 + (k.toLong * 13 % 200) / 10.0
      val utm33 = graft.geo.Proj.utm(33, north = true)
      val pts = rows.toSeq.map { k =>
        val (e, n) = utm33.proj.forward(lonOf(k), latOf(k))
        (e, n, Seq(k.toString))
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_q64")
      val base = tmp.resolve("utm").toString
      graft.sources.Shapefile.writePoints(base, pts, Seq(("KEY", 6)),
        s.sparkContext.hadoopConfiguration)
      val wkt = """PROJCS["WGS 84 / UTM zone 33N",GEOGCS["WGS 84",""" +
        """DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],""" +
        """PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],""" +
        """PROJECTION["Transverse_Mercator"],PARAMETER["latitude_of_origin",0],""" +
        """PARAMETER["central_meridian",15],PARAMETER["scale_factor",0.9996],""" +
        """PARAMETER["false_easting",500000],PARAMETER["false_northing",0],""" +
        """UNIT["metre",1]]"""
      java.nio.file.Files.write(tmp.resolve("utm.prj"), wkt.getBytes("UTF-8"))
      graft.sources.Shapefile.read(s, base + ".shp")
        .select(col("attrs"), col("geom"))
        .as[(Map[String, String], Array[Byte])]
        .map { case (attrs, wkb) =>
          val c = graft.geo.Geo.fromWkb(wkb).getCoordinate
          (attrs("KEY").toLong, math.round(c.x * 1e6), math.round(c.y * 1e6))
        }
        .toDF("id", "lon_e6", "lat_e6")
        .orderBy(col("id"))
    }),

    "q65_transliterate" -> ((s, dir) => {
      // CJK transliteration through the gate: a fixed cycle of
      // Hangul / Han / kana / Cyrillic / Greek names keyed by nation,
      // romanized executor-side by Language.transliterate; the oracle
      // replays the independently-known romanizations (official RR
      // city spellings, standard pinyin, Hepburn) as literals.
      import s.implicits._
      val names = Array("서울", "北京", "とうきょう", "평양",
        "上海", "さっぽろ", "Москва", "Αθήνα")
      t(s, dir, "nation").select(col("n_nationkey").cast("long").as("id"))
        .as[Long]
        .map(k => (k, graft.text.Language.transliterate(names((k % 8).toInt))))
        .toDF("id", "latin")
        .orderBy(col("id"))
    }),

    "q66_s2_cell_id" -> ((s, dir) => {
      // the from-scratch S2 index through the gate: per order, (face,
      // u, v) derive RATIONALLY (so every float op crossing the oracle
      // boundary — +, *, /, sqrt, floor — is IEEE-exact-rounded and
      // bit-identical in DuckDB), then the quadratic uv→st transform,
      // the 2^30 discretization, and the full 30-step Hilbert walk run
      // on the JVM; the oracle replays st/ij arithmetic plus the walk
      // as a 30-step recursive CTE over the same ij→pos/orientation
      // tables (q49 precedent, but on the cube-face curve with the S2
      // swap/invert orientation algebra). pos is the 60-bit leaf curve
      // position; ppos its level-(k%31) ancestor prefix.
      import s.implicits._
      t(s, dir, "orders").select(col("o_orderkey").cast("long").as("k")).as[Long]
        .map { k =>
          val face = (k % 6).toInt
          val u = ((k * 31 % 2001) - 1000) / 1000.0
          val v = ((k * 17 % 2001) - 1000) / 1000.0
          val i = graft.geo.S2.stToIj(graft.geo.S2.uvToSt(u))
          val j = graft.geo.S2.stToIj(graft.geo.S2.uvToSt(v))
          val id = graft.geo.S2.fromFaceIj(face, i, j)
          val lvl = (k % 31).toInt
          (k, graft.geo.S2.face(id).toLong, i.toLong, j.toLong,
            graft.geo.S2.pos(id), lvl.toLong,
            graft.geo.S2.pos(id) >>> (2 * (30 - lvl)))
        }
        .toDF("k", "face", "i", "j", "pos", "lvl", "ppos")
        .orderBy(col("k"))
    }),

    "q67_s2_radius_join" -> ((s, dir) => {
      // pole-safe distributed radius join: order points vs the q14
      // site lattice, bucketed by S2 cap covers (one cell-equi-join
      // shuffle + exact haversine verify — no broadcast, no cartesian).
      // The oracle replays the haversine cross join directly.
      val pts = t(s, dir, "orders").select(col("o_orderkey").cast("long").as("k"),
        ((col("o_orderkey") * 9973 % 36000) / 100.0 - 180.0).as("lon"),
        ((col("o_orderkey") * 7919 % 17000) / 100.0 - 85.0).as("lat"))
      val sites = s.range(0, 25).select(
        format_string("site_%02d", col("id")).as("site_id"),
        ((col("id") % 5) * 72.0 - 144.0).as("lon"),
        (floor(col("id") / 5) * 34.0 - 68.0).as("lat"))
      graft.engine.SpatialJoin.radiusJoinS2(pts, sites, 2.0e6)
        .groupBy(col("site_id"))
        .agg(count(lit(1)).as("points"), sum(col("k")).cast("long").as("key_sum"))
        .orderBy(col("site_id"))
    }),

    "q68_s2_nearest_join" -> ((s, dir) => {
      // distributed nearest-site (no broadcast): expanding S2
      // cap-cover rounds with per-point min by (haversine, site_id);
      // max-radius cutoff leaves distant points unmatched. Oracle:
      // rank the cross join by the same (distance, id) and keep rk=1
      // within the cutoff.
      val pts = t(s, dir, "orders").select(col("o_orderkey").cast("long").as("k"),
        ((col("o_orderkey") * 9973 % 36000) / 100.0 - 180.0).as("lon"),
        ((col("o_orderkey") * 7919 % 17000) / 100.0 - 85.0).as("lat"))
      val sites = s.range(0, 25).select(
        format_string("site_%02d", col("id")).as("site_id"),
        ((col("id") % 5) * 72.0 - 144.0).as("lon"),
        (floor(col("id") / 5) * 34.0 - 68.0).as("lat"))
      graft.engine.SpatialJoin.nearestSiteS2(pts, sites, idCol = "k",
          startRadiusMeters = 1.5e6, maxRadiusMeters = 3.0e6)
        .groupBy(col("site_id"))
        .agg(count(lit(1)).as("points"), sum(col("k")).cast("long").as("key_sum"))
        .orderBy(col("site_id"))
    }),

    "q62_loop_line_merge" -> ((s, dir) => {
      // the LoopLineMerger's HARD paths (loop breaking + stub removal +
      // cascading re-merge + closed-loop collection) on a closed-form
      // fixture per supplier row: junctions A and B (each pinned by a
      // long anchor spur) connected by a straight path (length L) and
      // a detour (L+2h), a variable hair stub at B (length st), and a
      // detached square ring (perimeter 4*rs). loopMinLength=500
      // breaks the A-B loop iff L+2h <= 500 (shortest path wins);
      // stubMinLength=12 removes the hair iff st < 12 (after which B
      // drops to degree 2 and the cascade re-merges through it); the
      // ring always survives as one closed line. Every outcome (count,
      // total length, closed count, vertex count) is exact integer
      // arithmetic the oracle replays.
      import s.implicits._
      t(s, dir, "supplier").select(col("s_suppkey").cast("long").as("k"))
        .as[Long]
        .map { k =>
          val L = (100 + (k % 7) * 50).toInt
          val h = (20 + (k % 5) * 10).toInt
          val st = (5 + (k % 4) * 5).toInt
          val rs = (40 + (k % 3) * 20).toInt
          val lines = Seq(
            Array((0, 0), (L, 0)),
            Array((0, 0), (0, h), (L, h), (L, 0)),
            Array((0, 0), (-50, 0)), // anchor spur keeps A a junction
            Array((L, 0), (L + 60, 0)), // anchor spur keeps B a junction
            Array((L, 0), (L, -st)),
            Array((1000, 1000), (1000 + rs, 1000), (1000 + rs, 1000 + rs),
              (1000, 1000 + rs), (1000, 1000)))
          val out = graft.engine.LineMerger.merge(lines,
            graft.engine.LineMerger.Params(loopMinLength = 500, stubMinLength = 12))
          val totalLen = out.map(_.sliding(2).map { w =>
            math.hypot((w(1)._1 - w(0)._1).toDouble, (w(1)._2 - w(0)._2).toDouble)
          }.sum).sum
          (k, out.length, math.round(totalLen),
            out.count(l => l.head == l.last), out.map(_.length).sum)
        }
        .toDF("k", "n_lines", "total_len", "n_closed", "n_pts")
        .orderBy(col("k"))
    }),

    "q49_hilbert" -> ((s, dir) => {
      // the archive addressing function itself: the codegen'd Hilbert
      // index over the full 64x64 grid vs a recursive-CTE replay of
      // the rotate/flip walk in DuckDB (bitwise-exact)
      import graft.functions.GeoFunctions.hilbert_index
      val xs = s.range(64).select(col("id").cast("int").as("x"))
      val ys = s.range(64).select(col("id").cast("int").as("y"))
      xs.crossJoin(ys)
        .select(col("x"), col("y"), hilbert_index(lit(6), col("x"), col("y")).as("h"))
        .orderBy(col("x"), col("y"))
    }),

    "q48_sortkey" -> ((s, dir) => {
      // the shuffle meta key (layer | biased sortKey | featureId low
      // bits, reference FeatureGroup.java:168-196) incl. range
      // CLAMPING and the descending-reflection bijection, against the
      // bit-layout arithmetic replayed exactly in DuckDB
      import s.implicits._
      t(s, dir, "lineitem")
        .select((col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("k"),
          pmod(col("l_suppkey"), lit(8)).cast("int").as("layer"),
          ((col("l_partkey") - 100000) * 37).cast("int").as("sk"),
          (col("l_orderkey") * 1000003L).cast("long").as("fid"))
        .as[(Long, Int, Int, Long)]
        .map { case (k, layer, sk, fid) =>
          (k, graft.engine.KvCodec.packMeta(layer, sk, fid),
            graft.engine.KvCodec.packMeta(layer,
              graft.engine.KvCodec.descendingSortKey(sk), fid))
        }
        .toDF("k", "meta", "meta_desc")
        .orderBy(col("k"))
    }),

    "q47_encoding" -> ((s, dir) => {
      // wire-format primitives straight from the engine (MVT zigzag,
      // protobuf varint byte length, FNV-1a 64 content hash) against
      // pure-arithmetic oracles — FNV replayed in DuckDB via HUGEINT
      // mod-2^64, compared as unsigned decimal strings
      import graft.functions.TextExprs.{fnv1a64, varintLen, zigzag32}
      t(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("k"),
          when(col("s_suppkey") % 2 === 0, col("s_suppkey"))
            .otherwise(-col("s_suppkey")).cast("int").as("v"),
          col("s_name"))
        .select(col("k"),
          zigzag32(col("v")).as("zz"),
          varintLen(zigzag32(col("v")).cast("long")).as("vlen"),
          conv(hex(fnv1a64(col("s_name"))), 16, 10).as("fnv"))
        .orderBy(col("k"))
    }),

    "q45_relation_closure" -> ((s, dir) => {
      // super-relation transitive closure (iterative broadcast
      // self-join, cycle guard): a decimal-division forest from orders
      // PLUS a deliberate 25-node cycle from nation — the closure must
      // terminate and count every reachable ancestor exactly once
      val tree = t(s, dir, "orders").select(
        col("o_orderkey").as("member_id"),
        expr("o_orderkey div 10").as("relation_id"))
      val cycle = t(s, dir, "nation").select(
        (col("n_nationkey") + 1000000L).as("member_id"),
        (pmod(col("n_nationkey") + 1, lit(25)).cast("long") + 1000000L).as("relation_id"))
      graft.engine.Relations.transitiveClosure(tree.unionByName(cycle), maxDepth = 30)
        .select(col("member_id"), col("ancestor_id")).distinct()
        .groupBy(col("ancestor_id"))
        .agg(count(lit(1)).as("members"))
        .orderBy(col("ancestor_id"))
    }),

    "q46_wikidata_join" -> ((s, dir) => {
      // wikidata translations: broadcast dim join filling name:xx tags
      // where the feature doesn't already carry one (existing wins)
      import graft.functions.GeoFunctions.st_geomfromtext
      import s.implicits._
      val base = t(s, dir, "supplier").select(
        concat(lit("s_"), col("s_suppkey")).as("doc_id"),
        lit("sup").as("source"),
        st_geomfromtext(lit("POINT (0 0)")).as("geom"),
        when(col("s_suppkey") % 3 === 0,
          map(lit("wikidata"), concat(lit("Q"), pmod(col("s_suppkey"), lit(50))),
            lit("name:fr"), concat(lit("local_"), col("s_suppkey"))))
          .otherwise(map(lit("wikidata"), concat(lit("Q"), pmod(col("s_suppkey"), lit(50)))))
          .as("tags"),
        lit(0L).as("span_sig"),
        typedLit(Seq.empty[graft.model.RelMember]).as("relations"))
        .as[graft.model.SourceFeature]
      val translations = s.range(50).select(
        concat(lit("Q"), col("id")).as("qid"),
        map(lit("fr"), concat(lit("fr_"), col("id")),
          lit("de"), concat(lit("de_"), col("id"))).as("names"))
      graft.engine.Wikidata.attachTranslations(base, translations)
        .toDF()
        .select(col("doc_id"),
          col("tags").getItem("name:fr").as("name_fr"),
          col("tags").getItem("name:de").as("name_de"))
        .orderBy(col("doc_id"))
    }),

    "q44_way_split" -> ((s, dir) => {
      // ways from lineitem (way = order, nodes = partkeys in
      // linenumber order) split at nodes shared by >=2 ways — puts an
      // exact SQL oracle on the DISTRIBUTED WaySplitter: per way,
      // segments = 1 + interior shared positions, and every cut
      // duplicates its node across the two segments
      val ways = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("way_id"))
        .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_partkey")))).as("ln"))
        .select(col("way_id"), expr("transform(ln, x -> x.l_partkey)").as("nodes"))
      graft.engine.WaySplitter.splitAtSharedNodes(ways)
        .groupBy(col("way_id"))
        .agg(count(lit(1)).as("segs"), sum(size(col("nodes"))).as("seg_nodes"))
        .orderBy(col("way_id"))
    }),

    "q43_crs_transform" -> ((s, dir) => {
      // EPSG:3857 -> 4326 inverse (the Crs reproject that Shapefile/
      // GeoPackage inputs go through), as a codegen'd expression over
      // forward-projected synthetic coords; the oracle mirrors the
      // identical closed form in DuckDB, rounded to 1e-6 degrees
      import graft.functions.GeoFunctions.{merc_to_lat, merc_to_lon}
      val R = graft.geo.Crs.EarthRadius
      t(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          ((col("o_orderkey") * 9973 % 36000).cast("double") / 100.0 - 180.0).as("lon0"),
          ((col("o_orderkey") * 7919 % 17000).cast("double") / 100.0 - 85.0).as("lat0"))
        .select(col("k"),
          (col("lon0") * math.Pi / 180.0 * R).as("mx"),
          (log(tan(lit(math.Pi / 4) + col("lat0") * math.Pi / 360.0)) * R).as("my"))
        .select(col("k"),
          round(merc_to_lon(col("mx")), 6).as("lon"),
          round(merc_to_lat(col("my")), 6).as("lat"))
        .orderBy(col("k"))
    }),

    "q14_knn_join" -> ((s, dir) => {
      // nearest admin-cell center per point (broadcast site index,
      // expanding-ring STRtree probe; ties by (distance, site_id))
      val sf = Docs.pointFeatures(s, dir)
      import s.implicits._
      val pts = sf.map { f =>
        val c = Geo.fromWkb(f.geom).getCoordinate
        (f.doc_id, c.x, c.y)
      }.toDF("doc_id", "lon", "lat")
      val sites = (0 until 25).map { i =>
        SpatialJoin.Site(f"site_$i%02d", (i % 5) * 72.0 - 144.0, (i / 5) * 34.0 - 68.0)
      }.toArray
      SpatialJoin.nearestSite(pts, sites, startRadius = 40.0)
        .groupBy(col("site_id"))
        .agg(count(lit(1)).as("points"))
        .orderBy(col("site_id"))
    }),

    "q15_waynode_join" -> ((s, dir) => {
      // ordered way<-node assembly through the docs path: parse each
      // line doc's LINESTRING and report vertex count + first/last
      // coords; oracle rebuilds the same from lineitem (ordered
      // large-large join, SURVEY §2.4 row 1)
      val sf = Docs.lineFeatures(s, dir)
      import s.implicits._
      sf.map { f =>
        val g = Geo.fromWkb(f.geom)
        val cs = g.getCoordinates
        (f.doc_id, cs.length, cs.head.x, cs.head.y, cs.last.x, cs.last.y)
      }.toDF("doc_id", "n_pts", "x0", "y0", "x1", "y1")
        .orderBy(col("doc_id"))
    }),

    // ---------- relational: semi/anti joins, distinct agg, rollup ----------

    "q05_anti_semi_join" -> ((s, dir) => {
      // orders without any high-quantity lineitem (anti) + orders with
      // at least one (semi), per orderpriority
      val o = t(s, dir, "orders")
      val big = t(s, dir, "lineitem").where(col("l_quantity") >= 45)
      val anti = o.join(big, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("without_big"))
      val semi = o.join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("with_big"))
      anti.join(semi, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          coalesce(col("without_big"), lit(0L)).as("without_big"),
          coalesce(col("with_big"), lit(0L)).as("with_big"))
        .orderBy(col("o_orderpriority"))
    }),

    "q06_distinct_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("suppliers"),
          countDistinct(col("l_partkey")).as("parts"),
          count(lit(1)).as("rows"))
        .orderBy(col("l_returnflag"))
    }),

    "q07_rollup" -> ((s, dir) => {
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"))
        .orderBy(col("status"), col("priority"))
    }),

    // ---------- embeddings: similarity search ----------

    "q16_knn_bruteforce" -> ((s, dir) => {
      // exact cosine top-5 for query vectors 0..9 (broadcast queries,
      // one corpus pass, window top-k)
      graft.ann.Ann.bruteForceTopK(t(s, dir, "embeddings"), 0L to 9L, 5)
        .orderBy(col("qid"), col("rank"))
    }),

    "q17_embedding_norms" -> ((s, dir) => {
      // per-label L2 norm extremes (order-independent aggregates; norms
      // rounded so both engines agree at 1e-6)
      val v = t(s, dir, "embeddings")
        .select(col("label"),
          round(sqrt(aggregate(col("embedding").cast("array<double>"),
            lit(0.0d), (acc, x) => acc + x * x)), 6).as("norm"))
      v.groupBy(col("label"))
        .agg(count(lit(1)).as("n"), min(col("norm")).as("min_norm"),
          max(col("norm")).as("max_norm"))
        .orderBy(col("label"))
    }),

    "q18_ann_lsh" -> ((s, dir) => {
      // multi-probe LSH ANN over deterministic literal hyperplanes —
      // the oracle recomputes the same signatures from the same plane
      // constants, so the approximate result is exactly checkable
      graft.ann.Ann.lshTopK(t(s, dir, "embeddings"), 0L to 9L, 5, planes = 6)
        .orderBy(col("qid"), col("rank"))
    }),

    "q19_ann_ivf" -> ((s, dir) => {
      graft.ann.Ann.ivfTopK(t(s, dir, "embeddings"), 0L to 9L, 5, cells = 8, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    }),

    // ---------- text / dedup over documents ----------

    "q20_exact_dedup" -> ((s, dir) => {
      // exact dedup by content hash: duplicate groups + survivors
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("copies"), min(col("doc_id")).as("canonical"))
        .where(col("copies") > 1)
        .orderBy(col("canonical"))
    }),

    "q21_token_stats" -> ((s, dir) => {
      // whitespace tokenization + per-language aggregates
      t(s, dir, "documents")
        .select(col("lang"),
          size(split(col("text"), " ")).as("tokens"),
          length(col("text")).as("chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("tokens")).as("total_tokens"),
          max(col("tokens")).as("max_tokens"), min(col("chars")).as("min_chars"))
        .orderBy(col("lang"))
    }),

    "q22_quality_score" -> ((s, dir) => {
      // quality heuristics: distinct-token ratio buckets
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("tokens"),
          size(array_distinct(split(col("text"), " "))).as(("distinct_tokens")))
      d.select(col("doc_id"),
          floor(col("distinct_tokens") * 10.0 / col("tokens")).cast("long").as("uniq_decile"))
        .groupBy(col("uniq_decile"))
        .agg(count(lit(1)).as("docs"))
        .orderBy(col("uniq_decile"))
    }),

    "q23_ngram_jaccard" -> ((s, dir) => {
      // exact token-set similarity join: posting-list candidates +
      // integer-exact threshold (c*5 >= 4*union <=> jaccard >= 0.8)
      sortedSmall(graft.dedup.Dedup.ngramJaccardPairs(t(s, dir, "documents"), 4, 5),
        col("da"), col("db"))
    }),

    "q24_minhash_lsh" -> ((s, dir) => {
      // MinHash+LSH near-dup pairs at jaccard >= 0.5 over 3-gram
      // shingles. 32 bands x 2 rows: every qualifying pair in the
      // corpus (all j >= 0.8) collides with p > 1 - 1e-14, so the
      // LSH output equals the oracle's exact brute-force join.
      sortedSmall(graft.dedup.Dedup.minhashLshPairs(t(s, dir, "documents"),
          shingleN = 3, k = 64, bands = 32, num = 1, den = 2),
        col("da"), col("db"))
    }),

    "q25_simhash" -> ((s, dir) => {
      // SimHash near-dups at hamming <= 6: 7-block pigeonhole over the
      // portable 60-bit signature — exact recall by construction, so
      // the DuckDB brute-force oracle must match bit for bit
      graft.dedup.Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 6)
        .orderBy(col("da"), col("db"))
    }),

    "q26_embedding_dedup" -> ((s, dir) => {
      // embedding-cosine near-dup pairs >= 0.95 via 16x4 banded
      // hyperplane LSH (miss probability < 1e-7 at the threshold);
      // oracle is the exact all-pairs cosine join
      sortedSmall(graft.dedup.Dedup.embeddingCosinePairs(t(s, dir, "embeddings"), 0.95,
          bands = 16, rowsPerBand = 4),
        col("da"), col("db"))
    }),

    "q27_lang_quality" -> ((s, dir) => {
      // language-ID heuristic + quality deciles in ONE native JVM pass
      // per row (LangQualityExpr) — same IEEE arithmetic, same
      // tie-breaks as the Column formulation in graft.text.Text (the
      // spec asserts parity), ~30x the interpreted-lambda version
      t(s, dir, "documents")
        .select(graft.functions.TextExprs.langQuality(col("text")).as("lq"))
        .select(col("lq.lang_pred").as("lang_pred"), col("lq.q_decile").as("q_decile"))
        .groupBy(col("lang_pred"), col("q_decile"))
        .agg(count(lit(1)).as("docs"))
        .orderBy(col("lang_pred"), col("q_decile"))
    }),

    "q28_fingerprint" -> ((s, dir) => {
      // order-sensitive rolling fingerprints (portable md5 chain —
      // mirrored 1:1 by DuckDB list_reduce): identical docs share
      // fingerprints; distinct-count per source proves order
      // sensitivity. The distinct aggregation runs over a 60-bit
      // truncation of the chain (conv of the first 15 hex chars,
      // identical on the oracle side) so the distinct shuffle carries
      // 8-byte longs instead of 32-char strings.
      t(s, dir, "documents")
        .select(col("source"),
          conv(substring(graft.functions.TextExprs.md5ChainFingerprint(col("text")), 1, 15),
            16, 10).cast("long").as("fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"), countDistinct(col("fp")).as("distinct_fp"))
        .orderBy(col("source"))
    }),

    "q29_media_features" -> ((s, dir) => {
      // multimodal plumbing: media refs -> synthetic payloads ->
      // partition-wise feature extraction (decode STUBBED, see mm/)
      val docs = Docs.docsTable(s, dir)
      val refs = docs.select(explode(col("spans")).as("s"))
        .select(col("s.media_ref").as("media_ref"))
        .where(col("media_ref").isNotNull)
      val media = graft.mm.Multimodal.synthesizeMedia(refs)
      graft.mm.Multimodal.extractFeatures(media)
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"), max(size(col("feature"))).as("dim"))
        .orderBy(col("kind"))
    }),

    "q33_tile_stats" -> ((s, dir) => {
      // per-zoom tile/feature counts over the REAL pipeline output
      // (slice -> shuffle -> assemble); the oracle re-derives the same
      // counts arithmetically from the admin-rectangle tile cover with
      // the engine's buffered-clip + extent-4096 quantization rule.
      // (Byte-size stats stay in TileStats.perZoom — engine-specific.)
      val tiles = Pipeline.tiles(Docs.polygonDocs(s, dir),
        new Pipeline.GraftProfile(6, 6, 6), 8, gzipTiles = false)
      tiles.groupBy(col("z"))
        .agg(count(lit(1)).as("tiles"), sum(col("feature_count")).as("features"))
        .orderBy(col("z"))
    }),

    "q34_config_profile" -> ((s, dir) => {
      // declarative JSON profile -> full pipeline (custommap analog)
      val config =
        """{"layers": [
             {"name": "f_orders", "geometry": "point", "minzoom": 0, "maxzoom": 5,
              "filter": {"matchAny": {"field": "text", "values": ["order F%"]}},
              "attrs": [{"key": "t", "tag": "text"}]},
             {"name": "routes", "geometry": "line", "minzoom": 2, "maxzoom": 3,
              "filter": true}
           ]}"""
      val profile = graft.dsl.ConfigProfile.compile(config)
      val tiles = Pipeline.tiles(Docs.docsTable(s, dir), profile, 8, gzipTiles = false)
      tiles.groupBy(col("z"))
        .agg(count(lit(1)).as("tiles"), sum(col("feature_count")).as("features"))
        .orderBy(col("z"))
    }),

    "q40_yaml_profile" -> ((s, dir) => {
      // YAML (custommap-dialect) front end in the gate: anchors +
      // merge keys + include_when compile to the SAME profile as q34's
      // JSON config (oracle identical), and the schema's own
      // `examples:` block must validate before the pipeline runs —
      // the reference's BaseSchemaValidator harness as a gate step
      val yamlConfig =
        """schema_name: graft gate profile
          |defaults: &lowzoom
          |  min_zoom: 0
          |  max_zoom: 5
          |layers:
          |- id: f_orders
          |  features:
          |  - geometry: point
          |    <<: *lowzoom
          |    include_when:
          |      text: order F%
          |    attributes:
          |    - key: t
          |      tag: text
          |- id: routes
          |  features:
          |  - geometry: line
          |    min_zoom: 2
          |    max_zoom: 3
          |examples:
          |- name: F order kept with text attr
          |  input: {geometry: point, tags: {text: order F 1-URGENT}}
          |  output:
          |  - layer: f_orders
          |    geometry: point
          |    min_zoom: 0
          |    max_zoom: 5
          |    tags: {t: order F 1-URGENT}
          |- name: non-F order dropped
          |  input: {geometry: point, tags: {text: order O 5-LOW}}
          |- name: lines map to routes
          |  input: {geometry: line, tags: {}}
          |  output: [{layer: routes, geometry: line, min_zoom: 2, max_zoom: 3}]
          |""".stripMargin
      val check = graft.dsl.SchemaValidator.validate(yamlConfig)
      require(check.ok, s"schema examples failed:\n${check.report}")
      val profile = graft.dsl.ConfigProfile.compileYaml(yamlConfig)
      val tiles = Pipeline.tiles(Docs.docsTable(s, dir), profile, 8, gzipTiles = false)
      tiles.groupBy(col("z"))
        .agg(count(lit(1)).as("tiles"), sum(col("feature_count")).as("features"))
        .orderBy(col("z"))
    }),

    "q35_parse_functions" -> ((s, dir) => {
      // forgiving tag parsers, reference-exact semantics: direction's
      // word values are NOT recognized ("backward" -> 0), bool is a
      // blocklist ("ok" -> true), meters handles feet'inches", and
      // wayzorder uses the imposm3 rank table with railway fallback.
      // meters is emitted as round-half-up millimeters so the oracle
      // compare is immune to decimal-vs-binary literal arithmetic.
      import graft.functions.Parse
      val k = col("s_suppkey")
      val dirIn = element_at(array(lit("-1"), lit("yes"), lit("true"),
        lit("backward"), lit("2")), (k % 5 + 1).cast("int"))
      val v = (k % 7).cast("string")
      val mIn = element_at(array(v, concat(v, lit(" m")), concat(v, lit("km")),
        concat(v, lit(" mi")), concat(v, lit("'6\"")), lit("garbage")),
        (k % 6 + 1).cast("int"))
      val bIn = element_at(array(lit("no"), lit("ok"), lit("No"), lit("")),
        (k % 4 + 1).cast("int"))
      val wzIn = from_json(element_at(array(
        lit("{}"),
        lit("""{"layer":"1","highway":"motorway"}"""),
        lit("""{"highway":"tertiary"}"""),
        lit("""{"highway":"tertiary_link"}"""),
        lit("""{"railway":"rail"}"""),
        lit("""{"highway":"footway","railway":"tram"}"""),
        lit("""{"highway":"residential","tunnel":"yes"}"""),
        lit("""{"highway":"trunk","bridge":"true","layer":"-1"}""")),
        (k % 8 + 1).cast("int")),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType))
      val lnIn = element_at(array(lit("123.123"), lit("-42"), lit("false")),
        (k % 3 + 1).cast("int"))
      t(s, dir, "supplier")
        .select(k,
          Parse.direction(dirIn).as("dir"),
          floor(Parse.meters(mIn) * 1000.0 + 0.5).cast("long").as("m_mm"),
          Parse.bool(bIn).as("b"),
          Parse.wayzorder(wzIn).as("wz"),
          Parse.longOrNull(lnIn).as("ln"))
        .orderBy(k)
    }),

    "q38_salted_agg" -> ((s, dir) => {
      // explicit skew salting: two-phase (key, salt) aggregation —
      // result provably identical to the direct groupBy (the oracle IS
      // the direct groupBy)
      import graft.engine.Salt
      Salt.aggregate(t(s, dir, "lineitem"), Seq("l_returnflag"),
          Seq(Salt.sumOf(floor(col("l_quantity")), "qty"),
            Salt.countAll("n"),
            Salt.maxOf(col("l_partkey"), "max_part")),
          buckets = 16)
        .orderBy(col("l_returnflag"))
    }),

    "q37_dup_clusters" -> ((s, dir) => {
      // near-dup pairs -> connected components -> dedup groups, each
      // labeled by its smallest member (the canonical survivor). The
      // oracle recomputes components with a recursive CTE over the
      // exact jaccard pair list.
      val pairs = graft.dedup.Dedup.minhashLshPairs(t(s, dir, "documents"),
        shingleN = 3, k = 64, bands = 32, num = 1, den = 2)
      graft.dedup.Dedup.duplicateClusters(pairs)
        .groupBy(col("label").as("cluster"))
        .agg(count(lit(1)).as("members"), max(col("id")).as("max_member"))
        .orderBy(col("cluster"))
    }),

    "q36_cel_attrs" -> ((s, dir) => {
      // CEL-style inline computed attributes (the custommap `${...}`
      // analog) evaluated as a Catalyst expression: string methods,
      // arithmetic, ternary/coalesce, and compile-time constant folding
      import graft.functions.ScriptFunctions.cel_eval
      t(s, dir, "supplier")
        .select(col("s_suppkey"),
          cel_eval(lit("${ feature.tags.name.replace('Supplier#', 'S') + '/' + string(feature.id % 7) }"),
            map(lit("name"), col("s_name")), col("s_suppkey"), lit("supplier")).as("computed"),
          cel_eval(lit("${ feature.id % 2 == 0 ? 'even' : coalesce(feature.tags.missing, 'odd') }"),
            map(lit("name"), col("s_name")), col("s_suppkey"), lit("supplier")).as("branchy"),
          cel_eval(lit("${ 8 * 24 - 2 }"),
            map(lit("name"), col("s_name")), col("s_suppkey"), lit("supplier")).as("folded"))
        .orderBy(col("s_suppkey"))
    }),

    // ---------- events: sessionization / windows ----------

    "q30_tumbling_window" -> ((s, dir) => {
      // 1-hour tumbling window counts per event type (streaming-agg
      // shape run on the batch table)
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * lit(10000.0))).as("v_c4"))
        .orderBy(col("win"), col("event_type"))
    }),

    "q31_sessionize" -> ((s, dir) => {
      // gap-based sessionization (30-min inactivity) via window lag +
      // running sum — the stateful-streaming analog in batch form
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          (col("prev_ts").isNull ||
            col("ts").cast("timestamp").cast("long") -
              col("prev_ts").cast("timestamp").cast("long") > 1800).cast("int"))
        .withColumn("session_idx", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"))
        .agg(max(col("session_idx")).as("sessions"), count(lit(1)).as("events"))
        .orderBy(col("user_id"))
    }),

    "q69_archive_roundtrip" -> ((s, dir) => {
      // DSv2 tile-archive WRITE -> READ byte fidelity for BOTH
      // single-file formats, content-dedup path included: per supplier
      // row one z=10 tile at Hilbert position k with a 16-byte
      // md5("t"+k) payload; every k % 10 == 0 shares ONE constant
      // payload so the pmtiles run-length/back-reference and the
      // mbtiles compact map+images dedup are ON the gate path. The
      // oracle regenerates (x, y) by replaying the INVERSE Hilbert
      // walk as a recursive CTE (the pmtiles reader decodes ids
      // through its own curve, so this cross-checks it bitwise) and
      // the payload hex by the same md5 arithmetic.
      import s.implicits._
      val ks = t(s, dir, "supplier").select(col("s_suppkey"))
        .collect().map(_.get(0).asInstanceOf[Number].longValue).sorted
      val constBytes = Array.fill(16)(0xAB.toByte)
      val md = java.security.MessageDigest.getInstance("MD5")
      val tiles = ks.map { k =>
        val (x, y) = graft.geo.Hilbert.indexToXY(10, k)
        val dup = k % 10 == 0
        val bytes = if (dup) constBytes else md.digest(s"t$k".getBytes("UTF-8"))
        graft.model.TileBytes(graft.geo.TileCoord.zoomOffset(10) + k, 10, x, y,
          bytes, 1, if (dup) -1L else k)
      }.toSeq
      val tmp = scratchDir("graft_q69")
      val pm = tmp.resolve("t.pmtiles").toString
      val mb = tmp.resolve("t.mbtiles").toString
      val df = tiles.toDF().repartition(4).orderBy("tile_id")
      df.write.format("pmtiles").mode("overwrite")
        .option("tiles_gzipped", "false").save(pm)
      df.write.format("mbtiles").mode("overwrite").save(mb)
      def back(fmt: String, path: String) =
        s.read.format(fmt).load(path).select(lit(fmt).as("fmt"),
          col("z"), col("x"), col("y"), lower(hex(col("bytes"))).as("payload_hex"))
      back("pmtiles", pm).unionByName(back("mbtiles", mb))
        .orderBy(col("fmt"), col("x"), col("y"))
    }),

    "q70_files_archive" -> ((s, dir) => {
      // the PARALLEL files sink — the one archive with NO serial drain
      // phase (every partition writes its own {z}/{x}/{y}.pbf leaves):
      // the same md5-payload tiles as q69 go out through
      // writeFilesArchive and come back through the binaryFile source
      // with (z, x, y) parsed from the path; the oracle replays the
      // inverse Hilbert walk + the md5 hex arithmetic
      import s.implicits._
      val ks = t(s, dir, "supplier").select(col("s_suppkey"))
        .collect().map(_.get(0).asInstanceOf[Number].longValue).sorted
      val constBytes = Array.fill(16)(0xAB.toByte)
      val md = java.security.MessageDigest.getInstance("MD5")
      val tiles = ks.map { k =>
        val (x, y) = graft.geo.Hilbert.indexToXY(10, k)
        val dup = k % 10 == 0
        val bytes = if (dup) constBytes else md.digest(s"t$k".getBytes("UTF-8"))
        graft.model.TileBytes(graft.geo.TileCoord.zoomOffset(10) + k, 10, x, y,
          bytes, 1, if (dup) -1L else k)
      }.toSeq
      val out = scratchDir("graft_q70").toString
      val written = graft.engine.TileAssembler.writeFilesArchive(
        s.createDataset(tiles).repartition(4).orderBy("tile_id"), out)
      require(written == ks.length, s"files archive wrote $written of ${ks.length}")
      // ~10^3 leaf dirs trip the default 32-path parallel-discovery
      // threshold, turning the glob listing into a Spark job of ~10^3
      // tiny tasks; sequential driver-side stat of a local tmpfs tree
      // is both faster and jitter-free. Session-scoped, restored after
      // the (eager) listing in load().
      val prevThresh = s.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
      s.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
      try s.read.format("binaryFile").load(out + "/*/*/*.pbf")
        .select(
          regexp_extract(col("path"), "/(\\d+)/(\\d+)/(\\d+)\\.pbf$", 1).cast("int").as("z"),
          regexp_extract(col("path"), "/(\\d+)/(\\d+)/(\\d+)\\.pbf$", 2).cast("int").as("x"),
          regexp_extract(col("path"), "/(\\d+)/(\\d+)/(\\d+)\\.pbf$", 3).cast("int").as("y"),
          lower(hex(col("content"))).as("payload_hex"))
        .orderBy(col("x"), col("y"))
      finally s.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", prevThresh)
    }),

    "q71_image_decode" -> ((s, dir) => {
      // REAL image codec gate (JDK PNG via javax.imageio): per-nation
      // deterministic pixel pattern, encode -> decode on executors,
      // exact integer luminance sums the oracle replays arithmetically
      // over generate_series. PNG is lossless, so a single pixel off
      // anywhere in the codec path breaks the hash match.
      import s.implicits._
      t(s, dir, "nation").select(col("n_nationkey").cast("int")).as[Int]
        .mapPartitions { it =>
          it.map { k =>
            val w = 16 + (k % 7) * 4; val h = 12 + (k % 5) * 4
            val png = graft.mm.Codecs.encodePng(w, h, (x, y) =>
              (((x * 7 + y * 11 + k * 13) % 256) << 16) |
                (((x * 3 + y * 5 + k * 17) % 256) << 8) |
                ((x * 13 + y * 3 + k * 29) % 256))
            val img = graft.mm.Codecs.decodeImage(png)
            (k, img.width, img.height, img.lumSum)
          }
        }.toDF("nk", "width", "height", "lum_sum").orderBy("nk")
    }),

    "q72_audio_decode" -> ((s, dir) => {
      // REAL audio codec gate (RIFF/WAVE via javax.sound.sampled):
      // deterministic 16-bit PCM per nation, encode -> decode on
      // executors, sample-exact aggregates replayed by the oracle
      import s.implicits._
      t(s, dir, "nation").select(col("n_nationkey").cast("int")).as[Int]
        .mapPartitions { it =>
          it.map { k =>
            val n = 500 + k * 37
            val samples = Array.tabulate(n) { i =>
              ((i.toLong * i % 7919 + i * 31 + k * 101) % 65536 - 32768).toShort
            }
            val (got, _) = graft.mm.Codecs.decodeWav(
              graft.mm.Codecs.encodeWavPcm16(samples, graft.mm.Multimodal.SampleRate))
            var sumAbs = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
            got.foreach { v => sumAbs += math.abs(v.toInt); mn = mn min v; mx = mx max v }
            (k, got.length, sumAbs, mn, mx)
          }
        }.toDF("nk", "n_samples", "sum_abs", "min_s", "max_s").orderBy("nk")
    }),

    "q73_video_frames" -> ((s, dir) => {
      // REAL video-container gate (animated GIF via javax.imageio):
      // per-nation multi-frame GIF with per-frame delay metadata,
      // encode -> frame-decode on executors; gray frames stay within
      // the 256-color GIF palette so pixels round-trip exactly and
      // the oracle replays frame luminance + delays arithmetically
      import s.implicits._
      t(s, dir, "nation").select(col("n_nationkey").cast("int")).as[Int]
        .mapPartitions { it =>
          it.flatMap { k =>
            val nf = 2 + k % 4; val w = 20; val h = 14
            val frames = (0 until nf).map { f =>
              (Array.tabulate(w * h) { i =>
                val v = ((i % w) * 7 + (i / w) * 11 + f * 37 + k * 5) % 256
                0xff000000 | (v << 16) | (v << 8) | v
              }, 6 + (k + f) % 5)
            }
            val back = graft.mm.Codecs.decodeGifFrames(
              graft.mm.Codecs.encodeGifAnim(w, h, frames))
            back.zipWithIndex.map { case ((img, delay), f) =>
              (k, f, delay, img.lumSum)
            }
          }
        }.toDF("nk", "frame", "delay_cs", "lum_sum").orderBy("nk", "frame")
    }),

    "q74_decontaminate" -> ((s, dir) => {
      // train/eval decontamination: the benchmark slice's distinct
      // 3-gram shingle hashes BROADCAST against the full corpus (the
      // eval set is tiny by construction at any scale); one narrow
      // (id, hash60) projection of the train side, one broadcast-hash
      // join, one per-pair count shuffle
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 37 === 3)
      graft.dedup.Dedup.contaminationPairs(docs, bench, shingleN = 3)
        .where(col("train_id") =!= col("bench_id"))
        .groupBy(col("bench_id"))
        .agg(count(lit(1)).cast("long").as("contaminated"),
          sum(col("overlap_ngrams")).cast("long").as("overlap_total"))
        .orderBy(col("bench_id"))
    }),

    "q75_stratified_sample" -> ((s, dir) => {
      // deterministic hash-based stratified sampling: membership is a
      // pure function of (seed, doc_id) — retry/speculation-safe where
      // rand()-based sample() is not — and the per-stratum rates are
      // dyadic so the long-domain threshold compare is bit-exact in
      // the oracle's replay of the same md5 arithmetic
      val docs = t(s, dir, "documents")
      graft.engine.Sampling.stratified(docs, col("doc_id"), col("lang"),
          Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.125, seed = "graft-q75")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("sampled"), sum(col("doc_id")).cast("long").as("key_sum"))
        .orderBy(col("lang"), col("source"))
    }),

    "q76_pii_redact" -> ((s, dir) => {
      // PII scrub: deterministic synthetic PII (email + E.164 phone +
      // IPv4) appended to every document, redacted by the codegen'd
      // regexp_replace chain; the oracle replays the identical
      // patterns in DuckDB's RE2 (the patterns stay in the common
      // regex subset) and compares md5 of the redacted text
      val aug = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@mail"), col("doc_id") % 7,
          lit(".org or +440"), lpad((col("doc_id") % 100000).cast("string"), 7, "0"),
          lit(" from 10."), col("doc_id") % 256, lit(".0."), col("doc_id") % 100,
          lit(" end")).as("text"))
      aug.select(col("doc_id"),
          graft.text.Pii.emailCount(col("text")).cast("int").as("emails"),
          graft.text.Pii.ipCount(col("text")).cast("int").as("ips"),
          graft.text.Pii.phoneCount(col("text")).cast("int").as("phones"),
          md5(graft.text.Pii.redact(col("text"))).as("redacted_md5"))
        .orderBy(col("doc_id"))
    })
  )

  /** SQL literal for a double array (Double.toString round-trips). */
  private def sqlArr(a: Array[Double]): String = a.mkString("[", ", ", "]")

  /** Portable 60-bit token hash in DuckDB (mirror of Text.tokenHash60). */
  private val tokenHash60Sql =
    """list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(string_split(substr(md5(t), 1, 15), ''),
           c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
       (a, b) -> a * 16 + b)"""

  private lazy val configProfileOracle =
    s"""WITH zs AS (SELECT UNNEST(GENERATE_SERIES(0, 5)) AS z),
        pts AS (SELECT o_orderkey AS k, ${worldXSql(lonSql)} AS wx, ${worldYSql(latSql)} AS wy
                FROM orders
                WHERE 'order ' || o_orderstatus || ' ' || o_orderpriority LIKE 'order F%'),
        cand AS (
         SELECT DISTINCT z, k,
           ((tx % (1 << z)) + (1 << z)) % (1 << z) AS gx, ty
         FROM pts, zs,
           UNNEST([FLOOR(wx * (1 << z) - 0.015625), FLOOR(wx * (1 << z) + 0.015625)]) AS t1(tx),
           UNNEST([FLOOR(wy * (1 << z) - 0.015625), FLOOR(wy * (1 << z) + 0.015625)]) AS t2(ty)
         WHERE ty >= 0 AND ty <= (1 << z) - 1)
        SELECT CAST(z AS INT) AS z, COUNT(DISTINCT (gx, ty)) AS tiles,
               CAST(COUNT(*) AS BIGINT) AS features
        FROM cand GROUP BY 1 ORDER BY 1"""

  def oracleSql: Map[String, String] = Map(
    "q01_agg_pushdown" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_price_c,
         COUNT(*) AS n
         FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-01'
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q02_broadcast_join" ->
      """SELECT r_name, COUNT(*) AS customers,
         CAST(SUM(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT)) AS BIGINT) AS balance_c
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1 ORDER BY 1""",

    "q03_shuffle_join_topn" ->
      """SELECT o_orderkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)) AS BIGINT) AS revenue_c4,
         COUNT(*) AS items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY revenue_c4 DESC, o_orderkey LIMIT 50""",

    "q04_window_topk" ->
      """SELECT o_custkey, o_orderkey, rk FROM (
           SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders) WHERE rk <= 3
         ORDER BY o_custkey, rk, o_orderkey""",

    "q08_sql_frontend" ->
      s"""SELECT CAST(FLOOR(${worldXSql(lonSql)} * 64) AS INT) AS tx,
            CAST(FLOOR(${worldYSql(latSql)} * 64) AS INT) AS ty,
            COUNT(*) AS n
          FROM orders GROUP BY 1, 2 ORDER BY 1, 2""",

    "q09_bbox_pushdown" ->
      s"""SELECT COUNT(*) AS inside, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
          FROM (SELECT o_orderkey, $lonSql AS lon, $latSql AS lat FROM orders)
          WHERE lon >= -90.005 AND lon <= 60.005 AND lat >= -40.005 AND lat <= 50.005""",

    "q32_geojson_scan" ->
      """SELECT 'gj_' || n_nationkey AS doc_id, n_name AS name,
           (n_nationkey * 9973 % 36000) / 100.0 - 180.0 AS lon,
           (n_nationkey * 7919 % 17000) / 100.0 - 85.0 AS lat
         FROM nation ORDER BY 1""",

    "q39_geoparquet_scan" ->
      s"""SELECT COUNT(*) AS inside, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
          FROM (SELECT o_orderkey, $lonSql AS lon, $latSql AS lat FROM orders)
          WHERE lon >= -90.005 AND lon <= 60.005 AND lat >= -40.005 AND lat <= 50.005""",

    "q41_geoarrow_scan" ->
      s"""SELECT COUNT(*) AS inside, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
          FROM (SELECT o_orderkey, $lonSql AS lon, $latSql AS lat FROM orders)
          WHERE lon >= -90.005 AND lon <= 60.005 AND lat >= -40.005 AND lat <= 50.005""",

    "q10_docs_shape" ->
      """WITH docs AS (
           SELECT 'doc' AS src, 3 AS n_spans, 1 AS ordered FROM orders
           UNION ALL
           SELECT 'line', 3, 1 FROM (SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING COUNT(*) >= 2)
           UNION ALL
           SELECT 'adm', 3, 1 FROM nation)
         SELECT src, COUNT(*) AS docs, CAST(SUM(n_spans) AS BIGINT) AS spans,
                CAST(SUM(ordered) AS BIGINT) AS ordered_docs
         FROM docs GROUP BY 1 ORDER BY 1""",

    "q11_tile_assign" ->
      s"""SELECT 'doc_' || o_orderkey AS doc_id,
          CAST(GREATEST(0, LEAST(127, FLOOR(${worldXSql(lonSql)} * 128))) AS INT) AS tile_x,
          CAST(GREATEST(0, LEAST(127, FLOOR(${worldYSql(latSql)} * 128))) AS INT) AS tile_y
          FROM orders ORDER BY doc_id""",

    "q12_tiles_per_zoom" ->
      s"""WITH z(z) AS (SELECT UNNEST(GENERATE_SERIES(0, 7))),
          pts AS (SELECT ${worldXSql(lonSql)} AS wx, ${worldYSql(latSql)} AS wy FROM orders)
          SELECT z,
            COUNT(DISTINCT CAST(GREATEST(0, LEAST((1 << z) - 1, FLOOR(wx * (1 << z)))) AS BIGINT) * 100000 +
                           CAST(GREATEST(0, LEAST((1 << z) - 1, FLOOR(wy * (1 << z)))) AS BIGINT)) AS tiles,
            COUNT(*) AS points
          FROM pts, z GROUP BY z ORDER BY z""",

    "q13_pip_join" ->
      s"""WITH pts AS (SELECT $lonSql AS lon, $latSql AS lat FROM orders),
          assigned AS (
            SELECT CASE WHEN (lon + 180.0) % 72.0 = 0 AND lon > -180.0
                        THEN CAST((lon + 180.0) / 72.0 AS INT) - 1
                        ELSE CAST(FLOOR((lon + 180.0) / 72.0) AS INT) END AS c,
                   CASE WHEN (lat + 85.0) % 34.0 = 0 AND lat > -85.0
                        THEN CAST((lat + 85.0) / 34.0 AS INT) - 1
                        ELSE CAST(FLOOR((lat + 85.0) / 34.0) AS INT) END AS r
            FROM pts)
          SELECT 'adm_' || (LEAST(r, 4) * 5 + LEAST(c, 4)) AS poly_id, COUNT(*) AS points
          FROM assigned GROUP BY 1 ORDER BY 1""",

    // q42: the partitioned big-big PIP must give exactly the broadcast
    // path's assignment, so the oracle is q13's arithmetic derivation
    "q42_pip_partitioned" ->
      s"""WITH pts AS (SELECT $lonSql AS lon, $latSql AS lat FROM orders),
          assigned AS (
            SELECT CASE WHEN (lon + 180.0) % 72.0 = 0 AND lon > -180.0
                        THEN CAST((lon + 180.0) / 72.0 AS INT) - 1
                        ELSE CAST(FLOOR((lon + 180.0) / 72.0) AS INT) END AS c,
                   CASE WHEN (lat + 85.0) % 34.0 = 0 AND lat > -85.0
                        THEN CAST((lat + 85.0) / 34.0 AS INT) - 1
                        ELSE CAST(FLOOR((lat + 85.0) / 34.0) AS INT) END AS r
            FROM pts)
          SELECT 'adm_' || (LEAST(r, 4) * 5 + LEAST(c, 4)) AS poly_id, COUNT(*) AS points
          FROM assigned GROUP BY 1 ORDER BY 1""",

    // q43: identical forward projection + closed-form 3857 inverse on
    // both sides, rounded to 1e-6 degrees (engine ulp differences in
    // ln/tan/atan/exp sit ~1e-12 away from any rounding boundary here)
    "q43_crs_transform" ->
      s"""WITH src AS (SELECT o_orderkey AS k, $lonSql AS lon0, $latSql AS lat0 FROM orders),
          m AS (SELECT k,
                  lon0 * pi() / 180.0 * 6378137.0 AS mx,
                  ln(tan(pi() / 4 + lat0 * pi() / 360.0)) * 6378137.0 AS my
                FROM src)
          SELECT k,
            ROUND(mx / 6378137.0 * (180.0 / pi()), 6) AS lon,
            ROUND((2.0 * atan(exp(my / 6378137.0)) - pi() / 2.0) * (180.0 / pi()), 6) AS lat
          FROM m ORDER BY k""",

    // q60: keep iff both coords in [-64, 4160]
    "q60_point_buffer" ->
      """WITH p AS (
           SELECT l_orderkey % 32 AS grp,
             (l_orderkey * 17 + l_linenumber * 29) % 4352 - 128 AS x,
             (l_orderkey * 23 + l_linenumber * 31) % 4352 - 128 AS y
           FROM lineitem)
         SELECT CAST(grp AS BIGINT) AS grp,
           CAST(SUM(CASE WHEN x BETWEEN -64 AND 4160 AND y BETWEEN -64 AND 4160 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           CAST(SUM(CASE WHEN x BETWEEN -64 AND 4160 AND y BETWEEN -64 AND 4160 THEN x ELSE 0 END) AS BIGINT) AS x_sum,
           CAST(SUM(CASE WHEN x BETWEEN -64 AND 4160 AND y BETWEEN -64 AND 4160 THEN y ELSE 0 END) AS BIGINT) AS y_sum
         FROM p GROUP BY grp ORDER BY grp""",

    // q59: type per row is known by construction (ok%3: bool/number/
    // string); groups with >1 distinct type collapse to String
    "q59_layer_attr_stats" ->
      """WITH f AS (
           SELECT 'l_' || l_returnflag AS layer,
             'k' || CAST(l_linenumber % 3 AS VARCHAR) AS key,
             CASE l_orderkey % 3 WHEN 0 THEN 'Boolean' WHEN 1 THEN 'Number'
               ELSE 'String' END AS typ,
             l_linenumber % 5 AS mz,
             l_linenumber % 5 + l_orderkey % 4 AS xz
           FROM lineitem)
         SELECT layer, key,
           CASE WHEN COUNT(DISTINCT typ) > 1 THEN 'String' ELSE MIN(typ) END AS type,
           CAST(MIN(mz) AS BIGINT) AS minzoom, CAST(MAX(xz) AS BIGINT) AS maxzoom
         FROM f GROUP BY layer, key ORDER BY layer, key""",

    // q58: same closed form — the NE sqlite round trip is lossless
    "q58_naturalearth_scan" ->
      """SELECT CAST(n_nationkey + 1 AS BIGINT) AS id, n_name AS name,
           CAST((CAST(n_nationkey AS BIGINT) * 9973 % 36000) * 100000 - 1800000000 AS BIGINT) AS lon_e7,
           CAST((CAST(n_nationkey AS BIGINT) * 7919 % 17000) * 100000 - 850000000 AS BIGINT) AS lat_e7
         FROM nation ORDER BY id""",

    // q57: same closed form as q56 — the gpkg round trip is lossless
    "q57_geopackage_scan" ->
      """SELECT CAST(n_nationkey + 1 AS BIGINT) AS id, n_name AS name,
           CAST((CAST(n_nationkey AS BIGINT) * 9973 % 36000) * 100000 - 1800000000 AS BIGINT) AS lon_e7,
           CAST((CAST(n_nationkey AS BIGINT) * 7919 % 17000) * 100000 - 850000000 AS BIGINT) AS lat_e7
         FROM nation ORDER BY id""",

    // q56: the shapefile round trip is lossless (doubles in .shp, the
    // same coords the oracle rebuilds from nation)
    "q56_shapefile_scan" ->
      """SELECT CAST(n_nationkey + 1 AS BIGINT) AS id, n_name AS name,
           CAST((CAST(n_nationkey AS BIGINT) * 9973 % 36000) * 100000 - 1800000000 AS BIGINT) AS lon_e7,
           CAST((CAST(n_nationkey AS BIGINT) * 7919 % 17000) * 100000 - 850000000 AS BIGINT) AS lat_e7
         FROM nation ORDER BY id""",

    // q55: outer (2+k%4)x(2+k%3) rectangle minus the unit hole
    "q55_ring_assembly" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS grp,
           CAST((2 + o_orderkey % 4) * (2 + o_orderkey % 3) - 1 AS BIGINT) AS area,
           CAST(1 AS BIGINT) AS holes, CAST(1 AS BIGINT) AS shells
         FROM orders ORDER BY grp""",

    // q54: the marching-squares case table replayed over a padded
    // range-join grid — area in exact eighth-cells, segments per case
    "q54_marching_squares" ->
      """WITH cells AS (
           SELECT o_orderkey AS grp, ci.i AS i, cj.i AS j,
             CASE WHEN ci.i BETWEEN 0 AND 8 AND cj.i BETWEEN 0 AND 8
                   AND (o_orderkey*7 + ci.i*13 + cj.i*31) % 5 < 2 THEN 1 ELSE 0 END AS tl,
             CASE WHEN ci.i+1 BETWEEN 0 AND 8 AND cj.i BETWEEN 0 AND 8
                   AND (o_orderkey*7 + (ci.i+1)*13 + cj.i*31) % 5 < 2 THEN 1 ELSE 0 END AS tr,
             CASE WHEN ci.i+1 BETWEEN 0 AND 8 AND cj.i+1 BETWEEN 0 AND 8
                   AND (o_orderkey*7 + (ci.i+1)*13 + (cj.i+1)*31) % 5 < 2 THEN 1 ELSE 0 END AS br,
             CASE WHEN ci.i BETWEEN 0 AND 8 AND cj.i+1 BETWEEN 0 AND 8
                   AND (o_orderkey*7 + ci.i*13 + (cj.i+1)*31) % 5 < 2 THEN 1 ELSE 0 END AS bl
           FROM orders CROSS JOIN range(-1, 9) ci(i) CROSS JOIN range(-1, 9) cj(i))
         SELECT CAST(grp AS BIGINT) AS grp,
           CAST(SUM(CASE tl+tr+br+bl
             WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 3 THEN 7 WHEN 4 THEN 8
             ELSE CASE WHEN (tl=1 AND br=1) OR (tr=1 AND bl=1) THEN 2 ELSE 4 END
           END) AS BIGINT) AS area_x8,
           CAST(SUM(CASE tl+tr+br+bl
             WHEN 1 THEN 1 WHEN 3 THEN 1
             WHEN 2 THEN CASE WHEN (tl=1 AND br=1) OR (tr=1 AND bl=1) THEN 2 ELSE 1 END
             ELSE 0
           END) AS BIGINT) AS segs
         FROM cells GROUP BY grp ORDER BY grp""",

    // q53: one multipoint per (tile group, flag) with every point and
    // the minimum feature id — merge provably lossless and complete
    "q53_merge_points" ->
      """SELECT CAST(l_orderkey % 64 AS BIGINT) AS grp, l_returnflag AS flag,
           CAST(1 AS BIGINT) AS n_feats, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM((l_orderkey * 7 + l_linenumber * 3) % 4096) AS BIGINT) AS x_sum,
           CAST(SUM((l_orderkey * 11 + l_linenumber * 5) % 4096) AS BIGINT) AS y_sum,
           CAST(MIN(l_orderkey * 10 + l_linenumber) AS BIGINT) AS min_id
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",

    // q51: one merged polyline per order, every chain vertex exactly
    // once; l_linenumber is 1..n consecutive, so the sums close over
    // lineitem directly
    "q51_line_merge" ->
      """WITH pts AS (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)
         SELECT CAST(l_orderkey AS BIGINT) AS grp, CAST(1 AS BIGINT) AS n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_vertices,
           CAST(SUM(l_linenumber * 37 + l_orderkey % 11) AS BIGINT) AS x_sum,
           CAST(SUM((l_orderkey * 13 + l_linenumber * 29) % 3000) AS BIGINT) AS y_sum
         FROM pts GROUP BY l_orderkey HAVING COUNT(*) >= 3 ORDER BY grp""",

    // q52: DP on the tent keeps {first, apex(ln=4), last}; closed form
    // from the distinct linenumber extremes (min < 4 < max required)
    "q52_simplify_dp" ->
      """WITH pts AS (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)
         SELECT CAST(l_orderkey AS BIGINT) AS grp, CAST(3 AS BIGINT) AS kept,
           CAST(100 * (MIN(l_linenumber) + 4 + MAX(l_linenumber)) AS BIGINT) AS x_sum,
           CAST(100 * (MIN(l_linenumber) - MAX(l_linenumber)) + 1200 AS BIGINT) AS y_sum
         FROM pts GROUP BY l_orderkey
         HAVING MIN(l_linenumber) < 4 AND MAX(l_linenumber) > 4
            AND MAX(CASE WHEN l_linenumber = 4 THEN 1 ELSE 0 END) = 1
         ORDER BY grp""",

    // q50: the PBF round trip is lossless at the 1e-7-degree grid, so
    // the oracle rebuilds the node coords and the per-region way
    // membership from nation alone
    "q50_osmpbf_scan" ->
      """SELECT 'node' AS kind, CAST(n_nationkey + 1 AS BIGINT) AS id, n_name AS name,
           CAST((CAST(n_nationkey AS BIGINT) * 9973 % 36000) * 100000 - 1800000000 AS BIGINT) AS lon_e7,
           CAST((CAST(n_nationkey AS BIGINT) * 7919 % 17000) * 100000 - 850000000 AS BIGINT) AS lat_e7,
           CAST(0 AS BIGINT) AS refs_n, CAST(0 AS BIGINT) AS refs_sum
         FROM nation
         UNION ALL
         SELECT 'way', CAST(1000 + n_regionkey AS BIGINT), 'region_' || CAST(n_regionkey AS VARCHAR),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(COUNT(*) AS BIGINT), CAST(SUM(n_nationkey + 1) AS BIGINT)
         FROM nation GROUP BY n_regionkey
         ORDER BY kind, id""",

    // q61: memberships are pure arithmetic — way k joins route
    // R(k%10) (role by parity) and inherits super-route SR((k%10)%3);
    // relations sort by (rel_id, role) = direct route then super
    "q61_relation_info" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS way_id,
           CAST(2 AS INT) AS n_rels,
           'R' || CAST(s_suppkey % 10 AS VARCHAR) ||
             ',SR' || CAST((s_suppkey % 10) % 3 AS VARCHAR) AS refs_csv,
           (CASE WHEN s_suppkey % 2 = 0 THEN 'forward' ELSE '' END) || ',' AS roles_csv
         FROM supplier ORDER BY way_id""",

    // q63: the round trip is lossless (integral coords; hole side and
    // area exact binary fractions), so the oracle is pure arithmetic:
    // line x-sum 3a+2 / y-sum 3b+2, polygon area*16 = 15*s^2
    "q63_vector_write_roundtrip" ->
      """WITH s AS (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier)
         SELECT 'line' AS kind, k, CAST(3 AS INT) AS n_pts,
                CAST(3 * ((k % 60) - 30) + 2 AS BIGINT) AS m1,
                CAST(3 * ((k % 30) - 15) + 2 AS BIGINT) AS m2
         FROM s
         UNION ALL
         SELECT 'poly', k, CAST(10 AS INT),
                CAST(15 * (1 + k % 3) * (1 + k % 3) AS BIGINT),
                CAST(1 AS BIGINT)
         FROM s
         ORDER BY kind, k""",

    // q64: the oracle replays the pre-projection lon/lat arithmetic;
    // the Spark side must invert the UTM forward projection exactly
    // on the 1e-6 grid
    "q64_crs_reproject" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
           CAST(12000000 + (n_nationkey * 7 % 60) * 100000 AS BIGINT) AS lon_e6,
           CAST(40000000 + (n_nationkey * 13 % 200) * 100000 AS BIGINT) AS lat_e6
         FROM nation ORDER BY id""",

    // q65: expected romanizations are independent public constants
    // (Revised Romanization city spellings, pinyin, Hepburn)
    "q65_transliterate" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
           CASE n_nationkey % 8
             WHEN 0 THEN 'seoul' WHEN 1 THEN 'bei jing'
             WHEN 2 THEN 'toukyou' WHEN 3 THEN 'pyeongyang'
             WHEN 4 THEN 'shang hai' WHEN 5 THEN 'sapporo'
             WHEN 6 THEN 'Moskva' ELSE 'Athina' END AS latin
         FROM nation ORDER BY id""",

    // q66: the S2 encode replayed exactly — rational (u,v), IEEE-exact
    // st/ij arithmetic, then the 30-step Hilbert walk as a recursive
    // CTE carrying (pos, orientation) through the S2 ij→pos table and
    // the swap/invert orientation algebra
    "q66_s2_cell_id" ->
      """WITH RECURSIVE src AS (
           SELECT CAST(o_orderkey AS BIGINT) AS k,
                  CAST(o_orderkey % 6 AS BIGINT) AS face,
                  ((o_orderkey * 31 % 2001) - 1000) / 1000.0 AS u,
                  ((o_orderkey * 17 % 2001) - 1000) / 1000.0 AS v
           FROM orders),
         ij AS (
           SELECT k, face,
             LEAST(1073741823, GREATEST(0, CAST(FLOOR(
               (CASE WHEN u >= 0 THEN 0.5 * SQRT(1 + 3 * u)
                     ELSE 1 - 0.5 * SQRT(1 - 3 * u) END) * 1073741824) AS BIGINT))) AS i,
             LEAST(1073741823, GREATEST(0, CAST(FLOOR(
               (CASE WHEN v >= 0 THEN 0.5 * SQRT(1 + 3 * v)
                     ELSE 1 - 0.5 * SQRT(1 - 3 * v) END) * 1073741824) AS BIGINT))) AS j
           FROM src),
         walk AS (
           SELECT k, face, i, j, 29 AS step,
                  CAST(0 AS BIGINT) AS pos, CAST(face % 2 AS BIGINT) AS orient
           FROM ij
           UNION ALL
           SELECT k, face, i, j, step - 1,
                  pos * 4 + p,
                  xor(orient, CASE p WHEN 0 THEN 1 WHEN 3 THEN 3 ELSE 0 END)
           FROM (
             SELECT *,
               CASE orient * 4 + (((i >> step) & 1) * 2 + ((j >> step) & 1))
                 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 2
                 WHEN 4 THEN 0 WHEN 5 THEN 3 WHEN 6 THEN 1 WHEN 7 THEN 2
                 WHEN 8 THEN 2 WHEN 9 THEN 3 WHEN 10 THEN 1 WHEN 11 THEN 0
                 WHEN 12 THEN 2 WHEN 13 THEN 1 WHEN 14 THEN 3 ELSE 0 END AS p
             FROM walk WHERE step >= 0))
         SELECT k, face, i, j, pos,
                CAST(k % 31 AS BIGINT) AS lvl,
                pos >> CAST(2 * (30 - k % 31) AS INT) AS ppos
         FROM walk WHERE step = -1 ORDER BY k""",

    // q67: the S2-bucketed join must equal the direct haversine cross
    // join (same spherical radius 6371008.8 both sides)
    "q67_s2_radius_join" ->
      """WITH pts AS (
           SELECT CAST(o_orderkey AS BIGINT) AS k,
                  (CAST(o_orderkey * 9973 % 36000 AS DOUBLE) / 100.0 - 180.0) AS lon,
                  (CAST(o_orderkey * 7919 % 17000 AS DOUBLE) / 100.0 - 85.0) AS lat
           FROM orders),
         sites AS (
           SELECT printf('site_%02d', i) AS site_id,
                  (i % 5) * 72.0 - 144.0 AS slon,
                  CAST(FLOOR(i / 5) AS INT) * 34.0 - 68.0 AS slat
           FROM (SELECT UNNEST(GENERATE_SERIES(0, 24)) AS i))
         SELECT site_id, COUNT(*) AS points, CAST(SUM(k) AS BIGINT) AS key_sum
         FROM pts CROSS JOIN sites
         WHERE 2 * 6371008.8 * ASIN(LEAST(1.0, SQRT(
             POW(SIN(RADIANS(slat - lat) / 2), 2) +
             COS(RADIANS(lat)) * COS(RADIANS(slat)) *
             POW(SIN(RADIANS(slon - lon) / 2), 2)))) <= 2000000.0
         GROUP BY 1 ORDER BY 1""",

    // q68: nearest within the cutoff by (haversine, id), then per-site
    // rollup — the distributed S2 rounds must reproduce it exactly
    "q68_s2_nearest_join" ->
      """WITH pts AS (
           SELECT CAST(o_orderkey AS BIGINT) AS k,
                  (CAST(o_orderkey * 9973 % 36000 AS DOUBLE) / 100.0 - 180.0) AS lon,
                  (CAST(o_orderkey * 7919 % 17000 AS DOUBLE) / 100.0 - 85.0) AS lat
           FROM orders),
         sites AS (
           SELECT printf('site_%02d', i) AS site_id,
                  (i % 5) * 72.0 - 144.0 AS slon,
                  CAST(FLOOR(i / 5) AS INT) * 34.0 - 68.0 AS slat
           FROM (SELECT UNNEST(GENERATE_SERIES(0, 24)) AS i)),
         ranked AS (
           SELECT k, site_id,
                  2 * 6371008.8 * ASIN(LEAST(1.0, SQRT(
                    POW(SIN(RADIANS(slat - lat) / 2), 2) +
                    COS(RADIANS(lat)) * COS(RADIANS(slat)) *
                    POW(SIN(RADIANS(slon - lon) / 2), 2)))) AS d,
                  ROW_NUMBER() OVER (PARTITION BY k ORDER BY
                    2 * 6371008.8 * ASIN(LEAST(1.0, SQRT(
                      POW(SIN(RADIANS(slat - lat) / 2), 2) +
                      COS(RADIANS(lat)) * COS(RADIANS(slat)) *
                      POW(SIN(RADIANS(slon - lon) / 2), 2)))), site_id) AS rk
           FROM pts CROSS JOIN sites)
         SELECT site_id, COUNT(*) AS points, CAST(SUM(k) AS BIGINT) AS key_sum
         FROM ranked WHERE rk = 1 AND d <= 3000000.0
         GROUP BY 1 ORDER BY 1""",

    // q62: fixture outcomes are pure case arithmetic — loop broken iff
    // the detour fits the budget, stub kept iff >= stubMinLength (a
    // removed stub drops B to degree 2 and the cascade re-merges the
    // chain), detached ring always survives closed
    "q62_loop_line_merge" ->
      """WITH p AS (
           SELECT CAST(s_suppkey AS BIGINT) AS k,
                  100 + (s_suppkey % 7) * 50 AS L,
                  20 + (s_suppkey % 5) * 10 AS h,
                  5 + (s_suppkey % 4) * 5 AS st,
                  40 + (s_suppkey % 3) * 20 AS rs
           FROM supplier),
         c AS (
           SELECT k, L, h, st, rs,
                  (L + 2*h) <= 500 AS broken,
                  st >= 12 AS stub_kept
           FROM p)
         SELECT k,
           CAST(CASE WHEN broken AND NOT stub_kept THEN 2
                     WHEN broken AND stub_kept THEN 4
                     WHEN NOT broken AND NOT stub_kept THEN 5
                     ELSE 6 END AS INT) AS n_lines,
           CAST(CASE WHEN broken AND NOT stub_kept THEN 110 + L + 4*rs
                     WHEN broken AND stub_kept THEN 110 + L + st + 4*rs
                     WHEN NOT broken AND NOT stub_kept THEN 2*L + 2*h + 110 + 4*rs
                     ELSE 2*L + 2*h + 110 + st + 4*rs END AS BIGINT) AS total_len,
           CAST(1 AS INT) AS n_closed,
           CAST(CASE WHEN broken AND NOT stub_kept THEN 9
                     WHEN broken AND stub_kept THEN 12
                     WHEN NOT broken AND NOT stub_kept THEN 15
                     ELSE 17 END AS INT) AS n_pts
         FROM c ORDER BY k""",

    // q49: the classic rotate/flip Hilbert walk as a recursive CTE,
    // bitwise-identical to geo/Hilbert.xyToIndex
    "q49_hilbert" ->
      """WITH RECURSIVE grid AS (
           SELECT gx.i AS x0, gy.i AS y0 FROM range(64) gx(i) CROSS JOIN range(64) gy(i)),
         walk(x0, y0, x, y, d, s) AS (
           SELECT x0, y0, CAST(x0 AS BIGINT), CAST(y0 AS BIGINT),
                  CAST(0 AS BIGINT), CAST(32 AS BIGINT) FROM grid
           UNION ALL
           SELECT x0, y0,
             CASE WHEN (y & s) = 0 THEN CASE WHEN (x & s) != 0 THEN s - 1 - y ELSE y END ELSE x END,
             CASE WHEN (y & s) = 0 THEN CASE WHEN (x & s) != 0 THEN s - 1 - x ELSE x END ELSE y END,
             d + s * s * xor(CASE WHEN (x & s) != 0 THEN CAST(3 AS BIGINT) ELSE 0 END,
                             CASE WHEN (y & s) != 0 THEN CAST(1 AS BIGINT) ELSE 0 END),
             s // 2
           FROM walk WHERE s > 0)
         SELECT CAST(x0 AS INT) AS x, CAST(y0 AS INT) AS y, d AS h
         FROM walk WHERE s = 0 ORDER BY x, y""",

    // q48: meta = layer*2^54 + (clamp(sk)+2^21)*2^32 + fid%2^32;
    // descending key = -1 - clamp(sk) (reflection, still in range)
    "q48_sortkey" ->
      """WITH s AS (SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS k,
                CAST(l_suppkey % 8 AS BIGINT) AS layer,
                CAST(GREATEST(-2097152, LEAST(2097151, (l_partkey - 100000) * 37)) AS BIGINT) AS c,
                CAST((l_orderkey * 1000003) % 4294967296 AS BIGINT) AS fidlow
              FROM lineitem)
         SELECT k,
           CAST(layer * 18014398509481984 + (c + 2097152) * 4294967296 + fidlow AS BIGINT) AS meta,
           CAST(layer * 18014398509481984 + ((-1 - c) + 2097152) * 4294967296 + fidlow AS BIGINT) AS meta_desc
         FROM s ORDER BY k""",

    // q47: zigzag = xor(2v, v<0 ? -1 : 0); varint length by range
    // cases; FNV-1a 64 replayed byte-for-byte in HUGEINT arithmetic
    "q47_encoding" ->
      """WITH s AS (SELECT CAST(s_suppkey AS BIGINT) AS k,
                CAST(CASE WHEN s_suppkey % 2 = 0 THEN s_suppkey
                          ELSE -s_suppkey END AS BIGINT) AS v,
                s_name FROM supplier),
         z AS (SELECT k, s_name,
                 xor(v * 2, CASE WHEN v < 0 THEN CAST(-1 AS BIGINT)
                                 ELSE CAST(0 AS BIGINT) END) AS zzv
               FROM s)
         SELECT k,
           CAST(zzv AS INT) AS zz,
           CAST(CASE WHEN zzv < 128 THEN 1 WHEN zzv < 16384 THEN 2
                     WHEN zzv < 2097152 THEN 3 WHEN zzv < 268435456 THEN 4
                     ELSE 5 END AS INT) AS vlen,
           CAST(list_reduce(
             list_prepend(CAST('14695981039346656037' AS HUGEINT),
               list_transform(string_split(s_name, ''), c -> CAST(unicode(c) AS HUGEINT))),
             (a, b) -> ((a - (a % 256) + xor(CAST(a % 256 AS BIGINT), CAST(b AS BIGINT)))
                        * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)
           ) AS VARCHAR) AS fnv
         FROM z ORDER BY k""",

    // q45: recursive-CTE closure over the same forest + cycle; the
    // Spark side dedups (member, ancestor) so plain UNION recursion
    // (which terminates on the finite pair set) is the exact oracle
    "q45_relation_closure" ->
      """WITH RECURSIVE m AS (
           SELECT CAST(o_orderkey AS BIGINT) AS member_id,
                  CAST(o_orderkey // 10 AS BIGINT) AS relation_id FROM orders
           UNION ALL
           SELECT CAST(n_nationkey + 1000000 AS BIGINT),
                  CAST(((n_nationkey + 1) % 25) + 1000000 AS BIGINT) FROM nation),
         c(member_id, ancestor_id) AS (
           SELECT member_id, relation_id FROM m
           UNION
           SELECT c.member_id, m.relation_id
           FROM c JOIN m ON m.member_id = c.ancestor_id)
         SELECT ancestor_id, COUNT(*) AS members
         FROM c GROUP BY 1 ORDER BY 1""",

    // q46: existing name:fr wins; name:de always fills from the dim
    "q46_wikidata_join" ->
      """WITH t AS (SELECT 'Q' || CAST(i AS VARCHAR) AS qid,
                           'fr_' || CAST(i AS VARCHAR) AS fr,
                           'de_' || CAST(i AS VARCHAR) AS de
                    FROM range(50) r(i)),
         s AS (SELECT 's_' || s_suppkey AS doc_id,
                      'Q' || (s_suppkey % 50) AS qid,
                      CASE WHEN s_suppkey % 3 = 0
                           THEN 'local_' || s_suppkey END AS localfr
               FROM supplier)
         SELECT doc_id,
                COALESCE(localfr, t.fr) AS name_fr,
                t.de AS name_de
         FROM s LEFT JOIN t USING (qid) ORDER BY doc_id""",

    // q44: segments = 1 + interior shared positions; total segment
    // nodes = way length + cuts (each cut duplicates its node)
    "q44_way_split" ->
      """WITH w AS (
           SELECT l_orderkey AS way_id, l_linenumber AS pos, l_partkey AS node FROM lineitem),
         len AS (SELECT way_id, COUNT(*) AS n FROM w GROUP BY 1),
         shared AS (
           SELECT node FROM (SELECT DISTINCT way_id, node FROM w) GROUP BY node
           HAVING COUNT(*) >= 2),
         ranked AS (
           SELECT way_id, node, ROW_NUMBER() OVER (PARTITION BY way_id ORDER BY pos) AS rk
           FROM w),
         cuts AS (
           SELECT r.way_id, COUNT(*) AS c FROM ranked r
           JOIN len l ON l.way_id = r.way_id
           JOIN shared s ON s.node = r.node
           WHERE r.rk > 1 AND r.rk < l.n
           GROUP BY 1)
         SELECT l.way_id AS way_id,
                CAST(1 + COALESCE(c.c, 0) AS BIGINT) AS segs,
                CAST(l.n + COALESCE(c.c, 0) AS BIGINT) AS seg_nodes
         FROM len l LEFT JOIN cuts c ON c.way_id = l.way_id
         WHERE l.n >= 2
         ORDER BY way_id""",

    "q14_knn_join" ->
      s"""WITH pts AS (SELECT o_orderkey AS k, $lonSql AS lon, $latSql AS lat FROM orders),
          sites AS (SELECT i, (i % 5) * 72.0 - 144.0 AS slon,
                           CAST(FLOOR(i / 5) AS INT) * 34.0 - 68.0 AS slat
                    FROM (SELECT UNNEST(GENERATE_SERIES(0, 24)) AS i)),
          ranked AS (
            SELECT printf('site_%02d', i) AS site_id,
              ROW_NUMBER() OVER (PARTITION BY k ORDER BY
                (slon - lon) * (slon - lon) + (slat - lat) * (slat - lat), i) AS rk
            FROM pts CROSS JOIN sites)
          SELECT site_id, COUNT(*) AS points FROM ranked WHERE rk = 1
          GROUP BY 1 ORDER BY 1""",

    "q15_waynode_join" ->
      """WITH v AS (
           SELECT l_orderkey AS k, l_linenumber AS ln,
             ((l_orderkey * 9973) % 36000) / 100.0 - 180.0 + l_linenumber * 0.003 AS x,
             ((l_orderkey * 7919) % 17000) / 100.0 - 85.0 + ((l_linenumber * 13) % 5) * 0.002 AS y
           FROM lineitem),
         agg AS (
           SELECT k, COUNT(*) AS n_pts,
             ARG_MIN(x, ln) AS x0, ARG_MIN(y, ln) AS y0,
             ARG_MAX(x, ln) AS x1, ARG_MAX(y, ln) AS y1
           FROM v GROUP BY k HAVING COUNT(*) >= 2)
         SELECT 'line_' || k AS doc_id, CAST(n_pts AS INT) AS n_pts, x0, y0, x1, y1
         FROM agg ORDER BY doc_id""",

    "q05_anti_semi_join" ->
      """WITH big AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_quantity >= 45)
         SELECT o_orderpriority,
           CAST(SUM(CASE WHEN b.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS without_big,
           CAST(SUM(CASE WHEN b.l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS with_big
         FROM orders o LEFT JOIN big b ON o.o_orderkey = b.l_orderkey
         GROUP BY 1 ORDER BY 1""",

    "q06_distinct_agg" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS suppliers,
           COUNT(DISTINCT l_partkey) AS parts, COUNT(*) AS rows
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "q07_rollup" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority, COUNT(*) AS n
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         ORDER BY 1, 2""",

    "q16_knn_bruteforce" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 10),
         s AS (SELECT qid, vec_id AS neighbor,
             ROUND(list_dot_product(qe, embedding::DOUBLE[]) /
               (SQRT(list_dot_product(qe, qe)) * SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS cos
           FROM q, embeddings WHERE vec_id != qid),
         r AS (SELECT qid, neighbor, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor) AS INT) AS rank
           FROM s)
         SELECT qid, rank, neighbor, cos FROM r WHERE rank <= 5 ORDER BY qid, rank""",

    "q17_embedding_norms" ->
      """WITH v AS (SELECT label,
           ROUND(SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS norm
           FROM embeddings)
         SELECT label, COUNT(*) AS n, MIN(norm) AS min_norm, MAX(norm) AS max_norm
         FROM v GROUP BY 1 ORDER BY 1""",

    "q23_ngram_jaccard" ->
      """WITH tok AS (
           SELECT id, UNNEST(sh) AS t FROM (
             SELECT doc_id AS id,
               LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 1, 2)),
                 i -> STRING_SPLIT(text, ' ')[i] || ' ' || STRING_SPLIT(text, ' ')[i+1] || ' ' || STRING_SPLIT(text, ' ')[i+2])) AS sh
             FROM documents)),
         sz AS (SELECT id, COUNT(*) AS n FROM tok GROUP BY 1),
         inter AS (SELECT a.id AS da, b.id AS db, COUNT(*) AS c
           FROM tok a JOIN tok b ON a.t = b.t AND a.id < b.id GROUP BY 1, 2)
         SELECT da, db, c, sa.n + sb.n - c AS u
         FROM inter JOIN sz sa ON sa.id = da JOIN sz sb ON sb.id = db
         WHERE c * 5 >= (sa.n + sb.n - c) * 4
         ORDER BY da, db""",

    "q18_ann_lsh" -> {
      // mirror Ann.lshTopK exactly: same literal planes, same sign
      // signature, same hamming<=1 multi-probe, same rounded re-rank
      val pm = graft.ann.Ann.planeMatrix(6, 64)
      val sigSql = (0 until 6).map { i =>
        s"(CASE WHEN list_dot_product(embedding::DOUBLE[], ${sqlArr(pm(i))}) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e,
              CAST($sigSql AS BIGINT) AS sig FROM embeddings),
          q AS (SELECT id AS qid, e AS qe, sig AS qsig FROM v WHERE id < 10),
          probes AS (SELECT qid, qe,
              UNNEST([qsig, xor(qsig, 1), xor(qsig, 2), xor(qsig, 4),
                      xor(qsig, 8), xor(qsig, 16), xor(qsig, 32)]) AS psig FROM q),
          scored AS (SELECT qid, v.id AS neighbor,
              ROUND(list_dot_product(qe, e) /
                (SQRT(list_dot_product(qe, qe)) * SQRT(list_dot_product(e, e))), 6) AS cos
            FROM probes JOIN v ON v.sig = probes.psig AND v.id != probes.qid),
          r AS (SELECT qid, neighbor, cos,
              CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor) AS INT) AS rank
            FROM scored)
          SELECT qid, rank, neighbor, cos FROM r WHERE rank <= 5 ORDER BY qid, rank"""
    },

    "q19_ann_ivf" ->
      """WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
         cents AS (SELECT id AS cid, e AS ce FROM v
                   ORDER BY (id::HUGEINT * 2654435761) % 4294967296, id LIMIT 8),
         dists AS (SELECT v.id, v.e, cid,
             list_reduce(list_transform(generate_series(1, len(e)),
               i -> (e[i] - ce[i]) * (e[i] - ce[i])), (a, b) -> a + b) AS d
           FROM v CROSS JOIN cents),
         asg AS (SELECT id, e, cid FROM (
             SELECT id, e, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
             FROM dists) WHERE rn = 1),
         probes AS (SELECT id AS qid, e AS qe, cid AS pcid FROM (
             SELECT id, e, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
             FROM dists WHERE id < 10) WHERE rn <= 2),
         scored AS (SELECT qid, asg.id AS neighbor,
             ROUND(list_dot_product(qe, e) /
               (SQRT(list_dot_product(qe, qe)) * SQRT(list_dot_product(e, e))), 6) AS cos
           FROM probes JOIN asg ON asg.cid = probes.pcid AND asg.id != probes.qid),
         r AS (SELECT qid, neighbor, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor) AS INT) AS rank
           FROM scored)
         SELECT qid, rank, neighbor, cos FROM r WHERE rank <= 5 ORDER BY qid, rank""",

    "q24_minhash_lsh" ->
      """WITH tok AS (
           SELECT id, UNNEST(sh) AS t FROM (
             SELECT doc_id AS id,
               LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 1, 2)),
                 i -> STRING_SPLIT(text, ' ')[i] || ' ' || STRING_SPLIT(text, ' ')[i+1] || ' ' || STRING_SPLIT(text, ' ')[i+2])) AS sh
             FROM documents)),
         sz AS (SELECT id, COUNT(*) AS n FROM tok GROUP BY 1),
         inter AS (SELECT a.id AS da, b.id AS db, COUNT(*) AS c
           FROM tok a JOIN tok b ON a.t = b.t AND a.id < b.id GROUP BY 1, 2)
         SELECT da, db, c, sa.n + sb.n - c AS u
         FROM inter JOIN sz sa ON sa.id = da JOIN sz sb ON sb.id = db
         WHERE c * 2 >= (sa.n + sb.n - c) * 1
         ORDER BY da, db""",

    "q25_simhash" ->
      s"""WITH toks AS (
            SELECT doc_id AS id, UNNEST(string_split_regex(text, '\\s+')) AS t
            FROM documents),
          th AS (SELECT id, $tokenHash60Sql AS h FROM toks),
          bits AS (SELECT id, i, SUM((h >> i) & 1) AS cnt, COUNT(*) AS n
            FROM th CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 59)) AS i)
            GROUP BY 1, 2),
          sig AS (SELECT id,
              CAST(SUM(CASE WHEN cnt * 2 > n THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS h
            FROM bits GROUP BY 1)
          SELECT a.id AS da, b.id AS db,
                 CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
          FROM sig a JOIN sig b ON a.id < b.id
          WHERE bit_count(xor(a.h, b.h)) <= 6
          ORDER BY da, db""",

    "q26_embedding_dedup" ->
      """WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
         p AS (SELECT a.id AS da, b.id AS db,
             ROUND(list_dot_product(a.e, b.e) /
               (SQRT(list_dot_product(a.e, a.e)) * SQRT(list_dot_product(b.e, b.e))), 6) AS cos
           FROM v a JOIN v b ON a.id < b.id)
         SELECT da, db, cos FROM p WHERE cos >= 0.95 ORDER BY da, db""",

    "q27_lang_quality" ->
      """WITH d AS (SELECT text, string_split_regex(text, '\s+') AS toks FROM documents),
         h AS (SELECT text, toks,
             len(list_filter(toks, x -> lower(x) IN ('der','die','und','das','ist','von','mit','für','auf','ein'))) AS h_de,
             len(list_filter(toks, x -> lower(x) IN ('the','and','of','to','in','is','that','for','with','a'))) AS h_en,
             len(list_filter(toks, x -> lower(x) IN ('el','la','de','que','y','en','un','por','con','los'))) AS h_es,
             len(list_filter(toks, x -> lower(x) IN ('le','la','et','les','des','en','un','du','une','est'))) AS h_fr
           FROM d),
         lp AS (SELECT text, toks,
             GREATEST(h_de, h_en, h_es, h_fr) AS best_hits,
             CASE WHEN h_fr = GREATEST(h_de, h_en, h_es, h_fr) THEN 'fr'
                  WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr) THEN 'es'
                  WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr) THEN 'en'
                  ELSE 'de' END AS best_lang
           FROM h),
         scored AS (SELECT
             CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                  WHEN best_hits > 0 THEN best_lang
                  ELSE 'und' END AS lang_pred,
             CAST(FLOOR((
               LEAST(CAST(len(toks) AS DOUBLE) / 64.0, 1.0) * 0.25 +
               CAST(len(list_distinct(toks)) AS DOUBLE) / GREATEST(CAST(len(toks) AS DOUBLE), 1.0) * 0.25 +
               (CAST(LENGTH(regexp_replace(text, '[^\p{L} ]', '', 'g')) AS DOUBLE) + 1.0) /
                 (CAST(LENGTH(text) AS DOUBLE) + 1.0) * 0.25 +
               (CASE WHEN (CAST(LENGTH(text) AS DOUBLE) + 1.0) / GREATEST(CAST(len(toks) AS DOUBLE), 1.0)
                     BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END) * 0.25
             ) * 10) AS BIGINT) AS q_decile
           FROM lp)
         SELECT lang_pred, q_decile, COUNT(*) AS docs
         FROM scored GROUP BY 1, 2 ORDER BY 1, 2""",

    "q28_fingerprint" ->
      """WITH f AS (
           SELECT source,
             substr(list_reduce(string_split_regex(text, '\s+'),
               (a, b) -> md5(a || '|' || b)), 1, 15) AS h
           FROM documents)
         SELECT source, COUNT(*) AS docs,
           COUNT(DISTINCT list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(h, ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
             (a, b) -> a * 16 + b)) AS distinct_fp
         FROM f GROUP BY 1 ORDER BY 1""",

    "q29_media_features" ->
      """WITH refs AS (
           SELECT DISTINCT 'media://img/' || CAST(o_orderkey % 97 AS VARCHAR) AS ref FROM orders
           UNION
           SELECT DISTINCT 'media://trk/' || CAST(k % 89 AS VARCHAR)
             FROM (SELECT l_orderkey AS k FROM lineitem GROUP BY 1 HAVING COUNT(*) >= 2)
           UNION
           SELECT DISTINCT 'media://adm/' || CAST(n_nationkey AS VARCHAR) FROM nation),
         hc AS (SELECT ref,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(ref, ''), c -> CAST(unicode(c) AS BIGINT))),
               (a, c) -> (((a * 31 + c + 2147483648) % 4294967296 + 4294967296) % 4294967296) - 2147483648) AS h
           FROM refs),
         k AS (SELECT ref,
             CASE ABS(h | 1) % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind
           FROM hc)
         SELECT kind, COUNT(*) AS n, CAST(16 AS INT) AS dim
         FROM k GROUP BY 1 ORDER BY 1""",

    "q20_exact_dedup" ->
      """SELECT md5(text) AS h, COUNT(*) AS copies, MIN(doc_id) AS canonical
         FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY canonical""",

    "q21_token_stats" ->
      """SELECT lang, COUNT(*) AS docs,
           CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS BIGINT) AS total_tokens,
           CAST(MAX(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS INT) AS max_tokens,
           CAST(MIN(LENGTH(text)) AS INT) AS min_chars
         FROM documents GROUP BY 1 ORDER BY 1""",

    "q22_quality_score" ->
      """WITH d AS (
           SELECT doc_id,
             ARRAY_LENGTH(STRING_SPLIT(text, ' ')) AS tokens,
             ARRAY_LENGTH(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS distinct_tokens
           FROM documents)
         SELECT CAST(FLOOR(distinct_tokens * 10.0 / tokens) AS BIGINT) AS uniq_decile,
                COUNT(*) AS docs
         FROM d GROUP BY 1 ORDER BY 1""",

    "q35_parse_functions" ->
      """SELECT s_suppkey,
           CAST(CASE s_suppkey % 5 WHEN 0 THEN -1 WHEN 1 THEN 1 WHEN 2 THEN 1 ELSE 0 END AS INT) AS dir,
           CAST(CASE s_suppkey % 6
             WHEN 0 THEN FLOOR((s_suppkey % 7) * 1000.0 + 0.5)
             WHEN 1 THEN FLOOR((s_suppkey % 7) * 1000.0 + 0.5)
             WHEN 2 THEN FLOOR((s_suppkey % 7) * 1000.0 * 1000 + 0.5)
             WHEN 3 THEN FLOOR((s_suppkey % 7) * 1609.344 * 1000.0 + 0.5)
             WHEN 4 THEN FLOOR(((s_suppkey % 7) * (12 * 0.0254) + 6 * 0.0254) * 1000.0 + 0.5)
             ELSE NULL END AS BIGINT) AS m_mm,
           (s_suppkey % 4) IN (1, 2) AS b,
           CAST(CASE s_suppkey % 8 WHEN 0 THEN 0 WHEN 1 THEN 19 WHEN 2 THEN 4 WHEN 3 THEN 3
             WHEN 4 THEN 7 WHEN 5 THEN 7 WHEN 6 THEN -7 ELSE 8 END AS INT) AS wz,
           CAST(CASE s_suppkey % 3 WHEN 0 THEN 123 WHEN 1 THEN -42 ELSE NULL END AS BIGINT) AS ln
         FROM supplier ORDER BY s_suppkey""",

    "q30_tumbling_window" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS win, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) AS v_c4
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    // q33: the admin layer is a 5x5 grid of rectangles; a tile at zoom z
    // carries a feature iff the rect clipped to the tile's buffered box
    // (buf = 4px/256 = 0.015625 tiles) has nonzero area after rounding
    // to extent-4096 ints (math.round == FLOOR(x+0.5)); x wraps, y clamps.
    "q33_tile_stats" -> {
      val wy = (latSql: String) =>
        s"(0.5 - 0.25 * ln((1 + sin(radians($latSql))) / (1 - sin(radians($latSql)))) / pi())"
      s"""WITH zs AS (SELECT UNNEST(GENERATE_SERIES(0, 6)) AS z),
          rect AS (SELECT n_nationkey AS pid,
            (((n_nationkey % 5) * 72.0 - 180.0) + 180.0) / 360.0 AS wx0,
            ((((n_nationkey % 5) * 72.0 - 180.0) + 72.0) + 180.0) / 360.0 AS wx1,
            ${wy("(FLOOR(n_nationkey / 5) * 34.0 - 85.0) + 34.0")} AS wy0,
            ${wy("FLOOR(n_nationkey / 5) * 34.0 - 85.0")} AS wy1
           FROM nation),
          txs AS (SELECT UNNEST(GENERATE_SERIES(-1, 64)) AS tx),
          tys AS (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS ty),
          cov AS (
           SELECT z, pid, ((tx % (1 << z)) + (1 << z)) % (1 << z) AS wx, ty
           FROM rect, zs, txs, tys
           WHERE tx >= FLOOR(wx0 * (1 << z) - 0.015625)
             AND tx <= FLOOR(wx1 * (1 << z) + 0.015625)
             AND ty >= GREATEST(0, FLOOR(wy0 * (1 << z) - 0.015625))
             AND ty <= LEAST((1 << z) - 1, FLOOR(wy1 * (1 << z) + 0.015625))
             AND FLOOR((LEAST(wx1 * (1 << z), tx + 1 + 0.015625) - tx) * 4096 + 0.5)
               > FLOOR((GREATEST(wx0 * (1 << z), tx - 0.015625) - tx) * 4096 + 0.5)
             AND FLOOR((LEAST(wy1 * (1 << z), ty + 1 + 0.015625) - ty) * 4096 + 0.5)
               > FLOOR((GREATEST(wy0 * (1 << z), ty - 0.015625) - ty) * 4096 + 0.5))
          SELECT CAST(z AS INT) AS z,
                 COUNT(DISTINCT (wx, ty)) AS tiles,
                 CAST(COUNT(DISTINCT (pid, wx, ty)) AS BIGINT) AS features
          FROM cov GROUP BY 1 ORDER BY 1"""
    },

    // q34/q40: the config profile keeps point docs matching 'order F%'
    // at z0-5; the routes layer (z2-3) is provably gated out by the 1px
    // min-size rule (max line span incl. mercator y-stretch < 0.6px at
    // z3), so the cover is the buffered point fan-out alone. q40 runs
    // the SAME profile compiled from the YAML front end.
    "q34_config_profile" -> configProfileOracle,
    "q40_yaml_profile" -> configProfileOracle,

    "q38_salted_agg" ->
      """SELECT l_returnflag,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
           COUNT(*) AS n,
           MAX(l_partkey) AS max_part
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "q37_dup_clusters" ->
      """WITH RECURSIVE tok AS (
           SELECT id, UNNEST(sh) AS t FROM (
             SELECT doc_id AS id,
               LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 1, 2)),
                 i -> STRING_SPLIT(text, ' ')[i] || ' ' || STRING_SPLIT(text, ' ')[i+1] || ' ' || STRING_SPLIT(text, ' ')[i+2])) AS sh
             FROM documents)),
         sz AS (SELECT id, COUNT(*) AS n FROM tok GROUP BY 1),
         inter AS (SELECT a.id AS da, b.id AS db, COUNT(*) AS c
           FROM tok a JOIN tok b ON a.t = b.t AND a.id < b.id GROUP BY 1, 2),
         pairs AS (SELECT da, db
           FROM inter JOIN sz sa ON sa.id = da JOIN sz sb ON sb.id = db
           WHERE c * 2 >= (sa.n + sb.n - c) * 1),
         edges AS (SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs),
         nodes AS (SELECT DISTINCT u AS id FROM edges),
         reach(id, label) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.id),
         lab AS (SELECT id, MIN(label) AS label FROM reach GROUP BY 1)
         SELECT label AS cluster, COUNT(*) AS members, MAX(id) AS max_member
         FROM lab GROUP BY 1 ORDER BY 1""",

    "q36_cel_attrs" ->
      """SELECT s_suppkey,
           REPLACE(s_name, 'Supplier#', 'S') || '/' || CAST(s_suppkey % 7 AS VARCHAR) AS computed,
           CASE WHEN s_suppkey % 2 = 0 THEN 'even' ELSE 'odd' END AS branchy,
           '190' AS folded
         FROM supplier ORDER BY s_suppkey""",

    "q31_sessionize" ->
      """WITH e AS (
           SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR EPOCH(ts) - EPOCH(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                  THEN 1 ELSE 0 END AS new_session
           FROM events),
         s AS (
           SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
           FROM e)
         SELECT user_id, CAST(MAX(session_idx) AS BIGINT) AS sessions, COUNT(*) AS events
         FROM s GROUP BY 1 ORDER BY 1""",

    // q69: (x, y) from the INVERSE Hilbert walk (d -> xy on a 2^10
    // grid: rx = (t//2)&1, ry = (t xor rx)&1; ry=0 reflects+swaps),
    // payload hex from the same md5 arithmetic as the fixture
    "q69_archive_roundtrip" ->
      """WITH RECURSIVE ks AS (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier),
         walk(k, t, x, y, s) AS (
           SELECT k, k, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT) FROM ks
           UNION ALL
           SELECT k, t // 4,
             (CASE WHEN (xor(t, t // 2) & 1) = 0
                   THEN (CASE WHEN ((t // 2) & 1) = 1 THEN s - 1 - y ELSE y END)
                   ELSE x END) + s * ((t // 2) & 1),
             (CASE WHEN (xor(t, t // 2) & 1) = 0
                   THEN (CASE WHEN ((t // 2) & 1) = 1 THEN s - 1 - x ELSE x END)
                   ELSE y END) + s * (xor(t, t // 2) & 1),
             s * 2
           FROM walk WHERE s < 1024),
         coords AS (SELECT k, x, y FROM walk WHERE s = 1024)
         SELECT f.fmt, 10 AS z, CAST(x AS INT) AS x, CAST(y AS INT) AS y,
           CASE WHEN k % 10 = 0 THEN repeat('ab', 16)
                ELSE md5('t' || CAST(k AS VARCHAR)) END AS payload_hex
         FROM coords CROSS JOIN (VALUES ('pmtiles'), ('mbtiles')) AS f(fmt)
         ORDER BY f.fmt, x, y""",

    // q70: same inverse-Hilbert + md5 replay, one row per tile (the
    // files archive has no per-format fan-out)
    "q70_files_archive" ->
      """WITH RECURSIVE ks AS (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier),
         walk(k, t, x, y, s) AS (
           SELECT k, k, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT) FROM ks
           UNION ALL
           SELECT k, t // 4,
             (CASE WHEN (xor(t, t // 2) & 1) = 0
                   THEN (CASE WHEN ((t // 2) & 1) = 1 THEN s - 1 - y ELSE y END)
                   ELSE x END) + s * ((t // 2) & 1),
             (CASE WHEN (xor(t, t // 2) & 1) = 0
                   THEN (CASE WHEN ((t // 2) & 1) = 1 THEN s - 1 - x ELSE x END)
                   ELSE y END) + s * (xor(t, t // 2) & 1),
             s * 2
           FROM walk WHERE s < 1024)
         SELECT 10 AS z, CAST(x AS INT) AS x, CAST(y AS INT) AS y,
           CASE WHEN k % 10 = 0 THEN repeat('ab', 16)
                ELSE md5('t' || CAST(k AS VARCHAR)) END AS payload_hex
         FROM walk WHERE s = 1024 ORDER BY x, y""",

    // q71-q73: the REAL media codecs (JDK javax.imageio / javax.sound)
    // — the engine encodes deterministic pixel/sample patterns, decodes
    // them back on executors, and the oracle replays the pattern
    // arithmetic; lossless formats (PNG, <=256-color GIF, PCM WAV)
    // make the comparison exact to the last pixel/sample.
    "q71_image_decode" ->
      """WITH px AS (
           SELECT n_nationkey AS nk, x, y
           FROM nation, generate_series(0, 39) g1(x), generate_series(0, 27) g2(y)
           WHERE x < 16 + (n_nationkey % 7) * 4 AND y < 12 + (n_nationkey % 5) * 4)
         SELECT CAST(nk AS INT) AS nk,
           CAST(16 + (nk % 7) * 4 AS INT) AS width,
           CAST(12 + (nk % 5) * 4 AS INT) AS height,
           CAST(SUM((x*7 + y*11 + nk*13) % 256
                  + (x*3 + y*5 + nk*17) % 256
                  + (x*13 + y*3 + nk*29) % 256) AS BIGINT) AS lum_sum
         FROM px GROUP BY nk ORDER BY nk""",

    "q72_audio_decode" ->
      """WITH s AS (
           SELECT n_nationkey AS nk, i,
             (i*i % 7919 + i*31 + n_nationkey*101) % 65536 - 32768 AS v
           FROM nation, generate_series(0, 1387) g(i)
           WHERE i < 500 + n_nationkey * 37)
         SELECT CAST(nk AS INT) AS nk, CAST(COUNT(*) AS INT) AS n_samples,
           CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
           CAST(MIN(v) AS INT) AS min_s, CAST(MAX(v) AS INT) AS max_s
         FROM s GROUP BY nk ORDER BY nk""",

    "q73_video_frames" ->
      """WITH fr AS (
           SELECT n_nationkey AS nk, f, 6 + ((n_nationkey + f) % 5) AS delay_cs
           FROM nation, generate_series(0, 4) g(f)
           WHERE f < 2 + n_nationkey % 4),
         px AS (
           SELECT nk, f, delay_cs,
             3 * SUM((x*7 + y*11 + f*37 + nk*5) % 256) AS lum
           FROM fr, generate_series(0, 19) gx(x), generate_series(0, 13) gy(y)
           GROUP BY nk, f, delay_cs)
         SELECT CAST(nk AS INT) AS nk, CAST(f AS INT) AS frame,
           CAST(delay_cs AS INT) AS delay_cs, CAST(lum AS BIGINT) AS lum_sum
         FROM px ORDER BY nk, frame""",

    // NOTE: like the q23/q37 shingle replays, this oracle's
    // single-space string_split mirrors ShinglesExpr only on the gate
    // corpus's contract (single-spaced text, >=3 tokens per doc) —
    // irregular whitespace or 2-token docs would tokenize differently.
    "q74_decontaminate" ->
      s"""WITH sh AS (
           SELECT DISTINCT doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(substr(md5(s), 1, 15), ''),
                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
               (a, b) -> a * 16 + b) AS h
           FROM (
             SELECT doc_id,
               UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                 RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 1, 2)),
                 i -> STRING_SPLIT(text, ' ')[i] || ' ' || STRING_SPLIT(text, ' ')[i+1]
                      || ' ' || STRING_SPLIT(text, ' ')[i+2]))) AS s
             FROM documents)),
         pairs AS (
           SELECT t.doc_id AS train_id, b.doc_id AS bench_id, COUNT(*) AS ov
           FROM sh t JOIN (SELECT * FROM sh WHERE doc_id % 37 = 3) b USING (h)
           WHERE t.doc_id <> b.doc_id
           GROUP BY 1, 2)
         SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS contaminated,
           CAST(SUM(ov) AS BIGINT) AS overlap_total
         FROM pairs GROUP BY 1 ORDER BY 1""",

    "q75_stratified_sample" ->
      """WITH s AS (
           SELECT lang, source, doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(substr(md5('graft-q75:' || CAST(doc_id AS VARCHAR)), 1, 15), ''),
                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
               (a, b) -> a * 16 + b) AS h,
             CASE lang WHEN 'en' THEN 576460752303423488
                       WHEN 'de' THEN 288230376151711744
                       ELSE 144115188075855872 END AS thr
           FROM documents)
         SELECT lang, source, COUNT(*) AS sampled,
           CAST(SUM(doc_id) AS BIGINT) AS key_sum
         FROM s WHERE h < thr GROUP BY 1, 2 ORDER BY 1, 2""",

    "q76_pii_redact" ->
      """WITH aug AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail'
                  || CAST(doc_id % 7 AS VARCHAR) || '.org or +440'
                  || lpad(CAST(doc_id % 100000 AS VARCHAR), 7, '0')
                  || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                  || CAST(doc_id % 100 AS VARCHAR) || ' end' AS t
           FROM documents),
         red AS (
           SELECT doc_id, t,
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
           FROM aug)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS emails,
           CAST(len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS ips,
           CAST(len(regexp_extract_all(t1, '\+\d{7,15}')) AS INT) AS phones,
           md5(regexp_replace(regexp_replace(t1,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\+\d{7,15}', '<PHONE>', 'g')) AS redacted_md5
         FROM red ORDER BY doc_id"""
  )
}
