package graft

import graft.engine.{Docs, SpatialJoin}
import graft.geo.Geo
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Big-big point-in-polygon: the per-cell indexed probe must
  * reproduce the broadcast STRtree path exactly (including the
  * smallest-id tie-break on overlaps) — the scale route once the
  * polygon side exceeds the broadcast cap. */
class SpatialJoinPartitionedSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def square(cx: Double, cy: Double, h: Double): Array[Byte] =
    Geo.toWkb(Geo.factory.toGeometry(new org.locationtech.jts.geom.Envelope(cx - h, cx + h, cy - h, cy + h)))

  /** A megacity: one z7 cell holding 2k points and 200 overlapping
    * squares (ids shuffled, so id order is not insertion order), plus
    * 1k points and 100 squares spread over many cells, some of them
    * spanning cell edges. A few points sit on square edges and corners
    * (covered, not contained), and a few have a null lon or lat. */
  private lazy val megacity: (Seq[(String, Option[Double], Option[Double])], Seq[(String, Array[Byte])]) = {
    val r = new java.util.Random(8)
    val nz = 1 << 7
    val (w, e) = (graft.geo.Mercator.lon(64.0 / nz), graft.geo.Mercator.lon(65.0 / nz))
    val (n, so) = (graft.geo.Mercator.lat(44.0 / nz), graft.geo.Mercator.lat(45.0 / nz))
    def in(lo: Double, hi: Double) = lo + r.nextDouble() * (hi - lo)
    val (bw, be, bs, bn) = (w + 0.3, e - 0.3, so + 0.3, n - 0.3)
    val megaSquares = (0 until 200).map(_ => (in(bw, be), in(bs, bn), in(0.02, 0.25)))
    val spreadSquares = (0 until 100).map(_ => (in(-120, 120), in(-55, 65), in(0.2, 2.0)))
    val ids = scala.util.Random.javaRandomToRandom(r).shuffle((0 until 300).toList)
    val polys = (megaSquares ++ spreadSquares).zip(ids).map { case ((cx, cy, h), id) =>
      (s"adm_$id", square(cx, cy, h)) }
    val onEdges = megaSquares.take(20).flatMap { case (cx, cy, h) =>
      Seq((cx - h, cy), (cx + h, cy + h)) }
    val pts = (0 until 2000).map(_ => (in(bw, be), in(bs, bn))) ++ onEdges ++
      (0 until 1000).map(_ => (in(-120, 120), in(-55, 65)))
    val withIds = pts.zipWithIndex.map { case ((lon, lat), i) => (s"pt_$i", Option(lon), Option(lat)) }
    (withIds ++ Seq(("pt_nolon", None, Some(40.0)), ("pt_nolat", Some(10.0), None),
      ("pt_none", None, None)), polys)
  }

  /** poly_id per point id from the partitioned join. */
  private def assigned(df: org.apache.spark.sql.DataFrame): Map[String, Option[String]] = {
    val rows = df.select(col("doc_id"), col("poly_id")).collect()
    val out = rows.map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out.size == rows.length, "one row per point")
    out
  }

  /** The broadcast probe over all polygons: what every point must get. */
  private def expected(pts: Seq[(String, Option[Double], Option[Double])],
                       polys: Seq[(String, Array[Byte])]): Map[String, Option[String]] = {
    val index = new SpatialJoin.PolygonIndex(polys.map { case (id, g) => SpatialJoin.Poly(id, g, Map.empty) }.toArray)
    pts.map {
      case (id, Some(lon), Some(lat)) => id -> index.firstContaining(lon, lat).map(_.id)
      case (id, _, _) => id -> None
    }.toMap
  }

  private def checkBothModes(polys: Seq[(String, Array[Byte])], gridZoom: Int): Unit = {
    import spark.implicits._
    val (pts, _) = megacity
    val ptsDf = pts.toDF("doc_id", "lon", "lat")
    val polysDf = polys.toDF("doc_id", "geom")
    val want = expected(pts, polys)
    assert(want.values.count(_.nonEmpty) > 1500, "the fixture must exercise matches")
    val left = assigned(SpatialJoin.pointInPolygonPartitioned(ptsDf, polysDf, gridZoom = gridZoom, left = true))
    assert(left == want)
    Seq("pt_nolon", "pt_nolat", "pt_none").foreach(id => assert(left(id).isEmpty))
    val inner = assigned(SpatialJoin.pointInPolygonPartitioned(ptsDf, polysDf, gridZoom = gridZoom))
    assert(inner == want.collect { case (k, v @ Some(_)) => k -> v })
  }

  test("megacity cell: every point gets PolygonIndex.firstContaining, inner and left") {
    checkBothModes(megacity._2, gridZoom = 7)
  }

  test("megacity cell with a world polygon: the mixed-zoom merge keeps the smallest id") {
    val world = Geo.toWkb(Geo.fromWktOrNull("POLYGON ((-180 -90, 180 -90, 180 90, -180 90, -180 -90))"))
    // adm_150 sits mid-range: it must lose to smaller megacity ids and
    // beat larger ones, across the zoom-0 and zoom-7 cells
    checkBothModes(megacity._2 :+ ("adm_150" -> world), gridZoom = 7)
  }

  test("output columns keep the join's order: idCol, the other point columns, poly_id") {
    import spark.implicits._
    val polys = Seq(("adm_1", square(10, 10, 5))).toDF("doc_id", "geom")
    val pts = Seq((10.0, "p1", 10.0, 7L), (50.0, "p2", 50.0, 8L)).toDF("lon", "doc_id", "lat", "extra")
    for (left <- Seq(false, true)) {
      val out = SpatialJoin.pointInPolygonPartitioned(pts, polys, left = left)
      assert(out.columns.toSeq == Seq("doc_id", "lon", "lat", "extra", "poly_id"))
      assert(out.schema.map(_.dataType) == Seq(pts.schema("doc_id"), pts.schema("lon"),
        pts.schema("lat"), pts.schema("extra")).map(_.dataType) :+ org.apache.spark.sql.types.StringType)
      val rows = out.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3),
        Option(r.getString(4)))).toSet
      val hit = ("p1", 10.0, 10.0, 7L, Some("adm_1"))
      assert(rows == (if (left) Set(hit, ("p2", 50.0, 50.0, 8L, None)) else Set(hit)))
      // an empty polygon side: same columns, nothing matches
      val none = SpatialJoin.pointInPolygonPartitioned(pts, polys.limit(0), left = left)
      assert(none.columns.toSeq == out.columns.toSeq)
      assert(none.collect().map(r => (r.getString(0), Option(r.getString(4)))).toSet ==
        (if (left) Set(("p1", None), ("p2", None)) else Set.empty))
    }
  }

  test("one-zoom physical plan: one cogroup, no aggregate, no join back") {
    import org.apache.spark.sql.execution.{CoGroupExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import spark.implicits._
    val (pts, polys) = megacity
    val ptsDf = pts.toDF("doc_id", "lon", "lat")
    def plan(p: Seq[(String, Array[Byte])], left: Boolean): SparkPlan =
      SpatialJoin.pointInPolygonPartitioned(ptsDf, p.toDF("doc_id", "geom"), left = left)
        .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case other => other
      }
    def shape(p: SparkPlan) = (p.collect { case c: CoGroupExec => c }.length,
      p.collect { case a: BaseAggregateExec => a }.length, p.collect { case j: BaseJoinExec => j }.length)
    for (left <- Seq(false, true))
      assert(shape(plan(polys, left)) == ((1, 0, 0)), s"left=$left")
    // with a second zoom the per-point merge and the join back return
    val world = Geo.toWkb(Geo.fromWktOrNull("POLYGON ((-180 -90, 180 -90, 180 90, -180 90, -180 -90))"))
    val (cogroups, aggs, joins) = shape(plan(polys :+ ("adm_0" -> world), left = true))
    assert(cogroups == 1 && aggs > 0 && joins == 1)
  }

  test("partitioned PIP equals the broadcast path on the admin fixture") {
    import spark.implicits._
    val sf = Docs.pointFeatures(spark, "/root/testdata/sf0.001")
    val pts = sf.map { f =>
      val c = Geo.fromWkb(f.geom).getCoordinate
      (f.doc_id, c.x, c.y)
    }.toDF("doc_id", "lon", "lat")
    val polysDf = Docs.sourceFeatures(Docs.polygonDocs(spark, "/root/testdata/sf0.001")).toDF()

    val broadcastOut = SpatialJoin.pointInPolygon(
        pts, SpatialJoin.collectPolys(polysDf), left = true)
      .select(col("doc_id"), col("poly_id")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    val partitionedOut = SpatialJoin.pointInPolygonPartitioned(
        pts, polysDf, gridZoom = 5, left = true)
      .select(col("doc_id"), col("poly_id")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(partitionedOut == broadcastOut)
    assert(partitionedOut.values.flatten.toSet.nonEmpty)

    // inner variant drops the unmatched probes in both paths
    val inner = SpatialJoin.pointInPolygonPartitioned(pts, polysDf, gridZoom = 5)
      .count()
    assert(inner == broadcastOut.values.flatten.size)
  }

  test("overlapping polygons: smallest id wins in both paths") {
    import spark.implicits._
    val big = Geo.toWkb(Geo.fromWktOrNull("POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0))"))
    val small = Geo.toWkb(Geo.fromWktOrNull("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"))
    // adm_2 is the LARGER polygon with the smaller id -> it must win
    val polys = Seq(("adm_10", small, Map.empty[String, String]),
      ("adm_2", big, Map.empty[String, String])).toDF("doc_id", "geom", "tags")
    val pts = Seq(("p1", 10.0, 10.0), ("p2", 1.0, 1.0), ("p3", 50.0, 50.0))
      .toDF("doc_id", "lon", "lat")
    val part = SpatialJoin.pointInPolygonPartitioned(pts, polys, gridZoom = 4, left = true)
      .collect().map(r => r.getString(0) -> Option(r.getString(3))).toMap
    assert(part("p1").contains("adm_2"))
    assert(part("p2").contains("adm_2"))
    assert(part("p3").isEmpty)
    val bc = SpatialJoin.pointInPolygon(pts,
      polys.collect().map(r => SpatialJoin.Poly(r.getString(0),
        r.getAs[Array[Byte]](1), Map.empty)), left = true)
      .collect().map(r => r.getString(0) -> Option(r.getString(3))).toMap
    assert(bc == part)
  }

  test("world-spanning polygon: bounded fan-out via adaptive zoom + covered cells") {
    import spark.implicits._
    // a world-covering polygon at gridZoom 10 would naively fan to
    // 2^20 cell rows; chooseZoom must pick a coarse zoom that keeps it
    // within the fan-out budget
    val world = Geo.fromWktOrNull(
      "POLYGON ((-180 -90, 180 -90, 180 90, -180 90, -180 -90))")
    val env = world.getEnvelopeInternal
    val z = SpatialJoin.chooseZoom(env, gridZoom = 10, maxCells = 1024)
    val (x0, x1, y0, y1) = SpatialJoin.envWindow(env, z)
    assert((x1 - x0 + 1).toLong * (y1 - y0 + 1) <= 1024,
      s"world polygon fan-out must stay within budget (z=$z)")

    // the join itself completes at gridZoom 10 and matches broadcast —
    // including a high-latitude point (edge cells reach the poles) and
    // a small polygon that should win by id over the world polygon
    val small = Geo.toWkb(Geo.fromWktOrNull("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"))
    val polys = Seq(("adm_9", Geo.toWkb(world), Map.empty[String, String]),
      ("adm_3", small, Map.empty[String, String])).toDF("doc_id", "geom", "tags")
    val pts = Seq(("p1", 10.0, 10.0), ("p2", -120.0, 88.5), ("p3", 170.0, -45.0))
      .toDF("doc_id", "lon", "lat")
    val part = SpatialJoin.pointInPolygonPartitioned(pts, polys, gridZoom = 10, left = true)
      .collect().map(r => r.getString(0) -> Option(r.getString(3))).toMap
    val bc = SpatialJoin.pointInPolygon(pts,
      polys.collect().map(r => SpatialJoin.Poly(r.getString(0),
        r.getAs[Array[Byte]](1), Map.empty)), left = true)
      .collect().map(r => r.getString(0) -> Option(r.getString(3))).toMap
    assert(part == bc)
    assert(part("p1").contains("adm_3"), "small polygon wins by id")
    assert(part("p2").contains("adm_9"), "polar point matches via edge cell")
    assert(part("p3").contains("adm_9"))
  }

  test("attachContainingPolygonTag: ambiguous (doc_id, lon) concatenations stay distinct") {
    import spark.implicits._
    // "way/1" @ lon 23.5 and "way/12" @ lon 3.5 concatenate to the
    // same string without a separator — each must still get ITS OWN
    // polygon, not a swapped/arbitrary assignment via a collided
    // join-back key
    val west = Geo.toWkb(Geo.fromWktOrNull("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))
    val east = Geo.toWkb(Geo.fromWktOrNull("POLYGON ((20 0, 30 0, 30 10, 20 10, 20 0))"))
    val polys = Seq(("adm_west", west, Map.empty[String, String]),
      ("adm_east", east, Map.empty[String, String])).toDF("doc_id", "geom", "tags")
    def pt(id: String, lon: Double, lat: Double) =
      graft.model.SourceFeature(id, "osm",
        Geo.toWkb(Geo.factory.createPoint(new org.locationtech.jts.geom.Coordinate(lon, lat))),
        Map.empty, 0L)
    val feats = Seq(pt("way/1", 23.5, 5.0), pt("way/12", 3.5, 5.0)).toDS()
    val out = SpatialJoin.attachContainingPolygonTag(feats, polys, tagKey = "adm", gridZoom = 4)
      .collect().map(f => f.doc_id -> f.tags.get("adm")).toMap
    assert(out("way/1").contains("adm_east"))
    assert(out("way/12").contains("adm_west"))
  }

  test("stale input tags under the reserved PIP key are stripped, never emitted as assignments") {
    import spark.implicits._
    val west = Geo.toWkb(Geo.fromWktOrNull("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))
    val polys = Seq(("adm_west", west, Map.empty[String, String])).toDF("doc_id", "geom", "tags")
    def pt(id: String, lon: Double, lat: Double, tags: Map[String, String]) =
      graft.model.SourceFeature(id, "osm",
        Geo.toWkb(Geo.factory.createPoint(new org.locationtech.jts.geom.Coordinate(lon, lat))),
        tags, 0L)
    val bogus = Map(SpatialJoin.PipTagKey -> "adm_spoofed")
    val feats = Seq(
      pt("inside", 5.0, 5.0, bogus),   // contained: real assignment must replace the spoof
      pt("outside", 50.0, 50.0, bogus) // uncontained: the spoof must be stripped, not kept
    ).toDS()
    val out = SpatialJoin.attachContainingPolygonTag(feats, polys, gridZoom = 4)
      .collect().map(f => f.doc_id -> f.tags.get(SpatialJoin.PipTagKey)).toMap
    assert(out("inside").contains("adm_west"))
    assert(out("outside").isEmpty)
  }
}
