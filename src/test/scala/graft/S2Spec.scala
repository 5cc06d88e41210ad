package graft

import graft.geo.S2
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the from-scratch S2 cell index (geo/S2.scala). Two
  * independently-written encoders (lookup-table walk vs bit-by-bit
  * state machine) are asserted identical, then the structure is pinned
  * by round trips, containment, neighbor symmetry, and covering
  * supersets — the same verification style the published library's own
  * s2cell_id_test uses. */
class S2Spec extends AnyFunSuite {

  private val rnd = new java.util.Random(7)

  test("lookup-table and bit-by-bit encoders agree; decode round-trips") {
    for (_ <- 1 to 20000) {
      val f = rnd.nextInt(6); val i = rnd.nextInt(S2.MaxSize); val j = rnd.nextInt(S2.MaxSize)
      val id = S2.fromFaceIj(f, i, j)
      assert(id == S2.fromFaceIjSlow(f, i, j))
      val (f2, i2, j2, _) = S2.toFaceIjOrientation(id)
      assert((f2, i2, j2) == (f, i, j))
      assert(S2.isLeaf(id) && S2.level(id) == 30 && S2.face(id) == f)
    }
  }

  test("structural corners: face cells, first/last leaf, id layout") {
    for (f <- 0 until 6) {
      // level-0 cell of face f: face bits + the level-0 lsb
      val faceCell = S2.parent(S2.fromFaceIj(f, 0, 0), 0)
      assert(faceCell == ((f.toLong << 61) | (1L << 60)))
      assert(S2.level(faceCell) == 0 && S2.face(faceCell) == f)
      // every leaf of the face is inside its range
      assert(S2.rangeMin(faceCell) == ((f.toLong << 61) | 1L))
      assert(S2.rangeMax(faceCell) == ((f.toLong << 61) | ((1L << 61) - 1)))
    }
    // the 6 face cells tile the id space contiguously in unsigned order
    // (leaf ids are odd, so consecutive face ranges differ by one step)
    val faces = (0 until 6).map(f => S2.parent(S2.fromFaceIj(f, 0, 0), 0))
    faces.sliding(2).foreach { case Seq(a, b) =>
      assert(S2.rangeMax(a) + 2 == S2.rangeMin(b))
    }
  }

  test("parent containment chain and level arithmetic") {
    for (_ <- 1 to 2000) {
      val id = S2.leafCellId(rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)
      var last = id
      for (l <- 29 to 0 by -1) {
        val p = S2.parent(id, l)
        assert(S2.level(p) == l)
        assert(S2.contains(p, id) && S2.contains(p, last))
        assert(!S2.contains(last, p)) // child never contains parent
        last = p
      }
    }
  }

  test("leaf center is within a leaf diagonal of the encoded point") {
    var worst = 0.0
    for (_ <- 1 to 5000) {
      val lon = rnd.nextDouble() * 360 - 180; val lat = rnd.nextDouble() * 180 - 90
      val (lon2, lat2) = S2.centerLonLat(S2.leafCellId(lon, lat))
      worst = math.max(worst, S2.angularDistance(lon, lat, lon2, lat2))
    }
    // full leaf diagonal (generous bound: corner cells are the widest)
    assert(worst < 4 * S2.maxHalfDiagRadians(30), s"worst=$worst")
  }

  test("token encode/decode round-trips at every level") {
    for (_ <- 1 to 5000) {
      val f = rnd.nextInt(6); val i = rnd.nextInt(S2.MaxSize); val j = rnd.nextInt(S2.MaxSize)
      val id = S2.parent(S2.fromFaceIj(f, i, j), rnd.nextInt(31))
      assert(S2.fromToken(S2.token(id)) == id)
      assert(!S2.token(id).endsWith("0"))
    }
    assert(S2.fromToken("X") == 0L)
  }

  test("edge neighbors: 4 distinct, same level, symmetric, adjacent across faces") {
    for (_ <- 1 to 2000) {
      val lvl = 1 + rnd.nextInt(20)
      val id = S2.cellId(rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90, lvl)
      val ns = S2.edgeNeighbors(id)
      assert(ns.distinct.length == 4)
      for (n <- ns) {
        assert(S2.level(n) == lvl)
        assert(S2.edgeNeighbors(n).contains(id), "neighbor relation must be symmetric")
      }
    }
    // a face-corner cell's neighbors span multiple faces
    val corner = S2.parent(S2.fromFaceIj(0, 0, 0), 5)
    assert(S2.edgeNeighbors(corner).map(S2.face).distinct.length > 1)
  }

  test("cap cover is a superset: every point within the radius lands in a covered cell") {
    for (_ <- 1 to 30) {
      val lon = rnd.nextDouble() * 360 - 180; val lat = rnd.nextDouble() * 170 - 85
      val rM = 1000 + rnd.nextInt(500000)
      val cover = S2.capCover(lon, lat, rM, 8).toSet
      for (_ <- 1 to 200) {
        val ang = rnd.nextDouble() * math.Pi * 2
        val dist = rnd.nextDouble() * rM / 6371008.8
        val latR = math.toRadians(lat)
        val lat2 = math.asin(math.sin(latR) * math.cos(dist) +
          math.cos(latR) * math.sin(dist) * math.cos(ang))
        val lon2 = math.toRadians(lon) + math.atan2(
          math.sin(ang) * math.sin(dist) * math.cos(latR),
          math.cos(dist) - math.sin(latR) * math.sin(lat2))
        assert(cover.contains(
          S2.cellId(math.toDegrees(lon2), math.toDegrees(lat2), 8)))
      }
    }
  }

  test("polar behavior: high-latitude cells stay compact (no mercator blow-up)") {
    // at lat 89.9 a level-12 cell still has 4 same-level neighbors and
    // its center is close; mercator tiles at z12 are degenerate there
    val id = S2.cellId(45.0, 89.9, 12)
    val (lonC, latC) = S2.centerLonLat(id)
    assert(S2.angularDistance(45.0, 89.9, lonC, latC) < 2 * S2.maxHalfDiagRadians(12))
    assert(S2.edgeNeighbors(id).forall(n => S2.level(n) == 12))
    // poles themselves encode on faces 2 / 5
    assert(S2.face(S2.leafCellId(0, 90)) == 2)
    assert(S2.face(S2.leafCellId(0, -90)) == 5)
  }

  test("equal-level cells have bounded area spread across the globe (quadratic projection)") {
    // sample leaf-aligned level-10 cells everywhere; the quadratic
    // transform bounds max/min cell area ratio near 2.1 (published
    // property); linear projection would give ~5.2
    val areas = for (_ <- 1 to 4000) yield {
      val id = S2.cellId(rnd.nextDouble() * 360 - 180,
        math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1)), 10)
      val (f, i, j, _) = S2.toFaceIjOrientation(id)
      val size = 1 << (30 - 10)
      val i0 = i - (i % size); val j0 = j - (j % size)
      def xyz(ii: Int, jj: Int) = {
        val (x, y, z) = S2.faceUvToXyz(f, S2.stToUv(ii.toDouble / S2.MaxSize),
          S2.stToUv(jj.toDouble / S2.MaxSize))
        val n = math.sqrt(x * x + y * y + z * z); (x / n, y / n, z / n)
      }
      // planar quad area of the projected corners approximates cell area
      val Seq(a, b, c, d) = Seq(xyz(i0, j0), xyz(i0 + size, j0),
        xyz(i0 + size, j0 + size), xyz(i0, j0 + size))
      def tri(p: (Double, Double, Double), q: (Double, Double, Double), r: (Double, Double, Double)) = {
        val ux = q._1 - p._1; val uy = q._2 - p._2; val uz = q._3 - p._3
        val vx = r._1 - p._1; val vy = r._2 - p._2; val vz = r._3 - p._3
        val cx = uy * vz - uz * vy; val cy = uz * vx - ux * vz; val cz = ux * vy - uy * vx
        0.5 * math.sqrt(cx * cx + cy * cy + cz * cz)
      }
      tri(a, b, c) + tri(a, c, d)
    }
    val ratio = areas.max / areas.min
    assert(ratio < 2.3, s"area spread $ratio exceeds the quadratic-projection bound")
  }
}

/** Distributed S2-bucketed radius join: one cell-key shuffle + exact
  * verify must equal the brute-force cross join, including at high
  * latitude where mercator-grid bucketing degenerates. */
class S2JoinSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("radiusJoinS2 equals brute-force cross join, equator through lat 84") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new java.util.Random(11)
    // clustered points spanning equator, mid, and polar bands
    val pts = (1 to 600).map { k =>
      val band = k % 3
      val lat = band match {
        case 0 => rnd.nextDouble() * 4 - 2
        case 1 => 45 + rnd.nextDouble() * 4
        case _ => 82 + rnd.nextDouble() * 2
      }
      (s"p$k", rnd.nextDouble() * 8 - 4, lat)
    }.toDF("doc_id", "lon", "lat")
    val sites = (1 to 80).map { k =>
      val band = k % 3
      val lat = band match {
        case 0 => rnd.nextDouble() * 4 - 2
        case 1 => 45 + rnd.nextDouble() * 4
        case _ => 82 + rnd.nextDouble() * 2
      }
      (s"s$k", rnd.nextDouble() * 8 - 4, lat)
    }.toDF("site_id", "slon", "slat")
    val radius = 120000.0 // 120 km

    val got = graft.engine.SpatialJoin.radiusJoinS2(
        pts, sites.select(col("site_id"), col("slon").as("lon"), col("slat").as("lat")),
        radius)
      .select("doc_id", "site_id").as[(String, String)].collect().toSet

    val want = pts.crossJoin(sites)
      .where(graft.functions.GeoFunctions.meters_between(
        col("lon"), col("lat"), col("slon"), col("slat")) <= radius)
      .select("doc_id", "site_id").as[(String, String)].collect().toSet

    assert(got == want)
    assert(want.nonEmpty, "fixture must produce matches")
    // polar band must participate (the case mercator bucketing distorts)
    assert(want.exists(_._1.startsWith("p")) &&
      want.exists { case (p, _) => pts.where(col("doc_id") === p).head().getDouble(2) > 80 })
  }

  test("s2 SQL functions registered and codegen path works end-to-end") {
    graft.functions.GeoFunctions.register(spark)
    val row = spark.sql(
      """SELECT s2_cell_id(2.294, 48.858, 12) AS id,
                s2_token(s2_cell_id(2.294, 48.858, 12)) AS tok,
                s2_contains(s2_parent(s2_cell_id(2.294, 48.858, 12), 5),
                            s2_cell_id(2.294, 48.858, 30)) AS c
      """).head()
    assert(graft.geo.S2.level(row.getLong(0)) == 12)
    assert(graft.geo.S2.fromToken(row.getString(1)) == row.getLong(0))
    assert(row.getBoolean(2))
  }
}

/** Distributed S2 nearest join (expanding cap-cover rounds) must equal
  * the brute-force nearest by (haversine, id) — including points whose
  * nearest site is several round-radii away, and unmatched points. */
class S2NearestSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("nearestSiteS2 equals brute force; escalation and max-radius cutoff work") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new java.util.Random(23)
    val pts = (1 to 400).map { k =>
      (s"p$k", rnd.nextDouble() * 160 - 80, rnd.nextDouble() * 160 - 80)
    }.toDF("doc_id", "lon", "lat")
    // sparse sites: many points are far from every site
    val sites = (1 to 12).map { k =>
      (s"s$k", rnd.nextDouble() * 160 - 80, rnd.nextDouble() * 160 - 80)
    }.toDF("site_id", "lon", "lat")
    val maxR = 3.0e6 // 3000 km: some points are unmatched

    val got = graft.engine.SpatialJoin.nearestSiteS2(
        pts, sites, startRadiusMeters = 2e5, maxRadiusMeters = maxR)
      .select("doc_id", "site_id").as[(String, String)].collect().toMap

    val bySite = sites.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val want = pts.collect().flatMap { r =>
      val cands = bySite.map { case (sid, slon, slat) =>
        (graft.geo.Mercator.metersBetween(r.getDouble(1), r.getDouble(2), slon, slat), sid)
      }.filter(_._1 <= maxR)
      if (cands.isEmpty) None else Some(r.getString(0) -> cands.min._2)
    }.toMap

    assert(got == want)
    assert(want.nonEmpty && want.size < 400, "fixture needs both matched and unmatched points")

    // start radius past the cutoff: still runs ONE full-cutoff round
    // (regression: the old loop guard skipped the loop entirely and
    // returned every point unmatched)
    val gotClamped = graft.engine.SpatialJoin.nearestSiteS2(
        pts, sites, startRadiusMeters = 5 * maxR, maxRadiusMeters = maxR)
      .select("doc_id", "site_id").as[(String, String)].collect().toMap
    assert(gotClamped == want)
  }

  test("nearestSiteS2: a microscopic start radius still reaches the full-cutoff round") {
    import spark.implicits._
    // 0.001 m * 4^15 never reaches 2e7 m — the round budget must jump
    // straight to maxRadius on its last round instead of exiting with
    // the point silently unmatched
    val pts = Seq(("p1", 0.0, 0.0)).toDF("doc_id", "lon", "lat")
    val sites = Seq(("s1", 45.0, 0.0)).toDF("site_id", "lon", "lat") // ~5e6 m away
    val got = graft.engine.SpatialJoin.nearestSiteS2(
        pts, sites, startRadiusMeters = 0.001, maxRadiusMeters = 2.1e7)
      .select("doc_id", "site_id").as[(String, String)].collect().toMap
    assert(got == Map("p1" -> "s1"))
  }

  test("broadcast SiteIndex.nearest runs a final clamped ring at maxRadius") {
    import graft.engine.SpatialJoin
    val idx = new SpatialJoin.SiteIndex(Array(SpatialJoin.Site("far", 179, 0)))
    // rings 8/32/128 miss; only the clamped 360 ring can see the site
    assert(idx.nearest(0, 0, startRadius = 8, maxRadius = 360).map(_.id).contains("far"))
    // a site beyond maxRadius stays unmatched
    assert(idx.nearest(0, 0, startRadius = 8, maxRadius = 100).isEmpty)
  }

  test("SiteIndex.nearest and nearestSite refuse non-positive or NaN radii instead of spinning") {
    import graft.engine.SpatialJoin
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val idx = new SpatialJoin.SiteIndex(Array(SpatialJoin.Site("s", 1, 1)))
    // a start ring of 0 (or below) never grows under r *= 4: the
    // error must come back within the timeout, not after it
    for ((start, max) <- Seq((0.0, 10.0), (-1.0, 10.0), (Double.NaN, 10.0), (1.0, 0.0), (1.0, Double.NaN))) {
      val err = Await.result(Future(intercept[IllegalArgumentException](
        idx.nearest(0, 0, start, max))), 10.seconds)
      assert(err.getMessage.contains("radii must be positive"), s"start=$start max=$max")
    }
    assert(idx.nearest(0, 0, 1.0, 10.0).map(_.id).contains("s"))
    val spark = SparkTestBase.spark
    import spark.implicits._
    val pts = Seq(("p", 0.0, 0.0)).toDF("doc_id", "lon", "lat")
    val err = intercept[IllegalArgumentException](
      SpatialJoin.nearestSite(pts, Array(SpatialJoin.Site("s", 1, 1)), startRadius = 0.0))
    assert(err.getMessage.contains("radii must be positive"))
  }

  test("out-of-range levels are refused, not silently wrapped into garbage ids") {
    intercept[IllegalArgumentException](S2.cellId(2.294, 48.858, 31))
    intercept[IllegalArgumentException](S2.cellId(2.294, 48.858, -1))
    intercept[IllegalArgumentException](S2.parent(S2.leafCellId(0, 0), 31))
    assert(S2.cellId(2.294, 48.858, 30) == S2.leafCellId(2.294, 48.858))
  }
}
