package graft.engine

import graft.geo.Geo
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.index.strtree.STRtree
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}

/**
 * Spatial joins, Spark-first.
 *
 * Point-in-polygon: the polygon side (admin/landuse layers) is small
 * relative to the probe side, so we BROADCAST an STRtree of prepared
 * polygons and probe it per partition — the distributed analog of the
 * reference's in-process `geo/PolygonIndex.java` (envelope prefilter +
 * exact contains post-filter). No shuffle touches the big side.
 *
 * When the polygon side is too large to broadcast,
 * [[pointInPolygonPartitioned]] keys both sides by a mercator grid cell
 * and probes one such index per cell.
 *
 * kNN: same broadcast-index pattern over polygon/point sites
 * (reference `geo/PointIndex.java`), returning the nearest site within
 * a max distance. The S2-cell joins ([[radiusJoinS2]],
 * [[nearestSiteS2]]) are the scale paths for large site sides.
 */
object SpatialJoin {

  /** Serializable polygon payload; tree is rebuilt lazily per executor. */
  case class Poly(id: String, wkb: Array[Byte], attrs: Map[String, String])

  /** Natural id order: ids with a numeric suffix ("adm_12") compare by
    * (prefix, number) so tie-breaks match numeric-id oracles. */
  private[engine] def idLt(a: String, b: String): Boolean = {
    val (pa, na) = splitNumFor(a)
    val (pb, nb) = splitNumFor(b)
    if (pa != pb) pa < pb else if (na != nb) na < nb else a < b
  }

  class PolygonIndex(polys: Array[Poly]) extends Serializable {
    @transient private lazy val tree: STRtree = {
      val t = new STRtree()
      polys.foreach { p =>
        val g = Geo.fromWkb(p.wkb)
        t.insert(g.getEnvelopeInternal, (p, PreparedGeometryFactory.prepare(g)))
      }
      t.build()
      t
    }

    /** Smallest-id polygon covering the point (envelope prefilter +
      * exact covers; min-id tie-break keeps boundary points
      * deterministic regardless of tree order). */
    def firstContaining(lon: Double, lat: Double): Option[Poly] = {
      val pt = Geo.point(lon, lat)
      val hits = tree.query(new Envelope(lon, lon, lat, lat))
      var best: Poly = null
      val it = hits.iterator()
      while (it.hasNext) {
        val (p, prep) = it.next().asInstanceOf[(Poly, PreparedGeometry)]
        if ((best == null || idLt(p.id, best.id)) && prep.covers(pt)) best = p
      }
      Option(best)
    }

    def allIntersecting(g: Geometry): Seq[Poly] = {
      val hits = tree.query(g.getEnvelopeInternal)
      val out = scala.collection.mutable.ArrayBuffer.empty[Poly]
      val it = hits.iterator()
      while (it.hasNext) {
        val (p, prep) = it.next().asInstanceOf[(Poly, PreparedGeometry)]
        if (prep.intersects(g)) out += p
      }
      out.toSeq
    }
  }

  /**
   * points(doc_id, lon, lat) JOIN broadcast(polygons) ON contains.
   * Returns probe columns + polygon id/attrs. Inner join (unmatched
   * probes dropped) or left (poly_id null).
   */
  /** Cap on the broadcast polygon side: like any broadcast join, the
    * build side must fit in executor memory. Callers with a bigger
    * polygon layer auto-route to [[pointInPolygonPartitioned]] via
    * [[collectPolysIfSmall]] / [[attachContainingPolygonTag]].
    * A `var` so specs can exercise the fallback on small corpora. */
  @volatile var MaxBroadcastPolys = 2000000

  /** Reserved tag key carrying the partitioned-PIP assignment from
    * [[attachContainingPolygonTag]] to [[Pipeline.GraftProfile]].
    * Double-underscored so an ordinary input tag cannot collide with
    * (and masquerade as) a computed polygon assignment. */
  val PipTagKey = "__adm"

  /** [[collectPolys]] that returns None instead of failing when the
    * polygon side exceeds [[MaxBroadcastPolys]] — the guard callers
    * use to auto-route to the partitioned grid join. */
  def collectPolysIfSmall(polysDf: DataFrame,
                          idCol: String = "doc_id", geomCol: String = "geom",
                          tagsCol: String = "tags"): Option[Array[Poly]] = {
    val rows = polysDf.select(col(idCol), col(geomCol), col(tagsCol))
      .limit(MaxBroadcastPolys + 1).collect()
    if (rows.length > MaxBroadcastPolys) None
    else Some(rows.map(r => Poly(r.getString(0), r.getAs[Array[Byte]](1),
      r.getAs[Map[String, String]](2))))
  }

  /** Collect a polygon DataFrame (doc_id, geom WKB, tags) into the
    * broadcastable form, refusing unboundedly large sides — keeps the
    * `collect()` behind one guarded door instead of in every caller. */
  def collectPolys(polysDf: DataFrame,
                   idCol: String = "doc_id", geomCol: String = "geom",
                   tagsCol: String = "tags"): Array[Poly] = {
    collectPolysIfSmall(polysDf, idCol, geomCol, tagsCol).getOrElse(
      throw new IllegalArgumentException(
        s"polygon side exceeds $MaxBroadcastPolys rows — too large to broadcast; " +
          "tile-partition the polygon layer and use a partitioned join instead"))
  }

  /**
   * Scale path for the pipeline's PIP stage: tag every POINT feature
   * with the id of its containing polygon (smallest-id tie-break,
   * identical to the broadcast path) via the partitioned grid join —
   * no driver collect, no broadcast, survives polygon layers of any
   * size. Non-point features pass through untouched. The tag key set
   * here is what [[Pipeline.GraftProfile]] falls back to when its
   * broadcast `pip` index is absent; the default is the RESERVED
   * [[PipTagKey]] so a user tag that happens to share the name can
   * never masquerade as a computed assignment — and the key is
   * stripped from every point's input tags (contained or not) before
   * the assignment is written.
   */
  def attachContainingPolygonTag(features: org.apache.spark.sql.Dataset[graft.model.SourceFeature],
                                 polysDf: DataFrame,
                                 tagKey: String = PipTagKey,
                                 gridZoom: Int = 7): org.apache.spark.sql.Dataset[graft.model.SourceFeature] = {
    val spark = features.sparkSession
    import spark.implicits._
    // both branches route on the null-safe 5-byte kind peek — the
    // full WKB parse runs only on actual points (never on nulls, and
    // never wasted on large polygon/line bodies just to discard them)
    val pts = features.filter(f => Geo.wkbIsPoint(f.geom)).map { f =>
      val p = Geo.fromWkb(f.geom).asInstanceOf[org.locationtech.jts.geom.Point]
      (f.doc_id, f.source, f.geom, f.tags, f.span_sig, f.relations, p.getX, p.getY)
    }.toDF("doc_id", "source", "geom", "tags", "span_sig", "relations", "__lon", "__lat")
      // merge key for a polygon side that spans several zooms:
      // duplicates (same doc + same location) are safe — the
      // assignment is identical for every duplicate row. The NUL
      // separator keeps distinct (doc_id, lon, lat) triples distinct
      // (no separator would collide e.g. ("way/12", 3.5) with ("way/1", 23.5)
      // and swap polygon assignments between points).
      .withColumn("__pk", concat_ws("\u0000", col("doc_id"), col("__lon"), col("__lat")))
    val assigned = pointInPolygonPartitioned(pts, polysDf, gridZoom = gridZoom,
        idCol = "__pk", lonCol = "__lon", latCol = "__lat", left = true)
      .withColumn("tags",
        // strip any pre-existing tagKey in BOTH branches: an uncontained
        // point must not keep a stale input tag under the reserved key
        when(col("poly_id").isNull,
          map_filter(col("tags"), (k, _) => k =!= lit(tagKey)))
          .otherwise(map_concat(
            map_filter(col("tags"), (k, _) => k =!= lit(tagKey)),
            map(lit(tagKey), col("poly_id")))))
      .select(col("doc_id"), col("source"), col("geom"), col("tags"),
        col("span_sig"), col("relations"))
      .as[graft.model.SourceFeature]
    // the non-point branch needs only the geometry KIND — a 5-byte
    // header peek, not a second full WKB parse of the whole stream
    val nonPts = features.filter(f => !Geo.wkbIsPoint(f.geom))
    assigned.unionByName(nonPts)
  }

  def pointInPolygon(points: DataFrame, polys: Array[Poly],
                     lonCol: String = "lon", latCol: String = "lat",
                     left: Boolean = false): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val bcast = spark.sparkContext.broadcast(new PolygonIndex(polys))
    val schema = org.apache.spark.sql.types.StructType(points.schema.fields :+
      org.apache.spark.sql.types.StructField("poly_id", org.apache.spark.sql.types.StringType, nullable = true))
    val lonIdx = points.schema.fieldIndex(lonCol)
    val latIdx = points.schema.fieldIndex(latCol)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    points.mapPartitions { it =>
      val idx = bcast.value
      it.flatMap { row =>
        val hit = idx.firstContaining(row.getDouble(lonIdx), row.getDouble(latIdx))
        if (hit.isEmpty && !left) None
        else Some(org.apache.spark.sql.Row.fromSeq(row.toSeq :+ hit.map(_.id).orNull))
      }
    }(enc)
  }

  /** Envelope cell window at zoom z: (x0, x1, y0, y1). */
  private[graft] def envWindow(env: Envelope, z: Int): (Int, Int, Int, Int) = {
    import graft.geo.Mercator
    (Mercator.tileIndex(Mercator.worldX(env.getMinX), z),
      Mercator.tileIndex(Mercator.worldX(env.getMaxX), z),
      Mercator.tileIndex(Mercator.worldY(env.getMaxY), z),
      Mercator.tileIndex(Mercator.worldY(env.getMinY), z))
  }

  /** Coarsest-necessary grid zoom for a polygon envelope: the largest
    * z <= gridZoom whose envelope cell count stays within `maxCells`.
    * A world-spanning polygon lands at z=0 (ONE cell) instead of
    * 2^(2·gridZoom) rows — the fan-out is bounded for every input. */
  private[graft] def chooseZoom(env: Envelope, gridZoom: Int, maxCells: Long): Int = {
    var z = gridZoom
    while (z > 0) {
      val (x0, x1, y0, y1) = envWindow(env, z)
      if ((x1 - x0 + 1).toLong * (y1 - y0 + 1) <= maxCells) return z
      z -= 1
    }
    0
  }

  /**
   * BIG-BIG point-in-polygon: when the polygon side exceeds the
   * broadcast cap, both sides key by a mercator grid cell and meet in
   * one cogroup. Polygons fan out to the cells their envelope covers;
   * per cell, the cell's polygons become a [[PolygonIndex]] (STRtree of
   * prepared polygons) and the cell's points stream through
   * [[PolygonIndex.firstContaining]] — the broadcast path's probe, so
   * the smallest-id tie-break ([[idLt]]) is the same by construction.
   *
   * Fan-out is ADAPTIVE per polygon: each polygon keys at the coarsest
   * zoom that keeps its envelope within `maxFanoutCells` cells
   * ([[chooseZoom]]), so a continent- or world-spanning polygon emits
   * O(maxFanoutCells) rows, never 2^(2·gridZoom). Points emit one key
   * per DISTINCT zoom the polygon side actually uses — keys are
   * disambiguated across zooms by the cumulative zoom offset.
   *
   * Shuffle shape: one narrow scan of the polygon side to learn the
   * zoom set, then one cogroup (both sides hash-partitioned on the
   * cell). With one zoom — the usual case — each point meets exactly
   * one cell, and the cogroup emits every point row with its `poly_id`
   * directly: no aggregate, no join back to the points. With several
   * zooms (or none: an empty polygon side) a point meets one cell per
   * zoom; only then are the per-cell winners merged per `idCol`
   * (smallest id by [[idLt]]'s order) and joined back, so rows sharing
   * an `idCol` share that winner.
   *
   * Memory: a cell's polygons are held in memory as one STRtree, just
   * as the broadcast path holds the whole layer; a cell's points are
   * streamed. A cell with more polygons than a task can hold needs a
   * finer `gridZoom` (hot cells are not split).
   *
   * Output: `idCol`, the other point columns in order, then `poly_id`
   * (null for uncovered points when `left`, else those rows are
   * dropped). Points with a null lon/lat never match.
   */
  def pointInPolygonPartitioned(points: DataFrame, polysDf: DataFrame,
                                gridZoom: Int = 7,
                                idCol: String = "doc_id",
                                lonCol: String = "lon", latCol: String = "lat",
                                polyIdCol: String = "doc_id", polyGeomCol: String = "geom",
                                left: Boolean = false,
                                maxFanoutCells: Int = 1024): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    import graft.geo.TileCoord
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

    // narrow pass: which zooms does the polygon side need?
    val zooms: Seq[Int] = polysDf.select(col(polyGeomCol)).as[Array[Byte]]
      .map(wkb => chooseZoom(Geo.fromWkb(wkb).getEnvelopeInternal, gridZoom, maxFanoutCells))
      .distinct().collect().toSeq.sorted

    val fields = points.schema.fields
    val idIdx = points.schema.fieldIndex(idCol)
    val lonIdx = points.schema.fieldIndex(lonCol)
    val latIdx = points.schema.fieldIndex(latCol)
    val polyIdField = StructField("poly_id", StringType, nullable = true)

    val polyCells = polysDf.select(col(polyIdCol).cast("string"), col(polyGeomCol))
      .as[(String, Array[Byte])]
      .flatMap { case (id, wkb) =>
        val env = Geo.fromWkb(wkb).getEnvelopeInternal
        val z = chooseZoom(env, gridZoom, maxFanoutCells)
        val nz = 1 << z
        val (x0, x1, y0, y1) = envWindow(env, z)
        for (x <- x0 to x1; y <- y0 to y1)
          yield (TileCoord.zoomOffset(z) + x.toLong * nz + y, id, wkb)
      }.toDF("__cell", "poly_id", "poly_wkb")
      .groupBy(col("__cell")).as[Long, (Long, String, Array[Byte])]

    import graft.functions.GeoFunctions.{world_x, world_y}
    def keyAt(z: Int): org.apache.spark.sql.Column = {
      val nz = 1 << z
      def cellIdx(w: org.apache.spark.sql.Column) =
        least(greatest(floor(w * nz), lit(0)), lit(nz - 1)).cast("long")
      // null when a coordinate is null (`greatest` would skip it)
      when(col(lonCol).isNotNull && col(latCol).isNotNull, lit(TileCoord.zoomOffset(z)) +
        cellIdx(world_x(col(lonCol))) * nz + cellIdx(world_y(col(latCol))))
    }
    val oneZoom = zooms.length == 1
    // a null lon/lat can never meet a polygon: it keys to -1, which no
    // polygon cell uses (the key stays non-null, as the cogroup needs
    // both sides' keys typed alike), and only the one-zoom left join
    // still ships those rows, to emit them with a null poly_id
    val keyed = points.withColumn("__cell",
        if (oneZoom) keyAt(zooms.head) else explode(array(zooms.map(keyAt): _*)))
      .withColumn("__cell", coalesce(col("__cell"), lit(-1L)))
    val ptCells = if (oneZoom && left) keyed else keyed.where(col("__cell") =!= -1L)
    val ptGroups = ptCells.groupBy(col("__cell"))
      .as[Long, Row](Encoders.scalaLong, Encoders.row(ptCells.schema))

    def coord(r: Row, i: Int): Double = r.get(i).asInstanceOf[Number].doubleValue()
    // one cell: its polygons become an index, its points stream through
    def probe(rows: Iterator[Row], polys: Iterator[(Long, String, Array[Byte])]): Iterator[(Row, String)] = {
      val cellPolys = polys.map { case (_, id, wkb) => Poly(id, wkb, Map.empty) }.toArray
      if (cellPolys.isEmpty) rows.map(r => (r, null))
      else {
        val index = new PolygonIndex(cellPolys)
        rows.map(r => (r, index.firstContaining(coord(r, lonIdx), coord(r, latIdx)).map(_.id).orNull))
      }
    }

    if (oneZoom) {
      // the column order `points.join(matches, Seq(idCol))` produces
      val outOrder = (idIdx +: fields.indices.filter(_ != idIdx)).toArray
      ptGroups.cogroup(polyCells) { (_, rows, polys) =>
        probe(rows, polys).collect { case (r, hit) if hit != null || left =>
          Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(outOrder.map(r.get) :+ hit))
        }
      }(Encoders.row(StructType(outOrder.map(fields(_)) :+ polyIdField))).toDF()
    } else {
      val winners = ptGroups.cogroup(polyCells) { (_, rows, polys) =>
        probe(rows, polys).collect { case (r, hit) if hit != null =>
          val (prefix, num) = splitNumFor(hit)
          Row(r.get(idIdx), prefix, num, hit)
        }
      }(Encoders.row(StructType(Seq(fields(idIdx), StructField("poly_prefix", StringType),
        StructField("poly_num", LongType), polyIdField))))
      val matches = winners.groupBy(col(idCol))
        .agg(min_by(col("poly_id"),
          struct(col("poly_prefix"), col("poly_num"), col("poly_id"))).as("poly_id"))
      points.join(matches, Seq(idCol), if (left) "left" else "inner")
    }
  }

  private[engine] def splitNumFor(s: String): (String, Long) = {
    val i = s.lastIndexOf('_')
    if (i >= 0 && i < s.length - 1 && s.substring(i + 1).forall(_.isDigit))
      (s.substring(0, i), s.substring(i + 1).toLong)
    else (s, Long.MaxValue)
  }

  /** Serializable point-site payload for kNN. */
  case class Site(id: String, lon: Double, lat: Double)

  class SiteIndex(sites: Array[Site]) extends Serializable {
    @transient private lazy val tree: STRtree = {
      val t = new STRtree()
      sites.foreach(s => t.insert(new Envelope(s.lon, s.lon, s.lat, s.lat), s))
      t.build()
      t
    }

    /** Nearest site by squared PLANAR lon/lat distance (expanding-ring
      * search; no antimeridian wrap — the geodesic scale path is
      * [[nearestSiteS2]]). The last ring is clamped to exactly
      * maxRadius so a site between the last ×4 ring and the cutoff is
      * still found — same final-round clamp as the S2 twin. Both radii
      * must be positive: a ring that starts at 0 never grows. */
    def nearest(lon: Double, lat: Double, startRadius: Double, maxRadius: Double): Option[Site] = {
      requirePositiveRadii(startRadius, maxRadius)
      var r = startRadius
      var last = false
      while (!last) {
        if (r >= maxRadius) { r = maxRadius; last = true }
        val hits = tree.query(new Envelope(lon - r, lon + r, lat - r, lat + r))
        if (!hits.isEmpty) {
          var best: Site = null
          var bestD = Double.MaxValue
          val it = hits.iterator()
          while (it.hasNext) {
            val s = it.next().asInstanceOf[Site]
            val d = (s.lon - lon) * (s.lon - lon) + (s.lat - lat) * (s.lat - lat)
            if (d < bestD || (d == bestD && (best == null || s.id < best.id))) { bestD = d; best = s }
          }
          // candidates in the box are only guaranteed complete within r
          if (math.sqrt(bestD) <= r) return Some(best)
        }
        r *= 4
      }
      None
    }

    def within(lon: Double, lat: Double, radius: Double): Seq[Site] = {
      val hits = tree.query(new Envelope(lon - radius, lon + radius, lat - radius, lat + radius))
      val out = scala.collection.mutable.ArrayBuffer.empty[Site]
      val it = hits.iterator()
      while (it.hasNext) {
        val s = it.next().asInstanceOf[Site]
        val d = (s.lon - lon) * (s.lon - lon) + (s.lat - lat) * (s.lat - lat)
        if (d <= radius * radius) out += s
      }
      out.toSeq
    }
  }

  /** Rejects non-positive and NaN radii (NaN fails every comparison). */
  private def requirePositiveRadii(start: Double, max: Double): Unit =
    require(start > 0 && max > 0, s"radii must be positive: start=$start max=$max")

  /** Nearest-site join: broadcast STRtree of sites, probe per partition. */
  def nearestSite(points: DataFrame, sites: Array[Site],
                  lonCol: String = "lon", latCol: String = "lat",
                  maxRadius: Double = 360.0, startRadius: Double = 8.0): DataFrame = {
    requirePositiveRadii(startRadius, maxRadius)
    val spark = points.sparkSession
    val bcast = spark.sparkContext.broadcast(new SiteIndex(sites))
    val schema = org.apache.spark.sql.types.StructType(points.schema.fields :+
      org.apache.spark.sql.types.StructField("site_id", org.apache.spark.sql.types.StringType, nullable = true))
    val lonIdx = points.schema.fieldIndex(lonCol)
    val latIdx = points.schema.fieldIndex(latCol)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    points.mapPartitions { it =>
      val idx = bcast.value
      it.map { row =>
        val hit = idx.nearest(row.getDouble(lonIdx), row.getDouble(latIdx), startRadius, maxRadius)
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ hit.map(_.id).orNull)
      }
    }(enc)
  }

  /** Bucketing level whose cell angular size (~(π/2)/2^l per face edge)
    * is on the order of the radius — ~O(1) cover cells per site. */
  private[engine] def s2LevelForRadius(radiusMeters: Double): Int = {
    val radiusAngle = radiusMeters / graft.geo.Mercator.EarthRadiusMeters
    val l = math.floor(math.log((math.Pi / 2) / radiusAngle) / math.log(2.0)).toInt
    math.max(0, math.min(20, l))
  }

  /**
   * Distributed radius join keyed by S2 cells — the scale path when the
   * site side is too big to broadcast, and the POLE-SAFE path always:
   * mercator grid cells degenerate at high latitude (a z-10 cell at lat
   * 85 is ~11x narrower in meters than at the equator, so a fixed
   * radius explodes the cell fan-out), while equal-level S2 cells keep
   * near-constant area everywhere on the globe.
   *
   * Shape: sites explode to their cap-cover cells (superset guarantee —
   * any cell intersecting the cap is included), points key by their one
   * containing cell, ONE equi-join shuffle on the cell id, then an
   * exact haversine verify. A (point, site) pair appears at most once
   * because a point has exactly one cell at the level.
   *
   * Returns (pointCols*, site_id) with one row per qualifying pair.
   */
  def radiusJoinS2(points: DataFrame, sites: DataFrame, radiusMeters: Double,
                   lonCol: String = "lon", latCol: String = "lat",
                   siteId: String = "site_id", level: Int = -1): DataFrame = {
    import graft.functions.GeoFunctions
    val lvl = if (level >= 0) level else s2LevelForRadius(radiusMeters)
    val siteCells = sites.select(
        col(siteId),
        col(lonCol).as("_s2_site_lon"), col(latCol).as("_s2_site_lat"),
        explode(GeoFunctions.s2_cap_cover(col(lonCol), col(latCol),
          lit(radiusMeters), lit(lvl))).as("_s2_cell"))
    val keyed = points.withColumn("_s2_cell",
      GeoFunctions.s2_cell_id(col(lonCol), col(latCol), lit(lvl)))
    keyed.join(siteCells, "_s2_cell")
      .where(GeoFunctions.meters_between(col(lonCol), col(latCol),
        col("_s2_site_lon"), col("_s2_site_lat")) <= radiusMeters)
      .drop("_s2_cell", "_s2_site_lon", "_s2_site_lat")
  }

  /**
   * Distributed nearest-site join on the S2 index — the scale path
   * when the site side is too large to broadcast an STRtree of it.
   *
   * The expanding-ring search of the broadcast [[SiteIndex.nearest]]
   * becomes a driver loop of DISTRIBUTED rounds: at round radius r,
   * unresolved points explode to their S2 cap cover of radius r (a
   * guaranteed superset of every cell intersecting the disc, so
   * candidates are COMPLETE within r), join sites keyed by their one
   * cell at the matching level, and take the per-point minimum by
   * (haversine meters, site id) — the deterministic tie-break. A point
   * whose best candidate lies within r is final (no site outside the
   * cover can be closer); the rest escalate to 4r. Rounds are
   * O(log(maxRadius/startRadius)) and each is one equi-join shuffle.
   *
   * `points` must carry a unique `idCol`; returns (idCol, site_id,
   * meters), unmatched points absent (no site within maxRadius).
   */
  def nearestSiteS2(points: DataFrame, sites: DataFrame,
                    idCol: String = "doc_id",
                    lonCol: String = "lon", latCol: String = "lat",
                    siteId: String = "site_id",
                    startRadiusMeters: Double = 1e5,
                    maxRadiusMeters: Double = 2.1e7): DataFrame = {
    import graft.functions.GeoFunctions
    requirePositiveRadii(startRadiusMeters, maxRadiusMeters)
    val spark = points.sparkSession
    // the per-round cap-cover explode + join is the expensive work; a
    // single-split input (one parquet row group) would pin every round
    // to one task, so under-split inputs are round-robined up to the
    // session's parallelism first (same small-ingest hazard handling
    // as Pipeline.renderedFromDocs — well-split inputs skip it)
    val target = spark.sparkContext.defaultParallelism
    val pointSel0 = points.select(col(idCol), col(lonCol).as("_p_lon"), col(latCol).as("_p_lat"))
    val pointSel =
      if (pointSel0.rdd.getNumPartitions < math.max(2, target / 2)) pointSel0.repartition(target)
      else pointSel0
    var unresolved = pointSel
    var resolved: DataFrame = null
    var resolvedCount = 0L
    val total = pointSel.count()
    // clamp the opening ring so a start radius past the cutoff still
    // runs exactly one round at maxRadius instead of silently skipping
    // the loop and returning every point unmatched
    var r = math.min(startRadiusMeters, maxRadiusMeters)
    var done = false
    var rounds = 0
    while (!done && resolvedCount < total) {
      // round budget: once it is spent, jump STRAIGHT to the cutoff so
      // the final full-radius round always runs (a tiny startRadius
      // must degrade to fewer intermediate rings, never to silently
      // unmatched points)
      val radius = if (rounds >= 15) maxRadiusMeters else math.min(r, maxRadiusMeters)
      done = radius >= maxRadiusMeters // this is the final, full-cutoff round
      val lvl = s2LevelForRadius(radius)
      val siteCells = sites.select(
        col(siteId).as("_s_id"), col(lonCol).as("_s_lon"), col(latCol).as("_s_lat"),
        GeoFunctions.s2_cell_id(col(lonCol), col(latCol), lit(lvl)).as("_s2_cell"))
      val cand = unresolved
        .select(col(idCol), col("_p_lon"), col("_p_lat"),
          explode(GeoFunctions.s2_cap_cover(col("_p_lon"), col("_p_lat"),
            lit(radius), lit(lvl))).as("_s2_cell"))
        .join(siteCells, "_s2_cell")
        .withColumn("_d", GeoFunctions.meters_between(
          col("_p_lon"), col("_p_lat"), col("_s_lon"), col("_s_lat")))
        .where(col("_d") <= radius)
        .groupBy(col(idCol))
        .agg(min(struct(col("_d"), col("_s_id"))).as("_best"))
        .select(col(idCol), col("_best._s_id").as(siteId), col("_best._d").as("meters"))
      // materialize the round so the anti-join and the final union read
      // it instead of recomputing the cascade; counting the
      // materialized result doubles as the early-stop probe (no
      // separate isEmpty job on the unresolved side)
      val roundResolved = cand.localCheckpoint(true)
      resolvedCount += roundResolved.count()
      resolved = if (resolved == null) roundResolved else resolved.unionByName(roundResolved)
      // anti-join against the union of CHECKPOINTED rounds: lineage
      // stays one join deep no matter how many rounds run
      unresolved = pointSel.join(resolved.select(col(idCol)), Seq(idCol), "left_anti")
      r *= 4
      rounds += 1
    }
    if (resolved == null)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(idCol, points.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField(siteId, org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("meters", org.apache.spark.sql.types.DoubleType))))
    else resolved
  }
}
