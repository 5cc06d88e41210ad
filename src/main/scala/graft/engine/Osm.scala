package graft.engine

import graft.geo.{Geo, RingAssembler}
import graft.model.{RelMember, SourceFeature}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Coordinate

/**
 * The OSM reader pipeline over a PBF entity frame — the engine-side
 * analog of the reference's two-pass `reader/osm/OsmReader.java`,
 * re-expressed as distributed joins instead of a shared
 * `LongLongMap`:
 *
 *  - pass 1 side tables are just projections of the entity frame
 *    (node locations, relation memberships);
 *  - pass 2's way materialization is `posexplode(refs)` ⋈ node
 *    locations → sorted `collect_list` — ONE shuffle join + one
 *    aggregation, both keyed on node/way ids (no driver state, scales
 *    with the cluster);
 *  - multipolygon relations (`OsmReader.java:922-962`,
 *    `OsmMultipolygon.java:97-199`) group member-way coordinate
 *    arrays per relation and run the pure ring-stitching
 *    [[RingAssembler]] inside `mapGroups`-style aggregation.
 *
 * Usage: `Osm.sourceFeatures(spark.read.format("osmpbf").load(path))`
 * feeds the same profile/render/assemble pipeline as the docs input.
 */
object Osm {

  /** Keys whose presence makes a closed way a polygon (a compact
    * version of the reference's generated `multipolygon.json` table,
    * `reader/osm/OsmReader.java` canBePolygon). `area=yes/no`
    * overrides in both directions. */
  private val PolygonKeys = Set(
    "building", "landuse", "natural", "leisure", "amenity", "boundary",
    "place", "shop", "tourism", "aeroway", "military", "building:part")

  /** Ring assembly groups one relation's member coords into one task
    * row; relations with more way members than this are skipped loudly
    * (accumulator + executor-log warning). OSM's largest real
    * relations (coastline/boundary) run ~10^5 members. */
  @volatile var MaxRelationMembers: Long = 150000L

  def isPolygonWay(tags: Map[String, String], closed: Boolean): Boolean = {
    if (!closed) false
    else tags.get("area") match {
      case Some("no") => false
      case Some("yes") => true
      case _ => tags.keysIterator.exists(PolygonKeys)
    }
  }

  /**
   * way_id, tags, refs, coords (ordered lon/lat pairs).
   *
   * Location-padded ways (LocationsOnWays, the osmium
   * add-locations-to-ways convention) already carry their node
   * coordinates — those project DIRECTLY with no join, which at
   * planet scale removes the engine's biggest shuffle (the ~8×10⁹-row
   * refs ⋈ nodes exchange). Unpadded ways take the pass-2 shape: ONE
   * shuffle join (refs ⋈ node ids) + one aggregation.
   */
  def wayCoords(entities: DataFrame): DataFrame = {
    val ways = entities.filter(col("kind") === "way")
      .select(col("id").as("way_id"), col("tags"), col("refs"),
        col("ref_lats"), col("ref_lons"))
      .where(size(col("refs")) >= 2)

    val padded = ways
      .where(size(col("ref_lats")) === size(col("refs")))
      .select(col("way_id"), col("tags"), col("refs"),
        transform(arrays_zip(col("ref_lons"), col("ref_lats")),
          x => struct(x.getField("ref_lons").as("lon"), x.getField("ref_lats").as("lat")))
          .as("coords"))

    val nodes = entities.filter(col("kind") === "node")
      .select(col("id").as("ref"), col("lat"), col("lon"))
    val joined = ways
      .where(size(col("ref_lats")) =!= size(col("refs")))
      .select(col("way_id"), col("tags"), size(col("refs")).as("want"),
        posexplode(col("refs")).as(Seq("pos", "ref")))
      .join(nodes, "ref")
      .groupBy(col("way_id"))
      .agg(
        first(col("tags")).as("tags"),
        array_sort(collect_list(struct(col("pos"), col("ref"), col("lon"), col("lat")))).as("prll"),
        count(lit(1)).as("got"),
        first(col("want")).as("want"))
      // ways referencing nodes missing from the extract drop, like the
      // reference's incomplete-way handling
      .where(col("got") === col("want"))
      .select(col("way_id"), col("tags"),
        transform(col("prll"), x => x.getField("ref")).as("refs"),
        transform(col("prll"),
          x => struct(x.getField("lon").as("lon"), x.getField("lat").as("lat"))).as("coords"))

    padded.unionByName(joined)
  }

  /** Encoder-friendly lon/lat pair (matches the `coords` struct by name). */
  case class LonLat(lon: Double, lat: Double)

  /** Default relation-info predicate: store info for `type=route`
    * relations — the dominant `Profile.preprocessOsmRelation` use case
    * (route refs/networks reaching member ways; reference
    * `Profile.java:90-140`). */
  def defaultRelationInfoPred(tags: Column): Column =
    try_element_at(tags, lit("type")) === "route"

  /**
   * Entity frame → typed SourceFeatures:
   * tagged nodes as points, non-polygon ways as lines, polygon ways
   * as polygons, `type=multipolygon`/`boundary`/`land_area` relations
   * ring-stitched from member ways (member ways without own tags are
   * suppressed as standalone features).
   *
   * `relationInfoPred` is the analog of
   * `Profile.preprocessOsmRelation` (reference `Profile.java:90-140`,
   * attachment `OsmReader.java:563-607,683-701`): relations whose tag
   * map satisfies the predicate have (rel_id, role, rel_tags)
   * attached to every member way's `relations` field — including
   * memberships inherited through super-relations, resolved with the
   * cycle-guarded [[Relations.transitiveClosure]]. For an inherited
   * membership the role is the smallest role on a stored edge entering
   * that ancestor from the way's relation chain (the reference records
   * the first path's entering-edge role, which is iteration-order
   * dependent; min is the deterministic choice).
   *
   * `splitWays` is the pipeline-level analog of
   * `Profile.splitOsmWayAtIntersections` (reference
   * `Profile.java:79-81`, applied `OsmReader.java:439-450`): LINE ways
   * are split at interior nodes shared with >=2 line ways (cut node
   * duplicated as both segment endpoints), each segment emitted as
   * `way/<id>/<segIdx>`. Unlike the reference — where the profile
   * receives both the full way and the segments and chooses per
   * feature — the flag replaces the full line with its segments;
   * polygon ways are never split.
   */
  def sourceFeatures(entities: DataFrame,
                     relationInfoPred: Column => Column = defaultRelationInfoPred,
                     splitWays: Boolean = false): Dataset[SourceFeature] =
    sourceFeaturesAndCache(entities, relationInfoPred, splitWays)._1

  /** [[sourceFeatures]] plus the way-coordinates frame it persists, so
    * a caller that is done with the features can unpersist it. */
  private[graft] def sourceFeaturesAndCache(entities: DataFrame,
                                            relationInfoPred: Column => Column = defaultRelationInfoPred,
                                            splitWays: Boolean = false): (Dataset[SourceFeature], DataFrame) = {
    val spark = entities.sparkSession
    import spark.implicits._

    val points = entities.filter(col("kind") === "node" && size(col("tags")) > 0)
      .select(col("id"), col("lat"), col("lon"), col("tags"))
      .as[(Long, Double, Double, Map[String, String])]
      .map { case (id, lat, lon, tags) =>
        val g = Geo.factory.createPoint(new Coordinate(lon, lat))
        SourceFeature(s"node/$id", "osm", Geo.toWkb(g), tags, id)
      }

    val rels = entities.filter(col("kind") === "relation")
    // geometry-carrying relations (reference OsmReader.isMultipolygon,
    // `OsmReader.java:322-325`: multipolygon | boundary | land_area);
    // ALL way members contribute rings regardless of role, matching
    // the reference's MultipolygonSourceFeature (`OsmReader.java:938-957`)
    val mpMembers = rels
      .where(try_element_at(col("tags"), lit("type"))
        .isin("multipolygon", "boundary", "land_area"))
      .select(col("id").as("rel_id"), col("tags").as("rel_tags"),
        posexplode(arrays_zip(col("member_types"), col("member_ids"), col("member_roles")))
          .as(Seq("mpos", "m")))
      .select(col("rel_id"), col("rel_tags"),
        col("m.member_types").as("mtype"), col("m.member_ids").as("mid"),
        col("m.member_roles").as("role"))
      .where(col("mtype") === "way")

    // ---- relation info -> member ways (pass-1 side table analog) ----
    // every frame here is relation-sized (~10^6 rows at planet scale,
    // vs ~10^9 ways) so AQE broadcasts these joins; nothing touches
    // the node table
    val storedMembers = rels.where(relationInfoPred(col("tags")))
      .select(col("id").as("rel_id"), col("tags").as("rtags"),
        posexplode(arrays_zip(col("member_types"), col("member_ids"), col("member_roles")))
          .as(Seq("mpos", "m")))
      .select(col("rel_id"), col("rtags"),
        col("m.member_types").as("mtype"), col("m.member_ids").as("mid"),
        col("m.member_roles").as("role"))
    val storedTags = storedMembers.groupBy(col("rel_id")).agg(first(col("rtags")).as("rtags"))
    val directWay = storedMembers.where(col("mtype") === "way")
      .select(col("mid").as("way_id"), col("rel_id"), col("role"))
    // super-relation edges among stored relations: child -> parent
    val relEdges = storedMembers.where(col("mtype") === "relation")
      .select(col("mid").as("child"), col("rel_id").as("parent"), col("role"))
    // (descendant relation, ancestor relation, entering-edge role):
    // reach = {R} ∪ ancestors(R); an edge mid->parent with mid in
    // reach(R) witnesses parent in ancestors(R)
    val ancPairs = Relations.transitiveClosure(
      relEdges.select(col("child").as("member_id"), col("parent").as("relation_id")))
      .select(col("member_id").as("desc_rel"), col("ancestor_id").as("mid_rel"))
    val reach = ancPairs
      .unionByName(storedTags.select(col("rel_id").as("desc_rel"), col("rel_id").as("mid_rel")))
    val indirect = reach
      .join(relEdges.select(col("child").as("mid_rel"), col("parent").as("rel_id"), col("role")),
        "mid_rel")
      .groupBy(col("desc_rel"), col("rel_id"))
      .agg(min(col("role")).as("role"))
    val wayIndirect = directWay.select(col("way_id"), col("rel_id").as("desc_rel"))
      .join(indirect, "desc_rel")
      .select(col("way_id"), col("rel_id"), col("role"))
    // ONE entry per (way, ancestor relation): a way can reach the same
    // relation both directly and through a super-relation chain with
    // different roles — the direct membership's role wins, ties break
    // on the lexicographically smallest role (deterministic)
    val wayRels = directWay.withColumn("prio", lit(0))
      .unionByName(wayIndirect.withColumn("prio", lit(1)))
      .groupBy(col("way_id"), col("rel_id"))
      .agg(min(struct(col("prio"), col("role"))).as("pr"))
      .select(col("way_id"), col("rel_id"), col("pr.role").as("role"))
      .join(storedTags, "rel_id")
      .groupBy(col("way_id"))
      .agg(collect_list(struct(col("rel_id"), col("role"), col("rtags").as("rel_tags")))
        .as("rels_raw"))
      .select(col("way_id"),
        array_sort(col("rels_raw"), (l, r) =>
          when(l.getField("rel_id") < r.getField("rel_id"), -1)
            .when(l.getField("rel_id") > r.getField("rel_id"), 1)
            .when(l.getField("role") < r.getField("role"), -1)
            .when(l.getField("role") > r.getField("role"), 1)
            .otherwise(0)).as("relations"))

    // cached because BOTH the way-features and relation-features
    // branches read it; Spark's LRU evicts the blocks under memory
    // pressure (MEMORY_AND_DISK keeps re-reads off the join). The cache
    // lives until it is unpersisted: `GraftCli.run` takes it from
    // [[sourceFeaturesAndCache]] and releases it when the run ends;
    // [[sourceFeatures]] callers keep it for the session
    val wc = wayCoords(entities)
    wc.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // polygon-vs-line decided ONCE as a column (single source of truth
    // for both the cut-node detection and geometry construction)
    val polyKeysArr = array(PolygonKeys.toSeq.sorted.map(lit(_)): _*)
    val closedCol = size(col("coords")) >= 4 &&
      col("coords").getItem(0) === element_at(col("coords"), -1)
    val isPolyCol = closedCol && (
      when(try_element_at(col("tags"), lit("area")) === "no", lit(false))
        .when(try_element_at(col("tags"), lit("area")) === "yes", lit(true))
        .otherwise(exists(map_keys(col("tags")),
          k => array_contains(polyKeysArr, k))))

    // only tagged ways become standalone features (untagged member ways
    // exist solely to carry relation geometry, and untagged non-member
    // ways emit nothing) — one early filter replaces the former
    // member-id distinct + join, which removed exactly the same rows
    // one step later at a planet-scale shuffle's cost
    val wayBase = wc
      .where(size(col("tags")) > 0)
      .withColumn("is_poly", isPolyCol)
      .select(col("way_id"), col("tags"), col("refs"), col("coords"), col("is_poly"))

    // optional intersection splitting: cut positions from the
    // distributed WaySplitter (same 3-shuffle shape as
    // splitAtSharedNodes; participating ways = tagged line ways)
    val withCuts =
      if (!splitWays) wayBase.withColumn("cut_pos", lit(null).cast("array<int>"))
      else wayBase.join(
        WaySplitter.cutPositions(
          wayBase.where(!col("is_poly") && size(col("tags")) > 0)
            .select(col("way_id"), col("refs").as("nodes"))),
        Seq("way_id"), "left")

    val wayFeatures = withCuts
      .join(wayRels, Seq("way_id"), "left")
      .select(col("way_id"), col("tags"), col("coords"), col("is_poly"),
        col("cut_pos"), col("relations"))
      .as[(Long, Map[String, String], Seq[LonLat], Boolean, Seq[Int], Seq[RelMember])]
      .flatMap { case (id, tags, coords, isPoly, cutPosOrNull, relsOrNull) =>
        if (tags.isEmpty) Iterator.empty
        else {
          val relInfo = Option(relsOrNull).getOrElse(Seq.empty)
          val arr = coords.map(c => new Coordinate(c.lon, c.lat)).toArray
          if (isPoly) {
            // snap at OSM's own 1e-7-degree resolution (NOT the tile-space
            // default, which would collapse building-sized rings)
            val fixed = graft.geo.PolygonFixer.snapAndFix(
              Geo.factory.createPolygon(arr),
              new org.locationtech.jts.geom.PrecisionModel(1e7))
            if (fixed == null || fixed.isEmpty) Iterator.empty
            else Iterator.single(
              SourceFeature(s"way/$id", "osm", Geo.toWkb(fixed), tags, id, relInfo))
          } else {
            val cuts = Option(cutPosOrNull).getOrElse(Seq.empty)
              .filter(i => i > 0 && i < arr.length - 1)
            if (cuts.isEmpty)
              Iterator.single(SourceFeature(s"way/$id", "osm",
                Geo.toWkb(Geo.factory.createLineString(arr)), tags, id, relInfo))
            else {
              // split at interior cut positions, cut coord duplicated
              // as both segment endpoints (reference OsmReader.java:439-450)
              val bounds = (0 +: cuts) :+ (arr.length - 1)
              bounds.sliding(2).zipWithIndex.flatMap { case (Seq(a, b), segIdx) =>
                if (b <= a) Iterator.empty
                else Iterator.single(SourceFeature(s"way/$id/$segIdx", "osm",
                  Geo.toWkb(Geo.factory.createLineString(arr.slice(a, b + 1))),
                  tags, id, relInfo))
              }
            }
          }
        }
      }

    // Giant-relation guard: ring assembly groups ALL member coords of
    // one relation into one task row, so a degenerate relation (far
    // beyond OSM's largest ~10^5-member coastlines) would become a
    // multi-GB group. Relations over [[MaxRelationMembers]] are
    // skipped LOUDLY: counted in the `osm_relation_member_cap_skips`
    // accumulator and warned in the DRIVER log. The skip decision is
    // taken with one eager action here rather than side effects inside
    // a distributed filter — re-evaluation of this dataset (multiple
    // downstream actions, task retries, speculation) would otherwise
    // over-count the accumulator and spam duplicate warnings.
    val capSkips = spark.sparkContext.longAccumulator("osm_relation_member_cap_skips")
    val cap = MaxRelationMembers
    // the over-cap id set is tiny BY CONSTRUCTION (≤ totalMembers/cap ≈
    // 10^4 even at planet scale with a pathological input), so collect
    // it once and filter members with a literal NOT-IN — no persisted
    // count frame pinned for the session, no extra join shuffle
    val overCap: Array[(Long, Long)] = mpMembers.groupBy(col("rel_id"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > cap).as[(Long, Long)].collect()
    if (overCap.nonEmpty) {
      capSkips.add(overCap.length)
      val log = org.slf4j.LoggerFactory.getLogger("graft.engine.Osm")
      overCap.take(20).foreach { case (relId, n) =>
        log.warn(s"skipping relation $relId: $n way members exceeds MaxRelationMembers=$cap")
      }
      if (overCap.length > 20)
        log.warn(s"... and ${overCap.length - 20} more relations past MaxRelationMembers=$cap")
    }
    val membersOk =
      if (overCap.isEmpty) mpMembers
      else mpMembers.where(!col("rel_id").isin(overCap.map(o => o._1: Any): _*))

    val relFeatures = membersOk
      .join(wc.select(col("way_id").as("mid"), col("coords")), "mid")
      .groupBy(col("rel_id"))
      .agg(first(col("rel_tags")).as("tags"), collect_list(col("coords")).as("segs"))
      .as[(Long, Map[String, String], Seq[Seq[LonLat]])]
      .flatMap { case (id, tags, segs) =>
        val segments = segs.map(s => s.map(c => new Coordinate(c.lon, c.lat)).toArray)
        val g = try RingAssembler.assemble(segments) catch { case _: Exception => null }
        if (g == null || g.isEmpty) Iterator.empty
        else Iterator.single(SourceFeature(s"relation/$id", "osm", Geo.toWkb(g),
          tags - "type", id))
      }

    (points.unionByName(wayFeatures).unionByName(relFeatures), wc)
  }

  /** `.osm.pbf` → encoded tiles: the reference's end-to-end flow on
    * the Spark engine. */
  def tiles(spark: SparkSession, pbfPath: String,
            profile: Profile = new Pipeline.GraftProfile(),
            numPartitions: Int = 32,
            splitWays: Boolean = false): Dataset[graft.model.TileBytes] = {
    val entities = spark.read.format("osmpbf").load(pbfPath)
    Pipeline.tilesFromFeatures(
      sourceFeatures(entities, splitWays = splitWays), profile, numPartitions)
  }
}
