package graft.cli

import graft.engine.{Archives, Docs, Pipeline, SpatialJoin}
import org.apache.spark.sql.SparkSession

/**
 * Command-line entry point — the `Planetiler.create(Arguments)` /
 * `config-example.properties` surface of the reference
 * (`Planetiler.java:155`), Spark-first: the CLI assembles a DataFrame
 * pipeline and an output-URI archive sink; cluster topology comes from
 * spark-submit (`--master`), not from this layer.
 *
 *   sbt "runMain graft.cli.GraftCli --input=/data/docs --output=/out/world.pmtiles"
 *   spark-submit --class graft.cli.GraftCli graft.jar \
 *     --sf-dir=/root/testdata/sf0.01 --output=/tmp/t.mbtiles --maxzoom=9
 *
 * See `config-example.properties` at the repo root for the full
 * option surface (also printed by `--help`).
 */
object GraftCli {

  /** Every pipeline option, read in one place. Consuming an option
    * records it for `Arguments.describe()`, so `--help` can print the
    * full surface by calling this WITHOUT executing the pipeline. No
    * validation here — `run` validates after reading. */
  private case class Opts(sfDir: String, input: String, output: String,
                          maxZoom: Int, partitions: Int, gzip: Boolean,
                          pip: Boolean, profilePath: String, hillshade: Boolean,
                          metadata: Map[String, String]) {
    val isOsm: Boolean = input.endsWith(".osm.pbf") || input.endsWith(".pbf")
    val vectorFormat: Option[String] = // direct vector-file ingest via DSv2
      if (input.endsWith(".shp")) Some("shapefile")
      else if (input.endsWith(".gpkg")) Some("geopackage")
      else None
  }

  private def readOptions(args: Arguments, defaultParallelism: Int): Opts = {
    val sfDir = args.getString("sf_dir",
      "testdata directory with the TPC-H-ish tables (docs synthesized)", "")
    val input = args.getString("input",
      "input: a parquet docs-table directory, an .osm.pbf file, a .shp, or a .gpkg", "")
    val output = args.getString("output",
      "output archive URI (.mbtiles/.pmtiles/.pb/.csv/.json or a {z}/{x}/{y}.pbf dir)", "")
    val maxZoom = args.getInt("maxzoom", "maximum zoom rendered (caps every layer)", 8)
    val partitions = args.getInt("partitions", "range partitions for the tile shuffle",
      defaultParallelism)
    val gzip = args.getBoolean("gzip", "gzip tile bytes in the archive", default = true)
    val pip = args.getBoolean("pip",
      "assign each point its containing admin polygon (broadcast PIP)", default = true)
    val profilePath = args.getString("profile",
      "declarative profile (.json or .yml custommap dialect); default built-in profile", "")
    val hillshade = args.getBoolean("hillshade",
      "hillshade each doc's media-ref DEM and add the shade bands as a polygon layer",
      default = false)
    val metadata = Map(
      "name" -> args.getString("archive_name", "archive metadata: name", "graft"),
      "format" -> args.getString("archive_format", "archive metadata: tile format", "pbf")) ++
      args.withPrefix("meta")
    // consumed by main() before the session exists; recorded here too
    // so --help documents them
    args.getInt("shuffle_partitions", "spark.sql.shuffle.partitions", 32)
    args.getString("master", "spark master when not using spark-submit", "local[*]")
    args.getString("config", "java-properties file with option defaults", "")
    Opts(sfDir, input, output, maxZoom, partitions, gzip, pip, profilePath,
      hillshade, metadata)
  }

  /** Run the configured pipeline; returns the written tile count. */
  def run(args: Arguments, spark: SparkSession): Long = {
    val o = readOptions(args, spark.sparkContext.defaultParallelism)
    import o._
    require(sfDir.nonEmpty || input.nonEmpty, "one of --input / --sf-dir is required")
    require(output.nonEmpty, "--output is required")
    require(!((isOsm || vectorFormat.isDefined) && hillshade),
      "--hillshade applies to docs inputs (media-ref DEMs); file-feature inputs carry no rasters")

    val docs =
      if (isOsm || vectorFormat.isDefined) null // feature-stream paths
      else if (input.nonEmpty) spark.read.parquet(input)
      else Docs.docs(spark, sfDir)
    // every dataset this run persists, in creation order; all are
    // released when the run ends, so a long-lived session calling run()
    // repeatedly does not accumulate pinned data
    val caches = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Dataset[_]]
    lazy val osmFeatures = {
      val (features, wayCoords) = graft.engine.Osm.sourceFeaturesAndCache(
        spark.read.format("osmpbf").load(input))
      caches += wayCoords
      features
    }
    lazy val vectorFeatures: org.apache.spark.sql.Dataset[graft.model.SourceFeature] = {
      import spark.implicits._
      spark.read.format(vectorFormat.get).load(input)
        .select(org.apache.spark.sql.functions.col("source"),
          org.apache.spark.sql.functions.col("fid"),
          org.apache.spark.sql.functions.col("geom"),
          org.apache.spark.sql.functions.col("attrs"))
        .as[(String, Long, Array[Byte], Map[String, String])]
        .flatMap { case (source, fid, geom, attrs) =>
          if (geom == null || geom.isEmpty) Iterator.empty
          // doc_id keyed by the source file/table, not just the per-file
          // record number — a directory ingest of many .shp/.gpkg files
          // must not collide ids (and with them MVT feature ids)
          else Iterator.single(graft.model.SourceFeature(
            s"$source/$fid", source, geom, attrs, fid))
        }
    }

    try {
      // unified feature stream (rebalance folded in where the CPU-heavy
      // parse/render fan-out would otherwise pin to one input split)
      val baseFeatures: org.apache.spark.sql.Dataset[graft.model.SourceFeature] =
        if (isOsm) osmFeatures
        else if (vectorFormat.isDefined) vectorFeatures
        else if (hillshade) {
          // raster→vector merge: shade-band polygons union into the same
          // feature stream — "just another polygon layer". Rebalance the
          // docs ONCE before both CPU-heavy branches (single-split guard).
          val balanced = docs.repartition(partitions)
          Docs.sourceFeatures(balanced)
            .unionByName(graft.raster.Raster.hillshadeFeatures(balanced))
        } else Docs.sourceFeatures(docs.repartition(partitions))

      // PIP routing: broadcast index when the polygon layer fits the cap;
      // otherwise pre-tag points via the partitioned grid join (identical
      // smallest-id assignment, no driver collect) and let the profile
      // read the pre-attached tag — a planet-scale polygon layer degrades
      // to the scale path instead of failing the job
      var pipIndex: Option[SpatialJoin.PolygonIndex] = None
      val features: org.apache.spark.sql.Dataset[graft.model.SourceFeature] =
        if (!pip || profilePath.nonEmpty) baseFeatures
        else {
          // the PIP stage scans the feature stream several times (polygon
          // layer + point split + non-point pass-through + the render
          // itself) — persist so the expensive OSM/vector parse runs once,
          // spilling to disk rather than recomputing at planet scale
          baseFeatures.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          caches += baseFeatures
          // polygon layer: synthesized from sf-dir only when the docs
          // THEMSELVES come from sf-dir — an explicit --input must be
          // tagged against its own polygon features, never an unrelated
          // synthetic layer that happens to also be configured
          val polysDf =
            if (sfDir.nonEmpty && input.isEmpty && !isOsm && vectorFormat.isEmpty)
              Docs.sourceFeatures(Docs.polygonDocs(spark, sfDir)).toDF()
            else baseFeatures
              // hillshade shade bands are styling polygons, not admin
              // areas — they must never become PIP assignment targets
              .filter((f: graft.model.SourceFeature) => f.source != "raster" &&
                graft.geo.Geo.fromWkb(f.geom)
                  .isInstanceOf[org.locationtech.jts.geom.Polygonal])
              .toDF()
          SpatialJoin.collectPolysIfSmall(polysDf) match {
            case Some(polys) =>
              pipIndex = Some(new SpatialJoin.PolygonIndex(polys))
              baseFeatures
            case None =>
              SpatialJoin.attachContainingPolygonTag(baseFeatures, polysDf)
          }
        }

      val profile: graft.engine.Profile =
        if (profilePath.nonEmpty) {
          val text = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(profilePath)), "UTF-8")
          if (profilePath.endsWith(".yml") || profilePath.endsWith(".yaml"))
            graft.dsl.ConfigProfile.compileYaml(text)
          else graft.dsl.ConfigProfile.compile(text)
        } else new Pipeline.GraftProfile(
          pointMaxZoom = maxZoom, lineMaxZoom = maxZoom,
          polyMaxZoom = math.min(7, maxZoom), pip = pipIndex)

      val tiles = Pipeline.tilesFromFeatures(features, profile,
        numPartitions = partitions, gzipTiles = gzip,
        rebalance = if (vectorFormat.isDefined) partitions else 0)
      Archives.write(tiles, output, metadata, tilesGzipped = gzip)
    } finally {
      // newest first: a cache built over another (the feature stream
      // over the way coordinates) goes before it, so unpersisting the
      // inner one never has Spark rebuild the outer one's entry
      caches.reverseIterator.foreach(_.unpersist())
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = Arguments.parse(argv)
    if (args.helpRequested) {
      // record the full option surface WITHOUT running anything — help
      // must never execute the pipeline (or write the output archive)
      readOptions(args, defaultParallelism = 32)
      println("graft tile pipeline options:\n" + args.describe())
      return
    }
    val spark = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        args.getInt("shuffle_partitions", "spark.sql.shuffle.partitions", 32).toString)
      .master(sys.props.getOrElse("spark.master",
        args.getString("master", "spark master when not using spark-submit", "local[*]")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val t0 = System.nanoTime()
      val n = run(args, spark)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[graft] wrote $n tiles in $sec%.1f s")
    } finally spark.stop()
  }
}
