package graftbench

import graft.cli.{Arguments, GraftCli}
import graft.engine.{Archives, Docs, Osm, Pipeline, SpatialJoin, TileAssembler}
import graft.geo.Geo
import graft.model.SourceFeature
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, length, lit, sum}
import org.apache.spark.storage.StorageLevel

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/**
 * The three workloads: the call the timed loop measures, and the traced
 * decomposition that gives the per-layer numbers. Both go only through
 * public product functions.
 */
object Workloads {
  val Names: Seq[String] = Seq("docs_pmtiles", "osm_mbtiles", "pip_partitioned")
  val DocsMaxZoom = 11
  val OsmMaxZoom = 13

  def isTiling(w: String): Boolean = w != "pip_partitioned"

  /** Where a call writes its output under `dir` (created if missing). */
  def outputPath(dir: String, w: String): String = {
    new File(dir).mkdirs()
    w match {
      case "docs_pmtiles" => s"$dir/docs.pmtiles"
      case "osm_mbtiles" => s"$dir/osm.mbtiles"
      case _ => s"$dir/pip-result"
    }
  }

  def deleteOutput(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  private def cliArgs(fx: Fixture, out: String): Array[String] = {
    val (input, maxZoom) =
      if (fx.workload == "docs_pmtiles") (fx.file("docs"), DocsMaxZoom) else (fx.file("pbf"), OsmMaxZoom)
    Array(s"--input=$input", s"--output=$out", s"--maxzoom=$maxZoom")
  }

  /** Runs `body` with broadcast joins and shuffle-partition coalescing
    * off. At this input size Spark would broadcast the polygon cells of
    * the partitioned join, or merge its few small reduce partitions. At
    * the scale the join is built for, its cell join shuffles into one
    * reduce task per shuffle partition, and the hot megacity cell is
    * one skewed task. These settings make the small input take that
    * path. */
  private def shuffledJoin[T](spark: SparkSession)(body: => T): T = {
    val settings = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def pipJoin(spark: SparkSession, fx: Fixture): DataFrame =
    SpatialJoin.pointInPolygonPartitioned(
      spark.read.parquet(fx.file("points")), spark.read.parquet(fx.file("polys")))

  /** The measured call: input to closed archive, or to the materialised
    * join result. Returns the items it produced (tiles) or consumed
    * (points). */
  def call(spark: SparkSession, fx: Fixture, out: String): Long =
    if (isTiling(fx.workload)) GraftCli.run(Arguments.parse(cliArgs(fx, out)), spark)
    else {
      shuffledJoin(spark)(pipJoin(spark, fx).write.parquet(out))
      fx.facts("points").toLong
    }

  /** Checks an output of [[call]]; `items` is what the call returned. */
  def verify(spark: SparkSession, fx: Fixture, out: String, items: Long): Verified =
    if (isTiling(fx.workload)) Checks.tileArchive(spark, out, items)
    else Checks.pipResult(spark, fx, out)

  // ------------------------------------------------------------ tracing

  /** Per-layer metric names, by module, with units. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "sources.self_s" -> "s", "sources.rows_out" -> "count", "sources.bytes_in" -> "bytes",
    "Docs.self_s" -> "s", "Docs.rows_out" -> "count",
    "Osm.self_s" -> "s", "Osm.rows_out" -> "count", "Osm.shuffle_bytes" -> "bytes",
    "GraftCli.pip_index_s" -> "s", "GraftCli.pip_polys" -> "count",
    "Render.self_s" -> "s", "Render.cpu_s" -> "s", "Render.kv_rows" -> "count",
    "Render.kv_bytes" -> "bytes", "Render.fanout" -> "ratio",
    "TileAssembler.sample_s" -> "s", "TileAssembler.self_s" -> "s",
    "TileAssembler.shuffle_write_bytes" -> "bytes",
    "TileAssembler.spill_bytes" -> "bytes", "TileAssembler.bucket_skew" -> "ratio",
    "TileAssembler.reduce_s" -> "s", "TileAssembler.reduce_cpu_s" -> "s",
    "TileAssembler.reduce_occupancy" -> "ratio", "TileAssembler.tiles_out" -> "count",
    "TileAssembler.tile_bytes" -> "bytes",
    "Archives.self_s" -> "s", "Archives.jobs" -> "count", "Archives.bytes_out" -> "bytes",
    "Archives.dedup_ratio" -> "ratio",
    "SpatialJoin.self_s" -> "s", "SpatialJoin.shuffle_bytes" -> "bytes",
    "SpatialJoin.task_skew" -> "ratio", "SpatialJoin.match_ratio" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.peak_heap_mb" -> "MB",
    "spark.task_attempts" -> "count", "spark.failed_tasks" -> "count", "spark.occupancy" -> "ratio",
    "trace.untraced_wall_s" -> "s", "trace.traced_wall_s" -> "s", "trace.overhead_s" -> "s",
    "failed_share" -> "ratio", "outputs_differing" -> "count")

  /** The layers whose metrics a workload's traced run measures. */
  def layersOf(w: String): Set[String] = w match {
    case "docs_pmtiles" => Set("sources", "Docs", "GraftCli", "Render", "TileAssembler", "Archives",
      "jvm", "spark", "trace", "failed_share", "outputs_differing")
    case "osm_mbtiles" => Set("sources", "Osm", "GraftCli", "Render", "TileAssembler", "Archives",
      "jvm", "spark", "trace", "failed_share", "outputs_differing")
    case _ => Set("sources", "SpatialJoin", "jvm", "spark", "trace", "failed_share", "outputs_differing")
  }

  def layerOf(metric: String): String = metric.takeWhile(_ != '.')

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** JVM-wide GC time and heap high-water mark around `body`. */
  private def jvmUsage[T](body: => T): (T, Double, Double) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    pools.foreach(_.resetPeakUsage())
    val gc0 = gcs.map(_.getCollectionTime).sum
    val out = body
    val gcS = (gcs.map(_.getCollectionTime).sum - gc0) / 1e3
    val peakMb = pools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    (out, gcS, peakMb)
  }

  /** Result of a traced run: per-layer metrics, the outputs it checked. */
  final case class TraceResult(metrics: Map[String, Double], verified: Seq[(String, Verified)],
                               tracer: Tracer)

  /**
   * The traced run. The same [[call]] untraced, traced (inside a span
   * with the listener attached) and untraced again; the traced wall time
   * minus the mean untraced one is the tracing overhead. Then the
   * decomposition: one span per public call along the product's path,
   * each prefix ending in a count or a noop write, so a layer's self
   * time is its prefix's wall time minus the prefix before it.
   */
  def traced(spark: SparkSession, fx: Fixture, outRoot: String): TraceResult = {
    val cores = spark.sparkContext.defaultParallelism
    val out = outputPath(outRoot, fx.workload)
    def untracedCall(): (Long, Double) = {
      deleteOutput(out)
      System.gc()
      val t0 = System.nanoTime()
      val items = call(spark, fx, out)
      (items, (System.nanoTime() - t0) / 1e9)
    }
    val (items, before) = untracedCall()
    val first = verify(spark, fx, out, items)
    val tracer = new Tracer(spark)
    deleteOutput(out)
    System.gc()
    val (_, gcS, peakMb) = jvmUsage(tracer.span("call")(call(spark, fx, out)))
    val callV = verify(spark, fx, out, items)
    // untraced calls on both sides of the traced one, so JIT warm-up
    // does not count against the tracing overhead
    val (_, after) = untracedCall()
    val second = verify(spark, fx, out, items)
    val untracedS = (before + after) / 2
    val decomposedOut = outputPath(s"$outRoot/decomposed", fx.workload)
    deleteOutput(decomposedOut)
    val layer =
      if (isTiling(fx.workload)) tilingLayers(spark, fx, tracer, decomposedOut)
      else pipLayers(spark, fx, tracer, decomposedOut)
    tracer.settle()
    tracer.close()

    val callSpan = tracer.get("call")
    val verified = Seq("untraced" -> first, "call" -> callV, "untraced-again" -> second) ++ layer._2
    val checkCount = verified.map(_._2.checks.length).sum
    val failedChecks = verified.map(_._2.checks.count(!_.ok)).sum
    val attempts = tracer.spans.map(_.tasks).sum
    val failedTasks = tracer.spans.map(_.failedTasks).sum
    val common = Map(
      "jvm.gc_s" -> gcS, "jvm.peak_heap_mb" -> peakMb,
      "spark.task_attempts" -> callSpan.tasks.toDouble,
      "spark.failed_tasks" -> callSpan.failedTasks.toDouble,
      "spark.occupancy" -> ratio(callSpan.taskS, callSpan.wallS * cores),
      "trace.untraced_wall_s" -> untracedS, "trace.traced_wall_s" -> callSpan.wallS,
      "trace.overhead_s" -> (callSpan.wallS - untracedS),
      "failed_share" -> ratio((failedTasks + failedChecks).toDouble, (attempts + checkCount).toDouble),
      "outputs_differing" -> verified.count(_._2.digest != first.digest).toDouble)
    val all = LayerMetrics.map { case (m, _) => m -> 0.0 }.toMap ++ layer._1 ++ common
    TraceResult(all, verified, tracer)
  }

  /** The stage of `s` that read the most shuffle bytes. */
  private def reduceStage(s: Span): Option[StageStats] =
    s.stages.values.filter(_.shuffleReadBytes > 0).toSeq.sortBy(-_.shuffleReadBytes).headOption

  /**
   * The GraftCli path of a tiling workload, call by call: sources ->
   * Docs/Osm.sourceFeatures (persisted, as GraftCli does) -> the
   * broadcast PIP index -> Pipeline.renderedFromFeatures ->
   * TileAssembler.assemble -> Archives.write.
   */
  private def tilingLayers(spark: SparkSession, fx: Fixture, tr: Tracer,
                           out: String): (Map[String, Double], Seq[(String, Verified)]) = {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val osm = fx.workload == "osm_mbtiles"
    val input = if (osm) fx.file("pbf") else fx.file("docs")
    def read(): DataFrame =
      if (osm) spark.read.format("osmpbf").load(input) else spark.read.parquet(input)
    val maxZoom = if (osm) OsmMaxZoom else DocsMaxZoom

    val src = tr.span("sources") { val df = read(); noop(df); df }
    val srcRows = src.count()
    val featLayer = if (osm) "Osm" else "Docs"
    val features: Dataset[SourceFeature] = tr.span(featLayer) {
      val f = if (osm) Osm.sourceFeatures(read()) else Docs.sourceFeatures(read().repartition(cores))
      f.persist(StorageLevel.MEMORY_AND_DISK)
      f.count()
      f
    }
    try {
      val featRows = features.count()
      val polys = tr.span("GraftCli.pip_index") {
        val polysDf = features.filter((f: SourceFeature) => f.source != "raster" &&
          Geo.fromWkb(f.geom).isInstanceOf[org.locationtech.jts.geom.Polygonal]).toDF()
        SpatialJoin.collectPolysIfSmall(polysDf)
      }
      val pip = polys.map(new SpatialJoin.PolygonIndex(_))
      val profile = new Pipeline.GraftProfile(pointMaxZoom = maxZoom, lineMaxZoom = maxZoom,
        polyMaxZoom = math.min(7, maxZoom), pip = pip)
      tr.span("features.cached")(noop(features.toDF()))
      val kv = Pipeline.renderedFromFeatures(features, profile)
      val kvAgg = tr.span("Render") {
        kv.agg(count(lit(1)), sum(length(col("value")))).collect()(0)
      }
      val kvRows = kvAgg.getLong(0)
      val kvBytes = Option(kvAgg.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L) + 16L * kvRows
      val (tiles, tileAgg) = tr.span("TileAssembler") {
        val t = tr.span("TileAssembler.assemble")(
          TileAssembler.assemble(kv, profile, cores))
        (t, t.agg(count(lit(1)), sum(length(col("bytes")))).collect()(0))
      }
      val tilesOut = tileAgg.getLong(0)
      val tileBytes = Option(tileAgg.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
      val written = tr.span("Archives")(
        Archives.write(tiles, out, Map("name" -> "graft", "format" -> "pbf"), tilesGzipped = true))
      tr.settle()

      val v = Checks.tileArchive(spark, out, tilesOut)
      val sinkCheck = Check("archive_count", written == tilesOut,
        s"Archives.write returned $written, TileAssembler produced $tilesOut")
      val s = tr.get _
      val asm = s("TileAssembler")
      val red = reduceStage(asm)
      val reduceS = red.map(_.wallS).getOrElse(0.0)
      val recs = red.map(_.taskShuffleRecords.map(_.toDouble).toSeq).getOrElse(Nil)
      val sampleS = s("TileAssembler.assemble").wallS
      val metrics = Map(
        "sources.self_s" -> s("sources").wallS,
        "sources.rows_out" -> srcRows.toDouble,
        "sources.bytes_in" -> fx.bytes.toDouble,
        s"$featLayer.self_s" -> (s(featLayer).wallS - s("sources").wallS),
        s"$featLayer.rows_out" -> featRows.toDouble,
        "Osm.shuffle_bytes" -> (if (osm) s("Osm").shuffleWriteBytes.toDouble else 0.0),
        "GraftCli.pip_index_s" -> s("GraftCli.pip_index").wallS,
        "GraftCli.pip_polys" -> polys.map(_.length.toDouble).getOrElse(0.0),
        "Render.self_s" -> (s("Render").wallS - s("features.cached").wallS),
        "Render.cpu_s" -> (s("Render").cpuS - s("features.cached").cpuS),
        "Render.kv_rows" -> kvRows.toDouble,
        "Render.kv_bytes" -> kvBytes.toDouble,
        "Render.fanout" -> ratio(kvRows.toDouble, featRows.toDouble),
        "TileAssembler.sample_s" -> sampleS,
        "TileAssembler.self_s" -> (asm.wallS - s("Render").wallS),
        "TileAssembler.shuffle_write_bytes" ->
          asm.stages.values.map(_.shuffleWriteBytes).maxOption.getOrElse(0L).toDouble,
        "TileAssembler.spill_bytes" -> asm.spillBytes.toDouble,
        "TileAssembler.bucket_skew" -> ratio(recs.maxOption.getOrElse(0.0), median(recs)),
        "TileAssembler.reduce_s" -> reduceS,
        "TileAssembler.reduce_cpu_s" -> red.map(_.cpuNs / 1e9).getOrElse(0.0),
        "TileAssembler.reduce_occupancy" ->
          ratio(red.map(_.runMs / 1e3).getOrElse(0.0), reduceS * cores),
        "TileAssembler.tiles_out" -> tilesOut.toDouble,
        "TileAssembler.tile_bytes" -> tileBytes.toDouble,
        "Archives.self_s" -> (s("Archives").wallS - (asm.wallS - sampleS)),
        "Archives.jobs" -> s("Archives").jobs.length.toDouble,
        "Archives.bytes_out" -> new File(out).length().toDouble,
        "Archives.dedup_ratio" -> v.facts("dedup_ratio"))
      (metrics, Seq("decomposed" -> v.copy(checks = v.checks :+ sinkCheck)))
    } finally features.unpersist()
  }

  /** The partitioned join, call by call: sources -> SpatialJoin ->
    * parquet sink. */
  private def pipLayers(spark: SparkSession, fx: Fixture, tr: Tracer,
                        out: String): (Map[String, Double], Seq[(String, Verified)]) = {
    val points = spark.read.parquet(fx.file("points"))
    val polys = spark.read.parquet(fx.file("polys"))
    tr.span("sources") { noop(points); noop(polys) }
    shuffledJoin(spark) {
      tr.span("SpatialJoin") { noop(SpatialJoin.pointInPolygonPartitioned(points, polys)) }
      tr.span("sink")(SpatialJoin.pointInPolygonPartitioned(points, polys).write.parquet(out))
    }
    tr.settle()
    val v = Checks.pipResult(spark, fx, out)
    val s = tr.get _
    val join = s("SpatialJoin")
    // the reduce stage that took the most task time: the cell join,
    // where the megacity cell is one partition
    val heavy = join.stages.values.filter(_.shuffleReadBytes > 0).toSeq.sortBy(st => -st.runMs).headOption
    val durs = heavy.map(_.taskDurationsMs.map(_.toDouble).toSeq).getOrElse(Nil)
    val metrics = Map(
      "sources.self_s" -> s("sources").wallS,
      "sources.rows_out" -> (fx.facts("points") + fx.facts("polys")),
      "sources.bytes_in" -> fx.bytes.toDouble,
      "SpatialJoin.self_s" -> (join.wallS - s("sources").wallS),
      "SpatialJoin.shuffle_bytes" -> join.shuffleWriteBytes.toDouble,
      "SpatialJoin.task_skew" -> ratio(durs.maxOption.getOrElse(0.0), median(durs)),
      "SpatialJoin.match_ratio" -> v.facts("match_ratio"))
    (metrics, Seq("decomposed" -> v))
  }
}
