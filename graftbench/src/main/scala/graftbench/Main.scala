package graftbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/**
 * Benchmark entry point: one workload, one seed, one JVM.
 *
 *   graftbench.Main --workload=docs_pmtiles --seed=1 --seconds=10 --trace=0 --build-dir=DIR
 *
 * With `--trace=0` it sets up (fixture, session, warm-up calls), then
 * repeats the untraced call for `--seconds` and reports the end-to-end
 * metrics as medians. With `--trace=1` it makes the traced run and
 * reports the per-layer metrics. Human-readable lines come first; the
 * last stdout line is `RESULT <json>`.
 */
object Main {
  /** Warm-up calls on the real input before timing starts, until they
    * add up to [[WarmupSeconds]]. The first call in a JVM is the slowest
    * (JIT, generated-code caches), mostly in per-call planning work,
    * which a smaller input would not make cheaper. */
  val WarmupSeconds = 5.0
  /** Timed calls: at least [[MinIterations]], and more until `--seconds`
    * have passed. */
  val MinIterations = 3
  val MaxIterations = 200

  /** End-to-end metrics with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "items_per_s" -> "1/s", "cpu_s" -> "s", "output_bytes" -> "bytes",
    "success_share" -> "ratio", "setup_s" -> "s")

  /** Writes the result line and the trace file; Scala maps, sequences
    * and options map to JSON objects, arrays and null. */
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** An insertion-ordered JSON object. */
  private def obj(kvs: (String, Any)*): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap(kvs: _*)

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def session(cores: Int, buildDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$buildDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$buildDir/spark-warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Milliseconds one thread takes to hash 64 MiB: a fixed CPU probe
    * printed with the environment, so a slower host shows apart from a
    * slower program. */
  def hostProbeMs(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    for (_ <- 0 until 64) md.update(buf)
    md.digest()
    (System.nanoTime() - t0) / 1e6
  }

  /** The pinned run environment, printed next to the metrics. */
  def environment(spark: SparkSession, probeMs: Double): Seq[(String, String)] = {
    val conf = spark.conf
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:")).mkString(" ")
    Seq(
      "master" -> spark.sparkContext.master,
      "cores" -> spark.sparkContext.defaultParallelism.toString,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "adaptive" -> conf.get("spark.sql.adaptive.enabled"),
      // pip_partitioned sets -1 and false around its calls
      "broadcast_threshold" -> conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "coalesce_partitions" -> conf.get("spark.sql.adaptive.coalescePartitions.enabled"),
      "local_dir" -> spark.sparkContext.getConf.get("spark.local.dir"),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "jvm_flags" -> jvmArgs,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "host_probe_ms" -> f"$probeMs%.1f")
  }

  private def parse(argv: Array[String]): Map[String, String] =
    argv.toSeq.map { a =>
      val s = a.stripPrefix("--")
      val i = s.indexOf('=')
      if (i < 0) s -> "" else s.substring(0, i) -> s.substring(i + 1)
    }.toMap

  def main(argv: Array[String]): Unit = {
    val opts = parse(argv)
    val workload = opts("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val buildDir = new File(opts("build-dir")).getAbsolutePath
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val probeMs = hostProbeMs()
    val spark = session(Runtime.getRuntime.availableProcessors, buildDir)
    try {
      val env = environment(spark, probeMs)
      env.foreach { case (k, v) => println(s"env $k=$v") }
      val fx = Fixtures.obtain(spark, s"$buildDir/fixtures", workload, seed, Sizes.Bench)
      println(s"fixture $workload seed=$seed cached=${fx.cached} gen_s=${fx.genS} bytes=${fx.bytes} " +
        fx.facts.toSeq.sorted.map { case (k, v) => s"$k=${v.toLong}" }.mkString(" "))
      val outRoot = s"$buildDir/out/$workload"

      // outputs are checked only after timing ends, so no check runs
      // between timed calls
      val warmOut = Workloads.outputPath(s"$outRoot/warm", workload)
      val warmS = ArrayBuffer.empty[Double]
      while (warmS.sum < WarmupSeconds) {
        Workloads.deleteOutput(warmOut)
        val t0 = System.nanoTime()
        Workloads.call(spark, fx, warmOut)
        warmS += (System.nanoTime() - t0) / 1e9
      }
      Workloads.deleteOutput(warmOut)
      // generation time counts whether or not the fixture came from the cache
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 + (if (fx.cached) fx.genS else 0.0)
      println(f"setup $workload setup_s=$setupS%.3f gen_s=${fx.genS}%.3f warmup_s=" +
        warmS.map(w => f"$w%.3f").mkString(","))

      if (trace) runTraced(spark, fx, outRoot, buildDir, env, setupS)
      else runTimed(spark, fx, outRoot, seconds, setupS)
    } finally spark.stop()
  }

  private def printChecks(label: String, v: Verified): Unit = {
    v.checks.foreach(c => println(s"check $label ${c.name} ${if (c.ok) "PASS" else "FAIL"}: ${c.detail}"))
    println(s"digest $label ${v.digest}")
  }

  private def emit(correct: Boolean, attempted: Long, failed: Long,
                   metrics: Seq[(String, Double, String)]): Unit = {
    metrics.foreach { case (n, v, u) => println(s"metric $n = $v $u") }
    val m = obj(metrics.map { case (n, v, u) => n -> obj("value" -> v, "unit" -> u) }: _*)
    println("RESULT " + json.writeValueAsString(obj("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> m)))
  }

  private def runTimed(spark: SparkSession, fx: Fixture, outRoot: String, seconds: Double,
                       setupS: Double): Unit = {
    val walls = ArrayBuffer.empty[Double]
    val cpus = ArrayBuffer.empty[Double]
    val outputs = ArrayBuffer.empty[(String, Long)]
    var calls = 0L
    var failedCalls = 0L
    val loop0 = System.nanoTime()
    while ((walls.length < MinIterations || (System.nanoTime() - loop0) / 1e9 < seconds) &&
        calls < MaxIterations) {
      calls += 1
      val out = Workloads.outputPath(s"$outRoot/t$calls", fx.workload)
      Workloads.deleteOutput(out)
      // each call starts on a collected heap, as a fresh batch job would
      System.gc()
      val c0 = processCpuNs()
      val t0 = System.nanoTime()
      try {
        val items = Workloads.call(spark, fx, out)
        walls += (System.nanoTime() - t0) / 1e9
        cpus += (processCpuNs() - c0) / 1e9
        outputs += ((out, items))
      } catch {
        case e: Exception =>
          failedCalls += 1
          println(s"error call $calls: $e")
      }
    }

    if (outputs.isEmpty) sys.error("every timed call failed")
    // checks: the first output in full; an archive byte-identical to it
    // needs nothing more, any other output is checked in full, and
    // whether its content equals the first's is reported, not required
    val (firstOut, firstItems) = outputs.head
    val first = Workloads.verify(spark, fx, firstOut, firstItems)
    val firstSha = if (Workloads.isTiling(fx.workload)) Checks.fileSha256(firstOut) else ""
    val checks = ArrayBuffer.empty[Check] ++= first.checks
    var differing = 0
    outputs.tail.foreach { case (out, items) =>
      val sameFile = Workloads.isTiling(fx.workload) && items == firstItems && Checks.fileSha256(out) == firstSha
      if (!sameFile) {
        val v = Workloads.verify(spark, fx, out, items)
        checks ++= v.checks
        if (v.digest != first.digest) differing += 1
      }
    }
    outputs.foreach { case (out, _) => Workloads.deleteOutput(out) }
    printChecks(fx.workload, first)
    checks.filterNot(_.ok).foreach(c => println(s"check ${fx.workload} ${c.name} FAIL: ${c.detail}"))
    println(s"determinism ${fx.workload} $differing of ${outputs.length - 1} later outputs differ from the first")
    val failedChecks = checks.count(!_.ok).toLong
    val attempted = calls + checks.length
    val failed = failedCalls + failedChecks
    val wall = Workloads.median(walls.toSeq)
    println(s"samples ${fx.workload} n=${walls.length} wall_s=" + walls.map(w => f"$w%.3f").mkString(","))
    val values = Map(
      "wall_s" -> wall,
      "items_per_s" -> firstItems / wall,
      "cpu_s" -> Workloads.median(cpus.toSeq),
      "output_bytes" -> first.bytes.toDouble,
      "success_share" -> (attempted - failed).toDouble / attempted,
      "setup_s" -> setupS)
    emit(failed == 0, attempted, failed, EndToEnd.map { case (n, u) => (n, values(n), u) })
  }

  private def runTraced(spark: SparkSession, fx: Fixture, outRoot: String, buildDir: String,
                        env: Seq[(String, String)], setupS: Double): Unit = {
    val t = Workloads.traced(spark, fx, outRoot)
    val all = t.verified
    all.foreach { case (label, v) => printChecks(s"${fx.workload}/$label", v) }
    val checks = all.flatMap(_._2.checks)
    checks.filterNot(_.ok).foreach(c => println(s"check ${fx.workload} ${c.name} FAIL: ${c.detail}"))
    println(s"determinism ${fx.workload} ${t.metrics("outputs_differing").toInt} of ${all.length - 1} " +
      "outputs (traced call, second untraced call, decomposed) differ from the first untraced output")
    val failed = checks.count(!_.ok).toLong
    val m = t.metrics
    if (fx.workload == "docs_pmtiles")
      println(f"split docs_pmtiles wall_s=${m("trace.untraced_wall_s")}%.3f " +
        f"Archives.self_s=${m("Archives.self_s")}%.3f TileAssembler.reduce_s=${m("TileAssembler.reduce_s")}%.3f")

    val file = writeTrace(new File(buildDir, "trace"), fx, env, setupS, t, checks, all)
    println(s"trace ${file.getPath}")
    val checkCount = checks.length.toLong
    emit(failed == 0, checkCount + t.tracer.spans.length, failed,
      Workloads.LayerMetrics.map { case (n, u) => (n, m(n), u) })
  }

  /** Writes the traced run's spans, listener metrics, per-layer metrics,
    * checks and digests as one JSON file; returns it. */
  def writeTrace(dir: File, fx: Fixture, env: Seq[(String, String)], setupS: Double,
                 t: Workloads.TraceResult, checks: Seq[Check],
                 digests: Seq[(String, Verified)]): File = {
    val m = t.metrics
    dir.mkdirs()
    val file = new File(dir, s"${fx.workload}-seed${fx.seed}.json")
    val t0 = t.tracer.spans.headOption.map(_.startNs).getOrElse(0L)
    val doc = obj(
      "workload" -> fx.workload, "seed" -> fx.seed, "setup_s" -> setupS,
      "unattributed_jobs" -> t.tracer.unattributedJobs,
      "environment" -> obj(env: _*),
      "fixture" -> obj("dir" -> fx.dir, "gen_s" -> fx.genS, "cached" -> fx.cached,
        "facts" -> fx.facts),
      "metrics" -> obj(Workloads.LayerMetrics.map { case (n, u) =>
        n -> obj("value" -> m(n), "unit" -> u) }: _*),
      "checks" -> checks.map(c => obj("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "digests" -> obj(digests.map { case (l, v) => l -> v.digest }: _*),
      "spans" -> t.tracer.spans.map { s =>
        obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
          "wall_s" -> s.wallS, "jobs" -> s.jobs,
          "stages" -> s.stages.values.map { st =>
            obj("stage_id" -> st.stageId, "name" -> st.name, "wall_s" -> st.wallS,
              "tasks" -> st.tasks, "failed_tasks" -> st.failedTasks, "run_s" -> st.runMs / 1e3,
              "cpu_s" -> st.cpuNs / 1e9, "gc_s" -> st.gcMs / 1e3,
              "shuffle_write_bytes" -> st.shuffleWriteBytes,
              "shuffle_read_bytes" -> st.shuffleReadBytes,
              "memory_spill_bytes" -> st.memSpillBytes, "disk_spill_bytes" -> st.diskSpillBytes,
              "input_bytes" -> st.inputBytes,
              "task_durations_ms" -> st.taskDurationsMs,
              "task_shuffle_records" -> st.taskShuffleRecords)
          })
      })
    json.writeValue(file, doc)
    file
  }
}
