package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Task-level work one Spark stage did inside a span. */
final class StageStats(val stageId: Int) {
  var name = ""
  var submittedMs = 0L
  var completedMs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var memSpillBytes = 0L
  var diskSpillBytes = 0L
  var inputBytes = 0L
  val taskDurationsMs = ArrayBuffer.empty[Long]
  val taskShuffleRecords = ArrayBuffer.empty[Long]

  def wallS: Double =
    if (completedMs > submittedMs && submittedMs > 0) (completedMs - submittedMs) / 1e3 else 0.0
}

/** One traced call into the product: name, wall interval, parent and
  * the Spark work attributed to it through the job group the tracer set. */
final class Span(val id: Int, val name: String, val parent: Option[Int]) {
  var startNs = 0L
  var endNs = 0L
  val jobs = ArrayBuffer.empty[Int]
  val stages = mutable.LinkedHashMap.empty[Int, StageStats]

  def wallS: Double = (endNs - startNs) / 1e9
  def groupId: String = s"graftbench-span-$id"
  def tasks: Long = stages.valuesIterator.map(_.tasks).sum
  def failedTasks: Long = stages.valuesIterator.map(_.failedTasks).sum
  def cpuS: Double = stages.valuesIterator.map(_.cpuNs).sum / 1e9
  def taskS: Double = stages.valuesIterator.map(_.runMs).sum / 1e3
  def shuffleWriteBytes: Long = stages.valuesIterator.map(_.shuffleWriteBytes).sum
  def spillBytes: Long = stages.valuesIterator.map(s => s.diskSpillBytes).sum
}

/** Attributes jobs, stages and tasks to spans by the job group the
  * tracer sets. Jobs with no span's group are only counted. */
final class SpanListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, Span]
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  @volatile var unattributedJobs = 0L

  def register(s: Span): Unit = synchronized { byGroup(s.groupId) = s }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.flatMap(byGroup.get) match {
      case Some(s) =>
        s.jobs += e.jobId
        e.stageIds.foreach(id => stageSpan(id) = s)
      case None => unattributedJobs += 1
    }
  }

  private def stats(stageId: Int): Option[StageStats] =
    stageSpan.get(stageId).map(s => s.stages.getOrElseUpdate(stageId, new StageStats(stageId)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stats(e.stageInfo.stageId).foreach { st =>
      st.name = e.stageInfo.name
      st.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stats(e.stageInfo.stageId).foreach { st =>
      st.name = e.stageInfo.name
      e.stageInfo.submissionTime.foreach(st.submittedMs = _)
      st.completedMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stats(e.stageId).foreach { st =>
      st.tasks += 1
      if (!e.taskInfo.successful) st.failedTasks += 1
      st.taskDurationsMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.memSpillBytes += m.memoryBytesSpilled
        st.diskSpillBytes += m.diskBytesSpilled
        st.inputBytes += m.inputMetrics.bytesRead
        st.taskShuffleRecords += m.shuffleReadMetrics.recordsRead
      } else st.taskShuffleRecords += 0L
    }
  }
}

/** Span recorder for one traced run: it owns the listener and sets a
  * job group per span. Spans stay in memory until the run writes them
  * out. Timed runs use no tracer. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val listener = new SpanListener
  sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.length, name, stack.headOption.map(_.id))
    spans += s
    listener.register(s)
    sc.setJobGroup(s.groupId, name, interruptOnCancel = false)
    stack = s :: stack
    s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.groupId, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def get(name: String): Span =
    spans.find(_.name == name).getOrElse(sys.error(s"no span named $name"))

  /** Wait for the listener to see every event of the spans so far. */
  def settle(): Unit = org.apache.spark.graftbench.BusBridge.drain(sc)

  /** Jobs that ran while the listener was attached but carried no
    * span's job group. */
  def unattributedJobs: Long = listener.unattributedJobs

  def close(): Unit = sc.removeSparkListener(listener)
}
