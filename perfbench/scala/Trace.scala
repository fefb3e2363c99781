package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around every call the benchmark makes into a layer,
  * plus a SparkListener that hangs Spark jobs (and their stages and
  * tasks) under the span that was open when the job was submitted.
  *
  * Untraced runs (`enabled = false`) record nothing and attach no
  * listener; `span` then costs two `nanoTime` reads.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val listener = new Listener
  if (enabled) sc.addSparkListener(listener)

  /** Time `body` as a span named `name`, child of the open span. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    val s = Span(id, parent, name, System.nanoTime(), 0L)
    spans += s
    stack.push(id)
    sc.setLocalProperty(SpanKey, id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
    }
  }

  /** Stop listening once every event posted so far has been delivered.
    * The listener bus is asynchronous, so a job that has ended may not
    * have been seen to start yet. Events arrive in order: when the end of
    * a marker job submitted now has arrived, so has every earlier event.
    * The marker job itself is left out of the counts.
    */
  def close(): Unit = if (enabled) {
    sc.setLocalProperty(MarkerKey, "true")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    val t0 = System.nanoTime()
    while (!listener.markerEnded && System.nanoTime() - t0 < 60e9)
      Thread.sleep(5)
    sc.removeSparkListener(listener)
    require(listener.markerEnded,
      "the listener bus did not deliver the marker job's end within 60 s")
  }

  def jobs: Seq[Job] = listener.jobs.asScala.toSeq
  /** Submission time (epoch ms) of each stage that was submitted. */
  def stageSubmitted: Map[Int, Long] = listener.submitted.asScala.toMap
  def tasks: Seq[TaskRec] = listener.tasks.asScala.toSeq

  /** `id` and every span below it. */
  def subtree(id: Int): Set[Int] = {
    val out = mutable.Set(id)
    spans.foreach(s => if (out(s.parent)) out += s.id)
    out.toSet
  }

  /** Jobs submitted while `id` or one of its descendants was open. */
  def jobsUnder(id: Int): Seq[Job] = {
    val ids = subtree(id)
    jobs.filter(j => ids(j.span))
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  val MarkerKey = "perfbench.marker"

  final case class Span(id: Int, parent: Int, name: String, start: Long,
      var end: Long)

  /** One Spark job; `callSite` is the innermost engine frame that
    * submitted it, e.g. `refine at Extrinsic.scala:197` (for SQL jobs,
    * taken from the SQL execution's call stack, so jobs the engine runs
    * asynchronously are still attributed to the calling module). Times
    * are epoch milliseconds.
    */
  final case class Job(id: Int, span: Int, callSite: String,
      stageIds: Seq[Int], start: Long, var end: Long = -1L)

  final case class TaskRec(stageId: Int, launch: Long, finish: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, peakMem: Long)

  private final class Listener extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[Job]()
    val submitted = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val tasks = new ConcurrentLinkedQueue[TaskRec]()
    private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    private val execSites =
      new java.util.concurrent.ConcurrentHashMap[Long, String]()
    @volatile private var markerJob = -1
    @volatile var markerEnded = false

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        engineFrame(s.details).foreach(execSites.put(s.executionId, _))
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(MarkerKey) != null))
        markerJob = e.jobId
      else jobStart(e)

    private def jobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSites.get(id.toLong)))
        .orElse(e.stageInfos.sortBy(-_.stageId).headOption
          .flatMap(si => engineFrame(si.details).orElse(Some(si.name))))
        .getOrElse("")
      val j = Job(e.jobId, span, site, e.stageIds, e.time)
      jobs.add(j); byId.put(e.jobId, j)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) markerEnded = true
      else Option(byId.get(e.jobId)).foreach(_.end = e.time)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      submitted.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val ti = e.taskInfo
      if (m != null) tasks.add(TaskRec(e.stageId, ti.launchTime,
        ti.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
    }
  }

  /** Process CPU and collector time of this JVM, for deltas. */
  final case class JvmClock(cpuNs: Long, gcMs: Long)

  def jvmClock(): JvmClock = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    JvmClock(os.getProcessCpuTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum)
  }

  private val Frame = """graft\.[\w.$]*?\.([\w$]+)\((\w+\.scala:\d+)\)""".r

  /** The innermost `graft` frame of a call stack, as `method at File:line`. */
  def engineFrame(stack: String): Option[String] =
    Option(stack).flatMap(s => Frame.findFirstMatchIn(s))
      .map(m => s"${m.group(1)} at ${m.group(2)}")

  /** Source file of a job's call site: `collect at Extrinsic.scala:180`
    * gives `Extrinsic.scala`.
    */
  def siteFile(callSite: String): String = {
    val at = callSite.lastIndexOf(" at ")
    val tail = if (at >= 0) callSite.substring(at + 4) else callSite
    tail.takeWhile(_ != ':')
  }
}
