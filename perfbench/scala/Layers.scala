package perfbench

import scala.collection.mutable

/** Per-layer numbers derived from a traced run's spans, jobs and tasks. */
object Layers {

  /** Spark runtime and JVM metrics over the span `root` (the whole run):
    * the counts and CPU that should hold still when only wall time moves.
    */
  def spark(trace: Trace, root: Int, c0: Trace.JvmClock, c1: Trace.JvmClock)
      : Map[String, Double] = {
    val jobs = trace.jobsUnder(root)
    val stageIds = jobs.flatMap(_.stageIds).toSet
    val submitted = trace.stageSubmitted
    val tasks = trace.tasks.filter(t => stageIds(t.stageId))
    val span = trace.spans(root)
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("spark.jobs") = jobs.size
    m("spark.stages") = tasks.map(_.stageId).distinct.size
    m("spark.tasks") = tasks.size
    m("spark.executor_cpu_s") = tasks.map(_.cpuNs).sum / 1e9
    m("spark.executor_run_s") = tasks.map(_.runMs).sum / 1e3
    // time tasks waited for a core: stage submission to task launch
    m("spark.task_wait_s") = tasks.map { t =>
      submitted.get(t.stageId).map(s => (t.launch - s).max(0L)).getOrElse(0L)
    }.sum / 1e3
    m("spark.gc_s") = tasks.map(_.gcMs).sum / 1e3
    m("spark.shuffle_write_bytes") = tasks.map(_.shuffleWrite).sum.toDouble
    m("spark.shuffle_read_bytes") = tasks.map(_.shuffleRead).sum.toDouble
    m("spark.spill_bytes") = tasks.map(_.spill).sum.toDouble
    m("spark.peak_exec_mem_mb") =
      (if (tasks.isEmpty) 0L else tasks.map(_.peakMem).max) / 1048576.0
    m("spark.max_task_over_median") = maxOverMedian(tasks)
    m("spark.driver_gap_s") = driverGap(jobs, span)
    m("jvm.process_cpu_s") = (c1.cpuNs - c0.cpuNs) / 1e9
    m("jvm.gc_s") = (c1.gcMs - c0.gcMs) / 1e3
    m.toMap
  }

  /** Straggler ratio of the heaviest stage (largest summed run time). */
  def maxOverMedian(tasks: Seq[Trace.TaskRec]): Double = {
    if (tasks.isEmpty) return 0.0
    val heavy = tasks.groupBy(_.stageId).values.maxBy(_.map(_.runMs).sum)
    val d = heavy.map(t => (t.finish - t.launch).toDouble).sorted
    val med = d(d.size / 2)
    if (med <= 0) 1.0 else d.last / med
  }

  /** A span's bounds in epoch milliseconds (spans run on nanoTime, jobs
    * on the wall clock; the two are aligned on the current instant).
    */
  private def epochMs(span: Trace.Span): (Double, Double) = {
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    (span.start / 1e6 + offsetMs, span.end / 1e6 + offsetMs)
  }

  /** Wall time inside `span` during which no Spark job was running. */
  def driverGap(jobs: Seq[Trace.Job], span: Trace.Span): Double = {
    val (s0, s1) = epochMs(span)
    var covered = 0.0; var t = s0
    jobs.filter(_.end >= 0).sortBy(_.start).foreach { j =>
      val a = j.start.toDouble.max(t); val b = j.end.toDouble.min(s1)
      if (b > a) { covered += b - a; t = b }
    }
    ((s1 - s0) - covered).max(0.0) / 1e3
  }

  /** Split the wall time of span `root` among modules: each job's
    * interval goes to the module of its call site (`moduleOf` the source
    * file), and so does the driver time just before it (the code that
    * built and planned the job); time after the last job goes to that
    * job's module. Returns seconds and job counts per module; the
    * seconds sum to the span's wall time.
    */
  def byModule(trace: Trace, root: Int, moduleOf: String => String)
      : Map[String, (Double, Int)] = {
    val (s0, s1) = epochMs(trace.spans(root))
    val out = mutable.Map.empty[String, (Double, Int)].withDefaultValue((0.0, 0))
    def add(m: String, ms: Double, n: Int): Unit = {
      val (a, b) = out(m); out(m) = (a + ms.max(0.0) / 1e3, b + n)
    }
    var t = s0
    var last = ""
    trace.jobsUnder(root).filter(_.end >= 0).sortBy(_.start).foreach { j =>
      val m = moduleOf(Trace.siteFile(j.callSite))
      val end = j.end.toDouble.min(s1)
      add(m, end.max(t) - t, 1)
      t = t.max(end); last = m
    }
    if (last.nonEmpty) add(last, s1 - t, 0)
    out.toMap
  }

  /** Spill bytes of the tasks of jobs under `root`. */
  def spill(trace: Trace, root: Int): Double = {
    val ids = trace.jobsUnder(root).flatMap(_.stageIds).toSet
    trace.tasks.filter(t => ids(t.stageId)).map(_.spill).sum.toDouble
  }
}
