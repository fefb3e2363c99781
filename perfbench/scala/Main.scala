package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One iteration of one workload in a fresh JVM. `perfbench/run.py`
  * launches this class, once per iteration, and turns the JSON object it
  * writes to `--out` into the benchmark's result line.
  *
  * Arguments: `--workload capture_pipeline|query_floor --seed N
  * --trace 0|1 --work DIR --out FILE --data DIR --digests FILE
  * [--poses P] [--record-digests FILE --certify DIR]`.
  */
object Main {

  /** An operation of the closed loop: a query or a capture stage. */
  final case class Op(name: String, family: String, wall: Double,
      ok: Boolean)

  /** What a workload hands back to Main. */
  final case class Outcome(ops: Seq[Op], extra: Map[String, Any],
      layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = a("--workload")
    val seed = a("--seed").toLong
    val traced = a.getOrElse("--trace", "0") == "1"
    val work = new File(a("--work")).getAbsoluteFile
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val upAtMain = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    work.mkdirs()

    // the corpus the session is sized from: the parquet corpus for the
    // query workloads, the generated capture for capture_pipeline
    // (whose PNGs count as no parquet bytes: the program's tiny shape)
    val sizeDir = workload match {
      case "capture_pipeline" => new File(work, "capture").getPath
      case _ => a("--data")
    }
    if (workload == "capture_pipeline")
      Capture.generate(new File(work, "capture"), seed,
        a.getOrElse("--poses", "5").toInt)
    val genDone = System.nanoTime()
    val tiny = graft.Bench.corpusBytes(sizeDir) < (64L << 20)
    val shuffleParts =
      if (tiny) 4 else graft.Bench.sizedShufflePartitions(sizeDir, cpus)
    val confs = mutable.LinkedHashMap(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> shuffleParts.toString,
      "spark.sql.adaptive.enabled" -> (!tiny).toString,
      "spark.sql.files.maxPartitionBytes" ->
        graft.Bench.sizedMaxPartitionBytes(sizeDir, cpus).toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.io.compression.codec" -> "lz4",
      "spark.network.timeout" -> "600s",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> new File(work, "spark-local").getPath,
      "spark.sql.warehouse.dir" -> new File(work, "warehouse").getPath)

    val b = SparkSession.builder().appName(s"perfbench-$workload")
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionDone = System.nanoTime()
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.Bench.machineryWarmup(spark)
    val setupS = upAtMain + (System.nanoTime() - t0) / 1e9
    val setupParts = Map("jvm_start_s" -> upAtMain,
      "generate_s" -> (genDone - t0) / 1e9,
      "session_s" -> (sessionDone - genDone) / 1e9,
      "warmup_s" -> (System.nanoTime() - sessionDone) / 1e9)

    val trace = new Trace(spark.sparkContext, traced)
    val clock0 = Trace.jvmClock()
    val r0 = System.nanoTime()
    val root = if (traced) trace.spans.size else -1
    val outcome = trace.span("run") {
      workload match {
        case "capture_pipeline" =>
          Capture.run(spark, trace, new File(work, "capture"),
            new File(work, "state"))
        case "query_floor" =>
          QuerySession.run(spark, trace, a("--data"), seed,
            Digests.load(a("--digests")), a.get("--record-digests"),
            a.get("--certify"))
        case other => sys.error(s"unknown workload $other")
      }
    }
    val runS = (System.nanoTime() - r0) / 1e9
    val clock1 = Trace.jvmClock()
    trace.close()

    val layers = mutable.LinkedHashMap.empty[String, Double]
    layers ++= outcome.layers
    layers("peak_rss_mb") = vmHwmMb()
    if (traced) layers ++= Layers.spark(trace, root, clock0, clock1)

    val ops = outcome.ops
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "cpus" -> cpus,
      "setup_s" -> setupS,
      "setup_parts" -> setupParts,
      "run_s" -> runS,
      "attempted" -> ops.size,
      "failed" -> ops.count(!_.ok),
      "failures" -> ops.filterNot(_.ok).map(_.name),
      "confs" -> confs.toMap,
      "ops" -> ops.map(o => Map("name" -> o.name, "family" -> o.family,
        "wall_s" -> o.wall, "ok" -> o.ok)),
      "layers" -> layers.toMap) ++ outcome.extra
    if (traced) {
      out("spans") = trace.spans.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name,
        "start_s" -> (s.start - r0) / 1e9, "end_s" -> (s.end - r0) / 1e9))
      // job times on the span clock (seconds from the start of the run)
      val epochR0 = System.currentTimeMillis() - (System.nanoTime() - r0) / 1e6
      out("jobs") = trace.jobs.map(j => Map("id" -> j.id, "span" -> j.span,
        "call_site" -> j.callSite, "stages" -> j.stageIds,
        "start_s" -> (j.start - epochR0) / 1e3,
        "end_s" -> (if (j.end < 0) Double.NaN else (j.end - epochR0) / 1e3)))
    }
    Files.writeString(Paths.get(a("--out")), Json.write(out.toMap))
    spark.stop()
  }

  /** The JVM's peak resident set (VmHWM), MB. */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON writer for the result object. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case o: Option[_] => o.map(write).getOrElse("null")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
