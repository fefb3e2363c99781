package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries._

/** `query_floor`: the bucketed-layout ingest, the sim3 IVF index build,
  * then every declared query once, in a seed-permuted order, one after
  * another (one closed-loop client). Each query is timed as
  * construct (the DataFrame is built and analyzed) → plan (the executed
  * plan) → exec (the executed plan materialized in full and folded into
  * its result digest).
  */
object QuerySession {

  val Families: Seq[(String, Seq[QueryDef])] = Seq(
    "core" -> CoreQueries.defs, "agg" -> AggQueries.defs,
    "window" -> WindowQueries.defs, "geo" -> GeoQueries.defs,
    "text" -> TextQueries.defs, "sim" -> SimQueries.defs,
    "pixel" -> PixelQueries.defs)

  /** The heavy lines reported one by one in the traced run. */
  val Named: Seq[String] = Seq("s4_parse_pose_text", "p7_trycast_range",
    "x17_hdr_merge", "j2_semi_join", "j2_bucketed",
    "em1_blocked_closest_pair", "em3_ivf_closest_pair", "t3_lang_id",
    "t4_exact_dedup", "px4_scan_decode_detect")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(spark: SparkSession, trace: Trace, sfDir: String, seed: Long,
      expected: Map[String, Digest], record: Option[String],
      certify: Option[String] = None): Main.Outcome = {
    val family = Families.flatMap { case (f, ds) => ds.map(_.name -> f) }.toMap
    val queries = SparkEntry.queries
    require(queries.keySet == family.keySet,
      "SparkEntry.queries and the family lists disagree")
    require(record.isEmpty || certify.nonEmpty,
      "recorded digests must be certified against a graft.Verify dump")
    require(record.nonEmpty || expected.keySet == queries.keySet,
      s"digest file covers ${expected.size} queries, SparkEntry declares " +
        s"${queries.size}: ${(expected.keySet diff queries.keySet) ++ (queries.keySet diff expected.keySet)}")
    val order = new scala.util.Random(seed).shuffle(queries.keys.toSeq.sorted)
    val ops = mutable.ArrayBuffer.empty[Main.Op]
    val digests = mutable.LinkedHashMap.empty[String, Digest]

    def attempt(name: String, fam: String)(body: => Boolean): Unit = {
      val t0 = System.nanoTime()
      val ok = try trace.span(name)(body) catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name FAILED: $e")
          false
      }
      ops += Main.Op(name, fam, secs(t0), ok)
    }

    attempt("index_build", "similarity") {
      val idx = SimQueries.sim3Index(spark, sfDir)
      graft.Bench.runFull(idx) == SimQueries.Sim3IndexK
    }
    attempt("bucketed_ingest", "tables") {
      // the bucket root is this run's own directory, so this always writes
      val cold = graft.ops.Tables.ingestDeclaredLayouts(spark, sfDir)
      graft.ops.Tables.declaredLayouts.foreach { case (layout, _, _, _) =>
        graft.Bench.runFull(
          graft.ops.Tables.bucketedDeclared(spark, sfDir, layout))
      }
      cold
    }

    val split = mutable.Map.empty[String, (Double, Double, Double)]
    order.foreach { name =>
      graft.ops.Caches.releaseAll(spark)
      var c = 0.0; var p = 0.0; var x = 0.0
      attempt(name, family(name)) {
        val t0 = System.nanoTime()
        val df = trace.span("construct")(queries(name)(spark, sfDir))
        c = secs(t0)
        val t1 = System.nanoTime()
        trace.span("plan")(df.queryExecution.executedPlan)
        p = secs(t1)
        val t2 = System.nanoTime()
        val d = trace.span("exec")(Digest.fold(df))
        x = secs(t2)
        digests(name) = d
        record.nonEmpty || expected.get(name).exists(_.matches(d))
      }
      split(name) = (c, p, x)
    }
    graft.ops.Caches.releaseAll(spark)
    // recording: the digests must equal those of graft.Verify's dumps
    // of the same corpus, which scripts/check.py certified
    certify.foreach { dir =>
      val bad = digests.toSeq.sortBy(_._1).filterNot { case (q, d) =>
        val v = Digest.fold(spark.read.parquet(s"$dir/$q"))
        v.rows == d.rows && v.multiset == d.multiset &&
          (!d.ordered || v.order == d.order)
      }.map(_._1)
      System.err.println(s"[perfbench] certify against $dir: " +
        s"${digests.size - bad.size} equal, ${bad.size} differ ${bad.mkString(",")}")
      require(bad.isEmpty, s"digests differ from the Verify dumps: $bad")
    }
    record.foreach(f => Digests.save(f, sfDir, digests.toMap))

    val qOps = ops.filter(o => queries.contains(o.name))
    val walls = qOps.map(_.wall).sorted
    val n = walls.size
    // the highest percentile with at least 10 queries beyond it: the
    // 11th-largest wall, at percentile 100 * (tailIdx + 1) / n
    val tailIdx = (n - 11).max(0)
    val layers = mutable.LinkedHashMap.empty[String, Double]
    layers("query_p50_s") = median(walls.toSeq)
    layers("query_tail_s") = walls(tailIdx)
    layers("error_rate") = ops.count(!_.ok).toDouble / ops.size
    Families.foreach { case (f, _) =>
      val names = qOps.filter(_.family == f).map(_.name)
      layers(s"queries.$f.construct_s") = names.map(split(_)._1).sum
      layers(s"queries.$f.plan_s") = names.map(split(_)._2).sum
      layers(s"queries.$f.exec_s") = names.map(split(_)._3).sum
    }
    Named.foreach(q =>
      layers(s"query.$q.wall_s") = qOps.find(_.name == q).map(_.wall).get)
    layers("tables.bucketed_ingest_s") =
      ops.find(_.name == "bucketed_ingest").get.wall
    layers("similarity.index_build_s") =
      ops.find(_.name == "index_build").get.wall
    Main.Outcome(ops.toSeq,
      Map("order" -> order,
        "query_tail_pct" -> 100.0 * (tailIdx + 1) / n.max(1),
        "query_n" -> n,
        "split" -> split.map { case (k, (c, p, x)) =>
          k -> Map("construct_s" -> c, "plan_s" -> p, "exec_s" -> x) }),
      layers.toMap)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else graft.Bench.median(xs)
}

/** The committed per-query result digests of one corpus. */
object Digests {
  def load(path: String): Map[String, Digest] = {
    if (path == null || !new File(path).isFile) return Map.empty
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val q = om.readTree(new File(path)).path("queries")
    val out = Map.newBuilder[String, Digest]
    q.properties().forEach { e =>
      val v = e.getValue
      def hex(f: String) = java.lang.Long.parseUnsignedLong(v.path(f).asText("0"), 16)
      out += e.getKey -> Digest(v.path("rows").asLong(), hex("multiset"),
        if (v.path("order").isNull) 0L else hex("order"),
        !v.path("order").isNull)
    }
    out.result()
  }

  def save(path: String, sfDir: String, ds: Map[String, Digest]): Unit = {
    val body = ds.toSeq.sortBy(_._1).map { case (k, d) =>
      val order = if (d.ordered) Json.quote(d.hex(d.order)) else "null"
      s"""    ${Json.quote(k)}: {"rows": ${d.rows}, "multiset": ${Json.quote(d.hex(d.multiset))}, "order": $order}"""
    }.mkString(",\n")
    val sf = new File(sfDir).getName
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      s"""{\n  "corpus": ${Json.quote(sf)},\n  "queries": {\n$body\n  }\n}\n""")
  }
}
