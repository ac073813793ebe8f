package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The `operator_suite` workload: `SparkEntry.queries` over the ten
  * generated tables, each query materialized into the `noop` sink and its
  * row count checked against `expected_counts.json`. */
object OperatorSuite {
  /** The timed pass: one query of a fraction of a second per `*Ops.all`
    * family, except the curation family whose two queries both take
    * seconds. */
  val Pass: Seq[(String, String)] = Seq(
    "RelationalOps" -> "q5_join_agg_topk",
    "ArchiveOps" -> "f1_ndjson_roundtrip",
    "ScalarOps" -> "f_json_funcs",
    "DedupOps" -> "dedup_exact",
    "AnnOps" -> "ann_filtered_topk",
    "TextOps" -> "text_token_stats",
    "MultimodalOps" -> "mm_image_features",
    "TemporalJoinOps" -> "asof_join_events",
    "PipelineOps" -> "pack_sequences",
    "StreamingOps" -> "session_window_agg",
    "ProfilingOps" -> "profile_skew",
    "AnalyticsOps" -> "retention_cohort")

  /** Heavier queries, run in traced passes only: the curation family and
    * the slow queries that get a metric of their own. */
  val TracedOnly: Seq[(String, String)] = Seq(
    "CurationOps" -> "curation_pipeline_subdoc",
    "DedupOps" -> "dedup_levenshtein",
    "DedupOps" -> "dedup_cluster_starjoin",
    "StreamingOps" -> "stream_left_outer_join")

  private lazy val queries = graft.SparkEntry.queries

  /** Materialize one query into the `noop` sink; its row count. */
  def materialize(spark: SparkSession, name: String, dir: String): Long = {
    val rows = Observation(s"rows_$name")
    queries(name)(spark, dir).observe(rows, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    rows.get("n").asInstanceOf[Long]
  }

  /** The ten tables, generated once per checkout. */
  def pristine(spark: SparkSession, work: File): Seq[(String, DataFrame)] = {
    val dir = new File(work, "fixtures/suite-v1")
    if (!new File(dir, "_DONE").exists()) {
      Files.deleteTree(dir)
      Fixtures.suiteTables(spark).foreach { case (n, df) =>
        Fixtures.write(df, new File(dir, s"$n.parquet").getPath) }
      new File(dir, "_DONE").createNewFile(): Unit
    }
    graft.ops.Tables.names.map(n => n -> spark.read.parquet(new File(dir, s"$n.parquet").getPath))
  }

  def restore(tables: Seq[(String, DataFrame)], dir: File): Unit =
    tables.foreach { case (n, df) => Fixtures.write(df, new File(dir, s"$n.parquet").getPath) }

  /** Rewrite the expected-counts file from the current program. */
  def recordExpected(spark: SparkSession, args: Main.Args, work: File): Unit = {
    val dir = new File(work, "run/record")
    restore(pristine(spark, work), dir)
    val counts = (Pass ++ TracedOnly).map(_._2).sorted.map(q => q -> materialize(spark, q, dir.getPath))
    val body = counts.map { case (q, n) => s"  ${Json.str(q)}: $n" }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(new File(args.expected).toPath, body.getBytes("UTF-8"))
    println(s"wrote ${counts.size} expected counts to ${args.expected}")
  }

  def readExpected(path: String): Map[String, Long] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(new File(path)) match {
      case JObject(fields) => fields.collect { case (k, JInt(v)) => k -> v.toLong }.toMap
      case other => sys.error(s"$path is not a JSON object: $other")
    }
  }
}

final class OperatorSuite(spark: SparkSession, args: Main.Args, work: File, report: Report) {
  import OperatorSuite._

  private val expected = readExpected(args.expected)
  private val order: Seq[(String, String)] =
    new scala.util.Random(args.seed).shuffle(Pass)
  private lazy val tables = pristine(spark, work)

  final case class PassResult(seconds: Double, setupS: Double, rows: Long, traced: Boolean)

  private def pass(i: Int, tracer: Option[Tracer]): PassResult = {
    val dir = new File(work, s"run/pass$i")
    Files.deleteTree(dir)
    val s0 = System.nanoTime()
    restore(tables, dir)
    val setupS = (System.nanoTime() - s0) / 1e9
    val extra = if (tracer.isDefined) TracedOnly else Nil
    var rows = 0L
    val p0 = System.nanoTime()
    def queries(): Unit = (order ++ extra).foreach { case (family, q) =>
      def once() = materialize(spark, q, dir.getPath)
      val problems =
        try {
          val n = tracer.fold(once())(_.span(s"ops.$family.$q")(once()))
          rows += n
          if (expected.get(q).contains(n)) Nil
          else Seq(s"$n rows, expected ${expected.getOrElse(q, "no count")}")
        } catch {
          case scala.util.control.NonFatal(e) => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      report.check(s"pass $i query $q", problems)
    }
    tracer.fold(queries())(_.span("ops.pass")(queries()))
    val seconds = (System.nanoTime() - p0) / 1e9
    Files.deleteTree(dir)
    Main.collectGarbage()
    PassResult(seconds, setupS, rows, tracer.isDefined)
  }

  def run(): Unit = {
    println(s"operator suite: ${order.map(_._2).mkString(" ")}")
    val first = pass(0, None)
    report.put("first_run_s", first.seconds, "s")
    // a second untimed pass: the JIT is still compiling after the first
    val warm = pass(1, None)
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val passes = collection.mutable.ArrayBuffer.empty[PassResult]
    val m0 = System.nanoTime()
    while ((System.nanoTime() - m0) / 1e9 < args.seconds || passes.size < Main.MinIterations) {
      val i = passes.size + 2
      val traced = tracer.filter(_ => i % 2 == 0)
      traced.foreach(_.traceId = i)
      passes += pass(i, traced)
    }
    val timed = passes.filterNot(_.traced).toSeq
    val iterS = Stats.median(timed.map(_.seconds))
    report.put("iteration_s", iterS, "s")
    report.put("rows_per_s", Stats.median(timed.map(p => p.rows / p.seconds)), "rows/s")
    report.put("setup_s", Stats.median((first +: warm +: passes).map(_.setupS).toSeq), "s")
    println(s"passes: ${timed.size} timed (${timed.map(p => Json.num(p.seconds)).mkString(" ")} s)" +
      s", ${passes.count(_.traced)} traced")
    tracer.foreach { t =>
      layerMetrics(t.all, iterS)
      t.write(new File(work, s"traces/operator_suite-seed${args.seed}.jsonl"))
      t.close()
    }
  }

  private def layerMetrics(all: Seq[Tracer.Span], untracedS: Double): Unit = {
    val byPass = all.filter(_.trace > 0).groupBy(_.trace).values.toSeq
    def med(f: Seq[Tracer.Span] => Double) = Stats.median(byPass.map(f))
    val inPass = Pass.map(p => s"ops.${p._1}.${p._2}").toSet
    Catalog.families.foreach { f =>
      val fam = (ss: Seq[Tracer.Span]) => ss.filter(_.name.startsWith(s"ops.$f."))
      report.put(s"ops.$f.s", med(fam(_).map(_.seconds).sum), "s")
      Seq("jobs" -> "count", "task_cpu_s" -> "s", "gc_s" -> "s",
        "shuffle_bytes" -> "B", "spill_bytes" -> "B").foreach { case (c, u) =>
        report.put(s"ops.$f.$c", med(fam(_).map(_.counter(c)).sum), u)
      }
    }
    Catalog.namedQueries.foreach { q =>
      report.put(s"ops.q.$q.s", med(_.filter(_.name.endsWith(s".$q")).map(_.seconds).sum), "s")
    }
    val qs = all.filter(s => s.trace > 0 && inPass(s.name)).map(_.seconds)
    report.put("query_s.p50", Stats.pct(qs, 0.5), "s")
    report.put("query_s.p95", Stats.pct(qs, 0.95), "s")
    val phaseSum = med(_.filter(s => inPass(s.name)).map(_.seconds).sum)
    report.put("trace.phase_sum_s", phaseSum, "s")
    report.put("trace.untraced_s", untracedS, "s")
    report.put("trace.gap_s", untracedS - phaseSum, "s")
    report.put("trace.drain_s", med(_.map(_.counter("drain_s")).sum), "s")
    println(s"traced query sum $phaseSum s vs untraced pass $untracedS s: gap ${untracedS - phaseSum} s")
    Seq("jobs" -> "count", "tasks" -> "count", "task_cpu_s" -> "s", "gc_s" -> "s",
      "spill_bytes" -> "B").foreach { case (c, u) =>
      report.put(s"spark.$c", med(_.filter(s => inPass(s.name)).map(_.counter(c)).sum), u)
    }
  }
}
