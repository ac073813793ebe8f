package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one closed-loop client, one process.
  *
  * {{{
  * perfbench.Main --workload key_bulk --seed 1 --seconds 10 --trace 0 --work .bench_work
  *     [--fault truncated_target|wrong_delete_back]
  * perfbench.Main --record-expected --work .bench_work   (rewrites the suite's counts)
  * }}}
  *
  * Prints every metric as `name = value unit`, then, as the last line, one
  * JSON object: `correct`, `attempted`, `failed` and the end-to-end metrics
  * (`--trace 0`) or the per-layer ones (`--trace 1`). Exits 1 when an output
  * check failed. */
object Main {
  final case class Args(workload: String = "", seed: Long = 0L, seconds: Double = 10.0,
      trace: Boolean = false, work: String = ".bench_work",
      fault: Option[String] = None, recordExpected: Boolean = false,
      expected: String = "perfbench/expected_counts.json")

  val Workloads = Seq("key_bulk", "time_windows", "jdbc_derby", "operator_suite")
  val Faults = Seq("truncated_target", "wrong_delete_back")
  /** Timed iterations a run makes at least, however short `--seconds`. */
  val MinIterations = 3

  /** A full collection between operations (untimed): every operation then
    * starts on the same heap, and the resident-set peak is that of one
    * operation instead of growing with the number of operations a run
    * fits in. */
  def collectGarbage(): Unit = System.gc()

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest     => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest  => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest    => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest     => parse(rest, a.copy(work = v))
    case "--fault" :: v :: rest    => parse(rest, a.copy(fault = Some(v)))
    case "--expected" :: v :: rest => parse(rest, a.copy(expected = v))
    case "--record-expected" :: rest => parse(rest, a.copy(recordExpected = true))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    require(args.recordExpected || Workloads.contains(args.workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    args.fault.foreach(f => require(Faults.contains(f), s"--fault must be one of ${Faults.mkString(", ")}"))
    val work = new File(args.work).getAbsoluteFile
    Files.deleteTree(new File(work, "run"))

    val report = new Report
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.configure(SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    report.put("session_start_s", (System.nanoTime() - t0) / 1e9, "s")

    try {
      if (args.recordExpected) OperatorSuite.recordExpected(spark, args, work)
      else {
        args.workload match {
          case "operator_suite" => new OperatorSuite(spark, args, work, report).run()
          case w                => new ArchiveBench(spark, ArchiveBench.spec(w, args.seed), args, work, report).run()
        }
        report.put("peak_rss_mb", Files.peakRssMb(), "MB")
        report.put("failed_ratio", report.failed.toDouble / math.max(report.attempted, 1), "ratio")
        // per-layer metrics a workload does not exercise read 0
        Catalog.perLayer.foreach { case (n, u) =>
          if (!report.metrics.contains(n)) report.put(n, 0.0, u) }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        report.check("run", Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
    } finally spark.stop()

    report.failures.foreach(f => println(s"CHECK FAILED $f"))
    if (args.recordExpected) sys.exit(if (report.failed == 0) 0 else 1)
    val names = if (args.trace) Catalog.perLayer else Catalog.endToEnd
    println(s"workload ${args.workload} seed ${args.seed} trace ${if (args.trace) 1 else 0}:")
    // untraced runs show the end-to-end metrics; traced runs show every one
    val shown = if (args.trace) report.metrics.keys.toSeq else Catalog.endToEnd.map(_._1)
    shown.foreach { n =>
      report.metrics.get(n).foreach(m => println(f"  $n%-36s = ${Json.num(m.value)} ${m.unit}"))
    }
    println(report.resultLine(names))
    sys.exit(if (report.correct) 0 else 1)
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(): Unit
  }

  /** Bytes of the regular files under `f`. */
  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  /** The process's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
