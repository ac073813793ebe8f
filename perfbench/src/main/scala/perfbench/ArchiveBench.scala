package perfbench

import java.io.File
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Archiver
import graft.config.ArchiverConfig
import graft.dml.DeleteBack
import graft.plan.{ArchivePlanner, EmptyTablePlan, KeySplitPlan, TimeSplitPlan}
import graft.sink.{Retry, StagedLoader}
import graft.source.{DerbyDialect, JdbcTableSource, ParquetTableSource, TableSource}
import graft.verify.Reconciler

/** The three archive workloads: each iteration restores a pristine source,
  * runs one `Archiver.run()` (timed) and checks its outputs. */
object ArchiveBench {
  /** @param fixture builds the pristine source table
    * @param where the archive predicate (valid in Spark SQL and, for the
    *   JDBC workload, in Derby)
    * @param faultWhere rows a wrong delete-back removes on top
    * @param sweepKeyRange split-key range of the predicate-count sweep (0:
    *   no sweep) */
  final case class Spec(name: String, db: String, table: String,
      fixture: SparkSession => DataFrame, configJson: String, where: String,
      faultWhere: String, jdbc: Boolean, sweepKeyRange: Long) {
    /** Names the cached fixture: a size change regenerates it. */
    def fixtureTag: String = s"$LineitemRows-$EventDays-$EventsPerDay-$DerbyOrders"
  }

  /** Pick a value in [0, n) from the workload seed. */
  def pick(seed: Long, n: Int): Int = new java.util.SplittableRandom(seed).nextInt(n)

  private def json(fields: (String, Any)*): String = fields.map {
    case (k, v: String) => s"${Json.str(k)}:${Json.str(v)}"
    case (k, v)         => s"${Json.str(k)}:$v"
  }.mkString("{", ",", "}")

  // Sizes are chosen so that one iteration takes one to three seconds on a
  // 4-core host: a run then holds several timed iterations.
  val LineitemRows = 80000L
  val LineitemOrderKeys = 150000L
  val EventDays = 5
  val EventsPerDay = 3300L
  val DerbyOrders = 25000L
  val DerbyOrderKeys = 150000L

  def spec(workload: String, seed: Long): Spec = workload match {
    case "key_bulk" =>
      // cutoff within four weeks of 1998-01-01: 43-45% of the rows; the
      // l_orderkey range gives ~150 predicates at batchSize 1000
      val day = LocalDate.of(1997, 12, 18).plusDays(pick(seed, 28).toLong)
      val where = s"l_shipdate < TIMESTAMP '$day 00:00:00'"
      Spec("key_bulk", "archdb", "lineitem",
        s => Fixtures.lineitem(s, LineitemRows, LineitemOrderKeys, 20000, 1000),
        json("sourceDB" -> "archdb", "sourceTable" -> "lineitem",
          "sourceWhereCondition" -> where, "sourceSplitKey" -> "l_orderkey",
          "batchSize" -> 1000, "maxThread" -> 4, "batchMaxInterval" -> 0,
          "deleteAfterSync" -> true),
        where, "l_linenumber = 7", jdbc = false, LineitemOrderKeys)
    case "time_windows" =>
      // the same number of day windows whatever the seed; the seed shifts
      // the window boundaries by whole hours
      val start = java.time.LocalDateTime.of(2024, 1, 1, pick(seed, 24), 0)
      val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      val where = s"ts >= '${start.format(fmt)}' and ts < '${start.plusDays(EventDays.toLong).format(fmt)}'"
      Spec("time_windows", "archdb", "events",
        s => Fixtures.events(s, (EventDays + 1) * EventsPerDay, EventDays + 1, 150),
        json("sourceDB" -> "archdb", "sourceTable" -> "events",
          "sourceWhereCondition" -> where, "sourceSplitTimeKey" -> "ts",
          "timeSplitUnit" -> "day", "batchMaxInterval" -> 0, "maxThread" -> 1),
        where, "event_type = 'error'", jdbc = false, 0L)
    case "jdbc_derby" =>
      // cutoff within four weeks of 2000-01-01: about 76% of the rows
      val day = LocalDate.of(1999, 12, 18).plusDays(pick(seed, 28).toLong)
      val where = s"O_ORDERDATE < TIMESTAMP('$day 00:00:00')"
      Spec("jdbc_derby", "ARCHDB", "ORDERS",
        s => {
          // unique keys spread over [0, DerbyOrderKeys)
          val o = Fixtures.orders(s, DerbyOrders, 15000).withColumn("o_orderkey",
            (col("o_orderkey") * DerbyOrderKeys / DerbyOrders).cast("long"))
          o.select(o.columns.map(c => col(c).as(c.toUpperCase)).toIndexedSeq: _*)
        },
        json("databaseType" -> "derby", "sourceDB" -> "ARCHDB", "sourceTable" -> "ORDERS",
          "sourceWhereCondition" -> where, "sourceSplitKey" -> "O_ORDERKEY",
          "batchSize" -> 1000, "maxThread" -> 4, "batchMaxInterval" -> 0,
          "deleteAfterSync" -> true),
        where, "O_ORDERSTATUS = 'P'", jdbc = true, 0L)
  }

  /** Row count and an order-independent checksum over every column. */
  final case class Sum(rows: Long, hash: java.math.BigDecimal) {
    override def toString = s"$rows rows, checksum $hash"
  }

  def checksum(df: DataFrame, schema: StructType): Sum = {
    val h = xxhash64(schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    Sum(r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  final case class Outcome(loaded: Long, rc: Reconciler.Result, deleted: Long,
      quarantined: Long)

  object Derby {
    val Locator = "memory:perfbench"
    val Url = s"jdbc:derby:$Locator"
    def props = new java.util.Properties()
    private val Ddl = "(O_ORDERKEY BIGINT NOT NULL PRIMARY KEY, O_CUSTKEY BIGINT, " +
      "O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE, O_ORDERDATE TIMESTAMP, " +
      "O_ORDERPRIORITY VARCHAR(15))"
    val Schema: StructType = StructType(Seq(
      StructField("O_ORDERKEY", LongType), StructField("O_CUSTKEY", LongType),
      StructField("O_ORDERSTATUS", StringType), StructField("O_TOTALPRICE", DoubleType),
      StructField("O_ORDERDATE", TimestampType), StructField("O_ORDERPRIORITY", StringType)))

    def exec(sql: String*): Unit = {
      val c = java.sql.DriverManager.getConnection(s"$Url;create=true")
      try sql.foreach { q =>
        val st = c.createStatement()
        try st.execute(q): Unit finally st.close()
      } finally c.close()
    }
    private def tryExec(sql: String): Unit =
      try exec(sql) catch { case _: java.sql.SQLException => () }

    /** Load the pristine rows once per run into SEED.ORDERS. */
    def seedPristine(rows: DataFrame): Unit = {
      tryExec("DROP TABLE SEED.ORDERS")
      tryExec("CREATE SCHEMA SEED")
      tryExec("CREATE SCHEMA ARCHDB")
      exec(s"CREATE TABLE SEED.ORDERS $Ddl")
      val c = java.sql.DriverManager.getConnection(Url)
      try {
        c.setAutoCommit(false)
        val ps = c.prepareStatement("INSERT INTO SEED.ORDERS VALUES (?, ?, ?, ?, ?, ?)")
        rows.collect().grouped(5000).foreach { batch =>
          batch.foreach { r =>
            ps.setLong(1, r.getLong(0)); ps.setLong(2, r.getLong(1))
            ps.setString(3, r.getString(2)); ps.setDouble(4, r.getDouble(3))
            ps.setTimestamp(5, r.getTimestamp(4)); ps.setString(6, r.getString(5))
            ps.addBatch()
          }
          ps.executeBatch()
        }
        c.commit()
        ps.close()
      } finally c.close()
    }

    /** A fresh ARCHDB.ORDERS (primary key on the split key) from the seed. */
    def restore(): Unit = {
      tryExec("DROP TABLE ARCHDB.ORDERS")
      exec(s"CREATE TABLE ARCHDB.ORDERS $Ddl", "INSERT INTO ARCHDB.ORDERS SELECT * FROM SEED.ORDERS")
    }

    def read(spark: SparkSession): DataFrame = spark.read.jdbc(Url, "ARCHDB.ORDERS", props)
  }
}

final class ArchiveBench(spark: SparkSession, spec: ArchiveBench.Spec,
    args: Main.Args, work: File, report: Report) {
  import ArchiveBench._

  private val cfg: ArchiverConfig = ArchiverConfig.fromJson(spec.configJson)
    .fold(e => sys.error(s"bad archive config: $e"), identity)
  private val runDir = new File(work, "run")

  /** The pristine table, generated once per checkout (it does not depend on
    * the workload seed). */
  private lazy val pristine: DataFrame = {
    val dir = new File(work, s"fixtures/${spec.name}-${spec.fixtureTag}")
    val path = new File(dir, s"${spec.table}.parquet").getPath
    if (!new File(dir, "_DONE").exists()) {
      Files.deleteTree(dir)
      Fixtures.write(spec.fixture(spark), path)
      new File(dir, "_DONE").createNewFile(): Unit
    }
    spark.read.parquet(path)
  }
  private lazy val sinkSchema: StructType =
    if (spec.jdbc) Derby.Schema else pristine.schema

  private def srcRoot(it: File) = new File(it, spec.db).getPath
  private def srcPath(it: File) = s"${srcRoot(it)}/${spec.table}.parquet"

  private def tableSource(it: File): TableSource =
    if (spec.jdbc) new JdbcTableSource(spark, DerbyDialect, "", 0, "", "", Derby.Locator)
    else new ParquetTableSource(spark, srcRoot(it))

  /** The loader exactly as `Archiver.parquet` wires it. */
  private def loader(it: File, c: ArchiverConfig = cfg) = new StagedLoader(spark,
    new File(it, "target").getPath, sinkSchema, compression = c.stagingCompression,
    orderedCommitKey = Option(c.sourceSplitKey).filter(_.nonEmpty)
      .orElse(Option(c.sourceSplitTimeKey).filter(_.nonEmpty)),
    stagingFormat = c.stagingFormat)

  private def deleteBack(it: File): (String, String, String) => Long =
    if (spec.jdbc) (db, t, where) =>
      DeleteBack.executeJdbc(Derby.Url, Derby.props, DeleteBack.deleteSql(db, t, where, None))
    else (_, t, where) => DeleteBack.deleteFromParquet(spark, s"${srcRoot(it)}/$t.parquet", where)

  private def readSource(it: File): DataFrame =
    if (spec.jdbc) Derby.read(spark) else spark.read.parquet(srcPath(it))

  /** Expected outputs, from the pristine fixture. */
  private lazy val expectArchived = checksum(pristine.where(spec.where), sinkSchema)
  private lazy val expectKept =
    checksum(pristine.where(not(coalesce(expr(spec.where), lit(false)))), sinkSchema)
  private lazy val expectAll = checksum(pristine, sinkSchema)

  final case class Iter(archiveS: Double, setupS: Double, rows: Long, targetBytes: Long,
      traced: Boolean)

  /** One iteration: restore the source (timed as set-up), archive (timed),
    * then check the outputs. */
  private def iteration(i: Int, tracer: Option[Tracer]): Iter = {
    val it = new File(runDir, s"it$i")
    Files.deleteTree(it)
    val s0 = System.nanoTime()
    if (spec.jdbc) Derby.restore() else Fixtures.write(pristine, srcPath(it))
    val setupS = (System.nanoTime() - s0) / 1e9
    val staging = new File(it, "staging").getPath
    val a0 = System.nanoTime()
    val out = tracer match {
      case Some(t) => tracedDrive(it, staging, t)
      case None =>
        val archiver =
          if (spec.jdbc) new Archiver(spark, cfg, tableSource(it), loader(it), staging,
            deleteBackFn = deleteBack(it))
          else Archiver.parquet(spark, cfg, srcRoot(it), new File(it, "target").getPath,
            staging, sinkSchema)
        val r = archiver.run()
        Outcome(r.tables.map(_.rowsLoaded).sum, r.reconciliation, r.deletedBack, r.quarantined)
    }
    val archiveS = (System.nanoTime() - a0) / 1e9
    injectFault(it)
    report.check(s"${spec.name} iteration $i", checks(it, out))
    val bytes = Files.size(new File(it, "target"))
    Files.deleteTree(it)
    Main.collectGarbage()
    Iter(archiveS, setupS, out.loaded, bytes, tracer.isDefined)
  }

  private def injectFault(it: File): Unit = args.fault match {
    case Some("truncated_target") =>
      // lose about a tenth of the archived rows
      val target = new File(it, "target")
      val cut = new File(it, "target.cut")
      spark.read.parquet(target.getPath)
        .where(pmod(xxhash64(sinkSchema.fieldNames.toIndexedSeq.map(col): _*), lit(10L)) =!= 0)
        .write.parquet(cut.getPath)
      Files.deleteTree(target)
      if (!cut.renameTo(target)) sys.error(s"could not replace $target")
    case Some("wrong_delete_back") =>
      deleteBack(it)(spec.db, spec.table, spec.faultWhere): Unit
    case _ => ()
  }

  private def checks(it: File, out: Outcome): Seq[String] = {
    val p = Seq.newBuilder[String]
    if (!out.rc.correct) p += s"reconciliation failed: $out"
    if (out.quarantined != 0) p += s"${out.quarantined} rows quarantined"
    val target = checksum(spark.read.schema(sinkSchema).parquet(new File(it, "target").getPath),
      sinkSchema)
    if (target != expectArchived) p += s"target holds $target, expected $expectArchived"
    val source = checksum(readSource(it), sinkSchema)
    if (cfg.deleteAfterSync) {
      if (out.deleted != expectArchived.rows)
        p += s"delete-back removed ${out.deleted} rows, expected ${expectArchived.rows}"
      if (source != expectKept) p += s"source after delete-back holds $source, expected $expectKept"
    } else if (source != expectAll) p += s"source changed: $source, expected $expectAll"
    p.result()
  }

  /** Ingest attempts made by traced iterations; more than ingests = retries. */
  private var attempts = 0

  /** The calls `Archiver.run` makes, in its order, each inside a span. The
    * `source.scan` span materializes the scan on its own (into the `noop`
    * sink) so the source's cost is seen apart from the ingest that re-reads
    * it; it is left out of the phase sum. */
  private def tracedDrive(it: File, staging: String, t: Tracer): Outcome =
    t.span("archiver.run") {
      val src = tableSource(it)
      val ld = loader(it)
      val (db, table) = (cfg.sourceDB, cfg.sourceTable)
      val where = cfg.sourceWhereCondition
      val pre = t.span("verify.gate") { ld.syncedCount(where) }
      require(pre == 0, s"target already has $pre rows")
      val plan = t.span("plan") { ArchivePlanner.plan(src, cfg, db, table) }
      def scanAndIngest(preds: Seq[String], stagingDir: String): Long = {
        t.span("source.scan") {
          src.scan(db, table, preds, where).write.format("noop").mode("overwrite").save()
        }
        t.span("sink.ingest") {
          Retry.withRetry(maxAttempts = 5, initialDelayMs = 100) {
            attempts += 1
            ld.ingest(src.scan(db, table, preds, where), stagingDir)
          }
        }
      }
      val loaded = plan match {
        case EmptyTablePlan => 0L
        case KeySplitPlan(preds, _, _, _) =>
          report.put("plan.predicates", preds.size.toDouble, "count")
          scanAndIngest(preds, s"$staging/$db.$table")
        case TimeSplitPlan(windows) =>
          report.put("plan.predicates", windows.size.toDouble, "count")
          windows.zipWithIndex.map { case (w, i) =>
            scanAndIngest(Seq(w), s"$staging/$db.$table.w$i")
          }.sum
      }
      val sourceTotal = t.span("verify.source_count") { src.count(db, table, where) }
      val targetTotal = t.span("verify.target_count") { ld.targetCount(where) }
      val rc = Reconciler.reconcile(sourceTotal, targetTotal)
      val deleted =
        if (rc.correct && cfg.deleteAfterSync)
          t.span("dml.delete") { deleteBack(it)(db, table, where) }
        else 0L
      val quarantined = t.span("verify.quarantine") { src.quarantined(db, table) }
      Outcome(loaded, rc, deleted, quarantined)
    }

  def run(): Unit = {
    val g0 = System.nanoTime()
    if (spec.jdbc) Derby.seedPristine(pristine)
    println(s"input: ${spec.name}, archiving ${expectArchived.rows} rows where ${spec.where} " +
      s"(${(System.nanoTime() - g0) / 1e9} s to prepare)")

    val first = iteration(0, None)
    report.put("first_run_s", first.archiveS, "s")
    // a second untimed iteration: the JIT is still compiling after the first
    val warm = iteration(1, None)
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val iters = collection.mutable.ArrayBuffer.empty[Iter]
    val m0 = System.nanoTime()
    // traced runs alternate traced and untraced iterations so that the
    // gap between the two is measured in the same run
    while ((System.nanoTime() - m0) / 1e9 < args.seconds || iters.size < Main.MinIterations) {
      val i = iters.size + 2
      val traced = tracer.filter(_ => i % 2 == 0)
      traced.foreach(_.traceId = i)
      iters += iteration(i, traced)
    }
    val timed = iters.filterNot(_.traced).toSeq
    val iterS = Stats.median(timed.map(_.archiveS))
    report.put("iteration_s", iterS, "s")
    report.put("rows_per_s", Stats.median(timed.map(x => x.rows / x.archiveS)), "rows/s")
    report.put("setup_s", Stats.median((first +: warm +: iters).map(_.setupS).toSeq), "s")
    report.put("sink.target_bytes_per_row",
      Stats.median(iters.map(x => x.targetBytes.toDouble / math.max(x.rows, 1)).toSeq), "B/row")
    println(s"iterations: ${timed.size} timed (${timed.map(x => Json.num(x.archiveS)).mkString(" ")} s)" +
      s", ${iters.count(_.traced)} traced")
    tracer.foreach { t =>
      if (spec.sweepKeyRange > 0) sweep(t)
      layerMetrics(t.all, iterS)
      t.write(new File(work, s"traces/${spec.name}-seed${args.seed}.jsonl"))
      t.close()
    }
  }

  /** Scan and ingest the key_bulk source at ~150, ~1.5k and ~3k predicates. */
  private def sweep(t: Tracer): Unit = Catalog.sweepPredicates.foreach { n =>
    val c = cfg.copy(batchSize = math.max(spec.sweepKeyRange / n, 1L))
    val it = new File(runDir, s"sweep$n")
    Files.deleteTree(it)
    Fixtures.write(pristine, srcPath(it))
    val src = tableSource(it)
    val ld = loader(it, c)
    t.traceId = -n
    val plan = ArchivePlanner.plan(src, c, c.sourceDB, c.sourceTable)
    val preds = plan match {
      case KeySplitPlan(p, _, _, _) => p
      case other => sys.error(s"sweep expects a key-split plan, got $other")
    }
    val scanS = timed(t.span("sweep.scan") {
      src.scan(c.sourceDB, c.sourceTable, preds, c.sourceWhereCondition)
        .write.format("noop").mode("overwrite").save()
    })
    val (loaded, ingestS) = timedV(t.span("sweep.ingest") {
      ld.ingest(src.scan(c.sourceDB, c.sourceTable, preds, c.sourceWhereCondition),
        new File(it, "staging").getPath)
    })
    report.check(s"sweep at ${preds.size} predicates",
      if (loaded == expectArchived.rows) Nil
      else Seq(s"loaded $loaded rows, expected ${expectArchived.rows}"))
    println(s"sweep: ${preds.size} predicates: scan $scanS s, ingest $ingestS s")
    report.put(s"source.scan_s.preds$n", scanS, "s")
    report.put(s"sink.ingest_s.preds$n", ingestS, "s")
    Files.deleteTree(it)
  }

  private def timed(body: => Unit): Double = timedV(body)._2
  private def timedV[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private def layerMetrics(all: Seq[Tracer.Span], untracedS: Double): Unit = {
    val byIter = all.filter(_.trace > 0).groupBy(_.trace).values.toSeq
    def med(f: Seq[Tracer.Span] => Double): Double = Stats.median(byIter.map(f))
    def named(ss: Seq[Tracer.Span], p: String => Boolean) = ss.filter(s => p(s.name))
    def secs(ss: Seq[Tracer.Span], p: String => Boolean) = named(ss, p).map(_.seconds).sum
    def ctr(ss: Seq[Tracer.Span], p: String => Boolean, c: String) =
      named(ss, p).map(_.counter(c)).sum
    val isIngest: String => Boolean = _ == "sink.ingest"
    val isVerify: String => Boolean = _.startsWith("verify.")
    val isDml: String => Boolean = _ == "dml.delete"
    val isPhase: String => Boolean = n => n == "plan" || n == "sink.ingest" ||
      isVerify(n) || isDml(n)

    report.put("plan.s", med(secs(_, _ == "plan")), "s")
    report.put("plan.jobs", med(ctr(_, _ == "plan", "jobs")), "count")
    report.put("source.scan_s", med(secs(_, _ == "source.scan")), "s")
    report.put("source.partitions", med(ctr(_, _ == "source.scan", "tasks")), "count")
    report.put("source.rows", med(ctr(_, _ == "source.scan", "input_rows")), "count")
    report.put("source.bytes_read", med(ctr(_, _ == "source.scan", "input_bytes")), "B")

    val ingests = byIter.map(_.filter(_.name == "sink.ingest"))
    val batches = ingests.flatten.map(_.seconds)
    report.put("sink.ingest_s", med(secs(_, _ == "sink.ingest")), "s")
    report.put("sink.ingests", Stats.median(ingests.map(_.size.toDouble)), "count")
    report.put("sink.batch_s.p50", Stats.pct(batches, 0.5), "s")
    report.put("sink.batch_s.p90", Stats.pct(batches, 0.9), "s")
    report.put("sink.batch_s.last_over_first",
      Stats.median(ingests.filter(_.nonEmpty).map(b => b.last.seconds / b.head.seconds)), "ratio")
    report.put("sink.jobs_per_ingest",
      med(ss => ctr(ss, isIngest, "jobs") / math.max(ss.count(s => isIngest(s.name)), 1)), "count")
    report.put("sink.stage_write_s", med(ss =>
      named(ss, isIngest).map(s => s.counters.collect {
        case (k, v) if k.startsWith("write.") && k != "write.parquet.s" => v
      }.sum).sum), "s")
    report.put("sink.load_write_s", med(ctr(_, isIngest, "write.parquet.s")), "s")
    val rowsLoaded = expectArchived.rows.toDouble
    report.put("sink.bytes_written_per_row", med(ctr(_, isIngest, "output_bytes")) / rowsLoaded, "B/row")
    report.put("sink.shuffle_bytes", med(ctr(_, isIngest, "shuffle_bytes")), "B")
    report.put("sink.retries", (attempts - all.count(s => s.trace > 0 && isIngest(s.name))).toDouble /
      byIter.size, "count")

    report.put("verify.s", med(secs(_, isVerify)), "s")
    report.put("verify.jobs", med(ctr(_, isVerify, "jobs")), "count")
    report.put("dml.delete_s", med(secs(_, isDml)), "s")
    report.put("dml.jobs", med(ctr(_, isDml, "jobs")), "count")
    report.put("dml.rows_deleted", if (cfg.deleteAfterSync) expectArchived.rows.toDouble else 0.0, "count")
    report.put("dml.bytes_rewritten", med(ctr(_, isDml, "output_bytes")), "B")

    val phaseSum = med(secs(_, isPhase))
    report.put("archiver.self_s", med(ss => ss.filter(_.name == "archiver.run")
      .map(r => Tracer.selfSeconds(r, ss) - r.counter("drain_s")).sum), "s")
    report.put("trace.phase_sum_s", phaseSum, "s")
    report.put("trace.untraced_s", untracedS, "s")
    report.put("trace.gap_s", untracedS - phaseSum, "s")
    report.put("trace.drain_s", med(ctr(_, _ => true, "drain_s")), "s")
    println(s"traced phase sum $phaseSum s vs untraced iteration $untracedS s: " +
      s"gap ${untracedS - phaseSum} s (orchestration not inside a phase span, and tracing overhead)")

    report.put("spark.jobs", med(ctr(_, _ => true, "jobs")), "count")
    report.put("spark.tasks", med(ctr(_, _ => true, "tasks")), "count")
    report.put("spark.task_cpu_s", med(ctr(_, _ => true, "task_cpu_s")), "s")
    report.put("spark.gc_s", med(ctr(_, _ => true, "gc_s")), "s")
    report.put("spark.spill_bytes", med(ctr(_, _ => true, "spill_bytes")), "B")
  }
}
