package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.perfbenchshim.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the benchmark's calls into the program's layers.
  *
  * A span has a name, start, end, parent and the trace id of the iteration
  * it belongs to. Spark's job and task events (a `SparkListener`) and the
  * actions of each query (a `QueryExecutionListener`: action name, write
  * format, duration) are credited to the span that was innermost when their
  * work ran: the listener bus is drained at every span boundary, so nothing
  * posted inside a span arrives after it closes. The drain waits are timed
  * and reported as tracing overhead, not as work of the span's parent.
  *
  * The benchmark is one closed-loop client on one thread, so "innermost
  * open span" is unambiguous. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val pending = new ConcurrentLinkedQueue[(String, Double)]()
  var traceId = 0

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_cpu_s", m.executorCpuTime / 1e9)
        add("gc_s", m.jvmGCTime / 1e3)
        add("spill_bytes", m.diskBytesSpilled.toDouble)
        add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("input_rows", m.inputMetrics.recordsRead.toDouble)
        add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private val actionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = durationNs / 1e9
      add("actions", 1)
      add(s"action.$funcName.s", s)
      writeFormat(qe).foreach(f => add(s"write.$f.s", s))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      add("failed_actions", 1)
  }

  private def add(counter: String, v: Double): Unit = pending.add(counter -> v)

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(actionListener)

  def close(): Unit = {
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(actionListener)
  }

  /** Wait for every posted event, then credit what arrived to `to`. The
    * wait itself is credited, as `drain_s`, to `waiter`: the open span whose
    * time it lengthens. */
  private def flushTo(to: Option[Span], waiter: Option[Span]): Unit = {
    val t0 = System.nanoTime()
    ListenerBus.drain(spark.sparkContext)
    waiter.foreach(w => w.counters("drain_s") =
      w.counter("drain_s") + (System.nanoTime() - t0) / 1e9)
    var e = pending.poll()
    while (e != null) {
      to.foreach(s => s.counters(e._1) = s.counters.getOrElse(e._1, 0.0) + e._2)
      e = pending.poll()
    }
  }

  /** Run `body` inside a span. */
  def span[A](name: String)(body: => A): A = {
    flushTo(stack.headOption, stack.headOption)
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), traceId,
      System.nanoTime())
    spans += s
    stack = s :: stack
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      flushTo(Some(s), stack.headOption)
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Write every span, one JSON object a line. */
  def write(f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, toJsonLines(all).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"spans: ${all.size} written to $f")
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, trace: Int, startNs: Long) {
    var endNs: Long = startNs
    val counters: mutable.Map[String, Double] = mutable.Map.empty
    def seconds: Double = (endNs - startNs) / 1e9
    def counter(k: String): Double = counters.getOrElse(k, 0.0)
  }

  /** The file format a write action wrote, when it was a file write. */
  def writeFormat(qe: QueryExecution): Option[String] = {
    def fmt(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collectFirst { case c: InsertIntoHadoopFsRelationCommand =>
        c.fileFormat match {
          case r: DataSourceRegister => r.shortName()
          case f => f.toString.toLowerCase
        }
      }
    scala.util.Try(fmt(qe.logical).orElse(fmt(qe.commandExecuted))).toOption.flatten
  }

  /** Time of a span minus the part of it its children cover. */
  def selfSeconds(s: Span, spans: Seq[Span]): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** All spans of one run as JSON lines. */
  def toJsonLines(spans: Seq[Span]): Seq[String] = spans.map { s =>
    val cs = s.counters.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"trace":${s.trace},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counters":{$cs}}"""
  }
}
