package askbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval: `op` groups the spans of one benchmark
  * operation, `parent` is the index of the enclosing span or -1. */
final case class Span(name: String, op: Long, parent: Int, startNs: Long, endNs: Long)

/** Counts taken at the Spark boundary through public listeners only. */
final class Counters extends SparkListener with QueryExecutionListener {
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong
  val tasks = new AtomicLong
  val bytesRead = new AtomicLong
  val recordsRead = new AtomicLong
  val bytesWritten = new AtomicLong
  val shuffleBytesWritten = new AtomicLong
  val queries = new AtomicLong
  val planNs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobsStarted.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      shuffleBytesWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    planNs.addAndGet(phases.values.map(_.durationMs).sum * 1000000L)
    queries.incrementAndGet()
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    queries.incrementAndGet()

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobsStarted.get, "tasks" -> tasks.get, "bytes_read" -> bytesRead.get,
    "records_read" -> recordsRead.get, "bytes_written" -> bytesWritten.get,
    "shuffle_bytes" -> shuffleBytesWritten.get, "queries" -> queries.get,
    "plan_ns" -> planNs.get)

  /** Listener events arrive asynchronously: wait until every started job
    * has ended and the query-execution callbacks have gone quiet, so a
    * snapshot taken after an operation includes all of its work. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (jobsEnded.get < jobsStarted.get && System.nanoTime() < deadline) Thread.sleep(1)
    var last = -1L
    while (queries.get != last && System.nanoTime() < deadline) {
      last = queries.get
      Thread.sleep(15)
    }
  }
}

/** Span recorder. With tracing off it only runs the timed body, so
  * untraced runs pay nothing for it; spans start being kept once
  * `recording` is set at the end of set-up. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  val counters: Option[Counters] =
    if (!on) None
    else {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
      Some(c)
    }
  var recording = false
  private var open = List.empty[Int]
  private var opId = 0L

  def newOp(): Long = { opId += 1; opId }

  def span[A](name: String, op: Long)(body: => A): A =
    if (!on || !recording) body
    else {
      val idx = spans.length
      spans += Span(name, op, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
      open = idx :: open
      try body
      finally {
        open = open.tail
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }

  /** Counter deltas over `body`, after the listeners settle. */
  def counted[A](body: => A): (A, Map[String, Long]) = counters match {
    case None => (body, Map.empty)
    case Some(c) =>
      c.settle()
      val before = c.snapshot
      val a = body
      c.settle()
      val after = c.snapshot
      (a, after.map { case (k, v) => k -> (v - before(k)) })
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.zipWithIndex.foreach { case (s, i) =>
      sb ++= s"""{"i":$i,"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
