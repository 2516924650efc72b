package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed call into a layer, with the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Benchmark-side spans, kept in memory and written out when the run ends.
  * Parent ids come from a per-thread stack; a span opened on another thread
  * (a streaming batch) names its parent explicitly. Self times are computed
  * from the written spans by `run.py`.
  */
final class Spans {
  @volatile var enabled = false
  private val ids = new AtomicInteger(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def current: Int = stack.get.headOption.getOrElse(0)

  def apply[T](name: String, parent: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val p = if (parent >= 0) parent else current
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        done.synchronized(done += Span(id, p, name, t0, t1))
      }
    }

  def all: Seq[Span] = done.synchronized(done.toList)
}

/** Spark-side counters for the traced run: stage and task metrics from a
  * [[SparkListener]], plan-phase times from each executed
  * [[QueryExecution]]'s tracker, and micro-batch phase durations from a
  * [[StreamingQueryListener]]. Totals accumulate until [[reset]]; the
  * caller keeps one snapshot per phase and divides by its operations.
  */
final class Collector extends SparkListener {
  val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, Long]
  /** [start, end] of every job, epoch ms — the driver-gap computation. */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  private def add(k: String, v: Double): Unit = c.synchronized(c(k) += v)

  override def onJobStart(e: SparkListenerJobStart): Unit = c.synchronized {
    jobStart(e.jobId) = e.time
    c("sched.jobs") += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = c.synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = add("sched.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) c.synchronized {
      val in = m.inputMetrics
      val sr = m.shuffleReadMetrics
      c("sched.tasks") += 1
      if (in.recordsRead + sr.recordsRead == 0) c("sched.empty_tasks") += 1
      c("exec.task_run_ms") += m.executorRunTime
      c("exec.task_cpu_ms") += m.executorCpuTime / 1e6
      c("exec.gc_ms") += m.jvmGCTime
      c("scan.bytes") += in.bytesRead
      c("scan.rows") += in.recordsRead
      c("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle.read_bytes") += sr.remoteBytesRead + sr.localBytesRead
      c("shuffle.fetch_wait_ms") += sr.fetchWaitTime
      c("spill.bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("write.rows") += m.outputMetrics.recordsWritten
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  private def phases(qe: QueryExecution): Unit = c.synchronized {
    val p = qe.tracker.phases
    for ((phase, key) <- Seq("analysis" -> "plan.analysis_ms",
        "optimization" -> "plan.optimization_ms", "planning" -> "plan.planning_ms"))
      p.get(phase).foreach(s => c(key) += s.durationMs)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) c.synchronized {
        c("stream.batches") += 1
        val d = e.progress.durationMs
        for ((phase, key) <- Seq("latestOffset" -> "stream.latest_offset_ms",
            "queryPlanning" -> "stream.query_planning_ms", "addBatch" -> "stream.add_batch_ms",
            "walCommit" -> "stream.wal_commit_ms", "commitOffsets" -> "stream.commit_offsets_ms"))
          if (d.containsKey(phase)) c(key) += d.get(phase).doubleValue
      }
  }

  def snapshot(): Map[String, Double] = c.synchronized(c.toMap)

  def reset(): Unit = c.synchronized { c.clear(); jobIntervals.clear() }

  /** Wall time inside [t0, t1] (epoch ms) with no job running. */
  def driverGapMs(t0: Long, t1: Long): Double = c.synchronized {
    var covered = 0L
    var hi = t0
    jobIntervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
        if (b > hi) { covered += b - math.max(a, hi); hi = b }
      }
    (t1 - t0 - covered).toDouble
  }
}
