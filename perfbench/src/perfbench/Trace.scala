package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, so spans
  * line up with the epoch-millisecond times Spark's listener events carry. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory spans, written out once at the end of the run. Disabled
  * (the untraced run) a span only runs its body. */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, group: String,
      start_ms: Double, end_ms: Double)

  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }

  def span[T](name: String, group: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val start = Clock.ms
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, group, start, Clock.ms))
        stack.set(parents)
      }
    }

  /** Id of this thread's innermost open span, 0 when none. */
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Runs `body` with `parent` as this thread's enclosing span, so work a
    * span starts on another thread (a streaming micro-batch) nests under it. */
  def under[T](parent: Long)(body: => T): T = {
    val saved = stack.get
    stack.set(if (parent == 0L) Nil else List(parent))
    try body finally stack.set(saved)
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Job, task and stage totals from a benchmark-owned SparkListener. Job
  * intervals are kept so driver gap can be computed against spans. */
class SparkTotals extends SparkListener {
  private val lock = new Object
  private val jobStart = mutable.Map.empty[Int, Long]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  /** (max, median) executor run time of each stage with two or more tasks. */
  val stageSkew = mutable.ArrayBuffer.empty[(Long, Long)]
  var tasks = 0L
  var executorRunMs = 0L
  var gcMs = 0L
  var fetchWaitMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      executorRunMs += m.executorRunTime
      gcMs += m.jvmGCTime
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      outputBytes += m.outputMetrics.bytesWritten
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stageTasks.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { ts =>
      if (ts.size >= 2) {
        val s = ts.sorted
        stageSkew += ((s.last, s(s.size / 2)))
      }
    }
  }

  def snapshot: Map[String, Any] = lock.synchronized {
    Map(
      "jobs" -> jobIntervals.size,
      "job_intervals_ms" -> jobIntervals.map { case (a, b) => Seq(a, b) }.toSeq,
      "tasks" -> tasks,
      "executor_run_ms" -> executorRunMs,
      "gc_ms" -> gcMs,
      "fetch_wait_ms" -> fetchWaitMs,
      "input_bytes" -> inputBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes,
      "output_bytes" -> outputBytes,
      "stage_skew_ms" -> stageSkew.map { case (mx, med) => Seq(mx, med) }.toSeq)
  }
}

/** Catalyst phase times per successful query, from `qe.tracker`. */
class CatalystPhases extends QueryExecutionListener {
  private val totals = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var queries = 0L
  var failures = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      queries += 1
      qe.tracker.phases.foreach { case (phase, s) => totals(phase) += s.durationMs }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { failures += 1 }

  def snapshot: Map[String, Any] = synchronized {
    Map("queries" -> queries, "failures" -> failures) ++
      Seq("analysis", "optimization", "planning").map(p => s"${p}_ms" -> totals(p))
  }
}

/** Every micro-batch's progress: batch id, end time, `durationMs` phases,
  * input rows and state-operator totals. Kept in both runs: batch end
  * times are what the stream's latency is measured against. */
class BatchLog extends StreamingQueryListener {
  import StreamingQueryListener._
  val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val inputRows = new java.util.concurrent.atomic.AtomicLong(0L)

  def rowsSeen: Long = inputRows.get()
  def reset(): Unit = { batches.clear(); inputRows.set(0L) }

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    batches.add(Map(
      "batch_id" -> p.batchId,
      "start_ms" -> start,
      "end_ms" -> (start + d.getOrElse("triggerExecution", 0L)),
      "duration_ms" -> d,
      "input_rows" -> p.numInputRows,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum))
    inputRows.addAndGet(p.numInputRows): Unit
  }
}

/** The listener set a run installs on its session. The batch log is on
  * from the start; the Spark and Catalyst totals only from [[measure]],
  * called once the untimed warm-up is over. */
final class Listeners(spark: SparkSession, traced: Boolean) {
  val sparkTotals = new SparkTotals
  val catalyst = new CatalystPhases
  val batches = new BatchLog
  spark.streams.addListener(batches)

  def measure(): Unit = if (traced) {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(sparkTotals)
    spark.listenerManager.register(catalyst)
  }

  def remove(): Unit = {
    spark.streams.removeListener(batches)
    if (traced) {
      spark.sparkContext.removeSparkListener(sparkTotals)
      spark.listenerManager.unregister(catalyst)
    }
  }

  def snapshot: Map[String, Any] = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    if (!traced) Map.empty
    else Map("spark" -> sparkTotals.snapshot, "catalyst" -> catalyst.snapshot)
  }
}
