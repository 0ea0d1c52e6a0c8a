package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Where a query's wall time goes, for the whole registry or a subset: each
  * query is sampled by [[Measure]]'s policy, its untimed warm-up's wall time
  * is kept (as `Bench` keeps it), and every timed run records
  *   - its wall time, build and noop write included (as `Bench` times it);
  *   - every Spark job it submits (eager materializations are jobs of
  *     their own), with the job's wall time;
  *   - summed task metrics: executor run time, JVM GC, shuffle fetch wait,
  *     executor deserialize time (codegen/JIT shows up here on a first
  *     execution), result serialization, and bytes read, shuffled and
  *     spilled;
  *   - the driver gap: wall minus the union of job intervals, which is
  *     analysis, optimization, codegen and job-submission latency, run on
  *     the driver and the part most sensitive to machine load;
  *   - the `StreamingQueryProgress` JSON of every micro-batch of every
  *     stream the run starts, on any session (per-batch `durationMs` phases
  *     and state-store commit times).
  *
  * One [[Recorder]] on the SparkContext's listener bus hears all of it.
  * Stateful queries start their streams on child sessions
  * (`Streams.stateSession`), and a listener added with
  * `spark.streams.addListener` hears only its own session's streams; every
  * session posts its streaming events to the SparkContext's bus too, where
  * `onOtherEvent` receives them.
  *
  * Run: `sbt "runMain graft.Profile <sfDir> [outPath] [q1,q2,...]"`;
  * the defaults are `profile.json` and every registered query.
  */
object Profile {

  /** One timed run of one query, as the [[Recorder]] saw it. */
  final case class Run(wallSec: Double, jobs: Seq[(Int, Long)], coveredSec: Double,
      taskMetrics: Seq[(String, Long)], progress: Seq[String]) {
    def driverGapSec: Double = math.max(0.0, wallSec - coveredSec)

    def json: String = {
      import Jfmt.{jmap, r3}
      val jobsJson = jobs.map { case (id, ms) => s"""{"job":$id,"ms":$ms}""" }
        .mkString("[", ",", "]")
      s"""{"wall_sec":${r3(wallSec)},"jobs_covered_sec":${r3(coveredSec)},""" +
        s""""driver_gap_sec":${r3(driverGapSec)},"n_jobs":${jobs.size},"jobs":$jobsJson,""" +
        s""""task_metrics":${jmap(taskMetrics.map { case (k, v) => k -> v.toString })},""" +
        s""""n_progress_events":${progress.size},"progress":${progress.mkString("[", ",", "]")}}"""
    }
  }

  /** The sampled runs of every profiled query, and the queries that failed
    * with their messages. */
  final case class Record(outcome: SparkEntry.Outcome[Measure.Sampled[Run]]) {
    def queries: Seq[(String, Seq[Run])] = outcome.done.map { case (k, s) => k -> s.runs }
    def errors: Seq[(String, String)] = outcome.errors
    def attempted: Int = outcome.attempted
    def failed: Int = outcome.failed

    def json(sfDir: String, cpus: Int): String = {
      import Jfmt.{jmap, q, r3}
      val perQuery = queries.map { case (name, runs) =>
        s"${q(name)}:${runs.map(_.json).mkString("[\n    ", ",\n    ", "\n  ]")}"
      }.mkString("{\n  ", ",\n  ", "\n}")
      val warmups = jmap(outcome.done.map { case (k, s) => k -> r3(s.warmupSec) })
      s"""{"sf":${q(sfDir)},"cpus":$cpus,"runs":${q(Measure.policy)},""" +
        s""""loadavg":${Jfmt.loadavg()},${outcome.json},""" +
        s""""warmups":$warmups,"queries":$perQuery}"""
    }
  }

  /** Profiles `names` (no names: the whole registry) on `dir`. The
    * recorder is on the listener bus only while this runs. */
  def profile(spark: SparkSession, dir: String, names: Seq[String]): Record = {
    val sc = spark.sparkContext
    val recorder = new Recorder(sc)
    sc.addSparkListener(recorder)
    try {
      recorder.drain(): Unit // whatever ran before is not a run
      Record(SparkEntry.run(names) { (_, fn) =>
        Measure.query(spark, fn, dir)(wall => recorder.drain().copy(wallSec = wall))
      })
    } finally sc.removeSparkListener(recorder)
  }

  /** The one listener. It records jobs, task metrics and stream progress
    * between two drains; [[drain]] returns what it recorded since the last
    * one.
    *
    * A drain submits a one-task sentinel job and takes its cut when the
    * sentinel's start event arrives. The bus delivers events in the order
    * they were posted: a run's jobs post their end events before their
    * actions return, and a stream posts its terminated event before
    * `awaitTermination` returns, so at the cut every event of the run is
    * in. (Polling for open jobs instead cannot see a job whose start event
    * the bus has not delivered yet.) The sentinel's own job and tasks are
    * not recorded. Progress is kept for the streams that started since the
    * last drain, attributed by run id. */
  private[graft] final class Recorder(sc: SparkContext) extends SparkListener {
    private val group = "graft-profile-drain"
    private val jobStarts = mutable.LinkedHashMap.empty[Int, Long]
    private val jobEnds = mutable.Map.empty[Int, Long]
    private val sums = new Array[Long](TaskMetricNames.size)
    private val started = mutable.LinkedHashSet.empty[java.util.UUID]
    private val progress = mutable.Map.empty[java.util.UUID, mutable.ArrayBuffer[String]]
    private val sentinelStages = mutable.Map.empty[Int, Seq[Int]]
    private var cut: Option[Run] = None

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
        sentinelStages(e.jobId) = e.stageIds
        cut = Some(takeAndReset())
        notifyAll()
      } else jobStarts(e.jobId) = e.time
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (sentinelStages.remove(e.jobId).isEmpty) jobEnds(e.jobId) = e.time
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null && !sentinelStages.valuesIterator.exists(_.contains(e.stageId))) {
        val vs = Seq(m.executorRunTime, m.jvmGCTime, m.shuffleReadMetrics.fetchWaitTime,
          m.executorDeserializeTime, m.resultSerializationTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled, 1L)
        vs.indices.foreach(i => sums(i) += vs(i))
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: StreamingQueryListener.QueryStartedEvent =>
        synchronized { started += s.runId; () }
      case p: StreamingQueryListener.QueryProgressEvent =>
        synchronized {
          progress.getOrElseUpdate(p.progress.runId, mutable.ArrayBuffer.empty) += p.progress.json
          ()
        }
      case _ =>
    }

    /** Everything recorded since the last cut, with `wallSec` left at 0
      * for the caller to fill in. */
    private def takeAndReset(): Run = {
      val done = jobStarts.toSeq.flatMap { case (id, s) => jobEnds.get(id).map(e => (id, s, e)) }
      // union of job intervals (jobs overlap when submitted concurrently)
      val covered = done.map { case (_, s, e) => (s, e) }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (s, e)) =>
          if (s >= hi) (acc + (e - s), e)
          else if (e > hi) (acc + (e - hi), e)
          else (acc, hi)
        }._1
      val run = Run(0.0, done.map { case (id, s, e) => id -> (e - s) }, covered / 1e3,
        TaskMetricNames.zip(sums.toSeq),
        started.toSeq.flatMap(r => progress.getOrElse(r, Nil)))
      jobStarts.clear(); jobEnds.clear(); java.util.Arrays.fill(sums, 0L)
      started.clear(); progress.clear()
      run
    }

    /** Waits until every event posted before this call has been heard and
      * returns what was recorded since the last drain. */
    def drain(): Run = {
      synchronized { cut = None }
      sc.setJobGroup(group, "profile drain", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      synchronized {
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (cut.isEmpty && System.nanoTime() < deadline) wait(200)
        cut.getOrElse(throw new IllegalStateException(
          "the listener bus did not deliver the drain job's start within 30 s"))
      }
    }
  }

  /** Task-metric sums per run, in the order [[Recorder]] adds them. */
  private val TaskMetricNames = Seq("executor_run_ms", "jvm_gc_ms",
    "shuffle_fetch_wait_ms", "executor_deserialize_ms", "result_serialization_ms",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "disk_spill_bytes",
    "n_tasks")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.error("usage: graft.Profile <sfDir> [outPath] [q1,q2,...]"))
    val outPath = args.lift(1).getOrElse("profile.json")
    val spark = Engine.session()
    val record = profile(spark, sfDir, SparkEntry.names(args.lift(2)))
    Jfmt.writeAtomic(outPath, record.json(sfDir, spark.sparkContext.defaultParallelism))
    println(s"profile of ${record.attempted} queries, ${record.failed} failed, written to $outPath")
    spark.stop()
  }
}
