package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job / per-stage wall breakdown for the batch queries whose recorded
  * cost has diverged 3-6x between driver and local bench runs
  * (r9 verdict weak set: j10_bloom_runtime_filter, j11_salted_join,
  * g7_bfs_reachability, g4_pagerank) — the batch counterpart of
  * [[StreamMetrics]].
  *
  * What it measures, per query, for one untimed warm-up run and N timed
  * runs:
  *   - wall time of the run;
  *   - every Spark JOB the run submits (eager localCheckpoint
  *     materializations are separate jobs), with its own wall time;
  *   - summed task metrics per run: executor run time, JVM GC time,
  *     shuffle fetch wait, executor deserialize time (codegen/JIT shows up
  *     here on first execution), result serialization;
  *   - the DRIVER GAP: wall minus the union of job intervals — analysis,
  *     optimization, codegen compilation and job-submission latency, which
  *     executes single-threaded on the driver and is the component most
  *     sensitive to ambient machine load.
  *
  * Run: `sbt "runMain graft.BatchMetrics [sfDir] [outPath] [q1,q2,...]"`,
  * defaults sf0.1 → BATCH_METRICS_r10.json.
  */
object BatchMetrics {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outPath = args.lift(1).getOrElse("BATCH_METRICS_r10.json")
    val names = args.lift(2).map(_.split(",").toSeq).getOrElse(Seq(
      "j10_bloom_runtime_filter", "j11_salted_join",
      "g7_bfs_reachability", "g4_pagerank"))
    val samplesPerQuery = 3
    val spark = Engine.session()

    // one-time staging, untimed (mirrors Bench)
    queries.Relational.stageBucketedTables(spark, sfDir)
    queries.Sources.stageBloomEvents(spark, sfDir)

    final case class JobRec(jobId: Int, startMs: Long, var endMs: Long)
    val lock = new Object
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    var taskRun, taskGc, taskFetchWait, taskDeser, taskResSer = 0L
    var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
    var nTasks = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        lock.synchronized { jobs += JobRec(e.jobId, e.time, -1L); () }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        lock.synchronized {
          jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        lock.synchronized {
          val m = e.taskMetrics
          if (m != null) {
            taskRun += m.executorRunTime
            taskGc += m.jvmGCTime
            taskFetchWait += m.shuffleReadMetrics.fetchWaitTime
            taskDeser += m.executorDeserializeTime
            taskResSer += m.resultSerializationTime
            // r14: byte-level decomposition, so scaling-ratio questions
            // ("is the df-join exchange growing faster than the scan?")
            // are answered from the record instead of re-argued
            inputBytes += m.inputMetrics.bytesRead
            shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            spillBytes += m.diskBytesSpilled
            nTasks += 1
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    def snapshotAndReset(): (Seq[(Int, Long)], Map[String, Long], Double) =
      lock.synchronized {
        val done = jobs.filter(_.endMs >= 0).toList
        val jobWalls = done.map(j => j.jobId -> (j.endMs - j.startMs))
        // union of job intervals: driver gap = wall - covered (jobs can
        // overlap only if submitted concurrently; these queries are
        // sequential, but merge intervals anyway)
        val ivs = done.map(j => (j.startMs, j.endMs)).sortBy(_._1)
        val covered = ivs.foldLeft((0L, Long.MinValue)) {
          case ((acc, hi), (s, e)) =>
            if (s >= hi) (acc + (e - s), e)
            else if (e > hi) (acc + (e - hi), e)
            else (acc, hi)
        }._1
        val metrics = Map(
          "executor_run_ms" -> taskRun, "jvm_gc_ms" -> taskGc,
          "shuffle_fetch_wait_ms" -> taskFetchWait,
          "executor_deserialize_ms" -> taskDeser,
          "result_serialization_ms" -> taskResSer,
          "input_bytes" -> inputBytes,
          "shuffle_read_bytes" -> shuffleReadBytes,
          "shuffle_write_bytes" -> shuffleWriteBytes,
          "disk_spill_bytes" -> spillBytes,
          "n_tasks" -> nTasks.toLong)
        jobs.clear()
        taskRun = 0; taskGc = 0; taskFetchWait = 0; taskDeser = 0
        taskResSer = 0; nTasks = 0
        inputBytes = 0; shuffleReadBytes = 0; shuffleWriteBytes = 0
        spillBytes = 0
        (jobWalls, metrics, covered / 1e3)
      }

    def runOnce(name: String): (Double, Seq[(Int, Long)], Map[String, Long], Double) = {
      snapshotAndReset(): Unit // discard anything pending
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async; wait briefly until all started jobs have ends
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (lock.synchronized(jobs.exists(_.endMs < 0)) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      val (jw, m, covered) = snapshotAndReset()
      (wall, jw, m, covered)
    }

    def fmtRun(tag: String, r: (Double, Seq[(Int, Long)], Map[String, Long], Double)): String = {
      val (wall, jw, m, covered) = r
      val jobsJson = jw.map { case (id, ms) => s"""{"job":$id,"ms":$ms}""" }
        .mkString("[", ",", "]")
      val mJson = m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      f"""{"run":"$tag","wall_sec":$wall%.3f,"jobs_covered_sec":$covered%.3f,""" +
        f""""driver_gap_sec":${math.max(0.0, wall - covered)}%.3f,""" +
        s""""n_jobs":${jw.size},"jobs":$jobsJson,"task_metrics":$mJson}"""
    }

    val sections = names.map { name =>
      val warm = runOnce(name)
      val timed = (1 to samplesPerQuery).map(i => fmtRun(s"timed$i", runOnce(name)))
      val runsJson = (fmtRun("warmup", warm) +: timed).mkString("[\n    ", ",\n    ", "\n  ]")
      s"""  "$name": $runsJson"""
    }

    val json = sections.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath), json.getBytes("UTF-8"))
    println(s"batch metrics written to $outPath")
    spark.stop()
  }
}
