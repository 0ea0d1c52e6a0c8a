package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Captures per-micro-batch `StreamingQueryProgress` for the state-heavy
  * streaming queries, as committed evidence for where their wall time goes.
  *
  * Motivation: driver-environment bench runs have repeatedly shown the
  * streaming rows 2-4× slower than the same queries run locally, while the
  * batch rows track closely. The hypothesis (now measurable instead of
  * asserted) is that streaming cost is dominated by fixed per-micro-batch
  * machinery — state-store open/commit cycles per partition, checkpoint
  * directory fsyncs, no-data trailing batches — which scales with
  * (micro-batches × state partitions), not with rows; a loaded driver
  * machine multiplies exactly that fixed cost. This probe records the
  * official `StreamingQueryProgress` JSON for every micro-batch of every
  * stream a query starts (several queries run more than one stream by
  * design, e.g. st3's idempotence dual-run), so the per-batch
  * `durationMs` breakdown (addBatch vs commitOffsets vs walCommit) and the
  * `stateOperators` commit/total-rows numbers are on the record alongside
  * the wall-clock bench rows.
  *
  * Run: `sbt "runMain graft.StreamMetrics [sfDir] [outPath] [q1,q2,...]"`,
  * defaults sf0.1 → STREAM_METRICS_r10.json, the four driver-weak queries
  * plus st19 (the round-8 crash site).
  */
object StreamMetrics {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outPath = args.lift(1).getOrElse("STREAM_METRICS_r10.json")
    val names = args.lift(2).map(_.split(",").toSeq).getOrElse(Seq(
      "st3_foreachbatch_idempotent", "st12_statestore_read",
      "st13_transform_with_state", "st15_streaming_curation",
      "st19_outer_join"))
    val spark = Engine.session()

    // Stateful queries start their streams on child sessions
    // (`Streams.stateSession`), and a listener added with
    // `spark.streams.addListener` hears only the caller session's own
    // queries. Every session's streaming events are also posted to the
    // SparkContext's listener bus, so one SparkListener there sees every
    // stream a query starts, on any session. Events arrive asynchronously
    // and are attributed to a run by runId; a phase drains once the
    // listener has seen the end of a sentinel job submitted after the
    // query returned: the bus delivers in post order, and each stream
    // posts its terminated event before `awaitTermination` returns, so by
    // then every event of the phase's runs is in.
    val lock = new Object
    val started = mutable.LinkedHashSet.empty[java.util.UUID]
    val progressByRun = mutable.Map.empty[java.util.UUID, mutable.ArrayBuffer[String]]
    val flushGroup = "stream-metrics-flush"
    val flushJobs = mutable.Set.empty[Int]
    var flushed = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: StreamingQueryListener.QueryStartedEvent =>
          lock.synchronized { started += s.runId; () }
        case p: StreamingQueryListener.QueryProgressEvent =>
          lock.synchronized {
            progressByRun.getOrElseUpdate(p.progress.runId,
              mutable.ArrayBuffer.empty[String]) += p.progress.json
            ()
          }
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == flushGroup)
          lock.synchronized { flushJobs += e.jobId; () }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        lock.synchronized {
          if (flushJobs.remove(e.jobId)) { flushed = true; lock.notifyAll() }
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)

    def drain(): Seq[String] = {
      sc.setJobGroup(flushGroup, "listener flush", false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      lock.synchronized {
        val deadlineNs = System.nanoTime() + 30L * 1000000000L
        while (!flushed && System.nanoTime() < deadlineNs) lock.wait(200)
        val out = started.toList.flatMap(r => progressByRun.getOrElse(r, Nil))
        started.clear()
        progressByRun.clear()
        flushed = false
        out
      }
    }

    val sections = names.map { name =>
      // untimed warm-up run: one-time staging (file copies, schema reads)
      // and JIT are paid here, so the recorded run is the steady state the
      // bench rows measure
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      drain(): Unit // discard the warm-up's progress events
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wallSec = (System.nanoTime() - t0) / 1e9
      val progresses = drain()
      (name, wallSec, progresses)
    }

    val json = sections.map { case (name, wall, ps) =>
      s"""  "$name": {"wall_sec": ${f"$wall%.3f"}, "n_progress_events": ${ps.size}, "progress": [
         |${ps.map("    " + _).mkString(",\n")}
         |  ]}""".stripMargin
    }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath), json.getBytes("UTF-8"))
    println(s"stream metrics written to $outPath")
    spark.stop()
  }
}
