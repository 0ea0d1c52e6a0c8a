package graft

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

    // listener sees every stream the session starts, including the ones a
    // query runs internally; progress arrives asynchronously on the
    // listener bus, so events are attributed to a run by runId (recorded at
    // onQueryStarted) and a phase drains by WAITING for each of its runIds'
    // terminated event — the bus delivers in post order, so once terminated
    // arrives every progress event of that run is already in. This replaces
    // the earlier fixed sleep, which on a loaded machine could attribute
    // late warm-up events to the measured run or drop trailing ones.
    val lock = new Object
    val started = mutable.LinkedHashSet.empty[java.util.UUID]
    val progressByRun = mutable.Map.empty[java.util.UUID, mutable.ArrayBuffer[String]]
    val terminated = mutable.Set.empty[java.util.UUID]
    // runIds whose phase already drained: late events from a query that
    // blew the 30 s drain deadline must not re-create a buffer entry that
    // no future phase will ever read (a slow leak attributed to no one)
    val retired = mutable.Set.empty[java.util.UUID]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        lock.synchronized { started += e.runId; () }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        lock.synchronized {
          if (!retired.contains(e.progress.runId)) {
            progressByRun.getOrElseUpdate(e.progress.runId,
              mutable.ArrayBuffer.empty[String]) += e.progress.json
          }
          ()
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        lock.synchronized {
          if (retired.contains(e.runId)) retired -= e.runId // late finisher: done
          else terminated += e.runId
          lock.notifyAll()
        }
    }
    spark.streams.addListener(listener)

    def drain(): Seq[String] = lock.synchronized {
      val phaseRuns = started.toList
      val deadlineNs = System.nanoTime() + 30L * 1000000000L
      while (!phaseRuns.forall(terminated.contains) && System.nanoTime() < deadlineNs)
        lock.wait(200)
      val out = phaseRuns.flatMap(r => progressByRun.getOrElse(r, Nil))
      started.clear()
      phaseRuns.foreach { r =>
        progressByRun -= r
        // a run that hasn't terminated by the deadline is retired: its
        // late events are dropped at the listener instead of accumulating
        if (!terminated.remove(r)) retired += r
      }
      out
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
