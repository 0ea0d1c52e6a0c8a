package graft.sources

import java.util.concurrent.atomic.AtomicLong

/** Fault-injection seam for the write connectors' commit protocols.
  *
  * The archive sink (S7/S9) and the kb.dim manifest swap (S30/S31) claim
  * task-retry safety: a write task whose first attempt dies mid-stream must
  * leave NO trace in the committed state once its retry succeeds — only
  * admitted commit messages are renamed out of staging, and staging is
  * dropped at publish. That claim is exercised end-to-end by
  * `graft.ChaosRetry` (spawned from ArchiveSinkSpec / KbDimSpec), which
  * runs real Spark jobs on a retry-enabled `local[N, 2]` scheduler with
  * this seam armed.
  *
  * Armed via system property so the chaos runner controls it without a
  * connector API change; in local mode driver and executors share the JVM,
  * so the property and the [[injected]] counter are visible on both sides.
  * Writers read the threshold ONCE at construction into a local val —
  * disarmed (the production state) the per-row cost is a single branch on
  * a final -1.
  */
object WriteChaos {

  /** Set to a positive N to make every write task's FIRST attempt throw
    * after staging N rows; retried attempts (attemptNumber > 0) run clean. */
  val Prop = "graft.chaos.writeFailFirstAttemptAfterRows"

  /** Count of injected failures, so the chaos runner can prove the fault
    * actually fired (a test that never injects proves nothing). */
  val injected = new AtomicLong(0)

  /** Set to a positive ms to make PARTITION 0's first attempt sleep that
    * long per row — slowed, not killed: the speculation scenario
    * (ChaosRetry, r13 verdict item 4) needs the original attempt alive
    * and mid-write while its speculative copy races it through the
    * commit coordinator. Other partitions and attemptNumber > 0 copies
    * run clean, so the scheduler sees one straggler. */
  val SlowProp = "graft.chaos.writeSlowFirstAttemptMsPerRow"

  /** Count of rows the slow seam actually delayed (proves engagement). */
  val slowedRows = new AtomicLong(0)

  /** Read once per writer (task-side) — see class doc. */
  private[graft] def thresholdNow(): Long =
    sys.props.get(Prop).map(_.toLong).getOrElse(-1L)

  /** Env-var form of [[SlowProp]]: the speculation scenario
    * (graft.ChaosSpeculation, test scope) runs on a real two-worker
    * standalone cluster whose executors are SEPARATE JVMs — driver
    * sys.props don't reach them, but `spark.executorEnv.*` does. */
  val SlowEnv = "GRAFT_CHAOS_SLOW_MS_PER_ROW"

  /** Read once per writer (task-side) — see class doc. */
  private[graft] def slowPerRowNow(): Long =
    sys.props.get(SlowProp).orElse(sys.env.get(SlowEnv))
      .map(_.toLong).getOrElse(-1L)

  private[graft] def maybeSlow(perRowMs: Long): Unit =
    if (perRowMs > 0) {
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() == 0) {
        slowedRows.incrementAndGet()
        Thread.sleep(perRowMs)
      }
    }

  private[graft] def maybeFail(threshold: Long, rowsStaged: Long): Unit =
    if (threshold > 0 && rowsStaged == threshold) {
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0) {
        injected.incrementAndGet()
        throw new java.io.IOException(
          s"chaos: injected first-attempt failure after $rowsStaged staged rows " +
            s"(partition ${tc.partitionId()}, task ${tc.taskAttemptId()})")
      }
    }
}
