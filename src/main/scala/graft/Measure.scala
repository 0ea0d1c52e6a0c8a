package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one sampling policy of every main that times the engine (`Bench`,
  * `ScaleBench`, `Profile` and the JP2 probes): one untimed warm-up, then
  * three timed runs.
  *
  * The warm-up pays a query's first-execution costs (codegen, class
  * loading, the C1 compile of its generated code, lazy staging) outside the
  * record. A query's second execution is the slow one among the rest (C2
  * compiles during it), so the minimum over three timed runs falls after
  * it; callers report that minimum as the steady-state cost and keep every
  * sample beside it, so a spread between runs stays visible.
  */
object Measure {
  /** How records name this policy. */
  val policy = "untimed warm-up + best of 3"

  /** Seconds to build `fn`'s query on `dir` and run its noop write. The
    * build is inside the timer: several queries run eager materializations
    * while being built, and timing only the write would leave them out. The
    * noop write runs the whole plan, where a `count()` would let Catalyst
    * prune projected work away. */
  def once(spark: SparkSession, fn: (SparkSession, String) => DataFrame, dir: String): Double =
    seconds(fn(spark, dir).write.format("noop").mode("overwrite").save())

  /** Wall-clock seconds of one run of `body`. */
  def seconds(body: => Any): Double = {
    val t0 = System.nanoTime()
    body: Unit
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs `run` once untimed, then three times, and returns the three
    * results. An exception from any run propagates, so a caller counts a
    * failed query as a failure, never as a time. */
  def sample[A](run: => A): Seq[A] = {
    run: Unit
    Seq.fill(3)(run)
  }
}
