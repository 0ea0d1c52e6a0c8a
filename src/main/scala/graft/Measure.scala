package graft

import org.apache.spark.sql.SparkSession

/** The one sampling policy of every main that times the engine (`Bench`,
  * `ScaleBench` and `Profile`): one untimed warm-up, then three timed runs.
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

  /** One query sampled by the policy: the warm-up's wall seconds, kept so a
    * JIT-bound query shows its warm-up-to-best ratio, and the timed runs. */
  final case class Sampled[A](warmupSec: Double, runs: Seq[A])

  /** Samples `fn`'s query on `dir` by the policy; `record` turns each run's
    * wall seconds (from [[once]]) into what the caller keeps, and sees the
    * warm-up too, so whatever it drains is drained before the first timed
    * run. */
  def query[A](spark: SparkSession, fn: SparkEntry.Query, dir: String)(
      record: Double => A): Sampled[A] = {
    var warmup = Option.empty[Double]
    val runs = sample {
      val wall = once(spark, fn, dir)
      val kept = record(wall)
      if (warmup.isEmpty) warmup = Some(wall)
      kept
    }
    Sampled(warmup.get, runs)
  }

  /** Seconds to build `fn`'s query on `dir` and run its noop write. The
    * build is inside the timer: several queries run eager materializations
    * while being built, and timing only the write would leave them out. The
    * noop write runs the whole plan, where a `count()` would let Catalyst
    * prune projected work away. */
  def once(spark: SparkSession, fn: SparkEntry.Query, dir: String): Double = {
    val t0 = System.nanoTime()
    fn(spark, dir).write.format("noop").mode("overwrite").save()
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
