package graft

/** Pins the engine's ANSI-SQL contract (round-13 durability ask).
  *
  * Every oracle-checked query in `SparkEntry.queries` is validated against
  * DuckDB, which has ANSI error semantics: bigint overflow, integer
  * division by zero, and malformed casts ERROR rather than wrapping or
  * yielding NULL. The engine therefore pins `spark.sql.ansi.enabled=true`
  * in Engine.session, which every spec and tool main builds its session
  * through (and in the SpillProbe/ChaosRetry harness builders), instead of
  * inheriting Spark 4's default — a future Spark default flip, or an
  * ambient spark-defaults.conf on a real cluster, must not silently swap
  * those errors for non-ANSI wrap/NULL semantics and open a silent
  * Spark↔oracle divergence at magnitudes beyond the fixtures (the exact
  * class of bug the r12 BM25 int64 hardening closed).
  *
  * This spec asserts the conf AND the three observable semantics the
  * query surface relies on. The full-surface proof is the round-13 ANSI
  * sweep: graft.Verify over all 285 registered queries with the pin in
  * place, 274/274 oracle hash-matches (see COVERAGE.md "ANSI parity").
  */
class AnsiContractSpec extends SparkSpec {

  test("Engine.session pins spark.sql.ansi.enabled=true") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
  }

  test("bigint overflow throws (no silent int64 wrap)") {
    val e = intercept[Exception] {
      spark.sql("SELECT 9223372036854775807L * 2L AS x").collect()
    }
    assert(flatten(e).exists(_.isInstanceOf[ArithmeticException]),
      s"expected ArithmeticException in cause chain, got $e")
  }

  test("integer division by zero throws (matches DuckDB, relied on by l55 drift)") {
    val e = intercept[Exception] {
      spark.sql("SELECT 1 div 0 AS x").collect()
    }
    assert(flatten(e).exists(_.isInstanceOf[ArithmeticException]),
      s"expected ArithmeticException in cause chain, got $e")
  }

  test("malformed numeric cast throws (relied on by the day-spine TVF guard)") {
    intercept[Exception] {
      spark.sql("SELECT CAST('not-a-number' AS INT) AS x").collect()
    }
  }

  /** Spark wraps execution errors in SparkException layers; walk the chain. */
  private def flatten(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
}
