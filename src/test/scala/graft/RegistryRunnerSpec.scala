package graft

import java.nio.file.{Files, Paths}

/** [[SparkEntry.run]], the one loop every main runs registered queries
  * through, and the two mains whose output the driver and PLANS.md read:
  * `Verify.dump` counts an unknown name as a failure, and `PlanDump.plan`
  * explains a plan that ran. */
class RegistryRunnerSpec extends SparkSpec {

  test("no names runs every registered query, sorted by name") {
    val outcome = SparkEntry.run(Nil)((name, _) => name)
    assert(outcome.done.map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    assert(outcome.done.forall { case (k, v) => k == v })
    assert(outcome.failed == 0)
  }

  test("a failure keeps the first 200 characters of its message, else the class name") {
    val names = Seq("a9_multi_agg_q1", "s1_pushdown_scan", "j6_star_join")
    val outcome = SparkEntry.run(names) {
      case ("a9_multi_agg_q1", _) => throw new IllegalStateException("x" * 300)
      case ("s1_pushdown_scan", _) => throw new IllegalStateException()
      case (name, _) => name
    }
    assert(outcome.attempted == 3 && outcome.failed == 2)
    assert(outcome.done == Seq("j6_star_join" -> "j6_star_join"))
    assert(outcome.errors == Seq("a9_multi_agg_q1" -> "x" * 200,
      "s1_pushdown_scan" -> classOf[IllegalStateException].getName))
  }

  test("Verify.dump counts a name that is not registered as a failure") {
    val out = Engine.tempDir("verify_spec")
    val outcome = Verify.dump(spark, sfDir, out, Seq("no_such_query"))
    assert(outcome.attempted == 1 && outcome.failed == 1)
    val failures = Files.readString(Paths.get(s"$out/failures.json"))
    assert(failures.startsWith("""{"attempted":1,"failed":1,"errors":{"no_such_query":"""), failures)
    assert(failures.contains("not registered"), failures)
    assert(Files.exists(Paths.get(s"$out/oracle_sql.json")))
  }

  test("PlanDump.plan explains j10's AQE-final plan") {
    val txt = PlanDump.plan(spark, SparkEntry.queries("j10_bloom_runtime_filter"), sfDir)
    assert(txt.contains("isFinalPlan=true"), txt.take(2000))
    assert(!txt.contains("isFinalPlan=false"), txt.take(2000))
  }
}
