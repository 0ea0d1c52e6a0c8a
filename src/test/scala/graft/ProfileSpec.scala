package graft

import org.apache.spark.GraftListeners

/** `Profile` on the fixture: one listener records a batch query's jobs, a
  * child-session stream's progress, and a failure as a counted failure,
  * and it leaves the bus when profiling ends. */
class ProfileSpec extends SparkSpec {

  private lazy val record = Profile.profile(spark, sfDir,
    Seq("j10_bloom_runtime_filter", "st13_transform_with_state", "no_such_query"))

  private def runs(name: String): Seq[Profile.Run] = record.queries.toMap.apply(name)

  test("a batch query's timed runs record jobs, tasks and a driver gap, and no stream progress") {
    val rs = runs("j10_bloom_runtime_filter")
    assert(rs.size == 3)
    rs.foreach { r =>
      assert(r.jobs.nonEmpty, r.json)
      assert(r.taskMetrics.toMap.apply("n_tasks") > 0, r.json)
      assert(r.coveredSec <= r.wallSec, r.json)
      assert(r.driverGapSec >= 0, r.json)
      assert(r.progress.isEmpty, r.json)
    }
  }

  test("a stream started on a child session reports progress on every timed run") {
    val rs = runs("st13_transform_with_state")
    assert(rs.size == 3)
    rs.foreach(r => assert(r.progress.nonEmpty, r.json))
  }

  test("a name that is not registered is a counted failure with its message") {
    assert(record.attempted == 3)
    assert(record.failed == 1)
    assert(record.errors.toMap.apply("no_such_query").contains("not registered"))
    val json = record.json(sfDir, 4)
    assert(json.contains(""""attempted":3,"failed":1"""), json.take(400))
  }

  test("the recorder leaves the listener bus when profiling ends") {
    assert(record.attempted == 3)
    assert(GraftListeners.of[Profile.Recorder](spark.sparkContext).isEmpty)
  }
}
