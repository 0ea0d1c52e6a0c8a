package graft

import graft.sinks.{IncrementalWriter, VerifiedWriter}
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The reference's core operational guarantee (SURVEY §7.4.4): the
  * incremental sink is idempotent under retry (:357-359, :462-465) and the
  * verified write detects content drift (:126-129). Property test uses
  * scalacheck directly (no scalatest bridge needed offline). */
class IncrementalWriterSpec extends SparkSpec {

  test("append then identical re-append is a no-op (idempotence)") {
    import spark.implicits._
    val dir = tempDir("iw1")
    val w = new IncrementalWriter(spark, dir, Seq("k"))
    val batch = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    assert(w.append(batch) == 100)
    assert(w.append(batch) == 0)
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("overlapping batches append only the new keys, union is exact") {
    import spark.implicits._
    val dir = tempDir("iw2")
    val w = new IncrementalWriter(spark, dir, Seq("k"))
    val b1 = (1 to 60).map(i => (i.toLong, "a")).toDF("k", "v")
    val b2 = (41 to 100).map(i => (i.toLong, "b")).toDF("k", "v")
    assert(w.append(b1) == 60)
    assert(w.append(b2) == 40)
    val sunk = spark.read.parquet(dir)
    assert(sunk.count() == 100)
    assert(sunk.select("k").distinct().count() == 100)
  }

  test("a sink holding a duplicated key still replays as a no-op") {
    import spark.implicits._
    val dir = tempDir("iwd")
    // the probe's sink-key scan is not de-duplicated: duplicates on the
    // build side of the anti-join must not change what a replay appends
    val dup = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v")
    dup.write.mode("overwrite").parquet(dir)
    val w = new IncrementalWriter(spark, dir, Seq("k"))
    assert(w.append(dup) == 0)
    assert(w.append(Seq((1L, "x"), (3L, "y")).toDF("k", "v")) == 1)
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("property: for random key sets, re-running any batch adds nothing") {
    import spark.implicits._
    val prop = Prop.forAll(Gen.nonEmptyListOf(Gen.choose(1L, 500L))) { keys =>
      val dir = tempDir("iwp")
      val w = new IncrementalWriter(spark, dir, Seq("k"))
      val batch = keys.distinct.map(k => (k, s"v$k")).toDF("k", "v")
      val first = w.append(batch)
      val second = w.append(batch)
      first == keys.distinct.size.toLong &&
        second == 0L &&
        spark.read.parquet(dir).count() == keys.distinct.size.toLong
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(result.passed, result.status.toString)
  }

  test("key-indexed writer: idempotent, probes the sidecar, survives a torn append") {
    import spark.implicits._
    // one level down, so the `<dir>.keys` sidecar goes with the temp dir
    val dir = s"${tempDir("iwk")}/sink"
    val w = new IncrementalWriter(spark, dir, Seq("k"), keyIndex = true)
    val b1 = (1 to 60).map(i => (i.toLong, "a")).toDF("k", "v")
    val b2 = (41 to 100).map(i => (i.toLong, "b")).toDF("k", "v")
    assert(w.append(b1) == 60)
    // sidecar exists, holds exactly the sink's distinct keys, and carries
    // only the key column (the whole point: probe reads keys, not data)
    val idx = spark.read.parquet(dir + ".keys")
    assert(idx.columns.toSeq == Seq("k"))
    assert(idx.distinct().count() == 60)
    assert(w.append(b1) == 0, "identical re-append must be a no-op via the index")
    assert(w.append(b2) == 40)
    assert(spark.read.parquet(dir).count() == 100)
    assert(spark.read.parquet(dir + ".keys").distinct().count() == 100)

    // torn append: data files land but the index write never happens
    // (crash between the two). Simulate by appending data OUT OF BAND,
    // leaving the marker behind the sink's file count.
    val b3 = (101 to 120).map(i => (i.toLong, "c")).toDF("k", "v")
    b3.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dir)
    // the writer must detect the stale index, rebuild, and NOT re-append
    // the out-of-band keys (idempotence never trades for the fast probe)
    assert(w.append(b3) == 0,
      "stale sidecar was trusted — torn append broke idempotence")
    assert(spark.read.parquet(dir).count() == 120)
    // rebuilt index is in sync again: next probe accepts genuinely new keys
    val b4 = (115 to 130).map(i => (i.toLong, "d")).toDF("k", "v")
    assert(w.append(b4) == 10)
    assert(spark.read.parquet(dir + ".keys").distinct().count() == 130)
  }

  test("verified write reports zero mismatches for a faithful sink") {
    val docs = Engine.documents(spark, sfDir)
    val (n, ok, bad) = VerifiedWriter.writeVerified(
      spark, docs, tempDir("vw"), "doc_id", "text")
    assert(n == docs.count())
    assert(ok == n)
    assert(bad == 0)
  }
}
