package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Streaming semantics with real file-source streams (SURVEY §5.5, ST1-ST7):
  * watermark-driven late-data drop, checkpointed resume, per-batch pacing.
  * File sources (not MemoryStream) so only public APIs are exercised.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType.fromDDL("ts TIMESTAMP, k STRING, v BIGINT")

  private def writeFile(dir: String, name: String, rows: Seq[(String, String, Long)]): Unit =
    rows.map { case (ts, k, v) => (java.sql.Timestamp.valueOf(ts), k, v) }
      .toDF("ts", "k", "v")
      .coalesce(1).write.mode("append").parquet(dir)

  test("ST1/ST4: append-mode windowed agg drops events behind the watermark") {
    val src = tempDir("wm_src")
    // batch 1: one event in the 10:00 window, one at 12:00 (advances watermark to 11:00)
    writeFile(src, "b1", Seq(("2024-01-01 10:00:10", "a", 1L), ("2024-01-01 12:00:00", "b", 1L)))
    val out = tempDir("wm_out")
    val ck = tempDir("wm_ck")
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select($"w.start".as("w_start"), $"n")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", out)
        .start()
      q.awaitTermination()
    }
    runOnce()
    def emitted(): Map[String, Long] = spark.read.parquet(out)
      .select(date_format($"w_start", "HH:mm").as("w"), $"n").as[(String, Long)]
      .collect().toMap
    // batch 2 (new file, resumed from checkpoint): a LATE event for the
    // 10:00 window (behind the 11:00 watermark) plus a 13:00 event
    writeFile(src, "b2", Seq(("2024-01-01 10:00:20", "late", 1L), ("2024-01-01 13:00:00", "c", 1L)))
    runOnce()
    val afterB2 = emitted()
    // 10:00 window finalized with ONLY the on-time event; late arrival dropped
    assert(afterB2.get("10:00").contains(1L), afterB2.toString)
    // 12:00 window (end 12:10) not yet closed: watermark is only 12:00
    assert(!afterB2.contains("12:00"), afterB2.toString)
    // batch 3 pushes the watermark past 12:10 and closes the 12:00 window
    writeFile(src, "b3", Seq(("2024-01-01 14:00:00", "d", 1L)))
    runOnce()
    val afterB3 = emitted()
    assert(afterB3.get("12:00").contains(1L), afterB3.toString)
  }

  test("ST2: restart from checkpoint does not reprocess absorbed files") {
    val src = tempDir("ck_src")
    writeFile(src, "b1", Seq(("2024-01-01 00:00:00", "x", 1L), ("2024-01-01 00:00:01", "y", 2L)))
    val ck = tempDir("ck_ck")
    val out = tempDir("ck_out")
    def total(): Long = {
      val q = spark.readStream.schema(schema).parquet(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", out)
        .start()
      q.awaitTermination()
      spark.read.parquet(out).count()
    }
    assert(total() == 2)
    assert(total() == 2) // second run: checkpoint says nothing new
    writeFile(src, "b2", Seq(("2024-01-01 00:00:02", "z", 3L)))
    assert(total() == 3) // resume picks up exactly the new file
  }

  test("ST7: dropDuplicatesWithinWatermark keeps one row per key in-window") {
    val src = tempDir("dd_src")
    writeFile(src, "b1", Seq(
      ("2024-01-01 10:00:00", "k1", 1L), ("2024-01-01 10:00:05", "k1", 2L),
      ("2024-01-01 10:00:07", "k2", 3L)))
    val out = tempDir("dd_out")
    val q = spark.readStream.schema(schema).parquet(src)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tempDir("dd_ck"))
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", out)
      .start()
    q.awaitTermination()
    val rows = spark.read.parquet(out).select($"k").as[String].collect().sorted
    assert(rows.toSeq == Seq("k1", "k2"), rows.mkString(","))
  }

  test("custom state: mapGroupsWithState keeps running per-key counts across batches") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val src = tempDir("mgs_src")
    writeFile(src, "b1", Seq(
      ("2024-01-01 00:00:01", "u1", 1L), ("2024-01-01 00:00:02", "u1", 1L),
      ("2024-01-01 00:00:03", "u2", 1L)))
    writeFile(src, "b2", Seq(
      ("2024-01-01 00:01:01", "u1", 1L), ("2024-01-01 00:01:02", "u2", 1L),
      ("2024-01-01 00:01:03", "u3", 1L)))
    val name = s"mgs_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[(java.sql.Timestamp, String, Long)]
      .groupByKey(_._2)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(java.sql.Timestamp, String, Long)],
         state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (key, n)
      }
      .toDF("k", "n")
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName(name)
      .option("checkpointLocation", tempDir("mgs_ck"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // last update per key is the cumulative count across both batches
    val finalCounts = spark.table(name).groupBy($"k").agg(max($"n").as("n"))
      .as[(String, Long)].collect().toMap
    assert(finalCounts == Map("u1" -> 3L, "u2" -> 2L, "u3" -> 1L), finalCounts.toString)
  }

  test("ST6: session windows merge in a real stream run to completion") {
    val src = tempDir("sess_src")
    writeFile(src, "b1", Seq(
      ("2024-01-01 10:00:00", "u1", 1L), ("2024-01-01 10:10:00", "u1", 1L), // one session
      ("2024-01-01 12:00:00", "u1", 1L))) // gap > 30 min: second session
    val name = s"sess_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val q = spark.readStream.schema(schema).parquet(src)
      .groupBy($"k", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"k", $"w.start".as("s_start"), $"n")
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .option("checkpointLocation", tempDir("sess_ck"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val sessions = spark.table(name)
      .select(date_format($"s_start", "HH:mm").as("s"), $"n")
      .as[(String, Long)].collect().toMap
    assert(sessions == Map("10:00" -> 2L, "12:00" -> 1L), sessions.toString)
  }

  test("stream-stream join: matches land across micro-batch boundaries") {
    val clicksDir = tempDir("ssj_clicks")
    val buysDir = tempDir("ssj_buys")
    // click and purchase arrive in DIFFERENT batches for u2: the join state
    // must hold the click until the purchase shows up
    writeFile(clicksDir, "b1", Seq(
      ("2024-01-01 10:00:00", "u1", 1L), ("2024-01-01 10:05:00", "u2", 2L)))
    writeFile(buysDir, "b1", Seq(("2024-01-01 10:02:00", "u1", 10L)))
    writeFile(buysDir, "b2", Seq(("2024-01-01 10:07:00", "u2", 20L)))
    val clicks = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(clicksDir)
      .withWatermark("ts", "1 hour")
      .select($"k".as("c_k"), $"ts".as("c_ts"))
    val buys = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(buysDir)
      .withWatermark("ts", "1 hour")
      .select($"k".as("b_k"), $"ts".as("b_ts"), $"v".as("amount"))
    val out = tempDir("ssj_out")
    val q = clicks.join(buys,
        $"c_k" === $"b_k" && $"b_ts" >= $"c_ts" &&
          $"b_ts" <= $"c_ts" + org.apache.spark.sql.functions.expr("interval 30 minutes"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", tempDir("ssj_ck"))
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", out)
      .start()
    q.awaitTermination()
    val pairs = spark.read.parquet(out)
      .select($"c_k", $"amount").as[(String, Long)].collect().sorted
    assert(pairs.toSeq == Seq(("u1", 10L), ("u2", 20L)), pairs.mkString(","))
  }

  test("ST10: DSv2 micro-batch stream paces by days and resumes from checkpoint") {
    val sink = tempDir("st10s_sink")
    val ckpt = tempDir("st10s_ck")
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    def drain(): Long = {
      batches.set(0L)
      val q = spark.readStream
        .format(classOf[graft.sources.KbSearchSource].getName)
        .option("maxDaysPerTrigger", 40)
        .load()
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          batches.incrementAndGet()
          b.write.mode("append").parquet(sink): Unit
        }
        .start()
      q.awaitTermination()
      batches.get()
    }
    // 91 days at 40/trigger: 40 + 40 + 11
    assert(drain() == 3L)
    val rows = spark.read.parquet(sink)
    assert(rows.count() == 91L * 4)
    assert(rows.select("pub", "day").distinct().count() == 91L * 4,
      "incremental read must not duplicate (pub, day) issues")
    // SAME checkpoint, same source: the cursor is exhausted, nothing replays
    assert(drain() == 0L)
    assert(spark.read.parquet(sink).count() == 91L * 4)
  }

  test("ST5: maxFilesPerTrigger paces ingestion into one batch per file") {
    val src = tempDir("rate_src")
    (1 to 3).foreach(i =>
      writeFile(src, s"b$i", Seq((s"2024-01-01 00:00:0$i", s"k$i", i.toLong))))
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tempDir("rate_ck"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty) batches.incrementAndGet(): Unit
      }
      .start()
    q.awaitTermination()
    assert(batches.get() == 3)
  }

  test("Streams.run rethrows a failed batch and keeps the stream's checkpoint") {
    val src = tempDir("fail_src")
    writeFile(src, "b1", Seq(("2024-01-01 00:00:01", "k1", 1L)))
    val boom = new IllegalStateException("batch failed on purpose")
    val name = s"runfail_${System.nanoTime()}"
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.streaming.Streams.run(spark.readStream.schema(schema).parquet(src), name) {
        (_, _) => throw boom
      }
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_ eq boom), causes.mkString("\n"))
    val tmpDir = new java.io.File(System.getProperty("java.io.tmpdir"))
    assert(tmpDir.listFiles.exists(f => f.isDirectory && f.getName.startsWith(s"ck_$name")))
  }

  test("ST16: dead-letter routing partitions the stream exactly (no loss, no dup)") {
    import spark.implicits._
    val routed = graft.queries.StreamingQ.st16DeadLetter(spark, sfDir)
      .groupBy($"route").agg(org.apache.spark.sql.functions.sum($"n").as("n"))
      .as[(String, Long)].collect().toMap
    val total = Engine.events(spark, sfDir).count()
    assert(routed.values.sum == total,
      s"routed ${routed.values.sum} of $total rows: $routed")
    assert(routed.keySet == Set("accepted", "quarantined"))
    assert(routed.values.forall(_ > 0))
  }

  test("ST17: streaming near-dedup keeps history, drops near-dups, admits novel text") {
    import spark.implicits._
    val kept = graft.queries.StreamingQ.st17StreamingNeardup(spark, sfDir)
      .as[(Long, String)].collect().map(_._1)
    val nDocs = Engine.documents(spark, sfDir).count()
    val nProbes = Engine.documents(spark, sfDir)
      .filter($"doc_id" % 5 === 0).count()
    val originals = kept.count(_ < 1000000L)
    val perturbed = kept.count(id => id >= 1000000L && id < 2000000L)
    val reversed = kept.count(_ >= 2000000L)
    assert(originals == nDocs, "batch 1 must be kept in full (empty index)")
    assert(perturbed <= nProbes / 10,
      s"near-dup perturbations must be dropped against the index, kept $perturbed of $nProbes")
    assert(reversed >= nProbes * 9 / 10,
      s"token-reversed docs have disjoint shingles and must survive, kept $reversed of $nProbes")
  }

  test("ST17: a replayed micro-batch is idempotent, never self-deduped") {
    import spark.implicits._
    val docs = Engine.documents(spark, sfDir).select($"doc_id", $"lang", $"text")
    val b0 = docs.filter($"doc_id" < 50)
    val b1 = docs.filter($"doc_id" >= 50 && $"doc_id" < 100)
    val sink = tempDir("st17r_sink")
    val idx = tempDir("st17r_idx")
    graft.queries.StreamingQ.st17ProcessBatch(b0, 0L, sink, idx)
    graft.queries.StreamingQ.st17ProcessBatch(b1, 1L, sink, idx)
    def batchRows(n: Int): Set[Long] =
      spark.read.parquet(s"$sink/batch_id=$n").select($"doc_id")
        .as[Long].collect().toSet
    val (r0, r1) = (batchRows(0), batchRows(1))
    assert(r0.nonEmpty && r1.nonEmpty)
    // replay both batches (crash-after-write, before checkpoint commit):
    // each must overwrite itself with IDENTICAL contents — before the
    // batch_id fence on the index read, a replayed batch matched its own
    // previously written bands and emptied its own output
    graft.queries.StreamingQ.st17ProcessBatch(b1, 1L, sink, idx)
    assert(batchRows(1) == r1, "replayed batch 1 must reproduce itself")
    graft.queries.StreamingQ.st17ProcessBatch(b0, 0L, sink, idx)
    assert(batchRows(0) == r0, "replayed batch 0 must reproduce itself")
  }

  test("ST19: streamed left-outer join equals the batch left join, nulls included") {
    import spark.implicits._
    val streamed = graft.queries.StreamingQ.st19OuterJoin(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted
    val ev = Engine.events(spark, sfDir).filter($"user_id" % 4 === 0)
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("p_id"), $"ts".as("p_ts"))
    val c = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts"))
    val batch = p.join(c, $"user_id" === $"c_user" &&
        $"c_ts" >= $"p_ts" - org.apache.spark.sql.functions.expr("interval 1 hour") &&
        $"c_ts" <= $"p_ts", "left_outer")
      .select($"user_id", $"p_id", $"c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted
    assert(streamed.sameElements(batch),
      s"streamed ${streamed.length} rows != batch ${batch.length}")
    // the outer path must actually be exercised: unmatched purchases exist
    assert(streamed.exists(_._3 == -1L), "no null-extended rows — outer semantics untested")
    assert(streamed.exists(_._3 != -1L), "no matched rows")
  }

  test("ST22: streamed full-outer join equals the batch full join, both null sides present") {
    import spark.implicits._
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0),
      if (r.isNullAt(1)) -1L else r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))
    val streamed = graft.queries.StreamingQ.st22StreamFullOuter(spark, sfDir)
      .collect().map(key).sorted
    val ev = Engine.events(spark, sfDir).filter($"user_id" % 4 === 0)
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("p_id"), $"ts".as("p_ts"))
    val c = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts"))
    val batch = p.join(c, $"user_id" === $"c_user" &&
        $"c_ts" >= $"p_ts" - org.apache.spark.sql.functions.expr("interval 1 hour") &&
        $"c_ts" <= $"p_ts", "full_outer")
      .select(coalesce($"user_id", $"c_user").as("uid"), $"p_id", $"c_id")
      .collect().map(key).sorted
    assert(streamed.sameElements(batch),
      s"streamed ${streamed.length} rows != batch ${batch.length}")
    // BOTH outer paths must be exercised — that is what full-outer adds
    assert(streamed.exists(_._3 == -1L), "no unmatched purchases")
    assert(streamed.exists(_._2 == -1L),
      "no unmatched clicks — the right-outer half is untested")
    assert(streamed.exists(r => r._2 != -1L && r._3 != -1L), "no matched rows")
  }

  test("ST23: observed metrics arrive per micro-batch and total exactly") {
    import spark.implicits._
    val perBatch = graft.queries.StreamingQ.st23BatchMetrics(spark, sfDir)
    // pacing (4 staged files, 2 per trigger) must yield metrics from
    // MULTIPLE batches — otherwise the partial-sum invariant is untested
    assert(perBatch.length >= 2, s"only ${perBatch.length} metric batches")
    assert(perBatch.forall(_._1 > 0), "a data batch reported zero rows")
    val expected = Engine.events(spark, sfDir).select(
        count(lit(1)),
        sum(floor($"value" * 100).cast("long")),
        sum(($"value" > 100).cast("long")))
      .as[(Long, Long, Long)].head()
    val totals = perBatch.foldLeft((0L, 0L, 0L)) { (a, m) =>
      (a._1 + m._1, a._2 + m._2, a._3 + m._3)
    }
    assert(totals == expected,
      s"per-batch partials $totals != batch aggregate $expected")
  }

  test("ST20: timeout-emitted sessions equal batch sessionization exactly") {
    import spark.implicits._
    val streamed = graft.queries.StreamingQ.st20TimeoutSessions(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted
    // batch ground truth: 30-min-gap sessionize of the same key subset
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"us", $"event_id")
    val batch = Engine.events(spark, sfDir).filter($"user_id" % 4 === 0)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"))
      .withColumn("is_new",
        when(lag($"us", 1).over(w).isNull ||
          $"us" - lag($"us", 1).over(w) > 30L * 60 * 1000 * 1000, 1L).otherwise(0L))
      .withColumn("sid", sum($"is_new").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy($"user_id", $"sid")
      .agg(min($"us").as("start_us"), max($"us").as("end_us"),
        count(lit(1)).as("n_events"))
      .select($"user_id", $"start_us", $"end_us", $"n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted
    assert(streamed.sameElements(batch),
      s"streamed ${streamed.length} sessions != batch ${batch.length}")
    // the split path must be real: some user has more than one session
    assert(streamed.groupBy(_._1).exists(_._2.length > 1),
      "every user produced one session — the gap split was never exercised")
  }

  test("ST18: Misra-Gries stream sketch honors the frequency-error guarantees") {
    import spark.implicits._
    val est = graft.queries.StreamingQ.st18StreamHeavyHitters(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    val truth = Engine.events(spark, sfDir)
      .groupBy($"user_id".cast("long").as("u")).count()
      .as[(Long, Long)].collect().toMap
    val n = truth.values.sum
    val bound = n / 17 // k = 16: merged shards underestimate by <= n/(k+1)
    assert(est.nonEmpty)
    est.foreach { case (u, e) =>
      val t = truth(u)
      assert(e <= t, s"MG must never overcount: user $u est $e > true $t")
      assert(t - e <= bound, s"user $u err ${t - e} beyond bound $bound")
    }
    val guaranteed = truth.filter(_._2 > bound).keySet
    assert(guaranteed.subsetOf(est.keySet),
      s"heavy users ${guaranteed -- est.keySet} above n/(k+1)=$bound missing")
    // the row-count ENVELOPE: emission is arrival-order-dependent (the
    // register documents run-to-run row-count variance), but each of the
    // 4 shards holds at most k=16 counters, so the merged sketch can
    // never exceed 64 rows — a pathological emission cannot hide behind
    // "arrival-order-dependent"
    assert(est.size <= 64, s"sketch emitted ${est.size} rows > shards*k = 64")
  }

  test("staged event files are admitted in part order, one per time") {
    // the file source admits files by modification time; pinned times make
    // every run split the staged rows into the same micro-batches. Every
    // file-stream source is staged by Streams.stage: a flat directory of
    // part-<i>.parquet files whose times rise with i
    import graft.queries.StreamingQ._
    val staged = Seq(
      "events" -> (graft.streaming.Streams.stageEvents(spark, sfDir), 4),
      "st7b" -> (stageSt7b(spark, sfDir), 2),
      "st15" -> (stageSt15(spark, sfDir), 2),
      "st17" -> (stageSt17(spark, sfDir), 2),
      "st19" -> (stageSt19(spark, sfDir), 3),
      "st21" -> (stageSt21(spark, sfDir), 2),
      "st28" -> (stageSt28(spark, sfDir), 2))
    for ((name, (dir, n)) <- staged) {
      val entries = new java.io.File(dir).listFiles.toSeq
      assert(entries.forall(_.isFile), s"$name: not flat: ${entries.map(_.getName)}")
      val files = (0 until n).map(i => new java.io.File(dir, s"part-$i.parquet"))
      assert(entries.filterNot(_.getName.startsWith(".")).map(_.getName).sorted ==
        files.map(_.getName).sorted, name)
      val times = files.map(_.lastModified)
      assert(times.zip(times.tail).forall { case (a, b) => a < b }, s"$name: $times")
    }
  }

  test("ST18: two runs on fresh checkpoints return the same sketch") {
    // both runs read the same staged files from fresh checkpoints, so their
    // micro-batches hold the same rows; only the order the shuffle delivers
    // a batch's rows in may differ, and the sketch applies them in event_id
    // order
    def run(): Seq[String] = graft.queries.StreamingQ.st18StreamHeavyHitters(spark, sfDir)
      .collect().map(_.toString).toSeq.sorted
    val first = run()
    val second = run()
    assert(first.nonEmpty)
    assert(first == second, s"${first.size} rows, then ${second.size} rows")
  }

  test("ST21: SCD2 merge extends/closes correctly and a replayed batch is a no-op") {
    import spark.implicits._
    val sink = tempDir("st21_test")
    val merge = graft.queries.StreamingQ.scd2MergeBatch(spark, sink, nBuckets = 4) _
    // batch 0: u1 has a run of 'a' then 'b' (open); u2 a single open 'a'
    val b0 = Seq(
      (1L, "a", 100L, 1L), (1L, "a", 200L, 2L), (1L, "b", 300L, 3L),
      (2L, "a", 150L, 4L)).toDF("user_id", "event_type", "us", "event_id")
    // batch 1 (later event time): u1 continues 'b' (EXTEND) then changes
    // to 'c' (CLOSE + land); u2 changes to 'b' (CLOSE + land); u3 is new
    val b1 = Seq(
      (1L, "b", 400L, 5L), (1L, "c", 500L, 6L),
      (2L, "b", 450L, 7L),
      (3L, "a", 420L, 8L)).toDF("user_id", "event_type", "us", "event_id")
    merge(b0, 0L)
    merge(b1, 1L)
    def snap() = spark.read.parquet(sink)
      .select($"user_id", $"event_type", $"valid_from_us", $"valid_to_us", $"n_events")
      .collect().map(_.toString).sorted.toSeq
    val after = snap()
    // u1: a[100,300) n=2 · b[300,500) n=2 (extended across the batch
    // boundary, counts merged) · c[500,∞) n=1
    val expected = Seq(
      (1L, "a", 100L, Some(300L), 2L), (1L, "b", 300L, Some(500L), 2L),
      (1L, "c", 500L, None, 1L),
      (2L, "a", 150L, Some(450L), 1L), (2L, "b", 450L, None, 1L),
      (3L, "a", 420L, None, 1L))
      .map { case (u, t, f, to, n) =>
        org.apache.spark.sql.Row(u, t, f, to.orNull, n).toString }
      .sorted
    assert(after == expected, s"merge result\n$after\nvs expected\n$expected")
    // replay batch 1 (crash-recovery path): bucket fence must make it a no-op
    merge(b1, 1L)
    assert(snap() == after, "replayed batch changed the sink — fence failed")
    // replay batch 0 out of order (stale retry): also fenced
    merge(b0, 0L)
    assert(snap() == after, "stale batch replay changed the sink")
  }

  test("ST20: run-compressed segment state matches the sorted gap split and stays O(components)") {
    val gap = 30L
    val rnd = new scala.util.Random(42)
    // reference: sort, split at consecutive diff > gap -> (start, end, n)
    def reference(ts: Seq[Long]): Set[(Long, Long, Long)] = {
      val s = ts.sorted
      val groups = s.tail.foldLeft(List(List(s.head))) { (acc, t) =>
        if (t - acc.head.head <= gap) (t :: acc.head) :: acc.tail
        else List(t) :: acc
      }
      groups.map(g => (g.last, g.head, g.length.toLong)).toSet
    }
    for (trial <- 1 to 200) {
      // clustered timestamps so multi-event sessions AND multi-session
      // users both occur; then a random ARRIVAL order (the property the
      // incremental merge must be invariant to)
      val nClusters = 1 + rnd.nextInt(4)
      val ts = (0 until nClusters).flatMap { c =>
        val base = c * 1000L
        (0 until 1 + rnd.nextInt(6)).map(_ => base + rnd.nextInt(80))
      }
      val arrival = rnd.shuffle(ts)
      val segs = arrival.foldLeft(List.empty[(Long, Long, Long)]) {
        (acc, t) => graft.queries.StreamingQ.mergeSegment(acc, t, gap)
      }
      val ref = reference(ts)
      assert(segs.toSet == ref,
        s"trial $trial: incremental $segs != reference $ref (arrival $arrival)")
      // the bounded-state contract: state size is the component count,
      // never the event count
      assert(segs.length == ref.size,
        s"trial $trial: ${segs.length} segments for ${ref.size} components")
    }
    // pathological always-active key: 10k events, every consecutive pair
    // within the gap -> exactly ONE constant-size segment, where the old
    // List[Long] buffer held all 10k micros
    val busy = (0 until 10000).map(i => i * 5L)
    val busySegs = rnd.shuffle(busy.toList)
      .foldLeft(List.empty[(Long, Long, Long)]) {
        (acc, t) => graft.queries.StreamingQ.mergeSegment(acc, t, gap)
      }
    assert(busySegs == List((0L, 49995L, 10000L)),
      s"always-active key must compress to one segment, got $busySegs")
  }

  test("ST24: streaming drift equals the batch split, state bounded by the bucket key") {
    import spark.implicits._
    val out = graft.queries.StreamingQ.st24StreamingDrift(spark, sfDir).collect()
    // bounded-state contract: the histogram key space caps the aggregate
    // (and with it the streaming state) at <= 10 rows regardless of volume
    assert(out.length <= 10 && out.nonEmpty, s"${out.length} buckets")
    // both sides are full distributions: ppm columns each total ~1e6
    // (short only by the per-bucket integer-division remainders)
    val refPpm = out.map(_.getLong(3)).sum
    val candPpm = out.map(_.getLong(4)).sum
    assert(refPpm > 999900L && refPpm <= 1000000L, s"ref ppm total $refPpm")
    assert(candPpm > 999900L && candPpm <= 1000000L, s"cand ppm total $candPpm")
    // equals the pure-batch formulation of the same split exactly
    val ev = Engine.events(spark, sfDir)
    def bucket(c: org.apache.spark.sql.Column) =
      least(floor(c / 50.0), lit(9.0)).cast("long")
    val split = lit("2024-01-16").cast("timestamp")
    val batch = graft.queries.Llm.driftFromCounts(
      ev.select(bucket($"value").as("bucket"),
          when($"ts" < split, 1L).otherwise(0L).as("is_ref"))
        .groupBy($"bucket")
        .agg(sum($"is_ref").as("ref_n"),
          sum(lit(1L) - $"is_ref").as("cand_n")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(5))).toMap
    val streamed = out.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(5))).toMap
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }

  test("ST25: the streaming baseline gate reproduces w21's batch answer row-for-row") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6))
    val streamed = graft.queries.StreamingQ
      .st25StreamingBaselineGate(spark, sfDir).collect().map(key).toSet
    val batch = graft.queries.Relational
      .w21SeasonalBaseline(spark, sfDir).collect().map(key).toSet
    assert(streamed == batch,
      s"stream/batch divergence: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("ST27: auto-compaction bounds the file count without losing or duplicating a row") {
    import spark.implicits._
    // the query's own require() enforces the file bound; this pins content
    val out = graft.queries.StreamingQ.st27AutoCompaction(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val expect = Engine.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out == expect, s"swap lost/duplicated rows: $out vs $expect")
  }

  test("ST26: the stream-static PIT enrichment equals the batch window-carry formulation") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val streamed = graft.queries.StreamingQ
      .st26StreamingPitEnrich(spark, sfDir).collect().map(key).toSet
    val batch = graft.queries.Relational
      .j15PitFeatureJoin(spark, sfDir).collect().map(key).toSet
    assert(streamed == batch,
      s"divergence: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("ST28: the incrementally-maintained index scores identically to batch " +
    "BM25 and was built from per-batch deltas") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val (result, hitsSink, totalsSink) = graft.queries.StreamingQ
      .st28StreamingIndexWithState(spark, sfDir)
    val streamed = result.collect().map(key).toSet
    val batch = graft.queries.Llm
      .l66Bm25Retrieval(spark, sfDir).collect().map(key).toSet
    assert(streamed == batch,
      s"divergence: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    assert(streamed.nonEmpty)
    // the incremental contract: state accrued as one delta per
    // micro-batch (2 totals rows), and the accumulated postings carry no
    // replay duplicates — each (doc, token) hit appears exactly once
    val totals = spark.read.parquet(totalsSink)
    assert(totals.count() == 2, "expected one corpus-stat delta per batch")
    val hits = spark.read.parquet(hitsSink)
    assert(hits.count() ==
      hits.select("doc_id", "token").distinct().count(),
      "replayed/duplicated postings in the index state")
    // and both id-parity halves contributed — the index really was built
    // across batches, not in one
    import spark.implicits._
    assert(hits.select(($"doc_id" % 2).as("h")).distinct().count() == 2)
  }

  test("ST26: the large-dim fallback (broadcast gate = 0) takes the shuffled " +
    "stream-static path and produces the identical row set") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val shuffled = graft.queries.StreamingQ
      .st26StreamingPitEnrich(spark, sfDir, broadcastMaxBytes = 0L)
      .collect().map(key).toSet
    val batch = graft.queries.Relational
      .j15PitFeatureJoin(spark, sfDir).collect().map(key).toSet
    assert(shuffled == batch,
      s"divergence: ${(shuffled diff batch).take(3)} vs ${(batch diff shuffled).take(3)}")
    assert(shuffled.nonEmpty)
  }
}
