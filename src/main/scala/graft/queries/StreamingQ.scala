package graft.queries

import graft.Engine._
import graft.sinks.IncrementalWriter
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types.DecimalType

/** Streaming semantics (SURVEY §2.9 ST1-ST7 and the st8-st28 extensions).
  * The `st*` streams are REAL Structured Streaming queries (readStream →
  * stateful agg / join / foreachBatch → sink) whose final state is
  * deterministic, so even the streaming path is oracle-checked. Each
  * query builds its stream (session, output mode, pacing, batch body) and
  * hands it to [[graft.streaming.Streams.run]] or its parquet/archive-sink
  * variants, which own the run policy: a `ck_<name>` checkpoint,
  * `Trigger.AvailableNow`, start, and an await that rethrows a failed
  * batch. Sinks a stream wrote are read back through [[graft.Engine.parquet]].
  * Window semantics (tumbling/sliding/session) additionally run in batch
  * mode — same operators, same results — for the DuckDB comparison.
  */
object StreamingQ {

  /** ST1: tumbling 1-day window (the per-day slices of main.yml:79-80). */
  def st1Tumbling(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy(window($"ts", "1 day").as("w"))
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select($"w.start".as("w_start"), $"n", $"sum_value")
  }

  /** ST2: checkpointed streaming aggregation run to completion — real
    * readStream → window agg → foreachBatch parquet snapshots (complete
    * mode, last snapshot wins). No memory sink: the result never buffers
    * on the driver, so the registered pattern holds when the aggregate is
    * large at 100 TB scale. */
  def st2CheckpointedAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = Streams.stageEvents(spark, dir)
    val schema = parquet(spark, staged).schema
    // 2 files per trigger → 2 micro-batches: enough to prove checkpointed
    // cross-batch aggregation while halving state-store commit rounds.
    // ~30 day windows of state: 8 state partitions (= 16 store commits over
    // 2 batches), not the batch default's 64 — same sizing rule as st12/st13
    val agg = Streams.eventsStream(Streams.stateSession(spark, 8), staged, schema, 2)
      .groupBy(window($"ts", "1 day").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("w_start"), $"n")
    parquet(spark, Streams.runToParquet(agg, "st2", "complete")._1)
  }

  /** ST3: exactly-once-style sink — streaming foreachBatch into the
    * idempotent IncrementalWriter; replaying the whole stream appends 0
    * (mirrors skip-if-exists + state, :462-465, scraper_state.json). */
  def st3ForeachBatchIdempotent(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = Streams.stageEvents(spark, dir)
    val schema = parquet(spark, staged).schema
    val sink = tempDir("st3_sink")
    val writer = new IncrementalWriter(spark, sink, Seq("event_id"))
    val appended = new java.util.concurrent.atomic.AtomicLong(0L)
    def runOnce(): Long = {
      appended.set(0L)
      Streams.run(Streams.eventsStream(spark, staged, schema, 2), "st3") { (batch, _) =>
        appended.addAndGet(writer.append(batch)): Unit
      }
      appended.get()
    }
    val first = runOnce()
    val second = runOnce() // fresh checkpoint, same data: anti-join absorbs it
    Seq((1L, first), (2L, second)).toDF("run", "appended")
  }

  /** ST4: late/failed-data reprocessing — the retry-failed op: days marked
    * failed in the state map are re-driven against the source
    * (main.yml:18-23, README.md:80). */
  def st4LateReprocess(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val failedDays = Sources.s4StateSource(spark, dir)
      .filter($"status" === "failed")
      .select(to_date($"day").as("day"))
    events(spark, dir)
      .groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("n_events"))
      .join(failedDays, Seq("day"))
  }

  /** ST5: rate-limited ingestion — maxFilesPerTrigger=1 over 4 staged files
    * must yield exactly 4 micro-batches (pacing, :495 + main.yml:94). */
  def st5RatePaced(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = Streams.stageEvents(spark, dir)
    val schema = parquet(spark, staged).schema
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val rows = new java.util.concurrent.atomic.AtomicLong(0L)
    Streams.run(Streams.eventsStream(spark, staged, schema, 1), "st5") { (batch, _) =>
      batches.incrementAndGet()
      rows.addAndGet(batch.count()): Unit
    }
    Seq((batches.get(), rows.get())).toDF("n_batches", "n_rows")
  }

  /** ST6a: sliding window (10 min length, 5 min slide). */
  def st6Sliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy(window($"ts", "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("w_start"), $"n")
  }

  /** ST6b: session window (30 min gap) per user. */
  def st6Session(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"w.start".as("s_start"), $"n")
  }

  /** ST7: stateful stream dedup — dropDuplicates on the dedup key; batch
    * analog of dropDuplicatesWithinWatermark (watermark variant exercised
    * in the MemoryStream test suite). */
  def st7StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .select($"user_id", $"event_type")
      .dropDuplicates("user_id", "event_type")
  }

  /** Staged two-file stream for [[st7bWatermarkDedup]]. File 0 = all
    * event keys plus a planted probe key (-1,'dup') at a timestamp past
    * the data range; file 1 = two duplicates: the probe key again (lands
    * INSIDE the watermark → must be deduped by state) and the
    * lexicographically-first real key at the data's start (far BELOW the
    * watermark after file 0 → must be dropped as late). One file per
    * micro-batch under maxFilesPerTrigger=1, in that order. */
  private[graft] def stageSt7b(spark: SparkSession, dir: String): String =
    Streams.stage(spark, "st7b_src", dir) {
      import spark.implicits._
      val keyed = events(spark, dir).select($"user_id", $"event_type", $"ts")
      val probe = Seq(Tuple1(-1L)).toDF("user_id")
        .select($"user_id", lit("dup").as("event_type"),
          to_timestamp(lit("2024-02-01 00:00:00")).as("ts"))
      val lateDup = keyed.orderBy($"user_id", $"event_type").limit(1)
        .select($"user_id", $"event_type",
          to_timestamp(lit("2024-01-01 00:00:00")).as("ts"))
      Seq(keyed.union(probe).repartition(1), lateDup.union(probe).repartition(1))
    }

  /** ST7b: watermarked streaming dedup — the real §2 ST7 shape:
    * withWatermark + dropDuplicatesWithinWatermark over a 2-batch file
    * stream. Batch A emits each key once; batch B replays the probe key
    * inside the watermark (absorbed by dedup state) and a real key below
    * the watermark (dropped as late), so the final appended output is
    * exactly DISTINCT(event keys) + the probe key — deterministic and
    * oracle-checkable. Sink is foreachBatch→parquet append: no driver-side
    * buffering, the same shape that scales to an unbounded key space with
    * state in the checkpoint. */
  def st7bWatermarkDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stageSt7b(spark, dir)
    // dedup state is ~(users × types) keys at fixture SF: 8 state
    // partitions instead of the batch default's 32 — the st2/st8/st13 rule
    val deduped = Streams.eventsStream(
        Streams.stateSession(spark, 8), staged, parquet(spark, staged).schema, 1)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select($"user_id", $"event_type")
    parquet(spark, Streams.runToParquet(deduped, "st7b")._1)
  }

  /** ST8: custom keyed state — mapGroupsWithState running per-user counts,
    * run to completion over the 4-file staged stream. Each batch emits the
    * cumulative count for every user present in that batch; the final
    * answer per user is their LAST emission (the emission after the last
    * batch containing that user), which equals the total count regardless
    * of how files split into micro-batches — so the registered result is
    * deterministic and oracle-checkable. State lives in the checkpoint
    * (per-key long), the sink is foreachBatch→parquet: nothing buffers on
    * the driver at any key cardinality. */
  def st8StatefulCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = Streams.stageEvents(spark, dir)
    val schema = parquet(spark, staged).schema
    val out = tempDir("st8_out")
    // ~100 distinct users at fixture SF: 8 state partitions, not the batch
    // default (the state partition count locks in when the first batch plans)
    val counts = Streams.eventsStream(Streams.stateSession(spark, 8), staged, schema, 2)
      .select($"user_id").as[Long]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (user, n)
      }
      .toDF("user_id", "n_events")
    Streams.run(counts, "st8", "update") { (batch, batchId) =>
      batch.withColumn("batch_id", lit(batchId))
        .write.mode(SaveMode.Append).parquet(out)
    }
    val w = Window.partitionBy($"user_id").orderBy($"batch_id".desc)
    parquet(spark, out)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"n_events")
  }

  /** ST9: stream-stream interval join — purchases joined to the same
    * user's clicks in the preceding hour, both sides real file streams
    * with watermarks. The watermark delay (40 days) exceeds the fixture's
    * whole time range, so no join state is ever evicted and the appended
    * output is exactly the batch join result — deterministic across any
    * micro-batch split. At production scale the same query runs with a
    * tight watermark so state stays bounded; the fixture setting only
    * widens retention, not semantics. */
  def st9StreamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = Streams.stageEvents(spark, dir)
    val schema = parquet(spark, staged).schema
    // 2 state partitions — MEASURED optimum, not a guess (r10 sweep at
    // sf0.1, min of 2 samples: 2→2.83-2.88 s, 4→3.13-3.25, 8→3.84,
    // 16→4.35; 2 still wins at the 10x sf1 dataset, 2.63 vs 2.86): each
    // partition is TWO join-state stores committing every micro-batch, so
    // commit cycles dominate the bounded %4 key subset's tiny per-batch
    // work at any fixture scale. At production volume the same query
    // retunes partitions to real key cardinality (the store-commit vs
    // addBatch-parallelism tradeoff flips once batches carry real data —
    // st19's measured optimum is 4 for exactly that reason).
    val ss = Streams.stateSession(spark, 2)
    // bounded key subset (user_id % 4 = 0): join-state size, not semantics —
    // proportional at any SF, and the oracle applies the same predicate
    val purchases = Streams.eventsStream(ss, staged, schema, 2)
      .filter($"event_type" === "purchase" && $"user_id" % 4 === 0)
      .select($"user_id", $"event_id".as("p_id"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "40 days")
    val clicks = Streams.eventsStream(ss, staged, schema, 2)
      .filter($"event_type" === "click" && $"user_id" % 4 === 0)
      .select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "40 days")
    val joined = purchases.join(clicks,
        $"user_id" === $"c_user" &&
          $"c_ts" >= $"p_ts" - expr("interval 1 hour") && $"c_ts" <= $"p_ts")
      .select($"user_id", $"p_id", $"c_id")
    parquet(spark, Streams.runToParquet(joined, "st9")._1)
  }

  /** ST10: incremental harvest through the DSv2 connector's micro-batch
    * stream ([[graft.sources.KbSearchMicroBatchStream]]): the day cursor is
    * the checkpointed streaming offset, `maxDaysPerTrigger=10` is the
    * per-run window (main.yml:77-95 processes bounded day-windows per
    * run), and `Trigger.AvailableNow` drains the 91-day quarter in exactly
    * ceil(91/10) = 10 micro-batches, each appended to the sink. The final
    * per-pub totals must equal what one batch read of the source yields —
    * incrementality changes the schedule, never the data. */
  def st10Dsv2Incremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sink = tempDir("st10_sink")
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val harvest = spark.readStream
      .format(classOf[graft.sources.KbSearchSource].getName)
      .option("maxDaysPerTrigger", 10)
      .load()
    Streams.run(harvest, "st10") { (batch, _) =>
      batches.incrementAndGet()
      batch.write.mode(SaveMode.Append).parquet(sink): Unit
    }
    parquet(spark, sink)
      .groupBy($"pub")
      .agg(count(lit(1)).as("n_issues"),
        sum($"n_pages".cast("long")).as("total_pages"))
      .withColumn("n_batches", lit(batches.get()))
  }

  /** ST11: the reference pipeline end-to-end as pure connector code —
    * incremental harvest from the DSv2 search stream INTO the DSv2 archive
    * sink. Each micro-batch (30 days) lands as one verified, epoch-fenced
    * archive commit ([[graft.sources.KbArchiveStreamingWrite]]); after the
    * AvailableNow drain the archive's data files and manifest must both
    * hold exactly one copy of every issue in the quarter. */
  def st11StreamToArchive(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tempDir("st11_archive")
    val issues = spark.readStream
      .format(classOf[graft.sources.KbSearchSource].getName)
      .option("maxDaysPerTrigger", 30)
      .load()
      .select($"issue_id".as("key"),
        concat_ws(",", $"pub", $"day".cast("string"), $"n_pages".cast("string"))
          .as("payload"))
    Streams.runToArchive(issues, "st11", out)
    val manifestRows = graft.sources.KbArchive.readManifest(out).map(_.rows).sum
    spark.read.text(out)
      .select(split(split($"value", "\t")(1), ",")(0).as("pub"))
      .groupBy($"pub").agg(count(lit(1)).as("n_issues"))
      .withColumn("manifest_rows", lit(manifestRows))
  }

  /** ST12: offline state-store inspection — the checkpointed aggregation
    * state read back as a TABLE via Spark's state data source (the ops
    * surface for debugging a stuck 100 TB streaming job: inspect exactly
    * what the state stores hold without touching the running query). The
    * windowed counts recovered from state must equal the per-day counts
    * computed from the raw events — state is not an opaque blob, it is
    * queryable data. */
  def st12StateStoreRead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = Streams.stageEvents(spark, dir)
    val schema = parquet(spark, staged).schema
    // ~90 distinct day windows: 8 state partitions, not the batch default
    // (each partition is a state-store instance committed per batch)
    val agg = Streams.eventsStream(Streams.stateSession(spark, 8), staged, schema, 2)
      .groupBy(window($"ts", "1 day").as("w"))
      .agg(count(lit(1)).as("n"))
    val (_, ck) = Streams.runToParquet(agg, "st12", "complete")
    spark.read.format("statestore").load(ck)
      .select($"key.window.start".as("w_start"), $"value.count".as("n"))
  }

  /** ST13: per-key running aggregates on the NEW arbitrary-state API
    * (`transformWithState`, Spark 4) — typed ValueState slots on the
    * RocksDB store instead of mapGroupsWithState's single state object
    * (st8 keeps the classic API for comparison). Update-mode emissions are
    * cumulative, so the max over all emissions per key is the final
    * total, which must equal the batch truth. */
  def st13TransformWithState(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = Streams.stageEvents(spark, dir)
    val schema = parquet(spark, staged).schema
    // a RocksDB instance per state partition per batch, and each instance
    // costs an open/commit cycle (~0.5 s of native setup at any data
    // size): size to the key cardinality (~100 users at fixture SF), not
    // the batch default — 32 partitions × 2 batches = 64 cycles, 4 ⇒ 8,
    // with 25 keys per store. A 100 TB deployment inverts the math (keys
    // ≫ cycle overhead) and sizes partitions UP for state volume.
    val running = Streams.eventsStream(
        Streams.stateSession(spark, 4, rocksDb = true), staged, schema, 2)
      .select($"user_id".as[Long], $"value".as[Double])
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.CountMaxProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "n_events", "max_value")
    parquet(spark, Streams.runToParquet(running, "st13", "update")._1).groupBy($"user_id")
      .agg(max($"n_events").as("n_events"), max($"max_value").as("max_value"))
  }

  /** ST14: stream-static enrichment join — each micro-batch of the event
    * stream joins a dimension table at rest (customer → segment) with NO
    * streaming state: the static side is re-planned per batch and, being
    * small, broadcasts, so the stream is never shuffled for the lookup —
    * the standard enrichment shape at 100 TB (st9 covers the stateful
    * stream-STREAM case). AvailableNow delivers every input row exactly
    * once across batches, so the appended output equals the batch join —
    * which is the oracle. */
  def st14StreamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = Streams.stageEvents(spark, dir)
    val schema = parquet(spark, staged).schema
    val dim = customer(spark, dir).select($"c_custkey", $"c_mktsegment")
    val enriched = Streams.eventsStream(spark, staged, schema, 2)
      .join(dim, $"user_id" === $"c_custkey")
      .select($"event_id", $"c_mktsegment", $"value")
    parquet(spark, Streams.runToParquet(enriched, "st14")._1)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 2))).cast("double").as("sum_value"))
  }

  /** ST15: incremental curation — the corpus build (l28's shape) run as a
    * checkpointed stream with CONTENT-level dedup against the sink itself:
    * each micro-batch passes the quality gate, then the IncrementalWriter
    * anti-joins on the content digest before appending — so duplicates are
    * dropped across batches against ALL history, not just watermarked
    * stream state (st7b). That is the pattern for a corpus that outlives
    * any one stream: state = the sink, no checkpoint retention window.
    * The writer runs with `keyIndex = true`: the probe anti-joins the
    * key SIDECAR (`<sink>.keys`, key-sorted + bloom-filtered), so the
    * per-batch dedup cost scales with the key set, never with re-scanning
    * the full corpus data — the 100 TB upgrade the r7 plan audit called
    * for (crash-torn appends rebuild the sidecar, never double-append).
    * The staged source plants a full duplicate copy of every doc under
    * shifted ids, split deterministically so each batch carries one copy;
    * kept-per-language counts and token totals are copy-invariant, hence
    * oracle-checkable. */
  private[graft] def stageSt15(spark: SparkSession, dir: String): String =
    Streams.stage(spark, "st15_src", dir) {
      import spark.implicits._
      val docs = documents(spark, dir).select($"doc_id", $"lang", $"text")
      // one copy per file => one copy per micro-batch: the second batch's
      // rows are ALL content-duplicates of the first and must append 0 rows
      Seq(docs.repartition(1),
        docs.select(($"doc_id" + 1000000).as("doc_id"), $"lang", $"text").repartition(1))
    }

  def st15StreamingCuration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = split($"text", " ")
    val staged = stageSt15(spark, dir)
    // one level down, so the writer's `<sink>.keys` sidecar is inside the
    // temp dir and goes with it
    val sink = s"${tempDir("st15_sink")}/sink"
    val writer = new IncrementalWriter(spark, sink, Seq("content_key"), keyIndex = true)
    val gated = Streams.eventsStream(spark, staged, parquet(spark, staged).schema, 1)
      .select($"doc_id", $"lang", $"text",
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_uniq"))
      .filter($"n_tokens" >= 20 && $"n_uniq".cast("double") / $"n_tokens" >= 0.3)
      .withColumn("content_key", md5($"text".cast("binary")))
    Streams.run(gated, "st15") { (batch, _) => writer.append(batch): Unit }
    parquet(spark, sink)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"), sum($"n_tokens").as("total_tokens"))
  }

  /** Time-split 2-batch staging for st21: batch 0 = events strictly before
    * the (min+max)/2 micro midpoint, batch 1 = the rest — the
    * append-in-event-time arrival every warehouse CDC/ingest feed
    * guarantees, which is the precondition for merge-style SCD2 (an
    * out-of-order split like st19's would demand retraction, a different
    * op). One file per half, replayed in time order. */
  private[graft] def stageSt21(spark: SparkSession, dir: String): String =
    Streams.stage(spark, "st21_src", dir) {
      import spark.implicits._
      val ev = events(spark, dir)
        .select($"user_id", $"event_type", unix_micros($"ts").as("us"), $"event_id")
      val mm = ev.agg(min($"us"), max($"us")).head()
      val bnd = (mm.getLong(0) + mm.getLong(1)) / 2
      Seq(ev.filter($"us" < bnd).coalesce(1), ev.filter($"us" >= bnd).coalesce(1))
    }

  /** st21's per-batch merge, extracted so StreamingSpec can REPLAY a batch
    * and assert the sink is unchanged. Bucket-granular fencing: every row
    * a batch writes carries `applied_bid`; a bucket whose stored max
    * `applied_bid` ≥ this batch's id already absorbed it (a crash between
    * dynamic-overwrite bucket swaps leaves some buckets applied and some
    * not — the fence is per bucket precisely so a replay completes the
    * stragglers without double-applying the finished ones). The merge
    * itself: a user's open row EXTENDS when the batch's first run
    * continues the same attribute value (validity start + accumulated
    * count carry over) or CLOSES at the new run's start; later runs land
    * as-is. Merge inputs are localCheckpoint-pinned before the write so
    * the dynamic overwrite never reads the files it is replacing. */
  private[graft] def scd2MergeBatch(
      spark: SparkSession, sink: String, nBuckets: Int)(
      batch: DataFrame, bid: Long): Unit = {
    import spark.implicits._
    val runsB = Relational.scd2Runs(batch)
      .withColumn("pb", pmod($"user_id", lit(nBuckets)))
      .localCheckpoint() // runs-sized (tiny); read several times below
    val sinkHasData = {
      val f = new java.io.File(sink)
      f.exists && f.listFiles != null && f.listFiles.exists(_.getName.startsWith("pb="))
    }
    val merged = if (!sinkHasData) {
      runsB.drop("run_id").withColumn("applied_bid", lit(bid))
    } else {
      // only the buckets this batch touches are read or rewritten; the
      // collect is ≤ nBuckets scalars, never data-sized
      val touchedPb = runsB.select($"pb").distinct().as[Long].collect().toSeq
      val curAll = parquet(spark, sink).filter($"pb".isin(touchedPb: _*))
      // bucket fence: a bucket that already saw this bid is dropped from
      // the rewrite set entirely (dynamic overwrite leaves it untouched)
      val fenced = curAll.groupBy($"pb").agg(max($"applied_bid").as("mx"))
        .filter($"mx" >= bid).select($"pb").as[Long].collect().toSet
      val cur = curAll.filter(!$"pb".isin(fenced.toSeq: _*))
      val runs = runsB.filter(!$"pb".isin(fenced.toSeq: _*))
      val open = cur.filter($"valid_to_us".isNull)
      val closedRows = cur.filter($"valid_to_us".isNotNull)
        .select($"user_id", $"event_type", $"valid_from_us",
          $"valid_to_us", $"n_events", $"pb")
      val firstB = runs.filter($"run_id" === 1L).drop("run_id")
      val restB = runs.filter($"run_id" > 1L).drop("run_id")
      val j = open.as("o").join(firstB.as("b"), Seq("user_id", "pb"), "full_outer")
      // open row without batch activity: carries over untouched
      val carried = j.filter($"b.valid_from_us".isNull)
        .select($"user_id", $"o.event_type".as("event_type"),
          $"o.valid_from_us".as("valid_from_us"),
          $"o.valid_to_us".as("valid_to_us"),
          $"o.n_events".as("n_events"), $"pb")
      // same attribute continues: EXTEND (validity start + count carry)
      val extended = j.filter($"o.valid_from_us".isNotNull &&
          $"b.valid_from_us".isNotNull && $"o.event_type" === $"b.event_type")
        .select($"user_id", $"o.event_type".as("event_type"),
          $"o.valid_from_us".as("valid_from_us"),
          $"b.valid_to_us".as("valid_to_us"),
          ($"o.n_events" + $"b.n_events").as("n_events"), $"pb")
      // attribute changed: CLOSE the old row at the new run's start
      val closedOut = j.filter($"o.valid_from_us".isNotNull &&
          $"b.valid_from_us".isNotNull && $"o.event_type" =!= $"b.event_type")
        .select($"user_id", $"o.event_type".as("event_type"),
          $"o.valid_from_us".as("valid_from_us"),
          $"b.valid_from_us".as("valid_to_us"),
          $"o.n_events".as("n_events"), $"pb")
      // ... and the changed/new first runs land as themselves
      val landedFirst = j.filter($"b.valid_from_us".isNotNull &&
          ($"o.valid_from_us".isNull || $"o.event_type" =!= $"b.event_type"))
        .select($"user_id", $"b.event_type".as("event_type"),
          $"b.valid_from_us".as("valid_from_us"),
          $"b.valid_to_us".as("valid_to_us"),
          $"b.n_events".as("n_events"), $"pb")
      closedRows
        .unionByName(carried).unionByName(extended)
        .unionByName(closedOut).unionByName(landedFirst)
        .unionByName(restB.select($"user_id", $"event_type",
          $"valid_from_us", $"valid_to_us", $"n_events", $"pb"))
        .withColumn("applied_bid", lit(bid))
    }
    // pin the merge result BEFORE overwriting the directory it was read
    // from (self-overwrite trap), then swap only the touched buckets
    val out = merged.localCheckpoint()
    if (out.take(1).nonEmpty)
      out.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pb")
        .parquet(sink)
  }

  /** ST21: streaming SCD-2 merge — w19's historization maintained
    * INCREMENTALLY by a stream, the warehouse-dimension upkeep pattern
    * (close-out + insert per micro-batch) rather than a nightly rebuild:
    * each batch computes its own runs (the exact [[Relational.scd2Runs]]
    * transform) and merges them against the dimension table ON THE SINK
    * via [[scd2MergeBatch]]. Scale design: the sink is hash-bucketed by
    * user (`pb`), the merge reads and rewrites ONLY the buckets the batch
    * touches (writer-scoped dynamic partition overwrite — copy-on-write
    * confined to touched buckets, the Delta/Iceberg merge shape without a
    * table format), every join is user-keyed, and replays are
    * bucket-fenced by `applied_bid`. Requires event-time-ordered batch
    * arrival (see [[stageSt21]]); the final table hash-matches the batch
    * w19 oracle over the same events — incrementality never changes the
    * answer. */
  def st21StreamingScd2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stageSt21(spark, dir)
    val sink = tempDir("st21_sink")
    // each batch's merge reads and joins the sink on the stream's session,
    // so its joins run at the stream's width of 8 as well
    val ss = Streams.stateSession(spark, 8)
    val arrivals = Streams.eventsStream(ss, staged, parquet(spark, staged).schema, 1)
    Streams.run(arrivals, "st21")(scd2MergeBatch(ss, sink, nBuckets = 8))
    parquet(spark, sink)
      .select($"user_id", $"event_type", $"valid_from_us", $"valid_to_us",
        $"valid_to_us".isNull.as("is_current"), $"n_events")
  }

  /** ST16: dead-letter routing — the dual-sink split every production
    * ingest needs: each micro-batch is evaluated ONCE (persist), then
    * accepted rows go to the main sink while rejected rows go to a
    * quarantine sink carrying an explicit reason column. Replay safety
    * comes from WHERE each batch lands, not from hoping batches never
    * replay: every write targets a deterministic `batch_id=<n>`
    * directory in Overwrite mode, so a crash between the two writes (or
    * after either) replays the batch and overwrites the same
    * directories — routing is idempotent, never duplicated and never
    * half-done. Rejection rule is deterministic (error events, outlier
    * values), so the read-back per-route counts hash-match a batch
    * oracle. At scale the split is two filters over one cached batch —
    * no second source scan, no state. */
  def st16DeadLetter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = Streams.stageEvents(spark, dir)
    val schema = parquet(spark, staged).schema
    val mainSink = tempDir("st16_main")
    val dlqSink = tempDir("st16_dlq")
    val bad = $"event_type" === "error" || $"value" >= 300.0
    Streams.run(Streams.eventsStream(spark, staged, schema, 2), "st16") { (batch, batchId) =>
      val cached = batch.persist()
      try {
        cached.filter(!bad)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$mainSink/batch_id=$batchId")
        cached.filter(bad)
          .withColumn("reason", when($"event_type" === "error", "error_type")
            .otherwise("outlier_value"))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$dlqSink/batch_id=$batchId")
      } finally { cached.unpersist(); () }
    }
    val accepted = parquet(spark, mainSink)
      .groupBy($"event_type".as("key"))
      .agg(count(lit(1)).as("n"))
      .withColumn("route", lit("accepted"))
    val quarantined = parquet(spark, dlqSink)
      .groupBy($"reason".as("key"))
      .agg(count(lit(1)).as("n"))
      .withColumn("route", lit("quarantined"))
    accepted.unionByName(quarantined).select($"route", $"key", $"n")
  }

  /** Staged source for ST17: the full corpus first (batch 0), then a
    * re-crawl batch (batch 1) of near-dup perturbations (first token
    * dropped, +1M ids) plus token-reversed rewrites (+2M ids — disjoint
    * shingle sets, so they must SURVIVE the dedup). One file per batch =
    * one micro-batch per batch under maxFilesPerTrigger=1. */
  private[graft] def stageSt17(spark: SparkSession, dir: String): String =
    Streams.stage(spark, "st17_src", dir) {
      import spark.implicits._
      val d = documents(spark, dir).select($"doc_id", $"lang", $"text")
      val probes = d.filter($"doc_id" % 5 === 0)
      val batch2 = probes.select(($"doc_id" + 1000000).as("doc_id"), $"lang",
          expr("substring(text, instr(text, ' ') + 1)").as("text"))
        .unionByName(probes.select(($"doc_id" + 2000000).as("doc_id"), $"lang",
          array_join(reverse(split($"text", " ")), " ").as("text")))
      Seq(d.repartition(1), batch2.repartition(1))
    }

  /** ST17: streaming near-dedup against a persistent signature index —
    * the streaming twin of l36 and the fuzzy upgrade of st15's exact
    * sink-dedup. Per micro-batch: (1) banded MinHash signatures via the
    * fused native expression (map-only), (2) drop every doc whose band
    * hits the index accumulated from all previously KEPT docs, (3) append
    * survivors to the corpus sink and their bands to the index. State
    * lives ON THE SINK as the band index (2 band rows per doc, never the
    * text, no checkpoint retention window) — exactly the persistent dedup
    * index a 100 TB ingest keeps, and the stream's state store holds
    * nothing at all. Replay safety is st16's fencing: both writes land in
    * deterministic batch_id=<n> directories in Overwrite mode, so a
    * replayed batch overwrites itself. The index join is against
    * PRE-batch history (within-batch dups are l1/l2's job); batch order
    * is deterministic, so the kept set — originals, then reversed
    * rewrites but not the near-dup perturbations — hash-matches a
    * two-stage SQL oracle. At production scale the per-batch index read
    * does not stay a full scan: the index is tiny relative to the corpus
    * (2 × 16-byte rows per doc), and partitioning it by a band-hash
    * prefix turns each batch's probe into a pruned read of only the
    * buckets the batch's own bands touch, with s20-style compaction
    * keeping bucket file counts flat. */
  def st17StreamingNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stageSt17(spark, dir)
    val sink = tempDir("st17_sink")
    val idx = tempDir("st17_idx")
    val docs = Streams.eventsStream(spark, staged, parquet(spark, staged).schema, 1)
      .select($"doc_id", $"lang", $"text")
    Streams.run(docs, "st17")(st17ProcessBatch(_, _, sink, idx))
    parquet(spark, sink).select($"doc_id", $"lang")
  }

  /** One st17 micro-batch: dedup against the PRE-batch index, append
    * survivors + their bands into batch_id-fenced directories. Split out
    * so StreamingSpec can REPLAY a batch and assert idempotence — the
    * property the fencing exists for. */
  private[graft] def st17ProcessBatch(
      batch: DataFrame, batchId: Long, sink: String, idx: String): Unit = {
    import batch.sparkSession.implicits._
    val sp = batch.sparkSession
    val cached = batch.persist()
    // signatures are computed ONCE per batch: `bands` is persisted, the
    // dup probe and the index write both read the memoized rows
    val bands = Llm.minhashBands(cached.select($"doc_id".as("id"), $"text"))
      .persist()
    try {
      // replay fencing: only batches STRICTLY BEFORE this one are
      // history — a replayed batch must not see its own previously
      // written bands or every kept doc would match itself and the
      // replay would overwrite the batch with an empty kept set
      val hasPrior = {
        val fs = new java.io.File(idx).listFiles()
        fs != null && fs.exists { f =>
          f.getName.startsWith("batch_id=") &&
            f.getName.stripPrefix("batch_id=").toLong < batchId
        }
      }
      val dup =
        if (!hasPrior) null
        else bands.join(parquet(sp, idx).filter($"batch_id" < batchId),
          Seq("band", "bi")).select($"id").distinct()
      val kept =
        if (dup == null) cached
        else cached.join(dup, cached("doc_id") === dup("id"), "left_anti")
      kept.select($"doc_id", $"lang")
        .write.mode(SaveMode.Overwrite).parquet(s"$sink/batch_id=$batchId")
      val keptBands =
        if (dup == null) bands
        else bands.join(dup, Seq("id"), "left_anti")
      keptBands.select($"band", $"bi")
        .write.mode(SaveMode.Overwrite).parquet(s"$idx/batch_id=$batchId")
    } finally { bands.unpersist(); cached.unpersist(); () }
  }

  /** ST18: streaming heavy hitters under BOUNDED state — the answer to
    * "who are the top talkers?" on a stream whose key space cannot fit in
    * memory: a Misra-Gries sketch (capacity 16) per shard, held in a
    * typed `MapState` via `transformWithState`
    * ([[graft.streaming.MisraGriesProcessor]]). Where st8/st13 keep one
    * state slot PER KEY (state grows with the key space), this keeps at
    * most k counters per shard NO MATTER how many distinct keys flow
    * through — the only shape that survives an adversarial 100 TB stream.
    * Four shards (user_id mod 4) parallelize the sketch; shard sketches
    * merge by summation, preserving the MG bound: counts underestimate by
    * at most n/(k+1) and every key above that frequency is guaranteed
    * present (both asserted in StreamingSpec). Counter values depend on
    * arrival order (inherent to MG; rows-only in the driver by design),
    * so each batch is applied in event_id order and a rerun returns the
    * same sketch; the BOUNDS hold for every order. Final sketch = the
    * last batch's update-mode emission, read back from its batch_id
    * directory. */
  def st18StreamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = Streams.stageEvents(spark, dir)
    val schema = parquet(spark, staged).schema
    val out = tempDir("st18_out")
    val sketches = Streams.eventsStream(
        Streams.stateSession(spark, 4, rocksDb = true), staged, schema, 2)
      .select(($"user_id" % 4).cast("long").as("shard"),
        $"user_id".cast("long").as("item"), $"event_id".cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.MisraGriesProcessor(16),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("shard", "user_id", "est_in_shard")
    Streams.run(sketches, "st18", "update") { (batch, batchId) =>
      // each batch re-emits the FULL sketch of every shard it touched,
      // so a shard's latest batch directory is its final state (the
      // read-back ranks per shard; Overwrite fencing keeps replays
      // idempotent, st16-style)
      batch.write.mode(SaveMode.Overwrite).parquet(s"$out/batch_id=$batchId")
    }
    // final sketch PER SHARD = that shard's latest emission: a shard with
    // no input rows in the final micro-batch emits nothing there, so
    // filtering to the global max batch_id would silently drop its entire
    // sketch — rank batches within each shard instead
    val all = parquet(spark, out)
    val latest = Window.partitionBy($"shard").orderBy($"batch_id".desc)
    all.withColumn("rk", dense_rank().over(latest))
      .filter($"rk" === 1)
      .groupBy($"user_id")
      .agg(sum($"est_in_shard").as("est_n"))
  }

  /** Stage the events table as 2 parquet files plus a strictly-later
    * "sentinel" file holding one far-future purchase + click. The sentinel
    * is what makes an OUTER stream-stream join deterministic under
    * AvailableNow: once it is processed, both sides' watermarks jump past
    * every real row's join window, so ALL unmatched rows are flushed in
    * the trailing no-data micro-batch instead of being stranded in state.
    * The sentinel is the last file, so it is never read before the data
    * (rows behind the watermark would be dropped as late). */
  def stageSt19(spark: SparkSession, dir: String): String =
    Streams.stage(spark, "st19_staged", dir) {
      import spark.implicits._
      val ev = events(spark, dir)
      // read the max event time as raw micros (getLong), not getTimestamp:
      // robust to the ts column's externalized class, whatever the fixture
      // encoding was before Engine.table normalized it
      val maxUs = ev.agg(max(unix_micros($"ts"))).head.getLong(0)
      val sentTs = new java.sql.Timestamp(maxUs / 1000L + 60L * 86400000L)
      // key passes the stream's user_id % 4 = 0 subset (so it reaches the
      // watermark node) but sits outside the fixture id domain, so the
      // read-back filter can drop anything it produced
      def sentinel(tpe: String, id: Long) = ev.limit(1)
        .select(ev.schema.fieldNames.map {
          case "event_id" => lit(id).as("event_id")
          case "ts" => lit(sentTs).as("ts")
          case "user_id" => lit(999999996L).as("user_id")
          case "event_type" => lit(tpe).as("event_type")
          case c => col(c)
        }: _*)
      Seq(ev.repartition(2),
        sentinel("purchase", -901L).unionByName(sentinel("click", -902L)).coalesce(1))
    }

  /** ST19: stream-stream LEFT OUTER join with watermarked state eviction —
    * the semantics st9's inner join cannot express: a purchase with NO
    * click in the preceding hour must still be emitted (with a null
    * c_id), and Structured Streaming may only emit it once the watermark
    * proves no matching click can still arrive. The sentinel staging
    * ([[stageSt19]]) closes every real row's window, so the
    * appended output equals the batch LEFT JOIN exactly — checked by the
    * DuckDB oracle. State is bounded by the watermark delay at any scale;
    * the fixture's 40-day delay merely exceeds the fixture's time span so
    * eviction happens only at the sentinel flush (order-independence =
    * determinism across any micro-batch split). */
  def st19OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stageSt19(spark, dir)
    val schema = parquet(spark, staged).schema
    // 4 state partitions: an interval join commits FOUR stores per
    // partition per micro-batch (keyToNumValues + keyWithIndexToValue on
    // each side), so partition count is the dominant fixture-scale cost.
    // Measured both directions in r9: 2 partitions is SLOWER (3.8 s vs
    // 2.4 s best-of — commit savings lose to halved addBatch parallelism),
    // so 4 is the measured optimum, not just a guess.
    val ss = Streams.stateSession(spark, 4)
    val purchases = Streams.eventsStream(ss, staged, schema, 2)
      .filter($"event_type" === "purchase" && $"user_id" % 4 === 0)
      .select($"user_id", $"event_id".as("p_id"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "40 days")
    val clicks = Streams.eventsStream(ss, staged, schema, 2)
      .filter($"event_type" === "click" && $"user_id" % 4 === 0)
      .select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "40 days")
    val joined = purchases.join(clicks,
        $"user_id" === $"c_user" &&
          $"c_ts" >= $"p_ts" - expr("interval 1 hour") && $"c_ts" <= $"p_ts",
        "left_outer")
      .select($"user_id", $"p_id", $"c_id")
    parquet(spark, Streams.runToParquet(joined, "st19")._1).filter($"user_id" < 999999000L)
  }

  /** ST22: stream-stream FULL OUTER join — the reconciliation semantics
    * st19's left-outer cannot express: clicks with no qualifying purchase
    * must ALSO surface (the j4 full-outer-reconcile contract, on a live
    * stream). Structured Streaming emits an unmatched row from EITHER
    * side only once that side's watermark proves no partner can still
    * arrive, so the st19 sentinel staging (reused verbatim) is what makes
    * the append-mode output total: the sentinel jumps BOTH watermarks
    * past every real row's join window and the trailing no-data batch
    * flushes both state stores. The emitted key must be
    * coalesce(left, right) — an unmatched click has a NULL purchase-side
    * user_id — which is also what drops the sentinel rows on read-back.
    * Hash-matches the batch FULL JOIN exactly; state bounded by the
    * watermark delay on both sides at any scale. */
  def st22StreamFullOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stageSt19(spark, dir)
    val schema = parquet(spark, staged).schema
    // 4 state partitions — the st19 sizing rationale (four store commits
    // per partition per micro-batch on an interval join)
    val ss = Streams.stateSession(spark, 4)
    val purchases = Streams.eventsStream(ss, staged, schema, 2)
      .filter($"event_type" === "purchase" && $"user_id" % 4 === 0)
      .select($"user_id", $"event_id".as("p_id"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "40 days")
    val clicks = Streams.eventsStream(ss, staged, schema, 2)
      .filter($"event_type" === "click" && $"user_id" % 4 === 0)
      .select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "40 days")
    val joined = purchases.join(clicks,
        $"user_id" === $"c_user" &&
          $"c_ts" >= $"p_ts" - expr("interval 1 hour") && $"c_ts" <= $"p_ts",
        "full_outer")
      .select(coalesce($"user_id", $"c_user").as("uid"), $"p_id", $"c_id")
    parquet(spark, Streams.runToParquet(joined, "st22")._1).filter($"uid" < 999999000L)
  }

  /** ST23: streaming observed metrics — the o12 data-quality gate moved
    * onto a live stream: `observe()` rides the micro-batch execution
    * (ZERO extra scan — the metrics are Catalyst aggregates collected
    * during the sink's own pass) and each batch's values surface in
    * `StreamingQueryProgress.observedMetrics`, the hook a production
    * pipeline feeds its lag/quality dashboards from. The per-batch
    * metrics are partial sums, so their total equals the batch aggregate
    * EXACTLY — independent of how the pacing splits the stream into
    * micro-batches — which is what makes the result oracle-checkable.
    * Float discipline: cents = floor(value·100) as long — `floor` is
    * exact on both engines where a rounded sum of doubles would drift
    * with batch boundaries. */
  def st23StreamingObserve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perBatch = st23BatchMetrics(spark, dir)
    val totals = perBatch.foldLeft((0L, 0L, 0L)) { (acc, m) =>
      (acc._1 + m._1, acc._2 + m._2, acc._3 + m._3)
    }
    Seq(totals).toDF("n_rows", "sum_cents", "n_big")
  }

  /** st23's per-micro-batch (n_rows, sum_cents, n_big) metric rows —
    * split out so StreamingSpec can assert the metrics really arrived
    * from MULTIPLE batches (the invariant the sum-equals-batch oracle
    * alone cannot see). */
  private[graft] def st23BatchMetrics(
      spark: SparkSession, dir: String): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    val staged = Streams.stageEvents(spark, dir)
    val schema = parquet(spark, staged).schema
    val out = tempDir("st23_out")
    val gated = Streams.eventsStream(Streams.stateSession(spark, 4), staged, schema, 2)
      .observe("gate",
        count(lit(1)).as("n_rows"),
        sum(floor($"value" * 100).cast("long")).as("sum_cents"),
        sum(($"value" > 100).cast("long")).as("n_big"))
    val q = Streams.run(gated, "st23") { (batch, batchId) =>
      // the REAL job the metrics ride along with (o12 discipline)
      batch.write.mode(SaveMode.Overwrite).parquet(s"$out/batch_id=$batchId")
    }
    // recentProgress is synchronous after termination — no listener
    // race; batches with no data report no "gate" entry
    q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("gate")))
      .map(row => (row.getAs[Long]("n_rows"),
        row.getAs[Long]("sum_cents"), row.getAs[Long]("n_big")))
  }

  /** ST20: sessions finalized by EVENT-TIME TIMEOUT — the semantics none
    * of st6 (session_window agg), st8 (NoTimeout running state) or w9
    * (batch sessionize) express: a user's session is emitted exactly once,
    * as a single closed record, when the WATERMARK proves the 30-minute
    * gap has passed — the session-completion callback shape real pipelines
    * use to fire downstream actions. flatMapGroupsWithState keeps only
    * RUN-COMPRESSED (start_us, end_us, n) segments per user — NOT the raw
    * event timestamps — so state is O(open segments), constant for a
    * pathological always-active key where buffering every micro would grow
    * without bound. An arriving event merges into every segment whose
    * gap-padded interval it touches (bridging merges two); the segment
    * invariant (internal consecutive gaps ≤ 30 min by induction over
    * merges) makes this exactly the gap-connected components the sorted
    * consecutive-difference split computes, so the result is identical
    * across any micro-batch split / arrival order and hash-matches the
    * batch sessionize oracle. Timeout fires once wm > max segment end +
    * gap, emits the closed sessions and clears — any later event must be
    * a new session or below-watermark late. The st19 sentinel staging
    * closes every session at end-of-stream. */
  /** st20's state transition: fold event micro `t` into the run-compressed
    * (start, end, n) segment list — merging every segment whose gap-padded
    * interval contains `t` (an event within gap of two segments bridges
    * them). Pure so StreamingSpec can pin the two contract properties:
    * components identical to the sorted consecutive-difference split, and
    * state size = number of gap-components (never the event count). */
  private[graft] def mergeSegment(
      segs: List[(Long, Long, Long)], t: Long, gapUs: Long): List[(Long, Long, Long)] = {
    val (touch, rest) = segs.partition { case (s, e, _) =>
      t >= s - gapUs && t <= e + gapUs
    }
    val merged = touch.foldLeft((t, t, 1L)) {
      case ((ms, me, mn), (s, e, n)) =>
        (math.min(ms, s), math.max(me, e), mn + n)
    }
    merged :: rest
  }

  def st20TimeoutSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val staged = stageSt19(spark, dir)
    val schema = parquet(spark, staged).schema
    val gapUs = 30L * 60 * 1000 * 1000
    val sessions = Streams.eventsStream(Streams.stateSession(spark, 8), staged, schema, 2)
      .filter($"user_id" % 4 === 0) // sentinel user also passes → flush
      .select($"user_id", $"ts", unix_micros($"ts").as("us"))
      .withWatermark("ts", "0 seconds")
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Long, Long)], (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[List[(Long, Long, Long)]]) =>
          if (state.hasTimedOut) {
            // close out: every open segment is a finished session (the
            // state may hold several only when the watermark jumped past
            // multiple gaps at once); emit chronologically
            val segs = state.get
            state.remove()
            segs.sortBy(_._1).iterator.map { case (s, e, n) => (user, s, e, n) }
          } else {
            // merge each event into the gap-padded segments it touches;
            // an event landing between two segments within gap of both
            // BRIDGES them into one (same components as the sorted
            // consecutive-difference split — see the query doc)
            var segs = state.getOption.getOrElse(Nil)
            rows.foreach { r => segs = mergeSegment(segs, r._3, gapUs) }
            state.update(segs)
            // fire once the watermark passes the newest event + gap
            state.setTimeoutTimestamp(segs.map(_._2).max / 1000 + gapUs / 1000)
            Iterator.empty
          }
      }
      .toDF("user_id", "start_us", "end_us", "n_events")
    parquet(spark, Streams.runToParquet(sessions, "st20")._1).filter($"user_id" < 999999000L)
  }

  /** ST24: streaming distribution-drift monitor — l53's snapshot-shift
    * check run against a LIVE stream: the first half of the month is the
    * static reference histogram, the second half arrives as micro-batches,
    * and the candidate histogram is a complete-mode streaming aggregate
    * whose state is BOUNDED by the bucket key (≤10 rows) no matter how
    * much data flows — the only histogram shape that survives an unbounded
    * stream. The final table is the same integer-ppm drift compare l53
    * produces ([[Llm.driftFromCounts]]), so the whole streaming path
    * hash-matches the batch oracle. Buckets are value/50 capped at 9;
    * sides split on the Jan 16 event-time boundary (open lower bound, UTC
    * string-cast semantics). */
  def st24StreamingDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def bucket(c: org.apache.spark.sql.Column) =
      least(floor(c / 50.0), lit(9.0)).cast("long")
    val split = lit("2024-01-16").cast("timestamp")
    // ref = everything BEFORE the split, open lower bound — must match the
    // oracle's `ts < TIMESTAMP '2024-01-16'` even if a future fixture
    // carries events before the current range; the ts predicate still
    // pushes to the scan through the no-op normalization (s1b's property)
    val refCounts = events(spark, dir).filter($"ts" < split)
      .select(bucket($"value").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("ref_n"))
    val staged = Streams.stageEvents(spark, dir)
    val schema = parquet(spark, staged).schema
    val candCounts = parquet(spark, Streams.runToParquet(
      Streams.eventsStream(Streams.stateSession(spark, 4), staged, schema, 2)
        .filter($"ts" >= split)
        .select(bucket($"value").as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("cand_n")),
      "st24", "complete")._1)
    Llm.driftFromCounts(
      refCounts.join(candCounts, Seq("bucket"), "full_outer")
        .select($"bucket",
          coalesce($"ref_n", lit(0L)).as("ref_n"),
          coalesce($"cand_n", lit(0L)).as("cand_n")))
  }

  /** ST25: streaming seasonal anomaly gate — the serving-time half of the
    * w21 pattern: a baseline table (per-(event_type, ISO weekday) exact
    * integer median, trained batch-side by the SAME code as w21's
    * `seasonalCore`) broadcasts into a live stream whose daily counts
    * come from a checkpointed 1-day-window aggregation; each closed day
    * is flagged against ITS OWN weekday's baseline with the all-integer
    * ≥15% rule. Because the stream's windowed counts equal the batch
    * daily counts, the whole path hash-matches w21's batch oracle — a
    * cross-path (stream vs batch) equivalence the driver checks per run.
    *
    * Scale (100 TB/day stream): the window state is one row per open
    * (type, day) — calendar-bounded; the baseline is |types|·7 rows and
    * broadcasts; nothing joins stream-to-stream. 8 state partitions per
    * the st2/st12 sizing rule. */
  def st25StreamingBaselineGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = Streams.stageEvents(spark, dir)
    val schema = parquet(spark, staged).schema
    // baseline trained by the SAME code path as w21 (dailyCounts +
    // seasonalCore), so the stream-vs-batch equivalence holds by
    // construction, not by parallel re-implementation
    val baseline = graft.queries.Relational.seasonalCore(
      graft.queries.Relational.dailyCounts(spark, dir))
      .select($"event_type", $"dow", $"med2").distinct()
    val agg = Streams.eventsStream(Streams.stateSession(spark, 8), staged, schema, 2)
      .groupBy($"event_type", window($"ts", "1 day").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select($"event_type", $"w.start".cast("date").as("day"), $"cnt")
    parquet(spark, Streams.runToParquet(agg, "st25", "complete")._1)
      .withColumn("dow", (expr("weekday(day)") + 1).cast("long"))
      .join(broadcast(baseline), Seq("event_type", "dow"))
      .withColumn("dev2", lit(2) * $"cnt" - $"med2")
      .select($"event_type", $"day", $"dow", $"cnt", $"med2", $"dev2",
        (abs($"dev2") * 20 > $"med2" * 3).as("is_anomaly"))
  }

  /** ST26: streaming point-in-time enrichment — the serving-time read of
    * the j15 feature store: the dimension (per-user purchase history,
    * compiled once batch-side into lead()-bounded validity intervals) is
    * STATIC within the run and broadcasts; `view` facts arrive as a
    * stream, and each micro-batch resolves every fact against the
    * interval valid at the fact's own instant. Facts may arrive in any
    * order across micro-batches (the staging repartition is unordered,
    * deliberately) — correctness does not depend on arrival order because
    * the lookup is against the full static history, which is exactly the
    * offline-store/online-stream split feature platforms run. The output
    * hash-matches j15's oracle, giving the PIT semantics a THIRD
    * independently-verified formulation (window-carry batch, interval
    * join oracle, stream-static broadcast).
    *
    * Scale: the broadcast is SIZE-GATED, not forced. The interval table
    * is usually update-volume sized (per-user purchase history), but an
    * offline feature store at 100 TB can hold |users| × |updates|
    * intervals — far past broadcastable. So the hint is applied only
    * when a bounded row-count probe of the compiled interval frame fits
    * under `broadcastMaxBytes` (default = Spark's own 10 MB
    * autoBroadcastJoinThreshold default) at a conservative 64 B/row;
    * above it the join runs as an un-hinted stream-static join and
    * degrades gracefully to a shuffled hash join — same semantics, no
    * driver OOM. (The r11 gate used the optimizer's `sizeInBytes`
    * estimate, but without CBO a Filter/Window/Project just propagates
    * the child scan's size, so the estimate tracks the whole events
    * table and silently disabled broadcast for small actual dims — the
    * probe measures the dim itself, costs one `limit(cap+1).count()`
    * dim-sized job, and keeps the default path broadcast whenever the
    * dim is genuinely small.) The large-dim path is exercised two ways:
    * the ST26 spec forces the gate to 0 bytes and asserts the identical
    * row set, and the registered `st26b` variant runs the shuffled path
    * against the same j15 oracle so BOTH branches are hash-checked by
    * the driver. */
  def st26StreamingPitEnrich(spark: SparkSession, dir: String): DataFrame =
    st26StreamingPitEnrich(spark, dir, broadcastMaxBytes = 10L << 20)

  /** ST26b: the same PIT enrichment with the broadcast gate forced shut —
    * the registered form of the large-dim fallback, so the shuffled
    * stream-static path carries its own driver CORRECTNESS row against
    * the identical j15 oracle instead of being spec-only. */
  def st26bStreamingPitShuffled(spark: SparkSession, dir: String): DataFrame =
    st26StreamingPitEnrich(spark, dir, broadcastMaxBytes = 0L)

  def st26StreamingPitEnrich(
      spark: SparkSession, dir: String, broadcastMaxBytes: Long): DataFrame = {
    import spark.implicits._
    val staged = Streams.stageEvents(spark, dir)
    val schema = parquet(spark, staged).schema
    val base = events(spark, dir).filter($"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
        $"value".as("feat"))
    val iv = base
      .withColumn("to_us", lead($"us", 1).over(
        Window.partitionBy($"user_id").orderBy($"us", $"event_id")))
      .select($"user_id".as("d_user"), $"us".as("from_us"), $"to_us", $"feat")
    // Size gate: broadcast only when the compiled dim actually fits; a
    // too-big feature history takes the shuffled stream-static path
    // instead of forcing a driver-sized broadcast. Probe with a bounded
    // limit(cap+1).count() rather than the optimizer's sizeInBytes
    // estimate — without CBO that estimate propagates the full scan size
    // through Filter/Window and is uselessly conservative. Bytes/row come
    // from the dim's OWN schema (r12 ADVICE: a flat 64 B/row misestimates
    // wide dims several-fold in either direction): per-field defaultSize
    // + the UnsafeRow null bitset, doubled for the hashed-relation
    // build overhead a broadcast actually pays. The probe counts the
    // PRE-window frame: lead() is cardinality-preserving, so
    // |base| == |iv| exactly, and counting base keeps the probe a
    // filtered scan with the limit pushed down — no user_id exchange,
    // no window execution, just the dim-sized read.
    // max(8, defaultSize) per field: UnsafeRow's fixed-width region is 8
    // bytes per field regardless of type, so narrow fields (int/short/
    // boolean) would undercount by up to 2x on defaultSize alone (r13
    // ADVICE — exact today only because this dim's columns are all
    // 8-byte types; the floor keeps the gate conservative if the schema
    // ever gains narrow columns)
    val bytesPerRow =
      2L * (iv.schema.map(f => math.max(8L, f.dataType.defaultSize.toLong)).sum +
        8L * ((iv.schema.size + 63) / 64))
    val rowCap = broadcastMaxBytes / bytesPerRow
    val ivDim =
      if (rowCap > 0L &&
          base.limit(math.min(rowCap + 1L, Int.MaxValue.toLong).toInt)
            .count() <= rowCap)
        broadcast(iv)
      else iv
    val facts = Streams.eventsStream(spark, staged, schema, 2)
      .filter($"event_type" === "view")
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id")
      .join(ivDim,
        $"user_id" === $"d_user" && $"from_us" <= $"us" &&
          ($"to_us".isNull || $"us" < $"to_us"))
      .select($"event_id", $"user_id", $"us", $"feat".as("pit_feat"))
    parquet(spark, Streams.runToParquet(facts, "st26")._1)
  }

  /** ST27: streaming auto-compaction — the maintenance half of a
    * continuously-appending sink: every micro-batch appends its files,
    * and whenever the sink's small-file count crosses a threshold the
    * batch hook compacts the WHOLE sink into one file via the s9
    * staged-write + rename-swap pattern: compacted output lands in a
    * staging dir, the live dir is moved aside, staging moved into
    * place, and only then is the old data deleted. Swap guarantees,
    * stated precisely: within this query there is ONE writer (the batch
    * hook) and no concurrent reader, so no execution observes a
    * half-compacted state; each move is a checked `Commit.move`
    * (unchecked, a failed move-aside would make the second move nest
    * staging INSIDE live and double-count); and a crash between the moves
    * is fail-stop, not silent — the data survives intact under the
    * moved-aside dir, never deleted before the new live is published. The
    * swap is two directory renames, so it is NOT atomic: a production
    * multi-reader sink would publish it through a manifest pointer
    * replaced with `Commit.replace` (the KbDim commit pattern) instead.
    * Correctness is the
    * dangerous part — compaction must neither lose nor duplicate rows —
    * and the oracle pins exactly that by hash-comparing the final
    * content against the full events aggregate.
    *
    * Scale: compaction cost is sink-sized, amortized by the threshold
    * (at production scale the rewrite is per-partition, the s20 shape,
    * not whole-sink); the trigger check is one directory listing. */
  def st27AutoCompaction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = Streams.stageEvents(spark, dir)
    val schema = parquet(spark, staged).schema
    val outRoot = tempDir("st27")
    val live = s"$outRoot/live"
    def parquetFiles(p: String): Int = {
      val d = new java.io.File(p)
      if (!d.exists()) 0 else d.listFiles().count(_.getName.endsWith(".parquet"))
    }
    val rows = Streams.eventsStream(spark, staged, schema, 1)
      .select($"event_id", $"event_type", $"value")
    Streams.run(rows, "st27") { (batch, _) =>
      batch.write.mode(SaveMode.Append).parquet(live)
      if (parquetFiles(live) > 3) {
        val staging = s"$outRoot/compact_${System.nanoTime()}"
        parquet(spark, live).coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(staging)
        val fs = graft.sinks.Commit.fs(live)
        val lp = new org.apache.hadoop.fs.Path(live)
        val old = new org.apache.hadoop.fs.Path(s"$outRoot/old_${System.nanoTime()}")
        graft.sinks.Commit.move(fs, lp, old)
        graft.sinks.Commit.move(fs, new org.apache.hadoop.fs.Path(staging), lp)
        fs.delete(old, true): Unit
      }
    }
    require(parquetFiles(live) <= 4,
      s"auto-compaction failed to bound the file count: ${parquetFiles(live)}")
    parquet(spark, live)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 2))).cast("double").as("sum_value"))
  }

  /** Two-batch doc-arrival staging for st28: docs split by id parity
    * (even first), one file per half so FileStreamSource delivers two
    * micro-batches. Every doc arrives complete in exactly one batch — the
    * precondition for append-only index maintenance (a doc EDIT would be a
    * retraction, st21's merge territory, a different op). */
  private[graft] def stageSt28(spark: SparkSession, dir: String): String =
    Streams.stage(spark, "st28_src", dir) {
      import spark.implicits._
      val docs = documents(spark, dir).select($"doc_id", $"text")
      Seq(docs.filter($"doc_id" % 2 === 0).repartition(1),
        docs.filter($"doc_id" % 2 =!= 0).repartition(1))
    }

  /** ST28: streaming inverted-index maintenance — the retrieval family's
    * streaming pillar: documents arrive in micro-batches and the BM25
    * index (l66) is maintained INCREMENTALLY, never by re-scanning the
    * corpus. Per batch, three append-only deltas are derived from the
    * batch alone: query-vocabulary postings (doc, token, tf — pruned to
    * the compile-time query vocabulary INSIDE the one per-doc aggregate,
    * the shared l66 stage), the posting docs' lengths riding the same
    * rows, and a 1-row (batch_docs, batch_len) corpus-stat delta.
    * Because every doc arrives whole in one batch, the accumulated
    * deltas equal the batch-computed index exactly: df re-aggregates
    * over the (query-vocab-bounded) postings, corpus totals sum the
    * 1-row deltas, and the final scoring runs l66's shared
    * [[graft.queries.Llm.bm25TermScore]] over the state tables — so the
    * streamed result hash-matches l66's batch oracle on the same corpus
    * (the st26 ↔ j15 stream-vs-batch contract).
    *
    * Scale (100 TB): per-batch cost is batch-sized map work + one
    * |batch docs|-row exchange (no join at all — the vocabulary prune is
    * a compile-time tf-vector); index state grows with query-vocabulary
    * postings (never raw corpus); query-time df/totals aggs read only
    * that bounded state. The one deliberate non-goal is doc retraction
    * (see [[stageSt28]]). */
  def st28StreamingIndex(spark: SparkSession, dir: String): DataFrame =
    st28StreamingIndexWithState(spark, dir)._1

  /** The per-batch delta derivation behind st28, factored out so the
    * plan suite can pin its shape on a static frame. r21 (guide §2.3,
    * the l66 rewrite applied per batch): the query vocabulary is a
    * compile-time literal, so ONE per-doc pass over the batch
    * ([[graft.queries.Llm.docTfVectors]] — the same stage the batch BM25
    * scorer runs, so streamed and batch postings are identical by
    * construction) yields dl and the tf vector together; the hit rows
    * unpivot from the vector with dl riding along. The r20 shape ran TWO
    * full-batch tokenize passes (the r12 measurement that rejected
    * deriving dl from the tf agg compared SEQUENTIAL alternatives — this
    * one aggregate computes both in the same pass) and shuffled the
    * batch's ENTIRE vocabulary through a (doc_id, token) exchange only
    * to discard all but the 9 query tokens after it; now the only
    * exchange carries |batch docs| narrow rows and the vocabulary prune
    * needs no join at all. The 1-row corpus-stat delta rides the SAME
    * job as an `observe` over the per-doc rows (the IncrementalWriter
    * count-in-flight pattern) instead of a second aggregation job whose
    * plan re-tokenized the whole batch — per micro-batch the batch is
    * now read and tokenized exactly once. Returns (hitsDelta, obs) where
    * hitsDelta = (doc_id, token, tf, dl) and `obs` yields
    * (batch_docs, batch_len) once hitsDelta's action completes. */
  private[graft] def st28BatchDeltas(
      batch: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = new org.apache.spark.sql.Observation()
    // observed BELOW the tf > 0 unpivot filter, so the stat delta counts
    // every doc in the batch (BM25's N), not just query-vocabulary hits
    val docStats = graft.queries.Llm.docTfVectors(batch)
      .observe(obs, count(lit(1)).as("batch_docs"), sum(col("dl")).as("batch_len"))
    val hitsDelta = graft.queries.Llm.tfHits(docStats)
      .select(col("doc_id"), col("token"), col("tf"), col("dl"))
    (hitsDelta, obs)
  }

  /** Spec seam: also returns the hits/totals state dirs so the suite can
    * assert the index was maintained by per-batch DELTAS (2 totals rows,
    * no replayed postings), not corpus recomputation. */
  private[graft] def st28StreamingIndexWithState(
      spark: SparkSession, dir: String): (DataFrame, String, String) = {
    import spark.implicits._
    val staged = stageSt28(spark, dir)
    val hitsSink = tempDir("st28_hits")
    val totalsSink = tempDir("st28_tot")
    val docs = Streams.eventsStream(spark, staged, parquet(spark, staged).schema, 1)
    Streams.run(docs, "st28") { (batch, _) =>
      val (hitsDelta, obs) = st28BatchDeltas(batch)
      hitsDelta.write.mode(SaveMode.Append).parquet(hitsSink)
      // the corpus-stat delta was observed in-flight on the write above —
      // materializing it costs a 1-row local write, not a second pass
      // over the batch (an all-empty batch observes sum(dl) = null,
      // matching what the old 1-row aggregate emitted)
      val m = obs.get
      Seq((m("batch_docs").asInstanceOf[Long],
          Option(m("batch_len")).map(_.asInstanceOf[Long])))
        .toDF("batch_docs", "batch_len")
        .write.mode(SaveMode.Append).parquet(totalsSink): Unit
    }
    val hits = parquet(spark, hitsSink) // (doc_id, token, tf, dl)
    val totals = parquet(spark, totalsSink)
      .agg(sum($"batch_docs").as("n_docs"), sum($"batch_len").as("total_len"))
    val dfreq = hits.groupBy($"token").agg(count(lit(1)).as("df"))
    val scored = hits
      .join(broadcast(graft.queries.Llm.retrievalQueryTerms(spark)), Seq("token"))
      .join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(totals))
      .select($"query_id", $"doc_id",
        expr(graft.queries.Llm.bm25TermScore).as("term_score"))
      .groupBy($"query_id", $"doc_id")
      .agg(sum($"term_score").as("score"))
    val result = graft.plans.TopKPerKey.topKPerKey(
      scored,
      keys = Seq($"query_id"),
      order = Seq($"score".desc, $"doc_id".asc),
      k = 5)
    (result, hitsSink, totalsSink)
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st20_timeout_sessions" -> (st20TimeoutSessions _),
    "st21_streaming_scd2" -> (st21StreamingScd2 _),
    "st24_streaming_drift" -> (st24StreamingDrift _),
    "st25_streaming_baseline_gate" -> (st25StreamingBaselineGate _),
    "st26_streaming_pit_enrich" ->
      ((s: SparkSession, d: String) => st26StreamingPitEnrich(s, d)),
    "st26b_streaming_pit_shuffled" -> (st26bStreamingPitShuffled _),
    "st27_auto_compaction" -> (st27AutoCompaction _),
    "st28_streaming_index" -> (st28StreamingIndex _),
    "st19_outer_join" -> (st19OuterJoin _),
    "st22_stream_full_outer" -> (st22StreamFullOuter _),
    "st23_streaming_observe" -> (st23StreamingObserve _),
    "st18_stream_heavy_hitters" -> (st18StreamHeavyHitters _),
    "st17_streaming_neardup" -> (st17StreamingNeardup _),
    "st16_dead_letter" -> (st16DeadLetter _),
    "st15_streaming_curation" -> (st15StreamingCuration _),
    "st14_stream_static_join" -> (st14StreamStaticJoin _),
    "st1_tumbling" -> (st1Tumbling _),
    "st2_checkpointed_agg" -> (st2CheckpointedAgg _),
    "st3_foreachbatch_idempotent" -> (st3ForeachBatchIdempotent _),
    "st4_late_reprocess" -> (st4LateReprocess _),
    "st5_rate_paced" -> (st5RatePaced _),
    "st6_sliding" -> (st6Sliding _),
    "st6_session" -> (st6Session _),
    "st7_stream_dedup" -> (st7StreamDedup _),
    "st7b_watermark_dedup" -> (st7bWatermarkDedup _),
    "st8_stateful_counts" -> (st8StatefulCounts _),
    "st9_stream_stream_join" -> (st9StreamStreamJoin _),
    "st10_dsv2_incremental" -> (st10Dsv2Incremental _),
    "st11_stream_to_archive" -> (st11StreamToArchive _),
    "st12_statestore_read" -> (st12StateStoreRead _),
    "st13_transform_with_state" -> (st13TransformWithState _)
  )

  private val oraDsumValue = "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"

  val oracle: Map[String, String] = Map(
    // stream-vs-batch equivalence: the streaming windowed counts joined to
    // the batch-trained baseline must reproduce w21's pure-batch answer
    "st25_streaming_baseline_gate" ->
      graft.queries.Relational.oracle("w21_seasonal_baseline"),
    // third formulation of the PIT semantics: stream-static broadcast
    // lookup must reproduce the batch window-carry and the interval join
    "st26_streaming_pit_enrich" ->
      graft.queries.Relational.oracle("j15_pit_feature_join"),
    // the forced-shuffled fallback must reproduce the same PIT result —
    // both branches of the st26 broadcast gate are oracle-checked
    "st26b_streaming_pit_shuffled" ->
      graft.queries.Relational.oracle("j15_pit_feature_join"),
    // stream-vs-batch equivalence: the incrementally-maintained index
    // must score identically to l66's batch BM25 over the same corpus
    "st28_streaming_index" ->
      graft.queries.Llm.oracle("l66_bm25_retrieval"),
    // the compaction swap must neither lose nor duplicate rows: the final
    // content hash-matches the plain full-table aggregate
    "st27_auto_compaction" ->
      s"""SELECT event_type, count(*) AS n,
         |  $oraDsumValue AS sum_value
         |FROM events GROUP BY event_type""".stripMargin,
    "st24_streaming_drift" ->
      """WITH b AS (
        |  SELECT least(CAST(floor(value / 50) AS BIGINT), 9) AS bucket,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_ref
        |  FROM events),
        |c AS (
        |  SELECT bucket, sum(is_ref) AS ref_n, sum(1 - is_ref) AS cand_n
        |  FROM b GROUP BY bucket)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(ref_n AS BIGINT) AS ref_n,
        |  CAST(cand_n AS BIGINT) AS cand_n,
        |  CAST(ref_n * 1000000 // sum(ref_n) OVER () AS BIGINT) AS ref_ppm,
        |  CAST(cand_n * 1000000 // sum(cand_n) OVER () AS BIGINT) AS cand_ppm,
        |  CAST(abs(ref_n * 1000000 // sum(ref_n) OVER ()
        |    - cand_n * 1000000 // sum(cand_n) OVER ()) AS BIGINT) AS drift_ppm
        |FROM c""".stripMargin,
    // identical to w19's oracle: the incremental merge must reproduce the
    // batch historization exactly
    "st21_streaming_scd2" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
        |  FROM events),
        |chg AS (
        |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |runs0 AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM chg),
        |runs AS (
        |  SELECT user_id, run_id, event_type,
        |    min(us) AS valid_from_us, count(*) AS n_events
        |  FROM runs0 GROUP BY user_id, run_id, event_type)
        |SELECT user_id, event_type, valid_from_us,
        |  lead(valid_from_us) OVER w2 AS valid_to_us,
        |  lead(valid_from_us) OVER w2 IS NULL AS is_current,
        |  n_events
        |FROM runs WINDOW w2 AS (PARTITION BY user_id
        |  ORDER BY valid_from_us, run_id)""".stripMargin,
    "st20_timeout_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE user_id % 4 = 0),
        |f AS (
        |  SELECT user_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w > 30 * 60 * 1000 * 1000
        |         THEN 1 ELSE 0 END AS is_new,
        |    event_id
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (
        |  SELECT user_id, us,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, min(us) AS start_us, max(us) AS end_us,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "st19_outer_join" ->
      """WITH ev AS (SELECT * FROM events WHERE user_id % 4 = 0),
        |p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM ev
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user, event_id AS c_id, ts AS c_ts FROM ev
        |      WHERE event_type = 'click')
        |SELECT p.user_id, p.p_id, c.c_id
        |FROM p LEFT JOIN c ON c.c_user = p.user_id
        |  AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts""".stripMargin,
    "st22_stream_full_outer" ->
      """WITH ev AS (SELECT * FROM events WHERE user_id % 4 = 0),
        |p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM ev
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user, event_id AS c_id, ts AS c_ts FROM ev
        |      WHERE event_type = 'click')
        |SELECT coalesce(p.user_id, c.c_user) AS uid, p.p_id, c.c_id
        |FROM p FULL JOIN c ON c.c_user = p.user_id
        |  AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts""".stripMargin,
    "st23_streaming_observe" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_big
        |FROM events""".stripMargin,
    "st17_streaming_neardup" ->
      """WITH b2 AS (
        |  SELECT doc_id + 1000000 AS doc_id, lang,
        |    substr(text, strpos(text, ' ') + 1) AS text
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, lang,
        |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
        |  FROM documents WHERE doc_id % 5 = 0),
        |csh AS (
        |  SELECT doc_id AS id, unnest(list_transform(
        |    generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
        |    i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS shingle
        |  FROM documents),
        |bsh AS (
        |  SELECT doc_id AS id, unnest(list_transform(
        |    generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
        |    i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS shingle
        |  FROM b2),
        |cmh AS (SELECT id,
        |  min(substr(md5(shingle), 1, 5)) AS h1, min(substr(md5(shingle), 6, 5)) AS h2,
        |  min(substr(md5(shingle), 11, 5)) AS h3, min(substr(md5(shingle), 16, 5)) AS h4,
        |  min(substr(md5(shingle), 21, 5)) AS h5, min(substr(md5(shingle), 26, 5)) AS h6
        |  FROM csh GROUP BY id),
        |bmh AS (SELECT id,
        |  min(substr(md5(shingle), 1, 5)) AS h1, min(substr(md5(shingle), 6, 5)) AS h2,
        |  min(substr(md5(shingle), 11, 5)) AS h3, min(substr(md5(shingle), 16, 5)) AS h4,
        |  min(substr(md5(shingle), 21, 5)) AS h5, min(substr(md5(shingle), 26, 5)) AS h6
        |  FROM bsh GROUP BY id),
        |cbands AS (
        |  SELECT id, md5(h1 || '|' || h2 || '|' || h3) AS band, 1 AS bi FROM cmh
        |  UNION ALL SELECT id, md5(h4 || '|' || h5 || '|' || h6), 2 FROM cmh),
        |bbands AS (
        |  SELECT id, md5(h1 || '|' || h2 || '|' || h3) AS band, 1 AS bi FROM bmh
        |  UNION ALL SELECT id, md5(h4 || '|' || h5 || '|' || h6), 2 FROM bmh),
        |dups AS (
        |  SELECT DISTINCT b.id FROM bbands b
        |  JOIN cbands c ON b.band = c.band AND b.bi = c.bi)
        |SELECT doc_id, lang FROM documents
        |UNION ALL
        |SELECT doc_id, lang FROM b2
        |WHERE doc_id NOT IN (SELECT id FROM dups)""".stripMargin,
    "st16_dead_letter" ->
      """SELECT 'accepted' AS route, event_type AS key, count(*) AS n
        |FROM events WHERE NOT (event_type = 'error' OR value >= 300.0)
        |GROUP BY 2
        |UNION ALL
        |SELECT 'quarantined',
        |  CASE WHEN event_type = 'error' THEN 'error_type'
        |       ELSE 'outlier_value' END, count(*)
        |FROM events WHERE event_type = 'error' OR value >= 300.0
        |GROUP BY 2""".stripMargin,
    "st15_streaming_curation" ->
      """WITH m AS (
        |  SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq
        |  FROM documents)
        |SELECT lang, count(*) AS n_kept,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM m
        |WHERE n_tokens >= 20 AND CAST(n_uniq AS DOUBLE) / n_tokens >= 0.3
        |GROUP BY lang""".stripMargin,
    "st14_stream_static_join" ->
      """SELECT c.c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1""".stripMargin,
    "st1_tumbling" ->
      s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start, count(*) AS n,
         |$oraDsumValue AS sum_value
         |FROM events GROUP BY 1""".stripMargin,
    "st2_checkpointed_agg" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "st3_foreachbatch_idempotent" ->
      """SELECT CAST(1 AS BIGINT) AS run, count(*) AS appended FROM events
        |UNION ALL SELECT 2, 0""".stripMargin,
    "st4_late_reprocess" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n_events
        |FROM events
        |WHERE CAST(date_trunc('day', ts) AS DATE) IN (DATE '2024-01-03', DATE '2024-01-07')
        |GROUP BY 1""".stripMargin,
    "st5_rate_paced" ->
      "SELECT CAST(4 AS BIGINT) AS n_batches, count(*) AS n_rows FROM events",
    "st6_sliding" ->
      """WITH w AS (
        |  SELECT make_timestamp((CAST(floor(epoch(ts) / 300) AS BIGINT) * 300) * 1000000) AS w_start FROM events
        |  UNION ALL
        |  SELECT make_timestamp((CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - 300) * 1000000) FROM events)
        |SELECT w_start, count(*) AS n FROM w GROUP BY w_start""".stripMargin,
    "st6_session" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS s_start, count(*) AS n
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "st7_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "st7b_watermark_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |UNION ALL SELECT CAST(-1 AS BIGINT) AS user_id, 'dup' AS event_type""".stripMargin,
    "st8_stateful_counts" ->
      "SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id",
    "st9_stream_stream_join" ->
      """SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id
        | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND p.user_id % 4 = 0 AND c.user_id % 4 = 0""".stripMargin,
    "st10_dsv2_incremental" ->
      """WITH days AS (
        |  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-03-31', INTERVAL 1 DAY)) AS DATE) AS day)
        |SELECT p.pub, CAST(count(*) AS BIGINT) AS n_issues,
        |  CAST(sum((CAST(d.day - DATE '1970-01-01' AS INTEGER) + length(p.pub)) % 8 + 4) AS BIGINT) AS total_pages,
        |  CAST(10 AS BIGINT) AS n_batches
        |FROM (VALUES ('AB'), ('DN'), ('GP'), ('SVD')) p(pub) CROSS JOIN days d
        |GROUP BY p.pub""".stripMargin,
    "st11_stream_to_archive" ->
      """SELECT pub, CAST(91 AS BIGINT) AS n_issues, CAST(364 AS BIGINT) AS manifest_rows
        |FROM (VALUES ('AB'), ('DN'), ('GP'), ('SVD')) t(pub)""".stripMargin,
    "st12_statestore_read" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "st13_transform_with_state" ->
      """SELECT user_id, count(*) AS n_events, max(value) AS max_value
        |FROM events GROUP BY user_id""".stripMargin
  )
}
