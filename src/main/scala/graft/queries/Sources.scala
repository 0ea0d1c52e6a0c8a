package graft.queries

import graft.Engine._
import graft.sinks.{IncrementalWriter, VerifiedWriter}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** Sources and sinks (SURVEY §2.1 S1-S11): pushed-filter scans, keyed
  * document lookup, binary file source, state/checkpoint source, partitioned
  * and incremental/verified sinks. Sink queries perform REAL writes to a
  * temp directory and read their own output back, so the oracle checks the
  * observable result of the write protocol, not a simulation.
  */
object Sources {

  /** Committed fixture dir (state.json + binary payloads). Resolved from the
    * working directory / classes dir first; classpath URI only if it is a
    * plain file (a jar-scheme URI is not usable as a filesystem path for
    * the binaryFile source). */
  def fixtureDir: String = {
    val candidates = Seq(
      s"${sys.props("user.dir")}/src/main/resources/fixtures",
      s"${sys.props("user.dir")}/target/scala-2.13/classes/fixtures",
      "/root/repo/src/main/resources/fixtures")
    candidates.find(p => new java.io.File(p).isDirectory).getOrElse {
      val url = getClass.getClassLoader.getResource("fixtures")
      new java.io.File(url.toURI).getPath
    }
  }

  /** S1: parquet scan with the predicate pushed to the source (reference
    * encodes the date range into the search URL, :482-491). */
  def s1PushdownScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, dir)
      .filter($"l_shipdate" >= graft.Engine.tsLit("1996-01-01") &&
        $"l_shipdate" < graft.Engine.tsLit("1996-07-01"))
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
  }

  /** S2: keyed document fetch — per-key manifest lookup as a broadcast join
    * against a small manifest dimension + JSON body parse (:319-329,:440). */
  def s2KeyedLookup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir)
    val manifests = ev.select($"event_type").distinct()
      .withColumn("manifest_json",
        concat(lit("{\"pages\": "), length($"event_type"), lit("}")))
    ev.join(broadcast(manifests), Seq("event_type"))
      .select($"event_id", $"event_type",
        get_json_object($"manifest_json", "$.pages").cast("long").as("pages"))
  }

  /** S3 + L5: binary file source with typed metadata struct
    * (path, mime, length, md5) per reference :353-385,:110-116,:78-83. */
  def s3BinarySource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(s"$fixtureDir/bin")
      .select(element_at(split($"path", "/"), -1).as("file_name"),
        $"length".as("n_bytes"), md5($"content").as("md5_hex"))
  }

  /** S4: state/checkpoint source — the scraper_state.json day→status map
    * (scraper_state.json:1, main.yml:70-74) exploded to rows. */
  def s4StateSource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(s"$fixtureDir/state.json")
      .select(from_json($"value", MapType(StringType, StringType)).as("state"))
      .select(explode($"state").as(Seq("day", "status")))
  }

  /** S5 + A4: partitioned FS sink — hive-style layout written then read back
    * (title/date layout, reference :441-442, README.md:92-106). */
  def s5PartitionedSink(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tempDir("s5_part")
    orders(spark, dir).write.mode(SaveMode.Overwrite)
      .partitionBy("o_orderstatus").parquet(out)
    parquet(spark, out)
      .groupBy($"o_orderstatus").agg(count(lit(1)).as("n_orders"))
  }

  /** S6: idempotent incremental sink — second identical batch appends 0
    * (skip-if-exists, reference :181-188,:462-465). */
  def s6IncrementalSink(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tempDir("s6_incr")
    val writer = new IncrementalWriter(spark, out, Seq("o_orderkey"))
    val batch = orders(spark, dir)
    val first = writer.append(batch)
    val second = writer.append(batch)
    Seq((1L, first), (2L, second)).toDF("run", "appended")
  }

  /** S7: verified write — md5 parity between source and sink (:126-129). */
  def s7VerifiedWrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (n, ok, bad) = VerifiedWriter.writeVerified(
      spark, documents(spark, dir), tempDir("s7_verified"), "doc_id", "text")
    Seq((n, ok, bad)).toDF("n_written", "n_verified", "n_mismatch")
  }

  /** S8: get-or-create partition dirs — two appends reuse the same partition
    * directories; every partition ends up with exactly 2x the rows
    * (reference get_or_create_drive_folder :135-160). */
  def s8GetOrCreateDirs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tempDir("s8_dirs")
    val docs = documents(spark, dir)
    docs.write.mode(SaveMode.Append).partitionBy("lang").parquet(out)
    docs.write.mode(SaveMode.Append).partitionBy("lang").parquet(out)
    parquet(spark, out).groupBy($"lang").agg(count(lit(1)).as("n_rows"))
  }

  /** S9: atomic overwrite via the staging-rename commit protocol — the second
    * write fully replaces the first (reference delete-after-load :474). */
  def s9OverwriteCommit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tempDir("s9_overwrite")
    val docs = documents(spark, dir)
    docs.write.mode(SaveMode.Overwrite).parquet(out)
    docs.filter($"n_chars" > 500).write.mode(SaveMode.Overwrite).parquet(out)
    parquet(spark, out).agg(count(lit(1)).as("n_rows"))
  }

  /** S11: resumable load — a partial first run plus an anti-join resume pass
    * lands the complete set exactly once (:357-359 + task retry). */
  def s11ResumableLoad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tempDir("s11_resume")
    val writer = new IncrementalWriter(spark, out, Seq("o_orderkey"))
    val all = orders(spark, dir)
    val partial = writer.append(all.filter($"o_orderkey" % 7 === 0))
    val resumed = writer.append(all)
    Seq((1L, partial), (2L, resumed)).toDF("phase", "appended")
  }

  /** Bloom-filtered events layout for [[s27BloomFilterScan]], memoized per
    * source dir. Written with a Parquet bloom filter on user_id sized to
    * the key domain — the point-lookup layout lever: at 100 TB a reader
    * probing one key skips every row group whose bloom filter rejects it,
    * without any sort or partitioning by that key. */
  private[graft] def stageBloomEvents(spark: SparkSession, dir: String): String =
    staged("s27_bloom", dir) { out =>
      events(spark, dir)
        .write.mode(SaveMode.Overwrite)
        .option("parquet.bloom.filter.enabled#user_id", "true")
        .option("parquet.bloom.filter.expected.ndv#user_id", "4096")
        // parquet-mr skips the bloom filter when a chunk stays fully
        // dictionary-encoded (the dictionary is already an exact filter);
        // the fixture's small key domain would hit that, a production
        // high-cardinality key falls out of dictionary on its own
        .option("parquet.enable.dictionary#user_id", "false")
        .parquet(out)
    }

  /** S27: bloom-filtered point lookup — equality probe on the bloom'd key
    * over the staged layout; ArchiveSinkSpec asserts the footers actually
    * carry a bloom filter for user_id (and none for unconfigured columns),
    * so the skip machinery is real, not just an accepted option. */
  def s27BloomFilterScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    parquet(spark, stageBloomEvents(spark, dir))
      .filter($"user_id" === 17L)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n"))
  }

  /** Day-partitioned events layout for [[s5PartitionPrunedRead]], memoized
    * per source dir (at scale this layout is written once at ingest; the
    * pruned read is the recurring cost worth measuring). */
  private[graft] def stageDayPartitionedEvents(spark: SparkSession, dir: String): String =
    staged("s5b_days", dir) { out =>
      import spark.implicits._
      events(spark, dir)
        .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
        .write.mode(SaveMode.Overwrite).partitionBy("day").parquet(out)
    }

  /** S5b: partition-pruned read — day-partitioned layout written once, then
    * a single-day read whose partition predicate prunes directories (the
    * scan's PartitionFilters, asserted in PlanShapeSpec). This is the time
    *-pruning strategy for event data at scale (Engine.table scaladoc). */
  def s5PartitionPrunedRead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = stageDayPartitionedEvents(spark, dir)
    parquet(spark, out)
      .filter($"day" === "2024-01-15")
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
  }

  /** S20: small-file compaction — the maintenance operator every long-lived
    * 100 TB table needs: a day-partitioned layout fragmented into many tiny
    * files (here 8 writers per day, the steady-state debris of incremental
    * ingest) rewritten partition-aligned so each day lands in one
    * right-sized file (`repartition(day)` routes every day to one task;
    * with AQE at real scale each task then splits by
    * maxPartitionBytes-sized output, so "one file per day" generalizes to
    * "target-sized files per day"). Compaction must be invisible to
    * readers: the oracle is the per-day content summary, identical before
    * and after; CompactionSpec asserts the file count actually shrank. */
  /** Write the fragmented layout and its compacted rewrite; returns both
    * roots (split out so CompactionSpec can count the physical files). */
  /** The fragmented many-small-files layout is the PRECONDITION (steady-
    * state ingest debris), not the operator — staged once per JVM like the
    * other ingest layouts, so the timed path is only the compaction
    * rewrite itself. */
  private[graft] def stageFragmentedEvents(spark: SparkSession, dir: String): String =
    staged("s20_frag", dir) { frag =>
      import spark.implicits._
      events(spark, dir)
        .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
        .repartition(8) // simulate 8 ingest writers => ~8 files per day dir
        .write.mode(SaveMode.Overwrite).partitionBy("day").parquet(frag)
    }

  private[graft] def compactLayout(spark: SparkSession, dir: String): (String, String) = {
    import spark.implicits._
    val frag = stageFragmentedEvents(spark, dir)
    val compacted = tempDir("s20_compact")
    parquet(spark, frag)
      .repartition($"day")
      .write.mode(SaveMode.Overwrite).partitionBy("day").parquet(compacted)
    (frag, compacted)
  }

  def s20Compaction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, compacted) = compactLayout(spark, dir)
    parquet(spark, compacted)
      // partition-column type inference reads `day` back as DATE; pin the
      // string form so the summary schema is layout-independent
      .groupBy($"day".cast("string").as("day"))
      .agg(count(lit(1)).as("n"),
        sum($"event_id").as("id_sum"),
        sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("value_sum"))
  }

  /** O13: schema evolution — two batches of the same table written with
    * different schemas (the later one adds a column, the way a long-lived
    * ingest dataset actually evolves), read back through `mergeSchema`:
    * old rows surface the new column as NULL instead of failing the scan.
    * (mergeSchema is a read-time footer merge across files — at 100 TB
    * keep it off for steady-state reads and declare the superset schema;
    * this query exercises the migration-window path where it earns its
    * extra footer pass.) */
  def o13MergeSchema(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tempDir("o13_evolve")
    val docs = documents(spark, dir)
    docs.select($"doc_id", $"lang")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/batch=1")
    docs.select($"doc_id", $"lang", $"n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/batch=2")
    spark.read.option("mergeSchema", "true").parquet(out)
      .select($"batch".cast("long").as("batch"), $"doc_id", $"lang", $"n_chars")
  }

  /** S21: Z-order clustering — interleave the low 8 bits of two scan
    * dimensions (user, day-of-month) into one sort key so a range-sorted
    * file layout is simultaneously selective on BOTH columns (multi-
    * dimensional data skipping: after `repartitionByRange(zval) + sort`,
    * parquet min/max row-group stats prune either predicate; a 1-D sort
    * would only skip on its leading column). The interleave is pure
    * integer bit arithmetic — identical in any engine, so the key itself
    * is oracle-checked. */
  def s21ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zbits = (0 until 8).map(i =>
      s"(shiftleft((a >> $i) & 1, ${2 * i}) + shiftleft((b >> $i) & 1, ${2 * i + 1}))")
      .mkString(" + ")
    events(spark, dir)
      .select($"event_id",
        ($"user_id" % 256).as("a"),
        dayofmonth($"ts").cast("long").as("b"))
      .withColumn("zval", expr(zbits))
      .repartitionByRange(8, $"zval")
      .sortWithinPartitions($"zval", $"event_id")
      .select($"event_id", $"a", $"b", $"zval")
  }

  /** Write the events table as a range-partitioned, internally sorted
    * layout and return the directory. Split out so the spec can inspect
    * the physical files the query read. */
  private[graft] def rangeLayoutWrite(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val out = tempDir("s28_range")
    events(spark, dir)
      .select($"event_id", $"user_id", $"value")
      .repartitionByRange(8, $"user_id", $"event_id")
      .sortWithinPartitions($"user_id", $"event_id")
      .write.mode(SaveMode.Overwrite).parquet(out)
    out
  }

  /** S28: range-partitioned sorted layout — the 1-D ordered-table shape
    * beside s21's Z-order: `repartitionByRange` SAMPLES the key
    * distribution (RangePartitioner), so the cut points adapt to skew and
    * every output file covers a DISJOINT user_id range; within each file
    * rows are sorted. That layout is what makes a point/range predicate
    * on the key prune to the few overlapping files via parquet min/max
    * stats, and gives merge-style consumers sorted runs for free. The
    * registered result re-reads the written layout and aggregates back to
    * a layout-independent form (data invariance = the oracle); the
    * physical claims — pairwise-disjoint file ranges, in-file sortedness —
    * are asserted on the actual files in PipelineOpsSpec. */
  def s28RangeLayout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = rangeLayoutWrite(spark, dir)
    parquet(spark, out)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
  }

  /** S22: dynamic partition overwrite — the restatement operator for
    * partitioned tables: a corrected recompute of a FEW days is written
    * with `partitionOverwriteMode=dynamic`, which replaces exactly the
    * partitions present in the incoming batch and leaves every other
    * day's directories untouched. At 100 TB this is the difference
    * between rewriting 6 day-directories and truncating the whole table
    * (static overwrite semantics) or reading-merging-rewriting it.
    * Oracle: the merged end state — restated days carry the corrected
    * doubled value, all other days the original. */
  def s22DynamicOverwrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tempDir("s22_dyn")
    val base = events(spark, dir)
      .select($"event_id", $"value", date_format($"ts", "yyyy-MM-dd").as("day"))
    base.write.mode(SaveMode.Overwrite).partitionBy("day").parquet(out)
    val restated = base
      .filter($"day" >= "2024-01-05" && $"day" <= "2024-01-10")
      .withColumn("value", $"value" * 2)
    // Writer-scoped option (takes precedence over the session conf) so a
    // concurrent query in the same session can never inherit dynamic
    // overwrite semantics from a temporarily mutated global.
    restated.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(out)
    parquet(spark, out)
      .groupBy($"day".cast("string").as("day"))
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("value_sum"))
  }

  /** S26: rebalanced write — the small-file/straggler-file fix on the
    * write path: a REBALANCE hint lets AQE both coalesce tiny shuffle
    * partitions and SPLIT oversized ones
    * (OptimizeSkewInRebalancePartitions) so every output file lands near
    * `advisoryPartitionSizeInBytes` — unlike repartition(n), which pins a
    * file count that is wrong at every other scale, and unlike coalesce,
    * which can only merge. At 100 TB this is the difference between a
    * table of uniform ~128 MB files and a mix of KB-shards and multi-GB
    * stragglers. Content is oracle-checked via read-back aggregation;
    * the plan shape (REBALANCE shuffle origin) is pinned in
    * PlanShapeSpec. */
  def s26RebalanceWrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tempDir("s26_rebal")
    events(spark, dir)
      .select($"event_id", $"event_type", $"value")
      .hint("rebalance")
      .write.mode(SaveMode.Overwrite).parquet(out)
    parquet(spark, out)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("value_sum"))
  }

  /** O9: CSV round trip — schema-declared read of a header CSV written by
    * the engine itself (the reference's tabular side-files), then an
    * aggregate proving values survive the text round trip. The read uses an
    * explicit schema (no inferSchema: a second full pass at 100 TB). */
  def o9CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tempDir("o9_csv")
    orders(spark, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        date_format($"o_orderdate", "yyyy-MM-dd").as("day"))
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(out)
    spark.read
      .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, day DATE")
      .option("header", "true").csv(out)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        min($"day").as("first_day"),
        sum($"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_total"))
  }

  /** S1b: time-pruned events scan — the [start, end) day-window read the
    * reference drives per-day (main.yml:77-95), with the range predicate
    * pushed to the parquet scan via Engine.eventsBetween (a native
    * timestamp range comparison applied before normalization, so it lands
    * in PushedFilters; asserted in PlanShapeSpec). */
  def s1bEventsTimePruned(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Engine.eventsBetween(spark, dir, "2024-01-10", "2024-01-12")
      .groupBy(to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"day")
  }

  /** S12: read through the custom DSv2 connector ([[graft.sources.KbSearchSource]])
    * modeling the KB search endpoint (reference :482-522): the day-range and
    * publication predicates are consumed by the source itself — day bounds
    * prune whole input partitions at planning time, the pub filter never
    * leaves the scan, and column pruning drops `pub` from the read schema
    * entirely (it only appears in a pushed filter). PlanShapeSpec asserts
    * all three. This is O1's server-side filtering re-expressed as a DSv2
    * pushdown contract. */
  def s12Dsv2SearchScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format(classOf[graft.sources.KbSearchSource].getName).load()
      .filter($"day" >= lit("2024-01-01").cast("date") &&
        $"day" < lit("2024-01-15").cast("date") &&
        $"pub".isin("AB", "DN"))
      .select($"issue_id", $"day", $"n_pages".cast("long").as("n_pages"), $"status")
  }

  /** S13: state-gated partitioned read — the fact side is the day-partitioned
    * events layout, the gate is the state fixture filtered to done days
    * (main.yml:70-74: process only days whose state allows it). The join key
    * IS the partition column, so Catalyst inserts a dynamic-partition-pruning
    * subquery: the broadcast state side executes first and only the matching
    * day directories are ever read (asserted in PlanShapeSpec). At 100 TB
    * this is the difference between scanning 3 days and scanning all of
    * them — without hand-writing the day list into the query. */
  def s13DppGatedRead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fact = parquet(spark, stageDayPartitionedEvents(spark, dir))
    val doneDays = s4StateSource(spark, dir)
      .filter($"status" === "done")
      .select(to_date($"day").as("day"))
    fact.join(doneDays, Seq("day"))
      .groupBy($"day").agg(count(lit(1)).as("n_events"))
  }

  /** S14: runtime (join-driven) filtering through the DSv2 connector — the
    * done-days state dim is broadcast, executed first, and its distinct day
    * keys are handed to the scan (SupportsRuntimeFiltering), which then
    * plans only chunks containing those days: DPP semantics for a custom
    * source. At 100 TB the endpoint is asked for 3 days, not the quarter. */
  def s14Dsv2RuntimeFiltered(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val issues = spark.read.format(classOf[graft.sources.KbSearchSource].getName).load()
    val doneDays = s4StateSource(spark, dir)
      .filter($"status" === "done")
      .select(to_date($"day").as("day"))
    issues.join(broadcast(doneDays), Seq("day"))
      .groupBy($"day").agg(count(lit(1)).as("n_issues"))
  }

  /** S12b: aggregate pushdown through the DSv2 connector — COUNT/MIN/MAX
    * grouped by publication are answered by the source per day-chunk
    * (partial pushdown; arithmetic, zero rows materialized) and merged by
    * Spark's final aggregate. Models the endpoint's result-count responses:
    * at 100 TB the server counts, the engine merges one tiny row per chunk. */
  def s12bDsv2AggPushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format(classOf[graft.sources.KbSearchSource].getName).load()
      .filter($"day" >= lit("2024-02-01").cast("date") &&
        $"day" <= lit("2024-02-28").cast("date"))
      .groupBy($"pub")
      .agg(count(lit(1)).as("n_issues"),
        min($"day").as("first_day"), max($"day").as("last_day"))
  }

  /** S15: top-N pushdown through the DSv2 connector — `ORDER BY day DESC
    * LIMIT 10` becomes the endpoint's `sort=date&max=N`: the scan plans
    * only the day-chunks that can contribute to the top N (2 of 12 here)
    * and Spark's retained Sort+Limit resolves the pub tie-break. At 100 TB
    * the difference between "fetch the newest week" and "fetch the quarter
    * then throw 98% away". */
  def s15Dsv2Topn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format(classOf[graft.sources.KbSearchSource].getName).load()
      .filter($"pub".isin("AB", "DN"))
      .select($"pub", $"day", $"issue_id", $"n_pages".cast("long").as("n_pages"))
      .orderBy($"day".desc, $"pub")
      .limit(10)
  }

  /** S15b: plain limit pushdown — a bare LIMIT (no order) caps the scan at
    * the source: only enough day-chunks to supply the rows are planned,
    * Spark's retained GlobalLimit makes the exact cut. Wrapped in a count
    * so the result is deterministic (which 10 rows a bare limit returns is
    * not a contract; that there are exactly 10 is). */
  def s15bDsv2LimitCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format(classOf[graft.sources.KbSearchSource].getName).load()
      .limit(10)
      .agg(count(lit(1)).as("n_fetched"))
  }

  /** S16: DSv2 WRITE path — the archive sink's full commit protocol
    * (task-streamed md5 digests, driver-side verify, staging rename,
    * manifest publish; [[graft.sources.KbArchiveSink]]). Three phases:
    * two appends that must MERGE into the manifest, then an overwrite
    * (V2 truncate) that must replace it. Each phase reports the manifest's
    * row total and an independent re-read of the committed data files —
    * the two agreeing is the sink's whole contract. */
  def s16Dsv2ArchiveWrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tempDir("s16_archive")
    def slice(r: Int): DataFrame =
      orders(spark, dir).filter($"o_orderkey" % 3 === r)
        .select($"o_orderkey".cast("string").as("key"),
          concat_ws(",", $"o_orderstatus", $"o_totalprice".cast("string")).as("payload"))
    def write(df: DataFrame, mode: String): Unit =
      df.write.format(classOf[graft.sources.KbArchiveSink].getName)
        .option("path", out).mode(mode).save()
    def observed(): (Long, Long) =
      (graft.sources.KbArchive.readManifest(out).map(_.rows).sum,
        spark.read.text(out).count()) // _manifest/_staging are invisible to readers
    write(slice(0), "append"); val p1 = observed()
    write(slice(1), "append"); val p2 = observed()
    write(slice(2), "overwrite"); val p3 = observed()
    Seq((1L, p1._1, p1._2), (2L, p2._1, p2._2), (3L, p3._1, p3._2))
      .toDF("phase", "manifest_rows", "data_rows")
  }

  /** O12: observed metrics (`Dataset.observe`) — data-quality gates
    * collected DURING the job's one pass over the input, not by a second
    * scan: the ETL writes its partitioned output while row counts and
    * rule-violation counts accumulate per task and merge on the driver.
    * At 100 TB a separate validation query doubles the read; observe
    * makes validation free. Mirrors the reference's completeness check
    * (:477), which re-lists everything it just downloaded. */
  def o12ObservedMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val obs = new org.apache.spark.sql.Observation("o12")
    val out = tempDir("o12_sink")
    orders(spark, dir)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when($"o_totalprice" <= 0, 1L).otherwise(0L)).as("n_nonpos_price"),
        sum($"o_orderkey".isNull.cast("long")).as("n_null_keys"))
      .groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(out) // the REAL job; metrics ride along
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long], m("n_nonpos_price").asInstanceOf[Long],
      m("n_null_keys").asInstanceOf[Long]))
      .toDF("n_rows", "n_nonpos_price", "n_null_keys")
  }

  /** O16: explicit in-memory cache reuse — the "compute once, branch
    * twice" shape every dashboard/report job has: the per-(type, day)
    * aggregate is persisted and BOTH downstream branches (per-type
    * totals and the global denominator) scan the InMemoryRelation
    * instead of re-aggregating the source — at 100 TB that is one
    * corpus-sized agg instead of two, and the cached columnar batches
    * are partition-local (no extra shuffle to build them). The plan
    * test pins two InMemoryTableScan nodes and a single source scan.
    * Default MEMORY_AND_DISK storage spills, never fails; the cache is
    * LRU-evictable session state, safe to leave resident (re-persisting
    * an identical plan reuses the existing entry via the cache manager).
    * Share = one exact long/long→double division (hash-exact). */
  def o16CachedReuse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").cast("date").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .persist()
    val perType = daily.groupBy($"event_type").agg(sum($"cnt").as("n"))
    val total = daily.agg(sum($"cnt").as("tot"))
    perType.crossJoin(broadcast(total))
      .select($"event_type", $"n", ($"n".cast("double") / $"tot").as("share"))
  }

  /** S35: snapshot retention (VACUUM) on the versioned dimension table —
    * the expiry half of the time-travel contract (s32): three committed
    * versions (seed + two row-level UPDATE rewrites) are built, then
    * `KbDim.vacuum(retain = 2)` deletes the expired snapshot manifests
    * AND every data file referenced only by them, while the retained
    * versions — including the live one this query reads back — stay
    * byte-identical. The oracle recomputes the expected live content from
    * orders, so the compare proves vacuum deleted only garbage. The spec
    * pins the physical half (expired version unreadable with the loud
    * "no snapshot" error, retained versions still readable, on-disk file
    * set shrunk to the retained manifests' union).
    *
    * Scale (100 TB): vacuum I/O is manifest-sized plus one delete per
    * expired-only file; it never reads data files, and the safety rule
    * (keep anything referenced by ANY retained snapshot) is a set
    * difference over file NAMES. */
  def s35VacuumRetention(spark: SparkSession, dir: String): DataFrame = {
    orders(spark, dir).createOrReplaceTempView("orders_s35")
    spark.sql(
      """INSERT OVERWRITE kb.dim
        |SELECT o_orderkey % 300 AS k, count(*) AS v, 'seed' AS tag
        |FROM orders_s35 GROUP BY o_orderkey % 300""".stripMargin)
    spark.sql("UPDATE kb.dim SET v = v + 7, tag = 'r1' WHERE k % 3 = 0")
    spark.sql("UPDATE kb.dim SET v = v * 2, tag = 'r2' WHERE k % 5 = 0")
    val dimDir = graft.sources.KbDim.resolveDir(spark)
    graft.sources.KbDim.vacuum(dimDir, retain = 2)
    spark.sql("SELECT k, v, tag FROM kb.dim")
  }

  /** S36: snapshot rollback — the undo half of the versioned-table
    * contract: a bad row-level rewrite (here an UPDATE that corrupts
    * every even key) is undone by `KbDim.rollback`, which publishes a
    * NEW commit whose file list is the pre-corruption snapshot's.
    * History is preserved — the corrupted version stays readable for
    * forensics until vacuum expires it — so rollback composes with s32
    * time travel and s35 retention. The oracle recomputes the
    * pre-corruption state from orders: the compare proves the restore is
    * value-exact, and the query also proves the corrupted version is
    * still time-travel readable by checking its row count.
    *
    * Scale: rollback I/O is one manifest read + one manifest write —
    * no data file is read, copied, or moved at any table size. */
  def s36SnapshotRollback(spark: SparkSession, dir: String): DataFrame = {
    orders(spark, dir).createOrReplaceTempView("orders_s36")
    spark.sql(
      """INSERT OVERWRITE kb.dim
        |SELECT o_orderkey % 200 AS k, count(*) AS v, 'good' AS tag
        |FROM orders_s36 GROUP BY o_orderkey % 200""".stripMargin)
    val dimDir = graft.sources.KbDim.resolveDir(spark)
    val goodV = graft.sources.KbDim.latestVersion(dimDir)
    spark.sql("UPDATE kb.dim SET v = -1, tag = 'corrupt' WHERE k % 2 = 0")
    val badV = graft.sources.KbDim.latestVersion(dimDir)
    graft.sources.KbDim.rollback(dimDir, goodV)
    // forensic readability of the bad version is part of the contract
    val badRows = spark.sql(
      s"SELECT count(*) FROM kb.dim VERSION AS OF $badV WHERE tag = 'corrupt'")
      .head().getLong(0)
    require(badRows > 0, "rolled-back version must stay readable")
    spark.sql("SELECT k, v, tag FROM kb.dim")
  }

  /** S37: snapshot diff (CDC read) — "what changed between version A and
    * version B" over the versioned dimension table, computed from the two
    * committed snapshots themselves: deletes = A EXCEPT B, inserts =
    * B EXCEPT A (an in-place UPDATE surfaces as delete+insert of the
    * row's two states, the standard CDC decomposition when the table has
    * no change log). This is the consumer side of time travel: downstream
    * incremental jobs read the delta instead of re-scanning the table.
    *
    * Scale: cost is two snapshot scans + one anti-join per direction —
    * bounded by table size, never by history length; with per-file dedup
    * (identical file names in both manifests) the scans skip unchanged
    * files, which is how production formats make this cheap. */
  def s37SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    orders(spark, dir).createOrReplaceTempView("orders_s37")
    spark.sql(
      """INSERT OVERWRITE kb.dim
        |SELECT o_orderkey % 250 AS k, count(*) AS v, 'base' AS tag
        |FROM orders_s37 GROUP BY o_orderkey % 250""".stripMargin)
    val dimDir = graft.sources.KbDim.resolveDir(spark)
    val vA = graft.sources.KbDim.latestVersion(dimDir)
    spark.sql("DELETE FROM kb.dim WHERE k % 10 = 7")
    spark.sql("UPDATE kb.dim SET v = v + 100, tag = 'bumped' WHERE k % 10 = 3")
    val vB = graft.sources.KbDim.latestVersion(dimDir)
    val a = spark.sql(s"SELECT k, v, tag FROM kb.dim VERSION AS OF $vA")
    val b = spark.sql(s"SELECT k, v, tag FROM kb.dim VERSION AS OF $vB")
    a.exceptAll(b).select(lit("delete").as("change"), $"k", $"v", $"tag")
      .unionByName(
        b.exceptAll(a).select(lit("insert").as("change"), $"k", $"v", $"tag"))
  }

  /** O17: per-partition column statistics — the ANALYZE-style profile a
    * cost-based optimizer (or a data-quality monitor) keeps per day
    * partition: row count, exact distinct users, raw min/max of the value
    * column. At warehouse scale these rows ARE the planner's pruning and
    * join-sizing input; computing them is one partial+final agg per
    * partition key, and the distinct count partial-aggregates per
    * (day, user) before the day rollup — no global distinct pass. */
  def o17PartitionStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy(date_trunc("day", $"ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"),
        countDistinct($"user_id").as("n_users"),
        min($"value").as("min_value"),
        max($"value").as("max_value"))
  }

  /** O15: declarative data-quality constraint suite — the Deequ /
    * great-expectations shape: volume, completeness, exact uniqueness,
    * domain and range rules evaluated together and unpivoted into the
    * (check_name, metric, passed) report a pipeline gates deploys on.
    * Cost at 100 TB: ONE scan — every rule is a conditional aggregate in
    * a single partial+final agg; only the exact-uniqueness rule adds the
    * unavoidable distinct on the key column (swap in
    * approx_count_distinct to make even that scan-local, the a10
    * trade-off). The range rule is split into separate lower/upper-bound
    * checks (`value_ge_0` / `value_le_250`) so each violation count means
    * what its name says; at least one genuinely FAILS on the fixture, so
    * the report exercises the violation path, not just green rows. */
  def o15QualityConstraints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      sum($"props".isNull.cast("long")).as("n_null_props"),
      count_distinct($"event_id").as("n_distinct_ids"),
      sum((!$"event_type".rlike("^[a-z_]+$")).cast("long")).as("n_bad_type"),
      sum(($"value" < 0).cast("long")).as("n_value_neg"),
      sum(($"value" > 250).cast("long")).as("n_value_gt250"))
    .select(expr(
      """stack(6,
        |  'row_count_min_1000', n_rows, n_rows >= 1000,
        |  'props_complete', n_null_props, n_null_props = 0,
        |  'event_id_unique', n_rows - n_distinct_ids, n_distinct_ids = n_rows,
        |  'event_type_wellformed', n_bad_type, n_bad_type = 0,
        |  'value_ge_0', n_value_neg, n_value_neg = 0,
        |  'value_le_250', n_value_gt250, n_value_gt250 = 0
        |) AS (check_name, metric, passed)""".stripMargin))
  }

  /** S30: SQL `MERGE INTO` against the connector's writable dimension
    * table (`kb.dim`, a [[graft.sources.KbDimTable]] implementing
    * `SupportsRowLevelOperations` — the Delta/Iceberg contract): the
    * statement a warehouse user reaches for to upsert a dimension, here
    * exercising all three branches — MATCHED UPDATE (accumulate),
    * NOT MATCHED INSERT (new keys), NOT MATCHED BY SOURCE DELETE (keys
    * the source stopped mentioning). Spark rewrites the MERGE into a
    * ReplaceData plan over the connector's scan + replace-write; commit
    * is an atomic manifest swap, so a failed merge leaves the old table
    * intact. Seeded deterministically from orders each run (INSERT
    * OVERWRITE), so re-runs are idempotent and the final table is pure
    * integer arithmetic — hash-checked against a DuckDB rendition of the
    * same merge semantics. */
  def s30MergeInto(spark: SparkSession, dir: String): DataFrame = {
    orders(spark, dir).createOrReplaceTempView("orders_s30")
    // seed: one dim row per key 0..499, v = count of orders in the key's
    // residue class, tag = 'seed'
    spark.sql(
      """INSERT OVERWRITE kb.dim
        |SELECT o_orderkey % 500 AS k, count(*) AS v, 'seed' AS tag
        |FROM orders_s30 GROUP BY o_orderkey % 500""".stripMargin)
    // source: keys 250..749 — half overlap (update), half new (insert),
    // and seed keys 0..249 are absent from it (not-matched-by-source)
    spark.sql(
      """MERGE INTO kb.dim t
        |USING (
        |  SELECT 250 + o_orderkey % 500 AS k, count(*) AS v, 'merged' AS tag
        |  FROM orders_s30 GROUP BY 250 + o_orderkey % 500) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.v, tag = s.tag
        |WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (s.k, s.v, s.tag)
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    spark.sql("SELECT k, v, tag FROM kb.dim")
  }

  /** S31: SQL `DELETE FROM` + `UPDATE` on the same row-level-operation
    * contract — the two simpler DML verbs a writable V2 table owes its
    * users, each planned by Spark as a ReplaceData rewrite (matched rows
    * dropped/transformed, the rest carried over) against the connector's
    * single replacement group. Same deterministic seed; final state is
    * integer-exact. */
  def s31RowLevelDml(spark: SparkSession, dir: String): DataFrame = {
    orders(spark, dir).createOrReplaceTempView("orders_s31")
    spark.sql(
      """INSERT OVERWRITE kb.dim
        |SELECT o_orderkey % 400 AS k, count(*) AS v, 'seed' AS tag
        |FROM orders_s31 GROUP BY o_orderkey % 400""".stripMargin)
    spark.sql("DELETE FROM kb.dim WHERE k % 7 = 3")
    spark.sql("UPDATE kb.dim SET v = v * 10, tag = 'boosted' WHERE k < 100")
    spark.sql("SELECT k, v, tag FROM kb.dim")
  }

  /** S32: time travel — `VERSION AS OF` against the versioned dimension
    * table: every kb.dim commit publishes an immutable `_files.v<N>`
    * snapshot alongside the live manifest, and the catalog's
    * version-aware `loadTable` pins a scan to it, so a SQL user can read
    * the table as it stood before any later DML (audit, rollback-diff,
    * reproducible training-set pinning). The query captures the snapshot
    * ids the seed and the update actually produced (relative, so re-runs
    * are deterministic) and reads BOTH versions in one statement; the
    * before-image must be byte-identical to the seed even though the
    * update rewrote the live table. */
  def s32TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    orders(spark, dir).createOrReplaceTempView("orders_s32")
    spark.sql(
      """INSERT OVERWRITE kb.dim
        |SELECT o_orderkey % 300 AS k, count(*) AS v, 'seed' AS tag
        |FROM orders_s32 GROUP BY o_orderkey % 300""".stripMargin)
    val dimDir = graft.sources.KbDim.resolveDir(spark)
    val vSeed = graft.sources.KbDim.latestVersion(dimDir)
    spark.sql("UPDATE kb.dim SET v = v * 3, tag = 'x3' WHERE k % 2 = 0")
    val vUpd = graft.sources.KbDim.latestVersion(dimDir)
    spark.sql(
      s"""SELECT 'before' AS snap, k, v, tag FROM kb.dim VERSION AS OF $vSeed
         |UNION ALL
         |SELECT 'after' AS snap, k, v, tag FROM kb.dim VERSION AS OF $vUpd""".stripMargin)
  }

  /** S17: the connector through plain SQL — `kb.search` resolves via the
    * registered [[graft.sources.KbCatalog]] (a V2 TableCatalog), so a
    * warehouse user writes ordinary SQL and still gets the full pushdown
    * stack: the day range and pub IN-list are consumed by the source, the
    * grouped COUNT is answered per-chunk by aggregate pushdown, and only
    * tiny partials reach the final aggregate. */
  def s17CatalogSql(spark: SparkSession, dir: String): DataFrame =
    spark.sql(
      """SELECT pub, count(*) AS n_issues
        |FROM kb.search
        |WHERE day >= DATE'2024-02-01' AND day <= DATE'2024-02-28'
        |  AND pub IN ('AB', 'GP')
        |GROUP BY pub""".stripMargin)

  /** S18: a connector-provided function from plain SQL — `kb.cosine` binds
    * through the V2 FunctionCatalog ([[graft.sources.CosineUnbound]]) and
    * executes via its magic-method fast path inside codegen. One probe
    * vector scored against the corpus: the SQL-only rendition of the
    * engine's similarity scorer. */
  def s18FunctionCatalog(spark: SparkSession, dir: String): DataFrame = {
    embeddings(spark, dir).createOrReplaceTempView("emb_s18")
    spark.sql(
      """SELECT e.vec_id, kb.cosine(e.embedding, p.embedding) AS score_vs_probe
        |FROM emb_s18 e
        |CROSS JOIN (SELECT embedding FROM emb_s18 WHERE vec_id = 0) p
        |WHERE e.vec_id < 100""".stripMargin)
  }

  /** S18b: V2 catalog AGGREGATE function — `kb.sum_sq` binds to a
    * connector AggregateFunction whose update/merge contract Spark plans
    * as a partial + final hash aggregate (map-side combine, state merged
    * across the shuffle), exactly like a built-in agg. The SQL-only path
    * to a custom distributed aggregation; integer arithmetic makes the
    * result hash-checkable against any engine. */
  def s18bCatalogUdaf(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir).createOrReplaceTempView("events_s18b")
    spark.sql(
      """SELECT event_type, kb.sum_sq(user_id) AS sum_sq_user, count(*) AS n
        |FROM events_s18b GROUP BY event_type""".stripMargin)
  }

  /** S19: connector metadata column — `_chunk` (the day-chunk a row was
    * served from) is hidden from `SELECT *` but materializes when selected,
    * like `_metadata.file_path` on file sources: per-row provenance for
    * debugging a scan without widening the data schema. Grouping by it
    * exposes exactly how the pushed day range mapped onto planned chunks. */
  def s19MetadataColumn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format(classOf[graft.sources.KbSearchSource].getName).load()
      .filter($"day" < lit("2024-01-17").cast("date"))
      .select($"pub", $"day", col("_chunk"))
      .groupBy(col("_chunk")).agg(count(lit(1)).as("n_issues"))
  }

  /** S1c: the same [start, end) day-window as [[s1bEventsTimePruned]], but
    * filtering the NARROWED timestamp like a naive caller would — no
    * [[graft.Engine.eventsBetween]] knowledge required. The injected
    * optimizer rule ([[graft.plans.PushFilterThroughNanoNarrowing]])
    * rewrites the comparisons to raw-nano-long bounds below the narrowing
    * projection, so they still land in the scan's PushedFilters (plan
    * test). Oracle identical to s1b: the rewrite must be exact. */
  def s1cEventsAutoPruned(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .filter($"ts" >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        $"ts" < lit("2024-01-12 00:00:00").cast("timestamp"))
      .groupBy(to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"day")
  }

  /** O10: XML round trip — Spark 4 built-in XML source (the reference's
    * inputs are XML-ish markup; a complete engine must land and re-read
    * it). Declared schema on read, aggregate proves value fidelity. */
  def o10XmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tempDir("o10_xml")
    documents(spark, dir).select($"doc_id", $"lang", $"n_chars")
      .write.mode(SaveMode.Overwrite).option("rowTag", "doc").format("xml").save(out)
    spark.read.schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
      .option("rowTag", "doc").format("xml").load(out)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
  }

  /** O11: ORC round trip — the second columnar format the library supports
    * interchangeably with parquet (same predicate/pruning machinery). */
  def o11OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tempDir("o11_orc")
    part(spark, dir).select($"p_partkey", $"p_brand", $"p_retailprice")
      .write.mode(SaveMode.Overwrite).orc(out)
    spark.read.orc(out)
      .filter($"p_partkey" % 2 === 0)
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_parts"),
        sum($"p_retailprice".cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_price"))
  }

  /** O14: line-delimited text round trip — the lowest-common-denominator
    * interchange format (one record per line, fields packed by the
    * writer): docs serialized as `doc_id|lang|n_chars` lines via the text
    * sink, read back with the text source and re-parsed by split. The
    * parse is schema-on-read the hard way — exactly what a 100 TB landing
    * zone of legacy line files needs, with the same pushdown-free scan
    * economics made explicit. */
  def o14TextRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = tempDir("o14_text")
    documents(spark, dir)
      .select(concat($"doc_id", lit("|"), $"lang", lit("|"), $"n_chars").as("value"))
      .write.mode(SaveMode.Overwrite).text(out)
    spark.read.text(out)
      .select(split($"value", "\\|").as("f"))
      .select(element_at($"f", 1).cast("long").as("doc_id"),
        element_at($"f", 2).as("lang"),
        element_at($"f", 3).cast("long").as("n_chars"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        min($"doc_id").as("min_doc"))
  }

  /** F-map: map construction and access over the JSON props map. */
  def fMap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .select($"event_id",
        from_json($"props", MapType(StringType, StringType)).as("m"))
      .select($"event_id",
        array_join(map_keys($"m"), ",").as("keys"),
        element_at($"m", "k").cast("long").as("k_val"),
        size($"m").cast("long").as("n_entries"))
  }

  /** F-map2: map higher-order functions — map_filter / transform_keys /
    * transform_values over the parsed props map, rendered to checkable
    * scalars. */
  def fMap2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .select($"event_id",
        from_json($"props", MapType(StringType, StringType)).as("m"))
      .select($"event_id",
        size(map_filter($"m", (_, v) => v.cast("long") > 0)).cast("long").as("n_pos"),
        array_join(map_keys(transform_keys($"m", (k, _) => concat(k, lit("_x")))), ",")
          .as("keys_renamed"),
        element_at(map_values(transform_values($"m",
          (_, v) => concat(lit("v="), v))), 1).as("first_tagged"))
  }

  /** F-map3: map construction/combination — map_concat, map_from_arrays and
    * map_zip_with (the three builders f_map/f_map2 don't reach), rendered
    * to deterministic scalars like the rest of the family. */
  def fMap3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .select($"event_id",
        from_json($"props", MapType(StringType, StringType)).as("m"))
      .select($"event_id",
        array_join(array_sort(map_keys(
          map_concat($"m", map(lit("tag"), lit("x"))))), ",").as("keys_concat"),
        element_at(map_from_arrays(
          array(lit("a"), lit("b")),
          array($"event_id", $"event_id" * 2)), "b").as("b_val"),
        array_join(map_values(map_zip_with($"m", $"m",
          (_, v1, v2) => concat(v1, lit("+"), v2))), ",").as("zipped_vals"))
  }

  /** L5: multimodal decode — binary payloads flow through a typed
    * mapPartitions stage producing per-asset features (reference downloads
    * and verifies JPEG thumbnails, :110-116,:353-385). JPEG decode is REAL:
    * the JDK's built-in `javax.imageio` reads the bytes and reports true
    * pixel dimensions, partition-locally on the executor — the shape a
    * 100 TB image pipeline needs (decode travels to the data; only small
    * typed features come back). JP2 dimensions are parsed from the REAL
    * container header ([[graft.sources.Jp2Box]] — signature/jp2h/ihdr
    * boxes, pure byte arithmetic); full JP2 ENTROPY decode is exercised by
    * [[l5gJp2Decode]] via the engine's own ISO/IEC 15444-1 codec (this
    * query's committed fixtures carry opaque payloads, so it stays a
    * header-truth check). Non-image payloads report (-1, -1) — flagged, never
    * faked. The Spark-side contract — schema, encoder, partition-wise
    * batch shape — is identical for every path and oracle-checked. */
  def l5MultimodalDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val assets = spark.read.format("binaryFile").load(s"$fixtureDir/bin")
      .select(element_at(split($"path", "/"), -1).as("file_name"),
        $"length".as("n_bytes"), $"content")
      .withColumn("mime",
        when(lower($"file_name").endsWith(".jp2"), "image/jp2")
          .when(lower($"file_name").endsWith(".jpg") || lower($"file_name").endsWith(".jpeg"),
            "image/jpeg")
          .otherwise("application/octet-stream"))
      .as[(String, Long, Array[Byte], String)]
    assets.mapPartitions { it =>
      it.map { case (name, nBytes, bytes, mime) =>
        val (width, height) = mime match {
          case "image/jpeg" =>
            Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
              .map(img => (img.getWidth, img.getHeight))
              .getOrElse((-1, -1)) // undecodable jpeg: flagged, not faked
          case "image/jp2" =>
            graft.sources.Jp2Box.parseDims(bytes).getOrElse((-1, -1))
          case _ => (-1, -1) // not an image: no dimensions to report
        }
        (name, mime, nBytes, width, height)
      }
    }.toDF("file_name", "mime", "n_bytes", "width", "height")
  }

  /** Synthesize 8 REAL JPEGs with index-determined dimensions (staged once
    * per JVM): deterministic pixel pattern, encoded by the JDK's ImageIO —
    * no byte literal fixtures, no external codec. */
  private[graft] def stageJpegs(): String =
    staged("l5c_jpegs", "") { dir =>
      (0 until 8).foreach { i =>
        val w = 40 + (17 * i) % 113
        val h = 30 + (23 * i) % 89
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w)
          img.setRGB(x, y, (x * 31 + y * 7 + i * 131) % 0xffffff)
        javax.imageio.ImageIO.write(img, "jpg", new java.io.File(s"$dir/img_$i.jpg"))
      }
    }

  /** L5c: thumbnail pipeline — the full decode → TRANSFORM → encode chain
    * over real images, all JDK (the step the reference performs by
    * requesting pre-scaled IIIF thumbnails, :110-116): each JPEG is
    * decoded, resized so its long edge is 64 (integer arithmetic,
    * `max(1, d*64 div max(w,h))`), re-encoded as PNG, and the THUMBNAIL IS
    * DECODED AGAIN — the emitted dimensions come from the re-decoded
    * bytes, so a fake resize or encode cannot pass. Dimensions are pure
    * functions of the image index, hence the whole chain is oracle-checked
    * by DuckDB arithmetic. Partition-local typed stage, like the rest of
    * L5: pixels travel to executors, only small features return. */
  def l5cThumbnail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stageJpegs()
    spark.read.format("binaryFile").load(staged)
      .select(element_at(split($"path", "/"), -1).as("file_name"), $"content")
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (name, bytes) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          val (w, h) = (img.getWidth, img.getHeight)
          val m = math.max(w, h)
          val tw = math.max(1, w * 64 / m)
          val th = math.max(1, h * 64 / m)
          val scaled = new java.awt.image.BufferedImage(
            tw, th, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = scaled.createGraphics()
          g.drawImage(img, 0, 0, tw, th, null)
          g.dispose()
          val baos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(scaled, "png", baos)
          val back = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(baos.toByteArray))
          (name, w.toLong, h.toLong, back.getWidth.toLong, back.getHeight.toLong)
        }
      }
      .toDF("file_name", "width", "height", "thumb_w", "thumb_h")
  }

  /** Synthesize 10 REAL JPEG 2000 files (staged once per JVM): RGB planes
    * with index-determined per-channel patterns, compressed by the engine's
    * own spec-complete encoder ([[graft.sources.jp2.Jp2Codec]]: 5/3 DWT +
    * RCT + EBCOT + MQ + Tier-2 packets) and wrapped in a real JP2
    * container. Odd-indexed files use a 64-px tile grid (the bounded-
    * memory layout a full-page scan would ship in), so the oracle hash
    * covers BOTH the single-tile and the multi-tile decode paths. Pixel
    * sums are pure index arithmetic, so the DECODED output is fully
    * DuckDB-oracle-checkable. */
  private[graft] def stageJp2s(): String =
    staged("l5g_jp2", "") { dir =>
      (0 until 11).foreach { i =>
        val w = 40 + (17 * i) % 113
        val h = 30 + (23 * i) % 89
        // file 7 (r18c) is a 16-BIT RGB master (Ssiz 15) — the deep
        // archival scan depth — with its own mod-65536 closed form so
        // the oracle covers the widened sample range end to end
        val comps = Array.tabulate(3) { c =>
          if (i == 7)
            Array.tabulate(w * h)(j => ((j % w) * 731 + (j / w) * 1109 + c * 4099) % 65536)
          else
            Array.tabulate(w * h)(j => ((j % w) * 7 + (j / w) * 11 + i * 13 + c * 29) % 256)
        }
        // mix single-tile/tiled AND single/multi-layer scans so every
        // decode path (incl. the RLCP quality-layer machinery) is
        // hash-covered through the oracle, not just unit-tested; r17
        // adds code-block style options (segsym on file 4; bypass +
        // reset + per-pass termination + causal + segsym, 0x2F, on
        // file 5 crossed with tiling AND 2 layers, so multi-segment
        // codewords run distributed) — styles re-code the same
        // coefficients, so the frozen pixel-sum oracle values cover
        // them unchanged. r18 adds file 6: RPCL progression crossed
        // with tiles, 32-px precincts AND 2 layers (the Kakadu-style
        // random-access pairing), so the general B.12.1 packet
        // iterator runs distributed under the same closed-form oracle
        // — progressions re-ORDER the same packets, pixel sums are
        // order-invariant.
        // file 8 (r19): PCRL — a position-major order — crossed with a
        // 32-px tile grid (63x36 -> 2x2 tiles), 32-px precincts and 2
        // layers: the B.12.1.3 position-major packet walk runs
        // distributed under the closed-form oracle, and the byte-prefix
        // REDUCED walk's typed rejection for it is pinned through l5i.
        // File 9 (r19): PPT — packed packet headers (A.7.5, the
        // error-resilience / streaming-delivery shape) on a tiled scan:
        // the headers ride the tile-part header, the bitstream carries
        // only code-block bodies, and every ranged walk typed-rejects
        // it (pinned through l5i like PCRL) while whole-file decode
        // hash-matches the same closed-form sums.
        // File 10 (r20): CPRL — the component-major position order
        // (B.12.1.4), the last of the five A.6.1 progressions without a
        // staged oracle arm — crossed with the same 32-px tile grid,
        // 32-px precincts and 2 layers as the PCRL file so the
        // component-major walk runs distributed; position-major like
        // PCRL, so the byte-prefix reduced walk's typed rejection is
        // pinned through l5i as another (-1, -1) row
        val cs = graft.sources.jp2.Jp2Codec.encode(
          w, h, comps,
          tileSize = if (i == 8 || i == 10) 32 else if (i % 2 == 1 || i == 6) 64 else 0,
          layers = if (i % 3 == 2 || i == 6 || i == 10) 2 else 1,
          blockStyle = i match { case 4 => 0x20; case 5 => 0x2F; case _ => 0 },
          precinctExp = if (i == 6 || i == 8 || i == 10) 5 else 15,
          prog = i match {
            case 6 => graft.sources.jp2.Jp2Codec.RPCL
            case 8 => graft.sources.jp2.Jp2Codec.PCRL
            case 10 => graft.sources.jp2.Jp2Codec.CPRL
            case _ => -1
          },
          bitDepth = if (i == 7) 16 else 8,
          packedHeaders = i == 9)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/scan_$i.jp2"),
          graft.sources.Jp2Box.buildContainer(w, h, cs))
      }
    }

  /** Per-channel pixel sum for the JP2 queries' oracle columns. */
  private def sumChannel(a: Array[Int]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) { s += a(i); i += 1 }
    s
  }

  /** L5g: full JPEG 2000 ENTROPY decode — the one multimodal step that was
    * a documented stub since round 8 (the reference routes `.jp2` scans by
    * filename only, 01-scrape-images.py:340; no JP2 codec ships with the
    * JDK). The engine now carries its own ISO/IEC 15444-1 lossless codec
    * (MQ coder, EBCOT Tier-1, tag-tree Tier-2, reversible 5/3 DWT + RCT —
    * [[graft.sources.jp2.Jp2Codec]]), so real `.jp2` containers are decoded
    * to pixels partition-locally on executors, the same travel-to-the-data
    * shape as the rest of L5. Emitted per file: SIZ-true dimensions and
    * per-channel pixel sums, which the DuckDB oracle recomputes from the
    * staging arithmetic — a hash-match over actual decoded pixel data, not
    * a rows-only register entry. */
  def l5gJp2Decode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stageJp2s()
    spark.read.format("binaryFile").load(staged)
      .select(element_at(split($"path", "/"), -1).as("file_name"), $"content")
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (name, bytes) =>
          val img = graft.sources.jp2.Jp2Codec.decode(bytes)
          (name, img.width.toLong, img.height.toLong,
            sumChannel(img.comps(0)), sumChannel(img.comps(1)), sumChannel(img.comps(2)))
        }
      }
      .toDF("file_name", "width", "height", "sum_c0", "sum_c1", "sum_c2")
  }

  /** L5i: thumbnail extraction FROM THE ARCHIVAL MASTER via JPEG 2000
    * reduced-resolution decode — the capability the reference rents from
    * the IIIF image server by requesting pre-scaled derivatives
    * (01-scrape-images.py:110-116): with `decodeReduced(bytes, 2)` each
    * tile's LRCP packet walk stops after the low-resolution prefix and
    * jumps to the next tile via Psot, so the high-resolution packets —
    * the bulk of every scan — are never entropy-decoded (Jp2CodecSpec
    * proves it by vandalizing them and getting bit-identical thumbnails).
    * At 100 TB that is the difference between a thumbnail job costing a
    * full-corpus decode and costing its low-res fraction.
    *
    * Verification split, st27-style: the emitted thumb dims are
    * closed-form (ceil(dim/4)) and hash-match the DuckDB oracle; pixel
    * content is pinned by Jp2CodecSpec's bit-exact reduced-pyramid
    * tests, and in-query a discard=0 reduced decode must equal the full
    * decode pixel-for-pixel (require) on every file, tiled and untiled. */
  def l5iJp2Thumbnail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stageJp2s()
    spark.read.format("binaryFile").load(staged)
      .select(element_at(split($"path", "/"), -1).as("file_name"), $"content")
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (name, bytes) =>
          val full = graft.sources.jp2.Jp2Codec.decode(bytes)
          val d0 = graft.sources.jp2.Jp2Codec.decodeReduced(bytes, 0)
          require(d0.width == full.width && d0.height == full.height &&
            (0 until full.comps.length).forall(c =>
              java.util.Arrays.equals(d0.comps(c), full.comps(c))),
            s"$name: discard=0 reduced decode diverged from the full decode")
          // streams with no low-res byte prefix — scan_8 (PCRL) and
          // scan_10 (CPRL), the position-major orders, and scan_9
          // (PPT, headers packed out of the bitstream) — make the
          // reduced walk reject TYPED, and this query pins that
          // contract through the oracle as (-1, -1) thumb dims; only
          // the two specific rejection classes are caught, anything
          // else still fails the task loudly
          val (tw, th) = try {
            val thumb = graft.sources.jp2.Jp2Codec.decodeReduced(bytes, 2)
            (thumb.width.toLong, thumb.height.toLong)
          } catch {
            case e: IllegalArgumentException
                if e.getMessage.contains("not resolution-major") ||
                  e.getMessage.contains("PPT") => (-1L, -1L)
          }
          (name, full.width.toLong, full.height.toLong, tw, th)
        }
      }
      .toDF("file_name", "width", "height", "thumb_w", "thumb_h")
  }

  /** Synthesize ONE larger tiled JPEG 2000 scan (staged once per JVM):
    * 384x192 RGB on a 64-px tile grid — 6x3 = 18 tiles, each split across
    * TWO tile-parts (TNsot = 2, cut at a resolution boundary) for a
    * 36-tile-part codestream, the layout of [[l5hJp2TiledParallel]]'s
    * distributed decode — encoded with TWO quality layers (RLCP). Layers
    * and tile-part splits are the two most common archival-encoder deltas
    * from a minimal profile (real encoders bound tile-part length), so
    * every ranged query exercises the grouping machinery end-to-end.
    * Pixel values are pure coordinate arithmetic for the DuckDB oracle. */
  private[graft] def stageBigJp2(): String =
    staged("l5h_jp2", "") { dir =>
      // h = 192, NOT 256: with a full 256-row sweep the per-row offsets
      // complete the mod-256 cycle and every channel's pixel sum comes out
      // identical no matter the multipliers — a channel-swap bug would
      // pass the oracle. 192 breaks the cycle; the per-channel
      // x-multiplier then makes the three sums pairwise distinct.
      val (w, h) = (384, 192)
      val comps = Array.tabulate(3) { c =>
        Array.tabulate(w * h)(j => ((j % w) * (7 + 2 * c) + (j / w) * 11 + c * 29) % 256)
      }
      val cs = graft.sources.jp2.Jp2Codec.encode(w, h, comps, tileSize = 64, layers = 2,
        partsPerTile = 2)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/page_0.jp2"),
        graft.sources.Jp2Box.buildContainer(w, h, cs))
    }

  /** Synthesize the POC variant of the big tiled scan (staged once per
    * JVM, r20): same 384x192 / 64-px-tile / 2-layer shape as
    * [[stageBigJp2]] (one part per tile — the encoder's resolution-
    * boundary split is incompatible with POC) but with its own pixel
    * formula AND a
    * progression-order-change marker whose FIRST volume is exactly the
    * layer-0 front in LRCP — the rate-allocation shape real encoders
    * emit when the allocator reorders the head of the stream for
    * quality-progressive delivery. l5k's quality walk must then follow
    * the POC-aware packet order end to end (walker ranges AND
    * compacted-slice decode), with the volumes threaded through the
    * query's header carrier instead of guarded away. */
  private[graft] def stagePocBigJp2(): String =
    staged("l5k_poc_jp2", "") { dir =>
      val (w, h) = (384, 192)
      val comps = Array.tabulate(3) { c =>
        Array.tabulate(w * h)(j => ((j % w) * (9 + 4 * c) + (j / w) * 17 + c * 37) % 256)
      }
      import graft.sources.jp2.Jp2Codec.{PocEntry, LRCP, RLCP}
      // one part per tile: the encoder's resolution-boundary tile-part
      // split requires a global resolution-major order, which a POC by
      // definition breaks — the axis under test here is the packet
      // ORDER, which is part-count-independent
      val cs = graft.sources.jp2.Jp2Codec.encode(w, h, comps, tileSize = 64, layers = 2,
        poc = Seq(
          PocEntry(0, 0, 1, 4, 3, LRCP), // the whole layer-0 front, quality-first
          PocEntry(0, 0, 2, 4, 3, RLCP))) // the refinement layer, resolution-major
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/page_poc.jp2"),
        graft.sources.Jp2Box.buildContainer(w, h, cs))
    }

  /** Reference per-channel pixel sums of the staged big scan's d=2
    * thumbnail, computed ONCE per JVM through the in-memory WHOLE-FILE
    * [[graft.sources.jp2.Jp2Codec.decodeReduced]] path — deliberately a
    * different code path from the distributed ranged walk l5j runs, so
    * an in-query require against these sums cannot cancel out a
    * ranged-walk regression. */
  private[graft] lazy val bigJp2ReducedSums: Array[Long] = {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${stageBigJp2()}/page_0.jp2"))
    val img = graft.sources.jp2.Jp2Codec.decodeReduced(bytes, 2)
    img.comps.map(sumChannel)
  }

  /** L5h: decode ONE tiled scan ACROSS the cluster — the intra-file
    * parallelism a 100 TB page-scan corpus needs when single files are
    * gigabytes (a full newspaper page at archival resolution): per-tile
    * latency instead of per-file. JPEG 2000 tiles are independently
    * entropy-coded, so the split is exact, not heuristic:
    *
    *  1. SPLIT (cheap, no entropy work, no file materialization): the
    *     file LISTING (binaryFile pruned to path+length — content is
    *     never in the read schema) feeds a streamed
    *     [[graft.sources.jp2.Jp2Codec.tileParts]] walk over a
    *     [[graft.sources.HadoopRangedInput]]: the main header is read
    *     once, then the Psot chain is seek-hopped at 14 bytes per SOT.
    *     A [[graft.sources.jp2.Jp2Codec.CountingInput]] REQUIRES (not
    *     just documents) that the walk read < 1/8 of the file — so the
    *     header-only contract is tested on every run, and a gigabyte
    *     scan costs the split task a few hundred bytes, with no
    *     binaryFile 2 GiB cap and no executor-memory spike.
    *  2. SPREAD: `repartition(defaultParallelism, path, tile)`
    *     hash-distributes the one file's tiles across executors. The
    *     partition count is pinned ON PURPOSE: the shuffle carries
    *     ~140 B descriptors, so AQE's byte-based coalescing folds the
    *     stage to ONE partition (verified in PLANS.md history) —
    *     serializing exactly the decode this query parallelizes, and it
    *     would do the same at any scale because descriptors stay tiny
    *     no matter how big the tiles they describe are. The classic
    *     cheap-rows/expensive-downstream case where the human, not AQE,
    *     knows the cost model.
    *  3. DECODE: each task RANGED-READS exactly its [pos, pos+len) slice
    *     (never the whole file) and runs the standalone tile-part decode
    *     — working memory is one 64x64-tile's samples.
    *  4. REASSEMBLE: per-channel tile sums partial-agg back to one row;
    *     only scalars cross the shuffle, never pixels.
    *
    * The DuckDB oracle recomputes width/height/tile-count and all three
    * channel sums from the staging arithmetic, so the hash match proves
    * the 18 independently-decoded tiles reassemble the exact image. */
  def l5hJp2TiledParallel(spark: SparkSession, dir: String): DataFrame =
    jp2TiledChannelSums(spark, stageBigJp2())

  /** Split-stage scaffolding shared by every ranged JP2 query (l5h, l5j,
    * l5k, l5l): the LISTING (path, length) feeds a per-file streamed
    * header walk over one open stream wrapped in a
    * [[graft.sources.jp2.Jp2Codec.CountingInput]] (so each query can
    * REQUIRE its byte contract), with one Hadoop Configuration per
    * PARTITION, not per file. The result of `f` is forced to a Vector
    * HERE, before the stream closes — the materialization contract is
    * enforced, not documented, so a call site returning a lazy
    * collection cannot read from a closed stream at task time. */
  private def jp2RangedSplit[T](listing: org.apache.spark.sql.Dataset[(String, Long)])(
      f: (String, Long, graft.sources.jp2.Jp2Codec.CountingInput) => Seq[T])(
      implicit enc: org.apache.spark.sql.Encoder[T]): org.apache.spark.sql.Dataset[T] =
    listing.mapPartitions { it =>
      val conf = new org.apache.hadoop.conf.Configuration()
      it.flatMap { case (p, fileLen) =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(conf)
        val stream = fs.open(hp)
        try f(p, fileLen, new graft.sources.jp2.Jp2Codec.CountingInput(
          new graft.sources.HadoopRangedInput(stream, fileLen))).toVector
        finally stream.close()
      }
    }

  /** Decode-stage ranged read keeping each range a SEPARATE slice (one
    * per tile-part, for [[graft.sources.jp2.Jp2Codec.decodeTileParts]]),
    * through ONE open stream per file. Forced to a Vector before the
    * stream closes. */
  /** The tile-descriptor exchange of the ranged-decode family (l5h, l5j,
    * l5k, l5l, l5n), one task slot per core: hashed on the scan's file name
    * within its staged directory and the tile, never on the full path,
    * which sits under a temp directory named anew by every JVM, so the
    * same rows land in the same partitions on every run. */
  private def jp2ByTile(tiles: DataFrame): DataFrame =
    tiles.repartition(tiles.sparkSession.sparkContext.defaultParallelism,
      substring_index(col("path"), "/", -1), col("tile"))

  private def jp2FetchSlices(conf: org.apache.hadoop.conf.Configuration, p: String,
      ranges: Seq[(Long, Long)]): Seq[Array[Byte]] = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(conf)
    val in = fs.open(hp)
    try ranges.map { case (from, until) =>
      val len = until - from
      require(len > 0 && len <= Int.MaxValue, s"$p: bad range [$from, $until)")
      val buf = new Array[Byte](len.toInt)
      in.readFully(from, buf, 0, len.toInt)
      buf
    }.toVector
    finally in.close()
  }

  /** Decode-stage ranged read: exactly the [from, until) slices of
    * `ranges`, concatenated, through ONE open stream per file. */
  private def jp2FetchRanges(conf: org.apache.hadoop.conf.Configuration, p: String,
      ranges: Seq[(Long, Long)]): Array[Byte] = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(conf)
    val total = ranges.map { case (a, b) => b - a }.sum
    require(total <= Int.MaxValue, s"$p: ranged read of $total B exceeds 2 GiB")
    val out = new Array[Byte](total.toInt)
    val in = fs.open(hp)
    try {
      var at = 0
      for ((from, until) <- ranges) {
        val n = (until - from).toInt
        in.readFully(from, out, at, n)
        at += n
      }
    } finally in.close()
    out
  }

  /** The l5h pipeline against any staged directory of `.jp2` scans —
    * `Jp2Spec` runs it on its own staged scans, and the committed
    * `JP2_SCALE_r*` speedups were measured on this code path at larger
    * scan sizes (so they are of THIS pipeline, not a lookalike). */
  private[graft] def jp2TiledChannelSums(spark: SparkSession, staged: String): DataFrame = {
    import spark.implicits._
    val tiles = jp2RangedSplit(
      spark.read.format("binaryFile").load(staged)
        .select($"path", $"length").as[(String, Long)] // listing only: content never read
    ) { (p, fileLen, in) =>
        val (hdr, spans) = graft.sources.jp2.Jp2Codec.tileParts(in)
        // the header-only contract, REQUIRED on every run: the walk
        // reads the main header + 14 B per SOT, never tile bodies
        require(in.bytesRead * 8 < fileLen,
          s"$p: split walk read ${in.bytesRead} B of $fileLen B — not header-only")
        // one row per TILE: a tile may span several tile-parts (TNsot>1),
        // so the payload is its parts' (pos, len) pairs in TPsot order —
        // the task fetches each part's slice and decodeTileParts regroups
        spans.groupBy(_.index).toSeq.map { case (isot, parts) =>
          (p, isot, parts.sortBy(_.part).flatMap(s => Seq(s.pos, s.len)),
            hdr.width, hdr.height, hdr.nc, hdr.xt, hdr.yt, hdr.useRct, hdr.levels,
            hdr.layers, hdr.irreversible, hdr.qShift)
        }
      }
      .toDF("path", "tile", "parts", "w", "h", "nc", "xt", "yt", "rct", "levels",
        "nlayers", "irrev", "qshift")
      .transform(jp2ByTile)
      .as[(String, Int, Seq[Long], Int, Int, Int, Int, Int, Boolean, Int, Int, Boolean, Int)]
    val perTile = tiles.mapPartitions { it =>
      val conf = new org.apache.hadoop.conf.Configuration()
      it.map { case (p, _, parts, w, h, nc, xt, yt, rct, levels, nlayers, irrev, qshift) =>
        val slices = jp2FetchSlices(conf, p,
          parts.grouped(2).map(r => (r(0), r(0) + r(1))).toSeq)
        val hdr = graft.sources.jp2.Jp2Codec.Header(w, h, nc, xt, yt, rct, levels, nlayers,
          irrev, qshift)
        val t = graft.sources.jp2.Jp2Codec.decodeTileParts(slices, hdr)
        (p, w.toLong, h.toLong,
          sumChannel(t.comps(0)), sumChannel(t.comps(1)), sumChannel(t.comps(2)))
      }
    }.toDF("path", "width", "height", "s0", "s1", "s2")
    perTile
      .groupBy($"path", $"width", $"height")
      .agg(count(lit(1)).as("n_tiles"),
        sum($"s0").as("sum_c0"), sum($"s1").as("sum_c1"), sum($"s2").as("sum_c2"))
      .select(element_at(split($"path", "/"), -1).as("file_name"),
        $"width", $"height", $"n_tiles", $"sum_c0", $"sum_c1", $"sum_c2")
  }

  /** L5j: the byte-level half of the thumbnail story — l5i showed the
    * reduced decode SKIPS the high-resolution packets; this query shows a
    * distributed thumbnail job never READS them from storage. The
    * encoder's PLT markers give per-packet lengths, so
    * [[graft.sources.jp2.Jp2Codec.tilePartsReduced]] truncates each
    * tile-part span to its low-resolution prefix (streamed header walk
    * over a [[graft.sources.HadoopRangedInput]] — the SPLIT stage itself
    * reads only the main header, 14 B per SOT, and each PLT segment,
    * never the file, so there is no binaryFile 2 GiB cap and no
    * executor-memory spike); tasks then ranged-read exactly those
    * prefixes and run the standalone reduced tile decode (grouped per
    * tile — a tile may span several tile-parts, with past-prefix parts
    * dropped from the span list entirely). An in-query require pins that
    * TOTAL bytes fetched — split walk plus prefixes — are under half the
    * scan (they are ~a quarter at d=2); the emitted thumbnail dims /
    * tile count are closed-form for the DuckDB oracle and the emitted
    * per-channel PIXEL sums are pinned twice: hash-matched against
    * frozen oracle constants AND required in-query to equal the
    * in-memory whole-file decodeReduced path (a different code path, so
    * a ranged-walk regression cannot cancel out). At 100 TB this is
    * the difference between a thumbnail pass that fetches the archive
    * and one that fetches its low-res fraction. */
  def l5jJp2ThumbnailRanged(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stageBigJp2()
    val discard = 2
    // reference thumbnail sums through the in-memory WHOLE-FILE decode —
    // a different code path from the ranged walk below, captured at plan
    // time so every run REQUIRES the two paths agree pixel-for-pixel
    // (sum-for-sum); the oracle additionally pins the values as constants
    val refSums = bigJp2ReducedSums
    val tiles = jp2RangedSplit(
      spark.read.format("binaryFile").load(staged)
        .select($"path", $"length").as[(String, Long)] // listing only: content never read
    ) { (p, fileLen, in) =>
        val (hdr, spans) = graft.sources.jp2.Jp2Codec.tilePartsReduced(in, discard)
        val prefixBytes = spans.map(_.len).sum
        // the whole-query byte contract: header walk + low-res
        // prefixes together stay a FRACTION of the scan
        require((in.bytesRead + prefixBytes) * 2 < fileLen,
          s"$p: walk ${in.bytesRead} B + prefixes $prefixBytes B not a fraction of $fileLen B")
        // one row per TILE; parts past the kept resolutions are already
        // dropped by the reduced walk, the boundary part PLT-truncated
        spans.groupBy(_.index).toSeq.map { case (isot, parts) =>
          (p, isot, parts.sortBy(_.part).flatMap(s => Seq(s.pos, s.len)),
            hdr.width, hdr.height, hdr.nc, hdr.xt, hdr.yt, hdr.useRct, hdr.levels,
            hdr.layers, hdr.irreversible, hdr.qShift)
        }
      }
      .toDF("path", "tile", "parts", "w", "h", "nc", "xt", "yt", "rct", "levels",
        "nlayers", "irrev", "qshift")
      .transform(jp2ByTile)
      .as[(String, Int, Seq[Long], Int, Int, Int, Int, Int, Boolean, Int, Int, Boolean, Int)]
    val perTile = tiles.mapPartitions { it =>
      val conf = new org.apache.hadoop.conf.Configuration()
      it.map { case (p, _, parts, w, h, nc, xt, yt, rct, levels, nlayers, irrev, qshift) =>
        val slices = jp2FetchSlices(conf, p, // ONLY the low-res prefixes
          parts.grouped(2).map(r => (r(0), r(0) + r(1))).toSeq)
        val hdr = graft.sources.jp2.Jp2Codec.Header(w, h, nc, xt, yt, rct, levels, nlayers,
          irrev, qshift)
        val t = graft.sources.jp2.Jp2Codec.decodeTileParts(slices, hdr, discard)
        (p, (t.x0 + t.width).toLong, (t.y0 + t.height).toLong,
          sumChannel(t.comps(0)), sumChannel(t.comps(1)), sumChannel(t.comps(2)))
      }
    }.toDF("path", "x1", "y1", "s0", "s1", "s2")
    perTile
      .groupBy($"path")
      .agg(count(lit(1)).as("n_tiles"),
        max($"x1").as("thumb_w"), max($"y1").as("thumb_h"),
        sum($"s0").as("sum_c0"), sum($"s1").as("sum_c1"), sum($"s2").as("sum_c2"))
      .select(element_at(split($"path", "/"), -1).as("file_name"),
        $"n_tiles", $"thumb_w", $"thumb_h", $"sum_c0", $"sum_c1", $"sum_c2")
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .map { row =>
        // the two-path pin: distributed ranged-prefix sums must equal the
        // in-memory whole-file decodeReduced sums computed at plan time
        require(row._5 == refSums(0) && row._6 == refSums(1) && row._7 == refSums(2),
          s"${row._1}: ranged thumbnail sums (${row._5},${row._6},${row._7}) diverge " +
            s"from the whole-file decode (${refSums.mkString(",")})")
        row
      }
      .toDF("file_name", "n_tiles", "thumb_w", "thumb_h", "sum_c0", "sum_c1", "sum_c2")
  }

  /** L5k: the QUALITY axis of the ranged-fetch story — l5j fetches only
    * the low-RESOLUTION prefix of each tile-part; l5k keeps every
    * resolution but fetches only the FIRST QUALITY LAYER's packets:
    * full-resolution output at reduced fidelity for the first-layer
    * fraction of the bytes (progressive-by-quality delivery from the
    * archival master — the other scalability axis JPEG 2000 exists for).
    * The split is the same streamed listing-driven header walk
    * ([[graft.sources.jp2.Jp2Codec.tilePartsQuality]]: PLT arithmetic,
    * no entropy work, never a body byte); under RLCP each resolution's
    * layer packets are consecutive, so the kept bytes are one merged
    * range per resolution. Tasks fetch ONLY those ranges, concatenate
    * the compacted slice, and run the standalone
    * [[graft.sources.jp2.Jp2Codec.decodeTilePartQuality]] — every
    * code-block truncated at its layer boundary, a valid pass-boundary
    * truncation point by construction. The in-query require pins walk +
    * fetched ranges under 3/4 of the scan; pixel correctness of the
    * compacted-slice quality decode (monotone fidelity, exact at
    * keep=layers) is pinned by Jp2CodecSpec, and the emitted full-res
    * extents / tile count are closed-form for the DuckDB oracle. */
  def l5kJp2QualityRanged(spark: SparkSession, dir: String): DataFrame = {
    // two arms per staged scan, one per keepLayers value: keep=1 is the
    // scalability story (first-layer fraction of the bytes, full-res
    // reduced-fidelity pixels whose sums the oracle pins as constants),
    // keep=2 (= layers) is the DEGENERATE arm whose pixels must equal
    // the full decode — its sums hash-match the same closed-form
    // arithmetic as l5h, so a quality-machinery corruption cannot hide
    // behind a weak oracle. The second scan (r20) carries a POC whose
    // first volume is exactly the layer-0 front (a rate-allocation
    // marker), threaded through the query's header carrier — the
    // quality walk and the compacted-slice decode both follow the
    // POC-aware packet order end to end through the oracle.
    l5kArm(spark, stageBigJp2(), keepLayers = 1)
      .unionAll(l5kArm(spark, stageBigJp2(), keepLayers = 2))
      .unionAll(l5kArm(spark, stagePocBigJp2(), keepLayers = 1))
      .unionAll(l5kArm(spark, stagePocBigJp2(), keepLayers = 2))
  }

  private def l5kArm(spark: SparkSession, staged: String, keepLayers: Int): DataFrame = {
    import spark.implicits._
    val tiles = jp2RangedSplit(
      spark.read.format("binaryFile").load(staged)
        .select($"path", $"length").as[(String, Long)] // listing only: content never read
    ) { (p, fileLen, in) =>
        val (hdr, parts) = graft.sources.jp2.Jp2Codec.tilePartsQuality(in, keepLayers)
        val fetch = parts.map(_.fetchBytes).sum
        // the byte contract: header walk + first-layer ranges together
        // stay a fraction of the scan (the dropped refinement layers
        // are the bulk of a lossless stream's bytes). The degenerate
        // keep == layers arm keeps everything by design — there the
        // contract is only that ranges never exceed the file.
        if (keepLayers < hdr.layers)
          require((in.bytesRead + fetch) * 4 < fileLen * 3,
            s"$p: walk ${in.bytesRead} B + layer-$keepLayers ranges $fetch B not a fraction of $fileLen B")
        else
          require(in.bytesRead + fetch <= fileLen * 2,
            s"$p: walk ${in.bytesRead} B + ranges $fetch B exceed the scan")
        parts.map(t => (p, t.index, t.ranges.flatMap(r => Seq(r._1, r._2)),
          hdr.width, hdr.height, hdr.nc, hdr.xt, hdr.yt, hdr.useRct, hdr.levels,
          hdr.layers, hdr.irreversible, hdr.qShift,
          // POC volumes travel WITH the header (r20): 6 ints per entry,
          // so the compacted-slice decode follows the stream's actual
          // POC-aware packet order instead of guarding it away
          hdr.poc.flatMap(e => Seq(e.rs, e.cs, e.lye, e.re, e.ce, e.prog))))
      }
      .toDF("path", "tile", "ranges", "w", "h", "nc", "xt", "yt", "rct", "levels",
        "nlayers", "irrev", "qshift", "poc")
      .transform(jp2ByTile)
      .as[(String, Int, Seq[Long], Int, Int, Int, Int, Int, Boolean, Int, Int, Boolean, Int, Seq[Int])]
    val perTile = tiles.mapPartitions { it =>
      val conf = new org.apache.hadoop.conf.Configuration()
      it.map { case (p, _, ranges, w, h, nc, xt, yt, rct, levels, nlayers, irrev, qshift, pocFlat) =>
        // flattened (from, until) pairs -> one compacted slice
        val slice = jp2FetchRanges(conf, p,
          ranges.grouped(2).map(r => (r(0), r(1))).toSeq)
        val poc = pocFlat.grouped(6).map(e =>
          graft.sources.jp2.Jp2Codec.PocEntry(e(0), e(1), e(2), e(3), e(4), e(5))).toSeq
        val hdr = graft.sources.jp2.Jp2Codec.Header(w, h, nc, xt, yt, rct, levels, nlayers,
          irrev, qshift, poc = poc)
        val t = graft.sources.jp2.Jp2Codec.decodeTilePartQuality(slice, hdr, keepLayers)
        (p, (t.x0 + t.width).toLong, (t.y0 + t.height).toLong,
          sumChannel(t.comps(0)), sumChannel(t.comps(1)), sumChannel(t.comps(2)))
      }
    }.toDF("path", "x1", "y1", "s0", "s1", "s2")
    perTile
      .groupBy($"path")
      .agg(count(lit(1)).as("n_tiles"),
        max($"x1").as("width"), max($"y1").as("height"),
        sum($"s0").as("sum_c0"), sum($"s1").as("sum_c1"), sum($"s2").as("sum_c2"))
      .select(element_at(split($"path", "/"), -1).as("file_name"),
        lit(keepLayers.toLong).as("keep_layers"),
        $"n_tiles", $"width", $"height", $"sum_c0", $"sum_c1", $"sum_c2")
  }

  /** L5l: REGION (crop) fetch from the archival master — the IIIF
    * region request the reference rents from data.kb.se's image server
    * (01-scrape-images.py:271 extracts IIIF ids; the Image API's
    * `{id}/{region}/{size}/...` shape serves exactly this), done
    * engine-side: tiles are independently entropy-coded rectangles, so a
    * clipping of a scan needs ONLY the tile-parts whose grid rectangle
    * intersects the crop. The streamed split walks the Psot chain
    * (header-only, required), keeps just the intersecting spans, and
    * REQUIRES their bytes stay proportional to the cropped tile area;
    * tasks ranged-read those tile-parts, decode standalone, clip to the
    * crop, and emit per-channel partial sums — so the oracle hash-match
    * is over the crop's ACTUAL DECODED PIXELS (closed-form staging
    * arithmetic over the crop rows/cols), not just extents. At 100 TB
    * this is "fetch a clipping from every gigapixel page" at the
    * clipping's fraction of the bytes. */
  def l5lJp2RegionRanged(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stageBigJp2()
    // the clipping, in pixels of the 384x192 scan: touches tiles (1..2,1..2)
    val (cx0, cy0, cw, chh) = (70, 70, 120, 60)
    val tiles = jp2RangedSplit(
      spark.read.format("binaryFile").load(staged)
        .select($"path", $"length").as[(String, Long)] // listing only: content never read
    ) { (p, fileLen, in) =>
        val (hdr, spans) = graft.sources.jp2.Jp2Codec.tileParts(in)
        require(in.bytesRead * 8 < fileLen,
          s"$p: split walk read ${in.bytesRead} B of $fileLen B — not header-only")
        val kept = spans.filter { s =>
          val tx0 = (s.index % hdr.ntx) * hdr.xt; val ty0 = (s.index / hdr.ntx) * hdr.yt
          tx0 < cx0 + cw && cx0 < tx0 + hdr.xt && ty0 < cy0 + chh && cy0 < ty0 + hdr.yt
        }
        // the region contract: fetched tile-parts stay proportional to
        // the cropped tile footprint, never the scan (2x slack for
        // per-tile compression variance)
        val keptBytes = kept.map(_.len).sum
        val totalBytes = spans.map(_.len).sum
        require(keptBytes * spans.length <= 2L * totalBytes * kept.length,
          s"$p: ${kept.length}/${spans.length} tile-parts but $keptBytes/$totalBytes B")
        // one row per intersecting TILE, carrying all its parts' spans
        kept.groupBy(_.index).toSeq.map { case (isot, parts) =>
          (p, isot, parts.sortBy(_.part).flatMap(s => Seq(s.pos, s.len)),
            hdr.width, hdr.height, hdr.nc, hdr.xt, hdr.yt, hdr.useRct, hdr.levels,
            hdr.layers, hdr.irreversible, hdr.qShift)
        }
      }
      .toDF("path", "tile", "parts", "w", "h", "nc", "xt", "yt", "rct", "levels",
        "nlayers", "irrev", "qshift")
      .transform(jp2ByTile)
      .as[(String, Int, Seq[Long], Int, Int, Int, Int, Int, Boolean, Int, Int, Boolean, Int)]
    val perTile = tiles.mapPartitions { it =>
      val conf = new org.apache.hadoop.conf.Configuration()
      it.map { case (p, _, parts, w, h, nc, xt, yt, rct, levels, nlayers, irrev, qshift) =>
        val slices = jp2FetchSlices(conf, p,
          parts.grouped(2).map(r => (r(0), r(0) + r(1))).toSeq)
        val hdr = graft.sources.jp2.Jp2Codec.Header(w, h, nc, xt, yt, rct, levels, nlayers,
          irrev, qshift)
        val t = graft.sources.jp2.Jp2Codec.decodeTileParts(slices, hdr)
        // clip the decoded tile to the crop and sum channels over it
        val ix0 = math.max(cx0, t.x0); val ix1 = math.min(cx0 + cw, t.x0 + t.width)
        val iy0 = math.max(cy0, t.y0); val iy1 = math.min(cy0 + chh, t.y0 + t.height)
        val sums = new Array[Long](3)
        var c = 0
        while (c < nc) {
          var y = iy0
          while (y < iy1) {
            var x = ix0
            while (x < ix1) {
              sums(c) += t.comps(c)((y - t.y0) * t.width + (x - t.x0))
              x += 1
            }
            y += 1
          }
          c += 1
        }
        (p, sums(0), sums(1), sums(2))
      }
    }.toDF("path", "s0", "s1", "s2")
    perTile
      .groupBy($"path")
      .agg(count(lit(1)).as("n_tiles_fetched"),
        sum($"s0").as("sum_c0"), sum($"s1").as("sum_c1"), sum($"s2").as("sum_c2"))
      .select(element_at(split($"path", "/"), -1).as("file_name"),
        $"n_tiles_fetched", $"sum_c0", $"sum_c1", $"sum_c2")
  }

  /** Synthesize three PRECINCT-PARTITIONED scans (staged once per JVM):
    * 768x384 RGB, two 384-tiles each split in 2 tile-parts, 2 quality
    * layers, 32x32 precincts on every resolution (Scod bit 0, the
    * Kakadu-style random-access profile real archival masters carry) —
    * page_0 in the auto RLCP order, page_1 (r18) in RPCL, the
    * resolution-major position order that profile actually ships in,
    * page_2 (r20) under a POC resolution handoff (RPCL -> RLCP).
    * Pixel formulas are the l5h/l5j family so the oracle is closed-form. */
  private[graft] def stagePrecinctJp2(): String =
    staged("l5n_jp2", "") { dir =>
      val (w, h) = (768, 384)
      // page_0: the r17 profile (auto RLCP); page_1 (r18): the SAME
      // random-access shape in RPCL — the resolution-major position
      // order real Kakadu masters actually pair precincts with, so the
      // region walker's packet arithmetic is hash-covered on both
      // orders. Distinct per-page pixel formulas keep the closed-form
      // oracle rows discriminating.
      // page_2 (r20): the same random-access shape under a POC — a
      // resolution handoff RPCL -> RLCP (the allocator re-ordered the
      // high resolutions), so the precinct-region walk's packet
      // arithmetic is hash-covered under progression-order CHANGES too,
      // with the volumes threaded through the query's header carrier
      import graft.sources.jp2.Jp2Codec.{PocEntry, RPCL, RLCP}
      for ((prog, idx) <- Seq(-1 -> 0, RPCL -> 1, -1 -> 2)) {
        val comps = Array.tabulate(3) { c =>
          Array.tabulate(w * h)(j =>
            if (idx == 0) ((j % w) * (7 + 2 * c) + (j / w) * 11 + c * 29) % 256
            else if (idx == 1) ((j % w) * (8 + 3 * c) + (j / w) * 13 + c * 31) % 256
            else ((j % w) * (10 + 5 * c) + (j / w) * 19 + c * 41) % 256)
        }
        val cs = graft.sources.jp2.Jp2Codec.encode(w, h, comps, levels = 3,
          tileSize = 384, layers = 2,
          // page_2 is one part per tile: the encoder's resolution-
          // boundary split needs a global resolution-major order, which
          // its POC breaks — the region walk under test is unaffected
          partsPerTile = if (idx == 2) 1 else 2, precinctExp = 5,
          prog = prog,
          poc = if (idx == 2) Seq(
            PocEntry(0, 0, 2, 2, 3, RPCL), PocEntry(2, 0, 2, 4, 3, RLCP)) else Nil)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/page_$idx.jp2"),
          graft.sources.Jp2Box.buildContainer(w, h, cs))
      }
    }

  /** L5n: PRECINCT-granular region fetch — the reason precincts exist
    * (B.6): l5l fetches whole TILE-parts intersecting the crop; on a
    * precinct-partitioned master the split keeps only the PACKETS of
    * precincts inside the crop dilated by the inverse-DWT dependency
    * margin ([[graft.sources.jp2.Jp2Codec.tilePartsRegion]]: PLT
    * arithmetic over the streamed header walk, never a body byte), so a
    * crop of a gigapixel page fetches the crop's fraction of BYTES even
    * when tiles are huge. Tasks ranged-read the kept ranges, run the
    * precinct-filtered [[graft.sources.jp2.Jp2Codec.decodeTileRegion]]
    * (skipped precincts stay zero; the margin makes every pixel INSIDE
    * the crop bit-exact — pinned by Jp2CodecSpec), clip, and emit
    * per-channel sums the oracle recomputes closed-form from the staging
    * arithmetic — the hash is over the crop's actual decoded pixels. The
    * in-query require pins walk + fetch under half the scan (the crop is
    * ~10% of the pixels; tile-granular fetch would need 100% — both
    * tiles intersect the crop). */
  def l5nJp2PrecinctRegion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stagePrecinctJp2()
    // the clipping spans both 384-tiles: x 300..539, y 140..259 (~10%
    // of the pixels; the dilation margin amortizes at this tile size)
    val (cx0, cy0, cx1, cy1) = (300, 140, 540, 260)
    val tiles = jp2RangedSplit(
      spark.read.format("binaryFile").load(staged)
        .select($"path", $"length").as[(String, Long)] // listing only: content never read
    ) { (p, fileLen, in) =>
        val (hdr, parts) = graft.sources.jp2.Jp2Codec.tilePartsRegion(in, cx0, cy0, cx1, cy1)
        val fetch = parts.map(_.fetchBytes).sum
        // precinct-granularity contract: header walk + kept packet ranges
        // stay under half the scan even though EVERY tile intersects the
        // crop (tile-granular fetch would read the whole file)
        require((in.bytesRead + fetch) * 2 < fileLen,
          s"$p: walk ${in.bytesRead} B + region ranges $fetch B not a fraction of $fileLen B")
        parts.map(t => (p, t.index, t.ranges.flatMap(r => Seq(r._1, r._2)),
          hdr.width, hdr.height, hdr.nc, hdr.xt, hdr.yt, hdr.useRct, hdr.levels,
          hdr.layers, hdr.pp, hdr.prog,
          // POC volumes travel WITH the header (r20): 6 ints per entry —
          // page_2's resolution handoff must drive the compacted-slice
          // walk, not be silently dropped by a scalar-only carrier
          hdr.poc.flatMap(e => Seq(e.rs, e.cs, e.lye, e.re, e.ce, e.prog))))
      }
      .toDF("path", "tile", "ranges", "w", "h", "nc", "xt", "yt", "rct", "levels",
        "nlayers", "pp", "prog", "poc")
      .transform(jp2ByTile)
      .as[(String, Int, Seq[Long], Int, Int, Int, Int, Int, Boolean, Int, Int, Int, Int, Seq[Int])]
    val perTile = tiles.mapPartitions { it =>
      val conf = new org.apache.hadoop.conf.Configuration()
      it.map { case (p, _, ranges, w, h, nc, xt, yt, rct, levels, nlayers, pp, prog, pocFlat) =>
        val slice = jp2FetchRanges(conf, p,
          ranges.grouped(2).map(r => (r(0), r(1))).toSeq)
        // prog and poc travel with the header fields: the compacted-slice
        // walk must follow the STREAM's packet order (page_1 is RPCL,
        // page_2 a POC resolution handoff)
        val poc = pocFlat.grouped(6).map(e =>
          graft.sources.jp2.Jp2Codec.PocEntry(e(0), e(1), e(2), e(3), e(4), e(5))).toSeq
        val hdr = graft.sources.jp2.Jp2Codec.Header(w, h, nc, xt, yt, rct, levels,
          nlayers, pp = pp, prog = prog, poc = poc)
        val t = graft.sources.jp2.Jp2Codec.decodeTileRegion(slice, hdr, cx0, cy0, cx1, cy1)
        val ix0 = math.max(cx0, t.x0); val ix1 = math.min(cx1, t.x0 + t.width)
        val iy0 = math.max(cy0, t.y0); val iy1 = math.min(cy1, t.y0 + t.height)
        val sums = new Array[Long](3)
        var c = 0
        while (c < nc) {
          var y = iy0
          while (y < iy1) {
            var x = ix0
            while (x < ix1) {
              sums(c) += t.comps(c)((y - t.y0) * t.width + (x - t.x0))
              x += 1
            }
            y += 1
          }
          c += 1
        }
        (p, sums(0), sums(1), sums(2))
      }
    }.toDF("path", "s0", "s1", "s2")
    perTile
      .groupBy($"path")
      .agg(count(lit(1)).as("n_tiles_fetched"),
        sum($"s0").as("sum_c0"), sum($"s1").as("sum_c1"), sum($"s2").as("sum_c2"))
      .select(element_at(split($"path", "/"), -1).as("file_name"),
        $"n_tiles_fetched", $"sum_c0", $"sum_c1", $"sum_c2")
  }

  /** Synthesize 11 LOSSY (9/7 + ICT + scalar quantization) JPEG 2000
    * scans (staged once per JVM) — the dominant profile of real archival
    * masters (visually-lossless derivatives) — mixing untiled/tiled,
    * 1/2 quality layers, 1/2 tile-parts AND (r17) the three spec QCD
    * shapes: files 0-3 the uniform step (qShift = -2 → step 4), file 4
    * the norm-weighted per-band expounded QCD (nonzero mantissas,
    * non-uniform exponents — the shape Kakadu/OpenJPEG masters carry),
    * file 5 the style-1 scalar-derived signalling, file 6 QCC chroma
    * overrides (luma step 4, chroma step 8 — coarse chroma, the
    * classic archival rate split). Pixel values are the
    * same coordinate arithmetic family as l5g, so a task can regenerate
    * the EXACT original for error measurement. Alongside the directory,
    * the memo carries each scan's LOSSLESS (reversible 5/3)
    * encoding size, the in-query compression baseline. r18b appends
    * file 7 (2x2 64-px tiles, PER-TILE QCD retunes — tile 0 at the
    * main step 4, tiles 1-3 re-signaled via tile-part-0 QCD to steps
    * 2/1/8: the A.6.4 per-tile precedence running distributed) and
    * file 8 (COC chroma decomposition levels 1 under COD levels 3 with
    * per-component QCC sizing — the A.6.2 shape). r19 appends file 9:
    * a main-header POC (A.6.6) on a tiled 2-layer master — layer 0
    * delivered RLCP, then the refinement layer LRCP — the progression
    * handoff rate-allocating encoders (Kakadu masters) signal POC for;
    * the packet walk follows the POC volumes, not the COD order. r19
    * also appends file 10: a TNsot = 0 stream (A.4.2 "count not
    * specified" — the streaming-writer shape): a 2-tile-part scan
    * whose SOT count bytes are erased post-encode, so the per-tile
    * part count resolves by observation off the EOC-terminated Psot
    * chain and completeness rides Tier-2's exact packet accounting
    * (hand fixture Y pins the missing-tail boundary). */
  private[graft] lazy val lossyJp2s: (String, Map[String, Long]) = {
    val dir = tempDir("l5m_jp2")
    val sizes = (0 until 11).map { i =>
      val (w, h) = (64 + (17 * i) % 97, 48 + (23 * i) % 89)
      val comps = lossyJp2Comps(w, h, i)
      val cs0 = graft.sources.jp2.Jp2Codec.encode(w, h, comps,
        tileSize = if (i % 2 == 1) 64 else 0,
        layers = if (i == 2 || i == 9) 2 else 1,
        partsPerTile = if (i == 3 || i == 10) 2 else 1,
        irreversible = true, qShift = if (i == 5) 0 else -2,
        quantMode = i match { case 4 => "norms"; case 5 => "derived"; case _ => "uniform" },
        chromaQShift = if (i == 6) -3 else 99,
        tileQShifts = if (i == 7) Seq(-2, -1, 0, -3) else null,
        chromaLevels = if (i == 8) 1 else -1,
        poc = if (i == 9) Seq(
          graft.sources.jp2.Jp2Codec.PocEntry(0, 0, 1, 4, 3, graft.sources.jp2.Jp2Codec.RLCP),
          graft.sources.jp2.Jp2Codec.PocEntry(0, 0, 2, 4, 3, graft.sources.jp2.Jp2Codec.LRCP))
        else Nil)
      // file 10: author the foreign streaming-writer shape — every
      // SOT's TNsot byte erased to 0 (pixels and lengths unchanged)
      val cs = if (i == 10) graft.sources.jp2.Jp2Codec.eraseTnsot(cs0) else cs0
      val name = s"lossy_$i.jp2"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/$name"),
        graft.sources.Jp2Box.buildContainer(w, h, cs))
      // container-to-container: binaryFile's length below is the lossy
      // CONTAINER's, so the baseline must carry the same box framing
      val lossless = graft.sources.Jp2Box.buildContainer(w, h,
        graft.sources.jp2.Jp2Codec.encode(w, h, comps,
          tileSize = if (i % 2 == 1) 64 else 0))
      name -> lossless.length.toLong
    }.toMap
    (dir, sizes)
  }

  /** The l5m staging arithmetic, regenerable from the file index alone. */
  private def lossyJp2Comps(w: Int, h: Int, i: Int): Array[Array[Int]] =
    Array.tabulate(3) { c =>
      Array.tabulate(w * h)(j => ((j % w) * (5 + 2 * c) + (j / w) * 13 + i * 17 + c * 37) % 256)
    }

  /** L5m: LOSSY archival-master decode — the 9/7 irreversible transform
    * + scalar quantization, the one remaining profile gate a real KB
    * corpus (data.kb.se serves lossy derivatives) would have tripped on
    * the l5 family until r16. Whole-file decode on executors (l5g
    * shape); each task REGENERATES the exact original from the file
    * index (staging arithmetic) and measures the reconstruction error
    * in-query, so the emitted columns are PIXEL-dependent:
    * `max_err` / `mean_err_ppm` are deterministic integers (strictfp
    * double math + deterministic quantization) hash-matched against
    * frozen oracle values, and an in-task require bounds them — a
    * codec regression beyond tolerance fails the run, a subtler pixel
    * drift fails the hash. `smaller_than_lossless` pins the point of
    * the profile: the lossy stream must undercut the reversible 5/3
    * encoding of the same pixels. */
  def l5mJp2LossyDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (staged, losslessBytes) = lossyJp2s
    spark.read.format("binaryFile").load(staged)
      .select(element_at(split($"path", "/"), -1).as("file_name"), $"content", $"length")
      .as[(String, Array[Byte], Long)]
      .mapPartitions { it =>
        it.map { case (name, bytes, streamLen) =>
          val i = name.stripPrefix("lossy_").stripSuffix(".jp2").toInt
          val hdr = graft.sources.jp2.Jp2Codec.header(bytes)
          require(hdr.irreversible, s"$name: expected the lossy 9/7 profile, got $hdr")
          // per-file QCD-shape contract: the uniform files pin the step,
          // file 4 must really be non-uniform with mantissas, file 5 must
          // carry exactly the E-5 derived expansion
          i match {
            case 4 => require(hdr.q.mu.exists(_ != 0) && hdr.q.eps.distinct.size >= 2,
              s"$name: expected the norm-weighted non-uniform QCD, got ${hdr.q}")
            case 5 => require(hdr.q == graft.sources.jp2.Jp2Codec.Quant.derived(hdr.levels, 3, 8, 1024),
              s"$name: expected the scalar-derived QCD, got ${hdr.q}")
            case 6 => require(hdr.qShift == -2 && hdr.qcc.keySet == Set(1, 2) &&
              hdr.qFor(1).eps(0) == 8 - 3,
              s"$name: expected QCC chroma overrides (eps 5), got ${hdr.qcc}")
            case 7 => require(hdr.qShift == -2 && hdr.ntx * hdr.nty == 4,
              s"$name: expected the 4-tile per-tile-QCD scan at main qShift -2, got $hdr")
            case 8 => require(hdr.coc.keySet == Set(1, 2) &&
              hdr.levelsFor(1) == 1 && hdr.levelsFor(0) == 3 &&
              hdr.qcc.keySet == Set(1, 2) && hdr.qcc(1).eps.length == 4,
              s"$name: expected COC chroma levels 1 with per-component QCC, got $hdr")
            case 9 => require(hdr.qShift == -2 && hdr.layers == 2 &&
              hdr.poc == Seq(
                graft.sources.jp2.Jp2Codec.PocEntry(0, 0, 1, 4, 3, graft.sources.jp2.Jp2Codec.RLCP),
                graft.sources.jp2.Jp2Codec.PocEntry(0, 0, 2, 4, 3, graft.sources.jp2.Jp2Codec.LRCP)),
              s"$name: expected the 2-volume POC master, got $hdr")
            case 10 =>
              // the raw SOT bytes must really carry TNsot = 0 (the
              // foreign streaming-writer shape), and the walk must have
              // resolved the observed count to 2
              val spans = graft.sources.jp2.Jp2Codec.tileParts(bytes)
              require(hdr.qShift == -2 && spans.length == 2 &&
                spans.forall(s => bytes(s.pos.toInt + 11) == 0) &&
                spans.forall(_.nparts == 2),
                s"$name: expected a TNsot=0 2-part stream resolved by observation")
            case _ => require(hdr.qShift == -2, s"$name: expected qShift -2, got $hdr")
          }
          val img = graft.sources.jp2.Jp2Codec.decode(bytes)
          val orig = lossyJp2Comps(img.width, img.height, i)
          var maxErr = 0L
          var absSum = 0L
          var c = 0
          while (c < 3) {
            val a = img.comps(c); val b = orig(c)
            var j = 0
            while (j < a.length) {
              val e = math.abs(a(j) - b(j)).toLong
              if (e > maxErr) maxErr = e
              absSum += e
              j += 1
            }
            c += 1
          }
          val meanPpm = absSum * 1000000L / (3L * img.width * img.height)
          // the tolerance contract: step-4 quantization stays visually
          // bounded — beyond this is a codec defect, not "lossy". The
          // derived profile (file 5) quantizes fine detail coarsely by
          // design (step doubles per finer resolution), so its bound is
          // wider but still a defect gate.
          val (maxTol, ppmTol) =
            if (i == 5 || i == 6 || i == 7) (64L, 8000000L) else (32L, 4000000L)
          require(maxErr <= maxTol && meanPpm <= ppmTol,
            s"$name: lossy reconstruction out of tolerance (maxErr=$maxErr, meanPpm=$meanPpm)")
          (name, img.width.toLong, img.height.toLong, maxErr, meanPpm,
            streamLen < losslessBytes(name))
        }
      }
      .toDF("file_name", "width", "height", "max_err", "mean_err_ppm",
        "smaller_than_lossless")
  }

  /** Synthesize 4 REAL 16-bit mono PCM WAVs (staged once per JVM): sample
    * k of file i is `((k * 37 + i * 11) % 2048) - 1024` — integer-exact
    * and index-determined, so decoded features are oracle arithmetic. */
  private[graft] def stageWavs(): String =
    staged("l5d_wavs", "") { dir =>
      (0 until 4).foreach { i =>
        val n = 4000 + i * 1000
        val pcm = new Array[Byte](n * 2)
        (0 until n).foreach { k =>
          val s = ((k * 37 + i * 11) % 2048) - 1024
          pcm(2 * k) = (s & 0xff).toByte          // little-endian 16-bit
          pcm(2 * k + 1) = ((s >> 8) & 0xff).toByte
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE,
          new java.io.File(s"$dir/clip_$i.wav"))
      }
    }

  /** L5d: audio feature extraction — the audio leg of the multimodal tier:
    * REAL WAV decode through `javax.sound.sampled` (PCM is lossless, so
    * the samples round-trip bit-exactly), then per-clip features computed
    * from the decoded frames: sample count, integer sum of squares (the
    * energy numerator), and peak amplitude. Every emitted number is a pure
    * function of the synthesis formula, so the WHOLE encode → container →
    * decode → feature chain hash-matches a DuckDB generate_series oracle —
    * a faked decoder cannot pass. Same partition-local typed shape as the
    * image legs (L5/L5c). */
  def l5dAudioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stageWavs()
    spark.read.format("binaryFile").load(staged)
      .select(element_at(split($"path", "/"), -1).as("file_name"), $"content")
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (name, bytes) =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val pcm = ais.readAllBytes()
          val n = pcm.length / 2
          var sumSq = 0L
          var peak = 0L
          var k = 0
          while (k < n) {
            val s = ((pcm(2 * k) & 0xff) | (pcm(2 * k + 1).toInt << 8)).toShort.toLong
            sumSq += s * s
            if (math.abs(s) > peak) peak = math.abs(s)
            k += 1
          }
          (name, n.toLong, sumSq, peak)
        }
      }
      .toDF("file_name", "n_samples", "sum_sq", "peak")
  }

  /** L5f: voice-activity segmentation — the audio-structure leg of the
    * multimodal tier (l5d extracts per-clip scalars; this finds WHERE the
    * signal is, the pre-step to ASR/caption alignment in a training
    * pipeline): REAL WAV decode (same javax.sound path as l5d), 200-sample
    * frames with integer energy computed partition-locally (samples never
    * leave the decoder stage — 35 frame rows per corpus do, the decode →
    * frame-metric contraction that makes audio tractable relationally),
    * then activity = frame energy above the clip mean (integer
    * cross-multiplication `fss × n_frames > total_ss`, no division) and
    * gaps-and-islands over one file exchange turns active frames into
    * `[seg_start, seg_end]` segments. Every number is a pure function of
    * the synthesis formula, so the full encode → decode → frame → segment
    * chain hash-matches a DuckDB generate_series oracle. */
  def l5fVadSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stageWavs()
    val frames = spark.read.format("binaryFile").load(staged)
      .select(element_at(split($"path", "/"), -1).as("file_name"), $"content")
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (name, bytes) =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val pcm = ais.readAllBytes()
          val n = pcm.length / 2
          (0 until n).grouped(200).zipWithIndex.map { case (ks, fi) =>
            var fss = 0L
            ks.foreach { k =>
              val s = ((pcm(2 * k) & 0xff) | (pcm(2 * k + 1).toInt << 8)).toShort.toLong
              fss += s * s
            }
            (name, fi.toLong, fss)
          }
        }
      }
      .toDF("file_name", "frame_idx", "frame_ss")
    val wFile = org.apache.spark.sql.expressions.Window.partitionBy($"file_name")
    val active = frames
      .withColumn("total_ss", sum($"frame_ss").over(wFile))
      .withColumn("n_frames", count(lit(1)).over(wFile))
      .filter($"frame_ss" * $"n_frames" > $"total_ss")
    val wOrd = wFile.orderBy($"frame_idx")
    active
      .withColumn("grp", $"frame_idx" - row_number().over(wOrd))
      .groupBy($"file_name", $"grp")
      .agg(min($"frame_idx").as("seg_start"), max($"frame_idx").as("seg_end"),
        count(lit(1)).as("n_active_frames"))
      .select($"file_name", $"seg_start", $"seg_end", $"n_active_frames")
  }

  /** Synthesize REAL JPEGs for the perceptual-hash dedup (staged once per
    * JVM): each base image is an 8×8 block pattern scaled up (block
    * brightness a per-image integer formula — coarse structure survives
    * JPEG quantization), and each `dup_i` is its decode → re-encode
    * near-duplicate: pixel-drifted by a second lossy pass, NOT
    * byte-identical, which is exactly what exact-hash dedup (l1) misses
    * and perceptual hashing must catch. */
  private[graft] def stagePhashJpegs(): String =
    staged("l5e_phash", "") { dir =>
      (0 until 8).foreach { i =>
        val (w, h) = (96 + 8 * i, 80 + 8 * ((i * 3) % 5))
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) {
          val bx = x * 8 / w
          val by = y * 8 / h
          val v = ((bx * 13 + by * 29) * (i + 3) + i * 97) % 251
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
        javax.imageio.ImageIO.write(img, "jpg", new java.io.File(s"$dir/img_$i.jpg"))
        val back = javax.imageio.ImageIO.read(new java.io.File(s"$dir/img_$i.jpg"))
        javax.imageio.ImageIO.write(back, "jpg", new java.io.File(s"$dir/dup_$i.jpg"))
      }
    }

  /** L5e: image near-dedup by perceptual hash — the image leg of the
    * dedup families (exact l1, text-MinHash l2, SimHash l24, embedding
    * l9): REAL JPEG decode (JDK ImageIO) → 8×8 grayscale average → 64-bit
    * aHash (bit = cell above mean) inside a typed partition-local stage —
    * pixels never leave the executor, 8 bytes per image do. Candidate
    * pairs form ONLY inside 16-bit band buckets (4 bands; pigeonhole:
    * hamming ≤ 3 guarantees an intact band), then the exact
    * `bit_count(xor)` filter keeps pairs within distance 10 — the same
    * never-all-pairs shape as l24 at 100 TB. Re-encoded near-duplicates
    * land at hamming ≈ 0-3, distinct block patterns at ≈ 32: planted
    * `dup_i ↔ img_i` pairs and nothing else (pinned by RecallSpec; the
    * decode step has no SQL equivalent, so the driver check is rows-only
    * by design). */
  def l5eImagePhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stagePhashJpegs()
    val hashes = spark.read.format("binaryFile").load(staged)
      .select(element_at(split($"path", "/"), -1).as("file_name"), $"content")
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (name, bytes) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          val (w, h) = (img.getWidth, img.getHeight)
          val sums = new Array[Long](64)
          val counts = new Array[Long](64)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val gray = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              val cell = (y * 8 / h) * 8 + (x * 8 / w)
              sums(cell) += gray
              counts(cell) += 1
              x += 1
            }
            y += 1
          }
          val avgs = Array.tabulate(64)(c => sums(c).toDouble / counts(c))
          val mean = avgs.sum / 64
          var hash = 0L
          var c = 0
          while (c < 64) {
            if (avgs(c) > mean) hash |= (1L << c)
            c += 1
          }
          (name, hash)
        }
      }
      .toDF("file_name", "phash")
    val banded = hashes.select($"file_name", $"phash",
      explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("bval", expr("shiftrightunsigned(phash, cast(b * 16 as int)) & 65535"))
    val other = banded.select($"file_name".as("b_name"), $"phash".as("b_hash"),
      $"b", $"bval")
    banded.join(other, Seq("b", "bval"))
      .filter($"file_name" < $"b_name")
      .select($"file_name".as("a_name"), $"b_name",
        expr("cast(bit_count(phash ^ b_hash) as bigint)").as("hamming"))
      .distinct()
      .filter($"hamming" <= 10)
  }

  /** L5b: frame sampling — one input asset fans out to N sampled frames
    * (the video/audio analog of page explosion): a typed flatMap emitting
    * (frame_idx, byte_offset) rows per asset. The real frame decoder is
    * stubbed like the rest of L5 (deterministic count from the byte
    * length); the Spark-side shape — flatMap cardinality change, schema,
    * partition-local work — is real and oracle-checked. */
  def l5bFrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    s3BinarySource(spark, dir).as[(String, Long, String)]
      .flatMap { case (name, nBytes, _) =>
        val n = math.max(math.min(nBytes / 8, 4), 1)
        (0L until n).map(i => (name, i, i * 8))
      }
      .toDF("file_name", "frame_idx", "byte_offset")
  }

  /** Stage two document snapshots whose schemas DIFFER: v1 (even doc_ids)
    * was written before the `source`/`n_chars` columns existed, v2 (odd
    * doc_ids) carries the widened schema. One directory, two generations —
    * the layout every long-lived 100 TB corpus converges to. */
  private[graft] def stageEvolvedDocs(spark: SparkSession, dir: String): String =
    staged("s33_evo", dir) { out =>
      import spark.implicits._
      val d = documents(spark, dir)
      d.filter($"doc_id" % 2 === 0).select($"doc_id", $"text", $"lang")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/gen=v1")
      d.filter($"doc_id" % 2 =!= 0)
        .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/gen=v2")
    }

  /** S33: schema-evolution read — a single mergeSchema scan unifies both
    * generations (old files surface the new columns as NULL), and the
    * query normalizes them with explicit defaults. At 100 TB, schema drift
    * across years of snapshots is the norm; the alternative — rewriting
    * the old generation — is a full-corpus write this read avoids. The
    * footer-schema merge happens at PLANNING time over file metadata, not
    * by scanning data. Output is per-(generation, lang) doc counts plus
    * how many rows needed the default, so the oracle pins both the merge
    * and the null semantics. */
  def s33SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stageEvolvedDocs(spark, dir)
    spark.read.option("mergeSchema", "true").parquet(staged)
      .select($"gen",  $"lang",
        coalesce($"source", lit("unknown")).as("source_norm"),
        $"source".isNull.as("defaulted"))
      .groupBy($"gen", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"defaulted", 1L).otherwise(0L)).as("n_defaulted"),
        countDistinct($"source_norm").as("n_sources"))
  }

  /** S34: compression-codec roundtrip — the storage-tuning decision every
    * archive layer makes (zstd for cold shards, snappy for hot ones),
    * verified END TO END: the same projection is written once per codec
    * and each variant is read back through its own decoder, with the
    * oracle pinning that every row and every value survives both
    * encodings bit-for-bit (per-codec count, integer key sum, decimal-
    * stabilized quantity sum — identical across codecs and equal to the
    * source). Codec choice is a pure `option("compression", …)` on the
    * writer; the scan path auto-detects per-file from parquet metadata,
    * so mixed-codec directories (a live migration) read transparently.
    *
    * Scale (100 TB): codec is per-file — the write parallelizes like any
    * partitioned sink and nothing about the plan changes; the re-read
    * aggregate is one partial+final agg per variant. The spec pins the
    * physical effect the oracle can't see: both variants compress below
    * the uncompressed footprint and differ from each other. */
  def s34CodecRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = codecLayout(spark, dir, Seq("zstd", "snappy"))
    Seq("zstd", "snappy").map { codec =>
      parquet(spark, s"$root/$codec")
        .agg(count(lit(1)).as("n_rows"),
          sum($"l_orderkey").as("key_sum"),
          sum($"l_quantity".cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("qty_sum"))
        .select(lit(codec).as("codec"), $"n_rows", $"key_sum", $"qty_sum")
    }.reduce(_ unionByName _)
  }

  /** s34's write stage, split out so the spec can inspect the on-disk
    * footprint: writes the lineitem projection under `<root>/<codec>` for
    * each requested codec. The query path writes only the two codecs it
    * reads back; the spec additionally requests "none" for the
    * compression-actually-shrinks assertion, so the uncompressed write is
    * never paid on the benched path. */
  private[graft] def codecLayout(spark: SparkSession, dir: String,
      codecs: Seq[String]): String = {
    import spark.implicits._
    val src = lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey", $"l_quantity", $"l_shipdate")
    val root = tempDir("s34_codec")
    // r20 (guide §2.6 "overlap independent jobs"): the per-codec writes are
    // independent single-pass jobs over the same projection writing to
    // disjoint directories — submitted from one thread each so the second
    // write back-fills executors the first leaves idle (the scan is few
    // tasks at fixture scale). Failures propagate: join() then rethrow the
    // first, with any further codec's failure attached as suppressed so a
    // multi-codec breakage is fully visible (r20 ADVICE).
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writers = codecs.map { codec =>
      val t = new Thread(() =>
        try src.write.mode(SaveMode.Overwrite)
          .option("compression", codec).parquet(s"$root/$codec")
        catch { case e: Throwable =>
          if (!failed.compareAndSet(null, e)) failed.get().addSuppressed(e)
        })
      t.setName(s"s34-write-$codec"); t.start(); t
    }
    writers.foreach(_.join())
    if (failed.get() != null) throw failed.get()
    root
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s33_schema_evolution" -> (s33SchemaEvolution _),
    "s34_codec_roundtrip" -> (s34CodecRoundtrip _),
    "s1_pushdown_scan" -> (s1PushdownScan _),
    "s2_keyed_lookup" -> (s2KeyedLookup _),
    "s3_binary_source" -> (s3BinarySource _),
    "s4_state_source" -> (s4StateSource _),
    "s5_partitioned_sink" -> (s5PartitionedSink _),
    "s6_incremental_sink" -> (s6IncrementalSink _),
    "s7_verified_write" -> (s7VerifiedWrite _),
    "s8_get_or_create_dirs" -> (s8GetOrCreateDirs _),
    "s9_overwrite_commit" -> (s9OverwriteCommit _),
    "s11_resumable_load" -> (s11ResumableLoad _),
    "s5_partition_pruned_read" -> (s5PartitionPrunedRead _),
    "s1b_events_time_pruned" -> (s1bEventsTimePruned _),
    "s1c_events_auto_pruned" -> (s1cEventsAutoPruned _),
    "s12_dsv2_search_scan" -> (s12Dsv2SearchScan _),
    "s12b_dsv2_agg_pushdown" -> (s12bDsv2AggPushdown _),
    "s13_dpp_gated_read" -> (s13DppGatedRead _),
    "s14_dsv2_runtime_filtered" -> (s14Dsv2RuntimeFiltered _),
    "s15_dsv2_topn" -> (s15Dsv2Topn _),
    "s15b_dsv2_limit_count" -> (s15bDsv2LimitCount _),
    "s16_dsv2_archive_write" -> (s16Dsv2ArchiveWrite _),
    "o12_observed_metrics" -> (o12ObservedMetrics _),
    "o15_quality_constraints" -> (o15QualityConstraints _),
    "o16_cached_reuse" -> (o16CachedReuse _),
    "o17_partition_stats" -> (o17PartitionStats _),
    "s35_vacuum_retention" -> (s35VacuumRetention _),
    "s36_snapshot_rollback" -> (s36SnapshotRollback _),
    "s37_snapshot_diff" -> (s37SnapshotDiff _),
    "s30_merge_into" -> (s30MergeInto _),
    "s31_row_level_dml" -> (s31RowLevelDml _),
    "s32_time_travel" -> (s32TimeTravel _),
    "s28_range_layout" -> (s28RangeLayout _),
    "s17_catalog_sql" -> (s17CatalogSql _),
    "s18_function_catalog" -> (s18FunctionCatalog _),
    "s18b_catalog_udaf" -> (s18bCatalogUdaf _),
    "s19_metadata_column" -> (s19MetadataColumn _),
    "s20_compaction" -> (s20Compaction _),
    "s21_zorder_layout" -> (s21ZorderLayout _),
    "s22_dynamic_overwrite" -> (s22DynamicOverwrite _),
    "s26_rebalance_write" -> (s26RebalanceWrite _),
    "s27_bloom_filter_scan" -> (s27BloomFilterScan _),
    "l5c_thumbnail" -> (l5cThumbnail _),
    "l5g_jp2_decode" -> (l5gJp2Decode _),
    "l5h_jp2_tiled_parallel" -> (l5hJp2TiledParallel _),
    "l5i_jp2_thumbnail" -> (l5iJp2Thumbnail _),
    "l5j_jp2_thumbnail_ranged" -> (l5jJp2ThumbnailRanged _),
    "l5k_jp2_quality_ranged" -> (l5kJp2QualityRanged _),
    "l5l_jp2_region_ranged" -> (l5lJp2RegionRanged _),
    "l5m_jp2_lossy_decode" -> (l5mJp2LossyDecode _),
    "l5n_jp2_precinct_region" -> (l5nJp2PrecinctRegion _),
    "l5d_audio_features" -> (l5dAudioFeatures _),
    "l5f_vad_segments" -> (l5fVadSegments _),
    "l5e_image_phash" -> (l5eImagePhash _),
    "o13_merge_schema" -> (o13MergeSchema _),
    "o9_csv_roundtrip" -> (o9CsvRoundtrip _),
    "o10_xml_roundtrip" -> (o10XmlRoundtrip _),
    "o11_orc_roundtrip" -> (o11OrcRoundtrip _),
    "o14_text_roundtrip" -> (o14TextRoundtrip _),
    "f_map" -> (fMap _),
    "f_map2" -> (fMap2 _),
    "f_map3" -> (fMap3 _),
    "l5_multimodal_decode" -> (l5MultimodalDecode _),
    "l5b_frame_sample" -> (l5bFrameSample _)
  )

  val oracle: Map[String, String] = Map(
    "s27_bloom_filter_scan" ->
      """SELECT user_id, event_type, count(*) AS n FROM events
        |WHERE user_id = 17 GROUP BY user_id, event_type""".stripMargin,
    "o13_merge_schema" ->
      """SELECT CAST(1 AS BIGINT) AS batch, doc_id, lang,
        |  CAST(NULL AS BIGINT) AS n_chars FROM documents
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), doc_id, lang, n_chars FROM documents""".stripMargin,
    "s21_zorder_layout" ->
      ("""SELECT event_id, a, b, """ +
        (0 until 8).map(i =>
          s"((((a >> $i) & 1) << ${2 * i}) + (((b >> $i) & 1) << ${2 * i + 1}))")
          .mkString(" + ") +
        """ AS zval
          |FROM (SELECT event_id, user_id % 256 AS a,
          |        CAST(day(ts) AS BIGINT) AS b FROM events)""".stripMargin),
    "s20_compaction" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1""".stripMargin,
    "l5c_thumbnail" ->
      """WITH imgs AS (
        |  SELECT i, 40 + (17 * i) % 113 AS w, 30 + (23 * i) % 89 AS h
        |  FROM generate_series(0, 7) t(i))
        |SELECT 'img_' || i || '.jpg' AS file_name,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(GREATEST(1, w * 64 // GREATEST(w, h)) AS BIGINT) AS thumb_w,
        |  CAST(GREATEST(1, h * 64 // GREATEST(w, h)) AS BIGINT) AS thumb_h
        |FROM imgs""".stripMargin,
    "l5d_audio_features" ->
      """WITH clips AS (SELECT i, 4000 + i * 1000 AS n FROM generate_series(0, 3) t(i)),
        |samples AS (
        |  SELECT c.i, ((k * 37 + c.i * 11) % 2048) - 1024 AS s
        |  FROM clips c, LATERAL (SELECT unnest(generate_series(0, c.n - 1)) AS k) u)
        |SELECT 'clip_' || i || '.wav' AS file_name,
        |  count(*) AS n_samples,
        |  CAST(sum(s * s) AS BIGINT) AS sum_sq,
        |  CAST(max(abs(s)) AS BIGINT) AS peak
        |FROM samples GROUP BY 1""".stripMargin,
    "l5f_vad_segments" ->
      """WITH clips AS (SELECT i, 4000 + i * 1000 AS n FROM generate_series(0, 3) t(i)),
        |samples AS (
        |  SELECT c.i, k, ((k * 37 + c.i * 11) % 2048) - 1024 AS s
        |  FROM clips c, LATERAL (SELECT unnest(generate_series(0, c.n - 1)) AS k) u),
        |frames AS (
        |  SELECT i, k // 200 AS frame_idx, CAST(sum(s * s) AS BIGINT) AS fss
        |  FROM samples GROUP BY 1, 2),
        |tot AS (
        |  SELECT i, CAST(sum(fss) AS BIGINT) AS tss, count(*) AS nf
        |  FROM frames GROUP BY 1),
        |act AS (
        |  SELECT f.i, f.frame_idx FROM frames f JOIN tot USING (i)
        |  WHERE f.fss * tot.nf > tot.tss),
        |isl AS (
        |  SELECT i, frame_idx,
        |    frame_idx - row_number() OVER (PARTITION BY i ORDER BY frame_idx) AS grp
        |  FROM act)
        |SELECT 'clip_' || i || '.wav' AS file_name,
        |  min(frame_idx) AS seg_start, max(frame_idx) AS seg_end,
        |  count(*) AS n_active_frames
        |FROM isl GROUP BY i, grp""".stripMargin,
    "s22_dynamic_overwrite" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
        |  CAST(sum(CAST(
        |    CASE WHEN strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-05' AND '2024-01-10'
        |         THEN value * 2 ELSE value END AS DECIMAL(18,2))) AS DOUBLE)
        |    AS value_sum
        |FROM events GROUP BY 1""".stripMargin,
    "s26_rebalance_write" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1""".stripMargin,
    "s33_schema_evolution" ->
      """WITH unified AS (
        |  SELECT 'v1' AS gen, lang, 'unknown' AS source_norm, 1 AS defaulted
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 'v2', lang, source, 0 FROM documents WHERE doc_id % 2 = 1)
        |SELECT gen, lang, count(*) AS n_docs,
        |  CAST(sum(defaulted) AS BIGINT) AS n_defaulted,
        |  CAST(count(DISTINCT source_norm) AS BIGINT) AS n_sources
        |FROM unified GROUP BY gen, lang""".stripMargin,
    "s34_codec_roundtrip" ->
      """SELECT codec, count(*) AS n_rows,
        |  CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum
        |FROM lineitem, (SELECT unnest(['zstd', 'snappy']) AS codec) c
        |GROUP BY codec""".stripMargin,
    "s1_pushdown_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'""".stripMargin,
    "s2_keyed_lookup" ->
      """SELECT event_id, event_type, CAST(length(event_type) AS BIGINT) AS pages
        |FROM events""".stripMargin,
    "s3_binary_source" ->
      """SELECT * FROM (VALUES
        |('bib13991099_18650102_0_1_0001.jp2', CAST(112 AS BIGINT), '8839c3a3610d597bce0e46a3373dfa51'),
        |('bib13991099_18650102_0_1_0002.JP2', CAST(114 AS BIGINT), 'da41817ee4b28dafffd9476f2d613f0a'),
        |('notes.bin', CAST(12 AS BIGINT), '96bc106959731774503ad348c825ece3'),
        |('thumb_13.jpg', CAST(682 AS BIGINT), 'a58494c9fa0d9e9e6cd4eee614f92720')
        |) AS t(file_name, n_bytes, md5_hex)""".stripMargin,
    "s12_dsv2_search_scan" ->
      """WITH days AS (
        |  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-14', INTERVAL 1 DAY)) AS DATE) AS day)
        |SELECT p.pub || '_' || strftime(d.day, '%Y%m%d') AS issue_id, d.day,
        |  CAST((CAST(d.day - DATE '1970-01-01' AS INTEGER) + length(p.pub)) % 8 + 4 AS BIGINT) AS n_pages,
        |  CASE CAST(d.day AS VARCHAR)
        |    WHEN '2024-01-01' THEN 'done' WHEN '2024-01-02' THEN 'done'
        |    WHEN '2024-01-03' THEN 'failed' WHEN '2024-01-05' THEN 'done'
        |    WHEN '2024-01-07' THEN 'failed' ELSE 'pending' END AS status
        |FROM (VALUES ('AB'), ('DN')) p(pub) CROSS JOIN days d""".stripMargin,
    "s13_dpp_gated_read" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n_events
        |FROM events
        |WHERE CAST(date_trunc('day', ts) AS DATE) IN
        |  (DATE '2024-01-01', DATE '2024-01-02', DATE '2024-01-05')
        |GROUP BY 1""".stripMargin,
    "s14_dsv2_runtime_filtered" ->
      """SELECT d.day, CAST(count(*) AS BIGINT) AS n_issues
        |FROM (VALUES (DATE '2024-01-01'), (DATE '2024-01-02'), (DATE '2024-01-05')) d(day)
        |CROSS JOIN (VALUES ('AB'), ('DN'), ('GP'), ('SVD')) p(pub)
        |GROUP BY d.day""".stripMargin,
    "s15_dsv2_topn" ->
      """WITH days AS (
        |  SELECT CAST(unnest(generate_series(DATE '2024-03-27', DATE '2024-03-31', INTERVAL 1 DAY)) AS DATE) AS day)
        |SELECT p.pub, d.day, p.pub || '_' || strftime(d.day, '%Y%m%d') AS issue_id,
        |  CAST((CAST(d.day - DATE '1970-01-01' AS INTEGER) + length(p.pub)) % 8 + 4 AS BIGINT) AS n_pages
        |FROM (VALUES ('AB'), ('DN')) p(pub) CROSS JOIN days d""".stripMargin,
    "s15b_dsv2_limit_count" ->
      "SELECT CAST(10 AS BIGINT) AS n_fetched",
    "s17_catalog_sql" ->
      """SELECT p.pub, CAST(28 AS BIGINT) AS n_issues
        |FROM (VALUES ('AB'), ('GP')) p(pub)""".stripMargin,
    "s19_metadata_column" ->
      """SELECT CAST(c AS INTEGER) AS _chunk, CAST(32 AS BIGINT) AS n_issues
        |FROM (VALUES (0), (1)) t(c)""".stripMargin,
    "s18_function_catalog" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |p AS (SELECT emb FROM e WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  list_dot_product(e.emb, p.emb) /
        |  (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(p.emb, p.emb)))
        |    AS score_vs_probe
        |FROM e CROSS JOIN p WHERE e.vec_id < 100""".stripMargin,
    "s18b_catalog_udaf" ->
      """SELECT event_type,
        |  CAST(sum(user_id * user_id) AS BIGINT) AS sum_sq_user,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "o16_cached_reuse" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM daily)
        |SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
        |  CAST(sum(cnt) AS DOUBLE) / (SELECT tot FROM t) AS share
        |FROM daily GROUP BY 1""".stripMargin,
    "s36_snapshot_rollback" ->
      """SELECT o_orderkey % 200 AS k, count(*) AS v, 'good' AS tag
        |FROM orders GROUP BY o_orderkey % 200""".stripMargin,
    "s37_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey % 250 AS k, count(*) AS v, 'base' AS tag
        |  FROM orders GROUP BY o_orderkey % 250)
        |SELECT 'delete' AS change, k, v, tag FROM base WHERE k % 10 = 7
        |UNION ALL
        |SELECT 'delete', k, v, tag FROM base WHERE k % 10 = 3
        |UNION ALL
        |SELECT 'insert', k, CAST(v + 100 AS BIGINT), 'bumped'
        |FROM base WHERE k % 10 = 3""".stripMargin,
    "s35_vacuum_retention" ->
      """WITH seed AS (
        |  SELECT o_orderkey % 300 AS k, count(*) AS v FROM orders GROUP BY 1),
        |r1 AS (
        |  SELECT k, CASE WHEN k % 3 = 0 THEN v + 7 ELSE v END AS v,
        |    CASE WHEN k % 3 = 0 THEN 'r1' ELSE 'seed' END AS tag
        |  FROM seed)
        |SELECT k, CAST(CASE WHEN k % 5 = 0 THEN v * 2 ELSE v END AS BIGINT) AS v,
        |  CASE WHEN k % 5 = 0 THEN 'r2' ELSE tag END AS tag
        |FROM r1""".stripMargin,
    "o17_partition_stats" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |  count(*) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1""".stripMargin,
    "o12_observed_metrics" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonpos_price,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_keys
        |FROM orders""".stripMargin,
    "s28_range_layout" ->
      """SELECT user_id, count(*) AS n,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY user_id""".stripMargin,
    "s30_merge_into" ->
      """WITH seed AS (
        |  SELECT o_orderkey % 500 AS k, count(*) AS v
        |  FROM orders GROUP BY o_orderkey % 500),
        |src AS (
        |  SELECT 250 + o_orderkey % 500 AS k, count(*) AS v
        |  FROM orders GROUP BY 250 + o_orderkey % 500)
        |SELECT s.k, CAST(s.v + COALESCE(t.v, 0) AS BIGINT) AS v,
        |  'merged' AS tag
        |FROM src s LEFT JOIN seed t ON t.k = s.k""".stripMargin,
    "s32_time_travel" ->
      """WITH seed AS (
        |  SELECT o_orderkey % 300 AS k, count(*) AS v
        |  FROM orders GROUP BY o_orderkey % 300)
        |SELECT 'before' AS snap, k, CAST(v AS BIGINT) AS v, 'seed' AS tag
        |FROM seed
        |UNION ALL
        |SELECT 'after' AS snap, k,
        |  CAST(CASE WHEN k % 2 = 0 THEN v * 3 ELSE v END AS BIGINT) AS v,
        |  CASE WHEN k % 2 = 0 THEN 'x3' ELSE 'seed' END AS tag
        |FROM seed""".stripMargin,
    "s31_row_level_dml" ->
      """WITH seed AS (
        |  SELECT o_orderkey % 400 AS k, count(*) AS v
        |  FROM orders GROUP BY o_orderkey % 400)
        |SELECT k, CAST(CASE WHEN k < 100 THEN v * 10 ELSE v END AS BIGINT) AS v,
        |  CASE WHEN k < 100 THEN 'boosted' ELSE 'seed' END AS tag
        |FROM seed WHERE k % 7 <> 3""".stripMargin,
    "o15_quality_constraints" ->
      """WITH m AS (
        |  SELECT count(*) AS n_rows,
        |    CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_null_props,
        |    CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct_ids,
        |    CAST(sum(CASE WHEN NOT regexp_matches(event_type, '^[a-z_]+$')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_type,
        |    CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_value_neg,
        |    CAST(sum(CASE WHEN value > 250 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_value_gt250
        |  FROM events)
        |SELECT 'row_count_min_1000' AS check_name, n_rows AS metric,
        |  n_rows >= 1000 AS passed FROM m
        |UNION ALL SELECT 'props_complete', n_null_props, n_null_props = 0 FROM m
        |UNION ALL SELECT 'event_id_unique', n_rows - n_distinct_ids,
        |  n_distinct_ids = n_rows FROM m
        |UNION ALL SELECT 'event_type_wellformed', n_bad_type, n_bad_type = 0 FROM m
        |UNION ALL SELECT 'value_ge_0', n_value_neg, n_value_neg = 0 FROM m
        |UNION ALL SELECT 'value_le_250', n_value_gt250, n_value_gt250 = 0 FROM m""".stripMargin,
    "s16_dsv2_archive_write" ->
      """SELECT CAST(1 AS BIGINT) AS phase,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0) AS manifest_rows,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0) AS data_rows
        |UNION ALL SELECT 2,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 <= 1),
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 <= 1)
        |UNION ALL SELECT 3,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 2),
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 2)""".stripMargin,
    "s12b_dsv2_agg_pushdown" ->
      """WITH days AS (
        |  SELECT CAST(unnest(generate_series(DATE '2024-02-01', DATE '2024-02-28', INTERVAL 1 DAY)) AS DATE) AS day)
        |SELECT p.pub, CAST(count(*) AS BIGINT) AS n_issues,
        |  min(d.day) AS first_day, max(d.day) AS last_day
        |FROM (VALUES ('AB'), ('DN'), ('GP'), ('SVD')) p(pub) CROSS JOIN days d
        |GROUP BY p.pub""".stripMargin,
    "s4_state_source" ->
      """SELECT * FROM (VALUES
        |('2024-01-01', 'done'), ('2024-01-02', 'done'), ('2024-01-03', 'failed'),
        |('2024-01-05', 'done'), ('2024-01-07', 'failed')
        |) AS t(day, status)""".stripMargin,
    "s5_partitioned_sink" ->
      "SELECT o_orderstatus, count(*) AS n_orders FROM orders GROUP BY o_orderstatus",
    "s6_incremental_sink" ->
      """SELECT CAST(1 AS BIGINT) AS run, count(*) AS appended FROM orders
        |UNION ALL SELECT 2, 0""".stripMargin,
    "s7_verified_write" ->
      """SELECT count(*) AS n_written, count(*) AS n_verified, CAST(0 AS BIGINT) AS n_mismatch
        |FROM documents""".stripMargin,
    "s8_get_or_create_dirs" ->
      "SELECT lang, count(*) * 2 AS n_rows FROM documents GROUP BY lang",
    "s9_overwrite_commit" ->
      "SELECT count(*) AS n_rows FROM documents WHERE n_chars > 500",
    "s11_resumable_load" ->
      """SELECT CAST(1 AS BIGINT) AS phase,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 7 = 0) AS appended
        |UNION ALL
        |SELECT 2, (SELECT count(*) FROM orders WHERE o_orderkey % 7 <> 0)""".stripMargin,
    "s5_partition_pruned_read" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'
        |GROUP BY event_type""".stripMargin,
    "s1b_events_time_pruned" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
        |GROUP BY 1""".stripMargin,
    "s1c_events_auto_pruned" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
        |GROUP BY 1""".stripMargin,
    "o10_xml_roundtrip" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang""".stripMargin,
    "o14_text_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_doc
        |FROM documents GROUP BY lang""".stripMargin,
    "o11_orc_roundtrip" ->
      """SELECT p_brand, count(*) AS n_parts,
        |CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part WHERE p_partkey % 2 = 0 GROUP BY p_brand""".stripMargin,
    "o9_csv_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |min(CAST(date_trunc('day', o_orderdate) AS DATE)) AS first_day,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "f_map3" ->
      """SELECT event_id, 'k,tag' AS keys_concat,
        |CAST(event_id * 2 AS BIGINT) AS b_val,
        |regexp_extract(props, '"k": (-?[0-9]+)', 1) || '+' ||
        |  regexp_extract(props, '"k": (-?[0-9]+)', 1) AS zipped_vals
        |FROM events""".stripMargin,
    "f_map" ->
      """SELECT event_id, 'k' AS keys,
        |CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS BIGINT) AS k_val,
        |CAST(1 AS BIGINT) AS n_entries
        |FROM events""".stripMargin,
    "f_map2" ->
      """SELECT event_id,
        |CAST(CASE WHEN CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS BIGINT) > 0
        |     THEN 1 ELSE 0 END AS BIGINT) AS n_pos,
        |'k_x' AS keys_renamed,
        |'v=' || regexp_extract(props, '"k": (-?[0-9]+)', 1) AS first_tagged
        |FROM events""".stripMargin,
    "l5b_frame_sample" ->
      """WITH assets AS (SELECT * FROM (VALUES
        |('bib13991099_18650102_0_1_0001.jp2', CAST(112 AS BIGINT)),
        |('bib13991099_18650102_0_1_0002.JP2', CAST(114 AS BIGINT)),
        |('notes.bin', CAST(12 AS BIGINT)),
        |('thumb_13.jpg', CAST(682 AS BIGINT))) AS t(file_name, n_bytes))
        |SELECT file_name,
        |  CAST(i AS BIGINT) AS frame_idx, CAST(i * 8 AS BIGINT) AS byte_offset
        |FROM (SELECT file_name,
        |        unnest(generate_series(0, greatest(least(n_bytes // 8, 4), 1) - 1)) AS i
        |      FROM assets)""".stripMargin,
    "l5g_jp2_decode" ->
      """WITH dims AS (
        |  SELECT i, 40 + (17*i) % 113 AS w, 30 + (23*i) % 89 AS h
        |  FROM (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 8, 9, 10]) AS i)),
        |px AS (
        |  SELECT i, w, h, unnest(generate_series(0, w*h - 1)) AS j FROM dims),
        |px16 AS (SELECT unnest(generate_series(0, 46*102 - 1)) AS j)
        |SELECT 'scan_' || i || '.jp2' AS file_name,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(SUM(((j % w) * 7 + (j // w) * 11 + i * 13) % 256) AS BIGINT) AS sum_c0,
        |  CAST(SUM(((j % w) * 7 + (j // w) * 11 + i * 13 + 29) % 256) AS BIGINT) AS sum_c1,
        |  CAST(SUM(((j % w) * 7 + (j // w) * 11 + i * 13 + 58) % 256) AS BIGINT) AS sum_c2
        |FROM px GROUP BY i, w, h
        |UNION ALL
        |SELECT 'scan_7.jp2', CAST(46 AS BIGINT), CAST(102 AS BIGINT),
        |  CAST(SUM(((j % 46) * 731 + (j // 46) * 1109) % 65536) AS BIGINT),
        |  CAST(SUM(((j % 46) * 731 + (j // 46) * 1109 + 4099) % 65536) AS BIGINT),
        |  CAST(SUM(((j % 46) * 731 + (j // 46) * 1109 + 8198) % 65536) AS BIGINT)
        |FROM px16""".stripMargin,
    "l5h_jp2_tiled_parallel" ->
      """WITH px AS (SELECT unnest(generate_series(0, 384*192 - 1)) AS j)
        |SELECT 'page_0.jp2' AS file_name,
        |  CAST(384 AS BIGINT) AS width, CAST(192 AS BIGINT) AS height,
        |  CAST(18 AS BIGINT) AS n_tiles,
        |  CAST(SUM(((j % 384) * 7 + (j // 384) * 11) % 256) AS BIGINT) AS sum_c0,
        |  CAST(SUM(((j % 384) * 9 + (j // 384) * 11 + 29) % 256) AS BIGINT) AS sum_c1,
        |  CAST(SUM(((j % 384) * 11 + (j // 384) * 11 + 58) % 256) AS BIGINT) AS sum_c2
        |FROM px""".stripMargin,
    // scan_8 (PCRL), scan_9 (PPT) and scan_10 (CPRL, r20) carry (-1, -1)
    // thumb dims: the byte-prefix reduced walk is a TYPED rejection for
    // position-major orders and for packed packet headers, and the
    // oracle pins all three rejections (not just the happy path)
    "l5i_jp2_thumbnail" ->
      """WITH dims AS (
        |  SELECT i, 40 + (17*i) % 113 AS w, 30 + (23*i) % 89 AS h
        |  FROM (SELECT unnest(generate_series(0, 10)) AS i))
        |SELECT 'scan_' || i || '.jp2' AS file_name,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(CASE WHEN i IN (8, 9, 10) THEN -1 ELSE (w + 3) // 4 END AS BIGINT) AS thumb_w,
        |  CAST(CASE WHEN i IN (8, 9, 10) THEN -1 ELSE (h + 3) // 4 END AS BIGINT) AS thumb_h
        |FROM dims""".stripMargin,
    // the sum_c* columns are PIXEL-dependent: the d=2 thumbnail of a 5/3
    // lossless stream is deterministic integer arithmetic (not SQL-
    // expressible), so the values are frozen from the in-memory
    // whole-file decodeReduced path — which the query ALSO requires
    // in-query against its distributed ranged walk, so a regression in
    // either path breaks the hash
    "l5j_jp2_thumbnail_ranged" ->
      """SELECT 'page_0.jp2' AS file_name, CAST(18 AS BIGINT) AS n_tiles,
        |  CAST(96 AS BIGINT) AS thumb_w, CAST(48 AS BIGINT) AS thumb_h,
        |  CAST(589197 AS BIGINT) AS sum_c0, CAST(588388 AS BIGINT) AS sum_c1,
        |  CAST(591042 AS BIGINT) AS sum_c2""".stripMargin,
    // two arms per staged scan: keep_layers=2 (degenerate, = all layers)
    // must reproduce the EXACT full-image pixel sums — the same
    // closed-form arithmetic l5h hash-matches — while keep_layers=1's
    // reduced-fidelity sums are frozen deterministic values (every
    // code-block truncated at its verified layer-0 boundary). page_poc
    // (r20) carries a POC whose first volume is the layer-0 front; its
    // keep=1 fetch follows the POC-aware packet order end to end.
    "l5k_jp2_quality_ranged" ->
      """WITH px AS (SELECT unnest(generate_series(0, 384*192 - 1)) AS j)
        |SELECT 'page_0.jp2' AS file_name, CAST(1 AS BIGINT) AS keep_layers,
        |  CAST(18 AS BIGINT) AS n_tiles,
        |  CAST(384 AS BIGINT) AS width, CAST(192 AS BIGINT) AS height,
        |  CAST(9495626 AS BIGINT) AS sum_c0, CAST(9451841 AS BIGINT) AS sum_c1,
        |  CAST(9482958 AS BIGINT) AS sum_c2
        |UNION ALL
        |SELECT 'page_0.jp2', CAST(2 AS BIGINT), CAST(18 AS BIGINT),
        |  CAST(384 AS BIGINT), CAST(192 AS BIGINT),
        |  CAST(SUM(((j % 384) * 7 + (j // 384) * 11) % 256) AS BIGINT),
        |  CAST(SUM(((j % 384) * 9 + (j // 384) * 11 + 29) % 256) AS BIGINT),
        |  CAST(SUM(((j % 384) * 11 + (j // 384) * 11 + 58) % 256) AS BIGINT)
        |FROM px
        |UNION ALL
        |SELECT 'page_poc.jp2', CAST(1 AS BIGINT), CAST(18 AS BIGINT),
        |  CAST(384 AS BIGINT), CAST(192 AS BIGINT),
        |  CAST(9423268 AS BIGINT), CAST(9454547 AS BIGINT), CAST(9467830 AS BIGINT)
        |UNION ALL
        |SELECT 'page_poc.jp2', CAST(2 AS BIGINT), CAST(18 AS BIGINT),
        |  CAST(384 AS BIGINT), CAST(192 AS BIGINT),
        |  CAST(SUM(((j % 384) * 9 + (j // 384) * 17) % 256) AS BIGINT),
        |  CAST(SUM(((j % 384) * 13 + (j // 384) * 17 + 37) % 256) AS BIGINT),
        |  CAST(SUM(((j % 384) * 17 + (j // 384) * 17 + 74) % 256) AS BIGINT)
        |FROM px""".stripMargin,
    "l5l_jp2_region_ranged" ->
      """WITH px AS (
        |  SELECT x, y FROM (SELECT unnest(generate_series(70, 189)) AS x),
        |                   (SELECT unnest(generate_series(70, 129)) AS y))
        |SELECT 'page_0.jp2' AS file_name, CAST(4 AS BIGINT) AS n_tiles_fetched,
        |  CAST(SUM((x * 7 + y * 11) % 256) AS BIGINT) AS sum_c0,
        |  CAST(SUM((x * 9 + y * 11 + 29) % 256) AS BIGINT) AS sum_c1,
        |  CAST(SUM((x * 11 + y * 11 + 58) % 256) AS BIGINT) AS sum_c2
        |FROM px""".stripMargin,
    // the crop's pixels recomputed closed-form from the staging
    // arithmetic — the precinct-filtered decode must reproduce them
    // bit-exactly from the region's fraction of the bytes
    "l5n_jp2_precinct_region" ->
      """WITH px AS (
        |  SELECT x, y FROM (SELECT unnest(generate_series(300, 539)) AS x),
        |                   (SELECT unnest(generate_series(140, 259)) AS y))
        |SELECT 'page_0.jp2' AS file_name, CAST(2 AS BIGINT) AS n_tiles_fetched,
        |  CAST(SUM((x * 7 + y * 11) % 256) AS BIGINT) AS sum_c0,
        |  CAST(SUM((x * 9 + y * 11 + 29) % 256) AS BIGINT) AS sum_c1,
        |  CAST(SUM((x * 11 + y * 11 + 58) % 256) AS BIGINT) AS sum_c2
        |FROM px
        |UNION ALL
        |SELECT 'page_1.jp2', CAST(2 AS BIGINT),
        |  CAST(SUM((x * 8 + y * 13) % 256) AS BIGINT),
        |  CAST(SUM((x * 11 + y * 13 + 31) % 256) AS BIGINT),
        |  CAST(SUM((x * 14 + y * 13 + 62) % 256) AS BIGINT)
        |FROM px
        |UNION ALL
        |SELECT 'page_2.jp2', CAST(2 AS BIGINT),
        |  CAST(SUM((x * 10 + y * 19) % 256) AS BIGINT),
        |  CAST(SUM((x * 15 + y * 19 + 41) % 256) AS BIGINT),
        |  CAST(SUM((x * 20 + y * 19 + 82) % 256) AS BIGINT)
        |FROM px""".stripMargin,
    // pixel-dependent lossy-reconstruction stats: deterministic integers
    // (strictfp double lifting + deterministic deadzone quantization),
    // frozen from the committed codec — ANY decoded-pixel drift flips
    // the hash, and the query's in-task require additionally bounds the
    // error so an out-of-tolerance codec fails loudly before the compare
    "l5m_jp2_lossy_decode" ->
      """SELECT * FROM (VALUES
        |('lossy_0.jp2', CAST(64 AS BIGINT), CAST(48 AS BIGINT),
        |  CAST(17 AS BIGINT), CAST(3282335 AS BIGINT), true),
        |('lossy_1.jp2', CAST(81 AS BIGINT), CAST(71 AS BIGINT),
        |  CAST(20 AS BIGINT), CAST(3224250 AS BIGINT), true),
        |('lossy_2.jp2', CAST(98 AS BIGINT), CAST(94 AS BIGINT),
        |  CAST(18 AS BIGINT), CAST(3179801 AS BIGINT), true),
        |('lossy_3.jp2', CAST(115 AS BIGINT), CAST(117 AS BIGINT),
        |  CAST(22 AS BIGINT), CAST(3170023 AS BIGINT), true),
        |('lossy_4.jp2', CAST(132 AS BIGINT), CAST(51 AS BIGINT),
        |  CAST(11 AS BIGINT), CAST(1790701 AS BIGINT), true),
        |('lossy_5.jp2', CAST(149 AS BIGINT), CAST(74 AS BIGINT),
        |  CAST(36 AS BIGINT), CAST(5192756 AS BIGINT), true),
        |('lossy_6.jp2', CAST(69 AS BIGINT), CAST(97 AS BIGINT),
        |  CAST(37 AS BIGINT), CAST(5509736 AS BIGINT), true),
        |('lossy_7.jp2', CAST(86 AS BIGINT), CAST(120 AS BIGINT),
        |  CAST(39 AS BIGINT), CAST(2465342 AS BIGINT), false),
        |('lossy_8.jp2', CAST(103 AS BIGINT), CAST(54 AS BIGINT),
        |  CAST(14 AS BIGINT), CAST(2610511 AS BIGINT), true),
        |('lossy_9.jp2', CAST(120 AS BIGINT), CAST(77 AS BIGINT),
        |  CAST(20 AS BIGINT), CAST(3238239 AS BIGINT), true),
        |('lossy_10.jp2', CAST(137 AS BIGINT), CAST(100 AS BIGINT),
        |  CAST(20 AS BIGINT), CAST(3189805 AS BIGINT), true)
        |) AS t(file_name, width, height, max_err, mean_err_ppm,
        |       smaller_than_lossless)""".stripMargin,
    "l5_multimodal_decode" ->
      """SELECT * FROM (VALUES
        |('bib13991099_18650102_0_1_0001.jp2', 'image/jp2', CAST(112 AS BIGINT), 2479, 3508),
        |('bib13991099_18650102_0_1_0002.JP2', 'image/jp2', CAST(114 AS BIGINT), 1860, 2631),
        |('notes.bin', 'application/octet-stream', CAST(12 AS BIGINT), -1, -1),
        |('thumb_13.jpg', 'image/jpeg', CAST(682 AS BIGINT), 24, 16)
        |) AS t(file_name, mime, n_bytes, width, height)""".stripMargin
  )
}
