package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Core harness: session factory + fixture-table loaders (SURVEY §7.1 step 1).
  *
  * Scale design: all loaders return plain parquet scans so Catalyst keeps
  * pushdown/pruning; nothing is cached or collected here. Their schema comes
  * from one footer read on the Spark driver ([[parquet]]), so a table read
  * schedules no Spark job; the scan itself is planned and run by the
  * query that uses it. Shuffle partitions
  * are sized by the caller (`Verify`/`Bench` set them from SPARK_GRAFT_CPUS);
  * on a real cluster the same code runs with AQE coalescing partitions.
  */
object Engine {

  /** Local session with the settings every entry point shares.
    *
    * EXPLICIT SESSION CONTRACT: `spark.sql.legacy.parquet.nanosAsLong=true`
    * is part of this engine's session configuration — a graft session reads
    * parquet TIMESTAMP(NANOS) columns as raw nano longs instead of failing
    * (Spark has no native nanos type). [[table]] and [[eventsBetween]] also
    * set it defensively for sessions built elsewhere. The fixture
    * `events.ts` column has shipped in several encodings over time (nanos,
    * micros-NTZ); [[table]] normalizes ALL of them to one session-visible
    * type — see its contract. The session timezone is pinned to UTC, which
    * makes NTZ→LTZ casts instant-preserving. */
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // ANSI is Spark 4's default, but the engine PINS it rather than
      // inheriting it: every oracle-checked query was validated under ANSI
      // error semantics (overflow/div-0/bad-cast THROW, matching DuckDB),
      // and a future default flip or ambient spark-defaults.conf must not
      // silently swap those errors for NULLs/wraps. AnsiContractSpec pins
      // the conf AND the observable semantics.
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.catalog.kb", classOf[graft.sources.KbCatalog].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Parquet scan for one fixture table under `dir` (see TESTDATA.md).
    *
    * Timestamp storage differs per table: lineitem/orders use parquet
    * TIMESTAMP(MILLIS), which Spark reads natively as TIMESTAMP_NTZ —
    * range predicates with [[tsLit]] literals stay cast-free and reach the
    * scan as PushedFilters (asserted in PlanShapeSpec).
    *
    * FIXTURE-ENCODING CONTRACT for `events.ts`: the driver has shipped the
    * column in multiple parquet encodings across rounds, so the loader
    * accepts ALL of them and normalizes to ONE type, `TimestampType`
    * (instant semantics, micro precision), here and nowhere else:
    *   - `LongType` (legacy TIMESTAMP(NANOS) under nanosAsLong) → lossless
    *     narrow via [[narrowNanosToTs]] (generator emits micro precision;
    *     zero sub-micro residue at every SF);
    *   - `TimestampNTZType` (TIMESTAMP(MICROS), isAdjustedToUTC=false —
    *     the current testdata encoding) → `cast("timestamp")`, which is
    *     instant-preserving under the pinned UTC session timezone;
    *   - `TimestampType` (TIMESTAMP(MICROS), adjusted) → pass through.
    * Every downstream consumer (`unix_micros`, `java.sql.Timestamp`
    * encoders, `Row.getTimestamp`, window frames) relies on this single
    * normalization point; FixtureContractSpec pins all three encodings so
    * a future driver-side shift fails loudly instead of silently dropping
    * queries. The NTZ→LTZ cast is a no-op on the stored micros value, so
    * Catalyst still pushes `ts` range predicates to the scan (see
    * [[eventsBetween]] and PlanShapeSpec). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    defensiveConfs(spark)
    val raw = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(raw) else raw
  }

  /** `spark.read.parquet(paths)` with the schema taken from one footer read
    * on the Spark driver, so building the DataFrame schedules no Spark job.
    *
    * Without a schema, Spark infers one by listing the files and reading a
    * footer inside a one-task job (`SchemaMergeUtils.mergeSchemasInParallel`
    * always runs `parallelize(...).collect()`), a fixed cost of tens of
    * milliseconds per read that short queries and per-batch sinks pay on
    * every call. This reads the footer Spark's non-merging inference would
    * pick (`_common_metadata`, else `_metadata`, else the first data file in
    * path order), converts it with Spark's own `readSchemaFromFooter` and a
    * converter built from the session conf (so `nanosAsLong`, NTZ inference
    * and binary-as-string apply as they would), and hands the result to
    * `spark.read.schema`. Anything else is left to Spark unchanged: a
    * missing path, a directory without a data file at its top level (empty,
    * or partitioned into subdirectories) or `mergeSchema` all fall back to
    * `spark.read.parquet`, with Spark's own errors. */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources.parquet._
    val conf = spark.sessionState.newHadoopConf()
    def hidden(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    }
    // a path's top-level files, or None where Spark must decide alone
    def leaves(p: String): Option[Seq[FileStatus]] = {
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      if (!fs.exists(hp)) None
      else {
        val st = fs.getFileStatus(hp)
        val entries = if (st.isFile) Seq(st) else fs.listStatus(hp).toSeq
        if (entries.exists(e => e.isDirectory && !hidden(e))) None
        else Some(entries.filter(_.isFile))
      }
    }
    val perPath = paths.map(leaves)
    val sorted =
      if (perPath.contains(None)) Nil else perPath.flatten.flatten.sortBy(_.getPath.toString)
    def named(n: String) = sorted.find(_.getPath.getName == n)
    val data = sorted.filterNot(hidden)
    if (data.isEmpty || spark.sessionState.conf.isParquetSchemaMergingEnabled)
      spark.read.parquet(paths: _*)
    else {
      val src = named("_common_metadata").orElse(named("_metadata")).getOrElse(data.head)
      val footer = ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(src, conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(src.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      spark.read.schema(schema).parquet(paths: _*)
    }
  }

  /** The two session confs the loaders depend on, set defensively for
    * sessions built outside [[session]]. UTC matters for correctness, not
    * just pushdown: [[normalizeEventTs]]'s NTZ→LTZ cast and
    * [[eventsBetween]]'s cast literal are instant-preserving ONLY when the
    * session timezone is UTC — a non-UTC external session would silently
    * shift `events.ts` instants and the prune window by the TZ offset. */
  private def defensiveConfs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** The ONE normalization point for `events.ts` — shared by [[table]] and
    * [[eventsBetween]] so no two paths can ever normalize differently.
    * See [[table]] for the encoding contract. */
  private def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType)         => raw.withColumn("ts", narrowNanosToTs("ts"))
      case Some(TimestampNTZType) => raw.withColumn("ts", raw("ts").cast("timestamp"))
      case Some(TimestampType)    => raw
      case other => throw new IllegalStateException(
        s"events.ts fixture encoding shifted again: expected nanos-long, " +
          s"TIMESTAMP_NTZ or TIMESTAMP, got $other — extend Engine.normalizeEventTs")
    }
  }

  /** Lossless nanos→micros narrowing for the legacy long-encoded `events.ts`. */
  private def narrowNanosToTs(col: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.timestamp_micros(
      org.apache.spark.sql.functions.expr(s"$col div 1000"))

  /** Events scan with the event-time range predicate pushed to the parquet
    * scan. With the current native-timestamp fixture encoding this is a
    * plain timestamp range comparison applied BEFORE the (no-op-on-value)
    * normalization, so it lands in the scan's PushedFilters (asserted in
    * PlanShapeSpec) — parquet row groups outside the range are skipped via
    * min/max stats. Under the legacy nanos-long encoding the same range is
    * expressed on the raw long. At 100 TB this is the difference between a
    * time-pruned read and a full scan, so time-ranged event queries should
    * come through here (or through a day-partitioned layout, see
    * Sources.s5PartitionPrunedRead). Bounds are UTC dates, [start, end). */
  def eventsBetween(spark: SparkSession, dir: String, startDay: String, endDay: String): DataFrame = {
    defensiveConfs(spark)
    def micros(day: String): Long =
      java.time.LocalDate.parse(day).atStartOfDay
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val raw = parquet(spark, s"$dir/events.parquet")
    val tsType = raw.schema.fields.find(_.name == "ts").map(_.dataType).getOrElse {
      throw new IllegalStateException(
        "events.ts fixture encoding shifted again: column `ts` is absent from " +
          s"$dir/events.parquet — extend Engine.normalizeEventTs")
    }
    val filtered =
      if (tsType == org.apache.spark.sql.types.LongType)
        raw.filter(raw("ts") >= micros(startDay) * 1000L &&
          raw("ts") < micros(endDay) * 1000L)
      else {
        // NTZ and LTZ literals both compare on the stored micros value in
        // the pinned UTC session, so one micros-built literal of the
        // column's own type keeps the predicate cast-free → pushable.
        def litOf(us: Long) = org.apache.spark.sql.functions
          .timestamp_micros(org.apache.spark.sql.functions.lit(us))
          .cast(tsType)
        raw.filter(raw("ts") >= litOf(micros(startDay)) &&
          raw("ts") < litOf(micros(endDay)))
      }
    normalizeEventTs(filtered)
  }

  /** NTZ timestamp literal for pushdown-friendly comparisons against the
    * fixture timestamp columns. */
  def tsLit(iso: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.lit(iso).cast("timestamp_ntz")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
