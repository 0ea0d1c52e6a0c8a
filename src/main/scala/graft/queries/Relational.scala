package graft.queries

import graft.Engine._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational core (SURVEY §2.3 joins, §2.4 aggregations, §2.5 windows,
  * §2.6 set ops) as registered queries with DuckDB oracle SQL.
  *
  * Determinism conventions (SURVEY §7.4.1):
  *  - Money/2-dp doubles are summed via exact decimal(18,2) arithmetic and
  *    cast back to double, so partial-aggregation order (Spark) vs
  *    sequential order (DuckDB) cannot produce differing bits.
  *  - Computed integer columns are cast to long (DuckDB window/len fns
  *    return BIGINT).
  *  - Every ranking is ordered by a unique tiebreak key.
  */
object Relational {

  /** Exact order-independent sum of a 2-dp double column, as double. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Exact revenue sum: sum(price * (1 - discount)) in decimal, as double. */
  private def drev(price: Column, disc: Column): Column =
    sum(price.cast(DecimalType(18, 2)) * (lit(1).cast(DecimalType(4, 2)) - disc.cast(DecimalType(4, 2)))).cast("double")

  private val oraDsum = (x: String) => s"CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"
  private val oraRev =
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)"

  // ---------------------------------------------------------------- A9: Q1
  /** Flagship multi-aggregate (SURVEY §7.2; mirrors the reference's per-issue
    * completeness rollup, /root/reference/src/01-scrape-images.py:456-477).
    * Scale: partial+final hash agg, no shuffle beyond the 2-key exchange. */
  def a9MultiAggQ1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, dir)
      // NTZ literal keeps the attribute cast-free, so the bound reaches the
      // parquet scan as a PushedFilter (row-group pruning at scale)
      .filter($"l_shipdate" <= graft.Engine.tsLit("1998-09-02"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").as("sum_qty"), // integral doubles: exact in any order
        dsum($"l_extendedprice").as("sum_base_price"),
        drev($"l_extendedprice", $"l_discount").as("sum_disc_price"),
        (sum($"l_quantity") / count(lit(1))).as("avg_qty"),
        (dsum($"l_discount") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** P6: range predicate (between), pushed to the source (reference encodes
    * [start, end) into the search URL, :487, main.yml:79-80). */
  def p6Between(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    orders(spark, dir)
      .filter($"o_orderdate" >= graft.Engine.tsLit("1997-01-01") &&
        $"o_orderdate" < graft.Engine.tsLit("1998-01-01"))
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
  }

  // ---------------------------------------------------------------- joins
  /** J1: anti-join skip-if-exists (reference :181-188 driven at :462-465). */
  def j1AntiSkipExists(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val candidates = lineitem(spark, dir).select($"l_orderkey").distinct()
    val existing = orders(spark, dir).filter($"o_orderstatus" === "F")
      .select($"o_orderkey".as("l_orderkey"))
    candidates.join(existing, Seq("l_orderkey"), "left_anti")
  }

  /** J2: keyed lookup join (reference :440-443 manifest fetch). No
    * broadcast hint: `part` grows with scale factor, so a forced broadcast
    * is an executor OOM at the 100 TB target. AQE/autoBroadcastJoinThreshold
    * picks broadcast at fixture scale on its own (asserted in
    * PlanShapeSpec); at real scale it degrades gracefully to a shuffle
    * join. Hints are reserved for bounded dims (nation/region, ≤25 rows). */
  def j2KeyedLookup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, dir)
      .join(part(spark, dir), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_items"), drev($"l_extendedprice", $"l_discount").as("revenue"))
      .orderBy($"p_brand")
  }

  /** J3: get-or-create dimension join (reference :135-160): existing rows keep
    * their id, misses get a deterministic generated id. */
  def j3GetOrCreate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cand = documents(spark, dir).select($"source").distinct()
    val existing = cand.filter(length($"source") === 4)
      .select($"source", concat(lit("E_"), md5($"source".cast("binary"))).as("existing_id"))
    cand.join(existing, Seq("source"), "left")
      .select($"source",
        coalesce($"existing_id", concat(lit("G_"), md5(concat(lit("root/"), $"source").cast("binary"))))
          .as("folder_id"))
  }

  /** J4: full-outer reconcile of expected vs actual days (verify-month,
    * reference main.yml:18-23). */
  def j4FullOuterReconcile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val expected = spark.range(1).select(explode(sequence(
      lit("2024-01-01").cast("date"), lit("2024-01-31").cast("date"),
      expr("interval 1 day"))).as("day"))
    val actual = events(spark, dir)
      .groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("n_events"))
    expected.join(actual, Seq("day"), "full_outer")
      .select($"day",
        coalesce($"n_events", lit(0L)).as("n_events"),
        when($"n_events".isNull, "missing").otherwise("done").as("status"))
  }

  /** J5: except / retry set (retry-failed, reference main.yml:18-23). */
  def j5ExceptRetry(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = events(spark, dir).select(to_date($"ts").as("day")).distinct()
    val withError = events(spark, dir)
      .filter($"event_type" === "error" && $"value" > 195)
      .select(to_date($"ts").as("day")).distinct()
    all.except(withError)
  }

  /** J6: equi star join over the full dimension chain. Broadcast hints
    * only on the bounded dims (nation ≤25, region ≤5 rows — fixed for any
    * SF); `customer` scales with SF, so its join strategy is left to
    * AQE/autoBroadcastJoinThreshold: broadcast at fixture scale (asserted
    * in PlanShapeSpec), shuffle join at 100 TB instead of an OOM. */
  def j6StarJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, dir)
      .join(orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(drev($"l_extendedprice", $"l_discount").as("revenue"), count(lit(1)).as("n_items"))
      .orderBy($"r_name", $"n_name")
  }

  /** J6b: left outer join keeping empty orders (zero-lineitem counts). */
  def j6LeftJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    orders(spark, dir)
      .join(lineitem(spark, dir), $"o_orderkey" === $"l_orderkey", "left")
      .groupBy($"o_orderkey")
      .agg(count($"l_orderkey").as("n_items"))
  }

  /** J6c: left-semi join (EXISTS). */
  def j6SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    customer(spark, dir)
      .join(orders(spark, dir), $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name")
  }

  /** J6d: bucketed co-located join — both sides written bucketed+sorted on
    * the join key, so the sort-merge join needs NO shuffle exchange and no
    * sort (asserted in PlanShapeSpec). This is the pre-partitioning answer
    * for repeated large-fact joins at 100 TB: pay the layout cost once at
    * ingest, join for free afterwards. Forced to SMJ via hint (the fixture
    * dimension is broadcast-sized, real deployments are not).
    *
    * One-time bucketed-layout staging, memoized per
    * source dir so the benched query times the JOIN, not the ingest-time
    * layout cost (which at 100 TB is paid once and amortized over every
    * subsequent join). Existence-checked against the catalog so a fresh
    * session re-stages. */
  @volatile private var stagedBucketDir: String = null
  @volatile private var stagedBucketWh: String = null
  private[graft] def stageBucketedTables(spark: SparkSession, dir: String): Unit =
    synchronized {
      if (stagedBucketDir != dir ||
          !spark.catalog.tableExists("graft_b_orders") ||
          !spark.catalog.tableExists("graft_b_lineitem")) {
        import spark.implicits._
        val wh = tempDir("bucketed")
        spark.sql("DROP TABLE IF EXISTS graft_b_orders")
        spark.sql("DROP TABLE IF EXISTS graft_b_lineitem")
        // DROP TABLE detaches the catalog entry only; reclaim the previous
        // external warehouse dir so re-staging doesn't orphan full copies
        if (stagedBucketWh != null)
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stagedBucketWh)): Unit
        orders(spark, dir).select($"o_orderkey", $"o_orderstatus")
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$wh/orders").saveAsTable("graft_b_orders")
        lineitem(spark, dir)
          .select($"l_orderkey", $"l_extendedprice", $"l_discount")
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$wh/lineitem").saveAsTable("graft_b_lineitem")
        stagedBucketDir = dir
        stagedBucketWh = wh
      }
    }

  def j6BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    stageBucketedTables(spark, dir)
    spark.table("graft_b_lineitem").hint("merge")
      .join(spark.table("graft_b_orders"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_items"), drev($"l_extendedprice", $"l_discount").as("revenue"))
  }

  /** A12: typed per-group logic — KeyValueGroupedDataset.mapGroups, the
    * Spark-idiomatic replacement for the reference's imperative per-day
    * loop (:455-470): arbitrary Scala over each group's iterator, here the
    * max inter-event gap per user. One shuffle on the key; unlike agg there
    * is no partial aggregation, so this is the escape hatch for logic that
    * genuinely can't be an aggregate (this one could — the window-lag
    * formulation is the oracle — which is exactly what makes it checkable).
    *
    * HOT-KEY CAVEAT: mapGroups materializes each group on ONE task (here:
    * each user's events into one in-memory array). With no partial agg and
    * no salting possible (the closure needs the whole group), an unbounded
    * hot key lands the whole group on a single executor — bounded per-user
    * cardinality is a precondition. For skewed keys use the salted
    * two-stage aggregate pattern instead (a4SaltedAgg). */
  def a12MapGroups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .select($"user_id", unix_micros($"ts").as("us")).as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (user, it) =>
        val ts = it.map(_._2).toArray.sorted
        val maxGap = if (ts.length < 2) 0L else ts.sliding(2).map(a => a(1) - a(0)).max
        (user, ts.length.toLong, maxGap)
      }
      .toDF("user_id", "n_events", "max_gap_us")
  }

  /** J9: upsert/merge (MERGE INTO semantics by composition) — apply a
    * deterministic change batch (updates, inserts, deletes) to the customer
    * dimension via one full-outer join: delete rows drop, update rows take
    * the new balance, insert rows appear, untouched rows pass through. The
    * reference's get-or-create + overwrite protocols are special cases of
    * this shape. Scale: one full-outer shuffle on the merge key, both
    * sides — a full-outer join cannot be a broadcast hash join, so the
    * shuffle is the honest floor for MERGE at any size. Insert keys are
    * the negated base key: provably disjoint from the (positive) key space
    * at every SF, unlike any fixed offset. */
  def j9UpsertMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = customer(spark, dir).select($"c_custkey", $"c_name", $"c_acctbal")
    val changes = base
      .filter($"c_custkey" % 10 === 0 || $"c_custkey" % 17 === 0)
      .select($"c_custkey",
        when($"c_custkey" % 17 === 0, "D").otherwise("U").as("op"),
        ($"c_acctbal" + 100).as("new_bal"), $"c_name".as("new_name"))
      .unionByName(base.filter($"c_custkey" % 13 === 0)
        .select((-$"c_custkey").as("c_custkey"), lit("I").as("op"),
          lit(0.0).as("new_bal"), concat(lit("NEW_"), $"c_name").as("new_name")))
    base.join(changes, Seq("c_custkey"), "full_outer")
      .filter($"op".isNull || $"op" =!= "D")
      .select($"c_custkey",
        coalesce($"new_name", $"c_name").as("name"),
        when($"op" === "U", $"new_bal")
          .when($"op" === "I", $"new_bal")
          .otherwise($"c_acctbal").as("acctbal"))
  }

  /** A6b: unpivot/melt — wide measure columns to (measure, value) rows,
    * the inverse of the A6 pivot. Pure map-side reshape, no shuffle. */
  def a6bUnpivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, dir).filter($"l_orderkey" < 100)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_discount", $"l_tax")
      .unpivot(Array($"l_orderkey", $"l_linenumber"),
        Array($"l_quantity", $"l_discount", $"l_tax"), "measure", "value")
  }

  /** J6e: null-safe equality join (<=>) — null keys match each other,
    * unlike plain =. Small distinct key sets on both sides. */
  def j6NullsafeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keys = events(spark, dir)
      .select(nullif($"event_type", lit("error")).as("k")).distinct()
    val right = keys.select($"k".as("k2"))
    keys.join(right, $"k" <=> $"k2")
      .select(coalesce($"k", lit("(null)")).as("matched_key"))
  }

  /** W4b: distribution-rank window functions (ntile, percent_rank,
    * cume_dist) with a deterministic total order. */
  def w4RankStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice", $"o_orderkey")
    orders(spark, dir).select($"o_custkey", $"o_orderkey",
      ntile(4).over(w).cast("long").as("quartile"),
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"))
  }

  /** W5b: value-navigation window functions (first/last/nth in frame). */
  def w5ValueNav(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(spark, dir).select($"o_custkey", $"o_orderkey",
      first($"o_orderkey").over(w).as("first_order"),
      last($"o_orderkey").over(w).as("last_order"),
      nth_value($"o_orderkey", 2).over(w).as("second_order"))
  }

  /** J7: as-of join — latest prior click per purchase (theta/range join +
    * pick-latest). Scale: equi key user_id bounds the shuffle; the range
    * predicate rides inside the join, no cartesian product. */
  def j7AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts".as("p_ts"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"))
    val w = Window.partitionBy($"event_id").orderBy($"c_ts".desc)
    purchases
      .join(clicks, $"user_id" === $"c_user" && $"c_ts" <= $"p_ts", "left")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"event_id", $"user_id", $"p_ts", $"c_ts".as("last_click_ts"))
  }

  /** A2/A3 (typed): the verified-ingest Aggregator — one custom typed
    * aggregate over the events stream per user (success = non-error event,
    * bytes = cents of value). */
  def a3TypedAggregator(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VerifiedIngestAgg.verifiedIngest
    import spark.implicits._
    events(spark, dir)
      .select($"user_id", ($"event_type" =!= "error").as("ok"),
        ($"value".cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .groupBy($"user_id")
      .agg(verifiedIngest($"ok", $"cents").as("ingest"))
      .select($"user_id", $"ingest.n_ok".as("n_ok"), $"ingest.n_fail".as("n_fail"),
        $"ingest.total_bytes".as("total_cents"), $"ingest.all_ok".as("all_ok"))
  }

  // ---------------------------------------------------------- aggregations
  /** A1: counts + per-group distinct count. */
  def a1Counts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir).groupBy($"event_type")
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
  }

  /** A2: conditional count (sum of flags, reference :456-477). */
  def a2CondCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, dir).groupBy($"l_returnflag")
      .agg(sum(when($"l_discount" > 0.05, 1L).otherwise(0L)).as("n_disc"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  /** A3: bool_and/bool_or per group (reference completeness check :477). */
  def a3BoolAnd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, dir).groupBy($"l_orderkey")
      .agg(bool_and($"l_quantity" > 0).as("all_qty_pos"),
        bool_or($"l_tax" > 0.05).as("any_high_tax"),
        count(lit(1)).as("n_lines"))
  }

  /** A4: group-by-key organization (title/date layout, reference :441-442). */
  def a4GroupLayout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    documents(spark, dir).groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
  }

  /** A5: relational distinct (reference set() dedup :299). */
  def a5Distinct(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir).select("l_returnflag", "l_linestatus").dropDuplicates()

  /** A6: per-group status rollup via pivot (verify-month, main.yml:18-23). */
  def a6Pivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy(to_date($"ts").as("day"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .count()
      .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))
  }

  /** A7: collect-list with deterministic order (collect_set + sort). */
  def a7CollectSorted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir).groupBy($"user_id")
      .agg(array_join(array_sort(collect_set($"event_type")), ",").as("types_seen"),
        count(lit(1)).as("n_events"))
  }

  /** A8: min/max/avg timing-style rollup (reference :468-472). */
  def a8MinMax(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir).groupBy($"event_type")
      .agg(min($"value").as("min_v"), max($"value").as("max_v"),
        (dsum($"value") / count(lit(1))).as("avg_v"),
        min($"ts").as("first_ts"), max($"ts").as("last_ts"))
      .orderBy($"event_type")
  }

  /** A10a: exact distinct aggregates. */
  def a10DistinctExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir).agg(
      countDistinct($"user_id").as("n_users"),
      countDistinct($"event_type").as("n_types"),
      count(lit(1)).as("n_rows"))
  }

  /** A10b: approximate distinct (HLL++). No oracle — sketch values are
    * engine-specific; driver checks rows/schema only. */
  def a10ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir).agg(
      approx_count_distinct($"user_id").as("approx_users"),
      approx_count_distinct($"event_id").as("approx_events"))
  }

  /** A13: RE-AGGREGATABLE distinct-count sketches (DataSketches HLL) —
    * the 100 TB pattern approx_count_distinct cannot express: build one
    * sketch per day AT INGEST, persist it, and answer any later period's
    * distinct-user question by MERGING sketches (`hll_union_agg`) instead
    * of rescanning raw events. Rows-only vs the oracle (the sketch binary
    * is engine-specific); ExtractionSpec bounds the merged estimate within
    * 5% of the exact distinct count. */
  def a13HllMergeSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dailySketches = events(spark, dir)
      .groupBy(to_date($"ts").as("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk")) // the persisted artifact
    dailySketches
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").cast("long")
        .as("approx_month_users"))
  }

  /** A11a: rollup with sentinel labels for subtotal rows. */
  def a11Rollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    customer(spark, dir)
      .join(broadcast(nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_cust"))
      .select(coalesce($"r_name", lit("(all)")).as("r"),
        coalesce($"n_name", lit("(all)")).as("n"), $"n_cust")
  }

  /** A11b: cube. */
  def a11Cube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(sum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce($"l_returnflag", lit("(all)")).as("rf"),
        coalesce($"l_linestatus", lit("(all)")).as("ls"), $"sum_qty", $"n")
  }

  /** A4b: skew-safe two-stage (salted) aggregation. The events table has
    * only 5 event_type keys — a direct groupBy concentrates all rows on 5
    * reducers regardless of cluster size. Stage 1 partially aggregates on
    * (key, salt) spreading each hot key over 16 reducers; stage 2 combines
    * the partials. Result is identical to the direct aggregation (the
    * oracle is the plain GROUP BY), shape survives 1000x skew. */
  def a4SaltedAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .withColumn("salt", pmod(xxhash64($"event_id"), lit(16)))
      .groupBy($"event_type", $"salt")
      .agg(count(lit(1)).as("pn"), sum($"value".cast(DecimalType(18, 2))).as("pv"))
      .groupBy($"event_type")
      .agg(sum($"pn").as("n"), sum($"pv").cast("double").as("sum_value"))
  }

  /** A11c: explicit GROUPING SETS through the SQL entry point (also
    * exercises spark.sql + temp-view registration as an API surface). */
  def a11GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir).createOrReplaceTempView("graft_events")
    spark.sql(
      """SELECT COALESCE(event_type, '(all)') AS et,
        |       COALESCE(CAST(user_id AS STRING), '(all)') AS uid,
        |       count(*) AS n
        |FROM graft_events
        |GROUP BY GROUPING SETS ((event_type), (user_id), ())""".stripMargin)
  }

  /** O8: bad-record tolerance — PERMISSIVE JSON parsing turns corrupt
    * documents into nulls instead of failing the job (reference isolates
    * per-row errors, :513-515). */
  def o8PermissiveParse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .withColumn("raw",
        when($"event_id" % 10 === 0, lit("{corrupt")).otherwise($"props"))
      .select($"event_id",
        from_json($"raw", org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
      .agg(count(lit(1)).as("n_rows"), count($"k").as("n_parsed"),
        sum(when($"k".isNull, 1L).otherwise(0L)).as("n_corrupt"))
  }

  // ---------------------------------------------------------------- windows
  /** W1: ordered day sequence (main.yml:77-80 ascending day processing). */
  def w1OrderedDays(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir).select(to_date($"ts").as("day")).distinct()
      .withColumn("day_seq", row_number().over(Window.orderBy($"day")).cast("long"))
      .orderBy($"day")
  }

  /** W2: limit over a total order (reference head/slice :346,:409). */
  def w2Limit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    orders(spark, dir).orderBy($"o_totalprice".desc, $"o_orderkey").limit(10)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
  }

  /** W3: first-match-wins as row_number()=1 (reference fallback :270-294). */
  def w3FirstMatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events(spark, dir).withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"user_id", $"event_type".as("first_type"), $"ts".as("first_ts"))
  }

  /** W4: ranking functions with deterministic tie handling. */
  def w4Ranking(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderpriority")
    orders(spark, dir)
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .filter($"rnk" <= 2)
      .select($"o_custkey", $"o_orderkey", $"o_orderpriority", $"rnk", $"drnk")
  }

  /** W5: analytic lag/lead/running sum per customer over order history. */
  def w5Analytic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    orders(spark, dir).select($"o_custkey", $"o_orderkey", $"o_orderdate",
      $"o_totalprice",
      lag($"o_totalprice", 1).over(w).as("prev_price"),
      lead($"o_totalprice", 1).over(w).as("next_price"),
      sum($"o_totalprice".cast(DecimalType(18, 2)))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double").as("running_total"))
  }

  /** W6: range frame — trailing 24h count/sum per user (second granularity
    * on both engines so frames agree exactly). */
  def w6RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".cast("long"))
      .rangeBetween(-86400, 0)
    events(spark, dir).select($"event_id", $"user_id", $"ts",
      count(lit(1)).over(w).as("n_24h"),
      sum($"value".cast(DecimalType(18, 2))).over(w).cast("double").as("sum_24h"))
  }

  /** W7: global top-k without full sort (TakeOrderedAndProject). */
  def w7GlobalTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, dir).groupBy($"l_partkey")
      .agg(drev($"l_extendedprice", $"l_discount").as("revenue"))
      .orderBy($"revenue".desc, $"l_partkey")
      .limit(20)
  }

  // ---------------------------------------------------------------- set ops
  def so1Distinct(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir).select("c_mktsegment").distinct()

  /** SO2: except — users who clicked but never purchased (retry-set shape). */
  def so2Except(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir)
    ev.filter($"event_type" === "click").select($"user_id")
      .except(ev.filter($"event_type" === "purchase" && $"value" > 150).select($"user_id"))
  }

  /** SO3: union of two entity sets. */
  def so3Union(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    supplier(spark, dir).select($"s_suppkey".as("entity_key"), $"s_name".as("entity_name"),
        lit("supplier").as("kind"))
      .unionByName(customer(spark, dir).select($"c_custkey".as("entity_key"),
        $"c_name".as("entity_name"), lit("customer").as("kind")))
  }

  /** SO4: intersect — calendar days seen both as order and ship dates. */
  def so4Intersect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    orders(spark, dir).select(to_date($"o_orderdate").as("day"))
      .intersect(lineitem(spark, dir).select(to_date($"l_shipdate").as("day")))
  }

  // ------------------------------------------------------ subqueries (SQL)
  /** Session-scoped views backing the subquery rows. The SQL entry point is
    * the surface under test here (Catalyst's subquery rewrites); the views
    * are plain parquet scans so pushdown/pruning still apply. */
  private def subqueryViews(spark: SparkSession, dir: String): Unit = {
    customer(spark, dir).createOrReplaceTempView("graft_customer")
    orders(spark, dir).createOrReplaceTempView("graft_orders")
    lineitem(spark, dir).createOrReplaceTempView("graft_lineitem")
  }

  /** SQ1: correlated EXISTS + NOT EXISTS via spark.sql (reference's
    * skip-if-exists / retry-missing checks, 01-scrape-images.py:181-188,
    * :462-465, expressed declaratively). RewritePredicateSubquery turns both
    * into semi/anti hash joins on o_custkey — two key shuffles at scale,
    * never a per-row probe. */
  def sq1ExistsSubquery(spark: SparkSession, dir: String): DataFrame = {
    subqueryViews(spark, dir)
    spark.sql(
      """SELECT c_custkey, c_name FROM graft_customer c
        |WHERE EXISTS (SELECT 1 FROM graft_orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
        |  AND NOT EXISTS (SELECT 1 FROM graft_orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""".stripMargin)
  }

  /** SQ2: correlated scalar subqueries — customers whose max order exceeds
    * their market segment's average order value. Catalyst decorrelates both
    * aggregates (RewriteCorrelatedScalarSubquery) into aggregate-then-join
    * plans keyed on o_custkey / c_mktsegment; the segment average is
    * computed once per segment, not once per customer. Decimal-exact sum
    * cast to double keeps the comparison bit-identical to DuckDB. */
  def sq2ScalarCorrelated(spark: SparkSession, dir: String): DataFrame = {
    subqueryViews(spark, dir)
    spark.sql(
      """SELECT c.c_custkey, c.c_name, c.c_mktsegment,
        |  (SELECT max(o.o_totalprice) FROM graft_orders o
        |   WHERE o.o_custkey = c.c_custkey) AS max_order
        |FROM graft_customer c
        |WHERE (SELECT max(o.o_totalprice) FROM graft_orders o
        |       WHERE o.o_custkey = c.c_custkey)
        |    > (SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |       FROM graft_orders o2 JOIN graft_customer c2 ON o2.o_custkey = c2.c_custkey
        |       WHERE c2.c_mktsegment = c.c_mktsegment)""".stripMargin)
  }

  /** SQ3: NOT IN subquery via spark.sql — exercises the null-aware anti
    * join path (the subquery column is non-null here, so Spark and DuckDB
    * agree; the rewrite is still the NAAJ-capable one). */
  def sq3NotInSubquery(spark: SparkSession, dir: String): DataFrame = {
    subqueryViews(spark, dir)
    spark.sql(
      """SELECT o_orderkey, o_orderstatus FROM graft_orders
        |WHERE o_orderkey NOT IN
        |  (SELECT l_orderkey FROM graft_lineitem WHERE l_quantity >= 48)""".stripMargin)
  }

  /** SQ4: LATERAL correlated subquery with per-group LIMIT — top-2
    * customers by balance per market segment. Catalyst plans the lateral as
    * a correlated join; the per-segment LIMIT bounds work per group (the
    * window-rank W4 row is the equivalent non-lateral spelling). */
  def sq4LateralTopk(spark: SparkSession, dir: String): DataFrame = {
    subqueryViews(spark, dir)
    spark.sql(
      """SELECT s.c_mktsegment, t.c_custkey, t.c_acctbal
        |FROM (SELECT DISTINCT c_mktsegment FROM graft_customer) s,
        |LATERAL (SELECT c_custkey, c_acctbal FROM graft_customer c
        |         WHERE c.c_mktsegment = s.c_mktsegment
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""".stripMargin)
  }

  /** SQ5: recursive CTE (Spark 4 `WITH RECURSIVE`) — the reference's
    * exponential retry-backoff schedule (:54-74, doubling delays) expanded
    * declaratively and crossed with the failed-day state
    * (main.yml:18-23): one schedule row per (failed day, attempt). The
    * recursion is acyclic and bounded (5 attempts), the shape Spark's
    * UNION ALL recursive execution supports; cyclic closures (dedup
    * clustering) use the iterative Pregel form in l17 instead. */
  def sq5RecursiveBackoff(spark: SparkSession, dir: String): DataFrame = {
    Sources.s4StateSource(spark, dir).createOrReplaceTempView("graft_state_sq5")
    spark.sql(
      """WITH RECURSIVE sched(attempt, delay_ms) AS (
        |  SELECT 1, CAST(100 AS BIGINT)
        |  UNION ALL SELECT attempt + 1, delay_ms * 2 FROM sched WHERE attempt < 5)
        |SELECT s.day, CAST(sched.attempt AS BIGINT) AS attempt, sched.delay_ms
        |FROM graft_state_sq5 s CROSS JOIN sched
        |WHERE s.status = 'failed'""".stripMargin)
  }

  /** SQ6: recursive CTE whose recursive step JOINS a real table — the
    * hierarchy-walk shape (org charts, folder trees, category paths)
    * that sq5's pure generator recursion never exercises. The nation
    * table carries an implicit binary tree (parent(k) = k div 2, root 0);
    * the CTE walks it level by level, each iteration a join between the
    * previous frontier and the table — Spark 4 executes this as
    * UnionLoopExec with the per-level join planned like any other equi
    * join, so the pattern scales to real dimension hierarchies. Bounded
    * by the tree depth; result is each node's depth. */
  def sq6RecursiveHierarchy(spark: SparkSession, dir: String): DataFrame = {
    nation(spark, dir).createOrReplaceTempView("graft_nation_sq6")
    spark.sql(
      """WITH RECURSIVE h(key, depth) AS (
        |  SELECT CAST(n_nationkey AS BIGINT), CAST(0 AS BIGINT)
        |  FROM graft_nation_sq6 WHERE n_nationkey = 0
        |  UNION ALL
        |  SELECT CAST(n.n_nationkey AS BIGINT), h.depth + 1
        |  FROM graft_nation_sq6 n JOIN h
        |    ON n.n_nationkey div 2 = h.key AND n.n_nationkey > 0)
        |SELECT key, depth FROM h""".stripMargin)
  }

  /** SQ7: SQL-DEFINED scalar function (Spark 4 `CREATE FUNCTION … RETURN`)
    * — the warehouse-user extension rung BELOW a catalyst Expression: the
    * body is pure SQL, registered from SQL, and INLINED into the plan at
    * analysis time, so unlike a Scala/Python UDF it costs nothing at any
    * scale — no call boundary, no serialization, full whole-stage codegen,
    * and filters/pushdown see through it. The body computes the l-item
    * margin in exact decimal arithmetic (the dsum discipline), so the
    * summed output hash-matches DuckDB, which evaluates the same
    * expression written out inline. */
  def sq7SqlUdf(spark: SparkSession, dir: String): DataFrame = {
    lineitem(spark, dir).createOrReplaceTempView("graft_li_sq7")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_margin(
        |  price DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS DECIMAL(28, 6)
        |RETURN CAST(price AS DECIMAL(18,2))
        |  * (1 - CAST(disc AS DECIMAL(4,2)))
        |  * (1 + CAST(tax AS DECIMAL(4,2)))""".stripMargin)
    spark.sql(
      """SELECT l_returnflag,
        |  CAST(sum(graft_margin(l_extendedprice, l_discount, l_tax))
        |    AS DOUBLE) AS margin,
        |  count(*) AS n
        |FROM graft_li_sq7
        |GROUP BY l_returnflag""".stripMargin)
  }

  /** SQ8: parameterized SQL — named parameter markers bound server-side
    * (`spark.sql(text, args)`), the injection-safe templating surface a
    * query service exposes instead of string concatenation. The literals
    * reach the plan as foldable constants, so pushdown and partition
    * pruning work exactly as if they were inlined. */
  def sq8Parameterized(spark: SparkSession, dir: String): DataFrame = {
    orders(spark, dir).createOrReplaceTempView("graft_orders_sq8")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM graft_orders_sq8
        |WHERE o_orderstatus = :status AND o_totalprice > :floor
        |GROUP BY o_orderpriority""".stripMargin,
      Map("status" -> "F", "floor" -> 1000))
  }

  /** A15: count-min sketch heavy hitters — the re-aggregatable frequency
    * sketch (depth 4 × width 64). Every event increments one cell per row
    * (a partial-aggregable groupBy on (row, col): sketches from shards
    * merge by cell addition, the same algebraic property as a13's HLL);
    * a key's estimate is the min over its 4 cells, which can only
    * OVER-count — the query also emits the exact count so the oracle pins
    * both the sketch arithmetic and the `est >= true` invariant. The hash
    * is md5-nibble-based so the oracle reproduces every cell exactly. */
  def a15CountminHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def colExpr(row: Int): Column = {
      def nibble(i: Int): String =
        s"(locate(substring(md5(cast(concat('$row|', event_type) AS BINARY)), $i, 1), " +
          s"'0123456789abcdef') - 1)"
      expr(s"((${nibble(1)} * 16 + ${nibble(2)}) % 64)")
    }
    val ev = events(spark, dir)
    // r20 (guide §2.3 "aggregate before you shuffle/explode"): the cell a
    // row lands in depends only on event_type, so the per-KEY counts are
    // aggregated FIRST (one partial+final count agg — the only corpus-sized
    // pass) and the sketch increments by `true_n` per (type, row) on the
    // |event_types|-sized frame. Identical cells, identical estimates —
    // cell addition is exactly the sketch's merge algebra — but the 4×
    // explode and the 4-per-row md5s now run on the tiny aggregate instead
    // of every event (sf0.1: 4 md5s × ~5 types, was × 100k rows; at 100 TB
    // the difference is a second corpus-sized pass). The three references
    // to `typeCounts` below dedupe to one exchange via ReuseExchange.
    val typeCounts = ev.groupBy($"event_type").agg(count(lit(1)).as("true_n"))
    val typed = typeCounts
      .select($"event_type", $"true_n",
        explode(array((0 until 4).map(lit(_)): _*)).as("row"))
      .withColumn("col",
        when($"row" === 0, colExpr(0)).when($"row" === 1, colExpr(1))
          .when($"row" === 2, colExpr(2)).otherwise(colExpr(3)))
    val cells = typed.groupBy($"row", $"col").agg(sum($"true_n").as("cell_n"))
    val est = typed.select($"event_type", $"row", $"col")
      .join(cells, Seq("row", "col"))
      .groupBy($"event_type").agg(min($"cell_n").as("est_n"))
    est.join(typeCounts, Seq("event_type"))
      .select($"event_type", $"est_n", $"true_n")
  }

  /** W8: time-series gap fill — the dense per-(key, day) grid every
    * downstream forecast/report expects: day series × key set, missing
    * days get n=0 and carry the last seen daily average forward
    * (`last(..., ignoreNulls)` over an ordered frame). The grid build is
    * a 1-row-driven generator crossed with the tiny key dim — never a
    * shuffle of the fact side beyond its own daily partial agg. */
  def w8GapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .filter($"event_id" % 3 === 0) // thin the stream so real gaps exist
      .groupBy($"event_type", date_trunc("day", $"ts").cast("date").as("day"))
      .agg(count(lit(1)).as("pn"),
        (sum($"value".cast(DecimalType(18, 2))).cast("double") / count(lit(1)))
          .as("day_avg"))
    val days = spark.range(1).select(explode(sequence(
      lit("2024-01-01").cast("date"), lit("2024-01-30").cast("date"),
      expr("interval 1 day"))).as("day"))
    val keys = events(spark, dir).select($"event_type").distinct()
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keys.crossJoin(days)
      .join(daily, Seq("event_type", "day"), "left")
      .select($"event_type", $"day",
        coalesce($"pn", lit(0L)).as("n"),
        last($"day_avg", ignoreNulls = true).over(w).as("filled_avg"))
  }

  /** W15: linear interpolation over a gapped time series — the resample
    * step beside w8's carry-forward: missing days get the straight-line
    * value between their known neighbors, the standard treatment for
    * sensor/metric series before any windowed model sees them. Mechanics:
    * bracket every day with its previous and next OBSERVED (day, count)
    * via `last(..., ignoreNulls)` / `first(..., ignoreNulls)` over
    * mirrored frames of the SAME event_type ordering — one hash exchange
    * feeds both window passes (the w9/w12 exchange-reuse shape) — then
    * one integer-scaled division (count ×1000) so every interpolated
    * value hash-matches the oracle exactly. Series edges (no neighbor on
    * one side) fall back to the available side, matching the oracle's
    * COALESCE. */
  def w15LinearInterpolate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .filter($"event_id" % 3 === 0) // thin the stream so real gaps exist
      .groupBy($"event_type", date_trunc("day", $"ts").cast("date").as("day"))
      .agg(count(lit(1)).as("pn"))
    // the spine comes from the injected day_spine TVF (g5) — the
    // distributed Range form, not another inline one-row explode
    val days = spark.sql(
      "SELECT day FROM day_spine(DATE'2024-01-01', DATE'2024-01-30')")
    val keys = events(spark, dir).select($"event_type").distinct()
    interpolateCore(keys.crossJoin(days)
      .join(daily, Seq("event_type", "day"), "left"))
  }

  /** Interpolation core over a (event_type, day, pn-nullable) grid, split
    * out so PropertySpec can drive it with arbitrary gapped series. */
  private[graft] def interpolateCore(grid: DataFrame): DataFrame = {
    import grid.sparkSession.implicits._
    val wPrev = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid
      .withColumn("pv", last($"pn" * 1000, ignoreNulls = true).over(wPrev))
      .withColumn("pd", last(when($"pn".isNotNull, $"day"), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first($"pn" * 1000, ignoreNulls = true).over(wNext))
      .withColumn("nd", first(when($"pn".isNotNull, $"day"), ignoreNulls = true).over(wNext))
      .select($"event_type", $"day",
        // convex-combination form (pv·right + nv·left) div span: the
        // numerator is provably non-negative, so Spark's truncating `div`
        // and DuckDB's flooring `//` agree on every row — the
        // (nv-pv)·frac form would diverge on descending segments
        when($"pn".isNotNull, $"pn" * 1000)
          .when($"pv".isNotNull && $"nv".isNotNull, expr(
            "(pv * datediff(nd, day) + nv * datediff(day, pd)) div datediff(nd, pd)"))
          .otherwise(coalesce($"pv", $"nv")).as("interp_n1000"))
  }

  /** Daily event counts per type — the shared metric series behind
    * w16/w17/w18 (one partial-agg exchange; integer counts keep every
    * downstream statistic oracle-exact). */
  private[graft] def dailyCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").cast("date").as("day"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** W16: anomaly detection over a metric series in EXACT integer
    * arithmetic — flag days whose traffic deviates from the per-type mean
    * by more than one standard deviation. The test |x − μ| > σ is
    * cross-multiplied to (n·x − s)² > n·(n·ss − s²) with s = Σx,
    * ss = Σx², so no division or sqrt ever happens and the boolean
    * hash-matches any engine bit-for-bit (float z-scores would round
    * differently under Spark's partial-agg summation order). Scale: the
    * per-type stats table is |event types| rows → broadcast back onto the
    * daily series; the only corpus-sized exchange is the daily partial
    * agg. Tighten to kσ by scaling the RHS by k². Longs overflow only
    * past ~sf1000 (day counts ~2^21); [[zscoreCore]] is split out so
    * PropertySpec can plant outliers and compare against brute force. */
  def w16ZscoreOutliers(spark: SparkSession, dir: String): DataFrame =
    zscoreCore(dailyCounts(spark, dir))

  private[graft] def zscoreCore(daily: DataFrame): DataFrame = {
    import daily.sparkSession.implicits._
    val stats = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"cnt").as("s"),
        sum($"cnt" * $"cnt").as("ss"))
    daily.join(broadcast(stats), Seq("event_type"))
      .select($"event_type", $"day", $"cnt",
        (($"n" * $"cnt" - $"s") * ($"n" * $"cnt" - $"s") >
          $"n" * ($"n" * $"ss" - $"s" * $"s")).as("is_outlier"))
  }

  /** W17: exponentially weighted moving average with α = 1/2 — the
    * smoothing pass monitoring pipelines run before alerting, normally
    * impossible to oracle-check because y_n = αx_n + (1−α)y_{n−1} compounds
    * float error. With α = 1/2 every quantity is DYADIC: the closed form
    * y_n = 2^{−(n+1)}·Σ x_i·2^i needs one running sum of exact dyadic
    * doubles (terms ≤ 2^47 for ≤30 days of 2^12-count days, far inside the
    * 53-bit mantissa), and scaling by a power of two is lossless — so the
    * double output is bit-identical in ANY summation order and
    * hash-matches DuckDB. The exactness window is ~43 days of 2^10-scale
    * counts; a multi-year deployment rebases the exponent per 30-day
    * block, carrying the previous block's y in as one extra term (the
    * fixture spans 30 days, one block). One window partitioning serves
    * row_number and the running sum. [[ewmaCore]] split out for the
    * recurrence test. */
  def w17Ewma(spark: SparkSession, dir: String): DataFrame =
    ewmaCore(dailyCounts(spark, dir))

  private[graft] def ewmaCore(daily: DataFrame): DataFrame = {
    import daily.sparkSession.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("rn", row_number().over(w))
      .withColumn("sn", sum($"cnt" * pow(lit(2.0), $"rn")).over(wCum))
      .select($"event_type", $"day", $"cnt",
        ($"sn" * pow(lit(2.0), -($"rn" + lit(1)))).as("ewma"))
  }

  /** W18: exact rolling median — a HOLISTIC aggregate over a moving
    * 7-day frame, which no engine evaluates incrementally (median is not
    * a semigroup; contrast a17's mergeable histogram quantiles). The
    * frame's values are collected per row (bounded ×7 fan-out, the same
    * bound w11 exploits), sorted, and the two middle elements summed:
    * `med2` = 2×median stays integer, dodging the even-count .5
    * interpolation that would make the hash depend on float formatting.
    * Scale: memory per row is the frame width, never the partition; the
    * one exchange is the shared per-type day partitioning. */
  def w18WindowMedian(spark: SparkSession, dir: String): DataFrame =
    medianCore(dailyCounts(spark, dir))

  private[graft] def medianCore(daily: DataFrame): DataFrame = {
    import daily.sparkSession.implicits._
    val w7 = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("win", sort_array(collect_list($"cnt").over(w7)))
      .select($"event_type", $"day", $"cnt",
        // `div`, not `/`: the DSL's / promotes to double, and element_at
        // demands an integral index
        expr("element_at(win, cast((size(win) + 1) div 2 as int)) + " +
          "element_at(win, cast((size(win) + 2) div 2 as int))").as("med2"))
  }

  /** W20: robust outlier detection via median absolute deviation — the
    * heavy-tail-safe twin of w16's mean/stddev z-score: a handful of
    * extreme days cannot drag the threshold because both center (median)
    * and spread (MAD) are rank statistics. Flag days with
    * |cnt − median| > 3·MAD per event type. Everything stays EXACT
    * integer arithmetic (the w16/w18 discipline): med2 = 2·median and
    * mad4 = 4·MAD are integers by construction (each is a sum of two
    * middle integer elements), so the flag compares 2·|2·cnt − med2| >
    * 3·mad4 with no float in sight and the result hash-matches at any
    * ulp. Shape at scale: the two full-partition medians are window
    * aggregates over the ALREADY-AGGREGATED per-(type, day) rows — days
    * per type, bounded — sharing ONE event_type exchange; the corpus-
    * sized work is the dailyCounts partial+final count agg. */
  def w20MadOutliers(spark: SparkSession, dir: String): DataFrame =
    madCore(dailyCounts(spark, dir))

  /** W21: day-of-week seasonal baseline — the deseasonalized anomaly gate
    * a weekly-periodic event stream needs (weekend troughs would trip a
    * flat w16/w20 threshold every Saturday). Each (event_type, ISO
    * weekday) cell gets its own exact median baseline (med2 = 2·median,
    * integer by construction, the w18/w20 discipline), and a day is
    * anomalous when it deviates from ITS OWN weekday's baseline by more
    * than 15% (|2·cnt − med2|·20 > med2·3 — all-integer, hash-exact).
    * Cross-engine weekday contract: Spark `weekday()+1` == DuckDB
    * `isodow()` (both 1=Monday..7=Sunday); Spark/DuckDB `dayofweek`
    * disagree on range (1-7 vs 0-6) and are avoided.
    *
    * Scale (100 TB): corpus-sized work is only the dailyCounts
    * partial+final agg; the seasonal medians are window aggregates over
    * per-(type, dow) day rows — bounded by the calendar — on ONE
    * (event_type, dow) exchange. */
  def w21SeasonalBaseline(spark: SparkSession, dir: String): DataFrame =
    seasonalCore(dailyCounts(spark, dir))

  /** w21's core on any (event_type, day, cnt) frame — split out so the
    * spec can feed a crafted weekly-periodic series and pin the
    * DESEASONALIZATION property (a regular weekend trough must not flag;
    * the same count on a weekday must). */
  private[graft] def seasonalCore(daily: DataFrame): DataFrame = {
    import daily.sparkSession.implicits._
    val wDow = Window.partitionBy($"event_type", $"dow")
    daily
      .withColumn("dow", (expr("weekday(day)") + 1).cast("long"))
      .withColumn("med2",
        (expr("percentile(cnt, 0.5)").over(wDow) * 2).cast("long"))
      .withColumn("dev2", lit(2) * $"cnt" - $"med2")
      .select($"event_type", $"day", $"dow", $"cnt", $"med2", $"dev2",
        (abs($"dev2") * 20 > $"med2" * 3).as("is_anomaly"))
  }

  /** w20's core on any (event_type, day, cnt) frame — split out so the
    * spec can feed a crafted series and pin the ROBUSTNESS property (a
    * planted extreme day must not move the center or the threshold). */
  private[graft] def madCore(daily: DataFrame): DataFrame = {
    import daily.sparkSession.implicits._
    val wType = Window.partitionBy($"event_type")
    daily
      .withColumn("med2",
        (expr("percentile(cnt, 0.5)").over(wType) * 2).cast("long"))
      .withColumn("dev2", abs(lit(2) * $"cnt" - $"med2"))
      .withColumn("mad4",
        (expr("percentile(dev2, 0.5)").over(wType) * 2).cast("long"))
      .select($"event_type", $"day", $"cnt", $"med2", $"mad4",
        (lit(2) * $"dev2" > lit(3) * $"mad4").as("is_outlier"))
  }

  /** W19: SCD-2 historization — the slowly-changing-dimension type-2
    * build every warehouse runs to give a mutable attribute a validity
    * timeline: per user, consecutive runs of the same `event_type` (the
    * tracked attribute) collapse into one row carrying
    * `[valid_from_us, valid_to_us)` and an `is_current` flag, where
    * `valid_to_us` is the NEXT run's start (the SCD2 close-out) and the
    * open run has `valid_to_us` NULL. Shape at scale: gaps-and-islands
    * over ONE `user_id` exchange — change detection (lag), run numbering
    * (running sum), run collapse (group-by), and close-out (lead over the
    * already-collapsed runs, user-count-sized input) reuse the same
    * partitioning; nothing re-shuffles. Total order (ts, event_id) makes
    * runs deterministic under timestamp ties; all times integer micros. */
  def w19Scd2History(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    scd2Runs(events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"), $"event_id"))
      .select($"user_id", $"event_type", $"valid_from_us", $"valid_to_us",
        $"valid_to_us".isNull.as("is_current"), $"n_events")
  }

  /** w19's core as a reusable transform (the streaming twin st21 runs it
    * per micro-batch): (user_id, event_type, us, event_id) → runs with
    * (user_id, run_id, event_type, valid_from_us, valid_to_us, n_events),
    * valid_to_us NULL on each user's open (last) run. */
  private[graft] def scd2Runs(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val runs = ev
      .withColumn("chg",
        when(lag($"event_type", 1).over(wOrd).isNull ||
          lag($"event_type", 1).over(wOrd) =!= $"event_type", 1L).otherwise(0L))
      .withColumn("run_id", sum($"chg").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"run_id", $"event_type")
      .agg(min($"us").as("valid_from_us"), count(lit(1)).as("n_events"))
    val wRun = Window.partitionBy($"user_id").orderBy($"valid_from_us", $"run_id")
    runs.withColumn("valid_to_us", lead($"valid_from_us", 1).over(wRun))
      .select($"user_id", $"run_id", $"event_type", $"valid_from_us",
        $"valid_to_us", $"n_events")
  }

  /** A14: incremental aggregate maintenance — yesterday's stored per-key
    * aggregate merged with today's delta batch WITHOUT recomputing history.
    * count/sum/min/max are re-aggregatable (the algebraic-aggregate
    * property the HLL-merge row a13 exercises for sketches), so the merge
    * is `agg(stored ∪ delta-partial)`: at 100 TB this turns a daily
    * full-corpus recompute into a partial agg over the new data plus a
    * key-count-sized merge. Oracle: the full recompute — incrementality
    * must never change the answer. */
  def a14IncrementalAggMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def partial(df: DataFrame): DataFrame = df
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast(DecimalType(18, 2))).as("pq"),
        min($"l_quantity").as("mn"), max($"l_quantity").as("mx"))
    val li = lineitem(spark, dir)
    val stored = partial(li.filter($"l_orderkey" % 4 =!= 0)) // history
    val delta = partial(li.filter($"l_orderkey" % 4 === 0)) // new batch
    stored.unionByName(delta)
      .groupBy($"l_returnflag")
      .agg(sum($"n").as("n"), sum($"pq").cast("double").as("sum_qty"),
        min($"mn").as("min_qty"), max($"mx").as("max_qty"))
  }

  /** J10: selective-dimension join, the runtime-bloom-filter shape — a
    * huge fact (lineitem) joined to a dimension reduced by a selective
    * non-key predicate. At warehouse scale Spark injects a bloom filter of
    * the dim's join keys into the fact scan
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`, size-gated by
    * creation/application thresholds, so it arms at 100 TB and not on
    * fixtures — PlanShapeSpec lowers the gates and pins the
    * BloomFilterMightContain plan). Semantics are threshold-independent:
    * the oracle checks the plain join answer. */
  def j10BloomRuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, dir)
      .join(orders(spark, dir).filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), drev($"l_extendedprice", $"l_discount").as("revenue"))
  }

  /** J11: manually salted skew join — the fact side appends a salt in
    * [0,16), the (small, hot-keyed) dimension is replicated across all 16
    * salt values, and the join key becomes (key, salt): one hot key fans
    * out over 16 tasks instead of one straggler. AQE skew-split (tested in
    * PlanShapeSpec) is the automatic fix for batch SMJ; explicit salting is
    * the fix that also works where AQE can't reach (streaming state,
    * pre-Spark-3 engines, bucketed layouts). Salt must never change the
    * answer: the oracle is the unsalted join. */
  def j11SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = events(spark, dir).groupBy($"event_type")
      .agg((sum($"value".cast(DecimalType(18, 2))).cast("double") / count(lit(1)))
        .as("type_avg"))
    val dimSalted = dim.withColumn("salt", explode(sequence(lit(0L), lit(15L))))
    events(spark, dir)
      .withColumn("salt", pmod(xxhash64($"event_id"), lit(16)))
      .join(dimSalted, Seq("event_type", "salt"))
      .select($"event_id", $"event_type", $"type_avg")
  }

  /** J14: planted-skew join left to AQE's skew-split — the automatic
    * counterpart of J11's manual salting. ~90% of the fact side is mapped
    * onto one hot key, the shape that stalls a 1000-executor sort-merge
    * join on a single straggler task; with
    * `spark.sql.adaptive.skewJoin.enabled` (default on) the planner splits
    * the oversized partition into advisory-sized slices and replicates the
    * matching dim rows, so no salt column ever enters the schema and the
    * answer is byte-identical to the unskewed plan (that equality IS the
    * oracle). PlanShapeSpec pins `skew=true` in the executed plan with
    * fixture-trippable thresholds; at 100 TB the default 256 MB threshold
    * arms on its own.
    *
    * Shape note: BOTH join inputs are plain projected scans — AQE's
    * OptimizeSkewedJoin only matches a sort-merge join whose children are
    * sort+shuffle stages, so an aggregate (or any other operator) between
    * the exchange and the join would silently disable the skew split.
    * That constraint is exactly what this query documents. */
  def j14AqeSkewJoin(spark: SparkSession, dir: String): DataFrame =
    j14SkewJoinCore(j14Fact(spark, dir), j14Dim(spark, dir))

  /** Fact side of J14: ~90% of lineitem mapped onto hot key 0. */
  private[graft] def j14Fact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, dir).select(
      when($"l_orderkey" % 10 < 9, 0L).otherwise($"l_partkey" % 1000).as("k"),
      $"l_quantity")
  }

  /** Dim side of J14: one row per key, made unique by a pure pushed
    * FILTER (p_partkey < 1000), never an aggregate — an agg here would
    * both disable the skew-split pattern match and, with `%`-folded
    * duplicate keys, make the join output grow as SF² instead of SF. */
  private[graft] def j14Dim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    part(spark, dir).filter($"p_partkey" < 1000)
      .select($"p_partkey".as("k"), $"p_size".cast("long").as("p_size"))
  }

  /** Join+agg core of J14, split out for the plan test. Two shape
    * constraints this query deliberately documents:
    *   - AQE can only SLICE a skewed reduce partition along mapper
    *     boundaries, and every fixture parquet is one row group = one
    *     mapper — so the local test feeds this core a multi-mapper
    *     (repartitioned) fact side, the shape any production input has;
    *   - the downstream aggregate keys on `p_size`, NOT the join key: an
    *     agg on the join key would be satisfied by the join's own
    *     partitioning, and OptimizeSkewedJoin refuses to split when that
    *     would force an extra exchange (unless forceOptimizeSkewedJoin).
    *     Aggregating on a different key needs its own shuffle regardless,
    *     so the skew split is free. */
  private[graft] def j14SkewJoinCore(fact: DataFrame, dim: DataFrame): DataFrame = {
    import fact.sparkSession.implicits._
    fact.join(dim, Seq("k"))
      .groupBy($"p_size")
      .agg(count(lit(1)).as("n_li"), dsum($"l_quantity").as("sum_qty"))
  }

  /** J12: SCD type-2 dimension maintenance — a new snapshot of a slowly
    * changing dimension merged into its history table: unchanged keys keep
    * their open row, changed keys get the old row CLOSED (valid_to set)
    * plus a new open row with the new attribute. Three branches, each one
    * anti/semi equi join against the (small) changed-key set — the
    * standard warehouse pattern, and at 100 TB each branch stays a
    * key-partitioned hash join with no full-history rewrite. The fixture
    * change set is deterministic (every 10th key flips segment), so the
    * whole versioned output is oracle-checkable. */
  def j12Scd2Merge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v1 = customer(spark, dir).select($"c_custkey", $"c_mktsegment".as("seg"))
    val v2 = customer(spark, dir).select($"c_custkey",
      when($"c_custkey" % 10 === 0, concat($"c_mktsegment", lit("_X")))
        .otherwise($"c_mktsegment").as("seg"))
    val changed = v1.join(v2.withColumnRenamed("seg", "seg2"), Seq("c_custkey"))
      .filter($"seg" =!= $"seg2").select($"c_custkey")
    val cut = lit("2024-06-01").cast("date")
    val keptOpen = v1.join(changed, Seq("c_custkey"), "left_anti")
      .select($"c_custkey", $"seg",
        lit("2024-01-01").cast("date").as("valid_from"),
        lit(null).cast("date").as("valid_to"))
    val closedOld = v1.join(changed, Seq("c_custkey"), "left_semi")
      .select($"c_custkey", $"seg",
        lit("2024-01-01").cast("date").as("valid_from"), cut.as("valid_to"))
    val openedNew = v2.join(changed, Seq("c_custkey"), "left_semi")
      .select($"c_custkey", $"seg", cut.as("valid_from"),
        lit(null).cast("date").as("valid_to"))
    keptOpen.unionByName(closedOld).unionByName(openedNew)
  }

  /** W12: ordered funnel — the sequential-pattern analytic (the shape
    * MATCH_RECOGNIZE serves in engines that have it): per user, the
    * earliest `view`, the earliest `click` AFTER that view, and the
    * earliest `purchase` AFTER that click, then one row per funnel stage
    * with the converted-user count. No self-joins: each stage is a
    * conditional running min over the SAME user-partitioned sort, so the
    * whole funnel costs ONE shuffle on user_id (Exchange reuse across the
    * three window passes), and the final stage agg runs on |users| rows,
    * not |events|. */
  def w12Funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    funnelCore(events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("us")))
  }

  /** Funnel core over (user_id, event_id, event_type, us), split out so
    * PropertySpec can drive it with arbitrary generated timelines. */
  private[graft] def funnelCore(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = ev
      .withColumn("t_view", min(when($"event_type" === "view", $"us")).over(w))
      .withColumn("t_click", min(when($"event_type" === "click" &&
        $"t_view".isNotNull && $"us" > $"t_view", $"us")).over(w))
      .withColumn("t_purchase", min(when($"event_type" === "purchase" &&
        $"t_click".isNotNull && $"us" > $"t_click", $"us")).over(w))
    val perUser = staged.groupBy($"user_id")
      .agg(min($"t_view").as("v"), min($"t_click").as("c"), min($"t_purchase").as("p"))
    perUser.select(
      sum(when($"v".isNotNull, 1L).otherwise(0L)).as("viewed"),
      sum(when($"c".isNotNull, 1L).otherwise(0L)).as("clicked_after_view"),
      sum(when($"p".isNotNull, 1L).otherwise(0L)).as("purchased_after_click"))
  }

  /** W13: grouped top-k through the custom [[graft.plans.TopKPerKey]]
    * operator — the whole-operator extension rung (LogicalPlan + Strategy
    * + SparkPlan via SparkSessionExtensions). The window formulation
    * (w7-style rank <= k) must sort every group's full row set; this
    * operator keeps a bounded k-buffer per key after one hash exchange
    * and sorts NOTHING (plan test: no SortExec below the operator).
    * Ordering is total (price desc, then the unique line id), so the
    * selected rows hash-match the window-rank oracle exactly. */
  def w13TopkNative(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = lineitem(spark, dir).select($"l_returnflag", $"l_orderkey",
      $"l_linenumber".cast("long").as("l_linenumber"), $"l_extendedprice")
    graft.plans.TopKPerKey.topKPerKey(
      li,
      keys = Seq($"l_returnflag"),
      order = Seq($"l_extendedprice".desc, $"l_orderkey".asc, $"l_linenumber".asc),
      k = 3)
  }

  /** A17: mergeable-sketch aggregation — the reaggregation pattern behind
    * every warehouse percentile sketch (t-digest/KLL), demonstrated with a
    * FIXED-BIN INTEGER histogram so the whole chain stays exactly
    * oracle-checkable: stage 1 builds constant-size per-day partials
    * (20 buckets), stage 2 merges partials by summing counts — the
    * mergeable-state property that lets 100 TB of daily history collapse
    * into month/era quantiles without ever re-reading raw rows — and
    * stage 3 extracts p50/p90 by integer cumulative walk. Every value is
    * a count or a bucket id; no float quantile interpolation anywhere. */
  def a17HistogramMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val partials = events(spark, dir)
      .select($"event_type", to_date($"ts").as("day"),
        least(floor($"value" / 20).cast("long"), lit(19L)).as("bucket"))
      .groupBy($"event_type", $"day", $"bucket")
      .agg(count(lit(1)).as("c"))
    val merged = partials.groupBy($"event_type", $"bucket").agg(sum($"c").as("c"))
    val w = Window.partitionBy($"event_type").orderBy($"bucket")
    merged
      .withColumn("cum", sum($"c").over(w))
      .withColumn("total", sum($"c").over(Window.partitionBy($"event_type")))
      .groupBy($"event_type")
      .agg(max($"total").as("n"),
        min(when($"cum" * 2 >= $"total", $"bucket")).as("p50_bucket"),
        min(when($"cum" * 10 >= $"total" * 9, $"bucket")).as("p90_bucket"))
  }

  /** W9: batch sessionization — the gap-rule the streaming session window
    * (st6_session) applies in state, expressed over data at rest: a new
    * session starts when a user's inter-event gap exceeds 30 min, the
    * session id is the running count of session starts, then one agg per
    * (user, session). Scale: a single hash partition on user_id serves both
    * window passes AND the final agg (Exchange reuse) — no second shuffle;
    * per-user ordering is the sort within each partition. */
  def w9BatchSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sessionize(events(spark, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us")),
      30L * 60 * 1000 * 1000)
  }

  /** Sessionization core over (user_id, event_id, us): gap > `gapUs` starts
    * a new session. Split out so PropertySpec can drive it with arbitrary
    * generated timelines. */
  private[graft] def sessionize(ev: DataFrame, gapUs: Long): DataFrame = {
    import ev.sparkSession.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    ev
      .withColumn("is_new",
        when(($"us" - lag($"us", 1).over(w)) > gapUs ||
          lag($"us", 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("session_id", sum($"is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        min($"us").as("start_us"), max($"us").as("end_us"))
  }

  /** W10: cumulative distinct count — the user-growth curve: users counted
    * on their FIRST active day (one shuffle-partitioned min-agg per user),
    * then a running total over the per-day counts. The global window runs
    * over |days| rows, not |events| — the per-user agg has already
    * collapsed the data, so the single-partition ordered window is
    * scale-free (the pattern that makes "running distinct" viable at
    * 100 TB: never window the raw stream). */
  def w10CumulativeDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val newPerDay = orders(spark, dir)
      .groupBy($"o_custkey").agg(min(to_date($"o_orderdate")).as("day"))
      .groupBy($"day").agg(count(lit(1)).as("new_customers"))
    newPerDay.select($"day", $"new_customers",
      sum($"new_customers").over(Window.orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("cum_customers"))
  }

  /** W11: rolling 7-day distinct users — the windowed-distinct metric that
    * has NO window-function form (count distinct over a range frame is
    * unsupported in any engine, for good reason: per-frame distinct state).
    * The scale shape is bounded fan-out: each (user, active-day) pair
    * contributes to exactly the 7 window-end days it can influence
    * (explode of a 7-element sequence), then one two-phase
    * count-distinct per day. Fan-out ×7 beats the range self-join
    * (|days| × |activity| pairs) that the naive formulation shuffles. */
  def w11RollingDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .select($"user_id", to_date($"ts").as("d")).distinct()
      .select($"user_id", explode(sequence($"d", date_add($"d", 6))).as("day"))
      .groupBy($"day")
      .agg(countDistinct($"user_id").as("active_7d"))
  }

  /** J13: interval (range) join, bucket-accelerated — events matched to
    * overlapping campaign windows. The naive plan is a broadcast
    * nested-loop theta join (every event × every campaign); the scale
    * shape used here maps each interval to the day buckets it covers and
    * each event to its day, so the join is a plain EQUI join on the day
    * key with a residual range predicate — shuffle-partitionable on both
    * sides, no NLJ anywhere. An interval covers each day bucket at most
    * once, so no pair dedup is needed. */
  def j13IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val camp = spark.range(10).select(
      $"id".as("campaign_id"),
      date_add(lit("2024-01-01").cast("date"), ($"id" * 3).cast("int"))
        .as("start_day"))
      .select($"campaign_id",
        $"start_day".cast("timestamp_ntz").as("start_ts"),
        date_add($"start_day", 5).cast("timestamp_ntz").as("end_ts"))
    intervalJoinCore(
      events(spark, dir).select($"ts", $"value"), camp)
      .groupBy($"campaign_id")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
  }

  /** J15: point-in-time feature join — the feature-store lookup that makes
    * training data leakage-free: each fact (`view` event) reads the value
    * of a slowly-changing per-user feature (its latest `purchase` value)
    * AS OF the fact's own instant, never a later one. Spark-first shape:
    * instead of materializing SCD2 intervals and running an interval join
    * (cost ∝ facts × overlapping intervals, the j13 shape), updates and
    * facts UNION into one stream and a single per-user ordered window
    * (`last(feat) ignoreNulls`) carries the newest update forward onto
    * every fact — one user_id exchange, no range-join blowup, ties at the
    * same instant resolved update-before-fact then by event_id. The
    * oracle is deliberately the OTHER formulation (lead()-built validity
    * intervals + range join), so the hash compare proves the two
    * strategies agree row-for-row.
    *
    * Scale (100 TB): facts and updates shuffle ONCE on user_id; window
    * state is one running value per user; no interval table is ever
    * materialized. Skewed users fall under AQE like any window partition;
    * a per-user day pre-bucket splits pathological single-user streams. */
  def j15PitFeatureJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pitCore(events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"),
        $"event_id", $"value"))
  }

  /** j15's core on any (user_id, event_type, us, event_id, value) frame —
    * split out so the spec can plant an update/fact sequence and pin the
    * leakage-free property (a fact must see the latest update at or
    * before its instant, never a later one). */
  private[graft] def pitCore(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    // updates wrap their value in a non-null struct, so a NULL-valued
    // update still counts as an update (the fact reads pit_feat = NULL,
    // exactly like the oracle's interval join) instead of being skipped
    // by ignoreNulls — which would leak the PREVIOUS value forward
    val tagged = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"us", $"event_id", lit(0).as("kind"),
        struct($"value".as("v")).as("upd"))
      .unionByName(ev.filter($"event_type" === "view")
        .select($"user_id", $"us", $"event_id", lit(1).as("kind"),
          lit(null).cast("struct<v:double>").as("upd")))
    val w = Window.partitionBy($"user_id")
      .orderBy($"us", $"kind", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("latest", last($"upd", ignoreNulls = true).over(w))
      .filter($"kind" === 1 && $"latest".isNotNull)
      .select($"event_id", $"user_id", $"us", $"latest.v".as("pit_feat"))
  }

  /** Bucketed interval-join core: rows with `ts` matched to intervals
    * `[start_ts, end_ts)` via an EQUI join on the covered day buckets plus
    * the residual range predicate. An interval covers each day at most
    * once, so no pair dedup is needed — a claim PropertySpec checks on
    * random interval sets against a brute-force theta join. */
  private[graft] def intervalJoinCore(ev: DataFrame, camp: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val chunks = camp.select($"campaign_id", $"start_ts", $"end_ts",
      explode(sequence(to_date($"start_ts"),
        to_date($"end_ts" - expr("interval 1 microsecond")))).as("day"))
    ev.withColumn("day", date_trunc("day", $"ts").cast("date"))
      .join(chunks, Seq("day"))
      .filter($"ts" >= $"start_ts" && $"ts" < $"end_ts")
      .drop("day")
  }

  /** W14: cohort retention — the acquisition-cohort × month-offset matrix
    * (the canonical product-analytics rollup; mirrors the reference's
    * month-completeness bookkeeping, /root/reference/src/01-scrape-images.py
    * :456-477, generalized to per-cohort survival). Scale shape: the
    * per-customer first-month agg and the distinct (customer, month)
    * activity set BOTH collapse the raw orders before anything global
    * happens, the cohort join is a plain equi join on the customer key
    * (AQE-broadcastable once collapsed, shuffle join at 100 TB), and the
    * final agg runs on |customers × active-months| rows, never raw orders.
    * Months are integer-encoded (year*12+month) so the offset arithmetic
    * is exact in any engine. */
  def w14CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def monthNum(c: Column): Column = (year(c) * 12 + month(c)).cast("long")
    val first = orders(spark, dir).groupBy($"o_custkey")
      .agg(min(monthNum($"o_orderdate")).as("cohort_m"))
    val active = orders(spark, dir)
      .select($"o_custkey", monthNum($"o_orderdate").as("active_m")).distinct()
    active.join(first, Seq("o_custkey"))
      .groupBy($"cohort_m", ($"active_m" - $"cohort_m").as("offset_m"))
      .agg(count(lit(1)).as("retained"))
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "w15_linear_interpolate" -> (w15LinearInterpolate _),
    "w16_zscore_outliers" -> (w16ZscoreOutliers _),
    "w17_ewma" -> (w17Ewma _),
    "w18_window_median" -> (w18WindowMedian _),
    "w19_scd2_history" -> (w19Scd2History _),
    "w20_mad_outliers" -> (w20MadOutliers _),
    "w21_seasonal_baseline" -> (w21SeasonalBaseline _),
    "j15_pit_feature_join" -> (j15PitFeatureJoin _),
    "w14_cohort_retention" -> (w14CohortRetention _),
    "w9_batch_sessionize" -> (w9BatchSessionize _),
    "w10_cumulative_distinct" -> (w10CumulativeDistinct _),
    "w11_rolling_distinct" -> (w11RollingDistinct _),
    "j13_interval_join" -> (j13IntervalJoin _),
    "a14_incremental_agg_merge" -> (a14IncrementalAggMerge _),
    "a15_countmin_heavy_hitters" -> (a15CountminHeavyHitters _),
    "a17_histogram_merge" -> (a17HistogramMerge _),
    "w12_funnel" -> (w12Funnel _),
    "w13_topk_native" -> (w13TopkNative _),
    "w8_gap_fill" -> (w8GapFill _),
    "j12_scd2_merge" -> (j12Scd2Merge _),
    "j10_bloom_runtime_filter" -> (j10BloomRuntimeFilter _),
    "j11_salted_join" -> (j11SaltedJoin _),
    "j14_aqe_skew_join" -> (j14AqeSkewJoin _),
    "sq5_recursive_backoff" -> (sq5RecursiveBackoff _),
    "sq6_recursive_cte" -> (sq6RecursiveHierarchy _),
    "sq7_sql_udf" -> (sq7SqlUdf _),
    "sq8_parameterized" -> (sq8Parameterized _),
    "sq1_exists_subquery" -> (sq1ExistsSubquery _),
    "sq2_scalar_correlated" -> (sq2ScalarCorrelated _),
    "sq3_not_in_subquery" -> (sq3NotInSubquery _),
    "sq4_lateral_topk" -> (sq4LateralTopk _),
    "a9_multi_agg_q1" -> (a9MultiAggQ1 _),
    "p6_between" -> (p6Between _),
    "j1_anti_skip_exists" -> (j1AntiSkipExists _),
    "j2_keyed_lookup" -> (j2KeyedLookup _),
    "j3_get_or_create" -> (j3GetOrCreate _),
    "j4_full_outer_reconcile" -> (j4FullOuterReconcile _),
    "j5_except_retry" -> (j5ExceptRetry _),
    "j6_star_join" -> (j6StarJoin _),
    "j6_left_join" -> (j6LeftJoin _),
    "j6_semi_join" -> (j6SemiJoin _),
    "j6_bucketed_join" -> (j6BucketedJoin _),
    "j6_nullsafe_join" -> (j6NullsafeJoin _),
    "j9_upsert_merge" -> (j9UpsertMerge _),
    "a6b_unpivot" -> (a6bUnpivot _),
    "a12_map_groups" -> (a12MapGroups _),
    "w4_rank_stats" -> (w4RankStats _),
    "w5_value_nav" -> (w5ValueNav _),
    "j7_asof_join" -> (j7AsofJoin _),
    "a1_counts" -> (a1Counts _),
    "a2_cond_count" -> (a2CondCount _),
    "a3_bool_and" -> (a3BoolAnd _),
    "a3_typed_aggregator" -> (a3TypedAggregator _),
    "a4_group_layout" -> (a4GroupLayout _),
    "a4_salted_agg" -> (a4SaltedAgg _),
    "a5_distinct" -> (a5Distinct _),
    "a6_pivot" -> (a6Pivot _),
    "a7_collect_sorted" -> (a7CollectSorted _),
    "a8_minmax" -> (a8MinMax _),
    "a10_distinct_exact" -> (a10DistinctExact _),
    "a10_approx_distinct" -> (a10ApproxDistinct _),
    "a13_hll_merge_sketch" -> (a13HllMergeSketch _),
    "a11_rollup" -> (a11Rollup _),
    "a11_cube" -> (a11Cube _),
    "a11_grouping_sets" -> (a11GroupingSets _),
    "o8_permissive_parse" -> (o8PermissiveParse _),
    "w1_ordered_days" -> (w1OrderedDays _),
    "w2_limit" -> (w2Limit _),
    "w3_first_match" -> (w3FirstMatch _),
    "w4_ranking" -> (w4Ranking _),
    "w5_analytic" -> (w5Analytic _),
    "w6_range_frame" -> (w6RangeFrame _),
    "w7_global_topk" -> (w7GlobalTopk _),
    "so1_distinct" -> (so1Distinct _),
    "so2_except" -> (so2Except _),
    "so3_union" -> (so3Union _),
    "so4_intersect" -> (so4Intersect _)
  )

  val oracle: Map[String, String] = Map(
    "w15_linear_interpolate" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    count(*) AS pn
        |  FROM events WHERE event_id % 3 = 0 GROUP BY 1, 2),
        |days AS (
        |  SELECT CAST(unnest(generate_series(DATE '2024-01-01',
        |    DATE '2024-01-30', INTERVAL 1 DAY)) AS DATE) AS day),
        |grid AS (
        |  SELECT k.event_type, d.day, daily.pn
        |  FROM (SELECT DISTINCT event_type FROM events) k
        |  CROSS JOIN days d
        |  LEFT JOIN daily ON daily.event_type = k.event_type AND daily.day = d.day),
        |br AS (
        |  SELECT event_type, day, pn,
        |    last_value(pn * 1000 IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN pn IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wp AS pd,
        |    first_value(pn * 1000 IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN pn IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wn AS nd
        |  FROM grid
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, day,
        |  CAST(CASE WHEN pn IS NOT NULL THEN pn * 1000
        |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |      (pv * datediff('day', day, nd) + nv * datediff('day', pd, day))
        |        // datediff('day', pd, nd)
        |    ELSE coalesce(pv, nv) END AS BIGINT) AS interp_n1000
        |FROM br""".stripMargin,
    "w16_zscore_outliers" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cnt) AS BIGINT) AS s,
        |    CAST(sum(cnt * cnt) AS BIGINT) AS ss
        |  FROM daily GROUP BY 1)
        |SELECT d.event_type, d.day, d.cnt,
        |  (s.n * d.cnt - s.s) * (s.n * d.cnt - s.s)
        |    > s.n * (s.n * s.ss - s.s * s.s) AS is_outlier
        |FROM daily d JOIN stats s USING (event_type)""".stripMargin,
    "w17_ewma" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |rn AS (
        |  SELECT event_type, day, cnt,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM daily)
        |SELECT event_type, day, cnt,
        |  sum(cnt * power(2.0, rn)) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    * power(2.0, -(rn + 1)) AS ewma
        |FROM rn""".stripMargin,
    "w18_window_median" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, cnt,
        |  CAST(2 * median(cnt) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS med2
        |FROM daily""".stripMargin,
    "w20_mad_outliers" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT *, CAST(2 * median(cnt)
        |    OVER (PARTITION BY event_type) AS BIGINT) AS med2
        |  FROM daily),
        |d AS (SELECT *, abs(2 * cnt - med2) AS dev2 FROM m),
        |md AS (
        |  SELECT *, CAST(2 * median(dev2)
        |    OVER (PARTITION BY event_type) AS BIGINT) AS mad4
        |  FROM d)
        |SELECT event_type, day, cnt, med2, mad4,
        |  2 * dev2 > 3 * mad4 AS is_outlier
        |FROM md""".stripMargin,
    "j15_pit_feature_join" ->
      """WITH upd AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
        |    value AS feat
        |  FROM events WHERE event_type = 'purchase'),
        |iv AS (
        |  SELECT *, lead(us) OVER w AS to_us
        |  FROM upd WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |fact AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
        |  FROM events WHERE event_type = 'view')
        |SELECT f.event_id, f.user_id, f.us, iv.feat AS pit_feat
        |FROM fact f JOIN iv ON f.user_id = iv.user_id
        |  AND iv.us <= f.us
        |  AND (iv.to_us IS NULL OR f.us < iv.to_us)""".stripMargin,
    "w21_seasonal_baseline" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT *, CAST(isodow(day) AS BIGINT) AS dow FROM daily),
        |m AS (
        |  SELECT *, CAST(2 * median(cnt)
        |    OVER (PARTITION BY event_type, dow) AS BIGINT) AS med2
        |  FROM d)
        |SELECT event_type, day, dow, cnt, med2, 2 * cnt - med2 AS dev2,
        |  abs(2 * cnt - med2) * 20 > med2 * 3 AS is_anomaly
        |FROM m""".stripMargin,
    "w19_scd2_history" ->
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
    "w14_cohort_retention" ->
      """WITH f AS (
        |  SELECT o_custkey,
        |    min(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
        |  FROM orders GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT o_custkey,
        |    year(o_orderdate) * 12 + month(o_orderdate) AS active_m
        |  FROM orders)
        |SELECT CAST(f.cohort_m AS BIGINT) AS cohort_m,
        |  CAST(a.active_m - f.cohort_m AS BIGINT) AS offset_m,
        |  count(*) AS retained
        |FROM a JOIN f USING (o_custkey)
        |GROUP BY 1, 2""".stripMargin,
    "w9_batch_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
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
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM f)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(us) AS start_us, max(us) AS end_us
        |FROM s GROUP BY 1, 2""".stripMargin,
    "w10_cumulative_distinct" ->
      """WITH fd AS (
        |  SELECT o_custkey, CAST(min(date_trunc('day', o_orderdate)) AS DATE) AS day
        |  FROM orders GROUP BY 1),
        |npd AS (SELECT day, count(*) AS new_customers FROM fd GROUP BY 1)
        |SELECT day, new_customers,
        |  CAST(sum(new_customers) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_customers
        |FROM npd""".stripMargin,
    "w11_rolling_distinct" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        |  FROM events),
        |c AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM ud)
        |SELECT day, count(DISTINCT user_id) AS active_7d
        |FROM c GROUP BY 1""".stripMargin,
    "j13_interval_join" ->
      """WITH camp AS (
        |  SELECT CAST(i AS BIGINT) AS campaign_id,
        |    CAST(DATE '2024-01-01' + CAST(i * 3 AS INTEGER) AS TIMESTAMP) AS start_ts,
        |    CAST(DATE '2024-01-01' + CAST(i * 3 + 5 AS INTEGER) AS TIMESTAMP) AS end_ts
        |  FROM generate_series(0, 9) t(i))
        |SELECT c.campaign_id, count(*) AS n_events,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN camp c
        |  ON CAST(e.ts AS TIMESTAMP) >= c.start_ts
        | AND CAST(e.ts AS TIMESTAMP) < c.end_ts
        |GROUP BY 1""".stripMargin,
    "a15_countmin_heavy_hitters" ->
      """WITH rows4(r) AS (VALUES (0), (1), (2), (3)),
        |hashed AS (
        |  SELECT event_type, r,
        |    ((strpos('0123456789abcdef',
        |        substr(md5(CAST(r AS VARCHAR) || '|' || event_type), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5(CAST(r AS VARCHAR) || '|' || event_type), 2, 1)) - 1)) % 64
        |      AS col
        |  FROM events CROSS JOIN rows4),
        |cells AS (SELECT r, col, count(*) AS cell_n FROM hashed GROUP BY 1, 2),
        |probes AS (SELECT DISTINCT event_type, r, col FROM hashed),
        |est AS (
        |  SELECT p.event_type, CAST(min(c.cell_n) AS BIGINT) AS est_n
        |  FROM probes p JOIN cells c ON p.r = c.r AND p.col = c.col
        |  GROUP BY 1),
        |exact AS (SELECT event_type, count(*) AS true_n FROM events GROUP BY 1)
        |SELECT e.event_type, e.est_n, x.true_n
        |FROM est e JOIN exact x ON e.event_type = x.event_type""".stripMargin,
    "w8_gap_fill" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    count(*) AS pn,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS day_avg
        |  FROM events WHERE event_id % 3 = 0 GROUP BY 1, 2),
        |days AS (SELECT CAST(unnest(generate_series(
        |    DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS DATE) AS day),
        |keys AS (SELECT DISTINCT event_type FROM events)
        |SELECT k.event_type, d.day,
        |  COALESCE(x.pn, 0) AS n,
        |  last_value(x.day_avg IGNORE NULLS) OVER (
        |    PARTITION BY k.event_type ORDER BY d.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
        |FROM keys k CROSS JOIN days d
        |LEFT JOIN daily x ON x.event_type = k.event_type AND x.day = d.day""".stripMargin,
    "j12_scd2_merge" ->
      """WITH v1 AS (SELECT c_custkey, c_mktsegment AS seg FROM customer),
        |v2 AS (SELECT c_custkey,
        |         CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment || '_X'
        |              ELSE c_mktsegment END AS seg FROM customer),
        |changed AS (SELECT a.c_custkey FROM v1 a JOIN v2 b USING (c_custkey)
        |            WHERE a.seg <> b.seg)
        |SELECT c_custkey, seg, DATE '2024-01-01' AS valid_from,
        |       CAST(NULL AS DATE) AS valid_to
        |FROM v1 WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
        |UNION ALL
        |SELECT c_custkey, seg, DATE '2024-01-01', DATE '2024-06-01'
        |FROM v1 WHERE c_custkey IN (SELECT c_custkey FROM changed)
        |UNION ALL
        |SELECT c_custkey, seg, DATE '2024-06-01', CAST(NULL AS DATE)
        |FROM v2 WHERE c_custkey IN (SELECT c_custkey FROM changed)""".stripMargin,
    "a17_histogram_merge" ->
      """WITH partials AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    least(CAST(floor(value / 20) AS BIGINT), 19) AS bucket,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |merged AS (
        |  SELECT event_type, bucket, CAST(sum(c) AS BIGINT) AS c
        |  FROM partials GROUP BY 1, 2),
        |walked AS (
        |  SELECT event_type, bucket, c,
        |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS total
        |  FROM merged)
        |SELECT event_type, max(total) AS n,
        |  min(CASE WHEN cum * 2 >= total THEN bucket END) AS p50_bucket,
        |  min(CASE WHEN cum * 10 >= total * 9 THEN bucket END) AS p90_bucket
        |FROM walked GROUP BY event_type""".stripMargin,
    "w13_topk_native" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
        |FROM (
        |  SELECT l_returnflag, l_orderkey,
        |    CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |WHERE rn <= 3""".stripMargin,
    "w12_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |s1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS t_view
        |  FROM ev),
        |s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click'
        |                      AND t_view IS NOT NULL AND us > t_view THEN us END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS t_click
        |  FROM s1),
        |s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase'
        |                      AND t_click IS NOT NULL AND us > t_click THEN us END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS t_purchase
        |  FROM s2),
        |pu AS (
        |  SELECT user_id, min(t_view) AS v, min(t_click) AS c,
        |    min(t_purchase) AS p
        |  FROM s3 GROUP BY 1)
        |SELECT
        |  CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS viewed,
        |  CAST(sum(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
        |  CAST(sum(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after_click
        |FROM pu""".stripMargin,
    "a14_incremental_agg_merge" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "j10_bloom_runtime_filter" ->
      s"""SELECT l_returnflag, count(*) AS n, $oraRev AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY l_returnflag""".stripMargin,
    "j11_salted_join" ->
      """WITH dim AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS type_avg
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, d.type_avg
        |FROM events e JOIN dim d ON e.event_type = d.event_type""".stripMargin,
    "j14_aqe_skew_join" ->
      """WITH fact AS (
        |  SELECT CASE WHEN l_orderkey % 10 < 9 THEN 0
        |              ELSE l_partkey % 1000 END AS k, l_quantity
        |  FROM lineitem),
        |dim AS (
        |  SELECT p_partkey AS k, CAST(p_size AS BIGINT) AS p_size
        |  FROM part WHERE p_partkey < 1000)
        |SELECT d.p_size, count(*) AS n_li,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM fact f JOIN dim d ON f.k = d.k
        |GROUP BY d.p_size""".stripMargin,
    "sq1_exists_subquery" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""".stripMargin,
    "sq2_scalar_correlated" ->
      """SELECT c.c_custkey, c.c_name, c.c_mktsegment,
        |  (SELECT max(o.o_totalprice) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS max_order
        |FROM customer c
        |WHERE (SELECT max(o.o_totalprice) FROM orders o
        |       WHERE o.o_custkey = c.c_custkey)
        |    > (SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |       FROM orders o2 JOIN customer c2 ON o2.o_custkey = c2.c_custkey
        |       WHERE c2.c_mktsegment = c.c_mktsegment)""".stripMargin,
    "sq3_not_in_subquery" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderkey NOT IN
        |  (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 48)""".stripMargin,
    "sq6_recursive_cte" ->
      """WITH RECURSIVE h(key, depth) AS (
        |  SELECT CAST(n_nationkey AS BIGINT), CAST(0 AS BIGINT)
        |  FROM nation WHERE n_nationkey = 0
        |  UNION ALL
        |  SELECT CAST(n.n_nationkey AS BIGINT), h.depth + 1
        |  FROM nation n JOIN h ON n.n_nationkey // 2 = h.key AND n.n_nationkey > 0)
        |SELECT key, depth FROM h""".stripMargin,
    "sq7_sql_udf" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |    * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS margin,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "sq8_parameterized" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 1000
        |GROUP BY o_orderpriority""".stripMargin,
    "sq5_recursive_backoff" ->
      """WITH RECURSIVE sched(attempt, delay_ms) AS (
        |  SELECT 1, CAST(100 AS BIGINT)
        |  UNION ALL SELECT attempt + 1, delay_ms * 2 FROM sched WHERE attempt < 5)
        |SELECT s.day, CAST(sched.attempt AS BIGINT) AS attempt, sched.delay_ms
        |FROM (VALUES ('2024-01-03'), ('2024-01-07')) s(day) CROSS JOIN sched""".stripMargin,
    "sq4_lateral_topk" ->
      """SELECT s.c_mktsegment, t.c_custkey, t.c_acctbal
        |FROM (SELECT DISTINCT c_mktsegment FROM customer) s,
        |LATERAL (SELECT c_custkey, c_acctbal FROM customer c
        |         WHERE c.c_mktsegment = s.c_mktsegment
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""".stripMargin,
    "a9_multi_agg_q1" ->
      s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
         |${oraDsum("l_extendedprice")} AS sum_base_price,
         |$oraRev AS sum_disc_price,
         |sum(l_quantity) / count(*) AS avg_qty,
         |${oraDsum("l_discount")} / count(*) AS avg_disc,
         |count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "p6_between" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'""".stripMargin,
    "j1_anti_skip_exists" ->
      """SELECT DISTINCT l_orderkey FROM lineitem
        |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin,
    "j2_keyed_lookup" ->
      s"""SELECT p_brand, count(*) AS n_items, $oraRev AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand""".stripMargin,
    "j3_get_or_create" ->
      """SELECT source,
        |CASE WHEN length(source) = 4 THEN 'E_' || md5(source)
        |     ELSE 'G_' || md5('root/' || source) END AS folder_id
        |FROM (SELECT DISTINCT source FROM documents)""".stripMargin,
    "j4_full_outer_reconcile" ->
      """WITH expected AS (
        |  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31', INTERVAL 1 DAY)) AS DATE) AS day),
        |actual AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n_events FROM events GROUP BY 1)
        |SELECT COALESCE(e.day, a.day) AS day,
        |  COALESCE(a.n_events, 0) AS n_events,
        |  CASE WHEN a.n_events IS NULL THEN 'missing' ELSE 'done' END AS status
        |FROM expected e FULL OUTER JOIN actual a ON e.day = a.day""".stripMargin,
    "j5_except_retry" ->
      """SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events
        |EXCEPT
        |SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events WHERE event_type = 'error' AND value > 195""".stripMargin,
    "j6_star_join" ->
      s"""SELECT r_name, n_name, $oraRev AS revenue, count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name""".stripMargin,
    "j6_left_join" ->
      """SELECT o_orderkey, count(l_orderkey) AS n_items
        |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey""".stripMargin,
    "j6_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "j6_bucketed_join" ->
      s"""SELECT o_orderstatus, count(*) AS n_items, $oraRev AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus""".stripMargin,
    "j6_nullsafe_join" ->
      """SELECT COALESCE(a.k, '(null)') AS matched_key
        |FROM (SELECT DISTINCT NULLIF(event_type, 'error') AS k FROM events) a
        |JOIN (SELECT DISTINCT NULLIF(event_type, 'error') AS k FROM events) b
        |  ON a.k IS NOT DISTINCT FROM b.k""".stripMargin,
    "a12_map_groups" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) -
        |      lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY ts) AS gap
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(COALESCE(max(gap), 0) AS BIGINT) AS max_gap_us
        |FROM g GROUP BY user_id""".stripMargin,
    "j9_upsert_merge" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |changes AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 17 = 0 THEN 'D' ELSE 'U' END AS op,
        |    c_acctbal + 100 AS new_bal, c_name AS new_name
        |  FROM base WHERE c_custkey % 10 = 0 OR c_custkey % 17 = 0
        |  UNION ALL
        |  SELECT -c_custkey, 'I', 0.0, 'NEW_' || c_name
        |  FROM base WHERE c_custkey % 13 = 0)
        |SELECT COALESCE(b.c_custkey, c.c_custkey) AS c_custkey,
        |  COALESCE(c.new_name, b.c_name) AS name,
        |  CASE WHEN c.op IN ('U','I') THEN c.new_bal ELSE b.c_acctbal END AS acctbal
        |FROM base b FULL OUTER JOIN changes c ON b.c_custkey = c.c_custkey
        |WHERE c.op IS NULL OR c.op <> 'D'""".stripMargin,
    "a6b_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
        |FROM lineitem WHERE l_orderkey < 100
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |FROM lineitem WHERE l_orderkey < 100
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |FROM lineitem WHERE l_orderkey < 100""".stripMargin,
    "w4_rank_stats" ->
      """SELECT o_custkey, o_orderkey,
        |CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |percent_rank() OVER w AS pr,
        |cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)""".stripMargin,
    "w5_value_nav" ->
      """SELECT o_custkey, o_orderkey,
        |first_value(o_orderkey) OVER w AS first_order,
        |last_value(o_orderkey) OVER w AS last_order,
        |nth_value(o_orderkey, 2) OVER w AS second_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "j7_asof_join" ->
      """SELECT p.event_id, p.user_id, p.ts AS p_ts,
        |  (SELECT max(c.ts) FROM events c
        |   WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts <= p.ts) AS last_click_ts
        |FROM events p WHERE p.event_type = 'purchase'""".stripMargin,
    "a1_counts" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,
    "a2_cond_count" ->
      """SELECT l_returnflag,
        |CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_disc,
        |count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "a3_bool_and" ->
      """SELECT l_orderkey, bool_and(l_quantity > 0) AS all_qty_pos,
        |bool_or(l_tax > 0.05) AS any_high_tax, count(*) AS n_lines
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "a3_typed_aggregator" ->
      """SELECT user_id,
        |CAST(sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
        |CAST(sum(CASE WHEN event_type <> 'error' THEN 0 ELSE 1 END) AS BIGINT) AS n_fail,
        |CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents,
        |bool_and(event_type <> 'error') AS all_ok
        |FROM events GROUP BY user_id""".stripMargin,
    "a4_group_layout" ->
      """SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang, source""".stripMargin,
    "a4_salted_agg" ->
      s"""SELECT event_type, count(*) AS n, ${oraDsum("value")} AS sum_value
         |FROM events GROUP BY event_type""".stripMargin,
    "a5_distinct" -> "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "a6_pivot" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |count(CASE WHEN event_type = 'view' THEN 1 END) AS "view",
        |count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |count(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY 1""".stripMargin,
    "a7_collect_sorted" ->
      """SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_seen,
        |count(*) AS n_events
        |FROM events GROUP BY user_id""".stripMargin,
    "a8_minmax" ->
      s"""SELECT event_type, min(value) AS min_v, max(value) AS max_v,
         |${oraDsum("value")} / count(*) AS avg_v,
         |min(ts) AS first_ts, max(ts) AS last_ts
         |FROM events GROUP BY event_type""".stripMargin,
    "a10_distinct_exact" ->
      """SELECT count(DISTINCT user_id) AS n_users, count(DISTINCT event_type) AS n_types,
        |count(*) AS n_rows FROM events""".stripMargin,
    "a11_rollup" ->
      """SELECT COALESCE(r_name, '(all)') AS r, COALESCE(n_name, '(all)') AS n, count(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "a11_cube" ->
      """SELECT COALESCE(l_returnflag, '(all)') AS rf, COALESCE(l_linestatus, '(all)') AS ls,
        |sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "a11_grouping_sets" ->
      """SELECT COALESCE(event_type, '(all)') AS et,
        |COALESCE(CAST(user_id AS VARCHAR), '(all)') AS uid, count(*) AS n
        |FROM events GROUP BY GROUPING SETS ((event_type), (user_id), ())""".stripMargin,
    "o8_permissive_parse" ->
      """SELECT count(*) AS n_rows,
        |CAST(sum(CASE WHEN event_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
        |CAST(sum(CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt
        |FROM events""".stripMargin,
    "w1_ordered_days" ->
      """SELECT day, row_number() OVER (ORDER BY day) AS day_seq
        |FROM (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events)""".stripMargin,
    "w2_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "w3_first_match" ->
      """SELECT user_id, event_type AS first_type, ts AS first_ts FROM (
        |  SELECT user_id, event_type, ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "w4_ranking" ->
      """SELECT o_custkey, o_orderkey, o_orderpriority, rnk, drnk FROM (
        |  SELECT o_custkey, o_orderkey, o_orderpriority,
        |    rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS rnk,
        |    dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS drnk
        |  FROM orders) WHERE rnk <= 2""".stripMargin,
    "w5_analytic" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |lag(o_totalprice, 1) OVER w AS prev_price,
        |lead(o_totalprice, 1) OVER w AS next_price,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "w6_range_frame" ->
      """SELECT event_id, user_id, ts,
        |count(*) OVER w AS n_24h,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_24h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |             RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)""".stripMargin,
    "w7_global_topk" ->
      s"""SELECT l_partkey, $oraRev AS revenue FROM lineitem
         |GROUP BY l_partkey ORDER BY revenue DESC, l_partkey LIMIT 20""".stripMargin,
    "so1_distinct" -> "SELECT DISTINCT c_mktsegment FROM customer",
    "so2_except" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 150""".stripMargin,
    "so3_union" ->
      """SELECT s_suppkey AS entity_key, s_name AS entity_name, 'supplier' AS kind FROM supplier
        |UNION ALL
        |SELECT c_custkey AS entity_key, c_name AS entity_name, 'customer' AS kind FROM customer""".stripMargin,
    "so4_intersect" ->
      """SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders
        |INTERSECT
        |SELECT DISTINCT CAST(l_shipdate AS DATE) AS day FROM lineitem""".stripMargin
  )
}
