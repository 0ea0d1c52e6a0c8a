package graft

import graft.queries.{Llm, Nested, Relational, Sources}

/** Plan-shape assertions (SURVEY §5.4 / §4 O1-O3): pushdown, pruning,
  * broadcast and codegen must actually appear in the executed plan — these
  * are the properties that keep the engine viable at 100 TB. */
class PlanShapeSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("O1: range predicate reaches the parquet scan as a pushed filter") {
    val plan = planOf(Sources.s1PushdownScan(spark, sfDir))
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan.take(2000))
  }

  test("O1: flagship Q1 pushes its shipdate bound") {
    val plan = planOf(Relational.a9MultiAggQ1(spark, sfDir))
    assert(plan.contains("LessThanOrEqual(l_shipdate"), plan.take(2000))
  }

  test("O2: column pruning — Q1 scan reads only the needed columns") {
    val plan = planOf(Relational.a9MultiAggQ1(spark, sfDir))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag"), readSchema)
    assert(!readSchema.contains("l_partkey"), readSchema)
    assert(!readSchema.contains("l_tax"), readSchema)
  }

  test("O2: nested JSON access parses only the referenced field") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Engine.events(spark, sfDir)
      .select(from_json($"props",
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k"))
    assert(df.queryExecution.analyzed.schema.fields.length == 1)
  }

  test("J6: scale-growing dims broadcast via planner stats/AQE, not hints") {
    // customer/part carry NO broadcast() hint (a forced broadcast of a
    // table that grows with SF is an OOM at 100 TB) — the planner must
    // still pick BroadcastHashJoin at fixture scale from size stats.
    val df = Relational.j6StarJoin(spark, sfDir)
    df.collect() // finalize AQE so the asserted plan is the executed one
    val plan = planOf(df).split("== Initial Plan ==")(0)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan.take(4000))
  }

  test("J2: un-hinted lookup join still broadcasts at fixture scale") {
    val df = Relational.j2KeyedLookup(spark, sfDir)
    df.collect()
    val plan = planOf(df).split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("A12: mapGroups shuffles every row on the full key — no partial agg") {
    // documents the hot-key caveat: unlike agg there is no map-side combine,
    // so the exchange carries every event and each key's whole group lands
    // on one task (see a12MapGroups scaladoc)
    val plan = planOf(Relational.a12MapGroups(spark, sfDir))
    assert(plan.contains("MapGroups"), plan.take(3000))
    assert(plan.contains("Exchange hashpartitioning"), plan.take(3000))
    assert(!plan.contains("HashAggregate"), plan.take(3000))
  }

  test("S1b: event-time range pushes to the events scan as a raw-long filter") {
    val plan = planOf(Engine.eventsBetween(spark, sfDir, "2024-01-10", "2024-01-12"))
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(ts"), plan.take(2000))
    assert(plan.contains("LessThan(ts"), plan.take(2000))
  }

  test("SQ7: the SQL-defined function is inlined — no UDF node survives") {
    val df = Relational.sq7SqlUdf(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the body must have been folded into ordinary expressions at analysis
    // time: a surviving ScalaUDF/PythonUDF call boundary would break
    // whole-stage codegen and mark a real (not inlined) function call
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      plan.take(2000))
    assert(plan.contains("HashAggregate"), plan.take(2000))
    // codegen stage markers (`*(n)`) prove the inlined body runs inside
    // whole-stage codegen; the AQE string form doesn't spell the name out
    assert(plan.contains("*(1)"), plan.take(2000))
    // and the body's decimal arithmetic really was substituted into the agg
    assert(plan.contains("decimal(4,2)"), plan.take(2000))
  }

  test("anti-join uses a hash join, not a nested loop (J1)") {
    val plan = planOf(Relational.j1AntiSkipExists(spark, sfDir))
    assert(plan.contains("LeftAnti"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("global top-k runs as TakeOrderedAndProject, not a full sort (W7)") {
    val plan = planOf(Relational.w7GlobalTopk(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("aggregation pipeline is whole-stage codegen'd (A9)") {
    val df = Relational.a9MultiAggQ1(spark, sfDir)
    df.collect() // finalize the adaptive plan so codegen stages are visible
    val plan = planOf(df)
    // final AQE plans render codegen stages as "*(n) Op" prefixes
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"), plan.take(3000))
  }

  test("O3: manifest kernel explodes with GenerateExec and no shuffle") {
    val plan = planOf(Nested.g1ManifestExplode(spark, sfDir))
    assert(plan.contains("Generate explode"), plan.take(3000))
    assert(!plan.contains("Exchange"), plan.take(3000)) // pure map-side pipeline
  }

  test("S5b: day-partitioned read prunes partitions at the scan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = tempDir("prune")
    Engine.events(spark, sfDir)
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    val read = spark.read.parquet(out).filter($"day" === "2024-01-15")
    val plan = planOf(read)
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan.take(2000))
    // only one of the ~30 day directories is scanned
    val scanned = read.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scanned.contains("day=2024-01-15") || plan.contains("(day#"), scanned.take(500))
  }

  test("B2 fixture: committed IIIF manifest parses through the declared schema") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val pages = spark.read.option("wholetext", "true")
      .text(s"${queries.Sources.fixtureDir}/manifest.json")
      .select(from_json($"value", Nested.manifestSchema).as("m"))
      .select(explode($"m.items").as("canvas"))
      .select(explode($"canvas.items").as("page"))
      .select(explode($"page.items").as("annotation"))
      .select($"annotation.body.id".as("url"))
      .filter($"url".isNotNull && $"url".endsWith(".jp2"))
      .select(element_at(split($"url", "/"), -1).as("page_file"))
      .as[String].collect().sorted
    assert(pages.toSeq == Seq(
      "bib13991099_18650102_0_1_0001.jp2", "bib13991099_18650102_0_1_0002.jp2"))
  }

  test("J6d: bucketed join has no shuffle exchange between scan and join") {
    val df = Relational.j6BucketedJoin(spark, sfDir)
    df.collect() // finalize AQE
    // inspect the final adaptive plan only (the "Initial Plan" echo repeats
    // the pre-AQE tree and would false-positive the exchange check)
    val plan = planOf(df).split("== Initial Plan ==")(0)
    assert(plan.contains("SortMergeJoin"), plan.take(4000))
    // no shuffle below the join: both sides stream straight from buckets
    val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(!joinPart.contains("Exchange hashpartitioning"), joinPart.take(3000))
    assert(joinPart.contains("Bucketed: true"), joinPart.take(3000))
    assert(joinPart.contains("SelectedBucketsCount: 8 out of 8"), joinPart.take(3000))
  }

  test("L2 near-dedup never builds an all-pairs join") {
    val plan = planOf(Llm.l2MinhashNearDup(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("L24 simhash dedup joins only on band buckets, never all-pairs") {
    val plan = planOf(Llm.l24SimhashBandedDedup(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("L3c: IVF probe join is an equi hash join on the cell key") {
    // the only nested-loop joins allowed are the C-row centroid broadcasts;
    // the probe↔candidate join must be hash-based on cent_id, never a
    // similarity cross join over the corpus
    val plan = planOf(Llm.l3IvfTopk(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("L25: ranked retrieval joins postings on the term key, never doc×doc") {
    // the inverted-index contract: candidate (query, doc) pairs form only
    // through the token equi join; the query-term side broadcasts
    val plan = planOf(Llm.l25RankedRetrieval(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
  }

  test("L66: BM25 retrieval runs on TopKPerKey with token-keyed candidate joins") {
    val df = Llm.l66Bm25Retrieval(spark, sfDir)
    df.collect(): Unit // finalize AQE
    val plan = planOf(df).split("== Initial Plan ==")(0)
    // candidates form only through the token equi join (inverted-index
    // contract) — the sole nested-loop join allowed is the broadcast of
    // the 1-row corpus-totals frame
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    // per-query top-5 on the native operator: bounded k-buffers, no
    // per-query SortExec
    assert(plan.contains("TopKPerKey"), plan.take(4000))
    assert(plan.contains("TopKPerKeyPartial"), plan.take(4000))
    assert(!plan.contains("Sort ["), plan.take(4000))
  }

  test("J10: bloom runtime filter arms once the size gates open") {
    // at fixture scale the 10 GB application-side gate keeps the filter
    // off (and AQE broadcasts the dim anyway); drop both gates and the
    // optimizer must inject might_contain(bloom_agg(o_orderkey)) into the
    // lineitem side — the row-level runtime filter a 100 TB shuffle join
    // relies on
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set(keys(0), "true")
      conf.set(keys(1), "0")
      conf.set(keys(2), "-1")
      val plan = Relational.j10BloomRuntimeFilter(spark, sfDir)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"), plan.take(4000))
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("J11: salted join result is identical to the unsalted join") {
    // salt is pure mechanics: same rows, any distribution
    val salted = Relational.j11SaltedJoin(spark, sfDir)
      .collect().map(_.toString).sorted
    val plain = {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val dim = Engine.events(spark, sfDir).groupBy($"event_type")
        .agg((sum($"value".cast(DecimalType(18, 2))).cast("double") / count(lit(1)))
          .as("type_avg"))
      Engine.events(spark, sfDir).join(dim, Seq("event_type"))
        .select($"event_id", $"event_type", $"type_avg")
        .collect().map(_.toString).sorted
    }
    assert(salted.sameElements(plain))
  }

  test("J9: upsert merge is a single equi join, no nested loop") {
    val plan = planOf(Relational.j9UpsertMerge(spark, sfDir))
    assert(plan.contains("FullOuter"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(4000))
  }

  test("A6b: unpivot runs as a map-side Expand with no shuffle") {
    val plan = planOf(Relational.a6bUnpivot(spark, sfDir))
    assert(plan.contains("Expand"), plan.take(3000))
    assert(!plan.contains("Exchange"), plan.take(3000))
  }

  test("AQE splits a skewed join partition and keeps results exact") {
    // one hot key holding ~90% of the fact side — the shape that stalls a
    // 1000-executor job on one straggler task unless the planner splits it.
    // Thresholds are lowered so fixture-scale data trips the same code path
    // production data trips naturally.
    import org.apache.spark.sql.functions.{sum, when}
    import spark.implicits._
    withConfs(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1" /* force SMJ */) {
      // 90% of the fact lands on key 7 → its shuffle partition is far over
      // 5x the median, which is what the skew-split code path keys on
      val fact = spark.range(0, 20000)
        .select(when($"id" % 10 =!= 0, 7L).otherwise($"id").as("k"), $"id".as("v"))
      val dim = spark.range(0, 100).select($"id".as("k"), ($"id" * 2).as("w"))
      val joined = fact.join(dim, Seq("k"))
      val rows = joined.collect() // this exact DataFrame, so AQE finalizes it
      // exact expectation: key 7 matches 18000 fact rows (w=14); the cold
      // keys are multiples of 10, of which 0..90 have a dim row (w=2k)
      val expected = 18000L * 14L + (0L until 100L by 10).map(_ * 2).sum
      val total = rows.map(_.getAs[Long]("w")).sum
      assert(total == expected, s"got $total, want $expected")
      val plan = planOf(joined).split("== Initial Plan ==")(0)
      assert(plan.contains("skew=true"), plan.take(4000))
    }
  }

  test("J14: the registered skew query trips AQE skew-split on fixtures") {
    // same threshold-lowering as the synthetic test above, but through the
    // REGISTERED query, so the CORRECTNESS row and the plan evidence are
    // about the same code path
    // fixture shuffle partitions are KB-sized, so both gates (absolute
    // threshold and median multiple) come down to fixture scale
    withConfs(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // single-row-group fixture = one mapper, and AQE slices skewed
      // partitions along mapper boundaries — so give the core the
      // multi-mapper fact side every production input naturally has
      val df = Relational.j14SkewJoinCore(
        Relational.j14Fact(spark, sfDir).repartition(8),
        Relational.j14Dim(spark, sfDir))
      val n = df.collect().length // finalize AQE on this exact DataFrame
      assert(n > 0)
      val plan = planOf(df).split("== Initial Plan ==")(0)
      assert(plan.contains("skew=true"), plan.take(4000))
    }
  }

  test("S26: REBALANCE sizes output files to the advisory in both directions") {
    import org.apache.spark.sql.SaveMode
    def writeAndCount(): Int = {
      val out = tempDir("s26_test")
      Engine.events(spark, sfDir)
        .select(org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.col("event_type"),
          org.apache.spark.sql.functions.col("value"))
        // same mapper-boundary constraint as J14: AQE slices a shuffle
        // partition along mapper contributions, and the single-row-group
        // fixture scan is one mapper — production inputs have thousands
        .repartition(8)
        .hint("rebalance")
        .write.mode(SaveMode.Overwrite).parquet(out)
      new java.io.File(out).listFiles.count(_.getName.endsWith(".parquet"))
    }
    // tiny advisory (compressed shuffle bytes for the whole fixture are
    // only ~8 KB): the write must fan out into multiple advisory-sized
    // files instead of one. minPartitionSize (default 1 MB) would
    // otherwise floor every partition above the whole fixture's size.
    val split = withConfs(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB") {
      writeAndCount()
    }
    assert(split >= 3, s"expected the skew-split direction, got $split files")
    // default advisory: the same data COALESCES back to one file
    val merged = writeAndCount()
    assert(merged == 1, s"expected the coalesce direction, got $merged files")
  }

  test("W13: custom top-k operator plans one exchange and NO sort anywhere") {
    val df = Relational.w13TopkNative(spark, sfDir)
    df.collect(): Unit // finalize AQE
    val plan = planOf(df).split("== Initial Plan ==")(0)
    assert(plan.contains("TopKPerKey"), plan.take(3000))
    // two-phase: map-side partial combine BEFORE the exchange caps what
    // crosses the wire at keys x k rows per mapper
    assert(plan.contains("TopKPerKeyPartial"), plan.take(3000))
    // the whole point: grouped top-k without any SortExec in the plan
    assert(!plan.contains("Sort ["), plan.take(3000))
    assert("Exchange".r.findAllIn(plan).size == 1, plan.take(3000))
  }

  test("L48: TF-IDF tokenizes the corpus ONCE; top-terms run on TopKPerKey with no per-doc sort") {
    val df = graft.queries.Llm.l48TfidfTopTerms(spark, sfDir)
    df.collect(): Unit // finalize AQE
    val plan = planOf(df).split("== Initial Plan ==")(0)
    // the per-doc top-3 is the native operator (bounded k-buffers), not a
    // window rank — so the ONLY sort in the plan is the window-df's token
    // sort (WindowExec's required child ordering), never a per-doc one
    assert(plan.contains("TopKPerKey"), plan.take(3000))
    assert(plan.contains("TopKPerKeyPartial"), plan.take(3000))
    val sorts = "Sort \\[".r.findAllIn(plan).size
    assert(sorts == 1, s"expected exactly the token sort, got $sorts:\n${plan.take(3000)}")
    assert("Sort \\[token".r.findAllIn(plan).nonEmpty, plan.take(3000))
    // the r14 fix this test pins: df comes from a window over tf, NOT a
    // re-aggregated second token stream — the agg-then-join spelling
    // defeated ReuseExchange (column pruning slims the df subtree) and
    // tokenized+exploded the whole corpus twice (BATCH_METRICS_r14.md
    // measured 2x the (doc,token) exchange at sf1). Exactly ONE explode
    // may survive in the final plan.
    val explodes = "Generate explode".r.findAllIn(plan).size
    assert(explodes == 1, s"corpus must be tokenized once, got $explodes:\n${plan.take(3000)}")
    // the 1-row corpus-size frame joins by broadcast, never an exchange
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(3000))
  }

  test("W13: partial key-cap overflow degrades to pass-through, results unchanged") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.{col, row_number}
    import spark.implicits._
    // 20k distinct keys > PartialKeyCap (16k): the partial phase must hit
    // the cap, route overflow keys through unfiltered, and the final phase
    // must still produce exactly the window-rank answer
    assert(20000 > graft.plans.TopKPerKeyExec.PartialKeyCap / 1.25)
    val df = spark.range(50000)
      .select(($"id" % 20000).as("k"), ($"id" * 37 % 1000).as("v"), $"id")
    val got = graft.plans.TopKPerKey.topKPerKey(
      df, Seq($"k"), Seq($"v".desc, $"id".asc), k = 2)
      .collect().map(_.toString).sorted.toSeq
    val w = W.partitionBy($"k").orderBy($"v".desc, $"id".asc)
    val expected = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).drop("rn")
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected)
  }

  test("W13: custom top-k equals the window-rank formulation row for row") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.{col, row_number}
    import spark.implicits._
    val got = Relational.w13TopkNative(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val li = Engine.table(spark, sfDir, "lineitem")
      .select($"l_returnflag", $"l_orderkey",
        $"l_linenumber".cast("long").as("l_linenumber"), $"l_extendedprice")
    val w = W.partitionBy($"l_returnflag")
      .orderBy($"l_extendedprice".desc, $"l_orderkey".asc, $"l_linenumber".asc)
    val expected = li.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected)
  }

  test("W12: the three funnel window passes share one user_id exchange") {
    val plan = planOf(Relational.w12Funnel(spark, sfDir))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      plan.take(4000))
    assert("Window".r.findAllIn(plan).size >= 3, plan.take(4000))
  }

  test("L2c: fused minhash signature phase has no Generate and fewer exchanges") {
    val composed = planOf(graft.queries.Llm.l2MinhashNearDup(spark, sfDir))
    val fused = planOf(graft.queries.Llm.l2cMinhashNative(spark, sfDir))
    // composed pays a shingle explode (Generate) + a signature groupBy
    // shuffle before banding; fused streams signatures out of the scan
    assert(composed.contains("Generate"), composed.take(3000))
    // the only Generate allowed is the 2-row band explode ABOVE the
    // signature projection; none may sit below it (no shingle explode)
    val physical = graft.queries.Llm.l2cMinhashNative(spark, sfDir).queryExecution.sparkPlan
    val computesSig = (p: org.apache.spark.sql.execution.SparkPlan) =>
      p.expressions.exists(_.exists(_.isInstanceOf[graft.functions.MinhashSigExpr]))
    val sigNodes = physical.collect { case p if computesSig(p) => p }
    assert(sigNodes.nonEmpty, fused.take(3000))
    for (n <- sigNodes)
      assert(n.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }.isEmpty,
        fused.take(3000))
    // one evaluation per candidate branch per join side: 2 x 2 (the
    // union-of-bands spelling planned 16, plus 8 echoes in scan filters)
    val sigs = "minhash_sig_native\\(".r.findAllIn(fused).size
    assert(sigs <= 4, s"$sigs signature evaluations:\n${fused.take(4000)}")
    val ex = (p: String) => "Exchange".r.findAllIn(p).size
    assert(ex(fused) < ex(composed), s"fused ${ex(fused)} vs composed ${ex(composed)}")
  }

  test("L6: quality filter is one projection over one documents scan, no join") {
    val plan = planOf(Llm.l6QualityFilter(spark, sfDir))
    assert("FileScan parquet".r.findAllIn(plan).size == 1, plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("L1: exact dedup reads and hashes the corpus in one scan") {
    val plan = planOf(Llm.l1ExactDedup(spark, sfDir))
    assert("FileScan parquet".r.findAllIn(plan).size == 1, plan.take(3000))
    assert("md5\\(".r.findAllIn(plan).size == 1, plan.take(3000))
  }

  test("L31: chunking is map-only — zero exchanges") {
    val plan = planOf(graft.queries.Llm.l31DocChunking(spark, sfDir))
    assert(!plan.contains("Exchange"), plan.take(3000))
    assert(plan.contains("Generate"), plan.take(3000))
  }

  test("L32: packing reuses one source exchange for the window and the agg") {
    val plan = planOf(graft.queries.Llm.l32SequencePacking(spark, sfDir))
    assert("Exchange hashpartitioning\\(source".r.findAllIn(plan).size == 1,
      plan.take(4000))
  }

  test("L30: vocab joins the token stream by broadcast, never a shuffle join") {
    val plan = planOf(graft.queries.Llm.l30VocabCoverage(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("L51: boilerplate flag-back joins by broadcast, never a shuffle join") {
    val plan = planOf(graft.queries.Llm.l51StopgramBoilerplate(spark, sfDir))
    // the DF-thresholded boiler set is small by construction -> broadcast;
    // the corpus-sized gram stream must never sort-merge on the gram key
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("shingles lambda never re-evaluates the tokenizer per element") {
    // higher-order-function lambdas are interpreted per ELEMENT: an outer
    // expression inlined into the lambda body is re-computed once per
    // shingle, turning shingling O(tokens^2) per document. The split must
    // appear only OUTSIDE the transform's lambda (in the zipped slices).
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    import org.apache.spark.sql.functions.{col, lit}
    val analyzed = spark.range(1)
      .select(lit("a b c d e").as("text"))
      .select(graft.functions.Text.shingles(col("text"), 3).as("sh"))
      .queryExecution.analyzed
    val splitsInLambda = analyzed.expressions.flatMap(_.collect {
      case LambdaFunction(body, _, _) => body.collect {
        case s if s.getClass.getSimpleName.startsWith("StringSplit") => s
      }
    }).flatten
    assert(splitsInLambda.isEmpty,
      s"tokenizer inlined into a per-element lambda: $splitsInLambda")
  }

  test("W20: both MAD medians share one event_type exchange") {
    val plan = planOf(graft.queries.Relational.w20MadOutliers(spark, sfDir))
    // exactly one single-column event_type exchange feeds BOTH window
    // passes (the two-column match below it is the dailyCounts agg)
    assert("Exchange hashpartitioning\\(event_type#\\d+, \\d+\\)".r
      .findAllIn(plan).size == 1, plan.take(4000))
    assert("Window".r.findAllIn(plan).size >= 2, plan.take(4000))
  }

  test("O16: both branches scan the cache — one source scan, two InMemoryTableScans") {
    val plan = planOf(graft.queries.Sources.o16CachedReuse(spark, sfDir))
    assert("InMemoryTableScan|TableCacheQueryStage".r.findAllIn(plan).size >= 2,
      plan.take(4000))
    // every parquet read sits INSIDE an InMemoryRelation definition (the
    // explain prints the cached plan under each scan; it executes once) —
    // no branch bypasses the cache and re-reads the source directly
    assert("InMemoryRelation".r.findAllIn(plan).size >=
      "FileScan parquet".r.findAllIn(plan).size, plan.take(4000))
  }

  test("L29: histogram is one partial-agg shuffle, nothing else") {
    val plan = planOf(graft.queries.Llm.l29LengthHistogram(spark, sfDir))
    assert(plan.contains("partial_count"), plan.take(3000))
    // exactly one exchange: the (lang, bucket) agg
    assert("Exchange".r.findAllIn(plan).size == 1, plan.take(3000))
  }

  /** Finds the DSv2 scan through AQE wrappers (AdaptiveSparkPlanExec and
    * materialized QueryStageExec nodes are leaf-like and hide their
    * subtrees from a plain collect). */
  private def findKbScan(p: org.apache.spark.sql.execution.SparkPlan): Option[graft.sources.KbSearchScan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val here = p.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.KbSearchScan] =>
        Seq(b.scan.asInstanceOf[graft.sources.KbSearchScan])
      case a: AdaptiveSparkPlanExec => findKbScan(a.executedPlan).toSeq
      case q: QueryStageExec => findKbScan(q.plan).toSeq
    }
    here.flatten.headOption
  }

  test("S12: DSv2 source consumes filters, prunes partitions and columns") {
    val df = Sources.s12Dsv2SearchScan(spark, sfDir)
    val scan = findKbScan(df.queryExecution.executedPlan)
      .getOrElse(fail("no KbSearchScan in plan"))
    // the day bounds and the pub IN filter were consumed by the source
    // (plus vacuous IsNotNulls, which must also be consumed or they would
    // survive post-scan and block aggregate pushdown)
    assert(scan.pushed.count(_.references.contains("day")) >= 2, scan.pushed.mkString(", "))
    assert(scan.pushed.exists(_.references.contains("pub")), scan.pushed.mkString(", "))
    // …so no Filter node re-evaluates them (nothing was left post-scan)
    assert(!df.queryExecution.executedPlan.toString.contains("Filter ("),
      df.queryExecution.executedPlan.toString.take(2000))
    // day bounds prune partitions at planning time: 14 days / 8-day chunks
    // = 2 partitions, vs 12 for the unpruned quarter
    assert(scan.toBatch.planInputPartitions().length == 2)
    // column pruning reached the source: `pub` exists only in the pushed
    // filter, so the emitted schema must not materialize it
    assert(!scan.readSchema().fieldNames.contains("pub"),
      scan.readSchema().fieldNames.mkString(","))
  }

  test("S12b: COUNT/MIN/MAX group-by is answered by the DSv2 source") {
    val df = Sources.s12bDsv2AggPushdown(spark, sfDir)
    df.collect() // finalize AQE so the asserted plan is the executed one
    val scan = findKbScan(df.queryExecution.executedPlan)
      .getOrElse(fail("no KbSearchScan in plan"))
    // the aggregation was pushed: the scan emits (pub, partials), not rows
    assert(scan.aggCols == Seq("pub", "count", "min_day", "max_day"),
      scan.aggCols.mkString(","))
    // Feb 1-28 intersects 5 of the quarter's 12 grid-anchored 8-day chunks
    // → 5 pruned partitions × 4 pubs = 20 partial rows total, vs 112 data
    // rows without the pushdown
    assert(scan.toBatch.planInputPartitions().length == 5)
  }

  test("S1c: a filter on the NARROWED timestamp still reaches the scan") {
    // the injected PushFilterThroughNanoNarrowing rule rewrites the
    // narrowed-ts comparisons to raw-nano-long bounds below the projection;
    // without it this plan has NO pushed ts filter (only eventsBetween's
    // hand-written raw filter achieves it, see S1b)
    val plan = planOf(Sources.s1cEventsAutoPruned(spark, sfDir))
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(ts"), plan.take(3000))
    assert(plan.contains("LessThan(ts"), plan.take(3000))
  }

  test("S14: broadcast join keys runtime-prune the DSv2 scan's partitions") {
    val df = Sources.s14Dsv2RuntimeFiltered(spark, sfDir)
    df.collect() // runtime filters only exist after execution
    val scan = findKbScan(df.queryExecution.executedPlan)
      .getOrElse(fail("no KbSearchScan in plan"))
    // the three done days (Jan 1, 2, 5 = epoch 19723/19724/19727) arrived
    // as the scan's runtime whitelist…
    assert(scan.runtimeDays.contains(Set(19723, 19724, 19727)),
      scan.runtimeDays.toString)
    // …so only the single chunk containing them is planned, vs 12 for the
    // unfiltered quarter
    val parts = scan.toBatch.planInputPartitions()
    assert(parts.length == 1)
    // and the partition carries EXACTLY the kept days — the non-matching
    // days between whitelist hits (Jan 3, 4) are never materialized
    assert(parts.head.asInstanceOf[graft.sources.KbSearchPartition].days.toSet
      == Set(19723, 19724, 19727))
  }

  test("S17: kb.search resolved through the SQL catalog keeps aggregate pushdown") {
    val df = Sources.s17CatalogSql(spark, sfDir)
    df.collect() // finalize AQE so the asserted plan is the executed one
    val scan = findKbScan(df.queryExecution.executedPlan)
      .getOrElse(fail("no KbSearchScan in plan"))
    // the SQL entry point must lose nothing: grouped COUNT answered at the
    // source, day/pub filters consumed (nothing survives post-scan)
    assert(scan.aggCols == Seq("pub", "count"), scan.aggCols.mkString(","))
    assert(scan.pushed.nonEmpty)
  }

  test("S15: top-N by day is pushed — only contributing day-chunks planned") {
    val df = Sources.s15Dsv2Topn(spark, sfDir)
    val scan = findKbScan(df.queryExecution.executedPlan)
      .getOrElse(fail("no KbSearchScan in plan"))
    assert(scan.pushedLimit == 10, scan.description())
    val parts = scan.toBatch.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.KbSearchPartition])
    // ceil(10 rows / 2 pubs) = 5 days from the DESC end of the quarter:
    // the clipped last chunk (Mar 29-31) plus 2 days of the previous one —
    // 2 partitions and 5 days planned, vs 12 partitions / 91 days unpushed
    assert(parts.length == 2, parts.mkString("; "))
    val days = parts.flatMap(_.days)
    assert(days.length == 5 && days.max == graft.sources.KbSearchTable.lastDay,
      days.mkString(","))
    // Spark keeps the final Sort+Limit (partial pushdown): tie-breaks stay exact
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      df.queryExecution.executedPlan.toString.take(2000))
  }

  test("S15b: a bare LIMIT caps planned partitions at the source") {
    val df = Sources.s15bDsv2LimitCount(spark, sfDir)
    val scan = findKbScan(df.queryExecution.executedPlan)
      .getOrElse(fail("no KbSearchScan in plan"))
    assert(scan.pushedLimit == 10, scan.description())
    val parts = scan.toBatch.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.KbSearchPartition])
    // ceil(10 / 4 pubs) = 3 days → a single chunk supplies them
    assert(parts.length == 1 && parts.head.days.length == 3, parts.mkString("; "))
  }

  test("S19: _chunk metadata column materializes only when selected") {
    import spark.implicits._
    // selected: the metadata column reaches the row emitter's schema
    val withMeta = Sources.s19MetadataColumn(spark, sfDir)
    val metaScan = findKbScan(withMeta.queryExecution.executedPlan)
      .getOrElse(fail("no KbSearchScan in plan"))
    assert(metaScan.readSchema().fieldNames.contains("_chunk"))
    // not selected (and absent from SELECT *): never materialized
    val plain = spark.read
      .format(classOf[graft.sources.KbSearchSource].getName).load()
      .select($"pub", $"day")
    assert(!plain.columns.contains("_chunk"))
    val plainScan = findKbScan(plain.queryExecution.executedPlan)
      .getOrElse(fail("no KbSearchScan in plan"))
    assert(!plainScan.readSchema().fieldNames.contains("_chunk"),
      plainScan.readSchema().fieldNames.mkString(","))
  }

  test("L27: char diversity is one shuffle-free projection pass") {
    val plan = planOf(Llm.l27CharDiversity(spark, sfDir))
    assert(!plan.contains("Exchange"), plan.take(3000))
  }

  test("L53: drift scan prunes to (doc_id, n_chars) — text never read") {
    // the scale property of the drift check: only the map-side bucketing
    // projection touches corpus-sized data, and it must not drag the
    // document BODY through the scan — at 100 TB reading `text` for a
    // 2-column statistic is the difference between seconds and hours
    val plan = planOf(Llm.l53DistributionDrift(spark, sfDir))
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(readSchemas.nonEmpty, plan.take(3000))
    readSchemas.foreach { rs =>
      assert(!rs.contains("text"), rs)
      assert(rs.contains("n_chars"), rs)
    }
    // bucket agg is partial+final around ONE corpus-sized exchange; the
    // totals window adds only a SinglePartition exchange over <=10 rows
    assert(plan.contains("partial"), plan.take(3000))
  }

  test("L54: semdedup broadcasts the centroid table and equi-joins pairs on cluster_id") {
    import spark.implicits._
    // the SemDeDup scale contract, checked in two pieces because the
    // checkpoint between them truncates lineage: (1) assignment is a
    // broadcast loop — no shuffle of the corpus for the centroid leg;
    // (2) the pair search is a join keyed on cluster_id — never a
    // corpus-wide cross join
    val emb = Engine.embeddings(spark, sfDir)
    val assignPlan = planOf(Llm.l54Assign(spark,
      emb.select($"vec_id", $"embedding"),
      emb.filter($"vec_id" < 32)
        .select($"vec_id".as("cent_id"), $"embedding".as("cent_emb"))))
      .split("== Initial Plan ==")(0)
    assert(assignPlan.contains("BroadcastNestedLoopJoin") ||
      assignPlan.contains("BroadcastHashJoin"), assignPlan.take(4000))
    val plan = planOf(Llm.l54Semdedup(spark, sfDir)).split("== Initial Plan ==")(0)
    assert(plan.contains("cluster_id"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "pair search must not degrade to a nested-loop join: " + plan.take(4000))
  }

  test("L55: resample touches the corpus with one broadcast-joined filter, text unread") {
    val plan = planOf(Llm.l55RejectionResample(spark, sfDir))
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    // rate build reads only (doc_id, lang): the document body must not
    // flow through either leg at 100 TB
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(readSchemas.nonEmpty)
    readSchemas.foreach(rs => assert(!rs.contains("text"), rs))
  }

  test("S18b: catalog UDAF plans as partial + final aggregate") {
    // map-side combine must run BEFORE the exchange — the property that
    // makes a custom aggregation shuffle state, not rows, at scale
    val plan = planOf(Sources.s18bCatalogUdaf(spark, sfDir))
    assert(plan.contains("partial_v2aggregator"), plan.take(3000))
    val partialAt = plan.indexOf("partial_v2aggregator")
    val exchangeAt = plan.indexOf("Exchange")
    assert(exchangeAt >= 0 && exchangeAt < partialAt, plan.take(3000))
  }

  test("J13: interval join runs as an equi join on the day bucket, no NLJ") {
    val plan = planOf(Relational.j13IntervalJoin(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("G6: degree-oriented triangle count never goes cartesian") {
    val plan = planOf(Nested.g6TriangleCount(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("S13: state gate prunes day partitions via dynamic partition pruning") {
    val df = Sources.s13DppGatedRead(spark, sfDir)
    // DPP shows up as a dynamicpruning expression in the fact scan's
    // PartitionFilters — the day list comes from the broadcast state side
    // at runtime, so only matching day directories are read
    val plan = planOf(df)
    assert(plan.contains("dynamicpruning"), plan.take(4000))
  }

  test("G5: day_spine TVF plans as a distributed Range, not a local relation") {
    val df = spark.sql(
      "SELECT day FROM day_spine(DATE'2024-01-01', DATE'2024-03-31')")
    val plan = planOf(df)
    assert(plan.contains("Range ("), plan.take(2000))
    assert(!plan.contains("LocalTableScan"), plan.take(2000))
    assert(df.count() == 91)
    // loud failures: wrong arity, non-literal bound, inverted bounds
    val e1 = intercept[Exception](spark.sql("SELECT * FROM day_spine(DATE'2024-01-01')"))
    assert(e1.getMessage.contains("start_date, end_date"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("SELECT * FROM day_spine(DATE'2024-02-01', DATE'2024-01-01')"))
    assert(e2.getMessage.contains("precedes"), e2.getMessage)
    // ANSI mode makes Cast.eval throw on malformed strings — the TVF must
    // still surface its own descriptive message, not a raw cast error
    val e3 = intercept[Exception](
      spark.sql("SELECT * FROM day_spine('2024-13-99', DATE'2024-01-31')"))
    assert(e3.getMessage.contains("not a valid date"), e3.getMessage)
  }

  /** The FINAL (post-AQE) plan tree as text. Under AQE the executedPlan
    * root is an AdaptiveSparkPlanExec LEAF — collect/collectLeaves on it
    * see no inner nodes at all, so structural assertions must parse the
    * formatted explain instead (its Final Plan section, with the Initial
    * Plan echo cut off). */
  private def finalPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // finalize AQE
    val s = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    s.split("== Initial Plan ==").head
  }

  /** Count tree nodes whose name starts with `node` ("Exchange (5)" and
    * "BroadcastHashJoin Inner BuildRight (15)" count for their names;
    * "ReusedExchange (9)" does not count for "Exchange"). Descriptor text
    * may sit between the name and the node id. */
  private def nodeCount(plan: String, node: String): Int =
    ("""(?<![A-Za-z])""" + node + """[^\n]*?\(\d+\)""").r.findAllIn(plan).size

  test("L61: exactly one corpus-sized shuffle (gram exchange) plus the bounded pair agg") {
    val plan = finalPlanOf(graft.queries.Llm.l61CrossSourceOverlap(spark, sfDir))
    // gram-keyed exchange + the |sources|²-bounded pair-count exchange;
    // a third would mean the pre-distinct shuffle crept back in
    val shuffles = nodeCount(plan, "Exchange")
    assert(shuffles == 2, s"expected 2 shuffles, got $shuffles:\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("J15: the PIT join is one user_id exchange — no interval materialization, no range join") {
    val plan = finalPlanOf(graft.queries.Relational.j15PitFeatureJoin(spark, sfDir))
    val shuffles = nodeCount(plan, "Exchange")
    assert(shuffles == 1, s"expected exactly 1 shuffle, got $shuffles:\n${plan.take(2500)}")
    assert(nodeCount(plan, "Window") >= 1, plan.take(2500))
    // the whole point vs the j13 shape: no join operator at all
    assert(!plan.contains("Join"), plan.take(2500))
  }

  test("L68: the MMR greedy runs as expression work above ONE collapse exchange") {
    val df = Llm.l68MmrRerank(spark, sfDir)
    df.collect(): Unit // finalize AQE
    val plan = planOf(df).split("== Initial Plan ==")(0)
    val cut = plan.indexOf("Exchange")
    assert(cut > 0, plan.take(3000))
    // the property the 108s -> 1.6s rewrite bought: everything above the
    // single query-collapse exchange is map-side expression work — the
    // explode of the picks, the aggregate() greedy, the sim matrix.
    // Per-round jobs would reappear here as joins or further exchanges.
    val greedy = plan.substring(0, cut)
    assert(greedy.contains("Generate posexplode"), greedy.take(3000))
    assert(greedy.contains("ObjectHashAggregate"), greedy.take(3000))
    assert(!greedy.contains("Join"), greedy.take(3000))
    assert(!greedy.contains("TopKPerKey"), greedy.take(3000))
    assert(!greedy.contains("Sort ["), greedy.take(3000))
    // the candidate embeddings attach by broadcast below the collapse,
    // and nothing anywhere is cartesian
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("ST28: per-batch index deltas prune to the query vocabulary with no join") {
    import spark.implicits._
    val batch = Engine.documents(spark, sfDir).select($"doc_id", $"text")
    val (hits, obs) =
      graft.queries.StreamingQ.st28BatchDeltas(batch)
    val plan = finalPlanOf(hits)
    // r21: the vocabulary prune is the compile-time tf-vector of the
    // shared l66 per-doc stage — NO join of any kind remains in the
    // delta derivation, and the only exchange is the per-doc aggregate's
    // |batch docs|-row one (the r20 shape shuffled the batch's entire
    // vocabulary through a (doc_id, token) exchange and pruned after)
    assert(!plan.contains("Join"), plan.take(3000))
    assert(nodeCount(plan, "Exchange") == 1, plan.take(3000))
    // two Generates: the tokenize explode below the per-doc aggregate and
    // the tf-vector unpivot above it
    assert(nodeCount(plan, "Generate") == 2, plan.take(3000))
    assert(hits.columns.toSeq == Seq("doc_id", "token", "tf", "dl"),
      hits.columns.mkString(","))
    // the corpus-stat delta rides the SAME job as observed metrics (the
    // finalPlanOf collect above completed it) — every doc counted, not
    // just query-vocabulary hits, and no second batch pass exists
    val m = obs.get
    val nDocs = batch.count()
    assert(m("batch_docs").asInstanceOf[Long] == nDocs, m.toString)
    assert(m("batch_len").asInstanceOf[Long] >= nDocs, m.toString)
  }

  test("L5H: the tile exchange keeps its pinned width — AQE must not coalesce the decode stage") {
    val df = graft.queries.Sources.l5hJp2TiledParallel(spark, sfDir)
    df.collect(): Unit // finalize AQE
    val plan = planOf(df).split("== Initial Plan ==")(0)
    // the tile-descriptor shuffle is ~140 B/row, so byte-based coalescing
    // would fold the whole decode onto one task at ANY scale; the explicit
    // repartition count shows up as REPARTITION_BY_NUM, which AQE honors
    assert(plan.contains("REPARTITION_BY_NUM"), plan.take(3000))
    // between the decode MapPartitions and the pinned exchange there must
    // be no AQE read (the final agg's scalar shuffle above it MAY
    // coalesce — that one is desirable)
    val cut = plan.indexOf("REPARTITION_BY_NUM")
    val decodeMp = plan.lastIndexOf("MapPartitions", cut)
    assert(decodeMp > 0, plan.take(3000))
    assert(!plan.substring(decodeMp, cut).contains("AQEShuffleRead"),
      s"decode stage rides a coalesced read:\n${plan.take(3000)}")
    // the split stage never ships pixels: only descriptor ints cross
    assert(plan.contains(s"hashpartitioning(path"), plan.take(3000))
    // and never READS them either: the binaryFile scan is pruned to the
    // listing (path+length) — content in the read schema would mean the
    // split stage materializes whole files (2 GiB cap, memory spike)
    assert(!plan.contains("content"),
      s"split stage reads file content:\n${plan.take(3000)}")
  }

  test("L5J: ranged thumbnail keeps the pinned exchange and a listing-only scan") {
    val df = graft.queries.Sources.l5jJp2ThumbnailRanged(spark, sfDir)
    df.collect(): Unit // finalize AQE
    val plan = planOf(df).split("== Initial Plan ==")(0)
    // same pinned-width story as l5h: ~140 B descriptors would coalesce
    // to ONE task under byte-based AQE, serializing the decode
    assert(plan.contains("REPARTITION_BY_NUM"), plan.take(3000))
    val cut = plan.indexOf("REPARTITION_BY_NUM")
    val decodeMp = plan.lastIndexOf("MapPartitions", cut)
    assert(decodeMp > 0, plan.take(3000))
    assert(!plan.substring(decodeMp, cut).contains("AQEShuffleRead"),
      s"decode stage rides a coalesced read:\n${plan.take(3000)}")
    assert(plan.contains(s"hashpartitioning(path"), plan.take(3000))
    // the split walk is streamed ranged reads over the LISTING: a content
    // column here would re-introduce the whole-file fetch the query's
    // fetched-bytes require exists to prevent
    assert(!plan.contains("content"),
      s"split stage reads file content:\n${plan.take(3000)}")
  }

  test("L5K: quality-ranged fetch keeps the pinned exchange and a listing-only scan") {
    val df = graft.queries.Sources.l5kJp2QualityRanged(spark, sfDir)
    df.collect(): Unit // finalize AQE
    val plan = planOf(df).split("== Initial Plan ==")(0)
    // same pinned-width story as l5h/l5j: tiny descriptors would fold to
    // one task under AQE's byte-based coalescing, serializing the decode
    assert(plan.contains("REPARTITION_BY_NUM"), plan.take(3000))
    val cut = plan.indexOf("REPARTITION_BY_NUM")
    val decodeMp = plan.lastIndexOf("MapPartitions", cut)
    assert(decodeMp > 0, plan.take(3000))
    assert(!plan.substring(decodeMp, cut).contains("AQEShuffleRead"),
      s"decode stage rides a coalesced read:\n${plan.take(3000)}")
    assert(plan.contains(s"hashpartitioning(path"), plan.take(3000))
    // split reads the LISTING; the kept-layer ranges are the ONLY bytes
    // the decode stage fetches — content in the scan schema would mean
    // the whole archive is read to deliver its first-layer fraction
    assert(!plan.contains("content"),
      s"split stage reads file content:\n${plan.take(3000)}")
  }

  test("L5L: region fetch keeps the pinned exchange and a listing-only scan") {
    val df = graft.queries.Sources.l5lJp2RegionRanged(spark, sfDir)
    df.collect(): Unit // finalize AQE
    val plan = planOf(df).split("== Initial Plan ==")(0)
    assert(plan.contains("REPARTITION_BY_NUM"), plan.take(3000))
    val cut = plan.indexOf("REPARTITION_BY_NUM")
    val decodeMp = plan.lastIndexOf("MapPartitions", cut)
    assert(decodeMp > 0, plan.take(3000))
    assert(!plan.substring(decodeMp, cut).contains("AQEShuffleRead"),
      s"decode stage rides a coalesced read:\n${plan.take(3000)}")
    // region fetch reads the LISTING and then ONLY the intersecting
    // tile-parts; content in the scan schema would fetch the scan to
    // serve a clipping
    assert(!plan.contains("content"),
      s"split stage reads file content:\n${plan.take(3000)}")
  }

  test("L5N: precinct region fetch keeps the pinned exchange and a listing-only scan") {
    val df = graft.queries.Sources.l5nJp2PrecinctRegion(spark, sfDir)
    df.collect(): Unit // finalize AQE
    val plan = planOf(df).split("== Initial Plan ==")(0)
    assert(plan.contains("REPARTITION_BY_NUM"), plan.take(3000))
    val cut = plan.indexOf("REPARTITION_BY_NUM")
    val decodeMp = plan.lastIndexOf("MapPartitions", cut)
    assert(decodeMp > 0, plan.take(3000))
    assert(!plan.substring(decodeMp, cut).contains("AQEShuffleRead"),
      s"decode stage rides a coalesced read:\n${plan.take(3000)}")
    // the split reads the LISTING and the decode stage ONLY the kept
    // precincts' packet ranges; content in the scan schema would fetch
    // the scan to serve a clipping
    assert(!plan.contains("content"),
      s"split stage reads file content:\n${plan.take(3000)}")
  }

  test("L60: dictionary agg computed once and reused on both sides of the blocked join") {
    val plan = finalPlanOf(graft.queries.Llm.l60FuzzyBlockedJoin(spark, sfDir))
    // the name dictionary is one partial+final agg whose exchange is
    // REUSED for the second join leg, the blocked join broadcasts, and
    // the part table is scanned once — not once per side
    assert(plan.contains("ReusedExchange"), plan.take(3000))
    assert(nodeCount(plan, "BroadcastHashJoin") >= 1, plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    val scans = nodeCount(plan, "Scan parquet")
    assert(scans == 1, s"part scanned $scans times:\n${plan.take(2500)}")
  }
}
