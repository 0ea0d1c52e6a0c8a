package graft.queries

import graft.Engine._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Nested expansion / generators (SURVEY §2.8 G1-G3): the IIIF-manifest
  * kernel — declared JSON schema, 3-level explode, suffix filter, basename
  * projection — mirroring /root/reference/src/01-scrape-images.py:319-351,
  * plus the day-series generator (main.yml:67,77-80).
  */
object Nested {

  /** IIIF manifest shape (canvas → annotation-page → annotation → body.id),
    * reference :332-343. Declared schema: no blind inference (SURVEY §1.3). */
  val manifestSchema: StructType = StructType.fromDDL(
    "items ARRAY<STRUCT<items: ARRAY<STRUCT<items: ARRAY<STRUCT<body: STRUCT<id: STRING>>>>>>>")

  /** G1: synthesize a manifest JSON document per row, then parse + triple
    * explode + `.jp2` filter + basename — the reference's one real query
    * (SURVEY §3.3). The non-jp2 body and the bodyless annotation must be
    * dropped without error (:338-340). */
  def g1ManifestExplode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Extraction.corpus(spark, dir)
      .select($"doc_id", concat(
        lit("{\"items\":[{\"items\":[{\"items\":[{\"body\":{\"id\":\"https://data.kb.se/x/"),
        $"fn1",
        lit("\"}},{\"body\":{\"id\":\"https://data.kb.se/x/"),
        $"fnjpg",
        lit("\"}},{}]}]}]}")).as("manifest_json"))
      .select($"doc_id", from_json($"manifest_json", manifestSchema).as("m"))
      .select($"doc_id", explode($"m.items").as("canvas"))
      .select($"doc_id", explode($"canvas.items").as("page"))
      .select($"doc_id", explode($"page.items").as("annotation"))
      .select($"doc_id", $"annotation.body.id".as("url"))
      .filter($"url".isNotNull && $"url".endsWith(".jp2"))
      .select($"doc_id", element_at(split($"url", "/"), -1).as("page_file"))
  }

  /** G2: explode an extracted array — one row per token (:457 loop shape).
    * Bounded probe set (doc_id < 100) so output stays proportional at any SF. */
  def g2ExplodeTokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    documents(spark, dir).filter($"doc_id" < 100)
      .select($"doc_id", explode(split($"text", " ")).as("token"))
  }

  /** G2b: positional explode — (pos, token) pairs, pos 0-based. */
  def g2bPosexplode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    documents(spark, dir).filter($"doc_id" < 100)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "token")))
      .select($"doc_id", $"pos".cast("long").as("pos"), $"token")
  }

  /** G2c: outer explode — rows whose array is empty survive with null
    * (the reference treats a no-match findall as "issue with no files",
    * not a dropped issue). */
  def g2cExplodeOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    documents(spark, dir).filter($"doc_id" < 200)
      .select($"doc_id", graft.functions.Text.shingles($"text", 60).as("sh"))
      .select($"doc_id", explode_outer($"sh").as("shingle60"))
  }

  /** G3: day-series generation (sequence + explode), mirroring the per-day
    * window enumeration in main.yml:67,77-80. */
  def g3DaySeries(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.range(1)
      .select(explode(sequence(
        lit("2024-01-01").cast("date"), lit("2024-01-31").cast("date"),
        expr("interval 1 day"))).as("day"))
      .select($"day", dayofmonth($"day").cast("long").as("dom"),
        weekday($"day").cast("long").as("wd"))
  }

  /** G5: the same calendar spine through the custom `day_spine` TABLE
    * FUNCTION ([[graft.plans.DaySpineTvf]], injected via
    * `SparkSessionExtensions.injectTableFunction`) — the TVF rung of the
    * extension ladder, addressable from plain SQL like any builtin
    * (`FROM day_spine(...)`). Unlike g3's one-row explode, the TVF plans
    * as a catalyst `Range` — distributed and splittable, nothing
    * driver-materialized (plan test pins the Range node) — joined here to
    * per-day event counts, the reconcile shape j4 runs. */
  def g5DaySpineTvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spine = spark.sql(
      "SELECT day FROM day_spine(DATE'2024-01-01', DATE'2024-01-31')")
    val actual = events(spark, dir)
      .groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("n_events"))
    spine.join(actual, Seq("day"), "left")
      .select($"day", coalesce($"n_events", lit(0L)).as("n_events"))
  }

  /** G4: PageRank over the customer→supplier trade graph (who supplies the
    * most-connected buyers), the iterative-graph-analytics shape: N fixed
    * rounds, each one equi-join (rank flows along edges) + one aggregate
    * (sum of incoming mass). All arithmetic is scaled-integer (rank ×1e6,
    * integer division for the out-degree split and the 0.85 damping), so
    * every engine computes bit-identical ranks — float summation order
    * never enters. The edge set (with out-degree attached) is materialized
    * once up front; deep runs truncate lineage every 4th round, the same
    * Pregel hygiene as l17's connected components. Dangling-node mass is
    * deliberately not redistributed (simplified PageRank, mirrored exactly
    * by the oracle's unrolled iterations). */
  def g4PageRank(spark: SparkSession, dir: String): DataFrame =
    pageRank(spark, dir, rounds = 3)

  /** The session an iterative build plans on: a child of `spark` (see
    * [[graft.Engine.scoped]]) with AQE off and the shuffle width
    * [[derivedParts]] derives from `tables`. g4 and l17 (and l49 through
    * l17) build on it; see [[pageRank]] for why AQE is off. */
  private[graft] def staticBuild(spark: SparkSession, dir: String,
      tables: Seq[String]): SparkSession =
    graft.Engine.scoped(spark, "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> derivedParts(spark, dir, tables).toString)

  /** Shuffle width for an AQE-off iterative build (g4, and l17/l49's
    * pair-graph loops), derived from the footprint of its source tables
    * (guide §2: make partitioning scale-adaptive — derive it from input
    * size — instead of a constant tuned for either local mode or the
    * cluster). The static build deliberately runs without AQE, so nothing
    * coalesces its exchanges at runtime: inheriting the session's
    * core-count layout (32 at the bench) makes every one of g4's ~6
    * bounded-round exchanges a 32-task scatter of a few-MB edge set —
    * pure scheduling windows, the r20 driver measured g4 at 3.6-11.2 s
    * under load at 32c vs 1.6 s at 8c on identical code. One partition
    * per 4 MB of source parquet (the bounded-round build makes ~6 passes
    * over the per-round edge shuffle, so the sweet spot sits well below
    * the usual scan-sized 64-128 MB target: an r21 quiet-host sweep
    * measured width 4 and 16 tied at ~2.0-3.0 s and width 32 worst at
    * 3.3-4.9 s, same methodology, two interleaved reps), with the
    * caller's own shuffle width as the ceiling: a production deployment
    * raises spark.sql.shuffle.partitions and the derivation follows the
    * data up to that ceiling; the fixture derives 4 for g4 and stops
    * paying 32-way task scatter per round. Integer ranks and min labels
    * are order-independent, so the width never changes a result (g4 and
    * l17 stay oracle-hash-green). */
  private[graft] def derivedParts(spark: SparkSession, dir: String,
      tables: Seq[String]): Int = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val bytes = tables.map { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
    math.max(1, math.min(spark.sessionState.conf.numShufflePartitions,
      math.ceil(bytes / (4.0 * 1024 * 1024)).toInt))
  }

  /** Parameterized body of G4: a deep run (rounds >= 4) exercises the
    * every-4th-round localCheckpoint cadence that the registered 3-round
    * query intentionally never pays (see GraphDepthSpec). */
  def pageRank(spark: SparkSession, dir: String, rounds: Int): DataFrame = {
    // The whole bounded-round loop plans STATICALLY and materializes in
    // ONE job: AQE is off for the build (on a child session, see below),
    // because its per-stage sync barriers turn 3 unrolled rounds into
    // ~17 serial stage-submission jobs — each a scheduling window for
    // ambient load to land in (the r11 driver re-run put g4's spread at
    // 1.50x for exactly this reason; BATCH_METRICS_r10.md decomposes it).
    // Static planning is the right call here on its own terms, not just
    // for the bench: round-over-round cardinalities are stable (same
    // graph every round), so AQE has nothing to learn after round 1, and
    // bounded-round Pregel on a pre-materialized edge set is the classic
    // static-plan shape (GraphX runs exactly this way). The identical
    // per-round `nodes` subtrees dedupe via ReuseExchange — a rule AQE
    // mode would apply per-stage anyway. Skewed in-degree at 100 TB is
    // handled the j11 way (salt the dst agg), not by re-enabling AQE.
    // The AQE-off scope is a CHILD SESSION ([[staticBuild]]): it shares
    // the SparkContext but owns its SQL config, with AQE off and the
    // derived width set once when it is created, so nothing is ever
    // toggled on ANY session and concurrent planning on the caller's
    // session is untouched. The returned frame stays on the child, so it
    // plans at the child's width whenever the caller acts on it; its
    // final TakeOrderedAndProject is AQE-indifferent. Two cheaper-looking
    // scopes were tried and rejected with measurements: a thread-local
    // SQLConf.withExistingConf snapshot does NOT survive into Dataset
    // actions (SQLExecution re-propagates the session conf to the thread,
    // so the build planned with AQE on — 18 jobs, the GraphDepthSpec pin
    // caught it), and a per-call throwaway newSession() was ~45% slower
    // on g4 (SessionState construction per call), which is why
    // `Engine.scoped` caches its children.
    val build = staticBuild(spark, dir, Seq("orders", "lineitem"))
    import build.implicits._
    val pr = {
        // Out-degree is attached to each edge by a window count over src
        // in the SAME materialization as the edge build — one eager
        // checkpoint job where r9 paid two (edges, then outdeg as a second
        // aggregate over the checkpointed edges), and the per-round outdeg
        // equi-join disappears because od rides on the edge row.
        // r21 (guide §2.3, narrower types): node ids are LONGS inside the
        // build — customer c → 2c, supplier s → 2s+1, a bijection — so the
        // distinct, the window, every per-round join/agg and the
        // checkpointed edge blocks all carry 8-byte keys instead of
        // "c"/"s"-prefixed strings; the display string is reconstructed
        // once, on the final 20-row frame. Integer ranks are unchanged
        // (same graph, same sums), and the (pr desc, node) tie-break still
        // orders STRINGS because the stringify runs before the orderBy.
        val edges = orders(build, dir).select($"o_orderkey", $"o_custkey")
          .join(lineitem(build, dir).select($"l_orderkey", $"l_suppkey"),
            $"o_orderkey" === $"l_orderkey")
          .select(($"o_custkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
          .distinct()
          .withColumn("od", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy($"src")))
          .localCheckpoint(true)
        val nodes = edges.select($"src".as("node"))
          .union(edges.select($"dst".as("node"))).distinct()
        var p = nodes.withColumn("pr", lit(1000000L))
        // the most recent every-4th-round checkpoint (deep runs only),
        // tracked so the loop can release the superseded one's blocks
        var prevCkpt: Option[org.apache.spark.sql.DataFrame] = None
        for (round <- 1 to rounds) {
          val contrib = edges
            .join(p.withColumnRenamed("node", "src"), Seq("src"))
            .select($"dst", expr("pr div od").as("c"))
            .groupBy($"dst").agg(sum($"c").as("s"))
          p = nodes.join(contrib.withColumnRenamed("dst", "node"),
              Seq("node"), "left")
            .select($"node",
              expr("150000L + (85L * coalesce(s, 0L)) div 100L").as("pr"))
          // truncate lineage every 4th round, not every round: each eager
          // localCheckpoint is a full materialization job, and up to 4
          // unrolled join+agg rounds are still a shallow plan. A deep
          // (say 20-round) run gets one truncation per 4 — the same
          // every-K cadence l17's convergence check uses
          if (round % 4 == 0 && round < rounds) {
            p = p.localCheckpoint(true)
            // deep runs only: the superseded every-4th-round checkpoint is
            // dead once the new one materializes. Unpersist the TRACKED
            // bare checkpoint, never the composite `p` plan — its tree
            // also contains the still-live `edges` LogicalRDD.
            prevCkpt.foreach(graft.plans.Checkpoints.unpersist)
            prevCkpt = Some(p)
          }
        }
        if (rounds >= 4) {
          // deep runs: one materialization job for the remaining unrolled
          // rounds, which also keeps the returned plan FLAT (GraphDepthSpec
          // pins join-free plans after the cadence) — and once the final
          // ranks are materialized, the tracked cadence snapshot and the
          // edge set are both dead; release them promptly instead of
          // waiting on the ContextCleaner's GC race
          val fin = p.localCheckpoint(true)
          prevCkpt.foreach(graft.plans.Checkpoints.unpersist)
          graft.plans.Checkpoints.unpersist(edges)
          fin
        } else {
          // shallow runs (the registered 3-round g4): SKIP the final
          // checkpoint — up to 4 unrolled rounds is a shallow static plan
          // (the cadence comment above), and materializing EVERY node's
          // rank just to feed a top-20 TakeOrderedAndProject wastes a full
          // job; folding the rounds into the caller's one materialization
          // measured 2.562 -> 2.285 s best AND tightened the committed
          // spread [2.56, 3.72] -> [2.29, 2.41] (one fewer job = one less
          // scheduling window) under the r14 bench policy.
          // `edges` stays alive for the caller's execution (one frame, the
          // same single-final-frame residue every other query leaves; the
          // ContextCleaner reclaims it).
          p
        }
    }
    pr.select(
        concat(when($"node" % 2 === 0, lit("c")).otherwise(lit("s")),
          expr("node div 2").cast("string")).as("node"),
        $"pr")
      .orderBy($"pr".desc, $"node").limit(20)
  }

  /** G6: triangle counting over the supplier co-occurrence graph (two
    * suppliers are adjacent when both ship a high-quantity line of the
    * same order). The naive closed-wedge join explodes on hub vertices:
    * wedge count is Σ deg², and one hub dominates the sum. The MapReduce
    * remedy (Suri & Vassilvitskii, WWW'11) is DEGREE-ORDERED orientation —
    * direct every edge from its lower-(degree, id) endpoint to the higher,
    * which caps every out-degree at O(√m), bounds total wedges by
    * O(m^1.5), and counts each triangle exactly once (at its lowest-order
    * apex). Everything is equi-join + agg: partitionable, no NLJ, AQE
    * handles any residual skew. Oracle = the orientation-free canonical
    * (u<v) triangle join — orientation must not change the count. */
  def g6TriangleCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = lineitem(spark, dir).filter($"l_quantity" >= 45)
    val a = li.select($"l_orderkey", $"l_suppkey".as("u"))
    val b = li.select($"l_orderkey", $"l_suppkey".as("v"))
    triangles(a.join(b, Seq("l_orderkey")).filter($"u" < $"v")
      .select($"u", $"v").distinct())
  }

  /** Triangle-count core over a canonical (u < v, distinct) edge set —
    * split out so PropertySpec can check orientation invariance on
    * arbitrary random graphs. */
  private[graft] def triangles(und: DataFrame): DataFrame = {
    import und.sparkSession.implicits._
    val deg = und.select(explode(array($"u", $"v")).as("n"))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    val lowFirst = deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du")
    val highFirst = deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv")
    val e = und.join(lowFirst, Seq("u")).join(highFirst, Seq("v"))
      .select(
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u")
          .otherwise($"v").as("src"),
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v")
          .otherwise($"u").as("dst"))
    e.as("e1")
      .join(e.as("e2"), $"e1.src" === $"e2.src" && $"e1.dst" =!= $"e2.dst")
      .select($"e1.dst".as("x"), $"e2.dst".as("y"))
      .join(e.withColumnRenamed("src", "x").withColumnRenamed("dst", "y"),
        Seq("x", "y"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** G7: bounded-hop BFS — min-distance from a seed set over the directed
    * customer→supplier trade graph (3 rounds, the frontier-expansion shape
    * of every reachability/impact analysis): each round is one equi join
    * (frontier × edges) + one min-agg, so distance-k vertices are found by
    * round k with no driver-side frontier and no visited-set broadcast —
    * the min-agg absorbs revisits. Distances are small integers: the
    * whole reachability table hash-matches unrolled oracle CTEs. */
  def g7BfsReachability(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NOT the g4 static fold: r12 measured the AQE-off one-job variant
    // (per-round checkpoints dropped, ReuseExchange left to dedupe the
    // doubled frontier subtrees) at 3.4-3.9 s vs 2.0-2.2 s for this
    // shape — the frontier's doubled references re-execute enough of the
    // join chain that per-round materialization wins here, unlike g4
    // where pr is referenced once per round. Measured, reverted.
    // one join builds the forward edge set; the reverse direction (needed
    // so multi-hop paths exist in the bipartite trade graph) is a free
    // projection flip of the SAME checkpointed set — never a second join.
    // r21 (guide §2.3, narrower types): long node ids (customer c → 2c,
    // supplier s → 2s+1) through the distinct, the checkpoint and every
    // round's join+min-agg; the display string is rebuilt once on the
    // final reachability table (see g4's note — same bijection, same
    // output strings)
    val fwd = orders(spark, dir).select($"o_orderkey", $"o_custkey")
      .join(lineitem(spark, dir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
      .distinct()
      // DISK_ONLY, not the MEMORY_AND_DISK default (r14, measured both
      // tiers): the edge set is the query's big frame and is re-read only
      // once per round, sequentially — page cache makes the re-reads free,
      // so sf0.1 steady state is equal-or-better (2.8-3.4 vs 3.2-3.6 s in
      // the r14 same-JVM A/B, BATCH_METRICS_r14.md), while at sf10 keeping ~GBs of edge rows out
      // of the heap cuts per-run GC from 1.2-6.9 s to 0.2-0.7 s — GC that
      // would otherwise stall every other query sharing the executors.
      // The tiny per-round frontiers stay at the in-memory default.
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val edges = fwd.unionByName(fwd.select($"dst".as("src"), $"src".as("dst")))
    val seeds = Seq(2L, 4L, 6L).toDF("node") // c1, c2, c3 under the 2c encoding
      .withColumn("dist", lit(0L))
    var reach = seeds
    for (k <- 1 to 3) {
      val next = reach.withColumnRenamed("node", "src")
        .join(edges, Seq("src"))
        .select($"dst".as("node"), lit(k.toLong).as("dist"))
      // reach is referenced TWICE per round (carried + expanded), so an
      // unchecked plan doubles every round — 2^k copies of the base join
      // by round k. The per-round frontier is tiny; materializing it
      // keeps the plan linear in rounds.
      val prev = reach
      reach = reach.unionByName(next)
        .groupBy($"node").agg(min($"dist").as("dist"))
        .localCheckpoint(true)
      // the new checkpoint has eagerly materialized, so round k-1's blocks
      // are dead — release them now instead of waiting on the
      // ContextCleaner's GC race (graft.plans.Checkpoints scaladoc; the
      // r13 sf10 record measured the accumulation at 57.8 → 94.9 s drift)
      graft.plans.Checkpoints.unpersist(prev)
    }
    // the returned plan is a thin stringify projection over the final
    // checkpoint — the edge set is dead too once the loop exits
    graft.plans.Checkpoints.unpersist(fwd)
    reach.select(
      concat(when($"node" % 2 === 0, lit("c")).otherwise(lit("s")),
        expr("node div 2").cast("string")).as("node"),
      $"dist")
  }

  /** G8: connected components by alternating large-star / small-star
    * contractions (Kiveris et al. 2014, "Connected Components in
    * MapReduce and Beyond") — the O(log²n)-round CC algorithm production
    * graph systems use at the 100 TB tier, where l17's per-hop min-label
    * propagation would pay one round per graph DIAMETER. Each round is
    * two fixed-shape jobs (neighborhood-min agg + join-back), edge count
    * monotonically non-increasing, and at the fixpoint every node points
    * directly at its component minimum. Same input graph and same result
    * as l17 (the strategy changes, never the answer — the l8/l46
    * convention), so both hash-match the same recursive-CTE oracle. */
  def g8ConnectedComponents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r21: the l17-style AQE-off child-session routing was MEASURED here
    // and REVERTED — the star rounds multiply-reference sym(e) and
    // mins(s), and AQE's runtime shuffle-stage reuse is what dedupes
    // those subtrees (executor run 2.4 s → 14.6 s without it, wall
    // 3.5 → 4.4 s, BatchMetrics sf0.1). AQE stays ON for this loop; the
    // per-round count job is carried instead (see starContract).
    // r20 (guide §4.1): pairs via the fused native signature path —
    // byte-identical to l2's (MinhashExprSpec), minus the shingle
    // explode + groupBy shuffle (see l17's note)
    val pairs = Llm.l2cMinhashNative(spark, dir)
      .select($"a_id".as("u"), $"b_id".as("v"))
    starContract(pairs, maxRounds = 20)._1
  }

  /** The alternating-star loop on its own, so GraphDepthSpec can feed it a
    * deep path graph and pin the round count (log-ish, not diameter).
    * Input: undirected pairs (u, v); output: ((doc_id, cluster_id) labels,
    * rounds used). */
  private[graft] def starContract(
      pairs: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    import pairs.sparkSession.implicits._
    // canonical child->parent direction (parent = smaller id)
    var edges = pairs.filter($"u" =!= $"v")
      .select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
      .distinct().localCheckpoint(true)

    def sym(e: DataFrame) =
      e.unionByName(e.select($"v".as("u"), $"u".as("v")))
    // m(u) = min of the closed neighborhood
    def mins(s: DataFrame) = s.groupBy($"u").agg(min($"v").as("mn"))
      .select($"u", least($"u", $"mn").as("m"))

    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      s.filter($"v" > $"u").join(mins(s), Seq("u"))
        .select($"v".as("u"), $"m".as("v"))
        .filter($"u" =!= $"v").distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val m = mins(s)
      s.filter($"v" < $"u").join(m, Seq("u"))
        .select($"v".as("cu"), $"m".as("cv"))
        .unionByName(m.select($"u".as("cu"), $"m".as("cv")))
        .filter($"cu" =!= $"cv").distinct()
        .select($"cu".as("u"), $"cv".as("v"))
    }

    var changed = 1L
    var round = 0
    // r21: the previous round's next.count() IS this round's edges.count()
    // — carry it in a var instead of re-submitting a count job over the
    // old checkpoint every round (one job per round removed; at scale,
    // one full pass over the edge blocks per round removed)
    var edgeCount = edges.count()
    while (changed > 0 && round < maxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextCount = next.count()
      // fixpoint = identical edge SET. Both sides are distinct-ed, so
      // equal counts + empty one-way difference imply set equality — one
      // exceptAll job per round instead of two (count on the freshly
      // checkpointed table is near-free)
      changed =
        if (nextCount != edgeCount) 1L
        else next.exceptAll(edges).count()
      edgeCount = nextCount
      // the fixpoint check above was the last read of the old edge set —
      // release its blocks now (Checkpoints scaladoc); the final round's
      // set stays: `labels` below is a live view over it
      graft.plans.Checkpoints.unpersist(edges)
      edges = next
      round += 1
    }
    require(changed == 0, s"star contraction did not converge in $maxRounds rounds")
    val labels = edges.select($"u".as("doc_id"), $"v".as("cluster_id"))
      .unionByName(edges.select($"v", $"v").distinct()
        .toDF("doc_id", "cluster_id"))
    (labels, round)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g8_connected_components" -> (g8ConnectedComponents _),
    "g7_bfs_reachability" -> (g7BfsReachability _),
    "g6_triangle_count" -> (g6TriangleCount _),
    "g4_pagerank" -> (g4PageRank _),
    "g1_manifest_explode" -> (g1ManifestExplode _),
    "g2_explode_tokens" -> (g2ExplodeTokens _),
    "g2b_posexplode" -> (g2bPosexplode _),
    "g2c_explode_outer" -> (g2cExplodeOuter _),
    "g3_day_series" -> (g3DaySeries _),
    "g5_day_spine_tvf" -> (g5DaySpineTvf _)
  )

  val oracle: Map[String, String] = Map(
    "g5_day_spine_tvf" ->
      """WITH spine AS (
        |  SELECT CAST(unnest(generate_series(DATE '2024-01-01',
        |    DATE '2024-01-31', INTERVAL 1 DAY)) AS DATE) AS day),
        |actual AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT s.day, coalesce(a.n_events, 0) AS n_events
        |FROM spine s LEFT JOIN actual a USING (day)""".stripMargin,
    "g7_bfs_reachability" ->
      """WITH fwd AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd),
        |r0 AS (SELECT node, CAST(0 AS BIGINT) AS dist
        |       FROM (VALUES ('c1'), ('c2'), ('c3')) v(node)),
        |r1 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
        |         SELECT node, dist FROM r0 UNION ALL
        |         SELECT e.dst, 1 FROM r0 JOIN edges e ON r0.node = e.src)
        |       GROUP BY node),
        |r2 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
        |         SELECT node, dist FROM r1 UNION ALL
        |         SELECT e.dst, 2 FROM r1 JOIN edges e ON r1.node = e.src)
        |       GROUP BY node),
        |r3 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
        |         SELECT node, dist FROM r2 UNION ALL
        |         SELECT e.dst, 3 FROM r2 JOIN edges e ON r2.node = e.src)
        |       GROUP BY node)
        |SELECT node, dist FROM r3""".stripMargin,
    "g6_triangle_count" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        |  WHERE l_quantity >= 45),
        |edges AS (
        |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey)
        |SELECT count(*) AS n_triangles
        |FROM edges e1
        |JOIN edges e2 ON e1.v = e2.u
        |JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin,
    "g4_pagerank" ->
      """WITH edges AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
        |c1 AS (SELECT e.dst, CAST(sum(p.pr // o.od) AS BIGINT) AS s
        |       FROM edges e JOIN pr0 p ON e.src = p.node
        |       JOIN outdeg o ON e.src = o.src GROUP BY 1),
        |pr1 AS (SELECT n.node, 150000 + (85 * COALESCE(c.s, 0)) // 100 AS pr
        |        FROM nodes n LEFT JOIN c1 c ON n.node = c.dst),
        |c2 AS (SELECT e.dst, CAST(sum(p.pr // o.od) AS BIGINT) AS s
        |       FROM edges e JOIN pr1 p ON e.src = p.node
        |       JOIN outdeg o ON e.src = o.src GROUP BY 1),
        |pr2 AS (SELECT n.node, 150000 + (85 * COALESCE(c.s, 0)) // 100 AS pr
        |        FROM nodes n LEFT JOIN c2 c ON n.node = c.dst),
        |c3 AS (SELECT e.dst, CAST(sum(p.pr // o.od) AS BIGINT) AS s
        |       FROM edges e JOIN pr2 p ON e.src = p.node
        |       JOIN outdeg o ON e.src = o.src GROUP BY 1),
        |pr3 AS (SELECT n.node, 150000 + (85 * COALESCE(c.s, 0)) // 100 AS pr
        |        FROM nodes n LEFT JOIN c3 c ON n.node = c.dst)
        |SELECT node, pr FROM pr3 ORDER BY pr DESC, node LIMIT 20""".stripMargin,
    // independent derivation: only the .jp2 body survives the walk
    "g1_manifest_explode" -> (Extraction.corpusSql +
      "SELECT doc_id, fn1 AS page_file FROM corpus"),
    "g2_explode_tokens" ->
      """SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |FROM documents WHERE doc_id < 100""".stripMargin,
    "g2b_posexplode" ->
      """SELECT doc_id,
        |CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT) AS pos,
        |unnest(string_split(text, ' ')) AS token
        |FROM documents WHERE doc_id < 100""".stripMargin,
    "g2c_explode_outer" ->
      """SELECT d.doc_id, u.shingle60
        |FROM (SELECT doc_id,
        |        CASE WHEN len(string_split(text,' ')) < 60 THEN []
        |             ELSE list_transform(
        |               generate_series(1, len(string_split(text,' ')) - 59),
        |               i -> array_to_string((string_split(text,' '))[i:i+59], ' ')) END AS sh
        |      FROM documents WHERE doc_id < 200) d
        |LEFT JOIN LATERAL (SELECT unnest(d.sh) AS shingle60) u ON true""".stripMargin,
    "g3_day_series" ->
      """SELECT day, CAST(day(day) AS BIGINT) AS dom, CAST(isodow(day) - 1 AS BIGINT) AS wd
        |FROM (SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31', INTERVAL 1 DAY)) AS DATE) AS day)""".stripMargin
  )
}
