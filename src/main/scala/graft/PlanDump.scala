package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

/** Formatted physical plans of registered queries, AQE-final: each query's
  * own plan runs to completion before it is explained ([[plan]]).
  *
  * Run: `sbt "runMain graft.PlanDump [sfDir] [q1,q2,...]"` (sfDir defaults
  * to sf0.01). Named queries print to stdout. With no names it writes the
  * [[headline]] set, each with its note, to PLANS.md — the plan-level audit
  * trail (pushdown, pruning, join strategy, codegen) behind the scale claims
  * in README/COVERAGE; re-run it after plan-affecting changes. The session
  * is [[Engine.session]]'s, so `SPARK_GRAFT_CPUS` sets the width the plans
  * are taken at, and PLANS.md's header states it. Queries that materialize
  * eagerly while being built (iterative localCheckpoint loops) show their
  * final frame's plan; their job-level story is in `graft.Profile`'s record.
  * Failed or unregistered names are counted, and the main then exits
  * nonzero without writing PLANS.md.
  */
object PlanDump {

  /** Runs `fn`'s query on `dir` to completion through its own
    * `QueryExecution`, discarding the rows on the executors, and returns
    * that execution's formatted plan, so AQE's plan is the final one. (A
    * noop write would plan and run a second `QueryExecution` and leave this
    * one's plan initial.) */
  def plan(spark: SparkSession, fn: SparkEntry.Query, dir: String): String = {
    val qe = fn(spark, dir).queryExecution
    SQLExecution.withNewExecutionId(qe, Some("plan"))(qe.toRdd.foreach(_ => ()))
    qe.explainString(FormattedMode)
  }

  /** `plan` as PLANS.md shows it, the same on every run of the same code:
    * expression and plan ids become `#x` and `plan_id=x`, the working
    * directory `<cwd>`, a temp directory's random suffix `*` (a glob for
    * the directory), a lambda's class number and address nothing, and an
    * object's hash code `@hash`; a plan over 6000 characters is cut after
    * its last whole line within them. */
  def stable(plan: String): String = {
    def path(key: String) = java.util.regex.Pattern.quote(sys.props(key).stripSuffix("/"))
    val out = plan
      .replaceAll("#\\d+", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll(path("java.io.tmpdir") + "/(\\w*?)\\d{10,}(?!\\w)", "<tmp>/$1*")
      .replaceAll(path("user.dir") + "/", "<cwd>/")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda")
      .replaceAll("(?<=[\\w$])@[0-9a-f]{1,8}\\b", "@hash")
    if (out.length <= 6000) out
    else out.take(out.lastIndexOf('\n', 6000)) + "\n... (cut at 6000 characters)"
  }

  /** The queries PLANS.md shows, each with the note on what its plan should
    * show. */
  val headline: Seq[(String, String)] = Seq(
    "a9_multi_agg_q1" -> "flagship multi-aggregate: pushed filter, pruned scan, partial+final hash agg",
    "s1_pushdown_scan" -> "range scan: PushedFilters on l_shipdate",
    "s1b_events_time_pruned" -> "event-time range pushed natively: PushedFilters on ts",
    "j6_star_join" -> "star join: broadcast dimensions, single fact shuffle",
    "j6_bucketed_join" -> "bucketed co-located join: no exchange below the SMJ",
    "j7_asof_join" -> "as-of join: equi key bounds the shuffle, window picks latest",
    "l2_minhash_neardup" -> "banded minhash: bucket join, never all-pairs",
    "l3_cosine_topk_native" -> "similarity top-k: broadcast probes, fused codegen scorer",
    "l3_ivf_topk" -> "IVF ANN: broadcast centroids, hash join on cell key only",
    "j9_upsert_merge" -> "merge/upsert: one full-outer sort-merge shuffle on the key (FullOuter cannot broadcast)",
    "w7_global_topk" -> "global top-k: TakeOrderedAndProject, no full sort",
    "g1_manifest_explode" -> "manifest kernel: generate pipeline, no shuffle",
    "s12_dsv2_search_scan" -> "custom DSv2 source: filters consumed at the source, day chunks pruned at planning, pub never materialized",
    "s12b_dsv2_agg_pushdown" -> "DSv2 aggregate pushdown: per-chunk COUNT/MIN/MAX partials, zero data rows shipped",
    "s13_dpp_gated_read" -> "dynamic partition pruning: broadcast state gate prunes day directories at runtime",
    "sq2_scalar_correlated" -> "correlated scalar subqueries decorrelated to aggregate-then-join (segment average computed once per segment)",
    "s15_dsv2_topn" -> "DSv2 top-N pushdown: only the contributing day-chunks planned, retained Sort+Limit resolves tie-breaks",
    "s17_catalog_sql" -> "SQL TableCatalog path: kb.search keeps aggregate pushdown, filters consumed at the source",
    "l18_repetition" -> "repetition metrics: array HOFs only, single pass, no explode/shuffle",
    "l19_stratified_sample" -> "stratified sample: md5-bucket predicate evaluated in the scan stage, no RNG state",
    "j13_interval_join" -> "interval join: equi join on day buckets + residual range predicate, no NLJ",
    "g4_pagerank" -> "3-round pageRank: statically-planned unrolled rounds (AQE-off child session) over one checkpointed edge set, folded straight into TakeOrderedAndProject - no full-rank materialization (r14), per-round nodes subtrees dedupe via ReuseExchange",
    "g6_triangle_count" -> "triangle count: degree-ordered orientation, equi joins only",
    "w9_batch_sessionize" -> "sessionization: one user_id exchange reused by both window passes and the final agg",
    "s18b_catalog_udaf" -> "catalog UDAF: partial_v2aggregator map-side, state (not rows) crosses the exchange",
    "j10_bloom_runtime_filter" -> "selective-dim join: AQE broadcast, bloom gate arms at scale",
    "j11_salted_join" -> "salted skew join: 16-way fan-out, (key, salt) equi join",
    "l28_curation_pipeline" -> "curation pipeline: quality gate fused into the scan stage, one digest window exchange, one lang agg exchange",
    "l27_char_diversity" -> "char diversity: native char_stats_native expression inside one WholeStageCodegen span, zero exchanges",
    "j14_aqe_skew_join" -> "planted-skew join left to AQE: skew-split arms at production sizes (plan test lowers the gates), agg keys off the join key so the split never costs an extra exchange",
    "l29_length_histogram" -> "length histogram: integer bucketing, one partial-agg shuffle",
    "l30_vocab_coverage" -> "vocab coverage: top-50 vocab broadcast to the token stream, one doc_id agg exchange",
    "l31_doc_chunking" -> "chunking: map-only generate+slice, zero exchanges",
    "l32_sequence_packing" -> "packing: one source exchange shared by the running-sum window and the bin agg",
    "w12_funnel" -> "funnel: three conditional running-min window passes over one shared user_id exchange",
    "a17_histogram_merge" -> "mergeable histogram: per-day partials, merge agg, integer cumulative walk",
    "s26_rebalance_write" -> "rebalanced write: AQE sizes output files to the advisory in both directions",
    "w13_topk_native" -> "custom whole-operator top-k: TopKPerKey node, one hash exchange, no SortExec",
    "w14_cohort_retention" -> "cohort retention: per-customer collapse before the cohort join, final agg on cohort keys",
    "l33_train_split" -> "train/val/test split: content-hash bucket projection, map-only, zero exchanges",
    "l34_unicode_normalize" -> "unicode normalize: native unaccent_native inside one WholeStageCodegen span, zero exchanges",
    "l35_bigram_lm_score" -> "bigram LM score: vocabulary-sized stat aggs joined back to the bigram stream, no doc-level product",
    "l36_incremental_neardup" -> "incremental near-dedup: fused native signatures both sides, batch bands equi-join corpus bands",
    "w15_linear_interpolate" -> "linear interpolation: prev/next ignore-nulls brackets over one event_type exchange, integer convex combination",
    "g5_day_spine_tvf" -> "custom table function: day_spine plans a distributed catalyst Range, joined to per-day counts",
    "l5e_image_phash" -> "image near-dedup: decoded aHash, 16-bit band buckets, exact hamming filter — never all-pairs",
    "l39_span_dedup" -> "repeated-span dedup: positional gram hashes, dup-gram semi-join, per-doc island window — no all-pairs",
    "l40_shuffle_shard" -> "deterministic shuffle-shard: one exchange on the shard key, partition-local sort, no global order",
    "l43_label_centroids" -> "embedding centroids: posexplode to (dim, v), map-side partial sums, one (label, dim) exchange",
    "sq6_recursive_cte" -> "recursive CTE hierarchy walk: UnionLoop with a per-level equi join against the table",
    "s27_bloom_filter_scan" -> "bloom-filtered point lookup: equality probe over the bloom'd layout, one agg exchange",
    "w16_zscore_outliers" -> "integer z-score outliers: tiny per-type stats broadcast back onto the daily series",
    "w18_window_median" -> "rolling exact median: holistic agg over a bounded 7-row frame, one event_type exchange",
    "l44_kmv_overlap" -> "KMV overlap sketch: distinct + TakeOrderedAndProject bottom-k, ≤k rows per mapper",
    "l45_sentence_chunk" -> "sentence chunking: one doc_id exchange serves the offset window and ordered reassembly",
    "l46_prefix_filter_join" -> "prefix-filtered similarity join: candidates only on rare prefix shingles, exact verify after",
    "o15_quality_constraints" -> "constraint suite: every rule a conditional agg in one scan, stack unpivot to the report",
    "sq7_sql_udf" -> "SQL-defined function: body inlined at analysis time, decimal arithmetic inside codegen, no UDF node",
    "l48_tfidf_topterms" -> "TF-IDF top terms: ONE tokenize pass (df is a window count over tf - the agg-then-join spelling defeated ReuseExchange and tokenized the corpus twice, r14), broadcast 1-row corpus size, native TopKPerKey per-doc top-3 with no per-doc sort",
    "w19_scd2_history" -> "SCD-2 historization: change-detect, run-number, collapse and close-out over one user_id exchange",
    "l5f_vad_segments" -> "VAD segmentation: decode-local frame energies, integer above-mean gate, gaps-and-islands on one file exchange",
    "w20_mad_outliers" -> "robust MAD outliers: both full-partition medians share one event_type exchange, exact integer arithmetic end to end",
    "l50_temperature_mixture" -> "temperature mixture: one corpus-sized count agg, broadcast 1-row total, upsample math on |langs| rows",
    "l51_stopgram_boilerplate" -> "stop-gram boilerplate: gram DF partial+final agg, relative threshold, small-by-construction boiler set broadcast back",
    "o16_cached_reuse" -> "cache reuse: per-(type, day) agg computed once, both branches scan the InMemoryRelation",
    "l53_distribution_drift" -> "distribution drift: (doc_id, n_chars)-pruned scan, one bounded-key partial agg, totals on a ≤10-row window",
    "l54_semdedup" -> "SemDeDup: checkpointed broadcast-assign stage, pair search equi-joined on cluster_id — pair volume bounded by cluster size",
    "l55_rejection_resample" -> "rejection resample: tiny per-lang rate table broadcast back, one map-side accept filter, text never read",
    "l56_novelty_scoring" -> "novelty scoring: distinct-ed ref shingles, one shingle-keyed left join + per-doc partial agg",
    "l57_line_dedup" -> "line dedup: first-occurrence election window partitioned on the line's md5, ordered-collect reassembly",
    "l58_quality_ensemble" -> "quality ensemble: three rank windows + keep filter share one exchange on source",
    "l59_importance_scoring" -> "importance scoring: 64-row rate table from map-side partials, broadcast back, one doc_id agg",
    "s33_schema_evolution" -> "schema evolution: mergeSchema scan unifies generations at planning time, defaults in codegen",
    "g8_connected_components" -> "star-contraction CC: per-round neighborhood-min agg + join-back, checkpointed fixpoint loop",
    "l60_fuzzy_blocked_join" -> "fuzzy record linkage: one partial agg to the key dictionary, blocked self-join, Levenshtein only on blocked candidates",
    "l61_cross_source_overlap" -> "cross-source overlap: distinct (source, gram) partials, one gram exchange, HOF pair expansion bounded by |sources|²",
    "l62_tokenizer_fertility" -> "tokenizer fertility: (lang, word) partials, dictionary-sized BPE learn + encode join-back, |langs|-row final agg",
    "w21_seasonal_baseline" -> "seasonal baseline: corpus-sized work is one dailyCounts agg; per-(type, dow) medians ride one exchange over calendar-bounded rows",
    "j15_pit_feature_join" -> "point-in-time feature join: union + one user_id window exchange, no interval materialization, no range join",
    "l63_lsh_calibration" -> "LSH calibration: both legs recompute one cheap fused shingle derivation (measured faster than caching it — see l63 doc), probe-bounded pairs, decile counts <= 11 rows",
    "l64_dedup_survivorship" -> "dedup survivorship: two source-keyed partial aggs + probe-bounded banded join, |sources| output rows",
    "l65_cdc_chunking" -> "content-defined chunking: map-only boundary mark, doc-local running-boundary window, ordered chunk assembly, digest equi-join twin compare",
    "o17_partition_stats" -> "partition stats: one partial+final agg per day key, distinct pre-aggregated per (day, user)",
    "l66_bm25_retrieval" -> "BM25 retrieval: postings pruned to broadcast query terms before any wide agg, integer-rational BM25 (k1=6/5, b=3/4), per-query top-5 on native TopKPerKey — no SortExec, no doc x doc",
    "l67_hybrid_rrf" -> "hybrid RRF: both legs cap at top-20 per query on TopKPerKey BEFORE fusion — fusion state |queries| x 40 rows, integer 1e6 div (60+rank) contributions, final top-10 on TopKPerKey",
    "l68_mmr_rerank" -> "MMR re-rank: whole greedy runs INSIDE one exchange — per-query candidates collapse to a row, sim matrix + five argmax rounds are array expressions (aggregate() accumulator), corpus stages untouched from l66/l67; PlanShapeSpec (\"L68: the MMR greedy runs as expression work above ONE collapse exchange\") pins no join/exchange/TopK above the collapse",
    "st28_streaming_index" -> "streaming index maintenance: per-batch append-only deltas — the shared l66 per-doc stage prunes to the compile-time query vocabulary inside ONE |batch docs|-row aggregate (no join, r21), 1-row corpus-stat delta, final scoring over bounded state; PlanShapeSpec (\"ST28: per-batch index deltas prune to the query vocabulary with no join\") pins the batch-delta shape",
    "s37_snapshot_diff" -> "CDC snapshot diff: two version scans + one anti-join per direction, bounded by table size not history",
    "l5g_jp2_decode" -> "JPEG 2000 entropy decode: binaryFile scan -> partition-local typed MapPartitions (the engine's own 15444-1 codec runs where the bytes are) -> fixed-width scalar projection; no exchange, no driver-side pixels",
    "l5h_jp2_tiled_parallel" -> "distributed single-scan JP2 decode: streamed Psot-chain split over the file LISTING (binaryFile pruned to path+length; ranged header reads, REQUIRED < 1/8 of the file — no 2 GiB cap, no whole-file fetch) -> ONE pinned-width exchange spreading the file's tile-parts (REPARTITION_BY_NUM: AQE's byte-based coalescing would fold ~140 B descriptors into one partition and serialize the decode) -> ranged-read + standalone tile decode per task -> partial-agg of channel sums (scalars cross the shuffle, never pixels)",
    "l5j_jp2_thumbnail_ranged" -> "distributed ranged thumbnail: the same streamed listing-driven split as l5h, with spans TRUNCATED to each tile-part's PLT low-res prefix (split walk + prefixes together REQUIRED < 1/2 the scan) -> pinned-width exchange (same ~140 B-descriptor AQE-coalescing hazard) -> per-task ranged read of ONLY the prefix + standalone reduced tile decode -> max-agg of reduced-grid extents",
    "l5k_jp2_quality_ranged" -> "distributed quality-progressive fetch (the LAYER axis; l5j is the resolution axis): streamed listing-driven split computes per tile-part the byte ranges of the FIRST quality layer's packets across all resolutions from PLT (walk + ranges REQUIRED < 3/4 the scan) -> pinned-width exchange -> per-task scattered ranged reads assemble the compacted slice + standalone quality-truncated decode (full resolution, reduced fidelity) -> max-agg of full-res extents",
    "l5l_jp2_region_ranged" -> "distributed region (crop) fetch (the SPATIAL axis; the IIIF region request done engine-side): streamed listing-driven split keeps only tile-part spans whose grid rectangle intersects the crop (kept bytes REQUIRED proportional to the cropped tile footprint) -> pinned-width exchange -> per-task ranged read + standalone decode + clip -> sum-agg of the crop's ACTUAL decoded pixels, hash-matched against the closed-form crop arithmetic",
    "l5n_jp2_precinct_region" -> "PRECINCT-granular region fetch (r17; what precincts exist for): on a precinct-partitioned master the streamed split keeps only the PACKETS of precincts inside the inverse-DWT-dilated crop (PLT arithmetic; walk + ranges REQUIRED < 1/2 the scan even though EVERY 192-tile intersects the crop) -> pinned-width exchange -> per-task scattered ranged reads + precinct-filtered decode (skipped precincts stay zero; margin makes crop pixels bit-exact) + clip -> sum-agg hash-matched against the closed-form crop arithmetic")

  /** PLANS.md's section on the sink probe, which has no single plan. */
  private val sinkProbe =
    """## Sink-probe cost (IncrementalWriter key index)
      |
      |The idempotent sink's existence probe is a left-anti join against the
      |sink's keys. Without an index that probe re-reads the key column of
      |EVERY sink data file per batch — O(|sink|) I/O that dominates once the
      |corpus outgrows the batch. With `keyIndex = true` (st15 runs this way)
      |the probe instead reads the key SIDECAR `<sink>.keys/`: key-sorted
      |files with parquet bloom filters on the leading key, holding only key
      |bytes. Probe I/O is then O(|distinct keys|) worst case, with row-group
      |min/max + bloom pruning cutting the scan toward O(|batch|) when the
      |batch's key range is narrow. Consistency: data commits before the
      |index; a `_synced` marker pins the sink's data-file count, and any
      |mismatch (torn append) triggers a rebuild from the sink rather than a
      |stale probe — IncrementalWriterSpec pins both the idempotence and the
      |torn-append recovery.
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = SparkEntry.names(args.lift(1))
    val spark = Engine.session()
    val outcome = SparkEntry.run(if (names.isEmpty) headline.map(_._1) else names) { (name, fn) =>
      val txt = plan(spark, fn, dir)
      if (names.nonEmpty) println(s"=== $name @ $dir ===\n$txt")
      txt
    }
    if (names.isEmpty && outcome.failed == 0) {
      val notes = headline.toMap
      val sb = new StringBuilder
      sb.append(s"# PLANS — formatted physical plans of the headline queries (${Paths.get(dir).getFileName})\n\n")
      sb.append(s"Generated by `graft.PlanDump` at `SPARK_GRAFT_CPUS=${spark.sparkContext.defaultParallelism}`; " +
        "every plan is AQE-final. Re-run after plan-affecting changes.\n\n")
      sb.append(sinkProbe)
      outcome.done.foreach { case (name, txt) =>
        sb.append(s"\n## $name\n\n${notes(name)}\n\n```\n")
        sb.append(stable(txt))
        sb.append("\n```\n")
      }
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      println(s"wrote PLANS.md (${sb.length} chars)")
    }
    spark.stop()
    println(s"{${outcome.json}}")
    if (outcome.failed > 0) sys.exit(1)
  }
}
