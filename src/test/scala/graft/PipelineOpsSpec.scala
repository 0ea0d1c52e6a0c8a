package graft

import graft.queries.{Llm, Sources}
import org.apache.spark.sql.functions._

/** Quality bounds for the round-6 pipeline operators whose full output is
  * rows-only or whose physical effect (file layout) the oracle can't see. */
class PipelineOpsSpec extends SparkSpec {

  test("L26: k-means assigns every vector once into k clusters and never worsens inertia") {
    import spark.implicits._
    val seed = Llm.kmeansAssignment(spark, sfDir, 0)
    val fitted = Llm.kmeansAssignment(spark, sfDir, 3)
    val n = Engine.embeddings(spark, sfDir).count()
    assert(fitted.count() == n, "assignment must be total")
    assert(fitted.select($"cid").distinct().count() == 4)
    // Lloyd's invariant: each (update centroids, reassign) round can only
    // lower the within-cluster squared distance — 3 rounds vs the raw seed
    val i0 = seed.agg(sum($"d2")).head().getDouble(0)
    val i3 = fitted.agg(sum($"d2")).head().getDouble(0)
    assert(i3 <= i0 + 1e-9, s"inertia grew: seed $i0 -> fitted $i3")
    assert(i3 < i0 * 0.95, s"3 rounds should visibly tighten clusters: $i0 -> $i3")
  }

  test("L26: same seed, same data => identical clustering") {
    def sizes() = Llm.l26KmeansClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sizes() == sizes())
  }

  test("L26/L47: map-side argmin assignment is bit-identical to the pre-r20 crossJoin+window shape") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // The r20 rewrite claims the map-only argmin expression evaluates the
    // SAME index-ordered zip_with/aggregate fold with the same (d2, cid)
    // tie-break as the old crossJoin × broadcast-centroids + row_number
    // window — so one Lloyd round through BOTH shapes must agree on every
    // (cid, d2) to the last double bit. Joining on the raw d2 double makes
    // any ulp drift or tie-break divergence break the join (r20 verdict
    // ask #7; the MinhashExprSpec byte-identity pattern).
    val emb = Engine.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val n = emb.count()

    // --- plain k-means (l26): seed assignment, new path vs old shape
    val k = 4
    val cents = emb.filter($"vec_id" < k).orderBy($"vec_id").collect().toSeq
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1)) }
      .toDF("cid", "c")
    val w = Window.partitionBy($"vec_id").orderBy($"d2", $"cid")
    val oldKm = emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"cid",
        aggregate(zip_with($"v", $"c", (x, y) => (x - y) * (x - y)),
          lit(0d), (acc, e) => acc + e).as("d2"))
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
    val newKm = Llm.kmeansAssignment(spark, sfDir, 0)
      .select($"vec_id", $"cid", $"d2")
    assert(newKm.count() == n && oldKm.count() == n)
    assert(newKm.join(oldKm, Seq("vec_id", "cid", "d2")).count() == n,
      "k-means argmin diverged from the crossJoin+window assignment")

    // --- PQ (l47): per-subspace seed assignment, new CASE path vs old join
    val m = 4; val sd = 16; val kq = 16
    val subs = emb.select($"vec_id", explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"), slice($"v", s * sd + 1, sd).as("sv"))): _*)))
      .select($"vec_id", $"col.sub".as("sub"), $"col.sv".as("sv"))
    val codeTbl = subs.filter($"vec_id" < kq).orderBy($"sub", $"vec_id")
      .collect().toSeq
      .map(r => (r.getInt(1), r.getLong(0).toInt, r.getSeq[Double](2)))
      .toDF("sub", "cid", "c")
    val wq = Window.partitionBy($"vec_id", $"sub").orderBy($"d2", $"cid")
    val oldPq = subs.join(broadcast(codeTbl), Seq("sub"))
      .select($"vec_id", $"sub", $"cid",
        aggregate(zip_with($"sv", $"c", (x, y) => (x - y) * (x - y)),
          lit(0d), (acc, e) => acc + e).as("d2"))
      .withColumn("rn", row_number().over(wq)).filter($"rn" === 1).drop("rn")
    val newPq = Llm.pqAssignment(spark, sfDir, 0)
      .select($"vec_id", $"sub", $"cid", $"d2")
    assert(newPq.count() == n * m && oldPq.count() == n * m)
    assert(newPq.join(oldPq, Seq("vec_id", "sub", "cid", "d2")).count() == n * m,
      "PQ argmin diverged from the crossJoin+window assignment")
  }

  test("S22: dynamic overwrite rewrites only the restated day partitions") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val out = tempDir("s22_test")
    val base = Engine.events(spark, sfDir)
      .select($"event_id", $"value", date_format($"ts", "yyyy-MM-dd").as("day"))
    base.write.mode(SaveMode.Overwrite).partitionBy("day").parquet(out)
    def files(day: String) = new java.io.File(s"$out/day=$day").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val keptBefore = files("2024-01-15")
    val restatedBefore = files("2024-01-05")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try base.filter($"day" === "2024-01-05")
      .write.mode(SaveMode.Overwrite).partitionBy("day").parquet(out)
    finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    assert(files("2024-01-15") == keptBefore,
      "untouched partition must keep its exact files")
    assert(files("2024-01-05") != restatedBefore,
      "restated partition must be rewritten")
  }

  test("S20: compaction rewrites each day to one file and keeps every day") {
    val (frag, compact) = Sources.compactLayout(spark, sfDir)
    def filesPerDay(root: String): Map[String, Int] =
      new java.io.File(root).listFiles().filter(_.getName.startsWith("day="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
        .toMap
    val before = filesPerDay(frag)
    val after = filesPerDay(compact)
    assert(before.keySet == after.keySet, "compaction must not drop partitions")
    assert(after.values.forall(_ == 1), s"expected 1 file/day, got $after")
    assert(before.values.sum > after.values.sum,
      s"fragmented=$before compacted=$after")
  }

  test("L33: content-hash split is leakage-free and partitions the corpus") {
    import spark.implicits._
    // plant exact duplicates under fresh ids: the content hash must send
    // every copy to the SAME split, whatever its id — the leakage guarantee
    val d = Engine.documents(spark, sfDir).select($"doc_id", $"lang", $"text")
    val planted = d.unionByName(
      d.limit(20).select(($"doc_id" + 777000).as("doc_id"), $"lang", $"text"))
    val split = graft.queries.Llm.l33SplitCore(planted).cache()
    try {
      val n = planted.count()
      assert(split.count() == n, "every doc gets exactly one split row")
      val perText = split.join(planted, Seq("doc_id"))
        .groupBy($"text").agg(countDistinct($"split").as("n_splits"))
        .filter($"n_splits" > 1).count()
      assert(perText == 0, "identical text must never straddle splits")
      val sizes = split.groupBy($"split").count().as[(String, Long)].collect().toMap
      assert(sizes.keySet == Set("train", "val", "test"), s"got $sizes")
      assert(sizes("train") > sizes("val") && sizes("train") > sizes("test"),
        s"90/5/5 buckets must make train the largest: $sizes")
    } finally split.unpersist()
  }

  test("L35: fluent text outscores its scrambled-token counterpart") {
    import spark.implicits._
    // corpus: many copies of a fluent phrase (so its bigrams are common)
    // plus one doc made of the SAME tokens in scrambled order — the bigram
    // LM must rank the fluent doc strictly higher
    val fluent = "the quick brown fox jumps over the lazy dog"
    val scrambled = "dog the over quick lazy fox the brown jumps"
    val docs = ((1L to 20L).map(i => (i, fluent)) :+ (99L, scrambled))
      .toDF("doc_id", "text")
    val scores = graft.queries.Llm.l35ScoreCore(docs)
      .as[(Long, Long)].collect().toMap
    assert(scores.keySet.size == 21, "every doc with >=2 tokens is scored")
    assert(scores(1L) > scores(99L),
      s"fluent=${scores(1L)} must beat scrambled=${scores(99L)}")
    assert(scores.values.forall(s => s > 0L && s <= 1000000L),
      "MLE x 1e6 scores live in (0, 1e6]")
  }

  test("L39: spans are maximal islands and every planted orig/copy pair surfaces") {
    import spark.implicits._
    val spans = Llm.l39SpanDedup(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    assert(spans.nonEmpty, "planted duplicated spans must be found")
    // a span of consecutive duplicated 8-gram positions [start, max] covers
    // tokens [start, max+7]: n_grams == span_end - 7 - span_start + 1
    spans.foreach { case (id, s, e, n) =>
      assert(n == e - 6 - s, s"doc $id span [$s,$e] not a contiguous island ($n grams)")
    }
    // each doc that has its perturbed copy in the candidate set (both ids
    // ≡ 0 mod 4) shares its almost-whole text with the copy → both sides
    // must report at least one span
    val ids = spans.map(_._1).toSet
    val docIds = Engine.documents(spark, sfDir)
      .select($"doc_id").as[Long].collect().filter(_ % 4 == 0)
    docIds.foreach { d =>
      assert(ids.contains(d), s"original doc $d has no span")
      assert(ids.contains(d + 1000000L), s"perturbed copy of $d has no span")
    }
  }

  test("L40: shuffle-shard is a deterministic permutation with dense shard positions") {
    import spark.implicits._
    def run() = Llm.l40ShuffleShard(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSet
    val rows = run()
    val n = Engine.documents(spark, sfDir).count()
    assert(rows.size == n, "every doc lands in exactly one shard slot")
    assert(rows.map(_._2).forall(s => s >= 0 && s < 8))
    // positions within each shard are dense 1..|shard| (a true permutation)
    rows.groupBy(_._2).foreach { case (s, g) =>
      assert(g.map(_._3) == (1L to g.size).toSet, s"shard $s positions not dense")
    }
    assert(run() == rows, "same seed => byte-identical shuffle")
  }

  test("L41: BPE core reproduces hand-computed merges; corpus weights never increase") {
    import spark.implicits._
    // corpus: "aaab" x2, "ab" x5.
    // round 1 pairs: (a,a)=4, (a,b)=7          -> merge (a,b), w=7
    // round 2 over {a|a|ab x2, ab x5}: (a,a)=2, (a,ab)=2 -> tie, (a,a) wins
    // round 3 over {aa|ab x2}: (aa,ab)=2       -> merge, w=2
    val wf = Seq(("aaab", 2L), ("ab", 5L)).toDF("word", "cnt")
    val got = graft.queries.Llm.bpeCore(wf, 3)
      .as[(Long, String, String, String, Long)].collect().toList
    assert(got == List(
      (1L, "a", "b", "ab", 7L),
      (2L, "a", "a", "aa", 2L),
      (3L, "aa", "ab", "aaab", 2L)))
    // on the real corpus: merging the max pair can only shrink pair counts,
    // so the learned weights must be non-increasing round over round
    val ws = graft.queries.Llm.l41BpeMerges(spark, sfDir)
      .orderBy("round").select("weight").as[Long].collect()
    assert(ws.length == 4 && ws.sliding(2).forall(p => p(0) >= p(1)),
      s"weights must not increase: ${ws.mkString(",")}")
  }

  test("L41: a merge never fires across symbol boundaries (th|e stays split)") {
    import spark.implicits._
    // round 1 learns (t,h)->th (w30); round 2 learns (h,e) (w12, tie vs
    // (s,h) broken by lhs) — at that point "the" is [th, e], and a naive
    // substring replace of 'h|e' would match the tail of 'th', gluing
    // [th,e] into [the] although (th,e) was never the learned pair
    val wf = Seq(("th", 20L), ("the", 10L), ("she", 12L)).toDF("word", "cnt")
    val merges = graft.queries.Llm.bpeCore(wf, 3)
      .as[(Long, String, String, String, Long)].collect().toList
    assert(merges == List(
      (1L, "t", "h", "th", 30L),
      (2L, "h", "e", "he", 12L),
      (3L, "s", "he", "she", 12L)))
    val syms = graft.queries.Llm.bpeEncoded(wf, 3)
      .select($"word", $"sym").as[(String, String)].collect().toMap
    assert(syms == Map("th" -> "th", "the" -> "th|e", "she" -> "she"))
  }

  test("L47: PQ codes are deterministic, total, and beat the mean quantizer") {
    import spark.implicits._
    val n = Engine.embeddings(spark, sfDir).count()
    val a = Llm.l47PqQuantize(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val b = Llm.l47PqQuantize(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(a.sameElements(b), "PQ must be run-to-run deterministic")
    assert(a.length == n, "every vector must receive codes")
    assert(a.forall(_._2.split(",").length == 4), "m = 4 codes per vector")
    // Lloyd's invariant per subspace: 2 trained rounds never exceed the
    // raw seed assignment's inertia
    val e0 = Llm.pqAssignment(spark, sfDir, 0).agg(sum($"d2")).head.getDouble(0)
    val e2 = Llm.pqAssignment(spark, sfDir, 2).agg(sum($"d2")).head.getDouble(0)
    assert(e2 <= e0 + 1e-9, s"inertia rose: $e0 -> $e2")
    // information check: PQ must beat collapsing each subspace to its
    // mean (the k=1 quantizer), i.e. capture structure beyond variance
    val meanErr = Engine.embeddings(spark, sfDir)
      .select(explode(expr(
        "transform(embedding, x -> cast(x as double))")).as("x"))
      .agg(sum($"x" * $"x") - sum($"x") * sum($"x") / count(lit(1))).head.getDouble(0)
    assert(e2 < meanErr, s"PQ $e2 not below mean-quantizer $meanErr")
  }

  test("L53: a planted shift is flagged; identical snapshots report zero drift") {
    import spark.implicits._
    // identical snapshots => drift_ppm = 0 in every bucket
    val same = (1L to 100L).map(_ * 19 % 2000).toDF("v")
    val zero = Llm.l53DriftCore(same, same)
    assert(zero.count() > 1, "multiple buckets must be populated")
    assert(zero.filter($"drift_ppm" =!= 0L).count() == 0,
      "identical snapshots must report zero drift")
    // planted shift: ref entirely in bucket 0 (v < 200), cand in bucket 9
    val ref = Seq.fill(50)(10L).toDF("v")
    val cand = Seq.fill(50)(5000L).toDF("v")
    val drift = Llm.l53DriftCore(ref, cand).collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(drift == Map(0L -> 1000000L, 9L -> 1000000L),
      s"total shift must report 1e6 ppm drift in both buckets: $drift")
  }

  test("L54: semdedup keeps one representative per planted duplicate direction, split by cluster") {
    import spark.implicits._
    // two orthogonal centroid directions; ids 10/11 are same-direction
    // copies (cosine 1) in cluster 0, id 12 is alone in cluster 1, and
    // id 13 is a NEAR-copy of 10 (cosine > 0.99) — also dominated
    val cents = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f))).toDF("cent_id", "cent_emb")
    val cands = Seq(
      (10L, Array(1f, 0f, 0.01f, 0f)),
      (11L, Array(2f, 0f, 0.02f, 0f)),      // scaled copy of 10
      (12L, Array(0f, 1f, 0f, 0.01f)),
      (13L, Array(1f, 0.05f, 0.01f, 0f))).toDF("vec_id", "embedding")
    val kept = Llm.l54SemdedupCore(spark, cands, cents).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept == Map(10L -> 0L, 12L -> 1L),
      s"expected only the lowest-id representative per direction: $kept")
    // and on the fixture: every planted scaled copy (vec_id >= 1000000)
    // is dominated by its original, so none survives
    val fixtureKept = Llm.l54Semdedup(spark, sfDir)
    assert(fixtureKept.filter($"vec_id" >= 1000000L).count() == 0,
      "planted same-direction copies must all be deduped away")
    assert(fixtureKept.count() > 0)
  }

  test("L55: rejection resample is deterministic and rebalances the skewed lang") {
    import spark.implicits._
    val a = Llm.l55RejectionResample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val b = Llm.l55RejectionResample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b, "hash-based acceptance must be reproducible")
    val counts = Engine.documents(spark, sfDir)
      .groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val target = counts.values.sum / counts.size
    val keptPerLang = a.groupBy(_._2).view.mapValues(_.size).toMap
    val maxLang = counts.maxBy(_._2)._1
    // the over-represented lang is downsampled toward the uniform share:
    // the multiplicative-hash residues are equidistributed over any
    // consecutive id range, so the kept count lands within ±10% + slack
    assert(keptPerLang(maxLang) < counts(maxLang),
      s"skewed lang must lose rows: $keptPerLang vs $counts")
    keptPerLang.foreach { case (lang, kept) =>
      val want = math.min(counts(lang), target)
      assert(math.abs(kept - want) <= want / 10 + 5,
        s"$lang kept $kept, want ~$want (counts=$counts)")
    }
  }

  test("L56: all-seen candidates score zero novelty, all-new score 1e6 ppm") {
    import spark.implicits._
    val ref = Seq((0L, "a b c d e f g h")).toDF("doc_id", "text")
    val cand = Seq(
      (1L, "a b c d e f g h"),       // every 5-gram seen in ref
      (3L, "p q r s t u v w")        // no 5-gram seen
    ).toDF("doc_id", "text")
    val out = Llm.l56NoveltyCore(ref, cand).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((4L, 0L, 0L)), s"seen doc: ${out(1L)}")
    assert(out(3L) == ((4L, 4L, 1000000L)), s"novel doc: ${out(3L)}")
  }

  test("L57: shared lines survive only in their first document; full copies vanish") {
    import spark.implicits._
    // texts are pre-sentenced (already contain '. ') so the planted case
    // controls line boundaries exactly
    val cand = Seq(
      (1L, "alpha one. beta two."),
      (2L, "beta two. gamma three."),   // loses "beta two." to doc 1
      (3L, "alpha one. beta two.")      // full copy of doc 1: vanishes
    ).toDF("doc_id", "text")
    val out = Llm.l57LineDedupCore(cand).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L, 2L), s"doc 3 must vanish: $out")
    assert(out(1L) == (("alpha one. beta two.", 2L)), out(1L))
    assert(out(2L) == (("gamma three.", 1L)), out(2L))
    // fixture: every planted full-text copy (doc_id >= 1e6) vanishes, and
    // kept line total equals the corpus's distinct line count
    val fixture = Llm.l57LineDedup(spark, sfDir)
    assert(fixture.filter($"doc_id" >= 1000000L).count() == 0,
      "full-text copies must lose every line")
  }

  test("L58: each source keeps exactly its better half, boundary ordered by score") {
    import spark.implicits._
    val kept = Llm.l58QualityEnsemble(spark, sfDir)
    val keptPerSource = kept.groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perSource = Engine.documents(spark, sfDir)
      .groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perSource.foreach { case (src, n) =>
      assert(keptPerSource.getOrElse(src, 0L) == n / 2,
        s"$src: kept ${keptPerSource.get(src)} of $n")
    }
    // deterministic: the integer-rank fusion has no RNG or float path, so
    // a re-run returns the identical keep set
    val once = kept.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val again = Llm.l58QualityEnsemble(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(once == again, "deterministic re-run")
  }

  test("L59: importance scoring is total, deterministic, and separates the target domain") {
    import spark.implicits._
    val out = Llm.l59ImportanceScoring(spark, sfDir)
    val docs = Engine.documents(spark, sfDir).select($"doc_id", $"lang")
    assert(out.count() == docs.count(), "every document must be scored")
    // the signal check: the target domain's own documents must score
    // higher on average than the rest — per-token importance, so doc
    // length doesn't confound the comparison
    val byLang = out.join(docs, Seq("doc_id"))
      .withColumn("per_tok", $"importance".cast("double") / $"n_tokens")
      .groupBy($"lang" === "en")
      .agg(avg($"per_tok").as("m")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byLang(true) > byLang(false),
      s"en mean ${byLang(true)} must exceed non-en mean ${byLang(false)}")
    val a = out.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val b = Llm.l59ImportanceScoring(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(a == b, "integer scoring must be reproducible")
  }

  test("S33: mergeSchema unifies generations; old files default, new files don't") {
    import spark.implicits._
    val out = Sources.s33SchemaEvolution(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.nonEmpty)
    out.foreach { case ((gen, lang), (nDocs, nDefaulted, nSources)) =>
      if (gen == "v1") {
        assert(nDefaulted == nDocs, s"v1/$lang: every old-generation row lacks source")
        assert(nSources == 1L, s"v1/$lang: all defaulted to 'unknown'")
      } else {
        assert(nDefaulted == 0L, s"v2/$lang: widened rows carry source")
        assert(nSources > 1L, s"v2/$lang: real source values survive the merge")
      }
    }
    // the merged scan must surface the v2-only column at planning time
    val plan = Sources.s33SchemaEvolution(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("source"), plan.take(2000))
  }

  test("L26/L47: invariants hold at 10x scale (same seeds, inertia descends, codes total)") {
    import spark.implicits._
    // 10x the fixture embeddings via ScaleUp's scheme: disjoint vec_id
    // namespaces + deterministic per-copy jitter (copy 0 verbatim), so the
    // deterministic seeds (the k lowest vec_ids) are IDENTICAL to the
    // fixture-scale run while the corpus is 10x — the cross-scale
    // assertion the fixture-scale bounds above can't make.
    val dir = tempDir("sf10x_emb")
    val raw = Engine.embeddings(spark, sfDir)
    (0 until 10).map { i =>
      val emb = if (i == 0) $"embedding"
        else transform($"embedding",
          (v, j) => (v + (pmod(lit(i) * 31 + j, lit(7)) - lit(3)) * lit(0.001f))
            .cast("float"))
      raw.withColumn("vec_id", $"vec_id" + lit(i * 10000L))
        .withColumn("embedding", emb)
    }.reduce(_ unionByName _)
      .write.parquet(s"$dir/embeddings.parquet")
    val n = 10L * raw.count()

    // L26 at 10x: total assignment, k clusters, inertia strictly descends,
    // and the clustering is run-to-run deterministic
    val fitted = Llm.kmeansAssignment(spark, dir, 3)
    assert(fitted.count() == n, "assignment must be total at 10x")
    assert(fitted.select($"cid").distinct().count() == 4)
    val i0 = Llm.kmeansAssignment(spark, dir, 0).agg(sum($"d2")).head.getDouble(0)
    val i3 = fitted.agg(sum($"d2")).head.getDouble(0)
    assert(i3 < i0 * 0.95, s"3 rounds should tighten clusters at 10x: $i0 -> $i3")
    def sizes() = Llm.l26KmeansClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sizes() == sizes(), "10x clustering must be deterministic")

    // L47 at 10x: codes deterministic, total, inertia descends
    def codes() = Llm.l47PqQuantize(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val a = codes()
    assert(a.length == n, "every vector must receive codes at 10x")
    assert(a.forall(_._2.split(",").length == 4), "m = 4 codes per vector")
    assert(a.sameElements(codes()), "PQ must stay deterministic at 10x")
    val e0 = Llm.pqAssignment(spark, dir, 0).agg(sum($"d2")).head.getDouble(0)
    val e2 = Llm.pqAssignment(spark, dir, 2).agg(sum($"d2")).head.getDouble(0)
    assert(e2 <= e0 + 1e-9, s"PQ inertia rose at 10x: $e0 -> $e2")

    // L54 at 10x: the planted-copy guarantee is scale-invariant — every
    // same-direction copy is still dominated by its original inside its
    // cluster, the kept set stays deterministic, and output is one row
    // per surviving candidate
    val kept = Llm.l54Semdedup(spark, dir)
    assert(kept.filter($"vec_id" >= 1000000L).count() == 0,
      "planted scaled copies must all be deduped away at 10x")
    assert(kept.count() > 0 && kept.count() <= n)
    def keptSet() = Llm.l54Semdedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keptSet() == keptSet(), "10x semdedup must be deterministic")
  }

  test("S28: range layout yields disjoint per-file key ranges, sorted in-file") {
    import spark.implicits._
    val out = Sources.rangeLayoutWrite(spark, sfDir)
    val files = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length > 1, "need multiple files to demonstrate a layout")
    // per-file (min, max) user_id ranges must be pairwise disjoint — the
    // property parquet min/max skipping needs to prune key predicates
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min($"user_id"), max($"user_id")).head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"overlapping file ranges: hi=$hi lo2=$lo2")
      case _ =>
    }
    // in-file sortedness: the physical row order equals the sorted order
    files.foreach { f =>
      val ids = spark.read.parquet(f)
        .select($"user_id", $"event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(ids.sameElements(ids.sorted), s"file $f is not sorted")
    }
    // nothing lost, nothing invented
    val total = files.map(f => spark.read.parquet(f).count()).sum
    assert(total == Engine.events(spark, sfDir).count())
  }

  test("L46: prefix filter equals the direct join and strictly prunes candidates") {
    import spark.implicits._
    // same corpus slice both queries use
    val sh = Engine.documents(spark, sfDir)
      .select($"doc_id".as("id"), $"text")
      .unionByName(Engine.documents(spark, sfDir)
        .select(($"doc_id" + 1000000).as("id"),
          expr("substring(text, instr(text, ' ') + 1)").as("text")))
      .filter($"id" % 10 === 0)
      .select($"id", explode(graft.functions.Text.shingles($"text", 3)).as("shingle"))
      .distinct()
    // soundness + exactness: identical result sets. ngramJaccardDirect is
    // the naive every-shared-shingle SPEC (test-only — the registered l8
    // executes via the prefix-filtered plan, same as l46)
    val direct = Llm.ngramJaccardDirect(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val filtered = Llm.l46PrefixFilterJoin(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(filtered == direct,
      s"prefix filter changed the result: ${filtered.size} vs ${direct.size} pairs")
    assert(direct.nonEmpty, "fixture must produce at least one near-dup pair")
    // the point of the exercise: the candidate set actually shrinks vs
    // pairing on EVERY shared shingle
    val allPairs = sh.join(sh.select($"id".as("b_id"), $"shingle"), Seq("shingle"))
      .filter($"id" < $"b_id")
      .select($"id", $"b_id").distinct().count()
    val prefixPairs = Llm.prefixCandidates(sh, 0.5).count()
    assert(prefixPairs < allPairs,
      s"prefix candidates $prefixPairs not below naive $allPairs")
    assert(prefixPairs >= direct.size.toLong, "candidates must cover all true pairs")
  }

  test("L50: temperature weights flatten the language distribution monotonically") {
    import spark.implicits._
    val rows = Llm.l50TemperatureMixture(spark, sfDir)
      .select($"lang", $"p", $"w_temp", $"upsample_factor")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length > 1, "need several languages to rebalance")
    rows.foreach { case (lang, p, w, f) =>
      assert(math.abs(w * w - p) < 1e-12, s"$lang: w_temp must be sqrt(p)")
      assert(f >= 1.0, s"$lang: sqrt-temperature never DOWN-samples (p <= 1)")
    }
    // α < 1 flattens: the rarer the language, the LARGER its boost —
    // strictly monotone because factor = p^(α-1) is strictly decreasing
    val byShare = rows.sortBy(_._2)
    byShare.sliding(2).foreach { case Array((la, pa, _, fa), (lb, pb, _, fb)) =>
      if (pa < pb) assert(fa > fb,
        s"$la (p=$pa) must be boosted more than $lb (p=$pb): $fa !> $fb")
    }
  }

  test("L51: boilerplate counts are bounded and match an independent DF computation") {
    import spark.implicits._
    val out = Llm.l51StopgramBoilerplate(spark, sfDir)
      .select($"doc_id", $"n_grams", $"n_boiler", $"boiler_ratio")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.forall { case (_, g, b, r) =>
      b >= 0 && b <= g && math.abs(r - b.toDouble / g) == 0.0 })
    assert(out.exists(_._3 > 0), "no boilerplate flagged — threshold never fired")
    assert(out.exists { case (_, g, b, _) => b < g },
      "every gram flagged — threshold is degenerate")
    // independent cross-check of the total: count gram INSTANCES whose
    // gram occurs in >= 8% of docs, via a window formulation the query
    // itself does not use
    val n = Engine.documents(spark, sfDir).count()
    val grams = Engine.documents(spark, sfDir)
      .select($"doc_id", explode(graft.functions.Text.shingles($"text", 2)).as("gram"))
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy($"gram")
    val expected = grams
      .withColumn("df", size(collect_set($"doc_id").over(byGram)))
      .filter($"df" * 100 >= lit(n) * 8)
      .count()
    assert(out.map(_._3).sum == expected,
      s"sum(n_boiler)=${out.map(_._3).sum} != window-DF count $expected")
  }

  test("W20: MAD outlier detection is robust — a planted spike cannot move the threshold") {
    import spark.implicits._
    val base = Seq(8L, 9L, 10L, 10L, 10L, 11L, 12L, 13L)
    def run(cnts: Seq[Long]) = graft.queries.Relational.madCore(
      cnts.zipWithIndex.map { case (c, i) => ("t", i, c) }.toDF("event_type", "day", "cnt"))
      .select($"cnt", $"med2", $"mad4", $"is_outlier")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val clean = run(base)
    val spiked = run(base :+ 1000L)
    // the spike itself is flagged, nothing else is
    assert(spiked.filter(_._4).map(_._1).toSeq == Seq(1000L))
    // robustness: center and spread are UNCHANGED by the spike — the
    // property mean/stddev (w16) fundamentally lacks
    assert(clean.head._2 == spiked.head._2, "median moved")
    assert(clean.head._3 == spiked.head._3, "MAD moved")
  }

  test("L36: incremental near-dedup maps every planted batch doc to its source") {
    import spark.implicits._
    val out = graft.queries.Llm.l36IncrementalNeardup(spark, sfDir)
      .as[(Long, Long)].collect()
    assert(out.nonEmpty, "planted near-dups must surface")
    // every reported match points at a real corpus doc, and the planted
    // perturbation (first token dropped) lands on its own source doc for
    // the overwhelming majority of the batch
    assert(out.forall { case (b, c) => b >= 1000000L && c < 1000000L })
    val exact = out.count { case (b, c) => c == b - 1000000L }
    assert(exact.toDouble / out.length >= 0.9,
      s"only $exact/${out.length} batch docs matched their source")
  }

  test("W21: weekend troughs don't flag against their own weekday baseline; a weekday crash does") {
    import spark.implicits._
    import java.sql.Date
    // 4 weeks of a weekly-periodic series: weekdays ~100, weekends ~40,
    // plus ONE planted weekday crash to 40 (2024-01-01 is a Monday)
    val rows = (0 until 28).map { i =>
      val d = Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))
      val weekend = i % 7 >= 5
      val cnt = if (i == 15) 40L else if (weekend) 40L else 100L
      ("t", d, cnt)
    }
    val out = graft.queries.Relational.seasonalCore(
      rows.toDF("event_type", "day", "cnt")).collect()
      .map(r => r.getDate(1).toString -> (r.getLong(2), r.getBoolean(6))).toMap
    val flagged = out.filter(_._2._2).keySet
    // the crash day (2024-01-16, a Tuesday at weekend levels) is the ONLY
    // anomaly: every true weekend sits exactly on its own dow baseline
    assert(flagged == Set("2024-01-16"), s"flagged: $flagged")
    // and a FLAT median over the same series would have flagged all 8
    // weekend days — the property that motivates the seasonal split
    val flat = graft.queries.Relational.madCore(
      rows.toDF("event_type", "day", "cnt")).collect()
      .count(_.getBoolean(5))
    assert(flat >= 8, s"flat threshold must trip on weekends (got $flat)")
  }

  test("S34: every codec roundtrips identical rows; compressed variants shrink and differ") {
    import spark.implicits._
    val root = Sources.codecLayout(spark, sfDir, Seq("zstd", "snappy", "none"))
    def bytes(codec: String): Long =
      new java.io.File(s"$root/$codec").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    // order by ALL projected columns: (l_orderkey, l_partkey) alone is not
    // a total order (the fixture has tied pairs with differing rows) and a
    // partial sort would make the cross-codec compare order-unstable
    def digest(codec: String): Array[org.apache.spark.sql.Row] =
      spark.read.parquet(s"$root/$codec")
        .orderBy($"l_orderkey", $"l_partkey", $"l_quantity", $"l_shipdate")
        .collect()
    assert(digest("zstd").sameElements(digest("snappy")), "value roundtrip")
    assert(digest("zstd").sameElements(digest("none")), "vs uncompressed")
    val (z, s, n) = (bytes("zstd"), bytes("snappy"), bytes("none"))
    assert(z < n && s < n, s"compression must shrink: zstd=$z snappy=$s none=$n")
    assert(z != s, "codecs must actually differ on disk")
  }

  test("J15: a fact sees the latest update at or before its instant, never a later one") {
    import spark.implicits._
    // (user, type, us, event_id, value): updates at t=10 (v=1.0), t=30
    // (v=2.0); facts at t=5 (before any update: dropped), t=10 (same
    // instant: sees 1.0), t=20 (sees 1.0, NOT the later 2.0), t=40 (2.0);
    // same-instant double update at t=50 (v=3.0 id=7, v=4.0 id=8) then a
    // fact at t=50 must see the higher-event_id update (4.0)
    val ev = Seq(
      (1L, "purchase", 10L, 1L, 1.0), (1L, "purchase", 30L, 2L, 2.0),
      (1L, "view", 5L, 3L, 0.0), (1L, "view", 10L, 4L, 0.0),
      (1L, "view", 20L, 5L, 0.0), (1L, "view", 40L, 6L, 0.0),
      (1L, "purchase", 50L, 7L, 3.0), (1L, "purchase", 50L, 8L, 4.0),
      (1L, "view", 50L, 9L, 0.0)
    ).toDF("user_id", "event_type", "us", "event_id", "value")
    val out = graft.queries.Relational.pitCore(ev).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out == Map(4L -> 1.0, 5L -> 1.0, 6L -> 2.0, 9L -> 4.0), out.toString)
    // a NULL-valued update is still an update: the fact in its interval
    // reads NULL (like the oracle's interval join), it does NOT leak the
    // previous value forward
    val withNull = Seq(
      (2L, "purchase", 10L, 1L, Some(1.0)), (2L, "purchase", 30L, 2L, None),
      (2L, "view", 40L, 3L, Some(0.0))
    ).toDF("user_id", "event_type", "us", "event_id", "value")
    val nul = graft.queries.Relational.pitCore(withNull).collect()
    assert(nul.length == 1 && nul.head.getLong(0) == 3L && nul.head.isNullAt(3),
      nul.mkString(","))
  }

  test("L64/O17: survivorship halves planted copies; partition stats reconcile with the source") {
    import spark.implicits._
    // every candidate doc has exactly one planted full copy and the corpus
    // has no natural exact duplicates, so exact survivors = half the volume
    val surv = Llm.l64DedupSurvivorship(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(surv.nonEmpty)
    surv.foreach { case (src, (nDocs, nUnique, nearPairs)) =>
      assert(nDocs == 2 * nUnique, s"$src: $nDocs docs vs $nUnique unique")
      assert(nearPairs >= 0L)
    }
    val stats = Sources.o17PartitionStats(spark, sfDir).collect()
    val total = Engine.events(spark, sfDir).count()
    assert(stats.map(_.getLong(1)).sum == total, "per-day counts must total the table")
    stats.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "distinct users <= rows")
      assert(r.getDouble(3) <= r.getDouble(4), "min <= max")
    }
  }

  test("L66: BM25 saturates term frequency and ranks deterministically") {
    import spark.implicits._
    val out = Llm.l66Bm25Retrieval(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // top-5 per query, scores non-increasing, doc_id ascending on ties —
    // the TopKPerKey determinism contract
    val byQ = out.groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rows) =>
      assert(rows.length <= 5, s"query $q returned ${rows.length} rows")
      val sorted = rows.sortBy { case (_, d, s) => (-s, d) }
      assert(rows.sortBy(_._2).map(_._3).toSeq.sorted.reverse ==
        sorted.map(_._3).toSeq, s"query $q scores not consistent")
      assert(rows.map(_._3).forall(_ > 0L), s"query $q has non-positive score")
    }
    // the property that distinguishes BM25 from l25's linear TF-IDF:
    // the tf factor SATURATES at (k1+1) = 2.2, i.e. 2_200_000 in the ppm
    // scaling — no term contribution can exceed idf_k * 2_200_000 no
    // matter how often the term repeats. Recompute the tf part on the
    // real corpus and pin the cap.
    val postings = Engine.documents(spark, sfDir)
      .select($"doc_id", explode(graft.functions.Text.tokens($"text")).as("token"))
    val tfc = postings.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    val dl = postings.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("total_len"))
    val tfPartExpr =
      """22 * least(tf, 400000) * 1000000000000 div
        (10 * least(tf, 400000) * 1000000 + 3000000 +
         9 * (dl * 1000000 div greatest(total_len div n_docs, 1)))"""
    val tfPart = tfc.join(dl, Seq("doc_id")).crossJoin(broadcast(totals))
      .select(expr(tfPartExpr).as("p"))
    val (pMin, pMax) = tfPart.agg(min($"p"), max($"p")).as[(Long, Long)].head()
    assert(pMax <= 2200000L, s"tf part exceeded the (k1+1) asymptote: $pMax")
    assert(pMin > 0L, "tf part must stay positive")
    // and saturation is monotone: a doc repeating a term more (same doc
    // length class) never scores LESS for that term
    val mono = tfc.join(dl, Seq("doc_id")).crossJoin(broadcast(totals))
      .select($"dl", $"tf", expr(tfPartExpr).as("p"))
      .groupBy($"dl").agg(
        max(struct($"tf", $"p")).as("hi"), min(struct($"tf", $"p")).as("lo"))
      .select($"hi.p".as("pHi"), $"lo.p".as("pLo")).as[(Long, Long)].collect()
    assert(mono.forall { case (hi, lo) => hi >= lo },
      "tf part must be monotone in tf at fixed doc length")
    // int64 headroom (the r11 ADVICE item): the clamped numerator can no
    // longer wrap for ANY tf, and rel_ppm no longer carries a dl×n_docs
    // product. Drive the full term score at adversarial magnitudes —
    // tf = 10⁹ (pre-clamp it would wrap 22·tf·10¹² negative),
    // dl = 10⁹, n_docs = 4·10⁹ (pre-restructure dl·n_docs·10⁶ wraps) —
    // and pin a positive in-asymptote score.
    val extreme = spark.sql(
      s"""SELECT ${graft.queries.Llm.bm25TermScore
            .replace('\n', ' ')} AS ts
         |FROM VALUES (CAST(1000000000 AS BIGINT), CAST(2 AS BIGINT),
         |  CAST(1000000000 AS BIGINT), CAST(4000000000 AS BIGINT),
         |  CAST(800000000000000000 AS BIGINT))
         |  AS t(tf, df, dl, n_docs, total_len)""".stripMargin)
      .as[Long].head()
    val idfK = (4000000000L - 2L + 1L) * 1000L / 3L
    assert(extreme > 0L && extreme <= idfK * 2200000L,
      s"extreme-magnitude term score out of range: $extreme")
  }

  test("L67: RRF fusion equals the leg-rank recomputation and respects its bounds") {
    import org.apache.spark.sql.expressions.{Window => W}
    import spark.implicits._
    val out = Llm.l67HybridRrf(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out.nonEmpty)
    // bound: two legs, best rank 1 each -> ppm sum caps at 2 * (1e6 div 61)
    assert(out.values.forall(s => s > 0L && s <= 2 * (1000000L / 61)),
      s"rrf out of bounds: ${out.values.max}")
    // independent recomputation: leg ranks via plain window rank over the
    // FULL per-leg frames (not TopKPerKey) — pins the native operator's
    // selection to window semantics on real data, end to end through the
    // fusion arithmetic
    val wl = W.partitionBy($"query_id").orderBy($"score".desc, $"doc_id".asc)
    val lex = Llm.bm25PerDoc(spark, sfDir)
      .withColumn("r", row_number().over(wl)).filter($"r" <= 20)
      .select($"query_id", $"doc_id", $"r").as[(Long, Long, Int)].collect()
      .map { case (q, d, r) => (q, d) -> r }.toMap
    val emb = Engine.embeddings(spark, sfDir)
    val probes = emb.filter($"vec_id".isin(1L, 2L, 3L))
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val ws = W.partitionBy($"query_id").orderBy($"cos".desc, $"doc_id".asc)
    val sem = emb.join(broadcast(probes), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("doc_id"),
        graft.functions.Text.cosine($"q_emb", $"embedding").as("cos"))
      .withColumn("r", row_number().over(ws)).filter($"r" <= 20)
      .select($"query_id", $"doc_id", $"r").as[(Long, Long, Int)].collect()
      .map { case (q, d, r) => (q, d) -> r }.toMap
    val expected = (lex.keySet ++ sem.keySet).map { k =>
      k -> (lex.get(k).map(r => 1000000L / (60 + r)).getOrElse(0L) +
        sem.get(k).map(r => 1000000L / (60 + r)).getOrElse(0L))
    }.toMap
    out.foreach { case (k, s) =>
      assert(expected.get(k).contains(s),
        s"fused score mismatch at $k: got $s, expected ${expected.get(k)}")
    }
    // and the kept 10 per query are the TOP 10 of the recomputed fusion
    expected.groupBy(_._1._1).foreach { case (q, m) =>
      val top = m.toSeq.sortBy { case ((_, d), s) => (-s, d) }.take(10)
        .map { case ((_, d), s) => (d, s) }
      val got = out.collect { case ((`q`, d), s) => (d, s) }.toSeq
        .sortBy { case (d, s) => (-s, d) }
      assert(got == top, s"query $q fused top-10 diverges")
    }
  }

  test("L68: MMR selection equals a driver-side greedy recomputation and diversifies") {
    import spark.implicits._
    val out = Llm.l68MmrRerank(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byQ = out.groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L),
        "each query must carry exactly ranks 1..5")
    }
    // independent recomputation: pull the bounded candidate lists and
    // quantized vectors to the driver (≤ 10 rows + 1 vec per candidate per
    // query) and replay the greedy loop in plain Scala
    val cand = Llm.l67HybridRrf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val qv = Engine.embeddings(spark, sfDir)
      .select($"vec_id", transform($"embedding",
        v => round(v.cast("double") * 1000).cast("long")).as("qv"))
      .as[(Long, Seq[Long])].collect().toMap
    def sim(a: Long, b: Long): Long = (qv.get(a), qv.get(b)) match {
      case (Some(x), Some(y)) => x.zip(y).map { case (u, v) => u * v }.sum
      case _ => 0L
    }
    cand.groupBy(_._1).foreach { case (q, cs) =>
      val rel = cs.map(c => c._2 -> c._3).toMap
      var selected = Vector.empty[Long]
      (1 to 5).foreach { _ =>
        val remaining = rel.keySet -- selected
        val pick = remaining.toSeq.map { d =>
          val pen = if (selected.isEmpty) 0L
            else selected.map(s => sim(d, s)).max
          (d, rel(d) * 700 - pen * 3)
        }.minBy { case (d, s) => (-s, d) }._1
        selected :+= pick
      }
      val got = out.filter(_._1 == q).sortBy(_._3).map(_._2).toVector
      assert(got == selected, s"query $q: got $got, greedy says $selected")
    }
    // diversification: the MMR pick's worst-case redundancy never exceeds
    // the pure-relevance top-5's (greedy penalizes what relevance ignores)
    cand.groupBy(_._1).foreach { case (q, cs) =>
      val top5 = cs.sortBy { case (_, d, s) => (-s, d) }.take(5).map(_._2)
      val mmr5 = out.filter(_._1 == q).map(_._2)
      def worst(ds: Seq[Long]): Long =
        (for (a <- ds; b <- ds if a < b) yield sim(a, b)).foldLeft(0L)(math.max)
      assert(worst(mmr5) <= worst(top5.toSeq),
        s"query $q: MMR increased worst-case redundancy")
    }
  }

  test("L65: content-defined chunks survive a shift that destroys fixed-size windows") {
    import spark.implicits._
    val out = Llm.l65CdcChunking(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    val (chunks, shared) = (out.map(_._1).sum, out.map(_._2).sum)
    assert(out.forall { case (n, s) => s <= n }, "shared cannot exceed total")
    // the CDC property: most chunk hashes survive the first-token drop
    assert(shared.toDouble / chunks >= 0.6,
      s"CDC share too low: $shared/$chunks")
    // the counterfactual: FIXED 8-token windows on the same pairs lose
    // alignment after the shift and share (almost) nothing
    val toks = Engine.documents(spark, sfDir)
      .select($"doc_id".as("id"), posexplode(graft.functions.Text.tokens($"text")))
      .select($"id", $"pos", $"col".as("token"))
    // same ordered assembly as the production query — an unordered
    // collect_list would make this baseline non-deterministic and the
    // comparison vacuous
    def fixedHashes(shift: Int) = toks.filter($"pos" >= shift)
      .withColumn("chunk_id", (($"pos" - shift) / 8).cast("long"))
      .groupBy($"id", $"chunk_id")
      .agg(md5(array_join(
        transform(array_sort(collect_list(struct($"pos", $"token"))),
          x => x.getField("token")), " ").cast("binary")).as("h"))
      .select($"id", $"h").distinct()
    val orig = fixedHashes(0)
    val shifted = fixedHashes(1).withColumnRenamed("h", "h2")
    val fixedShared = orig.join(shifted,
      orig("id") === shifted("id") && $"h" === $"h2").count()
    val fixedTotal = orig.count()
    assert(fixedShared.toDouble / fixedTotal < 0.2,
      s"fixed windows unexpectedly survived the shift: $fixedShared/$fixedTotal")
    assert(shared.toDouble / chunks > 2 * (fixedShared.toDouble / fixedTotal),
      "CDC must beat fixed windows decisively on shifted content")
  }

  test("L65: chunks partition each document exactly — reassembly reproduces the text") {
    import spark.implicits._
    // recompute chunk TEXTS with the same boundary rule and verify that
    // in-order concatenation reproduces the original document — the
    // invariant that guards the running-boundary window and the ordered
    // assembly against off-by-one boundary drift
    val docs = Engine.documents(spark, sfDir).select($"doc_id", $"text").limit(50)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val rebuilt = docs
      .select($"doc_id", posexplode(graft.functions.Text.tokens($"text")))
      .select($"doc_id", ($"pos" + 1).cast("long").as("pos"), $"col".as("token"))
      .withColumn("b",
        when(graft.functions.Text.md5Bucket($"token", 8) === 0, 1L).otherwise(0L))
      .withColumn("chunk_id", sum($"b").over(w))
      .groupBy($"doc_id", $"chunk_id")
      .agg(min($"pos").as("cpos"),
        array_join(transform(array_sort(collect_list(struct($"pos", $"token"))),
          x => x.getField("token")), " ").as("chunk_text"))
      .groupBy($"doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct($"cpos", $"chunk_text"))),
        x => x.getField("chunk_text")), " ").as("rebuilt"))
    val diffs = docs.join(rebuilt, "doc_id")
      .filter($"text" =!= $"rebuilt").count()
    assert(diffs == 0, s"$diffs documents failed chunk reassembly")
  }

  test("L63: the banded scheme's calibration curve has clean tails") {
    import spark.implicits._
    val curve = Llm.l63LshCalibration(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(curve.nonEmpty)
    // low tail: pairs below 10% Jaccard must (almost) never collide into a
    // band — banding's whole point is not paying exact comparisons there
    curve.get(0L).foreach { case (n, det) =>
      assert(det <= n / 100, s"low-bin false-candidate rate too high: $det/$n")
    }
    // high tail: pairs at >=80% Jaccard must essentially all be caught —
    // each is a planted near-dup the dedup pass exists to find
    val (hiN, hiDet) = curve.filter(_._1 >= 8).values
      .foldLeft((0L, 0L)) { case ((a, b), (n, d)) => (a + n, b + d) }
    assert(hiN > 0, "fixture must produce high-similarity pairs")
    assert(hiDet >= hiN * 95 / 100, s"high-bin recall: $hiDet/$hiN")
    // detected never exceeds pair count in any bin
    curve.values.foreach { case (n, d) => assert(d <= n) }
  }

  test("L60: blocked join equals a brute-force reference under the same blocking scheme") {
    import spark.implicits._
    // classic Levenshtein DP — an independent reference implementation
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i + j)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val counts = Engine.part(spark, sfDir).groupBy($"p_name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val names = counts.keys.toSeq.sorted
    // expected = enumerate ALL dictionary pairs in plain Scala, apply the
    // same block predicate + radius. This pins the distributed pipeline
    // (agg, join, bounded levenshtein) against an independent
    // implementation; it does NOT claim blocking is lossless — standard
    // record-linkage blocking intentionally trades recall across blocks
    // (a first-token edit crosses blocks and is out of scope by design)
    val expected = (for {
      (a, i) <- names.zipWithIndex; b <- names.drop(i + 1)
      if a.split(" ")(0) == b.split(" ")(0) &&
        math.abs(a.length - b.length) <= 2 && lev(a, b) <= 4
    } yield (a, b, lev(a, b).toLong, counts(a), counts(b))).toSet
    val got = Llm.l60FuzzyBlockedJoin(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expected, s"got ${got.size} pairs, expected ${expected.size}")
    assert(got.nonEmpty, "the fixture dictionary must produce matches")
  }

  test("L61: HOF pair expansion equals the direct self-join formulation") {
    import spark.implicits._
    val grams = Engine.documents(spark, sfDir)
      .select($"source", explode(graft.functions.Text.shingles($"text", 3)).as("gram"))
      .distinct()
    // independent strategy: plain self-join on gram (what the oracle does)
    val ref = grams.as("a").join(grams.as("b"), Seq("gram"))
      .filter($"a.source" < $"b.source")
      .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val got = Llm.l61CrossSourceOverlap(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == ref, s"pair expansion diverged: ${got.size} vs ${ref.size}")
    assert(got.forall { case (a, b, n) => a < b && n > 0 })
  }

  test("L62: fertility is total over langs and reconciles with l42's corpus encode") {
    import spark.implicits._
    val out = Llm.l62TokenizerFertility(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val langs = Engine.documents(spark, sfDir).select($"lang").distinct()
      .collect().map(_.getString(0)).toSet
    assert(out.keySet == langs, s"every language scored: ${out.keySet} vs $langs")
    out.foreach { case (lang, (nWords, totalPieces, ppm)) =>
      assert(totalPieces >= nWords, s"$lang: every word is >= 1 piece")
      assert(ppm >= 1000000L, s"$lang: fertility can't be below 1.0")
      assert(ppm == totalPieces * 1000000L / nWords, s"$lang: ppm formula")
    }
    // cross-operator reconciliation: summing the per-lang encode over all
    // languages must reproduce l42's corpus-global piece count exactly —
    // both run the same 4-round BPE dictionary
    val l42 = Llm.l42BpeEncode(spark, sfDir).head()
    assert(out.values.map(_._2).sum == l42.getLong(1),
      "sum of per-lang pieces == l42 total_tokens")
    val corpusWords = Engine.documents(spark, sfDir)
      .select(explode(graft.functions.Text.tokens($"text")).as("word"))
      .filter(length($"word") >= 2).count()
    assert(out.values.map(_._1).sum == corpusWords,
      "sum of per-lang word counts == corpus token count")
  }
}
