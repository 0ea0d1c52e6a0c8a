package graft

import graft.queries.{Extraction, Nested}
import graft.sinks.{IncrementalWriter, VerifiedWriter}
import org.apache.spark.sql.functions._

/** Golden end-to-end pipeline (SURVEY §5.2): a fixture-scale replica of the
  * reference lifecycle §3.1 — regex extraction → manifest expansion →
  * anti-join incremental sink → partitioned write → bool_and completeness —
  * asserting the reference's runtime invariants (:477, :126-129, :462-465).
  */
class GoldenPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("scrape-shaped pipeline lands complete, idempotent, partitioned output") {
    val sink = tempDir("golden")

    // 1. extraction: issues with a manifest id and a publication date
    val issues = Extraction.p1RegexFallback(spark, sfDir)
      .join(Extraction.p2DateFallback(spark, sfDir), "doc_id")
      .filter($"manifest_id".isNotNull) // P9 failure filter

    // 2. expansion: one row per page file via the manifest kernel
    val pages = issues.join(Nested.g1ManifestExplode(spark, sfDir), "doc_id")

    // 3. incremental sink keyed by (doc_id, page_file); first run loads all
    val writer = new IncrementalWriter(spark, s"$sink/files", Seq("doc_id", "page_file"))
    val n1 = writer.append(pages)
    assert(n1 == pages.count())

    // 4. re-run of the whole pipeline appends nothing (op guarantee :462-465)
    assert(writer.append(pages) == 0L)

    // 5. partitioned layout by date (title/date analog, :441-442)
    spark.read.parquet(s"$sink/files")
      .write.partitionBy("pub_date").mode("overwrite").parquet(s"$sink/bydate")
    val landed = spark.read.parquet(s"$sink/bydate")
    assert(landed.count() == n1)

    // 6. per-issue completeness: every issue has all its pages (A3, :477)
    val completeness = landed.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_pages"))
      .join(pages.groupBy($"doc_id").agg(count(lit(1)).as("n_expected")), "doc_id")
      .agg(bool_and($"n_pages" === $"n_expected").as("all_complete"))
    assert(completeness.as[Boolean].head())

    // 7. verified write: md5 parity between source and sink per asset
    //    (reference verify-after-upload :99-132, fail path :126-129)
    val assets = pages.withColumn("asset_key",
      concat_ws("/", $"doc_id", $"page_file"))
    val (nW, nOk, nBad) = VerifiedWriter.writeVerified(
      spark, assets, s"$sink/verified", "asset_key", "page_file")
    assert(nW == n1 && nOk == nW && nBad == 0L, s"verified $nOk/$nW, bad=$nBad")
  }

  /** Full-lifecycle golden output: the pipeline's final rows, rendered
    * deterministically, must match the committed golden file byte for byte.
    * Regenerate intentionally with GOLDEN_REGEN=1 after a semantic change. */
  test("pipeline output matches the committed golden file") {
    val rows = Extraction.p1RegexFallback(spark, sfDir)
      .join(Extraction.p2DateFallback(spark, sfDir), "doc_id")
      .filter($"manifest_id".isNotNull)
      .join(Nested.g1ManifestExplode(spark, sfDir), "doc_id")
      .select($"doc_id", $"manifest_id", $"pub_date", $"page_file")
      .orderBy($"doc_id", $"page_file")
      .collect()
      .map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}|${r.get(3)}")
    val rendered = rows.mkString("", "\n", "\n")
    val golden = java.nio.file.Paths.get(
      s"${sys.props("user.dir")}/src/test/resources/golden_pipeline.txt")
    if (sys.env.get("GOLDEN_REGEN").contains("1")) {
      java.nio.file.Files.createDirectories(golden.getParent)
      java.nio.file.Files.writeString(golden, rendered): Unit
    }
    assert(java.nio.file.Files.exists(golden), s"golden file missing: $golden")
    val expected = java.nio.file.Files.readString(golden)
    assert(rows.nonEmpty && rendered == expected,
      s"golden mismatch: got ${rows.length} rows; regenerate with GOLDEN_REGEN=1 if intended")
  }
}
