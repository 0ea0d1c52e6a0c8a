package graft

import graft.functions.{CharStatsExpr, CosineSimilarityExpr, MinhashSigExpr, Text, UnaccentExpr}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

/** The native codegen'd cosine must agree bit-for-bit with the
  * higher-order-function formulation (same sequential accumulation). */
class CosineExprSpec extends SparkSpec {
  import spark.implicits._

  test("kb.cosine (SQL FunctionCatalog): identity, orthogonality, null edges") {
    def one(sql: String): Option[Double] = {
      val r = spark.sql(s"SELECT $sql AS v").collect()(0)
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    val f1 = "array(cast(1.0 as float), cast(0.0 as float))"
    val f2 = "array(cast(0.0 as float), cast(2.0 as float))"
    assert(one(s"kb.cosine($f1, $f1)").contains(1.0))
    assert(one(s"kb.cosine($f1, $f2)").contains(0.0))
    // length mismatch and zero vectors yield null, not an exception
    assert(one(s"kb.cosine($f1, array(cast(1.0 as float)))").isEmpty)
    assert(one(s"kb.cosine($f1, array(cast(0.0 as float), cast(0.0 as float)))").isEmpty)
  }

  test("kb.cosine agrees bitwise with the native codegen expression") {
    CosineSimilarityExpr.cosineNative(spark, lit(null), lit(null)) // ensure registered
    val emb = Engine.embeddings(spark, sfDir).limit(100)
    emb.createOrReplaceTempView("emb_fc")
    val diff = spark.sql(
      """SELECT kb.cosine(a.embedding, b.embedding) AS fc,
        |       cosine_native(a.embedding, b.embedding) AS native
        |FROM emb_fc a JOIN emb_fc b ON a.vec_id < 5 AND b.vec_id < 50""".stripMargin)
      .filter("fc <> native OR (fc IS NULL) <> (native IS NULL)")
    assert(diff.count() == 0)
  }

  test("native expression matches the HOF cosine bitwise on fixtures") {
    val emb = Engine.embeddings(spark, sfDir).limit(200)
    val b = emb.select($"vec_id".as("b_id"), $"embedding".as("b_emb"))
    val pairs = emb.filter($"vec_id" < 10).crossJoin(broadcast(b))
    val diff = pairs.select(
        Text.cosine($"embedding", $"b_emb").as("hof"),
        CosineSimilarityExpr.cosineNative(spark, $"embedding", $"b_emb").as("native"))
      .filter($"hof" =!= $"native")
    assert(diff.isEmpty, diff.take(3).mkString(","))
  }

  test("native expression survives codegen (no interpreted fallback errors)") {
    val emb = Engine.embeddings(spark, sfDir)
    val out = emb.select(
      CosineSimilarityExpr.cosineNative(spark, $"embedding", $"embedding").as("self"))
    // every self-similarity is exactly 1.0 up to fp rounding
    assert(out.filter(abs($"self" - 1.0) > 1e-12).isEmpty)
  }

  test("sql registration: usable from spark.sql") {
    CosineSimilarityExpr.cosineNative(spark, lit(null), lit(null)) // ensure registered
    Engine.embeddings(spark, sfDir).limit(5).createOrReplaceTempView("emb_tmp")
    val r = spark.sql(
      "SELECT cosine_native(embedding, embedding) AS c FROM emb_tmp").as[Double].collect()
    assert(r.forall(c => math.abs(c - 1.0) < 1e-12))
  }

  test("registration reaches a fresh session (no JVM-global once-flag)") {
    val s2 = spark.newSession()
    import s2.implicits._
    val df = s2.createDataset(Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f))))
      .toDF("a", "b")
      .select(CosineSimilarityExpr.cosineNative(s2, col("a"), col("b")).as("c"))
    assert(math.abs(df.as[Double].head() - 1.0) < 1e-12)
  }

  test("the native functions are registered once per session, before any helper call") {
    val s2 = spark.newSession()
    assert(s2.sql("SELECT unaccent_native('é')").head().getString(0) == "e")
    val registry = s2.sessionState.functionRegistry
    def infos = Seq("unaccent_native", "minhash_sig_native", "char_stats_native",
      "cosine_native").map(n => registry.lookupFunction(FunctionIdentifier(n)).get)
    val before = infos
    val f = array(lit(1.0f), lit(0.0f))
    (1 to 2).foreach { _ =>
      s2.range(1).select(
        UnaccentExpr.unaccentNative(s2, lit("é")),
        MinhashSigExpr.minhashSigNative(s2, lit("a b c d")),
        CharStatsExpr.charStatsNative(s2, lit("ab c")),
        CosineSimilarityExpr.cosineNative(s2, f, f)).collect()
    }
    before.zip(infos).foreach { case (b, a) => assert(a eq b, a.getName) }
  }

  test("non-float-array inputs are rejected at analysis time") {
    val bad = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0))).toDF("a", "b") // array<double>
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(CosineSimilarityExpr.cosineNative(spark, $"a", $"b")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("cosine_native"), e.getMessage.take(300))
  }
}
