package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature: the 6 banded-minhash values of a document in
  * ONE pass over its text, byte-for-byte equal to the composed l2 pipeline
  * (explode 3-token shingles → md5 per shingle → 6 five-hex-char slice
  * mins) and therefore checkable against the same DuckDB oracle.
  *
  * The scale win is structural, not constant-factor: the composed
  * signature phase EXPLODES one row per shingle (≈ one per token) and
  * aggregates them back with a groupBy — at 100 TB that is a corpus-sized
  * generate plus a corpus-sized shuffle just to compute per-doc state.
  * This expression keeps the whole phase map-only: signatures stream out
  * of the scan at input bandwidth, and only the (tiny) banded keys ever
  * shuffle. Codegen stays whole-stage via a static-call doGenCode (the
  * md5 work dominates; the generated code just avoids the iterator
  * boundary).
  *
  * Returns null for texts with fewer than 3 tokens — exactly the docs the
  * composed pipeline drops (no shingles → no group), so downstream
  * banding drops null signatures instead of silently hashing empties.
  */
case class MinhashSigExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_sig_native requires a string input, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "minhash_sig_native"

  override protected def nullSafeEval(input: Any): Any =
    MinhashSigExpr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = graft.functions.MinhashSigExpr.compute($a);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
}

object MinhashSigExpr {

  private val hexDigits = "0123456789abcdef".toCharArray

  /** One-pass signature; static so generated code can call it directly.
    * Semantics mirror the composed pipeline exactly: Spark's
    * `split(text, ' ')` keeps trailing empties (java split limit -1),
    * shingles are 3 consecutive tokens joined by ' ', each md5'd as UTF-8
    * bytes, and the 6 signature values are the lexicographic mins of the
    * hex digest's disjoint 5-char slices. `digest` resets the digest
    * after each shingle, so there is no separate `reset`. */
  def compute(u: UTF8String): ArrayData = {
    val toks = u.toString.split(" ", -1)
    if (toks.length < 3) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = new Array[String](6)
    var i = 0
    while (i + 2 < toks.length) {
      val shingle = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
      val dig = md.digest(shingle.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new Array[Char](32)
      var b = 0
      while (b < 16) {
        hex(b * 2) = hexDigits((dig(b) >> 4) & 0xf)
        hex(b * 2 + 1) = hexDigits(dig(b) & 0xf)
        b += 1
      }
      var j = 0
      while (j < 6) {
        val slice = new String(hex, j * 5, 5)
        if (mins(j) == null || slice.compareTo(mins(j)) < 0) mins(j) = slice
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(UTF8String.fromString(_): Any))
  }

  /** Register per session (idempotent, session-scoped) and return a
    * Column entry — same pattern as [[CharStatsExpr.charStatsNative]]. */
  def minhashSigNative(spark: SparkSession, c: Column): Column = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sig_native",
      exprs => {
        require(exprs.length == 1,
          s"minhash_sig_native expects exactly 1 argument, got ${exprs.length}")
        MinhashSigExpr(exprs.head)
      },
      "built-in")
    org.apache.spark.sql.functions.call_function("minhash_sig_native", c)
  }
}
