package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the char-diversity statistics: ONE pass
  * over the string's UTF-8 bytes producing (n_alpha, sum_sq) — the count of
  * alphabet chars (a-z + space) and the sum of squared per-char counts.
  *
  * The composed formulation (27 × `length(regexp_replace(...))`) scans the
  * text 27 times and runs a regex matcher per probe; this expression folds
  * all probes into a single byte loop and participates in whole-stage
  * codegen via doGenCode — the same builtin < native Expression < UDF
  * preference order as [[CosineSimilarityExpr]].
  *
  * Scanning raw UTF-8 bytes is EXACT for ASCII targets: continuation bytes
  * of multi-byte code points are always >= 0x80, so they can never be
  * miscounted as 'a'..'z' or ' ' — byte counts equal char counts for the
  * probed alphabet, matching the regex formulation and the oracle.
  */
case class CharStatsExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_stats_native requires a string input, got ${child.dataType.catalogString}")

  override def dataType: DataType = StructType(Seq(
    StructField("n_alpha", LongType, nullable = false),
    StructField("sum_sq", LongType, nullable = false)))

  override def prettyName: String = "char_stats_native"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val cnt = new Array[Long](27)
    val nb = s.numBytes()
    var i = 0
    while (i < nb) {
      val b = s.getByte(i)
      if (b >= 'a' && b <= 'z') cnt(b - 'a') += 1
      else if (b == ' ') cnt(26) += 1
      i += 1
    }
    var n = 0L
    var ss = 0L
    var j = 0
    while (j < 27) { n += cnt(j); ss += cnt(j) * cnt(j); j += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, ss))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cnt = ctx.freshName("cnt")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val n = ctx.freshName("n")
      val ss = ctx.freshName("ss")
      val j = ctx.freshName("j")
      s"""
         |long[] $cnt = new long[27];
         |int $nb = $a.numBytes();
         |for (int $i = 0; $i < $nb; $i++) {
         |  byte $b = $a.getByte($i);
         |  if ($b >= 'a' && $b <= 'z') $cnt[$b - 'a']++;
         |  else if ($b == ' ') $cnt[26]++;
         |}
         |long $n = 0L, $ss = 0L;
         |for (int $j = 0; $j < 27; $j++) { $n += $cnt[$j]; $ss += $cnt[$j] * $cnt[$j]; }
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{$n, $ss});
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CharStatsExpr =
    copy(child = newChild)
}

object CharStatsExpr {

  /** Column entry for `char_stats_native`, which [[graft.plans.GraftExtensions]]
    * registers once in every engine session. `spark` is unused; the
    * parameter stays because the benchmark's curation workload calls the
    * native helpers with it. */
  def charStatsNative(spark: SparkSession, c: Column): Column =
    org.apache.spark.sql.functions.call_function("char_stats_native", c)
}
