package graft.functions

import java.text.Normalizer
import java.util.regex.Pattern

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for accent stripping (unicode text
  * normalization, the cleanup pass every multilingual training corpus runs
  * before tokenization): NFD-decompose, drop combining marks (`\p{M}`),
  * recompose. `café` → `cafe`, `naïve` → `naive` — the same contract as
  * DuckDB/Postgres `strip_accents`/`unaccent`, which is what the oracle
  * uses (verified byte-identical on the Latin accent range).
  *
  * ASCII fast path: the overwhelming share of a web corpus is pure ASCII,
  * which NFD maps to itself — the expression scans the UTF-8 bytes first
  * and returns the INPUT UTF8String (zero-copy) when no byte ≥ 0x80, so
  * the Normalizer+regex cost is paid only by the rows that can possibly
  * change. Participates in whole-stage codegen via nullSafeCodeGen; the
  * per-row work is a static JVM call, the same rung of the preference
  * ladder as [[CharStatsExpr]] (builtin < native Expression < UDF).
  */
case class UnaccentExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"unaccent_native requires a string input, got ${child.dataType.catalogString}")

  override def dataType: DataType = StringType

  override def prettyName: String = "unaccent_native"

  override protected def nullSafeEval(input: Any): Any =
    UnaccentExpr.unaccent(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.UnaccentExpr.unaccent($a)")

  override protected def withNewChildInternal(newChild: Expression): UnaccentExpr =
    copy(child = newChild)
}

object UnaccentExpr {

  private val Marks = Pattern.compile("\\p{M}+")

  /** NFD → strip combining marks → NFC recompose. The recompose step is a
    * no-op on the Latin accent range the oracle verifies (mark-stripped
    * Latin is already composed) but matters for scripts with canonical
    * compositions — e.g. Hangul syllables decompose to Jamo under NFD and
    * must recompose or downstream byte/equality comparisons silently
    * diverge from composed-form corpora. Pure-ASCII inputs return the
    * input object unchanged (no allocation). Called from generated code. */
  def unaccent(s: UTF8String): UTF8String = {
    val nb = s.numBytes()
    var i = 0
    var ascii = true
    while (ascii && i < nb) {
      if ((s.getByte(i) & 0x80) != 0) ascii = false
      i += 1
    }
    if (ascii) s
    else UTF8String.fromString(
      Normalizer.normalize(
        Marks.matcher(Normalizer.normalize(s.toString, Normalizer.Form.NFD))
          .replaceAll(""),
        Normalizer.Form.NFC))
  }

  /** Column entry for `unaccent_native`, which [[graft.plans.GraftExtensions]]
    * registers once in every engine session. `spark` is unused; the
    * parameter stays because the benchmark's curation workload calls the
    * native helpers with it. */
  def unaccentNative(spark: SparkSession, c: Column): Column =
    org.apache.spark.sql.functions.call_function("unaccent_native", c)
}
