package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over float vectors.
  *
  * The higher-order-function formulation (zip_with + aggregate, see
  * [[Text.cosine]]) allocates an intermediate array and evaluates a lambda
  * per element; in the similarity-search hot loop (probes x candidates x
  * dims evaluations) that dominates. This expression computes dot product
  * and both norms in ONE fused pass with no allocation, and participates in
  * whole-stage codegen via doGenCode — the preferred extension point order
  * per the project charter: builtin < native Expression < UDF.
  *
  * Accumulation order matches the sequential fold of the HOF version and
  * the in-order oracle (DuckDB list_dot_product), so results are
  * bit-identical across all three.
  */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  // Typed inputs: exposed as a SQL function (`cosine_native`), so a call on
  // array<double> must fail at analysis time — ArrayData.getFloat on a
  // double-backed array would silently read wrong-width bytes.
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "cosine_native requires two array<float> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_native"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi;
         |  $na += $xi * $xi;
         |  $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityExpr =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarityExpr {

  /** Column entry for `cosine_native`, which [[graft.plans.GraftExtensions]]
    * registers once in every engine session. `spark` is unused; the
    * parameter stays because the benchmark's curation workload calls the
    * native helpers with it. */
  def cosineNative(spark: SparkSession, a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("cosine_native", a, b)
}
