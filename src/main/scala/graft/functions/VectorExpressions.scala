package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for vector math over `array<float>`
  * embeddings — the escalation path of SURVEY.md §2.7/§7.3: built-in
  * higher-order functions first, a codegen'd `Expression` where the hot
  * path justifies it.
  *
  * [[CosineSimilarityExpr]] generates a single fused Java loop inside
  * whole-stage codegen — one pass, three accumulators, no intermediate
  * arrays — versus the HOF formulation (`zip_with` + three `aggregate`
  * folds), which materializes a product array and walks each input
  * twice. Same accumulation order as graft.ops.Similarity.cosine
  * (index-ascending sequential adds in double), so results are
  * bit-identical and share one oracle.
  */
object VectorExpressions {

  case class CosineSimilarityExpr(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_similarity"

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(FloatType, _) => true // containsNull irrelevant: nulls read as 0f
        case _ => false
      })
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> arguments, " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
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
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val i = ctx.freshName("i")
        val xi = ctx.freshName("xi")
        val yi = ctx.freshName("yi")
        s"""
           |int $n = Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0, $na = 0.0, $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xi = (double) $a.getFloat($i);
           |  double $yi = (double) $b.getFloat($i);
           |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
           |}
           |${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Column API: fused cosine similarity of two float-vector columns. */
  def cosineNative(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimilarityExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** SQL-surface descriptor for the same expression, so `SELECT
    * cosine_similarity(a, b)` works in plain SQL text — injected at
    * session build by GraftExtensions. The builder IS the expression
    * constructor: SQL callers get the identical fused codegen. */
  val cosineFunction: (
      org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_similarity"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[CosineSimilarityExpr].getName, "cosine_similarity"),
    {
      case Seq(a, b) => CosineSimilarityExpr(a, b)
      case other => throw new IllegalArgumentException(
        s"cosine_similarity expects 2 arguments, got ${other.length}")
    })
}
