package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst GENERATOR — the UDTF-shaped extension class
  * (SURVEY §2.5) built natively, beside the scalar-`Expression` rung
  * ([[VectorExpressions]]), the optimizer-rule rung and the
  * whole-operator rung ([[graft.plans.AsOfJoinExec]]).
  *
  * Emits one (pos, shingle) row per word-level n-gram of a text
  * column — the position comes free off the sweep, so positional
  * consumers (dup-span islands) need no posexplode either. The
  * composed formulation (`split` → `transform`+`sequence` →
  * `explode`) MATERIALIZES the full shingle array per document before
  * exploding: a 10 kB document at n = 5 builds a ~50 kB array object
  * in the row buffer just to tear it apart again. The generator
  * yields rows straight off one token split — no intermediate array
  * of concatenated shingles — which is exactly what the dedup
  * family's hottest path (shingling TB of text) wants from the
  * operator under `GenerateExec`.
  *
  * Tokenization matches `TextOps.tokens` (Spark `split(text, " ")`,
  * trailing empties kept) and the joined shingle matches
  * `array_to_string(w[i:i+n-1], ' ')` — certified by the DuckDB
  * oracle over the documents table. Non-codegen (CodegenFallback):
  * GenerateExec drives generators through eval; the fallback costs
  * one virtual call per DOCUMENT, not per row, and the emitted
  * iterator materializes one shingle at a time. */
case class ShingleGenerator(child: Expression, n: Int)
  extends UnaryExpression with Generator with CodegenFallback {

  require(n >= 1, "shingle width must be at least 1")

  override def elementSchema: StructType =
    StructType(
      StructField("pos", org.apache.spark.sql.types.IntegerType, nullable = false) ::
        StructField("shingle", StringType, nullable = false) :: Nil)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"shingles() requires a string column, got ${child.dataType.simpleString}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    // limit -1 keeps trailing empty tokens — Spark split() semantics,
    // so the generator agrees with every array-based shingle path
    val words = v.asInstanceOf[UTF8String].split(UTF8String.fromString(" "), -1)
    val count = words.length - n + 1
    if (count <= 0) return Iterator.empty
    val space = UTF8String.fromString(" ")
    Iterator.tabulate(count) { i =>
      val parts = new Array[UTF8String](2 * n - 1)
      var j = 0
      while (j < n) {
        parts(2 * j) = words(i + j)
        if (j < n - 1) parts(2 * j + 1) = space
        j += 1
      }
      InternalRow(i, UTF8String.concat(parts: _*))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleGenerator =
    copy(child = newChild)
}

object ShingleGenerator {
  /** Column-API entry: `select(shingles(col("text"), 5))` — the
    * analyzer's ExtractGenerators wraps it into a Generate node, same
    * as explode. */
  def shingles(text: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      ShingleGenerator(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), n))

  /** SQL surface: `SELECT shingles(text, 5) ...` plans the same
    * generator — injected by GraftExtensions like cosine_similarity.
    * The width must be a foldable integer literal (it shapes the
    * operator). */
  val shinglesFunction: (
      org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("shingles"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[ShingleGenerator].getName, "shingles"),
    {
      case Seq(text, n) if n.foldable =>
        ShingleGenerator(text,
          n.eval(null).asInstanceOf[Number].intValue())
      case other => throw new IllegalArgumentException(
        "shingles expects (text, <int literal width>), got " +
          s"${other.length} argument(s)")
    })
}
