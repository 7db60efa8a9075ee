package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType}

/** HyperLogLog distinct-count as a NATIVE Catalyst aggregate function —
  * the §2.7 UDAF-shaped extension class built as a
  * TypedImperativeAggregate, complementing the relational register
  * frame of [[graft.ops.Hll]].
  *
  * The two formulations are BIT-IDENTICAL by construction: the same
  * md5-derived 32-bit hash (first 8 hex chars ≡ first 4 digest bytes,
  * big-endian), the same register/rho split, the same bias-corrected
  * estimate with the linear-counting branch, the same round-to-4
  * half-up. Every 2^-rho partial sum is an exact double (the
  * [[graft.ops.Hll]] determinism argument), so estimate equality
  * against the frame path — and against the DuckDB oracle that
  * replays the frame SQL — is exact, not tolerance-based. OpsSpec-
  * style cross-certification lives in SketchAggSpec.
  *
  * Why both shapes exist: the frame is inspectable and engine-portable
  * (any SQL engine with md5 reproduces it), but it pays an explode to
  * (group, register) granularity and two aggregation levels. This
  * aggregate is one pass with m = 2^p bytes of state per group — it
  * composes inside ANY groupBy next to ordinary aggregates
  * (`agg(count(*), hllDistinct(col))`), and partial aggregation ships
  * ≤ m bytes per group per map task instead of ≤ m ROWS. At 100 TB the
  * wire format is the win: a p=9 sketch is 512 bytes flat.
  *
  * Reference analog: none (the reference keeps exact counts at its
  * scale, src/order_processor/app.py); this serves the BASELINE
  * LLM-pipeline north star — vocabulary / distinct-key telemetry.
  */
case class HllDistinct(
    child: Expression,
    p: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]]
  with UnaryLike[Expression] {

  require(p >= 4 && p <= 16, s"precision p must be in [4, 16], got $p")
  private val m = 1 << p
  private val w = 32 - p

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hll_distinct requires a STRING column (cast first), got ${child.dataType.sql}")

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  @transient private lazy val digest = MessageDigest.getInstance("MD5")

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      digest.reset()
      val d = digest.digest(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
      // first 4 digest bytes, big-endian ≡ conv(substring(md5(x),1,8),16,10)
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val reg = (h >>> w).toInt
      val rem = h & ((1L << w) - 1)
      // rho = w + 1 - bitLength(rem); bitLength(0) = 0 ≡ ltrim-of-bin
      val rho = (w + 1 - (64 - java.lang.Long.numberOfLeadingZeros(rem))).toByte
      if (rho > buffer(reg)) buffer(reg) = rho
    }
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) { if (other(i) > buffer(i)) buffer(i) = other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Byte]): Any = {
    var np = 0
    var sp = 0.0
    var i = 0
    while (i < m) {
      if (buffer(i) > 0) { np += 1; sp += java.lang.Math.pow(2.0, -buffer(i).toDouble) }
      i += 1
    }
    val md = m.toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / md)
    val raw = alpha * md * md / ((md - np) + sp)
    val zeros = md - np
    val est =
      if (raw <= 2.5 * m && zeros > 0) md * math.log(md / zeros)
      else raw
    // ≡ round(est, 4): Spark's Round on doubles is BigDecimal HALF_UP
    BigDecimal.decimal(est).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "hll_distinct"

  override def withNewMutableAggBufferOffset(newOffset: Int): HllDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllDistinct =
    copy(child = newChild)
}

object HllDistinct {
  /** Column API: `df.groupBy(...).agg(HllDistinct.hllDistinct(col("word"), 9))`. */
  def hllDistinct(c: Column, p: Int = 9): Column =
    ColumnBridge.column(
      HllDistinct(ColumnBridge.expression(c), p).toAggregateExpression())

  /** SQL registration triple GraftExtensions injects:
    * `SELECT hll_distinct(word)`, `hll_distinct(word, 11)`. */
  val sqlFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("hll_distinct"),
    new ExpressionInfo(classOf[HllDistinct].getName, "hll_distinct"),
    (args: Seq[Expression]) => args match {
      case Seq(c) => HllDistinct(c, 9)
      case Seq(c, Literal(p: Int, IntegerType)) => HllDistinct(c, p)
      case _ => throw new IllegalArgumentException(
        "hll_distinct(col[, precision]) — precision must be an INT literal")
    })
}
