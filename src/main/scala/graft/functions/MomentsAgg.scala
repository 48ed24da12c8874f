package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Fused sufficient-statistics aggregate: one pass, one buffer, the whole
  * [w, y, X] moment triangle (SURVEY.md §4.3's optional custom-Catalyst
  * optimization over p(p+1)/2 separate `sum` columns).
  *
  * children = (w, y, x₁…x_p). Buffer layout (all doubles):
  * {{{
  *   [0] Σw   [1] Σwy   [2] Σwy²
  *   [3..3+p)        Σw·xᵢ
  *   [3+p..3+2p)     Σw·xᵢ·y
  *   [3+2p..)        Σw·xᵢ·xⱼ upper triangle, row-major
  * }}}
  * Merge is element-wise addition, so Spark runs it as a partial+final
  * aggregate with map-side combine — the shuffle carries one array per
  * partition. Rows with any null input are skipped (P2 missing-filter
  * semantics are applied upstream anyway).
  */
@ExpressionDescription(usage = "moments_agg(w, y, x...) - fused regression moment triangle")
case class MomentsAgg(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[Array[Double]] {

  private val p = children.length - 2
  private val bufLen = 3 + 2 * p + p * (p + 1) / 2

  override def createAggregationBuffer(): Array[Double] = new Array[Double](bufLen)

  // built once per instance (each task binds its own copy), reused per row
  @transient private lazy val inputs = children.toArray
  @transient private lazy val scratch = new Array[Double](children.length)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val in = inputs
    val vals = scratch
    var i = 0
    while (i < in.length) {
      val v = in(i).eval(input)
      if (v == null) return buf // skip incomplete rows
      vals(i) = v.asInstanceOf[Double]
      i += 1
    }
    val w = vals(0); val y = vals(1)
    buf(0) += w
    buf(1) += w * y
    buf(2) += w * y * y
    var a = 0
    while (a < p) {
      val xa = vals(2 + a)
      buf(3 + a) += w * xa
      buf(3 + p + a) += w * xa * y
      a += 1
    }
    var k = 3 + 2 * p
    a = 0
    while (a < p) {
      val wxa = w * vals(2 + a)
      var b = a
      while (b < p) {
        buf(k) += wxa * vals(2 + b)
        b += 1; k += 1
      }
      a += 1
    }
    buf
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    var i = 0
    while (i < bufLen) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Double]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(bufLen * 8)
    bb.asDoubleBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bufLen)
    ByteBuffer.wrap(bytes).asDoubleBuffer().get(out)
    out
  }

  // inputs are cast to double at the Column wrapper; no ExpectsInputTypes
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(offset: Int): MomentsAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MomentsAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MomentsAgg = copy(children = newChildren)
}

object MomentsAgg {
  /** Column wrapper: `moments_agg(w, y, x…)` as an aggregate Column. */
  def apply(w: Column, y: Column, xs: Seq[Column]): Column = {
    val exprs = (w +: y +: xs).map(c =>
      org.apache.spark.sql.GraftInternal.expressionOf(c.cast("double")))
    org.apache.spark.sql.GraftInternal.columnOf(
      new MomentsAgg(exprs).toAggregateExpression())
  }
}
