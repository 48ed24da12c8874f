package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable Misra-Gries heavy-hitters summary as a
  * `TypedImperativeAggregate` — one-pass approximate top-k over token
  * streams with BOUNDED state.
  *
  * Why it exists: the exact top-k (q42's explode → groupBy token → count)
  * shuffles one row per DISTINCT token per partition — at web scale the
  * n-gram vocabulary is billions of keys and the shuffle dwarfs the scan.
  * This aggregate caps the per-partition state at `capacity` counters; the
  * shuffle carries ≤ capacity entries per partition, period. Deterministic
  * guarantee (no sketching randomness): with N total tokens, every stored
  * count c satisfies c ≤ true ≤ c + err (err = total decrement, tracked in
  * the buffer and reported), and EVERY item with true frequency > N /
  * (capacity+1) is guaranteed present. Merge sums counters then strips the
  * summary back to `capacity` by subtracting the (capacity+1)-th largest
  * count (the Agarwal et al. 2013 mergeable-summaries construction), so
  * partial+final aggregation preserves the bound.
  *
  * With capacity ≥ the true distinct count the summary is EXACT (err = 0)
  * — which is what lets the q108 oracle pin it against DuckDB's exact
  * GROUP BY on test data while the restricted-capacity regime is
  * spec-tested against its guarantees.
  *
  * child may be `string` (one token per row) or `array<string>` (a token
  * list per row — saves the explode). Nulls (rows or elements) are skipped.
  * Output: `array<struct<item,count,max_count>>`, count-descending then
  * item-ascending (UTF-8 byte order, matching SQL collation), all ≤
  * capacity entries; `max_count = count + err`.
  */
case class FreqItemsAgg(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[FreqItemsAgg.Buffer] {

  import FreqItemsAgg.Buffer

  require(capacity >= 1, s"capacity must be >= 1: $capacity")

  private def isArrayInput: Boolean = child.dataType.isInstanceOf[ArrayType]

  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): Buffer = new Buffer(new mutable.HashMap, 0L)

  private def add(buf: Buffer, item: String): Unit = {
    val m = buf.counts
    m.get(item) match {
      case Some(c) => m.update(item, c + 1L)
      case None =>
        if (m.size < capacity) m.update(item, 1L)
        else {
          // decrement-all round: pays one unit of error
          val dead = mutable.ArrayBuffer[String]()
          m.foreach { case (k, c) => if (c == 1L) dead += k else m.update(k, c - 1L) }
          dead.foreach(m.remove)
          buf.err += 1L
        }
    }
  }

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v == null) return buf
    if (isArrayInput) {
      val arr = v.asInstanceOf[ArrayData]
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) add(buf, arr.getUTF8String(i).toString)
        i += 1
      }
    } else add(buf, v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(b1: Buffer, b2: Buffer): Buffer = {
    b2.counts.foreach { case (k, c) =>
      b1.counts.update(k, b1.counts.getOrElse(k, 0L) + c)
    }
    b1.err += b2.err
    if (b1.counts.size > capacity) {
      // subtract the (capacity+1)-th largest count from everything
      val sorted = b1.counts.values.toArray
      java.util.Arrays.sort(sorted)
      val cut = sorted(sorted.length - capacity - 1)
      val dead = mutable.ArrayBuffer[String]()
      b1.counts.foreach { case (k, c) =>
        if (c <= cut) dead += k else b1.counts.update(k, c - cut)
      }
      dead.foreach(b1.counts.remove)
      b1.err += cut
    }
    b1
  }

  override def eval(buf: Buffer): Any = {
    val entries = buf.counts.toArray
    val sorted = entries.sortWith { case ((ia, ca), (ib, cb)) =>
      if (ca != cb) ca > cb
      else FreqItemsAgg.byteLt(ia, ib)
    }
    new GenericArrayData(sorted.map { case (item, c) =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(item), c, c + buf.err))
    }.toArray[Any])
  }

  override def serialize(buf: Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.err)
    out.writeInt(buf.counts.size)
    buf.counts.foreach { case (k, c) =>
      val bytes = k.getBytes(StandardCharsets.UTF_8)
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val err = in.readLong()
    val n = in.readInt()
    val m = new mutable.HashMap[String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      m.update(new String(b, StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    new Buffer(m, err)
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("count", LongType, nullable = false),
      StructField("max_count", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(offset: Int): FreqItemsAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): FreqItemsAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FreqItemsAgg =
    copy(child = newChildren.head)
}

object FreqItemsAgg {

  /** MG summary state: item counters + total decrement (the undercount
    * bound). */
  final class Buffer(val counts: mutable.HashMap[String, Long], var err: Long)

  /** UTF-8 byte-order less-than (SQL binary collation). */
  private[graft] def byteLt(a: String, b: String): Boolean =
    UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)) < 0

  /** Aggregate Column: `freq_items(tokensOrToken, capacity)` →
    * array<struct<item,count,max_count>> (count-desc, item-asc). */
  def apply(child: Column, capacity: Int): Column =
    org.apache.spark.sql.GraftInternal.columnOf(
      new FreqItemsAgg(
        org.apache.spark.sql.GraftInternal.expressionOf(child),
        capacity).toAggregateExpression())
}
