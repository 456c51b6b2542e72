// Same org.apache.spark.sql hosting rationale as DotProduct.scala: the
// classic Column<->Expression bridge is private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Exact top-k per group as a fixed-width hash aggregate.
  *
  * The buffer is `k` slots of (ord, id, payload...) held best-first in
  * plain UnsafeRow fields, so the planner picks `HashAggregateExec`
  * (partial + final) with no sort and no object buffer: the
  * `row_number() OVER (PARTITION BY g ORDER BY ...) <= k` form sorts
  * every candidate row before its `WindowGroupLimit`, and a typed
  * `Aggregator` buffer runs in `ObjectHashAggregate`, which falls back
  * to sort-based aggregation past 128 groups per task. An insert is a
  * compare against the worst kept slot (the common reject), else a
  * shift of at most `k` slots; a merge walks the other buffer's slots
  * best-first and stops at the first one that does not place.
  *
  * Order: `largest` ranks by `ord` descending, else ascending; ties on
  * `ord` go to the smaller `id` — the `ORDER BY ord [DESC], id` row
  * order. Rows with a null `ord` or `id` are skipped. When (ord, id)
  * is unique per group (every caller's key contract) the kept rows are
  * independent of partitioning and merge order; exact duplicates keep
  * as many copies as fit, like `row_number()`.
  *
  * Result: `array<struct<ord, id, p0, p1, ...>>`, best first, at most
  * `k` entries, each payload value from the same input row as its
  * (ord, id). Payload columns must be fixed-width ([[payloadTypeOk]]).
  */
case class BoundedTopK(
    ord: Expression,
    id: Expression,
    payload: Seq[Expression],
    k: Int,
    largest: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends ImperativeAggregate {

  require(k >= 1, s"k must be >= 1, got $k")

  override def children: Seq[Expression] = ord +: id +: payload
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk"

  private def payloadTypes: Seq[DataType] = payload.map(_.dataType)
  /** Fields per slot: ord, id, then the payload columns. */
  private lazy val width: Int = 2 + payload.length

  override lazy val dataType: DataType = ArrayType(StructType(
    StructField("ord", LongType, nullable = false) +:
      StructField("id", LongType, nullable = false) +:
      payload.zipWithIndex.map { case (p, j) =>
        StructField(s"p$j", p.dataType, p.nullable)
      }), containsNull = false)

  override lazy val aggBufferSchema: StructType = StructType(
    (0 until k).flatMap { s =>
      StructField(s"ord$s", LongType) +: StructField(s"id$s", LongType) +:
        payloadTypes.zipWithIndex.map { case (t, j) =>
          StructField(s"p${j}_$s", t)
        }
    })
  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    DataTypeUtils.toAttributes(aggBufferSchema)
  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())

  override def withNewMutableAggBufferOffset(o: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): BoundedTopK =
    copy(ord = c(0), id = c(1), payload = c.drop(2))

  @transient private lazy val payloadExprs: Array[Expression] =
    payload.toArray
  @transient private lazy val readers: Array[(InternalRow, Int) => Any] =
    payloadTypes.map { t =>
      val get = InternalRow.getAccessor(t, nullable = true)
      (r: InternalRow, i: Int) => get(r, i)
    }.toArray
  @transient private lazy val writers: Array[(InternalRow, Int, Any) => Unit] =
    payloadTypes.map(BoundedTopK.writer).toArray

  /** (o1, i1) ranks strictly before (o2, i2). */
  private def before(o1: Long, i1: Long, o2: Long, i2: Long): Boolean =
    if (o1 != o2) (if (largest) o1 > o2 else o1 < o2) else i1 < i2

  /** Place (o, i, payload) into the buffer at `base`; false when it
    * ranks below all `k` kept slots. */
  private def insert(buf: InternalRow, base: Int, o: Long, i: Long,
                     srcPayload: Int => Any): Boolean = {
    val w = width
    val last = base + (k - 1) * w
    if (!buf.isNullAt(last) &&
      !before(o, i, buf.getLong(last), buf.getLong(last + 1))) return false
    var p = 0
    while (!buf.isNullAt(base + p * w) &&
      !before(o, i, buf.getLong(base + p * w), buf.getLong(base + p * w + 1)))
      p += 1
    // shift slots p .. k-2 down one; the worst slot falls off
    var s = k - 1
    while (s > p) {
      val to = base + s * w
      val from = to - w
      if (buf.isNullAt(from)) buf.setNullAt(to)
      else {
        buf.setLong(to, buf.getLong(from))
        buf.setLong(to + 1, buf.getLong(from + 1))
        var j = 0
        while (j < w - 2) {
          writers(j)(buf, to + 2 + j, readers(j)(buf, from + 2 + j)); j += 1
        }
      }
      s -= 1
    }
    val at = base + p * w
    buf.setLong(at, o)
    buf.setLong(at + 1, i)
    var j = 0
    while (j < w - 2) { writers(j)(buf, at + 2 + j, srcPayload(j)); j += 1 }
    true
  }

  override def initialize(buf: InternalRow): Unit = {
    var f = 0
    while (f < k * width) { buf.setNullAt(mutableAggBufferOffset + f); f += 1 }
  }

  override def update(buf: InternalRow, input: InternalRow): Unit = {
    val o = ord.eval(input)
    if (o == null) return
    val i = id.eval(input)
    if (i == null) return
    insert(buf, mutableAggBufferOffset, o.asInstanceOf[Long],
      i.asInstanceOf[Long], j => payloadExprs(j).eval(input))
  }

  override def merge(buf: InternalRow, in: InternalRow): Unit = {
    // `in` is sorted best-first: once a slot fails to place, every
    // later one would too
    var s = 0
    var placed = true
    while (placed && s < k) {
      val at = inputAggBufferOffset + s * width
      placed = !in.isNullAt(at) &&
        insert(buf, mutableAggBufferOffset, in.getLong(at),
          in.getLong(at + 1), j => readers(j)(in, at + 2 + j))
      s += 1
    }
  }

  override def eval(buf: InternalRow): Any = {
    val out = Array.newBuilder[Any]
    var s = 0
    while (s < k && !buf.isNullAt(mutableAggBufferOffset + s * width)) {
      val at = mutableAggBufferOffset + s * width
      val fields = new Array[Any](width)
      fields(0) = buf.getLong(at)
      fields(1) = buf.getLong(at + 1)
      var j = 0
      while (j < width - 2) {
        fields(2 + j) = readers(j)(buf, at + 2 + j); j += 1
      }
      out += InternalRow.fromSeq(fields.toIndexedSeq)
      s += 1
    }
    new GenericArrayData(out.result())
  }
}

object BoundedTopK {

  /** Payload types a slot can hold in place: the fixed-width types an
    * UnsafeRow buffer updates without reallocation. */
  def payloadTypeOk(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | DateType |
         LongType | TimestampType | TimestampNTZType | FloatType |
         DoubleType => true
    case d: DecimalType => d.precision <= Decimal.MAX_LONG_DIGITS
    case _ => false
  }

  private def writer(t: DataType): (InternalRow, Int, Any) => Unit = {
    def orNull(set: (InternalRow, Int, Any) => Unit)
        : (InternalRow, Int, Any) => Unit =
      (r, i, v) => if (v == null) r.setNullAt(i) else set(r, i, v)
    t match {
      case BooleanType => orNull((r, i, v) => r.setBoolean(i, v.asInstanceOf[Boolean]))
      case ByteType => orNull((r, i, v) => r.setByte(i, v.asInstanceOf[Byte]))
      case ShortType => orNull((r, i, v) => r.setShort(i, v.asInstanceOf[Short]))
      case IntegerType | DateType =>
        orNull((r, i, v) => r.setInt(i, v.asInstanceOf[Int]))
      case LongType | TimestampType | TimestampNTZType =>
        orNull((r, i, v) => r.setLong(i, v.asInstanceOf[Long]))
      case FloatType => orNull((r, i, v) => r.setFloat(i, v.asInstanceOf[Float]))
      case DoubleType => orNull((r, i, v) => r.setDouble(i, v.asInstanceOf[Double]))
      case d: DecimalType if payloadTypeOk(d) =>
        orNull((r, i, v) => r.setDecimal(i, v.asInstanceOf[Decimal], d.precision))
      case other => throw new IllegalArgumentException(
        s"graft_topk payload type $other is not fixed-width")
    }
  }

  /** Column API: `ord` and `id` must be bigint. */
  def apply(ord: Column, id: Column, payload: Seq[Column], k: Int,
            largest: Boolean): Column =
    ExpressionUtils.column(BoundedTopK(ExpressionUtils.expression(ord),
      ExpressionUtils.expression(id), payload.map(ExpressionUtils.expression),
      k, largest).toAggregateExpression())
}
