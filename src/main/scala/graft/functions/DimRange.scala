package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._

/** The running per-dimension [min, max] of elements 1..dim, with
  * Spark's `min`/`max` ordering (`SQLOrderingUtil.compareDoubles`):
  * NaN ranks above every number, and -0.0 == 0.0 keeps the value
  * already held. `seen(i)` is false until dimension i has a value.
  */
final class RangeBuffer(val dim: Int) {
  val mins = new Array[Double](dim)
  val maxs = new Array[Double](dim)
  val seen = new Array[Boolean](dim)

  def add(i: Int, mn: Double, mx: Double): Unit =
    if (!seen(i)) {
      mins(i) = mn; maxs(i) = mx; seen(i) = true
    } else {
      if (SQLOrderingUtil.compareDoubles(mn, mins(i)) < 0) mins(i) = mn
      if (SQLOrderingUtil.compareDoubles(mx, maxs(i)) > 0) maxs(i) = mx
    }

  def merge(other: RangeBuffer): Unit = {
    var i = 0
    while (i < dim) {
      if (other.seen(i)) add(i, other.mins(i), other.maxs(i))
      i += 1
    }
  }

  def serialize(): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + dim * 17)
    bb.putInt(dim)
    var i = 0
    while (i < dim) {
      bb.put(if (seen(i)) 1.toByte else 0.toByte)
      bb.putDouble(mins(i)); bb.putDouble(maxs(i))
      i += 1
    }
    bb.array()
  }
}

object RangeBuffer {
  def deserialize(bytes: Array[Byte]): RangeBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new RangeBuffer(bb.getInt)
    var i = 0
    while (i < buf.dim) {
      buf.seen(i) = bb.get() != 0
      buf.mins(i) = bb.getDouble; buf.maxs(i) = bb.getDouble
      i += 1
    }
    buf
  }
}

/** dim_range(vec, dim): the per-dimension [min, max] of a float or
  * double vector column in one pass over whole vectors — the model of
  * SQ8/SQ4/BQ training. The result is one struct of 2·dim doubles
  * `(mn1, mx1, mn2, mx2, ...)`, null where a dimension has no value.
  *
  * It equals `min`/`max` of `element_at(vec, i).cast("double")` for
  * every i in 1..dim, bit for bit: a null vector or a null element is
  * skipped, elements past `dim` are ignored, and a non-null vector
  * shorter than `dim` raises `INVALID_ARRAY_INDEX_IN_ELEMENT_AT` (as
  * ANSI `element_at` does). Each map task folds its partition into one
  * 17·dim-byte buffer before the single-partition exchange.
  */
case class DimRange(
    vec: Expression, dim: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[RangeBuffer] {

  override def children: Seq[Expression] = Seq(vec)
  override def nullable: Boolean = false
  override def prettyName: String = "dim_range"
  override def dataType: DataType = StructType((1 to dim).flatMap(i => Seq(
    StructField(s"mn$i", DoubleType), StructField(s"mx$i", DoubleType))))

  private lazy val isFloat: Boolean = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def checkInputDataTypes(): TypeCheckResult = vec.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got ${t.catalogString}")
  }

  override def createAggregationBuffer(): RangeBuffer = new RangeBuffer(dim)

  override def update(buf: RangeBuffer, input: InternalRow): RangeBuffer = {
    val v = vec.eval(input).asInstanceOf[ArrayData]
    if (v != null) {
      val n = v.numElements()
      if (n < dim) throw Shims.elementAtOutOfBounds(n + 1, n)
      var i = 0
      while (i < dim) {
        if (!v.isNullAt(i)) {
          val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
          buf.add(i, x, x)
        }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: RangeBuffer, other: RangeBuffer): RangeBuffer = {
    buf.merge(other); buf
  }

  override def eval(buf: RangeBuffer): Any = {
    val out = new GenericInternalRow(2 * dim)
    var i = 0
    while (i < dim) {
      if (buf.seen(i)) {
        out.update(2 * i, buf.mins(i)); out.update(2 * i + 1, buf.maxs(i))
      }
      i += 1
    }
    out
  }

  override def serialize(buf: RangeBuffer): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): RangeBuffer =
    RangeBuffer.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): DimRange =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DimRange =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren(0))
}

object DimRange {
  /** Column form of [[DimRange]] for a corpus `agg(...)`. */
  def dim_range(vec: Column, dim: Int): Column =
    Shims.column(DimRange(Shims.expression(vec), dim).toAggregateExpression())
}
