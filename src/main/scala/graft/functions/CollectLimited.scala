package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** collect_list with a hard cap, as a native Catalyst aggregate.
  *
  * Used where a capped sample must ride an aggregate that runs anyway: the
  * uniqueness checks' groupBy (`SuiteRunner.runGroupedUnique`), where the
  * sample rides the per-key counts, and the unexpected-rows query
  * expectations, where the sample rides the true row count in one job.
  * (Map expectations' `partial_unexpected_list` does NOT use it: their
  * samples come from `SuiteRunner.sampleRow`'s early-exit map-only pass.)
  * Buffers never exceed `limit` elements per partition or post-merge, so a
  * 100-TB scan carries at most `limit × partitions` tiny values through the
  * partial aggregates — unlike built-in `collect_list`, which is unbounded.
  *
  * Null inputs are skipped (matching collect_list), so `when(cond, value)`
  * yields "first `limit` values where cond".
  */
case class CollectLimited(
    child: Expression,
    limit: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.ArrayBuffer[Any]]
  with UnaryLike[Expression] {

  override def createAggregationBuffer(): mutable.ArrayBuffer[Any] =
    mutable.ArrayBuffer.empty[Any]

  override def update(buf: mutable.ArrayBuffer[Any], input: InternalRow): mutable.ArrayBuffer[Any] = {
    if (buf.size < limit) {
      val v = child.eval(input)
      if (v != null) buf += InternalRow.copyValue(v)
    }
    buf
  }

  override def merge(b1: mutable.ArrayBuffer[Any], b2: mutable.ArrayBuffer[Any]): mutable.ArrayBuffer[Any] = {
    if (b1.size < limit) b1 ++= b2.take(limit - b1.size)
    b1
  }

  override def eval(buf: mutable.ArrayBuffer[Any]): Any =
    new GenericArrayData(buf.toArray)

  private def elemType: DataType = child.dataType

  override def serialize(buf: mutable.ArrayBuffer[Any]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { v => writeValue(out, v, elemType) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.ArrayBuffer[Any] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new mutable.ArrayBuffer[Any](n)
    var i = 0
    while (i < n) { buf += readValue(in, elemType); i += 1 }
    buf
  }

  private def writeValue(out: DataOutputStream, v: Any, dt: DataType): Unit = dt match {
    case StringType => val b = v.asInstanceOf[UTF8String].getBytes; out.writeInt(b.length); out.write(b)
    case BooleanType => out.writeBoolean(v.asInstanceOf[Boolean])
    case ByteType => out.writeByte(v.asInstanceOf[Byte].toInt)
    case ShortType => out.writeShort(v.asInstanceOf[Short].toInt)
    case IntegerType | DateType => out.writeInt(v.asInstanceOf[Int])
    case LongType | TimestampType | TimestampNTZType => out.writeLong(v.asInstanceOf[Long])
    case FloatType => out.writeFloat(v.asInstanceOf[Float])
    case DoubleType => out.writeDouble(v.asInstanceOf[Double])
    case _: DecimalType =>
      val s = v.asInstanceOf[Decimal].toJavaBigDecimal.toString.getBytes("UTF-8")
      out.writeInt(s.length); out.write(s)
    case other => throw new UnsupportedOperationException(
      s"CollectLimited: unsupported element type $other")
  }

  private def readValue(in: DataInputStream, dt: DataType): Any = dt match {
    case StringType =>
      val b = new Array[Byte](in.readInt()); in.readFully(b); UTF8String.fromBytes(b)
    case BooleanType => in.readBoolean()
    case ByteType => in.readByte()
    case ShortType => in.readShort()
    case IntegerType | DateType => in.readInt()
    case LongType | TimestampType | TimestampNTZType => in.readLong()
    case FloatType => in.readFloat()
    case DoubleType => in.readDouble()
    case d: DecimalType =>
      val b = new Array[Byte](in.readInt()); in.readFully(b)
      Decimal(new java.math.BigDecimal(new String(b, "UTF-8")), d.precision, d.scale)
    case other => throw new UnsupportedOperationException(
      s"CollectLimited: unsupported element type $other")
  }

  override def dataType: DataType = ArrayType(elemType, containsNull = false)
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(o: Int): CollectLimited =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectLimited =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): CollectLimited =
    copy(child = newChild)
  override def prettyName: String = "collect_limited"
}

object CollectLimited {
  import org.apache.spark.sql.graftshim.Shims

  /** Column API: first `limit` non-null values of `c` (order arbitrary). */
  def collect_limited(c: Column, limit: Int): Column =
    Shims.toColumn(
      CollectLimited(Shims.toExpression(c), limit).toAggregateExpression())
}
