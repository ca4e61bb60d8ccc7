package graft.expressions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** K-Minimum-Values sketch aggregate (SURVEY.md §2B "imperative agg"):
  * keeps the k smallest DISTINCT hash values seen per group, as a
  * `TypedImperativeAggregate` with a real mutable buffer, partial-merge
  * support, and compact binary serialization between stages.
  *
  * Unlike HLL (whose register layout is engine-private), a KMV signature
  * is a pure function of the input set — deterministic and therefore
  * fully DuckDB-oracle-able — while still supporting the sketch algebra:
  * union = merge of signatures; distinct-count estimate
  * `(k-1) / U(k)` from the kth normalized minimum; set resemblance from
  * signature overlap. This is the §7.3 escalation used only where no
  * builtin exists: Spark has HLL and quantile sketches, but no KMV /
  * min-signature aggregate.
  */
case class KMinValues(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.TreeSet[Long]] {

  override def createAggregationBuffer(): mutable.TreeSet[Long] = mutable.TreeSet.empty[Long]

  override def update(buf: mutable.TreeSet[Long], input: InternalRow): mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      if (buf.size < k) buf += x
      else if (x < buf.last && !buf.contains(x)) { buf += x; buf -= buf.last }
    }
    buf
  }

  override def merge(b1: mutable.TreeSet[Long], b2: mutable.TreeSet[Long]): mutable.TreeSet[Long] = {
    b2.foreach { x =>
      if (b1.size < k) b1 += x
      else if (x < b1.last && !b1.contains(x)) { b1 += x; b1 -= b1.last }
    }
    b1
  }

  override def eval(buf: mutable.TreeSet[Long]): Any =
    new GenericArrayData(buf.toArray)

  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val out = mutable.TreeSet.empty[Long]
    (0 until n).foreach(_ => out += bb.getLong)
    out
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "kmv_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): KMinValues =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KMinValues =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): KMinValues =
    copy(child = newChildren.head)
}
