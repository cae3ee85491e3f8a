package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass multi-column Shannon entropy.
  *
  * Buffer = per column a value→count map; eval computes, per column,
  * `entropy = −Σ p·log10(p) / logDivisor` where
  * `logDivisor = log10(base)` when `base > 0`, else `log10(#distinct)` with the
  * reference's guard: `1.0` when `#distinct < 2` or `#distinct == 10`
  * (reference: scala/.../expressions/ARC_EntropyAggExpression.scala:48-55; closed-form
  * expectations pinned by scala/.../ARC_EntropyAggBehaviors.scala:42-92).
  *
  * Scale note: buffers grow with per-column distinct cardinality. That matches the
  * reference's contract (entropy over attribute columns of bounded cardinality). For
  * unbounded columns use a sketch-based estimate instead — out of reference scope.
  */
case class EntropyAgg(
    attributes: Seq[Expression],
    attributeNames: Seq[String],
    base: Int = 0,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[mutable.Map[String, Long]]] {

  override def children: Seq[Expression] = attributes
  override def nullable: Boolean = false
  override def dataType: DataType = MapType(StringType, DoubleType)

  override def createAggregationBuffer(): Array[mutable.Map[String, Long]] =
    Array.fill(attributes.length)(mutable.HashMap.empty[String, Long])

  override def update(
      buffer: Array[mutable.Map[String, Long]],
      input: InternalRow): Array[mutable.Map[String, Long]] = {
    var i = 0
    while (i < attributes.length) {
      val v = attributes(i).eval(input)
      val s = if (v == null) "null_" else v.toString
      val m = buffer(i)
      m.update(s, m.getOrElse(s, 0L) + 1L)
      i += 1
    }
    buffer
  }

  override def merge(
      buffer: Array[mutable.Map[String, Long]],
      other: Array[mutable.Map[String, Long]]): Array[mutable.Map[String, Long]] = {
    var i = 0
    while (i < buffer.length) {
      val m = buffer(i)
      other(i).foreach { case (k, v) => m.update(k, m.getOrElse(k, 0L) + v) }
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[mutable.Map[String, Long]]): Any = {
    val ks = new Array[Any](attributeNames.length)
    val vs = new Array[Any](attributeNames.length)
    var i = 0
    while (i < attributeNames.length) {
      ks(i) = UTF8String.fromString(attributeNames(i))
      vs(i) = EntropyAgg.entropy(buffer(i), base)
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
  }

  override def serialize(buffer: Array[mutable.Map[String, Long]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.length)
    buffer.foreach { m =>
      out.writeInt(m.size)
      m.foreach { case (k, v) => out.writeUTF(k); out.writeLong(v) }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[mutable.Map[String, Long]] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    Array.fill(n) {
      val sz = in.readInt()
      val m = mutable.HashMap.empty[String, Long]
      var i = 0
      while (i < sz) { m.update(in.readUTF(), in.readLong()); i += 1 }
      m
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): EntropyAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): EntropyAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EntropyAgg =
    copy(attributes = newChildren)
}

object EntropyAgg {
  /** Closed-form entropy used by both the aggregate and driver-side metrics. The
    * terms are summed over the counts in ascending order, so the value depends only
    * on the multiset of counts, never on the map's insertion or merge order.
    */
  def entropy(counts: collection.Map[String, Long], base: Int): Double = {
    val sorted = counts.valuesIterator.toArray
    java.util.Arrays.sort(sorted)
    val total = sorted.sum.toDouble
    if (total == 0) return 0.0
    val distinct = sorted.length
    val logDivisor =
      if (base > 0) math.log10(base.toDouble)
      else if (distinct < 2 || distinct == 10) 1.0
      else math.log10(distinct.toDouble)
    var acc = 0.0
    sorted.foreach { c =>
      val p = c / total
      if (p > 0) acc -= p * math.log10(p)
    }
    acc / logDivisor
  }
}
