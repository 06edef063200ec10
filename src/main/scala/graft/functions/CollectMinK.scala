package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded "k smallest strings per group" aggregate.
  *
  * Semantically identical to
  * `sort_array(collect_list(url))` truncated to its first k elements — the
  * deterministic member-list preview the canonicals stage emits
  * (reference synthesizer keeps the full member list,
  * `/root/reference/src/event_dedup/canonical/synthesizer.py:74-83`; we cap
  * it for the 10^6-member boilerplate mega-cluster case) — but with an
  * aggregation buffer bounded at k elements instead of the cluster size.
  *
  * That bound is what lets member collection live INSIDE the main canonicals
  * groupBy: an unbounded `collect_list` on a mega-cluster materializes the
  * whole membership in one buffer (the classic CC-output killer), and the
  * previous workaround — a row_number window + a second groupBy + a join —
  * paid an extra sort and an extra shuffle of (component, url) for every
  * row. A size-k max-heap per group gives partial aggregation (map-side
  * combine) a bounded state, so the planner runs ONE hash aggregation and
  * no window.
  *
  * Ordering: UTF8String binary order — identical to Spark's default
  * StringType sort order (UTF8_BINARY collation), so results match the
  * declarative form byte-for-byte.
  */
case class CollectMinK(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.PriorityQueue[UTF8String]]
    with UnaryLike[Expression]
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  require(k >= 1, "k must be >= 1")

  // analysis-time type check (a timestamp child would otherwise pass
  // analysis and ClassCastException mid-stage in update())
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  /** Max-heap: peek() is the LARGEST retained string, evicted when a smaller
    * candidate arrives with the buffer full. It starts small and grows: a
    * k-slot array per group would cost O(k) memory for every small group, and
    * `k + 1` overflows at k = Int.MaxValue.
    */
  override def createAggregationBuffer(): java.util.PriorityQueue[UTF8String] =
    new java.util.PriorityQueue[UTF8String](
      math.min(k, 15) + 1, java.util.Collections.reverseOrder[UTF8String]())

  private def offer(
      buf: java.util.PriorityQueue[UTF8String], s: UTF8String): Unit = {
    if (buf.size < k) {
      // copy: the input UTF8String is backed by a reused row buffer
      buf.add(s.copy()): Unit
    } else if (s.compareTo(buf.peek()) < 0) {
      buf.poll()
      buf.add(s.copy()): Unit
    }
  }

  override def update(
      buf: java.util.PriorityQueue[UTF8String],
      input: InternalRow): java.util.PriorityQueue[UTF8String] = {
    val v = child.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[UTF8String])
    buf
  }

  override def merge(
      buf: java.util.PriorityQueue[UTF8String],
      other: java.util.PriorityQueue[UTF8String]): java.util.PriorityQueue[UTF8String] = {
    val it = other.iterator()
    while (it.hasNext) offer(buf, it.next())
    buf
  }

  override def eval(buf: java.util.PriorityQueue[UTF8String]): Any = {
    val arr = buf.toArray(new Array[UTF8String](buf.size))
    java.util.Arrays.sort(arr, java.util.Comparator.naturalOrder[UTF8String]())
    new GenericArrayData(arr.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: java.util.PriorityQueue[UTF8String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val b = it.next().getBytes
      out.writeInt(b.length)
      out.write(b)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[UTF8String] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.add(UTF8String.fromBytes(b)): Unit
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectMinK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectMinK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CollectMinK =
    copy(child = newChild)
  override def prettyName: String = "collect_min_k"
}

object CollectMinK {
  /** Column API: k smallest non-null strings in the group, sorted ascending. */
  def collectMinK(c: Column, k: Int): Column =
    toCol(CollectMinK(toExpr(c), k).toAggregateExpression())
}
