package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded max-heap state: keeps the k smallest (dist, id) pairs seen,
  * evicting the current worst — the JVM twin of the C kernel's k-sized
  * max-heap (radient/tasks/sinks/local/_gann_c_src/gann.c:498-574).
  * Ordering is lexicographic (dist, id), matching the engine's
  * `ORDER BY dist, id` window rank, so swapping implementations cannot
  * change any result. */
final class TopKBuffer(val k: Int) {
  // parallel-array binary max-heap (root = current worst pair)
  val dists = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  private def worse(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    d1 > d2 || (d1 == d2 && i1 > i2)

  def insert(d: Double, id: Long): Unit = {
    if (size < k) {
      var i = size
      dists(i) = d; ids(i) = id; size += 1
      while (i > 0 && worse(dists(i), ids(i), dists((i - 1) / 2), ids((i - 1) / 2))) {
        swap(i, (i - 1) / 2); i = (i - 1) / 2
      }
    } else if (k > 0 && worse(dists(0), ids(0), d, id)) {
      dists(0) = d; ids(0) = id
      siftDown(0)
    }
  }

  /** [[insert]] under the one-copy-per-id rule: the heap holds each id at
    * most once, at its smallest distance. A pair no better than the
    * current worst of a full heap is rejected before any lookup; an id
    * the heap already holds is replaced only by a smaller distance.
    * Inserting any stream — or the contents of several such heaps — this
    * way keeps exactly the k best of "min distance per id, then
    * (dist, id)": an id's minimum survives every heap that saw it unless
    * k distinct ids beat it, and an evicted larger copy cannot re-enter,
    * since k distinct ids already beat its minimum. */
  def insertMin(d: Double, id: Long): Unit =
    if (k > 0 && (size < k || worse(dists(0), ids(0), d, id))) {
      var i = 0
      while (i < size && ids(i) != id) i += 1
      if (i == size) insert(d, id)
      else if (d < dists(i)) { dists(i) = d; siftDown(i) }
    }

  private def siftDown(from: Int): Unit = {
    var i = from
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < size && worse(dists(l), ids(l), dists(m), ids(m))) m = l
      if (r < size && worse(dists(r), ids(r), dists(m), ids(m))) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  private def swap(i: Int, j: Int): Unit = {
    val td = dists(i); dists(i) = dists(j); dists(j) = td
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
  }

  /** (dist, id) ascending — the final rank order. */
  def sorted: Array[(Double, Long)] =
    (0 until size).map(i => (dists(i), ids(i))).toArray
      .sortBy { case (d, id) => (d, id) }
}

/** Aggregate `top_k((dist, id), k)` → array<struct<dist,id>> of the k
  * smallest pairs. As a TypedImperativeAggregate it partial-aggregates
  * map-side: each input partition ships at most k pairs per group into
  * the shuffle, where the window-rank formulation ships EVERY candidate
  * row — the difference between O(candidates) and O(k·partitions)
  * shuffle volume per query at scale (SURVEY.md §7.3's escalation). */
case class TopKAgg(dist: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  override def children: Seq[Expression] = Seq(dist, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("dist", DoubleType), StructField("id", LongType))))

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val d = dist.eval(input)
    val i = id.eval(input)
    if (d != null && i != null)
      b.insert(d.asInstanceOf[Double], i.asInstanceOf[Long])
    b
  }

  override def merge(b: TopKBuffer, o: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < o.size) { b.insert(o.dists(i), o.ids(i)); i += 1 }
    b
  }

  override def eval(b: TopKBuffer): Any =
    new GenericArrayData(b.sorted.map { case (d, id) =>
      InternalRow(d, id)
    }.toSeq)

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + b.size * 16)
    bb.putInt(b.k); bb.putInt(b.size)
    var i = 0
    while (i < b.size) { bb.putDouble(b.dists(i)); bb.putLong(b.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new TopKBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) { b.insert(bb.getDouble(), bb.getLong()); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKAgg =
    copy(dist = c(0), id = c(1))
  override def prettyName: String = "graft_top_k"
}

object TopKAgg {
  /** Column form: `topK(distCol, idCol, k)` inside a groupBy agg. */
  def topK(dist: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKAgg(ColumnBridge.expression(dist), ColumnBridge.expression(id), k)
        .toAggregateExpression())
}
