package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, Expression, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded top-k aggregate: keeps the k best (score, id) pairs under the
  * total order (score desc, id asc), as a custom
  * `TypedImperativeAggregate` with a size-k binary-heap buffer.
  *
  * Why it exists: the window formulation
  * (`row_number().over(partitionBy(q).orderBy(score.desc)) <= k`)
  * shuffles and sorts EVERY scored row — at a billion-vector corpus
  * that is a billion-row shuffle per query batch. This aggregate is
  * algebraic in the Spark sense: partial buffers of at most k entries
  * per partition, merged associatively, so the shuffle carries
  * `k × 16 bytes` per (group × partition) regardless of corpus size.
  *
  * Determinism: the comparator is a total order (ties on score break by
  * id asc), so results are independent of partitioning and identical to
  * the window formulation — the ANN oracle checks remain bit-exact.
  */
case class TopKPairs(
    child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKPairs.Heap] {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(TopKPairs.entryType, containsNull = false)
  override def prettyName: String = "top_k_pairs"

  override def createAggregationBuffer(): TopKPairs.Heap = new TopKPairs.Heap(k)

  override def update(buf: TopKPairs.Heap, input: InternalRow): TopKPairs.Heap = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      buf.offer(row.getDouble(0), row.getLong(1))
    }
    buf
  }

  override def merge(a: TopKPairs.Heap, b: TopKPairs.Heap): TopKPairs.Heap = {
    b.foreach(a.offer)
    a
  }

  override def eval(buf: TopKPairs.Heap): Any = {
    // best-first: score desc, id asc
    val arr = buf.toArray.sortWith { case ((s1, i1), (s2, i2)) =>
      s1 > s2 || (s1 == s2 && i1 < i2)
    }
    new GenericArrayData(arr.map { case (s, i) => InternalRow(s, i) })
  }

  override def serialize(buf: TopKPairs.Heap): Array[Byte] = {
    val entries = buf.toArray
    val bb = ByteBuffer.allocate(4 + entries.length * 16)
    bb.putInt(entries.length)
    entries.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKPairs.Heap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val h = new TopKPairs.Heap(k)
    var i = 0
    while (i < n) { h.offer(bb.getDouble, bb.getLong); i += 1 }
    h
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKPairs = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKPairs = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): TopKPairs =
    copy(child = cs.head)
}

object TopKPairs {
  val entryType: StructType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false)))

  /** Size-bounded min-heap under (score asc, id desc) so the head is
    * always the WORST kept entry; offer() evicts it when a better pair
    * arrives. */
  final class Heap(k: Int) {
    // initial capacity stays small: a huge k (e.g. a rerank shortlist
    // sized "larger than any corpus") must not eagerly allocate k slots
    // in every partial buffer — the queue grows to live size only
    private val q = new java.util.PriorityQueue[(Double, Long)](math.min(k, 16),
      (a: (Double, Long), b: (Double, Long)) => {
        val c = java.lang.Double.compare(a._1, b._1)
        if (c != 0) c else java.lang.Long.compare(b._2, a._2)
      })
    private def better(s: Double, i: Long, w: (Double, Long)): Boolean =
      s > w._1 || (s == w._1 && i < w._2)
    def offer(s: Double, i: Long): Unit = {
      if (q.size < k) q.offer((s, i))
      else if (better(s, i, q.peek())) { q.poll(); q.offer((s, i)) }
    }
    def offer(e: (Double, Long)): Unit = offer(e._1, e._2)
    def foreach(f: ((Double, Long)) => Unit): Unit = q.forEach(e => f(e))
    def toArray: Array[(Double, Long)] = q.toArray(Array.empty[(Double, Long)])
  }

  /** Column API: array<struct<score,id>> of the k best pairs, best first. */
  def top_k_pairs(score: Column, id: Column, k: Int): Column = {
    val struct = CreateNamedStruct(Seq(
      Literal("score"), ColumnBridge.expression(score),
      Literal("id"), ColumnBridge.expression(id)))
    ColumnBridge.column(TopKPairs(struct, k).toAggregateExpression())
  }
}
