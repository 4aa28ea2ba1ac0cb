package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Per-group top-k as a custom Catalyst AGGREGATE (the third extension
  * archetype next to the codegen scalar expressions and the whole-plan
  * as-of operator): each partition keeps one bounded k-entry heap per
  * group, partial heaps merge on the reduce side, and only k entries per
  * group ever cross the shuffle.
  *
  * Contrast with the window form (`row_number() OVER (PARTITION BY g
  * ORDER BY s DESC) <= k`), which shuffles and sorts EVERY row of every
  * group — at 100 TB the heap aggregate moves k·|groups| rows instead of
  * |input| rows, the difference between a pre-aggregated shuffle and a
  * raw one.
  *
  * Determinism: entries rank by (score desc, id asc) — ties at the k
  * boundary keep the smallest ids, matching the SQL window tie-break the
  * oracle uses. Null scores/ids are skipped (SQL aggregate convention).
  */
case class TopKByLong(
    score: Expression,
    payload: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[java.util.PriorityQueue[(Double, Long)]] {

  require(k >= 1, s"top-k needs k >= 1 (got $k)")

  override def children: Seq[Expression] = Seq(score, payload)
  override def nullable: Boolean         = false
  override def prettyName: String        = "graft_topk_by"

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType), StructField("id", LongType))),
    containsNull = false
  )

  private def newHeap() = new java.util.PriorityQueue[(Double, Long)](k + 1, TopKBy.WorstFirst)

  override def createAggregationBuffer(): java.util.PriorityQueue[(Double, Long)] = newHeap()

  private def offer(heap: java.util.PriorityQueue[(Double, Long)], s: Double, id: Long): Unit = {
    heap.offer((s, id))
    if (heap.size() > k) heap.poll()
  }

  override def update(
      heap: java.util.PriorityQueue[(Double, Long)],
      input: InternalRow
  ): java.util.PriorityQueue[(Double, Long)] = {
    val s  = score.eval(input)
    val id = payload.eval(input)
    if (s != null && id != null) offer(heap, s.asInstanceOf[Double], id.asInstanceOf[Long])
    heap
  }

  override def merge(
      heap: java.util.PriorityQueue[(Double, Long)],
      other: java.util.PriorityQueue[(Double, Long)]
  ): java.util.PriorityQueue[(Double, Long)] = {
    val it = other.iterator()
    while (it.hasNext) { val (s, id) = it.next(); offer(heap, s, id) }
    heap
  }

  override def eval(heap: java.util.PriorityQueue[(Double, Long)]): Any = {
    val entries = new Array[(Double, Long)](heap.size())
    var i = 0
    val it = heap.iterator()
    while (it.hasNext) { entries(i) = it.next(); i += 1 }
    // rank order: score desc, id asc
    val sorted = entries.sorted(Ordering.comparatorToOrdering(TopKBy.WorstFirst).reverse)
    new GenericArrayData(sorted.map { case (s, id) =>
      new GenericInternalRow(Array[Any](s, id)): Any
    })
  }

  override def serialize(heap: java.util.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(heap.size())
    val it = heap.iterator()
    while (it.hasNext) { val (s, id) = it.next(); out.writeDouble(s); out.writeLong(id) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[(Double, Long)] = {
    val in   = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val heap = newHeap()
    val n    = in.readInt()
    var i    = 0
    while (i < n) { offer(heap, in.readDouble(), in.readLong()); i += 1 }
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKByLong =
    copy(score = newChildren(0), payload = newChildren(1))
}

object TopKBy {

  /** Worst-first entry order, so a heap's head is the WORST kept entry:
    * lowest score, ties broken toward the largest id (larger id loses a
    * tie). Scores compare as SQL orders doubles (-0.0 == 0.0, NaN above
    * every number), so a -0.0/0.0 tie falls to the id as it does in the
    * window form.
    */
  private[functions] val WorstFirst: java.util.Comparator[(Double, Long)] = (a, b) => {
    val c = SQLOrderingUtil.compareDoubles(a._1, b._1)
    if (c != 0) c else java.lang.Long.compare(b._2, a._2)
  }

  /** array<struct<score,id>> of the group's top k by (score desc, id asc). */
  def topKByLong(score: Column, payload: Column, k: Int): Column =
    ColumnBridge.column(
      TopKByLong(
        ColumnBridge.expression(score),
        ColumnBridge.expression(payload),
        k
      ).toAggregateExpression()
    )
}
