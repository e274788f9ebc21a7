package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k aggregate: keep the k (value, id) pairs with the
  * largest value — ties broken by SMALLEST id — as a
  * `TypedImperativeAggregate` with a fixed-size buffer.
  *
  * Why it exists (scale): `row_number().over(partitionBy(key)) <= k`
  * shuffles and sorts EVERY row of every group. This aggregate is
  * algebraic — each map task keeps at most k pairs per group, the
  * shuffle carries only partial heaps, and no global sort ever happens.
  * At 100 TB the window formulation moves the whole fact table; this
  * moves #groups × k rows.
  *
  * Output: array<struct<value double, id bigint>> sorted by
  * (value desc, id asc) — explode for a row-shaped top-k.
  */
case class TopKAgg(
    valueExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKAgg.Buffer] {

  override def children: Seq[Expression] = Seq(valueExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", DoubleType), StructField("id", LongType))))

  override def createAggregationBuffer(): TopKAgg.Buffer =
    new TopKAgg.Buffer(k)

  override def update(buf: TopKAgg.Buffer, input: InternalRow): TopKAgg.Buffer = {
    val v = valueExpr.eval(input)
    val id = idExpr.eval(input)
    if (v != null && id != null)
      buf.offer(v.asInstanceOf[Double], id.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKAgg.Buffer, other: TopKAgg.Buffer): TopKAgg.Buffer = {
    other.foreach((v, id) => buf.offer(v, id))
    buf
  }

  override def eval(buf: TopKAgg.Buffer): Any = {
    val sorted = buf.sortedPairs
    new GenericArrayData(sorted.map { case (v, id) =>
      InternalRow(v, id)
    })
  }

  override def serialize(buf: TopKAgg.Buffer): Array[Byte] = {
    val pairs = buf.sortedPairs
    val bb = ByteBuffer.allocate(4 + pairs.length * 16)
    bb.putInt(pairs.length)
    pairs.foreach { case (v, id) => bb.putDouble(v); bb.putLong(id) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKAgg.Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKAgg.Buffer(k)
    var i = 0
    while (i < n) { buf.offer(bb.getDouble, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(valueExpr = newChildren(0), idExpr = newChildren(1))

  override def prettyName: String = "top_k_by_value"
}

object TopKAgg {

  /** Fixed-capacity buffer ordered worst-first so eviction is O(log k).
    * "Better" = larger value, then smaller id.
    *
    * Value comparison matches Spark's ordering for the replaced
    * `row_number() over (order by value DESC, id)` window on degenerate
    * doubles (r16, ADVICE): NaN sorts ABOVE every value — so it ranks
    * FIRST under desc — and -0.0 equals 0.0 (Spark normalizes the
    * zeros). `java.lang.Double.compare` gets NaN right but splits the
    * zeros, and the previous primitive `v > worst` test silently
    * DROPPED a NaN once the buffer was full (NaN > x and NaN == x are
    * both false). One normalized comparator now drives the offer test,
    * the eviction heap and the final sort, so the rank contract holds
    * even on e.g. a 0/0 cosine from a zero-norm embedding.
    */
  final class Buffer(k: Int) {
    import Buffer.cmp

    private val heap = new java.util.PriorityQueue[(Double, Long)](
      math.max(k, 1),
      // worst pair at the head: ascending "betterness"
      (a: (Double, Long), b: (Double, Long)) =>
        cmp(a._1, a._2, b._1, b._2))

    def offer(v: Double, id: Long): Unit = {
      if (heap.size < k) heap.add((v, id))
      else {
        val worst = heap.peek()
        if (cmp(v, id, worst._1, worst._2) > 0) { heap.poll(); heap.add((v, id)) }
      }
    }

    def foreach(f: (Double, Long) => Unit): Unit =
      heap.iterator().forEachRemaining(p => f(p._1, p._2))

    /** (value desc, id asc). */
    def sortedPairs: Array[(Double, Long)] = {
      val arr = new Array[(Double, Long)](heap.size)
      heap.toArray(arr)
      scala.util.Sorting.stableSort(arr,
        (a: (Double, Long), b: (Double, Long)) => cmp(a._1, a._2, b._1, b._2) > 0)
      arr
    }
  }

  object Buffer {
    /** > 0 iff (v1, id1) is BETTER than (v2, id2): larger value first
      * (NaN counts as largest, -0.0 == 0.0 — Spark's desc order), then
      * smaller id.
      */
    private[functions] def cmp(v1: Double, id1: Long, v2: Double, id2: Long): Int = {
      val c = java.lang.Double.compare(
        if (v1 == 0.0) 0.0 else v1, if (v2 == 0.0) 0.0 else v2)
      if (c != 0) c else java.lang.Long.compare(id2, id1)
    }
  }

  /** Column API: top-k (value, id) pairs per group (registers the
    * function on first use).
    */
  def topK(spark: org.apache.spark.sql.SparkSession, valueCol: String,
      idCol: String, k: Int): Column = {
    graft.sql.GraftExtensions.register(spark)
    org.apache.spark.sql.functions.expr(
      s"top_k_by_value($valueCol, $idCol, $k)")
  }
}
