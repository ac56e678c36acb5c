package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Per-key top-k as a BOUNDED-HEAP AGGREGATE — the scale-correct form of
  * `row_number() OVER (PARTITION BY key ORDER BY ord DESC) <= k`.
  *
  * The window form sorts EVERY row of every key after shuffling them all;
  * this aggregate keeps a k-element min-heap per key and, being a proper
  * aggregate function, gets map-side partial aggregation for free: each
  * map task sends at most k rows per key through the shuffle instead of
  * all of them. At 100 TB with k=3 that is the difference between
  * shuffling the fact table and shuffling (3 × tasks × keys) rows.
  * Planned via ObjectHashAggregateExec (TypedImperativeAggregate).
  *
  * `topk_by(ord, payload, k)` returns the k largest (ord, payload) pairs
  * as `array<struct<ord double, payload bigint>>`, sorted (ord DESC,
  * payload ASC) — ties prefer the SMALLER payload, matching
  * `ORDER BY ord DESC, payload ASC` row_number semantics exactly.
  * Null ord or payload rows are skipped (a window rank would place them
  * last anyway for k ≪ group size).
  */
case class TopKByAgg(
    ord: Expression,
    payload: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKByAgg.Heap] {

  // any foldable int expression works (constant folding may not have
  // collapsed it to a Literal yet); validity is enforced at analysis in
  // checkInputDataTypes, so evaluation here cannot throw at runtime
  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(ord, payload, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ord", DoubleType), StructField("payload", LongType))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (!(ord.dataType == DoubleType && payload.dataType == LongType &&
        kExpr.foldable && kExpr.dataType == IntegerType))
      TypeCheckResult.TypeCheckFailure(
        s"topk_by expects (double, bigint, int literal), got " +
          s"(${ord.dataType.simpleString}, ${payload.dataType.simpleString}, ${kExpr.dataType.simpleString})")
    else kExpr.eval() match {
      // reject k < 1 at ANALYSIS — a zero-capacity heap would NPE on its
      // first offer at execution time
      case v: Int if v >= 1 => TypeCheckResult.TypeCheckSuccess
      case v => TypeCheckResult.TypeCheckFailure(s"topk_by: k must be >= 1, got $v")
    }

  override def createAggregationBuffer(): TopKByAgg.Heap = new TopKByAgg.Heap(k)

  override def update(buf: TopKByAgg.Heap, input: InternalRow): TopKByAgg.Heap = {
    val o = ord.eval(input); val p = payload.eval(input)
    if (o != null && p != null) buf.offer(o.asInstanceOf[Double], p.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKByAgg.Heap, other: TopKByAgg.Heap): TopKByAgg.Heap = {
    other.foreach((o, p) => buf.offer(o, p))
    buf
  }

  override def eval(buf: TopKByAgg.Heap): Any = {
    val arr = buf.sortedDesc.map { case (o, p) => InternalRow(o, p) }
    new GenericArrayData(arr.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: TopKByAgg.Heap): Array[Byte] = {
    val items = buf.toArray
    val bb = ByteBuffer.allocate(4 + items.length * 16)
    bb.putInt(items.length)
    items.foreach { case (o, p) => bb.putDouble(o); bb.putLong(p) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKByAgg.Heap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKByAgg.Heap(k)
    var i = 0
    while (i < n) { buf.offer(bb.getDouble, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKByAgg =
    copy(ord = newChildren(0), payload = newChildren(1), kExpr = newChildren(2))
  override def prettyName: String = "topk_by"
}

object TopKByAgg {
  /** k-bounded min-heap over (ord, payload); the HEAD is the WORST kept
    * element under (ord DESC, payload ASC) preference — i.e. smallest
    * ord, ties resolved to the LARGEST payload. */
  final class Heap(k: Int) {
    private val q = new java.util.PriorityQueue[(Double, Long)](
      math.max(1, k),
      (a: (Double, Long), b: (Double, Long)) => {
        val c = java.lang.Double.compare(a._1, b._1)
        if (c != 0) c else java.lang.Long.compare(b._2, a._2)
      })

    private def better(o: Double, p: Long, worst: (Double, Long)): Boolean = {
      val c = java.lang.Double.compare(o, worst._1)
      c > 0 || (c == 0 && p < worst._2)
    }

    def offer(o: Double, p: Long): Unit =
      if (q.size < k) q.offer((o, p))
      else if (better(o, p, q.peek())) { q.poll(); q.offer((o, p)) }

    def foreach(f: (Double, Long) => Unit): Unit =
      q.forEach(t => f(t._1, t._2))

    def toArray: Array[(Double, Long)] = q.toArray(Array.empty[(Double, Long)])

    def sortedDesc: Array[(Double, Long)] =
      toArray.sortWith { (a, b) =>
        if (a._1 != b._1) a._1 > b._1 else a._2 < b._2
      }
  }
}
