package graft.functions.native

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native bottom-k (KMV) sketch aggregate: the k smallest DISTINCT
  * 64-bit hashes of a group, as a sorted ascending array<bigint>.
  *
  * The expression form (`slice(array_sort(collect_set(h)), 1, k)`) is
  * value-identical but its partial state is UNBOUNDED — collect_set
  * accumulates every distinct hash a partition saw, and the shuffle
  * ships all of them per group. Bottom-k of a union is the bottom-k of
  * unioned bottom-k's, so a sketch aggregate may truncate its PARTIAL
  * state to k values losslessly — this aggregate keeps one sorted
  * ≤k-slot long buffer per group, updates by binary-search insertion,
  * merges by linear merge-truncate, and ships at most 8k+8 bytes per
  * group through the exchange however large the group is. That bound is
  * the whole point at 100 TB: the ANF/HyperBall round over a hub node
  * with 10⁶ distinct reachable hashes shuffles k longs, not 10⁶.
  *
  * Null hashes are skipped (a null element carries no set member —
  * matching collect_set). An empty group evaluates to an empty array
  * (matching `slice(array_sort(collect_set(...)))` over no rows — the
  * caller's coalesce decides the semantics).
  *
  * `k` must be a foldable positive INT literal — the sketch width is a
  * plan-time constant (the codebook convention), not data.
  *
  * [[graft.graph.Graph.neighborhoodFunction]] builds it through
  * [[Native.bottomK]]; SQL callers reach it as `graft_bottomk`, the name
  * [[graft.GraftExtensions]] registers.
  */
case class BottomKAgg(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BottomKAgg.Buf] {

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bottomk"

  private lazy val k: Int = kExpr.eval(null).asInstanceOf[Int]

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT hash argument, got ${child.dataType.sql}")
    else if (kExpr.dataType != IntegerType || !kExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable INT k, got ${kExpr.sql}")
    else if (kExpr.eval(null) == null || kExpr.eval(null).asInstanceOf[Int] < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires k >= 1")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): BottomKAgg.Buf =
    new BottomKAgg.Buf(new Array[Long](k), 0)

  override def update(buf: BottomKAgg.Buf, input: InternalRow): BottomKAgg.Buf = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: BottomKAgg.Buf, other: BottomKAgg.Buf): BottomKAgg.Buf = {
    var i = 0
    while (i < other.size) { buf.insert(other.vals(i)); i += 1 }
    buf
  }

  override def eval(buf: BottomKAgg.Buf): Any =
    ArrayData.toArrayData(java.util.Arrays.copyOf(buf.vals, buf.size))

  override def serialize(buf: BottomKAgg.Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putLong(buf.vals(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BottomKAgg.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val vals = new Array[Long](k)
    var i = 0
    while (i < n) { vals(i) = bb.getLong(); i += 1 }
    new BottomKAgg.Buf(vals, n)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BottomKAgg =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

object BottomKAgg {
  /** Sorted ascending ≤k-slot buffer with distinct insertion. */
  final class Buf(val vals: Array[Long], var size: Int) {
    def insert(h: Long): Unit = {
      val k = vals.length
      if (size == k && h >= vals(size - 1)) return // beyond the kth smallest
      var idx = java.util.Arrays.binarySearch(vals, 0, size, h)
      if (idx >= 0) return // already present: DISTINCT semantics
      idx = -(idx + 1)
      val last = math.min(size, k - 1)
      var i = last
      while (i > idx) { vals(i) = vals(i - 1); i -= 1 }
      vals(idx) = h
      if (size < k) size += 1
    }
  }
}
