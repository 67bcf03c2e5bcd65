package graft.functions.native

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native PER-GROUP weighted bottom-k sketch aggregate (priority
  * sampling — the keyed form of
  * [[graft.operators.Sketches.weightedBottomK]]): the k+1 rows with the
  * LARGEST priorities p = w/u under the total order (p desc, h asc,
  * v asc), as an array<struct<p double, h bigint, v double, w double>>
  * in that order. k sample rows plus the threshold row, so the (k+1)-th
  * priority τ — and with it every Horvitz–Thompson adjusted weight
  * max(w, τ) — survives however the group was partitioned.
  *
  * The window formulation (`row_number over (partition by key order by
  * p desc) <= k+1`) is value-identical but SORTS WHOLE GROUPS — at
  * 100 TB the per-key sort IS the job the sketch exists to avoid. This
  * aggregate keeps one sorted ≤(k+1)-slot buffer per group, updates by
  * binary-search insertion, merges by insertion (top-(k+1) of a union
  * is the top-(k+1) of per-shard top-(k+1)s under the same total
  * order), and ships at most 32(k+1)+4 bytes per group through the
  * exchange however large the group is.
  *
  * Null or non-finite priorities are skipped (the operator's
  * null/NaN/non-positive-weight drop happens upstream, map-side; the
  * skip here is the belt to that suspenders). `k` must be a foldable
  * positive INT — the sketch width is a plan-time constant.
  *
  * [[graft.operators.Sketches.weightedBottomKByKey]] builds it through
  * [[Native.weightedBottomK]]; SQL callers reach it as `graft_wbk`, the
  * name [[graft.GraftExtensions]] registers.
  */
case class WeightedBottomKAgg(
    pExpr: Expression,
    hExpr: Expression,
    vExpr: Expression,
    wExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[WeightedBottomKAgg.Buf] {

  override def children: Seq[Expression] =
    Seq(pExpr, hExpr, vExpr, wExpr, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("p", DoubleType, nullable = false),
      StructField("h", LongType, nullable = false),
      StructField("v", DoubleType, nullable = false),
      StructField("w", DoubleType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_wbk"

  private lazy val k: Int = kExpr.eval(null).asInstanceOf[Int]

  override def checkInputDataTypes(): TypeCheckResult =
    if (pExpr.dataType != DoubleType || vExpr.dataType != DoubleType ||
        wExpr.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires DOUBLE (p, v, w) arguments")
    else if (hExpr.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT hash argument, got ${hExpr.dataType.sql}")
    else if (kExpr.dataType != IntegerType || !kExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable INT k, got ${kExpr.sql}")
    else if (kExpr.eval(null) == null || kExpr.eval(null).asInstanceOf[Int] < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires k >= 1")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): WeightedBottomKAgg.Buf =
    new WeightedBottomKAgg.Buf(k + 1)

  override def update(buf: WeightedBottomKAgg.Buf,
                      input: InternalRow): WeightedBottomKAgg.Buf = {
    val p = pExpr.eval(input)
    val h = hExpr.eval(input)
    val v = vExpr.eval(input)
    val w = wExpr.eval(input)
    if (p != null && h != null && v != null && w != null) {
      val pd = p.asInstanceOf[Double]
      if (!pd.isNaN)
        buf.insert(pd, h.asInstanceOf[Long], v.asInstanceOf[Double],
          w.asInstanceOf[Double])
    }
    buf
  }

  override def merge(buf: WeightedBottomKAgg.Buf,
                     other: WeightedBottomKAgg.Buf): WeightedBottomKAgg.Buf = {
    var i = 0
    while (i < other.size) {
      buf.insert(other.ps(i), other.hs(i), other.vs(i), other.ws(i))
      i += 1
    }
    buf
  }

  override def eval(buf: WeightedBottomKAgg.Buf): Any = {
    val rows = new Array[Any](buf.size)
    var i = 0
    while (i < buf.size) {
      rows(i) = InternalRow(buf.ps(i), buf.hs(i), buf.vs(i), buf.ws(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: WeightedBottomKAgg.Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 32)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) {
      bb.putDouble(buf.ps(i)); bb.putLong(buf.hs(i))
      bb.putDouble(buf.vs(i)); bb.putDouble(buf.ws(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): WeightedBottomKAgg.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new WeightedBottomKAgg.Buf(k + 1)
    var i = 0
    while (i < n) {
      buf.ps(i) = bb.getDouble(); buf.hs(i) = bb.getLong()
      buf.vs(i) = bb.getDouble(); buf.ws(i) = bb.getDouble()
      i += 1
    }
    buf.size = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): WeightedBottomKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): WeightedBottomKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WeightedBottomKAgg =
    copy(pExpr = newChildren(0), hExpr = newChildren(1),
      vExpr = newChildren(2), wExpr = newChildren(3), kExpr = newChildren(4))
}

object WeightedBottomKAgg {
  /** ≤cap-slot parallel-array buffer, sorted by (p desc, h asc, v asc). */
  final class Buf(cap: Int) {
    val ps = new Array[Double](cap)
    val hs = new Array[Long](cap)
    val vs = new Array[Double](cap)
    val ws = new Array[Double](cap)
    var size: Int = 0

    /** true when (p1,h1,v1) sorts strictly BEFORE (p2,h2,v2). */
    @inline private def before(p1: Double, h1: Long, v1: Double,
                               p2: Double, h2: Long, v2: Double): Boolean =
      p1 > p2 || (p1 == p2 && (h1 < h2 || (h1 == h2 && v1 < v2)))

    def insert(p: Double, h: Long, v: Double, w: Double): Unit = {
      if (size == cap &&
          !before(p, h, v, ps(size - 1), hs(size - 1), vs(size - 1)))
        return // beyond the current (k+1)-th priority
      // linear scan from the tail: insertions cluster at the tail for
      // random input, and cap is small (k+1)
      var idx = size
      while (idx > 0 &&
          before(p, h, v, ps(idx - 1), hs(idx - 1), vs(idx - 1))) idx -= 1
      val last = math.min(size, cap - 1)
      var i = last
      while (i > idx) {
        ps(i) = ps(i - 1); hs(i) = hs(i - 1)
        vs(i) = vs(i - 1); ws(i) = ws(i - 1)
        i -= 1
      }
      if (idx < cap) {
        ps(idx) = p; hs(idx) = h; vs(idx) = v; ws(idx) = w
        if (size < cap) size += 1
      }
    }
  }
}
