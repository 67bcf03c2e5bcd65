package graft.functions.native

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Native SimHash signature aggregate: one pass over a group's 64-bit
  * token hashes -> the 64-bit SimHash signature.
  *
  * The expression form evaluates 64
  * separate conditional-sum aggregates per row — 64 CASE trees, 64 sum
  * buffers, 64 codegen columns flowing through partial and final
  * aggregation. This aggregate keeps ONE long[64] counter buffer per
  * group and updates it with a tight bit-shift loop per row; partial
  * aggregation, shuffle of 512-byte buffers, and merge-by-addition come
  * from TypedImperativeAggregate. Semantics are bit-identical to the
  * expression form (and to the DuckDB oracle that replays it): bit b counts
  * +1 when (h >> b) & 1 = 1 else -1, a NULL hash contributes -1 to every
  * bit (the CASE's ELSE branch), and the signature sets bit b iff its
  * counter is strictly positive. An empty group evaluates to signature 0
  * (all counters 0, none strictly positive) — same as the expression
  * form's null sums.
  *
  * Dedup.withSimHash builds it through [[Native.simHash]]; SQL callers
  * reach it as `graft_simhash`, the name [[graft.GraftExtensions]]
  * registers.
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT hash argument, got ${child.dataType.sql}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) {
      var b = 0
      while (b < 64) { buf(b) -= 1L; b += 1 }
    } else {
      val h = v.asInstanceOf[Long]
      var b = 0
      while (b < 64) {
        buf(b) += (if (((h >>> b) & 1L) == 1L) 1L else -1L)
        b += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var b = 0
    while (b < 64) { buf(b) += other(b); b += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (buf(b) > 0L) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(64 * 8)
    var b = 0
    while (b < 64) { bb.putLong(buf(b)); b += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](64)
    var b = 0
    while (b < 64) { buf(b) = bb.getLong(); b += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SimHashAgg =
    copy(child = newChildren.head)
}
