package graft.functions.native

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Misra–Gries heavy-hitter summary aggregate: at most `k`
  * (key, count) counters per group, as a key-sorted
  * array<struct<key string, cnt bigint>>.
  *
  * The deterministic frequency guarantee (Misra & Gries 1982; mergeable
  * form Agarwal et al., PODS 2012 "Mergeable Summaries"): for every key,
  * summary_count <= true_count <= summary_count + n/(k+1), where n is the
  * group's total row count — so EVERY key with true frequency
  * > n/(k+1) is present in the summary, whatever the partitioning. That
  * superset guarantee is the whole point: a bounded candidate pass
  * (k counters per partial state, 'k' structs through the exchange)
  * followed by an exact count of just the candidates computes EXACT
  * heavy hitters over 100 TB in two scans, no full-key census shuffle.
  *
  * Summary CONTENTS (which light keys ride along, and their clipped
  * counts) depend on merge order, so callers must treat the output as a
  * candidate set and re-count exactly — the [[graft.operators.Sketches
  * .heavyHitters]] operator does, and only that verified output is
  * deterministic/oracle-checkable.
  *
  * update: present key +1; else free slot -> insert at 1; else decrement
  * ALL counters by 1, dropping zeros (the classic step — this is where
  * the n/(k+1) slack comes from). merge: pointwise sum, then subtract the
  * (k+1)-th largest count from every counter and drop non-positives
  * (the PODS'12 merge — keeps the additive error bound while truncating
  * back to k slots). Null keys are skipped (no set member, matching
  * count(col) semantics).
  *
  * Sketches.heavyHitters builds it through [[Native.misraGries]]; SQL
  * callers reach it as `graft_mg`, the name [[graft.GraftExtensions]]
  * registers.
  */
case class MisraGriesAgg(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MisraGriesAgg.Buf] {

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("key", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_mg"

  private lazy val k: Int = kExpr.eval(null).asInstanceOf[Int]

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a STRING key argument, got ${child.dataType.sql}")
    else if (kExpr.dataType != IntegerType || !kExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable INT k, got ${kExpr.sql}")
    else if (kExpr.eval(null) == null || kExpr.eval(null).asInstanceOf[Int] < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires k >= 1")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): MisraGriesAgg.Buf =
    new MisraGriesAgg.Buf(k)

  override def update(buf: MisraGriesAgg.Buf, input: InternalRow): MisraGriesAgg.Buf = {
    val v = child.eval(input)
    if (v != null) buf.offer(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: MisraGriesAgg.Buf, other: MisraGriesAgg.Buf): MisraGriesAgg.Buf = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: MisraGriesAgg.Buf): Any = {
    val rows = buf.counts.toArray.sortBy(_._1).map { case (key, cnt) =>
      InternalRow(UTF8String.fromString(key), cnt)
    }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: MisraGriesAgg.Buf): Array[Byte] = {
    val entries = buf.counts.toArray.map { case (key, cnt) =>
      (key.getBytes(StandardCharsets.UTF_8), cnt)
    }
    val bb = ByteBuffer.allocate(4 + entries.map(_._1.length + 12).sum)
    bb.putInt(entries.length)
    entries.foreach { case (kb, cnt) =>
      bb.putInt(kb.length); bb.put(kb); bb.putLong(cnt)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MisraGriesAgg.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new MisraGriesAgg.Buf(k)
    var n = bb.getInt()
    while (n > 0) {
      val kb = new Array[Byte](bb.getInt()); bb.get(kb)
      buf.counts.update(new String(kb, StandardCharsets.UTF_8), bb.getLong())
      n -= 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

object MisraGriesAgg {
  /** A Misra–Gries summary: <= k live counters. */
  final class Buf(val k: Int) {
    val counts: mutable.HashMap[String, Long] = mutable.HashMap.empty

    /** Classic MG update step. */
    def offer(key: String): Unit = counts.get(key) match {
      case Some(c) => counts.update(key, c + 1)
      case None if counts.size < k => counts.update(key, 1L)
      case None =>
        // collision with a full table: decrement everything, drop zeros
        val dead = mutable.ArrayBuffer.empty[String]
        counts.foreach { case (key2, c) =>
          if (c == 1L) dead += key2 else counts.update(key2, c - 1)
        }
        dead.foreach(counts.remove)
    }

    /** PODS'12 mergeable-summaries merge: pointwise sum, then truncate to
      * k slots by subtracting the (k+1)-th largest count from all. */
    def mergeFrom(other: Buf): Unit = {
      other.counts.foreach { case (key, c) =>
        counts.update(key, counts.getOrElse(key, 0L) + c)
      }
      if (counts.size > k) {
        val sorted = counts.values.toArray
        java.util.Arrays.sort(sorted)
        val cut = sorted(sorted.length - k - 1) // (k+1)-th largest
        val dead = mutable.ArrayBuffer.empty[String]
        counts.foreach { case (key, c) =>
          if (c - cut <= 0L) dead += key else counts.update(key, c - cut)
        }
        dead.foreach(counts.remove)
      }
    }
  }
}
