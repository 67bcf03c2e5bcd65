package graft.operators

import graft.functions.native.Native
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trajectory / event-sequence similarity search (the REPOSE-class
  * workload: top-k most similar trajectories per probe). A trajectory is
  * a key's time-ordered (t, v) point sequence — relative minutes since
  * the key's first event against the event value.
  *
  * Distance = symmetric discrete Hausdorff: H(A,B) = max(h(A,B), h(B,A)),
  * h(A,B) = max over a of min over b of euclidean((t,v)). Computed by
  * the fused native kernel ([[graft.functions.native.HausdorffDistance]])
  * on the grouped point arrays — no UDF, no per-point row explosion at
  * compare time.
  *
  * Scale shape: pairwise comparison is blocked by a MIN-VALUE CELL of
  * width `cellWidth`, probing each key's own and adjacent cells. This is
  * exact for every pair with H(A,B) <= cellWidth: by the B->A directed
  * pass every point of B lies within H of some point of A, so
  * min_v(B) >= min_v(A) - H, and symmetrically — hence
  * |min_v(A) - min_v(B)| <= H, and two minima within cellWidth land in
  * the same or adjacent cells. (The mean does NOT satisfy this bound —
  * multiplicity differences break it — which is why the block key is the
  * extremum.) Pairs farther apart than the cell width may be missed — they
  * cannot enter a top-k at radius <= cellWidth, which is the search
  * contract (same bounded-candidates trade as the interval-bucketed
  * join and SemDeDup's cluster bound). Within a cell the work is
  * quadratic in cell population — cellWidth controls the bound.
  *
  * Group state is bounded: trajectories are per-key event sequences
  * (bounded per key by upstream sessionization/segmentation at scale);
  * the collect_list is per key, not global, and sort_array makes the
  * point order total and deterministic.
  */
object TrajectorySim {

  /** Far beyond any sessionized/segmented trajectory, far below what one
    * task can hold: the Guards-style contract that "bounded per key" is
    * enforced, not assumed. The check runs after the per-key aggregate
    * (same pass — no extra shuffle), so it turns the quiet
    * giant-array-and-wrong-latency band into a loud contract error with
    * the offending key id; a key unbounded enough to OOM the aggregate
    * itself needs upstream segmentation regardless (a separate
    * count-first pass would pre-empt that at the cost of a second
    * shuffle over the events). */
  val MaxPointsPerKey = 100000

  private def traj(events: DataFrame, keyCol: String, tsCol: String,
                   tieCol: String, valCol: String): DataFrame =
    events
      // no-NaN precondition of the Hausdorff kernels, enforced here: the
      // native early-break loop ignores NaN distances (its `d < mn`
      // comparison is false for NaN) while the HOF fallback's
      // array_min/array_max order NaN as the LARGEST double, so a NaN
      // value could score differently between the two paths. Dropping
      // NaN points makes both paths see the same (NaN-free) trajectory;
      // NULL values are already skipped by collect_list.
      .where(!isnan(col(valCol).cast("double")))
      .groupBy(col(keyCol).as("id"))
      .agg(
        sort_array(collect_list(struct(
          // cast first: unix_micros rejects TIMESTAMP_NTZ; identity no-op
          // when the column is already TIMESTAMP (UTC session convention)
          unix_micros(col(tsCol).cast("timestamp")).as("us"),
          col(tieCol).as("tie"),
          col(valCol).cast("double").as("v")))).as("pts"),
        min(col(valCol).cast("double")).as("min_v"))
      .withColumn("pts",
        when(size(col("pts")) > MaxPointsPerKey, raise_error(concat(
          lit(s"[graft] trajectory exceeds $MaxPointsPerKey points for key "),
          col("id").cast("string"),
          lit(" — segment/sessionize upstream"))))
          .otherwise(col("pts")))
      .withColumn("t0", col("pts")(0)("us"))
      .withColumn("traj", transform(col("pts"),
        p => struct(((p("us") - col("t0")) / lit(6.0e7)).as("t"),
          p("v").as("v"))))
      .select(col("id"), col("traj"), col("min_v"))

  /** Top-k most-similar trajectories per probe key:
    * (id1, rk, id2, hausdorff). `isProbe` selects the probe set against
    * the trajectory frame's `id` column — probe-set-sized work, the ANN
    * contract (q26/q29's shape); an all-pairs sweep is the same operator
    * with isProbe = true and a tighter cellWidth bounding each cell's
    * quadratic. Rank order is total (distance asc, id2) and the distance
    * doubles are identical across engines (same expression tree, same
    * point order), so the selection is deterministic. */
  def hausdorffTopK(events: DataFrame, keyCol: String, tsCol: String,
                    tieCol: String, valCol: String, k: Int,
                    isProbe: Column, cellWidth: Double = 5.0): DataFrame = {
    val t = traj(events, keyCol, tsCol, tieCol, valCol)
    val cell = floor(col("min_v") / cellWidth).cast("long")
    // probe side fans out to its own and adjacent cells; candidate side
    // sits in its home cell -> equi-join on the cell id, no nested loop
    val probes = t.where(isProbe)
      .withColumn("cell", explode(array(cell - 1, cell, cell + 1)))
      .select(col("id").as("id1"), col("traj").as("ta"), col("cell"))
    val cands = t
      .select(col("id").as("id2"), col("traj").as("tb"), cell.as("cell"))
    // fused early-break native kernel (see HausdorffDistance)
    val h = Native.hausdorff(col("ta"), col("tb"))
    // no pair dedup: the probe's three cells are distinct values and a
    // candidate sits in exactly one cell, so each (id1, id2) pair joins
    // at most once — a dropDuplicates would add a full shuffle of the
    // scored pairs for nothing
    val scored = probes.join(cands, Seq("cell"))
      .where(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"), h.as("h"))
    val w = Window.partitionBy("id1").orderBy(col("h"), col("id2"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("id1"), col("rk"), col("id2"), round(col("h"), 6).as("hausdorff"))
  }
}
