package graft.operators

import graft.functions.native.Native
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable-sketch aggregation — the 100 TB pattern behind q53's approx
  * aggregates: distinct counts over a petabyte corpus are computed as
  * per-partition/per-batch SKETCH PARTIALS (persisted as a binary column
  * in parquet), then merged later WITHOUT rescanning the data. Daily
  * batches write their sketches once; any cross-batch rollup (monthly
  * uniques, per-source overlap audits, dashboard totals) is a
  * sketch-union over kilobytes instead of a shuffle over terabytes.
  *
  * Built on Spark's Apache DataSketches HLL functions
  * (hll_sketch_agg / hll_union_agg / hll_sketch_estimate — public SQL
  * surface since 3.5). Sketch binaries are engine-defined, so this
  * surface is spec-verified against exact aggregates (SketchSpec) rather
  * than DuckDB-oracled, same exemption as q53.
  */
object Sketches {

  /** Per-group HLL sketch partials of `valueCol` distinct values.
    * `lgK` trades size for accuracy (12 -> ~1.6% RSE, 2^12 buckets). */
  def hllPartials(df: DataFrame, keys: Seq[String], valueCol: String,
                  lgK: Int = 12): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("hll_sketch"))

  /** Merge persisted partials up to a coarser grain (drop keys) — the
    * no-rescan rollup. Pass Nil for the global estimate. */
  def hllMergeEstimate(partials: DataFrame, keys: Seq[String],
                       out: String = "distinct_est"): DataFrame = {
    val merged = hll_sketch_estimate(hll_union_agg(col("hll_sketch"))).as(out)
    if (keys.isEmpty) partials.agg(merged)
    else partials.groupBy(keys.map(col): _*).agg(merged)
  }

  /** Estimate straight from one group's sketch column. */
  def estimate(sketch: Column): Column = hll_sketch_estimate(sketch)

  /** Pairwise distinct-set overlap by inclusion-exclusion over mergeable
    * HLL sketches: |A∩B| ≈ est(A) + est(B) − est(A∪B), where A∪B is a
    * SKETCH union (hll_union over kilobyte binaries), never a data
    * union — the per-source / per-batch overlap audit this module's
    * header promises. One scan builds a sketch per set (map-side partial
    * agg); the pairwise frame is a |sets|²-row self-join of the
    * |sets|-row sketch table — config-scale, broadcast, zero additional
    * passes over the data at any corpus size. Spark's estimator returns
    * longs; they are cast to double so the inclusion-exclusion
    * difference can go (slightly) negative instead of wrapping. Callers
    * asserting against exact counts should allow ~3·RSE per constituent
    * estimate (RSE ≈ 1.04/√2^lgK).
    *
    * Returns (set_a, set_b, est_a, est_b, est_union, est_intersection)
    * for every unordered pair set_a < set_b.
    */
  def overlapEstimate(df: DataFrame, setCol: Column, elemCol: Column,
                      lgK: Int = 12): DataFrame = {
    val parts = df.select(setCol.as("set_id"), elemCol.as("elem"))
      .groupBy("set_id")
      .agg(hll_sketch_agg(col("elem"), lit(lgK)).as("sk"))
    val a = parts.select(col("set_id").as("set_a"), col("sk").as("__ska"))
    val b = parts.select(col("set_id").as("set_b"), col("sk").as("__skb"))
    a.join(broadcast(b), col("set_a") < col("set_b"))
      .select(col("set_a"), col("set_b"),
        hll_sketch_estimate(col("__ska")).cast("double").as("est_a"),
        hll_sketch_estimate(col("__skb")).cast("double").as("est_b"),
        hll_sketch_estimate(hll_union(col("__ska"), col("__skb")))
          .cast("double").as("est_union"))
      .withColumn("est_intersection",
        col("est_a") + col("est_b") - col("est_union"))
  }

  /** Bloom-filter bitmap over a key column (Bloom 1970) — the
    * broadcastable "probably seen before" membership set for
    * cross-batch incremental dedup: build the bitmap over yesterday's
    * corpus once, ship `mBits/8` bytes to every executor, and filter
    * today's 100 TB with a map-only test (no join against yesterday's
    * keys at all). No false negatives; false-positive rate
    * ~(1-e^(-k*n/m))^k.
    *
    * Deterministic and engine-portable (unlike the engine-defined HLL
    * binaries above, so this one IS DuckDB-oracled): position i for
    * seed s is `md5Hash64(key, s) mod mBits` — the engine's standard
    * md5-derived integer — and the bitmap is `mBits/64` longs built by
    * ONE explode + bit_or partial aggregation (bit_or is commutative/
    * associative: map-side combine applies, and the OR of two batches'
    * bitmaps is the bitmap of their union — the HLL merge property, so
    * persisted per-shard bitmaps roll up without rescans).
    *
    * The collect is bounded by construction: mBits/64 longs
    * (config-scale — 2^16 bits = 8 KiB), independent of corpus size.
    */
  def bloomBitmap(df: DataFrame, keyCol: Column, mBits: Int,
                  seeds: Seq[Int]): IndexedSeq[Long] = {
    require(mBits > 0 && mBits % 64 == 0, s"mBits $mBits must be a multiple of 64")
    require(seeds.nonEmpty, "at least one hash seed")
    val pos = seeds.map(s =>
      pmod(graft.functions.Text.md5Hash64(keyCol, s), lit(mBits.toLong)))
    // null keys are not members (md5 of null is null — without the
    // filter the null position survives the explode and the collect
    // mapping NPEs); the probe side mirrors this with its false default
    val rows = df.where(keyCol.isNotNull)
      .select(explode(array(pos: _*)).as("p"))
      .select((col("p") / 64).cast("int").as("w"),
        pmod(col("p"), lit(64L)).cast("int").as("b"))
      .groupBy("w")
      .agg(expr("bit_or(shiftleft(cast(1 as bigint), b))").as("bits"))
      .collect()
    val byWord = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until mBits / 64).map(w => byWord.getOrElse(w, 0L))
  }

  /** Map-side membership test against a literal bitmap: k mask-AND
    * probes per row, zero joins. Exact mirror of the build's bit math
    * (mask form on both engines — no shift-of-negative subtleties).
    * A null key tests false, matching the build's null-drop (SQL-null
    * propagation would otherwise make a .where() silently treat the
    * null as "not seen" while a different sink might keep it). */
  def bloomMightContain(keyCol: Column, bitmap: IndexedSeq[Long],
                        mBits: Int, seeds: Seq[Int]): Column = {
    require(bitmap.size * 64 == mBits, "bitmap size must match mBits")
    val words = array(bitmap.map(lit): _*)
    coalesce(seeds.map { s =>
      val p = pmod(graft.functions.Text.md5Hash64(keyCol, s), lit(mBits.toLong))
      val w = (p / 64).cast("int")
      val b = pmod(p, lit(64L)).cast("int")
      element_at(words, w + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), b)) =!= lit(0L)
    }.reduce(_ && _), lit(false))
  }

  /** Count-min sketch (Cormode & Muthukrishnan 2005) — approximate
    * per-key frequencies in depth x width counters, completing the
    * mergeable-sketch family: HLL answers "how many distinct", Bloom
    * answers "seen before", CMS answers "how often" — the heavy-hitter
    * / skew-diagnosis primitive a 100 TB shuffle plan consults before
    * choosing salting or a skew-join hint.
    *
    * Same determinism/portability contract as [[bloomBitmap]]: row d's
    * column for a key is `md5Hash64(key, seeds(d)) mod width`; the
    * build is ONE explode (depth cells per row) + a counting groupBy
    * whose OUTPUT is bounded by depth x width (config-scale), collected
    * to a literal matrix. Counters are mergeable cell-wise (+), so
    * per-shard sketches roll up without rescans. One-sided error:
    * estimate >= true count always; overestimate <= 2N/width with
    * probability 1 - (1/2)^depth.
    */
  def cmsTable(df: DataFrame, keyCol: Column, width: Int,
               seeds: Seq[Int]): IndexedSeq[IndexedSeq[Long]] = {
    require(width > 0, "width must be positive")
    require(seeds.nonEmpty, "at least one hash seed (depth row)")
    val cells = seeds.zipWithIndex.map { case (s, d) =>
      struct(lit(d).as("d"),
        pmod(graft.functions.Text.md5Hash64(keyCol, s), lit(width.toLong))
          .cast("int").as("w"))
    }
    // null keys are not counted (bloomBitmap's null-drop contract;
    // cmsEstimate's zero default is the consistent read)
    val rows = df.where(keyCol.isNotNull)
      .select(explode(array(cells: _*)).as("c"))
      .groupBy(col("c.d").as("d"), col("c.w").as("w"))
      .agg(count(lit(1)).as("n"))
      .collect()
    val byCell = rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    seeds.indices.map(d => (0 until width).map(w => byCell.getOrElse((d, w), 0L)))
  }

  /** Bottom-k uniform sample (the KMV / bottom-k sketch of Bar-Yossef
    * et al. 2002, used here as a quantile sketch) — keep the k rows whose
    * md5-derived hash is smallest. Because the hash is uniform and
    * key-deterministic, the kept rows are a uniform random sample WITHOUT
    * replacement, and the sketch is mergeable by construction: the
    * bottom-k of a union is the bottom-k of the per-shard bottom-k's, so
    * persisted per-batch samples roll up without rescans (same contract
    * as [[hllPartials]] / [[bloomBitmap]] / [[cmsTable]]).
    *
    * Sample order statistics estimate any quantile with distribution-free
    * DKW error: P(|F_sample - F| > eps) <= 2e^(-2k eps^2), i.e. k=256
    * gives ~8.5% rank error at 95% confidence — the "where is the p95"
    * answer a 100 TB profile pass wants without a global sort.
    *
    * Plan shape: orderBy(hash).limit(k) compiles to TakeOrderedAndProject
    * — a per-partition PARTIAL top-k (each task keeps k rows) and one
    * driver-side merge of numPartitions*k rows; no shuffle, no sort of
    * the data. Hash ties (astronomically unlikely, but the contract must
    * be total) break by value then hash-input id.
    */
  def bottomKSample(df: DataFrame, idCol: Column, valueCol: Column,
                    k: Int, seed: Int): DataFrame = {
    require(k > 0, "sample size k must be positive")
    df.where(valueCol.isNotNull && !isnan(valueCol))
      .select(valueCol.cast("double").as("v"),
        graft.functions.Text.md5Hash64(idCol.cast("string"), seed).as("h"))
      .orderBy(col("h"), col("v"))
      .limit(k)
  }

  /** Discrete quantile estimates from a [[bottomKSample]] frame: for each
    * requested q, the sample's ceil(q*n)-th order statistic (smallest
    * value whose sample rank covers q). Runs entirely on the k-row
    * sample under the [[Guards]] bounded single-partition contract —
    * the window sorts k rows, never the data. Output: one row per q
    * with (q, est, n_sample). */
  def sampleQuantiles(sample: DataFrame, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty, "at least one quantile")
    val part = Guards.constKey(col("h"))
    val w = Window.partitionBy(part).orderBy(col("v"), col("h"))
    sample
      .select(col("v"),
        row_number().over(w).as("rn"),
        Guards.bounded(count(lit(1)).over(Window.partitionBy(part)),
          col("h"), "bottom-k quantile sample").as("ns"))
      .select(explode(array(qs.map(lit): _*)).as("q"),
        col("v"), col("rn"), col("ns"))
      .where(col("rn") === greatest(lit(1L), ceil(col("q") * col("ns"))))
      .select(col("q"), col("v").as("est"), col("ns").as("n_sample"))
  }

  /** WEIGHT-AWARE bottom-k sketch (priority sampling — Duffield, Lund &
    * Thorup, JACM 2007; Ohlsson's sequential Poisson sampling is the
    * same order statistic) — the documented 100 TB swap for
    * [[Robust.weightedMedian]] / [[Robust.trimmedStats]], which sort
    * whole groups per key: keep the k+1 rows with the LARGEST priority
    * p = w / u, where u ∈ (0,1] is the row's md5-derived uniform. Rows
    * with large weight get large priorities, so the sample is a
    * weighted sample without replacement, and the (k+1)-th priority τ
    * makes the Horvitz–Thompson adjusted weight max(w, τ) of each kept
    * row an UNBIASED estimator of any weight-mass prefix sum
    * (E[Σ_{kept, v≤x} max(w,τ)] = Σ_{v≤x} w) — exactly what a weighted
    * quantile needs.
    *
    * Deterministic and engine-portable, unlike an exponential-race key
    * (-ln(u)/w): u = (h mod 2^53 + 1) / 2^53 is an exact power-of-two
    * scaling and p = w/u one IEEE division — both bit-identical across
    * engines, no libm in sight — so the whole sketch (and q233's gate)
    * replays in DuckDB SQL. Mergeable by construction: the top-(k+1)
    * of a union is the top-(k+1) of the per-shard top-(k+1)s under the
    * same total order (p desc, h, v) — persisted per-batch samples
    * roll up without rescans, the [[bottomKSample]] contract with
    * weights. Plan shape is the same TakeOrderedAndProject: per-task
    * partial top-k, driver merge of numPartitions·(k+1) rows, no
    * global sort.
    *
    * Rows with null/NaN value, or null/NaN/non-positive weight, are
    * dropped (a zero-weight row cannot move a weighted quantile; a
    * negative weight is undefined — the exact tier
    * [[Robust.weightedMedian]] raises on it).
    *
    * Returns k+1 rows (v, w, p, h): the k-row sample PLUS the
    * threshold row whose priority is τ — [[weightedSampleQuantiles]]
    * needs it, and merges need it to recompute τ after a union. */
  def weightedBottomK(df: DataFrame, idCol: Column, valueCol: Column,
                      weightCol: Column, k: Int, seed: Int): DataFrame = {
    require(k > 0, "sample size k must be positive")
    val two53 = 9007199254740992L // 2^53
    val h = graft.functions.Text.md5Hash64(idCol.cast("string"), seed)
    df.where(valueCol.isNotNull && !isnan(valueCol) &&
        weightCol.isNotNull && weightCol.cast("double") > 0 &&
        !isnan(weightCol.cast("double")))
      .select(valueCol.cast("double").as("v"),
        weightCol.cast("double").as("w"), h.as("h"))
      .withColumn("p", col("w") /
        ((pmod(col("h"), lit(two53)) + lit(1L)).cast("double") /
          lit(two53.toDouble)))
      .orderBy(col("p").desc, col("h"), col("v"))
      .limit(k + 1)
  }

  /** Weighted quantile estimates from a [[weightedBottomK]] frame: the
    * (k+1)-th priority is the threshold τ (0 when the sample is
    * exhaustive, i.e. fewer than k+1 rows survived — then every
    * adjusted weight is the exact weight and the estimates are EXACT);
    * each kept row's adjusted weight is round(max(w, τ), 6) — the 6-dp
    * decimal grid makes the cumulative sums order-exact, the
    * [[Robust.trimmedStats]] regime — and for each requested q the
    * estimate is the smallest sample value whose cumulative adjusted
    * weight reaches q·Ŵ (the [[Robust.weightedMedian]] threshold rule
    * at q = 0.5, so the exhaustive case degenerates to it exactly).
    * Runs entirely on the k-row sample under the [[Guards]] bounded
    * single-partition contract — the window sorts k rows, never the
    * data. Output: one row per q with (q, est, n_sample, w_est). */
  def weightedSampleQuantiles(sample: DataFrame, k: Int,
                              qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty, "at least one quantile")
    val part = Guards.constKey(col("h"))
    val byP = Window.partitionBy(part)
      .orderBy(col("p").desc, col("h"), col("v"))
    val ranked = sample
      .select(col("v"), col("w"), col("p"), col("h"),
        row_number().over(byP).as("__rk"),
        Guards.bounded(max(when(row_number().over(byP) === k + 1, col("p")))
          .over(Window.partitionBy(part)), col("h"),
          "weighted bottom-k sample").as("__tau"))
      .where(col("__rk") <= k)
      // pround, not round: τ can in principle land on a 6-dp half grid
      // point where Spark/DuckDB round() diverge — pround is the
      // identical IEEE tree on both engines in every case
      .withColumn("__aw",
        graft.functions.Exprs.pround(
          greatest(col("w"), coalesce(col("__tau"), lit(0.0))), 6)
          .cast("decimal(28,6)"))
    val byV = Window.partitionBy(Guards.constKey(col("h")))
      .orderBy(col("v"), col("h"))
    val cum = ranked
      .select(col("v"),
        sum(col("__aw")).over(byV).as("__cw"),
        sum(col("__aw")).over(Window.partitionBy(Guards.constKey(col("h"))))
          .as("__tw"),
        count(lit(1)).over(Window.partitionBy(Guards.constKey(col("h"))))
          .as("__ns"))
    cum.select(explode(array(qs.map(lit): _*)).as("q"),
        col("v"), col("__cw"), col("__tw"), col("__ns"))
      .where(col("__cw").cast("double") >=
        col("q") * col("__tw").cast("double"))
      .groupBy(col("q"))
      .agg(min(col("v")).as("est"),
        first(col("__ns")).as("n_sample"),
        first(col("__tw")).cast("double").as("w_est"))
      .select(col("q"), col("est"), col("n_sample"), col("w_est"))
  }

  /** PER-GROUP weighted bottom-k sketch — [[weightedBottomK]] with the
    * group key riding the aggregation, the sketch that replaces
    * [[Robust.weightedMedian]]'s per-key sort when groups are too large
    * to sort at 100 TB. It runs the native `graft_wbk`
    * TypedImperativeAggregate
    * ([[graft.functions.native.WeightedBottomKAgg]]): ≤(k+1)-slot
    * partial states, so the exchange ships the SKETCH per group, never
    * the group.
    *
    * Returns (keys..., p, h, v, w): ≤ k+1 rows per key under the total
    * order (p desc, h, v) — k sample rows plus the threshold row. */
  def weightedBottomKByKey(df: DataFrame, keys: Seq[String], idCol: Column,
                           valueCol: Column, weightCol: Column,
                           k: Int, seed: Int): DataFrame = {
    require(k > 0, "sample size k must be positive")
    require(keys.nonEmpty, "weightedBottomKByKey needs grouping keys")
    val two53 = 9007199254740992L // 2^53
    val h = graft.functions.Text.md5Hash64(idCol.cast("string"), seed)
    val base = df.where(valueCol.isNotNull && !isnan(valueCol) &&
        weightCol.isNotNull && weightCol.cast("double") > 0 &&
        !isnan(weightCol.cast("double")))
      .select((keys.map(col) ++ Seq(
        valueCol.cast("double").as("v"),
        weightCol.cast("double").as("w"), h.as("h"))): _*)
      .withColumn("p", col("w") /
        ((pmod(col("h"), lit(two53)) + lit(1L)).cast("double") /
          lit(two53.toDouble)))
    base.groupBy(keys.map(col): _*)
      .agg(Native.weightedBottomK(col("p"), col("h"), col("v"), col("w"), k)
        .as("__s"))
      .select((keys.map(col) :+ explode(col("__s")).as("__r")): _*)
      .select((keys.map(col) ++ Seq(col("__r.p").as("p"),
        col("__r.h").as("h"), col("__r.v").as("v"),
        col("__r.w").as("w"))): _*)
  }

  /** Per-key weighted quantiles from a [[weightedBottomKByKey]] frame —
    * the keyed [[weightedSampleQuantiles]]: per key, τ is the (k+1)-th
    * priority (0 when the key is exhaustive — estimates then EXACT),
    * adjusted weights max(w, τ) ride the 6-dp decimal grid, and each
    * requested q picks the smallest value whose cumulative adjusted
    * weight reaches q·Ŵ. All windows are keyed — naturally parallel,
    * ≤ k+1 rows per key. Output: (keys..., q, est, n_sample, w_est). */
  def weightedKeyedQuantiles(sample: DataFrame, keys: Seq[String], k: Int,
                             qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty, "at least one quantile")
    import graft.functions.Exprs.pround
    val byP = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("p").desc, col("h"), col("v"))
    val keyW = Window.partitionBy(keys.map(col): _*)
    val ranked = sample
      .withColumn("__rk", row_number().over(byP))
      .withColumn("__tau",
        max(when(col("__rk") === k + 1, col("p"))).over(keyW))
      .where(col("__rk") <= k)
      .withColumn("__aw",
        pround(greatest(col("w"), coalesce(col("__tau"), lit(0.0))), 6)
          .cast("decimal(28,6)"))
    val byV = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("v"), col("h"))
    val cum = ranked.select((keys.map(col) ++ Seq(
      col("v"), sum(col("__aw")).over(byV).as("__cw"),
      sum(col("__aw")).over(keyW).as("__tw"),
      count(lit(1)).over(keyW).as("__ns"))): _*)
    cum.select((keys.map(col) ++ Seq(
        explode(array(qs.map(lit): _*)).as("q"),
        col("v"), col("__cw"), col("__tw"), col("__ns"))): _*)
      .where(col("__cw").cast("double") >=
        col("q") * col("__tw").cast("double"))
      .groupBy((keys.map(col) :+ col("q")): _*)
      .agg(min(col("v")).as("est"),
        first(col("__ns")).as("n_sample"),
        first(col("__tw")).cast("double").as("w_est"))
  }

  /** Map-side frequency estimate against a literal CMS: depth lookups,
    * take the min — zero joins, the Bloom-probe shape with counters.
    * A null key estimates 0, matching the build's null-drop. */
  def cmsEstimate(keyCol: Column, table: IndexedSeq[IndexedSeq[Long]],
                  width: Int, seeds: Seq[Int]): Column = {
    require(table.size == seeds.size && table.forall(_.size == width),
      "table shape must be seeds.size x width")
    val lookups = seeds.zipWithIndex.map { case (s, d) =>
      val w = pmod(graft.functions.Text.md5Hash64(keyCol, s), lit(width.toLong))
      element_at(array(table(d).map(lit): _*), w.cast("int") + 1)
    }
    coalesce(if (lookups.size == 1) lookups.head else least(lookups: _*),
      lit(0L))
  }

  /** EXACT heavy hitters in two bounded scans — keys of `keyCol` whose
    * frequency is >= ceil(phi * n) (n = non-null key count), with their
    * exact counts and shares.
    *
    * The classic candidate/verify plan (Misra & Gries 1982 + a counting
    * pass), NOT the one-scan census: a plain
    * `groupBy(key).count().filter(cnt >= t)` shuffles one row per
    * DISTINCT key — at 100 TB of text tokens that census IS the job.
    * Here pass 1 runs the native [[graft.functions.native.MisraGriesAgg]]
    * summary (<= k counters per partial state, k structs through the
    * one-row global aggregation) alongside `count(keyCol)`; its guarantee
    * — every key with frequency > n/(k+1) survives, whatever the
    * partitioning — makes the summary a certain SUPERSET of the answer
    * whenever phi > 1/(k+1), which the require pins. Pass 2 re-counts
    * ONLY the (<= k, broadcast as a literal array) candidates exactly and
    * applies the threshold, so the emitted counts are exact and the
    * output is deterministic/oracle-checkable even though summary
    * contents are merge-order-dependent.
    */
  def heavyHitters(df: DataFrame, keyCol: Column, phi: Double,
                   k: Int = 512): DataFrame = {
    require(phi > 1.0 / (k + 1),
      s"phi=$phi must exceed 1/(k+1)=${1.0 / (k + 1)} for the MG superset guarantee")
    val keyed = df.select(keyCol.cast("string").as("key"))
    // pass 1: bounded summary + exact n in ONE scan and one one-row agg
    val row = keyed
      .agg(Native.misraGries(col("key"), k).as("mg"), count(col("key")).as("n"))
      .head()
    val n = row.getLong(1)
    val cands = row.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    if (cands.isEmpty)
      keyed.limit(0).select(col("key"), lit(0L).as("cnt"), lit(0.0).as("share"))
    else
      // pass 2: exact count of candidates only — the filter is a literal
      // in-set predicate, map-side, so the shuffle carries <= k keys
      keyed.where(col("key").isInCollection(cands))
        .groupBy("key").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= math.ceil(phi * n).toLong)
        .select(col("key"), col("cnt"),
          round(col("cnt") / lit(n.toDouble), 6).as("share"))
  }
}
