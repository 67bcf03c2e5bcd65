package graft.operators

import graft.functions.native.Native
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed PCA by power iteration (Hotelling 1933; the power method
  * of Mises & Pollaczek-Geiringer 1929) — the embedding-health /
  * whitening primitive of a training-data pipeline: the dominant
  * principal component and its explained-variance share tell you
  * whether a corpus's embedding space has collapsed toward a single
  * direction (a classic symptom of duplicated or templated content).
  *
  * Scale shape: the ONLY corpus-scale pass is the covariance
  * accumulation — one flatten + row-id self-join to (i, j, xᵢ·xⱼ)
  * terms that partial-aggregate map-side down to dims² groups, so
  * the shuffle carries O(dims²) rows per partition regardless of corpus
  * size. Everything after (the matvec recurrence) runs on dims²-row
  * frames — config-scale, like the k-means centroid updates. The
  * vectors themselves never move.
  *
  * Determinism — the k-means 6-dp-grid regime, NOT bare round-12: the
  * recurrence STATE (loadings, covariance entries) lives on a 6-dp
  * grid, so every product of two state values is an EXACT 12-dp
  * decimal whose double is uniquely identified by that decimal —
  * round(·,12) is then engine-exact, and the decimal(38,12) sums are
  * exact by construction. Only division and sqrt results (arbitrary
  * doubles) are rounded, at 6 dp, where the two engines' rounding
  * implementations agree except on astronomically rare exact-tie
  * margins. (A first cut rounded the per-round state at 12 dp —
  * divisions disagree at the 12th digit with ~1e-5 probability per op
  * and the disagreement persists through every later round; measured
  * 6-9 of 64 final loadings off by one ulp. The 6-dp grid is why
  * q93/q185's Lloyd rounds hash-match.) No convergence stop: a FIXED
  * round count from the deterministic start defines the result
  * exactly (the q123 fixed-iteration treatment); power iteration
  * contracts at |λ₂/λ₁| per round.
  */
object Pca {

  /** Exact decimal(38,12) sum of round-12 addends, back to double.
    * Engine-exact when each addend is a product of two 6-dp-grid
    * values (a true 12-dp decimal); attenuated-noise-safe for raw
    * float inputs (any last-ulp addend disagreement shrinks by 1/n
    * through the mean). Used on the dims-scale recurrence frames where
    * the per-row decimal cost is irrelevant. */
  private def sumDec12(c: Column): Column =
    sum(round(c, 12).cast("decimal(38,12)")).cast("double")

  /** The CORPUS-SCALE twin of [[sumDec12]]: exact fixed-point — scale
    * by 1e12, round to integral, sum as long, descale. Bit-identical
    * semantics to the decimal path (same 12-dp addend grid, exact
    * integer sum, IEEE-exact descale while |Σ| < 2^53) but stays in
    * whole-stage codegen: the decimal aggregate was 15.7 s vs 0.8 s
    * for the same 16M-row gram at sf0.1, a 19× tax paid per corpus
    * row. Exact while n·|addend|·1e12 < 2^63 — for unit-ish embedding
    * coordinates (|xᵢxⱼ| ≤ 0.25) that is ~3.6e7 rows per group; past
    * that, train on a [[Quantization.hashSample]]-style slice (the
    * covariance of a corpus is estimated, not enumerated, at 100 TB)
    * or swap this aggregate back to decimal. */
  private def sumFixed12(c: Column): Column =
    sum(round(c * lit(1e12), 0).cast("long")).cast("double") / lit(1e12)

  /** FULL symmetric covariance matrix of an `array<float>` column:
    * (i, j, c) over all 1 ≤ i, j ≤ dims, entries on the 6-dp grid
    * (dims² rows — full, not upper-triangle, so downstream consumers
    * never need a mirror union; an inequality pair filter here left
    * alias-scoped constraints that Catalyst's Union constraint rewrite
    * failed to resolve downstream). Rows
    * whose vector is not exactly `dims` long are rejected up front (a
    * silent null would skew the sums). One corpus pass for the second
    * moments, one for the means, both partial-aggregated map-side to
    * O(dims²) groups. */
  def covariance(emb: DataFrame, vecCol: String, dims: Int): DataFrame = {
    require(dims >= 1, "covariance needs dims >= 1")
    // flatten ONCE to (row, dim, x) and self-join on the row id for
    // the pair products — a first cut exploded dims² index pairs
    // with the whole array column carried alongside, and copying the
    // vector dims²/2 times per row was 10.6 of q195's 13.5 s at sf0.1.
    // The row id is synthetic and internal (self-join key only), so
    // monotonically_increasing_id's run-to-run instability cannot reach
    // the output. Narrow rows through one shuffle; products partial-agg
    // map-side down to dims(dims+1)/2 groups. The localCheckpoint is
    // single-box bench shaping (n·dims narrow rows pinned in executor
    // memory); on a real cluster at corpus scale, drop it (three cheap
    // rescans) or checkpoint to the durable dir instead.
    val ex = emb.select(col(vecCol))
      .where(size(col(vecCol)) === dims)
      .withColumn("__rid", monotonically_increasing_id())
      .select(col("__rid"), posexplode(col(vecCol)).as(Seq("p", "xf")))
      .select(col("__rid"), (col("p") + 1).as("i"),
        col("xf").cast("double").as("x"))
      .localCheckpoint(true)
    val mu = ex.groupBy("i")
      .agg(round(sumFixed12(col("x")) / count(lit(1)), 6).as("mu"))
    val gram = ex.alias("a")
      .join(ex.alias("b"), col("a.__rid") === col("b.__rid"))
      .select(col("a.i").as("i"), col("b.i").as("j"),
        (col("a.x") * col("b.x")).as("p"))
      .groupBy("i", "j")
      .agg(round(sumFixed12(col("p")) / count(lit(1)), 6).as("g"))
    // g and μᵢμⱼ are 6-dp-grid values: the product is an exact 12-dp
    // decimal, the subtraction exact, and the final round-6 only has
    // the 1e-6 exact-tie margin (both engines break ties away from
    // zero, so even those agree)
    gram
      .join(mu.select(col("i"), col("mu").as("mi")), "i")
      .join(mu.select(col("i").as("j"), col("mu").as("mj")), "j")
      .select(col("i"), col("j"),
        round(col("g") - round(col("mi") * col("mj"), 12), 6).as("c"))
  }

  /** Dominant eigenvector by `rounds` power-iteration steps over a
    * full symmetric covariance frame (i, j, c) on the 6-dp grid: start
    * at the exact 6-dp values (1000+i)/8000, per round w = C·v (exact
    * 12-dp products, exact decimal sums, result re-gridded at 6 dp),
    * then L2-normalize on the 6-dp norm. Returns one row per dimension:
    * (dim, loading, eigenvalue, explained_ratio) — eigenvalue is the
    * Rayleigh quotient vᵀCv of the final vector (exact at 12 dp from
    * grid products), explained_ratio its share of trace(C) at 6 dp.
    * The start is deterministic and positive, so the result is a
    * defined function of (cov, rounds).
    * Every frame in the loop is dims-scale; `localCheckpoint` per
    * round keeps the plan flat. */
  /** Map-only projection of every vector onto a literal component:
    * adds a 6-dp `score` column (the dot product, folded in array
    * order — deterministic by construction). The loadings are
    * config-scale literals (the centroid/codebook convention), so the
    * scoring pass is one scan with zero shuffles — the shape that
    * holds at any corpus size. Vectors of the wrong length are
    * dropped, matching [[covariance]]. */
  def project(emb: DataFrame, vecCol: String,
              loadings: Seq[Double]): DataFrame = {
    require(loadings.nonEmpty, "project needs a non-empty component")
    val dot = Native.dot(col(vecCol), typedLit(loadings))
    emb.where(size(col(vecCol)) === loadings.size)
      .withColumn("score", round(dot, 6))
  }

  def powerIteration(cov: DataFrame, dims: Int, rounds: Int): DataFrame = {
    require(dims >= 1 && rounds >= 1,
      "powerIteration needs dims >= 1 and rounds >= 1")
    val spark = cov.sparkSession
    // the covariance subtree (a corpus pass) feeds every matvec round
    // plus the trace — cut it once
    val full = cov.localCheckpoint(true)
    // start vector (1000+i)/8000: exact 6-dp decimals (denominator
    // 2^6·5^3), pairwise distinct, all positive. A uniform low-precision
    // start (0.125) made round-one sums 9-dp values, several landing
    // EXACTLY on the …5×10⁻⁷ rounding tie — which Spark (decimal-string
    // HALF_UP) and DuckDB (binary ×10⁶ then std::round) resolve
    // differently when the double sits a hair below the decimal tie;
    // measured 6 tie hits in round one at sf0.001. Full-width distinct
    // starts keep every product at 12 significant decimals, where ties
    // are ~1e-6-rare instead of ~1e-3-likely.
    var v = spark.range(1, dims + 1L)
      .select(col("id").cast("int").as("i"),
        round((lit(1000.0) + col("id")) / lit(8000.0), 6).as("val"))
      .localCheckpoint(true)
    def matvec(vec: DataFrame): DataFrame = full
      .join(vec.select(col("i").as("j"), col("val")), "j")
      .groupBy("i")
      .agg(round(sumDec12(col("c") * col("val")), 6).as("w"))
    // lineage cut every 3rd round, not every round: each eager
    // localCheckpoint is a driver-blocking job over a 64-row frame, and
    // at 12 rounds the job latency — not the arithmetic — was the whole
    // measured cost (10.3 s steady at sf0.1). Three rounds of
    // join+agg+join nest fine in one plan.
    for (r <- 1 to rounds) {
      val w = matvec(v)
      val nrm = w.agg(
          round(sqrt(round(sumDec12(col("w") * col("w")), 12)), 6).as("nm"))
        .withColumn("__k", Guards.constKey(col("nm")))
      val next = w.withColumn("__k", Guards.constKey(col("i")))
        .join(broadcast(nrm), "__k")
        .select(col("i"), round(col("w") / col("nm"), 6).as("val"))
      v = if (r % 3 == 0 || r == rounds) next.localCheckpoint(true) else next
    }
    // Rayleigh quotient of the final (unit) vector + trace share; the
    // two one-row frames meet on the constKey so no nested-loop join
    // ever appears in the plan
    val wf = matvec(v)
    val lam = v.join(wf, "i")
      .agg(round(sumDec12(col("val") * col("w")), 12).as("eigenvalue"))
      .withColumn("__k", Guards.constKey(col("eigenvalue")))
    val tr = full.where(col("i") === col("j"))
      .agg(round(sumDec12(col("c")), 12).as("trace"))
      .withColumn("__k", Guards.constKey(col("trace")))
    val scalars = lam.join(tr, "__k")
      .select(col("__k"), col("eigenvalue"),
        round(col("eigenvalue") / col("trace"), 6).as("explained_ratio"))
    v.withColumn("__k", Guards.constKey(col("i")))
      .join(broadcast(scalars), "__k")
      .select(col("i").as("dim"), col("val").as("loading"),
        col("eigenvalue"), col("explained_ratio"))
  }
}
