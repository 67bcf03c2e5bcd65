package graft.operators

import graft.functions.native.Native
import org.apache.spark.sql.{Column, DataFrame, GraftFrames}
import org.apache.spark.sql.functions._

/** Product quantization for embedding columns (Jégou/Douze/Schmid,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011) — the
  * memory-bound ANN standard: split each D-dim vector into M subvectors,
  * encode each against a per-subspace codebook of K centroids (M small
  * codes replace D floats, a 32x compression at M=8/K=16 over 64 floats),
  * and score candidates with an asymmetric distance computation (ADC)
  * table: the query precomputes its M x K subspace distances once, and a
  * database vector's approximate distance is M table lookups — no float
  * math per candidate at query time.
  *
  * Everything here is deterministic and engine-portable (the
  * [[Clustering]] discipline): codebooks start from the vectors of the
  * K smallest ids (a bounded K-row collect) and train by per-subspace
  * Lloyd rounds ([[trainCodebook]]; Clustering's k-means is the same
  * recurrence with one subspace, m = 1), distances are rounded to 6 dp
  * with ties broken by code id, and the ADC table is driver-computed in
  * the same ascending-dimension order the SQL oracle replays.
  *
  * Scale shape: encode and ADC scoring are PURE map-side projections over
  * literal codebook/table matrices (no join, no shuffle — the vectors
  * never move), exactly like [[Clustering.assignColumn]]; top-k is a
  * TakeOrdered. Encoding 100 TB of embeddings is one pass; the codes
  * table it emits is what a cluster-scale IVF-PQ index would persist.
  */
object Quantization {

  /** Deterministic init codebook: the full vectors of the `k` smallest
    * ids (each subspace slices its own window out of these rows).
    * Bounded k-row collect, like Clustering's init. */
  def initCodebook(df: DataFrame, idCol: String, vecCol: String,
                   k: Int): IndexedSeq[IndexedSeq[Double]] =
    df.orderBy(col(idCol)).limit(k)
      .select(transform(col(vecCol), x => x.cast("double")))
      .collect()
      .map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq

  /** Trained codebook: per-subspace Lloyd rounds from the [[initCodebook]]
    * seed — the PQ training stage proper (Jégou et al. §III trains K-means
    * independently in each subspace; FAISS's ProductQuantizer::train is
    * the production twin). All M subspaces train in ONE pass per round:
    * encode every row against the current codebook (a map-side literal
    * projection, [[pqCodes]]), explode to (dim, value) pairs, key each by
    * (dim, code-of-its-subspace), and take decimal-exact means — so a
    * round costs one corpus scan plus one bounded shuffle of
    * (partitions x dims x k) partial sums, NOT m separate per-subspace
    * jobs. A (dim, code) cell with no assigned rows keeps its previous
    * value (the empty-cluster rule). Means round to 6 dp each round
    * boundary, so two engines replaying the recurrence stay
    * bit-identical. With m = 1 this is Lloyd k-means, and
    * [[Clustering.kmeansAssign]] runs it ([[lloyd]]).
    *
    * Scale shape: centroid state is k x dims doubles on the driver
    * (config-scale); the corpus-side work per round is a whole-stage-
    * codegen projection + partial-agg groupBy. At 100 TB you train on a
    * sample (FAISS trains on ~1M vectors) — the recurrence is unchanged.
    */
  def trainCodebook(df: DataFrame, idCol: String, vecCol: String,
                    k: Int, m: Int, dims: Int,
                    iters: Int): IndexedSeq[IndexedSeq[Double]] = {
    require(m > 0 && dims % m == 0, s"dims $dims must split into $m subspaces")
    lloyd(df, idCol, vecCol, k, m, Some(dims)).drop(iters).next()._1
  }

  /** The Lloyd recurrence behind [[trainCodebook]] and Clustering's
    * k-means (m = 1, `dims` the seed's width): element r is the codebook
    * after r rounds and that round's shift, Σ round(|c − c′|, 6) over
    * every (code, dim) summed as exact decimals (element 0 is the
    * [[initCodebook]] seed, shift NaN). Each element past the seed runs
    * one round when it is taken. */
  private[operators] def lloyd(df: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int, dims: Option[Int])
      : Iterator[(IndexedSeq[IndexedSeq[Double]], Double)] = {
    val init = initCodebook(df, idCol, vecCol, k)
    val d = dims.getOrElse(init.head.length)
    val vecs = df.select(transform(col(vecCol), x => x.cast("double")).as("__v"))
    Iterator.iterate((init, Double.NaN)) { case (cb, _) =>
      val next = lloydRound(vecs, cb, m, d)
      val shift = cb.flatten.zip(next.flatten).map { case (a, b) =>
        java.math.BigDecimal.valueOf(math.abs(a - b))
          .setScale(6, java.math.RoundingMode.HALF_UP)
      }.foldLeft(java.math.BigDecimal.ZERO)(_ add _)
      (next, shift.doubleValue())
    }
  }

  /** One round: code every row under `cb`, then the exact-decimal mean of
    * each (dim, code) cell, rounded to 6 dp; an empty cell keeps its
    * previous value. The round is one partial-aggregated scan with
    * nothing for adaptive execution to re-decide, so it runs under a
    * static plan: AQE's re-planning after the exchange would be pure
    * latency (q93 1.28 → 1.47 s at sf0.1 on 4 cores with it). */
  private def lloydRound(vecs: DataFrame, cb: IndexedSeq[IndexedSeq[Double]],
      m: Int, dims: Int): IndexedSeq[IndexedSeq[Double]] = {
    val len = dims / m
    val rows = GraftFrames.collectStatic(vecs
      .withColumn("__c", pqCodes(col("__v"), cb, m, dims))
      .select(col("__c"), posexplode(col("__v")).as(Seq("pos", "x")))
      // pos is 0-based; its subspace owns the code that updates it
      .withColumn("code",
        element_at(col("__c"), (col("pos") / len).cast("int") + 1))
      .groupBy(col("pos"), col("code"))
      .agg(round(sum(col("x").cast("decimal(28,12)")).cast("double")
        / count(lit(1)), 6).as("mean")))
    val byKey = rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    cb.indices.map { c =>
      (0 until dims).map(i => byKey.getOrElse((i, c), cb(c)(i)))
    }
  }

  /** Deterministic content-addressed sample: keep rows whose md5-derived
    * id bucket (mod 100) falls below `pct`. No RNG state — the same rows
    * are selected on any engine, partitioning, or run (the q103
    * hash-split discipline), so a training recurrence over the sample is
    * still exactly replayable. A null id hashes as the sentinel string
    * "\u0000null" (not SQL null): without the coalesce, md5(null) = null
    * and the predicate silently DROPPED every null-keyed row, so the
    * sample undershot `pct` with no signal to the caller (r07 advice) —
    * now null-keyed rows are all deterministically in or out together,
    * like any other single key value. */
  def hashSample(df: DataFrame, idCol: String, pct: Int,
                 salt: Int = 0): DataFrame = {
    require(pct >= 1 && pct <= 100, s"pct must be in [1, 100], got $pct")
    df.where(pmod(graft.functions.Text.md5Hash64(
      coalesce(col(idCol).cast("string"), lit("\u0000null")), salt),
      lit(100)) < pct)
  }

  /** The 100 TB training path [[trainCodebook]]'s docs promise: run the
    * SAME per-subspace Lloyd recurrence on a deterministic [[hashSample]]
    * of the corpus — the FAISS convention (ProductQuantizer::train caps
    * training at ~1M vectors however big the index is; Jégou et al.
    * §V-A train on a learning subset). Training cost becomes
    * O(sample × k × dims) per round regardless of corpus size; encode +
    * ADC then run over the FULL corpus with the sampled codebook.
    * QuantizationSpec pins that sampled training still beats the init
    * codebook's recall and lands within tolerance of full-corpus
    * training. */
  def trainCodebookSampled(df: DataFrame, idCol: String, vecCol: String,
                           k: Int, m: Int, dims: Int, iters: Int,
                           pct: Int, salt: Int = 0)
      : IndexedSeq[IndexedSeq[Double]] =
    trainCodebook(hashSample(df, idCol, pct, salt), idCol, vecCol,
      k, m, dims, iters)

  /** Squared-L2 distance between a vector slice [lo, lo+len) and a
    * literal codeword slice (ascending dimension order — the oracle's
    * list order): the native fused kernel (`graft_dist2s`), one primitive
    * loop whose codeword rides the codegen `references` array — so the
    * generated source is identical across codebooks and Janino compiles
    * ONCE per operator shape, not once per training round (the r09 §11
    * unroll-to-literals failure, fixed the way the r09 verdict
    * prescribed). */
  private def sliceDist(vec: Column, word: IndexedSeq[Double], lo: Int,
      len: Int): Column =
    Native.dist2s(vec, typedLit(word.slice(lo, lo + len)), lo)

  /** PQ codes as one array<int> column of length `m`: per subspace, the
    * argmin codeword over the 6-dp-rounded squared-L2 distance, ties to
    * the smaller code. `dims` must match the vector length (same caller
    * contract as kmeansAssign). */
  def pqCodes(vec: Column, codebook: IndexedSeq[IndexedSeq[Double]],
              m: Int, dims: Int): Column = {
    require(m > 0 && dims % m == 0, s"dims $dims must split into $m subspaces")
    val len = dims / m
    val codes = (0 until m).map { mi =>
      val scored = codebook.indices.map { k =>
        struct(round(sliceDist(vec, codebook(k), mi * len, len), 6).as("d"),
          lit(k).as("c"))
      }
      least(scored: _*).getField("c")
    }
    array(codes: _*)
  }

  /** The query's ADC table: adcTable(m)(k) = 6-dp-rounded squared-L2
    * between the query's m-th subvector and codeword k's — computed on
    * the driver in ascending-dimension order (M x K doubles,
    * config-scale). */
  def adcTable(query: IndexedSeq[Double],
               codebook: IndexedSeq[IndexedSeq[Double]],
               m: Int): IndexedSeq[IndexedSeq[Double]] = {
    val dims = query.length
    require(m > 0 && dims % m == 0, s"dims $dims must split into $m subspaces")
    val len = dims / m
    (0 until m).map { mi =>
      codebook.map { word =>
        var acc = 0.0
        var i = mi * len
        while (i < (mi + 1) * len) {
          val d = query(i) - word(i); acc += d * d; i += 1
        }
        BigDecimal(acc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
  }

  /** Approximate (ADC) squared distance of a codes column against a
    * literal table: M element_at lookups, each an exactly-representable
    * 6-dp value, summed as exact decimal (order-independent — the
    * cross-engine discipline) — zero float math against the vector
    * itself. */
  def adcScore(codesCol: Column, table: IndexedSeq[IndexedSeq[Double]]): Column =
    table.zipWithIndex.map { case (row, mi) =>
      element_at(array(row.map(lit): _*), element_at(codesCol, mi + 1) + 1)
        .cast("decimal(18,6)")
    }.reduce(_ + _).cast("double")

  /** Decode a PQ codes column back to its reconstructed vector — per
    * subspace, the literal codeword slice the code names, concatenated.
    * A pure literal-lookup projection (M element_at's over constant
    * nested arrays, no join): scoring any metric against decode(codes)
    * IS the ADC estimate for that metric, which lets a downstream
    * operator (e.g. the q127 SemDeDup rerank) run cosine/L2 against a
    * side that ships M bytes of codes instead of `dims` floats. */
  def decode(codesCol: Column, codebook: IndexedSeq[IndexedSeq[Double]],
             m: Int, dims: Int): Column = {
    require(m > 0 && dims % m == 0, s"dims $dims must split into $m subspaces")
    val len = dims / m
    flatten(array((0 until m).map { mi =>
      val words = array(codebook.map(w =>
        array(w.slice(mi * len, (mi + 1) * len).map(lit): _*)): _*)
      element_at(words, element_at(codesCol, mi + 1) + 1)
    }: _*))
  }

  /** Exact squared-L2 against a literal query (the recall yardstick the
    * catalog query reports beside the ADC estimate) — sliceDist over the
    * full dimension range. */
  def exactDist(vec: Column, query: IndexedSeq[Double]): Column =
    sliceDist(vec, query, 0, query.length)

  // -------------------------------------------------------- scalar (int8)

  /** Per-dimension (min, max) ranges for SCALAR quantization — the
    * other standard compression next to PQ (FAISS ScalarQuantizer
    * QT_8bit: one affine byte per dimension, 4× over float32 with no
    * codebook training). One corpus aggregate partial-aggregated
    * map-side to `dims` groups; the result is config-scale and ships
    * as literals, the codebook convention. Min/max of float-origin
    * doubles are exact order statistics — no rounding regime needed. */
  def sqTrain(df: DataFrame, vecCol: String, dims: Int)
      : IndexedSeq[(Double, Double)] = {
    require(dims >= 1, "sqTrain needs dims >= 1")
    val rows = df.select(col(vecCol))
      .where(size(col(vecCol)) === dims)
      .select(posexplode(col(vecCol)).as(Seq("p", "xf")))
      .groupBy(col("p"))
      .agg(min(col("xf").cast("double")).as("lo"),
        max(col("xf").cast("double")).as("hi"))
      .orderBy("p").collect()
    require(rows.length == dims, s"sqTrain saw ${rows.length}/$dims dims")
    rows.map(r => (r.getDouble(1), r.getDouble(2))).toIndexedSeq
  }

  /** The SQ8 code of element `x` for literal range (lo, hi):
    * clamp(⌊(x−lo)·255/(hi−lo) + 0.5⌋, 0, 255). Rounding is spelled as
    * floor(v + 0.5), NOT round(v, 0): the engines' integer-round tie
    * conventions differ (JVM HALF_UP on the shortest repr vs DuckDB's
    * nearbyint half-even), while floor of a double is the same pure
    * IEEE operation everywhere — so an exactly-half code boundary
    * (structural at x = hi: (hi−lo)·255/(hi−lo) is EXACTLY 255 for
    * float-origin doubles) quantizes identically. A degenerate
    * dimension (hi = lo) codes to 0. Map-only literals, zero shuffle
    * at any corpus size. */
  def sqCodeExpr(x: Column, lo: Column, hi: Column): Column =
    when(hi === lo, lit(0)).otherwise(
      greatest(least(floor((x - lo) * lit(255.0) / (hi - lo) + lit(0.5)),
        lit(255.0)), lit(0.0)).cast("int"))

  /** Affine reconstruction of an SQ8 code: lo + code·(hi−lo)/255. */
  def sqDecodeExpr(code: Column, lo: Column, hi: Column): Column =
    lo + code.cast("double") * (hi - lo) / lit(255.0)

  /** Encode a whole vector column against literal per-dim ranges —
    * array<int> codes, one pure projection (the [[decode]] shape). */
  def sqEncode(vec: Column, params: Seq[(Double, Double)]): Column = {
    val lo = array(params.map(p => lit(p._1)): _*)
    val hi = array(params.map(p => lit(p._2)): _*)
    transform(vec, (x, i) => sqCodeExpr(x.cast("double"),
      element_at(lo, i + 1), element_at(hi, i + 1)))
  }
}
