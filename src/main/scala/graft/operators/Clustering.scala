package graft.operators

import graft.functions.native.Native
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means over an embedding column — the clustering
  * pre-pass for SemDeDup-style semantic dedup and topic bucketing of a
  * training corpus.
  *
  * Deterministic and engine-portable by construction (no RNG state):
  *  - init: the embeddings of the k smallest ids;
  *  - assignment: squared-L2 argmin against a LITERAL centroid matrix —
  *    a pure map-side projection (no join, no shuffle of the vectors),
  *    tie-broken by cluster id on the 6-dp-rounded distance;
  *  - update: per-(cluster, dim) sums in DECIMAL(28,12) (exact, so the
  *    result is independent of partitioning/accumulation order), means
  *    rounded to 6 dp at each round boundary — two engines replaying the
  *    recurrence stay bit-identical;
  *  - centroids live on the driver between rounds (k x dims doubles,
  *    config-scale) and ship back as literals.
  * This is product-quantizer training with one subspace: the rounds run
  * through [[Quantization.lloyd]] with m = 1.
  *
  * Scale shape per round: one full pass over the points (k x dims fused
  * multiply-adds per row, whole-stage codegen) and one shuffle of
  * (partitions x k x dims) partial sums — the vectors themselves never
  * move. At 100 TB you would persist the projected points between
  * rounds; at bench scale the parquet re-scan is cheaper than the cache
  * churn.
  *
  * Reference context: the reference has no clustering operator — this is
  * part of the training-data extension surface (BASELINE.json).
  */
object Clustering {

  /** Argmin-cluster column for a literal centroid matrix. The per-
    * centroid distance is the native fused kernel (`graft_dist2`): its
    * centroid literal rides the codegen `references` array, so Lloyd
    * rounds re-literalizing the centroids reuse ONE compiled source
    * (r09 §11 / r10 verdict item 3). */
  private def assignColumn(vec: Column, cents: IndexedSeq[Seq[Double]]): Column = {
    val scored = cents.zipWithIndex.map { case (cv, cid) =>
      struct(round(distToLit(vec, cv), 6).as("d"), lit(cid).as("c"))
    }
    least(scored: _*).getField("c")
  }

  /** Squared L2 against one literal centroid. */
  private def distToLit(vec: Column, cv: Seq[Double]): Column =
    Native.dist2(vec, typedLit(cv))

  /** Runs `iters` Lloyd rounds and returns the final (id, cluster)
    * assignment. Every vector must have the init centroids' length (a
    * mismatched one is mis-assigned silently — the caller's schema is the
    * contract, as with hyperplaneSketch). An empty cluster keeps its
    * previous centroid.
    */
  def kmeansAssign(points: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame =
    withCluster(points, idCol, vecCol, rounds(points, idCol, vecCol, k)
      .drop(iters).next()._1)
      .select(col("__id").as(idCol), col("cluster").cast("long").as("cluster"))

  private def prep(points: DataFrame, idCol: String, vecCol: String) =
    points.select(col(idCol).as("__id"),
      transform(col(vecCol), x => x.cast("double")).as("__v"))

  /** The Lloyd rounds from the embeddings of the k smallest ids, each
    * with its centroid shift ([[Quantization.lloyd]] with m = 1). */
  private def rounds(points: DataFrame, idCol: String, vecCol: String, k: Int) = {
    require(k >= 2, "k-means needs k >= 2")
    Quantization.lloyd(points, idCol, vecCol, k, m = 1, dims = None)
  }

  /** The caller's points with their cluster under the final centroids. */
  private def withCluster(points: DataFrame, idCol: String, vecCol: String,
      cents: IndexedSeq[Seq[Double]]): DataFrame =
    prep(points, idCol, vecCol)
      .withColumn("cluster", assignColumn(col("__v"), cents))

  /** [[kmeansAssign]] with a convergence stop — the production Lloyd
    * contract (the round count a corpus needs depends on its geometry,
    * not the analyst): iterate until the total centroid movement
    * Σ_{cid,dim} round(|c − c_prev|, 6) falls below `tol` (or `maxIter`
    * rounds), then assign under the final centroids. Returns
    * (id, cluster, iters, shift) so callers can see what the stop was.
    *
    * The stop is FREE here: centroids already land on the driver every
    * round (config-scale k×dims doubles), so the shift is driver
    * arithmetic — no extra job, unlike the graph family's probe. The
    * per-element moves are rounded to 6 dp (both inputs sit on the
    * round-boundary 6-dp grid, so the rounded double |a−b| IS the exact
    * decimal difference) and summed exactly as decimals; the comparison
    * happens on the double image of that exact sum — the identical
    * arithmetic a SQL oracle replays with DECIMAL sums, so the stop
    * decision is engine-portable (q185's gated unroll). */
  def kmeansAssignConverged(points: DataFrame, idCol: String, vecCol: String,
      k: Int, tol: Double, maxIter: Int): DataFrame = {
    require(tol > 0 && maxIter >= 1, "need tol > 0 and maxIter >= 1")
    val ((cents, shift), it) = rounds(points, idCol, vecCol, k).zipWithIndex
      .find { case ((_, s), i) => s < tol || i == maxIter }.get
    withCluster(points, idCol, vecCol, cents)
      .select(col("__id").as(idCol), col("cluster").cast("long").as("cluster"),
        lit(it).as("iters"), round(lit(shift), 6).as("shift"))
  }

  /** k-center greedy coreset selection — farthest-point traversal
    * (Gonzalez 1985's 2-approximation to the k-center cover; Sener &
    * Savarese, ICLR 2018 use exactly this as coreset selection for
    * training-data subsampling): seed with the smallest id, then k−1
    * times pick the point FARTHEST from the current center set (max of
    * min-distance, ties to the smallest id). The selected rows are the
    * "cover" — the k most mutually spread exemplars, the opposite
    * failure mode of random sampling (which oversamples dense regions
    * and never sees outliers).
    *
    * Deterministic and engine-portable under the kmeansAssign
    * discipline: distances are squared L2 against a LITERAL center
    * matrix, rounded to 6 dp before any comparison; both the pick
    * (max d, then min id) and the final assignment (min d, then first
    * center in pick order) order on the rounded grid, so an SQL oracle
    * unrolling the same k rounds reproduces the identical cover.
    *
    * Scale shape: k passes over the points, each a map-side fused
    * multiply-add projection (centers ride along as literals — no join,
    * the vectors never shuffle) reduced by a TakeOrdered(1); centers
    * accumulate on the driver (k x dims doubles, config scale). No
    * all-pairs distance matrix ever exists — the O(n·k) total work is
    * the known lower envelope for this cover.
    *
    * Returns k rows: (round, center_id, radius) where radius is the
    * picked point's min-distance to the PREVIOUS centers — i.e. the
    * coverage radius of the first `round` centers — and the seed's
    * radius is null.
    */
  def kCenterGreedy(points: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, "k-center needs k >= 1")
    val spark = points.sparkSession
    import spark.implicits._
    val pts = prep(points, idCol, vecCol)
    val seed = pts.orderBy(col("__id")).limit(1)
      .select(col("__id"), col("__v")).collect()(0)
    var centers = IndexedSeq(seed.getSeq[Double](1).toIndexedSeq)
    val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Double])](
      (0L, seed.getLong(0), None))
    for (r <- 1 until k) {
      val far = pts
        .select(col("__id"), col("__v"), minDistColumn(col("__v"), centers).as("d"))
        .orderBy(col("d").desc, col("__id")).limit(1)
        .collect()(0)
      picks += ((r.toLong, far.getLong(0), Some(far.getDouble(2))))
      centers = centers :+ far.getSeq[Double](1).toIndexedSeq
    }
    picks.toSeq.toDF("round", "center_id", "radius")
  }

  /** Assignment of every point to its nearest k-center pick (ties to the
    * earliest-picked center, the assignColumn convention): per-center
    * population and true coverage radius — the audit a coreset user
    * reads before trusting the cover. One extra map-side pass. */
  def kCenterAssign(points: DataFrame, idCol: String, vecCol: String,
                    picks: DataFrame): DataFrame = {
    val pts = prep(points, idCol, vecCol)
    // picks is k rows (config scale): collect center vectors in pick order
    val cents = picks
      .join(pts, picks("center_id") === pts("__id"))
      .orderBy(col("round"))
      .select(col("__v")).collect()
      .map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    // the min distance IS the assigned center's distance (argmin), so one
    // literal projection yields both columns
    val assigned = pts
      .withColumn("cluster", assignColumn(col("__v"), cents))
      .withColumn("d", minDistColumn(col("__v"), cents))
      .groupBy(col("cluster").cast("long").as("round"))
      .agg(count(lit(1)).as("n_assigned"), max(col("d")).as("coverage"))
    picks.join(assigned, "round")
      .select(col("round"), col("center_id"), col("radius"),
        col("n_assigned"), col("coverage"))
  }

  /** Min 6-dp-rounded squared-L2 distance to a literal center matrix. */
  private def minDistColumn(vec: Column, cents: IndexedSeq[IndexedSeq[Double]]): Column = {
    val ds = cents.map(cv => round(distToLit(vec, cv), 6))
    if (ds.size == 1) ds.head else least(ds: _*)
  }

  /** Calibration probe (not a catalog operator): the per-round centroid
    * shifts for `maxIter` Lloyd rounds — how q185's tolerance was sized. */
  private[graft] def kmeansShiftTrace(points: DataFrame, idCol: String,
      vecCol: String, k: Int, maxIter: Int): Seq[Double] =
    rounds(points, idCol, vecCol, k).slice(1, maxIter + 1).map(_._2).toIndexedSeq

  /** Per-cell mean vectors from an existing label/cluster column — the
    * coarse-quantizer build for IVF-family indexes. Means use exact
    * DECIMAL(28,12) sums (partition-order-independent, the kmeansAssign
    * update discipline — a plain double avg depends on Spark's partial-
    * aggregation order and can flip a 6-dp rounding boundary between
    * runs or engines) rounded to 6 dp. One explode + two partial-agg
    * groupBys; output is |cells| rows. */
  def labelCentroids(df: DataFrame, cellCol: String, vecCol: String): DataFrame =
    df.select(col(cellCol).as("cell"),
        posexplode(transform(col(vecCol), x => x.cast("double")))
          .as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(round(sum(col("v").cast("decimal(28,12)")).cast("double")
        / count(lit(1)), 6).as("cv"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("a"))
      .select(col("cell"), transform(col("a"), x => x.getField("cv")).as("centroid"))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    * embeddings, then inside each cluster drop every vector that has a
    * LOWER-id cluster-mate with cosine similarity >= `threshold`
    * (keep-first, deterministic — the paper keeps an arbitrary member of
    * each semantic-dup group). Returns every input id with its cluster
    * and a `kept` flag.
    *
    * Scale shape: the clustering pre-pass is what makes semantic dedup
    * tractable — the pairwise compare is an EQUI-join on cluster id
    * (one shuffle, cluster-bounded quadratic: sum of n_c^2, controlled
    * by k), never a corpus-wide cross product. At 100 TB you raise k so
    * the expected cluster size stays in the thousands; the compare cost
    * then grows linearly with the corpus.
    */
  def semDeDup(points: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double): DataFrame = {
    val assigned = kmeansAssign(points, idCol, vecCol, k, iters)
    val withVec = prep(points, idCol, vecCol)
      .join(assigned.withColumnRenamed(idCol, "__id"), "__id")
    // norms once per vector BELOW the join, not per pair (q44 pattern)
    val side = withVec.withColumn("__n",
      Similarity.norm(col("__v")))
    val a = side.select(col("__id").as("id1"), col("__v").as("v1"),
      col("__n").as("n1"), col("cluster"))
    val b = side.select(col("__id").as("id2"), col("__v").as("v2"),
      col("__n").as("n2"), col("cluster"))
    val nn = col("n1") * col("n2")
    val dropped = a.join(b, Seq("cluster"))
      .where(col("id1") < col("id2"))
      .where(when(nn > 0,
        Similarity.dot(col("v1"), col("v2")) / nn)
        >= threshold)
      .select(col("id2").as("__id")).distinct()
    withVec.join(dropped.withColumn("__drop", lit(true)), Seq("__id"), "left")
      .select(col("__id").as(idCol), col("cluster"),
        coalesce(!col("__drop"), lit(true)).as("kept"))
  }

  /** SemDeDup with a PQ-coded compare side — the composition a 100 TB
    * pipeline actually runs (FAISS-style quantized rerank at the
    * semantic-dedup call site): the cluster-bounded pair join is
    * unchanged from [[semDeDup]], but the right side carries ONLY the
    * M-int PQ codes plus one precomputed scalar (the decoded vector's
    * norm) into the cluster exchange; [[Quantization.decode]] runs
    * INSIDE the pair predicate, so the codebook's representation is
    * reconstructed per candidate pair at the join operator, never
    * shuffled. Cosine scored raw-vs-decoded is the ADC estimate for
    * cosine. At scale the (id, cluster, codes) table is the persisted
    * index — the quadratic side of the join moves ~m ints + 1 double
    * per candidate instead of `dims` floats, for the usual PQ
    * approximation error (bounded by the trained codebook's
    * quantization MSE).
    *
    * Same keep-first determinism and plan shape as [[semDeDup]]: one
    * equi-join on cluster id, never a corpus-wide cross product.
    */
  def semDeDupPq(points: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int,
      codebook: IndexedSeq[IndexedSeq[Double]], m: Int, dims: Int,
      threshold: Double): DataFrame = {
    val assigned = kmeansAssign(points, idCol, vecCol, k, iters)
    val pts = prep(points, idCol, vecCol)
      .join(assigned.withColumnRenamed(idCol, "__id"), "__id")
    val a = pts
      .withColumn("__n", Similarity.norm(col("__v")))
      .select(col("__id").as("id1"), col("__v").as("v1"),
        col("__n").as("n1"), col("cluster"))
    // b side: codes + decoded-norm scalar ONLY — the decoded vector
    // itself must not exist below the exchange or the shuffle-width cut
    // is fiction (a projection computed under the join ships its output)
    val b = pts
      .withColumn("__codes",
        Quantization.pqCodes(col("__v"), codebook, m, dims))
      .withColumn("n2", Similarity.norm(
        Quantization.decode(col("__codes"), codebook, m, dims)))
      .select(col("__id").as("id2"), col("__codes"), col("n2"), col("cluster"))
    val nn = col("n1") * col("n2")
    val dropped = a.join(b, Seq("cluster"))
      .where(col("id1") < col("id2"))
      // decode inline in the predicate: it references both sides, so it
      // stays in the join condition and evaluates post-exchange per pair
      .where(when(nn > 0,
        Similarity.dot(col("v1"),
          Quantization.decode(col("__codes"), codebook, m, dims)) / nn)
        >= threshold)
      .select(col("id2").as("__id")).distinct()
    pts.join(dropped.withColumn("__drop", lit(true)), Seq("__id"), "left")
      .select(col("__id").as(idCol), col("cluster"),
        coalesce(!col("__drop"), lit(true)).as("kept"))
  }
}
