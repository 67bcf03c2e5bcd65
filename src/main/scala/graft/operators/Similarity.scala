package graft.operators

import graft.functions.native.Native
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  * Brute-force cosine top-k as the exact baseline; LSH-bucketed ANN as
  * the scale path. All vector math runs on graft's native kernels
  * ([[graft.functions.native.Native]]) — codegen'd, no UDFs.
  */
object Similarity {

  /** Dot product of two array columns, computed in double: the fused
    * native kernel ([[graft.functions.native.DotProduct]]). */
  def dot(a: Column, b: Column): Column = Native.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null when either norm is 0. */
  def cosine(a: Column, b: Column): Column = Native.cosine(a, b)

  /** Exact top-k neighbors for each probe vector: probes (small) are
    * broadcast against the corpus; rank by (cosine desc, id) for a total
    * deterministic order. One broadcast join + one shuffle for the
    * per-probe top-k (rank window partitioned by probe).
    */
  def bruteForceTopK(
      corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      probeIdCol: String, k: Int): DataFrame = {
    // norms are per-vector, not per-pair: compute them BEFORE the join
    // (cosine() inline would re-reduce both arrays for every candidate)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val p = probes.select(col(probeIdCol).as("probe_id"), col(vecCol).as("__pv"),
      norm(col(vecCol)).as("__pn"))
    val scored = c.join(broadcast(p), col("neighbor_id") =!= col("probe_id"))
      .withColumn("cos",
        when(col("__cn") * col("__pn") > 0,
          dot(col("__cv"), col("__pv")) / (col("__cn") * col("__pn"))))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** Plane p / dimension i weight in [-0.5, 0.5), derived from md5 of
    * "p_i" — deterministic across engines and runs (no RNG state), and
    * identical to the SQL expression
    * `('0x' || substr(md5(p || '_' || i), 1, 8))::BIGINT / 2^32 - 0.5`
    * so the DuckDB oracle can inline the very same numbers. */
  def planeWeight(p: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${p}_$i".getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16).toDouble / 4294967296.0 - 0.5
  }

  /** The full planes x dims weight matrix (driver-side; tiny). */
  def planeWeights(planes: Int, dims: Int): Seq[Seq[Double]] =
    (0 until planes).map(p => (0 until dims).map(i => planeWeight(p, i)))

  /** Deterministic random-hyperplane sign sketch: bucket = integer of
    * sign(v . w_p) bits. The plane matrix is precomputed on the driver and
    * shipped as an array literal — the per-row work is `planes` fused
    * native dot products, nothing else. (The earlier form derived
    * each weight with md5+conv PER ROW per plane per dimension; measured
    * ~8x slower on the ANN query.)
    */
  def hyperplaneSketch(vec: Column, planes: Int, dims: Int): Column = {
    val signs = (0 until planes).map { p =>
      val proj = dotLit(vec, (0 until dims).map(i => planeWeight(p, i)))
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    // a dims mismatch nulls the projection and would drop every vector
    // into bucket 0 — turning the LSH equi-join into a full self-join
    // with no error. Fail loudly instead.
    when(size(vec) === dims, signs.reduce(_ + _))
      .otherwise(raise_error(concat(
        lit(s"hyperplaneSketch: expected $dims-dim vector, got "),
        size(vec).cast("string"))))
  }

  /** IVF-style ANN: hyperplane sign buckets act as the coarse quantizer
    * and only the probe's own bucket is searched — a probe whose bucket
    * holds no corpus vectors returns no rows (recall/latency trade is
    * governed by `planes`: fewer planes = bigger buckets = higher recall).
    * Approximate — verified in tests against bruteForceTopK recall, not an
    * SQL oracle.
    */
  /** IVF ANN: a coarse-quantizer table (cell, centroid) partitions the
    * corpus — every vector is assigned to its nearest centroid (squared
    * L2, ties to the lowest cell id) — and each probe searches only its
    * `nprobe` nearest cells. The centroid table is config-scale and
    * broadcast twice (corpus assignment, probe assignment); the search
    * join is an equi-join on cell, so the candidate set per probe is the
    * cell population, not the corpus. Recall/latency trades via `nprobe`
    * exactly as in a FAISS-style IVF index.
    */
  /** Nearest-`n` centroid cells for each row of `df` (squared L2, ties
    * to the lowest cell id) — the IVF coarse-quantizer assignment shared
    * by [[ivfTopK]] and the partitioned-index pair
    * [[writeIvfIndex]]/[[ivfPartitionedTopK]]. */
  private def assignCells(df: DataFrame, outId: String, n: Int,
      centroids: DataFrame): DataFrame = {
    val d2 = Native.dist2(col("__v"), col("centroid"))
    val w = Window.partitionBy(col(outId)).orderBy(col("__cd"), col("cell"))
    df.crossJoin(broadcast(centroids))
      .withColumn("__cd", d2)
      .withColumn("__cr", row_number().over(w))
      .where(col("__cr") <= n)
      .drop("centroid", "__cd", "__cr")
  }

  def ivfTopK(
      corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      probeIdCol: String, centroids: DataFrame, k: Int,
      nprobe: Int = 1): DataFrame = {
    val c = assignCells(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__v"),
        norm(col(vecCol)).as("__cn")), "neighbor_id", 1, centroids)
      .withColumnRenamed("__v", "__cv")
    val p = assignCells(
      probes.select(col(probeIdCol).as("probe_id"), col(vecCol).as("__v"),
        norm(col(vecCol)).as("__pn")), "probe_id", nprobe, centroids)
      .withColumnRenamed("__v", "__pv")
    ivfScore(c, p, k)
  }

  /** The IVF search tail shared by the inline and partitioned paths:
    * cell equi-join against the broadcast probe table, exact cosine,
    * per-probe top-k. */
  private def ivfScore(cells: DataFrame, p: DataFrame, k: Int): DataFrame = {
    val scored = cells.join(broadcast(p), Seq("cell"))
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cos",
        when(col("__cn") * col("__pn") > 0,
          dot(col("__cv"), col("__pv")) / (col("__cn") * col("__pn"))))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** Persist an IVF index as a CELL-PARTITIONED parquet table: every
    * vector in its nearest centroid's directory, with the norm
    * precomputed at write time. The layout IS the index — a probe-time
    * read of `nprobe` cells touches only those directories' files
    * (partition pruning), so search I/O tracks cell population, not
    * corpus size. This is [[ivfTopK]]'s assignment paid ONCE at build
    * time instead of per query — the q179 bucketed-graph discipline
    * applied to ANN, and the on-disk shape a 100 TB vector corpus
    * actually serves queries from (FAISS's inverted lists, as a
    * partitioned table). */
  /** The index-shaped rows [[writeIvfIndex]] persists — (neighbor_id,
    * __cv, __cn, cell), each vector assigned to its nearest centroid
    * with the norm precomputed. Public so INCREMENTAL maintenance can
    * produce merge changesets with the identical schema and identical
    * assignment arithmetic ([[graft.sources.Sinks.mergeIntoPartitioned]]
    * then rewrites only the receiving cells). */
  def indexRows(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    assignCells(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__v"),
        norm(col(vecCol)).as("__cn")), "neighbor_id", 1, centroids)
      .withColumnRenamed("__v", "__cv")
  }

  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, path: String): Unit =
    graft.sources.Sinks.writePartitioned(
      indexRows(corpus, idCol, vecCol, centroids), path, Seq("cell"))

  /** Search a [[writeIvfIndex]] layout: assign probes to their `nprobe`
    * cells, then join the partitioned index on `cell` with the probe
    * table BROADCAST — Spark's dynamic partition pruning turns the
    * broadcast build side into a runtime partition filter on the index
    * scan, so only the probed cells' files are read (IvfLayoutSpec
    * asserts the dynamicpruning expression in the plan and result
    * parity with [[ivfTopK]]). Scoring/top-k identical to [[ivfTopK]] —
    * same candidates, same ranks. */
  def ivfPartitionedTopK(
      probes: DataFrame, probeIdCol: String, vecCol: String,
      centroids: DataFrame, indexPath: String, k: Int,
      nprobe: Int = 1): DataFrame = {
    val idx = probes.sparkSession.read.parquet(indexPath)
    val p = assignCells(
      probes.select(col(probeIdCol).as("probe_id"), col(vecCol).as("__v"),
        norm(col(vecCol)).as("__pn")), "probe_id", nprobe, centroids)
      .withColumnRenamed("__v", "__pv")
    ivfScore(idx, p, k)
  }

  def lshTopK(
      corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      probeIdCol: String, k: Int, planes: Int = 6, dims: Int = 64,
      multiProbe: Boolean = false): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        norm(col(vecCol)).as("__cn"))
      .withColumn("bucket", hyperplaneSketch(col("__cv"), planes, dims))
    // multi-probe: each probe also searches the `planes` buckets one
    // hyperplane-sign flip away (the classic recall knob — a vector near
    // a plane lands on either side with near-even odds, so the 1-bit
    // neighborhood recovers most banding misses at (planes+1)x probe
    // fan-out and ZERO extra corpus-side work: the corpus still indexes
    // each vector once, only the broadcast probe table widens).
    // The base sketch lands in a COLUMN first and the flip set XORs
    // col("__sig"): inlining hyperplaneSketch inside the transform lambda
    // would re-reduce the planes x dims projection once per flipped
    // bucket per probe row (the Text.wordShingles outer-expression
    // re-evaluation trap — benign here only because probes are small,
    // but free to avoid).
    val pBase = probes.select(col(probeIdCol).as("probe_id"),
        col(vecCol).as("__pv"), norm(col(vecCol)).as("__pn"))
      .withColumn("__sig", hyperplaneSketch(col("__pv"), planes, dims))
    val probeBuckets: Column =
      if (multiProbe)
        explode(concat(
          array(col("__sig")),
          transform(sequence(lit(0), lit(planes - 1)), b =>
            col("__sig").bitwiseXOR(call_function("shiftleft", lit(1L), b)))))
      else col("__sig")
    val p = pBase.withColumn("bucket", probeBuckets).drop("__sig")
    // no pair dedup needed in EITHER mode: the probe's multi-probe
    // buckets (s, s^1, s^2, ...) are pairwise distinct (XOR with
    // distinct single bits) and each corpus vector carries exactly one
    // bucket, so a (probe, neighbor) pair matches at most once — a
    // dropDuplicates here would be a pure extra shuffle
    val scored = c.join(broadcast(p), Seq("bucket"))
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cos",
        when(col("__cn") * col("__pn") > 0,
          dot(col("__cv"), col("__pv")) / (col("__cn") * col("__pn"))))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** The rDims-dim random projection of `vec` as a real array — the
    * Johnson-Lindenstrauss dimensionality reduction (Vempala 2004)
    * with the SAME deterministic md5-derived plane weights the
    * hyperplane sketch uses, but keeping the real projected values
    * instead of sign bits. The fold is an index-ordered sequential
    * aggregate, so an oracle replaying it with an ordered list_reduce
    * gets bit-identical doubles. */
  def rpProject(vec: Column, rDims: Int, dims: Int): Column =
    array((0 until rDims).map { p =>
      dotLit(vec, (0 until dims).map(i => planeWeight(p, i)))
    }: _*)

  /** Dot product against a LITERAL weight vector: the literal rides the
    * codegen `references` array, so one compiled source serves an
    * operator shape however many distinct weight vectors appear. */
  private def dotLit(vec: Column, weights: Seq[Double]): Column =
    Native.dot(vec, typedLit(weights))

  /** RP-ANN: candidates ranked by cosine in the rDims projected space
    * (rDims multiplications per pair instead of dims), then the top
    * `cand` per probe reranked with the EXACT cosine — the classic
    * project-filter-rerank shape. Projection happens once per vector
    * before the join (map-side); only cand x probes pairs ever touch a
    * full-width dot product. Candidate order is total (projected cos
    * desc, id), so the candidate SET is deterministic and the oracle
    * can replay it. At 100 TB the projected space additionally buckets
    * (the IVF/LSH families); here the win measured is per-pair cost. */
  def rpTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
             vecCol: String, probeIdCol: String, dims: Int, rDims: Int,
             cand: Int, k: Int): DataFrame = {
    require(cand >= k, "candidate pool must cover k")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      rpProject(col(vecCol), rDims, dims).as("__cp"))
    val p = probes.select(col(probeIdCol).as("probe_id"), col(vecCol).as("__pv"),
      rpProject(col(vecCol), rDims, dims).as("__pp"))
    val projScore = c.join(broadcast(p), col("neighbor_id") =!= col("probe_id"))
      .withColumn("__pcos", {
        val d = dot(col("__cp"), col("__pp"))
        val nn = sqrt(dot(col("__cp"), col("__cp"))) *
          sqrt(dot(col("__pp"), col("__pp")))
        when(nn > 0, d / nn)
      })
    val wc = Window.partitionBy(col("probe_id"))
      .orderBy(col("__pcos").desc, col("neighbor_id"))
    val candidates = projScore.withColumn("__cr", row_number().over(wc))
      .where(col("__cr") <= cand)
    val exact = candidates.withColumn("cos", {
      val d = dot(col("__cv"), col("__pv"))
      val nn = sqrt(dot(col("__cv"), col("__cv"))) *
        sqrt(dot(col("__pv"), col("__pv")))
      when(nn > 0, d / nn)
    })
    val wr = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(wr))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) —
    * the standard hybrid-retrieval combiner: given N ranked lists
    * (idCol, rank), score every id in their union as
    * Σ 1/(kRrf + rank_i), with absent lists contributing 0. Score-scale
    * free (only ranks matter), which is why it fuses BM25 with cosine
    * without calibration. Input lists are top-k bounded by construction
    * (the caller's retrieval already truncated them), so the full-outer
    * join cascade runs over k-row frames — config-scale, broadcast-able,
    * regardless of corpus size. Each reciprocal term is a fixed-order
    * scalar (identical tree in an oracle), so the fused score is
    * engine-exact at 9 dp.
    *
    * Returns (idCol, rrf) over the union of the lists.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String,
              kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranked list")
    val scored = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol).as("id"),
        (lit(1.0) / (lit(kRrf) + col("rank"))).as(s"__s$i"))
    }
    val joined = scored.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    val total = scored.indices
      .map(i => coalesce(col(s"__s$i"), lit(0.0)))
      .reduce(_ + _)
    joined.select(col("id").as(idCol), round(total, 9).as("rrf"))
  }

  /** Maximal-marginal-relevance diversified retrieval (Carbonell &
    * Goldstein, SIGIR 1998): from each probe's top-`candK` relevance
    * candidates, greedily select `selectK` results maximizing
    * relWeight·rel(d) − divWeight·max_{s∈S} sim(d, s) — the re-ranker
    * that keeps a RAG context window or a few-shot example set from
    * filling up with near-duplicates of the single best hit.
    *
    * Scale shape: the corpus is touched exactly once, by
    * [[bruteForceTopK]] (or any ANN front-end the caller swaps in) —
    * everything after runs on candK rows per probe, so the greedy
    * loop's selectK−1 rounds are config-scale jobs (candK² pairwise
    * sims per probe, all frames localCheckpointed) no matter how big
    * the corpus is. That per-probe boundedness is the production
    * contract: MMR is quadratic, so it must only ever see a bounded
    * candidate set.
    *
    * Determinism: rel and pairwise sims live on the 6-dp cosine grid
    * ([[bruteForceTopK]]'s output discipline); each MMR score is two
    * IEEE multiplies and a subtract of grid values; ties break on
    * candidate id via the min-struct argmax. `relWeight`/`divWeight`
    * are SEPARATE literals, not derived as 1−λ ([[graft.graph.Graph
    * .pageRank]]'s teleport lesson: both engines must PARSE the same
    * constant — Scala's `1 - 0.7` is 0.30000000000000004, a SQL
    * oracle's `0.3` is not).
    *
    * Returns (probe_id, pick, sel_id, cos, max_sim, mmr) — pick 1 is
    * the relevance top-1 with null max_sim/mmr. */
  def mmrSelect(corpus: DataFrame, probes: DataFrame, idCol: String,
                vecCol: String, probeIdCol: String, candK: Int,
                selectK: Int, relWeight: Double, divWeight: Double)
      : DataFrame = {
    require(selectK >= 1 && candK >= selectK,
      "mmrSelect needs 1 <= selectK <= candK")
    val cand = bruteForceTopK(corpus, probes, idCol, vecCol, probeIdCol,
        candK)
      .select(col("probe_id"), col("rank"),
        col("neighbor_id").as("cand_id"), col("cos").as("rel"))
      .localCheckpoint()
    val cv = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("__v"),
      norm(col(vecCol)).as("__n"))
    val withVec = cand.select(col("probe_id"), col("cand_id"))
      .join(cv, Seq("cand_id"))
    val a = withVec.select(col("probe_id"), col("cand_id").as("id1"),
      col("__v").as("v1"), col("__n").as("n1"))
    val b = withVec.select(col("probe_id").as("pb"), col("cand_id").as("id2"),
      col("__v").as("v2"), col("__n").as("n2"))
    val pairs = a.join(b,
        col("probe_id") === col("pb") && col("id1") =!= col("id2"))
      .select(col("probe_id"), col("id1").as("cand_id"), col("id2"),
        round(when(col("n1") * col("n2") > 0,
          dot(col("v1"), col("v2")) / (col("n1") * col("n2"))), 6)
          .as("sim"))
      .localCheckpoint()
    var sel = cand.where(col("rank") === 1)
      .select(col("probe_id"), col("cand_id").as("sel_id"),
        lit(1).as("pick"), col("rel").as("cos"),
        lit(null).cast("double").as("max_sim"),
        lit(null).cast("double").as("mmr"))
      .localCheckpoint()
    var n = 2
    while (n <= selectK) {
      val selIds = sel.select(col("probe_id"), col("sel_id").as("cand_id"))
      val selAsId2 = sel.select(col("probe_id"), col("sel_id").as("id2"))
      val ms = cand.join(selIds, Seq("probe_id", "cand_id"), "left_anti")
        .join(pairs, Seq("probe_id", "cand_id"))
        .join(selAsId2, Seq("probe_id", "id2"))
        .groupBy(col("probe_id"), col("cand_id"), col("rel"))
        .agg(max(col("sim")).as("ms"))
      val scored = ms.withColumn("score",
        lit(relWeight) * col("rel") - lit(divWeight) * col("ms"))
      val pick = scored.groupBy(col("probe_id"))
        .agg(min(struct((-col("score")).as("ns"), col("cand_id").as("id")))
          .as("s"))
        .select(col("probe_id"), col("s.id").as("cand_id"))
      val newSel = pick.join(scored, Seq("probe_id", "cand_id"))
        .select(col("probe_id"), col("cand_id").as("sel_id"),
          lit(n).as("pick"), col("rel").as("cos"), col("ms").as("max_sim"),
          round(col("score"), 6).as("mmr"))
      sel = sel.unionByName(newSel).localCheckpoint()
      n += 1
    }
    sel
  }
}
