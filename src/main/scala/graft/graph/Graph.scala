package graft.graph

import org.apache.spark.sql.{Column, DataFrame, GraftFrames}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.native.Native
import graft.operators.Fixpoint

/** Graph operators over edge DataFrames (src, dst[, w]).
  *
  * G2 — shortest paths. The reference precomputes a dense all-pairs
  * link-to-link cost matrix on the driver with scipy
  * (HwyNetwork.py:227-294) — valid for its ~10^3-link network. This
  * module offers both regimes:
  *  - `floydWarshall`: plain-Scala dense APSP for small graphs, meant to be
  *    `broadcast` and probed inside expressions/mapGroups (the reference's
  *    pattern, G3);
  *  - `bfsHops`, `sssp`, `ssspPerSeed`: rounds over an edge DataFrame —
  *    the plans that still work when the graph itself is big.
  *
  * Every iterative operator runs its rounds under a [[Fixpoint]] scope,
  * in one of two forms:
  *  - message-passing kernels ([[Fixpoint.Scope.messages]]): the four
  *    PageRank variants, label propagation and k-core — one adjacency job
  *    per call, then one job per round;
  *  - relational rounds of keyed joins and aggregations, cut each round:
  *    HITS, shortest paths, betweenness, the neighborhood function and
  *    random walks.
  */
object Graph {

  /** Dense APSP with predecessor matrix. Infinity = Double.MaxValue/4. */
  def floydWarshall(n: Int, edges: Seq[(Int, Int, Double)])
      : (Array[Array[Double]], Array[Array[Int]]) = {
    val INF = Double.MaxValue / 4
    val dist = Array.fill(n, n)(INF)
    val pred = Array.fill(n, n)(-1)
    var i = 0
    while (i < n) { dist(i)(i) = 0.0; i += 1 }
    edges.foreach { case (u, v, w) =>
      if (w < dist(u)(v)) { dist(u)(v) = w; pred(u)(v) = u }
    }
    var k = 0
    while (k < n) {
      i = 0
      while (i < n) {
        var j = 0
        val dik = dist(i)(k)
        while (j < n) {
          val nd = dik + dist(k)(j)
          if (nd < dist(i)(j)) { dist(i)(j) = nd; pred(i)(j) = pred(k)(j) }
          j += 1
        }
        i += 1
      }
      k += 1
    }
    (dist, pred)
  }

  /** Distributed PageRank with damping and dangling-mass redistribution —
    * the web-graph importance ranker crawl-curation pipelines run over
    * domain/link graphs (Page et al. 1999; Common Crawl publishes exactly
    * this family of host-level rank).
    *
    * Runs `iterations` message-passing rounds of [[RankKernel]]
    * ([[rankRounds]]): the deduped out-adjacency is hash-partitioned by
    * node once per call, and each round is one job — every node sends
    * round(rank/outdeg, 12) to its out-neighbours, one `reduceByKey` sums
    * them, and the same job reduces the next round's dangling mass (the
    * rank parked on sinks). The edge input is read and shuffled once
    * whatever its layout, so a src-bucketed edge table (q179) and a raw
    * edge frame run the same plan and give the same ranks.
    *
    * Cross-engine float determinism (the kmeans decimal-sum discipline):
    * every cross-row reduction — contribution sums and the dangling mass —
    * rounds its addends to 12 dp and sums them as 12-dp fixed-point
    * `Long`s, exactly the decimal(28,12) sums an SQL oracle runs; scalar
    * per-row arithmetic is identical IEEE on both engines; each new rank
    * is re-rounded to 12 dp, so iteration K's state is bit-identical to
    * the oracle's unrolled CTE chain.
    *
    * Returns (node, rank) with rank rounded to 12 dp summing to ~1.
    *
    * `teleport` is passed as its own literal rather than computed as
    * `1.0 - damping`: the Scala subtraction yields 0.15000000000000002
    * while a SQL oracle's `0.15` literal parses to the nearest double
    * below — the two constants must be PARSED identically on both
    * engines, not derived.
    */
  def pageRank(edges: DataFrame, iterations: Int = 8,
               damping: Double = 0.85, teleport: Double = 0.15,
               checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")
    Fixpoint.run("pageRank", edges, checkpointDir) { s =>
    val (state, _, _) = rankRounds(s, edges, None, damping, teleport,
      iterations)((_, i) => i >= iterations)
    state.select(col("node"), col("rank"))
    }
  }

  /** SHUFFLE_HASH hints for the node-scale sides of the per-round joins.
    * The planner sees
    * checkpointed-RDD state with unknown (defaultSizeInBytes) stats, so
    * without the hint each round either sort-merges (static planning —
    * the r09-measured 5× task blowup) or AQE re-plans the join at
    * runtime, typically into a per-round BROADCAST whose build (collect
    * to driver + rebroadcast) is pure driver latency paid every round.
    * The hint fixes the STRATEGY at plan time without faking stats:
    * shuffled-hash is the plan these joins get at any volume — node-
    * scale state cannot broadcast at 100 TB, hash-building the state/
    * aggregate side per partition is exactly the regime the r09 session
    * conf (maxShuffledHashJoinLocalMapThreshold=256m) already opted
    * into at runtime — and AQE stays ON for skew splitting and
    * coalescing. Same-session A/B (stop readouts identical):
    * q182 shape 22.5 → 13.5 s at sf0.1 AND 82.3 → 58.0 s at the 10×
    * probe volume, so the win is volume-robust, unlike the measured
    * fixed-partition-count variants which invert at 10×. Hints never
    * change results — planning only. */
  private def shjHint(df: DataFrame): DataFrame = df.hint("shuffle_hash")

  /** L1 delta of a state transition with 12-dp-rounded addends and exact
    * decimal summation — the same cross-engine determinism regime as the
    * rank sums, so an SQL oracle replays the identical stop decision. */
  private def deltaExpr(rank: Column, prev: Column): Column =
    sum(round(abs(rank - prev), 12).cast("decimal(28,12)")).cast("double")

  /** [[pageRank]] with a convergence stop instead of a fixed round count:
    * iterate until the L1 delta Σ|rank_k − rank_{k−1}| falls below `tol`
    * (or `maxIter` rounds), returning (node, rank, iters, l1_delta) so
    * callers can see what the stop actually was. This is the production
    * contract (PageRank's power iteration contracts at rate ~damping per
    * round, so tol=1e-9 lands in ~tens of rounds regardless of graph
    * size). After `iters` rounds the state is bit-identical to
    * `pageRank(e, iters)` ([[GraphClusterPlanSpec]] pins it), and the
    * data-dependent stop IS oracle-expressible: the driver's q182 oracle
    * unrolls `maxIter` gated rounds where a converged state passes
    * through unchanged and `iters`/`delta` freeze — a fixed-point
    * emulation in plain CTEs.
    *
    * The rounds are [[pageRank]]'s; the job that materializes each
    * round's state also reduces its L1 delta, the exact sum of
    * round(|rank − prev|, 12), and the stop is read after each round, so
    * no round runs past it. */
  def pageRankConverged(edges: DataFrame, tol: Double, maxIter: Int = 50,
                        damping: Double = 0.85, teleport: Double = 0.15,
                        checkpointDir: Option[String] = None): DataFrame = {
    require(tol > 0 && maxIter >= 1, "need tol > 0 and maxIter >= 1")
    Fixpoint.run("pageRankConverged", edges, checkpointDir) { s =>
    convergedRanks(s, edges, None, damping, teleport, tol, maxIter)
    }
  }

  /** The converged variants: [[rankRounds]] until the L1 delta of a
    * round falls below `tol`, or `maxIter` rounds; returns
    * (node, rank, iters, l1_delta). */
  private def convergedRanks(s: Fixpoint.Scope, edges: DataFrame,
                             seeds: Option[(Column => Column, String)],
                             damping: Double, teleport: Double, tol: Double,
                             maxIter: Int): DataFrame = {
    val (state, iters, c) = rankRounds(s, edges, seeds, damping, teleport,
      maxIter)((c, i) => i > 0 && unfix12(c.delta) < tol)
    state.select(col("node"), col("rank"),
      lit(iters).as("iters"), round(lit(unfix12(c.delta)), 12).as("l1_delta"))
  }

  /** The rounds of all four PageRank variants: [[RankKernel]] over the
    * deduped out-adjacency of `edges` until `stop(census, rounds run)`
    * holds or `maxRounds` rounds have run; an empty graph stops at once.
    * A null id never matched the relational joins on src or dst: it is a
    * node with no out-edges, and what is sent to it is dropped.
    *
    * With `seeds` = (isSource, message), teleport and dangling mass go to
    * the personalization vector p — round(1/|S|, 12) on the nodes
    * `isSource` holds for, else 0 — instead of 1/n, and the start rank is
    * p. The predicate is evaluated once, as a narrow projection over a
    * frame of the adjacency's node keys (so it may name the column
    * `node`), zipped with the adjacency partition by partition; one job
    * counts the seeds, and none fails with `message`.
    *
    * Returns the final state (node, outdeg, rank, __prev[, p]), the rounds
    * run and its census. */
  private def rankRounds(s: Fixpoint.Scope, edges: DataFrame,
                         seeds: Option[(Column => Column, String)],
                         damping: Double, teleport: Double, maxRounds: Int)
      (stop: (RankCensus, Int) => Boolean): (DataFrame, Int, RankCensus) = {
    val g = s.adjacency(edges, "src", "dst") { (a, b) =>
      Iterator((a, if (a == null) None else Some(b)), (b, None))
    }
    val outdeg = (nbrs: Array[Any]) => if (nbrs.isEmpty) null else nbrs.length.toLong
    val node = StructField("node", g.keyType, nodeNullable(edges))
    val fields = Seq(node, StructField("outdeg", LongType),
      StructField("rank", DoubleType), StructField("__prev", DoubleType))
    val (init, c0, schema) = seeds match {
      case None =>
        val r0 = round12(1.0 / g.nodes)
        (g.entries.mapPartitions(_.map { case (n, nbrs) =>
            InternalRow(n, outdeg(nbrs), r0, null)
          }),
          RankCensus(0L,
            if (g.sinks == 0) 0L else Math.multiplyExact(g.sinks, fix12(r0))),
          StructType(fields))
      case Some((isSource, message)) =>
        val keys = GraftFrames.fromInternal(edges.sparkSession,
          g.entries.map { case (n, _) => InternalRow(n) }, StructType(Seq(node)))
        val flags = keys.select(isSource(col("node"))).queryExecution.toRdd
          .map(r => !r.isNullAt(0) && r.getBoolean(0))
        val tagged = g.entries.zipPartitions(flags)(_.zip(_))
        // (seeds, seeds without out-edges)
        val (ns, sinkSeeds) = tagged.aggregate((0L, 0L))(
          { case ((k, z), ((_, nbrs), src)) =>
              if (src) (k + 1, if (nbrs.isEmpty) z + 1 else z) else (k, z) },
          { case ((k1, z1), (k2, z2)) => (k1 + k2, z1 + z2) })
        require(ns > 0, message)
        val p1 = round12(1.0 / ns)
        (tagged.mapPartitions(_.map { case ((n, nbrs), src) =>
            val p = if (src) p1 else 0.0
            InternalRow(n, outdeg(nbrs), p, null, p)
          }),
          RankCensus(0L, Math.multiplyExact(sinkSeeds, fix12(p1))),
          StructType(fields :+ StructField("p", DoubleType)))
    }
    val (state, rounds, c, _) = s.messages(g, init, c0, maxRounds,
        new RankKernel(g.nodes, damping, teleport, seeds.isDefined), schema) {
      (c, i) => g.nodes == 0 || stop(c, i)
    }
    (state, rounds, c)
  }

  /** Census of a PageRank state: Σ round(|rank − prev|, 12) and the
    * dangling mass Σ round(rank, 12) over sinks, both 12-dp fixed-point. */
  private final case class RankCensus(delta: Long, mass: Long)

  /** State row (node, outdeg, rank, prev), plus the personalization p
    * when `personalized`; outdeg null marks a sink. The new rank keeps
    * the relational form's double operation order: teleport/n +
    * damping·(in + mass/n), or teleport·p + damping·(in + mass·p). */
  private final class RankKernel(n: Long, damping: Double, teleport: Double,
                                 personalized: Boolean)
      extends Fixpoint.Kernel[Long, RankCensus] {
    def send(node: Any, nbrs: Array[Any], st: InternalRow, c: RankCensus) =
      if (st.isNullAt(1)) Iterator.empty
      else {
        val share = fix12(st.getDouble(2) / st.getLong(1).toDouble)
        nbrs.iterator.map(d => (d, share))
      }
    def merge(a: Long, b: Long): Long = Math.addExact(a, b)
    def update(node: Any, nbrs: Array[Any], st: InternalRow, in: Long,
               c: RankCensus): InternalRow = {
      val inSum = if (node == null) 0.0 else unfix12(in)
      val mass = unfix12(c.mass)
      val outdeg = if (st.isNullAt(1)) null else st.getLong(1)
      if (personalized) {
        val p = st.getDouble(4)
        InternalRow(node, outdeg,
          round12(teleport * p + damping * (inSum + mass * p)), st.getDouble(2), p)
      } else
        InternalRow(node, outdeg,
          round12(teleport / n.toDouble + damping * (inSum + mass / n.toDouble)),
          st.getDouble(2))
    }
    def census(rows: Iterator[InternalRow]): RankCensus = {
      var delta, mass = 0L
      rows.foreach { r =>
        val rank = r.getDouble(2)
        delta = Math.addExact(delta, fix12(math.abs(rank - r.getDouble(3))))
        if (r.isNullAt(1)) mass = Math.addExact(mass, fix12(rank))
      }
      RankCensus(delta, mass)
    }
    def combine(a: RankCensus, b: RankCensus): RankCensus =
      RankCensus(Math.addExact(a.delta, b.delta), Math.addExact(a.mass, b.mass))
  }

  /** Spark's `round(x, 12)` of a double. */
  private[graft] def round12(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue

  /** `cast(round(x, 12) as decimal(28,12))` as its unscaled `Long`: the
    * addend of every exact 12-dp sum. */
  private[graft] def fix12(x: Double): Long = {
    val d = Decimal(round12(x))
    require(d.changePrecision(28, 12), s"$x overflows decimal(28,12)")
    d.toUnscaledLong
  }

  /** A 12-dp fixed-point sum cast to double, as Spark casts the
    * decimal(38,12) sum. */
  private[graft] def unfix12(sum: Long): Double = Decimal(sum, 38, 12).toDouble

  /** The deduped (src, dst) edge set relational rounds re-read, pinned
    * for the scope. */
  private def dedupedEdges(s: Fixpoint.Scope, edges: DataFrame): DataFrame =
    s.cut(edges.select(col("src"), col("dst")).distinct())

  /** HITS hubs and authorities (Kleinberg, JACM 1999) — the
    * query-dependent companion to [[pageRank]]: on a bipartite
    * buyer→supplier (or page→cited-page) graph, hub scores rank the
    * pointers and authority scores rank the pointed-at. Sum (L1)
    * normalization each half-step keeps every operation
    * division-or-sum — no sqrt in the iteration — so the
    * decimal(28,12) round-then-exact-sum regime carries through
    * unchanged and iteration K's state is bit-identical to an
    * unrolled SQL replay.
    *
    * Per iteration: authority half-step (join state to edges on src,
    * aggregate hubs by dst, one-row total broadcast on a non-foldable
    * key, normalize + round 12 dp), then the mirror hub half-step on
    * dst. Two node-keyed shuffle joins + two bounded aggregations per
    * round over one deduped cut of the edges, with a `localCheckpoint`
    * lineage cut per half-step.
    */
  def hits(edges: DataFrame, iterations: Int = 4,
           checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 1, "hits needs at least one iteration")
    Fixpoint.run("hits", edges, checkpointDir) { s =>
    val e = dedupedEdges(s, edges)
    // one cut PER HALF-STEP is deliberate: each half-step references its
    // input state twice (the contribution join and the score re-attach),
    // so an un-checkpointed auth output would have its whole subtree
    // re-executed in both branches of the hub step's diamond — fusing the
    // two cuts was tried in r09 and DOUBLED the round's task time (q134
    // run_ms 65k → 135-178k); reverted.
    s.iterate(hitsInit(e), iterations) { (st, _) =>
      hitsHubStep(s.round(hitsAuthStep(st, e), "auth"), e)
    }
    }
  }

  /** HITS state init: every node at hub = auth = 1/n. */
  private def hitsInit(e: DataFrame): DataFrame = {
    import graft.operators.Guards
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    val meta = nodes.agg(count(lit(1)).as("n"))
      .withColumn("__k", Guards.constKey(col("n")))
    nodes
      .withColumn("__k", Guards.constKey(col("node")))
      .join(broadcast(meta), "__k")
      .select(col("node"), round(lit(1.0) / col("n"), 12).as("hub"),
        round(lit(1.0) / col("n"), 12).as("auth"))
  }

  /** [[hits]] with the [[pageRankConverged]] L1 stop: iterate until
    * Σ round(|hub−hub'|,12) + Σ round(|auth−auth'|,12) < `tol` (or
    * `maxIter`), returning (node, hub, auth, iters, l1_delta). The delta
    * against the previous full iteration's scores, carried as
    * `__phub`/`__pauth`, is one one-row aggregate broadcast onto the new
    * state, so the stop check is a limit-1 probe of the just-cut state
    * ([[Fixpoint.Scope.probe]]) — no extra aggregation job per round.
    * After `iters` rounds the scores are bit-identical to
    * `hits(e, iters)`; the q183 oracle unrolls gated rounds (fixed-point
    * pass-through) exactly like q182's. */
  def hitsConverged(edges: DataFrame, tol: Double, maxIter: Int = 30,
                    checkpointDir: Option[String] = None): DataFrame = {
    require(tol > 0 && maxIter >= 1, "need tol > 0 and maxIter >= 1")
    Fixpoint.run("hitsConverged", edges, checkpointDir) { s =>
    val e = dedupedEdges(s, edges)
    import graft.operators.Guards
    val init = hitsInit(e)
      .withColumn("__phub", lit(null).cast("double"))
      .withColumn("__pauth", lit(null).cast("double"))
    val hitsDelta = (st: DataFrame) =>
      st.agg((deltaExpr(col("hub"), col("__phub")) +
        deltaExpr(col("auth"), col("__pauth"))).as("__delta"))
    // the auth half-step output is re-referenced twice by the hub
    // half-step (contribution join + score re-attach) — cut it per round
    // or the whole auth subtree re-executes in both branches (the q134
    // diamond, r09: fused round ran at 2× the task time). Its own series,
    // so it keeps O(1) auth states.
    val (state, iters, delta) = s.probe(init, tol, maxIter,
        st => hitsDelta(st).head().getDouble(0)) { st =>
      // the iteration's delta (vs the carried previous scores) is ONE
      // one-row aggregate broadcast onto the new state — inside the
      // round's job, not a separate driver action
      val dAgg = hitsDelta(st).withColumn("__k", Guards.constKey(col("__delta")))
      // st may still carry last round's broadcast __delta; rebuild the
      // carry from scratch so this round's broadcast is the only one
      val carried = st.select(col("node"), col("hub"), col("auth"),
        col("hub").as("__phub"), col("auth").as("__pauth"))
      hitsHubStep(s.round(hitsAuthStep(carried, e), "auth"), e)
        .withColumn("__k", Guards.constKey(col("node")))
        .join(broadcast(dAgg), "__k")
        .drop("__k")
    }
    state.select(col("node"), col("hub"), col("auth"),
      lit(iters).as("iters"), round(lit(delta), 12).as("l1_delta"))
    }
  }

  private def exactSum12Col(c: Column): Column =
    sum(round(c, 12).cast("decimal(28,12)")).cast("double")

  /** Columns a half-step must thread through untouched — the converged
    * loop's previous-score carry (__phub/__pauth) rides the state. */
  private def hitsExtras(state: DataFrame): Seq[Column] =
    state.columns.toSeq
      .filter(c => c != "node" && c != "hub" && c != "auth" && c != "__k")
      .map(col)

  /** HITS authority half-step: join state to edges on src, aggregate hub
    * mass by dst, L1-normalize. Edge side is exchange-free when e is
    * bucketed by src. */
  private[graft] def hitsAuthStep(state: DataFrame, e: DataFrame): DataFrame = {
    import graft.operators.Guards
    val aRaw = shjHint(state).join(e, state("node") === e("src"))
      .groupBy(col("dst").as("node"))
      .agg(exactSum12Col(col("hub")).as("raw"))
    val aTot = aRaw.agg(exactSum12Col(col("raw")).as("tot"))
      .withColumn("__k", Guards.constKey(col("tot")))
    state.drop("auth")
      .join(shjHint(aRaw), Seq("node"), "left")
      .withColumn("__k", Guards.constKey(col("node")))
      .join(broadcast(aTot), "__k")
      .select(Seq(col("node"), col("hub"),
        round(coalesce(col("raw"), lit(0.0)) / col("tot"), 12).as("auth")) ++
        hitsExtras(state): _*)
  }

  /** HITS hub half-step (mirror of [[hitsAuthStep]] on dst): edge side is
    * exchange-free when eDst is bucketed by dst. */
  private[graft] def hitsHubStep(state: DataFrame, eDst: DataFrame): DataFrame = {
    import graft.operators.Guards
    val hRaw = shjHint(state).join(eDst, state("node") === eDst("dst"))
      .groupBy(col("src").as("node"))
      .agg(exactSum12Col(col("auth")).as("raw"))
    val hTot = hRaw.agg(exactSum12Col(col("raw")).as("tot"))
      .withColumn("__k", Guards.constKey(col("tot")))
    state.drop("hub")
      .join(shjHint(hRaw), Seq("node"), "left")
      .withColumn("__k", Guards.constKey(col("node")))
      .join(broadcast(hTot), "__k")
      .select(Seq(col("node"),
        round(coalesce(col("raw"), lit(0.0)) / col("tot"), 12).as("hub"),
        col("auth")) ++ hitsExtras(state): _*)
  }

  /** All-pairs minimum hop counts, capped at `maxHops`, by min-plus
    * squaring (pointer doubling): after round i, `known` holds the exact
    * min-hop distance for every pair at distance <= 2^i (a shortest path
    * of length <= 2^i splits into two shortest halves of length
    * <= 2^(i-1), both already known). ceil(log2(maxHops)) rounds total —
    * O(log n) scheduler round-trips instead of O(diameter) — and exactly
    * ONE job per round: the eager `localCheckpoint` both materializes the
    * round and cuts lineage, so there is no per-round cache + count +
    * left-anti job storm and no geometric plan growth.
    *
    * The per-round `hops <= maxHops` filter keeps the state bounded to
    * the pairs the caller asked for (and is what makes the doubling join
    * safe: both sides are already capped).
    */
  def bfsHops(edges: DataFrame, maxHops: Int,
              checkpointDir: Option[String] = None): DataFrame = {
    // edges: (src, dst)
    Fixpoint.run("bfsHops", edges, checkpointDir) { s =>
    // ceil(log2(maxHops)) doublings reach maxHops
    val rounds = Iterator.iterate(1L)(_ * 2).takeWhile(_ < maxHops).size
    s.iterate(edges.select(col("src"), col("dst"), lit(1L).as("hops"))
        .groupBy("src", "dst").agg(min("hops").as("hops")), rounds) { (known, _) =>
      val doubled = known.alias("a")
        .join(known.alias("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"),
          (col("a.hops") + col("b.hops")).as("hops"))
      known.unionByName(doubled)
        .groupBy("src", "dst").agg(min("hops").as("hops"))
        .where(col("hops") <= maxHops)
    }
    }
  }

  /** Personalized PageRank (Page et al. 1999 §6; the topic-sensitive /
    * seed-proximity variant): the teleport vector concentrates on a
    * SOURCE SET instead of all nodes — p(v) = 1/|S| for v ∈ S, else 0 —
    * and dangling mass returns to the sources, so rank measures
    * proximity to the seeds ("suppliers these customers are closest
    * to"), not global importance. [[pageRank]]'s rounds, its fixed-point
    * sums and its one job per round; the personalization vector rides
    * the state as one extra rounded column ([[rankRounds]]).
    *
    * `isSource` must be an engine-portable predicate over the node id
    * (the oracle evaluates the identical expression). Returns
    * (node, rank), rank rounded to 12 dp.
    */
  def personalizedPageRank(edges: DataFrame, isSource: Column => Column,
                           iterations: Int, damping: Double = 0.85,
                           teleport: Double = 0.15,
                           checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 1, "personalizedPageRank needs at least one iteration")
    Fixpoint.run("personalizedPageRank", edges, checkpointDir) { s =>
    val (state, _, _) = rankRounds(s, edges,
        Some((isSource, "personalizedPageRank: the source predicate matched no node")),
        damping, teleport, iterations)((_, i) => i >= iterations)
    state.select(col("node"), col("rank"))
    }
  }

  /** [[personalizedPageRank]] with the [[pageRankConverged]] L1 stop —
    * same stop rule, same gated-unroll oracle treatment (q184). Returns
    * (node, rank, iters, l1_delta). */
  def personalizedPageRankConverged(edges: DataFrame,
                                    isSource: Column => Column,
                                    tol: Double, maxIter: Int = 50,
                                    damping: Double = 0.85,
                                    teleport: Double = 0.15,
                                    checkpointDir: Option[String] = None)
      : DataFrame = {
    require(tol > 0 && maxIter >= 1, "need tol > 0 and maxIter >= 1")
    Fixpoint.run("personalizedPageRankConverged", edges, checkpointDir) { s =>
    convergedRanks(s, edges, Some((isSource,
        "personalizedPageRankConverged: the source predicate matched no node")),
      damping, teleport, tol, maxIter)
    }
  }

  /** The undirected neighbor list (both directions, no self-loops,
    * deduped) the LPA, k-core and random-walk rounds re-read, pinned for
    * the scope. */
  private def undirected(s: Fixpoint.Scope, edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    s.cut(e.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(e.select(col("dst").as("a"), col("src").as("b")))
      .where(col("a") =!= col("b")).distinct())
  }

  /** The undirected adjacency (both directions, no self-loops, deduped)
    * the LPA and k-core rounds pass messages over. An edge with a null
    * endpoint is dropped, as the relational `a =!= b` filter dropped it. */
  private def undirectedAdjacency(s: Fixpoint.Scope, edges: DataFrame)
      : Fixpoint.Adjacency =
    s.adjacency(edges, "src", "dst") { (a, b) =>
      if (a == null || b == null || a == b) Iterator.empty
      else Iterator((a, Some(b)), (b, Some(a)))
    }

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007, the self-vote stabilized variant) run to its fixed point:
    * every round, every node adopts the most frequent label among its
    * neighbors PLUS its own current label (one vote — the retention term
    * that damps the bipartite oscillation plain synchronous LPA is prone
    * to), ties to the smallest label in Spark's ordering of the id type
    * (UTF8 byte order for strings). Rounds run until NO node changes
    * label, or `maxIter` rounds — synchronous LPA can oscillate on
    * pathological structures; the self-vote damps the common cases and
    * the cap bounds the rest, deterministically either way. All counting
    * is integer-exact, so the argmax is engine-portable. Returns
    * (node, label, iters, changed) where `label` is the community id
    * (the minimal member id in the usual converged case) and `changed`
    * is the stop transition's change count (0 at a true fixed point);
    * the q188 oracle replays it as a gated unroll.
    *
    * Runs as message-passing rounds ([[Fixpoint.Scope.messages]]) over
    * the undirected adjacency: each round is one job in which every node
    * sends its label to its neighbors, one `reduceByKey` counts each
    * node's votes, and the change census is reduced by the same job. */
  def labelPropagationConverged(edges: DataFrame, maxIter: Int = 20,
                                checkpointDir: Option[String] = None)
      : DataFrame = {
    require(maxIter >= 1, "labelPropagationConverged needs maxIter >= 1")
    Fixpoint.run("labelPropagationConverged", edges, checkpointDir) { s =>
    val g = undirectedAdjacency(s, edges)
    val init = g.entries.mapPartitions(_.map { case (node, _) =>
      InternalRow(node, node, null)
    })
    val schema = StructType(Seq(
      StructField("node", g.keyType, nodeNullable(edges)),
      StructField("lab", g.keyType, nodeNullable(edges)),
      StructField("__prev", g.keyType)))
    val (state, iters, changed, _) = s.messages(g, init, 0L, maxIter,
        new LabelKernel(g.keyType), schema) { (changed, i) =>
      g.nodes == 0 || (i > 0 && changed == 0L)
    }
    state.select(col("node"), col("lab").as("label"), lit(iters).as("iters"),
        lit(changed.toDouble).cast("long").as("changed"))
    }
  }

  /** Whether a node column over both endpoints of `edges` is nullable. */
  private def nodeNullable(edges: DataFrame): Boolean =
    edges.schema("src").nullable || edges.schema("dst").nullable

  /** State rows whose value at `now` differs from the previous round's
    * at `prev` (null before the first round, which counts as no change). */
  private def changedCount(rows: Iterator[InternalRow], now: Int, prev: Int,
                           dt: DataType): Long =
    rows.count(r => !r.isNullAt(prev) && r.get(now, dt) != r.get(prev, dt)).toLong

  /** Votes per label. */
  private type Votes = scala.collection.mutable.HashMap[Any, Long]

  /** State row (node, lab, prev); a message is the votes of neighbours. */
  private final class LabelKernel(dt: DataType)
      extends Fixpoint.Kernel[Votes, Long] {
    private val ord = PhysicalDataType.ordering(dt)
    def send(node: Any, nbrs: Array[Any], st: InternalRow, c: Long) = {
      val lab = st.get(1, dt)
      nbrs.iterator.map(d => (d, new Votes += lab -> 1L))
    }
    def merge(a: Votes, b: Votes): Votes = {
      b.foreach { case (l, n) => a(l) = a.getOrElse(l, 0L) + n }
      a
    }
    def update(node: Any, nbrs: Array[Any], st: InternalRow, in: Votes,
               c: Long): InternalRow = {
      val own = st.get(1, dt)
      val votes = if (in == null) new Votes else in
      votes(own) = votes.getOrElse(own, 0L) + 1
      val (best, _) = votes.reduce { (x, y) =>
        if (y._2 > x._2 || (y._2 == x._2 && ord.lt(y._1, x._1))) y else x
      }
      InternalRow(node, best, own)
    }
    def census(rows: Iterator[InternalRow]): Long = changedCount(rows, 1, 2, dt)
    def combine(a: Long, b: Long): Long = a + b
  }

  /** Exact per-node triangle counts by degree-ordered edge orientation
    * (Suri & Vassilvitskii, WWW'11 — the MapReduce triangle-counting
    * discipline; also Schank & Wagner's forward algorithm). The naive
    * wedge generator joins the adjacency list with itself on the center
    * node, so its volume is Σ deg(v)² — a single celebrity node with
    * degree 10⁶ contributes 10¹² wedges. Orienting every edge from its
    * lower-(degree, id) endpoint to its higher one makes each triangle
    * countable exactly once from its minimum vertex, and caps every
    * node's OUT-degree at O(√m) (a node with out-degree d has d
    * neighbors of degree ≥ its own, so d² ≤ 2m) — wedge volume falls
    * from Σ deg² to Σ outdeg² ≤ m^1.5, the bound that survives skew at
    * 100 TB. Ties break on node id, so the orientation is a total order
    * and both engines replay it exactly.
    *
    * Three shuffle joins, no iteration: degrees (one groupBy over both
    * endpoint projections), wedges (oriented ⋈ oriented on the center),
    * closure (wedges ⋈ oriented on the far pair). Each closed triangle
    * (u,v,w) credits all three vertices via a 3-row explode; the final
    * count is an integer groupBy. Returns (node, triangles), nodes with
    * ≥1 triangle only. */
  def triangleCount(edges: DataFrame): DataFrame =
    Fixpoint.run("triangleCount", edges, None) { s =>
    // und feeds the degree census (two endpoint projections) and the
    // orientation join, and `oriented` feeds both wedge sides plus the
    // closure lookup — without explicit cuts the (typically expensive)
    // edge-construction subtree re-executes per branch (measured 44 s →
    // 13 s at sf0.1 from these two lines)
    val und = s.cut(edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct())
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient a→b when (deg_a, a) < (deg_b, b), else b→a; spelled as an
    // explicit lexicographic test so the oracle's SQL is word-for-word
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = s.cut(withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("db")).otherwise(col("da")).as("dv")))
    // wedges from the center u: unordered neighbor pairs, ordered by the
    // SAME (deg, id) total order so the closing edge is looked up in its
    // oriented direction
    val e1 = oriented.as("e1"); val e2 = oriented.as("e2")
    val wedges = e1.join(e2, col("e1.u") === col("e2.u") &&
        (col("e1.dv") < col("e2.dv") ||
          (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
      .select(col("e1.u").as("u"), col("e1.v").as("x"), col("e2.v").as("y"))
    val closing = oriented.select(col("u").as("x"), col("v").as("y"))
    val triangles = wedges.join(closing, Seq("x", "y"))
    triangles
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    }

  /** k-core: the maximal subgraph where every member has ≥ k neighbors
    * INSIDE the subgraph (Seidman 1983; Batagelj-Zaveršnik peeling) —
    * the graph-topology quality gate (a crawl/citation node's coreness
    * separates connected-but-peripheral from densely-embedded far more
    * robustly than raw degree, which a single spam hub inflates).
    * Synchronous distributed peeling: every round recomputes each live
    * node's degree among live nodes and kills all nodes under k AT ONCE;
    * monotone (the live set only shrinks), so it reaches the unique
    * fixed point in at most peel-depth rounds.
    *
    * Runs as message-passing rounds ([[Fixpoint.Scope.messages]]) over
    * the undirected adjacency. The state carries each node's MAINTAINED
    * live degree: init is the full degree, and each round only the nodes
    * killed in the previous round send a decrement to each neighbor, so
    * a round moves |edges touching the kill frontier|, not |live edges|
    * (deg at round t is the degree among the round-(t−1) live set: each
    * dead node decrements each neighbor exactly once, in the round after
    * it died). One job per round, which also reduces the kill census;
    * zero kills stops. Because peeling is monotone, the capped run
    * equals the gated run wherever maxIter ≥ peel depth, and the oracle
    * can unroll rounds UNGATED. Returns core members only:
    * (node, core_deg, iters) with core_deg ≥ k by construction. A state
    * at its fixed point already carries each member's degree in the
    * core; a run `maxIter` capped takes one more round for it. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 30,
            checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1 && maxIter >= 1, "kCore needs k >= 1 and maxIter >= 1")
    Fixpoint.run("kCore", edges, checkpointDir) { s =>
    val g = undirectedAdjacency(s, edges)
    val init = g.entries.mapPartitions(_.map { case (node, nbrs) =>
      InternalRow(node, true, nbrs.length.toLong, null)
    })
    // the round after the cap leaves (prev, deg) = (members, degree in
    // the core) — exactly what a fixed point carries
    val schema = StructType(Seq(
      StructField("node", g.keyType, nodeNullable(edges)),
      StructField("alive", BooleanType, nullable = false),
      StructField("deg", LongType, nullable = false),
      StructField("__prev", BooleanType)))
    val (state, rounds, _, _) = s.messages(g, init, 0L, maxIter + 1,
        new CoreKernel(k), schema) { (kills, i) =>
      g.nodes == 0 || (i > 0 && kills == 0L)
    }
    state.where(col("__prev") && col("deg") > 0)
      .select(col("node"), col("deg").as("core_deg"),
        lit(math.min(rounds, maxIter)).as("iters"))
    }
  }

  /** State row (node, alive, deg, prev); a message counts neighbours
    * killed in the previous round. */
  private final class CoreKernel(k: Int)
      extends Fixpoint.Kernel[Long, Long] {
    def send(node: Any, nbrs: Array[Any], st: InternalRow, c: Long) =
      if (!st.isNullAt(3) && st.getBoolean(3) && !st.getBoolean(1))
        nbrs.iterator.map(d => (d, 1L))
      else Iterator.empty
    def merge(a: Long, b: Long): Long = a + b
    def update(node: Any, nbrs: Array[Any], st: InternalRow, in: Long,
               c: Long): InternalRow = {
      val alive = st.getBoolean(1)
      val deg = st.getLong(2) - in
      InternalRow(node, alive && deg >= k, deg, alive)
    }
    def census(rows: Iterator[InternalRow]): Long =
      changedCount(rows, 1, 3, BooleanType)
    def combine(a: Long, b: Long): Long = a + b
  }

  /** Multi-source WEIGHTED shortest paths: synchronous Bellman–Ford
    * relaxation over an edge DataFrame (src, dst, w) with non-negative
    * integer weights — the weighted companion to [[bfsHops]], and the
    * distributed regime of the problem [[floydWarshall]] solves densely
    * on the driver (the reference's scipy APSP, HwyNetwork.py:227-294,
    * is the broadcastable small-graph case; this is the plan when the
    * GRAPH is the big data). The state holds only REACHED nodes
    * (frontier-compact: unreached nodes cost nothing), and each round is
    * one state⋈edges equi-join + one min-aggregation — relaxing ALL
    * edges out of the reached set at once, so the round count is bounded
    * by the weighted-path hop depth, not by node count.
    *
    * All arithmetic is integer (`dist` is BIGINT), so determinism is
    * free — no decimal regime needed. Distances are monotone
    * non-increasing and the reached set monotone non-decreasing, so a
    * converged round recomputes the same state and an oracle can unroll
    * rounds UNGATED (the [[kCore]] treatment). The stop is probed: the
    * change census (newly-reached + strictly-improved rows) rides each
    * round's one-row broadcast and the loop stops when a transition
    * changed nothing, via the shared [[Fixpoint.Scope.probe]] transport —
    * `iters` = 1 + the number of state-changing transitions.
    *
    * `isSource` must be an engine-portable predicate over the node id.
    * Returns (node, dist, iters) for reached nodes only. */
  def sssp(edges: DataFrame, isSource: Column => Column, maxIter: Int = 30,
           checkpointDir: Option[String] = None): DataFrame = {
    require(maxIter >= 1, "sssp needs maxIter >= 1")
    Fixpoint.run("sssp", edges, checkpointDir) { s =>
    val e = s.cut(edges.select(col("src"), col("dst"),
      col("w").cast("long").as("w")))
    val init = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .where(isSource(col("node")))
      .select(col("node"), lit(0L).as("dist"),
        lit(null).cast("long").as("__prev"))
    val (state, iters, _) = s.probe(init, 0.5, maxIter,
      st => st.agg(ssspCensus(st)).head().getDouble(0))(ssspRound(_, e))
    state.select(col("node"), col("dist"), lit(iters).as("iters"))
    }
  }

  /** Change census of the transition an SSSP state represents: newly
    * reached (`__prev` null) + strictly improved rows. Coalesced to 0 so
    * an EMPTY state (no seed matched the graph) probes as converged on
    * round one instead of sum()'s null spinning the loop to maxIter. */
  private def ssspCensus(state: DataFrame): Column =
    coalesce(sum((col("__prev").isNull || col("dist") < col("__prev"))
      .cast("long")), lit(0L)).cast("double")

  /** One relaxation round. Census first (over the INPUT state — the
    * probe-transport contract: round k's output carries transition
    * k−1's census as `__delta`): a row changed if it is newly reached
    * (`__prev` null) or strictly improved. Then relax every edge out of
    * the reached set and fold old state + candidates in ONE
    * min-aggregation — the old distance rides the union as `__prevc`
    * (candidates carry null), so `min(__prevc)` reconstructs "previous
    * distance, null if newly reached" without a second join. */
  private[graft] def ssspRound(state0: DataFrame, e: DataFrame): DataFrame = {
    import graft.operators.Guards
    val state = state0.drop("__delta")
    val census = state.agg(ssspCensus(state).as("__delta"))
      .withColumn("__k", Guards.constKey(col("__delta")))
    // FRONTIER-ONLY relaxation (r09, opt guide §2.3): only rows whose
    // distance changed in the previous transition (`__prev` null = newly
    // reached, dist < __prev = improved) can produce a candidate that
    // wins the min-fold — an unchanged node's out-offers were already
    // folded in the round after it last changed, and relaxation is
    // monotone, so dropping them leaves every round's STATE bit-identical
    // while the join carries |frontier|·deg rows instead of |state|·deg.
    val frontier = state.where(
      col("__prev").isNull || col("dist") < col("__prev"))
    val relax = shjHint(frontier).join(e, col("node") === col("src"))
      .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"),
        lit(null).cast("long").as("__prevc"))
    state.select(col("node"), col("dist"), col("dist").as("__prevc"))
      .unionByName(relax)
      .groupBy("node")
      .agg(min("dist").as("dist"), min("__prevc").as("__prev"))
      .withColumn("__k", Guards.constKey(col("node")))
      .join(broadcast(census), "__k")
      .select(col("node"), col("dist"), col("__prev"), col("__delta"))
  }

  /** Sampled betweenness centrality (Brandes 2001; sampled-pivot
    * estimation per Brandes & Pich 2007) over an UNWEIGHTED directed
    * edge frame — the "bridge node" readout that closeness (q194)
    * cannot see: a node all shortest paths squeeze through scores high
    * here even when it is far from everything. Hop-limited: only
    * shortest paths of ≤ `maxHops` hops contribute (the k-betweenness
    * variant) — the cap is what bounds BOTH the round count and the
    * σ path counts, and makes a fixed SQL unroll total.
    *
    * Two phases, both rounds of keyed equi-joins over one deduped cut of
    * the edges:
    *  - FORWARD: per-seed BFS with path counting. State is settled
    *    (seed, node, hop, σ) — σ the exact BIGINT number of shortest
    *    paths; each round expands the hop-h frontier through the edge
    *    set, sums σ over predecessors, and anti-joins already-settled
    *    pairs. k seeds advance in the SAME rounds ([[ssspPerSeed]]'s
    *    transport), so rounds = min(reached depth, maxHops), not
    *    k × depth.
    *  - BACKWARD: Brandes dependency accumulation by DESCENDING hop
    *    level: δ(v) = Σ_{w succ, hop(w)=hop(v)+1} (σv/σw)·(1+δ(w)).
    *    Level h's δ is final when computed (all deeper levels done),
    *    so each level is one join + one aggregation. Levels above the
    *    reached depth are structural no-ops, so the loop (and the
    *    oracle's unroll) runs maxHops−1 … 1 unconditionally.
    *
    * Determinism: σ is exact integer; δ addends are one IEEE division
    * + one multiply of 6-dp-grid values rounded at 12 dp and summed as
    * exact DECIMAL(38,12); δ re-grids at 6 dp per level — the [[Pca]]
    * regime, so the oracle replays every level bit-for-bit. Returns
    * (node, betweenness) for nodes with positive score (hop-0 seed
    * self-rows excluded — a seed still scores via OTHER seeds' trees).
    */
  def betweennessSampled(edges: DataFrame, isSource: Column => Column,
                         maxHops: Int,
                         checkpointDir: Option[String] = None): DataFrame = {
    require(maxHops >= 2, "betweennessSampled needs maxHops >= 2")
    Fixpoint.run("betweennessSampled", edges, checkpointDir) { s =>
    // forward expands through e on src, backward pushes dependency back
    // through e on dst
    val e = dedupedEdges(s, edges)
    val seeds = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .where(isSource(col("node")))
      .select(col("node").as("seed"), col("node"),
        lit(0).as("hop"), lit(1L).as("sigma"))
    // round r settles hop r: stop at the first round that settled nothing
    val (settled, rounds, emptied) = s.until(seeds, maxHops) { (st, h) =>
      st.unionByName(betwForwardRound(st, e, h))
    } { (st, r) => r > 0 && st.where(col("hop") === r).limit(1).count() == 0 }
    // deepest populated hop: when the loop stopped on an empty hop, round
    // `rounds`'s expansion found nothing, so that hop is empty
    val deepest = if (emptied) rounds - 1 else rounds
    // Backward accumulation on PER-LEVEL frames (r09): hop h's δ depends
    // only on hop h+1's FINAL δ and the hop-h settled rows, so each level
    // is one join + one aggregation over LEVEL-sized frames — the old
    // formulation rebuilt (filter ≠lv ∪ updated lv) and re-checkpointed
    // the ENTIRE settled state once per level, paying |state| scan+write
    // × levels for data that never changes again. δ values, the level
    // order and every rounding site are unchanged (the oracle's unroll
    // replays the same recurrence); only which rows ride each checkpoint
    // differs. Levels above deepest−1 stay structural no-ops and are
    // still skipped on the engine side.
    // Level frames are long-lived cuts (r10, advice item 1): every level
    // is re-read by the FINAL union after later levels checkpoint, and
    // `settled` itself is re-sliced per level — the keep-newest-2
    // round-state invariant does not hold for either, so treating them
    // as round state (as r09 did) had a durable run with deepest >= 3
    // deleting the settled checkpoint (and all but two levels) out from
    // under the final aggregate. Level frames are bounded by maxHops per
    // invocation — the same boundedness argument as the edge set.
    val levels = scala.collection.mutable.Map.empty[Int, DataFrame]
    if (deepest >= 1) {
      levels(deepest) = s.cut(settled.where(col("hop") === deepest)
        .withColumn("delta", lit(0.0)))
      var lv = math.min(maxHops - 1, deepest - 1)
      while (lv >= 1) {
        levels(lv) = s.cut(betwBackwardLevelFrames(
          settled.where(col("hop") === lv), levels(lv + 1), e))
        lv -= 1
      }
    }
    val scored =
      if (deepest >= 1)
        (1 to deepest).map(levels).reduce(_ unionByName _)
      else settled.withColumn("delta", lit(0.0)).where(col("hop") > 0)
    scored
      .groupBy("node")
      .agg(round(betwSumDec12(col("delta")), 6).as("betweenness"))
      .where(col("betweenness") > 0)
    }
  }

  private def betwSumDec12(c: Column): Column =
    sum(round(c, 12).cast("decimal(38,12)")).cast("double")

  /** Approximate neighborhood function N(h) — the number of (u, v)
    * pairs within h hops — by per-node mergeable bottom-k (KMV)
    * sketches propagated along edges (ANF, Palmer et al. KDD'02;
    * HyperBall, Boldi & Vigna 2013, with KMV in place of HyperLogLog
    * because the repo's md5-derived KMV is ENGINE-PORTABLE — a binary
    * HLL register file is not, so this stays DuckDB-oracled). N(h)'s
    * growth curve is the scale-robust way to read a graph's effective
    * diameter and connectivity mass: exact answers need all-pairs
    * closure (O(n²) state — [[bfsHops]] is that regime), while the
    * sketch state is k longs per node at ANY graph size.
    *
    * Per round: each node's sketch absorbs its out-neighbors' sketches
    * — explode to (node, hash), then one node-keyed native bottom-k
    * aggregate ([[graft.functions.native.BottomKAgg]]) keeps the k
    * smallest per node. Bottom-k of a union IS the bottom-k of unioned
    * bottom-k's, so truncation per round — and per partial state — is
    * lossless for the estimator. One node-keyed shuffle per round.
    *
    * Estimator: with fewer than k distinct hashes the sketch IS the
    * set (exact count); at k, |R| ≈ (k−1)·2⁶⁰ / kth-smallest (hashes
    * uniform on [0, 2⁶⁰) — [[graft.functions.Text.md5Hash64]]'s
    * range). Both branches are single IEEE ops on exact integers, so
    * the per-node estimate is engine-exact after round-4; per-hop
    * totals sum as exact DECIMAL(38,4). Returns one row per hop:
    * (hop, n_nodes, est_pairs). */
  def neighborhoodFunction(edges: DataFrame, k: Int, maxHops: Int,
                           seed: Int = 7,
                           checkpointDir: Option[String] = None)
      : DataFrame = {
    require(k >= 2 && maxHops >= 1, "need k >= 2 and maxHops >= 1")
    Fixpoint.run("neighborhoodFunction", edges, checkpointDir) { s =>
    val e = s.cut(edges.select(col("src"), col("dst")).distinct())
    var state = s.round(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct()
        .select(col("node"), array(graft.functions.Text
          .md5Hash64(col("node").cast("string"), seed)).as("kmv")))
    // (k−1)·2^60 as ONE exact literal — both engines parse the same
    // constant instead of re-deriving it in their own literal types
    val scaleC = (k - 1).toDouble * 1.152921504606846976e18
    val estCol = when(size(col("kmv")) < k, size(col("kmv")).cast("double"))
      .otherwise(lit(scaleC) / element_at(col("kmv"), k))
    val out = (1 to maxHops).map { h =>
      val contrib = e.join(shjHint(state), e("dst") === state("node"))
        .select(e("src").as("node"), col("kmv"))
      // ONE node-keyed shuffle per round, through the native
      // graft_bottomk aggregate — its PARTIAL states are already
      // truncated to k (bottom-k of a union is the bottom-k of unioned
      // bottom-k's), so the exchange ships ≤8k bytes per group however
      // many distinct hashes a partition saw (a first cut spelled the
      // round as distinct → keyed window → collect_list: THREE wide
      // shuffles with sorts; steady 70.3 s → 14.7 s at sf0.1 from
      // collapsing to one).
      val hashes = state.select(col("node"), explode(col("kmv")).as("h"))
        .unionByName(contrib.select(col("node"), explode(col("kmv")).as("h")))
      state = s.round(hashes.groupBy("node").agg(Native.bottomK(col("h"), k).as("kmv")))
      val row = state.agg(count(lit(1)).as("n"),
        coalesce(sum(round(estCol, 4).cast("decimal(38,4)")).cast("double"),
          lit(0.0)).as("p"))
        .head()
      (h, row.getLong(0), row.getDouble(1))
    }
    val spark = edges.sparkSession
    import spark.implicits._
    out.toDF("hop", "n_nodes", "est_pairs")
    }
  }

  /** One forward Brandes round: expand the hop-`h` frontier through the
    * edge set (exchange-free on the edge side when `e` is bucketed by
    * src — [[GraphClusterPlanSpec]] locks it), sum σ over predecessors,
    * anti-join already-settled pairs. Returns the NEW hop-(h+1) rows. */
  private[graft] def betwForwardRound(settled: DataFrame, e: DataFrame,
                                      h: Int): DataFrame = {
    val frontier = settled.where(col("hop") === h)
    val cand = shjHint(frontier).join(e, frontier("node") === e("src"))
      .groupBy(col("seed"), col("dst").as("node"))
      .agg(sum("sigma").as("sigma"))
    cand.join(settled, Seq("seed", "node"), "left_anti")
      .select(col("seed"), col("node"), lit(h + 1).as("hop"), col("sigma"))
  }

  /** One backward Brandes level on per-level frames: hop-(lv+1)
    * dependencies (`upDelta`) are FINAL — push (σv/σw)·(1+δw) down one
    * level through `eDst` (exchange-free on the edge side when bucketed
    * by dst) and re-grid at 6 dp. `down` is the hop-lv settled slice
    * (seed, node, hop, sigma); returns it with its final `delta`. */
  private[graft] def betwBackwardLevelFrames(down: DataFrame,
      upDelta: DataFrame, eDst: DataFrame): DataFrame = {
    val up = upDelta.alias("w")
    val contrib = shjHint(up).join(eDst, col("w.node") === eDst("dst"))
      .select(col("w.seed").as("seed"), col("src").as("node"),
        col("w.sigma").as("sw"), col("w.delta").as("dw"))
    val dsum = down.join(shjHint(contrib), Seq("seed", "node"))
      .groupBy(col("seed"), col("node"))
      .agg(round(betwSumDec12(
        (col("sigma").cast("double") / col("sw")) *
          (lit(1.0) + col("dw"))), 6).as("dnew"))
    down.select(col("seed"), col("node"), col("hop"), col("sigma"))
      .join(shjHint(dsum), Seq("seed", "node"), "left")
      .select(col("seed"), col("node"), col("hop"), col("sigma"),
        coalesce(col("dnew"), lit(0.0)).as("delta"))
  }

  /** Newman modularity of a node partition (Newman & Girvan 2004,
    * eq. 5): Q = Σ_c [ m_c/m − (d_c/(2m))² ] over the undirected
    * simple graph, where m is the undirected edge count, m_c the edges
    * with both endpoints in community c, and d_c the degree mass of c.
    * This is the standard quality readout for a community assignment
    * ([[labelPropagationConverged]]'s output): Q ≈ 0 means the
    * partition is no better than the degree-preserving random graph,
    * Q ≳ 0.3 means real structure — the number a curation pipeline
    * checks before trusting community-level sampling decisions.
    *
    * One bounded pass, no iteration: canonicalize edges to distinct
    * a<b pairs (one shuffle), label both endpoints (two node-keyed
    * joins — `labels` is node-scale, so at 100 TB these shuffle on the
    * node key like every round of the iterative family), then three
    * integer aggregations (m, per-community degree mass, per-community
    * intra edges) with the totals riding one-row constKey broadcasts.
    *
    * Determinism: every count is exact BIGINT; each community's
    * contribution is two IEEE divisions + one multiply + one subtract
    * on exact integers, pround-ed at 12 dp (intra/m is a
    * small-denominator rational — exactly the half-grid-point class
    * where built-in round() diverges across engines); the global Q
    * sums the rounded contributions as exact decimal — the
    * [[pageRank]] regime, so a SQL oracle replays it bit-for-bit.
    *
    * Returns one row per community: (label, nodes, deg_sum,
    * intra_edges, q_contrib, modularity) with `modularity` the global
    * Q repeated on every row (the driver-gate-friendly shape). */
  def modularity(edges: DataFrame, labels: DataFrame,
                 nodeCol: String = "node", labCol: String = "label")
      : DataFrame = Fixpoint.run("modularity", edges, None) { s =>
    import graft.operators.Guards
    val lab = labels.select(col(nodeCol).as("node"), col(labCol).as("lab"))
    val und = s.cut(edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct())
    val mRow = und.agg(count(lit(1)).cast("double").as("m"))
      .withColumn("__k", Guards.constKey(col("m")))
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val dc = lab.join(deg, Seq("node"))
      .groupBy(col("lab"))
      .agg(count(lit(1)).as("nodes"), sum(col("deg")).as("deg_sum"))
    val intra = und
      .join(lab.select(col("node").as("a"), col("lab").as("la")), "a")
      .join(lab.select(col("node").as("b"), col("lab").as("lb")), "b")
      .where(col("la") === col("lb"))
      .groupBy(col("la").as("lab")).agg(count(lit(1)).as("intra_edges"))
    val perC = dc.join(intra, Seq("lab"), "left")
      .withColumn("__k", Guards.constKey(col("lab")))
      .join(broadcast(mRow), "__k")
      .select(col("lab").as("label"), col("nodes"), col("deg_sum"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        // pround, not round: intra/m is a small-denominator rational
        // (m = exact edge count), so the 12-dp value can land exactly
        // on a half grid point where Spark/DuckDB round() diverge
        graft.functions.Exprs.pround(
          coalesce(col("intra_edges"), lit(0L)) / col("m") -
          (col("deg_sum") / (lit(2.0) * col("m"))) *
          (col("deg_sum") / (lit(2.0) * col("m"))), 12).as("q_contrib"))
    val qTot = perC.agg(
        sum(col("q_contrib").cast("decimal(28,12)")).cast("double").as("q"))
      .withColumn("__k", Guards.constKey(col("q")))
    perC.withColumn("__k", Guards.constKey(col("label")))
      .join(broadcast(qTot), "__k")
      .select(col("label"), col("nodes"), col("deg_sum"),
        col("intra_edges"), col("q_contrib"),
        graft.functions.Exprs.pround(col("q"), 12).as("modularity"))
  }

  /** Deterministic random-walk corpus generation (DeepWalk, Perozzi et
    * al. KDD'14; node2vec's p=q=1 case) — turn a graph into the
    * sequence corpus a skip-gram embedding trainer consumes. Each
    * seed launches `walksPerSeed` walkers; at step t a walker at node
    * u moves to the neighbor v minimizing
    * md5(seed:walk_id:t:v) — a hash-argmin stand-in for uniform
    * neighbor sampling that is exactly replayable on any engine (no
    * RNG state, the [[graft.functions.Text.md5Hash64]] convention),
    * while still decorrelating walks across walkers and steps.
    *
    * Per step: one walker⋈edges equi-join on the current node + one
    * min-struct aggregation per walker,
    * `walkLen` bounded rounds, walker-scale state. Walks move on the
    * UNDIRECTED view so no walker dead-ends. Returns one row per walk:
    * (walk_id, steps, walk) with `walk` the space-joined node
    * sequence — the training-corpus shape. */
  def randomWalks(edges: DataFrame, isSeed: Column => Column,
                  walkLen: Int, walksPerSeed: Int = 1, seed: Int = 7,
                  checkpointDir: Option[String] = None): DataFrame = {
    require(walkLen >= 1 && walksPerSeed >= 1,
      "randomWalks needs walkLen >= 1 and walksPerSeed >= 1")
    Fixpoint.run("randomWalks", edges, checkpointDir) { s =>
    val und = undirected(s, edges)
    val reps = array((1 to walksPerSeed).map(lit): _*)
    // the walk string rides the frontier state and grows by one token
    // per step (r08 verdict nit): the former shape accumulated a
    // walkLen-wide union of checkpointed frontiers and re-shuffled the
    // WHOLE trace through a final collect_list + array_sort — at long
    // walks that moves every (wid, step, node) row twice. Carrying the
    // append on the state moves each walk string once per round and
    // makes the output a plain projection of the final frontier. No
    // walker can dead-end (seeds and successors are always `und`
    // endpoints and `und` is symmetric), so the output is row-for-row
    // identical to the trace formulation — steps is walkLen+1 for
    // every walker by construction.
    val seeds = und.select(col("a").as("node")).distinct()
      .where(isSeed(col("node")))
      .select(explode(reps).as("r"), col("node"))
      .select(concat(col("node").cast("string"), lit("#"), col("r"))
        .as("wid"), col("node"),
        col("node").cast("string").as("walk"))
    s.iterate(seeds, walkLen) { (frontier, i) =>
      val t = i + 1
      val hashed = shjHint(frontier).join(und, frontier("node") === und("a"))
        .select(col("wid"), col("walk"),
          struct(graft.functions.Text.md5Hash64(
            concat(col("wid"), lit(":"), lit(t.toString), lit(":"),
              col("b").cast("string")), seed).as("h"),
            col("b").as("n")).as("hn"))
      hashed.groupBy("wid")
        .agg(min(col("hn")).getField("n").as("node"),
          min(col("walk")).as("__w"))
        .select(col("wid"), col("node"),
          concat(col("__w"), lit(" "), col("node").cast("string"))
            .as("walk"))
    }.select(col("wid").as("walk_id"),
      lit(walkLen + 1L).as("steps"), col("walk"))
    }
  }

  /** Skip-gram (center, context) pair extraction over a walk corpus
    * (word2vec's data layer — Mikolov et al. 2013, applied to
    * [[randomWalks]] output exactly as DeepWalk prescribes): every
    * ordered pair of positions within `window` of each other in the
    * same walk, counted corpus-wide. One walk-keyed self-join bounded
    * by walkLen·window pairs per walk + one pair-keyed count — both
    * map-side combinable, nothing quadratic in corpus size. Expects
    * (walk_id, walk) with space-joined tokens; returns
    * (center, context, n). */
  def skipGrams(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, "skipGrams needs window >= 1")
    val toks = walks.select(col("walk_id"),
      posexplode(split(col("walk"), " ")).as(Seq("pos", "tok")))
    val a = toks.select(col("walk_id"), col("pos").as("__pc"),
      col("tok").as("center"))
    val b = toks.select(col("walk_id").as("__w2"), col("pos").as("__px"),
      col("tok").as("context"))
    a.join(b, col("walk_id") === col("__w2") &&
        col("__pc") =!= col("__px") &&
        abs(col("__pc") - col("__px")) <= window)
      .groupBy("center", "context").agg(count(lit(1)).as("n"))
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003): score a
    * non-adjacent pair (x, y) by Σ_{z ∈ N(x)∩N(y)} 1/ln(deg z) — common
    * neighbors, inversely weighted by how promiscuous each one is. The
    * classic "who should be linked" readout over co-purchase /
    * co-authorship graphs; on a bipartite graph the candidates fall out
    * as same-side pairs automatically.
    *
    * Skew control — the part that decides 100 TB survival: raw wedge
    * enumeration is Σ deg(z)², so one celebrity center emits 10¹²
    * pairs. Two deterministic, engine-replayable bounds: (a) centers
    * above `maxCenterDeg` are DROPPED (their per-pair weight 1/ln(deg)
    * is the smallest in the graph, so they add the least signal per
    * unit of work — the standard cut); (b) optional pivot sampling à la
    * Brandes–Pich: only centers whose md5 hash ≡ 0 mod `sampleMod`
    * contribute (scores become a deterministic ~1/sampleMod-expectation
    * estimate). Wedge volume is then ≤ maxCenterDeg · m / sampleMod.
    *
    * Weights round at 12 dp into the decimal-exact sum regime; the
    * top-k order is (exact score desc, pair) — total, so both engines
    * cut the same k rows. Returns (node1, node2, common, aa). */
  def adamicAdar(edges: DataFrame, maxCenterDeg: Int, sampleMod: Int = 1,
                 topK: Int = 50, seed: Int = 7): DataFrame = {
    require(maxCenterDeg >= 2 && sampleMod >= 1 && topK >= 1,
      "adamicAdar needs maxCenterDeg >= 2, sampleMod >= 1, topK >= 1")
    Fixpoint.run("adamicAdar", edges, None) { s =>
    val e = edges.select(col("src"), col("dst"))
    val ec = s.cut(e.select(least(col("src"), col("dst")).as("n1"),
        greatest(col("src"), col("dst")).as("n2"))
      .where(col("n1") =!= col("n2")).distinct())
    val und = ec.select(col("n1").as("a"), col("n2").as("b"))
      .unionByName(ec.select(col("n2").as("a"), col("n1").as("b")))
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("d"))
    val ctr = deg.where(col("d") >= 2 && col("d") <= maxCenterDeg &&
      pmod(graft.functions.Text.md5Hash64(col("node").cast("string"), seed),
        lit(sampleMod)) === 0)
    val adj = und.join(ctr.select(col("node").as("a"), col("d")), "a")
      .select(col("a").as("z"), col("b").as("nbr"), col("d"))
    val x = adj.select(col("z"), col("nbr").as("n1"), col("d"))
    val y = adj.select(col("z").as("__z2"), col("nbr").as("n2"))
    val wedges = x.join(y, col("z") === col("__z2") && col("n1") < col("n2"))
    val sc = wedges.groupBy("n1", "n2")
      .agg(count(lit(1)).as("common"),
        sum(round(lit(1.0) / log(col("d").cast("double")), 12)
          .cast("decimal(28,12)")).cast("double").as("__aa"))
    sc.join(ec, Seq("n1", "n2"), "left_anti")
      .orderBy(col("__aa").desc, col("n1"), col("n2"))
      .limit(topK)
      .select(col("n1").as("node1"), col("n2").as("node2"), col("common"),
        round(col("__aa"), 9).as("aa"))
    }
  }

  /** [[sssp]] with PER-SEED provenance — state keyed (seed, node), so
    * the output carries every seed's own distance field instead of the
    * min over seeds. This is the transport for sampled centrality
    * (Eppstein & Wang 2004: closeness from k sampled sources): k seeds
    * cost k× the state of one [[sssp]] run in the SAME number of
    * rounds — one relaxation round advances every seed's frontier at
    * once, so the round count is the max weighted-hop depth over seeds,
    * not the sum. Returns (seed, node, dist, iters); all-BIGINT, same
    * probed stop, same ungated-unroll oracle treatment (monotone in
    * every (seed, node) cell). */
  def ssspPerSeed(edges: DataFrame, isSource: Column => Column,
                  maxIter: Int = 30,
                  checkpointDir: Option[String] = None): DataFrame = {
    require(maxIter >= 1, "ssspPerSeed needs maxIter >= 1")
    Fixpoint.run("ssspPerSeed", edges, checkpointDir) { s =>
    val e = s.cut(edges.select(col("src"), col("dst"),
      col("w").cast("long").as("w")))
    val init = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .where(isSource(col("node")))
      .select(col("node").as("seed"), col("node"), lit(0L).as("dist"),
        lit(null).cast("long").as("__prev"))
    val (state, iters, _) = s.probe(init, 0.5, maxIter,
      st => st.agg(ssspCensus(st)).head().getDouble(0))(ssspPerSeedRound(_, e))
    state.select(col("seed"), col("node"), col("dist"),
      lit(iters).as("iters"))
    }
  }

  /** One per-seed relaxation round — [[ssspRound]] with the seed riding
    * the key: the join stays node==src (seeds fan out map-side), the
    * min-fold groups by (seed, node). */
  private[graft] def ssspPerSeedRound(state0: DataFrame, e: DataFrame)
      : DataFrame = {
    import graft.operators.Guards
    val state = state0.drop("__delta")
    val census = state.agg(ssspCensus(state).as("__delta"))
      .withColumn("__k", Guards.constKey(col("__delta")))
    // frontier-only relaxation — see [[ssspRound]] (same monotonicity
    // argument per (seed, node); state sequence bit-identical)
    val frontier = state.where(
      col("__prev").isNull || col("dist") < col("__prev"))
    val relax = shjHint(frontier).join(e, col("node") === col("src"))
      .select(col("seed"), col("dst").as("node"),
        (col("dist") + col("w")).as("dist"),
        lit(null).cast("long").as("__prevc"))
    state.select(col("seed"), col("node"), col("dist"),
        col("dist").as("__prevc"))
      .unionByName(relax)
      .groupBy("seed", "node")
      .agg(min("dist").as("dist"), min("__prevc").as("__prev"))
      .withColumn("__k", Guards.constKey(col("node")))
      .join(broadcast(census), "__k")
      .select(col("seed"), col("node"), col("dist"), col("__prev"),
        col("__delta"))
  }
}
