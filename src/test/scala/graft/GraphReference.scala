package graft

import graft.operators.Fixpoint
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The relational forms the message-passing kernels replaced, kept
  * verbatim as test references: PageRank's `prInit`/`prRound` (fixed
  * rounds, and under the probe with `trackDelta = true`), personalized
  * PageRank's `pprInit`/`pprRound` likewise, `lpaRound`, `kcoreRound`
  * and Dedup's min-label propagation loop. GraphKernelParitySpec holds
  * the kernels to them. */
object GraphReference {

  private def shjHint(df: DataFrame): DataFrame = df.hint("shuffle_hash")

  private def deltaExpr(rank: Column, prev: Column): Column =
    sum(round(abs(rank - prev), 12).cast("decimal(28,12)")).cast("double")

  private def rankDelta(st: DataFrame): Double =
    st.agg(deltaExpr(col("rank"), col("__prev"))).head().getDouble(0)

  /** PageRank state init: (node, outdeg, n, rank=1/n). */
  def prInit(e: DataFrame): DataFrame = {
    import graft.operators.Guards
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    // (node, outdeg) with outdeg null for sinks; N broadcast on constKey
    val meta = nodes.agg(count(lit(1)).as("n"))
      .withColumn("__k", Guards.constKey(col("n")))
    nodes.join(outdeg, Seq("node"), "left")
      .withColumn("__k", Guards.constKey(col("node")))
      .join(broadcast(meta), "__k")
      .select(col("node"), col("outdeg"), col("n"),
        round(lit(1.0) / col("n"), 12).as("rank"))
  }

  def prRound(state0: DataFrame, e: DataFrame,
              damping: Double, teleport: Double,
              trackDelta: Boolean = false): DataFrame = {
    import graft.operators.Guards
    // the input may still carry last round's broadcast __delta — stale
    // and colliding with this round's
    val state = state0.drop("__delta")
    val exactSum12 = (c: Column) =>
      sum(round(c, 12).cast("decimal(28,12)")).cast("double")
    val contribs = shjHint(state.where(col("outdeg").isNotNull))
      .join(e, state("node") === e("src"))
      .groupBy(col("dst").as("node"))
      .agg(exactSum12(col("rank") / col("outdeg")).as("in_sum"))
    val massCol = coalesce(
      exactSum12(when(col("outdeg").isNull, col("rank"))), lit(0.0)).as("mass")
    val dangling =
      (if (trackDelta)
        state.agg(massCol, deltaExpr(col("rank"), col("__prev")).as("__delta"))
      else state.agg(massCol))
        .withColumn("__k", Guards.constKey(col("mass")))
    val newRank = round(lit(teleport) / col("n") +
      lit(damping) * (coalesce(col("in_sum"), lit(0.0)) +
        col("mass") / col("n")), 12).as("rank")
    val joined = state.withColumnRenamed("rank", "__rold")
      .join(shjHint(contribs), Seq("node"), "left")
      .withColumn("__k", Guards.constKey(col("node")))
      .join(broadcast(dangling), "__k")
    if (trackDelta)
      joined.select(col("node"), col("outdeg"), col("n"), newRank,
        col("__rold").as("__prev"), col("__delta"))
    else joined.select(col("node"), col("outdeg"), col("n"), newRank)
  }

  def pageRank(edges: DataFrame, iterations: Int = 8,
               damping: Double = 0.85, teleport: Double = 0.15,
               checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")
    Fixpoint.run("pageRank", edges, checkpointDir) { s =>
    val e = s.cut(edges.select(col("src"), col("dst")).distinct())
    s.iterate(prInit(e), iterations)((st, _) => prRound(st, e, damping, teleport))
      .select(col("node"), col("rank"))
    }
  }

  def pageRankConverged(edges: DataFrame, tol: Double, maxIter: Int = 50,
                        damping: Double = 0.85, teleport: Double = 0.15,
                        checkpointDir: Option[String] = None): DataFrame = {
    require(tol > 0 && maxIter >= 1, "need tol > 0 and maxIter >= 1")
    Fixpoint.run("pageRankConverged", edges, checkpointDir) { s =>
    val e = s.cut(edges.select(col("src"), col("dst")).distinct())
    val init = prInit(e).withColumn("__prev", lit(null).cast("double"))
    val (state, iters, delta) = s.probe(init, tol, maxIter, rankDelta)(
      st => prRound(st, e, damping, teleport, trackDelta = true))
    state.select(col("node"), col("rank"),
      lit(iters).as("iters"), round(lit(delta), 12).as("l1_delta"))
    }
  }

  /** PPR state init: (node, outdeg, p, rank=p) with p the seed-uniform
    * personalization vector. */
  def pprInit(e: DataFrame, isSource: Column => Column)
      : DataFrame = {
    import graft.operators.Guards
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val meta = nodes.where(isSource(col("node")))
      .agg(count(lit(1)).as("ns"))
      .withColumn("__k", Guards.constKey(col("ns")))
    nodes.join(outdeg, Seq("node"), "left")
      .withColumn("__k", Guards.constKey(col("node")))
      .join(broadcast(meta), "__k")
      .select(col("node"), col("outdeg"),
        round(when(isSource(col("node")),
          lit(1.0) / col("ns")).otherwise(lit(0.0)), 12).as("p"))
      .withColumn("rank", col("p"))
  }

  /** One PPR round — [[prRound]] with the teleport/dangling mass routed
    * to the personalization vector `p` instead of 1/n; `trackDelta` works
    * identically (delta rides the dangling broadcast, output re-carries
    * `__prev`). */
  def pprRound(state0: DataFrame, e: DataFrame,
               damping: Double, teleport: Double,
               trackDelta: Boolean = false): DataFrame = {
    import graft.operators.Guards
    val state = state0.drop("__delta")
    val exactSum12 = (c: Column) =>
      sum(round(c, 12).cast("decimal(28,12)")).cast("double")
    val contribs = shjHint(state.where(col("outdeg").isNotNull))
      .join(e, state("node") === e("src"))
      .groupBy(col("dst").as("node"))
      .agg(exactSum12(col("rank") / col("outdeg")).as("in_sum"))
    val massCol = coalesce(
      exactSum12(when(col("outdeg").isNull, col("rank"))), lit(0.0)).as("mass")
    val dangling =
      (if (trackDelta)
        state.agg(massCol, deltaExpr(col("rank"), col("__prev")).as("__delta"))
      else state.agg(massCol))
        .withColumn("__k", Guards.constKey(col("mass")))
    val newRank = round(lit(teleport) * col("p") +
      lit(damping) * (coalesce(col("in_sum"), lit(0.0)) +
        col("mass") * col("p")), 12).as("rank")
    val joined = state.withColumnRenamed("rank", "__rold")
      .join(shjHint(contribs), Seq("node"), "left")
      .withColumn("__k", Guards.constKey(col("node")))
      .join(broadcast(dangling), "__k")
    if (trackDelta)
      joined.select(col("node"), col("outdeg"), col("p"), newRank,
        col("__rold").as("__prev"), col("__delta"))
    else joined.select(col("node"), col("outdeg"), col("p"), newRank)
  }

  def personalizedPageRank(edges: DataFrame, isSource: Column => Column,
                           iterations: Int, damping: Double = 0.85,
                           teleport: Double = 0.15,
                           checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 1, "personalizedPageRank needs at least one iteration")
    Fixpoint.run("personalizedPageRank", edges, checkpointDir) { s =>
    val e = s.cut(edges.select(col("src"), col("dst")).distinct())
    s.iterate(pprInit(e, isSource), iterations) { (st, i) =>
      // the seed check reads the pinned init state, before round one
      if (i == 0) require(st.where(col("p") > 0).limit(1).count() == 1L,
        "personalizedPageRank: the source predicate matched no node")
      pprRound(st, e, damping, teleport)
    }.select(col("node"), col("rank"))
    }
  }

  def personalizedPageRankConverged(edges: DataFrame,
                                    isSource: Column => Column,
                                    tol: Double, maxIter: Int = 50,
                                    damping: Double = 0.85,
                                    teleport: Double = 0.15,
                                    checkpointDir: Option[String] = None)
      : DataFrame = {
    require(tol > 0 && maxIter >= 1, "need tol > 0 and maxIter >= 1")
    Fixpoint.run("personalizedPageRankConverged", edges, checkpointDir) { s =>
    val e = s.cut(edges.select(col("src"), col("dst")).distinct())
    val init = pprInit(e, isSource)
      .withColumn("__prev", lit(null).cast("double"))
    // seed-presence guard as limit-1 probes of the edge frame; endpoints
    // are exposed AS `node` because caller predicates may reference the
    // column by name
    def hasSeed(c: String): Boolean = e.select(col(c).as("node"))
      .where(isSource(col("node"))).limit(1).count() == 1L
    require(hasSeed("src") || hasSeed("dst"),
      "personalizedPageRankConverged: the source predicate matched no node")
    val (state, iters, delta) = s.probe(init, tol, maxIter, rankDelta)(
      st => pprRound(st, e, damping, teleport, trackDelta = true))
    state.select(col("node"), col("rank"),
      lit(iters).as("iters"), round(lit(delta), 12).as("l1_delta"))
    }
  }

  private def undirected(s: Fixpoint.Scope, edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    s.cut(e.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(e.select(col("dst").as("a"), col("src").as("b")))
      .where(col("a") =!= col("b")).distinct())
  }

  def lpaRound(state0: DataFrame, und: DataFrame,
               trackDelta: Boolean = false): DataFrame = {
    import graft.operators.Guards
    val state = state0.drop("__delta")
    val frontier = state.where(
        col("__prev").isNull || col("lab") =!= col("__prev"))
      .select(col("node"))
    val affected = frontier
      .unionByName(und.join(frontier.withColumnRenamed("node", "a"), "a")
        .select(col("b").as("node")))
      .distinct()
    val votes = und
      .join(affected.withColumnRenamed("node", "b"), "b")
      .join(shjHint(state), und("a") === state("node"))
      .select(col("b").as("node"), col("lab"))
      .unionByName(state
        .join(affected, Seq("node"), "left_semi")
        .select(col("node"), col("lab")))
    val winner = votes.groupBy(col("node"), col("lab"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("node"))
      .agg(min(struct((-col("cnt")).as("nc"), col("lab").as("l")))
        .getField("l").as("newlab"))
    val joined = state.withColumnRenamed("lab", "__lold")
      .join(shjHint(winner), Seq("node"), "left")
      .withColumn("__lab", coalesce(col("newlab"), col("__lold")))
    if (trackDelta) {
      val changed =
        state.agg(sum((col("lab") =!= col("__prev")).cast("long"))
          .cast("double").as("__delta"))
        .withColumn("__k", Guards.constKey(col("__delta")))
      joined
        .withColumn("__k", Guards.constKey(col("node")))
        .join(broadcast(changed), "__k")
        .select(col("node"), col("__lab").as("lab"),
          col("__lold").as("__prev"), col("__delta"))
    } else joined.select(col("node"), col("__lab").as("lab"))
  }

  def labelPropagationConverged(edges: DataFrame, maxIter: Int = 20,
                                checkpointDir: Option[String] = None)
      : DataFrame = {
    require(maxIter >= 1, "labelPropagationConverged needs maxIter >= 1")
    Fixpoint.run("labelPropagationConverged", edges, checkpointDir) { s =>
    val und = undirected(s, edges)
    val init = und.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("lab"),
        lit(null).cast("string").as("__prev"))
    // changed = 0 stops; tol 0.5 on the integer-valued change count
    val (state, iters, changed) = s.probe(init, 0.5, maxIter,
      st => st.agg(
        sum((col("lab") =!= col("__prev")).cast("long")).cast("double"))
        .head().getDouble(0))(st => lpaRound(st, und, trackDelta = true))
    state.select(col("node"), col("lab").as("label"),
      lit(iters).as("iters"), lit(changed).cast("long").as("changed"))
    }
  }

  def kcoreRound(state0: DataFrame, und: DataFrame, k: Int): DataFrame = {
    import graft.operators.Guards
    val state = state0.drop("__delta")
    val killed = state.where(col("__prev") && !col("alive"))
      .select(col("node").as("b"))
    val dec = und
      .join(killed, "b")
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("__dec"))
    val flips = state.agg(
        sum((col("alive") =!= col("__prev")).cast("long"))
          .cast("double").as("__delta"))
      .withColumn("__k", Guards.constKey(col("__delta")))
    val newDeg = col("__dold") - coalesce(col("__dec"), lit(0L))
    state.select(col("node"), col("alive").as("__aold"),
        col("deg").as("__dold"))
      .join(shjHint(dec), Seq("node"), "left")
      .withColumn("__k", Guards.constKey(col("node")))
      .join(broadcast(flips), "__k")
      .select(col("node"),
        (col("__aold") && newDeg >= k).as("alive"),
        newDeg.as("deg"),
        col("__aold").as("__prev"), col("__delta"))
  }

  def kCore(edges: DataFrame, k: Int, maxIter: Int = 30,
            checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1 && maxIter >= 1, "kCore needs k >= 1 and maxIter >= 1")
    Fixpoint.run("kCore", edges, checkpointDir) { s =>
    val und = undirected(s, edges)
    val init = und.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
      .select(col("node"), lit(true).as("alive"), col("deg"),
        lit(null).cast("boolean").as("__prev"))
    val (state, iters, _) = s.probe(init, 0.5, maxIter,
      st => st.agg(
        sum((col("alive") =!= col("__prev")).cast("long")).cast("double"))
        .head().getDouble(0))(st => kcoreRound(st, und, k))
    val core = state.where(col("alive")).select(col("node"))
    val coreDeg = und
      .join(core.withColumnRenamed("node", "a"), "a")
      .join(core.withColumnRenamed("node", "b"), "b")
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("core_deg"))
    core.join(coreDeg, Seq("node"))
      .select(col("node"), col("core_deg"), lit(iters).as("iters"))
    }
  }

  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    Fixpoint.run("connectedComponents", pairs, None) { s =>
    val edges = s.cut(pairs.select(explode(array(
        struct(col("id1").as("u"), col("id2").as("v")),
        struct(col("id2").as("u"), col("id1").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct())
    val seed = edges
      .select(col("u").as("id"), least(col("u"), col("v")).as("component"))
      .groupBy("id").agg(min("component").as("component"))
    var prevSum: java.math.BigDecimal = null
    val (labels, _, converged) = s.until(seed, maxIter) { (labels, _) =>
      val prop = edges.join(labels, edges("v") === labels("id"))
        .select(edges("u").as("id"), col("component"))
      labels.unionByName(prop)
        .groupBy("id").agg(min("component").as("component"))
    } { (labels, i) =>
      val total = labels.agg(sum(col("component").cast("decimal(38,0)")))
        .head().getDecimal(0)
      val done = total == null || (i > 0 && total.compareTo(prevSum) == 0)
      prevSum = total
      done
    }
    require(converged,
      s"connectedComponents did not converge within $maxIter iterations; " +
        "component diameter exceeds the budget — raise maxIter or use " +
        "connectedComponentsStar for long-chain graphs")
    labels
    }
}
