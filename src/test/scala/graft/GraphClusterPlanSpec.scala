package graft

import graft.graph.Graph
import graft.sources.{Scratch, Sinks}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** The plans the graph family runs at cluster scale, and the parities
  * that make them interchangeable:
  *  - PageRank (every variant) reads its edge input once per call into a
  *    node-partitioned adjacency, so no round moves edges whatever the
  *    input's layout: each call shuffles the edge scan once and each
  *    round job runs at most one shuffle, its message combine;
  *  - the relational rounds (HITS half-steps, Brandes forward and
  *    backward rounds) join a bucketed edge scan with ZERO exchanges on
  *    the edge side;
  *  - result: a bucketed-table input hashes identically to raw edges;
  *  - durability: reliable `checkpoint(dir)` state (the fault-tolerant
  *    cluster option) hashes identically to `localCheckpoint` state;
  *  - converged variants match their fixed-round twins at their stop.
  */
class GraphClusterPlanSpec extends SparkSpec {
  import spark.implicits._

  /** A graph with fan-in, fan-out, a cycle and a sink — every PageRank
    * code path (contributions, dangling mass) is live. */
  private def rawEdges: DataFrame =
    (1 to 400).flatMap { i =>
      Seq((s"n${i % 40}", s"n${(i * 7) % 40}"),
        (s"n${i % 40}", "sink"),
        (s"n${(i * 3) % 17}", s"n${i % 40}"))
    }.toDF("src", "dst")

  private def collectPlan(p: SparkPlan): Seq[SparkPlan] = p.collect { case x => x }

  private def bucketedScans(p: SparkPlan): Seq[FileSourceScanExec] =
    collectPlan(p).collect { case f: FileSourceScanExec if f.bucketedScan => f }

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    collectPlan(p).collect { case s: ShuffleExchangeExec => s }

  /** The children of shuffle joins that hold a bucketed scan DIRECTLY —
    * no other join or aggregate in between. (A downstream join's child can
    * contain the scan deep inside an already-aggregated subtree; that is
    * not the edge side of the state⋈edges round join.) */
  private def edgeSides(p: SparkPlan): Seq[SparkPlan] =
    collectPlan(p).collect {
      case j: SortMergeJoinExec => j.children
      case j: ShuffledHashJoinExec => j.children
    }.flatten.filter { c =>
      bucketedScans(c).nonEmpty && !collectPlan(c).exists {
        case _: SortMergeJoinExec | _: ShuffledHashJoinExec => true
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _ => false
      }
    }

  /** Run `body` with AQE + auto-broadcast off so the static plan shows the
    * exchange structure a cluster pays. */
  private def withPlanConf[T](body: => T): T = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  private def ranksOf(df: DataFrame): Map[String, Double] =
    df.select(col("node"), col("rank")).as[(String, Double)].collect().toMap

  test("pageRank round over a src-bucketed edge table: zero edge-side exchanges") {
    val e = rawEdges.distinct()
    Sinks.writeBucketed(e, "gcp_edges_src", 4, "src")
    try {
      val bucketed = spark.table("gcp_edges_src").select(col("src"), col("dst"))
      assertKernelShape("pageRank",
        stagesOf(Graph.pageRank(bucketed, iterations = 4).collect()))
    } finally spark.sql("DROP TABLE IF EXISTS gcp_edges_src")
  }

  test("hits half-steps over src-/dst-bucketed edge copies: zero edge-side exchanges") {
    val e = rawEdges.distinct()
    Sinks.writeBucketed(e, "gcp_edges_src2", 4, "src")
    Sinks.writeBucketed(e, "gcp_edges_dst2", 4, "dst")
    try withPlanConf {
      val eSrc = spark.table("gcp_edges_src2").select(col("src"), col("dst"))
      val eDst = spark.table("gcp_edges_dst2").select(col("src"), col("dst"))
      val state = Graph.hits(eSrc, iterations = 1)
      // per-half-step plans, pre-checkpoint (the result's own plan is a
      // post-checkpoint RDD scan and shows nothing)
      val s0 = state.select(col("node"), col("hub"), col("auth")).localCheckpoint()
      Seq(Graph.hitsAuthStep(s0, eSrc), Graph.hitsHubStep(s0, eDst)).foreach { half =>
        val plan = half.queryExecution.executedPlan
        val sides = edgeSides(plan)
        assert(sides.nonEmpty, s"no shuffle join reads a bucketed scan:\n$plan")
        sides.foreach(side => assert(shuffles(side).isEmpty,
          s"edge side of a HITS half-step still shuffles:\n$side"))
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS gcp_edges_src2")
      spark.sql("DROP TABLE IF EXISTS gcp_edges_dst2")
    }
  }

  test("betweenness phases over src-/dst-bucketed edges: zero edge-side exchanges + parity") {
    val e = rawEdges.distinct()
    Sinks.writeBucketed(e, "gcp_edges_bw_src", 4, "src")
    Sinks.writeBucketed(e, "gcp_edges_bw_dst", 4, "dst")
    try {
      val eSrc = spark.table("gcp_edges_bw_src").select(col("src"), col("dst"))
      val eDst = spark.table("gcp_edges_bw_dst").select(col("src"), col("dst"))
      withPlanConf {
        // forward round: frontier⋈edges on src reads the bucketed scan
        // shuffle-free; backward level: contrib⋈edges on dst likewise
        val settled = eSrc.select(col("src").as("seed"), col("src").as("node"),
            lit(0).as("hop"), lit(1L).as("sigma")).distinct().localCheckpoint()
        val fwd = Graph.betwForwardRound(settled, eSrc, 0)
        val bwd = Graph.betwBackwardLevelFrames(settled,
          settled.withColumn("delta", lit(0.0)), eDst)
        Seq("forward" -> fwd, "backward" -> bwd).foreach { case (nm, df) =>
          val plan = df.queryExecution.executedPlan
          val sides = edgeSides(plan)
          assert(sides.nonEmpty, s"$nm: no shuffle join reads a bucketed scan:\n$plan")
          sides.foreach(side => assert(shuffles(side).isEmpty,
            s"$nm: edge side of the round join still shuffles:\n$side"))
        }
      }
      // result parity: bucketed table == raw edges
      def bw(df: DataFrame) =
        Graph.betweennessSampled(df, _ => lit(true), maxHops = 4)
          .as[(String, Double)].collect().toMap
      assert(bw(eSrc) === bw(rawEdges),
        "bucketed betweenness diverged from the default path")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gcp_edges_bw_src")
      spark.sql("DROP TABLE IF EXISTS gcp_edges_bw_dst")
    }
  }

  test("bucketed/prepared pageRank hashes identically to the default path") {
    val e = rawEdges
    Sinks.writeBucketed(e.distinct(), "gcp_edges_par", 4, "src")
    try {
      val default = ranksOf(Graph.pageRank(e, iterations = 5))
      val prepared = ranksOf(Graph.pageRank(spark.table("gcp_edges_par"),
        iterations = 5))
      assert(prepared == default, "bucketed-edge path diverged from default")
    } finally spark.sql("DROP TABLE IF EXISTS gcp_edges_par")
  }

  /** Per job of `run`: its description, and for each stage it actually
    * ran (skipped stages excluded) whether that is a shuffle-map stage
    * and whether it scans a file. */
  private def stagesOf(run: => Any): Seq[(String, Seq[(Boolean, Boolean)])] = {
    import org.apache.spark.scheduler._
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Int])]
    val ran = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties).map(_.getProperty("spark.job.description"))
          .orNull, e.stageIds)): Unit
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        ran.put(e.stageInfo.stageId,
          e.stageInfo.rddInfos.exists(_.name.contains("FileScanRDD"))): Unit
    }
    val sc = spark.sparkContext
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
    }
    drain()
    sc.addSparkListener(l)
    try { run; drain() } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq.map { case (desc, ids) =>
      // a job's result stage is created after its parents: the highest id
      desc -> ids.filter(ran.containsKey).map(id => (id != ids.max, ran.get(id)))
    }
  }

  /** A kernel's job shape: the edge input shuffled once per call, and
    * at most one shuffle in each `<op>/round k` job. */
  private def assertKernelShape(op: String,
                                jobs: Seq[(String, Seq[(Boolean, Boolean)])]): Unit = {
    val edgeShuffles = jobs.flatMap(_._2).count { case (map, scan) => map && scan }
    assert(edgeShuffles == 1,
      s"the edge input was shuffled $edgeShuffles times, not once:\n${jobs.mkString("\n")}")
    val round = s"$op/round [1-9][0-9]*".r
    val rounds = jobs.filter(j => Option(j._1).exists(round.matches))
    assert(rounds.nonEmpty, s"no round jobs:\n${jobs.mkString("\n")}")
    rounds.foreach { case (desc, stages) =>
      assert(stages.count(_._1) <= 1, s"$desc ran ${stages.count(_._1)} shuffles")
    }
  }

  test("pageRankConverged over a src-bucketed edge table: zero edge-side exchanges + parity") {
    // the ranker reads the edge table once, into its own node-partitioned
    // adjacency: the edge input is shuffled once per call, and no round
    // moves edges — each runs at most one shuffle, its message combine —
    // whatever the table's layout. The converged result must hash-match
    // the default path bit-for-bit.
    val e = rawEdges.distinct()
    Sinks.writeBucketed(e, "gcp_edges_conv", 4, "src")
    try {
      val bucketed = spark.table("gcp_edges_conv")
        .select(col("src"), col("dst"))
      assertKernelShape("pageRankConverged", stagesOf(Graph.pageRankConverged(
        bucketed, tol = 1e-6, maxIter = 60).collect()))
      val default = Graph.pageRankConverged(rawEdges, tol = 1e-6,
          maxIter = 60)
        .select(col("node"), col("rank"), col("iters"), col("l1_delta"))
        .as[(String, Double, Int, Double)].collect().toSet
      val prepared = Graph.pageRankConverged(bucketed, tol = 1e-6,
          maxIter = 60)
        .select(col("node"), col("rank"), col("iters"), col("l1_delta"))
        .as[(String, Double, Int, Double)].collect().toSet
      assert(prepared == default,
        "converged-over-buckets diverged from the default converged path")
    } finally spark.sql("DROP TABLE IF EXISTS gcp_edges_conv")
  }

  test("durable checkpoint path hashes identically to localCheckpoint (pageRank + hits)") {
    val dir = Scratch.dir("gcp_ckpt")
    val e = rawEdges
    val local = ranksOf(Graph.pageRank(e, iterations = 4))
    val durable = ranksOf(Graph.pageRank(e, iterations = 4,
      checkpointDir = Some(dir)))
    assert(durable == local, "reliable-checkpoint pageRank diverged")
    def hitsMap(df: DataFrame): Map[String, (Double, Double)] =
      df.select(col("node"), col("hub"), col("auth"))
        .as[(String, Double, Double)].collect()
        .map { case (n, h, a) => n -> (h, a) }.toMap
    val hLocal = hitsMap(Graph.hits(e, iterations = 2))
    val hDurable = hitsMap(Graph.hits(e, iterations = 2,
      checkpointDir = Some(dir)))
    assert(hDurable == hLocal, "reliable-checkpoint hits diverged")
    // betweenness exercises the level-frame retention hole the r09 form
    // had: with deepest >= 3 the final union re-reads EVERY level frame
    // and settled slice AFTER later checkpoints — tracked keep-2
    // retention deleted them on the durable path (r10 advice item 1).
    // rawEdges at maxHops = 5 settles 4+ hop levels, so this run fails
    // with deleted-checkpoint reads if level frames are ever tracked.
    def bwMap(df: DataFrame): Map[String, Double] =
      df.as[(String, Double)].collect().toMap
    val bwLocal = bwMap(Graph.betweennessSampled(e,
      n => n.isin("n1", "n5", "n11"), maxHops = 5))
    val bwDurable = bwMap(Graph.betweennessSampled(e,
      n => n.isin("n1", "n5", "n11"), maxHops = 5,
      checkpointDir = Some(dir)))
    assert(bwDurable == bwLocal, "reliable-checkpoint betweenness diverged")
  }

  test("pageRankConverged stops at the tolerance and matches the fixed-round twin") {
    val e = rawEdges
    val conv = Graph.pageRankConverged(e, tol = 1e-6, maxIter = 60)
    val rows = conv.select(col("node"), col("rank"), col("iters"), col("l1_delta"))
      .as[(String, Double, Int, Double)].collect()
    val iters = rows.head._3
    val delta = rows.head._4
    assert(rows.forall(r => r._3 == iters && r._4 == delta))
    assert(delta < 1e-6, s"stopped with l1_delta=$delta >= tol")
    assert(iters < 60, "hit maxIter instead of converging")
    // after k rounds the recurrence is identical to pageRank(e, k)
    val fixed = ranksOf(Graph.pageRank(e, iterations = iters))
    assert(rows.map(r => r._1 -> r._2).toMap == fixed,
      "converged ranks diverge from the fixed-round recurrence at the same k")
    // fixed point: one more round moves the state by less than tol again
    val oneMore = ranksOf(Graph.pageRank(e, iterations = iters + 1))
    val l1 = fixed.map { case (n, r) => math.abs(oneMore(n) - r) }.sum
    assert(l1 < 1e-6, s"one extra round moved L1 by $l1 — not a fixed point")
  }

  test("durable retention keeps O(1) round states and restores the checkpoint dir") {
    val sc = spark.sparkContext
    val before = sc.getCheckpointDir
    val dir = Scratch.dir("gcp_retention")
    val local = ranksOf(Graph.pageRank(rawEdges, iterations = 8))
    val durableOut = Graph.pageRank(rawEdges, iterations = 8,
      checkpointDir = Some(dir))
    val durable = ranksOf(durableOut)
    assert(durable == local, "retention-pruned durable run changed results")
    // the per-operator override must not leak into the session
    assert(sc.getCheckpointDir == before,
      s"checkpoint dir leaked: ${sc.getCheckpointDir} (was $before)")
    // 8 rounds + init wrote 9 state checkpoints + 1 edge checkpoint;
    // retention must have pruned superseded state down to O(1):
    // <= 2 kept states + the never-pruned edge set
    val uuidDirs = new java.io.File(dir).listFiles()
    assert(uuidDirs != null && uuidDirs.length == 1,
      s"expected one UUID subdir under $dir")
    val rdds = uuidDirs.head.listFiles().filter(_.getName.startsWith("rdd-"))
    assert(rdds.length <= 3,
      s"retention failed: ${rdds.length} rdd-* checkpoints remain " +
        rdds.map(_.getName).mkString("[", ",", "]"))
    // on exit only the checkpoints the returned frame reads remain — also
    // for hitsConverged, whose auth half-step is a series of its own
    // (a frame may read its checkpoint through a view: follow the lineage)
    def readCheckpoints(df: DataFrame): Set[String] =
      FixpointSpec.lineage(df).flatMap(_.getCheckpointFile)
        .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    def remaining(d: String): Set[String] =
      new java.io.File(d).listFiles().flatMap(_.listFiles())
        .map(_.getName).filter(_.startsWith("rdd-")).toSet
    assert(remaining(dir) == readCheckpoints(durableOut),
      s"pageRank left ${remaining(dir)} for a result reading " +
        readCheckpoints(durableOut))
    val hitsDir = Scratch.dir("gcp_retention_hits")
    val hitsOut = Graph.hitsConverged(rawEdges, tol = 1e-6, maxIter = 40,
      checkpointDir = Some(hitsDir))
    assert(hitsOut.count() > 0)
    assert(remaining(hitsDir) == readCheckpoints(hitsOut),
      s"hitsConverged left ${remaining(hitsDir)} for a result reading " +
        readCheckpoints(hitsOut))
  }

  test("hitsConverged stops at the tolerance and matches the fixed-round twin") {
    val e = rawEdges
    val conv = Graph.hitsConverged(e, tol = 1e-6, maxIter = 40)
    val rows = conv.select(col("node"), col("hub"), col("auth"),
        col("iters"), col("l1_delta"))
      .as[(String, Double, Double, Int, Double)].collect()
    val iters = rows.head._4
    val delta = rows.head._5
    assert(rows.forall(r => r._4 == iters && r._5 == delta))
    assert(delta < 1e-6, s"stopped with l1_delta=$delta >= tol")
    assert(iters < 40, "hit maxIter instead of converging")
    val fixed = Graph.hits(e, iterations = iters)
      .select(col("node"), col("hub"), col("auth"))
      .as[(String, Double, Double)].collect()
      .map { case (n, h, a) => n -> (h, a) }.toMap
    assert(rows.map(r => r._1 -> (r._2, r._3)).toMap == fixed,
      "converged HITS diverges from the fixed-round recurrence at the same k")
  }

  test("personalizedPageRankConverged matches the fixed-round twin at its stop") {
    val e = rawEdges
    val isSeed = (node: org.apache.spark.sql.Column) =>
      node.isin("n1", "n7", "n13")
    val conv = Graph.personalizedPageRankConverged(e, isSeed,
      tol = 1e-6, maxIter = 60)
    val rows = conv.select(col("node"), col("rank"), col("iters"), col("l1_delta"))
      .as[(String, Double, Int, Double)].collect()
    val iters = rows.head._3
    assert(rows.head._4 < 1e-6 && iters < 60)
    val fixed = ranksOf(Graph.personalizedPageRank(e, isSeed, iterations = iters))
    assert(rows.map(r => r._1 -> r._2).toMap == fixed,
      "converged PPR diverges from the fixed-round recurrence at the same k")
  }

  test("label propagation finds disjoint communities and stops at zero change") {
    // two disjoint triangles + an isolated pair: three communities, each
    // labeled by its minimal member (self-vote LPA's converged labeling)
    val e = Seq(("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
        ("b1", "b2"), ("b2", "b3"), ("b3", "b1"),
        ("c1", "c2"))
      .toDF("src", "dst")
    val rows = Graph.labelPropagationConverged(e, maxIter = 10)
      .as[(String, String, Int, Long)].collect()
    val byNode = rows.map(r => r._1 -> r._2).toMap
    assert(byNode == Map(
      "a1" -> "a1", "a2" -> "a1", "a3" -> "a1",
      "b1" -> "b1", "b2" -> "b1", "b3" -> "b1",
      "c1" -> "c1", "c2" -> "c1"))
    assert(rows.forall(_._4 == 0L), "stop must report zero changes")
    assert(rows.head._3 < 10, "hit maxIter instead of converging")
    // direction must not matter: reversed edges, same communities
    val rev = Graph.labelPropagationConverged(
        e.select(col("dst").as("src"), col("src").as("dst")), maxIter = 10)
      .as[(String, String, Int, Long)].collect()
    assert(rev.map(r => r._1 -> r._2).toMap == byNode)
  }
}
