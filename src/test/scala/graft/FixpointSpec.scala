package graft

import graft.graph.Graph
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Pinned iterative state has one owner: every graph/Dedup operator call
  * leaves persisted exactly the RDDs its returned frame reads, concurrent
  * calls on one context do not free each other's state, round jobs are
  * labelled, and the message-passing operators run one job per round. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  /** A 5-clique (the 3-core), a ring bridged to it, and a separate chain
    * ending in a sink: fan-in, dangling mass, two components. */
  private def graph: DataFrame = {
    val clique = for (a <- 1 to 5; b <- 1 to 5 if a < b) yield (a.toLong, b.toLong)
    val ring = (10 to 19).map(i => (i.toLong, if (i == 19) 10L else i + 1L))
    val chain = (30 to 36).map(i => (i.toLong, i + 1L))
    (clique ++ ring ++ chain ++ Seq((5L, 10L), (12L, 3L))).toDF("src", "dst")
  }

  private def pairs: DataFrame =
    graph.select(col("src").as("id1"), col("dst").as("id2"))

  private val seeds = (c: org.apache.spark.sql.Column) => c.isin(1L, 10L, 30L)

  private val ops = Seq[(String, () => DataFrame)](
    "pageRank" -> (() => Graph.pageRank(graph, iterations = 3)),
    "pageRankConverged" -> (() => Graph.pageRankConverged(graph, tol = 1e-9, maxIter = 6)),
    "hits" -> (() => Graph.hits(graph, iterations = 2)),
    "hitsConverged" -> (() => Graph.hitsConverged(graph, tol = 1e-9, maxIter = 4)),
    "bfsHops" -> (() => Graph.bfsHops(graph, maxHops = 5)),
    "personalizedPageRank" -> (() => Graph.personalizedPageRank(graph, seeds, 3)),
    "personalizedPageRankConverged" -> (() =>
      Graph.personalizedPageRankConverged(graph, seeds, tol = 1e-9, maxIter = 4)),
    "labelPropagationConverged" -> (() => Graph.labelPropagationConverged(graph, maxIter = 4)),
    "triangleCount" -> (() => Graph.triangleCount(graph)),
    "kCore" -> (() => Graph.kCore(graph, 3)),
    "sssp" -> (() => Graph.sssp(graph.withColumn("w", lit(2)), seeds)),
    "ssspPerSeed" -> (() => Graph.ssspPerSeed(graph.withColumn("w", lit(2)), seeds)),
    "betweennessSampled" -> (() => Graph.betweennessSampled(graph, seeds, maxHops = 4)),
    "neighborhoodFunction" -> (() => Graph.neighborhoodFunction(graph, k = 4, maxHops = 3)),
    "modularity" -> (() => Graph.modularity(graph,
      graph.select(col("src").as("node"), (col("src") / 10).cast("long").as("label"))
        .distinct())),
    "randomWalks" -> (() => Graph.randomWalks(graph, seeds, walkLen = 3)),
    "adamicAdar" -> (() => Graph.adamicAdar(graph, maxCenterDeg = 10)),
    "connectedComponents" -> (() => Dedup.connectedComponents(pairs)),
    "connectedComponentsStar" -> (() => Dedup.connectedComponentsStar(pairs)))

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def readIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRDD => r.rdd.id }.toSet

  test("each operator leaves persisted exactly the RDDs its result reads") {
    ops.foreach { case (name, op) =>
      val before = persisted
      val out = op()
      assert(out.collect().nonEmpty, s"$name returned no rows")
      val left = persisted -- before
      assert(left == readIds(out),
        s"$name left ${left.toSeq.sorted} persisted; its result reads " +
          readIds(out).toSeq.sorted)
    }
  }

  test("pageRankConverged and kCore run concurrently without freeing each other's state") {
    def pr = Graph.pageRankConverged(graph, tol = 1e-9, maxIter = 6)
      .as[(Long, Double, Int, Double)].collect().toSet
    def kc = Graph.kCore(graph, 3).as[(Long, Long, Int)].collect().toSet
    val (prSeq, kcSeq) = (pr, kc)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (1 to 3).foreach { _ =>
        val p = pool.submit(() => pr)
        val k = pool.submit(() => kc)
        assert(p.get() == prSeq, "concurrent pageRankConverged diverged")
        assert(k.get() == kcSeq, "concurrent kCore diverged")
      }
    } finally pool.shutdown()
  }

  private def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
  }

  private def jobsOf(run: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    drain()
    spark.sparkContext.addSparkListener(l)
    try { run; drain(); jobs.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("round jobs are labelled <op>/round <k> and the caller's description is restored") {
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descs.add)
    }
    drain()
    sc.addSparkListener(l)
    val iters = try {
      sc.setJobDescription("caller")
      try {
        val got = Seq(
          "pageRank" -> Graph.pageRank(graph, iterations = 3),
          "pageRankConverged" -> Graph.pageRankConverged(graph, tol = 1e-9, maxIter = 6),
          "personalizedPageRank" -> Graph.personalizedPageRank(graph, seeds, 3),
          "personalizedPageRankConverged" ->
            Graph.personalizedPageRankConverged(graph, seeds, tol = 1e-9, maxIter = 4),
          "kCore" -> Graph.kCore(graph, 3),
          "hitsConverged" -> Graph.hitsConverged(graph, tol = 1e-9, maxIter = 4))
        assert(sc.getLocalProperty("spark.job.description") == "caller")
        // the fixed-round ops run their 3 iterations
        got.map { case (op, df) =>
          op -> (if (df.columns.contains("iters")) df.select("iters").head().getInt(0) else 3)
        }
      } finally sc.setJobDescription(null)
    } finally { drain(); sc.removeSparkListener(l) }
    iters.foreach { case (op, n) =>
      assert(n >= 1, s"$op ran no round")
      (1 to n).foreach(k => assert(descs.contains(s"$op/round $k"),
        s"no job labelled $op/round $k among ${descs.toArray.distinct.mkString(", ")}"))
    }
  }

  test("jobs per call stay at their measured counts") {
    // Counts measured with the message-passing kernels, result collect
    // included: one adjacency job, one job per round, the collect; the
    // personalized ranks add one job that counts the seeds. Each count
    // is a ceiling: one extra job per round would exceed it.
    val pinned = Seq(
      "pageRank" -> 5, "pageRankConverged" -> 8, "personalizedPageRank" -> 6,
      "personalizedPageRankConverged" -> 7, "labelPropagationConverged" -> 6,
      "kCore" -> 5, "connectedComponents" -> 10)
    pinned.foreach { case (name, max) =>
      val op = ops.toMap.apply(name)
      val got = jobsOf(op().collect())
      assert(got <= max, s"$name ran $got jobs, more than its measured $max")
    }
  }
}
