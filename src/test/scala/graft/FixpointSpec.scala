package graft

import graft.graph.Graph
import graft.operators.Dedup
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

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

  /** The persisted RDDs a frame reads: those of its plan and, through
    * their dependencies, those under a view such as the message-passing
    * operators' result. A freed pin keeps its storage level, so it still
    * counts here. */
  private def readIds(df: DataFrame): Set[Int] =
    FixpointSpec.lineage(df).filter(_.getStorageLevel != StorageLevel.NONE).map(_.id).toSet

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

  test("each message-passing round job writes at most P² shuffle records") {
    // a sending task merges its messages into one map per destination
    // partition, so a round writes at most P maps per task — however many
    // nodes the messages reach
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sc = spark.sparkContext
    val kernels = Set("pageRankConverged", "labelPropagationConverged", "kCore",
      "connectedComponents")
    val RoundJob = "(.+)/round ([0-9]+)".r
    // written only from the listener bus thread; read after a drain
    val stageJob = mutable.Map.empty[Int, (String, Int)]
    val written = mutable.Map.empty[(String, Int), Long].withDefaultValue(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(q => Option(q.getProperty("spark.job.description")))
          .foreach {
            case d @ RoundJob(op, k) if kernels(op) && k.toInt >= 1 =>
              e.stageIds.foreach(stageJob(_) = (d, e.jobId))
            case _ =>
          }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        for (job <- stageJob.get(e.stageId); m <- Option(e.taskMetrics))
          written(job) += m.shuffleWriteMetrics.recordsWritten
    }
    drain()
    sc.addSparkListener(l)
    try {
      kernels.foreach(op => ops.toMap.apply(op)().collect())
      drain()
    } finally sc.removeSparkListener(l)
    val jobs = stageJob.values.toSet
    kernels.foreach(op =>
      assert(jobs.exists(_._1.startsWith(s"$op/")), s"$op ran no round job"))
    assert(written.values.exists(_ > 0), "no round job wrote a shuffle record")
    jobs.foreach { job =>
      assert(written(job) <= p * p,
        s"${job._1} (job ${job._2}) wrote ${written(job)} shuffle records, more than $p²")
    }
  }

  test("releasing pinned state logs no lost-lineage warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("fixpoint-spec-warn", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    def warned = lines.toArray.map(_.toString).filter(_.contains("was locally checkpointed"))
    try {
      // the capture sees the warning RDD.unpersist logs for a local pin
      val probe = spark.sparkContext.parallelize(1 to 4).localCheckpoint()
      probe.count()
      probe.unpersist()
      assert(warned.nonEmpty, "the appender did not capture RDD.unpersist's warning")
      lines.clear()
      assert(Graph.pageRankConverged(graph, tol = 1e-9, maxIter = 6).collect().nonEmpty)
      assert(warned.isEmpty, s"pageRankConverged logged ${warned.mkString("; ")}")
    } finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}

object FixpointSpec {

  /** The RDDs a frame's plan reads and every RDD they depend on; a
    * checkpointed RDD's dependencies end at its checkpoint. */
  def lineage(df: DataFrame): Seq[RDD[_]] = {
    val seen = mutable.LinkedHashMap.empty[Int, RDD[_]]
    def walk(r: RDD[_]): Unit =
      if (!seen.contains(r.id)) { seen(r.id) = r; r.dependencies.foreach(d => walk(d.rdd)) }
    df.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRDD => r.rdd }
      .foreach(walk)
    seen.values.toSeq
  }
}
