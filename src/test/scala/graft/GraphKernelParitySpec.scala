package graft

import graft.graph.Graph
import graft.operators.Dedup
import graft.sources.Scratch
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The message-passing PageRank (fixed, converged, personalized and
  * personalized converged), LPA, k-core and connected-components kernels
  * against the relational rounds they replaced ([[GraphReference]]):
  * equal schemas, nullability included, and equal rows with doubles
  * compared by `==` — ranks, `iters`, `l1_delta` and `changed` alike. A
  * call the reference rejects must fail with the same message. */
class GraphKernelParitySpec extends SparkSpec {
  import spark.implicits._

  /** A card→stop tap graph shaped like the graph benchmark's: districts
    * of cards tapping Zipf-skewed stops, plus isolated card-stop pairs. */
  private def taps(seed: Long, components: Int = 3, cards: Int = 60,
                   stops: Int = 12, tapsPer: Int = 3, pairs: Int = 4): DataFrame = {
    val r = new scala.util.Random(seed)
    val w = (1 to stops).map(i => 1.0 / math.pow(i, 1.1))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    val nCards = components * cards + pairs
    val edges = for {
      c <- 0 until components
      k <- 0 until cards
      s <- (k % stops) +: Seq.fill(tapsPer)(cum.indexWhere(_ >= r.nextDouble()).max(0))
    } yield ((c * cards + k).toLong, (nCards + c * stops + s).toLong)
    val isolated = (0 until pairs).map(p =>
      ((components * cards + p).toLong, (nCards + components * stops + p).toLong))
    (edges ++ isolated).toDF("src", "dst")
  }

  /** Exact equality: schema (nullability included), then rows; or the
    * same `require` failure from both. */
  private def same(kernel: => DataFrame, reference: => DataFrame, what: String): Unit = {
    def run(df: => DataFrame) =
      try Right(df) catch { case e: IllegalArgumentException => Left(e.getMessage) }
    val (k, r) = (run(kernel), run(reference)) match {
      case (Right(k), Right(r)) => (k, r)
      case (k, r) =>
        assert(k.isLeft && k == r, s"$what: kernel $k, reference $r"); return
    }
    assert(k.schema == r.schema, s"$what: schema ${k.schema} != ${r.schema}")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString("\u0000"))
    val (kr, rr) = (rows(k), rows(r))
    assert(kr.length == rr.length, s"$what: ${kr.length} rows != ${rr.length}")
    kr.zip(rr).foreach { case (a, b) => assert(a == b, s"$what: $a != $b") }
  }

  /** Run `body` with `spark.sql.shuffle.partitions` at `n`. */
  private def withPartitions(n: Int)(body: => Unit): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, saved)
  }

  /** Seeds on Long-castable ids: the multiples of 5. */
  private val fives = (c: Column) => pmod(c.cast("long"), lit(5L)) === 0

  /** Every kernel at the given settings; `seeds` picks personalized
    * PageRank's source set, `prIter` its and PageRank's fixed rounds. */
  private def allKernels(e: DataFrame, what: String, prTol: Double = 1e-9,
                         prIter: Int = 4, lpaIter: Int = 2, k: Int = 3,
                         seeds: Column => Column = fives, dir: Option[String] = None,
                         components: Boolean = true): Unit = {
    same(Graph.pageRank(e, iterations = prIter, checkpointDir = dir),
      GraphReference.pageRank(e, iterations = prIter, checkpointDir = dir),
      s"$what pageRank")
    same(Graph.pageRankConverged(e, tol = prTol, maxIter = prIter, checkpointDir = dir),
      GraphReference.pageRankConverged(e, tol = prTol, maxIter = prIter, checkpointDir = dir),
      s"$what pageRankConverged")
    same(Graph.personalizedPageRank(e, seeds, prIter, checkpointDir = dir),
      GraphReference.personalizedPageRank(e, seeds, prIter, checkpointDir = dir),
      s"$what personalizedPageRank")
    same(Graph.personalizedPageRankConverged(e, seeds, tol = prTol, maxIter = prIter,
        checkpointDir = dir),
      GraphReference.personalizedPageRankConverged(e, seeds, tol = prTol,
        maxIter = prIter, checkpointDir = dir),
      s"$what personalizedPageRankConverged")
    same(Graph.labelPropagationConverged(e, maxIter = lpaIter, checkpointDir = dir),
      GraphReference.labelPropagationConverged(e, maxIter = lpaIter, checkpointDir = dir),
      s"$what labelPropagationConverged")
    same(Graph.kCore(e, k, checkpointDir = dir),
      GraphReference.kCore(e, k, checkpointDir = dir), s"$what kCore")
    if (components) {
      val pairs = e.select(col("src").as("id1"), col("dst").as("id2"))
      same(Dedup.connectedComponents(pairs), GraphReference.connectedComponents(pairs),
        s"$what connectedComponents")
    }
  }

  test("seeded bench-shaped graphs, at the benchmark's settings and run to convergence") {
    Seq(4242L, 4243L).foreach { seed =>
      val e = taps(seed).cache()
      allKernels(e, s"seed $seed")
      allKernels(e, s"seed $seed converged", prTol = 1e-6, prIter = 40, lpaIter = 20, k = 2)
      e.unpersist()
    }
  }

  test("string ids: non-BMP and mixed-case values order by UTF-8 bytes") {
    // mixed case and a shared prefix order by byte
    val ids = Seq("～", "😀", "a", "B", "ab", "Ab", "é", "𝔸")
    val ring = ids.indices.map(i => (ids(i), ids((i + 1) % ids.length)))
    val star = ids.map(i => ("hub", i))
    // three-way label ties: U+FF5E < U+FFE6 < U+1F600 in UTF-8 bytes, but
    // U+1F600's surrogate pair sorts first in UTF-16 code units
    val pairs = Seq(("～", "￦"), ("😀", "￦"))
    // connected components sum its labels as decimal(38,0), so its string
    // ids must be numeric — whose byte order is not their numeric order
    // a seed predicate may name the node column instead of its argument
    allKernels((ring ++ star ++ pairs).toDF("src", "dst"), "strings", k = 2,
      seeds = _ => col("node").isin("😀", "a", "hub"), components = false)
    allKernels(pairs.toDF("src", "dst"), "string pairs", k = 1,
      seeds = _.isin("～", "𝔸"), components = false)
    allKernels(Seq(("10", "9"), ("9", "-3"), ("+4", "10"), ("20", "3"), ("3", "100"))
      .toDF("src", "dst"), "numeric strings", k = 1)
  }

  test("negative Long ids") {
    val e = Seq((-5L, -1L), (-1L, 3L), (3L, -5L), (-7L, -5L), (-9L, -8L), (-8L, -9L),
      (Long.MinValue, -1L)).toDF("src", "dst")
    allKernels(e, "negative", k = 2)
  }

  test("self-loops, duplicate edges, sinks with dangling mass, isolated pairs") {
    val e = Seq((1L, 1L), (1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 4L), (5L, 4L), (6L, 7L), (8L, 8L), (9L, 10L), (10L, 9L), (2L, 11L))
      .toDF("src", "dst")
    allKernels(e, "degenerate", prTol = 1e-6, prIter = 30, lpaIter = 10, k = 2)
  }

  test("null ids") {
    val e = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null), (null, 3L),
      (3L, 1L), (null, null), (4L, 5L)).toDF("src", "dst")
    allKernels(e, "nulls", prTol = 1e-6, prIter = 10, lpaIter = 10, k = 1)
    // null ids all hash to partition 0: alone there, and among 64 blocks
    Seq(1, 64).foreach(n => withPartitions(n)(allKernels(e, s"nulls at $n partitions",
      prTol = 1e-6, prIter = 10, lpaIter = 10, k = 1)))
  }

  test("state blocks: one partition, mostly empty blocks, partitions no message reaches") {
    // every node, message and state row in one block
    withPartitions(1)(allKernels(taps(4247L), "one partition"))
    // 64 blocks for ≤ 10 nodes: most adjacency and state blocks are empty
    val small = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (6L, 7L),
      (8L, 8L), (9L, 10L), (10L, 9L)).toDF("src", "dst")
    withPartitions(64)(allKernels(small, "64 partitions", prTol = 1e-6,
      prIter = 20, lpaIter = 10, k = 2))
    // every edge ends at the hub, so each PageRank round sends to one
    // partition only; the leaves die in k-core's first round, and its
    // second sends to the hub alone
    val star = (1L to 9L).map(i => (i, 0L)).toDF("src", "dst")
    allKernels(star, "star", prTol = 1e-6, prIter = 20, lpaIter = 10, k = 2)
  }

  test("an empty edge set") {
    allKernels(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))), "empty")
    allKernels(Seq.empty[(String, String)].toDF("src", "dst"), "empty strings")
  }

  test("a bipartite graph on which LPA oscillates until maxIter") {
    val e = Seq((6, 3), (6, 8), (2, 3), (2, 8), (2, 5), (2, 1), (4, 3), (4, 8),
      (4, 5), (7, 3), (7, 8), (7, 1)).map { case (a, b) => (a.toLong, b.toLong) }
      .toDF("src", "dst")
    val out = Graph.labelPropagationConverged(e, maxIter = 5)
    assert(out.select("iters").distinct().as[Int].collect().toSeq == Seq(5))
    assert(out.select("changed").distinct().as[Long].collect().head > 0)
    same(out, GraphReference.labelPropagationConverged(e, maxIter = 5), "oscillation")
  }

  test("kCore with k above the maximum degree is empty; a capped kCore matches") {
    val e = taps(4244L)
    assert(Graph.kCore(e, 1000).count() == 0)
    same(Graph.kCore(e, 1000), GraphReference.kCore(e, 1000), "k above max degree")
    same(Graph.kCore(e, 4, maxIter = 1), GraphReference.kCore(e, 4, maxIter = 1), "capped")
  }

  test("personalized PageRank whose predicate matches no node fails as before") {
    val e = taps(4246L)
    val none = (c: Column) => c < 0
    def message(run: => DataFrame): String =
      intercept[IllegalArgumentException](run.collect()).getMessage
    assert(message(Graph.personalizedPageRank(e, none, 3)) ==
      "requirement failed: personalizedPageRank: the source predicate matched no node")
    assert(message(Graph.personalizedPageRankConverged(e, none, tol = 1e-9)) ==
      "requirement failed: personalizedPageRankConverged: the source predicate " +
        "matched no node")
  }

  test("connectedComponents with too small a maxIter fails with the same message") {
    val chain = (1L to 12L).map(i => (i, i + 1)).toDF("id1", "id2")
    def message(run: => DataFrame): String =
      intercept[IllegalArgumentException](run.collect()).getMessage
    assert(message(Dedup.connectedComponents(chain, maxIter = 3)) ==
      message(GraphReference.connectedComponents(chain, maxIter = 3)))
  }

  test("the durable checkpointDir path") {
    allKernels(taps(4245L), "durable", dir = Some(Scratch.dir("gkp_ckpt")))
  }
}
