package perfbench

import java.io.File
import graft.graph.Graph
import graft.operators.Dedup
import graft.pipelines.{MapMatch, Taxi}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** graph_fixpoint: the converged iterative operators over a card->stop
  * tap graph. One op = one operator call, its result collected. */
final class GraphFixpoint extends Workload {
  val Size = Gen.GraphSize(components = 8, cardsPer = 1000, stopsPer = 60,
    tapsPerCard = 3, pairs = 200)
  val K = 3
  private var truth: Gen.GraphTruth = _
  private val results = scala.collection.mutable.Map[String, Array[Row]]()

  def generate(in: File, seed: Long): Unit = truth = Gen.graph(in, seed, Size)
  def inputRows: Long = truth.edges

  private def edges(c: Ctx): DataFrame =
    c.spark.read.schema("src long, dst long").csv(new File(c.in, "taps.csv").getPath)

  /** Operators in the order each pass runs them, with their iters. */
  private val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
    "graph.pagerank_tol" -> (e => Graph.pageRankConverged(e, tol = 1e-9, maxIter = 4)),
    "graph.lpa_tol" -> (e => Graph.labelPropagationConverged(e, maxIter = 2)),
    "graph.kcore" -> (e => Graph.kCore(e, K)),
    "operators.dedup.components" -> (e =>
      Dedup.connectedComponents(e.select(col("src").as("id1"), col("dst").as("id2")))))

  def pass(c: Ctx, k: Int, op: Ops): Unit = ops.foreach { case (span, f) =>
    op(span) {
      val rows = c.tr.span(span) { f(edges(c)).collect() }
      results(span) = rows
      if (c.tr.enabled) c.add(s"$span.rounds",
        if (span == "operators.dedup.components") ccRounds(edgeList(c)).toDouble
        else rows.headOption.map(_.getAs[Int]("iters").toDouble).getOrElse(0.0))
    }
  }

  private def edgeList(c: Ctx): Array[(Long, Long)] =
    edges(c).collect().map(r => (r.getLong(0), r.getLong(1)))

  /** Rounds of `Dedup.connectedComponents`, which returns no iteration
    * count: its synchronous min-label propagation replayed on the driver,
    * stopping, as it does, at the first round that leaves the label sum
    * unchanged. */
  def ccRounds(es: Array[(Long, Long)]): Int = {
    val ids = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val ix = ids.zipWithIndex.toMap
    val und = es.flatMap { case (a, b) => Seq((ix(a), ix(b)), (ix(b), ix(a))) }.distinct
    var lab = ids.clone()
    und.foreach { case (u, v) => lab(u) = math.min(lab(u), ids(v)) }
    var sum = lab.map(BigInt(_)).sum
    var rounds = 0
    var done = false
    while (!done) {
      val next = lab.clone()
      und.foreach { case (u, v) => next(u) = math.min(next(u), lab(v)) }
      val s = next.map(BigInt(_)).sum
      rounds += 1
      done = s == sum
      sum = s; lab = next
    }
    rounds
  }

  def check(c: Ctx): Seq[String] = {
    val es = edgeList(c)
    // union-find on the driver: component = smallest member id
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val comp = nodes.map(n => n -> find(n)).toMap
    val cc = results("operators.dedup.components").map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ccErr =
      if (cc != comp) Seq(s"components differ from union-find at " +
        s"${nodes.count(n => !cc.get(n).contains(comp(n)))} nodes")
      else Nil
    val nComp = comp.values.toSet.size
    val plantErr =
      if (nComp != truth.components) Seq(s"union-find found $nComp components, planted ${truth.components}")
      else Nil
    // k-core: members keep degree >= k among members, as reported
    val core = results("graph.kcore").map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inCore = es.filter(e => core.contains(e._1) && core.contains(e._2))
    val deg = (inCore.map(_._1) ++ inCore.map(_._2)).groupBy(identity).map { case (n, v) => n -> v.length.toLong }
    val coreErr = core.collect {
      case (n, d) if deg.getOrElse(n, 0L) < K || deg.getOrElse(n, 0L) != d =>
        s"k-core member $n: degree ${deg.getOrElse(n, 0L)} in core, reported $d"
    }.take(3).toSeq
    // LPA labels propagate along edges: a label is a member of its node's
    // component; PageRank covers every node with a finite positive rank
    val lpa = results("graph.lpa_tol").map(r => r.getLong(0) -> r.getAs[Any](1).toString.toLong)
    val lpaErr = lpa.collect { case (n, l) if comp.get(l) != comp.get(n) =>
      s"LPA label $l of $n is outside its component" }.take(3).toSeq
    val pr = results("graph.pagerank_tol")
    val prErr =
      if (pr.length != nodes.length) Seq(s"PageRank has ${pr.length} nodes, graph ${nodes.length}")
      else pr.collect { case r if !(r.getDouble(1) > 0 && !r.getDouble(1).isInfinite) =>
        s"PageRank of ${r.get(0)} is ${r.get(1)}" }.take(3).toSeq
    ccErr ++ plantErr ++ coreErr ++ lpaErr ++ prErr
  }

  def side(c: Ctx): Seq[(String, Double, String)] = Nil
}

/** taxi_mapmatch: GPS points -> trips -> map-matched link travel times.
  * A pass computes the network's skim, then runs the chain on each chunk
  * file of points. One op = the chain over one chunk. */
final class TaxiMapMatch extends Workload {
  val Size = Gen.TaxiSize(grid = 8, block = 1600.0, cabs = 80, tripsPerCab = 8,
    pointsPerTrip = 20, chunks = 4)
  private var truth: Gen.TaxiTruth = _
  private var trips: Seq[Row] = Nil
  private var stats: Seq[Row] = Nil

  def generate(in: File, seed: Long): Unit = truth = Gen.taxi(in, seed, Size)
  def inputRows: Long = truth.points

  private def points(c: Ctx, file: File): DataFrame =
    c.spark.read.option("sep", "\t").option("header", "true")
      .schema("pt long, cab_id long, time timestamp, x double, y double, status string")
      .csv(file.getPath)

  private val links = Gen.gridLinks(Size)
  private val byId = links.map(l => l.linkId -> l).toMap

  /** The chain over one chunk; returns its two outputs, the trips and
    * the link stats. */
  def chain(c: Ctx, pts: DataFrame,
      skim: Map[(Long, Long), (Double, Vector[Long])]): (Array[Row], Array[Row]) = {
    import c.spark.implicits._
    val seg = c.tr.span("pipelines.taxi.segment") {
      c.force(Taxi.segmentPoints(pts, Seq("cab_id"), "time", "pt", "x", "y", "status"))
    }
    val trips = c.tr.span("pipelines.taxi.trips") {
      Taxi.toTrips(seg, Seq("cab_id"), "time").collect()
    }
    val keys = trips.map(r => (r.getAs[Long]("cab_id"), r.getAs[Long]("trip_id"))).toSeq
      .toDF("cab_id", "trip_id")
    val tripPts = seg.join(broadcast(keys), Seq("cab_id", "trip_id"))
      .select(concat_ws("_", col("cab_id"), col("trip_id")).as("trip"), col("pt"),
        col("time").cast("double").as("ts"), col("x"), col("y"))
    val cands = c.tr.span("pipelines.mapmatch.candidates") {
      c.force(MapMatch.candidateStates(tripPts, links, "trip", "pt", "x", "y"))
    }
    if (c.tr.enabled) {
      val n = cands.count().toDouble
      c.add("pipelines.mapmatch.candidates_per_point",
        n / math.max(1L, cands.select("trip", "pt").distinct().count()) / Size.chunks)
    }
    val legs = c.tr.span("graph.viterbi.legs") {
      c.force(MapMatch.viterbiLegs(cands, "trip", "pt", "ts", skim, byId))
    }
    val trav = c.tr.span("pipelines.mapmatch.allocate") {
      c.force(MapMatch.allocateTravelTimes(legs, links))
    }
    val out = c.tr.span("pipelines.mapmatch.linkstats") {
      MapMatch.linkStats(trav).collect()
    }
    (trips, out)
  }

  def pass(c: Ctx, k: Int, op: Ops): Unit = {
    val skim = c.tr.span("pipelines.mapmatch.skim") {
      MapMatch.linkSkimPenalized(links, MapMatch.geometricMovements(links))
    }
    val outs = (0 until Size.chunks).map { chunk =>
      var out: (Array[Row], Array[Row]) = null
      op("chunk") { out = chain(c, points(c, new File(c.in, s"gps/chunk_$chunk.tsv")), skim) }
      out
    }
    trips = outs.flatMap(_._1)
    stats = outs.flatMap(_._2)
  }

  def check(c: Ctx): Seq[String] = {
    val linkIds = byId.keySet
    val found = trips.length
    (if (found != truth.trips) Seq(s"segmentation found $found trips, planted ${truth.trips}")
     else Nil) ++
      (if (stats.isEmpty) Seq("no link travel-time stats") else Nil) ++
      stats.collect { case r if !linkIds.contains(r.getLong(0)) =>
        s"link stats for unknown link ${r.getLong(0)}" }.take(3)
  }

  def side(c: Ctx): Seq[(String, Double, String)] = Nil
}
