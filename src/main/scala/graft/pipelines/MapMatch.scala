package graft.pipelines

import graft.graph.{Graph, Viterbi}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, GraftFrames, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** G1+G3+G4+G5 — the reference's integrated taxi map-matching chain
  * (sftaxi_wrangler.py:172-204): GPS trip points -> candidate link states
  * (HwyNetwork.py:297-330) -> HMM most-likely trajectory over candidate
  * paths from the link skim (Trajectory.py:37-97,180-235) -> observed
  * travel time allocated to links with the consecutive-link merge
  * (HwyNetwork.py:569-610, TaxiDataHelper.py:402-485) -> link travel-time
  * stats (TaxiDataHelper.py:489-541).
  *
  * Execution model: the network is config-scale (10^3-10^4 links — the
  * reference holds it in memory per process) so link geometry and the
  * all-pairs link skim are DRIVER-side and broadcast; GPS points are
  * data-scale and stay distributed throughout. The skim is kept as
  * Floyd–Warshall leaves it — a dense time array and a predecessor array
  * ([[MapMatch.Skim]]) behind a `Map` view — so it broadcasts as two
  * primitive arrays and a link path is rebuilt only for the legs the
  * decoder picks. Candidate projection is a per-point map-side kernel
  * against a grid index of the links, also shipped as primitive arrays:
  * no join, window or exchange. Two stages are per-group kernels: the
  * Viterbi DP, one `flatMapGroups` per trip (kernel in
  * graph/Viterbi.scala), and the travel-time allocation with its
  * consecutive-link merge, one pass per trip in (leg, pos) order. Link
  * stats is a relational aggregate. Each step builds its output with one
  * projection.
  *
  * Skim convention: skim(s, e) = free-flow seconds over the best link
  * sequence s..e INCLUSIVE of both endpoint links' full traversal, so the
  * partial-traversal path time
  *   tt = skim - startOffsetRatio*ff(s) - (1 - endOffsetRatio)*ff(e)
  * is exact and non-negative. (The reference's skim costs each movement at
  * the INCOMING link's time — diagonal 0, destination link excluded — which
  * drives the same formula negative by ff(e) on every path
  * (HwyNetwork.py:266,513-529); we keep the subtraction formula but feed it
  * the inclusive skim so it means what it says.)
  */
object MapMatch {

  /** Reference constants (HwyNetwork.py:117-141, Trajectory.py:95). */
  val ProjectNumLinks   = 5
  val ProjectDistLimit  = 150.0
  val TimeLimitFactor   = 2.0
  val TimeLimitMinimum  = 60.0
  val ThetaPath         = 1.0
  val ThetaPoint        = 0.5

  /** Turn penalties, seconds (HwyNetwork.py:129-141): applied per
    * MOVEMENT when building the link-to-link skim, they discourage
    * zig-zag paths through a grid network. */
  val LeftTurnPenalty   = 30.0
  val RightTurnPenalty  = 10.0
  val UTurnPenalty      = 60.0

  /** A directed road link: endpoint coordinates (planar feet) and
    * free-flow traversal seconds. */
  final case class Link(linkId: Long, ax: Double, ay: Double,
      bx: Double, by: Double, ffSec: Double) {
    def len: Double = math.hypot(bx - ax, by - ay)
  }

  /** Candidate state for one GPS point. */
  final case class State(linkId: Long, offsetRatio: Double, dist: Double)

  /** One matched leg between consecutive GPS points: the chosen path's
    * link sequence plus the offset ratios on its first/last links.
    * `moved` = false when start and end states coincide (the reference
    * skips those legs in allocation, TaxiDataHelper.py:425-427). */
  final case class Leg(trip: String, leg: Int, tStart: Double, tEnd: Double,
      links: Seq[Long], startRatio: Double, endRatio: Double, moved: Boolean)

  /** Heading change from `in` to `out`, degrees in (-180, 180]:
    * positive = counterclockwise = a left turn when +y is north. */
  private def headingChange(in: Link, out: Link): Double = {
    val d = math.toDegrees(
      math.atan2(out.by - out.ay, out.bx - out.ax) -
        math.atan2(in.by - in.ay, in.bx - in.ax))
    if (d > 180) d - 360 else if (d <= -180) d + 360 else d
  }

  /** Movement turn classification from link geometry (the dta package's
    * isLeftTurn/isRightTurn/isUTurn consulted by HwyNetwork.py:267-276,
    * re-derived as heading-change bands): |Δ| >= 150° is a U-turn,
    * Δ >= 30° a left, Δ <= -30° a right, anything shallower a through
    * movement with no penalty. */
  def turnPenalty(in: Link, out: Link): Double = {
    val d = headingChange(in, out)
    if (math.abs(d) >= 150) UTurnPenalty
    else if (d >= 30) LeftTurnPenalty
    else if (d <= -30) RightTurnPenalty
    else 0.0
  }

  /** Every geometrically possible movement (u ends where v starts) — the
    * fallback when a network carries no explicit MOVEMENTS section. */
  def geometricMovements(links: Seq[Link]): Seq[(Long, Long)] =
    for {
      u <- links; v <- links
      if u.linkId != v.linkId && u.bx == v.ax && u.by == v.ay
    } yield (u.linkId, v.linkId)

  /** Driver-side all-pairs link skim over the link-adjacency graph
    * (links u->v connected iff u ends where v starts), free-flow time
    * only: total seconds s..e inclusive, plus the link sequence.
    * Guarded: this is the reference's in-memory network regime, not a
    * data-scale structure. The map is a view over a [[Skim]]: lookups
    * rebuild the link sequence from the predecessor array. */
  def linkSkim(links: Seq[Link], maxLinks: Int = 3000)
      : Map[(Long, Long), (Double, Vector[Long])] =
    skimOver(links, geometricMovements(links), penalized = false, maxLinks)

  /** The reference's actual skim shape (HwyNetwork.py:227-294): edges are
    * the network's MOVEMENTS — a movement absent from the list is a turn
    * RESTRICTION and contributes no edge — and each movement pays its
    * turn penalty (left 30 s / right 10 s / U 60 s) on top of free-flow
    * time. Penalties ride the movement edge, so the inclusive-skim
    * offset-subtraction formula used by viterbiLegs is unchanged. */
  def linkSkimPenalized(
      links: Seq[Link], movements: Seq[(Long, Long)], maxLinks: Int = 3000)
      : Map[(Long, Long), (Double, Vector[Long])] =
    skimOver(links, movements, penalized = true, maxLinks)

  /** The all-pairs skim as Floyd–Warshall leaves it, over link indices in
    * the `links` order: `time(s*n + e)` is the inclusive free-flow total
    * and `pred(s*n + e)` the predecessor of e on the best s..e path, -1
    * when e is unreachable from s (the diagonal holds s). A link id
    * listed twice resolves to its last index, as a `toMap` would. */
  final class Skim private[MapMatch] (val ids: Array[Long],
      sortedIds: Array[Long], sortedAt: Array[Int],
      time: Array[Double], pred: Array[Int]) extends Serializable {
    private val n = ids.length

    /** Index of a link id, -1 when the skim does not know it. */
    def indexOf(id: Long): Int = {
      val k = java.util.Arrays.binarySearch(sortedIds, id)
      if (k < 0) -1 else sortedAt(k)
    }
    def reachable(s: Int, e: Int): Boolean = pred(s * n + e) >= 0
    def timeAt(s: Int, e: Int): Double = time(s * n + e)

    /** Link ids of the best s..e path, both ends included. */
    def path(s: Int, e: Int): Vector[Long] = {
      var seq = List(ids(e))
      var j = e
      while (j != s) { j = pred(s * n + j); seq = ids(j) :: seq }
      seq.toVector
    }

    /** Link indices the id lookup resolves to, ascending. */
    private[MapMatch] def live: Array[Int] = sortedAt.sorted
  }

  /** The `Map` that linkSkim returns: reads straight from a [[Skim]]. */
  private final class SkimMap(val skim: Skim)
      extends scala.collection.immutable.AbstractMap[(Long, Long), (Double, Vector[Long])]
      with Serializable {
    private def at(k: (Long, Long)): Option[(Int, Int)] = {
      val s = skim.indexOf(k._1); val e = skim.indexOf(k._2)
      if (s >= 0 && e >= 0 && skim.reachable(s, e)) Some((s, e)) else None
    }
    def get(k: (Long, Long)): Option[(Double, Vector[Long])] =
      at(k).map { case (s, e) => (skim.timeAt(s, e), skim.path(s, e)) }
    override def contains(k: (Long, Long)): Boolean = at(k).isDefined
    def iterator: Iterator[((Long, Long), (Double, Vector[Long]))] = {
      val live = skim.live
      for (s <- live.iterator; e <- live.iterator if skim.reachable(s, e))
        yield ((skim.ids(s), skim.ids(e)), (skim.timeAt(s, e), skim.path(s, e)))
    }
    override lazy val size: Int = {
      val live = skim.live
      live.iterator.map(s => live.count(skim.reachable(s, _))).sum
    }
    override def knownSize: Int = size
    def removed(k: (Long, Long)): Map[(Long, Long), (Double, Vector[Long])] =
      Map.from(this).removed(k)
    def updated[V1 >: (Double, Vector[Long])](k: (Long, Long), v: V1)
        : Map[(Long, Long), V1] = Map.from(this).updated(k, v)
  }

  /** The [[Skim]] behind a map from linkSkim/linkSkimPenalized. */
  private def denseOf(skim: Map[(Long, Long), (Double, Vector[Long])]): Skim =
    skim match {
      case m: SkimMap => m.skim
      case _ => throw new IllegalArgumentException(
        "skim must come from MapMatch.linkSkim or linkSkimPenalized")
    }

  private def skimOver(
      links: Seq[Link], movements: Seq[(Long, Long)], penalized: Boolean,
      maxLinks: Int): Map[(Long, Long), (Double, Vector[Long])] = {
    // the bound reflects what dense APSP can actually do on a driver (n^3
    // relax steps): ~3k links = ~27e9 relaxations, the ceiling of the
    // reference's own in-memory regime — NOT a data-scale structure
    require(links.size <= maxLinks,
      s"linkSkim is a driver-side dense APSP for config-scale networks; " +
        s"got ${links.size} links > $maxLinks")
    val ids = links.map(_.linkId).toArray
    val idx = ids.zipWithIndex.toMap
    val byId = links.map(l => l.linkId -> l).toMap
    // edge u->v weighted by ff(v) (+ turn penalty u->v when penalized);
    // skim(s,e) = ff(s) + dist(s,e)
    val edges = movements.collect {
      case (u, v) if u != v && idx.contains(u) && idx.contains(v) =>
        val pen = if (penalized) turnPenalty(byId(u), byId(v)) else 0.0
        (idx(u), idx(v), byId(v).ffSec + pen)
    }
    val n = ids.length
    val (dist, pred) = Graph.floydWarshall(n, edges)
    val INF = Double.MaxValue / 8
    val time = new Array[Double](n * n)
    val predFlat = new Array[Int](n * n)
    for (s <- 0 until n; e <- 0 until n) {
      val reach = dist(s)(e) < INF
      time(s * n + e) = if (reach) byId(ids(s)).ffSec + dist(s)(e) else Double.NaN
      predFlat(s * n + e) = if (!reach) -1 else if (s == e) s else pred(s)(e)
    }
    val sortedIds = idx.keys.toArray.sorted
    new SkimMap(new Skim(ids, sortedIds, sortedIds.map(idx), time, predFlat))
  }

  /** The links grid-indexed by `distLimit`-sized cell, as primitive
    * arrays: the cells (`cellX(k)`, `cellY(k)`) ascending, cell k holding
    * the link indices `at(start(k) until start(k + 1))` in `links` order,
    * and each link's id, endpoints and length by index. */
  private final class CellIndex(distLimit: Double,
      cellX: Array[Long], cellY: Array[Long],
      start: Array[Int], at: Array[Int], id: Array[Long],
      ax: Array[Double], ay: Array[Double], bx: Array[Double],
      by: Array[Double], len: Array[Double]) extends Serializable {

    /** Index of cell (cx, cy), -1 when no link is replicated there. */
    private def find(cx: Long, cy: Long): Int = {
      var lo = 0; var hi = cellX.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val c = if (cellX(mid) != cx) java.lang.Long.compare(cellX(mid), cx)
          else java.lang.Long.compare(cellY(mid), cy)
        if (c == 0) return mid
        if (c < 0) lo = mid + 1 else hi = mid - 1
      }
      -1
    }

    /** One point's candidates: the `n` first of its cell's links within
      * `distLimit`, by (cand_dist, link_id), as (link_id, t, dist)
      * triples in rank order. Each step is the relational expression's
      * own double arithmetic (see candidateStates). */
    def candidates(x: Double, y: Double, n: Int,
        ansi: Boolean): Array[(Long, Double, Double)] = {
      val k = find(math.floor(x / distLimit).toLong,
        math.floor(y / distLimit).toLong)
      if (k < 0) return Array.empty
      val kept = ArrayBuffer.empty[(Long, Double, Double)]
      var j = start(k)
      while (j < start(k + 1)) {
        val i = at(j)
        val den = len(i) * len(i)
        // x / 0.0 under ANSI raises; otherwise it is NULL, and
        // greatest(NULL, 0.0) is 0.0
        val t =
          if (den == 0.0) {
            if (ansi) throw GraftFrames.divideByZero()
            0.0
          } else {
            val t0 = ((x - ax(i)) * (bx(i) - ax(i)) + (y - ay(i)) * (by(i) - ay(i))) / den
            val g = if (sqlCompare(0.0, t0) > 0) 0.0 else t0
            if (sqlCompare(1.0, g) < 0) 1.0 else g
          }
        val px = ax(i) + t * (bx(i) - ax(i))
        val py = ay(i) + t * (by(i) - ay(i))
        val d = math.sqrt(StrictMath.pow(x - px, 2.0) + StrictMath.pow(y - py, 2.0))
        if (sqlCompare(d, distLimit) <= 0) kept += ((id(i), t, d))
        j += 1
      }
      kept.sortInPlaceWith { (a, b) =>
        val c = sqlCompare(a._3, b._3)
        if (c != 0) c < 0 else a._1 < b._1
      }
      kept.take(n).toArray
    }
  }

  /** Spark's order on doubles: NaN above every number, -0.0 == 0.0. */
  private def sqlCompare(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** The grid index of `links` with `distLimit`-sized cells, pruned to
    * each link's corridor (HwyNetwork.py:370-388's rtree bbox probe,
    * Spark-shaped). Every link is replicated to each cell overlapped by
    * its bbox expanded by `distLimit`, keeping a cell iff its center is
    * within distLimit + half-diagonal of the segment: a point within
    * `distLimit` of a segment lies in that expanded bbox, and any point
    * of a cell within `distLimit` of the link puts the center inside
    * that radius, so a point's own cell holds every link it can match
    * (a superset, refined by the distance test), while a long diagonal
    * link is replicated to a band of cells linear in its length. */
  private def cellIndex(links: Seq[Link], distLimit: Double): CellIndex = {
    val cell = distLimit
    def segDist(px: Double, py: Double, l: Link): Double = {
      val dx = l.bx - l.ax; val dy = l.by - l.ay
      val len2 = dx * dx + dy * dy
      val t = if (len2 == 0) 0.0
        else math.max(0.0, math.min(1.0,
          ((px - l.ax) * dx + (py - l.ay) * dy) / len2))
      math.hypot(px - (l.ax + t * dx), py - (l.ay + t * dy))
    }
    val corridor = distLimit + cell * math.sqrt(2) / 2
    val entries = links.zipWithIndex.flatMap { case (l, i) =>
      val x0 = math.floor((math.min(l.ax, l.bx) - distLimit) / cell).toLong
      val x1 = math.floor((math.max(l.ax, l.bx) + distLimit) / cell).toLong
      val y0 = math.floor((math.min(l.ay, l.by) - distLimit) / cell).toLong
      val y1 = math.floor((math.max(l.ay, l.by) + distLimit) / cell).toLong
      for {
        cx <- x0 to x1; cy <- y0 to y1
        if segDist((cx + 0.5) * cell, (cy + 0.5) * cell, l) <= corridor
      } yield (cx, cy, i)
    }.sorted.toArray
    val first = entries.indices.filter(e => e == 0 ||
      entries(e)._1 != entries(e - 1)._1 || entries(e)._2 != entries(e - 1)._2)
    new CellIndex(distLimit, first.map(entries(_)._1).toArray, first.map(entries(_)._2).toArray,
      (first :+ entries.length).toArray, entries.map(_._3),
      links.map(_.linkId).toArray, links.map(_.ax).toArray, links.map(_.ay).toArray,
      links.map(_.bx).toArray, links.map(_.by).toArray, links.map(_.len).toArray)
  }

  /** G1 — candidate link states per GPS point (HwyNetwork.py:297-330):
    * each point is projected onto the links of its `distLimit`-sized grid
    * cell (offset t along the segment clamped to [0,1], distance to the
    * projection), and the `n` nearest within `distLimit` are kept, ranked
    * by (cand_dist, link_id) for a total order. Returns the point's
    * columns followed by link_id, cand_dist, offset_ratio (= t) and
    * cand_rank (1-based).
    *
    * A per-point map-side kernel, as the reference probes its rtree one
    * point at a time: one `mapPartitions` over the points against the
    * grid index of [[cellIndex]], shipped with the task as primitive
    * arrays. No join, window or exchange, so the candidates stay in the
    * points' partitions.
    *
    * Per-row contract: each input row is ranked on its own, so rows that
    * share (tripCol, ptCol) each get their own ranks 1..n. (The
    * relational form this replaced ranked such rows together in one
    * window, in no deterministic order among them.) tripCol and ptCol
    * name the point for the decoder; the kernel does not read them.
    *
    * Exactness: the index is the relational form's cell-replicated link
    * table, and each candidate is computed with that plan's expressions'
    * own arithmetic, so the rows are the same to the bit.
    *   - Coordinates are cast to double as Spark promotes integer and
    *     decimal operands; a null coordinate yields no rows.
    *   - The cell key is `floor(c / distLimit)` as a long: NaN → 0,
    *     ±Inf → Long.MaxValue/MinValue.
    *   - t = least(greatest(t0, 0.0), 1.0) with NaN the largest value;
    *     the distance is `sqrt(pow(dx, 2) + pow(dy, 2))` with
    *     `StrictMath.pow`; `cand_dist <= distLimit` and the ranking
    *     order doubles as Spark does.
    *   - A zero-length link divides by zero: under ANSI that raises
    *     DIVIDE_BY_ZERO, otherwise t is 0.
    */
  def candidateStates(
      points: DataFrame, links: Seq[Link], tripCol: String, ptCol: String,
      xCol: String, yCol: String,
      n: Int = ProjectNumLinks, distLimit: Double = ProjectDistLimit): DataFrame = {
    val index = cellIndex(links, distLimit)
    val ansi = points.sparkSession.conf.get(SQLConf.ANSI_ENABLED.key).toBoolean
    val width = points.schema.length
    val prepared = points.select(col("*"),
      col(xCol).cast("double").as("__mm_x"), col(yCol).cast("double").as("__mm_y"))
    val outSchema = StructType(points.schema.fields ++ Seq(
      StructField("link_id", LongType, nullable = false),
      // nullable as Spark types `sqrt`, though never null here
      StructField("cand_dist", DoubleType),
      StructField("offset_ratio", DoubleType, nullable = false),
      StructField("cand_rank", IntegerType, nullable = false)))
    prepared.mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(width) || r.isNullAt(width + 1)) Iterator.empty
        else index.candidates(r.getDouble(width), r.getDouble(width + 1),
            n, ansi).iterator.zipWithIndex.map {
          case ((linkId, t, d), rank) =>
            Row.fromSeq((0 until width).map(r.get) ++ Seq[Any](linkId, d, t, rank + 1))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Per-trip observation assembly: points in time order with the point
    * id as tie-break (duplicate GPS timestamps are common; hash-map order
    * must not leak into the decoded path); candidates in rank order. */
  private def assemblePts(
      it: Iterator[(String, Long, Double, Long, Double, Double, Int)])
      : Array[(Long, Double, Array[State])] =
    it.toArray.groupBy(r => (r._2, r._3)).toArray
      .sortBy { case ((pt, ts), _) => (ts, pt) }
      .map { case ((pt, ts), rs) =>
        (pt, ts, rs.sortBy(_._7).map(r => State(r._4, r._5, r._6)))
      }

  /** The shared HMM cost structure: emit = ThetaPoint * GPS distance,
    * trans = ThetaPath * (path_tt + max(path_tt - observed_dt, 0)) —
    * used identically by the decode and the smoother, exactly as the
    * reference feeds one LearningTrajectory to both TrajectoryViterbi1
    * and TrajectorySmoother1 (Trajectory.py:188-235). `at(t)(s)` is the
    * skim index of state s at observation t (-1 when the skim lacks its
    * link), so a transition probes the dense arrays by index. */
  private def costFns(
      pts: Array[(Long, Double, Array[State])], at: Array[Array[Int]],
      skim: Skim, linkM: Map[Long, Link])
      : ((Int, Int) => Double, (Int, Int, Int) => Double) = {
    // path free-flow tt between two states; +inf when no path or over
    // the time limit. Same-link paths clamp the end offset forward
    // (HwyNetwork.py:404-410) and bypass the limit.
    def pathTT(a: State, ia: Int, b: State, ib: Int, dt: Double): Double =
      if (a.linkId == b.linkId) {
        val ff = linkM(a.linkId).ffSec
        (math.max(a.offsetRatio, b.offsetRatio) - a.offsetRatio) * ff
      } else if (ia >= 0 && ib >= 0 && skim.reachable(ia, ib) &&
          skim.timeAt(ia, ib) <= math.max(TimeLimitMinimum, TimeLimitFactor * dt))
        skim.timeAt(ia, ib) - a.offsetRatio * linkM(a.linkId).ffSec -
          (1.0 - b.offsetRatio) * linkM(b.linkId).ffSec
      else Double.PositiveInfinity
    val emit = (t: Int, s: Int) => ThetaPoint * pts(t)._3(s).dist
    val trans = (t: Int, s1: Int, s2: Int) => {
      val dt = pts(t)._2 - pts(t - 1)._2
      val tt = pathTT(pts(t - 1)._3(s1), at(t - 1)(s1), pts(t)._3(s2),
        at(t)(s2), dt)
      ThetaPath * (tt + math.max(tt - dt, 0.0))
    }
    (emit, trans)
  }

  /** One row per candidate, typed for the per-trip kernels. */
  private def candRows(cands: DataFrame, tripCol: String, ptCol: String,
      tsCol: String): Dataset[(String, Long, Double, Long, Double, Double, Int)] = {
    import cands.sparkSession.implicits._
    cands.select(col(tripCol).cast("string").as("trip"),
        col(ptCol).cast("long").as("pt"), col(tsCol).cast("double").as("ts"),
        col("link_id"), col("offset_ratio").cast("double"),
        col("cand_dist").cast("double"), col("cand_rank"))
      .as[(String, Long, Double, Long, Double, Double, Int)]
  }

  /** G4 — most-likely trajectory per trip via the Viterbi kernel, one
    * `flatMapGroups` per trip (distributed across trips): point score =
    * -distFromGPS (weight ThetaPoint), path score = -(path_tt +
    * max(path_tt - observed_dt, 0)) (weight ThetaPath; the
    * double-penalty for paths slower than observed, Trajectory.py:62-85),
    * candidate paths excluded beyond max(TimeLimitMinimum,
    * TimeLimitFactor * observed_dt) free-flow seconds
    * (HwyNetwork.py:471-474). Emits one Leg per consecutive point pair.
    *
    * `cands` must carry (tripCol, ptCol string-sortable, ts epoch double
    * `tsCol`, link_id, offset_ratio, cand_dist, cand_rank); `skim` must
    * come from linkSkim or linkSkimPenalized — its dense arrays are what
    * is broadcast, and a leg's link path is rebuilt only once decoded.
    */
  def viterbiLegs(
      cands: DataFrame, tripCol: String, ptCol: String, tsCol: String,
      skim: Map[(Long, Long), (Double, Vector[Long])],
      linksById: Map[Long, Link]): Dataset[Leg] = {
    val spark = cands.sparkSession
    import spark.implicits._
    val bcSkim = spark.sparkContext.broadcast(denseOf(skim))
    val bcLinks = spark.sparkContext.broadcast(linksById)
    candRows(cands, tripCol, ptCol, tsCol).groupByKey(_._1).flatMapGroups { (trip, it) =>
      val sk = bcSkim.value
      val linkM = bcLinks.value
      val pts = assemblePts(it)
      val nObs = pts.length
      if (nObs < 2) Iterator.empty
      else {
        val at = pts.map(_._3.map(st => sk.indexOf(st.linkId)))
        val (emit, trans) = costFns(pts, at, sk, linkM)
        val path = Viterbi.decodeVar(nObs, t => pts(t)._3.length,
          emit, trans)
        (1 until nObs).iterator.map { i =>
          val a = pts(i - 1)._3(path(i - 1)); val b = pts(i)._3(path(i))
          val ia = at(i - 1)(path(i - 1)); val ib = at(i)(path(i))
          if (a.linkId == b.linkId) {
            val endR = math.max(a.offsetRatio, b.offsetRatio)
            Leg(trip, i, pts(i - 1)._2, pts(i)._2, Vector(a.linkId),
              a.offsetRatio, endR, moved = endR != a.offsetRatio)
          } else if (ia >= 0 && ib >= 0 && sk.reachable(ia, ib))
            Leg(trip, i, pts(i - 1)._2, pts(i)._2, sk.path(ia, ib),
              a.offsetRatio, b.offsetRatio, moved = true)
          else
            // no finite path between ANY candidate pair at this step
            // (Viterbi ties resolved to index 0 over all-infinite
            // costs): the reference's path==None `continue` — emit an
            // unmoved leg so allocation skips it rather than crashing
            // the stage (TaxiDataHelper.py:425-427)
            Leg(trip, i, pts(i - 1)._2, pts(i)._2, Vector(a.linkId),
              a.offsetRatio, a.offsetRatio, moved = false)
        }
      }
    }
  }

  /** G4+ — the optional smoother output beside the decode: per candidate
    * state the forward-backward posterior probability
    * P(state | all trip observations), over the SAME cost structure the
    * decode minimizes (Trajectory.py:220-235's calculateProbabilities
    * runs TrajectorySmoother1 on the identical features/transitions).
    * Distributed the same way as viterbiLegs: one kernel call per trip.
    * Returns (trip, pt, link_id, offset_ratio, cand_dist, prob); a point
    * whose states are all unreachable carries prob 0 rows. */
  def viterbiPosteriors(
      cands: DataFrame, tripCol: String, ptCol: String, tsCol: String,
      skim: Map[(Long, Long), (Double, Vector[Long])],
      linksById: Map[Long, Link]): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val bcSkim = spark.sparkContext.broadcast(denseOf(skim))
    val bcLinks = spark.sparkContext.broadcast(linksById)
    candRows(cands, tripCol, ptCol, tsCol).groupByKey(_._1).flatMapGroups { (trip, it) =>
      val sk = bcSkim.value
      val pts = assemblePts(it)
      val nObs = pts.length
      if (nObs == 0) Iterator.empty
      else {
        val at = pts.map(_._3.map(st => sk.indexOf(st.linkId)))
        val (emit, trans) = costFns(pts, at, sk, bcLinks.value)
        val gamma = Viterbi.smooth(nObs, t => pts(t)._3.length, emit, trans)
        pts.iterator.zipWithIndex.flatMap { case ((pt, _, states), t) =>
          states.iterator.zipWithIndex.map { case (st, s) =>
            (trip, pt, st.linkId, st.offsetRatio, st.dist, gamma(t)(s))
          }
        }
      }
    }.toDF("trip", "pt", "link_id", "offset_ratio", "cand_dist", "prob")
  }

  /** Columns of allocateTravelTimes before `start_ts` is cast from epoch
    * seconds. */
  private val AllocSchema = StructType(Seq(
    StructField("trip", StringType), StructField("run", LongType),
    StructField("link_id", LongType, nullable = false),
    StructField("traversal_ratio", DoubleType),
    StructField("travel_time", DoubleType), StructField("start_s", DoubleType)))

  /** G5 — observed travel time allocated to the links of each matched leg
    * proportional to partial free-flow time (equal split when effectively
    * stationary, HwyNetwork.py:569-610), then the consecutive-link merge
    * and cumulative start times (TaxiDataHelper.py:440-485). One pass per
    * trip over its moved legs in (leg, pos) order; links absent from
    * `links` (whose ids are unique) drop out before the merge but still
    * count in their leg's equal split. Returns one row per merged
    * traversal: (trip, run, link_id, traversal_ratio, travel_time,
    * start_ts).
    */
  def allocateTravelTimes(legs: Dataset[Leg], links: Seq[Link]): DataFrame = {
    val ff = links.map(l => l.linkId -> l.ffSec).toMap
    legs.where(col("moved")).groupByKey(_.trip)(Encoders.STRING)
      .flatMapGroups((trip: String, it: Iterator[Leg]) => allocateTrip(trip, it, ff))(
        Encoders.row(AllocSchema))
      .select(col("trip"), col("run"), col("link_id"), col("traversal_ratio"),
        col("travel_time"), to_timestamp(col("start_s")).as("start_ts"))
  }

  /** One trip's allocation and merge; sums accumulate from 0.0 in
    * (leg, pos) order, as Spark's `sum` does over the same rows. */
  private def allocateTrip(trip: String, legs: Iterator[Leg],
      ff: Map[Long, Double]): Iterator[Row] = {
    // (link, ratio, tt) per kept link
    val parts = legs.toArray.sortBy(_.leg).iterator.flatMap { l =>
      val n = l.links.length
      val kept = l.links.iterator.zipWithIndex.collect {
        case (id, pos) if ff.contains(id) =>
          // traversal ratio: 1, minus the untraversed head of the first
          // link and tail of the last (both on one link for single-link
          // paths)
          val ratio = 1.0 - (if (pos == 0) l.startRatio else 0.0) -
            (if (pos == n - 1) 1.0 - l.endRatio else 0.0)
          (id, ratio, ratio * ff(id))
      }.toArray
      var totFf = 0.0
      kept.foreach(k => totFf += k._3)
      val dt = l.tEnd - l.tStart
      kept.iterator.map { case (id, ratio, ffPart) =>
        (id, ratio, if (totFf < 0.1) dt / n else dt * ffPart / totFf, l.tStart)
      }
    }.toArray
    if (parts.isEmpty) return Iterator.empty
    var t0 = parts(0)._4
    parts.foreach(p => if (p._4 < t0 || t0.isNaN) t0 = p._4)
    // consecutive-link merge: a new run whenever the link changes
    val runs = ArrayBuffer.empty[(Long, Double, Double)]
    parts.foreach { case (id, ratio, tt, _) =>
      if (runs.isEmpty || runs.last._1 != id) runs += ((id, 0.0 + ratio, 0.0 + tt))
      else runs(runs.length - 1) = (id, runs.last._2 + ratio, runs.last._3 + tt)
    }
    // start: the trip's first path start plus the running tt sum of the
    // preceding merged traversals (TaxiDataHelper.py:476-485)
    var cum = 0.0
    runs.iterator.zipWithIndex.map { case ((id, ratio, tt), r) =>
      cum += tt
      Row(trip, (r + 1).toLong, id, ratio, tt, t0 + cum - tt)
    }
  }

  /** A10 — link travel-time stats: mostly-traversed observations only
    * (ratio > 0.75), times scaled back to the full link, grouped by link
    * and hour (TaxiDataHelper.py:489-541: count / mean / std / p95; np.std
    * is population std). */
  def linkStats(traversals: DataFrame): DataFrame =
    traversals
      .where(col("traversal_ratio") > 0.75)
      .select(col("link_id"), hour(col("start_ts")).as("hour"),
        (col("travel_time") / col("traversal_ratio")).as("full_tt"))
      .groupBy("link_id", "hour")
      .agg(count(lit(1)).as("observations"),
        avg("full_tt").as("tt_mean"),
        coalesce(stddev_pop(col("full_tt")), lit(0.0)).as("tt_std"),
        expr("percentile(full_tt, 0.95)").as("tt_95"))
}
