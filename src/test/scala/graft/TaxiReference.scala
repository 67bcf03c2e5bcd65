package graft

import graft.graph.Graph
import graft.pipelines.MapMatch
import graft.pipelines.MapMatch.{Leg, Link}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational forms the taxi kernels replaced, kept verbatim as test
  * references: the six-window-spec segmentation, the broadcast-join and
  * window candidate projection, the window/groupBy allocation and merge,
  * and the skim as a materialized `Map` of every reachable pair.
  * TaxiKernelParitySpec holds the kernels to them. */
object TaxiReference {
  import graft.pipelines.Taxi.{SpeedThresholdMph, StationarySeconds,
    MaxSecondsBetween, MaxFeetBetween}

  def segmentPoints(
      points: DataFrame, vehicleCols: Seq[String], tsCol: String,
      tieCol: String, xCol: String, yCol: String, statusCol: String,
      speedThresholdMph: Double = SpeedThresholdMph,
      stationarySeconds: Double = StationarySeconds,
      maxSecondsBetween: Double = MaxSecondsBetween,
      maxFeetBetween: Double = MaxFeetBetween): DataFrame = {

    val part = vehicleCols.map(col)
    val w = Window.partitionBy(part: _*).orderBy(col(tsCol), col(tieCol))
    def run(c: Column) =
      c.over(Window.partitionBy(part: _*).orderBy(col(tsCol), col(tieCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val wDesc = Window.partitionBy(part: _*)
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    def runDesc(c: Column, extra: Column*) =
      c.over(Window.partitionBy(part ++ extra: _*)
        .orderBy(col(tsCol).desc, col(tieCol).desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    val measured = points
      .withColumn("seconds",
        // via-timestamp cast keeps this total over TIMESTAMP_NTZ inputs
        // (identity when already TIMESTAMP, wall-clock no-op under UTC)
        col(tsCol).cast("timestamp").cast("double") -
          lag(col(tsCol), 1).over(w).cast("timestamp").cast("double"))
      .withColumn("feet",
        sqrt(pow(col(xCol) - lag(col(xCol), 1).over(w), 2) +
             pow(col(yCol) - lag(col(yCol), 1).over(w), 2)))
      .withColumn("status_chg",
        (lag(col(statusCol), 1).over(w).isNotNull &&
          col(statusCol) =!= lag(col(statusCol), 1).over(w)).cast("int"))
      // null for the first point; a zero-second gap would be +inf in the
      // reference — leave it null here and treat null-speed as fast below
      .withColumn("speed",
        when(col("seconds") > 0, col("feet") / col("seconds") * 0.681818))

    // forward stationary time: reset on first point or any fast point;
    // group = running reset count; value = running sum of slow seconds
    // within the group
    val fwdReset = (col("seconds").isNull || col("seconds") === 0 ||
      col("speed") >= speedThresholdMph).cast("int")
    val fwd = measured
      .withColumn("__fr", fwdReset)
      .withColumn("__fg", run(sum(col("__fr"))))
    val fst = fwd.withColumn("fwd_stationary",
      coalesce(
        sum(when(col("__fr") === 0, col("seconds")))
          .over(Window.partitionBy(part :+ col("__fg"): _*)
            .orderBy(col(tsCol), col(tieCol))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        lit(0.0)))

    // backward stationary time: same trick over descending order, driven
    // by the NEXT point's seconds/speed (TaxiDataHelper.py:258-263)
    val bwd = fst
      .withColumn("__s2", lead(col("seconds"), 1).over(w))
      .withColumn("__sp2", lead(col("speed"), 1).over(w))
      .withColumn("__br",
        (col("__s2").isNull || col("__s2") === 0 ||
          col("__sp2") >= speedThresholdMph).cast("int"))
      .withColumn("__bg", sum(col("__br")).over(
        wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bst = bwd.withColumn("bwd_stationary",
      coalesce(runDesc(sum(when(col("__br") === 0, col("__s2"))), col("__bg")),
        lit(0.0)))

    // the 5 break predicates; if/elif in the reference, but each branch
    // only ever increments once, so the running OR-count is identical
    val isBreak = (col("seconds").isNull ||
      col("status_chg") === 1 ||
      col("seconds") > maxSecondsBetween ||
      col("feet") > maxFeetBetween ||
      col("fwd_stationary") > stationarySeconds ||
      (col("bwd_stationary") > stationarySeconds && col("fwd_stationary") > 0)
      ).cast("int")
    bst.withColumn("is_break", isBreak)
      .withColumn("trip_id", run(sum(col("is_break"))))
      .drop("__fr", "__fg", "__s2", "__sp2", "__br", "__bg")
  }

  def candidateStates(
      points: DataFrame, links: Seq[Link], tripCol: String, ptCol: String,
      xCol: String, yCol: String,
      n: Int = MapMatch.ProjectNumLinks,
      distLimit: Double = MapMatch.ProjectDistLimit): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val cell = distLimit
    // replicate each link to the cells of its expanded bbox, PRUNED to
    // the segment's corridor: a long diagonal link's bbox is quadratic
    // in cells while the link passes near only a linear band of them.
    // Keep a cell iff its center is within distLimit + half-diagonal of
    // the segment — any point of the cell within distLimit of the link
    // puts the center inside that radius, so the kept set is a strict
    // superset of the cells that can ever satisfy the distance refine
    // (exactness unchanged, replication linear in link length).
    def segDist(px: Double, py: Double, l: Link): Double = {
      val dx = l.bx - l.ax; val dy = l.by - l.ay
      val len2 = dx * dx + dy * dy
      val t = if (len2 == 0) 0.0
        else math.max(0.0, math.min(1.0,
          ((px - l.ax) * dx + (py - l.ay) * dy) / len2))
      math.hypot(px - (l.ax + t * dx), py - (l.ay + t * dy))
    }
    val corridor = distLimit + cell * math.sqrt(2) / 2
    val linkDf = links.flatMap { l =>
      val x0 = math.floor((math.min(l.ax, l.bx) - distLimit) / cell).toLong
      val x1 = math.floor((math.max(l.ax, l.bx) + distLimit) / cell).toLong
      val y0 = math.floor((math.min(l.ay, l.by) - distLimit) / cell).toLong
      val y1 = math.floor((math.max(l.ay, l.by) + distLimit) / cell).toLong
      for {
        cx <- x0 to x1; cy <- y0 to y1
        if segDist((cx + 0.5) * cell, (cy + 0.5) * cell, l) <= corridor
      } yield (l.linkId, l.ax, l.ay, l.bx, l.by, l.len, cx, cy)
    }.toDF("link_id", "ax", "ay", "bx", "by", "len", "__gcx", "__gcy")
    val t0 = (((col(xCol) - col("ax")) * (col("bx") - col("ax")) +
               (col(yCol) - col("ay")) * (col("by") - col("ay"))) /
              (col("len") * col("len")))
    val t = least(greatest(t0, lit(0.0)), lit(1.0))
    val px = col("ax") + t * (col("bx") - col("ax"))
    val py = col("ay") + t * (col("by") - col("ay"))
    val dist = sqrt(pow(col(xCol) - px, 2) + pow(col(yCol) - py, 2))
    val w = Window.partitionBy(col(tripCol), col(ptCol))
      .orderBy(col("cand_dist"), col("link_id"))
    points
      .withColumn("__gcx", floor(col(xCol) / cell).cast("long"))
      .withColumn("__gcy", floor(col(yCol) / cell).cast("long"))
      .join(broadcast(linkDf), Seq("__gcx", "__gcy"))
      .withColumn("cand_dist", dist)
      .where(col("cand_dist") <= distLimit)
      .withColumn("offset_ratio", t)
      .withColumn("cand_rank", row_number().over(w))
      .where(col("cand_rank") <= n)
      .drop("ax", "ay", "bx", "by", "len", "__gcx", "__gcy")
  }

  def allocateTravelTimes(legs: Dataset[Leg], links: Seq[Link]): DataFrame = {
    val spark = legs.sparkSession
    import spark.implicits._
    val ffDf = links.map(l => (l.linkId, l.ffSec)).toDF("link_id", "ff_sec")
    val exploded = legs.where(col("moved"))
      .select(col("trip"), col("leg"), col("tStart"), col("tEnd"),
        col("startRatio"), col("endRatio"),
        posexplode(col("links")).as(Seq("pos", "link_id")),
        size(col("links")).as("n_links"))
      .join(broadcast(ffDf), "link_id")
    // traversal ratio: 1, minus the untraversed head of the first link and
    // tail of the last (both on the same element for single-link paths)
    val ratio = lit(1.0) -
      when(col("pos") === 0, col("startRatio")).otherwise(0.0) -
      when(col("pos") === col("n_links") - 1, lit(1.0) - col("endRatio"))
        .otherwise(0.0)
    val wLeg = Window.partitionBy("trip", "leg")
    val alloc = exploded
      .withColumn("ratio", ratio)
      .withColumn("ff_part", col("ratio") * col("ff_sec"))
      .withColumn("tot_ff", sum("ff_part").over(wLeg))
      .withColumn("tt",
        when(col("tot_ff") < 0.1,
          (col("tEnd") - col("tStart")) / col("n_links"))
          .otherwise((col("tEnd") - col("tStart")) * col("ff_part") / col("tot_ff")))
    // consecutive-link merge: a new run starts whenever the link changes
    // along the (leg, pos) order; runs then collapse to one row each
    val wOrd = Window.partitionBy("trip").orderBy("leg", "pos")
    val runs = alloc
      .withColumn("chg",
        (lag("link_id", 1).over(wOrd).isNull ||
          col("link_id") =!= lag("link_id", 1).over(wOrd)).cast("int"))
      .withColumn("run", sum("chg").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("trip_t0", min("tStart").over(Window.partitionBy("trip")))
      .groupBy("trip", "run", "link_id")
      .agg(sum("ratio").as("traversal_ratio"), sum("tt").as("travel_time"),
        min("trip_t0").as("trip_t0"))
    // start times: the trip's first path start plus the running tt sum of
    // the preceding merged traversals (TaxiDataHelper.py:476-485)
    val wRun = Window.partitionBy("trip").orderBy("run")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runs
      .withColumn("start_ts",
        to_timestamp(col("trip_t0") + sum("travel_time").over(wRun) -
          col("travel_time")))
      .select(col("trip"), col("run"), col("link_id"),
        col("traversal_ratio"), col("travel_time"), col("start_ts"))
  }

  def skimOver(
      links: Seq[Link], movements: Seq[(Long, Long)], penalized: Boolean,
      maxLinks: Int): Map[(Long, Long), (Double, Vector[Long])] = {
    // the bound reflects what dense APSP + materialized path vectors can
    // actually do on a driver (n^3 relax steps, up to n^2 stored paths):
    // ~3k links = ~27e9 relaxations and a few GB of paths, the ceiling of
    // the reference's own in-memory regime — NOT a data-scale structure
    require(links.size <= maxLinks,
      s"linkSkim is a driver-side dense APSP for config-scale networks; " +
        s"got ${links.size} links > $maxLinks")
    val ids = links.map(_.linkId).toVector
    val idx = ids.zipWithIndex.toMap
    val byId = links.map(l => l.linkId -> l).toMap
    // edge u->v weighted by ff(v) (+ turn penalty u->v when penalized);
    // skim(s,e) = ff(s) + dist(s,e)
    val edges = movements.collect {
      case (u, v) if u != v && idx.contains(u) && idx.contains(v) =>
        val pen = if (penalized) MapMatch.turnPenalty(byId(u), byId(v)) else 0.0
        (idx(u), idx(v), byId(v).ffSec + pen)
    }
    val (dist, pred) = Graph.floydWarshall(ids.size, edges)
    val INF = Double.MaxValue / 8
    val out = for {
      s <- ids.indices; e <- ids.indices
      if dist(s)(e) < INF
    } yield {
      // trace e back to s through the predecessor matrix
      var seq = List(ids(e))
      var j = e
      while (j != s) { j = pred(s)(j); seq = ids(j) :: seq }
      (ids(s), ids(e)) -> (byId(ids(s)).ffSec + dist(s)(e), seq.toVector)
    }
    out.toMap
  }
}
