package graft

import graft.pipelines.{MapMatch, Taxi}
import graft.pipelines.MapMatch.{Leg, Link}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The taxi kernels against the relational forms they replaced
  * (TaxiReference): same schema, nullability included, and the same rows
  * with doubles compared by `==` — segmentation over seeded GPS walks with
  * every edge the window algebra has to get right, allocation over
  * hand-built and decoded legs, and the dense skim pair by pair. */
class TaxiKernelParitySpec extends SparkSpec {
  import spark.implicits._

  private def sameRows(got: DataFrame, ref: DataFrame, order: Seq[String]): Unit = {
    assert(got.schema == ref.schema,
      s"schema differs:\n got ${got.schema.treeString}\n ref ${ref.schema.treeString}")
    val g = got.orderBy(order.map(col): _*).collect().toSeq
    val r = ref.orderBy(order.map(col): _*).collect().toSeq
    assert(g.length == r.length, s"row counts differ: ${g.length} vs ${r.length}")
    val diff = g.zip(r).filter { case (a, b) => a != b }
    assert(diff.isEmpty, s"${diff.length} rows differ, first: ${diff.take(3)}")
  }

  /** A seeded GPS walk per cab: gaps of 0-400 s, moves from standing to
    * jumps, status flips, and (with `nulls`) null status, coordinates and
    * fleet keys sprinkled in. Gaps and moves straddle the 1 mph, 180 s,
    * 300 s and 7500 ft thresholds. Ties are unique per cab; timestamps
    * repeat. */
  private def walk(seed: Int, cabs: Int, points: Int, nulls: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def maybe[T](v: T): Option[T] =
      if (nulls && rnd.nextInt(12) == 0) None else Some(v)
    val rows = (0 until cabs).flatMap { cab =>
      var t = 1428300000L + rnd.nextInt(1000)
      var x = rnd.nextInt(20000).toDouble
      var y = rnd.nextInt(20000).toDouble
      var status = "E"
      // a few one-point cabs
      val n = if (cab % 7 == 3) 1 else points / 2 + rnd.nextInt(points)
      (0 until n).map { i =>
        t += Seq(0L, 0L, 5L, 30L, 60L, 61L, 120L, 200L, 400L)(rnd.nextInt(9))
        val step = Seq(0.0, 0.5, 3.0, 10.0, 50.0, 150.0, 800.0, 8000.0)(rnd.nextInt(8))
        if (rnd.nextBoolean()) x += step else y -= step
        if (rnd.nextInt(9) == 0) status = if (status == "E") "M" else "E"
        (if (nulls && cab % 5 == 4) None else Some(cab.toLong), (cab % 2).toLong,
          (cab * 1000 + (n - i) * 7 % 1000).toLong, t,
          maybe(x), maybe(y), maybe(status))
      }
    }
    rows.toDF("cab_id", "fleet", "pt", "t", "x", "y", "status")
      .withColumn("ts", timestamp_seconds(col("t")))
  }

  private def bothSeg(df: DataFrame, vehicles: Seq[String], order: Seq[String]): Unit =
    sameRows(
      Taxi.segmentPoints(df, vehicles, "ts", "pt", "x", "y", "status"),
      TaxiReference.segmentPoints(df, vehicles, "ts", "pt", "x", "y", "status"),
      order)

  test("segmentation: seeded walks, zero gaps and duplicate timestamps") {
    Seq(11, 12, 13).foreach { seed =>
      bothSeg(walk(seed, cabs = 12, points = 60, nulls = false),
        Seq("cab_id"), Seq("cab_id", "pt"))
    }
  }

  test("segmentation: null status, coordinates and vehicle keys") {
    Seq(21, 22).foreach { seed =>
      bothSeg(walk(seed, cabs = 12, points = 60, nulls = true),
        Seq("cab_id"), Seq("cab_id", "pt"))
    }
  }

  test("segmentation: multi-column and empty vehicle keys") {
    val df = walk(31, cabs = 10, points = 40, nulls = true)
    bothSeg(df, Seq("fleet", "cab_id"), Seq("fleet", "cab_id", "pt"))
    bothSeg(df.where(col("cab_id") === 2), Seq.empty, Seq("pt"))
    bothSeg(df.where(col("cab_id").isNull), Seq.empty, Seq("pt"))
  }

  test("segmentation: TIMESTAMP_NTZ input and non-default thresholds") {
    val df = walk(41, cabs = 8, points = 50, nulls = true)
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    bothSeg(df, Seq("cab_id"), Seq("cab_id", "pt"))
    sameRows(
      Taxi.segmentPoints(df, Seq("cab_id"), "ts", "pt", "x", "y", "status",
        speedThresholdMph = 0.2, stationarySeconds = 60.0,
        maxSecondsBetween = 100.0, maxFeetBetween = 700.0),
      TaxiReference.segmentPoints(df, Seq("cab_id"), "ts", "pt", "x", "y", "status",
        speedThresholdMph = 0.2, stationarySeconds = 60.0,
        maxSecondsBetween = 100.0, maxFeetBetween = 700.0),
      Seq("cab_id", "pt"))
  }

  test("segmentation: hand cases — one point, all-zero gaps, null-only status") {
    val rows = Seq(
      (1L, 1L, 0L, Some(0.0), Some("E")),
      (2L, 1L, 0L, Some(0.0), Some("E")), (2L, 2L, 0L, Some(5.0), Some("E")),
      (2L, 3L, 0L, Some(9000.0), None),
      (3L, 1L, 10L, None, None), (3L, 2L, 20L, Some(1.0), None),
      (3L, 3L, 230L, Some(2.0), Some("M")), (3L, 4L, 240L, Some(900.0), Some("M")))
    val df = rows.toDF("cab_id", "pt", "t", "x", "status")
      .withColumn("ts", timestamp_seconds(col("t")))
      .withColumn("y", lit(0.0))
    bothSeg(df, Seq("cab_id"), Seq("cab_id", "pt"))
  }

  test("segmentation: caller columns named like outputs are replaced in place") {
    // `speed`, `trip_id` and (under the default case-insensitive
    // resolver) `Feet` are replaced where they stand; the other outputs
    // are appended in order, as the withColumn fold placed them
    val df = walk(51, cabs = 6, points = 30, nulls = true)
      .withColumn("speed", lit("caller"))
      .withColumn("trip_id", col("pt").cast("int"))
      .withColumn("Feet", lit(1.5))
    val got = Taxi.segmentPoints(df, Seq("cab_id"), "ts", "pt", "x", "y", "status")
    assert(got.columns.toSeq == Seq("cab_id", "fleet", "pt", "t", "x", "y",
      "status", "ts", "speed", "trip_id", "feet", "seconds", "status_chg",
      "fwd_stationary", "bwd_stationary", "is_break"))
    assert(got.schema("speed").dataType == org.apache.spark.sql.types.DoubleType)
    assert(got.schema("trip_id").dataType == org.apache.spark.sql.types.LongType)
    bothSeg(df, Seq("cab_id"), Seq("cab_id", "pt"))
  }

  // ------------------------------------------------------------ candidates

  private val grid = TaxiKernelParitySpec.gridLinks

  private def bothCand(pts: DataFrame, ls: Seq[Link], n: Int = MapMatch.ProjectNumLinks,
      distLimit: Double = MapMatch.ProjectDistLimit): Unit =
    sameRows(
      MapMatch.candidateStates(pts, ls, "trip", "pt", "x", "y", n, distLimit),
      TaxiReference.candidateStates(pts, ls, "trip", "pt", "x", "y", n, distLimit),
      Seq("trip", "pt", "cand_rank"))

  /** Seeded points over the bench grid's 11,200 ft square and its
    * margin: a third within a few feet of a link, the rest anywhere. */
  private def gridPoints(seed: Int, count: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until count).map { i =>
      val (x, y) =
        if (i % 3 == 0) {
          val l = grid(rnd.nextInt(grid.length)); val f = rnd.nextDouble()
          (l.ax + f * (l.bx - l.ax) + rnd.nextGaussian() * 5,
            l.ay + f * (l.by - l.ay) + rnd.nextGaussian() * 5)
        } else (rnd.nextDouble() * 11800 - 300, rnd.nextDouble() * 11800 - 300)
      (s"t${i % 17}", i.toLong, i * 10.0, x, y)
    }.toDF("trip", "pt", "ts", "x", "y")
  }

  test("candidates: seeded points on the 8x8 bench grid") {
    Seq(61, 62, 63).foreach(seed => bothCand(gridPoints(seed, 1500), grid))
  }

  test("candidates: seeded points on a network of diagonal links") {
    // links of any heading and length, a few shorter than a cell, whose
    // lengths are not exact as the grid's are
    val rnd = new scala.util.Random(64)
    val net = (1 to 120).map { i =>
      val ax = rnd.nextDouble() * 11000; val ay = rnd.nextDouble() * 11000
      val len = if (i % 10 == 0) rnd.nextDouble() * 100 else rnd.nextDouble() * 3000
      val a = rnd.nextDouble() * 2 * math.Pi
      Link(i.toLong, ax, ay, ax + len * math.cos(a), ay + len * math.sin(a), len / 36.7)
    }
    Seq(65, 66).foreach(seed => bothCand(gridPoints(seed, 1500), net))
  }

  test("candidates: cell edges, link endpoints and points exactly distLimit away") {
    val b = 1600.0
    val xy = Seq(
      // cell edges: multiples of the 150 ft cell, on and off the links
      (150.0, 0.0), (300.0, 150.0), (1650.0, 1500.0), (-150.0, -150.0),
      (4800.0, 4650.0), (149.99999999999997, 150.0),
      // link endpoints: grid nodes, the corner and the far edge
      (0.0, 0.0), (b, b), (7 * b, 7 * b), (3 * b, 0.0), (0.0, 7 * b),
      // exactly 150 ft from a link: perpendicular, and off an endpoint
      (800.0, 150.0), (800.0, -150.0), (b + 90.0, 120.0), (-90.0, -120.0),
      (7 * b + 150.0, 2400.0), (800.0, 150.00000000000003),
      // between two parallel links, 150 ft from neither
      (800.0, 800.0))
    bothCand(xy.zipWithIndex.map { case ((x, y), i) => ("e", i.toLong, x, y) }
      .toDF("trip", "pt", "x", "y"), grid)
  }

  test("candidates: null, NaN and infinite coordinates") {
    val inf = Double.PositiveInfinity
    val xy: Seq[(Option[Double], Option[Double])] = Seq(
      (None, Some(10.0)), (Some(10.0), None), (None, None),
      (Some(Double.NaN), Some(10.0)), (Some(10.0), Some(Double.NaN)),
      (Some(Double.NaN), Some(Double.NaN)), (Some(inf), Some(0.0)),
      (Some(-inf), Some(0.0)), (Some(0.0), Some(inf)), (Some(0.0), Some(-inf)),
      (Some(inf), Some(-inf)), (Some(10.0), Some(10.0)))
    bothCand(xy.zipWithIndex.map { case ((x, y), i) => ("n", i.toLong, x, y) }
      .toDF("trip", "pt", "x", "y"), grid)
  }

  test("candidates: integer and decimal coordinate columns") {
    val pts = gridPoints(71, 600)
    bothCand(pts.withColumn("x", col("x").cast("int")).withColumn("y", col("y").cast("int")),
      grid)
    bothCand(pts.withColumn("x", col("x").cast("decimal(12,3)"))
      .withColumn("y", col("y").cast("decimal(12,3)")), grid)
    bothCand(pts.withColumn("x", col("x").cast("long")), grid)
  }

  test("candidates: non-default n and distLimit") {
    val pts = gridPoints(81, 800)
    Seq((1, 150.0), (2, 400.0), (8, 900.0), (3, 75.5), (0, 150.0))
      .foreach { case (n, d) => bothCand(pts, grid, n, d) }
  }

  test("candidates: a zero-length link fails or projects as the relational form does") {
    val withDot = grid :+ Link(999L, 800.0, 40.0, 800.0, 40.0, 0.0)
    val far = Seq(("z", 0L, 5000.0, 3200.0), ("z", 1L, 3210.0, 80.0)).toDF("trip", "pt", "x", "y")
    val near = Seq(("z", 2L, 790.0, 30.0), ("z", 3L, 800.0, 40.0)).toDF("trip", "pt", "x", "y")
    // points whose cells do not hold the link never divide by its length
    bothCand(far, withDot)
    def divideByZero(f: => Any): Boolean = {
      val e = intercept[Exception](f)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("DIVIDE_BY_ZERO")))
    }
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      assert(divideByZero(TaxiReference.candidateStates(near, withDot, "trip", "pt", "x", "y")
        .collect()))
      assert(divideByZero(MapMatch.candidateStates(near, withDot, "trip", "pt", "x", "y")
        .collect()))
      spark.conf.set("spark.sql.ansi.enabled", "false")
      bothCand(near.union(far), withDot)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("candidates: rows that share (trip, pt) are ranked each on its own") {
    // two readings of one point id, 20 ft apart: the kernel ranks each
    // as the reference projects each GPS point; the relational window
    // ranked the pair together
    val dup = Seq(("d", 7L, 0.0, 800.0, 30.0), ("d", 7L, 1.0, 800.0, 50.0),
      ("d", 8L, 2.0, 1610.0, 20.0)).toDF("trip", "pt", "ts", "x", "y")
    val got = MapMatch.candidateStates(dup, grid, "trip", "pt", "x", "y")
    val ranks = got.groupBy("ts").agg(collect_list("cand_rank").as("r"))
      .as[(Double, Seq[Int])].collect().toMap.view.mapValues(_.sorted).toMap
    assert(ranks.keySet == Set(0.0, 1.0, 2.0))
    assert(ranks.values.forall(r => r == (1 to r.length)), ranks)
    // each row's candidates are the reference's for that row alone
    sameRows(got.withColumn("tag", col("ts")),
      TaxiReference.candidateStates(dup, grid, "ts", "pt", "x", "y")
        .withColumn("tag", col("ts")),
      Seq("tag", "cand_rank"))
  }

  // ------------------------------------------------------------ allocation

  private val links = Seq(
    Link(1L, 0, 0, 1000, 0, 50), Link(2L, 1000, 0, 2000, 0, 50),
    Link(3L, 2000, 0, 2000, 1000, 100), Link(4L, 1000, 0, 1000, 1000, 100),
    Link(5L, 1000, 1000, 2000, 1000, 100), Link(6L, 0, 0, 0, 10, 0.05))

  private def bothAlloc(legs: Seq[Leg], ls: Seq[Link]): Unit = {
    val ds = legs.toDS()
    sameRows(MapMatch.allocateTravelTimes(ds, ls),
      TaxiReference.allocateTravelTimes(ds, ls), Seq("trip", "run"))
  }

  test("allocation: unmoved, single-link, tiny free flow, missing links, cross-leg runs") {
    bothAlloc(Seq(
      // unmoved leg skipped; single-link leg; run of link 2 across legs
      Leg("a", 1, 0.0, 96.0, Seq(1L, 2L), 0.6, 0.08, moved = true),
      Leg("a", 2, 96.0, 156.0, Seq(2L), 0.08, 0.9, moved = true),
      Leg("a", 3, 156.0, 170.0, Seq(2L), 0.9, 0.9, moved = false),
      Leg("a", 4, 170.0, 276.0, Seq(2L, 3L), 0.9, 0.95, moved = true),
      // tot_ff < 0.1: equal split over every listed link
      Leg("b", 1, 1000.0, 1010.0, Seq(6L), 0.2, 0.3, moved = true),
      Leg("b", 2, 1010.0, 1030.0, Seq(1L, 2L), 0.9999, 0.0001, moved = true),
      Leg("b", 3, 1030.0, 1042.0, Seq(99L, 6L, 6L), 0.5, 0.1, moved = true),
      // link 99 is not in `links`: dropped, still counted in n_links, and
      // the 4s on either side of it merge into one run
      Leg("c", 1, 2000.0, 2100.0, Seq(4L, 99L, 4L, 5L), 0.1, 0.5, moved = true),
      Leg("c", 2, 2100.0, 2150.0, Seq(5L, 98L), 0.5, 0.7, moved = true),
      Leg("c", 3, 2150.0, 2160.0, Seq(97L), 0.1, 0.2, moved = true),
      // a trip whose only moved leg is all missing links
      Leg("d", 1, 3000.0, 3100.0, Seq(97L, 96L), 0.1, 0.2, moved = true),
      // legs out of order on input
      Leg("e", 2, 4060.0, 4090.0, Seq(3L), 0.2, 0.9, moved = true),
      Leg("e", 1, 4000.0, 4060.0, Seq(2L, 3L), 0.5, 0.2, moved = true)),
      links)
  }

  test("allocation: seeded random legs over the grid") {
    val grid = TaxiKernelParitySpec.gridLinks
    val rnd = new scala.util.Random(7)
    val legs = (0 until 40).flatMap { trip =>
      var t = rnd.nextInt(100000).toDouble
      var at = grid(rnd.nextInt(grid.length)).linkId
      (1 to 1 + rnd.nextInt(12)).map { leg =>
        val n = 1 + rnd.nextInt(4)
        val path = at +: Seq.fill(n - 1)(
          if (rnd.nextInt(10) == 0) 10000L + rnd.nextInt(3)
          else grid(rnd.nextInt(grid.length)).linkId)
        at = path.last
        val dt = Seq(0.0, 1.0, 30.0, 95.5)(rnd.nextInt(4))
        val l = Leg(s"t$trip", leg, t, t + dt, path, rnd.nextDouble(),
          rnd.nextDouble(), moved = rnd.nextInt(6) != 0)
        t += dt
        l
      }
    }
    bothAlloc(legs, grid.filter(_.linkId % 17 != 0))
  }

  test("allocation: the decoded legs of the map-matching fixture") {
    val pts = Seq(
      ("1", 0L, 0.0, 600.0, 10.0), ("1", 1L, 96.0, 1080.0, 120.0),
      ("1", 2L, 156.0, 1900.0, 40.0), ("1", 3L, 276.0, 2050.0, 950.0),
      ("2", 0L, 1000.0, 200.0, 5.0), ("2", 1L, 1100.0, 1800.0, 5.0),
      ("2", 2L, 1150.0, 1800.0, 5.0)).toDF("trip", "pt", "ts", "x", "y")
    val net = links.take(5)
    val cands = MapMatch.candidateStates(pts, net, "trip", "pt", "x", "y")
    val legs = MapMatch.viterbiLegs(cands, "trip", "pt", "ts",
      MapMatch.linkSkimPenalized(net, MapMatch.geometricMovements(net)),
      net.map(l => l.linkId -> l).toMap).collect().toSeq
    bothAlloc(legs, net)
  }

  // ------------------------------------------------------------------ skim

  private def sameSkim(ls: Seq[Link], moves: Seq[(Long, Long)]): Unit = {
    Seq(false, true).foreach { penalized =>
      val got =
        if (penalized) MapMatch.linkSkimPenalized(ls, moves)
        else MapMatch.linkSkim(ls)
      val ref = TaxiReference.skimOver(ls,
        if (penalized) moves else MapMatch.geometricMovements(ls), penalized, 3000)
      assert(got.size == ref.size)
      val ids = ls.map(_.linkId) :+ -1L
      for (s <- ids; e <- ids) {
        assert(got.contains((s, e)) == ref.contains((s, e)), s"contains($s, $e)")
        assert(got.get((s, e)) == ref.get((s, e)), s"get($s, $e)")
      }
      assert(got == ref)
    }
  }

  test("skim: every pair of the 8x8 bench grid") {
    val grid = TaxiKernelParitySpec.gridLinks
    sameSkim(grid, MapMatch.geometricMovements(grid))
  }

  test("skim: every pair of the map-matching network, restricted movements") {
    val net = Seq(
      Link(1L, 0, 0, 1000, 0, 50), Link(2L, 1000, 0, 2000, 0, 50),
      Link(3L, 2000, 0, 2000, 1000, 100), Link(4L, 1000, 0, 1000, 1000, 100),
      Link(5L, 1000, 1000, 2000, 1000, 100),
      Link(21L, 10000, 0, 11000, 0, 50),
      Link(22L, 11000, 0, 11500, 500, 20), Link(23L, 11500, 500, 12000, 0, 20),
      Link(24L, 11000, 0, 11500, 125, 52), Link(25L, 11500, 125, 12000, 0, 52),
      Link(26L, 12000, 0, 13000, 0, 50))
    sameSkim(net, MapMatch.geometricMovements(net))
    sameSkim(net, MapMatch.geometricMovements(net).filterNot(_ == ((22L, 23L))))
  }
}

object TaxiKernelParitySpec {
  /** The benchmark's 8x8 grid: 112 two-way blocks of 1600 ft at ~25 mph,
    * 224 directed links. */
  val gridLinks: Seq[Link] = {
    val g = 8; val b = 1600.0
    val segs = for {
      i <- 0 until g; j <- 0 until g
      (di, dj) <- Seq((1, 0), (0, 1)) if i + di < g && j + dj < g
    } yield ((i * b, j * b), ((i + di) * b, (j + dj) * b))
    segs.zipWithIndex.flatMap { case (((ax, ay), (bx, by)), k) =>
      Seq(Link(2L * k + 1, ax, ay, bx, by, b / 36.7),
        Link(2L * k + 2, bx, by, ax, ay, b / 36.7))
    }
  }
}
