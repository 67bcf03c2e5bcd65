package perfbench

import java.io.File
import graft.pipelines.Transit
import graft.sources.{Gtfs, Sinks, StpRegistry}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The reference's transit step driver over graft's public functions:
  * gtfs (feed -> schedule table), expand (fixed-width AVL -> clean ->
  * schedule join -> trips, weighted) and aggregate (trips -> route/day ->
  * system/day). Each step reads the previous step's stored output, as
  * the reference's steps read its HDF stores. */
object TransitFlow {
  val TripKey = Seq("DATE", "ROUTE_SHORT_NAME", "DIR", "TRIP")
  val RouteKey = Seq("DATE", "ROUTE_SHORT_NAME", "DIR")
  val SystemKey = Seq("DATE")
  val Part = Seq("MONTH")
  val Tables = Seq("trips" -> TripKey, "route_day" -> RouteKey, "system_day" -> SystemKey)

  val Size = Gen.TransitSize(routes = 5, weekdayTrips = 10, weekendTrips = 6, stops = 10)

  def withMonth(df: DataFrame): DataFrame =
    df.withColumn("MONTH", date_format(col("DATE"), "yyyy-MM"))

  def routeEquiv(c: Ctx): DataFrame =
    c.spark.read.option("header", "true").csv(new File(c.in, "routeEquiv.csv").getPath)
      .select(col("ROUTE_AVL").cast("long"), col("AGENCY_ID"), col("ROUTE_SHORT_NAME"),
        col("START_DATE").cast("timestamp"), col("END_DATE").cast("timestamp"))

  /** gtfs step: the feed's trip-stop schedule on every service date, in
    * the columns `Transit.expand` joins on, stored by month. */
  def gtfsStep(c: Ctx, out: String): Unit = {
    val sched = c.tr.span("sources.gtfs.schedule") {
      val dir = c.path("gtfs_feed")
      Gtfs.extractZip(new File(c.in, "gtfs.zip").getPath, dir)
      val feed = Gtfs.readFeed(c.spark, dir)
      val s = Gtfs.tripStopScheduleFull(feed)
        .join(Gtfs.serviceDates(feed), "service_id")
        .select(col("date").as("DATE"), col("route_short_name").as("ROUTE_SHORT_NAME"),
          col("direction_id").cast("long").as("DIR"),
          regexp_extract(col("trip_id"), "T(\\d+)$", 1).cast("long").as("TRIP"),
          col("seq").cast("long").as("SEQ"),
          (col("arr_s") / 60.0).as("SCHED_ARR"), (col("dep_s") / 60.0).as("SCHED_DEP"),
          col("headway_min").as("HEADWAY_S"), col("FARE"),
          col("SERVMILES_S").as("SERVMILES"))
      c.force(s)
    }
    c.rowsOut("schedule", sched)
    write(c, withMonth(sched), out)
  }

  /** expand step: raw AVL lines -> weighted trips of the days they hold. */
  def tripsOf(c: Ctx, avlPath: String, sched: DataFrame): DataFrame = {
    val avl = c.tr.span("sources.fixedwidth.read") {
      c.force(StpRegistry.read(c.spark, avlPath))
    }
    if (c.tr.enabled) {
      val raw = c.spark.read.text(avlPath).count()
      val parsed = avl.count()
      c.add("pipelines.transit.rows_out.parsed", parsed.toDouble)
      c.add("sources.fixedwidth.rows_rejected", (raw - parsed).toDouble)
    }
    val cleaned = c.tr.span("pipelines.transit.clean") {
      c.force(Transit.clean(avl, routeEquiv(c)))
    }
    c.rowsOut("cleaned", cleaned)
    val ts = c.tr.span("pipelines.transit.expand") {
      c.force(Transit.expand(sched, cleaned))
    }
    c.rowsOut("expanded", ts)
    val trips = c.tr.span("agg.ruleagg.trips") { c.force(Transit.aggregateToTrips(ts)) }
    val weighted = c.tr.span("pipelines.transit.weight") { c.force(Transit.weightTrips(trips)) }
    c.rowsOut("trips", weighted)
    weighted
  }

  def routeDay(c: Ctx, trips: DataFrame): DataFrame = {
    val r = c.tr.span("agg.ruleagg.rollup") { c.force(Transit.routeDay(trips)) }
    c.rowsOut("route_day", r)
    r
  }

  def systemDay(c: Ctx, routeDay: DataFrame): DataFrame = {
    val s = c.tr.span("agg.ruleagg.rollup") { c.force(Transit.systemDay(routeDay)) }
    c.rowsOut("system_day", s)
    s
  }

  // ------------------------------------------------------------------ sinks

  private def files(table: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(table)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.length).toMap
  }

  /** Traced sink calls record files written, partitions they landed in,
    * and write amplification: rows written into the rewritten partitions
    * per changeset row, i.e. bytes written per changeset byte at the
    * written files' bytes per row. */
  private def sink(c: Ctx, span: String, changes: DataFrame, table: String)(
      call: => Unit): Unit = {
    val before = if (c.tr.enabled) files(table) else Map.empty[String, Long]
    c.tr.span(span)(call)
    if (c.tr.enabled) {
      val added = files(table).keySet -- before.keySet
      c.add("sources.sinks.files_written", added.size.toDouble)
      c.add("sources.sinks.partitions_rewritten",
        added.map(p => new File(p).getParent).size.toDouble)
      if (span == "sources.sinks.merge" && added.nonEmpty) {
        val written = c.spark.read.parquet(added.toSeq: _*).count().toDouble
        c.add("sources.sinks.write_amp", written / math.max(1L, changes.count()))
        c.add("sources.sinks.merges", 1)
      }
    }
  }

  def write(c: Ctx, df: DataFrame, table: String): Unit =
    sink(c, "sources.sinks.write", df, table) { Sinks.writePartitioned(df, table, Part) }

  def merge(c: Ctx, df: DataFrame, table: String, key: Seq[String]): Unit =
    if (!new File(table).exists()) write(c, df, table)
    else sink(c, "sources.sinks.merge", df, table) {
      Sinks.mergeIntoPartitioned(table, df, key, Part)
    }

  /** One delivery: a day's file through the expand step, its weighted
    * trips merged into the month-partitioned trips table under `out`. */
  def deliver(c: Ctx, out: String, day: Int, file: String): Unit = {
    val date = Gen.Month.withDayOfMonth(day)
    val sched = c.spark.read.parquet(s"$out/schedule").where(col("DATE") === lit(date))
    val trips = tripsOf(c, new File(c.in, file).getPath, sched)
    merge(c, withMonth(trips), s"$out/trips", TripKey)
  }

  /** expand and aggregate steps as one batch over the AVL files of
    * `days`, against the schedule table at `schedule`, into `out`. */
  def batch(c: Ctx, days: Seq[Int], schedule: String, out: String): Unit = {
    val sched = c.spark.read.parquet(schedule)
      .where(dayofmonth(col("DATE")).between(days.min, days.max))
    val avlGlob = if (days.size == Gen.Days) "avl_month" else
      "avl_month/d{%s}.stp".format(days.map("%02d".format(_)).mkString(","))
    val trips = tripsOf(c, new File(c.in, avlGlob).getPath, sched)
    write(c, withMonth(trips), s"$out/trips")
    aggregate(c, out)
  }

  /** aggregate step: the trips table -> route/day -> system/day tables. */
  def aggregate(c: Ctx, out: String): Unit = {
    val route = routeDay(c, read(c, out, "trips"))
    write(c, withMonth(route), s"$out/route_day")
    val system = systemDay(c, read(c, out, "route_day"))
    write(c, withMonth(system), s"$out/system_day")
  }

  // ----------------------------------------------------------------- checks

  /** Raw input bytes: the AVL files delivered plus the feed and the
    * route equivalence. */
  def inputBytes(c: Ctx, avlFiles: Seq[String]): Double =
    (avlFiles :+ "routeEquiv.csv" :+ "gtfs.zip").map(f => new File(c.in, f).length).sum.toDouble

  /** Bytes of the parquet files under the tables. */
  def storedBytes(dir: String): Long =
    Tables.map { case (t, _) => files(s"$dir/$t").values.sum }.sum

  def read(c: Ctx, dir: String, table: String): DataFrame =
    c.spark.read.parquet(s"$dir/$table")

  /** Per-stage conservation against the generator's counts for the
    * given days, and weights that reproduce the scheduled-trip totals. */
  def conservation(c: Ctx, dir: String, days: Map[Int, Gen.DayTruth]): Seq[String] = {
    def total(f: Gen.DayTruth => Long) = days.values.map(f).sum
    val trips = read(c, dir, "trips").agg(count(lit(1)), sum("TRIP_STOPS"),
      sum("OBS_TRIP_STOPS"), sum("ON")).head()
    val routes = read(c, dir, "route_day").count()
    val byDate = read(c, dir, "system_day").select(col("DATE"), col("TRIPS")).collect()
      .map(r => r.getDate(0).toLocalDate.getDayOfMonth -> r.getDouble(1)).toMap
    Seq(
      ("trips rows = scheduled trips", trips.getLong(0), total(_.schedTrips)),
      ("trip-stops = scheduled trip-stops (expand keeps every schedule row)",
        trips.getLong(1), total(_.schedTripStops)),
      ("observed trip-stops = raw - headers - misaligned - QC - non-revenue - duplicates",
        trips.getLong(2), total(d => d.lines - d.headers - d.misaligned - d.qcFail -
          d.nonRevenue - d.duplicates)),
      ("boardings = generated boardings", trips.getLong(3), total(_.validOn)),
      ("route_day rows = scheduled route-directions", routes, total(_.routeDirs)),
      ("system_day rows = service days", byDate.size.toLong, days.size.toLong)
    ).collect { case (what, got, want) if got != want => s"$what: got $got, want $want" } ++
      days.toSeq.sortBy(_._1).collect {
        case (d, t) if byDate.get(d).forall(w => math.abs(w - t.schedTrips) > 1e-6 * t.schedTrips) =>
          s"weighted trips on day $d: got ${byDate.get(d)}, want ${t.schedTrips}"
      }.take(3)
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => a == b
  }

  /** Row sets equal up to float summation order. */
  def diff(name: String, a: Seq[Row], b: Seq[Row], cols: Seq[String],
      key: Seq[String]): Option[String] = {
    def keyed(rs: Seq[Row]) = rs.map { r =>
      key.map(k => r.get(cols.indexOf(k))) -> r }.toMap
    val (ka, kb) = (keyed(a), keyed(b))
    if (ka.size != a.size || kb.size != b.size) Some(s"$name: duplicate keys")
    else if (ka.keySet != kb.keySet)
      Some(s"$name: ${(ka.keySet diff kb.keySet).size} keys only on one side, " +
        s"${(kb.keySet diff ka.keySet).size} only on the other")
    else ka.collectFirst {
      case (k, ra) if cols.indices.exists(i => !same(ra.get(i), kb(k).get(i))) =>
        val i = cols.indices.find(i => !same(ra.get(i), kb(k).get(i))).get
        s"$name: ${cols(i)} differs at $k: ${ra.get(i)} vs ${kb(k).get(i)}"
    }
  }

  def snapshot(c: Ctx, dir: String): Map[String, (Seq[String], Seq[Row])] =
    Tables.map { case (t, _) =>
      val df = read(c, dir, t)
      val cols = df.columns.sorted.toSeq
      t -> (cols, df.select(cols.map(col): _*).collect().toSeq)
    }.toMap

  def compare(what: String, a: Map[String, (Seq[String], Seq[Row])],
      b: Map[String, (Seq[String], Seq[Row])]): Seq[String] =
    Tables.flatMap { case (t, key) =>
      if (a(t)._1 != b(t)._1) Some(s"$what: $t columns differ")
      else diff(s"$what: $t", a(t)._2, b(t)._2, a(t)._1, key)
    }
}

/** transit_history: the month as one batch. One op = one pass. */
final class TransitHistory extends Workload {
  import TransitFlow._
  private var truth: Gen.TransitTruth = _
  private var last: String = _

  def generate(in: File, seed: Long): Unit = truth = Gen.transit(in, seed, Size)
  def inputRows: Long = truth.days.values.map(_.lines).sum

  def pass(c: Ctx, k: Int, op: Ops): Unit = {
    last = c.path(s"history_$k")
    op("pass") {
      Sinks.rmrf(last)
      gtfsStep(c, s"$last/schedule")
      batch(c, 1 to Gen.Days, s"$last/schedule", last)
    }
  }

  def check(c: Ctx): Seq[String] = conservation(c, last, truth.days)

  def side(c: Ctx): Seq[(String, Double, String)] = Seq(
    ("stored_bytes_per_input_byte", storedBytes(last).toDouble /
      inputBytes(c, truth.days.keys.toSeq.sorted.map("avl_month/d%02d.stp".format(_))), "ratio"))
}

/** transit_daily: the same month delivered a day at a time, each day's
  * trips merged into the month-partitioned trips table, then the route
  * and system tables aggregated from it. A pass is the month's first
  * deliveries: day 1 (as first sent), day 2, day 2 again unchanged, then
  * a late correction of day 1. One op = one delivery. */
final class TransitDaily extends Workload {
  import TransitFlow._
  val Days = Seq(1, 2)
  private var truth: Gen.TransitTruth = _
  private var last: String = _
  private var redelivery: Seq[String] = Nil

  def generate(in: File, seed: Long): Unit = truth = Gen.transit(in, seed, Size, Days)

  val deliveries: Seq[(Int, String)] = Seq(
    Gen.CorrectedDay -> "avl_orig/d%02d.stp".format(Gen.CorrectedDay),
    Gen.RedeliveredDay -> "avl_month/d%02d.stp".format(Gen.RedeliveredDay),
    Gen.RedeliveredDay -> "avl_month/d%02d.stp".format(Gen.RedeliveredDay),
    Gen.CorrectedDay -> "avl_month/d%02d.stp".format(Gen.CorrectedDay))
  def inputRows: Long = deliveries.map(d => truth.linesByFile(d._2)).sum

  def pass(c: Ctx, k: Int, op: Ops): Unit = {
    last = c.path(s"daily_$k")
    Sinks.rmrf(last)
    gtfsStep(c, s"$last/schedule")
    // the trips table right before and after the re-delivery
    var before: Seq[Row] = Nil
    def trips() = c.untimed { read(c, last, "trips").collect().toSeq }
    deliveries.zipWithIndex.foreach { case ((d, f), i) =>
      if (i == 2) before = trips()
      op("day")(deliver(c, last, d, f))
      if (i == 2) redelivery = c.untimed {
        diff("re-delivered day: trips", before, trips(), read(c, last, "trips").columns.toSeq,
          TripKey).toSeq
      }
    }
    aggregate(c, last)
  }

  def check(c: Ctx): Seq[String] = {
    val ref = c.path("history_reference")
    Sinks.rmrf(ref)
    batch(c, Days, s"$last/schedule", ref)
    redelivery ++ conservation(c, last, truth.days) ++
      compare("daily vs history", snapshot(c, last), snapshot(c, ref))
  }

  def side(c: Ctx): Seq[(String, Double, String)] = Seq(("stored_bytes_per_input_byte",
    storedBytes(last).toDouble / inputBytes(c, deliveries.map(_._2)), "ratio"))
}
