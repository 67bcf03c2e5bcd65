package graft.pipelines

import org.apache.spark.sql.{DataFrame, Encoders, GraftFrames, Row}
import org.apache.spark.sql.catalyst.analysis.{caseInsensitiveResolution,
  caseSensitiveResolution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** W5 — the reference's full taxi GPS trip segmentation
  * (TaxiDataHelper.py:195-320): per vehicle, ordered by time,
  *
  *   1. consecutive-point measures: feet, seconds, speed (mph)
  *   2. forward_stationary_time — running sum of seconds while speed stays
  *      below the threshold, reset to 0 on any fast point
  *      (TaxiDataHelper.py:231-238)
  *   3. backward_stationary_time — the same accumulation run backwards in
  *      time against the NEXT point's speed/seconds
  *      (TaxiDataHelper.py:245-268)
  *   4. trip breaks on any of the 5 predicates (status change, long gap,
  *      long jump, long stop, last-point-before-a-stop); trip_id = running
  *      break count (TaxiDataHelper.py:283-306)
  *   5. per-trip num_points / trip_length, filtered to real trips
  *      (TaxiDataHelper.py:315-317)
  *
  * Execution: one shuffle by vehicle, one sort by (vehicle, ts, tie), and
  * one sequential [[Taxi.Scan]] per vehicle. The reference's three
  * iterrows passes fold into a single forward sweep: the backward
  * stationary time of a point is the sum of the seconds after it up to
  * the next reset point, so a stationary run is held only until the point
  * that ends it arrives, then resolved and emitted. Memory per vehicle is
  * that unresolved tail, not the vehicle's history, and each vehicle's
  * chain stays inside one partition. The streaming twin
  * (streaming/StreamingTaxi) replays the same `Scan` per micro-batch.
  *
  * Nulls keep SQL's three-valued logic: a null coordinate gives null
  * feet and speed, a point whose reset test is null neither resets nor
  * accumulates, a null status change leaves `is_break` null unless another
  * predicate holds, and `trip_id` counts only definite breaks. NaN
  * compares above every number, as in Spark's ordering.
  */
object Taxi {

  /** Reference thresholds (TaxiDataHelper.py:68-84). */
  val SpeedThresholdMph  = 1.0
  val StationarySeconds  = 180.0
  val MaxSecondsBetween  = 300.0
  val MaxFeetBetween     = 7500.0
  val MinTripFeet        = 500.0

  /** One point measured against the point before it; None is SQL NULL. */
  final case class Step(seconds: Option[Double], feet: Option[Double],
      statusChg: Option[Boolean])

  /** A point's segmentation: its step, speed, both stationary times, the
    * break flag (None when the predicates are NULL) and its trip id. */
  final case class Seg(step: Step, speed: Option[Double], fwd: Double,
      bwd: Double, isBreak: Option[Boolean], tripId: Long)

  /** Straight-line feet between two planar points, with the same
    * `sqrt(pow(dx, 2) + pow(dy, 2))` arithmetic Spark evaluates. */
  def feet(x0: Double, y0: Double, x1: Double, y1: Double): Double =
    math.sqrt(StrictMath.pow(x1 - x0, 2) + StrictMath.pow(y1 - y0, 2))

  /** SQL OR: true if any operand is true, else NULL if any is NULL. */
  private def anyOf(xs: Option[Boolean]*): Option[Boolean] =
    if (xs.contains(Some(true))) Some(true)
    else if (xs.contains(None)) None
    else Some(false)

  /** `a > b` / `a >= b` under Spark's ordering, where NaN is largest
    * (`b` is a threshold, never NaN). */
  private def gt(a: Double, b: Double): Boolean = a > b || a.isNaN
  private def ge(a: Double, b: Double): Boolean = a >= b || a.isNaN

  /** The per-vehicle recurrence, fed points in (ts, tie) order. A point's
    * forward reset is also its predecessor's backward reset, so `push`
    * resolves the pending tail the moment a resetting point arrives;
    * `finish` resolves it with end-of-stream semantics (no next point).
    * `fwd0`/`trips0` carry a vehicle's forward context across calls. */
  final class Scan[P](speedThresholdMph: Double, stationarySeconds: Double,
      maxSecondsBetween: Double, maxFeetBetween: Double,
      fwd0: Double = 0.0, trips0: Long = 0L) {
    private final class Fwd(val p: P, val step: Step, val speed: Option[Double],
        val reset: Option[Boolean], val fwd: Double)
    private val tail = ArrayBuffer.empty[Fwd]
    private var fwd = fwd0
    private var trips = trips0

    def tripCount: Long = trips
    /** Points pushed but not yet emitted, oldest first. */
    def pending: Seq[P] = tail.map(_.p).toSeq

    def push(p: P, step: Step)(emit: (P, Seg) => Unit): Unit = {
      val speed = step.seconds match {
        case Some(s) if s > 0 => step.feet.map(_ / s * 0.681818)
        case _ => None
      }
      val reset = anyOf(Some(step.seconds.isEmpty), step.seconds.map(_ == 0),
        speed.map(ge(_, speedThresholdMph)))
      fwd = reset match {
        case Some(true) => 0.0
        case Some(false) => fwd + step.seconds.get
        case None => fwd
      }
      if (reset.contains(true)) finish(emit)
      tail += new Fwd(p, step, speed, reset, fwd)
    }

    /** Emits every pending point, the last one with no next point. */
    def finish(emit: (P, Seg) => Unit): Unit = {
      val n = tail.length
      val bwd = new Array[Double](n)
      var i = n - 2
      while (i >= 0) {
        val next = tail(i + 1)
        bwd(i) = if (next.reset.isEmpty) bwd(i + 1)
          else next.step.seconds.get + bwd(i + 1)
        i -= 1
      }
      i = 0
      while (i < n) {
        val f = tail(i); val s = f.step
        val isBreak = anyOf(Some(s.seconds.isEmpty), s.statusChg,
          s.seconds.map(_ > maxSecondsBetween),
          s.feet.map(gt(_, maxFeetBetween)),
          Some(f.fwd > stationarySeconds),
          Some(bwd(i) > stationarySeconds && f.fwd > 0))
        if (isBreak.contains(true)) trips += 1
        emit(f.p, Seg(s, f.speed, f.fwd, bwd(i), isBreak, trips))
        i += 1
      }
      tail.clear()
    }
  }

  /** The columns segmentPoints adds, in order. */
  private val SegFields = Seq(
    StructField("seconds", DoubleType), StructField("feet", DoubleType),
    StructField("status_chg", IntegerType), StructField("speed", DoubleType),
    StructField("fwd_stationary", DoubleType, nullable = false),
    StructField("bwd_stationary", DoubleType, nullable = false),
    StructField("is_break", IntegerType), StructField("trip_id", LongType))

  /** SQL `=` on two non-null values of one column. */
  private def sqlEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
    case (x: Float, y: Float) => x == y || (x.isNaN && y.isNaN)
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case _ => a == b
  }

  /** Per-point segmentation: adds seconds/feet/status_chg/speed, both
    * stationary times, `is_break`, and `trip_id` (1-based per vehicle).
    *
    * `tsCol` must be a timestamp (TIMESTAMP or TIMESTAMP_NTZ; seconds are
    * Spark's `cast(cast(ts as timestamp) as double)` differences, so an
    * NTZ input reads as wall clock in the session zone); `tieCol` makes
    * the order total (the reference sorts by time alone — any GPS ping
    * sharing a timestamp would get a nondeterministic pandas order; we
    * refuse the ambiguity). Coordinates are read as doubles. Speed on a
    * zero-second gap is +inf in the reference (division by zero); here it
    * is null and the row is treated as fast (reset, no stationary
    * accumulation). Empty `vehicleCols` segments all points as one
    * vehicle, in one task.
    */
  def segmentPoints(
      points: DataFrame, vehicleCols: Seq[String], tsCol: String,
      tieCol: String, xCol: String, yCol: String, statusCol: String,
      speedThresholdMph: Double = SpeedThresholdMph,
      stationarySeconds: Double = StationarySeconds,
      maxSecondsBetween: Double = MaxSecondsBetween,
      maxFeetBetween: Double = MaxFeetBetween): DataFrame = {
    val width = points.schema.length
    val nVeh = vehicleCols.length
    // kernel inputs after the caller's columns: ts seconds, x, y, status,
    // then the vehicle key
    val prepared = points.select(col("*") +: (Seq(
      col(tsCol).cast("timestamp").cast("double"),
      col(xCol).cast("double"), col(yCol).cast("double"), col(statusCol)) ++
      vehicleCols.map(col)).zipWithIndex.map { case (c, i) => c.as(s"__seg$i") }: _*)
    val byVehicle =
      if (vehicleCols.isEmpty) prepared.repartition(1)
      else prepared.repartition(vehicleCols.map(col): _*)
    val sorted = byVehicle
      .sortWithinPartitions((vehicleCols :+ tsCol :+ tieCol).map(col): _*)
    val outSchema = StructType(points.schema.fields ++
      SegFields.map(f => f.copy(name = "__seg_" + f.name)))
    val scanned = sorted.mapPartitions(rows => segmentSorted(rows, width, nVeh,
      () => new Scan[Row](speedThresholdMph, stationarySeconds,
        maxSecondsBetween, maxFeetBetween)))(Encoders.row(outSchema))
    // one projection with withColumn's semantics, as the relational form
    // added the columns: a caller column of an output's name (under the
    // session's resolver) is replaced in place, the others are appended
    val same =
      if (points.sparkSession.conf.get(SQLConf.CASE_SENSITIVE.key).toBoolean)
        caseSensitiveResolution
      else caseInsensitiveResolution
    val (caller, seg) = scanned.queryExecution.analyzed.output.splitAt(width)
    def out(k: Int) = GraftFrames.column(seg(k)).as(SegFields(k).name)
    scanned.select(caller.map { a =>
      val k = SegFields.indexWhere(f => same(a.name, f.name))
      if (k < 0) GraftFrames.column(a) else out(k)
    } ++ SegFields.indices.filterNot(k =>
      caller.exists(a => same(a.name, SegFields(k).name))).map(out): _*)
  }

  /** Segments one partition sorted by (vehicle, ts, tie): rows arrive as
    * the caller's `width` columns, then ts seconds, x, y, status and the
    * `nVeh` vehicle key columns; each vehicle gets a fresh `newScan()`.
    * Emits the caller's columns followed by the SegFields values. */
  private def segmentSorted(rows: Iterator[Row], width: Int, nVeh: Int,
      newScan: () => Scan[Row]): Iterator[Row] = {
    val tsAt = width; val xAt = width + 1; val yAt = width + 2
    val stAt = width + 3; val vehAt = width + 4
    def sameVehicle(a: Row, b: Row) =
      (vehAt until vehAt + nVeh).forall { i =>
        if (a.isNullAt(i) || b.isNullAt(i)) a.isNullAt(i) && b.isNullAt(i)
        else sqlEq(a.get(i), b.get(i))
      }
    def step(prev: Row, r: Row): Step =
      if (prev == null) Step(None, None, Some(false))
      else Step(
        if (r.isNullAt(tsAt) || prev.isNullAt(tsAt)) None
        else Some(r.getDouble(tsAt) - prev.getDouble(tsAt)),
        if (Seq(xAt, yAt).exists(i => r.isNullAt(i) || prev.isNullAt(i))) None
        else Some(feet(prev.getDouble(xAt), prev.getDouble(yAt),
          r.getDouble(xAt), r.getDouble(yAt))),
        if (prev.isNullAt(stAt)) Some(false)
        else if (r.isNullAt(stAt)) None
        else Some(!sqlEq(prev.get(stAt), r.get(stAt))))
    val out = ArrayBuffer.empty[Row]
    val emit: (Row, Seg) => Unit = (r, s) => {
      val v = new Array[Any](width + SegFields.length)
      var i = 0
      while (i < width) { v(i) = r.get(i); i += 1 }
      v(width) = s.step.seconds.getOrElse(null)
      v(width + 1) = s.step.feet.getOrElse(null)
      v(width + 2) = s.step.statusChg.map(c => if (c) 1 else 0).getOrElse(null)
      v(width + 3) = s.speed.getOrElse(null)
      v(width + 4) = s.fwd
      v(width + 5) = s.bwd
      v(width + 6) = s.isBreak.map(b => if (b) 1 else 0).getOrElse(null)
      v(width + 7) = s.tripId
      out += Row.fromSeq(v.toSeq)
    }
    def drain(): Seq[Row] = { val r = out.toList; out.clear(); r }
    var scan: Scan[Row] = null
    var prev: Row = null
    rows.flatMap { r =>
      if (prev == null || !sameVehicle(prev, r)) {
        if (scan != null) scan.finish(emit)
        scan = newScan()
        prev = null
      }
      scan.push(r, step(prev, r))(emit)
      prev = r
      drain()
    } ++ { if (scan != null) scan.finish(emit); drain() }
  }

  /** Trips from segmented points: num_points, trip_length (sum of feet,
    * the first point's inherited inter-trip feet included — the
    * reference's groupby sums the raw column the same way), span; filtered
    * to `num_points > 1 and trip_length > minTripFeet`
    * (TaxiDataHelper.py:34-40,315-317). */
  def toTrips(
      segmented: DataFrame, vehicleCols: Seq[String], tsCol: String,
      minTripFeet: Double = MinTripFeet): DataFrame =
    segmented
      .groupBy((vehicleCols :+ "trip_id").map(col): _*)
      .agg(count(lit(1)).as("num_points"),
        sum(coalesce(col("feet"), lit(0.0))).as("trip_length"),
        min(col(tsCol)).as("start_ts"), max(col(tsCol)).as("end_ts"))
      .where(col("num_points") > 1 && col("trip_length") > minTripFeet)
}
