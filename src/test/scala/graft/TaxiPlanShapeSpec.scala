package graft

import graft.pipelines.{MapMatch, Taxi}
import graft.pipelines.MapMatch.Leg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** Locks the shape of the taxi kernels: segmentation and allocation each
  * run as one shuffle into a per-group scan, with no window operator,
  * candidate projection runs map-side with no exchange, window or join,
  * and the skim of the benchmark's 224-link grid ships as primitive
  * arrays, not as a serialized map of every pair's path. */
class TaxiPlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The executed plan after the frame ran, query stages included. */
  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def assertOneShuffleNoWindow(df: DataFrame): Unit = {
    val plan = executed(df)
    val windows = collect(plan) { case w: WindowExec => w }
    val shuffles = collect(plan) { case s: ShuffleExchangeExec => s }
    assert(windows.isEmpty, s"window operators in\n$plan")
    assert(shuffles.length == 1, s"${shuffles.length} shuffles in\n$plan")
  }

  test("segmentPoints: one shuffle, no window") {
    val pts = (0 until 40).map(i => (i % 3L, i.toLong, i * 30L, i * 20.0, "E"))
      .toDF("cab_id", "pt", "t", "x", "status")
      .withColumn("ts", timestamp_seconds(col("t")))
      .withColumn("y", lit(0.0))
    assertOneShuffleNoWindow(
      Taxi.segmentPoints(pts, Seq("cab_id"), "ts", "pt", "x", "y", "status"))
  }

  test("allocateTravelTimes: one shuffle, no window") {
    val legs = Seq(
      Leg("a", 1, 0.0, 96.0, Seq(1L, 2L), 0.6, 0.08, moved = true),
      Leg("a", 2, 96.0, 156.0, Seq(2L, 3L), 0.08, 0.9, moved = true),
      Leg("b", 1, 10.0, 20.0, Seq(3L), 0.1, 0.9, moved = true)).toDS()
    assertOneShuffleNoWindow(MapMatch.allocateTravelTimes(legs,
      TaxiKernelParitySpec.gridLinks))
  }

  test("candidateStates: no exchange, no window, no join") {
    val pts = (0 until 60).map(i => (s"t${i % 4}", i.toLong, i * 173.0 % 11200, i * 311.0 % 11200))
      .toDF("trip", "pt", "x", "y")
    val cands = MapMatch.candidateStates(pts, TaxiKernelParitySpec.gridLinks,
      "trip", "pt", "x", "y")
    val plan = executed(cands)
    assert(cands.count() > 0)
    val shuffles = collect(plan) { case s: ShuffleExchangeExec => s }
    val windows = collect(plan) { case w: WindowExec => w }
    val joins = collect(plan) { case j: BaseJoinExec => j }
    assert(shuffles.isEmpty && windows.isEmpty && joins.isEmpty,
      s"${shuffles.length} shuffles, ${windows.length} windows, ${joins.length} joins in\n$plan")
  }

  test("the 224-link grid's skim Java-serializes to under 1 MB") {
    val grid = TaxiKernelParitySpec.gridLinks
    val skim = MapMatch.linkSkimPenalized(grid, MapMatch.geometricMovements(grid))
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(skim)
    out.close()
    assert(skim.size == 224 * 224)
    assert(bytes.size < (1 << 20), s"skim serializes to ${bytes.size} bytes")
  }
}
