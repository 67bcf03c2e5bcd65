package graft

import graft.streaming.StreamingTaxi
import graft.streaming.StreamingTaxi.Pt
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** §2.12 — batch/stream parity for the W5 taxi segmentation: the SAME
  * deterministic GPS walk (exercising all five break predicates: status
  * change, >300 s gap, >7500 ft jump, forward long-stop, backward
  * stationary) through Taxi.segmentPoints (windows) and
  * StreamingTaxi.segment (buffer-and-replay flatMapGroupsWithState across
  * micro-batches + event-time flush), compared row-by-row. Integer
  * coordinates and whole-second gaps keep every sum exact, so parity is
  * literal equality, not tolerance. */
class StreamingTaxiSpec extends SparkSpec {
  import spark.implicits._

  private def mkPts(): Seq[Pt] = {
    val rnd = new scala.util.Random(42)
    Seq("a", "b").flatMap { cab =>
      var t = Timestamp.valueOf("2024-03-01 08:00:00").getTime
      var x = 0L
      var status = 0L
      (0 until 60).map { i =>
        val r = rnd.nextInt(10)
        val gap = if (r == 0) 400L else 60L          // occasional >300 s gap
        val dx = r match {
          case 1     => 8000L                        // >7500 ft jump
          case 2 | 3 => 10L                          // crawling (stationary)
          case _     => 1500L                        // normal fast travel
        }
        if (r == 4) status = 1 - status              // status flip
        t += gap * 1000
        x += dx
        Pt(cab, new Timestamp(t), i.toLong, x.toDouble, 0.0, status)
      }
    }
  }

  private type RowT = (String, Long, Long, Option[Double], Option[Double],
    Option[Double], Double, Double, Int, Long)

  test("streaming segmentation matches batch windows row-for-row") {
    val pts = mkPts()

    val batch = graft.pipelines.Taxi
      .segmentPoints(pts.toDF(), Seq("cab"), "ts", "tie", "x", "y", "status")
      .select(col("cab"), col("ts"), col("tie"), col("seconds"), col("feet"),
        col("speed"), col("fwd_stationary"), col("bwd_stationary"),
        col("is_break"), col("trip_id"))
      .collect()
      .map { r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double]),
        r.getDouble(6), r.getDouble(7), r.getInt(8), r.getLong(9)): RowT }
      .toSet

    val dir = Files.createTempDirectory("graft_staxi").toString
    // split by a GLOBAL time cut: a per-cab index split would put cab b's
    // older points behind the watermark batch 1 established from cab a's
    // later timeline, and the engine would (correctly) drop them as late
    val cut = pts.map(_.ts.getTime).sorted.apply(pts.size / 2)
    val (b1, b2) = pts.partition(_.ts.getTime <= cut)
    spark.createDataset(b1).write.mode("overwrite").parquet(dir)
    val in = spark.readStream.schema(spark.createDataset(pts).schema)
      .parquet(dir).withWatermark("ts", "1 minute").as[Pt]
    val q = StreamingTaxi.segment(in, flushHorizonMinutes = 60.0)
      .writeStream.outputMode("append").format("memory")
      .queryName("taxi_seg_out").start()
    q.processAllAvailable()
    spark.createDataset(b2).write.mode("append").parquet(dir)
    q.processAllAvailable()
    // sentinel vehicle far in the future pushes the watermark past every
    // real vehicle's flush horizon -> buffered tails flush with
    // end-of-stream semantics
    val maxTs = pts.map(_.ts.getTime).max
    spark.createDataset(Seq(
        Pt("zz", new Timestamp(maxTs + 3 * 3600 * 1000), 0L, 0.0, 0.0, 0L)))
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    // the flush is an event-time timeout: it fires in the no-data batch
    // that follows the sentinel's, which processAllAvailable() does not
    // wait for — poll until a batch after the sentinel's has run
    val sentinelBatch = q.recentProgress.filter(_.numInputRows > 0).last.batchId
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!q.recentProgress.exists(p =>
        p.batchId > sentinelBatch && p.durationMs.containsKey("addBatch"))) {
      q.exception.foreach(e => fail(s"stream failed: $e"))
      if (System.nanoTime() > deadline)
        fail(s"no batch ran after the sentinel's (batch $sentinelBatch) within 60 s")
      Thread.sleep(50)
    }
    val streamed = spark.sql("SELECT * FROM taxi_seg_out")
      .as[StreamingTaxi.SegOut].collect()
      .filter(_.cab != "zz")
      .map { o => (o.cab, o.ts.getTime, o.tie, o.seconds, o.feet, o.speed,
        o.fwd_stationary, o.bwd_stationary, o.is_break, o.trip_id): RowT }
      .toSet
    q.stop()

    assert(streamed.size == batch.size,
      s"row counts differ: stream=${streamed.size} batch=${batch.size}")
    val onlyBatch = batch -- streamed
    val onlyStream = streamed -- batch
    assert(onlyBatch.isEmpty && onlyStream.isEmpty,
      s"parity broken;\n only in batch: ${onlyBatch.take(3)}\n only in stream: ${onlyStream.take(3)}")
  }

  test("duplicate pings survive the replay (row-count parity, not set parity)") {
    val t0 = Timestamp.valueOf("2024-03-01 08:00:00").getTime
    def pt(ms: Long, tie: Long, x: Double) =
      Pt("d", new Timestamp(ms), tie, x, 0.0, 0L)
    // an at-least-once producer delivers the second ping twice (exact
    // duplicate incl. tie) — the batch path emits both rows
    val pts = Seq(pt(t0, 0, 0), pt(t0 + 60000, 1, 1500),
      pt(t0 + 60000, 1, 1500), pt(t0 + 120000, 2, 3000))
    val batchRows = graft.pipelines.Taxi
      .segmentPoints(pts.toDF(), Seq("cab"), "ts", "tie", "x", "y", "status")
      .count()
    assert(batchRows == 4L)
    val dir = Files.createTempDirectory("graft_staxi_dup").toString
    spark.createDataset(pts).write.mode("overwrite").parquet(dir)
    val in = spark.readStream.schema(spark.createDataset(pts).schema)
      .parquet(dir).withWatermark("ts", "1 minute").as[Pt]
    val q = StreamingTaxi.segment(in, flushHorizonMinutes = 60.0)
      .writeStream.outputMode("append").format("memory")
      .queryName("taxi_dup_out").start()
    q.processAllAvailable()
    // flush the tail
    spark.createDataset(Seq(Pt("zz",
        new Timestamp(t0 + 5 * 3600000), 0L, 0.0, 0.0, 0L)))
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.processAllAvailable()
    val streamedRows = spark.sql(
      "SELECT count(*) FROM taxi_dup_out WHERE cab = 'd'").as[Long].head()
    q.stop()
    assert(streamedRows == batchRows,
      s"replay dropped duplicate pings: stream=$streamedRows batch=$batchRows")
  }

  test("resume after timeout flush keeps exact deltas and trip numbering") {
    val dir = Files.createTempDirectory("graft_staxi_resume").toString
    val t0 = Timestamp.valueOf("2024-03-01 08:00:00").getTime
    def pt(cab: String, ms: Long, tie: Long, x: Double) =
      Pt(cab, new Timestamp(ms), tie, x, 0.0, 0L)
    // trip 1: three points a minute apart
    val b1 = Seq(pt("r", t0, 0, 0), pt("r", t0 + 60000, 1, 1500),
      pt("r", t0 + 120000, 2, 3000))
    spark.createDataset(b1).write.mode("overwrite").parquet(dir)
    val in = spark.readStream.schema(spark.createDataset(b1).schema)
      .parquet(dir).withWatermark("ts", "1 minute").as[Pt]
    val q = StreamingTaxi.segment(in, flushHorizonMinutes = 60.0)
      .writeStream.outputMode("append").format("memory")
      .queryName("taxi_resume_out").start()
    q.processAllAvailable()
    // sentinel 2h out -> watermark passes r's flush horizon, r flushes
    // (context kept); a SECOND small watermark advance must NOT GC the
    // kept context (the second idle horizon hasn't elapsed)
    spark.createDataset(Seq(pt("zz", t0 + 2 * 3600000, 0, 0)))
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    spark.createDataset(Seq(pt("zz", t0 + 2 * 3600000 + 600000, 1, 0)))
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    // r resumes at t0+3h; final sentinel flushes it
    spark.createDataset(Seq(pt("r", t0 + 3 * 3600000, 3, 4500)))
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    spark.createDataset(Seq(pt("zz", t0 + 5 * 3600000, 2, 0)))
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.processAllAvailable()
    val rRows = spark.sql("SELECT * FROM taxi_resume_out WHERE cab = 'r'")
      .as[StreamingTaxi.SegOut].collect().sortBy(_.tie)
    q.stop()
    assert(rRows.length == 4, s"expected 4 rows for cab r, got ${rRows.length}")
    val resumed = rRows.last
    // exact deltas against the pre-flush last point — not a cold restart
    assert(resumed.seconds.contains((3 * 3600 - 120).toDouble),
      s"resume lost the kept context: seconds=${resumed.seconds}")
    assert(resumed.trip_id == 2L,
      s"trip numbering restarted: trip_id=${resumed.trip_id}")
  }
}
