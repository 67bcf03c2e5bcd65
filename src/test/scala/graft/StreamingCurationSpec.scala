package graft

import graft.operators.{Curation, Quantization}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The curation tier's map-only operators are streaming-safe by
  * construction (pure per-row expressions, no state) — these specs prove
  * it with row-level batch/stream parity through a parquet source, the
  * same harness the W5/dedup streaming twins use. A daily-crawl pipeline
  * runs exactly this: filter + split + encode each micro-batch as it
  * lands, no rescan of the corpus. */
class StreamingCurationSpec extends SparkSpec {
  import spark.implicits._

  private def streamed(dir: String, batch: DataFrame,
                       f: DataFrame => DataFrame, name: String): DataFrame = {
    val q = f(spark.readStream.schema(batch.schema).parquet(dir))
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.sql(s"SELECT * FROM $name")
  }

  test("gopher filter + hash split: streaming rows match batch exactly") {
    val docs = Seq(
      (1L, ("the fox and dog run fast " * 10).trim),
      (2L, "the and fox dog"),
      (3L, ("x# " * 60).trim),
      (4L, "111 222 333 444")
    ).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_stream_gopher").toString
    docs.write.mode("overwrite").parquet(dir)
    def pipeline(df: DataFrame): DataFrame =
      Curation.gopherFlags(df, "text")
        .withColumn("split", Curation.hashSplit(col("doc_id")))
        .select("doc_id", "n_words", "pass_all", "split")
    val batch = pipeline(spark.read.parquet(dir))
      .as[(Long, Long, Boolean, String)].collect().toSeq.sorted
    val stream = streamed(dir, docs, pipeline, "gopher_stream")
      .as[(Long, Long, Boolean, String)].collect().toSeq.sorted
    assert(stream == batch && batch.nonEmpty)
  }

  test("lineClean: streaming rows match batch exactly (stateless HOFs)") {
    val docs = Seq(
      (1L, "This line is long enough and properly ends with a period.\nnav | nav"),
      (2L, "home | about | contact\nAnother sufficiently long surviving line here."),
      (3L, "")
    ).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_stream_lineclean").toString
    docs.write.mode("overwrite").parquet(dir)
    def pipeline(df: DataFrame): DataFrame =
      graft.operators.Corpus.lineClean(df, "text")
        .select("doc_id", "n_lines", "n_kept", "cleaned")
    val batch = pipeline(spark.read.parquet(dir))
      .as[(Long, Int, Int, String)].collect().toSeq.sorted
    val stream = streamed(dir, docs, pipeline, "lineclean_stream")
      .as[(Long, Int, Int, String)].collect().toSeq.sorted
    assert(stream == batch && batch.count(_._3 > 0) == 2)
  }

  test("PQ encode + ADC score: streaming ingestion matches batch encode") {
    val cb = IndexedSeq(
      IndexedSeq(0.0, 0.0, 10.0, 10.0),
      IndexedSeq(1.0, 1.0, -10.0, -10.0))
    val table = Quantization.adcTable(IndexedSeq(1.0, 0.0, 0.0, 0.0), cb, m = 2)
    val vecs = Seq(
      (1L, Seq(0.1f, 0.0f, -9.0f, -9.0f)),
      (2L, Seq(0.9f, 1.1f, 9.0f, 9.0f)),
      (3L, Seq(0.5f, 0.5f, 10.0f, 10.0f))
    ).toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft_stream_pq").toString
    vecs.write.mode("overwrite").parquet(dir)
    def pipeline(df: DataFrame): DataFrame = df
      .withColumn("codes", Quantization.pqCodes(col("embedding"), cb, 2, 4))
      .withColumn("approx_d", Quantization.adcScore(col("codes"), table))
      .select("vec_id", "codes", "approx_d")
    val batch = pipeline(spark.read.parquet(dir))
      .as[(Long, Seq[Int], Double)].collect().toSeq.sortBy(_._1)
    // ONE continuous query: batch 1 sees the initial files, then a new
    // file lands and must arrive in its OWN micro-batch (true
    // incremental processing, not a from-scratch replay)
    val q = pipeline(spark.readStream.schema(vecs.schema).parquet(dir))
      .writeStream.outputMode("append").format("memory").queryName("pq_stream").start()
    q.processAllAvailable()
    val firstBatch = spark.sql("SELECT * FROM pq_stream")
      .as[(Long, Seq[Int], Double)].collect().toSeq.sortBy(_._1)
    assert(firstBatch == batch && batch.size == 3)
    Seq((4L, Seq(0.0f, 0.0f, 10.0f, 10.0f))).toDF("vec_id", "embedding")
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    val afterAppend = spark.sql("SELECT vec_id, codes FROM pq_stream")
      .as[(Long, Seq[Int])].collect().toSeq
    q.stop()
    // the sink grew by exactly the new row (codeword 0 in both
    // subspaces), and the appended file was processed as an incremental
    // micro-batch of ONE input row — not a replay of all four
    assert(afterAppend.size == 4)
    assert(afterAppend.filter(_._1 == 4L) == Seq((4L, Seq(0, 0))))
    assert(q.recentProgress.exists(_.numInputRows == 1),
      "appended file should arrive as its own 1-row micro-batch")
  }

  test("bloom probe: streaming rows match batch (the daily-crawl filter)") {
    // the incremental-dedup deployment shape: yesterday's bitmap is a
    // BATCH artifact (bounded collect), today's stream probes it as a
    // stateless literal projection — no state store, no join, so the
    // stream twin is exact, not just watermark-eventually
    import graft.operators.Sketches
    val m = 1024
    val seeds = Seq(1, 2, 3)
    val seen = (0 until 50).map(i => s"doc_$i").toDF("k")
    val bitmap = Sketches.bloomBitmap(seen, col("k"), m, seeds)
    val today = ((40 until 60).map(i => i.toLong -> s"doc_$i")).toDF("id", "k")
    val dir = Files.createTempDirectory("graft_stream_bloom").toString
    today.write.mode("overwrite").parquet(dir)
    def pipeline(df: DataFrame): DataFrame =
      df.withColumn("hit", Sketches.bloomMightContain(col("k"), bitmap, m, seeds))
        .select("id", "hit")
    val batch = pipeline(spark.read.parquet(dir))
      .as[(Long, Boolean)].collect().toSeq.sorted
    val stream = streamed(dir, today, pipeline, "bloom_stream")
      .as[(Long, Boolean)].collect().toSeq.sorted
    assert(stream == batch && batch.nonEmpty)
    // the overlap rows (40-49) MUST hit — the guarantee survives streaming
    assert(stream.filter(_._1 < 50).forall(_._2))
  }

  test("seasonal profile gates a live stream: stream-static join parity") {
    import graft.operators.Robust
    // yesterday's history trains the profile (static side) ...
    val history = ((1 to 19).map(i => ("A", i.toLong, 10.0)) :+
      (("A", 20L, 100.0))) ++ (1 to 8).map(i => ("B", 100L + i, 42.0))
    val profile = Robust.seasonalProfile(
      history.toDF("cell", "id", "v"), Seq("cell"), col("v"))
      .localCheckpoint() // static snapshot, as a persisted profile would be
    // ... today's stream is scored against it, one broadcast join per batch
    val today = Seq(("A", 31L, 10.5), ("A", 32L, 99.0), ("B", 33L, 42.0),
      ("C", 34L, 7.0)).toDF("cell", "id", "v")
    val dir = Files.createTempDirectory("graft_stream_seasonal").toString
    today.write.mode("overwrite").parquet(dir)
    def pipeline(df: DataFrame): DataFrame =
      Robust.scoreAgainstProfile(df, profile, Seq("cell"), col("v"))
        .select("cell", "id", "is_anomaly")
    val batch = pipeline(spark.read.parquet(dir))
      .as[(String, Long, Boolean)].collect().toSeq.sorted
    val stream = streamed(dir, today, pipeline, "seasonal_stream")
      .as[(String, Long, Boolean)].collect().toSeq.sorted
    assert(stream == batch && batch.nonEmpty)
    // A's 99 trips yesterday's gate, A's 10.5 doesn't; unseen cell C drops
    assert(stream.find(_._2 == 32L).exists(_._3))
    assert(stream.find(_._2 == 31L).exists(!_._3))
    assert(!stream.exists(_._1 == "C"))
  }
}
