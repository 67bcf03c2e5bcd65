package graft

import graft.operators.Quantization
import org.apache.spark.sql.functions._

/** Hand-solved PQ encode/ADC arithmetic (the q119 oracle checks the
  * data path at scale; this pins the subspace argmin, tie-break, and
  * table-lookup semantics on vectors small enough to verify by hand). */
class QuantizationSpec extends SparkSpec {
  import spark.implicits._

  // dims=4, M=2 subspaces of 2; K=2 codewords
  private val cb = IndexedSeq(
    IndexedSeq(0.0, 0.0, 10.0, 10.0),
    IndexedSeq(1.0, 1.0, -10.0, -10.0))

  test("pqCodes: per-subspace argmin with tie to the smaller code") {
    val df = Seq(
      (1L, Seq(0.1f, 0.0f, -9.0f, -9.0f)), // sub1 -> cw0, sub2 -> cw1
      (2L, Seq(0.9f, 1.1f, 9.0f, 9.0f)),   // sub1 -> cw1, sub2 -> cw0
      (3L, Seq(0.5f, 0.5f, 10.0f, 10.0f))  // sub1 EQUIDISTANT -> cw0
    ).toDF("vec_id", "embedding")
    val out = df.select(col("vec_id"),
        Quantization.pqCodes(col("embedding"), cb, m = 2, dims = 4).as("codes"))
      .orderBy("vec_id").as[(Long, Seq[Int])].collect().toSeq
    assert(out == Seq((1L, Seq(0, 1)), (2L, Seq(1, 0)), (3L, Seq(0, 0))))
  }

  test("adcTable + adcScore: table lookups reproduce codeword distances") {
    val query = IndexedSeq(1.0, 0.0, 0.0, 0.0)
    val table = Quantization.adcTable(query, cb, m = 2)
    // d(q_sub1, cw0_sub1) = 1, d(q_sub1, cw1_sub1) = 0+1 = 1
    // d(q_sub2, cw0_sub2) = 200, d(q_sub2, cw1_sub2) = 200
    assert(table == IndexedSeq(IndexedSeq(1.0, 1.0), IndexedSeq(200.0, 200.0)))
    val df = Seq((1L, Seq(0.1f, 0.0f, -9.0f, -9.0f))).toDF("vec_id", "embedding")
    val out = df.select(
        Quantization.adcScore(
          Quantization.pqCodes(col("embedding"), cb, 2, 4), table).as("a"),
        round(Quantization.exactDist(col("embedding"), query), 6).as("e"))
      .as[(Double, Double)].collect().head
    // codes [0,1]: approx = 1.0 + 200.0; exact = 0.9^2 + 0 + 81 + 81
    assert(out._1 == 201.0)
    assert(math.abs(out._2 - 162.81) < 1e-6)
  }

  test("initCodebook is the k smallest ids in order") {
    val df = Seq((5L, Seq(5f, 5f)), (1L, Seq(1f, 1f)), (3L, Seq(3f, 3f)))
      .toDF("vec_id", "embedding")
    val got = Quantization.initCodebook(df, "vec_id", "embedding", 2)
    assert(got == IndexedSeq(IndexedSeq(1.0, 1.0), IndexedSeq(3.0, 3.0)))
  }

  test("trainCodebook: one Lloyd round, hand-solved per-subspace means") {
    // init = first-2 ids = v1, v2. Subspace 1 assigns {v1,v3}->cw0,
    // {v2,v4}->cw1; subspace 2 the same split. Means: cw0=(.1,.1,9.5,9.5),
    // cw1=(.9,.9,-9.5,-9.5).
    val df = Seq(
      (1L, Seq(0.0f, 0.0f, 10.0f, 10.0f)),
      (2L, Seq(1.0f, 1.0f, -10.0f, -10.0f)),
      (3L, Seq(0.2f, 0.2f, 9.0f, 9.0f)),
      (4L, Seq(0.8f, 0.8f, -9.0f, -9.0f))
    ).toDF("vec_id", "embedding")
    val got = Quantization.trainCodebook(df, "vec_id", "embedding",
      k = 2, m = 2, dims = 4, iters = 1)
    def close(a: IndexedSeq[Double], b: Seq[Double]) =
      a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 }
    assert(close(got(0), Seq(0.1, 0.1, 9.5, 9.5)), s"cw0 was ${got(0)}")
    assert(close(got(1), Seq(0.9, 0.9, -9.5, -9.5)), s"cw1 was ${got(1)}")
  }

  test("trainCodebook: empty (dim, code) cells keep their previous value") {
    // the first two ids are IDENTICAL, so init's two codewords are
    // duplicates — every row's per-subspace argmin ties and the tie
    // breaks to code 0, leaving codeword 1 with ZERO members in every
    // (dim, code) cell from round 1 on. The empty-cell rule must carry
    // its init value through the round; a fallback that zeroed (or
    // dropped) empty cells would return (0,0,0,0) here. One round only:
    // after cw0 trains away to the global mean, a second round would
    // re-assign the (5,5,5,5) rows to cw1 and repopulate its cells.
    val df = Seq(
      (1L, Seq(5.0f, 5.0f, 5.0f, 5.0f)),
      (2L, Seq(5.0f, 5.0f, 5.0f, 5.0f)),
      (3L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (4L, Seq(0.1f, 0.1f, 0.1f, 0.1f))
    ).toDF("vec_id", "embedding")
    val got = Quantization.trainCodebook(df, "vec_id", "embedding",
      k = 2, m = 2, dims = 4, iters = 1)
    // cw1 never wins a row (ties with its duplicate cw0 break to 0):
    // every one of its (dim, code) cells is empty -> init value survives
    assert(got(1) == IndexedSeq(5.0, 5.0, 5.0, 5.0))
    // and cw0 did train: mean of all four rows per dim = 10.1/4
    assert(got(0) == IndexedSeq(2.525, 2.525, 2.525, 2.525))
  }

  test("trained-codebook ADC recall@20 dominates the init codebook") {
    // the r05 verdict's acceptance: training must actually buy recall
    // against the q26 brute-force ground truth. Averaged over 10 spread
    // queries — single-query recall is a coin flip (20 of 500 rows), and
    // the claim under test is the MEAN quantization error dropping
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.where(col("vec_id") % 50 === 7)
      .select(transform(col("embedding"), x => x.cast("double")))
      .collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    assert(queries.size == 10)
    def recall(cb: IndexedSeq[IndexedSeq[Double]]): Double = {
      val per = queries.map { query =>
        val exactTop = e.select(col("vec_id"),
            Quantization.exactDist(col("embedding"), query).as("d"))
          .orderBy(col("d"), col("vec_id")).limit(20)
          .as[(Long, Double)].collect().map(_._1).toSet
        val table = Quantization.adcTable(query, cb, 8)
        val approxTop = e.select(col("vec_id"),
            Quantization.adcScore(
              Quantization.pqCodes(col("embedding"), cb, 8, 64), table).as("a"))
          .orderBy(col("a"), col("vec_id")).limit(20)
          .as[(Long, Double)].collect().map(_._1).toSet
        approxTop.intersect(exactTop).size / 20.0
      }
      per.sum / per.size
    }
    val init = Quantization.initCodebook(e, "vec_id", "embedding", 16)
    val trained = Quantization.trainCodebook(e, "vec_id", "embedding",
      k = 16, m = 8, dims = 64, iters = 2)
    val (rInit, rTrained) = (recall(init), recall(trained))
    info(f"mean recall@20 over 10 queries: init=$rInit%.3f trained=$rTrained%.3f")
    assert(rTrained > rInit,
      f"training did not improve recall: init=$rInit%.3f trained=$rTrained%.3f")
    // the 100 TB path: training on a 50% deterministic hash-sample must
    // still beat init recall and land near full-corpus training — the
    // sample sees the same distribution, so the codebook quality holds
    // (FAISS's sampled-training convention, now demonstrated not asserted)
    val sampled = Quantization.trainCodebookSampled(e, "vec_id", "embedding",
      k = 16, m = 8, dims = 64, iters = 2, pct = 50)
    val rSampled = recall(sampled)
    info(f"mean recall@20 sampled-trained (pct=50): $rSampled%.3f")
    assert(rSampled > rInit,
      f"sampled training did not improve recall: init=$rInit%.3f sampled=$rSampled%.3f")
    assert(rSampled >= rTrained - 0.1,
      f"sampled training fell > 0.1 below full training: full=$rTrained%.3f sampled=$rSampled%.3f")
  }

  test("persisted codes table scores without the vectors (the index shape)") {
    // the 100 TB story: encode once, persist the (id, codes) table, and
    // answer ADC queries from the codes alone — embeddings never rescan
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_index").toString
    val vecs = Seq(
      (1L, Seq(0.1f, 0.0f, -9.0f, -9.0f)),
      (2L, Seq(0.9f, 1.1f, 9.0f, 9.0f)),
      (3L, Seq(0.5f, 0.5f, 10.0f, 10.0f))
    ).toDF("vec_id", "embedding")
    vecs.select(col("vec_id"),
        Quantization.pqCodes(col("embedding"), cb, 2, 4).as("codes"))
      .write.mode("overwrite").parquet(dir)
    val table = Quantization.adcTable(IndexedSeq(1.0, 0.0, 0.0, 0.0), cb, 2)
    val direct = vecs.select(col("vec_id"),
        Quantization.adcScore(
          Quantization.pqCodes(col("embedding"), cb, 2, 4), table).as("a"))
      .as[(Long, Double)].collect().toSeq.sortBy(_._1)
    val fromIndex = spark.read.parquet(dir)
      .select(col("vec_id"), Quantization.adcScore(col("codes"), table).as("a"))
      .as[(Long, Double)].collect().toSeq.sortBy(_._1)
    assert(fromIndex == direct && direct.size == 3)
  }

  test("SQ8: hand-computed codes, endpoint pinning, degenerate dim") {
    // dim1 range [0, 2]: x=1 -> 1*255/2 + 0.5 = 128.0 -> code 128;
    // dim2 range [5, 5]: degenerate -> code 0 everywhere
    val vecs = Seq(
      (1L, Seq(0.0f, 5.0f)), (2L, Seq(2.0f, 5.0f)), (3L, Seq(1.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val params = Quantization.sqTrain(vecs, "embedding", 2)
    assert(params === IndexedSeq((0.0, 2.0), (5.0, 5.0)))
    val got = vecs.select(col("vec_id"),
        Quantization.sqEncode(col("embedding"), params).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(got === Map(1L -> Seq(0, 0), 2L -> Seq(255, 0), 3L -> Seq(128, 0)))
  }

  test("SQ8 reconstruction error is bounded by half a code step") {
    val vecs = Seq(
      (1L, Seq(-0.31f, 0.7f)), (2L, Seq(0.44f, -1.2f)),
      (3L, Seq(0.09f, 0.33f)), (4L, Seq(-0.5f, 2.0f))
    ).toDF("vec_id", "embedding")
    val params = Quantization.sqTrain(vecs, "embedding", 2)
    val errs = vecs.select(posexplode(col("embedding")).as(Seq("p", "xf")))
      .select((col("p") + 1).as("i"), col("xf").cast("double").as("x"))
      .withColumn("lo", element_at(array(params.map(p => lit(p._1)): _*), col("i")))
      .withColumn("hi", element_at(array(params.map(p => lit(p._2)): _*), col("i")))
      .withColumn("code", Quantization.sqCodeExpr(col("x"), col("lo"), col("hi")))
      .select(abs(col("x") -
          Quantization.sqDecodeExpr(col("code"), col("lo"), col("hi"))).as("e"),
        ((col("hi") - col("lo")) / 510.0).as("half_step"))
      .as[(Double, Double)].collect()
    assert(errs.nonEmpty && errs.forall { case (e, h) => e <= h + 1e-12 })
  }
}
