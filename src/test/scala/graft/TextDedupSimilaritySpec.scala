package graft

import graft.functions.Text
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class TextDedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("tokens/tokenCount handle empty and multi-space text") {
    val df = Seq("", "  ", "one  two\tthree").toDF("t")
    val out = df.select(Text.tokenCount(col("t"))).as[Int].collect()
    assert(out.toSeq == Seq(0, 0, 3))
  }

  test("fingerprint is whitespace/case insensitive") {
    val df = Seq(("A  B c", "a b C")).toDF("x", "y")
    val r = df.select((Text.fingerprint(col("x")) === Text.fingerprint(col("y"))).as("eq"))
      .as[Boolean].collect()
    assert(r(0))
  }

  test("langId: argmax with order tie-break, und when no hits") {
    val markers = Seq("m1" -> Seq("aa"), "m2" -> Seq("bb"))
    val df = Seq("aa bb aa", "bb", "zz", "aa bb").toDF("t")
    val out = df.select(Text.langId(col("t"), markers)).as[String].collect()
    assert(out.toSeq == Seq("m1", "m2", "und", "m1")) // tie -> first marker
  }

  test("wordShingles produce n-grams; short text yields empty") {
    val df = Seq("a b c d", "a b").toDF("t")
    val out = df.select(Text.wordShingles(col("t"), 3)).as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d") && out(1).isEmpty)
  }

  test("exact dedup groups identical normalized texts") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").orderBy("keep_id").collect()
    assert(out.length == 2 && out(0).getLong(1) == 1L && out(0).getLong(2) == 2L)
  }

  test("minhash LSH finds the near-dup pair and estimates high jaccard") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, base), (2L, base + " extra"), (3L, (100 to 140).map(i => s"v$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairs(df, "doc_id", "text",
      n = 3, numHashes = 32, numBands = 8, threshold = 0.3).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getDouble(2) > 0.5)
  }

  test("simhash: identical texts collide at hamming 0; disjoint texts don't pair") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(df, "doc_id", "text", maxHamming = 3).collect()
    assert(pairs.length == 1 && pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L
      && pairs(0).getInt(2) == 0)
  }

  test("editVerifiedNearDup: verify kills band collisions; dist matches hand count") {
    // 1 vs 2: "tok7" -> "tok7x" = 1 insertion; the pair band-collides
    //   (chunk 16-bit match at hamming 7, verified offline) -> edit 1.
    // 3 vs 4: whitespace-only difference -> identical normalized text,
    //   hamming 0, edit_dist 0.
    // 1 vs 3/4: unrelated; any band collision must be killed by the verify.
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, base),
      (2L, base.replace("tok7 ", "tok7x ")),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "one two  three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val out = Dedup.editVerifiedNearDup(df, "doc_id", "text",
        maxHamming = 10, prefixLen = 256, maxEdits = 10)
      .orderBy("id1", "id2")
      .select("id1", "id2", "edit_dist").as[(Long, Long, Int)].collect()
    assert(out.toSeq == Seq((1L, 2L, 1), (3L, 4L, 0)))
  }

  test("editVerifiedNearDup: banded threshold DP equals unbounded within bound") {
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, base), (2L, base.replace("tok7", "tok7x")),
      (3L, base), (4L, "wholly different content entirely"))
      .toDF("doc_id", "text")
    val out = Dedup.editVerifiedNearDup(df, "doc_id", "text",
        maxHamming = 64, prefixLen = 128, maxEdits = 5)
      .select("id1", "id2", "edit_dist").as[(Long, Long, Int)].collect()
    // identical pair always survives banding (hamming 0) with dist 0
    assert(out.contains((1L, 3L, 0)))
    // parity: every emitted distance equals the UNBOUNDED levenshtein on
    // the same normalized 128-char prefixes (threshold DP is lossless
    // within its bound)
    val pfx = df.select($"doc_id",
        substring(Text.normalize($"text"), 1, 128).as("p"))
      .as[(Long, String)].collect().toMap
    out.foreach { case (a, b, d) =>
      val full = df.sparkSession.sql(
        s"SELECT levenshtein('${pfx(a)}', '${pfx(b)}')").as[Int].head()
      assert(d == full && d <= 5)
    }
  }

  test("bruteForceTopK: hand-computed cosine ordering") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),   // probe
      (1L, Array(1.0f, 0.1f)),   // cos ~ .995
      (2L, Array(0.0f, 1.0f)),   // cos 0
      (3L, Array(-1.0f, 0.0f))   // cos -1
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(df, df.where(col("vec_id") === 0),
        "vec_id", "embedding", "vec_id", k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L, 3L))
  }

  test("embeddingNearDupPairs: subset of exact brute pairs; planted dups recovered") {
    val rnd = new scala.util.Random(11)
    // 20 base vectors + 5 planted near-identical copies (tiny jitter)
    val base = (0 until 20).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val dups = (0 until 5).map { i =>
      (100L + i, base(i)._2.map(v => v + rnd.nextGaussian().toFloat * 0.01f))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val bucketed = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding",
        threshold = 0.9, planes = 4, dims = 16)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // exact brute reference on this bounded sample
    val a = df.select(col("vec_id").as("id1"), col("embedding").as("e1"))
    val b = df.select(col("vec_id").as("id2"), col("embedding").as("e2"))
    val brute = a.join(b, col("id1") < col("id2"))
      .withColumn("cos", Similarity.cosine(col("e1"), col("e2")))
      .where(col("cos") >= 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(bucketed.subsetOf(brute), "bucketed pairs must be exact-verified")
    // near-identical vectors agree on every hyperplane sign w.h.p.
    val planted = (0 until 5).map(i => (i.toLong, 100L + i)).toSet
    assert((planted intersect bucketed).size >= 4,
      s"planted dups lost by bucketing: ${planted diff bucketed}")
  }

  test("ivfTopK: high recall on clustered vectors when cells match clusters") {
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 8; i <- 0 until 20) yield
      (c * 100L + i, c, centers(c).map(v => v + rnd.nextGaussian().toFloat * 0.05f))
    val df = rows.toDF("vec_id", "cl", "embedding")
    // coarse quantizer = per-cluster means (what q81 builds from labels)
    val cent = df.select(col("cl").as("cell"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cell", "pos").agg(avg(col("v").cast("double")).as("cv"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("a"))
      .select(col("cell"), transform(col("a"), x => x.getField("cv")).as("centroid"))
    val probes = df.where(col("vec_id") % 100 === 0)
    val brute = Similarity.bruteForceTopK(df, probes, "vec_id", "embedding", "vec_id", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(df, probes, "vec_id", "embedding", "vec_id",
        cent, k = 5, nprobe = 2)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"ivf recall $recall too low")
  }

  test("rpTopK: high recall on clustered vectors; exhaustive pool is exact") {
    // JL recall depends on STRUCTURE: for i.i.d.-uniform vectors (the
    // synthetic embeddings table) every cosine is ~0 and no 8-dim
    // projection can rank them — so the recall claim is asserted on
    // clustered data, where near neighbors are genuinely near.
    val rnd = new scala.util.Random(29)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 8; i <- 0 until 20) yield
      (c * 100L + i, centers(c).map(v => v + rnd.nextGaussian().toFloat * 0.05f))
    val df = rows.toDF("vec_id", "embedding")
    val probes = df.where(col("vec_id") % 100 === 0)
    val brute = Similarity.bruteForceTopK(df, probes, "vec_id", "embedding",
        "vec_id", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rp = Similarity.rpTopK(df, probes, "vec_id", "embedding", "vec_id",
        dims = 16, rDims = 8, cand = 30, k = 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect rp).size.toDouble / brute.size
    assert(recall >= 0.9, s"rp recall $recall too low")
    // with the candidate pool covering the whole corpus the rerank is
    // exhaustive — RP must then EQUAL brute force exactly
    val rpAll = Similarity.rpTopK(df, probes, "vec_id", "embedding",
        "vec_id", dims = 16, rDims = 8, cand = 200, k = 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(rpAll == brute, "exhaustive candidate pool must match brute force")
  }

  test("lshTopK achieves decent recall vs brute force on clustered vectors") {
    val rnd = new scala.util.Random(7)
    // 10 clusters of 20 vectors each, 16 dims
    val centers = Array.fill(10)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 10; i <- 0 until 20) yield
      (c * 100L + i, centers(c).map(v => v + rnd.nextGaussian().toFloat * 0.05f))
    val df = rows.toDF("vec_id", "embedding")
    val probes = df.where(col("vec_id") % 100 === 0)
    val brute = Similarity.bruteForceTopK(df, probes, "vec_id", "embedding", "vec_id", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(df, probes, "vec_id", "embedding", "vec_id", 5,
      planes = 4, dims = 16)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect approx).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("multi-probe LSH recall dominates single-probe") {
    val df = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = df.where(col("vec_id") % 100 === 0)
    val brute = Similarity.bruteForceTopK(df, probes, "vec_id", "embedding", "vec_id", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(multi: Boolean): Double = {
      val got = Similarity.lshTopK(df, probes, "vec_id", "embedding", "vec_id", 5,
          planes = 4, dims = 64, multiProbe = multi)
        .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (brute intersect got).size.toDouble / brute.size
    }
    val single = recall(multi = false)
    val multi = recall(multi = true)
    // superset of buckets -> recall can only go up
    assert(multi >= single, s"multi-probe recall $multi < single $single")
    assert(multi >= 0.5, s"multi-probe recall $multi too low")
  }

  test("prefix-filtered jaccard join is LOSSLESS vs full quadratic") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // brute force: one global block = every pair compared
    val brute = Dedup.ngramJaccardPairs(
        docs.withColumn("__all", lit(1)), "doc_id", "text", "__all",
        n = 5, threshold = 0.5)
      .select("id1", "id2", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val prefix = Dedup.prefixJaccardJoin(docs, "doc_id", "text",
        n = 5, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(prefix == brute,
      s"prefix filter lost pairs: missing ${brute -- prefix}, extra ${prefix -- brute}")
    assert(brute.nonEmpty, "fixture must contain near-dup pairs")
  }

  test("tfidfCosinePairs: hand-computed weighted cosine on bigram terms") {
    // docs 1/2 share the rare bigram "quick fox"; doc 3 shares nothing
    // rare with them. n=2 shingles, every df <= dfMax.
    val docs = Seq(
      (1L, "quick fox jumps"),
      (2L, "quick fox sleeps"),
      (3L, "lazy dog sleeps")).toDF("doc_id", "text")
    val got = Dedup.tfidfCosinePairs(docs, "doc_id", "text", n = 2, dfMax = 10)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // hand math: N=3; shared "quick fox" df=2 -> idf = ln(4/3)+1; the
    // other bigrams df=1 -> idf = ln(2)+1; every tf=1, each doc has 2
    // bigrams, so cos(1,2) = w_shared^2 / (w_shared^2 + w_rare^2)
    val r9 = (x: Double) => BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val wS = r9(math.log(4.0 / 3) + 1)
    val wR = r9(math.log(2.0) + 1)
    val expected = (wS * wS) / (wS * wS + wR * wR)
    assert(got.contains((1L, 2L)), s"missing shared-term pair: $got")
    assert(math.abs(got((1L, 2L)) - expected) < 1e-12,
      s"cos(1,2)=${got((1L, 2L))} expected $expected")
    // doc 3 shares no term with doc 1 at all -> not even a candidate
    assert(!got.contains((1L, 3L)))
  }

  test("containmentJoin: LOSSLESS vs brute force; finds the quote Jaccard misses") {
    import spark.implicits._
    val quoted = (1 to 12).map(i => s"q$i").mkString(" ")
    val docs = Seq(
      (1L, quoted),                                            // the quote
      (2L, ((1 to 80).map(i => s"w$i") :+ quoted).mkString(" ")), // quotes doc 1
      (3L, (1 to 40).map(i => s"z$i").mkString(" "))           // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.containmentJoin(docs, "doc_id", "text", n = 5,
        threshold = 0.6)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // doc 1's full shingle set sits inside doc 2: directed hit (1 -> 2)
    assert(got(1L -> 2L) == 1.0)
    // the reverse direction fails the threshold (2 is much bigger) ...
    assert(!got.contains(2L -> 1L))
    // ... and so would symmetric Jaccard at any useful threshold
    val jac = Dedup.prefixJaccardJoin(docs, "doc_id", "text", n = 5,
        threshold = 0.6)
      .as[(Long, Long, Double)].collect()
    assert(!jac.exists(r => Set(r._1, r._2) == Set(1L, 2L)))
    // losslessness: brute-force directed containment over all pairs
    val brute = for {
      a <- Seq(1L, 2L, 3L); b <- Seq(1L, 2L, 3L) if a != b
      ta = docs.where(col("doc_id") === a).head.getString(1).split(" ").sliding(5).map(_.mkString(" ")).toSet
      tb = docs.where(col("doc_id") === b).head.getString(1).split(" ").sliding(5).map(_.mkString(" ")).toSet
      c = ta.intersect(tb).size.toDouble / ta.size if c >= 0.6
    } yield (a, b)
    assert(got.keySet == brute.toSet)
  }

  test("rrfFuse: hand-computed fusion; union semantics; absent list contributes 0") {
    import spark.implicits._
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val b = Seq((20L, 1), (10L, 2), (40L, 3)).toDF("id", "rank")
    val got = Similarity.rrfFuse(Seq(a, b), "id", kRrf = 60)
      .as[(Long, Double)].collect().toMap
    def r(i: Int) = 1.0 / (60 + i)
    assert(got.keySet == Set(10L, 20L, 30L, 40L))
    assert(math.abs(got(10L) - math.rint((r(1) + r(2)) * 1e9) / 1e9) < 1e-12)
    assert(math.abs(got(20L) - math.rint((r(2) + r(1)) * 1e9) / 1e9) < 1e-12)
    assert(math.abs(got(30L) - math.rint(r(3) * 1e9) / 1e9) < 1e-12)
    assert(math.abs(got(40L) - math.rint(r(3) * 1e9) / 1e9) < 1e-12)
    // items in both lists dominate items in one (the hybrid property)
    assert(got(10L) > got(30L) && got(20L) > got(40L))
  }

  test("mmrSelect: diversity beats pure relevance on a planted near-dup") {
    // probe (1,0,0); d1/d2 nearly identical high-relevance pair, d3
    // diverse and slightly less relevant. Relevance order is d1,d2,d3
    // but MMR at 0.7/0.3 must pick d3 second: hand-solved
    //   d2: .7*rel(d2) - .3*sim(d2,d1) ~ .7*.949 - .3*1    = .364
    //   d3: .7*rel(d3) - .3*sim(d3,d1) ~ .7*.9   - .3*.719 = .414
    val emb = Seq(
      (100L, Seq(1f, 0f, 0f)),
      (1L, Seq(0.95f, 0.31225f, 0f)),
      (2L, Seq(0.9499f, 0.31257f, 0f)),
      (3L, Seq(0.9f, -0.43589f, 0f))).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.mmrSelect(
        emb, emb.where(col("vec_id") === 100), "vec_id", "embedding",
        "vec_id", candK = 3, selectK = 3,
        relWeight = 0.7, divWeight = 0.3)
      .orderBy(col("pick")).collect()
      .map(r => (r.getInt(2), r.getLong(1)))
    assert(out.map(_._2).toSeq == Seq(1L, 3L, 2L),
      s"picks were ${out.toSeq}; rel-only order is 1,2,3")
    // score spot-check on the second pick
    val row = graft.operators.Similarity.mmrSelect(
        emb, emb.where(col("vec_id") === 100), "vec_id", "embedding",
        "vec_id", candK = 3, selectK = 2,
        relWeight = 0.7, divWeight = 0.3)
      .where(col("pick") === 2).head()
    assert(row.getLong(1) == 3L)
    assert(math.abs(row.getDouble(5) -
      (0.7 * row.getDouble(3) - 0.3 * row.getDouble(4))) < 5e-7)
  }

  test("mmrSelect: selectK=1 is the relevance top-1; ids break ties") {
    val emb = Seq(
      (9L, Seq(1f, 0f)), (5L, Seq(2f, 0f)), (6L, Seq(3f, 0f)))
      .toDF("vec_id", "embedding")
    // all candidates are cosine-identical to the probe: tie -> min id
    val out = graft.operators.Similarity.mmrSelect(
        emb, emb.where(col("vec_id") === 9), "vec_id", "embedding",
        "vec_id", candK = 2, selectK = 2,
        relWeight = 0.7, divWeight = 0.3).orderBy(col("pick")).collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(5L, 6L))
    assert(out.head.isNullAt(4) && out.head.isNullAt(5),
      "pick 1 carries null max_sim/mmr")
  }
}
