package graft

import graft.operators.{TimeSeries, Windows}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5 item 3) using raw ScalaCheck
  * generators with fixed seeds (the scalatest bridge artifact is not in
  * the offline cache). Spark jobs per case are expensive — each property
  * runs a handful of generated cases, enough to sweep sign/zero/duplicate
  * edge cases the unit fixtures miss.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def forAll[A](g: Gen[A], n: Int = 5)(f: A => Unit): Unit =
    (1 to n).foreach { i =>
      g.apply(Gen.Parameters.default.withSize(12), Seed(42L + i))
        .foreach(f)
    }

  private val posRows = Gen.nonEmptyListOf(for {
    g <- Gen.oneOf("a", "b")
    w <- Gen.choose(0.1, 10.0)
    t <- Gen.choose(0.1, 100.0)
  } yield (g, w, t))

  test("W8 invariant: sum(w'*t) == sum(t) per group for any positive weights") {
    forAll(posRows) { rows =>
      val df = rows.toDF("g", "w", "t")
      val out = Windows.scaleWeightsToTotals(df, Seq("g"), "w", "t")
        .groupBy("g").agg(sum(col("weight_scaled") * col("t")).as("wt"), sum("t").as("rt"))
        .as[(String, Double, Double)].collect()
      out.foreach { case (_, wt, rt) => assert(math.abs(wt - rt) < 1e-6 * math.max(1, rt)) }
    }
  }

  test("W6: final running sum equals the group total") {
    forAll(posRows) { rows =>
      val df = rows.zipWithIndex.map { case ((g, _, t), i) => (g, i, t) }.toDF("g", "i", "t")
      val out = Windows.runningSum(df, Seq("g"), Seq("i"), col("t"), "cum")
        .groupBy("g").agg(max("cum").as("last"), sum("t").as("tot"))
        .as[(String, Double, Double)].collect()
      out.foreach { case (_, l, t) => assert(math.abs(l - t) < 1e-9 * math.max(1, t)) }
    }
  }

  test("headway is nonnegative and null exactly once per partition") {
    val tsGen = Gen.nonEmptyListOf(Gen.choose(0L, 1000000L))
    forAll(tsGen) { offsets =>
      val df = offsets.distinct.zipWithIndex.map { case (o, i) =>
        ("k", new java.sql.Timestamp(1700000000000L + o * 1000), i.toLong)
      }.toDF("k", "t", "id")
      val out = Windows.headwayMinutes(df, Seq("k"), "t", Seq("id"))
        .select("headway_min").collect()
      assert(out.count(_.isNullAt(0)) == 1)
      assert(out.filter(!_.isNullAt(0)).forall(_.getDouble(0) >= 0))
    }
  }

  test("dedup is idempotent") {
    forAll(posRows) { rows =>
      val df = rows.toDF("g", "w", "t")
      val once = df.dropDuplicates(Seq("g", "w", "t"))
      assert(once.count() == once.dropDuplicates(Seq("g", "w", "t")).count())
    }
  }

  test("interpolation is exact at anchors and bounded by them between") {
    val anchors = Gen.nonEmptyListOf(for {
      i <- Gen.choose(0, 20); v <- Gen.choose(-50.0, 50.0)
    } yield (i, v)).map(_.toMap.toSeq)
    forAll(anchors) { as =>
      val known = as.toMap
      val df = (0 to 21).map(i => ("k", i, known.get(i))).toDF("k", "i", "v")
      val out = TimeSeries.interpolateLinear(df, Seq("k"), "i", "v", "vi")
        .select("i", "vi").as[(Int, Option[Double])].collect().toMap
      known.foreach { case (i, v) => assert(math.abs(out(i).get - v) < 1e-9) }
      val (lo, hi) = (known.values.min, known.values.max)
      out.values.flatten.foreach(v => assert(v >= lo - 1e-9 && v <= hi + 1e-9))
    }
  }

  /** Random GPS traces for the W5 parity property: integer-second gaps
    * and integer positions keep every comparison away from FP noise. */
  private val taxiTrace = Gen.nonEmptyListOf(for {
    dtSec <- Gen.oneOf(5, 10, 60, 200, 400) // spans the gap threshold
    dx <- Gen.oneOf(0, 3, 500, 2000, 9000)  // spans speed + jump thresholds
    metered <- Gen.oneOf(true, false)
  } yield (dtSec, dx, metered))

  test("W5 parity: windowed segmentation == the sequential reference fold") {
    forAll(taxiTrace, n = 8) { steps =>
      // build the trace: cumulative times/positions from the deltas
      var t = 0L; var x = 0.0
      val pts = steps.zipWithIndex.map { case ((dt, dx, m), i) =>
        if (i > 0) { t += dt; x += dx }
        (i.toLong, t, x, if (m) "M" else "E")
      }
      // the reference's three passes, literally (TaxiDataHelper.py:203-309)
      val n = pts.length
      val feet = Array.tabulate(n)(i => if (i == 0) 0.0 else pts(i)._3 - pts(i - 1)._3)
      val secs = Array.tabulate(n)(i => if (i == 0) 0.0 else (pts(i)._2 - pts(i - 1)._2).toDouble)
      val speed = Array.tabulate(n)(i =>
        if (i == 0 || secs(i) == 0) Double.MaxValue else feet(i) / secs(i) * 0.681818)
      val fst = new Array[Double](n)
      var acc = 0.0
      for (i <- 1 until n) {
        if (speed(i) < 1.0) acc += secs(i) else acc = 0.0
        fst(i) = acc
      }
      val bst = new Array[Double](n)
      acc = 0.0
      for (i <- (0 until n - 1).reverse) {
        if (speed(i + 1) < 1.0) acc += secs(i + 1) else acc = 0.0
        bst(i) = acc
      }
      val trip = new Array[Long](n)
      var id = 1L
      for (i <- 0 until n) {
        if (i > 0 && (pts(i)._4 != pts(i - 1)._4 || secs(i) > 300.0 ||
            feet(i) > 7500.0 || fst(i) > 180.0 ||
            (bst(i) > 180.0 && fst(i) > 0))) id += 1
        trip(i) = id
      }
      // the windowed operator on the same trace
      val df = pts.toDF("pt", "t", "x", "status")
        .withColumn("ts", to_timestamp(col("t")))
        .withColumn("y", lit(0.0))
      val got = graft.pipelines.Taxi.segmentPoints(
          df, Seq.empty, "ts", "pt", "x", "y", "status")
        .orderBy("pt")
        .select("trip_id", "fwd_stationary", "bwd_stationary")
        .as[(Long, Double, Double)].collect()
      assert(got.map(_._1).toSeq == trip.toSeq,
        s"trip ids diverge\nseq:    ${trip.toSeq}\nwindow: ${got.map(_._1).toSeq}")
      (0 until n).foreach { i =>
        assert(math.abs(got(i)._2 - fst(i)) < 1e-9 && math.abs(got(i)._3 - bst(i)) < 1e-9,
          s"stationary times diverge at $i: got ${got(i)}, want (${fst(i)}, ${bst(i)})")
      }
    }
  }

  private val docGen = Gen.nonEmptyListOf(for {
    id <- Gen.choose(0L, 50L)
    words <- Gen.listOf(Gen.oneOf("table", "stream", "key", "scan", "misc",
      "alpha", "beta"))
  } yield (id, words.mkString(" "))).map(_.distinctBy(_._1))

  test("curation invariants: histogram shares, split partition, span ratios") {
    forAll(docGen, n = 3) { docs =>
      val df = docs.toDF("doc_id", "text")
      // lengthHistogram: shares in (0,1], cumulative monotone ending at 1
      val h = graft.operators.Curation.lengthHistogram(df, "text")
        .orderBy("bucket")
        .as[(Int, Long, Long, Double, Double)].collect()
      if (h.nonEmpty) {
        assert(h.last._5 == 1.0)
        assert(h.map(_._5).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
        assert(h.forall(r => r._4 > 0 && r._4 <= 1.0))
      }
      // hashSplit: a PARTITION of the rows (every doc in exactly one split)
      val s = df.withColumn("s",
          graft.operators.Curation.hashSplit(col("doc_id")))
        .groupBy("s").count().as[(String, Long)].collect()
      assert(s.map(_._2).sum == docs.length)
      // spanDedup: ratio in [0,1], dup_spans <= n_spans; mutual: a doc with
      // dup_spans > 0 implies at least one OTHER doc also has dup_spans > 0
      val spans = graft.operators.Corpus.spanDedup(df, "doc_id", "text", 3)
        .as[(Long, Long, Long, Double)].collect()
      spans.foreach { case (_, n, d, r) =>
        assert(d <= n && r >= 0.0 && r <= 1.0)
      }
      val withDups = spans.count(_._3 > 0)
      assert(withDups != 1, "cross-doc duplication cannot involve one doc")
    }
  }

  test("bm25: every matched doc scores positive; unmatched docs are absent") {
    forAll(docGen, n = 3) { docs =>
      val df = docs.toDF("doc_id", "text")
      val out = graft.operators.Curation.bm25(df, "doc_id", "text",
          Seq("table", "stream"))
        .as[(Long, Long, Double)].collect()
      val matched = docs.filter(d => d._2.split(" ")
        .exists(Set("table", "stream"))).map(_._1).toSet
      assert(out.map(_._1).toSet == matched)
      out.foreach { case (_, terms, score) =>
        assert(terms >= 1 && score > 0.0,
          "idf = ln(1 + x) with x > 0 is positive, so every match scores > 0")
      }
    }
  }

  test("zipperPack invariants: token conservation, pair counts, both strategies") {
    val lensGen = Gen.nonEmptyListOf(Gen.choose(1, 200))
    forAll(lensGen, n = 4) { lens =>
      val df = lens.zipWithIndex.map { case (l, i) => (i.toLong, l) }
        .toDF("doc_id", "n_tokens")
      Seq(true, false).foreach { zip =>
        val pairs = graft.operators.Packing
          .zipperPack(df, "doc_id", "n_tokens", shards = 3, capacity = 128,
            zipper = zip)
          .select("shard", "n_docs", "pair_tokens", "padding", "overflow")
          .as[(Long, Long, Long, Long, Long)].collect()
        // every document lands in exactly one pair; tokens conserved
        assert(pairs.map(_._2).sum == lens.length)
        assert(pairs.map(_._3).sum == lens.map(_.toLong).sum)
        // per shard: ceil(n_s / 2) pairs, each of 1 or 2 docs
        pairs.groupBy(_._1).foreach { case (_, ps) =>
          val nDocs = ps.map(_._2).sum
          assert(ps.length == (nDocs + 1) / 2)
          assert(ps.forall(p => p._2 == 1 || p._2 == 2))
        }
        // padding and overflow are mutually exclusive per pair
        assert(pairs.forall(p => p._4 == 0 || p._5 == 0))
      }
    }
  }

  test("PQ invariant: ADC of a codeword vector equals its exact distance") {
    import graft.operators.Quantization
    // multiples of 1/128: exactly representable in Float, so the float
    // embedding column and the double codebook hold identical values and
    // the only approx-vs-exact gap is the 4 per-subspace 6-dp roundings
    val vecsGen = Gen.listOfN(6,
      Gen.listOfN(8, Gen.choose(-640, 640).map(_ / 128.0)))
    forAll(vecsGen, n = 4) { raw =>
      val vecs = raw.distinct
      if (vecs.length >= 3) {
        val cb = vecs.take(2).map(_.toIndexedSeq).toIndexedSeq
        val query = vecs.last.toIndexedSeq
        val table = Quantization.adcTable(query, cb, m = 4)
        val df = cb.zipWithIndex
          .map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
          .toDF("vec_id", "embedding")
        val out = df.select(col("vec_id"),
            Quantization.adcScore(
              Quantization.pqCodes(col("embedding"), cb, 4, 8), table).as("a"),
            Quantization.exactDist(col("embedding"), query).as("e"))
          .as[(Long, Double, Double)].collect()
        // a vector that IS codeword j encodes to j in every subspace, so
        // its ADC distance is the subspace decomposition of the exact
        // squared L2 — equal up to the 4 x 0.5e-6 per-subspace roundings
        out.foreach { case (_, a, e) =>
          assert(a >= 0.0 && math.abs(a - e) <= 4 * 5e-7 + 1e-9,
            s"ADC $a vs exact $e")
        }
      }
    }
  }

  test("bloom: inserted keys always hit; cms: estimates never undercount") {
    import graft.operators.Sketches
    val keysGen = Gen.nonEmptyListOf(Gen.oneOf(
      Gen.alphaStr.map("k" + _), Gen.choose(0, 30).map(i => s"dup_$i")))
    forAll(keysGen, n = 3) { keys =>
      val df = keys.toDF("k")
      val m = 256
      val seeds = Seq(5, 6, 7)
      val bm = Sketches.bloomBitmap(df, col("k"), m, seeds)
      val misses = df
        .where(!Sketches.bloomMightContain(col("k"), bm, m, seeds)).count()
      assert(misses == 0L, s"bloom false negative on ${keys.size} keys")
      val cms = Sketches.cmsTable(df, col("k"), 32, seeds)
      val under = df.groupBy("k").agg(count(lit(1)).as("n"))
        .where(Sketches.cmsEstimate(col("k"), cms, 32, seeds) < col("n"))
        .count()
      assert(under == 0L, s"cms undercounted on ${keys.size} keys")
    }
  }

  private val valRows = Gen.nonEmptyListOf(for {
    id <- Gen.choose(1L, 500L)
    v <- Gen.choose(-100.0, 100.0)
  } yield (id, v))

  test("bottom-k sample: subset of the data, size min(k, n_distinct_ids)") {
    import graft.operators.Sketches
    forAll(valRows) { rows =>
      val df = rows.toDF("id", "v").dropDuplicates("id")
      val n = df.count()
      val sample = Sketches.bottomKSample(df, col("id"), col("v"), 16, 3)
        .as[(Double, Long)].collect()
      assert(sample.length == math.min(16L, n))
      val vs = df.select(col("v")).as[Double].collect().toSet
      assert(sample.map(_._1).forall(vs.contains), "sample row not in data")
    }
  }

  test("markov transitions: outgoing probabilities sum to 1 per source") {
    import graft.operators.Funnel
    val evGen = Gen.nonEmptyListOf(for {
      u <- Gen.choose(1L, 5L)
      t <- Gen.choose(0L, 1000000L)
      e <- Gen.oneOf("a", "b", "c")
    } yield (u, new java.sql.Timestamp(t), e))
    forAll(evGen) { rows =>
      val df = rows.zipWithIndex
        .map { case ((u, t, e), i) => (u, t, e, i.toLong) }
        .toDF("user_id", "ts", "event_type", "event_id")
      val out = Funnel.markovTransitions(df, "user_id", "ts", "event_type",
          "event_id")
        .groupBy("src_type").agg(sum("p").as("tot"))
        .as[(String, Double)].collect()
      out.foreach { case (s, tot) =>
        assert(math.abs(tot - 1.0) < 1e-9, s"src $s sums to $tot") }
    }
  }

  test("funnel levels partition the step-1 population; monotone reach") {
    import graft.operators.Funnel
    val evGen = Gen.nonEmptyListOf(for {
      u <- Gen.choose(1L, 8L)
      t <- Gen.choose(0L, 100000000L)
      e <- Gen.oneOf("view", "click", "purchase")
    } yield (u, new java.sql.Timestamp(t), e))
    forAll(evGen) { rows =>
      val df = rows.toDF("user_id", "ts", "event_type")
      val lv = Funnel.windowFunnel(df, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), "INTERVAL 7 DAY")
        .as[(Long, Int)].collect()
      val withView = rows.filter(_._3 == "view").map(_._1).distinct.size
      assert(lv.length == withView, "one level per step-1 entity")
      assert(lv.forall(r => r._2 >= 1 && r._2 <= 3))
      // reach at level >= k is non-increasing in k
      val reach = (1 to 3).map(k => lv.count(_._2 >= k))
      assert(reach == reach.sorted.reverse, s"reach not monotone: $reach")
    }
  }

  test("profiler: nonnull + null = rows, distinct <= nonnull, min <= max") {
    import graft.operators.Profiler
    forAll(valRows) { rows =>
      val df = rows.toDF("id", "v")
      val n = df.count()
      val p = Profiler.profile(df, Seq("id", "v")).collect()
      p.foreach { r =>
        assert(r.getLong(1) + r.getLong(2) == n)
        assert(r.getLong(3) <= r.getLong(1))
        if (!r.isNullAt(4)) assert(r.getDouble(4) <= r.getDouble(5))
      }
    }
  }

  test("mad outliers: count bounded by n; clean constant data has zero") {
    import graft.operators.Robust
    forAll(valRows) { rows =>
      val df = rows.toDF("g", "v").withColumn("g", lit("x"))
      val r = Robust.madStats(df, Seq("g"), col("v"))
        .as[(String, Double, Double, Long, Long)].collect().head
      assert(r._5 <= r._4, "outliers exceed row count")
    }
    val const = (1 to 30).map(i => ("g", 5.0)).toDF("g", "v")
    val rc = Robust.madStats(const, Seq("g"), col("v"))
      .as[(String, Double, Double, Long, Long)].collect().head
    assert(rc._5 == 0L && rc._3 == 0.0)
  }

  private val seriesRows = Gen.nonEmptyListOf(for {
    k <- Gen.oneOf("p", "q")
    v <- Gen.choose(-50.0, 50.0)
  } yield (k, v))

  test("ewma stays within each series' [min, max] envelope (convexity)") {
    forAll(seriesRows) { rows =>
      val df = rows.zipWithIndex.map { case ((k, v), i) => (k, i, v) }
        .toDF("k", "t", "v")
      val out = TimeSeries.ewma(df, Seq("k"), "t", col("v"), alpha = 0.4)
        .groupBy("k").agg(min("ewma").as("elo"), max("ewma").as("ehi"),
          min("value").as("vlo"), max("value").as("vhi"))
        .as[(String, Double, Double, Double, Double)].collect()
      out.foreach { case (k, elo, ehi, vlo, vhi) =>
        assert(elo >= vlo - 1e-6 && ehi <= vhi + 1e-6,
          s"$k: ewma [$elo,$ehi] escapes value envelope [$vlo,$vhi]")
      }
    }
  }

  test("timeWeightedAverage lies within the interval values' [min, max]") {
    import graft.operators.Windows
    val twaRows = Gen.nonEmptyListOf(for {
      u <- Gen.oneOf(1L, 2L)
      s <- Gen.choose(0, 3600)
      v <- Gen.choose(-10.0, 10.0)
    } yield (u, s, v)).map(_.distinctBy(r => (r._1, r._2)))
      .suchThat(_.nonEmpty)
    forAll(twaRows) { rows =>
      val df = rows.zipWithIndex.map { case ((u, s, v), i) =>
        (u, java.sql.Timestamp.valueOf(
          s"2024-01-01 ${"%02d".format(s / 3600)}:${"%02d".format(s / 60 % 60)}:${"%02d".format(s % 60)}"),
          i.toLong, v)
      }.toDF("user_id", "ts", "event_id", "v")
      // envelope over the values that actually carry an interval (all
      // but each user's last reading)
      val got = Windows.timeWeightedAverage(df, Seq("user_id"), col("ts"),
          col("event_id"), col("v"))
        .as[(Long, Long, Double, Double)].collect()
      got.foreach { case (u, _, _, twa) =>
        val vs = rows.filter(_._1 == u).sortBy(_._2).dropRight(1).map(_._3)
        if (vs.nonEmpty)
          assert(twa >= vs.min - 1e-6 && twa <= vs.max + 1e-6,
            s"user $u: twa $twa outside [${vs.min}, ${vs.max}]")
      }
    }
  }

  test("duplicateSpans: dup budget never exceeds the doc; symmetric docs agree") {
    import graft.operators.Corpus
    val wordGen = Gen.listOfN(30, Gen.oneOf(
      "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"))
    forAll(Gen.zip(wordGen, wordGen), n = 3) { case (w1, w2) =>
      val docs = Seq((1L, w1.mkString(" ")), (2L, w2.mkString(" ")),
        (3L, (w1 ++ w2).mkString(" "))).toDF("doc_id", "text")
      val out = Corpus.duplicateSpans(docs, "doc_id", "text", k = 8)
        .as[(Long, Long, Long, Long, Double)].collect()
      out.foreach { case (id, nSpans, dupToks, nToks, ratio) =>
        assert(dupToks <= nToks, s"doc $id: dup $dupToks > total $nToks")
        assert(nSpans >= 1 && ratio >= 0.0 && ratio <= 1.0)
      }
      // doc 3 contains both docs verbatim: any doc with >= 8 tokens
      // shares its full run with doc 3, so it must appear in the output
      val ids = out.map(_._1).toSet
      assert(ids.contains(3L) && ids.contains(1L) && ids.contains(2L))
    }
  }
}
