package graft

/** Benchmark main: runs every catalog query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Each query is forced
  * through the `noop` sink — a bare count() would let Catalyst prune the
  * expensive projections and fake the numbers.
  *
  * Round-9 layout (r08 verdict items 1/7): the whole catalog runs
  * TWICE — pass 1 (cold: file listing, codegen, page cache all billed
  * to it) and pass 2, whose numbers are the headline — so no query's
  * grade rides whichever VM hiccup hit its single cold shot. The
  * steady-state net re-runs (top-10 ∪ >5 s ∪ ≥3× prior round ∪ an
  * explicit watchlist) three more times with per-iteration GC, spill,
  * task-run and scheduler-delay attribution, so an outlier sample is
  * attributable from the artifact alone: flat run_ms with inflated
  * wall = external contention; spiking gc/spill = the query's own
  * memory story; spiking sched_ms = executor starvation.
  *
  * The stdout line must fit the driver's 2000-char tail window or its
  * opening brace gets clipped and the whole run parses as null — which
  * is exactly what happened to BENCH_r08.json once the catalog hit 231
  * queries. The line therefore carries summary fields plus only the
  * TOP-60 queries by pass-2 time; the full per-query maps, steady
  * arrays and sf1 probes live in BENCH_DETAIL.json alongside.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // task-level telemetry: per-iteration GC time, shuffle/agg spill,
    // summed executor run time and approximate scheduler delay
    // (duration − run − deserialize − result-serialize, floored at 0 —
    // the Spark UI's definition minus the rare getting-result term).
    // The listener bus is async; `drain()` flushes it before each
    // counter snapshot (bytecode-public waitUntilEmpty via reflection —
    // best-effort, a timeout just blurs one sample's attribution).
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val spillBytes = new java.util.concurrent.atomic.AtomicLong
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val schedMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          val info = t.taskInfo
          if (m != null) {
            gcMs.addAndGet(m.jvmGCTime): Unit
            spillBytes.addAndGet(
              m.memoryBytesSpilled + m.diskBytesSpilled): Unit
            runMs.addAndGet(m.executorRunTime): Unit
            if (info != null)
              schedMs.addAndGet(math.max(0L,
                info.duration - m.executorRunTime -
                  m.executorDeserializeTime - m.resultSerializationTime)): Unit
          }
        }
      })
    def drain(): Unit = try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
    } catch { case _: Throwable => () }
    // session warmup: JVM/codegen init and cold file-listing/footer reads
    // shouldn't be billed to whichever query happens to run first
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try {
        val df = if (t == "events") Tables.events(spark, sfDir)
          else Tables.table(spark, sfDir, t)
        df.count()
      } catch { case _: Throwable => () }
    }

    // prior-round per-query seconds, parsed from the committed
    // BENCH_DETAIL.json BEFORE this run overwrites it — the ≥3×
    // regression trigger for the steady-state net below. Parse is
    // BOUNDED to the "queries" object: the detail file also carries a
    // cold map and steady arrays whose keys would otherwise pollute the
    // baseline.
    val prior: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_DETAIL.json")), "UTF-8")
        val start = txt.indexOf("\"queries\":{")
        val end = if (start < 0) -1 else txt.indexOf("}", start)
        val qtxt = if (start < 0 || end < 0) "" else txt.substring(start, end)
        val all = "\"(q[0-9]+_[a-z0-9_]+)\":([0-9.]+)".r.findAllMatchIn(qtxt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        // a failed query's recorded time is time-to-exception, not a
        // runtime — using it as the 3x baseline would trip the trigger
        // on every healthy successor run
        val priorFailed = "\"failed\":\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
          .map(_.group(1)).getOrElse("")
          .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSet
        all.view.filterKeys(k => !priorFailed.contains(k)).toMap
      } catch { case _: Throwable => Map.empty }

    // local-iteration subset filter (comma-separated name substrings);
    // the driver never sets it, so its runs always cover the catalog.
    // empty substrings dropped and a set-but-empty var treated as unset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).filter(_.nonEmpty)
    val catalog = Queries.all
      .filter(q => only.forall(_.exists(q.name.contains)))
    // failures must be LOUD in the summary: round 4's bench swallowed a
    // q46 exception into stderr and the JSON still read as a clean run
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // every caught exception, keyed (pass tag, query) — persisted in the
    // detail JSON so a stack trace in stderr with failed:[] is
    // explainable from the artifact alone (r09 verdict item 8: the 32c
    // run's unattributed runPass trace)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    case class It(t: Double, gc: Long, spill: Double, run: Long, sched: Long)
    def timeOne(q: Q, tag: String): It = {
      drain()
      val (g0, s0, r0, d0) = (gcMs.get, spillBytes.get, runMs.get, schedMs.get)
      val t0 = System.nanoTime()
      try q.run(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        if (!failed.contains(q.name)) failed += q.name
        errors(s"$tag:${q.name}") =
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
            .take(300)
        System.err.println(s"[bench] $tag ${q.name} FAILED:")
        e.printStackTrace()
      }
      val dt = (System.nanoTime() - t0) / 1e9
      drain()
      It(dt, gcMs.get - g0, (spillBytes.get - s0) / 1048576.0,
        runMs.get - r0, schedMs.get - d0)
    }

    def runPass(tag: String, skip: Set[String]): Seq[(String, Double)] =
      catalog.filterNot(q => skip.contains(q.name)).map { q =>
        val it = timeOne(q, tag)
        // drop CacheManager entries a query left behind (measured: q67 at
        // 19s in the full run vs 1.8s standalone) so each query is billed
        // its own cost — the clear itself is outside the timed window.
        // It does NOT free `localCheckpoint` blocks; the iterative
        // operators release their own through `Fixpoint`.
        spark.catalog.clearCache()
        q.name -> it.t
      }

    // pass 1 absorbs every cold cost; pass 2 is the headline. A query
    // that failed in pass 1 is not re-run (its time-to-exception is not
    // a runtime) — it stays in `failed` and out of every aggregate.
    val pass1 = runPass("pass1", Set.empty)
    val pass2 = runPass("pass2", failed.toSet)
    val p1 = pass1.toMap
    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val completed = pass2.filterNot { case (k, _) => failed.contains(k) }
    val total = completed.map(_._2).sum
    val totalCold = pass1.filterNot { case (k, _) => failed.contains(k) }
      .map(_._2).sum
    // n_queries/mean give cross-round comparability: the catalog grows
    // every round, so raw total seconds alone would read as a regression
    val mean = if (completed.nonEmpty) total / completed.size else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")

    // steady-state net (r08 verdict item 1 — the widened triggers):
    // top-10 by pass-2 time, PLUS anything over 5 s warm, PLUS anything
    // at ≥3× its prior-round time on EITHER pass (a cold-only spike is
    // exactly the q71 shape that shipped unadjudicated in r08), PLUS an
    // explicit watchlist for this round's named outliers.
    val watchlist = sys.env.getOrElse("SPARK_GRAFT_STEADY_EXTRA",
      "q71_gtfs_daily,q69_map_matching,q70_link_tt_stats,q86_dedup_sweep")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val hot = (completed.sortBy(-_._2).take(10).map(_._1) ++
      completed.collect { case (k, v)
        if v > 5.0 || prior.get(k).exists(p => v > 3 * p) ||
          prior.get(k).exists(p => p1.getOrElse(k, 0.0) > 3 * p) => k } ++
      watchlist.filter(w => completed.exists(_._1 == w))).toSet
    val steadyFailed = scala.collection.mutable.ArrayBuffer.empty[String]
    val steadyTimes = scala.collection.mutable.Map.empty[String, Seq[Double]]
    def itsJson(ss: Seq[It], extra: String = ""): String =
      "{\"t\":[" + ss.map(s => r3(s.t)).mkString(",") +
        "],\"gc_ms\":[" + ss.map(_.gc.toString).mkString(",") +
        "],\"spill_mb\":[" + ss.map(s => "%.1f".formatLocal(
          java.util.Locale.ROOT, s.spill)).mkString(",") +
        "],\"run_ms\":[" + ss.map(_.run.toString).mkString(",") +
        "],\"sched_ms\":[" + ss.map(_.sched.toString).mkString(",") +
        "]" + (if (extra.isEmpty) "" else "," + extra) + "}"
    val steady = catalog
      .filter(q => hot.contains(q.name) && !failed.contains(q.name))
      .map { q =>
        val before = failed.size
        val samples = (1 to 3).map(_ => timeOne(q, "steady"))
        if (failed.size > before) {
          steadyFailed += q.name
          failed.remove(before, failed.size - before)
        }
        spark.catalog.clearCache()
        steadyTimes(q.name) = samples.map(_.t)
        "\"" + q.name + "\":" + itsJson(samples)
      }.mkString("{", ",", "}")
    val steadyFailedJson =
      steadyFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // steady-median headline next to the warm pass: per query, the
    // median of its steady samples when it was re-run, its pass-2 time
    // otherwise
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }
    val totalSteady = completed.map { case (k, v) =>
      steadyTimes.get(k).filterNot(_ => steadyFailed.contains(k))
        .map(median).getOrElse(v)
    }.sum

    // sf1 scale probe: the heaviest pipelines at 10x the sf0.1 volume.
    // Edges are 10 key-shifted copies of the customer->supplier graph on
    // the CUSTOMER side over the same suppliers: suppliers are the
    // bounded dim, so this preserves (and deepens) the supplier-hub skew
    // the ranker's dst-aggregation must survive, instead of cloning 10
    // disjoint graphs whose rounds never interact. One-time layouts are
    // timed separately (setup_sec) from the 3 steady iterations — the
    // q112/q179 setup-vs-steady discipline. Skippable for local
    // iteration via SPARK_GRAFT_SF1=0.
    val sf1Json =
      if (only.nonEmpty || sys.env.get("SPARK_GRAFT_SF1").contains("0")) "{}"
      else try {
        import org.apache.spark.sql.functions._
        val copies = 10
        val t0 = System.nanoTime()
        val edges = Tables.table(spark, sfDir, "orders")
          .join(Tables.table(spark, sfDir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey"), col("l_suppkey")).distinct()
          .select(explode(sequence(lit(0), lit(copies - 1))).as("copy"),
            col("o_custkey"), col("l_suppkey"))
          .select(concat(lit("c"), col("copy"), lit("_"), col("o_custkey"))
            .as("src"), concat(lit("s"), col("l_suppkey")).as("dst"))
        graft.sources.Sinks.writeBucketed(edges, "bench_sf1_edges", 32, "src")
        val edgeRows = spark.table("bench_sf1_edges").count()
        val setupSec = (System.nanoTime() - t0) / 1e9
        def probe(body: => Unit): Seq[It] = {
          val ss = (1 to 3).map { _ =>
            drain()
            val (g0, s0, r0, d0) =
              (gcMs.get, spillBytes.get, runMs.get, schedMs.get)
            val it0 = System.nanoTime()
            body
            val dt = (System.nanoTime() - it0) / 1e9
            drain()
            It(dt, gcMs.get - g0, (spillBytes.get - s0) / 1048576.0,
              runMs.get - r0, schedMs.get - d0)
          }
          spark.catalog.clearCache()
          ss
        }
        val samples = probe {
          graft.graph.Graph
            .pageRank(spark.table("bench_sf1_edges"), iterations = 6)
            .write.mode("overwrite").format("noop").save()
        }
        // the convergence-stopped ranker over the same bucketed table,
        // at 10x the edge volume: rounds until the L1 delta drops
        // below tol
        val convSamples = probe {
          graft.graph.Graph
            .pageRankConverged(spark.table("bench_sf1_edges"), tol = 0.02,
              maxIter = 30)
            .write.mode("overwrite").format("noop").save()
        }
        // merge probe: the footprint-boundedness claim made measurable —
        // a month-bounded changeset merged into the 10x base table must
        // cost the touched partition's share, not the table's. 10
        // key-shifted copies of orders partitioned by (year*100+month):
        // 84 month partitions, changeset = every copy's 1997-03 key%7
        // price restatement (pure upsert, one partition), re-applied
        // idempotently per iteration.
        val mergeBase = graft.sources.Scratch.dir("bench_sf1_merge")
        val m0 = System.nanoTime()
        val orders10 = Tables.table(spark, sfDir, "orders")
          .select(explode(sequence(lit(0), lit(copies - 1))).as("copy"),
            col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
          .select((col("o_orderkey") * copies + col("copy")).as("o_orderkey"),
            col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
            col("o_orderdate"), col("o_orderpriority"))
          .withColumn("o_ym",
            year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        graft.sources.Sinks.writePartitioned(orders10, mergeBase, Seq("o_ym"))
        val nParts = graft.sources.Sinks
          .partitionFileStats(mergeBase, Seq("o_ym")).size
        val mergeSetup = (System.nanoTime() - m0) / 1e9
        // materialized once: a lazy plan would re-derive the changeset
        // from the post-merge table and compound the 1.1x per iteration
        val changes = spark.read.parquet(mergeBase)
          .where(col("o_ym") === 199703 && col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 2))
          .withColumn("del", lit(false))
          .localCheckpoint()
        val mSamples = probe {
          graft.sources.Sinks.mergeIntoPartitioned(mergeBase, changes,
            Seq("o_orderkey"), Seq("o_ym"), deleteCol = Some("del"))
        }
        // dedup probe: the training-pipeline headline chain (MinHash-LSH
        // pairs -> connected components -> anti-join sweep, the q86
        // composition) over a corpus where 90% of documents are exact
        // copies — the crawl-shaped duplication near-dedup exists for.
        // 10 id-remapped copies of documents, written to parquet so the
        // steady iterations scan real files; identical copies land every
        // clique in the same LSH buckets in every band, so candidate
        // generation carries ~100x the 1x pair volume through the
        // banded equi-join (bucket membership x10 => pairs x100) and the
        // component rounds collapse 10-deep cliques — the stress is the
        // candidate generator and the iterative contraction, exactly the
        // two stages that decide whether the sweep survives a real
        // corpus. Setup (the 10x write) is timed apart, q112-style.
        val dedupBase = graft.sources.Scratch.dir("bench_sf1_docs")
        val d0 = System.nanoTime()
        val docs10 = Tables.table(spark, sfDir, "documents")
          .select(explode(sequence(lit(0), lit(copies - 1))).as("copy"),
            col("doc_id"), col("text"), col("source"), col("n_chars"))
          .select((col("doc_id") * copies + col("copy")).as("doc_id"),
            col("text"), col("source"), col("n_chars"))
        docs10.write.mode("overwrite").parquet(dedupBase)
        val docRows = spark.read.parquet(dedupBase).count()
        val dedupSetup = (System.nanoTime() - d0) / 1e9
        val dSamples = probe {
          val corpus = spark.read.parquet(dedupBase)
          val pairs = graft.operators.Dedup.minHashLshPairs(corpus,
            "doc_id", "text", n = 3, numHashes = 32, numBands = 8,
            threshold = 0.5)
          val drop = graft.operators.Dedup.connectedComponents(pairs)
            .where(col("id") =!= col("component"))
            .select(col("id").as("doc_id"))
          corpus.join(drop, Seq("doc_id"), "left_anti")
            .groupBy("source")
            .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("chars_kept"))
            .write.mode("overwrite").format("noop").save()
        }
        // perceptual-dedup probe: aHash signatures + banding + hamming
        // verify (q215's op) over the SAME 10x corpus — identical copies
        // share signatures exactly, so every copy-clique collides in all
        // four bands and the verify stage carries ~100x the 1x pair
        // volume, while the signature stage stresses the expression-only
        // byte pipeline (hex + 64 substr/conv reads per blob). The claim
        // under test: both stages stay candidate-bounded at 10x.
        val aSamples = probe {
          graft.multimodal.Binary.aHashPairs(
              spark.read.parquet(dedupBase)
                .withColumn("bytes", encode(col("text"), "UTF-8")),
              "doc_id", "bytes", maxHamming = 6)
            .write.mode("overwrite").format("noop").save()
        }
        // gradient-tier probe: full-batch logistic-regression training
        // (q197's op) over the SAME 10x corpus the dedup probe staged —
        // 8 GD rounds, each one corpus pass partial-aggregated to a
        // single row. The claim under test: per-round cost is the scan,
        // the model never shuffles, so 10x data = ~10x scan time and
        // nothing else grows.
        val lSamples = probe {
          val feats = Queries.logregFeaturesOf(spark.read.parquet(dedupBase))
            .localCheckpoint()
          graft.operators.LogReg.train(feats,
            Seq("x1", "x2", "x3", "x4", "x5"), "y", rounds = 8, lr = 0.5): Unit
        }
        "{" + Seq(
          "\"q179_pagerank_bucketed_10x\":" + itsJson(samples,
            s"""\"setup_sec\":${r3(setupSec)},\"edge_rows\":$edgeRows,\"copies\":$copies"""),
          "\"q232_pagerank_tol_bucketed_10x\":" + itsJson(convSamples,
            s"""\"edge_rows\":$edgeRows,\"copies\":$copies"""),
          "\"q187_merge_upsert_10x\":" + itsJson(mSamples,
            s"""\"setup_sec\":${r3(mergeSetup)},\"n_partitions\":$nParts,\"touched_partitions\":1"""),
          "\"q86_dedup_sweep_10x\":" + itsJson(dSamples,
            s"""\"setup_sec\":${r3(dedupSetup)},\"doc_rows\":$docRows,\"copies\":$copies"""),
          "\"q215_ahash_dedup_10x\":" + itsJson(aSamples,
            s"""\"doc_rows\":$docRows,\"copies\":$copies"""),
          "\"q197_logreg_10x\":" + itsJson(lSamples,
            s"""\"doc_rows\":$docRows,\"rounds\":8""")).mkString(",") + "}"
      } catch { case e: Throwable =>
        System.err.println(s"[bench] sf1 probe FAILED: $e")
        "{\"failed\":true}"
      }

    // the stdout line: summary + top-60 by pass-2 time (short keys) +
    // per-probe sf1 medians — comfortably inside the 2000-char window
    // driver contract: the line carries a "queries" map — capped at the
    // top-60 by warm time so the line FITS the 2000-char window (r08's
    // full 231-entry map clipped the opening brace and parsed as null);
    // the complete maps are in BENCH_DETAIL.json
    val top60 = completed.sortBy(-_._2).take(60).map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + r3(v)
    }.mkString("{", ",", "}")
    val sf1Medians = "\"([a-z0-9_]+_10x)\":\\{\"t\":\\[([0-9.]+),([0-9.]+),([0-9.]+)".r
      .findAllMatchIn(sf1Json).map { m =>
        val med = median(Seq(m.group(2), m.group(3), m.group(4)).map(_.toDouble))
        "\"" + m.group(1) + "\":" + r3(med)
      }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","total_steady":${r3(totalSteady)},"total_cold":${r3(totalCold)},"n_queries":${pass1.size},"n_failed":${failed.size},"failed":$failedJson,"mean_per_query":${r3(mean)},"queries":$top60,"sf1_10x_median":$sf1Medians,"sf":"$sfDir","detail":"BENCH_DETAIL.json"}"""
    val qJson = completed.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val coldJson = pass1.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val errorsJson = errors
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val detail = s"""{"queries":$qJson,"queries_cold":$coldJson,"total":${r3(total)},"total_cold":${r3(totalCold)},"total_steady":${r3(totalSteady)},"n_failed":${failed.size},"failed":$failedJson,"steady_state":$steady,"steady_failed":$steadyFailedJson,"errors":$errorsJson,"cpus":$cpus,"sf1_10x":$sf1Json,"sf":"$sfDir"}"""
    // subset runs (SPARK_GRAFT_ONLY) are local iteration: writing their
    // handful of queries over BENCH_DETAIL.json would hollow out the
    // next full run's prior baseline (and the committed artifact)
    if (only.isEmpty) {
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
        detail.getBytes("UTF-8"))
      // per-cpu-count copy: the driver benches at two core counts and the
      // second run used to destroy the first run's detail (r09 verdict
      // item 8 — the 32c contamination cluster became unreconstructible)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"BENCH_DETAIL_c$cpus.json"),
        detail.getBytes("UTF-8"))
    } else
      // subset runs are local iteration: surface the steady arrays (gc /
      // spill / run / sched attribution included) on stderr instead of
      // silently discarding them with the detail file
      System.err.println(s"[bench] steady detail: $steady")
    println(line)
    spark.stop()
  }
}
