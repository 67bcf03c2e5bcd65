package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** The GraftExtensions-injected native kernels (graft_dot/graft_cosine)
  * must be registered, agree exactly with the HOF forms they replace
  * (same element order + double accumulation → bitwise-identical), keep
  * the HOF null semantics, and actually run through codegen.
  */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  private val hofDot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("extension is installed in the session") {
    assert(spark.catalog.functionExists("graft_dot"))
    assert(spark.catalog.functionExists("graft_cosine"))
  }

  test("native dot/cosine are bitwise-identical to the HOF forms") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f),
        Array.fill(64)(rnd.nextFloat() - 0.5f))
    }
    val df = rows.toDF("id", "a", "b")
    val both = df.select(
        call_function("graft_dot", col("a"), col("b")).as("nd"),
        hofDot(col("a"), col("b")).as("hd"),
        call_function("graft_cosine", col("a"), col("b")).as("nc"),
        (hofDot(col("a"), col("b")) /
          (sqrt(hofDot(col("a"), col("a"))) * sqrt(hofDot(col("b"), col("b"))))).as("hc"))
      .as[(Double, Double, Double, Double)].collect()
    both.foreach { case (nd, hd, nc, hc) =>
      assert(nd == hd, s"dot mismatch: $nd vs $hd")
      assert(nc == hc, s"cosine mismatch: $nc vs $hc")
    }
  }

  test("null semantics: length mismatch, null element, zero norm, empty") {
    val df = Seq(
      ("mismatch", Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)),
      ("zero", Array(0.0f, 0.0f), Array(1.0f, 2.0f)),
      ("empty", Array.empty[Float], Array.empty[Float])
    ).toDF("case", "a", "b")
    val m = df.select(col("case"),
      call_function("graft_dot", col("a"), col("b")).as("d"),
      call_function("graft_cosine", col("a"), col("b")).as("c"))
      .collect().map(r => (r.getString(0),
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)),
         if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(m("mismatch") == ((None, None)))
    assert(m("zero") == ((Some(0.0), None)))       // dot fine, cosine null
    assert(m("empty") == ((Some(0.0), None)))      // aggregate seed, null cosine
    // null element → null (zip_with semantics)
    val withNull = spark.sql(
      "SELECT graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) d")
    assert(withNull.collect()(0).isNullAt(0))
  }

  test("mixed float/double element types resolve and compute") {
    val d = spark.sql(
      "SELECT graft_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), array(2.0D, 3.0D)) d")
      .collect()(0).getDouble(0)
    assert(d == 1.5 * 2.0 + 2.0 * 3.0)
  }

  test("the native plan stays inside WholeStageCodegen with no lambda") {
    // a local Seq collapses to LocalTableScan (constant-folded); derive
    // the vectors from range() so a real projection is planned
    val df = spark.range(100).select(col("id"),
      transform(sequence(lit(0), lit(7)),
        i => (i.cast("double") + col("id")).cast("float")).as("v"))
    val plan = df.select(call_function("graft_cosine", col("v"), col("v")))
      .queryExecution.executedPlan.toString
    // `*(n)` marks a WholeStageCodegen stage; the graft_cosine projection
    // must be inside one, and the cosine itself carries no lambda (the
    // only lambdafunction in this plan is the test's vector builder)
    assert("""\*\(\d+\) Project \[graft_cosine""".r.findFirstIn(plan).isDefined,
      s"graft_cosine not in a codegen stage:\n$plan")
    assert(!plan.linesIterator.exists(l =>
      l.contains("graft_cosine") && l.toLowerCase.contains("lambdafunction")))
  }

  private val hofDist2 = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
    aggregate(zip_with(a, b,
      (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  test("native dist2/dist2s are bitwise-identical to the HOF forms") {
    assert(spark.catalog.functionExists("graft_dist2"))
    assert(spark.catalog.functionExists("graft_dist2s"))
    val rnd = new scala.util.Random(13)
    val rows = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f),
        Array.fill(64)(rnd.nextFloat() - 0.5f))
    }
    val df = rows.toDF("id", "a", "b")
    val both = df.select(
        call_function("graft_dist2", col("a"), col("b")).as("nd"),
        hofDist2(col("a"), col("b")).as("hd"),
        // windowed form vs HOF-over-slice, window [8, 24)
        call_function("graft_dist2s", col("a"),
          slice(transform(col("b"), x => x.cast("double")), lit(9), lit(16)),
          lit(8)).as("ns"),
        hofDist2(slice(col("a"), lit(9), lit(16)),
          slice(col("b"), lit(9), lit(16))).as("hs"))
      .as[(Double, Double, Double, Double)].collect()
    both.foreach { case (nd, hd, ns, hs) =>
      assert(nd == hd, s"dist2 mismatch: $nd vs $hd")
      assert(ns == hs, s"dist2s mismatch: $ns vs $hs")
    }
  }

  test("dist2 null semantics: mismatch, short window, null element") {
    // strict form: length mismatch → null (zip_with pad semantics)
    val m = spark.sql(
      "SELECT graft_dist2(array(1.0D, 2.0D), array(1.0D, 2.0D, 3.0D)) d")
    assert(m.collect()(0).isNullAt(0))
    // windowed form: vec shorter than lo + |w| → null (slice semantics)
    val short = spark.sql(
      "SELECT graft_dist2s(array(1.0D, 2.0D), array(1.0D, 2.0D), 1) d")
    assert(short.collect()(0).isNullAt(0))
    // windowed form: vec LONGER than the window is fine (slice semantics)
    val fine = spark.sql(
      "SELECT graft_dist2s(array(1.0D, 2.0D, 7.0D), array(2.0D, 4.0D), 0) d")
    assert(fine.collect()(0).getDouble(0) == 5.0)
    // null element inside the window → null
    val nul = spark.sql(
      "SELECT graft_dist2s(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D), 0) d")
    assert(nul.collect()(0).isNullAt(0))
  }

  test("pqCodes/assignColumn shapes: codebook rides references, codegen source is codebook-independent") {
    import graft.operators.Quantization
    // two DIFFERENT codebooks must produce the SAME generated source —
    // the stable-shape contract that makes Janino compile once per
    // operator across Lloyd/PQ training rounds (r09 §11 / r10 item 3)
    def planFor(cb: IndexedSeq[IndexedSeq[Double]]): String = {
      val df = spark.range(10).select(col("id"),
        transform(sequence(lit(0), lit(7)),
          i => (i.cast("double") + col("id")).cast("float")).as("v"))
      df.select(Quantization.pqCodes(col("v"), cb, 2, 8).as("codes"))
        .queryExecution.executedPlan
        .asInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]
        .doCodeGen()._2.body
    }
    val cbA = IndexedSeq(IndexedSeq.tabulate(8)(_ * 0.5),
      IndexedSeq.tabulate(8)(_ * 0.25))
    val cbB = IndexedSeq(IndexedSeq.tabulate(8)(_ * 0.125 + 3.0),
      IndexedSeq.tabulate(8)(_ * 2.0 - 1.0))
    assert(planFor(cbA) == planFor(cbB),
      "generated source differs across codebooks — per-round recompiles are back")
  }

  test("Similarity.dot routes through the native kernel when available") {
    val df = Seq((1L, Array(1.0f, 2.0f))).toDF("id", "v")
    val plan = df.select(Similarity.dot(col("v"), col("v")))
      .queryExecution.analyzed.toString
    assert(plan.contains("graft_dot"))
  }

  test("graft_simhash agg is bit-identical to the 64-sum expression form") {
    assert(spark.catalog.functionExists("graft_simhash"))
    val rnd = new scala.util.Random(11)
    // groups of varying size, arbitrary 64-bit hashes incl. negatives,
    // plus NULL hashes (contribute -1 to every bit, the CASE else-branch)
    val rows = (1 to 2000).map { i =>
      (i % 37L, if (i % 211 == 0) null else java.lang.Long.valueOf(rnd.nextLong()))
    }
    val df = rows.toDF("id", "h")
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val sigExpr = (0 until 64).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    val expr64 = df.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), sigExpr.as("sig"))
    val native = df.groupBy("id")
      .agg(call_function("graft_simhash", col("h")).as("sig"))
    assert(native.except(expr64).count() == 0 &&
      expr64.except(native).count() == 0,
      "native SimHash aggregate diverges from the expression form")
  }

  test("Dedup.withSimHash routes through the native aggregate when available") {
    val df = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val plan = graft.operators.Dedup.withSimHash(df, "doc_id", "text")
      .queryExecution.analyzed.toString
    assert(plan.contains("graft_simhash"))
  }

  test("graft_hausdorff codegen COMPILES (no reserved-word package path)") {
    // `native` is a Java reserved word: generated code referencing
    // graft.functions.native.* fails Janino and silently degrades the
    // stage to interpreted mode — only visible as a WARN in logs. With
    // fallback disabled, a compile failure throws instead of degrading.
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = spark.range(50).select(col("id"),
        transform(sequence(lit(0), lit(5)),
          i => struct((i.cast("double") + col("id")).as("t"),
            i.cast("double").as("v"))).as("tr"))
      val out = df.select(
        call_function("graft_hausdorff", col("tr"), col("tr")).as("h"))
        .agg(sum("h")).collect()
      assert(out(0).getDouble(0) == 0.0) // self-distance is zero
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("graft_hausdorff is bit-identical to the nested-HOF form") {
    assert(spark.catalog.functionExists("graft_hausdorff"))
    val rnd = new scala.util.Random(13)
    def tr() = Array.fill(rnd.nextInt(40) + 1)(
      (rnd.nextDouble() * 100, rnd.nextDouble() * 20))
    val rows = (1 to 300).map(i => (i.toLong, tr(), tr()))
    val df = rows.toDF("id", "a", "b")
      .select(col("id"),
        expr("transform(a, p -> struct(p._1 as t, p._2 as v))").as("ta"),
        expr("transform(b, p -> struct(p._1 as t, p._2 as v))").as("tb"))
    def dir(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      array_max(transform(x, p =>
        array_min(transform(y, q =>
          sqrt((p("t") - q("t")) * (p("t") - q("t")) +
            (p("v") - q("v")) * (p("v") - q("v")))))))
    val both = df.select(
        call_function("graft_hausdorff", col("ta"), col("tb")).as("n"),
        greatest(dir(col("ta"), col("tb")), dir(col("tb"), col("ta"))).as("h"))
      .as[(Double, Double)].collect()
    both.foreach { case (n, h) =>
      assert(n == h, s"hausdorff mismatch: native $n vs HOF $h")
    }
  }

  test("graft_bottomk agg equals the collect_set expression form") {
    val rnd = new scala.util.Random(11)
    // many groups, duplicate hashes, nulls, one group smaller than k
    val rows = (1 to 5000).map { i =>
      val g = i % 37
      val h: java.lang.Long =
        if (i % 97 == 0) null else java.lang.Long.valueOf(rnd.nextInt(400).toLong)
      (g, h)
    } :+ ((99, java.lang.Long.valueOf(5L)))
    val df = rows.toDF("g", "h").repartition(16, col("g") + col("h"))
    val native = df.groupBy("g")
      .agg(call_function("graft_bottomk", col("h"), lit(8)).as("kmv"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val fallback = df.groupBy("g")
      .agg(slice(array_sort(collect_set(col("h"))), 1, 8).as("kmv"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(native === fallback)
    assert(native(99) === Seq(5L), "sub-k group must return the exact set")
    assert(native.values.forall(v => v.size <= 8 && v == v.sorted))
    // k must be a positive foldable int
    intercept[Exception] {
      df.groupBy("g")
        .agg(call_function("graft_bottomk", col("h"), lit(0))).collect()
    }
  }

  test("neighborhoodFunction routes through graft_bottomk and matches the fallback") {
    import graft.graph.Graph
    val pairs = (1 to 120).flatMap(i =>
      Seq((s"n${i % 25}", s"n${(i * 3 + 1) % 25}"),
        (s"n${(i * 7) % 25}", s"n${i % 25}")))
      .filter(p => p._1 != p._2)
    val e = pairs.toDF("src", "dst")
    val nat = Graph.neighborhoodFunction(e, k = 8, maxHops = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    // compare against the directly-spelled collect_set fallback
    val state0 = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .select(col("node"), array(graft.functions.Text
        .md5Hash64(col("node").cast("string"), 7)).as("kmv"))
    var st = state0
    val scaleC = 7.0 * 1.152921504606846976e18
    val est = when(size(col("kmv")) < 8, size(col("kmv")).cast("double"))
      .otherwise(lit(scaleC) / element_at(col("kmv"), 8))
    val manual = (1 to 3).map { h =>
      val contrib = e.join(st, e("dst") === st("node"))
        .select(e("src").as("node"), col("kmv"))
      st = st.select(col("node"), explode(col("kmv")).as("h"))
        .unionByName(contrib.select(col("node"), explode(col("kmv")).as("h")))
        .groupBy("node")
        .agg(slice(array_sort(collect_set(col("h"))), 1, 8).as("kmv"))
        .localCheckpoint()
      val r = st.agg(count(lit(1)),
        sum(round(est, 4).cast("decimal(38,4)")).cast("double")).head()
      (h, r.getLong(0), r.getDouble(1))
    }
    assert(nat === manual, "native ANF diverged from the collect_set form")
  }

  test("operators pick the native kernel from the DataFrame's session, even on a thread with none") {
    import graft.graph.Graph
    import graft.operators.{Clustering, Dedup, Pca, Quantization, Sketches, TrajectorySim}
    import org.apache.spark.sql.{DataFrame, Row, SparkSession}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val names = Seq("graft_dot", "graft_cosine", "graft_dist2", "graft_dist2s",
      "graft_simhash", "graft_hausdorff", "graft_bottomk", "graft_mg", "graft_wbk")
    // the second input: a session that registers none of the SQL names
    val bare = spark.newSession()
    names.foreach(n => bare.sql(s"DROP TEMPORARY FUNCTION $n"))
    assert(!names.exists(bare.catalog.functionExists), "names still registered")
    val cb = IndexedSeq(IndexedSeq(0.0, 0.0, 1.0, 2.0), IndexedSeq(9.0, 9.0, 3.0, 1.0))

    /** Every operator that used to fork on the session, built and run on
      * a thread where nothing but the DataFrames names a session: the
      * frames' analyzed plans, every plan the operators ran on the way
      * (heavyHitters and neighborhoodFunction collect inside), and the
      * rows. */
    def run(ss: SparkSession): (Seq[(String, String)], Seq[String], Seq[Set[Row]]) = {
      import ss.implicits._
      val df = Seq((1L, Seq(0.0, 0.0, 1.0, 2.0)), (2L, Seq(10.0, 10.0, 3.0, 1.0)),
        (3L, Seq(0.5, 0.0, 1.0, 2.5))).toDF("id", "v")
      val cents = Seq((0, Seq(0.0, 0.0, 1.0, 2.0)), (1, Seq(9.0, 9.0, 3.0, 1.0)))
        .toDF("cell", "centroid")
      val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta"))
        .toDF("doc_id", "text")
      val ts = (m: Long) => new java.sql.Timestamp(m * 60000L)
      val events = Seq((1L, ts(0), 1L, 10.0), (1L, ts(1), 2L, 10.0),
          (2L, ts(0), 3L, 10.0), (2L, ts(1), 4L, 13.0))
        .toDF("user_id", "ts", "event_id", "value")
      val keyed = Seq(("a", "x", 1.0, 2.0), ("a", "y", 2.0, 1.0), ("b", "z", 3.0, 1.0))
        .toDF("key", "id", "vv", "ww")
      val edges = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
      val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          ran.add(qe.analyzed.toString)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      ss.listenerManager.register(listener)
      var built: Seq[(String, DataFrame)] = Nil
      var collected: Seq[DataFrame] = Nil
      var failure: Throwable = null
      // the new thread inherits this thread's active session; it drops
      // it, and the process default is cleared, so nothing but the
      // DataFrame names a session
      val t = new Thread(() => try {
        SparkSession.clearActiveSession()
        built = Seq(
          "graft_dist2" -> Clustering.kmeansAssign(df, "id", "v", k = 2, iters = 1),
          "graft_dot" -> Dedup.embeddingNearDupPairs(df, "id", "v", 0.9,
            planes = 4, dims = 4),
          "graft_dist2s" -> df.select(Quantization.pqCodes(col("v"), cb, 2, 4)),
          "graft_dot" -> df.select(Similarity.dot(col("v"), col("v"))),
          "graft_cosine" -> df.select(Similarity.cosine(col("v"), col("v"))),
          "graft_dist2" -> Similarity.ivfTopK(df, df, "id", "v", "id", cents, k = 2),
          "graft_dot" -> Similarity.rpTopK(df, df, "id", "v", "id", dims = 4,
            rDims = 2, cand = 2, k = 1),
          "graft_dot" -> Pca.project(df, "v", Seq(0.5, 0.5, 0.5, 0.5)),
          "graft_simhash" -> Dedup.withSimHash(docs, "doc_id", "text"),
          "graft_hausdorff" -> TrajectorySim.hausdorffTopK(events, "user_id", "ts",
            "event_id", "value", k = 1, isProbe = lit(true), cellWidth = 100.0),
          "graft_wbk" -> Sketches.weightedBottomKByKey(keyed, Seq("key"), col("id"),
            col("vv"), col("ww"), k = 1, seed = 7))
        collected = Seq(
          Sketches.heavyHitters(keyed, col("key"), phi = 0.4, k = 4),
          Graph.neighborhoodFunction(edges, k = 2, maxHops = 2))
      } catch { case e: Throwable => failure = e })
      SparkSession.clearDefaultSession()
      try { t.start(); t.join() }
      finally SparkSession.setDefaultSession(spark)
      if (failure != null) throw failure
      val rows = (built.map(_._2) ++ collected).map(_.collect().toSet)
      // the listener bus delivers in order but asynchronously: once a
      // last marked query arrives, every earlier one has
      ss.range(1).select(lit("end of run").as("marker")).collect()
      try eventually(timeout(60.seconds)) {
        assert(ran.toArray.exists(_.toString.contains("end of run")))
      } finally ss.listenerManager.unregister(listener)
      val ranPlans = ran.toArray.map(_.toString).toSeq
      (built.map { case (k, f) => k -> f.queryExecution.analyzed.toString } ++
        Seq("graft_mg", "graft_bottomk").map(k =>
          k -> ranPlans.find(_.contains(k)).getOrElse(ranPlans.mkString("\n"))),
        ranPlans, rows)
    }

    val (withNames, _, expected) = run(spark)
    val (withoutNames, ranBare, got) = run(bare)
    for ((plans, input) <- Seq(withNames -> "registered", withoutNames -> "bare");
         (kernel, p) <- plans) {
      assert(!p.contains("zip_with"), s"$input: $p")
      assert(p.contains(kernel), s"$input session: $kernel missing from\n$p")
    }
    assert(!ranBare.exists(p => p.contains("collect_set") || p.contains("zip_with")),
      ranBare.mkString("\n"))
    assert(got == expected, "rows differ between the two sessions")
  }
}
