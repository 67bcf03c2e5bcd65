package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-off scale-correctness pass (r08 verdict item 3): stage a
  * consistent 10× copy of the sf0.1 universe, run the HEAVIEST catalog
  * queries over it, and dump results + oracle SQL for a DuckDB
  * hash-match (tools/sf1check.py) — the first correctness evidence
  * above 600 k rows for the iterative graph tier, the dedup sweeps and
  * the one-scan statistics.
  *
  * The 10× universe keeps every foreign key consistent:
  *  - orders/lineitem/customer: keys shifted key*10+copy on the
  *    CUSTOMER side over the SAME suppliers/parts — true 10× nodes and
  *    edges for the customer→supplier ranker tier while preserving
  *    (and deepening) the supplier-hub skew, the bench sf1 probe's
  *    shape (Bench.scala);
  *  - documents/embeddings: ids shifted — a 90 %-duplicate crawl-shaped
  *    corpus, exactly what the near-dup tier exists for;
  *  - part: 10 unchanged copies (token-volume stress for the heavy-
  *    hitter pass; its keys are only used as opaque strings there);
  *  - supplier/nation/region: unchanged bounded dims.
  *
  * Co-order graphs (lineitem self-join per order) keep their node set
  * but see 10× the scan volume and 10× the pair counts — the scan and
  * candidate stages scale, the iteration counts don't; the customer-
  * graph tier is where the per-round state truly grows 10×.
  *
  * Output goes to a FIXED path under tmp/ (not [[graft.sources.Scratch]],
  * whose shutdown hook would delete the staged tables before the
  * python checker reads them). Run serially with nothing else on the
  * box:
  *   sbt "runMain graft.tools.Sf1Verify /root/testdata/sf0.1 tmp/sf1_out"
  *   python3 tools/sf1check.py tmp/sf1_x10 tmp/sf1_out
  */
object Sf1Verify {
  /** The heavy tier: every query with an r08 steady-state row, plus the
    * r09 composition (q232). */
  val heavy: Seq[String] = Seq(
    "q170_containment_join", "q179_pagerank_bucketed", "q182_pagerank_tol",
    "q183_hits_tol", "q184_ppr_tol", "q190_triangle_count", "q191_kcore",
    "q192_sssp", "q193_incremental_components", "q194_closeness",
    "q199_betweenness", "q205_mix_materialize", "q206_fim",
    "q208_edit_verified", "q209_heavy_hitters", "q210_kcenter_coreset",
    "q211_dedup_rewrite", "q212_modularity", "q213_mmr_rerank",
    "q214_random_walks", "q215_ahash_dedup", "q224_skip_grams",
    "q225_dedup_pr_curve", "q226_corr_matrix", "q232_pagerank_tol_bucketed")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("tmp/sf1_out")
    val names = args.lift(2).map(_.split(",").toSeq).getOrElse(heavy)
    val staged = "tmp/sf1_x10"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val copies = 10

    def fan(df: DataFrame): DataFrame =
      df.select(explode(sequence(lit(0), lit(copies - 1))).as("__c"),
        col("*"))
    def shift(c: String) = (col(c) * copies + col("__c")).as(c)
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$staged/$t.parquet")
      println(s"[sf1] staged $t")
    }

    val t0 = System.nanoTime()
    val orders = graft.Tables.table(spark, base, "orders")
    write(fan(orders).select(
      (Seq(shift("o_orderkey"), shift("o_custkey")) ++
        orders.columns.filterNot(Set("o_orderkey", "o_custkey"))
          .map(col).toSeq): _*), "orders")
    val li = graft.Tables.table(spark, base, "lineitem")
    write(fan(li).select(
      (Seq(shift("l_orderkey")) ++
        li.columns.filterNot(_ == "l_orderkey").map(col).toSeq): _*),
      "lineitem")
    val cust = graft.Tables.table(spark, base, "customer")
    write(fan(cust).select(
      (Seq(shift("c_custkey")) ++
        cust.columns.filterNot(_ == "c_custkey").map(col).toSeq): _*),
      "customer")
    val docs = graft.Tables.table(spark, base, "documents")
    write(fan(docs).select(
      (Seq(shift("doc_id")) ++
        docs.columns.filterNot(_ == "doc_id").map(col).toSeq): _*),
      "documents")
    val emb = graft.Tables.table(spark, base, "embeddings")
    write(fan(emb).select(
      (Seq(shift("vec_id")) ++
        emb.columns.filterNot(_ == "vec_id").map(col).toSeq): _*),
      "embeddings")
    write(fan(graft.Tables.table(spark, base, "part")).drop("__c"), "part")
    Seq("supplier", "nation", "region").foreach { t =>
      write(graft.Tables.table(spark, base, t), t)
    }
    println(f"[sf1] staging done in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    new java.io.File(outDir).mkdirs()
    val catalog = graft.Queries.all.filter(q => names.contains(q.name))
    catalog.foreach { q =>
      val q0 = System.nanoTime()
      try {
        val df = q.run(spark, staged)
        import org.apache.spark.sql.types.{DateType, TimestampType}
        val cols = df.schema.fields.map { f =>
          f.dataType match {
            case TimestampType | DateType =>
              col(f.name).cast("timestamp_ntz").as(f.name)
            case _ => col(f.name)
          }
        }
        df.select(cols.toIndexedSeq: _*).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${q.name}")
        println(f"[sf1] ${q.name} ok in ${(System.nanoTime() - q0) / 1e9}%.1f s")
      } catch { case e: Throwable =>
        println(s"[sf1] ${q.name} FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    def esc(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = catalog.flatMap(q => q.oracle.map(o =>
      s"${esc(q.name)}: ${esc(o)}")).mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
