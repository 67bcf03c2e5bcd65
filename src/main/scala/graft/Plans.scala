package graft

/** Prints formatted physical plans for plan-quality review (pushdown,
  * pruning, broadcast choice, codegen spans). Not part of the driver
  * contract. */
object Plans {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSet else Set("q03_join_3way")
    val spark = Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    Queries.all.filter(q => names.contains(q.name)).foreach { q =>
      println(s"===================== ${q.name} =====================")
      q.run(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
