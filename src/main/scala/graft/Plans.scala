package graft

import org.apache.spark.sql.SparkSession

/** Prints formatted physical plans for plan-quality review (pushdown,
  * pruning, broadcast choice, codegen spans). Not part of the driver
  * contract. */
object Plans {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSet else Set("q03_join_3way")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // full parity with the Bench/Verify session config — the
      // captured plans must be generated under the config the bench
      // executes (r09 advice)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "256m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Queries.all.filter(q => names.contains(q.name)).foreach { q =>
      println(s"===================== ${q.name} =====================")
      q.run(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
