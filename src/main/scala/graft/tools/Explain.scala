package graft.tools

/** Plan-audit helper: print the formatted physical plan (and exchange/
  * sort/window counts) for one or more catalog queries.
  * Usage: runMain graft.tools.Explain <sfDir> <querySubstr>[,<substr>...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args.take(2)
    val spark = graft.Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = names.split(",").toSeq
    graft.Queries.all
      .filter(q => wanted.exists(q.name.contains))
      .foreach { q =>
        val df = q.run(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        def n(p: String) = p.r.findAllIn(plan).length
        val shuffles =
          "(?m)^(?!.*BroadcastExchange).*Exchange".r.findAllIn(plan).length
        println(s"=== ${q.name}: exchanges=${n("Exchange")} " +
          s"shuffles=$shuffles sorts=${n("\\bSort\\b")} " +
          s"windows=${n("\\bWindow\\b")} wsc=${n("WholeStageCodegen")}")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    spark.stop()
  }
}
