package graft
/** Dev tool: print the formatted physical plan of named driver-contract
  * queries at sf0.01 (`runMain graft.PlanAudit q07 p10 …`) — the manual
  * companion to PlanShapeSpec's automated no-cartesian audit. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Session(Session.cpus)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cap = sys.env.getOrElse("SPARK_GRAFT_PLAN_CHARS", "6000").toInt
    for (name <- args) {
      println(s"===== $name =====")
      val df = SparkEntry.queries(name)(spark, dir)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).take(cap))
    }
    spark.stop()
  }
}
