package graft

/** Dev-only helper: print `.explain("formatted")` for one registered
  * query (the plans/<round>/ evidence files the optimization rounds
  * commit). Usage: tools/run.sh graft.PlanDump <query> [sfDir] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse(GraftSession.sfDir)
    val spark = GraftSession()
    val df = SparkEntry.queries(name)(spark, sfDir)
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    spark.stop()
  }
}
