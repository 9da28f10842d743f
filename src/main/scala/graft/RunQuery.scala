package graft

/** Dev tool: run one named SparkEntry query and show rows and/or the
  * formatted plan. Usage:
  *   runMain graft.RunQuery <name> [sfDir] [show|plan|both|noop]
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val mode = if (args.length > 2) args(2) else "both"
    val spark = Graft.session(Graft.Suite)
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (mode == "plan" || mode == "both") println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    if (mode == "show" || mode == "both") df.show(20, truncate = false)
    if (mode == "noop") {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[runquery] $name took ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
