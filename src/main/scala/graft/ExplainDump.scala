package graft

/** Dev tool: dump `.explain("formatted")` for named queries into
  * per-query files — the before/after plan evidence the optimization
  * rounds commit under `plans/<tag>/`. Pinned sub-plans (frames cut by
  * `Pinned.pin` / `pinWithChangedCount`, whose shapes the final frame's
  * explain cannot show — the checkpoint truncates lineage to a
  * LogicalRDD stub) are appended via the same audit tap `PlanAudit`
  * uses, so the file carries the query's FULL shape.
  *
  * Usage: runMain graft.ExplainDump <outDir> <suffix> <name,name,...> [sfDir]
  *   — writes <outDir>/<name>_<suffix>.txt per query.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val spark = Graft.session(Graft.Audit)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val sb = new StringBuilder
      val pinned = scala.collection.mutable.ArrayBuffer.empty[String]
      val formatted = graft.ops.Pinned.withAuditTap(pinned += _) {
        SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
      }
      sb ++= s"== $name — final frame, explain(formatted), sf=$sfDir ==\n\n"
      sb ++= formatted
      pinned.zipWithIndex.foreach { case (p, i) =>
        sb ++= s"\n== pinned sub-plan ${i + 1} (pre-checkpoint executedPlan) ==\n\n"
        sb ++= p
        sb ++= "\n"
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        sb.toString.getBytes("UTF-8"))
      println(s"[explaindump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
