package graft

/** Plan-shape audit: sweeps every SparkEntry query's physical plan and
  * tabulates the properties that matter at scale — shuffle count, join
  * strategies, whole-stage-codegen spans, scan-level filter pushdown —
  * into a markdown table (stdout; redirected to PLANS.md by the
  * caller). Plans are inspected pre-execution (AQE initial shape).
  *
  * Usage: sbt 'runMain graft.PlanAudit /root/testdata/sf0.01 PLANS.md'
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outPath = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Graft.session(Graft.Audit)

    def count(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)

    val out = new StringBuilder
    out ++= "# PLANS - physical-plan audit of every query\n\n"
    out ++= s"Generated by `graft.PlanAudit` on `$sfDir`. Columns: shuffle\n"
    out ++= "exchanges / broadcast exchanges, join operators by strategy,\n"
    out ++= "WholeStageCodegen spans, and whether any parquet scan carries\n"
    out ++= "pushed filters. Static (non-AQE) plan shapes; the harness\n"
    out ++= "sessions run with AQE on, which may merge or re-plan exchanges\n"
    out ++= "at runtime. Queries that pin intermediate frames\n"
    out ++= "(localCheckpoint via `Pinned.pin`) are audited THROUGH the\n"
    out ++= "pins: every pinned sub-plan's pre-checkpoint physical plan is\n"
    out ++= "captured and counted alongside the final frame's, so an\n"
    out ++= "iterative query (pagerank, LPA) reports the SUM of its\n"
    out ++= "per-round shapes — `pins` is how many sub-plans that was\n"
    out ++= "(round 12's audit recorded 0 shuffles for the graph queries\n"
    out ++= "because it saw only the post-checkpoint stub).\n\n"
    out ++= "| query | shuffles | bcast | BHJ | SMJ | SHJ | codegen | pushed filters | pins |\n"
    out ++= "|---|---|---|---|---|---|---|---|---|\n"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val pinned = scala.collection.mutable.ArrayBuffer.empty[String]
        val mainPlan = graft.ops.Pinned.withAuditTap(pinned += _) {
          fn(spark, sfDir).queryExecution.executedPlan.toString
        }
        val plan = (pinned :+ mainPlan).mkString("\n")
        val row = Seq(
          count(plan, "Exchange hashpartitioning") + count(plan, "Exchange rangepartitioning"),
          count(plan, "BroadcastExchange"),
          count(plan, "BroadcastHashJoin") + count(plan, "BroadcastNestedLoopJoin"),
          count(plan, "SortMergeJoin"),
          count(plan, "ShuffledHashJoin"),
          // codegen spans print as "*(N)" operator prefixes; span ids
          // restart per query execution, so count distinct WITHIN each
          // sub-plan and sum across them
          (pinned :+ mainPlan).map(p =>
            """\*\((\d+)\)""".r.findAllMatchIn(p).map(_.group(1)).toSet.size).sum,
          if (plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []")) "yes" else "-",
          pinned.size)
        out ++= s"| $name | ${row.mkString(" | ")} |\n"
      } catch {
        case e: Throwable => out ++= s"| $name | ERROR ${e.getClass.getSimpleName} |\n"
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      out.toString.getBytes("UTF-8"))
    println(s"[audit] wrote $outPath")
    spark.stop()
  }
}
