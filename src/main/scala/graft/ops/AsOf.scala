package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.ColumnShim
import graft.plans.AsOfJoin

/** User-facing entry for the native as-of join operator
  * (graft.plans.AsOfJoinExec). Mirrors the reference's lookup-latest
  * semantics as a first-class plan node instead of the window/union
  * composition.
  *
  * Column names must be disjoint between the two sides (rename the
  * right side first, as with any Spark self-join) — the node's output
  * is left.output ++ right.output.
  *
  * Works on any session: [[graft.Graft.install]] adds the planner
  * strategy and pushdown rule the node needs.
  */
object AsOf {

  /** As-of join: for every left row, the right row with equal keys
    * and the greatest `rightTimeCol <= leftTimeCol` (within
    * `toleranceMicros` when given). `joinType` "left" (default) pads
    * unmatched left rows with nulls; "inner" drops them (the
    * trades×quotes shape, DuckDB's ASOF JOIN default).
    */
  def joinAsOf(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      rightKeys: Seq[String],
      leftTimeCol: String,
      rightTimeCol: String,
      toleranceMicros: Option[Long] = None,
      joinType: String = "left"): DataFrame = {
    require(joinType == "left" || joinType == "inner",
      s"as-of joinType must be 'left' or 'inner', got '$joinType'")
    require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
      "as-of join needs matching non-empty key lists")
    val spark = left.sparkSession
    graft.Graft.install(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan0 = right.queryExecution.analyzed
    // Disjointness must follow the session's resolution rules: under the
    // default case-insensitive resolver, 'Key' vs 'key' is the SAME name
    // downstream, so the guard normalizes before intersecting.
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def norm(n: String) = if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val shared = lPlan.output.map(a => norm(a.name)).toSet
      .intersect(rPlan0.output.map(a => norm(a.name)).toSet)
    require(shared.isEmpty,
      s"as-of join requires disjoint column names between the two sides; " +
        s"shared: ${shared.toSeq.sorted.mkString(", ")} — rename the right side first")
    // Shared lineage (self-join) carries duplicate ExprIds across the two
    // plans, which would mis-bind the output projection and let the
    // pushdown rule classify right-side predicates as left-only.
    // Re-alias the right side with fresh ExprIds when any attribute repeats.
    val rPlan =
      if (lPlan.outputSet.intersect(rPlan0.outputSet).nonEmpty)
        org.apache.spark.sql.catalyst.plans.logical.Project(
          rPlan0.output.map(a =>
            org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()),
          rPlan0)
      else rPlan0
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${plan.output.map(_.name).mkString(", ")}"))
    ColumnShim.ofRows(spark, AsOfJoin(
      lPlan, rPlan,
      leftKeys.map(attr(lPlan, _)), rightKeys.map(attr(rPlan, _)),
      attr(lPlan, leftTimeCol), attr(rPlan, rightTimeCol),
      toleranceMicros, isInner = joinType == "inner"))
  }
}
