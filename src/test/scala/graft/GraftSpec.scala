package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.ColumnShim
import graft.plans.{AsOfJoin, AsOfJoinExec, BandedRangeJoin}
import graft.queries.QueryDef

/** `Graft.install` on a session graft did not build: a fresh session
  * with Spark 4.1's default union partitioning, no strategy and no
  * rules. */
class GraftSpec extends SparkSpec {

  private val UnionGuard = "spark.sql.unionOutputPartitioning"

  private def plainSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set(UnionGuard, "true")
    s
  }

  /** The raw as-of node, planned only by graft's strategy. */
  private def asOf(s: SparkSession): DataFrame = {
    import s.implicits._
    val l = Seq((1L, 100L), (2L, 500L)).toDF("k", "t").queryExecution.analyzed
    val r = Seq((1L, 90L), (2L, 490L)).toDF("rk", "rt").queryExecution.analyzed
    ColumnShim.ofRows(s, AsOfJoin(l, r, Seq(l.output.head), Seq(r.output.head),
      l.output(1), r.output(1), None, isInner = false))
  }

  private def rangeJoin(s: SparkSession): DataFrame = {
    import s.implicits._
    val points = (1L to 20L).map(i => (i, i * 7)).toDF("p_id", "p")
    val intervals = Seq((1L, 0L, 30L), (2L, 50L, 90L)).toDF("i_id", "lo", "hi")
    points.join(intervals, $"p" >= $"lo" && $"p" <= $"hi")
  }

  private def nestedLoop(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("NestedLoopJoin") || plan.contains("CartesianProduct")
  }

  test("install on a plain session: as-of exec, banded rewrite, union guard off") {
    val s = plainSession()
    assert(s.conf.get(UnionGuard) === "true")
    intercept[Throwable](asOf(s).queryExecution.executedPlan)
    Graft.install(s)
    assert(asOf(s).queryExecution.sparkPlan.collect { case e: AsOfJoinExec => e }.nonEmpty)
    assert(asOf(s).count() === 2)
    assert(nestedLoop(rangeJoin(s)))
    s.conf.set(BandedRangeJoin.BinSizeConf, "16")
    assert(!nestedLoop(rangeJoin(s)), rangeJoin(s).queryExecution.executedPlan.toString)
    assert(s.conf.get(UnionGuard) === "false")
  }

  test("install twice leaves the strategy and rule lists as they were") {
    val s = plainSession()
    Graft.install(s)
    val strategies = s.experimental.extraStrategies.length
    val rules = s.experimental.extraOptimizations.length
    Graft.install(s)
    assert(s.experimental.extraStrategies.length === strategies)
    assert(s.experimental.extraOptimizations.length === rules)
    val row = s.sql("SELECT simhash64(array('x')), ahash60('z'), " +
      "cosine_sim(array(1D, 0D), array(2D, 0D)), hilbert_index(1, 2, 4)").head()
    assert(row.getDouble(2) === 1.0)
  }

  test("loading embeddings turns the union guard off on the caller's session") {
    val dir = Files.createTempDirectory("graft-spec-sf").toString
    spark.range(8).selectExpr("id AS vec_id", "array(CAST(id AS FLOAT)) AS embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val s = plainSession()
    QueryDef.table(s, dir, "embeddings")
    assert(s.conf.get(UnionGuard) === "false")
  }

  test("Graft.session is the only session builder in the sources") {
    val needle = "SparkSession" + ".builder"
    val roots = Seq(Paths.get("src/main"), Paths.get("src/test"))
    assert(roots.forall(Files.isDirectory(_)), s"run from the repository root: $roots")
    val hits = roots.flatMap(r => Files.walk(r).iterator().asScala.toSeq)
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(needle))
      .map(_.toString)
    assert(hits === Seq(Paths.get("src/main/scala/graft/Graft.scala").toString))
  }
}
