package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.LongType
import graft.functions.{AHash60, CosineSim, HilbertIndex, SimHash64}
import graft.plans.{BandedRangeJoin, GraftStrategies, PushFilterThroughAsOfJoin}

/** The one place graft builds a Spark session ([[session]]) and the one
  * way it installs its Catalyst pieces on a running session
  * ([[install]]). `spark-submit --conf spark.sql.extensions=graft.GraftExtensions`
  * injects the same functions, strategy and rules at build time.
  */
object Graft {

  /** What a session is for. A profile differs from another only where
    * their callers need different SQL settings. */
  sealed trait Profile
  /** Spark's own file splits: graft.Main, MakeReplica, ScaleProbe and
    * the tests. */
  case object Ingest extends Profile
  /** The query suite's harnesses (Bench, Verify, RunQuery, Profile). */
  case object Suite extends Profile
  /** Plan dumps (PlanAudit, ExplainDump): Suite with static plans. */
  case object Audit extends Profile

  /** Cores of a local session: `SPARK_GRAFT_CPUS`, else the machine's. */
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  // Spark 4.1's unionOutputPartitioning (default on) lets UnionExec
  // ADVERTISE its children's common hash partitioning while the
  // union RDD physically has the SUM of their partitions — a
  // downstream co-partitioned join then zips 32-vs-64 partition
  // RDDs and fails (observed on q319 once the table loader hash-
  // partitions embeddings); an aggregate could silently duplicate
  // split keys. Off = the pre-4.1 Unknown partitioning, which
  // re-inserts the exchange EnsureRequirements always added.
  private val UnionGuard = "spark.sql.unionOutputPartitioning"

  private def profileConf(profile: Profile): Seq[(String, String)] = profile match {
    case Ingest => Nil
    // sf0.x parquet is a single small file per table; the default
    // 128m split size would leave every scan single-task. 1m splits
    // emulate the many-block layout a real table has at scale.
    case Suite => Seq("spark.sql.files.maxPartitionBytes" -> "1m",
      "spark.sql.files.openCostInBytes" -> "65536")
    // AQE's pre-execution wrapper hides codegen spans and join
    // strategies until runtime
    case Audit => profileConf(Suite) :+ ("spark.sql.adaptive.enabled" -> "false")
  }

  /** A `local[cores]` session with graft installed. `deploy` carries
    * static deployment settings only: `spark.master`,
    * `spark.local.dir`, `spark.sql.warehouse.dir`. */
  def session(profile: Profile, cores: Int = Graft.cores,
      deploy: Map[String, String] = Map.empty): SparkSession = {
    val conf = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.app.name" -> "graft",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      UnionGuard -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true", // events.ts is TIMESTAMP(NANOS)
      "spark.ui.enabled" -> "false") ++ profileConf(profile) ++ deploy
    val spark = conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(if (profile == Audit) "ERROR" else "WARN")
    install(spark)
    spark
  }

  /** graft's SQL functions: the one list [[install]] and
    * [[GraftExtensions]] both register. */
  private[graft] val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash64(tokens: array<string>) takes one argument")
        SimHash64(children.head)
      }),
    ("ahash60",
      new ExpressionInfo(classOf[AHash60].getName, "ahash60"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "ahash60(text: string) takes one argument")
        AHash60(children.head)
      }),
    ("cosine_sim",
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim(a, b) takes two arguments")
        CosineSim(children.head, children(1))
      }),
    ("hilbert_index",
      new ExpressionInfo(classOf[HilbertIndex].getName, "hilbert_index"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "hilbert_index(x, y, bits) takes three arguments (bits a literal int)")
        val bits = children(2) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"hilbert_index bits must be a literal int, got $other")
        }
        HilbertIndex(Cast(children.head, LongType), Cast(children(1), LongType), bits)
      }))

  /** Planner strategy for the native as-of join (AsOfJoin → AsOfJoinExec). */
  private[graft] val strategies = Seq(GraftStrategies)

  /** Left-side filters commute below the as-of node; the banded
    * rewrite of range theta joins fires when
    * `spark.graft.rangeJoin.binSize` is > 0. */
  private[graft] val rules = Seq(PushFilterThroughAsOfJoin, BandedRangeJoin)

  /** Installs graft on a running session, idempotently (the Pathling
    * `SqlStrategy.setup` pattern): registers the SQL functions, adds
    * each strategy and rule that is absent, and turns the union guard
    * off, failing if it does not read back off. Library entry points
    * that need the guard or the strategy call it themselves. */
  def install(spark: SparkSession): Unit = {
    functions.foreach { case (name, info, builder) =>
      ColumnShim.registerFunction(spark, name, info, builder)
    }
    val x = spark.experimental
    x.extraStrategies ++= strategies.filterNot(x.extraStrategies.contains)
    x.extraOptimizations ++= rules.filterNot(x.extraOptimizations.contains)
    spark.conf.set(UnionGuard, "false")
    val guard = spark.conf.get(UnionGuard)
    if (guard != "false")
      throw new IllegalStateException(s"$UnionGuard reads '$guard' after install, not 'false'")
  }
}
