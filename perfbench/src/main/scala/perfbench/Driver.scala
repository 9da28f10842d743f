package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.{Clock, Instant, ZoneOffset}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.cast.Casts
import graft.config.PipelineConfig
import graft.meta.{DatasetInfo, Manifest}
import graft.pipeline.{ApiIngestion, CsvIngestion}
import graft.sink.BronzeWriter
import graft.sources.FixtureTransport

/** One benchmark run of one workload, driven through graft's public
  * entry points by a single closed-loop client.
  *
  * A run sets up once from a cold JVM (session build, the workload's
  * warm-up and, for the query mix, two warm-up passes), then runs
  * iterations until `seconds` have passed. With tracing on, iterations
  * alternate untraced, traced, traced, untraced, ... so the same run
  * also yields the tracing overhead without the JVM's remaining
  * warm-up falling on one side. Everything measured lands in
  * `<work>/result.json`; run.py checks the outputs named there and
  * prints the metrics.
  *
  * Inputs (written by gen.py before this JVM starts, under `<work>`):
  * `ibc_1x.csv`, `api/users.json`, `api/posts.json` and `star/` (the
  * query suite's tables).
  */
object Driver {

  /** graft.Main runs `local[<nproc>]` and graft.Bench `local[4]`; the
    * benchmark pins both to 4 cores so its figures do not depend on the
    * host's size. */
  val Cores = 4

  /** Six domains of the suite (relational, dedup, graph, window, TxLog
    * streaming, vector), covering the driver-loop (q132), window-funnel
    * (q144) and codegen-recompile (q271) leads; README.md says why not
    * more. */
  val QueryMix = Seq("q18_q1_agg", "q77_dup_clusters", "q132_pagerank",
    "q144_pareto_suppliers", "q229_txlog_stream_agg", "q271_ivfpq_rerank")

  final case class Op(kind: String, name: String, seconds: Double, ok: Boolean,
      error: String = "", dir: String = "", digest: String = "")
  final case class Iteration(seconds: Double, traced: Boolean, ops: Seq[Op])

  def main(argv: Array[String]): Unit = {
    val started = System.nanoTime()
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val bench = new Driver(a("workload"), a("seconds").toDouble, a("trace") == "1",
      a("seed").toLong, work, Paths.get(a("repo")).toAbsolutePath)
    val json = bench.run(started)
    Files.write(work.resolve("result.json"), json.getBytes("UTF-8"))
  }

  /** graft.Main's session (the ingest CLI), on [[Cores]] cores. */
  def mainSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-ingestion")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** graft.Bench's session settings. Bench puts `spark.local.dir` on
    * /dev/shm unless `SPARK_GRAFT_NO_SHM` is set; run.py sets it, so
    * that Spark's scratch stays in the checkout, and the local dir is
    * Spark's default (`java.io.tmpdir`, which run.py points into the
    * checkout). */
  def benchSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // graft.Bench's own warm-up job
    spark.range(100000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark
  }

  /** graft.Bench's between-query cleanup. */
  def dropAllBlocks(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def heapUsedPeakMb(): Double = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetHeapPeaks(): Unit = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.foreach(_.resetPeakUsage())
}

final class Driver(workload: String, seconds: Double, trace: Boolean, seed: Long,
    work: Path, repo: Path) {
  import Driver._

  private val csv1x = work.resolve("ibc_1x.csv").toString
  private val starDir = work.resolve("star").toString
  private val ibcCfg = PipelineConfig.fromJsonFile(repo.resolve("configs/indicadores_municipios.json").toString)
  private val usersCfg = PipelineConfig.fromJsonFile(repo.resolve("configs/simulacao_users.json").toString)
  private val postsCfg = PipelineConfig.fromJsonFile(repo.resolve("configs/simulacao_posts.json").toString)
  private val targetUser = "Kurtis Weissnat"
  private lazy val queries = SparkEntry.queries
  private var dirs = 0
  private var tracer: Option[Tracer] = None

  private def freshDir(tag: String): String = {
    dirs += 1
    work.resolve("bronze").resolve(f"$tag-$dirs%05d").toString
  }

  private def csvConfig(input: String, base: String): PipelineConfig =
    ibcCfg.copy(csv = ibcCfg.csv.map(_.copy(path = input)), sink = ibcCfg.sink.copy(baseDir = base))

  private def transport: FixtureTransport = {
    val api = usersCfg.api.get
    new FixtureTransport(Map(
      api.baseUrl + api.endpoints("users") -> work.resolve("api/users.json").toString,
      api.baseUrl + api.endpoints("posts") -> work.resolve("api/posts.json").toString))
  }

  private def timed(kind: String, name: String, dir: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    try { body; Op(kind, name, (System.nanoTime() - t0) / 1e9, ok = true, dir = dir) }
    catch {
      case e: Throwable =>
        Op(kind, name, (System.nanoTime() - t0) / 1e9, ok = false, error = e.toString, dir = dir)
    }
  }

  private def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** Run `body` traced by `t`, or untraced when `t` is empty. */
  private def tracedBy[T](t: Option[Tracer])(body: => T): T = {
    val saved = tracer
    tracer = t
    try body finally tracer = saved
  }

  // ---- operations -------------------------------------------------------

  /** One CSV ingest. Traced, it is CsvIngestion.run's own composition
    * with a span around each public call; the parity check proves the
    * two still write the same manifest. */
  private def csvIngest(spark: SparkSession, base: String,
      runId: String = java.util.UUID.randomUUID().toString,
      clock: Clock = Clock.systemDefaultZone()): Unit = {
    val cfg = csvConfig(csv1x, base)
    if (tracer.isEmpty) CsvIngestion.run(spark, cfg, runId = runId, clock = clock)
    else span("csv_ingest") {
      val (cleaned, _) = span("prepare")(CsvIngestion.prepare(spark, cfg))
      val partValue = Casts.todayYyyymmdd(clock)
      val dataFile = span("write")(BronzeWriter.write(spark, cleaned, cfg.sink, partValue))
      val info = DatasetInfo(
        datasetId = cfg.datasetId,
        origin = cfg.origin,
        delimiter = cfg.csv.map(_.sep).getOrElse(";"),
        encoding = cfg.csv.map(_.encoding).getOrElse("UTF-8"),
        partitionKey = cfg.sink.partitionKey,
        partitionValue = partValue,
        runId = runId,
        producer = "graft")
      val manifest = span("manifest")(Manifest.forWrittenFile(spark, cleaned, dataFile, info, clock = clock))
      span("manifest_write")(Manifest.write(spark, manifest, dataFile))
    }
  }

  /** One API ingest (users, lookup, posts). Traced, it is
    * ApiIngestion.run's composition with spans, as for the CSV path. */
  private def apiIngest(spark: SparkSession, base: String,
      runId: String = java.util.UUID.randomUUID().toString,
      clock: Clock = Clock.systemDefaultZone()): Unit = {
    val uCfg = usersCfg.copy(sink = usersCfg.sink.copy(baseDir = base))
    val pCfg = postsCfg.copy(sink = postsCfg.sink.copy(baseDir = base))
    if (tracer.isEmpty) ApiIngestion.run(spark, uCfg, pCfg, transport, targetUser, runId = runId, clock = clock)
    else span("api_ingest") {
      val t = transport
      val users = span("fetch_users")(ApiIngestion.fetchUsers(spark, uCfg, t))
      val userId = span("resolve_user")(ApiIngestion.resolveTargetUserId(users, targetUser))
      val posts = span("fetch_posts")(ApiIngestion.fetchPostsByUserId(spark, pCfg, t, userId))
      val partValue = Casts.todayYyyymmdd(clock)
      def land(df: DataFrame, cfg: PipelineConfig, endpointKey: String, extra: Map[String, String]): Unit = {
        val dataFile = span("write")(BronzeWriter.write(spark, df, cfg.sink, partValue))
        val endpoint = cfg.api.map(a => a.baseUrl + a.endpoints.getOrElse(endpointKey, endpointKey))
        val info = DatasetInfo(
          datasetId = cfg.datasetId,
          origin = cfg.origin,
          delimiter = ";",
          encoding = "UTF-8",
          partitionKey = cfg.sink.partitionKey,
          partitionValue = partValue,
          runId = runId,
          producer = "graft",
          endpoint = endpoint)
        val m = span("manifest")(Manifest.forWrittenFile(spark, df, dataFile, info, extra = extra, clock = clock))
        span("manifest_write")(Manifest.write(spark, m, dataFile))
      }
      land(users, uCfg, "users", Map.empty)
      land(posts, pCfg, "posts", Map("user_id" -> userId.toString))
    }
  }

  /** One query: `fn` then a collect of every row; the digest is taken
    * after the clock stops. */
  private def query(spark: SparkSession, name: String): Op = {
    val fn = queries(name)
    var df: DataFrame = null
    var rows: Array[org.apache.spark.sql.Row] = null
    val op = timed("query", name, "") {
      if (tracer.isEmpty) { df = fn(spark, starDir); rows = df.collect() }
      else span(s"query.$name") {
        df = span("build")(fn(spark, starDir))
        rows = span("execute")(df.collect())
      }
    }
    val checked = if (op.ok) op.copy(digest = Digest(df.schema, rows)) else op
    dropAllBlocks(spark)
    checked
  }

  private def pass(spark: SparkSession, index: Int): Seq[Op] =
    new scala.util.Random(seed * 7919 + index).shuffle(QueryMix).map(query(spark, _))

  // ---- workloads --------------------------------------------------------

  private def session(): SparkSession =
    if (workload == "query_mix") benchSession() else mainSession()

  /** The part of set-up that follows the session build. For ingest, five
    * reference pairs: a JVM's first API ingest takes about 8 s, and the
    * timings settle after about ten ingest calls. For the query mix,
    * graft.Bench's own warm-up job
    * (run inside [[benchSession]]) and two passes over the mix: a JVM's
    * first pass takes three times as long as a warm one (class loading,
    * code generation, JIT) and its second still 30 % longer. */
  private def warmUp(spark: SparkSession): Unit = workload match {
    case "ingest_reference" => for (_ <- 1 to 5) {
      csvIngest(spark, freshDir("warm"))
      apiIngest(spark, freshDir("warm"))
    }
    case "query_mix" => for (i <- 1 to 2)
      pass(spark, -i).filterNot(_.ok).foreach(o =>
        throw new IllegalStateException(s"warm-up query ${o.name} failed: ${o.error}"))
  }

  private def iteration(spark: SparkSession, index: Int): Iteration = {
    val t0 = System.nanoTime()
    val ops = span("iteration") {
      workload match {
        case "ingest_reference" =>
          val csvDir = freshDir("csv")
          val apiDir = freshDir("api")
          Seq(timed("csv", "ibc_1x", csvDir)(csvIngest(spark, csvDir)),
            timed("api", "users_posts", apiDir)(apiIngest(spark, apiDir)))
        case "query_mix" => pass(spark, index)
      }
    }
    Iteration((System.nanoTime() - t0) / 1e9, tracer.isDefined, ops)
  }

  /** CsvIngestion.run and ApiIngestion.run against the traced
    * compositions, same run id and clock, same bronze dir: the
    * manifests must match byte for byte. */
  private def parity(spark: SparkSession, t: Tracer): Map[String, Boolean] = {
    val clock = Clock.fixed(Instant.parse("2026-01-01T12:00:00Z"), ZoneOffset.UTC)
    def manifests(base: String): Map[String, String] = {
      val s = Files.walk(Paths.get(base))
      try s.iterator().asScala.filter(_.toString.endsWith(".manifest.json"))
        .map(p => p.toString -> new String(Files.readAllBytes(p), "UTF-8")).toMap
      finally s.close()
    }
    def same(ingest: (String, Clock) => Unit): Boolean = {
      val base = freshDir("parity")
      tracedBy(None)(ingest(base, clock))
      val plain = manifests(base)
      tracedBy(Some(t))(ingest(base, clock))
      plain.nonEmpty && plain == manifests(base)
    }
    Map(
      "csv" -> same(csvIngest(spark, _, "parity", _)),
      "api" -> same(apiIngest(spark, _, "parity", _)))
  }

  /** Runs the workload; `started` is when the JVM entered main, so the
    * set-up time covers the cold start. */
  def run(started: Long): String = {
    val spark = session()
    warmUp(spark)
    val setupSeconds = (System.nanoTime() - started) / 1e9
    val config = Json.obj(configFacts(spark).map { case (k, v) => k -> Json.str(v) })
    val parityOk = if (!trace || workload != "ingest_reference") Map.empty[String, Boolean] else {
      val t = new Tracer(spark)
      t.start()
      try parity(spark, t) finally t.stop()
    }
    val active = if (trace) Some(new Tracer(spark)) else None
    active.foreach(_.start())
    resetHeapPeaks()
    val iterations = mutable.ArrayBuffer.empty[Iteration]
    val t0 = System.nanoTime()
    // traced runs take at least one untraced, traced, traced, untraced
    // round, so that the overhead compares balanced halves
    val minIterations = if (trace) 4 else 1
    while ((System.nanoTime() - t0) / 1e9 < seconds || iterations.size < minIterations) {
      // untraced, traced, traced, untraced, untraced, traced, ...
      val traced = (iterations.size + 1) / 2 % 2 == 1
      iterations += tracedBy(active.filter(_ => traced))(iteration(spark, iterations.size))
    }
    val layers = active.map { t =>
      t.stop()
      new Layers(t, iterations.toSeq, heapUsedPeakMb(), work).metrics
    }
    spark.stop()
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "setup_s" -> Json.num(setupSeconds),
      "config" -> config,
      "parity" -> Json.obj(parityOk.map { case (k, v) => k -> v.toString }.toSeq),
      "iterations" -> Json.arr(iterations.toSeq.map { it =>
        Json.obj(Seq(
          "seconds" -> Json.num(it.seconds),
          "traced" -> it.traced.toString,
          "ops" -> Json.arr(it.ops.map { o =>
            Json.obj(Seq("kind" -> Json.str(o.kind), "name" -> Json.str(o.name),
              "seconds" -> Json.num(o.seconds), "ok" -> o.ok.toString,
              "error" -> Json.str(o.error), "dir" -> Json.str(o.dir),
              "digest" -> Json.str(o.digest)))
          })))
      }),
      "layers" -> layers.map(m => Json.obj(m.map { case (k, v) => k -> Json.num(v) })).getOrElse("null")))
  }

  /** What the run ran on: session settings, JVM flags, where the files live. */
  private def configFacts(spark: SparkSession): Seq[(String, String)] = {
    val conf = spark.sparkContext.getConf
    Seq("spark.master", "spark.local.dir", "spark.sql.shuffle.partitions",
      "spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes",
      "spark.sql.unionOutputPartitioning", "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.session.timeZone", "spark.sql.adaptive.enabled")
      .map(k => k -> conf.getOption(k).orElse(spark.conf.getOption(k)).getOrElse("(default)")) ++ Seq(
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.filterNot(_.startsWith("--add-opens")).mkString(" "),
      "java.io.tmpdir" -> System.getProperty("java.io.tmpdir"),
      "inputs" -> work.toString,
      "bronze" -> work.resolve("bronze").toString,
      "flush" -> "Hadoop local FileSystem, page cache only, no fsync")
  }
}
