package graft

import graft.config.PipelineConfig
import graft.pipeline.{ApiIngestion, CsvIngestion, TargetUserNotFound}
import graft.sources.{ApiError, FixtureTransport, HttpTransport}
import graft.validate.SchemaError

/** CLI entry point — the counterpart of the reference's two script
  * mains (reference app/ingestao_csv.py:24, app/ingestao_api.py:133),
  * with the same exit-code contract: 0 ok, 1 unexpected, 2 domain
  * (target user missing / bad usage), 3 schema validation, 4 missing
  * input file.
  *
  * Usage:
  *   graft.Main csv <config.json>
  *   graft.Main api <usersConfig.json> <postsConfig.json> <targetName>
  *     [--fixture users=<path> posts=<path>]   (offline transport)
  */
object Main {

  def main(args: Array[String]): Unit = sys.exit(run(args))

  def run(args: Array[String]): Int = {
    if (args.length < 2) { usage(); return 2 }
    val spark = Graft.session(Graft.Ingest,
      deploy = sys.env.get("SPARK_MASTER").map("spark.master" -> _).toMap)
    try {
      args(0) match {
        case "csv" =>
          val res = CsvIngestion.run(spark, PipelineConfig.fromJsonFile(args(1)),
            showPreview = true)
          println(s"[graft] wrote ${res.rows} rows -> ${res.dataFile}")
          println(s"[graft] manifest -> ${res.manifestFile}")
          0
        case "api" =>
          if (args.length < 4) { usage(); return 2 }
          val usersCfg = PipelineConfig.fromJsonFile(args(1))
          val postsCfg = PipelineConfig.fromJsonFile(args(2))
          val target = args(3)
          val transport = parseFixtures(args.drop(4)) match {
            case Some(fixtures) =>
              val api = usersCfg.api.getOrElse(
                throw new IllegalArgumentException("config has no api section"))
              new FixtureTransport(fixtures.map { case (k, v) =>
                (api.baseUrl + api.endpoints.getOrElse(k, k)) -> v
              })
            case None => new HttpTransport
          }
          val res = ApiIngestion.run(spark, usersCfg, postsCfg, transport, target,
            showDisplay = true)
          println(s"[graft] users: ${res.users.rows} rows -> ${res.users.dataFile}")
          println(s"[graft] posts(user=${res.targetUserId}): ${res.posts.rows} rows -> ${res.posts.dataFile}")
          0
        case other =>
          System.err.println(s"unknown subcommand: $other"); usage(); 2
      }
    } catch {
      case e: TargetUserNotFound => System.err.println(s"[graft] ${e.getMessage}"); 2
      case e: SchemaError => System.err.println(s"[graft] schema error: ${e.getMessage}"); 3
      case e @ (_: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException) =>
        System.err.println(s"[graft] input not found: ${e.getMessage}"); 4
      case e @ (_: ApiError | _: org.apache.spark.sql.AnalysisException) =>
        System.err.println(s"[graft] ${e.getMessage}"); 1
    } finally spark.stop()
  }

  /** `--fixture users=<path> posts=<path>` → endpoint-key → file map. */
  private def parseFixtures(rest: Array[String]): Option[Map[String, String]] =
    if (rest.isEmpty || rest(0) != "--fixture") None
    else Some(rest.drop(1).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap)

  private def usage(): Unit = System.err.println(
    """usage: graft.Main csv <config.json>
      |       graft.Main api <usersCfg.json> <postsCfg.json> <targetName>
      |                 [--fixture users=<path> posts=<path>]""".stripMargin)
}
