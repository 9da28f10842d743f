package graft.pipeline

import graft.{JobCount, SparkSpec}
import graft.config.PipelineConfig
import graft.meta.{DatasetInfo, Manifest}
import graft.sources.{ApiSource, ApiTransport, FixtureTransport, HttpStatusError}
import java.nio.file.{Files, Paths}

class ApiIngestionSpec extends SparkSpec {

  private val clock = java.time.Clock.fixed(
    java.time.Instant.parse("2025-10-20T12:00:00Z"), java.time.ZoneOffset.UTC)

  private def writeFixtures(dir: java.nio.file.Path): (String, String) = {
    val users =
      """[
        |{"id": 7, "name": "Kurtis Weissnat", "username": "Elwyn.Skiles", "email": "k@x.io", "phone": "ignored"},
        |{"id": 1, "name": "Leanne Graham", "username": "Bret", "email": "l@x.io", "phone": "ignored"}
        |]""".stripMargin
    val posts =
      """[
        |{"userId": 7, "id": 61, "title": "voluptatem", "body": "line one\nline two"},
        |{"userId": 7, "id": 62, "title": "beatae", "body": "b; with delimiter"},
        |{"userId": 1, "id": 1, "title": "other user", "body": "x"}
        |]""".stripMargin
    val uf = dir.resolve("users.json"); Files.write(uf, users.getBytes("UTF-8"))
    val pf = dir.resolve("posts.json"); Files.write(pf, posts.getBytes("UTF-8"))
    (uf.toString, pf.toString)
  }

  private def cfgs(baseDir: String): (PipelineConfig, PipelineConfig) = {
    val users = PipelineConfig.fromJson(
      s"""{
         | "dataset_id": "tb_test_users", "origin": "api-fixture",
         | "api": {"base_url": "https://api.test", "endpoints": {"users": "/users", "posts": "/posts"},
         |         "timeout": 20, "retries": 2},
         | "schema": {
         |   "rename_map": {"id": "user_id", "name": "nome", "username": "usuario", "email": "email"},
         |   "required_columns": ["user_id", "nome", "usuario", "email"],
         |   "integer_fields": ["user_id"],
         |   "string_fields": ["nome", "usuario", "email"]},
         | "sink": {"base_dir": "$baseDir", "table": "tb_test_users", "file_name": "users.txt"}
         |}""".stripMargin)
    val posts = PipelineConfig.fromJson(
      s"""{
         | "dataset_id": "tb_test_posts", "origin": "api-fixture",
         | "api": {"base_url": "https://api.test", "endpoints": {"users": "/users", "posts": "/posts"},
         |         "timeout": 20, "retries": 2},
         | "schema": {
         |   "rename_map": {"userId": "user_id", "id": "post_id", "title": "titulo", "body": "conteudo"},
         |   "required_columns": ["user_id", "post_id", "titulo", "conteudo"],
         |   "integer_fields": ["user_id", "post_id"],
         |   "string_fields": ["titulo", "conteudo"]},
         | "sink": {"base_dir": "$baseDir", "table": "tb_test_posts", "file_name": "posts.txt"}
         |}""".stripMargin)
    (users, posts)
  }

  test("end-to-end: lookup by name drives source-side pushdown; manifests written") {
    val tmp = Files.createTempDirectory("graft-api-test")
    val (uf, pf) = writeFixtures(tmp)
    val transport = new FixtureTransport(Map(
      "https://api.test/users" -> uf,
      "https://api.test/posts" -> pf))
    val (usersCfg, postsCfg) = cfgs(tmp.resolve("bronze").toString)

    val res = ApiIngestion.run(spark, usersCfg, postsCfg, transport,
      targetName = "Kurtis Weissnat", runId = "run-api", clock = clock)

    assert(res.targetUserId === 7L)
    assert(res.users.rows === 2)
    assert(res.posts.rows === 2) // pushdown filtered user 1's post at the source
    assert(res.posts.dataFile.contains("tb_test_posts/anomesdia=20251020/posts.txt"))

    val postsManifest = new String(Files.readAllBytes(
      java.nio.file.Paths.get(res.posts.dataFile + ".manifest.json")), "UTF-8")
    assert(postsManifest.contains("\"user_id\": \"7\"")) // extra section
    // reference-format sidecar: PT key names + endpoint + pandas dtypes
    // (reference app/utils/metadata.py:52-81)
    assert(postsManifest.contains("\"endpoint\": \"https://api.test/posts\""))
    assert(postsManifest.contains("\"linhas\": 2"))
    assert(postsManifest.contains("\"origem\""))
    assert(postsManifest.contains("\"delimitador\""))
    assert(postsManifest.contains("\"Int64\"")) // user_id dtype, pandas name
  }

  test("missing target user raises TargetUserNotFound") {
    val tmp = Files.createTempDirectory("graft-api-miss")
    val (uf, pf) = writeFixtures(tmp)
    val transport = new FixtureTransport(Map(
      "https://api.test/users" -> uf, "https://api.test/posts" -> pf))
    val (usersCfg, postsCfg) = cfgs(tmp.resolve("bronze").toString)
    intercept[TargetUserNotFound] {
      ApiIngestion.run(spark, usersCfg, postsCfg, transport, targetName = "Nobody")
    }
  }

  test("safeGet honors Retry-After on 429 then succeeds; backoff is capped") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val flaky = new ApiTransport {
      def get(url: String, params: Map[String, String], timeoutSec: Int): String = {
        calls += 1
        if (calls <= 2) throw new HttpStatusError(429, Some("3"))
        """[{"ok": true}]"""
      }
    }
    val body = ApiSource.safeGet(flaky, "u", Map.empty, 1, retries = 2, sleep = sleeps.append(_))
    assert(body.contains("ok"))
    assert(calls === 3)
    assert(sleeps.toSeq === Seq(3000L, 3100L)) // Retry-After 3s + linear jitter
  }

  test("safeGet exhausts retries then raises ApiError") {
    val dead = new ApiTransport {
      def get(url: String, params: Map[String, String], timeoutSec: Int): String =
        throw new HttpStatusError(500, None)
    }
    val e = intercept[graft.sources.ApiError] {
      ApiSource.safeGet(dead, "u", Map.empty, 1, retries = 1, sleep = _ => ())
    }
    assert(e.getMessage.contains("after 2 attempts"))
  }

  private def manifestOf(res: IngestionResult): String =
    new String(Files.readAllBytes(Paths.get(res.dataFile + ".manifest.json")), "UTF-8")

  test("run: seven jobs, and both manifests equal the ones built from tableStats scans") {
    val tmp = Files.createTempDirectory("graft-api-eq")
    val (uf, pf) = writeFixtures(tmp)
    val transport = new FixtureTransport(Map(
      "https://api.test/users" -> uf, "https://api.test/posts" -> pf))
    val (usersCfg, postsCfg) = cfgs(tmp.resolve("bronze").toString)
    val (res, jobs) = JobCount(spark)(ApiIngestion.run(spark, usersCfg, postsCfg, transport,
      targetName = "Kurtis Weissnat", runId = "run-eq", clock = clock))
    // users schema inference, user lookup, posts schema inference,
    // then a write and a preview per table
    assert(jobs === 7)

    // the reference path: frames BronzeWriter did not write get a scan
    val users = ApiIngestion.fetchUsers(spark, usersCfg, transport)
    val posts = ApiIngestion.fetchPostsByUserId(spark, postsCfg, transport, res.targetUserId)
    for ((df, c, key, extra, out) <- Seq(
        (users, usersCfg, "users", Map.empty[String, String], res.users),
        (posts, postsCfg, "posts", Map("user_id" -> "7"), res.posts))) {
      val info = DatasetInfo(c.datasetId, c.origin, ";", "UTF-8", c.sink.partitionKey, "20251020",
        "run-eq", "graft", Some(s"https://api.test/$key"))
      val reference = Manifest.forWrittenFile(spark, df, out.dataFile, info, extra = extra, clock = clock)
      assert((reference.schemaStats.rows, reference.schemaStats.nullCounts) === Manifest.tableStats(df))
      assert(reference.schemaStats.preview === df.limit(3).toJSON.collect().toSeq)
      assert(manifestOf(out) === Manifest.toJson(reference), key)
    }
  }

  test("a target user with no posts: finishes and records zero posts") {
    val tmp = Files.createTempDirectory("graft-api-noposts")
    val (uf, pf) = writeFixtures(tmp)
    val users = tmp.resolve("users-more.json")
    Files.write(users, new String(Files.readAllBytes(Paths.get(uf)), "UTF-8")
      .replace("\n]", ",\n{\"id\": 3, \"name\": \"Clementine Bauch\", \"username\": \"Samantha\", \"email\": \"c@x.io\"}\n]")
      .getBytes("UTF-8"))
    val transport = new FixtureTransport(Map(
      "https://api.test/users" -> users.toString, "https://api.test/posts" -> pf))
    val (usersCfg, postsCfg) = cfgs(tmp.resolve("bronze").toString)
    val (res, jobs) = JobCount(spark)(ApiIngestion.run(spark, usersCfg, postsCfg, transport,
      targetName = "Clementine Bauch", runId = "run-none", clock = clock))
    assert(jobs === 7) // as with posts: the empty write's counts were observed, not scanned
    assert(res.targetUserId === 3L)
    assert(res.users.rows === 3)
    assert(res.posts.rows === 0)
    assert(manifestOf(res.posts).contains("\"linhas\": 0"))
    assert(new String(Files.readAllBytes(Paths.get(res.posts.dataFile)), "UTF-8") ===
      "user_id;post_id;titulo;conteudo\n")
  }
}
