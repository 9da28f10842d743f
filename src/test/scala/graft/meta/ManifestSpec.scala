package graft.meta

import graft.{JobCount, SparkSpec}
import graft.config.SinkConfig
import graft.sink.BronzeWriter
import java.nio.file.Files

class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private val clock = java.time.Clock.fixed(
    java.time.Instant.parse("2025-10-20T12:00:00Z"), java.time.ZoneOffset.UTC)
  private val ds = DatasetInfo("ds", "test", ";", "UTF-8", "anomesdia", "20251020", "r1", "graft")

  test("tableStats: one aggregate pass for rows + all null counts") {
    val df = Seq((Some(1), Some("a")), (None, Some("b")), (Some(3), None))
      .toDF("i", "s")
    val ((rows, nulls), jobs) = JobCount(spark)(Manifest.tableStats(df))
    assert(rows === 3L)
    assert(nulls === Map("i" -> 1L, "s" -> 1L))
    // a global aggregate under AQE: the shuffle-map stage and the
    // result stage each run as a job of their own
    assert(jobs === 2)
    // and the pass does not grow with the column count
    val wide = df.selectExpr("*", "i AS i2", "s AS s2", "i AS i3", "s AS s3")
    assert(JobCount(spark)(Manifest.tableStats(wide))._2 === jobs)
  }

  /** One partition, as a single-file input scans: the head-3 preview
    * then reads it in one job. */
  private val frame = Seq((Some(1), Some("a")), (None, Some("b")), (Some(3), None), (None, None))
    .toDF("i", "s").coalesce(1)

  private def written(df: org.apache.spark.sql.DataFrame): String =
    BronzeWriter.write(spark, df,
      SinkConfig(Files.createTempDirectory("graft-observed").toString, "t", "data.txt"), "20251020")

  test("forWrittenFile takes the counts from BronzeWriter's write: only the preview runs") {
    val path = written(frame)
    val (m, jobs) = JobCount(spark)(Manifest.forWrittenFile(spark, frame, path, ds, clock = clock))
    assert(m.schemaStats.rows === 4L)
    assert(m.schemaStats.nullCounts === Map("i" -> 2L, "s" -> 2L))
    assert(m.schemaStats.preview === frame.limit(3).toJSON.collect().toSeq)
    assert(jobs === 1)
  }

  test("actions on the frame before its write leave the observed counts exact") {
    val df = frame.select("*")
    assert(df.head(1).length === 1)
    df.limit(2).collect()
    val path = written(df)
    val (m, jobs) = JobCount(spark)(Manifest.forWrittenFile(spark, df, path, ds, clock = clock))
    assert(m.schemaStats.rows === 4L)
    assert(m.schemaStats.nullCounts === Map("i" -> 2L, "s" -> 2L))
    assert(jobs === 1)
  }

  test("forWrittenFile falls back to the scan for a frame or path BronzeWriter did not write") {
    val path = written(frame)
    val otherFrame = frame.select("*")
    val copy = Files.createTempDirectory("graft-copy").resolve("data.txt")
    Files.copy(java.nio.file.Paths.get(path), copy)
    for ((df, p) <- Seq(otherFrame -> path, frame -> copy.toString)) {
      val scanJobs = JobCount(spark)(Manifest.tableStats(df))._2
      val (m, jobs) = JobCount(spark)(Manifest.forWrittenFile(spark, df, p, ds, clock = clock))
      assert(m.schemaStats.rows === 4L)
      assert(m.schemaStats.nullCounts === Map("i" -> 2L, "s" -> 2L))
      assert(jobs === scanJobs + 1) // the scan, then the preview
    }
  }

  test("an empty frame's write records zero rows and zero nulls") {
    val empty = frame.filter("false")
    val path = written(empty)
    val (m, jobs) = JobCount(spark)(Manifest.forWrittenFile(spark, empty, path, ds, clock = clock))
    assert(m.schemaStats.rows === 0L)
    assert(m.schemaStats.nullCounts === Map("i" -> 0L, "s" -> 0L))
    assert(m.schemaStats.preview.isEmpty)
    assert(jobs === 0) // no scan, and an empty relation's preview runs no job
  }

  test("forFileOnly: header columns, line count minus header, BOM stripped") {
    val tmp = Files.createTempDirectory("graft-manifest")
    val f = tmp.resolve("data.csv")
    Files.write(f, "﻿a;b;c\n1;2;3\n4;5;6\n".getBytes("UTF-8"))
    val m = Manifest.forFileOnly(spark, f.toString, ds, clock = clock)
    assert(m.schemaStats.columns === Seq("a", "b", "c"))
    assert(m.schemaStats.rows === 2L)
    assert(m.core.sizeBytes === Files.size(f))
    assert(m.core.generatedAt === "2025-10-20T12:00:00")
    assert(m.core.md5.length === 32)
  }

  test("toJson escapes control characters and quotes") {
    val m = Manifest(
      CoreInfo("f\"n", "/d", 1L, "00", "2025-10-20T12:00:00"),
      ds,
      SchemaStats(Seq("c\t1"), Map("c\t1" -> "string"), 1L, Map("c\t1" -> 0L), Seq()))
    val js = Manifest.toJson(m)
    assert(js.contains("f\\\"n"))
    assert(js.contains("c\\t1"))
    // must be parseable JSON
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(js)
  }

  test("forFileOnly on a missing file raises FileNotFoundException") {
    intercept[java.io.FileNotFoundException] {
      Manifest.forFileOnly(spark, "/tmp/graft-does-not-exist.csv", ds, clock = clock)
    }
  }
}
