package graft.pipeline

import graft.{JobCount, SparkSpec}
import graft.config.PipelineConfig
import graft.meta.{DatasetInfo, Manifest}
import graft.sink.BronzeWriter
import graft.validate.SchemaError
import java.nio.file.{Files, Paths}

/** End-to-end CSV pipeline test on a fixture shaped like the
  * reference's input (reference data-lake/temp/IBC_municipios_...csv:
  * UTF-8 BOM, `;` delimiter, decimal commas, quoted field embedding
  * the delimiter).
  */
class CsvIngestionSpec extends SparkSpec {

  private val clock = java.time.Clock.fixed(
    java.time.Instant.parse("2025-10-20T12:00:00Z"), java.time.ZoneOffset.UTC)

  private def writeFixture(dir: java.nio.file.Path): String = {
    val csv = "﻿" + // UTF-8 BOM
      "Ano;Código Município;Município;Densidade\n" +
      "2023;1100015;\"Alta Floresta; D'Oeste\";29,45\n" +
      "2023;1100023;Ariquemes;1.234,56\n" +
      "2023;1100031;Cabixi;\n" +
      "2023;bad_code;Cacoal;44\n"
    val f = dir.resolve("input.csv")
    Files.write(f, csv.getBytes("UTF-8"))
    f.toString
  }

  private def cfg(input: String, baseDir: String): PipelineConfig = PipelineConfig.fromJson(
    s"""{
       | "dataset_id": "tb_test_municipios",
       | "origin": "unit-test",
       | "csv": {"path": "$input", "sep": ";", "encoding": "UTF-8", "header": true},
       | "schema": {
       |   "rename_map": {
       |     "Ano": "ano", "Código Município": "codigo_municipio",
       |     "Município": "municipio", "Densidade": "densidade"},
       |   "required_columns": ["ano", "codigo_municipio", "municipio"],
       |   "integer_fields": ["ano", "codigo_municipio"],
       |   "string_fields": ["municipio"],
       |   "float_fields": ["densidade"]},
       | "sink": {"base_dir": "$baseDir", "table": "tb_test_municipios",
       |          "file_name": "munic.txt"},
       | "preview_columns": ["municipio", "densidade"],
       | "preview_limit": 10
       |}""".stripMargin)

  test("full pipeline: BOM header, renames, locale casts, bronze layout, manifest") {
    val tmp = Files.createTempDirectory("graft-csv-test")
    val input = writeFixture(tmp)
    val bronze = tmp.resolve("bronze").toString

    val res = CsvIngestion.run(spark, cfg(input, bronze), runId = "run-1", clock = clock)

    assert(res.rows === 4)
    // Hive partition layout with the clock-driven date
    assert(res.dataFile.contains("tb_test_municipios/anomesdia=20251020/munic.txt"))
    assert(new java.io.File(new java.net.URI(res.manifestFile).getPath).exists
      || new java.io.File(res.manifestFile).exists)

    val (df, extras) = CsvIngestion.prepare(spark, cfg(input, bronze))
    assert(extras.isEmpty)
    // BOM stripped: first column is `ano`, not ﻿Ano
    assert(df.columns.toSeq === Seq("ano", "codigo_municipio", "municipio", "densidade"))
    val rows = df.orderBy("codigo_municipio").collect()
    // locale float: comma decimal and thousands dot
    val byName = df.collect().map(r => r.getAs[String]("municipio") -> r).toMap
    assert(byName("Alta Floresta; D'Oeste").getAs[Double]("densidade") === 29.45)
    assert(byName("Ariquemes").getAs[Double]("densidade") === 1234.56)
    assert(byName("Cabixi").isNullAt(3))          // empty → null
    assert(byName("Cacoal").getAs[Double]("densidade") === 44.0)
    assert(byName("Cacoal").isNullAt(1))          // bad int → null
    assert(rows.length === 4)

    val manifestJson = new String(Files.readAllBytes(
      java.nio.file.Paths.get(res.dataFile + ".manifest.json")), "UTF-8")
    assert(manifestJson.contains("\"linhas\": 4"))
    assert(manifestJson.contains("\"codigo_municipio\": 1")) // null count
    assert(manifestJson.contains("\"partition_value\": \"20251020\""))
    assert(manifestJson.contains("\"hash_md5\""))
  }

  test("missing required column raises SchemaError") {
    val tmp = Files.createTempDirectory("graft-csv-bad")
    val f = tmp.resolve("bad.csv")
    Files.write(f, "OnlyCol\n1\n".getBytes("UTF-8"))
    val c = cfg(f.toString, tmp.resolve("bronze").toString)
    intercept[SchemaError] { CsvIngestion.prepare(spark, c) }
  }

  test("undeclared extra columns are kept and reported") {
    val tmp = Files.createTempDirectory("graft-csv-extra")
    val f = tmp.resolve("extra.csv")
    Files.write(f,
      "Ano;Código Município;Município;Densidade;Surprise\n2023;1;X;1,0;zzz\n"
        .getBytes("UTF-8"))
    val c = cfg(f.toString, tmp.resolve("bronze").toString)
    val (df, extras) = CsvIngestion.prepare(spark, c)
    assert(extras === Seq("Surprise"))
    assert(df.columns.contains("Surprise"))
  }

  private def manifestOf(res: IngestionResult): String =
    new String(Files.readAllBytes(Paths.get(res.dataFile + ".manifest.json")), "UTF-8")

  private def info(c: PipelineConfig, runId: String) = DatasetInfo(
    datasetId = c.datasetId, origin = c.origin, delimiter = ";", encoding = "UTF-8",
    partitionKey = c.sink.partitionKey, partitionValue = "20251020", runId = runId,
    producer = "graft")

  test("run: three jobs, and the manifest equals the one built from a tableStats scan") {
    val tmp = Files.createTempDirectory("graft-csv-eq")
    val c = cfg(writeFixture(tmp), tmp.resolve("bronze").toString)
    val (res, jobs) = JobCount(spark)(CsvIngestion.run(spark, c, runId = "run-eq", clock = clock))
    assert(jobs === 3) // header read, bronze write, preview

    // the reference path: a frame BronzeWriter did not write gets a scan
    val (fresh, _) = CsvIngestion.prepare(spark, c)
    val reference = Manifest.forWrittenFile(spark, fresh, res.dataFile, info(c, "run-eq"), clock = clock)
    assert((reference.schemaStats.rows, reference.schemaStats.nullCounts) === Manifest.tableStats(fresh))
    assert(reference.schemaStats.preview === fresh.limit(3).toJSON.collect().toSeq)
    assert(manifestOf(res) === Manifest.toJson(reference))
  }

  test("the traced composition: forWrittenFile after BronzeWriter.write runs one job") {
    val tmp = Files.createTempDirectory("graft-csv-compose")
    val c = cfg(writeFixture(tmp), tmp.resolve("bronze").toString)
    val (cleaned, _) = CsvIngestion.prepare(spark, c)
    val dataFile = BronzeWriter.write(spark, cleaned, c.sink, "20251020")
    val (m, jobs) = JobCount(spark)(
      Manifest.forWrittenFile(spark, cleaned, dataFile, info(c, "run-c"), clock = clock))
    assert(jobs === 1) // the preview
    assert(m.schemaStats.rows === 4L)
    assert(m.schemaStats.nullCounts ===
      Map("ano" -> 0L, "codigo_municipio" -> 1L, "municipio" -> 0L, "densidade" -> 1L))
  }

  test("showPreview before the write leaves the manifest counts exact") {
    val tmp = Files.createTempDirectory("graft-csv-show")
    val c = cfg(writeFixture(tmp), tmp.resolve("bronze").toString)
    // preview_limit 2 < 4 rows: the preview action scans part of the frame
    val res = CsvIngestion.run(spark, c.copy(previewLimit = 2), runId = "run-show", clock = clock,
      showPreview = true)
    assert(res.rows === 4)
    assert(manifestOf(res).contains("\"linhas\": 4"))
    assert(manifestOf(res).contains("\"densidade\": 1"))
  }

  test("header-only CSV: finishes and records zero rows") {
    val tmp = Files.createTempDirectory("graft-csv-empty")
    val f = tmp.resolve("empty.csv")
    Files.write(f, "\uFEFFAno;Código Município;Município;Densidade\n".getBytes("UTF-8"))
    val (res, jobs) = JobCount(spark)(CsvIngestion.run(spark,
      cfg(f.toString, tmp.resolve("bronze").toString), runId = "run-empty", clock = clock))
    assert(jobs === 3) // as with rows: the empty write's counts were observed, not scanned
    assert(res.rows === 0)
    val json = manifestOf(res)
    assert(json.contains("\"linhas\": 0"))
    assert(json.contains("\"densidade\": 0"))
  }

  test("IBC-shaped fixture through the shipped config: generator's rows and null counts") {
    val tmp = Files.createTempDirectory("graft-csv-ibc")
    val input = tmp.resolve("ibc.csv")
    val facts = IbcFixture.write(input, seed = 20251020L, rows = 400)
    val shipped = PipelineConfig.fromJsonFile("configs/indicadores_municipios.json")
    val c = shipped.copy(
      csv = shipped.csv.map(_.copy(path = input.toString)),
      sink = shipped.sink.copy(baseDir = tmp.resolve("bronze").toString))
    val res = CsvIngestion.run(spark, c, runId = "run-ibc", clock = clock)
    assert(res.rows === facts.rows)
    assert(res.undeclaredColumns.isEmpty)

    val js = new com.fasterxml.jackson.databind.ObjectMapper().readTree(manifestOf(res))
    val stats = js.get("schema_stats")
    assert(stats.get("linhas").asLong === facts.rows)
    IbcFixture.Columns.foreach(col => assert(stats.get("nulos").get(col).asLong === facts.nulls(col), col))
    assert(facts.nulls("cobertura_area_agricultavel") > facts.rows / 2)

    // each hazard parsed, not just counted
    val (df, _) = CsvIngestion.prepare(spark, c)
    def byCode(code: String) = df.filter(df("codigo_municipio") === code).head()
    assert(byCode(facts.thousandsRow._1).getAs[Double]("densidade_smp") === facts.thousandsRow._2)
    assert(byCode(facts.bareRow._1).getAs[Double]("hhi_smp") === facts.bareRow._2)
    assert(byCode(facts.quotedRow._1).getAs[String]("municipio") === facts.quotedRow._2)
  }
}
