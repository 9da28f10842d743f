package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cast.Casts
import graft.config.PipelineConfig
import graft.meta.{DatasetInfo, Manifest}
import graft.sink.BronzeWriter
import graft.sources.CsvSource
import graft.validate.Validate

/** End-to-end delimited-file ingestion (reference pipeline 2,
  * app/ingestao_csv.py:24-127): all-string scan → header normalization
  * → required-column gate → extras warning → declared casts → dtype
  * gate → preview → partitioned bronze write → manifest sidecar.
  *
  * Unlike the reference, every step up to the write is LAZY plan
  * construction. An ingest runs three Spark jobs: the header read that
  * names the columns, the bronze write — which also observes the
  * manifest's row and null counts — and the manifest's head-3 preview
  * (plus one for `showPreview`).
  */
final case class IngestionResult(
    dataFile: String,
    manifestFile: String,
    rows: Long,
    undeclaredColumns: Seq[String])

object CsvIngestion {

  /** Build the cleaned, validated frame without writing — the pipeline's
    * query surface, also used by tests.
    */
  def prepare(spark: SparkSession, cfg: PipelineConfig): (DataFrame, Seq[String]) = {
    val csvCfg = cfg.csv.getOrElse(throw new IllegalArgumentException("config has no csv section"))
    val raw = CsvSource.read(spark, csvCfg)
    val renamed = Casts.renameColumns(raw, cfg.schema.renameMap)
    Validate.ensureRequiredColumns(renamed, cfg.schema.requiredColumns)
    val extras = Validate.undeclaredColumns(renamed, cfg.schema.declared)
    val cast = Casts.applyCasts(
      renamed,
      integerFields = cfg.schema.integerFields,
      stringFields = cfg.schema.stringFields,
      floatFields = cfg.schema.floatFields)
    Validate.checkDtypes(
      cast,
      integerFields = cfg.schema.integerFields,
      stringFields = cfg.schema.stringFields,
      floatFields = cfg.schema.floatFields)
    (cast, extras)
  }

  /** Preview projection + limit (reference app/ingestao_csv.py:80-88). */
  def previewDf(df: DataFrame, cfg: PipelineConfig): DataFrame = {
    val cols = Validate.ensureProjectable(df, cfg.previewColumns)
    df.select(cols.map(col).toIndexedSeq: _*).limit(cfg.previewLimit)
  }

  def run(
      spark: SparkSession,
      cfg: PipelineConfig,
      runId: String = java.util.UUID.randomUUID().toString,
      clock: java.time.Clock = java.time.Clock.systemDefaultZone(),
      showPreview: Boolean = false): IngestionResult = {
    val (cleaned, extras) = prepare(spark, cfg)
    if (extras.nonEmpty)
      System.err.println(s"[csv-ingestion] undeclared columns kept: ${extras.mkString(", ")}")
    if (showPreview && cfg.previewColumns.nonEmpty) previewDf(cleaned, cfg).show(truncate = false)

    val partValue = Casts.todayYyyymmdd(clock)
    val dataFile = BronzeWriter.write(spark, cleaned, cfg.sink, partValue)
    val info = DatasetInfo(
      datasetId = cfg.datasetId,
      origin = cfg.origin,
      delimiter = cfg.csv.map(_.sep).getOrElse(";"),
      encoding = cfg.csv.map(_.encoding).getOrElse("UTF-8"),
      partitionKey = cfg.sink.partitionKey,
      partitionValue = partValue,
      runId = runId,
      producer = "graft")
    val manifest = Manifest.forWrittenFile(spark, cleaned, dataFile, info, clock = clock)
    val manifestFile = Manifest.write(spark, manifest, dataFile)
    IngestionResult(dataFile, manifestFile, manifest.schemaStats.rows, extras)
  }
}
