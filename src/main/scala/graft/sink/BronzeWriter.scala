package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.config.SinkConfig
import graft.meta.Manifest

/** Hive-partitioned "bronze" landing writer.
  *
  * Reference layout (app/ingestao_api.py:113-130, app/ingestao_csv.py:90-113):
  * `<base>/<table>/<partition_key>=<YYYYMMDD>/<file>` — one file per
  * partition, `;`-separated CSV, header row, nulls as empty string.
  * Spark produces the identical directory layout natively with
  * `write.partitionBy(key)`.
  *
  * Scale posture: `singleFile = true` mirrors the reference's
  * one-file-per-partition (and gives byte-stable goldens for tests);
  * at 100 TB you set it false — the writer then keeps the upstream
  * parallelism and lands many part files per date partition, and
  * `format = "parquet"` is the right default (columnar, splittable,
  * predicate-pushdown-able on re-read).
  */
object BronzeWriter {

  /** Write one dated partition; returns the path of the written data
    * file (single-file mode) or the partition directory.
    *
    * The write carries the manifest's row and null counts as an
    * observation; once it succeeds they are recorded for this
    * (`df`, returned path) pair, so [[Manifest.forWrittenFile]] needs
    * no second pass over the data.
    */
  def write(
      spark: SparkSession,
      df: DataFrame,
      cfg: SinkConfig,
      partitionValue: String,
      singleFile: Boolean = true): String = {
    val partDir = s"${cfg.baseDir}/${cfg.table}/${cfg.partitionKey}=$partitionValue"
    Manifest.observedWrite(df) { observed =>
      val out = if (singleFile) observed.coalesce(1) else observed
      val writer = out.write.mode("overwrite")
      cfg.format match {
        case "csv" =>
          writer
            .option("sep", ";")
            .option("header", "true")
            .option("encoding", "UTF-8")
            .option("nullValue", "")
            .option("emptyValue", "")
            .option("lineSep", "\n")
            .csv(partDir)
        case "parquet" => writer.parquet(partDir)
        case other => throw new IllegalArgumentException(s"unsupported bronze format: $other")
      }
      if (singleFile) renameSinglePart(spark, partDir, cfg.fileName) else partDir
    }
  }

  /** Spark names its output `part-*`; the reference names files
    * explicitly (e.g. `users.txt`). Rename the single part file via
    * Hadoop FS for layout parity (SURVEY.md §7.4).
    */
  private def renameSinglePart(spark: SparkSession, dir: String, fileName: String): String = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(d).filter(s => s.getPath.getName.startsWith("part-"))
    require(parts.length == 1, s"expected exactly one part file in $dir, found ${parts.length}")
    val target = new Path(d, fileName)
    if (fs.exists(target)) fs.delete(target, false)
    fs.rename(parts.head.getPath, target)
    // drop Spark's _SUCCESS marker and crc sidecars for a clean bronze dir
    fs.listStatus(d).foreach { s =>
      val n = s.getPath.getName
      if (n == "_SUCCESS" || n.endsWith(".crc")) fs.delete(s.getPath, false)
    }
    target.toString
  }
}
