package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM per `sbt test`
  * run; getOrCreate dedups across suites).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Every message down a throwable's cause chain — streaming
    * failures wrap the interesting error in StreamingQueryException
    * layers, so asserts match against the whole chain. */
  def causeMessages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e =>
      Option(e.getMessage).toSeq ++ causeMessages(e.getCause))
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Graft.session(Graft.Ingest, cores = 2, deploy = Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
