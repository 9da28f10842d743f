package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.ColumnShim

/** Counts the Spark jobs a block submits. The block's jobs carry a
  * local property of the calling thread (AQE's own threads inherit
  * it), so work elsewhere in the shared test JVM is not counted; the
  * listener bus is drained before the count is read.
  */
object JobCount {
  private val Key = "graft.test.jobCount"

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Key) == tag)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val saved = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try {
      val out = body
      ColumnShim.drainListenerBus(spark)
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(Key, saved)
      sc.removeSparkListener(listener)
    }
  }
}
