package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scratch profiling harness (dev only). */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val split = if (args.length > 1) args(1) else "1m"
    val spark = Graft.session(Graft.Suite)
    spark.conf.set("spark.sql.files.maxPartitionBytes", split)

    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[profile] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(DecimalType(18, 4))).cast(DoubleType)
    def dsum8(c: org.apache.spark.sql.Column) = sum(c.cast(DecimalType(30, 8))).cast(DoubleType)

    // `all` mode: cold+warm sweep of every query (ground truth for the
    // bench, minus the VM's intermittent noise windows — compare the two
    // runs: a big cold/warm gap on a re-run is noise, not plan cost)
    if (args.length > 2 && args(2) == "all") {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        time(s"$name cold")(noop(fn(spark, sfDir)))
        time(s"$name warm")(noop(fn(spark, sfDir)))
      }
      spark.stop()
      return
    }
    // `jobs:<prefix,...>` mode: count Spark JOBS (and their stages/
    // tasks) per query — sequential eager actions (pins, counts,
    // isEmpty convergence checks) are invisible in a plan dump but
    // each one is a scheduler barrier: a query's stall sensitivity
    // under host noise scales with its job count, not its task count
    // (every barrier serially samples the noise window). Warm run.
    if (args.length > 2 && args(2).startsWith("jobs:")) {
      val prefixes = args(2).stripPrefix("jobs:").split(',').toSeq
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val stages = new java.util.concurrent.atomic.AtomicInteger
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
          tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
        }
      })
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => prefixes.exists(n.startsWith) }
        .foreach { case (name, fn) =>
          noop(fn(spark, sfDir)) // warm-up / JIT
          // listener delivery is async — in-flight warm-up onJobStart
          // events landing after the reset would inflate the measured
          // counts; drain before zeroing
          org.apache.spark.sql.graftshim.ColumnShim.drainListenerBus(spark)
          jobs.set(0); stages.set(0); tasks.set(0)
          val t0 = System.nanoTime()
          noop(fn(spark, sfDir))
          // listener delivery is async — drain before reading
          org.apache.spark.sql.graftshim.ColumnShim.drainListenerBus(spark)
          println(f"[profile] $name: jobs=${jobs.get}%3d stages=${stages.get}%4d " +
            f"tasks=${tasks.get}%6d warm=${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      spark.stop()
      return
    }
    // `jobsv:<prefix,...>` mode: like `jobs:` but prints each job's
    // call site — which code line fired each scheduler barrier
    if (args.length > 2 && args(2).startsWith("jobsv:")) {
      val prefixes = args(2).stripPrefix("jobsv:").split(',').toSeq
      val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val cs = j.stageInfos.map(_.name).distinct.mkString(" | ")
          lines.add(f"    job ${j.jobId}%3d stages=${j.stageInfos.size} " +
            f"tasks=${j.stageInfos.map(_.numTasks).sum}%5d  $cs")
        }
      })
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => prefixes.exists(n.startsWith) }
        .foreach { case (name, fn) =>
          noop(fn(spark, sfDir)) // warm-up / JIT
          org.apache.spark.sql.graftshim.ColumnShim.drainListenerBus(spark)
          lines.clear()
          noop(fn(spark, sfDir))
          org.apache.spark.sql.graftshim.ColumnShim.drainListenerBus(spark)
          println(s"[profile] $name: ${lines.size} jobs")
          lines.forEach(l => println(l))
        }
      spark.stop()
      return
    }
    // `only:<prefix,...>` mode: cold+warm for a targeted subset
    if (args.length > 2 && args(2).startsWith("only:")) {
      val prefixes = args(2).stripPrefix("only:").split(',').toSeq
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => prefixes.exists(n.startsWith) }
        .foreach { case (name, fn) =>
          time(s"$name cold")(noop(fn(spark, sfDir)))
          time(s"$name warm")(noop(fn(spark, sfDir)))
        }
      spark.stop()
      return
    }
    // focused mode: args(2) = comma-separated query names, 3 reps each
    if (args.length > 2) {
      args(2).split(',').foreach { name =>
        val fn = SparkEntry.queries(name)
        (1 to 3).foreach(r => time(s"$name rep$r")(noop(fn(spark, sfDir))))
      }
      spark.stop()
      return
    }

    println(s"[profile] entry() rows: ${SparkEntry.entry(spark).count()}")
    time("warmup")(li.count())
    println(s"[profile] lineitem partitions: ${li.rdd.getNumPartitions}")
    time("plain double sums x5")(noop(li.groupBy("l_returnflag").agg(
      count(lit(1)), sum("l_quantity"), sum("l_extendedprice"),
      sum(col("l_quantity") * col("l_extendedprice")),
      sum(col("l_quantity") * col("l_quantity")),
      sum(col("l_extendedprice") * col("l_extendedprice")))))
    time("decimal(18,4) sums x2")(noop(li.groupBy("l_returnflag").agg(
      count(lit(1)), dsum(col("l_quantity")), dsum(col("l_extendedprice")))))
    time("decimal(30,8) sums x3")(noop(li.groupBy("l_returnflag").agg(
      count(lit(1)),
      dsum8(col("l_quantity") * col("l_extendedprice")),
      dsum8(col("l_quantity") * col("l_quantity")),
      dsum8(col("l_extendedprice") * col("l_extendedprice")))))
    Seq("q46_cube", "q49_corr", "q60_salted_agg", "q61_typed_agg", "q62_charshingle_fp",
      "q18_q1_agg", "q24_rollup", "q30_text_stats", "q44_multimodal_meta").foreach { q =>
      time(s"$q cold")(noop(SparkEntry.queries(q)(spark, sfDir)))
      time(s"$q warm")(noop(SparkEntry.queries(q)(spark, sfDir)))
    }
    time("q49 exact shape")({
      val n = count(lit(1))
      val sx = dsum(col("l_quantity")); val sy = dsum(col("l_extendedprice"))
      val sxy = dsum8(col("l_quantity") * col("l_extendedprice"))
      val sxx = dsum8(col("l_quantity") * col("l_quantity"))
      val syy = dsum8(col("l_extendedprice") * col("l_extendedprice"))
      noop(li.groupBy("l_returnflag").agg(n.as("n"),
        ((sxy - sx * sy / n) /
          (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n))).as("corr")))
    })
    spark.stop()
  }
}
