package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Per-layer metrics of one traced run, named `<module>.<what>`.
  *
  * Times are seconds per call of the public entry point the span wraps
  * (`sink.write_s`: one `BronzeWriter.write` of a CSV ingest), counts
  * are per call too, and the `spark.*` and `jvm.*` figures are per
  * iteration (one reference CSV + API pair, or one query pass). A layer
  * the workload does not run reports 0.
  */
final class Layers(t: Tracer, iterations: Seq[Driver.Iteration], peakHeapMb: Double,
    work: Path) {

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def per(name: String)(f: Tracer.Summary => Double): Double = mean(t.summaries(name).map(f))

  /** Calls made by traced CSV ingests: the sink and meta layers are
    * measured on the data path, the API's share shows in its own span. */
  private def csvCall(name: String)(f: Tracer.Summary => Double): Double = {
    val csv = t.summaries("csv_ingest").map(_.span.id).toSet
    mean(t.summaries(name).filter(s => csv(s.span.parent)).map(f))
  }

  /** Sizes of the bronze files written by traced CSV ingests. */
  private def csvOutputs: Seq[Double] = iterations.filter(_.traced).flatMap(_.ops)
    .filter(o => o.kind == "csv" && o.ok).flatMap { o =>
      val s = Files.walk(Paths.get(o.dir))
      try s.iterator().asScala.filter(_.toString.endsWith(".txt")).map(Files.size(_).toDouble).toSeq
      finally s.close()
    }

  def metrics: Seq[(String, Double)] = {
    val iters = t.summaries("iteration")
    def perIteration(f: Tracer.Summary => Double): Double =
      if (iters.isEmpty) 0.0 else iters.map(f).sum / iters.size
    val (traced, plain) = iterations.partition(_.traced)
    val csvIngests = t.summaries("csv_ingest").size
    def perInputByte(bytes: Double): Double =
      if (csvIngests == 0) 0.0 else bytes / Files.size(work.resolve("ibc_1x.csv"))
    val wall = perIteration(_.seconds)
    val taskRun = perIteration(_.work.runMs / 1e3)
    Seq(
      "pipeline.csv_ingest_s" -> per("csv_ingest")(_.seconds),
      "pipeline.api_ingest_s" -> per("api_ingest")(_.seconds),
      // CSV ingest time outside its four public calls; near 0 while
      // the traced composition is the whole of CsvIngestion.run
      "pipeline.csv_gap_s" -> (per("csv_ingest")(_.seconds) -
        Seq("prepare", "write", "manifest", "manifest_write").map(csvCall(_)(_.seconds)).sum),
      "pipeline.prepare_s" -> csvCall("prepare")(_.seconds),
      "pipeline.resolve_user_s" -> per("resolve_user")(_.seconds),
      "pipeline.jobs_per_csv_ingest" -> per("csv_ingest")(_.work.jobs),
      "pipeline.jobs_per_api_ingest" -> per("api_ingest")(_.work.jobs),
      "pipeline.driver_self_s" ->
        mean((t.summaries("csv_ingest") ++ t.summaries("api_ingest")).map(_.selfSeconds)),
      "sources.api_fetch_s" ->
        mean((t.summaries("fetch_users") ++ t.summaries("fetch_posts")).map(_.seconds)),
      "sources.read_amplification" -> perInputByte(per("csv_ingest")(_.work.bytesRead)),
      "sink.write_s" -> csvCall("write")(_.seconds),
      "sink.write_tasks" -> csvCall("write")(_.work.tasks),
      "sink.bytes_out_per_input_byte" -> perInputByte(mean(csvOutputs)),
      "meta.manifest_s" -> csvCall("manifest")(_.seconds),
      "meta.manifest_jobs" -> csvCall("manifest")(_.work.jobs),
      "meta.manifest_driver_s" -> csvCall("manifest")(_.selfSeconds),
      "meta.write_s" -> csvCall("manifest_write")(_.seconds),
      "queries.build_s" -> t.summaries("build").map(_.seconds).sum / math.max(1, iters.size),
      "queries.build_jobs" -> t.summaries("build").map(_.work.jobs).sum.toDouble / math.max(1, iters.size),
      "queries.execute_s" -> t.summaries("execute").map(_.seconds).sum / math.max(1, iters.size),
    ) ++ Driver.QueryMix.sorted.map(q => s"query.${q}_s" -> per(s"query.$q")(_.seconds)) ++ Seq(
      "spark.planning_s" -> perIteration(_.work.planningMs / 1e3),
      "spark.codegen_compile_s" -> perIteration(_.span.compileNs / 1e9),
      "spark.jobs" -> perIteration(_.work.jobs),
      "spark.stages" -> perIteration(_.work.stages),
      "spark.small_stages" -> perIteration(_.work.smallStages),
      "spark.tasks" -> perIteration(_.work.tasks),
      "spark.task_run_s" -> taskRun,
      "spark.task_cpu_s" -> perIteration(_.work.cpuNs / 1e9),
      "spark.executor_busy" -> (if (wall == 0) 0.0 else taskRun / (t.cores * wall)),
      "spark.shuffle_write_bytes" -> perIteration(_.work.shuffleWrite),
      "spark.spill_bytes" -> perIteration(_.work.spill),
      "jvm.gc_s" -> perIteration(_.span.gcMs / 1e3),
      "jvm.peak_heap_mb" -> peakHeapMb,
      "trace.overhead" -> (if (plain.isEmpty || traced.isEmpty) 0.0
        else median(traced.map(_.seconds)) / median(plain.map(_.seconds)) - 1),
    )
  }
}
