package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into graft, plus the Spark
  * events that fall inside them.
  *
  * A span's id rides in a Spark local property, so every job the
  * calling thread submits (and every job AQE submits on its own
  * threads, which inherit the caller's properties) carries the id of
  * the innermost open span. Planning phases carry wall-clock stamps
  * and are attributed to the innermost span whose interval holds
  * their start. Jobs and phases outside any span are ignored: they
  * belong to untraced operations.
  *
  * Spans are kept in memory and summarised once, at the end of a run.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  /** The session's task slots. */
  val cores: Int = sc.defaultParallelism
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  // listener-bus state, written on the bus thread, read after a drain
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val work = mutable.HashMap.empty[Int, Work]
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)]

  private def workOf(span: Int): Work = work.getOrElseUpdate(span, new Work)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { s =>
        val span = s.toInt
        jobs(e.jobId) = Job(span, e.time)
        workOf(span).jobs += 1
        e.stageInfos.foreach(si => stageSpan(si.stageId) = span)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach { span =>
        val w = workOf(span)
        w.stages += 1
        if (e.stageInfo.numTasks < cores) w.smallStages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val w = workOf(span)
        w.tasks += 1
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.bytesRead += m.inputMetrics.bytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.endTimeMs)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerBusDrain(sc)

  /** Run `body` inside a span named `name`, child of the open span. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.nanoTime(), System.currentTimeMillis())
    val compile0 = CodeGenerator.compileTime
    val gc0 = gcMillis()
    spans += s
    open = s :: open
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.compileNs = CodeGenerator.compileTime - compile0
      s.gcMs = gcMillis() - gc0
      open = open.tail
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Summary of everything attributed to spans named `name` and their
    * descendants, one row per span. Call after [[drain]]. */
  def summaries(name: String): Seq[Summary] = synchronized {
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree).toSeq
    val phaseOwner = assignPhases()
    spans.filter(_.name == name).toSeq.map { s =>
      val ids = subtree(s).map(_.id).toSet
      val w = new Work
      ids.foreach { id =>
        work.get(id).foreach { x =>
          w.jobs += x.jobs; w.stages += x.stages; w.smallStages += x.smallStages
          w.tasks += x.tasks; w.runMs += x.runMs; w.cpuNs += x.cpuNs
          w.bytesRead += x.bytesRead; w.shuffleWrite += x.shuffleWrite; w.spill += x.spill
        }
        w.planningMs += phaseOwner.getOrElse(id, 0L)
      }
      val intervals = jobs.values.filter(j => ids(j.span)).map(j => (j.startMs, j.endMs)).toSeq
      Summary(s, w, intervals)
    }
  }

  /** Planning milliseconds per innermost span holding the phase start. */
  private def assignPhases(): Map[Int, Long] = {
    val out = mutable.HashMap.empty[Int, Long]
    phases.foreach { case (start, end) =>
      spans.filter(s => s.startMs <= start && start <= s.endMs)
        .maxByOption(_.startNs).foreach(s => out(s.id) = out.getOrElse(s.id, 0L) + (end - start))
    }
    out.toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, startNs: Long, startMs: Long) {
    var endNs = 0L
    var endMs = 0L
    var compileNs = 0L
    var gcMs = 0L
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final case class Job(span: Int, startMs: Long) { var endMs = 0L }
  final class Work {
    var jobs = 0; var stages = 0; var smallStages = 0; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var bytesRead = 0L
    var shuffleWrite = 0L; var spill = 0L; var planningMs = 0L
  }

  final case class Summary(
      span: Span, work: Work, jobIntervals: Seq[(Long, Long)]) {
    def seconds: Double = span.seconds
    /** Span time not covered by any of its jobs: driver-side work. */
    def selfSeconds: Double = {
      val lo = span.startMs; val hi = span.endMs
      var covered = 0L; var cursor = lo
      jobIntervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (b > cursor) { covered += b - math.max(a, cursor); cursor = b }
        }
      math.max(0.0, span.seconds - covered / 1e3)
    }
  }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }
}
