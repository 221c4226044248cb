package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `op` is the id of the op span it belongs to
  * (its own id for an op span, 0 outside ops); times are nanoTime. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      start: Long, end: Long)

/** Per-op counters read from process-wide sources at op start and end. */
final case class OpCounters(compiles: Long, compileNs: Long, jitMs: Long)

/** Spans kept in memory. When disabled, `span` runs its body and
  * records nothing, so untraced runs pay one branch per call. Spark
  * jobs are tied to the innermost open span through a local property,
  * which Spark copies onto every job the client thread submits. */
final class Tracer(val enabled: Boolean) {
  val spans = new mutable.ArrayBuffer[Span]
  val counters = mutable.HashMap.empty[Long, (OpCounters, OpCounters)]
  private val ids = new AtomicLong(0)
  private var stack: List[(Long, Long)] = Nil // (span id, op id)
  private var sc: SparkContext = _

  def attach(context: SparkContext): Unit = sc = context

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val id = ids.incrementAndGet()
    val (parent, op) = stack.headOption.getOrElse((0L, 0L))
    val opId = if (name.startsWith("op.")) id else op
    stack = (id, opId) :: stack
    if (sc != null) sc.setLocalProperty(Tracer.Property, id.toString)
    val before = if (opId == id) Tracer.counters() else null
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      if (before != null) counters(id) = (before, Tracer.counters())
      stack = stack.tail
      if (sc != null) sc.setLocalProperty(Tracer.Property, stack.headOption.map(_._1.toString).orNull)
      spans += Span(id, parent, opId, name, t0, t1)
    }
  }

  /** Every child span must lie inside its op span. */
  def nestingViolations: Int = {
    val ops = spans.filter(s => s.id == s.op).map(s => s.id -> s).toMap
    spans.count(s => s.op != 0 && s.id != s.op &&
      ops.get(s.op).forall(o => s.start < o.start || s.end > o.end))
  }

  def write(path: java.nio.file.Path, toEpochMs: Long => Double): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.start).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""start_ms":${toEpochMs(s.start)}%.3f,"end_ms":${toEpochMs(s.end)}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val Property = "perfbench.span"
  private val jit = ManagementFactory.getCompilationMXBean

  def counters(): OpCounters = OpCounters(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L)
}

/** Scheduler events, as they arrive on Spark's listener bus. */
final class JobLog extends SparkListener {
  final case class Job(id: Int, span: Long, start: Long, stages: Seq[Int])
  final case class Task(stage: Int, launch: Long, durationMs: Long, cpuNs: Long,
                        gcMs: Long, shuffleWrite: Long, spill: Long)

  val jobs = new ConcurrentLinkedQueue[Job]
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  val tasks = new ConcurrentLinkedQueue[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Property)))
    jobs.add(Job(e.jobId, span.map(_.toLong).getOrElse(0L), e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.duration,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Waits until every started job has been seen to end. */
  def drain(timeoutMs: Long): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (jobs.asScala.exists(j => !jobEnds.containsKey(j.id)) &&
           System.currentTimeMillis() < until) Thread.sleep(20)
  }
}

/** Derives the per-layer metrics from the spans and scheduler events of
  * the timed ops. */
object Layers {

  /** Layer spans, by the module whose public call they wrap. */
  val BuildSpans = Seq("align.build", "operators.build", "graph.build")

  def metrics(tr: Tracer, log: JobLog, opIds: Set[Long], toEpochMs: Long => Double,
              sessionMs: Double, opTypes: Seq[String],
              rows: Map[String, Seq[Long]]): Map[String, Double] = {
    val spans = tr.spans.filter(s => opIds(s.op)).toSeq
    val byId = tr.spans.map(s => s.id -> s).toMap
    val ops = spans.filter(s => s.id == s.op)
    val n = math.max(ops.size, 1).toDouble
    def ms(s: Span) = (s.end - s.start) / 1e6
    def total(name: String) = spans.filter(_.name == name).map(ms).sum / n

    val jobs = log.jobs.asScala.toSeq.filter(j => byId.get(j.span).exists(s => opIds(s.op)))
    val opOfJob = jobs.map(j => j.id -> byId(j.span).op).toMap
    val stageOp = jobs.flatMap(j => j.stages.map(_ -> opOfJob(j.id))).toMap
    val tasks = log.tasks.asScala.toSeq.filter(t => stageOp.contains(t.stage))
    val stagesRun = tasks.map(_.stage).distinct
    def eager(name: String) =
      jobs.count(j => byId(j.span).name == name).toDouble / n

    // op wall not covered by any running job of that op
    val gapMs = ops.map { o =>
      val (os, oe) = (toEpochMs(o.start), toEpochMs(o.end))
      val ivals = jobs.filter(j => opOfJob(j.id) == o.id).map { j =>
        (math.max(os, j.start.toDouble), math.min(oe, log.jobEnds.getOrDefault(j.id, j.start).toDouble))
      }.filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0.0; var reach = os
      for ((s, e) <- ivals) {
        val from = math.max(s, reach)
        if (e > from) { covered += e - from; reach = e }
      }
      (oe - os) - covered
    }
    val maxTask = ops.map { o =>
      tasks.filter(t => stageOp(t.stage) == o.id).map(_.durationMs).foldLeft(0L)(math.max)
    }
    val counterDelta = ops.flatMap(o => tr.counters.get(o.id)).map { case (a, b) =>
      (b.compiles - a.compiles, b.compileNs - a.compileNs, b.jitMs - a.jitMs)
    }

    val perType = opTypes.flatMap { t =>
      val mine = ops.filter(_.name == s"op.$t")
      val lat = mine.map(ms)
      val eagerJobs = jobs.count(j => BuildSpans.contains(byId(j.span).name) &&
        mine.exists(_.id == byId(j.span).op))
      Seq(
        s"op.$t.p50_ms" -> Stats.median(lat),
        s"op.$t.tail_ms" -> Stats.tail(lat),
        s"op.$t.rows" -> Stats.median(rows.getOrElse(t, Nil).map(_.toDouble)),
        s"op.$t.eager_jobs" -> (if (mine.isEmpty) 0.0 else eagerJobs.toDouble / mine.size))
    }

    Map(
      "core.session_ms" -> sessionMs,
      "align.build_ms" -> total("align.build"),
      "align.eager_jobs" -> eager("align.build"),
      "operators.build_ms" -> total("operators.build"),
      "catalog.register_ms" -> total("catalog.register"),
      "catalog.resolve_ms" -> total("catalog.resolve"),
      "graph.build_ms" -> total("graph.build"),
      "graph.eager_jobs" -> eager("graph.build"),
      "plan.ms_per_op" -> total("plan"),
      "spark.jobs_per_op" -> jobs.size / n,
      "spark.stages_per_op" -> stagesRun.size / n,
      "spark.tasks_per_op" -> tasks.size / n,
      "spark.job_gap_ms_per_op" -> gapMs.sum / n,
      "spark.task_wait_ms_per_op" ->
        tasks.map(t => math.max(0L, t.launch - log.stageSubmit.getOrDefault(t.stage, t.launch))).sum / n,
      "spark.task_cpu_ms_per_op" -> tasks.map(_.cpuNs).sum / 1e6 / n,
      "spark.max_task_ms" -> Stats.median(maxTask.map(_.toDouble)),
      "spark.shuffle_write_kb_per_op" -> tasks.map(_.shuffleWrite).sum / 1024.0 / n,
      "spark.spill_kb_per_op" -> tasks.map(_.spill).sum / 1024.0 / n,
      "spark.gc_ms_per_op" -> tasks.map(_.gcMs).sum / n,
      "codegen.compiles_per_op" -> counterDelta.map(_._1).sum / n,
      "codegen.compile_ms_per_op" -> counterDelta.map(_._2).sum / 1e6 / n,
      "jvm.jit_ms_per_op" -> counterDelta.map(_._3).sum / n
    ) ++ perType
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with at least ten samples beyond it; with
    * fewer than forty samples there is no such tail, and the median
    * stands in. */
  def tail(xs: Seq[Double]): Double =
    if (xs.size < 40) median(xs) else quantile(xs, 1.0 - 10.0 / xs.size)

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
}
