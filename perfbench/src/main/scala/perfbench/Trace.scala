package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine work credited to one span: every job submitted while the span
  * was the innermost open span on the submitting thread. */
final class EngineAcc {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, schedMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, outputBytes = 0L

  def add(o: EngineAcc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; schedMs += o.schedMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputBytes += o.inputBytes; outputBytes += o.outputBytes
  }

  def fields: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> runMs, "task_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "sched_delay_ms" -> schedMs, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes)
}

/** Spark's public listener bus, read from outside the engine: the span
  * id travels as a job-local property, so each task's metrics land on
  * the span whose call submitted the job. */
final class EngineListener extends SparkListener {
  val bySpan = mutable.HashMap[Int, EngineAcc]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  /** Per stage: each task's shuffle-read bytes, for the skew ratio. */
  val stageReads = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private var started, ended = 0L

  private def spanOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Prop))).map(_.toInt).getOrElse(0)
  private def acc(s: Int) = bySpan.getOrElseUpdate(s, new EngineAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    acc(spanOf(e.properties)).jobs += 1; started += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = s
    acc(s).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageSpan.getOrElse(e.stageId, 0))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      val read = m.shuffleReadMetrics.totalBytesRead
      a.shuffleRead += read
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.outputBytes += m.outputMetrics.bytesWritten
      val info = e.taskInfo
      a.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      stageReads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += read
    }
  }

  /** Listener events arrive asynchronously; wait until every job that
    * started has also been seen to end (its task events precede it). */
  def drain(timeoutMs: Long = 10000): Unit = {
    val t0 = System.currentTimeMillis()
    Thread.sleep(50)
    while (synchronized(started != ended) && System.currentTimeMillis() - t0 < timeoutMs)
      Thread.sleep(20)
  }

  def total: EngineAcc = synchronized {
    val t = new EngineAcc; bySpan.values.foreach(t.add); t
  }

  def lastStage: Int = synchronized(if (stageSpan.isEmpty) -1 else stageSpan.keys.max)

  /** max ÷ median task shuffle-read, for each stage after `afterStage`
    * whose median task read some shuffle bytes (with at least two tasks). */
  def stageSkews(afterStage: Int): Seq[Double] = synchronized {
    stageReads.toSeq.filter { case (id, r) => id > afterStage && r.size >= 2 }
      .map { case (_, r) => (r.max.toDouble, Stats.median(r.map(_.toDouble))) }
      .collect { case (mx, med) if med > 0 => mx / med }
  }
}

/** Planning time of every executed query, from the
  * `QueryPlanningTracker` Spark attaches to each `QueryExecution`. */
final class PlanListener extends org.apache.spark.sql.util.QueryExecutionListener {
  @volatile var queries = 0L
  @volatile var planMs = 0L
  override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
      ns: Long): Unit = synchronized {
    queries += 1; planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
      e: Exception): Unit = ()
}

/** Engine totals at one instant, to be subtracted from a later one. */
final case class EngineMark(acc: EngineAcc, stage: Int, codegen: (Long, Double),
    planQueries: Long, planMs: Long, wallNs: Long)

object Tracer {
  val Prop = "perfbench.span"

  /** Spark's codegen instrumentation: one histogram update per compiled
    * class, valued in milliseconds. The reservoir holds every update
    * until it is full (1028), so count × mean is the exact total below
    * that and an estimate above it. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    (n, if (n == 0) 0.0 else h.getSnapshot.getMean * n)
  }
}

/** Spans around the harness's own calls into each engine module. When
  * disabled, [[span]] is a plain call, so untraced runs pay nothing. */
final class Tracer(val enabled: Boolean) {
  final class Span(val id: Int, val parent: Int, val name: String,
      val req: Long, val start: Long, val cg0: (Long, Double)) {
    @volatile var end: Long = 0L
    var cg1: (Long, Double) = cg0
    val notes = mutable.LinkedHashMap[String, Double]()
  }

  val spans = new ConcurrentLinkedQueue[Span]()
  val listener = new EngineListener
  val plans = new PlanListener
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Span]
  private val epoch = System.nanoTime()
  @volatile private var spark: Option[SparkSession] = None

  def attach(s: SparkSession): Unit = {
    spark = Some(s)
    if (enabled) {
      s.sparkContext.addSparkListener(listener)
      s.listenerManager.register(plans)
    }
  }

  def mark(): EngineMark = {
    listener.drain()
    EngineMark(listener.total, listener.lastStage, Tracer.codegen(),
      plans.queries, plans.planMs, System.nanoTime())
  }

  /** Engine counters between two marks, per operation where `ops` > 0:
    * the `engine.*` per-layer metrics, each ratio with its base. */
  def engineMetrics(a: EngineMark, b: EngineMark, ops: Long, cores: Int,
      planMsOverride: Option[Double] = None): Seq[(String, Metric)] = {
    val n = math.max(ops, 1L).toDouble
    def per(x: Double) = x / n
    val wallMs = (b.wallNs - a.wallNs) / 1e6
    val runMs = (b.acc.runMs - a.acc.runMs).toDouble
    val skews = listener.stageSkews(a.stage)
    val base = Map("ops" -> n)
    Seq(
      "engine.plan_ms" -> Metric(planMsOverride.getOrElse(per((b.planMs - a.planMs).toDouble)),
        "ms", base + ("queries" -> (b.planQueries - a.planQueries).toDouble)),
      "engine.codegen_ms" -> Metric(per(b.codegen._2 - a.codegen._2), "ms", base),
      "engine.codegen_classes" -> Metric(per((b.codegen._1 - a.codegen._1).toDouble), "count", base),
      "engine.jobs" -> Metric(per((b.acc.jobs - a.acc.jobs).toDouble), "count", base),
      "engine.stages" -> Metric(per((b.acc.stages - a.acc.stages).toDouble), "count", base),
      "engine.tasks" -> Metric(per((b.acc.tasks - a.acc.tasks).toDouble), "count", base),
      "engine.sched_delay_ms" -> Metric(per((b.acc.schedMs - a.acc.schedMs).toDouble), "ms", base),
      "engine.task_cpu_ms" -> Metric(per((b.acc.cpuNs - a.acc.cpuNs) / 1e6), "ms", base),
      "engine.gc_ms" -> Metric(per((b.acc.gcMs - a.acc.gcMs).toDouble), "ms", base),
      "engine.busy_frac" -> Metric(runMs / (wallMs * cores), "ratio",
        Map("task_run_ms" -> runMs, "wall_ms" -> wallMs, "cores" -> cores.toDouble)),
      "engine.shuffle_write_bytes" -> Metric(per((b.acc.shuffleWrite - a.acc.shuffleWrite).toDouble), "bytes", base),
      "engine.shuffle_read_bytes" -> Metric(per((b.acc.shuffleRead - a.acc.shuffleRead).toDouble), "bytes", base),
      "engine.spill_bytes" -> Metric(per((b.acc.spill - a.acc.spill).toDouble), "bytes", base),
      "engine.shuffle_skew" -> Metric(if (skews.isEmpty) 1.0 else skews.max, "ratio",
        Map("stages" -> skews.size.toDouble, "median_stage_skew" ->
          (if (skews.isEmpty) 1.0 else Stats.median(skews))))
    )
  }

  def span[T](name: String, req: Long = -1L)(body: => T): T = {
    if (!enabled) return body
    val parent = current.get
    val s = new Span(ids.incrementAndGet(), if (parent == null) 0 else parent.id,
      name, req, System.nanoTime(), Tracer.codegen())
    val sc = spark.map(_.sparkContext)
    current.set(s)
    sc.foreach(_.setLocalProperty(Tracer.Prop, s.id.toString))
    try body
    finally {
      s.end = System.nanoTime()
      s.cg1 = Tracer.codegen()
      spans.add(s)
      current.set(parent)
      sc.foreach(_.setLocalProperty(Tracer.Prop,
        if (parent == null) null else parent.id.toString))
    }
  }

  /** Attach a measured value (e.g. planning time) to the open span. */
  def note(key: String, v: Double): Unit =
    if (enabled) Option(current.get).foreach(_.notes(key) = v)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** A span's duration minus the part of it its children cover. */
  def selfMs: Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.end - s.start - covered) / 1e6
    }.toMap
  }

  def durations(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => (s.end - s.start) / 1e6)
  def totalMs(name: String): Double = durations(name).sum

  /** Engine work of a span and all its descendants. */
  def inclusive(pred: Span => Boolean): EngineAcc = {
    val kids = all.groupBy(_.parent)
    val out = new EngineAcc
    def walk(s: Span): Unit = {
      listener.synchronized(listener.bySpan.get(s.id).foreach(out.add))
      kids.getOrElse(s.id, Nil).foreach(walk)
    }
    all.filter(pred).foreach(walk)
    out
  }

  def writeSpans(p: Path): Unit = {
    Files.createDirectories(p.getParent)
    val self = selfMs
    val lines = all.map { s =>
      val own = listener.synchronized(listener.bySpan.getOrElse(s.id, new EngineAcc))
      Json.value(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
        "start_ms" -> (s.start - epoch) / 1e6, "end_ms" -> (s.end - epoch) / 1e6,
        "dur_ms" -> (s.end - s.start) / 1e6, "self_ms" -> self(s.id),
        "codegen_classes" -> (s.cg1._1 - s.cg0._1),
        "codegen_ms" -> (s.cg1._2 - s.cg0._2)) ++ s.notes ++
        own.fields.map { case (k, v) => s"own.$k" -> v })
    }
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
