package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch nanoseconds so benchmark spans and
  * Spark scheduler events (epoch milliseconds) share one clock. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long, parent: Long, runId: String)

/** In-memory span recorder. Spans are opened around the benchmark's calls
  * into each engine layer; nothing is written until [[write]]. Disabled, a
  * span is a plain call. */
final class Tracer(val runId: String) {
  @volatile var enabled: Boolean = false
  /** Called with the innermost open span on every enter and exit, so Spark
    * jobs can be tied to the span that launched them. */
  @volatile var onSwitch: Long => Unit = _ => ()
  private val spans  = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack  = ThreadLocal.withInitial[List[Long]](() => Nil)

  def current: Long = stack.get.headOption.getOrElse(0L)

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId.getAndIncrement()
      val parent = current
      stack.set(id :: stack.get)
      onSwitch(id)
      val t0 = Tracer.nowNs()
      try f
      finally {
        val t1 = Tracer.nowNs()
        stack.set(stack.get.tail)
        onSwitch(parent)
        spans.add(Span(id, name, t0, t1, parent, runId))
      }
    }

  /** Analysis seconds of the DataFrames handed to an action. Spark analyzes
    * a DataFrame when it is built, so the executed query's own tracker
    * never sees that time. */
  @volatile var analysisS: Double = 0.0
  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    if (enabled) analysisS += df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L) / 1000.0
    df
  }

  def record(s: Span): Unit = spans.add(s)
  def newId(): Long = nextId.getAndIncrement()
  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time of every span name: its duration minus the part of that
    * interval its child spans cover, summed over all spans of the name. */
  def selfTimes: Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil).map(k =>
          (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        (s.endNs - s.startNs - Tracer.unionNs(kids)) / 1e9
      }.sum
    }
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${s.parent},"run":"${s.runId}"}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = epochOffsetNs + System.nanoTime()

  /** Total length covered by a set of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}

/** Per-benchmark-job totals of the Spark query layer. */
final case class QueryStats(jobs: Int, stages: Int, tasks: Long, inJobsS: Double,
                            execRunS: Double, execCpuS: Double, gcS: Double,
                            shuffleWrite: Long, shuffleRead: Long, spill: Long, taskSkew: Double)

/** Spark scheduler listener plus query-execution listener. Jobs are tied to
  * the benchmark span that launched them through the `perfbench.span` local
  * property; every job and stage is also recorded as a span. */
final class QueryProbe(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  import QueryProbe._

  private final class StageRec(val parentSpan: Long) {
    var startMs = 0L; var endMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shW = 0L; var shR = 0L; var spill = 0L
  }
  private final class JobRec(val parentSpan: Long, val spanId: Long, val startMs: Long) {
    var endMs = 0L
  }

  private val jobs   = mutable.Map.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]
  private val stageParent = mutable.Map.empty[Int, Long]
  @volatile private var lastEventNs = System.nanoTime()

  // query-execution totals over every traced action
  var qeCount = 0
  var analysisS, optimizationS, planningS = 0.0
  var opsOutsideCodegen, fallbackExprs = 0L

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = new JobRec(parent, tracer.newId(), e.time)
    e.stageIds.foreach(s => stageParent(s) = jobs(e.jobId).spanId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      tracer.record(Span(j.spanId, "spark.job", j.startMs * 1000000L, e.time * 1000000L,
        j.parentSpan, tracer.runId))
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    touch()
    val id = e.stageInfo.stageId
    val rec = stages.getOrElseUpdate(id, new StageRec(stageParent.getOrElse(id, 0L)))
    rec.startMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    val id = e.stageInfo.stageId
    stages.get(id).foreach { r =>
      r.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      tracer.record(Span(tracer.newId(), "spark.stage", r.startMs * 1000000L, r.endMs * 1000000L,
        r.parentSpan, tracer.runId))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val r = stages.getOrElseUpdate(e.stageId, new StageRec(stageParent.getOrElse(e.stageId, 0L)))
    r.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      r.runMs += m.executorRunTime; r.cpuNs += m.executorCpuTime; r.gcMs += m.jvmGCTime
      r.shW += m.shuffleWriteMetrics.bytesWritten
      r.shR += m.shuffleReadMetrics.totalBytesRead
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    touch()
    qeCount += 1
    val ph = qe.tracker.phases
    def sec(p: String) = ph.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
    analysisS += sec("analysis"); optimizationS += sec("optimization"); planningS += sec("planning")
    val (outside, fallbacks) = planCounts(qe.executedPlan)
    opsOutsideCodegen += outside; fallbackExprs += fallbacks
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()

  /** Block until no listener event has arrived for a while (delivery is
    * asynchronous) and every started job has ended. */
  def drain(quietMs: Long = 400, maxMs: Long = 15000): Unit = {
    val t0 = System.nanoTime()
    def open = synchronized(jobs.values.exists(_.endMs == 0L))
    while ((open || System.nanoTime() - lastEventNs < quietMs * 1000000L) &&
           System.nanoTime() - t0 < maxMs * 1000000L) Thread.sleep(50)
  }

  /** Query-layer totals of the jobs launched under benchmark span `span`
    * or any span inside it. */
  def statsFor(span: Long): QueryStats = synchronized {
    val kids = tracer.all.groupBy(_.parent)
    def under(id: Long): Set[Long] = Set(id) ++ kids.getOrElse(id, Nil).flatMap(k => under(k.id))
    val scope = under(span)
    val js = jobs.values.filter(j => scope.contains(j.parentSpan)).toSeq
    val jobSpans = js.map(_.spanId).toSet
    val ss = stages.values.filter(s => jobSpans.contains(s.parentSpan) && s.endMs > 0).toSeq
    val inJobs = Tracer.unionNs(js.map(j => (j.startMs * 1000000L, j.endMs * 1000000L))) / 1e9
    val skew = if (ss.isEmpty) 1.0 else {
      val longest = ss.maxBy(s => s.endMs - s.startMs)
      val sorted = longest.taskMs.sorted
      if (sorted.isEmpty) 1.0
      else sorted.last.toDouble / math.max(1L, sorted(sorted.length / 2)).toDouble
    }
    QueryStats(js.size, ss.size, ss.map(_.taskMs.size.toLong).sum, inJobs,
      ss.map(_.runMs).sum / 1000.0, ss.map(_.cpuNs).sum / 1e9, ss.map(_.gcMs).sum / 1000.0,
      ss.map(_.shW).sum, ss.map(_.shR).sum, ss.map(_.spill).sum, skew)
  }
}

object QueryProbe {
  val SpanProperty = "perfbench.span"

  /** (physical operators that run outside whole-stage codegen, expressions
    * that fall back to interpreted evaluation) in an executed plan,
    * descending into adaptive query stages and subqueries. */
  def planCounts(root: SparkPlan): (Long, Long) = {
    var outside = 0L; var fallbacks = 0L
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec        => Seq(s.plan)
      case _                        => p.children ++ p.subqueries
    }
    def walk(p: SparkPlan, fused: Boolean): Unit = {
      val wrapper = p match {
        case _: WholeStageCodegenExec | _: InputAdapter | _: AdaptiveSparkPlanExec |
             _: QueryStageExec | _: ReusedExchangeExec => true
        case _ => false
      }
      if (!wrapper && !fused) outside += 1
      fallbacks += p.expressions.map(_.collect { case f: CodegenFallback => f }.size.toLong).sum
      val childFused = p match {
        case _: WholeStageCodegenExec => true
        case _: InputAdapter          => false
        case _                        => fused
      }
      p match {
        case _: ReusedExchangeExec => () // counted where the exchange first ran
        case _                     => kids(p).foreach(walk(_, childFused))
      }
    }
    walk(root, fused = false)
    (outside, fallbacks)
  }
}
