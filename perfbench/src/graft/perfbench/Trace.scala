package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.util.QueryExecutionListener

/** How the workloads call the library: every public call goes through
  * [[call]], which a traced run turns into a span, inside an [[op]]. */
trait Calls {
  /** One timed op of kind `part`: its calls share an op id, and their
    * durations add up to one latency sample of `part`. */
  def op[T](part: String)(body: => T): T
  def call[T](name: String, layer: String)(body: => T): T
  /** Rows the last call returned or wrote, as the benchmark saw them. */
  def rows(n: Long): Unit
  /** Marks the last call failed (its output check did not pass). */
  def fail(): Unit
}

object Untraced extends Calls {
  def op[T](part: String)(body: => T): T = body
  def call[T](name: String, layer: String)(body: => T): T = body
  def rows(n: Long): Unit = ()
  def fail(): Unit = ()
}

/** The graft packages a job or a call is charged to. */
object Layers {
  val all: Seq[String] = Seq("cli", "ingest", "embed", "index", "search", "metrics", "dedup")

  /** Materialization helpers materialize a frame their caller built, so a
    * job submitted through them is charged to the caller's layer. */
  private val helpers = Seq("eagerResult", "eagerPairs", "eagerTracked", "writeReadBack")

  private def frames(callSite: String): Iterator[String] =
    callSite.linesIterator.map(_.trim.stripPrefix("at "))

  /** Layer of the first graft frame in a job's call site that is neither
    * benchmark code nor a materialization helper, innermost first. */
  def ofCallSite(callSite: String): Option[String] =
    frames(callSite)
      .filter(f => f.startsWith("graft.") && !f.startsWith("graft.bench.") &&
        !f.startsWith("graft.perfbench.") &&
        !(f.startsWith("graft.dedup.Dedup$.") && helpers.exists(f.contains)))
      .map(_.split('.')(1))
      .find(all.contains)

  /** The job materializes eagerly (a checkpoint or a tracked eager result). */
  def eager(callSite: String): Boolean =
    Seq("eagerResult", "eagerTracked", "localCheckpoint").exists(callSite.contains)

  /** Innermost graft frame, for the artifact. */
  def site(callSite: String): String =
    frames(callSite).find(f => f.startsWith("graft.") && !f.startsWith("graft.perfbench."))
      .getOrElse(frames(callSite).toSeq.headOption.getOrElse(""))
}

/** Span recorder: a [[SparkListener]] and a [[QueryExecutionListener]]
  * attached while tracing, plus one span per library call. Spans and jobs
  * are kept in memory and summarized (and written out) at the end. */
final class Tracer(spark: SparkSession) extends Calls {
  import Tracer._
  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** Epoch microseconds on the monotonic clock (jobs report epoch ms). */
  def nowUs(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L

  val spans = ArrayBuffer[Span]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** SQL execution id → (layer, eager) from the call site of the action that started it. */
  val executions = new ConcurrentHashMap[Long, (Option[String], Boolean)]()
  val queries = new ConcurrentLinkedQueue[Qe]()
  private var opId = -1
  private var last: Span = null

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // the result stage is created last, so it has the highest id; its
      // details are the job's call site
      val callSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, new Job(e.jobId, prop(SpanProp).map(_.toInt), e.time,
        Layers.ofCallSite(callSite), Layers.eager(callSite), Layers.site(callSite),
        prop("spark.sql.execution.id").map(_.toLong)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executions.put(s.executionId, (Layers.ofCallSite(s.details), Layers.eager(s.details)))
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    private def jobOf(stage: Int): Option[Job] =
      Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobOf(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobOf(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val plan = planNodes(qe.executedPlan)
    def metric(n: SparkPlan, k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
    val writes = plan.filter(n => n.metrics.contains("numFiles") && n.metrics.contains("numOutputBytes"))
    queries.add(new Qe(qe.id, phases.values.map(_.durationMs).sum,
      phases.get("planning").map(_.endTimeMs).getOrElse(0L),
      plan.collect { case a: BaseAggregateExec if isTopKPartial(a) => inputRows(a.child) }.sum,
      writes.map(metric(_, "numFiles")).sum, writes.map(metric(_, "numOutputBytes")).sum))
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Waits for the listener bus to deliver every event, then detaches. */
  def detach(): Unit = {
    org.apache.spark.sql.GraftInternal.drainListenerBus(spark)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  def op[T](part: String)(body: => T): T = { opId += 1; body }

  def call[T](name: String, layer: String)(body: => T): T = {
    val s = new Span(spans.size, opId, name, layer, nowUs())
    spans += s
    last = s
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    catch { case e: Throwable => s.failed = true; throw e }
    finally {
      s.endUs = nowUs()
      sc.setLocalProperty(SpanProp, null)
    }
  }

  def rows(n: Long): Unit = if (last != null) last.rows += n
  def fail(): Unit = if (last != null) last.failed = true
}

object Tracer {
  val SpanProp = "graft.perfbench.span"

  final class Span(val id: Int, val op: Int, val name: String, val layer: String,
      val startUs: Long) {
    var endUs = 0L
    var failed = false
    var rows = 0L
  }

  final class Job(val id: Int, val spanProp: Option[Int], val startMs: Long,
      val siteLayer: Option[String], val eager: Boolean, val site: String,
      val executionId: Option[Long]) {
    @volatile var endMs = -1L
    var stages = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  final class Qe(val id: Long, val planMs: Long, val planEndMs: Long, val scored: Long,
      val filesWritten: Long, val bytesWritten: Long)

  /** Every physical node, through adaptive plans, query stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case n => n +: (n.children.flatMap(planNodes) ++ n.subqueries.flatMap(planNodes))
  }

  private def isTopKPartial(a: BaseAggregateExec): Boolean =
    a.aggregateExpressions.exists(e =>
      e.mode == Partial && e.aggregateFunction.isInstanceOf[graft.plans.TopKRows])

  /** Rows entering a node: the output count of the nearest descendant that
    * counts its rows (projections and codegen wrappers do not). */
  private def inputRows(p: SparkPlan): Long = p.metrics.get("numOutputRows") match {
    case Some(m) => m.value
    case None => p match {
      case a: AdaptiveSparkPlanExec => inputRows(a.executedPlan)
      case s: QueryStageExec => inputRows(s.plan)
      case n if n.children.size == 1 => inputRows(n.children.head)
      case _ => 0L
    }
  }

  /** Per-layer totals over the traced ops. A call span's wall time is split
    * exactly: each instant covered by one of its jobs goes to that job's
    * layer, the rest is the span layer's self (Spark-driver) time. Job time
    * that falls outside the span the job belongs to (work still running
    * after the call returned) is not in any span's wall time; it is summed
    * as `outsideUs`, which is 0 when spans and jobs add up. */
  final class LayerTotals {
    var calls, failed, rows, jobs, stages, tasks, eagerJobs = 0L
    var wallUs, selfUs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    var planMs, scored, filesWritten, bytesWritten = 0L
  }

  final case class Summary(layers: Map[String, LayerTotals], outsideUs: Long,
      unattributedJobs: Int)

  def summarize(t: Tracer): Summary = {
    val layers = Layers.all.map(_ -> new LayerTotals).toMap
    val spans = t.spans.toIndexedSeq
    // jobs report epoch milliseconds: allow one millisecond of rounding
    def spanAtMs(ms: Long): Option[Span] =
      spans.find(s => s.startUs - 1000L <= ms * 1000L && ms * 1000L <= s.endUs + 1000L)
    val jobsBySpan = mutable.Map[Int, ArrayBuffer[Job]]()
    val jobLayer = mutable.Map[Int, String]()
    var unattributed = 0
    // Adaptive query stages run as jobs submitted from Spark's own threads,
    // so their call sites hold no graft frame; they take the layer (and the
    // eager mark) of the call site of the action that started their SQL
    // execution.
    def execution(j: Job) = j.executionId.flatMap(e => Option(t.executions.get(e)))
    t.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      j.spanProp.orElse(spanAtMs(j.startMs).map(_.id)) match {
        case Some(sid) =>
          val l = j.siteLayer.orElse(execution(j).flatMap(_._1)).getOrElse(spans(sid).layer)
          jobLayer(j.id) = l
          jobsBySpan.getOrElseUpdate(sid, ArrayBuffer()) += j
          val lt = layers(l)
          lt.jobs += 1; lt.stages += j.stages; lt.tasks += j.tasks
          lt.cpuNs += j.cpuNs; lt.gcMs += j.gcMs
          lt.shuffleRead += j.shuffleRead; lt.shuffleWrite += j.shuffleWrite; lt.spill += j.spill
          if (j.eager || execution(j).exists(_._2)) lt.eagerJobs += 1
        case None => unattributed += 1
      }
    }
    var outside = 0L
    spans.foreach { s =>
      val lt = layers(s.layer)
      lt.calls += 1; lt.rows += s.rows
      if (s.failed) lt.failed += 1
      val wall = s.endUs - s.startUs
      var cursor = s.startUs
      var covered = 0L
      jobsBySpan.getOrElse(s.id, ArrayBuffer()).sortBy(_.startMs).foreach { j =>
        val jobEnd = if (j.endMs < 0) s.endUs else j.endMs * 1000L
        val start = math.max(j.startMs * 1000L, s.startUs)
        val end = math.min(jobEnd, s.endUs)
        // beyond the millisecond that rounding of the job's times allows
        outside += math.max(0L, s.startUs - 1000L - j.startMs * 1000L) +
          math.max(0L, jobEnd - s.endUs - 1000L)
        val from = math.max(start, cursor)
        if (end > from) {
          layers(jobLayer(j.id)).wallUs += end - from
          covered += end - from
          cursor = end
        }
      }
      lt.selfUs += wall - covered
      lt.wallUs += wall - covered
    }
    // A query's execution id is not visible to the listener, so its planning
    // is charged to the layer of the first job that starts once planning has
    // ended inside the same call, else to the call's layer.
    t.queries.asScala.foreach { q =>
      spanAtMs(q.planEndMs).map { s =>
        jobsBySpan.getOrElse(s.id, ArrayBuffer()).filter(_.startMs >= q.planEndMs - 1)
          .sortBy(j => (j.startMs, j.id)).headOption.map(j => jobLayer(j.id)).getOrElse(s.layer)
      }.foreach { l =>
        val lt = layers(l)
        lt.planMs += q.planMs; lt.scored += q.scored
        lt.filesWritten += q.filesWritten; lt.bytesWritten += q.bytesWritten
      }
    }
    Summary(layers, outside, unattributed)
  }
}
