package graft.perfbench

import graft.contracts.{Contract, ContractStore}
import graft.governance.{DatasetStatus, GovernanceEvaluation, GovernanceService, MetricObservation}
import graft.obs.ObservationSink
import graft.quality.{FieldSnapshot, ValidationResult}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession, execution}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed region: its layer name, the op it belongs to, and its parent
  * span (0 at the root). Times are `System.nanoTime`. */
final case class Span(name: String, op: String, id: Int, parent: Int, startNs: Long, endNs: Long)

/** In-memory span recorder for the Spark driver thread. Spans nest through a
  * stack, so a decorator called inside a step becomes that step's child. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var op: String = ""

  def apply[T](name: String)(body: => T): T = synchronized {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      buf += Span(name, op, id, parent, t0, System.nanoTime())
    }
  }

  def all: Seq[Span] = synchronized(buf.toSeq)
}

/** Times and counts every call into a contract store. */
final class TracedStore(inner: ContractStore, spans: Spans, layer: String) extends ContractStore {
  def put(contract: Contract): Unit = spans(s"$layer.put")(inner.put(contract))
  def get(id: String, version: String): Option[Contract] = spans(s"$layer.get")(inner.get(id, version))
  def listVersions(id: String): Seq[String] = spans(s"$layer.listVersions")(inner.listVersions(id))
  def listContractIds(): Seq[String] = spans(s"$layer.listContractIds")(inner.listContractIds())
}

/** Times every call into the governance service. */
final class TracedGovernance(inner: GovernanceService, spans: Spans) extends GovernanceService {
  private def t[T](m: String)(body: => T): T = spans(s"governance.$m")(body)
  def getStatus(d: String, v: String): Option[DatasetStatus] = t("getStatus")(inner.getStatus(d, v))
  def listDatasets(): Seq[String] = t("listDatasets")(inner.listDatasets())
  def linkDatasetContract(d: String, c: String, cv: String, dv: String): Unit =
    t("linkDatasetContract")(inner.linkDatasetContract(d, c, cv, dv))
  def linkedContract(d: String): Option[(String, String)] = t("linkedContract")(inner.linkedContract(d))
  def listDraftVersions(c: String): Seq[String] = t("listDraftVersions")(inner.listDraftVersions(c))
  def reviewDraft(c: String, v: String, approve: Boolean): Contract =
    t("reviewDraft")(inner.reviewDraft(c, v, approve))
  def updateDraft(c: String, v: String, edited: Contract): Contract =
    t("updateDraft")(inner.updateDraft(c, v, edited))
  def statusMatrix(): Seq[DatasetStatus] = t("statusMatrix")(inner.statusMatrix())
  def metricHistory(d: String): Seq[MetricObservation] = t("metricHistory")(inner.metricHistory(d))
  def evaluateAndRecord(d: String, dv: String, c: Contract, s: Map[String, FieldSnapshot],
                        m: Map[String, Any]): GovernanceEvaluation =
    t("evaluateAndRecord")(inner.evaluateAndRecord(d, dv, c, s, m))
  def record(d: String, dv: String, c: Contract, v: ValidationResult): DatasetStatus =
    t("record")(inner.record(d, dv, c, v))
}

/** Times every observation published. */
final class TracedSink(inner: ObservationSink, spans: Spans) extends ObservationSink {
  def record(d: String, b: Option[Long], m: Map[String, Any], v: ValidationResult): Unit =
    spans("obs.record")(inner.record(d, b, m, v))
}

/** Executor-side totals of the Spark jobs run under one job group. */
final class Agg {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, input, bytesWritten, recordsWritten = 0L
  /** (submission, completion) of each job, epoch ms. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spark listener that files jobs, stages and task metrics under the job
  * group the Spark driver set when it submitted them (`SparkContext.setJobGroup`). */
final class JobCollector extends SparkListener {
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, Agg]
  @volatile private var events = 0L

  private def agg(g: String): Agg = groups.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    agg(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    for (g <- jobGroup.get(e.jobId); t0 <- jobStart.remove(e.jobId)) agg(g).jobSpans += ((t0, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    stageGroup.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    for (g <- stageGroup.get(e.stageId) if m != null) {
      val a = agg(g)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.bytesWritten += m.outputMetrics.bytesWritten
      a.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  /** Blocks until the listener bus has delivered every event: all started
    * jobs ended and no event arrived for a quiet period. */
  def drain(quietMs: Long = 300, maxMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val (n, open) = synchronized((events, jobStart.size))
      val now = System.currentTimeMillis()
      if (n != last) { last = n; quietSince = now }
      else if (open == 0 && now - quietSince >= quietMs) return
      Thread.sleep(20)
    }
  }

  def group(g: String): Agg = synchronized(groups.getOrElse(g, new Agg))

  def jobCounts: Map[String, Long] = synchronized(groups.map { case (g, a) => g -> a.jobs }.toMap)
}

/** One executed query: when its planning phases ran, how long they took,
  * and the file-source root paths its optimized plan reads. */
final case class PlannedQuery(startMs: Long, planMs: Long, sources: Seq[String])

/** Query execution listener recording plan-phase times
  * (`QueryExecution.tracker`: analysis, optimization, planning). */
final class PlanCollector extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer.empty[PlannedQuery]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) scala.util.Try {
      val sources = qe.optimizedPlan.collectLeaves().flatMap {
        case l: execution.datasources.LogicalRelation => l.relation match {
          case h: execution.datasources.HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
        case _ => Nil
      }
      val q = PlannedQuery(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum, sources)
      synchronized(buf += q)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def within(startMs: Long, endMs: Long): Seq[PlannedQuery] =
    synchronized(buf.filter(q => q.startMs >= startMs && q.startMs <= endMs).toSeq)
}

/** The listeners of a traced run on one session. They are attached only
  * while a traced op and its layer numbers run, so untraced ops in between
  * carry none of the tracing cost. */
final class Tracer(spark: SparkSession) {
  val spans = new Spans
  val jobs = new JobCollector
  val plans = new PlanCollector

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  /** Detaches once every event of the traced work has been delivered. */
  def detach(): Unit = {
    jobs.drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
  }

  /** Runs `body` with its Spark jobs filed under `group`. */
  def grouped[T](group: String)(body: => T): T = Main.grouped(spark, group)(body)

  /** Every span, as the raw record writes it. */
  def spanRecords: Seq[Map[String, Any]] =
    spans.all.map(s => Map("name" -> s.name, "op" -> s.op, "id" -> s.id, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))

  /** A replay step: a span plus its own job group. */
  def step[T](name: String)(body: => T): T =
    grouped(s"${spans.op}/$name")(spans(name)(body))

  /** Per-op Spark numbers for the jobs of `group`, run in [startMs, endMs]. */
  def sparkLayer(group: String, startMs: Long, endMs: Long, cores: Int): Map[String, Double] = {
    val a = jobs.group(group)
    val wallMs = math.max(1L, endMs - startMs)
    // union of the jobs' intervals, clipped to the op window
    val busy = a.jobSpans.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
      }._1
    val mb = 1024.0 * 1024.0
    Map(
      "spark.plan_ms" -> plans.within(startMs, endMs).map(_.planMs).sum.toDouble,
      "spark.jobs" -> a.jobs.toDouble,
      "spark.stages" -> a.stages.toDouble,
      "spark.tasks" -> a.tasks.toDouble,
      "spark.driver_only_s" -> (wallMs - busy) / 1000.0,
      "spark.core_busy" -> a.runMs.toDouble / (wallMs * cores),
      "spark.executor_run_s" -> a.runMs / 1000.0,
      "spark.executor_cpu_s" -> a.cpuNs / 1e9,
      "spark.gc_s" -> a.gcMs / 1000.0,
      "spark.shuffle_read_mb" -> a.shuffleRead / mb,
      "spark.shuffle_write_mb" -> a.shuffleWrite / mb,
      "spark.spill_mb" -> a.spill / mb,
      "spark.input_mb" -> a.input / mb)
  }
}
