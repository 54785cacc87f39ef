package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the benchmark: an op, or the call / action /
  * cleanup inside it. Times are wall-clock milliseconds on the
  * driver's clock, the clock Spark stamps its job events with.
  */
final case class Span(
    id: Int, parent: Int, layer: String, kind: String, name: String,
    startMs: Double, var endMs: Double = Double.NaN) {
  def wallMs: Double = endMs - startMs
}

/** Outside-in tracer. The benchmark wraps every call into a layer,
  * every action on its result and every cleanup in a [[span]]; while
  * tracing is on, the span id rides on the Spark local property
  * [[SpanKey]], which Spark copies into the properties of every job
  * the span starts (threads the engine spawns inherit it). A
  * [[SparkListener]] attributes jobs, task time and shuffle bytes to
  * spans; a [[QueryExecutionListener]] reads each query's planning
  * phases, graft's own optimizer rules and the final adaptive plan.
  * Spans live in memory; [[layerMetrics]] folds them per layer once
  * the traced pass is over. No engine code is touched.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  private def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val jobs = new Collector
  private val queries = new QueryCollector

  /** Start recording: registers the listeners (so untraced passes pay
    * nothing for them) and clears earlier spans.
    */
  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    spans.clear()
    on = true
  }

  /** Stop recording and wait until Spark has delivered every event. */
  def stop(): Unit = {
    on = false
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(queries)
    spark.sparkContext.removeSparkListener(jobs)
  }

  def span[T](layer: String, kind: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), layer, kind, name, nowMs)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  def allSpans: Seq[Span] = spans.toSeq

  /** The leaf span (call, action or cleanup) open at `t`, if any. */
  private def leafAt(leaves: Seq[Span], t: Double): Option[Span] =
    leaves.find(s => s.startMs - 1.0 <= t && t <= s.endMs + 1.0)

  /** Job id -> the leaf span it ran under. The local property names
    * the span when it is still open at job start; a job from a thread
    * created under an earlier span (stale inherited property) or with
    * no property falls back to the span open at its start time — the
    * benchmark is one closed-loop client, so at most one leaf is open.
    */
  private def jobSpans(leaves: Seq[Span]): Map[Int, Span] = {
    val byId = leaves.map(s => s.id -> s).toMap
    jobs.jobs.values.asScala.flatMap { j =>
      val tagged = j.span.flatMap(byId.get)
        .filter(s => s.startMs - 1.0 <= j.startMs && j.startMs <= s.endMs + 1.0)
      tagged.orElse(leafAt(leaves, j.startMs)).map(j.jobId -> _)
    }.toMap
  }

  def jobRecords: Seq[JobRec] = jobs.jobs.values.asScala.toSeq.sortBy(_.jobId)

  def queryCount: Int = queries.recs.size

  /** Per-layer metrics of the recorded spans (see README.md). */
  def layerMetrics(): Map[String, Double] = {
    val leaves = spans.filter(s => LeafKinds.contains(s.kind)).toSeq
    val jobSpan = jobSpans(leaves)
    val jobsById = jobs.jobs.asScala
    // query -> the leaf span open when its physical planning finished
    // (SQL execution ids and QueryExecution ids are separate counters,
    // so the planning clock is the join key)
    val querySpan: Seq[(QueryRec, Span)] =
      queries.recs.asScala.toSeq.flatMap(q => leafAt(leaves, q.plannedAtMs.toDouble).map(q -> _))
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (layer <- Layers) {
      val ls = leaves.filter(s => s.layer == layer && s.kind != "cleanup")
      val ids = ls.map(_.id).toSet
      val lJobs = jobSpan.collect { case (jid, s) if ids.contains(s.id) => jid }.toSet
      val lQueries = querySpan.collect { case (q, s) if ids.contains(s.id) => q }
      val stages = lJobs.flatMap(j => jobsById.get(j).toSeq.flatMap(_.stageIds))
      val stageStats = stages.toSeq.flatMap(st => Option(jobs.stages.get(st)))
      val driver = ls.map { s =>
        val iv = jobSpan.collect { case (jid, sp) if sp.id == s.id => jobsById(jid) }
          .map(j => (math.max(j.startMs.toDouble, s.startMs), math.min(j.endMs.toDouble, s.endMs)))
          .filter { case (a, b) => b > a }
        s.wallMs - unionLength(iv.toSeq)
      }.sum
      out(s"$layer.call_ms") = ls.filter(_.kind == "call").map(_.wallMs).sum
      out(s"$layer.action_ms") = ls.filter(_.kind == "action").map(_.wallMs).sum
      out(s"$layer.plan_ms") = lQueries.map(_.planMs).sum
      out(s"$layer.driver_ms") = driver
      out(s"$layer.jobs") = lJobs.size.toDouble
      out(s"$layer.task_ms") = stageStats.map(_.taskMs.get.toDouble).sum
      out(s"$layer.shuffle_mb") = stageStats.map(_.shuffleBytes.get.toDouble).sum / (1 << 20)
      out(s"$layer.exchanges") = lQueries.map(_.exchanges.toDouble).sum
    }
    val traced = querySpan.map(_._1)
    out("plans.rule_ms") = traced.map(_.graftRuleNs).sum / 1e6
    out("plans.rule_runs") = traced.map(_.graftRuleRuns.toDouble).sum
    out("Cleanup.drain_ms") = leaves.filter(_.kind == "cleanup").map(_.wallMs).sum
    out.toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val LeafKinds = Set("call", "action", "cleanup")

  val Layers: Seq[String] = Seq(
    "operators.GroupOps", "operators.Cumulate", "operators.Percentiles", "operators.Winsorize",
    "operators.Portfolio", "operators.AsOf", "operators.RangeJoin", "operators.RegBy",
    "pipeline.Dedup", "pipeline.TextAnalysis", "pipeline.Similarity",
    "pipeline.IvfIndex.build", "pipeline.IvfIndex.searchTopK", "pipeline.IvfIndex.maintain",
    "sources.Sink")

  val LayerMetricNames: Seq[String] =
    Seq("call_ms", "action_ms", "plan_ms", "driver_ms", "jobs", "task_ms", "shuffle_mb", "exchanges")

  /** Every per-layer metric name, in report order, with its unit. */
  val PerLayer: Seq[(String, String)] =
    Layers.flatMap(l => LayerMetricNames.map { m =>
      s"$l.$m" -> (m match {
        case "jobs" | "exchanges" => "count"
        case "shuffle_mb"         => "MiB"
        case _                    => "ms"
      })
    }) ++ Seq("plans.rule_ms" -> "ms", "plans.rule_runs" -> "count", "Cleanup.drain_ms" -> "ms",
      "pipeline.Similarity.recall_at_10" -> "ratio", "pipeline.IvfIndex.maintain.store_amp" -> "ratio")

  private[perfbench] def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- iv.sortBy(_._1)) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  final case class JobRec(
      jobId: Int, startMs: Long, span: Option[Int], execId: Option[Long], stageIds: Seq[Int]) {
    @volatile var endMs: Long = startMs
  }

  final class StageAcc {
    val taskMs = new java.util.concurrent.atomic.AtomicLong()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
  }

  final class Collector extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val stages = new ConcurrentHashMap[Int, StageAcc]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val span = p.flatMap(pp => Option(pp.getProperty(SpanKey))).flatMap(_.toIntOption)
      val exec = p.flatMap(pp => Option(pp.getProperty("spark.sql.execution.id"))).flatMap(_.toLongOption)
      jobs.put(e.jobId, JobRec(e.jobId, e.time, span, exec, e.stageIds))
      e.stageIds.foreach(st => stages.putIfAbsent(st, new StageAcc))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(e.stageId)).foreach { acc =>
        acc.taskMs.addAndGet(e.taskInfo.duration)
        Option(e.taskMetrics).foreach(m =>
          acc.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      }
  }

  final case class QueryRec(
      plannedAtMs: Long, planMs: Double, graftRuleNs: Long, graftRuleRuns: Long, exchanges: Int)

  final class QueryCollector extends QueryExecutionListener {
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[QueryRec]()

    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val phases = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      val planMs = phases.map(_.durationMs.toDouble).sum
      val graft = qe.tracker.rules.filter(_._1.startsWith("graft."))
      val ex = try countExchanges(qe.executedPlan) catch { case scala.util.control.NonFatal(_) => 0 }
      val at = if (phases.isEmpty) System.currentTimeMillis() else phases.map(_.endTimeMs).max
      recs.add(QueryRec(at, planMs, graft.values.map(_.totalTimeNs).sum,
        graft.values.map(_.numInvocations).sum, ex))
      ()
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Shuffle exchanges in the final (post-AQE) physical plan, query
    * stages and subqueries included; a reused exchange counts once.
    */
  def countExchanges(p: SparkPlan): Int = {
    val own = p match {
      case a: AdaptiveSparkPlanExec => countExchanges(a.executedPlan)
      case s: QueryStageExec        => countExchanges(s.plan)
      case _: ShuffleExchangeLike   => 1
      case _                        => 0
    }
    own + p.children.map(countExchanges).sum + p.subqueries.map(countExchanges).sum
  }
}
