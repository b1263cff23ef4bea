package productbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval of one query's work, in epoch milliseconds. */
final case class Span(qid: Long, name: String, start: Double, end: Double)

/** Spans around the benchmark's own calls into each layer. The disabled
  * tracer runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val msBase = System.currentTimeMillis().toDouble
  private val nsBase = System.nanoTime()
  val spans = ArrayBuffer[Span]()
  var qid = 0L

  def nowMs: Double = msBase + (System.nanoTime() - nsBase) / 1e6

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = nowMs
      try body finally spans += Span(qid, name, s, nowMs)
    }
}

/** Counts from Spark's listener bus for the query in flight. The benchmark
  * drains the bus after each traced query, so every event it holds then
  * belongs to that query. */
final class Counters extends SparkListener with QueryExecutionListener {
  private case class Task(stage: Int, launch: Long, ms: Long, run: Long, gc: Long,
      input: Long, shW: Long, shR: Long, spill: Long, failed: Boolean)
  private val jobs = ArrayBuffer[(Long, Long)]()
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  private val stages = ArrayBuffer[(Int, Long, Long)]()
  private val tasks = ArrayBuffer[Task]()
  private val qes = ArrayBuffer[QueryExecution]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += ((i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks += (if (m == null) Task(e.stageId, info.launchTime, info.duration, 0, 0, 0, 0, 0, 0, info.failed)
      else Task(e.stageId, info.launchTime, info.duration, m.executorRunTime, m.jvmGCTime,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled, info.failed))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = synchronized { qes += qe }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = synchronized { qes += qe }

  /** The query's counts as JSON fields, and its job/stage/Catalyst spans;
    * clears the state for the next query. */
  def take(qid: Long): (Seq[(String, Any)], Seq[Span]) = synchronized {
    val spans = ArrayBuffer[Span]()
    jobs.foreach { case (s, e) => spans += Span(qid, "spark.job", s, e) }
    stages.foreach { case (_, s, e) => if (s > 0) spans += Span(qid, "spark.stage", s, e) }
    var (an, op, pl) = (0L, 0L, 0L)
    qes.foreach { qe =>
      val ph = qe.tracker.phases
      def add(k: String, n: String): Long = ph.get(k).map { p =>
        spans += Span(qid, n, p.startTimeMs, p.endTimeMs); p.durationMs }.getOrElse(0L)
      an += add("analysis", "catalyst.analysis")
      op += add("optimization", "catalyst.optimize")
      pl += add("planning", "catalyst.plan")
    }
    val plan = qes.lastOption.map(Plans.facts).getOrElse(Seq())
    val spread = qes.exists(Plans.spread)
    val byStage = tasks.groupBy(_.stage)
    // skew: max / median task time in the query's longest stage
    val skew = stages.filter(_._2 > 0).maxByOption(s => s._3 - s._2)
      .flatMap(s => byStage.get(s._1)).map { ts =>
        val d = ts.map(_.ms).sorted
        d.last.toDouble / math.max(1L, d(d.size / 2))
      }.getOrElse(1.0)
    val submit = stages.map(s => s._1 -> s._2).toMap
    val waits = tasks.flatMap(t => submit.get(t.stage).filter(_ > 0).map(s => math.max(0L, t.launch - s)))
    val out = Seq(
      "catalyst_analysis_ms" -> an, "catalyst_optimization_ms" -> op,
      "catalyst_planning_ms" -> pl, "spread" -> spread,
      "jobs" -> jobs.size, "stages" -> stages.size, "tasks" -> tasks.size,
      "task_busy_ms" -> tasks.map(_.run).sum, "sched_wait_ms" -> waits.sum,
      "task_waits" -> waits.size, "task_skew" -> skew,
      "input_rows" -> tasks.map(_.input).sum, "shuffle_write_b" -> tasks.map(_.shW).sum,
      "shuffle_read_b" -> tasks.map(_.shR).sum, "spill_b" -> tasks.map(_.spill).sum,
      "gc_ms" -> tasks.map(_.gc).sum, "failed_tasks" -> tasks.count(_.failed)) ++ plan
    jobs.clear(); jobStart.clear(); stages.clear(); tasks.clear(); qes.clear()
    (out, spans.toSeq)
  }
}

/** Facts about a query's plans, read after it ran. */
object Plans {
  /** Operators of the executed physical plan, AQE stages unwrapped. */
  def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case s: QueryStageExec        => operators(s.plan)
    case r: ReusedExchangeExec    => Seq(r)
    case o                        => o +: (o.children ++ o.subqueries).flatMap(operators)
  }

  def exchangeKind(p: SparkPlan): Option[String] = p match {
    case s: ShuffleExchangeExec => Some(s.outputPartitioning match {
      case _: HashPartitioning       => "hash"
      case _: RangePartitioning      => "range"
      case RoundRobinPartitioning(_) => "roundrobin"
      case _                         => "single"
    })
    case _: BroadcastExchangeExec => Some("broadcast")
    case _                        => None
  }

  def facts(qe: QueryExecution): Seq[(String, Any)] = {
    val ops = operators(qe.executedPlan)
    val kinds = ops.flatMap(exchangeKind)
    // the fingerprint: operator multiset plus exchange kinds
    val multiset = (ops.map(_.getClass.getSimpleName.stripSuffix("$")) ++ kinds.map("exchange:" + _))
      .groupBy(identity).toSeq.map { case (k, v) => s"$k*${v.size}" }.sorted.mkString(",")
    val md = java.security.MessageDigest.getInstance("SHA-1").digest(multiset.getBytes("UTF-8"))
    Seq(
      "plan_nodes" -> qe.optimizedPlan.collect { case n => n }.size,
      "exchanges_hash" -> kinds.count(_ == "hash"),
      "exchanges_range" -> kinds.count(_ == "range"),
      "exchanges_roundrobin" -> kinds.count(_ == "roundrobin"),
      "broadcasts" -> kinds.count(_ == "broadcast"),
      "codegen_stages" -> ops.count(_.isInstanceOf[WholeStageCodegenExec]),
      "fingerprint" -> md.take(6).map("%02x".format(_)).mkString,
      "operators" -> multiset)
  }

  /** True when `Tables.spreadCompute` repartitioned a scan: a hash
    * repartition keyed on xxhash64 in the optimised plan or in the plan of
    * a cached relation it reads (the rowwise rung spreads below the
    * Dataset it persists). */
  def spread(qe: QueryExecution): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64}
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    def hashed(es: Seq[Expression]) = es.exists(_.exists(_.isInstanceOf[XxHash64]))
    def physical(p: SparkPlan): Boolean = operators(p).exists {
      case s: ShuffleExchangeExec => s.outputPartitioning match {
        case h: HashPartitioning => hashed(h.expressions)
        case _                   => false
      }
      case m: InMemoryTableScanExec => physical(m.relation.cacheBuilder.cachedPlan)
      case _ => false
    }
    qe.optimizedPlan.exists {
      case r: RepartitionByExpression => hashed(r.partitionExpressions)
      case m: InMemoryRelation        => physical(m.cacheBuilder.cachedPlan)
      case _ => false
    }
  }

  /** Codegen work done so far in this JVM: (compile ns, classes compiled). */
  def codegen(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def register(spark: SparkSession, c: Counters): Unit = {
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
  }
}
