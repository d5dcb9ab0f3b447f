package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{ObjectConsumerExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counts recorded by the harness around its calls into the
  * engine. Inactive (and free) unless the run is traced: end-to-end
  * metrics always come from untraced phases. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]

  /** Time `f` as a span of `layer` (a module name) when tracing. */
  def span[A](layer: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        spans.synchronized(spans += Span(layer, name, t0, t1))
      }
    }

  def spanMs(layer: String, name: String): Seq[Double] =
    spans.synchronized(spans.filter(s => s.layer == layer && s.name == name)
      .map(s => (s.end - s.start) / 1e6).toSeq)

  val stages = new StageListener
  private val executions = mutable.ArrayBuffer.empty[QueryExecution]
  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      executions.synchronized(executions += qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(stages)
    spark.listenerManager.register(qeListener)
  }

  /** Deliver pending listener events. */
  def drain(): Unit = if (enabled) ListenerDrain(spark.sparkContext)

  /** Query executions finished since the last call. */
  def takeExecutions(): Seq[QueryExecution] = {
    drain()
    executions.synchronized { val r = executions.toSeq; executions.clear(); r }
  }

  def close(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(stages)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  final case class Span(layer: String, name: String, start: Long, end: Long)

  /** Stage- and task-level totals from Spark's own events. */
  final class StageListener extends SparkListener {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var stageWallMs = 0.0; var runMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    /** Wall intervals [submitted, completed] of finished stages, ms since epoch. */
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    /** Executor CPU ms per job group. */
    val cpuByGroup = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private val groupOfStage = mutable.Map.empty[Int, String]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.foreach(id => e.stageIds.foreach(s => groupOfStage(s) = id))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
      val i = e.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime) {
        intervals += ((a, b)); stageWallMs += (b - a)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val cpu = m.executorCpuTime / 1e6
        runMs += m.executorRunTime; cpuMs += cpu; gcMs += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        groupOfStage.get(e.stageId).foreach(g => cpuByGroup(g) += cpu)
      }
    }

    /** Milliseconds of [from, to] (epoch ms) that no stage covered. */
    def uncoveredMs(from: Long, to: Long): Double = synchronized {
      val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = from
      clipped.foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
      (to - from) - covered
    }
  }

  /** Shape counts of an executed plan, final AQE stages included. */
  def planCounts(qe: QueryExecution): Map[String, Double] = {
    val nodes = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => nodes += r
      case other =>
        nodes += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    def n(f: SparkPlan => Boolean) = nodes.count(f).toDouble
    Map(
      "exchanges" -> n(p => p.isInstanceOf[Exchange] || p.isInstanceOf[ReusedExchangeExec]),
      "scans" -> n(p => p.getClass.getSimpleName.endsWith("ScanExec") &&
        !p.isInstanceOf[InMemoryTableScanExec]),
      "inmemory_relations" -> n(_.isInstanceOf[InMemoryTableScanExec]),
      "codegen_stages" -> n(_.isInstanceOf[WholeStageCodegenExec]),
      "udf_nodes" -> n(p => p.isInstanceOf[ObjectConsumerExec] ||
        p.expressions.exists(_.exists(e => e.isInstanceOf[ScalaUDF] ||
          e.getClass.getSimpleName.startsWith("ScalaUDAF") ||
          e.getClass.getSimpleName.startsWith("ScalaAggregator")))),
      "nodes" -> nodes.size.toDouble)
  }

  val PlanKeys: Seq[String] =
    Seq("exchanges", "scans", "inmemory_relations", "codegen_stages", "udf_nodes", "nodes")

  /** analysis, optimization and planning ms of one execution. */
  def phasesMs(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }

  /** (compiles, estimated compile ms) so far in this JVM. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }

  def jitMs(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def persistedRdds(spark: SparkSession): Int = spark.sparkContext.getPersistentRDDs.size
}
