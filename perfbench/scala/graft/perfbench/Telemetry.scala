package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** JSON for the run's result and trace files (Scala maps and
  * sequences through Jackson's Scala module). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** One traced call into a layer's public function. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    op: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `span` only runs the body; enabled,
  * it records name, start, end, parent span and the op in flight. The
  * bench thread is the only caller, so the open-span stack is plain. */
final class Tracer(@volatile var enabled: Boolean) {
  @volatile var currentOp: String = "setup"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        open.pop()
        spans += Span(id, parent, layer, name, currentOp, t0, System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Seconds each layer spent in its own spans, children subtracted. */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e9
    }
  }

  def toJson: String = Json(spans.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
    "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

/** Engine counters of one op. */
final class OpStats {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  var peakMem = 0L
  var analysisMs, optimizationMs, physicalMs = 0L
  var executions = 0L
  var filesRead, scanBytes = 0L
  var batches, batchMs, addBatchMs, walMs, rows = 0L
  var wallNs = 0L
}

/** SparkListener + QueryExecutionListener + StreamingQueryListener that
  * turn a traced run into per-op engine counters. Jobs are attributed by
  * their job group (the bench sets it to the op id); jobs a streaming
  * query starts under its own group go to the op in flight. The bench
  * drains the listener bus after every op, so "in flight" is exact. */
final class Telemetry(tracer: Tracer) extends SparkListener
    with QueryExecutionListener {
  val ops: mutable.LinkedHashMap[String, OpStats] = mutable.LinkedHashMap.empty
  private val stageOp = mutable.Map.empty[Int, String]
  /** Off, every callback returns at once. */
  @volatile var active = false

  private def stats(op: String): OpStats = synchronized {
    ops.getOrElseUpdate(op, new OpStats)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).filter(g => synchronized(ops.contains(g)))
    val op = group.getOrElse(tracer.currentOp)
    synchronized(e.stageIds.foreach(stageOp(_) = op))
    stats(op).jobs += 1
  }

  private def opOfStage(id: Int): String =
    synchronized(stageOp.getOrElse(id, tracer.currentOp))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (active) stats(opOfStage(e.stageInfo.stageId)).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
    val s = stats(opOfStage(e.stageId))
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.output += m.outputMetrics.bytesWritten
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = if (active) {
    val s = stats(tracer.currentOp)
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    s.analysisMs += ms("analysis")
    s.optimizationMs += ms("optimization")
    s.physicalMs += ms("planning")
    s.executions += 1
    Telemetry.scans(qe.executedPlan).foreach { scan =>
      s.filesRead += scan.metrics.get("numFiles").map(_.value).getOrElse(0L)
      s.scanBytes += scan.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (active) {
      val p = e.progress
      val d = p.durationMs.asScala
      val s = stats(tracer.currentOp)
      if (p.numInputRows > 0) {
        s.batches += 1
        s.batchMs += d.get("triggerExecution").map(_.longValue).getOrElse(0L)
        s.addBatchMs += d.get("addBatch").map(_.longValue).getOrElse(0L)
        s.walMs += d.get("walCommit").map(_.longValue).getOrElse(0L) +
          d.get("commitOffsets").map(_.longValue).getOrElse(0L)
        s.rows += p.numInputRows
      }
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  def beginOp(spark: SparkSession, op: String): Unit = {
    stats(op)
    tracer.currentOp = op
    spark.sparkContext.setJobGroup(op, op)
  }

  def endOp(spark: SparkSession, op: String, wallNs: Long): Unit = {
    org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
    stats(op).wallNs += wallNs
    spark.sparkContext.clearJobGroup()
    tracer.currentOp = "between"
  }
}

object Telemetry {
  /** File scans of an executed plan, through adaptive wrappers, query
    * stages, reused exchanges and subqueries. */
  def scans(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case r: ReusedExchangeExec => scans(r.child)
    case f: FileSourceScanExec => Seq(f)
    case p => p.children.flatMap(scans) ++ p.subqueries.flatMap(scans)
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def jitMs: Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)

  /** Heap in use after full collections, in MB. Spark frees cached
    * blocks asynchronously once their owners are collected, so collect
    * again until the figure settles (within 1 MB, at most 8 rounds). */
  def heapAfterGcMb: Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var rounds = 1
    var settled = false
    while (!settled && rounds < 8) {
      Thread.sleep(250)
      val now = used()
      settled = math.abs(now - last) < 1.0
      last = now
      rounds += 1
    }
    last
  }
}
