package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the trace: an op, an engine or operator call inside it,
  * or a Spark job or stage that ran during it. Times are epoch ms. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** Collects what Spark reports about the jobs, stages, tasks and queries
  * that run while it is attached. Callbacks arrive on the listener-bus
  * thread; readers call [[PerfbenchBus.drain]] first. */
private final class SparkEvents extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStarts = mutable.Map.empty[Int, Long]
  /** (name, start, end) of every finished job and stage. */
  val intervals = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def add(k: String, v: Double): Unit = counters(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    add("jobs", 1)
    intervals += ((s"job ${e.jobId}", jobStarts.remove(e.jobId).getOrElse(e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    add("stages", 1)
    for (s <- i.submissionTime; c <- i.completionTime)
      intervals += ((s"stage ${i.stageId}", s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime.toDouble)
      add("task_cpu_ms", m.executorCpuTime / 1e6)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_records_written", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("input_records", m.inputMetrics.recordsRead.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      add("queries", 1)
      qe.tracker.phases.foreach { case (phase, s) => add(s"${phase}_ms", s.durationMs.toDouble) }
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .foreach(s => s.metrics.get("numFiles").foreach(m => add("files_read", m.value.toDouble)))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { add("query_failures", 1) }
}

/** Span and counter recorder for the traced run. Spark listeners are
  * attached only around traced ops, so untraced ops in the same run pay
  * nothing; the listener bus is drained after the op's clock has stopped. */
final class Tracer(spark: SparkSession, k: Int) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]

  private var current: Option[(Int, SparkEvents, Map[String, Double])] = None

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  private def jvmCounters: Map[String, Double] = Map(
    "gc_ms" -> gcMs,
    "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen_ms" -> CodeGenerator.compileTime / 1e6)

  /** Attach listeners; called before the op's clock starts. */
  def begin(name: String): Unit = {
    val ev = new SparkEvents
    spark.sparkContext.addSparkListener(ev)
    spark.listenerManager.register(ev)
    spans += Span(spans.size, -1, name, nowMs, Double.NaN)
    current = Some((spans.size - 1, ev, jvmCounters))
  }

  /** Record a child span of the current op (no-op outside a traced op). */
  def call[T](name: String)(body: => T): T = current match {
    case None => body
    case Some((opId, _, _)) =>
      val s = nowMs
      try body finally spans += Span(spans.size, opId, name, s, nowMs)
  }

  /** Close the current op span, which ran `wallMs`; drain the bus, detach,
    * and return the op's counters. `extra` adds counters the workload
    * measured itself (rows returned, store bytes, ...). */
  def end(wallMs: Double, extra: Map[String, Double]): Map[String, Double] = current.fold(extra) {
    case (opId, ev, jvm0) =>
      val opSpan = spans(opId)
      val endMs = opSpan.startMs + wallMs
      spans(opId) = opSpan.copy(endMs = endMs)
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(ev)
      spark.listenerManager.unregister(ev)
      val jvm1 = jvmCounters
      ev.synchronized {
        ev.intervals.foreach { case (n, s, e) =>
          spans += Span(spans.size, opId, n, s.toDouble, e.toDouble)
        }
        val jobs = ev.intervals.filter(_._1.startsWith("job "))
          .map { case (_, s, e) => (math.max(s.toDouble, opSpan.startMs), math.min(e.toDouble, endMs)) }
          .filter { case (s, e) => e > s }.sortBy(_._1)
        // union of job intervals inside the op: the rest is driver time
        var covered = 0.0
        var reach = Double.NegativeInfinity
        jobs.foreach { case (s, e) =>
          val from = math.max(s, reach)
          if (e > from) covered += e - from
          reach = math.max(reach, e)
        }
        current = None
        ev.counters.toMap ++ jvm1.map { case (n, v) => n -> (v - jvm0(n)) } ++ extra ++
          Map("wall_ms" -> wallMs, "driver_residue_ms" -> math.max(0.0, wallMs - covered),
            "busy_ratio" -> ev.counters("task_run_ms") / (wallMs * k))
      }
  }

  def toJson: String = spans.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
  }.mkString("[", ",\n", "]")
}
