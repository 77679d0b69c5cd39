package graft.perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.SaveIntoDataSourceCommand
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query counters, keyed by the per-layer metric names of
  * BENCHMARK.json. Listener callbacks and the harness thread both write. */
final class Counters {
  private val m = mutable.LinkedHashMap[String, Double]()
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def snapshot: Map[String, Double] = synchronized { m.toMap }
}

/** Observes Spark from outside the program through its public listener
  * APIs: the job/stage/task/block events (`exec`, `shuffle`, `sources`
  * byte counts, `assets` evictions) and the finished query executions
  * (`plans` phases and graft rule time, `tables` file-scan metrics,
  * `sources` write commands). The harness points [[bucket]] at the query
  * being run and drains the listener bus at each query boundary, so every
  * event lands in the query that caused it. Jobs carry their phase
  * (`build` = inside `SparkEntry.queries(q)(spark, dir)`, `action` = the
  * noop write) as a local property. */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile var bucket: Counters = new Counters
  /** task (launch, finish) epoch-ms intervals, for the driver-gap sum */
  val intervals = mutable.ArrayBuffer[(Long, Long)]()
  private val stageOwner = mutable.Map[Int, (Counters, Boolean)]()
  private val MB = 1024.0 * 1024.0

  private def building: Boolean = Tracer.phase.get == "build"

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val b = bucket
    val build = Option(e.properties).exists(_.getProperty(Tracer.PhaseKey) == "build")
    b.add("exec.jobs", 1)
    if (build) b.add("operators.build_jobs", 1)
    e.stageIds.foreach(id => stageOwner(id) = (b, build))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val b = stageOwner.get(e.stageInfo.stageId).map(_._1).getOrElse(bucket)
    b.add("exec.stages", 1)
    if (e.stageInfo.attemptNumber() > 0) b.add("exec.stage_retries", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (b, build) = stageOwner.getOrElse(e.stageId, (bucket, false))
    val info = e.taskInfo
    intervals += ((info.launchTime, info.finishTime))
    b.add("exec.tasks", 1)
    if (e.reason != Success) b.add("exec.failed_tasks", 1)
    val t = e.taskMetrics
    if (t != null) {
      b.add("exec.task_run_s", t.executorRunTime / 1e3)
      b.add("exec.task_cpu_s", t.executorCpuTime / 1e9)
      b.add("exec.spill_mb", t.diskBytesSpilled / MB)
      b.add("shuffle.write_mb", t.shuffleWriteMetrics.bytesWritten / MB)
      b.add("shuffle.records", t.shuffleWriteMetrics.recordsWritten.toDouble)
      b.add("shuffle.read_mb", t.shuffleReadMetrics.totalBytesRead / MB)
      b.add("shuffle.fetch_wait_s", t.shuffleReadMetrics.fetchWaitTime / 1e3)
      if (build) {
        b.add("sources.write_mb", t.outputMetrics.bytesWritten / MB)
        b.add("sources.write_rows", t.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val u = e.blockUpdatedInfo
    if (u.blockId.isRDD && !u.storageLevel.isValid) bucket.add("assets.evicted_blocks", 1)
  }

  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val b = bucket
    val plan = qe.executedPlan
    collect(plan) { case s: FileSourceScanExec => s }.foreach { s =>
      b.add("tables.scan_rows", metric(s, "numOutputRows"))
      b.add("tables.files_read", metric(s, "numFiles"))
      b.add("tables.scan_mb", metric(s, "filesSize") / MB)
      b.add("tables.scan_s", metric(s, "scanTime") / 1e3)
    }
    if (building) {
      val writes = collect(plan) {
        case w: DataWritingCommandExec => metric(w, "numFiles")
        case c: ExecutedCommandExec
          if c.cmd.isInstanceOf[SaveIntoDataSourceCommand] ||
            c.cmd.nodeName.contains("AsSelect") => 0.0
        case _: V2TableWriteExec => 0.0
      }
      if (writes.nonEmpty) {
        b.add("sources.files_written", writes.sum)
        b.add("sources.write_s", durationNs / 1e9)
      }
    } else {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        b.add(s"plans.${p}_s", ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0))
      }
      b.add("plans.graft_rules_s", qe.tracker.rules.collect {
        case (rule, s) if rule.startsWith("graft.plans.") => s.totalTimeNs / 1e9
      }.sum)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Tracer {
  val PhaseKey = "perfbench.phase"
  /** harness-side mirror of the job property, read by the QE callbacks
    * (they run after a drain, while the harness sits at the boundary) */
  val phase = new java.util.concurrent.atomic.AtomicReference[String]("")
}

/** Counts WARN lines carrying `needle` (the function-registry
  * "replaced a previously registered function" warning). */
final class WarnCounter(needle: String) extends AbstractAppender(
    "perfbench-warns", null, null, true, Property.EMPTY_ARRAY) {
  val count = new java.util.concurrent.atomic.AtomicLong
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.WARN) &&
      String.valueOf(e.getMessage.getFormattedMessage).contains(needle))
      count.incrementAndGet()

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    start()
    ctx.getConfiguration.getRootLogger.addAppender(this, Level.WARN, null)
    ctx.updateLoggers()
  }
}
