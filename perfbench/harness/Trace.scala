package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution counters from Spark's public listener bus. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks, taskRunMs, gcMs, inputBytes, shuffleBytes, spillBytes, resultBytes =
    new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      inputBytes.add(m.inputMetrics.bytesRead)
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.diskBytesSpilled)
      resultBytes.add(m.resultSize)
    }
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
    "task_run_ms" -> taskRunMs.sum, "gc_ms" -> gcMs.sum,
    "input_bytes" -> inputBytes.sum, "shuffle_bytes" -> shuffleBytes.sum,
    "spill_bytes" -> spillBytes.sum, "result_bytes" -> resultBytes.sum)
}

/** Catalyst phase times (QueryPlanningTracker) of every finished action,
  * plus the `count` actions, which on the root session are the sharing
  * executor's cache materializations. A streamed Dataset's tracker never
  * records the parsing phase, so the gateway workloads time it apart. */
final class CatalystCounters extends QueryExecutionListener {
  val parseMs, analyzeMs, optimizeMs, planMs, counts = new LongAdder

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    if (funcName == "count") counts.increment()
    val phases = qe.tracker.phases
    def add(a: LongAdder, phase: String): Unit = phases.get(phase).foreach(p => a.add(p.durationMs))
    add(parseMs, "parsing")
    add(analyzeMs, "analysis")
    add(optimizeMs, "optimization")
    add(planMs, "planning")
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot: Map[String, Long] = Map(
    "parse_ms" -> parseMs.sum, "analyze_ms" -> analyzeMs.sum, "optimize_ms" -> optimizeMs.sum,
    "plan_ms" -> planMs.sum, "counts" -> counts.sum)
}

object Counters {
  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

  /** Memory of this process, in MiB, read after the measured window:
    * VmHWM (peak resident set), the committed heap (fixed and pre-touched,
    * so all of it is resident) and the heap still in use after a full
    * collection. run.py reports rss_peak_mb from them. */
  def memoryJson(): String = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb =
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(Double.NaN)
      finally src.close()
    val heap = ManagementFactory.getMemoryMXBean
    val committed = heap.getHeapMemoryUsage.getCommitted
    System.gc()
    val live = heap.getHeapMemoryUsage.getUsed
    val mib = 1024.0 * 1024.0
    Json.obj(Seq("vm_hwm_mb" -> Json.num(hwmKb / 1024.0),
      "heap_committed_mb" -> Json.num(committed / mib), "heap_live_mb" -> Json.num(live / mib)))
  }
}
