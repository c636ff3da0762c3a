package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the benchmark's calls into the library's modules.
  * A span is (name, parent, start ns, end ns); nanoTime values, so only
  * differences within one process mean anything. When disabled, `span`
  * runs its body and records nothing, so untraced runs pay one branch. */
final class Spans(val enabled: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
  private var stack: List[String] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.getOrElse("")
      stack = name :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        synchronized { buf += ((name, parent, t0, t1)) }
      }
    }

  /** A `ProfilerConfig.onPassTiming` sink: the profiler calls it from its
    * pass threads as each pass finishes, with the pass's duration. */
  val passTiming: (String, Double) => Unit = (pass, seconds) =>
    if (enabled) {
      val t1 = System.nanoTime()
      synchronized {
        buf += ((s"profiler.pass.$pass", "profiler.profile", t1 - (seconds * 1e9).toLong, t1))
      }
    }

  def drain(): Seq[(String, String, Long, Long)] = synchronized {
    val out = buf.toList
    buf.clear()
    out
  }
}

/** Per-call Spark counters from a `SparkListener` and a
  * `QueryExecutionListener`. Between `reset()` and `snapshot()` the
  * counters hold exactly one call's work, because calls run one at a
  * time and both ends drain the listener bus. */
final class SparkCounters(spark: SparkSession)
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val counts = mutable.LinkedHashMap.empty[String, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def add(key: String, v: Long): Unit = counts(key) = counts.getOrElse(key, 0L) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1)
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("input_rows", m.inputMetrics.recordsRead)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.diskBytesSpilled)
      add("result_bytes", m.resultSize)
      add("executor_cpu_ns", m.executorCpuTime)
      add("executor_run_ms", m.executorRunTime)
    }
  }

  /** Cache and local-checkpoint blocks: RDD blocks stored at a valid
    * level. Removals arrive with an invalid level and are skipped. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid)
      add("block_write_bytes", info.memSize + info.diskSize)
  }

  /** Parquet scans in the executed plan, subqueries included. Scans
    * inside a cached relation's own plan are not counted: a read of the
    * columnar cache is not a file scan.
    *
    * Rules fused by `Validator.runBatched`: its fused aggregate is a
    * `head()` whose output columns are `c0 .. c<k-1>`, one per rule. Only
    * aggregates that succeeded count; when one fails, runBatched runs
    * its rules one by one and they are not fused. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }.size
    val names = qe.analyzed.output.map(_.name)
    val fused =
      if (funcName == "head" && names.nonEmpty && names == names.indices.map(i => s"c$i"))
        names.size
      else 0
    synchronized {
      add("file_scans", scans)
      if (fused > 0) add("rules_fused", fused)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    SparkInternals.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def reset(): Unit = {
    SparkInternals.drainListenerBus(spark.sparkContext)
    synchronized {
      counts.clear()
      jobStart.clear()
      jobIntervals.clear()
    }
  }

  /** This call's counters (a counter that never fired is absent) and its
    * job intervals in epoch milliseconds. */
  def snapshot(): (Map[String, Long], Seq[(Long, Long)]) = {
    SparkInternals.drainListenerBus(spark.sparkContext)
    synchronized((counts.toMap, jobIntervals.toList))
  }
}

/** JVM-wide cumulative counters: GC time, JIT time, codegen compiles. */
object JvmCounters {
  def read(): Map[String, Long] = Map(
    "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum,
    "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    "codegen_compiles" -> SparkInternals.codegenCompiles)

  def delta(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before(k)) }
}
