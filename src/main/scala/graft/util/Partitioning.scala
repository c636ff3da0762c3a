package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Partition-count hygiene for CPU-heavy map-side operators.
  *
  * The dedup/similarity/text operators do real per-row compute
  * (hashing every k-gram, folding marker counters, sliding-window
  * minima). Their cost model assumes the input is spread across the
  * cluster — but a small parquet file (or a single large row group)
  * arrives as ONE input split, serializing the whole corpus onto one
  * core while the rest idle. At 100 TB inputs come in thousands of
  * splits and this is a no-op; it exists so the same operator saturates
  * whatever parallelism the session has when the input doesn't.
  */
object Partitioning {

  /** Round-robin repartition `df` up to the session's default
    * parallelism — only when the estimated file-scan split count is
    * below it. Row order changes (round-robin), so use only ahead of
    * order-insensitive work (aggregates, joins, per-row projections).
    * The repartition shuffles raw input rows once; for the operators
    * here that is far cheaper than leaving cores idle, and it never
    * triggers when the source is already well-split.
    *
    * The split count is ESTIMATED from the analyzed logical plan's
    * file-scan leaf (size-in-bytes through Spark's own max-split-bytes
    * formula) — deliberately NOT via `df.rdd.getNumPartitions`, which
    * physically plans the whole subtree once here and again at the
    * real action: pure driver overhead on every operator call. Plans
    * that are not a narrow chain (project/filter/alias) over a single
    * file relation — in-memory test fixtures, unions, anything already
    * shuffled — pass through untouched, matching the old behavior
    * (local relations already parallelize to the session default, and
    * shuffled plans already have `spark.sql.shuffle.partitions` tasks).
    *
    * Caveat: do NOT spread a plan whose task binary embeds a huge
    * literal expression tree (e.g. unrolled k-means centroid argmax —
    * megabytes of serialized literals): every task deserializes the
    * whole binary, so multiplying tasks multiplies that fixed cost,
    * which dominates jobs whose actual data is small. */
  def spread(df: DataFrame): DataFrame = spreadImpl(df, 0L)

  /** Measured break-even of the gated spread PER CORE of session
    * parallelism: ~8 MB of compressed parquet on a 32-core local
    * session → 256 KB/core. The exchange's fixed cost (task fan-out
    * plus the splits×partitions shuffle-file matrix) grows with the
    * session's parallelism, so scaling the byte gate by
    * `defaultParallelism` carries the measurement to other session
    * shapes instead of silently applying a 32-core constant to a
    * 4-core notebook (gate 8× too high) or a 1000-core cluster
    * (8× too low). */
  private[graft] val spreadBreakEvenPerCore: Long = 256L << 10

  /** The session-derived byte gate for [[spreadIfLarge]]. */
  private[graft] def derivedSpreadMinBytes(spark: SparkSession): Long =
    math.max(1, spark.sparkContext.defaultParallelism) * spreadBreakEvenPerCore

  /** [[spread]] gated on input size: only fan out when the scan is
    * poorly split AND carries at least [[derivedSpreadMinBytes]]:
    * [[spreadBreakEvenPerCore]] × default parallelism, the measured
    * 32-core break-even rescaled to the session's shape. For generic
    * columnar aggregation the local exchange has a real fixed cost,
    * so spreading a table a single task chews through in well under
    * that cost is a net loss. Operators whose per-byte CPU is orders
    * of magnitude higher than columnar aggregation (regex matching,
    * k-gram hashing, vector math) should call the ungated [[spread]]
    * instead — for them even a sub-MB input is minutes of single-core
    * work. */
  def spreadIfLarge(df: DataFrame): DataFrame =
    spreadImpl(df, derivedSpreadMinBytes(df.sparkSession))

  private def spreadImpl(df: DataFrame, minBytes: Long): DataFrame = {
    // Streaming plans expose no file index to inspect (and micro-batch
    // partitioning is the source's business) — pass them through.
    if (df.isStreaming) df
    else {
      val spark = df.sparkSession
      val target = spark.sparkContext.defaultParallelism
      estimatedScan(df.queryExecution.analyzed, spark) match {
        case Some((n, bytes)) if n < target && bytes >= minBytes => df.repartition(target)
        case _ => df
      }
    }
  }

  /** Estimated (split count, total bytes) of the plan's single
    * file-scan leaf, via the same formula `FilePartition.maxSplitBytes`
    * uses (bytes-per-core floor, open-cost floor, max-partition-bytes
    * ceiling) over the file index's total size. Ignores per-file
    * rounding, so corpora of many tiny files UNDER-estimate — erring
    * toward a cheap extra repartition, never toward idle cores. None
    * when the plan is not a narrow chain over one file relation. */
  private def estimatedScan(plan: LogicalPlan, spark: SparkSession): Option[(Long, Long)] =
    plan match {
      case Project(_, child) => estimatedScan(child, spark)
      case Filter(_, child) => estimatedScan(child, spark)
      case SubqueryAlias(_, child) => estimatedScan(child, spark)
      case l: LogicalRelation =>
        l.relation match {
          case fs: HadoopFsRelation =>
            val conf = spark.sessionState.conf
            val totalBytes = fs.location.sizeInBytes
            val bytesPerCore =
              totalBytes / math.max(1, spark.sparkContext.defaultParallelism)
            val maxSplit = math.min(
              conf.filesMaxPartitionBytes,
              math.max(conf.filesOpenCostInBytes, bytesPerCore))
            Some((math.max(1L, (totalBytes + maxSplit - 1) / math.max(1L, maxSplit)), totalBytes))
          case _ => None
        }
      case _ => None
    }
}
