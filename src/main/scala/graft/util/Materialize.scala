package graft.util

import org.apache.spark.sql.Dataset

/** Row-block materialization with a cluster-safe fault-tolerance
  * toggle — the one place the engine decides HOW a multiply-read
  * narrow frame is pinned.
  *
  * The perf rule (measured, OPTIMIZATION_r21.md "central finding"):
  * narrow frames read several times downstream materialize as eager
  * row-block checkpoints, because the columnar `persist()` cache's
  * InMemoryRelation decode makes reuse reads 3.5–6× slower than
  * checkpoint block reads (wide column-pruned frames keep `persist()`
  * — the profiler input is the counter-measured case).
  *
  * The fault-tolerance rule (this helper's reason to exist):
  * `localCheckpoint` truncates lineage to executor-local blocks — on a
  * cluster, an executor lost during the read window fails the job
  * instead of recomputing. When the session has a RELIABLE checkpoint
  * directory configured (`SparkContext.setCheckpointDir`), materialize
  * through `Dataset.checkpoint` instead: same eager cut, blocks
  * survive executor loss. `reliable` overrides the auto-detection in
  * either direction. Results are identical in both modes — only the
  * storage of the cut changes; MaterializeSpec pins that equivalence.
  *
  * Block lifetime: checkpoint blocks free when the ContextCleaner GCs
  * the unreferenced RDD (driver periodic GC, default 30 min) — fine
  * for batch pipelines and the bench's short-lived sessions; an
  * operator needing deterministic release on a precise scope keeps
  * persist + unpersist instead (SkewJoin documents that choice).
  */
object Materialize {

  /** Eagerly materialize `ds` as row blocks and truncate its lineage.
    * Local executor blocks by default; reliable-checkpoint blocks when
    * the session has a checkpoint dir (or `reliable = Some(true)`). */
  def rowBlocks[T](ds: Dataset[T], reliable: Option[Boolean] = None): Dataset[T] = {
    val sc = ds.sparkSession.sparkContext
    val useReliable = reliable.getOrElse(sc.getCheckpointDir.isDefined)
    require(!useReliable || sc.getCheckpointDir.isDefined,
      "Materialize.rowBlocks(reliable = Some(true)) requires SparkContext.setCheckpointDir")
    if (useReliable) ds.checkpoint(eager = true) else ds.localCheckpoint(eager = true)
  }
}
