package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Storage hygiene for `localCheckpoint`-heavy suites.
  *
  * Iterative kernels (connected components, PageRank, BPE, the
  * ScaleWindows range-exchange materialization) eagerly
  * `localCheckpoint()` intermediate frames; Spark persists those RDDs
  * and nothing ever unpersists them — a full 400-query sweep
  * accumulates thousands of checkpoint blocks in block storage for the
  * whole session, degrading to eviction/disk-spill as it progresses.
  *
  * [[release]] drops every LOCALLY-checkpointed persistent RDD except
  * the pinned ones. Safety contract: call it only at a query boundary,
  * after the consuming action finished — a localCheckpoint truncates
  * lineage, so its blocks are unrecoverable once dropped (this is
  * precisely why the sweep must not unpersist mid-query). Pinned = the
  * live session trunks ([[Materialize.trunk]]) on this context: they
  * hand out one truncated-lineage frame to many queries, so dropping
  * them would poison every later trunk hit. Explicit
  * `persist()`/`cache()` frames (e.g. the NewsPipeline trunk, which CAN
  * recompute from lineage) are left alone. A kernel that knows a
  * generation is dead drops it early with [[drop]].
  */
object CheckpointHygiene {

  /** Unpersist a dead checkpoint generation now instead of at the next
    * query boundary. Dataset.unpersist only clears CacheManager
    * entries — checkpoint blocks are RDD storage, so unpersist the
    * LogicalRDD's RDD directly (waiting for the ContextCleaner to GC
    * them is unbounded). Also valid for a lazy checkpoint that never
    * materialized: its RDD is persist-marked all the same. */
  def drop(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }

  /** Unpersist all checkpointed RDDs of `spark`'s context except the
    * trunk checkpoints. Returns how many were released. Non-blocking:
    * block deletion proceeds async.
    * `isCheckpointed` is true only after the (eager) checkpoint
    * materialized, and false for plain persist()/cache() frames —
    * exactly the split we need (plain-persisted trunks like the
    * NewsPipeline marts keep their lineage and may recompute). */
  def release(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    val pinned = Materialize.trunkCheckpointIds(sc)
    val doomed = sc.getPersistentRDDs
      .filter { case (id, rdd) => rdd.isCheckpointed && !pinned(id) }
      .values.toSeq
    doomed.foreach(_.unpersist(blocking = false))
    doomed.size
  }
}
