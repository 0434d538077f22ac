package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/** The materialization seam for every checkpoint and cross-query trunk
  * in the query library.
  *
  * Queries and iterative kernels eagerly `localCheckpoint()` reusable
  * frames (fixpoint frontiers, shared intermediates). That truncates
  * lineage to a `LogicalRDD`, which blinds plan-walking tools — most
  * importantly the mirrored-double hash-stability detector
  * (HashStabilitySpec), which must see every `Round(double)` in a
  * query's FULL lineage to enroll it in the partitioning-perturbation
  * family (the r6 q316/q344 float-drift class escaped precisely through
  * this hole).
  *
  * All library code therefore checkpoints through [[trunkCheckpoint]]
  * instead of calling `localCheckpoint` directly. Besides
  * checkpointing, it records PROVENANCE: the pre-truncation analyzed
  * plan, keyed by the checkpoint RDD. A plan walker that reaches a
  * `LogicalRDD` leaf can resume on the recorded original plan via
  * [[lineageOf]] — full-lineage analysis at zero rebuild cost (an
  * earlier design re-ran the query builder with checkpointing disabled;
  * iterative kernels then stack k rounds of un-truncated lineage and
  * plan analysis goes super-linear — unusably slow even at sf0.001).
  * The map key is the RDD, not the plan node: self-joins copy the
  * `LogicalRDD` via `newInstance` (fresh exprIds) but share the RDD.
  *
  * SESSION TRUNKS ([[trunk]]): frames a production pipeline writes once
  * per run and every consumer reads (the dbt `transformed` table and
  * marts, edge lists, near-dup group tables — SURVEY §4). The trunk
  * memo is the one record of which frames a session keeps: each is
  * built once per (session, key), materialized eagerly (a checkpoint
  * unless the caller passes its own materialization) and returned by
  * reference to every later query. [[CheckpointHygiene.release]] keeps
  * the checkpoints of the trunks of every session on its context, and
  * [[forget]] ends a session's trunks. A harness that needs trunks
  * rebuilt under another config (HashStabilitySpec's perturbed runs)
  * builds them in its own `spark.newSession()` and forgets it after.
  *
  * CONVERGENCE LOOPS ([[fixpoint]]): every iterative kernel that runs a
  * relational round to a fixpoint (connected components, LPA, k-core,
  * k-truss) hands its round to [[fixpoint]], the one place that decides
  * per-round checkpointing, the convergence probe, the drop of
  * superseded generations and the iteration cap, whose exit is an
  * error unless the kernel asks for a capped result.
  */
object Materialize {

  private val trunks =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, Any),
      DataFrame]()

  /** The session trunk for `key` (namespace keys per module, e.g.
    * `("GraphTrunk", dir, "co_edges")`): built once per session, handed
    * out by reference and kept until [[forget]]. `materialize` turns
    * the build into the kept frame (default an eager checkpoint, which
    * [[CheckpointHygiene.release]] then skips).
    *
    * Lookup is get → build → putIfAbsent, so a build may resolve other
    * trunks. Two threads racing on one key may both build; the first
    * insert wins and every caller gets that frame, and the loser's
    * checkpoint is released at the next query boundary. */
  def trunk(s: SparkSession, key: Any,
      materialize: DataFrame => DataFrame = _.trunkCheckpoint())(
      build: => DataFrame): DataFrame = {
    val k = (s, key)
    val hit = trunks.get(k)
    if (hit != null) hit
    else {
      val v = materialize(build)
      val won = trunks.putIfAbsent(k, v)
      if (won == null) v else won
    }
  }

  /** Ids of the checkpoint RDDs behind the trunks of every session on
    * `sc` (compared by reference, so a stale entry of a stopped
    * context never matches a reused id). */
  private[graft] def trunkCheckpointIds(sc: SparkContext): Set[Int] =
    trunks.asScala.iterator.collect {
      case ((s, _), df) if s.sparkContext eq sc => df.queryExecution.logical
    }.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  /** End the trunks of session `s`: remove its entries and drop their
    * checkpoints. A `persist`ed trunk is left cached: the CacheManager
    * is shared by every session of a context, so unpersisting it would
    * also remove the entry another session's equal plan reads. */
  def forget(s: SparkSession): Unit =
    trunks.keySet.asScala.filter(_._1 eq s).foreach { k =>
      Option(trunks.remove(k)).foreach { df =>
        if (df.queryExecution.logical.isInstanceOf[LogicalRDD])
          CheckpointHygiene.drop(df)
      }
    }

  /** Iterate `step` from `init` until a round leaves the frame
    * unchanged. Returns (final frame, number of steps that changed the
    * frame). If `maxIter` steps run without reaching the fixpoint, the
    * driver drops the generations it created and throws
    * `IllegalStateException` naming the cap: a capped frame is never
    * handed on as an answer. A kernel whose cap is part of its
    * contract (LPA, which can oscillate) passes `acceptCap = true` and
    * gets the last generation instead.
    *
    * Every frame `step` returns is [[trunkCheckpoint]]ed, so plans
    * never grow with the round count. The checkpoint is lazy: its
    * first action is the round's signature job, which materializes it
    * in the same pass instead of a separate eager count job per round
    * (Bpe's pair-count pattern). Convergence is probed as
    * (count, bit_xor of xxhash64 over all columns) against the previous
    * generation: two scalars per round instead of a full-set anti-join.
    * XOR is order-independent and cannot overflow; equal signatures on
    * consecutive rounds = fixpoint w.h.p. for set-valued frames, and
    * exactly for kernels whose round only removes rows (k-core,
    * k-truss: equal counts already imply equal sets). Each superseded
    * generation the driver created is dropped as soon as its successor
    * is signed, so R rounds hold one copy, not R. `init` belongs to the
    * caller and is never dropped. */
  def fixpoint(init: DataFrame, maxIter: Int, acceptCap: Boolean = false)(
      step: DataFrame => DataFrame): (DataFrame, Int) = {
    def signature(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        bit_xor(xxhash64(d.columns.toSeq.map(col): _*))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var cur = init
    var sig = signature(init)
    var steps = 0
    var converged = false
    while (!converged && steps < maxIter) {
      val next = step(cur).trunkCheckpoint(eager = false)
      val ns = signature(next)
      if (!(cur eq init)) CheckpointHygiene.drop(cur)
      converged = ns == sig
      sig = ns
      cur = next
      steps += 1
    }
    if (!converged && !acceptCap) {
      if (!(cur eq init)) CheckpointHygiene.drop(cur)
      throw new IllegalStateException(
        s"fixpoint did not converge within its cap of $maxIter rounds")
    }
    (cur, if (converged) steps - 1 else steps)
  }

  /** Pre-truncation analyzed plan of each checkpoint, keyed on the
    * checkpoint RDD itself (identity; weakly). One small plan tree per
    * live checkpoint (the recorded plan's own upstream checkpoints are
    * themselves truncated `LogicalRDD`s, so entries never stack k
    * rounds of lineage). A recorded plan holds its upstream RDDs, so a
    * live frame keeps its whole chain walkable, and an entry dies with
    * the last reference to its RDD. */
  private val provenance = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], LogicalPlan]())

  /** The recorded pre-checkpoint plan behind a `LogicalRDD` leaf, if
    * the frame came from [[trunkCheckpoint]]. */
  def lineageOf(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case lr: LogicalRDD => Option(provenance.get(lr.rdd))
    case _ => None
  }

  /** `df.localCheckpoint()` + provenance recording.
    *
    * `eager = false` defers materialization to the frame's FIRST
    * action (lineage is truncated immediately either way): an
    * iterative kernel whose next round starts with a collect can fold
    * the checkpoint's materialization into that job instead of paying
    * a separate eager job per round (Bpe's pair-count table). The
    * caller owns the drop discipline: the lazy frame's lineage reads
    * its INPUTS' checkpoint blocks until it materializes, so those
    * inputs must not be unpersisted before the first action on it. */
  implicit class TrunkCheckpointOps(private val df: DataFrame)
      extends AnyVal {
    def trunkCheckpoint(): DataFrame = trunkCheckpoint(eager = true)
    def trunkCheckpoint(eager: Boolean): DataFrame = {
      val cp = df.localCheckpoint(eager)
      cp.queryExecution.analyzed match {
        case lr: LogicalRDD =>
          provenance.put(lr.rdd, df.queryExecution.analyzed)
        case _ => // not a plain checkpoint leaf; nothing to record
      }
      cp
    }
  }
}
