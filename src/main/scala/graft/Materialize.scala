package graft

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
  * plan, keyed by the checkpoint RDD's id. A plan walker that reaches a
  * `LogicalRDD` leaf can resume on the recorded original plan via
  * [[lineageOf]] — full-lineage analysis at zero rebuild cost (an
  * earlier design re-ran the query builder with checkpointing disabled;
  * iterative kernels then stack k rounds of un-truncated lineage and
  * plan analysis goes super-linear — unusably slow even at sf0.001).
  * The map key is the RDD id, not the plan node: self-joins copy the
  * `LogicalRDD` via `newInstance` (fresh exprIds) but share the RDD.
  *
  * SESSION TRUNKS ([[trunk]]): frames a production pipeline writes once
  * per run and every consumer reads (the dbt `transformed` table and
  * marts, edge lists, near-dup group tables — SURVEY §4). [[trunk]] is
  * the one place that decides how such a frame is memoized, per mode:
  *  - normal: built once per (session, key), materialized eagerly (a
  *    pinned checkpoint unless the caller passes its own
  *    materialization) and returned by reference to every later query.
  *  - [[fresh]]: checkpoints behave normally (bounded plans) but the
  *    session memo is bypassed, so a perturbation harness re-executing
  *    a query rebuilds its trunks under the CURRENT session config
  *    instead of reading a frame materialized under the default
  *    config. Each key is built once per fresh scope, unpinned —
  *    CheckpointHygiene.release reclaims it at the next query boundary.
  *
  * CONVERGENCE LOOPS ([[fixpoint]]): every iterative kernel that runs a
  * relational round to a fixpoint (connected components, LPA, k-core,
  * k-truss) hands its round to [[fixpoint]], the one place that decides
  * per-round checkpointing, the convergence probe, the drop of
  * superseded generations and the iteration cap, whose exit is an
  * error unless the kernel asks for a capped result.
  */
object Materialize {

  private val freshDepth = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }
  // per-[[fresh]]-scope memo: one trunk build per scope even when
  // several consumers inside the scope ask for the same key. Created
  // at the OUTERMOST fresh entry, dropped at its exit, so distinct
  // perturbed runs never share a build.
  private val freshScope =
    new ThreadLocal[java.util.HashMap[Any, DataFrame]]

  /** Run `body` with the session trunk memo bypassed but checkpoints
    * intact: trunks rebuild under the caller's current session config.
    * Within one (outermost) fresh scope each trunk key is still built
    * exactly once, like a production run that writes the artifact once
    * and reads it everywhere. */
  def fresh[T](body: => T): T = {
    val depth = freshDepth.get
    if (depth == 0) freshScope.set(new java.util.HashMap[Any, DataFrame])
    freshDepth.set(depth + 1)
    try body finally {
      freshDepth.set(depth)
      if (depth == 0) freshScope.remove()
    }
  }

  /** Memoize `build` per `key` for the lifetime of the current [[fresh]]
    * scope; only called inside one. */
  private def scopedMemo(key: Any)(build: => DataFrame): DataFrame = {
    val m = freshScope.get
    val hit = m.get(key)
    if (hit != null) hit
    else { val v = build; m.put(key, v); v }
  }

  private val trunks =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, Any),
      DataFrame]()

  /** Normal-mode trunk materialization: an eager checkpoint, pinned so
    * the per-query [[CheckpointHygiene.release]] sweep never drops a
    * truncated-lineage frame later queries still read. Only the
    * returned frame's RDD is pinned; checkpoints taken inside the build
    * stay releasable. */
  private def pinnedCheckpoint(df: DataFrame): DataFrame =
    CheckpointHygiene.pin(df.trunkCheckpoint())

  /** The session trunk for `key` (namespace keys per module, e.g.
    * `("GraphTrunk", dir, "co_edges")`): built once per session and
    * handed out by reference; see the object doc for the per-mode
    * behaviour. `materialize` is the normal-mode materialization of
    * the build (default [[pinnedCheckpoint]]).
    *
    * Lookup is get → build → putIfAbsent, so a build may resolve other
    * trunks. Two threads racing on one key may both build; the first
    * insert wins and every caller gets that frame. */
  def trunk(s: SparkSession, key: Any,
      materialize: DataFrame => DataFrame = pinnedCheckpoint)(
      build: => DataFrame): DataFrame =
    if (freshDepth.get > 0)
      scopedMemo((s, key)) { build.trunkCheckpoint() }
    else {
      val k = (s, key)
      val hit = trunks.get(k)
      if (hit != null) hit
      else {
        val v = materialize(build)
        val won = trunks.putIfAbsent(k, v)
        if (won == null) v else won
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

  /** Pre-truncation analyzed plan of each checkpoint, by RDD id.
    * Bounded: one small plan tree per checkpoint in the session (the
    * recorded plan's own upstream checkpoints are themselves truncated
    * `LogicalRDD`s, so entries never stack k rounds of lineage). */
  private val provenance =
    new java.util.concurrent.ConcurrentHashMap[Int, LogicalPlan]()

  /** The recorded pre-checkpoint plan behind a `LogicalRDD` leaf, if
    * the frame came from [[trunkCheckpoint]]. */
  def lineageOf(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case lr: LogicalRDD => Option(provenance.get(lr.rdd.id))
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
          provenance.put(lr.rdd.id, df.queryExecution.analyzed)
        case _ => // not a plain checkpoint leaf; nothing to record
      }
      cp
    }
  }
}
