package graft.functions

import graft.{CheckpointHygiene, Materialize}
import graft.Materialize.TrunkCheckpointOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components — the grouping step of near-duplicate removal
  * (LSH emits candidate PAIRS; keep-one-per-cluster needs the
  * transitive closure of those pairs).
  *
  * One kernel: alternating large-star / small-star contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC 2014). Its round count is O(log² n) worst case and does not
  * grow with component diameter, so a long near-duplicate chain costs
  * a few more rounds, not one round per hop. The round loops through
  * [[graft.Materialize.fixpoint]], which owns the per-round
  * checkpoint, the convergence probe, the drop of superseded
  * generations and the loud cap exit.
  */
object ConnectedComponents {

  // measured: a 1M-node path contracts in 20 changed rounds
  private val MaxRounds = 30

  /** One large-star + small-star round over an edge set (src, dst)
    * without self-loops. Each half-round is one window `min`
    * partitioned by node (one shuffle, no join-back).
    *
    * large-star: m(u) = min of u's CLOSED neighbourhood; every
    * neighbour v > u re-attaches as (v, m(u)), so edges only point
    * downhill. small-star: orient every edge larger → smaller; m(u) =
    * min smaller neighbour; u and each of those neighbours attach to
    * m(u). Both preserve connectivity; the fixpoint is a forest of
    * stars, child → root, rooted at each component's minimum id. */
  private def starRound(e: DataFrame): DataFrame = {
    val bi = e.unionByName(
      e.select(col("dst").as("src"), col("src").as("dst")))
    val large = bi
      .select(col("src"), col("dst"), least(col("src"),
        min(col("dst")).over(Window.partitionBy(col("src")))).as("m"))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("u"), col("m").as("v"))
    large
      .select(col("u"), col("v"),
        min(col("v")).over(Window.partitionBy(col("u"))).as("m"))
      .select(explode(array(
        struct(col("u").as("src"), col("m").as("dst")),
        struct(col("v").as("src"), col("m").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** @param nodes one column `id`; @param edges columns `src`,`dst`
    * (undirected; one direction suffices). Returns (id, component)
    * where component = min node id reachable, for every node and every
    * edge endpoint. Throws if the contraction has not converged within
    * its round cap. */
  def minLabel(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // lazy checkpoint: fixpoint's signature of `init` materializes it,
    // and round 1 reads it instead of re-running the caller's lineage
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).trunkCheckpoint(eager = false)
    val (stars, _) =
      try Materialize.fixpoint(e0, MaxRounds)(starRound)
      finally CheckpointHygiene.drop(e0)
    // star edges are child → root; each root labels itself. The
    // labels are materialized once, so callers that read the result
    // several times do not re-derive the roots; after that the star
    // edges are dead. Nodes that touch no edge are appended as their
    // own components.
    val labels = stars.select(col("src").as("id"), col("dst").as("component"))
      .unionByName(stars.select(col("dst").as("id"), col("dst").as("component"))
        .distinct())
      .trunkCheckpoint()
    CheckpointHygiene.drop(stars)
    labels.unionByName(
      nodes.join(labels.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component")))
  }

  /** Incremental connected components: fold a NEW batch of edges into
    * existing (id, component) labels without touching the old edge set.
    * Sound because a finished component is interchangeable with a
    * clique through its min-label: new edges are mapped through the old
    * labels (edge endpoints → their components), internal edges vanish,
    * and the iterative part runs on the contracted DELTA graph — nodes
    * = touched old labels + genuinely new ids, typically orders of
    * magnitude smaller than the corpus. Composition old→delta labels
    * preserves the global min (old labels are already component
    * minima). This is the ingest-time shape: a 100 TB corpus's cluster
    * state is maintained per batch at delta cost, not recomputed.
    *
    * @param oldLabels (id, component) from a previous run
    * @param newNodes  one column `id`: ALL ids of the new batch
    *                  (edge-less ones label themselves)
    * @param newEdges  (src, dst) between any old/new ids */
  def incremental(oldLabels: DataFrame, newNodes: DataFrame,
      newEdges: DataFrame): DataFrame = {
    // `lab` is deliberately NOT checkpointed: a same-window A/B at
    // sf0.1 measured eagerly materializing the O(all nodes) frame as a
    // net loss for q99 (the upstream chain is minLabel's already-
    // checkpointed labels + a cheap singleton anti-join, so the four
    // reads are cheap; pinning the full node set was not).
    val lab = oldLabels.select(col("id"), col("component"))
    // `mapped` has one reader, minLabel's lazily checkpointed edge set,
    // so the caller's newEdges chain (for q99 the band join + two
    // Jaccard-verify joins) runs once without a checkpoint of its own
    val mapped = newEdges.select(col("src"), col("dst"))
      .join(lab.select(col("id").as("src"), col("component").as("lsrc")),
        Seq("src"), "left")
      .join(lab.select(col("id").as("dst"), col("component").as("ldst")),
        Seq("dst"), "left")
      .select(coalesce(col("lsrc"), col("src")).as("src"),
        coalesce(col("ldst"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    // every delta node is an endpoint of `mapped`, which minLabel
    // labels already: no separate node set
    val delta = minLabel(mapped.select(col("src").as("id")).where(lit(false)),
      mapped)
    val relabeled = lab
      .join(delta.select(col("id").as("component"),
        col("component").as("newc")), Seq("component"), "left")
      .select(col("id"), coalesce(col("newc"), col("component"))
        .as("component"))
    val fresh = newNodes.select(col("id"))
      .join(lab.select(col("id")), Seq("id"), "left_anti")
      .join(delta.select(col("id"), col("component").as("newc")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("newc"), col("id")).as("component"))
    relabeled.unionByName(fresh)
  }
}
