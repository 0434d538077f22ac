package graft.functions

import graft.{CheckpointHygiene, Materialize}
import graft.Materialize.TrunkCheckpointOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the
  * grouping step of near-duplicate removal (LSH emits candidate PAIRS;
  * keep-one-per-cluster needs the transitive closure of those pairs).
  *
  * Each iteration: every node takes the min label among itself and its
  * neighbours — one join + one groupBy (two shuffles), converging in
  * O(component diameter) rounds. Near-dup graphs are shallow (clusters
  * of copies, diameter ≲ 3), so this beats the constant-factor-heavy
  * alternating small-star/large-star algorithm (Kiveris et al. 2014)
  * that a billion-node web graph would call for; [[largeSmallStar]] IS
  * that swap, same (id, component) contract, for deep graphs.
  * Both loop their round through [[graft.Materialize.fixpoint]], which
  * owns the per-round checkpoint, the convergence probe and the drop
  * of superseded generations.
  */
object ConnectedComponents {

  /** @param nodes one column `id`; @param edges columns `src`,`dst`
    * (undirected; one direction suffices). Returns (id, component)
    * where component = min node id reachable. */
  def minLabel(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val both = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().trunkCheckpoint()
    // iterate ONLY over nodes that touch an edge: in a near-dup graph
    // the overwhelming majority of nodes are singletons, and dragging
    // them through every join/groupBy/convergence-probe round multiplies
    // each iteration's work by nodes/endpoints for labels that cannot
    // change. Singletons are appended unchanged at the end.
    val touched = both.select(col("src").as("id")).distinct()
      .trunkCheckpoint()
    val (labels, _, _) = Materialize.fixpoint(
        touched.select(col("id"), col("id").as("component")), maxIter) {
      cur =>
        val viaNeighbour = cur.join(both, cur("id") === both("src"))
          .select(col("dst").as("id"), col("component"))
        cur.unionByName(viaNeighbour)
          .groupBy("id").agg(min("component").as("component"))
    }
    // the result reads only the final labels and `touched`
    CheckpointHygiene.drop(both)
    labels.unionByName(
      nodes.join(touched, Seq("id"), "left_anti")
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
      newEdges: DataFrame, maxIter: Int = 20): DataFrame = {
    // `lab` is deliberately NOT checkpointed: a same-window A/B at
    // sf0.1 measured eagerly materializing the O(all nodes) frame as a
    // net loss for q99 (the upstream chain is minLabel's already-
    // checkpointed labels + a cheap singleton anti-join, so the four
    // reads are cheap; pinning the full node set was not).
    val lab = oldLabels.select(col("id"), col("component"))
    // trunkCheckpoint: `mapped` feeds minLabel's edge set, deltaNodes,
    // AND (through delta's trailing singleton union) both relabeled and
    // fresh — left lazy, the caller's whole newEdges chain (for q99
    // that is the band join + two Jaccard-verify joins) re-executes
    // ~3×; the frame is O(new edges), so pinning it is cheap
    val mapped = newEdges.select(col("src"), col("dst"))
      .join(lab.select(col("id").as("src"), col("component").as("lsrc")),
        Seq("src"), "left")
      .join(lab.select(col("id").as("dst"), col("component").as("ldst")),
        Seq("dst"), "left")
      .select(coalesce(col("lsrc"), col("src")).as("src"),
        coalesce(col("ldst"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .trunkCheckpoint()
    val deltaNodes = mapped.select(col("src").as("id"))
      .unionByName(mapped.select(col("dst").as("id"))).distinct()
    val delta = minLabel(deltaNodes, mapped, maxIter)
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

  /** Alternating large-star / small-star connected components
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond" — the algorithm web-scale graph systems use). Converges in
    * O(log² n) rounds INDEPENDENT of component diameter, vs
    * [[minLabel]]'s O(diameter): on a billion-node graph with long
    * chains (link graphs, citation chains) min-label's per-hop rounds
    * are the bottleneck; star-contraction halves path lengths every
    * round. Each half-round is one partial-aggregated groupBy-min plus
    * one join back on the SAME key — the join reuses the groupBy's hash
    * partitioning, so a round costs two shuffles of the edge set and
    * the edge set only ever shrinks toward one star edge per non-root
    * node.
    *
    * large-star: every node's strictly-larger neighbours re-attach to
    * the min of its closed neighbourhood. small-star: every node's
    * smaller neighbours (and itself) attach to that min. Both preserve
    * connectivity and strictly reduce total edge "height"; the fixpoint
    * is a forest of stars rooted at each component's minimum id.
    *
    * Same contract as [[minLabel]] (nodes(id), edges(src,dst) →
    * (id, component = min reachable id)); equality is spec-asserted on
    * chains, random graphs and the q55/q87 LSH pair set.
    */
  def largeSmallStar(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 30): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().trunkCheckpoint()
    val touched = e0.select(col("src").as("id"))
      .unionByName(e0.select(col("dst").as("id")))
      .distinct().trunkCheckpoint()
    val (stars, _, _) = Materialize.fixpoint(e0, maxIter) { e =>
      // ---- large-star: m(u) = min over u's CLOSED neighbourhood;
      // each neighbour v > u re-attaches as (v, m). Emitting only the
      // larger side keeps every edge pointing downhill (no cycles).
      val bi = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      val lsMin = bi.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      val ls = bi.join(lsMin, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
      // ---- small-star: orient (u = larger, v = smaller); m(u) =
      // min smaller-neighbour; u and every other smaller neighbour
      // attach to m.
      val o = ls.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val ssMin = o.groupBy("u").agg(min(col("v")).as("m"))
      o.join(ssMin, "u")
        .select(col("u").as("src"), col("m").as("dst"))
        .unionByName(o.join(ssMin, "u")
          .filter(col("v") =!= col("m"))
          .select(col("v").as("src"), col("m").as("dst")))
        .distinct()
    }
    // the result reads only the final edges and `touched`
    CheckpointHygiene.drop(e0)
    // fixpoint edges are star edges child→root; roots never appear on
    // the left (small-star only emits src > dst).
    val labels = stars.select(col("src").as("id"), col("dst").as("component"))
    val roots = touched.join(
        stars.select(col("src").as("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    labels.unionByName(roots).unionByName(
      nodes.join(touched, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component")))
  }
}
