package graft.functions

import graft.CheckpointHygiene
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
  * `localCheckpoint` truncates the lineage each round — without it the
  * plan doubles per iteration and the driver, not the data, becomes
  * the bottleneck.
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
    var labels = touched.select(col("id"), col("id").as("component"))
      .trunkCheckpoint()
    // convergence = label-frame fixpoint, probed as (count, hash-xor)
    // — the same two-scalar signature largeSmallStar and lpa use. One
    // agg pass over the just-checkpointed frame replaces the former
    // two-sided join probe (next ⋈ labels is a whole extra shuffle job
    // per round on exactly the suite's hottest iterative path). The
    // node set never changes, so equal signatures on consecutive
    // rounds = fixpoint w.h.p.; maxIter backstops.
    def signature(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        expr("bit_xor(xxhash64(id, component))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var sig = (-1L, 0L)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val viaNeighbour = labels.join(both, labels("id") === both("src"))
        .select(col("dst").as("id"), col("component"))
      val next = labels.unionByName(viaNeighbour)
        .groupBy("id").agg(min("component").as("component"))
        .trunkCheckpoint()
      val ns = signature(next)
      // the superseded generation is dead once next is materialized
      // and signed: R rounds hold one label copy, not R
      CheckpointHygiene.drop(labels)
      labels = next
      // i == 0 guard: the initial self-labels frame is never signed
      // (sig starts as a sentinel), so round 1's comparison is always
      // against round 0's REAL signature
      converged = i > 0 && ns == sig
      sig = ns
      i += 1
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
    var e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().trunkCheckpoint()
    val touched = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct().trunkCheckpoint()
    // convergence = edge-set fixpoint, probed as (count, hash-xor) —
    // two scalars per round instead of a full-set anti-join. XOR is
    // order-independent and can't overflow (the set is distinct, so no
    // duplicate-cancellation blind spot); equal signatures on
    // consecutive rounds = fixpoint w.h.p., and maxIter backstops.
    def checksum(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        expr("bit_xor(xxhash64(src, dst))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var sig = (-1L, 0L)
    var i = 0
    var done = false
    while (!done && i < maxIter) {
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
      val ss = o.join(ssMin, "u")
        .select(col("u").as("src"), col("m").as("dst"))
        .unionByName(o.join(ssMin, "u")
          .filter(col("v") =!= col("m"))
          .select(col("v").as("src"), col("m").as("dst")))
        .distinct().trunkCheckpoint()
      val next = checksum(ss)
      done = next == sig
      sig = next
      e = ss
      i += 1
    }
    // fixpoint edges are star edges child→root; roots never appear on
    // the left (small-star only emits src > dst).
    val labels = e.select(col("src").as("id"), col("dst").as("component"))
    val roots = touched.join(
        e.select(col("src").as("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    labels.unionByName(roots).unionByName(
      nodes.join(touched, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component")))
  }
}
