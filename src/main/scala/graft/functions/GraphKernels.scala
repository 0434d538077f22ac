package graft.functions

import graft.{CheckpointHygiene, Materialize}
import graft.Materialize.TrunkCheckpointOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixpoint-loop drivers for the graph kernels that ship as bounded
  * unrollings in the query suite (q107 BFS, q109 k-core, q118 LPA —
  * the unrolls keep their DuckDB oracles expressible). Each round is
  * defined once here ([[bfsExpand]], [[kcorePeel]], [[lpaRound]]): the
  * unrolled queries call it a fixed number of times, the kernels loop
  * it. k-core and LPA loop through [[graft.Materialize.fixpoint]]
  * (checkpoint, convergence probe, drop of superseded generations):
  * k-core runs to its fixpoint, LPA stops at its round budget; BFS
  * carries two frames per round and stops when the frontier is empty
  * or at its hop limit. Spec-asserted equal to the unrolled query
  * forms (ScaleSpec). */
object GraphKernels {

  /** One BFS round: the nodes one hop out of `frontier` that are not
    * in `visited` (both one column `node_id`). */
  def bfsExpand(edges: DataFrame, frontier: DataFrame,
      visited: DataFrame): DataFrame =
    edges.join(frontier.select(col("node_id").as("src")), Seq("src"))
      .select(col("dst").as("node_id")).distinct()
      .join(visited, Seq("node_id"), "left_anti")

  /** Multi-source BFS hop distances over a (src, dst) edge list
    * (pass both directions for an undirected graph). Returns
    * (node_id, hops) for every node reachable within `maxHops`.
    * Unreached nodes are absent — same contract as q107. */
  def bfsHops(edges: DataFrame, seeds: DataFrame,
      maxHops: Int = Int.MaxValue): DataFrame = {
    var visited = seeds.select(col("node_id")).distinct()
      .withColumn("hops", lit(0)).trunkCheckpoint()
    var frontier = visited.select("node_id").trunkCheckpoint()
    var hop = 0
    var frontierSize = frontier.count()
    while (frontierSize > 0 && hop < maxHops) {
      hop += 1
      val next = bfsExpand(edges, frontier, visited.select("node_id"))
        .trunkCheckpoint()
      frontierSize = next.count()
      CheckpointHygiene.drop(frontier)
      if (frontierSize > 0) {
        val grown = visited
          .unionByName(next.withColumn("hops", lit(hop)))
          .trunkCheckpoint()
        CheckpointHygiene.drop(visited)
        visited = grown
      }
      frontier = next
    }
    // the result reads only `visited`
    CheckpointHygiene.drop(frontier)
    visited
  }

  /** One k-core peel round over a bidirectional (u, v) edge set: drop
    * every edge with an endpoint of degree < k. One degree agg + two
    * semi-joins, all keyed on node id. */
  def kcorePeel(k: Int)(edges: DataFrame): DataFrame = {
    val keep = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= k).select(col("u").as("n"))
    edges.join(keep.select(col("n").as("u")), Seq("u"))
      .join(keep.select(col("n").as("v")), Seq("v"))
      .select(col("u"), col("v"))
  }

  /** k-core: peel degree-<k nodes until nothing drops (every round
    * that changes the edge set removes an edge, so the loop ends).
    * `edges` must hold both directions; returns the surviving
    * bidirectional edge set — q109's round, looped. */
  def kcore(edges: DataFrame, k: Int): DataFrame =
    Materialize.fixpoint(edges.select(col("u"), col("v")), Int.MaxValue)(
      kcorePeel(k))._1

  /** One semi-synchronous LPA round: every node adopts the mode of its
    * neighbours' `labels` (node_id, lbl), ties to the smallest label —
    * deterministic. One edge⋈labels join, one (node, label) count and
    * one per-node argmax. */
  def lpaRound(edges: DataFrame)(labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("node_id"))
      .orderBy(col("c").desc, col("lbl").asc)
    edges.join(labels.select(col("node_id").as("dst"), col("lbl")),
        Seq("dst"))
      .groupBy(col("src").as("node_id"), col("lbl"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("node_id"), col("lbl"))
  }

  /** Semi-synchronous LPA to label fixpoint or `maxRounds`, whichever
    * comes first: semi-synchronous LPA can oscillate, so the round
    * budget is part of its contract and a capped result is the answer.
    * Returns (node_id, lbl) — q118's round, looped. */
  def lpa(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    val l0 = edges.select(col("src").as("node_id")).distinct()
      .withColumn("lbl", col("node_id"))
    Materialize.fixpoint(l0, maxRounds, acceptCap = true)(
      lpaRound(edges))._1
  }
}
