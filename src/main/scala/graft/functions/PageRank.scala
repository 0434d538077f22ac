package graft.functions

import graft.Materialize.TrunkCheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PageRank in fixed-point integer arithmetic — the graph-centrality
  * primitive (reference has no graph ops; this is the standard
  * companion to [[ConnectedComponents]] for link/co-occurrence graphs
  * in corpus curation, e.g. domain authority as a quality prior).
  *
  * Ranks are BIGINT micro-units (`scale` = 1.0) and every per-node
  * update is integer arithmetic: contribution = rank div out-degree,
  * new rank = (1-d)·scale/N + d·(sum of contributions) with d = 85/100
  * applied as `(85 * s) div 100`. Long sums are associative and
  * commutative EXACTLY, so the result is bit-identical regardless of
  * partitioning, parallelism or aggregation order — the property that
  * lets a distributed run hash-match a single-threaded oracle. The
  * truncation bias per node per round is < 1 micro-unit: invisible for
  * ranking at scale = 1e12, and a price worth paying for run-to-run
  * determinism on a 1000-executor cluster (float PageRank is not even
  * self-reproducible there).
  *
  * Each iteration = one shuffle join of ranks onto edges by src + one
  * groupBy dst (partial-aggregated). Edges (with degrees pre-attached)
  * are computed once and localCheckpointed; the per-round state is one
  * row per node. Dangling nodes: callers passing bidirected edges have
  * none (every node has out-degree ≥ 1); leaked mass from truncation
  * is not redistributed.
  */
object PageRank {

  /** Personalized PageRank: teleport mass restarts ONLY at the seed
    * set (isSeed over the node id column) — rank becomes "relevance to
    * these seeds", the recommender / related-items primitive, instead
    * of global authority; [[ranks]] is this with every node a seed.
    * Non-seed nodes start at 0 and receive mass only through edges.
    * NOT a pure plan builder: it runs one eager count() action (the
    * seed count becomes a literal) and throws if the seed predicate
    * matches no node. */
  def personalizedRanks(edges: DataFrame, isSeed: Column,
      iters: Int = 2, scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val ed = e.join(deg, "src").trunkCheckpoint()
    val nodes = ed.select(col("src").as("id"))
      .unionByName(ed.select(col("dst").as("id")))
      .distinct()
      .withColumn("seed", isSeed)
      .trunkCheckpoint()
    // NOTE: this count() is an eager action inside the plan builder
    // (the seed count is needed as a literal in the teleport term)
    val nSeeds = nodes.filter(col("seed")).count()
    require(nSeeds > 0, "personalizedRanks: empty seed set")
    val base = (15L * scale / 100L) / nSeeds
    var r = nodes.select(col("id"), col("seed"),
      when(col("seed"), lit(scale / nSeeds)).otherwise(0L).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = ed.join(r, ed("src") === r("id"))
        .select(col("dst").as("id"),
          expr("rank div outdeg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("s"))
      r = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"), col("seed"),
          (when(col("seed"), lit(base)).otherwise(0L) +
            expr("85 * coalesce(s, 0L) div 100")).as("rank"))
    }
    r.select(col("id"), col("rank"))
  }

  /** Global PageRank: personalized PageRank with every node a seed
    * (teleport base, initial rank and update all divide by N).
    * @param edges directed (src, dst), duplicates allowed (distinct'd).
    * @return (id, rank) — rank in integer micro-units of `scale`. */
  def ranks(edges: DataFrame, iters: Int = 2,
      scale: Long = 1000000000000L): DataFrame =
    personalizedRanks(edges, lit(true), iters, scale)
}
