package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, Tables}

/** Shared graph trunks for the graph-kernel query family.
  *
  * Two graphs are projected from `lineitem` by many queries:
  *
  *  - the CO-ORDER PART graph (parts sharing an order; q105 triangles,
  *    q215 Adamic–Adar, q259 local clustering, q260 assortativity,
  *    q317 link prediction) whose edge build — a per-order self-join
  *    plus a global distinct — is the single most expensive shared
  *    lineage in the suite (~35% of the sf1 bench tail when rebuilt
  *    per query, r7 VERDICT), and
  *  - the SUPPLIER⇄PART bipartite graph (q89/q131 PageRank, q107 BFS,
  *    q109 k-core, q118 LPA, q130 modularity, q132 GraphSAGE, q282
  *    harmonic centrality), a cheap projection but still one full
  *    lineitem scan + distinct per consumer.
  *
  * In a production pipeline these are persisted artifacts (the same §4
  * materialization boundary as the news trunk): an edge table is
  * written once per ingest and every kernel reads it. Each frame is a
  * session trunk ([[graft.Materialize.trunk]], key `("GraphTrunk", dir,
  * stage)`), built once per session and shared by every consumer.
  *
  * Scale posture: at 100 TB each frame is O(edges) — far smaller than
  * the fact table it projects — and the checkpoint is exactly the
  * "write the edge list to parquet once" step a real job would run;
  * consumers then share one partitioning instead of re-shuffling
  * lineitem five times.
  */
object GraphTrunk {

  /** Distinct co-order part edges, lower id first: (u < v). One
    * per-order self-join + one distinct, shared by the whole co-order
    * family. */
  private[queries] def coOrderEdges(s: SparkSession,
      dir: String): DataFrame =
    Materialize.trunk(s, ("GraphTrunk", dir, "co_edges")) {
      import s.implicits._
      val io = Tables(s, dir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
      io.as("x")
        .join(io.as("y"), $"x.o" === $"y.o" && $"x.p" < $"y.p")
        .select($"x.p".as("u"), $"y.p".as("v")).distinct()
    }

  /** Undirected node degrees of the co-order graph: (nid, d). */
  private[queries] def coOrderDegrees(s: SparkSession,
      dir: String): DataFrame =
    Materialize.trunk(s, ("GraphTrunk", dir, "co_deg")) {
      import s.implicits._
      val e = coOrderEdges(s, dir)
      e.select($"u".as("nid"))
        .unionByName(e.select($"v".as("nid")))
        .groupBy($"nid").agg(count(lit(1)).as("d"))
    }

  /** Degree-oriented sorted adjacency (Schank–Wagner node-iterator
    * orientation): (a, nbrs = sorted N⁺(a)). Every triangle appears
    * exactly once as c ∈ N⁺(a) ∩ N⁺(b) on DAG edge (a, b), with
    * out-degree ≤ O(√m) — shared by q105 and q259. */
  private[queries] def coOrderAdjacency(s: SparkSession,
      dir: String): DataFrame =
    Materialize.trunk(s, ("GraphTrunk", dir, "co_adj")) {
      import s.implicits._
      val e = coOrderEdges(s, dir)
      val deg = coOrderDegrees(s, dir)
      val ori = e
        .join(deg.select($"nid".as("u"), $"d".as("du")), Seq("u"))
        .join(deg.select($"nid".as("v"), $"d".as("dv")), Seq("v"))
        .select(
          when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u")
            .otherwise($"v").as("a"),
          when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v")
            .otherwise($"u").as("b"))
      ori.groupBy($"a")
        .agg(sort_array(collect_list($"b")).as("nbrs"))
    }

  /** Distinct supplier→part bipartite edges with the part-id offset
    * the kernels use: (src = l_suppkey, dst = 100000 + l_partkey). */
  private[queries] def suppPartEdges(s: SparkSession,
      dir: String): DataFrame =
    Materialize.trunk(s, ("GraphTrunk", dir, "bip_edges")) {
      import s.implicits._
      Tables(s, dir, "lineitem")
        .select($"l_suppkey".as("src"),
          (lit(100000L) + $"l_partkey").as("dst"))
        .distinct()
    }
}
