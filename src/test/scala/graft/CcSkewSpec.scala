package graft

import graft.functions.ConnectedComponents
import org.apache.spark.sql.execution.PartialReducerPartitionSpec
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
  AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** Skew posture of connected components on power-law graphs (r7
  * VERDICT item 5).
  *
  * A label⋈edges join on node id puts a hub node's ~N/10 edge rows in
  * ONE shuffle partition — the classic straggler that kills a
  * 1000-executor run while 999 cores idle. That join is
  * one-row-to-many on the label side, the shape AQE's
  * OptimizeSkewedJoin can split. (a) plants the hub, tunes the skew
  * thresholds down to test scale and asserts the executed plan of that
  * join shape contains a skew-split shuffle read
  * (PartialReducerPartitionSpec). No engine CC kernel runs this join
  * any more: [[ConnectedComponents.minLabel]] is star contraction,
  * whose per-node window `min` keeps a hub's rows in one task and
  * cannot be skew-split (SCALE.md, "CC skew posture"). (a) stays
  * as the record of what AQE does for the join shape; (b) asserts the
  * one kernel's labels on the planted graph in closed form.
  */
class CcSkewSpec extends SparkSpec {

  test("planted hub (degree N/10): AQE skew-split fires on the " +
    "label⋈edges join and labels stay correct") {
    import spark.implicits._
    val conf = spark.conf
    val hubDeg = 250000L // one node owns ~80% of one join partition
    val chainBase = 600000L
    val chainEnd = 700000L
    // hub star 0—(1..hubDeg) plus disjoint 2-chains in the high id
    // range: (h, h+1) for even h — background components that must NOT
    // collapse into the hub's, and that set the median partition size
    // the hub partition is skewed against.
    val hub = spark.range(1, hubDeg + 1)
      .select(lit(0L).as("src"), $"id".as("dst"))
    val chains = spark.range(chainBase, chainEnd, 2)
      .select($"id".as("src"), ($"id" + 1).as("dst"))
    val edges = hub.unionByName(chains)
    val nodes = edges.select($"src".as("id"))
      .unionByName(edges.select($"dst".as("id"))).distinct()
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.forceOptimizeSkewedJoin")
      .map(k => k -> conf.getOption(k))
    try {
      // force SMJ (no broadcast escape hatch) and scale the skew
      // thresholds down to the planted sizes: the hub partition is a
      // few MB here, standing in for the hundreds-of-GB partition a
      // real hub produces at 100 TB
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "65536")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // --- (a) a min-label propagation round's join: both sides are
      // checkpointed frames (plain scans), so the SMJ's children are
      // Sort(ShuffleQueryStage) on each side — the pattern
      // OptimizeSkewedJoin requires. (An inline label build would
      // leave an aggregate between shuffle and join and AQE would
      // refuse to split.)
      import graft.Materialize.TrunkCheckpointOps
      val labels0 = nodes.select($"id", $"id".as("component"))
        .trunkCheckpoint()
      val both = edges.unionByName(
        edges.select($"dst".as("src"), $"src".as("dst")))
        .trunkCheckpoint()
      val probe = labels0
        .join(both, labels0("id") === both("src"))
        .select($"dst".as("id"), $"component")
        .groupBy("id").agg(min("component").as("component"))
      // drive THIS Dataset's own QueryExecution: collect() executes
      // probe.queryExecution itself (a write or foreachPartition
      // builds a fresh QueryExecution and this one would still show
      // its un-executed initial plan)
      probe.collect()
      val finalPlan = probe.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // query stages are leaf nodes — descend into their wrapped plans
      def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: (p.children ++ (p match {
          case q: QueryStageExec => Seq(q.plan)
          case _ => Nil
        })).flatMap(allNodes)
      val skewReads = allNodes(finalPlan).collect {
        case r: AQEShuffleReadExec if r.partitionSpecs.exists(
          _.isInstanceOf[PartialReducerPartitionSpec]) => r
      }
      assert(skewReads.nonEmpty,
        "AQE did not skew-split the hub partition of the label⋈edges " +
          s"join — straggler risk at scale. Final plan:\n$finalPlan")
      // --- (b) correctness of the one kernel on the planted graph
      val t0 = System.nanoTime()
      val labels = ConnectedComponents.minLabel(nodes, edges)
      val starOk = labels.filter($"id" <= hubDeg)
        .filter($"component" =!= 0L).count()
      assert(starOk == 0, "hub star must collapse to component 0")
      val chainBad = labels.filter($"id" >= chainBase)
        .filter($"component" =!= ($"id" - ($"id" % 2))).count()
      assert(chainBad == 0, "2-chains must label by their even endpoint")
      val ms = (System.nanoTime() - t0) / 1000000
      info(s"minLabel on hub graph ($hubDeg spokes): ${ms} ms")
    } finally {
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
      CheckpointHygiene.release(spark)
    }
  }
}
