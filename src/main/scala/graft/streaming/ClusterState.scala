package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.functions.ConnectedComponents
import graft.sources.Warehouse

/** Streaming near-dup cluster maintenance — the composition of this
  * round's pieces: each micro-batch of candidate-pair EDGES folds into
  * the persisted (id, component) state via
  * [[ConnectedComponents.incremental]] (label contraction: iteration
  * cost scales with the batch's delta graph, never the corpus), and
  * batch `b` lands as snapshot version `b + 1` through
  * [[Warehouse.writeSnapshot]] — so cluster state is time-travelable
  * per ingest ("which cluster was doc X in before tonight's crawl
  * merged it?").
  *
  * State grows O(corpus ids), but per-trigger compute and shuffle are
  * O(batch + touched components). Exactly-once: a replayed batch
  * whose version committed writes nothing; one replayed before its
  * commit overwrites its uncommitted directory, which readers never
  * see. Single-writer, like the reference's scheduled loads.
  */
object ClusterState {

  /** foreachBatch sink over a streaming (src, dst) edge frame. */
  def sink(edges: DataFrame, statePath: String,
      checkpointDir: String): DataStreamWriter[Row] =
    edges.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val nodes = batch.select(col("src").as("id"))
            .unionByName(batch.select(col("dst").as("id"))).distinct()
          Warehouse.writeSnapshot(batch.sparkSession, statePath,
              batchId + 1) {
            case None => ConnectedComponents.minLabel(nodes, batch)
            case Some(labels) =>
              ConnectedComponents.incremental(labels, nodes, batch)
          }
        }
        ()
      }
}
