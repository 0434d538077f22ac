package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.{ListState, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig}

import graft.expressions.{LshBandHashes, MinHashSig}

/** Continuous MinHash+LSH near-dup detection AT INGEST — the
  * streaming form of the q23/q67 batch chain: every arriving document
  * is checked against everything already ingested, within one
  * micro-batch trigger, without ever joining against the full history.
  *
  * Plan shape: per-ROW minhash signature (no stateful aggregation —
  * the signature is a pure function of the document's shingle set,
  * the batch chain's own per-row expression), explode to the 16
  * (band, bandHash) bucket rows, then `transformWithState` keyed by
  * bucket. State per bucket is the member doc-id list; a new arrival
  * emits one candidate pair per existing member and appends itself.
  * Candidate semantics match the batch operator exactly: two docs pair
  * iff they share ≥1 band bucket (the spec asserts set equality with
  * `Dedup.lshCandidates` over the same corpus — including pairs whose
  * docs arrive in the SAME micro-batch, handled by folding new rows
  * left to right).
  *
  * 100 TB stance: state is O(ingested docs × bands) bucket entries —
  * the same cardinality as the batch band table q67 keeps as its
  * persisted history, here sharded by the state store. The
  * [[MaxBucket]] cap bounds any single bucket (a degenerate bucket —
  * empty-text twins, boilerplate — stops ACCUMULATING members beyond
  * the cap; arrivals still pair against the retained members, and the
  * exact-dup collapse upstream (q22's rule) is what keeps real twin
  * mass out of the stream in production). Emitted pairs are per
  * SHARED BUCKET; downstream dedup (`dropDuplicates` on the pair key,
  * or the Jaccard verify that follows anyway) collapses multi-band
  * hits — same as the batch chain's `distinct()`.
  */
object StreamingNearDup {

  /** A doc landing in one LSH bucket. */
  final case class BucketRow(bucket: Long, docId: Long)

  /** Candidate pair (docA < docB) discovered in some shared bucket. */
  final case class Cand(docA: Long, docB: Long)

  /** Degenerate-bucket guard: members beyond this stop being retained
    * (they still PAIR against retained members on arrival). */
  val MaxBucket = 256

  /** (docId, bucket) rows: one per (doc, band), bucket id = the band's
    * hash folded with the band index — the batch chain's signature and
    * banding (`Dedup.minhashFromShingleSets` + `Dedup.lshBands`: the
    * same [[MinHashSig]] and [[LshBandHashes]] expressions) as one pure
    * projection, so it runs on a stream with no shuffle. A NULL set
    * gets no rows; an empty set gets the all-NULL-lane band hashes. */
  def bucketRows(docs: DataFrame, idCol: String, shCol: String,
      numHashes: Int = 64, rowsPerBand: Int = 4): Dataset[BucketRow] = {
    import docs.sparkSession.implicits._
    val bands = ColumnBridge.column(LshBandHashes(
      MinHashSig(ColumnBridge.expression(col(shCol)), numHashes),
      rowsPerBand))
    docs.select(col(idCol).cast("long").as("docId"),
        posexplode(bands).as(Seq("band", "band_hash")))
      // fold the band index into the state key: 16 disjoint key
      // spaces. Bitwise (shift+or), not arithmetic: the hash is
      // 60-bit, so a multiplicative fold overflows int64 under ANSI;
      // (hash << 4) | band is injective and wraps harmlessly
      .select(shiftleft(col("band_hash"), 4)
        .bitwiseOR(col("band")).as("bucket"), col("docId"))
      .as[BucketRow]
  }

  private class Processor
      extends StatefulProcessor[Long, BucketRow, Cand] {
    @transient private var members: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[Long]("members",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[BucketRow],
        timerValues: TimerValues): Iterator[Cand] = {
      // deterministic within-batch order, and idempotent on re-ingest:
      // a doc id already in the bucket neither re-pairs nor re-appends
      val existing = members.get().toArray
      val seen = scala.collection.mutable.LinkedHashSet(existing: _*)
      val out = Seq.newBuilder[Cand]
      rows.toSeq.map(_.docId).distinct.sorted.foreach { d =>
        if (!seen.contains(d)) {
          seen.iterator.take(MaxBucket).foreach { m =>
            out += Cand(math.min(d, m), math.max(d, m))
          }
          if (seen.size < MaxBucket) members.appendValue(d)
          seen += d
        }
      }
      out.result().iterator
    }
  }

  /** Apply to a (streaming or batch) bucket-row Dataset. Append mode:
    * each candidate pair is emitted exactly once, in the micro-batch
    * where its second member arrives. */
  def run(buckets: Dataset[BucketRow]): Dataset[Cand] = {
    import buckets.sparkSession.implicits._
    buckets.groupByKey(_.bucket)
      .transformWithState(new Processor, TimeMode.None(),
        OutputMode.Append())
  }
}
