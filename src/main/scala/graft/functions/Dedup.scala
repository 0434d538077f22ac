package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Hashing._
import TextOps._

/** Deduplication operators for large-scale corpus curation.
  *
  * Scale design (the point of each algorithm):
  *  - exact: one groupBy on a content hash — single shuffle keyed by the
  *    hash, perfectly parallel, no skew (md5 is uniform).
  *  - MinHash+LSH: candidate generation is a self-join on (band, bandHash)
  *    buckets — cost O(docs × bands) rows, never the O(n²) all-pairs. The
  *    expensive Jaccard verify runs only on bucket-collision candidates.
  *  - SimHash: 60-bit fingerprint per doc from one explode+groupBy
  *    (map-side combined); near-dup pairs again found via band buckets.
  * All hashing uses the oracle-portable hash60, fixed for oracle parity
  * (see Hashing scaladoc).
  */
object Dedup {

  /** Exact dedup: group identical content, keep the smallest id.
    * (Training-pipeline staple; also the engine-native form of the
    * reference's re-ingest dedup, articles.sql:7-58.) */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))

  /** MinHash signature columns h0..h{k-1} from an already-materialized
    * shingle-set column: per doc, min over shingles of lane_i(shingle).
    * One md5 per shingle then k affine lanes (see Hashing.lane) — one
    * explode + one groupBy with k min-aggregates; partial aggregation
    * keeps the shuffle tiny (k longs per doc). Taking the sets, not the
    * text, lets callers that also need them (Jaccard verify) share one
    * tokenize+shingle pass instead of re-deriving per consumer (q99:
    * the naive composition shingles each corpus side twice). Only pass
    * a MATERIALIZED (checkpointed) column: exploding a live projected
    * array expression re-inlines it below the repartition
    * (InferFiltersFromGenerate — see the q58 note in BASELINE.md). */
  def minhashFromShingleSets(df: DataFrame, idCol: String,
      shCol: String, numHashes: Int): DataFrame = {
    val exploded = df
      .select(col(idCol).as("doc_id"), explode(col(shCol)).as("sh"))
      .select(col("doc_id"),
        hash60(col("sh")).bitwiseAND(lit(Mask31)).as("h31"))
    val aggs = (0 until numHashes)
      .map(i => min(lane(col("h31"), i)).as(s"h$i"))
    exploded.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: signature → (band, bandHash) rows. Docs sharing any
    * band bucket become candidate pairs. */
  def lshBands(sigs: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bandStructs = (0 until numBands).map { b =>
      val parts = (0 until rowsPerBand)
        .map(j => col(s"h${b * rowsPerBand + j}").cast("string"))
      struct(lit(b).as("band"),
        hash60(concat_ws(",", parts: _*)).as("band_hash"))
    }
    sigs.select(col("doc_id"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.band_hash").as("band_hash"))
  }

  /** Candidate pairs from shared LSH buckets (doc_a < doc_b). */
  def lshCandidates(bands: DataFrame): DataFrame = {
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Jaccard similarity of two distinct-element array columns. Sizes are
    * exact ints, so the double division is engine-portable. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    inter / union
  }

  /** SimHash fingerprint: bit b of the 60-bit fingerprint is set iff the
    * (+1/-1) vote sum of token-hash bit b over all tokens (with
    * multiplicity) is positive. */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 60): DataFrame = {
    // pre-aggregate token multiplicity per (doc, distinct word): Zipf
    // corpora collapse hard here, so the md5 and the `bits` vote
    // aggregates run per distinct word, with counts as vote weights —
    // identical vote sums, ~3× fewer hash+vote evaluations. Map-side
    // combine keeps the extra exchange smaller than the explode it
    // replaces as shuffle input.
    val counted = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("th", hash60(col("tok")))
    val voteAggs = (0 until bits).map { b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(1) === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"v$b")
    }
    val votes = counted.groupBy(col("doc_id"))
      .agg(voteAggs.head, voteAggs.tail: _*)
    val fp = (0 until bits)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    votes.select(col("doc_id"), fp.as("simhash"))
  }

  /** Hamming distance between two simhash fingerprints. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))
}
