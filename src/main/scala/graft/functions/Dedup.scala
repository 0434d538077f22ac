package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.expressions.{LshBandHashes, MinHashSig, SimHashFp}

/** Deduplication operators for large-scale corpus curation.
  *
  * Scale design (the point of each algorithm):
  *  - exact: one groupBy on a content hash — single shuffle keyed by the
  *    hash, perfectly parallel, no skew (md5 is uniform).
  *  - MinHash+LSH: the signature and its band hashes are per-row
  *    expressions over the document's shingle set (no shuffle);
  *    candidate generation is a self-join on (band, bandHash) buckets —
  *    cost O(docs × bands) rows, never the O(n²) all-pairs. The
  *    expensive Jaccard verify runs only on bucket-collision candidates.
  *  - SimHash: a 60-bit fingerprint per document, one per-row
  *    expression over its tokens (no shuffle); near-dup pairs are again
  *    found via band buckets.
  * The sketches take ONE ROW PER DOCUMENT: each row's array is the
  * whole document, so a doc_id on two rows gets two sketches (the
  * former explode + groupBy formulation merged them). Every caller
  * passes unique ids; no runtime check enforces it, as that would be
  * the shuffle the per-row form removes. All hashing uses the
  * oracle-portable hash60, fixed for oracle parity (see Hashing
  * scaladoc).
  */
object Dedup {

  /** Exact dedup: group identical content, keep the smallest id.
    * (Training-pipeline staple; also the engine-native form of the
    * reference's re-ingest dedup, articles.sql:7-58.) */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))

  /** MinHash signature columns h0..h{k-1} (k ≤ 64) from a shingle-set
    * column, one input row per doc: h_i = min over the set of
    * lane_i(hash60(shingle) & 2^31-1) (see Hashing.lane), computed by
    * the per-row [[graft.expressions.MinHashSig]]. Docs with an empty or
    * NULL set get no row. Taking the sets, not the text, lets callers
    * that also need them (Jaccard verify) share one tokenize+shingle
    * pass (q99: the naive composition shingles each corpus side twice). */
  def minhashFromShingleSets(df: DataFrame, idCol: String,
      shCol: String, numHashes: Int): DataFrame = {
    val sig = ColumnBridge.column(
      MinHashSig(ColumnBridge.expression(col(shCol)), numHashes))
    df.select(col(idCol).as("doc_id"),
        ifNonEmpty(col(shCol), sig).as("sig"))
      .select(col("doc_id") +:
        (0 until numHashes).map(i => col("sig").getItem(i).as(s"h$i")): _*)
  }

  /** LSH banding: signature → (band, bandHash) rows, band b hashing
    * lanes b*r..b*r+r-1 (r = rowsPerBand) as hash60 of their
    * comma-joined decimals ([[graft.expressions.LshBandHashes]]). Docs
    * sharing any band bucket become candidate pairs. */
  def lshBands(sigs: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val bands = ColumnBridge.column(LshBandHashes(ColumnBridge.expression(
      array((0 until numHashes).map(i => col(s"h$i")): _*)), rowsPerBand))
    sigs.select(col("doc_id"), posexplode(bands).as(Seq("band", "band_hash")))
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

  /** SimHash fingerprint per doc (one input row per doc): bit b of the
    * `bits`-bit fingerprint is set iff the (+1/-1) vote sum of
    * token-hash bit b over all tokens (with multiplicity) is positive —
    * the per-row [[graft.expressions.SimHashFp]], one md5 per distinct
    * token. Docs without a token (NULL or letterless text) get no row. */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 60): DataFrame = {
    val fp = ColumnBridge.column(
      SimHashFp(ColumnBridge.expression(col("toks")), bits))
    df.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), ifNonEmpty(col("toks"), fp).as("simhash"))
  }

  /** Generator: one row holding `v` where array `arr` is non-empty, no
    * row where it is empty or NULL (exploding a NULL array). Not a
    * Filter: the optimizer pushes a Filter below the projection that
    * computes `arr` (below a read's repartition, too), so a projected
    * array expression would run twice, the first time unparallelized. */
  private def ifNonEmpty(arr: Column, v: Column): Column =
    explode(when(size(arr) > 0, array(v)))

  /** Hamming distance between two simhash fingerprints. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))
}
