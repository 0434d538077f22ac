package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import org.json4s._

import graft.Materialize.TrunkCheckpointOps
import graft.functions.{Bpe, ConnectedComponents, Dedup, Similarity, TextOps}

/** corpus_curation: one curation pass per unit over the documents and
  * embeddings tables, through `graft.functions`: exact dedup, MinHash →
  * LSH bands → candidates → Jaccard verify → connected components,
  * SimHash near-duplicates, BPE training and encoding, and IVF top-k
  * lookups. The pass ends with the client issuing the curation queries
  * of the engine's registry (`graft.SparkEntry.queries`) in a seeded
  * order; those are the timed queries of this workload. It writes
  * nothing; every step collects its result to the client. */
object Curation extends Workload {
  val name = "corpus_curation"
  val NumHashes = 64
  val RowsPerBand = 4
  val ShingleN = 3
  val Threshold = 0.5
  val SimhashBits = 60
  val SimhashBands = 4
  val SimhashRadius = 3
  val BpeRounds = 4

  def warmPath(data: String): String = s"$data/tables/documents.parquet"

  def run(ctx: Ctx, ph: Phase, seconds: Double): Unit = {
    implicit val formats: Formats = DefaultFormats
    val spec = Json.read(s"${ctx.data}/sequence.json")
    val queries = (spec \ "ann_queries").extract[Seq[Long]]
    val cells = (spec \ "ann_cells").extract[Int]
    val k = (spec \ "ann_k").extract[Int]
    val seq = (spec \ "queries").extract[Seq[String]]
    val registry = graft.SparkEntry.queries
    val byPrefix = seq.distinct.map(p =>
      p -> registry.keys.find(_.startsWith(p + "_")).getOrElse(
        throw new IllegalArgumentException(s"no query $p"))).toMap
    val t0 = System.nanoTime()
    var p = 0
    var ok = true
    while (ok && (p == 0 || elapsedSince(t0) < seconds)) {
      val u0 = System.nanoTime()
      try {
        val tables = s"${ctx.data}/tables"
        val out = pass(ctx.spark, tables, queries, cells, k, ph)
        val results = registryQueries(ctx.spark, tables, seq, byPrefix, ph)
        ph.units += (System.nanoTime() - u0) / 1e9
        if (p == 0) {
          ctx.outputs ++= out
          ctx.outputs("results") = results.map { case (q, (schema, rows)) =>
            q -> Results.encode(schema, rows) }
          ctx.outputs("oracles") = results.keys.map(q =>
            q -> graft.SparkEntry.oracleSql.get(byPrefix(q))).toMap
        }
      } catch { case t: Throwable => ph.fail(s"pass $p", t); ok = false }
      ph.tracer.span("materialize.release") {
        graft.CheckpointHygiene.release(ctx.spark)
      }
      p += 1
    }
  }

  /** The client's registry queries, one at a time, each result collected;
    * checkpoint blocks are released at every query boundary as
    * graft.Bench does. Returns each template's first result. */
  private def registryQueries(spark: SparkSession, tables: String,
      seq: Seq[String], byPrefix: Map[String, String], ph: Phase)
      : mutable.LinkedHashMap[String, (StructType, Array[Row])] = {
    val registry = graft.SparkEntry.queries
    val kept = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
    for (q <- seq) {
      val res = ph.query(s"queries.$q", q) {
        val df = registry(byPrefix(q))(spark, tables)
        (df.schema, df.collect())
      }
      if (!kept.contains(q)) kept(q) = res
      ph.tracer.span("materialize.release") {
        graft.CheckpointHygiene.release(spark)
      }
    }
    kept
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def pass(spark: SparkSession, tables: String, queries: Seq[Long],
      cells: Int, k: Int, ph: Phase): Map[String, Any] = {
    val docs = ph.op("sources.read") {
      graft.Tables(spark, tables, "documents").select("doc_id", "text")
    }
    val emb = ph.op("sources.read") {
      graft.Tables(spark, tables, "embeddings")
    }

    val exact = ph.op("functions.exact_dedup") {
      rows(Dedup.exactDedup(docs, "doc_id", "text")
        .filter(col("n_copies") > 1)
        .select("keep_doc_id", "n_copies"))
    }

    val (nCandidates, verified) = ph.op("functions.minhash_lsh") {
      val sets = ph.op("materialize.checkpoint") {
        docs.select(col("doc_id"), TextOps.shinglesFromTokens(
          TextOps.tokens(col("text")), ShingleN).as("sh")).trunkCheckpoint()
      }
      val sigs = Dedup.minhashFromShingleSets(sets, "doc_id", "sh", NumHashes)
      val cands = ph.op("materialize.checkpoint") {
        Dedup.lshCandidates(Dedup.lshBands(sigs, NumHashes, RowsPerBand))
          .trunkCheckpoint()
      }
      val a = sets.select(col("doc_id").as("doc_a"), col("sh").as("sa"))
      val b = sets.select(col("doc_id").as("doc_b"), col("sh").as("sb"))
      val pairs = ph.op("materialize.checkpoint") {
        cands.join(a, "doc_a").join(b, "doc_b")
          .select(col("doc_a"), col("doc_b"),
            round(Dedup.jaccard(col("sa"), col("sb")), 6).as("jaccard"))
          .filter(col("jaccard") >= Threshold)
          .trunkCheckpoint()
      }
      (cands.count(), pairs)
    }
    val verifiedRows = rows(verified)

    val labels = ph.op("functions.cc") {
      val edges = verified.select(col("doc_a").as("src"),
        col("doc_b").as("dst"))
      rows(ConnectedComponents.minLabel(
        docs.select(col("doc_id").as("id")), edges))
    }

    val simPairs = ph.op("functions.simhash") {
      val fp = ph.op("materialize.checkpoint") {
        Dedup.simhash(docs, "doc_id", "text", SimhashBits).trunkCheckpoint()
      }
      val width = SimhashBits / SimhashBands
      val banded = fp.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until SimhashBands).map(i =>
          shiftright(col("simhash"), i * width)
            .bitwiseAND(lit((1L << width) - 1))): _*)).as(Seq("band", "key")))
      val l = banded.select(col("doc_id").as("doc_a"),
        col("simhash").as("fa"), col("band"), col("key"))
      val r = banded.select(col("doc_id").as("doc_b"),
        col("simhash").as("fb"), col("band"), col("key"))
      rows(l.join(r, Seq("band", "key"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("fa"), col("fb"),
          Dedup.hamming(col("fa"), col("fb")).as("hamming"))
        .filter(col("hamming") <= SimhashRadius)
        .distinct())
    }

    val words = docs.select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val (merges, syms) = ph.op("functions.bpe_train") {
      val (m, s) = Bpe.train(words, BpeRounds)
      (rows(m), s)
    }
    val (vocab, encoded) = ph.op("functions.bpe_encode") {
      val pieces = syms.select(col("word"), col("sym"),
        size(split(col("sym"), " ")).cast("long").as("pieces"))
      val enc = docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
        .join(broadcast(pieces.select("word", "pieces")), "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("pieces").as("n_pieces"))
      (rows(pieces.select("word", "sym")), rows(enc))
    }

    val ann = queries.map { q =>
      q -> ph.op("functions.ann") {
        rows(Similarity.ivfTopK(emb, q, k, cells)
          .select("vec_id", "cos_sim"))
      }
    }

    Map("exact_groups" -> exact, "lsh_candidates" -> nCandidates,
      "verified" -> verifiedRows, "labels" -> labels,
      "simhash_pairs" -> simPairs, "bpe_merges" -> merges,
      "bpe_vocab" -> vocab, "bpe_encoded" -> encoded,
      "ann" -> ann.map { case (q, r) => Seq(q, r) },
      "params" -> Map("num_hashes" -> NumHashes, "shingle_n" -> ShingleN,
        "threshold" -> Threshold, "simhash_bits" -> SimhashBits,
        "simhash_radius" -> SimhashRadius, "bpe_rounds" -> BpeRounds,
        "ann_cells" -> cells, "ann_k" -> k))
  }
}
