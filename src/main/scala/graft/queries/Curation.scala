package graft.queries

import graft.Materialize.TrunkCheckpointOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Hashing, TextOps}
import Hashing.sqlHash60
import TextOps.{sqlShingles, sqlTokens}

/** Corpus-curation operators (round 2): the steps between "raw scraped
  * corpus" and "training-ready token stream" that the reference's news
  * pipeline stops short of — benchmark decontamination, chunking, PII
  * scrubbing, sketch-based heavy hitters, incremental ingest dedup and
  * sequence-packing layout. Every query is DuckDB-oracle-backed; sketch
  * and hash steps ride the portable md5-derived hash60 (see Hashing).
  *
  * Scale stance per query is documented inline — what broadcasts, what
  * shuffles on which key, and what stays O(sketch) instead of O(data).
  */
object Curation {

  private val ShingleN = 3

  /** (doc_id, toks): every document's word tokens (TextOps.tokens). */
  private[queries] def tokenized(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
  }

  // ------------------------------------------------------ decontamination

  /** q58 — test-set decontamination (the n-gram overlap check run before
    * any training corpus ships): every 25th document plays the held-out
    * benchmark; each remaining document reports how many of its distinct
    * word 3-grams collide with the benchmark gram set. The benchmark gram
    * set is tiny by construction (eval suites are), so it BROADCASTS —
    * the corpus-side scan never shuffles; the only wide exchange is the
    * per-document count aggregation, keyed by doc_id (uniform). */
  val decontaminate: Q = (s, dir) => {
    import s.implicits._
    // single pass over the train shingles: shingle sets are distinct per
    // doc, so n_grams is recovered as count(*) post-explode and n_shared
    // as the count of broadcast-probe hits — the shingle builder (the
    // expensive tokenize+slice subtree) runs once, not three times.
    // The shingle expression is exploded DIRECTLY (not projected to a
    // column first): explode of a materialized array column makes
    // InferFiltersFromGenerate push a `size(shingles(text)) > 0` filter
    // below the repartition, re-running the whole inlined shingle
    // pipeline single-threaded on the pre-repartition partition
    // (measured: 4.0 s → 0.6 s for the explode+count at sf0.1)
    val tok = tokenized(s, dir)
    def grams(df: DataFrame) = df.select($"doc_id",
      explode(TextOps.shinglesFromTokens($"toks", ShingleN)).as("g"))
    val benchGrams = grams(tok.filter($"doc_id" % 25 === 0))
      .select($"g").distinct()
      .withColumn("hit", lit(1))
    grams(tok.filter($"doc_id" % 25 =!= 0))
      .join(broadcast(benchGrams), Seq("g"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("int").as("n_grams"),
        count($"hit").as("n_shared"))
      .withColumn("contam_frac",
        round($"n_shared".cast("double") / $"n_grams", 6))
      .withColumn("contaminated", $"contam_frac" >= 0.5)
  }

  // ------------------------------------------------------------- chunking

  /** q59 — overlapping-window chunking (context-window preparation):
    * size-32 stride-24 token windows per document, short tail kept.
    * Pure per-row generate — no shuffle at any scale; the generator
    * carries only (doc_id, toks) and counts are recomputed post-explode. */
  private val ChunkSize = 32
  private val ChunkStride = 24
  val chunk: Q = (s, dir) => {
    import s.implicits._
    val nChunks = (greatest(
      ceil((size($"toks") - ChunkSize).cast("double") / ChunkStride),
      lit(0L)) + 1L).cast("int")
    tokenized(s, dir)
      .select($"doc_id", size($"toks").as("n_toks"), $"toks",
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select($"doc_id", $"n_toks", $"chunk_id",
        ($"chunk_id" * ChunkStride + 1).as("chunk_start"),
        concat_ws(" ",
          slice($"toks", $"chunk_id" * ChunkStride + 1, lit(ChunkSize)))
          .as("chunk_text"),
        size(slice($"toks", $"chunk_id" * ChunkStride + 1, lit(ChunkSize)))
          .as("n_chunk_toks"))
  }

  // ----------------------------------------------------------- PII scrub

  /** q60 — PII redaction: deterministic synthetic PII (email, URL, phone)
    * is appended to each document, then counted and scrubbed with the
    * reference's own email/url regexes (SURVEY §2.7 X8/X9) plus a phone
    * pattern. Pure map — codegen'd regexes, no shuffle, no UDF. */
  private val EmailRe = "[\\w\\.-]+@[\\w\\-]+\\.[a-zA-Z]{2,6}"
  private val UrlRe = "www\\.[a-zA-Z0-9\\-]+\\.[\\w]{2,6}"
  private val PhoneRe = "\\d{3}-\\d{3}-\\d{4}"
  val piiScrub: Q = (s, dir) => {
    import s.implicits._
    val withPii = Tables(s, dir, "documents").select($"doc_id",
      concat($"text",
        lit(" contact user"), $"doc_id", lit("@mail"), $"doc_id" % 7,
        lit(".com or www.site"), $"doc_id" % 13,
        lit(".org call 416-555-"),
        lpad(($"doc_id" % 10000).cast("string"), 4, "0")).as("text"))
    val scrubbed = regexp_replace(regexp_replace(regexp_replace(
      $"text", EmailRe, "<EMAIL>"), UrlRe, "<URL>"), PhoneRe, "<PHONE>")
    withPii.select($"doc_id",
      regexp_count($"text", lit(EmailRe)).cast("int").as("n_emails"),
      regexp_count(regexp_replace($"text", EmailRe, ""), lit(UrlRe))
        .cast("int").as("n_urls"),
      regexp_count($"text", lit(PhoneRe)).cast("int").as("n_phones"),
      md5(scrubbed).as("scrub_md5"))
  }

  // ------------------------------------------------- count-min heavy hitters

  /** q61 — count-min sketch word frequencies (Cormode & Muthukrishnan
    * 2005): 4 hash lanes × 64 buckets. Token counts are pre-aggregated
    * per distinct word first (Zipf corpora collapse hard), so the hash
    * runs once per DISTINCT word — one md5 then 4 affine lanes (the
    * MinHash lane family), not 4 md5 per token instance. The sketch
    * itself shuffles at most d×w = 256 weighted rows regardless of
    * corpus size — the 100 TB path for "how often does each probe term
    * appear". Probe-word buckets are plan-time constants (hash60
    * evaluated on the driver); the estimate joins 32 probe rows against
    * the 256-row sketch — broadcast. Exact counts ride alongside to
    * show the sketch error. */
  private val CmsLanes = 4
  private val CmsW = 64
  private val CmsProbes =
    Seq("join", "hash", "row", "spark", "query", "window", "scan", "dup")
  private def jvmCmsBucket(word: String, l: Int): Long = {
    val h31 = Hashing.hash60(word) & Hashing.Mask31
    graft.expressions.MinHashLanes.lane(h31, l) % CmsW
  }
  val cmsHeavyHitters: Q = (s, dir) => {
    import s.implicits._
    val tokCounts = tokenized(s, dir).select(explode($"toks").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val withH = tokCounts.withColumn("h31",
      Hashing.hash60($"tok").bitwiseAND(lit(Hashing.Mask31)))
    val buckets = array((0 until CmsLanes).map(l =>
      Hashing.lane($"h31", l) % CmsW): _*)
    val sketch = withH
      .select($"cnt", posexplode(buckets).as(Seq("lane", "bucket")))
      .groupBy($"lane", $"bucket").agg(sum($"cnt").as("c"))
    val probeRows = for {
      w <- CmsProbes; l <- 0 until CmsLanes
    } yield (w, l, jvmCmsBucket(w, l))
    val probes = probeRows.toDF("word", "lane", "bucket")
    val est = broadcast(probes)
      .join(sketch, Seq("lane", "bucket"))
      .groupBy($"word").agg(min($"c").as("cms_est"))
    // the TypedImperativeAggregate form rides alongside (one 2 KB
    // buffer instead of ≤256 weighted rows — see
    // expressions.CmsSketchAgg): cell-for-cell equal by construction,
    // so the oracle asserts cms_agg_est = cms_est and the custom
    // aggregate is correctness-gated like the HLL one in q52
    val sketchArr = {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      ColumnBridge.column(graft.expressions.CmsSketchAgg(
        ColumnBridge.expression($"tok"),
        ColumnBridge.expression($"cnt")).toAggregateExpression())
    }
    val aggSketch = tokCounts.agg(sketchArr.as("sk"))
    val estAgg = broadcast(probes).crossJoin(broadcast(aggSketch))
      .select($"word",
        element_at($"sk", ($"lane" * CmsW + $"bucket" + 1).cast("int"))
          .as("c2"))
      .groupBy($"word").agg(min($"c2").as("cms_agg_est"))
    val exact = tokCounts.filter($"tok".isin(CmsProbes: _*))
      .select($"tok".as("word"), $"cnt".as("exact_count"))
    exact.join(est, Seq("word")).join(estAgg, Seq("word"))
      .select($"word", $"exact_count", $"cms_est", $"cms_agg_est")
  }

  // ------------------------------------------------- incremental dedup

  /** q62 — incremental ingest dedup (new batch vs corpus history): an
    * arriving batch of re-ingested copies and edited revisions is
    * anti-joined on content hash against everything already stored —
    * only genuinely-new content survives to be appended. One shuffle on
    * the uniform md5 key; at 100 TB the history side is pre-bucketed by
    * the same hash so the anti-join is co-located (see Warehouse). */
  private val ReingestOffset = 100000L
  private val RevisionOffset = 200000L
  val incrementalDedup: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "documents").select($"doc_id", $"text")
    val reingested = d.filter($"doc_id" % 3 === 0)
      .select(($"doc_id" + ReingestOffset).as("doc_id"), $"text")
    val revised = d.filter($"doc_id" % 3 === 1)
      .select(($"doc_id" + RevisionOffset).as("doc_id"),
        concat($"text", lit(" revised v2")).as("text"))
    val batch = reingested.unionByName(revised)
      .withColumn("text_md5", md5($"text"))
    val history = d.select(md5($"text").as("text_md5"))
    batch.join(history, Seq("text_md5"), "left_anti")
      .select($"doc_id", $"text_md5")
  }

  // ------------------------------------------------- packing preparation

  /** q63 — length-bucket histogram (padding-waste audit): documents
    * binned to the power-of-two context length that would hold them;
    * per bucket: count, token total and the fraction of a padded batch
    * that would be waste. Fixed-threshold CASE, 4-row aggregate. */
  val lengthBuckets: Q = (s, dir) => {
    import s.implicits._
    val n = size($"toks")
    val bucket = when(n <= 16, 16).when(n <= 32, 32)
      .when(n <= 64, 64).otherwise(128)
    tokenized(s, dir)
      .select(bucket.as("bucket"), n.as("n_toks"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_toks").as("sum_toks"))
      .select($"bucket", $"n_docs", $"sum_toks",
        round(lit(1.0) -
          $"sum_toks".cast("double") / ($"n_docs" * $"bucket"), 6)
          .as("pad_waste_frac"))
  }

  /** q64 — sequence-packing offsets (GPT-style concat-and-cut layout):
    * documents are concatenated per source in doc_id order and cut every
    * 128 tokens; each document reports its token offsets and whether it
    * straddles a cut. One running-sum window per source partition —
    * a single shuffle on `source`, and each partition's window state is
    * O(1). The offsets are exactly what a packed-dataset writer needs
    * to slice token buffers at scale. */
  private val PackLen = 128
  val packOffsets: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "documents")
      .select($"doc_id", $"source",
        size(TextOps.tokens($"text")).as("n_toks"))
    val w = Window.partitionBy($"source").orderBy($"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("end_off", sum($"n_toks").over(w))
      .select($"doc_id", $"source", $"n_toks",
        ($"end_off" - $"n_toks").as("start_off"), $"end_off")
      .withColumn("first_bin", floor($"start_off" / PackLen))
      .withColumn("last_bin", floor(($"end_off" - 1) / PackLen))
      .withColumn("spans_cut", $"first_bin" < $"last_bin")
  }

  /** q69 — top-N-per-stratum deterministic sample: the smallest-hash N
    * documents of every source (hash order ⇒ uniform-at-random but
    * reproducible on any cluster). The rank filter gets WindowGroupLimit
    * pushdown (asserted for the same shape in PlanSpec), so each map
    * task keeps ≤N rows per stratum BEFORE the shuffle — at 100 TB the
    * exchange carries ~N×strata rows, not the corpus. */
  private val PerStratum = 10
  val sampleTopNStratum: Q = (s, dir) => {
    import s.implicits._
    val h = Hashing.hash60(concat(lit("topn|"), $"doc_id".cast("string")))
    val w = Window.partitionBy($"source").orderBy($"h".asc, $"doc_id".asc)
    Tables(s, dir, "documents")
      .select($"doc_id", $"source", h.as("h"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= PerStratum)
      .select($"doc_id", $"source", $"rk")
  }

  /** q70 — corpus mixture planning (the data-mixing step before
    * training): given per-source token counts and fixed target mixture
    * weights, derive each source's sampling rate toward a fixed token
    * budget, the expected token yield, and whether the source is
    * under-represented (rate capped at 1 — can't sample what isn't
    * there). A 5-row aggregate plus arithmetic: the plan is one
    * map-side-combined groupBy at any scale. */
  private val MixTargetTokens = 20000L
  private val MixWeights: Seq[(String, Double)] = Seq(
    "src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.15,
    "src3" -> 0.1, "src4" -> 0.05)
  val mixturePlan: Q = (s, dir) => {
    import s.implicits._
    val weights = MixWeights.toDF("source", "weight")
    val perSource = Tables(s, dir, "documents")
      .select($"source", size(TextOps.tokens($"text")).as("n"))
      .groupBy($"source").agg(sum($"n").as("avail_tokens"))
    perSource.join(broadcast(weights), Seq("source"))
      .select($"source", $"avail_tokens", $"weight",
        round(least(lit(1.0),
          ($"weight" * MixTargetTokens) / $"avail_tokens"), 6).as("rate"))
      .withColumn("expected_tokens",
        round($"rate" * $"avail_tokens", 2))
      .withColumn("underrepresented",
        ($"weight" * MixTargetTokens) / $"avail_tokens" > 1.0)
  }

  /** q168 — temperature-smoothed source mixture (the multilingual /
    * multi-source alpha-sampling rule, α = 1/2: sampling weight ∝
    * (token share)^α — upsamples small sources, flattens the head)
    * next to q70's explicit-weight plan. Portability discipline:
    * sqrt of an exact long is deterministic IEEE, micro-rounded to a
    * long per source; the natural and smoothed rates then derive from
    * LONG sums with integer division (decimal(38,0) intermediates so
    * the 1e6 products never wrap) — the whole profile is engine-exact
    * with no order-dependent double sum anywhere. O(sources) output;
    * the one corpus pass is the token count. */
  val temperatureMixture: Q = (s, dir) => {
    import s.implicits._
    val per = Tables(s, dir, "documents")
      .select($"source", size(TextOps.tokens($"text")).as("n"))
      .groupBy($"source").agg(sum($"n").cast("long").as("avail_tokens"))
    val tot = per.agg(sum($"avail_tokens").as("T"))
    val sq = per.withColumn("sqrt_micro",
      round(sqrt($"avail_tokens".cast("double")) * 1000000.0)
        .cast("long"))
    val sqTot = sq.agg(sum($"sqrt_micro").as("S"))
    sq.crossJoin(broadcast(tot)).crossJoin(broadcast(sqTot))
      .select($"source", $"avail_tokens", $"sqrt_micro",
        expr("(1000000 * cast(avail_tokens as decimal(38,0))) div T")
          .as("nat_micro"),
        expr("(1000000 * cast(sqrt_micro as decimal(38,0))) div S")
          .as("mix_micro"))
      .withColumn("boost_milli",
        expr("(1000 * cast(mix_micro as decimal(38,0)))" +
          " div greatest(nat_micro, 1L)"))
  }

  /** q169 — corpus snapshot diff (the CDC audit between two dataset
    * versions a curation pipeline publishes): v1 and v2 are
    * deterministic membership/content variants of the documents table
    * (v1 drops doc_id≡3 mod 11; v2 drops doc_id≡5 mod 13 and edits
    * doc_id≡0 mod 7), each doc carries a content hash, and a full
    * outer join on doc_id classifies added / removed / changed /
    * unchanged per source. Scale: hashes are computed scan-side so the
    * full-outer equi-join shuffles only (doc_id, source, hash60)
    * triples — never text; output is O(sources × 4). */
  val snapshotDiff: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", $"source", $"text")
    val v1 = docs.filter($"doc_id" % 11 =!= 3)
      .select($"doc_id", $"source".as("src1"),
        Hashing.hash60($"text").as("h1"))
    val v2 = docs.filter($"doc_id" % 13 =!= 5)
      .select($"doc_id", $"source".as("src2"),
        Hashing.hash60(when($"doc_id" % 7 === 0,
          concat($"text", lit(" [edited]"))).otherwise($"text")).as("h2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(coalesce($"src1", $"src2").as("source"),
        when($"h1".isNull, "added")
          .when($"h2".isNull, "removed")
          .when($"h1" =!= $"h2", "changed")
          .otherwise("unchanged").as("status"))
      .groupBy($"source", $"status")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** q178 — dataset card (the per-source summary a training-data team
    * publishes with a corpus release): document and token volumes,
    * exact-duplicate rate, mean document length, and language-mix
    * entropy, one row per source. Composition discipline: every
    * number is an exact integer or a per-term micro-quantized ln
    * summed as longs (q77's rule — double SUMS are order-dependent,
    * double TERMS of exact-integer ratios are not). One corpus pass
    * for tokens+hashes, one (source, lang) count pass; O(sources)
    * output. */
  val datasetCard: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "documents")
      .select($"source", $"lang",
        size(TextOps.tokens($"text")).cast("long").as("n_toks"),
        Hashing.hash60($"text").as("h"))
    val base = d.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"h").as("n_unique"),
        sum($"n_toks").as("total_tokens"))
    val langEnt = d.groupBy($"source", $"lang")
      .agg(count(lit(1)).as("c"))
      .withColumn("n", sum($"c").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")))
      .groupBy($"source")
      .agg(sum(round(lit(-1000000.0) *
        ($"c".cast("double") / $"n".cast("double")) *
        log($"c".cast("double") / $"n".cast("double"))).cast("long"))
        .as("lang_entropy_micro"))
    base.join(langEnt, Seq("source"))
      .select($"source", $"n_docs", $"n_unique",
        expr("(1000000 * n_unique) div n_docs").as("uniq_micro"),
        $"total_tokens",
        expr("(1000000 * cast(total_tokens as decimal(38,0)))" +
          " div n_docs").as("mean_tokens_micro"),
        $"lang_entropy_micro")
  }

  /** q77 — unigram LM surprise (perplexity-proxy quality score): each
    * document scored by the mean negative log-probability of its tokens
    * under the corpus's own unigram distribution — the cheap stand-in
    * for "score with a small LM and drop the weird tail" (high surprise
    * = off-distribution text). Two passes: (1) corpus token counts (one
    * uniform-key shuffle, map-side combined — Zipf collapses hard);
    * (2) tokens re-joined with their counts and summed per doc.
    *
    * Portability: ln(p) is quantized to an exact integer micro-unit
    * per TOKEN and summed as longs — double sums are order-dependent,
    * long sums are not, so the score is identical on any partitioning
    * and any engine. The vocab side of the join is |vocab| rows (tiny
    * vs the corpus at any SF) → broadcast; the per-doc aggregation is
    * the only wide exchange touching corpus-sized data. */
  val unigramSurprise: Q = (s, dir) => {
    import s.implicits._
    val tokd = tokenized(s, dir)
    val toks = tokd.select($"doc_id", explode($"toks").as("tok"))
    val counts = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val totals = toks.agg(count(lit(1)).as("total")) // 1-row, stays in-plan
    val nlpMicro = (-log($"cnt".cast("double") / $"total".cast("double")) *
      1000000.0)
    val scored = counts.crossJoin(broadcast(totals)).select($"tok",
      round(nlpMicro).cast("long").as("nlp_u"))
    toks.join(broadcast(scored), Seq("tok"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_toks"), sum($"nlp_u").as("sum_u"))
      .select($"doc_id", $"n_toks",
        round($"sum_u" / 1000000.0 / $"n_toks", 6).as("mean_surprise"))
  }

  /** q162 — vocabulary growth curve (Heaps' law audit): distinct words
    * seen vs tokens processed at doc-count checkpoints — the curve
    * that predicts how much NEW vocabulary (hence tokenizer pressure
    * and index growth) the next billion tokens will bring. The corpus
    * reduces first: each word to its FIRST-occurrence doc (one vocab-
    * sized aggregate), token totals to per-doc counts — so the
    * checkpoint inequality joins run against vocab- and doc-sized
    * tables with a broadcast 6-row checkpoint list, never against raw
    * tokens. */
  val heapsGrowth: Q = (s, dir) => {
    import s.implicits._
    val toks = tokenized(s, dir)
      .select($"doc_id", explode($"toks").as("tok"))
    val firstDoc = toks.groupBy($"tok").agg(min($"doc_id").as("fd"))
    val perDoc = toks.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val cps = Seq(50L, 100L, 200L, 300L, 400L, 499L).toDF("checkpoint")
    val vocab = broadcast(cps).join(firstDoc, $"fd" <= $"checkpoint")
      .groupBy($"checkpoint").agg(count(lit(1)).as("vocab_size"))
    val tokens = broadcast(cps).join(perDoc, $"doc_id" <= $"checkpoint")
      .groupBy($"checkpoint").agg(sum($"n").as("n_tokens"))
    tokens.join(vocab, Seq("checkpoint"))
      .select($"checkpoint", $"n_tokens", $"vocab_size")
  }

  /** q160 — Zipf-exponent fit of the word-frequency distribution: OLS
    * slope of ln(count) against ln(rank) over the top-500 vocabulary
    * ranks — natural language sits near −1; a corpus drifting far off
    * signals template spam (too flat) or vocabulary collapse (too
    * steep), making the exponent a one-number corpus-health metric.
    * Ranks come from a deterministic vocab-sized sort; both logs are
    * micro-quantized per RANK ROW before the regression sums, so every
    * sum is exact long arithmetic and the closed-form slope (q142's
    * machinery) is engine-exact. */
  val zipfExponent: Q = (s, dir) => {
    import s.implicits._
    val ranked = tokenized(s, dir)
      .select(explode($"toks").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"cnt".desc, $"tok".asc)))
      .filter($"rank" <= 500)
      .select(
        // milli (not micro) quantization: n·Σxy must stay inside a
        // long at 500 ranks; the slope is invariant to the shared scale
        round(log($"rank".cast("double")) * 1000.0).cast("long")
          .as("x"),
        round(log($"cnt".cast("double")) * 1000.0).cast("long")
          .as("y"))
    ranked.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"y").as("sy"), sum($"x" * $"y").as("sxy"),
        sum($"x" * $"x").as("sxx"))
      .select($"n",
        round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"n" * $"sxx" - $"sx" * $"sx").cast("double") * 1000000.0)
          .cast("long").as("slope_micro"),
        round(($"sy" * $"sxx" - $"sx" * $"sxy").cast("double") /
          ($"n" * $"sxx" - $"sx" * $"sx").cast("double"))
          .cast("long").as("intercept_u"))
  }

  /** q140 — Neyman-allocation stratified sampling (survey-statistics
    * optimal design): a fixed budget of 100 documents split across
    * sources ∝ N_h·σ_h — variable strata get more of the budget than
    * uniform or proportional allocation would give them, minimizing
    * the variance of the corpus-level estimate. σ_h comes from exact
    * long sums (n, Σx, Σx² of n_chars) through one sqrt; the
    * allocation is integer division of exact products; membership is
    * the per-stratum smallest-hash rank (q69's shape) — so the whole
    * design is a pure function of the data, reproducible anywhere.
    * Output: the sampled rows with their stratum's allocation and
    * σ audit. */
  val neymanSample: Q = (s, dir) => {
    import s.implicits._
    val stats = Tables(s, dir, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("sx"),
        sum($"n_chars" * $"n_chars").as("sq"))
      .select($"source", $"n",
        round(sqrt(($"n" * $"sq" - $"sx" * $"sx").cast("double")) /
          $"n".cast("double") * 1000000.0).cast("long")
          .as("sigma_micro"))
      .select($"source", $"n", $"sigma_micro",
        ($"n" * $"sigma_micro").as("score"))
    val tot = stats.agg(sum($"score").as("tot_score"))
    val alloc = stats.crossJoin(broadcast(tot))
      .select($"source", $"sigma_micro",
        expr("(100 * score) div tot_score").as("alloc"))
    val w = Window.partitionBy($"source")
      .orderBy(Hashing.hash60(concat(lit("neyman|"),
        $"doc_id".cast("string"))).asc, $"doc_id".asc)
    Tables(s, dir, "documents").select($"doc_id", $"source")
      .withColumn("rk", row_number().over(w))
      .join(broadcast(alloc), Seq("source"))
      .filter($"rk" <= $"alloc")
      .select($"doc_id", $"source", $"alloc", $"sigma_micro")
  }

  /** q135 — batch novelty scoring (data-value estimation): what
    * fraction of each incoming document's distinct word 3-grams has
    * the archive never seen — the cheap "is this crawl worth keeping"
    * number (near-zero novelty ⇒ the batch re-treads the corpus;
    * q62/q67 then decide dedup, this decides ACQUISITION). The twin
    * corpus plays the batch: novelty should sit near zero except for
    * suffix-spanning grams, which is exactly what the score reports.
    * History grams reduce to DISTINCT 60-bit hashes (8 bytes per gram,
    * never text) and the batch LEFT-joins them on the uniform hash key
    * — corpus-sized but skew-free; per-doc novelty is exact integer
    * micro-division. */
  val ngramNovelty: Q = (s, dir) => {
    import s.implicits._
    val hist = Tables(s, dir, "documents")
      .select(explode(TextOps.shinglesFromTokens(
        TextOps.tokens($"text"), ShingleN)).as("g"))
      .select(Hashing.hash60($"g").as("gh")).distinct()
      .withColumn("seen", lit(1L))
    val batch = Tables(s, dir, "documents")
      .filter($"doc_id" % 2 === 0)
      .select(($"doc_id" + TrainingData.TwinOffset).as("doc_id"),
        concat($"text", lit(TrainingData.TwinSuffix)).as("text"))
      .select($"doc_id", explode(TextOps.shinglesFromTokens(
        TextOps.tokens($"text"), ShingleN)).as("g"))
      .select($"doc_id", Hashing.hash60($"g").as("gh"))
    batch.join(hist, Seq("gh"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce($"seen", lit(0L))).as("n_seen"))
      .select($"doc_id", $"n_grams",
        expr("(1000000 * (n_grams - n_seen)) div n_grams")
          .as("novelty_micro"))
  }

  /** q121 — bigram-LM surprise (the conditional upgrade of q77): each
    * document scored by the mean −ln p(w₂|w₁) of its adjacent pairs
    * under the corpus's own bigram model — catches scrambled or
    * stitched text that unigram surprise can't (every word common, no
    * pair plausible). p(w₂|w₁) = c(w₁w₂)/c₁(w₁) with c₁ the PAIR-LEFT
    * marginal (Σ_w c(w₁,w)), so probabilities sum to exactly 1 per
    * context and no smoothing is needed (every doc's pairs are in the
    * corpus by construction). Same exactness discipline as q77: ln of
    * a ratio of exact longs, micro-quantized per PAIR TYPE, summed as
    * longs per doc. The pair table is Zipf-collapsed and joins back
    * broadcast-sized; the per-doc aggregation is the only corpus-sized
    * exchange. */
  val bigramSurprise: Q = (s, dir) => {
    import s.implicits._
    val pairs = tokenized(s, dir).select($"doc_id", explode(transform(
        when(size($"toks") >= 2, sequence(lit(1), size($"toks") - 1))
          .otherwise(array().cast("array<int>")),
        i => struct(element_at($"toks", i).as("w1"),
          element_at($"toks", i + 1).as("w2")))).as("pr"))
      .select($"doc_id", $"pr.w1".as("w1"), $"pr.w2".as("w2"))
    val bi = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
    val left = bi.groupBy($"w1").agg(sum($"c").as("c1"))
    val scored = bi.join(left, Seq("w1")).select($"w1", $"w2",
      round(-log($"c".cast("double") / $"c1".cast("double")) * 1000000.0)
        .cast("long").as("nlp_u"))
    pairs.join(broadcast(scored), Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_pairs"), sum($"nlp_u").as("s_u"))
      .select($"doc_id", $"n_pairs",
        round($"s_u" / 1000000.0 / $"n_pairs", 6).as("mean_surprise"))
  }

  /** q80 — quality-weighted (importance) sampling: each document's keep
    * probability is its quality score (stopword fraction as the cheap
    * in-plan proxy — natural prose carries function words; keyword spam
    * and boilerplate don't), decided by the same stateless
    * hash-threshold mechanism as q56: keep iff
    * hash60("qw|"+doc_id) mod 1e6 < round(score·1e6). No count, no
    * sort, no RNG state — the same documents survive on any cluster
    * size/partitioning, and the expected kept-token mass follows the
    * quality distribution (how curation pipelines skew a fixed token
    * budget toward higher-quality text without a hard cutoff). */
  private val SampleStopwords =
    Seq("the", "a", "of", "and", "to", "in", "is")
  val weightedSample: Q = (s, dir) => {
    import s.implicits._
    val n = size($"toks")
    val nSw = size(filter($"toks", t => t.isInCollection(SampleStopwords)))
    tokenized(s, dir)
      .filter(n > 0)
      .select($"doc_id",
        round(nSw.cast("double") / n.cast("double") * 1000000.0)
          .cast("long").as("rate_micro"))
      .filter(Hashing.hash60(concat(lit("qw|"), $"doc_id".cast("string")))
        % 1000000L < $"rate_micro")
      .select($"doc_id", $"rate_micro")
  }

  /** q95 — weighted sampling WITHOUT replacement, Efraimidis–Spirakis:
    * each row draws key = −ln(u)/w from a hash-derived uniform u and
    * the N smallest keys ARE a weighted sample without replacement —
    * one map pass plus a top-N (TakeOrderedAndProject: per-partition
    * heads, no global sort), vs the naive sequential N-draw loop that
    * cannot distribute at all. q80 is Bernoulli (random SIZE); this is
    * the fixed-size companion. u = (hash60+1)/2^60 is exact (power-of-
    * two scaling), so both engines walk the same doubles. */
  private val WSampleN = 50
  val weightedSampleTopN: Q = (s, dir) => {
    import s.implicits._
    val u = (Hashing.hash60(concat(lit("wsample|"),
        $"doc_id".cast("string"))) + 1L).cast("double") /
      lit(1152921504606846976.0)
    Tables(s, dir, "documents")
      .select($"doc_id", (($"n_chars" % 97L) + 1L).as("w"), u.as("u"))
      .select($"doc_id", $"w", (-log($"u") / $"w").as("es_key"))
      .orderBy($"es_key".asc, $"doc_id".asc)
      .limit(WSampleN)
      .select($"doc_id", $"w", round($"es_key", 9).as("es_key"))
  }

  /** q97 — BPE pair statistics: adjacent character-pair frequencies
    * weighted by word counts — the counting step a byte-pair-encoding
    * tokenizer trainer iterates (the argmax pair becomes the next
    * merge). The corpus collapses to its DISTINCT words first (Zipf:
    * the word table is tiny vs the token stream) so pair explosion
    * runs per unique word with the count as a weight — the same
    * pre-aggregation trick as SimHash (q24). Top-30 by weight with a
    * total-order tie-break. The merge-APPLY step is per-word local
    * (no shuffle) and belongs to the driver loop of a trainer, not a
    * corpus pass; at 100 TB each merge round re-runs only this count
    * over the (still tiny) updated word table. */
  val bpePairStats: Q = (s, dir) => {
    import s.implicits._
    val words = tokenized(s, dir)
      .select(explode($"toks").as("word"))
      .groupBy($"word").agg(count(lit(1)).as("n"))
      .filter(length($"word") >= 2)
    words
      .select($"n", explode(expr(
        "transform(sequence(1, length(word) - 1), " +
          "i -> substring(word, i, 2))")).as("pair"))
      .groupBy($"pair").agg(sum($"n").as("weight"))
      .orderBy($"weight".desc, $"pair".asc)
      .limit(30)
  }

  /** q98 — BPE tokenizer training ([[graft.functions.Bpe.train]]): 8
    * merge rounds over the corpus's distinct-word table; output is the
    * ordered merge table (the artifact a tokenizer ships). Oracle:
    * full training replayed in SQL ([[sqlBpeRounds]] — the greedy
    * apply in lookahead-free island/alternation form); the semantics
    * gate is additionally CurationSpec's equality against a
    * plain-Scala reference BPE. */
  val bpeTrain: Q = (s, dir) => {
    import s.implicits._
    val words = tokenized(s, dir)
      .select(explode($"toks").as("word"))
      .groupBy($"word").agg(count(lit(1)).as("n"))
    graft.functions.Bpe.train(words, rounds = 8)._1
  }

  /** q113 — corpus ENCODING under q98's trained merges (the apply half
    * of the tokenizer story): per-document subword piece count and
    * fertility (pieces per word — the metric tokenizer teams track per
    * language/domain). The corpus is never re-segmented per token:
    * encoding rides the DISTINCT-word table — `Bpe.train`'s second
    * output already holds each word's final symbolization, its piece
    * count joins back onto the exploded corpus by word (vocab-sized →
    * broadcast). A 100 TB corpus encodes against its ~100M-word vocab,
    * and the heavy merge loop ran once at training. Oracle: the full
    * trained-vocab replay of [[sqlBpeRounds]]; encode-equality vs a
    * plain-Scala reference is additionally spec-asserted. */
  val bpeEncode: Q = (s, dir) => {
    import s.implicits._
    val words = tokenized(s, dir)
      .select(explode($"toks").as("word"))
      .groupBy($"word").agg(count(lit(1)).as("n"))
    val vocab = graft.functions.Bpe.train(words, rounds = 8)._2
      .select($"word",
        size(split($"sym", " ")).cast("long").as("pieces"))
    tokenized(s, dir)
      .select($"doc_id", explode($"toks").as("word"))
      .join(broadcast(vocab), Seq("word"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"pieces").as("n_pieces"))
      .select($"doc_id", $"n_words", $"n_pieces",
        expr("(1000000 * n_pieces) div n_words").as("fertility_micro"))
  }

  /** q464 — UNIGRAM-LM tokenizer step (Kudo 2018, the SentencePiece
    * model family — the other tokenizer-induction school next to BPE
    * q97/q98/q113/q289): candidate pieces are all ≤4-char substrings
    * of the vocabulary with corpus-frequency-derived −log-probability
    * costs; each distinct word is segmented by exact VITERBI dynamic
    * programming (lexicographic (cost, boundary-mask) minimum — the
    * mask makes the argmin segmentation unique and engine-portable,
    * since equal-cost ties resolve to the smallest boundary bitmask);
    * one hard-EM step then re-estimates piece probabilities from the
    * winning segmentations weighted by word frequency. The whole DP is
    * ONE codegen'd higher-order `aggregate` over the word's positions
    * (best[j] = min over the ≤4 last-piece lengths), with span costs
    * pre-joined as a flat (i,k)-indexed array — no driver loop, no
    * UDF. The oracle is an INDEPENDENT formulation: DuckDB enumerates
    * every segmentation by recursive CTE and takes the same
    * lexicographic argmin, so the DP's optimal-substructure claim
    * itself is what the gate checks. Scale: like BPE, every frame
    * after the token count rides the Zipf-collapsed DISTINCT-word
    * table (corpus-size-independent); costs are per-row micro-
    * quantized ln (q77's portability discipline) and all sums are
    * exact longs. */
  val unigramLm: Q = (s, dir) => {
    import s.implicits._
    // boundary-mask guard: the DP encodes segmentation boundaries as
    // bit j of a 64-bit mask; j > UlmMaxWordLen would hit the sign bit
    // (breaking the lexicographic tie-break) or wrap mod 64 in Spark
    // while DuckDB diverges. Both engines apply the SAME length cap so
    // the excluded set is identical (r7 ADVICE item; empty at all
    // current SFs — the tokenizer never emits 63-char words).
    // pinned: the Zipf-collapsed word table anchors BOTH spans
    // consumers (piece census + DP cost join) — lazy, the corpus
    // explode + groupBy ran twice through the spans re-derivation
    val words = tokenized(s, dir)
      .select(explode($"toks").as("w"))
      .filter(length($"w") <= UlmMaxWordLen)
      .groupBy($"w").agg(count(lit(1)).as("wfreq"))
      .trunkCheckpoint()
    // every (i,k) span slot, k ≤ 4; invalid slots carry a NULL piece so
    // the per-word cost array below is dense and (i,k)-indexable
    val spans = words.select($"w", $"wfreq",
      explode(expr(s"""flatten(transform(sequence(1, length(w)),
          i -> transform(sequence(1, $UlmPieceMax),
            k -> named_struct('i', i, 'k', k,
              'piece', CASE WHEN i + k - 1 <= length(w)
                THEN substring(w, i, k) END))))""")).as("sp"))
      .select($"w", $"wfreq", $"sp.i".as("i"), $"sp.k".as("k"),
        $"sp.piece".as("piece"))
    val counts = spans.filter($"piece".isNotNull)
      .groupBy($"piece").agg(sum($"wfreq").as("c_init"))
    val total = counts.agg(sum($"c_init").as("t"))
    // pinned: piece-vocab-bounded, read by the DP cost join AND the
    // final report join
    val costs = counts.crossJoin(broadcast(total))
      .select($"piece", $"c_init",
        round(-log($"c_init".cast("double") / $"t".cast("double"))
          * 1000000.0).cast("long").as("cost_micro"))
      .trunkCheckpoint()
    val sc = spans
      .join(broadcast(costs.select($"piece", $"cost_micro")),
        Seq("piece"), "left")
      .groupBy($"w", $"wfreq")
      .agg(array_sort(collect_list(struct($"i", $"k",
        coalesce($"cost_micro", lit(UlmHuge)).as("c")))).as("sca"))
      .select($"w", $"wfreq",
        expr("transform(sca, x -> x.c)").as("sc"))
    val dp = sc.select($"w", $"wfreq", expr(s"""
      element_at(
        aggregate(sequence(1, length(w)),
          array(named_struct('c', CAST(0 AS BIGINT),
                             'm', CAST(0 AS BIGINT))),
          (acc, j) -> concat(acc, array(
            array_min(filter(transform(sequence(1, $UlmPieceMax),
              k -> CASE WHEN k <= j THEN named_struct(
                'c', element_at(acc, j - k + 1).c
                   + element_at(sc, (j - k) * $UlmPieceMax + k),
                'm', element_at(acc, j - k + 1).m
                   | shiftleft(CAST(1 AS BIGINT), j)) END),
              x -> x IS NOT NULL))))),
        length(w) + 1)""").as("best"))
    // boundary mask → piece list (one more position fold)
    val segs = dp.select($"w", $"wfreq", expr(s"""
      aggregate(sequence(1, length(w)),
        named_struct('s', 0, 'ps', CAST(array() AS ARRAY<STRING>)),
        (acc, j) -> IF((shiftright(best.m, j) & 1) = 1,
          named_struct('s', j,
            'ps', concat(acc.ps,
              array(substring(w, acc.s + 1, j - acc.s)))),
          acc)).ps""").as("pieces"))
    val used = segs.select($"wfreq", explode($"pieces").as("piece"))
      .groupBy($"piece").agg(sum($"wfreq").as("used_count"))
    val usedTotal = used.agg(sum($"used_count").as("ut"))
    costs.join(used, Seq("piece"))
      .crossJoin(broadcast(usedTotal))
      .select($"piece", $"c_init", $"cost_micro", $"used_count",
        expr("(used_count * 1000000) div ut").as("new_prob_micro"))
      .orderBy($"piece")
  }

  private val UlmPieceMax = 4
  private val UlmHuge = 1000000000000L
  private val UlmMaxWordLen = 62

  private def sqlUnigramLm: String = {
    val toks = TextOps.sqlTokens("text")
    s"""WITH RECURSIVE
       |toks AS (SELECT unnest($toks) AS w FROM documents),
       |words AS (SELECT w, count(*)::BIGINT AS wfreq
       |  FROM toks WHERE len(w) <= $UlmMaxWordLen GROUP BY w),
       |spans AS (SELECT w, wfreq, i, k,
       |    substr(w, i::INT, k::INT) AS piece
       |  FROM words,
       |    unnest(range(1, len(w) + 1)) AS t1(i),
       |    unnest(range(1, ${UlmPieceMax + 1})) AS t2(k)
       |  WHERE i + k - 1 <= len(w)),
       |counts AS (SELECT piece, sum(wfreq)::BIGINT AS c_init
       |  FROM spans GROUP BY piece),
       |tot AS (SELECT sum(c_init)::BIGINT AS t FROM counts),
       |costs AS (SELECT piece, c_init,
       |    CAST(round(-ln(CAST(c_init AS DOUBLE) / CAST(t AS DOUBLE))
       |      * 1000000) AS BIGINT) AS cost_micro
       |  FROM counts CROSS JOIN tot),
       |scost AS (SELECT s.w, s.i, s.k, c.cost_micro
       |  FROM spans s JOIN costs c USING (piece)),
       |paths AS (
       |  SELECT w, wfreq, 0::BIGINT AS pos, 0::BIGINT AS cost,
       |    0::BIGINT AS mask
       |  FROM words
       |  UNION ALL
       |  SELECT p.w, p.wfreq, p.pos + s.k AS pos,
       |    p.cost + s.cost_micro AS cost,
       |    p.mask | (1::BIGINT << (p.pos + s.k)::INT) AS mask
       |  FROM paths p JOIN scost s
       |    ON s.w = p.w AND s.i = p.pos + 1),
       |best AS (SELECT w, wfreq, mask,
       |    row_number() OVER (PARTITION BY w ORDER BY cost, mask)
       |      AS rnk
       |  FROM paths WHERE pos = len(w)),
       |seg AS (SELECT w, wfreq,
       |    list_filter(range(1, len(w) + 1),
       |      j -> (mask >> j::INT) & 1 = 1) AS ends
       |  FROM best WHERE rnk = 1),
       |pieces AS (SELECT wfreq,
       |    unnest(list_transform(range(1, len(ends) + 1),
       |      x -> substr(w,
       |        (CASE WHEN x = 1 THEN 0 ELSE ends[x::INT - 1] END
       |          + 1)::INT,
       |        (ends[x::INT] - CASE WHEN x = 1 THEN 0
       |          ELSE ends[x::INT - 1] END)::INT))) AS piece
       |  FROM seg),
       |used AS (SELECT piece, sum(wfreq)::BIGINT AS used_count
       |  FROM pieces GROUP BY piece),
       |ut AS (SELECT sum(used_count)::BIGINT AS u FROM used)
       |SELECT c.piece, c.c_init, c.cost_micro, used_count,
       |  (used_count * 1000000) // u AS new_prob_micro
       |FROM costs c JOIN used USING (piece) CROSS JOIN ut
       |ORDER BY piece""".stripMargin
  }

  /** q86 — curation verdict (the final keep/drop gate of the pipeline,
    * with reason codes): three independent signals — document length,
    * unigram LM surprise (q77's score), stopword fraction — each
    * becomes a named boolean, and a document ships only if none fire.
    * Reason flags, not a bare boolean, because production curation
    * audits WHY mass was dropped (per-rule drop rates drive threshold
    * tuning). Thresholds sit inside this corpus's observed spread so
    * every rule demonstrably fires on a real subset. One token scan
    * feeds all three signals; the vocab join is q77's broadcast. */
  private val VerdictMinToks = 16L
  private val VerdictMaxSurprise = 3.41
  private val VerdictMinStopFrac = 0.02
  val curationVerdict: Q = (s, dir) => {
    import s.implicits._
    val surprise = unigramSurprise(s, dir) // doc_id, n_toks, mean_surprise
    val stop = tokenized(s, dir).select($"doc_id",
      round(size(filter($"toks",
          t => t.isInCollection(SampleStopwords))).cast("double") /
        size($"toks").cast("double"), 6).as("stop_frac"))
    surprise.join(stop, Seq("doc_id"))
      .withColumn("too_short", $"n_toks" < VerdictMinToks)
      .withColumn("off_distribution",
        $"mean_surprise" > VerdictMaxSurprise)
      .withColumn("low_stopword", $"stop_frac" < VerdictMinStopFrac)
      .withColumn("keep",
        !$"too_short" && !$"off_distribution" && !$"low_stopword")
  }

  /** q463 — curation-rule ABLATION census (the filter-tuning view
    * behind Gopher/RefinedWeb appendix tables): document count, token
    * mass, and surviving token mass for EVERY combination of q86's
    * rule flags plus all marginals, in one pass — GROUP BY CUBE over
    * the three booleans is a single Expand (8× map fan-out of an
    * already per-doc-collapsed frame) feeding one aggregate, never
    * eight scans. The explicit grouping-id disambiguates rolled-up
    * NULLs from genuine flag values (q439's discipline). The 8 leaf
    * cells answer "what does each rule uniquely remove" (a doc counted
    * in too_short=true, others false is lost to that rule ALONE);
    * marginals give each rule's gross removal mass. ≤ 27 output rows
    * at any corpus size. */
  val filterAblation: Q = (s, dir) => {
    import s.implicits._
    curationVerdict(s, dir)
      .select($"doc_id", $"n_toks", $"too_short", $"off_distribution",
        $"low_stopword", $"keep")
      .cube($"too_short", $"off_distribution", $"low_stopword")
      .agg(
        (grouping($"too_short") * 4 + grouping($"off_distribution") * 2 +
          grouping($"low_stopword")).cast("int").as("gid"),
        count(lit(1)).as("n_docs"),
        sum($"n_toks").cast("long").as("tok_mass"),
        sum(when($"keep", $"n_toks").otherwise(0L)).cast("long")
          .as("kept_tok_mass"))
      .select($"gid", $"too_short", $"off_distribution", $"low_stopword",
        $"n_docs", $"tok_mass", $"kept_tok_mass")
  }

  // def, not val: sqlVerdict is declared later in the file and object
  // vals initialize in declaration order
  private def sqlFilterAblation: String =
    s"""WITH v AS ($sqlVerdict)
       |SELECT CAST(GROUPING(too_short) * 4
       |    + GROUPING(off_distribution) * 2
       |    + GROUPING(low_stopword) AS INTEGER) AS gid,
       |  too_short, off_distribution, low_stopword,
       |  count(*)::BIGINT AS n_docs,
       |  sum(n_toks)::BIGINT AS tok_mass,
       |  sum(CASE WHEN keep THEN n_toks ELSE 0 END)::BIGINT
       |    AS kept_tok_mass
       |FROM v
       |GROUP BY CUBE(too_short, off_distribution, low_stopword)"""
      .stripMargin

  // ------------------------------------------------- boilerplate removal

  /** q88 — corpus-level boilerplate removal (the CCNet/RefinedWeb move:
    * a text block shared across documents is template chrome — nav
    * bars, footers, licence blurbs — not content). Documents are cut
    * into fixed 8-token blocks, block hashes are counted corpus-wide,
    * and any block seen in ≥ 2 DISTINCT documents is scrubbed from
    * every document, which is then reassembled in block order.
    *
    * Scale: the block table shuffles once on hash60 for the two-phase
    * distinct-doc count; the resulting boilerplate set is the heavy
    * tail of that frequency table — tiny versus the corpus — so the
    * scrub join broadcasts it when it fits ([[dupSetJoin]]; shuffled
    * hash join past the cap) and the only corpus-sized shuffle is the
    * doc_id regroup for reassembly. The sub-8-token tail of each doc
    * carries no shareable block and is out of scope by construction. */
  /** Probe-side join of a corpus-sized gram/block table against the
    * duplicated-set S (the ≥2-doc heavy tail). S is template chrome —
    * normally tiny — so it BROADCASTS when its 8-byte hashes fit
    * Spark's own `spark.sql.autoBroadcastJoinThreshold` (count × 8
    * bytes ≤ threshold; a threshold ≤ 0 never broadcasts); on a
    * boilerplate-heavy crawl where S outgrows the broadcast budget the
    * probe degrades to a shuffled hash join on the hash key — same rows
    * out, one extra corpus shuffle, no driver/executor OOM. S is
    * localCheckpoint'd first so the branch's count() never re-runs the
    * corpus aggregation that built it (and the join reuses the
    * materialized blocks). Both branches are spec-asserted result-equal
    * with the threshold toggled. */
  private def dupSetJoin(grams: DataFrame, dupSet: DataFrame,
      cond: org.apache.spark.sql.Column, joinType: String): DataFrame = {
    val threshold = grams.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold
    val s = dupSet.trunkCheckpoint()
    if (threshold > 0 && s.count() * 8L <= threshold)
      grams.join(broadcast(s), cond, joinType)
    else grams.join(s.hint("shuffle_hash"), cond, joinType)
  }

  private val BlockLen = 8
  private val BoilerMinDocs = 2
  val boilerplateScrub: Q = (s, dir) => {
    import s.implicits._
    val nBlocks = floor(size($"toks").cast("double") / BlockLen).cast("int")
    val blocks = tokenized(s, dir)
      .filter(size($"toks") >= BlockLen)
      .select($"doc_id", $"toks",
        explode(sequence(lit(0), nBlocks - 1)).as("block_idx"))
      .select($"doc_id", $"block_idx",
        concat_ws(" ",
          slice($"toks", $"block_idx" * BlockLen + 1, lit(BlockLen)))
          .as("block_text"))
      .withColumn("h", Hashing.hash60($"block_text"))
    val boiler = blocks.groupBy($"h")
      .agg(countDistinct($"doc_id").as("n_docs"))
      .filter($"n_docs" >= BoilerMinDocs)
      .select($"h".as("bh"))
    dupSetJoin(blocks, boiler, $"h" === $"bh", "left")
      .withColumn("boil", $"bh".isNotNull)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        count(when($"boil", 1)).as("n_dropped"),
        array_join(transform(
            array_sort(collect_list(when(!$"boil",
              struct($"block_idx", $"block_text")))),
            x => x("block_text")), " ").as("kept_text"))
  }

  // ------------------------------------------------ duplicate-span scrub

  /** q102 — duplicate-span detection (the exact-substring pass of
    * Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better"): q88's fixed 8-token blocks only catch repeated
    * text that lands on a block boundary — a copied passage at a
    * shifted offset slips through. Here every OVERLAPPING 8-token
    * gram is hashed; a gram seen in ≥ 2 DISTINCT documents marks its
    * positions as duplicated, and per document the marked positions
    * merge (gaps-and-islands: break when the gap exceeds the gram
    * length) into MAXIMAL duplicated spans — alignment-free exact
    * substring detection with no suffix array.
    *
    * Scale: the gram table is ~n_tokens rows per doc (vs n/8 for
    * q88) — the price of alignment freedom; it shuffles ONCE on the
    * gram hash for the distinct-doc count. The duplicated-gram set is
    * the heavy tail of that table (tiny vs the corpus) so the probe
    * join broadcasts it when it fits ([[dupSetJoin]], overflow-guarded),
    * and the island merge shuffles only the
    * matched positions on doc_id — O(duplicated positions), not
    * O(corpus). At 100 TB the gram hashes are 8-byte longs (never the
    * gram text), and the per-doc window state is one lag value. */
  private val SpanGram = 8
  val dupSpans: Q = (s, dir) => {
    import s.implicits._
    val tok = tokenized(s, dir)
    val grams = tok
      .filter(size($"toks") >= SpanGram)
      .select($"doc_id", $"toks",
        explode(sequence(lit(1), size($"toks") - (SpanGram - 1)))
          .as("pos"))
      .select($"doc_id", $"pos",
        Hashing.hash60(
          concat_ws(" ", slice($"toks", $"pos", lit(SpanGram)))).as("h"))
    val dup = grams.groupBy($"h")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"h".as("dh"))
    val hits = dupSetJoin(grams, dup, $"h" === $"dh", "inner")
      .select($"doc_id", $"pos")
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val prev = lag($"pos", 1).over(w)
    val spans = hits
      .withColumn("brk",
        when(prev.isNull || $"pos" - prev > SpanGram, 1).otherwise(0))
      .withColumn("island", sum($"brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"island")
      .agg(min($"pos").as("s"),
        (max($"pos") + (SpanGram - 1)).as("e"),
        count(lit(1)).as("ng"))
    val perDoc = spans.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum($"ng").as("n_dup_grams"),
        sum($"e" - $"s" + 1).as("dup_tokens"),
        max($"e" - $"s" + 1).cast("long").as("max_span_len"))
    tok.select($"doc_id", size($"toks").as("n_toks"))
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"n_toks",
        coalesce($"n_dup_grams", lit(0L)).as("n_dup_grams"),
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        coalesce($"dup_tokens", lit(0L)).as("dup_tokens"),
        coalesce($"max_span_len", lit(0L)).as("max_span_len"),
        round(coalesce($"dup_tokens", lit(0L)).cast("double")
          / greatest($"n_toks", lit(1)), 6).as("dup_frac"))
  }

  /** q108 — PMI collocation mining (pointwise mutual information of
    * adjacent word pairs): which bigrams co-occur far above chance —
    * the classic phrase/term extractor ("new york"-style units) run
    * before tokenizer training or indexing. pmi = ln(p(xy)/(p(x)p(y)))
    * computed from exact integer counts: the numerator c_xy·T² and
    * denominator B·c_x·c_y are exact long products, so both engines
    * take ln of the SAME rational number and the micro-unit score is
    * reproducible. Plan shape: one bigram groupBy (map-side combined,
    * Zipf collapses hard), unigram vocab joined on each word — vocab
    * is corpus-sublinear (heaps' law) and AQE broadcasts it at test
    * scale; at 100 TB both joins degrade to shuffle joins on the word
    * key, still |vocab|-sized, never corpus-sized. Corpus totals ride
    * as one broadcast row. Top-20 via TakeOrderedAndProject (no global
    * sort); min-support 5 prunes the hapax tail before any join. */
  val pmiCollocations: Q = (s, dir) => {
    import s.implicits._
    val tokd = tokenized(s, dir)
    // 1-based adjacent index pairs; empty for <2-token docs (explode
    // drops the row, mirroring the oracle's empty range())
    val pairs = tokd.select(explode(transform(
        when(size($"toks") >= 2, sequence(lit(1), size($"toks") - 1))
          .otherwise(array().cast("array<int>")),
        i => struct(element_at($"toks", i).as("w1"),
          element_at($"toks", i + 1).as("w2")))).as("pr"))
      .select($"pr.w1".as("w1"), $"pr.w2".as("w2"))
    val uni = tokd.select(explode($"toks").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum($"c").as("T"))
    val bi = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
      .filter($"c" >= 5)
    val btot = pairs.agg(count(lit(1)).as("B"))
    bi
      .join(uni.select($"tok".as("w1"), $"c".as("c1")), Seq("w1"))
      .join(uni.select($"tok".as("w2"), $"c".as("c2")), Seq("w2"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
      .select($"w1", $"w2", $"c".as("pair_cnt"),
        round(log(($"c" * $"T" * $"T").cast("double") /
          ($"B" * $"c1" * $"c2").cast("double")) * 1000000.0)
          .cast("long").as("pmi_micro"))
      .orderBy($"pmi_micro".desc, $"w1", $"w2")
      .limit(20)
  }

  /** q188 — leave-one-out target encoding (the feature-engineering
    * step that turns a categorical column into its target mean
    * WITHOUT leaking each row's own label into its own feature): for
    * row i in category c, enc_i = (Σ_c y − y_i)/(n_c − 1); singleton
    * categories fall back to the global mean. One O(categories)
    * aggregate broadcast back onto the fact scan plus a one-row
    * global frame — no window, no self-join, the encode itself is a
    * map-side expression. Arithmetic is decimal(38,0) cross-products
    * of exact cent sums with integral division (Σ_c·1e6 overflows a
    * long once a category's target sum passes ~9e12 cents), so every
    * encoded value is engine- and partitioning-exact. */
  val targetEncode: Q = (s, dir) => {
    import s.implicits._
    val o = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_mktsegment"),
        $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"c_mktsegment".as("segment"),
        round($"o_totalprice" * 100).cast("long").as("y"))
    val seg = o.groupBy($"segment")
      .agg(sum($"y").as("s"), count(lit(1)).as("n"))
    val glob = o.agg(sum($"y").as("gs"), count(lit(1)).as("gn"))
    o.join(broadcast(seg), Seq("segment"))
      .crossJoin(broadcast(glob))
      .select($"o_orderkey", $"segment", $"n".as("n_cat"),
        when($"n" > 1,
          expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * (s - y)" +
            " div CAST(n - 1 AS DECIMAL(38,0)) AS BIGINT)"))
          .otherwise(
            expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * gs" +
              " div CAST(gn AS DECIMAL(38,0)) AS BIGINT)"))
          .as("loo_micro"))
  }

  /** q190 — mutual-information cell table between two categorical
    * columns (source × lang): the feature-selection / redundancy
    * probe — how much does knowing the source tell you about the
    * language? Per-cell PMI follows the q108 rule: ln of the exact
    * rational (c_sl·N)/(c_s·c_l) — decimal(38,0) products so the
    * argument is the same number on both engines — micro-quantized
    * per cell BEFORE any summation (q77's rule: a float Σ p·ln(...)
    * would be partial-sum-order dependent; integer contributions sum
    * exactly on any partitioning). MI is recoverable as
    * Σ mi_contrib_micro div 1; the output keeps the per-cell
    * decomposition a dataset card wants. Three grouped counts —
    * marginals are O(categories) broadcasts — and one map-side
    * expression; no window, no join wider than the cell table. */
  val mutualInfo: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "documents").select($"source", $"lang")
    val cell = d.groupBy($"source", $"lang")
      .agg(count(lit(1)).as("c_sl"))
    val ms = d.groupBy($"source").agg(count(lit(1)).as("c_s"))
    val ml = d.groupBy($"lang").agg(count(lit(1)).as("c_l"))
    val tot = d.agg(count(lit(1)).as("n"))
    cell.join(broadcast(ms), Seq("source"))
      .join(broadcast(ml), Seq("lang"))
      .crossJoin(broadcast(tot))
      .select($"source", $"lang", $"c_sl", $"c_s", $"c_l", $"n",
        round(log((expr("CAST(c_sl AS DECIMAL(38,0)) * n"))
          .cast("double") /
          expr("CAST(c_s AS DECIMAL(38,0)) * c_l").cast("double"))
          * 1000000.0).cast("long").as("pmi_micro"))
      .withColumn("mi_contrib_micro",
        expr("CAST(CAST(c_sl AS DECIMAL(38,0)) * pmi_micro" +
          " div CAST(n AS DECIMAL(38,0)) AS BIGINT)"))
  }

  /** q194 — chi-squared test of independence over the SAME source ×
    * lang contingency table as q190 (MI says how much structure; χ²
    * says whether it clears chance). Unlike q190 the statistic needs
    * the EMPTY cells too ((0−e)²/e = e per unobserved combo), so the
    * cell frame is the full marginal cross product — an O(cats²)
    * broadcast cross join, tiny at any corpus size — left-joined to
    * the observed counts. Per cell, χ² = (o·n − r·c)²/(n·r·c): the
    * inner diff o·n − r·c is exact decimal(38,0) (≤ ~1e24), its
    * square would need ~48 digits so the outer ratio runs in double
    * over the same exact integers with a fixed operation tree
    * mirrored in the oracle (q189's rule), micro-quantized per cell
    * BEFORE summation (q77's order-independence rule). Expected
    * counts are exact integral micros. */
  val chiSquared: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "documents").select($"source", $"lang")
    val cell = d.groupBy($"source", $"lang").agg(count(lit(1)).as("o"))
    val ms = d.groupBy($"source").agg(count(lit(1)).as("r"))
    val ml = d.groupBy($"lang").agg(count(lit(1)).as("c"))
    val tot = d.agg(count(lit(1)).as("n"))
    ms.crossJoin(broadcast(ml))
      .join(cell, Seq("source", "lang"), "left")
      .crossJoin(broadcast(tot))
      .select($"source", $"lang", coalesce($"o", lit(0L)).as("o"),
        $"r", $"c", $"n")
      .withColumn("e_micro",
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * r * c" +
          " div CAST(n AS DECIMAL(38,0)) AS BIGINT)"))
      .withColumn("__diff",
        expr("CAST(CAST(o AS DECIMAL(38,0)) * n" +
          " - CAST(r AS DECIMAL(38,0)) * c AS DOUBLE)"))
      .withColumn("chi2_contrib_micro",
        round($"__diff" * $"__diff" /
          expr("CAST(CAST(n AS DECIMAL(38,0)) * r * c AS DOUBLE)")
          * 1000000.0).cast("long"))
      .drop("__diff")
  }

  /** q200 — pairwise Jensen–Shannon divergence between the per-source
    * word distributions (the bounded, symmetric corpus-similarity
    * measure a mixture/dataset card wants next to q190's MI): for each
    * source pair, JS = Σ_w ½p₁ln(p₁/m) + ½p₂ln(p₂/m), m = (p₁+p₂)/2.
    * Decomposed scale-first: the corpus collapses to the (source,
    * word) count table once; SHARED words pair up via one word-keyed
    * self-join (fan-out ≤ #sources per word, never doc-level);
    * each side's log-ratio is ln of an EXACT decimal(38,0) rational
    * (2·c₁·t₂ / (c₁·t₂+c₂·t₁)) micro-quantized per (pair, word)
    * BEFORE summation (q190's rule), weighted by the exact rational
    * c/(2t) via integral division. Words present in only one source
    * contribute ½p·ln2 in closed form — the aggregated one-sided
    * masses (t−sh) ride the same integral-division grid with the
    * ln2-micro literal 693147 mirrored in the oracle, so NO outer
    * join materializes the disjoint vocab. Truncation bias ≤ 1 micro
    * per summed term, identically on both engines. */
  val jsDivergence: Q = (s, dir) => {
    import s.implicits._
    val ws = Tables(s, dir, "documents")
      .select($"source", explode(TextOps.tokens($"text")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
    val ts = ws.groupBy($"source").agg(sum($"c").as("t"))
    val wst = ws.join(ts, Seq("source"))
    val a = wst.select($"source".as("s1"), $"w",
      $"c".as("c1"), $"t".as("t1"))
    val b = wst.select($"source".as("s2"), $"w",
      $"c".as("c2"), $"t".as("t2"))
    val shared = a.join(b, Seq("w")).filter($"s1" < $"s2")
      .withColumn("den", expr("CAST(c1 AS DECIMAL(38,0)) * t2" +
        " + CAST(c2 AS DECIMAL(38,0)) * t1"))
      .withColumn("lnr1",
        round(log(expr("CAST(2 AS DECIMAL(38,0)) * c1 * t2")
          .cast("double") / $"den".cast("double")) * 1000000.0)
          .cast("long"))
      .withColumn("lnr2",
        round(log(expr("CAST(2 AS DECIMAL(38,0)) * c2 * t1")
          .cast("double") / $"den".cast("double")) * 1000000.0)
          .cast("long"))
    shared.groupBy($"s1", $"s2", $"t1", $"t2")
      .agg(
        sum(expr("CAST(c1 AS DECIMAL(38,0)) * lnr1" +
          " div (CAST(2 AS DECIMAL(38,0)) * t1)")).as("sj1"),
        sum(expr("CAST(c2 AS DECIMAL(38,0)) * lnr2" +
          " div (CAST(2 AS DECIMAL(38,0)) * t2)")).as("sj2"),
        sum($"c1").as("sh1"), sum($"c2").as("sh2"))
      .select($"s1", $"s2",
        ($"sj1" + $"sj2" +
          expr("CAST(t1 - sh1 AS DECIMAL(38,0)) * 693147" +
            " div (CAST(2 AS DECIMAL(38,0)) * t1)") +
          expr("CAST(t2 - sh2 AS DECIMAL(38,0)) * 693147" +
            " div (CAST(2 AS DECIMAL(38,0)) * t2)")).as("js_micro"))
  }

  /** q210 — Cramér's V: q194's chi² normalized to the [0,1] effect
    * size a dataset card can compare across tables of different
    * shape — V = √(χ²/(N·min(r−1,c−1))). One aggregate over the
    * O(cats²) q194 grid; χ² totals as exact integer micro sums
    * (q194's per-cell quantization makes the Σ order-independent);
    * only the final sqrt runs in double, tree-mirrored in the
    * oracle. */
  val cramersV: Q = (s, dir) => {
    import s.implicits._
    chiSquared(s, dir).agg(
        max($"n").as("n"),
        countDistinct($"source").as("n_src"),
        countDistinct($"lang").as("n_lang"),
        sum($"chi2_contrib_micro").as("chi2_micro"))
      .select($"n", $"n_src", $"n_lang", $"chi2_micro",
        round(sqrt($"chi2_micro".cast("double") / 1000000.0 /
          ($"n".cast("double") *
            least($"n_src" - 1, $"n_lang" - 1).cast("double")))
          * 1000000.0).cast("long").as("v_micro"))
  }

  /** q214 — Good–Turing frequency re-estimation (the smoothing every
    * n-gram language model applies to its count table before it can
    * score unseen text): from the BIGRAM count table (the unigram
    * vocabulary of this corpus has no rare tail — min count 26 — so
    * the smoothing target is the bigram model, as in practice), the
    * count-of-counts N_r, the re-estimated count r* = (r+1)·N_{r+1}/N_r
    * for r ≤ 10, and the unseen-mass estimate P₀ = N₁/N. The corpus
    * collapses to the O(bigram-vocab) count table in one explode+count
    * pass (map-side combined), then to the O(max r) count-of-counts
    * table; N_{r+1} arrives by equi-JOIN on r+1 (no window at all —
    * the r spine needs no ordering primitive), and every ratio is
    * truncating integer micro division, exact in both engines to
    * ~10¹¹ vocabulary. */
  val goodTuring: Q = (s, dir) => {
    import s.implicits._
    val words = tokenized(s, dir).select(explode(transform(
        when(size($"toks") >= 2, sequence(lit(1), size($"toks") - 1))
          .otherwise(array().cast("array<int>")),
        i => concat_ws(" ", element_at($"toks", i),
          element_at($"toks", i + 1)))).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("r"))
    val nr = words.groupBy($"r").agg(count(lit(1)).as("n_r"))
    val tot = words.agg(sum($"r").as("n_tokens"),
      sum(when($"r" === 1, 1L).otherwise(0L)).as("n1"))
    nr.as("a")
      .join(nr.select(($"r" - 1).as("r"), $"n_r".as("n_r1")).as("b"),
        Seq("r"), "left")
      .filter($"r" <= 10)
      .crossJoin(broadcast(tot))
      .select($"r", $"n_r",
        expr("(r + 1) * 1000000 * coalesce(n_r1, 0) div n_r")
          .as("r_star_micro"),
        expr("1000000 * n1 div n_tokens").as("p0_micro"))
  }

  /** q218 — TextRank keyword extraction: PageRank over the word
    * co-occurrence graph (adjacent-token edges, bidirected, self-loops
    * dropped) — the unsupervised keyword/keyphrase baseline (Mihalcea
    * & Tarau 2004), here as pure composition: the q121 bigram edge
    * derivation feeding functions.PageRank's integer fixed-point
    * kernel (bit-identical on any partitioning; the same unrolled
    * arithmetic in the oracle). The graph is vocabulary-sized — tiny
    * relative to the corpus that produced it — so the two rank
    * iterations run on O(vocab) frames; top-20 via
    * TakeOrderedAndProject. */
  val textrankKeywords: Q = (s, dir) => {
    import s.implicits._
    val pr = tokenized(s, dir).select(explode(transform(
        when(size($"toks") >= 2, sequence(lit(1), size($"toks") - 1))
          .otherwise(array().cast("array<int>")),
        i => struct(element_at($"toks", i).as("src"),
          element_at($"toks", i + 1).as("dst")))).as("pr"))
      .select($"pr.src".as("src"), $"pr.dst".as("dst"))
      .filter($"src" =!= $"dst")
    val edges = pr.unionByName(
      pr.select($"dst".as("src"), $"src".as("dst")))
    graft.functions.PageRank.ranks(edges, iters = 2)
      .orderBy($"rank".desc, $"id".asc)
      .limit(20)
      .select($"id".as("word"), $"rank")
  }

  /** q220 — rendezvous (highest-random-weight) shard assignment: each
    * document goes to argmax over shards of hash60("rv|shard|doc") —
    * the stateless, coordination-free placement scheme whose defining
    * property is MINIMAL RESHUFFLE: adding/removing a shard only moves
    * the documents whose argmax was that shard (~1/n of data), unlike
    * mod-n which moves almost everything. Pure per-row compute (8
    * hashes + a struct-greatest, no shuffle at all until the audit
    * count); same rows land on same shards on any cluster. Output is
    * the per-shard census a placement review reads. */
  val rendezvousShards: Q = (s, dir) => {
    import s.implicits._
    val structs = (0 until 8).map(i =>
      struct(Hashing.hash60(concat(lit(s"rv|$i|"),
        $"doc_id".cast("string"))).as("h"), lit(i).as("shard")))
    Tables(s, dir, "documents")
      .select($"doc_id", greatest(structs: _*).getField("shard")
        .as("shard"))
      .groupBy($"shard").agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
  }

  /** q454 — consistent-hash ring rebalance audit (q220's rendezvous
    * sibling, the OTHER minimal-reshuffle placement scheme): documents
    * place on a 4-node × 16-vnode hash ring (owner = first vnode
    * clockwise of the key), then node 4 joins with 16 more vnodes and
    * the audit reports, per original owner, how many documents stay
    * vs move — consistent hashing's contract is that EVERY move lands
    * on the new node (~1/(n+1) of data total), never between old
    * nodes. Ring positions are plan-time hash60 literals, so placement
    * is a pure per-row array probe (no shuffle until the census);
    * vnode count is the balance dial. Move shares are integer micro
    * divisions. */
  val ringRebalance: Q = (s, dir) => {
    import s.implicits._
    def positions(nodes: Int): Seq[(Long, Int)] =
      (for { n <- 0 until nodes; v <- 0 until 16 }
        yield (Hashing.hash60(s"ring|$n|$v"), n)).sortBy(_._1)
    def owner(nodes: Int, h: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val ps = positions(nodes)
      val arr = array(ps.map(p => lit(p._1)): _*)
      val m = map(ps.flatMap(p => Seq(lit(p._1), lit(p._2))): _*)
      element_at(m, coalesce(
        try_element_at(filter(arr, x => x >= h), lit(1)),
        lit(ps.head._1)))
    }
    Tables(s, dir, "documents")
      .select(Hashing.hash60($"doc_id".cast("string")).as("h"))
      .select(owner(4, $"h").cast("long").as("owner_before"),
        owner(5, $"h").cast("long").as("owner_after"))
      .groupBy($"owner_before")
      .agg(count(lit(1)).as("n_before"),
        sum(when($"owner_before" =!= $"owner_after", 1L).otherwise(0L))
          .as("n_moved_away"),
        sum(when($"owner_before" =!= $"owner_after" &&
          $"owner_after" =!= 4, 1L).otherwise(0L))
          .as("n_moved_between_old"))
      .select($"owner_before", $"n_before", $"n_moved_away",
        expr("n_moved_away * 1000000 div n_before")
          .as("moved_share_micro"),
        $"n_moved_between_old")
      .orderBy($"owner_before")
  }

  private val sqlRingRebalance: String = {
    def positions(nodes: Int): Seq[(Long, Int)] =
      (for { n <- 0 until nodes; v <- 0 until 16 }
        yield (Hashing.hash60(s"ring|$n|$v"), n)).sortBy(_._1)
    def owner(nodes: Int): String = {
      val ps = positions(nodes)
      val poss = ps.map(_._1).mkString("[", ", ", "]")
      val nds = ps.map(_._2).mkString("[", ", ", "]")
      s"""$nds[list_position($poss,
         |    coalesce(list_filter($poss, x -> x >= h)[1],
         |      ${ps.head._1}))]""".stripMargin
    }
    s"""WITH d AS (SELECT
       |    ${Hashing.sqlHash60("CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents),
       |o AS (SELECT CAST(${owner(4)} AS BIGINT) AS owner_before,
       |    CAST(${owner(5)} AS BIGINT) AS owner_after
       |  FROM d)
       |SELECT owner_before, count(*)::BIGINT AS n_before,
       |  sum(CASE WHEN owner_before <> owner_after THEN 1 ELSE 0 END)
       |    ::BIGINT AS n_moved_away,
       |  CAST(sum(CASE WHEN owner_before <> owner_after THEN 1 ELSE 0
       |    END) * 1000000 // count(*) AS BIGINT) AS moved_share_micro,
       |  sum(CASE WHEN owner_before <> owner_after
       |    AND owner_after <> 4 THEN 1 ELSE 0 END)::BIGINT
       |    AS n_moved_between_old
       |FROM o GROUP BY owner_before ORDER BY owner_before""".stripMargin
  }

  /** q221 — cross-source vocabulary overlap matrix: pairwise Jaccard
    * of the per-source word sets — the corpus-composition diagnostic
    * that catches near-identical feeds (syndication at the vocabulary
    * level) and outlier sources before mixing weights are chosen. The
    * join is on WORD (vocab-sharded, the scale dimension); the
    * O(sources²) result frame is tiny. Jaccard as exact integral
    * micro division. */
  val sourceVocabOverlap: Q = (s, dir) => {
    import s.implicits._
    val sw = Tables(s, dir, "documents")
      .select($"source", explode(TextOps.tokens($"text")).as("w"))
      .distinct()
    val sizes = sw.groupBy($"source").agg(count(lit(1)).as("v"))
    val inter = sw.as("a")
      .join(sw.as("b"), $"a.w" === $"b.w" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("s1"), $"b.source".as("s2"))
      .agg(count(lit(1)).as("inter"))
    inter.join(sizes.select($"source".as("s1"), $"v".as("v1")), Seq("s1"))
      .join(sizes.select($"source".as("s2"), $"v".as("v2")), Seq("s2"))
      .select($"s1", $"s2", $"v1", $"v2", $"inter",
        expr("1000000 * inter div (v1 + v2 - inter)")
          .as("jaccard_micro"))
  }

  val queries: Map[String, Q] = Map(
    "q218_textrank_keywords" -> textrankKeywords,
    "q220_rendezvous_shards" -> rendezvousShards,
    "q454_ring_rebalance" -> ringRebalance,
    "q221_source_vocab_overlap" -> sourceVocabOverlap,
    "q214_good_turing" -> goodTuring,
    "q188_target_encode" -> targetEncode,
    "q200_js_divergence" -> jsDivergence,
    "q210_cramers_v" -> cramersV,
    "q190_mutual_info" -> mutualInfo,
    "q194_chi_squared" -> chiSquared,
    "q108_pmi_collocations" -> pmiCollocations,
    "q121_bigram_surprise" -> bigramSurprise,
    "q135_ngram_novelty" -> ngramNovelty,
    "q140_neyman_sample" -> neymanSample,
    "q160_zipf_exponent" -> zipfExponent,
    "q162_heaps_growth" -> heapsGrowth,
    "q58_decontaminate" -> decontaminate,
    "q77_unigram_surprise" -> unigramSurprise,
    "q80_weighted_sample" -> weightedSample,
    "q86_curation_verdict" -> curationVerdict,
    "q463_filter_ablation" -> filterAblation,
    "q59_chunk" -> chunk,
    "q60_pii_scrub" -> piiScrub,
    "q61_cms_heavy_hitters" -> cmsHeavyHitters,
    "q62_incremental_dedup" -> incrementalDedup,
    "q63_length_buckets" -> lengthBuckets,
    "q64_pack_offsets" -> packOffsets,
    "q69_sample_topn_stratum" -> sampleTopNStratum,
    "q70_mixture_plan" -> mixturePlan,
    "q88_boilerplate_scrub" -> boilerplateScrub,
    "q102_dup_spans" -> dupSpans,
    "q95_weighted_sample_topn" -> weightedSampleTopN,
    "q97_bpe_pair_stats" -> bpePairStats,
    "q98_bpe_train" -> bpeTrain,
    "q113_bpe_encode" -> bpeEncode,
    "q464_unigram_lm" -> unigramLm,
    "q168_temperature_mixture" -> temperatureMixture,
    "q169_snapshot_diff" -> snapshotDiff,
    "q178_dataset_card" -> datasetCard,
  )

  // ---------------------------------------------------------- oracle SQL

  private val sqlDecon = {
    val sh = sqlShingles("text", ShingleN)
    s"""WITH sh AS (SELECT doc_id, $sh AS sh FROM documents),
       |bg AS (SELECT DISTINCT unnest(sh) AS g FROM sh
       |       WHERE doc_id % 25 = 0),
       |tr AS (SELECT doc_id, unnest(sh) AS g FROM sh
       |       WHERE doc_id % 25 <> 0),
       |shared AS (SELECT doc_id, count(*) AS n_shared
       |           FROM tr JOIN bg USING (g) GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.sh) AS INTEGER) AS n_grams,
       |  coalesce(s.n_shared, 0) AS n_shared,
       |  round(CAST(coalesce(s.n_shared, 0) AS DOUBLE) / len(t.sh), 6)
       |    AS contam_frac,
       |  round(CAST(coalesce(s.n_shared, 0) AS DOUBLE) / len(t.sh), 6)
       |    >= 0.5 AS contaminated
       |FROM sh t LEFT JOIN shared s USING (doc_id)
       |WHERE t.doc_id % 25 <> 0""".stripMargin
  }

  private val sqlChunk = {
    val toks = sqlTokens("text")
    s"""WITH base AS (SELECT doc_id, $toks AS toks,
       |    len($toks) AS n_toks,
       |    CAST(greatest(ceil((len($toks) - $ChunkSize) / $ChunkStride.0),
       |      0) AS BIGINT) + 1 AS n_chunks
       |  FROM documents),
       |ex AS (SELECT *, unnest(range(0, n_chunks)) AS i FROM base)
       |SELECT doc_id, CAST(n_toks AS INTEGER) AS n_toks,
       |  CAST(i AS INTEGER) AS chunk_id,
       |  CAST(i * $ChunkStride + 1 AS INTEGER) AS chunk_start,
       |  array_to_string(list_slice(toks, i * $ChunkStride + 1,
       |    i * $ChunkStride + $ChunkSize), ' ') AS chunk_text,
       |  CAST(len(list_slice(toks, i * $ChunkStride + 1,
       |    i * $ChunkStride + $ChunkSize)) AS INTEGER) AS n_chunk_toks
       |FROM ex""".stripMargin
  }

  private val sqlPii = {
    // RE2 needs no escaping changes for these classes
    val email = "[\\w\\.-]+@[\\w\\-]+\\.[a-zA-Z]{2,6}"
    val url = "www\\.[a-zA-Z0-9\\-]+\\.[\\w]{2,6}"
    val phone = "\\d{3}-\\d{3}-\\d{4}"
    s"""WITH p AS (SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail'
       |      || CAST(doc_id % 7 AS VARCHAR) || '.com or www.site'
       |      || CAST(doc_id % 13 AS VARCHAR) || '.org call 416-555-'
       |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$email')) AS INTEGER)
       |    AS n_emails,
       |  CAST(len(regexp_extract_all(
       |    regexp_replace(text, '$email', '', 'g'), '$url')) AS INTEGER)
       |    AS n_urls,
       |  CAST(len(regexp_extract_all(text, '$phone')) AS INTEGER)
       |    AS n_phones,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$email', '<EMAIL>', 'g'), '$url', '<URL>', 'g'),
       |    '$phone', '<PHONE>', 'g')) AS scrub_md5
       |FROM p""".stripMargin
  }

  private val sqlCms = {
    val laneBucket = (0 until CmsLanes).map(l =>
      s"WHEN $l THEN ${Hashing.sqlLane("h31", l)} % $CmsW").mkString(" ")
    val probeValues = (for { w <- CmsProbes; l <- 0 until CmsLanes }
      yield s"('$w', $l, ${jvmCmsBucket(w, l)})").mkString(",\n    ")
    val probeIn = CmsProbes.map(w => s"'$w'").mkString(", ")
    s"""WITH tc AS (SELECT tok, count(*) AS cnt
       |  FROM (SELECT unnest(${sqlTokens("text")}) AS tok
       |        FROM documents) t GROUP BY tok),
       |h AS (SELECT tok, cnt,
       |    (${sqlHash60("tok")} & ${Hashing.Mask31}) AS h31 FROM tc),
       |lanes AS (SELECT cnt, l AS lane, CASE l $laneBucket END AS bucket
       |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS l) ls),
       |sketch AS (SELECT lane, bucket, CAST(sum(cnt) AS BIGINT) AS c
       |  FROM lanes GROUP BY lane, bucket),
       |probes(word, lane, bucket) AS (VALUES
       |    $probeValues),
       |est AS (SELECT word, min(c) AS cms_est
       |  FROM probes JOIN sketch USING (lane, bucket) GROUP BY word),
       |exact AS (SELECT tok AS word, cnt AS exact_count
       |  FROM tc WHERE tok IN ($probeIn))
       |SELECT word, exact_count, cms_est, cms_est AS cms_agg_est
       |FROM exact JOIN est USING (word)""".stripMargin
  }

  private val sqlIncr =
    s"""WITH batch AS (
       |  SELECT doc_id + $ReingestOffset AS doc_id, text
       |  FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + $RevisionOffset AS doc_id, text || ' revised v2'
       |  FROM documents WHERE doc_id % 3 = 1)
       |SELECT b.doc_id, md5(b.text) AS text_md5
       |FROM batch b
       |WHERE NOT EXISTS (SELECT 1 FROM documents h
       |                  WHERE md5(h.text) = md5(b.text))""".stripMargin

  private val sqlBuckets = {
    val n = s"len(${sqlTokens("text")})"
    s"""WITH b AS (SELECT
       |    CASE WHEN $n <= 16 THEN 16 WHEN $n <= 32 THEN 32
       |         WHEN $n <= 64 THEN 64 ELSE 128 END AS bucket,
       |    $n AS n_toks
       |  FROM documents)
       |SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS n_docs,
       |  sum(n_toks)::BIGINT AS sum_toks,
       |  round(1.0 - CAST(sum(n_toks) AS DOUBLE)
       |    / (count(*) * bucket), 6) AS pad_waste_frac
       |FROM b GROUP BY bucket""".stripMargin
  }

  private val sqlPack =
    s"""WITH d AS (SELECT doc_id, source,
       |    CAST(len(${sqlTokens("text")}) AS INTEGER) AS n_toks
       |  FROM documents),
       |o AS (SELECT *, sum(n_toks) OVER
       |    (PARTITION BY source ORDER BY doc_id
       |     ROWS UNBOUNDED PRECEDING) AS end_off
       |  FROM d)
       |SELECT doc_id, source, n_toks,
       |  CAST(end_off - n_toks AS BIGINT) AS start_off,
       |  CAST(end_off AS BIGINT) AS end_off,
       |  CAST(floor((end_off - n_toks) / $PackLen.0) AS BIGINT)
       |    AS first_bin,
       |  CAST(floor((end_off - 1) / $PackLen.0) AS BIGINT) AS last_bin,
       |  floor((end_off - n_toks) / $PackLen.0)
       |    < floor((end_off - 1) / $PackLen.0) AS spans_cut
       |FROM o""".stripMargin

  private val sqlTopN = {
    val h = sqlHash60("'topn|' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, source, CAST(rk AS INTEGER) AS rk FROM (
       |  SELECT doc_id, source, row_number() OVER
       |    (PARTITION BY source ORDER BY $h, doc_id) AS rk
       |  FROM documents) t
       |WHERE rk <= $PerStratum""".stripMargin
  }

  private val sqlMixture = {
    val weightRows = MixWeights
      .map { case (s, w) => s"('$s', $w)" }.mkString(",\n    ")
    s"""WITH w0(source, weight) AS (VALUES
       |    $weightRows),
       |w AS (SELECT source, CAST(weight AS DOUBLE) AS weight FROM w0),
       |ps AS (SELECT source,
       |    CAST(sum(len(${sqlTokens("text")})) AS BIGINT) AS avail_tokens
       |  FROM documents GROUP BY source)
       |SELECT ps.source, ps.avail_tokens, w.weight,
       |  round(least(1.0, (w.weight * $MixTargetTokens) / ps.avail_tokens),
       |    6) AS rate,
       |  round(round(least(1.0,
       |      (w.weight * $MixTargetTokens) / ps.avail_tokens), 6)
       |    * ps.avail_tokens, 2) AS expected_tokens,
       |  (w.weight * $MixTargetTokens) / ps.avail_tokens > 1.0
       |    AS underrepresented
       |FROM ps JOIN w USING (source)""".stripMargin
  }

  private val sqlSurprise =
    s"""WITH toks AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS tok
       |  FROM documents),
       |counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
       |tot AS (SELECT count(*) AS total FROM toks),
       |scored AS (SELECT tok,
       |    CAST(round(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
       |      * 1000000.0) AS BIGINT) AS nlp_u
       |  FROM counts CROSS JOIN tot)
       |SELECT t.doc_id, count(*)::BIGINT AS n_toks,
       |  round(sum(s.nlp_u) / 1000000.0 / count(*), 6) AS mean_surprise
       |FROM toks t JOIN scored s USING (tok)
       |GROUP BY t.doc_id""".stripMargin

  private val sqlWeighted = {
    val swList = SampleStopwords.map(w => s"'$w'").mkString(", ")
    val h = sqlHash60("'qw|' || CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks
       |  FROM documents),
       |r AS (SELECT doc_id,
       |    CAST(round(CAST(len(list_filter(toks, w -> w IN ($swList)))
       |        AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1000000.0)
       |      AS BIGINT) AS rate_micro
       |  FROM t WHERE len(toks) > 0)
       |SELECT doc_id, rate_micro FROM r
       |WHERE $h % 1000000 < rate_micro""".stripMargin
  }

  private val sqlVerdict = {
    val swList = SampleStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH sur AS ($sqlSurprise),
       |st AS (SELECT doc_id,
       |    round(CAST(len(list_filter(toks, w -> w IN ($swList)))
       |        AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS stop_frac
       |  FROM (SELECT doc_id, ${sqlTokens("text")} AS toks
       |        FROM documents) t),
       |j AS (SELECT sur.doc_id, sur.n_toks, sur.mean_surprise,
       |    st.stop_frac,
       |    sur.n_toks < $VerdictMinToks AS too_short,
       |    sur.mean_surprise > $VerdictMaxSurprise AS off_distribution,
       |    st.stop_frac < $VerdictMinStopFrac AS low_stopword
       |  FROM sur JOIN st USING (doc_id))
       |SELECT doc_id, n_toks, mean_surprise, stop_frac, too_short,
       |  off_distribution, low_stopword,
       |  NOT too_short AND NOT off_distribution AND NOT low_stopword
       |    AS keep
       |FROM j""".stripMargin
  }

  private val sqlBoiler = {
    val tk = sqlTokens("text")
    val h = sqlHash60("block_text")
    s"""WITH t AS (SELECT doc_id, $tk AS tk FROM documents),
       |b AS (
       |  SELECT doc_id, CAST(i AS INT) AS block_idx,
       |    array_to_string(tk[(i*$BlockLen+1):(i*$BlockLen+$BlockLen)],
       |      ' ') AS block_text
       |  FROM t, UNNEST(range(CAST(floor(len(tk)/$BlockLen.0) AS BIGINT)))
       |    AS u(i)
       |  WHERE len(tk) >= $BlockLen),
       |hb AS (SELECT doc_id, block_idx, block_text, $h AS h FROM b),
       |boiler AS (SELECT h FROM hb GROUP BY h
       |           HAVING count(DISTINCT doc_id) >= $BoilerMinDocs),
       |j AS (SELECT hb.*, (bo.h IS NOT NULL) AS boil
       |      FROM hb LEFT JOIN boiler bo ON hb.h = bo.h)
       |SELECT doc_id, count(*) AS n_blocks,
       |  count(*) FILTER (WHERE boil) AS n_dropped,
       |  coalesce(string_agg(block_text, ' ' ORDER BY block_idx)
       |             FILTER (WHERE NOT boil), '') AS kept_text
       |FROM j GROUP BY doc_id""".stripMargin
  }

  private val sqlDupSpans = {
    val tk = sqlTokens("text")
    val h = sqlHash60("gram_text")
    val k = SpanGram
    s"""WITH t AS (SELECT doc_id, $tk AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos,
       |    array_to_string(toks[i:(i + ${k - 1})], ' ') AS gram_text
       |  FROM t, UNNEST(range(1, len(toks) - ${k - 2})) AS u(i)
       |  WHERE len(toks) >= $k),
       |hg AS (SELECT doc_id, pos, $h AS h FROM g),
       |dup AS (SELECT h FROM hg GROUP BY h
       |        HAVING count(DISTINCT doc_id) >= 2),
       |p AS (SELECT doc_id, pos FROM hg JOIN dup USING (h)),
       |br AS (SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER w IS NULL
       |           OR pos - lag(pos) OVER w > $k THEN 1 ELSE 0 END AS brk
       |  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |isl AS (SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |                   ROWS UNBOUNDED PRECEDING) AS island
       |  FROM br),
       |sp AS (SELECT doc_id, island, min(pos) AS s,
       |    max(pos) + ${k - 1} AS e, count(*) AS ng
       |  FROM isl GROUP BY doc_id, island),
       |agg AS (SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_spans,
       |    CAST(sum(ng) AS BIGINT) AS n_dup_grams,
       |    CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
       |    CAST(max(e - s + 1) AS BIGINT) AS max_span_len
       |  FROM sp GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(toks) AS INTEGER) AS n_toks,
       |  coalesce(a.n_dup_grams, CAST(0 AS BIGINT)) AS n_dup_grams,
       |  coalesce(a.n_spans, CAST(0 AS BIGINT)) AS n_spans,
       |  coalesce(a.dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens,
       |  coalesce(a.max_span_len, CAST(0 AS BIGINT)) AS max_span_len,
       |  round(CAST(coalesce(a.dup_tokens, 0) AS DOUBLE)
       |    / greatest(len(toks), 1), 6) AS dup_frac
       |FROM t LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  private val sqlPmi =
    s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks
       |  FROM documents),
       |pairs AS (SELECT pr['w1'] AS w1, pr['w2'] AS w2 FROM
       |  (SELECT unnest(list_transform(range(1, len(toks)::BIGINT),
       |     i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS pr FROM t)),
       |uni AS (SELECT tok, count(*) AS c
       |  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
       |tot AS (SELECT sum(c)::BIGINT AS T FROM uni),
       |bi AS (SELECT w1, w2, count(*) AS c FROM pairs
       |  GROUP BY w1, w2 HAVING count(*) >= 5),
       |btot AS (SELECT count(*) AS B FROM pairs)
       |SELECT w1, w2, bi.c AS pair_cnt,
       |  CAST(round(ln(CAST(bi.c * T * T AS DOUBLE)
       |      / CAST(B * u1.c * u2.c AS DOUBLE)) * 1000000.0) AS BIGINT)
       |    AS pmi_micro
       |FROM bi JOIN uni u1 ON bi.w1 = u1.tok
       |JOIN uni u2 ON bi.w2 = u2.tok
       |CROSS JOIN tot CROSS JOIN btot
       |ORDER BY pmi_micro DESC, w1, w2 LIMIT 20""".stripMargin

  private val sqlHeaps = {
    val tk = sqlTokens("text")
    s"""WITH toks AS (SELECT doc_id, unnest($tk) AS tok FROM documents),
       |fd AS (SELECT tok, min(doc_id) AS fd FROM toks GROUP BY tok),
       |pd AS (SELECT doc_id, count(*)::BIGINT AS n FROM toks
       |  GROUP BY doc_id),
       |cps(checkpoint) AS (VALUES (50), (100), (200), (300), (400),
       |  (499)),
       |vocab AS (SELECT checkpoint, count(*)::BIGINT AS vocab_size
       |  FROM cps JOIN fd ON fd.fd <= cps.checkpoint
       |  GROUP BY checkpoint),
       |tk2 AS (SELECT checkpoint, sum(n)::BIGINT AS n_tokens
       |  FROM cps JOIN pd ON pd.doc_id <= cps.checkpoint
       |  GROUP BY checkpoint)
       |SELECT CAST(tk2.checkpoint AS BIGINT) AS checkpoint, n_tokens,
       |  vocab_size
       |FROM tk2 JOIN vocab USING (checkpoint)""".stripMargin
  }

  private val sqlZipf = {
    val tk = sqlTokens("text")
    s"""WITH ranked AS (SELECT
       |    CAST(round(ln(CAST(rank AS DOUBLE)) * 1000.0) AS BIGINT)
       |      AS x,
       |    CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000.0) AS BIGINT)
       |      AS y
       |  FROM (SELECT cnt, row_number() OVER
       |      (ORDER BY cnt DESC, tok ASC) AS rank
       |    FROM (SELECT tok, count(*)::BIGINT AS cnt FROM
       |      (SELECT unnest($tk) AS tok FROM documents) u
       |      GROUP BY tok) c) r
       |  WHERE rank <= 500),
       |s AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
       |    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
       |    sum(x * x)::BIGINT AS sxx
       |  FROM ranked)
       |SELECT n,
       |  CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
       |    / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0) AS BIGINT)
       |    AS slope_micro,
       |  CAST(round(CAST(sy * sxx - sx * sxy AS DOUBLE)
       |    / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
       |    AS intercept_u
       |FROM s""".stripMargin
  }

  private val sqlNeyman = {
    val h = sqlHash60("'neyman|' || CAST(doc_id AS VARCHAR)")
    s"""WITH stats AS (SELECT source, count(*)::BIGINT AS n,
       |    sum(n_chars)::BIGINT AS sx,
       |    sum(n_chars * n_chars)::BIGINT AS sq
       |  FROM documents GROUP BY source),
       |sig AS (SELECT source, n,
       |    CAST(round(sqrt(CAST(n * sq - sx * sx AS DOUBLE))
       |      / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT) AS sigma_micro
       |  FROM stats),
       |tot AS (SELECT sum(n * sigma_micro)::BIGINT AS ts FROM sig),
       |alloc AS (SELECT source, sigma_micro,
       |    (100 * n * sigma_micro) // ts AS alloc
       |  FROM sig CROSS JOIN tot),
       |rk AS (SELECT doc_id, source, row_number() OVER
       |    (PARTITION BY source ORDER BY $h ASC, doc_id ASC) AS rk
       |  FROM documents)
       |SELECT doc_id, rk.source, alloc, sigma_micro
       |FROM rk JOIN alloc USING (source)
       |WHERE rk <= alloc""".stripMargin
  }

  private val sqlNovelty = {
    val sh = sqlShingles("text", ShingleN)
    val off = TrainingData.TwinOffset
    val suf = TrainingData.TwinSuffix
    s"""WITH hist AS (SELECT DISTINCT ${sqlHash60("g")} AS gh
       |  FROM (SELECT unnest($sh) AS g FROM documents)),
       |bt AS (SELECT doc_id + $off AS doc_id, text || '$suf' AS text
       |  FROM documents WHERE doc_id % 2 = 0),
       |bh AS (SELECT doc_id, ${sqlHash60("g")} AS gh
       |  FROM (SELECT doc_id, unnest($sh) AS g FROM bt))
       |SELECT bh.doc_id, count(*)::BIGINT AS n_grams,
       |  (1000000 * (count(*) - count(hist.gh))) // count(*)
       |    AS novelty_micro
       |FROM bh LEFT JOIN hist ON bh.gh = hist.gh
       |GROUP BY bh.doc_id""".stripMargin
  }

  private val sqlBigramSurprise =
    s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks
       |  FROM documents),
       |pairs AS (SELECT doc_id, pr['w1'] AS w1, pr['w2'] AS w2 FROM
       |  (SELECT doc_id, unnest(list_transform(range(1, len(toks)::BIGINT),
       |     i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS pr FROM t)),
       |bi AS (SELECT w1, w2, count(*) AS c FROM pairs GROUP BY w1, w2),
       |lft AS (SELECT w1, sum(c)::BIGINT AS c1 FROM bi GROUP BY w1),
       |scored AS (SELECT bi.w1, bi.w2,
       |    CAST(round(-ln(CAST(bi.c AS DOUBLE) / CAST(c1 AS DOUBLE))
       |      * 1000000.0) AS BIGINT) AS nlp_u
       |  FROM bi JOIN lft USING (w1))
       |SELECT p.doc_id, count(*)::BIGINT AS n_pairs,
       |  round(sum(s.nlp_u) / 1000000.0 / count(*), 6) AS mean_surprise
       |FROM pairs p JOIN scored s USING (w1, w2)
       |GROUP BY p.doc_id""".stripMargin

  /** q98/q113 oracle: the full 8-round BPE training unrolled as chained
    * CTEs. The greedy left-to-right merge apply — previously declared
    * SQL-inexpressible because RE2 lacks the lookahead the Spark regex
    * uses — is expressed lookahead-free with the island/alternation
    * identity: a merge site is s[i]=a ∧ s[i+1]=b; two sites can only be
    * adjacent when a=b, and the greedy scan takes every other site
    * within each maximal run of consecutive sites (offsets 0,2,4…),
    * which one window over (word, run-island) states exactly. A kept
    * site emits a||b and consumes position i+1 (the lag(keep) filter).
    * CTEs are MATERIALIZED so each round evaluates once (chained
    * inlining would re-run earlier rounds exponentially). Assumes every
    * round finds a pair (holds whenever some word still has ≥2 symbols;
    * CurationSpec asserts 8 full rounds on this corpus). */
  private[queries] def sqlBpeRounds(rounds: Int): String = {
    val toks = sqlTokens("text")
    val base =
      s"""w AS MATERIALIZED (SELECT word, count(*)::BIGINT AS n
         |  FROM (SELECT unnest($toks) AS word FROM documents)
         |  GROUP BY word),
         |s0 AS MATERIALIZED (SELECT word, n,
         |    array_to_string(list_transform(range(1, length(word) + 1),
         |      i -> substr(word, CAST(i AS INT), 1)), ' ') AS sym
         |  FROM w)""".stripMargin
    val stages = (0 until rounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT split_part(pair, ' ', 1) AS a,
         |         split_part(pair, ' ', 2) AS b
         |  FROM (SELECT list_extract(t.s, u.i) || ' ' ||
         |          list_extract(t.s, u.i + 1) AS pair,
         |        sum(t.n) AS wgt
         |      FROM (SELECT n, string_split(sym, ' ') AS s FROM s$r) t,
         |        unnest(range(1, len(t.s))) u(i)
         |      GROUP BY 1)
         |  ORDER BY wgt DESC, pair ASC LIMIT 1),
         |x$r AS MATERIALIZED (
         |  SELECT t.word, t.n, u.i, list_extract(t.s, u.i) AS tok,
         |    CASE WHEN list_extract(t.s, u.i) = (SELECT a FROM p$r)
         |          AND list_extract(t.s, u.i + 1) = (SELECT b FROM p$r)
         |      THEN 1 ELSE 0 END AS cand
         |  FROM (SELECT word, n, string_split(sym, ' ') AS s FROM s$r) t,
         |    unnest(range(1, len(t.s) + 1)) u(i)),
         |k$r AS (
         |  SELECT word, n, i, tok, CASE WHEN cand = 1
         |      AND (i - min(i) OVER (PARTITION BY word, cand, isl)) % 2 = 0
         |    THEN 1 ELSE 0 END AS keep
         |  FROM (SELECT *, i - row_number()
         |      OVER (PARTITION BY word, cand ORDER BY i) AS isl
         |    FROM x$r)),
         |s${r + 1} AS MATERIALIZED (
         |  SELECT word, n, string_agg(ot, ' ' ORDER BY i) AS sym
         |  FROM (SELECT word, n, i,
         |      CASE WHEN keep = 1 THEN (SELECT a || b FROM p$r)
         |        ELSE tok END AS ot,
         |      lag(keep, 1, 0) OVER (PARTITION BY word ORDER BY i) AS pk
         |    FROM k$r)
         |  WHERE pk = 0
         |  GROUP BY word, n)""".stripMargin
    }
    (base +: stages).mkString(",\n")
  }

  private val sqlBpeTrain = {
    val rounds = 8
    val merges = (0 until rounds).map { r =>
      s"""SELECT $r AS round, a AS "left", b AS "right",
         |  a || b AS merged FROM p$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH ${sqlBpeRounds(rounds)}\n$merges"
  }

  private val sqlBpeEncode = {
    val toks = sqlTokens("text")
    s"""WITH ${sqlBpeRounds(8)},
       |pieces AS (SELECT word,
       |    len(string_split(sym, ' '))::BIGINT AS pieces FROM s8),
       |corpus AS (SELECT doc_id, unnest($toks) AS word FROM documents)
       |SELECT c.doc_id, count(*)::BIGINT AS n_words,
       |  sum(p.pieces)::BIGINT AS n_pieces,
       |  ((1000000 * sum(p.pieces)::BIGINT) // count(*))::BIGINT
       |    AS fertility_micro
       |FROM corpus c JOIN pieces p USING (word)
       |GROUP BY c.doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q220_rendezvous_shards" -> {
      // DuckDB greatest() has no struct overload — encode (h, shard)
      // as a fixed-width string: 19 digits cover the 60-bit hash, the
      // trailing shard digit reproduces Spark's lexicographic
      // struct tie-break exactly
      val keys = (0 until 8).map { i =>
        val h = Hashing.sqlHash60(s"'rv|$i|' || CAST(doc_id AS VARCHAR)")
        s"printf('%019d', $h) || '$i'"
      }.mkString(",\n      ")
      s"""SELECT shard, count(*)::BIGINT AS n_docs,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM (SELECT doc_id, CAST(right(greatest(
         |      $keys), 1) AS INTEGER) AS shard
         |  FROM documents) t
         |GROUP BY shard""".stripMargin
    },
    "q454_ring_rebalance" -> sqlRingRebalance,
    "q221_source_vocab_overlap" ->
      s"""WITH sw AS (SELECT DISTINCT source,
         |    unnest(${sqlTokens("text")}) AS w FROM documents),
         |sizes AS (SELECT source, count(*)::BIGINT AS v FROM sw
         |  GROUP BY source),
         |inter AS (SELECT a.source AS s1, b.source AS s2,
         |    count(*)::BIGINT AS inter
         |  FROM sw a JOIN sw b ON a.w = b.w AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT s1, s2, x.v AS v1, y.v AS v2, inter,
         |  1000000 * inter // (x.v + y.v - inter) AS jaccard_micro
         |FROM inter JOIN sizes x ON x.source = s1
         |JOIN sizes y ON y.source = s2""".stripMargin,
    "q218_textrank_keywords" -> {
      // identical fixed-point arithmetic to functions.PageRank,
      // unrolled; `//` = Spark `div` on the all-positive ranks
      val S = 1000000000000L
      s"""WITH t AS (SELECT ${sqlTokens("text")} AS toks
         |    FROM documents),
         |bgi AS (SELECT toks, unnest(range(1, len(toks))) AS i
         |  FROM t),
         |e0 AS (SELECT DISTINCT toks[i] AS src, toks[i + 1] AS dst
         |  FROM bgi WHERE toks[i] <> toks[i + 1]),
         |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS id FROM e),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT id, $S // (SELECT n FROM nn) AS rank
         |  FROM nodes),
         |c1 AS (SELECT e.dst AS id, sum(r0.rank // deg.outdeg) AS s
         |       FROM e JOIN deg ON e.src = deg.src
         |       JOIN r0 ON e.src = r0.id GROUP BY e.dst),
         |r1 AS (SELECT nodes.id,
         |    (15 * $S // 100) // (SELECT n FROM nn)
         |      + (85 * coalesce(c1.s, 0)) // 100 AS rank
         |    FROM nodes LEFT JOIN c1 USING (id)),
         |c2 AS (SELECT e.dst AS id, sum(r1.rank // deg.outdeg) AS s
         |       FROM e JOIN deg ON e.src = deg.src
         |       JOIN r1 ON e.src = r1.id GROUP BY e.dst),
         |r2 AS (SELECT nodes.id,
         |    (15 * $S // 100) // (SELECT n FROM nn)
         |      + (85 * coalesce(c2.s, 0)) // 100 AS rank
         |    FROM nodes LEFT JOIN c2 USING (id))
         |SELECT id AS word, CAST(rank AS BIGINT) AS rank FROM r2
         |ORDER BY rank DESC, word ASC LIMIT 20""".stripMargin
    },
    "q214_good_turing" ->
      s"""WITH t AS (SELECT ${sqlTokens("text")} AS toks
         |    FROM documents),
         |words AS (SELECT unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i + 1])) AS tok FROM t),
         |wc AS (SELECT tok, count(*)::BIGINT AS r FROM words
         |  GROUP BY tok),
         |nr AS (SELECT r, count(*)::BIGINT AS n_r FROM wc GROUP BY r),
         |tot AS (SELECT sum(r)::BIGINT AS n_tokens,
         |    sum(CASE WHEN r = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
         |  FROM wc)
         |SELECT a.r, a.n_r,
         |  (a.r + 1) * 1000000 * coalesce(b.n_r, 0) // a.n_r
         |    AS r_star_micro,
         |  1000000 * n1 // n_tokens AS p0_micro
         |FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
         |CROSS JOIN tot WHERE a.r <= 10""".stripMargin,
    "q188_target_encode" ->
      """WITH o AS (SELECT o_orderkey, c_mktsegment AS segment,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |seg AS (SELECT segment, sum(y)::HUGEINT AS s,
        |    count(*)::BIGINT AS n
        |  FROM o GROUP BY segment),
        |gtot AS (SELECT sum(y)::HUGEINT AS gs, count(*)::BIGINT AS gn
        |  FROM o)
        |SELECT o_orderkey, segment, n AS n_cat,
        |  CASE WHEN n > 1
        |    THEN CAST(1000000::HUGEINT * (s - y)
        |      // (n - 1)::HUGEINT AS BIGINT)
        |    ELSE CAST(1000000::HUGEINT * gs // gn::HUGEINT AS BIGINT)
        |  END AS loo_micro
        |FROM o JOIN seg USING (segment) CROSS JOIN gtot""".stripMargin,
    "q190_mutual_info" ->
      """WITH cell AS (SELECT source, lang, count(*)::BIGINT AS c_sl
        |  FROM documents GROUP BY source, lang),
        |ms AS (SELECT source, count(*)::BIGINT AS c_s
        |  FROM documents GROUP BY source),
        |ml AS (SELECT lang, count(*)::BIGINT AS c_l
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT count(*)::BIGINT AS n FROM documents),
        |p AS (SELECT source, lang, c_sl, c_s, c_l, n,
        |    CAST(round(ln(CAST(c_sl::HUGEINT * n AS DOUBLE)
        |      / CAST(c_s::HUGEINT * c_l AS DOUBLE)) * 1000000.0)
        |      AS BIGINT) AS pmi_micro
        |  FROM cell JOIN ms USING (source) JOIN ml USING (lang)
        |  CROSS JOIN tot)
        |SELECT source, lang, c_sl, c_s, c_l, n, pmi_micro,
        |  CAST(c_sl::HUGEINT * pmi_micro // n::HUGEINT AS BIGINT)
        |    AS mi_contrib_micro
        |FROM p""".stripMargin,
    "q194_chi_squared" ->
      """WITH cell AS (SELECT source, lang, count(*)::BIGINT AS o
        |  FROM documents GROUP BY source, lang),
        |ms AS (SELECT source, count(*)::BIGINT AS r
        |  FROM documents GROUP BY source),
        |ml AS (SELECT lang, count(*)::BIGINT AS c
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT count(*)::BIGINT AS n FROM documents),
        |grid AS (SELECT ms.source, ml.lang, r, c, n,
        |    coalesce(o, 0)::BIGINT AS o
        |  FROM ms CROSS JOIN ml CROSS JOIN tot
        |  LEFT JOIN cell ON cell.source = ms.source
        |    AND cell.lang = ml.lang),
        |d AS (SELECT source, lang, o, r, c, n,
        |    CAST(o::HUGEINT * n - r::HUGEINT * c AS DOUBLE) AS diff
        |  FROM grid)
        |SELECT source, lang, o, r, c, n,
        |  CAST(1000000::HUGEINT * r * c // n::HUGEINT AS BIGINT)
        |    AS e_micro,
        |  CAST(round(diff * diff
        |    / CAST(n::HUGEINT * r * c AS DOUBLE) * 1000000.0)
        |    AS BIGINT) AS chi2_contrib_micro
        |FROM d""".stripMargin,
    "q210_cramers_v" ->
      """WITH cell AS (SELECT source, lang, count(*)::BIGINT AS o
        |  FROM documents GROUP BY source, lang),
        |ms AS (SELECT source, count(*)::BIGINT AS r
        |  FROM documents GROUP BY source),
        |ml AS (SELECT lang, count(*)::BIGINT AS c
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT count(*)::BIGINT AS n FROM documents),
        |grid AS (SELECT ms.source, ml.lang, r, c, n,
        |    coalesce(o, 0)::BIGINT AS o
        |  FROM ms CROSS JOIN ml CROSS JOIN tot
        |  LEFT JOIN cell ON cell.source = ms.source
        |    AND cell.lang = ml.lang),
        |d AS (SELECT source, lang, o, r, c, n,
        |    CAST(o::HUGEINT * n - r::HUGEINT * c AS DOUBLE) AS diff
        |  FROM grid),
        |g AS (SELECT source, lang, n,
        |    CAST(round(diff * diff
        |      / CAST(n::HUGEINT * r * c AS DOUBLE) * 1000000.0)
        |      AS BIGINT) AS contrib
        |  FROM d)
        |SELECT max(n)::BIGINT AS n,
        |  count(DISTINCT source)::BIGINT AS n_src,
        |  count(DISTINCT lang)::BIGINT AS n_lang,
        |  sum(contrib)::BIGINT AS chi2_micro,
        |  CAST(round(sqrt(sum(contrib)::DOUBLE / 1000000.0
        |    / (max(n)::DOUBLE
        |      * least(count(DISTINCT source) - 1,
        |          count(DISTINCT lang) - 1)::DOUBLE))
        |    * 1000000.0) AS BIGINT) AS v_micro
        |FROM g""".stripMargin,
    "q200_js_divergence" -> {
      val tk = sqlTokens("text")
      s"""WITH ws0 AS (SELECT source, unnest($tk) AS w FROM documents),
         |ws AS (SELECT source, w, count(*)::BIGINT AS c
         |  FROM ws0 GROUP BY 1, 2),
         |ts AS (SELECT source, sum(c)::BIGINT AS t FROM ws GROUP BY 1),
         |wst AS (SELECT ws.source, w, c, t FROM ws JOIN ts
         |  USING (source)),
         |sh AS (SELECT a.w, a.source AS s1, b.source AS s2,
         |    a.c AS c1, a.t AS t1, b.c AS c2, b.t AS t2,
         |    a.c::HUGEINT * b.t + b.c::HUGEINT * a.t AS den
         |  FROM wst a JOIN wst b ON a.w = b.w AND a.source < b.source),
         |l AS (SELECT s1, s2, t1, t2, c1, c2,
         |    CAST(round(ln(CAST(2::HUGEINT * c1 * t2 AS DOUBLE)
         |      / CAST(den AS DOUBLE)) * 1000000.0) AS BIGINT) AS lnr1,
         |    CAST(round(ln(CAST(2::HUGEINT * c2 * t1 AS DOUBLE)
         |      / CAST(den AS DOUBLE)) * 1000000.0) AS BIGINT) AS lnr2
         |  FROM sh),
         |g AS (SELECT s1, s2, t1, t2,
         |    sum(c1::HUGEINT * lnr1 // (2::HUGEINT * t1))::BIGINT
         |      AS sj1,
         |    sum(c2::HUGEINT * lnr2 // (2::HUGEINT * t2))::BIGINT
         |      AS sj2,
         |    sum(c1)::BIGINT AS sh1, sum(c2)::BIGINT AS sh2
         |  FROM l GROUP BY 1, 2, 3, 4)
         |SELECT s1, s2,
         |  CAST(sj1 + sj2
         |    + (t1 - sh1)::HUGEINT * 693147 // (2::HUGEINT * t1)
         |    + (t2 - sh2)::HUGEINT * 693147 // (2::HUGEINT * t2)
         |    AS BIGINT) AS js_micro
         |FROM g""".stripMargin
    },
    "q108_pmi_collocations" -> sqlPmi,
    "q121_bigram_surprise" -> sqlBigramSurprise,
    "q135_ngram_novelty" -> sqlNovelty,
    "q140_neyman_sample" -> sqlNeyman,
    "q160_zipf_exponent" -> sqlZipf,
    "q162_heaps_growth" -> sqlHeaps,
    "q58_decontaminate" -> sqlDecon,
    "q77_unigram_surprise" -> sqlSurprise,
    "q80_weighted_sample" -> sqlWeighted,
    "q86_curation_verdict" -> sqlVerdict,
    "q463_filter_ablation" -> sqlFilterAblation,
    "q59_chunk" -> sqlChunk,
    "q60_pii_scrub" -> sqlPii,
    "q61_cms_heavy_hitters" -> sqlCms,
    "q62_incremental_dedup" -> sqlIncr,
    "q63_length_buckets" -> sqlBuckets,
    "q64_pack_offsets" -> sqlPack,
    "q69_sample_topn_stratum" -> sqlTopN,
    "q70_mixture_plan" -> sqlMixture,
    "q88_boilerplate_scrub" -> sqlBoiler,
    "q102_dup_spans" -> sqlDupSpans,
    "q97_bpe_pair_stats" -> {
      val tk = sqlTokens("text")
      s"""WITH words AS (
         |  SELECT word, count(*) AS n
         |  FROM (SELECT unnest($tk) AS word FROM documents) t
         |  GROUP BY word HAVING length(word) >= 2),
         |pairs AS (
         |  SELECT substring(word, CAST(i AS INT), 2) AS pair, n
         |  FROM words, UNNEST(range(1, length(word))) AS u(i))
         |SELECT pair, CAST(sum(n) AS BIGINT) AS weight
         |FROM pairs GROUP BY pair
         |ORDER BY weight DESC, pair ASC
         |LIMIT 30""".stripMargin
    },
    "q98_bpe_train" -> sqlBpeTrain,
    "q113_bpe_encode" -> sqlBpeEncode,
    "q464_unigram_lm" -> sqlUnigramLm,
    "q178_dataset_card" -> {
      val toks = sqlTokens("text")
      val h = Hashing.sqlHash60("text")
      s"""WITH d AS (SELECT source, lang,
         |    len($toks)::BIGINT AS n_toks, $h AS h
         |  FROM documents),
         |base AS (SELECT source, count(*)::BIGINT AS n_docs,
         |    count(DISTINCT h)::BIGINT AS n_unique,
         |    sum(n_toks)::BIGINT AS total_tokens
         |  FROM d GROUP BY source),
         |lc AS (SELECT source, lang, count(*)::BIGINT AS c
         |  FROM d GROUP BY source, lang),
         |ln_ AS (SELECT source, lang, c,
         |    sum(c) OVER (PARTITION BY source) AS n FROM lc),
         |ent AS (SELECT source,
         |    sum(CAST(round(-1000000.0 * (c::DOUBLE / n::DOUBLE)
         |      * ln(c::DOUBLE / n::DOUBLE)) AS BIGINT))::BIGINT
         |      AS lang_entropy_micro
         |  FROM ln_ GROUP BY source)
         |SELECT source, n_docs, n_unique,
         |  ((1000000 * n_unique) // n_docs)::BIGINT AS uniq_micro,
         |  total_tokens,
         |  ((1000000 * total_tokens::HUGEINT) // n_docs)::BIGINT
         |    AS mean_tokens_micro,
         |  lang_entropy_micro
         |FROM base JOIN ent USING (source)""".stripMargin
    },
    "q168_temperature_mixture" -> {
      val toks = sqlTokens("text")
      s"""WITH per AS (SELECT source,
         |    sum(len($toks))::BIGINT AS avail_tokens
         |  FROM documents GROUP BY source),
         |t AS (SELECT sum(avail_tokens)::BIGINT AS T FROM per),
         |sq AS (SELECT source, avail_tokens,
         |    CAST(round(sqrt(avail_tokens) * 1000000.0) AS BIGINT)
         |      AS sqrt_micro
         |  FROM per),
         |st AS (SELECT sum(sqrt_micro)::BIGINT AS S FROM sq)
         |SELECT source, avail_tokens, sqrt_micro,
         |  ((1000000 * avail_tokens::HUGEINT) // T)::BIGINT AS nat_micro,
         |  ((1000000 * sqrt_micro::HUGEINT) // S)::BIGINT AS mix_micro,
         |  ((1000 * ((1000000 * sqrt_micro::HUGEINT) // S))
         |    // greatest(((1000000 * avail_tokens::HUGEINT) // T), 1))
         |    ::BIGINT AS boost_milli
         |FROM sq CROSS JOIN t CROSS JOIN st""".stripMargin
    },
    "q169_snapshot_diff" -> {
      val h1 = Hashing.sqlHash60("text")
      val h2 = Hashing.sqlHash60(
        "CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]' ELSE text END")
      s"""WITH v1 AS (SELECT doc_id, source AS src1, $h1 AS h1
         |  FROM documents WHERE doc_id % 11 <> 3),
         |v2 AS (SELECT doc_id, source AS src2, $h2 AS h2
         |  FROM documents WHERE doc_id % 13 <> 5)
         |SELECT coalesce(src1, src2) AS source,
         |  CASE WHEN h1 IS NULL THEN 'added'
         |       WHEN h2 IS NULL THEN 'removed'
         |       WHEN h1 <> h2 THEN 'changed'
         |       ELSE 'unchanged' END AS status,
         |  count(*)::BIGINT AS n_docs
         |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
         |GROUP BY 1, 2""".stripMargin
    },
    "q95_weighted_sample_topn" -> {
      val h = sqlHash60("'wsample|' || CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, w, round(es_key, 9) AS es_key FROM (
         |  SELECT doc_id, (n_chars % 97) + 1 AS w,
         |    -ln(($h + 1)::DOUBLE / 1152921504606846976.0)
         |      / ((n_chars % 97) + 1) AS es_key
         |  FROM documents) t
         |ORDER BY es_key ASC, doc_id ASC
         |LIMIT $WSampleN""".stripMargin
    },
  )
}
