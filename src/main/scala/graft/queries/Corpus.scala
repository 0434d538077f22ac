package graft.queries

import graft.Materialize.TrunkCheckpointOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Dedup, Hashing, ScaleWindows, TextOps}
import Hashing.sqlHash60
import TextOps.sqlTokens

/** Round-4 corpus-scale curation batch: the measurement-and-layout
  * operators a training-data pipeline runs AFTER the cleaning passes —
  * held-out LM scoring, dedup-recall evaluation, epoch shuffling, the
  * published Gopher quality rules, token-balanced sharding and the
  * corpus-level duplicated-n-gram rate (Lee et al. 2022).
  *
  * Exactness discipline as everywhere in this engine: every ratio is an
  * integer micro division of exact longs; the only doubles are `ln` of
  * ratios of exact longs, micro-quantized per VALUE TYPE (not per row)
  * before any aggregation, so partial-aggregation order can never move
  * a result (the q77/q121 pattern).
  */
object Corpus {

  private def tokenized(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
  }

  // ---------------------------------------------------- q227 LM scoring

  /** q227 — held-out bigram-LM cross-entropy (the CCNet/KenLM quality
    * signal, here self-contained): train an add-one-smoothed bigram LM
    * on the even-id half of the corpus, score every odd-id document by
    * its mean −ln p(w₂|w₁) in micro-nats. Unlike q121 (which scores the
    * corpus under itself and needs no smoothing), the held-out split
    * hits unseen pairs and unseen contexts — Laplace p = (c+1)/(c₁+V)
    * handles both, which is what makes the number usable as a filter
    * threshold on NEW data. Scale: the pair/context/vocab model frames
    * are vocab-bounded (Zipf-collapsed); scoring joins key on the pair,
    * so the shuffle dimension is distinct-pair count, and the per-doc
    * aggregation is the only corpus-sized exchange. The mean is an
    * exact integral division of micro-nat longs. */
  val heldoutCrossEntropy: Q = (s, dir) => heldoutScores(s, dir)

  /** (doc_id, n_pairs, mean_nll_micro) for every held-out doc — q227's
    * body, shared with q441's band filter. A session trunk
    * ([[graft.Materialize.trunk]]): in a CCNet-shaped pipeline the
    * per-doc LM score table is a persisted artifact every downstream
    * filter reads — q227 and q441 each rebuilt the whole train/score
    * chain, and q441 additionally read it twice (cell census + band
    * tagging). */
  private def heldoutScores(s: SparkSession, dir: String): DataFrame =
    graft.Materialize.trunk(s, ("Corpus", dir, "heldout_scores")) {
      heldoutScoresBuild(s, dir)
    }

  private def heldoutScoresBuild(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    def pairs(df: DataFrame) = df.select($"doc_id", explode(transform(
        when(size($"toks") >= 2, sequence(lit(1), size($"toks") - 1))
          .otherwise(array().cast("array<int>")),
        i => struct(element_at($"toks", i).as("w1"),
          element_at($"toks", i + 1).as("w2")))).as("pr"))
      .select($"doc_id", $"pr.w1".as("w1"), $"pr.w2".as("w2"))
    val tok = tokenized(s, dir)
    val train = tok.filter($"doc_id" % 2 === 0)
    val held = tok.filter($"doc_id" % 2 =!= 0)
    // bi checkpointed: it feeds the context-count rollup AND the score
    // join — lazy, the train bigram explode + pair groupBy ran twice;
    // the frame is distinct-pair (vocab²-bounded, Zipf-collapsed)
    val bi = pairs(train).groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
      .trunkCheckpoint()
    val lft = bi.groupBy($"w1").agg(sum($"c").as("c1"))
    val vocab = train.select(explode($"toks").as("w"))
      .agg(countDistinct($"w").as("v"))
    val hp = pairs(held)
    val scored = hp.select($"w1", $"w2").distinct()
      .join(bi, Seq("w1", "w2"), "left")
      .join(lft, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select($"w1", $"w2",
        round(-log((coalesce($"c", lit(0L)) + 1).cast("double") /
            (coalesce($"c1", lit(0L)) + $"v").cast("double")) * 1000000.0)
          .cast("long").as("nlp_u"))
    hp.join(scored, Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_pairs"), sum($"nlp_u").as("s_u"))
      .select($"doc_id", $"n_pairs",
        expr("s_u div n_pairs").as("mean_nll_micro"))
  }

  // ------------------------------------------------ q228 dedup eval

  /** q228 — LSH dedup recall/precision evaluation: q23's banded-MinHash
    * CANDIDATE pairs scored against the exact ground truth (3-gram
    * Jaccard ≥ 0.5) over the same twin corpus — the measurement that
    * turns "16 bands of 4 is probably enough" into a number (the ANN
    * analogue is q208). Ground truth without an all-pairs join: any
    * pair at Jaccard ≥ 0.5 shares ≥1 shingle, so candidates come from
    * the shingle inverted index, ROUTED ONLY THROUGH RARE SHINGLES
    * (df ≤ 64, q215's wedge-cap stance): Σ_g df(g)² ≤ 64·Σ_g df(g) =
    * O(gram instances), linear in the corpus. A J ≥ 0.5 pair whose
    * every shared shingle is hotter than df 64 is vanishingly rare
    * (half of each document would have to be corpus-wide boilerplate —
    * which q232/q88 remove upstream); the cap is part of the operator's
    * declared contract and the oracle applies the same cap. TP/FP/FN
    * are exact longs; precision/recall are integral micro divisions. */
  val lshDedupEval: Q = (s, dir) => {
    import s.implicits._
    // Shares the rep-level trunk with q23/q99/q182
    // ([[TrainingData.nearDupGroups]]): identical docs collapse to one
    // representative of weight gn, and every DOC-level pair quantity
    // the oracle computes is recovered by weight arithmetic — no
    // second shingle pass over the corpus, no member expansion, no
    // doc-level inverted index. Exactness argument: copies have
    // identical shingle sets, hence identical minhash signatures and
    // band buckets, so a doc pair is an LSH candidate iff its rep pair
    // is (cross-group) or the two docs share a group (within-group —
    // same buckets trivially); likewise J(doc_a,doc_b) = J(rep_a,rep_b)
    // and "shares a rare shingle" depends only on the two sets. The
    // rare-shingle df cap counts every COPY (the oracle's df is over
    // the full twin corpus), so df weights each group by gn.
    val groups = TrainingData.nearDupGroups(s, dir)
      .select($"rep_id", $"sh_set", $"gn")
    val g = groups.select($"rep_id", $"gn", explode($"sh_set").as("g"))
    // ONE shuffle builds the whole rare-shingle inverted index: per
    // gram, the weighted df (Σ gn — the oracle's doc-level count) AND
    // the member list ride the same aggregate. The list is a k=64
    // min-K buffer, NOT an unbounded collect_list: a gram eligible
    // under the df ≤ 64 cap has ≤ 64 reps (df ≥ rep count), so its
    // buffer provably retains EVERY member, while a corpus-wide
    // boilerplate gram costs a fixed 1 KB buffer instead of an
    // O(corpus) list — the property that keeps executor memory flat at
    // 100 TB. (The old form paid three shuffles: df groupBy, join
    // back, inverted self-join.)
    // min-K keyed on rep_id itself (unique per group entry, already a
    // long — no per-row hashing): retention is what matters, not
    // randomness, and eval() returns the list ascending by key, so the
    // i < j expansion below needs no re-sort
    val minkMembers = org.apache.spark.sql.graftbridge.ColumnBridge
      .column(graft.expressions.MinKSampleAgg(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          $"rep_id"),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          $"rep_id".cast("double")), 64).toAggregateExpression())
    // checkpoint: the consumers below (pair expansion, hot-gram sets,
    // has-rare flag) all read this frame — without it the corpus-wide
    // aggregate runs once per branch. Query-local, reclaimed at the
    // bench/verify query boundary by CheckpointHygiene.release.
    val perGram = g.groupBy($"g")
      .agg(sum($"gn").as("gdf"), minkMembers.as("ds"))
      .trunkCheckpoint()
    // rep pairs routed through a shared rare shingle (ground truth
    // candidates): i < j expansion over the ≤64-member list. Keeping
    // the per-gram multiplicity (count, not distinct) gives the
    // SHARED-RARE-GRAM count per pair for free — the bulk of |A∩B|.
    val pairsRare = perGram.filter($"gdf" <= 64)
      .select(explode(flatten(transform($"ds", (x, i) =>
        transform(slice($"ds", i + lit(2), size($"ds")), y =>
          struct(x.as("a"), y.as("b")))))).as("p"))
      .groupBy($"p.a".cast("long").as("doc_a"),
        $"p.b".cast("long").as("doc_b"))
      .agg(count(lit(1)).as("inter_rare"))
    // the FULL intersection adds shared HOT grams (df > 64 — corpus
    // boilerplate, a handful of distinct values): per rep, the ≤|hot|
    // hot grams it contains, broadcast onto the pairs. |A∩B| =
    // rare co-occurrences + |hot_a ∩ hot_b| — exact, and the oracle's
    // double test J ≥ 0.5 is the exact integer test 3·inter ≥ na+nb
    // (set sizes are small enough that the doubles are exact). No
    // 4.5M-row array_intersect over full shingle sets anywhere.
    val hotSets = g.join(broadcast(
        perGram.filter($"gdf" > 64).select($"g")), Seq("g"))
      .groupBy($"rep_id").agg(collect_list($"g").as("hots"))
    val sizes = groups
      .select($"rep_id", size($"sh_set").cast("long").as("nsh"))
    val truthRep = pairsRare
      .join(broadcast(sizes.select($"rep_id".as("doc_a"),
        $"nsh".as("na"))), Seq("doc_a"))
      .join(broadcast(sizes.select($"rep_id".as("doc_b"),
        $"nsh".as("nb"))), Seq("doc_b"))
      .join(broadcast(hotSets.select($"rep_id".as("doc_a"),
        $"hots".as("ha"))), Seq("doc_a"), "left")
      .join(broadcast(hotSets.select($"rep_id".as("doc_b"),
        $"hots".as("hb"))), Seq("doc_b"), "left")
      .select($"doc_a", $"doc_b", $"na", $"nb",
        ($"inter_rare" + size(array_intersect(
          coalesce($"ha", array()), coalesce($"hb", array())))
          .cast("long")).as("inter"))
      .filter(lit(3L) * $"inter" >= $"na" + $"nb")
      .select($"doc_a", $"doc_b")
    val candRep = TrainingData
      .repCandidates(TrainingData.nearDupGroups(s, dir))
      .select($"doc_a", $"doc_b")
    // cross-group doc pairs: weight gn_a·gn_b on the rep verdict
    val w = groups.select($"rep_id", $"gn")
    val cross = truthRep.withColumn("t", lit(1L))
      .join(candRep.withColumn("cd", lit(1L)), Seq("doc_a", "doc_b"),
        "full_outer")
      .join(w.select($"rep_id".as("doc_a"), $"gn".as("gna")),
        Seq("doc_a"))
      .join(w.select($"rep_id".as("doc_b"), $"gn".as("gnb")),
        Seq("doc_b"))
      .agg(
        sum(when($"t".isNotNull && $"cd".isNotNull, $"gna" * $"gnb")
          .otherwise(0L)).as("tp_x"),
        sum(when($"t".isNull && $"cd".isNotNull, $"gna" * $"gnb")
          .otherwise(0L)).as("fp_x"),
        sum(when($"t".isNotNull && $"cd".isNull, $"gna" * $"gnb")
          .otherwise(0L)).as("fn_x"))
    // within-group doc pairs: all gn·(gn−1)/2 are candidates (identical
    // signatures share every bucket) at J = 1; they are TRUTH iff the
    // group's set contains a rare shingle (share requires one), else FP
    val hasRare = perGram.filter($"gdf" <= 64)
      .select(explode($"ds").as("m"))
      .select($"m".cast("long").as("rep_id")).distinct()
      .withColumn("hr", lit(1L))
    val within = groups.filter($"gn" >= 2)
      .join(hasRare, Seq("rep_id"), "left")
      .agg(
        sum(when($"hr".isNotNull, expr("gn * (gn - 1) div 2"))
          .otherwise(0L)).as("tp_w"),
        sum(when($"hr".isNull, expr("gn * (gn - 1) div 2"))
          .otherwise(0L)).as("fp_w"))
    cross.crossJoin(within)
      .select(
        (coalesce($"tp_x", lit(0L)) + coalesce($"tp_w", lit(0L)))
          .as("tp"),
        (coalesce($"fp_x", lit(0L)) + coalesce($"fp_w", lit(0L)))
          .as("fp"),
        coalesce($"fn_x", lit(0L)).as("fn"))
      .select($"tp", $"fp", $"fn",
        expr("1000000 * tp div greatest(tp + fp, 1)")
          .as("precision_micro"),
        expr("1000000 * tp div greatest(tp + fn, 1)")
          .as("recall_micro"))
  }

  // ---------------------------------------------- q229 epoch shuffle

  /** q229 — deterministic epoch shuffle + micro-batch layout: training
    * order for an epoch is the hash order hash60("epoch0|"+doc_id) —
    * a full-corpus permutation with NO RNG state, reproducible on any
    * cluster and re-derivable per epoch by changing the salt. The
    * global position comes from [[ScaleWindows.rangeCumSum]] (range
    * exchange + partition carry — no single-partition sort at any
    * scale); batches are fixed 64-doc cuts of that order. Output is
    * the per-batch census a data-loader manifest needs: size, token
    * mass, position span. */
  val epochShuffle: Q = (s, dir) => {
    import s.implicits._
    val docs = tokenized(s, dir)
      .select($"doc_id", size($"toks").cast("long").as("n_toks"))
      .withColumn("hkey",
        Hashing.hash60(concat(lit("epoch0|"), $"doc_id".cast("string"))))
    ScaleWindows.rangeCumSum(docs,
        Seq($"hkey".asc, $"doc_id".asc), lit(1L), "pos")
      .withColumn("batch_id", expr("pos div 64"))
      .groupBy($"batch_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_toks").as("batch_tokens"),
        min($"pos").as("first_pos"), max($"pos").as("last_pos"))
  }

  // ------------------------------------------------ q230 Gopher rules

  private val GopherStopwords =
    Seq("the", "a", "of", "and", "to", "in", "is")

  /** q230 — the published Gopher quality rules (Rae et al. 2021 §A1.1,
    * adapted to this corpus's scale) as a per-rule drop census: word
    * count outside [50, 100k], mean word length outside [3, 10],
    * '#'/'...' symbol-to-word ratio > 0.1, alpha-bearing raw-word
    * fraction < 0.8, fewer than 2 distinct stopwords. One pass over the
    * corpus computes all five flags per document (no per-rule rescans);
    * the census is an explode over the fixed 6-row rule axis + one
    * map-side-combined aggregate. Every ratio is an exact integer
    * micro comparison — no doubles anywhere. */
  val gopherRules: Q = (s, dir) => {
    import s.implicits._
    val raw = Tables(s, dir, "documents").select($"doc_id", $"text",
      TextOps.tokens($"text").as("toks"),
      filter(split($"text", "\\s+"), w => w =!= "").as("rawWords"))
    val n = size($"toks").cast("long")
    val nw = size($"rawWords").cast("long")
    val chars = aggregate($"toks", lit(0L), (acc, w) => acc + length(w))
    val nHash = ((length($"text") -
      length(regexp_replace($"text", "#", ""))).cast("long"))
    val nEllip = ((length($"text") -
      length(regexp_replace($"text", "\\.\\.\\.", ""))) / 3).cast("long")
    val nAlpha = size(filter($"rawWords", w => w.rlike("[a-zA-Z]")))
      .cast("long")
    val nStop = size(array_intersect(
      array_distinct($"toks"),
      array(GopherStopwords.map(lit): _*))).cast("long")
    val flagged = raw.select($"doc_id",
      (n < 50 || n > 100000L).cast("long").as("r_word_count"),
      (lit(1000000L) * chars > n * 10000000L ||
        lit(1000000L) * chars < n * 3000000L).cast("long")
        .as("r_mean_word_len"),
      (lit(1000000L) * (nHash + nEllip) > lit(100000L) * greatest(nw,
        lit(1L))).cast("long").as("r_symbol_ratio"),
      (lit(1000000L) * nAlpha < lit(800000L) * nw).cast("long")
        .as("r_alpha_words"),
      (nStop < 2).cast("long").as("r_stopwords"))
    val rules = Seq("r_word_count", "r_mean_word_len", "r_symbol_ratio",
      "r_alpha_words", "r_stopwords")
    val anyFail = rules.map(col).reduce(_ + _) > 0
    flagged
      .withColumn("r_any", anyFail.cast("long"))
      .select($"doc_id", explode(array(
        (rules :+ "r_any").map(r =>
          struct(lit(r).as("rule"), col(r).as("fail"))): _*)).as("rf"))
      .groupBy($"rf.rule".as("rule"))
      .agg(count(lit(1)).as("n_docs"), sum($"rf.fail").as("n_fail"))
      .select($"rule", $"n_fail",
        expr("1000000 * n_fail div n_docs").as("fail_micro"))
  }

  // ------------------------------------------- q231 token shard cuts

  /** q231 — token-balanced shard layout: documents in stable doc_id
    * order fill contiguous shards of a 20k-token budget; a document
    * lands in the shard its EXCLUSIVE cumulative token count points at
    * (cum div budget), so shard boundaries are a pure function of the
    * corpus — no packer state, identical on any cluster. The prefix
    * sum is [[ScaleWindows.rangeCumSum]] (q64 packs WITHIN docs; this
    * is the corpus-level layout above it). Census per shard: docs,
    * token mass, id span — what a training job's shard manifest
    * records. Over-budget docs spill into the next shard (contiguous-
    * fill; the deterministic choice every epoch reader can replay). */
  val tokenShardCuts: Q = (s, dir) => {
    import s.implicits._
    val docs = tokenized(s, dir)
      .select($"doc_id", size($"toks").cast("long").as("n_toks"))
    ScaleWindows.rangeCumSum(docs, Seq($"doc_id".asc), $"n_toks", "cum")
      .withColumn("shard_id", expr("cum div 20000"))
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("shard_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
  }

  // ---------------------------------------------- q232 dup n-gram rate

  /** q232 — corpus-level duplicated-8-gram rate per document (Lee et
    * al. 2022's substring-duplication measurement, the n-gram
    * approximation of their suffix-array statistic): the fraction of a
    * document's 8-gram INSTANCES whose gram also appears in some other
    * document. q45 measures repetition WITHIN a doc; q102 removes
    * KNOWN spans; this measures cross-document boilerplate pressure
    * corpus-wide. Two shuffles, both Zipf-bounded: (doc, gram) counts
    * keyed on doc_id+gram, gram document-frequency keyed on gram; the
    * join back is gram-keyed. At 100 TB the gram key would be hash60
    * of the gram (same distribution, 8 bytes); the raw string key here
    * keeps the oracle exact. */
  val dupNgramRate: Q = (s, dir) => {
    import s.implicits._
    val g = tokenized(s, dir).select($"doc_id",
      explode(TextOps.slidingNgrams($"toks", 8)).as("g"))
    val perDoc = g.groupBy($"doc_id", $"g").agg(count(lit(1)).as("cnt"))
    val df = perDoc.groupBy($"g").agg(count(lit(1)).as("n_docs"))
    perDoc.join(df, Seq("g"))
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("n_grams"),
        sum(when($"n_docs" >= 2, $"cnt").otherwise(0L)).as("dup_grams"))
      .select($"doc_id", $"n_grams", $"dup_grams",
        expr("1000000 * dup_grams div n_grams").as("dup_micro"))
  }

  // ------------------------------------------ q233 source n-gram overlap

  /** q233 — cross-source content contamination: for every source pair,
    * the overlap of their distinct-8-gram sets — Jaccard plus BOTH
    * containment directions, because syndication is asymmetric (a small
    * outlet reprinting a wire service shows high containment of the
    * small side at negligible Jaccard). q221 compares VOCABULARIES
    * (style); 8-grams detect copied PASSAGES. The shuffle dimension is
    * the distinct gram (Zipf/Heaps-bounded); fan-out per gram ≤
    * #sources, so the pair expansion is bounded exactly like q221's.
    * All scores are integral micro divisions of exact longs. */
  val sourceNgramOverlap: Q = (s, dir) => {
    import s.implicits._
    val sg = Tables(s, dir, "documents")
      .select($"source", TextOps.tokens($"text").as("toks"))
      .select($"source", explode(TextOps.slidingNgrams($"toks", 8))
        .as("g"))
      .distinct()
    val szs = sg.groupBy($"source").agg(count(lit(1)).as("n"))
    val shared = sg.as("a")
      .join(sg.as("b"), col("a.g") === col("b.g") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(szs.select($"source".as("source_a"),
        $"n".as("na"))), Seq("source_a"))
      .join(broadcast(szs.select($"source".as("source_b"),
        $"n".as("nb"))), Seq("source_b"))
      .select($"source_a", $"source_b", $"n_shared", $"na", $"nb",
        expr("1000000 * n_shared div (na + nb - n_shared)")
          .as("jac_micro"),
        expr("1000000 * n_shared div na").as("contain_a_micro"),
        expr("1000000 * n_shared div nb").as("contain_b_micro"))
  }

  // -------------------------------------------- q234 source interleave

  /** q234 — source-stratified epoch interleave: training order that
    * maximizes spacing between same-source documents (the curriculum
    * fix for source-burst overfitting that a plain q229 shuffle only
    * gets in expectation): each doc ranks within its source by salted
    * hash (a parallel per-source window), and the global order is
    * (intra_rank, source) lexicographic — round-robin across sources
    * by construction. Global positions via [[ScaleWindows.rangeCumSum]]
    * on that order; no single-partition sort anywhere. Output is the
    * per-doc manifest (source, intra-rank, global position). */
  val sourceInterleave: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", $"source")
      .withColumn("hkey",
        Hashing.hash60(concat(lit("il|"), $"doc_id".cast("string"))))
    val wS = Window.partitionBy($"source")
      .orderBy($"hkey".asc, $"doc_id".asc)
    val ranked = docs
      .withColumn("intra_rank", row_number().over(wS).cast("long"))
    ScaleWindows.rangeCumSum(ranked,
        Seq($"intra_rank".asc, $"source".asc, $"doc_id".asc),
        lit(1L), "global_pos")
      .select($"doc_id", $"source", $"intra_rank", $"global_pos")
  }

  // --------------------------------------------------- q235 winnowing

  /** q235 — winnowing fingerprints (Schleimer et al. 2003, the MOSS
    * algorithm): per document, hash every 4-gram, slide a window of 5
    * consecutive gram hashes, select each window's minimum (rightmost
    * on ties — the paper's robust choice), and the distinct selected
    * hashes are the fingerprint. Guarantees: any shared run of
    * w+k−1 = 8 tokens yields a shared fingerprint (no false-negative
    * window), expected density 2/(w+1). Per-doc census: gram count,
    * fingerprint count, density in micros and the XOR digest (the
    * exact-set check, q226's trick). The tie-break packs (hash, pos)
    * into one long — hash div 1024 (50 bits) · 8192 + (8191 − pos) —
    * so the window min IS the winnowing choice; docs beyond 8192 grams
    * chunk upstream (q59), matching the documented pack bound. The
    * only exchange is the per-doc window (doc-partitioned, parallel)
    * and the final census aggregate. */
  val winnowing: Q = (s, dir) => {
    import s.implicits._
    val W = 5
    val g = tokenized(s, dir).select($"doc_id", posexplode(transform(
        when(size($"toks") >= 4, sequence(lit(1), size($"toks") - 3))
          .otherwise(array().cast("array<int>")),
        i => concat_ws(" ", slice($"toks", i, lit(4))))))
      .select($"doc_id", $"pos", Hashing.hash60($"col").as("h"))
    val key = (expr("h div 1024") * 8192L + (lit(8191L) - $"pos"))
    val wWin = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(-(W - 1), 0)
    val selected = g.withColumn("k", key)
      .withColumn("wmin", min($"k").over(wWin))
      .filter($"pos" >= W - 1)
      .select($"doc_id", $"wmin").distinct()
    val census = selected.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_fp"),
        expr("bit_xor(wmin)").as("fp_xor"))
    g.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
      .join(census, Seq("doc_id"), "left")
      .select($"doc_id", $"n_grams",
        coalesce($"n_fp", lit(0L)).as("n_fp"),
        expr("1000000 * coalesce(n_fp, 0) div n_grams")
          .as("density_micro"),
        coalesce($"fp_xor", lit(0L)).as("fp_xor"))
  }

  // ------------------------------------------- q236 stupid backoff LM

  /** q236 — stupid-backoff trigram scoring (Brants et al. 2007 — the
    * web-scale LM that dropped normalization exactly so it would
    * distribute): S(w₃|w₁w₂) = t/b₁₂ if the trigram was seen, else
    * 0.4·b₂₃/u₂ if the bigram was, else 0.16·(u₃+1)/(N+V) (add-one at
    * the unigram floor so out-of-vocabulary words score finitely —
    * the held-out split guarantees OOV). Same split and exactness
    * discipline as q227; the trigram table is the largest model frame
    * and still Zipf-collapsed, scoring joins key on the gram tuple,
    * −ln S micro-quantized per distinct trigram TYPE before the
    * per-doc long sum. Together with q227 this brackets the LM-quality
    * family: smoothed-exact (dev-set calibration) vs backoff-cheap
    * (corpus-scale scoring). */
  val stupidBackoff: Q = (s, dir) => {
    import s.implicits._
    def grams(df: DataFrame, n: Int) = df.select($"doc_id",
      explode(TextOps.slidingNgrams($"toks", n)).as("g"))
    val tok = tokenized(s, dir)
    val train = tok.filter($"doc_id" % 2 === 0)
    val held = tok.filter($"doc_id" % 2 =!= 0)
    val tri = grams(train, 3).groupBy($"g").agg(count(lit(1)).as("t"))
      .select(split_part($"g", lit(" "), lit(1)).as("w1"),
        split_part($"g", lit(" "), lit(2)).as("w2"),
        split_part($"g", lit(" "), lit(3)).as("w3"), $"t")
    // bi (2 score-join sides) and uni (totals row + 2 score-join
    // sides) pinned — vocab-bounded count frames whose train explode
    // re-ran per read
    val bi = grams(train, 2).groupBy($"g").agg(count(lit(1)).as("b"))
      .select(split_part($"g", lit(" "), lit(1)).as("wa"),
        split_part($"g", lit(" "), lit(2)).as("wb"), $"b")
      .trunkCheckpoint()
    val uni = train.select(explode($"toks").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("u"))
      .trunkCheckpoint()
    val nv = uni.agg(sum($"u").as("nn"), count(lit(1)).as("v"))
    val hp = grams(held, 3)
      .select($"doc_id", split_part($"g", lit(" "), lit(1)).as("w1"),
        split_part($"g", lit(" "), lit(2)).as("w2"),
        split_part($"g", lit(" "), lit(3)).as("w3"))
    val scored = hp.select($"w1", $"w2", $"w3").distinct()
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select($"wa".as("w1"), $"wb".as("w2"), $"b".as("b12")),
        Seq("w1", "w2"), "left")
      .join(bi.select($"wa".as("w2"), $"wb".as("w3"), $"b".as("b23")),
        Seq("w2", "w3"), "left")
      .join(uni.select($"w".as("w2"), $"u".as("u2")), Seq("w2"), "left")
      .join(uni.select($"w".as("w3"), $"u".as("u3")), Seq("w3"), "left")
      .crossJoin(broadcast(nv))
      .select($"w1", $"w2", $"w3",
        round(-log(
          when($"t".isNotNull,
            $"t".cast("double") / $"b12".cast("double"))
            .when($"b23".isNotNull,
              lit(0.4) * $"b23".cast("double") / $"u2".cast("double"))
            .otherwise(lit(0.16) *
              (coalesce($"u3", lit(0L)) + 1).cast("double") /
              ($"nn" + $"v").cast("double"))) * 1000000.0)
          .cast("long").as("nlp_u"))
    hp.join(scored, Seq("w1", "w2", "w3"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tris"), sum($"nlp_u").as("s_u"))
      .select($"doc_id", $"n_tris",
        expr("s_u div n_tris").as("mean_nll_micro"))
  }

  // ------------------------------------------------ q237 OOV by source

  /** q237 — out-of-vocabulary rate per source under the q227/q236
    * train split (even-id docs): the first diagnostic run before
    * trusting any LM-based quality score on a new slice — a source
    * whose tokens the reference vocabulary hasn't seen gets garbage
    * perplexities, and this census says so BEFORE the scores ship.
    * The vocabulary is a Zipf-bounded frame joined on the token; the
    * per-source rollup is one map-side-combined aggregate; the rate
    * is an integral micro division. */
  val oovRateBySource: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "documents")
      .select($"doc_id", $"source", TextOps.tokens($"text").as("toks"))
    val vocab = d.filter($"doc_id" % 2 === 0)
      .select(explode($"toks").as("w")).distinct()
      .withColumn("known", lit(1L))
    d.filter($"doc_id" % 2 =!= 0)
      .select($"source", explode($"toks").as("w"))
      .join(vocab, Seq("w"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"known".isNull, 1L).otherwise(0L)).as("n_oov"))
      .select($"source", $"n_tokens", $"n_oov",
        expr("1000000 * n_oov div n_tokens").as("oov_micro"))
  }

  // --------------------------------------------- q238 cluster purity

  /** q238 — source purity of the q55 near-dup clusters: per cluster
    * the member count, distinct sources and the source-distribution
    * entropy — the audit that distinguishes WITHIN-source boilerplate
    * (entropy 0: one outlet's template) from CROSS-source syndication
    * (high entropy: the same passage everywhere), which call for
    * different scrub policies (q88's removal vs q145's attribution).
    * Twin docs inherit their original's source (the twin offset is a
    * synthetic re-ingest). Entropy terms quantize per (cnt, n) ratio
    * BEFORE the weighted sum — exact longs, any partitioning; the
    * whole computation runs on the O(clusters × sources) frame. */
  val clusterPurity: Q = (s, dir) => {
    import s.implicits._
    val src = Tables(s, dir, "documents").select($"doc_id", $"source")
    val labels = Scale.queries("q55_dup_clusters")(s, dir)
      .select($"doc_id", $"component")
      .withColumn("orig_id",
        when($"doc_id" >= TrainingData.TwinOffset,
          $"doc_id" - TrainingData.TwinOffset).otherwise($"doc_id"))
    // pinned: O(components×sources) rows read by the per-component
    // rollup AND the entropy join — lazy, the entire q55 clustering
    // chain upstream re-ran per branch (64-Exchange plan)
    val bySrc = labels
      .join(src.select($"doc_id".as("orig_id"), $"source"),
        Seq("orig_id"))
      .groupBy($"component", $"source").agg(count(lit(1)).as("cnt"))
      .trunkCheckpoint()
    val byComp = bySrc.groupBy($"component")
      .agg(sum($"cnt").as("n"), count(lit(1)).as("n_sources"))
    bySrc.join(byComp, Seq("component"))
      .withColumn("term",
        round(-log($"cnt".cast("double") / $"n".cast("double"))
          * 1000000.0).cast("long") * $"cnt")
      .groupBy($"component")
      .agg(first($"n").as("n_docs"), first($"n_sources").as("n_sources"),
        expr("sum(term) div first(n)").as("entropy_micro"))
  }

  // ---------------------------------------- q239 transitivity audit

  /** q239 — transitive-closure audit of the near-dup graph: clustering
    * by connected components (q55) silently merges A and C whenever
    * A~B~C, even if A and C are NOT similar — this census measures how
    * often (open wedges vs closed triangles in the verified pair
    * graph) so the "cluster diameter" risk is a number, not a vibe.
    * Runs at the REPRESENTATIVE level (exact copies add bulk, not
    * structure), so the frame is distinct-text-sized; the wedge join
    * is bounded by per-node pair degree (tiny after verification —
    * genuinely similar neighborhoods). closure_micro = closed wedges /
    * all wedges, exact longs. */
  val transitivityAudit: Q = (s, dir) => {
    import s.implicits._
    val groups = TrainingData.nearDupGroups(s, dir)
    val e = TrainingData.repCandidates(groups)
      .filter(round(Dedup.jaccard($"sa_set", $"sb_set"), 6) >= 0.5)
      .select($"doc_a".as("u"), $"doc_b".as("v"))
    val sym = e.unionByName(e.select($"v".as("u"), $"u".as("v")))
    val wedges = sym.as("x").join(sym.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.v").as("a"), col("y.v").as("c"))
    val closed = wedges.join(e.select($"u".as("a"), $"v".as("c")),
        Seq("a", "c"), "left_semi")
    wedges.agg(count(lit(1)).as("n_wedges"))
      .crossJoin(closed.agg(count(lit(1)).as("n_closed")))
      .select($"n_wedges", $"n_closed",
        expr("1000000 * n_closed div greatest(n_wedges, 1)")
          .as("closure_micro"))
  }

  // -------------------------------------------- q240 split leakage

  /** q240 — NEAR-dup leakage across the train/held split: q58 catches
    * exact n-gram contamination against a benchmark; this catches the
    * subtler eval-integrity failure where a held-out document's
    * near-duplicate sits in training (memorization reads as
    * generalization). Pairs come from the verified rep-level graph
    * (collapse machinery), expanded only enough to classify each
    * GROUP: a duplicate group containing both train and held members
    * leaks by identity; a cross-split rep pair leaks by similarity.
    * Output is the per-kind census plus total affected held docs —
    * O(groups + rep pairs) work beyond the shared trunk. */
  val splitLeakage: Q = (s, dir) => {
    import s.implicits._
    // thirds-based demo split (doc_id % 3 == 0 trains): the twin offset
    // is ≡1 mod 3, so re-ingested twins genuinely straddle the split —
    // a %2 split would keep every twin on its original's side and the
    // operator would never fire on this corpus
    val groups = TrainingData.nearDupGroups(s, dir)
    val gSplit = groups.select($"rep_id", $"gn",
      size(filter($"ids", d => d % 3 === 0)).cast("long").as("n_train"),
      size(filter($"ids", d => d % 3 =!= 0)).cast("long").as("n_held"))
    val identity = gSplit.filter($"n_train" >= 1 && $"n_held" >= 1)
      .agg(count(lit(1)).as("n_cases"),
        sum($"n_held").as("n_held_docs"))
      .select(lit("identity").as("kind"), $"n_cases", $"n_held_docs")
    val repPairs = TrainingData.repCandidates(groups)
      .filter(round(Dedup.jaccard($"sa_set", $"sb_set"), 6) >= 0.5)
      .select($"doc_a", $"doc_b")
    val cross = repPairs
      .join(gSplit.select($"rep_id".as("doc_a"),
        $"n_train".as("ta"), $"n_held".as("ha")), Seq("doc_a"))
      .join(gSplit.select($"rep_id".as("doc_b"),
        $"n_train".as("tb"), $"n_held".as("hb")), Seq("doc_b"))
      .filter(($"ta" >= 1 && $"hb" >= 1) || ($"tb" >= 1 && $"ha" >= 1))
      .agg(count(lit(1)).as("n_cases"),
        sum(when($"ta" >= 1, $"hb").otherwise(0L) +
          when($"tb" >= 1, $"ha").otherwise(0L)).as("n_held_docs"))
      .select(lit("similarity").as("kind"), $"n_cases", $"n_held_docs")
    identity.unionByName(cross)
  }

  // -------------------------------------- q241 dedup savings report

  /** q241 — dedup return-on-investment at three Jaccard thresholds
    * (0.5 / 0.7 / 0.9): for each, cluster the near-dup graph and
    * report how many documents and tokens a keep-one-per-cluster
    * policy removes — the number that decides whether the aggressive
    * threshold is worth its false-positive risk. All three clusterings
    * run connected components on the SAME rep-level verified pair
    * frame (filtered per threshold) plus the member stars — the
    * expensive chain is shared via [[TrainingData.nearDupGroups]],
    * and each CC is O(log n) rounds on the collapsed graph. Token
    * counts ride the group frame (one corpus pass). */
  val dedupSavings: Q = (s, dir) => {
    import s.implicits._
    val groups = TrainingData.nearDupGroups(s, dir)
    // trunkCheckpoint: the token-count frame joins into all THREE
    // threshold branches — lazy, the corpus tokenization pass ran 3×;
    // O(docs) rows of (id, long) once materialized
    val toks = TrainingData.corpus(s, dir)
      .select($"doc_id", size(TextOps.tokens($"text")).cast("long")
        .as("n_toks"))
      .trunkCheckpoint()
    val nodes = groups.select(explode($"ids").as("id"))
    val star = groups.select($"rep_id".as("src"), explode($"ids").as("dst"))
      .filter($"src" =!= $"dst")
    val scored = TrainingData.repCandidates(groups)
      .select($"doc_a".as("src"), $"doc_b".as("dst"),
        round(Dedup.jaccard($"sa_set", $"sb_set"), 6).as("j"))
      .trunkCheckpoint()
    val perThreshold = Seq(0.5, 0.7, 0.9).map { t =>
      val edges = scored.filter($"j" >= t).select($"src", $"dst")
        .unionByName(star)
      val labels = graft.functions.ConnectedComponents
        .minLabel(nodes, edges)
      labels.join(toks, labels("id") === toks("doc_id"))
        .withColumn("keep", $"id" === $"component")
        .agg(countDistinct($"component").as("n_clusters"),
          sum(when(!$"keep", 1L).otherwise(0L)).as("docs_removed"),
          sum(when(!$"keep", $"n_toks").otherwise(0L))
            .as("tokens_removed"))
        .select(lit((t * 10).toInt).as("threshold_decil"),
          $"n_clusters", $"docs_removed", $"tokens_removed")
    }
    perThreshold.reduce(_ unionByName _)
  }

  // --------------------------------------- q438 C4-style line dedup

  /** q438 — global line-level exact dedup (C4's "discard every
    * three-sentence span seen before", Raffel et al. 2020 §2.2,
    * adapted to this corpus's newline-free text as fixed 8-word
    * chunks): every chunk keeps only its FIRST occurrence corpus-wide
    * (min (doc_id, pos)), and each document reassembles from its
    * surviving chunks in order. Scale stance: first-occurrence is a
    * groupBy(chunk).min(struct) — map-side combine collapses a
    * billion-fold boilerplate chunk to one row per map task BEFORE the
    * shuffle (a row_number window would sort the full copy list in one
    * partition); the join-back is a plain hash join on the chunk key
    * that AQE skew-splits. Reassembly sorts WITHIN each doc's
    * collected array (collect_list + array_sort), never a global sort. */
  val lineDedup: Q = (s, dir) => {
    import s.implicits._
    val chunks = Tables(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("ws"))
      .select($"doc_id", posexplode(expr(
        "transform(sequence(0, (size(ws)+7) div 8 - 1), " +
          "i -> array_join(slice(ws, i*8+1, 8), ' '))")))
      .toDF("doc_id", "pos", "chunk")
    val first = chunks.groupBy($"chunk".as("fchunk"))
      .agg(min(struct($"doc_id", $"pos")).as("f"))
      .select($"fchunk", $"f.doc_id".as("kdoc"), $"f.pos".as("kpos"))
    chunks.join(first, $"chunk" === $"fchunk")
      .select($"doc_id", $"pos", $"chunk",
        ($"doc_id" === $"kdoc" && $"pos" === $"kpos").as("kept"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(" +
            "CASE WHEN kept THEN struct(pos, chunk) END)), x -> x.chunk)"),
          " ").as("kept_text"))
      .orderBy($"doc_id")
  }

  private val sqlLineDedup: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM documents),
      |c AS (SELECT doc_id, unnest(range(0, (len(ws)+7)//8)) AS pos, ws
      |  FROM w),
      |ch AS (SELECT doc_id, pos,
      |    array_to_string(list_slice(ws, pos*8+1, pos*8+8), ' ') AS chunk
      |  FROM c),
      |k AS (SELECT doc_id, pos, chunk,
      |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) = 1
      |      AS kept
      |  FROM ch)
      |SELECT doc_id, count(*)::BIGINT AS n_chunks,
      |  sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
      |  coalesce(string_agg(CASE WHEN kept THEN chunk END, ' '
      |    ORDER BY pos), '') AS kept_text
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------- q441 CCNet perplexity-band filter

  /** q441 — CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3):
    * held-out docs band into thirds by LM score, the step that turns
    * q227's per-doc perplexity into a corpus filter. Scale stance:
    * banding by exact GLOBAL doc-count tertiles would total-order the
    * per-doc frame, so scores first collapse to milli-nat histogram
    * cells (map-side combine, O(cells) rows at any SF); the cumulative
    * count runs as a broadcast triangular join on that tiny frame
    * (never a global window), the two cut cells broadcast back, and
    * band membership is a stateless comparison. Thirds are doc-count
    * fences on the cell grid: `3·cum ≥ total` and `3·cum ≥ 2·total`
    * integer cross-multiplies, so every engine draws the same line. */
  val perplexityBands: Q = (s, dir) => {
    import s.implicits._
    val sc = heldoutScores(s, dir)
      .select($"doc_id", $"n_pairs", $"mean_nll_micro",
        expr("mean_nll_micro div 1000").as("cell"))
    val cells = sc.groupBy($"cell").agg(count(lit(1)).as("n"))
    val rhs = cells.select($"cell".as("cell2"), $"n".as("n2"))
    val cuts = cells.crossJoin(broadcast(rhs))
      .groupBy($"cell")
      .agg(sum(when($"cell2" <= $"cell", $"n2").otherwise(0L)).as("cum"),
        sum($"n2").as("total"))
      .agg(min(when($"cum" * 3 >= $"total", $"cell")).as("c1"),
        min(when($"cum" * 3 >= $"total" * 2, $"cell")).as("c2"))
    sc.crossJoin(broadcast(cuts))
      .select(
        when($"cell" <= $"c1", "1-head")
          .when($"cell" <= $"c2", "2-middle")
          .otherwise("3-tail").as("ppl_band"),
        $"n_pairs", $"mean_nll_micro")
      .groupBy($"ppl_band")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_pairs").as("n_pairs"),
        expr("sum(mean_nll_micro) div count(1)").as("band_mean_nll_micro"),
        min($"mean_nll_micro").as("min_nll_micro"),
        max($"mean_nll_micro").as("max_nll_micro"))
      .orderBy($"ppl_band")
  }

  // lazy: refers to sqlHeldoutCtes/sqlHeldoutSelect declared further
  // down the object — eager init order would interpolate nulls
  private lazy val sqlPerplexityBands: String =
    s"""WITH $sqlHeldoutCtes,
       |sc0 AS ($sqlHeldoutSelect),
       |sc AS (SELECT doc_id, n_pairs, mean_nll_micro,
       |    mean_nll_micro // 1000 AS cell FROM sc0),
       |cells AS (SELECT cell, count(*)::BIGINT AS n FROM sc GROUP BY cell),
       |cum AS (SELECT cell,
       |    sum(n) OVER (ORDER BY cell
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
       |      AS cum,
       |    sum(n) OVER ()::BIGINT AS total
       |  FROM cells),
       |cuts AS (SELECT
       |    min(CASE WHEN cum * 3 >= total THEN cell END)::BIGINT AS c1,
       |    min(CASE WHEN cum * 3 >= 2 * total THEN cell END)::BIGINT AS c2
       |  FROM cum)
       |SELECT CASE WHEN cell <= c1 THEN '1-head'
       |    WHEN cell <= c2 THEN '2-middle' ELSE '3-tail' END AS ppl_band,
       |  count(*)::BIGINT AS n_docs,
       |  sum(n_pairs)::BIGINT AS n_pairs,
       |  (sum(mean_nll_micro)::BIGINT // count(*)::BIGINT)
       |    AS band_mean_nll_micro,
       |  min(mean_nll_micro)::BIGINT AS min_nll_micro,
       |  max(mean_nll_micro)::BIGINT AS max_nll_micro
       |FROM sc CROSS JOIN cuts
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q470 — PLSA topic model, one exact EM step (Hofmann 1999 — the
    * probabilistic-topic-model family member the text stack lacked
    * next to TF-IDF/BM25/c-TF-IDF retrieval scores and the LM scoring
    * family): deterministic hash-seeded φ₀(w|z), θ₀(z|d) over K = 4
    * topics, an E-step posterior q(z|d,w) ∝ φ·θ per observed doc-term
    * pair, and an M-step re-estimate φ₁(w|z) from expected counts.
    * Every probability lives as an exact integer micro value the whole
    * way (numerators ≤ 10¹² before the div; M-step numerators carry as
    * DECIMAL(38,0)), so EM is hash-stable by construction — the same
    * discipline as q460's linkage EM. Scale: the only corpus-sized
    * frames are the doc-term counts and their K-way explode; φ/θ
    * normalizers are K-row / per-doc aggregates; everything downstream
    * of the (d,w) count is vocab- or doc-bounded. */
  val plsaStep: Q = (s, dir) => {
    import s.implicits._
    // NOT checkpointed (r10 pinned dw/phi0/th0/den; r11's sf1 A/B
    // measured the pins 1.5-2x SLOWER at 10x data — all four frames
    // scale with the corpus (doc-terms, vocab x K, docs x K), so they
    // are the q465 inversion class: recomputing from the vectorized
    // scan beats round-tripping block storage once the frame grows.
    // PIN 10.80/9.66 s vs NOPIN 8.14/5.47 s, interleaved same-window
    // pairs at /tmp/sf1; reverted to the lazy r9 shape.)
    val dw = tokenized(s, dir)
      .select($"doc_id".as("d"), explode($"toks").as("w"))
      .groupBy($"d", $"w").agg(count(lit(1)).as("n"))
    val zs = sequence(lit(0), lit(PlsaK - 1))
    // φ0(w|z): hash-seeded raw mass, normalized per topic (micro)
    val phiRaw = dw.select($"w").distinct()
      .select($"w", explode(zs).as("z"))
      .select($"w", $"z", (lit(1L) + Hashing.hash60(
        concat($"w", lit("|phi"), $"z".cast("string"))) % 1000)
        .as("r"))
    val phiTot = phiRaw.groupBy($"z").agg(sum($"r").as("rt"))
    val phi0 = phiRaw.join(broadcast(phiTot), Seq("z"))
      .select($"w", $"z", expr("(r * 1000000) div rt").as("phi0"))
    // θ0(z|d): hash-seeded, normalized per document (micro)
    val thRaw = dw.select($"d").distinct()
      .select($"d", explode(zs).as("z"))
      .select($"d", $"z", (lit(1L) + Hashing.hash60(
        concat($"d".cast("string"), lit("|th"), $"z".cast("string")))
        % 1000).as("r"))
    val thTot = thRaw.groupBy($"d").agg(sum($"r").as("rt"))
    val th0 = thRaw.join(thTot, Seq("d"))
      .select($"d", $"z", expr("(r * 1000000) div rt").as("th0"))
    // E-step: q(z|d,w) = φ·θ / Σ_z φ·θ, exact micro
    val e = dw.join(phi0, Seq("w")).join(th0, Seq("d", "z"))
      .select($"d", $"w", $"n", $"z", ($"phi0" * $"th0").as("num"))
    val den = e.groupBy($"d", $"w").agg(sum($"num").as("den"))
    val q = e.join(den, Seq("d", "w"))
      .select($"w", $"z", $"n",
        expr("(num * 1000000) div den").as("q_micro"))
    // M-step: φ1(w|z) from expected counts (micro-count units)
    val swz = q.groupBy($"w", $"z")
      .agg(sum($"n" * $"q_micro").as("eff_count_micro"))
    val tz = swz.groupBy($"z").agg(sum($"eff_count_micro").as("tz"))
    swz.join(broadcast(tz), Seq("z"))
      .join(phi0, Seq("w", "z"))
      .select($"z", $"w", $"phi0".as("phi0_micro"), $"eff_count_micro",
        expr("(CAST(eff_count_micro AS DECIMAL(38,0)) * 1000000) div tz")
          .as("phi1_micro"))
      .orderBy($"z", $"w")
  }

  private val PlsaK = 4

  private def sqlPlsaStep: String = {
    val toks = TextOps.sqlTokens("text")
    def h(e: String) = Hashing.sqlHash60(e)
    s"""WITH dw AS (SELECT d, w, count(*)::BIGINT AS n FROM (
       |    SELECT doc_id AS d, unnest($toks) AS w FROM documents) t
       |  GROUP BY d, w),
       |zl AS (SELECT i::INT AS z FROM unnest(range(0, $PlsaK)) AS u(i)),
       |phiraw AS (SELECT w, z,
       |    1 + ${h("w || '|phi' || CAST(z AS VARCHAR)")} % 1000 AS r
       |  FROM (SELECT DISTINCT w FROM dw) CROSS JOIN zl),
       |phitot AS (SELECT z, sum(r)::BIGINT AS rt FROM phiraw GROUP BY z),
       |phi0 AS (SELECT w, z, (r * 1000000) // rt AS phi0
       |  FROM phiraw JOIN phitot USING (z)),
       |thraw AS (SELECT d, z,
       |    1 + ${h("CAST(d AS VARCHAR) || '|th' || CAST(z AS VARCHAR)")}
       |      % 1000 AS r
       |  FROM (SELECT DISTINCT d FROM dw) CROSS JOIN zl),
       |thtot AS (SELECT d, sum(r)::BIGINT AS rt FROM thraw GROUP BY d),
       |th0 AS (SELECT d, z, (r * 1000000) // rt AS th0
       |  FROM thraw JOIN thtot USING (d)),
       |e AS (SELECT d, w, n, z, phi0 * th0 AS num
       |  FROM dw JOIN phi0 USING (w) JOIN th0 USING (d, z)),
       |den AS (SELECT d, w, sum(num)::BIGINT AS den
       |  FROM e GROUP BY d, w),
       |q AS (SELECT w, z, n, (num * 1000000) // den AS q_micro
       |  FROM e JOIN den USING (d, w)),
       |swz AS (SELECT w, z,
       |    sum(n * q_micro)::BIGINT AS eff_count_micro
       |  FROM q GROUP BY w, z),
       |tz AS (SELECT z, sum(eff_count_micro)::BIGINT AS tz
       |  FROM swz GROUP BY z)
       |SELECT z, w, phi0 AS phi0_micro, eff_count_micro,
       |  ((eff_count_micro::HUGEINT * 1000000) // tz)::BIGINT
       |    AS phi1_micro
       |FROM swz JOIN tz USING (z) JOIN phi0 USING (w, z)
       |ORDER BY z, w""".stripMargin
  }

  /** q472 — LM-based DOMAIN CLASSIFICATION (the CCNet/fastText move:
    * route each incoming document to the source whose language model
    * explains it best — used both for domain labeling of unlabeled
    * crawl and as a quality router): per-source add-1-smoothed
    * unigram LMs train on a hash-based 80/20 split (hash of doc_id, NOT
    * doc_id %5 — the id-modulo split is confounded with this corpus's
    * id-derived source assignment, leaving four sources depleted in
    * training and never predicted; split keys must be independent of
    * the label), every held-out
    * document scores against ALL 20 source LMs (per-token micro-nat
    * costs summed as exact longs; unseen-in-source tokens pay the
    * source's smoothed floor), argmin-with-source-tiebreak predicts,
    * and the output is the confusion matrix. On THIS corpus the
    * matrix shows chance-level accuracy (~1/20) — the generator draws
    * every source from one template vocabulary, so there is no domain
    * signal to find, and the eval reports exactly that; on a real
    * crawl the same plan is the CCNet router. Scale: scoring joins the
    * held-out doc-term frame to the (w, source) cost table by WORD —
    * the explode is ×|sources|, the LM table is vocab-bounded, and no
    * per-doc loop exists; the argmin is a per-doc window. The same
    * per-row ln-quantization discipline as q77 keeps both engines
    * bit-identical. */
  val lmDomainClassifier: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", $"source", TextOps.tokens($"text").as("toks"))
    val split = Hashing.hash60($"doc_id".cast("string")) % 5
    val train = docs.filter(split =!= 0)
      .select($"source".as("src"), explode($"toks").as("w"))
    // ONE pass over the exploded train tokens: totals and vocabulary
    // size derive from the (src, w) count frame — identical values
    // (Σc per src = token count; distinct w over counts = distinct w
    // over tokens) — where the original three consumers each re-ran
    // the tokenize + explode. counts is vocab×source-bounded, so the
    // pin is small (the q465 lesson applies to raw exploded frames,
    // not to their Zipf-collapsed aggregates).
    val counts = train.groupBy($"src", $"w").agg(count(lit(1)).as("c"))
      .trunkCheckpoint()
    val totals = counts.groupBy($"src").agg(sum($"c").as("t"))
    val vsize = counts.agg(countDistinct($"w").as("v"))
    val lm = counts.join(totals, Seq("src")).crossJoin(broadcast(vsize))
      .select($"src", $"w",
        round(-log(($"c" + 1).cast("double") /
          ($"t" + $"v").cast("double")) * 1000000.0).cast("long")
          .as("nlp"))
    val floor = totals.crossJoin(broadcast(vsize))
      .select($"src",
        round(-log(lit(1.0) / ($"t" + $"v").cast("double")) * 1000000.0)
          .cast("long").as("nlp0"))
    // checkpointed: ho feeds docTotals AND the LM join — lazy, the
    // holdout tokenize + explode + groupBy ran twice. This is the
    // collapsed (doc, w) frame, not the raw explode, so the pin is
    // bounded by distinct doc-term pairs.
    val ho = docs.filter(split === 0)
      .select($"doc_id", $"source".as("true_src"),
        explode($"toks").as("w"))
      .groupBy($"doc_id", $"true_src", $"w")
      .agg(count(lit(1)).as("n_dw"))
      .trunkCheckpoint()
    val docTotals = ho.groupBy($"doc_id", $"true_src")
      .agg(sum($"n_dw").as("n_d"))
    val part = ho.join(lm, Seq("w"))
      .groupBy($"doc_id", $"src")
      .agg(sum($"n_dw" * $"nlp").as("hit_cost"),
        sum($"n_dw").as("hit_toks"))
    val scored = docTotals.crossJoin(broadcast(floor))
      .join(part, Seq("doc_id", "src"), "left")
      .select($"doc_id", $"true_src", $"src",
        (coalesce($"hit_cost", lit(0L)) +
          ($"n_d" - coalesce($"hit_toks", lit(0L))) * $"nlp0")
          .as("cost"))
    val w = Window.partitionBy($"doc_id").orderBy($"cost", $"src")
    scored.withColumn("rnk", row_number().over(w)).filter($"rnk" === 1)
      .groupBy($"true_src", $"src".as("pred_src"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"true_src", $"pred_src")
  }

  private def sqlLmDomainClassifier: String = {
    val toks = TextOps.sqlTokens("text")
    s"""WITH docs AS (SELECT doc_id, source, $toks AS toks
       |  FROM documents),
       |train AS (SELECT source AS src, unnest(toks) AS w
       |  FROM docs WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 5 <> 0),
       |counts AS (SELECT src, w, count(*)::BIGINT AS c
       |  FROM train GROUP BY src, w),
       |totals AS (SELECT src, count(*)::BIGINT AS t
       |  FROM train GROUP BY src),
       |vs AS (SELECT count(DISTINCT w)::BIGINT AS v FROM train),
       |lm AS (SELECT src, w,
       |    CAST(round(-ln(CAST(c + 1 AS DOUBLE) / CAST(t + v AS DOUBLE))
       |      * 1000000) AS BIGINT) AS nlp
       |  FROM counts JOIN totals USING (src) CROSS JOIN vs),
       |floor AS (SELECT src,
       |    CAST(round(-ln(1.0 / CAST(t + v AS DOUBLE)) * 1000000)
       |      AS BIGINT) AS nlp0
       |  FROM totals CROSS JOIN vs),
       |ho AS (SELECT doc_id, true_src, w, count(*)::BIGINT AS n_dw
       |  FROM (SELECT doc_id, source AS true_src, unnest(toks) AS w
       |        FROM docs WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 5 = 0) t
       |  GROUP BY doc_id, true_src, w),
       |dt AS (SELECT doc_id, true_src, sum(n_dw)::BIGINT AS n_d
       |  FROM ho GROUP BY doc_id, true_src),
       |part AS (SELECT doc_id, src,
       |    sum(n_dw * nlp)::BIGINT AS hit_cost,
       |    sum(n_dw)::BIGINT AS hit_toks
       |  FROM ho JOIN lm USING (w) GROUP BY doc_id, src),
       |scored AS (SELECT dt.doc_id, dt.true_src, f.src,
       |    coalesce(hit_cost, 0)
       |      + (n_d - coalesce(hit_toks, 0)) * nlp0 AS cost
       |  FROM dt CROSS JOIN floor f
       |  LEFT JOIN part ON part.doc_id = dt.doc_id
       |    AND part.src = f.src),
       |pred AS (SELECT true_src, src AS pred_src FROM (
       |    SELECT true_src, src,
       |      row_number() OVER (PARTITION BY doc_id
       |        ORDER BY cost, src) AS rnk
       |    FROM scored) t
       |  WHERE rnk = 1)
       |SELECT true_src, pred_src, count(*)::BIGINT AS n_docs
       |FROM pred GROUP BY true_src, pred_src
       |ORDER BY true_src, pred_src""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q470_plsa_step" -> plsaStep,
    "q472_lm_domain_classifier" -> lmDomainClassifier,
    "q441_perplexity_bands" -> perplexityBands,
    "q438_line_dedup" -> lineDedup,
    "q240_split_leakage" -> splitLeakage,
    "q241_dedup_savings" -> dedupSavings,
    "q237_oov_rate_by_source" -> oovRateBySource,
    "q238_cluster_purity" -> clusterPurity,
    "q239_transitivity_audit" -> transitivityAudit,
    "q227_heldout_cross_entropy" -> heldoutCrossEntropy,
    "q228_lsh_dedup_eval" -> lshDedupEval,
    "q229_epoch_shuffle" -> epochShuffle,
    "q230_gopher_rules" -> gopherRules,
    "q231_token_shard_cuts" -> tokenShardCuts,
    "q232_dup_ngram_rate" -> dupNgramRate,
    "q233_source_ngram_overlap" -> sourceNgramOverlap,
    "q234_source_interleave" -> sourceInterleave,
    "q235_winnowing" -> winnowing,
    "q236_stupid_backoff" -> stupidBackoff,
  )

  // ---------------------------------------------------------- oracle SQL

  private val sqlHeldoutCtes =
    s"""t AS (SELECT doc_id, ${sqlTokens("text")} AS toks
       |  FROM documents),
       |trainp AS (SELECT pr['w1'] AS w1, pr['w2'] AS w2 FROM
       |  (SELECT unnest(list_transform(range(1, len(toks)::BIGINT),
       |     i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS pr
       |   FROM t WHERE doc_id % 2 = 0)),
       |heldp AS (SELECT doc_id, pr['w1'] AS w1, pr['w2'] AS w2 FROM
       |  (SELECT doc_id,
       |     unnest(list_transform(range(1, len(toks)::BIGINT),
       |       i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS pr
       |   FROM t WHERE doc_id % 2 <> 0)),
       |bi AS (SELECT w1, w2, count(*)::BIGINT AS c FROM trainp
       |  GROUP BY w1, w2),
       |lft AS (SELECT w1, sum(c)::BIGINT AS c1 FROM bi GROUP BY w1),
       |vocab AS (SELECT count(DISTINCT w)::BIGINT AS v FROM
       |  (SELECT unnest(toks) AS w FROM t WHERE doc_id % 2 = 0)),
       |scored AS (SELECT hp.w1, hp.w2,
       |    CAST(round(-ln(CAST(coalesce(bi.c, 0) + 1 AS DOUBLE) /
       |      CAST(coalesce(lft.c1, 0) + v AS DOUBLE)) * 1000000.0)
       |      AS BIGINT) AS nlp_u
       |  FROM (SELECT DISTINCT w1, w2 FROM heldp) hp
       |  LEFT JOIN bi ON hp.w1 = bi.w1 AND hp.w2 = bi.w2
       |  LEFT JOIN lft ON hp.w1 = lft.w1
       |  CROSS JOIN vocab)""".stripMargin

  private val sqlHeldoutSelect =
    """SELECT p.doc_id, count(*)::BIGINT AS n_pairs,
      |  (sum(s.nlp_u)::BIGINT // count(*)::BIGINT) AS mean_nll_micro
      |FROM heldp p JOIN scored s ON p.w1 = s.w1 AND p.w2 = s.w2
      |GROUP BY p.doc_id""".stripMargin

  private val sqlHeldoutCrossEntropy =
    s"WITH $sqlHeldoutCtes\n$sqlHeldoutSelect"

  private def sqlLshDedupEval: String = {
    val jac =
      """(CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE) /
        | (CAST(len(sa.sh_set) + len(sb.sh_set) AS DOUBLE)
        |  - CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)))"""
        .stripMargin
    s"""${TrainingData.sqlLshCandCtes},
       |g0 AS (SELECT doc_id, unnest(sh_set) AS g FROM sh),
       |rare AS (SELECT g FROM g0 GROUP BY g HAVING count(*) <= 64),
       |g AS (SELECT doc_id, g0.g FROM g0 JOIN rare USING (g)),
       |share AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id),
       |truth AS (SELECT doc_a, doc_b FROM share
       |  JOIN sh sa ON share.doc_a = sa.doc_id
       |  JOIN sh sb ON share.doc_b = sb.doc_id
       |  WHERE $jac >= 0.5),
       |m AS (SELECT
       |    sum(CASE WHEN t.doc_a IS NOT NULL AND c.doc_a IS NOT NULL
       |      THEN 1 ELSE 0 END)::BIGINT AS tp,
       |    sum(CASE WHEN t.doc_a IS NULL AND c.doc_a IS NOT NULL
       |      THEN 1 ELSE 0 END)::BIGINT AS fp,
       |    sum(CASE WHEN t.doc_a IS NOT NULL AND c.doc_a IS NULL
       |      THEN 1 ELSE 0 END)::BIGINT AS fn
       |  FROM truth t FULL OUTER JOIN cand c
       |    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
       |SELECT tp, fp, fn,
       |  (1000000 * tp // greatest(tp + fp, 1))::BIGINT
       |    AS precision_micro,
       |  (1000000 * tp // greatest(tp + fn, 1))::BIGINT AS recall_micro
       |FROM m""".stripMargin
  }

  private val sqlEpochShuffle =
    s"""WITH d AS (SELECT doc_id,
       |    CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_toks,
       |    ${sqlHash60("'epoch0|' || CAST(doc_id AS VARCHAR)")} AS hkey
       |  FROM documents),
       |p AS (SELECT doc_id, n_toks,
       |    CAST(row_number() OVER (ORDER BY hkey, doc_id) - 1 AS BIGINT)
       |      AS pos
       |  FROM d)
       |SELECT pos // 64 AS batch_id, count(*)::BIGINT AS n_docs,
       |  sum(n_toks)::BIGINT AS batch_tokens,
       |  min(pos) AS first_pos, max(pos) AS last_pos
       |FROM p GROUP BY 1""".stripMargin

  private val sqlGopherRules = {
    val toks = sqlTokens("text")
    val rawWords =
      "list_filter(string_split_regex(text, '\\s+'), w -> w <> '')"
    val stop = GopherStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH d AS (SELECT doc_id,
       |    CAST(len($toks) AS BIGINT) AS n,
       |    CAST(len($rawWords) AS BIGINT) AS nw,
       |    CAST(list_sum(list_transform($toks, w -> length(w)))
       |      AS BIGINT) AS chars,
       |    CAST(length(text) - length(replace(text, '#', ''))
       |      AS BIGINT) AS nhash,
       |    CAST((length(text) - length(replace(text, '...', ''))) // 3
       |      AS BIGINT) AS nellip,
       |    CAST(len(list_filter($rawWords,
       |      w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS nalpha,
       |    CAST(len(list_intersect(list_distinct($toks), $stop))
       |      AS BIGINT) AS nstop
       |  FROM documents),
       |f AS (SELECT doc_id,
       |    CASE WHEN n < 50 OR n > 100000 THEN 1 ELSE 0 END
       |      AS r_word_count,
       |    CASE WHEN 1000000 * coalesce(chars, 0) > n * 10000000
       |       OR 1000000 * coalesce(chars, 0) < n * 3000000
       |      THEN 1 ELSE 0 END AS r_mean_word_len,
       |    CASE WHEN 1000000 * (nhash + nellip) > 100000 * greatest(nw, 1)
       |      THEN 1 ELSE 0 END AS r_symbol_ratio,
       |    CASE WHEN 1000000 * nalpha < 800000 * nw THEN 1 ELSE 0 END
       |      AS r_alpha_words,
       |    CASE WHEN nstop < 2 THEN 1 ELSE 0 END AS r_stopwords
       |  FROM d),
       |x AS (SELECT doc_id, rf.rule AS rule, rf.fail AS fail FROM
       |  (SELECT doc_id, unnest([
       |     {'rule': 'r_word_count', 'fail': r_word_count},
       |     {'rule': 'r_mean_word_len', 'fail': r_mean_word_len},
       |     {'rule': 'r_symbol_ratio', 'fail': r_symbol_ratio},
       |     {'rule': 'r_alpha_words', 'fail': r_alpha_words},
       |     {'rule': 'r_stopwords', 'fail': r_stopwords},
       |     {'rule': 'r_any', 'fail': CASE WHEN r_word_count
       |        + r_mean_word_len + r_symbol_ratio + r_alpha_words
       |        + r_stopwords > 0 THEN 1 ELSE 0 END}]) AS rf
       |   FROM f))
       |SELECT rule, sum(fail)::BIGINT AS n_fail,
       |  (1000000 * sum(fail)::BIGINT // count(*)::BIGINT)
       |    AS fail_micro
       |FROM x GROUP BY rule""".stripMargin
  }

  private val sqlTokenShardCuts =
    s"""WITH d AS (SELECT doc_id,
       |    CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_toks
       |  FROM documents),
       |c AS (SELECT doc_id, n_toks,
       |    CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cum
       |  FROM d)
       |SELECT cum // 20000 AS shard_id, count(*)::BIGINT AS n_docs,
       |  sum(n_toks)::BIGINT AS shard_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1""".stripMargin

  private val sqlDupNgramRate = {
    val toks = sqlTokens("text")
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
       |    THEN list_transform(range(1, len(toks)::BIGINT - 6),
       |      i -> array_to_string(list_slice(toks, i, i + 7), ' '))
       |    ELSE [] END) AS g
       |  FROM t),
       |pd AS (SELECT doc_id, g, count(*)::BIGINT AS cnt
       |  FROM g GROUP BY doc_id, g),
       |df AS (SELECT g, count(*)::BIGINT AS n_docs FROM pd GROUP BY g)
       |SELECT doc_id, sum(cnt)::BIGINT AS n_grams,
       |  sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END)::BIGINT
       |    AS dup_grams,
       |  (1000000 * sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END)::BIGINT
       |    // sum(cnt)::BIGINT) AS dup_micro
       |FROM pd JOIN df USING (g)
       |GROUP BY doc_id""".stripMargin
  }

  private val sqlSourceNgramOverlap = {
    val toks = sqlTokens("text")
    s"""WITH sg AS (SELECT DISTINCT source, g FROM
       |  (SELECT source, unnest(CASE WHEN len(toks) >= 8
       |     THEN list_transform(range(1, len(toks)::BIGINT - 6),
       |       i -> array_to_string(list_slice(toks, i, i + 7), ' '))
       |     ELSE [] END) AS g
       |   FROM (SELECT source, $toks AS toks FROM documents))),
       |szs AS (SELECT source, count(*)::BIGINT AS n FROM sg
       |  GROUP BY source),
       |shared AS (SELECT a.source AS source_a, b.source AS source_b,
       |    count(*)::BIGINT AS n_shared
       |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, n_shared, sa.n AS na, sb.n AS nb,
       |  (1000000 * n_shared // (sa.n + sb.n - n_shared))::BIGINT
       |    AS jac_micro,
       |  (1000000 * n_shared // sa.n)::BIGINT AS contain_a_micro,
       |  (1000000 * n_shared // sb.n)::BIGINT AS contain_b_micro
       |FROM shared
       |JOIN szs sa ON shared.source_a = sa.source
       |JOIN szs sb ON shared.source_b = sb.source""".stripMargin
  }

  private val sqlSourceInterleave =
    s"""WITH d AS (SELECT doc_id, source,
       |    ${sqlHash60("'il|' || CAST(doc_id AS VARCHAR)")} AS hkey
       |  FROM documents),
       |r AS (SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY hkey, doc_id) AS BIGINT) AS intra_rank
       |  FROM d)
       |SELECT doc_id, source, intra_rank,
       |  CAST(row_number() OVER (ORDER BY intra_rank, source, doc_id) - 1
       |    AS BIGINT) AS global_pos
       |FROM r""".stripMargin

  private val sqlWinnowing = {
    val toks = sqlTokens("text")
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |g AS (SELECT doc_id, pr['pos'] AS pos,
       |    ${sqlHash60("pr['g']")} AS h FROM
       |  (SELECT doc_id, unnest(CASE WHEN len(toks) >= 4
       |     THEN list_transform(range(1, len(toks)::BIGINT - 2),
       |       i -> {'pos': i - 1,
       |             'g': array_to_string(list_slice(toks, i, i + 3), ' ')})
       |     ELSE [] END) AS pr
       |   FROM t)),
       |k AS (SELECT doc_id, pos,
       |    (h // 1024) * 8192 + (8191 - pos) AS k FROM g),
       |wm AS (SELECT doc_id, pos, min(k) OVER (PARTITION BY doc_id
       |    ORDER BY pos ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
       |    AS wmin
       |  FROM k),
       |sel AS (SELECT DISTINCT doc_id, wmin FROM wm WHERE pos >= 4),
       |census AS (SELECT doc_id, count(*)::BIGINT AS n_fp,
       |    bit_xor(wmin)::BIGINT AS fp_xor FROM sel GROUP BY doc_id),
       |ng AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM g
       |  GROUP BY doc_id)
       |SELECT ng.doc_id, n_grams,
       |  coalesce(n_fp, 0)::BIGINT AS n_fp,
       |  (1000000 * coalesce(n_fp, 0) // n_grams)::BIGINT
       |    AS density_micro,
       |  coalesce(fp_xor, 0)::BIGINT AS fp_xor
       |FROM ng LEFT JOIN census USING (doc_id)""".stripMargin
  }

  private val sqlStupidBackoff = {
    val toks = sqlTokens("text")
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |tri AS (SELECT pr['w1'] AS w1, pr['w2'] AS w2, pr['w3'] AS w3,
       |    count(*)::BIGINT AS t FROM
       |  (SELECT unnest(list_transform(range(1, len(toks)::BIGINT - 1),
       |     i -> {'w1': toks[i], 'w2': toks[i + 1], 'w3': toks[i + 2]}))
       |     AS pr
       |   FROM t WHERE doc_id % 2 = 0)
       |  GROUP BY 1, 2, 3),
       |bi AS (SELECT pr['wa'] AS wa, pr['wb'] AS wb,
       |    count(*)::BIGINT AS b FROM
       |  (SELECT unnest(list_transform(range(1, len(toks)::BIGINT),
       |     i -> {'wa': toks[i], 'wb': toks[i + 1]})) AS pr
       |   FROM t WHERE doc_id % 2 = 0)
       |  GROUP BY 1, 2),
       |uni AS (SELECT w, count(*)::BIGINT AS u FROM
       |  (SELECT unnest(toks) AS w FROM t WHERE doc_id % 2 = 0)
       |  GROUP BY w),
       |nv AS (SELECT sum(u)::BIGINT AS nn, count(*)::BIGINT AS v
       |  FROM uni),
       |hp AS (SELECT doc_id, pr['w1'] AS w1, pr['w2'] AS w2,
       |    pr['w3'] AS w3 FROM
       |  (SELECT doc_id,
       |     unnest(list_transform(range(1, len(toks)::BIGINT - 1),
       |       i -> {'w1': toks[i], 'w2': toks[i + 1], 'w3': toks[i + 2]}))
       |       AS pr
       |   FROM t WHERE doc_id % 2 <> 0)),
       |scored AS (SELECT d.w1, d.w2, d.w3,
       |    CAST(round(-ln(CASE
       |      WHEN tri.t IS NOT NULL
       |        THEN CAST(tri.t AS DOUBLE) / CAST(b12.b AS DOUBLE)
       |      WHEN b23.b IS NOT NULL
       |        THEN 0.4 * CAST(b23.b AS DOUBLE) / CAST(u2.u AS DOUBLE)
       |      ELSE 0.16 * CAST(coalesce(u3.u, 0) + 1 AS DOUBLE)
       |        / CAST(nn + v AS DOUBLE) END) * 1000000.0) AS BIGINT)
       |      AS nlp_u
       |  FROM (SELECT DISTINCT w1, w2, w3 FROM hp) d
       |  LEFT JOIN tri ON d.w1 = tri.w1 AND d.w2 = tri.w2
       |    AND d.w3 = tri.w3
       |  LEFT JOIN bi b12 ON d.w1 = b12.wa AND d.w2 = b12.wb
       |  LEFT JOIN bi b23 ON d.w2 = b23.wa AND d.w3 = b23.wb
       |  LEFT JOIN uni u2 ON d.w2 = u2.w
       |  LEFT JOIN uni u3 ON d.w3 = u3.w
       |  CROSS JOIN nv)
       |SELECT hp.doc_id, count(*)::BIGINT AS n_tris,
       |  (sum(s.nlp_u)::BIGINT // count(*)::BIGINT) AS mean_nll_micro
       |FROM hp JOIN scored s
       |  ON hp.w1 = s.w1 AND hp.w2 = s.w2 AND hp.w3 = s.w3
       |GROUP BY hp.doc_id""".stripMargin
  }

  private val sqlOovRateBySource = {
    val toks = sqlTokens("text")
    s"""WITH d AS (SELECT doc_id, source, $toks AS toks FROM documents),
       |vocab AS (SELECT DISTINCT w FROM
       |  (SELECT unnest(toks) AS w FROM d WHERE doc_id % 2 = 0)),
       |held AS (SELECT source, w FROM
       |  (SELECT source, unnest(toks) AS w FROM d WHERE doc_id % 2 <> 0))
       |SELECT source, count(*)::BIGINT AS n_tokens,
       |  sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END)::BIGINT
       |    AS n_oov,
       |  (1000000 * sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END)
       |    ::BIGINT // count(*)::BIGINT) AS oov_micro
       |FROM held LEFT JOIN vocab ON held.w = vocab.w
       |GROUP BY source""".stripMargin
  }

  private def sqlClusterPurity =
    s"""WITH labels AS (SELECT doc_id, component FROM
       |  (${Scale.oracles("q55_dup_clusters")}) l),
       |bysrc AS (SELECT component, d.source, count(*)::BIGINT AS cnt
       |  FROM labels JOIN documents d
       |    ON (CASE WHEN labels.doc_id >= ${TrainingData.TwinOffset}
       |        THEN labels.doc_id - ${TrainingData.TwinOffset}
       |        ELSE labels.doc_id END) = d.doc_id
       |  GROUP BY 1, 2),
       |bycomp AS (SELECT component, sum(cnt)::BIGINT AS n,
       |    count(*)::BIGINT AS n_sources
       |  FROM bysrc GROUP BY component)
       |SELECT component, n AS n_docs, n_sources,
       |  (sum(CAST(round(-ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
       |      * 1000000.0) AS BIGINT) * cnt)::BIGINT // n)
       |    AS entropy_micro
       |FROM bysrc JOIN bycomp USING (component)
       |GROUP BY component, n, n_sources""".stripMargin

  private def sqlTransitivityAudit =
    s"""${TrainingData.sqlLshCandCtes},
       |reps AS (SELECT min(doc_id) AS rep_id FROM sh
       |  GROUP BY md5(array_to_string(sh_set, chr(1)))),
       |ee AS (SELECT doc_a AS u, doc_b AS v FROM cand
       |  JOIN sh sa ON cand.doc_a = sa.doc_id
       |  JOIN sh sb ON cand.doc_b = sb.doc_id
       |  WHERE cand.doc_a IN (SELECT rep_id FROM reps)
       |    AND cand.doc_b IN (SELECT rep_id FROM reps)
       |    AND round(CAST(len(list_intersect(sa.sh_set, sb.sh_set))
       |        AS DOUBLE) /
       |      (CAST(len(sa.sh_set) + len(sb.sh_set) AS DOUBLE)
       |       - CAST(len(list_intersect(sa.sh_set, sb.sh_set))
       |         AS DOUBLE)), 6) >= 0.5),
       |sym AS (SELECT u, v FROM ee UNION ALL SELECT v AS u, u AS v
       |  FROM ee),
       |w AS (SELECT x.v AS a, y.v AS c FROM sym x JOIN sym y
       |  ON x.u = y.u AND x.v < y.v),
       |cl AS (SELECT count(*)::BIGINT AS n_closed FROM w
       |  WHERE EXISTS (SELECT 1 FROM ee
       |    WHERE ee.u = w.a AND ee.v = w.c)),
       |wc AS (SELECT count(*)::BIGINT AS n_wedges FROM w)
       |SELECT n_wedges, n_closed,
       |  (1000000 * n_closed // greatest(n_wedges, 1))::BIGINT
       |    AS closure_micro
       |FROM wc CROSS JOIN cl""".stripMargin

  private def sqlSplitLeakage =
    s"""${TrainingData.sqlLshCandCtes},
       |gs AS (SELECT min(doc_id) AS rep_id, count(*)::BIGINT AS gn,
       |    sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT
       |      AS n_train,
       |    sum(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END)::BIGINT
       |      AS n_held
       |  FROM sh GROUP BY md5(array_to_string(sh_set, chr(1)))),
       |ee AS (SELECT doc_a, doc_b FROM cand
       |  JOIN sh sa ON cand.doc_a = sa.doc_id
       |  JOIN sh sb ON cand.doc_b = sb.doc_id
       |  WHERE cand.doc_a IN (SELECT rep_id FROM gs)
       |    AND cand.doc_b IN (SELECT rep_id FROM gs)
       |    AND round(CAST(len(list_intersect(sa.sh_set, sb.sh_set))
       |        AS DOUBLE) /
       |      (CAST(len(sa.sh_set) + len(sb.sh_set) AS DOUBLE)
       |       - CAST(len(list_intersect(sa.sh_set, sb.sh_set))
       |         AS DOUBLE)), 6) >= 0.5)
       |SELECT 'identity' AS kind, count(*)::BIGINT AS n_cases,
       |  sum(n_held)::BIGINT AS n_held_docs
       |FROM gs WHERE n_train >= 1 AND n_held >= 1
       |UNION ALL
       |SELECT 'similarity', count(*)::BIGINT,
       |  sum(CASE WHEN a.n_train >= 1 THEN b.n_held ELSE 0 END
       |    + CASE WHEN b.n_train >= 1 THEN a.n_held ELSE 0 END)::BIGINT
       |FROM ee JOIN gs a ON ee.doc_a = a.rep_id
       |JOIN gs b ON ee.doc_b = b.rep_id
       |WHERE (a.n_train >= 1 AND b.n_held >= 1)
       |   OR (b.n_train >= 1 AND a.n_held >= 1)""".stripMargin

  private def sqlDedupSavings = {
    val toks = sqlTokens("text")
    def leg(t: String, decil: Int) = {
      val labels = Scale.oracles("q55_dup_clusters")
        .replace(">= 0.5", s">= $t")
      s"""SELECT CAST($decil AS INTEGER) AS threshold_decil,
         |  count(DISTINCT component)::BIGINT AS n_clusters,
         |  sum(CASE WHEN l.doc_id <> component THEN 1 ELSE 0 END)
         |    ::BIGINT AS docs_removed,
         |  sum(CASE WHEN l.doc_id <> component THEN tk.n_toks ELSE 0
         |    END)::BIGINT AS tokens_removed
         |FROM ($labels) l
         |JOIN (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_toks
         |      FROM ${TrainingData.sqlCorpus} c) tk
         |  ON l.doc_id = tk.doc_id""".stripMargin
    }
    Seq(("0.5", 5), ("0.7", 7), ("0.9", 9))
      .map { case (t, d) => leg(t, d) }
      .mkString("\nUNION ALL\n")
  }

  val oracles: Map[String, String] = Map(
    "q441_perplexity_bands" -> sqlPerplexityBands,
    "q470_plsa_step" -> sqlPlsaStep,
    "q472_lm_domain_classifier" -> sqlLmDomainClassifier,
    "q438_line_dedup" -> sqlLineDedup,
    "q240_split_leakage" -> sqlSplitLeakage,
    "q241_dedup_savings" -> sqlDedupSavings,
    "q237_oov_rate_by_source" -> sqlOovRateBySource,
    "q238_cluster_purity" -> sqlClusterPurity,
    "q239_transitivity_audit" -> sqlTransitivityAudit,
    "q227_heldout_cross_entropy" -> sqlHeldoutCrossEntropy,
    "q228_lsh_dedup_eval" -> sqlLshDedupEval,
    "q229_epoch_shuffle" -> sqlEpochShuffle,
    "q230_gopher_rules" -> sqlGopherRules,
    "q231_token_shard_cuts" -> sqlTokenShardCuts,
    "q232_dup_ngram_rate" -> sqlDupNgramRate,
    "q233_source_ngram_overlap" -> sqlSourceNgramOverlap,
    "q234_source_interleave" -> sqlSourceInterleave,
    "q235_winnowing" -> sqlWinnowing,
    "q236_stupid_backoff" -> sqlStupidBackoff,
  )
}
