package graft.queries

import graft.Materialize.TrunkCheckpointOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{ConnectedComponents, Dedup, Hashing, Multimodal,
  MediaRecord, ScaleWindows, Similarity, StubImageDecoder, TextOps}
import Hashing.{sqlHash60}
import TextOps.{sqlShingles, sqlTokens}

/** Training-data-pipeline operators: dedup family, similarity search,
  * text analysis, multimodal plumbing. Every query here has a DuckDB
  * oracle — including MinHash/SimHash/LSH, made portable by the
  * md5-derived hash60 (see Hashing). Oracle SQL with repeated structure
  * (64 minhash lanes, 60 simhash bit votes) is generated in lockstep
  * with the Spark plan.
  *
  * Near-dup queries run on `documents` unioned with perturbed twins
  * (id+100000, three words appended): the synthetic corpus has no
  * natural near-duplicates, and the twins give the detectors a known,
  * deterministic target set to find.
  */
object TrainingData {

  private[queries] val TwinOffset = 100000L
  private[queries] val TwinSuffix = " graft dedup probe"
  private[queries] val NumHashes = 64
  private[queries] val RowsPerBand = 4
  private val ShingleN = 3
  private val SimhashBits = 60
  private val NumPlanes = 6
  private val Dims = 64

  private[graft] def corpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables(s, dir, "documents").select($"doc_id", $"text")
    d.unionByName(d.select(($"doc_id" + TwinOffset).as("doc_id"),
      concat($"text", lit(TwinSuffix)).as("text")))
  }

  private[queries] val sqlCorpus =
    s"""(SELECT doc_id, text FROM documents
       | UNION ALL
       | SELECT doc_id + $TwinOffset AS doc_id,
       |        text || '$TwinSuffix' AS text FROM documents)""".stripMargin

  // ---------------------------------------------------------------- dedup

  /** q22 — exact dedup by content hash over a re-ingested (duplicated)
    * corpus: one uniform-key shuffle, keep-min-id policy. */
  val dedupExact: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "documents").select($"doc_id", $"text")
    val reingested = d.unionByName(
      d.select(($"doc_id" + TwinOffset).as("doc_id"), $"text"))
    Dedup.exactDedup(reingested, "doc_id", "text")
  }

  /** Exact-duplicate collapse shared by the whole near-dup family
    * (q23/q123 pair emission, q55/q87/q120 clustering): identical
    * shingle SETS group to one representative BEFORE any
    * signature/banding work — q182's production ordering (exact dedup,
    * then near-dedup). A re-ingested corpus with copy-groups of size g
    * would otherwise pay g× the minhash work and g² the bucket
    * collisions and Jaccard verifies; the collapsed chain scales with
    * DISTINCT texts and the member lists expand results back
    * losslessly. A session trunk ([[graft.Materialize.trunk]]) — in a
    * real pipeline the signature/group table is a persisted artifact,
    * the same §4 boundary as the news trunk. */
  private[queries] def nearDupGroups(s: SparkSession,
      dir: String): DataFrame =
    graft.Materialize.trunk(s, ("TrainingData", dir, "ndgroups")) {
      import s.implicits._
      corpus(s, dir)
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
        .select($"doc_id",
          TextOps.shinglesFromTokens($"toks", ShingleN).as("sh_set"))
        .groupBy(md5(concat_ws("", $"sh_set")).as("gkey"))
        .agg(min($"doc_id").as("rep_id"), first($"sh_set").as("sh_set"),
          collect_list($"doc_id").as("ids"), count(lit(1)).as("gn"))
    }

  /** Representative-level LSH candidate pairs (doc_a < doc_b, both
    * rep ids) with both shingle sets attached for verification.
    *
    * A session trunk keyed by the input frame: all seven consumers
    * (q23/q123/q182's pair emitters, q99's delta graph, q228's eval,
    * q240/q241) pass the IDENTICAL [[nearDupGroups]] trunk, so the
    * minhash + banding + bucket self-join — the expensive half of the
    * near-dup chain — materializes once per session and every later
    * query reads the checkpointed pairs. Datasets compare by
    * reference, which is exactly the sharing contract here; a caller
    * constructing its own groups frame gets its own entry. */
  private[queries] def repCandidates(groups: DataFrame): DataFrame =
    graft.Materialize.trunk(groups.sparkSession,
        ("TrainingData", "ndcand", groups)) {
      val shs = groups.select(col("rep_id").as("doc_id"), col("sh_set"))
      val sigs = Dedup.minhashFromShingleSets(shs, "doc_id", "sh_set",
        NumHashes)
      val cand = Dedup.lshCandidates(Dedup.lshBands(sigs, NumHashes,
        RowsPerBand))
      cand
        .join(shs.select(col("doc_id").as("doc_a"),
          col("sh_set").as("sa_set")), Seq("doc_a"))
        .join(shs.select(col("doc_id").as("doc_b"),
          col("sh_set").as("sb_set")), Seq("doc_b"))
    }

  /** Member expansion of a rep-level pair verdict: cross-group pairs
    * inherit the payload (columns listed in `sym` are symmetric;
    * (`aCol`,`bCol`) pairs swap when the member order flips). */
  private[queries] def expandMemberPairs(repPairs: DataFrame,
      groups: DataFrame, sym: Seq[String],
      swapped: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.functions.{col, greatest, least, when}
    val members = groups.select(col("rep_id"),
      explode(col("ids")).as("m"))
    val flip = col("ma") > col("mb")
    val payload =
      sym.map(col) ++
        swapped.flatMap { case (a, b) => Seq(
          when(flip, col(b)).otherwise(col(a)).as(a),
          when(flip, col(a)).otherwise(col(b)).as(b)) }
    repPairs
      .join(members.select(col("rep_id").as("doc_a"), col("m").as("ma")),
        Seq("doc_a"))
      .join(members.select(col("rep_id").as("doc_b"), col("m").as("mb")),
        Seq("doc_b"))
      .select(least(col("ma"), col("mb")).as("doc_a") +:
        greatest(col("ma"), col("mb")).as("doc_b") +: payload: _*)
  }

  /** Within-group member pairs (a < b) with a constant payload. */
  private[queries] def withinGroupPairs(groups: DataFrame,
      payload: Seq[org.apache.spark.sql.Column]): DataFrame =
    groups.filter(col("gn") >= 2)
      .select(col("ids"), explode(col("ids")).as("a"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("a").as("doc_a") +: col("b").as("doc_b") +: payload: _*)

  /** q23 — MinHash+LSH near-dup detection: shingle → 64-lane minhash →
    * 16 banded buckets → candidate self-join → Jaccard verify ≥ 0.5.
    * Candidate generation cost is O(distinct-docs×bands), never
    * all-pairs — and never per COPY, via the [[nearDupGroups]]
    * collapse (identical docs pair at J = 1 by identity). */
  val dedupMinhashLsh: Q = (s, dir) => {
    import s.implicits._
    val groups = nearDupGroups(s, dir)
    val repPairs = repCandidates(groups)
      .select($"doc_a", $"doc_b",
        round(Dedup.jaccard($"sa_set", $"sb_set"), 6).as("jaccard"))
      .filter($"jaccard" >= 0.5)
    expandMemberPairs(repPairs, groups, Seq("jaccard"), Seq.empty)
      .unionByName(withinGroupPairs(groups,
        Seq(lit(1.0).as("jaccard"))))
  }

  /** q123 — containment dedup (asymmetric Jaccard): over the SAME LSH
    * candidate pairs as q23, score |A∩B|/|A| and |A∩B|/|B| instead of
    * the symmetric ratio — the signal that catches a page QUOTING or
    * WRAPPING another (aggregators, boilerplate-framed reposts), where
    * symmetric Jaccard dilutes below threshold as the superset grows.
    * Exact integer micro-scores (1e6·inter div |set|); pairs where
    * either direction ≥ 0.8 report. Shingle sets are guaranteed
    * non-empty for every candidate (docs with no shingles never reach
    * a band bucket). Same scale posture as q23: all work is confined
    * to band-bucket collisions, never all-pairs. */
  val containmentDedup: Q = (s, dir) => {
    import s.implicits._
    val groups = nearDupGroups(s, dir)
    val repPairs = repCandidates(groups)
      .select($"doc_a", $"doc_b",
        size(array_intersect($"sa_set", $"sb_set"))
          .cast("long").as("inter"),
        size($"sa_set").cast("long").as("na"),
        size($"sb_set").cast("long").as("nb"))
      .select($"doc_a", $"doc_b",
        expr("(1000000 * inter) div na").as("contain_a_micro"),
        expr("(1000000 * inter) div nb").as("contain_b_micro"))
      .filter(greatest($"contain_a_micro", $"contain_b_micro")
        >= 800000L)
    // containment is directional: the a/b scores swap when member
    // expansion flips the pair order; identical copies contain each
    // other fully
    expandMemberPairs(repPairs, groups, Seq.empty,
        Seq(("contain_a_micro", "contain_b_micro")))
      .unionByName(withinGroupPairs(groups,
        Seq(lit(1000000L).as("contain_a_micro"),
          lit(1000000L).as("contain_b_micro"))))
  }

  /** q24 — SimHash fingerprints + hamming distance to each doc's
    * perturbed twin (small by construction). */
  val dedupSimhash: Q = (s, dir) => {
    import s.implicits._
    // (doc_id, simhash) is a collapsed two-long frame read by BOTH
    // sides of the orig⋈twin join — un-pinned, the corpus-wide vote
    // aggregate ran twice (r11 audit, r10 count-frame class)
    val fp = Dedup.simhash(corpus(s, dir), "doc_id", "text", SimhashBits)
      .trunkCheckpoint()
    val orig = fp.filter($"doc_id" < TwinOffset)
    val twin = fp.filter($"doc_id" >= TwinOffset)
      .select(($"doc_id" - TwinOffset).as("doc_id"),
        $"simhash".as("twin_simhash"))
    orig.join(twin, Seq("doc_id"))
      .select($"doc_id", $"simhash",
        Dedup.hamming($"simhash", $"twin_simhash").as("twin_hamming"))
  }

  /** q25 — direct n-gram Jaccard between each doc and its twin. */
  val ngramJaccard: Q = (s, dir) => {
    import s.implicits._
    val shs = corpus(s, dir)
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .select($"doc_id",
        TextOps.shinglesFromTokens($"toks", ShingleN).as("sh_set"))
    val orig = shs.filter($"doc_id" < TwinOffset)
    val twin = shs.filter($"doc_id" >= TwinOffset)
      .select(($"doc_id" - TwinOffset).as("doc_id"),
        $"sh_set".as("twin_set"))
    orig.join(twin, Seq("doc_id"))
      .select($"doc_id",
        round(Dedup.jaccard($"sh_set", $"twin_set"), 6).as("jaccard"))
      .withColumn("is_near", $"jaccard" >= 0.5)
  }

  /** q459 — MULTI-PASS sorted-neighborhood blocking (Hernández &
    * Stolfo 1995, the classic merge/purge method, §4's multi-pass
    * form): the entity-resolution alternative to LSH banding (q23).
    * Each pass totally orders the corpus by one 40-char key (pass 1:
    * text prefix; pass 2: chars 41–80) and verifies each doc only
    * against its w−1 = 3 successors in that order, so candidates are
    * exactly O(passes·N·(w−1)) with zero signature computation and no
    * hash-collision false-positive mass. Multi-pass is load-bearing,
    * not decoration: a single prefix pass provably misses any
    * key-cluster wider than the window (sf0.001 has a 4-doc shared-
    * prefix cluster whose 8-row orig+twin run defeats w=4), while a
    * second independent key makes a pair's miss require a ≥w cluster
    * in BOTH orders. Recall against q25's direct-Jaccard ground truth
    * is spec-asserted ≥ 99%. Scale: each total order is ONE
    * rangeCumSum range exchange — never a single-partition ORDER BY
    * window — and successor pairing is an equi-join on the dense
    * index (3 exploded offsets), uniform by construction. Pairs are
    * canonicalized (doc_a < doc_b) and deduped across passes;
    * verification is q25's 3-shingle Jaccard. */
  val sortedNeighborhood: Q = (s, dir) => {
    import s.implicits._
    val c = corpus(s, dir)
    // pairs first, shingles after: each pass's range exchange carries
    // only (doc_id, 40-char key), and the Jaccard verify runs ONCE per
    // distinct candidate pair instead of once per (pass, pair)
    def pass(key: Column): DataFrame = {
      val idx = ScaleWindows.rangeCumSum(
        c.select($"doc_id", key.as("skey")),
        Seq($"skey", $"doc_id"), lit(1L), "rn")
      val left = idx
        .select($"doc_id".as("id_a"), $"rn",
          explode(sequence(lit(1), lit(SnmWindow - 1))).as("d"))
        .select($"id_a", ($"rn" + $"d").as("rn"))
      val right = idx.select($"doc_id".as("id_b"), $"rn")
      left.join(right, Seq("rn"))
        .select(least($"id_a", $"id_b").as("doc_a"),
          greatest($"id_a", $"id_b").as("doc_b"))
    }
    val cand = pass(substring($"text", 1, SnmKeyLen))
      .unionByName(pass(substring($"text", SnmKeyLen + 1, SnmKeyLen)))
      .distinct()
    // trunkCheckpoint: the shingle-set frame joins the candidate list
    // on BOTH sides (doc_a, doc_b) — lazy, the corpus tokenize+shingle
    // pass ran twice; O(docs) rows
    val shs = c.select($"doc_id",
      TextOps.shinglesFromTokens(TextOps.tokens($"text"), ShingleN)
        .as("sh_set"))
      .trunkCheckpoint()
    cand
      .join(shs.select($"doc_id".as("doc_a"), $"sh_set".as("sh_a")),
        Seq("doc_a"))
      .join(shs.select($"doc_id".as("doc_b"), $"sh_set".as("sh_b")),
        Seq("doc_b"))
      .select($"doc_a", $"doc_b",
        round(Dedup.jaccard($"sh_a", $"sh_b"), 6).as("jaccard"))
      .filter($"jaccard" >= 0.5)
  }

  private val SnmKeyLen = 40
  private val SnmWindow = 4

  /** q465 — blocking-scheme QUALITY evaluation (the pair-completeness /
    * reduction-ratio table every entity-resolution survey reports,
    * e.g. Christen 2012): three candidate-generation schemes run over
    * the twin corpus and score against the planted ground truth in one
    * query — 'prefix8' (exact 8-char prefix key: cheap, near-complete
    * here because the perturbation is a suffix), 'length20' (20-char
    * length bucket: the deliberately BAD scheme — the +18-char twin
    * suffix usually crosses the bucket edge, so completeness collapses
    * — exactly what the eval exists to expose), and 'rare_shingle'
    * (any shared ≤6-doc-frequency shingle, q139's gram-blocking
    * shape). Pair completeness = found truth pairs / all truth pairs;
    * reduction ratio = 1 − candidates / C(n,2), both exact micro.
    * Scale: the eval runs on a corpus-size-capped deterministic
    * hash sample of BASE ids (orig+twin kept together, so truth pairs
    * survive sampling intact) — blocking evals must bound their own
    * candidate census because the bad scheme under test is, by
    * definition, the one whose blocks explode; the sample holds the
    * worst block at ~(cap/|keys|) regardless of N. The sample modulus
    * follows the corpus via one metadata-scalar count() (q84's
    * planesFor discipline) and the ORACLE computes the SAME modulus
    * from the same count (CTE `m` in sqlBlockingQuality), so parity
    * holds at any SF — including ones where m > 1 and the sample is
    * real, not just the m = 1 gate/bench SFs (r7 ADVICE item).
    * Within the sample every scheme is a key-bounded self-join and
    * the C(n,2) denominator is arithmetic on one count row. */
  val blockingQuality: Q = (s, dir) => {
    import s.implicits._
    val c0 = corpus(s, dir)
    val m = math.max(1L, (c0.count() + BqSampleCap - 1) / BqSampleCap)
    val c = c0.filter(
      Hashing.hash60(($"doc_id" % TwinOffset).cast("string")) % m === 0)
    def canon(df: DataFrame): DataFrame = df
      .filter($"id_a" =!= $"id_b")
      .select(least($"id_a", $"id_b").as("doc_a"),
        greatest($"id_a", $"id_b").as("doc_b")).distinct()
    def byKey(keyed: DataFrame): DataFrame = canon(
      keyed.select($"doc_id".as("id_a"), $"bk")
        .join(keyed.select($"doc_id".as("id_b"), $"bk"), Seq("bk")))
    val prefix8 = byKey(c.select($"doc_id",
      substring($"text", 1, 8).as("bk")))
    val length20 = byKey(c.select($"doc_id",
      (length($"text") - 1).cast("long").divide(20).cast("long")
        .as("bk")))
    val sh = c.select($"doc_id",
      explode(TextOps.shinglesFromTokens(TextOps.tokens($"text"),
        ShingleN)).as("bk"))
    val rare = sh.groupBy($"bk").agg(count(lit(1)).as("f"))
      .filter($"f" <= BqRareCap).select($"bk")
    val rareShingle = byKey(sh.join(rare, Seq("bk")))
    val n = c.agg(count(lit(1)).as("n_docs"),
      sum(when($"doc_id" < TwinOffset, 1L).otherwise(0L))
        .as("n_truth"))
    def score(name: String, cand: DataFrame): DataFrame = cand
      .agg(count(lit(1)).as("n_candidates"),
        sum(when($"doc_b" === $"doc_a" + TwinOffset, 1L).otherwise(0L))
          .as("n_truth_found"))
      .crossJoin(broadcast(n))
      .select(lit(name).as("scheme"), $"n_candidates", $"n_truth_found",
        expr("(n_truth_found * 1000000) div n_truth")
          .as("completeness_micro"),
        expr("1000000 - (CAST(n_candidates AS DECIMAL(38,0)) * 2000000)"
          + " div (n_docs * (n_docs - 1))").as("reduction_micro"))
    score("prefix8", prefix8)
      .unionByName(score("length20", length20))
      .unionByName(score("rare_shingle", rareShingle))
      .orderBy($"scheme")
  }

  /** q479 — EDIT-DISTANCE similarity join by positional-segment
    * blocking (the PassJoin/Ed-Join family, Li et al. VLDB 2011 — the
    * OTHER near-dup metric next to Jaccard: token-set methods miss
    * character-level corruption, OCR noise, typo'd entity mentions).
    * Planted target: every 39-char document prefix gets a twin with
    * one or two deterministic character substitutions. Pigeonhole
    * blocking: a string splits into 3 fixed 13-char segments; two
    * equal-length strings within substitution distance ≤ 2 MUST agree
    * on at least one whole (position, segment) — so candidates are an
    * equi-join on the segment table (3 rows per string, bounded
    * blocks) and only candidates pay the exact `levenshtein` verify,
    * which both engines implement natively. Zero false negatives for
    * the substitution-radius-2 contract BY CONSTRUCTION (same
    * pigeonhole as q475's Manku tables, transplanted from hamming to
    * edit space); indel tolerance would add PassJoin's shifted
    * segments — documented extension, not needed by the planted
    * perturbation.
    *
    * Scale — REP-COLLAPSE (added after the round-8 measurement of
    * 19.2× wall at 10× data): a web corpus is full of byte-identical
    * 39-char prefixes (boilerplate), and every duplicate group of size
    * g used to put g copies of each segment into its (position,
    * segment) block — g² candidate pairs all verifying the same two
    * strings. The fix is the same move as q475's fingerprint collapse
    * and the near-dup trunk's exact-dup collapse: group identical
    * strings to one representative BEFORE blocking, run the segment
    * join and the levenshtein verify once per DISTINCT string pair,
    * then expand members back through two equi-joins. Within-group
    * pairs (dist 0 by definition) are emitted directly from a
    * group-key self-join — output-bound, never verify-bound. Candidate
    * work now scales with distinct-string count, not row count. */
  val editDistanceJoin: Q = (s, dir) => {
    import s.implicits._
    val base = Tables(s, dir, "documents")
      .select($"doc_id", substring($"text", 1, EdLen).as("s"))
      .filter(length($"s") === EdLen)
    // build twins with explicit working columns so the Spark tree and
    // the oracle SQL stay token-for-token mirrorable
    val twins = base
      .withColumn("p1",
        (Hashing.hash60(concat(lit("ed1|"), $"doc_id".cast("string")))
          % EdLen + 1).cast("int"))
      .withColumn("two",
        Hashing.hash60(concat(lit("ed2|"), $"doc_id".cast("string")))
          % 2 === 1)
      .withColumn("p2",
        (Hashing.hash60(concat(lit("ed3|"), $"doc_id".cast("string")))
          % EdLen + 1).cast("int"))
      .withColumn("e1", expr(
        "concat(substring(s, 1, p1 - 1), '~', substring(s, p1 + 1))"))
      .withColumn("e2", expr("CASE WHEN two THEN " +
        "concat(substring(e1, 1, p2 - 1), '~', substring(e1, p2 + 1)) " +
        "ELSE e1 END"))
      .select(($"doc_id" + EdTwinOffset).as("doc_id"), $"e2".as("s"))
    val corpus = base.unionByName(twins)
    editDistancePairs(corpus)
  }

  /** The q479 core over an arbitrary (doc_id, s) corpus of
    * equal-length strings — factored out so the duplicate-group
    * stress spec can drive it with a planted mega-group
    * (TrainingDataSpec).
    *
    * PRECONDITION (r9 ADVICE): `doc_id` must be UNIQUE in the corpus
    * — each doc carries exactly one string. The two-sided
    * group-member expansion joins (below) attribute each verified
    * rep pair back to member docs via doc_id equi-joins; a repeated
    * doc_id would make a doc a member of two groups and double-emit
    * its pairs. Both production callers (q479's base+twin corpus,
    * the spec's planted mega-group) construct unique ids by design;
    * a new caller must guarantee the same or pre-dedup. */
  private[graft] def editDistancePairs(corpus0: DataFrame): DataFrame = {
    import corpus0.sparkSession.implicits._
    // checkpoint the (doc_id, s) corpus: it feeds the rep collapse,
    // both member-expansion joins and both sides of the within-group
    // self-join — lazy, a caller's twin-construction chain (q479:
    // three hash60 derivations per row) re-ran five times
    val corpus = corpus0.trunkCheckpoint()
    // rep-collapse: one row per distinct string carries the blocking
    val reps = corpus.groupBy($"s").agg(min($"doc_id").as("rep_id"))
    val segs = reps.select($"rep_id", $"s",
        explode(expr(s"transform(sequence(0, 2), k -> " +
          s"named_struct('k', k, 'seg', " +
          s"substring(s, k * ${EdLen / 3} + 1, ${EdLen / 3})))"))
          .as("x"))
      .select($"rep_id", $"s", $"x.k".as("k"), $"x.seg".as("seg"))
    // verify once per distinct string pair (rep_id is unique per
    // distinct string, so `<` canonicalizes the unordered pair)
    val verified = segs.as("a")
      .join(segs.as("b"),
        $"a.k" === $"b.k" && $"a.seg" === $"b.seg" &&
          $"a.rep_id" < $"b.rep_id")
      .select($"a.s".as("sa"), $"b.s".as("sb"))
      .distinct()
      .select($"sa", $"sb",
        levenshtein($"sa", $"sb").cast("long").as("dist"))
      .filter($"dist" <= 2)
    // expand distinct-pair verdicts back to member doc pairs; each doc
    // has exactly one string, so no pair is produced twice
    val cross = verified
      .join(corpus.select($"doc_id".as("ida"), $"s".as("sa")), Seq("sa"))
      .join(corpus.select($"doc_id".as("idb"), $"s".as("sb")), Seq("sb"))
      .select(least($"ida", $"idb").as("doc_a"),
        greatest($"ida", $"idb").as("doc_b"), $"dist")
    // identical strings share every segment and have dist 0: emit the
    // within-group pairs directly (output-bound by definition)
    val within = corpus.as("x")
      .join(corpus.as("y"),
        $"x.s" === $"y.s" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        lit(0L).as("dist"))
    cross.unionByName(within)
  }

  private val EdLen = 39
  private val EdTwinOffset = 500000L

  private val sqlEditDistanceJoin: String = {
    def h(tag: String) =
      Hashing.sqlHash60(s"'$tag|' || CAST(doc_id AS VARCHAR)")
    s"""WITH base AS (SELECT doc_id, substr(text, 1, $EdLen) AS s
       |  FROM documents WHERE len(substr(text, 1, $EdLen)) = $EdLen),
       |tw AS (SELECT doc_id, s,
       |    CAST(${h("ed1")} % $EdLen + 1 AS INT) AS p1,
       |    ${h("ed2")} % 2 = 1 AS two,
       |    CAST(${h("ed3")} % $EdLen + 1 AS INT) AS p2
       |  FROM base),
       |tw1 AS (SELECT doc_id, two, p2,
       |    substr(s, 1, p1 - 1) || '~' || substr(s, p1 + 1) AS e1
       |  FROM tw),
       |twins AS (SELECT doc_id + $EdTwinOffset AS doc_id,
       |    CASE WHEN two THEN substr(e1, 1, p2 - 1) || '~'
       |      || substr(e1, p2 + 1) ELSE e1 END AS s
       |  FROM tw1),
       |corpus AS (SELECT doc_id, s FROM base
       |  UNION ALL SELECT doc_id, s FROM twins),
       |segs AS (SELECT doc_id, s, k,
       |    substr(s, CAST(k * ${EdLen / 3} + 1 AS INT),
       |      ${EdLen / 3}) AS seg
       |  FROM corpus, unnest(range(0, 3)) t(k)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.s AS sa, b.s AS sb
       |  FROM segs a JOIN segs b
       |    ON a.k = b.k AND a.seg = b.seg AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(levenshtein(sa, sb) AS BIGINT) AS dist
       |FROM cand WHERE levenshtein(sa, sb) <= 2""".stripMargin
  }

  private val BqRareCap = 6
  private val BqSampleCap = 20000L

  private val sqlBlockingQuality: String = {
    def canon(src: String) =
      s"""SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
         |    greatest(a.doc_id, b.doc_id) AS doc_b
         |  FROM $src a JOIN $src b USING (bk)
         |  WHERE a.doc_id <> b.doc_id""".stripMargin
    def score(name: String, cand: String) =
      s"""SELECT '$name' AS scheme, count(*)::BIGINT AS n_candidates,
         |    sum(CASE WHEN doc_b = doc_a + $TwinOffset THEN 1 ELSE 0
         |      END)::BIGINT AS n_truth_found
         |  FROM $cand""".stripMargin
    s"""WITH corpus0 AS $sqlCorpus,
       |m AS (SELECT greatest(1, (count(*) + ${BqSampleCap - 1})
       |    // $BqSampleCap) AS m FROM corpus0),
       |corpus AS (SELECT c.* FROM corpus0 c CROSS JOIN m
       |  WHERE ${sqlHash60(s"(c.doc_id % $TwinOffset)::VARCHAR")}
       |    % m.m = 0),
       |p8 AS (SELECT doc_id, substr(text, 1, 8) AS bk FROM corpus),
       |l20 AS (SELECT doc_id, (len(text) - 1) // 20 AS bk FROM corpus),
       |sh AS (SELECT doc_id,
       |    unnest(${sqlShingles("text", ShingleN)}) AS bk
       |  FROM corpus),
       |rare AS (SELECT bk FROM sh GROUP BY bk
       |  HAVING count(*) <= $BqRareCap),
       |shr AS (SELECT doc_id, bk FROM sh JOIN rare USING (bk)),
       |cp8 AS (${canon("p8")}),
       |cl20 AS (${canon("l20")}),
       |cshr AS (${canon("shr")}),
       |n AS (SELECT count(*)::BIGINT AS n_docs,
       |    sum(CASE WHEN doc_id < $TwinOffset THEN 1 ELSE 0 END)::BIGINT
       |      AS n_truth FROM corpus),
       |raw AS (${score("prefix8", "cp8")}
       |  UNION ALL ${score("length20", "cl20")}
       |  UNION ALL ${score("rare_shingle", "cshr")})
       |SELECT scheme, n_candidates, n_truth_found,
       |  (n_truth_found * 1000000) // n_truth AS completeness_micro,
       |  1000000 - ((n_candidates::HUGEINT * 2000000)
       |    // (n_docs * (n_docs - 1)))::BIGINT AS reduction_micro
       |FROM raw CROSS JOIN n
       |ORDER BY scheme""".stripMargin
  }

  private val sqlSortedNeighborhood: String = {
    def pass(keyExpr: String) =
      s"""SELECT least(a.doc_id, b.doc_id) AS doc_a,
         |    greatest(a.doc_id, b.doc_id) AS doc_b,
         |    ${sqlJaccard("a.sh_set", "b.sh_set")} AS jaccard
         |  FROM idx a JOIN idx b
         |    ON b.$keyExpr - a.$keyExpr BETWEEN 1 AND ${SnmWindow - 1}
         |  WHERE ${sqlJaccard("a.sh_set", "b.sh_set")} >= 0.5"""
        .stripMargin
    s"""WITH corpus AS $sqlCorpus,
       |keyed AS (SELECT doc_id,
       |    substr(text, 1, $SnmKeyLen) AS k1,
       |    substr(text, ${SnmKeyLen + 1}, $SnmKeyLen) AS k2,
       |    ${sqlShingles("text", ShingleN)} AS sh_set
       |  FROM corpus),
       |idx AS (SELECT doc_id, sh_set,
       |    row_number() OVER (ORDER BY k1, doc_id) AS rn1,
       |    row_number() OVER (ORDER BY k2, doc_id) AS rn2
       |  FROM keyed)
       |SELECT DISTINCT doc_a, doc_b, jaccard FROM (
       |  ${pass("rn1")}
       |  UNION ALL
       |  ${pass("rn2")}) u""".stripMargin
  }

  /** q475 — hamming-radius SEARCH over simhash fingerprints by block
    * pigeonhole (Manku, Jain & Sarma, WWW 2007 — the production
    * near-dup index behind Google's crawl dedup): q24 computes
    * fingerprints and compares planted twins directly; this is the
    * INDEX that finds all pairs within hamming radius 3 without an
    * all-pairs scan. The 60-bit fingerprint splits into 4 15-bit
    * blocks; any two fingerprints within distance 3 must agree on at
    * least one whole block (pigeonhole: 3 flipped bits touch ≤ 3 of 4
    * blocks), so candidates = pairs sharing a (block-index, block-
    * value) key — an equi-join on the block table, 4 rows per doc —
    * and only those pay the exact bit_count verify. Zero false
    * negatives BY CONSTRUCTION (spec-asserted against q24's direct
    * twin hamming); false-positive candidates are bounded by 15-bit
    * block collisions. Scale: the block table is 4×corpus rows with a
    * uniform hash key; at 100 TB the same join keys the block tables
    * partitioned by (blk, bval) — this is literally the Manku table
    * layout re-expressed relationally. */
  val simhashHammingIndex: Q = (s, dir) => {
    import s.implicits._
    val fp = Dedup.simhash(corpus(s, dir), "doc_id", "text", SimhashBits)
    // table layout follows the corpus (planesFor discipline — one
    // metadata count; the r7 probe measured e = 0.92 on the fixed
    // 4×15 layout at 100×, the 15-bit key space saturating): small
    // corpora use 4 tables × 15-bit blocks, large ones Manku's
    // blocks-choose scheme — 6 blocks of 10 bits keyed on every
    // 3-combination (C(6,3) = 20 tables, 30-bit keys; 3 flips touch
    // ≤ 3 blocks so some kept 3-combination is untouched). BOTH
    // layouts are zero-false-negative and the exact verify dedups
    // false positives, so the OUTPUT is layout-independent at every
    // SF (spec-asserted) — the switch moves cost, never results.
    // DISTINCT-fingerprint collapse first (the q23/nearDupGroups
    // production ordering): a re-ingested corpus with copy-groups of
    // size g would otherwise emit g² hamming-0 pairs per fingerprint —
    // the r7 probe measured the un-collapsed form going quadratic on
    // the replicated 100× corpus. Each fingerprint carries its min-id
    // representative and copy count; pair output is then linear in
    // DISTINCT fingerprints and a pair's duplicate mass is n_a·n_b.
    // fpg checkpointed (q482/q488's fingerprint-pin): it feeds the
    // block table — whose left/right SELF-join re-executes its input —
    // and both n_docs joins; lazy, the whole 60-vote simhash chain ran
    // up to 4×. The frame is one (long, long, long) row per DISTINCT
    // fingerprint. blocks likewise: its self-join would re-run the
    // explode (and the collapse) twice.
    val fpg = fp.groupBy($"simhash")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_docs"))
      .trunkCheckpoint()
    // the layout probe counts the RAW corpus (cheap scan), never fp —
    // counting fp would execute the whole 60-vote simhash twice
    val blocks = shBlockTable(fpg,
      large = corpus(s, dir).count() > ShSmallCorpus)
      .trunkCheckpoint()
    val left = blocks.select($"doc_id".as("doc_a"),
      $"simhash".as("ha"), $"blk", $"bval")
    val right = blocks.select($"doc_id".as("doc_b"),
      $"simhash".as("hb"), $"blk", $"bval")
    val reps = fpg.select($"doc_id", $"n_docs")
    left.join(right, Seq("blk", "bval"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        Dedup.hamming($"ha", $"hb").as("hamming"))
      .distinct()
      .filter($"hamming" <= ShRadius)
      .join(reps.select($"doc_id".as("doc_a"), $"n_docs".as("n_a")),
        Seq("doc_a"))
      .join(reps.select($"doc_id".as("doc_b"), $"n_docs".as("n_b")),
        Seq("doc_b"))
      .select($"doc_a", $"doc_b", $"hamming", $"n_a", $"n_b")
  }

  private[graft] def shBlockTable(fp: DataFrame,
      large: Boolean): DataFrame = {
    import fp.sparkSession.implicits._
    val slots =
      if (!large)
        (0 until ShBlocks).map(b =>
          shiftright($"simhash", b * ShBlockBits)
            .bitwiseAND(lit(ShBlockMask)))
      else {
        def blk(b: Int) = shiftright($"simhash", b * 10)
          .bitwiseAND(lit(0x3FFL))
        (0 until 6).combinations(3).toSeq.map(c =>
          blk(c(0)) + blk(c(1)) * 1024L + blk(c(2)) * 1048576L)
      }
    fp.select($"doc_id", $"simhash",
      posexplode(array(slots: _*)).as(Seq("blk", "bval")))
  }

  private val ShBlocks = 4
  private val ShBlockBits = 15
  private val ShBlockMask = 0x7FFFL
  private val ShRadius = 3
  private val ShSmallCorpus = 65536L

  private def sqlSimhashHammingIndex: String = {
    val votes = (0 until SimhashBits)
      .map(b =>
        s"sum(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n  ")
    val fpExpr = (0 until SimhashBits)
      .map(b => s"CASE WHEN v$b > 0 THEN (1::BIGINT << $b) ELSE 0 END")
      .mkString(" + ")
    s"""WITH corpus AS $sqlCorpus,
       |ex AS (SELECT doc_id, ${sqlHash60("tok")} AS th FROM
       |  (SELECT doc_id, unnest(${sqlTokens("text")}) AS tok
       |   FROM corpus) t),
       |votes AS (SELECT doc_id, $votes FROM ex GROUP BY doc_id),
       |fp AS (SELECT doc_id, CAST($fpExpr AS BIGINT) AS simhash
       |  FROM votes),
       |fpg AS (SELECT simhash, min(doc_id) AS doc_id,
       |    count(*)::BIGINT AS n_docs
       |  FROM fp GROUP BY simhash),
       |blocks AS (SELECT doc_id, simhash, b::INT AS blk,
       |    (simhash >> (b * $ShBlockBits)::INT) & $ShBlockMask AS bval
       |  FROM fpg, unnest(range(0, $ShBlocks)) AS u(b)),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
       |      AS hamming
       |  FROM blocks a JOIN blocks b
       |    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $ShRadius)
       |SELECT doc_a, doc_b, hamming, ga.n_docs AS n_a,
       |  gb.n_docs AS n_b
       |FROM pairs
       |JOIN fpg ga ON ga.doc_id = doc_a
       |JOIN fpg gb ON gb.doc_id = doc_b"""
      .stripMargin
  }

  // ----------------------------------------------------------- similarity

  /** q26 — brute-force cosine top-10 vs query vector 0 (ANN baseline). */
  val annCosineTopK: Q = (s, dir) => {
    import s.implicits._
    val top = Similarity.bruteForceTopK(Tables(s, dir, "embeddings"), 0L, 10)
    top.withColumn("rank",
        row_number().over(Window.orderBy($"cos_sim".desc, $"vec_id".asc)))
      .select($"vec_id", $"label", round($"cos_sim", 6).as("cos_sim"),
        $"rank")
  }

  /** q480 — INT8 scalar quantization with a recall@10 audit (the SQ
    * compression every vector store ships next to PQ q100: 4× smaller
    * than float32, distance arithmetic in exact integers): per-DIM
    * min/max over the corpus define a 0..255 grid, each component
    * quantizes onto it, and the query-time score is the integer dot
    * product of quantized vectors — computed RELATIONALLY as an
    * exploded (vec, pos) join against the query's 64 quantized
    * components (broadcast), one map-side-combined sum per vector, no
    * array re-assembly in either engine. The audit joins the SQ top-10
    * against q26's exact-cosine top-10 for recall@10 — corpus-LINEAR
    * like every eval in the q228 tier (one brute-force pass; nothing
    * super-linear, unlike the q476 trap). Quantization arithmetic is
    * double-precision on both engines from identical parquet floats →
    * identical grids; everything after is exact integers. */
  val sqRecall: Q = (s, dir) => {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
    val dims = emb.select($"vec_id",
      posexplode($"embedding").as(Seq("pos", "x")))
    val stats = dims.groupBy($"pos")
      .agg(min($"x".cast("double")).as("mn"),
        max($"x".cast("double")).as("mx"))
    val q8 = dims.join(broadcast(stats), Seq("pos"))
      .select($"vec_id", $"pos",
        expr("CASE WHEN mx = mn THEN 0L ELSE " +
          "CAST(round((CAST(x AS DOUBLE) - mn) / (mx - mn) * 255)" +
          " AS BIGINT) END").as("q"))
    val q0 = q8.filter($"vec_id" === 0L)
      .select($"pos", $"q".as("q0"))
    val dots = q8.join(broadcast(q0), Seq("pos"))
      .groupBy($"vec_id").agg(sum($"q" * $"q0").as("dot"))
    val topSq = dots
      .orderBy($"dot".desc, $"vec_id".asc).limit(10)
      .select($"vec_id")
    val topExact = Similarity
      .bruteForceTopK(emb, 0L, 10)
      .orderBy($"cos_sim".desc, $"vec_id".asc).limit(10)
      .select($"vec_id")
    topSq.join(topExact, Seq("vec_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .select(lit(10L).as("k"), $"n_overlap",
        expr("(n_overlap * 1000000) div 10").as("recall_micro"))
  }

  private val sqlSqRecall: String =
    s"""WITH dims AS (SELECT vec_id, k - 1 AS pos,
       |    CAST(embedding[CAST(k AS INT)] AS DOUBLE) AS x
       |  FROM embeddings,
       |    unnest(range(1, len(embedding) + 1)) t(k)),
       |stats AS (SELECT pos, min(x) AS mn, max(x) AS mx
       |  FROM dims GROUP BY pos),
       |q8 AS MATERIALIZED (SELECT vec_id, dims.pos,
       |    CASE WHEN mx = mn THEN 0
       |      ELSE CAST(round((x - mn) / (mx - mn) * 255) AS BIGINT)
       |    END AS q
       |  FROM dims JOIN stats ON stats.pos = dims.pos),
       |dots AS (SELECT a.vec_id, sum(a.q * b.q)::BIGINT AS dot
       |  FROM q8 a JOIN q8 b ON a.pos = b.pos AND b.vec_id = 0
       |  GROUP BY a.vec_id),
       |topsq AS (SELECT vec_id FROM dots
       |  ORDER BY dot DESC, vec_id ASC LIMIT 10),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |c AS (SELECT vec_id, $sqlCos AS cs FROM embeddings, q),
       |topex AS (SELECT vec_id FROM c
       |  ORDER BY cs DESC, vec_id ASC LIMIT 10),
       |ov AS (SELECT CAST(count(*) AS BIGINT) AS n_overlap
       |  FROM topsq JOIN topex USING (vec_id))
       |SELECT 10::BIGINT AS k, n_overlap,
       |  (n_overlap * 1000000) // 10 AS recall_micro FROM ov"""
      .stripMargin

  /** q482 — perceptual-hash MEDIA near-dup (the image-corpus dedup
    * path: aHash/blockhash fingerprints + hamming-radius index — what
    * you run on 100 TB of images where byte-exact dedup q152 misses
    * re-encodes): the stub "decode" treats the first 63 payload bytes
    * as the pixel grid — 63, not 64, because bit 63 is the sign bit
    * and `1 << 63` raises in DuckDB while Spark wraps, the q464
    * shiftleft divergence class — (the container has no codec libs; a real
    * pHash swaps a DCT into the same seam, exactly the Multimodal
    * contract), the fingerprint sets bit i iff pixel i clears a fixed
    * luminance threshold (fixed, not mean-relative, so a k-pixel
    * perturbation flips EXACTLY ≤ k bits — the property the planted
    * two-pixel twins and the radius-3 guarantee hang off), and
    * candidate pairs come from q475's Manku block pigeonhole (4×16-bit
    * blocks; radius ≤ 3 ⇒ one whole block agrees) — an equi-join on
    * (block, value), never all-pairs — with the exact bit_count(xor)
    * verify only on candidates.
    *
    * Scale — FINGERPRINT COLLAPSE (the q479 rep-collapse applied to the
    * media column, per the round-8 verdict): a real image corpus has
    * massive exact-duplicate asset groups (same logo, same stock photo
    * re-hosted), and every group of g identical fingerprints used to
    * pay g block rows per block and g² block collisions. Distinct
    * fingerprints are collapsed to one representative before the
    * (block, value) join; the bit_count verify runs once per distinct
    * fp pair; members expand back via two fp equi-joins, and
    * within-group pairs (hamming 0) come straight off a group-key
    * self-join. Candidate work scales with distinct-fp count. */
  val mediaPhashDedup: Q = (s, dir) => {
    import s.implicits._
    val base = Tables(s, dir, "documents")
      .select($"doc_id", substring($"text", 1, 63).as("px"))
      .filter(length($"px") === 63)
    val twins = base
      .withColumn("p1",
        (Hashing.hash60(concat(lit("ph1|"), $"doc_id".cast("string")))
          % 63 + 1).cast("int"))
      .withColumn("p2",
        (Hashing.hash60(concat(lit("ph2|"), $"doc_id".cast("string")))
          % 63 + 1).cast("int"))
      .withColumn("e1", expr(
        "concat(substring(px, 1, p1 - 1), 'z', substring(px, p1 + 1))"))
      .withColumn("e2", expr(
        "concat(substring(e1, 1, p2 - 1), 'z', substring(e1, p2 + 1))"))
      .select(($"doc_id" + PhTwinOffset).as("doc_id"), $"e2".as("px"))
    val corpus = base.unionByName(twins)
    val fp = corpus.select($"doc_id", expr(
      "aggregate(transform(sequence(0, 62), i -> " +
        "IF(ascii(substring(px, CAST(i + 1 AS INT), 1)) > 96, " +
        "shiftleft(1L, CAST(i AS INT)), 0L)), 0L, (a, x) -> a + x)")
      .as("fp"))
      .trunkCheckpoint()
    // fp checkpointed: it feeds the collapse, both expansion joins and
    // both sides of the within-group self-join — lazy, the 63-byte
    // luminance fold (plus the twin construction) ran 5×. blocks
    // checkpointed because its a/b self-join re-ran the collapse.
    // fingerprint collapse: block the distinct fps, not the rows
    val reps = fp.groupBy($"fp").agg(min($"doc_id").as("rep_id"))
    val blocks = reps.select($"rep_id", $"fp",
        explode(expr("sequence(0, 3)")).as("blk"))
      .select($"rep_id", $"fp", $"blk",
        expr("shiftright(fp, CAST(blk * 16 AS INT)) & 65535")
          .as("bval"))
      .trunkCheckpoint()
    val verified = blocks.as("a")
      .join(blocks.as("b"),
        $"a.blk" === $"b.blk" && $"a.bval" === $"b.bval" &&
          $"a.rep_id" < $"b.rep_id")
      .select($"a.fp".as("fpa"), $"b.fp".as("fpb"))
      .distinct()
      .select($"fpa", $"fpb",
        expr("bit_count(fpa ^ fpb)").cast("long").as("hamming"))
      .filter($"hamming" <= PhRadius)
    val cross = verified
      .join(fp.select($"doc_id".as("ida"), $"fp".as("fpa")), Seq("fpa"))
      .join(fp.select($"doc_id".as("idb"), $"fp".as("fpb")), Seq("fpb"))
      .select(least($"ida", $"idb").as("doc_a"),
        greatest($"ida", $"idb").as("doc_b"), $"hamming")
    val within = fp.as("x")
      .join(fp.as("y"),
        $"x.fp" === $"y.fp" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        lit(0L).as("hamming"))
    cross.unionByName(within)
  }

  private val PhTwinOffset = 700000L
  private val PhRadius = 3

  private val sqlMediaPhashDedup: String = {
    def h(tag: String) =
      Hashing.sqlHash60(s"'$tag|' || CAST(doc_id AS VARCHAR)")
    s"""WITH base AS (SELECT doc_id, substr(text, 1, 63) AS px
       |  FROM documents WHERE len(substr(text, 1, 63)) = 63),
       |tw AS (SELECT doc_id, px,
       |    CAST(${h("ph1")} % 63 + 1 AS INT) AS p1,
       |    CAST(${h("ph2")} % 63 + 1 AS INT) AS p2
       |  FROM base),
       |tw1 AS (SELECT doc_id, p2,
       |    substr(px, 1, p1 - 1) || 'z' || substr(px, p1 + 1) AS e1
       |  FROM tw),
       |twins AS (SELECT doc_id + $PhTwinOffset AS doc_id,
       |    substr(e1, 1, p2 - 1) || 'z' || substr(e1, p2 + 1) AS px
       |  FROM tw1),
       |corpus AS (SELECT doc_id, px FROM base
       |  UNION ALL SELECT doc_id, px FROM twins),
       |fp AS MATERIALIZED (SELECT doc_id,
       |    list_sum(list_transform(range(0, 63), i ->
       |      CASE WHEN ascii(substr(px, CAST(i + 1 AS INT), 1)) > 96
       |        THEN 1::BIGINT << CAST(i AS INT) ELSE 0::BIGINT END))
       |      ::BIGINT AS fp
       |  FROM corpus),
       |blocks AS (SELECT doc_id, fp, blk,
       |    (fp >> CAST(blk * 16 AS INT)) & 65535 AS bval
       |  FROM fp, unnest(range(0, 4)) t(blk))
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
       |FROM blocks a JOIN blocks b
       |  ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fp, b.fp)) <= $PhRadius""".stripMargin
  }

  /** q484 — intra-document REPETITION filter (the Gopher/MassiveText
    * quality rules, Rae et al. 2021 §A1.1: drop documents dominated by
    * repeated n-grams — boilerplate, keyword stuffing, scraper loops):
    * per doc, the top-2-gram occupancy (occurrences of the most common
    * 2-gram over all 2-gram slots) and the duplicate-3-gram fraction
    * (slots beyond first occurrence), both in exact micro units with
    * integral division, plus the keep verdict at the 20% / 30%
    * thresholds. Relation to q45: q45 is the SCORER (2-gram ratios as
    * engine-exact doubles, explode → per-gram aggregate — the shape
    * you want when the gram table feeds further analysis); this is
    * the FILTER (thresholded keep/drop verdict, 3-gram duplicate
    * dimension added, exact integer micros) in the other legitimate
    * plan shape: everything computed INSIDE the row with array
    * higher-order functions over [[TextOps.slidingNgrams]] — a
    * map-only pass, no shuffle, no explode: the 100 TB plan is scan →
    * project → done, embarrassingly parallel (the O(d²) distinct×scan
    * count is per-row over ~10² tokens, not per-corpus), which is the
    * formulation a drop-before-shuffle ingest filter needs. */
  val repetitionFilter: Q = (s, dir) => {
    import s.implicits._
    val Top2Max = 200000L // 20% in micro units
    val Dup3Max = 300000L // 30%
    Tables(s, dir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .select($"doc_id",
        TextOps.slidingNgrams($"toks", 2).as("g2"),
        TextOps.slidingNgrams($"toks", 3).as("g3"))
      .select($"doc_id",
        size($"g2").cast("long").as("n2"),
        coalesce(array_max(transform(array_distinct($"g2"),
          x => size(filter($"g2", y => y === x)))), lit(0))
          .cast("long").as("top2"),
        size($"g3").cast("long").as("n3"),
        (size($"g3") - size(array_distinct($"g3")))
          .cast("long").as("dup3"))
      .select($"doc_id",
        when($"n2" === 0, 0L)
          .otherwise(expr("top2 * 1000000 div n2")).as("top2_micro"),
        when($"n3" === 0, 0L)
          .otherwise(expr("dup3 * 1000000 div n3")).as("dup3_micro"))
      .select($"doc_id", $"top2_micro", $"dup3_micro",
        ($"top2_micro" <= Top2Max && $"dup3_micro" <= Dup3Max)
          .as("keep"))
  }

  private def sqlSliding(toks: String, n: Int): String =
    s"""list_transform(
       |  range(1, greatest(len($toks) - ${n - 1} + 1, 1)),
       |  i -> array_to_string(list_slice($toks, i, i + ${n - 1}), ' '))"""
      .stripMargin

  private val sqlRepetitionFilter: String = {
    val toks = TextOps.sqlTokens("text")
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |g AS (SELECT doc_id,
       |    ${sqlSliding("toks", 2)} AS g2,
       |    ${sqlSliding("toks", 3)} AS g3
       |  FROM t),
       |m AS (SELECT doc_id,
       |    len(g2)::BIGINT AS n2,
       |    coalesce(list_max(list_transform(list_distinct(g2),
       |      x -> len(list_filter(g2, y -> y = x)))), 0)::BIGINT AS top2,
       |    len(g3)::BIGINT AS n3,
       |    (len(g3) - len(list_distinct(g3)))::BIGINT AS dup3
       |  FROM g),
       |f AS (SELECT doc_id,
       |    CASE WHEN n2 = 0 THEN 0
       |      ELSE top2 * 1000000 // n2 END::BIGINT AS top2_micro,
       |    CASE WHEN n3 = 0 THEN 0
       |      ELSE dup3 * 1000000 // n3 END::BIGINT AS dup3_micro
       |  FROM m)
       |SELECT doc_id, top2_micro, dup3_micro,
       |  top2_micro <= 200000 AND dup3_micro <= 300000 AS keep
       |FROM f""".stripMargin
  }

  /** q485 — SEQUENCE PACKING audit (the concat-and-chunk batching step
    * every LLM training pipeline runs before the trainer: concatenate
    * documents in a deterministic order, cut into fixed-capacity token
    * bins, count how many documents straddle a bin boundary — the
    * attention-contamination metric that decides whether you pay for
    * best-fit packing): documents shard by id hash (packing is
    * per-shard in production — the only way a 100 TB corpus packs in
    * parallel), a per-shard running token sum places each doc, and
    * bin arithmetic is exact integral division. One narrow shuffle to
    * the shards, one window pass per shard — no global ordering
    * bottleneck (a single ORDER BY over the corpus is the naive
    * formulation that cannot scale).
    *
    * SHARD-COUNT RULE (the r9 verdict's parallelism-ceiling fix): the
    * window `sum over (partition by shard order by doc_id)` sorts each
    * shard's rows in ONE task, so shard count IS the packing
    * parallelism and must scale with the corpus. The gate pins
    * `PackShards = 32` (shard is part of the output schema — the
    * DuckDB oracle mirrors the constant), but production derives it
    * via [[packShardsFor]]: `ceil(totalTokens / PackTokensPerShard)`
    * with a 50M-token shard target (~200 MB of text — one comfortably
    * in-memory sort per task; 100 TB of text ≈ 25T tokens → ~500k
    * shards, each still a single narrow window pass). The hash-mod
    * assignment means any two shard counts where one divides the other
    * form a refinement — total n_bins is weakly monotone under
    * refinement (ceil subadditivity), spec-asserted at 8/32/64. */
  val sequencePacking: Q = (s, dir) => sequencePackingSharded(s, dir, PackShards)

  /** q485's body with the shard count as a parameter. Shard assignment
    * is `hash60("pack|" || doc_id) % shards`, so counts in a
    * divisibility chain (8 | 32 | 64) refine each other. */
  private[graft] def sequencePackingSharded(
      s: SparkSession, dir: String, shards: Long): DataFrame = {
    import s.implicits._
    require(shards > 0, s"shard count must be positive, got $shards")
    val cap = PackCapacity
    val w = Window.partitionBy($"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "documents")
      .select($"doc_id",
        size(TextOps.tokens($"text")).cast("long").as("n_tok"))
      .withColumn("shard",
        Hashing.hash60(concat(lit("pack|"), $"doc_id".cast("string")))
          % shards)
      .withColumn("cum", sum($"n_tok").over(w))
      .select($"shard", $"n_tok",
        expr(s"(cum - n_tok) div $cap").as("bin_start"),
        expr(s"(cum - 1) div $cap").as("bin_end"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").as("n_tokens"),
        expr(s"(sum(n_tok) + ${cap - 1}) div $cap").as("n_bins"),
        sum(when($"bin_end" > $"bin_start", 1L).otherwise(0L))
          .as("n_split_docs"))
      .orderBy($"shard")
  }

  private[graft] val PackCapacity = 512L
  private val PackShards = 32L
  /** Production tokens-per-shard target: ~50M tokens ≈ 200 MB of raw
    * text per shard — one in-memory window sort per task. */
  private[graft] val PackTokensPerShard = 50000000L

  /** Production shard-count derivation for [[sequencePackingSharded]]:
    * one shard per `PackTokensPerShard` tokens, floor 1. At 100 TB
    * (~25T tokens) this yields ~500k shards — each shard's window sort
    * stays a bounded single-task pass regardless of corpus size. */
  private[graft] def packShardsFor(totalTokens: Long): Long =
    math.max(1L,
      (totalTokens + PackTokensPerShard - 1L) / PackTokensPerShard)

  private val sqlSequencePacking: String = {
    val toks = TextOps.sqlTokens("text")
    val h = Hashing.sqlHash60("'pack|' || CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (SELECT doc_id,
       |    len($toks)::BIGINT AS n_tok,
       |    $h % $PackShards AS shard
       |  FROM documents),
       |c AS (SELECT shard, doc_id, n_tok,
       |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  sum(n_tok)::BIGINT AS n_tokens,
       |  ((sum(n_tok) + ${PackCapacity - 1}) // $PackCapacity)::BIGINT
       |    AS n_bins,
       |  sum(CASE WHEN (cum - 1) // $PackCapacity
       |    > (cum - n_tok) // $PackCapacity THEN 1 ELSE 0 END)::BIGINT
       |    AS n_split_docs
       |FROM c GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** q486 — train/eval SPLIT-LEAKAGE audit (the near-dup-across-splits
    * check run before trusting any eval number: an eval doc whose
    * near-duplicate sits in training is contamination, Lee et al.
    * 2022): documents split 90/10 by id HASH (hash60, not id modulo —
    * a modulo split is confounded with this corpus's id-derived source
    * assignment, the r7 q472 lesson), near-dup pairs come from the
    * SAME rep-collapsed LSH chain as q23 (groups + candidates are the
    * memoized session trunks — zero marginal candidate cost), and the
    * output is the pair census by split class with exact micro
    * shares. Scale: adds one projection and one 3-group aggregate on
    * top of the q23 pair set. */
  val splitLeakage: Q = (s, dir) => {
    import s.implicits._
    val tagged = splitLeakagePairs(s, dir)
      .select(splitTag($"doc_a").as("sa"), splitTag($"doc_b").as("sb"))
      .select(when($"sa" === $"sb", concat($"sa", lit("-"), $"sb"))
        .otherwise(lit("cross-split")).as("pair_class"))
    val tot = tagged.agg(count(lit(1)).as("tot"))
    tagged.groupBy($"pair_class").agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .select($"pair_class", $"n_pairs",
        expr("n_pairs * 1000000 div tot").as("share_micro"))
      .orderBy($"pair_class")
  }

  /** q486's near-dup pair set (rep pairs verified at J ≥ 0.5, expanded
    * to members, plus within-group pairs) — factored out so the
    * streaming census twin (streaming.SplitLeakageCensus) can replay
    * the SAME pairs through its stateful operator and be asserted
    * equal to the batch census. */
  private[graft] def splitLeakagePairs(
      s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val groups = nearDupGroups(s, dir)
    val repPairs = repCandidates(groups)
      .select($"doc_a", $"doc_b",
        round(Dedup.jaccard($"sa_set", $"sb_set"), 6).as("jaccard"))
      .filter($"jaccard" >= 0.5)
      .select($"doc_a", $"doc_b")
    expandMemberPairs(repPairs, groups, Seq.empty, Seq.empty)
      .unionByName(withinGroupPairs(groups, Seq.empty))
  }

  /** The q486 train/eval tag: hash60 split, never id-modulo (the r7
    * q472 confounding lesson). Shared with the streaming census. */
  private[graft] def splitTag(c: Column): Column = when(
    Hashing.hash60(concat(lit("split|"), c.cast("string"))) % 10 === 0,
    lit("eval")).otherwise(lit("train"))

  private def sqlSplitLeakage: String = {
    def h(col: String) =
      Hashing.sqlHash60(s"'split|' || CAST($col AS VARCHAR)")
    s"""$sqlLshCandCtes,
       |vp AS (SELECT doc_a, doc_b FROM cand
       |  JOIN sh sa ON cand.doc_a = sa.doc_id
       |  JOIN sh sb ON cand.doc_b = sb.doc_id
       |  WHERE ${sqlJaccard("sa.sh_set", "sb.sh_set")} >= 0.5),
       |tagged AS (SELECT CASE WHEN sa2 = sb2 THEN sa2 || '-' || sb2
       |    ELSE 'cross-split' END AS pair_class
       |  FROM (SELECT
       |      CASE WHEN ${h("doc_a")} % 10 = 0 THEN 'eval'
       |        ELSE 'train' END AS sa2,
       |      CASE WHEN ${h("doc_b")} % 10 = 0 THEN 'eval'
       |        ELSE 'train' END AS sb2
       |    FROM vp) t),
       |tot AS (SELECT count(*) AS tot FROM tagged)
       |SELECT pair_class, CAST(count(*) AS BIGINT) AS n_pairs,
       |  (count(*) * 1000000 // tot)::BIGINT AS share_micro
       |FROM tagged CROSS JOIN tot GROUP BY pair_class, tot
       |ORDER BY pair_class""".stripMargin
  }

  /** q487 — EXACT-SUBSTRING dedup (Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" §4.1: alongside
    * MinHash near-dup, production corpus pipelines remove verbatim
    * shared spans ≥ k tokens — leaked boilerplate, quoted chunks,
    * mirrored articles): per distinct document, every k-token window
    * becomes a positioned fingerprint; windows matching ACROSS
    * documents (equi-join on the gram — exact match, the hash is only
    * the shuffle key) group by their position DIAGONAL (pos_b − pos_a)
    * where consecutive matches merge into maximal shared runs; the
    * output is the per-pair span census: run count, longest span, and
    * summed span tokens, at REP level with both group sizes attached.
    *
    * Architecture vs the paper: Lee et al. build one corpus-global
    * suffix array — inherently single-machine and O(corpus) memory.
    * This formulation is the bucketed equivalent: candidate work is an
    * equi-join keyed by the k-gram (shuffle-bucketed, perfectly
    * parallel), run-merging is a per-(pair, diagonal) window — never a
    * global sort of the corpus. hash60-of-window is the portable test
    * configuration (one md5 per window); production swaps a Karp-Rabin
    * rolling hash into the same column for O(1)-per-position work, the
    * Hashing scaladoc contract.
    *
    * Scale: identical documents collapse to reps FIRST (the q479/q482
    * rep-collapse — a g-copy boilerplate group costs one gram set, not
    * g), so bucket occupancy is the k-gram's distinct-document
    * frequency; pairs that share heavy grams are genuine shared
    * content, i.e. the operator's OUTPUT, not overhead. Twins replace
    * one mid-token (position hash-derived per doc), giving each
    * base–twin pair exactly two runs — prefix p−1, suffix n−p — with
    * sum_span = n − 1, the spec's closed-form invariant. */
  val substringDedup: Q = (s, dir) => {
    import s.implicits._
    val k = EsubK
    val base = Tables(s, dir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
    val twins = base
      .withColumn("n", size($"toks"))
      .filter($"n" >= 2 * k + 1)
      .withColumn("p",
        (Hashing.hash60(concat(lit("ess|"), $"doc_id".cast("string")))
          % ($"n" - 2 * k) + k + 1).cast("int"))
      .select(($"doc_id" + EsubTwinOffset).as("doc_id"),
        concat(slice($"toks", lit(1), $"p" - 1),
          array(lit("qzxq")),
          slice($"toks", $"p" + 1, $"n" - $"p")).as("toks"))
    val corpus = base.unionByName(twins)
      .select($"doc_id", concat_ws(" ", $"toks").as("tkey"))
    // rep-collapse on the full token sequence: identical docs share
    // every window — one gram set per distinct text
    // reps feeds the gram explode AND both final group-size joins —
    // checkpointed so the tokenize + rep collapse runs once (the Spark
    // twin of the oracle's MATERIALIZED reps CTE). grams deliberately
    // stays LAZY: it is a corpus-of-windows-sized string frame, and a
    // same-window A/B showed materializing it costs more than the
    // second explode it saves (the q465 `sh` lesson — big exploded
    // string frames don't pay for their checkpoint).
    val reps = corpus.groupBy($"tkey")
      .agg(min($"doc_id").as("rep_id"),
        count(lit(1)).cast("long").as("n_docs"))
      .trunkCheckpoint()
    val grams = reps
      .select($"rep_id",
        posexplode(TextOps.slidingNgrams(split($"tkey", " "), k)))
      .select($"rep_id", ($"pos" + 1).cast("long").as("gpos"),
        $"col".as("gram"), Hashing.hash60($"col").as("g"))
    // cross-document window matches: hash bucket + exact gram equality
    val m = grams.as("a")
      .join(grams.as("b"),
        $"a.g" === $"b.g" && $"a.gram" === $"b.gram" &&
          $"a.rep_id" < $"b.rep_id")
      .select($"a.rep_id".as("ra"), $"b.rep_id".as("rb"),
        $"a.gpos".as("pa"), ($"b.gpos" - $"a.gpos").as("diag"))
    // merge consecutive matches on each diagonal into maximal runs
    val wd = Window.partitionBy($"ra", $"rb", $"diag").orderBy($"pa")
    val runs = m
      .withColumn("brk",
        when(lag($"pa", 1).over(wd) === $"pa" - 1, 0L).otherwise(1L))
      .withColumn("run_id", sum($"brk").over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"ra", $"rb", $"diag", $"run_id")
      .agg((max($"pa") - min($"pa") + k).as("span"))
    runs.groupBy($"ra", $"rb")
      .agg(count(lit(1)).as("n_runs"), max($"span").as("max_span"),
        sum($"span").as("sum_span"))
      .join(reps.select($"rep_id".as("ra"), $"n_docs".as("n_docs_a")),
        Seq("ra"))
      .join(reps.select($"rep_id".as("rb"), $"n_docs".as("n_docs_b")),
        Seq("rb"))
      .select($"ra".as("doc_a"), $"rb".as("doc_b"), $"n_runs",
        $"max_span", $"sum_span", $"n_docs_a", $"n_docs_b")
  }

  private val EsubK = 8
  private val EsubTwinOffset = 800000L

  private val sqlSubstringDedup: String = {
    val k = EsubK
    val toks = TextOps.sqlTokens("text")
    val h = Hashing.sqlHash60("'ess|' || CAST(doc_id AS VARCHAR)")
    s"""WITH b0 AS (SELECT doc_id, $toks AS toks FROM documents),
       |tw AS (SELECT doc_id, toks, len(toks) AS n,
       |    CAST($h % (len(toks) - ${2 * k}) + ${k + 1} AS INT) AS p
       |  FROM b0 WHERE len(toks) >= ${2 * k + 1}),
       |twins AS (SELECT doc_id + $EsubTwinOffset AS doc_id,
       |    list_concat(list_concat(
       |      list_slice(toks, 1, p - 1), ['qzxq']),
       |      list_slice(toks, p + 1, n)) AS toks
       |  FROM tw),
       |corpus AS (SELECT doc_id, array_to_string(toks, ' ') AS tkey
       |  FROM (SELECT doc_id, toks FROM b0
       |        UNION ALL SELECT doc_id, toks FROM twins) u),
       |reps AS MATERIALIZED (SELECT tkey, min(doc_id) AS rep_id,
       |    CAST(count(*) AS BIGINT) AS n_docs
       |  FROM corpus GROUP BY tkey),
       |rt AS (SELECT rep_id, string_split(tkey, ' ') AS toks FROM reps),
       |grams AS MATERIALIZED (SELECT rep_id, CAST(pos AS BIGINT) AS gpos,
       |    array_to_string(list_slice(toks, pos, pos + ${k - 1}), ' ')
       |      AS gram
       |  FROM rt, unnest(range(1, greatest(len(toks) - $k + 2, 1)))
       |    t(pos)),
       |m AS (SELECT a.rep_id AS ra, b.rep_id AS rb, a.gpos AS pa,
       |    b.gpos - a.gpos AS diag
       |  FROM grams a JOIN grams b
       |    ON a.gram = b.gram AND a.rep_id < b.rep_id),
       |r AS (SELECT ra, rb, diag, pa,
       |    CASE WHEN lag(pa) OVER (PARTITION BY ra, rb, diag
       |      ORDER BY pa) = pa - 1 THEN 0 ELSE 1 END AS brk
       |  FROM m),
       |rr AS (SELECT ra, rb, diag, pa, sum(brk) OVER (
       |    PARTITION BY ra, rb, diag ORDER BY pa
       |    ROWS UNBOUNDED PRECEDING) AS run_id
       |  FROM r),
       |runs AS (SELECT ra, rb, diag, run_id,
       |    (max(pa) - min(pa) + $k)::BIGINT AS span
       |  FROM rr GROUP BY ra, rb, diag, run_id),
       |census AS (SELECT ra, rb, CAST(count(*) AS BIGINT) AS n_runs,
       |    max(span)::BIGINT AS max_span, sum(span)::BIGINT AS sum_span
       |  FROM runs GROUP BY ra, rb)
       |SELECT ra AS doc_a, rb AS doc_b, n_runs, max_span, sum_span,
       |  na.n_docs AS n_docs_a, nb.n_docs AS n_docs_b
       |FROM census
       |JOIN reps na ON na.rep_id = census.ra
       |JOIN reps nb ON nb.rep_id = census.rb""".stripMargin
  }

  /** q488 — AUDIO temporal-fingerprint near-dup (the audio-corpus twin
    * of q482's image pHash, rounding out the multimodal dedup tier:
    * Haitsma–Kingma 2002-style banded-energy fingerprints — what you
    * run on 100 TB of audio where byte-exact dedup misses re-encodes):
    * the stub "decode" treats the first 96 payload bytes as the PCM
    * stream (a real codec decodes into the same seam — the Multimodal
    * contract, exactly q482's stance), the stream frames into 12
    * frames × 8 samples, each frame yields 4 two-sample band energies,
    * and bit (3f+b) of the 36-bit fingerprint is the SIGN of the
    * adjacent-band energy difference E[f][b] > E[f][b+1] — the
    * temporal frame sequence laid out along the bit index. A one-
    * sample perturbation touches one band, so it flips AT MOST the two
    * difference bits that band feeds — the planted one-sample twins
    * sit within hamming radius 2 by construction.
    *
    * Candidates come from the Manku block pigeonhole (3 × 12-bit
    * blocks; radius ≤ 2 ⇒ at least one block agrees) as an equi-join
    * on (block, value) — never all-pairs — with the exact
    * bit_count(xor) verify only on candidates; identical fingerprints
    * collapse to reps first (the q479/q482 fingerprint-collapse
    * discipline: a g-copy asset group costs one block row set, not g²
    * block collisions), members expand back via two fp equi-joins, and
    * within-group pairs come straight off the group-key self-join. */
  val audioFingerprintDedup: Q = (s, dir) => {
    import s.implicits._
    val base = Tables(s, dir, "documents")
      .select($"doc_id", substring($"text", 1, 96).as("px"))
      .filter(length($"px") === 96)
    val twins = base
      .withColumn("p1",
        (Hashing.hash60(concat(lit("af1|"), $"doc_id".cast("string")))
          % 96 + 1).cast("int"))
      .select(($"doc_id" + AfTwinOffset).as("doc_id"), expr(
        "concat(substring(px, 1, p1 - 1), 'z', substring(px, p1 + 1))")
        .as("px"))
    val corpus = base.unionByName(twins)
    def eBand(off: String) =
      s"ascii(substring(px, CAST($off AS INT), 1)) + " +
        s"ascii(substring(px, CAST($off + 1 AS INT), 1))"
    val fp = corpus.select($"doc_id", expr(
      "aggregate(transform(sequence(0, 11), f -> " +
        "aggregate(transform(sequence(0, 2), b -> " +
        s"IF((${eBand("8 * f + 2 * b + 1")}) > " +
        s"(${eBand("8 * f + 2 * b + 3")}), " +
        "shiftleft(1L, CAST(3 * f + b AS INT)), 0L)), " +
        "0L, (a, x) -> a + x)), 0L, (a, x) -> a + x)").as("fp"))
      .trunkCheckpoint()
    // fp checkpointed above: it feeds the rep collapse, both member
    // expansion joins AND both sides of the within-group self-join —
    // lazy, the 96-byte banded-energy fold ran 5×. blocks checkpointed
    // because its self-join (a/b) would re-run the rep collapse twice.
    val reps = fp.groupBy($"fp").agg(min($"doc_id").as("rep_id"))
    val blocks = reps.select($"rep_id", $"fp",
        explode(expr("sequence(0, 2)")).as("blk"))
      .select($"rep_id", $"fp", $"blk",
        expr("shiftright(fp, CAST(blk * 12 AS INT)) & 4095")
          .as("bval"))
      .trunkCheckpoint()
    val verified = blocks.as("a")
      .join(blocks.as("b"),
        $"a.blk" === $"b.blk" && $"a.bval" === $"b.bval" &&
          $"a.rep_id" < $"b.rep_id")
      .select($"a.fp".as("fpa"), $"b.fp".as("fpb"))
      .distinct()
      .select($"fpa", $"fpb",
        expr("bit_count(fpa ^ fpb)").cast("long").as("hamming"))
      .filter($"hamming" <= AfRadius)
    val cross = verified
      .join(fp.select($"doc_id".as("ida"), $"fp".as("fpa")), Seq("fpa"))
      .join(fp.select($"doc_id".as("idb"), $"fp".as("fpb")), Seq("fpb"))
      .select(least($"ida", $"idb").as("doc_a"),
        greatest($"ida", $"idb").as("doc_b"), $"hamming")
    val within = fp.as("x")
      .join(fp.as("y"),
        $"x.fp" === $"y.fp" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        lit(0L).as("hamming"))
    cross.unionByName(within)
  }

  private val AfTwinOffset = 900000L
  private val AfRadius = 2

  private val sqlAudioFingerprintDedup: String = {
    val h = Hashing.sqlHash60("'af1|' || CAST(doc_id AS VARCHAR)")
    def eBand(off: String) =
      s"ascii(substr(px, CAST($off AS INT), 1)) + " +
        s"ascii(substr(px, CAST($off + 1 AS INT), 1))"
    s"""WITH base AS (SELECT doc_id, substr(text, 1, 96) AS px
       |  FROM documents WHERE len(substr(text, 1, 96)) = 96),
       |tw AS (SELECT doc_id, px, CAST($h % 96 + 1 AS INT) AS p1
       |  FROM base),
       |twins AS (SELECT doc_id + $AfTwinOffset AS doc_id,
       |    substr(px, 1, p1 - 1) || 'z' || substr(px, p1 + 1) AS px
       |  FROM tw),
       |corpus AS (SELECT doc_id, px FROM base
       |  UNION ALL SELECT doc_id, px FROM twins),
       |fp AS MATERIALIZED (SELECT doc_id,
       |    list_sum(list_transform(range(0, 12), f ->
       |      list_sum(list_transform(range(0, 3), b ->
       |        CASE WHEN (${eBand("8 * f + 2 * b + 1")}) >
       |          (${eBand("8 * f + 2 * b + 3")})
       |        THEN 1::BIGINT << CAST(3 * f + b AS INT)
       |        ELSE 0::BIGINT END))::BIGINT))::BIGINT AS fp
       |  FROM corpus),
       |blocks AS (SELECT doc_id, fp, blk,
       |    (fp >> CAST(blk * 12 AS INT)) & 4095 AS bval
       |  FROM fp, unnest(range(0, 3)) t(blk))
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
       |FROM blocks a JOIN blocks b
       |  ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fp, b.fp)) <= $AfRadius""".stripMargin
  }

  /** q27 — LSH-bucketed ANN: 6 deterministic hyperplanes prune the scan
    * to the query's bucket before the cosine top-k. */
  val annLshTopK: Q = (s, dir) => {
    import s.implicits._
    val top = Similarity.lshTopK(Tables(s, dir, "embeddings"), 0L, 10,
      NumPlanes, Dims)
    top.withColumn("rank",
        row_number().over(Window.orderBy($"cos_sim".desc, $"vec_id".asc)))
      .select($"vec_id", $"label", round($"cos_sim", 6).as("cos_sim"),
        $"rank")
  }

  /** q129 — multi-probe LSH ANN (q27 with single-bit probing): the
    * query's own bucket plus all 6 one-hyperplane-flip neighbors are
    * searched — the standard recall lever that costs probe-count, not
    * table size or corpus re-hash (Lv 2007). The candidate set is a
    * strict superset of q27's, so top-k can only improve (measured
    * recall@10 vs brute force: 0.1 single-bucket → markedly higher
    * multi-probe at sf0.01; spec asserts per-rank dominance). Probe
    * rows are query-side and broadcast; the corpus is scanned once. */
  val annLshMultiProbe: Q = (s, dir) => {
    import s.implicits._
    val top = Similarity.lshMultiProbeTopK(
      Tables(s, dir, "embeddings"), 0L, 10, NumPlanes, Dims)
    top.withColumn("rank",
        row_number().over(Window.orderBy($"cos_sim".desc, $"vec_id".asc)))
      .select($"vec_id", $"label", round($"cos_sim", 6).as("cos_sim"),
        $"rank")
  }

  /** q40 — embedding-cosine near-dup detection: noisy twin vectors
    * (deterministic exact-decimal noise) planted at vec_id+100000, then
    * LSH-bucket self-join → native-cosine verify ≥ 0.9. The bucket join
    * is the scale path: candidates are per-bucket, never all-pairs. */
  private val NoisePlaneSeed = 7777
  private def noiseVals: IndexedSeq[Double] =
    (0 until Dims).map(d =>
      Similarity.planeWeightK(NoisePlaneSeed, d) / 20000.0)
  private def sqlNoiseList: String =
    (0 until Dims).map(d => java.math.BigDecimal.valueOf(
      Similarity.planeWeightK(NoisePlaneSeed, d) * 5L, 5).toPlainString)
      .mkString("[", ", ", "]")

  val dedupEmbedding: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "embeddings").select($"vec_id", $"embedding")
    val nz = array(noiseVals.map(lit): _*)
    val twins = e.select(($"vec_id" + TwinOffset).as("vec_id"),
      transform(zip_with($"embedding", nz,
          (x, w) => x.cast("double") + w),
        v => v.cast("float")).as("embedding"))
    // exact-dup collapse on the VECTOR itself (the embedding-side twin
    // of nearDupGroups): byte-identical embeddings land in the same
    // bucket with cosine ≈ 1 by construction, so a copy-group of size
    // g would pay g² bucket collisions and cosine verifies for pairs
    // whose verdict is known by identity. Group-by the float array,
    // bucket/verify representatives only, expand members back (cosine
    // is symmetric — no payload swap; within-group pairs carry the
    // self-cosine computed by the SAME float expression the pairwise
    // path would have used, so rounding artifacts stay identical).
    val groups = e.unionByName(twins)
      .groupBy($"embedding")
      .agg(min($"vec_id").as("rep_id"),
        collect_list($"vec_id").as("ids"), count(lit(1)).as("gn"))
      .trunkCheckpoint()
    val wb = groups
      .select($"rep_id".as("vec_id"), $"embedding")
      .withColumn("bucket",
        Similarity.lshBucket($"embedding", NumPlanes, Dims))
    val repPairs = wb.as("a").join(wb.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 6)
          .as("cos_sim"))
      .filter($"cos_sim" >= 0.9)
    val members = groups.select($"rep_id", explode($"ids").as("m"))
    val cross = repPairs
      .join(members.select($"rep_id".as("vec_a"), $"m".as("ma")),
        Seq("vec_a"))
      .join(members.select($"rep_id".as("vec_b"), $"m".as("mb")),
        Seq("vec_b"))
      .select(least($"ma", $"mb").as("vec_a"),
        greatest($"ma", $"mb").as("vec_b"), $"cos_sim")
    val within = groups.filter($"gn" >= 2)
      .select(round(Similarity.cosine($"embedding", $"embedding"), 6)
        .as("cos_sim"), explode($"ids").as("a"), $"ids")
      .select($"cos_sim", $"a", explode($"ids").as("b"))
      .filter($"a" < $"b")
      .select($"a".as("vec_a"), $"b".as("vec_b"), $"cos_sim")
    cross.unionByName(within)
  }

  /** The INGEST-EPOCH trunk shared by q67 and q99 (r8 VERDICT item 9,
    * the q55/q87/q120 pattern applied to the cross-corpus family): the
    * history corpus's exact-dup groups + rep-level LSH bands are the
    * artifact production writes ONCE per ingest epoch and every
    * arriving batch joins against — recomputing them per query
    * minhashed the same documents twice across q67+q99. Four session
    * trunks ([[graft.Materialize.trunk]]): history groups, batch
    * groups, history bands, batch bands. Both corpus halves collapse
    * identical shingle-sets to a representative before banding
    * (nearDupGroups' trick): bucket occupancy and verify work scale
    * with distinct texts, and the `ids` arrays restore members. */
  private def ingestTrunk(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    def trunk(part: String)(build: => DataFrame) =
      graft.Materialize.trunk(s, ("TrainingData", dir, "ingest_" + part))(
        build)
    def d = Tables(s, dir, "documents").select($"doc_id", $"text")
    def batch = d.filter($"doc_id" % 2 === 0)
      .select(($"doc_id" + TwinOffset).as("doc_id"),
        concat($"text", lit(TwinSuffix)).as("text"))
    def collapse(df: DataFrame) = df
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .select($"doc_id",
        TextOps.shinglesFromTokens($"toks", ShingleN).as("sh_set"))
      .groupBy(md5(concat_ws("", $"sh_set")).as("gkey"))
      .agg(min($"doc_id").as("rep_id"), first($"sh_set").as("sh_set"),
        collect_list($"doc_id").as("ids"))
    def bands(g: DataFrame) = Dedup.lshBands(
      Dedup.minhashFromShingleSets(
        g.select($"rep_id".as("doc_id"), $"sh_set"), "doc_id", "sh_set",
        NumHashes),
      NumHashes, RowsPerBand)
    val gD = trunk("history_groups")(collapse(d))
    val gB = trunk("batch_groups")(collapse(batch))
    (gD, gB, trunk("history_bands")(bands(gD)),
      trunk("batch_bands")(bands(gB)))
  }

  /** q67 — incremental cross-corpus near-dup dedup: an arriving batch
    * (perturbed twins of half the corpus) LSH-banded against the banded
    * HISTORY — a band-bucket equi-join between corpora, never the
    * all-pairs product and never a self-join of the union. At scale the
    * history side's signatures/bands are precomputed once and bucketed
    * by (band, band_hash) — here literally: both sides come from
    * [[ingestTrunk]], shared with q99. Candidate generation and the
    * Jaccard ≥ 0.5 verify run once per distinct (history text, batch
    * text) pair — band collision and jaccard are functions of the
    * shingle set alone, so the rep-level pair set expands to exactly
    * the per-doc pair set (the q479 rep-collapse argument). Output =
    * batch docs that must NOT be ingested, with their matched history
    * doc. */
  val incrementalNearDup: Q = (s, dir) => {
    import s.implicits._
    val (gD, gB, bd, bb) = ingestTrunk(s, dir)
    val candRep = bd.as("h").join(bb.as("b"),
        col("h.band") === col("b.band") &&
          col("h.band_hash") === col("b.band_hash"))
      .select(col("h.doc_id").as("hist_rep"),
        col("b.doc_id").as("batch_rep"))
      .distinct()
    val verified = candRep
      .join(gD.select($"rep_id".as("hist_rep"), $"sh_set".as("sh_h")),
        Seq("hist_rep"))
      .join(gB.select($"rep_id".as("batch_rep"), $"sh_set".as("sh_b")),
        Seq("batch_rep"))
      .select($"hist_rep", $"batch_rep",
        round(Dedup.jaccard($"sh_h", $"sh_b"), 6).as("jaccard"))
      .filter($"jaccard" >= 0.5)
    verified
      .join(gD.select($"rep_id".as("hist_rep"),
        explode($"ids").as("hist_id")), Seq("hist_rep"))
      .join(gB.select($"rep_id".as("batch_rep"),
        explode($"ids").as("batch_id")), Seq("batch_rep"))
      .select($"batch_id", $"hist_id", $"jaccard")
  }

  /** q99 — incremental cluster maintenance
    * ([[ConnectedComponents.incremental]]): q55-style near-dup clusters
    * kept current across an ingest batch WITHOUT recomputing over the
    * history's edge set. History clusters (LSH pairs among originals)
    * are contracted to their labels; q67's cross-corpus pairs are the
    * only new edges, mapped through those labels, and the iterative
    * part runs on that delta graph. Batch-internal pairs would be a
    * third edge source in production — out of scope here so the oracle
    * (recursive CTE over history ∪ cross pairs) states the exact same
    * graph. */
  val incrementalClusters: Q = (s, dir) => {
    import s.implicits._
    // one signature/shingle pass per corpus side, reused by BOTH the
    // history self-join and the cross join (the naive composition of
    // q23+q67 minhashes the same documents three times — measured 11 s
    // vs ~4 s at sf0.1), PLUS the exact-dup collapse per side
    // (nearDupGroups' trick, applied to each corpus half): the
    // bucket-collision and verify work scales with distinct texts;
    // member→rep star edges restore the full connectivity for CC.
    // Groups and bands come from [[ingestTrunk]] — shared with q67,
    // materialized once per ingest epoch (r8 VERDICT item 9).
    val d = Tables(s, dir, "documents").select($"doc_id", $"text")
    val batch = d.filter($"doc_id" % 2 === 0)
      .select(($"doc_id" + TwinOffset).as("doc_id"),
        concat($"text", lit(TwinSuffix)).as("text"))
    def repShs(g: DataFrame) =
      g.select($"rep_id".as("doc_id"), $"sh_set")
    def star(g: DataFrame) = g
      .select($"rep_id".as("src"), explode($"ids").as("dst"))
      .filter($"src" =!= $"dst")
    val (gD, gB, bd, bb) = ingestTrunk(s, dir)
    def verified(cand: DataFrame, shA: DataFrame, shB: DataFrame) =
      cand.join(shA.as("sa"), col("src") === col("sa.doc_id"))
        .join(shB.as("sb"), col("dst") === col("sb.doc_id"))
        .filter(round(Dedup.jaccard(col("sa.sh_set"), col("sb.sh_set")), 6)
          >= 0.5)
        .select(col("src"), col("dst"))
    val histEdges = verified(
      bd.as("a").join(bd.as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_hash") === col("b.band_hash") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
        .distinct(), repShs(gD), repShs(gD))
      .unionByName(star(gD))
    val crossEdges = verified(
      bd.as("h").join(bb.as("b"),
          col("h.band") === col("b.band") &&
            col("h.band_hash") === col("b.band_hash"))
        .select(col("h.doc_id").as("src"), col("b.doc_id").as("dst"))
        .distinct(), repShs(gD), repShs(gB))
      .unionByName(star(gB))
    // history labels as a session trunk (r10 VERDICT item 4): the
    // history CC problem's fixpoint is ingest-epoch state, not
    // per-query work — the same persisted-artifact boundary as
    // ingestTrunk one level down. Only the returned labels are pinned;
    // minLabel's per-round checkpoints are released as usual.
    val oldLabels = graft.Materialize.trunk(s,
        ("TrainingData", dir, "history_labels")) {
      ConnectedComponents.minLabel(d.select($"doc_id".as("id")), histEdges)
    }
    val batchNodes = batch.select($"doc_id".as("id"))
    val labels = ConnectedComponents.incremental(
      oldLabels, batchNodes, crossEdges)
    val sizes = labels.groupBy($"component")
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("component"))
      .select($"id".as("doc_id"), $"component", $"cluster_size")
  }

  /** q100 — product-quantization ANN ([[Similarity.pqTopK]]): 64-dim
    * vectors compress to 4 subspace codes against trained codebooks and
    * the whole corpus ranks from a 4×4 ADC lookup table — no full
    * vector is touched at query time. Exact-integer training and
    * distances (micro-unit quantization, trunc-division centroid
    * means), so the DuckDB oracle replays the identical computation. */
  val PqM = 8
  val PqSubDims = Dims / PqM
  val PqInitIds: Seq[Long] = (0 until 16).map(_ * 31L + 1L)
  val IvfCoarseIds: Seq[Long] = (0 until 8).map(_ * 61L + 2L)
  val IvfPqNprobe = 3
  val pqAnn: Q = (s, dir) => {
    import s.implicits._
    Similarity.pqTopK(
      Tables(s, dir, "embeddings").select($"vec_id", $"embedding"),
      queryId = 0L, topN = 10, m = PqM, subDims = PqSubDims,
      initIds = PqInitIds)
  }

  /** q101 — IVF+PQ serving composition ([[Similarity.ivfPqTopK]],
    * FAISS's IVFPQ shape): coarse cells route the query to nprobe=3 of
    * 8 partitions, ADC runs only over those cells' codes, the exact
    * re-rank reads only the shortlist. Same integer arithmetic, same
    * oracle discipline as q100. */
  val ivfPqAnn: Q = (s, dir) => {
    import s.implicits._
    Similarity.ivfPqTopK(
      Tables(s, dir, "embeddings").select($"vec_id", $"embedding"),
      queryId = 0L, topN = 10, m = PqM, subDims = PqSubDims,
      initIds = PqInitIds, coarseIds = IvfCoarseIds, nprobe = IvfPqNprobe)
  }

  /** q106 — int8 scalar quantization of the embedding corpus (the
    * 4×-compression step serving stacks apply BEFORE any PQ/IVF
    * exotics): per-dimension corpus min/max (64 rows — broadcasts at
    * any corpus size) maps each value to a 0..255 code; each vector
    * reports its code sum plus exact reconstruction-error stats. All
    * arithmetic is integer micro-units with truncating division, so
    * codes and errors are bit-identical across engines and cluster
    * sizes — this is the quantization AUDIT a pipeline runs to decide
    * whether int8 serving is safe for its corpus. Scale: one shuffle
    * of (dim, partial-min/max) for stats, then a map-only encode pass;
    * vectors never shuffle. */
  val int8Quantize: Q = (s, dir) => {
    import s.implicits._
    val mv = Tables(s, dir, "embeddings")
      .select($"vec_id", expr(
        "transform(embedding, v -> " +
          "cast(round(cast(v AS double) * 1000000.0) AS bigint))").as("mv"))
    val vals = mv.select($"vec_id",
      posexplode($"mv").as(Seq("dim", "v")))
    val stats = vals.groupBy($"dim")
      .agg(min($"v").as("mn"), max($"v").as("mx"))
      .withColumn("span", $"mx" - $"mn")
    vals.join(broadcast(stats), Seq("dim"))
      .withColumn("q",
        when($"span" === 0L, 0L)
          .otherwise(expr("(255 * (v - mn)) div span")))
      .withColumn("r",
        when($"span" === 0L, $"mn")
          .otherwise($"mn" + expr("(q * span) div 255")))
      .withColumn("err", abs($"r" - $"v"))
      .groupBy($"vec_id")
      .agg(sum($"q").as("q_sum"),
        sum($"err" * $"err").as("sse_micro2"),
        max($"err").as("max_abs_err_micro"))
  }

  /** q68 — per-label embedding centroid + outlier scoring (corpus QC):
    * the centroid is a tiny per-group aggregate (posexplode → per-dim
    * sum → re-assembled in dimension order) that BROADCASTS back onto
    * the vectors; each vector reports its cosine to its own centroid.
    * One shuffle of (label, dim) partial sums — never the vectors
    * themselves. Portability: each value is quantized to an exact
    * integer micro-unit (round(v·10⁶) on the IEEE double both engines
    * share — decimal CASTs of floats are NOT cross-engine stable at the
    * last ulp) and summed as longs: exact and order-independent where
    * a float/double sum is neither. Cosine is scale-invariant, so the
    * un-divided sum IS the centroid for similarity purposes. */
  val centroidOutliers: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
    val centroids = e
      .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
      .groupBy($"label", $"dim")
      .agg(sum(round($"v".cast("double") * 1000000.0).cast("long"))
        .as("c"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"dim", $"c"))).as("pairs"))
      .select($"label",
        transform($"pairs", p => p.getField("c").cast("float"))
          .as("centroid"))
    e.join(broadcast(centroids), Seq("label"))
      .select($"vec_id", $"label",
        round(Similarity.cosine($"embedding", $"centroid"), 6)
          .as("centroid_sim"))
      .withColumn("is_outlier", $"centroid_sim" < 0.1)
  }

  /** q42 — IVF-style ANN: nearest-of-16-centroids cell assignment, then
    * top-10 within the query's cell (nprobe=1). */
  private val NumCells = 16
  val annIvfTopK: Q = (s, dir) => {
    import s.implicits._
    val top = Similarity.ivfTopK(Tables(s, dir, "embeddings"), 0L, 10,
      NumCells)
    top.withColumn("rank",
        row_number().over(Window.orderBy($"cos_sim".desc, $"vec_id".asc)))
      .select($"vec_id", $"label", round($"cos_sim", 6).as("cos_sim"),
        $"rank")
  }

  /** q110 — batch ANN serving: every 25th vector plays an incoming
    * QUERY BATCH (the production shape — requests arrive in batches,
    * not one at a time like q42/q74), and each query retrieves its
    * top-3 neighbors from its own IVF cell (nprobe=1, q42's coarse
    * quantizer). One equi-join on the cell id serves the whole batch:
    * the query side is batch-sized → broadcast, so the corpus side
    * NEVER shuffles — scans its cells in place, exactly how an
    * embedding index serves lookups at 100 TB. Per-query top-3 is a
    * rank over (q_id) — WindowGroupLimit cuts candidates to ≤3 per
    * partition before the exchange, so the shuffle carries
    * O(batch × k), not O(batch × cell). */
  val annBatchServe: Q = (s, dir) => {
    import s.implicits._
    val assigned = Similarity.ivfAssign(
      Tables(s, dir, "embeddings"), NumCells)
    val qs = assigned.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"cid")
    val w = Window.partitionBy($"q_id")
      .orderBy($"cos_sim".desc, $"vec_id".asc)
    assigned.join(broadcast(qs), Seq("cid"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", $"label",
        Similarity.cosine($"embedding", $"qv").as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"q_id", $"vec_id", $"label",
        round($"cos_sim", 6).as("cos_sim"), $"rank")
  }

  /** q145 — syndication detection (cross-source duplicate attribution):
    * which source pairs publish byte-identical content — the dedup
    * signal that drives source-level dedup policy (keep the
    * originator, drop the wire mirror) rather than per-document
    * decisions. A 'wire' feed is planted (every 5th doc re-attributed,
    * the twin-corpus pattern) since the synthetic corpus has no
    * natural syndication. Pairs form per content hash: hashes collapse
    * first (uniform md5 key, skew-free), sources per hash collect into
    * a sorted set, pairs explode from sets (bounded by sources², never
    * corpus²), then one count per pair. */
  val syndicationReport: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "documents").select($"source", $"text")
    val corpus = d.unionByName(
      Tables(s, dir, "documents").filter($"doc_id" % 5 === 0)
        .select(lit("wire").as("source"), $"text"))
    val perHash = corpus.select(md5($"text").as("h"), $"source")
      .distinct()
      .groupBy($"h")
      .agg(array_sort(collect_set($"source")).as("srcs"))
      .filter(size($"srcs") >= 2)
    perHash
      .select($"h", explode($"srcs").as("source_a"), $"srcs")
      .select($"h", $"source_a", explode($"srcs").as("source_b"))
      .filter($"source_a" < $"source_b")
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_shared_docs"))
  }

  /** q137 — farthest-point (k-center greedy) diversity sampling, 3
    * unrolled rounds: start from vector 0, repeatedly add the vector
    * farthest (min-cosine, i.e. most dissimilar) from the selected
    * set — the coreset primitive behind diverse-subset selection for
    * annotation budgets and eval-set construction. Each round is ONE
    * corpus scan: min-over-selected cosine per vector (the selected
    * set is ≤k rows, broadcast), then a deterministic argmin
    * (min cos, tie → lowest vec_id) via TakeOrderedAndProject. k
    * rounds = k scans — the standard 2-approximation, embarrassingly
    * parallel per round; nothing is driver-side except the k-row
    * selected set. */
  val farthestPointSample: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding").trunkCheckpoint()
    def farthest(selected: DataFrame): DataFrame =
      e.join(broadcast(selected.select($"vec_id")), Seq("vec_id"),
          "left_anti")
        .crossJoin(broadcast(selected.select($"embedding".as("sv"))))
        .groupBy($"vec_id")
        .agg(min(Similarity.cosine($"embedding", $"sv")).as("min_cos"))
        .orderBy($"min_cos".asc, $"vec_id".asc).limit(1)
        .select($"vec_id", $"min_cos")
    // f1/f2 pinned (ONE row each): every farthest() is a full corpus
    // argmin, and each fk is read both by the next round's selected
    // set and by the final union — lazy, round k re-ran every earlier
    // round's corpus pass (98-Exchange plan)
    val s0 = e.filter($"vec_id" === 0L)
    val f1 = farthest(s0).trunkCheckpoint()
    val s1 = s0.unionByName(
      e.join(f1.select($"vec_id"), Seq("vec_id")))
    val f2 = farthest(s1).trunkCheckpoint()
    val s2 = s1.unionByName(
      e.join(f2.select($"vec_id"), Seq("vec_id")))
    val f3 = farthest(s2)
    s0.select($"vec_id", lit(0).as("round"),
        lit(null).cast("double").as("min_cos"))
      .unionByName(f1.select($"vec_id", lit(1).as("round"),
        round($"min_cos", 6).as("min_cos")))
      .unionByName(f2.select($"vec_id", lit(2).as("round"),
        round($"min_cos", 6).as("min_cos")))
      .unionByName(f3.select($"vec_id", lit(3).as("round"),
        round($"min_cos", 6).as("min_cos")))
  }

  /** q134 — stratified train/val/test split: every document assigned
    * 80/10/10 by the stateless hash threshold WITHIN its source
    * stratum (the salt includes the source, so one pathological source
    * cannot skew another's split) — the canonical corpus split that
    * must be reproducible forever: membership is a pure function of
    * (source, doc_id), no RNG state, no count, no sort, identical on
    * any cluster. Output keeps the assignment per doc plus per-stratum
    * realized counts for the split audit. */
  val stratifiedSplit: Q = (s, dir) => {
    import s.implicits._
    val h = Hashing.hash60(concat(lit("split|"), $"source", lit("|"),
      $"doc_id".cast("string"))) % 100
    val assigned = Tables(s, dir, "documents")
      .select($"doc_id", $"source",
        when(h < 80, "train").when(h < 90, "val").otherwise("test")
          .as("split"))
    val sizes = assigned.groupBy($"source", $"split")
      .agg(count(lit(1)).as("stratum_n"))
    assigned.join(sizes, Seq("source", "split"))
      .select($"doc_id", $"source", $"split", $"stratum_n")
  }

  /** q136 — label-noise detection by neighborhood voting (confident-
    * learning-lite): a vector whose own label disagrees with the
    * majority label of its LSH bucket is flagged as suspect — the
    * cheap first pass before anyone re-annotates. Bucket majority is
    * one (bucket, label) count + a WindowGroupLimit argmax (ties to
    * the smaller label); vectors join their bucket's verdict back by
    * bucket id. Everything is bucket-keyed — no all-pairs kNN, and the
    * bucket table is corpus-sized/2^planes. */
  val labelNoise: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
      .withColumn("bucket",
        Similarity.lshBucket($"embedding", NumPlanes, Dims))
    val w = Window.partitionBy($"bucket")
      .orderBy($"n".desc, $"label".asc)
    val majority = e.groupBy($"bucket", $"label")
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"bucket", $"label".as("majority_label"),
        $"n".as("majority_n"))
    e.join(majority, Seq("bucket"))
      .select($"vec_id", $"label", $"bucket", $"majority_label",
        ($"label" =!= $"majority_label").as("suspect"))
  }

  /** q124 — bitext mining (cross-lingual nearest pairing): every
    * non-English document is paired with its closest English document
    * by embedding cosine — the alignment step that harvests parallel
    * training pairs from a multilingual crawl (LASER/CCMatrix shape).
    * Candidates come from the SAME LSH hyperplane buckets as q27 (a
    * query only meets English vectors in its own bucket — never the
    * all-pairs cross join), and the per-query argmax is a
    * WindowGroupLimit-cut rank. Queries missing an English neighbor in
    * their bucket drop — the standard recall/nprobe trade, measured by
    * the row count. Lang rides in from the documents table on the
    * shared id space. */
  val bitextPairs: Q = (s, dir) => {
    import s.implicits._
    val lang = Tables(s, dir, "documents")
      .select($"doc_id".as("vec_id"), $"lang")
    val e = Tables(s, dir, "embeddings").join(lang, Seq("vec_id"))
      .withColumn("bucket",
        Similarity.lshBucket($"embedding", NumPlanes, Dims))
    val w = Window.partitionBy($"q_id")
      .orderBy($"cos_sim".desc, $"vec_id".asc)
    e.filter($"lang" =!= "en")
      .select($"vec_id".as("q_id"), $"lang", $"embedding".as("qv"),
        $"bucket")
      .join(e.filter($"lang" === "en")
        .select($"vec_id", $"embedding", $"bucket"), Seq("bucket"))
      .select($"q_id", $"lang", $"vec_id",
        Similarity.cosine($"embedding", $"qv").as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" === 1)
      .select($"q_id", $"lang", $"vec_id".as("en_vec_id"),
        round($"cos_sim", 6).as("cos_sim"))
  }

  /** q111 — random-projection dimensionality reduction (Johnson–
    * Lindenstrauss with a Rademacher ±1 matrix): 64-dim embeddings
    * compressed to 8 dims ahead of ANN indexing/clustering — the cheap
    * embedding-compression step between q106's int8 quantization (same
    * width, fewer bits) and PQ (fewer dims, codebooks). The sign
    * matrix is derived from hash60 at PLAN time (like the LSH planes:
    * literals in the plan, no per-row hashing, no data dependence) and
    * the projection is map-only — zero shuffles at any corpus size.
    * Components are quantized to exact micro-unit longs BEFORE the
    * ±-sum, so every projected coordinate is exact integer arithmetic:
    * order-independent, bit-identical on any partitioning and any
    * engine. The JL audit rides along: ‖p‖²/(m·‖q‖²) ≈ 1 per vector
    * (E[p_j²] = ‖q‖² for Rademacher projections). */
  private val JlOutDims = 8
  private def jlSigns: Array[Array[Long]] =
    Array.tabulate(JlOutDims, Dims)((j, i) =>
      if (Hashing.hash60(s"jl|$j|$i") % 2 == 0) 1L else -1L)
  val jlProject: Q = (s, dir) => {
    import s.implicits._
    val signs = jlSigns
    val base = Tables(s, dir, "embeddings").select($"vec_id",
      transform($"embedding",
        e => round(e.cast("double") * 1000000.0).cast("long")).as("q"))
    val projCols = (0 until JlOutDims).map { j =>
      val sArr = array(signs(j).map(lit(_)): _*)
      aggregate(zip_with($"q", sArr, (e, sg) => e * sg),
        lit(0L), (a, x) => a + x).as(s"p$j")
    }
    val qn = aggregate(transform($"q", x => x * x),
      lit(0L), (a, x) => a + x).as("qn")
    val projected = base.select(($"vec_id" +: qn +: projCols): _*)
    val pn = (0 until JlOutDims).map(j => col(s"p$j") * col(s"p$j"))
      .reduce(_ + _)
    projected.select(
      ($"vec_id" +:
        (0 until JlOutDims).map(j => col(s"p$j"))) :+
        round(pn.cast("double") /
          (lit(JlOutDims.toDouble) * $"qn".cast("double")) * 1000000.0)
          .cast("long").as("norm_ratio_micro"): _*)
  }

  /** q73 — distributed k-means training (2 unrolled Lloyd iterations,
    * spherical): the trained form of q42's IVF coarse quantizer. Init =
    * the first K vectors (deterministic); each iteration broadcasts the
    * K centroids, assigns by max-cosine, and rebuilds centroids as
    * exact integer micro-unit sums (order-independent — see
    * Similarity.kmeansUpdate; cosine's scale-invariance makes the
    * un-divided sum the centroid, so no cross-engine float division).
    * Per iteration: one broadcast + one (cid, dim) partial-sum shuffle
    * — the vectors themselves never shuffle, which is the property
    * that matters at 100 TB. The iteration state is materialized per
    * round (`localCheckpoint`, as ConnectedComponents does) — without
    * it the iter-1 assignment subtree runs three times (once for the
    * centroid update, once for iter-2's input, once for the output
    * join). Output: per-vector trajectory (iter-1 vs iter-2 cell,
    * movement flag) + final cluster size. */
  private val KmK = 8
  val kmeansTrain: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
    val init = e.filter($"vec_id" < KmK)
      .select($"vec_id".as("cid"), $"embedding".as("cemb"))
    val a1 = Similarity.kmeansAssign(e, init).trunkCheckpoint()
    val a2 = Similarity.kmeansAssign(e, Similarity.kmeansUpdate(a1))
    a1.select($"vec_id", $"label", $"cid".as("cid_iter1"))
      .join(a2.select($"vec_id", $"cid".as("cid_iter2")), Seq("vec_id"))
      .withColumn("moved", $"cid_iter1" =!= $"cid_iter2")
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy($"cid_iter2")))
  }

  /** q74 — ANN over the TRAINED IVF index with nprobe=2: k-means
    * centroids from q73's one full Lloyd round quantize the corpus; the
    * query scans its two nearest cells' inverted lists. The nprobe dial
    * is what production tunes for recall vs cost (nprobe=1 ≈ q42's
    * shape; spec measures the recall gain of the trained quantizer +
    * second probe against brute force). */
  private val IvfNprobe = 2
  val annIvfTrainedTopK: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
    val init = e.filter($"vec_id" < KmK)
      .select($"vec_id".as("cid"), $"embedding".as("cemb"))
    val trained = Similarity.kmeansUpdate(Similarity.kmeansAssign(e, init))
    val top = Similarity.ivfProbeTopK(e, trained, 0L, 10, IvfNprobe)
    top.withColumn("rank",
        row_number().over(Window.orderBy($"cos_sim".desc, $"vec_id".asc)))
      .select($"vec_id", $"label", round($"cos_sim", 6).as("cos_sim"),
        $"rank")
  }

  /** q84 — k-NN graph construction (the batch "top-k neighbors for
    * EVERY vector" join behind SemDeDup-style cluster curation, not
    * just one query's top-k): LSH-bucket self-join prunes candidates
    * to same-bucket pairs (O(Σ bucket²), never all-pairs), native
    * cosine scores them, and the per-vector rank filter takes the
    * WindowGroupLimit path (≤k rows per vector kept before the
    * shuffle). Vectors in singleton buckets legitimately have no
    * neighbors — recall/coverage is the LSH dial (more probes = more
    * planes unioned), same trade as q27.
    *
    * Plane depth FOLLOWS THE CORPUS ([[planesFor]]): with a fixed
    * plane count, bucket occupancy grows linearly in N and the
    * same-bucket self-join quadratically — the r7 100× probe measured
    * e = 1.20 on the fixed-depth form. Depth ⌈log₂(N/16)⌉ (floored at
    * the static 6) holds expected occupancy at ~16, making the build
    * O(N·16) at any corpus size; past that, recall is bought with
    * multi-probe (q129's dial), never bucket bloat. At the gate and
    * bench SFs (N ≤ 1024 vectors) the formula resolves to exactly the
    * static 6 planes, so the DuckDB oracle's 6-plane mirror pins the
    * same semantics. The one driver-side count() is a metadata-only
    * scalar (the BPE-argmax precedent). */
  private val KnnK = 3

  /** Smallest p with 2^p ≥ ⌈n/target⌉, floored at the static
    * [[NumPlanes]] — integer arithmetic so plane depth can never
    * wobble on a float-log boundary. */
  private[graft] def planesFor(n: Long, target: Long = 16L): Int = {
    val q = math.max((n + target - 1) / target, 1L)
    val needed = 64 - java.lang.Long.numberOfLeadingZeros(q - 1)
    math.max(NumPlanes, needed.toInt)
  }

  val knnGraph: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
    val wb = e.withColumn("bucket",
      Similarity.lshBucket($"embedding", planesFor(e.count()), Dims))
    val pairs = wb.as("a").join(wb.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"),
        col("b.vec_id").as("neighbor_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding"))
          .as("cs"))
    val w = Window.partitionBy($"vec_id")
      .orderBy($"cs".desc, $"neighbor_id".asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter($"rank" <= KnnK)
      .select($"vec_id", $"neighbor_id", round($"cs", 6).as("cos_sim"),
        $"rank")
  }

  /** q446 — reciprocal nearest neighbors: pairs where each vector is
    * the OTHER's top-1 neighbor (the mutual-argmax rule bitext mining
    * and RNN-clustering use to cut false pairs — one-sided nearest is
    * noisy, mutual is high-precision). Pure composition on q84's kNN
    * trunk: rank-1 edges self-joined on the reversed key, canonical
    * a<b orientation. The self-join keys on vec_id (uniform), never on
    * similarity — no new scale surface beyond q84. */
  val reciprocalNn: Q = (s, dir) => {
    import s.implicits._
    val top1 = knnGraph(s, dir).filter($"rank" === 1)
      .select($"vec_id", $"neighbor_id", $"cos_sim")
    top1.as("a").join(top1.as("b"),
        col("a.neighbor_id") === col("b.vec_id") &&
          col("b.neighbor_id") === col("a.vec_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"),
        col("a.neighbor_id").as("vec_b"), col("a.cos_sim"))
  }

  /** q451 — c-TF-IDF cluster labeling (the BERTopic §3.3 step a
    * curation pipeline runs after clustering to NAME what each
    * embedding cluster is about): per trained k-means cell (q73/q74's
    * one-Lloyd-round quantizer, doc_id = vec_id), the top-5 terms by
    * class-based TF-IDF — tf(t, cell) · ln(1 + A/f(t)) with A the
    * per-cell token budget and f the corpus term frequency. Exactness:
    * A is the integer `total div K`, the idf factor is ln of exact
    * longs micro-quantized PER TERM (the q77/q121 value-type
    * discipline), and the score is the exact product tf · w_micro —
    * aggregation order can never move a rank. Scale: term frames are
    * vocab-bounded (Zipf-collapsed); the only corpus-sized exchanges
    * are the token explode and the doc→cell join on the uniform id;
    * the per-cell top-5 rank-cuts via WindowGroupLimit. */
  val ctfidfClusterTerms: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
    val init = e.filter($"vec_id" < KmK)
      .select($"vec_id".as("cid"), $"embedding".as("cemb"))
    val trained = Similarity.kmeansUpdate(
      Similarity.kmeansAssign(e, init).trunkCheckpoint())
    val assign = Similarity.kmeansAssign(e, trained)
      .select($"vec_id", $"cid")
    val toks = Tables(s, dir, "documents")
      .select($"doc_id", explode(TextOps.tokens($"text")).as("t"))
      .join(assign, $"doc_id" === $"vec_id")
    val tf = toks.groupBy($"cid", $"t").agg(count(lit(1)).as("tf"))
    val f = toks.groupBy($"t").agg(count(lit(1)).as("f"))
    val tot = toks.agg(count(lit(1)).as("n"))
    val w = f.crossJoin(broadcast(tot))
      .select($"t",
        round(log(lit(1.0) + expr("n div " + KmK).cast("double") /
          $"f".cast("double")) * 1000000.0).cast("long").as("w_micro"))
    val rk = Window.partitionBy($"cid")
      .orderBy(($"tf" * $"w_micro").desc, $"t".asc)
    tf.join(w, Seq("t"))
      .withColumn("score_micro", $"tf" * $"w_micro")
      .withColumn("rnk", row_number().over(rk).cast("long"))
      .filter($"rnk" <= 5)
      .select($"cid", $"t".as("term"), $"tf", $"score_micro", $"rnk")
      .orderBy($"cid", $"rnk")
  }

  private lazy val sqlCtfidfClusterTerms: String =
    s"""WITH $sqlKmeansCtes,
       |tok AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS t
       |  FROM documents),
       |j AS (SELECT r2.cid, t FROM tok JOIN r2 ON doc_id = vec_id),
       |tf AS (SELECT cid, t, count(*)::BIGINT AS tf FROM j GROUP BY 1, 2),
       |f AS (SELECT t, count(*)::BIGINT AS f FROM j GROUP BY t),
       |tot AS (SELECT count(*)::BIGINT AS n FROM j),
       |w AS (SELECT t, CAST(round(ln(1.0 +
       |    CAST(n // $KmK AS DOUBLE) / CAST(f AS DOUBLE)) * 1000000.0)
       |    AS BIGINT) AS w_micro
       |  FROM f CROSS JOIN tot),
       |s AS (SELECT cid, tf.t, tf, tf * w_micro AS score_micro,
       |    row_number() OVER (PARTITION BY cid
       |      ORDER BY tf * w_micro DESC, tf.t ASC)::BIGINT AS rnk
       |  FROM tf JOIN w ON tf.t = w.t)
       |SELECT cid, t AS term, tf, score_micro, rnk
       |FROM s WHERE rnk <= 5 ORDER BY cid, rnk""".stripMargin

  private lazy val sqlKnnGraph: String = {
    val cos = sqlCosCols("a.embedding", "b.embedding")
    s"""WITH wb AS (SELECT vec_id, embedding, $sqlBucket AS bucket
       |  FROM embeddings),
       |p AS (SELECT a.vec_id, b.vec_id AS neighbor_id, $cos AS cs
       |  FROM wb a JOIN wb b
       |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |r AS (SELECT vec_id, neighbor_id, cs, row_number() OVER
       |    (PARTITION BY vec_id ORDER BY cs DESC, neighbor_id) AS rank
       |  FROM p)
       |SELECT vec_id, neighbor_id, round(cs, 6) AS cos_sim,
       |  CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= $KnnK""".stripMargin
  }

  /** q85 — SemDeDup-style semantic dedup decision: q40's embedding
    * near-dup PAIRS (LSH buckets → cosine ≥ 0.9 over the twin-planted
    * corpus) closed into clusters by min-label propagation, then keep
    * exactly one representative per semantic cluster (the min id —
    * deterministic). This is the embedding-space mirror of q55's
    * MinHash pipeline: pairs are necessary but dedup DECISIONS need
    * the transitive closure, or chains A~B~C keep both endpoints. */
  val semanticDedup: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "embeddings").select($"vec_id")
    val nodes = e.unionByName(
        e.select(($"vec_id" + TwinOffset).as("vec_id")))
      .select($"vec_id".as("id"))
    val edges = dedupEmbedding(s, dir)
      .select($"vec_a".as("src"), $"vec_b".as("dst"))
    graft.functions.ConnectedComponents.minLabel(nodes, edges)
      .select($"id".as("vec_id"), $"component",
        ($"id" === $"component").as("keep"))
  }

  // -------------------------------------------------------- text analysis

  private val EnWords = Seq("the", "a", "of", "and", "to", "in", "is")
  private val FrWords = Seq("le", "la", "les", "et", "de", "un")
  private val DeWords = Seq("der", "die", "das", "und", "ein")
  private val EsWords = Seq("el", "los", "las", "y", "una")

  /** q28 — n-gram-heuristic language ID: stopword hits per language,
    * fixed-priority argmax. */
  val langId: Q = (s, dir) => {
    import s.implicits._
    val toks = TextOps.tokens($"text")
    def hits(ws: Seq[String]) = size(filter(toks, t => t.isin(ws: _*)))
    Tables(s, dir, "documents")
      .select($"doc_id", $"lang",
        hits(EnWords).as("en_hits"), hits(FrWords).as("fr_hits"),
        hits(DeWords).as("de_hits"), hits(EsWords).as("es_hits"))
      .withColumn("lang_pred",
        when($"en_hits" >= $"fr_hits" && $"en_hits" >= $"de_hits" &&
          $"en_hits" >= $"es_hits" && $"en_hits" > 0, "en")
          .when($"fr_hits" >= $"de_hits" && $"fr_hits" >= $"es_hits" &&
            $"fr_hits" > 0, "fr")
          .when($"de_hits" >= $"es_hits" && $"de_hits" > 0, "de")
          .when($"es_hits" > 0, "es")
          .otherwise("unknown"))
  }

  /** q203 — classifier evaluation card: per-class precision / recall /
    * F1 for the q28 language-ID heuristic against the stored label.
    * The corpus collapses to the confusion MATRIX (one map-side-
    * combined count over (truth, prediction) — O(classes²) rows);
    * marginals give support (tp+fn) and predicted volume (tp+fp);
    * classes = full outer of the two marginals so never-predicted and
    * never-true classes both get a row. Every metric is an exact
    * integral micro-division; F1 composes the micro values
    * (2·p·r div (p+r)) so it is integer-deterministic too. NULL where
    * undefined (no predictions / no support / p+r = 0), with
    * greatest(..,1) guards because constraint inference can evaluate
    * the division before the when-guard (see q197). */
  val classifierEval: Q = (s, dir) => {
    import s.implicits._
    val conf = langId(s, dir).select($"lang", $"lang_pred")
      .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n"))
    val byTrue = conf.groupBy($"lang").agg(sum($"n").as("n_true"))
      .select($"lang".as("cls"), $"n_true")
    val byPred = conf.groupBy($"lang_pred").agg(sum($"n").as("n_pred"))
      .select($"lang_pred".as("cls"), $"n_pred")
    val diag = conf.filter($"lang" === $"lang_pred")
      .select($"lang".as("cls"), $"n".as("tp"))
    byTrue.join(byPred, Seq("cls"), "full_outer")
      .join(diag, Seq("cls"), "left")
      .select($"cls", coalesce($"tp", lit(0L)).as("tp"),
        coalesce($"n_true", lit(0L)).as("support"),
        coalesce($"n_pred", lit(0L)).as("predicted"))
      .withColumn("prec_micro", when($"predicted" > 0,
        expr("(1000000 * tp) div greatest(predicted, 1L)")))
      .withColumn("rec_micro", when($"support" > 0,
        expr("(1000000 * tp) div greatest(support, 1L)")))
      .withColumn("f1_micro",
        when($"prec_micro".isNotNull && $"rec_micro".isNotNull &&
          $"prec_micro" + $"rec_micro" > 0,
          expr("(2 * prec_micro * rec_micro)" +
            " div greatest(prec_micro + rec_micro, 1L)")))
  }

  /** q204 — Cohen's kappa for the same heuristic-vs-label pair:
    * chance-corrected agreement, FULLY integer — κ = (N·Σdiag − Σrᵢcᵢ)
    * / (N² − Σrᵢcᵢ) as one decimal(38,0) integral micro-division
    * (observed and expected agreement reported on the same grid). The
    * expected term joins the two O(classes) marginals on class —
    * nothing bigger than the confusion matrix ever materializes. */
  val cohensKappa: Q = (s, dir) => {
    import s.implicits._
    val conf = langId(s, dir).select($"lang", $"lang_pred")
      .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n"))
    val byTrue = conf.groupBy($"lang").agg(sum($"n").as("n_true"))
    val byPred = conf.groupBy($"lang_pred").agg(sum($"n").as("n_pred"))
    val pe = byTrue.join(byPred, $"lang" === $"lang_pred")
      .agg(sum(expr("CAST(n_true AS DECIMAL(38,0)) * n_pred")).as("pe_num"))
    val agg = conf.agg(sum($"n").as("nn"),
      sum(when($"lang" === $"lang_pred", $"n").otherwise(0L)).as("diag"))
    agg.crossJoin(broadcast(pe))
      .select($"nn".as("n"), $"diag",
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * diag" +
          " div CAST(nn AS DECIMAL(38,0)) AS BIGINT)").as("po_micro"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * pe_num" +
          " div (CAST(nn AS DECIMAL(38,0)) * nn) AS BIGINT)")
          .as("pe_micro"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0))" +
          " * (CAST(nn AS DECIMAL(38,0)) * diag - pe_num)" +
          " div (CAST(nn AS DECIMAL(38,0)) * nn - pe_num) AS BIGINT)")
          .as("kappa_micro"))
  }

  /** q29 — document quality scoring: length/stopword-ratio features. */
  val qualityScore: Q = (s, dir) => {
    import s.implicits._
    val toks = TextOps.tokens($"text")
    val enHits = size(filter(toks, t => t.isin(EnWords: _*)))
    Tables(s, dir, "documents")
      .select($"doc_id",
        size(toks).as("n_words"),
        length(regexp_replace(lower($"text"), "[^a-z]", ""))
          .as("n_letters"),
        enHits.as("stop_hits"))
      // nullif guard: a letter-free document has zero tokens and ANSI
      // mode turns the division into a query-killing DIVIDE_BY_ZERO
      .withColumn("avg_word_len",
        round($"n_letters".cast("double") / nullif($"n_words", lit(0)), 6))
      .withColumn("stop_ratio",
        round($"stop_hits".cast("double") / nullif($"n_words", lit(0)), 6))
      .withColumn("quality",
        round(least(lit(1.0), $"n_words" / 100.0) *
          (lit(1.0) - $"stop_ratio"), 6))
  }

  /** q30 — token counting: whitespace tokens + BPE-ish regex pieces. */
  val tokenCount: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "documents").select($"doc_id", $"n_chars",
      size(split($"text", "\\s+")).as("ws_tokens"),
      regexp_count($"text", lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
        .as("bpe_pieces"),
      length($"text").cast("long").as("len_chars"),
      octet_length($"text").cast("long").as("len_bytes"))
  }

  /** q31 — document fingerprint: min over rolling character-8-gram
    * hashes (winnowing-style content signature). */
  /** q115 — character-entropy quality signal: per-document Shannon
    * entropy of the [a-z] character distribution — the cheap gibberish
    * / mojibake / base64-blob detector (natural language sits ~2.5-3.2
    * nats; key-smash and encoded blobs drift toward uniform ~3.26,
    * repeated-char spam toward 0). H = ln n − Σ c·ln c / n computed
    * entirely from exact longs: ln(c) is quantized per (doc, char)
    * GROUP (≤26 rows per doc), weighted by the exact count, summed as
    * longs, and divided by integer division — order-independent and
    * engine-exact, same discipline as q77/q89. Shuffle: (doc, char)
    * pairs — ≤26× docs rows, map-side combined. */
  val charEntropy: Q = (s, dir) => {
    import s.implicits._
    val counts = Tables(s, dir, "documents")
      .select($"doc_id", explode(split(
        regexp_replace(lower($"text"), "[^a-z]", ""), "")).as("ch"))
      .filter($"ch" =!= "")
      .groupBy($"doc_id", $"ch").agg(count(lit(1)).as("c"))
    counts
      .select($"doc_id", $"c",
        ($"c" * round(log($"c".cast("double")) * 1000000.0).cast("long"))
          .as("wlnc_u"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_chars_az"), sum($"wlnc_u").as("s_u"))
      .select($"doc_id", $"n_chars_az",
        (round(log($"n_chars_az".cast("double")) * 1000000.0).cast("long")
          - expr("s_u div n_chars_az")).as("entropy_micro"))
  }

  val fingerprint: Q = (s, dir) => {
    import s.implicits._
    val nGrams = greatest(length($"text") - 7, lit(1))
    Tables(s, dir, "documents").select($"doc_id",
      array_min(transform(sequence(lit(1), nGrams),
        i => Hashing.hash60($"text".substr(i, lit(8))))).as("fingerprint"),
      nGrams.cast("long").as("n_grams"))
  }

  /** q43 — TF-IDF relevance ranking for a fixed term set: tf from token
    * counts, smoothed idf from document frequencies, fixed-order score
    * sum (so no engine reorders the float additions), top-15. */
  private val TfidfTerms = Seq("spark", "query", "hash")
  val tfidfRank: Q = (s, dir) => {
    import s.implicits._
    val tk = Tables(s, dir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
    val statCols = (count(lit(1)) + 1).cast("long").as("n1") +:
      TfidfTerms.map(t => sum(when(array_contains($"toks", t), 1L)
        .otherwise(0L)).as(s"df_$t"))
    val stats = tk.agg(statCols.head, statCols.tail: _*)
    val tfCols = $"doc_id" +: TfidfTerms.map(t =>
      size(filter($"toks", x => x === t)).cast("long").as(s"tf_$t"))
    val withTf = tk.select(tfCols: _*)
    val score = TfidfTerms.map { t =>
      col(s"tf_$t") * (log(col("n1") / (col(s"df_$t") + 1L)) + 1.0)
    }.reduce(_ + _)
    withTf.crossJoin(broadcast(stats))
      .select($"doc_id", round(score, 6).as("tfidf"))
      .filter($"tfidf" > 0.0)
      .orderBy($"tfidf".desc, $"doc_id".asc)
      .limit(15)
  }

  /** q91 — BM25 ranking (Robertson/Spärck Jones): q43's TF-IDF upgraded
    * with term-frequency saturation (k1 = 1.2) and document-length
    * normalization (b = 0.75) — the lexical scorer retrieval stacks
    * actually deploy. Corpus stats (N, avgdl, per-term df) reduce to ONE
    * broadcast row, so scoring is a map-only pass at any scale; the
    * float expression tree is mirrored operation-for-operation in the
    * oracle so both engines walk the same IEEE path. */
  val bm25Rank: Q = (s, dir) => {
    import s.implicits._
    val tk = Tables(s, dir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
    val statCols = count(lit(1)).cast("long").as("n") +:
      (sum(size($"toks")) / count(lit(1))).as("avgdl") +:
      TfidfTerms.map(t => sum(when(array_contains($"toks", t), 1L)
        .otherwise(0L)).as(s"df_$t"))
    val stats = tk.agg(statCols.head, statCols.tail: _*)
    val tfCols = $"doc_id" +: size($"toks").cast("long").as("dl") +:
      TfidfTerms.map(t =>
        size(filter($"toks", x => x === t)).cast("long").as(s"tf_$t"))
    val withTf = tk.select(tfCols: _*)
    val score = TfidfTerms.map { t =>
      (col(s"tf_$t") * lit(2.2)) /
        (col(s"tf_$t") +
          lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl")) *
        log((col("n") - col(s"df_$t") + lit(0.5)) /
          (col(s"df_$t") + lit(0.5)) + lit(1.0))
    }.reduce(_ + _)
    withTf.crossJoin(broadcast(stats))
      .select($"doc_id", round(score, 6).as("bm25"))
      .filter($"bm25" > 0.0)
      .orderBy($"bm25".desc, $"doc_id".asc)
      .limit(15)
  }

  /** (doc_id, term, pos) positional index rows — 1-based token
    * positions, the raw material of q103/q104. The token expression is
    * exploded DIRECTLY (see q58's note: a pre-projected array alias
    * makes InferFiltersFromGenerate re-run the tokenize subtree below
    * the repartition). */
  private def posIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", posexplode(TextOps.tokens($"text")))
      .select($"doc_id", $"col".as("term"), ($"pos" + 1).as("pos"))
  }

  /** q103 — positional inverted index build: the serving-side structure
    * behind q43/q91's lexical scores and q104's phrase match. One
    * posting row per (term, doc) — ordered position list + tf — with
    * corpus-level df/cf joined on. Postings shard by DOCUMENT within a
    * term, so a Zipf-head term's list never concentrates on one task;
    * the per-term stats table is vocabulary-sized and BROADCASTS back
    * onto the postings. One wide shuffle on (term, doc_id); the stats
    * pass reduces map-side to O(vocab) rows per partition. */
  val invertedIndex: Q = (s, dir) => {
    import s.implicits._
    val idx = posIndex(s, dir)
    val postings = idx.groupBy($"term", $"doc_id")
      .agg(count(lit(1)).as("tf"),
        array_join(transform(array_sort(collect_list($"pos")),
          _.cast("string")), ",").as("positions"))
    val stats = idx.groupBy($"term")
      .agg(countDistinct($"doc_id").as("df"), count(lit(1)).as("cf"))
    postings.join(broadcast(stats), Seq("term"))
      .select($"term", $"doc_id", $"tf", $"positions", $"df", $"cf")
  }

  /** q112 — incremental index maintenance (the nightly index refresh):
    * a new document batch (the twin corpus, disjoint doc ids) arrives
    * and the term statistics are MERGED — history stats + delta stats
    * summed per term — never recomputed from the full corpus. Valid
    * because doc sets are disjoint: df and cf are both sums over
    * disjoint supports, so merge ≡ rebuild — and the ORACLE proves
    * exactly that by rebuilding from scratch over corpus ∪ batch. At
    * 100 TB this is the difference between tokenizing the batch
    * (hours) and tokenizing the archive (weeks); the merge itself is a
    * vocab-sized join on the term key, and batch posting rows append
    * into the doc-sharded posting file without touching history.
    * Output: post-merge df/cf for every term the batch touched. */
  val indexMaintain: Q = (s, dir) => {
    import s.implicits._
    def stats(df: DataFrame) = df
      .select($"doc_id", explode(TextOps.tokens($"text")).as("term"))
      .groupBy($"term")
      .agg(countDistinct($"doc_id").as("df"), count(lit(1)).as("cf"))
    val hist = stats(Tables(s, dir, "documents")
      .select($"doc_id", $"text"))
    val delta = stats(Tables(s, dir, "documents")
      .filter($"doc_id" % 2 === 0)
      .select(($"doc_id" + TwinOffset).as("doc_id"),
        concat($"text", lit(TwinSuffix)).as("text")))
    hist.join(
        delta.select($"term", $"df".as("ddf"), $"cf".as("dcf")),
        Seq("term"), "right")
      .select($"term",
        (coalesce($"df", lit(0L)) + $"ddf").as("df"),
        (coalesce($"cf", lit(0L)) + $"dcf").as("cf"),
        $"ddf".as("delta_df"))
  }

  /** q104 — phrase query over the positional index: the corpus's most
    * frequent word trigram (tie-break lexicographic) is located by the
    * classic positional-index plan — per-word posting sets joined on
    * (doc, pos+1, pos+2) adjacency — NOT by re-scanning text. Each
    * posting set is ~1/vocab of the corpus; the one-row phrase
    * BROADCASTS to prune all three sets before the equi-joins, which
    * co-partition on doc_id. Overlapping occurrences each report. */
  val phraseSearch: Q = (s, dir) => {
    import s.implicits._
    val toks = TextOps.tokens($"text")
    val tri = Tables(s, dir, "documents")
      .filter(size(toks) >= 3)
      .select(explode(transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", slice(toks, i, lit(3))))).as("g"))
    val top = tri.groupBy($"g").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"g".asc).limit(1)
      .select($"g".as("phrase"),
        split($"g", " ").getItem(0).as("w1"),
        split($"g", " ").getItem(1).as("w2"),
        split($"g", " ").getItem(2).as("w3"))
    val idx = posIndex(s, dir)
    val s1 = idx.join(broadcast(top), $"term" === $"w1")
      .select($"doc_id", $"pos", $"phrase")
    val s2 = idx.join(broadcast(top.select($"w2")), $"term" === $"w2")
      .select($"doc_id".as("d2"), $"pos".as("p2"))
    val s3 = idx.join(broadcast(top.select($"w3")), $"term" === $"w3")
      .select($"doc_id".as("d3"), $"pos".as("p3"))
    s1.join(s2, $"d2" === $"doc_id" && $"p2" === $"pos" + 1)
      .join(s3, $"d3" === $"doc_id" && $"p3" === $"pos" + 2)
      .select($"doc_id", $"pos".as("match_pos"), $"phrase")
  }

  /** q44 — hybrid retrieval: keyword prefilter over document text, then
    * vector re-rank by cosine to the query embedding (doc_id = vec_id).
    * The lexical filter prunes the candidate set before any vector math
    * — at scale the expensive cosine runs on the survivors only. */
  val hybridSearch: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables(s, dir, "documents").select($"doc_id", $"text")
    val emb = Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    docs.filter($"text".contains("spark"))
      .join(emb, docs("doc_id") === emb("vec_id"))
      .crossJoin(broadcast(q))
      .select($"doc_id",
        round(Similarity.cosine($"embedding", $"qv"), 6).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"doc_id".asc)
      .limit(10)
  }

  /** q208 — ANN recall@10 evaluation: the approximate rankers (q27
    * single-bucket LSH, q129 multi-probe) scored against the q26
    * brute-force ground truth — the measurement that turns "LSH is
    * probably fine" into a number a curation pipeline can gate on
    * (q129's scaladoc cites this recall; here it is first-class and
    * oracle-checked). All three top-k lists are O(k) frames, so the
    * overlap joins and the recall division are free; recall_micro is
    * an exact integral division by k. */
  val annRecallEval: Q = (s, dir) => {
    import s.implicits._
    val brute = annCosineTopK(s, dir).select($"vec_id")
    def overlap(approx: org.apache.spark.sql.DataFrame, nm: String) =
      approx.select($"vec_id").join(brute, Seq("vec_id"))
        .agg(count(lit(1)).as("overlap"))
        .select(lit(nm).as("method"), $"overlap",
          expr("(1000000 * overlap) div 10").as("recall_micro"))
    overlap(annLshTopK(s, dir), "lsh")
      .unionByName(overlap(annLshMultiProbe(s, dir), "multiprobe"))
  }

  /** q224 — expected calibration error (ECE, the reliability-diagram
    * number every deployed classifier reports next to accuracy): the
    * min-max-scaled account balance plays the model's confidence for
    * the has-high-value-order label; confidences bin into 10
    * equal-width buckets; per bin the |accuracy − mean confidence| gap;
    * ECE is the count-weighted mean gap. One aggregate for the min/max
    * scaling bounds (broadcast one-row), one map-side-combined bin
    * aggregate, then O(10) arithmetic — all gaps and the final ECE are
    * truncating integer micro divisions, engine-exact. Complements
    * q149 (percentile remap) and q209 (the isotonic FIX for what this
    * query MEASURES). */
  val calibrationError: Q = (s, dir) => {
    import s.implicits._
    val scored = Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders")
          .filter($"o_totalprice" > 450000.0)
          .select($"o_custkey").distinct()
          .withColumn("label", lit(1L)),
        $"c_custkey" === $"o_custkey", "left")
      .select(round($"c_acctbal" * 100).cast("long").as("cents"),
        coalesce($"label", lit(0L)).as("label"))
    val bounds = scored.agg(min($"cents").as("lo"), max($"cents").as("hi"))
    val conf = scored.crossJoin(broadcast(bounds))
      .select($"label",
        expr("1000000 * (cents - lo) div greatest(hi - lo, 1)")
          .as("conf_micro"))
    val bins = conf
      .groupBy(expr("least(conf_micro div 100000, 9)").as("bin"))
      .agg(count(lit(1)).as("n"), sum($"label").as("pos"),
        sum($"conf_micro").as("sconf"))
      .select($"bin", $"n",
        expr("sconf div n").as("avg_conf_micro"),
        expr("1000000 * pos div n").as("acc_micro"))
      .withColumn("gap_micro", abs($"acc_micro" - $"avg_conf_micro"))
    val ece = bins.agg(
      expr("sum(n * gap_micro) div greatest(sum(n), 1)").as("ece_micro"))
    bins.crossJoin(broadcast(ece))
      .select($"bin", $"n", $"avg_conf_micro", $"acc_micro",
        $"gap_micro", $"ece_micro")
  }

  /** q225 — expanding-window time-series cross-validation folds (the
    * split design that never trains on the future — q134's stratified
    * splits leak for temporal data): the order-date range divides into
    * 6 equal spans; fold f trains on days ≤ f·span and validates on
    * the following span. Membership is pure per-row day arithmetic
    * against broadcast bounds — no sort, no shuffle beyond the O(folds
    * × splits) census — and reproducible on any cluster. Output: per
    * (fold, split) the row count and date coverage a leakage audit
    * signs off on. */
  val timeCvFolds: Q = (s, dir) => {
    import s.implicits._
    val o = Tables(s, dir, "orders")
      .select(to_date($"o_orderdate").as("day"))
    val bounds = o.agg(min($"day").as("dmin"), max($"day").as("dmax"))
      .select($"dmin", datediff($"dmax", $"dmin").as("range_d"))
    val withFold = o.crossJoin(broadcast(bounds))
      .select($"day", $"dmin",
        datediff($"day", $"dmin").as("d"),
        expr("greatest(range_d div 6, 1)").as("span"))
      .select($"day", $"dmin", $"d", $"span",
        explode(sequence(lit(1), lit(4))).as("fold"))
      .select($"fold", $"day",
        when($"d" <= $"fold" * $"span", "train")
          .when($"d" <= ($"fold" + 1) * $"span", "val")
          .as("split"))
      .filter($"split".isNotNull)
    withFold.groupBy($"fold", $"split")
      .agg(count(lit(1)).as("n_orders"),
        min($"day").as("first_day"), max($"day").as("last_day"))
  }

  /** q222 — hard-negative mining for contrastive training (the data
    * prep every embedding-model fine-tune runs): for each anchor (a
    * deterministic 1-in-50 subsample), the 3 MOST-SIMILAR
    * different-label candidates — "hard" because random negatives are
    * trivially separable and teach nothing. The candidate pool is the
    * anchor's LSH BUCKET, not the corpus (q27's pruning reused as a
    * mining tool): at 100 TB the bucket join is the difference between
    * an anchors×corpus blow-up and one co-partitioned equi-join whose
    * fan-out is bucket-bounded. Per-anchor top-3 via a rank window on
    * the bucket-bounded candidate frame (WindowGroupLimit prunes
    * pre-exchange); ranking mirrors q26's (cs DESC, id ASC) contract
    * so the float ordering is engine-identical. */
  val hardNegatives: Q = (s, dir) => {
    import s.implicits._
    val withB = Tables(s, dir, "embeddings")
      .select($"vec_id", $"label", $"embedding",
        Similarity.lshBucket($"embedding", NumPlanes, Dims)
          .as("bucket"))
    val anchors = withB.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("anchor_id"), $"label".as("alabel"),
        $"embedding".as("aemb"), $"bucket")
    val cand = withB.select($"vec_id".as("cand_id"),
      $"label".as("clabel"), $"embedding".as("cemb"), $"bucket")
    val scored = anchors.join(cand, Seq("bucket"))
      .filter($"clabel" =!= $"alabel")
      .select($"anchor_id", $"cand_id",
        Similarity.cosine($"aemb", $"cemb").as("cs"))
    val w = Window.partitionBy($"anchor_id")
      .orderBy($"cs".desc, $"cand_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"anchor_id", $"cand_id", round($"cs", 6).as("cos_sim"),
        $"rank")
  }

  /** q216 — nDCG@10 of the brute-force cosine ranking against
    * label-match relevance (the metric that, unlike q208's recall,
    * rewards putting the relevant hits EARLY — the standard ranking
    * read-out for any retrieval stack): rel(d) = [label(d) = label(q)],
    * DCG = Σ rel·g(rank) with the per-rank gain g = 1/log₂(rank+1)
    * micro-quantized PER RANK ROW, so both DCG and the ideal DCG
    * (first min(|relevant|, 10) ranks, spine via sequence/range) are
    * exact long sums; nDCG is one truncating micro division. All
    * frames beyond the q26 top-k scan are O(k). */
  val ndcgEval: Q = (s, dir) => {
    import s.implicits._
    val gainExpr = "CAST(round(1000000.0 / (ln(CAST(rank + 1 AS " +
      "DOUBLE)) / ln(2.0))) AS BIGINT)"
    val qlab = Tables(s, dir, "embeddings").filter($"vec_id" === 0L)
      .select($"label".as("qlab"))
    val dcg = annCosineTopK(s, dir).crossJoin(broadcast(qlab))
      .select($"rank",
        when($"label" === $"qlab", 1L).otherwise(0L).as("rel"))
      .select($"rel", expr(gainExpr).as("g"))
      .agg(sum($"rel" * $"g").as("dcg_micro"), sum($"rel").as("n_rel"))
    val ideal = Tables(s, dir, "embeddings")
      .join(broadcast(qlab), $"label" === $"qlab")
      .agg(least(count(lit(1)), lit(10L)).as("m"))
      .select(explode(sequence(lit(1L), $"m")).as("rank"))
      .select(expr(gainExpr).as("g"))
      .agg(sum($"g").as("idcg_micro"))
    dcg.crossJoin(ideal)
      .select(lit(10).as("k"), $"n_rel", $"dcg_micro", $"idcg_micro",
        expr("1000000 * dcg_micro div idcg_micro").as("ndcg_micro"))
  }

  /** q207 — reciprocal rank fusion (k = 60, the standard constant) of
    * the lexical and semantic rankers: q91's BM25 top-15 and q26's
    * cosine top-10 fuse by RRF(d) = Σ 1/(60 + rank_r(d)) over the
    * rankers that returned d — the score-free hybrid-search combiner
    * (ranks compose across incomparable score scales, which is why
    * retrieval stacks deploy RRF over score mixing). Both rank lists
    * are O(k) frames — the row_number windows run on ≤15 rows
    * (TakeOrderedAndProject upstream does the real work) — and the
    * fusion is one full-outer join on doc_id. 1e6 div (60+rank) keeps
    * the fused score integral and engine-exact. */
  val rrfFusion: Q = (s, dir) => {
    import s.implicits._
    val lex = bm25Rank(s, dir)
      .withColumn("r_lex", row_number().over(
        Window.orderBy($"bm25".desc, $"doc_id".asc)))
      .select($"doc_id", $"r_lex")
    val sem = annCosineTopK(s, dir)
      .select($"vec_id".as("doc_id"), $"rank".as("r_sem"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select($"doc_id", $"r_lex", $"r_sem",
        (coalesce(expr("1000000 div (60 + r_lex)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + r_sem)"), lit(0L)))
          .as("rrf_micro"))
  }

  /** q45 — repetition scoring (Gopher/C4-style quality signal): the
    * fraction of duplicated word 2-grams and the share of the single
    * most-repeated 2-gram, per document. Ratios are int/int → the
    * doubles are engine-exact. */
  val repetitionScore: Q = (s, dir) => {
    import s.implicits._
    val tk = Tables(s, dir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
    // only the generator travels through the explode: total/distinct
    // gram counts are recovered from the per-gram aggregation
    // (sum(c) / count(*)), NOT carried as size() columns —
    // CollapseProject would inline those above the Generate and
    // re-evaluate the whole gram builder once per output row
    // (measured: 5.4 s → sub-second at sf0.1)
    val exploded = tk.select($"doc_id",
      explode(transform(
        sequence(lit(1), greatest(size($"toks") - 1, lit(1))),
        i => concat_ws(" ", slice($"toks", i, lit(2))))).as("g"))
    val perGram = exploded.groupBy($"doc_id", $"g")
      .agg(count(lit(1)).as("c"))
    perGram.groupBy($"doc_id")
      .agg(sum($"c").cast("int").as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max($"c").as("top_gram_count"))
      .select($"doc_id", $"n_grams",
        round(lit(1.0) - $"n_distinct".cast("double") / $"n_grams", 6)
          .as("dup_2gram_frac"),
        round($"top_gram_count".cast("double") / $"n_grams", 6)
          .as("top_2gram_frac"))
  }

  /** q46 — curation filter-rule bundle: per-document boolean rules
    * (too short, stopword-free, repetitive) and the resulting keep
    * decision — the C4-ish shape of a corpus filter as one pass. */
  val qualityFilter: Q = (s, dir) => {
    import s.implicits._
    val toks = TextOps.tokens($"text")
    val enHits = size(filter(toks, t => t.isin(EnWords: _*)))
    val base = Tables(s, dir, "documents").select($"doc_id",
      size(toks).as("n_words"), enHits.as("stop_hits"))
    val rep = repetitionScore(s, dir)
      .select($"doc_id", $"dup_2gram_frac")
    base.join(rep, Seq("doc_id"))
      .select($"doc_id",
        ($"n_words" < 20).as("too_short"),
        ($"stop_hits" === 0).as("no_stopwords"),
        // production threshold is ~0.6 (Gopher-style); 0.1 here so the
        // rule genuinely fires on the synthetic corpus (max ≈ 0.13)
        ($"dup_2gram_frac" > 0.1).as("repetitive"))
      .withColumn("keep",
        !$"too_short" && !$"no_stopwords" && !$"repetitive")
  }

  // ----------------------------------------------------------- multimodal

  /** q32 — multimodal metadata extraction: text→binary content column,
    * typed Dataset, executor-side batch decode (stubbed codec). */
  val multimodalMeta: Q = (s, dir) => {
    import s.implicits._
    val media = Tables(s, dir, "documents")
      .select($"doc_id", $"text".cast("binary").as("content"),
        lit("image/fake").as("media_type"))
      .as[MediaRecord]
    Multimodal.decodeMeta(media, StubImageDecoder).toDF()
  }

  /** q151 — modality mixture report (the multimodal budget planner):
    * per (source, media_type) item counts, byte totals, and each
    * modality's byte share of its source — the numbers a multimodal
    * training mix is balanced on (token-equivalent budgeting across
    * image/audio/video happens per byte long before any decode).
    * Media type derives deterministically from doc_id; payload bytes
    * are the opaque binary column. One aggregate + a source-total
    * broadcast join; shares are exact integer micro-division. */
  val modalityMixture: Q = (s, dir) => {
    import s.implicits._
    val media = Tables(s, dir, "documents")
      .select($"doc_id", $"source",
        when($"doc_id" % 3 === 0, "image")
          .when($"doc_id" % 3 === 1, "audio")
          .otherwise("video").as("media_type"),
        length($"text".cast("binary")).cast("long").as("n_bytes"))
    val agg = media.groupBy($"source", $"media_type")
      .agg(count(lit(1)).as("n_items"), sum($"n_bytes").as("total_bytes"))
    val tot = agg.groupBy($"source")
      .agg(sum($"total_bytes").as("src_bytes"))
    agg.join(tot, Seq("source"))
      .select($"source", $"media_type", $"n_items", $"total_bytes",
        expr("(1000000 * total_bytes) div src_bytes")
          .as("byte_share_micro"))
  }

  /** q152 — container-invariant media dedup: the same payload wrapped
    * in different container headers is still the same asset — raw-byte
    * hashing misses it, hashing the NORMALIZED payload (container
    * header stripped) finds it. Every 4th doc's payload is re-wrapped
    * under an alternate 8-byte header (the planted re-encode);
    * fingerprints group on the uniform md5 key, and each group reports
    * how many raw-byte variants it collapsed — the measure of what
    * naive hashing would have missed. The normalize-then-hash map is
    * the only per-item work; at 100 TB the real normalizer is a
    * decode stub behind the same seam (Multimodal.MediaDecoder). */
  val mediaDedup: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "documents")
    val wrapped = d.select($"doc_id",
        concat(lit("CONTAIN1"), $"text").as("payload"))
      .unionByName(d.filter($"doc_id" % 4 === 0)
        .select(($"doc_id" + 500000L).as("doc_id"),
          concat(lit("CONTAIN2"), $"text").as("payload")))
    wrapped
      .select($"doc_id",
        md5($"payload".cast("binary")).as("raw_md5"),
        md5(expr("substring(payload, 9)").cast("binary"))
          .as("content_md5"))
      .groupBy($"content_md5")
      .agg(count(lit(1)).as("n_items"),
        countDistinct($"raw_md5").as("n_raw_variants"),
        min($"doc_id").as("keep_doc"))
      .filter($"n_items" >= 2)
  }

  private def mediaOf(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", $"text".cast("binary").as("content"),
        lit("video/fake").as("media_type"))
      .as[MediaRecord]
  }

  /** q65 — frame sampling over the binary media column: 16-byte frames
    * every 12 bytes, ≤4 per doc, balanced by blob size first; per-frame
    * md5 so the oracle checks the exact bytes each frame carries. */
  val mediaFrames: Q = (s, dir) => {
    import s.implicits._
    Multimodal.sampleFrames(
        Multimodal.balanceBySize(mediaOf(s, dir),
          s.sparkContext.defaultParallelism),
        frameLen = 16, stride = 12, maxFrames = 4)
      .toDF()
      .select($"doc_id", $"frame_id", $"offset",
        md5($"frame").as("frame_md5"),
        length($"frame").cast("int").as("n_frame_bytes"))
  }

  /** q66 — batched feature extraction (the image-embedding batch shape)
    * over the binary column: normalized byte-class histogram features. */
  val mediaFeatures: Q = (s, dir) =>
    Multimodal.extractFeatures(mediaOf(s, dir)).toDF()

  // ---------------------------------------------------------- oracle SQL

  private def sqlJaccard(a: String, b: String): String =
    s"""round(CAST(len(list_intersect($a, $b)) AS DOUBLE) /
       | (CAST(len($a) + len($b) AS DOUBLE)
       |  - CAST(len(list_intersect($a, $b)) AS DOUBLE)), 6)""".stripMargin

  /** Shared CTE prefix of the q23/q123 oracles: corpus shingles,
    * 64-lane signatures, band buckets, candidate pairs. */
  private[queries] def sqlLshCandCtes: String = {
    val lanes = (0 until NumHashes)
      .map(i => s"min(${Hashing.sqlLane("h31", i)}) AS h$i")
      .mkString(",\n  ")
    val numBands = NumHashes / RowsPerBand
    val bandSelects = (0 until numBands).map { b =>
      val parts = (0 until RowsPerBand)
        .map(j => s"CAST(h${b * RowsPerBand + j} AS VARCHAR)")
        .mkString(", ")
      s"SELECT doc_id, $b AS band, ${sqlHash60(s"concat_ws(',', $parts)")}" +
        " AS band_hash FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH corpus AS $sqlCorpus,
       |sh AS (SELECT doc_id, ${sqlShingles("text", ShingleN)} AS sh_set
       |       FROM corpus),
       |ex AS (SELECT doc_id,
       |         (${sqlHash60("s")} & ${Hashing.Mask31}) AS h31
       |       FROM (SELECT doc_id, unnest(sh_set) AS s FROM sh) u),
       |sig AS (SELECT doc_id, $lanes FROM ex GROUP BY doc_id),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.band_hash = b.band_hash
       |          AND a.doc_id < b.doc_id)""".stripMargin
  }

  private def sqlMinhashLsh: String =
    s"""$sqlLshCandCtes
       |SELECT doc_a, doc_b,
       |  ${sqlJaccard("sa.sh_set", "sb.sh_set")} AS jaccard
       |FROM cand
       |JOIN sh sa ON cand.doc_a = sa.doc_id
       |JOIN sh sb ON cand.doc_b = sb.doc_id
       |WHERE ${sqlJaccard("sa.sh_set", "sb.sh_set")} >= 0.5""".stripMargin

  private def sqlCapRecap: String = {
    val lanes = (0 until NumHashes)
      .map(i => s"min(${Hashing.sqlLane("h31", i)}) AS h$i")
      .mkString(",\n  ")
    val numBands = NumHashes / RowsPerBand
    val bandSelects = (0 until numBands).map { b =>
      val parts = (0 until RowsPerBand)
        .map(j => s"CAST(h${b * RowsPerBand + j} AS VARCHAR)")
        .mkString(", ")
      s"SELECT doc_id, $b AS band, ${sqlHash60(s"concat_ws(',', $parts)")}" +
        " AS band_hash FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH corpus AS $sqlCorpus,
       |sh AS (SELECT doc_id, ${sqlShingles("text", ShingleN)} AS sh_set
       |       FROM corpus),
       |ex AS (SELECT doc_id,
       |         (${sqlHash60("s")} & ${Hashing.Mask31}) AS h31
       |       FROM (SELECT doc_id, unnest(sh_set) AS s FROM sh) u),
       |sig AS (SELECT doc_id, $lanes FROM ex GROUP BY doc_id),
       |bands AS ($bandSelects),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    max(CASE WHEN a.band < 8 THEN 1 ELSE 0 END)::BIGINT AS in_a,
       |    max(CASE WHEN a.band >= 8 THEN 1 ELSE 0 END)::BIGINT AS in_b
       |  FROM bands a JOIN bands b ON a.band = b.band
       |    AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |ver AS (SELECT in_a, in_b FROM cand
       |  JOIN sh sa ON cand.doc_a = sa.doc_id
       |  JOIN sh sb ON cand.doc_b = sb.doc_id
       |  WHERE ${sqlJaccard("sa.sh_set", "sb.sh_set")} >= 0.5),
       |agg AS (SELECT sum(in_a)::BIGINT AS n1, sum(in_b)::BIGINT AS n2,
       |    sum(in_a * in_b)::BIGINT AS m, count(*)::BIGINT AS n_union
       |  FROM ver)
       |SELECT n1, n2, m, n_union,
       |  (((n1 + 1) * (n2 + 1)) // (m + 1) - 1)::BIGINT AS chapman_est,
       |  ((((n1 + 1) * (n2 + 1)) // (m + 1) - 1) - n_union)::BIGINT
       |    AS est_missed
       |FROM agg""".stripMargin
  }

  private def sqlContainment: String =
    s"""$sqlLshCandCtes,
       |sc AS (SELECT doc_a, doc_b,
       |    CAST(1000000 * len(list_intersect(sa.sh_set, sb.sh_set))
       |      AS BIGINT) // CAST(len(sa.sh_set) AS BIGINT)
       |      AS contain_a_micro,
       |    CAST(1000000 * len(list_intersect(sa.sh_set, sb.sh_set))
       |      AS BIGINT) // CAST(len(sb.sh_set) AS BIGINT)
       |      AS contain_b_micro
       |  FROM cand
       |  JOIN sh sa ON cand.doc_a = sa.doc_id
       |  JOIN sh sb ON cand.doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, contain_a_micro, contain_b_micro
       |FROM sc
       |WHERE greatest(contain_a_micro, contain_b_micro) >= 800000""".stripMargin

  /** q67 oracle: same sig/band generator as q23's, over history ∪ batch,
    * with the candidate join restricted to cross-corpus pairs. */
  private def sqlIncNearDup: String = {
    val lanes = (0 until NumHashes)
      .map(i => s"min(${Hashing.sqlLane("h31", i)}) AS h$i")
      .mkString(",\n  ")
    val numBands = NumHashes / RowsPerBand
    val bandSelects = (0 until numBands).map { b =>
      val parts = (0 until RowsPerBand)
        .map(j => s"CAST(h${b * RowsPerBand + j} AS VARCHAR)")
        .mkString(", ")
      s"SELECT doc_id, $b AS band, ${sqlHash60(s"concat_ws(',', $parts)")}" +
        " AS band_hash FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH corpus AS (
       | SELECT doc_id, text FROM documents
       | UNION ALL
       | SELECT doc_id + $TwinOffset AS doc_id, text || '$TwinSuffix'
       | FROM documents WHERE doc_id % 2 = 0),
       |sh AS (SELECT doc_id, ${sqlShingles("text", ShingleN)} AS sh_set
       |       FROM corpus),
       |ex AS (SELECT doc_id,
       |         (${sqlHash60("s")} & ${Hashing.Mask31}) AS h31
       |       FROM (SELECT doc_id, unnest(sh_set) AS s FROM sh) u),
       |sig AS (SELECT doc_id, $lanes FROM ex GROUP BY doc_id),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT h.doc_id AS hist_id, b.doc_id AS batch_id
       |         FROM bands h JOIN bands b
       |           ON h.band = b.band AND h.band_hash = b.band_hash
       |          AND h.doc_id < $TwinOffset AND b.doc_id >= $TwinOffset)
       |SELECT batch_id, hist_id,
       |  ${sqlJaccard("sa.sh_set", "sb.sh_set")} AS jaccard
       |FROM cand
       |JOIN sh sa ON cand.hist_id = sa.doc_id
       |JOIN sh sb ON cand.batch_id = sb.doc_id
       |WHERE ${sqlJaccard("sa.sh_set", "sb.sh_set")} >= 0.5""".stripMargin
  }

  /** Shared PQ training CTEs (mirrors Similarity.pqTrain): qvecs → sub
    * → cent0 → a1 → upd → cent1 → codes → qtab. */
  private def sqlPqCtes: String = {
    val M = PqM; val SD = PqSubDims
    val d16 = (sv: String, cv: String) =>
      s"list_sum(list_transform(range($SD), i -> " +
        s"($sv[i+1] - $cv[i+1]) * ($sv[i+1] - $cv[i+1])))"
    val cidCase = PqInitIds.zipWithIndex
      .map { case (id, j) => s"WHEN $id THEN $j" }.mkString(" ")
    val initList = PqInitIds.mkString(", ")
    s"""WITH qvecs AS (
       |  SELECT vec_id, list_transform(embedding, v ->
       |    CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |sub AS (
       |  SELECT vec_id, m,
       |    list_slice(qv, m * $SD + 1, m * $SD + $SD) AS sv
       |  FROM qvecs CROSS JOIN (SELECT unnest(range($M)) AS m) ms),
       |cent0 AS (
       |  SELECT m, CASE vec_id $cidCase END AS cid, sv AS cv
       |  FROM sub WHERE vec_id IN ($initList)),
       |a1 AS (
       |  SELECT vec_id, m, cid, sv FROM (
       |    SELECT sub.vec_id, sub.m, c.cid, sub.sv,
       |      row_number() OVER (PARTITION BY sub.vec_id, sub.m
       |        ORDER BY ${d16("sv", "cv")} ASC, c.cid ASC) AS rn
       |    FROM sub JOIN cent0 c ON sub.m = c.m) t WHERE rn = 1),
       |upd AS (
       |  -- trunc() before the cast: DuckDB's double→BIGINT cast ROUNDS,
       |  -- Spark's cast truncates
       |  SELECT m, cid, i, CAST(trunc(sum(sv[i+1]) / count(*)) AS BIGINT) AS c
       |  FROM a1 CROSS JOIN (SELECT unnest(range($SD)) AS i) ii
       |  GROUP BY m, cid, i),
       |cent1 AS (SELECT m, cid, list(c ORDER BY i) AS cv
       |          FROM upd GROUP BY m, cid),
       |codes AS (
       |  SELECT vec_id, m, cid FROM (
       |    SELECT sub.vec_id, sub.m, c.cid,
       |      row_number() OVER (PARTITION BY sub.vec_id, sub.m
       |        ORDER BY ${d16("sv", "cv")} ASC, c.cid ASC) AS rn
       |    FROM sub JOIN cent1 c ON sub.m = c.m) t WHERE rn = 1),
       |qtab AS (
       |  SELECT c.m, c.cid, ${d16("q.sv", "c.cv")} AS qd
       |  FROM cent1 c JOIN sub q ON q.m = c.m AND q.vec_id = 0)""".stripMargin
  }

  /** ADC shortlist + exact re-rank tail over a codes relation. */
  private def sqlPqTail(codesSrc: String): String =
    s"""short AS (
       |  SELECT cs.vec_id, CAST(sum(qd) AS BIGINT) AS adist
       |  FROM ($codesSrc) cs
       |  JOIN qtab ON cs.m = qtab.m AND cs.cid = qtab.cid
       |  WHERE cs.vec_id <> 0
       |  GROUP BY cs.vec_id
       |  ORDER BY adist ASC, vec_id ASC
       |  LIMIT 50)
       |SELECT s.vec_id, s.adist,
       |  CAST(list_sum(list_transform(range(${Dims}), i ->
       |    (v.qv[i+1] - q.qv[i+1]) * (v.qv[i+1] - q.qv[i+1])))
       |    AS BIGINT) AS dist
       |FROM short s
       |JOIN qvecs v ON v.vec_id = s.vec_id
       |JOIN qvecs q ON q.vec_id = 0
       |ORDER BY dist ASC, s.vec_id ASC
       |LIMIT 10""".stripMargin

  private def sqlPqAnn: String =
    s"""$sqlPqCtes,
       |${sqlPqTail("SELECT vec_id, m, cid FROM codes")}""".stripMargin

  private def sqlIvfPq: String = {
    val fd = (a: String, b: String) =>
      s"list_sum(list_transform(range($Dims), i -> " +
        s"($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1])))"
    val ccidCase = IvfCoarseIds.zipWithIndex
      .map { case (id, j) => s"WHEN $id THEN $j" }.mkString(" ")
    val coarseList = IvfCoarseIds.mkString(", ")
    val codesSrc =
      """SELECT codes.vec_id, codes.m, codes.cid
        |   FROM codes
        |   JOIN assigned ON assigned.vec_id = codes.vec_id
        |   JOIN qcells ON qcells.ccid = assigned.ccid""".stripMargin
    s"""$sqlPqCtes,
       |coarse AS (
       |  SELECT CASE vec_id $ccidCase END AS ccid, qv AS ccv
       |  FROM qvecs WHERE vec_id IN ($coarseList)),
       |assigned AS (
       |  SELECT vec_id, ccid FROM (
       |    SELECT q.vec_id, c.ccid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${fd("q.qv", "c.ccv")} ASC, c.ccid ASC) AS rn
       |    FROM qvecs q CROSS JOIN coarse c) t WHERE rn = 1),
       |qcells AS (
       |  SELECT ccid FROM (
       |    SELECT c.ccid, ${fd("q.qv", "c.ccv")} AS fd
       |    FROM qvecs q CROSS JOIN coarse c WHERE q.vec_id = 0) t
       |  ORDER BY fd ASC, ccid ASC LIMIT $IvfPqNprobe),
       |${sqlPqTail(codesSrc)}""".stripMargin
  }

  private def sqlIncrementalClusters: String =
    s"""WITH RECURSIVE histp AS (
       |  SELECT doc_a, doc_b FROM (
       |${sqlMinhashLsh}
       |  ) p WHERE doc_a < $TwinOffset AND doc_b < $TwinOffset),
       |crossp AS (
       |  SELECT hist_id AS doc_a, batch_id AS doc_b FROM (
       |${sqlIncNearDup}
       |  ) q),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM histp
       |  UNION SELECT doc_b, doc_a FROM histp
       |  UNION SELECT doc_a, doc_b FROM crossp
       |  UNION SELECT doc_b, doc_a FROM crossp),
       |nodes AS (
       |  SELECT doc_id FROM documents
       |  UNION ALL SELECT doc_id + $TwinOffset FROM documents
       |  WHERE doc_id % 2 = 0),
       |reach(n, lab) AS (
       |  SELECT doc_id, doc_id FROM nodes
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.n),
       |comp AS (SELECT n AS doc_id, min(lab) AS component
       |         FROM reach GROUP BY n)
       |SELECT c.doc_id, c.component, s.cluster_size
       |FROM comp c
       |JOIN (SELECT component, count(*) AS cluster_size
       |      FROM comp GROUP BY component) s USING (component)""".stripMargin

  private def sqlCentroidOutliers: String = {
    val cos = sqlCosCols("e.embedding", "centroid")
    s"""WITH ex AS (SELECT label, d AS dim,
       |    CAST(round(CAST(embedding[d + 1] AS DOUBLE) * 1000000.0)
       |      AS BIGINT) AS v
       |  FROM embeddings CROSS JOIN
       |    (SELECT unnest(range($Dims)) AS d) dims),
       |cent AS (SELECT label, dim, CAST(sum(v) AS FLOAT) AS c
       |  FROM ex GROUP BY label, dim),
       |cents AS (SELECT label, list(c ORDER BY dim) AS centroid
       |  FROM cent GROUP BY label)
       |SELECT e.vec_id, e.label, round($cos, 6) AS centroid_sim,
       |  round($cos, 6) < 0.1 AS is_outlier
       |FROM embeddings e JOIN cents USING (label)""".stripMargin
  }

  /** Shared CTE prefix: first-K init → assignment r1 → exact-integer
    * centroid update → trained centroids `cents` → re-assignment r2.
    * Kept in lockstep with Similarity.kmeansAssign/kmeansUpdate. */
  private def sqlKmeansCtes: String = {
    val cosInit = sqlCosCols("e.embedding", "c.cemb")
    s"""init AS (SELECT vec_id AS cid, embedding AS cemb
       |  FROM embeddings WHERE vec_id < $KmK),
       |r1 AS (SELECT vec_id, label, embedding, cid FROM (
       |    SELECT e.vec_id, e.label, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $cosInit DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN init c) t WHERE rn = 1),
       |ex AS (SELECT cid, d AS dim,
       |    CAST(round(CAST(embedding[d + 1] AS DOUBLE) * 1000000.0)
       |      AS BIGINT) AS v
       |  FROM r1 CROSS JOIN (SELECT unnest(range($Dims)) AS d) dims),
       |cent AS (SELECT cid, dim, CAST(sum(v) AS FLOAT) AS c
       |  FROM ex GROUP BY cid, dim),
       |cents AS (SELECT cid, list(c ORDER BY dim) AS cemb
       |  FROM cent GROUP BY cid),
       |r2 AS (SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $cosInit DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c) t WHERE rn = 1)"""
      .stripMargin
  }

  private def sqlDedupEmbedding: String =
    s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
       |twins AS (SELECT vec_id + $TwinOffset AS vec_id,
       |    list_transform(list_zip(embedding, $sqlNoiseList),
       |      x -> CAST(CAST(x[1] AS DOUBLE) + x[2] AS FLOAT))
       |      AS embedding
       |  FROM base),
       |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
       |wb AS (SELECT vec_id, embedding, $sqlBucket AS bucket
       |       FROM corpus)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(${sqlCosCols("a.embedding", "b.embedding")}, 6)
       |    AS cos_sim
       |FROM wb a JOIN wb b
       |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE round(${sqlCosCols("a.embedding", "b.embedding")}, 6)
       |  >= 0.9""".stripMargin

  private def sqlKmeans: String =
    s"""WITH $sqlKmeansCtes
       |SELECT r1.vec_id, r1.label, r1.cid AS cid_iter1,
       |  r2.cid AS cid_iter2, r1.cid <> r2.cid AS moved,
       |  count(*) OVER (PARTITION BY r2.cid) AS cluster_size
       |FROM r1 JOIN r2 USING (vec_id)""".stripMargin

  private def sqlIvfTrained: String = {
    val qcCos = sqlCosCols("c.cemb", "q.qv")
    val candCos = sqlCosCols("e.embedding", "q.qv")
    s"""WITH $sqlKmeansCtes,
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |qc AS (SELECT c.cid FROM cents c CROSS JOIN q
       |  ORDER BY $qcCos DESC, c.cid LIMIT $IvfPqNprobe),
       |top AS (SELECT e.vec_id, e.label, $candCos AS cs
       |  FROM r2 JOIN qc USING (cid)
       |  JOIN embeddings e ON e.vec_id = r2.vec_id
       |  CROSS JOIN q
       |  ORDER BY cs DESC, e.vec_id LIMIT 10)
       |SELECT vec_id, label, round(cs, 6) AS cos_sim,
       |  CAST(row_number() OVER (ORDER BY cs DESC, vec_id) AS INTEGER)
       |    AS rank
       |FROM top""".stripMargin
  }

  private def sqlSimhash: String = {
    val votes = (0 until SimhashBits)
      .map(b => s"sum(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n  ")
    val fp = (0 until SimhashBits)
      .map(b => s"CASE WHEN v$b > 0 THEN (1::BIGINT << $b) ELSE 0 END")
      .mkString(" + ")
    s"""WITH corpus AS $sqlCorpus,
       |ex AS (SELECT doc_id, ${sqlHash60("tok")} AS th FROM
       |  (SELECT doc_id, unnest(${sqlTokens("text")}) AS tok FROM corpus) t),
       |votes AS (SELECT doc_id, $votes FROM ex GROUP BY doc_id),
       |fp AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM votes)
       |SELECT o.doc_id, o.simhash,
       |  CAST(bit_count(xor(o.simhash, t.simhash)) AS INTEGER)
       |    AS twin_hamming
       |FROM fp o JOIN fp t ON t.doc_id = o.doc_id + $TwinOffset
       |WHERE o.doc_id < $TwinOffset""".stripMargin
  }

  private def sqlDotCols(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  private def sqlNorm(c: String) =
    s"list_sum(list_transform($c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
  private def sqlCosCols(a: String, b: String) =
    s"${sqlDotCols(a, b)} / (sqrt(${sqlNorm(a)}) * sqrt(${sqlNorm(b)}))"
  private val sqlCos = sqlCosCols("embedding", "qv")

  private def sqlBucket: String = {
    val w = Similarity.sqlPlaneWeights(NumPlanes, Dims)
    val bits = (0 until NumPlanes).map { p =>
      val wList = w(p).mkString("[", ", ", "]")
      val dotP = s"list_sum(list_transform(list_zip(embedding, $wList), " +
        "x -> CAST(x[1] AS DOUBLE) * x[2]))"
      s"CASE WHEN $dotP > 0 THEN (1::BIGINT << $p) ELSE 0 END"
    }.mkString(" + ")
    s"CAST($bits AS BIGINT)"
  }

  /** q182 — prefix-filtered set-similarity self-join (the AllPairs/
    * PPJoin candidate-pruning family): find every doc pair whose
    * 3-token-SHINGLE-set Jaccard ≥ 0.5 WITHOUT an all-pairs pass and
    * WITHOUT hash approximation (the exact complement to q23's
    * MinHash — same sets, same threshold, zero false negatives BY
    * CONSTRUCTION rather than with banding probability). Shingles —
    * not words: on a small shared vocab every word is common, but
    * shingles are near-unique per doc, so rarity-ordered prefixes
    * genuinely bucket. Each shingle gets a global rarity rank
    * (ascending document frequency — one vocab-sized aggregate,
    * shuffled once); each doc keeps only its |x| − ⌈θ|x|⌉ + 1 RAREST
    * shingles as its prefix, and two docs become a candidate pair
    * only if their prefixes share one — the classic guarantee that
    * any pair at Jaccard ≥ θ must collide on a prefix element. The
    * candidate join keys on those rare shingles, then one (doc_b,
    * tok) equi-join counts exact intersections for candidates only.
    * ⌈0.5·sz⌉ is the integer form (sz+1) div 2 — no float ceil on
    * either engine. The oracle is the brute-force all-pairs
    * list_intersect — feasible at gate SF, which is exactly why the
    * prefix filter exists at corpus SF.
    *
    * EXACT-DUP COLLAPSE FIRST (the production near-dedup order): a
    * re-ingested corpus carries many byte-identical texts, and every
    * copy-group of size g would otherwise multiply the candidate set
    * by g² — the similarity join's cost must scale with DISTINCT
    * texts, not raw rows. Identical shingle sets group to ONE
    * representative before the prefix pipeline (the prefix guarantee
    * holds for any consistent global token order, so rarity ranks
    * computed on representatives stay lossless); member lists expand
    * the surviving pairs back at the end — cross-group pairs inherit
    * the representatives' verdict, within-group pairs are J = 1 by
    * identity, no re-verification of either. On a 10×-replicated
    * corpus this is a ~100× candidate-set cut (measured at the 10×
    * bench: 132 s → the pre-replication profile). */
  val prefixJaccardJoin: Q = (s, dir) => {
    import s.implicits._
    val c = corpus(s, dir)
    // ONE materialized pass (q99's rule): the grouped frame feeds the
    // exploded df-rank chain, both verify lookups AND both member
    // expansions. Verifying against the per-doc ARRAYS (one row per
    // candidate, array intersect in the expression layer) matters as
    // much as the prefix filter itself: verifying through the exploded
    // table would fan out candidates × shingles — measured 14.4 s at
    // sf0.1 vs 8.9 s for this form (this synthetic corpus is
    // template-heavy, so the candidate set is inherently large; on a
    // natural corpus the prefix filter prunes far harder).
    val groups = c
      .select($"doc_id", TextOps.tokens($"text").as("ws"))
      .select($"doc_id",
        TextOps.shinglesFromTokens($"ws", ShingleN).as("sh_set"))
      .groupBy(md5(concat_ws("", $"sh_set")).as("gkey"))
      .agg(min($"doc_id").as("rep_id"), first($"sh_set").as("sh_set"),
        collect_list($"doc_id").as("ids"), count(lit(1)).as("gn"))
      .trunkCheckpoint()
    // verification payload: the shingle SET as a SORTED hash60 long
    // array + its size. The candidate verify is the cost center here
    // (the template-heavy corpus yields ~1.3M candidate pairs at
    // sf0.1), and a two-pointer merge over pre-sorted primitives
    // (native SortedIntersectCount, sorted ONCE per doc, not per pair)
    // beats string-set array_intersect per pair — and ships 3× fewer
    // shuffle bytes through both verify joins. The oracle mirrors the
    // hash inside its intersect, so the gate stays exact even in the
    // 2⁻⁶⁰ collision case (set sizes stay string-derived on both
    // engines).
    val shs = groups.select($"rep_id".as("doc_id"),
      sort_array(transform($"sh_set", t => Hashing.hash60(t))).as("hs"),
      size($"sh_set").cast("long").as("ssz"))
    val toks = groups.select($"rep_id".as("doc_id"),
      explode($"sh_set").as("tok"))
    val freq = toks.groupBy($"tok").agg(count(lit(1)).as("df"))
    val wRank = Window.partitionBy($"doc_id").orderBy($"df".asc, $"tok".asc)
    // NOT checkpointed (tried in r10, same-window A/B measured
    // 2.8 → 6.9 s WITH the pin): even prefix-filtered, this is still
    // an exploded shingle-string frame, and materializing it costs
    // more than the second df-join + window pass it saves — the q465
    // `sh` lesson again.
    val prefix = toks.join(freq, Seq("tok"))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy($"doc_id")))
      .filter($"rn" <= $"sz" - expr("(sz + 1) div 2") + 1)
      .select($"doc_id", $"tok", $"sz", $"rn")
    // candidate pruning layer 2 — the AllPairs length filter: J ≥ θ
    // forces θ·|x| ≤ |y| ≤ |x|/θ (J ≤ min/max of the sizes), so
    // size-incompatible collisions never become candidates.
    // Layer 3 — the PPJoin+ positional filter (Xiao et al. 2011): a
    // token shared at rarity positions (i, j) bounds the overlap by
    // (min(i,j) − 1) + 1 + min(sa−i, sb−j) — tokens before the match on
    // each side can align only pairwise, tokens after likewise — and
    // J ≥ 0.5 needs overlap ≥ ⌈(sa+sb)/3⌉. LOSSLESS: the bound holds
    // for EVERY shared token of a qualifying pair, so dropping
    // collisions whose bound can't reach the min-overlap never drops a
    // pair that some other collision would keep.
    val cand = prefix.as("pa").join(prefix.as("pb"), Seq("tok"))
      .filter(col("pa.doc_id") < col("pb.doc_id") &&
        col("pb.sz") * 2 >= col("pa.sz") &&
        col("pb.sz") <= col("pa.sz") * 2 &&
        least(col("pa.rn"), col("pb.rn")) +
          least(col("pa.sz") - col("pa.rn"),
            col("pb.sz") - col("pb.rn")) >=
          expr("(pa.sz + pb.sz + 2) div 3"))
      .select(col("pa.doc_id").as("doc_a"), col("pb.doc_id").as("doc_b"))
      .distinct()
    val repPairs = cand
      .join(shs.select($"doc_id".as("doc_a"), $"hs".as("ha"),
        $"ssz".as("sa")), Seq("doc_a"))
      .join(shs.select($"doc_id".as("doc_b"), $"hs".as("hb"),
        $"ssz".as("sb")), Seq("doc_b"))
      .select($"doc_a", $"doc_b",
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.expressions.SortedIntersectCount(
            org.apache.spark.sql.graftbridge.ColumnBridge
              .expression($"ha"),
            org.apache.spark.sql.graftbridge.ColumnBridge
              .expression($"hb"))).cast("long").as("inter"),
        $"sa", $"sb")
      .withColumn("jac_micro",
        expr("(1000000 * inter) div (sa + sb - inter)"))
      .filter($"jac_micro" >= 500000L)
    // expand back to member pairs: cross-group (swap sa/sb when the
    // member order flips) + within-group identity pairs
    val members = groups.select($"rep_id", explode($"ids").as("m"))
    val cross = repPairs
      .join(members.select($"rep_id".as("doc_a"), $"m".as("ma")),
        Seq("doc_a"))
      .join(members.select($"rep_id".as("doc_b"), $"m".as("mb")),
        Seq("doc_b"))
      .select(least($"ma", $"mb").as("doc_a"),
        greatest($"ma", $"mb").as("doc_b"), $"inter",
        when($"ma" < $"mb", $"sa").otherwise($"sb").as("sa"),
        when($"ma" < $"mb", $"sb").otherwise($"sa").as("sb"),
        $"jac_micro")
    val within = groups.filter($"gn" >= 2)
      .select(size($"sh_set").cast("long").as("sz"), $"ids")
      .select($"sz", explode($"ids").as("a"), $"ids")
      .select($"sz", $"a", explode($"ids").as("b"))
      .filter($"a" < $"b")
      .select($"a".as("doc_a"), $"b".as("doc_b"), $"sz".as("inter"),
        $"sz".as("sa"), $"sz".as("sb"), lit(1000000L).as("jac_micro"))
    cross.unionByName(within)
      .select($"doc_a", $"doc_b", $"inter", $"sa", $"sb", $"jac_micro")
  }

  /** q336 — capture-recapture coverage estimate for the LSH dedup
    * (Chapman's bias-corrected Lincoln-Petersen): the 16 bands split
    * into two INDEPENDENT 8-band detectors; verified pairs caught by
    * half A (n1), half B (n2), and both (m) give
    * N̂ = (n1+1)(n2+1)/(m+1) − 1 — an estimate of the TOTAL verified-
    * pair population including pairs NO band caught, i.e. the number
    * the q228 recall eval cannot see. One shingle pass feeds
    * signatures and the Jaccard verify (the q99 rule); candidates
    * carry band-half flags through the same bucket equi-join as q23
    * (never all-pairs); the estimator is exact integer arithmetic on
    * the one-row frame. */
  val capRecapDedup: Q = (s, dir) => {
    import s.implicits._
    val sh = corpus(s, dir)
      .select($"doc_id", TextOps.shinglesFromTokens(
        TextOps.tokens($"text"), ShingleN).as("sh_set"))
      .trunkCheckpoint()
    val sigs = Dedup.minhashFromShingleSets(sh, "doc_id", "sh_set",
      NumHashes)
    val bands = Dedup.lshBands(sigs, NumHashes, RowsPerBand)
    val cand = bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.band_hash" === $"b.band_hash" &&
        $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        $"a.band".as("band"))
      .groupBy($"doc_a", $"doc_b")
      .agg(max(when($"band" < 8, 1L).otherwise(0L)).as("in_a"),
        max(when($"band" >= 8, 1L).otherwise(0L)).as("in_b"))
    val ver = cand
      .join(sh.select($"doc_id".as("doc_a"), $"sh_set".as("sa")),
        Seq("doc_a"))
      .join(sh.select($"doc_id".as("doc_b"), $"sh_set".as("sb")),
        Seq("doc_b"))
      .filter(Dedup.jaccard($"sa", $"sb") >= 0.5)
      .select($"in_a", $"in_b")
    ver.agg(sum($"in_a").as("n1"), sum($"in_b").as("n2"),
        sum($"in_a" * $"in_b").as("m"), count(lit(1)).as("n_union"))
      .select($"n1", $"n2", $"m", $"n_union",
        expr("((n1 + 1) * (n2 + 1)) div (m + 1) - 1").as("chapman_est"))
      .select($"n1", $"n2", $"m", $"n_union", $"chapman_est",
        ($"chapman_est" - $"n_union").as("est_missed"))
  }

  // ------------------------------------ q456 sequence packing plan

  /** q456 — GLOBAL concat-and-chunk sequence packing plan: documents
    * in deterministic doc_id order are concatenated into one token
    * stream and cut into fixed ctx=128-token training sequences; each
    * doc's row reports its stream offset, first/last sequence index,
    * and boundary-crossing count (the packing waste metric teams tune
    * ctx against). Completes the packing family: q64 packs WITHIN each
    * source via a source-partitioned window (its state is bounded by
    * the stratum), q231 cuts token-balanced shards ABOVE both; the
    * single global stream here is the shape that needs the scale
    * machinery — ONE exclusive prefix sum over the corpus-total order
    * via [[graft.functions.ScaleWindows.rangeCumSum]]'s range
    * exchange, never a single-task global window, plus per-row integer
    * division. Zero-token docs (no [a-z] text) occupy no stream
    * positions: they land AT their offset with last_seq = first_seq
    * and 0 crossings. */
  val packSequences: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val docs = Tables(s, dir, "documents")
      .select($"doc_id",
        size(TextOps.tokens($"text")).cast("long").as("n_tokens"))
    ScaleWindows.rangeCumSum(docs, Seq($"doc_id"), $"n_tokens",
        "start_tok")
      .select($"doc_id", $"n_tokens", $"start_tok",
        expr("start_tok div 128").as("first_seq"),
        expr("(start_tok + greatest(n_tokens, 1) - 1) div 128")
          .as("last_seq"))
      .withColumn("n_crossings", $"last_seq" - $"first_seq")
  }

  private val sqlPackSequences =
    s"""WITH d AS (SELECT doc_id,
       |    len(${sqlTokens("text")})::BIGINT AS n_tokens
       |  FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0)::BIGINT AS start_tok
       |  FROM d)
       |SELECT doc_id, n_tokens, start_tok,
       |  start_tok // 128 AS first_seq,
       |  (start_tok + greatest(n_tokens, 1) - 1) // 128 AS last_seq,
       |  (start_tok + greatest(n_tokens, 1) - 1) // 128 -
       |    start_tok // 128 AS n_crossings
       |FROM c""".stripMargin

  // -------------------------------- q457 duplicated-span detection

  /** q457 — cross-corpus repeated-substring SPAN detection at
    * k-token-gram granularity (the ExactSubstr pass of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better",
    * re-expressed relationally): every 8-token window whose gram
    * occurs ≥2 times ANYWHERE in the corpus (other docs or the same
    * doc) marks its span duplicated; per doc the spans union into
    * covered-TOKEN counts and a coverage fraction. q232 measures the
    * duplicated-gram INSTANCE rate (how much boilerplate pressure);
    * this adds the positional interval union — covered token mass is
    * what a span-CUTTING pass actually removes, and overlapping
    * windows must not double-count. Shapes: windows
    * key on [[Hashing.hash60]] of the gram so the corpus-wide
    * frequency shuffle moves 8-byte keys, not strings (collision
    * 2⁻⁶⁰; the oracle mirrors the same hash so the gate stays exact);
    * the interval union is a doc-partitioned window (bounded by doc
    * length), never global. Runs on the twin corpus: every twin pair
    * is wall-to-wall duplicated spans by construction, plus whatever
    * natural template repetition the synthetic corpus carries. */
  val dupNgramSpans: Q = (s, dir) => {
    import s.implicits._
    val K = 8
    val toks = corpus(s, dir)
      .select($"doc_id", TextOps.tokens($"text").as("ws"))
    val base = toks
      .select($"doc_id", size($"ws").cast("long").as("n_tokens"))
    val wins = toks
      .select($"doc_id",
        posexplode(TextOps.slidingNgrams($"ws", K)).as(Seq("p", "gram")))
      .select($"doc_id", $"p".cast("long").as("p"),
        Hashing.hash60($"gram").as("g"))
    val dupG = wins.groupBy($"g").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" >= 2).select($"g")
    val w = Window.partitionBy($"doc_id").orderBy($"p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = wins.join(dupG, Seq("g"))
      .select($"doc_id", $"p", ($"p" + K).as("e"))
      .withColumn("cme", max($"e").over(w))
      .select($"doc_id",
        greatest(lit(0L), $"e" - greatest($"p", coalesce($"cme", $"p")))
          .as("add"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_dup_windows"),
        sum($"add").as("covered_tokens"))
    base.join(covered, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"n_dup_windows", lit(0L)).as("n_dup_windows"),
        coalesce($"covered_tokens", lit(0L)).as("covered_tokens"))
      .withColumn("dup_frac_micro",
        expr("(1000000 * covered_tokens) div greatest(n_tokens, 1)"))
  }

  private val sqlDupNgramSpans =
    s"""WITH c AS $sqlCorpus,
       |toks AS (SELECT doc_id, ${sqlTokens("text")} AS ws FROM c),
       |base AS (SELECT doc_id, len(ws)::BIGINT AS n_tokens FROM toks),
       |wins AS (SELECT doc_id, i::BIGINT - 1 AS p,
       |    ${sqlHash60("array_to_string(ws[i:i+7], ' ')")} AS g
       |  FROM (SELECT doc_id, ws,
       |      unnest(range(1, greatest(len(ws) - 7, 0) + 1)) AS i
       |    FROM toks)),
       |dupg AS (SELECT g FROM wins GROUP BY g HAVING count(*) >= 2),
       |covered AS (SELECT doc_id,
       |    count(*)::BIGINT AS n_dup_windows,
       |    sum(a)::BIGINT AS covered_tokens
       |  FROM (SELECT doc_id,
       |      greatest(0, e - greatest(p, coalesce(cme, p))) AS a
       |    FROM (SELECT w.doc_id, w.p, w.p + 8 AS e,
       |        max(w.p + 8) OVER (PARTITION BY w.doc_id ORDER BY w.p
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |          AS cme
       |      FROM wins w JOIN dupg ON w.g = dupg.g))
       |  GROUP BY doc_id)
       |SELECT b.doc_id, b.n_tokens,
       |  coalesce(n_dup_windows, 0)::BIGINT AS n_dup_windows,
       |  coalesce(covered_tokens, 0)::BIGINT AS covered_tokens,
       |  (1000000 * coalesce(covered_tokens, 0)) //
       |    greatest(b.n_tokens, 1) AS dup_frac_micro
       |FROM base b LEFT JOIN covered ON b.doc_id = covered.doc_id"""
      .stripMargin

  // ------------------------------------- q458 MMR diversified top-k

  /** q458 — Maximal Marginal Relevance re-ranking (Carbonell &
    * Goldstein 1998): the diversified-retrieval primitive RAG serving
    * and training-data sampling run AFTER a similarity search — from
    * the query's top-20 relevance pool, greedily pick k=10 where each
    * pick maximizes λ·rel − (1−λ)·max-sim-to-already-picked (λ=0.7,
    * kept integral as 7·rel_micro − 3·penalty_micro). The selection
    * completes the retrieval family: q26/q42 rank by pure relevance,
    * q207 fuses rankings, q222 mines negatives; MMR is the
    * anti-redundancy step between them.
    *
    * Exactness: relevance and pairwise similarities quantize ONCE to
    * micro longs (the q26 mirrored-cosine discipline), so the greedy
    * argmax compares exact integers at every stage — ties break on
    * vec_id, and the oracle unrolls the same 10 stages as generated
    * CTEs in lockstep. Scale: only the pool scan touches the corpus
    * (TakeOrderedAndProject, the q26 shape); every greedy stage is a
    * broadcast join on the ≤20-row pool — O(k²·pool) total, corpus-
    * independent after the scan. The inherently-sequential greedy is
    * unrolled a fixed k times (the q247/q425 fixed-iteration rule). */
  private val MmrPool = 20
  private val MmrK = 10
  val mmrRerank: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
    val pool = Similarity.bruteForceTopK(e, 0L, MmrPool)
      .select($"vec_id", $"label",
        round($"cos_sim" * 1000000.0).cast("long").as("rel_micro"))
      .trunkCheckpoint()
    val pe = pool.select($"vec_id").join(e, Seq("vec_id"))
      .select($"vec_id", $"embedding")
    val pairs = pe.as("x").join(broadcast(pe.as("y")),
        col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        round(Similarity.cosine(col("x.embedding"), col("y.embedding"))
          * 1000000.0).cast("long").as("sim_micro"))
      .trunkCheckpoint()
    var selected = pool
      .orderBy($"rel_micro".desc, $"vec_id".asc).limit(1)
      .select($"vec_id", $"label", $"rel_micro",
        lit(0L).as("penalty_micro"), lit(1).as("mmr_rank"))
      .trunkCheckpoint()
    for (i <- 2 to MmrK) {
      val pen = pairs
        .join(broadcast(selected.select($"vec_id".as("b"))), Seq("b"))
        .groupBy($"a").agg(max($"sim_micro").as("pen"))
        .select($"a".as("vec_id"), $"pen")
      val next = pool
        .join(broadcast(selected.select($"vec_id")), Seq("vec_id"),
          "left_anti")
        .join(broadcast(pen), Seq("vec_id"), "left")
        .select($"vec_id", $"label", $"rel_micro",
          coalesce($"pen", lit(0L)).as("penalty_micro"))
        .orderBy((lit(7L) * $"rel_micro" - lit(3L) * $"penalty_micro")
          .desc, $"vec_id".asc)
        .limit(1)
        .withColumn("mmr_rank", lit(i))
      selected = selected.unionByName(next).trunkCheckpoint()
    }
    selected.select($"vec_id", $"label", $"rel_micro", $"penalty_micro",
      (lit(7L) * $"rel_micro" - lit(3L) * $"penalty_micro")
        .as("mmr_score"), $"mmr_rank")
  }

  /** The q458 oracle: the same greedy unrolled as generated CTE
    * stages — sel1 seeds with the relevance argmax, stage i computes
    * each remaining candidate's max similarity into sel(i−1) and
    * picks the integral-MMR argmax. Kept in lockstep with
    * [[mmrRerank]] (same pool bound, λ split, tie order). */
  // lazy: refers to sqlCos/sqlCosCols declared later in this object
  private lazy val sqlMmrRerank: String = {
    val stages = (2 to MmrK).map { i =>
      s"""cand$i AS MATERIALIZED (SELECT c.vec_id, c.label, c.rel_micro,
         |    coalesce((SELECT max(p.sim_micro) FROM pairs p
         |      WHERE p.a = c.vec_id
         |        AND p.b IN (SELECT vec_id FROM sel${i - 1})), 0)::BIGINT
         |      AS penalty_micro
         |  FROM pool c
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})),
         |pick$i AS MATERIALIZED (SELECT vec_id, label, rel_micro, penalty_micro,
         |    $i AS mmr_rank
         |  FROM cand$i
         |  ORDER BY 7 * rel_micro - 3 * penalty_micro DESC, vec_id ASC
         |  LIMIT 1),
         |sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1}
         |  UNION ALL SELECT * FROM pick$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings
       |           WHERE vec_id = 0),
       |scored AS MATERIALIZED (SELECT vec_id, label, $sqlCos AS cs
       |  FROM embeddings, q),
       |pool AS MATERIALIZED (SELECT vec_id, label,
       |    CAST(round(1000000 * cs) AS BIGINT) AS rel_micro
       |  FROM scored ORDER BY cs DESC, vec_id ASC LIMIT $MmrPool),
       |pe AS MATERIALIZED (SELECT p.vec_id, e.embedding FROM pool p
       |  JOIN embeddings e ON p.vec_id = e.vec_id),
       |pairs AS MATERIALIZED (SELECT x.vec_id AS a, y.vec_id AS b,
       |    CAST(round(1000000 *
       |      ${sqlCosCols("x.embedding", "y.embedding")}) AS BIGINT)
       |      AS sim_micro
       |  FROM pe x JOIN pe y ON x.vec_id <> y.vec_id),
       |sel1 AS MATERIALIZED (SELECT vec_id, label, rel_micro, 0::BIGINT
       |    AS penalty_micro, 1 AS mmr_rank
       |  FROM pool ORDER BY rel_micro DESC, vec_id ASC LIMIT 1),
       |$stages
       |SELECT vec_id, label, rel_micro, penalty_micro,
       |  (7 * rel_micro - 3 * penalty_micro)::BIGINT AS mmr_score,
       |  mmr_rank
       |FROM sel$MmrK""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q456_pack_sequences" -> packSequences,
    "q457_dup_ngram_spans" -> dupNgramSpans,
    "q458_mmr_rerank" -> mmrRerank,
    "q336_capture_recapture" -> capRecapDedup,
    "q22_dedup_exact" -> dedupExact,
    "q23_dedup_minhash_lsh" -> dedupMinhashLsh,
    "q123_containment_dedup" -> containmentDedup,
    "q24_dedup_simhash" -> dedupSimhash,
    "q475_simhash_hamming_index" -> simhashHammingIndex,
    "q25_ngram_jaccard" -> ngramJaccard,
    "q459_sorted_neighborhood" -> sortedNeighborhood,
    "q479_edit_distance_join" -> editDistanceJoin,
    "q480_sq_recall" -> sqRecall,
    "q482_media_phash_dedup" -> mediaPhashDedup,
    "q484_repetition_filter" -> repetitionFilter,
    "q485_sequence_packing" -> sequencePacking,
    "q486_split_leakage" -> splitLeakage,
    "q487_substring_dedup" -> substringDedup,
    "q488_audio_fingerprint_dedup" -> audioFingerprintDedup,
    "q465_blocking_quality" -> blockingQuality,
    "q182_prefix_jaccard_join" -> prefixJaccardJoin,
    "q26_ann_cosine_topk" -> annCosineTopK,
    "q40_dedup_embedding" -> dedupEmbedding,
    "q27_ann_lsh_topk" -> annLshTopK,
    "q129_ann_multiprobe" -> annLshMultiProbe,
    "q42_ann_ivf_topk" -> annIvfTopK,
    "q110_ann_batch_serve" -> annBatchServe,
    "q111_jl_project" -> jlProject,
    "q124_bitext_pairs" -> bitextPairs,
    "q134_stratified_split" -> stratifiedSplit,
    "q136_label_noise" -> labelNoise,
    "q137_farthest_point" -> farthestPointSample,
    "q145_syndication" -> syndicationReport,
    "q43_tfidf_rank" -> tfidfRank,
    "q91_bm25_rank" -> bm25Rank,
    "q207_rrf_fusion" -> rrfFusion,
    "q208_ann_recall_eval" -> annRecallEval,
    "q216_ndcg_eval" -> ndcgEval,
    "q222_hard_negatives" -> hardNegatives,
    "q224_calibration_error" -> calibrationError,
    "q225_time_cv_folds" -> timeCvFolds,
    "q103_inverted_index" -> invertedIndex,
    "q112_index_maintain" -> indexMaintain,
    "q104_phrase_search" -> phraseSearch,
    "q44_hybrid_search" -> hybridSearch,
    "q45_repetition_score" -> repetitionScore,
    "q46_quality_filter" -> qualityFilter,
    "q28_lang_id" -> langId,
    "q203_classifier_eval" -> classifierEval,
    "q204_cohens_kappa" -> cohensKappa,
    "q29_quality_score" -> qualityScore,
    "q30_token_count" -> tokenCount,
    "q31_fingerprint" -> fingerprint,
    "q115_char_entropy" -> charEntropy,
    "q32_multimodal_meta" -> multimodalMeta,
    "q151_modality_mixture" -> modalityMixture,
    "q152_media_dedup" -> mediaDedup,
    "q65_media_frames" -> mediaFrames,
    "q66_media_features" -> mediaFeatures,
    "q67_incremental_near_dup" -> incrementalNearDup,
    "q99_incremental_clusters" -> incrementalClusters,
    "q100_pq_ann" -> pqAnn,
    "q101_ivf_pq_ann" -> ivfPqAnn,
    "q106_int8_quantize" -> int8Quantize,
    "q68_centroid_outliers" -> centroidOutliers,
    "q73_kmeans_train" -> kmeansTrain,
    "q74_ann_ivf_trained" -> annIvfTrainedTopK,
    "q84_knn_graph" -> knnGraph,
    "q446_reciprocal_nn" -> reciprocalNn,
    "q451_ctfidf_cluster_terms" -> ctfidfClusterTerms,
    "q85_semantic_dedup" -> semanticDedup,
  )

  /** The q28 prediction as reusable oracle SQL (q203/q204 evaluate
    * it against the stored label). Keep in lockstep with langId and
    * the q28 oracle. */
  private def sqlLangPred: String = {
    def in(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
    def hits(ws: Seq[String]) =
      s"len(list_filter(${sqlTokens("text")}, t -> t IN (${in(ws)})))"
    s"""SELECT lang, CASE
       |  WHEN ${hits(EnWords)} >= ${hits(FrWords)}
       |   AND ${hits(EnWords)} >= ${hits(DeWords)}
       |   AND ${hits(EnWords)} >= ${hits(EsWords)}
       |   AND ${hits(EnWords)} > 0 THEN 'en'
       |  WHEN ${hits(FrWords)} >= ${hits(DeWords)}
       |   AND ${hits(FrWords)} >= ${hits(EsWords)}
       |   AND ${hits(FrWords)} > 0 THEN 'fr'
       |  WHEN ${hits(DeWords)} >= ${hits(EsWords)}
       |   AND ${hits(DeWords)} > 0 THEN 'de'
       |  WHEN ${hits(EsWords)} > 0 THEN 'es'
       |  ELSE 'unknown' END AS lang_pred
       |FROM documents""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q456_pack_sequences" -> sqlPackSequences,
    "q457_dup_ngram_spans" -> sqlDupNgramSpans,
    "q458_mmr_rerank" -> sqlMmrRerank,
    "q22_dedup_exact" ->
      s"""SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id,
         | count(*) AS n_copies
         |FROM (SELECT doc_id, text FROM documents
         |      UNION ALL
         |      SELECT doc_id + $TwinOffset, text FROM documents) t
         |GROUP BY md5(text)""".stripMargin,
    "q23_dedup_minhash_lsh" -> sqlMinhashLsh,
    "q336_capture_recapture" -> sqlCapRecap,
    "q123_containment_dedup" -> sqlContainment,
    "q67_incremental_near_dup" -> sqlIncNearDup,
    "q99_incremental_clusters" -> sqlIncrementalClusters,
    "q100_pq_ann" -> sqlPqAnn,
    "q101_ivf_pq_ann" -> sqlIvfPq,
    "q106_int8_quantize" ->
      """WITH mv AS (SELECT vec_id,
        |    list_transform(embedding, v ->
        |      CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS mv
        |  FROM embeddings),
        |vals AS (SELECT vec_id, CAST(i - 1 AS INT) AS dim,
        |    mv[CAST(i AS INT)] AS v
        |  FROM mv, UNNEST(range(1, len(mv) + 1)) AS u(i)),
        |stats AS (SELECT dim, min(v) AS mn, max(v) AS mx,
        |    max(v) - min(v) AS span
        |  FROM vals GROUP BY dim),
        |enc AS (SELECT vec_id, v,
        |    CASE WHEN span = 0 THEN 0
        |         ELSE (255 * (v - mn)) // span END AS q,
        |    CASE WHEN span = 0 THEN mn
        |         ELSE mn + (((255 * (v - mn)) // span) * span) // 255
        |    END AS r
        |  FROM vals JOIN stats USING (dim))
        |SELECT vec_id, CAST(sum(q) AS BIGINT) AS q_sum,
        |  CAST(sum((r - v) * (r - v)) AS BIGINT) AS sse_micro2,
        |  CAST(max(abs(r - v)) AS BIGINT) AS max_abs_err_micro
        |FROM enc GROUP BY vec_id""".stripMargin,
    "q68_centroid_outliers" -> sqlCentroidOutliers,
    "q73_kmeans_train" -> sqlKmeans,
    "q451_ctfidf_cluster_terms" -> sqlCtfidfClusterTerms,
    "q74_ann_ivf_trained" -> sqlIvfTrained,
    "q85_semantic_dedup" -> {
      s"""WITH RECURSIVE pairs AS (
         |$sqlDedupEmbedding
         |), edges AS (
         |  SELECT vec_a AS src, vec_b AS dst FROM pairs
         |  UNION SELECT vec_b, vec_a FROM pairs
         |), nodes AS (
         |  SELECT vec_id FROM embeddings
         |  UNION ALL SELECT vec_id + $TwinOffset FROM embeddings
         |), reach(n, lab) AS (
         |  SELECT vec_id, vec_id FROM nodes
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.n
         |)
         |SELECT n AS vec_id, min(lab) AS component,
         |  n = min(lab) AS keep
         |FROM reach GROUP BY n""".stripMargin
    },
    "q84_knn_graph" -> sqlKnnGraph,
    "q446_reciprocal_nn" ->
      s"""WITH knn AS ($sqlKnnGraph)
         |SELECT a.vec_id AS vec_a, a.neighbor_id AS vec_b, a.cos_sim
         |FROM knn a JOIN knn b
         |  ON a.neighbor_id = b.vec_id AND b.neighbor_id = a.vec_id
         |  AND a.rank = 1 AND b.rank = 1 AND a.vec_id < b.vec_id""".stripMargin,
    "q40_dedup_embedding" -> sqlDedupEmbedding,
    "q24_dedup_simhash" -> sqlSimhash,
    "q475_simhash_hamming_index" -> sqlSimhashHammingIndex,
    "q182_prefix_jaccard_join" ->
      s"""WITH corpus AS $sqlCorpus,
         |tk AS (SELECT doc_id,
         |    ${sqlShingles("text", ShingleN)} AS toks
         |  FROM corpus),
         |hk AS (SELECT doc_id, toks,
         |    list_transform(toks, t -> ${sqlHash60("t")}) AS hs
         |  FROM tk),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_intersect(a.hs, b.hs))::BIGINT AS inter,
         |    len(a.toks)::BIGINT AS sa, len(b.toks)::BIGINT AS sb
         |  FROM hk a JOIN hk b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, inter, sa, sb,
         |  (1000000 * inter) // (sa + sb - inter) AS jac_micro
         |FROM p
         |WHERE (1000000 * inter) // (sa + sb - inter) >= 500000""".stripMargin,
    "q25_ngram_jaccard" ->
      s"""WITH corpus AS $sqlCorpus,
         |sh AS (SELECT doc_id, ${sqlShingles("text", ShingleN)} AS sh_set
         |       FROM corpus)
         |SELECT o.doc_id,
         |  ${sqlJaccard("o.sh_set", "t.sh_set")} AS jaccard,
         |  ${sqlJaccard("o.sh_set", "t.sh_set")} >= 0.5 AS is_near
         |FROM sh o JOIN sh t ON t.doc_id = o.doc_id + $TwinOffset
         |WHERE o.doc_id < $TwinOffset""".stripMargin,
    "q459_sorted_neighborhood" -> sqlSortedNeighborhood,
    "q479_edit_distance_join" -> sqlEditDistanceJoin,
    "q480_sq_recall" -> sqlSqRecall,
    "q482_media_phash_dedup" -> sqlMediaPhashDedup,
    "q484_repetition_filter" -> sqlRepetitionFilter,
    "q485_sequence_packing" -> sqlSequencePacking,
    "q486_split_leakage" -> sqlSplitLeakage,
    "q487_substring_dedup" -> sqlSubstringDedup,
    "q488_audio_fingerprint_dedup" -> sqlAudioFingerprintDedup,
    "q465_blocking_quality" -> sqlBlockingQuality,
    "q26_ann_cosine_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings
         |           WHERE vec_id = 0),
         |c AS (SELECT vec_id, label, $sqlCos AS cs FROM embeddings, q),
         |r AS (SELECT vec_id, label, cs, row_number() OVER
         |        (ORDER BY cs DESC, vec_id ASC) AS rank FROM c)
         |SELECT vec_id, label, round(cs, 6) AS cos_sim,
         |  CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 10""".stripMargin,
    "q27_ann_lsh_topk" ->
      s"""WITH wb AS (SELECT vec_id, label, embedding, $sqlBucket AS bucket
         |            FROM embeddings),
         |q AS (SELECT embedding AS qv, bucket AS qbucket FROM wb
         |      WHERE vec_id = 0),
         |c AS (SELECT vec_id, label, $sqlCos AS cs FROM wb, q
         |      WHERE bucket = qbucket),
         |r AS (SELECT vec_id, label, cs, row_number() OVER
         |        (ORDER BY cs DESC, vec_id ASC) AS rank FROM c)
         |SELECT vec_id, label, round(cs, 6) AS cos_sim,
         |  CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 10""".stripMargin,
    "q129_ann_multiprobe" ->
      s"""WITH wb AS (SELECT vec_id, label, embedding, $sqlBucket AS bucket
         |            FROM embeddings),
         |q AS (SELECT embedding AS qv, bucket AS qbucket FROM wb
         |      WHERE vec_id = 0),
         |probes AS (SELECT qv, qbucket AS pb FROM q
         |      UNION ALL SELECT qv, xor(qbucket, 1) AS pb FROM q
         |      UNION ALL SELECT qv, xor(qbucket, 2) AS pb FROM q
         |      UNION ALL SELECT qv, xor(qbucket, 4) AS pb FROM q
         |      UNION ALL SELECT qv, xor(qbucket, 8) AS pb FROM q
         |      UNION ALL SELECT qv, xor(qbucket, 16) AS pb FROM q
         |      UNION ALL SELECT qv, xor(qbucket, 32) AS pb FROM q),
         |c AS (SELECT vec_id, label, $sqlCos AS cs FROM wb
         |      JOIN probes ON wb.bucket = probes.pb),
         |r AS (SELECT vec_id, label, cs, row_number() OVER
         |        (ORDER BY cs DESC, vec_id ASC) AS rank FROM c)
         |SELECT vec_id, label, round(cs, 6) AS cos_sim,
         |  CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 10""".stripMargin,
    "q42_ann_ivf_topk" ->
      s"""WITH centroids AS (SELECT vec_id AS cid, embedding AS cemb
         |  FROM embeddings WHERE vec_id < $NumCells),
         |scored AS (SELECT e.vec_id, e.label, e.embedding, c.cid,
         |    ${sqlCosCols("e.embedding", "c.cemb")} AS ccs
         |  FROM embeddings e CROSS JOIN centroids c),
         |assigned AS (SELECT vec_id, label, embedding, cid FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id
         |     ORDER BY ccs DESC, cid ASC) AS rn FROM scored) t
         |  WHERE rn = 1),
         |q AS (SELECT embedding AS qv, cid AS qcid FROM assigned
         |  WHERE vec_id = 0),
         |cand AS (SELECT a.vec_id, a.label,
         |    ${sqlCosCols("a.embedding", "qv")} AS cs
         |  FROM assigned a JOIN q ON a.cid = q.qcid),
         |r AS (SELECT vec_id, label, cs, row_number() OVER
         |    (ORDER BY cs DESC, vec_id ASC) AS rank FROM cand)
         |SELECT vec_id, label, round(cs, 6) AS cos_sim,
         |  CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 10""".stripMargin,
    "q110_ann_batch_serve" ->
      s"""WITH centroids AS (SELECT vec_id AS cid, embedding AS cemb
         |  FROM embeddings WHERE vec_id < $NumCells),
         |scored AS (SELECT e.vec_id, e.label, e.embedding, c.cid,
         |    ${sqlCosCols("e.embedding", "c.cemb")} AS ccs
         |  FROM embeddings e CROSS JOIN centroids c),
         |assigned AS (SELECT vec_id, label, embedding, cid FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id
         |     ORDER BY ccs DESC, cid ASC) AS rn FROM scored) t
         |  WHERE rn = 1),
         |qs AS (SELECT vec_id AS q_id, embedding AS qv, cid
         |  FROM assigned WHERE vec_id % 25 = 0),
         |cand AS (SELECT qs.q_id, a.vec_id, a.label,
         |    ${sqlCosCols("a.embedding", "qv")} AS cs
         |  FROM assigned a JOIN qs ON a.cid = qs.cid
         |  WHERE a.vec_id <> qs.q_id),
         |r AS (SELECT q_id, vec_id, label, cs, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cs DESC, vec_id ASC) AS rank
         |  FROM cand)
         |SELECT q_id, vec_id, label, round(cs, 6) AS cos_sim,
         |  CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 3""".stripMargin,
    "q145_syndication" ->
      """WITH corpus AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'wire' AS source, text FROM documents
        |  WHERE doc_id % 5 = 0),
        |ph AS (SELECT md5(text) AS h, source FROM corpus
        |  GROUP BY md5(text), source),
        |sets AS (SELECT h, list_sort(list(DISTINCT source)) AS srcs
        |  FROM ph GROUP BY h HAVING count(DISTINCT source) >= 2),
        |pairs AS (SELECT h, a AS source_a, b AS source_b
        |  FROM sets, unnest(srcs) u1(a), unnest(srcs) u2(b)
        |  WHERE a < b)
        |SELECT source_a, source_b, count(*)::BIGINT AS n_shared_docs
        |FROM pairs GROUP BY source_a, source_b""".stripMargin,
    "q137_farthest_point" -> {
      val cos = sqlCosCols("t.embedding", "s.embedding")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |s0 AS (SELECT vec_id, embedding FROM e WHERE vec_id = 0),
         |c1 AS (SELECT t.vec_id, min($cos) AS mc
         |  FROM e t CROSS JOIN s0 s
         |  WHERE t.vec_id NOT IN (SELECT vec_id FROM s0)
         |  GROUP BY t.vec_id),
         |f1 AS (SELECT vec_id, mc FROM c1
         |  ORDER BY mc ASC, vec_id ASC LIMIT 1),
         |s1 AS (SELECT * FROM s0 UNION ALL
         |  SELECT e.vec_id, e.embedding FROM e JOIN f1 USING (vec_id)),
         |c2 AS (SELECT t.vec_id, min($cos) AS mc
         |  FROM e t CROSS JOIN s1 s
         |  WHERE t.vec_id NOT IN (SELECT vec_id FROM s1)
         |  GROUP BY t.vec_id),
         |f2 AS (SELECT vec_id, mc FROM c2
         |  ORDER BY mc ASC, vec_id ASC LIMIT 1),
         |s2 AS (SELECT * FROM s1 UNION ALL
         |  SELECT e.vec_id, e.embedding FROM e JOIN f2 USING (vec_id)),
         |c3 AS (SELECT t.vec_id, min($cos) AS mc
         |  FROM e t CROSS JOIN s2 s
         |  WHERE t.vec_id NOT IN (SELECT vec_id FROM s2)
         |  GROUP BY t.vec_id),
         |f3 AS (SELECT vec_id, mc FROM c3
         |  ORDER BY mc ASC, vec_id ASC LIMIT 1)
         |SELECT vec_id, 0 AS round, CAST(NULL AS DOUBLE) AS min_cos
         |  FROM s0
         |UNION ALL SELECT vec_id, 1, round(mc, 6) FROM f1
         |UNION ALL SELECT vec_id, 2, round(mc, 6) FROM f2
         |UNION ALL SELECT vec_id, 3, round(mc, 6) FROM f3""".stripMargin
    },
    "q134_stratified_split" -> {
      val h = sqlHash60("'split|' || source || '|' || CAST(doc_id AS VARCHAR)")
      s"""WITH a AS (SELECT doc_id, source,
         |    CASE WHEN $h % 100 < 80 THEN 'train'
         |         WHEN $h % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |sz AS (SELECT source, split, count(*)::BIGINT AS stratum_n
         |  FROM a GROUP BY source, split)
         |SELECT doc_id, a.source, a.split, stratum_n
         |FROM a JOIN sz USING (source, split)""".stripMargin
    },
    "q136_label_noise" ->
      s"""WITH e AS (SELECT vec_id, label, $sqlBucket AS bucket
         |  FROM embeddings),
         |cnt AS (SELECT bucket, label, count(*)::BIGINT AS n
         |  FROM e GROUP BY bucket, label),
         |maj AS (SELECT bucket, label AS majority_label FROM
         |  (SELECT *, row_number() OVER (PARTITION BY bucket
         |     ORDER BY n DESC, label ASC) AS rn FROM cnt) t
         |  WHERE rn = 1)
         |SELECT e.vec_id, e.label, e.bucket, maj.majority_label,
         |  e.label <> maj.majority_label AS suspect
         |FROM e JOIN maj USING (bucket)""".stripMargin,
    "q124_bitext_pairs" ->
      s"""WITH e AS (SELECT emb.vec_id, emb.embedding, d.lang,
         |    $sqlBucket AS bucket
         |  FROM embeddings emb
         |  JOIN documents d ON emb.vec_id = d.doc_id),
         |cand AS (SELECT q.vec_id AS q_id, q.lang, t.vec_id,
         |    ${sqlCosCols("t.embedding", "q.embedding")} AS cs
         |  FROM e q JOIN e t
         |    ON q.bucket = t.bucket
         |  WHERE q.lang <> 'en' AND t.lang = 'en'),
         |r AS (SELECT q_id, lang, vec_id, cs, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cs DESC, vec_id ASC) AS rank
         |  FROM cand)
         |SELECT q_id, lang, vec_id AS en_vec_id, round(cs, 6) AS cos_sim
         |FROM r WHERE rank = 1""".stripMargin,
    "q111_jl_project" -> {
      val signs = jlSigns
      val pCols = (0 until JlOutDims).map { j =>
        val sArr = signs(j).mkString("[", ", ", "]")
        s"CAST(list_sum(list_transform(list_zip(q, $sArr), " +
          s"x -> x[1] * x[2])) AS BIGINT) AS p$j"
      }.mkString(",\n  ")
      val pn = (0 until JlOutDims).map(j => s"p$j * p$j").mkString(" + ")
      s"""WITH qv AS (SELECT vec_id,
         |  list_transform(embedding,
         |    e -> CAST(round(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
         |  FROM embeddings),
         |p AS (SELECT vec_id,
         |  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS qn,
         |  $pCols
         |  FROM qv)
         |SELECT vec_id, ${(0 until JlOutDims).map("p" + _).mkString(", ")},
         |  CAST(round(CAST($pn AS DOUBLE) / ($JlOutDims.0 * CAST(qn AS DOUBLE))
         |    * 1000000.0) AS BIGINT) AS norm_ratio_micro
         |FROM p""".stripMargin
    },
    "q43_tfidf_rank" -> {
      val dfs = TfidfTerms.map(t =>
        s"sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df_$t")
        .mkString(", ")
      val tfs = TfidfTerms.map(t =>
        s"len(list_filter(toks, x -> x = '$t'))::BIGINT AS tf_$t")
        .mkString(",\n  ")
      val score = TfidfTerms.map(t =>
        s"tf_$t * (ln(n1 / (df_$t + 1)) + 1.0)").mkString(" + ")
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS toks
         |  FROM documents),
         |stats AS (SELECT (count(*) + 1)::BIGINT AS n1, $dfs FROM tk),
         |tf AS (SELECT doc_id,
         |  $tfs
         |  FROM tk)
         |SELECT doc_id, round($score, 6) AS tfidf
         |FROM tf, stats
         |WHERE round($score, 6) > 0.0
         |ORDER BY tfidf DESC, doc_id ASC
         |LIMIT 15""".stripMargin
    },
    "q91_bm25_rank" -> {
      val dfs = TfidfTerms.map(t =>
        s"sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df_$t")
        .mkString(", ")
      val tfs = TfidfTerms.map(t =>
        s"len(list_filter(toks, x -> x = '$t'))::BIGINT AS tf_$t")
        .mkString(",\n  ")
      val score = TfidfTerms.map(t =>
        s"(tf_$t * 2.2) / (tf_$t + 1.2 * (0.25 + 0.75 * dl / avgdl))" +
          s" * ln((n - df_$t + 0.5) / (df_$t + 0.5) + 1.0)")
        .mkString(" + ")
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS toks
         |  FROM documents),
         |stats AS (SELECT count(*)::BIGINT AS n,
         |  sum(len(toks)) / count(*) AS avgdl, $dfs FROM tk),
         |tf AS (SELECT doc_id, len(toks)::BIGINT AS dl,
         |  $tfs
         |  FROM tk)
         |SELECT doc_id, round($score, 6) AS bm25
         |FROM tf, stats
         |WHERE round($score, 6) > 0.0
         |ORDER BY bm25 DESC, doc_id ASC
         |LIMIT 15""".stripMargin
    },
    "q207_rrf_fusion" -> {
      val dfs = TfidfTerms.map(t =>
        s"sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df_$t")
        .mkString(", ")
      val tfs = TfidfTerms.map(t =>
        s"len(list_filter(toks, x -> x = '$t'))::BIGINT AS tf_$t")
        .mkString(",\n  ")
      val score = TfidfTerms.map(t =>
        s"(tf_$t * 2.2) / (tf_$t + 1.2 * (0.25 + 0.75 * dl / avgdl))" +
          s" * ln((n - df_$t + 0.5) / (df_$t + 0.5) + 1.0)")
        .mkString(" + ")
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS toks
         |  FROM documents),
         |stats AS (SELECT count(*)::BIGINT AS n,
         |  sum(len(toks)) / count(*) AS avgdl, $dfs FROM tk),
         |tf AS (SELECT doc_id, len(toks)::BIGINT AS dl,
         |  $tfs
         |  FROM tk),
         |lexb AS (SELECT doc_id, round($score, 6) AS bm25
         |  FROM tf, stats WHERE round($score, 6) > 0.0
         |  ORDER BY bm25 DESC, doc_id ASC LIMIT 15),
         |lex AS (SELECT doc_id, CAST(row_number() OVER
         |    (ORDER BY bm25 DESC, doc_id ASC) AS INTEGER) AS r_lex
         |  FROM lexb),
         |q AS (SELECT embedding AS qv FROM embeddings
         |  WHERE vec_id = 0),
         |c AS (SELECT vec_id, $sqlCos AS cs FROM embeddings, q),
         |r AS (SELECT vec_id, cs, row_number() OVER
         |    (ORDER BY cs DESC, vec_id ASC) AS rank FROM c),
         |sem AS (SELECT vec_id AS doc_id,
         |    CAST(rank AS INTEGER) AS r_sem
         |  FROM r WHERE rank <= 10),
         |f AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         |    r_lex, r_sem
         |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
         |SELECT doc_id, r_lex, r_sem,
         |  (coalesce(1000000 // (60 + r_lex), 0)
         |    + coalesce(1000000 // (60 + r_sem), 0))::BIGINT
         |    AS rrf_micro
         |FROM f""".stripMargin
    },
    "q224_calibration_error" ->
      """WITH scored AS (SELECT
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
        |    CASE WHEN EXISTS (SELECT 1 FROM orders
        |      WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
        |      THEN 1 ELSE 0 END AS label
        |  FROM customer),
        |bounds AS (SELECT min(cents) AS lo, max(cents) AS hi
        |  FROM scored),
        |conf AS (SELECT label,
        |    1000000 * (cents - lo) // greatest(hi - lo, 1)
        |      AS conf_micro
        |  FROM scored, bounds),
        |bins AS (SELECT least(conf_micro // 100000, 9) AS bin,
        |    count(*)::BIGINT AS n, sum(label)::BIGINT AS pos,
        |    sum(conf_micro)::BIGINT AS sconf
        |  FROM conf GROUP BY 1),
        |b2 AS (SELECT bin, n, sconf // n AS avg_conf_micro,
        |    1000000 * pos // n AS acc_micro
        |  FROM bins),
        |b3 AS (SELECT bin, n, avg_conf_micro, acc_micro,
        |    abs(acc_micro - avg_conf_micro) AS gap_micro FROM b2),
        |ece AS (SELECT CAST(sum(n * gap_micro) // greatest(sum(n), 1)
        |    AS BIGINT) AS ece_micro FROM b3)
        |SELECT bin, n, avg_conf_micro, acc_micro, gap_micro, ece_micro
        |FROM b3, ece""".stripMargin,
    "q225_time_cv_folds" ->
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day
        |  FROM orders),
        |bounds AS (SELECT min(day) AS dmin,
        |    date_diff('day', min(day), max(day))::BIGINT AS range_d
        |  FROM o),
        |folds AS (SELECT unnest(range(1, 5)) AS fold),
        |x AS (SELECT day, date_diff('day', dmin, day)::BIGINT AS d,
        |    greatest(range_d // 6, 1) AS span
        |  FROM o, bounds),
        |wf AS (SELECT fold, day,
        |    CASE WHEN d <= fold * span THEN 'train'
        |         WHEN d <= (fold + 1) * span THEN 'val' END AS split
        |  FROM x, folds)
        |SELECT CAST(fold AS INTEGER) AS fold, split,
        |  count(*)::BIGINT AS n_orders,
        |  min(day) AS first_day, max(day) AS last_day
        |FROM wf WHERE split IS NOT NULL GROUP BY fold, split""".stripMargin,
    "q222_hard_negatives" -> {
      val cos = sqlCosCols("a.embedding", "c.embedding")
      s"""WITH wb AS (SELECT vec_id, label, embedding,
         |    $sqlBucket AS bucket FROM embeddings),
         |sc AS (SELECT a.vec_id AS anchor_id, c.vec_id AS cand_id,
         |    $cos AS cs
         |  FROM wb a JOIN wb c ON a.bucket = c.bucket
         |    AND c.label <> a.label
         |  WHERE a.vec_id % 50 = 0),
         |r AS (SELECT anchor_id, cand_id, cs, row_number() OVER
         |    (PARTITION BY anchor_id ORDER BY cs DESC, cand_id ASC)
         |      AS rank FROM sc)
         |SELECT anchor_id, cand_id, round(cs, 6) AS cos_sim,
         |  CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 3""".stripMargin
    },
    "q216_ndcg_eval" -> {
      val gain = "CAST(round(1000000.0 / (ln(CAST(rank + 1 AS " +
        "DOUBLE)) / ln(2.0))) AS BIGINT)"
      s"""WITH q AS (SELECT embedding AS qv, label AS qlab
         |  FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT vec_id, label, $sqlCos AS cs
         |  FROM embeddings, q),
         |r AS (SELECT label, row_number() OVER
         |    (ORDER BY cs DESC, vec_id ASC) AS rank FROM c),
         |g AS (SELECT CASE WHEN label = (SELECT qlab FROM q)
         |      THEN 1 ELSE 0 END AS rel, $gain AS g
         |  FROM r WHERE rank <= 10),
         |dcg AS (SELECT sum(rel * g)::BIGINT AS dcg_micro,
         |    sum(rel)::BIGINT AS n_rel FROM g),
         |m AS (SELECT least(count(*), 10)::BIGINT AS m
         |  FROM embeddings, q WHERE label = qlab),
         |spine AS (SELECT unnest(range(1, m + 1)) AS rank FROM m),
         |ideal AS (SELECT sum($gain)::BIGINT AS idcg_micro
         |  FROM spine)
         |SELECT 10 AS k, n_rel, dcg_micro, idcg_micro,
         |  1000000 * dcg_micro // idcg_micro AS ndcg_micro
         |FROM dcg, ideal""".stripMargin
    },
    "q208_ann_recall_eval" ->
      s"""WITH wb AS (SELECT vec_id, embedding, $sqlBucket AS bucket
         |            FROM embeddings),
         |bq AS (SELECT embedding AS qv FROM embeddings
         |       WHERE vec_id = 0),
         |bc AS (SELECT vec_id, $sqlCos AS cs FROM embeddings, bq),
         |bt AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER
         |        (ORDER BY cs DESC, vec_id ASC) AS rank FROM bc) t
         |       WHERE rank <= 10),
         |q AS (SELECT embedding AS qv, bucket AS qbucket FROM wb
         |      WHERE vec_id = 0),
         |lc AS (SELECT vec_id, $sqlCos AS cs FROM wb
         |      CROSS JOIN q WHERE bucket = qbucket),
         |lt AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER
         |        (ORDER BY cs DESC, vec_id ASC) AS rank FROM lc) t
         |       WHERE rank <= 10),
         |probes AS (SELECT qv, qbucket AS pb FROM q
         |      UNION ALL SELECT qv, xor(qbucket, 1) AS pb FROM q
         |      UNION ALL SELECT qv, xor(qbucket, 2) AS pb FROM q
         |      UNION ALL SELECT qv, xor(qbucket, 4) AS pb FROM q
         |      UNION ALL SELECT qv, xor(qbucket, 8) AS pb FROM q
         |      UNION ALL SELECT qv, xor(qbucket, 16) AS pb FROM q
         |      UNION ALL SELECT qv, xor(qbucket, 32) AS pb FROM q),
         |mc AS (SELECT vec_id, $sqlCos AS cs FROM wb
         |      JOIN probes ON wb.bucket = probes.pb),
         |mt AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER
         |        (ORDER BY cs DESC, vec_id ASC) AS rank FROM mc) t
         |       WHERE rank <= 10)
         |SELECT 'lsh' AS method,
         |  (SELECT count(*) FROM lt JOIN bt USING (vec_id))::BIGINT
         |    AS overlap,
         |  ((1000000 * (SELECT count(*) FROM lt JOIN bt
         |    USING (vec_id))) // 10)::BIGINT AS recall_micro
         |UNION ALL
         |SELECT 'multiprobe' AS method,
         |  (SELECT count(*) FROM mt JOIN bt USING (vec_id))::BIGINT
         |    AS overlap,
         |  ((1000000 * (SELECT count(*) FROM mt JOIN bt
         |    USING (vec_id))) // 10)::BIGINT AS recall_micro""".stripMargin,
    "q115_char_entropy" ->
      """WITH ch AS (SELECT doc_id,
        |    unnest(string_split_regex(
        |      regexp_replace(lower(text), '[^a-z]', '', 'g'), '')) AS ch
        |  FROM documents),
        |counts AS (SELECT doc_id, ch, count(*)::BIGINT AS c
        |  FROM ch WHERE ch <> '' GROUP BY doc_id, ch),
        |agg AS (SELECT doc_id, sum(c)::BIGINT AS n_chars_az,
        |    sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0)
        |        AS BIGINT))::BIGINT AS s_u
        |  FROM counts GROUP BY doc_id)
        |SELECT doc_id, n_chars_az,
        |  CAST(round(ln(CAST(n_chars_az AS DOUBLE)) * 1000000.0) AS BIGINT)
        |    - s_u // n_chars_az AS entropy_micro
        |FROM agg""".stripMargin,
    "q112_index_maintain" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $TwinOffset AS doc_id,
         |    text || '$TwinSuffix' AS text
         |  FROM documents WHERE doc_id % 2 = 0),
         |tk AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS term
         |  FROM corpus),
         |full_stats AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df,
         |    count(*)::BIGINT AS cf
         |  FROM tk GROUP BY term),
         |btk AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS term
         |  FROM (SELECT doc_id + $TwinOffset AS doc_id,
         |      text || '$TwinSuffix' AS text
         |    FROM documents WHERE doc_id % 2 = 0)),
         |delta AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS delta_df
         |  FROM btk GROUP BY term)
         |SELECT f.term, f.df, f.cf, d.delta_df
         |FROM full_stats f JOIN delta d USING (term)""".stripMargin,
    "q103_inverted_index" ->
      s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks
         |  FROM documents),
         |idx AS (SELECT doc_id, toks[CAST(i AS INT)] AS term,
         |    CAST(i AS INT) AS pos
         |  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)),
         |postings AS (SELECT term, doc_id,
         |    CAST(count(*) AS BIGINT) AS tf,
         |    string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos)
         |      AS positions
         |  FROM idx GROUP BY term, doc_id),
         |stats AS (SELECT term,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |    CAST(count(*) AS BIGINT) AS cf
         |  FROM idx GROUP BY term)
         |SELECT term, doc_id, tf, positions, df, cf
         |FROM postings JOIN stats USING (term)""".stripMargin,
    "q104_phrase_search" ->
      s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks
         |  FROM documents),
         |idx AS (SELECT doc_id, toks[CAST(i AS INT)] AS term,
         |    CAST(i AS INT) AS pos
         |  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)),
         |tri AS (SELECT array_to_string(
         |    toks[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS g
         |  FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)
         |  WHERE len(toks) >= 3),
         |top AS (SELECT g AS phrase,
         |    string_split(g, ' ')[1] AS w1,
         |    string_split(g, ' ')[2] AS w2,
         |    string_split(g, ' ')[3] AS w3
         |  FROM (SELECT g, count(*) AS n FROM tri GROUP BY g
         |        ORDER BY n DESC, g ASC LIMIT 1))
         |SELECT a.doc_id, a.pos AS match_pos, top.phrase
         |FROM idx a, idx b, idx c, top
         |WHERE a.term = top.w1 AND b.term = top.w2 AND c.term = top.w3
         |  AND b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |  AND c.doc_id = a.doc_id AND c.pos = a.pos + 2""".stripMargin,
    "q44_hybrid_search" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings
         |  WHERE vec_id = 0),
         |cand AS (SELECT d.doc_id, e.embedding FROM documents d
         |  JOIN embeddings e ON d.doc_id = e.vec_id
         |  WHERE d.text LIKE '%spark%')
         |SELECT doc_id,
         |  round(${sqlCosCols("embedding", "qv")}, 6) AS cos_sim
         |FROM cand, q
         |ORDER BY cos_sim DESC, doc_id ASC
         |LIMIT 10""".stripMargin,
    "q45_repetition_score" -> {
      val allGrams =
        s"""list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
           |  i -> array_to_string(list_slice(toks, i, i + 1), ' '))"""
          .stripMargin
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS toks
         |  FROM documents),
         |g AS (SELECT doc_id,
         |    len($allGrams) AS n_grams,
         |    len(list_distinct($allGrams)) AS n_distinct,
         |    unnest($allGrams) AS gr
         |  FROM tk),
         |pg AS (SELECT doc_id, n_grams, n_distinct, gr, count(*) AS c
         |  FROM g GROUP BY doc_id, n_grams, n_distinct, gr)
         |SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams,
         |  round(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 6)
         |    AS dup_2gram_frac,
         |  round(CAST(max(c) AS DOUBLE) / n_grams, 6) AS top_2gram_frac
         |FROM pg GROUP BY doc_id, n_grams, n_distinct""".stripMargin
    },
    "q46_quality_filter" -> {
      val allGrams =
        s"""list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
           |  i -> array_to_string(list_slice(toks, i, i + 1), ' '))"""
          .stripMargin
      val enIn = EnWords.map(w => s"'$w'").mkString(", ")
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS toks
         |  FROM documents),
         |feats AS (SELECT doc_id,
         |    len(toks) AS n_words,
         |    len(list_filter(toks, t -> t IN ($enIn))) AS stop_hits,
         |    round(1.0 - CAST(len(list_distinct($allGrams)) AS DOUBLE)
         |      / len($allGrams), 6) AS dup_frac
         |  FROM tk)
         |SELECT doc_id,
         |  n_words < 20 AS too_short,
         |  stop_hits = 0 AS no_stopwords,
         |  dup_frac > 0.1 AS repetitive,
         |  (NOT n_words < 20 AND NOT stop_hits = 0
         |   AND NOT dup_frac > 0.1) AS keep
         |FROM feats""".stripMargin
    },
    "q28_lang_id" -> {
      def in(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
      def hits(ws: Seq[String]) =
        s"len(list_filter(${sqlTokens("text")}, t -> t IN (${in(ws)})))"
      s"""SELECT doc_id, lang,
         | CAST(${hits(EnWords)} AS INTEGER) AS en_hits,
         | CAST(${hits(FrWords)} AS INTEGER) AS fr_hits,
         | CAST(${hits(DeWords)} AS INTEGER) AS de_hits,
         | CAST(${hits(EsWords)} AS INTEGER) AS es_hits,
         | CASE
         |  WHEN ${hits(EnWords)} >= ${hits(FrWords)}
         |   AND ${hits(EnWords)} >= ${hits(DeWords)}
         |   AND ${hits(EnWords)} >= ${hits(EsWords)}
         |   AND ${hits(EnWords)} > 0 THEN 'en'
         |  WHEN ${hits(FrWords)} >= ${hits(DeWords)}
         |   AND ${hits(FrWords)} >= ${hits(EsWords)}
         |   AND ${hits(FrWords)} > 0 THEN 'fr'
         |  WHEN ${hits(DeWords)} >= ${hits(EsWords)}
         |   AND ${hits(DeWords)} > 0 THEN 'de'
         |  WHEN ${hits(EsWords)} > 0 THEN 'es'
         |  ELSE 'unknown' END AS lang_pred
         |FROM documents""".stripMargin
    },
    "q203_classifier_eval" ->
      s"""WITH pred AS ($sqlLangPred),
         |conf AS (SELECT lang, lang_pred, count(*)::BIGINT AS n
         |  FROM pred GROUP BY 1, 2),
         |bt AS (SELECT lang AS cls, sum(n)::BIGINT AS n_true
         |  FROM conf GROUP BY 1),
         |bp AS (SELECT lang_pred AS cls, sum(n)::BIGINT AS n_pred
         |  FROM conf GROUP BY 1),
         |dg AS (SELECT lang AS cls, n AS tp FROM conf
         |  WHERE lang = lang_pred),
         |base AS (SELECT cls, coalesce(tp, 0)::BIGINT AS tp,
         |    coalesce(n_true, 0)::BIGINT AS support,
         |    coalesce(n_pred, 0)::BIGINT AS predicted
         |  FROM bt FULL OUTER JOIN bp USING (cls)
         |  LEFT JOIN dg USING (cls)),
         |x AS (SELECT cls, tp, support, predicted,
         |    CASE WHEN predicted > 0
         |      THEN (1000000 * tp) // predicted END AS prec_micro,
         |    CASE WHEN support > 0
         |      THEN (1000000 * tp) // support END AS rec_micro
         |  FROM base)
         |SELECT cls, tp, support, predicted, prec_micro, rec_micro,
         |  CASE WHEN prec_micro IS NOT NULL AND rec_micro IS NOT NULL
         |    AND prec_micro + rec_micro > 0
         |    THEN (2 * prec_micro * rec_micro)
         |      // (prec_micro + rec_micro) END AS f1_micro
         |FROM x""".stripMargin,
    "q204_cohens_kappa" ->
      s"""WITH pred AS ($sqlLangPred),
         |conf AS (SELECT lang, lang_pred, count(*)::BIGINT AS n
         |  FROM pred GROUP BY 1, 2),
         |bt AS (SELECT lang, sum(n)::BIGINT AS n_true
         |  FROM conf GROUP BY 1),
         |bp AS (SELECT lang_pred, sum(n)::BIGINT AS n_pred
         |  FROM conf GROUP BY 1),
         |pe AS (SELECT sum(n_true::HUGEINT * n_pred) AS pe_num
         |  FROM bt JOIN bp ON lang = lang_pred),
         |ag AS (SELECT sum(n)::BIGINT AS nn,
         |    sum(CASE WHEN lang = lang_pred THEN n ELSE 0 END)::BIGINT
         |      AS diag
         |  FROM conf)
         |SELECT nn AS n, diag,
         |  CAST(1000000::HUGEINT * diag // nn::HUGEINT AS BIGINT)
         |    AS po_micro,
         |  CAST(1000000::HUGEINT * pe_num // (nn::HUGEINT * nn)
         |    AS BIGINT) AS pe_micro,
         |  CAST(1000000::HUGEINT * (nn::HUGEINT * diag - pe_num)
         |    // (nn::HUGEINT * nn - pe_num) AS BIGINT) AS kappa_micro
         |FROM ag CROSS JOIN pe""".stripMargin,
    "q29_quality_score" -> {
      val nWords = s"len(${sqlTokens("text")})"
      val enHits =
        s"len(list_filter(${sqlTokens("text")}, t -> t IN " +
          s"(${EnWords.map(w => s"'$w'").mkString(", ")})))"
      s"""SELECT doc_id,
         | CAST($nWords AS INTEGER) AS n_words,
         | CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
         |   AS INTEGER) AS n_letters,
         | CAST($enHits AS INTEGER) AS stop_hits,
         | round(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
         |   AS DOUBLE) / nullif($nWords, 0), 6) AS avg_word_len,
         | round(CAST($enHits AS DOUBLE) / nullif($nWords, 0), 6)
         |   AS stop_ratio,
         | round(least(1.0, $nWords / 100.0) *
         |   (1.0 - round(CAST($enHits AS DOUBLE) / nullif($nWords, 0), 6)),
         |   6) AS quality
         |FROM documents""".stripMargin
    },
    "q30_token_count" ->
      """SELECT doc_id, n_chars,
        | CAST(len(string_split_regex(text, '\s+')) AS INTEGER)
        |   AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
        |   AS INTEGER) AS bpe_pieces,
        | CAST(length(text) AS BIGINT) AS len_chars,
        | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS len_bytes
        |FROM documents""".stripMargin,
    "q31_fingerprint" ->
      s"""SELECT doc_id,
         | list_min(list_transform(
         |   range(1, greatest(length(text) - 7, 1) + 1),
         |   i -> ${sqlHash60("substr(text, i, 8)")})) AS fingerprint,
         | CAST(greatest(length(text) - 7, 1) AS BIGINT) AS n_grams
         |FROM documents""".stripMargin,
    "q151_modality_mixture" ->
      """WITH media AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio'
        |         ELSE 'video' END AS media_type,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
        |  FROM documents),
        |agg AS (SELECT source, media_type, count(*)::BIGINT AS n_items,
        |    sum(n_bytes)::BIGINT AS total_bytes
        |  FROM media GROUP BY source, media_type),
        |tot AS (SELECT source, sum(total_bytes)::BIGINT AS src_bytes
        |  FROM agg GROUP BY source)
        |SELECT agg.source, media_type, n_items, total_bytes,
        |  (1000000 * total_bytes) // src_bytes AS byte_share_micro
        |FROM agg JOIN tot USING (source)""".stripMargin,
    "q152_media_dedup" ->
      """WITH wrapped AS (
        |  SELECT doc_id, 'CONTAIN1' || text AS payload FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000 AS doc_id, 'CONTAIN2' || text AS payload
        |  FROM documents WHERE doc_id % 4 = 0),
        |fp AS (SELECT doc_id, md5(payload) AS raw_md5,
        |    md5(substring(payload, 9)) AS content_md5
        |  FROM wrapped)
        |SELECT content_md5, count(*)::BIGINT AS n_items,
        |  count(DISTINCT raw_md5)::BIGINT AS n_raw_variants,
        |  min(doc_id) AS keep_doc
        |FROM fp GROUP BY content_md5 HAVING count(*) >= 2""".stripMargin,
    "q32_multimodal_meta" ->
      """SELECT doc_id, 'image/fake' AS media_type,
        | CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
        | CAST(ascii(substr(text, 1, 1)) AS INTEGER) AS width,
        | CAST(ascii(substr(text, 2, 1)) AS INTEGER) AS height
        |FROM documents""".stripMargin,
    // text is pure ASCII so char offsets == byte offsets: substr mirrors
    // the executor-side byte slicing exactly
    "q65_media_frames" ->
      """SELECT doc_id, CAST(i AS INTEGER) AS frame_id,
        |  CAST(i * 12 AS INTEGER) AS offset,
        |  md5(substr(text, CAST(i * 12 + 1 AS INTEGER), 16)) AS frame_md5,
        |  CAST(length(substr(text, CAST(i * 12 + 1 AS INTEGER), 16))
        |    AS INTEGER) AS n_frame_bytes
        |FROM (SELECT doc_id, text, unnest(range(0, 4)) AS i
        |      FROM documents) t
        |WHERE i * 12 < length(text)""".stripMargin,
    "q66_media_features" -> {
      def cls(re: String) = s"len(regexp_extract_all(text, '$re'))"
      s"""SELECT doc_id,
         | round(CAST(${cls(" ")} AS DOUBLE) / length(text), 6) AS f_space,
         | round(CAST(${cls("[a-o]")} AS DOUBLE) / length(text), 6)
         |   AS f_low,
         | round(CAST(${cls("[p-z]")} AS DOUBLE) / length(text), 6)
         |   AS f_high,
         | CAST(length(text) AS INTEGER) AS n_bytes
         |FROM documents""".stripMargin
    },
  )
}
