package graft.queries

import graft.Materialize.TrunkCheckpointOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Dedup, Hashing, Similarity, TextOps}
import Hashing.sqlHash60
import Similarity.{sqlCosCols, sqlNorm}
import TextOps.sqlTokens

/** Round-4 second batch: the data-selection and measurement operators
  * that sit between a cleaned corpus and a training run — DSIR hashed
  * n-gram importance weighting, sub-document (chunk-level) dedup,
  * matryoshka-truncation retrieval eval, kNN label accuracy, embedding
  * centroid drift — plus the classical-statistics backfill (McNemar,
  * Kendall tau-b, Wilson intervals, permutation test, Hill tail index)
  * and a from-first-principles distributed logistic regression.
  *
  * Exactness discipline (the q77/q121/q227 convention): ratios are
  * integral micro divisions of exact longs; `ln`/`exp`/`sqrt` of
  * exact-long ratios are quantized per VALUE (never per partial
  * aggregate), so partial-aggregation order can never move a result.
  * Where a SIGNED quantity meets integer division (q247's w·x terms,
  * q250's centroid means), both engines truncate toward zero — Spark
  * `div`, DuckDB `//`, and Java `/` all share that semantic (verified
  * against this container's DuckDB: -7 // 2 = -3), so the mirrored
  * expressions are value-identical without any floor shimming.
  */
object Insights {

  // ------------------------------------------------- q242 DSIR weights

  /** q242 — DSIR hashed-bigram importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every out-of-target document by how target-like its hashed
    * bigram distribution is. Bigrams hash into 512 buckets (portable
    * hash60); per-bucket weight is the Laplace-smoothed log-ratio
    * ln p̂_target(b) − ln p̂_raw(b), micro-quantized PER BUCKET (512
    * distinct values — one `ln` per bucket, not per row); a document's
    * score is the exact long sum of its bigram instances' bucket
    * weights. Scale: the weight table is 512 rows (broadcast); bucket
    * counting is map-side combined on 512 keys; the only corpus-sized
    * shuffle is the per-doc score aggregation. At 100 TB the target
    * sample is whatever high-quality slice the curator names — here
    * lang='en' plays that role. */
  val dsirWeights: Q = (s, dir) => {
    import s.implicits._
    val B = 512
    val tok = Tables(s, dir, "documents")
      .select($"doc_id", $"lang", TextOps.tokens($"text").as("toks"))
    def buckets(df: DataFrame) = df.select($"doc_id",
        explode(when(size($"toks") >= 2, sequence(lit(1), size($"toks") - 1))
          .otherwise(array().cast("array<int>"))).as("i"), $"toks")
      .select($"doc_id", (Hashing.hash60(concat_ws(" ",
        element_at($"toks", $"i"), element_at($"toks", $"i" + 1)))
        % B).as("b"))
    // ONE tokenize+hash pass per corpus side (r11 audit; was 2× for
    // target, 3× for raw — the r10 duplicated-subtree class): the
    // target side collapses straight to its B-bounded bucket census,
    // the raw side to per-(doc, bucket) multiplicities (both collapsed
    // scalar aggregates, the r10-approved pin class). Totals derive
    // from the censuses (Σ counts) instead of re-counting the corpus,
    // and the final score is the multiplicity-weighted sum — exactly
    // the per-occurrence sum it replaces.
    val tgt = buckets(tok.filter($"lang" === "en"))
    val raw = buckets(tok.filter($"lang" =!= "en"))
    val ct = tgt.groupBy($"b").agg(count(lit(1)).as("ct"))
      .trunkCheckpoint()
    val rawC = raw.groupBy($"doc_id", $"b").agg(count(lit(1)).as("m"))
      .trunkCheckpoint()
    val cr = rawC.groupBy($"b").agg(sum($"m").as("cr"))
    val tT = ct.agg(sum($"ct").as("t_tot"))
    val tR = rawC.agg(sum($"m").as("r_tot"))
    val w = ct.join(cr, Seq("b"), "full_outer")
      .crossJoin(broadcast(tT)).crossJoin(broadcast(tR))
      .select($"b",
        round(lit(1000000.0) *
          (log((coalesce($"ct", lit(0L)) + 1).cast("double") /
             ($"t_tot" + B).cast("double")) -
           log((coalesce($"cr", lit(0L)) + 1).cast("double") /
             ($"r_tot" + B).cast("double")))).cast("long").as("w_micro"))
    rawC.join(broadcast(w), Seq("b"))
      .groupBy($"doc_id")
      .agg(sum($"m").as("n_bigrams"),
        sum($"m" * $"w_micro").as("dsir_score_micro"))
  }

  // ------------------------------------------------ q243 chunk dedup

  /** q243 — sub-document dedup at 8-token chunk granularity (the
    * C4/RefinedWeb line-dedup design, re-expressed for a corpus with
    * no newlines): documents split into consecutive 8-token chunks;
    * the first occurrence of each distinct chunk (by (doc_id,
    * chunk_idx)) is canonical and every other instance is a duplicate
    * to scrub. Finer-grained than q22 (whole-doc) and q102 (dup spans
    * vs a known boilerplate set): this one needs no prior knowledge of
    * WHAT repeats. Scale: the window is keyed BY CHUNK (uniform text
    * key — no hot partition); everything else is one per-doc
    * aggregation. Retained fraction is an exact integral micro
    * division. */
  val chunkDedup: Q = (s, dir) => {
    import s.implicits._
    val t = Tables(s, dir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .filter(size($"toks") > 0)
      .select($"doc_id", size($"toks").cast("long").as("n_toks"), $"toks")
    val ch = t.select($"doc_id", $"n_toks", posexplode(expr(
        "transform(sequence(0, (size(toks) + 7) div 8 - 1), " +
          "i -> concat_ws(' ', slice(toks, i * 8 + 1, 8)))")))
      .select($"doc_id", $"n_toks", $"pos".cast("long").as("chunk_idx"),
        $"col".as("chunk"),
        least(lit(8L), $"n_toks" - $"pos" * 8).as("clen"))
    val rn = ch.withColumn("rn", row_number().over(
      Window.partitionBy($"chunk").orderBy($"doc_id", $"chunk_idx")))
    rn.groupBy($"doc_id", $"n_toks")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"rn" > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when($"rn" > 1, $"clen").otherwise(0L)).as("toks_removed"))
      .select($"doc_id", $"n_chunks", $"n_dup_chunks", $"toks_removed",
        expr("1000000 * (n_toks - toks_removed) div n_toks")
          .as("retained_micro"))
  }

  // ---------------------------------------------------- q244 McNemar

  /** q244 — McNemar's paired test: do the "price above mean" and
    * "priority urgent/high" classifiers disagree symmetrically on the
    * same orders? Only the discordant cells matter (b = A-only, c =
    * B-only); the statistic (b−c)²/(b+c) and its continuity-corrected
    * form are integral micro divisions of exact counts. One broadcast
    * one-row mean, one map-side-combined count pass — no shuffle wider
    * than two longs. (Long bound: (b−c)²·10⁶ stays under 2⁶³ through
    * sf ≈ 50; the decimal upgrade path is the q189 pattern.) */
  val mcnemar: Q = (s, dir) => {
    import s.implicits._
    val o = Tables(s, dir, "orders")
      .select(round($"o_totalprice" * 100).cast("long").as("cents"),
        $"o_orderpriority")
    val m = o.agg(expr("sum(cents) div count(1)").as("mean_cents"))
    o.crossJoin(broadcast(m))
      .select(($"cents" > $"mean_cents").as("a"),
        $"o_orderpriority".isin("1-URGENT", "2-HIGH").as("b"))
      .agg(sum(when($"a" && !$"b", 1L).otherwise(0L)).as("b_cnt"),
        sum(when(!$"a" && $"b", 1L).otherwise(0L)).as("c_cnt"))
      .select($"b_cnt", $"c_cnt",
        expr("(b_cnt - c_cnt) * (b_cnt - c_cnt) * 1000000" +
          " div greatest(b_cnt + c_cnt, 1)").as("mcnemar_micro"),
        expr("(abs(b_cnt - c_cnt) - 1) * (abs(b_cnt - c_cnt) - 1)" +
          " * 1000000 div greatest(b_cnt + c_cnt, 1)")
          .as("mcnemar_cc_micro"))
  }

  // ------------------------------------------- q245 matryoshka eval

  /** q245 — matryoshka-truncation retrieval eval (Kusupati et al.
    * 2022): recall@10 of 16-dim-prefix cosine against the full 64-dim
    * ground truth, per query — the measurement that licenses serving
    * truncated embeddings at a quarter of the memory. Both rankings
    * use the brute-force scan (the eval BASELINE must be exact; the
    * approximate serving paths are q27/q42/q100 and are themselves
    * evaluated by q208). Scale: the query sample is broadcast, the
    * corpus is scanned once per ranking, and the per-query windows are
    * keyed by q_id (WindowGroupLimit prunes to top-10 pre-exchange). */
  val matryoshkaEval: Q = (s, dir) => {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
    val qs = emb.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"))
    def topk(sim: Column) = emb.crossJoin(broadcast(qs))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", sim.as("cs"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cs".desc, $"vec_id".asc)))
      .filter($"rank" <= 10).select($"q_id", $"vec_id")
    val full = topk(Similarity.cosine($"embedding", $"qv"))
    val trunc = topk(Similarity.cosine(
      slice($"embedding", 1, 16), slice($"qv", 1, 16)))
    val ov = full.join(trunc, Seq("q_id", "vec_id"))
      .groupBy($"q_id").agg(count(lit(1)).as("ov"))
    qs.select($"q_id").join(ov, Seq("q_id"), "left")
      .select($"q_id", coalesce($"ov", lit(0L)).as("n_overlap"),
        expr("1000000 * coalesce(ov, 0) div 10").as("recall_micro"))
  }

  // ------------------------------------------------ q246 Kendall tau

  /** q246 — Kendall tau-b rank correlation between daily revenue and
    * daily order count. Concordant/discordant/tied pair counts are
    * exact longs from the O(days²) self-join on the bounded calendar
    * frame (the q177 Theil-Sen stance: ~2.4k days → ~3M pairs,
    * scale-independent by construction); tau-b applies the tie
    * correction in one single-row double expression over exact longs. */
  val kendallTau: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "orders")
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("rev"),
        count(lit(1)).as("cnt"))
    val p = d.as("a").join(broadcast(d.as("b")), col("a.day") < col("b.day"))
      .select(
        when((col("a.rev") > col("b.rev") && col("a.cnt") > col("b.cnt"))
          || (col("a.rev") < col("b.rev") && col("a.cnt") < col("b.cnt")),
          1L).otherwise(0L).as("conc"),
        when((col("a.rev") > col("b.rev") && col("a.cnt") < col("b.cnt"))
          || (col("a.rev") < col("b.rev") && col("a.cnt") > col("b.cnt")),
          1L).otherwise(0L).as("disc"),
        when(col("a.rev") === col("b.rev") && col("a.cnt") =!= col("b.cnt"),
          1L).otherwise(0L).as("tx"),
        when(col("a.cnt") === col("b.cnt") && col("a.rev") =!= col("b.rev"),
          1L).otherwise(0L).as("ty"),
        when(col("a.rev") === col("b.rev") && col("a.cnt") === col("b.cnt"),
          1L).otherwise(0L).as("tb"))
      .agg(sum($"conc").as("c"), sum($"disc").as("d"),
        sum($"tx").as("tx"), sum($"ty").as("ty"), sum($"tb").as("tb"))
    val n = d.agg(count(lit(1)).as("n"))
    p.crossJoin(broadcast(n))
      .select($"n".as("n_days"), $"c".as("concordant"),
        $"d".as("discordant"), $"tx".as("ties_x"), $"ty".as("ties_y"),
        expr("CAST(round(1000000.0 * CAST(c - d AS DOUBLE) / " +
          "sqrt(CAST(n * (n - 1) div 2 - (tx + tb) AS DOUBLE) * " +
          "CAST(n * (n - 1) div 2 - (ty + tb) AS DOUBLE))) AS BIGINT)")
          .as("tau_b_micro"))
  }

  // -------------------------------------------- q247 logistic GD

  /** q247 — distributed logistic regression by full-batch gradient
    * descent, from first principles: predict `l_returnflag = 'R'` from
    * scaled quantity and discount. The canonical Spark ML pattern —
    * weights live on the driver (3 longs), each of the 3 unrolled
    * iterations is ONE map-side-combined aggregate over the data (the
    * per-round 1-row collect is the q98 BPE-argmax seam), and the
    * update runs in exact integer micro space. Per-row: z in micro via
    * truncating division (Spark `div` ≡ DuckDB `//` on the signed w·x
    * products), σ(z) micro-quantized per distinct z; gradients are
    * exact long sums of err·x products (|err·x| ≤ 1.2·10¹², safe
    * through sf ≈ 5; decimal upgrade is mechanical). Driver updates
    * use Java `/` — the same truncation semantic. */
  val logregGd: Q = (s, dir) => {
    import s.implicits._
    logregLoop(s, Tables(s, dir, "lineitem").select(
      when($"l_returnflag" === "R", 1000000L).otherwise(0L).as("y"),
      round($"l_quantity" / 50.0 * 1000000.0).cast("long").as("x1"),
      round($"l_discount" * 10000000.0).cast("long").as("x2")))
  }

  /** The 3-iteration integer-micro GD loop shared by q247 and q263 —
    * input frame must carry micro longs (y, x1, x2). */
  private def logregLoop(s: SparkSession, base: DataFrame): DataFrame = {
    import s.implicits._
    var w0 = 0L; var w1 = 0L; var w2 = 0L; var n = 0L
    for (_ <- 1 to 3) {
      val z = s"$w0 + (x1 * $w1) div 1000000 + (x2 * $w2) div 1000000"
      val g = base.select(
          (expr(s"CAST(round(1000000.0 / (1.0 + " +
            s"exp(-(CAST($z AS DOUBLE)) / 1000000.0))) AS BIGINT)")
            - $"y").as("err"), $"x1", $"x2")
        .agg(count(lit(1)).as("n"), sum($"err").as("s0"),
          sum($"err" * $"x1").as("s1"), sum($"err" * $"x2").as("s2"))
        .collect()(0)
      n = g.getLong(0)
      val (s0, s1, s2) = (g.getLong(1), g.getLong(2), g.getLong(3))
      // Java `/` truncates toward zero — same semantic as DuckDB `//`
      w0 -= (500000L * (s0 / n)) / 1000000L
      w1 -= (500000L * (s1 / (n * 1000000L))) / 1000000L
      w2 -= (500000L * (s2 / (n * 1000000L))) / 1000000L
    }
    Seq((n, w0, w1, w2)).toDF("n", "w0_micro", "w1_micro", "w2_micro")
  }

  // ---------------------------------------------- q248 Wilson CI

  /** q248 — Wilson 95% score intervals for per-source short-document
    * rates (n_chars < 200): the interval that stays inside [0,1] and
    * behaves at small n, i.e. the right way to rank sources by defect
    * rate when their sizes differ 100×. Counts are exact; the interval
    * arithmetic is one fixed double expression per source row (z=1.96
    * constants folded to literals so both engines evaluate the same
    * tree), micro-quantized at the end. One map-side-combined count
    * pass; O(sources) everything else. */
  val wilsonCi: Q = (s, dir) => {
    import s.implicits._
    val agg = Tables(s, dir, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"n_chars" < 200, 1L).otherwise(0L)).as("n_defect"))
    def side(sign: String) =
      "(CAST(n_defect AS DOUBLE) / CAST(n_docs AS DOUBLE)" +
        " + 1.9208 / CAST(n_docs AS DOUBLE) " + sign +
        " 1.96 * sqrt(CAST(n_defect AS DOUBLE) / CAST(n_docs AS DOUBLE)" +
        " * (1.0 - CAST(n_defect AS DOUBLE) / CAST(n_docs AS DOUBLE))" +
        " / CAST(n_docs AS DOUBLE)" +
        " + 0.9604 / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))))" +
        " / (1.0 + 3.8416 / CAST(n_docs AS DOUBLE))"
    agg.select($"source", $"n_docs", $"n_defect",
      expr("1000000 * n_defect div n_docs").as("p_micro"),
      expr(s"CAST(round(1000000.0 * ${side("-")}) AS BIGINT)")
        .as("lo_micro"),
      expr(s"CAST(round(1000000.0 * ${side("+")}) AS BIGINT)")
        .as("hi_micro"))
  }

  // ----------------------------------------- q249 permutation test

  /** q249 — two-sample permutation test on purchase values between the
    * q189 A/B arms, with HASH-DERIVED Rademacher reassignments instead
    * of RNG (b ∈ 0..255, arm_b(user) = hash60("perm|b|user") mod 2) —
    * fully deterministic, cluster-order-independent, and re-runnable.
    * Scale: per-user totals collapse the event stream first (users ≪
    * events), the 256-way explode rides on that collapsed frame, and
    * the permutation aggregate map-side-combines into 256 groups. Arm
    * means are integral micro divisions of exact cent longs; the
    * p-value uses the standard (1 + #extreme)/(1 + B) estimator. */
  val permutationTest: Q = (s, dir) => {
    import s.implicits._
    val u = Tables(s, dir, "events")
      .filter($"event_type" === "purchase" && $"value" > 0)
      .groupBy($"user_id")
      .agg(sum(round($"value" * 100).cast("long")).as("su"))
    def armDiff(df: DataFrame, arm: Column, grp: Seq[Column]) = {
      val a = df.select(grp :+ arm.as("arm") :+ col("su"): _*)
      val aggd = a.groupBy(grp: _*)
        .agg(sum(when($"arm" === 0, $"su").otherwise(0L)).as("s0"),
          sum(when($"arm" === 0, 1L).otherwise(0L)).as("n0"),
          sum(when($"arm" === 1, $"su").otherwise(0L)).as("s1"),
          sum(when($"arm" === 1, 1L).otherwise(0L)).as("n1"))
      aggd.withColumn("diff_micro",
        expr("1000000 * s0 div greatest(n0, 1)" +
          " - 1000000 * s1 div greatest(n1, 1)"))
    }
    val obs = armDiff(u,
      Hashing.hash60(concat(lit("ab|"), $"user_id".cast("string"))) % 2,
      Seq.empty)
      .select($"diff_micro".as("diff_obs"))
    val perms = armDiff(
      u.select($"user_id", $"su",
        explode(expr("sequence(0, 255)")).as("b")),
      Hashing.hash60(concat(lit("perm|"), $"b".cast("string"),
        lit("|"), $"user_id".cast("string"))) % 2,
      Seq(col("b")))
    perms.crossJoin(broadcast(obs))
      .agg(sum(when(abs($"diff_micro") >= abs($"diff_obs"), 1L)
        .otherwise(0L)).as("n_extreme"),
        first($"diff_obs").as("obs_diff_micro"))
      .select($"obs_diff_micro", $"n_extreme",
        expr("(1 + n_extreme) * 1000000 div 257").as("p_micro"))
  }

  // --------------------------------------------- q250 centroid drift

  /** q250 — per-label embedding centroid drift between the even/odd
    * vec_id halves (the snapshot-pair proxy): components micro-quantize
    * PER ROW into exact longs, per-(label, half, dim) sums are exact,
    * centroids are truncating integer divisions, and the cosine between the two
    * 64-dim centroid vectors is one double expression per label row.
    * The drift monitor a retrained-encoder pipeline gates on. Shuffle
    * dimension: labels × 2 × dims = O(1280) groups, map-side combined. */
  val centroidDrift: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
    val cent = e.select($"label", ($"vec_id" % 2).as("half"),
        posexplode($"embedding"))
      .select($"label", $"half", $"pos",
        round($"col".cast("double") * 1000000.0).cast("long").as("v"))
      .groupBy($"label", $"half", $"pos")
      .agg(sum($"v").as("sv"), count(lit(1)).as("nv"))
      .select($"label", $"half", $"pos",
        expr("sv div nv").as("c"))
    val j = cent.filter($"half" === 0).as("a")
      .join(cent.filter($"half" === 1).as("b"),
        col("a.label") === col("b.label") && col("a.pos") === col("b.pos"))
      .select(col("a.label").as("label"),
        (col("a.c") * col("b.c")).as("dot"),
        (col("a.c") * col("a.c")).as("sq0"),
        (col("b.c") * col("b.c")).as("sq1"))
      .groupBy($"label")
      .agg(sum($"dot").as("dot"), sum($"sq0").as("n0"),
        sum($"sq1").as("n1"))
    val cnt = e.groupBy($"label")
      .agg(sum(when($"vec_id" % 2 === 0, 1L).otherwise(0L)).as("n_even"),
        sum(when($"vec_id" % 2 =!= 0, 1L).otherwise(0L)).as("n_odd"))
    j.join(cnt, Seq("label"))
      .select($"label", $"n_even", $"n_odd",
        expr("CAST(round(1000000.0 * (1.0 - CAST(dot AS DOUBLE) / " +
          "(sqrt(CAST(n0 AS DOUBLE)) * sqrt(CAST(n1 AS DOUBLE))))) " +
          "AS BIGINT)").as("drift_micro"))
  }

  // ------------------------------------------------ q251 Hill tail

  /** q251 — Hill estimator of the revenue tail index over the top-100
    * order statistics: α̂ = 1 / mean(ln(x_i/x_k)) — the heavy-tail
    * diagnostic that says whether means and variances of spend are even
    * finite. Top-k is TakeOrderedAndProject on VALUES ONLY (boundary
    * ties carry equal values, so the multiset — and therefore the
    * estimate — is engine-independent); each ln quantizes per row from
    * exact cent ratios; the mean and the reciprocal are integral micro
    * divisions. O(k) everything after the scan. */
  val hillTail: Q = (s, dir) => {
    import s.implicits._
    val top = Tables(s, dir, "orders")
      .select(round($"o_totalprice" * 100).cast("long").as("cents"))
      .orderBy($"cents".desc).limit(100)
    val xk = top.agg(min($"cents").as("xk_cents"))
    top.crossJoin(broadcast(xk))
      .select($"xk_cents",
        expr("CAST(round(1000000.0 * ln(CAST(cents AS DOUBLE) / " +
          "CAST(xk_cents AS DOUBLE))) AS BIGINT)").as("lm"))
      .groupBy($"xk_cents").agg(sum($"lm").as("sl"))
      .select(lit(100L).as("k"), $"xk_cents",
        expr("sl div 99").as("mean_ln_micro"),
        expr("1000000000000 div greatest(sl div 99, 1)")
          .as("alpha_micro"))
  }

  // ------------------------------------------- q252 kNN label accuracy

  /** q252 — leave-one-out 5-NN label accuracy over the embeddings (the
    * embedding-quality probe reported next to q208's recall and q216's
    * nDCG: do nearest neighbors share labels?). Deterministic majority
    * vote: neighbors by (cosine desc, vec_id), vote winner by (votes
    * desc, label asc). Scale: eval sample broadcast, one corpus scan,
    * per-query windows keyed by q_id (WindowGroupLimit prunes to k
    * before the exchange), vote resolution on an O(eval × labels)
    * frame. */
  val knnLabelAcc: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
    val qs = e.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"),
        $"label".as("true_label"))
    val nn = e.crossJoin(broadcast(qs))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"true_label", $"vec_id", $"label",
        Similarity.cosine($"embedding", $"qv").as("cs"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cs".desc, $"vec_id".asc)))
      .filter($"rank" <= 5)
    val pred = nn.groupBy($"q_id", $"true_label", $"label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id").orderBy($"votes".desc, $"label".asc)))
      .filter($"rn" === 1)
      .select($"q_id", $"true_label", $"label".as("pred_label"))
    pred.groupBy($"true_label")
      .agg(count(lit(1)).as("n_eval"),
        sum(when($"pred_label" === $"true_label", 1L).otherwise(0L))
          .as("n_correct"))
      .select($"true_label", $"n_eval", $"n_correct",
        expr("1000000 * n_correct div n_eval").as("acc_micro"))
  }

  // ------------------------------------------ shared one-way ANOVA core

  /** One-way ANOVA F over a (g, v)-framed long-valued DataFrame — the
    * shared engine of q253 (location) and q254 (Levene dispersion).
    * Group means are truncating integer divisions (deterministic);
    * between/within sum-of-squares terms quantize PER GROUP to longs
    * in units of 10⁶·v² (k values — never a cross-partition double
    * sum), so the exact long totals and the final one-row F are
    * engine-identical. Shuffle dimension: k groups, map-side combined. */
  private def anovaF(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    val st = d.groupBy($"g").agg(count(lit(1)).as("nj"),
      sum($"v").as("sj"),
      sum($"v".cast("decimal(19,0)") * $"v".cast("decimal(19,0)"))
        .as("ssj"))
    val tot = st.agg(sum($"nj").as("n"), sum($"sj").as("s"),
      count(lit(1)).as("k"))
    val terms = st.crossJoin(broadcast(tot)).select(
      expr("CAST(round(CAST(nj AS DOUBLE) * " +
        "pow(CAST(sj div nj AS DOUBLE) - CAST(s div n AS DOUBLE), 2)" +
        " / 1000000.0) AS BIGINT)").as("bj"),
      expr("CAST(round((CAST(ssj AS DOUBLE) - CAST(sj AS DOUBLE)" +
        " * CAST(sj AS DOUBLE) / CAST(nj AS DOUBLE)) / 1000000.0)" +
        " AS BIGINT)").as("wj"))
    terms.agg(sum($"bj").as("ssb_q"), sum($"wj").as("ssw_q"))
      .crossJoin(broadcast(tot))
      .select($"k".as("k_groups"), $"n".as("n_total"), $"ssb_q",
        $"ssw_q",
        expr("CAST(round(1000000.0 * (CAST(ssb_q AS DOUBLE) /" +
          " CAST(k - 1 AS DOUBLE)) / (CAST(ssw_q AS DOUBLE) /" +
          " CAST(n - k AS DOUBLE))) AS BIGINT)").as("f_micro"))
  }

  // ------------------------------------------------- q253 ANOVA F

  /** q253 — one-way ANOVA: does mean order value differ across the
    * five order priorities? The F statistic every segmentation claim
    * should clear before shipping. See [[anovaF]] for the exactness
    * and shuffle story (k=5 groups, one map-side-combined pass). */
  val anovaFTest: Q = (s, dir) => {
    import s.implicits._
    anovaF(Tables(s, dir, "orders").select($"o_orderpriority".as("g"),
      round($"o_totalprice" * 100).cast("long").as("v")))
  }

  // ---------------------------------------------- q254 Levene test

  /** q254 — Levene's test for variance homogeneity across return
    * flags (mean-centered variant): ANOVA-F over the absolute
    * deviations z = |cents − group mean| — the gate on "can I pool
    * these segments' variances" that q189/q253 silently assume. Two
    * passes: a k-row mean frame broadcast back, then the shared
    * [[anovaF]] core on z. Group means truncate to whole cents (the
    * deterministic-contract tradeoff, documented there). */
  val leveneTest: Q = (s, dir) => {
    import s.implicits._
    val li = Tables(s, dir, "lineitem").select($"l_returnflag".as("g"),
      round($"l_extendedprice" * 100).cast("long").as("c"))
    val means = li.groupBy($"g").agg(expr("sum(c) div count(1)").as("mj"))
    anovaF(li.join(broadcast(means), Seq("g"))
      .select($"g", abs($"c" - $"mj").as("v")))
  }

  // -------------------------------------------- q255 Jarque-Bera

  /** q255 — Jarque-Bera normality test on line-item prices: skewness
    * and excess kurtosis from exact centered power sums (deviations
    * from the truncated-cent mean fit decimal(9); d², d³, d⁴ sums are
    * exact decimals — no raw-moment cancellation), then one single-row
    * double expression for S, K and JB = n/6·(S² + K²/4). One
    * broadcast mean row + one map-side-combined moment pass. */
  val jarqueBera: Q = (s, dir) => {
    import s.implicits._
    val c = Tables(s, dir, "lineitem")
      .select(round($"l_extendedprice" * 100).cast("long").as("c"))
    val m = c.agg(expr("sum(c) div count(1)").as("mc"))
    val d = c.crossJoin(broadcast(m))
      .select($"mc", ($"c" - $"mc").cast("decimal(9,0)").as("d"))
    d.groupBy($"mc")
      .agg(count(lit(1)).as("n"), sum($"d" * $"d").as("s2"),
        sum($"d" * $"d" * $"d").as("s3"),
        sum($"d" * $"d" * $"d" * $"d").as("s4"))
      .select($"n".as("n_rows"), $"mc".as("mean_cents"),
        expr("CAST(round(1000000.0 * (CAST(s3 AS DOUBLE) /" +
          " CAST(n AS DOUBLE)) / pow(CAST(s2 AS DOUBLE) /" +
          " CAST(n AS DOUBLE), 1.5)) AS BIGINT)").as("skew_micro"),
        expr("CAST(round(1000000.0 * ((CAST(s4 AS DOUBLE) /" +
          " CAST(n AS DOUBLE)) / pow(CAST(s2 AS DOUBLE) /" +
          " CAST(n AS DOUBLE), 2) - 3.0)) AS BIGINT)")
          .as("exkurt_micro"),
        expr("CAST(round(1000000.0 * CAST(n AS DOUBLE) / 6.0 *" +
          " (pow((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)) /" +
          " pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 1.5), 2) +" +
          " pow((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)) /" +
          " pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 2) - 3.0, 2)" +
          " / 4.0)) AS BIGINT)").as("jb_micro"))
  }

  // ------------------------------------------------- q256 CUPED

  /** q256 — CUPED variance reduction (Deng et al. 2013, the industry
    * default for online experiments): pre-period purchase totals as
    * the covariate, θ = cov(pre, post)/var(pre) from one exact-sum
    * pass over the per-user frame, and the adjusted per-user metric
    * y − θ·(x − x̄) computed ENTIRELY IN INTEGER MICRO SPACE once θ is
    * micro-quantized — arm means and the variance-reduction ratio are
    * then engine-exact. Scale: the event stream collapses to per-user
    * totals first (users ≪ events), everything after is O(users) with
    * two single-row broadcasts. */
  val cuped: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .filter($"event_type" === "purchase" && $"value" > 0)
      .select($"user_id", expr("unix_micros(ts)").as("tm"),
        round($"value" * 100).cast("long").as("cents"))
    val mid = ev.agg(expr("(min(tm) + max(tm)) div 2").as("mid"))
    val usr = ev.crossJoin(broadcast(mid)).groupBy($"user_id")
      .agg(sum(when($"tm" <= $"mid", $"cents").otherwise(0L)).as("pre"),
        sum(when($"tm" > $"mid", $"cents").otherwise(0L)).as("post"))
      .withColumn("arm", Hashing.hash60(
        concat(lit("ab|"), $"user_id".cast("string"))) % 2)
    val st = usr.agg(count(lit(1)).as("n"), sum($"pre").as("sp"),
        sum($"post").as("so"),
        sum($"pre".cast("decimal(19,0)") * $"pre".cast("decimal(19,0)"))
          .as("spp"),
        sum($"pre".cast("decimal(19,0)") * $"post".cast("decimal(19,0)"))
          .as("spo"))
      .select($"n", expr("CAST(round(1000000.0 * (CAST(n AS DOUBLE) *" +
          " CAST(spo AS DOUBLE) - CAST(sp AS DOUBLE) *" +
          " CAST(so AS DOUBLE)) / (CAST(n AS DOUBLE) *" +
          " CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) *" +
          " CAST(sp AS DOUBLE))) AS BIGINT)").as("theta_micro"),
        expr("1000000 * sp div n").as("pre_mean_micro"))
    val adj = usr.crossJoin(broadcast(st)).select($"arm", $"theta_micro",
      (lit(1000000L) * $"post").as("post_u"),
      expr("1000000 * post - theta_micro *" +
        " (1000000 * pre - pre_mean_micro) div 1000000").as("adj_u"))
    adj.groupBy($"theta_micro")
      .agg(count(lit(1)).as("n_users"),
        sum(when($"arm" === 0, $"post_u").otherwise(0L)).as("p0"),
        sum(when($"arm" === 0, 1L).otherwise(0L)).as("n0"),
        sum(when($"arm" === 1, $"post_u").otherwise(0L)).as("p1"),
        sum(when($"arm" === 1, 1L).otherwise(0L)).as("n1"),
        sum(when($"arm" === 0, $"adj_u").otherwise(0L)).as("a0"),
        sum(when($"arm" === 1, $"adj_u").otherwise(0L)).as("a1"),
        sum($"post_u".cast("decimal(38,0)") *
          $"post_u".cast("decimal(38,0)")).as("qp"),
        sum($"post_u".cast("decimal(38,0)")).as("tp"),
        sum($"adj_u".cast("decimal(38,0)") *
          $"adj_u".cast("decimal(38,0)")).as("qa"),
        sum($"adj_u".cast("decimal(38,0)")).as("ta"))
      .select($"n_users", $"theta_micro",
        expr("p0 div greatest(n0, 1) - p1 div greatest(n1, 1)")
          .as("diff_raw_micro"),
        expr("a0 div greatest(n0, 1) - a1 div greatest(n1, 1)")
          .as("diff_cuped_micro"),
        expr("CAST(round(1000000.0 * (1.0 - (CAST(n_users AS DOUBLE) *" +
          " CAST(qa AS DOUBLE) - CAST(ta AS DOUBLE) *" +
          " CAST(ta AS DOUBLE)) / (CAST(n_users AS DOUBLE) *" +
          " CAST(qp AS DOUBLE) - CAST(tp AS DOUBLE) *" +
          " CAST(tp AS DOUBLE)))) AS BIGINT)").as("var_reduction_micro"))
  }

  // ------------------------------------- q257 Markov next-event acc

  /** q257 — empirical next-event prediction accuracy: the argmax
    * Markov predictor (most frequent successor per event type, ties
    * to the lexicographically smallest — deterministic) scored
    * against the transitions it was fit on. The baseline number any
    * sequence model must beat (complements q133's transition matrix).
    * Scale: one user-keyed lag window over the stream; the model is
    * an O(types²) frame broadcast back; accuracy is one grouped count. */
  val markovPredict: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val tr = Tables(s, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(w))
      .filter($"prev".isNotNull)
      .select($"prev", $"event_type".as("cur"))
    val pred = tr.groupBy($"prev", $"cur").agg(count(lit(1)).as("n_pc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"prev").orderBy($"n_pc".desc, $"cur".asc)))
      .filter($"rn" === 1).select($"prev", $"cur".as("pred"))
    tr.join(broadcast(pred), Seq("prev"))
      .groupBy($"prev")
      .agg(count(lit(1)).as("n_trans"),
        sum(when($"cur" === $"pred", 1L).otherwise(0L)).as("n_correct"))
      .select($"prev".as("prev_type"), $"n_trans", $"n_correct",
        expr("1000000 * n_correct div n_trans").as("acc_micro"))
  }

  // -------------------------------------- q258 conformal coverage

  /** q258 — split-conformal prediction coverage: train a per-priority
    * mean predictor on orderkey%3=0, take the 0.9 interpolated
    * quantile of absolute calibration residuals (%3=1) as the
    * interval half-width, and measure empirical test coverage (%3=2)
    * — the distribution-free ML-governance check that a "90%
    * interval" actually covers ~90%. The quantile is the q54
    * percentile/quantile_cont pair rounded to integer micro; every
    * residual and coverage count is exact. Scale: two broadcast k-row
    * model frames; the exact per-group quantile is the only per-group
    * sort (the q96 sampled path is the 100 TB fallback). */
  val conformalCoverage: Q = (s, dir) => {
    import s.implicits._
    val o = Tables(s, dir, "orders").select($"o_orderpriority".as("g"),
      round($"o_totalprice" * 100).cast("long").as("cents"),
      ($"o_orderkey" % 3).as("split"))
    val m = o.filter($"split" === 0).groupBy($"g")
      .agg(expr("1000000 * sum(cents) div count(1)").as("mu"))
    val qh = o.filter($"split" === 1).join(broadcast(m), Seq("g"))
      .select($"g", abs(lit(1000000L) * $"cents" - $"mu").as("res"))
      .groupBy($"g")
      .agg(count(lit(1)).as("n_cal"),
        expr("CAST(round(percentile(res, 0.9)) AS BIGINT)")
          .as("q_hat_micro"))
    o.filter($"split" === 2).join(broadcast(m), Seq("g"))
      .select($"g", abs(lit(1000000L) * $"cents" - $"mu").as("res"))
      .join(broadcast(qh), Seq("g"))
      .groupBy($"g", $"n_cal", $"q_hat_micro")
      .agg(count(lit(1)).as("n_test"),
        sum(when($"res" <= $"q_hat_micro", 1L).otherwise(0L))
          .as("n_covered"))
      .select($"g".as("priority"), $"n_cal", $"q_hat_micro", $"n_test",
        $"n_covered",
        expr("1000000 * n_covered div n_test").as("coverage_micro"))
  }

  // ------------------------------------ q259 local clustering coeff

  /** q259 — per-node local clustering coefficient over the co-order
    * part graph (the graph q105 counts triangles on): lcc(v) =
    * 2·tri(v)/(deg(v)·(deg(v)−1)). Same degree-orientation trick as
    * q105 — every triangle appears exactly once as c ∈ N⁺(a)∩N⁺(b) on
    * DAG edge (a,b) — but here the intersection ELEMENTS are exploded
    * (q105 only needs sizes) because each triangle credits all three
    * corners; the blow-up is output-bound (#triangles rows), which the
    * orientation already caps at O(m·√m) work. lcc is an integral
    * micro division per node. Reference: q105 scaladoc. */
  val localClustering: Q = (s, dir) => {
    import s.implicits._
    val deg = GraphTrunk.coOrderDegrees(s, dir)
    val adj = GraphTrunk.coOrderAdjacency(s, dir)
    // ONE generator emits all three corners of each triangle (a, b,
    // and every c ∈ N⁺(a)∩N⁺(b)) straight off the oriented-edge row —
    // the previous 3-way union of projections re-executed the
    // adjacency self-join + intersection chain once per corner branch
    // (r10's duplicated-subtree class; r11 audit). Same corner
    // multiset, one evaluation. The expression is exploded DIRECTLY
    // (never via a projected alias) so InferFiltersFromGenerate's
    // synthesized size()>0 guard cannot push a second full evaluation
    // below a repartition (the q58 lesson).
    val pn = adj.select($"a", $"nbrs".as("na"), explode($"nbrs").as("b"))
      .join(adj.select($"a".as("b"), $"nbrs".as("nb")), Seq("b"))
      .select(explode(flatten(transform(array_intersect($"na", $"nb"),
        c => array($"a", $"b", c)))).as("nid"))
      .groupBy($"nid").agg(count(lit(1)).as("n_tri"))
    deg.filter($"d" >= 2).join(pn, Seq("nid"), "left")
      .select($"nid", $"d".as("degree"),
        coalesce($"n_tri", lit(0L)).as("n_tri"))
      .select($"nid", $"degree", $"n_tri",
        expr("2000000 * n_tri div (degree * (degree - 1))")
          .as("lcc_micro"))
  }

  // -------------------------------------- q260 degree assortativity

  /** q260 — degree assortativity (Newman 2002): the Pearson
    * correlation of endpoint degrees over the (both-direction) edge
    * list — do hubs attach to hubs? All five correlation sums are
    * exact longs (degrees are small ints); r is one single-row double
    * expression. Same co-order graph as q105/q259; the only shuffles
    * are the degree aggregation and two degree-lookup joins. */
  val degreeAssortativity: Q = (s, dir) => {
    import s.implicits._
    val e = GraphTrunk.coOrderEdges(s, dir)
    val deg = GraphTrunk.coOrderDegrees(s, dir)
    val t = e
      .join(deg.select($"nid".as("u"), $"d".as("du")), Seq("u"))
      .join(deg.select($"nid".as("v"), $"d".as("dv")), Seq("v"))
    val both = t.select($"du", $"dv")
      .unionByName(t.select($"dv".as("du"), $"du".as("dv")))
    both.agg(count(lit(1)).as("m2"), sum($"du").as("sx"),
        sum($"du" * $"du").as("sxx"), sum($"du" * $"dv").as("sxy"))
      .select(expr("m2 div 2").as("n_edges"),
        expr("CAST(round(1000000.0 * (CAST(m2 AS DOUBLE) *" +
          " CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) *" +
          " CAST(sx AS DOUBLE)) / (CAST(m2 AS DOUBLE) *" +
          " CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *" +
          " CAST(sx AS DOUBLE))) AS BIGINT)").as("r_micro"))
  }

  // ------------------------------------------------ q261 Friedman

  /** q261 — Friedman rank test over complete blocks: nations are
    * blocks, order priorities are treatments, the response is the
    * block-treatment mean order value (exact micro). Treatments rank
    * WITHIN each block (k-row keyed windows; average-rank tie
    * correction via (2·rank + ties − 1)/2 in milli units, exact);
    * Q = 12/(nk(k+1))·ΣR_j² − 3n(k+1) is one single-row double from
    * exact milli-rank sums. Incomplete blocks are filtered out by
    * contract. Shuffle dimension: blocks × treatments. */
  val friedman: Q = (s, dir) => {
    import s.implicits._
    val cell = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .select($"c_nationkey".as("blk"), $"o_orderpriority".as("trt"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"blk", $"trt")
      .agg(expr("1000000 * sum(cents) div count(1)").as("m_u"))
    val k = cell.agg(countDistinct($"trt").as("k"))
    val full = cell
      .withColumn("ntrt", count(lit(1)).over(Window.partitionBy($"blk")))
      .crossJoin(broadcast(k)).filter($"ntrt" === $"k")
    val ranked = full
      .withColumn("rnk", rank().over(
        Window.partitionBy($"blk").orderBy($"m_u")))
      .withColumn("ceq", count(lit(1)).over(
        Window.partitionBy($"blk", $"m_u")))
      .select($"trt", $"k", (($"rnk" * 2 + $"ceq" - 1) * 500)
        .as("r_milli"))
    ranked.groupBy($"trt", $"k")
      .agg(sum($"r_milli").as("sr"), count(lit(1)).as("nb"))
      .groupBy($"k")
      .agg(sum($"sr" * $"sr").as("srr"), max($"nb").as("n"))
      .select($"n".as("n_blocks"), $"k".as("k_treatments"),
        expr("CAST(round(1000000.0 * (12.0 * (CAST(srr AS DOUBLE) /" +
          " 1000000.0) / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE) *" +
          " CAST(k + 1 AS DOUBLE)) - 3.0 * CAST(n AS DOUBLE) *" +
          " CAST(k + 1 AS DOUBLE))) AS BIGINT)").as("q_micro"))
  }

  // ---------------------------------------------- q262 FDR screen

  /** q262 — multiple-testing screen with Benjamini-Hochberg control:
    * per-source short-doc-rate deviations tested against a pooled
    * hash-permutation null (b ∈ 0..255 pseudo-assignments, the q249
    * design; pooling is licensed by the uniform synthetic source
    * sizes), then BH at q = 0.10 over the m = 20 exact-micro
    * p-values. Everything is integer arithmetic — p-values, the
    * i·q/m staircase, the rejection frontier — so the discovery set
    * is engine-exact. Scale: per-doc defect bits collapse first; the
    * permutation aggregate map-side combines into B × 20 groups; the
    * BH window runs on the m-row frame (whitelisted: source-count
    * bounded). */
  val fdrScreen: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables(s, dir, "documents").select($"doc_id", $"source",
      when($"n_chars" < 200, 1L).otherwise(0L).as("def"))
    // tot (1 row) and ranked (O(sources)) pinned: tot broadcasts into
    // both the observed and the permutation branch; ranked feeds the
    // BH cutoff row and the final report
    val tot = docs.agg(sum($"def").as("kk"), count(lit(1)).as("nn"))
      .trunkCheckpoint()
    val diffExpr = expr("1000000 * k div greatest(n, 1)" +
      " - 1000000 * (kk - k) div greatest(nn - n, 1)")
    val obs = docs.groupBy($"source")
      .agg(sum($"def").as("k"), count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select($"source", diffExpr.as("diff_obs"))
    val pool = docs
      .select($"doc_id", $"def", explode(expr("sequence(0, 255)")).as("b"))
      .select($"b", (Hashing.hash60(concat(lit("fdr|"),
        $"b".cast("string"), lit("|"), $"doc_id".cast("string"))) % 20)
        .as("ps"), $"def")
      .groupBy($"b", $"ps")
      .agg(sum($"def").as("k"), count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(diffExpr.as("diff_b"))
    val pv = obs.crossJoin(broadcast(pool))
      .groupBy($"source", $"diff_obs")
      .agg(sum(when(abs($"diff_b") >= abs($"diff_obs"), 1L)
        .otherwise(0L)).as("ge"))
      .select($"source", $"diff_obs".as("obs_diff_micro"),
        expr("(1 + ge) * 1000000 div 5121").as("p_micro"))
    val ranked = pv.withColumn("bh_rank",
      row_number().over(Window.orderBy($"p_micro", $"source"))
        .cast("long"))
      .trunkCheckpoint()
    val imax = ranked.agg(
      max(when($"p_micro" <= $"bh_rank" * 5000, $"bh_rank")).as("imax"))
    ranked.crossJoin(broadcast(imax))
      .select($"source", $"obs_diff_micro", $"p_micro", $"bh_rank",
        ($"bh_rank" <= coalesce($"imax", lit(0))).as("rejected"))
  }

  // --------------------------------------- q263 quality classifier

  /** q263 — model-based quality/language filtering (the CCNet /
    * fastText-classifier pattern): logistic regression predicting
    * target-language membership from two surface features — mean
    * token length and type-token ratio — trained with the shared
    * integer-micro GD loop ([[logregLoop]]). The trained weights ARE
    * the filter: score new corpora without labels. Scale: feature
    * extraction is per-row; each of the 3 iterations is one
    * map-side-combined aggregate. */
  val qualityLogreg: Q = (s, dir) => {
    import s.implicits._
    logregLoop(s, Tables(s, dir, "documents")
      .select($"lang", TextOps.tokens($"text").as("toks"))
      .filter(size($"toks") > 0)
      .select(
        when($"lang" === "en", 1000000L).otherwise(0L).as("y"),
        expr("100000 * aggregate(transform(toks, t -> CAST(length(t)" +
          " AS BIGINT)), 0L, (a, x) -> a + x) div size(toks)").as("x1"),
        expr("1000000 * size(array_distinct(toks)) div size(toks)")
          .as("x2")))
  }

  // ------------------------------------------- q264 LSH band tuning

  /** q264 — MinHash-LSH band-configuration tuning report: for r ∈
    * {2, 4, 8} rows per band over the shared 64-lane signatures, the
    * measured candidate-pair count next to the analytic collision
    * probability 1−(1−J^r)^b at J = 0.5 — the S-curve table that
    * justifies q23's (16, 4) choice with numbers (q228 measures its
    * recall; this measures its cost). The probabilities are
    * plan-build-time constants (they depend only on b and r — the
    * plane-weight precedent); signatures compute ONCE
    * (localCheckpoint) and each config re-bands the same 64 lanes —
    * banding is per-row arithmetic, so the marginal cost per config
    * is its band self-join. */
  val lshTuning: Q = (s, dir) => {
    import s.implicits._
    val shs = TrainingData.corpus(s, dir)
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .select($"doc_id", TextOps.shinglesFromTokens($"toks", 3)
        .as("sh_set"))
    val sigs = Dedup.minhashFromShingleSets(shs, "doc_id", "sh_set",
      TrainingData.NumHashes).trunkCheckpoint()
    val rows = Seq(2, 4, 8).map { r =>
      val b = TrainingData.NumHashes / r
      val p = math.round(1000000.0 *
        (1.0 - math.pow(1.0 - math.pow(0.5, r), b)))
      Dedup.lshCandidates(Dedup.lshBands(sigs,
          TrainingData.NumHashes, r))
        .distinct()
        .agg(count(lit(1)).as("n_candidates"))
        .select(lit(b.toLong).as("bands"),
          lit(r.toLong).as("rows_per_band"),
          lit(p).as("p_at_half_micro"), $"n_candidates")
    }
    rows.reduce(_ unionByName _)
  }

  // -------------------------------------- q265 token budget curriculum

  /** q265 — token-budget allocation by quality rank (the mixing
    * decision every budgeted training run makes): sources rank by
    * their long-document rate, and a 50%-of-corpus token budget fills
    * greedily down the ranking — each source gets min(its tokens,
    * remaining budget). The running prefix sum is a window over the
    * SOURCE-count-bounded frame (whitelisted, like q262's BH
    * staircase); everything upstream is one per-source aggregate.
    * Complements q70/q168 (fixed mixture weights) with a
    * budget-constrained greedy. */
  val tokenBudget: Q = (s, dir) => {
    import s.implicits._
    val src = Tables(s, dir, "documents")
      .select($"source", size(TextOps.tokens($"text")).cast("long")
        .as("n_toks"), when($"n_chars" >= 200, 1L).otherwise(0L)
        .as("ok"))
      .groupBy($"source")
      .agg(sum($"n_toks").as("tokens_s"), count(lit(1)).as("n_docs"),
        sum($"ok").as("n_ok"))
      .select($"source", $"tokens_s",
        expr("1000000 * n_ok div n_docs").as("q_micro"))
    val bud = src.agg(expr("sum(tokens_s) div 2").as("budget"))
    val w = Window.orderBy($"q_micro".desc, $"source")
    src.crossJoin(broadcast(bud))
      .withColumn("cum_before", coalesce(sum($"tokens_s").over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("fill_rank", row_number().over(w).cast("long"))
      .select($"source", $"fill_rank", $"tokens_s", $"q_micro",
        greatest(lit(0L), least($"tokens_s", $"budget" - $"cum_before"))
          .as("alloc_tokens"))
  }

  // ------------------------------------------ q266 embedding norms

  /** q266 — embedding L2-norm audit per label (the health check that
    * catches collapsed or exploding encoders before they poison
    * similarity search): norms micro-quantize PER ROW (one double
    * sqrt each, index-ordered fold identical in both engines), then
    * per-label mean/std/min/max from exact long/decimal sums. One
    * map-side-combined pass. */
  val embeddingNorms: Q = (s, dir) => {
    import s.implicits._
    val nrm = Tables(s, dir, "embeddings").select($"label",
      expr("CAST(round(1000000.0 * sqrt(aggregate(embedding," +
        " CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) *" +
        " CAST(x AS DOUBLE)))) AS BIGINT)").as("nu"))
    nrm.groupBy($"label")
      .agg(count(lit(1)).as("n"), sum($"nu").as("sn"),
        sum($"nu".cast("decimal(19,0)") * $"nu".cast("decimal(19,0)"))
          .as("qn"),
        min($"nu").as("min_norm_micro"), max($"nu").as("max_norm_micro"))
      .select($"label", $"n", expr("sn div n").as("mean_norm_micro"),
        expr("CAST(round(sqrt((CAST(n AS DOUBLE) * CAST(qn AS DOUBLE)" +
          " - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)) /" +
          " (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))) AS BIGINT)")
          .as("std_norm_micro"),
        $"min_norm_micro", $"max_norm_micro")
  }

  // --------------------------------------------- q267 interval merge

  /** q267 — overlapping-interval merge (the union-of-spans primitive
    * behind ad-break coalescing, on-call coverage, and span-level
    * text dedup): each event opens a 5-minute window; per user,
    * overlapping or touching windows coalesce by the classic sweep —
    * a running max of interval ends decides "new component" per row,
    * and a running sum of those breaks numbers the components. Both
    * are USER-KEYED windows (no global sort); coverage sums are exact
    * epoch-micro longs. Distinct from q41 (gap-based sessionize): the
    * merge rule is interval overlap, not inter-event gap. */
  val intervalMerge: Q = (s, dir) => {
    import s.implicits._
    val iv = Tables(s, dir, "events")
      .select($"user_id", expr("unix_micros(ts)").as("st"),
        expr("unix_micros(ts) + 300000000").as("en"), $"event_id")
    val w = Window.partitionBy($"user_id").orderBy($"st", $"event_id")
    val marked = iv
      .withColumn("prev_max_en", max($"en").over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when($"prev_max_en".isNull || $"st" > $"prev_max_en", 1L)
          .otherwise(0L))
      .withColumn("grp", sum($"brk").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    val merged = marked.groupBy($"user_id", $"grp")
      .agg(count(lit(1)).as("n_events"), min($"st").as("gst"),
        max($"en").as("gen"))
    merged.groupBy($"user_id")
      .agg(sum($"n_events").as("n_events"),
        count(lit(1)).as("n_intervals"),
        sum($"gen" - $"gst").as("covered_us"),
        max($"gen" - $"gst").as("longest_us"))
  }

  // -------------------------------------------- q268 fairness audit

  /** q268 — group-fairness audit of the q224 confidence rule (balance
    * > 0 predicts a high-value order) across market segments:
    * per-group confusion counts, TPR/FPR/demographic-parity rates as
    * integral micro divisions, and the corpus-wide TPR gap (max−min)
    * every row carries — the equalized-odds screen a model card
    * reports. One join to build labels (the q224 frame), one grouped
    * count pass, one 5-row gap aggregate broadcast back. */
  val fairnessAudit: Q = (s, dir) => {
    import s.implicits._
    val scored = Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders")
          .filter($"o_totalprice" > 450000.0)
          .select($"o_custkey").distinct()
          .withColumn("label", lit(1L)),
        $"c_custkey" === $"o_custkey", "left")
      .select($"c_mktsegment".as("segment"),
        when($"c_acctbal" > 0, 1L).otherwise(0L).as("pred"),
        coalesce($"label", lit(0L)).as("y"))
    val g = scored.groupBy($"segment")
      .agg(count(lit(1)).as("n"),
        sum(when($"pred" === 1 && $"y" === 1, 1L).otherwise(0L))
          .as("tp"),
        sum(when($"pred" === 1 && $"y" === 0, 1L).otherwise(0L))
          .as("fp"),
        sum(when($"pred" === 0 && $"y" === 1, 1L).otherwise(0L))
          .as("fn"),
        sum(when($"pred" === 0 && $"y" === 0, 1L).otherwise(0L))
          .as("tn"))
      .select($"segment", $"n",
        expr("1000000 * tp div greatest(tp + fn, 1)").as("tpr_micro"),
        expr("1000000 * fp div greatest(fp + tn, 1)").as("fpr_micro"),
        expr("1000000 * (tp + fp) div n").as("dp_micro"))
    val gap = g.agg((max($"tpr_micro") - min($"tpr_micro"))
      .as("tpr_gap_micro"))
    g.crossJoin(broadcast(gap))
  }

  // ------------------------------------------ q269 off-policy IPS

  /** q269 — inverse-propensity-scored off-policy evaluation (the
    * counterfactual "what would the exploit policy have earned"
    * estimator from logged bandit feedback): contexts are hash
    * buckets of users, the behavior policy's propensities are the
    * empirical action rates per context (exact micro), the target
    * policy is the per-context argmax action (deterministic
    * tie-break), and the IPS value reweights matching logged rewards
    * by 1/p̂. Per-row terms are integer divisions by the quantized
    * propensity; sums are exact. Shuffles: one (ctx, action) count
    * (tiny, broadcast back), one reward aggregation. */
  val offpolicyIps: Q = (s, dir) => {
    import s.implicits._
    val logged = Tables(s, dir, "events")
      .select((Hashing.hash60(concat(lit("ctx|"),
          $"user_id".cast("string"))) % 4).as("ctx"),
        $"event_type".as("a"),
        coalesce(round($"value" * 100), lit(0.0)).cast("long").as("r"))
    val rates = logged.groupBy($"ctx", $"a")
      .agg(count(lit(1)).as("n_ca"))
    val nctx = rates.groupBy($"ctx").agg(sum($"n_ca").as("n_ctx"))
    val prop = rates.join(nctx, Seq("ctx"))
      .select($"ctx", $"a",
        expr("1000000 * n_ca div n_ctx").as("p_micro"))
    val pi = rates.withColumn("rn", row_number().over(
        Window.partitionBy($"ctx").orderBy($"n_ca".desc, $"a".asc)))
      .filter($"rn" === 1).select($"ctx", $"a".as("pi_action"))
    logged.join(broadcast(prop), Seq("ctx", "a"))
      .join(broadcast(pi), Seq("ctx"))
      .groupBy($"ctx", $"pi_action")
      .agg(count(lit(1)).as("n"),
        sum(when($"a" === $"pi_action",
          expr("r * 1000000000000 div p_micro")).otherwise(0L))
          .as("ips_sum"),
        sum($"r").as("r_sum"))
      .select($"ctx", $"pi_action", $"n",
        expr("ips_sum div n").as("ips_value_micro"),
        expr("1000000 * r_sum div n").as("mean_logged_micro"))
  }

  // ---------------------------------------------- q270 SRM check

  /** q270 — sample-ratio-mismatch check for the q189/q249/q256 hash
    * arms (the first thing any experiment readout must pass): user
    * counts per arm, the chi-square statistic against the intended
    * 50/50 split, and the observed ratio — all integral micro from
    * exact counts. One distinct-user aggregate. */
  val srmCheck: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "events").select($"user_id").distinct()
      .select((Hashing.hash60(concat(lit("ab|"),
        $"user_id".cast("string"))) % 2).as("arm"))
      .agg(sum(when($"arm" === 0, 1L).otherwise(0L)).as("n0"),
        sum(when($"arm" === 1, 1L).otherwise(0L)).as("n1"))
      .select($"n0", $"n1",
        expr("1000000 * n0 div (n0 + n1)").as("ratio_micro"),
        expr("1000000 * (n0 - n1) * (n0 - n1) div (n0 + n1)")
          .as("chi2_micro"))
  }

  // ------------------------------------------ q271 diff-in-diff

  /** q271 — difference-in-differences: the change in mean purchase
    * value across the time midpoint, differenced between the hash
    * arms — the causal-effect template when only one arm receives a
    * treatment mid-experiment (complements q256, which reduces
    * variance on the same frame). All four cell means are integral
    * micro divisions of exact cent sums; DID is their exact
    * difference. One broadcast midpoint row, one 4-cell aggregate. */
  val diffInDiff: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .filter($"event_type" === "purchase" && $"value" > 0)
      .select($"user_id", expr("unix_micros(ts)").as("tm"),
        round($"value" * 100).cast("long").as("cents"))
    val mid = ev.agg(expr("(min(tm) + max(tm)) div 2").as("mid"))
    val cells = ev.crossJoin(broadcast(mid))
      .select((Hashing.hash60(concat(lit("ab|"),
          $"user_id".cast("string"))) % 2).as("arm"),
        when($"tm" <= $"mid", 0L).otherwise(1L).as("post"), $"cents")
      .groupBy($"arm", $"post")
      .agg(expr("1000000 * sum(cents) div count(1)").as("m"))
    cells.groupBy()
      .pivot(concat(lit("m"), $"arm", $"post"),
        Seq("m00", "m01", "m10", "m11"))
      .agg(first($"m"))
      .select($"m00".as("ctl_pre_micro"), $"m01".as("ctl_post_micro"),
        $"m10".as("trt_pre_micro"), $"m11".as("trt_post_micro"),
        (($"m11" - $"m10") - ($"m01" - $"m00")).as("did_micro"))
  }

  // ---------------------------------------- q272 Simpson's paradox

  /** q272 — Simpson's-paradox detector: the quantity↔discount
    * correlation computed per return-flag segment AND pooled, with a
    * flag when a segment's sign disagrees with the pooled sign — the
    * audit that catches aggregation reversing a relationship before a
    * dashboard ships it. Correlation numerators/denominators are
    * exact long sums per group (milli-discount, integer quantity);
    * each group's r is one double expression over its own exact row.
    * One grouped pass + one broadcast pooled row. */
  val simpsonCheck: Q = (s, dir) => {
    import s.implicits._
    val base = Tables(s, dir, "lineitem").select(
      $"l_returnflag".as("g"),
      round($"l_discount" * 1000).cast("long").as("x"),
      $"l_quantity".cast("long").as("y"))
    def stats(df: DataFrame, gcols: Seq[Column]) = {
      val aggs = Seq(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"y").as("sy"), sum($"x" * $"x").as("sxx"),
        sum($"x" * $"y").as("sxy"), sum($"y" * $"y").as("syy"))
      (if (gcols.isEmpty) df.groupBy() else df.groupBy(gcols: _*))
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("r_micro",
          expr("CAST(round(1000000.0 * (CAST(n AS DOUBLE) *" +
            " CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) *" +
            " CAST(sy AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) *" +
            " CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *" +
            " CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) *" +
            " CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) *" +
            " CAST(sy AS DOUBLE)))) AS BIGINT)"))
    }
    val per = stats(base, Seq($"g")).select($"g", $"n", $"r_micro")
    val pooled = stats(base, Seq.empty)
      .select($"r_micro".as("pooled_r_micro"))
    per.crossJoin(broadcast(pooled))
      .select($"g".as("segment"), $"n", $"r_micro",
        $"pooled_r_micro",
        (signum($"r_micro") =!= signum($"pooled_r_micro"))
          .as("sign_flipped"))
  }

  // ------------------------------------------- q273 BM25 sweep

  /** q273 — BM25 (k1, b) parameter sweep: top-10 result-set overlap
    * of each candidate configuration against the q91 default
    * (1.2, 0.75) for the fixed 3-term query — the tuning table that
    * shows how sensitive the ranking actually is before anyone ships
    * new constants. Each config is the q91 plan (per-doc tf/dl
    * columns, broadcast corpus stats, round-6 score, top-10 by
    * (score, doc_id)); the overlap joins are O(k). */
  val bm25Sweep: Q = (s, dir) => {
    import s.implicits._
    val terms = Seq("spark", "query", "hash")
    val tk = Tables(s, dir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
    val statCols = count(lit(1)).cast("long").as("n") +:
      (sum(size($"toks")) / count(lit(1))).as("avgdl") +:
      terms.map(t => sum(when(array_contains($"toks", t), 1L)
        .otherwise(0L)).as(s"df_$t"))
    val stats = tk.agg(statCols.head, statCols.tail: _*)
    val tfCols = $"doc_id" +: size($"toks").cast("long").as("dl") +:
      terms.map(t =>
        size(filter($"toks", x => x === t)).cast("long").as(s"tf_$t"))
    // pinned: the per-doc tf/dl frame (numeric columns only) is scored
    // by all four (k1, b) sweep points — lazy, the tokenize + stats
    // scan re-ran per point. base10 likewise joins every sweep row.
    val withTf = tk.select(tfCols: _*).crossJoin(broadcast(stats))
      .trunkCheckpoint()
    def top10(k1: Double, b: Double) = {
      val score = terms.map { t =>
        (col(s"tf_$t") * lit(k1 + 1.0)) /
          (col(s"tf_$t") +
            lit(k1) * (lit(1.0 - b) + lit(b) * $"dl" / $"avgdl")) *
          log((col("n") - col(s"df_$t") + lit(0.5)) /
            (col(s"df_$t") + lit(0.5)) + lit(1.0))
      }.reduce(_ + _)
      withTf.select($"doc_id", round(score, 6).as("bm25"))
        .filter($"bm25" > 0.0)
        .orderBy($"bm25".desc, $"doc_id".asc).limit(10)
        .select($"doc_id")
    }
    val base10 = top10(1.2, 0.75).trunkCheckpoint()
    Seq((900, 400, top10(0.9, 0.4)), (1200, 750, base10),
        (2000, 1000, top10(2.0, 1.0))).map { case (k1m, bm, t) =>
      t.join(base10, Seq("doc_id"))
        .agg(count(lit(1)).as("overlap_with_default"))
        .select(lit(k1m.toLong).as("k1_milli"), lit(bm.toLong)
          .as("b_milli"), $"overlap_with_default")
    }.reduce(_ unionByName _)
  }

  // --------------------------------------------- q274 profile drift

  /** q274 — column-profile drift between snapshot halves (orderkey
    * parity plays the role of yesterday/today): per column-metric
    * pair the two exact values and a relative drift in micro — the
    * data-contract monitor that pages before a silent upstream change
    * poisons a training run (complements q114's PSI, which needs a
    * binned distribution; this is the cheap always-on census). One
    * grouped pass computes every metric map-side; the metric table is
    * a static union of exact longs. */
  val profileDrift: Q = (s, dir) => {
    import s.implicits._
    val h = Tables(s, dir, "orders")
      .select(($"o_orderkey" % 2).as("half"),
        round($"o_totalprice" * 100).cast("long").as("cents"),
        $"o_orderpriority".as("prio"), $"o_orderstatus".as("status"),
        to_date($"o_orderdate").as("day"))
      .groupBy($"half")
      .agg(count(lit(1)).as("n_rows"),
        expr("sum(cents) div count(1)").as("mean_cents"),
        countDistinct($"prio").as("n_prio"),
        countDistinct($"status").as("n_status"),
        expr("CAST(datediff(max(day), min(day)) AS BIGINT)")
          .as("day_span"))
      .trunkCheckpoint() // TWO rows, read by all 5×2 metric branches
    val a = h.filter($"half" === 0).drop("half")
    val b = h.filter($"half" === 1).drop("half")
    val metrics = Seq("n_rows", "mean_cents", "n_prio", "n_status",
      "day_span")
    metrics.map { m =>
      a.select(lit(m).as("metric"), col(m).as("v_even"))
        .crossJoin(broadcast(b.select(col(m).as("v_odd"))))
        .select($"metric", $"v_even", $"v_odd",
          expr("1000000 * abs(v_even - v_odd)" +
            " div greatest(abs(v_even), 1)").as("drift_micro"))
    }.reduce(_ unionByName _)
  }

  // --------------------------------------------- q275 Platt scaling

  /** q275 — Platt scaling of the q224 confidence score: a
    * one-feature logistic fit (shared [[logregLoop]], second feature
    * pinned to zero) mapping the min-max-scaled balance to a
    * calibrated probability — the parametric sibling of q209's
    * isotonic fix for the miscalibration q224 MEASURES. Same frame,
    * same exactness story. */
  val plattScaling: Q = (s, dir) => {
    import s.implicits._
    val scored = Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders")
          .filter($"o_totalprice" > 450000.0)
          .select($"o_custkey").distinct()
          .withColumn("label", lit(1L)),
        $"c_custkey" === $"o_custkey", "left")
      .select(round($"c_acctbal" * 100).cast("long").as("cents"),
        coalesce($"label", lit(0L)).as("y"))
    val bounds = scored.agg(min($"cents").as("lo"), max($"cents").as("hi"))
    logregLoop(s, scored.crossJoin(broadcast(bounds))
      .select(($"y" * 1000000L).as("y"),
        expr("1000000 * (cents - lo) div greatest(hi - lo, 1)")
          .as("x1"), lit(0L).as("x2")))
  }

  // ------------------------------------------- q276 vocab coverage

  /** q276 — cumulative token coverage of the top-k vocabulary (the
    * number that says how big a wordpiece/embedding table must be):
    * word frequencies collapse to the Zipf frame, ranks come from the
    * vocabulary-bounded window (whitelisted — q160's precedent), and
    * each k's coverage is one conditional exact sum. */
  val vocabCoverage: Q = (s, dir) => {
    import s.implicits._
    val wf = Tables(s, dir, "documents")
      .select(explode(TextOps.tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .withColumn("rnk", row_number().over(
        Window.orderBy($"c".desc, $"w".asc)).cast("long"))
    val tot = wf.agg(sum($"c").as("total_tokens"),
      count(lit(1)).as("vocab_size"))
    Seq(10L, 20L, 50L).map { k =>
      wf.filter($"rnk" <= k)
        .agg(sum($"c").as("covered_tokens"))
        .crossJoin(broadcast(tot))
        .select(lit(k).as("k"), $"vocab_size", $"covered_tokens",
          $"total_tokens",
          expr("1000000 * covered_tokens div total_tokens")
            .as("coverage_micro"))
    }.reduce(_ unionByName _)
  }

  // ------------------------------------------ q277 term burstiness

  /** q277 — term burstiness (Fano factor over containing documents):
    * var/mean of a word's per-document counts, the dispersion signal
    * separating bursty content words from evenly-spread function
    * words (Church & Gale 1995) — a vocabulary-pruning and
    * stopword-inference input. Per-word moments are exact long sums
    * over the (word, doc) count frame; the Fano ratio is one double
    * per word row; top-20 by (fano desc, word) via
    * TakeOrderedAndProject. */
  val termBurstiness: Q = (s, dir) => {
    import s.implicits._
    val wd = Tables(s, dir, "documents")
      .select($"doc_id", explode(TextOps.tokens($"text")).as("w"))
      .groupBy($"w", $"doc_id").agg(count(lit(1)).as("c"))
    wd.groupBy($"w")
      .agg(count(lit(1)).as("df"), sum($"c").as("tot"),
        sum($"c" * $"c").as("ss"))
      .filter($"df" >= 20)
      .select($"w".as("term"), $"df", $"tot",
        expr("CAST(round(1000000.0 * ((CAST(ss AS DOUBLE) /" +
          " CAST(df AS DOUBLE)) - pow(CAST(tot AS DOUBLE) /" +
          " CAST(df AS DOUBLE), 2)) / (CAST(tot AS DOUBLE) /" +
          " CAST(df AS DOUBLE))) AS BIGINT)").as("fano_micro"))
      .orderBy($"fano_micro".desc, $"term".asc).limit(20)
  }

  // ------------------------------------ q278 TPC-H Q17 decorrelation

  /** q278 — TPC-H Q17's correlated-average shape (small-order revenue
    * for one brand): the textbook "WHERE l_quantity < 0.2 * (SELECT
    * avg(...) per part)" decorrelates into ONE per-part aggregate
    * joined back — no per-row subplan at any scale — and the 20%
    * fence evaluates as an integer cross-multiply (5·qty·n < tot), so
    * no fraction ever materializes. Sibling of q170 (Q21); the
    * brand×size filter pushes to the part scan. */
  val smallOrderRevenue: Q = (s, dir) => {
    import s.implicits._
    val pk = Tables(s, dir, "part")
      .filter($"p_brand" === "Brand#12" && $"p_size" < 15)
      .select($"p_partkey")
    val li = Tables(s, dir, "lineitem")
      .join(broadcast(pk), $"l_partkey" === $"p_partkey")
      .select($"l_partkey", $"l_quantity".cast("long").as("qty"),
        round($"l_extendedprice" * 100).cast("long").as("cents"))
    val avg = li.groupBy($"l_partkey")
      .agg(count(lit(1)).as("n_li"), sum($"qty").as("tot_qty"))
    li.join(avg, Seq("l_partkey"))
      .filter($"qty" * 5 * $"n_li" < $"tot_qty")
      .agg(coalesce(sum($"cents"), lit(0L)).as("s"),
        count(lit(1)).as("n_small"))
      .select($"n_small", expr("s div 7").as("avg_yearly_cents"))
  }

  // ----------------------------------- q279 TPC-H Q18 large volume

  /** q279 — TPC-H Q18 (large-volume customers): orders whose summed
    * line quantity clears 300, with their customers — the
    * grouped-HAVING semi-join that must aggregate BEFORE joining
    * (aggregating after would shuffle every lineitem against every
    * customer). Output ordered by (qty desc, orderkey) — exact longs
    * only. */
  val largeVolumeCustomers: Q = (s, dir) => {
    import s.implicits._
    val big = Tables(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(sum($"l_quantity".cast("long")).as("total_qty"))
      .filter($"total_qty" > 300)
    big.join(Tables(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(Tables(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .select($"c_name", $"c_custkey", $"o_orderkey",
        to_date($"o_orderdate").as("o_date"),
        round($"o_totalprice" * 100).cast("long").as("total_cents"),
        $"total_qty")
      .orderBy($"total_qty".desc, $"o_orderkey".asc)
  }

  // -------------------------------- q280 TPC-H Q22 anti-join shape

  /** q280 — TPC-H Q22's shape (global sales opportunity): customers
    * above the average POSITIVE balance with no URGENT order (this
    * synthetic data gives every customer some order, so the classic
    * "never ordered" predicate tightens to an order-subset — the
    * anti-join shape is unchanged), grouped by country code
    * (nationkey mod 10 stands in for the phone prefix). The scalar
    * average is one broadcast row; the predicate is a LEFT ANTI join
    * (never NOT IN — null-hostile and unplannable as a hash join);
    * balances stay exact cents. */
  val globalSalesOpportunity: Q = (s, dir) => {
    import s.implicits._
    val cust = Tables(s, dir, "customer")
      .select($"c_custkey", ($"c_nationkey" % 10).as("cntrycode"),
        round($"c_acctbal" * 100).cast("long").as("bal"))
    val avgPos = cust.filter($"bal" > 0)
      .agg(expr("sum(bal) div count(1)").as("avg_bal"))
    cust.crossJoin(broadcast(avgPos))
      .filter($"bal" > $"avg_bal")
      .join(Tables(s, dir, "orders")
          .filter($"o_orderpriority" === "1-URGENT")
          .select($"o_custkey").distinct(),
        $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"cntrycode")
      .agg(count(lit(1)).as("numcust"), sum($"bal").as("totacctbal"))
  }

  // -------------------------------------- q281 transition entropy

  /** q281 — per-state successor entropy of the event stream (the
    * information-theoretic companion of q133's transition matrix and
    * q257's argmax accuracy): H(next|prev) in micro-nats, each
    * −p·ln p term quantized per (prev, next) CELL (an O(types²)
    * frame) before the exact per-state sum — partial-aggregation
    * order can't move it. One user-keyed lag window + one tiny
    * grouped pass. */
  val transitionEntropy: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val tr = Tables(s, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(w))
      .filter($"prev".isNotNull)
      .select($"prev", $"event_type".as("cur"))
    val cnt = tr.groupBy($"prev", $"cur").agg(count(lit(1)).as("n_pc"))
    val tot = cnt.groupBy($"prev").agg(sum($"n_pc").as("n_p"))
    cnt.join(tot, Seq("prev"))
      .select($"prev", $"n_p",
        expr("CAST(round(-1000000.0 * (CAST(n_pc AS DOUBLE) /" +
          " CAST(n_p AS DOUBLE)) * ln(CAST(n_pc AS DOUBLE) /" +
          " CAST(n_p AS DOUBLE))) AS BIGINT)").as("term"))
      .groupBy($"prev", $"n_p")
      .agg(count(lit(1)).as("n_successors"),
        sum($"term").as("entropy_micro_nats"))
      .select($"prev".as("prev_type"), $"n_p".as("n_trans"),
        $"n_successors", $"entropy_micro_nats")
  }

  // ----------------------------------------- q282 hapax ratio

  /** q282 — hapax-legomena rate per source (the vocabulary-health
    * number: a high hapax share means typo/noise-heavy text, a low
    * one means templated text): per-source word counts collapse to
    * the (source, word) frame (one shuffle keyed on the pair), then
    * per-source vocabulary, hapax count, and token totals in one
    * grouped pass; ratios are integral micro. */
  val hapaxRatio: Q = (s, dir) => {
    import s.implicits._
    val sw = Tables(s, dir, "documents")
      .select($"source", explode(TextOps.tokens($"text")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
    sw.groupBy($"source")
      .agg(count(lit(1)).as("vocab_size"),
        sum(when($"c" === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum($"c").as("n_tokens"))
      .select($"source", $"vocab_size", $"n_hapax", $"n_tokens",
        expr("1000000 * n_hapax div vocab_size").as("hapax_micro"))
  }

  // ------------------------------------------- q283 PR curve

  /** q283 — precision/recall curve of the q224/q191 confidence score
    * at ten equal-width thresholds: each row explodes into its
    * qualifying thresholds and the counts map-side combine into 10
    * groups (the q249 explode-then-collapse stance — never a global
    * rank). Precision and recall are integral micro; the positives
    * total rides a broadcast one-row frame. */
  val prCurve: Q = (s, dir) => {
    import s.implicits._
    val scored = Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders")
          .filter($"o_totalprice" > 450000.0)
          .select($"o_custkey").distinct()
          .withColumn("label", lit(1L)),
        $"c_custkey" === $"o_custkey", "left")
      .select(round($"c_acctbal" * 100).cast("long").as("cents"),
        coalesce($"label", lit(0L)).as("y"))
    val bounds = scored.agg(min($"cents").as("lo"), max($"cents").as("hi"))
    val conf = scored.crossJoin(broadcast(bounds))
      .select($"y", expr("1000000 * (cents - lo)" +
        " div greatest(hi - lo, 1)").as("conf"))
    val pos = conf.agg(sum($"y").as("n_pos"))
    conf.select($"y", $"conf", explode(expr("sequence(0, 9)")).as("t"))
      .filter($"conf" >= $"t" * 100000)
      .groupBy($"t")
      .agg(count(lit(1)).as("n_pred_pos"), sum($"y").as("tp"))
      .crossJoin(broadcast(pos))
      .select(($"t".cast("long") * 100000).as("threshold_micro"),
        $"n_pred_pos", $"tp",
        expr("1000000 * tp div greatest(n_pred_pos, 1)")
          .as("precision_micro"),
        expr("1000000 * tp div greatest(n_pos, 1)").as("recall_micro"))
  }

  // -------------------------------------------- q284 forecast MASE

  /** q284 — forecast-accuracy baseline (MASE, Hyndman & Koehler
    * 2006): the weekly-seasonal naive forecast's MAE on daily
    * revenue, scaled by the one-step naive MAE — the sanity bar any
    * real forecasting model must clear, and the standard
    * scale-free way to report it. Lag windows run on the
    * calendar-bounded day series (the q57 whitelist family); error
    * sums are exact cent longs and MASE is one integer
    * cross-multiplied micro ratio. */
  val forecastMase: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "orders")
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("rev"))
    val w = Window.orderBy($"day")
    val lagged = d
      .withColumn("e1", abs($"rev" - lag($"rev", 1).over(w)))
      .withColumn("e7", abs($"rev" - lag($"rev", 7).over(w)))
    lagged.agg(count(lit(1)).as("n_days"),
        sum(when($"e1".isNotNull, 1L).otherwise(0L)).as("n1"),
        sum(coalesce($"e1", lit(0L))).as("s1"),
        sum(when($"e7".isNotNull, 1L).otherwise(0L)).as("n7"),
        sum(coalesce($"e7", lit(0L))).as("s7"))
      .select($"n_days",
        expr("s1 div n1").as("mae_naive_cents"),
        expr("s7 div n7").as("mae_snaive_cents"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * s7 * n1" +
          " div (CAST(s1 AS DECIMAL(38,0)) * n7) AS BIGINT)")
          .as("mase_micro"))
  }

  // -------------------------------------------- q285 XYZ classes

  /** q285 — XYZ demand-variability classification (the companion
    * axis to q172's ABC value classes): per-part monthly demand CV
    * (months with sales only, by contract), micro-quantized PER PART
    * from exact sums, then the X/<0.5 / Y/<1.0 / Z census. Shuffles:
    * (part, month) aggregation, per-part rollup, 3-group census —
    * all map-side combined. */
  val xyzClasses: Q = (s, dir) => {
    import s.implicits._
    val pm = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_partkey", trunc(to_date($"o_orderdate"), "month")
        .as("mon"))
      .agg(sum($"l_quantity".cast("long")).as("q"))
    val per = pm.groupBy($"l_partkey")
      .agg(count(lit(1)).as("nm"), sum($"q").as("sq"),
        sum($"q" * $"q").as("qq"))
      .filter($"nm" >= 2)
      .select($"l_partkey",
        expr("CAST(round(1000000.0 * sqrt((CAST(nm AS DOUBLE) *" +
          " CAST(qq AS DOUBLE) - CAST(sq AS DOUBLE) *" +
          " CAST(sq AS DOUBLE)) / (CAST(nm AS DOUBLE) *" +
          " CAST(nm - 1 AS DOUBLE))) / (CAST(sq AS DOUBLE) /" +
          " CAST(nm AS DOUBLE))) AS BIGINT)").as("cv_micro"))
    val classed = per.select(
      when($"cv_micro" < 500000, "X")
        .when($"cv_micro" < 1000000, "Y")
        .otherwise("Z").as("xyz"))
    val tot = classed.agg(count(lit(1)).as("n_parts_total"))
    classed.groupBy($"xyz").agg(count(lit(1)).as("n_parts"))
      .crossJoin(broadcast(tot))
      .select($"xyz", $"n_parts",
        expr("1000000 * n_parts div n_parts_total").as("share_micro"))
  }

  // --------------------------------------------- q286 SAX motifs

  /** q286 — SAX-style time-series motif mining on daily revenue
    * (Lin et al. 2003, with EMPIRICAL tercile breakpoints instead of
    * Gaussian ones so the whole pipeline stays in exact integers):
    * days bucket into weeks (PAA), week means tercile-symbolize via
    * ntile over the WEEK-bounded frame, and sliding trigrams of the
    * symbol string count into motifs — the repeated-shape detector
    * behind seasonality discovery and anomaly templates. Every
    * window here runs on the O(weeks) series (q57 whitelist family);
    * means are integral micro. */
  val saxMotifs: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "orders")
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("rev"))
    val d0 = d.agg(min($"day").as("day0"))
    val wk = d.crossJoin(broadcast(d0))
      .select(expr("datediff(day, day0) div 7").as("week"), $"rev")
      .groupBy($"week")
      .agg(expr("1000000 * sum(rev) div count(1)").as("wmean"))
    val sym = wk.withColumn("sym",
      ntile(3).over(Window.orderBy($"wmean", $"week")).cast("long") - 1)
    val tri = sym
      .withColumn("s1", lag($"sym", 1).over(Window.orderBy($"week")))
      .withColumn("s2", lag($"sym", 2).over(Window.orderBy($"week")))
      .filter($"s2".isNotNull)
      .select(concat($"s2", $"s1", $"sym").as("motif"))
    val tot = sym.agg(count(lit(1)).as("n_weeks"))
    tri.groupBy($"motif").agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(broadcast(tot))
      .orderBy($"n_occurrences".desc, $"motif".asc).limit(10)
  }

  // ------------------------------------------ q287 audience overlap

  /** q287 — exact audience-overlap matrix between event types: the
    * per-type user sets' pairwise intersections and Jaccard — the
    * exact ground truth q217's HLL inclusion-exclusion ESTIMATES
    * (run both to size the sketch error). The (type, user) frame
    * collapses first (distinct), the pair join is keyed on user (a
    * user contributes only its own type pairs — bounded by types²
    * per user, never corpus²), and sizes ride a broadcast k-row
    * frame. */
  val audienceOverlap: Q = (s, dir) => {
    import s.implicits._
    val tu = Tables(s, dir, "events")
      .select($"event_type".as("t"), $"user_id").distinct()
    val sizes = tu.groupBy($"t").agg(count(lit(1)).as("nu"))
    val inter = tu.as("a")
      .join(tu.as("b"), $"a.user_id" === $"b.user_id" && $"a.t" < $"b.t")
      .groupBy($"a.t".as("type_a"), $"b.t".as("type_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(sizes.select($"t".as("type_a"), $"nu".as("n_a"))),
        Seq("type_a"))
      .join(broadcast(sizes.select($"t".as("type_b"), $"nu".as("n_b"))),
        Seq("type_b"))
      .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_inter",
        expr("1000000 * n_inter div (n_a + n_b - n_inter)")
          .as("jaccard_micro"))
  }

  // --------------------------------------------- q288 record days

  /** q288 — record-breaking days per year (the running-max census
    * behind "best day ever" reporting and drift alarms): a day beats
    * the strict running max of all prior days. The cumulative max
    * runs on the calendar-bounded day series (q57 whitelist family);
    * the per-year rollup is exact counts. */
  val recordDays: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "orders")
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("rev"))
    val w = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("prev_max", max($"rev").over(w))
      .select(year($"day").cast("long").as("yr"),
        when($"prev_max".isNull || $"rev" > $"prev_max", 1L)
          .otherwise(0L).as("rec"))
      .groupBy($"yr")
      .agg(count(lit(1)).as("n_days"), sum($"rec").as("n_records"))
  }

  // ----------------------------------------- q289 BPE merge sweep

  /** q289 — tokenizer merge-budget sweep: corpus fertility
    * (pieces/word) after 2, 4 and 8 BPE merges — the
    * compression-per-merge curve that decides how much tokenizer
    * training is worth buying. Greedy BPE is deterministic, so the
    * r-round vocabulary equals the first r rounds of the 8-round
    * chain (the oracle reads the s2/s4/s8 states of ONE chain); the
    * Spark side now trains that ONE chain too
    * ([[graft.functions.Bpe.trainSnapshots]], r10 VERDICT item 3 —
    * re-training per budget re-derived rounds 0-1 three times and 2-3
    * twice). Fertility reads off the snapshot directly: the word table
    * carries corpus counts, so Σn / Σ(n·pieces) over the VOCAB equals
    * the exploded-corpus join exactly (every token's word is in the
    * vocab by construction) — three vocab-sized aggregates instead of
    * three corpus explodes + broadcast joins. */
  val bpeMergeSweep: Q = (s, dir) => {
    import s.implicits._
    val words = Tables(s, dir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .select(explode($"toks").as("word"))
      .groupBy($"word").agg(count(lit(1)).as("n"))
    graft.functions.Bpe.trainSnapshots(words, Seq(2, 4, 8)).map {
      case (r, vocab) =>
        vocab
          .agg(sum($"n").as("total_words"),
            sum(size(split($"sym", " ")).cast("long") * $"n")
              .as("total_pieces"))
          .select(lit(r.toLong).as("merge_rounds"), $"total_words",
            $"total_pieces",
            expr("1000000 * total_pieces div total_words")
              .as("fertility_micro"))
    }.reduce(_ unionByName _)
  }

  // ---------------------------------------- q290 context census

  /** q290 — context-window overflow census: how many documents
    * exceed each candidate window and how much token mass truncation
    * would destroy (limits sized to this corpus's token scale; the
    * operator is limit-parametric). One explode into 3 limit groups,
    * map-side combined — the sizing input to q59's chunking and
    * q64's packing. */
  val contextCensus: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "documents")
      .select(size(TextOps.tokens($"text")).cast("long").as("nt"))
    val tot = d.agg(sum($"nt").as("total_tokens"))
    d.select($"nt", explode(expr("array(32, 64, 128)")).as("lim"))
      .groupBy($"lim")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"nt" > $"lim", 1L).otherwise(0L)).as("n_over"),
        sum(greatest($"nt" - $"lim", lit(0L))).as("tokens_lost"))
      .crossJoin(broadcast(tot))
      .select($"lim".cast("long").as("window_limit"), $"n_docs",
        $"n_over", $"tokens_lost",
        expr("1000000 * tokens_lost div total_tokens")
          .as("loss_micro"))
  }

  // ------------------------------------- q291 bigram acceptance

  /** q291 — speculative-decoding acceptance proxy: how often the
    * corpus-level argmax bigram predictor guesses the next TOKEN
    * (q257's construction, applied to text instead of events) — the
    * cheap upper-bound screen for draft-model speedup per source.
    * The predictor is a vocab-bounded frame (argmax per w1 via a
    * w1-keyed window) broadcast back over the bigram stream. */
  val bigramAcceptance: Q = (s, dir) => {
    import s.implicits._
    val bg = Tables(s, dir, "documents")
      .select($"source", TextOps.tokens($"text").as("toks"))
      .select($"source", explode(when(size($"toks") >= 2,
          sequence(lit(1), size($"toks") - 1))
        .otherwise(array().cast("array<int>"))).as("i"), $"toks")
      .select($"source", element_at($"toks", $"i").as("w1"),
        element_at($"toks", $"i" + 1).as("w2"))
    val pred = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"w1").orderBy($"c".desc, $"w2".asc)))
      .filter($"rn" === 1).select($"w1", $"w2".as("pred"))
    bg.join(broadcast(pred), Seq("w1"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when($"w2" === $"pred", 1L).otherwise(0L)).as("n_accepted"))
      .select($"source", $"n_bigrams", $"n_accepted",
        expr("1000000 * n_accepted div n_bigrams").as("accept_micro"))
  }

  // ------------------------------------------ q292 kNN outliers

  /** q292 — kNN-distance outlier scores over the embedding sample
    * (the local-density screen beside q68's global centroid
    * distance): each eval vector's mean cosine to its 5 nearest
    * neighbors, quantized per NEIGHBOR before the exact 5-way mean —
    * low mean-neighbor similarity = isolated point. Same broadcast
    * sample + keyed-window candidate pruning as q252. */
  val knnOutliers: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
    val qs = e.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"),
        $"label".as("q_label"))
    e.crossJoin(broadcast(qs))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"q_label", $"vec_id",
        Similarity.cosine($"embedding", $"qv").as("cs"))
      .select($"q_id", $"q_label", $"vec_id",
        expr("CAST(round(1000000.0 * cs) AS BIGINT)").as("cs_micro"))
      .withColumn("rank", row_number().over(Window.partitionBy($"q_id")
        .orderBy($"cs_micro".desc, $"vec_id".asc)))
      .filter($"rank" <= 5)
      .groupBy($"q_id", $"q_label")
      .agg(expr("sum(cs_micro) div 5").as("mean5_cos_micro"))
      .select($"q_id", $"q_label", $"mean5_cos_micro",
        (lit(1000000L) - $"mean5_cos_micro").as("outlier_micro"))
  }

  // -------------------------------------- q293 neg-binomial moments

  /** q293 — negative-binomial overdispersion fit by moments: per
    * event type, the per-user count distribution's (r̂, p̂) from
    * mean/variance — the standard model for bursty count data, and
    * the quantitative answer to "is this Poisson or not" (variance
    * ratio > 1). Exact count sums per (type, user) collapse first;
    * each type's estimators are one double expression over its own
    * exact row; types where variance ≤ mean yield NULL by contract
    * (Poisson-or-under regime has no NB fit). */
  val negbinMoments: Q = (s, dir) => {
    import s.implicits._
    val cu = Tables(s, dir, "events")
      .groupBy($"event_type", $"user_id")
      .agg(count(lit(1)).as("c"))
    cu.groupBy($"event_type")
      .agg(count(lit(1)).as("n_users"), sum($"c").as("sc"),
        sum($"c" * $"c").as("scc"))
      .select($"event_type", $"n_users",
        expr("1000 * sc div n_users").as("mean_milli"),
        expr("CAST(round(1000.0 * (CAST(n_users AS DOUBLE) *" +
          " CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) *" +
          " CAST(sc AS DOUBLE)) / (CAST(n_users AS DOUBLE) *" +
          " CAST(n_users - 1 AS DOUBLE))) AS BIGINT)").as("var_milli"))
      .select($"event_type", $"n_users", $"mean_milli", $"var_milli",
        expr("CASE WHEN var_milli > mean_milli THEN" +
          " CAST(round(1000000.0 * CAST(mean_milli AS DOUBLE) *" +
          " CAST(mean_milli AS DOUBLE) / (1000.0 *" +
          " CAST(var_milli - mean_milli AS DOUBLE))) AS BIGINT)" +
          " ELSE NULL END").as("r_micro"),
        expr("CASE WHEN var_milli > mean_milli THEN" +
          " CAST(round(1000000.0 * CAST(mean_milli AS DOUBLE) /" +
          " CAST(var_milli AS DOUBLE)) AS BIGINT)" +
          " ELSE NULL END").as("p_micro"))
  }

  // ---------------------------------------- q294 front coding

  /** q294 — front-coding compression estimate over the sorted
    * vocabulary (the dictionary-layout decision for string columns
    * and term indexes): neighbor longest-common-prefix via a lag on
    * the vocabulary-bounded frame (whitelisted, q160 family), LCP
    * computed as a counted prefix-equality filter (monotone, so the
    * count IS the prefix length); bytes-saved is an exact sum. */
  val frontCoding: Q = (s, dir) => {
    import s.implicits._
    val vocab = Tables(s, dir, "documents")
      .select(explode(TextOps.tokens($"text")).as("w")).distinct()
    val lagged = vocab
      .withColumn("pw", lag($"w", 1).over(Window.orderBy($"w")))
    lagged.select($"w",
        when($"pw".isNull, 0L).otherwise(expr(
          "size(filter(sequence(1, least(length(w), length(pw)))," +
            " i -> substring(w, 1, i) = substring(pw, 1, i)))")
          .cast("long")).as("lcp"))
      .agg(count(lit(1)).as("vocab_size"),
        sum(length($"w").cast("long")).as("total_bytes"),
        sum($"lcp").as("saved_bytes"))
      .select($"vocab_size", $"total_bytes", $"saved_bytes",
        expr("1000000 * saved_bytes div total_bytes")
          .as("saving_micro"))
  }

  // -------------------------------------- q295 seasonal strength

  /** q295 — seasonal-strength score (Hyndman's F_s): 1 −
    * var(residual)/var(detrended) after removing a centered 7-day
    * moving average and the day-of-week means — the single number
    * that says whether q166/q187's weekly pattern is signal or
    * noise. Day-series windows (whitelist family); the MA and DOW
    * means are truncating exact divisions; both variances use the
    * n·Σx²−(Σx)² cross form over exact long sums in one final row. */
  val seasonalStrength: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "orders")
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("rev"))
    val det = d
      .withColumn("ma", expr("sum(rev) OVER (ORDER BY day ROWS" +
        " BETWEEN 3 PRECEDING AND 3 FOLLOWING) div count(rev) OVER" +
        " (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"))
      .select($"day", ($"rev" - $"ma").as("dt"),
        dayofweek($"day").as("dow"))
    val dow = det.groupBy($"dow")
      .agg(expr("sum(dt) div count(1)").as("sdow"))
    det.join(broadcast(dow), Seq("dow"))
      .select($"dt", ($"dt" - $"sdow").as("rs"))
      .agg(count(lit(1)).as("n"), sum($"dt").as("sd"),
        sum($"dt".cast("decimal(38,0)") * $"dt".cast("decimal(38,0)"))
          .as("sdd"),
        sum($"rs").as("sr"),
        sum($"rs".cast("decimal(38,0)") * $"rs".cast("decimal(38,0)"))
          .as("srr"))
      .select($"n",
        expr("CAST(round(1000000.0 * greatest(0.0, 1.0 -" +
          " (CAST(n AS DOUBLE) * CAST(srr AS DOUBLE) -" +
          " CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)) /" +
          " (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) -" +
          " CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)))) AS BIGINT)")
          .as("seasonal_strength_micro"))
  }

  // ------------------------------------- q296 dedup pipeline verdict

  /** q296 — end-to-end dedup pipeline verdict per source: the three
    * dedup tiers this engine implements — exact (md5, q22's rule),
    * near (banded MinHash candidates verified at Jaccard ≥ 0.5
    * against a smaller doc, q23's rule), and chunk-level token
    * salvage on the survivors (q243's rule) — composed into the
    * per-source keep census and token-savings report a curation run
    * signs off on. Every tier reuses the library primitives
    * (Dedup.minhashFromShingleSets/lshBands/lshCandidates); shuffles
    * are the documented per-tier ones, plus one final per-source
    * rollup. */
  val dedupPipeline: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", $"source", $"text",
        TextOps.tokens($"text").as("toks"))
    // tier 1: exact — canonical is the smallest doc_id per md5
    val exact = docs.select($"doc_id", md5($"text").as("h"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"h").orderBy($"doc_id")))
      .select($"doc_id", ($"rn" > 1).as("is_exact_dup"))
    // tier 2: near — verified banded candidates against a smaller id
    // pinned: the shingle-set frame feeds the minhash chain AND both
    // verify joins — lazy, the tokenize + shingle pass ran 3× (the
    // same per-doc-set shape nearDupGroups pins; NOT the exploded
    // per-shingle frame the q465 lesson forbids)
    val shs = docs.select($"doc_id",
      TextOps.shinglesFromTokens($"toks", 3).as("sh_set"))
      .trunkCheckpoint()
    val cand = Dedup.lshCandidates(Dedup.lshBands(
        Dedup.minhashFromShingleSets(shs, "doc_id", "sh_set",
          TrainingData.NumHashes),
        TrainingData.NumHashes, TrainingData.RowsPerBand)).distinct()
    val near = cand
      .join(shs.as("sa"), $"doc_a" === col("sa.doc_id"))
      .join(shs.as("sb"), $"doc_b" === col("sb.doc_id"))
      .filter(Dedup.jaccard(col("sa.sh_set"), col("sb.sh_set")) >= 0.5)
      .select($"doc_b".as("doc_id")).distinct()
      .withColumn("is_near_dup", lit(true))
    // tier 3: chunk salvage on survivors
    val ch = docs.select($"doc_id", size($"toks").cast("long")
        .as("n_toks"), posexplode(expr(
        "transform(sequence(0, (size(toks) + 7) div 8 - 1), " +
          "i -> concat_ws(' ', slice(toks, i * 8 + 1, 8)))")))
      .select($"doc_id", $"n_toks", $"pos".cast("long").as("ci"),
        $"col".as("chunk"),
        least(lit(8L), $"n_toks" - $"pos" * 8).as("clen"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"chunk").orderBy($"doc_id", $"ci")))
      .groupBy($"doc_id", $"n_toks")
      .agg(sum(when($"rn" > 1, $"clen").otherwise(0L)).as("removed"))
    docs.select($"doc_id", $"source")
      .join(exact, Seq("doc_id"))
      .join(near, Seq("doc_id"), "left")
      .join(ch, Seq("doc_id"))
      .select($"source", $"is_exact_dup",
        coalesce($"is_near_dup", lit(false)).as("is_near"),
        $"n_toks", $"removed")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"is_exact_dup", 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(!$"is_exact_dup" && $"is_near", 1L).otherwise(0L))
          .as("n_near_dup"),
        sum($"n_toks").as("tokens_total"),
        sum(when(!$"is_exact_dup" && !$"is_near",
          $"n_toks" - $"removed").otherwise(0L)).as("tokens_kept"))
      .select($"source", $"n_docs", $"n_exact_dup", $"n_near_dup",
        $"tokens_total", $"tokens_kept",
        expr("1000000 * tokens_kept div tokens_total")
          .as("kept_micro"))
  }

  // ------------------------------------ q297 top-list stability

  /** q297 — top-list stability between snapshot halves: overlap@k of
    * the top-k parts by revenue computed on the orderkey-parity
    * halves — the leaderboard-churn monitor that separates "ranking
    * drifted" from "noise at the tail". Each half's top-20 comes off
    * a TakeOrderedAndProject (VALUES+key ordering, deterministic);
    * ranks attach on the 20-row frames (whitelisted); overlap joins
    * are O(k). */
  val toplistStability: Q = (s, dir) => {
    import s.implicits._
    def top(par: Int) = Tables(s, dir, "lineitem")
      .filter($"l_orderkey" % 2 === par)
      .groupBy($"l_partkey")
      .agg(sum(round($"l_extendedprice" * 100).cast("long")).as("rev"))
      .orderBy($"rev".desc, $"l_partkey".asc).limit(20)
      .withColumn("rnk", row_number().over(
        Window.orderBy($"rev".desc, $"l_partkey".asc)).cast("long"))
      .select($"l_partkey", $"rnk")
    val a = top(0); val b = top(1)
    Seq(5L, 10L, 20L).map { k =>
      a.filter($"rnk" <= k)
        .join(b.filter($"rnk" <= k), Seq("l_partkey"))
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(k).as("k"), $"n_overlap",
          expr(s"1000000 * n_overlap div (2 * $k - n_overlap)")
            .as("jaccard_micro"))
    }.reduce(_ unionByName _)
  }

  // ---------------------------------------------- q298 runs test

  /** q298 — Wald-Wolfowitz runs test on daily revenue up/down moves
    * (the randomness check behind "is this trend real"): sign
    * sequence from day-over-day diffs (zeros drop by contract), run
    * count via one lag on the day series (whitelist family), and the
    * normal z-score from the exact (n+, n−, R) triple in one
    * single-row double expression. */
  val runsTest: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "orders")
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("rev"))
    val sgn = d
      .withColumn("diff", $"rev" - lag($"rev", 1).over(
        Window.orderBy($"day")))
      .filter($"diff".isNotNull && $"diff" =!= 0)
      .select($"day", when($"diff" > 0, 1L).otherwise(-1L).as("sg"))
    val runs = sgn
      .withColumn("chg", when(lag($"sg", 1).over(Window.orderBy($"day"))
        .isNull || lag($"sg", 1).over(Window.orderBy($"day")) =!= $"sg",
        1L).otherwise(0L))
      .agg(sum(when($"sg" === 1, 1L).otherwise(0L)).as("n_up"),
        sum(when($"sg" === -1, 1L).otherwise(0L)).as("n_down"),
        sum($"chg").as("n_runs"))
    runs.select($"n_up", $"n_down", $"n_runs",
      expr("CAST(round(1000000.0 * (CAST(n_runs AS DOUBLE) - (1.0 +" +
        " 2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE) /" +
        " CAST(n_up + n_down AS DOUBLE))) / sqrt(2.0 *" +
        " CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE) * (2.0 *" +
        " CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE) -" +
        " CAST(n_up + n_down AS DOUBLE)) / (CAST(n_up + n_down" +
        " AS DOUBLE) * CAST(n_up + n_down AS DOUBLE) *" +
        " CAST(n_up + n_down - 1 AS DOUBLE)))) AS BIGINT)")
        .as("z_micro"))
  }

  // ------------------------------------- q299 retention half-life

  /** q299 — retention half-life from the log-linear decay fit: the
    * cross-cohort retention curve r(age) at DAILY granularity
    * (q79's frame, pooled; this corpus spans one month, so days are
    * the informative clock), ln r quantized PER AGE on the bounded
    * age frame, and the OLS slope in closed form from exact sums —
    * half-life = ln 2 / (−slope). The single number a growth model
    * consumes. Ages with zero retention drop by contract (no ln). */
  val retentionHalflife: Q = (s, dir) => {
    import s.implicits._
    val um = Tables(s, dir, "events")
      .select($"user_id", to_date($"ts").as("d"))
      .distinct()
    val cohort = um.groupBy($"user_id").agg(min($"d").as("d0"))
    val act = um.join(cohort, Seq("user_id"))
      .select($"user_id", datediff($"d", $"d0").cast("long").as("age"))
      .distinct()
    val sizes = cohort.agg(count(lit(1)).as("n_users"))
    val ret = act.groupBy($"age").agg(count(lit(1)).as("active"))
      .crossJoin(broadcast(sizes))
      .filter($"active" > 0)
      .select($"age",
        expr("CAST(round(1000000.0 * ln(CAST(active AS DOUBLE) /" +
          " CAST(n_users AS DOUBLE))) AS BIGINT)").as("lr"))
    ret.agg(count(lit(1)).as("n_ages"), sum($"age").as("sx"),
        sum($"lr").as("sy"), sum($"age" * $"age").as("sxx"),
        sum($"age" * $"lr").as("sxy"))
      .select($"n_ages",
        expr("CAST(round((CAST(n_ages AS DOUBLE) *" +
          " CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) *" +
          " CAST(sy AS DOUBLE)) / (CAST(n_ages AS DOUBLE) *" +
          " CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *" +
          " CAST(sx AS DOUBLE))) AS BIGINT)").as("slope_micro"))
      .select($"n_ages", $"slope_micro",
        expr("CASE WHEN slope_micro < 0 THEN CAST(round(" +
          "CAST(693147180.55994531 AS DOUBLE) /" +
          " CAST(-slope_micro AS DOUBLE))" +
          " AS BIGINT) ELSE NULL END").as("halflife_milli_days"))
  }

  // ---------------------------------------- q300 corpus scorecard

  /** q300 — the corpus health scorecard: five single-number checks
    * (exact-dup share, language-balance entropy ratio, short-doc
    * share, hapax share, context-overflow share at 128 tokens), each
    * with its fixed gate — the one-page summary a data-quality
    * review reads before anything trains on the corpus. Every check
    * is one or two exact aggregates; entropy terms quantize per
    * language (≤5 values); the output is a static 5-row union. */
  val corpusScorecard: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", $"text", $"lang", $"n_chars",
        TextOps.tokens($"text").as("toks"))
    val dup = docs.select(md5($"text").as("h"))
      .groupBy($"h").agg(count(lit(1)).as("c"))
      .agg(sum($"c" - 1).as("dups"), sum($"c").as("n"))
      .select(lit("exact_dup_share").as("check_name"),
        expr("1000000 * dups div n").as("value_micro"))
      .withColumn("pass", $"value_micro" < 300000)
    val langH = docs.groupBy($"lang").agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
      .select(expr("CAST(round(-1000000.0 * (CAST(c AS DOUBLE) /" +
        " CAST(n AS DOUBLE)) * ln(CAST(c AS DOUBLE) /" +
        " CAST(n AS DOUBLE))) AS BIGINT)").as("term"))
      .agg(sum($"term").as("h"))
      .select(lit("lang_entropy_ratio").as("check_name"),
        expr("CAST(round(1000000.0 * CAST(h AS DOUBLE) /" +
          s" (1000000.0 * ln(5.0))) AS BIGINT)").as("value_micro"))
      .withColumn("pass", $"value_micro" > 800000)
    val short = docs
      .agg(sum(when($"n_chars" < 200, 1L).otherwise(0L)).as("k"),
        count(lit(1)).as("n"))
      .select(lit("short_doc_share").as("check_name"),
        expr("1000000 * k div n").as("value_micro"))
      .withColumn("pass", $"value_micro" < 400000)
    val hapax = docs.select(explode($"toks").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .agg(sum(when($"c" === 1, 1L).otherwise(0L)).as("h1"),
        count(lit(1)).as("v"))
      .select(lit("hapax_share").as("check_name"),
        expr("1000000 * h1 div v").as("value_micro"))
      .withColumn("pass", $"value_micro" < 300000)
    val overflow = docs
      .select(size($"toks").cast("long").as("nt"))
      .agg(sum(greatest($"nt" - 128, lit(0L))).as("lost"),
        sum($"nt").as("tot"))
      .select(lit("context128_loss_share").as("check_name"),
        expr("1000000 * lost div tot").as("value_micro"))
      .withColumn("pass", $"value_micro" < 100000)
    Seq(dup, langH, short, hapax, overflow).reduce(_ unionByName _)
  }

  // ------------------------------------ q440 grouped weighted median

  /** q440 — revenue-weighted median quantity per return flag: the
    * quantity q at which half the flag's revenue sits on lines with
    * quantity ≤ q (lower weighted median, ties→smallest q). The
    * 100 TB shape: lineitem collapses to a (flag, qty) histogram with
    * exact cent weights FIRST (map-side combine; ≤ 50 cells per flag),
    * so the cumulative-sum window runs over O(flags·50) rows — never a
    * percentile UDAF single-reducer merge and never a window over raw
    * lines. The half-total fence is the integer cross-multiply
    * `2·cum ≥ total`. */
  val weightedMedian: Q = (s, dir) => {
    import s.implicits._
    val hist = Tables(s, dir, "lineitem")
      .select($"l_returnflag", $"l_quantity".cast("long").as("qty"),
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .groupBy($"l_returnflag", $"qty")
      .agg(sum($"cents").as("w"))
    val cum = hist.select($"l_returnflag", $"qty", $"w",
      sum($"w").over(Window.partitionBy($"l_returnflag")
        .orderBy($"qty")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("cum"),
      sum($"w").over(Window.partitionBy($"l_returnflag")).as("total"))
    cum.filter($"cum" * 2 >= $"total")
      .groupBy($"l_returnflag")
      .agg(min($"qty").as("w_median_qty"), min($"total").as("total_cents"))
      .orderBy($"l_returnflag")
  }

  private val sqlWeightedMedian: String =
    """WITH hist AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
      |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS w
      |  FROM lineitem GROUP BY 1, 2),
      |cum AS (SELECT l_returnflag, qty, w,
      |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY qty
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
      |      AS cum,
      |    sum(w) OVER (PARTITION BY l_returnflag)::BIGINT AS total
      |  FROM hist)
      |SELECT l_returnflag, min(qty)::BIGINT AS w_median_qty,
      |  min(total)::BIGINT AS total_cents
      |FROM cum WHERE cum * 2 >= total
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------ q442 RFF-kernel MMD

  /** Shared literal tables for q442: 16 random-feature frequency rows
    * over the 64 embedding dims plus 16 phases, hash-derived at
    * plan-build time on a 1/1000 grid (the q27 literal-hyperplane
    * discipline) so the runtime plan is pure arithmetic and the oracle
    * carries bit-identical decimal literals. */
  private val RffD = 16
  private val RffDims = 64
  private def rffWK(p: Int, d: Int): Int =
    (Hashing.hash60(s"rff${p}_$d") % 2001).toInt - 1000
  private def rffBK(p: Int): Int = (Hashing.hash60(s"rffb_$p") % 6284).toInt

  /** q442 — kernel two-sample test via random Fourier features (Rahimi
    * & Recht 2007): MMD² between the even- and odd-id embedding
    * populations under the shift-invariant kernel the literal
    * frequency table realizes, z_p(x) = cos(ω_p·x + b_p). Complements
    * q324's polynomial-kernel MMD with the RBF-family estimator that
    * needs NO pairwise term: each vector maps to 16 features
    * (map-only), features quantize to micro longs BEFORE aggregation
    * (the q111 discipline — partial-agg order can't move the result),
    * and MMD² is exact integer arithmetic on the 16 per-population
    * micro-mean pairs. One reduce over conditional sums; the corpus
    * never shuffles or pairs. */
  val rffMmd: Q = (s, dir) => {
    import s.implicits._
    def zq(p: Int): Column = {
      val wArr = array((0 until RffDims).map(d =>
        lit(rffWK(p, d) / 1000.0)): _*)
      val dot = aggregate(
        zip_with($"embedding", wArr, (x, wv) => x.cast("double") * wv),
        lit(0.0), (acc, v) => acc + v)
      round(cos(dot + lit(rffBK(p) / 1000.0)) * 1000000.0).cast("long")
    }
    val even = $"vec_id" % 2 === 0
    val sums =
      Seq(sum(when(even, 1L).otherwise(0L)).as("n_x"),
        sum(when(!even, 1L).otherwise(0L)).as("n_y")) ++
      (0 until RffD).flatMap(p => Seq(
        sum(when(even, zq(p)).otherwise(0L)).as(s"sx$p"),
        sum(when(!even, zq(p)).otherwise(0L)).as(s"sy$p")))
    val mmd = (0 until RffD).map(p =>
        expr(s"(sx$p div n_x - sy$p div n_y) * " +
          s"(sx$p div n_x - sy$p div n_y)"))
      .reduce(_ + _)
    Tables(s, dir, "embeddings")
      .agg(sums.head, sums.tail: _*)
      .select($"n_x", $"n_y", mmd.as("mmd2_micro2"))
  }

  private val sqlRffMmd: String = {
    def lit3(k: Int): String =
      java.math.BigDecimal.valueOf(k.toLong, 3).toPlainString
    def z(p: Int): String = {
      val dot = (0 until RffDims).map(d =>
        s"CAST(embedding[${d + 1}] AS DOUBLE) * ${lit3(rffWK(p, d))}")
        .mkString("0.0 + ", " + ", "")
      s"CAST(round(cos($dot + ${lit3(rffBK(p))}) * 1000000.0) AS BIGINT)"
    }
    val featCols = (0 until RffD).map(p => s"${z(p)} AS z$p").mkString(",\n    ")
    val sumCols = (0 until RffD).map(p =>
      s"sum(CASE WHEN even THEN z$p ELSE 0 END)::BIGINT AS sx$p,\n" +
      s"    sum(CASE WHEN NOT even THEN z$p ELSE 0 END)::BIGINT AS sy$p")
      .mkString(",\n    ")
    val mmd = (0 until RffD).map(p =>
      s"(sx$p // n_x - sy$p // n_y) * (sx$p // n_x - sy$p // n_y)")
      .mkString(" + ")
    s"""WITH z AS (SELECT vec_id % 2 = 0 AS even,
       |    $featCols
       |  FROM embeddings),
       |agg AS (SELECT
       |    sum(CASE WHEN even THEN 1 ELSE 0 END)::BIGINT AS n_x,
       |    sum(CASE WHEN NOT even THEN 1 ELSE 0 END)::BIGINT AS n_y,
       |    $sumCols
       |  FROM z)
       |SELECT n_x, n_y, ($mmd)::BIGINT AS mmd2_micro2 FROM agg""".stripMargin
  }

  // ------------------------------------ q455 rank-biased overlap

  /** Tail weights for truncated RBO (Webber et al. 2010) at p = 0.9,
    * k = 10, micro-quantized: a nation whose WORST rank across the two
    * lists is g contributes Σ_{d=g..10} (1-p)·p^(d-1)/d — precomputed
    * here so the distributed sum is exact long addition (the per-value
    * quantization discipline; float summation order can never move the
    * score). */
  private val RboP = 0.9
  private val RboK = 10
  private def rboTailMicro(g: Int): Long = {
    val v = (g to RboK).map(d =>
      (1 - RboP) * math.pow(RboP, d - 1) / d).sum
    math.round(v * 1000000.0)
  }

  /** q455 — rank-biased overlap between the 1996 and 1997 nation
    * revenue top-10 lists: the top-weighted list-comparison metric
    * (RBO) that Kendall/Jaccard miss — agreement at rank 1 matters
    * more than at rank 10, and the lists need not share members. The
    * identity that makes it scale: truncated RBO = Σ over common
    * members of tail(worst-rank), so after the two rank frames
    * (grouped aggregates + a ≤10 rank cut each) the metric is ONE
    * equi-join on the member key and an exact long sum of literal
    * tail weights — no per-depth pass, no order-sensitive float
    * accumulation. The YoY rank-stability audit a revenue dashboard
    * runs. */
  val rboToplists: Q = (s, dir) => {
    import s.implicits._
    def yearRank(y: Int): DataFrame = {
      val rev = Tables(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit(s"$y-01-01") &&
          $"l_shipdate" < lit(s"${y + 1}-01-01"))
        .select($"l_orderkey",
          round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100)
            .cast("long").as("cents"))
        .join(Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .join(Tables(s, dir, "customer")
          .select($"c_custkey", $"c_nationkey"),
          $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables(s, dir, "nation")
          .select($"n_nationkey", $"n_name")),
          $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name").agg(sum($"cents").as("rev"))
      rev.withColumn("rnk", row_number().over(
          Window.orderBy($"rev".desc, $"n_name".asc)))
        .filter($"rnk" <= RboK)
        .select($"n_name", $"rnk")
      // the unpartitioned window is safe: the frame is O(nations)=25
      // rows post-aggregate (documented small-frame whitelist class)
    }
    val coefMap = map((1 to RboK).flatMap(g =>
      Seq(lit(g), lit(rboTailMicro(g)))): _*)
    val a = yearRank(1996).withColumnRenamed("rnk", "rnk_a")
    val b = yearRank(1997).withColumnRenamed("rnk", "rnk_b")
    a.join(b, Seq("n_name"))
      .select(element_at(coefMap,
        greatest($"rnk_a", $"rnk_b").cast("int")).as("w"))
      .agg(count(lit(1)).as("n_common"),
        coalesce(sum($"w"), lit(0L)).as("rbo_micro"))
  }

  private lazy val sqlRboToplists: String = {
    def yearRank(y: Int): String =
      s"""SELECT n_name, row_number() OVER
         |    (ORDER BY rev DESC, n_name ASC) AS rnk
         |  FROM (SELECT n_name,
         |      sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
         |        AS BIGINT))::BIGINT AS rev
         |    FROM lineitem
         |    JOIN orders ON l_orderkey = o_orderkey
         |    JOIN customer ON o_custkey = c_custkey
         |    JOIN nation ON c_nationkey = n_nationkey
         |    WHERE l_shipdate >= TIMESTAMP '$y-01-01'
         |      AND l_shipdate < TIMESTAMP '${y + 1}-01-01'
         |    GROUP BY n_name)
         |  QUALIFY rnk <= $RboK""".stripMargin
    val cases = (1 to RboK).map(g =>
      s"WHEN ${g} THEN ${rboTailMicro(g)}").mkString(" ")
    s"""WITH a AS (${yearRank(1996)}),
       |b AS (${yearRank(1997)})
       |SELECT count(*)::BIGINT AS n_common,
       |  coalesce(sum(CASE greatest(a.rnk, b.rnk) $cases END), 0)::BIGINT
       |    AS rbo_micro
       |FROM a JOIN b ON a.n_name = b.n_name""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q455_rbo_toplists" -> rboToplists,
    "q442_rff_mmd" -> rffMmd,
    "q440_weighted_median" -> weightedMedian,
    "q242_dsir_weights" -> dsirWeights,
    "q243_chunk_dedup" -> chunkDedup,
    "q244_mcnemar" -> mcnemar,
    "q245_matryoshka_eval" -> matryoshkaEval,
    "q246_kendall_tau" -> kendallTau,
    "q247_logreg_gd" -> logregGd,
    "q248_wilson_ci" -> wilsonCi,
    "q249_permutation_test" -> permutationTest,
    "q250_centroid_drift" -> centroidDrift,
    "q251_hill_tail" -> hillTail,
    "q252_knn_label_acc" -> knnLabelAcc,
    "q253_anova_f" -> anovaFTest,
    "q254_levene_test" -> leveneTest,
    "q255_jarque_bera" -> jarqueBera,
    "q256_cuped" -> cuped,
    "q257_markov_predict" -> markovPredict,
    "q258_conformal_coverage" -> conformalCoverage,
    "q259_local_clustering" -> localClustering,
    "q260_degree_assortativity" -> degreeAssortativity,
    "q261_friedman" -> friedman,
    "q262_fdr_screen" -> fdrScreen,
    "q263_quality_logreg" -> qualityLogreg,
    "q264_lsh_tuning" -> lshTuning,
    "q265_token_budget" -> tokenBudget,
    "q266_embedding_norms" -> embeddingNorms,
    "q267_interval_merge" -> intervalMerge,
    "q268_fairness_audit" -> fairnessAudit,
    "q269_offpolicy_ips" -> offpolicyIps,
    "q270_srm_check" -> srmCheck,
    "q271_diff_in_diff" -> diffInDiff,
    "q272_simpson_check" -> simpsonCheck,
    "q273_bm25_sweep" -> bm25Sweep,
    "q274_profile_drift" -> profileDrift,
    "q275_platt_scaling" -> plattScaling,
    "q276_vocab_coverage" -> vocabCoverage,
    "q277_term_burstiness" -> termBurstiness,
    "q278_small_order_revenue" -> smallOrderRevenue,
    "q279_large_volume_customers" -> largeVolumeCustomers,
    "q280_global_sales_opportunity" -> globalSalesOpportunity,
    "q281_transition_entropy" -> transitionEntropy,
    "q282_hapax_ratio" -> hapaxRatio,
    "q283_pr_curve" -> prCurve,
    "q284_forecast_mase" -> forecastMase,
    "q285_xyz_classes" -> xyzClasses,
    "q286_sax_motifs" -> saxMotifs,
    "q287_audience_overlap" -> audienceOverlap,
    "q288_record_days" -> recordDays,
    "q289_bpe_merge_sweep" -> bpeMergeSweep,
    "q290_context_census" -> contextCensus,
    "q291_bigram_acceptance" -> bigramAcceptance,
    "q292_knn_outliers" -> knnOutliers,
    "q293_negbin_moments" -> negbinMoments,
    "q294_front_coding" -> frontCoding,
    "q295_seasonal_strength" -> seasonalStrength,
    "q296_dedup_pipeline" -> dedupPipeline,
    "q297_toplist_stability" -> toplistStability,
    "q298_runs_test" -> runsTest,
    "q299_retention_halflife" -> retentionHalflife,
    "q300_corpus_scorecard" -> corpusScorecard,
  )

  // ---------------------------------------------------------- oracle SQL

  private val sqlDsir = {
    val h = sqlHash60("toks[i] || ' ' || toks[i + 1]")
    s"""WITH t AS (SELECT doc_id, lang, ${sqlTokens("text")} AS toks
       |  FROM documents),
       |bg AS (SELECT doc_id, lang, ($h % 512) AS b
       |  FROM (SELECT doc_id, lang, toks,
       |          CAST(unnest(range(1, len(toks)::BIGINT)) AS INT) AS i
       |        FROM t)),
       |ct AS (SELECT b, count(*)::BIGINT AS c FROM bg
       |  WHERE lang = 'en' GROUP BY b),
       |cr AS (SELECT b, count(*)::BIGINT AS c FROM bg
       |  WHERE lang <> 'en' GROUP BY b),
       |tot AS (SELECT
       |  (SELECT count(*)::BIGINT FROM bg WHERE lang = 'en') AS t_tot,
       |  (SELECT count(*)::BIGINT FROM bg WHERE lang <> 'en') AS r_tot),
       |w AS (SELECT coalesce(ct.b, cr.b) AS b,
       |    CAST(round(1000000.0 *
       |      (ln(CAST(coalesce(ct.c, 0) + 1 AS DOUBLE) /
       |         CAST(t_tot + 512 AS DOUBLE)) -
       |       ln(CAST(coalesce(cr.c, 0) + 1 AS DOUBLE) /
       |         CAST(r_tot + 512 AS DOUBLE)))) AS BIGINT) AS w_micro
       |  FROM ct FULL JOIN cr ON ct.b = cr.b CROSS JOIN tot)
       |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       |  sum(w_micro)::BIGINT AS dsir_score_micro
       |FROM bg JOIN w USING (b) WHERE lang <> 'en'
       |GROUP BY doc_id""".stripMargin
  }

  private val sqlChunkDedup =
    s"""WITH t AS (SELECT doc_id, toks, len(toks)::BIGINT AS n_toks
       |  FROM (SELECT doc_id, ${sqlTokens("text")} AS toks
       |        FROM documents)
       |  WHERE len(toks) > 0),
       |ch AS (SELECT doc_id, n_toks, CAST(u.i AS BIGINT) AS chunk_idx,
       |    array_to_string(toks[CAST(u.i * 8 + 1 AS INT):
       |      CAST(u.i * 8 + 8 AS INT)], ' ') AS chunk,
       |    least(8, n_toks - u.i * 8)::BIGINT AS clen
       |  FROM t, UNNEST(range(0, (n_toks + 7) // 8)) AS u(i)),
       |r AS (SELECT doc_id, n_toks, clen,
       |    row_number() OVER (PARTITION BY chunk
       |      ORDER BY doc_id, chunk_idx) AS rn
       |  FROM ch)
       |SELECT doc_id, count(*)::BIGINT AS n_chunks,
       |  sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
       |  sum(CASE WHEN rn > 1 THEN clen ELSE 0 END)::BIGINT
       |    AS toks_removed,
       |  CAST(1000000 * (n_toks -
       |      sum(CASE WHEN rn > 1 THEN clen ELSE 0 END)) // n_toks
       |    AS BIGINT) AS retained_micro
       |FROM r GROUP BY doc_id, n_toks""".stripMargin

  private val sqlMcnemar =
    """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
      |    AS cents, o_orderpriority FROM orders),
      |m AS (SELECT sum(cents)::BIGINT // count(*)::BIGINT
      |    AS mean_cents FROM o),
      |f AS (SELECT (cents > mean_cents) AS a,
      |    (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS b
      |  FROM o CROSS JOIN m),
      |c AS (SELECT
      |    sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)::BIGINT AS b_cnt,
      |    sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)::BIGINT AS c_cnt
      |  FROM f)
      |SELECT b_cnt, c_cnt,
      |  CAST((b_cnt - c_cnt) * (b_cnt - c_cnt) * 1000000
      |    // greatest(b_cnt + c_cnt, 1) AS BIGINT) AS mcnemar_micro,
      |  CAST((abs(b_cnt - c_cnt) - 1) * (abs(b_cnt - c_cnt) - 1)
      |    * 1000000 // greatest(b_cnt + c_cnt, 1) AS BIGINT)
      |    AS mcnemar_cc_micro
      |FROM c""".stripMargin

  private val sqlMatryoshka = {
    val cosF = sqlCosCols("e.embedding", "q.qv")
    val cosT = sqlCosCols("e.embedding[1:16]", "q.qv[1:16]")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv
       |  FROM embeddings WHERE vec_id % 25 = 0),
       |cf AS (SELECT q.q_id, e.vec_id, $cosF AS cs
       |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
       |rf AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cs DESC, vec_id) AS rn FROM cf) WHERE rn <= 10),
       |ctr AS (SELECT q.q_id, e.vec_id, $cosT AS cs
       |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
       |rt AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cs DESC, vec_id) AS rn FROM ctr) WHERE rn <= 10),
       |ov AS (SELECT rf.q_id, count(*)::BIGINT AS ov
       |  FROM rf JOIN rt USING (q_id, vec_id) GROUP BY rf.q_id)
       |SELECT q.q_id, coalesce(ov.ov, 0)::BIGINT AS n_overlap,
       |  CAST(1000000 * coalesce(ov.ov, 0) // 10 AS BIGINT)
       |    AS recall_micro
       |FROM q LEFT JOIN ov ON q.q_id = ov.q_id""".stripMargin
  }

  private val sqlKendall =
    """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS rev,
      |    count(*)::BIGINT AS cnt FROM orders GROUP BY 1),
      |p AS (SELECT
      |    CASE WHEN (a.rev > b.rev AND a.cnt > b.cnt)
      |      OR (a.rev < b.rev AND a.cnt < b.cnt) THEN 1 ELSE 0 END AS conc,
      |    CASE WHEN (a.rev > b.rev AND a.cnt < b.cnt)
      |      OR (a.rev < b.rev AND a.cnt > b.cnt) THEN 1 ELSE 0 END AS disc,
      |    CASE WHEN a.rev = b.rev AND a.cnt <> b.cnt
      |      THEN 1 ELSE 0 END AS tx,
      |    CASE WHEN a.cnt = b.cnt AND a.rev <> b.rev
      |      THEN 1 ELSE 0 END AS ty,
      |    CASE WHEN a.rev = b.rev AND a.cnt = b.cnt
      |      THEN 1 ELSE 0 END AS tb
      |  FROM d a JOIN d b ON a.day < b.day),
      |s AS (SELECT sum(conc)::BIGINT AS c, sum(disc)::BIGINT AS d,
      |    sum(tx)::BIGINT AS tx, sum(ty)::BIGINT AS ty,
      |    sum(tb)::BIGINT AS tb,
      |    (SELECT count(*)::BIGINT FROM d) AS n FROM p)
      |SELECT n AS n_days, c AS concordant, d AS discordant,
      |  tx AS ties_x, ty AS ties_y,
      |  CAST(round(1000000.0 * CAST(c - d AS DOUBLE) /
      |    sqrt(CAST(n * (n - 1) // 2 - (tx + tb) AS DOUBLE) *
      |      CAST(n * (n - 1) // 2 - (ty + tb) AS DOUBLE))) AS BIGINT)
      |    AS tau_b_micro
      |FROM s""".stripMargin

  /** Shared 3-iteration GD oracle over an inner (y, x1, x2) select —
    * keep in lockstep with [[logregLoop]]. */
  private def sqlLogregOver(inner: String): String = {
    val base = s"base AS ($inner)"
    val it0 = "it0 AS (SELECT 0::BIGINT AS w0, 0::BIGINT AS w1," +
      " 0::BIGINT AS w2)"
    def iter(i: Int) =
      s"""p$i AS (SELECT y, x1, x2,
         |    CAST(round(1000000.0 / (1.0 + exp(-(CAST(
         |      w0 + (w1 * x1) // 1000000 + (w2 * x2) // 1000000
         |    AS DOUBLE)) / 1000000.0))) AS BIGINT) - y AS err
         |  FROM base CROSS JOIN it${i - 1}),
         |g$i AS (SELECT count(*)::BIGINT AS n, sum(err)::BIGINT AS s0,
         |    sum(err * x1)::BIGINT AS s1, sum(err * x2)::BIGINT AS s2
         |  FROM p$i),
         |it$i AS (SELECT
         |    CAST(w0 - (500000 * (s0 // g$i.n)) // 1000000 AS BIGINT)
         |      AS w0,
         |    CAST(w1 - (500000 * (s1 // (g$i.n * 1000000))) // 1000000
         |      AS BIGINT) AS w1,
         |    CAST(w2 - (500000 * (s2 // (g$i.n * 1000000))) // 1000000
         |      AS BIGINT) AS w2,
         |    g$i.n AS n
         |  FROM g$i CROSS JOIN it${i - 1})""".stripMargin
    s"""WITH $base,
       |$it0,
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT n, w0 AS w0_micro, w1 AS w1_micro, w2 AS w2_micro
       |FROM it3""".stripMargin
  }

  private val sqlLogreg = sqlLogregOver(
    """SELECT
      |    CASE WHEN l_returnflag = 'R' THEN 1000000
      |      ELSE 0 END::BIGINT AS y,
      |    CAST(round(l_quantity / 50.0 * 1000000.0) AS BIGINT) AS x1,
      |    CAST(round(l_discount * 10000000.0) AS BIGINT) AS x2
      |  FROM lineitem""".stripMargin)

  private val sqlQualityLogreg = sqlLogregOver(
    s"""SELECT
       |    CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END::BIGINT AS y,
       |    CAST(100000 * list_sum(list_transform(toks, t ->
       |      len(t)))::BIGINT // len(toks)::BIGINT AS BIGINT) AS x1,
       |    CAST(1000000 * len(list_distinct(toks))::BIGINT //
       |      len(toks)::BIGINT AS BIGINT) AS x2
       |  FROM (SELECT lang, ${sqlTokens("text")} AS toks
       |        FROM documents) WHERE len(toks) > 0""".stripMargin)

  private val sqlLshTuning = {
    import graft.functions.Hashing
    val lanes = (0 until TrainingData.NumHashes)
      .map(i => s"min(${Hashing.sqlLane("h31", i)}) AS h$i")
      .mkString(",\n  ")
    def bandsFor(r: Int): String = {
      val numBands = TrainingData.NumHashes / r
      (0 until numBands).map { b =>
        val parts = (0 until r)
          .map(j => s"CAST(h${b * r + j} AS VARCHAR)").mkString(", ")
        s"SELECT doc_id, $b AS band, " +
          s"${sqlHash60(s"concat_ws(',', $parts)")} AS band_hash FROM sig"
      }.mkString("\n  UNION ALL ")
    }
    val configs = Seq(2, 4, 8).map { r =>
      val b = TrainingData.NumHashes / r
      val p = math.round(1000000.0 *
        (1.0 - math.pow(1.0 - math.pow(0.5, r), b)))
      s"""SELECT $b::BIGINT AS bands, $r::BIGINT AS rows_per_band,
         |  $p::BIGINT AS p_at_half_micro,
         |  (SELECT count(*)::BIGINT FROM
         |    (SELECT DISTINCT a.doc_id, b.doc_id AS doc_b
         |     FROM bands_$r a JOIN bands_$r b
         |       ON a.band = b.band AND a.band_hash = b.band_hash
         |      AND a.doc_id < b.doc_id)) AS n_candidates""".stripMargin
    }.mkString("\nUNION ALL\n")
    val bandCtes = Seq(2, 4, 8)
      .map(r => s"bands_$r AS (${bandsFor(r)})").mkString(",\n")
    s"""WITH corpus AS ${TrainingData.sqlCorpus},
       |sh AS (SELECT doc_id,
       |    ${graft.functions.TextOps.sqlShingles("text", 3)} AS sh_set
       |  FROM corpus),
       |ex AS (SELECT doc_id, (${sqlHash60("s")} & ${Hashing.Mask31})
       |    AS h31
       |  FROM (SELECT doc_id, unnest(sh_set) AS s FROM sh) u),
       |sig AS (SELECT doc_id, $lanes FROM ex GROUP BY doc_id),
       |$bandCtes
       |$configs""".stripMargin
  }

  private val sqlTokenBudget = {
    val toks = sqlTokens("text")
    s"""WITH src AS (SELECT source,
       |    sum(len($toks))::BIGINT AS tokens_s,
       |    count(*)::BIGINT AS n_docs,
       |    sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)::BIGINT
       |      AS n_ok
       |  FROM documents GROUP BY source),
       |q AS (SELECT source, tokens_s,
       |    CAST(1000000 * n_ok // n_docs AS BIGINT) AS q_micro
       |  FROM src),
       |bud AS (SELECT sum(tokens_s)::BIGINT // 2 AS budget FROM q),
       |r AS (SELECT *,
       |    coalesce(sum(tokens_s) OVER (ORDER BY q_micro DESC, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cum_before,
       |    row_number() OVER (ORDER BY q_micro DESC, source)
       |      AS fill_rank
       |  FROM q CROSS JOIN bud)
       |SELECT source, CAST(fill_rank AS BIGINT) AS fill_rank, tokens_s,
       |  q_micro,
       |  greatest(0, least(tokens_s, budget - cum_before))::BIGINT
       |    AS alloc_tokens
       |FROM r""".stripMargin
  }

  private val sqlEmbeddingNorms =
    s"""WITH nrm AS (SELECT label,
       |    CAST(round(1000000.0 * sqrt(${sqlNorm("embedding")}))
       |      AS BIGINT) AS nu
       |  FROM embeddings),
       |a AS (SELECT label, count(*)::BIGINT AS n, sum(nu)::BIGINT AS sn,
       |    sum(CAST(nu AS HUGEINT) * CAST(nu AS HUGEINT)) AS qn,
       |    min(nu)::BIGINT AS min_norm_micro,
       |    max(nu)::BIGINT AS max_norm_micro
       |  FROM nrm GROUP BY label)
       |SELECT label, n, CAST(sn // n AS BIGINT) AS mean_norm_micro,
       |  CAST(round(sqrt((CAST(n AS DOUBLE) * CAST(qn AS DOUBLE)
       |    - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)) /
       |    (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))) AS BIGINT)
       |    AS std_norm_micro,
       |  min_norm_micro, max_norm_micro
       |FROM a""".stripMargin

  private val sqlWilson = {
    def side(sign: String) =
      "(CAST(n_defect AS DOUBLE) / CAST(n_docs AS DOUBLE)" +
        " + 1.9208 / CAST(n_docs AS DOUBLE) " + sign +
        " 1.96 * sqrt(CAST(n_defect AS DOUBLE) / CAST(n_docs AS DOUBLE)" +
        " * (1.0 - CAST(n_defect AS DOUBLE) / CAST(n_docs AS DOUBLE))" +
        " / CAST(n_docs AS DOUBLE)" +
        " + 0.9604 / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))))" +
        " / (1.0 + 3.8416 / CAST(n_docs AS DOUBLE))"
    s"""WITH a AS (SELECT source, count(*)::BIGINT AS n_docs,
       |    sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)::BIGINT
       |      AS n_defect
       |  FROM documents GROUP BY source)
       |SELECT source, n_docs, n_defect,
       |  CAST(1000000 * n_defect // n_docs AS BIGINT) AS p_micro,
       |  CAST(round(1000000.0 * ${side("-")}) AS BIGINT) AS lo_micro,
       |  CAST(round(1000000.0 * ${side("+")}) AS BIGINT) AS hi_micro
       |FROM a""".stripMargin
  }

  private val sqlPermutation = {
    val hObs = sqlHash60("'ab|' || user_id")
    val hPerm = sqlHash60("'perm|' || b || '|' || user_id")
    s"""WITH u AS (SELECT user_id,
       |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS su
       |  FROM events WHERE event_type = 'purchase' AND value > 0
       |  GROUP BY user_id),
       |obs AS (SELECT
       |    sum(CASE WHEN $hObs % 2 = 0 THEN su ELSE 0 END)::BIGINT AS s0,
       |    sum(CASE WHEN $hObs % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
       |    sum(CASE WHEN $hObs % 2 = 1 THEN su ELSE 0 END)::BIGINT AS s1,
       |    sum(CASE WHEN $hObs % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
       |  FROM u),
       |od AS (SELECT CAST(1000000 * s0 // greatest(n0, 1)
       |    - 1000000 * s1 // greatest(n1, 1) AS BIGINT) AS diff_obs
       |  FROM obs),
       |pm AS (SELECT b,
       |    sum(CASE WHEN $hPerm % 2 = 0 THEN su ELSE 0 END)::BIGINT AS s0,
       |    sum(CASE WHEN $hPerm % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
       |    sum(CASE WHEN $hPerm % 2 = 1 THEN su ELSE 0 END)::BIGINT AS s1,
       |    sum(CASE WHEN $hPerm % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
       |  FROM u CROSS JOIN UNNEST(range(0, 256)) AS t(b) GROUP BY b),
       |pd AS (SELECT b, CAST(1000000 * s0 // greatest(n0, 1)
       |    - 1000000 * s1 // greatest(n1, 1) AS BIGINT) AS diff_b
       |  FROM pm),
       |e AS (SELECT count(*)::BIGINT AS n_extreme FROM pd, od
       |  WHERE abs(diff_b) >= abs(diff_obs))
       |SELECT od.diff_obs AS obs_diff_micro, e.n_extreme,
       |  CAST((1 + e.n_extreme) * 1000000 // 257 AS BIGINT) AS p_micro
       |FROM od, e""".stripMargin
  }

  private val sqlCentroidDrift =
    """WITH mv AS (SELECT vec_id, label, vec_id % 2 AS half,
      |    list_transform(embedding, v ->
      |      CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS mv
      |  FROM embeddings),
      |vals AS (SELECT label, half, CAST(i AS INT) AS dim,
      |    mv[CAST(i AS INT)] AS v
      |  FROM mv, UNNEST(range(1, len(mv) + 1)) AS u(i)),
      |cent AS (SELECT label, half, dim,
      |    CAST(sum(v)::BIGINT // count(*)::BIGINT AS BIGINT) AS c
      |  FROM vals GROUP BY label, half, dim),
      |j AS (SELECT a.label,
      |    sum(a.c * b.c)::BIGINT AS dot,
      |    sum(a.c * a.c)::BIGINT AS n0,
      |    sum(b.c * b.c)::BIGINT AS n1
      |  FROM cent a JOIN cent b
      |    ON a.label = b.label AND a.dim = b.dim
      |   AND a.half = 0 AND b.half = 1
      |  GROUP BY a.label),
      |cnt AS (SELECT label,
      |    sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
      |      AS n_even,
      |    sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END)::BIGINT
      |      AS n_odd
      |  FROM embeddings GROUP BY label)
      |SELECT j.label, cnt.n_even, cnt.n_odd,
      |  CAST(round(1000000.0 * (1.0 - CAST(dot AS DOUBLE) /
      |    (sqrt(CAST(n0 AS DOUBLE)) * sqrt(CAST(n1 AS DOUBLE)))))
      |    AS BIGINT) AS drift_micro
      |FROM j JOIN cnt ON j.label = cnt.label""".stripMargin

  private val sqlHill =
    """WITH top AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
      |    AS cents FROM orders ORDER BY cents DESC LIMIT 100),
      |xk AS (SELECT min(cents)::BIGINT AS xk_cents FROM top),
      |l AS (SELECT CAST(round(1000000.0 * ln(CAST(cents AS DOUBLE) /
      |    CAST(xk_cents AS DOUBLE))) AS BIGINT) AS lm FROM top, xk),
      |s AS (SELECT sum(lm)::BIGINT AS sl FROM l)
      |SELECT 100::BIGINT AS k, xk.xk_cents,
      |  CAST(sl // 99 AS BIGINT) AS mean_ln_micro,
      |  CAST(1000000000000 // greatest(sl // 99, 1) AS BIGINT)
      |    AS alpha_micro
      |FROM s, xk""".stripMargin

  private val sqlKnnAcc = {
    val cos = sqlCosCols("e.embedding", "q.qv")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv,
       |    label AS true_label FROM embeddings WHERE vec_id % 10 = 0),
       |c AS (SELECT q.q_id, q.true_label, e.vec_id, e.label, $cos AS cs
       |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
       |nn AS (SELECT q_id, true_label, label FROM (SELECT q_id,
       |    true_label, label, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cs DESC, vec_id) AS rn FROM c) WHERE rn <= 5),
       |v AS (SELECT q_id, true_label, label, count(*)::BIGINT AS votes
       |  FROM nn GROUP BY q_id, true_label, label),
       |pr AS (SELECT q_id, true_label, label AS pred_label
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY votes DESC, label) AS rn2 FROM v) WHERE rn2 = 1)
       |SELECT true_label, count(*)::BIGINT AS n_eval,
       |  sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)::BIGINT
       |    AS n_correct,
       |  CAST(1000000 * sum(CASE WHEN pred_label = true_label
       |    THEN 1 ELSE 0 END)::BIGINT // count(*)::BIGINT AS BIGINT)
       |    AS acc_micro
       |FROM pr GROUP BY true_label""".stripMargin
  }

  /** Shared ANOVA-F oracle over an inner (g, v) select — keep in
    * lockstep with [[anovaF]]. */
  private def sqlAnova(inner: String): String =
    s"""WITH d AS ($inner),
       |st AS (SELECT g, count(*)::BIGINT AS nj, sum(v)::BIGINT AS sj,
       |    sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS ssj
       |  FROM d GROUP BY g),
       |tot AS (SELECT sum(nj)::BIGINT AS n, sum(sj)::BIGINT AS s,
       |    count(*)::BIGINT AS k FROM st),
       |terms AS (SELECT
       |    CAST(round(CAST(nj AS DOUBLE) * pow(CAST(sj // nj AS DOUBLE)
       |      - CAST(s // n AS DOUBLE), 2) / 1000000.0) AS BIGINT) AS bj,
       |    CAST(round((CAST(ssj AS DOUBLE) - CAST(sj AS DOUBLE)
       |      * CAST(sj AS DOUBLE) / CAST(nj AS DOUBLE)) / 1000000.0)
       |      AS BIGINT) AS wj
       |  FROM st CROSS JOIN tot),
       |ag AS (SELECT sum(bj)::BIGINT AS ssb_q, sum(wj)::BIGINT AS ssw_q
       |  FROM terms)
       |SELECT k AS k_groups, n AS n_total, ssb_q, ssw_q,
       |  CAST(round(1000000.0 * (CAST(ssb_q AS DOUBLE) /
       |    CAST(k - 1 AS DOUBLE)) / (CAST(ssw_q AS DOUBLE) /
       |    CAST(n - k AS DOUBLE))) AS BIGINT) AS f_micro
       |FROM ag, tot""".stripMargin

  private val sqlAnovaF = sqlAnova(
    """SELECT o_orderpriority AS g,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
      |  FROM orders""".stripMargin)

  private val sqlLevene = sqlAnova(
    """SELECT li.g, abs(li.c - m.mj) AS v FROM
      |    (SELECT l_returnflag AS g,
      |       CAST(round(l_extendedprice * 100) AS BIGINT) AS c
      |     FROM lineitem) li
      |    JOIN (SELECT l_returnflag AS g,
      |       sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
      |         // count(*)::BIGINT AS mj
      |     FROM lineitem GROUP BY l_returnflag) m USING (g)""".stripMargin)

  private val sqlJarqueBera =
    """WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
      |    AS c FROM lineitem),
      |m AS (SELECT sum(c)::BIGINT // count(*)::BIGINT AS mc FROM c),
      |d AS (SELECT mc, CAST(c - mc AS HUGEINT) AS d
      |  FROM c CROSS JOIN m),
      |s AS (SELECT mc, count(*)::BIGINT AS n, sum(d * d) AS s2,
      |    sum(d * d * d) AS s3, sum(d * d * d * d) AS s4
      |  FROM d GROUP BY mc)
      |SELECT n AS n_rows, mc AS mean_cents,
      |  CAST(round(1000000.0 * (CAST(s3 AS DOUBLE) /
      |    CAST(n AS DOUBLE)) / pow(CAST(s2 AS DOUBLE) /
      |    CAST(n AS DOUBLE), 1.5)) AS BIGINT) AS skew_micro,
      |  CAST(round(1000000.0 * ((CAST(s4 AS DOUBLE) /
      |    CAST(n AS DOUBLE)) / pow(CAST(s2 AS DOUBLE) /
      |    CAST(n AS DOUBLE), 2) - 3.0)) AS BIGINT) AS exkurt_micro,
      |  CAST(round(1000000.0 * CAST(n AS DOUBLE) / 6.0 *
      |    (pow((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)) /
      |    pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 1.5), 2) +
      |    pow((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)) /
      |    pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 2) - 3.0, 2)
      |    / 4.0)) AS BIGINT) AS jb_micro
      |FROM s""".stripMargin

  private val sqlCuped = {
    val hArm = sqlHash60("'ab|' || user_id")
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tm,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'purchase' AND value > 0),
       |mid AS (SELECT (min(tm) + max(tm)) // 2 AS mid FROM ev),
       |usr AS (SELECT user_id,
       |    sum(CASE WHEN tm <= mid THEN cents ELSE 0 END)::BIGINT AS pre,
       |    sum(CASE WHEN tm > mid THEN cents ELSE 0 END)::BIGINT AS post,
       |    ($hArm % 2) AS arm
       |  FROM ev CROSS JOIN mid GROUP BY user_id),
       |st AS (SELECT count(*)::BIGINT AS n, sum(pre)::BIGINT AS sp,
       |    sum(post)::BIGINT AS so,
       |    sum(CAST(pre AS HUGEINT) * CAST(pre AS HUGEINT)) AS spp,
       |    sum(CAST(pre AS HUGEINT) * CAST(post AS HUGEINT)) AS spo
       |  FROM usr),
       |th AS (SELECT n,
       |    CAST(round(1000000.0 * (CAST(n AS DOUBLE) *
       |      CAST(spo AS DOUBLE) - CAST(sp AS DOUBLE) *
       |      CAST(so AS DOUBLE)) / (CAST(n AS DOUBLE) *
       |      CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) *
       |      CAST(sp AS DOUBLE))) AS BIGINT) AS theta_micro,
       |    CAST(1000000 * sp // n AS BIGINT) AS pre_mean_micro
       |  FROM st),
       |adj AS (SELECT arm, theta_micro,
       |    1000000 * post AS post_u,
       |    1000000 * post - theta_micro *
       |      (1000000 * pre - pre_mean_micro) // 1000000 AS adj_u
       |  FROM usr CROSS JOIN th),
       |fin AS (SELECT theta_micro, count(*)::BIGINT AS n_users,
       |    sum(CASE WHEN arm = 0 THEN post_u ELSE 0 END)::BIGINT AS p0,
       |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
       |    sum(CASE WHEN arm = 1 THEN post_u ELSE 0 END)::BIGINT AS p1,
       |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
       |    sum(CASE WHEN arm = 0 THEN adj_u ELSE 0 END)::BIGINT AS a0,
       |    sum(CASE WHEN arm = 1 THEN adj_u ELSE 0 END)::BIGINT AS a1,
       |    sum(CAST(post_u AS HUGEINT) * CAST(post_u AS HUGEINT)) AS qp,
       |    sum(CAST(post_u AS HUGEINT)) AS tp,
       |    sum(CAST(adj_u AS HUGEINT) * CAST(adj_u AS HUGEINT)) AS qa,
       |    sum(CAST(adj_u AS HUGEINT)) AS ta
       |  FROM adj GROUP BY theta_micro)
       |SELECT n_users, theta_micro,
       |  CAST(p0 // greatest(n0, 1) - p1 // greatest(n1, 1) AS BIGINT)
       |    AS diff_raw_micro,
       |  CAST(a0 // greatest(n0, 1) - a1 // greatest(n1, 1) AS BIGINT)
       |    AS diff_cuped_micro,
       |  CAST(round(1000000.0 * (1.0 - (CAST(n_users AS DOUBLE) *
       |    CAST(qa AS DOUBLE) - CAST(ta AS DOUBLE) *
       |    CAST(ta AS DOUBLE)) / (CAST(n_users AS DOUBLE) *
       |    CAST(qp AS DOUBLE) - CAST(tp AS DOUBLE) *
       |    CAST(tp AS DOUBLE)))) AS BIGINT) AS var_reduction_micro
       |FROM fin""".stripMargin
  }

  private val sqlMarkovPredict =
    """WITH tr AS (SELECT prev, event_type AS cur FROM
      |    (SELECT event_type, lag(event_type) OVER
      |       (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |     FROM events)
      |  WHERE prev IS NOT NULL),
      |cnt AS (SELECT prev, cur, count(*)::BIGINT AS n_pc FROM tr
      |  GROUP BY prev, cur),
      |pred AS (SELECT prev, cur AS pred FROM (SELECT prev, cur,
      |    row_number() OVER (PARTITION BY prev
      |      ORDER BY n_pc DESC, cur) AS rn FROM cnt) WHERE rn = 1)
      |SELECT tr.prev AS prev_type, count(*)::BIGINT AS n_trans,
      |  sum(CASE WHEN tr.cur = pred.pred THEN 1 ELSE 0 END)::BIGINT
      |    AS n_correct,
      |  CAST(1000000 * sum(CASE WHEN tr.cur = pred.pred THEN 1
      |    ELSE 0 END)::BIGINT // count(*)::BIGINT AS BIGINT)
      |    AS acc_micro
      |FROM tr JOIN pred ON tr.prev = pred.prev
      |GROUP BY tr.prev""".stripMargin

  private val sqlConformal =
    """WITH o AS (SELECT o_orderpriority AS g,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    o_orderkey % 3 AS split FROM orders),
      |m AS (SELECT g, CAST(1000000 * sum(cents)::BIGINT //
      |    count(*)::BIGINT AS BIGINT) AS mu
      |  FROM o WHERE split = 0 GROUP BY g),
      |qh AS (SELECT o.g, count(*)::BIGINT AS n_cal,
      |    CAST(round(quantile_cont(abs(1000000 * cents - mu), 0.9))
      |      AS BIGINT) AS q_hat_micro
      |  FROM o JOIN m ON o.g = m.g WHERE split = 1 GROUP BY o.g),
      |t AS (SELECT o.g, abs(1000000 * cents - mu) AS res
      |  FROM o JOIN m ON o.g = m.g WHERE split = 2)
      |SELECT t.g AS priority, qh.n_cal, qh.q_hat_micro,
      |  count(*)::BIGINT AS n_test,
      |  sum(CASE WHEN t.res <= qh.q_hat_micro THEN 1 ELSE 0 END)::BIGINT
      |    AS n_covered,
      |  CAST(1000000 * sum(CASE WHEN t.res <= qh.q_hat_micro THEN 1
      |    ELSE 0 END)::BIGINT // count(*)::BIGINT AS BIGINT)
      |    AS coverage_micro
      |FROM t JOIN qh ON t.g = qh.g
      |GROUP BY t.g, qh.n_cal, qh.q_hat_micro""".stripMargin

  private val sqlGraphBase =
    """io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |  FROM lineitem),
      |e AS (SELECT DISTINCT x.p AS u, y.p AS v FROM io x
      |  JOIN io y ON x.o = y.o AND x.p < y.p),
      |deg AS (SELECT nid, count(*)::BIGINT AS d FROM
      |  (SELECT u AS nid FROM e UNION ALL SELECT v FROM e)
      |  GROUP BY nid)""".stripMargin

  private val sqlLocalClustering =
    s"""WITH $sqlGraphBase,
       |ori AS (SELECT
       |    CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.u < e.v)
       |      THEN e.u ELSE e.v END AS a,
       |    CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.u < e.v)
       |      THEN e.v ELSE e.u END AS b
       |  FROM e JOIN deg d1 ON e.u = d1.nid
       |    JOIN deg d2 ON e.v = d2.nid),
       |adj AS (SELECT a, list_sort(list(b)) AS nbrs FROM ori
       |  GROUP BY a),
       |x AS (SELECT a, nbrs AS na, unnest(nbrs) AS b FROM adj),
       |tr AS (SELECT x.a, x.b,
       |    unnest(list_intersect(x.na, j.nbrs)) AS c
       |  FROM x JOIN adj j ON x.b = j.a),
       |pn AS (SELECT nid, count(*)::BIGINT AS n_tri FROM
       |  (SELECT a AS nid FROM tr UNION ALL SELECT b FROM tr
       |   UNION ALL SELECT c FROM tr) GROUP BY nid)
       |SELECT deg.nid, deg.d AS degree,
       |  coalesce(pn.n_tri, 0)::BIGINT AS n_tri,
       |  CAST(2000000 * coalesce(pn.n_tri, 0) //
       |    (deg.d * (deg.d - 1)) AS BIGINT) AS lcc_micro
       |FROM deg LEFT JOIN pn USING (nid) WHERE deg.d >= 2""".stripMargin

  private val sqlAssortativity =
    s"""WITH $sqlGraphBase,
       |t AS (SELECT d1.d AS du, d2.d AS dv FROM e
       |  JOIN deg d1 ON e.u = d1.nid JOIN deg d2 ON e.v = d2.nid),
       |bo AS (SELECT du, dv FROM t UNION ALL SELECT dv, du FROM t),
       |s AS (SELECT count(*)::BIGINT AS m2, sum(du)::BIGINT AS sx,
       |    sum(du * du)::BIGINT AS sxx, sum(du * dv)::BIGINT AS sxy
       |  FROM bo)
       |SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
       |  CAST(round(1000000.0 * (CAST(m2 AS DOUBLE) *
       |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) *
       |    CAST(sx AS DOUBLE)) / (CAST(m2 AS DOUBLE) *
       |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
       |    CAST(sx AS DOUBLE))) AS BIGINT) AS r_micro
       |FROM s""".stripMargin

  private val sqlFriedman =
    """WITH cell AS (SELECT c_nationkey AS blk, o_orderpriority AS trt,
      |    CAST(1000000 * sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |      ::BIGINT // count(*)::BIGINT AS BIGINT) AS m_u
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY blk, trt),
      |k AS (SELECT count(DISTINCT trt)::BIGINT AS k FROM cell),
      |fullb AS (SELECT blk, trt, m_u FROM (SELECT *,
      |    count(*) OVER (PARTITION BY blk) AS ntrt
      |  FROM cell) CROSS JOIN k WHERE ntrt = k),
      |ranked AS (SELECT trt,
      |    (rank() OVER (PARTITION BY blk ORDER BY m_u) * 2 +
      |     count(*) OVER (PARTITION BY blk, m_u) - 1) * 500 AS r_milli
      |  FROM fullb),
      |rj AS (SELECT trt, sum(r_milli)::BIGINT AS sr,
      |    count(*)::BIGINT AS nb FROM ranked GROUP BY trt),
      |ag AS (SELECT sum(sr * sr)::BIGINT AS srr, max(nb)::BIGINT AS n
      |  FROM rj)
      |SELECT n AS n_blocks, k AS k_treatments,
      |  CAST(round(1000000.0 * (12.0 * (CAST(srr AS DOUBLE) /
      |    1000000.0) / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE) *
      |    CAST(k + 1 AS DOUBLE)) - 3.0 * CAST(n AS DOUBLE) *
      |    CAST(k + 1 AS DOUBLE))) AS BIGINT) AS q_micro
      |FROM ag CROSS JOIN k""".stripMargin

  private val sqlFdrScreen = {
    val h = sqlHash60("'fdr|' || b || '|' || doc_id")
    s"""WITH d AS (SELECT doc_id, source,
       |    CASE WHEN n_chars < 200 THEN 1 ELSE 0 END::BIGINT AS def
       |  FROM documents),
       |tot AS (SELECT sum(def)::BIGINT AS kk, count(*)::BIGINT AS nn
       |  FROM d),
       |obs AS (SELECT source,
       |    CAST(1000000 * sum(def)::BIGINT // greatest(count(*), 1)
       |      - 1000000 * (kk - sum(def)::BIGINT) //
       |        greatest(nn - count(*), 1) AS BIGINT) AS diff_obs
       |  FROM d CROSS JOIN tot GROUP BY source, kk, nn),
       |pg AS (SELECT t.b, ($h % 20) AS ps, def
       |  FROM d CROSS JOIN UNNEST(range(0, 256)) AS t(b)),
       |pk AS (SELECT b, ps, sum(def)::BIGINT AS k,
       |    count(*)::BIGINT AS n FROM pg GROUP BY b, ps),
       |pool AS (SELECT CAST(1000000 * k // greatest(n, 1)
       |    - 1000000 * (kk - k) // greatest(nn - n, 1) AS BIGINT)
       |    AS diff_b FROM pk CROSS JOIN tot),
       |pv AS (SELECT source, diff_obs,
       |    CAST((1 + sum(CASE WHEN abs(diff_b) >= abs(diff_obs)
       |      THEN 1 ELSE 0 END)) * 1000000 // 5121 AS BIGINT) AS p_micro
       |  FROM obs CROSS JOIN pool GROUP BY source, diff_obs),
       |r AS (SELECT *, row_number() OVER (ORDER BY p_micro, source)
       |    AS bh_rank FROM pv),
       |im AS (SELECT max(CASE WHEN p_micro <= bh_rank * 5000
       |    THEN bh_rank END) AS imax FROM r)
       |SELECT source, diff_obs AS obs_diff_micro, p_micro,
       |  CAST(bh_rank AS BIGINT) AS bh_rank,
       |  (bh_rank <= coalesce(imax, 0)) AS rejected
       |FROM r CROSS JOIN im""".stripMargin
  }

  private val sqlIntervalMerge =
    """WITH iv AS (SELECT user_id, epoch_us(ts) AS st,
      |    epoch_us(ts) + 300000000 AS en, event_id FROM events),
      |m AS (SELECT user_id, st, en, event_id,
      |    max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS prev_max_en
      |  FROM iv),
      |b AS (SELECT user_id, st, en, event_id,
      |    CASE WHEN prev_max_en IS NULL OR st > prev_max_en
      |      THEN 1 ELSE 0 END AS brk FROM m),
      |g AS (SELECT user_id, st, en,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY st, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM b),
      |mg AS (SELECT user_id, grp, count(*)::BIGINT AS n_events,
      |    min(st) AS gst, max(en) AS gen FROM g GROUP BY user_id, grp)
      |SELECT user_id, sum(n_events)::BIGINT AS n_events,
      |  count(*)::BIGINT AS n_intervals,
      |  sum(gen - gst)::BIGINT AS covered_us,
      |  max(gen - gst)::BIGINT AS longest_us
      |FROM mg GROUP BY user_id""".stripMargin

  private val sqlFairness =
    """WITH sc AS (SELECT c_mktsegment AS segment,
      |    CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END::BIGINT AS pred,
      |    CASE WHEN o.c2 IS NOT NULL THEN 1 ELSE 0 END::BIGINT AS y
      |  FROM customer LEFT JOIN (SELECT DISTINCT o_custkey AS c2
      |      FROM orders WHERE o_totalprice > 450000.0) o
      |    ON c_custkey = o.c2),
      |g AS (SELECT segment, count(*)::BIGINT AS n,
      |    sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)::BIGINT
      |      AS tp,
      |    sum(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END)::BIGINT
      |      AS fp,
      |    sum(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END)::BIGINT
      |      AS fn,
      |    sum(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END)::BIGINT
      |      AS tn
      |  FROM sc GROUP BY segment),
      |r AS (SELECT segment, n,
      |    CAST(1000000 * tp // greatest(tp + fn, 1) AS BIGINT)
      |      AS tpr_micro,
      |    CAST(1000000 * fp // greatest(fp + tn, 1) AS BIGINT)
      |      AS fpr_micro,
      |    CAST(1000000 * (tp + fp) // n AS BIGINT) AS dp_micro
      |  FROM g),
      |gap AS (SELECT max(tpr_micro) - min(tpr_micro) AS tpr_gap_micro
      |  FROM r)
      |SELECT r.segment, r.n, r.tpr_micro, r.fpr_micro, r.dp_micro,
      |  gap.tpr_gap_micro
      |FROM r CROSS JOIN gap""".stripMargin

  private val sqlOffpolicyIps = {
    val h = sqlHash60("'ctx|' || user_id")
    s"""WITH l AS (SELECT ($h % 4) AS ctx, event_type AS a,
       |    CAST(coalesce(round(value * 100), 0) AS BIGINT) AS r
       |  FROM events),
       |rates AS (SELECT ctx, a, count(*)::BIGINT AS n_ca FROM l
       |  GROUP BY ctx, a),
       |nc AS (SELECT ctx, sum(n_ca)::BIGINT AS n_ctx FROM rates
       |  GROUP BY ctx),
       |prop AS (SELECT ctx, a,
       |    CAST(1000000 * n_ca // n_ctx AS BIGINT) AS p_micro
       |  FROM rates JOIN nc USING (ctx)),
       |pi AS (SELECT ctx, a AS pi_action FROM (SELECT ctx, a,
       |    row_number() OVER (PARTITION BY ctx
       |      ORDER BY n_ca DESC, a) AS rn FROM rates) WHERE rn = 1)
       |SELECT l.ctx, pi.pi_action, count(*)::BIGINT AS n,
       |  CAST(sum(CASE WHEN l.a = pi.pi_action
       |      THEN r * 1000000000000 // p_micro ELSE 0 END)::BIGINT
       |    // count(*)::BIGINT AS BIGINT) AS ips_value_micro,
       |  CAST(1000000 * sum(r)::BIGINT // count(*)::BIGINT AS BIGINT)
       |    AS mean_logged_micro
       |FROM l JOIN prop ON l.ctx = prop.ctx AND l.a = prop.a
       |JOIN pi ON l.ctx = pi.ctx
       |GROUP BY l.ctx, pi.pi_action""".stripMargin
  }

  private val sqlSrm = {
    val h = sqlHash60("'ab|' || user_id")
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |a AS (SELECT ($h % 2) AS arm FROM u),
       |c AS (SELECT
       |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
       |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
       |  FROM a)
       |SELECT n0, n1,
       |  CAST(1000000 * n0 // (n0 + n1) AS BIGINT) AS ratio_micro,
       |  CAST(1000000 * (n0 - n1) * (n0 - n1) // (n0 + n1) AS BIGINT)
       |    AS chi2_micro
       |FROM c""".stripMargin
  }

  private val sqlDiffInDiff = {
    val h = sqlHash60("'ab|' || user_id")
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tm,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'purchase' AND value > 0),
       |mid AS (SELECT (min(tm) + max(tm)) // 2 AS mid FROM ev),
       |cells AS (SELECT ($h % 2) AS arm,
       |    CASE WHEN tm <= mid THEN 0 ELSE 1 END AS post,
       |    CAST(1000000 * sum(cents)::BIGINT // count(*)::BIGINT
       |      AS BIGINT) AS m
       |  FROM ev CROSS JOIN mid GROUP BY arm, post)
       |SELECT
       |  max(CASE WHEN arm = 0 AND post = 0 THEN m END)
       |    AS ctl_pre_micro,
       |  max(CASE WHEN arm = 0 AND post = 1 THEN m END)
       |    AS ctl_post_micro,
       |  max(CASE WHEN arm = 1 AND post = 0 THEN m END)
       |    AS trt_pre_micro,
       |  max(CASE WHEN arm = 1 AND post = 1 THEN m END)
       |    AS trt_post_micro,
       |  (max(CASE WHEN arm = 1 AND post = 1 THEN m END)
       |   - max(CASE WHEN arm = 1 AND post = 0 THEN m END))
       |  - (max(CASE WHEN arm = 0 AND post = 1 THEN m END)
       |   - max(CASE WHEN arm = 0 AND post = 0 THEN m END))
       |    AS did_micro
       |FROM cells""".stripMargin
  }

  private val sqlSimpson = {
    val rExpr =
      """CAST(round(1000000.0 * (CAST(n AS DOUBLE) *
        | CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) *
        | CAST(sy AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) *
        | CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
        | CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) *
        | CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) *
        | CAST(sy AS DOUBLE)))) AS BIGINT)""".stripMargin
    s"""WITH base AS (SELECT l_returnflag AS g,
       |    CAST(round(l_discount * 1000) AS BIGINT) AS x,
       |    CAST(l_quantity AS BIGINT) AS y FROM lineitem),
       |per AS (SELECT g, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
       |    sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
       |    sum(x * y)::BIGINT AS sxy, sum(y * y)::BIGINT AS syy
       |  FROM base GROUP BY g),
       |perr AS (SELECT g, n, $rExpr AS r_micro FROM per),
       |po AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
       |    sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
       |    sum(x * y)::BIGINT AS sxy, sum(y * y)::BIGINT AS syy
       |  FROM base),
       |por AS (SELECT $rExpr AS pooled_r_micro FROM po)
       |SELECT g AS segment, n, r_micro, pooled_r_micro,
       |  (sign(r_micro) <> sign(pooled_r_micro)) AS sign_flipped
       |FROM perr CROSS JOIN por""".stripMargin
  }

  private val sqlBm25Sweep = {
    val terms = Seq("spark", "query", "hash")
    val dfs = terms.map(t =>
      s"sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END)" +
        s" AS df_$t").mkString(", ")
    val tfs = terms.map(t =>
      s"len(list_filter(toks, x -> x = '$t'))::BIGINT AS tf_$t")
      .mkString(",\n  ")
    // interpolate the COMPUTED doubles (shortest round-trip repr) so
    // DuckDB parses exactly the value Spark's lit() carries
    def score(k1: Double, b: Double) = terms.map(t =>
      s"(tf_$t * ${k1 + 1.0}) / (tf_$t + $k1 * " +
        s"(${1.0 - b} + $b * dl / avgdl))" +
        s" * ln((n - df_$t + 0.5) / (df_$t + 0.5) + 1.0)")
      .mkString(" + ")
    def topCte(tag: String, k1: Double, b: Double) =
      s"""top_$tag AS (SELECT doc_id FROM (SELECT doc_id,
         |    round(${score(k1, b)}, 6) AS bm25 FROM tf, stats
         |  WHERE round(${score(k1, b)}, 6) > 0.0
         |  ORDER BY bm25 DESC, doc_id ASC LIMIT 10))""".stripMargin
    val rows = Seq(("a", 900, 400), ("d", 1200, 750), ("c", 2000, 1000))
      .map { case (tag, k1m, bm) =>
        s"""SELECT ${k1m}::BIGINT AS k1_milli, ${bm}::BIGINT AS b_milli,
           |  (SELECT count(*)::BIGINT FROM top_$tag x
           |    JOIN top_d y ON x.doc_id = y.doc_id)
           |    AS overlap_with_default""".stripMargin
      }.mkString("\nUNION ALL\n")
    s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS toks
       |  FROM documents),
       |stats AS (SELECT count(*)::BIGINT AS n,
       |  sum(len(toks)) / count(*) AS avgdl, $dfs FROM tk),
       |tf AS (SELECT doc_id, len(toks)::BIGINT AS dl,
       |  $tfs
       |  FROM tk),
       |${topCte("a", 0.9, 0.4)},
       |${topCte("d", 1.2, 0.75)},
       |${topCte("c", 2.0, 1.0)}
       |$rows""".stripMargin
  }

  private val sqlProfileDrift = {
    val metrics = Seq("n_rows", "mean_cents", "n_prio", "n_status",
      "day_span")
    val rows = metrics.map { m =>
      s"""SELECT '$m' AS metric, a.$m AS v_even, b.$m AS v_odd,
         |  CAST(1000000 * abs(a.$m - b.$m) //
         |    greatest(abs(a.$m), 1) AS BIGINT) AS drift_micro
         |FROM a, b""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH h AS (SELECT o_orderkey % 2 AS half,
       |    count(*)::BIGINT AS n_rows,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
       |      // count(*)::BIGINT AS BIGINT) AS mean_cents,
       |    count(DISTINCT o_orderpriority)::BIGINT AS n_prio,
       |    count(DISTINCT o_orderstatus)::BIGINT AS n_status,
       |    CAST(date_diff('day', min(CAST(o_orderdate AS DATE)),
       |      max(CAST(o_orderdate AS DATE))) AS BIGINT) AS day_span
       |  FROM orders GROUP BY half),
       |a AS (SELECT * FROM h WHERE half = 0),
       |b AS (SELECT * FROM h WHERE half = 1)
       |$rows""".stripMargin
  }

  private val sqlPlattScaling = sqlLogregOver(
    """SELECT y * 1000000 AS y,
      |    CAST(1000000 * (cents - lo) // greatest(hi - lo, 1)
      |      AS BIGINT) AS x1, 0::BIGINT AS x2
      |  FROM (SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
      |      CASE WHEN o.c2 IS NOT NULL THEN 1 ELSE 0 END::BIGINT AS y
      |    FROM customer LEFT JOIN (SELECT DISTINCT o_custkey AS c2
      |        FROM orders WHERE o_totalprice > 450000.0) o
      |      ON c_custkey = o.c2) s
      |  CROSS JOIN (SELECT min(CAST(round(c_acctbal * 100) AS BIGINT))
      |      AS lo, max(CAST(round(c_acctbal * 100) AS BIGINT)) AS hi
      |    FROM customer) bb""".stripMargin)

  private val sqlVocabCoverage = {
    val toks = sqlTokens("text")
    val rows = Seq(10, 20, 50).map { k =>
      s"""SELECT ${k}::BIGINT AS k, tot.vocab_size,
         |  (SELECT sum(c)::BIGINT FROM wf WHERE rnk <= $k)
         |    AS covered_tokens,
         |  tot.total_tokens,
         |  CAST(1000000 * (SELECT sum(c)::BIGINT FROM wf
         |    WHERE rnk <= $k) // tot.total_tokens AS BIGINT)
         |    AS coverage_micro
         |FROM tot""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH w0 AS (SELECT unnest($toks) AS w FROM documents),
       |wf AS (SELECT w, count(*)::BIGINT AS c,
       |    row_number() OVER (ORDER BY count(*) DESC, w) AS rnk
       |  FROM w0 GROUP BY w),
       |tot AS (SELECT sum(c)::BIGINT AS total_tokens,
       |    count(*)::BIGINT AS vocab_size FROM wf)
       |$rows""".stripMargin
  }

  private val sqlTermBurstiness = {
    val toks = sqlTokens("text")
    s"""WITH wd AS (SELECT w, doc_id, count(*)::BIGINT AS c FROM
       |    (SELECT doc_id, unnest($toks) AS w FROM documents)
       |  GROUP BY w, doc_id),
       |a AS (SELECT w AS term, count(*)::BIGINT AS df,
       |    sum(c)::BIGINT AS tot, sum(c * c)::BIGINT AS ss
       |  FROM wd GROUP BY w)
       |SELECT term, df, tot,
       |  CAST(round(1000000.0 * ((CAST(ss AS DOUBLE) /
       |    CAST(df AS DOUBLE)) - pow(CAST(tot AS DOUBLE) /
       |    CAST(df AS DOUBLE), 2)) / (CAST(tot AS DOUBLE) /
       |    CAST(df AS DOUBLE))) AS BIGINT) AS fano_micro
       |FROM a WHERE df >= 20
       |ORDER BY fano_micro DESC, term ASC LIMIT 20""".stripMargin
  }

  private val sqlNegbin =
    """WITH cu AS (SELECT event_type, user_id, count(*)::BIGINT AS c
      |  FROM events GROUP BY event_type, user_id),
      |a AS (SELECT event_type, count(*)::BIGINT AS n_users,
      |    sum(c)::BIGINT AS sc, sum(c * c)::BIGINT AS scc
      |  FROM cu GROUP BY event_type),
      |b AS (SELECT event_type, n_users,
      |    CAST(1000 * sc // n_users AS BIGINT) AS mean_milli,
      |    CAST(round(1000.0 * (CAST(n_users AS DOUBLE) *
      |      CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) *
      |      CAST(sc AS DOUBLE)) / (CAST(n_users AS DOUBLE) *
      |      CAST(n_users - 1 AS DOUBLE))) AS BIGINT) AS var_milli
      |  FROM a)
      |SELECT event_type, n_users, mean_milli, var_milli,
      |  CASE WHEN var_milli > mean_milli THEN
      |    CAST(round(1000000.0 * CAST(mean_milli AS DOUBLE) *
      |      CAST(mean_milli AS DOUBLE) / (1000.0 *
      |      CAST(var_milli - mean_milli AS DOUBLE))) AS BIGINT)
      |    ELSE NULL END AS r_micro,
      |  CASE WHEN var_milli > mean_milli THEN
      |    CAST(round(1000000.0 * CAST(mean_milli AS DOUBLE) /
      |      CAST(var_milli AS DOUBLE)) AS BIGINT)
      |    ELSE NULL END AS p_micro
      |FROM b""".stripMargin

  private val sqlFrontCoding = {
    val toks = sqlTokens("text")
    s"""WITH v AS (SELECT DISTINCT unnest($toks) AS w FROM documents),
       |l AS (SELECT w, lag(w, 1) OVER (ORDER BY w) AS pw FROM v),
       |c AS (SELECT w, CASE WHEN pw IS NULL THEN 0 ELSE
       |    len(list_filter(range(1, least(length(w), length(pw)) + 1),
       |      i -> substr(w, 1, CAST(i AS INT)) =
       |           substr(pw, 1, CAST(i AS INT))))
       |  END::BIGINT AS lcp FROM l)
       |SELECT count(*)::BIGINT AS vocab_size,
       |  sum(length(w))::BIGINT AS total_bytes,
       |  sum(lcp)::BIGINT AS saved_bytes,
       |  CAST(1000000 * sum(lcp)::BIGINT // sum(length(w))::BIGINT
       |    AS BIGINT) AS saving_micro
       |FROM c""".stripMargin
  }

  private val sqlSeasonalStrength =
    """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
      |      AS rev
      |  FROM orders GROUP BY day),
      |det AS (SELECT day, rev - (sum(rev) OVER (ORDER BY day ROWS
      |    BETWEEN 3 PRECEDING AND 3 FOLLOWING) // count(rev) OVER
      |    (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
      |    AS dt,
      |    dayofweek(day) + 1 AS dow
      |  FROM d),
      |dw AS (SELECT dow, sum(dt)::BIGINT // count(*)::BIGINT AS sdow
      |  FROM det GROUP BY dow),
      |r AS (SELECT dt, dt - sdow AS rs FROM det JOIN dw USING (dow)),
      |a AS (SELECT count(*)::BIGINT AS n, sum(dt)::BIGINT AS sd,
      |    sum(CAST(dt AS HUGEINT) * CAST(dt AS HUGEINT)) AS sdd,
      |    sum(rs)::BIGINT AS sr,
      |    sum(CAST(rs AS HUGEINT) * CAST(rs AS HUGEINT)) AS srr
      |  FROM r)
      |SELECT n,
      |  CAST(round(1000000.0 * greatest(0.0, 1.0 -
      |    (CAST(n AS DOUBLE) * CAST(srr AS DOUBLE) -
      |    CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)) /
      |    (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) -
      |    CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)))) AS BIGINT)
      |    AS seasonal_strength_micro
      |FROM a""".stripMargin

  private val sqlDedupPipeline = {
    import graft.functions.Hashing
    val lanes = (0 until TrainingData.NumHashes)
      .map(i => s"min(${Hashing.sqlLane("h31", i)}) AS h$i")
      .mkString(",\n  ")
    val r = TrainingData.RowsPerBand
    val numBands = TrainingData.NumHashes / r
    val bandSelects = (0 until numBands).map { b =>
      val parts = (0 until r)
        .map(j => s"CAST(h${b * r + j} AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, $b AS band, " +
        s"${sqlHash60(s"concat_ws(',', $parts)")} AS band_hash FROM sig"
    }.mkString("\n  UNION ALL ")
    val jac =
      """(CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE) /
        | (CAST(len(sa.sh_set) + len(sb.sh_set) AS DOUBLE)
        |  - CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)))"""
        .stripMargin
    val toks = sqlTokens("text")
    s"""WITH ex AS (SELECT doc_id, (row_number() OVER (PARTITION BY
       |    md5(text) ORDER BY doc_id) > 1) AS is_exact_dup
       |  FROM documents),
       |sh AS (SELECT doc_id,
       |    ${graft.functions.TextOps.sqlShingles("text", 3)} AS sh_set
       |  FROM documents),
       |exd AS (SELECT doc_id, (${sqlHash60("s")} & ${Hashing.Mask31})
       |    AS h31
       |  FROM (SELECT doc_id, unnest(sh_set) AS s FROM sh) u),
       |sig AS (SELECT doc_id, $lanes FROM exd GROUP BY doc_id),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band
       |    AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |near AS (SELECT DISTINCT doc_b AS doc_id FROM cand
       |  JOIN sh sa ON cand.doc_a = sa.doc_id
       |  JOIN sh sb ON cand.doc_b = sb.doc_id
       |  WHERE $jac >= 0.5),
       |t AS (SELECT doc_id, toks, len(toks)::BIGINT AS n_toks
       |  FROM (SELECT doc_id, $toks AS toks FROM documents)
       |  WHERE len(toks) > 0),
       |chk AS (SELECT doc_id, n_toks, CAST(u.i AS BIGINT) AS ci,
       |    array_to_string(toks[CAST(u.i * 8 + 1 AS INT):
       |      CAST(u.i * 8 + 8 AS INT)], ' ') AS chunk,
       |    least(8, n_toks - u.i * 8)::BIGINT AS clen
       |  FROM t, UNNEST(range(0, (n_toks + 7) // 8)) AS u(i)),
       |chr AS (SELECT doc_id, n_toks,
       |    sum(CASE WHEN rn > 1 THEN clen ELSE 0 END)::BIGINT
       |      AS removed
       |  FROM (SELECT doc_id, n_toks, clen, row_number() OVER
       |      (PARTITION BY chunk ORDER BY doc_id, ci) AS rn FROM chk)
       |  GROUP BY doc_id, n_toks),
       |j AS (SELECT d.source, ex.is_exact_dup,
       |    (near.doc_id IS NOT NULL) AS is_near, chr.n_toks,
       |    chr.removed
       |  FROM documents d
       |  JOIN ex ON d.doc_id = ex.doc_id
       |  LEFT JOIN near ON d.doc_id = near.doc_id
       |  JOIN chr ON d.doc_id = chr.doc_id)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN is_exact_dup THEN 1 ELSE 0 END)::BIGINT
       |    AS n_exact_dup,
       |  sum(CASE WHEN NOT is_exact_dup AND is_near THEN 1 ELSE 0
       |    END)::BIGINT AS n_near_dup,
       |  sum(n_toks)::BIGINT AS tokens_total,
       |  sum(CASE WHEN NOT is_exact_dup AND NOT is_near
       |    THEN n_toks - removed ELSE 0 END)::BIGINT AS tokens_kept,
       |  CAST(1000000 * sum(CASE WHEN NOT is_exact_dup AND NOT
       |    is_near THEN n_toks - removed ELSE 0 END)::BIGINT //
       |    sum(n_toks)::BIGINT AS BIGINT) AS kept_micro
       |FROM j GROUP BY source""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q442_rff_mmd" -> sqlRffMmd,
    "q455_rbo_toplists" -> sqlRboToplists,
    "q440_weighted_median" -> sqlWeightedMedian,
    "q242_dsir_weights" -> sqlDsir,
    "q243_chunk_dedup" -> sqlChunkDedup,
    "q244_mcnemar" -> sqlMcnemar,
    "q245_matryoshka_eval" -> sqlMatryoshka,
    "q246_kendall_tau" -> sqlKendall,
    "q247_logreg_gd" -> sqlLogreg,
    "q248_wilson_ci" -> sqlWilson,
    "q249_permutation_test" -> sqlPermutation,
    "q250_centroid_drift" -> sqlCentroidDrift,
    "q251_hill_tail" -> sqlHill,
    "q252_knn_label_acc" -> sqlKnnAcc,
    "q253_anova_f" -> sqlAnovaF,
    "q254_levene_test" -> sqlLevene,
    "q255_jarque_bera" -> sqlJarqueBera,
    "q256_cuped" -> sqlCuped,
    "q257_markov_predict" -> sqlMarkovPredict,
    "q258_conformal_coverage" -> sqlConformal,
    "q259_local_clustering" -> sqlLocalClustering,
    "q260_degree_assortativity" -> sqlAssortativity,
    "q261_friedman" -> sqlFriedman,
    "q262_fdr_screen" -> sqlFdrScreen,
    "q263_quality_logreg" -> sqlQualityLogreg,
    "q264_lsh_tuning" -> sqlLshTuning,
    "q265_token_budget" -> sqlTokenBudget,
    "q266_embedding_norms" -> sqlEmbeddingNorms,
    "q267_interval_merge" -> sqlIntervalMerge,
    "q268_fairness_audit" -> sqlFairness,
    "q269_offpolicy_ips" -> sqlOffpolicyIps,
    "q270_srm_check" -> sqlSrm,
    "q271_diff_in_diff" -> sqlDiffInDiff,
    "q272_simpson_check" -> sqlSimpson,
    "q273_bm25_sweep" -> sqlBm25Sweep,
    "q274_profile_drift" -> sqlProfileDrift,
    "q275_platt_scaling" -> sqlPlattScaling,
    "q276_vocab_coverage" -> sqlVocabCoverage,
    "q277_term_burstiness" -> sqlTermBurstiness,
    "q297_toplist_stability" -> {
      def top(tag: String, par: Int) =
        s"""t$tag AS (SELECT l_partkey, row_number() OVER
           |    (ORDER BY rev DESC, l_partkey) AS rnk
           |  FROM (SELECT l_partkey,
           |      sum(CAST(round(l_extendedprice * 100) AS BIGINT))
           |        ::BIGINT AS rev
           |    FROM lineitem WHERE l_orderkey % 2 = $par
           |    GROUP BY l_partkey
           |    ORDER BY rev DESC, l_partkey LIMIT 20))""".stripMargin
      val rows = Seq(5, 10, 20).map { k =>
        s"""SELECT ${k}::BIGINT AS k,
           |  (SELECT count(*)::BIGINT FROM ta JOIN tb
           |    ON ta.l_partkey = tb.l_partkey
           |    WHERE ta.rnk <= $k AND tb.rnk <= $k) AS n_overlap,
           |  CAST(1000000 * (SELECT count(*)::BIGINT FROM ta JOIN tb
           |    ON ta.l_partkey = tb.l_partkey
           |    WHERE ta.rnk <= $k AND tb.rnk <= $k)
           |    // (2 * $k - (SELECT count(*)::BIGINT FROM ta JOIN tb
           |    ON ta.l_partkey = tb.l_partkey
           |    WHERE ta.rnk <= $k AND tb.rnk <= $k)) AS BIGINT)
           |    AS jaccard_micro""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${top("a", 0)},
         |${top("b", 1)}
         |$rows""".stripMargin
    },
    "q298_runs_test" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS rev
        |  FROM orders GROUP BY day),
        |s AS (SELECT day, CASE WHEN diff > 0 THEN 1 ELSE -1 END
        |    ::BIGINT AS sg
        |  FROM (SELECT day, rev - lag(rev, 1) OVER (ORDER BY day)
        |      AS diff FROM d)
        |  WHERE diff IS NOT NULL AND diff <> 0),
        |c AS (SELECT sg, CASE WHEN lag(sg, 1) OVER (ORDER BY day)
        |    IS NULL OR lag(sg, 1) OVER (ORDER BY day) <> sg
        |    THEN 1 ELSE 0 END::BIGINT AS chg FROM s),
        |a AS (SELECT
        |    sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END)::BIGINT AS n_up,
        |    sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_down,
        |    sum(chg)::BIGINT AS n_runs FROM c)
        |SELECT n_up, n_down, n_runs,
        |  CAST(round(1000000.0 * (CAST(n_runs AS DOUBLE) - (1.0 +
        |    2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE) /
        |    CAST(n_up + n_down AS DOUBLE))) / sqrt(2.0 *
        |    CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE) * (2.0 *
        |    CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE) -
        |    CAST(n_up + n_down AS DOUBLE)) / (CAST(n_up + n_down
        |    AS DOUBLE) * CAST(n_up + n_down AS DOUBLE) *
        |    CAST(n_up + n_down - 1 AS DOUBLE)))) AS BIGINT)
        |    AS z_micro
        |FROM a""".stripMargin,
    "q299_retention_halflife" ->
      """WITH um AS (SELECT DISTINCT user_id,
        |    CAST(ts AS DATE) AS d FROM events),
        |coh AS (SELECT user_id, min(d) AS d0 FROM um
        |  GROUP BY user_id),
        |act AS (SELECT DISTINCT um.user_id,
        |    date_diff('day', coh.d0, um.d)::BIGINT AS age
        |  FROM um JOIN coh ON um.user_id = coh.user_id),
        |sz AS (SELECT count(*)::BIGINT AS n_users FROM coh),
        |ret AS (SELECT age,
        |    CAST(round(1000000.0 * ln(CAST(count(*) AS DOUBLE) /
        |      CAST(n_users AS DOUBLE))) AS BIGINT) AS lr
        |  FROM act CROSS JOIN sz GROUP BY age, n_users
        |  HAVING count(*) > 0),
        |a AS (SELECT count(*)::BIGINT AS n_ages,
        |    sum(age)::BIGINT AS sx, sum(lr)::BIGINT AS sy,
        |    sum(age * age)::BIGINT AS sxx,
        |    sum(age * lr)::BIGINT AS sxy FROM ret),
        |b AS (SELECT n_ages,
        |    CAST(round((CAST(n_ages AS DOUBLE) *
        |      CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) *
        |      CAST(sy AS DOUBLE)) / (CAST(n_ages AS DOUBLE) *
        |      CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
        |      CAST(sx AS DOUBLE))) AS BIGINT) AS slope_micro
        |  FROM a)
        |SELECT n_ages, slope_micro,
        |  CASE WHEN slope_micro < 0 THEN CAST(round(
        |    CAST(693147180.55994531 AS DOUBLE) /
        |    CAST(-slope_micro AS DOUBLE))
        |    AS BIGINT) ELSE NULL END AS halflife_milli_days
        |FROM b""".stripMargin,
    "q300_corpus_scorecard" -> {
      val toks = sqlTokens("text")
      s"""SELECT 'exact_dup_share' AS check_name,
         |  CAST(1000000 * (n - nh) // n AS BIGINT) AS value_micro,
         |  (1000000 * (n - nh) // n < 300000) AS pass
         |FROM (SELECT count(*)::BIGINT AS n,
         |    count(DISTINCT md5(text))::BIGINT AS nh FROM documents)
         |UNION ALL
         |SELECT 'lang_entropy_ratio',
         |  CAST(round(1000000.0 * CAST(h AS DOUBLE) /
         |    (1000000.0 * ln(5.0))) AS BIGINT),
         |  (round(1000000.0 * CAST(h AS DOUBLE) /
         |    (1000000.0 * ln(5.0))) > 800000)
         |FROM (SELECT sum(term)::BIGINT AS h FROM (SELECT
         |    CAST(round(-1000000.0 * (CAST(c AS DOUBLE) /
         |      CAST(n AS DOUBLE)) * ln(CAST(c AS DOUBLE) /
         |      CAST(n AS DOUBLE))) AS BIGINT) AS term
         |  FROM (SELECT lang, count(*)::BIGINT AS c FROM documents
         |    GROUP BY lang) x CROSS JOIN
         |    (SELECT count(*)::BIGINT AS n FROM documents) t))
         |UNION ALL
         |SELECT 'short_doc_share',
         |  CAST(1000000 * k // n AS BIGINT),
         |  (1000000 * k // n < 400000)
         |FROM (SELECT sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0
         |    END)::BIGINT AS k, count(*)::BIGINT AS n FROM documents)
         |UNION ALL
         |SELECT 'hapax_share',
         |  CAST(1000000 * h1 // v AS BIGINT),
         |  (1000000 * h1 // v < 300000)
         |FROM (SELECT sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT
         |    AS h1, count(*)::BIGINT AS v FROM (SELECT w,
         |      count(*)::BIGINT AS c FROM (SELECT unnest($toks) AS w
         |      FROM documents) GROUP BY w))
         |UNION ALL
         |SELECT 'context128_loss_share',
         |  CAST(1000000 * lost // tot AS BIGINT),
         |  (1000000 * lost // tot < 100000)
         |FROM (SELECT sum(greatest(len($toks) - 128, 0))::BIGINT
         |    AS lost, sum(len($toks))::BIGINT AS tot
         |  FROM documents)""".stripMargin
    },
    "q293_negbin_moments" -> sqlNegbin,
    "q294_front_coding" -> sqlFrontCoding,
    "q295_seasonal_strength" -> sqlSeasonalStrength,
    "q296_dedup_pipeline" -> sqlDedupPipeline,
    "q289_bpe_merge_sweep" -> {
      val toks = sqlTokens("text")
      val pieces = Seq(2, 4, 8).map { r =>
        s"""pc_$r AS (SELECT word,
           |    len(string_split(sym, ' '))::BIGINT AS pieces
           |  FROM s$r),
           |t_$r AS (SELECT count(*)::BIGINT AS tw,
           |    sum(p.pieces)::BIGINT AS tp
           |  FROM corpus c JOIN pc_$r p USING (word))""".stripMargin
      }.mkString(",\n")
      val rows = Seq(2, 4, 8).map { r =>
        s"""SELECT ${r}::BIGINT AS merge_rounds, tw AS total_words,
           |  tp AS total_pieces,
           |  CAST(1000000 * tp // tw AS BIGINT) AS fertility_micro
           |FROM t_$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${Curation.sqlBpeRounds(8)},
         |corpus AS (SELECT unnest($toks) AS word FROM documents),
         |$pieces
         |$rows""".stripMargin
    },
    "q290_context_census" -> {
      val toks = sqlTokens("text")
      s"""WITH d AS (SELECT len($toks)::BIGINT AS nt FROM documents),
         |tot AS (SELECT sum(nt)::BIGINT AS total_tokens FROM d),
         |g AS (SELECT l.lim, count(*)::BIGINT AS n_docs,
         |    sum(CASE WHEN nt > l.lim THEN 1 ELSE 0 END)::BIGINT
         |      AS n_over,
         |    sum(greatest(nt - l.lim, 0))::BIGINT AS tokens_lost
         |  FROM d CROSS JOIN (SELECT unnest([32, 64, 128]) AS lim) l
         |  GROUP BY l.lim)
         |SELECT CAST(lim AS BIGINT) AS window_limit, n_docs, n_over,
         |  tokens_lost,
         |  CAST(1000000 * tokens_lost // total_tokens AS BIGINT)
         |    AS loss_micro
         |FROM g CROSS JOIN tot""".stripMargin
    },
    "q291_bigram_acceptance" -> {
      val toks = sqlTokens("text")
      s"""WITH t AS (SELECT source, $toks AS toks FROM documents),
         |bg AS (SELECT source, toks[i] AS w1, toks[i + 1] AS w2
         |  FROM (SELECT source, toks,
         |      CAST(unnest(range(1, len(toks)::BIGINT)) AS INT) AS i
         |    FROM t)),
         |cnt AS (SELECT w1, w2, count(*)::BIGINT AS c FROM bg
         |  GROUP BY w1, w2),
         |pred AS (SELECT w1, w2 AS pred FROM (SELECT w1, w2,
         |    row_number() OVER (PARTITION BY w1
         |      ORDER BY c DESC, w2) AS rn FROM cnt) WHERE rn = 1)
         |SELECT source, count(*)::BIGINT AS n_bigrams,
         |  sum(CASE WHEN bg.w2 = pred.pred THEN 1 ELSE 0 END)::BIGINT
         |    AS n_accepted,
         |  CAST(1000000 * sum(CASE WHEN bg.w2 = pred.pred THEN 1
         |    ELSE 0 END)::BIGINT // count(*)::BIGINT AS BIGINT)
         |    AS accept_micro
         |FROM bg JOIN pred ON bg.w1 = pred.w1
         |GROUP BY source""".stripMargin
    },
    "q292_knn_outliers" -> {
      val cos = sqlCosCols("e.embedding", "q.qv")
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv,
         |    label AS q_label FROM embeddings WHERE vec_id % 10 = 0),
         |c AS (SELECT q.q_id, q.q_label, e.vec_id,
         |    CAST(round(1000000.0 * ($cos)) AS BIGINT) AS cs_micro
         |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         |nn AS (SELECT q_id, q_label, cs_micro FROM (SELECT q_id,
         |    q_label, cs_micro, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cs_micro DESC, vec_id) AS rn FROM c)
         |  WHERE rn <= 5)
         |SELECT q_id, q_label,
         |  CAST(sum(cs_micro) // 5 AS BIGINT) AS mean5_cos_micro,
         |  CAST(1000000 - sum(cs_micro) // 5 AS BIGINT)
         |    AS outlier_micro
         |FROM nn GROUP BY q_id, q_label""".stripMargin
    },
    "q286_sax_motifs" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS rev
        |  FROM orders GROUP BY day),
        |d0 AS (SELECT min(day) AS day0 FROM d),
        |wk AS (SELECT date_diff('day', day0, day) // 7 AS week,
        |    CAST(1000000 * sum(rev)::BIGINT // count(*)::BIGINT
        |      AS BIGINT) AS wmean
        |  FROM d CROSS JOIN d0 GROUP BY week),
        |sym AS (SELECT week,
        |    ntile(3) OVER (ORDER BY wmean, week) - 1 AS sym FROM wk),
        |tri AS (SELECT concat(s2, s1, sym) AS motif FROM
        |  (SELECT sym, lag(sym, 1) OVER (ORDER BY week) AS s1,
        |     lag(sym, 2) OVER (ORDER BY week) AS s2 FROM sym)
        |  WHERE s2 IS NOT NULL),
        |tot AS (SELECT count(*)::BIGINT AS n_weeks FROM sym)
        |SELECT motif, count(*)::BIGINT AS n_occurrences, n_weeks
        |FROM tri CROSS JOIN tot GROUP BY motif, n_weeks
        |ORDER BY n_occurrences DESC, motif LIMIT 10""".stripMargin,
    "q287_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type AS t, user_id
        |  FROM events),
        |sizes AS (SELECT t, count(*)::BIGINT AS nu FROM tu GROUP BY t),
        |inter AS (SELECT a.t AS type_a, b.t AS type_b,
        |    count(*)::BIGINT AS n_inter
        |  FROM tu a JOIN tu b
        |    ON a.user_id = b.user_id AND a.t < b.t
        |  GROUP BY a.t, b.t)
        |SELECT type_a, type_b, sa.nu AS n_a, sb.nu AS n_b, n_inter,
        |  CAST(1000000 * n_inter // (sa.nu + sb.nu - n_inter)
        |    AS BIGINT) AS jaccard_micro
        |FROM inter JOIN sizes sa ON type_a = sa.t
        |JOIN sizes sb ON type_b = sb.t""".stripMargin,
    "q288_record_days" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS rev
        |  FROM orders GROUP BY day),
        |m AS (SELECT day, rev, max(rev) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS prev_max FROM d)
        |SELECT year(day)::BIGINT AS yr, count(*)::BIGINT AS n_days,
        |  sum(CASE WHEN prev_max IS NULL OR rev > prev_max
        |    THEN 1 ELSE 0 END)::BIGINT AS n_records
        |FROM m GROUP BY yr""".stripMargin,
    "q284_forecast_mase" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS rev
        |  FROM orders GROUP BY day),
        |l AS (SELECT day, rev,
        |    abs(rev - lag(rev, 1) OVER (ORDER BY day)) AS e1,
        |    abs(rev - lag(rev, 7) OVER (ORDER BY day)) AS e7
        |  FROM d),
        |a AS (SELECT count(*)::BIGINT AS n_days,
        |    sum(CASE WHEN e1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |      AS n1,
        |    sum(coalesce(e1, 0))::BIGINT AS s1,
        |    sum(CASE WHEN e7 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |      AS n7,
        |    sum(coalesce(e7, 0))::BIGINT AS s7
        |  FROM l)
        |SELECT n_days, CAST(s1 // n1 AS BIGINT) AS mae_naive_cents,
        |  CAST(s7 // n7 AS BIGINT) AS mae_snaive_cents,
        |  CAST(CAST(1000000 AS HUGEINT) * s7 * n1
        |    // (CAST(s1 AS HUGEINT) * n7) AS BIGINT) AS mase_micro
        |FROM a""".stripMargin,
    "q285_xyz_classes" ->
      """WITH pm AS (SELECT l_partkey,
        |    date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
        |    sum(CAST(l_quantity AS BIGINT))::BIGINT AS q
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY l_partkey, mon),
        |per AS (SELECT l_partkey,
        |    CAST(round(1000000.0 * sqrt((CAST(nm AS DOUBLE) *
        |      CAST(qq AS DOUBLE) - CAST(sq AS DOUBLE) *
        |      CAST(sq AS DOUBLE)) / (CAST(nm AS DOUBLE) *
        |      CAST(nm - 1 AS DOUBLE))) / (CAST(sq AS DOUBLE) /
        |      CAST(nm AS DOUBLE))) AS BIGINT) AS cv_micro
        |  FROM (SELECT l_partkey, count(*)::BIGINT AS nm,
        |      sum(q)::BIGINT AS sq, sum(q * q)::BIGINT AS qq
        |    FROM pm GROUP BY l_partkey) s WHERE nm >= 2),
        |cl AS (SELECT CASE WHEN cv_micro < 500000 THEN 'X'
        |    WHEN cv_micro < 1000000 THEN 'Y' ELSE 'Z' END AS xyz
        |  FROM per),
        |tot AS (SELECT count(*)::BIGINT AS n_parts_total FROM cl)
        |SELECT xyz, count(*)::BIGINT AS n_parts,
        |  CAST(1000000 * count(*)::BIGINT // n_parts_total AS BIGINT)
        |    AS share_micro
        |FROM cl CROSS JOIN tot GROUP BY xyz, n_parts_total""".stripMargin,
    "q281_transition_entropy" ->
      """WITH tr AS (SELECT prev, event_type AS cur FROM
        |    (SELECT event_type, lag(event_type) OVER
        |       (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |     FROM events)
        |  WHERE prev IS NOT NULL),
        |cnt AS (SELECT prev, cur, count(*)::BIGINT AS n_pc FROM tr
        |  GROUP BY prev, cur),
        |tot AS (SELECT prev, sum(n_pc)::BIGINT AS n_p FROM cnt
        |  GROUP BY prev),
        |t AS (SELECT cnt.prev, n_p,
        |    CAST(round(-1000000.0 * (CAST(n_pc AS DOUBLE) /
        |      CAST(n_p AS DOUBLE)) * ln(CAST(n_pc AS DOUBLE) /
        |      CAST(n_p AS DOUBLE))) AS BIGINT) AS term
        |  FROM cnt JOIN tot ON cnt.prev = tot.prev)
        |SELECT prev AS prev_type, n_p AS n_trans,
        |  count(*)::BIGINT AS n_successors,
        |  sum(term)::BIGINT AS entropy_micro_nats
        |FROM t GROUP BY prev, n_p""".stripMargin,
    "q282_hapax_ratio" -> {
      val toks = sqlTokens("text")
      s"""WITH sw AS (SELECT source, w, count(*)::BIGINT AS c FROM
         |    (SELECT source, unnest($toks) AS w FROM documents)
         |  GROUP BY source, w)
         |SELECT source, count(*)::BIGINT AS vocab_size,
         |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
         |  sum(c)::BIGINT AS n_tokens,
         |  CAST(1000000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
         |    ::BIGINT // count(*)::BIGINT AS BIGINT) AS hapax_micro
         |FROM sw GROUP BY source""".stripMargin
    },
    "q283_pr_curve" ->
      """WITH sc AS (SELECT CAST(round(c_acctbal * 100) AS BIGINT)
        |    AS cents,
        |    CASE WHEN o.c2 IS NOT NULL THEN 1 ELSE 0 END::BIGINT AS y
        |  FROM customer LEFT JOIN (SELECT DISTINCT o_custkey AS c2
        |      FROM orders WHERE o_totalprice > 450000.0) o
        |    ON c_custkey = o.c2),
        |b AS (SELECT min(cents) AS lo, max(cents) AS hi FROM sc),
        |conf AS (SELECT y, CAST(1000000 * (cents - lo) //
        |    greatest(hi - lo, 1) AS BIGINT) AS conf
        |  FROM sc CROSS JOIN b),
        |pos AS (SELECT sum(y)::BIGINT AS n_pos FROM conf),
        |g AS (SELECT t.t, count(*)::BIGINT AS n_pred_pos,
        |    sum(y)::BIGINT AS tp
        |  FROM conf CROSS JOIN UNNEST(range(0, 10)) AS t(t)
        |  WHERE conf >= t.t * 100000 GROUP BY t.t)
        |SELECT CAST(t * 100000 AS BIGINT) AS threshold_micro,
        |  n_pred_pos, tp,
        |  CAST(1000000 * tp // greatest(n_pred_pos, 1) AS BIGINT)
        |    AS precision_micro,
        |  CAST(1000000 * tp // greatest(n_pos, 1) AS BIGINT)
        |    AS recall_micro
        |FROM g CROSS JOIN pos""".stripMargin,
    "q278_small_order_revenue" ->
      """WITH pk AS (SELECT p_partkey FROM part
        |  WHERE p_brand = 'Brand#12' AND p_size < 15),
        |li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem JOIN pk ON l_partkey = p_partkey),
        |av AS (SELECT l_partkey, count(*)::BIGINT AS n_li,
        |    sum(qty)::BIGINT AS tot_qty FROM li GROUP BY l_partkey),
        |f AS (SELECT cents FROM li JOIN av USING (l_partkey)
        |  WHERE qty * 5 * n_li < tot_qty)
        |SELECT count(*)::BIGINT AS n_small,
        |  CAST(coalesce(sum(cents), 0)::BIGINT // 7 AS BIGINT)
        |    AS avg_yearly_cents
        |FROM f""".stripMargin,
    "q279_large_volume_customers" ->
      """WITH big AS (SELECT l_orderkey,
        |    sum(CAST(l_quantity AS BIGINT))::BIGINT AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS o_date,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
        |  total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey ASC""".stripMargin,
    "q280_global_sales_opportunity" ->
      """WITH cust AS (SELECT c_custkey, c_nationkey % 10 AS cntrycode,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal
        |  FROM customer),
        |ap AS (SELECT sum(bal)::BIGINT // count(*)::BIGINT AS avg_bal
        |  FROM cust WHERE bal > 0),
        |rich AS (SELECT cntrycode, bal FROM cust CROSS JOIN ap
        |  WHERE bal > avg_bal AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = cust.c_custkey
        |      AND o_orderpriority = '1-URGENT'))
        |SELECT cntrycode, count(*)::BIGINT AS numcust,
        |  sum(bal)::BIGINT AS totacctbal
        |FROM rich GROUP BY cntrycode""".stripMargin,
  )
}
