package graft.queries

import graft.Materialize.TrunkCheckpointOps
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-4 second-continuation batch: recommender primitives,
  * privacy/anonymity completion, causal/attribution completion, and
  * resampling/extreme-value statistics — the model-adjacent operators
  * a curation warehouse serves to downstream teams.
  *
  * Same exactness discipline as the rest of the repo: money is cents
  * (`round(x*100)` per ROW, summed as longs), ratio outputs are
  * integral divisions of exact integer cross-products in
  * decimal(38,0) (DuckDB mirror: HUGEINT `//`), fences cross-multiply
  * instead of dividing, and doubles appear only on O(groups)
  * aggregate frames where both engines evaluate the identical IEEE
  * expression.
  *
  * Scale stance per query in the scaladoc; the shared posture: pair
  * fan-outs are bounded by basket width, per-entity solves are
  * closed-form over moment sums (one groupBy each), and every
  * global scalar rides as a one-row broadcast.
  */
object Modeling {

  // ------------------------------ q346 item-item collaborative filter

  /** q346 — item-to-item collaborative filtering over co-purchase
    * baskets (the "customers who bought X also bought Y" serving
    * table): cosine affinity between parts that share an order, top-3
    * neighbors per part. Distinct from q184 (event-type affinity over
    * a 5-type universe): this runs on the open-ended part catalog, so
    * the pair space is pruned by support (nij >= 2) and ranked per
    * item. Pair fan-out is bounded by order width (~7 lines), the
    * pair count shuffles on the (i,j) key, per-item supports join
    * back by key, and the top-3 window partitions by item — nothing
    * global at any catalog size. Cosine² is exact: nij²·1e12 div
    * (ni·nj) in decimal(38,0). */
  // a session trunk: q398's coverage/Gini audit re-ran this whole
  // chain (basket self-join + pair shuffle + top-3 window) inline — the
  // same persisted-serving-table boundary GraphTrunk gives the graph
  // kernels. O(catalog × 3) rows, so the pin is cheap.
  val itemCfTopk: Q = (s, dir) =>
    graft.Materialize.trunk(s, ("Modeling", dir, "cf_serving")) {
      itemCfTopkBuild(s, dir)
    }

  private def itemCfTopkBuild(s: SparkSession, dir: String) = {
    import s.implicits._
    val baskets = Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
    val support = baskets.groupBy($"l_partkey").agg(count(lit(1)).as("ni"))
    val pairs = baskets.as("a")
      .join(baskets.as("b"), Seq("l_orderkey"))
      .filter(col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("pi"), col("b.l_partkey").as("pj"))
      .agg(count(lit(1)).as("nij"))
      .filter($"nij" >= 2)
    val scored = pairs
      .join(support.select($"l_partkey".as("pi"), $"ni".as("si")), Seq("pi"))
      .join(support.select($"l_partkey".as("pj"), $"ni".as("sj")), Seq("pj"))
      .select($"pi", $"pj", $"nij", $"si", $"sj",
        expr("CAST(CAST(1000000000000 AS DECIMAL(38,0)) * nij * nij" +
          " div (CAST(si AS DECIMAL(38,0)) * sj) AS BIGINT)")
          .as("cos2_micro2"))
    // symmetric serving table: each ordered (item, neighbor) direction
    val sym = scored.select($"pi".as("item"), $"pj".as("neighbor"),
        $"nij", $"cos2_micro2")
      .unionAll(scored.select($"pj".as("item"), $"pi".as("neighbor"),
        $"nij", $"cos2_micro2"))
    val w = Window.partitionBy($"item")
      .orderBy($"cos2_micro2".desc, $"neighbor".asc)
    sym.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"item", $"rk", $"neighbor", $"nij", $"cos2_micro2")
  }

  // ----------------------------------- q347 ALS half-step (ridge)

  /** q347 — one exact ALS half-step: with item factors FIXED (a
    * deterministic 2-D integer embedding of the part key — in a real
    * system, the previous iteration's item matrix), solve each user's
    * ridge regression in closed form. This is the distributed-ALS
    * kernel (Koren et al.; Spark MLlib's own ALS does exactly this
    * per block): userFactor = (XᵀX + λI)⁻¹ Xᵀy. All five normal-
    * equation moments accumulate as exact longs in ONE groupBy(user);
    * the 2×2 solve is Cramer's rule on the O(users) frame; the only
    * doubles are the final milli-quantized divisions, identical IEEE
    * in both engines. No iteration, no collect, shuffles once on the
    * user key. */
  val alsHalfStep: Q = (s, dir) => {
    import s.implicits._
    val rated = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("usr"),
        ($"l_partkey" % 7 - 3).cast("long").as("f1"),
        (expr("(l_partkey div 7) % 7").cast("long") - 3).as("f2"),
        $"l_quantity".cast("long").as("y"))
    val lam = 10L
    rated.groupBy($"usr")
      .agg(count(lit(1)).as("n"),
        sum($"f1" * $"f1").as("a11"),
        sum($"f1" * $"f2").as("a12"),
        sum($"f2" * $"f2").as("a22"),
        sum($"f1" * $"y").as("b1"),
        sum($"f2" * $"y").as("b2"))
      .select($"usr", $"n",
        (($"a11" + lam) * ($"a22" + lam) - $"a12" * $"a12").as("det"),
        $"a11", $"a12", $"a22", $"b1", $"b2")
      .select($"usr", $"n",
        expr("CAST(round(1000.0 * ((a22 + 10) * b1 - a12 * b2)" +
          " / det) AS BIGINT)").as("x1_milli"),
        expr("CAST(round(1000.0 * ((a11 + 10) * b2 - a12 * b1)" +
          " / det) AS BIGINT)").as("x2_milli"))
  }

  // -------------------------------------------- q348 t-closeness

  /** q348 — t-closeness audit (Li et al. 2007), completing the
    * anonymity battery (q159 k-anonymity, q213 l-diversity): per
    * quasi-identifier group, the total-variation distance between the
    * group's sensitive-attribute (market segment) distribution and
    * the global one must not exceed t = 0.2. TV is EXACT integers:
    * 2·TV·n_g·N = Σ_seg |cnt_gs·N − cnt_s·n_g|, and segments ABSENT
    * from a group contribute their full cnt_s·n_g — folded in without
    * an outer join via Σ_absent cnt_s·n_g = N·n_g − Σ_present
    * cnt_s·n_g. The fence 5·tv2num > 2·(2·n_g·N) cross-multiplies
    * t = 1/5. One groupBy(qid, seg), one groupBy(qid), an O(segments)
    * broadcast — no per-row distribution state. */
  val tCloseness: Q = (s, dir) => {
    import s.implicits._
    val c = Tables(s, dir, "customer")
      .select(($"c_nationkey" % 5).cast("long").as("qid_region"),
        (floor($"c_acctbal" / 2000).cast("long")).as("qid_band"),
        $"c_mktsegment".as("seg"))
    val cell = c.groupBy($"qid_region", $"qid_band", $"seg")
      .agg(count(lit(1)).as("cgs"))
    val grp = cell.groupBy($"qid_region", $"qid_band")
      .agg(sum($"cgs").as("ng"))
    val glob = cell.groupBy($"seg").agg(sum($"cgs").as("cs"))
    val tot = glob.agg(sum($"cs").as("nn"))
    cell.join(broadcast(glob), Seq("seg"))
      .join(grp, Seq("qid_region", "qid_band"))
      .crossJoin(broadcast(tot))
      .groupBy($"qid_region", $"qid_band")
      .agg(first($"ng").as("n_g"), first($"nn").as("nn"),
        sum(abs($"cgs" * $"nn" - $"cs" * $"ng")).as("present_abs"),
        sum($"cs" * $"ng").as("present_mass"))
      .select($"qid_region", $"qid_band", $"n_g",
        ($"present_abs" + ($"nn" * $"n_g" - $"present_mass"))
          .as("tv2num"),
        (lit(5L) * ($"present_abs" + ($"nn" * $"n_g" - $"present_mass"))
          > lit(2L) * $"n_g" * $"nn").cast("int").as("violates_t"))
      .orderBy($"qid_region", $"qid_band")
  }

  // ----------------------------- q349 exact Shapley attribution

  /** q349 — exact Shapley-value channel attribution over the 3-channel
    * universe (view / click / signup), completing the attribution
    * family: q179 gives positional rules, q223 the Markov removal
    * effect; Shapley is the game-theoretic split (Shapley 1953). Each
    * converting user contributes their PRE-conversion channel SET as
    * a 3-bit mask; coalition worth v(S) = #users whose mask ⊆ S.
    * Everything reduces to the 7-row mask-count frame, the 8 coalition
    * worths are Σ_{m⊆S} cnt_m over that broadcast frame, and 6·φ_c =
    * 2[v({c})] + [v({c,a})−v({a})] + [v({c,b})−v({b})] +
    * 2[v(C)−v(C\c)] is an EXACT INTEGER (denominator 3! folded in) —
    * no rounding anywhere. Per-user mask is one groupBy; the rest is
    * O(1). */
  val shapleyAttribution: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "events")
    val firstConv = e.filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(min($"ts").as("conv_ts"))
    val masks = e.join(firstConv, Seq("user_id"))
      .filter($"ts" < $"conv_ts")
      .select($"user_id",
        when($"event_type" === "view", 1L)
          .when($"event_type" === "click", 2L)
          .when($"event_type" === "signup", 4L).otherwise(0L).as("bit"))
      .groupBy($"user_id")
      .agg(expr("bit_or(bit)").as("mask"))
      .filter($"mask" > 0)
    val cnt = masks.groupBy($"mask").agg(count(lit(1)).as("c"))
    // v(S) for the 8 coalitions from the <=7-row broadcast frame
    val vS = (0 to 7).map(sMask =>
      sum(when(($"mask".bitwiseAND(lit(~sMask & 7))) === 0, $"c")
        .otherwise(0L)).as(s"v$sMask"))
    val worths = cnt.agg(vS.head, vS.tail: _*).na.fill(0L)
    // channel bits: view=1, click=2, signup=4; 6*phi exact per channel
    def phi6(c: Int): Column = {
      val others = Seq(1, 2, 4).filter(_ != c)
      val (a, b) = (others.head, others.last)
      lit(2L) * col(s"v$c") +
        (col(s"v${c | a}") - col(s"v$a")) +
        (col(s"v${c | b}") - col(s"v$b")) +
        lit(2L) * (col(s"v7") - col(s"v${a | b}"))
    }
    worths.select($"v7".as("conversions"),
      phi6(1).as("phi6_view"), phi6(2).as("phi6_click"),
      phi6(4).as("phi6_signup"))
  }

  // ------------------------------ q350 jackknife variance (groups)

  /** q350 — delete-a-group jackknife for a ratio statistic (global
    * revenue-per-order in cents, groups = customer nations): the
    * survey-statistics variance estimator that never recomputes —
    * θ_{−g} = (S − s_g)/(N − n_g) comes from the SAME one-pass
    * sufficient statistics (S, N, per-group s_g, n_g) for every g.
    * One groupBy(nation) (25 rows), a one-row broadcast of the
    * totals, then the pseudo-value variance (G−1)/G·Σ(θ_{−g}−θ̄_J)²
    * on the O(G) frame. Cent sums exact; the replicate math is
    * double-precision on 25 rows — identical IEEE in both engines. */
  val jackknifeVariance: Q = (s, dir) => {
    import s.implicits._
    val perG = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer").select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey".as("g"))
      .agg(count(lit(1)).as("n_g"),
        sum(round($"o_totalprice" * 100).cast("long")).as("s_g"))
    val tot = perG.agg(sum($"n_g").as("nn"), sum($"s_g").as("ss"),
      count(lit(1)).as("gg"))
    // center each replicate on the full-sample ratio BEFORE summing:
    // Σ(θ_del − θ̄)² = Σδ² − (Σδ)²/G with δ = θ_del − θ̂. The raw
    // Σθ_del² − G·θ̄² form cancels ~8 significant digits and the
    // partial-sum ORDER of a distributed double sum would then decide
    // the micro-rounded output; the centered form keeps the relative
    // error ~1e-13, far from any rounding boundary.
    val reps = perG.crossJoin(broadcast(tot))
      .select($"g", $"nn", $"ss", $"gg",
        (($"ss" - $"s_g").cast("double") / ($"nn" - $"n_g")
          - $"ss".cast("double") / $"nn").as("delta"))
    val m = reps.groupBy($"nn", $"ss", $"gg")
      .agg(sum($"delta").as("sd"),
        sum($"delta" * $"delta").as("sd2"))
    m.select($"gg".as("n_groups"),
        expr("CAST(round(1000000.0 * ss / nn) AS BIGINT)")
          .as("theta_micro"),
        expr("CAST(round(1000000.0 * sqrt(((gg - 1.0) / gg) *" +
          " (sd2 - sd * sd / gg))) AS BIGINT)")
          .as("se_micro"))
  }

  // --------------------------- q351 Gumbel block-maxima EVT fit

  /** q351 — extreme-value fit by block maxima (the Gumbel/method-of-
    * moments complement to q341's peaks-over-threshold GPD): weekly
    * maxima of order value, β̂ = s·√6/π, μ̂ = m̄ − γβ̂, and the
    * T = 100-block return level μ̂ − β̂·ln(−ln(1 − 1/T)). Block maxima
    * come from one groupBy(week) with exact cent maxima; the moment
    * fit runs on the one-row (Σm, Σm², n) aggregate with Σm² carried
    * in decimal(38,0) so the sample variance is exact-integer until
    * the final double sqrt. Nothing global but the one-row frame. */
  val gumbelBlockMaxima: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val wk = Tables(s, dir, "orders")
      .select(expr("CAST(datediff(to_date(o_orderdate)," +
        " DATE '1995-01-01') AS BIGINT) div 7").as("week"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .groupBy($"week").agg(max($"cents").as("m"))
    val agg = wk.agg(count(lit(1)).as("nb"), sum($"m").as("sm"),
      sum(dec($"m") * dec($"m")).as("qm"))
    agg.select($"nb", $"sm",
        expr("CAST(qm AS DOUBLE) - CAST(sm AS DOUBLE) * sm / nb")
          .as("ss"))
      .select($"nb",
        expr("CAST(round(CAST(sm AS DOUBLE) / nb) AS BIGINT)")
          .as("mean_cents"),
        expr("CAST(round(sqrt(ss / (nb - 1)) * sqrt(6.0) / pi())" +
          " AS BIGINT)").as("beta_cents"),
        expr("CAST(round(CAST(sm AS DOUBLE) / nb -" +
          " 0.5772156649015329 * (sqrt(ss / (nb - 1)) * sqrt(6.0)" +
          " / pi())) AS BIGINT)").as("mu_cents"),
        expr("CAST(round(CAST(sm AS DOUBLE) / nb -" +
          " 0.5772156649015329 * (sqrt(ss / (nb - 1)) * sqrt(6.0)" +
          " / pi()) - (sqrt(ss / (nb - 1)) * sqrt(6.0) / pi()) *" +
          " ln(-ln(1.0 - 1.0 / 100.0))) AS BIGINT)")
          .as("return_level_100_cents"))
  }

  // --------------------------- q352 doubly-robust (AIPW) ATE

  /** q352 — augmented inverse-propensity-weighted ATE (Robins et al.
    * 1994), the doubly-robust completion of q340's stratified
    * estimator: separate closed-form LPM outcome models per arm
    * (m₁, m₀ over acctbal + order age) PLUS the LPM propensity, and
    * the AIPW score m₁−m₀ + T(y−m₁)/e − (1−T)(y−m₀)/(1−e) — unbiased
    * if EITHER model is right. All three 2-covariate OLS solves come
    * from ONE groupBy(arm) moment pass (the propensity cross-moments
    * are the treated arm's sums — no third scan); the per-row score
    * quantizes to milli-cents BEFORE the sum, so the global mean is
    * an order-independent long sum. e clamps to [0.02, 0.98]
    * identically in both engines. */
  val doublyRobustAte: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal"), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey",
        when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L).as("t"),
        round($"o_totalprice" * 100).cast("long").as("y"),
        round($"c_acctbal" * 100).cast("long").as("x1"),
        datediff(to_date($"o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("x2"))
    val arm = rows.groupBy($"t").agg(
      count(lit(1)).as("n"), sum($"x1").as("sx1"), sum($"x2").as("sx2"),
      sum($"y").as("sy"),
      sum(dec($"x1") * dec($"x1")).as("q11"),
      sum(dec($"x2") * dec($"x2")).as("q22"),
      sum(dec($"x1") * dec($"x2")).as("q12"),
      sum(dec($"x1") * dec($"y")).as("q1y"),
      sum(dec($"x2") * dec($"y")).as("q2y"))
    def armCols(a: Int): Seq[Column] = Seq(
      sum(when($"t" === a, $"n")).as(s"n$a"),
      sum(when($"t" === a, $"sx1")).as(s"sx1_$a"),
      sum(when($"t" === a, $"sx2")).as(s"sx2_$a"),
      sum(when($"t" === a, $"sy")).as(s"sy_$a"),
      sum(when($"t" === a, $"q11")).as(s"q11_$a"),
      sum(when($"t" === a, $"q22")).as(s"q22_$a"),
      sum(when($"t" === a, $"q12")).as(s"q12_$a"),
      sum(when($"t" === a, $"q1y")).as(s"q1y_$a"),
      sum(when($"t" === a, $"q2y")).as(s"q2y_$a"))
    val one = arm.agg((armCols(1) ++ armCols(0)).head,
      (armCols(1) ++ armCols(0)).tail: _*)
    // per-arm centered OLS slopes; propensity slopes from pooled
    // moments with the treated arm's sums as the t-cross-moments
    val model = one.selectExpr(
      "n1", "n0",
      "CAST(sx1_1 AS DOUBLE) / n1 AS mx1_1",
      "CAST(sx2_1 AS DOUBLE) / n1 AS mx2_1",
      "CAST(sy_1 AS DOUBLE) / n1 AS my_1",
      "CAST(sx1_0 AS DOUBLE) / n0 AS mx1_0",
      "CAST(sx2_0 AS DOUBLE) / n0 AS mx2_0",
      "CAST(sy_0 AS DOUBLE) / n0 AS my_0",
      "CAST(q11_1 AS DOUBLE) - CAST(sx1_1 AS DOUBLE) * sx1_1 / n1 AS s11_1",
      "CAST(q22_1 AS DOUBLE) - CAST(sx2_1 AS DOUBLE) * sx2_1 / n1 AS s22_1",
      "CAST(q12_1 AS DOUBLE) - CAST(sx1_1 AS DOUBLE) * sx2_1 / n1 AS s12_1",
      "CAST(q1y_1 AS DOUBLE) - CAST(sx1_1 AS DOUBLE) * sy_1 / n1 AS s1y_1",
      "CAST(q2y_1 AS DOUBLE) - CAST(sx2_1 AS DOUBLE) * sy_1 / n1 AS s2y_1",
      "CAST(q11_0 AS DOUBLE) - CAST(sx1_0 AS DOUBLE) * sx1_0 / n0 AS s11_0",
      "CAST(q22_0 AS DOUBLE) - CAST(sx2_0 AS DOUBLE) * sx2_0 / n0 AS s22_0",
      "CAST(q12_0 AS DOUBLE) - CAST(sx1_0 AS DOUBLE) * sx2_0 / n0 AS s12_0",
      "CAST(q1y_0 AS DOUBLE) - CAST(sx1_0 AS DOUBLE) * sy_0 / n0 AS s1y_0",
      "CAST(q2y_0 AS DOUBLE) - CAST(sx2_0 AS DOUBLE) * sy_0 / n0 AS s2y_0",
      "CAST(sx1_1 + sx1_0 AS DOUBLE) / (n1 + n0) AS mx1",
      "CAST(sx2_1 + sx2_0 AS DOUBLE) / (n1 + n0) AS mx2",
      "CAST(n1 AS DOUBLE) / (n1 + n0) AS mt",
      "CAST(q11_1 + q11_0 AS DOUBLE) - CAST(sx1_1 + sx1_0 AS DOUBLE)" +
        " * (sx1_1 + sx1_0) / (n1 + n0) AS s11",
      "CAST(q22_1 + q22_0 AS DOUBLE) - CAST(sx2_1 + sx2_0 AS DOUBLE)" +
        " * (sx2_1 + sx2_0) / (n1 + n0) AS s22",
      "CAST(q12_1 + q12_0 AS DOUBLE) - CAST(sx1_1 + sx1_0 AS DOUBLE)" +
        " * (sx2_1 + sx2_0) / (n1 + n0) AS s12",
      "CAST(sx1_1 AS DOUBLE) - CAST(sx1_1 + sx1_0 AS DOUBLE)" +
        " * n1 / (n1 + n0) AS s1t",
      "CAST(sx2_1 AS DOUBLE) - CAST(sx2_1 + sx2_0 AS DOUBLE)" +
        " * n1 / (n1 + n0) AS s2t")
      .selectExpr("n1", "n0", "mx1_1", "mx2_1", "my_1",
        "mx1_0", "mx2_0", "my_0", "mx1", "mx2", "mt",
        "(s22_1 * s1y_1 - s12_1 * s2y_1) / (s11_1 * s22_1 - s12_1 * s12_1) AS b1_1",
        "(s11_1 * s2y_1 - s12_1 * s1y_1) / (s11_1 * s22_1 - s12_1 * s12_1) AS b2_1",
        "(s22_0 * s1y_0 - s12_0 * s2y_0) / (s11_0 * s22_0 - s12_0 * s12_0) AS b1_0",
        "(s11_0 * s2y_0 - s12_0 * s1y_0) / (s11_0 * s22_0 - s12_0 * s12_0) AS b2_0",
        "(s22 * s1t - s12 * s2t) / (s11 * s22 - s12 * s12) AS c1",
        "(s11 * s2t - s12 * s1t) / (s11 * s22 - s12 * s12) AS c2")
    val scored = rows.crossJoin(broadcast(model))
      .selectExpr("t", "y",
        "my_1 + b1_1 * (x1 - mx1_1) + b2_1 * (x2 - mx2_1) AS m1",
        "my_0 + b1_0 * (x1 - mx1_0) + b2_0 * (x2 - mx2_0) AS m0",
        "least(greatest(mt + c1 * (x1 - mx1) + c2 * (x2 - mx2)," +
          " 0.02), 0.98) AS e")
      .selectExpr("CAST(round(1000.0 * (m1 - m0 +" +
        " t * (y - m1) / e - (1 - t) * (y - m0) / (1 - e)))" +
        " AS BIGINT) AS phi_milli")
    scored.agg(count(lit(1)).as("n"), sum($"phi_milli").as("sum_phi_milli"))
      .select($"n", $"sum_phi_milli",
        expr("CAST(round(CAST(sum_phi_milli AS DOUBLE) / n) AS BIGINT)")
          .as("ate_milli_cents"))
  }

  // ------------------------------------- q353 Fleiss' kappa

  /** q353 — Fleiss' kappa over three deterministic quality "raters"
    * (length, digit-density, sentence-punctuation heuristics — the
    * classic weak-supervision setup where rule agreement is the
    * labeling-confidence signal; q204's two-rater Cohen κ
    * generalized to n raters). Every item reduces to its good-vote
    * count g ∈ 0..3, the corpus to the FOUR counts N_g, and κ's
    * P̄ and P_e are exact integer ratios of those counts until one
    * final quantized division. One map, one 4-row groupBy — nothing
    * else. */
  val fleissKappa: Q = (s, dir) => {
    import s.implicits._
    val votes = Tables(s, dir, "documents")
      .select(
        (when($"n_chars" > 300, 1L).otherwise(0L) +
         when(length(regexp_replace($"text", "[^0-9]", "")) * 25
           < $"n_chars", 1L).otherwise(0L) +
         when(length(regexp_replace($"text", "[^.]", "")) >= 3, 1L)
           .otherwise(0L)).as("g"))
    val byG = votes.groupBy($"g").agg(count(lit(1)).as("ng"))
    val agg = byG.agg(sum($"ng").as("nn"),
      sum($"g" * $"ng").as("sg"),
      // Σ_i (g² + (3−g)² − 3) = per-item pair-agreement numerator ×2
      sum(($"g" * $"g" + (lit(3L) - $"g") * (lit(3L) - $"g") - 3L)
        * $"ng").as("pairs2"))
    // P̄ = pairs2 / (6N); P_e = p² + (1−p)² with p = sg/(3N);
    // κ = (P̄ − P_e) / (1 − P_e), output in micro units
    agg.selectExpr("nn", "sg", "pairs2",
      "CAST(round(1000000.0 * " +
        "((CAST(pairs2 AS DOUBLE) / (6.0 * nn)) - " +
        " (POW(CAST(sg AS DOUBLE) / (3.0 * nn), 2) + " +
        "  POW(1.0 - CAST(sg AS DOUBLE) / (3.0 * nn), 2))) / " +
        "(1.0 - (POW(CAST(sg AS DOUBLE) / (3.0 * nn), 2) + " +
        "  POW(1.0 - CAST(sg AS DOUBLE) / (3.0 * nn), 2)))) AS BIGINT)" +
        " AS kappa_micro")
  }

  // ------------------------ q354 Brier score Murphy decomposition

  /** q354 — Murphy (1973) decomposition of the Brier score into
    * reliability − resolution + uncertainty over 10 forecast bins,
    * completing the calibration battery (q224 ECE, q275 Platt, q209
    * isotonic, q258 conformal): REL penalizes bin-level
    * miscalibration, RES rewards outcome discrimination, UNC is the
    * base-rate entropy term, and BS = REL − RES + UNC exactly (the
    * within-bin variance of the constant-per-bin forecast is zero —
    * binned forecasts make the identity exact, not approximate).
    * Forecast = balance percentile rank in milli (monotone map, the
    * LPM convention); every component is an integer cross-product
    * ratio on the 10-row bin frame. */
  val brierDecomposition: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal"), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey",
        round($"c_acctbal" * 100).cast("long").as("bal"),
        when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L).as("o"))
    // forecast: exclusive-rank / n percentile in milli, binned by decile
    val ranked = ScaleWindows.rangeCumSum(rows, Seq($"bal", $"o_orderkey"),
      lit(1L), "rk")
    val n = rows.agg(count(lit(1)).as("nn"))
    // bin by percentile decile, then the FORECAST is the bin midpoint
    // (constant per bin — that's what makes the Murphy identity exact
    // rather than approximate; a within-bin-varying forecast adds a
    // fourth within-bin-variance term)
    val binned = ranked.crossJoin(broadcast(n))
      .select(expr("rk * 10 div nn").as("bin"), $"o")
      .select($"bin", ($"bin" * 100L + 50L).as("p_milli"), $"o")
    val cells = binned.groupBy($"bin")
      .agg(count(lit(1)).as("nk"), sum($"p_milli").as("sp"),
        sum($"o").as("so"))
    val agg = cells.agg(sum($"nk").as("nn"), sum($"so").as("sot"),
      // REL numerator ×1e6: Σ (sp_k − 1000·so_k)² / n_k
      sum(expr("CAST(round(CAST((sp - 1000 * so) AS DOUBLE) *" +
        " (sp - 1000 * so) / nk) AS BIGINT)")).as("rel_num"),
      sum($"so" * $"so").as("sso_n"),
      sum(expr("CAST(round(1000000.0 * CAST(so AS DOUBLE) * so / nk)" +
        " AS BIGINT)")).as("res_base"))
    agg.selectExpr("nn", "sot",
      "CAST(round(CAST(rel_num AS DOUBLE) / nn) AS BIGINT)" +
        " AS rel_micro",
      // RES ×1e6 = (1/N)(Σ so²/n_k − sot²/N)·1e6
      "CAST(round(CAST(res_base AS DOUBLE) / nn -" +
        " 1000000.0 * sot * sot / (CAST(nn AS DOUBLE) * nn))" +
        " AS BIGINT) AS res_micro",
      "CAST(round(1000000.0 * sot * (nn - sot) /" +
        " (CAST(nn AS DOUBLE) * nn)) AS BIGINT) AS unc_micro")
  }

  // ------------------------ q355 PPS systematic sampling

  /** q355 — probability-proportional-to-size SYSTEMATIC sampling
    * (Madow 1949), the survey-sampling workhorse the q80/q140/q95
    * samplers don't cover: one deterministic pass over the
    * size-ordered cumulative axis selects ⌊C_hi·K/S⌋ − ⌊C_lo·K/S⌋
    * copies of each unit — large units (> S/K) enter with
    * multiplicity, everything else with probability ∝ size, and the
    * draw count is EXACTLY K by telescoping. The cumulative axis
    * comes from [[graft.functions.ScaleWindows.rangeCumSum]] (range
    * exchange, no global sort); the floor arithmetic is exact long
    * division on nonneg operands in both engines. */
  val ppsSystematic: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val k = 100L
    val sized = Tables(s, dir, "orders")
      .select($"o_orderkey",
        round($"o_totalprice" * 100).cast("long").as("w"))
    val cum = ScaleWindows.rangeCumSum(sized, Seq($"o_orderkey"),
      $"w", "c_lo")
    val tot = sized.agg(sum($"w").as("s"))
    cum.crossJoin(broadcast(tot))
      .select($"o_orderkey", $"w",
        (expr(s"CAST((c_lo + w) AS DECIMAL(38,0)) * $k div s") -
          expr(s"CAST(c_lo AS DECIMAL(38,0)) * $k div s")).cast("long")
          .as("m"))
      .filter($"m" > 0)
      .select($"o_orderkey", $"w", $"m")
  }

  // --------------------- q356 Cochran-Armitage trend test

  /** q356 — Cochran–Armitage test for a monotone trend in a binary
    * rate across ORDERED dose groups (urgent-order share across five
    * account-balance bands): the proportions counterpart of q345's
    * rank JT test, and the recommended replacement for chi-square
    * (q194) when the alternative is ordered. The statistic needs
    * only the K-row (dose, n_k, r_k) frame; numerator and variance
    * are exact integer cross-products (×N to clear the p̄ fractions)
    * with one final quantized division. */
  val cochranArmitage: Q = (s, dir) => {
    import s.implicits._
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal"), $"o_custkey" === $"c_custkey")
      .select(floor(($"c_acctbal" + 1000.0) / 2200.0).cast("long")
          .as("dose"),
        when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L).as("r"))
    val cells = rows.groupBy($"dose")
      .agg(count(lit(1)).as("nk"), sum($"r").as("rk"))
    val agg = cells.agg(sum($"nk").as("nn"), sum($"rk").as("rr"),
      sum($"dose" * $"rk").as("swr"),
      sum($"dose" * $"nk").as("swn"),
      sum($"dose" * $"dose" * $"nk").as("sw2n"))
    // T·N = N·Σw r_k − R·Σw n_k ; Var·N³-ish cross-multiplied:
    // Var(T) = p̄(1−p̄)(Σw²n − (Σwn)²/N) with p̄ = R/N
    agg.selectExpr("nn", "rr",
      "CAST(round(1000.0 * (CAST(nn AS DOUBLE) * swr - CAST(rr AS DOUBLE) * swn) /" +
        " (CAST(nn AS DOUBLE) *" +
        " sqrt((CAST(rr AS DOUBLE) / nn) * (1.0 - CAST(rr AS DOUBLE) / nn) *" +
        " (CAST(sw2n AS DOUBLE) - CAST(swn AS DOUBLE) * swn / nn))))" +
        " AS BIGINT) AS z_milli")
  }

  // ------------------------------- q357 log-rank test

  /** q357 — two-group log-rank test on time-to-first-purchase with
    * administrative censoring at day 7, completing the survival
    * battery (q198 Kaplan–Meier, q330 Nelson–Aalen, q299 half-life):
    * per distinct event day τ, observed-minus-expected group-1
    * events O₁−E₁ with the hypergeometric variance, summed into one
    * z. The day grid is O(horizon) small; at-risk counts come from
    * ONE [[graft.functions.ScaleWindows.rangeCumSums]] pass (at-risk
    * = total − exited-before), so nothing sequential touches the
    * user-level frame — it reduces to per-(day, group) counts in a
    * single groupBy. */
  val logRank: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val e = Tables(s, dir, "events")
    val entry = e.groupBy($"user_id").agg(min($"ts").as("entry"))
    val fp = e.filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(min($"ts").as("conv"))
    val horizon = 7L
    val durs = entry.join(fp, Seq("user_id"), "left")
      .select($"user_id", ($"user_id" % 2).as("g"),
        when($"conv".isNotNull &&
            datediff(to_date($"conv"), to_date($"entry")) <= horizon,
          datediff(to_date($"conv"), to_date($"entry")).cast("long"))
          .otherwise(lit(horizon)).as("d"),
        when($"conv".isNotNull &&
            datediff(to_date($"conv"), to_date($"entry")) <= horizon,
          1L).otherwise(0L).as("evt"))
    val grid = durs.groupBy($"d").agg(
      sum(when($"g" === 0, 1L).otherwise(0L)).as("x0"),
      sum(when($"g" === 1, 1L).otherwise(0L)).as("x1"),
      sum(when($"g" === 0 && $"evt" === 1, 1L).otherwise(0L)).as("d0"),
      sum(when($"g" === 1 && $"evt" === 1, 1L).otherwise(0L)).as("d1"))
      .trunkCheckpoint()
    // totals from the O(horizon) grid, NOT a second pass over the
    // user-level frame (which would re-run the per-user reduction)
    val tot = grid.agg(sum($"x0").as("t0"), sum($"x1").as("t1"))
    val cum = ScaleWindows.rangeCumSums(grid, Seq($"d"),
      Seq(col("x0") -> "e0", col("x1") -> "e1"))
    val terms = cum.crossJoin(broadcast(tot))
      .filter($"d0" + $"d1" > 0)
      .select($"d", ($"t0" - $"e0").as("r0"), ($"t1" - $"e1").as("r1"),
        $"d0", $"d1")
      .selectExpr("d", "r0", "r1", "d0", "d1",
        // E1 = d·r1/r ; V = d·(r0·r1)·(r−d)/(r²(r−1)), all exact ints
        "CAST(d1 AS DOUBLE) - CAST(d0 + d1 AS DOUBLE) * r1 / (r0 + r1)" +
          " AS ome",
        "CASE WHEN r0 + r1 > 1 THEN" +
          " CAST(d0 + d1 AS DOUBLE) * r0 * r1 *" +
          " (r0 + r1 - d0 - d1) /" +
          " (CAST(r0 + r1 AS DOUBLE) * (r0 + r1) * (r0 + r1 - 1))" +
          " ELSE 0.0 END AS v")
      // quantize each day's term to micro so the cross-day sum is an
      // order-independent long sum (grid rows are O(horizon) anyway)
      .select(expr("CAST(round(1000000.0 * ome) AS BIGINT)").as("ome_u"),
        expr("CAST(round(1000000.0 * v) AS BIGINT)").as("v_u"))
    terms.agg(count(lit(1)).as("n_event_days"),
        sum($"ome_u").as("sum_ome_micro"), sum($"v_u").as("sum_v_micro"))
      .selectExpr("n_event_days", "sum_ome_micro", "sum_v_micro",
        "CAST(round(1000.0 * sum_ome_micro /" +
          " sqrt(1000000.0 * sum_v_micro)) AS BIGINT) AS z_milli")
  }

  // ---------------------- q358 segmented regression (break search)

  /** q358 — single structural-break search on the daily revenue
    * series: for every candidate breakpoint on a bounded grid (every
    * 90th day, 180-day margins), fit BOTH segment OLS lines in closed
    * form and keep the SSE-minimizing split — the piecewise complement
    * of q183's CUSUM (which locates mean shifts, not slope breaks)
    * and q197's feature-split stump. The daily frame is O(days) and
    * broadcastable; candidates × days is a few-thousand-row crossJoin
    * of two bounded frames; every segment moment (n, Σx, Σy, Σxy,
    * Σx², Σy²) is an exact long/decimal sum, so each candidate's SSE
    * is ONE deterministic double expression and the argmin is
    * engine-stable (ties break on earlier day). */
  val segmentedRegression: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "orders")
      .groupBy(datediff(to_date($"o_orderdate"),
        lit("1995-01-01").cast("date")).cast("long").as("x"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("y"))
    val bounds = daily.agg(max($"x").as("xmax"))
    val cands = daily.crossJoin(broadcast(bounds))
      .filter($"x" % 90 === 0 && $"x" >= 180 && $"x" <= $"xmax" - 180)
      .select($"x".as("c")).distinct()
    val sides = daily.crossJoin(broadcast(cands))
      .select($"c", when($"x" < $"c", 0L).otherwise(1L).as("side"),
        $"x", $"y")
      .groupBy($"c", $"side")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum(dec($"x") * dec($"x")).as("qxx"),
        sum(dec($"x") * dec($"y")).as("qxy"),
        sum(dec($"y") * dec($"y")).as("qyy"))
      .selectExpr("c", "side", "n",
        "(CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) -" +
          " POW(CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n, 2) /" +
          " (CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS sse",
        "(CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) /" +
          " (CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS slope")
    val perC = sides.groupBy($"c").agg(
      sum($"sse").as("sse_tot"),
      sum(when($"side" === 0, $"slope")).as("slope_lo"),
      sum(when($"side" === 1, $"slope")).as("slope_hi"))
    val best = perC.agg(min(struct($"sse_tot", $"c")).as("b"))
      .select($"b.c".as("c"))
    perC.join(broadcast(best), Seq("c"))
      .select($"c".as("break_day"),
        expr("CAST(round(sse_tot / 1000000.0) AS BIGINT)")
          .as("sse_mega"),
        expr("CAST(round(1000.0 * slope_lo) AS BIGINT)")
          .as("slope_lo_milli"),
        expr("CAST(round(1000.0 * slope_hi) AS BIGINT)")
          .as("slope_hi_milli"))
  }

  // ------------------- q359 weighted Jaccard between sources

  /** q359 — weighted Jaccard Σmin/Σmax between source term-FREQUENCY
    * profiles over the global top-200 vocabulary (q221 compares
    * vocabularies as sets; this weighs them, which is what actually
    * separates near-identical scrapes from topical cousins). The
    * identity Σmax = T_a + T_b − Σmin means only the Σmin join over
    * COMMON terms is needed — absent terms enter through the totals.
    * Vocab is a 200-row broadcast; the pair frame is sources², built
    * from a broadcast cross of the O(sources) totals; the only real
    * shuffle keys on term. Exact integer counts end in one integral
    * division. */
  val weightedJaccard: Q = (s, dir) => {
    import s.implicits._
    val toks = Tables(s, dir, "documents")
      .select($"source", explode(split(lower($"text"), "[^a-z]+"))
        .as("term"))
      .filter($"term" =!= "")
    // tf pinned (vocab×sources-bounded): read by the top-200 census
    // and the profile join — lazy, the corpus explode ran twice. prof
    // pinned (200×sources rows): read by the totals and both sides of
    // the Σmin self-join.
    val tf = toks.groupBy($"source", $"term").agg(count(lit(1)).as("f"))
      .trunkCheckpoint()
    val top = tf.groupBy($"term").agg(sum($"f").as("tot"))
      .orderBy($"tot".desc, $"term".asc).limit(200).select($"term")
    val prof = tf.join(broadcast(top), Seq("term")).trunkCheckpoint()
    val totals = prof.groupBy($"source").agg(sum($"f").as("t"))
    val mins = prof.select($"term", $"source".as("sa"), $"f".as("fa"))
      .join(prof.select($"term", $"source".as("sb"), $"f".as("fb")),
        Seq("term"))
      .filter($"sa" < $"sb")
      .groupBy($"sa", $"sb").agg(sum(least($"fa", $"fb")).as("smin"))
    totals.select($"source".as("sa"), $"t".as("ta"))
      .crossJoin(broadcast(totals.select($"source".as("sb"),
        $"t".as("tb"))))
      .filter($"sa" < $"sb")
      .join(mins, Seq("sa", "sb"), "left")
      .na.fill(0L, Seq("smin"))
      .select($"sa", $"sb", $"smin", ($"ta" + $"tb" - $"smin").as("smax"),
        expr("1000000 * smin div (ta + tb - smin)").as("wj_micro"))
  }

  // ------------------------ q360 Kendall's W (concordance)

  /** q360 — Kendall's coefficient of concordance: do the seven
    * yearly revenue rankings of nations AGREE (q246's pairwise τ
    * lifted to m judges)? Rankings use row_number partitioned BY
    * YEAR (scale-safe window; one partition per judge), restricted
    * to nations present in every year so all judges rank the same
    * slate. With doubled deviations 2R_i − m(n+1), both W and its
    * χ² = m(n−1)W are exact integer ratios until one final
    * quantization. Frames: cells O(nations×years), rank sums
    * O(nations). */
  val kendallW: Q = (s, dir) => {
    import s.implicits._
    val cells = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer").select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .groupBy(year(to_date($"o_orderdate")).cast("long").as("yr"),
        $"c_nationkey".as("nat"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
      .trunkCheckpoint()
    // cells pinned (O(nations×years)): read by the year census, the
    // completeness filter and the rank window — lazy, the
    // orders⋈customer rollup ran 3×. sums likewise feeds both the
    // slate-size aggregate and the deviation pass.
    val nYears = cells.select($"yr").distinct().agg(count(lit(1)).as("m"))
    val complete = cells.groupBy($"nat").agg(count(lit(1)).as("k"))
      .crossJoin(broadcast(nYears)).filter($"k" === $"m").select($"nat")
    val ranked = cells.join(broadcast(complete), Seq("nat"))
      .withColumn("r", row_number().over(Window.partitionBy($"yr")
        .orderBy($"cents".desc, $"nat".asc)).cast("long"))
    val sums = ranked.groupBy($"nat").agg(sum($"r").as("ri"))
      .trunkCheckpoint()
    // two-pass: n (the slate size) is needed inside each deviation,
    // so aggregate it first and close over the one-row broadcast
    val nm = sums.crossJoin(broadcast(nYears))
      .agg(count(lit(1)).as("n"), first($"m").as("m"))
    sums.crossJoin(broadcast(nm))
      .select((($"ri" * 2 - $"m" * ($"n" + 1)) *
        ($"ri" * 2 - $"m" * ($"n" + 1))).as("d2"), $"n", $"m")
      .groupBy($"n", $"m").agg(sum($"d2").as("sd2"))
      .selectExpr("n", "m",
        "CAST(round(1000000.0 * 3.0 * sd2 /" +
          " (CAST(m AS DOUBLE) * m * n * (CAST(n AS DOUBLE) * n - 1)))" +
          " AS BIGINT) AS w_micro",
        "CAST(round(1000.0 * m * (n - 1) * (3.0 * sd2 /" +
          " (CAST(m AS DOUBLE) * m * n * (CAST(n AS DOUBLE) * n - 1))))" +
          " AS BIGINT) AS chi2_milli")
  }

  // ----------------- q361 two-way fixed-effects panel estimator

  /** q361 — two-way fixed-effects (within) estimator on the
    * nation × year panel: the effect of urgent-order share on mean
    * order value with nation AND year effects swept out — the
    * workhorse behind q271's DiD generalized to many groups and
    * periods. Restricted to the balanced sub-panel (nations present
    * every year) so the double-demeaning identity is exact; cell
    * metrics quantize to milli FIRST, making the scaled deviations
    * Ỹ = NT·y − N·S_i − T·S_t + S EXACT integers (the NT factors
    * cancel in β) — the β ratio is the only double. Cells are
    * O(N·T) with one groupBy; margins broadcast. */
  val twoWayFixedEffects: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer").select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey".as("nat"),
        year(to_date($"o_orderdate")).cast("long").as("yr"))
      .agg(count(lit(1)).as("n"),
        sum(round($"o_totalprice" * 100).cast("long")).as("s"),
        sum(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L))
          .as("u"))
      .selectExpr("nat", "yr",
        "CAST(round(1000.0 * s / n) AS BIGINT) AS y_milli",
        "CAST(round(1000.0 * u / n) AS BIGINT) AS x_milli")
      .trunkCheckpoint()
    // cells pinned (read 3×: year census, completeness, balance join);
    // bal pinned (read 4×: both margins, the totals row and the
    // demeaning join) — both O(nations×years)
    val nYears = cells.select($"yr").distinct().agg(count(lit(1)).as("tt"))
    val complete = cells.groupBy($"nat").agg(count(lit(1)).as("k"))
      .crossJoin(broadcast(nYears)).filter($"k" === $"tt").select($"nat")
    val bal = cells.join(broadcast(complete), Seq("nat"))
      .trunkCheckpoint()
    val si = bal.groupBy($"nat").agg(sum($"y_milli").as("siy"),
      sum($"x_milli").as("six"))
    val st = bal.groupBy($"yr").agg(sum($"y_milli").as("sty"),
      sum($"x_milli").as("stx"))
    val tot = bal.agg(sum($"y_milli").as("sy"), sum($"x_milli").as("sx"),
      countDistinct($"nat").as("nn"), countDistinct($"yr").as("tt"))
    val dem = bal.join(si, Seq("nat")).join(broadcast(st), Seq("yr"))
      .crossJoin(broadcast(tot))
      .select(
        ($"nn" * $"tt" * $"y_milli" - $"nn" * $"siy" - $"tt" * $"sty"
          + $"sy").as("yd"),
        ($"nn" * $"tt" * $"x_milli" - $"nn" * $"six" - $"tt" * $"stx"
          + $"sx").as("xd"))
    dem.agg(count(lit(1)).as("n_cells"),
        sum(dec($"xd") * dec($"yd")).as("sxy"),
        sum(dec($"xd") * dec($"xd")).as("sxx"))
      .selectExpr("n_cells",
        "CAST(round(1000000.0 * CAST(sxy AS DOUBLE) /" +
          " CAST(sxx AS DOUBLE)) AS BIGINT) AS beta_micro")
  }

  // --------------------------- q362 geometric-mean KPI

  /** q362 — per-priority geometric mean of order value: the
    * multiplicative average that latency/price KPIs call for.
    * The log transform is quantized PER ROW (round(1e6·ln cents) as
    * a long) so the grouped sum is order-independent — the repo's
    * standard defense against distributed float-sum drift — and the
    * final exp runs on the O(groups) frame. */
  val geoMean: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "orders")
      .select($"o_orderpriority",
        expr("CAST(round(1000000.0 *" +
          " ln(CAST(round(o_totalprice * 100) AS BIGINT))) AS BIGINT)")
          .as("l_micro"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"l_micro").as("sl"))
      .selectExpr("o_orderpriority", "n",
        "CAST(round(exp(CAST(sl AS DOUBLE) / n / 1000000.0)) AS BIGINT)" +
          " AS geo_cents")
      .orderBy($"o_orderpriority")
  }

  // ------------------ q363 unigram negative-sampling table

  /** q363 — word2vec-style negative-sampling table: the top-1000
    * vocabulary weighted by freq^0.75 (Mikolov et al. 2013), drawn
    * K = 500 times by the same deterministic PPS-systematic pass as
    * q355 — the standard way to materialize a sampling table once
    * and share it across a training fleet instead of sampling per
    * worker. Cumulative axis via
    * [[graft.functions.ScaleWindows.rangeCumSum]] over the term
    * order; freq^0.75 quantizes per term before the cumsum so the
    * grid is exact integers. */
  val negativeSampling: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val k = 500L
    val tf = Tables(s, dir, "documents")
      .select(explode(split(lower($"text"), "[^a-z]+")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"term").agg(count(lit(1)).as("f"))
    val top = tf.orderBy($"f".desc, $"term".asc).limit(1000)
      .select($"term", $"f",
        expr("CAST(round(1000.0 * POW(f, 0.75)) AS BIGINT)").as("w"))
    val cum = ScaleWindows.rangeCumSum(top, Seq($"term"), $"w", "c_lo")
    val tot = top.agg(sum($"w").as("s"))
    cum.crossJoin(broadcast(tot))
      .select($"term", $"f", $"w",
        (expr(s"CAST((c_lo + w) AS DECIMAL(38,0)) * $k div s") -
          expr(s"CAST(c_lo AS DECIMAL(38,0)) * $k div s")).cast("long")
          .as("m"))
      .filter($"m" > 0)
      .select($"term", $"f", $"w", $"m")
  }

  // ---------------- q364 propensity-score matching (1-NN, caliper)

  /** q364 — propensity-score 1-NN caliper matching for the ATT,
    * closing the causal toolkit's third leg (q340 stratifies, q352
    * reweights, this MATCHES): every treated order pairs with its
    * nearest control on the LPM propensity within a 0.05 caliper.
    * Nearest-neighbor search over a global order WITHOUT sorting the
    * world: two [[graft.functions.ScaleWindows.rangeCumMax]] passes
    * (backward and forward along the p axis, controls ordered before
    * treated at ties so the exclusive prefix is inclusive of equal-p
    * controls) yield each treated row's bracketing control scores;
    * the closer side wins (ties backward). Controls collapse to one
    * deterministic representative per distinct score (min orderkey),
    * so the match join is a keyed equi-join. The paired difference
    * is EXACT cents; one long sum ends it. */
  val psmAtt: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal"), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey",
        when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L).as("t"),
        round($"o_totalprice" * 100).cast("long").as("y"),
        round($"c_acctbal" * 100).cast("long").as("x1"),
        datediff(to_date($"o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("x2"))
    val m = rows.agg(count(lit(1)).as("n"),
      sum(dec($"x1")).as("sx1"), sum(dec($"x2")).as("sx2"),
      sum(($"t" * lit(1000000L)).cast("decimal(38,0)")).as("st"),
      sum(dec($"x1") * dec($"x1")).as("q11"),
      sum(dec($"x2") * dec($"x2")).as("q22"),
      sum(dec($"x1") * dec($"x2")).as("q12"),
      sum(dec($"x1") * dec($"t" * lit(1000000L))).as("q1t"),
      sum(dec($"x2") * dec($"t" * lit(1000000L))).as("q2t"))
    val b = m.selectExpr("n", "sx1", "sx2", "st",
      "CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / n AS s11",
      "CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / n AS s22",
      "CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE) / n AS s12",
      "CAST(q1t AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(st AS DOUBLE) / n AS s1t",
      "CAST(q2t AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(st AS DOUBLE) / n AS s2t")
      .selectExpr("n", "sx1", "sx2", "st",
        "(s22 * s1t - s12 * s2t) / (s11 * s22 - s12 * s12) AS b1",
        "(s11 * s2t - s12 * s1t) / (s11 * s22 - s12 * s12) AS b2")
    // localCheckpoint: four consumers below (both rangeCumMax passes,
    // the control representative, the treated count) would otherwise
    // re-run the join + scoring pipeline once each
    val scored = rows.crossJoin(broadcast(b))
      .selectExpr("o_orderkey", "t", "y",
        "CAST(round(CAST(st AS DOUBLE) / n +" +
          " b1 * (x1 - CAST(sx1 AS DOUBLE) / n) +" +
          " b2 * (x2 - CAST(sx2 AS DOUBLE) / n)) AS BIGINT) AS p")
      .trunkCheckpoint()
    val back = ScaleWindows.rangeCumMax(scored,
      Seq($"p", $"t", $"o_orderkey"),
      when($"t" === 0, $"p"), "p_back")
    val fwd = ScaleWindows.rangeCumMax(scored,
      Seq((-$"p").as("np"), $"t", $"o_orderkey"),
      when($"t" === 0, -$"p"), "np_fwd")
      .select($"o_orderkey".as("ok2"), (-$"np_fwd").as("p_fwd"))
    val treated = back.join(fwd, $"o_orderkey" === $"ok2")
      .filter($"t" === 1)
      .selectExpr("o_orderkey", "y", "p",
        "CASE WHEN p_back IS NULL AND p_fwd IS NULL THEN NULL" +
          " WHEN p_fwd IS NULL THEN p_back" +
          " WHEN p_back IS NULL THEN p_fwd" +
          " WHEN p - p_back <= p_fwd - p THEN p_back" +
          " ELSE p_fwd END AS p_match")
      .filter($"p_match".isNotNull && abs($"p" - $"p_match") <= 50000L)
    val rep = scored.filter($"t" === 0)
      .groupBy($"p".as("p_match"))
      .agg(min(struct($"o_orderkey", $"y")).as("r"))
      .select($"p_match", $"r.y".as("y_ctrl"))
    val nT = scored.filter($"t" === 1).agg(count(lit(1)).as("n_treated"))
    treated.join(rep, Seq("p_match"))
      .agg(count(lit(1)).as("n_matched"),
        sum($"y" - $"y_ctrl").as("sum_diff_cents"))
      .crossJoin(broadcast(nT))
      .selectExpr("n_treated", "n_matched",
        "CAST(round(1000.0 * sum_diff_cents / n_matched) AS BIGINT)" +
          " AS att_milli_cents")
  }

  // ------------------------- q365 grid-DBSCAN (density clusters)

  /** q365 — grid-density clustering (the DBSCAN shape that actually
    * scales): customers land in fixed 2-D cells over
    * (account balance, total spend); cells with >= 5 points are
    * dense; dense cells CONNECT through 8-neighborhood adjacency and
    * components come from the repo's
    * [[graft.functions.ConnectedComponents.minLabel]] O(log n)
    * machinery — never a point-to-point distance join. The neighbor
    * join is a 9-way keyed equi-join on cell id (cells are
    * unit-spaced, so neighbor ids are arithmetic); everything after
    * the first groupBy is O(dense cells). Output: one row per
    * cluster with cell/point tallies, cluster id = min cell id. */
  val gridDbscan: Q = (s, dir) => {
    import s.implicits._
    val spend = Tables(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("sp"))
    val pts = Tables(s, dir, "customer")
      .join(spend, $"c_custkey" === $"o_custkey", "left")
      .na.fill(0L, Seq("sp"))
      .select(
        expr("CAST(round(c_acctbal * 100) + 100000 AS BIGINT) div 220000")
          .as("cx"),
        expr("sp div 20000000").as("cy"))
    // localCheckpoint: dense feeds the edge join twice (source and
    // neighbor side) plus the final label join — O(cells) rows, so
    // pinning is free and saves three base-scan re-runs
    val dense = pts.groupBy($"cx", $"cy").agg(count(lit(1)).as("np"))
      .filter($"np" >= 5)
      .select(($"cx" * 100000L + $"cy").as("id"), $"cx", $"cy", $"np")
      .trunkCheckpoint()
    val offs = Seq(-1L, 0L, 1L)
      .flatMap(dx => Seq(-1L, 0L, 1L).map(dy => (dx, dy)))
      .filter { case (dx, dy) => dx != 0 || dy != 0 }
    val offsets = offs.toDF("dx", "dy")
    val edges = dense.select($"id", $"cx", $"cy")
      .crossJoin(broadcast(offsets))
      .select($"id".as("src"), ($"cx" + $"dx").as("nx"),
        ($"cy" + $"dy").as("ny"))
      .join(dense.select($"id".as("dst"), $"cx".as("nx"),
        $"cy".as("ny")), Seq("nx", "ny"))
      .filter($"src" < $"dst")
      .select($"src", $"dst")
    val comp = graft.functions.ConnectedComponents.minLabel(
      dense.select($"id"), edges)
    dense.join(comp, Seq("id"))
      .groupBy($"component".as("cluster"))
      .agg(count(lit(1)).as("n_cells"), sum($"np").as("n_points"))
      .orderBy($"cluster")
  }

  // ----------------- q366 Anderson-Darling uniformity test

  /** q366 — Anderson–Darling test that sub-dollar cent fractions are
    * uniform (the order-statistic complement of q158's Benford
    * first-digit audit — AD weights the tails where chi-square
    * (q194) is blind). Ranks come from ONE
    * [[graft.functions.ScaleWindows.rangeCumSum]] pass (no global
    * sort); the reverse-order-statistic pairing folds into a single
    * per-row term (2r−1)·ln F + (2(n−r)+1)·ln(1−F) via j = n+1−i,
    * quantized to micro PER ROW so the statistic's sum is an
    * order-independent long. Lattice-centered F = (c+0.5)/1000
    * keeps both logs finite. */
  val adUniform: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val rows = Tables(s, dir, "orders")
      .select($"o_orderkey",
        (round($"o_totalprice" * 100).cast("long") % 1000L).as("frac"))
    val ranked = ScaleWindows.rangeCumSum(rows,
      Seq($"frac", $"o_orderkey"), lit(1L), "rk")
    val n = rows.agg(count(lit(1)).as("nn"))
    val terms = ranked.crossJoin(broadcast(n))
      .selectExpr("nn",
        "CAST(round(1000000.0 * (" +
          "(2.0 * (rk + 1) - 1) * ln((frac + 0.5) / 1000.0) +" +
          "(2.0 * (nn - (rk + 1)) + 1) * ln(1.0 - (frac + 0.5) / 1000.0)" +
          ")) AS BIGINT) AS term_micro")
    terms.groupBy($"nn").agg(sum($"term_micro").as("st"))
      .selectExpr("nn AS n",
        "CAST(round(1000.0 * (-CAST(nn AS DOUBLE) -" +
          " CAST(st AS DOUBLE) / 1000000.0 / nn)) AS BIGINT)" +
          " AS a2_milli")
  }

  // ------------------ q367 centroid silhouette (cluster quality)

  /** q367 — simplified (centroid) silhouette per label over the
    * 64-dim embeddings: a = distance to the own-label centroid, b =
    * distance to the nearest other centroid, s = (b−a)/max(a,b) —
    * the cluster-quality score batch eval jobs attach to every
    * clustering run (q238 measures purity against sources; this
    * needs no external reference). Centroids stay EXACT as
    * (Σcoord, n) pairs; every point-centroid distance numerator
    * Σ(v·n − sv)² is an exact decimal sum (order-independent),
    * divided by n² once — so the argmin over centroids is
    * engine-stable. Per-point s quantizes to micro before the
    * per-label mean. Point×centroid fan-out is points × K with K
    * bounded (the centroid frame broadcasts). */
  val silhouette: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val coords = Tables(s, dir, "embeddings")
      .select($"vec_id", $"label", posexplode($"embedding")
        .as(Seq("dim", "x")))
      .select($"vec_id", $"label", $"dim",
        round($"x".cast("double") * 1000000.0).cast("long").as("v"))
    val cent = coords.groupBy($"label".as("clab"), $"dim")
      .agg(sum($"v").as("sv"), count(lit(1)).as("nc"))
    val d2 = coords.join(cent, Seq("dim"))
      .groupBy($"vec_id", $"label", $"clab")
      .agg(sum(dec($"v" * $"nc" - $"sv") * dec($"v" * $"nc" - $"sv"))
        .as("num"), first($"nc").as("nc"))
      .selectExpr("vec_id", "label", "clab",
        "sqrt(CAST(num AS DOUBLE)) / nc AS dist")
    val ab = d2.groupBy($"vec_id", $"label")
      .agg(sum(when($"clab" === $"label", $"dist")).as("a"),
        min(when($"clab" =!= $"label", $"dist")).as("b"))
      .selectExpr("vec_id", "label",
        "CAST(round(1000000.0 * CASE WHEN greatest(a, b) > 0" +
          " THEN (b - a) / greatest(a, b) ELSE 0.0 END) AS BIGINT)" +
          " AS s_micro")
    ab.groupBy($"label")
      .agg(count(lit(1)).as("n"), sum($"s_micro").as("ss"))
      .selectExpr("label", "n",
        "CAST(round(CAST(ss AS DOUBLE) / n) AS BIGINT)" +
          " AS mean_sil_micro")
      .orderBy($"label")
  }

  // ---------------------- q368 deterministic RANSAC line fit

  /** q368 — RANSAC line fit on the daily revenue series with a
    * DETERMINISTIC hypothesis grid (anchor days every 240 days, all
    * anchor pairs as candidate lines) instead of random sampling —
    * same robustness contract (q177's Theil–Sen resists ~29%
    * outliers; RANSAC's consensus count survives worse), fully
    * reproducible and oracle-checkable. Inlier tests are EXACT
    * integer cross-products |(y−y₁)Δx − (x−x₁)Δy| ≤ band·Δx — no
    * division anywhere until the final OLS refit on the winning
    * consensus set. Candidates × days is a bounded crossJoin
    * (O(anchors²·days)); the winner is one broadcast row. */
  val ransacLine: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "orders")
      .groupBy(datediff(to_date($"o_orderdate"),
        lit("1995-01-01").cast("date")).cast("long").as("x"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("y"))
    val anchors = daily.filter($"x" % 240 === 0)
      .select($"x".as("ax"), $"y".as("ay"))
    val cands = anchors.select($"ax".as("x1"), $"ay".as("y1"))
      .crossJoin(broadcast(anchors.select($"ax".as("x2"),
        $"ay".as("y2"))))
      .filter($"x1" < $"x2")
    val band = 5000000L
    val scoredCands = daily.crossJoin(broadcast(cands))
      .filter(abs(dec(($"y" - $"y1")) * dec($"x2" - $"x1") -
        dec($"x" - $"x1") * dec($"y2" - $"y1"))
        <= dec(lit(band)) * dec($"x2" - $"x1"))
      .groupBy($"x1", $"y1", $"x2", $"y2")
      .agg(count(lit(1)).as("n_inliers"))
    val best = scoredCands
      .agg(max(struct($"n_inliers", (-$"x1").as("nx1"),
        (-$"x2").as("nx2"))).as("b"))
      .select((-$"b.nx1").as("x1"), (-$"b.nx2").as("x2"),
        $"b.n_inliers".as("n_best"))
    val win = cands.join(broadcast(best), Seq("x1", "x2"))
    val refit = daily.crossJoin(broadcast(win))
      .filter(abs(dec(($"y" - $"y1")) * dec($"x2" - $"x1") -
        dec($"x" - $"x1") * dec($"y2" - $"y1"))
        <= dec(lit(band)) * dec($"x2" - $"x1"))
      .groupBy($"x1", $"x2", $"n_best")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum(dec($"x") * dec($"x")).as("qxx"),
        sum(dec($"x") * dec($"y")).as("qxy"))
    refit.selectExpr("x1", "x2", "n_best AS n_inliers",
      "CAST(round(1000.0 * (CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE)" +
        " * sy / n) / (CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE)" +
        " * sx / n)) AS BIGINT) AS slope_milli",
      "CAST(round(CAST(sy AS DOUBLE) / n - ((CAST(qxy AS DOUBLE) -" +
        " CAST(sx AS DOUBLE) * sy / n) / (CAST(qxx AS DOUBLE) -" +
        " CAST(sx AS DOUBLE) * sx / n)) * sx / n) AS BIGINT)" +
        " AS intercept_cents")
  }

  // ------------- q369 empirical-Bayes Beta-binomial shrinkage

  /** q369 — empirical-Bayes shrinkage of per-source quality rates
    * under a Beta-binomial model (the rate counterpart of q326's
    * James–Stein for means): method-of-moments α, β from the
    * across-source rate spread, then every source's rate pulls
    * toward the grand mean by its own sample size — small sources
    * shrink hard, big ones barely move. Per-source rates quantize
    * to micro BEFORE the cross-source moments (exact longs on the
    * O(sources) frame); α, β and the posterior means are single
    * deterministic double expressions. One groupBy(source), one
    * one-row broadcast. */
  val ebBetaShrinkage: Q = (s, dir) => {
    import s.implicits._
    val src = Tables(s, dir, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("n"),
        sum(when($"n_chars" > 300, 1L).otherwise(0L)).as("k"))
      .select($"source", $"n", $"k",
        expr("CAST(round(1000000.0 * k / n) AS BIGINT)").as("r_micro"))
    val mom = src.agg(count(lit(1)).as("g"),
      sum($"r_micro").as("sr"),
      sum($"r_micro" * $"r_micro").as("qr"))
      .selectExpr("g",
        "CAST(sr AS DOUBLE) / g / 1000000.0 AS m",
        "(CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE) * sr / g) /" +
          " (g - 1) / 1000000.0 / 1000000.0 AS v")
      .selectExpr("m", "v",
        "m * (m * (1.0 - m) / v - 1.0) AS alpha",
        "(1.0 - m) * (m * (1.0 - m) / v - 1.0) AS beta")
    src.crossJoin(broadcast(mom))
      .select($"source", $"n", $"k", $"r_micro",
        expr("CAST(round(1000000.0 * (k + alpha) / (n + alpha + beta))" +
          " AS BIGINT)").as("eb_micro"))
      .orderBy($"source")
  }

  // -------------- q370 Hosmer-Lemeshow calibration GOF

  /** q370 — Hosmer–Lemeshow goodness-of-fit for the LPM propensity
    * (the grouped chi-square that q224's ECE reports as a mean
    * absolute gap): decile groups along the predicted score via the
    * same rangeCumSum rank backbone, observed vs expected urgent
    * counts per group, Σ(O−E)²∕(E(1−E/n)) with E kept as an EXACT
    * micro-sum of the integer scores. Per-group terms quantize to
    * micro before the final 10-row sum. */
  val hosmerLemeshow: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal"), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey",
        when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L).as("t"),
        round($"c_acctbal" * 100).cast("long").as("x1"),
        datediff(to_date($"o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("x2"))
    val m = rows.agg(count(lit(1)).as("n"),
      sum(dec($"x1")).as("sx1"), sum(dec($"x2")).as("sx2"),
      sum(($"t" * lit(1000000L)).cast("decimal(38,0)")).as("st"),
      sum(dec($"x1") * dec($"x1")).as("q11"),
      sum(dec($"x2") * dec($"x2")).as("q22"),
      sum(dec($"x1") * dec($"x2")).as("q12"),
      sum(dec($"x1") * dec($"t" * lit(1000000L))).as("q1t"),
      sum(dec($"x2") * dec($"t" * lit(1000000L))).as("q2t"))
    val b = m.selectExpr("n", "sx1", "sx2", "st",
      "CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / n AS s11",
      "CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / n AS s22",
      "CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE) / n AS s12",
      "CAST(q1t AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(st AS DOUBLE) / n AS s1t",
      "CAST(q2t AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(st AS DOUBLE) / n AS s2t")
      .selectExpr("n", "sx1", "sx2", "st",
        "(s22 * s1t - s12 * s2t) / (s11 * s22 - s12 * s12) AS b1",
        "(s11 * s2t - s12 * s1t) / (s11 * s22 - s12 * s12) AS b2")
    val scored = rows.crossJoin(broadcast(b))
      .selectExpr("o_orderkey", "t",
        "CAST(round(CAST(st AS DOUBLE) / n +" +
          " b1 * (x1 - CAST(sx1 AS DOUBLE) / n) +" +
          " b2 * (x2 - CAST(sx2 AS DOUBLE) / n)) AS BIGINT) AS p")
    val ranked = ScaleWindows.rangeCumSum(scored,
      Seq($"p", $"o_orderkey"), lit(1L), "rk")
    val n = rows.agg(count(lit(1)).as("nn"))
    val cells = ranked.crossJoin(broadcast(n))
      .select(expr("rk * 10 div nn").as("g"), $"t", $"p")
      .groupBy($"g")
      .agg(count(lit(1)).as("ng"), sum($"t").as("og"), sum($"p").as("ep"))
    val terms = cells.selectExpr("g",
      "CAST(round(1000000.0 *" +
        " POW(og - CAST(ep AS DOUBLE) / 1000000.0, 2) /" +
        " ((CAST(ep AS DOUBLE) / 1000000.0) *" +
        "  (1.0 - CAST(ep AS DOUBLE) / 1000000.0 / ng))) AS BIGINT)" +
        " AS term_micro")
    terms.agg(count(lit(1)).as("n_groups"), sum($"term_micro").as("st"))
      .selectExpr("n_groups", "(n_groups - 2) AS df",
        "CAST(round(CAST(st AS DOUBLE) / 1000.0) AS BIGINT)" +
          " AS hl_milli")
  }

  // --------------------- q371 intraclass correlation ICC(1)

  /** q371 — one-way random-effects intraclass correlation of document
    * length by source (Shrout & Fleiss ICC(1)): how much of the
    * length variance is BETWEEN sources — the reliability number
    * behind "is source a meaningful grouping for stratification?"
    * (q253 tests the same decomposition; ICC reports its magnitude).
    * MSB/MSW come from the O(sources) moment frame with Σchars²
    * in decimal(38,0); the unbalanced-design n₀ correction
    * (N − Σn_g²/N)/(G−1) is exact integer arithmetic over the same
    * frame. One groupBy, one one-row output. */
  val icc1: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = Tables(s, dir, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("sv"),
        sum(dec($"n_chars") * dec($"n_chars")).as("qv"))
    val agg = g.agg(count(lit(1)).as("gg"), sum($"n").as("nn"),
      sum($"sv").as("st"), sum($"qv").as("qt"),
      sum($"n" * $"n").as("sn2"),
      // SSW = Σ_g (Σv² − (Σv)²/n_g): quantize per GROUP (one row
      // each), exact until the division
      sum(expr("CAST(round(CAST(qv AS DOUBLE) -" +
        " CAST(sv AS DOUBLE) * sv / n) AS BIGINT)")).as("ssw"),
      sum(expr("CAST(round(CAST(sv AS DOUBLE) * sv / n) AS BIGINT)"))
        .as("ssb_base"))
    agg.selectExpr("gg", "nn",
      "CAST(ssb_base AS DOUBLE) - CAST(st AS DOUBLE) * st / nn AS ssb",
      "CAST(ssw AS DOUBLE) AS sswd",
      "(CAST(nn AS DOUBLE) - CAST(sn2 AS DOUBLE) / nn) / (gg - 1)" +
        " AS n0")
      .selectExpr("gg", "nn",
        "ssb / (gg - 1) AS msb", "sswd / (nn - gg) AS msw", "n0")
      .selectExpr("gg AS n_sources", "nn AS n_docs",
        "CAST(round(1000000.0 * (msb - msw) / (msb + (n0 - 1.0) * msw))" +
          " AS BIGINT) AS icc_micro")
  }

  // ------------------ q372 price indices (Laspeyres/Paasche/Fisher)

  /** q372 — classic index-number analytics between the first and
    * last order years: Laspeyres (base-weighted), Paasche
    * (current-weighted) and Fisher's ideal geometric mean over the
    * parts traded in BOTH years. Per-part unit values are rationals
    * Σprice/Σqty; each index term quantizes to micro-cents PER PART
    * (deterministic double of exact ints) before the long sums, so
    * the three ratios are order-independent. Everything shuffles on
    * the part key once per year; the output is one row. */
  val priceIndex: Q = (s, dir) => {
    import s.implicits._
    def yearAgg(yr: Int) = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders").select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .filter(year(to_date($"o_orderdate")) === yr)
      .groupBy($"l_partkey")
      .agg(sum(round($"l_extendedprice" * 100).cast("long")).as("e"),
        sum($"l_quantity".cast("long")).as("q"))
    val base = yearAgg(1995).select($"l_partkey", $"e".as("e0"),
      $"q".as("q0"))
    val cur = yearAgg(2000).select($"l_partkey", $"e".as("e1"),
      $"q".as("q1"))
    val terms = base.join(cur, Seq("l_partkey"))
      .selectExpr("l_partkey", "e0", "q0", "e1", "q1",
        // p1·q0 and p0·q1 as micro-cents, quantized per part
        "CAST(round(1000000.0 * e1 * q0 / q1) AS BIGINT) AS p1q0_u",
        "CAST(round(1000000.0 * e0 * q1 / q0) AS BIGINT) AS p0q1_u")
    terms.agg(count(lit(1)).as("n_parts"),
        sum($"e0").as("se0"), sum($"e1").as("se1"),
        sum($"p1q0_u").as("sp1q0"), sum($"p0q1_u").as("sp0q1"))
      .selectExpr("n_parts",
        "CAST(round(CAST(sp1q0 AS DOUBLE) / se0) AS BIGINT)" +
          " AS laspeyres_micro",
        "CAST(round(1000000.0 * 1000000.0 * se1 / sp0q1) AS BIGINT)" +
          " AS paasche_micro",
        "CAST(round(sqrt((CAST(sp1q0 AS DOUBLE) / se0) *" +
          " (1000000.0 * 1000000.0 * se1 / sp0q1))) AS BIGINT)" +
          " AS fisher_micro")
  }

  // ---------------- q373 Weibull fit of inter-arrival gaps

  /** q373 — Weibull shape/scale for user inter-event gaps by the
    * log-moment method (ln X of a Weibull is Gumbel-min: σ_lnX =
    * π/(k√6), E[lnX] = lnλ − γ/k) — the reliability/engagement
    * model behind "are events bursty (k<1) or regular (k>1)?",
    * next to q198/q330/q357's nonparametric survival tools. Gaps
    * come from ONE lag window partitioned per user (never global);
    * ln(gap) quantizes to micro per row; the Gumbel moment solve
    * runs on the one-row exact aggregate. */
  val weibullGaps: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val gaps = Tables(s, dir, "events")
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_id")
      .withColumn("gap_us", $"tus" - lag($"tus", 1).over(w))
      .filter($"gap_us" > 0)
      .select(expr("CAST(round(1000000.0 * ln(gap_us)) AS BIGINT)")
        .as("l"))
    gaps.agg(count(lit(1)).as("n"), sum($"l").as("sl"),
        sum(dec($"l") * dec($"l")).as("ql"))
      .selectExpr("n",
        "CAST(sl AS DOUBLE) / n / 1000000.0 AS mu",
        "sqrt((CAST(ql AS DOUBLE) - CAST(sl AS DOUBLE) * sl / n)" +
          " / (n - 1)) / 1000000.0 AS sigma")
      .selectExpr("n",
        "CAST(round(1000.0 * pi() / (sigma * sqrt(6.0))) AS BIGINT)" +
          " AS k_milli",
        "CAST(round(exp(mu + 0.5772156649015329 /" +
          " (pi() / (sigma * sqrt(6.0))))) AS BIGINT) AS lambda_us")
  }

  // -------------- q374 detrended fluctuation analysis (DFA)

  /** q374 — DFA-1 scaling exponent of the daily revenue series, the
    * nonstationarity-robust complement of q320's rescaled-range
    * Hurst: the mean-centered cumulative profile is detrended per
    * block at scales {8,16,32,64} days and α is the log-log slope
    * of the fluctuation function. The profile is kept EXACT as
    * N·P(t) − t·S (inclusive prefix sum from one
    * [[graft.functions.ScaleWindows.rangeCumSum]] pass — no global
    * sort); per-block SSEs come from exact decimal moments of
    * (t, profile); the 4-point log-log OLS is closed-form on the
    * O(scales) frame. */
  val dfa: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "orders")
      .groupBy(datediff(to_date($"o_orderdate"),
        lit("1995-01-01").cast("date")).cast("long").as("t"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("y"))
    val idx = ScaleWindows.rangeCumSums(daily, Seq($"t"),
      Seq(col("y") -> "p_ex", lit(1L) -> "r_ex"))
    val tot = daily.agg(sum($"y").as("s"), count(lit(1)).as("nn"))
    // profile at rank r (1-based, inclusive): Yr = P(r) − r·S/N with
    // the linear term quantized per row — keeps |Yr| at
    // random-walk-deviation scale so per-block SSE stays in int64
    // headroom after the 1e-6 quantization below
    val prof = idx.crossJoin(broadcast(tot))
      .select(($"r_ex" + 1L).as("r"),
        (($"p_ex" + $"y") -
          expr("CAST(round(CAST(r_ex + 1 AS DOUBLE) * s / nn)" +
            " AS BIGINT)")).as("yp"),
        $"nn")
    val scales = Seq(8L, 16L, 32L, 64L).toDF("sc")
    val blocks = prof.crossJoin(broadcast(scales))
      .select($"sc", expr("(r - 1) div sc").as("blk"), $"r", $"yp", $"nn")
      // drop the ragged tail block so every block has exactly sc rows
      .filter(expr("(r - 1) div sc") < expr("nn div sc"))
      .groupBy($"sc", $"blk")
      .agg(count(lit(1)).as("n"), sum($"r").as("sx"), sum($"yp").as("sy"),
        sum(dec($"r") * dec($"r")).as("qxx"),
        sum(dec($"r") * dec($"yp")).as("qxy"),
        sum(dec($"yp") * dec($"yp")).as("qyy"))
      .selectExpr("sc",
        "(CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) -" +
          " POW(CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n, 2) /" +
          " (CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS sse",
        "n")
      // per-block SSE quantized (1e-6 cents² units) before the
      // cross-block mean — order-independent and overflow-safe
      .select($"sc", $"n",
        expr("CAST(round(sse / 1000000.0) AS BIGINT)").as("sse_q"))
    val fluct = blocks.groupBy($"sc")
      .agg(count(lit(1)).as("nb"), sum($"sse_q").as("ssum"))
      .selectExpr("sc",
        "CAST(round(1000000.0 * 0.5 *" +
          " ln(CAST(ssum AS DOUBLE) * 1000000.0 / (nb * sc)) )" +
          " AS BIGINT) AS lf_micro",
        "CAST(round(1000000.0 * ln(CAST(sc AS DOUBLE))) AS BIGINT)" +
          " AS ls_micro")
    fluct.agg(count(lit(1)).as("k"), sum($"ls_micro").as("sx"),
        sum($"lf_micro").as("sy"),
        sum(dec($"ls_micro") * dec($"ls_micro")).as("qxx"),
        sum(dec($"ls_micro") * dec($"lf_micro")).as("qxy"))
      .selectExpr("k AS n_scales",
        "CAST(round(1000.0 * (CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE)" +
          " * sy / k) / (CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE)" +
          " * sx / k)) AS BIGINT) AS alpha_milli")
  }

  // --------------------- q375 Atkinson inequality index

  /** q375 — Atkinson inequality index (ε = 1) of order value per
    * customer region: 1 − geomean/mean, the welfare-grounded
    * complement of q171's Gini and q339's Lorenz deciles (ε = 1
    * weights transfers at the bottom of the distribution). Log
    * values quantize per ROW (q362's defense), means stay exact
    * rationals, and the index is one deterministic expression per
    * O(regions) row. */
  val atkinsonIndex: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", ($"c_nationkey" % 5).cast("long").as("region")),
        $"o_custkey" === $"c_custkey")
      .select($"region",
        round($"o_totalprice" * 100).cast("long").as("y"),
        expr("CAST(round(1000000.0 *" +
          " ln(CAST(round(o_totalprice * 100) AS BIGINT))) AS BIGINT)")
          .as("l"))
      .groupBy($"region")
      .agg(count(lit(1)).as("n"), sum($"y").as("sy"), sum($"l").as("sl"))
      .selectExpr("region", "n",
        "CAST(round(1000000.0 * (1.0 -" +
          " exp(CAST(sl AS DOUBLE) / n / 1000000.0) /" +
          " (CAST(sy AS DOUBLE) / n))) AS BIGINT) AS atkinson_micro")
      .orderBy($"region")
  }

  // ------------------ q376 restricted mean survival time

  /** q376 — restricted mean survival time to first purchase at the
    * 7-day horizon: the area under the Kaplan–Meier curve, the
    * scalar effect measure survival analysts report when hazards
    * aren't proportional (q198 draws the curve; q357 tests it; this
    * integrates it). The KM product folds into a cumulative SUM of
    * per-day quantized ln(1−d/r); at-risk counts come from the same
    * grid reduction as q357; the integral is S(t) summed over a
    * LITERAL 7-row horizon frame joined to the event-day grid —
    * everything after the per-user groupBy is O(horizon). */
  val rmst: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "events")
    val entry = e.groupBy($"user_id").agg(min($"ts").as("entry"))
    val fp = e.filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(min($"ts").as("conv"))
    val horizon = 7L
    val durs = entry.join(fp, Seq("user_id"), "left")
      .select(
        when($"conv".isNotNull &&
            datediff(to_date($"conv"), to_date($"entry")) <= horizon,
          datediff(to_date($"conv"), to_date($"entry")).cast("long"))
          .otherwise(lit(horizon)).as("d"),
        when($"conv".isNotNull &&
            datediff(to_date($"conv"), to_date($"entry")) <= horizon,
          1L).otherwise(0L).as("evt"))
    val grid = durs.groupBy($"d").agg(count(lit(1)).as("x"),
      sum($"evt").as("de"))
      .trunkCheckpoint()
    // totals from the O(horizon) grid — never a second user-level pass
    val tot = grid.agg(sum($"x").as("t"))
    // exits before each day -> at-risk; quantized ln(1 - d/r) per day
    val cum = graft.functions.ScaleWindows.rangeCumSum(grid, Seq($"d"),
      $"x", "e_before")
    val lnf = cum.crossJoin(broadcast(tot))
      .filter($"de" > 0)
      .select($"d",
        expr("CAST(round(1000000.0 * ln(1.0 -" +
          " CAST(de AS DOUBLE) / (t - e_before))) AS BIGINT)")
          .as("lf"))
    val horizonDf = (0L until horizon).toDF("h")
    val st = horizonDf.join(lnf, $"d" <= $"h", "left")
      .groupBy($"h").agg(coalesce(sum($"lf"), lit(0L)).as("cum_lf"))
      .select($"h", expr("exp(CAST(cum_lf AS DOUBLE) / 1000000.0)")
        .as("s_t"))
    st.agg(count(lit(1)).as("horizon_days"),
        sum(expr("CAST(round(1000000.0 * s_t) AS BIGINT)")).as("area_u"))
      .selectExpr("horizon_days",
        "CAST(round(CAST(area_u AS DOUBLE) / 1000.0) AS BIGINT)" +
          " AS rmst_milli_days")
  }

  // ------------- q377 Aalen-Johansen competing-risks incidence

  /** q377 — cumulative incidence at the 7-day horizon under
    * COMPETING risks (first purchase vs first error, whichever comes
    * first): the Aalen–Johansen estimator CIF_k = Σ_u S(u−)·d_k/r_u,
    * which 1−KM would over-state for each cause (the classic
    * competing-risks mistake; this is the fix). Shares q357/q376's
    * grid reduction: one per-user first-event pass, per-day counts,
    * at-risk from one rangeCumSum, the all-cause KM prefix via
    * quantized ln sums — then each cause's increments sum over the
    * O(horizon) grid. Spec asserts CIF₁ + CIF₂ + S(7) = 1. */
  val competingRisks: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "events")
    // ONE grouped pass computes entry AND the first terminal event —
    // the old entry⋈firsts left join scanned + shuffled events twice
    // and paid a join to reunite per-user scalars (r11 audit, guide
    // §1.2). min(when(...)) ignores the nulls on non-terminal rows, so
    // a user with no purchase/error gets a NULL f — exactly the old
    // left-join miss.
    val horizon = 7L
    val durs = e.groupBy($"user_id")
      .agg(min($"ts").as("entry"),
        min(when($"event_type".isin("purchase", "error"),
          struct($"ts", $"event_id", $"event_type"))).as("f"))
      .select($"user_id", $"entry", $"f.ts".as("fts"),
        $"f.event_type".as("cause"))
      .select(
        when($"fts".isNotNull &&
            datediff(to_date($"fts"), to_date($"entry")) <= horizon,
          datediff(to_date($"fts"), to_date($"entry")).cast("long"))
          .otherwise(lit(horizon)).as("d"),
        when($"fts".isNotNull &&
            datediff(to_date($"fts"), to_date($"entry")) <= horizon,
          when($"cause" === "purchase", 1L).otherwise(2L))
          .otherwise(0L).as("cause"))
    val grid = durs.groupBy($"d").agg(count(lit(1)).as("x"),
      sum(when($"cause" === 1L, 1L).otherwise(0L)).as("d1"),
      sum(when($"cause" === 2L, 1L).otherwise(0L)).as("d2"))
      .trunkCheckpoint()
    val tot = grid.agg(sum($"x").as("t"))
    val cum = graft.functions.ScaleWindows.rangeCumSum(grid, Seq($"d"),
      $"x", "e_before")
    // a day where EVERYONE at risk exits (d1+d2 = r) has KM factor 0:
    // ln would blow up, so its lf stays NULL (prefix sums skip it —
    // harmless, since any later day has nobody at risk and therefore
    // no events) and the survivor S(7) is pinned to exact 0 below
    val withR = cum.crossJoin(broadcast(tot))
      .select($"d", $"d1", $"d2", ($"t" - $"e_before").as("r"))
      .filter($"d1" + $"d2" > 0)
      .select($"d", $"d1", $"d2", $"r",
        expr("CASE WHEN d1 + d2 < r THEN CAST(round(1000000.0 *" +
          " ln(1.0 - CAST(d1 + d2 AS DOUBLE) / r)) AS BIGINT)" +
          " END").as("lf"))
    // S(u-) = exp(sum of lf for event days STRICTLY before u)
    val sMinus = graft.functions.ScaleWindows.rangeCumSum(withR,
      Seq($"d"), $"lf", "lf_before")
    val incr = sMinus.select(
      expr("CAST(round(1000000.0 *" +
        " exp(CAST(lf_before AS DOUBLE) / 1000000.0) * d1 / r)" +
        " AS BIGINT)").as("i1_u"),
      expr("CAST(round(1000000.0 *" +
        " exp(CAST(lf_before AS DOUBLE) / 1000000.0) * d2 / r)" +
        " AS BIGINT)").as("i2_u"))
    val s7 = withR.agg(sum($"lf").as("sl"),
        max(when($"d1" + $"d2" === $"r", 1L).otherwise(0L)).as("full"))
      .select(expr("CASE WHEN full = 1 THEN 0 ELSE" +
        " CAST(round(1000000.0 * exp(CAST(sl AS DOUBLE) / 1000000.0))" +
        " AS BIGINT) END").as("s7_micro"))
    incr.agg(sum($"i1_u").as("cif_purchase_micro"),
        sum($"i2_u").as("cif_error_micro"))
      .crossJoin(broadcast(s7))
  }

  // ----------------- q378 periodogram at named frequencies

  /** q378 — periodogram of daily revenue at the named calendar
    * periods {7, 30, 91, 365}: the Fourier projection that answers
    * "how much variance lives at the weekly cycle?" directly (q187
    * conditions on day-of-week, q295 on a fixed season length; this
    * measures arbitrary periods without grouping). Per-row y·cos and
    * y·sin products quantize to integer cents (deterministic doubles
    * of exact ints) so the four projections are order-independent
    * long sums; the mean is removed analytically (a = Σy·c − ȳΣc);
    * the variance share divides by the exact centered SS. O(days)
    * frame × 4 periods. */
  val periodogram: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "orders")
      .groupBy(datediff(to_date($"o_orderdate"),
        lit("1995-01-01").cast("date")).cast("long").as("t"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("y"))
    val periods = Seq(7L, 30L, 91L, 365L).toDF("p")
    val terms = daily.crossJoin(broadcast(periods))
      .select($"p",
        $"y",
        expr("CAST(round(y * cos(2 * pi() * t / p)) AS BIGINT)")
          .as("yc"),
        expr("CAST(round(y * sin(2 * pi() * t / p)) AS BIGINT)")
          .as("ys"),
        expr("CAST(round(1000000.0 * cos(2 * pi() * t / p)) AS BIGINT)")
          .as("c_u"),
        expr("CAST(round(1000000.0 * sin(2 * pi() * t / p)) AS BIGINT)")
          .as("s_u"))
    val agg = terms.groupBy($"p")
      .agg(count(lit(1)).as("n"), sum($"y").as("sy"),
        sum(dec($"y") * dec($"y")).as("qy"),
        sum($"yc").as("syc"), sum($"ys").as("sys"),
        sum($"c_u").as("sc"), sum($"s_u").as("ss"))
    agg.selectExpr("p", "n",
        "CAST(syc AS DOUBLE) - (CAST(sy AS DOUBLE) / n) *" +
          " (CAST(sc AS DOUBLE) / 1000000.0) AS a",
        "CAST(sys AS DOUBLE) - (CAST(sy AS DOUBLE) / n) *" +
          " (CAST(ss AS DOUBLE) / 1000000.0) AS b",
        "CAST(qy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS ssq")
      .selectExpr("p", "n",
        "CAST(round(1000000.0 * 2.0 * (a * a + b * b) / (n * ssq))" +
          " AS BIGINT) AS fvar_micro")
      .orderBy($"p")
  }

  // --------------------- q379 Granger causality (1 lag)

  /** q379 — Granger test (1 lag): does yesterday's ORDER COUNT help
    * predict today's revenue beyond yesterday's revenue? Restricted
    * vs unrestricted closed-form OLS over the daily frame; the lag
    * is a SELF-JOIN on t−1 (keyed equi-join — no unpartitioned
    * window enters the plan; calendar-contiguous pairs only, same
    * drop rule in both engines). All moments exact decimals; the
    * two SSEs and the F ratio are one-row double expressions. */
  val granger: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "orders")
      .groupBy(datediff(to_date($"o_orderdate"),
        lit("1995-01-01").cast("date")).cast("long").as("t"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("rev"),
        count(lit(1)).as("cnt"))
    val pairs = daily.join(
      daily.select(($"t" + 1L).as("t"), $"rev".as("rev1"),
        $"cnt".as("cnt1")), Seq("t"))
      .select($"rev".as("y"), $"rev1".as("x1"), $"cnt1".as("x2"))
    val m = pairs.agg(count(lit(1)).as("n"),
      sum($"x1").as("sx1"), sum($"x2").as("sx2"), sum($"y").as("sy"),
      sum(dec($"x1") * dec($"x1")).as("q11"),
      sum(dec($"x2") * dec($"x2")).as("q22"),
      sum(dec($"x1") * dec($"x2")).as("q12"),
      sum(dec($"x1") * dec($"y")).as("q1y"),
      sum(dec($"x2") * dec($"y")).as("q2y"),
      sum(dec($"y") * dec($"y")).as("qyy"))
    m.selectExpr("n",
        "CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n AS s11",
        "CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n AS s22",
        "CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n AS s12",
        "CAST(q1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy / n AS s1y",
        "CAST(q2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy / n AS s2y",
        "CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS syy")
      .selectExpr("n",
        "syy - s1y * s1y / s11 AS sse_r",
        "syy - (s22 * s1y * s1y - 2 * s12 * s1y * s2y +" +
          " s11 * s2y * s2y) / (s11 * s22 - s12 * s12) AS sse_u")
      .selectExpr("n",
        "CAST(round(1000.0 * (sse_r - sse_u) /" +
          " (sse_u / (n - 3))) AS BIGINT) AS f_milli")
  }

  // ------------- q380 Engle-Granger cointegration (step 1 + DF)

  /** q380 — Engle–Granger first stage on the daily revenue/count
    * pair: the levels regression residual, then the Dickey–Fuller
    * slope of Δe on e_{t−1} (unit root in the residual ⇒ NOT
    * cointegrated). Residuals quantize per row to micro BEFORE the
    * DF moments — exact long sums, so the lag self-join and both
    * regressions are engine-stable. Everything is two closed-form
    * OLS passes over the O(days) frame. */
  val engleGranger: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "orders")
      .groupBy(datediff(to_date($"o_orderdate"),
        lit("1995-01-01").cast("date")).cast("long").as("t"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("rev"),
        count(lit(1)).as("cnt"))
    val m1 = daily.agg(count(lit(1)).as("n"), sum($"cnt").as("sx"),
      sum($"rev").as("sy"), sum(dec($"cnt") * dec($"cnt")).as("qxx"),
      sum(dec($"cnt") * dec($"rev")).as("qxy"))
      .selectExpr("n", "sx", "sy",
        "(CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) /" +
          " (CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS b")
      .selectExpr("n", "b",
        "CAST(sy AS DOUBLE) / n - b * sx / n AS a")
    val resid = daily.crossJoin(broadcast(m1))
      .select($"t",
        expr("CAST(round(1000000.0 * (rev - a - b * cnt)) AS BIGINT)")
          .as("e"))
    val dfPairs = resid.join(
      resid.select(($"t" + 1L).as("t"), $"e".as("e1")), Seq("t"))
      .select(($"e" - $"e1").as("de"), $"e1")
    val m2 = dfPairs.agg(count(lit(1)).as("n2"),
      sum(dec($"e1") * dec($"e1")).as("qee"),
      sum(dec($"e1") * dec($"de")).as("qed"),
      sum(dec($"de") * dec($"de")).as("qdd"))
    m2.crossJoin(broadcast(m1.select($"b")))
      .selectExpr("n2", "b",
        "CAST(qed AS DOUBLE) / CAST(qee AS DOUBLE) AS gamma",
        "(CAST(qdd AS DOUBLE) - CAST(qed AS DOUBLE) * qed / " +
          "CAST(qee AS DOUBLE)) / (n2 - 1) AS s2",
        "CAST(qee AS DOUBLE) AS qeed")
      .selectExpr("n2 AS n_pairs",
        "CAST(round(1000.0 * b) AS BIGINT) AS b_milli",
        "CAST(round(1000.0 * gamma) AS BIGINT) AS gamma_milli",
        "CAST(round(1000.0 * gamma / sqrt(s2 / qeed)) AS BIGINT)" +
          " AS df_stat_milli")
  }

  // -------------- q381 rank aggregation: Borda + Condorcet

  /** q381 — rank aggregation over the yearly revenue rankings
    * (q360's slate): Borda scores AND the Condorcet tournament —
    * the two classic aggregators disagree exactly when preference
    * cycles appear, which is the point of reporting both. Pairwise
    * majorities come from a year-keyed self-join of the O(N·T) rank
    * frame (bounded slate²·years); a Condorcet winner must beat all
    * N−1 rivals. Everything downstream of the per-year window is
    * exact integer counting. */
  val bordaCondorcet: Q = (s, dir) => {
    import s.implicits._
    val cells = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer").select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .groupBy(year(to_date($"o_orderdate")).cast("long").as("yr"),
        $"c_nationkey".as("nat"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
      .trunkCheckpoint()
    // cells pinned (read 3×) — with ranked below, this was the
    // 126-Exchange plan: every branch re-ran the orders⋈customer rollup
    val nYears = cells.select($"yr").distinct().agg(count(lit(1)).as("m"))
    val complete = cells.groupBy($"nat").agg(count(lit(1)).as("k"))
      .crossJoin(broadcast(nYears)).filter($"k" === $"m").select($"nat")
    val ranked = cells.join(broadcast(complete), Seq("nat"))
      .withColumn("r", row_number().over(Window.partitionBy($"yr")
        .orderBy($"cents".desc, $"nat".asc)).cast("long"))
      .trunkCheckpoint()
    val nm = ranked.agg(countDistinct($"nat").as("n"),
      countDistinct($"yr").as("m"))
    val borda = ranked.crossJoin(broadcast(nm))
      .groupBy($"nat").agg(sum($"n" - $"r").as("borda"))
    val duels = ranked.select($"yr", $"nat".as("a"), $"r".as("ra"))
      .join(ranked.select($"yr", $"nat".as("b"), $"r".as("rb")),
        Seq("yr"))
      .filter($"a" =!= $"b")
      .groupBy($"a", $"b")
      .agg(sum(when($"ra" < $"rb", 1L).otherwise(0L)).as("wins_ab"),
        count(lit(1)).as("m2"))
      .filter($"wins_ab" * 2 > $"m2")
      .groupBy($"a").agg(count(lit(1)).as("beats"))
    borda.join(duels.select($"a".as("nat"), $"beats"), Seq("nat"), "left")
      .na.fill(0L, Seq("beats"))
      .crossJoin(broadcast(nm))
      .select($"nat", $"borda", $"beats",
        ($"beats" === $"n" - 1).cast("int").as("is_condorcet"))
      .orderBy($"borda".desc, $"nat".asc)
  }

  // ---------- q382 cross-language near-dup leakage audit

  /** q382 — cross-LANGUAGE near-duplicate leakage report: how many
    * J ≥ 1/2 shingle-Jaccard pairs connect documents of DIFFERENT
    * languages, per language pair — the multilingual-corpus audit
    * (translated/boilerplate copies inflate per-language token
    * budgets and leak across language-split evals) that q240 runs
    * for train/test splits and q233 for sources. Pair discovery is
    * the df-capped inverted-index idiom (df ≤ 64, q228): never join
    * on a ubiquitous shingle. The report grid is the full
    * language×language broadcast cross with zeros filled, so "no
    * leakage" is an explicit row, not an absent one. */
  val crossLangLeakage: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.TextOps
    val sh = Tables(s, dir, "documents")
      .select($"doc_id", $"lang",
        explode(TextOps.shinglesFromTokens(
          TextOps.tokens($"text"), 3)).as("g"))
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("nn"))
    val rare = sh.groupBy($"g").agg(count(lit(1)).as("df"))
      .filter($"df" <= 64).select($"g")
    // posting checkpointed: the pair-discovery self-join reads it on
    // both sides — lazy, the shingle explode + df census + join re-ran
    // twice. The frame is df-capped (≤64 docs per gram), far smaller
    // than the raw explode the q465 lesson warns about.
    val posting = sh.join(rare, Seq("g")).trunkCheckpoint()
    val pairs = posting.select($"g", $"doc_id".as("da"), $"lang".as("la"))
      .join(posting.select($"g", $"doc_id".as("db"), $"lang".as("lb")),
        Seq("g"))
      .filter($"da" < $"db")
      .groupBy($"da", $"db", $"la", $"lb")
      .agg(count(lit(1)).as("shared"))
    val dups = pairs
      .join(sizes.select($"doc_id".as("da"), $"nn".as("na")), Seq("da"))
      .join(sizes.select($"doc_id".as("db"), $"nn".as("nb")), Seq("db"))
      .filter($"shared" * 2 >= $"na" + $"nb" - $"shared")
      .select(least($"la", $"lb").as("l1"),
        greatest($"la", $"lb").as("l2"))
      .groupBy($"l1", $"l2").agg(count(lit(1)).as("n_dup_pairs"))
    val langs = Tables(s, dir, "documents").select($"lang").distinct()
    val grid = langs.select($"lang".as("l1"))
      .crossJoin(broadcast(langs.select($"lang".as("l2"))))
      .filter($"l1" <= $"l2")
    grid.join(dups, Seq("l1", "l2"), "left")
      .na.fill(0L, Seq("n_dup_pairs"))
      .select($"l1", $"l2", $"n_dup_pairs",
        ($"l1" =!= $"l2").cast("int").as("cross_lang"))
      .orderBy($"l1", $"l2")
  }

  // ------------- q383 participation ratio (effective rank)

  /** q383 — participation ratio tr(C)²∕tr(C²) of the embedding
    * covariance: the eigendecomposition-free effective-rank
    * diagnostic (dimensional-collapse check) self-supervised
    * pipelines run on every new encoder — and it needs NO
    * eigensolver because tr(C²) = ΣᵢⱼCᵢⱼ². With the SCALED
    * covariance Ĉ = n·S − ssᵀ every entry is an EXACT integer from
    * one dim-pair moment pass (64² cells per point, a bounded
    * fan-out keyed on the dim pair); cells quantize by 1e6 before
    * squaring so Σ Ĉ² stays inside decimal(38,0) at any corpus
    * size. The n factors cancel in the ratio — one division at the
    * end. */
  val participationRatio: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val coords = Tables(s, dir, "embeddings")
      .select($"vec_id", posexplode($"embedding").as(Seq("dim", "x")))
      .select($"vec_id", $"dim",
        round($"x".cast("double") * 1000000.0).cast("long").as("v"))
    // n from the BASE table (no posexplode + 64×-row distinct just to
    // count vectors); same value by definition of the explode
    val n = Tables(s, dir, "embeddings").select($"vec_id").distinct()
      .agg(count(lit(1)).as("n"))
    // Gram matrix without shuffling the exploded frame twice (r11
    // audit, guide §2.4/§3.1): the old coords⋈coords on vec_id
    // sort-merge-shuffled 2×O(vecs·dims) rows; the second factor now
    // rides a BROADCAST of the O(vecs) array-form table (vectors are
    // dims-bounded — far under the broadcast cap) and fans out via a
    // codegen posexplode straight into the (di,dj)-keyed partial
    // aggregate, so the only exchange left is 4096 aggregate rows.
    val varr = Tables(s, dir, "embeddings")
      .select($"vec_id", transform($"embedding",
        x => round(x.cast("double") * 1000000.0).cast("long")).as("vjs"))
    val pairs = coords
      .join(broadcast(varr), Seq("vec_id"))
      .select($"dim".as("di"), $"v".as("vi"),
        posexplode($"vjs").as(Seq("dj", "vj")))
      .groupBy($"di", $"dj")
      .agg(sum(dec($"vi") * dec($"vj")).as("sij"))
    val sums = coords.groupBy($"dim").agg(sum($"v").as("si"))
    val chat = pairs
      .join(broadcast(sums.select($"dim".as("di"), $"si".as("si"))),
        Seq("di"))
      .join(broadcast(sums.select($"dim".as("dj"), $"si".as("sj"))),
        Seq("dj"))
      .crossJoin(broadcast(n))
      .select($"di", $"dj",
        expr("CAST(round(CAST(n * sij - CAST(si AS DECIMAL(38,0)) * sj" +
          " AS DOUBLE) / 1000000.0) AS BIGINT)").as("c_q"))
    chat.agg(
        sum(when($"di" === $"dj", $"c_q").otherwise(0L)).as("trace_q"),
        sum(dec($"c_q") * dec($"c_q")).as("tr2_q"))
      .selectExpr("trace_q",
        "CAST(round(1000.0 * CAST(trace_q AS DOUBLE) * trace_q /" +
          " CAST(tr2_q AS DOUBLE)) AS BIGINT) AS pr_milli")
  }

  // --------------- q384 lead-lag cross-correlation function

  /** q384 — cross-correlation between daily order count and daily
    * revenue at lags 0..7 (does volume LEAD value?): the
    * lag-profile complement of q379's single-lag F test. Every lag
    * is a keyed self-join on t−lag (no window), the lag grid is an
    * 8-row broadcast, and each lag's correlation comes from exact
    * joint moments of the matched pairs — one deterministic double
    * per O(lags) row. */
  val xcorr: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "orders")
      .groupBy(datediff(to_date($"o_orderdate"),
        lit("1995-01-01").cast("date")).cast("long").as("t"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("rev"),
        count(lit(1)).as("cnt"))
    val lags = (0L to 7L).toDF("lag")
    val joined = daily.select($"t", $"rev")
      .crossJoin(broadcast(lags))
      .select(($"t" - $"lag").as("ts"), $"lag", $"rev")
      .join(daily.select($"t".as("ts"), $"cnt"), Seq("ts"))
    joined.groupBy($"lag")
      .agg(count(lit(1)).as("n"), sum($"cnt").as("sx"),
        sum($"rev").as("sy"),
        sum(dec($"cnt") * dec($"cnt")).as("qxx"),
        sum(dec($"rev") * dec($"rev")).as("qyy"),
        sum(dec($"cnt") * dec($"rev")).as("qxy"))
      .selectExpr("lag", "n",
        "CAST(round(1000000.0 *" +
          " (CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) /" +
          " sqrt((CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) *" +
          " (CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)))" +
          " AS BIGINT) AS r_micro")
      .orderBy($"lag")
  }

  // ------------------- q385 per-document novelty share

  /** q385 — per-document shingle novelty: the share of a document's
    * shingles whose FIRST corpus occurrence (min doc id) is the
    * document itself — the "how much does each new document add"
    * curve that corpus curation reads next to Heaps growth (q162:
    * vocabulary-level; this is document-level and directly flags
    * recycled content at novelty ≈ 0). First-occurrence is one
    * groupBy(shingle) min; attribution is a keyed join back; the
    * ratio is exact integers. */
  val noveltyShare: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.TextOps
    val sh = Tables(s, dir, "documents")
      .select($"doc_id",
        explode(TextOps.shinglesFromTokens(
          TextOps.tokens($"text"), 3)).as("g"))
    val first = sh.groupBy($"g").agg(min($"doc_id").as("first_doc"))
    sh.join(first, Seq("g"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L))
          .as("n_new"))
      .select($"doc_id", $"n_shingles", $"n_new",
        expr("1000000 * n_new div n_shingles").as("novelty_micro"))
      .orderBy($"doc_id")
  }

  // ------------------- q386 Gaussian KDE on a fixed grid

  /** q386 — Gaussian kernel density of order value on a 21-point
    * grid with Silverman's rule-of-thumb bandwidth — the
    * density-estimation primitive (histograms q63/q158 bin; KDE
    * smooths) plus the mode cell. Bandwidth and grid come from one
    * exact moment row; each row's kernel contribution to each grid
    * point quantizes to micro BEFORE the grid sum (order-independent
    * longs, rows × 21 bounded fan-out against a broadcast grid). */
  val gaussianKde: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val vals = Tables(s, dir, "orders")
      .select(round($"o_totalprice" * 100).cast("long").as("v"))
    // trunkCheckpoint the ONE-ROW moment frame: it feeds pts, dens and
    // (through them) every downstream broadcast — lazy, each consumer
    // re-ran the full orders moment scan (plan showed the agg chain
    // duplicated under 3 broadcast exchanges)
    val m = vals.agg(count(lit(1)).as("n"), sum($"v").as("sv"),
        sum(dec($"v") * dec($"v")).as("qv"),
        min($"v").as("lo"), max($"v").as("hi"))
      .selectExpr("n", "lo", "hi",
        "sqrt((CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n)" +
          " / (n - 1)) AS sd")
      .selectExpr("n", "lo", "hi",
        "1.06 * sd * POW(CAST(n AS DOUBLE), -0.2) AS h")
      .trunkCheckpoint()
    val grid = (0L to 20L).toDF("gi")
    val pts = grid.crossJoin(broadcast(m))
      .select($"gi", $"n", $"h",
        ($"lo" + ($"hi" - $"lo") * $"gi" / 20L).cast("double").as("x"))
    val contrib = vals.crossJoin(broadcast(pts))
      .select($"gi",
        expr("CAST(round(1000000.0 * exp(-0.5 * POW((v - x) / h, 2)))" +
          " AS BIGINT)").as("k_u"))
      .groupBy($"gi").agg(sum($"k_u").as("sk"))
    // trunkCheckpoint the 21-ROW density frame: it feeds both the mode
    // argmax and the final projection — lazy, the 21×N kernel pass
    // (contrib) executed TWICE, which was most of this query's cost
    val dens = contrib.crossJoin(broadcast(m.select($"n", $"h")))
      .select($"gi",
        // density × 1e9 cents⁻¹ (values are ~1e-9/cent scale)
        expr("CAST(round(1000000000.0 * CAST(sk AS DOUBLE) / 1000000.0" +
          " / (n * h * sqrt(2 * pi()))) AS BIGINT)").as("dens_nano"))
      .trunkCheckpoint()
    val mode = dens.agg(max(struct($"dens_nano", (-$"gi").as("ngi")))
      .as("b")).select((-$"b.ngi").as("mode_gi"))
    dens.crossJoin(broadcast(mode))
      .select($"gi", $"dens_nano",
        ($"gi" === $"mode_gi").cast("int").as("is_mode"))
      .orderBy($"gi")
  }

  // -------------- q387 empirical tail-dependence coefficients

  /** q387 — empirical tail dependence between account balance and
    * order value: λ_L = P(both ranks ≤ q)∕q and λ_U at q = 0.05 —
    * the copula-level risk question ("do extremes co-occur?") that
    * q193's Spearman, a whole-distribution average, cannot see.
    * Both marginal ranks come from ONE rangeCumSums-backed pass
    * each (no global sort); the joint tail counts are exact integer
    * comparisons against rank fences, one row out. */
  val tailDependence: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal"), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey",
        round($"c_acctbal" * 100).cast("long").as("x"),
        round($"o_totalprice" * 100).cast("long").as("y"))
    val rx = ScaleWindows.rangeCumSum(rows, Seq($"x", $"o_orderkey"),
      lit(1L), "rx")
    val rxy = ScaleWindows.rangeCumSum(rx, Seq($"y", $"o_orderkey"),
      lit(1L), "ry")
    val n = rows.agg(count(lit(1)).as("nn"))
    rxy.crossJoin(broadcast(n))
      .select($"nn",
        // q = 5%: fences are exact integer cross-multiplies
        (($"rx" * 20L < $"nn") && ($"ry" * 20L < $"nn")).cast("long")
          .as("lo"),
        ((($"nn" - 1L - $"rx") * 20L < $"nn") &&
          (($"nn" - 1L - $"ry") * 20L < $"nn")).cast("long").as("hi"))
      .groupBy($"nn")
      .agg(sum($"lo").as("n_lo"), sum($"hi").as("n_hi"))
      .selectExpr("nn AS n", "n_lo", "n_hi",
        "CAST(round(1000000.0 * n_lo / (CAST(nn AS DOUBLE) / 20.0))" +
          " AS BIGINT) AS lambda_lower_micro",
        "CAST(round(1000000.0 * n_hi / (CAST(nn AS DOUBLE) / 20.0))" +
          " AS BIGINT) AS lambda_upper_micro")
  }

  // -------------------- q388 quantile treatment effects

  /** q388 — quantile treatment effects at the deciles (Firpo 2007):
    * the urgent-priority "effect" on order value quantile by
    * quantile — mean ATEs (q340/q352/q364) hide distributional
    * shifts; QTE is the whole profile. Within-arm ranks derive from
    * ONE global rangeCumSum over (arm, value, key) minus the
    * broadcast arm offset — no per-arm sort; each decile picks its
    * exact order statistic by integer rank match, and the paired
    * differences are exact cents. */
  val quantileTreatmentEffect: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val rows = Tables(s, dir, "orders")
      .select($"o_orderkey",
        when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L).as("t"),
        round($"o_totalprice" * 100).cast("long").as("y"))
    val ranked = ScaleWindows.rangeCumSum(rows,
      Seq($"t", $"y", $"o_orderkey"), lit(1L), "rk")
    val arms = rows.groupBy($"t").agg(count(lit(1)).as("na"))
    val n0 = arms.filter($"t" === 0).select($"na".as("n0"))
    val n1 = arms.filter($"t" === 1).select($"na".as("n1"))
    val within = ranked.crossJoin(broadcast(n0)).crossJoin(broadcast(n1))
      .select($"t", $"y",
        ($"rk" - $"t" * $"n0").as("wr"),
        when($"t" === 0, $"n0").otherwise($"n1").as("na"))
    val qs = (1L to 9L).toDF("q")
    val picks = within.crossJoin(broadcast(qs))
      // order statistic at ceil(q/10 · na): wr is 0-based
      .filter(($"wr" + 1L) * 10L >= $"q" * $"na" &&
        $"wr" * 10L < $"q" * $"na")
      .groupBy($"q", $"t").agg(min($"y").as("yq"))
    picks.groupBy($"q")
      .agg(sum(when($"t" === 1, $"yq")).as("y1"),
        sum(when($"t" === 0, $"yq")).as("y0"))
      .select($"q", $"y1", $"y0", ($"y1" - $"y0").as("qte_cents"))
      .orderBy($"q")
  }

  // ----------------------- q389 E-value (sensitivity)

  /** q389 — VanderWeele–Ding E-value for the urgent→high-value risk
    * ratio: how strong would an unmeasured confounder have to be to
    * explain the association away — the sensitivity number reviewers
    * now ask for next to any observational estimate (q340/q352/q364
    * family). RR from exact counts (high-value = above the global
    * milli-quantized mean fence), E = RR + √(RR(RR−1)) on the one
    * aggregate row; RR < 1 takes the reciprocal first, per the
    * definition. */
  val eValue: Q = (s, dir) => {
    import s.implicits._
    val rows = Tables(s, dir, "orders")
      .select(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L)
        .as("t"), round($"o_totalprice" * 100).cast("long").as("y"))
    val fence = rows.agg(sum($"y").as("sy"), count(lit(1)).as("n"))
    val agg = rows.crossJoin(broadcast(fence))
      .select($"t", ($"y" * $"n" > $"sy").cast("long").as("hi"))
      .groupBy($"t").agg(count(lit(1)).as("na"), sum($"hi").as("ha"))
    val one = agg.agg(
      sum(when($"t" === 1, $"na")).as("n1"),
      sum(when($"t" === 1, $"ha")).as("h1"),
      sum(when($"t" === 0, $"na")).as("n0"),
      sum(when($"t" === 0, $"ha")).as("h0"))
    one.selectExpr("n1", "h1", "n0", "h0",
        "(CAST(h1 AS DOUBLE) / n1) / (CAST(h0 AS DOUBLE) / n0) AS rr0")
      .selectExpr("n1", "h1", "n0", "h0",
        "CASE WHEN rr0 < 1.0 THEN 1.0 / rr0 ELSE rr0 END AS rr")
      .selectExpr(
        "CAST(round(1000.0 * rr) AS BIGINT) AS rr_milli",
        "CAST(round(1000.0 * (rr + sqrt(rr * (rr - 1.0))))" +
          " AS BIGINT) AS e_value_milli")
  }

  // ---------------- q390 Cook's distance / influence top-20

  /** q390 — influence diagnostics for the order-value OLS (q211's
    * fit, now asking WHICH rows drive it): leverage from the
    * closed-form 2×2 inverse of the centered scatter, Cook's
    * distance D = e²h∕(p·s²(1−h)²), top-20 via
    * TakeOrderedAndProject (never a global sort). Every per-row
    * quantity is one deterministic double expression over exact
    * integer covariates and the broadcast one-row model — no
    * hat-matrix materialization at any scale. */
  val cooksDistance: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal"), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey",
        round($"o_totalprice" * 100).cast("long").as("y"),
        round($"c_acctbal" * 100).cast("long").as("x1"),
        datediff(to_date($"o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("x2"))
    val m = rows.agg(count(lit(1)).as("n"),
      sum($"x1").as("sx1"), sum($"x2").as("sx2"), sum($"y").as("sy"),
      sum(dec($"x1") * dec($"x1")).as("q11"),
      sum(dec($"x2") * dec($"x2")).as("q22"),
      sum(dec($"x1") * dec($"x2")).as("q12"),
      sum(dec($"x1") * dec($"y")).as("q1y"),
      sum(dec($"x2") * dec($"y")).as("q2y"),
      sum(dec($"y") * dec($"y")).as("qyy"))
      .selectExpr("n", "sx1", "sx2", "sy",
        "CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n AS s11",
        "CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n AS s22",
        "CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n AS s12",
        "CAST(q1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy / n AS s1y",
        "CAST(q2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy / n AS s2y",
        "CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS syy")
      .selectExpr("n", "sx1", "sx2", "sy", "s11", "s22", "s12",
        "(s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1",
        "(s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2",
        "(syy - (s22 * s1y * s1y - 2 * s12 * s1y * s2y +" +
          " s11 * s2y * s2y) / (s11 * s22 - s12 * s12)) / (n - 3)" +
          " AS s2e")
    rows.crossJoin(broadcast(m))
      .selectExpr("o_orderkey",
        "y - (CAST(sy AS DOUBLE) / n + b1 * (x1 - CAST(sx1 AS DOUBLE)" +
          " / n) + b2 * (x2 - CAST(sx2 AS DOUBLE) / n)) AS e",
        "1.0 / n + (s22 * POW(x1 - CAST(sx1 AS DOUBLE) / n, 2)" +
          " - 2 * s12 * (x1 - CAST(sx1 AS DOUBLE) / n) *" +
          " (x2 - CAST(sx2 AS DOUBLE) / n)" +
          " + s11 * POW(x2 - CAST(sx2 AS DOUBLE) / n, 2))" +
          " / (s11 * s22 - s12 * s12) AS h", "s2e")
      .selectExpr("o_orderkey",
        "CAST(round(e) AS BIGINT) AS resid_cents",
        "CAST(round(1000000.0 * h) AS BIGINT) AS leverage_micro",
        "CAST(round(1000000.0 * e * e * h /" +
          " (3.0 * s2e * POW(1.0 - h, 2))) AS BIGINT) AS cook_micro")
      .orderBy($"cook_micro".desc, $"o_orderkey".asc)
      .limit(20)
  }

  // ----------------- q391 variance inflation factors

  /** q391 — VIFs for the 3-covariate design (balance, order age,
    * line count): the multicollinearity gate run before trusting
    * any OLS table; VIF_j is the j-th diagonal of the inverse
    * CORRELATION matrix, here by the closed-form 3×3 adjugate over
    * exact moment sums — no iteration, one row out. Line counts
    * join from lineitem by order key before the single moment
    * pass. */
  val vif: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val lines = Tables(s, dir, "lineitem")
      .groupBy($"l_orderkey").agg(count(lit(1)).as("x3"))
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal"), $"o_custkey" === $"c_custkey")
      .join(lines, $"o_orderkey" === $"l_orderkey")
      .select(round($"c_acctbal" * 100).cast("long").as("x1"),
        datediff(to_date($"o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("x2"),
        $"x3")
    val m = rows.agg(count(lit(1)).as("n"),
      sum($"x1").as("s1"), sum($"x2").as("s2"), sum($"x3").as("s3"),
      sum(dec($"x1") * dec($"x1")).as("q11"),
      sum(dec($"x2") * dec($"x2")).as("q22"),
      sum(dec($"x3") * dec($"x3")).as("q33"),
      sum(dec($"x1") * dec($"x2")).as("q12"),
      sum(dec($"x1") * dec($"x3")).as("q13"),
      sum(dec($"x2") * dec($"x3")).as("q23"))
    val r = m.selectExpr("n",
      "CAST(q11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n AS c11",
      "CAST(q22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n AS c22",
      "CAST(q33 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3 / n AS c33",
      "CAST(q12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n AS c12",
      "CAST(q13 AS DOUBLE) - CAST(s1 AS DOUBLE) * s3 / n AS c13",
      "CAST(q23 AS DOUBLE) - CAST(s2 AS DOUBLE) * s3 / n AS c23")
      .selectExpr(
        "c12 / sqrt(c11 * c22) AS r12",
        "c13 / sqrt(c11 * c33) AS r13",
        "c23 / sqrt(c22 * c33) AS r23")
      .selectExpr("r12", "r13", "r23",
        "1.0 + 2.0 * r12 * r13 * r23 - r12 * r12 - r13 * r13" +
          " - r23 * r23 AS det")
    r.selectExpr(
      "CAST(round(1000.0 * (1.0 - r23 * r23) / det) AS BIGINT)" +
        " AS vif_balance_milli",
      "CAST(round(1000.0 * (1.0 - r13 * r13) / det) AS BIGINT)" +
        " AS vif_age_milli",
      "CAST(round(1000.0 * (1.0 - r12 * r12) / det) AS BIGINT)" +
        " AS vif_lines_milli")
  }

  // -------------- q392 Breusch-Pagan heteroskedasticity

  /** q392 — Breusch–Pagan LM test on the q211/q390 fit: are the
    * residual VARIANCES explained by the covariates (if yes, every
    * plain OLS standard error in the shop is wrong)? Two chained
    * closed-form passes: residuals quantize per row to cents, their
    * squares regress on (x1, x2) via the same exact-moment solve,
    * LM = n·R². Residual squares ride decimal(38,0) so nothing
    * overflows at any SF. */
  val breuschPagan: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal"), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey",
        round($"o_totalprice" * 100).cast("long").as("y"),
        round($"c_acctbal" * 100).cast("long").as("x1"),
        datediff(to_date($"o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("x2"))
    val m = rows.agg(count(lit(1)).as("n"),
      sum($"x1").as("sx1"), sum($"x2").as("sx2"), sum($"y").as("sy"),
      sum(dec($"x1") * dec($"x1")).as("q11"),
      sum(dec($"x2") * dec($"x2")).as("q22"),
      sum(dec($"x1") * dec($"x2")).as("q12"),
      sum(dec($"x1") * dec($"y")).as("q1y"),
      sum(dec($"x2") * dec($"y")).as("q2y"))
      .selectExpr("n", "sx1", "sx2", "sy",
        "CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n AS s11",
        "CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n AS s22",
        "CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n AS s12",
        "CAST(q1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy / n AS s1y",
        "CAST(q2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy / n AS s2y")
      .selectExpr("n", "sx1", "sx2", "sy",
        "(s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1",
        "(s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2")
    val resid = rows.crossJoin(broadcast(m))
      .select($"x1", $"x2",
        expr("CAST(round(y - (CAST(sy AS DOUBLE) / n +" +
          " b1 * (x1 - CAST(sx1 AS DOUBLE) / n) +" +
          " b2 * (x2 - CAST(sx2 AS DOUBLE) / n))) AS BIGINT)").as("e"))
      .select($"x1", $"x2", (dec($"e") * dec($"e")).as("e2"))
    val m2 = resid.agg(count(lit(1)).as("n"),
      sum($"x1").as("sx1"), sum($"x2").as("sx2"), sum($"e2").as("se"),
      sum(dec($"x1") * dec($"x1")).as("q11"),
      sum(dec($"x2") * dec($"x2")).as("q22"),
      sum(dec($"x1") * dec($"x2")).as("q12"),
      sum(dec($"x1") * $"e2").as("q1e"),
      sum(dec($"x2") * $"e2").as("q2e"),
      sum($"e2" * $"e2").as("qee"))
    m2.selectExpr("n",
        "CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n AS s11",
        "CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n AS s22",
        "CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n AS s12",
        "CAST(q1e AS DOUBLE) - CAST(sx1 AS DOUBLE) *" +
          " CAST(se AS DOUBLE) / n AS s1e",
        "CAST(q2e AS DOUBLE) - CAST(sx2 AS DOUBLE) *" +
          " CAST(se AS DOUBLE) / n AS s2e",
        "CAST(qee AS DOUBLE) - CAST(se AS DOUBLE) *" +
          " CAST(se AS DOUBLE) / n AS see")
      .selectExpr("n",
        "(s22 * s1e * s1e - 2 * s12 * s1e * s2e + s11 * s2e * s2e)" +
          " / ((s11 * s22 - s12 * s12) * see) AS r2")
      .selectExpr("n", "CAST(2 AS BIGINT) AS df",
        "CAST(round(1000.0 * n * r2) AS BIGINT) AS lm_milli")
  }

  // ------------------------ q393 Durbin-Watson

  /** q393 — Durbin–Watson autocorrelation statistic for the daily
    * revenue trend fit (the serial-correlation alarm that says the
    * daily series' OLS errors aren't independent — DW≈2 is clean,
    * →0 positive autocorrelation): residuals from the closed-form
    * time-trend fit quantize per DAY to micro, consecutive-day
    * pairs come from the q379/q380 keyed t−1 self-join, and both
    * sums are exact decimals — one row, no window. */
  val durbinWatson: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "orders")
      .groupBy(datediff(to_date($"o_orderdate"),
        lit("1995-01-01").cast("date")).cast("long").as("t"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("y"))
    val m = daily.agg(count(lit(1)).as("n"), sum($"t").as("sx"),
      sum($"y").as("sy"), sum(dec($"t") * dec($"t")).as("qxx"),
      sum(dec($"t") * dec($"y")).as("qxy"))
      .selectExpr("n", "sx", "sy",
        "(CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) /" +
          " (CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS b")
    val resid = daily.crossJoin(broadcast(m))
      .select($"t",
        expr("CAST(round(1000000.0 * (y - (CAST(sy AS DOUBLE) / n +" +
          " b * (t - CAST(sx AS DOUBLE) / n)))) AS BIGINT)").as("e"))
    val pairs = resid.join(
      resid.select(($"t" + 1L).as("t"), $"e".as("e1")), Seq("t"))
    val num = pairs.agg(
      sum(dec($"e" - $"e1") * dec($"e" - $"e1")).as("nd"))
    val den = resid.agg(sum(dec($"e") * dec($"e")).as("dd"),
      count(lit(1)).as("n_days"))
    num.crossJoin(broadcast(den))
      .selectExpr("n_days",
        "CAST(round(1000.0 * CAST(nd AS DOUBLE) /" +
          " CAST(dd AS DOUBLE)) AS BIGINT) AS dw_milli")
  }

  // ------------- q394 heteroskedasticity-robust (HC1) errors

  /** q394 — White/HC1 sandwich standard errors for the q211 fit,
    * the repair q392's positive LM calls for: meat terms
    * Σe²·x̃x̃ᵀ accumulate EXACTLY via the n-scaled centering trick
    * (n·x − Σx is an integer, so every meat entry is an exact
    * decimal sum of per-row quantized e² times integer products;
    * the n powers cancel against the bread). Output: classical vs
    * robust SE per slope — the ratio IS the heteroskedasticity
    * penalty. One moment pass + one residual pass. */
  val hc1RobustSe: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal"), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey",
        round($"o_totalprice" * 100).cast("long").as("y"),
        round($"c_acctbal" * 100).cast("long").as("x1"),
        datediff(to_date($"o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("x2"))
    val m = rows.agg(count(lit(1)).as("n"),
      sum($"x1").as("sx1"), sum($"x2").as("sx2"), sum($"y").as("sy"),
      sum(dec($"x1") * dec($"x1")).as("q11"),
      sum(dec($"x2") * dec($"x2")).as("q22"),
      sum(dec($"x1") * dec($"x2")).as("q12"),
      sum(dec($"x1") * dec($"y")).as("q1y"),
      sum(dec($"x2") * dec($"y")).as("q2y"))
      .selectExpr("n", "sx1", "sx2", "sy",
        "CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n AS s11",
        "CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n AS s22",
        "CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n AS s12",
        "CAST(q1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy / n AS s1y",
        "CAST(q2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy / n AS s2y")
      .selectExpr("n", "sx1", "sx2", "sy", "s11", "s22", "s12",
        "(s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1",
        "(s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2")
    // meat: Σ e²·x̃x̃ᵀ via per-row quantized g_j = round(e·x̃_j/1e3) —
    // e and x̃ are intensive (don't grow with SF), so g_j² stays in
    // int64 headroom at any corpus size and the decimal sums are
    // exact and order-independent; the 1e3² scale undoes below
    val meat = rows.crossJoin(broadcast(m))
      .selectExpr("n", "s11", "s22", "s12",
        "CAST(round(y - (CAST(sy AS DOUBLE) / n +" +
          " b1 * (x1 - CAST(sx1 AS DOUBLE) / n) +" +
          " b2 * (x2 - CAST(sx2 AS DOUBLE) / n))) AS BIGINT) AS e",
        "x1 - CAST(sx1 AS DOUBLE) / n AS xt1",
        "x2 - CAST(sx2 AS DOUBLE) / n AS xt2")
      .selectExpr("n", "s11", "s22", "s12", "e",
        "CAST(round(e * xt1 / 1000.0) AS BIGINT) AS g1",
        "CAST(round(e * xt2 / 1000.0) AS BIGINT) AS g2")
      .groupBy($"n", $"s11", $"s22", $"s12")
      .agg(sum(dec($"e") * dec($"e")).as("see"),
        sum(dec($"g1") * dec($"g1")).as("m11"),
        sum(dec($"g2") * dec($"g2")).as("m22"),
        sum(dec($"g1") * dec($"g2")).as("m12"))
    meat.selectExpr("n", "s11", "s22", "s12",
        "CAST(see AS DOUBLE) AS seed",
        "CAST(m11 AS DOUBLE) * 1000000.0 AS a11",
        "CAST(m22 AS DOUBLE) * 1000000.0 AS a22",
        "CAST(m12 AS DOUBLE) * 1000000.0 AS a12")
      .selectExpr("n",
        // classical: s² (S⁻¹)_jj ; robust: (S⁻¹ A S⁻¹)_jj, HC1 factor
        "seed / (n - 3) AS s2e", "s11", "s22", "s12",
        "a11", "a22", "a12",
        "s11 * s22 - s12 * s12 AS det")
      .selectExpr("n",
        "CAST(round(1000.0 * sqrt(s2e * s22 / det)) AS BIGINT)" +
          " AS se_b1_classical_milli",
        "CAST(round(1000.0 * sqrt((CAST(n AS DOUBLE) / (n - 3)) *" +
          " (s22 * s22 * a11 - 2 * s22 * s12 * a12 +" +
          " s12 * s12 * a22) / (det * det))) AS BIGINT)" +
          " AS se_b1_robust_milli",
        "CAST(round(1000.0 * sqrt(s2e * s11 / det)) AS BIGINT)" +
          " AS se_b2_classical_milli",
        "CAST(round(1000.0 * sqrt((CAST(n AS DOUBLE) / (n - 3)) *" +
          " (s11 * s11 * a22 - 2 * s11 * s12 * a12 +" +
          " s12 * s12 * a11) / (det * det))) AS BIGINT)" +
          " AS se_b2_robust_milli")
  }

  // ---------------- q395 Oaxaca-Blinder decomposition

  /** q395 — Oaxaca–Blinder twofold decomposition of the
    * urgent-vs-other order-value gap into an ENDOWMENTS part
    * (different covariate mixes at control coefficients) and a
    * COEFFICIENTS part (different returns at treated means) — the
    * audit that separates "their orders are older/richer" from
    * "urgency itself pays". Reuses q352's one-pass per-arm moment
    * machinery for both OLS fits; the decomposition is a one-row
    * expression over the two broadcast models. */
  val oaxacaBlinder: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal"), $"o_custkey" === $"c_custkey")
      .select(
        when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L).as("t"),
        round($"o_totalprice" * 100).cast("long").as("y"),
        round($"c_acctbal" * 100).cast("long").as("x1"),
        datediff(to_date($"o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("x2"))
    val arm = rows.groupBy($"t").agg(
      count(lit(1)).as("n"), sum($"x1").as("sx1"), sum($"x2").as("sx2"),
      sum($"y").as("sy"),
      sum(dec($"x1") * dec($"x1")).as("q11"),
      sum(dec($"x2") * dec($"x2")).as("q22"),
      sum(dec($"x1") * dec($"x2")).as("q12"),
      sum(dec($"x1") * dec($"y")).as("q1y"),
      sum(dec($"x2") * dec($"y")).as("q2y"))
      .selectExpr("t", "n",
        "CAST(sx1 AS DOUBLE) / n AS mx1",
        "CAST(sx2 AS DOUBLE) / n AS mx2",
        "CAST(sy AS DOUBLE) / n AS my",
        "CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n AS s11",
        "CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n AS s22",
        "CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n AS s12",
        "CAST(q1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy / n AS s1y",
        "CAST(q2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy / n AS s2y")
      .selectExpr("t", "mx1", "mx2", "my",
        "(s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1",
        "(s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2")
    val one = arm.agg(
      sum(when($"t" === 1, $"my")).as("my1"),
      sum(when($"t" === 0, $"my")).as("my0"),
      sum(when($"t" === 1, $"mx1")).as("mx1_1"),
      sum(when($"t" === 0, $"mx1")).as("mx1_0"),
      sum(when($"t" === 1, $"mx2")).as("mx2_1"),
      sum(when($"t" === 0, $"mx2")).as("mx2_0"),
      sum(when($"t" === 1, $"b1")).as("b1_1"),
      sum(when($"t" === 0, $"b1")).as("b1_0"),
      sum(when($"t" === 1, $"b2")).as("b2_1"),
      sum(when($"t" === 0, $"b2")).as("b2_0"))
    one.selectExpr(
      "CAST(round(1000.0 * (my1 - my0)) AS BIGINT) AS gap_milli_cents",
      "CAST(round(1000.0 * ((mx1_1 - mx1_0) * b1_0 +" +
        " (mx2_1 - mx2_0) * b2_0)) AS BIGINT)" +
        " AS endowments_milli_cents",
      "CAST(round(1000.0 * ((my1 - my0) - ((mx1_1 - mx1_0) * b1_0 +" +
        " (mx2_1 - mx2_0) * b2_0))) AS BIGINT)" +
        " AS coefficients_milli_cents")
  }

  // ----------------------- q396 SLO burn rate

  /** q396 — multi-window error-budget burn rate (the SRE
    * fast/slow-burn alert pair, Google SRE Workbook ch.5): with a
    * 1% error SLO, burn = error share ÷ budget per 6-hour and
    * 24-hour window ending at each day boundary — alert when BOTH
    * windows burn hot (fast spike + sustained). Hour buckets reduce
    * the event stream once; each window is an exact integer sum
    * over its bucket range via a bounded self-join on the hour
    * grid; rates are integer cross-products. */
  val sloBurnRate: Q = (s, dir) => {
    import s.implicits._
    val hours = Tables(s, dir, "events")
      .select(expr("unix_micros(ts) div 3600000000").as("h"),
        when($"event_type" === "error", 1L).otherwise(0L).as("err"))
      .groupBy($"h").agg(count(lit(1)).as("n"), sum($"err").as("e"))
    val days = hours.select((($"h" + 1L) % 24L === 0).as("boundary"),
      $"h").filter($"boundary").select($"h".as("hb"))
    def windowAgg(w: Long, pfx: String) = broadcast(days)
      .join(hours, $"h" > $"hb" - w && $"h" <= $"hb")
      .groupBy($"hb")
      .agg(sum($"n").as(s"n_$pfx"), sum($"e").as(s"e_$pfx"))
    windowAgg(6L, "6h").join(windowAgg(24L, "24h"), Seq("hb"))
      .select($"hb", $"n_6h", $"e_6h", $"n_24h", $"e_24h",
        // burn = (e/n)/0.01 in milli: 1000·100·e div n
        expr("100000 * e_6h div n_6h").as("burn_6h_milli"),
        expr("100000 * e_24h div n_24h").as("burn_24h_milli"),
        (expr("100000 * e_6h div n_6h") > 10000L &&
          expr("100000 * e_24h div n_24h") > 2000L).cast("int")
          .as("page"))
      .orderBy($"hb")
  }

  // ------------------ q397 quadratic-weighted kappa

  /** q397 — quadratic-weighted Cohen's kappa between two ORDINAL
    * 3-level raters (length tercile vs sentence-punctuation
    * tercile): the ordinal upgrade of q204 (binary) and q353
    * (nominal multi-rater) — near-misses cost (i−j)², not 1.
    * The whole computation lives on the 9-cell contingency frame;
    * κ_w = 1 − N·ΣwO∕ΣwE stays exact integers until one final
    * quantized division. */
  val weightedKappa: Q = (s, dir) => {
    import s.implicits._
    val rated = Tables(s, dir, "documents")
      .select(
        (when($"n_chars" < 250, 0L).when($"n_chars" < 350, 1L)
          .otherwise(2L)).as("r1"),
        (when(length(regexp_replace($"text", "[^.]", "")) < 2, 0L)
          .when(length(regexp_replace($"text", "[^.]", "")) < 4, 1L)
          .otherwise(2L)).as("r2"))
    val cells = rated.groupBy($"r1", $"r2").agg(count(lit(1)).as("o"))
    val joined = cells
      .join(broadcast(cells.groupBy($"r1").agg(sum($"o").as("rn"))),
        Seq("r1"))
      .join(broadcast(cells.groupBy($"r2").agg(sum($"o").as("cn"))),
        Seq("r2"))
    joined.agg(sum($"o").as("nn"),
        sum(($"r1" - $"r2") * ($"r1" - $"r2") * $"o").as("wo"),
        sum(($"r1" - $"r2") * ($"r1" - $"r2") * $"rn" * $"cn").as("we"))
      .selectExpr("nn",
        "CAST(round(1000000.0 * (1.0 - CAST(nn AS DOUBLE) * wo / we))" +
          " AS BIGINT) AS kappa_w_micro")
  }

  // ------------ q398 recommender catalog coverage / concentration

  /** q398 — serving-table evaluation for the q346 recommender:
    * catalog coverage (share of items that appear as anybody's
    * neighbor — cold-start blind spots) and neighbor-slot
    * concentration (exact Gini over per-item recommendation counts,
    * q171's machinery on the O(items) count frame via one
    * rangeCumSum rank pass). Both are the standard rec-sys audit
    * pair: high coverage, low concentration. */
  val recCoverage: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val serving = itemCfTopk(s, dir)
    val catalog = Tables(s, dir, "lineitem")
      .select($"l_partkey").distinct()
    val nCat = catalog.agg(count(lit(1)).as("n_catalog"))
    val counts = serving.groupBy($"neighbor").agg(count(lit(1)).as("c"))
    val nNb = counts.agg(count(lit(1)).as("n_neighbors"),
      sum($"c").as("slots"))
    val ranked = ScaleWindows.rangeCumSum(counts,
      Seq($"c", $"neighbor"), lit(1L), "rk")
    val gini = ranked.crossJoin(broadcast(nNb))
      .agg(sum((lit(2L) * ($"rk" + 1L) - $"n_neighbors" - 1L) * $"c")
        .as("gnum"), first($"n_neighbors").as("nk"),
        first($"slots").as("slots"))
    gini.crossJoin(broadcast(nCat))
      .selectExpr("n_catalog", "nk AS n_neighbors",
        "CAST(1000000 * nk AS BIGINT) div n_catalog" +
          " AS coverage_micro",
        "CAST(round(1000000.0 * gnum / (CAST(nk AS DOUBLE) * slots))" +
          " AS BIGINT) AS gini_micro")
  }

  // ---------- q399 calibration-in-the-large + slope

  /** q399 — the two weak-calibration moments reported before any
    * fancier recalibration (q275 Platt, q209 isotonic): bias
    * (mean outcome − mean score) and the LPM calibration slope
    * cov(t, p)∕var(p) — slope < 1 means overconfident spread.
    * Scores are the q340 family's integer-micro LPM propensities,
    * so BOTH moments are exact integers until the final division —
    * no float sums anywhere. */
  val calibrationMoments: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal"), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey",
        when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L).as("t"),
        round($"c_acctbal" * 100).cast("long").as("x1"),
        datediff(to_date($"o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("x2"))
    val m = rows.agg(count(lit(1)).as("n"),
      sum(dec($"x1")).as("sx1"), sum(dec($"x2")).as("sx2"),
      sum(($"t" * lit(1000000L)).cast("decimal(38,0)")).as("st"),
      sum(dec($"x1") * dec($"x1")).as("q11"),
      sum(dec($"x2") * dec($"x2")).as("q22"),
      sum(dec($"x1") * dec($"x2")).as("q12"),
      sum(dec($"x1") * dec($"t" * lit(1000000L))).as("q1t"),
      sum(dec($"x2") * dec($"t" * lit(1000000L))).as("q2t"))
      .selectExpr("n", "sx1", "sx2", "st",
        "CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / n AS s11",
        "CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / n AS s22",
        "CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE) / n AS s12",
        "CAST(q1t AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(st AS DOUBLE) / n AS s1t",
        "CAST(q2t AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(st AS DOUBLE) / n AS s2t")
      .selectExpr("n", "sx1", "sx2", "st",
        "(s22 * s1t - s12 * s2t) / (s11 * s22 - s12 * s12) AS b1",
        "(s11 * s2t - s12 * s1t) / (s11 * s22 - s12 * s12) AS b2")
    val scored = rows.crossJoin(broadcast(m))
      .selectExpr("t",
        "CAST(round(CAST(st AS DOUBLE) / n +" +
          " b1 * (x1 - CAST(sx1 AS DOUBLE) / n) +" +
          " b2 * (x2 - CAST(sx2 AS DOUBLE) / n)) AS BIGINT) AS p")
    scored.agg(count(lit(1)).as("n"), sum($"t").as("stt"),
        sum($"p").as("sp"), sum(dec($"p") * dec($"p")).as("qpp"),
        sum(dec($"p") * dec($"t" * lit(1000000L))).as("qpt"))
      .selectExpr("n",
        "CAST(round(1000000.0 * stt / n - CAST(sp AS DOUBLE) / n)" +
          " AS BIGINT) AS bias_micro",
        "CAST(round(1000.0 *" +
          " (CAST(qpt AS DOUBLE) - CAST(sp AS DOUBLE) *" +
          " (1000000.0 * stt) / n) /" +
          " (CAST(qpp AS DOUBLE) - CAST(sp AS DOUBLE) * sp / n))" +
          " AS BIGINT) AS slope_milli")
  }

  // --------------- q400 per-segment PSI drift attribution

  /** q400 — population-stability drift ATTRIBUTED to segments:
    * q114's global PSI says THAT the order-value mix moved between
    * the first and second half of the history; this says WHERE —
    * PSI per market segment over the shared global decile bins
    * (rangeNtile backbone), add-one smoothed so empty segment×bin
    * cells stay finite, worst segment flagged. Per-bin terms
    * quantize to micro before the 10-row segment sums. */
  val psiBySegment: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_mktsegment"), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"c_mktsegment".as("seg"),
        round($"o_totalprice" * 100).cast("long").as("v"),
        datediff(to_date($"o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("d"))
    val half = rows.agg(max($"d").as("dmax"))
    val binned = ScaleWindows.rangeNtile(rows, 10,
      Seq($"v", $"o_orderkey"), "bin")
    // cells checkpointed: the (seg, bin, period) census — ≤ segments ×
    // 10 × 2 rows — feeds the distinct-segment grid AND the smoothing
    // join; lazy, the whole upstream (orders⋈customer + rangeNtile's
    // post-exchange rank arithmetic) re-ran per branch, which is why
    // this query carried the suite's largest plan (190 Exchanges)
    val cells = binned.crossJoin(broadcast(half))
      .select($"seg", $"bin",
        when($"d" * 2L <= $"dmax", 0L).otherwise(1L).as("period"))
      .groupBy($"seg", $"bin", $"period").agg(count(lit(1)).as("c"))
      .trunkCheckpoint()
    // complete (seg, bin, period) grid with add-one smoothing
    val segs = cells.select($"seg").distinct()
    val grid = segs
      .crossJoin(broadcast((1L to 10L).toDF("bin")))
      .crossJoin(broadcast(Seq(0L, 1L).toDF("period")))
    val smooth = grid.join(cells, Seq("seg", "bin", "period"), "left")
      .na.fill(0L, Seq("c")).select($"seg", $"bin", $"period",
        ($"c" + 1L).as("c"))
    val tots = smooth.groupBy($"seg", $"period").agg(sum($"c").as("tc"))
    val wide = smooth.join(tots, Seq("seg", "period"))
      .select($"seg", $"bin",
        when($"period" === 0, $"c").otherwise(0L).as("c0"),
        when($"period" === 1, $"c").otherwise(0L).as("c1"),
        when($"period" === 0, $"tc").otherwise(0L).as("t0"),
        when($"period" === 1, $"tc").otherwise(0L).as("t1"))
      .groupBy($"seg", $"bin")
      .agg(sum($"c0").as("c0"), sum($"c1").as("c1"),
        sum($"t0").as("t0"), sum($"t1").as("t1"))
    val terms = wide.select($"seg",
      expr("CAST(round(1000000.0 *" +
        " (CAST(c0 AS DOUBLE) / t0 - CAST(c1 AS DOUBLE) / t1) *" +
        " ln((CAST(c0 AS DOUBLE) / t0) / (CAST(c1 AS DOUBLE) / t1)))" +
        " AS BIGINT)").as("term_u"))
    // psi checkpointed: O(segments) rows read by the worst-segment
    // argmax and the final projection
    val psi = terms.groupBy($"seg").agg(sum($"term_u").as("psi_micro"))
      .trunkCheckpoint()
    val worst = psi.agg(max(struct($"psi_micro", $"seg")).as("b"))
      .select($"b.seg".as("worst_seg"))
    psi.crossJoin(broadcast(worst))
      .select($"seg", $"psi_micro",
        ($"seg" === $"worst_seg").cast("int").as("is_worst"))
      .orderBy($"seg")
  }

  // -------------------- q401 Bland-Altman agreement

  /** q401 — Bland–Altman limits of agreement between the two price
    * "measurements" of a part (transacted unit price vs list price):
    * the method-comparison standard that q201's correlation cannot
    * replace (two methods can correlate 0.99 and still disagree by a
    * constant). Differences are exact cents (unit price quantized
    * per row); the LoA fences come from the one-row exact moment
    * frame; the outside-count is a second map-side pass against the
    * broadcast fences. */
  val blandAltman: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    def diffs = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "part")
        .select($"p_partkey", round($"p_retailprice" * 100).cast("long")
          .as("rp")), $"l_partkey" === $"p_partkey")
      .select((expr("CAST(round(100.0 * l_extendedprice / l_quantity)" +
        " AS BIGINT)") - $"rp").as("d"))
    val m = diffs.agg(count(lit(1)).as("n"), sum($"d").as("sd"),
        sum(dec($"d") * dec($"d")).as("qd"))
      .selectExpr("n", "sd",
        "sqrt((CAST(qd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n)" +
          " / (n - 1)) AS s")
      .selectExpr("n",
        "CAST(sd AS DOUBLE) / n AS md",
        "CAST(sd AS DOUBLE) / n - 1.96 * s AS lo",
        "CAST(sd AS DOUBLE) / n + 1.96 * s AS hi")
    diffs.crossJoin(broadcast(m))
      .groupBy($"n", $"md", $"lo", $"hi")
      .agg(sum(when($"d" < $"lo" || $"d" > $"hi", 1L).otherwise(0L))
        .as("n_outside"))
      .selectExpr("n",
        "CAST(round(md) AS BIGINT) AS mean_diff_cents",
        "CAST(round(lo) AS BIGINT) AS loa_lo_cents",
        "CAST(round(hi) AS BIGINT) AS loa_hi_cents",
        "CAST(round(1000000.0 * n_outside / n) AS BIGINT)" +
          " AS outside_micro")
  }

  // ------------------ q402 Lin's concordance correlation

  /** q402 — Lin's concordance correlation coefficient for the same
    * measurement pair: CCC = 2s_xy ∕ (s_x² + s_y² + (x̄−ȳ)²) — the
    * single number that punishes BOTH scatter and bias (Pearson
    * only sees scatter; q401 only reports the bias band). ONE
    * moment pass, all sums exact, one quantized division. */
  val linsCcc: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "part")
        .select($"p_partkey", round($"p_retailprice" * 100).cast("long")
          .as("y")), $"l_partkey" === $"p_partkey")
      .select(expr("CAST(round(100.0 * l_extendedprice / l_quantity)" +
        " AS BIGINT)").as("x"), $"y")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum(dec($"x") * dec($"x")).as("qxx"),
        sum(dec($"y") * dec($"y")).as("qyy"),
        sum(dec($"x") * dec($"y")).as("qxy"))
      .selectExpr("n",
        "CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxx",
        "CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS syy",
        "CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n AS sxy",
        "CAST(sx AS DOUBLE) / n - CAST(sy AS DOUBLE) / n AS db")
      .selectExpr("n",
        "CAST(round(1000000.0 * 2.0 * sxy /" +
          " (sxx + syy + CAST(n AS DOUBLE) * db * db)) AS BIGINT)" +
          " AS ccc_micro",
        "CAST(round(1000000.0 * sxy / sqrt(sxx * syy)) AS BIGINT)" +
          " AS pearson_micro")
  }

  // ---------------------- q403 Deming regression

  /** q403 — Deming (errors-in-variables, λ = 1) regression of list
    * price on transacted unit price: OLS attenuates the slope when
    * BOTH variables carry noise (every measurement-comparison
    * pitfall in one line); the Deming slope
    * (s_yy − s_xx + √((s_yy−s_xx)² + 4s_xy²)) ∕ 2s_xy is closed form
    * over the same one-pass moments, reported next to the naive OLS
    * slope so the attenuation is visible. */
  val demingRegression: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "part")
        .select($"p_partkey", round($"p_retailprice" * 100).cast("long")
          .as("y")), $"l_partkey" === $"p_partkey")
      .select(expr("CAST(round(100.0 * l_extendedprice / l_quantity)" +
        " AS BIGINT)").as("x"), $"y")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum(dec($"x") * dec($"x")).as("qxx"),
        sum(dec($"y") * dec($"y")).as("qyy"),
        sum(dec($"x") * dec($"y")).as("qxy"))
      .selectExpr("n",
        "CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxx",
        "CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS syy",
        "CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n AS sxy")
      .selectExpr("n",
        // abs(sxy) fence: at sxy = 0 the Deming ratio is +-inf (round
        // would overflow Spark and error DuckDB) — report NULL, the
        // honest "slope undefined" answer for an orthogonal pair
        "CASE WHEN abs(sxy) < 1e-9 THEN NULL ELSE" +
          " CAST(round(1000.0 * (syy - sxx + sqrt((syy - sxx) *" +
          " (syy - sxx) + 4.0 * sxy * sxy)) / (2.0 * sxy))" +
          " AS BIGINT) END AS deming_slope_milli",
        "CAST(round(1000.0 * sxy / sxx) AS BIGINT)" +
          " AS ols_slope_milli")
  }

  // ----------------- q404 Youden J optimal threshold

  /** q404 — ROC-optimal operating point: the score threshold
    * maximizing Youden's J = TPR − FPR for the LPM urgency score —
    * q191 integrates the whole ROC curve (AUC); deployment needs
    * ONE cutoff, and this picks it exactly. Cumulative
    * positive/negative counts along the score order come from ONE
    * [[graft.functions.ScaleWindows.rangeCumSums]] pass over the
    * distinct-score grid; J at every candidate threshold is exact
    * integers cross-multiplied (J·P·N scale), argmax ties break on
    * the lower threshold. */
  val youdenThreshold: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal"), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey",
        when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L).as("t"),
        round($"c_acctbal" * 100).cast("long").as("x1"),
        datediff(to_date($"o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("x2"))
    val m = rows.agg(count(lit(1)).as("n"),
      sum(dec($"x1")).as("sx1"), sum(dec($"x2")).as("sx2"),
      sum(($"t" * lit(1000000L)).cast("decimal(38,0)")).as("st"),
      sum(dec($"x1") * dec($"x1")).as("q11"),
      sum(dec($"x2") * dec($"x2")).as("q22"),
      sum(dec($"x1") * dec($"x2")).as("q12"),
      sum(dec($"x1") * dec($"t" * lit(1000000L))).as("q1t"),
      sum(dec($"x2") * dec($"t" * lit(1000000L))).as("q2t"))
      .selectExpr("n", "sx1", "sx2", "st",
        "CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / n AS s11",
        "CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / n AS s22",
        "CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE) / n AS s12",
        "CAST(q1t AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(st AS DOUBLE) / n AS s1t",
        "CAST(q2t AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(st AS DOUBLE) / n AS s2t")
      .selectExpr("n", "sx1", "sx2", "st",
        "(s22 * s1t - s12 * s2t) / (s11 * s22 - s12 * s12) AS b1",
        "(s11 * s2t - s12 * s1t) / (s11 * s22 - s12 * s12) AS b2")
    // grid pinned (O(distinct scores)): read by the cum-rank pass AND
    // the totals row — lazy, the whole LPM scoring pass (orders ⋈
    // customer + moment broadcast) ran twice
    val grid = rows.crossJoin(broadcast(m))
      .selectExpr("t",
        "CAST(round(CAST(st AS DOUBLE) / n +" +
          " b1 * (x1 - CAST(sx1 AS DOUBLE) / n) +" +
          " b2 * (x2 - CAST(sx2 AS DOUBLE) / n)) AS BIGINT) AS p")
      .groupBy($"p").agg(sum($"t").as("pos"),
        sum(lit(1L) - $"t").as("neg"))
      .trunkCheckpoint()
    val cum = ScaleWindows.rangeCumSums(grid, Seq($"p"),
      Seq(col("pos") -> "cp", col("neg") -> "cn"))
    val tot = grid.agg(sum($"pos").as("tp"), sum($"neg").as("tn"))
    // classify "positive" when score >= p: TPR = (TP−cp)/TP,
    // FPR = (TN−cn)/TN; J·TP·TN exact integers
    val scoredT = cum.crossJoin(broadcast(tot))
      .select($"p",
        (($"tp" - $"cp") * $"tn" - ($"tn" - $"cn") * $"tp").as("jnum"),
        $"tp", $"tn")
    val best = scoredT.agg(max(struct($"jnum", (-$"p").as("np"))).as("b"))
      .select($"b.jnum".as("jnum"), (-$"b.np").as("p"))
    best.crossJoin(broadcast(tot))
      .select($"p".as("threshold_micro"),
        expr("CAST(round(1000000.0 * jnum /" +
          " (CAST(tp AS DOUBLE) * tn)) AS BIGINT)").as("youden_j_micro"))
  }

  // -------------------- q405 Mann-Kendall trend test

  /** q405 — Mann–Kendall monotone-trend test on the daily revenue
    * series: the nonparametric answer to "is revenue drifting?"
    * that q358's parametric break search and q183's CUSUM assume
    * away. S = Σ sign(y_j − y_i) over ordered day pairs, computed
    * on the day-grid SELF-JOIN — bounded by calendar days squared
    * at ANY corpus size (days don't grow with SF), with the exact
    * tie-corrected variance from the value-multiplicity frame. */
  val mannKendall: Q = (s, dir) => {
    import s.implicits._
    val daily = Tables(s, dir, "orders")
      .groupBy(datediff(to_date($"o_orderdate"),
        lit("1995-01-01").cast("date")).cast("long").as("t"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("y"))
      .trunkCheckpoint()
    val pairs = daily.select($"t".as("ti"), $"y".as("yi"))
      .join(broadcast(daily.select($"t".as("tj"), $"y".as("yj"))),
        $"ti" < $"tj")
      .agg(sum(when($"yj" > $"yi", 1L).when($"yj" < $"yi", -1L)
        .otherwise(0L)).as("s_stat"))
    val ties = daily.groupBy($"y").agg(count(lit(1)).as("m"))
      .agg(sum($"m").as("n"),
        sum($"m" * ($"m" - 1L) * (lit(2L) * $"m" + 5L)).as("tie_adj"))
    pairs.crossJoin(broadcast(ties))
      .selectExpr("n", "s_stat",
        // Var(S) = (n(n−1)(2n+5) − Σ m(m−1)(2m+5)) / 18
        "CAST(round(1000.0 * (s_stat - CASE WHEN s_stat > 0 THEN 1" +
          " WHEN s_stat < 0 THEN -1 ELSE 0 END) /" +
          " sqrt((CAST(n AS DOUBLE) * (n - 1) * (2.0 * n + 5)" +
          " - tie_adj) / 18.0)) AS BIGINT) AS z_milli")
  }

  // ---------------------- q406 paired sign test

  /** q406 — paired sign test on the q401 price pair: is the
    * transacted unit price ABOVE list more often than below —
    * the assumption-free companion the Bland–Altman write-up
    * quotes when differences are skewed. Exact integer counts,
    * continuity-corrected normal z on the one-row frame. */
  val signTest: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "part")
        .select($"p_partkey", round($"p_retailprice" * 100).cast("long")
          .as("rp")), $"l_partkey" === $"p_partkey")
      .select((expr("CAST(round(100.0 * l_extendedprice / l_quantity)" +
        " AS BIGINT)") - $"rp").as("d"))
      .agg(sum(when($"d" > 0, 1L).otherwise(0L)).as("pos"),
        sum(when($"d" < 0, 1L).otherwise(0L)).as("neg"))
      .selectExpr("pos", "neg",
        "CAST(round(1000.0 * (abs(CAST(pos AS DOUBLE) - neg) - 1.0) /" +
          " sqrt(CAST(pos + neg AS DOUBLE))) AS BIGINT)" +
          " AS z_milli")
  }

  // ------------------ q407 Hodges-Lehmann estimator

  /** q407 — Hodges–Lehmann location estimate of daily revenue: the
    * median of all pairwise Walsh averages — the robust center with
    * higher efficiency than the plain median (the estimator behind
    * the Wilcoxon interval). Walsh averages live on the day-grid
    * self-join (calendar-bounded); the exact median comes from one
    * rangeCumSum rank pass over that bounded pair frame, picking
    * the middle order statistic(s) by integer rank match. */
  val hodgesLehmann: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val daily = Tables(s, dir, "orders")
      .groupBy(datediff(to_date($"o_orderdate"),
        lit("1995-01-01").cast("date")).cast("long").as("t"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("y"))
      .trunkCheckpoint()
    // Walsh averages (i <= j) in half-cent units to stay integral
    val walsh = daily.select($"t".as("ti"), $"y".as("yi"))
      .join(broadcast(daily.select($"t".as("tj"), $"y".as("yj"))),
        $"ti" <= $"tj")
      .select(($"yi" + $"yj").as("w2"), $"ti", $"tj")
    // closed-form pair count from the (checkpointed, day-grid-sized)
    // daily frame: |{(i,j): i<=j}| = nd(nd+1)/2 — counting the walsh
    // frame itself re-ran the whole day² self-join once more just to
    // learn its size (q177's r10 lesson, applied here; r11 audit)
    val n = daily.agg(count(lit(1)).as("nd"))
      .select(expr("nd * (nd + 1) div 2").as("nw"))
    val ranked = ScaleWindows.rangeCumSum(walsh,
      Seq($"w2", $"ti", $"tj"), lit(1L), "rk")
    ranked.crossJoin(broadcast(n))
      // lower median (rk = (nw−1) div 2) and upper (rk = nw div 2)
      .filter($"rk" === expr("(nw - 1) div 2") ||
        $"rk" === expr("nw div 2"))
      .agg(first($"nw").as("n_walsh"),
        expr("CAST(round(CAST(sum(w2) AS DOUBLE) /" +
          " (2.0 * count(*))) AS BIGINT)").as("hl_cents"))
  }

  val queries: Map[String, Q] = Map(
    "q346_item_cf_topk" -> itemCfTopk,
    "q347_als_half_step" -> alsHalfStep,
    "q348_t_closeness" -> tCloseness,
    "q349_shapley_attribution" -> shapleyAttribution,
    "q350_jackknife_variance" -> jackknifeVariance,
    "q351_gumbel_block_maxima" -> gumbelBlockMaxima,
    "q352_doubly_robust_ate" -> doublyRobustAte,
    "q353_fleiss_kappa" -> fleissKappa,
    "q354_brier_decomposition" -> brierDecomposition,
    "q355_pps_systematic" -> ppsSystematic,
    "q356_cochran_armitage" -> cochranArmitage,
    "q357_logrank_test" -> logRank,
    "q358_segmented_regression" -> segmentedRegression,
    "q359_weighted_jaccard" -> weightedJaccard,
    "q360_kendall_w" -> kendallW,
    "q361_twoway_fe" -> twoWayFixedEffects,
    "q362_geo_mean" -> geoMean,
    "q363_negative_sampling" -> negativeSampling,
    "q364_psm_att" -> psmAtt,
    "q365_grid_dbscan" -> gridDbscan,
    "q366_ad_uniform" -> adUniform,
    "q367_silhouette" -> silhouette,
    "q368_ransac_line" -> ransacLine,
    "q369_eb_beta_shrinkage" -> ebBetaShrinkage,
    "q370_hosmer_lemeshow" -> hosmerLemeshow,
    "q371_icc" -> icc1,
    "q372_price_index" -> priceIndex,
    "q373_weibull_gaps" -> weibullGaps,
    "q374_dfa" -> dfa,
    "q375_atkinson_index" -> atkinsonIndex,
    "q376_rmst" -> rmst,
    "q377_competing_risks" -> competingRisks,
    "q378_periodogram" -> periodogram,
    "q379_granger" -> granger,
    "q380_engle_granger" -> engleGranger,
    "q381_borda_condorcet" -> bordaCondorcet,
    "q382_cross_lang_leakage" -> crossLangLeakage,
    "q383_participation_ratio" -> participationRatio,
    "q384_xcorr" -> xcorr,
    "q385_novelty_share" -> noveltyShare,
    "q386_gaussian_kde" -> gaussianKde,
    "q387_tail_dependence" -> tailDependence,
    "q388_qte" -> quantileTreatmentEffect,
    "q389_e_value" -> eValue,
    "q390_cooks_distance" -> cooksDistance,
    "q391_vif" -> vif,
    "q392_breusch_pagan" -> breuschPagan,
    "q393_durbin_watson" -> durbinWatson,
    "q394_hc1_robust_se" -> hc1RobustSe,
    "q395_oaxaca_blinder" -> oaxacaBlinder,
    "q396_slo_burn_rate" -> sloBurnRate,
    "q397_weighted_kappa" -> weightedKappa,
    "q398_rec_coverage" -> recCoverage,
    "q399_calibration_moments" -> calibrationMoments,
    "q400_psi_by_segment" -> psiBySegment,
    "q401_bland_altman" -> blandAltman,
    "q402_lins_ccc" -> linsCcc,
    "q403_deming_regression" -> demingRegression,
    "q404_youden_threshold" -> youdenThreshold,
    "q405_mann_kendall" -> mannKendall,
    "q406_sign_test" -> signTest,
    "q407_hodges_lehmann" -> hodgesLehmann,
  )

  val oracles: Map[String, String] = Map(
    "q346_item_cf_topk" ->
      """WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey
        |  FROM lineitem),
        |support AS (SELECT l_partkey, count(*)::BIGINT AS ni
        |  FROM baskets GROUP BY 1),
        |pairs AS (SELECT a.l_partkey AS pi, b.l_partkey AS pj,
        |    count(*)::BIGINT AS nij
        |  FROM baskets a JOIN baskets b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |scored AS (SELECT pi, pj, nij,
        |    CAST(1000000000000::HUGEINT * nij * nij
        |      // (sa.ni::HUGEINT * sb.ni) AS BIGINT) AS cos2_micro2
        |  FROM pairs
        |  JOIN support sa ON sa.l_partkey = pi
        |  JOIN support sb ON sb.l_partkey = pj),
        |sym AS (SELECT pi AS item, pj AS neighbor, nij, cos2_micro2
        |    FROM scored
        |  UNION ALL
        |  SELECT pj AS item, pi AS neighbor, nij, cos2_micro2
        |    FROM scored),
        |ranked AS (SELECT item, neighbor, nij, cos2_micro2,
        |    row_number() OVER (PARTITION BY item
        |      ORDER BY cos2_micro2 DESC, neighbor ASC) AS rk
        |  FROM sym)
        |SELECT item, rk::INT AS rk, neighbor, nij, cos2_micro2
        |FROM ranked WHERE rk <= 3""".stripMargin,
    "q347_als_half_step" ->
      """WITH rated AS (SELECT o_custkey AS usr,
        |    (l_partkey % 7 - 3)::BIGINT AS f1,
        |    ((l_partkey // 7) % 7 - 3)::BIGINT AS f2,
        |    CAST(l_quantity AS BIGINT) AS y
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |m AS (SELECT usr, count(*)::BIGINT AS n,
        |    sum(f1 * f1)::BIGINT AS a11, sum(f1 * f2)::BIGINT AS a12,
        |    sum(f2 * f2)::BIGINT AS a22,
        |    sum(f1 * y)::BIGINT AS b1, sum(f2 * y)::BIGINT AS b2
        |  FROM rated GROUP BY 1)
        |SELECT usr, n,
        |  CAST(round(1000.0 * ((a22 + 10) * b1 - a12 * b2) /
        |    ((a11 + 10) * (a22 + 10) - a12 * a12)) AS BIGINT)
        |    AS x1_milli,
        |  CAST(round(1000.0 * ((a11 + 10) * b2 - a12 * b1) /
        |    ((a11 + 10) * (a22 + 10) - a12 * a12)) AS BIGINT)
        |    AS x2_milli
        |FROM m""".stripMargin,
    "q348_t_closeness" ->
      """WITH c AS (SELECT (c_nationkey % 5)::BIGINT AS qid_region,
        |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS qid_band,
        |    c_mktsegment AS seg
        |  FROM customer),
        |cell AS (SELECT qid_region, qid_band, seg,
        |    count(*)::BIGINT AS cgs
        |  FROM c GROUP BY 1, 2, 3),
        |grp AS (SELECT qid_region, qid_band, sum(cgs)::BIGINT AS ng
        |  FROM cell GROUP BY 1, 2),
        |gsum AS (SELECT seg, sum(cgs)::BIGINT AS cs FROM cell GROUP BY 1),
        |tot AS (SELECT sum(cs)::BIGINT AS nn FROM gsum)
        |SELECT cell.qid_region, cell.qid_band,
        |  first(ng)::BIGINT AS n_g,
        |  (sum(abs(cgs * nn - cs * ng)) +
        |   (first(nn) * first(ng) - sum(cs * ng)))::BIGINT AS tv2num,
        |  CAST(5 * (sum(abs(cgs * nn - cs * ng)) +
        |    (first(nn) * first(ng) - sum(cs * ng)))
        |    > 2 * first(ng) * first(nn) AS INT) AS violates_t
        |FROM cell
        |JOIN gsum USING (seg)
        |JOIN grp ON cell.qid_region = grp.qid_region
        |  AND cell.qid_band = grp.qid_band
        |CROSS JOIN tot
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q349_shapley_attribution" ->
      """WITH conv AS (SELECT user_id, min(ts) AS conv_ts
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |masks AS (SELECT e.user_id,
        |    bit_or(CASE e.event_type WHEN 'view' THEN 1
        |      WHEN 'click' THEN 2 WHEN 'signup' THEN 4
        |      ELSE 0 END)::BIGINT AS mask
        |  FROM events e JOIN conv ON e.user_id = conv.user_id
        |  WHERE e.ts < conv.conv_ts
        |  GROUP BY 1 HAVING mask > 0),
        |cnt AS (SELECT mask, count(*)::BIGINT AS c
        |  FROM masks GROUP BY 1),
        |w AS (SELECT
        |  coalesce(sum(CASE WHEN (mask & ~1 & 7) = 0 THEN c END), 0)
        |    ::BIGINT AS v1,
        |  coalesce(sum(CASE WHEN (mask & ~2 & 7) = 0 THEN c END), 0)
        |    ::BIGINT AS v2,
        |  coalesce(sum(CASE WHEN (mask & ~3 & 7) = 0 THEN c END), 0)
        |    ::BIGINT AS v3,
        |  coalesce(sum(CASE WHEN (mask & ~4 & 7) = 0 THEN c END), 0)
        |    ::BIGINT AS v4,
        |  coalesce(sum(CASE WHEN (mask & ~5 & 7) = 0 THEN c END), 0)
        |    ::BIGINT AS v5,
        |  coalesce(sum(CASE WHEN (mask & ~6 & 7) = 0 THEN c END), 0)
        |    ::BIGINT AS v6,
        |  coalesce(sum(c), 0)::BIGINT AS v7
        |  FROM cnt)
        |SELECT v7 AS conversions,
        |  (2 * v1 + (v3 - v2) + (v5 - v4) + 2 * (v7 - v6))::BIGINT
        |    AS phi6_view,
        |  (2 * v2 + (v3 - v1) + (v6 - v4) + 2 * (v7 - v5))::BIGINT
        |    AS phi6_click,
        |  (2 * v4 + (v5 - v1) + (v6 - v2) + 2 * (v7 - v3))::BIGINT
        |    AS phi6_signup
        |FROM w""".stripMargin,
    "q350_jackknife_variance" ->
      """WITH per_g AS (SELECT c_nationkey AS g, count(*)::BIGINT AS n_g,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS s_g
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |tot AS (SELECT sum(n_g)::BIGINT AS nn, sum(s_g)::BIGINT AS ss,
        |    count(*)::BIGINT AS gg
        |  FROM per_g),
        |reps AS (SELECT g, nn, ss, gg,
        |    CAST(ss - s_g AS DOUBLE) / (nn - n_g)
        |      - CAST(ss AS DOUBLE) / nn AS delta
        |  FROM per_g CROSS JOIN tot),
        |m AS (SELECT nn, ss, gg, sum(delta) AS sd,
        |    sum(delta * delta) AS sd2
        |  FROM reps GROUP BY 1, 2, 3)
        |SELECT gg AS n_groups,
        |  CAST(round(1000000.0 * ss / nn) AS BIGINT) AS theta_micro,
        |  CAST(round(1000000.0 * sqrt(((gg - 1.0) / gg) *
        |    (sd2 - sd * sd / gg))) AS BIGINT) AS se_micro
        |FROM m""".stripMargin,
    "q351_gumbel_block_maxima" ->
      """WITH wk AS (SELECT
        |    (date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      // 7)::BIGINT AS week,
        |    max(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS m
        |  FROM orders GROUP BY 1),
        |agg AS (SELECT count(*)::BIGINT AS nb, sum(m)::BIGINT AS sm,
        |    sum(m::HUGEINT * m) AS qm
        |  FROM wk),
        |st AS (SELECT nb, sm,
        |    CAST(qm AS DOUBLE) - CAST(sm AS DOUBLE) * sm / nb AS ss
        |  FROM agg)
        |SELECT nb,
        |  CAST(round(CAST(sm AS DOUBLE) / nb) AS BIGINT) AS mean_cents,
        |  CAST(round(sqrt(ss / (nb - 1)) * sqrt(6.0) / pi()) AS BIGINT)
        |    AS beta_cents,
        |  CAST(round(CAST(sm AS DOUBLE) / nb - 0.5772156649015329 *
        |    (sqrt(ss / (nb - 1)) * sqrt(6.0) / pi())) AS BIGINT)
        |    AS mu_cents,
        |  CAST(round(CAST(sm AS DOUBLE) / nb - 0.5772156649015329 *
        |    (sqrt(ss / (nb - 1)) * sqrt(6.0) / pi()) -
        |    (sqrt(ss / (nb - 1)) * sqrt(6.0) / pi()) *
        |    ln(-ln(1.0 - 1.0 / 100.0))) AS BIGINT)
        |    AS return_level_100_cents
        |FROM st""".stripMargin,
    "q352_doubly_robust_ate" ->
      """WITH rows_ AS (SELECT o_orderkey,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
        |      ::BIGINT AS t,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS x1,
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      ::BIGINT AS x2
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |arm AS (SELECT t, count(*)::BIGINT AS n,
        |    sum(x1)::BIGINT AS sx1, sum(x2)::BIGINT AS sx2,
        |    sum(y)::BIGINT AS sy,
        |    sum(x1::HUGEINT * x1) AS q11, sum(x2::HUGEINT * x2) AS q22,
        |    sum(x1::HUGEINT * x2) AS q12, sum(x1::HUGEINT * y) AS q1y,
        |    sum(x2::HUGEINT * y) AS q2y
        |  FROM rows_ GROUP BY 1),
        |one AS (SELECT
        |    sum(CASE WHEN t = 1 THEN n END)::BIGINT AS n1,
        |    sum(CASE WHEN t = 1 THEN sx1 END)::BIGINT AS sx1_1,
        |    sum(CASE WHEN t = 1 THEN sx2 END)::BIGINT AS sx2_1,
        |    sum(CASE WHEN t = 1 THEN sy END)::BIGINT AS sy_1,
        |    sum(CASE WHEN t = 1 THEN q11 END) AS q11_1,
        |    sum(CASE WHEN t = 1 THEN q22 END) AS q22_1,
        |    sum(CASE WHEN t = 1 THEN q12 END) AS q12_1,
        |    sum(CASE WHEN t = 1 THEN q1y END) AS q1y_1,
        |    sum(CASE WHEN t = 1 THEN q2y END) AS q2y_1,
        |    sum(CASE WHEN t = 0 THEN n END)::BIGINT AS n0,
        |    sum(CASE WHEN t = 0 THEN sx1 END)::BIGINT AS sx1_0,
        |    sum(CASE WHEN t = 0 THEN sx2 END)::BIGINT AS sx2_0,
        |    sum(CASE WHEN t = 0 THEN sy END)::BIGINT AS sy_0,
        |    sum(CASE WHEN t = 0 THEN q11 END) AS q11_0,
        |    sum(CASE WHEN t = 0 THEN q22 END) AS q22_0,
        |    sum(CASE WHEN t = 0 THEN q12 END) AS q12_0,
        |    sum(CASE WHEN t = 0 THEN q1y END) AS q1y_0,
        |    sum(CASE WHEN t = 0 THEN q2y END) AS q2y_0
        |  FROM arm),
        |mid AS (SELECT n1, n0,
        |    CAST(sx1_1 AS DOUBLE) / n1 AS mx1_1,
        |    CAST(sx2_1 AS DOUBLE) / n1 AS mx2_1,
        |    CAST(sy_1 AS DOUBLE) / n1 AS my_1,
        |    CAST(sx1_0 AS DOUBLE) / n0 AS mx1_0,
        |    CAST(sx2_0 AS DOUBLE) / n0 AS mx2_0,
        |    CAST(sy_0 AS DOUBLE) / n0 AS my_0,
        |    CAST(q11_1 AS DOUBLE) - CAST(sx1_1 AS DOUBLE) * sx1_1 / n1 AS s11_1,
        |    CAST(q22_1 AS DOUBLE) - CAST(sx2_1 AS DOUBLE) * sx2_1 / n1 AS s22_1,
        |    CAST(q12_1 AS DOUBLE) - CAST(sx1_1 AS DOUBLE) * sx2_1 / n1 AS s12_1,
        |    CAST(q1y_1 AS DOUBLE) - CAST(sx1_1 AS DOUBLE) * sy_1 / n1 AS s1y_1,
        |    CAST(q2y_1 AS DOUBLE) - CAST(sx2_1 AS DOUBLE) * sy_1 / n1 AS s2y_1,
        |    CAST(q11_0 AS DOUBLE) - CAST(sx1_0 AS DOUBLE) * sx1_0 / n0 AS s11_0,
        |    CAST(q22_0 AS DOUBLE) - CAST(sx2_0 AS DOUBLE) * sx2_0 / n0 AS s22_0,
        |    CAST(q12_0 AS DOUBLE) - CAST(sx1_0 AS DOUBLE) * sx2_0 / n0 AS s12_0,
        |    CAST(q1y_0 AS DOUBLE) - CAST(sx1_0 AS DOUBLE) * sy_0 / n0 AS s1y_0,
        |    CAST(q2y_0 AS DOUBLE) - CAST(sx2_0 AS DOUBLE) * sy_0 / n0 AS s2y_0,
        |    CAST(sx1_1 + sx1_0 AS DOUBLE) / (n1 + n0) AS mx1,
        |    CAST(sx2_1 + sx2_0 AS DOUBLE) / (n1 + n0) AS mx2,
        |    CAST(n1 AS DOUBLE) / (n1 + n0) AS mt,
        |    CAST(q11_1 + q11_0 AS DOUBLE) - CAST(sx1_1 + sx1_0 AS DOUBLE)
        |      * (sx1_1 + sx1_0) / (n1 + n0) AS s11,
        |    CAST(q22_1 + q22_0 AS DOUBLE) - CAST(sx2_1 + sx2_0 AS DOUBLE)
        |      * (sx2_1 + sx2_0) / (n1 + n0) AS s22,
        |    CAST(q12_1 + q12_0 AS DOUBLE) - CAST(sx1_1 + sx1_0 AS DOUBLE)
        |      * (sx2_1 + sx2_0) / (n1 + n0) AS s12,
        |    CAST(sx1_1 AS DOUBLE) - CAST(sx1_1 + sx1_0 AS DOUBLE)
        |      * n1 / (n1 + n0) AS s1t,
        |    CAST(sx2_1 AS DOUBLE) - CAST(sx2_1 + sx2_0 AS DOUBLE)
        |      * n1 / (n1 + n0) AS s2t
        |  FROM one),
        |model AS (SELECT n1, n0, mx1_1, mx2_1, my_1,
        |    mx1_0, mx2_0, my_0, mx1, mx2, mt,
        |    (s22_1 * s1y_1 - s12_1 * s2y_1) / (s11_1 * s22_1 - s12_1 * s12_1) AS b1_1,
        |    (s11_1 * s2y_1 - s12_1 * s1y_1) / (s11_1 * s22_1 - s12_1 * s12_1) AS b2_1,
        |    (s22_0 * s1y_0 - s12_0 * s2y_0) / (s11_0 * s22_0 - s12_0 * s12_0) AS b1_0,
        |    (s11_0 * s2y_0 - s12_0 * s1y_0) / (s11_0 * s22_0 - s12_0 * s12_0) AS b2_0,
        |    (s22 * s1t - s12 * s2t) / (s11 * s22 - s12 * s12) AS c1,
        |    (s11 * s2t - s12 * s1t) / (s11 * s22 - s12 * s12) AS c2
        |  FROM mid),
        |scored AS (SELECT
        |    CAST(round(1000.0 * (
        |      (my_1 + b1_1 * (x1 - mx1_1) + b2_1 * (x2 - mx2_1)) -
        |      (my_0 + b1_0 * (x1 - mx1_0) + b2_0 * (x2 - mx2_0)) +
        |      t * (y - (my_1 + b1_1 * (x1 - mx1_1) + b2_1 * (x2 - mx2_1)))
        |        / least(greatest(mt + c1 * (x1 - mx1) + c2 * (x2 - mx2),
        |            0.02), 0.98) -
        |      (1 - t) * (y - (my_0 + b1_0 * (x1 - mx1_0)
        |          + b2_0 * (x2 - mx2_0)))
        |        / (1 - least(greatest(mt + c1 * (x1 - mx1)
        |            + c2 * (x2 - mx2), 0.02), 0.98))))
        |      AS BIGINT) AS phi_milli
        |  FROM rows_ CROSS JOIN model)
        |SELECT count(*)::BIGINT AS n,
        |  sum(phi_milli)::BIGINT AS sum_phi_milli,
        |  CAST(round(CAST(sum(phi_milli) AS DOUBLE) / count(*)) AS BIGINT)
        |    AS ate_milli_cents
        |FROM scored""".stripMargin,
    "q353_fleiss_kappa" ->
      """WITH votes AS (SELECT
        |    ((CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) +
        |     (CASE WHEN length(regexp_replace(text, '[^0-9]', '', 'g'))
        |        * 25 < n_chars THEN 1 ELSE 0 END) +
        |     (CASE WHEN length(regexp_replace(text, '[^.]', '', 'g'))
        |        >= 3 THEN 1 ELSE 0 END))::BIGINT AS g
        |  FROM documents),
        |by_g AS (SELECT g, count(*)::BIGINT AS ng FROM votes GROUP BY 1),
        |agg AS (SELECT sum(ng)::BIGINT AS nn,
        |    sum(g * ng)::BIGINT AS sg,
        |    sum((g * g + (3 - g) * (3 - g) - 3) * ng)::BIGINT AS pairs2
        |  FROM by_g)
        |SELECT nn, sg, pairs2,
        |  CAST(round(1000000.0 *
        |    ((CAST(pairs2 AS DOUBLE) / (6.0 * nn)) -
        |     (POW(CAST(sg AS DOUBLE) / (3.0 * nn), 2) +
        |      POW(1.0 - CAST(sg AS DOUBLE) / (3.0 * nn), 2))) /
        |    (1.0 - (POW(CAST(sg AS DOUBLE) / (3.0 * nn), 2) +
        |      POW(1.0 - CAST(sg AS DOUBLE) / (3.0 * nn), 2)))) AS BIGINT)
        |    AS kappa_micro
        |FROM agg""".stripMargin,
    "q354_brier_decomposition" ->
      """WITH rows_ AS (SELECT o_orderkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
        |      ::BIGINT AS o
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |n_ AS (SELECT count(*)::BIGINT AS nn FROM rows_),
        |ranked AS (SELECT o,
        |    (row_number() OVER (ORDER BY bal, o_orderkey) - 1)::BIGINT
        |      AS rk
        |  FROM rows_),
        |binned AS (SELECT (rk * 10 // nn)::BIGINT AS bin,
        |    ((rk * 10 // nn) * 100 + 50)::BIGINT AS p_milli, o
        |  FROM ranked CROSS JOIN n_),
        |cells AS (SELECT bin, count(*)::BIGINT AS nk,
        |    sum(p_milli)::BIGINT AS sp, sum(o)::BIGINT AS so
        |  FROM binned GROUP BY 1),
        |agg AS (SELECT sum(nk)::BIGINT AS nn, sum(so)::BIGINT AS sot,
        |    sum(CAST(round(CAST((sp - 1000 * so) AS DOUBLE) *
        |      (sp - 1000 * so) / nk) AS BIGINT))::BIGINT AS rel_num,
        |    sum(CAST(round(1000000.0 * CAST(so AS DOUBLE) * so / nk)
        |      AS BIGINT))::BIGINT AS res_base
        |  FROM cells)
        |SELECT nn, sot,
        |  CAST(round(CAST(rel_num AS DOUBLE) / nn) AS BIGINT)
        |    AS rel_micro,
        |  CAST(round(CAST(res_base AS DOUBLE) / nn -
        |    1000000.0 * sot * sot / (CAST(nn AS DOUBLE) * nn))
        |    AS BIGINT) AS res_micro,
        |  CAST(round(1000000.0 * sot * (nn - sot) /
        |    (CAST(nn AS DOUBLE) * nn)) AS BIGINT) AS unc_micro
        |FROM agg""".stripMargin,
    "q355_pps_systematic" ->
      """WITH sized AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS w
        |  FROM orders),
        |cum AS (SELECT o_orderkey, w,
        |    coalesce(sum(w) OVER (ORDER BY o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      ::BIGINT AS c_lo
        |  FROM sized),
        |tot AS (SELECT sum(w)::BIGINT AS s FROM sized)
        |SELECT o_orderkey, w,
        |  CAST((c_lo::HUGEINT + w) * 100 // s
        |    - c_lo::HUGEINT * 100 // s AS BIGINT) AS m
        |FROM cum CROSS JOIN tot
        |WHERE (c_lo::HUGEINT + w) * 100 // s
        |    - c_lo::HUGEINT * 100 // s > 0""".stripMargin,
    "q356_cochran_armitage" ->
      """WITH rows_ AS (SELECT
        |    CAST(floor((c_acctbal + 1000.0) / 2200.0) AS BIGINT) AS dose,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
        |      ::BIGINT AS r
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (SELECT dose, count(*)::BIGINT AS nk,
        |    sum(r)::BIGINT AS rk
        |  FROM rows_ GROUP BY 1),
        |agg AS (SELECT sum(nk)::BIGINT AS nn, sum(rk)::BIGINT AS rr,
        |    sum(dose * rk)::BIGINT AS swr, sum(dose * nk)::BIGINT AS swn,
        |    sum(dose * dose * nk)::BIGINT AS sw2n
        |  FROM cells)
        |SELECT nn, rr,
        |  CAST(round(1000.0 * (CAST(nn AS DOUBLE) * swr - CAST(rr AS DOUBLE) * swn) /
        |    (CAST(nn AS DOUBLE) *
        |    sqrt((CAST(rr AS DOUBLE) / nn) * (1.0 - CAST(rr AS DOUBLE) / nn) *
        |    (CAST(sw2n AS DOUBLE) - CAST(swn AS DOUBLE) * swn / nn))))
        |    AS BIGINT) AS z_milli
        |FROM agg""".stripMargin,
    "q357_logrank_test" ->
      """WITH entry AS (SELECT user_id, min(ts) AS entry
        |  FROM events GROUP BY 1),
        |fp AS (SELECT user_id, min(ts) AS conv
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |durs AS (SELECT e.user_id, (e.user_id % 2)::BIGINT AS g,
        |    CASE WHEN conv IS NOT NULL AND date_diff('day',
        |        CAST(entry AS DATE), CAST(conv AS DATE)) <= 7
        |      THEN date_diff('day', CAST(entry AS DATE),
        |        CAST(conv AS DATE))::BIGINT
        |      ELSE 7 END AS d,
        |    CASE WHEN conv IS NOT NULL AND date_diff('day',
        |        CAST(entry AS DATE), CAST(conv AS DATE)) <= 7
        |      THEN 1 ELSE 0 END::BIGINT AS evt
        |  FROM entry e LEFT JOIN fp ON e.user_id = fp.user_id),
        |grid AS (SELECT d,
        |    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS x0,
        |    sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS x1,
        |    sum(CASE WHEN g = 0 AND evt = 1 THEN 1 ELSE 0 END)::BIGINT
        |      AS d0,
        |    sum(CASE WHEN g = 1 AND evt = 1 THEN 1 ELSE 0 END)::BIGINT
        |      AS d1
        |  FROM durs GROUP BY 1),
        |tot AS (SELECT
        |    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS t0,
        |    sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS t1
        |  FROM durs),
        |cum AS (SELECT d, d0, d1,
        |    coalesce(sum(x0) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      ::BIGINT AS e0,
        |    coalesce(sum(x1) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      ::BIGINT AS e1
        |  FROM grid),
        |terms AS (SELECT
        |    CAST(round(1000000.0 * (CAST(d1 AS DOUBLE) -
        |      CAST(d0 + d1 AS DOUBLE) * (t1 - e1)
        |        / ((t0 - e0) + (t1 - e1)))) AS BIGINT) AS ome_u,
        |    CAST(round(1000000.0 * (CASE WHEN (t0 - e0) + (t1 - e1) > 1
        |      THEN CAST(d0 + d1 AS DOUBLE) * (t0 - e0) * (t1 - e1) *
        |        ((t0 - e0) + (t1 - e1) - d0 - d1) /
        |        (CAST((t0 - e0) + (t1 - e1) AS DOUBLE) *
        |         ((t0 - e0) + (t1 - e1)) *
        |         ((t0 - e0) + (t1 - e1) - 1))
        |      ELSE 0.0 END)) AS BIGINT) AS v_u
        |  FROM cum CROSS JOIN tot
        |  WHERE d0 + d1 > 0)
        |SELECT count(*)::BIGINT AS n_event_days,
        |  sum(ome_u)::BIGINT AS sum_ome_micro,
        |  sum(v_u)::BIGINT AS sum_v_micro,
        |  CAST(round(1000.0 * sum(ome_u) /
        |    sqrt(1000000.0 * sum(v_u))) AS BIGINT) AS z_milli
        |FROM terms""".stripMargin,
    "q358_segmented_regression" ->
      """WITH daily AS (SELECT
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      ::BIGINT AS x,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS y
        |  FROM orders GROUP BY 1),
        |bounds AS (SELECT max(x)::BIGINT AS xmax FROM daily),
        |cands AS (SELECT DISTINCT x AS c FROM daily CROSS JOIN bounds
        |  WHERE x % 90 = 0 AND x >= 180 AND x <= xmax - 180),
        |sides AS (SELECT c,
        |    CASE WHEN x < c THEN 0 ELSE 1 END::BIGINT AS side,
        |    count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy,
        |    sum(x::HUGEINT * x) AS qxx, sum(x::HUGEINT * y) AS qxy,
        |    sum(y::HUGEINT * y) AS qyy
        |  FROM daily CROSS JOIN cands GROUP BY 1, 2),
        |fit AS (SELECT c, side, n,
        |    (CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) -
        |      POW(CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n, 2) /
        |      (CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS sse,
        |    (CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) /
        |      (CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS slope
        |  FROM sides),
        |per_c AS (SELECT c, sum(sse) AS sse_tot,
        |    sum(CASE WHEN side = 0 THEN slope END) AS slope_lo,
        |    sum(CASE WHEN side = 1 THEN slope END) AS slope_hi
        |  FROM fit GROUP BY 1),
        |best AS (SELECT c FROM per_c ORDER BY sse_tot ASC, c ASC LIMIT 1)
        |SELECT per_c.c AS break_day,
        |  CAST(round(sse_tot / 1000000.0) AS BIGINT) AS sse_mega,
        |  CAST(round(1000.0 * slope_lo) AS BIGINT) AS slope_lo_milli,
        |  CAST(round(1000.0 * slope_hi) AS BIGINT) AS slope_hi_milli
        |FROM per_c JOIN best ON per_c.c = best.c""".stripMargin,
    "q359_weighted_jaccard" ->
      """WITH toks AS (SELECT source,
        |    unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |  FROM documents),
        |tf AS (SELECT source, term, count(*)::BIGINT AS f
        |  FROM toks WHERE term <> '' GROUP BY 1, 2),
        |top AS (SELECT term FROM tf GROUP BY term
        |  ORDER BY sum(f) DESC, term ASC LIMIT 200),
        |prof AS (SELECT tf.* FROM tf JOIN top USING (term)),
        |totals AS (SELECT source, sum(f)::BIGINT AS t
        |  FROM prof GROUP BY 1),
        |mins AS (SELECT a.source AS sa, b.source AS sb,
        |    sum(least(a.f, b.f))::BIGINT AS smin
        |  FROM prof a JOIN prof b ON a.term = b.term
        |    AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT ta.source AS sa, tb.source AS sb,
        |  coalesce(smin, 0)::BIGINT AS smin,
        |  (ta.t + tb.t - coalesce(smin, 0))::BIGINT AS smax,
        |  CAST(1000000::HUGEINT * coalesce(smin, 0)
        |    // (ta.t + tb.t - coalesce(smin, 0)) AS BIGINT) AS wj_micro
        |FROM totals ta JOIN totals tb ON ta.source < tb.source
        |LEFT JOIN mins ON mins.sa = ta.source AND mins.sb = tb.source"""
        .stripMargin,
    "q360_kendall_w" ->
      """WITH cells AS (SELECT
        |    CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    c_nationkey AS nat,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |ny AS (SELECT count(DISTINCT yr)::BIGINT AS m FROM cells),
        |complete AS (SELECT nat FROM cells CROSS JOIN ny
        |  GROUP BY nat, m HAVING count(*) = m),
        |ranked AS (SELECT yr, nat,
        |    row_number() OVER (PARTITION BY yr
        |      ORDER BY cents DESC, nat ASC)::BIGINT AS r
        |  FROM cells JOIN complete USING (nat)),
        |sums AS (SELECT nat, sum(r)::BIGINT AS ri
        |  FROM ranked GROUP BY 1),
        |nm AS (SELECT count(*)::BIGINT AS n, first(m)::BIGINT AS m
        |  FROM sums CROSS JOIN ny)
        |SELECT n, m,
        |  CAST(round(1000000.0 * 3.0 *
        |    sum((ri * 2 - m * (n + 1)) * (ri * 2 - m * (n + 1))) /
        |    (CAST(m AS DOUBLE) * m * n * (CAST(n AS DOUBLE) * n - 1)))
        |    AS BIGINT) AS w_micro,
        |  CAST(round(1000.0 * m * (n - 1) * (3.0 *
        |    sum((ri * 2 - m * (n + 1)) * (ri * 2 - m * (n + 1))) /
        |    (CAST(m AS DOUBLE) * m * n * (CAST(n AS DOUBLE) * n - 1))))
        |    AS BIGINT) AS chi2_milli
        |FROM sums CROSS JOIN nm
        |GROUP BY n, m""".stripMargin,
    "q361_twoway_fe" ->
      """WITH cells AS (SELECT c_nationkey AS nat,
        |    CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    CAST(round(1000.0 * sum(CAST(round(o_totalprice * 100)
        |      AS BIGINT)) / count(*)) AS BIGINT) AS y_milli,
        |    CAST(round(1000.0 * sum(CASE WHEN o_orderpriority =
        |      '1-URGENT' THEN 1 ELSE 0 END) / count(*)) AS BIGINT)
        |      AS x_milli
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |ny AS (SELECT count(DISTINCT yr)::BIGINT AS tt FROM cells),
        |complete AS (SELECT nat FROM cells CROSS JOIN ny
        |  GROUP BY nat, tt HAVING count(*) = tt),
        |bal AS (SELECT cells.* FROM cells JOIN complete USING (nat)),
        |si AS (SELECT nat, sum(y_milli)::BIGINT AS siy,
        |    sum(x_milli)::BIGINT AS six FROM bal GROUP BY 1),
        |st AS (SELECT yr, sum(y_milli)::BIGINT AS sty,
        |    sum(x_milli)::BIGINT AS stx FROM bal GROUP BY 1),
        |tot AS (SELECT sum(y_milli)::BIGINT AS sy,
        |    sum(x_milli)::BIGINT AS sx,
        |    count(DISTINCT nat)::BIGINT AS nn,
        |    count(DISTINCT yr)::BIGINT AS tt FROM bal),
        |dem AS (SELECT
        |    (nn * tt * y_milli - nn * siy - tt * sty + sy)::BIGINT AS yd,
        |    (nn * tt * x_milli - nn * six - tt * stx + sx)::BIGINT AS xd
        |  FROM bal JOIN si USING (nat) JOIN st USING (yr)
        |  CROSS JOIN tot)
        |SELECT count(*)::BIGINT AS n_cells,
        |  CAST(round(1000000.0 * CAST(sum(xd::HUGEINT * yd) AS DOUBLE) /
        |    CAST(sum(xd::HUGEINT * xd) AS DOUBLE)) AS BIGINT)
        |    AS beta_micro
        |FROM dem""".stripMargin,
    "q362_geo_mean" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n,
        |  CAST(round(exp(CAST(sum(CAST(round(1000000.0 *
        |    ln(CAST(round(o_totalprice * 100) AS BIGINT))) AS BIGINT))
        |    AS DOUBLE) / count(*) / 1000000.0)) AS BIGINT) AS geo_cents
        |FROM orders
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q363_negative_sampling" ->
      """WITH tf AS (SELECT term, count(*)::BIGINT AS f
        |  FROM (SELECT unnest(string_split_regex(lower(text),
        |      '[^a-z]+')) AS term FROM documents) t
        |  WHERE term <> '' GROUP BY 1),
        |top AS (SELECT term, f,
        |    CAST(round(1000.0 * POW(f, 0.75)) AS BIGINT) AS w
        |  FROM tf ORDER BY f DESC, term ASC LIMIT 1000),
        |cum AS (SELECT term, f, w,
        |    coalesce(sum(w) OVER (ORDER BY term
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      ::BIGINT AS c_lo
        |  FROM top),
        |tot AS (SELECT sum(w)::BIGINT AS s FROM top)
        |SELECT term, f, w,
        |  CAST((c_lo::HUGEINT + w) * 500 // s
        |    - c_lo::HUGEINT * 500 // s AS BIGINT) AS m
        |FROM cum CROSS JOIN tot
        |WHERE (c_lo::HUGEINT + w) * 500 // s
        |    - c_lo::HUGEINT * 500 // s > 0""".stripMargin,
    "q364_psm_att" ->
      """WITH rows0 AS (SELECT o_orderkey,
        |    (CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
        |      END)::BIGINT AS t,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS x1,
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE))::BIGINT AS x2
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |m AS (SELECT count(*)::BIGINT AS n,
        |    sum(x1::HUGEINT) AS sx1, sum(x2::HUGEINT) AS sx2,
        |    sum((t * 1000000)::HUGEINT) AS st,
        |    sum(x1::HUGEINT * x1::HUGEINT) AS q11,
        |    sum(x2::HUGEINT * x2::HUGEINT) AS q22,
        |    sum(x1::HUGEINT * x2::HUGEINT) AS q12,
        |    sum(x1::HUGEINT * (t * 1000000)::HUGEINT) AS q1t,
        |    sum(x2::HUGEINT * (t * 1000000)::HUGEINT) AS q2t
        |  FROM rows0),
        |cent AS (SELECT n, sx1, sx2, st,
        |    CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |      CAST(sx1 AS DOUBLE) / n AS s11,
        |    CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) *
        |      CAST(sx2 AS DOUBLE) / n AS s22,
        |    CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |      CAST(sx2 AS DOUBLE) / n AS s12,
        |    CAST(q1t AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |      CAST(st AS DOUBLE) / n AS s1t,
        |    CAST(q2t AS DOUBLE) - CAST(sx2 AS DOUBLE) *
        |      CAST(st AS DOUBLE) / n AS s2t
        |  FROM m),
        |b AS (SELECT n, sx1, sx2, st,
        |    (s22 * s1t - s12 * s2t) / (s11 * s22 - s12 * s12) AS b1,
        |    (s11 * s2t - s12 * s1t) / (s11 * s22 - s12 * s12) AS b2
        |  FROM cent),
        |sc AS (SELECT o_orderkey, t, y,
        |    CAST(round(CAST(st AS DOUBLE) / n +
        |      b1 * (x1 - CAST(sx1 AS DOUBLE) / n) +
        |      b2 * (x2 - CAST(sx2 AS DOUBLE) / n)) AS BIGINT) AS p
        |  FROM rows0 CROSS JOIN b),
        |brk AS (SELECT o_orderkey, t, y, p,
        |    max(CASE WHEN t = 0 THEN p END) OVER (
        |      ORDER BY p, t, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS p_back,
        |    -max(CASE WHEN t = 0 THEN -p END) OVER (
        |      ORDER BY -p, t, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS p_fwd
        |  FROM sc),
        |treated AS (SELECT o_orderkey, y, p,
        |    CASE WHEN p_back IS NULL AND p_fwd IS NULL THEN NULL
        |      WHEN p_fwd IS NULL THEN p_back
        |      WHEN p_back IS NULL THEN p_fwd
        |      WHEN p - p_back <= p_fwd - p THEN p_back
        |      ELSE p_fwd END AS p_match
        |  FROM brk WHERE t = 1),
        |matched AS (SELECT * FROM treated
        |  WHERE p_match IS NOT NULL AND abs(p - p_match) <= 50000),
        |rep AS (SELECT p AS p_match, arg_min(y, o_orderkey) AS y_ctrl
        |  FROM sc WHERE t = 0 GROUP BY 1),
        |nt AS (SELECT count(*)::BIGINT AS n_treated FROM sc
        |  WHERE t = 1)
        |SELECT n_treated, count(*)::BIGINT AS n_matched,
        |  CAST(round(1000.0 * sum(y - y_ctrl) / count(*)) AS BIGINT)
        |    AS att_milli_cents
        |FROM matched JOIN rep USING (p_match) CROSS JOIN nt
        |GROUP BY n_treated""".stripMargin,
    "q365_grid_dbscan" ->
      """WITH RECURSIVE spend AS (SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS sp
        |  FROM orders GROUP BY 1),
        |pts AS (SELECT
        |    (CAST(round(c_acctbal * 100) + 100000 AS BIGINT) // 220000)
        |      ::BIGINT AS cx,
        |    (coalesce(sp, 0) // 20000000)::BIGINT AS cy
        |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
        |dense AS (SELECT (cx * 100000 + cy)::BIGINT AS id, cx, cy,
        |    count(*)::BIGINT AS np
        |  FROM pts GROUP BY cx, cy HAVING count(*) >= 5),
        |offs AS (SELECT dx, dy FROM (SELECT unnest([-1, 0, 1]) AS dx),
        |    (SELECT unnest([-1, 0, 1]) AS dy)
        |  WHERE dx <> 0 OR dy <> 0),
        |edges0 AS (SELECT a.id AS src, b.id AS dst
        |  FROM dense a CROSS JOIN offs
        |  JOIN dense b ON b.cx = a.cx + dx AND b.cy = a.cy + dy
        |  WHERE a.id < b.id),
        |edges AS (SELECT src, dst FROM edges0
        |  UNION SELECT dst, src FROM edges0),
        |reach(n, lab) AS (
        |  SELECT id, id FROM dense
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.n),
        |comp AS (SELECT n AS id, min(lab)::BIGINT AS component
        |  FROM reach GROUP BY 1)
        |SELECT component AS cluster, count(*)::BIGINT AS n_cells,
        |  sum(np)::BIGINT AS n_points
        |FROM dense JOIN comp USING (id)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q366_ad_uniform" ->
      """WITH rows0 AS (SELECT o_orderkey,
        |    (CAST(round(o_totalprice * 100) AS BIGINT) % 1000)
        |      ::BIGINT AS frac
        |  FROM orders),
        |n_ AS (SELECT count(*)::BIGINT AS nn FROM rows0),
        |ranked AS (SELECT frac,
        |    (row_number() OVER (ORDER BY frac, o_orderkey) - 1)
        |      ::BIGINT AS rk
        |  FROM rows0),
        |terms AS (SELECT nn,
        |    CAST(round(1000000.0 * (
        |      (2.0 * (rk + 1) - 1) * ln((frac + 0.5) / 1000.0) +
        |      (2.0 * (nn - (rk + 1)) + 1) *
        |        ln(1.0 - (frac + 0.5) / 1000.0)
        |      )) AS BIGINT) AS term_micro
        |  FROM ranked CROSS JOIN n_)
        |SELECT nn AS n,
        |  CAST(round(1000.0 * (-CAST(nn AS DOUBLE) -
        |    CAST(sum(term_micro) AS DOUBLE) / 1000000.0 / nn))
        |    AS BIGINT) AS a2_milli
        |FROM terms GROUP BY nn""".stripMargin,
    "q367_silhouette" ->
      """WITH coords AS (SELECT vec_id, label, d AS dim,
        |    CAST(round(CAST(embedding[d + 1] AS DOUBLE) * 1000000.0)
        |      AS BIGINT) AS v
        |  FROM embeddings CROSS JOIN
        |    (SELECT unnest(range(64)) AS d) dims),
        |cent AS (SELECT label AS clab, dim, sum(v)::BIGINT AS sv,
        |    count(*)::BIGINT AS nc
        |  FROM coords GROUP BY 1, 2),
        |d2 AS (SELECT vec_id, label, clab,
        |    sqrt(CAST(sum((v * nc - sv)::HUGEINT * (v * nc - sv))
        |      AS DOUBLE)) / first(nc) AS dist
        |  FROM coords JOIN cent USING (dim)
        |  GROUP BY 1, 2, 3),
        |ab AS (SELECT vec_id, label,
        |    CAST(round(1000000.0 * CASE WHEN greatest(a, b) > 0
        |      THEN (b - a) / greatest(a, b) ELSE 0.0 END) AS BIGINT)
        |      AS s_micro
        |  FROM (SELECT vec_id, label,
        |      sum(CASE WHEN clab = label THEN dist END) AS a,
        |      min(CASE WHEN clab <> label THEN dist END) AS b
        |    FROM d2 GROUP BY 1, 2))
        |SELECT label, count(*)::BIGINT AS n,
        |  CAST(round(CAST(sum(s_micro) AS DOUBLE) / count(*))
        |    AS BIGINT) AS mean_sil_micro
        |FROM ab
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q368_ransac_line" ->
      """WITH daily AS (SELECT
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      ::BIGINT AS x,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS y
        |  FROM orders GROUP BY 1),
        |anchors AS (SELECT x AS ax, y AS ay FROM daily
        |  WHERE x % 240 = 0),
        |cands AS (SELECT a.ax AS x1, a.ay AS y1, b.ax AS x2, b.ay AS y2
        |  FROM anchors a JOIN anchors b ON a.ax < b.ax),
        |scored AS (SELECT x1, y1, x2, y2, count(*)::BIGINT AS n_inliers
        |  FROM daily CROSS JOIN cands
        |  WHERE abs((y - y1)::HUGEINT * (x2 - x1)
        |      - (x - x1)::HUGEINT * (y2 - y1))
        |    <= 5000000::HUGEINT * (x2 - x1)
        |  GROUP BY 1, 2, 3, 4),
        |best AS (SELECT x1, y1, x2, y2, n_inliers AS n_best
        |  FROM scored ORDER BY n_inliers DESC, x1 ASC, x2 ASC LIMIT 1),
        |refit AS (SELECT x1, x2, n_best, count(*)::BIGINT AS n,
        |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |    sum(x::HUGEINT * x) AS qxx, sum(x::HUGEINT * y) AS qxy
        |  FROM daily CROSS JOIN best
        |  WHERE abs((y - y1)::HUGEINT * (x2 - x1)
        |      - (x - x1)::HUGEINT * (y2 - y1))
        |    <= 5000000::HUGEINT * (x2 - x1)
        |  GROUP BY 1, 2, 3)
        |SELECT x1, x2, n_best AS n_inliers,
        |  CAST(round(1000.0 * (CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE)
        |    * sy / n) / (CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE)
        |    * sx / n)) AS BIGINT) AS slope_milli,
        |  CAST(round(CAST(sy AS DOUBLE) / n - ((CAST(qxy AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * sy / n) / (CAST(qxx AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * sx / n)) * sx / n) AS BIGINT)
        |    AS intercept_cents
        |FROM refit""".stripMargin,
    "q369_eb_beta_shrinkage" ->
      """WITH src AS (SELECT source, count(*)::BIGINT AS n,
        |    sum(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END)::BIGINT AS k
        |  FROM documents GROUP BY 1),
        |src2 AS (SELECT source, n, k,
        |    CAST(round(1000000.0 * k / n) AS BIGINT) AS r_micro
        |  FROM src),
        |mom0 AS (SELECT count(*)::BIGINT AS g, sum(r_micro)::BIGINT AS sr,
        |    sum(r_micro::HUGEINT * r_micro) AS qr
        |  FROM src2),
        |mom1 AS (SELECT
        |    CAST(sr AS DOUBLE) / g / 1000000.0 AS m,
        |    (CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE) * sr / g) /
        |      (g - 1) / 1000000.0 / 1000000.0 AS v
        |  FROM mom0),
        |mom AS (SELECT m, v,
        |    m * (m * (1.0 - m) / v - 1.0) AS alpha,
        |    (1.0 - m) * (m * (1.0 - m) / v - 1.0) AS beta
        |  FROM mom1)
        |SELECT source, n, k, r_micro,
        |  CAST(round(1000000.0 * (k + alpha) / (n + alpha + beta))
        |    AS BIGINT) AS eb_micro
        |FROM src2 CROSS JOIN mom
        |ORDER BY source""".stripMargin,
    "q370_hosmer_lemeshow" ->
      """WITH rows0 AS (SELECT o_orderkey,
        |    (CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
        |      END)::BIGINT AS t,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS x1,
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE))::BIGINT AS x2
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |m AS (SELECT count(*)::BIGINT AS n,
        |    sum(x1::HUGEINT) AS sx1, sum(x2::HUGEINT) AS sx2,
        |    sum((t * 1000000)::HUGEINT) AS st,
        |    sum(x1::HUGEINT * x1::HUGEINT) AS q11,
        |    sum(x2::HUGEINT * x2::HUGEINT) AS q22,
        |    sum(x1::HUGEINT * x2::HUGEINT) AS q12,
        |    sum(x1::HUGEINT * (t * 1000000)::HUGEINT) AS q1t,
        |    sum(x2::HUGEINT * (t * 1000000)::HUGEINT) AS q2t
        |  FROM rows0),
        |cent AS (SELECT n, sx1, sx2, st,
        |    CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |      CAST(sx1 AS DOUBLE) / n AS s11,
        |    CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) *
        |      CAST(sx2 AS DOUBLE) / n AS s22,
        |    CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |      CAST(sx2 AS DOUBLE) / n AS s12,
        |    CAST(q1t AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |      CAST(st AS DOUBLE) / n AS s1t,
        |    CAST(q2t AS DOUBLE) - CAST(sx2 AS DOUBLE) *
        |      CAST(st AS DOUBLE) / n AS s2t
        |  FROM m),
        |b AS (SELECT n, sx1, sx2, st,
        |    (s22 * s1t - s12 * s2t) / (s11 * s22 - s12 * s12) AS b1,
        |    (s11 * s2t - s12 * s1t) / (s11 * s22 - s12 * s12) AS b2
        |  FROM cent),
        |sc AS (SELECT o_orderkey, t,
        |    CAST(round(CAST(st AS DOUBLE) / n +
        |      b1 * (x1 - CAST(sx1 AS DOUBLE) / n) +
        |      b2 * (x2 - CAST(sx2 AS DOUBLE) / n)) AS BIGINT) AS p
        |  FROM rows0 CROSS JOIN b),
        |n_ AS (SELECT count(*)::BIGINT AS nn FROM sc),
        |ranked AS (SELECT t, p,
        |    (row_number() OVER (ORDER BY p, o_orderkey) - 1)::BIGINT
        |      AS rk
        |  FROM sc),
        |cells AS (SELECT (rk * 10 // nn)::BIGINT AS g,
        |    count(*)::BIGINT AS ng, sum(t)::BIGINT AS og,
        |    sum(p)::BIGINT AS ep
        |  FROM ranked CROSS JOIN n_ GROUP BY 1),
        |terms AS (SELECT g,
        |    CAST(round(1000000.0 *
        |      POW(og - CAST(ep AS DOUBLE) / 1000000.0, 2) /
        |      ((CAST(ep AS DOUBLE) / 1000000.0) *
        |       (1.0 - CAST(ep AS DOUBLE) / 1000000.0 / ng)))
        |      AS BIGINT) AS term_micro
        |  FROM cells)
        |SELECT count(*)::BIGINT AS n_groups,
        |  (count(*) - 2)::BIGINT AS df,
        |  CAST(round(CAST(sum(term_micro) AS DOUBLE) / 1000.0)
        |    AS BIGINT) AS hl_milli
        |FROM terms""".stripMargin,
    "q371_icc" ->
      """WITH g AS (SELECT source, count(*)::BIGINT AS n,
        |    sum(n_chars)::BIGINT AS sv,
        |    sum(n_chars::HUGEINT * n_chars) AS qv
        |  FROM documents GROUP BY 1),
        |agg AS (SELECT count(*)::BIGINT AS gg, sum(n)::BIGINT AS nn,
        |    sum(sv)::BIGINT AS st,
        |    sum(n * n)::BIGINT AS sn2,
        |    sum(CAST(round(CAST(qv AS DOUBLE) -
        |      CAST(sv AS DOUBLE) * sv / n) AS BIGINT))::BIGINT AS ssw,
        |    sum(CAST(round(CAST(sv AS DOUBLE) * sv / n) AS BIGINT))
        |      ::BIGINT AS ssb_base
        |  FROM g),
        |mid AS (SELECT gg, nn,
        |    CAST(ssb_base AS DOUBLE) - CAST(st AS DOUBLE) * st / nn
        |      AS ssb,
        |    CAST(ssw AS DOUBLE) AS sswd,
        |    (CAST(nn AS DOUBLE) - CAST(sn2 AS DOUBLE) / nn) / (gg - 1)
        |      AS n0
        |  FROM agg),
        |ms AS (SELECT gg, nn, ssb / (gg - 1) AS msb,
        |    sswd / (nn - gg) AS msw, n0
        |  FROM mid)
        |SELECT gg AS n_sources, nn AS n_docs,
        |  CAST(round(1000000.0 * (msb - msw) /
        |    (msb + (n0 - 1.0) * msw)) AS BIGINT) AS icc_micro
        |FROM ms""".stripMargin,
    "q372_price_index" ->
      """WITH li AS (SELECT l_partkey,
        |    CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
        |      AS e,
        |    sum(CAST(l_quantity AS BIGINT))::BIGINT AS q
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE year(o_orderdate) IN (1995, 2000)
        |  GROUP BY 1, 2),
        |base AS (SELECT l_partkey, e AS e0, q AS q0 FROM li
        |  WHERE yr = 1995),
        |cur AS (SELECT l_partkey, e AS e1, q AS q1 FROM li
        |  WHERE yr = 2000),
        |terms AS (SELECT base.l_partkey, e0, q0, e1, q1,
        |    CAST(round(1000000.0 * e1 * q0 / q1) AS BIGINT) AS p1q0_u,
        |    CAST(round(1000000.0 * e0 * q1 / q0) AS BIGINT) AS p0q1_u
        |  FROM base JOIN cur USING (l_partkey))
        |SELECT count(*)::BIGINT AS n_parts,
        |  CAST(round(CAST(sum(p1q0_u) AS DOUBLE) / sum(e0)) AS BIGINT)
        |    AS laspeyres_micro,
        |  CAST(round(1000000.0 * 1000000.0 * sum(e1) / sum(p0q1_u))
        |    AS BIGINT) AS paasche_micro,
        |  CAST(round(sqrt((CAST(sum(p1q0_u) AS DOUBLE) / sum(e0)) *
        |    (1000000.0 * 1000000.0 * sum(e1) / sum(p0q1_u))))
        |    AS BIGINT) AS fisher_micro
        |FROM terms""".stripMargin,
    "q373_weibull_gaps" ->
      """WITH seq AS (SELECT user_id, epoch_us(ts)::BIGINT AS tus,
        |    event_id
        |  FROM events),
        |gaps AS (SELECT tus - lag(tus, 1) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id) AS gap_us
        |  FROM seq),
        |ls AS (SELECT CAST(round(1000000.0 * ln(gap_us)) AS BIGINT)
        |    AS l
        |  FROM gaps WHERE gap_us > 0),
        |agg AS (SELECT count(*)::BIGINT AS n, sum(l)::BIGINT AS sl,
        |    sum(l::HUGEINT * l) AS ql
        |  FROM ls),
        |mid AS (SELECT n,
        |    CAST(sl AS DOUBLE) / n / 1000000.0 AS mu,
        |    sqrt((CAST(ql AS DOUBLE) - CAST(sl AS DOUBLE) * sl / n)
        |      / (n - 1)) / 1000000.0 AS sigma
        |  FROM agg)
        |SELECT n,
        |  CAST(round(1000.0 * pi() / (sigma * sqrt(6.0))) AS BIGINT)
        |    AS k_milli,
        |  CAST(round(exp(mu + 0.5772156649015329 /
        |    (pi() / (sigma * sqrt(6.0))))) AS BIGINT) AS lambda_us
        |FROM mid""".stripMargin,
    "q374_dfa" ->
      """WITH daily AS (SELECT
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      ::BIGINT AS t,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS y
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT sum(y)::BIGINT AS s, count(*)::BIGINT AS nn
        |  FROM daily),
        |prof AS (SELECT
        |    row_number() OVER (ORDER BY t)::BIGINT AS r,
        |    (sum(y) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW)
        |     - CAST(round(CAST(row_number() OVER (ORDER BY t) AS DOUBLE)
        |       * s / nn) AS BIGINT))::BIGINT AS yp,
        |    nn
        |  FROM daily CROSS JOIN tot),
        |blocks AS (SELECT sc, (r - 1) // sc AS blk,
        |    count(*)::BIGINT AS n, sum(r)::BIGINT AS sx,
        |    sum(yp)::BIGINT AS sy,
        |    sum(r::HUGEINT * r) AS qxx, sum(r::HUGEINT * yp) AS qxy,
        |    sum(yp::HUGEINT * yp) AS qyy
        |  FROM prof CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS sc)
        |  WHERE (r - 1) // sc < nn // sc
        |  GROUP BY 1, 2),
        |sses AS (SELECT sc,
        |    CAST(round((
        |      (CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) -
        |      POW(CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n, 2) /
        |      (CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
        |      ) / 1000000.0) AS BIGINT) AS sse_q
        |  FROM blocks),
        |fluct AS (SELECT sc, count(*)::BIGINT AS nb,
        |    sum(sse_q)::BIGINT AS ssum
        |  FROM sses GROUP BY 1),
        |pts AS (SELECT
        |    CAST(round(1000000.0 * 0.5 * ln(CAST(ssum AS DOUBLE)
        |      * 1000000.0 / (nb * sc))) AS BIGINT) AS lf_micro,
        |    CAST(round(1000000.0 * ln(CAST(sc AS DOUBLE))) AS BIGINT)
        |      AS ls_micro
        |  FROM fluct)
        |SELECT count(*)::BIGINT AS n_scales,
        |  CAST(round(1000.0 * (CAST(sum(ls_micro::HUGEINT * lf_micro)
        |      AS DOUBLE) - CAST(sum(ls_micro) AS DOUBLE)
        |      * sum(lf_micro) / count(*)) /
        |    (CAST(sum(ls_micro::HUGEINT * ls_micro) AS DOUBLE)
        |      - CAST(sum(ls_micro) AS DOUBLE) * sum(ls_micro)
        |      / count(*))) AS BIGINT) AS alpha_milli
        |FROM pts""".stripMargin,
    "q375_atkinson_index" ->
      """SELECT (c_nationkey % 5)::BIGINT AS region,
        |  count(*)::BIGINT AS n,
        |  CAST(round(1000000.0 * (1.0 -
        |    exp(CAST(sum(CAST(round(1000000.0 *
        |      ln(CAST(round(o_totalprice * 100) AS BIGINT))) AS BIGINT))
        |      AS DOUBLE) / count(*) / 1000000.0) /
        |    (CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS DOUBLE) / count(*)))) AS BIGINT) AS atkinson_micro
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q376_rmst" ->
      """WITH entry AS (SELECT user_id, min(ts) AS entry
        |  FROM events GROUP BY 1),
        |fp AS (SELECT user_id, min(ts) AS conv
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |durs AS (SELECT
        |    CASE WHEN conv IS NOT NULL AND date_diff('day',
        |        CAST(entry AS DATE), CAST(conv AS DATE)) <= 7
        |      THEN date_diff('day', CAST(entry AS DATE),
        |        CAST(conv AS DATE))::BIGINT
        |      ELSE 7 END AS d,
        |    CASE WHEN conv IS NOT NULL AND date_diff('day',
        |        CAST(entry AS DATE), CAST(conv AS DATE)) <= 7
        |      THEN 1 ELSE 0 END::BIGINT AS evt
        |  FROM entry e LEFT JOIN fp ON e.user_id = fp.user_id),
        |grid AS (SELECT d, count(*)::BIGINT AS x,
        |    sum(evt)::BIGINT AS de
        |  FROM durs GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS t FROM durs),
        |cum AS (SELECT d, de,
        |    coalesce(sum(x) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      ::BIGINT AS e_before
        |  FROM grid),
        |lnf AS (SELECT d,
        |    CAST(round(1000000.0 * ln(1.0 -
        |      CAST(de AS DOUBLE) / (t - e_before))) AS BIGINT) AS lf
        |  FROM cum CROSS JOIN tot WHERE de > 0),
        |hz AS (SELECT unnest(range(7))::BIGINT AS h),
        |st AS (SELECT h,
        |    exp(CAST(coalesce(sum(lf), 0) AS DOUBLE) / 1000000.0)
        |      AS s_t
        |  FROM hz LEFT JOIN lnf ON d <= h
        |  GROUP BY h)
        |SELECT count(*)::BIGINT AS horizon_days,
        |  CAST(round(CAST(sum(CAST(round(1000000.0 * s_t) AS BIGINT))
        |    AS DOUBLE) / 1000.0) AS BIGINT) AS rmst_milli_days
        |FROM st""".stripMargin,
    "q377_competing_risks" ->
      """WITH entry AS (SELECT user_id, min(ts) AS entry
        |  FROM events GROUP BY 1),
        |firsts AS (SELECT user_id, ts AS fts, event_type AS cause
        |  FROM (SELECT user_id, ts, event_type,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS rn
        |    FROM events WHERE event_type IN ('purchase', 'error'))
        |  WHERE rn = 1),
        |durs AS (SELECT
        |    CASE WHEN fts IS NOT NULL AND date_diff('day',
        |        CAST(entry AS DATE), CAST(fts AS DATE)) <= 7
        |      THEN date_diff('day', CAST(entry AS DATE),
        |        CAST(fts AS DATE))::BIGINT
        |      ELSE 7 END AS d,
        |    CASE WHEN fts IS NOT NULL AND date_diff('day',
        |        CAST(entry AS DATE), CAST(fts AS DATE)) <= 7
        |      THEN (CASE WHEN cause = 'purchase' THEN 1 ELSE 2 END)
        |      ELSE 0 END::BIGINT AS cause
        |  FROM entry e LEFT JOIN firsts f ON e.user_id = f.user_id),
        |grid AS (SELECT d, count(*)::BIGINT AS x,
        |    sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END)::BIGINT AS d1,
        |    sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END)::BIGINT AS d2
        |  FROM durs GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS t FROM durs),
        |cum AS (SELECT d, d1, d2,
        |    coalesce(sum(x) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      ::BIGINT AS e_before
        |  FROM grid),
        |withr AS (SELECT d, d1, d2, (t - e_before)::BIGINT AS r,
        |    CASE WHEN d1 + d2 < t - e_before THEN
        |      CAST(round(1000000.0 * ln(1.0 -
        |        CAST(d1 + d2 AS DOUBLE) / (t - e_before))) AS BIGINT)
        |      END AS lf
        |  FROM cum CROSS JOIN tot WHERE d1 + d2 > 0),
        |sminus AS (SELECT d, d1, d2, r,
        |    coalesce(sum(lf) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      ::BIGINT AS lf_before
        |  FROM withr),
        |incr AS (SELECT
        |    CAST(round(1000000.0 *
        |      exp(CAST(lf_before AS DOUBLE) / 1000000.0) * d1 / r)
        |      AS BIGINT) AS i1_u,
        |    CAST(round(1000000.0 *
        |      exp(CAST(lf_before AS DOUBLE) / 1000000.0) * d2 / r)
        |      AS BIGINT) AS i2_u
        |  FROM sminus),
        |s7 AS (SELECT CASE WHEN max(CASE WHEN d1 + d2 = r THEN 1
        |      ELSE 0 END) = 1 THEN 0
        |    ELSE CAST(round(1000000.0 *
        |      exp(CAST(sum(lf) AS DOUBLE) / 1000000.0)) AS BIGINT)
        |    END::BIGINT AS s7_micro
        |  FROM withr)
        |SELECT sum(i1_u)::BIGINT AS cif_purchase_micro,
        |  sum(i2_u)::BIGINT AS cif_error_micro, s7_micro
        |FROM incr CROSS JOIN s7
        |GROUP BY s7_micro""".stripMargin,
    "q378_periodogram" ->
      """WITH daily AS (SELECT
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      ::BIGINT AS t,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS y
        |  FROM orders GROUP BY 1),
        |terms AS (SELECT p, y,
        |    CAST(round(y * cos(2 * pi() * t / p)) AS BIGINT) AS yc,
        |    CAST(round(y * sin(2 * pi() * t / p)) AS BIGINT) AS ys,
        |    CAST(round(1000000.0 * cos(2 * pi() * t / p)) AS BIGINT)
        |      AS c_u,
        |    CAST(round(1000000.0 * sin(2 * pi() * t / p)) AS BIGINT)
        |      AS s_u
        |  FROM daily CROSS JOIN
        |    (SELECT unnest([7, 30, 91, 365])::BIGINT AS p)),
        |agg AS (SELECT p, count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
        |    sum(y::HUGEINT * y) AS qy, sum(yc)::BIGINT AS syc,
        |    sum(ys)::BIGINT AS sys, sum(c_u)::BIGINT AS sc,
        |    sum(s_u)::BIGINT AS ss
        |  FROM terms GROUP BY 1),
        |mid AS (SELECT p, n,
        |    CAST(syc AS DOUBLE) - (CAST(sy AS DOUBLE) / n) *
        |      (CAST(sc AS DOUBLE) / 1000000.0) AS a,
        |    CAST(sys AS DOUBLE) - (CAST(sy AS DOUBLE) / n) *
        |      (CAST(ss AS DOUBLE) / 1000000.0) AS b,
        |    CAST(qy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS ssq
        |  FROM agg)
        |SELECT p, n,
        |  CAST(round(1000000.0 * 2.0 * (a * a + b * b) / (n * ssq))
        |    AS BIGINT) AS fvar_micro
        |FROM mid
        |ORDER BY p""".stripMargin,
    "q379_granger" ->
      """WITH daily AS (SELECT
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      ::BIGINT AS t,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS rev,
        |    count(*)::BIGINT AS cnt
        |  FROM orders GROUP BY 1),
        |pairs AS (SELECT a.rev AS y, b.rev AS x1, b.cnt AS x2
        |  FROM daily a JOIN daily b ON a.t = b.t + 1),
        |m AS (SELECT count(*)::BIGINT AS n, sum(x1)::BIGINT AS sx1,
        |    sum(x2)::BIGINT AS sx2, sum(y)::BIGINT AS sy,
        |    sum(x1::HUGEINT * x1) AS q11, sum(x2::HUGEINT * x2) AS q22,
        |    sum(x1::HUGEINT * x2) AS q12, sum(x1::HUGEINT * y) AS q1y,
        |    sum(x2::HUGEINT * y) AS q2y, sum(y::HUGEINT * y) AS qyy
        |  FROM pairs),
        |c AS (SELECT n,
        |    CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n AS s11,
        |    CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n AS s22,
        |    CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n AS s12,
        |    CAST(q1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy / n AS s1y,
        |    CAST(q2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy / n AS s2y,
        |    CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS syy
        |  FROM m),
        |sse AS (SELECT n,
        |    syy - s1y * s1y / s11 AS sse_r,
        |    syy - (s22 * s1y * s1y - 2 * s12 * s1y * s2y +
        |      s11 * s2y * s2y) / (s11 * s22 - s12 * s12) AS sse_u
        |  FROM c)
        |SELECT n,
        |  CAST(round(1000.0 * (sse_r - sse_u) / (sse_u / (n - 3)))
        |    AS BIGINT) AS f_milli
        |FROM sse""".stripMargin,
    "q380_engle_granger" ->
      """WITH daily AS (SELECT
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      ::BIGINT AS t,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS rev,
        |    count(*)::BIGINT AS cnt
        |  FROM orders GROUP BY 1),
        |m1 AS (SELECT n, sx, sy, b,
        |    CAST(sy AS DOUBLE) / n - b * sx / n AS a
        |  FROM (SELECT count(*)::BIGINT AS n, sum(cnt)::BIGINT AS sx,
        |      sum(rev)::BIGINT AS sy,
        |      (CAST(sum(cnt::HUGEINT * rev) AS DOUBLE)
        |        - CAST(sum(cnt) AS DOUBLE) * sum(rev) / count(*)) /
        |      (CAST(sum(cnt::HUGEINT * cnt) AS DOUBLE)
        |        - CAST(sum(cnt) AS DOUBLE) * sum(cnt) / count(*)) AS b
        |    FROM daily)),
        |resid AS (SELECT t,
        |    CAST(round(1000000.0 * (rev - a - b * cnt)) AS BIGINT) AS e
        |  FROM daily CROSS JOIN m1),
        |dfp AS (SELECT (a.e - b.e) AS de, b.e AS e1
        |  FROM resid a JOIN resid b ON a.t = b.t + 1),
        |m2 AS (SELECT count(*)::BIGINT AS n2,
        |    sum(e1::HUGEINT * e1) AS qee, sum(e1::HUGEINT * de) AS qed,
        |    sum(de::HUGEINT * de) AS qdd
        |  FROM dfp),
        |fin AS (SELECT n2, b,
        |    CAST(qed AS DOUBLE) / CAST(qee AS DOUBLE) AS gamma,
        |    (CAST(qdd AS DOUBLE) - CAST(qed AS DOUBLE) * qed /
        |      CAST(qee AS DOUBLE)) / (n2 - 1) AS s2,
        |    CAST(qee AS DOUBLE) AS qeed
        |  FROM m2 CROSS JOIN (SELECT b FROM m1))
        |SELECT n2 AS n_pairs,
        |  CAST(round(1000.0 * b) AS BIGINT) AS b_milli,
        |  CAST(round(1000.0 * gamma) AS BIGINT) AS gamma_milli,
        |  CAST(round(1000.0 * gamma / sqrt(s2 / qeed)) AS BIGINT)
        |    AS df_stat_milli
        |FROM fin""".stripMargin,
    "q381_borda_condorcet" ->
      """WITH cells AS (SELECT
        |    CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    c_nationkey AS nat,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |ny AS (SELECT count(DISTINCT yr)::BIGINT AS m FROM cells),
        |complete AS (SELECT nat FROM cells CROSS JOIN ny
        |  GROUP BY nat, m HAVING count(*) = m),
        |ranked AS (SELECT yr, nat,
        |    row_number() OVER (PARTITION BY yr
        |      ORDER BY cents DESC, nat ASC)::BIGINT AS r
        |  FROM cells JOIN complete USING (nat)),
        |nm AS (SELECT count(DISTINCT nat)::BIGINT AS n,
        |    count(DISTINCT yr)::BIGINT AS m FROM ranked),
        |borda AS (SELECT nat, sum(n - r)::BIGINT AS borda
        |  FROM ranked CROSS JOIN nm GROUP BY 1),
        |duels AS (SELECT a.nat AS a, b.nat AS b,
        |    sum(CASE WHEN a.r < b.r THEN 1 ELSE 0 END)::BIGINT
        |      AS wins_ab,
        |    count(*)::BIGINT AS m2
        |  FROM ranked a JOIN ranked b ON a.yr = b.yr
        |    AND a.nat <> b.nat
        |  GROUP BY 1, 2),
        |beats AS (SELECT a AS nat, count(*)::BIGINT AS beats
        |  FROM duels WHERE wins_ab * 2 > m2 GROUP BY 1)
        |SELECT borda.nat, borda,
        |  coalesce(beats, 0)::BIGINT AS beats,
        |  CAST(coalesce(beats, 0) = n - 1 AS INT) AS is_condorcet
        |FROM borda LEFT JOIN beats ON borda.nat = beats.nat
        |CROSS JOIN nm
        |ORDER BY borda DESC, borda.nat ASC""".stripMargin,
    "q382_cross_lang_leakage" ->
      s"""WITH sh AS (SELECT doc_id, lang,
        |    unnest(${graft.functions.TextOps.sqlShingles("text", 3)}) AS g
        |  FROM documents),
        |sizes AS (SELECT doc_id, count(*)::BIGINT AS nn
        |  FROM sh GROUP BY 1),
        |rare AS (SELECT g FROM sh GROUP BY g HAVING count(*) <= 64),
        |posting AS (SELECT sh.* FROM sh JOIN rare USING (g)),
        |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |    a.lang AS la, b.lang AS lb, count(*)::BIGINT AS shared
        |  FROM posting a JOIN posting b ON a.g = b.g
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |dups AS (SELECT least(la, lb) AS l1, greatest(la, lb) AS l2,
        |    count(*)::BIGINT AS n_dup_pairs
        |  FROM pairs
        |  JOIN sizes sa ON sa.doc_id = da
        |  JOIN sizes sb ON sb.doc_id = db
        |  WHERE shared * 2 >= sa.nn + sb.nn - shared
        |  GROUP BY 1, 2),
        |langs AS (SELECT DISTINCT lang FROM documents),
        |grid AS (SELECT a.lang AS l1, b.lang AS l2
        |  FROM langs a CROSS JOIN langs b WHERE a.lang <= b.lang)
        |SELECT l1, l2, coalesce(n_dup_pairs, 0)::BIGINT AS n_dup_pairs,
        |  CAST(l1 <> l2 AS INT) AS cross_lang
        |FROM grid LEFT JOIN dups USING (l1, l2)
        |ORDER BY l1, l2""".stripMargin,
    "q383_participation_ratio" ->
      """WITH coords AS (SELECT vec_id, d AS dim,
        |    CAST(round(CAST(embedding[d + 1] AS DOUBLE) * 1000000.0)
        |      AS BIGINT) AS v
        |  FROM embeddings CROSS JOIN
        |    (SELECT unnest(range(64)) AS d) dims),
        |n_ AS (SELECT count(DISTINCT vec_id)::BIGINT AS n FROM coords),
        |pairs AS (SELECT a.dim AS di, b.dim AS dj,
        |    sum(a.v::HUGEINT * b.v) AS sij
        |  FROM coords a JOIN coords b ON a.vec_id = b.vec_id
        |  GROUP BY 1, 2),
        |sums AS (SELECT dim, sum(v)::BIGINT AS si
        |  FROM coords GROUP BY 1),
        |chat AS (SELECT di, dj,
        |    CAST(round(CAST(n * sij - sa.si::HUGEINT * sb.si AS DOUBLE)
        |      / 1000000.0) AS BIGINT) AS c_q
        |  FROM pairs
        |  JOIN sums sa ON sa.dim = di
        |  JOIN sums sb ON sb.dim = dj
        |  CROSS JOIN n_)
        |SELECT sum(CASE WHEN di = dj THEN c_q ELSE 0 END)::BIGINT
        |    AS trace_q,
        |  CAST(round(1000.0 *
        |    CAST(sum(CASE WHEN di = dj THEN c_q ELSE 0 END) AS DOUBLE) *
        |    sum(CASE WHEN di = dj THEN c_q ELSE 0 END) /
        |    CAST(sum(c_q::HUGEINT * c_q) AS DOUBLE)) AS BIGINT)
        |    AS pr_milli
        |FROM chat""".stripMargin,
    "q384_xcorr" ->
      """WITH daily AS (SELECT
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      ::BIGINT AS t,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS rev,
        |    count(*)::BIGINT AS cnt
        |  FROM orders GROUP BY 1),
        |joined AS (SELECT lag, a.rev, b.cnt
        |  FROM daily a
        |  CROSS JOIN (SELECT unnest(range(8))::BIGINT AS lag)
        |  JOIN daily b ON b.t = a.t - lag)
        |SELECT lag, count(*)::BIGINT AS n,
        |  CAST(round(1000000.0 *
        |    (CAST(sum(cnt::HUGEINT * rev) AS DOUBLE)
        |      - CAST(sum(cnt) AS DOUBLE) * sum(rev) / count(*)) /
        |    sqrt((CAST(sum(cnt::HUGEINT * cnt) AS DOUBLE)
        |      - CAST(sum(cnt) AS DOUBLE) * sum(cnt) / count(*)) *
        |     (CAST(sum(rev::HUGEINT * rev) AS DOUBLE)
        |      - CAST(sum(rev) AS DOUBLE) * sum(rev) / count(*))))
        |    AS BIGINT) AS r_micro
        |FROM joined
        |GROUP BY lag
        |ORDER BY lag""".stripMargin,
    "q385_novelty_share" ->
      s"""WITH sh AS (SELECT doc_id,
        |    unnest(${graft.functions.TextOps.sqlShingles("text", 3)}) AS g
        |  FROM documents),
        |first_ AS (SELECT g, min(doc_id)::BIGINT AS first_doc
        |  FROM sh GROUP BY 1)
        |SELECT doc_id, count(*)::BIGINT AS n_shingles,
        |  sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::BIGINT
        |    AS n_new,
        |  CAST(1000000::HUGEINT *
        |    sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
        |    // count(*) AS BIGINT) AS novelty_micro
        |FROM sh JOIN first_ USING (g)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q386_gaussian_kde" ->
      """WITH vals AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
        |    AS v
        |  FROM orders),
        |m AS (SELECT n, lo, hi,
        |    1.06 * sd * POW(CAST(n AS DOUBLE), -0.2) AS h
        |  FROM (SELECT count(*)::BIGINT AS n, min(v)::BIGINT AS lo,
        |      max(v)::BIGINT AS hi,
        |      sqrt((CAST(sum(v::HUGEINT * v) AS DOUBLE)
        |        - CAST(sum(v) AS DOUBLE) * sum(v) / count(*))
        |        / (count(*) - 1)) AS sd
        |    FROM vals)),
        |pts AS (SELECT gi, n, h,
        |    CAST(lo + (hi - lo) * gi / 20 AS DOUBLE) AS x
        |  FROM (SELECT unnest(range(21))::BIGINT AS gi) CROSS JOIN m),
        |contrib AS (SELECT gi,
        |    sum(CAST(round(1000000.0 *
        |      exp(-0.5 * POW((v - x) / h, 2))) AS BIGINT))::BIGINT
        |      AS sk
        |  FROM vals CROSS JOIN pts GROUP BY 1),
        |dens AS (SELECT gi,
        |    CAST(round(1000000000.0 * CAST(sk AS DOUBLE) / 1000000.0
        |      / (n * h * sqrt(2 * pi()))) AS BIGINT) AS dens_nano
        |  FROM contrib CROSS JOIN (SELECT n, h FROM m)),
        |md AS (SELECT gi AS mode_gi FROM dens
        |  ORDER BY dens_nano DESC, gi ASC LIMIT 1)
        |SELECT gi, dens_nano,
        |  CAST(gi = mode_gi AS INT) AS is_mode
        |FROM dens CROSS JOIN md
        |ORDER BY gi""".stripMargin,
    "q387_tail_dependence" ->
      """WITH rows0 AS (SELECT o_orderkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS x,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |rk AS (SELECT
        |    (row_number() OVER (ORDER BY x, o_orderkey) - 1)::BIGINT
        |      AS rx,
        |    (row_number() OVER (ORDER BY y, o_orderkey) - 1)::BIGINT
        |      AS ry
        |  FROM rows0),
        |n_ AS (SELECT count(*)::BIGINT AS nn FROM rows0),
        |f AS (SELECT nn,
        |    sum(CASE WHEN rx * 20 < nn AND ry * 20 < nn THEN 1
        |      ELSE 0 END)::BIGINT AS n_lo,
        |    sum(CASE WHEN (nn - 1 - rx) * 20 < nn
        |      AND (nn - 1 - ry) * 20 < nn THEN 1 ELSE 0 END)::BIGINT
        |      AS n_hi
        |  FROM rk CROSS JOIN n_ GROUP BY nn)
        |SELECT nn AS n, n_lo, n_hi,
        |  CAST(round(1000000.0 * n_lo / (CAST(nn AS DOUBLE) / 20.0))
        |    AS BIGINT) AS lambda_lower_micro,
        |  CAST(round(1000000.0 * n_hi / (CAST(nn AS DOUBLE) / 20.0))
        |    AS BIGINT) AS lambda_upper_micro
        |FROM f""".stripMargin,
    "q388_qte" ->
      """WITH rows0 AS (SELECT o_orderkey,
        |    (CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
        |      END)::BIGINT AS t,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y
        |  FROM orders),
        |ranked AS (SELECT t, y,
        |    (row_number() OVER (PARTITION BY t ORDER BY y, o_orderkey)
        |      - 1)::BIGINT AS wr
        |  FROM rows0),
        |arms AS (SELECT t, count(*)::BIGINT AS na FROM rows0
        |  GROUP BY 1),
        |picks AS (SELECT q, ranked.t, min(y)::BIGINT AS yq
        |  FROM ranked
        |  JOIN arms ON ranked.t = arms.t
        |  CROSS JOIN (SELECT unnest(range(1, 10))::BIGINT AS q)
        |  WHERE (wr + 1) * 10 >= q * na AND wr * 10 < q * na
        |  GROUP BY 1, 2)
        |SELECT q,
        |  sum(CASE WHEN t = 1 THEN yq END)::BIGINT AS y1,
        |  sum(CASE WHEN t = 0 THEN yq END)::BIGINT AS y0,
        |  (sum(CASE WHEN t = 1 THEN yq END)
        |    - sum(CASE WHEN t = 0 THEN yq END))::BIGINT AS qte_cents
        |FROM picks
        |GROUP BY q
        |ORDER BY q""".stripMargin,
    "q389_e_value" ->
      """WITH rows0 AS (SELECT
        |    (CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
        |      END)::BIGINT AS t,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y
        |  FROM orders),
        |fence AS (SELECT sum(y)::BIGINT AS sy, count(*)::BIGINT AS n
        |  FROM rows0),
        |agg AS (SELECT t, count(*)::BIGINT AS na,
        |    sum(CASE WHEN y * n > sy THEN 1 ELSE 0 END)::BIGINT AS ha
        |  FROM rows0 CROSS JOIN fence GROUP BY 1),
        |one AS (SELECT
        |    sum(CASE WHEN t = 1 THEN na END)::BIGINT AS n1,
        |    sum(CASE WHEN t = 1 THEN ha END)::BIGINT AS h1,
        |    sum(CASE WHEN t = 0 THEN na END)::BIGINT AS n0,
        |    sum(CASE WHEN t = 0 THEN ha END)::BIGINT AS h0
        |  FROM agg),
        |rr_ AS (SELECT
        |    CASE WHEN (CAST(h1 AS DOUBLE) / n1) / (CAST(h0 AS DOUBLE)
        |      / n0) < 1.0
        |    THEN 1.0 / ((CAST(h1 AS DOUBLE) / n1) /
        |      (CAST(h0 AS DOUBLE) / n0))
        |    ELSE (CAST(h1 AS DOUBLE) / n1) / (CAST(h0 AS DOUBLE) / n0)
        |    END AS rr
        |  FROM one)
        |SELECT CAST(round(1000.0 * rr) AS BIGINT) AS rr_milli,
        |  CAST(round(1000.0 * (rr + sqrt(rr * (rr - 1.0)))) AS BIGINT)
        |    AS e_value_milli
        |FROM rr_""".stripMargin,
    "q390_cooks_distance" ->
      """WITH rows0 AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS x1,
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE))::BIGINT AS x2
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |m0 AS (SELECT count(*)::BIGINT AS n, sum(x1)::BIGINT AS sx1,
        |    sum(x2)::BIGINT AS sx2, sum(y)::BIGINT AS sy,
        |    sum(x1::HUGEINT * x1) AS q11, sum(x2::HUGEINT * x2) AS q22,
        |    sum(x1::HUGEINT * x2) AS q12, sum(x1::HUGEINT * y) AS q1y,
        |    sum(x2::HUGEINT * y) AS q2y, sum(y::HUGEINT * y) AS qyy
        |  FROM rows0),
        |mc AS (SELECT n, sx1, sx2, sy,
        |    CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n AS s11,
        |    CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n AS s22,
        |    CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n AS s12,
        |    CAST(q1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy / n AS s1y,
        |    CAST(q2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy / n AS s2y,
        |    CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS syy
        |  FROM m0),
        |m AS (SELECT n, sx1, sx2, sy, s11, s22, s12,
        |    (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1,
        |    (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2,
        |    (syy - (s22 * s1y * s1y - 2 * s12 * s1y * s2y +
        |      s11 * s2y * s2y) / (s11 * s22 - s12 * s12)) / (n - 3)
        |      AS s2e
        |  FROM mc),
        |per AS (SELECT o_orderkey,
        |    y - (CAST(sy AS DOUBLE) / n + b1 * (x1 - CAST(sx1
        |      AS DOUBLE) / n) + b2 * (x2 - CAST(sx2 AS DOUBLE) / n))
        |      AS e,
        |    1.0 / n + (s22 * POW(x1 - CAST(sx1 AS DOUBLE) / n, 2)
        |      - 2 * s12 * (x1 - CAST(sx1 AS DOUBLE) / n) *
        |      (x2 - CAST(sx2 AS DOUBLE) / n)
        |      + s11 * POW(x2 - CAST(sx2 AS DOUBLE) / n, 2))
        |      / (s11 * s22 - s12 * s12) AS h, s2e
        |  FROM rows0 CROSS JOIN m)
        |SELECT o_orderkey,
        |  CAST(round(e) AS BIGINT) AS resid_cents,
        |  CAST(round(1000000.0 * h) AS BIGINT) AS leverage_micro,
        |  CAST(round(1000000.0 * e * e * h /
        |    (3.0 * s2e * POW(1.0 - h, 2))) AS BIGINT) AS cook_micro
        |FROM per
        |ORDER BY cook_micro DESC, o_orderkey ASC
        |LIMIT 20""".stripMargin,
    "q391_vif" ->
      """WITH lines_ AS (SELECT l_orderkey, count(*)::BIGINT AS x3
        |  FROM lineitem GROUP BY 1),
        |rows0 AS (SELECT
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS x1,
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE))::BIGINT AS x2,
        |    x3
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN lines_ ON o_orderkey = l_orderkey),
        |m AS (SELECT count(*)::BIGINT AS n, sum(x1)::BIGINT AS s1,
        |    sum(x2)::BIGINT AS s2, sum(x3)::BIGINT AS s3,
        |    sum(x1::HUGEINT * x1) AS q11, sum(x2::HUGEINT * x2) AS q22,
        |    sum(x3::HUGEINT * x3) AS q33, sum(x1::HUGEINT * x2) AS q12,
        |    sum(x1::HUGEINT * x3) AS q13, sum(x2::HUGEINT * x3) AS q23
        |  FROM rows0),
        |cc AS (SELECT n,
        |    CAST(q11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n AS c11,
        |    CAST(q22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n AS c22,
        |    CAST(q33 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3 / n AS c33,
        |    CAST(q12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n AS c12,
        |    CAST(q13 AS DOUBLE) - CAST(s1 AS DOUBLE) * s3 / n AS c13,
        |    CAST(q23 AS DOUBLE) - CAST(s2 AS DOUBLE) * s3 / n AS c23
        |  FROM m),
        |rr AS (SELECT
        |    c12 / sqrt(c11 * c22) AS r12,
        |    c13 / sqrt(c11 * c33) AS r13,
        |    c23 / sqrt(c22 * c33) AS r23
        |  FROM cc),
        |dd AS (SELECT r12, r13, r23,
        |    1.0 + 2.0 * r12 * r13 * r23 - r12 * r12 - r13 * r13
        |      - r23 * r23 AS det
        |  FROM rr)
        |SELECT
        |  CAST(round(1000.0 * (1.0 - r23 * r23) / det) AS BIGINT)
        |    AS vif_balance_milli,
        |  CAST(round(1000.0 * (1.0 - r13 * r13) / det) AS BIGINT)
        |    AS vif_age_milli,
        |  CAST(round(1000.0 * (1.0 - r12 * r12) / det) AS BIGINT)
        |    AS vif_lines_milli
        |FROM dd""".stripMargin,
    "q392_breusch_pagan" ->
      """WITH rows0 AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS x1,
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE))::BIGINT AS x2
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |m0 AS (SELECT count(*)::BIGINT AS n, sum(x1)::BIGINT AS sx1,
        |    sum(x2)::BIGINT AS sx2, sum(y)::BIGINT AS sy,
        |    sum(x1::HUGEINT * x1) AS q11, sum(x2::HUGEINT * x2) AS q22,
        |    sum(x1::HUGEINT * x2) AS q12, sum(x1::HUGEINT * y) AS q1y,
        |    sum(x2::HUGEINT * y) AS q2y
        |  FROM rows0),
        |m AS (SELECT n, sx1, sx2, sy,
        |    (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1,
        |    (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2
        |  FROM (SELECT n, sx1, sx2, sy,
        |      CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n
        |        AS s11,
        |      CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n
        |        AS s22,
        |      CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n
        |        AS s12,
        |      CAST(q1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy / n
        |        AS s1y,
        |      CAST(q2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy / n
        |        AS s2y
        |    FROM m0)),
        |resid AS (SELECT x1, x2,
        |    (CAST(round(y - (CAST(sy AS DOUBLE) / n +
        |      b1 * (x1 - CAST(sx1 AS DOUBLE) / n) +
        |      b2 * (x2 - CAST(sx2 AS DOUBLE) / n))) AS BIGINT))
        |      ::HUGEINT AS e
        |  FROM rows0 CROSS JOIN m),
        |r2_ AS (SELECT e * e AS e2, x1, x2 FROM resid),
        |m2 AS (SELECT count(*)::BIGINT AS n, sum(x1)::BIGINT AS sx1,
        |    sum(x2)::BIGINT AS sx2, sum(e2) AS se,
        |    sum(x1::HUGEINT * x1) AS q11, sum(x2::HUGEINT * x2) AS q22,
        |    sum(x1::HUGEINT * x2) AS q12, sum(x1::HUGEINT * e2) AS q1e,
        |    sum(x2::HUGEINT * e2) AS q2e, sum(e2 * e2) AS qee
        |  FROM r2_),
        |cs AS (SELECT n,
        |    CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n AS s11,
        |    CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n AS s22,
        |    CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n AS s12,
        |    CAST(q1e AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |      CAST(se AS DOUBLE) / n AS s1e,
        |    CAST(q2e AS DOUBLE) - CAST(sx2 AS DOUBLE) *
        |      CAST(se AS DOUBLE) / n AS s2e,
        |    CAST(qee AS DOUBLE) - CAST(se AS DOUBLE) *
        |      CAST(se AS DOUBLE) / n AS see
        |  FROM m2)
        |SELECT n, 2::BIGINT AS df,
        |  CAST(round(1000.0 * n *
        |    ((s22 * s1e * s1e - 2 * s12 * s1e * s2e + s11 * s2e * s2e)
        |     / ((s11 * s22 - s12 * s12) * see))) AS BIGINT)
        |    AS lm_milli
        |FROM cs""".stripMargin,
    "q393_durbin_watson" ->
      """WITH daily AS (SELECT
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      ::BIGINT AS t,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS y
        |  FROM orders GROUP BY 1),
        |m AS (SELECT n, sx, sy, b FROM (SELECT count(*)::BIGINT AS n,
        |    sum(t)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |    (CAST(sum(t::HUGEINT * y) AS DOUBLE)
        |      - CAST(sum(t) AS DOUBLE) * sum(y) / count(*)) /
        |    (CAST(sum(t::HUGEINT * t) AS DOUBLE)
        |      - CAST(sum(t) AS DOUBLE) * sum(t) / count(*)) AS b
        |  FROM daily)),
        |resid AS (SELECT t,
        |    CAST(round(1000000.0 * (y - (CAST(sy AS DOUBLE) / n +
        |      b * (t - CAST(sx AS DOUBLE) / n)))) AS BIGINT) AS e
        |  FROM daily CROSS JOIN m),
        |num AS (SELECT sum((a.e - b.e)::HUGEINT * (a.e - b.e)) AS nd
        |  FROM resid a JOIN resid b ON a.t = b.t + 1),
        |den AS (SELECT sum(e::HUGEINT * e) AS dd,
        |    count(*)::BIGINT AS n_days
        |  FROM resid)
        |SELECT n_days,
        |  CAST(round(1000.0 * CAST(nd AS DOUBLE) /
        |    CAST(dd AS DOUBLE)) AS BIGINT) AS dw_milli
        |FROM num CROSS JOIN den""".stripMargin,
    "q394_hc1_robust_se" ->
      """WITH rows0 AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS x1,
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE))::BIGINT AS x2
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |m0 AS (SELECT count(*)::BIGINT AS n, sum(x1)::BIGINT AS sx1,
        |    sum(x2)::BIGINT AS sx2, sum(y)::BIGINT AS sy,
        |    sum(x1::HUGEINT * x1) AS q11, sum(x2::HUGEINT * x2) AS q22,
        |    sum(x1::HUGEINT * x2) AS q12, sum(x1::HUGEINT * y) AS q1y,
        |    sum(x2::HUGEINT * y) AS q2y
        |  FROM rows0),
        |m AS (SELECT n, sx1, sx2, sy, s11, s22, s12,
        |    (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1,
        |    (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2
        |  FROM (SELECT n, sx1, sx2, sy,
        |      CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n
        |        AS s11,
        |      CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n
        |        AS s22,
        |      CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n
        |        AS s12,
        |      CAST(q1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy / n
        |        AS s1y,
        |      CAST(q2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy / n
        |        AS s2y
        |    FROM m0)),
        |per AS (SELECT n, s11, s22, s12,
        |    CAST(round(y - (CAST(sy AS DOUBLE) / n +
        |      b1 * (x1 - CAST(sx1 AS DOUBLE) / n) +
        |      b2 * (x2 - CAST(sx2 AS DOUBLE) / n))) AS BIGINT) AS e,
        |    x1 - CAST(sx1 AS DOUBLE) / n AS xt1,
        |    x2 - CAST(sx2 AS DOUBLE) / n AS xt2
        |  FROM rows0 CROSS JOIN m),
        |g AS (SELECT n, s11, s22, s12, e,
        |    CAST(round(e * xt1 / 1000.0) AS BIGINT) AS g1,
        |    CAST(round(e * xt2 / 1000.0) AS BIGINT) AS g2
        |  FROM per),
        |meat AS (SELECT n, s11, s22, s12,
        |    CAST(sum(e::HUGEINT * e) AS DOUBLE) AS seed,
        |    CAST(sum(g1::HUGEINT * g1) AS DOUBLE) * 1000000.0 AS a11,
        |    CAST(sum(g2::HUGEINT * g2) AS DOUBLE) * 1000000.0 AS a22,
        |    CAST(sum(g1::HUGEINT * g2) AS DOUBLE) * 1000000.0 AS a12
        |  FROM g GROUP BY 1, 2, 3, 4),
        |fin AS (SELECT n, seed / (n - 3) AS s2e, s11, s22, s12,
        |    a11, a22, a12, s11 * s22 - s12 * s12 AS det
        |  FROM meat)
        |SELECT n,
        |  CAST(round(1000.0 * sqrt(s2e * s22 / det)) AS BIGINT)
        |    AS se_b1_classical_milli,
        |  CAST(round(1000.0 * sqrt((CAST(n AS DOUBLE) / (n - 3)) *
        |    (s22 * s22 * a11 - 2 * s22 * s12 * a12 +
        |    s12 * s12 * a22) / (det * det))) AS BIGINT)
        |    AS se_b1_robust_milli,
        |  CAST(round(1000.0 * sqrt(s2e * s11 / det)) AS BIGINT)
        |    AS se_b2_classical_milli,
        |  CAST(round(1000.0 * sqrt((CAST(n AS DOUBLE) / (n - 3)) *
        |    (s11 * s11 * a22 - 2 * s11 * s12 * a12 +
        |    s12 * s12 * a11) / (det * det))) AS BIGINT)
        |    AS se_b2_robust_milli
        |FROM fin""".stripMargin,
    "q395_oaxaca_blinder" ->
      """WITH rows0 AS (SELECT
        |    (CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
        |      END)::BIGINT AS t,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS x1,
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE))::BIGINT AS x2
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |arm0 AS (SELECT t, count(*)::BIGINT AS n,
        |    sum(x1)::BIGINT AS sx1, sum(x2)::BIGINT AS sx2,
        |    sum(y)::BIGINT AS sy,
        |    sum(x1::HUGEINT * x1) AS q11, sum(x2::HUGEINT * x2) AS q22,
        |    sum(x1::HUGEINT * x2) AS q12, sum(x1::HUGEINT * y) AS q1y,
        |    sum(x2::HUGEINT * y) AS q2y
        |  FROM rows0 GROUP BY 1),
        |arm AS (SELECT t,
        |    CAST(sx1 AS DOUBLE) / n AS mx1,
        |    CAST(sx2 AS DOUBLE) / n AS mx2,
        |    CAST(sy AS DOUBLE) / n AS my,
        |    (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1,
        |    (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2
        |  FROM (SELECT t, n, sx1, sx2, sy,
        |      CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n
        |        AS s11,
        |      CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n
        |        AS s22,
        |      CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n
        |        AS s12,
        |      CAST(q1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy / n
        |        AS s1y,
        |      CAST(q2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy / n
        |        AS s2y
        |    FROM arm0)),
        |one AS (SELECT
        |    sum(CASE WHEN t = 1 THEN my END) AS my1,
        |    sum(CASE WHEN t = 0 THEN my END) AS my0,
        |    sum(CASE WHEN t = 1 THEN mx1 END) AS mx1_1,
        |    sum(CASE WHEN t = 0 THEN mx1 END) AS mx1_0,
        |    sum(CASE WHEN t = 1 THEN mx2 END) AS mx2_1,
        |    sum(CASE WHEN t = 0 THEN mx2 END) AS mx2_0,
        |    sum(CASE WHEN t = 0 THEN b1 END) AS b1_0,
        |    sum(CASE WHEN t = 0 THEN b2 END) AS b2_0
        |  FROM arm)
        |SELECT
        |  CAST(round(1000.0 * (my1 - my0)) AS BIGINT)
        |    AS gap_milli_cents,
        |  CAST(round(1000.0 * ((mx1_1 - mx1_0) * b1_0 +
        |    (mx2_1 - mx2_0) * b2_0)) AS BIGINT)
        |    AS endowments_milli_cents,
        |  CAST(round(1000.0 * ((my1 - my0) - ((mx1_1 - mx1_0) * b1_0 +
        |    (mx2_1 - mx2_0) * b2_0))) AS BIGINT)
        |    AS coefficients_milli_cents
        |FROM one""".stripMargin,
    "q396_slo_burn_rate" ->
      """WITH hours AS (SELECT epoch_us(ts) // 3600000000 AS h,
        |    count(*)::BIGINT AS n,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      ::BIGINT AS e
        |  FROM events GROUP BY 1),
        |days AS (SELECT h AS hb FROM hours WHERE (h + 1) % 24 = 0),
        |w6 AS (SELECT hb, sum(n)::BIGINT AS n_6h,
        |    sum(e)::BIGINT AS e_6h
        |  FROM days JOIN hours ON h > hb - 6 AND h <= hb
        |  GROUP BY 1),
        |w24 AS (SELECT hb, sum(n)::BIGINT AS n_24h,
        |    sum(e)::BIGINT AS e_24h
        |  FROM days JOIN hours ON h > hb - 24 AND h <= hb
        |  GROUP BY 1)
        |SELECT hb, n_6h, e_6h, n_24h, e_24h,
        |  CAST(100000::HUGEINT * e_6h // n_6h AS BIGINT)
        |    AS burn_6h_milli,
        |  CAST(100000::HUGEINT * e_24h // n_24h AS BIGINT)
        |    AS burn_24h_milli,
        |  CAST(100000::HUGEINT * e_6h // n_6h > 10000
        |    AND 100000::HUGEINT * e_24h // n_24h > 2000 AS INT)
        |    AS page
        |FROM w6 JOIN w24 USING (hb)
        |ORDER BY hb""".stripMargin,
    "q397_weighted_kappa" ->
      """WITH rated AS (SELECT
        |    (CASE WHEN n_chars < 250 THEN 0 WHEN n_chars < 350 THEN 1
        |      ELSE 2 END)::BIGINT AS r1,
        |    (CASE WHEN length(regexp_replace(text, '[^.]', '', 'g')) < 2
        |      THEN 0
        |      WHEN length(regexp_replace(text, '[^.]', '', 'g')) < 4
        |      THEN 1 ELSE 2 END)::BIGINT AS r2
        |  FROM documents),
        |cells AS (SELECT r1, r2, count(*)::BIGINT AS o
        |  FROM rated GROUP BY 1, 2),
        |rn AS (SELECT r1, sum(o)::BIGINT AS rn FROM cells GROUP BY 1),
        |cn AS (SELECT r2, sum(o)::BIGINT AS cn FROM cells GROUP BY 1),
        |agg AS (SELECT sum(o)::BIGINT AS nn,
        |    sum((cells.r1 - cells.r2) * (cells.r1 - cells.r2) * o)
        |      ::BIGINT AS wo,
        |    sum((cells.r1 - cells.r2) * (cells.r1 - cells.r2)
        |      * rn.rn * cn.cn)::BIGINT AS we
        |  FROM cells JOIN rn ON cells.r1 = rn.r1
        |  JOIN cn ON cells.r2 = cn.r2)
        |SELECT nn,
        |  CAST(round(1000000.0 * (1.0 - CAST(nn AS DOUBLE) * wo / we))
        |    AS BIGINT) AS kappa_w_micro
        |FROM agg""".stripMargin,
    "q398_rec_coverage" ->
      """WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey
        |  FROM lineitem),
        |support AS (SELECT l_partkey, count(*)::BIGINT AS ni
        |  FROM baskets GROUP BY 1),
        |pairs AS (SELECT a.l_partkey AS pi, b.l_partkey AS pj,
        |    count(*)::BIGINT AS nij
        |  FROM baskets a JOIN baskets b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |scored AS (SELECT pi, pj, nij,
        |    CAST(1000000000000::HUGEINT * nij * nij
        |      // (sa.ni::HUGEINT * sb.ni) AS BIGINT) AS cos2_micro2
        |  FROM pairs
        |  JOIN support sa ON sa.l_partkey = pi
        |  JOIN support sb ON sb.l_partkey = pj),
        |sym AS (SELECT pi AS item, pj AS neighbor, cos2_micro2
        |    FROM scored
        |  UNION ALL
        |  SELECT pj AS item, pi AS neighbor, cos2_micro2 FROM scored),
        |serving AS (SELECT item, neighbor FROM
        |  (SELECT item, neighbor,
        |     row_number() OVER (PARTITION BY item
        |       ORDER BY cos2_micro2 DESC, neighbor ASC) AS rk
        |   FROM sym) WHERE rk <= 3),
        |counts AS (SELECT neighbor, count(*)::BIGINT AS c
        |  FROM serving GROUP BY 1),
        |nnb AS (SELECT count(*)::BIGINT AS nk, sum(c)::BIGINT AS slots
        |  FROM counts),
        |ncat AS (SELECT count(DISTINCT l_partkey)::BIGINT AS n_catalog
        |  FROM lineitem),
        |ranked AS (SELECT c,
        |    (row_number() OVER (ORDER BY c, neighbor) - 1)::BIGINT
        |      AS rk
        |  FROM counts),
        |gini AS (SELECT sum((2 * (rk + 1) - nk - 1) * c)::BIGINT
        |    AS gnum, first(nk)::BIGINT AS nk,
        |    first(slots)::BIGINT AS slots
        |  FROM ranked CROSS JOIN nnb)
        |SELECT n_catalog, nk AS n_neighbors,
        |  CAST(1000000::HUGEINT * nk // n_catalog AS BIGINT)
        |    AS coverage_micro,
        |  CAST(round(1000000.0 * gnum / (CAST(nk AS DOUBLE) * slots))
        |    AS BIGINT) AS gini_micro
        |FROM gini CROSS JOIN ncat""".stripMargin,
    "q399_calibration_moments" ->
      """WITH rows0 AS (SELECT o_orderkey,
        |    (CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
        |      END)::BIGINT AS t,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS x1,
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE))::BIGINT AS x2
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |m0 AS (SELECT count(*)::BIGINT AS n,
        |    sum(x1::HUGEINT) AS sx1, sum(x2::HUGEINT) AS sx2,
        |    sum((t * 1000000)::HUGEINT) AS st,
        |    sum(x1::HUGEINT * x1::HUGEINT) AS q11,
        |    sum(x2::HUGEINT * x2::HUGEINT) AS q22,
        |    sum(x1::HUGEINT * x2::HUGEINT) AS q12,
        |    sum(x1::HUGEINT * (t * 1000000)::HUGEINT) AS q1t,
        |    sum(x2::HUGEINT * (t * 1000000)::HUGEINT) AS q2t
        |  FROM rows0),
        |b AS (SELECT n, sx1, sx2, st,
        |    (s22 * s1t - s12 * s2t) / (s11 * s22 - s12 * s12) AS b1,
        |    (s11 * s2t - s12 * s1t) / (s11 * s22 - s12 * s12) AS b2
        |  FROM (SELECT n, sx1, sx2, st,
        |      CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |        CAST(sx1 AS DOUBLE) / n AS s11,
        |      CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) *
        |        CAST(sx2 AS DOUBLE) / n AS s22,
        |      CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |        CAST(sx2 AS DOUBLE) / n AS s12,
        |      CAST(q1t AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |        CAST(st AS DOUBLE) / n AS s1t,
        |      CAST(q2t AS DOUBLE) - CAST(sx2 AS DOUBLE) *
        |        CAST(st AS DOUBLE) / n AS s2t
        |    FROM m0)),
        |sc AS (SELECT t,
        |    CAST(round(CAST(st AS DOUBLE) / n +
        |      b1 * (x1 - CAST(sx1 AS DOUBLE) / n) +
        |      b2 * (x2 - CAST(sx2 AS DOUBLE) / n)) AS BIGINT) AS p
        |  FROM rows0 CROSS JOIN b)
        |SELECT count(*)::BIGINT AS n,
        |  CAST(round(1000000.0 * sum(t) / count(*)
        |    - CAST(sum(p) AS DOUBLE) / count(*)) AS BIGINT)
        |    AS bias_micro,
        |  CAST(round(1000.0 *
        |    (CAST(sum(p::HUGEINT * (t * 1000000)) AS DOUBLE)
        |      - CAST(sum(p) AS DOUBLE) * (1000000.0 * sum(t))
        |        / count(*)) /
        |    (CAST(sum(p::HUGEINT * p) AS DOUBLE)
        |      - CAST(sum(p) AS DOUBLE) * sum(p) / count(*)))
        |    AS BIGINT) AS slope_milli
        |FROM sc""".stripMargin,
    "q400_psi_by_segment" ->
      """WITH rows0 AS (SELECT o_orderkey, c_mktsegment AS seg,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE))::BIGINT AS d
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |half AS (SELECT max(d)::BIGINT AS dmax FROM rows0),
        |binned AS (SELECT seg, d,
        |    ntile(10) OVER (ORDER BY v, o_orderkey)::BIGINT AS bin
        |  FROM rows0),
        |cells AS (SELECT seg, bin,
        |    CASE WHEN d * 2 <= dmax THEN 0 ELSE 1 END::BIGINT
        |      AS period,
        |    count(*)::BIGINT AS c
        |  FROM binned CROSS JOIN half
        |  GROUP BY 1, 2, 3),
        |grid AS (SELECT seg, bin, period
        |  FROM (SELECT DISTINCT seg FROM cells)
        |  CROSS JOIN (SELECT unnest(range(1, 11))::BIGINT AS bin)
        |  CROSS JOIN (SELECT unnest([0, 1])::BIGINT AS period)),
        |smooth AS (SELECT grid.seg, grid.bin, grid.period,
        |    coalesce(c, 0) + 1 AS c
        |  FROM grid LEFT JOIN cells USING (seg, bin, period)),
        |tots AS (SELECT seg, period, sum(c)::BIGINT AS tc
        |  FROM smooth GROUP BY 1, 2),
        |wide AS (SELECT seg, bin,
        |    sum(CASE WHEN period = 0 THEN c ELSE 0 END)::BIGINT AS c0,
        |    sum(CASE WHEN period = 1 THEN c ELSE 0 END)::BIGINT AS c1,
        |    sum(CASE WHEN period = 0 THEN tc ELSE 0 END)::BIGINT AS t0,
        |    sum(CASE WHEN period = 1 THEN tc ELSE 0 END)::BIGINT AS t1
        |  FROM smooth JOIN tots USING (seg, period)
        |  GROUP BY 1, 2),
        |terms AS (SELECT seg,
        |    CAST(round(1000000.0 *
        |      (CAST(c0 AS DOUBLE) / t0 - CAST(c1 AS DOUBLE) / t1) *
        |      ln((CAST(c0 AS DOUBLE) / t0) / (CAST(c1 AS DOUBLE)
        |        / t1))) AS BIGINT) AS term_u
        |  FROM wide),
        |psi AS (SELECT seg, sum(term_u)::BIGINT AS psi_micro
        |  FROM terms GROUP BY 1),
        |worst AS (SELECT seg AS worst_seg FROM psi
        |  ORDER BY psi_micro DESC, seg DESC LIMIT 1)
        |SELECT seg, psi_micro,
        |  CAST(seg = worst_seg AS INT) AS is_worst
        |FROM psi CROSS JOIN worst
        |ORDER BY seg""".stripMargin,
    "q401_bland_altman" ->
      """WITH diffs AS (SELECT
        |    CAST(round(100.0 * l_extendedprice / l_quantity) AS BIGINT)
        |      - CAST(round(p_retailprice * 100) AS BIGINT) AS d
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |m AS (SELECT n,
        |    CAST(sd AS DOUBLE) / n AS md,
        |    CAST(sd AS DOUBLE) / n - 1.96 * s AS lo,
        |    CAST(sd AS DOUBLE) / n + 1.96 * s AS hi
        |  FROM (SELECT count(*)::BIGINT AS n, sum(d)::BIGINT AS sd,
        |      sqrt((CAST(sum(d::HUGEINT * d) AS DOUBLE)
        |        - CAST(sum(d) AS DOUBLE) * sum(d) / count(*))
        |        / (count(*) - 1)) AS s
        |    FROM diffs))
        |SELECT n,
        |  CAST(round(md) AS BIGINT) AS mean_diff_cents,
        |  CAST(round(lo) AS BIGINT) AS loa_lo_cents,
        |  CAST(round(hi) AS BIGINT) AS loa_hi_cents,
        |  CAST(round(1000000.0 * sum(CASE WHEN d < lo OR d > hi
        |    THEN 1 ELSE 0 END) / n) AS BIGINT) AS outside_micro
        |FROM diffs CROSS JOIN m
        |GROUP BY n, md, lo, hi""".stripMargin,
    "q402_lins_ccc" ->
      """WITH xy AS (SELECT
        |    CAST(round(100.0 * l_extendedprice / l_quantity) AS BIGINT)
        |      AS x,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |m AS (SELECT n,
        |    CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxx,
        |    CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS syy,
        |    CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n AS sxy,
        |    CAST(sx AS DOUBLE) / n - CAST(sy AS DOUBLE) / n AS db
        |  FROM (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |      sum(y)::BIGINT AS sy, sum(x::HUGEINT * x) AS qxx,
        |      sum(y::HUGEINT * y) AS qyy, sum(x::HUGEINT * y) AS qxy
        |    FROM xy))
        |SELECT n,
        |  CAST(round(1000000.0 * 2.0 * sxy /
        |    (sxx + syy + CAST(n AS DOUBLE) * db * db)) AS BIGINT)
        |    AS ccc_micro,
        |  CAST(round(1000000.0 * sxy / sqrt(sxx * syy)) AS BIGINT)
        |    AS pearson_micro
        |FROM m""".stripMargin,
    "q403_deming_regression" ->
      """WITH xy AS (SELECT
        |    CAST(round(100.0 * l_extendedprice / l_quantity) AS BIGINT)
        |      AS x,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |m AS (SELECT n,
        |    CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxx,
        |    CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS syy,
        |    CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n AS sxy
        |  FROM (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |      sum(y)::BIGINT AS sy, sum(x::HUGEINT * x) AS qxx,
        |      sum(y::HUGEINT * y) AS qyy, sum(x::HUGEINT * y) AS qxy
        |    FROM xy))
        |SELECT n,
        |  CASE WHEN abs(sxy) < 1e-9 THEN NULL ELSE
        |    CAST(round(1000.0 * (syy - sxx + sqrt((syy - sxx) *
        |      (syy - sxx) + 4.0 * sxy * sxy)) / (2.0 * sxy)) AS BIGINT)
        |    END AS deming_slope_milli,
        |  CAST(round(1000.0 * sxy / sxx) AS BIGINT) AS ols_slope_milli
        |FROM m""".stripMargin,
    "q404_youden_threshold" ->
      """WITH rows0 AS (SELECT o_orderkey,
        |    (CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
        |      END)::BIGINT AS t,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS x1,
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE))::BIGINT AS x2
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |m0 AS (SELECT count(*)::BIGINT AS n,
        |    sum(x1::HUGEINT) AS sx1, sum(x2::HUGEINT) AS sx2,
        |    sum((t * 1000000)::HUGEINT) AS st,
        |    sum(x1::HUGEINT * x1::HUGEINT) AS q11,
        |    sum(x2::HUGEINT * x2::HUGEINT) AS q22,
        |    sum(x1::HUGEINT * x2::HUGEINT) AS q12,
        |    sum(x1::HUGEINT * (t * 1000000)::HUGEINT) AS q1t,
        |    sum(x2::HUGEINT * (t * 1000000)::HUGEINT) AS q2t
        |  FROM rows0),
        |b AS (SELECT n, sx1, sx2, st,
        |    (s22 * s1t - s12 * s2t) / (s11 * s22 - s12 * s12) AS b1,
        |    (s11 * s2t - s12 * s1t) / (s11 * s22 - s12 * s12) AS b2
        |  FROM (SELECT n, sx1, sx2, st,
        |      CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |        CAST(sx1 AS DOUBLE) / n AS s11,
        |      CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) *
        |        CAST(sx2 AS DOUBLE) / n AS s22,
        |      CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |        CAST(sx2 AS DOUBLE) / n AS s12,
        |      CAST(q1t AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |        CAST(st AS DOUBLE) / n AS s1t,
        |      CAST(q2t AS DOUBLE) - CAST(sx2 AS DOUBLE) *
        |        CAST(st AS DOUBLE) / n AS s2t
        |    FROM m0)),
        |grid AS (SELECT p, sum(t)::BIGINT AS pos,
        |    sum(1 - t)::BIGINT AS neg
        |  FROM (SELECT t,
        |      CAST(round(CAST(st AS DOUBLE) / n +
        |        b1 * (x1 - CAST(sx1 AS DOUBLE) / n) +
        |        b2 * (x2 - CAST(sx2 AS DOUBLE) / n)) AS BIGINT) AS p
        |    FROM rows0 CROSS JOIN b)
        |  GROUP BY 1),
        |cum AS (SELECT p, pos, neg,
        |    coalesce(sum(pos) OVER (ORDER BY p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      ::BIGINT AS cp,
        |    coalesce(sum(neg) OVER (ORDER BY p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      ::BIGINT AS cn
        |  FROM grid),
        |tot AS (SELECT sum(pos)::BIGINT AS tp, sum(neg)::BIGINT AS tn
        |  FROM grid),
        |scored AS (SELECT p,
        |    ((tp - cp) * tn - (tn - cn) * tp)::BIGINT AS jnum, tp, tn
        |  FROM cum CROSS JOIN tot),
        |best AS (SELECT p, jnum FROM scored
        |  ORDER BY jnum DESC, p ASC LIMIT 1)
        |SELECT p AS threshold_micro,
        |  CAST(round(1000000.0 * jnum / (CAST(tp AS DOUBLE) * tn))
        |    AS BIGINT) AS youden_j_micro
        |FROM best CROSS JOIN tot""".stripMargin,
    "q405_mann_kendall" ->
      """WITH daily AS (SELECT
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      ::BIGINT AS t,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS y
        |  FROM orders GROUP BY 1),
        |pairs AS (SELECT sum(CASE WHEN b.y > a.y THEN 1
        |    WHEN b.y < a.y THEN -1 ELSE 0 END)::BIGINT AS s_stat
        |  FROM daily a JOIN daily b ON a.t < b.t),
        |ties AS (SELECT sum(m)::BIGINT AS n,
        |    sum(m * (m - 1) * (2 * m + 5))::BIGINT AS tie_adj
        |  FROM (SELECT y, count(*)::BIGINT AS m FROM daily GROUP BY 1))
        |SELECT n, s_stat,
        |  CAST(round(1000.0 * (s_stat - CASE WHEN s_stat > 0 THEN 1
        |    WHEN s_stat < 0 THEN -1 ELSE 0 END) /
        |    sqrt((CAST(n AS DOUBLE) * (n - 1) * (2.0 * n + 5)
        |    - tie_adj) / 18.0)) AS BIGINT) AS z_milli
        |FROM pairs CROSS JOIN ties""".stripMargin,
    "q406_sign_test" ->
      """WITH diffs AS (SELECT
        |    CAST(round(100.0 * l_extendedprice / l_quantity) AS BIGINT)
        |      - CAST(round(p_retailprice * 100) AS BIGINT) AS d
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS pos,
        |  sum(CASE WHEN d < 0 THEN 1 ELSE 0 END)::BIGINT AS neg,
        |  CAST(round(1000.0 * (abs(CAST(sum(CASE WHEN d > 0 THEN 1
        |    ELSE 0 END) AS DOUBLE) - sum(CASE WHEN d < 0 THEN 1
        |    ELSE 0 END)) - 1.0) /
        |    sqrt(CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)
        |      + sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS DOUBLE)))
        |    AS BIGINT) AS z_milli
        |FROM diffs""".stripMargin,
    "q407_hodges_lehmann" ->
      """WITH daily AS (SELECT
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      ::BIGINT AS t,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS y
        |  FROM orders GROUP BY 1),
        |walsh AS (SELECT (a.y + b.y)::BIGINT AS w2, a.t AS ti,
        |    b.t AS tj
        |  FROM daily a JOIN daily b ON a.t <= b.t),
        |n_ AS (SELECT count(*)::BIGINT AS nw FROM walsh),
        |ranked AS (SELECT w2,
        |    (row_number() OVER (ORDER BY w2, ti, tj) - 1)::BIGINT
        |      AS rk
        |  FROM walsh)
        |SELECT first(nw)::BIGINT AS n_walsh,
        |  CAST(round(CAST(sum(w2) AS DOUBLE) / (2.0 * count(*)))
        |    AS BIGINT) AS hl_cents
        |FROM ranked CROSS JOIN n_
        |WHERE rk = (nw - 1) // 2 OR rk = nw // 2""".stripMargin,
  )
}
