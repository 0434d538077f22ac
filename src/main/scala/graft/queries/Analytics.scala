package graft.queries

import graft.Materialize.TrunkCheckpointOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Similarity.sqlCosCols

/** Round-4 continuation batch: the remaining classic warehouse
  * decorrelation shapes (TPC-H Q2 / Q11 / Q15 / Q20 / Q4 analogues on
  * the synthetic star schema — no partsupp table, so the part-supplier
  * link is derived from lineitem), then distribution distances,
  * retrieval evals, and classical statistics (later sections).
  *
  * Exactness discipline as everywhere in this repo: money is exact
  * cents (`round(x*100)::BIGINT` per row, never summed as doubles),
  * fractional fences are integer cross-multiplies (`v*1000 > tot`
  * instead of `v > tot/1000`), and `div`/`//` share truncate-toward-
  * zero semantics across Spark, DuckDB, and Java.
  *
  * Scale stance: every scalar threshold (global max, global total) is
  * a one-row broadcast; per-group minima join back on equality rather
  * than re-sorting; nation/region dims broadcast; supplier/part sides
  * shuffle on their keys (they grow with SF and are never collected).
  */
object Analytics {

  // ------------------------------------ q301 TPC-H Q2 min-cost supplier

  /** q301 — TPC-H Q2's correlated-minimum shape: for each small part,
    * the EUROPE supplier(s) quoting the minimum price. The correlated
    * `WHERE cost = (SELECT min(cost) ... same part)` decorrelates into
    * a per-part min aggregate joined back on equality — ties surface
    * as extra rows, exactly like the reference query. Two shuffles
    * (per-(part,supp) min, per-part min) both keyed on l_partkey; the
    * nation dim broadcasts; supplier joins shuffle on s_suppkey. */
  val minCostSupplier: Q = (s, dir) => {
    import s.implicits._
    val eur = Tables(s, dir, "nation").filter($"n_regionkey" === 3)
      .select($"n_nationkey", $"n_name")
    val supp = Tables(s, dir, "supplier")
      .join(broadcast(eur), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name", $"n_name",
        round($"s_acctbal" * 100).cast("long").as("bal_cents"))
    val pk = Tables(s, dir, "part").filter($"p_size" < 10)
      .select($"p_partkey")
    val offers = Tables(s, dir, "lineitem")
      .join(broadcast(pk), $"l_partkey" === $"p_partkey")
      .select($"l_partkey", $"l_suppkey",
        round($"l_extendedprice" * 100).cast("long").as("cents"))
    val perSupp = offers.groupBy($"l_partkey", $"l_suppkey")
      .agg(min($"cents").as("supp_cents"))
      .join(supp, $"l_suppkey" === $"s_suppkey")
    val best = perSupp.groupBy($"l_partkey")
      .agg(min($"supp_cents").as("min_cents"))
    perSupp.join(best, Seq("l_partkey"))
      .filter($"supp_cents" === $"min_cents")
      .select($"l_partkey".as("p_partkey"), $"min_cents", $"s_suppkey",
        $"s_name", $"n_name", $"bal_cents")
      .orderBy($"bal_cents".desc, $"n_name".asc, $"s_name".asc,
        $"p_partkey".asc)
  }

  // ---------------------------------- q302 TPC-H Q11 important values

  /** q302 — TPC-H Q11's group-vs-global-scalar shape: per-part value
    * held by one region's suppliers (EUROPE = nationkey mod 5 per this
    * schema's nation→region mapping; a plain nation filter is empty at
    * the sf0.001 smoke scale), kept when it clears 1/1000 of the
    * region's total. The scalar total is ONE broadcast row off the
    * already-aggregated per-part frame (not a second scan), and the
    * fraction fence is the integer cross-multiply `value*1000 > total`
    * — no division, no doubles. */
  val importantPartValue: Q = (s, dir) => {
    import s.implicits._
    val ns = Tables(s, dir, "supplier")
      .filter($"s_nationkey" % 5 === 3).select($"s_suppkey")
    val value = Tables(s, dir, "lineitem")
      .join(ns, $"l_suppkey" === $"s_suppkey")
      .select($"l_partkey",
        round($"l_extendedprice" * 100).cast("long").as("cents"))
      .groupBy($"l_partkey").agg(sum($"cents").as("value_cents"))
    val tot = value.agg(sum($"value_cents").as("total_cents"))
    value.crossJoin(broadcast(tot))
      .filter($"value_cents" * 1000 > $"total_cents")
      .select($"l_partkey".as("p_partkey"), $"value_cents")
      .orderBy($"value_cents".desc, $"p_partkey".asc)
  }

  // ------------------------------------- q303 TPC-H Q15 top supplier

  /** q303 — TPC-H Q15's max-of-aggregate shape: the supplier(s) with
    * the highest discounted Q1-1996 revenue. The view + scalar-max
    * subquery decorrelates to one grouped aggregate, a one-row
    * broadcast max, and an equality join-back (ties kept, as Q15
    * requires). Revenue rounds to cents PER ROW before the exact long
    * sum, so partial-aggregation order cannot move the result. */
  val topSupplierRevenue: Q = (s, dir) => {
    import s.implicits._
    val rev = Tables(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01") &&
        $"l_shipdate" < lit("1996-04-01"))
      .select($"l_suppkey",
        round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100)
          .cast("long").as("cents"))
      .groupBy($"l_suppkey").agg(sum($"cents").as("rev_cents"))
    val mx = rev.agg(max($"rev_cents").as("max_rev"))
    rev.crossJoin(broadcast(mx))
      .filter($"rev_cents" === $"max_rev")
      .join(Tables(s, dir, "supplier"), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"rev_cents")
      .orderBy($"s_suppkey".asc)
  }

  // -------------------------------- q304 TPC-H Q20 dominant supplier

  /** q304 — TPC-H Q20's nested-aggregate semi-join shape, adapted to
    * the lineitem-derived part-supplier link: suppliers who shipped
    * MORE THAN 30% of a brand's 1997 volume for at least one part
    * (the availqty > 0.5·shipped fence becomes a share-of-part fence;
    * the two-level aggregate and the semi-join to the supplier dim are
    * the same plan shape). Per-part totals derive from the per-
    * (part,supp) frame — one scan, two keyed shuffles; the share
    * fence is the integer cross-multiply `sq*10 > tq*3`. */
  val dominantSupplier: Q = (s, dir) => {
    import s.implicits._
    val pk = Tables(s, dir, "part")
      .filter($"p_brand" === "Brand#21").select($"p_partkey")
    val sh = Tables(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1997-01-01") &&
        $"l_shipdate" < lit("1998-01-01"))
      .join(broadcast(pk), $"l_partkey" === $"p_partkey")
      .select($"l_partkey", $"l_suppkey",
        $"l_quantity".cast("long").as("qty"))
    val perPS = sh.groupBy($"l_partkey", $"l_suppkey")
      .agg(sum($"qty").as("sq"))
    val perP = perPS.groupBy($"l_partkey").agg(sum($"sq").as("tq"))
    perPS.join(perP, Seq("l_partkey"))
      .filter($"sq" * 10 > $"tq" * 3)
      .groupBy($"l_suppkey").agg(count(lit(1)).as("n_parts"))
      .join(Tables(s, dir, "supplier"), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"n_parts")
      .orderBy($"s_suppkey".asc)
  }

  // --------------------------------- q305 TPC-H Q4 priority check

  /** q305 — TPC-H Q4's EXISTS shape: orders placed in Q2-1996 with at
    * least one line shipped more than 30 days after the order date,
    * counted per priority. The correlated EXISTS plans as a LEFT SEMI
    * join whose non-equi residual (l_shipdate > o_orderdate + 30d)
    * rides on the o_orderkey equi-key — one keyed shuffle, then a
    * 5-group aggregate. */
  val orderPriorityCheck: Q = (s, dir) => {
    import s.implicits._
    val ords = Tables(s, dir, "orders")
      .filter($"o_orderdate" >= lit("1996-04-01") &&
        $"o_orderdate" < lit("1996-07-01"))
    val li = Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_shipdate")
    ords.join(li,
        $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority".asc)
  }

  // ----------------------------- q306 Hellinger / Bhattacharyya / TV

  /** q306 — distribution distances between the event-type mixes of two
    * user cohorts (even vs odd user_id): Bhattacharyya coefficient,
    * Hellinger distance, and total variation. The category frame is
    * O(event types) after one counting shuffle; both cohort totals are
    * one broadcast row. TV is EXACT rational arithmetic
    * (|n1·N2 − n2·N1| summed, one terminal division); the BC sqrt is
    * quantized per CATEGORY term (the q77 convention) so partial-agg
    * order cannot move it, and Hellinger's outer sqrt runs on the
    * already-integral BC sum. */
  val distributionDistances: Q = (s, dir) => {
    import s.implicits._
    val cnt = Tables(s, dir, "events")
      .select(($"user_id" % 2).as("g"), $"event_type")
      .groupBy($"event_type")
      .agg(sum(when($"g" === 0, 1L).otherwise(0L)).as("n1"),
        sum(when($"g" === 1, 1L).otherwise(0L)).as("n2"))
    val tot = cnt.agg(sum($"n1").as("t1"), sum($"n2").as("t2"))
    val terms = cnt.crossJoin(broadcast(tot))
      .select(
        expr("CAST(round(1000000.0 * sqrt(CAST(n1 * n2 AS DOUBLE) /" +
          " CAST(t1 * t2 AS DOUBLE))) AS BIGINT)").as("bc_term"),
        abs($"n1" * $"t2" - $"n2" * $"t1").as("tv_num"))
      .agg(count(lit(1)).as("n_types"), sum($"bc_term").as("bc_micro"),
        sum($"tv_num").as("tv_num"))
    terms.crossJoin(broadcast(tot))
      .select($"n_types", $"bc_micro",
        expr("CAST(round(1000.0 * sqrt(CAST(greatest(0," +
          " 1000000 - bc_micro) AS DOUBLE))) AS BIGINT)")
          .as("hellinger_micro"),
        expr("CAST(1000000 * tv_num div (2 * t1 * t2) AS BIGINT)")
          .as("tv_micro"))
  }

  // ------------------------------------- q307 1-D Wasserstein distance

  /** q307 — exact 1-D earth-mover (Wasserstein-1) distance between the
    * order-value distributions of URGENT and non-URGENT orders:
    * W1 = ∫|F1−F2|dx over the merged value grid. Scale shape: one
    * counting shuffle onto the distinct-cents grid, then the
    * [[graft.functions.ScaleWindows]] backbone — `rangeCumSums` for
    * both exclusive cumulative counts and `rangeCumMax` as the
    * scale-safe LAG (on a strictly-increasing grid the exclusive
    * prefix max IS the previous value) — no single-partition sort
    * anywhere. Arithmetic is exact rational (E1·N2 − E2·N1 stays
    * integral; one terminal micro division). At ~1e10 rows per cohort
    * the cross product would overflow int64 — the documented
    * production path quantizes each CDF to micro units per grid row
    * first (error ≤ 1e-6·range); this exact-rational form is the
    * oracle-parity configuration. */
  val wasserstein1d: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val grid = Tables(s, dir, "orders")
      .select(when($"o_orderpriority" === "1-URGENT", 1).otherwise(2)
        .as("g"), round($"o_totalprice" * 100).cast("long").as("v"))
      .groupBy($"v")
      .agg(sum(when($"g" === 1, 1L).otherwise(0L)).as("n1"),
        sum(when($"g" === 2, 1L).otherwise(0L)).as("n2"))
    val tot = grid.agg(sum($"n1").as("t1"), sum($"n2").as("t2"))
    val cum = ScaleWindows.rangeCumSums(grid, Seq($"v"),
      Seq(col("n1") -> "e1", col("n2") -> "e2"))
    val lagged = ScaleWindows.rangeCumMax(cum, Seq($"v"), $"v", "prev_v")
    lagged.filter($"prev_v".isNotNull)
      .crossJoin(broadcast(tot))
      .select((abs($"e1" * $"t2" - $"e2" * $"t1") *
        ($"v" - $"prev_v")).as("seg"))
      .agg(sum($"seg").as("num"))
      .crossJoin(broadcast(tot))
      .select($"t1", $"t2", $"num",
        // two-step division: num·1e6 can overflow int64, the
        // quotient/remainder split never does (r < t1·t2)
        expr("CAST((num div (t1 * t2)) * 1000000 +" +
          " (1000000 * (num % (t1 * t2))) div (t1 * t2) AS BIGINT)")
          .as("w1_micro_cents"))
  }

  // --------------------------------------------------- q308 MRR eval

  /** q308 — mean reciprocal rank of the first same-label neighbor
    * within the top-50 cosine candidates, per label (the rank-position
    * companion of q208's recall, q216's nDCG and q252's vote
    * accuracy). Scale: eval sample broadcast, one corpus scan, the
    * per-query rank window prunes to 50 BEFORE the exchange
    * (WindowGroupLimit); queries with no same-label hit inside the cap
    * score 0 via the left join, so the production path never ranks
    * past k. Reciprocals are integral micro divisions. */
  val mrrEval: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Similarity
    val e = Tables(s, dir, "embeddings")
    val qs = e.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"),
        $"label".as("true_label"))
    val first = e.crossJoin(broadcast(qs))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"true_label", $"vec_id", $"label",
        Similarity.cosine($"embedding", $"qv").as("cs"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cs".desc, $"vec_id".asc)))
      .filter($"rank" <= 50 && $"label" === $"true_label")
      .groupBy($"q_id").agg(min($"rank").as("first_rank"))
    qs.select($"q_id", $"true_label")
      .join(first, Seq("q_id"), "left")
      .select($"true_label",
        coalesce(expr("1000000 div first_rank"), lit(0L)).as("rr_micro"))
      .groupBy($"true_label")
      .agg(count(lit(1)).as("n_queries"),
        sum($"rr_micro").as("sum_rr_micro"))
      .select($"true_label", $"n_queries", $"sum_rr_micro",
        expr("sum_rr_micro div n_queries").as("mrr_micro"))
  }

  // ---------------------------------------------- q412 ERR ranking eval

  // one template string for the per-rank ERR term in both engines:
  // (1/r)·R_r·Π(1−R_s) with R=(2^g−1)/4 is qq·3^o·4^z/(r·4^r) — the
  // stop-probability product stays an exact power product (1−R ∈
  // {1, 3/4, 1/4}), never a floating accumulation
  private val errTerm =
    "CAST(round(1000000.0 * qq * power(3.0, o) * power(4.0, z)" +
      " / (rank * power(4.0, rank))) AS BIGINT)"

  /** q412 — Expected Reciprocal Rank (Chapelle et al., CIKM 2009) of
    * the top-10 cosine neighbors per held-out query under the cascade
    * user model — the graded, position-discounted companion to q308's
    * MRR and q216's nDCG. Grades derive deterministically from labels
    * (exact match → 2, same label mod 3 → 1, else 0), R = (2^g−1)/4.
    * The cascade product Π(1−R_s) is EXACT: factors ∈ {1, 3/4, 1/4}
    * make it 3^o·4^z/4^(r−1) with o/z two prior-row window counts, so
    * each rank's term micro-quantizes from an exact rational and sums
    * exactly per query. Scale posture = q308: the query sample
    * broadcasts, the corpus scans once, the rank window prunes to 10
    * before any exchange (WindowGroupLimit). */
  val errEval: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Similarity
    val e = Tables(s, dir, "embeddings")
    val qs = e.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"),
        $"label".as("tl"))
    val byCs = Window.partitionBy($"q_id")
      .orderBy($"cs".desc, $"vec_id".asc)
    val prior = Window.partitionBy($"q_id").orderBy($"rank".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    e.crossJoin(broadcast(qs))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"tl", $"vec_id", $"label",
        Similarity.cosine($"embedding", $"qv").as("cs"))
      .withColumn("rank", row_number().over(byCs))
      .filter($"rank" <= 10)
      .withColumn("qq", expr("CASE WHEN label = tl THEN 3" +
        " WHEN label % 3 = tl % 3 THEN 1 ELSE 0 END"))
      .withColumn("o", coalesce(sum(when($"qq" === 1, 1L)
        .otherwise(0L)).over(prior), lit(0L)))
      .withColumn("z", coalesce(sum(when($"qq" === 0, 1L)
        .otherwise(0L)).over(prior), lit(0L)))
      .withColumn("term_micro", expr(errTerm))
      .groupBy($"q_id", $"tl")
      .agg(sum($"term_micro").as("err_q_micro"))
      .groupBy($"tl".as("true_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum($"err_q_micro").as("sum_err_micro"))
      .select($"true_label", $"n_queries", $"sum_err_micro",
        expr("sum_err_micro div n_queries").as("err_micro"))
  }

  // -------------------------------------------- q422 MAP ranking eval

  /** q422 — Mean Average Precision at 10 of the cosine neighbors per
    * held-out query — the set-based companion completing the ranking-
    * eval quartet (q308 MRR, q216 nDCG, q412 ERR). Relevance is the
    * exact label match; AP@10 = Σ_{rel ranks r≤10} P@r, normalized by
    * the retrieved-relevant count (declared contract: queries with no
    * relevant in the top 10 contribute AP = 0). Each P@r = cumrel/r
    * micro-quantizes from an exact integer ratio and sums exactly per
    * query; the per-label macro mean is an integer division. Scale
    * posture = q308/q412: query sample broadcasts, corpus scans once,
    * the rank window prunes to 10 pre-exchange (WindowGroupLimit). */
  val mapEval: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Similarity
    val e = Tables(s, dir, "embeddings")
    val qs = e.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"),
        $"label".as("tl"))
    val byCs = Window.partitionBy($"q_id")
      .orderBy($"cs".desc, $"vec_id".asc)
    val incl = Window.partitionBy($"q_id").orderBy($"rank".asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    e.crossJoin(broadcast(qs))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"tl", $"vec_id", $"label",
        Similarity.cosine($"embedding", $"qv").as("cs"))
      .withColumn("rank", row_number().over(byCs))
      .filter($"rank" <= 10)
      .withColumn("rel", when($"label" === $"tl", 1L).otherwise(0L))
      .withColumn("cumrel", sum($"rel").over(incl))
      .withColumn("term_micro", expr("CASE WHEN rel = 1 THEN" +
        " CAST(round(1000000.0 * cumrel / rank) AS BIGINT)" +
        " ELSE 0 END"))
      .groupBy($"q_id", $"tl")
      .agg(sum($"term_micro").as("ap_num_micro"),
        sum($"rel").as("r10"))
      .withColumn("ap_micro",
        expr("ap_num_micro div greatest(r10, 1)"))
      .groupBy($"tl".as("true_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum($"ap_micro").as("sum_ap_micro"))
      .select($"true_label", $"n_queries", $"sum_ap_micro",
        expr("sum_ap_micro div n_queries").as("map_micro"))
  }

  // ----------------------------------- q309 query-likelihood ranking

  /** q309 — Dirichlet-smoothed query-likelihood retrieval (Zhai &
    * Lafferty 2004), the language-model scorer next to q91's BM25:
    * score(d) = Σ_t ln((tf·|C| + μ·cf_t) / (|C|·(dl + μ))), μ = 2000.
    * Corpus stats (total tokens, per-term collection frequency) reduce
    * to ONE broadcast row so scoring is a map-only pass; each ln
    * quantizes to micro-nats per (doc, term) from EXACT long
    * numerator/denominator (never a summed double), then the 3-term
    * sum is exact. */
  val queryLikelihood: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.TextOps
    val terms = Seq("spark", "query", "hash")
    val tk = Tables(s, dir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
    val statCols = sum(size($"toks")).cast("long").as("ctot") +:
      terms.map(t => sum(size(filter($"toks", x => x === t)))
        .cast("long").as(s"cf_$t"))
    val stats = tk.agg(statCols.head, statCols.tail: _*)
    val tfCols = $"doc_id" +: size($"toks").cast("long").as("dl") +:
      terms.map(t =>
        size(filter($"toks", x => x === t)).cast("long").as(s"tf_$t"))
    val score = terms.map { t =>
      expr(s"CAST(round(1000000.0 * ln(" +
        s"CAST(tf_$t * ctot + 2000 * cf_$t AS DOUBLE) / " +
        s"CAST(ctot * (dl + 2000) AS DOUBLE))) AS BIGINT)")
    }.reduce(_ + _)
    tk.select(tfCols: _*).crossJoin(broadcast(stats))
      .select($"doc_id", score.as("ql_micro"))
      .orderBy($"ql_micro".desc, $"doc_id".asc)
      .limit(15)
  }

  // --------------------------------- q310 binary-sign Hamming ANN

  /** q310 — binary embedding search: each vector sign-quantizes to a
    * 63-bit code (one long word; bit 63 stays clear because DuckDB's
    * checked `<<` rejects it — at production dims the code is simply
    * ⌈dims/63⌉ words), candidates rank by XOR-popcount Hamming
    * distance, and only the 20 survivors pay the exact-cosine rerank
    * to top-5. The 64×-compressed first pass is the scale story:
    * popcount on a broadcast query code versus a float dot product per
    * corpus row; WindowGroupLimit prunes to 20 before the exchange;
    * the rerank join re-fetches the query vector from the broadcast
    * side only for candidate rows. */
  val binaryHammingAnn: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Similarity
    val code = expr("aggregate(sequence(0, 62), CAST(0 AS BIGINT), " +
      "(acc, i) -> acc + CASE WHEN element_at(embedding, i + 1) > 0.0 " +
      "THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END)")
    val coded = Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding", code.as("code"))
    val qs = coded.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"),
        $"code".as("qcode"))
    val top = coded.crossJoin(broadcast(qs.select($"q_id", $"qcode")))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", $"embedding",
        expr("CAST(bit_count(code ^ qcode) AS BIGINT)").as("ham"))
      .withColumn("hrank", row_number().over(
        Window.partitionBy($"q_id").orderBy($"ham".asc, $"vec_id".asc)))
      .filter($"hrank" <= 20)
    top.join(broadcast(qs.select($"q_id", $"qv")), Seq("q_id"))
      .select($"q_id", $"vec_id", $"ham",
        Similarity.cosine($"embedding", $"qv").as("cs"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cs".desc, $"vec_id".asc)))
      .filter($"rank" <= 5)
      .select($"q_id", $"rank".cast("long").as("rank"), $"vec_id",
        $"ham", expr("CAST(round(1000000 * cs) AS BIGINT)")
          .as("cos_micro"))
      .orderBy($"q_id".asc, $"rank".asc)
  }

  // ------------------------------------------- q311 Kruskal-Wallis H

  /** q311 — Kruskal-Wallis rank test (the nonparametric k-group
    * companion of q253's ANOVA and q199's two-group Mann-Whitney):
    * order values ranked across the 5 priority groups, H with the tie
    * correction. Scale shape: ranks NEVER materialize per row — the
    * value GRID (one row per distinct cents value, with per-group
    * counts) gets its exclusive cumulative count from
    * [[graft.functions.ScaleWindows.rangeCumSum]], and the average
    * rank of a tied block is the integral doubled rank
    * 2·E(v)+n_v+1. Per-group rank sums are exact longs; the two
    * divisions quantize once each on the one-row frame (milli units —
    * 12·ΣU at micro would overflow int64 at sf0.01). */
  val kruskalWallis: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val g = when($"o_orderpriority" === "1-URGENT", 1)
      .when($"o_orderpriority" === "2-HIGH", 2)
      .when($"o_orderpriority" === "3-MEDIUM", 3)
      .when($"o_orderpriority" === "4-NOT SPECIFIED", 4).otherwise(5)
    val base = Tables(s, dir, "orders")
      .select(round($"o_totalprice" * 100).cast("long").as("v"),
        g.as("g"))
    val gcols = (1 to 5).map(j =>
      sum(when($"g" === j, 1L).otherwise(0L)).as(s"n$j"))
    val grid = base.groupBy($"v")
      .agg(gcols.head, gcols.tail :+ count(lit(1)).as("nv"): _*)
    val cum = ScaleWindows.rangeCumSum(grid, Seq($"v"), col("nv"), "e")
    val r2 = cum.withColumn("r2", lit(2L) * $"e" + $"nv" + 1L)
    val aggCols = (1 to 5).flatMap(j => Seq(
      sum(col(s"n$j") * $"r2").as(s"rr$j"),
      sum(col(s"n$j")).as(s"m$j"))) :+
      sum($"nv").as("n") :+
      sum($"nv" * $"nv" * $"nv" - $"nv").as("ties")
    val one = r2.agg(aggCols.head, aggCols.tail: _*)
    // one-row frame: the k=5 sum is a FIXED left-to-right expression
    // chain (not a partial aggregation), so the double path is
    // deterministic and cannot overflow at any SF
    val sTerms = (1 to 5).map(j =>
      s"CAST(rr$j AS DOUBLE) * rr$j / (4.0 * m$j)").mkString(" + ")
    one
      .select($"n", $"ties",
        expr(s"CAST(round(1000.0 * (12.0 * ($sTerms) /" +
          " (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1)))" +
          " AS BIGINT)").as("h_milli"))
      .select($"n", $"ties", $"h_milli",
        expr("CAST(round(CAST(h_milli AS DOUBLE) *" +
          " (CAST(n AS DOUBLE) * n * n - n) /" +
          " (CAST(n AS DOUBLE) * n * n - n - ties)) AS BIGINT)")
          .as("h_corr_milli"))
  }

  // ------------------------------------ q312 effect sizes (d, delta)

  /** q312 — effect sizes between URGENT and non-URGENT order values:
    * Cohen's d (pooled-SD standardized mean difference) and Cliff's
    * delta (the ordinal dominance statistic). Cliff's delta is EXACT
    * rational arithmetic with NO pair enumeration: on the value grid,
    * #(x>y) = Σ_v n1(v)·E2(v) with E2 the exclusive cumulative count
    * from the q307/q311 [[graft.functions.ScaleWindows]] backbone, so
    * the O(n1·n2) pair space collapses to one grid pass. Cohen's d
    * keeps exact long/decimal sums (cents, cents²) and quantizes once
    * on the one-row frame. */
  val effectSizes: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val base = Tables(s, dir, "orders")
      .select(when($"o_orderpriority" === "1-URGENT", 1).otherwise(2)
        .as("g"), round($"o_totalprice" * 100).cast("long").as("v"))
    val grid = base.groupBy($"v")
      .agg(sum(when($"g" === 1, 1L).otherwise(0L)).as("n1"),
        sum(when($"g" === 2, 1L).otherwise(0L)).as("n2"),
        sum(when($"g" === 1, $"v").otherwise(0L)).as("s1v"),
        sum(when($"g" === 2, $"v").otherwise(0L)).as("s2v"),
        sum(when($"g" === 1,
          $"v".cast("decimal(19,0)") * $"v".cast("decimal(19,0)"))
          .otherwise(lit(0).cast("decimal(19,0)"))).as("q1v"),
        sum(when($"g" === 2,
          $"v".cast("decimal(19,0)") * $"v".cast("decimal(19,0)"))
          .otherwise(lit(0).cast("decimal(19,0)"))).as("q2v"))
    val cum = ScaleWindows.rangeCumSums(grid, Seq($"v"),
      Seq(col("n1") -> "e1", col("n2") -> "e2"))
    val one = cum.agg(
      sum($"n1").as("m1"), sum($"n2").as("m2"),
      sum($"s1v").as("sum1"), sum($"s2v").as("sum2"),
      sum($"q1v").as("ss1"), sum($"q2v").as("ss2"),
      sum($"n1" * $"e2").as("gt"),
      sum($"n2" * $"e1").as("lt"))
    one.select($"m1", $"m2", $"gt", $"lt",
      expr("CAST((1000000 * (gt - lt)) div (m1 * m2) AS BIGINT)")
        .as("cliffs_micro"),
      expr("CAST(round(1000000.0 *" +
        " (CAST(sum1 AS DOUBLE) / m1 - CAST(sum2 AS DOUBLE) / m2) /" +
        " sqrt(((CAST(ss1 AS DOUBLE) -" +
        " CAST(sum1 AS DOUBLE) * sum1 / m1) +" +
        " (CAST(ss2 AS DOUBLE) - CAST(sum2 AS DOUBLE) * sum2 / m2)) /" +
        " (m1 + m2 - 2))) AS BIGINT)").as("cohens_d_micro"))
  }

  // --------------------------------------------- q313 partial ACF

  /** q313 — partial autocorrelation of daily revenue at lags 1–3 via
    * the Durbin-Levinson recursion in closed form (the AR-order
    * selector read next to q181's ACF): φ11 = r1,
    * φ22 = (r2−r1²)/(1−r1²), φ33 from the level-2 coefficients. The
    * series is the POST-AGGREGATE daily frame (O(days)); the three
    * lag products come from one ×3 broadcast fan-out join; moment
    * sums are decimal(38,0) (exact), and the recursion runs on the
    * ONE-ROW r-vector with a fixed expression order mirrored
    * operation-for-operation in the oracle. */
  val pacf: Q = (s, dir) => {
    import s.implicits._
    val daily = Tables(s, dir, "orders")
      .groupBy(datediff(to_date($"o_orderdate"),
        lit("1995-01-01").cast("date")).as("d"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
    val lags = s.range(1, 4).select($"id".cast("int").as("lag"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rs = daily.as("a").crossJoin(broadcast(lags))
      .join(daily.as("b"), col("b.d") === col("a.d") + $"lag")
      .select($"lag", col("a.cents").as("x"), col("b.cents").as("y"))
      .groupBy($"lag")
      .agg(count(lit(1)).as("n"),
        sum(dec($"x")).as("sx"), sum(dec($"y")).as("sy"),
        sum(dec($"x") * dec($"y")).as("sxy"),
        sum(dec($"x") * dec($"x")).as("sxx"),
        sum(dec($"y") * dec($"y")).as("syy"))
      .select($"lag",
        (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) /
          sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double"))).as("r"))
    rs.agg(sum(when($"lag" === 1, $"r")).as("r1"),
        sum(when($"lag" === 2, $"r")).as("r2"),
        sum(when($"lag" === 3, $"r")).as("r3"))
      .withColumn("p2",
        ($"r2" - $"r1" * $"r1") / (lit(1.0) - $"r1" * $"r1"))
      .withColumn("a1", $"r1" - $"p2" * $"r1")
      .withColumn("v2",
        (lit(1.0) - $"r1" * $"r1") * (lit(1.0) - $"p2" * $"p2"))
      .select(round($"r1", 6).as("pacf1"), round($"p2", 6).as("pacf2"),
        round(($"r3" - $"a1" * $"r2" - $"p2" * $"r1") / $"v2", 6)
          .as("pacf3"))
  }

  // ------------------------------------------ q314 Cronbach's alpha

  /** q314 — Cronbach's alpha over the user × event-type count matrix
    * (internal-consistency of the "items" = do the event types move
    * together across users?): α = k/(k−1)·(1 − Σvar_i/var_total).
    * Users absent from an item are exact zeros, handled WITHOUT
    * materializing the dense matrix: per-item moments over present
    * rows only, with n = all users (zeros add nothing to either sum).
    * Item count k is data-derived; per-item sample variances quantize
    * to micro per ITEM (k-row frame) before the exact sum; the
    * user-total variance comes from exact decimal moments; α is one
    * quantized double on the one-row frame. */
  val cronbachAlpha: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(19,0)")
    val ut = Tables(s, dir, "events")
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("x"))
    val totals = ut.groupBy($"user_id").agg(sum($"x").as("tot"))
    val tstats = totals.agg(count(lit(1)).as("n"),
      sum(dec($"tot")).as("st"), sum(dec($"tot") * dec($"tot")).as("qt"))
    val item = ut.groupBy($"event_type")
      .agg(sum(dec($"x")).as("s"), sum(dec($"x") * dec($"x")).as("q"))
      .crossJoin(broadcast(tstats.select($"n")))
      .select(expr("CAST(round(1000000.0 * (CAST(q AS DOUBLE) -" +
        " CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1))" +
        " AS BIGINT)").as("var_micro"))
      .agg(count(lit(1)).as("k"), sum($"var_micro").as("siv"))
    item.crossJoin(broadcast(tstats))
      .select($"n".as("n_users"), $"k".as("k_items"),
        $"siv".as("sum_item_var_micro"),
        expr("CAST(round(1000000.0 * (CAST(qt AS DOUBLE) -" +
          " CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / n) / (n - 1))" +
          " AS BIGINT)").as("total_var_micro"))
      .select($"n_users", $"k_items", $"sum_item_var_micro",
        $"total_var_micro",
        expr("CAST(round(1000000.0 * k_items / (k_items - 1) *" +
          " (1.0 - CAST(sum_item_var_micro AS DOUBLE) /" +
          " total_var_micro)) AS BIGINT)").as("alpha_micro"))
  }

  // ------------------------------- q315 Kneser-Ney held-out scoring

  /** q315 — interpolated Kneser-Ney bigram LM (Kneser & Ney 1995;
    * Chen & Goodman 1999) scored on the held-out half of the corpus —
    * the discounting upgrade over q227's add-one model and q236's
    * stupid backoff. Absolute discount D = 3/4 stays EXACT by scaling
    * the probability to the common denominator 4·c(w1)·(T+V):
    * P = [max(4c−3,0)·(T+V) + 3·N1+(w1·)·(N1+(·w2)+1)] / that — the
    * continuation distribution is add-one smoothed so unseen followers
    * keep finite scores, and an unseen history backs off to the
    * continuation probability alone. One ln per DISTINCT held-out
    * bigram type (micro-nats, the q77 convention), then exact long
    * sums per document. Model frames are Zipf-bounded (bigram/unigram
    * types) and the scoring join is keyed on the bigram; the exact
    * integer numerators assume c·(T+V) fits int64 — beyond ~1e12×1e9
    * the production path drops to the documented micro-quantized
    * ratio. */
  val knHeldout: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.TextOps
    def pairs(df: DataFrame) = df.select($"doc_id", explode(transform(
        when(size($"toks") >= 2, sequence(lit(1), size($"toks") - 1))
          .otherwise(array().cast("array<int>")),
        i => struct(element_at($"toks", i).as("w1"),
          element_at($"toks", i + 1).as("w2")))).as("pr"))
      .select($"doc_id", $"pr.w1".as("w1"), $"pr.w2".as("w2"))
    val tok = Tables(s, dir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
    val train = tok.filter($"doc_id" % 2 === 0)
    val held = tok.filter($"doc_id" % 2 =!= 0)
    // bi pinned (vocab²-bounded, the q227 fix): read by the left/right
    // continuation rollups, the type census AND the score join — lazy,
    // the train bigram explode + groupBy ran 4×
    val bi = pairs(train).groupBy($"w1", $"w2")
      .agg(count(lit(1)).as("c"))
      .trunkCheckpoint()
    val lft = bi.groupBy($"w1")
      .agg(sum($"c").as("c1"), count(lit(1)).as("n1p"))
    val rgt = bi.groupBy($"w2").agg(count(lit(1)).as("ncont"))
    val glob = bi.agg(count(lit(1)).as("t"))
      .crossJoin(train.select(explode($"toks").as("w"))
        .agg(countDistinct($"w").as("v")))
    val hp = pairs(held)
    val scored = hp.select($"w1", $"w2").distinct()
      .join(bi, Seq("w1", "w2"), "left")
      .join(lft, Seq("w1"), "left")
      .join(rgt, Seq("w2"), "left")
      .crossJoin(broadcast(glob))
      .select($"w1", $"w2",
        expr("CAST(round(-1000000.0 * ln(CAST(CASE WHEN c1 IS NULL" +
          " THEN coalesce(ncont, 0) + 1" +
          " ELSE greatest(4 * coalesce(c, 0) - 3, 0) * (t + v) +" +
          " 3 * n1p * (coalesce(ncont, 0) + 1) END AS DOUBLE) /" +
          " CAST(CASE WHEN c1 IS NULL THEN t + v" +
          " ELSE 4 * c1 * (t + v) END AS DOUBLE))) AS BIGINT)")
          .as("nlp_u"))
    hp.join(scored, Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_pairs"), sum($"nlp_u").as("s_u"))
      .select($"doc_id", $"n_pairs",
        expr("s_u div n_pairs").as("mean_kn_nll_micro"))
  }

  // ------------------------------------- q316 1-D energy distance

  /** q316 — exact energy distance between the URGENT / non-URGENT
    * order-value distributions: E = 2·E|X−Y| − E|X−X′| − E|Y−Y′| (the
    * rotation-free two-sample statistic next to q307's W1 and q192's
    * KS). No pair is ever enumerated: on the value grid, the ordered-
    * pair sum Σ|a−b| with b<a is Σ_v n_A(v)·(v·C_B(v) − S_B(v)) over
    * exclusive cumulative counts AND value-sums — ONE
    * [[graft.functions.ScaleWindows.rangeCumSums]] pass carries all
    * four prefix series. Numerators are exact longs; the one-row E
    * quantizes once. */
  val energyDistance: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val grid = Tables(s, dir, "orders")
      .select(when($"o_orderpriority" === "1-URGENT", 1).otherwise(2)
        .as("g"), round($"o_totalprice" * 100).cast("long").as("v"))
      .groupBy($"v")
      .agg(sum(when($"g" === 1, 1L).otherwise(0L)).as("n1"),
        sum(when($"g" === 2, 1L).otherwise(0L)).as("n2"))
      .withColumn("w1", $"n1" * $"v").withColumn("w2", $"n2" * $"v")
    val cum = ScaleWindows.rangeCumSums(grid, Seq($"v"),
      Seq(col("n1") -> "e1", col("n2") -> "e2",
        col("w1") -> "s1", col("w2") -> "s2"))
    // pair-sum numerators exceed int64 at 10× the bench SF (each term
    // fits a long; the SUM does not): carried as DECIMAL(38,0) — exact,
    // order-independent adds, same integers at any SF that fits both
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val one = cum.agg(
      sum($"n1").as("m1"), sum($"n2").as("m2"),
      sum(dec($"n1" * ($"v" * $"e2" - $"s2"))).as("l12"),
      sum(dec($"n2" * ($"v" * $"e1" - $"s1"))).as("l21"),
      sum(dec($"n1" * ($"v" * $"e1" - $"s1"))).as("l11"),
      sum(dec($"n2" * ($"v" * $"e2" - $"s2"))).as("l22"))
    // r7 integral finish: E·10⁶ is round(10⁶·N/D) of the EXACT rational
    // N = 2a·m1·m2 − b·m2² − c·m1², D = m1²·m2² — quotient + half-up
    // remainder correction, all in decimal(38,0) / integral `div`, so
    // NO double enters the plan and the value is bit-stable under any
    // partitioning (energy distance ≥ 0 ⇒ N ≥ 0, so unsigned half-up
    // is exact). The exact numerators ship as STRINGS: a decimal128
    // output column is the one type the round-6 gate hashed
    // differently across engines even at equal values.
    one.select($"m1", $"m2",
        dec($"l12" + $"l21").as("a_num"),
        dec(lit(2L) * $"l11").as("b_num"),
        dec(lit(2L) * $"l22").as("c_num"))
      .select($"m1", $"m2", $"a_num", $"b_num", $"c_num",
        expr("CAST(2 * a_num * m1 * m2 - b_num * m2 * m2 -" +
          " c_num * m1 * m1 AS DECIMAL(38,0))").as("nprime"),
        expr("CAST(CAST(m1 AS DECIMAL(38,0)) * m1 * m2 * m2" +
          " AS DECIMAL(38,0))").as("den"))
      .select($"m1", $"m2",
        $"a_num".cast("string").as("a_num"),
        $"b_num".cast("string").as("b_num"),
        $"c_num".cast("string").as("c_num"),
        expr("CAST(1000000 * (nprime div den) +" +
          " (2000000 * (nprime % den) + den) div (2 * den)" +
          " AS BIGINT)").as("energy_micro_cents"))
  }

  // --------------------------------- q317 link-prediction battery

  /** q317 — the classic link-prediction score battery (common
    * neighbors, Jaccard, preferential attachment) for unlinked part
    * pairs on the co-order graph — the diverse-lens complement of
    * q215's single Adamic-Adar score (Liben-Nowell & Kleinberg 2003).
    * Same scale stance as q215: wedge candidates route ONLY through
    * nodes with deg ∈ [2, 64] (the Σdeg² cap — a declared part of the
    * operator contract, mirrored by the oracle), while Jaccard/PA use
    * the node's FULL degree; existing edges leave via anti-join;
    * top-20 via TakeOrderedAndProject. Jaccard is an integral micro
    * division of exact longs. */
  val linkPrediction: Q = (s, dir) => {
    import s.implicits._
    val e = GraphTrunk.coOrderEdges(s, dir) // shared trunk checkpoint
    val und = e.select($"u".as("w"), $"v".as("n"))
      .unionByName(e.select($"v".as("w"), $"u".as("n")))
    val deg = GraphTrunk.coOrderDegrees(s, dir)
      .select($"nid".as("w"), $"d")
    val mid = deg.filter($"d" >= 2 && $"d" <= 64).select($"w")
    val capped = und.join(mid, Seq("w"))
    val sc = capped.as("a")
      .join(capped.as("b"), $"a.w" === $"b.w" && $"a.n" < $"b.n")
      .select($"a.n".as("n1"), $"b.n".as("n2"))
      .groupBy($"n1", $"n2").agg(count(lit(1)).as("n_common"))
    sc.join(e, sc("n1") === e("u") && sc("n2") === e("v"), "left_anti")
      .join(deg.select($"w".as("n1"), $"d".as("d1")), Seq("n1"))
      .join(deg.select($"w".as("n2"), $"d".as("d2")), Seq("n2"))
      .select($"n1", $"n2", $"n_common", $"d1", $"d2",
        expr("(1000000 * n_common) div (d1 + d2 - n_common)")
          .as("jaccard_micro"),
        ($"d1" * $"d2").as("pa_score"))
      .orderBy($"jaccard_micro".desc, $"n_common".desc, $"n1".asc,
        $"n2".asc)
      .limit(20)
  }

  // ------------------------------------ q318 harmonic centrality

  /** q318 — harmonic centrality from a landmark set (Boldi & Vigna
    * 2014's centrality, in its standard landmark approximation): per
    * node, Σ_landmarks 1/d(l, v) over the supplier⇄part bipartite
    * graph within 3 hops, seeded at the two lowest supplier keys
    * (q107's SF-robust seed). Each BFS round is ONE frontier⇄edge
    * equi-join plus an anti-join against the visited set, all keyed on
    * node id with the landmark id carried — per-landmark distances in
    * the same bounded unroll the q107 multi-source BFS uses; the
    * unbounded fixpoint lives in GraphKernels.bfsHops. Reciprocals
    * are integral micro divisions summed as exact longs. */
  val harmonicCentrality: Q = (s, dir) => {
    import s.implicits._
    val e0 = GraphTrunk.suppPartEdges(s, dir)
    val edges = e0.unionByName(
      e0.select($"dst".as("src"), $"src".as("dst")))
    val d0 = Tables(s, dir, "supplier").filter($"s_suppkey" <= 2)
      .select($"s_suppkey".as("lm"), $"s_suppkey".as("node_id"))
    def expand(frontier: DataFrame, visited: DataFrame): DataFrame =
      edges.join(frontier.select($"lm", $"node_id".as("src")),
          Seq("src"))
        .select($"lm", $"dst".as("node_id")).distinct()
        .join(visited, Seq("lm", "node_id"), "left_anti")
    // per-hop checkpoints (q107's fix applied here too): each frontier
    // is read by the next expand, the visited anti-join and the final
    // union — O(frontier) rows each
    val d1 = expand(d0, d0).trunkCheckpoint()
    val v1 = d0.unionByName(d1)
    val d2 = expand(d1, v1).trunkCheckpoint()
    val d3 = expand(d2, v1.unionByName(d2))
    d1.select($"lm", $"node_id", lit(1L).as("hops"))
      .unionByName(d2.select($"lm", $"node_id", lit(2L).as("hops")))
      .unionByName(d3.select($"lm", $"node_id", lit(3L).as("hops")))
      .groupBy($"node_id")
      .agg(count(lit(1)).as("n_landmarks"),
        sum(expr("1000000 div hops")).as("h_micro"))
      .orderBy($"h_micro".desc, $"node_id".asc)
      .limit(30)
  }

  // ------------------------------------------ q319 ridge path (2D)

  /** q319 — ridge regression path in closed form: o_totalprice
    * regressed on customer balance and order recency at four
    * regularization strengths, the 2-predictor normal equations
    * inverted symbolically (det / adjugate — no iterative solver, no
    * feature matrix materialized). All moment sums are exact
    * decimal(38,0) in ONE scan; λ is scaled to the centered-moment
    * trace so the path is unit-free at any SF; the 4-row λ fan-out is
    * a broadcast literal frame and every coefficient is a quantized
    * double over exact integers (fixed op order, mirrored in the
    * oracle). Complements q211's unregularized OLS and q247's GD
    * logistic. */
  val ridgePath: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer").select($"c_custkey", $"c_acctbal"),
        $"o_custkey" === $"c_custkey")
      .select(round($"c_acctbal" * 100).cast("long").as("x1"),
        datediff(to_date($"o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("x2"),
        round($"o_totalprice" * 100).cast("long").as("y"))
    val m = rows.agg(count(lit(1)).as("n"),
      sum(dec($"x1")).as("sx1"), sum(dec($"x2")).as("sx2"),
      sum(dec($"y")).as("sy"),
      sum(dec($"x1") * dec($"x1")).as("q11"),
      sum(dec($"x2") * dec($"x2")).as("q22"),
      sum(dec($"x1") * dec($"x2")).as("q12"),
      sum(dec($"x1") * dec($"y")).as("q1y"),
      sum(dec($"x2") * dec($"y")).as("q2y"))
    val lam = s.range(0, 4).select($"id".cast("int").as("k"),
      element_at(array(lit(0.0), lit(0.001), lit(0.01), lit(0.1)),
        ($"id" + 1).cast("int")).as("rel"))
    // centered moments in mirrored double ops (decimal division would
    // diverge from DuckDB's float `/` on HUGEINT)
    val cent = m.select($"n", $"sx1", $"sx2", $"sy",
      expr("CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) *" +
        " CAST(sx1 AS DOUBLE) / n").as("s11"),
      expr("CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) *" +
        " CAST(sx2 AS DOUBLE) / n").as("s22"),
      expr("CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) *" +
        " CAST(sx2 AS DOUBLE) / n").as("s12"),
      expr("CAST(q1y AS DOUBLE) - CAST(sx1 AS DOUBLE) *" +
        " CAST(sy AS DOUBLE) / n").as("s1y"),
      expr("CAST(q2y AS DOUBLE) - CAST(sx2 AS DOUBLE) *" +
        " CAST(sy AS DOUBLE) / n").as("s2y"))
    lam.crossJoin(broadcast(cent))
      .withColumn("l", $"rel" * ($"s11" + $"s22") / lit(2.0))
      .withColumn("det",
        ($"s11" + $"l") * ($"s22" + $"l") - $"s12" * $"s12")
      .withColumn("b1",
        (($"s22" + $"l") * $"s1y" - $"s12" * $"s2y") / $"det")
      .withColumn("b2",
        (($"s11" + $"l") * $"s2y" - $"s12" * $"s1y") / $"det")
      .select($"k", $"n",
        expr("CAST(round(1000000.0 * b1) AS BIGINT)").as("b1_micro"),
        expr("CAST(round(1000000.0 * b2) AS BIGINT)").as("b2_micro"),
        expr("CAST(round((CAST(sy AS DOUBLE) / n -" +
          " b1 * (CAST(sx1 AS DOUBLE) / n) -" +
          " b2 * (CAST(sx2 AS DOUBLE) / n)) * 100) AS BIGINT)")
          .as("intercept_hundredths"))
      .orderBy($"k".asc)
  }

  // ----------------------------------------- q320 Hurst exponent

  /** q320 — Hurst exponent of daily revenue by rescaled-range (R/S)
    * analysis at block sizes 16/64/256 (Hurst 1951; Mandelbrot &
    * Wallis 1969): the long-memory probe next to q181's ACF and
    * q295's seasonal strength. The series index is the ORDERED day
    * rank (sparse calendars keep full blocks) from the scale-safe
    * [[graft.functions.ScaleWindows.rangeCumSum]]; within-block
    * cumulative deviations use the q183 trick — devs scaled by m so
    * they stay exact longs (m·x − Σx), making R exact and
    * R/S = R_scaled/√(m·Σx² − (Σx)²) one deterministic double per
    * block, quantized per BLOCK before the per-m mean. The final
    * slope over the three (ln m, ln mean-R/S) points is a pinned
    * 3-point closed form (q313's convention). */
  val hurstExponent: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "orders")
      .groupBy(datediff(to_date($"o_orderdate"),
        lit("1995-01-01").cast("date")).as("d"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("x"))
    val ranked = ScaleWindows.rangeCumSum(daily, Seq($"d"), lit(1L), "rk")
    val ms = s.range(0, 3).select(
      element_at(array(lit(16), lit(64), lit(256)),
        ($"id" + 1).cast("int")).cast("long").as("m"))
    // blocks pinned (O(days×3)): read by the block-stat census AND the
    // within-block deviation window — lazy, the rangeCumSum post-
    // exchange rank arithmetic re-ran per branch. perM likewise feeds
    // both the 3-point pin row and the final report.
    val blocks = ranked.crossJoin(broadcast(ms))
      .select($"m", expr("rk div m").as("blk"), $"rk", $"d", $"x")
      .trunkCheckpoint()
    val bstat = blocks.groupBy($"m", $"blk")
      .agg(count(lit(1)).as("cnt"), sum($"x").as("sx"),
        sum(dec($"x") * dec($"x")).as("qx"))
      .filter($"cnt" === $"m")
    val wb = Window.partitionBy($"m", $"blk").orderBy($"rk")
    val dev = blocks.join(bstat, Seq("m", "blk"))
      .withColumn("z", sum($"m" * $"x" - $"sx").over(wb))
    val rs = dev.groupBy($"m", $"blk", $"sx", $"qx")
      .agg((max($"z") - min($"z")).as("r"))
      .filter(expr("CAST(m AS DOUBLE) * CAST(qx AS DOUBLE) -" +
        " CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0"))
      .select($"m", $"blk",
        expr("CAST(round(1000000.0 * (CAST(r AS DOUBLE) /" +
          " sqrt(CAST(m AS DOUBLE) * CAST(qx AS DOUBLE) -" +
          " CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))) AS BIGINT)")
          .as("rs_micro"))
    val perM = rs.groupBy($"m")
      .agg(count(lit(1)).as("n_blocks"),
        expr("sum(rs_micro) div count(1)").as("mean_rs_micro"))
      .trunkCheckpoint()
    val pins = perM.agg(
      sum(when($"m" === 16, $"mean_rs_micro")).as("y1"),
      sum(when($"m" === 64, $"mean_rs_micro")).as("y2"),
      sum(when($"m" === 256, $"mean_rs_micro")).as("y3"))
    // ln(m) spacing is uniform (ln 4 steps), so the 3-point LS slope
    // reduces to (ln y3 − ln y1) / (2 ln 4) — pinned scalar form
    val hurst = pins.select(
      expr("CAST(round(1000000.0 *" +
        " (ln(CAST(y3 AS DOUBLE)) - ln(CAST(y1 AS DOUBLE))) /" +
        " (2.0 * ln(4.0))) AS BIGINT)").as("hurst_micro"))
    perM.crossJoin(broadcast(hurst))
      .select($"m", $"n_blocks", $"mean_rs_micro", $"hurst_micro")
      .orderBy($"m".asc)
  }

  // ------------------------------------ q321 Rocchio feedback loop

  /** q321 — pseudo-relevance feedback (Rocchio 1971 over lexical
    * scores): round 0 ranks by the q91 BM25 (3 seed terms), the top-5
    * docs vote their highest-lift terms, the top-3 NEW terms join the
    * query at β = 1/2 weight, round 1 re-ranks. No collect: the
    * feedback terms are a 3-row frame (broadcast), scoring joins stay
    * keyed on term, and the doc-frequency stats come from the
    * vocabulary-sized frame the inverted-index family already uses.
    * Term lift and scores quantize per (doc, term) to micro before
    * exact sums; every tie breaks on (term, doc_id). */
  val rocchioFeedback: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.TextOps
    val seeds = Seq("spark", "query", "hash")
    val idx = Tables(s, dir, "documents")
      .select($"doc_id", posexplode(TextOps.tokens($"text")))
      .select($"doc_id", $"col".as("term"))
    // tf pinned: the collapsed doc-term frame is read FIVE times (df,
    // doc census, round-0 scoring, expansion, round-1 scoring) — lazy,
    // each re-ran the corpus explode + groupBy. idf pinned likewise
    // (vocab-bounded, read by all three scoring branches).
    val tf = idx.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .trunkCheckpoint()
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val nd = tf.select($"doc_id").distinct().agg(count(lit(1)).as("n"))
    val seedFrame = s.createDataFrame(
      seeds.map(Tuple1.apply)).toDF("term")
    // round-0 score: idf_micro per term (vocab frame), tf saturation
    val idf = df.crossJoin(broadcast(nd))
      .select($"term", $"df",
        expr("CAST(round(1000000.0 * ln(1.0 +" +
          " (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))) AS BIGINT)")
          .as("idf_micro"))
      .trunkCheckpoint()
    val score0 = tf.join(broadcast(seedFrame), Seq("term"))
      .join(idf, Seq("term"))
      .groupBy($"doc_id")
      .agg(sum(expr("(tf * idf_micro) div (tf + 1)")).as("s0"))
    val top5 = score0
      .orderBy($"s0".desc, $"doc_id".asc).limit(5)
      .select($"doc_id")
    // expansion: highest idf-weighted tf terms inside the top-5 docs,
    // excluding the seeds
    val expand = tf.join(broadcast(top5), Seq("doc_id"))
      .join(broadcast(seedFrame), Seq("term"), "left_anti")
      .groupBy($"term").agg(sum($"tf").as("reltf"))
      .join(idf, Seq("term"))
      .select($"term", ($"reltf" * $"idf_micro").as("lift"))
      .orderBy($"lift".desc, $"term".asc).limit(3)
      .select($"term", lit(1L).as("half"))
    val qterms = seedFrame.select($"term", lit(0L).as("half"))
      .unionByName(expand)
    val score1 = tf.join(broadcast(qterms), Seq("term"))
      .join(idf, Seq("term"))
      .groupBy($"doc_id")
      .agg(sum(expr("((tf * idf_micro) div (tf + 1)) div (1 + half)"))
        .as("rocchio_micro"))
    score1.orderBy($"rocchio_micro".desc, $"doc_id".asc).limit(10)
      .select($"doc_id", $"rocchio_micro")
  }

  // ------------------------------------------- q322 Grubbs outlier

  /** q322 — Grubbs' maximum-studentized-deviate test on daily
    * revenue: G = max|x − x̄|/s with the arg-max day (the single-
    * outlier complement of q180's MAD fence and q116's z-scores).
    * Deviations stay exact by the q183 scaling (n·x − Σx); the
    * arg-max resolves by (|dev| desc, day asc) on the O(days) frame;
    * G quantizes once from exact longs and decimal moments. */
  val grubbsTest: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("x"))
    val m = daily.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
      sum(dec($"x") * dec($"x")).as("qx"))
    val dev = daily.crossJoin(broadcast(m))
      .select($"day", $"x", $"n", $"sx", $"qx",
        abs($"n" * $"x" - $"sx").as("adev"))
      .orderBy($"adev".desc, $"day".asc).limit(1)
    dev.select($"day", $"x", $"n",
      expr("CAST(round(1000000.0 * (CAST(adev AS DOUBLE) / n) /" +
        " sqrt((CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) *" +
        " CAST(sx AS DOUBLE) / n) / (n - 1))) AS BIGINT)")
        .as("g_micro"))
  }

  // --------------------------------------------- q323 Cochran's Q

  /** q323 — Cochran's Q over the users × 5-event-type binary matrix
    * with the within-subject outcome "is this type strictly above the
    * user's own mean activity?" — the k-related-proportions test
    * beside q244's McNemar (k = 2) and q261's Friedman (ordinal). The
    * above-own-mean design guarantees informative rows at EVERY scale
    * factor (an any-occurrence outcome saturates to all-success once
    * users average a few events per type, leaving Q literally 0/0);
    * all-success rows cannot occur (not every type can exceed the
    * mean) and zero-variation rows drop, per the standard convention.
    * FULLY exact integer arithmetic:
    * Q = (k−1)·(k·ΣCj² − (ΣCj)²) / (k·ΣRi − ΣRi²), one micro
    * division at the end; the flags never materialize a dense matrix
    * beyond the per-user conditional-sum row. */
  val cochranQ: Q = (s, dir) => {
    import s.implicits._
    val types = Seq("click", "view", "purchase", "signup", "error")
    val cnt = types.zipWithIndex.map { case (t, i) =>
      sum(when($"event_type" === t, 1L).otherwise(0L)).as(s"n$i")
    }
    val pu = Tables(s, dir, "events")
      .groupBy($"user_id").agg(cnt.head, cnt.tail: _*)
      .withColumn("tot", (0 until 5).map(i => col(s"n$i")).reduce(_ + _))
    val fl = (0 until 5).foldLeft(pu) { (d, i) =>
      d.withColumn(s"f$i",
        when(col(s"n$i") * 5 > $"tot", 1L).otherwise(0L))
    }.withColumn("r", (0 until 5).map(i => col(s"f$i")).reduce(_ + _))
    val inf = fl.filter($"r" >= 1)
    val aggs = Seq(count(lit(1)).as("n_users"), sum($"r").as("sr"),
      sum($"r" * $"r").as("srr")) ++
      (0 until 5).map(i => sum(col(s"f$i")).as(s"c$i"))
    val one = inf.agg(aggs.head, aggs.tail: _*)
    one.select($"n_users", $"sr", $"srr",
        (0 until 5).map(i => col(s"c$i")).reduce(_ + _).as("sc"),
        (0 until 5).map(i => col(s"c$i") * col(s"c$i"))
          .reduce(_ + _).as("scc"))
      .select($"n_users", $"sr", $"srr", $"sc", $"scc",
        expr("CAST((1000000 * 4 * (5 * scc - sc * sc))" +
          " div (5 * sr - srr) AS BIGINT)").as("q_micro"))
  }

  // -------------------------------- q324 polynomial-kernel MMD²

  /** q324 — maximum mean discrepancy between URGENT and non-URGENT
    * order values under the degree-2 polynomial kernel
    * k(x,y) = (1 + xy/c)² (Gretton et al. 2012). The kernel
    * DECOMPOSES INTO MOMENTS — E[k] over a product distribution is
    * 1 + 2μ_xμ_y/c + E[x²]E[y²]/c² — so the O(n²) kernel matrix
    * collapses to first/second moments per group: ONE aggregation
    * scan, no pair join at any scale (the kernel-trick mirror of
    * q316's sorted-grid trick for the energy distance). c = 10⁸
    * (squared cents scale); exact decimal moments, one quantized
    * double on the one-row frame. */
  val polyKernelMmd: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = Tables(s, dir, "orders")
      .select(when($"o_orderpriority" === "1-URGENT", 1).otherwise(2)
        .as("g"), round($"o_totalprice" * 100).cast("long").as("v"))
      .groupBy($"g")
      .agg(count(lit(1)).as("n"), sum(dec($"v")).as("s"),
        sum(dec($"v") * dec($"v")).as("q"))
    val one = m.agg(
      sum(when($"g" === 1, $"n")).as("n1"),
      sum(when($"g" === 2, $"n")).as("n2"),
      sum(when($"g" === 1, $"s".cast("double"))).as("s1"),
      sum(when($"g" === 2, $"s".cast("double"))).as("s2"),
      sum(when($"g" === 1, $"q".cast("double"))).as("q1"),
      sum(when($"g" === 2, $"q".cast("double"))).as("q2"))
    one.select($"n1", $"n2",
      expr("CAST(round(1000000.0 * (" +
        "(1.0 + 2.0 * (s1 / n1) * (s1 / n1) / 100000000.0 +" +
        " (q1 / n1) * (q1 / n1) / 10000000000000000.0) +" +
        " (1.0 + 2.0 * (s2 / n2) * (s2 / n2) / 100000000.0 +" +
        " (q2 / n2) * (q2 / n2) / 10000000000000000.0) -" +
        " 2.0 * (1.0 + 2.0 * (s1 / n1) * (s2 / n2) / 100000000.0 +" +
        " (q1 / n1) * (q2 / n2) / 10000000000000000.0)))" +
        " AS BIGINT)").as("mmd2_micro"))
  }

  // ----------------------------------------- q325 readability card

  /** q325 — Flesch-Kincaid-style readability per source: grade ≈
    * 0.39·words/sentences + 11.8·syllables/words − 15.59, with
    * syllables approximated as maximal vowel runs and sentences as
    * [.!?] runs — the shallow-parse text-quality lens next to q29's
    * ratio card and q45's repetition score. All three counts are
    * exact per-document integers (shared regex dialect with the
    * q28/X13 family); the grade quantizes to milli per DOCUMENT
    * before the per-source integral mean. */
  val readability: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.TextOps
    val base = Tables(s, dir, "documents")
      .select($"source",
        size(TextOps.tokens($"text")).cast("long").as("words"),
        size(filter(split(lower($"text"), "[^aeiou]+"),
          x => x =!= "")).cast("long").as("syl"),
        greatest(size(filter(split($"text", "[.!?]+"),
          x => length(trim(x)) > 0)), lit(1)).cast("long").as("sents"))
      .filter($"words" > 0)
      .select($"source",
        expr("CAST(round(1000.0 * (0.39 * (CAST(words AS DOUBLE) /" +
          " sents) + 11.8 * (CAST(syl AS DOUBLE) / words) - 15.59))" +
          " AS BIGINT)").as("fk_milli"))
    base.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(fk_milli) div count(1)").as("mean_fk_milli"))
      .orderBy($"source".asc)
  }

  // ------------------------------------- q326 James-Stein shrinkage

  /** q326 — James-Stein shrinkage of per-source mean document length
    * toward the grand mean (Efron & Morris 1975's "batting averages"
    * estimator — the empirical-Bayes fix for noisy small-group means
    * that a mixture planner reads instead of raw per-source stats).
    * Shrinkage factor c = max(0, 1 − (k−3)·(σ²/n̄)/S) with σ² the
    * pooled within-source variance and S the between-source squared
    * deviation sum — the classic equal-allocation form, documented as
    * such. Group moments are exact (decimal squares); the k-row
    * shrink pass quantizes per source. */
  val jamesStein: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = Tables(s, dir, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("nj"), sum($"n_chars").as("sj"),
        sum(dec($"n_chars") * dec($"n_chars")).as("qj"))
    // within-source SS quantizes per SOURCE (k-row frame) before the
    // exact long sum — never a cross-partition double sum
    val tot = g.agg(count(lit(1)).as("k"), sum($"nj").as("n"),
      sum($"sj").as("st"),
      sum(expr("CAST(round(1000000.0 * (CAST(qj AS DOUBLE) -" +
        " CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE) / nj)) AS BIGINT)"))
        .as("ssw_micro"))
    val means = g.crossJoin(broadcast(tot))
      .select($"source", $"nj", $"k", $"n", $"ssw_micro",
        expr("CAST(sj AS DOUBLE) / nj").as("xb"),
        expr("CAST(st AS DOUBLE) / n").as("gm"))
    val btw = means.agg(
      sum(expr("CAST(round(1000000.0 * (xb - gm) * (xb - gm))" +
        " AS BIGINT)")).as("s_micro"))
    means.crossJoin(broadcast(btw))
      .select($"source", $"nj", $"xb", $"gm",
        expr("CAST(round(1000.0 * xb) AS BIGINT)").as("raw_mean_milli"),
        expr("CAST(round(1000000.0 * greatest(0.0, 1.0 -" +
          " (k - 3) * (((CAST(ssw_micro AS DOUBLE) / 1000000.0) /" +
          " (n - k)) / (CAST(n AS DOUBLE) / k)) /" +
          " (CAST(s_micro AS DOUBLE) / 1000000.0))) AS BIGINT)")
          .as("shrink_micro"))
      .select($"source", $"nj", $"raw_mean_milli", $"shrink_micro",
        expr("CAST(round(1000.0 * (gm + (CAST(shrink_micro AS DOUBLE)" +
          " / 1000000.0) * (xb - gm))) AS BIGINT)")
          .as("shrunk_mean_milli"))
      .orderBy($"source".asc)
  }

  // ------------------------------- q327 Mahalanobis outliers (2-D)

  /** q327 — Mahalanobis-distance outliers in the (order value,
    * customer balance) plane: d² = (x−μ)ᵀΣ⁻¹(x−μ) with the 2×2
    * covariance inverted symbolically (det/adjugate — q319's trick on
    * the second-moment side), the correlation-aware upgrade of q116's
    * per-axis z-scores. ONE moment scan (exact decimal sums) → one
    * broadcast row; scoring is map-only; top-15 via
    * TakeOrderedAndProject. */
  val mahalanobisOutliers: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal"), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey",
        round($"o_totalprice" * 100).cast("long").as("x"),
        round($"c_acctbal" * 100).cast("long").as("y"))
    val m = rows.agg(count(lit(1)).as("n"),
      sum(dec($"x")).as("sx"), sum(dec($"y")).as("sy"),
      sum(dec($"x") * dec($"x")).as("qxx"),
      sum(dec($"y") * dec($"y")).as("qyy"),
      sum(dec($"x") * dec($"y")).as("qxy"))
    val cov = m.select($"n",
      expr("CAST(sx AS DOUBLE) / n").as("mx"),
      expr("CAST(sy AS DOUBLE) / n").as("my"),
      expr("(CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE) *" +
        " CAST(sx AS DOUBLE) / n) / (n - 1)").as("vxx"),
      expr("(CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) *" +
        " CAST(sy AS DOUBLE) / n) / (n - 1)").as("vyy"),
      expr("(CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) *" +
        " CAST(sy AS DOUBLE) / n) / (n - 1)").as("vxy"))
    rows.crossJoin(broadcast(cov))
      .select($"o_orderkey",
        expr("CAST(round(1000.0 * ((x - mx) * (vyy * (x - mx) -" +
          " vxy * (y - my)) + (y - my) * (vxx * (y - my) -" +
          " vxy * (x - mx))) / (vxx * vyy - vxy * vxy)) AS BIGINT)")
          .as("d2_milli"))
      .orderBy($"d2_milli".desc, $"o_orderkey".asc)
      .limit(15)
  }

  // ------------------------------------ q328 shard balance audit

  /** q328 — token-weighted balance audit of the q220 rendezvous
    * sharding: per-shard token mass, coefficient of variation, and
    * max/mean skew — the numbers a placement review actually gates on
    * (doc counts can balance while token mass skews). Assignment is
    * the same stateless 8-hash argmax (zero shuffle until the 8-row
    * census); CV quantizes once on the one-row frame; max/mean is the
    * exact integer cross-multiply max·k vs total. */
  val shardBalance: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.{Hashing, TextOps}
    val structs = (0 until 8).map(i =>
      struct(Hashing.hash60(concat(lit(s"rv|$i|"),
        $"doc_id".cast("string"))).as("h"), lit(i).as("shard")))
    val perShard = Tables(s, dir, "documents")
      .select(greatest(structs: _*).getField("shard").as("shard"),
        size(TextOps.tokens($"text")).cast("long").as("toks"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("t"))
    perShard.agg(count(lit(1)).as("n_shards"), sum($"t").as("tot"),
        min($"t").as("min_toks"), max($"t").as("max_toks"),
        sum($"t".cast("decimal(19,0)") * $"t".cast("decimal(19,0)"))
          .as("qt"))
      .select($"n_shards", $"tot", $"min_toks", $"max_toks",
        expr("CAST(round(1000000.0 * sqrt(CAST(qt AS DOUBLE) /" +
          " n_shards - (CAST(tot AS DOUBLE) / n_shards) *" +
          " (CAST(tot AS DOUBLE) / n_shards)) /" +
          " (CAST(tot AS DOUBLE) / n_shards)) AS BIGINT)")
          .as("cv_micro"),
        expr("CAST((1000000 * max_toks * n_shards) div tot AS BIGINT)")
          .as("maxmean_micro"))
  }

  // ------------------------------------------- q329 SPRT stopping

  /** q329 — sequential probability ratio test (Wald 1945) replay over
    * the enrollment order: arm-B users (q199's hash split) tested for
    * conversion at H1 p=0.5 vs H0 p=0.4, log-likelihood ratio
    * accumulated user-by-user with ±ln 19 boundaries (α = β = 0.05) —
    * the always-valid sequential complement of q189's fixed-horizon
    * test. Per-subject LLR is one of TWO integer constants (micro-
    * nats), so the cumulative path is an exact
    * [[graft.functions.ScaleWindows.rangeCumSums]] prefix sum over
    * the (enroll day, user) total order, and the first boundary
    * crossing is a plain min-aggregate over the crossed rows — no
    * sequential scan, no driver loop. */
  val sprtStopping: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.{Hashing, ScaleWindows}
    val perUser = Tables(s, dir, "events")
      .groupBy($"user_id")
      .agg(min(to_date($"ts")).as("d0"),
        max(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("conv"))
      .filter(Hashing.hash60(concat(lit("ab|"),
        $"user_id".cast("string"))) % 2 === 1)
    // micro-nat LLR constants: ln(0.5/0.4), ln(0.5/0.6)
    val scored = perUser.select($"d0", $"user_id", $"conv",
      when($"conv" === 1, lit(223144L)).otherwise(lit(-182322L))
        .as("llr"))
    val cum = ScaleWindows.rangeCumSums(scored,
      Seq($"d0", $"user_id"),
      Seq(col("llr") -> "e_llr", lit(1L) -> "idx"))
      .withColumn("c_llr", $"e_llr" + $"llr")
    val tot = cum.agg(count(lit(1)).as("n_subjects"),
      sum($"conv").as("n_converts"), sum($"llr").as("final_llr_micro"))
    val cross = cum.filter(abs($"c_llr") >= 2944439L)
      .agg(min(struct(($"idx" + 1).as("i"),
        signum($"c_llr").cast("long").as("dir"))).as("first"))
      .select($"first.i".as("stop_index"),
        $"first.dir".as("decision"))
    tot.crossJoin(cross)
      .select($"n_subjects", $"n_converts", $"final_llr_micro",
        $"stop_index", $"decision")
  }

  // ------------------------------------- q330 Nelson-Aalen hazard

  /** q330 — Nelson–Aalen cumulative-hazard estimator over the q198
    * time-to-first-purchase data: H(t) = Σ_{u≤t} d_u/n_u, the
    * estimator read next to Kaplan-Meier when hazard RATES (not
    * survival fractions) drive the decision. Same histogram + risk-set
    * machinery (one rangeCumSums for the risk set, one rangeCumSum
    * for the running hazard); each d/n term is an integral micro
    * division, so the cumulative sum is exact. */
  val nelsonAalen: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val e = Tables(s, dir, "events")
      .select($"user_id", to_date($"ts").as("day"), $"event_type")
    val perUser = e.groupBy($"user_id").agg(
      min($"day").as("d0"), max($"day").as("dlast"),
      min(when($"event_type" === "purchase", $"day")).as("dp"))
    val subj = perUser.select(
      when($"dp".isNotNull, datediff($"dp", $"d0"))
        .otherwise(datediff($"dlast", $"d0")).as("t"),
      when($"dp".isNotNull, 1L).otherwise(0L).as("death"))
    val hist = subj.groupBy($"t")
      .agg(sum($"death").as("d"), sum(lit(1L) - $"death").as("c"))
    val tot = hist.agg((sum($"d") + sum($"c")).as("n0"))
    val risk = ScaleWindows
      .rangeCumSums(hist, Seq($"t".asc), Seq(col("d") -> "cd",
        col("c") -> "cc"))
      .crossJoin(broadcast(tot))
      .select($"t", $"d", ($"n0" - $"cd" - $"cc").as("n"))
      .filter($"d" > 0)
      .withColumn("h_micro", expr("(1000000 * d) div n"))
    ScaleWindows.rangeCumSum(risk, Seq($"t".asc), $"h_micro", "ch")
      .select($"t", $"n".as("n_risk"), $"d".as("deaths"), $"h_micro",
        ($"ch" + $"h_micro").as("cum_hazard_micro"))
  }

  // -------------------------------- q331 LM interpolation sweep

  /** q331 — deleted-interpolation weight sweep (Jelinek & Mercer
    * 1980): held-out NLL of the mixture λ·P_bigram + (1−λ)·P_unigram
    * (both add-one smoothed) at λ ∈ {0.1, 0.3, 0.5, 0.7, 0.9} — the
    * tuning run between q227's fixed bigram model and q315's KN. λ
    * stays the rational k/10, so the mixture is the EXACT integer
    * fraction (k·nb·du + (10−k)·nu·db) / (10·db·du); one ln per
    * (held-out bigram type × λ) quantizes to micro-nats, and per-λ
    * totals are exact long sums over the instance frame. The 5-λ
    * fan-out is a broadcast literal frame. */
  val interpolationSweep: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.TextOps
    def pairs(df: DataFrame) = df.select($"doc_id", explode(transform(
        when(size($"toks") >= 2, sequence(lit(1), size($"toks") - 1))
          .otherwise(array().cast("array<int>")),
        i => struct(element_at($"toks", i).as("w1"),
          element_at($"toks", i + 1).as("w2")))).as("pr"))
      .select($"doc_id", $"pr.w1".as("w1"), $"pr.w2".as("w2"))
    val tok = Tables(s, dir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
    val train = tok.filter($"doc_id" % 2 === 0)
    val held = tok.filter($"doc_id" % 2 =!= 0)
    // bi/uni pinned (vocab-bounded; the q227/q315/q236 fix): each is
    // read by a rollup AND the score join, re-running the train
    // explode per read
    val bi = pairs(train).groupBy($"w1", $"w2")
      .agg(count(lit(1)).as("cb"))
      .trunkCheckpoint()
    val lft = bi.groupBy($"w1").agg(sum($"cb").as("c1"))
    val uni = train.select(explode($"toks").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cu"))
      .trunkCheckpoint()
    val glob = uni.agg(count(lit(1)).as("v"), sum($"cu").as("ttok"))
    val lam = s.range(0, 5).select(($"id" * 2 + 1).cast("long").as("k"))
    val hp = pairs(held)
    val scored = hp.select($"w1", $"w2").distinct()
      .join(bi, Seq("w1", "w2"), "left")
      .join(lft, Seq("w1"), "left")
      .join(uni.select($"w".as("w2"), $"cu"), Seq("w2"), "left")
      .crossJoin(broadcast(glob))
      .crossJoin(broadcast(lam))
      .select($"w1", $"w2", $"k",
        expr("CAST(round(-1000000.0 * ln(" +
          "CAST(k * (coalesce(cb, 0) + 1) * (ttok + v) +" +
          " (10 - k) * (coalesce(cu, 0) + 1) *" +
          " (coalesce(c1, 0) + v) AS DOUBLE) /" +
          " CAST(10 * (coalesce(c1, 0) + v) * (ttok + v)" +
          " AS DOUBLE))) AS BIGINT)").as("nlp_u"))
    hp.join(scored, Seq("w1", "w2"))
      .groupBy($"k")
      .agg(count(lit(1)).as("n_pairs"), sum($"nlp_u").as("s_u"))
      .select($"k", $"n_pairs",
        expr("s_u div n_pairs").as("mean_nll_micro"))
      .orderBy($"k".asc)
  }

  // ------------------------------------------ q332/q333 raking (IPF)

  /** The raked cell frame shared by q332/q333: iterative proportional
    * fitting (Deming & Stephan 1940) of the order count over the
    * region × priority grid toward independent target margins (region
    * shares from the CUSTOMER dim, priority shares from orders). All
    * weights live on the nano grid (Σw = 1e9): the update
    * w ← (w·target) div current keeps every product under
    * 1e9·1e9 < 2^63 at ANY scale factor, and truncation is identical
    * in Spark `div`, Java `/`, DuckDB `//`. Three full iterations
    * (six half-steps) as chained joins on the O(cells) frame — the
    * fact table is touched ONCE (the counting shuffle); IPF itself
    * never leaves broadcast size. */
  private def rakedCells(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val S = 1000000000L
    // localCheckpoint: every IPF step below branches the running frame
    // into a marginal groupBy AND a join — without truncation the base
    // scan's lineage re-executes once per BRANCH, doubling per step
    // (2^6 recomputes across 3 iterations; measured 5.7 s at sf0.1 for
    // a 25-row computation). The checkpoint pins the 25-row frame so
    // each step costs two tiny local jobs.
    val cells = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", ($"c_nationkey" % 5).as("r")),
        $"o_custkey" === $"c_custkey")
      .groupBy($"r", $"o_orderpriority".as("p"))
      .agg(count(lit(1)).as("n"))
      .trunkCheckpoint()
    val nTot = cells.agg(sum($"n").as("nn"))
    val rowT = Tables(s, dir, "customer")
      .groupBy(($"c_nationkey" % 5).as("r"))
      .agg(count(lit(1)).as("cr"))
    val rowTot = rowT.agg(sum($"cr").as("cc"))
    val tr = rowT.crossJoin(broadcast(rowTot))
      .select($"r", expr(s"(cr * ${S}L) div cc").as("tr"))
    val tc = cells.groupBy($"p").agg(sum($"n").as("np"))
      .crossJoin(broadcast(nTot))
      .select($"p", expr(s"(np * ${S}L) div nn").as("tc"))
    val w0 = cells.crossJoin(broadcast(nTot))
      .select($"r", $"p", $"n", expr(s"(n * ${S}L) div nn").as("w"))
    def rowStep(d: DataFrame): DataFrame = {
      val rs = d.groupBy($"r").agg(sum($"w").as("rs"))
      d.join(broadcast(rs), Seq("r")).join(broadcast(tr), Seq("r"))
        .select($"r", $"p", $"n", expr("(w * tr) div rs").as("w"))
        .trunkCheckpoint()
    }
    def colStep(d: DataFrame): DataFrame = {
      val cs = d.groupBy($"p").agg(sum($"w").as("cs"))
      d.join(broadcast(cs), Seq("p")).join(broadcast(tc), Seq("p"))
        .select($"r", $"p", $"n", expr("(w * tc) div cs").as("w"))
        .trunkCheckpoint()
    }
    (1 to 3).foldLeft(w0.trunkCheckpoint())((d, _) => colStep(rowStep(d)))
  }

  /** q332 — survey raking: the per-cell calibrated weights after 3
    * IPF iterations, with each cell's weight-to-count ratio (the
    * per-cell calibration factor a downstream sampler applies). */
  val raking: Q = (s, dir) => {
    import s.implicits._
    rakedCells(s, dir)
      .select($"r", $"p", $"n", $"w".as("w_nano"),
        expr("w div n").as("factor_nano"))
      .orderBy($"r".asc, $"p".asc)
  }

  /** q333 — raked-weight diagnostics: Kish effective sample size
    * ESS = (Σ n·f)² / Σ n·f² over per-ROW calibration factors f (the
    * design-effect readout a weighting step must publish before
    * anyone trains on the weights). Exact: per-cell f is the nano
    * long from q332; the moment sums use decimal squares; one
    * quantized division at the end. */
  val weightDiagnostics: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = rakedCells(s, dir)
      .select($"r", $"p", $"n", expr("w div n").as("f"))
    cells.agg(sum($"n").as("n_rows"), count(lit(1)).as("n_cells"),
        min($"f").as("min_f_nano"), max($"f").as("max_f_nano"),
        sum(dec($"n") * dec($"f")).as("sw"),
        sum(dec($"n") * dec($"f") * dec($"f")).as("sww"))
      .select($"n_rows", $"n_cells", $"min_f_nano", $"max_f_nano",
        expr("CAST(round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) /" +
          " CAST(sww AS DOUBLE)) AS BIGINT)").as("ess"),
        expr("CAST(round(1000000.0 * n_rows * CAST(sww AS DOUBLE) /" +
          " (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))) AS BIGINT)")
          .as("deff_micro"))
  }

  // -------------------------------- q334 Mantel-Haenszel odds ratio

  /** q334 — Mantel–Haenszel pooled odds ratio of conversion (arm B vs
    * arm A) stratified by region — the confounder-adjusted effect
    * estimate read when per-stratum tables are too thin for separate
    * ORs (the stratified companion of q189/q271). Per-stratum 2×2
    * cells come from ONE user-keyed aggregate + one counting shuffle;
    * the two MH sums quantize per STRATUM (micro, O(regions) rows)
    * before the exact ratio. Users without a region (none here) would
    * drop; the hash arm split is q199's. */
  val mantelHaenszel: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Hashing
    // outcome: purchase-HEAVY user (5·purchases > events) — the
    // any-purchase outcome saturates to all-success at tiny SF where
    // few heavy users hold all events (the q323 lesson)
    val users = Tables(s, dir, "events")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("ne"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("np"))
      .select($"user_id",
        when($"np" * 5 > $"ne", 1L).otherwise(0L).as("conv"),
        (Hashing.hash60(concat(lit("ab|"), $"user_id".cast("string")))
          % 2).as("arm"),
        ($"user_id" % 5).as("stratum"))
    val cells = users.groupBy($"stratum").agg(
      sum(when($"arm" === 1 && $"conv" === 1, 1L).otherwise(0L)).as("a"),
      sum(when($"arm" === 1 && $"conv" === 0, 1L).otherwise(0L)).as("b"),
      sum(when($"arm" === 0 && $"conv" === 1, 1L).otherwise(0L)).as("c"),
      sum(when($"arm" === 0 && $"conv" === 0, 1L).otherwise(0L)).as("d"))
    val terms = cells
      .select($"stratum", ($"a" + $"b" + $"c" + $"d").as("n"),
        $"a", $"b", $"c", $"d")
      .select(
        expr("(1000000 * a * d) div n").as("num_micro"),
        expr("(1000000 * b * c) div n").as("den_micro"))
      .agg(count(lit(1)).as("n_strata"), sum($"num_micro").as("num"),
        sum($"den_micro").as("den"))
    terms.select($"n_strata", $"num".as("sum_ad_micro"),
      $"den".as("sum_bc_micro"),
      expr("(1000000 * num) div greatest(den, 1)").as("or_mh_micro"))
  }

  // ----------------------------------------- q335 MDE / power card

  /** q335 — minimum detectable effect card for the A/B split: at the
    * observed arm sizes and pooled conversion rate, the two-sided
    * α = 0.05, power = 0.8 MDE in absolute and relative terms —
    * the pre-registration readout published BEFORE an experiment
    * reads q189/q329. One exact counting pass; the z constants
    * (1.96, 0.8416) fold to literals so both engines evaluate the
    * identical double tree on the one-row frame. */
  val mdePower: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Hashing
    val users = Tables(s, dir, "events")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("ne"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("np"))
      .select(when($"np" * 5 > $"ne", 1L).otherwise(0L).as("conv"),
        (Hashing.hash60(concat(lit("ab|"), $"user_id".cast("string")))
          % 2).as("arm"))
    users.agg(
        sum(when($"arm" === 0, 1L).otherwise(0L)).as("na"),
        sum(when($"arm" === 1, 1L).otherwise(0L)).as("nb"),
        sum($"conv").as("nc"))
      .select($"na", $"nb", $"nc",
        expr("CAST((1000000 * nc) div (na + nb) AS BIGINT)")
          .as("pooled_rate_micro"),
        expr("CAST(round(1000000.0 * (1.96 + 0.8416) * sqrt(" +
          "(CAST(nc AS DOUBLE) / (na + nb)) *" +
          " (1.0 - CAST(nc AS DOUBLE) / (na + nb)) *" +
          " (1.0 / na + 1.0 / nb))) AS BIGINT)").as("mde_abs_micro"))
      .select($"na", $"nb", $"nc", $"pooled_rate_micro",
        $"mde_abs_micro",
        expr("(1000000 * mde_abs_micro) div" +
          " greatest(pooled_rate_micro, 1)").as("mde_rel_micro"))
  }

  // ----------------------------------- q337 Burrows' Delta stylometry

  /** q337 — Burrows' Delta (Burrows 2002) between sources: each
    * source's relative frequency of the corpus's top-30 words
    * z-scored per WORD across sources, Delta = mean |z₁ − z₂| — the
    * authorship/style distance matrix read next to q221's vocabulary
    * Jaccard and q233's passage overlap. The corpus is touched once
    * (the word-count shuffle); the dense source × word frame is
    * O(sources·30) with missing cells as EXACT zeros via the fan-out
    * join; z quantizes per CELL (micro) so pair sums are exact longs.
    * Top-30 selection ties break on the word string. */
  val burrowsDelta: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.TextOps
    val words = Tables(s, dir, "documents")
      .select($"source", explode(TextOps.tokens($"text")).as("w"))
    // ONE corpus explode: top-30, per-source totals and per-cell counts
    // all derive from the (source, w) count frame — identical values
    // (Σc over sources = global word count; Σc over words = source
    // token count) — where the three original consumers each re-ran
    // the tokenize + explode. Vocab×sources-bounded, cheap to pin.
    val swc = words.groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      .trunkCheckpoint()
    val top = swc.groupBy($"w").agg(sum($"c").as("n"))
      .orderBy($"n".desc, $"w".asc).limit(30).select($"w")
    val totals = swc.groupBy($"source").agg(sum($"c").as("nt"))
    val cnt = swc.join(broadcast(top), Seq("w"))
      .select($"source", $"w", $"c")
    val dense = totals.crossJoin(broadcast(top))
      .join(cnt, Seq("source", "w"), "left")
      .select($"source", $"w",
        expr("(1000000 * coalesce(c, 0)) div nt").as("f"))
    val stats = dense.groupBy($"w")
      .agg(count(lit(1)).as("k"), sum($"f").as("sf"),
        sum($"f" * $"f").as("qf"))
      .select($"w",
        expr("CAST(sf AS DOUBLE) / k").as("mu"),
        expr("sqrt((CAST(qf AS DOUBLE) - CAST(sf AS DOUBLE) *" +
          " CAST(sf AS DOUBLE) / k) / (k - 1))").as("sd"))
    // z checkpointed: O(sources × 30) rows, self-joined below
    val z = dense.join(broadcast(stats), Seq("w"))
      .select($"source", $"w",
        expr("CAST(round(1000000.0 * (f - mu) / sd) AS BIGINT)")
          .as("z"))
      .trunkCheckpoint()
    z.as("a").join(z.as("b"),
        $"a.w" === $"b.w" && $"a.source" < $"b.source")
      .select($"a.source".as("s1"), $"b.source".as("s2"),
        abs($"a.z" - $"b.z").as("dz"))
      .groupBy($"s1", $"s2")
      .agg(count(lit(1)).as("n_words"), sum($"dz").as("sdz"))
      .select($"s1", $"s2", $"n_words",
        expr("(sdz div n_words) div 1000").as("delta_milli"))
      .orderBy($"s1".asc, $"s2".asc)
  }

  // ---------------------------------------- q338 Ljung-Box Q test

  /** q338 — Ljung-Box portmanteau test on daily revenue at lags 1–5:
    * Q = n(n+2)·Σ r_k²/(n−k), the is-it-white-noise gate run on
    * residuals before trusting any forecast (complements q181's raw
    * ACF and q298's runs test). Lag correlations come from the q313
    * moment machinery (exact decimal sums, one double per lag); the
    * 5-term sum is a PINNED expression chain on the one-row frame. */
  val ljungBox: Q = (s, dir) => {
    import s.implicits._
    val daily = Tables(s, dir, "orders")
      .groupBy(datediff(to_date($"o_orderdate"),
        lit("1995-01-01").cast("date")).as("d"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
    val nDays = daily.agg(count(lit(1)).as("nd"))
    val lags = s.range(1, 6).select($"id".cast("int").as("lag"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rs = daily.as("a").crossJoin(broadcast(lags))
      .join(daily.as("b"), col("b.d") === col("a.d") + $"lag")
      .select($"lag", col("a.cents").as("x"), col("b.cents").as("y"))
      .groupBy($"lag")
      .agg(count(lit(1)).as("n"),
        sum(dec($"x")).as("sx"), sum(dec($"y")).as("sy"),
        sum(dec($"x") * dec($"y")).as("sxy"),
        sum(dec($"x") * dec($"x")).as("sxx"),
        sum(dec($"y") * dec($"y")).as("syy"))
      .select($"lag",
        (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) /
          sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double"))).as("r"))
    val pinCols = (1 to 5).map(k =>
      sum(when($"lag" === k, $"r")).as(s"r$k"))
    val pins = rs.agg(pinCols.head, pinCols.tail: _*)
    val terms = (1 to 5).map(k =>
      s"r$k * r$k / (CAST(nd AS DOUBLE) - $k)").mkString(" + ")
    pins.crossJoin(broadcast(nDays))
      .select($"nd".as("n_days"),
        expr(s"CAST(round(1000.0 * CAST(nd AS DOUBLE) * (nd + 2) *" +
          s" ($terms)) AS BIGINT)").as("q_lb_milli"))
  }

  // ------------------------------------------ q339 Lorenz deciles

  /** q339 — Lorenz curve decile table of order values: each revenue
    * decile's exact cent mass and cumulative share (the tabular
    * companion of q171's Gini scalar — "the top decile holds X% of
    * revenue"). Deciles come from the scale-safe
    * [[graft.functions.ScaleWindows.rangeNtile]] over the
    * (cents, orderkey) total order; the cumulative pass is a
    * rangeCumSum on the 10-row frame; shares are integral micro
    * divisions of exact longs. */
  val lorenzDeciles: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val base = Tables(s, dir, "orders")
      .select($"o_orderkey",
        round($"o_totalprice" * 100).cast("long").as("v"))
    val tiled = ScaleWindows.rangeNtile(base, 10,
      Seq($"v", $"o_orderkey"), "decile")
    // 10-row collapsed census, read by the total AND the cumsum —
    // un-pinned, each consumer re-ran rangeNtile's corpus-sized
    // window+join arithmetic past its internal checkpoint (r11 audit,
    // the r10 count-frame class)
    val per = tiled.groupBy($"decile")
      .agg(count(lit(1)).as("n_orders"), sum($"v").as("decile_cents"))
      .trunkCheckpoint()
    val tot = per.agg(sum($"decile_cents").as("t"))
    ScaleWindows.rangeCumSum(per, Seq($"decile"), $"decile_cents", "e")
      .crossJoin(broadcast(tot))
      .select($"decile", $"n_orders", $"decile_cents",
        ($"e" + $"decile_cents").as("cum_cents"),
        // divide by (t div 1e6) rather than multiply by 1e6: exact to
        // 1e-6 relative and overflow-free at ANY corpus size
        expr("(e + decile_cents) div (t div 1000000)")
          .as("cum_share_micro"))
      .orderBy($"decile".asc)
  }

  // --------------------------------- q340 propensity-stratified ATE

  /** q340 — propensity-score stratification (Rosenbaum & Rubin 1984):
    * the effect of URGENT priority on order value, adjusted for
    * customer balance and order recency. The propensity is the
    * CLOSED-FORM linear probability model (q319's det/adjugate
    * normal-equation solve at λ=0 — no iterative fit, documented LPM
    * choice), scores stratify into quintiles via
    * [[graft.functions.ScaleWindows.rangeNtile]], and the ATE is the
    * stratum-size-weighted mean difference with every term quantized
    * per STRATUM. One moment scan + one score pass + one 10-cell
    * aggregate; the 1e6·n_s·diff products hold to ~1e12 rows (noted
    * for the 100 TB path: lift to decimal there). */
  val propensityAte: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal"), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey",
        when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L)
          .as("t"),
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
    val cent = m.select($"n", $"sx1", $"sx2", $"st",
      expr("CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) *" +
        " CAST(sx1 AS DOUBLE) / n").as("s11"),
      expr("CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) *" +
        " CAST(sx2 AS DOUBLE) / n").as("s22"),
      expr("CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) *" +
        " CAST(sx2 AS DOUBLE) / n").as("s12"),
      expr("CAST(q1t AS DOUBLE) - CAST(sx1 AS DOUBLE) *" +
        " CAST(st AS DOUBLE) / n").as("s1t"),
      expr("CAST(q2t AS DOUBLE) - CAST(sx2 AS DOUBLE) *" +
        " CAST(st AS DOUBLE) / n").as("s2t"))
      .select($"n", $"sx1", $"sx2", $"st",
        expr("(s22 * s1t - s12 * s2t) / (s11 * s22 - s12 * s12)")
          .as("b1"),
        expr("(s11 * s2t - s12 * s1t) / (s11 * s22 - s12 * s12)")
          .as("b2"))
    val scored = rows.crossJoin(broadcast(cent))
      .select($"o_orderkey", $"t", $"y",
        expr("CAST(round(CAST(st AS DOUBLE) / n +" +
          " b1 * (x1 - CAST(sx1 AS DOUBLE) / n) +" +
          " b2 * (x2 - CAST(sx2 AS DOUBLE) / n)) AS BIGINT)")
          .as("p_micro"))
    val tiled = ScaleWindows.rangeNtile(scored, 5,
      Seq($"p_micro", $"o_orderkey"), "stratum")
    val cells = tiled.groupBy($"stratum")
      .agg(sum(when($"t" === 1, 1L).otherwise(0L)).as("n1"),
        sum(when($"t" === 0, 1L).otherwise(0L)).as("n0"),
        sum(when($"t" === 1, $"y").otherwise(0L)).as("y1"),
        sum(when($"t" === 0, $"y").otherwise(0L)).as("y0"))
      .select($"stratum", $"n1", $"n0",
        expr("y1 div greatest(n1, 1)").as("m1_cents"),
        expr("y0 div greatest(n0, 1)").as("m0_cents"))
    val ate = cells
      .agg(sum(expr("(1000000 * (n1 + n0) *" +
        " (m1_cents - m0_cents))")).as("wsum"),
        sum($"n1" + $"n0").as("ntot"))
      .select(expr("wsum div (1000000 * ntot)").as("ate_cents"))
    cells.crossJoin(broadcast(ate))
      .orderBy($"stratum".asc)
  }

  // ------------------------------------- q341 GPD tail fit (PWM)

  /** q341 — generalized-Pareto tail fit of order values above the
    * 95th percentile, by probability-weighted moments (Hosking &
    * Wallis 1987): k̂ = b0/(b0−2b1) − 2, α̂ = 2b0b1/(b0−2b1) — the
    * parametric tail model beyond q251's Hill index (which assumes
    * k < 0 power tails; PWM also covers bounded tails). The threshold
    * is the exact 19/20 vigintile fence from
    * [[graft.functions.ScaleWindows.rangeNtile]]; rank weights
    * (r−1)·x come from rangeCumSum over the (excess, orderkey) total
    * order, so B1 is an EXACT long and both parameters are one-row
    * quantized doubles over exact integers. */
  val gpdTail: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val base = Tables(s, dir, "orders")
      .select($"o_orderkey",
        round($"o_totalprice" * 100).cast("long").as("v"))
    val tiled = ScaleWindows.rangeNtile(base, 20,
      Seq($"v", $"o_orderkey"), "vig")
    val tail = tiled.filter($"vig" === 20)
    val u = tail.agg(min($"v").as("u"))
    val exc = tail.crossJoin(broadcast(u))
      .select($"o_orderkey", ($"v" - $"u").as("x"), $"u")
    val ranked = ScaleWindows.rangeCumSum(exc,
      Seq($"x", $"o_orderkey"), lit(1L), "e")
    ranked.agg(count(lit(1)).as("n"), first($"u").as("u_cents"),
        sum($"x").as("b0n"), sum($"e" * $"x").as("b1n"))
      .select($"n", $"u_cents",
        expr("b0n div n").as("b0_cents"),
        expr("CAST(round(1000000.0 * (CAST(b0n AS DOUBLE) * (n - 1) /" +
          " (CAST(b0n AS DOUBLE) * (n - 1) - 2.0 * b1n) - 2.0))" +
          " AS BIGINT)").as("k_micro"),
        expr("CAST(round(2.0 * (CAST(b0n AS DOUBLE) / n) *" +
          " (CAST(b1n AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))) /" +
          " (CAST(b0n AS DOUBLE) / n - 2.0 * CAST(b1n AS DOUBLE) /" +
          " (CAST(n AS DOUBLE) * (n - 1)))) AS BIGINT)")
          .as("sigma_cents"))
  }

  // ------------------------------------------ q342 Tukey HSD pairs

  /** q342 — Tukey's honestly-significant-difference post-hoc over the
    * five priority groups (the pairwise follow-up q253's ANOVA omnibus
    * requires before naming a winner): every group pair's mean
    * difference against the HSD fence q·√(MSW/2·(1/nᵢ+1/nⱼ)), with
    * q = 3.858 (the k = 5, ν→∞ studentized-range critical value,
    * folded to a literal so both engines walk one double tree).
    * Group moments are exact decimals from ONE scan; the pair frame
    * is O(k²) = 10 rows. */
  val tukeyHsd: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = Tables(s, dir, "orders")
      .select($"o_orderpriority".as("grp"),
        round($"o_totalprice" * 100).cast("long").as("v"))
      .groupBy($"grp")
      .agg(count(lit(1)).as("nj"), sum($"v").as("sj"),
        sum(dec($"v") * dec($"v")).as("qj"))
    // per-group SS quantizes at UNIT cents² (micro would overflow
    // int64 — SS ~ n·var ~ 3e17 already at sf0.01)
    // the per-group rounded SS exceeds int64 at 10× the bench SF:
    // carry it as DECIMAL(38,0) (same integer values, no overflow)
    val msw = g.agg(sum($"nj").as("n"), count(lit(1)).as("k"),
        sum(expr("CAST(round(CAST(qj AS DOUBLE) -" +
          " CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE) / nj)" +
          " AS DECIMAL(38,0))")).as("ssw"))
      .select($"n", $"k",
        expr("CAST(ssw AS DOUBLE) / (n - k)").as("msw"))
    val means = g.select($"grp", $"nj",
      expr("sj div nj").as("mean_cents"))
    means.as("a").join(broadcast(means.as("b")), $"a.grp" < $"b.grp")
      .crossJoin(broadcast(msw))
      .select($"a.grp".as("g1"), $"b.grp".as("g2"),
        ($"a.mean_cents" - $"b.mean_cents").as("diff_cents"),
        expr("CAST(round(3.858 * sqrt(msw / 2.0 *" +
          " (1.0 / a.nj + 1.0 / b.nj))) AS BIGINT)").as("hsd_cents"))
      .select($"g1", $"g2", $"diff_cents", $"hsd_cents",
        (abs($"diff_cents") > $"hsd_cents").cast("int")
          .as("significant"))
      .orderBy($"g1".asc, $"g2".asc)
  }

  // ---------------------------------------- q343 A/A calibration

  /** q343 — A/A negative-control test: the q199-style hash split on a
    * DIFFERENT salt ("aa|") compared on order values with the q189
    * two-sample z — by construction there is NO effect, so |z| gates
    * the testing stack itself (the experimentation calibration check
    * run before any real readout is trusted; q270's SRM is the
    * assignment-side twin). Exact moments per arm in one scan; the
    * one-row z mirrors q189's double tree; the output carries the
    * |z| < 3 verdict bit. */
  val aaCalibration: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.Hashing
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = Tables(s, dir, "orders")
      .select((Hashing.hash60(concat(lit("aa|"),
        $"o_orderkey".cast("string"))) % 2).as("arm"),
        round($"o_totalprice" * 100).cast("long").as("v"))
      .groupBy($"arm")
      .agg(count(lit(1)).as("n"), sum(dec($"v")).as("s"),
        sum(dec($"v") * dec($"v")).as("q"))
    val one = m.agg(
      sum(when($"arm" === 0, $"n")).as("n0"),
      sum(when($"arm" === 1, $"n")).as("n1"),
      sum(when($"arm" === 0, $"s".cast("double"))).as("s0"),
      sum(when($"arm" === 1, $"s".cast("double"))).as("s1"),
      sum(when($"arm" === 0, $"q".cast("double"))).as("q0"),
      sum(when($"arm" === 1, $"q".cast("double"))).as("q1"))
    one.select($"n0", $"n1",
        expr("CAST(round(1000.0 * (s0 / n0 - s1 / n1) /" +
          " sqrt((q0 / n0 - (s0 / n0) * (s0 / n0)) / n0 +" +
          " (q1 / n1 - (s1 / n1) * (s1 / n1)) / n1)) AS BIGINT)")
          .as("z_milli"))
      .select($"n0", $"n1", $"z_milli",
        (abs($"z_milli") < 3000L).cast("int").as("calibrated"))
  }

  // ------------------------------------- q344 two-way ANOVA (R×P)

  /** q344 — two-way ANOVA of order value on region × priority with
    * interaction (the factorial extension of q253's one-way F): SS
    * decomposition from ONE cell-moment scan via the unweighted
    * cell-means identities — SSA/SSB from margin means, SSAB as the
    * cell deviation remainder, SSW from within-cell moments. Cell
    * SS quantize at unit cents² per CELL (25 rows, the q342
    * convention); means are exact integral divisions carried in
    * doubles only on the O(cells) frame; the three F ratios are one
    * quantized double row. Margin sums use the weighted-means
    * decomposition (equals the textbook Type-I under balance),
    * documented as the operator's contract. */
  val twoWayAnova: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", ($"c_nationkey" % 5).as("r")),
        $"o_custkey" === $"c_custkey")
      .select($"r", $"o_orderpriority".as("p"),
        round($"o_totalprice" * 100).cast("long").as("v"))
      .groupBy($"r", $"p")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"),
        sum(dec($"v") * dec($"v")).as("qv"))
      // pinned: the ≤25-row cell table feeds tot, both margins and the
      // cell-SS pass — lazy, the orders⋈customer rollup ran 4×
      .trunkCheckpoint()
    // cell/margin SS values exceed int64 at 10× the bench SF (a single
    // cell's SSW already overflows the cast): quantize on the same unit
    // grid but carry every SS as DECIMAL(38,0)
    val tot = cells.agg(sum($"n").as("nn"), sum($"sv").as("st"),
      count(lit(1)).as("nc"),
      sum(expr("CAST(round(CAST(qv AS DOUBLE) -" +
        " CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n)" +
        " AS DECIMAL(38,0))")).as("ssw"))
    val ra = cells.groupBy($"r").agg(sum($"n").as("na"),
      sum($"sv").as("sa"))
    val pb = cells.groupBy($"p").agg(sum($"n").as("nb"),
      sum($"sv").as("sb"))
    val ssa = ra.crossJoin(broadcast(tot))
      .select(expr("CAST(round(na * (CAST(sa AS DOUBLE) / na -" +
        " CAST(st AS DOUBLE) / nn) * (CAST(sa AS DOUBLE) / na -" +
        " CAST(st AS DOUBLE) / nn)) AS DECIMAL(38,0))").as("t"))
      .agg(sum($"t").as("ssa"), count(lit(1)).as("ka"))
    val ssb = pb.crossJoin(broadcast(tot))
      .select(expr("CAST(round(nb * (CAST(sb AS DOUBLE) / nb -" +
        " CAST(st AS DOUBLE) / nn) * (CAST(sb AS DOUBLE) / nb -" +
        " CAST(st AS DOUBLE) / nn)) AS DECIMAL(38,0))").as("t"))
      .agg(sum($"t").as("ssb"), count(lit(1)).as("kb"))
    val ssc = cells.crossJoin(broadcast(tot))
      .select(expr("CAST(round(n * (CAST(sv AS DOUBLE) / n -" +
        " CAST(st AS DOUBLE) / nn) * (CAST(sv AS DOUBLE) / n -" +
        " CAST(st AS DOUBLE) / nn)) AS DECIMAL(38,0))").as("t"))
      .agg(sum($"t").as("ssc"))
    // r7 integral finish: each F·10³ is round(N/D) of the exact
    // rational N = 1000·SS_effect·(nn−nc), D = df_effect·ssw — sign-
    // safe half-away-from-zero via integral `div` on decimal(38,0)
    // operands (SSAB can be negative under the weighted decomposition),
    // so no double enters the final tree. SS values ship as STRINGS
    // (decimal128 output columns hash engine-differently in the gate).
    def fMilli(num: String, den: String): Column = expr(
      s"CAST(CASE WHEN ($num) < 0" +
        s" THEN -((-2 * ($num) + ($den)) div (2 * ($den)))" +
        s" ELSE (2 * ($num) + ($den)) div (2 * ($den)) END AS BIGINT)")
    tot.crossJoin(broadcast(ssa)).crossJoin(broadcast(ssb))
      .crossJoin(broadcast(ssc))
      .select($"nn", $"nc", $"ka", $"kb",
        dec($"ssa").as("ssa"), dec($"ssb").as("ssb"),
        dec($"ssc" - $"ssa" - $"ssb").as("ssab"), dec($"ssw").as("ssw"))
      .select($"nn", $"ka", $"kb",
        $"ssa".cast("string").as("ssa"),
        $"ssb".cast("string").as("ssb"),
        $"ssab".cast("string").as("ssab"),
        $"ssw".cast("string").as("ssw"),
        fMilli("1000 * ssa * (nn - nc)", "(ka - 1) * ssw")
          .as("f_a_milli"),
        fMilli("1000 * ssb * (nn - nc)", "(kb - 1) * ssw")
          .as("f_b_milli"),
        fMilli("1000 * ssab * (nn - nc)", "(ka - 1) * (kb - 1) * ssw")
          .as("f_ab_milli"))
  }

  // --------------------------------- q345 Jonckheere-Terpstra test

  /** q345 — Jonckheere–Terpstra trend test: does order value
    * INCREASE along the priority ordering 5-LOW → 1-URGENT? The
    * ordered-alternative rank test (more powerful than q311's
    * omnibus KW when the alternative is monotone). The statistic is
    * the sum of all 10 between-group Mann-Whitney counts — computed
    * EXACTLY on the value grid: doubled pair credit
    * 2·#(xᵢ<xⱼ) + #(ties) = Σ_v nⱼ(v)·(2Eᵢ(v) + nᵢ(v)) from ONE
    * [[graft.functions.ScaleWindows.rangeCumSums]] pass carrying all
    * five per-group exclusive cumulative counts. The z uses the
    * no-tie JT variance (documented; ties are sparse cents here). */
  val jonckheereTerpstra: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.ScaleWindows
    val g = when($"o_orderpriority" === "5-LOW", 1)
      .when($"o_orderpriority" === "4-NOT SPECIFIED", 2)
      .when($"o_orderpriority" === "3-MEDIUM", 3)
      .when($"o_orderpriority" === "2-HIGH", 4).otherwise(5)
    val gcols = (1 to 5).map(j =>
      sum(when($"g" === j, 1L).otherwise(0L)).as(s"n$j"))
    val grid = Tables(s, dir, "orders")
      .select(round($"o_totalprice" * 100).cast("long").as("v"),
        g.as("g"))
      .groupBy($"v").agg(gcols.head, gcols.tail: _*)
    val cum = ScaleWindows.rangeCumSums(grid, Seq($"v"),
      (1 to 5).map(j => col(s"n$j") -> s"e$j"))
    val pairTerms = for (i <- 1 to 5; j <- 1 to 5 if i < j) yield
      sum(col(s"n$j") * (lit(2L) * col(s"e$i") + col(s"n$i")))
        .as(s"u2_${i}_$j")
    val counts = (1 to 5).map(j => sum(col(s"n$j")).as(s"m$j"))
    val one = cum.agg((pairTerms ++ counts).head,
      (pairTerms ++ counts).tail: _*)
    val u2sum = (for (i <- 1 to 5; j <- 1 to 5 if i < j)
      yield col(s"u2_${i}_$j")).reduce(_ + _)
    val nTot = (1 to 5).map(j => col(s"m$j")).reduce(_ + _)
    val sumSq = (1 to 5).map(j => col(s"m$j") * col(s"m$j"))
      .reduce(_ + _)
    val sumSqN = (1 to 5).map(j =>
      col(s"m$j") * col(s"m$j") * (lit(2L) * col(s"m$j") + 3L))
      .reduce(_ + _)
    one.select(u2sum.as("jt2"), nTot.as("n"), sumSq.as("ssq"),
        sumSqN.as("ssqn"))
      .select($"n", $"jt2",
        // z = (JT − μ)/σ with μ = (n² − Σm²)/4 and
        // σ² = (n²(2n+3) − Σm²(2m+3))/72 (no-tie form)
        expr("CAST(round(1000.0 *" +
          " (CAST(jt2 AS DOUBLE) / 2.0 -" +
          " (CAST(n AS DOUBLE) * n - ssq) / 4.0) /" +
          " sqrt((CAST(n AS DOUBLE) * n * (2.0 * n + 3) - ssqn)" +
          " / 72.0)) AS BIGINT)").as("z_milli"))
  }

  // ------------------------------------------------------- registry

  val queries: Map[String, Q] = Map(
    "q301_min_cost_supplier" -> minCostSupplier,
    "q302_important_part_value" -> importantPartValue,
    "q303_top_supplier_revenue" -> topSupplierRevenue,
    "q304_dominant_supplier" -> dominantSupplier,
    "q305_order_priority_check" -> orderPriorityCheck,
    "q306_distribution_distances" -> distributionDistances,
    "q307_wasserstein_1d" -> wasserstein1d,
    "q308_mrr_eval" -> mrrEval,
    "q309_query_likelihood" -> queryLikelihood,
    "q412_err_eval" -> errEval,
    "q422_map_eval" -> mapEval,
    "q310_binary_hamming_ann" -> binaryHammingAnn,
    "q311_kruskal_wallis" -> kruskalWallis,
    "q312_effect_sizes" -> effectSizes,
    "q313_pacf" -> pacf,
    "q314_cronbach_alpha" -> cronbachAlpha,
    "q315_kn_heldout" -> knHeldout,
    "q316_energy_distance" -> energyDistance,
    "q317_link_prediction" -> linkPrediction,
    "q318_harmonic_centrality" -> harmonicCentrality,
    "q319_ridge_path" -> ridgePath,
    "q320_hurst_exponent" -> hurstExponent,
    "q321_rocchio_feedback" -> rocchioFeedback,
    "q322_grubbs_test" -> grubbsTest,
    "q323_cochran_q" -> cochranQ,
    "q324_poly_kernel_mmd" -> polyKernelMmd,
    "q325_readability" -> readability,
    "q326_james_stein" -> jamesStein,
    "q327_mahalanobis_outliers" -> mahalanobisOutliers,
    "q328_shard_balance" -> shardBalance,
    "q329_sprt_stopping" -> sprtStopping,
    "q330_nelson_aalen" -> nelsonAalen,
    "q331_interpolation_sweep" -> interpolationSweep,
    "q332_raking" -> raking,
    "q333_weight_diagnostics" -> weightDiagnostics,
    "q334_mantel_haenszel" -> mantelHaenszel,
    "q335_mde_power" -> mdePower,
    "q337_burrows_delta" -> burrowsDelta,
    "q338_ljung_box" -> ljungBox,
    "q339_lorenz_deciles" -> lorenzDeciles,
    "q340_propensity_ate" -> propensityAte,
    "q341_gpd_tail" -> gpdTail,
    "q342_tukey_hsd" -> tukeyHsd,
    "q343_aa_calibration" -> aaCalibration,
    "q344_two_way_anova" -> twoWayAnova,
    "q345_jonckheere_terpstra" -> jonckheereTerpstra,
  )

  val oracles: Map[String, String] = Map(
    "q301_min_cost_supplier" ->
      """WITH eur AS (SELECT n_nationkey, n_name FROM nation
        |  WHERE n_regionkey = 3),
        |supp AS (SELECT s_suppkey, s_name, n_name,
        |    CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM supplier JOIN eur ON s_nationkey = n_nationkey),
        |pk AS (SELECT p_partkey FROM part WHERE p_size < 10),
        |offers AS (SELECT l_partkey, l_suppkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem JOIN pk ON l_partkey = p_partkey),
        |ps AS (SELECT l_partkey, l_suppkey,
        |    min(cents)::BIGINT AS supp_cents
        |  FROM offers GROUP BY 1, 2),
        |pse AS (SELECT ps.l_partkey, supp_cents, s_suppkey, s_name,
        |    n_name, bal_cents
        |  FROM ps JOIN supp ON l_suppkey = s_suppkey),
        |best AS (SELECT l_partkey, min(supp_cents)::BIGINT AS min_cents
        |  FROM pse GROUP BY 1)
        |SELECT pse.l_partkey AS p_partkey, min_cents, s_suppkey, s_name,
        |  n_name, bal_cents
        |FROM pse JOIN best ON pse.l_partkey = best.l_partkey
        |WHERE supp_cents = min_cents
        |ORDER BY bal_cents DESC, n_name ASC, s_name ASC, p_partkey ASC""".stripMargin,
    "q302_important_part_value" ->
      """WITH ns AS (SELECT s_suppkey FROM supplier WHERE s_nationkey % 5 = 3),
        |v AS (SELECT l_partkey,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
        |      AS value_cents
        |  FROM lineitem JOIN ns ON l_suppkey = s_suppkey
        |  GROUP BY l_partkey),
        |t AS (SELECT sum(value_cents)::BIGINT AS total_cents FROM v)
        |SELECT l_partkey AS p_partkey, value_cents
        |FROM v CROSS JOIN t
        |WHERE value_cents * 1000 > total_cents
        |ORDER BY value_cents DESC, p_partkey ASC""".stripMargin,
    "q303_top_supplier_revenue" ->
      """WITH rev AS (SELECT l_suppkey,
        |    sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |      AS BIGINT))::BIGINT AS rev_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey),
        |mx AS (SELECT max(rev_cents)::BIGINT AS max_rev FROM rev)
        |SELECT s_suppkey, s_name, rev_cents
        |FROM rev CROSS JOIN mx
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_cents = max_rev
        |ORDER BY s_suppkey ASC""".stripMargin,
    "q304_dominant_supplier" ->
      """WITH pk AS (SELECT p_partkey FROM part
        |  WHERE p_brand = 'Brand#21'),
        |sh AS (SELECT l_partkey, l_suppkey,
        |    CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem JOIN pk ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'),
        |ps AS (SELECT l_partkey, l_suppkey, sum(qty)::BIGINT AS sq
        |  FROM sh GROUP BY 1, 2),
        |pt AS (SELECT l_partkey, sum(sq)::BIGINT AS tq
        |  FROM ps GROUP BY 1),
        |dom AS (SELECT l_suppkey, count(*)::BIGINT AS n_parts
        |  FROM ps JOIN pt ON ps.l_partkey = pt.l_partkey
        |  WHERE sq * 10 > tq * 3 GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, n_parts
        |FROM dom JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY s_suppkey ASC""".stripMargin,
    "q305_order_priority_check" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-04-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC""".stripMargin,
    "q306_distribution_distances" ->
      """WITH cnt AS (SELECT event_type,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS n1,
        |    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
        |      AS n2
        |  FROM events GROUP BY event_type),
        |tot AS (SELECT sum(n1)::BIGINT AS t1, sum(n2)::BIGINT AS t2
        |  FROM cnt),
        |terms AS (SELECT
        |    CAST(round(1000000.0 * sqrt(CAST(n1 * n2 AS DOUBLE) /
        |      CAST(t1 * t2 AS DOUBLE))) AS BIGINT) AS bc_term,
        |    abs(n1 * t2 - n2 * t1) AS tv_num
        |  FROM cnt CROSS JOIN tot),
        |agg AS (SELECT count(*)::BIGINT AS n_types,
        |    sum(bc_term)::BIGINT AS bc_micro,
        |    sum(tv_num)::BIGINT AS tv_num FROM terms)
        |SELECT n_types, bc_micro,
        |  CAST(round(1000.0 * sqrt(CAST(greatest(0,
        |    1000000 - bc_micro) AS DOUBLE))) AS BIGINT)
        |    AS hellinger_micro,
        |  CAST(1000000 * tv_num // (2 * t1 * t2) AS BIGINT) AS tv_micro
        |FROM agg CROSS JOIN tot""".stripMargin,
    "q307_wasserstein_1d" ->
      """WITH grid AS (SELECT
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
        |      END)::BIGINT AS n1,
        |    sum(CASE WHEN o_orderpriority <> '1-URGENT' THEN 1 ELSE 0
        |      END)::BIGINT AS n2
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT sum(n1)::BIGINT AS t1, sum(n2)::BIGINT AS t2
        |  FROM grid),
        |cum AS (SELECT v,
        |    coalesce(sum(n1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0)::BIGINT AS e1,
        |    coalesce(sum(n2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0)::BIGINT AS e2,
        |    lag(v) OVER (ORDER BY v) AS prev_v
        |  FROM grid),
        |seg AS (SELECT abs(e1 * t2 - e2 * t1) * (v - prev_v) AS seg
        |  FROM cum CROSS JOIN tot WHERE prev_v IS NOT NULL),
        |agg AS (SELECT sum(seg)::BIGINT AS num FROM seg)
        |SELECT t1, t2, num,
        |  CAST((num // (t1 * t2)) * 1000000 +
        |    (1000000 * (num % (t1 * t2))) // (t1 * t2) AS BIGINT)
        |    AS w1_micro_cents
        |FROM agg CROSS JOIN tot""".stripMargin,
    "q308_mrr_eval" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv,
        |    label AS tl FROM embeddings WHERE vec_id % 10 = 0),
        |rk AS (SELECT q_id, tl, label, row_number() OVER (
        |      PARTITION BY q_id ORDER BY
        |      ${sqlCosCols("embedding", "qv")} DESC, vec_id ASC) AS rank
        |  FROM embeddings CROSS JOIN q WHERE vec_id <> q_id),
        |fr AS (SELECT q_id, min(rank)::BIGINT AS first_rank
        |  FROM rk WHERE rank <= 50 AND label = tl GROUP BY q_id),
        |rr AS (SELECT q.tl, coalesce(1000000 // first_rank, 0)::BIGINT
        |    AS rr_micro
        |  FROM q LEFT JOIN fr ON q.q_id = fr.q_id)
        |SELECT tl AS true_label, count(*)::BIGINT AS n_queries,
        |  sum(rr_micro)::BIGINT AS sum_rr_micro,
        |  CAST(sum(rr_micro)::BIGINT // count(*)::BIGINT AS BIGINT)
        |    AS mrr_micro
        |FROM rr GROUP BY tl""".stripMargin,
    "q412_err_eval" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv,
        |    label AS tl FROM embeddings WHERE vec_id % 10 = 0),
        |rk AS (SELECT q_id, tl, label, vec_id, row_number() OVER (
        |      PARTITION BY q_id ORDER BY
        |      ${sqlCosCols("embedding", "qv")} DESC, vec_id ASC) AS rank
        |  FROM embeddings CROSS JOIN q WHERE vec_id <> q_id),
        |top AS (SELECT q_id, tl, rank,
        |    CASE WHEN label = tl THEN 3
        |      WHEN label % 3 = tl % 3 THEN 1 ELSE 0 END AS qq
        |  FROM rk WHERE rank <= 10),
        |oz AS (SELECT q_id, tl, rank, qq,
        |    coalesce(sum(CASE WHEN qq = 1 THEN 1 ELSE 0 END) OVER w, 0)
        |      ::BIGINT AS o,
        |    coalesce(sum(CASE WHEN qq = 0 THEN 1 ELSE 0 END) OVER w, 0)
        |      ::BIGINT AS z
        |  FROM top
        |  WINDOW w AS (PARTITION BY q_id ORDER BY rank
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |t AS (SELECT q_id, tl, $errTerm AS term_micro FROM oz),
        |per AS (SELECT q_id, tl, sum(term_micro)::BIGINT AS err_q
        |  FROM t GROUP BY 1, 2)
        |SELECT tl AS true_label, count(*)::BIGINT AS n_queries,
        |  sum(err_q)::BIGINT AS sum_err_micro,
        |  CAST(sum(err_q)::BIGINT // count(*)::BIGINT AS BIGINT)
        |    AS err_micro
        |FROM per GROUP BY tl""".stripMargin,
    "q422_map_eval" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv,
        |    label AS tl FROM embeddings WHERE vec_id % 10 = 0),
        |rk AS (SELECT q_id, tl, label, vec_id, row_number() OVER (
        |      PARTITION BY q_id ORDER BY
        |      ${sqlCosCols("embedding", "qv")} DESC, vec_id ASC) AS rank
        |  FROM embeddings CROSS JOIN q WHERE vec_id <> q_id),
        |top AS (SELECT q_id, tl, rank,
        |    CASE WHEN label = tl THEN 1 ELSE 0 END::BIGINT AS rel
        |  FROM rk WHERE rank <= 10),
        |cr AS (SELECT q_id, tl, rank, rel,
        |    sum(rel) OVER (PARTITION BY q_id ORDER BY rank
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      ::BIGINT AS cumrel
        |  FROM top),
        |t AS (SELECT q_id, tl,
        |    CASE WHEN rel = 1 THEN
        |      CAST(round(1000000.0 * cumrel / rank) AS BIGINT)
        |      ELSE 0 END AS term_micro,
        |    rel
        |  FROM cr),
        |per AS (SELECT q_id, tl, sum(term_micro)::BIGINT AS ap_num,
        |    sum(rel)::BIGINT AS r10 FROM t GROUP BY 1, 2),
        |ap AS (SELECT q_id, tl,
        |    CAST(ap_num // greatest(r10, 1) AS BIGINT) AS ap_micro
        |  FROM per)
        |SELECT tl AS true_label, count(*)::BIGINT AS n_queries,
        |  sum(ap_micro)::BIGINT AS sum_ap_micro,
        |  CAST(sum(ap_micro)::BIGINT // count(*)::BIGINT AS BIGINT)
        |    AS map_micro
        |FROM ap GROUP BY tl""".stripMargin,
    "q309_query_likelihood" -> {
      val toks = "list_filter(string_split_regex(lower(text)," +
        " '[^a-z]+'), w -> w <> '')"
      def tf(t: String) =
        s"len(list_filter(toks, w -> w = '$t'))::BIGINT"
      val terms = Seq("spark", "query", "hash")
      val termSql = terms.map(t =>
        s"CAST(round(1000000.0 * ln(CAST(tf_$t * ctot + 2000 * cf_$t" +
          s" AS DOUBLE) / CAST(ctot * (dl + 2000) AS DOUBLE)))" +
          " AS BIGINT)").mkString(" + ")
      s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents),
        |st AS (SELECT sum(len(toks))::BIGINT AS ctot,
        |    ${terms.map(t => s"sum(${tf(t)})::BIGINT AS cf_$t")
          .mkString(", ")}
        |  FROM tk),
        |d AS (SELECT doc_id, len(toks)::BIGINT AS dl,
        |    ${terms.map(t => s"${tf(t)} AS tf_$t").mkString(", ")}
        |  FROM tk)
        |SELECT doc_id, ($termSql)::BIGINT AS ql_micro
        |FROM d CROSS JOIN st
        |ORDER BY ql_micro DESC, doc_id ASC LIMIT 15""".stripMargin
    },
    "q310_binary_hamming_ann" -> {
      val code = "list_sum(list_transform(range(0, 63), i -> CASE " +
        "WHEN embedding[i + 1] > 0.0 THEN (1::BIGINT << i) " +
        "ELSE 0::BIGINT END))::BIGINT"
      s"""WITH coded AS (SELECT vec_id, embedding, $code AS code
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS qv, code AS qcode
        |  FROM coded WHERE vec_id % 25 = 0),
        |ham AS (SELECT q_id, vec_id, embedding,
        |    bit_count(xor(code, qcode))::BIGINT AS ham
        |  FROM coded CROSS JOIN q WHERE vec_id <> q_id),
        |top AS (SELECT q_id, vec_id, embedding, ham, row_number()
        |    OVER (PARTITION BY q_id ORDER BY ham ASC, vec_id ASC)
        |    AS hrank
        |  FROM ham QUALIFY hrank <= 20),
        |rer AS (SELECT top.q_id, vec_id, ham,
        |    ${sqlCosCols("embedding", "qv")} AS cs,
        |    row_number() OVER (PARTITION BY top.q_id ORDER BY
        |      ${sqlCosCols("embedding", "qv")} DESC, vec_id ASC)
        |      AS rank
        |  FROM top JOIN q ON top.q_id = q.q_id QUALIFY rank <= 5)
        |SELECT q_id, rank::BIGINT AS rank, vec_id, ham,
        |  CAST(round(1000000 * cs) AS BIGINT) AS cos_micro
        |FROM rer ORDER BY q_id ASC, rank ASC""".stripMargin
    },
    "q311_kruskal_wallis" -> {
      val sTerms = (1 to 5).map(j =>
        s"CAST(rr$j AS DOUBLE) * rr$j / (4.0 * m$j)").mkString(" + ")
      val gCols = (1 to 5).map(j =>
        s"sum(CASE WHEN g = $j THEN 1 ELSE 0 END)::BIGINT AS n$j")
        .mkString(", ")
      val aggCols = (1 to 5).map(j =>
        s"sum(n$j * r2)::BIGINT AS rr$j, sum(n$j)::BIGINT AS m$j")
        .mkString(", ")
      s"""WITH base AS (SELECT
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    CASE o_orderpriority WHEN '1-URGENT' THEN 1
        |      WHEN '2-HIGH' THEN 2 WHEN '3-MEDIUM' THEN 3
        |      WHEN '4-NOT SPECIFIED' THEN 4 ELSE 5 END AS g
        |  FROM orders),
        |grid AS (SELECT v, $gCols, count(*)::BIGINT AS nv
        |  FROM base GROUP BY v),
        |cum AS (SELECT *, coalesce(sum(nv) OVER (ORDER BY v ROWS
        |    BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |    AS e FROM grid),
        |r AS (SELECT *, 2 * e + nv + 1 AS r2 FROM cum),
        |one AS (SELECT $aggCols, sum(nv)::BIGINT AS n,
        |    sum(nv * nv * nv - nv)::BIGINT AS ties FROM r),
        |h AS (SELECT n, ties,
        |    CAST(round(1000.0 * (12.0 * ($sTerms) /
        |      (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1)))
        |      AS BIGINT) AS h_milli FROM one)
        |SELECT n, ties, h_milli,
        |  CAST(round(CAST(h_milli AS DOUBLE) *
        |    (CAST(n AS DOUBLE) * n * n - n) /
        |    (CAST(n AS DOUBLE) * n * n - n - ties)) AS BIGINT)
        |    AS h_corr_milli
        |FROM h""".stripMargin
    },
    "q312_effect_sizes" ->
      """WITH base AS (SELECT CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN 1 ELSE 2 END AS g,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |grid AS (SELECT v,
        |    sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN g = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
        |    sum(CASE WHEN g = 1 THEN v ELSE 0 END)::BIGINT AS s1v,
        |    sum(CASE WHEN g = 2 THEN v ELSE 0 END)::BIGINT AS s2v,
        |    sum(CASE WHEN g = 1 THEN v * v ELSE 0 END) AS q1v,
        |    sum(CASE WHEN g = 2 THEN v * v ELSE 0 END) AS q2v
        |  FROM base GROUP BY v),
        |cum AS (SELECT *,
        |    coalesce(sum(n1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0)::BIGINT AS e1,
        |    coalesce(sum(n2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0)::BIGINT AS e2
        |  FROM grid),
        |one AS (SELECT sum(n1)::BIGINT AS m1, sum(n2)::BIGINT AS m2,
        |    sum(s1v)::BIGINT AS sum1, sum(s2v)::BIGINT AS sum2,
        |    sum(q1v) AS ss1, sum(q2v) AS ss2,
        |    sum(n1 * e2)::BIGINT AS gt, sum(n2 * e1)::BIGINT AS lt
        |  FROM cum)
        |SELECT m1, m2, gt, lt,
        |  CAST((1000000 * (gt - lt)) // (m1 * m2) AS BIGINT)
        |    AS cliffs_micro,
        |  CAST(round(1000000.0 *
        |    (CAST(sum1 AS DOUBLE) / m1 - CAST(sum2 AS DOUBLE) / m2) /
        |    sqrt(((CAST(ss1 AS DOUBLE) -
        |    CAST(sum1 AS DOUBLE) * sum1 / m1) +
        |    (CAST(ss2 AS DOUBLE) - CAST(sum2 AS DOUBLE) * sum2 / m2)) /
        |    (m1 + m2 - 2))) AS BIGINT) AS cohens_d_micro
        |FROM one""".stripMargin,
    "q313_pacf" ->
      """WITH daily AS (SELECT
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE)) AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |p AS (SELECT l.lag AS lag, a.cents::HUGEINT AS x,
        |    b.cents::HUGEINT AS y
        |  FROM (SELECT unnest(range(1, 4))::INTEGER AS lag) l
        |  JOIN daily a ON true
        |  JOIN daily b ON b.d = a.d + l.lag),
        |s AS (SELECT lag, count(*)::BIGINT AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM p GROUP BY lag),
        |r AS (SELECT lag,
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |      / sqrt(CAST(n * syy - sy * sy AS DOUBLE)) AS r
        |  FROM s),
        |one AS (SELECT sum(CASE WHEN lag = 1 THEN r END) AS r1,
        |    sum(CASE WHEN lag = 2 THEN r END) AS r2,
        |    sum(CASE WHEN lag = 3 THEN r END) AS r3 FROM r),
        |lvl AS (SELECT r1, r2, r3,
        |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2 FROM one),
        |lvl2 AS (SELECT r1, r2, r3, p2, r1 - p2 * r1 AS a1,
        |    (1.0 - r1 * r1) * (1.0 - p2 * p2) AS v2 FROM lvl)
        |SELECT round(r1, 6) AS pacf1, round(p2, 6) AS pacf2,
        |  round((r3 - a1 * r2 - p2 * r1) / v2, 6) AS pacf3
        |FROM lvl2""".stripMargin,
    "q314_cronbach_alpha" ->
      """WITH ut AS (SELECT user_id, event_type,
        |    count(*)::BIGINT AS x FROM events GROUP BY 1, 2),
        |totals AS (SELECT user_id, sum(x)::BIGINT AS tot
        |  FROM ut GROUP BY 1),
        |ts AS (SELECT count(*)::BIGINT AS n, sum(tot::HUGEINT) AS st,
        |    sum(tot::HUGEINT * tot::HUGEINT) AS qt FROM totals),
        |item AS (SELECT event_type, sum(x::HUGEINT) AS s,
        |    sum(x::HUGEINT * x::HUGEINT) AS q
        |  FROM ut GROUP BY 1),
        |iv AS (SELECT CAST(round(1000000.0 * (CAST(q AS DOUBLE) -
        |      CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1))
        |      AS BIGINT) AS var_micro
        |  FROM item CROSS JOIN ts),
        |ia AS (SELECT count(*)::BIGINT AS k,
        |    sum(var_micro)::BIGINT AS siv FROM iv),
        |fin AS (SELECT n AS n_users, k AS k_items,
        |    siv AS sum_item_var_micro,
        |    CAST(round(1000000.0 * (CAST(qt AS DOUBLE) -
        |      CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / n) / (n - 1))
        |      AS BIGINT) AS total_var_micro
        |  FROM ia CROSS JOIN ts)
        |SELECT n_users, k_items, sum_item_var_micro, total_var_micro,
        |  CAST(round(1000000.0 * k_items / (k_items - 1) *
        |    (1.0 - CAST(sum_item_var_micro AS DOUBLE) /
        |    total_var_micro)) AS BIGINT) AS alpha_micro
        |FROM fin""".stripMargin,
    "q315_kn_heldout" -> {
      val toks = "list_filter(string_split_regex(lower(text)," +
        " '[^a-z]+'), w -> w <> '')"
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
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
        |lft AS (SELECT w1, sum(c)::BIGINT AS c1,
        |    count(*)::BIGINT AS n1p FROM bi GROUP BY w1),
        |rgt AS (SELECT w2, count(*)::BIGINT AS ncont FROM bi
        |  GROUP BY w2),
        |gl AS (SELECT (SELECT count(*)::BIGINT FROM bi) AS t,
        |    (SELECT count(DISTINCT w)::BIGINT FROM
        |      (SELECT unnest(toks) AS w FROM t WHERE doc_id % 2 = 0))
        |      AS v),
        |scored AS (SELECT hp.w1, hp.w2,
        |    CAST(round(-1000000.0 * ln(CAST(CASE WHEN c1 IS NULL
        |      THEN coalesce(ncont, 0) + 1
        |      ELSE greatest(4 * coalesce(c, 0) - 3, 0) * (t + v) +
        |      3 * n1p * (coalesce(ncont, 0) + 1) END AS DOUBLE) /
        |      CAST(CASE WHEN c1 IS NULL THEN t + v
        |      ELSE 4 * c1 * (t + v) END AS DOUBLE))) AS BIGINT)
        |      AS nlp_u
        |  FROM (SELECT DISTINCT w1, w2 FROM heldp) hp
        |  LEFT JOIN bi ON hp.w1 = bi.w1 AND hp.w2 = bi.w2
        |  LEFT JOIN lft ON hp.w1 = lft.w1
        |  LEFT JOIN rgt ON hp.w2 = rgt.w2
        |  CROSS JOIN gl)
        |SELECT p.doc_id, count(*)::BIGINT AS n_pairs,
        |  (sum(s.nlp_u)::BIGINT // count(*)::BIGINT)
        |    AS mean_kn_nll_micro
        |FROM heldp p JOIN scored s ON p.w1 = s.w1 AND p.w2 = s.w2
        |GROUP BY p.doc_id""".stripMargin
    },
    "q316_energy_distance" ->
      """WITH grid AS (SELECT
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
        |      END)::BIGINT AS n1,
        |    sum(CASE WHEN o_orderpriority <> '1-URGENT' THEN 1 ELSE 0
        |      END)::BIGINT AS n2
        |  FROM orders GROUP BY 1),
        |g2 AS (SELECT v, n1, n2, n1 * v AS w1, n2 * v AS w2
        |  FROM grid),
        |cum AS (SELECT *,
        |    coalesce(sum(n1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0)::BIGINT AS e1,
        |    coalesce(sum(n2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0)::BIGINT AS e2,
        |    coalesce(sum(w1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0)::BIGINT AS s1,
        |    coalesce(sum(w2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0)::BIGINT AS s2
        |  FROM g2),
        |one AS (SELECT sum(n1)::BIGINT AS m1, sum(n2)::BIGINT AS m2,
        |    sum(n1 * (v * e2 - s2))::HUGEINT AS l12,
        |    sum(n2 * (v * e1 - s1))::HUGEINT AS l21,
        |    sum(n1 * (v * e1 - s1))::HUGEINT AS l11,
        |    sum(n2 * (v * e2 - s2))::HUGEINT AS l22
        |  FROM cum),
        |fin AS (SELECT m1, m2, (l12 + l21)::HUGEINT AS a_num,
        |    (2 * l11)::HUGEINT AS b_num, (2 * l22)::HUGEINT AS c_num
        |  FROM one),
        |fin2 AS (SELECT m1, m2, a_num, b_num, c_num,
        |    (2 * a_num * m1 * m2 - b_num * m2 * m2 -
        |     c_num * m1 * m1) AS nprime,
        |    (m1::HUGEINT * m1 * m2 * m2) AS den
        |  FROM fin)
        |SELECT m1, m2, a_num::VARCHAR AS a_num,
        |  b_num::VARCHAR AS b_num, c_num::VARCHAR AS c_num,
        |  CAST(1000000 * (nprime // den) +
        |    (2000000 * (nprime % den) + den) // (2 * den)
        |    AS BIGINT) AS energy_micro_cents
        |FROM fin2""".stripMargin,
    "q317_link_prediction" ->
      """WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM io x JOIN io y ON x.o = y.o AND x.p < y.p),
        |und AS (SELECT u AS w, v AS n FROM e
        |  UNION ALL SELECT v AS w, u AS n FROM e),
        |deg AS (SELECT w, count(*)::BIGINT AS d FROM und GROUP BY w),
        |mid AS (SELECT w FROM deg WHERE d >= 2 AND d <= 64),
        |capped AS (SELECT und.w, und.n FROM und
        |  JOIN mid ON und.w = mid.w),
        |sc AS (SELECT a.n AS n1, b.n AS n2,
        |    count(*)::BIGINT AS n_common
        |  FROM capped a JOIN capped b ON a.w = b.w AND a.n < b.n
        |  GROUP BY 1, 2),
        |nl AS (SELECT * FROM sc WHERE NOT EXISTS (SELECT 1 FROM e
        |  WHERE e.u = sc.n1 AND e.v = sc.n2))
        |SELECT n1, n2, n_common, da.d AS d1, db.d AS d2,
        |  CAST((1000000 * n_common) // (da.d + db.d - n_common)
        |    AS BIGINT) AS jaccard_micro,
        |  (da.d * db.d)::BIGINT AS pa_score
        |FROM nl JOIN deg da ON n1 = da.w JOIN deg db ON n2 = db.w
        |ORDER BY jaccard_micro DESC, n_common DESC, n1 ASC, n2 ASC
        |LIMIT 20""".stripMargin,
    "q318_harmonic_centrality" ->
      """WITH e0 AS (SELECT DISTINCT l_suppkey AS src,
        |    100000 + l_partkey AS dst FROM lineitem),
        |edges AS (SELECT src, dst FROM e0
        |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |d0 AS (SELECT s_suppkey AS lm, s_suppkey AS node_id
        |  FROM supplier WHERE s_suppkey <= 2),
        |f1 AS (SELECT DISTINCT d0.lm, edges.dst AS node_id
        |  FROM d0 JOIN edges ON edges.src = d0.node_id),
        |d1 AS (SELECT * FROM f1 x WHERE NOT EXISTS (SELECT 1 FROM d0
        |  WHERE d0.lm = x.lm AND d0.node_id = x.node_id)),
        |v1 AS (SELECT * FROM d0 UNION ALL SELECT * FROM d1),
        |f2 AS (SELECT DISTINCT d1.lm, edges.dst AS node_id
        |  FROM d1 JOIN edges ON edges.src = d1.node_id),
        |d2 AS (SELECT * FROM f2 x WHERE NOT EXISTS (SELECT 1 FROM v1
        |  WHERE v1.lm = x.lm AND v1.node_id = x.node_id)),
        |v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM d2),
        |f3 AS (SELECT DISTINCT d2.lm, edges.dst AS node_id
        |  FROM d2 JOIN edges ON edges.src = d2.node_id),
        |d3 AS (SELECT * FROM f3 x WHERE NOT EXISTS (SELECT 1 FROM v2
        |  WHERE v2.lm = x.lm AND v2.node_id = x.node_id)),
        |hops AS (SELECT lm, node_id, 1::BIGINT AS hops FROM d1
        |  UNION ALL SELECT lm, node_id, 2::BIGINT FROM d2
        |  UNION ALL SELECT lm, node_id, 3::BIGINT FROM d3)
        |SELECT node_id, count(*)::BIGINT AS n_landmarks,
        |  sum(1000000 // hops)::BIGINT AS h_micro
        |FROM hops GROUP BY node_id
        |ORDER BY h_micro DESC, node_id ASC LIMIT 30""".stripMargin,
    "q319_ridge_path" ->
      """WITH rows0 AS (SELECT
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS x1,
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE))::BIGINT AS x2,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |m AS (SELECT count(*)::BIGINT AS n,
        |    sum(x1::HUGEINT) AS sx1, sum(x2::HUGEINT) AS sx2,
        |    sum(y::HUGEINT) AS sy,
        |    sum(x1::HUGEINT * x1::HUGEINT) AS q11,
        |    sum(x2::HUGEINT * x2::HUGEINT) AS q22,
        |    sum(x1::HUGEINT * x2::HUGEINT) AS q12,
        |    sum(x1::HUGEINT * y::HUGEINT) AS q1y,
        |    sum(x2::HUGEINT * y::HUGEINT) AS q2y
        |  FROM rows0),
        |cent AS (SELECT n, sx1, sx2, sy,
        |    CAST(q11 AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |      CAST(sx1 AS DOUBLE) / n AS s11,
        |    CAST(q22 AS DOUBLE) - CAST(sx2 AS DOUBLE) *
        |      CAST(sx2 AS DOUBLE) / n AS s22,
        |    CAST(q12 AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |      CAST(sx2 AS DOUBLE) / n AS s12,
        |    CAST(q1y AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |      CAST(sy AS DOUBLE) / n AS s1y,
        |    CAST(q2y AS DOUBLE) - CAST(sx2 AS DOUBLE) *
        |      CAST(sy AS DOUBLE) / n AS s2y
        |  FROM m),
        |lam AS (SELECT * FROM (VALUES (0, 0.0), (1, 0.001),
        |  (2, 0.01), (3, 0.1)) AS t(k, rel)),
        |f AS (SELECT k, n, sx1, sx2, sy, s11, s22, s12, s1y, s2y,
        |    rel * (s11 + s22) / 2.0 AS l FROM lam CROSS JOIN cent),
        |g AS (SELECT *,
        |    (s11 + l) * (s22 + l) - s12 * s12 AS det FROM f),
        |h AS (SELECT *, ((s22 + l) * s1y - s12 * s2y) / det AS b1,
        |    ((s11 + l) * s2y - s12 * s1y) / det AS b2 FROM g)
        |SELECT k, n,
        |  CAST(round(1000000.0 * b1) AS BIGINT) AS b1_micro,
        |  CAST(round(1000000.0 * b2) AS BIGINT) AS b2_micro,
        |  CAST(round((CAST(sy AS DOUBLE) / n -
        |    b1 * (CAST(sx1 AS DOUBLE) / n) -
        |    b2 * (CAST(sx2 AS DOUBLE) / n)) * 100) AS BIGINT)
        |    AS intercept_hundredths
        |FROM h ORDER BY k ASC""".stripMargin,
    "q320_hurst_exponent" ->
      """WITH daily AS (SELECT date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE)) AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |ranked AS (SELECT *, (row_number() OVER (ORDER BY d) - 1)
        |    ::BIGINT AS rk FROM daily),
        |blocks AS (SELECT m, rk // m AS blk, rk, d, x FROM ranked
        |  CROSS JOIN (SELECT unnest([16, 64, 256])::BIGINT AS m) ms),
        |bstat AS (SELECT m, blk, count(*)::BIGINT AS cnt,
        |    sum(x)::BIGINT AS sx, sum(x::HUGEINT * x::HUGEINT) AS qx
        |  FROM blocks GROUP BY 1, 2),
        |bful AS (SELECT * FROM bstat WHERE cnt = m),
        |dev AS (SELECT blocks.m AS m, blocks.blk AS blk, rk, sx, qx,
        |    sum(blocks.m * x - sx) OVER (PARTITION BY blocks.m,
        |      blocks.blk ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW)::BIGINT AS z
        |  FROM blocks JOIN bful ON blocks.m = bful.m
        |    AND blocks.blk = bful.blk),
        |rsb AS (SELECT m, blk, sx, qx, (max(z) - min(z))::BIGINT AS r
        |  FROM dev GROUP BY 1, 2, 3, 4),
        |rs AS (SELECT m, blk,
        |    CAST(round(1000000.0 * (CAST(r AS DOUBLE) /
        |      sqrt(CAST(m AS DOUBLE) * CAST(qx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))) AS BIGINT)
        |      AS rs_micro
        |  FROM rsb WHERE CAST(m AS DOUBLE) * CAST(qx AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0),
        |perm AS (SELECT m, count(*)::BIGINT AS n_blocks,
        |    (sum(rs_micro)::BIGINT // count(*)::BIGINT)
        |      AS mean_rs_micro
        |  FROM rs GROUP BY m),
        |pins AS (SELECT
        |    sum(CASE WHEN m = 16 THEN mean_rs_micro END)::BIGINT
        |      AS y1,
        |    sum(CASE WHEN m = 256 THEN mean_rs_micro END)::BIGINT
        |      AS y3 FROM perm),
        |h AS (SELECT CAST(round(1000000.0 *
        |    (ln(CAST(y3 AS DOUBLE)) - ln(CAST(y1 AS DOUBLE))) /
        |    (2.0 * ln(4.0))) AS BIGINT) AS hurst_micro FROM pins)
        |SELECT m, n_blocks, mean_rs_micro, hurst_micro
        |FROM perm CROSS JOIN h ORDER BY m ASC""".stripMargin,
    "q321_rocchio_feedback" -> {
      val toks = "list_filter(string_split_regex(lower(text)," +
        " '[^a-z]+'), w -> w <> '')"
      s"""WITH idx AS (SELECT doc_id, unnest($toks) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        |  FROM idx GROUP BY 1, 2),
        |df AS (SELECT term, count(*)::BIGINT AS df FROM tf
        |  GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id)::BIGINT AS n FROM tf),
        |idf AS (SELECT term, df, CAST(round(1000000.0 * ln(1.0 +
        |    (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))) AS BIGINT)
        |    AS idf_micro FROM df CROSS JOIN nd),
        |seeds AS (SELECT unnest(['spark', 'query', 'hash']) AS term),
        |s0 AS (SELECT doc_id,
        |    sum((tf * idf_micro) // (tf + 1))::BIGINT AS s0
        |  FROM tf JOIN seeds USING (term) JOIN idf USING (term)
        |  GROUP BY doc_id),
        |top5 AS (SELECT doc_id FROM s0
        |  ORDER BY s0 DESC, doc_id ASC LIMIT 5),
        |exp0 AS (SELECT term, sum(tf)::BIGINT AS reltf
        |  FROM tf JOIN top5 USING (doc_id)
        |  WHERE term NOT IN (SELECT term FROM seeds)
        |  GROUP BY term),
        |exp1 AS (SELECT exp0.term AS term,
        |    (reltf * idf_micro)::BIGINT AS lift
        |  FROM exp0 JOIN idf ON exp0.term = idf.term
        |  ORDER BY lift DESC, term ASC LIMIT 3),
        |qt AS (SELECT term, 0::BIGINT AS half FROM seeds
        |  UNION ALL SELECT term, 1::BIGINT FROM exp1),
        |s1 AS (SELECT doc_id, sum(((tf * idf_micro) // (tf + 1))
        |    // (1 + half))::BIGINT AS rocchio_micro
        |  FROM tf JOIN qt USING (term) JOIN idf USING (term)
        |  GROUP BY doc_id)
        |SELECT doc_id, rocchio_micro FROM s1
        |ORDER BY rocchio_micro DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "q322_grubbs_test" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |m AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(x::HUGEINT * x::HUGEINT) AS qx FROM daily),
        |dev AS (SELECT day, x, n, sx, qx,
        |    abs(n * x - sx)::BIGINT AS adev
        |  FROM daily CROSS JOIN m
        |  ORDER BY adev DESC, day ASC LIMIT 1)
        |SELECT day, x, n,
        |  CAST(round(1000000.0 * (CAST(adev AS DOUBLE) / n) /
        |    sqrt((CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) *
        |    CAST(sx AS DOUBLE) / n) / (n - 1))) AS BIGINT) AS g_micro
        |FROM dev""".stripMargin,
    "q323_cochran_q" ->
      """WITH pu AS (SELECT user_id,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n2,
        |    sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n3,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n4
        |  FROM events GROUP BY 1),
        |pt AS (SELECT *, n0 + n1 + n2 + n3 + n4 AS tot FROM pu),
        |fl AS (SELECT user_id,
        |    (CASE WHEN n0 * 5 > tot THEN 1 ELSE 0 END)::BIGINT AS f0,
        |    (CASE WHEN n1 * 5 > tot THEN 1 ELSE 0 END)::BIGINT AS f1,
        |    (CASE WHEN n2 * 5 > tot THEN 1 ELSE 0 END)::BIGINT AS f2,
        |    (CASE WHEN n3 * 5 > tot THEN 1 ELSE 0 END)::BIGINT AS f3,
        |    (CASE WHEN n4 * 5 > tot THEN 1 ELSE 0 END)::BIGINT AS f4
        |  FROM pt),
        |inf AS (SELECT *, f0 + f1 + f2 + f3 + f4 AS r FROM fl
        |  WHERE f0 + f1 + f2 + f3 + f4 >= 1),
        |one AS (SELECT count(*)::BIGINT AS n_users,
        |    sum(r)::BIGINT AS sr, sum(r * r)::BIGINT AS srr,
        |    sum(f0)::BIGINT AS c0, sum(f1)::BIGINT AS c1, sum(f2)::BIGINT AS c2, sum(f3)::BIGINT AS c3, sum(f4)::BIGINT AS c4
        |  FROM inf)
        |SELECT n_users, sr, srr,
        |  (c0 + c1 + c2 + c3 + c4)::BIGINT AS sc,
        |  (c0*c0 + c1*c1 + c2*c2 + c3*c3 + c4*c4)::BIGINT AS scc,
        |  CAST((1000000 * 4 * (5 * scc - sc * sc))
        |    // (5 * sr - srr) AS BIGINT) AS q_micro
        |FROM one""".stripMargin,
    "q324_poly_kernel_mmd" ->
      """WITH b AS (SELECT CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN 1 ELSE 2 END AS g,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |m AS (SELECT g, count(*)::BIGINT AS n, sum(v::HUGEINT) AS s,
        |    sum(v::HUGEINT * v::HUGEINT) AS q FROM b GROUP BY 1),
        |one AS (SELECT
        |    sum(CASE WHEN g = 1 THEN n END)::BIGINT AS n1,
        |    sum(CASE WHEN g = 2 THEN n END)::BIGINT AS n2,
        |    sum(CASE WHEN g = 1 THEN CAST(s AS DOUBLE) END) AS s1,
        |    sum(CASE WHEN g = 2 THEN CAST(s AS DOUBLE) END) AS s2,
        |    sum(CASE WHEN g = 1 THEN CAST(q AS DOUBLE) END) AS q1,
        |    sum(CASE WHEN g = 2 THEN CAST(q AS DOUBLE) END) AS q2
        |  FROM m)
        |SELECT n1, n2,
        |  CAST(round(1000000.0 * (
        |    (1.0 + 2.0 * (s1 / n1) * (s1 / n1) / 100000000.0 +
        |    (q1 / n1) * (q1 / n1) / 10000000000000000.0) +
        |    (1.0 + 2.0 * (s2 / n2) * (s2 / n2) / 100000000.0 +
        |    (q2 / n2) * (q2 / n2) / 10000000000000000.0) -
        |    2.0 * (1.0 + 2.0 * (s1 / n1) * (s2 / n2) / 100000000.0 +
        |    (q1 / n1) * (q2 / n2) / 10000000000000000.0)))
        |    AS BIGINT) AS mmd2_micro
        |FROM one""".stripMargin,
    "q325_readability" -> {
      val toks = "list_filter(string_split_regex(lower(text)," +
        " '[^a-z]+'), w -> w <> '')"
      s"""WITH base AS (SELECT source,
        |    len($toks)::BIGINT AS words,
        |    len(list_filter(string_split_regex(lower(text),
        |      '[^aeiou]+'), x -> x <> ''))::BIGINT AS syl,
        |    greatest(len(list_filter(string_split_regex(text,
        |      '[.!?]+'), x -> len(trim(x)) > 0)), 1)::BIGINT AS sents
        |  FROM documents),
        |fk AS (SELECT source, CAST(round(1000.0 * (0.39 *
        |    (CAST(words AS DOUBLE) / sents) + 11.8 *
        |    (CAST(syl AS DOUBLE) / words) - 15.59)) AS BIGINT)
        |    AS fk_milli
        |  FROM base WHERE words > 0)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  (sum(fk_milli)::BIGINT // count(*)::BIGINT)
        |    AS mean_fk_milli
        |FROM fk GROUP BY source ORDER BY source ASC""".stripMargin
    },
    "q326_james_stein" ->
      """WITH g AS (SELECT source, count(*)::BIGINT AS nj,
        |    sum(n_chars)::BIGINT AS sj,
        |    sum(n_chars::HUGEINT * n_chars::HUGEINT) AS qj
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS k, sum(nj)::BIGINT AS n,
        |    sum(sj)::BIGINT AS st,
        |    sum(CAST(round(1000000.0 * (CAST(qj AS DOUBLE) -
        |      CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE) / nj))
        |      AS BIGINT))::BIGINT AS ssw_micro
        |  FROM g),
        |means AS (SELECT source, nj, k, n, ssw_micro,
        |    CAST(sj AS DOUBLE) / nj AS xb,
        |    CAST(st AS DOUBLE) / n AS gm
        |  FROM g CROSS JOIN tot),
        |btw AS (SELECT sum(CAST(round(1000000.0 * (xb - gm) *
        |    (xb - gm)) AS BIGINT))::BIGINT AS s_micro FROM means),
        |shr AS (SELECT source, nj, xb, gm,
        |    CAST(round(1000.0 * xb) AS BIGINT) AS raw_mean_milli,
        |    CAST(round(1000000.0 * greatest(0.0, 1.0 -
        |      (k - 3) * (((CAST(ssw_micro AS DOUBLE) / 1000000.0) /
        |      (n - k)) / (CAST(n AS DOUBLE) / k)) /
        |      (CAST(s_micro AS DOUBLE) / 1000000.0))) AS BIGINT)
        |      AS shrink_micro
        |  FROM means CROSS JOIN btw)
        |SELECT source, nj, raw_mean_milli, shrink_micro,
        |  CAST(round(1000.0 * (gm + (CAST(shrink_micro AS DOUBLE) /
        |    1000000.0) * (xb - gm))) AS BIGINT) AS shrunk_mean_milli
        |FROM shr ORDER BY source ASC""".stripMargin,
    "q327_mahalanobis_outliers" ->
      """WITH r AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS x,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |m AS (SELECT count(*)::BIGINT AS n,
        |    sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
        |    sum(x::HUGEINT * x::HUGEINT) AS qxx,
        |    sum(y::HUGEINT * y::HUGEINT) AS qyy,
        |    sum(x::HUGEINT * y::HUGEINT) AS qxy
        |  FROM r),
        |cov AS (SELECT n,
        |    CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
        |    (CAST(qxx AS DOUBLE) - CAST(sx AS DOUBLE) *
        |      CAST(sx AS DOUBLE) / n) / (n - 1) AS vxx,
        |    (CAST(qyy AS DOUBLE) - CAST(sy AS DOUBLE) *
        |      CAST(sy AS DOUBLE) / n) / (n - 1) AS vyy,
        |    (CAST(qxy AS DOUBLE) - CAST(sx AS DOUBLE) *
        |      CAST(sy AS DOUBLE) / n) / (n - 1) AS vxy
        |  FROM m)
        |SELECT o_orderkey,
        |  CAST(round(1000.0 * ((x - mx) * (vyy * (x - mx) -
        |    vxy * (y - my)) + (y - my) * (vxx * (y - my) -
        |    vxy * (x - mx))) / (vxx * vyy - vxy * vxy)) AS BIGINT)
        |    AS d2_milli
        |FROM r CROSS JOIN cov
        |ORDER BY d2_milli DESC, o_orderkey ASC LIMIT 15""".stripMargin,
    "q328_shard_balance" ->
      s"""WITH a AS (SELECT CAST(right(greatest(
        |      printf('%019d', (('0x' || substr(md5('rv|0|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)) || '0',
        |      printf('%019d', (('0x' || substr(md5('rv|1|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)) || '1',
        |      printf('%019d', (('0x' || substr(md5('rv|2|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)) || '2',
        |      printf('%019d', (('0x' || substr(md5('rv|3|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)) || '3',
        |      printf('%019d', (('0x' || substr(md5('rv|4|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)) || '4',
        |      printf('%019d', (('0x' || substr(md5('rv|5|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)) || '5',
        |      printf('%019d', (('0x' || substr(md5('rv|6|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)) || '6',
        |      printf('%019d', (('0x' || substr(md5('rv|7|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)) || '7'), 1) AS INTEGER) AS shard,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> w <> ''))::BIGINT AS toks
        |  FROM documents),
        |ps AS (SELECT shard, count(*)::BIGINT AS n_docs,
        |    sum(toks)::BIGINT AS t FROM a GROUP BY 1),
        |one AS (SELECT count(*)::BIGINT AS n_shards,
        |    sum(t)::BIGINT AS tot, min(t)::BIGINT AS min_toks,
        |    max(t)::BIGINT AS max_toks,
        |    sum(t::HUGEINT * t::HUGEINT) AS qt FROM ps)
        |SELECT n_shards, tot, min_toks, max_toks,
        |  CAST(round(1000000.0 * sqrt(CAST(qt AS DOUBLE) / n_shards -
        |    (CAST(tot AS DOUBLE) / n_shards) *
        |    (CAST(tot AS DOUBLE) / n_shards)) /
        |    (CAST(tot AS DOUBLE) / n_shards)) AS BIGINT) AS cv_micro,
        |  CAST((1000000 * max_toks * n_shards) // tot AS BIGINT)
        |    AS maxmean_micro
        |FROM one""".stripMargin,
    "q329_sprt_stopping" ->
      s"""WITH pu AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END)::BIGINT AS conv
        |  FROM events GROUP BY 1),
        |arm AS (SELECT * FROM pu WHERE (('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT) % 2 = 1),
        |sc AS (SELECT d0, user_id, conv, (CASE WHEN conv = 1
        |    THEN 223144 ELSE -182322 END)::BIGINT AS llr FROM arm),
        |cum AS (SELECT *,
        |    (coalesce(sum(llr) OVER (ORDER BY d0, user_id ROWS
        |      BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + llr)::BIGINT AS c_llr,
        |    (row_number() OVER (ORDER BY d0, user_id))::BIGINT AS i
        |  FROM sc),
        |tot AS (SELECT count(*)::BIGINT AS n_subjects,
        |    sum(conv)::BIGINT AS n_converts,
        |    sum(llr)::BIGINT AS final_llr_micro FROM sc),
        |crossed AS (SELECT i, (CASE WHEN c_llr > 0 THEN 1 ELSE -1
        |    END)::BIGINT AS dir
        |  FROM cum WHERE abs(c_llr) >= 2944439),
        |firstc AS (SELECT min(i)::BIGINT AS stop_index,
        |    arg_min(dir, i)::BIGINT AS decision FROM crossed)
        |SELECT n_subjects, n_converts, final_llr_micro, stop_index,
        |  decision
        |FROM tot CROSS JOIN firstc""".stripMargin,
    "q330_nelson_aalen" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    event_type FROM events),
        |pu AS (SELECT user_id, min(day) AS d0, max(day) AS dlast,
        |    min(CASE WHEN event_type = 'purchase' THEN day END) AS dp
        |  FROM e GROUP BY 1),
        |subj AS (SELECT CASE WHEN dp IS NOT NULL
        |      THEN CAST(dp - d0 AS INTEGER)
        |      ELSE CAST(dlast - d0 AS INTEGER) END AS t,
        |    CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS death
        |  FROM pu),
        |hist AS (SELECT t, sum(death)::BIGINT AS d,
        |    sum(1 - death)::BIGINT AS c FROM subj GROUP BY t),
        |tot AS (SELECT (sum(d) + sum(c))::BIGINT AS n0 FROM hist),
        |risk AS (SELECT t, d,
        |    (n0 - coalesce(sum(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      )::BIGINT AS n
        |  FROM hist CROSS JOIN tot),
        |hz AS (SELECT t, n, d,
        |    ((1000000 * d) // n)::BIGINT AS h_micro
        |  FROM risk WHERE d > 0)
        |SELECT t, n AS n_risk, d AS deaths, h_micro,
        |  (coalesce(sum(h_micro) OVER (ORDER BY t ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + h_micro)::BIGINT AS cum_hazard_micro
        |FROM hz""".stripMargin,
    "q331_interpolation_sweep" ->
      s"""WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> w <> '') AS toks FROM documents),
        |trainp AS (SELECT pr['w1'] AS w1, pr['w2'] AS w2 FROM
        |  (SELECT unnest(list_transform(range(1, len(toks)::BIGINT),
        |     i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS pr
        |   FROM t WHERE doc_id % 2 = 0)),
        |heldp AS (SELECT doc_id, pr['w1'] AS w1, pr['w2'] AS w2 FROM
        |  (SELECT doc_id,
        |     unnest(list_transform(range(1, len(toks)::BIGINT),
        |       i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS pr
        |   FROM t WHERE doc_id % 2 <> 0)),
        |bi AS (SELECT w1, w2, count(*)::BIGINT AS cb FROM trainp
        |  GROUP BY w1, w2),
        |lft AS (SELECT w1, sum(cb)::BIGINT AS c1 FROM bi GROUP BY w1),
        |uni AS (SELECT w, count(*)::BIGINT AS cu FROM
        |  (SELECT unnest(toks) AS w FROM t WHERE doc_id % 2 = 0)
        |  GROUP BY w),
        |gl AS (SELECT count(*)::BIGINT AS v, sum(cu)::BIGINT AS ttok
        |  FROM uni),
        |lam AS (SELECT unnest([1, 3, 5, 7, 9])::BIGINT AS k),
        |scored AS (SELECT hp.w1, hp.w2, k,
        |    CAST(round(-1000000.0 * ln(
        |      CAST(k * (coalesce(cb, 0) + 1) * (ttok + v) +
        |      (10 - k) * (coalesce(cu, 0) + 1) *
        |      (coalesce(c1, 0) + v) AS DOUBLE) /
        |      CAST(10 * (coalesce(c1, 0) + v) * (ttok + v)
        |      AS DOUBLE))) AS BIGINT) AS nlp_u
        |  FROM (SELECT DISTINCT w1, w2 FROM heldp) hp
        |  LEFT JOIN bi ON hp.w1 = bi.w1 AND hp.w2 = bi.w2
        |  LEFT JOIN lft ON hp.w1 = lft.w1
        |  LEFT JOIN uni ON hp.w2 = uni.w
        |  CROSS JOIN gl CROSS JOIN lam)
        |SELECT k, count(*)::BIGINT AS n_pairs,
        |  (sum(s.nlp_u)::BIGINT // count(*)::BIGINT)
        |    AS mean_nll_micro
        |FROM heldp p JOIN scored s ON p.w1 = s.w1 AND p.w2 = s.w2
        |GROUP BY k ORDER BY k ASC""".stripMargin,
    "q332_raking" ->
      """WITH cells AS (SELECT c_nationkey % 5 AS r,
        |    o_orderpriority AS p, count(*)::BIGINT AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |nt AS (SELECT sum(n)::BIGINT AS nn FROM cells),
        |rt AS (SELECT c_nationkey % 5 AS r, count(*)::BIGINT AS cr
        |  FROM customer GROUP BY 1),
        |rtt AS (SELECT sum(cr)::BIGINT AS cc FROM rt),
        |tr AS (SELECT r, (cr * 1000000000) // cc AS tr
        |  FROM rt CROSS JOIN rtt),
        |tc AS (SELECT p, (np * 1000000000) // nn AS tc FROM
        |  (SELECT p, sum(n)::BIGINT AS np FROM cells GROUP BY 1)
        |  CROSS JOIN nt),
        |w0 AS (SELECT r, p, n, (n * 1000000000) // nn AS w
        |  FROM cells CROSS JOIN nt),
        |r1 AS (SELECT x.r AS r, x.p AS p, x.n AS n,
        |    (x.w * tr.tr) // s.rs AS w
        |  FROM w0 x JOIN (SELECT r, sum(w)::BIGINT AS rs
        |    FROM w0 GROUP BY r) s ON x.r = s.r
        |  JOIN tr ON x.r = tr.r),
        |c1 AS (SELECT x.r AS r, x.p AS p, x.n AS n,
        |    (x.w * tc.tc) // s.cs AS w
        |  FROM r1 x JOIN (SELECT p, sum(w)::BIGINT AS cs
        |    FROM r1 GROUP BY p) s ON x.p = s.p
        |  JOIN tc ON x.p = tc.p),
        |r2 AS (SELECT x.r AS r, x.p AS p, x.n AS n,
        |    (x.w * tr.tr) // s.rs AS w
        |  FROM c1 x JOIN (SELECT r, sum(w)::BIGINT AS rs
        |    FROM c1 GROUP BY r) s ON x.r = s.r
        |  JOIN tr ON x.r = tr.r),
        |c2 AS (SELECT x.r AS r, x.p AS p, x.n AS n,
        |    (x.w * tc.tc) // s.cs AS w
        |  FROM r2 x JOIN (SELECT p, sum(w)::BIGINT AS cs
        |    FROM r2 GROUP BY p) s ON x.p = s.p
        |  JOIN tc ON x.p = tc.p),
        |r3 AS (SELECT x.r AS r, x.p AS p, x.n AS n,
        |    (x.w * tr.tr) // s.rs AS w
        |  FROM c2 x JOIN (SELECT r, sum(w)::BIGINT AS rs
        |    FROM c2 GROUP BY r) s ON x.r = s.r
        |  JOIN tr ON x.r = tr.r),
        |c3 AS (SELECT x.r AS r, x.p AS p, x.n AS n,
        |    (x.w * tc.tc) // s.cs AS w
        |  FROM r3 x JOIN (SELECT p, sum(w)::BIGINT AS cs
        |    FROM r3 GROUP BY p) s ON x.p = s.p
        |  JOIN tc ON x.p = tc.p)
        |SELECT r, p, n, w AS w_nano, (w // n) AS factor_nano
        |FROM c3 ORDER BY r ASC, p ASC""".stripMargin,
    "q333_weight_diagnostics" ->
      """WITH cells AS (SELECT c_nationkey % 5 AS r,
        |    o_orderpriority AS p, count(*)::BIGINT AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |nt AS (SELECT sum(n)::BIGINT AS nn FROM cells),
        |rt AS (SELECT c_nationkey % 5 AS r, count(*)::BIGINT AS cr
        |  FROM customer GROUP BY 1),
        |rtt AS (SELECT sum(cr)::BIGINT AS cc FROM rt),
        |tr AS (SELECT r, (cr * 1000000000) // cc AS tr
        |  FROM rt CROSS JOIN rtt),
        |tc AS (SELECT p, (np * 1000000000) // nn AS tc FROM
        |  (SELECT p, sum(n)::BIGINT AS np FROM cells GROUP BY 1)
        |  CROSS JOIN nt),
        |w0 AS (SELECT r, p, n, (n * 1000000000) // nn AS w
        |  FROM cells CROSS JOIN nt),
        |r1 AS (SELECT x.r AS r, x.p AS p, x.n AS n,
        |    (x.w * tr.tr) // s.rs AS w
        |  FROM w0 x JOIN (SELECT r, sum(w)::BIGINT AS rs
        |    FROM w0 GROUP BY r) s ON x.r = s.r
        |  JOIN tr ON x.r = tr.r),
        |c1 AS (SELECT x.r AS r, x.p AS p, x.n AS n,
        |    (x.w * tc.tc) // s.cs AS w
        |  FROM r1 x JOIN (SELECT p, sum(w)::BIGINT AS cs
        |    FROM r1 GROUP BY p) s ON x.p = s.p
        |  JOIN tc ON x.p = tc.p),
        |r2 AS (SELECT x.r AS r, x.p AS p, x.n AS n,
        |    (x.w * tr.tr) // s.rs AS w
        |  FROM c1 x JOIN (SELECT r, sum(w)::BIGINT AS rs
        |    FROM c1 GROUP BY r) s ON x.r = s.r
        |  JOIN tr ON x.r = tr.r),
        |c2 AS (SELECT x.r AS r, x.p AS p, x.n AS n,
        |    (x.w * tc.tc) // s.cs AS w
        |  FROM r2 x JOIN (SELECT p, sum(w)::BIGINT AS cs
        |    FROM r2 GROUP BY p) s ON x.p = s.p
        |  JOIN tc ON x.p = tc.p),
        |r3 AS (SELECT x.r AS r, x.p AS p, x.n AS n,
        |    (x.w * tr.tr) // s.rs AS w
        |  FROM c2 x JOIN (SELECT r, sum(w)::BIGINT AS rs
        |    FROM c2 GROUP BY r) s ON x.r = s.r
        |  JOIN tr ON x.r = tr.r),
        |c3 AS (SELECT x.r AS r, x.p AS p, x.n AS n,
        |    (x.w * tc.tc) // s.cs AS w
        |  FROM r3 x JOIN (SELECT p, sum(w)::BIGINT AS cs
        |    FROM r3 GROUP BY p) s ON x.p = s.p
        |  JOIN tc ON x.p = tc.p),
        |f AS (SELECT r, p, n, (w // n) AS f FROM c3),
        |m AS (SELECT sum(n)::BIGINT AS n_rows,
        |    count(*)::BIGINT AS n_cells, min(f)::BIGINT AS min_f_nano,
        |    max(f)::BIGINT AS max_f_nano,
        |    sum(n::HUGEINT * f::HUGEINT) AS sw,
        |    sum(n::HUGEINT * f::HUGEINT * f::HUGEINT) AS sww FROM f)
        |SELECT n_rows, n_cells, min_f_nano, max_f_nano,
        |  CAST(round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) /
        |    CAST(sww AS DOUBLE)) AS BIGINT) AS ess,
        |  CAST(round(1000000.0 * n_rows * CAST(sww AS DOUBLE) /
        |    (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))) AS BIGINT)
        |    AS deff_micro
        |FROM m""".stripMargin,
    "q334_mantel_haenszel" ->
      s"""WITH u AS (SELECT user_id,
        |    (CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END) * 5 > count(*) THEN 1 ELSE 0 END)::BIGINT
        |      AS conv
        |  FROM events GROUP BY 1),
        |t AS (SELECT conv, (('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT) % 2 AS arm,
        |    user_id % 5 AS stratum FROM u),
        |cells AS (SELECT stratum,
        |    sum(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0
        |      END)::BIGINT AS a,
        |    sum(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0
        |      END)::BIGINT AS b,
        |    sum(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0
        |      END)::BIGINT AS c,
        |    sum(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0
        |      END)::BIGINT AS d
        |  FROM t GROUP BY 1),
        |terms AS (SELECT
        |    (1000000 * a * d) // (a + b + c + d) AS num_micro,
        |    (1000000 * b * c) // (a + b + c + d) AS den_micro
        |  FROM cells),
        |agg AS (SELECT count(*)::BIGINT AS n_strata,
        |    sum(num_micro)::BIGINT AS num,
        |    sum(den_micro)::BIGINT AS den FROM terms)
        |SELECT n_strata, num AS sum_ad_micro, den AS sum_bc_micro,
        |  CAST((1000000 * num) // greatest(den, 1) AS BIGINT)
        |    AS or_mh_micro
        |FROM agg""".stripMargin,
    "q335_mde_power" ->
      s"""WITH u AS (SELECT user_id,
        |    (CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END) * 5 > count(*) THEN 1 ELSE 0 END)::BIGINT
        |      AS conv
        |  FROM events GROUP BY 1),
        |t AS (SELECT conv, (('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT) % 2 AS arm FROM u),
        |m AS (SELECT
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS na,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS nb,
        |    sum(conv)::BIGINT AS nc FROM t),
        |f AS (SELECT na, nb, nc,
        |    CAST((1000000 * nc) // (na + nb) AS BIGINT)
        |      AS pooled_rate_micro,
        |    CAST(round(1000000.0 * (1.96 + 0.8416) * sqrt(
        |      (CAST(nc AS DOUBLE) / (na + nb)) *
        |      (1.0 - CAST(nc AS DOUBLE) / (na + nb)) *
        |      (1.0 / na + 1.0 / nb))) AS BIGINT) AS mde_abs_micro
        |  FROM m)
        |SELECT na, nb, nc, pooled_rate_micro, mde_abs_micro,
        |  CAST((1000000 * mde_abs_micro) //
        |    greatest(pooled_rate_micro, 1) AS BIGINT)
        |    AS mde_rel_micro
        |FROM f""".stripMargin,
    "q337_burrows_delta" ->
      s"""WITH words AS (SELECT source, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> w <> '')) AS w
        |  FROM documents),
        |top AS (SELECT w FROM (SELECT w, count(*)::BIGINT AS n
        |  FROM words GROUP BY w ORDER BY n DESC, w ASC LIMIT 30)),
        |totals AS (SELECT source, count(*)::BIGINT AS nt FROM words
        |  GROUP BY source),
        |cnt AS (SELECT source, w, count(*)::BIGINT AS c FROM words
        |  JOIN top USING (w) GROUP BY 1, 2),
        |dense AS (SELECT totals.source AS source, top.w AS w,
        |    (1000000 * coalesce(c, 0)) // nt AS f
        |  FROM totals CROSS JOIN top
        |  LEFT JOIN cnt ON cnt.source = totals.source
        |    AND cnt.w = top.w),
        |stats AS (SELECT w, CAST(sf AS DOUBLE) / k AS mu,
        |    sqrt((CAST(qf AS DOUBLE) - CAST(sf AS DOUBLE) *
        |      CAST(sf AS DOUBLE) / k) / (k - 1)) AS sd
        |  FROM (SELECT w, count(*)::BIGINT AS k, sum(f)::BIGINT AS sf,
        |    sum(f * f)::BIGINT AS qf FROM dense GROUP BY w)),
        |z AS (SELECT source, dense.w AS w,
        |    CAST(round(1000000.0 * (f - mu) / sd) AS BIGINT) AS z
        |  FROM dense JOIN stats ON dense.w = stats.w)
        |SELECT a.source AS s1, b.source AS s2,
        |  count(*)::BIGINT AS n_words,
        |  ((sum(abs(a.z - b.z))::BIGINT // count(*)::BIGINT) // 1000)
        |    AS delta_milli
        |FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY s1 ASC, s2 ASC""".stripMargin,
    "q338_ljung_box" ->
      """WITH daily AS (SELECT
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE)) AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |nd AS (SELECT count(*)::BIGINT AS nd FROM daily),
        |p AS (SELECT l.lag AS lag, a.cents::HUGEINT AS x,
        |    b.cents::HUGEINT AS y
        |  FROM (SELECT unnest(range(1, 6))::INTEGER AS lag) l
        |  JOIN daily a ON true
        |  JOIN daily b ON b.d = a.d + l.lag),
        |s AS (SELECT lag, count(*)::BIGINT AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM p GROUP BY lag),
        |r AS (SELECT lag,
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |      / sqrt(CAST(n * syy - sy * sy AS DOUBLE)) AS r
        |  FROM s),
        |pins AS (SELECT
        |    sum(CASE WHEN lag = 1 THEN r END) AS r1,
        |    sum(CASE WHEN lag = 2 THEN r END) AS r2,
        |    sum(CASE WHEN lag = 3 THEN r END) AS r3,
        |    sum(CASE WHEN lag = 4 THEN r END) AS r4,
        |    sum(CASE WHEN lag = 5 THEN r END) AS r5
        |  FROM r)
        |SELECT nd AS n_days,
        |  CAST(round(1000.0 * CAST(nd AS DOUBLE) * (nd + 2) *
        |    (r1 * r1 / (CAST(nd AS DOUBLE) - 1) + r2 * r2 / (CAST(nd AS DOUBLE) - 2) + r3 * r3 / (CAST(nd AS DOUBLE) - 3) + r4 * r4 / (CAST(nd AS DOUBLE) - 4) + r5 * r5 / (CAST(nd AS DOUBLE) - 5))) AS BIGINT) AS q_lb_milli
        |FROM pins CROSS JOIN nd""".stripMargin,
    "q339_lorenz_deciles" ->
      """WITH base AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |tiled AS (SELECT *, ntile(10) OVER (ORDER BY v, o_orderkey)
        |    ::INTEGER AS decile FROM base),
        |per AS (SELECT decile, count(*)::BIGINT AS n_orders,
        |    sum(v)::BIGINT AS decile_cents FROM tiled GROUP BY 1),
        |tot AS (SELECT sum(decile_cents)::BIGINT AS t FROM per),
        |cum AS (SELECT decile, n_orders, decile_cents,
        |    coalesce(sum(decile_cents) OVER (ORDER BY decile ROWS
        |      BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS e
        |  FROM per)
        |SELECT decile, n_orders, decile_cents,
        |  (e + decile_cents)::BIGINT AS cum_cents,
        |  ((e + decile_cents) // (t // 1000000))::BIGINT
        |    AS cum_share_micro
        |FROM cum CROSS JOIN tot ORDER BY decile ASC""".stripMargin,
    "q340_propensity_ate" ->
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
        |      b2 * (x2 - CAST(sx2 AS DOUBLE) / n)) AS BIGINT)
        |      AS p_micro
        |  FROM rows0 CROSS JOIN b),
        |tiled AS (SELECT *, ntile(5) OVER (ORDER BY p_micro,
        |    o_orderkey)::INTEGER AS stratum FROM sc),
        |cells AS (SELECT stratum,
        |    sum(CASE WHEN t = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN t = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN t = 1 THEN y ELSE 0 END)::BIGINT AS y1s,
        |    sum(CASE WHEN t = 0 THEN y ELSE 0 END)::BIGINT AS y0s
        |  FROM tiled GROUP BY 1),
        |c2 AS (SELECT stratum, n1, n0,
        |    (y1s // greatest(n1, 1))::BIGINT AS m1_cents,
        |    (y0s // greatest(n0, 1))::BIGINT AS m0_cents FROM cells),
        |ate AS (SELECT (sum(1000000 * (n1 + n0) *
        |    (m1_cents - m0_cents))::BIGINT //
        |    (1000000 * sum(n1 + n0)::BIGINT))::BIGINT AS ate_cents
        |  FROM c2)
        |SELECT stratum, n1, n0, m1_cents, m0_cents, ate_cents
        |FROM c2 CROSS JOIN ate ORDER BY stratum ASC""".stripMargin,
    "q341_gpd_tail" ->
      """WITH base AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |tiled AS (SELECT *, ntile(20) OVER (ORDER BY v, o_orderkey)
        |    AS vig FROM base),
        |tl AS (SELECT * FROM tiled WHERE vig = 20),
        |u AS (SELECT min(v)::BIGINT AS u FROM tl),
        |exc AS (SELECT o_orderkey, (v - u)::BIGINT AS x, u
        |  FROM tl CROSS JOIN u),
        |ranked AS (SELECT *, (row_number() OVER (ORDER BY x,
        |    o_orderkey) - 1)::BIGINT AS e FROM exc),
        |agg AS (SELECT count(*)::BIGINT AS n, min(u)::BIGINT
        |    AS u_cents, sum(x)::BIGINT AS b0n,
        |    sum(e * x)::BIGINT AS b1n FROM ranked)
        |SELECT n, u_cents, (b0n // n)::BIGINT AS b0_cents,
        |  CAST(round(1000000.0 * (CAST(b0n AS DOUBLE) * (n - 1) /
        |    (CAST(b0n AS DOUBLE) * (n - 1) - 2.0 * b1n) - 2.0))
        |    AS BIGINT) AS k_micro,
        |  CAST(round(2.0 * (CAST(b0n AS DOUBLE) / n) *
        |    (CAST(b1n AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))) /
        |    (CAST(b0n AS DOUBLE) / n - 2.0 * CAST(b1n AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * (n - 1)))) AS BIGINT)
        |    AS sigma_cents
        |FROM agg""".stripMargin,
    "q342_tukey_hsd" ->
      """WITH g AS (SELECT o_orderpriority AS grp,
        |    count(*)::BIGINT AS nj,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS sj,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)::HUGEINT *
        |      CAST(round(o_totalprice * 100) AS BIGINT)::HUGEINT)
        |      AS qj
        |  FROM orders GROUP BY 1),
        |msw AS (SELECT sum(nj)::BIGINT AS n, count(*)::BIGINT AS k,
        |    CAST(sum(CAST(round(CAST(qj AS DOUBLE) -
        |      CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE) / nj)
        |      AS DECIMAL(38,0))) AS DOUBLE) /
        |      (sum(nj)::BIGINT - count(*)::BIGINT) AS msw
        |  FROM g),
        |means AS (SELECT grp, nj, (sj // nj)::BIGINT AS mean_cents
        |  FROM g)
        |SELECT a.grp AS g1, b.grp AS g2,
        |  (a.mean_cents - b.mean_cents)::BIGINT AS diff_cents,
        |  CAST(round(3.858 * sqrt(msw / 2.0 *
        |    (1.0 / a.nj + 1.0 / b.nj))) AS BIGINT) AS hsd_cents,
        |  (CASE WHEN abs(a.mean_cents - b.mean_cents) >
        |    CAST(round(3.858 * sqrt(msw / 2.0 *
        |    (1.0 / a.nj + 1.0 / b.nj))) AS BIGINT)
        |    THEN 1 ELSE 0 END)::INTEGER AS significant
        |FROM means a JOIN means b ON a.grp < b.grp CROSS JOIN msw
        |ORDER BY g1 ASC, g2 ASC""".stripMargin,
    "q343_aa_calibration" ->
      s"""WITH b AS (SELECT (('0x' || substr(md5('aa|' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT) % 2 AS arm,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |m AS (SELECT arm, count(*)::BIGINT AS n, sum(v::HUGEINT) AS s,
        |    sum(v::HUGEINT * v::HUGEINT) AS q FROM b GROUP BY 1),
        |one AS (SELECT
        |    sum(CASE WHEN arm = 0 THEN n END)::BIGINT AS n0,
        |    sum(CASE WHEN arm = 1 THEN n END)::BIGINT AS n1,
        |    sum(CASE WHEN arm = 0 THEN CAST(s AS DOUBLE) END) AS s0,
        |    sum(CASE WHEN arm = 1 THEN CAST(s AS DOUBLE) END) AS s1,
        |    sum(CASE WHEN arm = 0 THEN CAST(q AS DOUBLE) END) AS q0,
        |    sum(CASE WHEN arm = 1 THEN CAST(q AS DOUBLE) END) AS q1
        |  FROM m),
        |z AS (SELECT n0, n1,
        |    CAST(round(1000.0 * (s0 / n0 - s1 / n1) /
        |      sqrt((q0 / n0 - (s0 / n0) * (s0 / n0)) / n0 +
        |      (q1 / n1 - (s1 / n1) * (s1 / n1)) / n1)) AS BIGINT)
        |      AS z_milli FROM one)
        |SELECT n0, n1, z_milli,
        |  (CASE WHEN abs(z_milli) < 3000 THEN 1 ELSE 0 END)::INTEGER
        |    AS calibrated
        |FROM z""".stripMargin,
    "q344_two_way_anova" ->
      """WITH cells AS (SELECT c_nationkey % 5 AS r,
        |    o_orderpriority AS p, count(*)::BIGINT AS n,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS sv,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)::HUGEINT *
        |      CAST(round(o_totalprice * 100) AS BIGINT)::HUGEINT)
        |      AS qv
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT sum(n)::BIGINT AS nn, sum(sv)::BIGINT AS st,
        |    count(*)::BIGINT AS nc,
        |    sum(CAST(round(CAST(qv AS DOUBLE) -
        |      CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n)
        |      AS DECIMAL(38,0))) AS ssw
        |  FROM cells),
        |ssa AS (SELECT sum(t)::DECIMAL(38,0) AS ssa, count(*)::BIGINT AS ka
        |  FROM (SELECT CAST(round(na * (CAST(sa AS DOUBLE) / na -
        |      CAST(st AS DOUBLE) / nn) * (CAST(sa AS DOUBLE) / na -
        |      CAST(st AS DOUBLE) / nn)) AS DECIMAL(38,0)) AS t
        |    FROM (SELECT r, sum(n)::BIGINT AS na,
        |      sum(sv)::BIGINT AS sa FROM cells GROUP BY r)
        |    CROSS JOIN tot)),
        |ssb AS (SELECT sum(t)::DECIMAL(38,0) AS ssb, count(*)::BIGINT AS kb
        |  FROM (SELECT CAST(round(nb * (CAST(sb AS DOUBLE) / nb -
        |      CAST(st AS DOUBLE) / nn) * (CAST(sb AS DOUBLE) / nb -
        |      CAST(st AS DOUBLE) / nn)) AS DECIMAL(38,0)) AS t
        |    FROM (SELECT p, sum(n)::BIGINT AS nb,
        |      sum(sv)::BIGINT AS sb FROM cells GROUP BY p)
        |    CROSS JOIN tot)),
        |ssc AS (SELECT sum(t)::DECIMAL(38,0) AS ssc
        |  FROM (SELECT CAST(round(n * (CAST(sv AS DOUBLE) / n -
        |      CAST(st AS DOUBLE) / nn) * (CAST(sv AS DOUBLE) / n -
        |      CAST(st AS DOUBLE) / nn)) AS DECIMAL(38,0)) AS t
        |    FROM cells CROSS JOIN tot)),
        |fin AS (SELECT nn, nc, ka, kb, ssa::HUGEINT AS ssa,
        |    ssb::HUGEINT AS ssb,
        |    (ssc - ssa - ssb)::HUGEINT AS ssab, ssw::HUGEINT AS ssw
        |  FROM tot CROSS JOIN ssa CROSS JOIN ssb CROSS JOIN ssc)
        |SELECT nn, ka, kb, ssa::VARCHAR AS ssa, ssb::VARCHAR AS ssb,
        |  ssab::VARCHAR AS ssab, ssw::VARCHAR AS ssw,
        |  CAST(CASE WHEN 1000 * ssa * (nn - nc) < 0
        |    THEN -((-2 * (1000 * ssa * (nn - nc)) + (ka - 1) * ssw) //
        |      (2 * (ka - 1) * ssw))
        |    ELSE (2 * (1000 * ssa * (nn - nc)) + (ka - 1) * ssw) //
        |      (2 * (ka - 1) * ssw) END AS BIGINT) AS f_a_milli,
        |  CAST(CASE WHEN 1000 * ssb * (nn - nc) < 0
        |    THEN -((-2 * (1000 * ssb * (nn - nc)) + (kb - 1) * ssw) //
        |      (2 * (kb - 1) * ssw))
        |    ELSE (2 * (1000 * ssb * (nn - nc)) + (kb - 1) * ssw) //
        |      (2 * (kb - 1) * ssw) END AS BIGINT) AS f_b_milli,
        |  CAST(CASE WHEN 1000 * ssab * (nn - nc) < 0
        |    THEN -((-2 * (1000 * ssab * (nn - nc)) +
        |      (ka - 1) * (kb - 1) * ssw) //
        |      (2 * (ka - 1) * (kb - 1) * ssw))
        |    ELSE (2 * (1000 * ssab * (nn - nc)) +
        |      (ka - 1) * (kb - 1) * ssw) //
        |      (2 * (ka - 1) * (kb - 1) * ssw) END AS BIGINT)
        |    AS f_ab_milli
        |FROM fin""".stripMargin,
    "q345_jonckheere_terpstra" ->
      """WITH base AS (SELECT
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    CASE o_orderpriority WHEN '5-LOW' THEN 1
        |      WHEN '4-NOT SPECIFIED' THEN 2 WHEN '3-MEDIUM' THEN 3
        |      WHEN '2-HIGH' THEN 4 ELSE 5 END AS g
        |  FROM orders),
        |grid AS (SELECT v,
        |    sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN g = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
        |    sum(CASE WHEN g = 3 THEN 1 ELSE 0 END)::BIGINT AS n3,
        |    sum(CASE WHEN g = 4 THEN 1 ELSE 0 END)::BIGINT AS n4,
        |    sum(CASE WHEN g = 5 THEN 1 ELSE 0 END)::BIGINT AS n5
        |  FROM base GROUP BY v),
        |cum AS (SELECT *,
        |    coalesce(sum(n1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS e1,
        |    coalesce(sum(n2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS e2,
        |    coalesce(sum(n3) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS e3,
        |    coalesce(sum(n4) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS e4,
        |    coalesce(sum(n5) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS e5
        |  FROM grid),
        |one AS (SELECT
        |    sum(n2 * (2 * e1 + n1))::BIGINT AS u2_1_2,
        |    sum(n3 * (2 * e1 + n1))::BIGINT AS u2_1_3,
        |    sum(n4 * (2 * e1 + n1))::BIGINT AS u2_1_4,
        |    sum(n5 * (2 * e1 + n1))::BIGINT AS u2_1_5,
        |    sum(n3 * (2 * e2 + n2))::BIGINT AS u2_2_3,
        |    sum(n4 * (2 * e2 + n2))::BIGINT AS u2_2_4,
        |    sum(n5 * (2 * e2 + n2))::BIGINT AS u2_2_5,
        |    sum(n4 * (2 * e3 + n3))::BIGINT AS u2_3_4,
        |    sum(n5 * (2 * e3 + n3))::BIGINT AS u2_3_5,
        |    sum(n5 * (2 * e4 + n4))::BIGINT AS u2_4_5,
        |    sum(n1)::BIGINT AS m1, sum(n2)::BIGINT AS m2, sum(n3)::BIGINT AS m3, sum(n4)::BIGINT AS m4, sum(n5)::BIGINT AS m5
        |  FROM cum),
        |f AS (SELECT (u2_1_2 + u2_1_3 + u2_1_4 + u2_1_5 + u2_2_3 + u2_2_4 + u2_2_5 + u2_3_4 + u2_3_5 + u2_4_5)::BIGINT AS jt2,
        |    (m1 + m2 + m3 + m4 + m5)::BIGINT AS n,
        |    (m1 * m1 + m2 * m2 + m3 * m3 + m4 * m4 + m5 * m5)::BIGINT AS ssq,
        |    (m1 * m1 * (2 * m1 + 3) + m2 * m2 * (2 * m2 + 3) + m3 * m3 * (2 * m3 + 3) + m4 * m4 * (2 * m4 + 3) + m5 * m5 * (2 * m5 + 3))::BIGINT AS ssqn FROM one)
        |SELECT n, jt2,
        |  CAST(round(1000.0 *
        |    (CAST(jt2 AS DOUBLE) / 2.0 -
        |    (CAST(n AS DOUBLE) * n - ssq) / 4.0) /
        |    sqrt((CAST(n AS DOUBLE) * n * (2.0 * n + 3) - ssqn)
        |    / 72.0)) AS BIGINT) AS z_milli
        |FROM f""".stripMargin,
  )
}
