package graft.queries

import graft.Materialize.TrunkCheckpointOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{AsOfJoin, ConnectedComponents, Hashing, PageRank,
  RangeJoin, ScaleWindows, Sketches}

/** Scale-path operators (round 2, beyond the reference's surface): the
  * join/aggregate shapes a 100 TB training-data or analytics run needs
  * that neither vanilla Spark SQL nor the reference expresses directly.
  * Every query is DuckDB-oracle-backed; the oracle states the semantics
  * in an independent formulation (correlated joins, recursive CTEs,
  * engine-native window frames) while the Spark side uses the plan that
  * survives scale (union-sweep as-of, bucketed band join, register
  * sketches, iterative label propagation).
  */
object Scale {

  /** q50 — backward as-of join (event attribution): every purchase is
    * attributed to the user's latest preceding-or-simultaneous click.
    * Runs on the NATIVE whole-operator exec (plans.AsOfJoinExec —
    * per-side shuffles + streaming two-pointer merge), so the DuckDB
    * oracle (naive join+argmax formulation) gates the custom operator
    * directly; equality with the union-sweep window form is
    * spec-asserted in ScaleSpec. */
  val asofJoin: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "events")
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id")
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id")
    AsOfJoin.backwardNative(purchases, clicks, Seq("user_id"), "ts",
        "event_id", Seq("event_id", "ts"))
      .select($"event_id".as("purchase_id"), $"user_id",
        $"asof_event_id".as("click_event_id"),
        (unix_micros($"ts") - unix_micros($"asof_ts")).as("gap_us"))
  }

  /** q81 — as-of attribution with a tolerance window (the marketing
    * "click within 1 hour" rule): same native as-of join as q50, then
    * matches older than the window are nulled out. Equivalent to
    * constraining the join itself — the latest click ≤ t is also the
    * latest within [t−tol, t] whenever one exists — so the plan stays
    * the two-exchange native merge with a post-projection, no extra
    * join. */
  val asofTolerance: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "events")
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id")
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id")
    val inWindow = $"asof_ts" >= $"ts" - expr("INTERVAL 1 HOUR")
    AsOfJoin.backwardNative(purchases, clicks, Seq("user_id"), "ts",
        "event_id", Seq("event_id", "ts"))
      .select($"event_id".as("purchase_id"), $"user_id",
        when(inWindow, $"asof_event_id").as("click_event_id"),
        when(inWindow,
          unix_micros($"ts") - unix_micros($"asof_ts")).as("gap_us"),
        coalesce(inWindow, lit(false)).as("attributed"))
  }

  /** q82 — FORWARD as-of (next-event attribution): each purchase linked
    * to the user's earliest error at-or-after it — "did the purchase
    * flow break afterwards". Forward is backward on the negated
    * timeline, so the same native exec serves both directions (the
    * time column is a plain long here; the operator is
    * type-generic). Ties at the same microsecond resolve to the larger
    * event id (documented tie policy). */
  val asofForward: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "events")
    def side(t: String) = e.filter($"event_type" === t)
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_id",
        (-unix_micros($"ts")).as("tneg"))
    AsOfJoin.backwardNative(side("purchase"), side("error"),
        Seq("user_id"), "tneg", "event_id", Seq("event_id", "tus"))
      .select($"event_id".as("purchase_id"), $"user_id",
        $"asof_event_id".as("next_error_id"),
        ($"asof_tus" - $"tus").as("wait_us"))
  }

  /** q92 — q50 through the ASOF JOIN SQL syntax (GraftSqlParser): the
    * statement text parses into the same AsOfJoinPlan/Exec the API
    * builds, proving the SQL surface end-to-end against the identical
    * DuckDB oracle. */
  val asofSql: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "events")
    e.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id")
      .createOrReplaceTempView("asof_sql_probes")
    e.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id")
      .createOrReplaceTempView("asof_sql_quotes")
    s.sql(
      """SELECT * FROM asof_sql_probes ASOF JOIN asof_sql_quotes
        |  ON asof_sql_probes.user_id = asof_sql_quotes.user_id
        |  AND asof_sql_probes.ts >= asof_sql_quotes.ts
        |  TIEBREAK event_id PAYLOAD event_id, ts""".stripMargin)
      .select($"event_id".as("purchase_id"), $"user_id",
        $"asof_event_id".as("click_event_id"),
        (unix_micros($"ts") - unix_micros($"asof_ts")).as("gap_us"))
  }

  /** q453 — KMV (min-K / theta-style) sketch SET OPERATIONS: union and
    * intersection cardinality of the click-user and purchase-user sets
    * estimated from two 64-value bottom-k hash sketches, scored
    * against the exact counts in the same row. This is the set-algebra
    * tier the sketch family lacked: HLL union (q52) and
    * inclusion-exclusion intersection (q217) exist, but KMV sketches
    * compose set ops directly — k smallest of (A ∪ B) = k smallest of
    * (sk(A) ∪ sk(B)), and the intersection estimate is the matched
    * fraction of the union sketch times its cardinality estimate
    * (Beyer et al. 2007). Hashes truncate to 48 bits so every value is
    * exact in the sketch's double buffer; the estimator divides the
    * same two exact numbers on both engines; fraction math is integer
    * micro division. Scale: each side is ONE ≤64-pair mergeable buffer
    * through the exchange (the streaming-capable MinKSampleAgg), built
    * over the distinct-hash frame — O(users) map-side, O(k) reduce. */
  val kmvSetOps: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val KmvK = 64
    val Kmv48 = 281474976710656L // 2^48: exact in a double
    val e = Tables(s, dir, "events")
    def sketch(t: String, out: String) = {
      val h = e.filter($"event_type" === t)
        .select((Hashing.hash60($"user_id".cast("string")) % Kmv48)
          .as("h")).distinct()
      val agg = ColumnBridge.column(graft.expressions.MinKSampleAgg(
        ColumnBridge.expression($"h"),
        ColumnBridge.expression($"h".cast("double")), KmvK)
        .toAggregateExpression())
      // GLOBAL agg (one row even on an empty slice — DuckDB's ungrouped
      // semantics; a groupBy on a synthetic key would return ZERO rows
      // and silently empty the whole query), with empty → NULL so both
      // engines null-propagate identically through the union sketch
      h.agg(agg.as(out))
        .select(when(size(col(out)) === 0, lit(null)).otherwise(col(out))
          .as(out))
    }
    val exact = e.filter($"event_type".isin("click", "purchase"))
      .select($"event_type", $"user_id").distinct()
      .agg(
        sum(when($"event_type" === "click", 1L).otherwise(0L))
          .as("n_click_exact"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("n_purchase_exact"),
        countDistinct($"user_id").as("union_exact"))
      .select($"n_click_exact", $"n_purchase_exact", $"union_exact",
        ($"n_click_exact" + $"n_purchase_exact" - $"union_exact")
          .as("inter_exact"))
    sketch("click", "ska").crossJoin(sketch("purchase", "skb"))
      .select(
        slice(array_sort(array_distinct(concat($"ska", $"skb"))), 1, KmvK)
          .as("uk"), $"ska", $"skb")
      .select($"ska", $"skb", $"uk", size($"uk").as("usz"),
        element_at($"uk", size($"uk")).as("kth"))
      .select(
        when($"usz" < KmvK, $"usz".cast("long"))
          .otherwise(round(lit((KmvK - 1).toDouble) * lit(Kmv48.toDouble)
            / $"kth").cast("long")).as("union_est"),
        size(array_intersect(array_intersect($"ska", $"skb"), $"uk"))
          .cast("long").as("matched"),
        $"usz".cast("long").as("usz"))
      .select($"union_est",
        expr("matched * 1000000 div usz").as("jaccard_micro"),
        expr("matched * union_est div usz").as("inter_est"))
      .crossJoin(broadcast(exact))
  }

  private val sqlKmvSetOps: String = {
    val h = Hashing.sqlHash60("CAST(user_id AS VARCHAR)")
    s"""WITH ah AS (SELECT DISTINCT ($h % 281474976710656) AS h
       |  FROM events WHERE event_type = 'click'),
       |bh AS (SELECT DISTINCT ($h % 281474976710656) AS h
       |  FROM events WHERE event_type = 'purchase'),
       |ska AS (SELECT list_sort(list(h))[1:64] AS a FROM ah),
       |skb AS (SELECT list_sort(list(h))[1:64] AS b FROM bh),
       |u AS (SELECT a, b,
       |    list_sort(list_distinct(list_concat(a, b)))[1:64] AS uk
       |  FROM ska CROSS JOIN skb),
       |est AS (SELECT
       |    CASE WHEN len(uk) < 64 THEN len(uk)::BIGINT
       |      ELSE CAST(round(CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
       |        / CAST(uk[len(uk)] AS DOUBLE))
       |        AS BIGINT) END AS union_est,
       |    len(list_intersect(list_intersect(a, b), uk))::BIGINT
       |      AS matched,
       |    len(uk)::BIGINT AS usz
       |  FROM u),
       |exact AS (SELECT
       |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
       |      AS n_click_exact,
       |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      ::BIGINT AS n_purchase_exact,
       |    count(DISTINCT user_id)::BIGINT AS union_exact
       |  FROM (SELECT DISTINCT event_type, user_id FROM events
       |        WHERE event_type IN ('click', 'purchase')))
       |SELECT union_est, matched * 1000000 // usz AS jaccard_micro,
       |  matched * union_est // usz AS inter_est,
       |  n_click_exact, n_purchase_exact, union_exact,
       |  n_click_exact + n_purchase_exact - union_exact AS inter_exact
       |FROM est CROSS JOIN exact""".stripMargin
  }

  /** q450 — skew-safe JOIN through the salting path, oracle-gated (the
    * join-side counterpart of q83's salted aggregation; until now
    * saltedEquiJoin was only row-count spec-asserted): events keyed on
    * q83's 80%-hot synthetic key join a per-key attribute dim via
    * fact-salt + dim-replicate-S×, spreading the hot key over S
    * reducers — the rewrite for broadcast-ineligible dims where AQE's
    * sort-merge skew split doesn't apply. The salt column is derived
    * from runtime row position (nondeterministic), so the gate is the
    * point: the aggregated RESULT must be bit-identical to the plain
    * join the oracle runs, whatever the salt assignment. */
  val saltedJoin: Q = (s, dir) => {
    import s.implicits._
    val hot = when($"user_id" % 10 < 8, lit("hot"))
      .otherwise($"user_id".cast("string"))
    val e = Tables(s, dir, "events")
      .select(hot.as("k"), round($"value" * 100).cast("long").as("cents"))
    val dim = e.groupBy($"k").agg(max($"cents").as("max_cents"))
    graft.functions.Skew.saltedEquiJoin(e, dim, "k", 8)
      .groupBy($"k")
      .agg(count(lit(1)).as("n_events"), sum($"cents").as("sum_cents"),
        min($"max_cents").as("max_cents"))
      .orderBy($"k")
  }

  private val sqlSaltedJoin =
    """WITH e AS (SELECT CASE WHEN user_id % 10 < 8 THEN 'hot'
      |    ELSE CAST(user_id AS VARCHAR) END AS k,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |dim AS (SELECT k, max(cents)::BIGINT AS max_cents
      |  FROM e GROUP BY k)
      |SELECT e.k, count(*)::BIGINT AS n_events,
      |  sum(cents)::BIGINT AS sum_cents,
      |  min(max_cents)::BIGINT AS max_cents
      |FROM e JOIN dim ON e.k = dim.k
      |GROUP BY e.k ORDER BY e.k""".stripMargin

  /** q445 — NEAREST as-of (either direction): each purchase linked to
    * its user's closest click in absolute time, completing the as-of
    * family (q50 backward, q81 tolerance, q82 forward). Two passes of
    * the same native exec — backward on the real timeline, forward as
    * backward on the negated one — joined on the unique probe id;
    * equal gaps prefer the backward match (documented tie policy; at
    * the same microsecond both passes resolve to the same largest
    * event id, so the preference is consistent). Three keyed
    * shuffles total, no fan-out — the naive formulation is an
    * O(purchases × clicks) range join. */
  val asofNearest: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "events")
    def side(t: String) = e.filter($"event_type" === t)
      .select($"user_id", $"ts", $"event_id",
        unix_micros($"ts").as("tus"), (-unix_micros($"ts")).as("tneg"))
    val purchases = side("purchase")
    val clicks = side("click")
    val b = AsOfJoin.backwardNative(
        purchases.select($"user_id", $"ts", $"event_id"),
        clicks.select($"user_id", $"ts", $"event_id"),
        Seq("user_id"), "ts", "event_id", Seq("event_id", "ts"))
      .select($"event_id".as("purchase_id"), $"user_id",
        $"asof_event_id".as("b_id"),
        (unix_micros($"ts") - unix_micros($"asof_ts")).as("b_gap"))
    val f = AsOfJoin.backwardNative(
        purchases.select($"user_id", $"tneg", $"event_id", $"tus"),
        clicks.select($"user_id", $"tneg", $"event_id", $"tus"),
        Seq("user_id"), "tneg", "event_id", Seq("event_id", "tus"))
      .select($"event_id".as("purchase_id"),
        $"asof_event_id".as("f_id"), ($"asof_tus" - $"tus").as("f_gap"))
    val useB = $"f_id".isNull || ($"b_id".isNotNull && $"b_gap" <= $"f_gap")
    // inner join is safe ONLY because backwardNative is left-outer over
    // probes (every probe emitted, null payload when unmatched — pinned
    // by PropertySpec's as-of replay and ScaleSpec's keyset assertion);
    // if that contract ever weakened, this would DROP purchases with no
    // backward click instead of null-padding them
    b.join(f, Seq("purchase_id"))
      .select($"purchase_id", $"user_id",
        when(useB, $"b_id").otherwise($"f_id").as("nearest_click_id"),
        when(useB, $"b_gap").otherwise($"f_gap").as("gap_us"),
        when($"b_id".isNull && $"f_id".isNull, lit(null).cast("string"))
          .when(useB, "before").otherwise("after").as("side"))
  }

  private val sqlAsofNearest =
    """WITH p AS (SELECT event_id, user_id, ts FROM events
      |  WHERE event_type = 'purchase'),
      |c AS (SELECT event_id, user_id, ts FROM events
      |  WHERE event_type = 'click'),
      |cand AS (SELECT p.event_id AS purchase_id,
      |    c.event_id AS click_id,
      |    abs(epoch_us(c.ts) - epoch_us(p.ts))::BIGINT AS gap_us,
      |    CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END AS is_after,
      |    row_number() OVER (PARTITION BY p.event_id
      |      ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)),
      |        CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END,
      |        c.event_id DESC) AS rn
      |  FROM p JOIN c ON p.user_id = c.user_id)
      |SELECT p.event_id AS purchase_id, p.user_id,
      |  w.click_id AS nearest_click_id, w.gap_us,
      |  CASE WHEN w.is_after = 0 THEN 'before'
      |    WHEN w.is_after = 1 THEN 'after' END AS side
      |FROM p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) w
      |  ON p.event_id = w.purchase_id""".stripMargin

  /** q83 — skew-safe aggregation through the salting path, oracle-gated:
    * a synthetically skewed key (80% of events collapse onto one hot
    * key) is counted via `Skew.saltedCount` — phase 1 spreads the hot
    * key over (key, salt) reducers, phase 2 merges per key — and the
    * oracle is the plain GROUP BY, proving the two-phase rewrite is
    * result-identical. At 100 TB this is the aggregation shape AQE
    * cannot fix (skew-split only covers sort-merge joins); the salt
    * bounds any single reducer at 1/saltFactor of the hot key. */
  val saltedAgg: Q = (s, dir) => {
    import s.implicits._
    val skewed = Tables(s, dir, "events")
      .select(when($"user_id" % 10 < 8, lit("hot"))
        .otherwise($"user_id".cast("string")).as("k"))
    graft.functions.Skew.saltedCount(skewed, "k", 16)
      .select($"k", $"cnt")
  }

  /** q51 — keyless band join: for each error event, how many purchases
    * (any user) happened within ±120 s. Bucketized equi-join (see
    * RangeJoin) instead of the nested-loop plan Spark would pick for the
    * bare inequality predicate. */
  val rangeJoin: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "events")
    val errors = e.filter($"event_type" === "error")
      .select($"event_id".as("e_id"), $"ts".as("e_ts"))
    val purchases = e.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"ts".as("p_ts"))
    val bandUs = 120L * 1000000L
    val counts = RangeJoin
      .pairsWithinBand(errors, "e_ts", purchases, "p_ts", bandUs)
      .groupBy($"e_id").agg(count(lit(1)).as("n_nearby"))
    errors.select($"e_id").join(counts, Seq("e_id"), "left")
      .select($"e_id".as("event_id"),
        coalesce($"n_nearby", lit(0L)).as("n_nearby"))
  }

  /** q52 — HLL distinct-count sketch next to the exact count: distinct
    * users per event type. The sketch shuffles ≤1024 register rows per
    * group no matter the cardinality — the 100 TB path — and, being
    * built on the portable hash60, is hash-exact against the identical
    * algorithm in DuckDB (see Sketches). */
  val hllDistinct: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "events")
    val exact = e.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"))
    val est = Sketches.hllDistinct(
      e.select($"event_type", $"user_id"),
      "event_type", $"user_id".cast("string"))
    // the TypedImperativeAggregate form rides alongside: bit-identical
    // by construction (see expressions.HllSketchAgg), so the oracle
    // simply asserts hll_agg_est = hll_est — the custom aggregate is
    // correctness-gated, not just spec-tested
    val estAgg = Sketches.hllDistinctAgg(
        e.select($"event_type", $"user_id"),
        "event_type", $"user_id".cast("string"))
      .withColumnRenamed("hll_est", "hll_agg_est")
    exact.join(est, Seq("event_type")).join(estAgg, Seq("event_type"))
      .select($"event_type", $"exact_users", $"hll_est", $"hll_agg_est")
  }

  /** q217 — HLL set-INTERSECTION estimate (audience overlap — "how
    * many users both click and purchase" without ever shuffling a
    * distinct-user set): inclusion–exclusion over three sketches,
    * |A∩B| ≈ est(A) + est(B) − est(A∪B), where the union sketch is
    * NOT a re-scan — registers max-MERGE (the q125 rollup property),
    * so A∪B costs one groupBy over the ≤2·1024 register rows. This is
    * the operation sketch stores exist for: any pairwise overlap in a
    * segment cube from O(m) state per segment. Exact intersection
    * rides along as the audit column (feasible at test SF). */
  val hllIntersection: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "events")
      .filter($"event_type".isin("click", "purchase"))
      .select($"event_type", $"user_id")
    val regs = Sketches.hllRegisters(e, "event_type",
      $"user_id".cast("string")).trunkCheckpoint()
    val regsU = regs.groupBy($"b").agg(max($"r").as("r"))
      .select(lit("union").as("event_type"), $"b", $"r")
    val est = Sketches.hllEstimate(regs.unionByName(regsU),
      "event_type")
    val a = est.filter($"event_type" === "click")
      .select($"hll_est".as("est_a"))
    val b = est.filter($"event_type" === "purchase")
      .select($"hll_est".as("est_b"))
    val u = est.filter($"event_type" === "union")
      .select($"hll_est".as("est_union"))
    val exact = e.groupBy($"user_id")
      .agg(countDistinct($"event_type").as("nt")).filter($"nt" === 2)
      .agg(count(lit(1)).as("exact_inter"))
    a.crossJoin(broadcast(b)).crossJoin(broadcast(u))
      .crossJoin(broadcast(exact))
      .select($"est_a", $"est_b", $"est_union",
        round($"est_a" + $"est_b" - $"est_union", 4).as("inter_est"),
        $"exact_inter")
  }

  /** q53 — SCD type-2 history build: collapse each user's event stream
    * into status runs with [valid_from, valid_to) intervals and an
    * is_current flag — the warehouse dimension-maintenance pattern,
    * done as gaps-and-islands (lag + running sum) in one pass. */
  val scd2History: Q = (s, dir) => {
    import s.implicits._
    val wOrd = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"event_id".asc)
    val runs = Tables(s, dir, "events")
      .withColumn("prev_type", lag($"event_type", 1).over(wOrd))
      .withColumn("chg",
        when($"prev_type".isNull || $"prev_type" =!= $"event_type", 1)
          .otherwise(0))
      .withColumn("run_id", sum($"chg").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val grouped = runs.groupBy($"user_id", $"run_id")
      .agg(min($"event_type").as("status"), // constant within a run
        date_trunc("second", min($"ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
    val wRun = Window.partitionBy($"user_id").orderBy($"run_id".asc)
    grouped
      .withColumn("valid_to", lead($"valid_from", 1).over(wRun))
      .select($"user_id", $"run_id", $"status", $"valid_from",
        $"valid_to", $"valid_to".isNull.as("is_current"), $"n_events")
  }

  /** q54 — exact quantiles per group (sort-based `percentile`; at
    * 100 TB swap in approx_percentile/t-digest — QuantilesSpec bounds
    * the error of that swap). Values sit on a 2-dec grid and the
    * interpolation fractions on a 2-dec grid, so round(,4) lands both
    * engines on the same 4-dec grid point despite different
    * interpolation arithmetic. */
  val quantiles: Q = (s, dir) => {
    import s.implicits._
    val names = Seq("p25", "p50", "p75", "p95")
    val ps = Seq(0.25, 0.5, 0.75, 0.95)
    // single array-percentile aggregate: one sort buffer per group
    // instead of four
    val grouped = Tables(s, dir, "lineitem").groupBy($"l_returnflag")
      .agg(percentile($"l_extendedprice",
        array(ps.map(lit): _*)).as("qq"),
        count(lit(1)).as("n_rows"))
    grouped.select(
      $"l_returnflag" +:
        names.zipWithIndex.map { case (n, i) =>
          round(element_at($"qq", i + 1), 4).as(n)
        } :+ $"n_rows": _*)
  }

  /** q96 — grouped quantiles from the deterministic min-hash sample
    * ([[Sketches.sampleQuantiles]]): q54's exact percentile shuffles
    * every row per group; this shuffles ≤64 rows per group per
    * partition (WindowGroupLimit) and is still bit-reproducible
    * cross-engine — the 100 TB grouped-quantile path when
    * approx_percentile's arrival-order nondeterminism is unacceptable.
    * Sample error vs exact bounded in ScaleSpec. */
  val sampleQuantiles: Q = (s, dir) => {
    import s.implicits._
    val grouped = Sketches.sampleQuantiles(
      Tables(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
      concat(lit("qsample|"), $"l_orderkey".cast("string"), lit("|"),
        $"l_linenumber".cast("string")),
      Seq(0.5, 0.95), k = 64)
    grouped.select($"l_returnflag",
      round(element_at($"_qq", 1), 4).as("p50_est"),
      round(element_at($"_qq", 2), 4).as("p95_est"),
      $"n_sampled")
  }

  /** q55 — near-dup clustering: the MinHash+LSH candidate pairs of q23
    * (Jaccard ≥ 0.5) closed into connected components by min-label
    * propagation, sized per cluster — LSH finds PAIRS; keep-one-per-
    * cluster dedup needs their transitive closure. Oracle: recursive
    * CTE over the identical pair set. */
  /** Shared by q55/q87: the near-dup graph in COLLAPSED form — verified
    * rep-level pairs plus a member→rep star per duplicate group. Same
    * connectivity as the full expanded pair list (copies reach their
    * rep directly, rep pairs carry the cross-group reachability), at
    * O(distinct-texts) edges instead of O(copies²). */
  private def dupEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val groups = TrainingData.nearDupGroups(s, dir)
    val repPairs = TrainingData.repCandidates(groups)
      .filter(round(graft.functions.Dedup.jaccard($"sa_set", $"sb_set"),
        6) >= 0.5)
      .select($"doc_a".as("src"), $"doc_b".as("dst"))
    val star = groups.select($"rep_id", explode($"ids").as("m"))
      .filter($"m" =!= $"rep_id")
      .select($"rep_id".as("src"), $"m".as("dst"))
    repPairs.unionByName(star)
  }

  val dupClusters: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "documents").select($"doc_id")
    val nodes = d.unionByName(
        d.select(($"doc_id" + TrainingData.TwinOffset).as("doc_id")))
      .select($"doc_id".as("id"))
    val labels = ConnectedComponents.minLabel(nodes, dupEdges(s, dir))
    val sizes = labels.groupBy($"component")
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("component"))
      .select($"id".as("doc_id"), $"component", $"cluster_size")
  }

  /** q120 — canonical-representative selection over q55's near-dup
    * clusters: dedup that KEEPS THE BEST copy, not an arbitrary one.
    * Production pipelines pick the cluster survivor by a quality
    * signal (q85's min-id rule keeps whichever arrived first); here
    * each cluster's argmax by type-token ratio (distinct-token
    * fraction, an exact-integer lexical-diversity score) survives,
    * ties to the lowest doc_id. One quality map pass over the corpus,
    * one join onto the labels, one WindowGroupLimit argmax per
    * component — the rank cuts to ≤1 row per cluster before the
    * exchange. Output keeps every row with its keep verdict, the
    * auditable form (dropped docs stay visible with their losing
    * scores). */
  val clusterRepresentative: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "documents").select($"doc_id", $"text")
    val corpus = d.unionByName(d.select(
      ($"doc_id" + TrainingData.TwinOffset).as("doc_id"),
      concat($"text", lit(TrainingData.TwinSuffix)).as("text")))
    val toks = graft.functions.TextOps.tokens($"text")
    val quality = corpus
      .select($"doc_id",
        (lit(1000000L) * size(array_distinct(toks)).cast("long"))
          .as("num"),
        size(toks).cast("long").as("den"))
      .filter($"den" > 0)
      .select($"doc_id", expr("num div den").as("q_micro"))
    val w = Window.partitionBy($"component")
      .orderBy($"q_micro".desc, $"doc_id".asc)
    dupClusters(s, dir).join(quality, Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select($"doc_id", $"component", $"cluster_size", $"q_micro",
        $"keep")
  }

  /** q87 — q55's near-dup clusters computed by the alternating
    * large-star/small-star contraction instead of min-label rounds:
    * the billion-node path (O(log² n) rounds regardless of component
    * diameter — a web-scale link graph has chains min-label would walk
    * hop by hop). Identical (doc_id, component, cluster_size) output,
    * same recursive-CTE oracle as q55. */
  val dupClustersStar: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "documents").select($"doc_id")
    val nodes = d.unionByName(
        d.select(($"doc_id" + TrainingData.TwinOffset).as("doc_id")))
      .select($"doc_id".as("id"))
    val labels = ConnectedComponents.largeSmallStar(nodes,
      dupEdges(s, dir))
    val sizes = labels.groupBy($"component")
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("component"))
      .select($"id".as("doc_id"), $"component", $"cluster_size")
  }

  /** q89 — fixed-point PageRank, 2 power iterations over the bidirected
    * supplier⇄part co-occurrence graph from lineitem (domain-authority
    * centrality as a curation quality prior). Integer micro-unit ranks
    * make distributed sums bit-exact — the oracle is the identical
    * arithmetic in SQL, not a float approximation. */
  val pagerank: Q = (s, dir) => {
    import s.implicits._
    val e0 = GraphTrunk.suppPartEdges(s, dir)
    val edges = e0.unionByName(
      e0.select($"dst".as("src"), $"src".as("dst")))
    PageRank.ranks(edges, iters = 2)
      .select($"id".as("node_id"), $"rank")
  }

  /** q196 — HITS hubs & authorities over the DIRECTED supplier→part
    * bipartite graph (same node encoding as q89): suppliers are hubs
    * (they "point at" the parts they stock), parts are authorities.
    * Two fixed-point iterations of functions.Hits — per half-round
    * one co-partitioned join + partial-aggregated long sum, then an
    * L1 re-scale by a one-row decimal(38,0) broadcast (integral
    * division; L2's sqrt would put a float inside the loop). Scores
    * are bit-identical under any partitioning, which is what lets
    * this distributed run hash-match the unrolled single-threaded
    * oracle. */
  val hits: Q = (s, dir) => {
    import s.implicits._
    val edges = Tables(s, dir, "lineitem")
      .select($"l_suppkey".as("src"),
        (lit(100000L) + $"l_partkey").as("dst"))
    graft.functions.Hits.scores(edges, iters = 2)
  }

  /** q132 — two-hop neighborhood feature aggregation (the GraphSAGE /
    * message-passing data-prep layer as relational ops): part features
    * (price, size) mean-pooled onto suppliers, supplier summaries
    * mean-pooled back onto parts — h2(part) = mean over its suppliers
    * of mean over their parts. This is how GNN features are
    * materialized from a 100 TB graph before training: each hop is one
    * edge join + one node-keyed aggregate (map-side combined), and hop
    * k+1 reuses hop k's partitioning. Means are exact integer
    * divisions of long sums (cents/size), so the features are
    * bit-stable across runs — training data must not depend on
    * partition order. */
  val graphSage: Q = (s, dir) => {
    import s.implicits._
    val e0 = GraphTrunk.suppPartEdges(s, dir)
      .select($"src".as("supp"), ($"dst" - 100000L).as("part"))
    val pf = Tables(s, dir, "part").select($"p_partkey".as("part"),
      round($"p_retailprice" * 100).cast("long").as("price_c"),
      $"p_size".cast("long").as("psize"))
    val h1 = e0.join(pf, Seq("part"))
      .groupBy($"supp")
      .agg(count(lit(1)).as("n_parts"), sum($"price_c").as("sp"),
        sum($"psize").as("ss"))
      .select($"supp", expr("sp div n_parts").as("h1_price"),
        expr("ss div n_parts").as("h1_size"))
    e0.join(h1, Seq("supp"))
      .groupBy($"part")
      .agg(count(lit(1)).as("n_supps"), sum($"h1_price").as("sp2"),
        sum($"h1_size").as("ss2"))
      .select($"part".as("p_partkey"), $"n_supps",
        expr("sp2 div n_supps").as("h2_price"),
        expr("ss2 div n_supps").as("h2_size"))
  }

  /** q131 — personalized PageRank from the q107 seed suppliers: rank
    * is "relevance to suppliers 1-2" (the related-items / recommender
    * primitive — which parts and suppliers sit closest to these seeds
    * in random-walk reach) rather than q89's global authority.
    * Teleport mass restarts only at the seeds; everything else is
    * q89's integer fixed-point machinery with the same bit-exactness
    * guarantee, unrolled for the same 2 iterations. Nodes unreachable
    * in ≤2 hops hold rank 0 — compare q107's hop labels. */
  val personalizedPagerank: Q = (s, dir) => {
    import s.implicits._
    val e0 = GraphTrunk.suppPartEdges(s, dir)
    val edges = e0.unionByName(e0.select($"dst".as("src"), $"src".as("dst")))
    PageRank.personalizedRanks(edges, col("id") <= 2L, iters = 2)
      .select($"id".as("node_id"), $"rank")
  }

  /** q105 — triangle counting on the part co-purchase graph (parts
    * sharing an order), the third classic graph kernel beside CC
    * (q55/q87/q99) and PageRank (q89). Edges are oriented from the
    * lower-(degree, id) endpoint to the higher (Schank–Wagner
    * node-iterator orientation): every triangle then has exactly ONE
    * source node, and the wedge self-join is bounded by Σ out-deg²
    * with out-degree ≤ O(√m) — the property that keeps the join finite
    * on power-law graphs, where naive id-ordering explodes at the hubs
    * (a celebrity node with 10⁶ followers contributes 10¹² id-ordered
    * wedges but only √-bounded degree-ordered ones). All joins are
    * equi-joins on node keys; nothing is driver-side. */
  val triangles: Q = (s, dir) => {
    import s.implicits._
    val e = GraphTrunk.coOrderEdges(s, dir)
    val deg = GraphTrunk.coOrderDegrees(s, dir)
    // Edge-iterator with sorted adjacency instead of the wedge self-join:
    // the (deg, id) orientation is a total order, so every triangle is a
    // DAG a→b, a→c, b→c and is found exactly once — on edge (a,b) as
    // c ∈ N⁺(a) ∩ N⁺(b). The wedge join would materialize Σ out-deg²
    // rows through a shuffle (83 M at sf0.1, 23 s); intersecting the two
    // ≤O(√m)-element sorted arrays per EDGE does the same comparisons
    // inside codegen over |E| rows (23.5 s → 3.8 s at sf0.1 with the
    // native intersect below).
    val adj = GraphTrunk.coOrderAdjacency(s, dir)
    // re-derive the edge list by exploding the adjacency itself: each
    // edge row comes out with N⁺(a) already attached (no join), leaving
    // ONE shuffle join to fetch N⁺(b)
    // stated DECLARATIVELY as size(array_intersect(...)) — the injected
    // optimizer rule (plans.IntersectCountRewrite) swaps in the native
    // two-pointer SortedIntersectCount because both sides are
    // sort_array over non-null longs (PlanSpec asserts the rewrite
    // fired); the built-in would hash one side and allocate the
    // intersection per row just to take its length
    val tri = adj
      .select($"nbrs".as("na"), explode($"nbrs").as("b"))
      .join(adj.select($"a".as("b"), $"nbrs".as("nb")), Seq("b"))
      .select(size(array_intersect($"na", $"nb")).as("t"))
      .agg(sum($"t").cast("long").as("n_triangles"))
    val nm = deg.agg(count(lit(1)).as("n_nodes"),
      expr("sum(d * (d - 1)) div 2").as("n_wedges"))
    val em = e.agg(count(lit(1)).as("n_edges"))
    nm.crossJoin(em).crossJoin(tri)
      .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles",
        expr("(3000000 * n_triangles) div n_wedges").as("gcc_micro"))
  }

  /** q476 — DOULION triangle ESTIMATE (Tsourakakis et al., KDD 2009:
    * sparsify by keeping each edge with probability p, count triangles
    * exactly on the sample, scale by 1/p³): the 100-TB posture for the
    * graph-kernel family, whose exact members (q105/q259) are honestly
    * O(m·√m) — the only super-linear-by-nature family in the registry.
    * The sample is the stateless hash60-threshold sparsifier q56/q109
    * use (keep iff hash60('tri|u|v') % 5 = 0, p = 1/5), so both engines
    * draw the IDENTICAL subgraph and the estimate is deterministic —
    * an integer t_s·125, exact-parity with the oracle, no float
    * anywhere. The sampled count runs q105's degree-oriented sorted-
    * adjacency intersect on the sparsified edges (work drops ~p^1.5·m^1.5);
    * the estimator's error vs the exact q105 count is audited in
    * ScaleSpec (gate SFs only) rather than inline — carrying the exact
    * count in the query would re-inherit the O(m·√m) cost the
    * estimator exists to avoid (the r8 100× probe measured exactly
    * that: 127 s with the audit inline vs the estimate path alone). */
  val trianglesSampled: Q = (s, dir) => {
    import s.implicits._
    val e = GraphTrunk.coOrderEdges(s, dir)
    val samp = e.filter(Hashing.hash60(
      concat(lit("tri|"), $"u".cast("string"), lit("|"),
        $"v".cast("string"))) % TriSampleMod === 0)
    val deg = samp.select($"u".as("nid"))
      .unionByName(samp.select($"v".as("nid")))
      .groupBy($"nid").agg(count(lit(1)).as("d"))
    val ori = samp
      .join(deg.select($"nid".as("u"), $"d".as("du")), Seq("u"))
      .join(deg.select($"nid".as("v"), $"d".as("dv")), Seq("v"))
      .select(
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u")
          .otherwise($"v").as("a"),
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v")
          .otherwise($"u").as("b"))
    val adj = ori.groupBy($"a")
      .agg(sort_array(collect_list($"b")).as("nbrs"))
    val ts = adj.select($"nbrs".as("na"), explode($"nbrs").as("b"))
      .join(adj.select($"a".as("b"), $"nbrs".as("nb")), Seq("b"))
      .select(size(array_intersect($"na", $"nb")).as("t"))
      .agg(coalesce(sum($"t"), lit(0L)).cast("long").as("t_sampled"))
    val nSamp = samp.agg(count(lit(1)).as("n_sample_edges"))
    ts.crossJoin(broadcast(nSamp))
      .select($"n_sample_edges", $"t_sampled",
        ($"t_sampled" * lit(TriSampleMod * TriSampleMod * TriSampleMod))
          .as("est_triangles"))
  }

  private val TriSampleMod = 5L

  /** q215 — Adamic–Adar link prediction over the co-order part graph
    * (q105's projection): for part pairs NOT currently connected, the
    * classic common-neighbor score Σ_w 1/ln(deg w) — the first-line
    * recommender / graph-completion baseline. Unlike the triangle
    * count, the candidate set IS the wedge set, so the wedge expansion
    * can't be avoided — it is BOUNDED instead: wedges route only
    * through nodes with deg ∈ [2, 64], which is lossy-by-design in
    * exactly the right way (a hub's 1/ln(deg) contribution is the
    * smallest, and hub wedges are the Σdeg² blow-up term; the cap
    * makes the expansion ≤ 64·|E| at any corpus scale — the standard
    * degree-capped formulation). Per-node weights are micro-quantized
    * BEFORE pair aggregation, so scores are exact long sums —
    * partition-order independent; existing edges leave via equi
    * anti-join; top-20 via TakeOrderedAndProject (no global sort). */
  val adamicAdar: Q = (s, dir) => {
    import s.implicits._
    val e = GraphTrunk.coOrderEdges(s, dir) // shared trunk checkpoint
    val und = e.select($"u".as("w"), $"v".as("n"))
      .unionByName(e.select($"v".as("w"), $"u".as("n")))
    val wt = GraphTrunk.coOrderDegrees(s, dir)
      .select($"nid".as("w"), $"d")
      .filter($"d" >= 2 && $"d" <= 64)
      .select($"w",
        round(lit(1000000.0) / log($"d".cast("double"))).cast("long")
          .as("aa_micro"))
    val capped = und.join(wt, Seq("w"))
    val sc = capped.as("a")
      .join(capped.as("b"), $"a.w" === $"b.w" && $"a.n" < $"b.n")
      .select($"a.n".as("n1"), $"b.n".as("n2"),
        $"a.aa_micro".as("aa_micro"))
      .groupBy($"n1", $"n2")
      .agg(count(lit(1)).as("n_common"),
        sum($"aa_micro").as("aa_score_micro"))
    sc.join(e, sc("n1") === e("u") && sc("n2") === e("v"), "left_anti")
      .orderBy($"aa_score_micro".desc, $"n1".asc, $"n2".asc)
      .limit(20)
  }

  /** q56 — deterministic stratified sampling by hash threshold: 40% of
    * the first five sources, 10% of the rest, with no count, sort, or
    * state — each row decides locally from hash60(doc_id), so the same
    * rows are kept on any cluster size (reproducible corpus splits). */
  val sampleStratified: Q = (s, dir) => {
    import s.implicits._
    val rate = when($"source".isin("src0", "src1", "src2", "src3", "src4"),
      40L).otherwise(10L)
    Tables(s, dir, "documents")
      .filter(Hashing.hash60(concat(lit("sample|"),
        $"doc_id".cast("string"))) % 100 < rate)
      .select($"doc_id", $"source")
  }

  /** q57 — time-window frame aggregate: 7-day trailing average of daily
    * revenue via a RANGE frame over day number (RANGE, not ROWS: gap
    * days must widen, not shift, the window). The window is global but
    * runs on the POST-aggregate frame — one row per day regardless of
    * SF, so the single-partition sort never grows with the data. */
  val movingAvg: Q = (s, dir) => {
    import s.implicits._
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(round(sum($"o_totalprice"), 2).as("daily_revenue"))
      .withColumn("day_num",
        datediff($"day", lit("1995-01-01").cast("date")))
    val w = Window.orderBy($"day_num").rangeBetween(-6, 0)
    daily.select($"day", $"daily_revenue",
      round(round(sum($"daily_revenue").over(w), 2) /
        count(lit(1)).over(w), 6).as("avg_7d"))
  }

  /** q125 — sketch-cube rollup: DAILY distinct-user HLL register
    * tables max-merged into WEEKLY estimates — the pre-aggregation
    * serving pattern where rollups never re-touch raw data. Register
    * max-merge commutes with grain coarsening (max of per-day maxes =
    * max at week grain), so the merged estimate is IDENTICAL to
    * sketching the week directly — which is exactly what the oracle
    * does, proving mergeability end-to-end. At 100 TB the daily
    * register table (≤1024 rows/day) is what lands in the warehouse;
    * weekly/monthly/any rollup is an O(registers) re-aggregation. The
    * exact count rides along as the audit column (q52's pattern). */
  val hllRollup: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "events").select(
      expr("datediff(to_date(ts), date '2024-01-01')").as("day"),
      $"user_id")
    val daily = Sketches.hllRegisters(e, "day",
      $"user_id".cast("string"))
    val weekly = daily.groupBy(expr("day div 7").as("week"), $"b")
      .agg(max($"r").as("r"))
    val est = Sketches.hllEstimate(weekly, "week")
    val exact = e.groupBy(expr("day div 7").as("week"))
      .agg(countDistinct($"user_id").as("exact_users"))
    exact.join(est, Seq("week"))
  }

  /** q139 — string-similarity join with q-gram prefix blocking (the
    * entity-resolution primitive): part names within edit distance 3,
    * found WITHOUT the all-pairs levenshtein cross join. Classic
    * gram-count filtering: two strings within edit distance k must
    * share a character 3-gram unless they're very short, so candidates
    * = name pairs sharing a RARE gram (frequency-capped to keep common
    * grams like "blu" from regenerating the cross join) and only those
    * pairs pay the O(len²) edit-distance verify — at sf0.01 blocking
    * prunes 78% of the pair space before any levenshtein runs. The
    * whole computation rides the DISTINCT-name table (Zipf: 2000 part
    * rows → 64 names), the same pre-aggregation trick as q24/q97. */
  val fuzzyNameJoin: Q = (s, dir) => {
    import s.implicits._
    val names = Tables(s, dir, "part")
      .select($"p_name".as("nm")).distinct()
    val g = names.filter(length($"nm") >= 3)
      .selectExpr("nm",
        "explode(array_distinct(transform(" +
          "sequence(1, cast(length(nm) as int) - 2)," +
          " i -> substring(nm, i, 3)))) AS gr")
    val rare = g.groupBy($"gr").agg(count(lit(1)).as("f"))
      .filter($"f" <= 10).select($"gr")
    val cand = g.as("a").join(rare, Seq("gr")).join(g.as("b"), Seq("gr"))
      .filter(col("a.nm") < col("b.nm"))
      .select(col("a.nm").as("name_a"), col("b.nm").as("name_b"))
      .distinct()
    cand.select($"name_a", $"name_b",
        levenshtein($"name_a", $"name_b").as("edit_dist"))
      .filter($"edit_dist" <= 3)
  }

  /** q474 — as-of TOP-K join (the k-nearest-predecessors completion of
    * the as-of family q50/q81/q82/q92/q445: not just the latest click
    * before each purchase but the last THREE, rank-preserved — the
    * multi-touch attribution shape). The naive form is a per-probe
    * correlated top-k over an unbounded past; the scale plan gives
    * every click its per-user SEQUENCE NUMBER (keyed window), counts
    * clicks at-or-before each purchase with one union-sweep cumulative
    * count over the interleaved stream (the q50 window trick), and
    * then equi-joins purchase × {seq, seq−1, seq−2} on (user, seq) —
    * bounded 3× fan-out, no frame that grows with user activity, no
    * correlated subquery. Ties at the same microsecond follow the
    * as-of family's inclusive ≤ bound with event-id order inside the
    * window sort. Unmatched ranks (fewer than k prior clicks) are
    * dropped — rank presence itself carries the information. */
  val asofTopK: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "events")
    val mixed = e.filter($"event_type".isin("click", "purchase"))
      .select($"user_id", $"ts", $"event_id", $"event_type",
        when($"event_type" === "click", 1L).otherwise(0L).as("is_click"))
    // clicks at-or-before each row, per user (clicks sort before
    // simultaneous purchases via the is_click DESC tiebreak, keeping
    // the family's inclusive bound)
    val wseq = Window.partitionBy($"user_id")
      .orderBy($"ts", $"is_click".desc, $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seqd = mixed.withColumn("cseq", sum($"is_click").over(wseq))
    val clicks = seqd.filter($"event_type" === "click")
      .select($"user_id", $"cseq".as("seq"),
        $"event_id".as("click_id"), $"ts".as("click_ts"))
    val purchases = seqd.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id".as("purchase_id"), $"cseq",
        explode(sequence(lit(0), lit(AsofK - 1))).as("back"))
      .select($"user_id", $"ts", $"purchase_id",
        ($"back" + 1).as("rank_back"), ($"cseq" - $"back").as("seq"))
      .filter($"seq" >= 1)
    purchases.join(clicks, Seq("user_id", "seq"))
      .select($"purchase_id", $"user_id", $"rank_back", $"click_id",
        (unix_micros($"ts") - unix_micros($"click_ts")).as("gap_us"))
  }

  private val AsofK = 3

  private val sqlAsofTopK: String =
    s"""WITH p AS (SELECT event_id, user_id, ts FROM events
       |  WHERE event_type = 'purchase'),
       |c AS (SELECT event_id, user_id, ts FROM events
       |  WHERE event_type = 'click'),
       |ranked AS (SELECT p.event_id AS purchase_id, p.user_id,
       |    c.event_id AS click_id,
       |    CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us,
       |    row_number() OVER (PARTITION BY p.event_id
       |      ORDER BY c.ts DESC, c.event_id DESC) AS rank_back
       |  FROM p JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts)
       |SELECT purchase_id, user_id, CAST(rank_back AS INT) AS rank_back,
       |  click_id, gap_us
       |FROM ranked WHERE rank_back <= $AsofK""".stripMargin

  /** q473 — watermark LATENESS census (the query a streaming team
    * runs BEFORE picking `withWatermark`'s delay: how much event mass
    * arrives more than D behind the stream's high-watermark, for a
    * menu of candidate delays — each row is the exact data loss a
    * delay of D would cause under dropDuplicates/window semantics).
    * The synthetic feed is perfectly time-ordered, so ingest disorder
    * is simulated deterministically: arrival position = event time +
    * a hash-derived jitter of up to 2 h (a replay of the same feed
    * through a jittery transport). The high-watermark at each arrival
    * is a running max of event time over ARRIVAL order — ONE
    * rangeCumMax range exchange, never a single-partition window —
    * and the census is one 6-literal broadcast grid aggregate.
    * Everything is exact microsecond longs. */
  val latenessCensus: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "events").select($"event_id",
      unix_micros($"ts").as("tsus"),
      (unix_micros($"ts") + Hashing.hash60($"event_id".cast("string"),
        9) % LatJitterUs).as("arr"))
    val hw = ScaleWindows.rangeCumMax(e, Seq($"arr", $"event_id"),
      $"tsus", "prevmax")
    val late = hw.select($"event_id",
      greatest(lit(0L), $"prevmax" - $"tsus").as("late_us"))
    val delays = s.range(LatDelaysS.length)
      .select($"id".cast("int").as("delay_idx"))
      .withColumn("delay_s",
        element_at(typedLit(LatDelaysS), $"delay_idx" + 1))
    late.crossJoin(broadcast(delays))
      .groupBy($"delay_idx", $"delay_s")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"late_us" > $"delay_s" * 1000000L, 1L).otherwise(0L))
          .as("n_dropped"))
      .select($"delay_s", $"n_events", $"n_dropped",
        expr("(n_dropped * 1000000) div n_events").as("dropped_micro"))
      .orderBy($"delay_s")
  }

  private val LatJitterUs = 7200000000L // ≤ 2 h simulated ingest jitter
  private val LatDelaysS: Seq[Long] = Seq(0L, 60L, 300L, 900L, 3600L, 7200L)

  private val sqlLatenessCensus: String = {
    val h = Hashing.sqlHash60("CAST(event_id AS VARCHAR)", 9)
    val delays = LatDelaysS.mkString("[", ", ", "]")
    s"""WITH e AS (SELECT event_id, epoch_us(ts) AS tsus,
       |    epoch_us(ts) + $h % $LatJitterUs AS arr
       |  FROM events),
       |hw AS (SELECT event_id, tsus,
       |    coalesce(max(tsus) OVER (ORDER BY arr, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      tsus) AS prevmax
       |  FROM e),
       |late AS (SELECT event_id,
       |    greatest(0, prevmax - tsus) AS late_us FROM hw),
       |delays AS (SELECT unnest($delays)::BIGINT AS delay_s)
       |SELECT delay_s, count(*)::BIGINT AS n_events,
       |  sum(CASE WHEN late_us > delay_s * 1000000 THEN 1 ELSE 0 END)
       |    ::BIGINT AS n_dropped,
       |  ((sum(CASE WHEN late_us > delay_s * 1000000 THEN 1 ELSE 0
       |    END) * 1000000) // count(*))::BIGINT AS dropped_micro
       |FROM late CROSS JOIN delays
       |GROUP BY delay_s ORDER BY delay_s""".stripMargin
  }

  /** q466 — alias/redirect RESOLUTION by pointer doubling (the
    * Wyllie/Jaja list-ranking primitive — the parallel form of
    * union-find path compression): every alias record points at one
    * predecessor (canonical-URL redirects, merged-account links,
    * superseded document versions), forming a functional forest, and
    * each alias must resolve to its terminal root WITH its chain
    * depth. Sequential chain-walking is O(chain) round trips; pointer
    * doubling squares the jump table each round — f ← f∘f, d ← d +
    * d∘f — so ⌈log₂ L⌉ keyed self-joins resolve every chain of length
    * ≤ L (4 rounds cover this forest's ≤15-hop chains; the round
    * count is the only thing that grows with chain length, never the
    * row count). This is a DIFFERENT primitive from q55/q87/q99's
    * min-label closure: functional graphs need no label voting — each
    * round is one equi-join, and depth rides along exactly. The alias
    * forest derives deterministically from customer ids (roots at
    * id ≡ 0 mod 16; parent steps hash-sized but block-bounded so
    * chains stay inside their 16-id block); the oracle walks the same
    * chains one hop at a time by recursive CTE — an independent
    * sequential formulation gating the doubling algebra. */
  val aliasResolution: Q = (s, dir) => {
    import s.implicits._
    val ids = Tables(s, dir, "customer").select($"c_custkey".as("id"))
    val step = lit(1) + Hashing.hash60(concat($"id".cast("string"),
      lit("|p"))) % ($"id" % 16)
    val aliases = ids.select($"id",
      when($"id" % 16 === 0, $"id").otherwise($"id" - step).as("parent"))
    var f = aliases.select($"id", $"parent".as("nxt"),
      when($"parent" === $"id", 0L).otherwise(1L).as("depth"))
    for (_ <- 1 to AliasRounds) {
      val g = f.select($"id".as("g_id"), $"nxt".as("g_nxt"),
        $"depth".as("g_depth"))
      // left join: a pointer to an id absent from the table (possible
      // on non-contiguous id spaces) is terminal, same as the oracle's
      // chain walk simply stopping there
      f = f.join(g, $"nxt" === $"g_id", "left")
        .select($"id", coalesce($"g_nxt", $"nxt").as("nxt"),
          ($"depth" + coalesce($"g_depth", lit(0L))).as("depth"))
    }
    f.select($"id".as("alias_id"), $"nxt".as("root_id"), $"depth")
      .orderBy($"alias_id")
  }

  private val AliasRounds = 4 // 2^4 ≥ the forest's max chain length 15

  private val sqlAliasResolution: String = {
    val h = Hashing.sqlHash60("CAST(id AS VARCHAR) || '|p'")
    s"""WITH RECURSIVE al AS (
       |  SELECT c_custkey AS id,
       |    CASE WHEN c_custkey % 16 = 0 THEN c_custkey
       |      ELSE c_custkey - (1 + $h % (c_custkey % 16)) END AS parent
       |  FROM (SELECT c_custkey, c_custkey AS id FROM customer) t),
       |w AS (
       |  SELECT id, id AS cur, 0 AS depth FROM al
       |  UNION ALL
       |  SELECT w.id, a.parent AS cur, w.depth + 1 AS depth
       |  FROM w JOIN al a ON a.id = w.cur
       |  WHERE a.parent <> a.id),
       |r AS (SELECT id, cur, depth,
       |    row_number() OVER (PARTITION BY id ORDER BY depth DESC)
       |      AS rnk
       |  FROM w)
       |SELECT id AS alias_id, cur AS root_id, CAST(depth AS BIGINT)
       |  AS depth
       |FROM r WHERE rnk = 1 ORDER BY alias_id""".stripMargin
  }

  /** q462 — declarative recursive-CTE reachability (the WITH RECURSIVE
    * SQL surface, executed by Spark 4's UnionLoop): BFS depth from the
    * seed users (id ≡ 0 mod 50) over the handoff graph — consecutive
    * events on the same props-k channel hand off src→dst. This is the
    * same algorithm class as q107's hand-rolled driver loop, but the
    * fixpoint is stated in SQL and iterated by the engine; the oracle
    * runs the IDENTICAL statement in DuckDB, gating Spark's recursion
    * semantics (working set = previous step's rows) directly. The
    * recursive step dedups its frontier (SELECT DISTINCT), so each
    * iteration is bounded by NODE count — without it the step would
    * enumerate paths (degree^depth; this graph's mean degree is ~50).
    * Scale: edges build from one keyed window (channel-partitioned);
    * each iteration is one equi-join of an O(nodes) frontier against
    * the edge table; depth is capped at $ReachMaxDepth. */
  val recursiveReach: Q = (s, dir) => {
    Tables(s, dir, "events").createOrReplaceTempView("rr_events")
    s.sql(sqlRecursiveReach("rr_events"))
  }

  private val ReachMaxDepth = 4
  /** One statement, two engines: the table name is the only difference. */
  private def sqlRecursiveReach(tbl: String): String =
    s"""WITH RECURSIVE edges AS (
       |  SELECT src, dst FROM (
       |    SELECT user_id AS src,
       |      lead(user_id) OVER (PARTITION BY k ORDER BY ts, event_id)
       |        AS dst
       |    FROM (SELECT user_id, ts, event_id,
       |            CAST(regexp_extract(props, '[0-9]+', 0) AS INT) AS k
       |          FROM $tbl) t) x
       |  WHERE dst IS NOT NULL AND dst <> src
       |  GROUP BY src, dst),
       |seeds AS (SELECT DISTINCT user_id AS node FROM $tbl
       |  WHERE user_id % 50 = 0),
       |reach AS (
       |  SELECT node, 0 AS depth FROM seeds
       |  UNION ALL
       |  SELECT DISTINCT e.dst AS node, r.depth + 1 AS depth
       |  FROM reach r JOIN edges e ON e.src = r.node
       |  WHERE r.depth < $ReachMaxDepth)
       |SELECT node AS user_id, CAST(min(depth) AS INT) AS hops,
       |  count(*) AS n_frontier_visits
       |FROM reach GROUP BY node ORDER BY user_id""".stripMargin

  /** q460 — Fellegi–Sunter probabilistic record linkage (the splink /
    * Dedupe.io model; Fellegi & Sunter 1969) with one EM refinement
    * step, over customers vs a deterministically perturbed
    * re-registration file (id+500000; ~20% segment corrupted, account
    * balance jittered ±$10, ~10% nation corrupted). Blocked on
    * (nation, $100-balance-bucket) with the B side registered under
    * its ±jitter neighbor buckets too, so every same-nation true pair
    * is co-blocked by construction and candidates stay O(block²·
    * blocks), never |A|×|B|. Each pair scores a comparison vector
    * (segment equality, balance-within-$10); the E-step posterior is
    * one of FOUR plan-time literal micro values (computed once from
    * the init params λ=0.5, m=(0.8,0.95), u=(0.2,0.2) — no in-engine
    * float at all), and the M-step re-estimates λ/m/u as integral
    * micro ratios over exact long sums, so the whole EM step is
    * hash-stable by construction. Output: one scorecard row — pair
    * census, re-estimated parameters, link decisions at posterior
    * ≥ 0.9, and precision/recall against the planted ground truth
    * (recall < 1 comes from nation-corrupted records falling out of
    * the block — the classic blocking-loss the method documents).
    * Scale: two scans + one keyed join + one global agg; the M-step
    * ratio numerators (Σp·1e6) carry as DECIMAL(38,0) — they outgrow
    * a long past ~9·10⁶ pairs — while every shipped column stays an
    * exact long. Block occupancy is bounded by the fixed (nation ×
    * $100) grid, so candidate pairs grow as N²/|blocks|; production
    * linkage adds more discriminative blocking keys as N grows (the
    * 100× probe measured e = 0.34 at this range). */
  val recordLinkage: Q = (s, dir) => {
    import s.implicits._
    val c = Tables(s, dir, "customer")
      .select($"c_custkey".as("id"), $"c_nationkey".as("nat"),
        $"c_mktsegment".as("seg"),
        round($"c_acctbal" * 100).cast("long").as("cents"))
    val a = c.select($"id".as("a_id"), $"nat", $"seg".as("a_seg"),
      $"cents".as("a_cents"),
      expr(s"(cents + $RlShift) div $RlBucket").as("bk"))
    def h(seed: Int) = Hashing.hash60($"id".cast("string"), seed)
    val b0 = c.select(($"id" + RlBOffset).as("b_id"),
      when(h(1) % 10 === 0, ($"nat" + 1) % 25).otherwise($"nat")
        .as("nat"),
      when(h(2) % 5 === 0, concat($"seg", lit("_X"))).otherwise($"seg")
        .as("b_seg"),
      ($"cents" + (h(3) % 2001) - 1000).as("b_cents"))
    val b = b0.select($"b_id", $"nat", $"b_seg", $"b_cents",
      explode(array_distinct(array(
        expr(s"(b_cents - $RlJitter + $RlShift) div $RlBucket"),
        expr(s"(b_cents + $RlShift) div $RlBucket"),
        expr(s"(b_cents + $RlJitter + $RlShift) div $RlBucket"))))
        .as("bk"))
    val pairs = a.join(b, Seq("nat", "bk"))
      .select($"a_id", $"b_id", ($"a_seg" === $"b_seg").as("gs"),
        (abs($"a_cents" - $"b_cents") <= RlJitter).as("gb"))
    val pm = pairs.select($"a_id", $"b_id", $"gs", $"gb",
      when($"gs" && $"gb", lit(rlPostMicro(true, true)))
        .when($"gs" && !$"gb", lit(rlPostMicro(true, false)))
        .when(!$"gs" && $"gb", lit(rlPostMicro(false, true)))
        .otherwise(lit(rlPostMicro(false, false))).as("p"))
    val nRecords = c.agg(count(lit(1)).as("n_records"))
    pm.agg(
        count(lit(1)).as("n_pairs"),
        sum($"p").as("sp"),
        sum(when($"gs", $"p").otherwise(0L)).as("sps"),
        sum(when($"gb", $"p").otherwise(0L)).as("spb"),
        sum(when($"gs", lit(1000000L) - $"p").otherwise(0L)).as("sqs"),
        sum(when($"gb", lit(1000000L) - $"p").otherwise(0L)).as("sqb"),
        sum(when($"p" >= RlLinkMicro, 1L).otherwise(0L)).as("n_linked"),
        sum(when($"p" >= RlLinkMicro &&
            $"b_id" === $"a_id" + RlBOffset, 1L).otherwise(0L))
          .as("n_true_linked"),
        sum(when($"b_id" === $"a_id" + RlBOffset, 1L).otherwise(0L))
          .as("n_truth_candidates"))
      .crossJoin(broadcast(nRecords))
      // M-step numerators carry as DECIMAL(38,0): Σp·1e6 outgrows a
      // long past ~9·10⁶ pairs (the 100× probe hit it); the ratios
      // land back in [0, 1e6] so the OUTPUT stays a long (never ship
      // decimal in a final projection — the r6 hash lesson)
      .select($"n_pairs",
        expr("sp div n_pairs").as("lambda1_micro"),
        expr("(CAST(sps AS DECIMAL(38,0)) * 1000000) div sp")
          .as("m_seg_micro"),
        expr("(CAST(spb AS DECIMAL(38,0)) * 1000000) div sp")
          .as("m_bal_micro"),
        expr("(CAST(sqs AS DECIMAL(38,0)) * 1000000) div " +
          "(CAST(n_pairs AS DECIMAL(38,0)) * 1000000 - sp)")
          .as("u_seg_micro"),
        expr("(CAST(sqb AS DECIMAL(38,0)) * 1000000) div " +
          "(CAST(n_pairs AS DECIMAL(38,0)) * 1000000 - sp)")
          .as("u_bal_micro"),
        $"n_linked", $"n_true_linked", $"n_truth_candidates",
        // greatest(,1): on degenerate data where no pair reaches the
        // posterior cutoff, bare div yields NULL in Spark but raises
        // in DuckDB — the q467/q471 q-error guard pattern (r7 ADVICE).
        expr("(n_true_linked * 1000000) div greatest(n_linked, 1)")
          .as("precision_micro"),
        expr("(n_true_linked * 1000000) div n_records")
          .as("recall_micro"))
  }

  private val RlBOffset = 500000L
  private val RlBucket = 10000L // cents per block bucket ($100)
  private val RlShift = 10000000L // keeps div operands positive
  private val RlJitter = 1000L // planted balance noise bound (cents)
  private val RlLinkMicro = 900000L
  /** E-step posterior (micro) for a comparison vector under the init
    * params — four plan-time literals shared verbatim by both engines. */
  private def rlPostMicro(gs: Boolean, gb: Boolean): Long = {
    val (lam, mS, uS, mB, uB) = (0.5, 0.8, 0.2, 0.95, 0.2)
    def t(p: Double, g: Boolean) = if (g) p else 1.0 - p
    val num = lam * t(mS, gs) * t(mB, gb)
    val den = (1.0 - lam) * t(uS, gs) * t(uB, gb)
    math.round(num / (num + den) * 1e6)
  }

  private val sqlRecordLinkage: String = {
    def post(gs: Boolean, gb: Boolean) = rlPostMicro(gs, gb)
    s"""WITH c AS (SELECT c_custkey AS id, c_nationkey AS nat,
       |    c_mktsegment AS seg,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
       |  FROM customer),
       |a AS (SELECT id AS a_id, nat, seg AS a_seg, cents AS a_cents,
       |    (cents + $RlShift) // $RlBucket AS bk FROM c),
       |b0 AS (SELECT id + $RlBOffset AS b_id,
       |    CASE WHEN ${Hashing.sqlHash60("CAST(id AS VARCHAR)", 1)} % 10
       |      = 0 THEN (nat + 1) % 25 ELSE nat END AS nat,
       |    CASE WHEN ${Hashing.sqlHash60("CAST(id AS VARCHAR)", 2)} % 5
       |      = 0 THEN seg || '_X' ELSE seg END AS b_seg,
       |    cents + (${Hashing.sqlHash60("CAST(id AS VARCHAR)", 3)}
       |      % 2001) - 1000 AS b_cents
       |  FROM c),
       |b AS (SELECT DISTINCT b_id, nat, b_seg, b_cents, bk FROM (
       |    SELECT b_id, nat, b_seg, b_cents,
       |      unnest([(b_cents - $RlJitter + $RlShift) // $RlBucket,
       |              (b_cents + $RlShift) // $RlBucket,
       |              (b_cents + $RlJitter + $RlShift) // $RlBucket])
       |        AS bk
       |    FROM b0) t),
       |pairs AS (SELECT a_id, b_id, a_seg = b_seg AS gs,
       |    abs(a_cents - b_cents) <= $RlJitter AS gb
       |  FROM a JOIN b USING (nat, bk)),
       |pm AS (SELECT a_id, b_id, gs, gb,
       |    CASE WHEN gs AND gb THEN ${post(true, true)}
       |         WHEN gs AND NOT gb THEN ${post(true, false)}
       |         WHEN NOT gs AND gb THEN ${post(false, true)}
       |         ELSE ${post(false, false)} END AS p
       |  FROM pairs),
       |agg AS (SELECT count(*)::BIGINT AS n_pairs,
       |    sum(p)::BIGINT AS sp,
       |    sum(CASE WHEN gs THEN p ELSE 0 END)::BIGINT AS sps,
       |    sum(CASE WHEN gb THEN p ELSE 0 END)::BIGINT AS spb,
       |    sum(CASE WHEN gs THEN 1000000 - p ELSE 0 END)::BIGINT AS sqs,
       |    sum(CASE WHEN gb THEN 1000000 - p ELSE 0 END)::BIGINT AS sqb,
       |    sum(CASE WHEN p >= $RlLinkMicro THEN 1 ELSE 0 END)::BIGINT
       |      AS n_linked,
       |    sum(CASE WHEN p >= $RlLinkMicro AND b_id = a_id + $RlBOffset
       |      THEN 1 ELSE 0 END)::BIGINT AS n_true_linked,
       |    sum(CASE WHEN b_id = a_id + $RlBOffset THEN 1 ELSE 0 END)
       |      ::BIGINT AS n_truth_candidates
       |  FROM pm),
       |nr AS (SELECT count(*)::BIGINT AS n_records FROM c)
       |SELECT n_pairs, sp // n_pairs AS lambda1_micro,
       |  ((sps::HUGEINT * 1000000) // sp)::BIGINT AS m_seg_micro,
       |  ((spb::HUGEINT * 1000000) // sp)::BIGINT AS m_bal_micro,
       |  ((sqs::HUGEINT * 1000000)
       |    // (n_pairs::HUGEINT * 1000000 - sp))::BIGINT AS u_seg_micro,
       |  ((sqb::HUGEINT * 1000000)
       |    // (n_pairs::HUGEINT * 1000000 - sp))::BIGINT AS u_bal_micro,
       |  n_linked, n_true_linked, n_truth_candidates,
       |  (n_true_linked * 1000000) // greatest(n_linked, 1)
       |    AS precision_micro,
       |  (n_true_linked * 1000000) // n_records AS recall_micro
       |FROM agg CROSS JOIN nr""".stripMargin
  }

  /** q146 — time-series similarity search (the EDBT/ICDE distributed
    * subsequence-matching shape, matrix-profile-lite): which past
    * 7-day revenue windows moved like the LAST one — z-normalized
    * euclidean distance so shape matches regardless of level/scale.
    * Windows materialize as arrays via one ROWS-frame collect over the
    * post-aggregate daily frame (rows = days, q57's trick); each
    * window z-normalizes from its own exact long sums; the query
    * window (the latest) broadcasts and every candidate scores in one
    * map — at 100 TB of raw events the daily frame is still tiny, and
    * for second-granularity series the same plan shards the series by
    * range. Top-5 via TakeOrderedAndProject, self excluded. */
  val tsSimilarity: Q = (s, dir) => {
    import s.implicits._
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(round(sum($"o_totalprice")).cast("long").as("x"))
      .withColumn("day_num",
        datediff($"day", lit("1995-01-01").cast("date")))
    val w = Window.orderBy($"day_num").rowsBetween(-6, 0)
    val wins = daily
      .withColumn("arr", collect_list($"x").over(w))
      .filter(size($"arr") === 7)
      .select($"day", $"arr")
    def znorm(arr: Column): Column = {
      val n = lit(7.0)
      val mean = aggregate(arr, lit(0L), (a, x) => a + x)
        .cast("double") / n
      val sq = aggregate(transform(arr, x => x * x), lit(0L),
        (a, x) => a + x).cast("double")
      val sd = sqrt(sq / n - mean * mean)
      transform(arr, x => (x.cast("double") - mean) / sd)
    }
    val scored = wins.select($"day", znorm($"arr").as("z"))
    val q = scored.orderBy($"day".desc).limit(1)
      .select($"day".as("q_day"), $"z".as("qz"))
    scored.crossJoin(broadcast(q))
      .filter($"day" =!= $"q_day")
      .select($"day",
        round(aggregate(zip_with($"z", $"qz",
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, v) => acc + v),
          6).as("dist2"))
      .orderBy($"dist2".asc, $"day".asc)
      .limit(5)
  }

  /** q143 — class-centroid similarity matrix (the dataset similarity
    * map): pairwise cosine between per-label embedding centroids —
    * which classes are confusable, which sources/domains overlap —
    * the 10-minute diagnostic before training on a mixture. Centroids
    * are UN-DIVIDED exact long sums per dimension (cosine is
    * scale-invariant, q73's trick — no float division, fully
    * order-independent); the pairwise stage is a self-join of K
    * centroid rows, trivial at any corpus size because the corpus
    * collapses to K×dims longs first. */
  val labelSimilarity: Q = (s, dir) => {
    import s.implicits._
    val cent = Tables(s, dir, "embeddings")
      .select($"label", posexplode(transform($"embedding",
        e => round(e.cast("double") * 1000000.0).cast("long")))
        .as(Seq("dim", "v")))
      .groupBy($"label", $"dim").agg(sum($"v").as("sv"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"dim", $"sv"))),
        x => x.getField("sv")).as("cv"))
    cent.as("a").join(broadcast(cent.as("b")), col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"),
        col("b.label").as("label_b"),
        round(graft.functions.Similarity.cosineFold(
          col("a.cv"), col("b.cv")), 6).as("cos_sim"))
  }

  /** q156 — trailing-window distinct users (sliding-window
    * cardinality): distinct users over each day's trailing week,
    * WITHOUT re-scanning seven days of raw events per day — the
    * sketch-mergeability showcase in window form: daily HLL registers
    * (q125's warehouse artifact) max-merge across a 7-calendar-day
    * RANGE frame per register bucket, then each day estimates from its merged
    * registers. Raw events are touched once; the window runs on the
    * register table (≤1024 rows/day). The oracle computes the same
    * windowed-register algorithm — and exactness of the register merge
    * means this equals sketching each window directly. */
  val windowedDistinct: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "events").select(
      expr("datediff(to_date(ts), date '2024-01-01')").as("day"),
      $"user_id")
    val daily = Sketches.hllRegisters(e, "day", $"user_id".cast("string"))
    // RANGE (value-based on day), not ROWS: on a day gap in the
    // events data a ROWS frame would span 7 *observed* days while the
    // exact_users audit spans 7 *calendar* days — the range frame
    // keeps both columns measuring the same window on any data
    val wf = Window.partitionBy($"b").orderBy($"day")
      .rangeBetween(-6, 0)
    // per (bucket, day): max register over the trailing frame — but a
    // bucket absent on some days must still carry its older value, so
    // the frame runs on the dense (day × bucket) spine
    val days = daily.select($"day").distinct()
    val buckets = daily.select($"b").distinct()
    val spine = days.crossJoin(broadcast(buckets))
    val dense = spine.join(daily, Seq("day", "b"), "left")
      .select($"day", $"b", coalesce($"r", lit(0)).as("r"))
    val merged = dense
      .withColumn("rw", max($"r").over(wf))
      .filter($"rw" > 0)
      .select($"day", $"b", $"rw".as("r"))
    // exact windowed audit: each (day, user) pair covers the 7 days
    // whose trailing window contains it
    val wexact = e.distinct()
      .select(explode(sequence($"day", $"day" + 6)).as("day"),
        $"user_id")
      .groupBy($"day")
      .agg(countDistinct($"user_id").as("exact_users"))
    Sketches.hllEstimate(merged, "day")
      .join(wexact, Seq("day"))
      .select($"day", $"exact_users", $"hll_est")
  }

  /** q167 — Bloom-filter semi-join reduction with false-positive
    * audit ([[graft.functions.Sketches.bloomWords]]): the BUILDING-
    * segment customer keys build a 1024-bit / 4-lane Bloom filter (a
    * 17-row artifact), every distinct order customer probes it, and
    * the output cross-tabs true membership × bloom verdict — the
    * (true, false) cell must be absent (no false negatives) and the
    * (false, true) cell is the measured FP rate. This is the join-
    * pruning pattern at 100 TB: the filter is O(bits) and broadcasts,
    * so a probe-side scan drops most non-matching rows BEFORE the real
    * join's shuffle — the relational form of Spark's own runtime
    * bloom-pruning (spark.sql.optimizer.runtime.bloomFilter), but
    * engine-exact and mergeable across batches by word-wise OR. */
  val bloomJoinAudit: Q = (s, dir) => {
    import s.implicits._
    val members = Tables(s, dir, "customer")
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
    val bloom = Sketches.bloomWords(members, $"c_custkey", "bloom",
      mBits = 1024, kLanes = 4)
    val probes = Tables(s, dir, "orders").select($"o_custkey").distinct()
    val probed = Sketches.bloomProbe(probes, $"o_custkey", bloom,
      "bloom", mBits = 1024, kLanes = 4)
      .select($"key".cast("long").as("custkey"), $"bloom_hit")
    val truth = members
      .select($"c_custkey".as("custkey"), lit(true).as("is_member"))
    probed.join(truth, Seq("custkey"), "left")
      .select(coalesce($"is_member", lit(false)).as("is_member"),
        $"bloom_hit")
      .groupBy($"is_member", $"bloom_hit")
      .agg(count(lit(1)).as("n_keys"))
  }

  /** q177 — Theil–Sen robust trend estimate of daily revenue (median
    * of all pairwise slopes — the outlier-proof alternative to q142's
    * OLS, breakdown point 29%): slopes are exact integer micro-units
    * ((1e6·Δcents) div Δdays — both engines truncate toward zero),
    * and the median interpolates the two middle slopes (q54's
    * cross-engine percentile precedent, rounded to 4dp). The pair
    * join runs on the POST-AGGREGATE daily frame — O(days²) pairs of
    * an O(days) frame, bounded at any corpus scale (a year is ~66k
    * pairs) — which is the documented justification for letting the
    * inequality self-join plan as a broadcast nested loop HERE and
    * nowhere corpus-sized. */
  val theilSen: Q = (s, dir) => {
    import s.implicits._
    // localCheckpoint: the tiny daily frame feeds both join sides (one
    // aggregation instead of two). Explicit repartition on the probe
    // side: post-aggregate the frame is a handful of KB, so AQE
    // coalesces it to ONE partition and the O(days²) nested-loop pair
    // expansion runs single-threaded (measured 10.7 s; spread across
    // the cluster's cores it is ~1 s). This is a compute-expansion
    // join, not a data join, so partitions must follow cores, not
    // bytes — defaultParallelism, never a literal.
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
      .select(datediff($"day", lit("1995-01-01").cast("date"))
        .as("d"), $"cents")
      .trunkCheckpoint()
    val pairs = daily.repartition(s.sparkContext.defaultParallelism).as("a")
      .join(broadcast(daily.as("b")), col("a.d") < col("b.d"))
      .select(expr("(1000000 * (b.cents - a.cents)) div (b.d - a.d)")
        .as("slope_micro"))
    // median WITHOUT the percentile UDAF: its value→count map over
    // ~3M distinct slopes merges single-threaded (measured 12 s for
    // the aggregate alone). The two middle order statistics come from
    // rangeCumSum DIRECTLY over the pair frame (r10: the old
    // intermediate slope histogram was ~1 group per pair — a 3M-row
    // groupBy shuffle plus its trunkCheckpoint bought nothing, so
    // both are gone), with the pair count in closed form from the
    // day count — C(days, 2) — instead of a second 3M-row aggregate.
    // Slope order statistics are integers, so a + 0.5·(b−a) is EXACT
    // in double (integer deltas < 2^53, ×0.5 a power of two) and the
    // interpolated median is bit-identical on both engines. Ties:
    // equal slopes order arbitrarily in the range sort, but the t-th
    // order statistic VALUE is tie-invariant.
    val nAgg = daily.agg(count(lit(1)).as("nd"))
      .select(expr("nd * (nd - 1) div 2").as("n"))
    val cum = graft.functions.ScaleWindows
      .rangeCumSum(pairs.withColumn("one", lit(1L)),
        Seq($"slope_micro".asc), $"one", "cs", checkpoint = true)
    // exclusive prefix count ⇒ a row IS order statistic `cs`; one
    // pass selects both middle indexes (the old lo/hi double scan
    // merged per the r9 verdict's q177 item)
    val withN = cum.crossJoin(broadcast(nAgg))
    val t1 = expr("(n - 1) div 2")
    val t2 = expr("(n - 1) - (n - 1) div 2")
    withN.filter($"cs" === t1 || $"cs" === t2)
      .agg(min(when($"cs" === t1, $"slope_micro")).as("av"),
        min(when($"cs" === t2, $"slope_micro")).as("bv"))
      .crossJoin(broadcast(nAgg))
      .select($"n".as("n_pairs"),
        round($"av" + ($"bv" - $"av") * 0.5, 4)
          .as("median_slope_micro"))
  }

  /** q166 — seasonality profile per region: each region's monthly
    * revenue share across the calendar year (aggregated over all
    * years) plus its peak month — the demand-planning profile behind
    * inventory and capacity decisions. Two aggregates on (region,
    * month) and one WindowGroupLimit argmax; shares are exact integer
    * micro-fractions of exact cent sums, so the profile reproduces on
    * any partitioning. Calendar extraction is date-function exact on
    * both engines. */
  val seasonality: Q = (s, dir) => {
    import s.implicits._
    val o = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables(s, dir, "nation")
        .select($"n_nationkey", $"n_regionkey")),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_regionkey".as("region"),
        month(to_date($"o_orderdate")).as("mon"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
    val rm = o.groupBy($"region", $"mon")
      .agg(sum($"cents").as("mon_cents"))
    val rt = rm.groupBy($"region").agg(sum($"mon_cents").as("tot_cents"))
    val w = Window.partitionBy($"region")
      .orderBy($"mon_cents".desc, $"mon".asc)
    rm.join(rt, Seq("region"))
      .withColumn("rn", row_number().over(w))
      .select($"region", $"mon", $"mon_cents",
        expr("(1000000 * mon_cents) div tot_cents").as("share_micro"),
        ($"rn" === 1).as("is_peak"))
  }

  /** q155 — supplier-concentration HHI per part (Herfindahl–Hirschman
    * index): how concentrated is each part's supply across suppliers —
    * Σ share² of line counts, the market-concentration / single-point-
    * of-failure metric a supply-chain (or data-source-dependency)
    * dashboard tracks. Shares are exact integer micro-divisions and
    * HHI sums their squares back to micro scale — fully engine- and
    * partitioning-exact. Two aggregates on the (part, supplier) key
    * chain, both map-side combined; output O(parts). */
  val supplierHhi: Q = (s, dir) => {
    import s.implicits._
    val ps = Tables(s, dir, "lineitem")
      .groupBy($"l_partkey", $"l_suppkey").agg(count(lit(1)).as("c"))
    val tot = ps.groupBy($"l_partkey")
      .agg(sum($"c").as("tot"), count(lit(1)).as("n_suppliers"))
    ps.join(tot, Seq("l_partkey"))
      .select($"l_partkey", $"n_suppliers",
        expr("(1000000 * c) div tot").as("sh"))
      .groupBy($"l_partkey", $"n_suppliers")
      .agg(expr("sum(sh * sh) div 1000000").as("hhi_micro"))
  }

  /** q142 — grouped OLS trend (least-squares slope per key): is each
    * event type's value drifting over the month? Slope and intercept
    * come from the closed form over exact long sums — n, Σx, Σy, Σxy,
    * Σx² (x = day number, y = value in cents) — so the whole
    * regression is ONE map-side-combined aggregate per group and a
    * final float tree over exact integers: identical on both engines,
    * any partitioning. This is the trend-detection shape that runs
    * per-metric per-segment at warehouse scale: no window, no sort,
    * O(groups) output. */
  val groupedTrend: Q = (s, dir) => {
    import s.implicits._
    val e = Tables(s, dir, "events").select($"event_type",
      datediff(to_date($"ts"), lit("2024-01-01").cast("date"))
        .cast("long").as("x"),
      round($"value" * 100).cast("long").as("y"))
    e.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"y").as("sy"), sum($"x" * $"y").as("sxy"),
        sum($"x" * $"x").as("sxx"))
      .select($"event_type", $"n",
        round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"n" * $"sxx" - $"sx" * $"sx").cast("double") * 1000000.0)
          .cast("long").as("slope_micro"),
        round(($"sy" * $"sxx" - $"sx" * $"sxy").cast("double") /
          ($"n" * $"sxx" - $"sx" * $"sx").cast("double"))
          .cast("long").as("intercept_cents"))
  }

  /** q141 — Poisson bootstrap (the one-pass scalable bootstrap): 32
    * resample replicates of mean order value computed WITHOUT
    * resampling — each row gets a deterministic pseudo-Poisson(1)
    * weight per replicate (inverse-CDF over u = hash60/2⁶⁰, thresholds
    * are plan-time literals), and each replicate is a weighted
    * aggregate. The spread across replicate means IS the sampling
    * distribution — confidence intervals from one scan, no shuffling
    * of resampled copies, the only way to bootstrap 100 TB. Hash-
    * derived weights make every replicate a pure function of the row:
    * the same CI on any cluster, any run. All sums are exact longs. */
  val poissonBootstrap: Q = (s, dir) => {
    import s.implicits._
    val reps = 32
    val e = Tables(s, dir, "orders")
      .select($"o_orderkey",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .select($"o_orderkey", $"cents",
        explode(sequence(lit(0), lit(reps - 1))).as("rep"))
    val u = Hashing.hash60(concat(lit("boot|"), $"rep".cast("string"),
      lit("|"), $"o_orderkey".cast("string"))).cast("double") /
      lit(1152921504606846976L).cast("double")
    val wgt = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238462, 3L)
      .when(u < 0.9963401531726563, 4L)
      .otherwise(5L)
    e.select($"rep", $"cents", wgt.as("w"))
      .groupBy($"rep")
      .agg(sum($"w").as("n_eff"), sum($"w" * $"cents").as("wsum"))
      .select($"rep", $"n_eff",
        expr("wsum div n_eff").as("mean_cents"))
  }

  /** q138 — join-cardinality estimation by sketch (the optimizer-stats
    * primitive): how many join keys do two relations SHARE, answered
    * without joining them — est(A) + est(B) − est(A∪B) by
    * inclusion-exclusion, where est(A∪B) is free because HLL registers
    * max-merge (q125's property). This is how an engine prices a join
    * before running it and how a pipeline decides broadcast vs shuffle
    * from table stats alone. Register tables are ≤1024 rows per side
    * at ANY cardinality; the exact overlap rides along to show the
    * sketch error. Probe: active buyers (orders custkeys) vs the
    * high-balance customer segment. */
  val joinOverlapSketch: Q = (s, dir) => {
    import s.implicits._
    def regs(df: DataFrame, tag: String) =
      Sketches.hllRegisters(
        df.select(lit(tag).as("side"), $"k".cast("string").as("k")),
        "side", $"k")
    val a = Tables(s, dir, "orders").select($"o_custkey".as("k")).distinct()
    val b = Tables(s, dir, "customer").filter($"c_acctbal" > 5000.0)
      .select($"c_custkey".as("k")).distinct()
    val ra = regs(a, "a")
    val rb = regs(b, "b")
    val ru = ra.unionByName(rb).groupBy(lit("u").as("side"), $"b")
      .agg(max($"r").as("r"))
    def est(r: DataFrame, name: String) =
      Sketches.hllEstimate(r, "side").select($"hll_est".as(name))
    val exact = a.join(b, Seq("k"), "left_semi")
      .agg(count(lit(1)).as("exact_overlap"))
    est(ra, "est_a").crossJoin(broadcast(est(rb, "est_b")))
      .crossJoin(broadcast(est(ru, "est_union")))
      .crossJoin(broadcast(exact))
      .select($"est_a", $"est_b", $"est_union",
        round($"est_a" + $"est_b" - $"est_union", 4).as("est_overlap"),
        $"exact_overlap")
  }

  /** q122 — time-decayed aggregation (recency-weighted customer value):
    * each order contributes its cents halved once per 180 days of age —
    * an exponential half-life score computed ENTIRELY in integers:
    * contribution = cents >> (age_days div 180), summed as longs. The
    * usual exp(-λ·age) double weights make the score depend on
    * summation order (irreproducible across partitionings); the shift
    * form is exact, order-independent, and monotone in the same way.
    * One map pass + one customer-keyed aggregation, map-side combined;
    * the anchor date is a literal so the score is a pure function of
    * the row. */
  val decayedRevenue: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "orders")
      .select($"o_custkey",
        round($"o_totalprice" * 100).cast("long").as("cents"),
        datediff(lit("1998-12-31").cast("date"),
          to_date($"o_orderdate")).as("age_days"))
      .select($"o_custkey",
        expr("shiftright(cents, cast(age_days div 180 as int))")
          .as("dc"))
      .groupBy($"o_custkey")
      .agg(sum($"dc").as("decayed_cents"), count(lit(1)).as("n_orders"))
  }

  /** q118 — label-propagation community detection (2 semi-synchronous
    * rounds over the supplier⇄part graph): every node adopts the MODE
    * of its neighbors' labels, ties to the smallest label — the
    * O(m)-per-round community algorithm that needs no modularity
    * matrix. Fully deterministic (unlike classic async LPA): all nodes
    * update from the previous round's labels with a fixed tie-break.
    * Per round: one edge⋈labels equi-join on the neighbor key + one
    * (node, label) count + one WindowGroupLimit argmax — all keyed on
    * node id, so the label partitioning is reused round over round;
    * labels are one long per node. Fixpoint LPA at scale is
    * [[graft.functions.GraphKernels.lpa]] — this same round looped
    * with a signature early-exit, spec-asserted equal when capped. */
  val lpaCommunities: Q = (s, dir) => {
    import s.implicits._
    // labels are a session trunk: q130's modularity audit reuses the
    // identical frame instead of re-running both LPA rounds
    graft.Materialize.trunk(s, ("Scale", dir, "lpa_labels")) {
      val e0 = GraphTrunk.suppPartEdges(s, dir)
      val edges = e0.unionByName(
        e0.select($"dst".as("src"), $"src".as("dst")))
      val l0 = edges.select($"src".as("node_id")).distinct()
        .withColumn("lbl", $"node_id")
      def round(labels: DataFrame): DataFrame = {
        val w = Window.partitionBy($"node_id")
          .orderBy($"c".desc, $"lbl".asc)
        edges.join(labels.select($"node_id".as("dst"), $"lbl"),
            Seq("dst"))
          .groupBy($"src".as("node_id"), $"lbl")
          .agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"node_id", $"lbl")
      }
      round(round(l0)).select($"node_id", $"lbl".as("community"))
    }
  }

  /** q130 — modularity audit of q118's communities: per-community
    * Newman modularity contribution in_c/m − (deg_c/2m)² — the quality
    * number that tells you whether a partition is real structure or
    * noise (Q > 0.3 ⇒ meaningful). Everything derives from exact long
    * counts (edge totals, within-community edge counts, degree sums)
    * with integer micro-division, so the audit is engine- and
    * partitioning-exact. Plan: the edge list joins the label table on
    * each endpoint (node-keyed, the partitioning q118 already
    * produced), one community aggregate, totals as a broadcast row —
    * O(communities) output at any graph size. */
  val modularityAudit: Q = (s, dir) => {
    import s.implicits._
    val e0 = GraphTrunk.suppPartEdges(s, dir)
      .select($"src".as("u"), $"dst".as("v"))
    val labels = lpaCommunities(s, dir)
    val mTot = e0.agg(count(lit(1)).as("m"))
    val lu = labels.select($"node_id".as("u"), $"community".as("cu"))
    val lv = labels.select($"node_id".as("v"), $"community".as("cv"))
    val inC = e0.join(lu, Seq("u")).join(lv, Seq("v"))
      .filter($"cu" === $"cv")
      .groupBy($"cu".as("community")).agg(count(lit(1)).as("in_edges"))
    val deg = e0.select($"u".as("node_id"))
      .unionByName(e0.select($"v".as("node_id")))
      .groupBy($"node_id").agg(count(lit(1)).as("d"))
    val degC = labels.join(deg, Seq("node_id"))
      .groupBy($"community")
      .agg(count(lit(1)).as("n_nodes"), sum($"d").as("deg_sum"))
    degC.join(inC, Seq("community"), "left")
      .crossJoin(broadcast(mTot))
      .select($"community", $"n_nodes",
        coalesce($"in_edges", lit(0L)).as("in_edges"), $"deg_sum",
        // decimal(38,0) intermediates: 1e6·deg_sum² overflows a long
        // once deg_sum > ~3e6 (Spark wraps silently); the 38-digit
        // grid is exact to deg_sum ≈ 4e15 — beyond any real graph —
        // and `div` on decimals is still exact integral division
        (expr("(1000000 * cast(coalesce(in_edges, 0) as decimal(38,0)))" +
          " div m") -
          expr("(1000000 * cast(deg_sum as decimal(38,0)) * deg_sum)" +
            " div (4 * cast(m as decimal(38,0)) * m)"))
          .as("contrib_micro"))
  }

  /** q119 — 2-D Pareto front (skyline): the parts no other part beats
    * on BOTH price (lower) and size (larger) — strict dominance. The
    * naive plan is a self-join (quadratic, and Spark would nested-loop
    * the inequality pair); this is the sort-based skyline instead:
    * collapse to one max-size row per DISTINCT price, running-max over
    * prices ordered ascending (rows frame, excluding current) gives
    * "best size strictly cheaper", and a part is on the front iff its
    * size is not beaten. The running max is
    * [[graft.functions.ScaleWindows.rangeCumMax]] — range exchange +
    * per-partition carry, so even the distinct-price frame (already
    * orders of magnitude below row count) never funnels through a
    * single-partition WindowExec at 100 TB.
    * The ORACLE is the independent NOT EXISTS anti-join formulation. */
  val paretoFront: Q = (s, dir) => {
    import s.implicits._
    val p = Tables(s, dir, "part")
      .select($"p_partkey", $"p_name", $"p_retailprice", $"p_size")
    val byPrice = p.groupBy($"p_retailprice")
      .agg(max($"p_size").as("gmax"))
    val strictMax = graft.functions.ScaleWindows.rangeCumMax(
        byPrice, Seq($"p_retailprice"), $"gmax", "smax")
      .select($"p_retailprice", $"smax")
    p.join(strictMax, Seq("p_retailprice"))
      .filter($"smax".isNull || $"p_size" >= $"smax")
      .select($"p_partkey", $"p_name", $"p_retailprice", $"p_size")
  }

  /** q116 — trailing z-score anomaly detection: each day's revenue
    * scored against the mean/σ of the 7 PRECEDING days (RANGE frame
    * excluding the current row — the monitored value must not pollute
    * its own baseline). Mean and variance come from exact long sums
    * (whole-dollar dailies): n, S=Σx, Q=Σx² per frame, then ONE float
    * tree (n·Q−S² etc.) whose inputs are exact integers — both engines
    * produce the identical micro-unit z, any partitioning. Like q57
    * the window runs on the POST-aggregate daily frame (one row per
    * day at any SF); days with fewer than 2 predecessors or zero
    * variance yield NULL rather than a fake score. */
  val zscoreAnomaly: Q = (s, dir) => {
    import s.implicits._
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(round(sum($"o_totalprice")).cast("long").as("x"))
      .withColumn("day_num",
        datediff($"day", lit("1995-01-01").cast("date")))
    val w = Window.orderBy($"day_num").rangeBetween(-7, -1)
    val st = daily.select($"day", $"x",
      count(lit(1)).over(w).as("n"),
      sum($"x").over(w).as("s"),
      sum($"x" * $"x").over(w).as("q"))
    st.select($"day", $"x",
      when($"n" >= 2 && $"n" * $"q" - $"s" * $"s" > 0,
        round(($"x" * $"n" - $"s").cast("double") /
          sqrt(($"n" * $"q" - $"s" * $"s").cast("double")) *
          1000000.0).cast("long"))
        .as("z_micro"))
  }

  /** q107 — multi-source BFS hop distance (bounded frontier expansion)
    * over the supplier⇄part bipartite graph (q89's edge set): every
    * node labeled with its hop distance (≤3) from a two-supplier seed
    * set (the two lowest supplier keys — present at every SF; a
    * nation-keyed seed is empty at sf0.001's 10-supplier table). Each round is ONE equi-join of the frontier against the
    * edge list plus ONE anti-join against the visited set — the Pregel
    * step expressed relationally. Everything is keyed on node id, so on
    * a cluster all four rounds reuse one hash partitioning of the edge
    * list (exchange reuse); the frontier and visited sides are the only
    * per-round shuffles, and they carry node ids alone, never payloads.
    * Full-graph BFS at 100 TB runs this same round in a loop with a
    * convergence check (frontier empty) —
    * [[graft.functions.GraphKernels.bfsHops]], spec-asserted equal to
    * this unroll when capped; the bounded unroll keeps the oracle
    * expressible. */
  /** q477 — ANF 2-hop neighborhood-size ESTIMATE (Palmer, Gibbons &
    * Faloutsos, KDD 2002 — the approximate-neighborhood-function
    * algorithm web-scale graph systems use where q107's exact BFS ball
    * would explode): every node carries K Flajolet-Martin bitmasks
    * (lowest-set-bit of a seeded hash60, capped at bit $AnfCapBit);
    * one hop = bit_or of neighbor masks — associative, commutative,
    * map-side combinable, O(m·K) per hop with NO frontier blowup —
    * and |ball(v,2)| ≈ 2^R̄/0.77351 where R̄ averages the masks'
    * trailing-ones counts. Everything stays integral: the lowest-zero
    * bit is extracted as a MASK ((m+1) & ~m — no log2 anywhere), R is
    * a bit_count, the K-lane average uses floor division and the bias
    * constant divides as micro ints, so both engines produce
    * bit-identical estimates. Per-lane masks are computed once on the
    * NODE table (O(nodes·K) md5s, not O(edges·K)). The estimate-only
    * discipline is q476's: the exact-ball audit lives in ScaleSpec at
    * gate SF, never inline. */
  val anfTwoHop: Q = (s, dir) => {
    import s.implicits._
    val e0 = GraphTrunk.suppPartEdges(s, dir)
    val edges = e0.unionByName(
      e0.select($"dst".as("src"), $"src".as("dst")))
    val lanes = spark_lanes(s)
    val nodes = edges.select($"src".as("node_id")).distinct()
    val masks = nodes.crossJoin(broadcast(lanes))
      .select($"node_id", $"k",
        least(Hashing.hash60(concat(lit("anf|"), $"k", lit("|"),
            $"node_id".cast("string")))
          .bitwiseAND(-Hashing.hash60(concat(lit("anf|"), $"k",
            lit("|"), $"node_id".cast("string")))),
          lit(1L << AnfCapBit)).as("m0"))
    // each hop reads its input TWICE (the neighbor-OR join and the
    // self-OR join-back), so un-checkpointed inputs re-execute their
    // whole upstream chain per read — hop 2 was re-running hop 1's
    // edge join + groupBy, and hop 1 was re-running the O(nodes·K)
    // mask hashing. Checkpoint the mask frame and each hop's output:
    // O(nodes·K) rows per pin, the same per-round discipline as the
    // k-truss peel below.
    def hop(prev: DataFrame): DataFrame = edges
      .join(prev.select($"node_id".as("dst"), $"k", $"m"), Seq("dst"))
      .groupBy($"src".as("node_id"), $"k")
      .agg(expr("bit_or(m)").as("mn"))
      .join(prev, Seq("node_id", "k"))
      .select($"node_id", $"k", $"mn".bitwiseOR($"m").as("m"))
    val m0 = masks.select($"node_id", $"k", $"m0".as("m"))
      .trunkCheckpoint()
    val m1 = hop(m0).trunkCheckpoint()
    val m2 = hop(m1)
    m2.select($"node_id", $"k",
        expr("bit_count(((m + 1) & ~m) - 1)").cast("long").as("r"))
      .groupBy($"node_id")
      .agg(sum($"r").as("sum_r"))
      .select($"node_id", $"sum_r",
        expr(s"(shiftleft(1L, CAST(sum_r div $AnfLanes AS INT))" +
          s" * 100000000000) div 77351").as("est_ball2_micro"))
  }

  /** q478 — k-TRUSS decomposition peel (Cohen 2008, the
    * triangle-support analogue of q109's k-core: every surviving edge
    * must sit in ≥ k−2 triangles of the surviving subgraph — the
    * community-core filter that is strictly stronger than degree
    * peeling, standard in graph-ML data prep). Same bounded-unroll
    * contract as q109: two peel rounds with a per-round audit row
    * (surviving nodes/edges), on the q109-style 1/5 hash-sampled
    * co-order subgraph where k = 4 genuinely cascades. Per round the
    * per-EDGE triangle support reuses q105's degree-oriented sorted-
    * adjacency intersect — each triangle credits its three edges via
    * an output-bound explode (q259's shape), so a round costs
    * O(m·√m / 5^1.5) with no wedge shuffle; the peel itself is one
    * support join. Fixpoint trussing at scale loops this same round
    * to an edge-count fixpoint — the unroll keeps the oracle
    * expressible (the recursive-CTE alternative enumerates
    * per-iteration graphs DuckDB-side at strictly worse cost). */
  val ktrussPeel: Q = (s, dir) => {
    import s.implicits._
    import graft.Materialize.TrunkCheckpointOps
    // each round's edge set is referenced 5× downstream (the support
    // self-reference, the peel join, both audit scalars, the next
    // round) — checkpoint per round or the lineage recomputes
    // multiplicatively, the Spark twin of the DuckDB MATERIALIZED
    // lesson in sqlKtrussPeel (un-checkpointed: 21.7 s at sf0.1)
    val e0 = trussSampledEdges(s, dir).trunkCheckpoint()
    def audit(e: DataFrame, round: Int): DataFrame = e
      .select(explode(array($"u", $"v")).as("nid"))
      .agg(countDistinct($"nid").as("n_nodes"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .select(lit(round).as("round"), $"n_nodes", $"n_edges")
    val r1 = trussPeelRound(e0).trunkCheckpoint()
    val r2 = trussPeelRound(r1).trunkCheckpoint()
    audit(e0, 0).unionByName(audit(r1, 1)).unionByName(audit(r2, 2))
  }

  private def trussSampledEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraphTrunk.coOrderEdges(s, dir)
      .filter(Hashing.hash60(concat(lit("truss|"), $"u".cast("string"),
        lit("|"), $"v".cast("string"))) % TrussSampleMod === 0)
  }

  /** One k-truss peel round (shared by q478's bounded unroll and
    * q483's fixpoint loop): per-edge triangle support via q105's
    * degree-oriented sorted-adjacency intersect, each triangle
    * crediting its three edges through an output-bound explode, then
    * one support join keeps edges with sup ≥ k−2. */
  private def trussPeelRound(e: DataFrame): DataFrame = {
    val deg = e.select(col("u").as("nid"))
      .unionByName(e.select(col("v").as("nid")))
      .groupBy(col("nid")).agg(count(lit(1)).as("d"))
    val lower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val ori = e
      .join(deg.select(col("nid").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("nid").as("v"), col("d").as("dv")), Seq("v"))
      .select(when(lower, col("u")).otherwise(col("v")).as("a"),
        when(lower, col("v")).otherwise(col("u")).as("b"))
    val adj = ori.groupBy(col("a"))
      .agg(sort_array(collect_list(col("b"))).as("nbrs"))
    val tri = adj
      .select(col("a"), col("nbrs").as("na"), explode(col("nbrs")).as("b"))
      .join(adj.select(col("a").as("b"), col("nbrs").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        explode(array_intersect(col("na"), col("nb"))).as("c"))
    val sup = tri
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .unionByName(tri.select(least(col("a"), col("c")).as("u"),
        greatest(col("a"), col("c")).as("v")))
      .unionByName(tri.select(least(col("b"), col("c")).as("u"),
        greatest(col("b"), col("c")).as("v")))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
    e.join(sup, Seq("u", "v"))
      .filter(col("sup") >= TrussK - 2).select(col("u"), col("v"))
  }

  /** q483 — k-TRUSS to FIXPOINT (the peel-to-convergence variant of
    * q478, under the same per-round trunkCheckpoint contract): loop
    * [[trussPeelRound]] until the edge count stops changing. Peeling
    * only removes edges, so count equality IS set equality — the
    * convergence test is one driver-side scalar per round (the
    * Bpe/GD-class justified collect: O(rounds) rows total, never
    * data), and each round's frame is checkpointed so the next round
    * starts from a materialized scan, exactly q478's lineage
    * discipline. Output is the convergence audit row a curation job
    * logs: effective peel count + fixpoint nodes/edges. The oracle
    * unrolls 7 rounds (comfortably past the measured sf0.01 fixpoint
    * at 3 effective peels; post-fixpoint rounds run on the tiny
    * converged set, near-free) and detects convergence in-SQL from
    * the per-round count table — if the data ever needed more rounds
    * than the unroll, `conv` comes back NULL and the gate fails
    * loudly rather than silently diverging. */
  val ktrussFixpoint: Q = (s, dir) => {
    import s.implicits._
    val (cur, rounds, converged) =
      trussFixpointLoop(trussSampledEdges(s, dir), TrussFixCap)
    // cap exit must be DISTINGUISHABLE from convergence (r9 ADVICE):
    // without this, n_rounds == cap over a non-fixpoint frame looks
    // like a valid answer that only the oracle's unroll would reject
    if (!converged) throw new IllegalStateException(
      s"q483 k-truss did not converge within $TrussFixCap rounds — " +
        "raise TrussFixCap (and the oracle's TrussFixUnroll with it)")
    cur.select(explode(array($"u", $"v")).as("nid"))
      .agg(countDistinct($"nid").as("n_nodes"))
      .crossJoin(broadcast(cur.agg(count(lit(1)).as("n_edges"))))
      .select(lit(rounds).as("n_rounds"), $"n_nodes", $"n_edges")
  }

  /** q483's peel loop, cap as a parameter so the spec can drive a
    * forced cap exit. Returns (frame at exit, effective peel rounds,
    * converged?) — count equality is set equality because peeling
    * only removes edges. */
  private[graft] def trussFixpointLoop(
      edges: DataFrame, cap: Long): (DataFrame, Long, Boolean) = {
    import graft.Materialize.TrunkCheckpointOps
    var cur = edges.trunkCheckpoint()
    var n = cur.count()
    var rounds = 0L
    var converged = false
    while (!converged && rounds < cap) {
      val next = trussPeelRound(cur).trunkCheckpoint()
      val m = next.count()
      if (m == n) converged = true
      else { cur = next; n = m; rounds += 1 }
    }
    (cur, rounds, converged)
  }

  private val TrussK = 4
  private val TrussSampleMod = 5L
  private val TrussFixCap = 40L
  private val TrussFixUnroll = 7

  // AS MATERIALIZED: each round's CTEs are referenced several times
  // (tri reads ori 3×, the audits read keep twice); DuckDB inlines
  // un-hinted CTEs per reference, which compounds multiplicatively
  // down the round chain (first cut ran >12 min at sf0.01;
  // materialized, sub-second)
  private def sqlTrussRound(in: String, i: Int): String =
    s"""deg$i AS MATERIALIZED (SELECT x, CAST(count(*) AS BIGINT) AS d
       |  FROM (SELECT u AS x FROM $in UNION ALL SELECT v FROM $in)
       |  GROUP BY x),
       |ori$i AS MATERIALIZED (SELECT
       |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
       |         THEN u ELSE v END AS a,
       |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
       |         THEN v ELSE u END AS b
       |  FROM $in JOIN deg$i du ON du.x = $in.u
       |  JOIN deg$i dv ON dv.x = $in.v),
       |tri$i AS MATERIALIZED (SELECT e1.a AS a, e1.b AS b, e2.b AS c
       |  FROM ori$i e1
       |  JOIN ori$i e2 ON e1.a = e2.a AND e1.b <> e2.b
       |  JOIN ori$i e3 ON e3.a = e1.b AND e3.b = e2.b),
       |sup$i AS (SELECT u, v, CAST(count(*) AS BIGINT) AS sup FROM (
       |    SELECT least(a, b) AS u, greatest(a, b) AS v FROM tri$i
       |    UNION ALL
       |    SELECT least(a, c) AS u, greatest(a, c) AS v FROM tri$i
       |    UNION ALL
       |    SELECT least(b, c) AS u, greatest(b, c) AS v FROM tri$i)
       |  GROUP BY u, v),
       |keep$i AS MATERIALIZED (SELECT $in.u, $in.v FROM $in
       |  JOIN sup$i ON sup$i.u = $in.u AND sup$i.v = $in.v
       |  WHERE sup >= ${TrussK - 2})""".stripMargin

  private val sqlTrussHash = Hashing.sqlHash60(
    "'truss|' || CAST(u AS VARCHAR) || '|' || CAST(v AS VARCHAR)")

  private val sqlTrussEdges: String =
    s"""io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem),
       |eall AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM io a JOIN io b ON a.o = b.o AND a.p < b.p),
       |e0 AS MATERIALIZED (SELECT u, v FROM eall
       |  WHERE $sqlTrussHash % $TrussSampleMod = 0)""".stripMargin

  private val sqlKtrussPeel: String = {
    def round(in: String, i: Int): String = sqlTrussRound(in, i)
    def audit(in: String, r: Int): String =
      s"""SELECT $r AS round,
         |  (SELECT CAST(count(DISTINCT x) AS BIGINT) FROM
         |    (SELECT u AS x FROM $in UNION ALL SELECT v FROM $in))
         |    AS n_nodes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $in) AS n_edges"""
        .stripMargin
    s"""WITH $sqlTrussEdges,
       |${round("e0", 0)},
       |${round("keep0", 1)}
       |${audit("e0", 0)}
       |UNION ALL ${audit("keep0", 1)}
       |UNION ALL ${audit("keep1", 2)}""".stripMargin
  }

  private val sqlKtrussFixpoint: String = {
    val ins = "e0" +: (0 until TrussFixUnroll).map(i => s"keep$i")
    val rounds = (0 until TrussFixUnroll)
      .map(i => sqlTrussRound(ins(i), i)).mkString(",\n")
    val counts = ins.zipWithIndex.map { case (t, r) =>
      s"SELECT $r AS r, (SELECT count(*) FROM $t) AS c" }
      .mkString("\n  UNION ALL ")
    val last = ins.last
    s"""WITH $sqlTrussEdges,
       |$rounds,
       |counts AS MATERIALIZED ($counts),
       |conv AS (SELECT min(a.r) AS rfix FROM counts a
       |  JOIN counts b ON b.r = a.r - 1 AND b.c = a.c)
       |SELECT ((SELECT rfix FROM conv) - 1)::BIGINT AS n_rounds,
       |  (SELECT count(DISTINCT x) FROM
       |    (SELECT u AS x FROM $last UNION ALL SELECT v FROM $last))
       |    ::BIGINT AS n_nodes,
       |  (SELECT count(*) FROM $last)::BIGINT AS n_edges""".stripMargin
  }

  private val AnfLanes = 8
  private val AnfCapBit = 25
  private def spark_lanes(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until AnfLanes).toDF("k")
  }

  private val sqlAnfTwoHop: String = {
    val h = Hashing.sqlHash60(
      "'anf|' || CAST(k AS VARCHAR) || '|' || CAST(node_id AS VARCHAR)")
    s"""WITH e0 AS (SELECT DISTINCT l_suppkey AS src,
       |    100000 + l_partkey AS dst FROM lineitem),
       |edges AS (SELECT src, dst FROM e0
       |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
       |nodes AS (SELECT DISTINCT src AS node_id FROM edges),
       |lanes AS (SELECT unnest(range(0, $AnfLanes)) AS k),
       |masks AS (SELECT node_id, k,
       |    least($h & (-($h)), 1::BIGINT << $AnfCapBit) AS m0
       |  FROM nodes CROSS JOIN lanes),
       |m1 AS (SELECT p.node_id, p.k, bit_or(n.m0) | p.m0 AS m
       |  FROM masks p JOIN edges ON edges.src = p.node_id
       |  JOIN masks n ON n.node_id = edges.dst AND n.k = p.k
       |  GROUP BY p.node_id, p.k, p.m0),
       |m2 AS (SELECT p.node_id, p.k, bit_or(n.m) | p.m AS m
       |  FROM m1 p JOIN edges ON edges.src = p.node_id
       |  JOIN m1 n ON n.node_id = edges.dst AND n.k = p.k
       |  GROUP BY p.node_id, p.k, p.m),
       |r AS (SELECT node_id, k,
       |    bit_count(((m + 1) & ~m) - 1)::BIGINT AS r FROM m2)
       |SELECT node_id, sum(r)::BIGINT AS sum_r,
       |  ((1::BIGINT << CAST(sum(r) // $AnfLanes AS INT))
       |    * 100000000000) // 77351 AS est_ball2_micro
       |FROM r GROUP BY node_id""".stripMargin
  }

  val bfsHops: Q = (s, dir) => {
    import s.implicits._
    val e0 = GraphTrunk.suppPartEdges(s, dir)
    val edges = e0.unionByName(e0.select($"dst".as("src"), $"src".as("dst")))
    val d0 = Tables(s, dir, "supplier").filter($"s_suppkey" <= 2)
      .select($"s_suppkey".as("node_id"))
    def expand(frontier: DataFrame, visited: DataFrame): DataFrame =
      edges.join(frontier.select($"node_id".as("src")), Seq("src"))
        .select($"dst".as("node_id")).distinct()
        .join(visited, Seq("node_id"), "left_anti")
    // per-hop checkpoints: each frontier is read by the next expand,
    // the growing visited anti-join AND the final union — lazy, hop
    // chains nest (88-Exchange plan). O(frontier) node-id rows each.
    val d1 = expand(d0, d0).trunkCheckpoint()
    val v1 = d0.unionByName(d1)
    val d2 = expand(d1, v1).trunkCheckpoint()
    val d3 = expand(d2, v1.unionByName(d2))
    d0.select($"node_id", lit(0).as("hops"))
      .unionByName(d1.select($"node_id", lit(1).as("hops")))
      .unionByName(d2.select($"node_id", lit(2).as("hops")))
      .unionByName(d3.select($"node_id", lit(3).as("hops")))
  }

  /** q109 — k-core decomposition (bounded peel): repeatedly remove
    * nodes of degree < k and their incident edges; what survives is the
    * k-core, the standard "dense enough to matter" subgraph filter
    * before community detection or graph embedding. The dense
    * supplier⇄part incidence graph has no sub-26-degree nodes, so the
    * peel runs on a 5% hash-sampled edge subset (the same stateless
    * hash60 thresholding as q56 — reproducible on any cluster), where
    * k=4 genuinely cascades: removing one round's weak nodes drags
    * neighbors below k the next round. Output is the per-round audit
    * (surviving nodes/edges), the shape a curation job logs. Each round
    * = one degree aggregation + two semi-joins, all keyed on node id —
    * partitioning reuse as in q107; fixpoint k-core at scale is
    * [[graft.functions.GraphKernels.kcore]] — the same round looped to
    * a count fixpoint, spec-asserted equal when capped. */
  val kcorePeel: Q = (s, dir) => {
    import s.implicits._
    val k = 4
    val e0 = GraphTrunk.suppPartEdges(s, dir)
      .select($"src".as("u"), $"dst".as("v"))
      .filter(Hashing.hash60(concat(lit("kcore|"), $"u".cast("string"),
        lit("|"), $"v".cast("string"))) % 20 === 0)
    val und = e0.unionByName(e0.select($"v".as("u"), $"u".as("v")))
    def audit(edges: DataFrame, round: Int): DataFrame =
      edges.agg(countDistinct($"u").as("n_nodes"),
          expr("count(1) div 2").as("n_edges"))
        .select(lit(round).as("round"), $"n_nodes", $"n_edges")
    def peel(edges: DataFrame): DataFrame = {
      val keep = edges.groupBy($"u").agg(count(lit(1)).as("d"))
        .filter($"d" >= k).select($"u".as("n"))
      edges.join(keep.select($"n".as("u")), Seq("u"))
        .join(keep.select($"n".as("v")), Seq("v"))
        .select($"u", $"v")
    }
    // per-round checkpoints (the q478 k-truss discipline, which
    // post-dates this query): every round frame is read by the next
    // peel (degree agg + two semi-joins) AND its own audit — left
    // lazy the rounds nest multiplicatively (this was a 160-Exchange
    // plan, the second-largest in the suite)
    val undC = und.trunkCheckpoint()
    val r1 = peel(undC).trunkCheckpoint()
    val r2 = peel(r1).trunkCheckpoint()
    val r3 = peel(r2).trunkCheckpoint()
    audit(undC, 0).unionByName(audit(r1, 1))
      .unionByName(audit(r2, 2)).unionByName(audit(r3, 3))
  }

  /** q181 — autocorrelation function of daily revenue at lags 1–7
    * (does yesterday predict today? is there a weekly cycle?) — the
    * stationarity probe run before any forecasting model. The series
    * is the POST-AGGREGATE daily frame (O(days), q177's discipline);
    * each lag pairs it with itself via one equi-join on day+lag after
    * a ×7 broadcast lag fan-out — bounded at any corpus size. Pearson
    * r per lag comes from the q142 closed form over EXACT sums; sums
    * of squared cents overflow a long (9e18) once daily revenue
    * passes ~3e9 cents, so the moment sums are decimal(38,0) on the
    * Spark side and HUGEINT in the oracle — exact to 1e38, beyond any
    * corpus — and only the final r is a float tree over those exact
    * integers, rounded to 6dp. */
  val acf: Q = (s, dir) => {
    import s.implicits._
    val daily = Tables(s, dir, "orders")
      .groupBy(datediff(to_date($"o_orderdate"),
        lit("1995-01-01").cast("date")).as("d"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
    val lags = s.range(1, 8).select($"id".cast("int").as("lag"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    daily.as("a").crossJoin(broadcast(lags))
      .join(daily.as("b"), col("b.d") === col("a.d") + $"lag")
      .select($"lag", col("a.cents").as("x"), col("b.cents").as("y"))
      .groupBy($"lag")
      .agg(count(lit(1)).as("n"),
        sum(dec($"x")).as("sx"), sum(dec($"y")).as("sy"),
        sum(dec($"x") * dec($"y")).as("sxy"),
        sum(dec($"x") * dec($"x")).as("sxx"),
        sum(dec($"y") * dec($"y")).as("syy"))
      .select($"lag", $"n",
        round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) /
          sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double")), 6)
          .as("acf"))
  }

  /** q183 — CUSUM changepoint score per region (has this region's
    * daily revenue drifted from its own mean, and when?): the
    * classic alarm statistic s_k = max(0, s_{k−1} + dev_k). The
    * recurrence looks like a fold (q176), but the zero floor has a
    * prefix-sum closed form — s_k = P_k − min(0, min_{j≤k} P_j) — so
    * it runs as two stacked running windows (sum, then min) PER
    * REGION, parallel across regions with no fold and no collect.
    * Deviations are mean-centered without division: dev = n·cents −
    * total (exact longs; |dev| ≤ n·daily-cents ~ 1e15 at 100 TB,
    * inside long range with the margin documented here). Output is
    * the O(regions×days) scored series. */
  val cusumChangepoint: Q = (s, dir) => {
    import s.implicits._
    val daily = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables(s, dir, "nation")
        .select($"n_nationkey", $"n_regionkey")),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_regionkey".as("region"),
        to_date($"o_orderdate").as("day"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
    val tot = daily.groupBy($"region")
      .agg(sum($"cents").as("tot"), count(lit(1)).as("n_days"))
    val wc = Window.partitionBy($"region").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(broadcast(tot), Seq("region"))
      .withColumn("dev", $"n_days" * $"cents" - $"tot")
      .withColumn("p", sum($"dev").over(wc))
      .withColumn("m", least(min($"p").over(wc), lit(0L)))
      .select($"region", $"day", $"dev".as("dev_scaled"),
        ($"p" - $"m").as("cusum_scaled"))
  }

  /** q184 — item-to-item co-occurrence affinity over (user, day)
    * baskets: for every pair of event types, how often do they land
    * in the same basket vs. their independent rates — the
    * "customers who did X also did Y" kernel. The pair join keys on
    * the basket id, so fan-out is |item types|² per basket (bounded,
    * q173's shape), the item-count table is O(types) and broadcasts,
    * and the basket total rides as one broadcast row. Affinity is
    * exact: cosine² in micro² units and lift in micro units, both
    * integer cross-products in decimal(38,0) (n_ij² · 1e12 overflows
    * a long at ~9e4 baskets shared) with integral division — engine-
    * and partitioning-exact at any scale. */
  val cooccurrence: Q = (s, dir) => {
    import s.implicits._
    val items = Tables(s, dir, "events")
      .select($"user_id", to_date($"ts").as("day"), $"event_type")
      .distinct()
    val counts = items.groupBy($"event_type").agg(count(lit(1)).as("ni"))
    val nb = items.select($"user_id", $"day").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val pairs = items.as("a")
      .join(items.as("b"), Seq("user_id", "day"))
      .filter(col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("nij"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    pairs
      .join(broadcast(counts.select($"event_type".as("type_a"),
        $"ni".as("na"))), Seq("type_a"))
      .join(broadcast(counts.select($"event_type".as("type_b"),
        $"ni".as("nb"))), Seq("type_b"))
      .crossJoin(broadcast(nb))
      .select($"type_a", $"type_b", $"na", $"nb", $"nij",
        expr("CAST(CAST(1000000000000 AS DECIMAL(38,0)) * nij * nij" +
          " div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)")
          .as("cos2_micro2"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * nij * n_baskets" +
          " div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)")
          .as("lift_micro"))
  }

  /** q187 — seasonally-adjusted anomaly flags: a Sunday is only
    * anomalous relative to OTHER SUNDAYS (q116's plain z-score flags
    * every weekend of a weekday-heavy metric). Daily revenue is
    * compared within its day-of-week group, and the 2σ fence is
    * evaluated entirely in exact integers: with resid = n·x − Σx
    * (the mean-centered residual scaled by group size, q183's trick),
    * (x−μ)² > 4σ² cross-multiplies to resid² > 4(n·Σx² − (Σx)²) —
    * both sides decimal(38,0) products of exact cent sums, no float
    * anywhere, so the flag set is bit-stable under any partitioning
    * and identical in both engines. One daily aggregate, one O(7)
    * broadcast of the per-dow moments, no windows at all. */
  val dowAnomaly: Q = (s, dir) => {
    import s.implicits._
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
      .withColumn("dow", weekday($"day").cast("int"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val moments = daily.groupBy($"dow")
      .agg(count(lit(1)).as("n"), sum(dec($"cents")).as("sx"),
        sum(dec($"cents") * dec($"cents")).as("sxx"))
    daily.join(broadcast(moments), Seq("dow"))
      .withColumn("resid", dec($"n") * dec($"cents") - $"sx")
      .select($"day", $"dow", $"cents",
        $"resid".cast("long").as("resid_scaled"),
        ($"resid" * $"resid" >
          lit(4) * ($"n" * $"sxx" - $"sx" * $"sx")).as("is_anomaly"))
  }

  /** q189 — A/B test read-out per metric (Welch two-sample z at
    * |z| > 2): users hash-split into arms by the q134 rule (pure
    * function of user_id — reproducible forever, no RNG state), then
    * ONE conditional-aggregation pass computes both arms' exact
    * moment sums per event type — no join, no window, map-side
    * combined. The significance fence is the cross-multiplied form of
    * (m_a−m_b)² > 4(v_a/n_a + v_b/n_b): diff²(n_a−1)(n_b−1) >
    * 4[(n_a·sxx_a − sx_a²)n_b²(n_b−1) + (n_b·sxx_b − sx_b²)n_a²(n_a−1)]
    * with diff = sx_a·n_b − sx_b·n_a. diff and both variance
    * numerators are EXACT decimal(38,0) (each under ~1e31 at any real
    * scale); the OUTER products would need ~76 digits, so the final
    * comparison runs in double — same operation tree over the same
    * exact integers on both engines, hence deterministic (the
    * approximation is ULP-level and could flip only hairline z≈2
    * cases). Mean diff is reported in exact micro-cents via integral
    * division. */
  val abTest: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val e = Tables(s, dir, "events").filter($"value".isNotNull)
      .select($"event_type",
        (Hashing.hash60(concat(lit("ab|"), $"user_id".cast("string")))
          % 2).as("arm"),
        round($"value" * 100).cast("long").as("y"))
    def armAgg(a: Int, nm: String) = Seq(
      sum(when($"arm" === a, 1L).otherwise(0L)).as(s"n_$nm"),
      sum(when($"arm" === a, dec($"y")).otherwise(dec(lit(0))))
        .as(s"sx_$nm"),
      sum(when($"arm" === a, dec($"y") * dec($"y"))
        .otherwise(dec(lit(0)))).as(s"sxx_$nm"))
    val aggs = armAgg(0, "a") ++ armAgg(1, "b")
    e.groupBy($"event_type")
      .agg(aggs.head, aggs.tail: _*)
      .select($"event_type", $"n_a", $"n_b",
        expr("CAST(CAST(1000000 AS DECIMAL(38,0))" +
          " * (sx_a * n_b - sx_b * n_a)" +
          " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)")
          .as("mean_diff_micro"),
        welchFence($"sx_a", $"sx_b", $"n_a", $"n_b", $"sxx_a", $"sxx_b")
          .as("significant"))
  }

  /** The cross-multiplied Welch fence. diff and the variance
    * numerators are exact decimals; the outer products run in double
    * (their exact forms need ~76 digits) with a fixed operation tree
    * mirrored verbatim in the oracle SQL. */
  private def welchFence(sxA: Column, sxB: Column, nA: Column,
      nB: Column, sxxA: Column, sxxB: Column): Column = {
    val d = (c: Column) => c.cast("double")
    val diff = d(sxA * nB - sxB * nA)
    val va = d(nA * sxxA - sxA * sxA)
    val vb = d(nB * sxxB - sxB * sxB)
    val lhs = diff * diff * d(nA - 1) * d(nB - 1)
    val rhs = (va * d(nB) * d(nB) * d(nB - 1) +
      vb * d(nA) * d(nA) * d(nA - 1)) * 4.0d
    lhs > rhs
  }

  val queries: Map[String, Q] = Map(
    "q50_asof_join" -> asofJoin,
    "q445_asof_nearest" -> asofNearest,
    "q450_salted_join" -> saltedJoin,
    "q453_kmv_set_ops" -> kmvSetOps,
    "q81_asof_tolerance" -> asofTolerance,
    "q82_asof_forward" -> asofForward,
    "q92_asof_sql" -> asofSql,
    "q83_salted_agg" -> saltedAgg,
    "q51_range_join" -> rangeJoin,
    "q52_hll_distinct" -> hllDistinct,
    "q217_hll_intersection" -> hllIntersection,
    "q53_scd2_history" -> scd2History,
    "q54_quantiles" -> quantiles,
    "q96_sample_quantiles" -> sampleQuantiles,
    "q55_dup_clusters" -> dupClusters,
    "q120_cluster_representative" -> clusterRepresentative,
    "q87_dup_clusters_star" -> dupClustersStar,
    "q89_pagerank" -> pagerank,
    "q196_hits" -> hits,
    "q131_personalized_pagerank" -> personalizedPagerank,
    "q132_graph_sage" -> graphSage,
    "q105_triangles" -> triangles,
    "q476_triangles_sampled" -> trianglesSampled,
    "q477_anf_two_hop" -> anfTwoHop,
    "q478_ktruss_peel" -> ktrussPeel,
    "q483_ktruss_fixpoint" -> ktrussFixpoint,
    "q215_adamic_adar" -> adamicAdar,
    "q107_bfs_hops" -> bfsHops,
    "q109_kcore_peel" -> kcorePeel,
    "q56_sample_stratified" -> sampleStratified,
    "q57_moving_avg" -> movingAvg,
    "q116_zscore_anomaly" -> zscoreAnomaly,
    "q118_lpa_communities" -> lpaCommunities,
    "q119_pareto_front" -> paretoFront,
    "q122_decayed_revenue" -> decayedRevenue,
    "q125_hll_rollup" -> hllRollup,
    "q138_join_overlap_sketch" -> joinOverlapSketch,
    "q139_fuzzy_name_join" -> fuzzyNameJoin,
    "q460_record_linkage" -> recordLinkage,
    "q462_recursive_reach" -> recursiveReach,
    "q466_alias_resolution" -> aliasResolution,
    "q473_lateness_census" -> latenessCensus,
    "q474_asof_topk" -> asofTopK,
    "q141_poisson_bootstrap" -> poissonBootstrap,
    "q142_grouped_trend" -> groupedTrend,
    "q143_label_similarity" -> labelSimilarity,
    "q146_ts_similarity" -> tsSimilarity,
    "q155_supplier_hhi" -> supplierHhi,
    "q166_seasonality" -> seasonality,
    "q156_windowed_distinct" -> windowedDistinct,
    "q130_modularity" -> modularityAudit,
    "q167_bloom_join_audit" -> bloomJoinAudit,
    "q177_theil_sen" -> theilSen,
    "q181_acf" -> acf,
    "q183_cusum_changepoint" -> cusumChangepoint,
    "q184_cooccurrence" -> cooccurrence,
    "q187_dow_anomaly" -> dowAnomaly,
    "q189_ab_test" -> abTest,
  )

  // ---------------------------------------------------------- oracle SQL

  private val sqlAsof =
    """SELECT p.event_id AS purchase_id, p.user_id,
      | last(c.event_id ORDER BY c.ts, c.event_id) AS click_event_id,
      | CAST(epoch_us(p.ts) - epoch_us(max(c.ts)) AS BIGINT) AS gap_us
      |FROM events p
      |LEFT JOIN events c
      |  ON c.event_type = 'click' AND c.user_id = p.user_id
      | AND c.ts <= p.ts
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id, p.user_id, p.ts""".stripMargin

  private val sqlAsofTolerance =
    """SELECT p.event_id AS purchase_id, p.user_id,
      | last(c.event_id ORDER BY c.ts, c.event_id) AS click_event_id,
      | CAST(epoch_us(p.ts) - epoch_us(max(c.ts)) AS BIGINT) AS gap_us,
      | count(c.event_id) > 0 AS attributed
      |FROM events p
      |LEFT JOIN events c
      |  ON c.event_type = 'click' AND c.user_id = p.user_id
      | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id, p.user_id, p.ts""".stripMargin

  private val sqlAsofForward =
    """SELECT p.event_id AS purchase_id, p.user_id,
      | first(c.event_id ORDER BY c.ts ASC, c.event_id DESC)
      |   AS next_error_id,
      | CAST(epoch_us(min(c.ts)) - epoch_us(p.ts) AS BIGINT) AS wait_us
      |FROM events p
      |LEFT JOIN events c
      |  ON c.event_type = 'error' AND c.user_id = p.user_id
      | AND c.ts >= p.ts
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id, p.user_id, p.ts""".stripMargin

  private val sqlRange =
    """SELECT e.event_id, count(p.event_id) AS n_nearby
      |FROM events e
      |LEFT JOIN events p
      |  ON p.event_type = 'purchase'
      | AND p.ts >= e.ts - INTERVAL 120 SECOND
      | AND p.ts <= e.ts + INTERVAL 120 SECOND
      |WHERE e.event_type = 'error'
      |GROUP BY e.event_id""".stripMargin

  // assembled by concatenation, not interpolation into stripMargin (the
  // inner SQL's continuation-line '|'s would be eaten)
  private def sqlHll: String =
    "SELECT x.event_type, x.exact_users, h.hll_est, " +
      "h.hll_est AS hll_agg_est\n" +
      "FROM (SELECT event_type, count(DISTINCT user_id) AS exact_users\n" +
      "      FROM events GROUP BY event_type) x\n" +
      "JOIN (" + Sketches.sqlHllDistinct("events", "event_type",
        "event_type", "CAST(user_id AS VARCHAR)") +
      ") h USING (event_type)"

  private def sqlHllIntersection: String = {
    val h = Hashing.sqlHash60("CAST(user_id AS VARCHAR)")
    s"""WITH ev AS (SELECT event_type, user_id FROM events
       |  WHERE event_type IN ('click', 'purchase')),
       |rg AS (SELECT g, b, max(rho) AS r FROM (
       |    SELECT event_type AS g, ($h >> 50) AS b,
       |      CAST(51 - length(ltrim(bin($h & 1125899906842623), '0'))
       |        AS INTEGER) AS rho
       |    FROM ev) x GROUP BY g, b),
       |rgu AS (SELECT 'union' AS g, b, max(r) AS r FROM rg GROUP BY b),
       |allr AS (SELECT * FROM rg UNION ALL SELECT * FROM rgu),
       |est AS (SELECT g, round(CASE WHEN raw <= 2560.0 AND v > 0
       |      THEN 1024.0 * ln(1024.0 / v) ELSE raw END, 4) AS hll_est
       |  FROM (SELECT g, (1024 - count(*)) AS v,
       |      (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0
       |        / (sum(power(0.5, r)) + (1024 - count(*))) AS raw
       |    FROM allr GROUP BY g) z),
       |exact AS (SELECT count(*)::BIGINT AS exact_inter FROM (
       |    SELECT user_id FROM ev GROUP BY user_id
       |    HAVING count(DISTINCT event_type) = 2) t)
       |SELECT a.hll_est AS est_a, b.hll_est AS est_b,
       |  u.hll_est AS est_union,
       |  round(a.hll_est + b.hll_est - u.hll_est, 4) AS inter_est,
       |  exact_inter
       |FROM (SELECT hll_est FROM est WHERE g = 'click') a,
       |     (SELECT hll_est FROM est WHERE g = 'purchase') b,
       |     (SELECT hll_est FROM est WHERE g = 'union') u, exact""".stripMargin
  }

  private def sqlHllRollup: String =
    "SELECT x.week, x.exact_users, h.hll_est\n" +
      "FROM (SELECT date_diff('day', DATE '2024-01-01'," +
      " CAST(ts AS DATE)) // 7 AS week," +
      " count(DISTINCT user_id)::BIGINT AS exact_users\n" +
      "      FROM events GROUP BY 1) x\n" +
      "JOIN (" + Sketches.sqlHllDistinct("events",
        "date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7",
        "week", "CAST(user_id AS VARCHAR)") +
      ") h USING (week)"

  private def sqlBootstrap: String = {
    val h = Hashing.sqlHash60(
      "'boot|' || CAST(rep AS VARCHAR) || '|' || CAST(o_orderkey AS VARCHAR)")
    s"""WITH e AS (SELECT o_orderkey,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       |    unnest(range(0, 32)) AS rep
       |  FROM orders),
       |wt AS (SELECT rep, cents,
       |    CASE WHEN u < 0.36787944117144233 THEN 0
       |         WHEN u < 0.7357588823428847 THEN 1
       |         WHEN u < 0.9196986029286058 THEN 2
       |         WHEN u < 0.9810118431238462 THEN 3
       |         WHEN u < 0.9963401531726563 THEN 4
       |         ELSE 5 END::BIGINT AS w
       |  FROM (SELECT rep, cents,
       |      CAST($h AS DOUBLE) / 1152921504606846976.0 AS u
       |    FROM e) t)
       |SELECT CAST(rep AS INTEGER) AS rep, sum(w)::BIGINT AS n_eff,
       |  sum(w * cents)::BIGINT // sum(w)::BIGINT AS mean_cents
       |FROM wt GROUP BY rep""".stripMargin
  }

  private def sqlJoinOverlap: String = {
    val ta = "(SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k" +
      " FROM orders)"
    val tb = "(SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k" +
      " FROM customer WHERE c_acctbal > 5000.0)"
    val tu = s"(SELECT k FROM $ta u1 UNION ALL SELECT k FROM $tb u2)"
    def est(t: String, n: String) =
      "(" + Sketches.sqlHllDistinct(s"$t t$n", "'x'", "g", "k") + ")"
    s"""SELECT ea.hll_est AS est_a, eb.hll_est AS est_b,
       |  eu.hll_est AS est_union,
       |  round(ea.hll_est + eb.hll_est - eu.hll_est, 4) AS est_overlap,
       |  (SELECT count(*)::BIGINT FROM $ta ia
       |   WHERE ia.k IN (SELECT k FROM $tb ib)) AS exact_overlap
       |FROM ${est(ta, "a")} ea
       |CROSS JOIN ${est(tb, "b")} eb
       |CROSS JOIN ${est(tu, "u")} eu""".stripMargin
  }

  private val sqlScd2 =
    """WITH ord AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |           OR lag(event_type) OVER w <> event_type
      |         THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), runs AS (
      |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS run_id
      |  FROM ord
      |), g AS (
      |  SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
      |    min(event_type) AS status,
      |    date_trunc('second', min(ts)) AS valid_from,
      |    count(*) AS n_events
      |  FROM runs GROUP BY user_id, run_id
      |)
      |SELECT user_id, run_id, status, valid_from,
      |  lead(valid_from) OVER w2 AS valid_to,
      |  (lead(valid_from) OVER w2 IS NULL) AS is_current, n_events
      |FROM g
      |WINDOW w2 AS (PARTITION BY user_id ORDER BY run_id)""".stripMargin

  private val sqlQuantiles =
    """SELECT l_returnflag,
      | round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      | round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
      | round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
      | round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
      | count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  private val sqlSampleQuantiles = {
    val h = Hashing.sqlHash60(
      "'qsample|' || CAST(l_orderkey AS VARCHAR) || '|' || " +
        "CAST(l_linenumber AS VARCHAR)")
    s"""WITH h AS (SELECT l_returnflag, l_extendedprice,
       |    $h AS hk,
       |    'qsample|' || CAST(l_orderkey AS VARCHAR) || '|' ||
       |      CAST(l_linenumber AS VARCHAR) AS rk
       |  FROM lineitem),
       |r AS (SELECT *, row_number() OVER
       |    (PARTITION BY l_returnflag ORDER BY hk, rk) AS rn FROM h)
       |SELECT l_returnflag,
       |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_est,
       |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_est,
       |  count(*) AS n_sampled
       |FROM r WHERE rn <= 64 GROUP BY l_returnflag""".stripMargin
  }

  private def sqlDupClusters: String =
    "WITH RECURSIVE pairs AS (\n" +
      TrainingData.oracles("q23_dedup_minhash_lsh") + "\n),\n" +
      s"""edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), nodes AS (
         |  SELECT doc_id FROM documents
         |  UNION ALL SELECT doc_id + ${TrainingData.TwinOffset} FROM documents
         |), reach(n, lab) AS (
         |  SELECT doc_id, doc_id FROM nodes
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.n
         |), comp AS (
         |  SELECT n AS doc_id, min(lab) AS component FROM reach GROUP BY n
         |)
         |SELECT c.doc_id, c.component, s.cluster_size
         |FROM comp c
         |JOIN (SELECT component, count(*) AS cluster_size
         |      FROM comp GROUP BY component) s USING (component)""".stripMargin

  private def sqlClusterRep: String = {
    val tk = graft.functions.TextOps.sqlTokens("text")
    s"""WITH q AS (SELECT doc_id,
       |    CAST(1000000 * len(list_distinct(toks)) AS BIGINT)
       |      // CAST(len(toks) AS BIGINT) AS q_micro
       |  FROM (SELECT doc_id, $tk AS toks FROM
       |    (SELECT doc_id, text FROM documents
       |     UNION ALL
       |     SELECT doc_id + ${TrainingData.TwinOffset} AS doc_id,
       |       text || '${TrainingData.TwinSuffix}' AS text
       |     FROM documents)) t
       |  WHERE len(toks) > 0)
       |SELECT cl.doc_id, cl.component, cl.cluster_size, q.q_micro,
       |  row_number() OVER (PARTITION BY cl.component
       |    ORDER BY q.q_micro DESC, cl.doc_id ASC) = 1 AS keep
       |FROM ($sqlDupClusters) cl JOIN q USING (doc_id)""".stripMargin
  }

  private val sqlPagerank = {
    // identical fixed-point arithmetic, unrolled; DuckDB `//` on
    // positive integers = Spark `div`
    val S = 1000000000000L
    s"""WITH e0 AS (SELECT DISTINCT l_suppkey AS src,
       |    100000 + l_partkey AS dst FROM lineitem),
       |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS id FROM e),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT id, $S // (SELECT n FROM nn) AS rank FROM nodes),
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
       |SELECT id AS node_id, CAST(rank AS BIGINT) AS rank FROM r2""".stripMargin
  }

  private val sqlHits = {
    // identical fixed-point half-rounds, unrolled; `//` = Spark `div`
    // on the all-positive scores
    s"""WITH e AS (SELECT DISTINCT l_suppkey AS src,
       |    100000 + l_partkey AS dst FROM lineitem),
       |srcs AS (SELECT DISTINCT src AS id FROM e),
       |dsts AS (SELECT DISTINCT dst AS id FROM e),
       |h0 AS (SELECT id, 1000000::HUGEINT AS hub FROM srcs),
       |a1r AS (SELECT dst AS id, sum(hub)::HUGEINT AS raw
       |  FROM e JOIN h0 ON e.src = h0.id GROUP BY dst),
       |a1t AS (SELECT sum(raw)::HUGEINT AS tot FROM a1r),
       |a1 AS (SELECT dsts.id, coalesce(raw, 0)::HUGEINT * 1000000
       |    // (SELECT tot FROM a1t) AS auth
       |  FROM dsts LEFT JOIN a1r USING (id)),
       |h1r AS (SELECT src AS id, sum(auth)::HUGEINT AS raw
       |  FROM e JOIN a1 ON e.dst = a1.id GROUP BY src),
       |h1t AS (SELECT sum(raw)::HUGEINT AS tot FROM h1r),
       |h1 AS (SELECT srcs.id, coalesce(raw, 0)::HUGEINT * 1000000
       |    // (SELECT tot FROM h1t) AS hub
       |  FROM srcs LEFT JOIN h1r USING (id)),
       |a2r AS (SELECT dst AS id, sum(hub)::HUGEINT AS raw
       |  FROM e JOIN h1 ON e.src = h1.id GROUP BY dst),
       |a2t AS (SELECT sum(raw)::HUGEINT AS tot FROM a2r),
       |a2 AS (SELECT dsts.id, coalesce(raw, 0)::HUGEINT * 1000000
       |    // (SELECT tot FROM a2t) AS auth
       |  FROM dsts LEFT JOIN a2r USING (id)),
       |h2r AS (SELECT src AS id, sum(auth)::HUGEINT AS raw
       |  FROM e JOIN a2 ON e.dst = a2.id GROUP BY src),
       |h2t AS (SELECT sum(raw)::HUGEINT AS tot FROM h2r),
       |h2 AS (SELECT srcs.id, coalesce(raw, 0)::HUGEINT * 1000000
       |    // (SELECT tot FROM h2t) AS hub
       |  FROM srcs LEFT JOIN h2r USING (id))
       |SELECT id, 'hub' AS role, CAST(hub AS BIGINT) AS score FROM h2
       |UNION ALL
       |SELECT id, 'authority' AS role, CAST(auth AS BIGINT) AS score
       |FROM a2""".stripMargin
  }

  private val sqlPpr = {
    val S = 1000000000000L
    s"""WITH e0 AS (SELECT DISTINCT l_suppkey AS src,
       |    100000 + l_partkey AS dst FROM lineitem),
       |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS id FROM e),
       |sn AS (SELECT count(*) AS ns FROM nodes WHERE id <= 2),
       |r0 AS (SELECT id, CASE WHEN id <= 2
       |    THEN $S // (SELECT ns FROM sn) ELSE 0 END AS rank FROM nodes),
       |c1 AS (SELECT e.dst AS id, sum(r0.rank // deg.outdeg) AS s
       |       FROM e JOIN deg ON e.src = deg.src
       |       JOIN r0 ON e.src = r0.id GROUP BY e.dst),
       |r1 AS (SELECT nodes.id,
       |    CASE WHEN nodes.id <= 2
       |      THEN (15 * $S // 100) // (SELECT ns FROM sn) ELSE 0 END
       |      + (85 * coalesce(c1.s, 0)) // 100 AS rank
       |    FROM nodes LEFT JOIN c1 USING (id)),
       |c2 AS (SELECT e.dst AS id, sum(r1.rank // deg.outdeg) AS s
       |       FROM e JOIN deg ON e.src = deg.src
       |       JOIN r1 ON e.src = r1.id GROUP BY e.dst),
       |r2 AS (SELECT nodes.id,
       |    CASE WHEN nodes.id <= 2
       |      THEN (15 * $S // 100) // (SELECT ns FROM sn) ELSE 0 END
       |      + (85 * coalesce(c2.s, 0)) // 100 AS rank
       |    FROM nodes LEFT JOIN c2 USING (id))
       |SELECT id AS node_id, CAST(rank AS BIGINT) AS rank FROM r2""".stripMargin
  }

  private val sqlSample = {
    val h = Hashing.sqlHash60("'sample|' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, source FROM documents
       |WHERE $h % 100 <
       |  CASE WHEN source IN ('src0','src1','src2','src3','src4')
       |       THEN 40 ELSE 10 END""".stripMargin
  }

  private val sqlMovingAvg =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    round(sum(o_totalprice), 2) AS daily_revenue,
      |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
      |      AS day_num
      |  FROM orders GROUP BY 1, 3
      |)
      |SELECT day, daily_revenue,
      |  round(round(sum(daily_revenue) OVER w, 2)
      |        / count(*) OVER w, 6) AS avg_7d
      |FROM daily
      |WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING
      |             AND CURRENT ROW)""".stripMargin

  private val sqlBfsHops =
    """WITH e0 AS (SELECT DISTINCT l_suppkey AS src, 100000 + l_partkey AS dst
      |  FROM lineitem),
      |edges AS (SELECT src, dst FROM e0
      |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
      |d0 AS (SELECT s_suppkey AS node_id FROM supplier WHERE s_suppkey <= 2),
      |d1 AS (SELECT DISTINCT dst AS node_id
      |  FROM edges JOIN d0 ON edges.src = d0.node_id
      |  WHERE dst NOT IN (SELECT node_id FROM d0)),
      |d2 AS (SELECT DISTINCT dst AS node_id
      |  FROM edges JOIN d1 ON edges.src = d1.node_id
      |  WHERE dst NOT IN (SELECT node_id FROM d0
      |                    UNION ALL SELECT node_id FROM d1)),
      |d3 AS (SELECT DISTINCT dst AS node_id
      |  FROM edges JOIN d2 ON edges.src = d2.node_id
      |  WHERE dst NOT IN (SELECT node_id FROM d0
      |                    UNION ALL SELECT node_id FROM d1
      |                    UNION ALL SELECT node_id FROM d2))
      |SELECT node_id, 0 AS hops FROM d0
      |UNION ALL SELECT node_id, 1 FROM d1
      |UNION ALL SELECT node_id, 2 FROM d2
      |UNION ALL SELECT node_id, 3 FROM d3""".stripMargin

  private val sqlKcorePeel = {
    val h = Hashing.sqlHash60(
      "'kcore|' || CAST(u AS VARCHAR) || '|' || CAST(v AS VARCHAR)")
    s"""WITH e0 AS (SELECT DISTINCT l_suppkey AS u, 100000 + l_partkey AS v
       |  FROM lineitem),
       |es AS (SELECT u, v FROM e0 WHERE $h % 20 = 0),
       |und AS (SELECT u, v FROM es UNION ALL SELECT v AS u, u AS v FROM es),
       |k1 AS (SELECT u AS n FROM und GROUP BY u HAVING count(*) >= 4),
       |r1 AS (SELECT und.u, und.v FROM und
       |  JOIN k1 a ON und.u = a.n JOIN k1 b ON und.v = b.n),
       |k2 AS (SELECT u AS n FROM r1 GROUP BY u HAVING count(*) >= 4),
       |r2 AS (SELECT r1.u, r1.v FROM r1
       |  JOIN k2 a ON r1.u = a.n JOIN k2 b ON r1.v = b.n),
       |k3 AS (SELECT u AS n FROM r2 GROUP BY u HAVING count(*) >= 4),
       |r3 AS (SELECT r2.u, r2.v FROM r2
       |  JOIN k3 a ON r2.u = a.n JOIN k3 b ON r2.v = b.n)
       |SELECT 0 AS round, count(DISTINCT u) AS n_nodes,
       |  count(*) // 2 AS n_edges FROM und
       |UNION ALL SELECT 1, count(DISTINCT u), count(*) // 2 FROM r1
       |UNION ALL SELECT 2, count(DISTINCT u), count(*) // 2 FROM r2
       |UNION ALL SELECT 3, count(DISTINCT u), count(*) // 2 FROM r3""".stripMargin
  }

  private val sqlZscore =
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(round(sum(o_totalprice)) AS BIGINT) AS x,
      |    date_diff('day', DATE '1995-01-01',
      |      CAST(o_orderdate AS DATE)) AS day_num
      |  FROM orders GROUP BY 1, 3),
      |st AS (SELECT day, x,
      |    count(*) OVER w AS n,
      |    sum(x) OVER w AS s,
      |    sum(x * x) OVER w AS q
      |  FROM daily WINDOW w AS (ORDER BY day_num
      |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT day, x,
      |  CASE WHEN n >= 2 AND n * q - s * s > 0 THEN
      |    CAST(round(CAST(x * n - s AS DOUBLE)
      |      / sqrt(CAST(n * q - s * s AS DOUBLE)) * 1000000.0) AS BIGINT)
      |  END AS z_micro
      |FROM st""".stripMargin

  private val sqlLpa =
    """WITH e0 AS (SELECT DISTINCT l_suppkey AS src, 100000 + l_partkey AS dst
      |  FROM lineitem),
      |edges AS (SELECT src, dst FROM e0
      |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
      |l0 AS (SELECT DISTINCT src AS node_id, src AS lbl FROM edges),
      |n1 AS (SELECT e.src AS node_id, l.lbl, count(*) AS c
      |  FROM edges e JOIN l0 l ON e.dst = l.node_id GROUP BY 1, 2),
      |l1 AS (SELECT node_id, lbl FROM
      |  (SELECT *, row_number() OVER (PARTITION BY node_id
      |     ORDER BY c DESC, lbl ASC) AS rn FROM n1) t WHERE rn = 1),
      |n2 AS (SELECT e.src AS node_id, l.lbl, count(*) AS c
      |  FROM edges e JOIN l1 l ON e.dst = l.node_id GROUP BY 1, 2),
      |l2 AS (SELECT node_id, lbl FROM
      |  (SELECT *, row_number() OVER (PARTITION BY node_id
      |     ORDER BY c DESC, lbl ASC) AS rn FROM n2) t WHERE rn = 1)
      |SELECT node_id, lbl AS community FROM l2""".stripMargin

  private def sqlModularity: String =
    s"""WITH e0 AS (SELECT DISTINCT l_suppkey AS u, 100000 + l_partkey AS v
       |  FROM lineitem),
       |lab AS (SELECT * FROM ($sqlLpa) l),
       |mt AS (SELECT count(*)::BIGINT AS m FROM e0),
       |inc AS (SELECT lu.community, count(*)::BIGINT AS in_edges
       |  FROM e0
       |  JOIN lab lu ON e0.u = lu.node_id
       |  JOIN lab lv ON e0.v = lv.node_id
       |  WHERE lu.community = lv.community
       |  GROUP BY lu.community),
       |deg AS (SELECT x AS node_id, count(*)::BIGINT AS d
       |  FROM (SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0)
       |  GROUP BY x),
       |degc AS (SELECT lab.community, count(*)::BIGINT AS n_nodes,
       |    sum(deg.d)::BIGINT AS deg_sum
       |  FROM lab JOIN deg USING (node_id) GROUP BY lab.community)
       |SELECT degc.community, degc.n_nodes,
       |  coalesce(inc.in_edges, 0)::BIGINT AS in_edges, degc.deg_sum,
       |  ((1000000 * coalesce(inc.in_edges, 0)::HUGEINT) // m
       |    - (1000000 * degc.deg_sum::HUGEINT * degc.deg_sum)
       |      // (4 * m::HUGEINT * m))
       |    ::BIGINT AS contrib_micro
       |FROM degc LEFT JOIN inc USING (community) CROSS JOIN mt""".stripMargin

  private val sqlPareto =
    """SELECT p_partkey, p_name, p_retailprice, p_size FROM part p
      |WHERE NOT EXISTS (SELECT 1 FROM part q
      |  WHERE q.p_retailprice < p.p_retailprice
      |    AND q.p_size > p.p_size)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q116_zscore_anomaly" -> sqlZscore,
    "q118_lpa_communities" -> sqlLpa,
    "q130_modularity" -> sqlModularity,
    "q119_pareto_front" -> sqlPareto,
    "q122_decayed_revenue" ->
      """SELECT o_custkey,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)
        |    >> CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |         DATE '1998-12-31') // 180 AS INTEGER))::BIGINT
        |    AS decayed_cents,
        |  count(*)::BIGINT AS n_orders
        |FROM orders GROUP BY o_custkey""".stripMargin,
    "q50_asof_join" -> sqlAsof,
    "q445_asof_nearest" -> sqlAsofNearest,
    "q450_salted_join" -> sqlSaltedJoin,
    "q453_kmv_set_ops" -> sqlKmvSetOps,
    "q81_asof_tolerance" -> sqlAsofTolerance,
    "q82_asof_forward" -> sqlAsofForward,
    "q92_asof_sql" -> sqlAsof,
    "q83_salted_agg" ->
      """SELECT CASE WHEN user_id % 10 < 8 THEN 'hot'
        |       ELSE CAST(user_id AS VARCHAR) END AS k,
        | count(*) AS cnt
        |FROM events
        |GROUP BY 1""".stripMargin,
    "q51_range_join" -> sqlRange,
    "q52_hll_distinct" -> sqlHll,
    "q217_hll_intersection" -> sqlHllIntersection,
    "q125_hll_rollup" -> sqlHllRollup,
    "q138_join_overlap_sketch" -> sqlJoinOverlap,
    "q141_poisson_bootstrap" -> sqlBootstrap,
    "q156_windowed_distinct" -> {
      val h = Hashing.sqlHash60("CAST(user_id AS VARCHAR)")
      s"""WITH e AS (SELECT date_diff('day', DATE '2024-01-01',
         |      CAST(ts AS DATE)) AS day, user_id
         |  FROM events),
         |regs AS (SELECT day, b, max(rho) AS r FROM (
         |    SELECT day, ($h >> 50) AS b,
         |      CAST(51 - length(ltrim(bin($h & 1125899906842623), '0'))
         |        AS INTEGER) AS rho
         |    FROM e) x
         |  GROUP BY day, b),
         |spine AS (SELECT d.day, bu.b FROM
         |  (SELECT DISTINCT day FROM regs) d
         |  CROSS JOIN (SELECT DISTINCT b FROM regs) bu),
         |dense AS (SELECT spine.day, spine.b, coalesce(r, 0) AS r
         |  FROM spine LEFT JOIN regs USING (day, b)),
         |merged AS (SELECT day, b, rw AS r FROM (
         |    SELECT day, b, max(r) OVER (PARTITION BY b ORDER BY day
         |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS rw
         |    FROM dense) m
         |  WHERE rw > 0),
         |est AS (SELECT day, round(CASE
         |    WHEN raw <= 2560.0 AND v > 0
         |    THEN 1024.0 * ln(1024.0 / v) ELSE raw END, 4) AS hll_est
         |  FROM (SELECT day, (1024 - count(*)) AS v,
         |      (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0
         |        / (sum(power(0.5, r)) + (1024 - count(*))) AS raw
         |    FROM merged GROUP BY day) z),
         |wex AS (SELECT day2 AS day,
         |    count(DISTINCT user_id)::BIGINT AS exact_users
         |  FROM (SELECT DISTINCT day, user_id FROM e) p,
         |    unnest(range(p.day, p.day + 7)) u(day2)
         |  GROUP BY day2)
         |SELECT CAST(est.day AS INTEGER) AS day, wex.exact_users,
         |  est.hll_est
         |FROM est JOIN wex ON est.day = wex.day""".stripMargin
    },
    "q166_seasonality" ->
      """WITH o AS (SELECT n_regionkey AS region,
        |    CAST(month(CAST(o_orderdate AS DATE)) AS INTEGER) AS mon,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |rm AS (SELECT region, mon, sum(cents)::BIGINT AS mon_cents
        |  FROM o GROUP BY region, mon),
        |rt AS (SELECT region, sum(mon_cents)::BIGINT AS tot_cents
        |  FROM rm GROUP BY region),
        |r AS (SELECT rm.region, mon, mon_cents,
        |    (1000000 * mon_cents) // tot_cents AS share_micro,
        |    row_number() OVER (PARTITION BY rm.region
        |      ORDER BY mon_cents DESC, mon ASC) AS rn
        |  FROM rm JOIN rt ON rm.region = rt.region)
        |SELECT region, mon, mon_cents, share_micro, rn = 1 AS is_peak
        |FROM r""".stripMargin,
    "q155_supplier_hhi" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey, count(*)::BIGINT AS c
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |tot AS (SELECT l_partkey, sum(c)::BIGINT AS tot,
        |    count(*)::BIGINT AS n_suppliers
        |  FROM ps GROUP BY l_partkey),
        |sh AS (SELECT ps.l_partkey, n_suppliers,
        |    (1000000 * c) // tot AS sh
        |  FROM ps JOIN tot USING (l_partkey))
        |SELECT l_partkey, n_suppliers,
        |  CAST(sum(sh * sh) // 1000000 AS BIGINT) AS hhi_micro
        |FROM sh GROUP BY l_partkey, n_suppliers""".stripMargin,
    "q146_ts_similarity" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(round(sum(o_totalprice)) AS BIGINT) AS x,
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE)) AS day_num
        |  FROM orders GROUP BY 1, 3),
        |wins AS (SELECT day, list(x) OVER (ORDER BY day_num
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS arr
        |  FROM daily),
        |fullw AS (SELECT day, arr,
        |    CAST(list_sum(arr) AS DOUBLE) / 7.0 AS mean,
        |    sqrt(CAST(list_sum(list_transform(arr, x -> x * x))
        |        AS DOUBLE) / 7.0
        |      - (CAST(list_sum(arr) AS DOUBLE) / 7.0)
        |        * (CAST(list_sum(arr) AS DOUBLE) / 7.0)) AS sd
        |  FROM wins WHERE len(arr) = 7),
        |z AS (SELECT day,
        |    list_transform(arr, x -> (CAST(x AS DOUBLE) - mean) / sd)
        |      AS z
        |  FROM fullw),
        |q AS (SELECT day AS q_day, z AS qz FROM z
        |  ORDER BY day DESC LIMIT 1)
        |SELECT z.day,
        |  round(list_sum(list_transform(list_zip(z.z, qz),
        |    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
        |       * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), 6)
        |    AS dist2
        |FROM z CROSS JOIN q WHERE z.day <> q.q_day
        |ORDER BY dist2 ASC, day ASC LIMIT 5""".stripMargin,
    "q143_label_similarity" ->
      """WITH ex AS (SELECT label,
        |    unnest(list_transform(embedding,
        |      e -> CAST(round(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT)))
        |      AS v,
        |    unnest(range(1, len(embedding)::BIGINT + 1)) AS dim
        |  FROM embeddings),
        |cs AS (SELECT label, dim, sum(v)::BIGINT AS sv
        |  FROM ex GROUP BY label, dim),
        |cv AS (SELECT label, list(sv ORDER BY dim) AS cv
        |  FROM cs GROUP BY label)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  round(
        |    list_sum(list_transform(list_zip(a.cv, b.cv),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.cv,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.cv,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
        |    AS cos_sim
        |FROM cv a JOIN cv b ON a.label < b.label""".stripMargin,
    "q142_grouped_trend" ->
      """WITH e AS (SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))::BIGINT
        |      AS x,
        |    CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events),
        |s AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |    sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
        |  FROM e GROUP BY event_type)
        |SELECT event_type, n,
        |  CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0) AS BIGINT)
        |    AS slope_micro,
        |  CAST(round(CAST(sy * sxx - sx * sxy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
        |    AS intercept_cents
        |FROM s""".stripMargin,
    "q139_fuzzy_name_join" ->
      """WITH names AS (SELECT DISTINCT p_name AS nm FROM part),
        |g AS (SELECT DISTINCT nm,
        |    unnest(list_transform(range(1, len(nm)::BIGINT - 1),
        |      i -> substr(nm, i::INTEGER, 3))) AS gr
        |  FROM names WHERE len(nm) >= 3),
        |rare AS (SELECT gr FROM g GROUP BY gr HAVING count(*) <= 10),
        |cand AS (SELECT DISTINCT a.nm AS name_a, b.nm AS name_b
        |  FROM g a JOIN rare USING (gr) JOIN g b ON a.gr = b.gr
        |  WHERE a.nm < b.nm)
        |SELECT name_a, name_b,
        |  CAST(levenshtein(name_a, name_b) AS INTEGER) AS edit_dist
        |FROM cand WHERE levenshtein(name_a, name_b) <= 3""".stripMargin,
    "q460_record_linkage" -> sqlRecordLinkage,
    "q462_recursive_reach" -> sqlRecursiveReach("events"),
    "q466_alias_resolution" -> sqlAliasResolution,
    "q473_lateness_census" -> sqlLatenessCensus,
    "q474_asof_topk" -> sqlAsofTopK,
    "q53_scd2_history" -> sqlScd2,
    "q54_quantiles" -> sqlQuantiles,
    "q96_sample_quantiles" -> sqlSampleQuantiles,
    "q55_dup_clusters" -> sqlDupClusters,
    "q120_cluster_representative" -> sqlClusterRep,
    "q87_dup_clusters_star" -> sqlDupClusters,
    "q89_pagerank" -> sqlPagerank,
    "q196_hits" -> sqlHits,
    "q131_personalized_pagerank" -> sqlPpr,
    "q132_graph_sage" ->
      """WITH e0 AS (SELECT DISTINCT l_suppkey AS supp, l_partkey AS part
        |  FROM lineitem),
        |pf AS (SELECT p_partkey AS part,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
        |    CAST(p_size AS BIGINT) AS psize
        |  FROM part),
        |h1 AS (SELECT supp,
        |    sum(price_c) // count(*) AS h1_price,
        |    sum(psize) // count(*) AS h1_size
        |  FROM e0 JOIN pf USING (part) GROUP BY supp)
        |SELECT part AS p_partkey, count(*)::BIGINT AS n_supps,
        |  CAST(sum(h1_price) // count(*) AS BIGINT) AS h2_price,
        |  CAST(sum(h1_size) // count(*) AS BIGINT) AS h2_size
        |FROM e0 JOIN h1 USING (supp) GROUP BY part""".stripMargin,
    "q215_adamic_adar" ->
      """WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM io x JOIN io y ON x.o = y.o AND x.p < y.p),
        |und AS (SELECT u AS w, v AS n FROM e
        |  UNION ALL SELECT v AS w, u AS n FROM e),
        |wt AS (SELECT w,
        |    CAST(round(1000000.0 / ln(count(*)::DOUBLE)) AS BIGINT)
        |      AS aa_micro
        |  FROM und GROUP BY w
        |  HAVING count(*) >= 2 AND count(*) <= 64),
        |capped AS (SELECT und.w, und.n, wt.aa_micro
        |  FROM und JOIN wt USING (w)),
        |sc AS (SELECT a.n AS n1, b.n AS n2,
        |    count(*)::BIGINT AS n_common,
        |    sum(a.aa_micro)::BIGINT AS aa_score_micro
        |  FROM capped a JOIN capped b ON a.w = b.w AND a.n < b.n
        |  GROUP BY 1, 2)
        |SELECT n1, n2, n_common, aa_score_micro FROM sc
        |WHERE NOT EXISTS (SELECT 1 FROM e
        |  WHERE e.u = sc.n1 AND e.v = sc.n2)
        |ORDER BY aa_score_micro DESC, n1 ASC, n2 ASC
        |LIMIT 20""".stripMargin,
    "q105_triangles" ->
      """WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM io a JOIN io b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY x),
        |ori AS (SELECT
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
        |         THEN u ELSE v END AS a,
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
        |         THEN v ELSE u END AS b
        |  FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM ori e1
        |  JOIN ori e2 ON e1.a = e2.a AND e1.b <> e2.b
        |  JOIN ori e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT CAST(sum(d * (d - 1)) // 2 AS BIGINT) FROM deg)
        |    AS n_wedges,
        |  (SELECT n_triangles FROM tri) AS n_triangles,
        |  CAST((3000000 * (SELECT n_triangles FROM tri))
        |    // (SELECT sum(d * (d - 1)) // 2 FROM deg) AS BIGINT)
        |    AS gcc_micro""".stripMargin,
    "q476_triangles_sampled" -> {
      val h = Hashing.sqlHash60(
        "'tri|' || CAST(u AS VARCHAR) || '|' || CAST(v AS VARCHAR)")
      val m3 = TriSampleMod * TriSampleMod * TriSampleMod
      s"""WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM io a JOIN io b ON a.o = b.o AND a.p < b.p),
        |samp AS (SELECT u, v FROM e WHERE $h % $TriSampleMod = 0),
        |sdeg AS (SELECT x, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS x FROM samp UNION ALL SELECT v FROM samp)
        |  GROUP BY x),
        |sori AS (SELECT
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
        |         THEN u ELSE v END AS a,
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
        |         THEN v ELSE u END AS b
        |  FROM samp JOIN sdeg du ON du.x = samp.u
        |  JOIN sdeg dv ON dv.x = samp.v),
        |stri AS (SELECT CAST(count(*) AS BIGINT) AS t_sampled
        |  FROM sori e1
        |  JOIN sori e2 ON e1.a = e2.a AND e1.b <> e2.b
        |  JOIN sori e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM samp) AS n_sample_edges,
        |  (SELECT t_sampled FROM stri) AS t_sampled,
        |  (SELECT t_sampled FROM stri) * $m3 AS est_triangles"""
        .stripMargin
    },
    "q56_sample_stratified" -> sqlSample,
    "q477_anf_two_hop" -> sqlAnfTwoHop,
    "q478_ktruss_peel" -> sqlKtrussPeel,
    "q483_ktruss_fixpoint" -> sqlKtrussFixpoint,
    "q107_bfs_hops" -> sqlBfsHops,
    "q109_kcore_peel" -> sqlKcorePeel,
    "q57_moving_avg" -> sqlMovingAvg,
    "q167_bloom_join_audit" -> {
      val hb = Hashing.sqlHash60(
        "'bloom' || '|' || CAST(lane AS VARCHAR) || '|' ||" +
          " CAST(c_custkey AS VARCHAR)")
      val hp = Hashing.sqlHash60(
        "'bloom' || '|' || CAST(lane AS VARCHAR) || '|' ||" +
          " CAST(custkey AS VARCHAR)")
      s"""WITH members AS (SELECT c_custkey FROM customer
         |  WHERE c_mktsegment = 'BUILDING'),
         |bloom AS (SELECT pos // 63 AS word_idx,
         |    bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
         |  FROM (SELECT $hb % 1024 AS pos
         |    FROM members, unnest(range(0, 4)) u(lane))
         |  GROUP BY 1),
         |probes AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
         |lanes AS (SELECT custkey, $hp % 1024 AS pos
         |  FROM probes, unnest(range(0, 4)) u(lane)),
         |hits AS (SELECT custkey,
         |    bool_and((coalesce(bits, 0)
         |      & (1::BIGINT << CAST(pos % 63 AS INT))) <> 0) AS bloom_hit
         |  FROM lanes LEFT JOIN bloom ON lanes.pos // 63 = bloom.word_idx
         |  GROUP BY custkey)
         |SELECT coalesce(m.is_member, false) AS is_member, h.bloom_hit,
         |  count(*)::BIGINT AS n_keys
         |FROM hits h LEFT JOIN (SELECT c_custkey AS custkey,
         |    true AS is_member FROM members) m USING (custkey)
         |GROUP BY 1, 2""".stripMargin
    },
    "q177_theil_sen" ->
      """WITH daily AS (SELECT
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE)) AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |pairs AS (SELECT
        |    (1000000 * (b.cents - a.cents)) // (b.d - a.d)
        |      AS slope_micro
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |h AS (SELECT slope_micro, count(*)::BIGINT AS c
        |  FROM pairs GROUP BY 1),
        |cum AS (SELECT slope_micro, c,
        |    coalesce(sum(c) OVER (ORDER BY slope_micro
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0)::BIGINT AS cs
        |  FROM h),
        |nn AS (SELECT sum(c)::BIGINT AS n FROM h),
        |lo AS (SELECT slope_micro AS av FROM cum CROSS JOIN nn
        |  WHERE cs <= (n - 1) // 2 AND (n - 1) // 2 < cs + c),
        |hi AS (SELECT slope_micro AS bv FROM cum CROSS JOIN nn
        |  WHERE cs <= (n - 1) - (n - 1) // 2
        |    AND (n - 1) - (n - 1) // 2 < cs + c)
        |SELECT n AS n_pairs,
        |  CAST(round(av + (bv - av) * 0.5, 4) AS DOUBLE)
        |    AS median_slope_micro
        |FROM lo CROSS JOIN hi CROSS JOIN nn""".stripMargin,
    "q181_acf" ->
      """WITH daily AS (SELECT
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE)) AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |p AS (SELECT l.lag AS lag, a.cents::HUGEINT AS x,
        |    b.cents::HUGEINT AS y
        |  FROM (SELECT unnest(range(1, 8))::INTEGER AS lag) l
        |  JOIN daily a ON true
        |  JOIN daily b ON b.d = a.d + l.lag),
        |s AS (SELECT lag, count(*)::BIGINT AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM p GROUP BY lag)
        |SELECT lag, n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |    / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 6) AS acf
        |FROM s""".stripMargin,
    "q183_cusum_changepoint" ->
      """WITH daily AS (SELECT n_regionkey AS region,
        |    CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT region, sum(cents)::BIGINT AS tot,
        |    count(*)::BIGINT AS n_days
        |  FROM daily GROUP BY region),
        |d AS (SELECT region, day, n_days * cents - tot AS dev
        |  FROM daily JOIN tot USING (region)),
        |pp AS (SELECT region, day, dev,
        |    sum(dev) OVER (PARTITION BY region ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM d)
        |SELECT region, day, dev AS dev_scaled,
        |  CAST(p - least(min(p) OVER (PARTITION BY region ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
        |    AS BIGINT) AS cusum_scaled
        |FROM pp""".stripMargin,
    "q184_cooccurrence" ->
      """WITH items AS (SELECT DISTINCT user_id,
        |    CAST(ts AS DATE) AS day, event_type
        |  FROM events),
        |counts AS (SELECT event_type, count(*)::BIGINT AS ni
        |  FROM items GROUP BY event_type),
        |nb AS (SELECT count(*)::BIGINT AS n_baskets
        |  FROM (SELECT DISTINCT user_id, day FROM items)),
        |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*)::BIGINT AS nij
        |  FROM items a JOIN items b
        |    ON a.user_id = b.user_id AND a.day = b.day
        |   AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, ca.ni AS na, cb.ni AS nb, nij,
        |  CAST(1000000000000::HUGEINT * nij * nij
        |    // (ca.ni::HUGEINT * cb.ni) AS BIGINT) AS cos2_micro2,
        |  CAST(1000000::HUGEINT * nij * n_baskets
        |    // (ca.ni::HUGEINT * cb.ni) AS BIGINT) AS lift_micro
        |FROM pairs
        |JOIN counts ca ON ca.event_type = type_a
        |JOIN counts cb ON cb.event_type = type_b
        |CROSS JOIN nb""".stripMargin,
    "q187_dow_anomaly" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |d2 AS (SELECT day, (isodow(day) - 1)::INTEGER AS dow, cents
        |  FROM daily),
        |m AS (SELECT dow, count(*)::BIGINT AS n,
        |    sum(cents::HUGEINT) AS sx,
        |    sum(cents::HUGEINT * cents) AS sxx
        |  FROM d2 GROUP BY dow)
        |SELECT day, dow, cents,
        |  CAST(n * cents::HUGEINT - sx AS BIGINT) AS resid_scaled,
        |  (n * cents::HUGEINT - sx) * (n * cents::HUGEINT - sx)
        |    > 4 * (n * sxx - sx * sx) AS is_anomaly
        |FROM d2 JOIN m USING (dow)""".stripMargin,
    "q189_ab_test" -> {
      val arm = graft.functions.Hashing.sqlHash60(
        "'ab|' || CAST(user_id AS VARCHAR)")
      s"""WITH e AS (SELECT event_type, $arm % 2 AS arm,
         |    CAST(round(value * 100) AS BIGINT) AS y
         |  FROM events WHERE value IS NOT NULL),
         |s AS (SELECT event_type,
         |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
         |    sum(CASE WHEN arm = 0 THEN y::HUGEINT ELSE 0 END) AS sx_a,
         |    sum(CASE WHEN arm = 1 THEN y::HUGEINT ELSE 0 END) AS sx_b,
         |    sum(CASE WHEN arm = 0 THEN y::HUGEINT * y ELSE 0 END)
         |      AS sxx_a,
         |    sum(CASE WHEN arm = 1 THEN y::HUGEINT * y ELSE 0 END)
         |      AS sxx_b
         |  FROM e GROUP BY event_type)
         |SELECT event_type, n_a, n_b,
         |  CAST(1000000::HUGEINT * (sx_a * n_b - sx_b * n_a)
         |    // (n_a::HUGEINT * n_b) AS BIGINT) AS mean_diff_micro,
         |  CAST(sx_a * n_b - sx_b * n_a AS DOUBLE)
         |    * CAST(sx_a * n_b - sx_b * n_a AS DOUBLE)
         |    * CAST(n_a - 1 AS DOUBLE) * CAST(n_b - 1 AS DOUBLE)
         |  > (CAST(n_a * sxx_a - sx_a * sx_a AS DOUBLE)
         |      * CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)
         |      * CAST(n_b - 1 AS DOUBLE)
         |    + CAST(n_b * sxx_b - sx_b * sx_b AS DOUBLE)
         |      * CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE)
         |      * CAST(n_a - 1 AS DOUBLE)) * 4.0 AS significant
         |FROM s""".stripMargin
    },
  )

}
