package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import graft.functions.Skew
import graft.sources.Warehouse

/** Physical-plan contracts: the properties that make queries scale are
  * asserted, not hoped for — pushdown reaching the parquet scan,
  * broadcast dims, rank-limit pushdown, top-k without global sort,
  * shuffle-free bucketed joins, salt-spread joins staying correct. */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(FormattedMode)

  test("q03: all predicates push into the parquet scan, schema pruned") {
    val p = plan("q03_filter_pushdown")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("Not(EqualTo(l_returnflag,N))"))
    assert(!p.contains("l_partkey"), "unused columns must be pruned")
  }

  test("events ts predicate pushes through the NTZ normalization cast") {
    // Tables() normalizes events.ts (NTZ or nanos-long parquet) to
    // session-TZ TimestampType. With the UTC-pinned session the cast is
    // order-preserving, and Catalyst must UNWRAP it so a ts range
    // predicate still reaches the parquet scan — at 100 TB this is the
    // difference between pruning row groups and reading the full fact
    // table. (Measured: the cast projection itself costs ~0 — bare
    // scan and cast scan are within noise at sf0.1.)
    val p = Tables(spark, sfDir, "events")
      .filter($"ts" >= lit("1995-06-01 00:00:00").cast("timestamp"))
      .select($"ts", $"user_id")
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(ts"),
      "ts range predicate must reach the scan despite the NTZ cast:\n" + p)
  }

  test("q04: dimension joins broadcast") {
    val p = plan("q04_revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q06: latest-per-key gets rank-limit pushdown (WindowGroupLimit)") {
    assert(plan("q06_latest_event_per_user").contains("WindowGroupLimit"))
  }

  test("q84: kNN-graph rank filter gets partial + final WindowGroupLimit") {
    // ≤k rows per vector survive on the map side BEFORE the window's
    // shuffle — the property that keeps the kNN join exchange O(k·n)
    val p = plan("q84_knn_graph")
    assert("\\(\\d+\\) WindowGroupLimit".r.findAllIn(p).size == 2, p)
  }

  test("q96: min-hash sample keeps partial + final WindowGroupLimit") {
    // ≤64 rows per group survive each partition before the exchange —
    // the property that makes the sample a mergeable sketch
    val p = plan("q96_sample_quantiles")
    assert("\\(\\d+\\) WindowGroupLimit".r.findAllIn(p).size == 2, p)
  }

  test("q88: boilerplate scrub join broadcasts the heavy-tail set") {
    val p = plan("q88_boilerplate_scrub")
    assert(p.contains("BroadcastHashJoin"),
      "the boilerplate set must broadcast, not shuffle the corpus")
  }

  test("q95: weighted sample is TakeOrderedAndProject, no global Sort") {
    val p = plan("q95_weighted_sample_topn")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q110: batch ANN serve broadcasts the query batch and " +
    "rank-limits per query") {
    val p = plan("q110_ann_batch_serve")
    assert(p.contains("BroadcastHashJoin"), p)
    // ≤k candidates per query survive each partition pre-shuffle (the
    // cell-assignment argmaxes inside ivfAssign carry their own
    // WindowGroupLimit pairs, so ≥2 covers the serve-side rank)
    assert("\\(\\d+\\) WindowGroupLimit".r.findAllIn(p).size >= 2, p)
  }

  test("q108: PMI top-20 is TakeOrderedAndProject, no global Sort") {
    val p = plan("q108_pmi_collocations")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q105: the injected optimizer rule swaps size(array_intersect) " +
    "for the native sorted merge") {
    val p = plan("q105_triangles")
    assert(p.contains("sorted_intersect_count"),
      "IntersectCountRewrite did not fire")
    assert(!p.contains("array_intersect"), p)
  }

  test("q119: skyline plans as partition-carried window + equi-join — " +
    "no cartesian, only the P-row triangular carry may nested-loop") {
    val p = plan("q119_pareto_front")
    assert(!p.contains("CartesianProduct"), p)
    // rangeCumMax's carry is a broadcast triangular join over the
    // O(parts)-row per-partition-max frame — the one permitted
    // nested-loop (same stance as rangeNtile/q94)
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    assert(p.contains("Window"), p)
  }

  test("q100: PQ codebooks and ADC table broadcast; vectors never do") {
    val p = plan("q100_pq_ann")
    // cent0/cent1/qtab/qFull joins are all broadcasts
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(0))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"))
  }

  test("q18/q26: top-k is TakeOrderedAndProject, no global Sort") {
    assert(plan("q18_word_topk").contains("TakeOrderedAndProject"))
    assert(plan("q26_ann_cosine_topk").contains("TakeOrderedAndProject"))
  }

  test("q50 native as-of: exactly two exchanges, no union row-widening") {
    val p = plan("q50_asof_join")
    assert(p.contains("AsOfJoin"), "native exec must be planned")
    // formatted mode lists each node twice (tree + detail) — count the
    // numbered detail headers
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 2,
      s"one exchange per side and nothing else:\n$p")
    assert(!p.contains("Window"), "no window carry-forward in the native plan")
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // the 100 TB shape: a big fact sort-merge-joined to a selectively
    // filtered build side. Spark injects a bloom filter from the build
    // side into the fact scan (runtime row-group skipping); at test
    // scale the size thresholds would suppress it, so they are lowered
    // — the assertion is that the OPTIMIZER wires the filter, which is
    // scale-independent.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // application side has a shuffle below the join (the per-order
      // pre-aggregation) — the rule only injects where the bloom filter
      // can cut shuffle volume, not just scan output
      val lineitem = Tables(spark, sfDir, "lineitem")
        .groupBy($"l_orderkey").agg(sum($"l_quantity").as("qty"))
      val orders = Tables(spark, sfDir, "orders")
        .filter($"o_totalprice" > 400000.0) // selective build side
      val j = lineitem.join(orders,
        $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderdate").agg(sum($"qty").as("q"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        "expected a runtime bloom filter on the fact scan")
      assert(j.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables join without a shuffle") {
    val s2 = SparkSpec.session
    // clear any leftover managed-table locations from prior runs
    s2.sql("DROP TABLE IF EXISTS b_orders")
    s2.sql("DROP TABLE IF EXISTS b_customer")
    for (t <- Seq("b_orders", "b_customer")) {
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val orders = Tables(s2, sfDir, "orders")
    val customer = Tables(s2, sfDir, "customer")
    Warehouse.writeBucketed(orders, "b_orders", "o_custkey", 8)
    Warehouse.writeBucketed(
      customer.withColumnRenamed("c_custkey", "o_custkey"),
      "b_customer", "o_custkey", 8)
    // broadcast would (rightly) win on these tiny dims — disable it so
    // the plan shows the property that matters at scale: a sort-merge
    // join reading co-located buckets with NO shuffle exchange
    val prevThreshold = s2.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = s2.table("b_orders").join(s2.table("b_customer"),
        Seq("o_custkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("ShuffleExchange"),
        s"bucketed join must not shuffle:\n${p.take(800)}")
      assert(p.contains("SortMergeJoin"))
      assert(p.contains("Bucketed: true"),
        "scan must actually use the bucket layout")
      assert(joined.count() == orders.count())
    } finally {
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      s2.sql("DROP TABLE IF EXISTS b_orders")
      s2.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("round-3 operators keep their scale plan shapes") {
    // q167: the 17-word bloom artifact must broadcast onto the probe
    // side — the whole point of bloom semi-join reduction
    val bloomPlan = graft.queries.Scale.queries("q167_bloom_join_audit")(
      spark, sfDir).queryExecution.executedPlan.toString
    assert(bloomPlan.contains("BroadcastHashJoin"),
      "bloom probe must broadcast the word table")
    // q170: the Q21 decorrelation must stay pure equi-join — a
    // correlated-subquery plan would nested-loop lineitem per predicate
    val latePlan = graft.queries.Relational.queries(
      "q170_lone_late_supplier")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!latePlan.contains("CartesianProduct") &&
      !latePlan.contains("BroadcastNestedLoopJoin"),
      s"q170 must not plan a non-equi join:\n$latePlan")
    // q173: support tables broadcast; the basket pair join stays equi
    val rulesPlan = graft.queries.Shaping.queries(
      "q173_association_rules")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(rulesPlan.contains("BroadcastHashJoin") &&
      !rulesPlan.contains("CartesianProduct"),
      "q173 must broadcast supports and keep the pair join equi")
  }

  test("suite-wide: unpartitioned windows only on the documented " +
    "small-frame whitelist") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // Every entry here is a deliberate global window over a frame that
    // is orders of magnitude below corpus row count by construction:
    // ANN rank frames are candidate/top-k sized (WindowGroupLimit
    // prunes pre-exchange), q57/q116/q146/q175 run on the per-day
    // aggregate series, q149 on the percentile grid, q160 on the
    // Zipf-collapsed vocabulary, q207/q216 on retrieval top-k lists.
    // A NEW query showing up in this set is a scale regression: fix it
    // (rangeCumSum/rangeNtile/rangeCumMax) or justify it here.
    // single source of truth shared with the ScaleGuard sweep below
    // (graft.plans.PlanContracts documents each grant)
    val whitelist = graft.plans.PlanContracts.allowances.collect {
      case (name, classes) if classes("globalWindow") => name
    }.toSet
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val n = fn(spark, sfDir).queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }.size
        if (n > 0) Some(name) else None
    }.toSet
    val unexpected = offenders -- whitelist
    assert(unexpected.isEmpty,
      s"new unpartitioned windows (scale cliff at 100 TB): $unexpected")
  }

  test("suite-wide: no nested-loop join over an unreduced build side, " +
    "no cartesian outside the documented whitelist") {
    // The other 100 TB cliff class: Spark plans a
    // BroadcastNestedLoopJoin whenever the build side LOOKS small at
    // test SF; if that side is corpus-shaped the same query OOMs on
    // real data. PlanQuality walks each BNLJ's build subtree and
    // requires a cardinality-reducing operator (aggregate / limit /
    // literal-bounded filter / small grid / checkpointed trunk) —
    // classification shared with the committed PLAN_AUDIT.md table.
    // Cartesian whitelist: q177's Theil-Sen pair expansion runs on the
    // per-day aggregate (O(days)^2, calendar-bounded). Shared with the
    // ScaleGuard sweep via PlanContracts. That sweep checks every
    // query's ANALYZED plan for the cliff classes (global window,
    // non-equi cross join, single-partition repartition) minus the
    // query's declared allowances.
    val cartesianOk = graft.plans.PlanContracts.allowances.collect {
      case (name, classes) if classes("crossJoin") => name
    }.toSet
    // AQE wraps the plan in AdaptiveSparkPlanExec, hiding join nodes
    // until execution — plan statically for the sweep
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          val df = fn(spark, sfDir)
          val p = df.queryExecution.executedPlan
          val bad = graft.plans.PlanQuality.unreducedBnljs(p)
          val carts = graft.plans.PlanQuality.cartesians(p)
          val guard = graft.plans.ScaleGuard
            .findings(df.queryExecution.analyzed)
            .filterNot(graft.plans.PlanContracts.allowances
              .getOrElse(name, Set.empty[String]))
          if (bad > 0) Some(s"$name: $bad unreduced BNLJ")
          else if (carts > 0 && !cartesianOk(name))
            Some(s"$name: $carts cartesian")
          else if (guard.nonEmpty)
            Some(s"$name: ScaleGuard ${guard.mkString(",")}")
          else None
      }
      assert(offenders.isEmpty,
        s"corpus-shaped nested loops or ScaleGuard findings " +
          s"(OOM cliff at 100 TB): $offenders")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q119 pareto front: partition-carry deployed, no global window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("q119_pareto_front")(spark, sfDir)
      .queryExecution
    val unpart = qe.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty,
      "q119 must run its skyline max through rangeCumMax, not a " +
        "single-partition WindowExec")
  }

  test("round-3 batch-2 operators keep their scale plan shapes") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // every Window in these plans must be partitioned — an empty
    // partitionSpec is the single-partition global sort that killed
    // q94/q154 in round 2
    for (q <- Seq("q179_attribution", "q183_cusum_changepoint",
        "q185_distinctive_terms", "q182_prefix_jaccard_join")) {
      val unpart = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
      assert(unpart.isEmpty, s"$q has an unpartitioned window")
    }
    // q179: conversions⋈touches must stay a user-keyed equi-join —
    // the range predicate bounds fan-out but must not drive the join
    val attr = SparkEntry.queries("q179_attribution")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!attr.contains("CartesianProduct") &&
      !attr.contains("BroadcastNestedLoopJoin"),
      s"q179 must not plan a non-equi join:\n$attr")
    // q180: the O(groups) med/mad frames broadcast onto the event scan
    val mad = SparkEntry.queries("q180_mad_outliers")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(mad).size >= 2,
      "q180 med/mad frames must broadcast")
    // q181: the only non-equi join is the deliberate ×7 broadcast lag
    // fan-out; the daily⋈daily lag pair join must stay equi
    val acfP = SparkEntry.queries("q181_acf")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!acfP.contains("CartesianProduct"), acfP)
    assert("BroadcastNestedLoopJoin".r.findAllIn(acfP).size <= 1,
      s"only the lag fan-out may nested-loop:\n$acfP")
    // q184: item-count tables broadcast; basket pair join stays equi
    val cooc = SparkEntry.queries("q184_cooccurrence")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(cooc.contains("BroadcastHashJoin") &&
      !cooc.contains("CartesianProduct"),
      "q184 must broadcast item counts and keep the pair join equi")
    // q185: the per-source top-10 rank gets partial+final group limits
    val dist = SparkEntry.queries("q185_distinctive_terms")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(dist.contains("WindowGroupLimit"),
      "q185 rank<=10 must push into WindowGroupLimit")
  }

  test("salted join equals plain join; salted count equals plain count") {
    val orders = Tables(spark, sfDir, "orders")
    val customer = Tables(spark, sfDir, "customer")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plainCnt = orders.join(customer, Seq("o_custkey")).count()
    val saltedCnt = Skew.saltedEquiJoin(orders, customer,
      "o_custkey", 4).count()
    assert(saltedCnt == plainCnt)

    val plain = Tables(spark, sfDir, "events")
      .groupBy($"event_type").count()
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedCount(
      Tables(spark, sfDir, "events"), "event_type", 8)
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }
  test("continuation batch (q301-q327) keeps its scale plan shapes") {
    // q301: the part prefilter broadcasts onto the lineitem scan
    assert(plan("q301_min_cost_supplier").contains("BroadcastHashJoin"))
    // q303: the scalar max is a one-row broadcast, not a global sort
    val p303 = plan("q303_top_supplier_revenue")
    assert(p303.contains("BroadcastNestedLoopJoin") ||
      p303.contains("BroadcastHashJoin"))
    // q310: the Hamming pass prunes to 20 per query BEFORE the
    // exchange — the property that keeps the rerank O(k·queries)
    assert("WindowGroupLimit".r.findAllIn(
      plan("q310_binary_hamming_ann")).size >= 2,
      "Hamming rank pruning missing")
    // q324: the kernel decomposes into moments — NO row-level join
    // and no window anywhere in the plan
    val p324 = plan("q324_poly_kernel_mmd")
    assert(!p324.contains("SortMergeJoin") &&
      !p324.contains("ShuffledHashJoin"), "kernel matrix materialized")
    assert(!"\\(\\d+\\) Window\\b".r.findAllIn(p324).hasNext,
      "unexpected window in a moment-only plan")
    // q327: top-15 outliers via TakeOrderedAndProject, no global Sort
    assert(plan("q327_mahalanobis_outliers")
      .contains("TakeOrderedAndProject"))
    // q321: the 3-term feedback frame broadcasts — never a collect,
    // never a shuffled join against the posting frame
    assert(plan("q321_rocchio_feedback").contains("BroadcastHashJoin"))
  }

  test("modeling batch (q346-q370) keeps its scale plan shapes") {
    // q346: the top-3 rank prunes inside each item partition BEFORE
    // any exchange — the property that keeps the serving table join
    // O(k·items). The serving table is a memoized session trunk since
    // r10 (shared with q398), so the assertion must look at the BUILD
    // lineage (transparent mode), not the trunk-hit ExistingRDD scan.
    assert(Materialize.transparent { plan("q346_item_cf_topk") }
      .contains("WindowGroupLimit"))
    // q352: three OLS fits from one moment pass — no window, no
    // shuffled row-level join anywhere in the plan
    val p352 = plan("q352_doubly_robust_ate")
    assert(!"\\(\\d+\\) Window\\b".r.findAllIn(p352).hasNext,
      "unexpected window in the AIPW moment plan")
    // q367: the centroid frame broadcasts onto the coordinate stream
    assert(plan("q367_silhouette").contains("BroadcastHashJoin"))
    // q365: grid density clustering never materializes a
    // point-to-point distance join
    assert(!plan("q365_grid_dbscan").contains("CartesianProduct"))
    // q364: both nearest-control passes ride the range exchange —
    // every window in the plan is partition-local
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val w364 = graft.queries.Modeling.psmAtt(spark, sfDir)
      .queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
    assert(w364.isEmpty, "unpartitioned window in the PSM plan")
  }

}
