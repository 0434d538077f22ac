package graft

import org.apache.spark.sql.functions._
import graft.functions.{AsOfJoin, ConnectedComponents, RangeJoin, Sketches}
import graft.queries.Scale

/** Semantics the DuckDB oracle can't (or shouldn't) express: crafted
  * edge inputs for the scale operators, error bounds for the documented
  * approximate swaps, and independent-formulation cross-checks. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = timestamp_seconds(lit(sec))

  test("record linkage: blocking keeps exactly the clean-nation truth " +
    "pairs, links exactly the fully-clean ones, parameters discriminate") {
    val row = Scale.recordLinkage(spark, sfDir).collect().head
    val ids = Tables(spark, sfDir, "customer")
      .select($"c_custkey").as[Long].collect()
    def h(id: Long, seed: Int) =
      graft.functions.Hashing.hash60(s"$id|$seed")
    // nation-clean records stay co-blocked (±jitter bucket registration
    // covers the balance noise); nation-perturbed ones fall out — the
    // documented blocking loss
    val natClean = ids.count(h(_, 1) % 10 != 0).toLong
    // links happen only at the (seg=, bal≈) posterior (0.95); truth
    // pairs have bal≈ by construction, so linked-truth = both-clean
    val bothClean =
      ids.count(id => h(id, 1) % 10 != 0 && h(id, 2) % 5 != 0).toLong
    assert(row.getAs[Long]("n_truth_candidates") === natClean)
    assert(row.getAs[Long]("n_true_linked") === bothClean)
    assert(row.getAs[Long]("n_linked") >= bothClean)
    // EM step must find both comparison fields discriminative
    assert(row.getAs[Long]("m_seg_micro") > row.getAs[Long]("u_seg_micro"))
    assert(row.getAs[Long]("m_bal_micro") > row.getAs[Long]("u_bal_micro"))
    val lam = row.getAs[Long]("lambda1_micro")
    assert(lam > 0L && lam < 1000000L)
  }

  test("alias resolution: pointer doubling equals a plain-Scala chain " +
    "walk (root, depth), roots are the declared mod-16 bases") {
    val got = Scale.aliasResolution(spark, sfDir)
      .select($"alias_id", $"root_id", $"depth")
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val ids = Tables(spark, sfDir, "customer")
      .select($"c_custkey").as[Long].collect().toSet
    def parent(i: Long): Long =
      if (i % 16 == 0) i
      else i - (1 + graft.functions.Hashing.hash60(s"$i|p") % (i % 16))
    ids.foreach { i =>
      var cur = i; var d = 0L
      while (ids.contains(cur) && parent(cur) != cur) {
        cur = parent(cur); d += 1
      }
      assert(got(i) === ((cur, d)), s"alias $i resolved wrong")
      assert(cur % 16 === 0L)
      assert(d <= 15L)
    }
  }

  // ------------------------------------------- fixpoint graph kernels

  test("fixpoint loops equal the unrolled kernels (q107 BFS, q109 " +
    "k-core, q118 LPA) and converge with the checksum early-exit") {
    import graft.functions.GraphKernels
    val e0 = graft.Tables(spark, sfDir, "lineitem")
      .select($"l_suppkey".as("src"),
        (lit(100000L) + $"l_partkey").as("dst"))
      .distinct()
    val edges = e0.unionByName(
      e0.select($"dst".as("src"), $"src".as("dst"))).localCheckpoint()

    // BFS: loop capped at 3 hops == the q107 unroll, row for row
    val seeds = graft.Tables(spark, sfDir, "supplier")
      .filter($"s_suppkey" <= 2).select($"s_suppkey".as("node_id"))
    val loopBfs = GraphKernels.bfsHops(edges, seeds, maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val unrolledBfs = Scale.queries("q107_bfs_hops")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(loopBfs === unrolledBfs, "BFS loop diverged from unroll")

    // LPA: loop capped at 2 rounds == the q118 unroll (early-exit can
    // only fire if round 2 is a no-op, in which case they still agree)
    val loopLpa = GraphKernels.lpa(edges, maxRounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unrolledLpa = Scale.queries("q118_lpa_communities")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loopLpa === unrolledLpa, "LPA loop diverged from unroll")

    // k-core on a crafted graph with a known peel cascade: a 4-clique
    // (the 3-core) with a pendant path hanging off it peels down to
    // exactly the clique, and the fixpoint is stable
    val cliqueEdges = for {
      a <- 1L to 4L; b <- 1L to 4L if a != b
    } yield (a, b)
    val pathEdges = Seq((4L, 5L), (5L, 4L), (5L, 6L), (6L, 5L))
    val g = (cliqueEdges ++ pathEdges).toDF("u", "v")
    val core = GraphKernels.kcore(g, k = 3)
    assert(core.select($"u").distinct().as[Long].collect().toSet ===
      Set(1L, 2L, 3L, 4L), "3-core must be exactly the 4-clique")
    // one more peel changes nothing (true fixpoint)
    assert(GraphKernels.kcorePeel(3)(core).count() === core.count())
    // one round of the loop's peel (q109's unrolled round):
    // deg(5)=2 and deg(6)=1 drop immediately, leaving the clique
    val onePeel = GraphKernels.kcorePeel(3)(g)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(onePeel === cliqueEdges.toSet,
      "one peel round must already leave exactly the clique")
  }

  // ------------------------------------------------------------- as-of

  test("as-of join: inclusive bound, tie-break, unmatched probes") {
    val probes = Seq(
      (1L, 20L, 101L), // equal-time click exists → inclusive match
      (1L, 5L, 102L),  // before any click → null
      (2L, 50L, 103L), // two clicks at t=40 → larger event_id wins
      (3L, 10L, 104L)  // user with no clicks at all → null
    ).toDF("user_id", "sec", "event_id")
      .select($"user_id", timestamp_seconds($"sec").as("ts"), $"event_id")
    val refs = Seq(
      (1L, 10L, 201L), (1L, 20L, 202L),
      (2L, 40L, 203L), (2L, 40L, 204L), (2L, 60L, 205L)
    ).toDF("user_id", "sec", "event_id")
      .select($"user_id", timestamp_seconds($"sec").as("ts"), $"event_id")

    val got = AsOfJoin.backward(probes, refs, Seq("user_id"), "ts",
        "event_id", Seq("event_id"))
      .select($"event_id", $"asof_event_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(got(101L).contains(202L), "equal-time ref must match (<=)")
    assert(got(102L).isEmpty, "probe before any ref must be unmatched")
    assert(got(103L).contains(204L),
      "at equal ref times the larger tie-break id must win")
    assert(got(104L).isEmpty, "keyless user must be unmatched")
  }

  test("native as-of exec: same crafted-edge results as the window form") {
    val probes = Seq(
      (1L, 20L, 101L), (1L, 5L, 102L), (2L, 50L, 103L), (3L, 10L, 104L)
    ).toDF("user_id", "sec", "event_id")
      .select($"user_id", timestamp_seconds($"sec").as("ts"), $"event_id")
    val refs = Seq(
      (1L, 10L, 201L), (1L, 20L, 202L),
      (2L, 40L, 203L), (2L, 40L, 204L), (2L, 60L, 205L)
    ).toDF("user_id", "sec", "event_id")
      .select($"user_id", timestamp_seconds($"sec").as("ts"), $"event_id")
    val native = AsOfJoin.backwardNative(probes, refs, Seq("user_id"),
      "ts", "event_id", Seq("event_id"))
    // physical node renders as "AsOfJoin" (Exec suffix stripped)
    assert(native.queryExecution.executedPlan.toString
      .contains("AsOfJoin "), "strategy must plan the native exec")
    val got = native.select($"event_id", $"asof_event_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(got(101L).contains(202L) && got(102L).isEmpty &&
      got(103L).contains(204L) && got(104L).isEmpty)
  }

  test("native as-of exec equals the window form on the events table") {
    val e = Tables(spark, sfDir, "events")
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id")
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id")
    val window = AsOfJoin.backward(purchases, clicks, Seq("user_id"),
      "ts", "event_id", Seq("event_id", "ts"))
      .select($"user_id", $"event_id", $"asof_event_id", $"asof_ts")
    val native = AsOfJoin.backwardNative(purchases, clicks, Seq("user_id"),
      "ts", "event_id", Seq("event_id", "ts"))
      .select($"user_id", $"event_id", $"asof_event_id", $"asof_ts")
    assert(window.count() === native.count())
    assert(window.exceptAll(native).isEmpty &&
      native.exceptAll(window).isEmpty,
      "native exec must reproduce the window form row-for-row")
  }

  test("native as-of exec handles composite keys") {
    val probes = Seq((1L, "a", 20L, 101L), (1L, "b", 20L, 102L),
        (2L, "a", 9L, 103L))
      .toDF("k1", "k2", "sec", "event_id")
      .select($"k1", $"k2", timestamp_seconds($"sec").as("ts"),
        $"event_id")
    val refs = Seq((1L, "a", 10L, 201L), (1L, "b", 15L, 202L),
        (2L, "a", 10L, 203L))
      .toDF("k1", "k2", "sec", "event_id")
      .select($"k1", $"k2", timestamp_seconds($"sec").as("ts"),
        $"event_id")
    val got = AsOfJoin.backwardNative(probes, refs, Seq("k1", "k2"),
        "ts", "event_id", Seq("event_id"))
      .select($"event_id", $"asof_event_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(got(101L).contains(201L), "(1,a) must not see (1,b)'s refs")
    assert(got(102L).contains(202L))
    assert(got(103L).isEmpty, "(2,a) ref is after the probe")
  }

  test("as-of variants: tolerance bounds the gap, forward never looks " +
    "back") {
    val tol = Scale.asofTolerance(spark, sfDir)
    assert(tol.filter($"attributed" &&
      $"gap_us" > 3600L * 1000000L).count() === 0)
    assert(tol.filter($"attributed" && $"gap_us" < 0).count() === 0)
    assert(tol.filter(!$"attributed" && $"click_event_id".isNotNull)
      .count() === 0)
    val fwd = Scale.asofForward(spark, sfDir)
    assert(fwd.filter($"wait_us" < 0).count() === 0,
      "forward matches must be at-or-after the probe")
  }

  test("nearest as-of equals a plain-Scala brute-force replay " +
    "(tie rules included)") {
    // q445's two-native-pass composition vs an independent third
    // formulation: for every purchase, scan ALL the user's clicks and
    // pick by (|gap| asc, before-preferred, event_id desc) — the
    // documented tie policy. The oracle already gates the SQL
    // formulation; this pins the Scala-side semantics against a
    // non-Spark implementation (the q425/q426 replay discipline).
    val ev = graft.Tables(spark, sfDir, "events")
      .select($"event_type", $"user_id", $"event_id",
        unix_micros($"ts").as("tus"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val clicksBy = ev.filter(_._1 == "click").groupBy(_._2)
    val expected = ev.filter(_._1 == "purchase").map {
      case (_, user, pid, pt) =>
        val best = clicksBy.getOrElse(user, Array.empty).minByOption {
          case (_, _, cid, ct) =>
            (math.abs(ct - pt), if (ct <= pt) 0 else 1, -cid)
        }
        pid -> best.map { case (_, _, cid, ct) =>
          (cid, math.abs(ct - pt), if (ct <= pt) "before" else "after")
        }
    }.toMap
    val got = Scale.asofNearest(spark, sfDir).collect().map { r =>
      r.getAs[Long]("purchase_id") ->
        (if (r.isNullAt(r.fieldIndex("nearest_click_id"))) None
         else Some((r.getAs[Long]("nearest_click_id"),
           r.getAs[Long]("gap_us"), r.getAs[String]("side"))))
    }.toMap
    assert(got.keySet == expected.keySet)
    val diffs = got.collect {
      case (pid, v) if v != expected(pid) => (pid, v, expected(pid)) }
    assert(diffs.isEmpty, s"mismatches: ${diffs.take(3).toSeq}")
  }

  // -------------------------------------------------------- range join

  test("band join equals the nested-loop formulation, boundaries inclusive") {
    val band = 120L * 1000000L
    val left = Seq((1L, 1000L), (2L, 5000L), (3L, 9999L))
      .toDF("l_id", "sec")
      .select($"l_id", timestamp_seconds($"sec").as("l_ts"))
    // offsets probe exact band edges: ±120 s in, ±120.000001 s out,
    // plus bucket-boundary crossings
    val right = Seq(
      (11L, 1000L - 120L), (12L, 1000L + 120L), (13L, 1121L),
      (14L, 879L), (15L, 5060L), (16L, 4880L), (17L, 9999L)
    ).toDF("r_id", "sec")
      .select($"r_id", timestamp_seconds($"sec").as("r_ts"))
    val gotPairs = RangeJoin
      .pairsWithinBand(left, "l_ts", right, "r_ts", band)
      .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
    val expPairs = left.crossJoin(right)
      .filter(abs(unix_micros($"l_ts") - unix_micros($"r_ts")) <= band)
      .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
    assert(gotPairs == expPairs)
    assert(gotPairs.contains((1L, 11L)) && gotPairs.contains((1L, 12L)),
      "exact ±band boundary must be inclusive")
  }

  // --------------------------------------------------------------- HLL

  test("HLL estimate within sketch error for large and small cardinality") {
    val big = spark.range(20000)
      .select(lit("g").as("grp"), $"id".cast("string").as("k"))
    val bigEst = Sketches.hllDistinct(big, "grp", $"k")
      .select($"hll_est").as[Double].head()
    // m=1024 → relative std error 1.04/sqrt(1024) ≈ 3.25%
    assert(math.abs(bigEst - 20000) / 20000 < 0.1,
      s"HLL estimate $bigEst too far from 20000")
    val small = spark.range(150)
      .select(lit("g").as("grp"), $"id".cast("string").as("k"))
    val smallEst = Sketches.hllDistinct(small, "grp", $"k")
      .select($"hll_est").as[Double].head()
    // linear-counting regime is much tighter at n << m
    assert(math.abs(smallEst - 150) / 150 < 0.05,
      s"linear-counting estimate $smallEst too far from 150")
  }

  test("buffer HLL aggregate is bit-identical to the compositional form") {
    // same hash, same registers, same estimate arithmetic: the
    // TypedImperativeAggregate must agree EXACTLY, not within error
    val data = Tables(spark, sfDir, "events")
      .select($"event_type", $"user_id".cast("string").as("k"))
    val comp = Sketches.hllDistinct(data, "event_type", $"k")
      .withColumnRenamed("hll_est", "comp")
    val buf = Sketches.hllDistinctAgg(data, "event_type", $"k")
      .withColumnRenamed("hll_est", "buf")
    val joined = comp.join(buf, "event_type")
    assert(joined.filter($"comp" =!= $"buf").count() === 0)
    assert(joined.count() > 0)
    // and via SQL registration
    data.createOrReplaceTempView("hll_in")
    val viaSql = spark.sql(
      "SELECT event_type, hll_sketch_estimate(k) AS s FROM hll_in " +
        "GROUP BY event_type")
    assert(comp.join(viaSql, "event_type")
      .filter($"comp" =!= $"s").count() === 0)
  }

  test("buffer CMS aggregate equals the compositional sketch cell for " +
    "cell across partitioned merges") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions.Hashing
    // words with repeats, spread over many partitions to force the
    // serialize/merge path; weights exercise the weighted update
    val words = Seq("join", "join", "hash", "row", "row", "row", "scan")
    val df = words.zipWithIndex
      .map { case (w, i) => (w, (i % 3 + 1).toLong) }
      .toDF("k", "wt").repartition(7)
    val agg = ColumnBridge.column(graft.expressions.CmsSketchAgg(
      ColumnBridge.expression($"k"),
      ColumnBridge.expression($"wt")).toAggregateExpression())
    val sk = df.agg(agg.as("sk")).as[Seq[Long]].head()
    assert(sk.length === 4 * 64)
    // compositional formulation of the same cells
    val cells = df
      .withColumn("h31", Hashing.hash60($"k").bitwiseAND(lit(2147483647L)))
      .select($"wt", posexplode(array((0 until 4).map(l =>
        Hashing.lane($"h31", l) % 64): _*)).as(Seq("lane", "bucket")))
      .groupBy($"lane", $"bucket").agg(sum($"wt").as("c"))
      .as[(Int, Long, Long)].collect()
    cells.foreach { case (lane, bucket, c) =>
      assert(sk(lane * 64 + bucket.toInt) === c,
        s"cell ($lane,$bucket) diverged")
    }
    assert(sk.sum === cells.map(_._3).sum * 1L,
      "total sketch mass must equal total weight × lanes / ... cells")
    // SQL registration path
    df.createOrReplaceTempView("cms_in")
    val viaSql = spark.sql("SELECT cms_sketch(k, wt) AS sk FROM cms_in")
      .as[Seq[Long]].head()
    assert(viaSql === sk)
  }

  // ------------------------------------------------ connected components

  test("min-label propagation closes chains, pairs and singletons") {
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    // 1-2-3-4 is a diameter-3 chain: forces multiple iterations
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("src", "dst")
    val got = ConnectedComponents.minLabel(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 1L), s"chain: $got")
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(got(20L) == 20L, "singleton keeps its own label")
  }

  test("large/small-star matches min-label on chains, forks and singletons") {
    // a diameter-63 chain: per-hop label propagation would need ~63
    // rounds; star contraction halves heights every round
    val chainNodes = (1L to 64L).toDF("id")
    val chainEdges = (1L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
    val viaStar = ConnectedComponents.minLabel(chainNodes, chainEdges)
      .as[(Long, Long)].collect().toMap
    assert((1L to 64L).forall(viaStar(_) == 1L),
      s"chain must contract to root 1: ${viaStar.filter(_._2 != 1L)}")

    // deterministic pseudo-random graph over 200 nodes + 50 singletons
    val n = 200L
    val rngEdges = (0L until 150L)
      .map(i => ((i * 7919L) % n, (i * i * 104729L + 13L) % n))
      .filter { case (a, b) => a != b }
    val allNodes = 0L until n + 50L
    val got = ConnectedComponents.minLabel(allNodes.toDF("id"),
        rngEdges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got === UnionFind.minLabels(allNodes, rngEdges),
      "star contraction diverges from the union-find reference")
  }

  test("incremental CC equals full recompute on merges, bridges and singletons") {
    // old world: components {1,2}, {5,6}, singleton {9}
    val oldNodes = Seq(1L, 2L, 5L, 6L, 9L).toDF("id")
    val oldEdges = Seq((1L, 2L), (5L, 6L)).toDF("src", "dst")
    val oldLabels = ConnectedComponents.minLabel(oldNodes, oldEdges)
    // batch: node 0 bridges into {1,2}; node 7 joins {5,6}; 8 is edge-less;
    // and a direct old-old bridge 2-5 merges two old components
    val newNodes = Seq(0L, 7L, 8L).toDF("id")
    val newEdges = Seq((0L, 1L), (7L, 6L), (2L, 5L)).toDF("src", "dst")
    val got = ConnectedComponents
      .incremental(oldLabels, newNodes, newEdges)
      .as[(Long, Long)].collect().toMap
    val full = ConnectedComponents.minLabel(
      oldNodes.unionByName(newNodes),
      oldEdges.unionByName(newEdges))
      .as[(Long, Long)].collect().toMap
    assert(got === full, s"incremental $got vs full $full")
    assert(got(7L) === 0L, "7 joins the merged component rooted at new node 0")
    assert(got(9L) === 9L && got(8L) === 8L, "untouched stay put")
  }

  test("fixed-point pagerank: star centre dominates, leaves tie, exact values") {
    import graft.functions.PageRank
    // bidirected star 1—2, 1—3, 1—4: deg(1)=3, deg(leaf)=1
    val e0 = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val edges = e0.unionByName(e0.select($"dst".as("src"), $"src".as("dst")))
    val S = 1000000000000L
    val got = PageRank.ranks(edges, iters = 2, scale = S)
      .as[(Long, Long)].collect().toMap
    // same arithmetic by hand: r0 = S/4 each
    val r0 = S / 4
    val base = (15L * S / 100L) / 4
    val rC1 = base + 85L * (3L * (r0 / 1)) / 100       // centre: 3 leaves
    val rL1 = base + 85L * (r0 / 3) / 100              // leaf: centre/3
    val rC2 = base + 85L * (3L * (rL1 / 1)) / 100
    val rL2 = base + 85L * (rC1 / 3) / 100
    assert(got(1L) === rC2, s"centre: got ${got(1L)} want $rC2")
    assert(Seq(2L, 3L, 4L).forall(got(_) === rL2),
      s"leaves: $got want $rL2")
    assert(got(1L) > got(2L), "hub must outrank leaves")
    // mass: truncation only ever loses micro-units, never creates them
    assert(got.values.sum <= S)
  }

  test("q55 clusters: every twin pair lands in one cluster of size ≥ 2") {
    val byDoc = Scale.dupClusters(spark, sfDir)
      .select($"doc_id", $"component").as[(Long, Long)].collect().toMap
    val twinPairs = byDoc.keys.filter(_ < 100000L)
      .filter(id => byDoc.contains(id + 100000L))
    // q23's Jaccard≥0.5 gate admits every twin (suffix-only perturbation)
    val split = twinPairs.filter(id => byDoc(id) != byDoc(id + 100000L))
    assert(split.isEmpty, s"twins in different clusters: ${split.take(5)}")
  }

  // --------------------------------------------------------- quantiles

  test("min-hash sample quantiles land within 15% of exact") {
    // K=64 ⇒ O(1/√K) ≈ 12.5% sampling error; bound the realized error
    // on real data so "estimate" is a measured claim, not a hope
    val est = Scale.sampleQuantiles(spark, sfDir)
      .select($"l_returnflag", $"p50_est").as[(String, Double)]
      .collect().toMap
    val exact = Tables(spark, sfDir, "lineitem").groupBy($"l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5)").as("p50"))
      .as[(String, Double)].collect().toMap
    exact.foreach { case (k, ex) =>
      val rel = math.abs(est(k) - ex) / ex
      assert(rel < 0.15, s"group $k: sample p50 ${est(k)} vs exact $ex")
    }
  }

  test("approx_percentile swap stays within 1% of exact quantiles") {
    // q54 documents approx_percentile as the 100 TB path; bound the
    // substitution error on real data so the swap is a measured claim
    val li = Tables(spark, sfDir, "lineitem")
    val Seq(exact, approx) = Seq(
      expr("percentile(l_extendedprice, 0.5)"),
      expr("approx_percentile(l_extendedprice, 0.5, 10000)")
    ).map(c => li.agg(c.cast("double")).as[Double].head())
    assert(math.abs(exact - approx) / exact < 0.01,
      s"approx $approx vs exact $exact")
  }

  // ---------------------------------------------------------- sampling

  test("stratified hash sample hits per-stratum rates (sf0.01)") {
    val sf01 = "/root/testdata/sf0.01"
    val docs = Tables(spark, sf01, "documents")
    val sampled = Scale.sampleStratified(spark, sf01)
    val hi = Set("src0", "src1", "src2", "src3", "src4")
    val nHi = sampled.filter($"source".isin(hi.toSeq: _*)).count().toDouble /
      docs.filter($"source".isin(hi.toSeq: _*)).count()
    val nLo = sampled.filter(!$"source".isin(hi.toSeq: _*)).count().toDouble /
      docs.filter(!$"source".isin(hi.toSeq: _*)).count()
    assert(math.abs(nHi - 0.4) < 0.15, s"high stratum rate $nHi")
    assert(math.abs(nLo - 0.1) < 0.08, s"low stratum rate $nLo")
    // determinism: same rows on re-evaluation
    assert(sampled.collect().map(_.getLong(0)).toSet ==
      sampled.collect().map(_.getLong(0)).toSet)
  }

  // -------------------------------------------------------------- SCD2

  test("SCD2 invariants: interval chaining, one current row, coverage") {
    val h = Scale.scd2History(spark, sfDir).cache()
    val users = h.select($"user_id").distinct().count()
    assert(h.filter($"is_current").count() == users,
      "exactly one open interval per user")
    val chained = h.as("a").join(h.as("b"),
      $"a.user_id" === $"b.user_id" && $"a.run_id" === $"b.run_id" - 1)
    assert(chained.filter($"a.valid_to" =!= $"b.valid_from").count() == 0,
      "valid_to must equal the next run's valid_from")
    assert(chained.filter($"a.status" === $"b.status").count() == 0,
      "adjacent runs must differ in status (runs are maximal)")
    val nEvents = h.agg(sum($"n_events")).as[Long].head()
    assert(nEvents == Tables(spark, sfDir, "events").count(),
      "every event belongs to exactly one run")
    h.unpersist()
  }

  // --------------------------------------------------------- moving avg

  test("q217 HLL intersection estimate lands near the exact overlap") {
    val r = graft.queries.Scale.hllIntersection(spark, sfDir)
      .collect().head
    val (ea, eb, eu) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    val inter = r.getDouble(3); val exact = r.getLong(4)
    // union sketch max-merges, so est(A∪B) can't exceed est(A)+est(B)
    assert(eu <= ea + eb + 1e-9)
    assert(math.abs(inter - (ea + eb - eu)) < 1e-6)
    // three compounded 1024-register estimates: generous 20% + slack
    assert(math.abs(inter - exact) <= exact * 0.2 + 20.0,
      s"inclusion-exclusion estimate $inter too far from exact $exact")
  }

  test("q215 Adamic-Adar equals a plain-Scala degree-capped rebuild") {
    import graft.queries.Scale
    val e = {
      val io = graft.Tables(spark, sfDir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
      io.as("x").join(io.as("y"),
          $"x.o" === $"y.o" && $"x.p" < $"y.p")
        .select($"x.p".as("u"), $"y.p".as("v")).distinct()
        .as[(Long, Long)].collect().toSet
    }
    val nbrs = e.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (w, l) => w -> l.map(_._2).toSet }
    val wt = nbrs.collect { case (w, ns)
        if ns.size >= 2 && ns.size <= 64 =>
      w -> math.round(1e6 / math.log(ns.size.toDouble))
    }
    val scores = collection.mutable.Map
      .empty[(Long, Long), (Long, Long)]
    for ((w, micro) <- wt; ns = nbrs(w).toSeq.sorted;
         i <- ns.indices; j <- i + 1 until ns.length) {
      val k = (ns(i), ns(j))
      val (c, sc0) = scores.getOrElse(k, (0L, 0L))
      scores(k) = (c + 1, sc0 + micro)
    }
    val want = scores.toSeq.collect {
      case ((a, b), (c, sc0)) if !e.contains((a, b)) => (a, b, c, sc0)
    }.sortBy(t => (-t._4, t._1, t._2)).take(20)
    val got = Scale.adamicAdar(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === want, "degree-capped AA top-20 diverged")
  }

  test("q476 DOULION estimate: unbiased-by-construction scaling and " +
    "bounded error vs q105's exact count at test SF") {
    val est = Scale.trianglesSampled(spark, sfDir).head()
    val exact = Scale.triangles(spark, sfDir)
      .select($"n_triangles", $"n_edges").head()
    // ×125 scaling is exact arithmetic on the sampled count
    assert(est.getAs[Long]("est_triangles") ==
      est.getAs[Long]("t_sampled") * 125L)
    // p=1/5 hash sampling keeps roughly a fifth of edges (loose 2×
    // band: the hash is uniform, the corpus is small at test SF)
    val keepRatio = est.getAs[Long]("n_sample_edges").toDouble /
      exact.getAs[Long]("n_edges")
    assert(keepRatio > 0.1 && keepRatio < 0.4,
      s"sample ratio $keepRatio far from p=0.2")
    // estimator error vs truth: DOULION variance at p=1/5 on this
    // corpus stays well inside a factor-2 band; a blowout here means
    // the sampler or the scaling broke, not bad luck (hash60 is fixed)
    val t = exact.getAs[Long]("n_triangles").toDouble
    val e = est.getAs[Long]("est_triangles").toDouble
    assert(t > 0 && e > 0 && e / t < 2.0 && t / e < 2.0,
      s"estimate $e vs exact $t outside the factor-2 audit band")
    CheckpointHygiene.release(spark)
  }

  test("7-day RANGE window equals the join formulation (gap days widen)") {
    val got = Scale.movingAvg(spark, sfDir)
    val daily = Tables(spark, sfDir, "orders")
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(round(sum($"o_totalprice"), 2).as("rev"))
    val exp = daily.as("a").join(daily.as("b"),
        datediff($"a.day", $"b.day").between(0, 6))
      .groupBy($"a.day")
      .agg(round(round(sum($"b.rev"), 2) / count(lit(1)), 6).as("avg_7d"))
    val diff = got.select($"day", $"avg_7d")
      .except(exp.select($"day", $"avg_7d"))
    assert(diff.count() == 0, "window and join formulations disagree")
  }

  test("k-truss fixpoint loop: a cap exit throws; the full loop peels " +
    "the cascade to K4") {
    // K4 on {1,2,3,4} (every edge in 2 triangles — a stable 4-truss)
    // plus a cascade: triangle {4,5,6} and triangle {5,6,7}. Round 1
    // peels 4-5, 4-6, 5-7, 6-7 (support 1); edge 5-6 survives round 1
    // with support 2 but loses both triangles, so round 2 peels it —
    // convergence needs 2 effective rounds, so cap=1 is a forced cap
    // exit, which must be an error, never a plausible edge set.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L), (5L, 7L), (6L, 7L))
      .toDF("u", "v")
    intercept[IllegalStateException](
      Materialize.fixpoint(edges, 1)(Scale.trussPeelRound))
    val (fix, r2) = Materialize.fixpoint(edges, 10)(Scale.trussPeelRound)
    assert(r2 == 2, s"expected fixpoint in 2 rounds, got $r2")
    val kept = fix.as[(Long, Long)].collect().toSet
    assert(kept == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)), s"fixpoint edge set was $kept")
    CheckpointHygiene.release(spark)
  }
}
