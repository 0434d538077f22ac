package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.queries.Shaping

/** Structural invariants of the analytics reshapes beyond the oracle
  * restatement. Runs at sf0.001. */
class ShapingSpec extends SparkSpec {
  import spark.implicits._

  // the branch-consistency checkpoint: the sampled range exchange ran
  // once, so no RepartitionByExpression is left in the optimized plan
  // and the __pid-tagged ranged input is a checkpoint (LogicalRDD) leaf
  private def assertRangedOnce(df: DataFrame): Unit = {
    val p = df.queryExecution.optimizedPlan
    assert(p.collectFirst { case r: RepartitionByExpression => r }.isEmpty,
      "the range exchange is re-planned after the checkpoint")
    assert(p.collectLeaves().exists {
      case lr: LogicalRDD => lr.output.exists(_.name == "__pid")
      case _ => false
    }, "the ranged input is not a checkpoint leaf")
  }

  test("funnel stages are monotone in time and consistent with nulls") {
    val f = Shaping.funnel(spark, sfDir).cache()
    assert(f.filter($"t_view" < $"t_click").count() === 0)
    assert(f.filter($"t_purchase" < $"t_view").count() === 0)
    // stage number encodes exactly which times are present (a later
    // stage requires all earlier ones)
    assert(f.filter($"funnel_stage" === 3 && ($"t_purchase".isNull ||
      $"t_view".isNull || $"t_click".isNull)).count() === 0)
    assert(f.filter($"funnel_stage" === 2 && ($"t_view".isNull ||
      $"t_purchase".isNotNull)).count() === 0)
    assert(f.filter($"funnel_stage" === 0 && $"t_click".isNotNull)
      .count() === 0)
    f.unpersist()
  }

  test("rangeNtile is bit-identical to ntile for every k and skewed " +
    "inputs, with no unpartitioned window in the plan") {
    import org.apache.spark.sql.expressions.Window
    // skewed values (many ties) + unique tiebreak id, uneven total
    val n = 1237
    val df = spark.range(n).toDF("id")
      .withColumn("v", (col("id") * col("id") % 17).cast("int"))
      .cache()
    for (k <- Seq(1, 3, 4, 10, 64)) {
      val expected = df.select(col("id"),
        ntile(k).over(Window.orderBy(col("v"), col("id"))).as("b"))
      val got = graft.functions.ScaleWindows
        .rangeNtile(df, k, Seq(col("v").asc, col("id").asc), "b")
        .select(col("id"), col("b"))
      assert(got.except(expected).count() === 0 &&
        expected.except(got).count() === 0, s"mismatch at k=$k")
    }
    // plan hygiene: the scale form must not contain a global-order
    // window (the single-partition sort the naive ntile plan ships)
    val ranked = graft.functions.ScaleWindows
      .rangeNtile(df, 10, Seq(col("v").asc, col("id").asc), "b")
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("Window [ntile"),
      "rangeNtile plan must not fall back to a global ntile window")
    assertRangedOnce(ranked)
    df.unpersist()
  }

  test("rangeCumSums matches the global-window prefix sum exactly and " +
    "keeps the window partitioned") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(997).toDF("id")
      .withColumn("k", (col("id") * 7 % 101).cast("long"))
      .withColumn("a", col("id") % 5)
      .withColumn("b", col("id") % 3)
      .groupBy("k").agg(sum(col("a")).as("a"), sum(col("b")).as("b"))
      .cache()
    val w = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val expected = df.select(col("k"),
      coalesce(sum(col("a")).over(w), lit(0L)).as("ca"),
      coalesce(sum(col("b")).over(w), lit(0L)).as("cb"))
    val got = graft.functions.ScaleWindows
      .rangeCumSums(df, Seq(col("k").asc),
        Seq(col("a") -> "ca", col("b") -> "cb"), parts = 7)
      .select(col("k"), col("ca"), col("cb"))
    assert(got.except(expected).count() === 0 &&
      expected.except(got).count() === 0)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("__pid"),
      "cumsum window must be partitioned by the range-partition id")
    assertRangedOnce(got)
    df.unpersist()
  }

  test("rangeCumMax matches the global-window exclusive running max, " +
    "NULL first row included") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(997).toDF("id")
      .withColumn("k", (col("id") * 7 % 101).cast("long"))
      .groupBy("k").agg(max(col("id") % 13).as("v"))
      .cache()
    val w = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val expected = df.select(col("k"), max(col("v")).over(w).as("m"))
    val got = graft.functions.ScaleWindows
      .rangeCumMax(df, Seq(col("k").asc), col("v"), "m", parts = 7)
      .select(col("k"), col("m"))
    assert(got.except(expected).count() === 0 &&
      expected.except(got).count() === 0)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("__pid"),
      "cummax window must be partitioned by the range-partition id")
    assertRangedOnce(got)
    df.unpersist()
  }

  test("rangeLastCarry equals the global last-ignoreNulls window, " +
    "including leading nulls and cross-partition carries") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(1000).toDF("id")
      .withColumn("v", when(col("id") % 97 === 5, col("id")))
    val w = Window.orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val expected = df.select(col("id"),
      last(col("v"), ignoreNulls = true).over(w).as("lv"))
    val got = graft.functions.ScaleWindows
      .rangeLastCarry(df, Seq(col("id")), col("v"), "lv", parts = 9)
      .select(col("id"), col("lv"))
    assert(got.except(expected).count() === 0 &&
      expected.except(got).count() === 0)
    assertRangedOnce(got)
  }

  test("distributed GCM isotonic fit equals the sequential PAV loop") {
    val rnd = new scala.util.Random(7)
    val data = (0 until 60).map(i =>
      (i.toLong, 1L + rnd.nextInt(5).toLong, rnd.nextInt(5).toLong))
    // reference: the textbook pool-adjacent-violators merge loop
    def pav(b: Seq[(Long, Long, Long)]): Map[Long, Long] = {
      case class Pool(var n: Long, var sy: Long,
        xs: scala.collection.mutable.ArrayBuffer[Long])
      val pools = scala.collection.mutable.ArrayBuffer.empty[Pool]
      for ((x, n, sy) <- b) {
        pools += Pool(n, sy, scala.collection.mutable.ArrayBuffer(x))
        while (pools.size >= 2 && {
          val a = pools(pools.size - 2); val c = pools.last
          a.sy * c.n >= c.sy * a.n // prev avg >= next avg: violator
        }) {
          val c = pools.remove(pools.size - 1); val a = pools.last
          a.n += c.n; a.sy += c.sy; a.xs ++= c.xs
        }
      }
      pools.flatMap(p =>
        p.xs.map(x => x -> (1000000L * p.sy / p.n))).toMap
    }
    val df = data.toDF("x", "n", "sy")
    val got = graft.functions.Isotonic.fit(df, parts = 7)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got === pav(data))
  }

  test("q219 EWMA: head rows pass through, smoothed values stay " +
    "inside the trailing window's range") {
    import org.apache.spark.sql.expressions.Window
    val got = Shaping.ewmaSmooth(spark, sfDir)
    val base = graft.Tables(spark, sfDir, "events")
      .select($"event_id", $"user_id",
        unix_timestamp(date_trunc("second", $"ts")).as("sec"),
        round($"value" * 100).cast("long").as("cents"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"sec".asc, $"event_id".asc)
    val bounds = base
      .withColumn("rn", row_number().over(w))
      .withColumn("lo", min($"cents").over(w.rowsBetween(-7, 0)))
      .withColumn("hi", max($"cents").over(w.rowsBetween(-7, 0)))
    val j = got.join(bounds, Seq("event_id", "user_id"))
    // each row's smoother is a convex combination of the trailing 8
    assert(j.filter($"ewma_milli" < $"lo" * 1000 - 1000 ||
      $"ewma_milli" > $"hi" * 1000 + 1000).count() === 0)
    // a user's first event has only lag-0 present: exact pass-through
    assert(j.filter($"rn" === 1 && $"cents".isNotNull &&
      $"ewma_milli" =!= $"cents" * 1000).count() === 0)
  }

  test("q223 Markov attribution: removal never helps, credit " +
    "normalizes, conversion probability is a probability") {
    val d = Shaping.markovAttribution(spark, sfDir).cache()
    assert(d.count() === 4)
    val base = d.select($"conv_base_micro").as[Long].head()
    assert(base > 0L && base <= 1000000L, s"conv prob out of range $base")
    // cutting a channel can only remove paths to conversion
    assert(d.filter($"conv_removed_micro" > $"conv_base_micro")
      .count() === 0)
    assert(d.filter($"removal_effect_micro" < 0).count() === 0)
    // attribution shares sum to 1e6 up to one truncation unit per cell
    val att = d.agg(sum($"attribution_micro")).as[Long].head()
    assert(att >= 1000000L - 4 && att <= 1000000L,
      s"attribution shares sum to $att")
    d.unpersist()
  }

  test("q211 OLS normal equations agree with a plain-Scala solve") {
    val feat = {
      val o = graft.Tables(spark, sfDir, "orders")
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("cnt"),
          sum(round($"o_totalprice" * 100).cast("long")).as("spend"))
      graft.Tables(spark, sfDir, "customer")
        .join(o, $"c_custkey" === $"o_custkey", "left")
        .select(round($"c_acctbal" * 100).cast("long").as("x1"),
          coalesce($"cnt", lit(0L)).as("x2"),
          coalesce($"spend", lit(0L)).as("y"))
        .collect().map(r => (r.getLong(0).toDouble,
          r.getLong(1).toDouble, r.getLong(2).toDouble))
    }
    // reference solve: gaussian elimination on the normal equations
    val n = feat.length.toDouble
    val s1 = feat.map(_._1).sum; val s2 = feat.map(_._2).sum
    val s11 = feat.map(t => t._1 * t._1).sum
    val s12 = feat.map(t => t._1 * t._2).sum
    val s22 = feat.map(t => t._2 * t._2).sum
    val sy = feat.map(_._3).sum
    val s1y = feat.map(t => t._1 * t._3).sum
    val s2y = feat.map(t => t._2 * t._3).sum
    val a = Array(Array(n, s1, s2, sy), Array(s1, s11, s12, s1y),
      Array(s2, s12, s22, s2y))
    for (i <- 0 until 3) {
      val p = (i until 3).maxBy(r => math.abs(a(r)(i)))
      val t = a(i); a(i) = a(p); a(p) = t
      for (r <- i + 1 until 3) {
        val f = a(r)(i) / a(i)(i)
        for (c <- i to 3) a(r)(c) -= f * a(i)(c)
      }
    }
    val beta = new Array[Double](3)
    for (i <- 2 to 0 by -1)
      beta(i) = (a(i)(3) - (i + 1 until 3)
        .map(j => a(i)(j) * beta(j)).sum) / a(i)(i)
    val row = Shaping.olsNormal(spark, sfDir).collect().head
    val got = Seq(row.getLong(1), row.getLong(2), row.getLong(3))
      .map(_ / 1e6)
    for ((g, e) <- got.zip(beta))
      assert(math.abs(g - e) <= math.abs(e) * 1e-6 + 1e-4,
        s"coefficient $g vs reference $e")
    val r2 = row.getLong(4)
    assert(r2 >= 0L && r2 <= 1000000L, s"R^2 micro out of range: $r2")
  }

  test("q212 power iteration converges to the dominant eigenvector " +
    "of the micro correlation matrix") {
    val rows = Shaping.pcaPower(spark, sfDir).collect()
    val load = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val lambda = rows.head.getLong(2)
    // dominant loading pinned to exactly +1e6 by the signed L-inf norm
    assert(load.values.map(math.abs).max === 1000000L)
    assert(lambda >= 1000000L && lambda <= 4000000L,
      s"top eigenvalue of a 4x4 correlation matrix must be in [1,4]: " +
        s"$lambda")
    // reference: double power iteration on the same micro matrix
    val matRow = graft.queries.Shaping.pcaMat(spark, sfDir)
      .collect().head
    val corr = Array.tabulate(4, 4)((i, j) =>
      matRow.getLong(i * 4 + j).toDouble)
    var v = Array(1.0, 1.0, 1.0, 1.0)
    for (_ <- 1 to 60) {
      val u = Array.tabulate(4)(i =>
        (0 until 4).map(j => corr(i)(j) * v(j)).sum)
      val m = u.map(math.abs).max
      v = u.map(_ / m)
    }
    val got = Array("acctbal", "n_orders", "spend", "max_order")
      .map(f => load(f) / 1e6)
    // compare directions via cosine (sign already aligned: both pin
    // the max-|.| component positive... the reference may differ in
    // sign, so compare |cosine|)
    val dot = got.zip(v).map { case (x, y) => x * y }.sum
    val cos = math.abs(dot) / (math.sqrt(got.map(x => x * x).sum) *
      math.sqrt(v.map(x => x * x).sum))
    assert(cos > 0.9999, s"direction mismatch: |cos|=$cos")
  }

  test("retention cohorts: offsets non-negative, day-0 equals cohort " +
    "size, users conserved") {
    val m = Shaping.retentionCohorts(spark, sfDir).cache()
    assert(m.filter($"day_offset" < 0).count() === 0)
    // every user appears in their cohort's day-0 cell by construction
    val day0 = m.filter($"day_offset" === 0)
      .agg(sum($"n_users")).as[Long].head()
    val users = graft.Tables(spark, sfDir, "events")
      .select($"user_id").distinct().count()
    assert(day0 === users,
      s"day-0 cells must partition the $users users, got $day0")
    m.unpersist()
  }
}
