package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.ScaleGuard

/** The scale-cliff classifier behind PlanSpec's registry sweep: the
  * classes (unpartitioned window, unconditioned join, forced single
  * partition) and their declared-small exemptions, read off analyzed
  * plans.
  */
class ScaleGuardSpec extends SparkSpec {
  import spark.implicits._

  private def base: DataFrame =
    spark.range(100).select($"id", ($"id" % 7).as("k"))

  private def findings(df: DataFrame): Seq[String] =
    ScaleGuard.findings(df.queryExecution.analyzed)

  test("no session rule: a global window and coalesce(1) analyze and run") {
    assert(base.withColumn("rn", row_number().over(Window.orderBy($"id")))
      .coalesce(1).count() == 100)
  }

  test("findings: a global window gives globalWindow") {
    assert(findings(base.withColumn("rn",
      row_number().over(Window.orderBy($"id")))) == Seq("globalWindow"))
  }

  test("findings: a partitioned window and rangeCumSum give nothing") {
    assert(findings(base.withColumn("rn",
      row_number().over(Window.partitionBy($"k").orderBy($"id")))).isEmpty)
    assert(findings(graft.functions.ScaleWindows
      .rangeCumSum(base, Seq($"id"), lit(1L), "c")).isEmpty)
  }

  test("findings: a cross join of two large frames gives crossJoin") {
    assert(findings(base.crossJoin(base.select($"id".as("id2")))) ==
      Seq("crossJoin"))
  }

  test("findings: one-row, broadcast-hinted and equi-joined sides " +
    "give no crossJoin") {
    // global aggregate: maxRows == 1, the scalar-broadcast contract,
    // with and without the hint
    val tot = base.agg(sum($"id").as("s"))
    assert(findings(base.crossJoin(broadcast(tot))).isEmpty)
    assert(findings(base.crossJoin(tot)).isEmpty)
    // declared-small via broadcast() hint
    val dim = base.filter($"k" === 1).select($"id".as("id3"))
    assert(findings(base.crossJoin(broadcast(dim))).isEmpty)
    assert(findings(base.join(base.select($"id".as("id4"), $"k".as("k2")),
      $"id" === $"id4")).isEmpty)
  }

  test("findings: coalesce(1) gives singlePartition") {
    assert(findings(base.coalesce(1)) == Seq("singlePartition"))
  }

  test("findings: classes reported once each, stable order") {
    val plan = base
      .withColumn("rn", row_number().over(Window.orderBy($"id")))
      .crossJoin(base.select($"id".as("id2")))
      .coalesce(1)
      .queryExecution.analyzed
    assert(ScaleGuard.findings(plan) ==
      Seq("singlePartition", "crossJoin", "globalWindow") ||
      ScaleGuard.findings(plan).toSet ==
        Set("globalWindow", "crossJoin", "singlePartition"))
  }
}
