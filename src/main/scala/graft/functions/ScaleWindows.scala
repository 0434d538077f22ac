package graft.functions

import graft.Materialize.TrunkCheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe replacements for unpartitioned (global-order) window
  * plans. A plain `ntile(k).over(Window.orderBy(...))` moves the WHOLE
  * frame to one task (Spark logs `WindowExec: No Partition Defined`);
  * correct at test SF, a single-partition sort of the corpus at 100 TB.
  *
  * [[rangeNtile]] reproduces ntile's exact bucket arithmetic from a
  * range-partitioned parallel sort plus a per-partition offset carry:
  *
  *   1. `repartitionByRange(P, keys)` — Spark's sampled range exchange
  *      gives P ordered, non-overlapping partitions (the same machinery
  *      a distributed sort uses; P scales with the cluster).
  *   2. per-partition row counts (P rows) → running offsets via a
  *      broadcast triangular join on the P-row frame — O(P²) on ≤ a few
  *      thousand rows, NO global window anywhere in the plan.
  *   3. `row_number` partitioned by range-partition id (parallel, each
  *      task sorts only its own range) + offset = the row's exact
  *      0-based global position.
  *   4. the SQL-standard ntile formula from (position, total): with
  *      q = total div k and r = total mod k, the first r buckets hold
  *      q+1 rows, the rest q — bit-identical to `ntile(k)` in Spark
  *      and DuckDB for any total order.
  *
  * Determinism: callers must pass a TOTAL order (tie-broken to a unique
  * key) — then bucket values are independent of where the sampled range
  * boundaries land, so AQE/sampling variance cannot change results.
  * The explicit partition count keeps AQE from re-coalescing the
  * exchange between its two consumers.
  *
  * Every operator is the same skeleton — [[ranged]] (exchange + `__pid`
  * tag + checkpoint), a per-partition aggregate, the [[carry]] over the
  * P-row frame, then a partition-local window joined back to the carry
  * — differing only in the aggregate, the carry fold and the window.
  *
  * Branch consistency: the ranged frame feeds TWO plan branches
  * (per-partition aggregates + the final join), and the sampled
  * exchange is not reliably reused across them: column pruning
  * specializes the subtrees, and a SAMPLED range exchange re-evaluated
  * independently can land on DIFFERENT boundaries (sampling order
  * depends on upstream shuffle-read order), making the carry describe
  * the wrong partitioning. That divergence is intermittent (surfaced by
  * q312 after hundreds of green runs of the same machinery), so
  * [[ranged]] materializes the exchange ONCE via an eager
  * checkpoint — both branches share one boundary set by construction.
  */
object ScaleWindows {

  /** parts <= 0 means "follow the cluster": defaultParallelism, never
    * a core-count literal baked at authoring time (local[32] today,
    * 400 cores tomorrow). Callers pass an explicit count only when the
    * frame is provably tiny and a fixed fan-out is part of the
    * contract. */
  private[graft] def resolveParts(df: DataFrame, parts: Int): Int =
    if (parts > 0) parts
    else df.sparkSession.sparkContext.defaultParallelism

  /** The range-partitioned input every operator starts from: `keys`'
    * sampled range exchange, each row tagged with its partition id
    * `__pid`, checkpointed so both plan branches read one boundary set
    * (see the object doc). */
  private def ranged(df: DataFrame, keys: Seq[Column],
                     parts: Int): DataFrame =
    df.repartitionByRange(resolveParts(df, parts), keys: _*)
      .withColumn("__pid", spark_partition_id())
      .trunkCheckpoint()

  // broadcast-copy name of a per-partition column: `__cnt` → `__cnt2`,
  // `__psum_o` → `__psum2_o`
  private def primed(c: String): String = c.indexOf('_', 2) match {
    case -1 => c + "2"
    case i => c.substring(0, i) + "2" + c.substring(i)
  }

  /** The carry over the P-row frame `perPid` (one row per `__pid`): a
    * broadcast triangular join against a [[primed]] copy of itself,
    * aggregated per `__pid` by `fold`, which receives the "strictly
    * preceding partition" predicate — O(P²) on ≤ a few thousand rows,
    * NO global window anywhere in the plan. */
  private def carry(perPid: DataFrame)(
      fold: Column => Seq[Column]): DataFrame = {
    val rhs = perPid.select(perPid.columns.map(c => col(c).as(primed(c))): _*)
    val aggs = fold(col("__pid2") < col("__pid"))
    perPid.crossJoin(broadcast(rhs))
      .groupBy(col("__pid")).agg(aggs.head, aggs.tail: _*)
  }

  private def inPartition(keys: Seq[Column]) =
    Window.partitionBy(col("__pid")).orderBy(keys: _*)

  /** Exact `ntile(k)` over the global order `keys` without a
    * single-partition sort. `keys` must be a total order (unique
    * tie-break). Adds column `out` (int, 1..k). */
  def rangeNtile(df: DataFrame, k: Int, keys: Seq[Column], out: String,
                 parts: Int = -1): DataFrame = {
    require(k > 0, s"rangeNtile: k must be positive, got $k")
    val r = ranged(df, keys, parts)
    val counts = r.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
    val offs = carry(counts) { precedes =>
      Seq(sum(when(precedes, col("__cnt2")).otherwise(lit(0L))).as("__off"),
        sum(col("__cnt2")).as("__total"))
    }
    r.withColumn("__rn", row_number().over(inPartition(keys)))
      .join(broadcast(offs), Seq("__pid"))
      .withColumn("__i", col("__off") + col("__rn") - 1)
      .withColumn("__q", expr(s"__total div ${k}L"))
      .withColumn("__r", col("__total") % k)
      .withColumn(out,
        when(col("__i") < col("__r") * (col("__q") + 1),
          expr("__i div (__q + 1)") + 1)
          .otherwise(col("__r") + expr("(__i - __r * (__q + 1)) div __q")
            + 1)
          .cast("int"))
      .drop("__pid", "__rn", "__off", "__total", "__i", "__q", "__r")
  }

  /** Exact EXCLUSIVE prefix sum of `value` over the global order
    * `keys` (sum of strictly-preceding rows; 0 for the first) without
    * a single-partition sort: per-partition totals → carried offsets
    * → partition-local running sum + offset. Same determinism contract
    * as [[rangeNtile]]: `keys` must be a total order. Adds `out`
    * (long). */
  def rangeCumSum(df: DataFrame, keys: Seq[Column], value: Column,
                  out: String, parts: Int = -1): DataFrame =
    rangeCumSums(df, keys, Seq(value -> out), parts)

  /** Multi-value form of [[rangeCumSum]]: N exclusive prefix sums over
    * ONE range exchange and one partition-local WindowExec (all sums
    * share the frame). `values` maps each summed column to its output
    * column name. */
  def rangeCumSums(df: DataFrame, keys: Seq[Column],
                   values: Seq[(Column, String)],
                   parts: Int = -1): DataFrame = {
    val r = ranged(df, keys, parts)
    val psums = values.map { case (v, o) => sum(v).as(s"__psum_$o") }
    val sums = r.groupBy(col("__pid")).agg(psums.head, psums.tail: _*)
    val offs = carry(sums) { precedes =>
      values.map { case (_, o) =>
        sum(when(precedes, col(s"__psum2_$o")).otherwise(lit(0L)))
          .as(s"__off_$o")
      }
    }
    val wp = inPartition(keys).rowsBetween(Window.unboundedPreceding, -1)
    val joined = r.join(broadcast(offs), Seq("__pid"))
    val withOut = values.foldLeft(joined) { case (d, (v, o)) =>
      d.withColumn(o, coalesce(sum(v).over(wp), lit(0L)) + col(s"__off_$o"))
    }
    withOut.drop("__pid" +: values.map { case (_, o) => s"__off_$o" }: _*)
  }

  /** Exact EXCLUSIVE prefix max of `value` over the global order
    * `keys` (max of strictly-preceding rows; NULL for the first row)
    * without a single-partition sort — the skyline/running-record
    * primitive. Same skeleton and determinism contract as
    * [[rangeCumSum]]: per-partition maxima → exclusive-max carry →
    * partition-local exclusive running max `greatest`-merged with the
    * carry (Spark's `greatest` skips NULLs, so a first-partition row
    * with no carry still sees its local predecessors and the global
    * first row stays NULL). Adds `out`, typed as `value`. */
  def rangeCumMax(df: DataFrame, keys: Seq[Column], value: Column,
                  out: String, parts: Int = -1): DataFrame = {
    val r = ranged(df.withColumn("__v", value), keys, parts)
    val maxes = r.groupBy(col("__pid")).agg(max(col("__v")).as("__pmax"))
    val offs = carry(maxes) { precedes =>
      Seq(max(when(precedes, col("__pmax2"))).as("__carry"))
    }
    val wp = inPartition(keys).rowsBetween(Window.unboundedPreceding, -1)
    r.join(broadcast(offs), Seq("__pid"))
      .withColumn(out, greatest(max(col("__v")).over(wp), col("__carry")))
      .drop("__pid", "__v", "__carry")
  }

  /** Scale-safe LOCF (last-observation-carried-forward) over a global
    * order: for each row, the most recent non-null `value` at or
    * before it in `keys` order — the step-function/as-of primitive
    * (gap fill, inverse-CDF lookup, snapshot carry) without a
    * single-partition sort. Same skeleton as [[rangeCumSum]]:
    * per-partition LAST non-null (a struct-max over the key tuple, so
    * `keys` must be plain ASCENDING columns — negate a column to
    * descend) → nearest-preceding-partition carry → partition-local
    * `last(ignoreNulls)` window + carry fallback. Adds `out`, typed
    * as `value`. */
  def rangeLastCarry(df: DataFrame, keys: Seq[Column], value: Column,
                     out: String, parts: Int = -1): DataFrame = {
    val r = ranged(df.withColumn("__v", value), keys, parts)
    val keyStruct = struct(
      keys.zipWithIndex.map { case (k, i) => k.as(s"__k$i") } :+
        col("__v").as("__vv"): _*)
    val lasts = r.groupBy(col("__pid"))
      .agg(max(when(col("__v").isNotNull, keyStruct)).as("__last"))
      .select(col("__pid"), col("__last").getField("__vv").as("__lastv"))
    val offs = carry(lasts) { precedes =>
      Seq(max(when(precedes && col("__lastv2").isNotNull,
        struct(col("__pid2").as("__p"), col("__lastv2").as("__cv"))))
        .as("__carry"))
    }.select(col("__pid"), col("__carry").getField("__cv").as("__carryv"))
    val wp = inPartition(keys).rowsBetween(Window.unboundedPreceding, 0)
    r.join(broadcast(offs), Seq("__pid"))
      .withColumn(out,
        coalesce(last(col("__v"), ignoreNulls = true).over(wp),
          col("__carryv")))
      .drop("__pid", "__v", "__carryv")
  }
}
