package graft.plans

import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo}
import org.apache.spark.sql.catalyst.plans.logical._

/** Classifier for the plan shapes that are correct at test SF and
  * cliffs at 100 TB. PlanSpec's suite-wide sweep runs it over every
  * registry query's analyzed plan and subtracts the query's
  * [[PlanContracts]] allowances; it is not a session rule.
  *
  * Classes reported:
  *   - `globalWindow`    — a window function with an empty PARTITION BY:
  *     Spark moves the whole input to ONE task ("No Partition Defined").
  *     Fix: partition the window, or use ScaleWindows.rangeCumSum /
  *     rangeNtile / rangeCumMax (range-exchange equivalents).
  *   - `crossJoin`       — a join with no equality predicate (cartesian
  *     or broadcast-nested-loop at execution). Exempt when either side
  *     is provably ≤1 row (`maxRows`, e.g. a global aggregate) or
  *     carries an explicit `broadcast()` hint — both are the declared
  *     "small side" contracts used by scalar-broadcast patterns.
  *   - `singlePartition` — an explicit repartition(1)/coalesce(1):
  *     funnels the frame through one task. Exempt when the input is
  *     provably ≤1 row.
  */
object ScaleGuard {

  /** True when the subtree is provably at most one row, or the author
    * declared it broadcast-small via a hint. */
  private def declaredSmall(p: LogicalPlan): Boolean =
    p.maxRows.exists(_ <= 1L) || p.exists {
      case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
      case _ => false
    }

  private def hasEquiPredicate(j: Join): Boolean =
    j.condition.exists(_.exists {
      case _: EqualTo | _: EqualNullSafe => true
      case _ => false
    })

  /** Offending class names present in the plan (stable order). */
  def findings(plan: LogicalPlan): Seq[String] = {
    val found = scala.collection.mutable.LinkedHashSet.empty[String]
    plan.foreach {
      case w: Window if w.partitionSpec.isEmpty =>
        found += "globalWindow"
      case j: Join if !hasEquiPredicate(j) &&
          !declaredSmall(j.left) && !declaredSmall(j.right) =>
        found += "crossJoin"
      case r: Repartition if r.numPartitions == 1 &&
          !declaredSmall(r.child) =>
        found += "singlePartition"
      case r: RepartitionByExpression if r.optNumPartitions.contains(1) &&
          !declaredSmall(r.child) =>
        found += "singlePartition"
      case _ => ()
    }
    found.toSeq
  }
}
