package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, In, InSet, Literal}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{FilterExec, GlobalLimitExec, LocalLimitExec, LocalTableScanExec, RDDScanExec, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Physical-plan quality classification shared by the committed
  * `PLAN_AUDIT.md` sweep ([[graft.PlanAudit]]) and the suite-wide
  * PlanSpec gate.
  *
  * The one plan shape that silently dies at 100 TB is a nested-loop
  * join whose broadcast side is CORPUS-shaped: Spark happily plans a
  * BroadcastNestedLoopJoin at test SF (everything fits under the
  * broadcast threshold) and the same query OOMs the driver or
  * executors on real data. A BNLJ is fine exactly when its build side
  * passed through a cardinality-reducing operator whose output size is
  * set by the QUERY, not the corpus: an aggregate (stats scalars,
  * codebooks, bounded-key groups), a limit (top-k), a literal-bounded
  * filter (point lookup / `id < k` seed set / IN list), a small
  * literal or Range grid, or a checkpointed reduced trunk (session
  * trunks live in [[graft.Materialize.trunk]]; see the RDD-scan case
  * below for why a checkpointed build side is accepted).
  */
object PlanQuality {

  /** True when the subtree contains a cardinality-reducing operator
    * (see class doc). ReusedExchange is a leaf that holds the original
    * exchange — recurse into it. */
  def reducedBuild(p: SparkPlan): Boolean = p.exists {
    case _: BaseAggregateExec => true
    case _: GlobalLimitExec => true
    case _: LocalLimitExec => true
    case l: LocalTableScanExec => l.rows.size <= 1024
    case r: RangeExec => r.numElements <= BigInt(4096)
    // localCheckpoint truncates lineage to an RDD scan, hiding any
    // reducing history. Accepting it is still sound for the BUILD side
    // of a BNLJ specifically: a LogicalRDD either carries forward the
    // pre-checkpoint plan's statistics (so the planner's broadcast
    // decision saw the true reduced size) or reports
    // defaultSizeInBytes = Long.Max, in which case it can only become
    // a broadcast build via an explicit broadcast() hint — a
    // deliberate smallness assertion at the call site, not a silent
    // planner guess.
    case _: RDDScanExec => true
    case r: ReusedExchangeExec => reducedBuild(r.child)
    case f: FilterExec =>
      f.condition.exists {
        case b: BinaryComparison =>
          b.children.exists(_.isInstanceOf[Literal])
        case _: In => true
        case _: InSet => true
        case _ => false
      }
    case _ => false
  }

  /** One entry per BroadcastNestedLoopJoin in the plan: true when the
    * build side is reduced (benign), false when it is corpus-shaped
    * (the 100 TB cliff). */
  def bnljBuilds(plan: SparkPlan): Seq[Boolean] = plan.collect {
    case j: BroadcastNestedLoopJoinExec =>
      val build = j.buildSide match {
        case BuildRight => j.right
        case BuildLeft  => j.left
      }
      reducedBuild(build)
  }

  /** Number of BNLJs whose build side is NOT reduced — must be zero
    * everywhere. */
  def unreducedBnljs(plan: SparkPlan): Int = bnljBuilds(plan).count(!_)

  def cartesians(plan: SparkPlan): Int = plan.collect {
    case c: CartesianProductExec => c
  }.size
}
