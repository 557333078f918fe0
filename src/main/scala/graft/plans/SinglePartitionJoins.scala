package graft.plans

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join,
  LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{GENERATE, JOIN}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  ShuffledHashJoinExec}

/** Optimizer rule: an inner or cross join against a constant generator
  * becomes a `Generate` over the other side.
  *
  * The federated workload re-sends each topic message n times as
  * `X CROSS JOIN (SELECT explode(sequence(1, n)))`. Spark plans that as
  * a `BroadcastNestedLoopJoin`: one more Spark job, a driver-side
  * collect and a broadcast, for n constant rows. Here a side `C` is a
  * constant generator when it is Project/Filter nodes over a non-outer
  * `Generate` whose generator reads only foldable inputs, over
  * `OneRowRelation`, and everything in it is deterministic. Then
  *
  *   Join(X, C, Inner | Cross, cond)
  *     => Project(join.output, Filter(cond, C[OneRowRelation := X]))
  *
  * with `X.output` added to every Project in `C`. `C` yields the same
  * rows for every row of `X`, so that is the join, row for row. Either
  * side may be `C`. Outer joins and non-deterministic generators (which
  * would draw once per `X` row instead of once) are left alone. */
object FoldConstantGeneratorJoins extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsAllPatterns(JOIN, GENERATE)) {
      case j @ Join(x, c, Inner | Cross, _, _) if constant(c) => fold(j, x, c)
      case j @ Join(c, x, Inner | Cross, _, _) if constant(c) => fold(j, x, c)
    }

  private def constant(p: LogicalPlan): Boolean = p match {
    case Project(list, child) => list.forall(_.deterministic) && constant(child)
    case Filter(cond, child) => cond.deterministic && constant(child)
    case g: Generate => !g.outer && g.child.isInstanceOf[OneRowRelation] &&
      g.generator.deterministic && g.generator.children.forall(_.foldable)
    case _ => false
  }

  /** `c` with its `OneRowRelation` replaced by `x`, passing `x`'s
    * columns through every Project. */
  private def over(c: LogicalPlan, x: LogicalPlan): LogicalPlan = c match {
    case Project(list, child) => Project(x.output ++ list, over(child, x))
    case Filter(cond, child) => Filter(cond, over(child, x))
    case g: Generate => g.copy(child = x)
  }

  private def fold(j: Join, x: LogicalPlan, c: LogicalPlan): LogicalPlan = {
    val rows = over(c, x)
    Project(j.output, j.condition.fold(rows)(Filter(_, rows)))
  }
}

/** Physical rule: a broadcast hash join whose two sides each report
  * `SinglePartition` joins inside the one task instead.
  *
  * [[SinglePartitionScans]] plans the federated sources' small scans
  * as one partition, and the planner still picks a broadcast for their
  * joins: one more Spark job, a driver-side hash build, a broadcast
  * and an AQE stage round trip, to ship a side that the one task on
  * the other side could build itself. This rule swaps such a join for
  * a `ShuffledHashJoinExec` with the same keys, join type, build side
  * and condition, over the stream side and the plan below the build
  * side's `BroadcastExchange`. A null-aware anti join (`NOT IN`) stays
  * a broadcast: only the broadcast join implements its semantics. A
  * join with one multi-partition side is not touched.
  *
  * Injected as a query-stage preparation rule, which runs after
  * `EnsureRequirements` on AQE's initial plan and on every re-plan,
  * before any stage is created. Run before `EnsureRequirements` (as a
  * post-planner strategy rule), the swap would not help: that rule
  * keeps two `SinglePartition` join sides in place only when each
  * side's logical size estimate is under
  * `spark.sql.maxSinglePartitionBytes`, and a JDBC scan's is Spark's
  * unknown-size default, so it would shuffle both sides instead. Here
  * the two sides are already single-partition, which satisfies the
  * hash join's clustered distribution on both. Spark applies
  * stage-preparation (and post-planner) rules only under AQE, which
  * every graft session enables ([[graft.sources.Tables.sessionConf]]);
  * with AQE off the join plans as Spark plans it. */
object SinglePartitionJoins extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case j: BroadcastHashJoinExec if !j.isNullAwareAntiJoin =>
      (j.buildSide, j.left, j.right) match {
        case (BuildRight, s, BroadcastExchangeExec(_, b))
            if single(s) && single(b) => inTask(j, s, b)
        case (BuildLeft, BroadcastExchangeExec(_, b), s)
            if single(s) && single(b) => inTask(j, b, s)
        case _ => j
      }
  }

  private def inTask(j: BroadcastHashJoinExec, left: SparkPlan,
      right: SparkPlan): SparkPlan =
    ShuffledHashJoinExec(j.leftKeys, j.rightKeys, j.joinType, j.buildSide,
      j.condition, left, right, isSkewJoin = false)

  private def single(p: SparkPlan): Boolean =
    p.outputPartitioning == SinglePartition
}
