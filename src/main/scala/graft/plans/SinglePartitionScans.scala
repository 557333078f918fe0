package graft.plans

import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.{CoalesceExec, RowDataSourceScanExec,
  SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec,
  DataSourceV2ScanRelation, DataSourceV2Strategy, V1ScanWrapper}
import org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCScan
import org.apache.spark.sql.internal.SQLConf

import graft.sources.GraftJdbcCatalog

/** Plans a small one-partition DSv2 scan as `SinglePartition`.
  *
  * A DSv2 scan node reports `UnknownPartitioning` even when it reads
  * one partition, so every DISTINCT, GROUP BY, ORDER BY and join above
  * it gets a shuffle, and every ORDER BY a `RangePartitioner` sampling
  * job — pure scheduling overhead on the federated sources' few
  * kilobytes. This strategy hands the scan (with its pushed-through
  * Project/Filter) to Spark's own [[DataSourceV2Strategy]] and wraps
  * the returned subtree in `CoalesceExec(1, …)`, which reports
  * `SinglePartition`, when ALL of these hold:
  *  - the scan plans exactly one input partition;
  *  - it carries no runtime (DPP / row-level group) filters;
  *  - it reports no key-grouped (SPJ) partitioning;
  *  - its size estimate is at most `spark.sql.maxSinglePartitionBytes`
  *    (a JDBC scan's estimate comes from the remote engine through
  *    [[GraftJdbcCatalog.estimatedBytes]]; no estimate, no wrap).
  * `EnsureRequirements` then adds no exchange under aggregates, sorts,
  * or a join whose two sides both qualify. A join against a large side
  * still shuffles: `SinglePartitionShuffleSpec` cannot create a
  * partitioning, so the big side's spec wins and the small side is
  * re-partitioned to it.
  *
  * The wrapper sits ABOVE the unsafe-row `ProjectExec` the strategy
  * adds over a row-based scan: `RemoveRedundantProjects` keeps a
  * Project only while its child is the scan itself, and a dropped
  * Project would hand `GenericInternalRow`s to a `BroadcastExchange`.
  * Every other scan plans exactly as Spark would plan it. */
case class SinglePartitionScans(session: SparkSession) extends SparkStrategy {
  private val v2 =
    new DataSourceV2Strategy(session.asInstanceOf[classic.SparkSession])

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(_, _, r: DataSourceV2ScanRelation)
        if r.keyGroupedPartitioning.isEmpty =>
      v2(plan) match {
        case Seq(p) if singlePartition(p, r) => CoalesceExec(1, p) :: Nil
        case planned => planned
      }
    case _ => Nil
  }

  private def singlePartition(p: SparkPlan,
      r: DataSourceV2ScanRelation): Boolean = {
    val maxBytes = session.sessionState.conf
      .getConf(SQLConf.MAX_SINGLE_PARTITION_BYTES)
    p.collectLeaves() match {
      case Seq(b: BatchScanExec) =>
        b.runtimeFilters.isEmpty && b.inputPartitions.length == 1 &&
          r.stats.sizeInBytes <= maxBytes
      case Seq(_: RowDataSourceScanExec) => (r.scan, r.relation.catalog,
          r.relation.identifier) match {
        case (V1ScanWrapper(j: JDBCScan, _, _), Some(c: GraftJdbcCatalog),
            Some(id)) =>
          j.relation.parts.length == 1 &&
            c.estimatedBytes(id).exists(_ <= maxBytes)
        case _ => false
      }
      case _ => false
    }
  }
}
