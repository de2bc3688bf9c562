package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.graftbridge.CatalystBridge

/** A graft scan that reads through a logical plan of its own. */
private[spark] trait GraftPlannedScan extends Scan {
  /** What the scan reads, one column per `readSchema` field in order, as a
    * plan the planner takes as it is: analysed, with no operator left for
    * the optimizer to rewrite. */
  def plan: LogicalPlan
}

/**
 * Plans graft reads inside the caller's query (Pathling's `SqlStrategy`
 * pattern): a [[GraftPlannedScan]]'s relation becomes its own plan under a
 * `Project` that keeps the relation's output attributes, so the parquet
 * scan, the delete filter and the query's operators are one physical plan
 * — one whole-stage-codegen stage where Spark can fuse them — with no
 * nested query and no row conversion. A metadata-only aggregate becomes
 * its one local row.
 *
 * Installed by [[GraftSqlExtensions]] and, for sessions without them, by
 * every graft scan builder ([[install]]), so Spark's own `toBatch` is never
 * asked for a graft scan.
 */
object GraftScanStrategy extends SparkStrategy {
  /** Matches the relation and any projections and filters over it, which
    * Spark's own DSv2 strategy would otherwise plan as a batch scan. Every
    * node of every query the session plans comes here first, so a plan
    * with no graft relation under it costs one walk down its projections
    * and filters. */
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = graftRelation(plan) match {
    case Some(r) => r.scan match {
      case s: GraftPlannedScan =>
        planLater(plan.transformUp { case x if x eq r =>
          Project(r.output.zip(s.plan.output).map { case (out, in) =>
            Alias(in, out.name)(exprId = out.exprId, qualifier = out.qualifier,
              explicitMetadata = Some(out.metadata))
          }, s.plan)
        }) :: Nil
      case s: GraftMetadataAggScan => plan match {
        case PhysicalOperation(projects, filters, _) =>
          val rows = s.exec(r.output)
          val filtered = filters.reduceLeftOption(And).fold(rows)(FilterExec(_, rows))
          (if (projects.map(_.toAttribute) == filtered.output) filtered
           else ProjectExec(projects, filtered)) :: Nil
        case _ => Nil
      }
    }
    case None => Nil
  }

  /** The graft scan's relation under `plan`'s projections and filters. */
  private def graftRelation(plan: LogicalPlan): Option[DataSourceV2ScanRelation] = plan match {
    case r: DataSourceV2ScanRelation => r.scan match {
      case _: GraftPlannedScan | _: GraftMetadataAggScan => Some(r)
      case _ => None
    }
    case p: Project => graftRelation(p.child)
    case f: Filter => graftRelation(f.child)
    case _ => None
  }

  /** Add this strategy to `spark`'s planner unless it is there already. */
  def install(spark: SparkSession): Unit = CatalystBridge.addStrategy(spark, this)
}
