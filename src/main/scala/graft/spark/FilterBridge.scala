package graft.spark

import graft.table._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources

/**
 * Bridges Spark DSv1 [[sources.Filter]]s (the currency of
 * `SupportsPushDownFilters` / `SupportsDelete`) to graft's scan model.
 *
 * Each filter converts two ways, used together:
 *  - [[toPredicate]]: the manifest-pruning subset ([[ScanPredicate]]) —
 *    top-level comparisons and IN. These prune whole data files via
 *    partition transforms and column bounds before Spark sees a file list.
 *  - [[toColumn]]: the full row-level Catalyst condition, re-applied inside
 *    the scan so parquet row-group pushdown happens per file and results
 *    are exact even where manifest pruning is only conservative.
 */
object FilterBridge {

  /** Manifest-prunable subset; None means "no pruning from this filter"
    * (it may still convert row-level via [[toColumn]]). */
  def toPredicate(f: sources.Filter): Option[ScanPredicate] = f match {
    case sources.EqualTo(a, v) if topLevel(a) => Some(EqPred(a, v))
    // static INSERT OVERWRITE … PARTITION (p=v) arrives null-safe; with a
    // non-null value `<=>` and `=` accept exactly the same rows
    case sources.EqualNullSafe(a, v) if topLevel(a) && v != null => Some(EqPred(a, v))
    case sources.LessThan(a, v) if topLevel(a) => Some(LtPred(a, v))
    case sources.LessThanOrEqual(a, v) if topLevel(a) => Some(LePred(a, v))
    case sources.GreaterThan(a, v) if topLevel(a) => Some(GtPred(a, v))
    case sources.GreaterThanOrEqual(a, v) if topLevel(a) => Some(GePred(a, v))
    case sources.In(a, vs) if topLevel(a) => Some(InPred(a, vs.toSeq))
    case _ => None
  }

  /** Full row-level conversion; None = not expressible (the caller must
    * leave the filter as a Spark-side residual). */
  def toColumn(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq.map(lit(_)): _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case sources.Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case sources.Not(c) => toColumn(c).map(not)
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  /** True when the whole filter is a full-table match (DELETE with no WHERE,
    * TRUNCATE): every conjunct is AlwaysTrue. */
  def isDeleteAll(filters: Array[sources.Filter]): Boolean =
    filters.forall(_ == sources.AlwaysTrue())

  private def topLevel(attr: String): Boolean = !attr.contains('.')
}
