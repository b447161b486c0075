package graft.plans

import graft.sources.Snapshot
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Metadata-only `count()` over a Snapshot scan: the manifest records
  * every data file's row count, so `Aggregate([], [count(literal)])`
  * over a plain manifest-indexed scan is answered from it, with no job.
  * The aggregate becomes a one-row `LocalRelation` holding the sum of
  * the entries' `rows`, under the aggregate's own output attribute.
  *
  * Guards, each keeping the scan:
  *   - the count's argument is a non-null literal (`count(*)`,
  *     `Dataset.count()`), not distinct, with no FILTER clause;
  *   - only `Project`s sit between the aggregate and the scan: a
  *     `Filter`, a join, a limit or a union above it keeps the scan;
  *   - the scan's `SnapshotFileIndex` entries all record `rows >= 0`
  *     (entries written before row counts were recorded read `-1`) and
  *     none carries a deletion vector (the row count is physical, the
  *     deleted positions are applied by a join the read path adds).
  *
  * A cached frame is out of reach by construction: the cache manager
  * has already replaced its scan when this rule runs. The catalog's
  * DSv2 scan is not a `HadoopFsRelation` and keeps its scan.
  */
object SnapshotCountRewriteRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case a @ Aggregate(Nil, Seq(out @ Alias(AggregateExpression(
        Count(Seq(Literal(v, _))), _, false, None, _), _)), child, _) if v != null =>
      manifestRows(child)
        .map(n => LocalRelation(Seq(out.toAttribute), Seq(InternalRow(n))))
        .getOrElse(a)
  }

  private def manifestRows(p: LogicalPlan): Option[Long] = p match {
    case Project(_, c) => manifestRows(c)
    case l: LogicalRelation if !l.isStreaming => l.relation match {
      case fs: HadoopFsRelation => Snapshot.manifestRowCount(fs.location)
      case _ => None
    }
    case _ => None
  }
}
