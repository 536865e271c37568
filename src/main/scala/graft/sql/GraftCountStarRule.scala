package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.sources.GraftFileIndex

/** Metadata-only `SELECT COUNT(*) FROM <graft table>`: answered from the
  * snapshot log's per-file row counts instead of scanning data — the
  * Iceberg "count from manifests" optimization, as a Catalyst optimizer
  * rule. At 100 TB the difference is a driver-side map-sum over the
  * manifest vs a full-table scan job.
  *
  * Fires ONLY when every condition guaranteeing scan-equivalence holds:
  *   - a global aggregate (no GROUP BY) whose every output is a
  *     non-distinct COUNT over non-null literals (count(*) lowers to
  *     count(1));
  *   - the child is the BARE graft relation (optionally under Projects
  *     of plain attributes) — any Filter/Join/expression in between
  *     disables the rewrite;
  *   - the relation's pinned file list (which already excludes
  *     MOR-affected reads — the graft source refuses to build a relation
  *     tombstones apply to) has a recorded row count for EVERY file;
  *     a single unknown file falls back to the scan.
  *
  * The count is computed over the relation's PINNED files, so
  * time-travel / tag / incremental relations all count their own
  * snapshot range, and commits landing after relation resolution do not
  * leak in (same isolation the scan itself has). */
class GraftCountStarRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def countsOnly(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression])
      : Boolean =
    exprs.nonEmpty && exprs.forall {
      case Alias(AggregateExpression(
        Count(Seq(Literal(v, _))), Complete, false, None, _), _) => v != null
      case _ => false
    }

  /** The graft index under the aggregate, if the path is pure
    * (projections of plain attributes only). */
  private def bareIndex(p: LogicalPlan): Option[GraftFileIndex] = p match {
    case Project(projList, child)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      bareIndex(child)
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location match {
        case g: GraftFileIndex => Some(g)
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(Nil, aggExprs, child, _)
        if countsOnly(aggExprs) =>
      bareIndex(child).flatMap { idx =>
        val files = idx.files
        val rows = idx.rows
        if (files.forall(rows.contains)) {
          val n = files.map(rows).sum
          Some(LocalRelation(agg.output.map(_.toAttribute),
            Seq(InternalRow.fromSeq(agg.output.map(_ => n)))))
        } else None // a file without a recorded count → honest scan
      }.getOrElse(agg)
  }
}
