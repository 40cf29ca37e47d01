package graft.plans

import graft.sources.ManifestAnswerable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DataType, StructField}

/** Manifest-answered aggregates over the V1 seam (round 10): a bare
  * ungrouped `min(c)` / `max(c)` / `count(literal)` aggregate whose child
  * is exactly a `format("graft-table")` relation (possibly under a pure
  * column projection) collapses to a LocalRelation built from the
  * manifest's row counts and column bounds — ZERO file scans, matching
  * what `SELECT min(c) FROM graft.t` gets from the V2 scan builder's
  * pushed aggregate ([[graft.catalog.GraftScanBuilder]]). On a 100 TB table that is milliseconds instead
  * of a full-table job for the `df.agg(...)` spelling of the same
  * question.
  *
  * Fires ONLY when every aggregate in the list is exactly answerable
  * ([[ManifestAnswerable]] returns None for MoR states, ref/branch
  * views, unbounded columns, FILTER clauses, grouped aggregates) —
  * anything else keeps the real scan, so the rewrite can change the
  * plan's cost but never its answer. Output attributes are REUSED from
  * the matched Aggregate, so parent operators' references stay bound.
  */
class ManifestAggOnV1(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate if agg.aggregateExpressions.nonEmpty =>
      (if (agg.groupingExpressions.isEmpty) ungrouped(agg) else grouped(agg))
        .getOrElse(agg)
  }

  private def ungrouped(agg: Aggregate): Option[LogicalPlan] =
    relationOf(agg.child).flatMap { r =>
      val vs = agg.aggregateExpressions.map(answer(r, _))
      if (vs.forall(_.isDefined))
        Some(LocalRelation(agg.output,
          Seq(InternalRow.fromSeq(vs.map(_.get)))))
      else None
    }

  /** `GROUP BY <one or more bare columns>` where every column is an
    * identity partition source: per-tuple count/min/max (and bare
    * DISTINCT — an empty want list) answer from per-entry row counts and
    * bounds. The grouping attributes themselves pass through (cast back
    * from the tuple strings — sound only for round-tripping types, which
    * the table layer gates); any other output must be an answerable
    * aggregate.
    */
  private def grouped(agg: Aggregate): Option[LogicalPlan] = {
    val gs = agg.groupingExpressions.collect { case a: AttributeReference => a }
    if (gs.length != agg.groupingExpressions.length ||
        gs.map(_.exprId).distinct.length != gs.length) return None
    val gIdx = gs.map(_.exprId).zipWithIndex.toMap
    for {
      r <- relationOf(agg.child)
      outs <- traverse(agg.aggregateExpressions.map {
        case a: AttributeReference if gIdx.contains(a.exprId) =>
          Some(Left(gIdx(a.exprId)))
        case Alias(a: AttributeReference, _) if gIdx.contains(a.exprId) =>
          Some(Left(gIdx(a.exprId)))
        case Alias(ae: AggregateExpression, _) if ae.filter.isEmpty =>
          wantOf(ae).map(Right(_))
        case _ => None
      })
      wants = outs.collect { case Right(w) => w }
      answered <- r.manifestGroupedAgg(gs.map(_.name), wants)
    } yield {
      val (gfs, aggFields, rows) = answered
      val tz = session.sessionState.conf.sessionLocalTimeZone
      val data = rows.map { case (tuple, vals) =>
        val gVals = tuple.zip(gfs).map { case (s, gf) =>
          s.map(v => Cast(Literal(v), gf.dataType, Some(tz)).eval(null)).orNull
        }
        var i = -1
        InternalRow.fromSeq(outs.map {
          case Left(gi) => gVals(gi)
          case Right(("count", _)) => i += 1; vals(i)
          case Right(_) =>
            i += 1
            ManifestAggOnV1.statsToColumn(vals(i), aggFields(i).get.dataType, session)
        })
      }
      LocalRelation(agg.output, data)
    }
  }

  private def traverse[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None

  /** The child must be the V1 relation itself — transparently through
    * pure column projections and aliases only (a Filter, a computed
    * projection, or any other operator means the manifest no longer
    * describes the aggregate's input).
    */
  private def relationOf(p: LogicalPlan): Option[ManifestAnswerable] = p match {
    case lr: LogicalRelation if !lr.isStreaming =>
      lr.relation match { case r: ManifestAnswerable => Some(r); case _ => None }
    case pj: Project if pj.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      relationOf(pj.child)
    case SubqueryAlias(_, child) => relationOf(child)
    case _ => None
  }

  /** The manifest-answerable aggregate shapes: count over a non-null
    * literal (count(col) needs per-column null counts the manifest does
    * not claim as exact) and min/max of a bare column (which ignore
    * distinctness by definition).
    */
  private def wantOf(ae: AggregateExpression): Option[(String, Option[String])] =
    ae.aggregateFunction match {
      case c: Count if !ae.isDistinct && c.children.sizeIs == 1 &&
          (c.children.head match {
            case l: Literal => l.value != null
            case _ => false
          }) =>
        Some(("count", None))
      case Min(a: AttributeReference) => Some(("min", Some(a.name)))
      case Max(a: AttributeReference) => Some(("max", Some(a.name)))
      case _ => None
    }

  private def answer(r: ManifestAnswerable, e: NamedExpression): Option[Any] =
    e match {
      case Alias(ae: AggregateExpression, _) if ae.filter.isEmpty =>
        wantOf(ae).flatMap {
          case ("count", _) => r.manifestCount
          case (kind, Some(c)) =>
            r.manifestExtreme(c, wantMin = kind == "min")
              .map { case (raw, fld) => ManifestAggOnV1.statsToColumn(
                raw, fld.dataType, session) }
          case _ => None
        }
      case _ => None
    }
}

object ManifestAggOnV1 {
  /** Stats-domain value (i→Long, f→Double, s→String) → the column's
    * Catalyst-INTERNAL value through Catalyst's own cast — shared by the
    * V2 scan builder and the V1 plan rule so both spellings of `min(c)`
    * materialize identically.
    */
  def statsToColumn(raw: Any, dt: DataType, session: SparkSession): Any = {
    val normalized = raw match {
      case n: Number if !raw.isInstanceOf[java.lang.Double] &&
          !raw.isInstanceOf[java.lang.Float] => Literal(n.longValue())
      case n: Number => Literal(n.doubleValue())
      case other     => Literal(String.valueOf(other))
    }
    Cast(normalized, dt,
      Some(session.sessionState.conf.sessionLocalTimeZone)).eval(null)
  }
}
