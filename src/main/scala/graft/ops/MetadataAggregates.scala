package graft.ops

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DataType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.AtomicPublish.{ColStat, SegStats}

/** METADATA-ONLY AGGREGATES: a full-table `count(*)` / `count(col)` /
  * `min(col)` / `max(col)` over a stats-covered store table is
  * answered from the manifest's recorded segment stats — ZERO data
  * files read. At 100 TB this is the difference between a free catalog
  * lookup and a full-table scan for the queries every operator runs
  * hourly (`SELECT count(*) FROM ingest`, freshness max(ts), key-range
  * min/max) — the same trick Iceberg serves from manifest metrics and
  * Delta from Add-file stats.
  *
  * Strictly gated, bail-to-original on every edge:
  *  - global aggregate only (no GROUP BY), over a bare store scan or a
  *    pure-attribute projection of one — a Filter, join (including the
  *    tombstone anti-join a deleted-from table always carries), or
  *    subset mount ([[GraftFileIndex.metadataSegStats]] None) breaks
  *    the match, so merge-on-read deletes can never be overcounted;
  *  - every aggregate must be computable: `count(*)` needs only the
  *    per-owner `_rows`; `count(col)`/`min`/`max` need the column's
  *    [[ColStat]] recorded in EVERY owner (schema evolution is exact:
  *    a pre-column owner records an all-null ColStat, so `count(col)`
  *    still sums `rows - nulls` correctly) — `avg`/`sum`/DISTINCT/
  *    FILTER bail;
  *  - min/max decode the recorded stat strings under the RECORDED
  *    column type (the exact mirror of the writer's `statEncode`;
  *    type-widening re-encodes stats in the widening commit, so the
  *    recorded type is always the right lens); a string that fails to
  *    decode bails the whole rewrite.
  *
  * The stats are EXACT (Spark min/max/count aggregates at write time,
  * never parquet-truncated), so the rewrite is value-identical to the
  * scan it replaces — pinned by the `store19_metadata_agg` oracle
  * query plus a plan assertion that no file scan survives.
  *
  * Registered from [[GraftFileIndex.relationFor]] like
  * [[HiddenPartitionPruning]]; disable with
  * `spark.graft.metadataAggregates=false`.
  */
object MetadataAggregates extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString("spark.graft.metadataAggregates", "true")
        != "true") return plan
    plan.transformUp {
      case agg @ Aggregate(Nil, aggExprs, child, _) =>
        rewrite(aggExprs, child).map { values =>
          LocalRelation(agg.output,
            Seq(InternalRow.fromSeq(values)))
        }.getOrElse(agg)
    }
  }

  /** The scan under a pure-attribute projection, if that is ALL that
    * sits between the aggregate and the store relation. */
  private def scanOf(child: LogicalPlan): Option[GraftFileIndex] =
    child match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location match {
          case g: GraftFileIndex => Some(g)
          case _ => None
        }
      case Project(pl, inner)
          if pl.forall(_.isInstanceOf[AttributeReference]) =>
        scanOf(inner)
      case _ => None
    }

  private def rewrite(aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[Seq[Any]] = {
    val g = scanOf(child).getOrElse(return None)
    val stats = g.metadataSegStats.getOrElse(return None)
    val totalRows = stats.map(_.rows).sum
    val schema = g.recordedTableSchema
    val statCols = g.statColumns.toSet
    // every owner must record the column's ColStat (it does whenever
    // the column was a declared stat column at write time; absent =
    // stats declared later, totals unknowable)
    def colStats(name: String): Option[Seq[(Long, ColStat)]] =
      if (!statCols.contains(name)) None
      else {
        val per = stats.map(s => s.cols.get(name).map(s.rows -> _))
        if (per.forall(_.isDefined)) Some(per.flatten) else None
      }
    val values = aggExprs.map {
      case Alias(ae: AggregateExpression, _) => compute(ae, schema,
        totalRows, colStats).getOrElse(return None)
      case ae: AggregateExpression => compute(ae, schema,
        totalRows, colStats).getOrElse(return None)
      case _ => return None
    }
    Some(values)
  }

  /** One aggregate's INTERNAL result value, or None = not computable
    * from metadata. */
  private def compute(ae: AggregateExpression,
      schema: org.apache.spark.sql.types.StructType, totalRows: Long,
      colStats: String => Option[Seq[(Long, ColStat)]]): Option[Any] = {
    if (ae.isDistinct || ae.filter.isDefined) return None
    def named(e: Expression): Option[String] = e match {
      case a: AttributeReference
          if schema.fieldNames.contains(a.name) &&
            schema(a.name).dataType == a.dataType => Some(a.name)
      case _ => None
    }
    ae.aggregateFunction match {
      // count(*) = Count(1); a NULL literal would count 0 rows, not
      // all (NullPropagation folds that shape before this batch, but
      // never rely on another rule for soundness)
      case Count(Seq(l: Literal)) if l.value != null => Some(totalRows)
      case Count(Seq(e)) => named(e).flatMap(colStats).map(
        _.map { case (rows, st) => rows - st.nulls }.sum)
      case Min(e) => edge(e, named, colStats, isMin = true)
      case Max(e) => edge(e, named, colStats, isMin = false)
      case _ => None
    }
  }

  /** min/max across owners: decode each owner's recorded boundary
    * under the column type and reduce with Spark's own ordering (NaN
    * greatest — the stats were produced by Spark's min/max, so the
    * conventions agree by construction). An owner whose column is
    * all-null contributes nothing; a non-null population with a
    * missing/undecodable boundary bails. */
  private def edge(e: Expression,
      named: Expression => Option[String],
      colStats: String => Option[Seq[(Long, ColStat)]],
      isMin: Boolean): Option[Any] = {
    val a = e match { case a: AttributeReference => a; case _ => return None }
    val name = named(a).getOrElse(return None)
    val per = colStats(name).getOrElse(return None)
    val dt = a.dataType
    val bounds = per.map { case (rows, st) =>
      val raw = if (isMin) st.min else st.max
      (raw, rows - st.nulls)
    }
    // inconsistent stats (non-null rows but no recorded boundary) bail
    if (bounds.exists { case (raw, nonNull) => raw.isEmpty && nonNull > 0 })
      return None
    val decoded = bounds.flatMap(_._1).map(s =>
      decode(s, dt).getOrElse(return None))
    if (decoded.isEmpty) return Some(null) // zero rows / all null
    val ord = TypeUtils.getInterpretedOrdering(dt)
    Some(if (isMin) decoded.min(ord) else decoded.max(ord))
  }

  /** Driver-side mirror of the store's `statDecode`, to the INTERNAL
    * value representation. */
  private def decode(s: String, dt: DataType): Option[Any] = dt match {
    case TimestampType => scala.util.Try(s.toLong).toOption // micros
    case StringType => Some(UTF8String.fromString(s))
    case _ => scala.util.Try(
      Cast(Literal(UTF8String.fromString(s), StringType), dt,
        Some(conf.sessionLocalTimeZone)).eval(null)).toOption
      .filter(_ != null)
  }
}
