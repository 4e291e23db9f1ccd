package graft.ops

import org.apache.spark.sql.catalyst.expressions.{Add, Alias, AttributeReference, Cast, DateAdd, DateDiff, DynamicPruningSubquery, EqualTo, Expression, Hour, IntegralDivide, Literal, Month, Multiply, Pmod, PredicateHelper, Subtract, UnixMicros, Year}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DateType, IntegerType, TimestampNTZType}

/** DYNAMIC pruning of HIDDEN partitions: when an equi-join keys on the
  * SOURCE column of a calendar-transform partition spec (`fact.ts =
  * dim.ts` over a `days(ts)`-partitioned store table), collect the dim
  * side's distinct day ordinals at runtime and skip the fact day
  * directories that can't match.
  *
  * Spark's own `PartitionPruning` cannot see this: the join key `ts`
  * is a DATA column (hidden partitioning keeps transform sources in
  * the files — [[PartSpec]]), so no partition-column reference exists
  * for it to latch onto. Iceberg closes the same gap with
  * `SupportsRuntimeV2Filtering`; this store's V1 mount closes it by
  * (a) exposing the derived dir ordinal (`ts__day`) in the file
  * index's `partitionSchema` ([[GraftFileIndex.exposedDerived]] —
  * projected away from every user-facing schema) and (b) this rule
  * inserting a standard [[DynamicPruningSubquery]] whose pruning key
  * is that derived attribute and whose build keys re-derive the SAME
  * ordinal from the dim side's join key ([[deriveExpr]] mirrors
  * [[PartSpec.derive]] value-for-value). Everything downstream is
  * stock Spark: `PlanDynamicPruningFilters` /
  * `PlanAdaptiveDynamicPruningFilters` plan the subquery,
  * `FileSourceScanExec.dynamicallySelectedPartitions` evaluates it
  * against each [[org.apache.spark.sql.execution.datasources
  * .PartitionDirectory]]'s values, and whole directories drop before
  * a byte of the fact table is read.
  *
  * At 100 TB this is the difference between scanning a month and
  * scanning a history on every dim-driven fact lookup: a static
  * `ts >= X` predicate prunes only what the QUERY states; the
  * dim-side join values prune what the DATA implies.
  *
  * Safety:
  *  - dropping a fact directory is only sound when a non-matching row
  *    cannot affect the join result, so insertion is gated on the same
  *    join types Spark's own DPP prunes (inner/semi on the pruned
  *    side; a null source value never equi-joins, so dropping the
  *    null-ordinal directory is sound too);
  *  - evolved tables ([[GraftFileIndex.exposedDerived]] false) never
  *    expose an ordinal, so this rule cannot fire on a mixed-layout
  *    chain where an old owner would surface a null partition value;
  *  - the subquery is `onlyInBroadcast` unless the build side is
  *    small by stats: a broadcast-reused prune is ~free, while the
  *    aggregate-subquery fallback re-executes the dim subtree — worth
  *    it only when that subtree is cheap.
  *
  * Runs from `spark.experimental.extraOptimizations` (installed
  * idempotently at store-mount time — [[GraftFileIndex.relationFor]]):
  * the LAST optimizer batch, after `CleanupDynamicPruningFilters`, so the
  * inserted filter survives and the captured build plan is fully
  * optimized (stable `sameResult` for broadcast reuse).
  */
object HiddenPartitionPruning extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.dynamicPartitionPruningEnabled) return plan
    // Registration is session-global (store-mount time), so this rule
    // sees EVERY query's final optimizer batch for the session's
    // remaining lifetime. Exit on one cheap leaf scan before doing any
    // per-join conjunct splitting / lineage tracing: only plans that
    // actually read a graft store with a prunable derived ordinal can
    // ever be rewritten (VERDICT r10 bench-drift suspect #1).
    val touchesStore = plan.exists {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location match {
          case g: GraftFileIndex => g.prunableTransforms.nonEmpty
          case _ => false
        }
      case _ => false
    }
    if (!touchesStore) return plan
    plan.transformUp {
      case j @ Join(left, right, joinType, Some(condition), _) =>
        var newLeft = left
        var newRight = right
        splitConjunctivePredicates(condition).foreach {
          case EqualTo(a, b) =>
            val pair =
              if (a.references.subsetOf(left.outputSet) &&
                  b.references.subsetOf(right.outputSet)) Some((a, b))
              else if (b.references.subsetOf(left.outputSet) &&
                  a.references.subsetOf(right.outputSet)) Some((b, a))
              else None
            pair.foreach { case (lk, rk) =>
              if (canPruneLeft(joinType) && hasSelectiveFilter(right))
                newLeft = tryInsert(newLeft, lk, right, rk)
              if (canPruneRight(joinType) && hasSelectiveFilter(left))
                newRight = tryInsert(newRight, rk, left, lk)
            }
          case _ => ()
        }
        if ((newLeft eq left) && (newRight eq right)) j
        else j.copy(left = newLeft, right = newRight)
    }
  }

  // the join types whose semantics permit dropping non-matching rows
  // from each side — same sets as Spark's PartitionPruning
  private[ops] def canPruneLeft(jt: JoinType): Boolean = jt match {
    case Inner | LeftSemi | RightOuter => true
    case _ => false
  }
  private[ops] def canPruneRight(jt: JoinType): Boolean = jt match {
    case Inner | LeftOuter => true
    case _ => false
  }

  /** Pruning pays only when the dim side actually narrows: require a
    * likely-selective filter somewhere in the build plan (Spark's own
    * DPP heuristic). */
  private[ops] def hasSelectiveFilter(plan: LogicalPlan): Boolean =
    plan.exists {
      case f: Filter => isLikelySelective(f.condition)
      case _ => false
    }

  /** Trace `attr` down to a store scan through ROW-LOCAL operators
    * only — Project (alias substitution), Filter, SubqueryAlias-like
    * passthroughs and Joins (all join types only FILTER or
    * null-extend rows relative to the traced side; the upper
    * equi-join discards exactly what the inserted prune discards, so
    * per-row lineage is preserved). Deliberately NOT
    * `findExpressionAndTrackLineageDown`: that helper also descends
    * through Window/Aggregate/Generate, below which a pruning filter
    * could change the VALUES of surviving rows (a window function
    * computed over the pruned subset differs for rows the join
    * keeps). */
  private[ops] def traceToScan(attr: AttributeReference,
      plan: LogicalPlan): Option[(AttributeReference, LogicalRelation)] =
    plan match {
      case lr @ LogicalRelation(_, _, _, _, _)
          if lr.outputSet.contains(attr) => Some((attr, lr))
      case p: Project =>
        p.projectList.find(_.exprId == attr.exprId) match {
          case Some(a: AttributeReference) => traceToScan(a, p.child)
          case Some(al: Alias) => al.child match {
            case c: AttributeReference => traceToScan(c, p.child)
            case _ => None
          }
          case _ => None
        }
      case f: Filter => traceToScan(attr, f.child)
      case j: Join =>
        j.children.find(_.outputSet.contains(attr))
          .flatMap(traceToScan(attr, _))
      case u: SubqueryAlias => traceToScan(attr, u.child)
      case _ => None
    }

  /** Insert a [[DynamicPruningSubquery]] filter directly above the
    * store scan that `key` traces down to, when that scan exposes a
    * derived transform ordinal for `key`'s source column. Returns the
    * side unchanged when any link in that chain is missing. */
  private def tryInsert(side: LogicalPlan, key: Expression,
      buildPlan: LogicalPlan, buildKey: Expression): LogicalPlan = {
    val attr = key match {
      case a: AttributeReference => a
      case _ => return side // composite/cast keys: ordinal equality unprovable
    }
    traceToScan(attr, side) match {
      case Some((src,
          lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _))) =>
        fs.location match {
          case g: GraftFileIndex =>
            (for {
              t <- g.prunableTransforms.find(_.src == src.name)
              derived <- lr.output.find(_.name == t.derivedName)
              if !alreadyPruned(side, derived)
              ord <- deriveExpr(t, buildKey)
            } yield {
              // small build by stats => the aggregate-subquery fallback
              // is cheap; otherwise prune only via broadcast reuse
              val cheap = buildPlan.stats.sizeInBytes <=
                BigInt(math.max(conf.autoBroadcastJoinThreshold, 0L))
              side.transformUp {
                case r: LogicalRelation if r eq lr =>
                  Filter(DynamicPruningSubquery(derived, buildPlan,
                    Seq(ord), Seq(0), onlyInBroadcast = !cheap), r)
              }
            }).getOrElse(side)
          case _ => side
        }
      case _ => side
    }
  }

  private def alreadyPruned(side: LogicalPlan,
      derived: AttributeReference): Boolean =
    side.exists {
      case Filter(c, _) => c.exists {
        case d: DynamicPruningSubquery => d.pruningKey.semanticEquals(derived)
        case _ => false
      }
      case _ => false
    }

  /** Catalyst mirror of [[PartSpec.derive]]: the transform ordinal of
    * `c`, value-identical to the directory ordinals the writer laid
    * down (exactness is what makes the prune sound). `(us - pmod(us,
    * d))` is an exact multiple of `d`, so integral division equals the
    * floored quotient for negatives too. None when the source type
    * can't be derived (then no filter is inserted). */
  private def deriveExpr(t: PartSpec.Transform,
      c: Expression): Option[Expression] = {
    val zone = Some(conf.sessionLocalTimeZone)
    def epochDay: Expression = c.dataType match {
      case DateType => DateDiff(c, Literal(0, DateType))
      case TimestampNTZType =>
        DateDiff(Cast(c, DateType, zone), Literal(0, DateType))
      case _ =>
        val us = UnixMicros(c)
        val d = Literal(86400000000L)
        Cast(IntegralDivide(Subtract(us, Pmod(us, d)), d), IntegerType)
    }
    def epochHour: Expression = c.dataType match {
      case DateType => Multiply(DateDiff(c, Literal(0, DateType)), Literal(24))
      case TimestampNTZType =>
        Add(Multiply(epochDay, Literal(24)), Hour(c, zone))
      case _ =>
        val us = UnixMicros(c)
        val d = Literal(3600000000L)
        Cast(IntegralDivide(Subtract(us, Pmod(us, d)), d), IntegerType)
    }
    scala.util.Try(t.kind match {
      case "days" => epochDay
      case "hours" => epochHour
      case kind =>
        val date = DateAdd(Literal(0, DateType), epochDay)
        if (kind == "months")
          Add(Multiply(Subtract(Year(date), Literal(1970)), Literal(12)),
            Subtract(Month(date), Literal(1)))
        else Subtract(Year(date), Literal(1970))
    }).toOption.filter(_.resolved)
  }
}
