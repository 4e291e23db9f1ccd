package graft.ops

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.{Inner, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StringType

/** `CREATE / REFRESH / DROP MATERIALIZED VIEW` — the DDL face of the
  * store's incremental materialized views ([[MatView]]), installed by
  * `GraftSqlExtensions` as an injected parser (the Delta-style
  * intercept-or-delegate wrapper: statements stock Spark cannot parse
  * are claimed here; everything else passes through verbatim).
  *
  * Grammar (VERDICT-r11 ask #3 — the face an analytics SQL user
  * actually types):
  *
  * {{{
  *   CREATE MATERIALIZED VIEW <cat>.<view> AS
  *     SELECT k1, ..., agg(col) AS name, ...
  *     FROM <cat>.<src> [JOIN <cat>.<right> USING (c1, ...)]
  *     [GROUP BY k1, ...]
  *   REFRESH MATERIALIZED VIEW <cat>.<view>
  *   DROP MATERIALIZED VIEW <cat>.<view>
  * }}}
  *
  * The SELECT is parsed by Spark's OWN parser and pattern-matched into
  * [[MatView.ViewDef]]'s shape — a grouped aggregate of one store
  * table or of an inner USING-join of two (the incrementally
  * maintainable algebra; aggregates are the mergeable five:
  * sum/count/min/max/count(DISTINCT)). Anything outside that shape is
  * refused with the reason, never silently downgraded to a recompute
  * view. CREATE records the definition in a one-row companion table
  * (`<view>_def`) ATOMICALLY with the view itself, which is what lets
  * REFRESH/DROP work from the NAME alone — a view built through the
  * Scala API ([[MatView.refresh]] without `recordDef`) records none.
  * CREATE on an existing view is create-or-refresh, matching
  * [[MatView.refresh]]'s idempotent contract. */
object MatViewSql {

  private val Create =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s+AS\s+(.+)""".r
  private val Refresh =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*;?\s*""".r
  private val Drop =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*;?\s*""".r

  /** The claimed statement's command, or None to delegate. */
  def parse(delegate: ParserInterface,
      sqlText: String): Option[LogicalPlan] = sqlText match {
    case Create(ident, query) =>
      val (cat, view) = splitIdent(ident)
      Some(CreateMatViewCommand(cat,
        defOfQuery(delegate, cat, view, query)))
    case Refresh(ident) =>
      val (cat, view) = splitIdent(ident)
      Some(RefreshMatViewCommand(cat, view))
    case Drop(ident) =>
      val (cat, view) = splitIdent(ident)
      Some(DropMatViewCommand(cat, view))
    case _ => None
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"MATERIALIZED VIEW: $msg")

  private def splitIdent(ident: String): (String, String) =
    ident.split("\\.") match {
      case Array(cat, view) => (cat, view)
      case _ => fail(s"name '$ident' must be <catalog>.<view> " +
        "(the catalog names the graft store root)")
    }

  /** One relation's table name, required to live in the view's
    * catalog (one store root = one consistent watermark). */
  private def tableIn(cat: String, parts: Seq[String]): String =
    parts match {
      case Seq(c, t) if c.equalsIgnoreCase(cat) => t
      case Seq(_, _) | Seq(_, _, _) => fail(
        s"source '${parts.mkString(".")}' must live in catalog '$cat' " +
          "(a view and its sources share one store root)")
      case Seq(t) => t // unqualified: resolved against the view's catalog
      case _ => fail(s"cannot resolve source '${parts.mkString(".")}'")
    }

  /** Pattern-match the parsed SELECT into the maintainable algebra. */
  private def defOfQuery(delegate: ParserInterface, cat: String,
      view: String, query: String): MatView.ViewDef = {
    val plan = delegate.parseQuery(query)
    plan match {
      case Aggregate(groupings, aggExprs, child, _) =>
        val keys = groupings.map {
          case a: UnresolvedAttribute => a.nameParts.last
          case e => fail(s"GROUP BY supports plain columns only, got " +
            s"'${e.sql}' — materialize derived keys in the source table")
        }
        // SELECT list = the group keys (any order) + aliased aggregates
        val (keyExprs, aggCols) = aggExprs.partition {
          case _: UnresolvedAttribute => true
          case _ => false
        }
        val selectedKeys = keyExprs.map(
          _.asInstanceOf[UnresolvedAttribute].nameParts.last)
        if (selectedKeys.sorted != keys.sorted) fail(
          "the SELECT list must carry exactly the GROUP BY keys " +
            s"(got ${selectedKeys.mkString(",")} vs ${keys.mkString(",")})")
        val aggs = aggCols.map(aggOf)
        if (aggs.isEmpty) fail("at least one aggregate is required")
        child match {
          case UnresolvedRelation(parts, _, _) =>
            MatView.Def(tableIn(cat, parts), view, selectedKeys, aggs)
          case Join(UnresolvedRelation(l, _, _),
              UnresolvedRelation(r, _, _), UsingJoin(Inner, cols),
              None, _) =>
            MatView.JoinDef(tableIn(cat, l), tableIn(cat, r), cols,
              view, selectedKeys, aggs)
          case Join(_, _, jt, _, _) => fail(
            s"only INNER JOIN ... USING (cols) is incrementally " +
              s"maintainable here, got ${jt.sql} — ON-joins with " +
              "disjoint key names or outer joins need a recompute view")
          case other => fail("FROM must be one store table or an inner " +
            s"USING-join of two, got ${other.nodeName}")
        }
      case _ => fail("the query must be a grouped aggregate " +
        "(SELECT keys, agg(col) AS name FROM ... GROUP BY keys) — " +
        "that is the shape the store maintains incrementally")
    }
  }

  private def aggOf(e: Expression): MatView.Agg = e match {
    case Alias(f: UnresolvedFunction, as) =>
      val fn0 = f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
      val colName = f.arguments match {
        case Seq(a: UnresolvedAttribute) => a.nameParts.last
        case _ => fail(s"aggregate '${e.sql}' must take exactly one " +
          "plain column")
      }
      if (f.filter.isDefined) fail(
        s"FILTER clauses are not maintainable: '${e.sql}'")
      val fn = if (f.isDistinct) {
        if (fn0 != "count") fail(
          s"DISTINCT is only maintainable under count: '${e.sql}'")
        "count_distinct"
      } else fn0
      MatView.Agg(fn, colName, as)
    case org.apache.spark.sql.catalyst.analysis
        .UnresolvedAlias(f: UnresolvedFunction, _) => fail(
      s"alias every aggregate ('${f.sql} AS name') — the alias is the " +
        "view's column name")
    case f: UnresolvedFunction => fail(
      s"alias every aggregate ('${f.sql} AS name') — the alias is the " +
        "view's column name")
    case other => fail(s"unsupported SELECT entry '${other.sql}' " +
      "(group key or aliased aggregate only)")
  }

  /** The store root behind a session catalog name. */
  private[ops] def rootOf(spark: SparkSession, cat: String): String =
    spark.sessionState.catalogManager.catalog(cat) match {
      case g: GraftCatalog => g.storeRoot
      case other => fail(s"catalog '$cat' is not a graft store " +
        s"catalog (got ${other.getClass.getSimpleName})")
    }

  private[ops] def outCols(names: String*): Seq[Attribute] =
    names.map(n => AttributeReference(n, StringType, nullable = true)())
}

/** Intercept-or-delegate parser: MATERIALIZED VIEW statements become
  * runnable commands, everything else parses through the session's
  * stock parser untouched. */
final class GraftSqlParser(delegate: ParserInterface)
  extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    MatViewSql.parse(delegate, sqlText)
      .getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(s: String) = delegate.parseExpression(s)
  override def parseTableIdentifier(s: String) =
    delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String) =
    delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String) =
    delegate.parseMultipartIdentifier(s)
  override def parseQuery(s: String) = delegate.parseQuery(s)
  override def parseRoutineParam(s: String) =
    delegate.parseRoutineParam(s)
  override def parseTableSchema(s: String) = delegate.parseTableSchema(s)
  override def parseDataType(s: String) = delegate.parseDataType(s)
}

/** `CREATE MATERIALIZED VIEW` — create-or-refresh the view AND record
  * its definition in the same commit. */
final case class CreateMatViewCommand(cat: String,
    d: MatView.ViewDef) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    MatViewSql.outCols("view", "version", "action")

  override def run(spark: SparkSession): Seq[Row] = {
    val root = MatViewSql.rootOf(spark, cat)
    MatView.refresh(spark, root, d, recordDef = true) match {
      case Some(txn) => Seq(Row(d.view, txn, "refreshed"))
      case None => Seq(Row(d.view, null, "current"))
    }
  }
}

/** `REFRESH MATERIALIZED VIEW` — bring the view current from its
  * RECORDED definition (O(changed data), [[MatView.refresh]]). */
final case class RefreshMatViewCommand(cat: String,
    view: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    MatViewSql.outCols("view", "version", "action")

  override def run(spark: SparkSession): Seq[Row] = {
    val root = MatViewSql.rootOf(spark, cat)
    val d = MatView.defOf(spark, root, view).getOrElse(
      throw new IllegalArgumentException(
        s"'$view' has no recorded definition under $root — was it " +
          "created with CREATE MATERIALIZED VIEW? (views built with " +
          "MatView.refresh restate their spec per refresh instead)"))
    MatView.refresh(spark, root, d, recordDef = true) match {
      case Some(txn) => Seq(Row(view, txn, "refreshed"))
      case None => Seq(Row(view, null, "current"))
    }
  }
}

/** `DROP MATERIALIZED VIEW` — drop the view and every companion state
  * table (aux/watermark/distinct/min-max/def) in one commit. */
final case class DropMatViewCommand(cat: String,
    view: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    MatViewSql.outCols("view", "version", "dropped")

  override def run(spark: SparkSession): Seq[Row] = {
    val root = MatViewSql.rootOf(spark, cat)
    val d = MatView.defOf(spark, root, view).getOrElse(
      throw new IllegalArgumentException(
        s"'$view' has no recorded definition under $root — " +
          "views built with MatView.refresh drop via MatView.dropAll"))
    val (txn, n) = MatView.dropAll(spark, root, d)
    Seq(Row(view, txn, n.toString))
  }
}
