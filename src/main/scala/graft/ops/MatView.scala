package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL MATERIALIZED VIEWS over the store's change feed — the
  * downstream half of the delta format: a grouped aggregate of a store
  * table (or of an equi-join of two store tables), kept current in
  * O(changed data) per refresh instead of a full recompute, the way a
  * 100 TB ingest corpus keeps its per-key dashboards alive without
  * re-scanning history every time.
  *
  * Mechanics per [[refresh]]:
  *  1. pin the live txn T once;
  *  2. read the view's WATERMARK (the source txn the view already
  *     covers) from the view's companion meta table;
  *  3. diff the source over the interval — appended rows via
  *     [[AtomicPublish.changesSince]]; when tombstones landed too, the
  *     full CDC feed [[AtomicPublish.changesWithDeletes]] adds the
  *     DELETED rows (read through the skipping layers: the interval's
  *     delete keys prune the history scan). A JOIN view diffs BOTH
  *     sides and lifts the row deltas to pair deltas with the signed
  *     join identity Δ(A⋈B) = ΔA⋈B_old + A_new⋈ΔB (the incremental
  *     view-maintenance classic): the delta pair set touches each
  *     side's full snapshot only opposite a (small) delta, never
  *     re-joins history against history;
  *  4. SIGNED MERGE (the counting algorithm of incremental
  *     view-maintenance literature): aggregate only the inserted rows
  *     (+1) and deleted rows (−1) and fold them into the current
  *     state. sum/count subtract exactly; a hidden companion table
  *     (`<view>_aux`) carries per-group row counts (`__rows`) and
  *     per-sum non-null counts (`__n_<col>`) so a group whose rows all
  *     die DISAPPEARS (not "sticks at zero") and a sum whose surviving
  *     values are all null goes back to NULL — both exactly what the
  *     recompute would produce. count_distinct carries a per-aggregate
  *     DISTINCT-VALUE state table (`<view>_dv_<as>`: group keys +
  *     value + signed multiplicity) — the distinct count is the number
  *     of values whose multiplicity stays positive, so inserts AND
  *     deletes maintain it exactly, at state cost O(live distinct
  *     values), never O(history). min/max cannot be un-merged from a
  *     scalar, so each carries a BOUNDED per-group top-N value state
  *     (`<view>_mm_<as>`: the [[MinMaxStateValues]] smallest/largest
  *     distinct values with exact multiplicities) — a delete decrements
  *     inside the kept region and the published min/max is the state's
  *     best surviving value, so delete intervals refresh incrementally;
  *     only when deletes consume a group's ENTIRE kept region while
  *     rows remain (state exhaustion, detected before commit) does the
  *     view fall back to one full recompute that rebuilds the state;
  *  5. publish the merged view, its aux + distinct-value state AND the
  *     advanced watermark in ONE replace delta with `parent = T` — the
  *     CAS rejects the commit if anything moved, so view, state and
  *     watermark can never drift apart (the torn state "view updated,
  *     watermark stale" is unrepresentable).
  *
  * The aggregate spec is restricted to functions mergeable from
  * partial states without re-reading inputs: the ALGEBRAIC four (sum,
  * count, min, max) plus count_distinct via its value state; avg is
  * `sum/count` at read time (and therefore delete-maintainable).
  * Reference analog: none (the reference recomputes summaries per
  * request, routes.py:68-78); this is the steady-state shape its
  * dashboards would need at scale.
  */
object MatView {

  /** One aggregate column: `fn` over source column `col`, emitted as
    * `as`. `fn ∈ {sum, count, min, max, count_distinct}`. */
  final case class Agg(fn: String, col: String, as: String)

  /** How many distinct values each min/max aggregate keeps per group
    * ([[ViewDef.mmTable]] state): a delete-heavy workload consumes the
    * kept values before forcing a rebuild, so larger = fewer recompute
    * fallbacks, at state cost O(groups × N). */
  val MinMaxStateValues = 16

  /** What [[Def]] and [[JoinDef]] share: the view identity, its hidden
    * state tables, and the aggregate spec. The view table, its merge
    * state and its watermark live beside the source in the same store
    * root (`<view>` + `<view>_aux` [+ `<view>_dv_<as>` per distinct
    * aggregate, `<view>_mm_<as>` per min/max aggregate] +
    * `<view>_wm`). */
  sealed trait ViewDef {
    def view: String
    def keys: Seq[String]
    def aggs: Seq[Agg]

    final def wmTable: String = s"${view}_wm"
    final def auxTable: String = s"${view}_aux"
    /** Recorded view DEFINITION (one row beside the view, written by
      * the SQL DDL face): what lets `REFRESH MATERIALIZED VIEW <name>`
      * re-derive the full spec from the name alone. */
    final def defTable: String = s"${view}_def"
    final def dvTable(a: Agg): String = s"${view}_dv_${a.as}"
    final def mmTable(a: Agg): String = s"${view}_mm_${a.as}"
    final def plainAggs: Seq[Agg] =
      aggs.filter(a => a.fn == "sum" || a.fn == "count")
    final def distinctAggs: Seq[Agg] = aggs.filter(_.fn == "count_distinct")
    final def mmAggs: Seq[Agg] =
      aggs.filter(a => a.fn == "min" || a.fn == "max")

    protected final def validate(): Unit = {
      require(aggs.nonEmpty,
        "a materialized view needs at least one aggregate")
      aggs.foreach(a => require(
        Set("sum", "count", "min", "max", "count_distinct")(a.fn),
        s"aggregate '${a.fn}' is not algebraic-mergeable " +
          "(sum/count/min/max/count_distinct)"))
      (keys ++ aggs.map(_.as)).foreach(n => require(!n.startsWith("__"),
        s"view column '$n': the '__' prefix is reserved for merge state"))
      val dup = aggs.groupBy(_.as).collect { case (n, as) if as.size > 1 => n }
      require(dup.isEmpty, s"duplicate aggregate names: ${dup.mkString(", ")}")
    }
  }

  /** Single-table view: group `src` by `keys`, aggregate per [[Agg]]. */
  final case class Def(src: String, view: String, keys: Seq[String],
      aggs: Seq[Agg]) extends ViewDef {
    validate()
  }

  /** JOIN view: group the inner equi-join `left ⋈_on right` (USING
    * semantics — `on` names shared key columns; all other column names
    * must be disjoint between the sides) by `keys`, aggregate per
    * [[Agg]]. Both sides live in the SAME store root, so one watermark
    * txn covers both consistently. */
  final case class JoinDef(left: String, right: String, on: Seq[String],
      view: String, keys: Seq[String], aggs: Seq[Agg]) extends ViewDef {
    validate()
    require(on.nonEmpty, "a join view needs at least one join column")
  }

  /** The equi-join both the recompute and every delta term use; rejects
    * ambiguous shared columns outside the join key up front (Catalyst
    * would only fail on first REFERENCE, which could hide in a later
    * refresh). */
  private def joined(a: DataFrame, b: DataFrame,
      on: Seq[String]): DataFrame = {
    val dup = (a.columns.toSet & b.columns.toSet) -- on.toSet
    require(dup.isEmpty,
      s"join view sides share non-join columns: ${dup.mkString(", ")}")
    a.join(b, on, "inner")
  }

  /** Aggregate columns for the from-scratch compute (count_distinct is
    * a real `countDistinct` here; incremental refreshes derive it from
    * the value state instead). */
  private def aggCols(aggs: Seq[Agg]): Seq[Column] = aggs.map { a =>
    val c = a.fn match {
      case "sum" => sum(col(a.col))
      case "count" => count(col(a.col))
      case "min" => min(col(a.col))
      case "max" => max(col(a.col))
      case "count_distinct" => countDistinct(col(a.col))
    }
    c.as(a.as)
  }

  /** Hidden merge state: the group's live row count, the non-null
    * input count behind every sum (a sum is NULL iff that count is 0 —
    * signed arithmetic alone would leave 0 where the recompute says
    * null), and the non-null input count behind every min/max (the
    * completeness denominator of its value state: state covers the
    * whole group iff its multiplicities sum to this). */
  private def auxCols(d: ViewDef): Seq[Column] =
    count(lit(1)).as("__rows") +:
      (d.plainAggs.filter(_.fn == "sum")
        .map(a => count(col(a.col)).as(s"__n_${a.as}")) ++
        d.mmAggs.map(a => count(col(a.col)).as(s"__nn_${a.as}")))

  private def auxNames(d: ViewDef): Seq[String] =
    "__rows" +: (d.plainAggs.filter(_.fn == "sum")
      .map(a => s"__n_${a.as}") ++ d.mmAggs.map(a => s"__nn_${a.as}"))

  /** One aggregation pass producing BOTH the public plain-agg columns
    * and the hidden merge state. */
  private def aggregateAll(d: ViewDef, rows: DataFrame): DataFrame = {
    val cs = aggCols(d.plainAggs) ++ auxCols(d)
    rows.groupBy(d.keys.map(col): _*).agg(cs.head, cs.tail: _*)
  }

  /** Distinct-value state of one count_distinct aggregate: per (group,
    * value) live multiplicity. Nulls are excluded — `count(DISTINCT c)`
    * ignores them. */
  private def dvOf(d: ViewDef, a: Agg, rows: DataFrame): DataFrame =
    rows.filter(col(a.col).isNotNull)
      .select((d.keys.map(col) :+ col(a.col).as("__v")): _*)
      .groupBy((d.keys :+ "__v").map(col): _*)
      .agg(count(lit(1)).as("__vcnt"))

  /** Signed merge of distinct-value states: current (+) ∪ inserted (+)
    * ∪ deleted (−), summed per (group, value); values whose
    * multiplicity reaches 0 vanish, so the surviving row count per
    * group IS the distinct count. */
  private def dvMerge(cur: DataFrame, plus: DataFrame,
      minus: Option[DataFrame]): DataFrame = {
    val keyCols = cur.columns.filterNot(_ == "__vcnt").toSeq
    val signed = cur.withColumn("__sign", lit(1L))
      .unionByName(plus.withColumn("__sign", lit(1L)))
      .unionByName(minus.map(_.withColumn("__sign", lit(-1L)))
        .getOrElse(plus.limit(0).withColumn("__sign", lit(1L))))
    signed.groupBy(keyCols.map(col): _*)
      .agg(sum(col("__vcnt") * col("__sign")).as("__vcnt"))
      .filter(col("__vcnt") > 0)
  }

  /** Per-(group, value) multiplicities of one min/max aggregate's
    * input — the untrimmed building block of the value state. Nulls
    * are excluded (min/max ignore them). */
  private def mmValuesOf(d: ViewDef, a: Agg, rows: DataFrame): DataFrame =
    rows.filter(col(a.col).isNotNull)
      .select((d.keys.map(col) :+ col(a.col).as("__v")): _*)
      .groupBy((d.keys :+ "__v").map(col): _*)
      .agg(count(lit(1)).as("__vcnt"))

  /** Trim a value state to the [[MinMaxStateValues]] best values per
    * group: smallest for min, largest for max. The trimmed state is
    * EXACT within its kept region (every copy of a kept value is
    * counted) and silent beyond it. */
  private def mmTrim(d: ViewDef, a: Agg, state: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = if (a.fn == "min") col("__v").asc else col("__v").desc
    val w = Window.partitionBy(d.keys.map(col): _*).orderBy(ord)
    state.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= MinMaxStateValues).drop("__rk")
  }

  /** Signed merge of one min/max value state over a refresh interval.
    *
    * Region invariant: the state is exact for values INSIDE its kept
    * region (≤ its worst kept value for min, ≥ for max) and knows
    * nothing beyond; a group whose multiplicities sum to its non-null
    * input count (`__nn_<as>` BEFORE the interval) is COMPLETE — its
    * region is everything. Inserts and deletes inside the region merge
    * exactly; outside it they are DROPPED (an outside value can never
    * become the min/max while the region still holds survivors, and
    * admitting it would fabricate an exact count the state cannot
    * know). The merged state re-trims, which only ever shrinks the
    * region — monotonically safe. Exhaustion (deletes consumed a
    * group's whole region while rows remain) is the caller's check
    * ([[mmExhausted]]) and forces the recompute rebuild. */
  private def mmMerge(d: ViewDef, a: Agg, cur: DataFrame,
      auxBefore: DataFrame, plus: DataFrame,
      minus: Option[DataFrame]): DataFrame = {
    // per-group region: worst kept value + completeness
    val asc = a.fn == "min"
    val horizon = cur.groupBy(d.keys.map(col): _*).agg(
      (if (asc) max(col("__v")) else min(col("__v"))).as("__hz"),
      sum(col("__vcnt")).as("__kept"))
    val nn = auxBefore.select((d.keys.map(col) :+
      col(s"__nn_${a.as}").as("__nn")): _*)
    val region = {
      val rn = d.keys.zipWithIndex.foldLeft(nn) { case (f, (k, i)) =>
        f.withColumnRenamed(k, s"__rk$i")
      }
      val cond = d.keys.zipWithIndex.map { case (k, i) =>
        horizon(k) <=> rn(s"__rk$i")
      }.reduceOption(_ && _).getOrElse(lit(true))
      horizon.join(rn, cond, "left")
        .select((d.keys.map(horizon(_)) :+ col("__hz") :+
          (col("__kept") === coalesce(col("__nn"), lit(0L)))
            .as("__complete")): _*)
    }
    def inRegion(values: DataFrame): DataFrame = {
      val rn = d.keys.zipWithIndex.foldLeft(region) { case (f, (k, i)) =>
        f.withColumnRenamed(k, s"__gk$i")
      }
      val cond = d.keys.zipWithIndex.map { case (k, i) =>
        values(k) <=> rn(s"__gk$i")
      }.reduceOption(_ && _).getOrElse(lit(true))
      // no region row (null __complete) = group new since the last
      // rebuild = nothing unseen = accept everything
      values.join(rn, cond, "left")
        .filter(col("__complete").isNull || col("__complete") ||
          (if (asc) col("__v") <= col("__hz")
           else col("__v") >= col("__hz")))
        .select(values.columns.map(values(_)).toIndexedSeq: _*)
    }
    val plusIn = inRegion(plus)
    val minusIn = minus.map(inRegion)
    val keyCols = d.keys :+ "__v"
    val signed = cur.withColumn("__sign", lit(1L))
      .unionByName(plusIn.withColumn("__sign", lit(1L)))
      .unionByName(minusIn.map(_.withColumn("__sign", lit(-1L)))
        .getOrElse(plusIn.limit(0).withColumn("__sign", lit(1L))))
    mmTrim(d, a, signed.groupBy(keyCols.map(col): _*)
      .agg(sum(col("__vcnt") * col("__sign")).as("__vcnt"))
      .filter(col("__vcnt") > 0))
  }

  /** True iff some group's min/max state died while rows remain: its
    * post-merge non-null count is positive but the merged state kept no
    * value — the one case the bounded state cannot answer and the
    * refresh must rebuild from the snapshot. */
  private def mmExhausted(d: ViewDef, a: Agg, auxAfter: DataFrame,
      stateAfter: DataFrame): Boolean = {
    val alive = auxAfter.filter(col(s"__nn_${a.as}") > 0)
      .select(d.keys.map(col): _*)
    val groups = stateAfter.select(d.keys.map(col): _*).distinct()
    val rn = d.keys.zipWithIndex.foldLeft(groups) { case (f, (k, i)) =>
      f.withColumnRenamed(k, s"__gk$i")
    }
    if (d.keys.isEmpty)
      alive.limit(1).count() > 0 && groups.limit(1).count() == 0
    else {
      val cond = d.keys.zipWithIndex.map { case (k, i) =>
        alive(k) <=> rn(s"__gk$i")
      }.reduce(_ && _)
      alive.join(rn, cond, "left_anti").limit(1).count() > 0
    }
  }

  /** The SIGNED MERGE: current state (+), inserted-rows aggregate (+),
    * deleted-rows aggregate (−), folded per group in ONE merge
    * aggregation (union with a sign column — no joins, null group keys
    * merge exactly like the recompute's groupBy). Groups whose signed
    * row count reaches 0 vanish; sums whose signed non-null count
    * reaches 0 become null. min/max never pass through here — they are
    * assembled from their value state ([[mmMerge]]). */
  private def signedMerge(d: ViewDef, cur: DataFrame, plus: DataFrame,
      minus: Option[DataFrame]): DataFrame = {
    val signed = cur.withColumn("__sign", lit(1L))
      .unionByName(plus.withColumn("__sign", lit(1L)))
      .unionByName(minus.map(_.withColumn("__sign", lit(-1L)))
        .getOrElse(plus.limit(0).withColumn("__sign", lit(1L))))
    val mergeCols: Seq[Column] = d.plainAggs.map(a =>
      sum(col(a.as) * col("__sign")).as(a.as)) ++
      auxNames(d).map(n => sum(col(n) * col("__sign")).as(n))
    // a KEYLESS (global) view keeps its one row at __rows = 0 — the
    // recompute's global aggregate over an empty source still returns
    // one row (count 0, sums null); only keyed groups vanish on death
    val merged0 = signed.groupBy(d.keys.map(col): _*)
      .agg(mergeCols.head, mergeCols.tail: _*)
    val merged =
      if (d.keys.isEmpty) merged0 else merged0.filter(col("__rows") > 0)
    // null-fix the sums, restore the declared column types (sum-based
    // merging widens int counts legally — counts are long already —
    // but a sum over ints re-sums as long: cast back via the plus
    // frame's schema, which carries the canonical aggregate types)
    val canon = plus.schema
    val projected = (d.keys ++ d.plainAggs.map(_.as) ++ auxNames(d)).map { n =>
      val c = d.plainAggs.find(x => x.as == n && x.fn == "sum") match {
        case Some(_) =>
          when(col(s"__n_$n") === 0, lit(null)).otherwise(col(n))
        case None => col(n)
      }
      (if (canon.fieldNames.contains(n)) c.cast(canon(n).dataType) else c)
        .as(n)
    }
    merged.select(projected: _*)
  }

  /** The published view frame: the merged state's plain aggregates,
    * one distinct count per value-state table (null-safe left join on
    * the group keys — a group whose distinct column is all-null has no
    * value rows but must still show 0, like the recompute's
    * `countDistinct`), and one best-survivor value per min/max state
    * (absent state = all-null inputs = NULL, like the recompute). */
  private def assembleView(d: ViewDef, state: DataFrame,
      dvs: Map[String, DataFrame],
      mms: Map[String, DataFrame]): DataFrame = {
    def joinOn(acc: DataFrame, extra: DataFrame,
        fix: DataFrame => DataFrame): DataFrame = {
      val renamed = d.keys.zipWithIndex.foldLeft(extra) { case (f, (k, i)) =>
        f.withColumnRenamed(k, s"__jk$i")
      }
      val cond = d.keys.zipWithIndex.map { case (k, i) =>
        acc(k) <=> renamed(s"__jk$i")
      }.reduceOption(_ && _).getOrElse(lit(true)) // keyless = global agg
      val dropped = d.keys.indices.map(i => s"__jk$i")
      fix(acc.join(renamed, cond, "left").drop(dropped: _*))
    }
    val withDistinct = d.distinctAggs.foldLeft(state) { (acc, a) =>
      joinOn(acc,
        dvs(d.dvTable(a))
          .groupBy(d.keys.map(col): _*).agg(count(lit(1)).as(a.as)),
        _.withColumn(a.as, coalesce(col(a.as), lit(0L))))
    }
    val withMm = d.mmAggs.foldLeft(withDistinct) { (acc, a) =>
      joinOn(acc,
        mms(d.mmTable(a)).groupBy(d.keys.map(col): _*)
          .agg((if (a.fn == "min") min(col("__v"))
                else max(col("__v"))).as(a.as)),
        identity)
    }
    withMm.select((d.keys ++ d.aggs.map(_.as)).map(col): _*)
  }

  /** The view's covered source txn at `atTxn` (None = view not yet
    * initialized). */
  def watermark(spark: SparkSession, root: String, d: ViewDef,
      atTxn: Option[String] = None): Option[String] = {
    val txn = atTxn.orElse(AtomicPublish.currentTxn(spark, root))
      .getOrElse(return None)
    val manifest = AtomicPublish.manifestOf(spark, root, txn)
    if (!manifest.contains(d.wmTable)) None
    else Some(AtomicPublish.readTableAt(spark, root, d.wmTable, txn)
      .select("covered_txn").head().getString(0))
  }

  /** What the interval holds for one source table: its data owners and
    * tombstone owners at a txn. */
  private def srcOwners(spark: SparkSession, root: String, table: String,
      txn: String): (Option[Seq[String]], Option[Seq[String]]) = {
    val m = AtomicPublish.manifestOf(spark, root, txn)
    (m.get(table), m.get(AtomicPublish.deleteTableOf(table)))
  }

  /** The interval's shape for one refresh, computed per source spec. */
  private sealed trait Delta
  private case object Unchanged extends Delta
  private case object Recompute extends Delta
  private final case class Incremental(plus: DataFrame,
      minus: Option[DataFrame]) extends Delta

  /** Row delta of ONE table over the interval, as (plus, minus):
    * Unchanged when neither data nor tombstones moved; Recompute when
    * the table was replaced, or deletes landed that the view cannot
    * un-merge. */
  private def tableDelta(spark: SparkSession, root: String, d: ViewDef,
      table: String, covered: String, pinned: String): Delta = {
    val before = srcOwners(spark, root, table, covered)
    val after = srcOwners(spark, root, table, pinned)
    if (before == after) Unchanged
    else if (before._2 != after._2) {
      // tombstones landed in the interval: every aggregate family is
      // delete-incremental (sum/count by signed merge, count_distinct
      // by value state, min/max by bounded top-N state — the latter
      // may still force a recompute via the exhaustion check)
      AtomicPublish.changesWithDeletes(spark, root, table, covered,
        Some(pinned)) match {
        case Some((ins, del)) => Incremental(ins, Some(del))
        case None => Recompute
      }
    } else AtomicPublish.changesSince(spark, root, table, covered,
      Some(pinned)) match {
      case Some(delta) => Incremental(delta, None)
      case None => Recompute // replaced (compaction / maintenance)
    }
  }

  /** The PAIR delta of a join view, from both sides' row deltas, via
    * the signed identity Δ(A⋈B) = ΔA⋈B_old + A_new⋈ΔB: with
    * ΔA = insA − delA this expands to
    * plus = insA⋈B_old ∪ A_new⋈insB, minus = delA⋈B_old ∪ A_new⋈delB
    * (terms like insA⋈delB cancel between the two sides exactly).
    * History never joins history: every term pairs a snapshot with a
    * delta. */
  private def joinDelta(spark: SparkSession, root: String, j: JoinDef,
      covered: String, pinned: String): Delta = {
    val l = tableDelta(spark, root, j, j.left, covered, pinned)
    val r = tableDelta(spark, root, j, j.right, covered, pinned)
    (l, r) match {
      case (Unchanged, Unchanged) => Unchanged
      case (Recompute, _) | (_, Recompute) => Recompute
      case _ =>
        def half(dl: Delta): (Option[DataFrame], Option[DataFrame]) =
          dl match {
            case Incremental(p, m) => (Some(p), m)
            case _ => (None, None)
          }
        val (insL, delL) = half(l)
        val (insR, delR) = half(r)
        lazy val bOld = AtomicPublish.readTableAt(spark, root, j.right,
          covered)
        lazy val aNew = AtomicPublish.readTableAt(spark, root, j.left,
          pinned)
        def merge(ts: Seq[DataFrame]): Option[DataFrame] =
          ts.reduceOption(_ unionByName _)
        val plus = merge(
          insL.map(p => joined(p, bOld, j.on)).toSeq ++
            insR.map(p => joined(aNew, p, j.on)).toSeq)
        val minus = merge(
          delL.map(m => joined(m, bOld, j.on)).toSeq ++
            delR.map(m => joined(aNew, m, j.on)).toSeq)
        plus match {
          case Some(p) => Incremental(p, minus)
          case None => minus match {
            // possible only when both sides were delete-only intervals
            case Some(m) => Incremental(m.limit(0), Some(m))
            case None => Unchanged
          }
        }
    }
  }

  /** Bring the view current with the live source(s). Returns the txn of
    * the refresh commit, or None when the view is already current
    * (nothing published — repeated refreshes of a quiet store are
    * free). Retries the CAS a bounded number of times against
    * concurrent publishers. */
  def refresh(spark: SparkSession, root: String, d: ViewDef,
      recordDef: Boolean = false): Option[String] = {
    import spark.implicits._
    AtomicPublish.retryLostRace(s"matview '${d.view}'") {
      val pinned = AtomicPublish.currentTxn(spark, root).getOrElse(
        throw new IllegalStateException(s"no published version under $root"))
      val wm = watermark(spark, root, d, Some(pinned))
      val manifest = AtomicPublish.manifestOf(spark, root, pinned)
      def snapshot: DataFrame = d match {
        case s: Def => AtomicPublish.readTableAt(spark, root, s.src, pinned)
        case j: JoinDef => joined(
          AtomicPublish.readTableAt(spark, root, j.left, pinned),
          AtomicPublish.readTableAt(spark, root, j.right, pinned), j.on)
      }
      // pre-aux views (and replaced sources) lack mergeable state: one
      // full recompute rebuilds it, every later refresh is incremental.
      // A view published before its distinct-value or min/max state
      // tables existed rebuilds the same way.
      def stateTables
          : Option[(DataFrame, Map[String, DataFrame], Map[String, DataFrame])] =
        if (!manifest.contains(d.auxTable) ||
          d.distinctAggs.exists(a => !manifest.contains(d.dvTable(a))) ||
          d.mmAggs.exists(a => !manifest.contains(d.mmTable(a)))) None
        else Some((
          AtomicPublish.readTableAt(spark, root, d.auxTable, pinned),
          d.distinctAggs.map(a => d.dvTable(a) ->
            AtomicPublish.readTableAt(spark, root, d.dvTable(a), pinned))
            .toMap,
          d.mmAggs.map(a => d.mmTable(a) ->
            AtomicPublish.readTableAt(spark, root, d.mmTable(a), pinned))
            .toMap))
      val delta: Delta = wm match {
        case Some(covered) if covered == pinned => Unchanged
        case Some(covered) => d match {
          case s: Def => tableDelta(spark, root, d, s.src, covered, pinned)
          case j: JoinDef => joinDelta(spark, root, j, covered, pinned)
        }
        case None => Recompute
      }
      def recomputeAll
          : (DataFrame, Map[String, DataFrame], Map[String, DataFrame]) = {
        val rows = snapshot
        (aggregateAll(d, rows),
          d.distinctAggs.map(a => d.dvTable(a) -> dvOf(d, a, rows)).toMap,
          d.mmAggs.map(a =>
            d.mmTable(a) -> mmTrim(d, a, mmValuesOf(d, a, rows))).toMap)
      }
      val next: Option[(DataFrame, Map[String, DataFrame], Map[String, DataFrame])] =
        delta match {
          case Unchanged => None
          case Recompute => Some(recomputeAll)
          case Incremental(plus, minus) => stateTables match {
            case Some((aux, dvs, mmsCur)) =>
              val auxAfter =
                signedMerge(d, aux, aggregateAll(d, plus),
                  minus.map(aggregateAll(d, _))).cache()
              try {
                val mmsAfter = d.mmAggs.map { a =>
                  d.mmTable(a) -> mmMerge(d, a, mmsCur(d.mmTable(a)), aux,
                    mmValuesOf(d, a, plus),
                    minus.map(mmValuesOf(d, a, _))).cache()
                }.toMap
                // a min/max state consumed whole while rows remain
                // cannot answer — rebuild everything from the snapshot
                val exhausted = minus.isDefined && d.mmAggs.exists(a =>
                  mmExhausted(d, a, auxAfter, mmsAfter(d.mmTable(a))))
                val out =
                  if (exhausted) { // state rebuild — one full recompute
                    mmsAfter.values.foreach(_.unpersist())
                    recomputeAll
                  } else (auxAfter,
                    d.distinctAggs.map { a =>
                      d.dvTable(a) -> dvMerge(dvs(d.dvTable(a)),
                        dvOf(d, a, plus), minus.map(dvOf(d, a, _)))
                    }.toMap,
                    mmsAfter)
                Some(out)
              } finally { auxAfter.unpersist(); () }
            case None => Some(recomputeAll)
          }
        }
      next match {
        case None => Some(None) // already current: nothing to publish
        case Some((state0, dvs0, mms0)) =>
          // one computation feeds every published frame
          val state = state0.cache()
          val dvs = dvs0.map { case (t, f) => t -> f.cache() }
          val mms = mms0.map { case (t, f) => t -> f.cache() }
          try {
            AtomicPublish.publishDelta(spark, root, append = Map.empty,
              replace = Map(
                d.view -> assembleView(d, state, dvs, mms),
                d.auxTable -> state,
                d.wmTable -> Seq(pinned).toDF("covered_txn")) ++ dvs ++
                mms ++
                // the DDL face records the definition ATOMICALLY with
                // the view it defines (a def without a view, or a view
                // whose recorded def drifted, is unrepresentable)
                (if (recordDef) Map(d.defTable -> defFrame(spark, d))
                 else Map.empty),
              parent = Some(pinned)).map(Some(_))
          } finally {
            state.unpersist()
            dvs.values.foreach(_.unpersist())
            mms.values.foreach(_.unpersist())
          }
      }
    }
  }

  /** The recorded definition as a one-row frame ([[ViewDef.defTable]]):
    * plain strings so a SQL user can read their own catalog back. */
  private def defFrame(spark: SparkSession, d: ViewDef): DataFrame = {
    import spark.implicits._
    val (kind, src, right, on) = d match {
      case s: Def => ("table", s.src, "", "")
      case j: JoinDef => ("join", j.left, j.right, j.on.mkString(","))
    }
    Seq((kind, src, right, on, d.keys.mkString(","),
      d.aggs.map(a => s"${a.fn}:${a.col}:${a.as}").mkString(",")))
      .toDF("kind", "src", "join_right", "join_on", "group_by", "aggs")
  }

  /** Re-derive a view's [[ViewDef]] from its recorded definition at
    * the CURRENT version — None when the view has no recorded def
    * (created through the procedure face, which restates the spec per
    * call, or not a materialized view at all). */
  def defOf(spark: SparkSession, root: String,
      view: String): Option[ViewDef] = {
    val d0 = Def("ignored_src", view, Nil,
      Seq(Agg("count", "ignored", "ignored")))
    val present = AtomicPublish.currentManifestMeta(spark, root)
      .exists(_._2.contains(d0.defTable))
    if (!present) return None
    val r = AtomicPublish.readTable(spark, root, d0.defTable).head()
    def list(s: String): Seq[String] =
      s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val aggs = list(r.getAs[String]("aggs")).map(_.split(":") match {
      case Array(fn, c, as) => Agg(fn, c, as)
      case bad => throw new IllegalStateException(
        s"corrupt recorded aggs entry '${bad.mkString(":")}' for '$view'")
    })
    val keys = list(r.getAs[String]("group_by"))
    r.getAs[String]("kind") match {
      case "table" => Some(Def(r.getAs[String]("src"), view, keys, aggs))
      case "join" => Some(JoinDef(r.getAs[String]("src"),
        r.getAs[String]("join_right"), list(r.getAs[String]("join_on")),
        view, keys, aggs))
      case k => throw new IllegalStateException(
        s"corrupt recorded view kind '$k' for '$view'")
    }
  }

  /** Drop a view AND every companion state table (aux, watermark,
    * per-aggregate distinct/min-max states, recorded def when present)
    * in one metadata commit; returns (commit txn, tables dropped). */
  def dropAll(spark: SparkSession, root: String,
      d: ViewDef): (String, Int) = {
    val candidates = Seq(d.view, d.wmTable, d.auxTable, d.defTable) ++
      d.distinctAggs.map(d.dvTable) ++ d.mmAggs.map(d.mmTable)
    AtomicPublish.retryLostRace(s"drop of matview '${d.view}'") {
      val parent = AtomicPublish.currentTxn(spark, root).getOrElse(
        throw new IllegalStateException(
          s"no published version under $root"))
      val present = AtomicPublish.manifestMetaOf(spark, root, parent).keySet
      val toDrop = candidates.filter(present.contains)
      require(toDrop.contains(d.view),
        s"view '${d.view}' is not published under $root")
      AtomicPublish.publishDelta(spark, root, append = Map.empty,
        drop = toDrop, parent = Some(parent)).map(_ -> toDrop.size)
    }
  }

  /** The reference answer: the same aggregate computed from scratch
    * over the source(s) at `txn` — what every refresh path must
    * equal. */
  def recomputed(spark: SparkSession, root: String, d: ViewDef,
      txn: String): DataFrame = {
    val rows = d match {
      case s: Def => AtomicPublish.readTableAt(spark, root, s.src, txn)
      case j: JoinDef => joined(
        AtomicPublish.readTableAt(spark, root, j.left, txn),
        AtomicPublish.readTableAt(spark, root, j.right, txn), j.on)
    }
    val cs = aggCols(d.aggs)
    rows.groupBy(d.keys.map(col): _*).agg(cs.head, cs.tail: _*)
  }
}
