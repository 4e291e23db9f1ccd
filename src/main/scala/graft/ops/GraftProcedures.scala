package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL stored procedures for store MAINTENANCE — the `CALL` face of the
  * operations a lakehouse operator runs on a schedule: compaction
  * (with optional re-clustering), retention vacuum, commit history and
  * the streaming-consumer registry. Spark 4's `ProcedureCatalog` +
  * `CALL <cat>.system.<proc>(...)` machinery (SPARK-44167) invokes
  * these during analysis and surfaces each one's summary row as the
  * statement's result set — so a SQL-only session can not only create,
  * load and mutate tables ([[GraftCatalog]]) but also MAINTAIN the
  * store without ever touching the Scala API. This is the Iceberg
  * `CALL cat.system.rewrite_data_files(...)` shape re-expressed over
  * the graft manifest; each procedure delegates to the SAME code path
  * its API twin uses ([[Compaction.compactStore]],
  * [[AtomicPublish.vacuum]], …), so `CALL` is a face, not a fork.
  *
  * (Reference analog: the reference leaves maintenance to Postgres —
  * autovacuum, REINDEX; an explicit SQL face is the engine-side
  * equivalent for a manifest-owned store.)
  *
  * All procedures are non-deterministic (they observe or mutate store
  * state) and return exactly one [[LocalScan]]: the Spark 4.1 invoke
  * path materializes it as the CALL statement's local result relation.
  */
private[ops] object GraftProcedures {

  val names: Seq[String] =
    Seq("add_check", "analyze", "clone", "compact", "consumers", "detail",
      "drop_check", "drop_matview", "history", "matview", "restore",
      "set_partition_spec", "trim_cdf", "vacuum")

  def load(root: String, name: String): Option[UnboundProcedure] =
    name match {
      case "compact" => Some(new CompactProc(root))
      case "vacuum" => Some(new VacuumProc(root))
      case "history" => Some(new HistoryProc(root))
      case "consumers" => Some(new ConsumersProc(root))
      case "restore" => Some(new RestoreProc(root))
      case "add_check" => Some(new SetCheckProc(root, add = true))
      case "drop_check" => Some(new SetCheckProc(root, add = false))
      case "detail" => Some(new DetailProc(root))
      case "clone" => Some(new CloneProc(root))
      case "matview" => Some(new MatViewProc(root))
      case "drop_matview" => Some(new DropMatViewProc(root))
      case "set_partition_spec" => Some(new SetPartitionSpecProc(root))
      case "analyze" => Some(new AnalyzeProc(root))
      case "trim_cdf" => Some(new TrimCdfProc(root))
      case _ => None
    }

  // --- shared plumbing -------------------------------------------------------

  private def spark = SparkSession.active

  /** One-or-many-row local result: what `CALL` renders. */
  private final class ResultScan(out: StructType,
      data: Array[InternalRow]) extends LocalScan {
    override def rows(): Array[InternalRow] = data
    override def readSchema(): StructType = out
    override def description(): String = "graft procedure result"
  }

  private def result(out: StructType,
      data: Array[InternalRow]): java.util.Iterator[Scan] =
    java.util.Collections
      .singletonList[Scan](new ResultScan(out, data)).iterator()

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  private abstract class GraftProc(procName: String)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
  }

  private def param(name: String,
      dt: org.apache.spark.sql.types.DataType,
      default: String = null): ProcedureParameter = {
    val b = ProcedureParameter.in(name, dt)
    if (default != null) b.defaultValue(default)
    b.build()
  }

  // --- compact ---------------------------------------------------------------

  /** `CALL <cat>.system.compact(table => 't' [, target_file_mb => 128]
    * [, cluster_by => 'a,b'] [, z_order => true] [, minor => true])` —
    * consolidate one table's owner chain (and physically apply its
    * tombstones) through [[Compaction.compactStore]]; an explicit
    * `cluster_by` re-clusters and RECORDS the layout, a bare call
    * re-applies the recorded one. `minor => true` runs the O(tail)
    * minor compaction instead ([[Compaction.compactTail]]: merge the
    * small trailing segments, carry the consolidated head by
    * reference) — a no-op result row (partitions = 0) when there is no
    * mergeable tail. `where => '<predicate>'` runs the PREDICATE-SCOPED
    * rewrite instead ([[Compaction.compactWhere]]: only segments whose
    * zone maps admit the predicate are rewritten, the rest carry by
    * reference — `OPTIMIZE WHERE` for one hot partition). Returns the
    * committed version and the owner counts either side. */
  private final class CompactProc(root: String) extends GraftProc("compact") {

    override def description(): String =
      "consolidate a table's segments (applying tombstones); " +
        "optionally (re)cluster and record the layout"

    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("target_file_mb", IntegerType, "128"),
      param("cluster_by", StringType, "''"),
      param("z_order", BooleanType, "false"),
      param("minor", BooleanType, "false"),
      param("where", StringType, "''"))

    private val out = new StructType()
      .add("version", StringType, nullable = false)
      .add("partitions", IntegerType, nullable = false)
      .add("owners_before", IntegerType, nullable = false)
      .add("owners_after", IntegerType, nullable = false)

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val targetMb = if (input.isNullAt(1)) 128 else input.getInt(1)
      require(targetMb > 0, s"target_file_mb must be positive, got $targetMb")
      val clusterBy =
        if (input.isNullAt(2)) Nil
        else input.getUTF8String(2).toString.split(",").toSeq
          .map(_.trim).filter(_.nonEmpty)
      val zOrder = !input.isNullAt(3) && input.getBoolean(3)
      val minor = !input.isNullAt(4) && input.getBoolean(4)
      val whereScope =
        if (input.isNullAt(5)) "" else input.getUTF8String(5).toString.trim
      require(!minor || (clusterBy.isEmpty && !zOrder),
        "minor compaction merges the small tail only — clustering " +
          "needs the full rewrite")
      require(whereScope.isEmpty || (!minor && clusterBy.isEmpty && !zOrder),
        "where-scoped compaction rewrites the admitting segments under " +
          "the RECORDED layout — combine it with neither minor nor a " +
          "clustering re-declaration")
      val before = AtomicPublish.currentTxn(spark, root)
        .flatMap(AtomicPublish.manifestMetaOf(spark, root, _).get(table))
        .map(_.owners.size).getOrElse(
          throw new IllegalArgumentException(
            s"table '$table' is not published under $root"))
      val (txn, parts) =
        if (whereScope.nonEmpty)
          Compaction.compactWhere(spark, root, table, whereScope,
            targetBytes = targetMb.toLong * 1024 * 1024).getOrElse(
            (AtomicPublish.currentTxn(spark, root).get, 0))
        else if (minor)
          Compaction.compactTail(spark, root, table,
            targetBytes = targetMb.toLong * 1024 * 1024).getOrElse(
            (AtomicPublish.currentTxn(spark, root).get, 0))
        else Compaction.compactStore(spark, root, table,
          targetBytes = targetMb.toLong * 1024 * 1024,
          clusterBy = clusterBy, zOrder = zOrder)
      val after = AtomicPublish.manifestMetaOf(spark, root, txn)
        .get(table).map(_.owners.size).getOrElse(0)
      result(out, Array(new GenericInternalRow(
        Array[Any](utf8(txn), parts, before, after))))
    }
  }

  // --- restore ---------------------------------------------------------------

  /** `CALL <cat>.system.restore(table => 't', version => '<txn>')` —
    * roll one table back to a committed version as a NEW commit
    * ([[AtomicPublish.restoreTable]]: O(1) metadata, history stays
    * time-travelable, resurrects a dropped table, refuses if the
    * target's segments left retention). `CALL history` lists the
    * version ids this accepts. Returns the new commit, what it
    * restored from, and the restored owner-chain length. */
  private final class RestoreProc(root: String) extends GraftProc("restore") {

    override def description(): String =
      "roll a table back to a committed version (metadata-only, " +
        "history-preserving); stage_cdf => true also stages the row " +
        "diff so live change feeds stream through the rollback"

    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("version", StringType),
      param("stage_cdf", BooleanType, "false"))

    private val out = new StructType()
      .add("version", StringType, nullable = false)
      .add("restored_from", StringType, nullable = false)
      .add("owners", IntegerType, nullable = false)

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val toTxn = input.getUTF8String(1).toString
      val stageCdf = !input.isNullAt(2) && input.getBoolean(2)
      val txn = AtomicPublish.restoreTable(spark, root, table, toTxn,
          stageCdf = stageCdf)
        .getOrElse(throw new IllegalStateException(
          s"restore of '$table' to $toTxn lost its commit race — " +
            "a concurrent writer moved the store; retry the CALL"))
      val owners = AtomicPublish.manifestMetaOf(spark, root, txn)
        .get(table).map(_.owners.size).getOrElse(0)
      result(out, Array(new GenericInternalRow(
        Array[Any](utf8(txn), utf8(toTxn), owners))))
    }
  }

  // --- set_partition_spec ----------------------------------------------------

  /** `CALL <cat>.system.set_partition_spec(table => 't',
    * spec => 'months(ts)')` — PARTITION-SPEC EVOLUTION
    * ([[AtomicPublish.setPartitionSpec]]): one O(1) metadata commit
    * re-declares the table's calendar-transform layout; existing
    * owners keep (and keep pruning under) the spec they were written
    * with, new appends lay out under the new one, the next compaction
    * normalizes. `spec` is the comma-joined entry list — identity
    * entries must match the current spec's (transforms only may
    * evolve). Returns the committed version, the old and new specs,
    * and how many owners still carry an older layout. */
  private final class SetPartitionSpecProc(root: String)
    extends GraftProc("set_partition_spec") {

    override def description(): String =
      "evolve a table's calendar-transform partition spec " +
        "(O(1), metadata-only; per-owner layouts keep pruning)"

    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("spec", StringType))

    private val out = new StructType()
      .add("version", StringType, nullable = false)
      .add("old_spec", StringType, nullable = false)
      .add("new_spec", StringType, nullable = false)
      .add("evolved_owners", IntegerType, nullable = false)

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val spec = input.getUTF8String(1).toString
        .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      val parent = AtomicPublish.currentTxn(spark, root).getOrElse(
        throw new IllegalStateException(
          s"no published version under $root"))
      val oldSpec = AtomicPublish.manifestMetaOf(spark, root, parent)
        .get(table).map(_.partitionCols).getOrElse(Nil)
      val txn = AtomicPublish.setPartitionSpec(spark, root, table, spec,
        Some(parent)).getOrElse(throw new IllegalStateException(
          s"set_partition_spec('$table') lost its commit race — a " +
            "concurrent writer moved the store; retry the CALL"))
      val evolved = AtomicPublish.manifestMetaOf(spark, root, txn)
        .get(table).map(_.ownerParts.size).getOrElse(0)
      result(out, Array(new GenericInternalRow(Array[Any](
        utf8(txn), utf8(oldSpec.mkString(",")),
        utf8(spec.mkString(",")), evolved))))
    }
  }

  /** `CALL system.trim_cdf(table => 't', keep_last => n)` — drop all
    * but the newest `n` staged change sets from a table's CDF
    * companion in one metadata-only commit
    * ([[AtomicPublish.trimCdf]]): the log-retention half of
    * commit-time CDF — trimmed change segments then age out with
    * their versions under the ordinary vacuum contract. Returns the
    * committed version (or the current one on a no-op) and the owner
    * counts before/after. */
  private final class TrimCdfProc(root: String)
    extends GraftProc("trim_cdf") {

    override def description(): String =
      "trim a table's staged change sets (commit-time CDF) to the " +
        "newest keep_last, metadata-only"

    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("keep_last", IntegerType))

    private val out = new StructType()
      .add("version", StringType, nullable = false)
      .add("owners_before", IntegerType, nullable = false)
      .add("owners_after", IntegerType, nullable = false)

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val keepLast = input.getInt(1)
      val parent = AtomicPublish.currentTxn(spark, root).getOrElse(
        throw new IllegalStateException(
          s"no published version under $root"))
      def ownersAt(at: String): Int =
        AtomicPublish.manifestMetaOf(spark, root, at)
          .get(AtomicPublish.cdfTableOf(table)).map(_.owners.size)
          .getOrElse(0)
      val before = ownersAt(parent)
      val txn = AtomicPublish.trimCdf(spark, root, table, keepLast,
        Some(parent)) match {
        case Some(t) => t
        case None if before <= keepLast => parent // already within budget
        case None => throw new IllegalStateException(
          s"trim_cdf('$table') lost its commit race — retry the CALL")
      }
      result(out, Array(new GenericInternalRow(Array[Any](
        utf8(txn), before, ownersAt(txn)))))
    }
  }

  /** `CALL system.analyze(table => 't' [, for_columns => 'a,b'])` —
    * restate a table's column statistics over its live
    * (tombstone-applied) rows without rewriting data: the
    * planner-maintenance face of [[AtomicPublish.analyzeTable]].
    * `for_columns` declares stat columns AT ANALYZE TIME (the
    * `ANALYZE … FOR COLUMNS` shape, r14): they join the recorded
    * statsBy in the same metadata commit, so a stats-blind table can
    * acquire planner statistics after the fact. Returns the committed
    * version and the recorded row count before and after (their gap
    * IS the merge-on-read debt the planner had been over-estimating
    * by). */
  private final class AnalyzeProc(root: String)
    extends GraftProc("analyze") {

    override def description(): String =
      "restate column statistics over live rows (one table scan, " +
        "metadata-only commit, no data rewrite); for_columns declares " +
        "stat columns post-hoc"

    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("for_columns", StringType, "''"))

    private val out = new StructType()
      .add("version", StringType, nullable = false)
      .add("rows_before", LongType, nullable = false)
      .add("rows_after", LongType, nullable = false)

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val forCols =
        if (input.isNullAt(1)) Nil
        else input.getUTF8String(1).toString.split(",").toSeq
          .map(_.trim).filter(_.nonEmpty)
      val parent = AtomicPublish.currentTxn(spark, root).getOrElse(
        throw new IllegalStateException(
          s"no published version under $root"))
      def rowsOf(at: String): Long = {
        val m = AtomicPublish.manifestMetaOf(spark, root, at)
          .getOrElse(table, throw new IllegalArgumentException(
            s"table '$table' is not in version $at under $root"))
        m.owners.flatMap(m.segStats.get).map(_.rows).sum
      }
      val before = rowsOf(parent)
      val txn = AtomicPublish.analyzeTable(spark, root, table,
        Some(parent), forColumns = forCols)
        .getOrElse(throw new IllegalStateException(
          s"analyze('$table') lost its commit race — a concurrent " +
            "writer moved the store; retry the CALL"))
      result(out, Array(new GenericInternalRow(Array[Any](
        utf8(txn), before, rowsOf(txn)))))
    }
  }

  // --- matview / drop_matview ------------------------------------------------

  /** `'fn:col:as[,fn:col:as…]'` → [[MatView.Agg]]s. */
  private def parseAggs(s: String): Seq[MatView.Agg] =
    s.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { a =>
      a.split(":") match {
        case Array(fn, c, as) => MatView.Agg(fn.trim, c.trim, as.trim)
        case _ => throw new IllegalArgumentException(
          s"aggs entries must be 'fn:col:as', got '$a'")
      }
    }

  private def colList(s: String): Seq[String] =
    s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)

  /** `CALL <cat>.system.matview(view => 'mv', source => 't',
    * aggs => 'count:id:n,sum:v:total' [, group_by => 'k1,k2']
    * [, join_right => 'u', join_on => 'id'])` — create-or-refresh an
    * INCREMENTALLY MAINTAINED aggregate view ([[MatView.refresh]]):
    * the first call computes and publishes the view (plus its
    * mergeable aux state); later calls apply only the commit interval
    * (append deltas, signed-merge deletes, bounded min/max value
    * state), falling back to a recompute exactly where incrementality
    * is impossible. With `join_right`/`join_on` the view aggregates
    * the inner equi-join source⋈right (Δ(A⋈B) maintenance). The view
    * is an ordinary table: `SELECT * FROM <cat>.<view>` — so a
    * SQL-only session now owns the full matview lifecycle. */
  private final class MatViewProc(root: String) extends GraftProc("matview") {

    override def description(): String =
      "create-or-refresh an incrementally maintained aggregate view"

    override def parameters(): Array[ProcedureParameter] = Array(
      param("view", StringType),
      param("source", StringType),
      param("aggs", StringType),
      param("group_by", StringType, "''"),
      param("join_right", StringType, "''"),
      param("join_on", StringType, "''"))

    private val out = new StructType()
      .add("view", StringType, nullable = false)
      .add("version", StringType, nullable = true)
      .add("action", StringType, nullable = false)

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val view = input.getUTF8String(0).toString
      val source = input.getUTF8String(1).toString
      val aggs = parseAggs(input.getUTF8String(2).toString)
      val keys =
        if (input.isNullAt(3)) Nil else colList(input.getUTF8String(3).toString)
      val right =
        if (input.isNullAt(4)) "" else input.getUTF8String(4).toString.trim
      val on =
        if (input.isNullAt(5)) Nil else colList(input.getUTF8String(5).toString)
      val d: MatView.ViewDef =
        if (right.isEmpty) MatView.Def(source, view, keys, aggs)
        else MatView.JoinDef(source, right, on, view, keys, aggs)
      MatView.refresh(spark, root, d) match {
        case Some(txn) => result(out, Array(new GenericInternalRow(
          Array[Any](utf8(view), utf8(txn), utf8("refreshed")))))
        case None => result(out, Array(new GenericInternalRow(
          Array[Any](utf8(view), null, utf8("current")))))
      }
    }
  }

  /** `CALL <cat>.system.drop_matview(view => 'mv',
    * aggs => 'count:id:n,…')` — drop the view AND its aux state
    * tables (`<view>_aux`, per-aggregate distinct-value and min/max
    * states) in one metadata commit; `aggs` re-states the definition
    * so the exact aux names are enumerated instead of pattern-matched
    * (a prefix scan could catch an unrelated user table). */
  private final class DropMatViewProc(root: String)
    extends GraftProc("drop_matview") {

    override def description(): String =
      "drop a materialized view and its aux state tables"

    override def parameters(): Array[ProcedureParameter] = Array(
      param("view", StringType),
      param("aggs", StringType))

    private val out = new StructType()
      .add("version", StringType, nullable = false)
      .add("dropped", IntegerType, nullable = false)

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val view = input.getUTF8String(0).toString
      val aggs = parseAggs(input.getUTF8String(1).toString)
      val d = MatView.Def("ignored_src", view, Nil, aggs)
      val candidates = Seq(view, d.wmTable, d.auxTable) ++
        aggs.filter(_.fn == "count_distinct").map(d.dvTable) ++
        aggs.filter(a => a.fn == "min" || a.fn == "max").map(d.mmTable)
      val (txn, dropped) =
        AtomicPublish.retryLostRace(s"drop_matview '$view'") {
          val parent = AtomicPublish.currentTxn(spark, root).getOrElse(
            throw new IllegalStateException(
              s"no published version under $root"))
          val present = AtomicPublish.manifestMetaOf(spark, root, parent)
            .keySet
          val toDrop = candidates.filter(present.contains)
          require(toDrop.contains(view),
            s"view '$view' is not published under $root")
          AtomicPublish.publishDelta(spark, root,
            append = Map.empty, drop = toDrop, parent = Some(parent))
            .map(_ -> toDrop.size)
        }
      result(out, Array(new GenericInternalRow(
        Array[Any](utf8(txn), dropped))))
    }
  }

  // --- clone -----------------------------------------------------------------

  /** `CALL <cat>.system.clone(source => 's', target => 't'
    * [, version => '<txn>'])` — zero-copy table clone
    * ([[AtomicPublish.cloneTable]]): the target shares every data
    * segment by reference (O(1) on disk) and diverges copy-on-write;
    * `version` forks a historical snapshot (time-travel clone). The
    * dev/test-fork move a 100 TB table needs. */
  private final class CloneProc(root: String) extends GraftProc("clone") {

    override def description(): String =
      "zero-copy table clone (shares segments; diverges copy-on-write)"

    override def parameters(): Array[ProcedureParameter] = Array(
      param("source", StringType),
      param("target", StringType),
      param("version", StringType, "''"))

    private val out = new StructType()
      .add("version", StringType, nullable = false)
      .add("cloned_from", StringType, nullable = false)
      .add("owners", IntegerType, nullable = false)

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val source = input.getUTF8String(0).toString
      val target = input.getUTF8String(1).toString
      val at = Option(input.getUTF8String(2)).map(_.toString)
        .filter(_.nonEmpty)
      val txn = AtomicPublish.cloneTable(spark, root, source, target,
        sourceTxn = at).getOrElse(throw new IllegalStateException(
        s"clone of '$source' lost its commit race — a concurrent " +
          "writer moved the store; retry the CALL"))
      val owners = AtomicPublish.manifestMetaOf(spark, root, txn)
        .get(target).map(_.owners.size).getOrElse(0)
      result(out, Array(new GenericInternalRow(Array[Any](
        utf8(txn), utf8(at.getOrElse(source)), owners))))
    }
  }

  // --- detail ----------------------------------------------------------------

  /** `CALL <cat>.system.detail(table => 't')` — one row of operator
    * observability for a table (the `DESCRIBE DETAIL` analog): live
    * version, owner-chain length, file/byte footprint (FS listing,
    * no data read), raw pre-tombstone row count when every owner
    * carries recorded segment stats (null otherwise), the declared
    * layout (partition /
    * bucket / cluster specs), the CHECK constraints, and the pending
    * merge-on-read tombstone debt (companion owner count — what
    * `CALL compact` would consume). */
  private final class DetailProc(root: String) extends GraftProc("detail") {

    override def description(): String =
      "one-row table summary: version, footprint, layout, constraints, " +
        "tombstone debt"

    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType))

    private val out = new StructType()
      .add("table", StringType, nullable = false)
      .add("version", StringType, nullable = false)
      .add("owners", IntegerType, nullable = false)
      .add("files", IntegerType, nullable = false)
      .add("bytes", LongType, nullable = false)
      .add("rows", LongType, nullable = true)
      .add("partitioned_by", StringType, nullable = false)
      .add("buckets", StringType, nullable = false)
      .add("clustered_by", StringType, nullable = false)
      .add("checks", StringType, nullable = false)
      .add("tombstone_owners", IntegerType, nullable = false)
      .add("evolved_owners", IntegerType, nullable = false)
      .add("column_ndv", StringType, nullable = false)
      .add("column_hist", StringType, nullable = false)

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val (txn, metas) = AtomicPublish.currentManifestMeta(spark, root)
        .getOrElse(throw new IllegalStateException(
          s"no published version under $root"))
      val m = metas.getOrElse(table, throw new IllegalArgumentException(
        s"table '$table' is not in version $txn under $root"))
      var files = 0; var bytes = 0L
      val conf = spark.sparkContext.hadoopConfiguration
      m.owners.foreach { o =>
        val dir = new org.apache.hadoop.fs.Path(root,
          s"v_$o/${m.dirOf(o, table)}")
        val fs = dir.getFileSystem(conf)
        if (fs.exists(dir)) {
          val it = fs.listFiles(dir, true)
          while (it.hasNext) {
            val st = it.next()
            val nm = st.getPath.getName
            if (!nm.startsWith("_") && !nm.startsWith(".")) {
              files += 1; bytes += st.getLen
            }
          }
        }
      }
      val rows: Any =
        if (m.owners.forall(m.segStats.contains))
          m.owners.map(o => m.segStats(o).rows).sum
        else null
      val bucketStr =
        if (m.numBuckets > 0) s"${m.numBuckets}:${m.bucketCols.mkString(",")}"
        else ""
      val clusterStr =
        if (m.clusterCols.isEmpty) ""
        else (if (m.clusterZOrder) "zorder:" else "lex:") +
          m.clusterCols.mkString(",")
      val checkStr = m.checks.toSeq.sortBy(_._1)
        .map { case (n, p) => s"$n: $p" }.mkString("; ")
      val tombOwners = metas.get(AtomicPublish.deleteTableOf(table))
        .map(_.owners.size).getOrElse(0)
      // what the PLANNER sees (VERDICT-r11 #8): the merged NDV per
      // stat column (summed across owners, capped at rows — exactly
      // the CatalogStatistics derivation) and each column's merged
      // equi-height histogram rendered as bins + value span. Columns
      // some owner lacks stats for are shown with '?' — the planner
      // refuses partial sums the same way.
      val perOwner = m.owners.map(m.segStats.get)
      val rowsAll: Option[Long] =
        if (perOwner.forall(_.isDefined)) Some(rows.asInstanceOf[Long])
        else None
      def statStr(render: Seq[AtomicPublish.ColStat] => Option[String])
          : String =
        m.statCols.flatMap { c =>
          val cs = perOwner.map(_.flatMap(_.cols.get(c)))
          val body =
            if (cs.exists(_.isEmpty)) Some("?")
            else render(cs.flatten)
          body.map(b => s"$c=$b")
        }.mkString(",")
      val ndvStr = statStr { cs =>
        if (cs.exists(_.ndv.isEmpty)) Some("?")
        else Some(rowsAll.map(r =>
          math.min(cs.flatMap(_.ndv).sum, r)).getOrElse(
          cs.flatMap(_.ndv).sum).toString)
      }
      val histStr = statStr { cs =>
        if (cs.exists(_.hist.isEmpty)) None
        else AtomicPublish.mergeHists(cs.flatMap(_.hist)).map(h =>
          s"${h.bins.size}bins[${h.bins.head.lo}..${h.bins.last.hi}]" +
            s"@h=${math.round(h.height)}")
      }
      result(out, Array(new GenericInternalRow(Array[Any](
        utf8(table), utf8(txn), m.owners.size, files, bytes, rows,
        utf8(m.partitionCols.mkString(",")), utf8(bucketStr),
        utf8(clusterStr), utf8(checkStr), tombOwners,
        // owners still laid out under a PREVIOUS partition spec
        // (partition-spec evolution bookkeeping; 0 = uniform layout)
        m.ownerParts.size, utf8(ndvStr), utf8(histStr)))))
    }
  }

  // --- add_check / drop_check ------------------------------------------------

  /** `CALL <cat>.system.add_check(table => 't', name => 'c',
    * predicate => 'v > 0')` / `CALL drop_check(table, name)` — evolve a
    * live table's CHECK constraints ([[AtomicPublish.setCheck]]):
    * adding VERIFIES the existing data first (one delete-aware scan,
    * the Delta `ADD CONSTRAINT` contract), dropping is metadata-only;
    * both are O(1) CAS commits and every later write on every face
    * enforces the new rule set. */
  private final class SetCheckProc(root: String, add: Boolean)
    extends GraftProc(if (add) "add_check" else "drop_check") {

    override def description(): String =
      if (add) "add a CHECK constraint (verifies existing data first)"
      else "drop a CHECK constraint"

    override def parameters(): Array[ProcedureParameter] =
      if (add) Array(param("table", StringType), param("name", StringType),
        param("predicate", StringType))
      else Array(param("table", StringType), param("name", StringType))

    private val out = new StructType()
      .add("version", StringType, nullable = false)
      .add("n_checks", IntegerType, nullable = false)

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val pred = if (add) Some(input.getUTF8String(2).toString) else None
      val txn = AtomicPublish.setCheck(spark, root, table, name, pred)
        .getOrElse(throw new IllegalStateException(
          s"constraint change on '$table' lost its commit race — " +
            "a concurrent writer moved the store; retry the CALL"))
      val n = AtomicPublish.manifestMetaOf(spark, root, txn)
        .get(table).map(_.checks.size).getOrElse(0)
      result(out, Array(new GenericInternalRow(
        Array[Any](utf8(txn), n))))
    }
  }

  // --- vacuum ----------------------------------------------------------------

  /** `CALL <cat>.system.vacuum([keep_last => 1] [, min_age_ms => 0]
    * [, grace_ms => 3600000] [, consumer_ttl_ms => 604800000])` —
    * retention pass over the whole store ([[AtomicPublish.vacuum]]:
    * reference-closure-safe, in-flight-publish-safe, consumer-lag-
    * aware). Returns how many paths were reclaimed. */
  private final class VacuumProc(root: String) extends GraftProc("vacuum") {

    override def description(): String =
      "reclaim unreferenced versions/segments past retention " +
        "(consumer-lag aware)"

    override def parameters(): Array[ProcedureParameter] = Array(
      param("keep_last", IntegerType, "1"),
      param("min_age_ms", LongType, "CAST(0 AS BIGINT)"),
      param("grace_ms", LongType, "CAST(3600000 AS BIGINT)"),
      param("consumer_ttl_ms", LongType, "CAST(604800000 AS BIGINT)"),
      param("dry_run", BooleanType, "false"))

    private val out = new StructType()
      .add("reclaimed", IntegerType, nullable = false)
      .add("dry_run", BooleanType, nullable = false)

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val keepLast = if (input.isNullAt(0)) 1 else input.getInt(0)
      val minAge = if (input.isNullAt(1)) 0L else input.getLong(1)
      val grace = if (input.isNullAt(2)) 3600000L else input.getLong(2)
      val ttl = if (input.isNullAt(3)) 604800000L else input.getLong(3)
      val dryRun = !input.isNullAt(4) && input.getBoolean(4)
      val reclaimed = AtomicPublish.vacuum(spark, root,
        keepLast = keepLast, minAgeMs = minAge, graceMs = grace,
        consumerTtlMs = ttl, dryRun = dryRun)
      result(out, Array(new GenericInternalRow(
        Array[Any](reclaimed.size, dryRun))))
    }
  }

  // --- history ---------------------------------------------------------------

  /** `CALL <cat>.system.history([limit => 100])` — the commit log,
    * newest first: one row per committed version with its marker
    * timestamp, the `DESCRIBE HISTORY` analog. Feed a `version` into
    * `VERSION AS OF` for time travel. */
  private final class HistoryProc(root: String) extends GraftProc("history") {

    override def description(): String =
      "committed versions newest-first (time-travel targets)"

    override def parameters(): Array[ProcedureParameter] =
      Array(param("limit", IntegerType, "100"))

    private val out = new StructType()
      .add("version", StringType, nullable = false)
      .add("committed_at_ms", LongType, nullable = false)
      .add("is_live", BooleanType, nullable = false)
      .add("operation", StringType, nullable = true)

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val limit = if (input.isNullAt(0)) 100 else input.getInt(0)
      require(limit > 0, s"limit must be positive, got $limit")
      val live = AtomicPublish.currentTxn(spark, root)
      val rows = AtomicPublish.committedVersions(spark, root)
        .reverse.take(limit).map { case (txn, ts) =>
          // operation label from the commit marker (DESCRIBE HISTORY's
          // operation column) — null for pre-label markers
          val op: Any = AtomicPublish.commitOpOf(spark, root, txn)
            .map(utf8).orNull
          new GenericInternalRow(Array[Any](
            utf8(txn), ts, live.contains(txn), op)): InternalRow
        }
      result(out, rows.toArray)
    }
  }

  // --- consumers -------------------------------------------------------------

  /** `CALL <cat>.system.consumers()` — the streaming-consumer registry
    * ([[AtomicPublish.recordConsumer]]): one row per registered CDC
    * checkpoint with the version its next batch diffs from and how many
    * commits behind the live pointer it lags (null when its version has
    * already left history — that stream will resync on restart). The
    * observability half of consumer-lag-aware vacuum. */
  private final class ConsumersProc(root: String)
    extends GraftProc("consumers") {

    override def description(): String =
      "registered streaming consumers with per-checkpoint lag"

    override def parameters(): Array[ProcedureParameter] = Array.empty

    private val out = new StructType()
      .add("consumer_id", StringType, nullable = false)
      .add("next_from_version", StringType, nullable = false)
      .add("registered_at_ms", LongType, nullable = false)
      .add("commits_behind", IntegerType, nullable = true)

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val versions = AtomicPublish.committedVersions(spark, root).map(_._1)
      val index = versions.zipWithIndex.toMap
      val rows = AtomicPublish.registeredConsumers(spark, root)
        .sortBy(_._1).map { case (id, txn, at) =>
          val behind: Any = index.get(txn)
            .map(i => versions.size - 1 - i).orNull
          new GenericInternalRow(Array[Any](
            utf8(id), utf8(txn), at, behind)): InternalRow
        }
      result(out, rows.toArray)
    }
  }
}
