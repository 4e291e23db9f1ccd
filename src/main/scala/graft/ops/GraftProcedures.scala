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
  * (with optional re-clustering), retention vacuum, statistics,
  * commit history, restore, clone and partition-spec evolution.
  * Spark 4's `ProcedureCatalog` +
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
    Seq("analyze", "clone", "compact", "history", "restore",
      "set_partition_spec", "vacuum")

  def load(root: String, name: String): Option[UnboundProcedure] =
    name match {
      case "compact" => Some(new CompactProc(root))
      case "vacuum" => Some(new VacuumProc(root))
      case "history" => Some(new HistoryProc(root))
      case "restore" => Some(new RestoreProc(root))
      case "clone" => Some(new CloneProc(root))
      case "set_partition_spec" => Some(new SetPartitionSpecProc(root))
      case "analyze" => Some(new AnalyzeProc(root))
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
}
