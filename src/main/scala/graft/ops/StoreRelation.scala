package graft.ops

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BasePredicate, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSourceProvider}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.AtomicPublish.TableMeta

/** CATALYST-NATIVE store reads: a snapshot-pinned [[FileIndex]] mounted
  * under Spark's own [[HadoopFsRelation]] + [[ParquetFileFormat]], so
  * EVERY read path — `readTable(...).filter(...)`, a `registerViews`
  * temp view queried in SQL, `spark.read.format("graft")` — routes its
  * predicates through Catalyst's FileSourceStrategy into
  * [[GraftFileIndex.listFiles]], where ALL the store's skipping layers
  * fire: partition-directory pruning, segment zone maps, per-file zone
  * maps, and bloom sidecars. That is the ONE place a store read
  * decides its files: nothing pre-prunes a mount, which always covers
  * whole owner segments. This is the architecture Delta Lake used
  * for years (a log-backed `TahoeFileIndex` under `HadoopFsRelation`)
  * and it is deliberately NOT a DataSource V2 `PartitionReaderFactory`:
  * reusing Spark's file-source scan keeps the vectorized parquet
  * reader, parquet row-group predicate pushdown (`PushedFilters`),
  * column pruning, whole-stage codegen, and dynamic partition pruning —
  * a custom V2 reader would have to reimplement all five to match.
  * (Reference analog: the DB indexes at
  * /root/reference/app/models/patient.py:52,96-99 serve every query
  * transparently — after this, so do the store's skipping layers.)
  *
  * The index is pinned to one manifest snapshot ([[TableMeta]]): the
  * store's published versions are immutable, so the listing never
  * staleifies and `refresh()` is a no-op.
  */
final class GraftFileIndex(
    spark: SparkSession,
    root: String,
    table: String,
    meta: TableMeta,
    /** Candidate owner segments, read whole unless [[listFiles]]
      * prunes them. */
    selection: Seq[String],
    /** Expose derived calendar-transform ordinals (`ts__day`) as
      * partition columns so DYNAMIC pruning can evaluate them against
      * [[PartitionDirectory]] values at runtime
      * ([[HiddenPartitionPruning]]). Only honored when every selected
      * owner was written under the CURRENT spec — see
      * [[exposedDerived]]. The format face keeps this off: a
      * `BaseRelation`'s schema is its public contract and must not
      * carry layout-internal columns (the ADVICE-r8 leak). The mounts
      * that project back to the recorded columns ([[GraftFileIndex
      * .relationFor]]) turn it on. */
    exposeDerived: Boolean = false)
  extends FileIndex {

  private val recordedSchema: StructType = meta.schema

  /** Calendar-transform entries of the CURRENT partition spec
    * ([[PartSpec]]): their ordinals live ONLY in the directory layout
    * as derived columns; the source columns stay in the data files. */
  private val transforms = PartSpec.transformsOf(meta.partitionCols)

  private def dirSchemaOf(spec: Seq[String]): StructType = StructType(
    spec.map { s =>
      PartSpec.parse(s) match {
        case None => recordedSchema(s).copy(nullable = true)
        case Some(t) => org.apache.spark.sql.types.StructField(
          t.derivedName, org.apache.spark.sql.types.IntegerType,
          nullable = true)
      }
    })

  /** The FULL directory layout of the current spec (identity columns +
    * derived transform ordinals, in spec order). Internal only:
    * derived columns must not reach the relation's output schema
    * (ADVICE-r8 low — `spark.read.format("graft")` on a transform-
    * partitioned table leaked `ts__day` into SELECT *). */
  private val dirSchema: StructType = dirSchemaOf(meta.partitionCols)

  /** Derived-ordinal exposure is gated on a UNIFORM layout: every
    * selected owner written under the current spec. An owner written
    * under an OLDER spec has no current-derived directory component,
    * so its files would surface a null partition value — and a
    * runtime `IN`-subquery pruning filter evaluates null to false,
    * silently DROPPING that owner's rows. With the guard, evolved
    * tables simply fall back to identity-only exposure (static
    * transform pruning in [[listFiles]] still fires from raw-column
    * predicates, exactly as before). */
  private[ops] val exposedDerived: Boolean =
    exposeDerived && transforms.nonEmpty &&
      selection.forall(o => meta.partsOf(o) == meta.partitionCols)

  /** Transforms that dynamic pruning may key on ([[HiddenPartitionPruning]]):
    * the current spec's, iff their ordinals are exposed. */
  private[ops] def prunableTransforms: Seq[PartSpec.Transform] =
    if (exposedDerived) transforms else Nil

  /** Inputs for METADATA-ONLY aggregates ([[MetadataAggregates]]):
    * one [[AtomicPublish.SegStats]] per selected owner, available only
    * when every owner carries recorded stats (a mount always covers
    * whole owners, so segment totals are the table's). Zero owners =
    * Some(Nil): an empty table metadata-counts to 0. */
  private[ops] def metadataSegStats: Option[Seq[AtomicPublish.SegStats]] =
    if (selection.forall(meta.segStats.contains))
      Some(selection.map(meta.segStats))
    else None

  /** The columns whose per-owner min/max/null stats are recorded. */
  private[ops] def statColumns: Seq[String] = meta.statCols

  private[ops] def bloomColumns: Seq[String] = meta.bloomCols

  private[ops] def recordedTableSchema: StructType = recordedSchema

  /** What the relation EXPOSES: identity partition columns, plus the
    * derived transform ordinals when [[exposedDerived]] (consumed only
    * by dynamic pruning — the relation mounts project back to the
    * recorded columns, so user-facing schemas never carry them).
    * Otherwise the derived ordinals stay layout-internal — pruning on
    * them fires from RAW-column predicates (dataFilters), since the
    * source column lives in the data files. Spec EVOLUTION rides on
    * this: per-owner transform layouts
    * ([[AtomicPublish.TableMeta.ownerParts]]) never surface to the
    * planner, because the identity entry SET is invariant across specs
    * ([[AtomicPublish.setPartitionSpec]]). */
  override val partitionSchema: StructType =
    if (exposedDerived) dirSchema
    else StructType(dirSchema.fields.filterNot(f =>
      transforms.exists(_.derivedName == f.name)))

  /** One owner's directory layout: the spec it was WRITTEN under
    * (current spec unless evolution recorded an older one), its
    * transforms, and the projection from its dir-values row to the
    * exposed partition schema. Memoized per DISTINCT spec — a
    * thousand-owner chain with one evolution holds two. */
  private final class Layout(val spec: Seq[String]) {
    val transforms: Seq[PartSpec.Transform] = PartSpec.transformsOf(spec)
    val dirSchema: StructType = dirSchemaOf(spec)
    /** Exposed-field positions in THIS spec's dir row (bind by name:
      * identity sets match across specs, order may not). */
    val exposedIdx: Array[Int] =
      partitionSchema.fields.map(f => dirSchema.fieldIndex(f.name))
    val identityLayout: Boolean =
      exposedIdx.length == dirSchema.length &&
        exposedIdx.zipWithIndex.forall { case (a, b) => a == b }
  }
  private val layouts = TrieMap.empty[Seq[String], Layout]
  private def layoutOf(o: String): Layout = {
    val spec = meta.partsOf(o)
    layouts.getOrElseUpdate(spec, new Layout(spec))
  }

  /** Project a dir-values row down to the EXPOSED partition schema
    * (derived ordinals dropped, identity order normalized).
    * Value-equal rows compare equal (GenericInternalRow), so files
    * from different derived dirs — or differently-evolved owners —
    * with the same identity values group into one PartitionDirectory. */
  private def exposedValues(lay: Layout, row: InternalRow): InternalRow =
    if (lay.identityLayout) row
    else InternalRow.fromSeq(lay.exposedIdx.toSeq.map(i =>
      row.get(i, lay.dirSchema.fields(i).dataType)))

  /** Schema of what is IN the parquet files: recorded schema minus the
    * IDENTITY partition columns (written `partitionBy`, so they live in
    * the dir layout, not the footers); transform SOURCE columns stay in
    * the files. */
  private[ops] val dataSchema: StructType = StructType(
    recordedSchema.fields.filterNot(f =>
      PartSpec.identityCols(meta.partitionCols).contains(f.name))
      .map(_.copy(nullable = true)))

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def segDir(o: String): Path =
    new Path(new Path(root, s"v_$o"), meta.dirOf(o, table))

  override def rootPaths: Seq[Path] = selection.map(segDir)

  /** A data file: not a dot/underscore sidecar (`_MANIFEST`,
    * `_bloom_*.bin`, `_SUCCESS`, checksums). */
  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** One owner segment's data files as (segment-relative path, status),
    * memoized: version dirs are immutable. Listing happens ONLY for
    * owners that survive manifest-level pruning — at a 1000-segment
    * ingest history the pruned owners cost zero filesystem calls. */
  private val listedOwners =
    TrieMap.empty[String, Seq[(String, FileStatus)]]
  private def ownerFiles(o: String): Seq[(String, FileStatus)] =
    listedOwners.getOrElseUpdate(o, {
      val dir = segDir(o)
      val fs = dir.getFileSystem(hadoopConf)
      val qualified = fs.makeQualified(dir).toUri.getPath
      val out = Seq.newBuilder[(String, FileStatus)]
      // Local fast path: Hadoop's RawLocalFileSystem materializes each
      // listed status' permission bits with a per-file subprocess, so a
      // recursive listing costs ~5-10 ms PER FILE — a 126-file
      // day-partitioned segment took ~0.9 s to list on EVERY query's
      // planning (guide §6: listing/planning time on the driver). The
      // scan only consumes path + length + modTime, so on file: roots
      // walk with java.nio and build the statuses directly; any other
      // scheme (object store, HDFS) keeps the filesystem listing.
      val base = java.nio.file.Paths.get(qualified)
      if (fs.getScheme == "file" && java.nio.file.Files.isDirectory(base)) {
        val blockSize = fs.getDefaultBlockSize(dir)
        // FOLLOW_LINKS so a symlinked partition subdirectory lists like
        // Hadoop's fs.listFiles would (ADVICE r15: without it the walk
        // silently saw the symlink as a non-regular file and listed the
        // subtree as empty). Files.walk detects link cycles itself
        // (FileSystemLoopException). A file deleted mid-walk surfaces as
        // UncheckedIOException; both fall back to the Hadoop listing
        // below rather than failing the scan.
        try {
          val stream = java.nio.file.Files.walk(base,
            java.nio.file.FileVisitOption.FOLLOW_LINKS)
          try {
            stream.forEach { p =>
              if (java.nio.file.Files.isRegularFile(p)) {
                val rel = base.relativize(p).toString
                if (rel.split('/').forall(isDataFile)) {
                  val st = new FileStatus(java.nio.file.Files.size(p),
                    false, 1, blockSize,
                    java.nio.file.Files.getLastModifiedTime(p).toMillis,
                    new Path(p.toUri))
                  out += (rel -> st)
                }
              }
            }
          } finally stream.close()
        } catch {
          case _: java.io.UncheckedIOException |
               _: java.nio.file.FileSystemLoopException =>
            out.clear()
            val it = fs.listFiles(dir, true)
            while (it.hasNext) {
              val st = it.next()
              val p = st.getPath
              if (isDataFile(p.getName) &&
                  p.toUri.getPath.stripPrefix(qualified + "/").split('/')
                    .forall(isDataFile)) {
                out += (p.toUri.getPath.stripPrefix(qualified + "/") -> st)
              }
            }
        }
      } else {
        val it = fs.listFiles(dir, true)
        while (it.hasNext) {
          val st = it.next()
          val p = st.getPath
          if (isDataFile(p.getName) &&
              // a file under a dot/underscore SUBDIR is not data either
              p.toUri.getPath.stripPrefix(qualified + "/").split('/')
                .forall(isDataFile)) {
            out += (p.toUri.getPath.stripPrefix(qualified + "/") -> st)
          }
        }
      }
      out.result()
    })

  /** Partition values parsed from a file's relative path (`k=v` dir
    * components, hive-escaped, `__HIVE_DEFAULT_PARTITION__` = null),
    * cast from the path string to the RECORDED column type — the same
    * resolution `spark.read.schema(recorded)` applied on the legacy
    * path, so a StringType partition value "01" stays "01". */
  private val partRowCache = TrieMap.empty[(Seq[String], String), InternalRow]
  private def partValues(lay: Layout, relPath: String): InternalRow = {
    if (lay.spec.isEmpty) return InternalRow.empty
    val dirPart = relPath.lastIndexOf('/') match {
      case -1 => ""
      case i => relPath.substring(0, i)
    }
    partRowCache.getOrElseUpdate((lay.spec, dirPart), {
      val kvs = dirPart.split('/').iterator.filter(_.contains("="))
        .map { c =>
          val i = c.indexOf('=')
          ExternalCatalogUtils.unescapePathName(c.substring(0, i)) ->
            ExternalCatalogUtils.unescapePathName(c.substring(i + 1))
        }.toMap
      val zone = Option(spark.sessionState.conf.sessionLocalTimeZone)
      InternalRow.fromSeq(lay.dirSchema.fields.toSeq.map { f =>
        kvs.get(f.name) match {
          case None | Some("__HIVE_DEFAULT_PARTITION__") => null
          case Some(raw) =>
            Cast(Literal(UTF8String.fromString(raw), StringType),
              f.dataType, zone).eval(null)
        }
      })
    })
  }

  /** The pruning pipeline, driven by what Catalyst pushed down:
    * manifest-level segment zone maps → bloom sidecars → per-file zone
    * maps (all on `dataFilters`), then the filesystem listing of only
    * the survivors, then `partitionFilters` evaluated against each
    * file's directory-derived partition values. Every layer is
    * conservative: an untranslatable predicate keeps everything. */
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // deferred runtime join filters resolve HERE — execution time, the
    // moment this scan decides its file set: each marker runs its
    // bounded build-side distinct-keys job and becomes a static InSet
    // the ordinary skipping stack consumes; an abandoned collection
    // (over-cap/failed) contributes nothing and every file stays.
    val resolved = dataFilters.flatMap {
      case d: DeferredKeyProbe => d.resolvedPredicate
      case e => Some(e)
    }
    // an EMPTY (or all-null) InSet conjunct — the resolution of a
    // deferred probe whose build side was empty — admits no row at
    // all (`x IN ()` is never true), so the scan lists NOTHING. This
    // must short-circuit HERE: the zone-map/bloom layers are
    // conservative keep-everything evaluators over recorded stats,
    // and a store without stats would otherwise read every file for
    // a join that is provably empty (ADVICE r12 #1).
    def admitsNothing(e: Expression): Boolean = e match {
      case org.apache.spark.sql.catalyst.expressions.InSet(_, s) =>
        s.forall(_ == null)
      case Literal(v, _) => v == null || v == false
      case And(l, r) => admitsNothing(l) || admitsNothing(r)
      case _ => false
    }
    if (resolved.exists(admitsNothing)) return Nil
    val pred = resolved.reduceOption(And)
    val keep = pred match {
      case None => selection
      case Some(p) =>
        AtomicPublish.pruneOwnersBloomExpr(spark, root, table, meta,
          AtomicPublish.pruneOwnersExpr(spark, meta, selection, p), p)
    }
    val fileKeep = pred match {
      case None => Map.empty[String, Seq[String]]
      case Some(p) => AtomicPublish.pruneFilesExpr(spark, meta, keep, p)
    }
    // files keep their OWNER: each owner's paths parse and prune under
    // the spec that owner was written with (spec evolution)
    val files: Seq[(Layout, String, FileStatus)] = keep.flatMap { o =>
      val fs = fileKeep.get(o) match {
        case None => ownerFiles(o)
        case Some(sub) =>
          val s = sub.toSet; ownerFiles(o).filter(x => s.contains(x._1))
      }
      val lay = layoutOf(o)
      fs.map { case (rel, st) => (lay, rel, st) }
    }
    // calendar-transform pruning: predicates on the RAW source column
    // (`ts >= X`) translate to ordinal bounds on the derived directory
    // column — the hidden-partitioning contract ([[PartSpec]]). A file
    // whose dir ordinal provably misses every bound is dropped; a
    // missing/unparseable ordinal keeps the file conservatively (which
    // is also the safety net for an owner whose evolved-spec entry was
    // somehow lost: its dirs stop pruning, they never drop rows).
    // Tests are derived PER LAYOUT — a days(ts) owner prunes on day
    // ordinals while a months(ts) owner of the same table prunes on
    // month ordinals, from the SAME raw predicate.
    val tfTestCache =
      scala.collection.mutable.Map.empty[Seq[String],
        Seq[(Int, Int => Boolean)]]
    def tfTests(lay: Layout): Seq[(Int, Int => Boolean)] = pred match {
      case None => Nil
      case Some(p) => tfTestCache.getOrElseUpdate(lay.spec,
        lay.transforms.flatMap { t =>
          PartSpec.ordinalTest(p, t, recordedSchema(t.src).dataType)
            .map(test => lay.dirSchema.fieldIndex(t.derivedName) -> test)
        })
    }
    val tfFiltered =
      if (pred.isEmpty) files
      else files.filter { case (lay, rel, _) =>
        val tests = tfTests(lay)
        tests.isEmpty || {
          val row = partValues(lay, rel)
          tests.forall { case (i, test) =>
            row.isNullAt(i) || test(row.getInt(i)) }
        }
      }
    val partitioned =
      if (meta.partitionCols.isEmpty || partitionFilters.isEmpty) tfFiltered
      else {
        // bind by NAME per layout: pushed filters reference the
        // relation's output attrs (exposed identity columns — present
        // in every layout's dirSchema); the values row is laid out in
        // that layout's dirSchema order
        val boundCache =
          scala.collection.mutable.Map.empty[Seq[String], BasePredicate]
        def predOf(lay: Layout): BasePredicate =
          boundCache.getOrElseUpdate(lay.spec, {
            val bound = partitionFilters.reduce(And).transform {
              case a: AttributeReference
                  if lay.dirSchema.fieldNames.contains(a.name) =>
                BoundReference(lay.dirSchema.fieldIndex(a.name),
                  a.dataType, nullable = true)
            }
            val p = Predicate.create(bound)
            p.initialize(0)
            p
          })
        tfFiltered.filter { case (lay, rel, _) =>
          predOf(lay).eval(partValues(lay, rel)) }
      }
    if (meta.partitionCols.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty,
        partitioned.map(_._3).toArray))
    else
      partitioned.groupBy { case (lay, rel, _) =>
        exposedValues(lay, partValues(lay, rel)) }.toSeq
        .map { case (values, fs) =>
          PartitionDirectory(values, fs.map(_._3).toArray)
        }
  }

  override def inputFiles: Array[String] =
    selection.flatMap(ownerFiles(_).map(_._2.getPath.toString)).toArray

  override def refresh(): Unit = () // snapshot-pinned: immutable

  override lazy val sizeInBytes: Long =
    selection.flatMap(ownerFiles(_).map(_._2.getLen)).sum
}

object GraftFileIndex {

  /** Mount owners of one table snapshot as a single Catalyst file-source
    * relation (NOT a union — one scan node, one `PartitionFilters` /
    * `PushedFilters` line in `.explain`), projected back to the recorded
    * column order (the relation itself appends partition columns last). */
  /** A bucketed table mounts with its recorded [[BucketSpec]]: the
    * scan groups files by the bucket id in their names, plans one
    * partition per bucket and reports `HashPartitioning(bucketCols,
    * numBuckets)` — a join or aggregation keyed on the bucket columns
    * needs NO exchange on this side (Spark's own bucketed-table read,
    * served from the manifest instead of a metastore). */
  private[ops] def bucketSpecOf(meta: TableMeta)
      : Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] =
    if (meta.numBuckets > 0)
      Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(
        meta.numBuckets, meta.bucketCols, Nil))
    else None

  /** Mount one table snapshot. IDENTITY-SPEC EVOLUTION forks this into
    * identity-homogeneous classes: an identity partition column lives
    * in the DIRECTORY layout of owners written under a spec including
    * it and in the DATA FILES otherwise, and one `HadoopFsRelation`
    * cannot serve a column from dirs for some files and from footers
    * for others — so owners group by their spec's identity SET and the
    * classes union (each class one native scan; the single-class fast
    * path — every table that never identity-evolved — stays the ONE
    * scan node it always was). */
  private[ops] def relationFor(spark: SparkSession, root: String,
      table: String, meta: TableMeta, selection: Seq[String]): DataFrame = {
    val classes = selection
      .groupBy(o => PartSpec.identityCols(meta.partsOf(o)).toSet)
      .values.toSeq
    if (classes.size <= 1)
      relationForClass(spark, root, table, meta, selection)
    else classes.map { sel =>
      // representative spec: identity sets match within the class, so
      // any member's spec exposes the right identity columns (member
      // TRANSFORMS may still differ — per-owner layouts handle those)
      relationForClass(spark, root, table,
        meta.copy(partitionCols = meta.partsOf(sel.head)), sel)
    }.reduce(_.unionByName(_))
  }

  /** Idempotently append a store rule to the session's
    * `experimental.extraOptimizations` — the last optimizer batch, the
    * one install point of every rule a mount needs (the
    * `SqlStrategy.setup` shape). */
  private def installRule(spark: SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit =
    synchronized {
      val cur = spark.experimental.extraOptimizations
      if (!cur.exists(_ eq rule))
        spark.experimental.extraOptimizations = cur :+ rule
    }

  private def relationForClass(spark: SparkSession, root: String,
      table: String, meta: TableMeta, selection: Seq[String]): DataFrame = {
    val idx = new GraftFileIndex(spark, root, table, meta, selection,
      exposeDerived = true)
    // a transform-partitioned mount is dynamically prunable: make sure
    // this session runs the hidden-partition DPP rule
    if (idx.prunableTransforms.nonEmpty)
      installRule(spark, HiddenPartitionPruning)
    // a stats-covered mount can serve full-table aggregates from the
    // manifest alone (the rule itself re-checks coverage)
    if (idx.metadataSegStats.exists(_.nonEmpty))
      installRule(spark, MetadataAggregates)
    // a bloom/stat-covered mount can consume build-side join keys as
    // file-skipping IN predicates
    if (idx.bloomColumns.nonEmpty || idx.statColumns.nonEmpty)
      installRule(spark, RuntimeJoinFilter)
    val rel = HadoopFsRelation(idx, idx.partitionSchema, idx.dataSchema,
      bucketSpecOf(meta), new ParquetFileFormat,
      Map.empty[String, String])(spark)
    val ordered = meta.schema.fieldNames.toSeq
    val base = catalogStatsOf(table, meta, selection) match {
      case Some(ct) => org.apache.spark.sql.graftplan.PlanBridge
        .ofRelationWithStats(spark, rel, ct)
      case None => spark.baseRelationToDataFrame(rel)
    }
    base.select(ordered.map(col): _*)
  }

  /** Planner statistics for a mount, from the manifest alone: row count
    * (sum of the selected owners' segment rows) and per-stat-column
    * NDV/null-count/min-max — the inputs Catalyst's CBO (filter
    * selectivity, join sizing, broadcast elections) runs on. Nothing
    * here reads data files. Estimation posture, documented:
    *
    *  - rows include merge-on-read tombstoned rows and ignore file
    *    skipping — an OVER-estimate, the direction that can only miss a
    *    broadcast, never OOM one;
    *  - table NDV = min(Σ per-owner NDV, rows) — an upper bound (owners
    *    may share values). Equality selectivity 1/ndv therefore
    *    UNDER-estimates matches per key; paired with the row
    *    over-estimate this stays the conservative corner;
    *  - min/max ride along only for plain-cast numeric types, where the
    *    zone-map rendering IS `CatalogColumnStat`'s external string form
    *    (timestamps are epoch-micro encoded — a different dialect — and
    *    string ranges are useless to the estimator anyway).
    *
    * None when any selected owner lacks segment stats (no lying with
    * partial sums); CBO then falls back to pure size heuristics. */
  private def catalogStatsOf(table: String,
      meta: TableMeta, selection: Seq[String])
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat,
      CatalogStatistics, CatalogStorageFormat, CatalogTable,
      CatalogTableType}
    val perOwner = selection.map(meta.segStats.get)
    if (perOwner.isEmpty || perOwner.exists(_.isEmpty)) return None
    val stats = perOwner.flatten
    val rows = stats.map(_.rows).sum
    // size comes from the MANIFEST's recorded segment bytes, never a
    // file listing: forcing idx.sizeInBytes here made every mount walk
    // its owner dirs eagerly and cost the metadata-only aggregate path
    // the zero-IO property it exists for (caught by the r11 full
    // rehearsal: store_metadata_agg went scale-linear). Pre-r11
    // segments without recorded bytes simply get no planner stats.
    if (stats.exists(_.bytes.isEmpty)) return None
    val sizeInBytes = stats.flatMap(_.bytes).sum
    val schema = meta.schema
    val numericExact: Set[org.apache.spark.sql.types.DataType] = {
      import org.apache.spark.sql.types._
      Set(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
    }
    val colStats = meta.statCols.flatMap { c =>
      val per = stats.map(_.cols.get(c))
      val dt = schema.fields.find(_.name == c).map(_.dataType)
      if (per.exists(_.isEmpty) || dt.isEmpty) None
      else {
        val cs = per.flatten
        if (cs.exists(_.ndv.isEmpty)) None
        else {
          // owner extrema merge by numeric value but keep the recorded
          // rendering (double-compare ties past 2^53 are fine for an
          // ESTIMATOR input — never used for pruning)
          val exact = numericExact.contains(dt.get)
          // histograms: only when EVERY owner carries one (no lying
          // with partial coverage — same posture as ndv/bytes above);
          // the per-owner equi-height bins merge by weighted endpoint
          // quantiles (AtomicPublish.mergeHists). This is what turns a
          // RANGE predicate's selectivity stats-driven: min/max
          // uniformity over a skewed column estimates the whole span,
          // the bins estimate the mass actually inside the range.
          val hist: Option[org.apache.spark.sql.catalyst.plans.logical
            .Histogram] =
            if (!exact || cs.exists(_.hist.isEmpty)) None
            else AtomicPublish.mergeHists(cs.flatMap(_.hist)).map { h =>
              org.apache.spark.sql.catalyst.plans.logical.Histogram(
                h.height, h.bins.map(b =>
                  org.apache.spark.sql.catalyst.plans.logical
                    .HistogramBin(b.lo, b.hi, b.ndv)).toArray)
            }
          Some(c -> CatalogColumnStat(
            distinctCount =
              Some(BigInt(math.min(cs.flatMap(_.ndv).sum, rows))),
            min = if (exact) cs.flatMap(_.min).minByOption(_.toDouble)
                  else None,
            max = if (exact) cs.flatMap(_.max).maxByOption(_.toDouble)
                  else None,
            nullCount = Some(BigInt(cs.map(_.nulls).sum)),
            histogram = hist))
        }
      }
    }.toMap
    Some(CatalogTable(
      identifier =
        org.apache.spark.sql.catalyst.TableIdentifier(s"graft_$table"),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty,
      schema = schema,
      stats = Some(CatalogStatistics(BigInt(math.max(sizeInBytes, 1L)),
        Some(BigInt(rows)), colStats))))
  }
}

/** `spark.read.format("graft")` — the DataFrameReader face of the store.
  *
  * Options: `root` (or `path`) = store root, `table` = table name,
  * `txn` (optional) = time-travel version, `raw` = "true" to read a
  * table that has merge-on-read tombstones WITHOUT the delete
  * anti-join. The relation a format read returns is a LEAF scan, and a
  * leaf cannot carry the tombstone anti-join — so a tombstoned table
  * refuses a non-raw format read (resurrecting deleted rows silently is
  * the compliance failure) and points at [[AtomicPublish.readTable]] /
  * [[AtomicPublish.registerViews]], which wrap the same pruned relation
  * with the anti-join.
  *
  * `readStream.format("graft")` with the same `root`/`table` options is
  * the store's signed-row change feed
  * ([[graft.streaming.GraftCdcFeedSource]]). */
final class GraftSource extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with DataSourceRegister {

  import GraftSource._

  override def shortName(): String = "graft"

  private def streamParams(parameters: Map[String, String]) = {
    val root = parameters.get("root").orElse(parameters.get("path"))
      .getOrElse(throw new IllegalArgumentException(
        "readStream.format(\"graft\") needs a 'root' (or 'path') option"))
    val table = parameters.getOrElse("table",
      throw new IllegalArgumentException(
        "readStream.format(\"graft\") needs a 'table' option"))
    (root, table)
  }

  /** `spark.readStream.format("graft")` — the store's change feed
    * ([[graft.streaming.GraftCdcFeedSource]]): signed rows, deletes
    * advance the stream as `_change_type = delete` rows. */
  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val (root, table) = streamParams(parameters)
    (shortName(), schema.getOrElse(
      new graft.streaming.GraftCdcFeedSource(ctx.sparkSession, root,
        table, consumerId = "schema-probe").schema))
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val (root, table) = streamParams(parameters)
    // consumer id = digest of the checkpoint's metadata path: stable
    // across restarts of the same stream, distinct across streams
    val consumerId = java.security.MessageDigest
      .getInstance("MD5").digest(metadataPath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    new graft.streaming.GraftCdcFeedSource(ctx.sparkSession, root,
      table, consumerId = consumerId)
  }

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = ctx.sparkSession
    val root = parameters.get("root").orElse(parameters.get("path"))
      .getOrElse(throw new IllegalArgumentException(
        "format(\"graft\") needs a 'root' (or 'path') option"))
    val table = parameters.getOrElse("table",
      throw new IllegalArgumentException(
        "format(\"graft\") needs a 'table' option"))
    val txn = parameters.get("txn").getOrElse(
      AtomicPublish.currentTxn(spark, root).getOrElse(
        throw new IllegalStateException(
          s"no published version under $root")))
    val metas = AtomicPublish.manifestMetaOf(spark, root, txn)
    val meta = metas.getOrElse(table, throw new IllegalArgumentException(
      s"table '$table' is not in version $txn under $root"))
    val tombstoned = metas.get(AtomicPublish.deleteTableOf(table))
      .exists(_.owners.nonEmpty)
    require(!tombstoned ||
        parameters.get("raw").exists(_.equalsIgnoreCase("true")),
      s"table '$table' has row-level deletes; a format(\"graft\") leaf " +
        "scan cannot apply the tombstone anti-join. Read it with " +
        "AtomicPublish.readTable / registerViews (delete-aware), or " +
        "pass option(\"raw\", \"true\") for the pre-delete snapshot")
    // a format read is ONE leaf relation; an identity-evolved chain
    // needs one relation PER identity class (the column lives in dirs
    // for some owners, in files for others) — refuse like tombstones
    require(meta.owners
        .map(o => PartSpec.identityCols(meta.partsOf(o)).toSet)
        .distinct.size <= 1,
      s"table '$table' has identity-evolved partition specs; a " +
        "format(\"graft\") leaf scan cannot serve a column from both " +
        "directory layouts and data files. Read it with " +
        "AtomicPublish.readTable / registerViews, or compact to " +
        "normalize the layout")
    val idx = new GraftFileIndex(spark, root, table, meta, meta.owners)
    HadoopFsRelation(idx, idx.partitionSchema, idx.dataSchema,
      GraftFileIndex.bucketSpecOf(meta), new ParquetFileFormat,
      Map.empty[String, String])(spark)
  }

  /** `df.write.format("graft")` — the batch WRITE face of the store:
    * every save is one atomic CAS-protected commit through the publish
    * path (recorded schema validation, stats/bloom sidecars, partition
    * layout), retried against concurrent publishers.
    *
    *  - `Append` appends a delta segment (creates the table if absent);
    *  - `Overwrite` replaces the table (compaction semantics — history
    *    stays time-travelable, tombstones auto-clear);
    *  - `ErrorIfExists` / `Ignore` follow their contracts.
    *
    * Options: `root` (or `path`), `table`, and optional comma-joined
    * `partitionByCols` / `statsBy` / `bloomBy` column lists applied
    * when the write CREATES or REPLACES the table (append inherits the
    * recorded layout — the manifest, not the writer, owns it).
    * `clusterBy` (+ `zOrder` = "true") additionally DECLARES the
    * table's recorded clustering: the written data is sorted
    * (lexicographically or z-order, [[ZOrder]]) before the commit so
    * file-level zone maps are tight from birth, and the recorded spec
    * makes every later bare compaction re-apply the same layout —
    * the writer declares once, maintenance preserves forever. */
  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = ctx.sparkSession
    val root = parameters.get("root").orElse(parameters.get("path"))
      .getOrElse(throw new IllegalArgumentException(
        "write.format(\"graft\") needs a 'root' (or 'path') option"))
    val table = parameters.getOrElse("table",
      throw new IllegalArgumentException(
        "write.format(\"graft\") needs a 'table' option"))
    val partCols = optionCols(parameters, "partitionByCols")
    val statsCols = optionCols(parameters, "statsBy")
    val bloomCols = optionCols(parameters, "bloomBy")
    val clusterCols = optionCols(parameters, "clusterBy")
    val zOrder = parameters.get("zOrder").exists(_.equalsIgnoreCase("true"))
    require(clusterCols.nonEmpty || !zOrder,
      "write option zOrder=true needs a clusterBy column list")
    // `option("bucketBy", "8:doc_id")` — declare hash bucketing at the
    // table's birth/overwrite (appends inherit the recorded layout)
    val bucketSpec = bucketOpt(parameters)
    // `option("check.<name>", "<predicate>")` — declare CHECK
    // constraints at birth/overwrite; every later write enforces them
    val checkOpts = checksOpt(parameters)
    def layout(of: Seq[String]): Map[String, Seq[String]] =
      if (of.isEmpty) Map.empty else Map(table -> of)
    val clusterLay: Map[String, (Seq[String], Boolean)] =
      if (clusterCols.isEmpty) Map.empty
      else Map(table -> (clusterCols, zOrder))
    val bucketLay: Map[String, (Seq[String], Int)] =
      bucketSpec.map(s => Map(table -> s)).getOrElse(Map.empty)
    val checkLay: Map[String, Map[String, String]] =
      if (checkOpts.isEmpty) Map.empty else Map(table -> checkOpts)
    // apply the declared clustering to the rows being written, so the
    // DECLARING write already has the locality its spec promises
    val toWrite =
      if (clusterCols.isEmpty) data
      else ZOrder.cluster(data, clusterCols, zOrder)
    AtomicPublish.retryLostRace(s"write to '$table'") {
      AtomicPublish.currentTxn(spark, root) match {
        case None =>
          // store birth — publish itself CASes on "no parent yet"
          Some(AtomicPublish.publish(spark, root, Map(table -> toWrite),
            partitionBy = layout(partCols), statsBy = layout(statsCols),
            bloomBy = layout(bloomCols), clusterBy = clusterLay,
            bucketBy = bucketLay, checks = checkLay))
        case Some(parent) =>
          val exists =
            AtomicPublish.manifestOf(spark, root, parent).contains(table)
          mode match {
            case SaveMode.ErrorIfExists if exists =>
              throw new IllegalStateException(
                s"table '$table' already exists under $root " +
                  "(SaveMode.ErrorIfExists)")
            case SaveMode.Ignore if exists => Some(parent) // nothing to write
            case _ =>
              // a new table lands via replace (= create); appends to an
              // existing table inherit its recorded layout
              if (!exists || mode == SaveMode.Overwrite)
                AtomicPublish.publishDelta(spark, root,
                  append = Map.empty, replace = Map(table -> toWrite),
                  parent = Some(parent), partitionBy = layout(partCols),
                  statsBy = layout(statsCols), bloomBy = layout(bloomCols),
                  clusterBy = clusterLay, bucketBy = bucketLay,
                  checks = checkLay)
              else {
                require(clusterCols.isEmpty,
                  s"append to '$table' cannot re-declare clustering — " +
                    "the manifest owns the recorded layout (use " +
                    "SaveMode.Overwrite, or let compaction re-sort)")
                // caller-supplied rows: a lost race rebases instead
                // of re-staging (see publishDelta's rebase contract)
                AtomicPublish.publishDelta(spark, root,
                  append = Map(table -> data), parent = Some(parent),
                  bucketBy = bucketLay, rebase = true)
              }
          }
      }
    }
    schemaOnly(ctx, data.schema)
  }
}

object GraftSource {
  private[ops] def optionCols(parameters: Map[String, String],
      key: String): Seq[String] =
    parameters.get(key).map(_.split(",").toSeq.map(_.trim)
      .filter(_.nonEmpty)).getOrElse(Nil)

  /** `bucketBy = "<numBuckets>:<col>[,<col>…]"`. */
  private[ops] def bucketOpt(parameters: Map[String, String])
      : Option[(Seq[String], Int)] =
    parameters.get("bucketBy").map { s =>
      s.split(":", 2) match {
        case Array(n, cs) if n.trim.nonEmpty &&
            scala.util.Try(n.trim.toInt).isSuccess =>
          (cs.split(",").toSeq.map(_.trim).filter(_.nonEmpty),
            n.trim.toInt)
        case _ => throw new IllegalArgumentException(
          s"bucketBy must be '<numBuckets>:<col>[,<col>…]', got '$s'")
      }
    }

  /** `check.<name> = <sql predicate>` options (DataFrameReader
    * lower-cases option keys; constraint names follow). */
  private[ops] def checksOpt(parameters: Map[String, String])
      : Map[String, String] =
    parameters.collect {
      case (k, v) if k.toLowerCase(java.util.Locale.ROOT)
          .startsWith("check.") =>
        k.substring("check.".length) -> v
    }

  /** The writer contract wants a relation back; the store's read face
    * needs options the writer doesn't carry, so return the minimal
    * schema-bearing relation (the pattern every log-backed V1 sink
    * source uses — the returned relation is not queried by `save()`). */
  private[ops] def schemaOnly(ctx: SQLContext,
      dfSchema: StructType): BaseRelation = new BaseRelation {
    override def sqlContext: SQLContext = ctx
    override def schema: StructType = dfSchema
  }
}
