package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction — the table-maintenance op every long-lived
  * parquet table needs: streaming sinks, per-micro-batch publishes, and
  * incremental appends all accrete files far smaller than the ideal
  * scan unit, and at 100 TB the resulting task-per-tiny-file overhead
  * (plus NameNode/listing pressure) dominates read cost.
  *
  * The partition count is derived from the table's ACTUAL on-disk bytes
  * (FS listing — metadata only, no data read), not row counts, so the
  * rewrite hits the target file size regardless of schema width or
  * compression ratio. The rewrite stages into a hidden sibling dir and
  * swaps via two renames; for a fully transactional swap under
  * concurrent readers, compact into an [[AtomicPublish]] root instead
  * (a compaction is just a republish with fewer files).
  */
object Compaction {

  final case class CompactionResult(filesBefore: Int, filesAfter: Int,
      bytes: Long, partitions: Int)

  /** One lock per qualified table path: two same-JVM compactions of one
    * table would otherwise interleave their scratch-dir deletes and
    * renames into data loss (each clears the other's rollback copy).
    * Cross-process maintenance must be externally coordinated — the
    * standard contract for table-maintenance ops. */
  private val tableLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def tableLock(spark: SparkSession, path: Path): Object = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    tableLocks.getOrElseUpdate(fs.makeQualified(path).toString, new Object)
  }

  private def listEntries(spark: SparkSession, path: Path) =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(path).filter { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }

  /** Data files of a FLAT (unpartitioned) table dir. A `partitionBy`
    * layout (subdirectories) is rejected up front: compacting it here
    * would rewrite away the partition columns and their pruning — that
    * layout needs a per-partition compaction, not a whole-table one. */
  private def dataFiles(spark: SparkSession, path: Path) = {
    val entries = listEntries(spark, path)
    val dirs = entries.filter(_.isDirectory)
    require(dirs.isEmpty,
      s"$path is partitioned (${dirs.head.getPath.getName}, ...): compact " +
        "each partition dir individually to preserve the layout")
    entries.filter(_.isFile)
  }

  /** ⌈bytes / targetBytes⌉, floored at 1 — the byte-derived output
    * partition count every corpus-sized rewrite in the engine uses
    * (compaction here, store maintenance in LlmIngest): sizing from
    * ACTUAL bytes instead of a fixed count is what keeps a 100 TB
    * rewrite from funnelling through one task. */
  def partitionsFor(bytes: Long, targetBytes: Long): Int =
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt

  /** Total data-file bytes of a table's owner segments inside an
    * [[AtomicPublish]] store at `txn` — recursive, so partitioned
    * layouts (partition-value subdirectories) are summed too. Metadata
    * only: an FS listing, no data read. */
  def storeTableBytes(spark: SparkSession, root: String, table: String,
      txn: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = AtomicPublish.manifestMetaOf(spark, root, txn)
      .getOrElse(table, throw new IllegalArgumentException(
        s"table '$table' is not in version $txn under $root"))
    meta.owners
      .map { t =>
        val dir = new Path(root, s"v_$t/${meta.dirOf(t, table)}")
        val fs = dir.getFileSystem(conf)
        if (!fs.exists(dir)) 0L
        else {
          val it = fs.listFiles(dir, true)
          var sum = 0L
          while (it.hasNext) {
            val st = it.next()
            val n = st.getPath.getName
            if (!n.startsWith("_") && !n.startsWith(".")) sum += st.getLen
          }
          sum
        }
      }.sum
  }

  /** Partitions needed to land ~`targetBytes` per output file. */
  def compactionPartitions(spark: SparkSession, dir: String,
      targetBytes: Long): Int =
    partitionsFor(dataFiles(spark, new Path(dir)).map(_.getLen).sum, targetBytes)

  /** Data-file bytes of ONE owner segment (FS listing only). */
  private def segmentBytes(spark: SparkSession, root: String,
      table: String, meta: AtomicPublish.TableMeta, owner: String): Long = {
    val dir = new Path(root, s"v_$owner/${meta.dirOf(owner, table)}")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) 0L
    else {
      val it = fs.listFiles(dir, true)
      var sum = 0L
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) sum += st.getLen
      }
      sum
    }
  }

  /** MINOR (tail) compaction — the O(tail) maintenance move for a
    * high-frequency appender: merge the owner chain's SUFFIX of
    * small segments (each under `targetBytes`) into one, while the
    * consolidated head is carried by reference — its files are never
    * read or rewritten ([[AtomicPublish.replaceTail]]). At a 100 TB
    * table fed by micro-batches this is the difference between
    * maintenance that costs O(recent appends) per cycle and a full
    * O(table) rewrite; full [[compactStore]] remains the move that
    * applies tombstones, re-clusters, and migrates schema history.
    *
    * Returns None — and commits NOTHING — when there is nothing worth
    * doing or the precondition fails: fewer than `minSegs` small
    * trailing segments, or the table carries merge-on-read tombstones
    * (their `_asof` scopes reference owner positions, which a suffix
    * rewrite renumbers — the full path applies them instead). A
    * recorded lexicographic clustering is applied WITHIN the merged
    * tail (range-sort), so its file zone maps stay tight; z-order
    * tails stay unsorted until the next full rewrite (the morton
    * quantile pass is corpus-shaped, not tail-shaped). Bucketed
    * tables re-bucket the tail automatically in the publish path. */
  def compactTail(spark: SparkSession, root: String, table: String,
      targetBytes: Long = 128L * 1024 * 1024,
      minSegs: Int = 2): Option[(String, Int)] = {
    import org.apache.spark.sql.functions.col
    AtomicPublish.retryLostRace(s"compactTail under $root") {
      val parent = AtomicPublish.currentTxn(spark, root).getOrElse(
        throw new IllegalStateException(s"no published version under $root"))
      val metas = AtomicPublish.manifestMetaOf(spark, root, parent)
      val m = metas.getOrElse(table, throw new IllegalArgumentException(
        s"table '$table' is not in version $parent under $root"))
      val tombstoned = metas.get(AtomicPublish.deleteTableOf(table))
        .exists(_.owners.nonEmpty)
      val tail = if (tombstoned) Nil else m.owners.reverse
        .takeWhile(o => segmentBytes(spark, root, table, m, o) < targetBytes)
        .reverse
      if (tombstoned || tail.size < minSegs) Some(None) // nothing to do
      else {
        val keep = m.owners.dropRight(tail.size)
        val tailBytes = tail.map(segmentBytes(spark, root, table, m, _)).sum
        val parts = partitionsFor(tailBytes, targetBytes)
        val union = AtomicPublish.readTableSegments(spark, root, table,
          parent, tail)
        val shaped =
          if (m.numBuckets > 0) union // the publish path re-buckets
          else if (m.clusterCols.nonEmpty && !m.clusterZOrder) {
            val key = PartSpec.partitionExprs(m.partitionCols,
              union.schema) ++ m.clusterCols.map(col)
            union.repartitionByRange(parts, key: _*)
              .sortWithinPartitions(key: _*)
          } else if (m.partitionCols.isEmpty) union.repartition(parts)
          else union.repartition(parts,
            PartSpec.partitionExprs(m.partitionCols, union.schema): _*)
        AtomicPublish.replaceTail(spark, root, table, keep, shaped, parent)
          .map(txn => Some((txn, parts)))
      }
    }
  }

  /** PREDICATE-SCOPED compaction — `OPTIMIZE WHERE` for the store
    * (VERDICT-r7 ask #4): rewrite ONLY the owner segments whose zone
    * maps ADMIT `where` (they may hold matching rows) into one
    * consolidated segment, carrying every non-admitting owner BY
    * REFERENCE — untouched files, surviving zone maps
    * ([[AtomicPublish.replaceOwners]]). Re-clustering a 100 TB
    * table's hot partition then costs O(matching segments), not the
    * full-table price. Admission is CONSERVATIVE (zone-map semantics:
    * an owner without stats is admitted), so the scope is always a
    * superset of the predicate's true span — more rewritten, never
    * rows lost. The rewritten subset is re-sorted under the table's
    * recorded lexicographic clustering so its file maps stay tight
    * (z-order re-interleave stays a full-compaction move, like
    * [[compactTail]]).
    *
    * Returns None — commits NOTHING — when fewer than 2 owners admit
    * (nothing to consolidate) or the table carries merge-on-read
    * tombstones (asof scopes pin owner POSITIONS, which a subset
    * rewrite renumbers — run [[compactStore]] to apply them first). */
  def compactWhere(spark: SparkSession, root: String, table: String,
      where: String, targetBytes: Long = 128L * 1024 * 1024)
      : Option[(String, Int)] = {
    import org.apache.spark.sql.functions.col
    AtomicPublish.retryLostRace(s"compactWhere under $root") {
      val parent = AtomicPublish.currentTxn(spark, root).getOrElse(
        throw new IllegalStateException(s"no published version under $root"))
      val metas = AtomicPublish.manifestMetaOf(spark, root, parent)
      val m = metas.getOrElse(table, throw new IllegalArgumentException(
        s"table '$table' is not in version $parent under $root"))
      val tombstoned = metas.get(AtomicPublish.deleteTableOf(table))
        .exists(_.owners.nonEmpty)
      val admitted =
        if (tombstoned) Nil else AtomicPublish.pruneOwners(spark, m, where)
      if (admitted.size < 2) Some(None) // nothing to consolidate
      else {
        val admittedSet = admitted.toSet
        val keep = m.owners.filterNot(admittedSet)
        val bytes = admitted
          .map(segmentBytes(spark, root, table, m, _)).sum
        val parts = partitionsFor(bytes, targetBytes)
        val union = AtomicPublish.readTableSegments(spark, root, table,
          parent, admitted)
        val shaped =
          if (m.numBuckets > 0) union // the publish path re-buckets
          else if (m.clusterCols.nonEmpty && !m.clusterZOrder) {
            val key = PartSpec.partitionExprs(m.partitionCols,
              union.schema) ++ m.clusterCols.map(col)
            union.repartitionByRange(parts, key: _*)
              .sortWithinPartitions(key: _*)
          } else if (m.partitionCols.isEmpty) union.repartition(parts)
          else union.repartition(parts,
            PartSpec.partitionExprs(m.partitionCols, union.schema): _*)
        AtomicPublish.replaceOwners(spark, root, table, keep, shaped,
          parent, op = s"COMPACT WHERE $table ($where)",
          // same logical rows, new layout — CDC consumers ride through
          dataChange = false).map(txn => Some((txn, parts)))
      }
    }
  }

  /** Rewrite `dir` into ~`targetBytes` files. Returns before/after
    * counts. The swap is rename-based (stage → old aside → stage in →
    * drop old) and every rename is CHECKED — Hadoop rename reports
    * failure as `false`, not an exception, and the one unrecoverable
    * ordering (old moved aside, staged swap failed) rolls the original
    * back before throwing so the table is never lost. A reader racing
    * the swap should use an AtomicPublish root, where compaction is a
    * manifest-pointer republish instead. */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): CompactionResult =
    tableLock(spark, new Path(dir)).synchronized {
      compactLocked(spark, dir, targetBytes)
    }

  /** Compact a table INSIDE an [[AtomicPublish]] store: read the live
    * union (however many delta segments own it), rewrite it at
    * ~`targetBytes` per file, and commit as a `replace` delta — the
    * manifest-pointer move the delta format is designed around. The
    * consolidated version becomes the table's single owner, the old
    * segment dirs drop out of the reference closure, and the next
    * vacuum reclaims them. A PARTITIONED table keeps its layout: rows
    * are clustered by the partition columns before the rewrite (each
    * partition value lands in few tasks → few files) and the replace
    * inherits the recorded spec; the union read resolves under the
    * recorded MERGED schema, so compaction also migrates every segment
    * to it (evolved columns materialize as real columns, nulls where a
    * pre-evolution segment lacked them). Readers never see a partial
    * state (the swap is the store's atomic commit), and a concurrent
    * appender losing or winning the CAS is handled by retrying against
    * the new current. Returns (txn, partitions) of the commit. */
  /** Post-commit compaction POLICY, shared by every continuous
    * appender (doc ingest, vector-index ingest): after `txn` landed,
    * consolidate any table whose owner-segment list exceeded
    * `maxOwners` — without a trigger like this, a long-running
    * per-micro-batch appender accrues one owner dir per trigger and
    * the union read's plan grows a relation per segment (a
    * 1000-trigger run = a 1000-branch union). A BASE table also
    * compacts under TOMBSTONE PRESSURE: a delete-heavy table whose
    * `<t>__del` chain exceeds `maxOwners` commits gets its
    * merge-on-read debt applied physically (the replace consumes the
    * tombstones and empties `<t>__del` in the same atomic commit) even
    * if no append ever pushes the base chain over the threshold —
    * otherwise every read pays a growing anti-join forever. Bounded
    * work: each consolidation rewrites one table's live union once per
    * ~maxOwners triggers; the superseded chain becomes
    * vacuum-reclaimable. Failure is non-fatal — the triggering commit
    * has already landed, and the next trigger retries. */
  def autoCompact(spark: SparkSession, root: String, txn: String,
      maxOwners: Int, targetFileBytes: Long): Unit =
    try {
      val metas = AtomicPublish.manifestMetaOf(spark, root, txn)
      metas.foreach { case (table, m) =>
        val tombOwners =
          if (table.endsWith("__del")) 0
          else metas.get(AtomicPublish.deleteTableOf(table))
            .map(_.owners.size).getOrElse(0)
        if (tombOwners > maxOwners) {
          // tombstone pressure: the FULL rewrite is the point — it
          // applies the merge-on-read debt physically
          compactStore(spark, root, table, targetFileBytes)
          ()
        } else if (m.owners.size > maxOwners) {
          // append pressure: O(tail) minor compaction first — the
          // consolidated head is carried by reference. A table with
          // RECORDED CLUSTERING keeps the full rewrite: re-applying
          // the declared layout over the whole table IS its
          // maintenance contract (the ZOrderSpec pin), and a merged
          // unsorted tail would quietly erode file locality. Fall back
          // to the full rewrite too when there is no mergeable small
          // tail (or tombstones block the suffix renumbering).
          val minorDone = m.clusterCols.isEmpty &&
            compactTail(spark, root, table, targetFileBytes).isDefined
          if (!minorDone) {
            compactStore(spark, root, table, targetFileBytes)
            ()
          }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** `clusterBy` turns the rewrite into data CLUSTERING (the
    * `OPTIMIZE … ZORDER`-shaped maintenance move): rows are
    * range-partitioned and sorted by the given columns, so each output
    * file carries a tight disjoint value range — exactly what makes the
    * store's per-FILE zone maps selective again after consolidation
    * collapses the segment-level maps into one all-spanning segment. A
    * point/range read over a clustered stat column then prunes to a
    * handful of files regardless of how many ingest batches built the
    * table. On a partitioned table the cluster key is applied within
    * the partition layout (partition columns lead the range key).
    *
    * `zOrder = true` clusters on the MORTON INTERLEAVE of the
    * `clusterBy` columns' rank buckets ([[ZOrder]]) instead of their
    * lexicographic order: every clustered dimension gets ~√-quality
    * file locality, so point/range reads on ANY of them prune — where
    * lexicographic clustering serves only the leading column. Needs
    * 2-4 NUMERIC cluster columns on a flat (unpartitioned) table; one
    * extra `approxQuantile` pass computes the rank boundaries. */
  def compactStore(spark: SparkSession, root: String, table: String,
      targetBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Nil,
      zOrder: Boolean = false): (String, Int) = {
    import org.apache.spark.sql.functions.col
    AtomicPublish.retryLostRace(s"compactStore under $root") {
      val parent = AtomicPublish.currentTxn(spark, root).getOrElse(
        throw new IllegalStateException(s"no published version under $root"))
      val meta = AtomicPublish.manifestMetaOf(spark, root, parent)
        .getOrElse(table, throw new IllegalArgumentException(
          s"table '$table' is not in version $parent under $root"))
      val bytes = storeTableBytes(spark, root, table, parent)
      val parts = partitionsFor(bytes, targetBytes)
      // the layout to apply: an explicit clusterBy overrides (and is
      // RECORDED into the manifest); a bare compactStore — including
      // every autoCompact — re-applies the table's recorded clustering,
      // so consolidation never silently destroys file-level locality a
      // z-order/cluster rewrite bought
      val (ccols, cz) =
        if (clusterBy.nonEmpty) (clusterBy, zOrder)
        else (meta.clusterCols, meta.clusterZOrder)
      // readTableAt applies merge-on-read tombstones, so the rewrite IS
      // the physical delete; the tombstone table empties in the SAME
      // commit — a reader never sees "applied twice" or "not yet"
      val union = AtomicPublish.readTableAt(spark, root, table, parent)
      val consolidated =
        if (meta.numBuckets > 0) {
          // a bucketed table's layout is owned by its bucket spec: the
          // publish path re-distributes `repartition(numBuckets, keys)`
          // anyway, so any pre-shaping here would just add a shuffle.
          // Clustering is refused on bucketed tables at declaration, so
          // no cluster spec can need applying.
          require(ccols.isEmpty,
            s"table '$table' is bucketed — clusterBy does not apply")
          union
        } else if (cz) {
          require(ccols.size >= 2 && ccols.size <= 4,
            s"zOrder clustering needs 2-4 columns, got $ccols")
          require(meta.partitionCols.isEmpty,
            "zOrder clustering applies to flat tables (partition dirs " +
              "already split the layout; cluster within them instead)")
          ccols.foreach { c =>
            require(meta.schema.fieldNames.contains(c) && meta.schema(c)
              .dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
              s"zOrder column '$c' must be a numeric column of '$table'")
          }
          // one quantile pass for ALL columns' rank boundaries
          val bs = union.stat.approxQuantile(ccols.toArray,
            ZOrder.probs, 0.001)
          if (bs.exists(_.length != ZOrder.Buckets - 1))
            // degenerate stats (empty table after deletes, or an
            // all-null column): there is nothing to interleave —
            // fall back to the lexicographic cluster rewrite, which
            // handles empty/null inputs natively
            union.repartitionByRange(parts, ccols.map(col): _*)
              .sortWithinPartitions(ccols.map(col): _*)
          else {
            val z = ZOrder.zCol(ccols.zip(bs).map { case (c, b) =>
              ZOrder.bucketCol(col(c), b.toSeq)
            })
            union.withColumn("__z", z)
              .repartitionByRange(parts, col("__z"))
              .sortWithinPartitions(col("__z"))
              .drop("__z")
          }
        } else if (ccols.nonEmpty) {
          val key = PartSpec.partitionExprs(meta.partitionCols,
            union.schema) ++ ccols.map(col)
          union.repartitionByRange(parts, key: _*)
            .sortWithinPartitions(key: _*)
        } else if (meta.partitionCols.isEmpty) union.repartition(parts)
        else union.repartition(parts,
          PartSpec.partitionExprs(meta.partitionCols, union.schema): _*)
      // publishDelta auto-clears the table's merge-on-read tombstones
      // on any replace — the live read above already consumed them
      AtomicPublish.publishDelta(spark, root, append = Map.empty,
        replace = Map(table -> consolidated),
        parent = Some(parent),
        clusterBy = Map(table -> (ccols, cz)),
        opLabel = Some(s"COMPACT $table"),
        // the rewrite carries exactly the live rows (tombstone debt is
        // APPLIED, not a content change: killed rows were already dead
        // to every reader) — CDC consumers ride through
        dataChange = false).map(_ -> parts)
    }
  }

  private def compactLocked(spark: SparkSession, dir: String,
      targetBytes: Long): CompactionResult = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = dataFiles(spark, path)
    val bytes = before.map(_.getLen).sum
    val parts = partitionsFor(bytes, targetBytes)
    val staged = new Path(path.getParent, s".compact_${path.getName}")
    val old = new Path(path.getParent, s".old_${path.getName}")
    // leftovers of a crashed prior run would make the renames below
    // report false; clear them first (staged/old are ours by contract)
    fs.delete(staged, true)
    fs.delete(old, true)
    spark.read.parquet(dir)
      .repartition(parts)
      .write.mode("overwrite").parquet(staged.toString)
    if (!fs.rename(path, old))
      throw new java.io.IOException(s"compact: cannot move $path aside")
    if (!fs.rename(staged, path)) {
      // roll back — and if THAT rename also fails the table has vanished
      // from `path`, so the error must say where the data actually is
      if (fs.rename(old, path))
        throw new java.io.IOException(
          s"compact: cannot swap $staged into $path (original rolled back)")
      else
        throw new java.io.IOException(
          s"compact: cannot swap $staged into $path AND rollback failed — " +
            s"the original table data is stranded at $old; restore it " +
            s"manually with a rename to $path")
    }
    fs.delete(old, true)
    CompactionResult(before.length,
      dataFiles(spark, path).length, bytes, parts)
  }
}
