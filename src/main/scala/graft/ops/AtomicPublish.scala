package graft.ops

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, element_at, input_file_name, lit, regexp_extract, timestamp_micros, typedLit, unix_micros, when}
import org.apache.spark.sql.types._

/** Partition-spec grammar: an entry of [[AtomicPublish.TableMeta
  * .partitionCols]] is either an IDENTITY column name (`region`) or a
  * CALENDAR transform `years(ts)` / `months(ts)` / `days(ts)` /
  * `hours(ts)` — Iceberg's hidden
  * partitioning, re-expressed over the manifest: the transform's
  * ordinal (UTC units since epoch) is materialized at WRITE
  * time into a derived directory column (`ts__day=19234/`), the source
  * column stays in the data files untouched, and READS derive
  * partition bounds from predicates on the RAW column — the user
  * filters on `ts`, never on a hand-maintained date column
  * (VERDICT-r7 ask #2: event/log tables default to time layouts, and
  * without this the layout leaks into every query).
  *
  * Ordinals are UTC-anchored and timezone-free by construction: a
  * timestamp's micros-since-epoch floor-divide to days, and months
  * decompose from the UTC day via tz-free DATE arithmetic — so a table
  * written and read under different session zones prunes identically.
  * Conservative by design: only top-level conjuncts on the source
  * column translate to ordinal bounds; anything else keeps every
  * partition (correctness never depends on the translation — the full
  * predicate re-evaluates above the scan). */
private[ops] object PartSpec {

  import org.apache.spark.sql.functions.{datediff, hour, lit => flit, month, pmod, to_date, unix_micros, year, date_add}

  /** A parsed calendar transform. `derivedName` is the directory
    * column (double-underscore infix: never collides with the manifest
    * sidecar convention of a LEADING underscore, and a user column of
    * the same name is refused at declaration). */
  final case class Transform(kind: String, src: String) {
    def derivedName: String = s"${src}__" + (kind match {
      case "days" => "day"
      case "months" => "month"
      case "years" => "year"
      case "hours" => "hour"
    })
    def render: String = s"$kind($src)"
  }

  private val TransformRe = "^(days|months|years|hours)\\(([^()]+)\\)$".r

  /** Some(transform) for a transform spec, None for an identity column. */
  def parse(spec: String): Option[Transform] = spec match {
    case TransformRe(kind, src) => Some(Transform(kind, src.trim))
    case _ => None
  }

  def transformsOf(pcols: Seq[String]): Seq[Transform] =
    pcols.flatMap(parse)

  def identityCols(pcols: Seq[String]): Seq[String] =
    pcols.filter(parse(_).isEmpty)

  /** The physical directory-column name of one spec entry. */
  def physicalName(spec: String): String =
    parse(spec).map(_.derivedName).getOrElse(spec)

  /** Columns a spec entry reads (identity: itself; transform: source). */
  def referencedCol(spec: String): String =
    parse(spec).map(_.src).getOrElse(spec)

  /** Spec entry with a renamed source column. */
  def renameIn(spec: String, from: String, to: String): String =
    parse(spec) match {
      case Some(t) if t.src == from => t.copy(src = to).render
      case Some(t) => t.render
      case None => if (spec == from) to else spec
    }

  /** UTC epoch-day of a date/timestamp column — exact integer
    * arithmetic: `(us - pmod(us, d)) / d` divides an exact multiple,
    * which IEEE doubles round exactly for |us| < 2^53 (year ~2255).
    *
    * TIMESTAMP_NTZ (ADVICE-r8 medium) cannot go through `unix_micros`
    * (DATATYPE_MISMATCH in Spark 4.1.2), so its ordinal derives
    * zone-free from the wall clock: `cast(c as date)` truncates the
    * NTZ wall-clock date with no session-zone involvement, which
    * equals `floorDiv(ntzMicros, day)` — the same value the read-side
    * [[ordinalOf]] computes from an NTZ literal's internal micros. */
  private def epochDay(c: Column, dt: DataType): Column = dt match {
    case DateType => datediff(c, to_date(flit("1970-01-01")))
    case TimestampNTZType =>
      datediff(c.cast(DateType), to_date(flit("1970-01-01")))
    case _ =>
      val us = unix_micros(c)
      val d = flit(86400000000L)
      ((us - pmod(us, d)) / d).cast(IntegerType)
  }

  /** UTC epoch-hour (timestamps only — hour of a DateType is 0).
    * NTZ: `hour(c)` extracts the wall-clock hour field (zone-free over
    * NTZ), so `day*24 + hour` equals `floorDiv(ntzMicros, hour)` —
    * including pre-1970 values (day is floored negative, hour stays
    * 0..23). */
  private def epochHour(c: Column, dt: DataType): Column = dt match {
    case DateType => datediff(c, to_date(flit("1970-01-01"))) * flit(24)
    case TimestampNTZType => epochDay(c, dt) * flit(24) + hour(c)
    case _ =>
      val us = unix_micros(c)
      val d = flit(3600000000L)
      ((us - pmod(us, d)) / d).cast(IntegerType)
  }

  /** The derivation expression for one transform over its source. */
  def derive(t: Transform, c: Column, dt: DataType): Column = t.kind match {
    case "days" => epochDay(c, dt)
    case "hours" => epochHour(c, dt)
    case _ =>
      // months/years decompose from the UTC day via DATE functions —
      // which are timezone-free over DateType, unlike year()/month()
      // over a timestamp (session-zone-dependent)
      val date = date_add(to_date(flit("1970-01-01")), epochDay(c, dt))
      val ord =
        if (t.kind == "months")
          (year(date) - flit(1970)) * flit(12) + month(date) - flit(1)
        else year(date) - flit(1970)
      ord.cast(IntegerType)
  }

  /** Shuffle/cluster expressions for a partition spec over a frame of
    * `schema` — identity entries by column, transforms by their
    * derivation (so a rewrite co-locates rows of one partition dir
    * without materializing the derived column). */
  def partitionExprs(pcols: Seq[String], schema: StructType): Seq[Column] =
    pcols.map { spec =>
      parse(spec) match {
        case None => org.apache.spark.sql.functions.col(spec)
        case Some(t) => derive(t,
          org.apache.spark.sql.functions.col(t.src),
          schema(t.src).dataType)
      }
    }

  /** The transform ordinal of one LITERAL of the source column's type
    * (micros Long for timestamps, epoch-day Int for dates) — the
    * read-side mirror of [[derive]]. None: untranslatable. */
  def ordinalOf(t: Transform, value: Any, dt: DataType): Option[Int] = {
    val day: Option[Long] = (dt, value) match {
      case (_, null) => None
      case (DateType, d: java.lang.Integer) => Some(d.longValue())
      case (TimestampType | TimestampNTZType, us: java.lang.Long) =>
        Some(Math.floorDiv(us.longValue(), 86400000000L))
      case _ => None
    }
    t.kind match {
      case "hours" => (dt, value) match {
        case (_, null) => None
        case (DateType, d: java.lang.Integer) => Some(d.intValue() * 24)
        case (TimestampType | TimestampNTZType, us: java.lang.Long) =>
          Some(Math.floorDiv(us.longValue(), 3600000000L).toInt)
        case _ => None
      }
      case _ => day.map { d =>
        t.kind match {
          case "days" => d.toInt
          case "months" =>
            val ld = java.time.LocalDate.ofEpochDay(d)
            (ld.getYear - 1970) * 12 + (ld.getMonthValue - 1)
          case _ => java.time.LocalDate.ofEpochDay(d).getYear - 1970
        }
      }
    }
  }

  /** An ordinal-level test derived from `pred`'s TOP-LEVEL conjuncts
    * on the transform's source column, or None when nothing
    * translates. The test is CONSERVATIVE (a superset of matching
    * ordinals): `ts > L` admits the whole boundary day/month. */
  def ordinalTest(
      pred: org.apache.spark.sql.catalyst.expressions.Expression,
      t: Transform, dt: DataType): Option[Int => Boolean] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def isSrc(x: ce.Expression): Boolean = x match {
      case a: ce.AttributeReference => a.name == t.src
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.length == 1 && a.nameParts.head == t.src
      case _ => false
    }
    def ord(l: ce.Expression): Option[Int] = l match {
      case lt: ce.Literal => ordinalOf(t, lt.value, lt.dataType)
      case _ => None
    }
    def conjuncts(x: ce.Expression): Seq[ce.Expression] = x match {
      case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val tests: Seq[Int => Boolean] = conjuncts(pred).flatMap {
      case ce.EqualTo(a, v) if isSrc(a) => ord(v).map(o => (x: Int) => x == o)
      case ce.EqualTo(v, a) if isSrc(a) => ord(v).map(o => (x: Int) => x == o)
      case ce.GreaterThan(a, v) if isSrc(a) =>
        ord(v).map(o => (x: Int) => x >= o)
      case ce.GreaterThanOrEqual(a, v) if isSrc(a) =>
        ord(v).map(o => (x: Int) => x >= o)
      case ce.LessThan(a, v) if isSrc(a) =>
        ord(v).map(o => (x: Int) => x <= o)
      case ce.LessThanOrEqual(a, v) if isSrc(a) =>
        ord(v).map(o => (x: Int) => x <= o)
      case ce.GreaterThan(v, a) if isSrc(a) =>
        ord(v).map(o => (x: Int) => x <= o)
      case ce.GreaterThanOrEqual(v, a) if isSrc(a) =>
        ord(v).map(o => (x: Int) => x <= o)
      case ce.LessThan(v, a) if isSrc(a) =>
        ord(v).map(o => (x: Int) => x >= o)
      case ce.LessThanOrEqual(v, a) if isSrc(a) =>
        ord(v).map(o => (x: Int) => x >= o)
      case ce.In(a, vs) if isSrc(a) && vs.nonEmpty =>
        val ords = vs.map(ord)
        if (ords.forall(_.isDefined)) {
          val set = ords.map(_.get).toSet
          Some((x: Int) => set.contains(x))
        } else None
      case _ => None
    }
    if (tests.isEmpty) None
    else Some((x: Int) => tests.forall(_(x)))
  }
}

/** Always-FALSE nondeterministic leaf — the pushdown barrier of the
  * per-row CHECK guard ([[AtomicPublish]] `checkGuarded`, ADVICE-r8
  * medium). `guard || GuardBarrier()` makes the enforcement Filter's
  * condition nondeterministic, so no optimizer rule moves it below the
  * user's slice plan (PushDownPredicates) or evaluates it eagerly over
  * local data (ConvertToLocalRelation) — the guard raises only on rows
  * that actually reach the writer. Runtime cost is zero: Or
  * short-circuits left-to-right and the guard branch is `true` or
  * raises, so the barrier itself is never evaluated. */
private[ops] case class GuardBarrier()
    extends org.apache.spark.sql.catalyst.expressions.LeafExpression
    with org.apache.spark.sql.catalyst.expressions.Nondeterministic
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(
      input: org.apache.spark.sql.catalyst.InternalRow): Any = false
  override def prettyName: String = "graft_check_barrier"
}

/** Atomic multi-table publish (SURVEY.md §2.1; reference transaction
  * boundary: /root/reference/app/api/routes.py:86-148 persists patients,
  * consents, clinical, audit and run-metadata under ONE `db.commit()` at
  * :148 — a mid-request failure rolls all of them back).
  *
  * Parquet has no transactions, so the commit observable is rebuilt from
  * the two primitives a distributed FS does give us: write-to-fresh-paths
  * and atomic rename. Layout under a publish root:
  *
  * {{{
  *   root/v_<txn>/<table>/        versioned immutable table data
  *   root/_CURRENT                manifest naming the live txn + tables
  *   root/_LOCK                   cross-process commit lease (transient)
  * }}}
  *
  * `publish` stages every table under a hidden scratch dir, renames the
  * whole dir to its versioned location only after ALL writes succeeded,
  * and finally swaps `_CURRENT` via an atomic overwrite-rename. Readers
  * resolve `_CURRENT` first, so they see either the complete old set of
  * tables or the complete new one — never a mix, exactly the reference's
  * all-or-nothing commit. A crash at any point leaves `_CURRENT` (and
  * everything it references) untouched; orphaned scratch/version dirs are
  * invisible garbage, reclaimed by `vacuum`. The pointer swap is atomic
  * per scheme: HDFS rename(OVERWRITE) server-side, POSIX rename(2) on the
  * local fs (where Hadoop's own overwrite-rename is a non-atomic
  * delete+rename — see the commit step).
  *
  * Tables may be PARTITIONED: a partition spec given at publish time is
  * written `partitionBy` the named columns, recorded in the manifest, and
  * carried through appends (which must keep the layout), replaces
  * (which inherit it unless overridden), reads (partition values resolve
  * from the directory layout, so a filter on a partition column prunes
  * the scan — PlanAuditSpec pins PartitionFilters on a store read) and
  * store compaction. Each table's SCHEMA is recorded in the manifest as
  * well: appends validate against it (a same-name column with a
  * conflicting type fails fast — the ADVICE silent-drift hole), new
  * columns widen it, and readers read the union under the RECORDED merged
  * schema — no `mergeSchema` footer sweep over every file at read time,
  * and a segment written before a column existed serves nulls for it.
  *
  * At 100 TB this costs what the plain writes cost: the commit step moves
  * ZERO data — one directory rename plus one small-file swap — and never
  * touches the driver with row data. (This is the same observable an
  * Iceberg/Delta-style metadata pointer provides, built on the FS alone.)
  */
object AtomicPublish {

  private val CurrentFile = "_CURRENT"
  private val CommitMarker = "_COMMITTED"
  private val LockFile = "_LOCK"

  /** One bin of a column's equi-height histogram: value range (as
    * doubles — the estimator's own dialect) plus the bin's distinct
    * count. `lo == hi` marks a heavy hitter (a value wide enough to
    * span whole quantile steps). */
  final case class HistBin(lo: Double, hi: Double, ndv: Long)

  /** Equi-height histogram of one column in one segment: `bins.size`
    * buckets of ~`height` rows each, boundaries at the column's
    * k/n-quantiles (approx_percentile at publish). This is the
    * range-selectivity input NDV cannot provide: a `BETWEEN` on a
    * skewed column estimates from the bins actually covering the
    * range, not from min/max uniformity. Per-bin NDV is estimated as
    * total-NDV/bins (1 for a collapsed heavy-hitter bin) — bin
    * BOUNDARIES carry the range signal; bin NDV only shades equality
    * estimates, where the segment-level NDV already anchors. */
  final case class ColHist(height: Double, bins: Seq[HistBin])

  /** How many equi-height buckets a published histogram carries. */
  val HistogramBins = 32

  /** Which column types carry a histogram: the plain numeric set whose
    * double cast is exact-enough geometry for an estimator (the same
    * set whose zone-map rendering doubles as `CatalogColumnStat`
    * min/max — timestamps keep their micro-encoded zone maps for
    * pruning but sit out of the double-dialect estimator inputs). */
  private[ops] def histEligible(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt == ByteType || dt == ShortType || dt == IntegerType ||
      dt == LongType || dt == FloatType || dt == DoubleType
  }

  /** Merge per-owner equi-height histograms into one table-level
    * histogram — the mount-time analog of summing owner NDVs. Exact
    * equi-height merge would need the raw data; the approximation:
    * each owner bin drops half its mass on each endpoint, and the
    * merged boundaries are the weighted quantiles of that point set
    * (a 2-point summary per bin — monotone by construction, within a
    * half-bin of the true mixture quantile per owner). Heights rescale
    * so total mass is preserved; per-bin NDV re-estimates from the
    * summed owner NDVs. Single-owner mounts pass through exactly. */
  private[ops] def mergeHists(hs: Seq[ColHist]): Option[ColHist] = {
    if (hs.isEmpty) return None
    if (hs.size == 1) return Some(hs.head)
    val pts = hs.flatMap(h => h.bins.flatMap(b =>
      Seq((b.lo, h.height / 2), (b.hi, h.height / 2)))).sortBy(_._1)
    val total = pts.iterator.map(_._2).sum
    if (!(total > 0)) return None
    val nb = HistogramBins
    val cum = pts.scanLeft(0.0)(_ + _._2).tail
    def quantile(q: Double): Double = {
      val i = cum.indexWhere(_ >= q * total - 1e-9)
      pts(if (i < 0) pts.length - 1 else i)._1
    }
    val bounds = (0 to nb).map(k => quantile(k.toDouble / nb))
    val totalRows = hs.iterator.map(h => h.height * h.bins.size).sum
    val ndvSum = hs.iterator.flatMap(_.bins).map(_.ndv).sum
    val perBin = math.max(1L, math.round(ndvSum.toDouble / nb))
    Some(ColHist(totalRows / nb, (0 until nb).map { i =>
      val lo = bounds(i); val hi = bounds(i + 1)
      HistBin(lo, hi, if (lo == hi) 1L else perBin)
    }))
  }

  /** One column's zone-map entry for one segment: min/max rendered as
    * strings (timestamps as epoch micros — timezone-independent; every
    * other atomic type via Spark's lossless string cast) plus the null
    * count. `min`/`max` are None iff the segment holds no non-null
    * value for the column (all-null, or the column postdates the
    * segment — either way a comparison predicate cannot match).
    * `ndv`/`hist` are planner-statistics extras recorded by the same
    * publish-time stats scan; absent on pre-r11/pre-r12 manifests. */
  final case class ColStat(min: Option[String], max: Option[String],
      nulls: Long, ndv: Option[Long] = None,
      hist: Option[ColHist] = None)

  /** Zone map of ONE owner segment: row count + per-stat-column stats
    * + the segment's total data-file BYTES (recorded at publish since
    * r11 so planner statistics — CatalogStatistics sizeInBytes — come
    * from the manifest with ZERO file listing; the metadata-only
    * aggregate path must never pay a directory walk it exists to
    * avoid). Segments recorded before stats/bytes existed simply have
    * no entry — readers keep them conservatively. */
  final case class SegStats(rows: Long, cols: Map[String, ColStat],
      bytes: Option[Long] = None)

  /** Per-table manifest record: owning version dirs (the table is the
    * union of `v_<owner>/<table>` reads), the recorded logical schema
    * (JSON `StructType`, required — every read mounts under it), the
    * partition columns its segments are laid out by (empty = flat), the
    * columns zone maps are kept for, the per-owner zone maps themselves, and —
    * one level below — per-FILE zone maps (owner → relative file path →
    * stats). File maps are what keep data skipping alive AFTER
    * compaction consolidates many segments into one: segment-level
    * stats of the consolidated owner span the whole table, but its
    * files (especially once clustered, [[graft.ops.Compaction
    * .compactStore]] `clusterBy`) still carry tight ranges. Manifest
    * cost is O(files × statCols) for the stat-carrying tables only, and
    * compaction bounds the file count. */
  final case class TableMeta(owners: Seq[String],
      schemaJson: String,
      partitionCols: Seq[String] = Nil,
      statCols: Seq[String] = Nil,
      segStats: Map[String, SegStats] = Map.empty,
      fileStats: Map[String, Map[String, SegStats]] = Map.empty,
      bloomCols: Seq[String] = Nil,
      /** Declared clustering layout ([[graft.ops.Compaction
        * .compactStore]] `clusterBy`), RECORDED so maintenance
        * re-applies it: without this, the next bare compaction would
        * consolidate with an unclustered rewrite and silently destroy
        * the file-level locality a z-order/cluster rewrite bought. */
      clusterCols: Seq[String] = Nil,
      clusterZOrder: Boolean = false,
      /** Declared hash-bucketing layout: every segment of the table is
        * written `repartition(numBuckets, bucketCols)` with bucket ids
        * encoded in the file names (Spark's own `_%05d` convention), so
        * EVERY read face mounts the relation with a [[org.apache.spark
        * .sql.catalyst.catalog.BucketSpec]] and reports
        * `HashPartitioning(bucketCols, numBuckets)` — joins and
        * aggregations on the bucket key plan WITHOUT an exchange on
        * this side. The manifest owns the layout (like partitionCols):
        * appends inherit it, compaction re-applies it, a mismatched
        * redeclaration is refused. The 100 TB co-location strategy:
        * two tables bucketed the same way join shuffle-free forever. */
      bucketCols: Seq[String] = Nil,
      numBuckets: Int = 0,
      /** Named CHECK constraints (name → SQL predicate), enforced on
        * EVERY write face before the commit stages: a slice holding a
        * row where the predicate evaluates to FALSE refuses the whole
        * commit (SQL semantics — NULL passes). The engine-side
        * generalization of the reference's request validation
        * (/root/reference/app/services/validation.py — Draft-7 checks
        * at the API edge): here the TABLE owns its invariants, so no
        * write face can bypass them. Delta's CHECK-constraint shape. */
      checks: Map[String, String] = Map.empty,
      /** Physical directory name per owner, where it differs from the
        * table's own name — the indirection a ZERO-COPY clone
        * ([[cloneTable]]) stands on: a cloned table's inherited owners
        * keep pointing at `v_<owner>/<sourceName>` while its OWN later
        * segments land under `v_<owner>/<cloneName>` as usual. Absent
        * entry = the table's name (the overwhelmingly common case —
        * manifests without clones carry no `#dirs:` line at all). */
      ownerDirs: Map[String, String] = Map.empty,
      /** PARTITION-SPEC EVOLUTION (Iceberg's spec-evolution shape,
        * restricted to CALENDAR TRANSFORMS): the partition spec each
        * owner was WRITTEN under, where it differs from the table's
        * current `partitionCols`. [[setPartitionSpec]] records the
        * old spec for every existing owner in one O(1) metadata
        * commit; new appends lay out under the new spec; reads parse
        * and prune each owner against ITS spec. The identity entries
        * of every spec are the same set by construction (only
        * transforms may evolve — identity columns live in dirs, not
        * files, so changing them would fork the data schema per
        * owner). Failure mode is SAFE by design: an entry lost by a
        * careless meta rewrite makes that owner's dirs unparseable
        * under the current spec, which degrades to "no transform
        * pruning for that owner" — never wrong rows. Compaction
        * rewrites consolidate under the current spec and clear the
        * rewritten owners' entries. */
      ownerParts: Map[String, Seq[String]] = Map.empty) {
    def schema: StructType =
      DataType.fromJson(schemaJson).asInstanceOf[StructType]
    /** The directory component of `owner`'s segment of this table. */
    def dirOf(owner: String, table: String): String =
      ownerDirs.getOrElse(owner, table)
    /** The partition spec `owner`'s segment was laid out under. */
    def partsOf(owner: String): Seq[String] =
      ownerParts.getOrElse(owner, partitionCols)
  }

  /** Commit-concurrency observability (multi-writer triage + spec
    * instrumentation): `staged` counts commits that WROTE data (one
    * staging = one evaluation of the caller's frames — a recompute
    * retry stages again, a rebase does not); `rebased` counts commits
    * that LANDED on a parent other than the one they staged against
    * (a lost CAS resolved without restaging); `conflicts` counts
    * refused rebases, with the last refusal's reason in
    * `lastConflict` (the named-conflict surface: why the writers
    * could not be proven disjoint). */
  object Concurrency {
    val staged = new java.util.concurrent.atomic.AtomicLong
    val rebased = new java.util.concurrent.atomic.AtomicLong
    val conflicts = new java.util.concurrent.atomic.AtomicLong
    @volatile var lastConflict: String = ""
  }

  /** Record a refused rebase and fall back to the caller's lost-CAS
    * contract (None → recompute-and-retry, the pre-rebase behavior). */
  private def rebaseConflict(reason: String): Option[String] = {
    Concurrency.conflicts.incrementAndGet()
    Concurrency.lastConflict = reason
    None
  }

  /** Overwrite a SEALED version dir's `_MANIFEST` with the rebased
    * manifest about to be committed: every durable read of a version —
    * [[manifestMetaOf]] (time travel, CDC, restore) and vacuum's
    * reference closure — goes through `v_txn/_MANIFEST`, so it must
    * say exactly what `_CURRENT` will. Safe to rewrite: the dir is
    * sealed but NOT yet committed (no reader resolves it), and a crash
    * here leaves a consistent uncommitted dir for vacuum. */
  private def rewriteSealedManifest(spark: SparkSession, root: String,
      txn: String, manifest: String): Unit = {
    val p = new Path(new Path(root, s"v_$txn"), ManifestFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write(manifest.getBytes(StandardCharsets.UTF_8))
    finally os.close()
  }

  /** One lock object per publish root (same-JVM commit serialization),
    * keyed on the FS-qualified path so spelling aliases of one root
    * ("/p", "/p/", "file:/p") share a lock. */
  private val commitLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def commitLock(spark: SparkSession, root: String): Object = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    commitLocks.getOrElseUpdate(fs.makeQualified(p).toString, new Object)
  }

  /** Txns whose scratch dirs are mid-write in THIS JVM (registered for
    * the whole publish, not just the pointer swap): vacuum must not
    * reclaim a staging dir a live publisher is still filling — deleting
    * it aborts that publish's parquet job. Cross-process in-flight
    * publishes (staging AND sealed-not-yet-committed `v_` dirs) are
    * covered by vacuum's `graceMs` window instead. */
  private val inFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // --- cross-process commit lease --------------------------------------------

  /** A lease older than this is presumed abandoned (holder crashed
    * between acquire and release) and may be broken. The lease is held
    * only across the pointer swap — milliseconds — so a minute of age is
    * orders of magnitude past any live holder. */
  private[ops] val LeaseStaleMs = 60000L
  private[ops] val LeaseMaxWaitMs = 120000L

  /** Acquire the root's commit lease: an atomic create-if-absent of
    * `_LOCK`. On HDFS `create(overwrite=false)` is atomic server-side;
    * on the local scheme Hadoop's version is check-then-act, so NIO
    * `createFile` (O_EXCL) is used instead — also keeping the checksum
    * layer (and its immortal .crc sidecars) out of the lock path.
    *
    * A stale lease (mtime older than `staleMs`) is broken by RENAMING it
    * to a unique tombstone first: rename is atomic on both schemes, so
    * of N processes that all judge the lease stale exactly ONE wins the
    * rename (the rest fail and loop) — the delete-then-create race where
    * two breakers both think they own the new lease cannot happen. */
  private[ops] def acquireLease(spark: SparkSession, root: String,
      token: String, maxWaitMs: Long = LeaseMaxWaitMs,
      staleMs: Long = LeaseStaleMs): Unit = {
    val lock = new Path(root, LockFile)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val local = fs.makeQualified(lock).toUri.getScheme == "file"
    val nio = java.nio.file.Paths.get(fs.makeQualified(lock).toUri.getPath)
    val deadline = System.currentTimeMillis() + maxWaitMs
    while (true) {
      val acquired =
        try {
          if (local) {
            java.nio.file.Files.write(nio,
              token.getBytes(StandardCharsets.UTF_8),
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE)
          } else {
            val out = fs.create(lock, false)
            try out.write(token.getBytes(StandardCharsets.UTF_8))
            finally out.close()
          }
          true
        } catch { case _: java.io.IOException => false }
      if (acquired) return
      // held by someone: break it only if provably stale
      try {
        val st = fs.getFileStatus(lock)
        if (System.currentTimeMillis() - st.getModificationTime > staleMs) {
          val tomb = new Path(root, s"._lock_broken_${token.take(12)}_" +
            java.util.UUID.randomUUID().toString.take(8))
          val won =
            if (local)
              try {
                java.nio.file.Files.move(nio, java.nio.file.Paths
                  .get(fs.makeQualified(tomb).toUri.getPath))
                true
              } catch { case _: java.io.IOException => false }
            else fs.rename(lock, tomb)
          if (won) fs.delete(tomb, false)
        }
      } catch { case _: java.io.FileNotFoundException => () }
      if (System.currentTimeMillis() > deadline)
        throw new java.io.IOException(
          s"cannot acquire commit lease $lock within ${maxWaitMs}ms — " +
            "another committer holds it (or its breaker keeps losing); " +
            "a crashed holder's lease self-expires after " +
            s"${staleMs}ms and is then broken automatically")
      Thread.sleep(10)
    }
  }

  /** Release the lease IF still ours: the content is read back and
    * compared to `token` before deleting, so a holder whose stale-judged
    * lease was broken and re-issued never deletes the new holder's lock.
    * (The read-then-delete window is not atomic — closing it needs a
    * conditional delete the FS does not offer — but entering it requires
    * the current holder to have held past [[LeaseStaleMs]], a thousand
    * times the swap's wall clock.) */
  private[ops] def releaseLease(spark: SparkSession, root: String,
      token: String): Unit = {
    val lock = new Path(root, LockFile)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val in = fs.open(lock)
      val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      if (content == token) { fs.delete(lock, false); () }
    } catch { case _: java.io.FileNotFoundException => () }
  }

  // --- manifest ---------------------------------------------------------------

  /** Manifest grammar: txn id, then one line per table — a bare name
    * (data lives in THIS version's dir) or `name=t1,t2,…` (the UNION of
    * those versions' dirs — the append/carry representation, so
    * re-publishing unchanged history never copies it) — then optional
    * metadata lines such as `#parts:name=c1,c2` (partition columns) and
    * `#schema:name=<StructType JSON>` (the recorded merged schema —
    * required for every table; the other `#` lines are optional). The
    * same content is written as `_CURRENT` at commit and
    * as `_MANIFEST` inside the version dir (time-travel readers and
    * vacuum's reference chase resolve the latter). */
  private val ManifestFile = "_MANIFEST"

  /** JSON string literal with full escaping — stats values may contain
    * any character, and the manifest is line-oriented, so everything
    * below ' ' must leave as an escape. */
  private def jq(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** One segment's zone map as a single-line JSON object:
    * `{"_rows":N,"c":[min,max,nulls(,ndv(,hist)?)?],…}` with min/max
    * JSON strings or null; the optional fourth entry is the column's
    * approximate distinct count (HLL++, recorded at publish — the
    * planner-statistics input) and the optional fifth its equi-height
    * histogram `[height,[[lo,hi,ndv],…]]`. Column order is sorted for
    * deterministic rendering; shorter arrays from pre-NDV / pre-hist
    * manifests parse with the tail absent. */
  private def renderSegStats(s: SegStats): String = {
    def jd(d: Double): String = // JSON double (finiteness guarded upstream)
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    def renderHist(h: ColHist): String =
      s"[${jd(h.height)},[" + h.bins.map(b =>
        s"[${jd(b.lo)},${jd(b.hi)},${b.ndv}]").mkString(",") + "]]"
    val cols = s.cols.toSeq.sortBy(_._1).map { case (c, st) =>
      // positional grammar: a histogram can only ride behind an NDV
      val tail = st.ndv match {
        case Some(n) => "," + n +
          st.hist.map(h => "," + renderHist(h)).getOrElse("")
        case None => ""
      }
      s"${jq(c)}:[${st.min.map(jq).getOrElse("null")}," +
        s"${st.max.map(jq).getOrElse("null")},${st.nulls}$tail]"
    }
    val head = s""""_rows":${s.rows}""" +:
      s.bytes.map(b => s""""_bytes":$b""").toSeq
    (head ++ cols).mkString("{", ",", "}")
  }

  private def parseSegStats(json: String): SegStats =
    segStatsOf(new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[java.util.HashMap[String, Object]]))

  private def segStatsOf(m: java.util.Map[String, Object]): SegStats = {
    val rows = m.get("_rows").asInstanceOf[Number].longValue()
    val bytes = Option(m.get("_bytes"))
      .map(_.asInstanceOf[Number].longValue())
    def histOf(o: Object): Option[ColHist] = o match {
      case l: java.util.List[_] if l.size == 2 =>
        val bins = l.get(1).asInstanceOf[java.util.List[_]].asScala.map {
          b =>
            val t = b.asInstanceOf[java.util.List[_]]
            HistBin(t.get(0).asInstanceOf[Number].doubleValue(),
              t.get(1).asInstanceOf[Number].doubleValue(),
              t.get(2).asInstanceOf[Number].longValue())
        }.toSeq
        Some(ColHist(l.get(0).asInstanceOf[Number].doubleValue(), bins))
      case _ => None
    }
    val cols = m.asScala.collect {
      case (c, v: java.util.List[_]) if c != "_rows" =>
        c -> ColStat(Option(v.get(0)).map(_.asInstanceOf[String]),
          Option(v.get(1)).map(_.asInstanceOf[String]),
          v.get(2).asInstanceOf[Number].longValue(),
          if (v.size > 3) Some(v.get(3).asInstanceOf[Number].longValue())
          else None,
          if (v.size > 4) histOf(v.get(4).asInstanceOf[Object]) else None)
    }.toMap
    SegStats(rows, cols, bytes)
  }

  /** One owner's per-file zone maps as a single-line JSON object:
    * `{"relpath":{segstats},…}`, file order sorted for determinism. */
  private def renderFileStats(fs: Map[String, SegStats]): String =
    fs.toSeq.sortBy(_._1).map { case (f, s) =>
      s"${jq(f)}:${renderSegStats(s)}"
    }.mkString("{", ",", "}")

  private def parseFileStats(json: String): Map[String, SegStats] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[java.util.HashMap[String, Object]])
    m.asScala.collect {
      case (f, v: java.util.Map[_, _]) =>
        f -> segStatsOf(v.asInstanceOf[java.util.Map[String, Object]])
    }.toMap
  }

  private def renderManifest(txn: String,
      meta: Map[String, TableMeta]): String = {
    val names = meta.toSeq.sortBy(_._1)
    val owners = names.map { case (name, m) =>
      if (m.owners == Seq(txn)) name else s"$name=${m.owners.mkString(",")}"
    }
    val parts = names.collect { case (name, m) if m.partitionCols.nonEmpty =>
      s"#parts:$name=${m.partitionCols.mkString(",")}"
    }
    val schemas = names.map { case (name, m) =>
      s"#schema:$name=${m.schemaJson}"
    }
    val statcols = names.collect { case (name, m) if m.statCols.nonEmpty =>
      s"#statcols:$name=${m.statCols.mkString(",")}"
    }
    val bloomcols = names.collect { case (name, m) if m.bloomCols.nonEmpty =>
      s"#bloomcols:$name=${m.bloomCols.mkString(",")}"
    }
    val cluster = names.collect { case (name, m) if m.clusterCols.nonEmpty =>
      val mode = if (m.clusterZOrder) "z" else "lex"
      s"#cluster:$name=$mode:${m.clusterCols.mkString(",")}"
    }
    val bucket = names.collect { case (name, m) if m.numBuckets > 0 =>
      s"#bucket:$name=${m.numBuckets}@${m.bucketCols.mkString(",")}"
    }
    val checks = names.flatMap { case (name, m) =>
      m.checks.toSeq.sortBy(_._1).map { case (cn, pred) =>
        s"#checkc:$name@$cn=$pred"
      }
    }
    val dirs = names.collect {
      case (name, m) if m.ownerDirs.nonEmpty =>
        s"#dirs:$name=" + m.ownerDirs.toSeq.sorted
          .map { case (o, d) => s"$o@$d" }.mkString(",")
    }
    // per-owner evolved partition specs: one line per owner (spec
    // entries are comma-joined inside, so the owner key rides the
    // same `name@owner=` grammar as #stats)
    val partsev = names.flatMap { case (name, m) =>
      m.ownerParts.toSeq.sortBy(_._1).map { case (o, spec) =>
        s"#partsev:$name@$o=${spec.mkString(",")}"
      }
    }
    val stats = names.flatMap { case (name, m) =>
      m.segStats.toSeq.sortBy(_._1).map { case (owner, s) =>
        s"#stats:$name@$owner=${renderSegStats(s)}"
      }
    }
    val fstats = names.flatMap { case (name, m) =>
      m.fileStats.toSeq.sortBy(_._1).collect {
        case (owner, fs) if fs.nonEmpty =>
          s"#fstats:$name@$owner=${renderFileStats(fs)}"
      }
    }
    (txn +: (owners ++ parts ++ schemas ++ statcols ++ bloomcols ++
      cluster ++ bucket ++ checks ++ dirs ++ partsev ++ stats ++ fstats))
      .mkString("\n")
  }

  private def parseManifestMeta(txn: String,
      lines: Seq[String]): Map[String, TableMeta] = {
    val body = lines.filter(_.nonEmpty)
    val owners = body.filterNot(_.startsWith("#")).map { line =>
      line.split("=", 2) match {
        case Array(name) => name -> Seq(txn)
        // `name=` (empty list) = a table with NO data segments: the
        // schema/layout lines still apply (an auto-cleared tombstone
        // companion keeps its pinned delete key this way)
        case Array(name, os) => name -> os.split(",").toSeq
          .filter(_.nonEmpty)
      }
    }.toMap
    val parts = body.filter(_.startsWith("#parts:"))
      .map(_.stripPrefix("#parts:").split("=", 2))
      .collect { case Array(name, cs) => name -> cs.split(",").toSeq }.toMap
    val schemas = body.filter(_.startsWith("#schema:"))
      .map(_.stripPrefix("#schema:").split("=", 2))
      .collect { case Array(name, js) => name -> js }.toMap
    val statcols = body.filter(_.startsWith("#statcols:"))
      .map(_.stripPrefix("#statcols:").split("=", 2))
      .collect { case Array(name, cs) => name -> cs.split(",").toSeq }.toMap
    val bloomcols = body.filter(_.startsWith("#bloomcols:"))
      .map(_.stripPrefix("#bloomcols:").split("=", 2))
      .collect { case Array(name, cs) => name -> cs.split(",").toSeq }.toMap
    val cluster = body.filter(_.startsWith("#cluster:"))
      .map(_.stripPrefix("#cluster:").split("=", 2))
      .collect { case Array(name, spec) => spec.split(":", 2) match {
        case Array(mode, cs) =>
          name -> (cs.split(",").toSeq, mode == "z")
      }}.toMap
    val bucket = body.filter(_.startsWith("#bucket:"))
      .map(_.stripPrefix("#bucket:").split("=", 2))
      .collect { case Array(name, spec) => spec.split("@", 2) match {
        case Array(n, cs) => name -> (cs.split(",").toSeq, n.toInt)
      }}.toMap
    val checks = body.filter(_.startsWith("#checkc:"))
      .map(_.stripPrefix("#checkc:").split("=", 2))
      .collect { case Array(key, pred) => key.split("@", 2) match {
        case Array(name, cn) => (name, cn, pred)
      }}
      .groupBy(_._1)
      .map { case (name, xs) => name -> xs.map(x => x._2 -> x._3).toMap }
    val dirs = body.filter(_.startsWith("#dirs:"))
      .map(_.stripPrefix("#dirs:").split("=", 2))
      .collect { case Array(name, ds) =>
        name -> ds.split(",").toSeq.filter(_.nonEmpty).map { e =>
          e.split("@", 2) match { case Array(o, d) => o -> d }
        }.toMap
      }.toMap
    val partsev = body.filter(_.startsWith("#partsev:"))
      .map(_.stripPrefix("#partsev:").split("=", 2))
      .collect { case Array(key, cs) => key.split("@", 2) match {
        case Array(name, owner) =>
          (name, owner, cs.split(",").toSeq.filter(_.nonEmpty))
      }}
      .groupBy(_._1)
      .map { case (name, xs) => name -> xs.map(x => x._2 -> x._3).toMap }
    val stats = body.filter(_.startsWith("#stats:"))
      .map(_.stripPrefix("#stats:").split("=", 2))
      .collect { case Array(key, js) => key.split("@", 2) match {
        case Array(name, owner) => (name, owner, parseSegStats(js))
      }}
      .groupBy(_._1)
      .map { case (name, xs) => name -> xs.map(x => x._2 -> x._3).toMap }
    val fstats = body.filter(_.startsWith("#fstats:"))
      .map(_.stripPrefix("#fstats:").split("=", 2))
      .collect { case Array(key, js) => key.split("@", 2) match {
        case Array(name, owner) => (name, owner, parseFileStats(js))
      }}
      .groupBy(_._1)
      .map { case (name, xs) => name -> xs.map(x => x._2 -> x._3).toMap }
    owners.map { case (name, os) =>
      val (ccols, z) = cluster.getOrElse(name, (Nil, false))
      val (bcols, nb) = bucket.getOrElse(name, (Nil, 0))
      // the manifest is outside input: refuse a table without its
      // schema record by name instead of failing later on a null
      val schema = schemas.getOrElse(name, throw new IllegalStateException(
        s"manifest of txn $txn records no schema for table '$name' — " +
          "the store is corrupt or was written by an unsupported version"))
      name -> TableMeta(os, schema, parts.getOrElse(name, Nil),
        statcols.getOrElse(name, Nil), stats.getOrElse(name, Map.empty),
        fstats.getOrElse(name, Map.empty), bloomcols.getOrElse(name, Nil),
        ccols, z, bcols, nb, checks.getOrElse(name, Map.empty),
        dirs.getOrElse(name, Map.empty),
        partsev.getOrElse(name, Map.empty))
    }
  }

  /** Table→owning-versions map of `txn`, from its `_MANIFEST`. */
  def manifestOf(spark: SparkSession, root: String,
      txn: String): Map[String, Seq[String]] =
    manifestMetaOf(spark, root, txn).map { case (n, m) => n -> m.owners }

  /** Full per-table metadata (owners + schema + partition spec) of `txn`,
    * read from `v_<txn>/_MANIFEST`. [[stageAndSeal]] writes that file
    * before the sealing rename, so every version dir carries one; a
    * missing manifest (unknown or vacuumed txn) throws
    * FileNotFoundException. */
  def manifestMetaOf(spark: SparkSession, root: String,
      txn: String): Map[String, TableMeta] = {
    val mf = new Path(new Path(root, s"v_$txn"), ManifestFile)
    val fs = mf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(mf)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    parseManifestMeta(txn, lines.drop(1))
  }

  private def fc(spark: SparkSession, p: Path): FileContext =
    FileContext.getFileContext(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getUri,
      spark.sparkContext.hadoopConfiguration)

  /** Swap the `_CURRENT` pointer atomically; when `expectParent` is
    * given, the swap happens ONLY if the live txn still equals it at
    * swap time. Same-JVM committers serialize on the per-root lock;
    * ACROSS processes the check-and-swap is made atomic by the `_LOCK`
    * lease ([[acquireLease]]): the live-txn re-read and the rename both
    * happen while holding it, so two processes' committers can no longer
    * interleave rename-over-rename in the old documented CAS window
    * (stress-raced in AtomicPublishSpec).
    *
    * On HDFS the FileContext overwrite-rename is atomic server-side.
    * Hadoop's LOCAL fs implements it as delete+rename — a window where
    * readers see NO manifest and committers collide — so on the file
    * scheme the tmp manifest is written via NIO (outside the checksum
    * layer: a Hadoop-written tmp leaves an immortal .crc sidecar
    * behind, and a NIO move under a stale ._CURRENT.crc makes every
    * subsequent Hadoop read throw ChecksumException) and swapped with
    * POSIX rename(2) (ATOMIC_MOVE), which replaces in place. */
  private def swapPointer(spark: SparkSession, root: String, txn: String,
      manifest: Array[Byte],
      expectParent: Option[Option[String]]): Boolean = {
    val rootPath = new Path(root)
    val ctx = fc(spark, rootPath)
    val cur = new Path(rootPath, CurrentFile)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(cur).toUri
    def parentOk: Boolean =
      expectParent.forall(_ == currentTxn(spark, root))
    if (qualified.getScheme == "file") {
      val curNio = java.nio.file.Paths.get(qualified.getPath)
      val tmpNio = curNio.resolveSibling(s"._current_$txn")
      java.nio.file.Files.write(tmpNio, manifest)
      commitLock(spark, root).synchronized {
        acquireLease(spark, root, txn)
        try {
          if (!parentOk) {
            java.nio.file.Files.deleteIfExists(tmpNio); false
          } else {
            // a pre-NIO publish may have left a checksum sidecar for the
            // old manifest; it would fail verification against the new one
            java.nio.file.Files.deleteIfExists(
              curNio.resolveSibling(s".$CurrentFile.crc"))
            java.nio.file.Files.move(tmpNio, curNio,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            true
          }
        } finally releaseLease(spark, root, txn)
      }
    } else {
      val tmp = new Path(rootPath, s"._current_$txn")
      val out = ctx.create(tmp,
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
          org.apache.hadoop.fs.CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try out.write(manifest) finally out.close()
      commitLock(spark, root).synchronized {
        acquireLease(spark, root, txn)
        try {
          if (!parentOk) {
            try ctx.delete(tmp, false) catch { case _: Throwable => () }
            false
          } else {
            ctx.rename(tmp, cur, Options.Rename.OVERWRITE); true
          }
        } finally releaseLease(spark, root, txn)
      }
    }
  }

  /** Mark a sealed version as committed — see the vacuum contract.
    * Best-effort: if this write fails the publish has still succeeded
    * (the pointer moved); the version is then treated as uncommitted by
    * vacuum and reclaimed after the grace window once superseded —
    * availability of the LIVE version is never affected (vacuum spares
    * whatever the pointer names). The marker also records a MONOTONIC
    * commit sequence (parent's + 1 — CAS serializes commits, so the
    * chain is strictly increasing): [[committedVersions]] breaks
    * same-millisecond mtime ties with it, making history order and
    * `TIMESTAMP AS OF` resolution deterministic instead of
    * filesystem-clock-resolution-dependent. */
  private def markCommitted(spark: SparkSession, root: String,
      txn: String, seq: Long = 0L, op: String = "",
      parent: Option[String] = None,
      dataChange: Boolean = true,
      cdfTables: Seq[String] = Nil): Unit =
    try {
      val vdir = new Path(root, s"v_$txn")
      val fs = vdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val mos = fs.create(new Path(vdir, CommitMarker), true)
      // `op=` names WHAT the commit did (DESCRIBE HISTORY-grade
      // observability); single-line, best-effort like the rest.
      // `parent=` records the commit chain link (the CDC chain walk
      // rides it); `datachange=false` marks a REORGANIZATION commit —
      // same logical rows, new layout (compaction, clustering) — the
      // Delta `dataChange=false` vocabulary: change-feed consumers
      // skip it instead of resyncing; `cdf=<table>` marks a
      // data-changing REWRITE that staged its per-row change set
      // ([[cdfTableOf]]) — change feeds ride through it by serving
      // the staged rows.
      val opLine =
        if (op.isEmpty) "" else "\nop=" + op.replaceAll("[\r\n]", " ")
      val parentLine = parent.map(p => s"\nparent=$p").getOrElse("")
      val dcLine = if (dataChange) "" else "\ndatachange=false"
      val cdfLines = cdfTables.map(t => s"\ncdf=$t").mkString
      try mos.write(
        s"$txn\nseq=$seq$opLine$parentLine$dcLine$cdfLines"
          .getBytes(StandardCharsets.UTF_8))
      finally mos.close()
    } catch { case _: Throwable => () }

  // --- the commit skeleton ----------------------------------------------------

  private def newTxnId(): String =
    java.util.UUID.randomUUID().toString.replace("-", "")

  /** The lifecycle every store commit shares: a fresh txn id (or the
    * pinned `txnId`), registered in [[inFlight]] for the whole call so a
    * same-JVM vacuum spares its dirs. On ANY failure the txn's scratch
    * dir and tmp pointer are removed best-effort and the error rethrows
    * — a raised row-guard violation by name ([[unwrapViolation]]). A
    * sealed `v_<txn>` is left alone: it may already be live, and vacuum
    * reclaims it once nothing references it. */
  private def withTxn[T](spark: SparkSession, root: String,
      txnId: Option[String] = None)(body: String => T): T = {
    val txn = txnId.getOrElse(newTxnId())
    val sc = spark.sparkContext
    val tag = s"graft-txn-$txn"
    inFlight.add(txn)
    sc.addJobTag(tag)
    try body(txn)
    catch {
      case e: Throwable =>
        awaitTasks(sc, tag)
        val rootPath = new Path(root)
        val ctx = fc(spark, rootPath)
        try ctx.delete(new Path(rootPath, s".staging_$txn"), true)
        catch { case _: Throwable => () }
        try ctx.delete(new Path(rootPath, s"._current_$txn"), false)
        catch { case _: Throwable => () }
        throw unwrapViolation(e)
    } finally {
      sc.removeJobTag(tag)
      inFlight.remove(txn)
    }
  }

  /** Wait (bounded) until no task of a job tagged `tag` is still
    * running. A failed job returns while its killed sibling tasks can
    * still be writing into the scratch dir, re-creating it after the
    * abort removed it. */
  private def awaitTasks(sc: org.apache.spark.SparkContext,
      tag: String): Unit = {
    // the tracker lags the scheduler: without the drain, a tagged job or
    // a sibling task that started before the failure can read as absent
    org.apache.spark.sql.graftplan.PlanBridge.drainListenerBus(sc, 30000L)
    val st = sc.statusTracker
    val stages = st.getJobIdsForTag(tag).toSeq
      .flatMap(st.getJobInfo(_)).flatMap(_.stageIds())
    val deadline = System.currentTimeMillis() + 30000L
    while (stages.exists(s => st.getStageInfo(s).exists(_.numActiveTasks > 0))
        && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
  }

  /** The commit step every store write shares: stage `tables` and seal
    * `meta` as version `txn` ([[stageAndSeal]]), swap the pointer — only
    * while the live version is still `parent`, unless `cas` is off (a
    * plain [[publish]]) — and mark the commit ([[swapAndMark]]).
    * `afterSwap` runs once the version is live (a post-swap re-verify
    * that may roll it back). On a lost race the sealed dir is left for
    * vacuum and `onLost` decides: a rebase onto the winner, or None. */
  private def commit(spark: SparkSession, root: String, txn: String,
      tables: Map[String, DataFrame], meta: Map[String, TableMeta],
      parent: Option[String], op: String, dataChange: Boolean = true,
      cdfTables: Seq[String] = Nil, cas: Boolean = true,
      afterSwap: () => Unit = () => (),
      onLost: Map[String, TableMeta] => Option[String] = _ => None)
      : Option[String] = {
    val sealedMeta = stageAndSeal(spark, new Path(root), txn, tables, meta)
    if (swapAndMark(spark, root, txn, renderManifest(txn, sealedMeta),
        parent, op, dataChange, cdfTables, cas)) {
      afterSwap()
      Some(txn)
    } else onLost(sealedMeta)
  }

  /** Swap the pointer to `txn`'s `manifest` (CAS on `parent` unless
    * `cas` is off) and, once it moved, write the commit marker linking
    * `parent`, with seq = the parent's + 1 — CAS serializes commits, so
    * the chain strictly increases; a parent without a readable seq
    * (the best-effort marker write failed) restarts at 0, and ties then
    * break by name. False: the race was lost. */
  private def swapAndMark(spark: SparkSession, root: String, txn: String,
      manifest: String, parent: Option[String], op: String,
      dataChange: Boolean = true, cdfTables: Seq[String] = Nil,
      cas: Boolean = true): Boolean = {
    val swapped = swapPointer(spark, root, txn,
      manifest.getBytes(StandardCharsets.UTF_8),
      expectParent = if (cas) Some(parent) else None)
    if (swapped)
      markCommitted(spark, root, txn, seq = parent
        .flatMap(commitSeqOf(spark, root, _)).map(_ + 1).getOrElse(0L),
        op = op, parent = parent, dataChange = dataChange,
        cdfTables = cdfTables)
    swapped
  }

  /** The version a metadata commit builds on — `parent`, or the live
    * one — with its manifest. */
  private def pinParent(spark: SparkSession, root: String,
      parent: Option[String]): (String, Map[String, TableMeta]) = {
    val p = parent.orElse(currentTxn(spark, root)).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    p -> manifestMetaOf(spark, root, p)
  }

  /** How many lost races any commit loop absorbs before it fails. */
  private val MaxCommitAttempts = 8

  /** The lost-race retry every commit loop shares: `tryOnce` re-pins the
    * live version, makes ONE commit attempt against it and returns None
    * when a concurrent commit won the CAS. It re-runs up to
    * [[MaxCommitAttempts]] times; then the call fails, naming `what`. */
  def retryLostRace[T](what: => String)(tryOnce: => Option[T]): T = {
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      tryOnce match {
        case Some(r) => return r
        case None => ()
      }
    }
    throw new IllegalStateException(s"$what lost the commit race " +
      s"$MaxCommitAttempts times")
  }

  /** Everything a commit marker records about `txn`. Fields absent
    * from older markers parse as None/default; a missing or unreadable
    * marker is None (marker writes are best-effort). */
  final case class CommitInfo(seq: Option[Long], op: Option[String],
      parent: Option[String], dataChange: Boolean,
      /** Tables whose per-row change set this commit staged beside its
        * rewrite ([[cdfTableOf]]) — empty for every other commit. */
      cdfTables: Seq[String] = Nil)

  def commitInfoOf(spark: SparkSession, root: String,
      txn: String): Option[CommitInfo] =
    try {
      val p = new Path(new Path(root, s"v_$txn"), CommitMarker)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      val content = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString finally in.close()
      val lines = content.linesIterator.toSeq
      Some(CommitInfo(
        seq = lines.collectFirst {
          case l if l.startsWith("seq=") => l.stripPrefix("seq=").toLong },
        op = lines.collectFirst {
          case l if l.startsWith("op=") => l.stripPrefix("op=") },
        parent = lines.collectFirst {
          case l if l.startsWith("parent=") => l.stripPrefix("parent=") },
        dataChange = !lines.contains("datachange=false"),
        cdfTables = lines.collect {
          case l if l.startsWith("cdf=") => l.stripPrefix("cdf=") }))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The commit sequence recorded in `txn`'s marker (None: pre-seq
    * marker, missing marker, unreadable). */
  private def commitSeqOf(spark: SparkSession, root: String,
      txn: String): Option[Long] =
    commitInfoOf(spark, root, txn).flatMap(_.seq)

  /** The operation label recorded in `txn`'s marker (None: pre-label
    * marker, missing marker, unreadable). */
  def commitOpOf(spark: SparkSession, root: String,
      txn: String): Option[String] =
    commitInfoOf(spark, root, txn).flatMap(_.op)

  /** The commit chain from `sinceTxn` (EXCLUSIVE) to `at` (inclusive),
    * oldest first, each txn with its FULL marker info (the change feeds
    * need `cdfTables` alongside the dataChange flag to ride staged
    * rewrites) — walked BACKWARD via the `parent=` links commit markers
    * record. None when a link is missing (a pre-link marker, or the
    * best-effort marker write failed) or the walk does not reach
    * `sinceTxn`: callers fall back to the endpoint-diff behavior
    * (resync on a rewrite). O(interval) marker reads, no manifest or
    * data access. */
  private[ops] def chainInfos(spark: SparkSession, root: String,
      sinceTxn: String, at: String)
      : Option[Seq[(String, CommitInfo)]] = {
    val acc = scala.collection.mutable.ListBuffer
      .empty[(String, CommitInfo)]
    var cur = at
    var steps = 0
    while (cur != sinceTxn) {
      steps += 1
      // backstop far above any real history depth (vacuum bounds it)
      if (steps > 1000000) return None
      commitInfoOf(spark, root, cur) match {
        case Some(ci) if ci.parent.isDefined =>
          acc.prepend((cur, ci))
          cur = ci.parent.get
        case _ => return None
      }
    }
    Some(acc.toList)
  }

  /** min/max value encoding per type: timestamps leave as epoch micros
    * (a session-timezone-dependent string cast would corrupt the zone
    * map across differently-configured readers); everything else via
    * Spark's lossless string cast. */
  private def statEncode(c: Column, dt: DataType): Column = dt match {
    case TimestampType => unix_micros(c).cast(StringType)
    case _ => c.cast(StringType)
  }

  private def statDecode(c: Column, dt: DataType): Column = dt match {
    case TimestampType => timestamp_micros(c.cast(LongType))
    case _ => c.cast(dt)
  }

  /** Types a zone map is well-defined for: totally ordered atomics with
    * a lossless string rendering. */
  private[ops] def statSupported(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | DateType |
        TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def validateStatCols(name: String, df: DataFrame,
      cols: Seq[String]): Unit = {
    validateMetaColNames("stat", name, cols)
    cols.foreach { c =>
    val f = df.schema.fields.find(_.name == c)
    require(f.isDefined, s"stat column '$c' of table '$name' is not in " +
      s"its schema (${df.columns.mkString(", ")})")
    require(statSupported(f.get.dataType),
      s"stat column '$c' of table '$name' has type " +
        s"${f.get.dataType.simpleString} — zone maps need an ordered " +
        "atomic type (numeric/string/boolean/date/timestamp)")
    }
  }

  /** Delta-slice variant: a stat column ABSENT from the slice is legal
    * (schema evolution — the segment records it all-null), but one that
    * is present must carry a zone-mappable type. */
  private def validateStatColsLenient(name: String, df: DataFrame,
      cols: Seq[String]): Unit = {
    validateMetaColNames("stat", name, cols) // absent cols still serialize
    validateStatCols(name, df, cols.filter(df.columns.contains))
  }

  /** Zone maps of one freshly staged segment — the per-SEGMENT map and
    * the per-FILE maps — computed by reading the WRITTEN files back
    * pruned to the stat columns: ONE column-pruned scan of the new
    * segment only (grouped by `input_file_name`; the grouped result is
    * #files rows, persisted, and the segment totals re-aggregate it
    * in-memory — min/max are associative, so file-level extrema roll up
    * exactly). Columns the slice does not carry (an append written
    * before/after a schema widening) count as all-null. The read is
    * PINNED to the slice's declared schema: a bare read would let
    * partition-directory type inference rewrite values (a StringType
    * partition column `part=01` infers as int 1) and record min/max
    * that decode to the wrong values under the recorded type.
    *
    * File keys are segment-relative paths (partition subdirs included).
    * A path the URI round-trip cannot prove exact (percent-escapes) is
    * left out of the file map — readers keep unmapped files
    * conservatively, so skipping degrades, never corrupts. */
  private def computeSegStats(spark: SparkSession, segPath: Path,
      statCols: Seq[String],
      sliceSchema: StructType): (SegStats, Map[String, SegStats]) = {
    val df = spark.read.schema(sliceSchema).parquet(segPath.toString)
    computeSegStatsOf(spark, df.withColumn("__file",
      org.apache.spark.sql.functions.input_file_name()), segPath, statCols)
  }

  /** The stats scan over an EXPLICIT frame already carrying a `__file`
    * column — the publish path feeds it `input_file_name()` over a
    * staged segment read; [[analyzeTable]] feeds it
    * `_metadata.file_path` computed BEFORE the tombstone anti-join
    * (which `input_file_name` would not survive). */
  /** The shared aggregate expressions of the stats scan: row count,
    * per-column min/max/nulls/NDV, and equi-height histogram
    * boundaries (33 quantiles) for numeric columns — one list, used by
    * the per-segment publish scan ([[computeSegStatsOf]]) and the
    * one-job ANALYZE rollup ([[computeSegStatsByOwner]]). */
  private def statAggExprs(present: Seq[String],
      histCols: Seq[String]): Seq[Column] = {
    import org.apache.spark.sql.functions.{approx_count_distinct, count,
      max, min, percentile_approx, sum}
    val qs = (0 to HistogramBins).map(_.toDouble / HistogramBins).toArray
    count(lit(1)).as("_rows") +:
      (present.flatMap { c =>
        Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nu_$c"),
          approx_count_distinct(col(c)).as(s"nd_$c"))
      } ++ histCols.map { c =>
        percentile_approx(col(c).cast("double"), lit(qs), lit(10000))
          .as(s"hb_$c")
      })
  }

  /** min/max re-encoded under the recorded type plus the raw
    * nulls/NDV/histogram columns — the projection both stats-scan
    * consumers decode rows from. */
  private def statEncodeCols(schema: StructType, present: Seq[String],
      histCols: Seq[String], keep: Seq[Column]): Seq[Column] =
    keep ++ present.flatMap { c =>
      val dt = schema(c).dataType
      Seq(statEncode(col(s"mn_$c"), dt).as(s"mn_$c"),
        statEncode(col(s"mx_$c"), dt).as(s"mx_$c"), col(s"nu_$c"),
        col(s"nd_$c"))
    } ++ histCols.map(c => col(s"hb_$c"))

  /** Decode one stats-scan row into a [[SegStats]]. Histogram only
    * when `withHist` (the SEGMENT-level rows): per-file histograms
    * would bloat the manifest O(files × bins) and the planner consumes
    * table-level stats only — file skipping keeps its exact min/max
    * envelopes instead. */
  private def statRowDecode(r: org.apache.spark.sql.Row,
      statCols: Seq[String], present: Seq[String], histCols: Seq[String],
      withHist: Boolean): SegStats = {
    val rows = Option(r.getAs[Any]("_rows"))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    def histOf(c: String, nulls: Long, ndv: Option[Long])
        : Option[ColHist] =
      if (!withHist || !histCols.contains(c)) None
      else Option(r.getAs[scala.collection.Seq[Double]](s"hb_$c"))
        .filter(bs => bs.length == HistogramBins + 1 &&
          bs.forall(java.lang.Double.isFinite))
        .map { bs =>
          val n = ndv.getOrElse(rows - nulls)
          val perBin =
            math.max(1L, math.round(n.toDouble / HistogramBins))
          ColHist((rows - nulls).toDouble / HistogramBins,
            (0 until HistogramBins).map { i =>
              val lo = bs(i); val hi = bs(i + 1)
              HistBin(lo, hi, if (lo == hi) 1L else perBin)
            })
        }
    val cols = statCols.map { c =>
      if (present.contains(c)) {
        val nulls = Option(r.getAs[Any](s"nu_$c"))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        val ndv = Option(r.getAs[Any](s"nd_$c"))
          .map(_.asInstanceOf[Long])
        c -> ColStat(Option(r.getAs[String](s"mn_$c")),
          Option(r.getAs[String](s"mx_$c")), nulls, ndv,
          histOf(c, nulls, ndv))
      } else c -> ColStat(None, None, rows, Some(0L))
    }.toMap
    SegStats(rows, cols)
  }

  /** The all-empty stats of a segment with zero (live) rows. */
  private def emptySegStats(statCols: Seq[String]): SegStats =
    SegStats(0L,
      statCols.map(c => c -> ColStat(None, None, 0L, Some(0L))).toMap)

  /** Relative-path file key of a stats row, or None when the URI
    * round-trip cannot prove the path exact (outside the segment dir,
    * or percent-escaped — readers keep unmapped files conservatively,
    * so skipping degrades, never corrupts). */
  private def fileKeyOf(file: String, segUriPath: String): Option[String] = {
    val uri = new Path(file).toUri.getPath
    if (uri.startsWith(segUriPath + "/") && !uri.contains("%"))
      Some(uri.stripPrefix(segUriPath + "/"))
    else None
  }

  private def computeSegStatsOf(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame, segPath: Path,
      statCols: Seq[String]): (SegStats, Map[String, SegStats]) = {
    val present = statCols.filter(df.columns.contains)
    // equi-height histogram boundaries ride the SAME scan: 33
    // quantiles per numeric stat column (the double dialect is the
    // estimator's own — non-numeric columns carry no histogram, range
    // selectivity on them has no double geometry to estimate in)
    val histCols = present.filter(c => histEligible(df.schema(c).dataType))
    val aggs = statAggExprs(present, histCols)
    // cube on the file name = per-file groups PLUS the segment-global
    // row (__file null) from ONE scan — the global row is where the
    // segment's NDV comes from (HLL states don't roll up through the
    // per-file longs the way min/max/nulls do, and a second scan per
    // publish would double the stats cost)
    val grouped = df.cube(col("__file")).agg(aggs.head, aggs.tail: _*)
    grouped.persist()
    try {
      def encoded(base: org.apache.spark.sql.DataFrame, keep: Seq[Column]) =
        base.select(statEncodeCols(df.schema, present, histCols, keep): _*)
      def statsOf(r: org.apache.spark.sql.Row, withHist: Boolean): SegStats =
        statRowDecode(r, statCols, present, histCols, withHist)
      val fs = segPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val segUriPath = fs.makeQualified(segPath).toUri.getPath
      val fileRows = encoded(grouped.filter(col("__file").isNotNull),
        Seq(col("__file"), col("_rows"))).collect()
      val fileMap = fileRows.flatMap { r =>
        fileKeyOf(r.getAs[String]("__file"), segUriPath)
          .map(_ -> statsOf(r, withHist = false))
      }.toMap
      // an EMPTY segment cubes to zero rows (no group to total over) —
      // the old global-agg path yielded one all-null row there
      val segStats = encoded(grouped.filter(col("__file").isNull),
        Seq(col("_rows"))).collect().headOption
        .map(statsOf(_, withHist = true))
        .getOrElse(emptySegStats(statCols))
      // data-file bytes of the freshly staged segment: one local
      // listing of files we just wrote, recorded so READ-time planner
      // stats never walk directories (skip meta/sidecar files)
      val segBytes = {
        val it = fs.listFiles(segPath, true)
        var b = 0L
        while (it.hasNext) {
          val f = it.next()
          val name = f.getPath.getName
          if (!name.startsWith("_") && !name.startsWith(".")) b += f.getLen
        }
        b
      }
      (segStats.copy(bytes = Some(segBytes)),
        if (fileMap.size == fileRows.length) fileMap else Map.empty)
    } finally { grouped.unpersist(); () }
  }

  /** Guard of the one-job ANALYZE (ADVICE r14 #2): `__owner` is
    * derived by regexp over `_metadata.file_path`, and
    * `regexp_extract` returns "" — not null — on no-match, so a path
    * the pattern cannot parse (a percent-encoding dir name, exactly
    * the hazard [[fileKeyOf]] guards on the file axis) would silently
    * group its rows under owner "" and VANISH from every owner's
    * restated stats — committing narrowed (even 0-row) zone maps that
    * make later predicate reads skip live rows. Refuse to commit
    * instead: every owner group the rollup produced must be a known
    * owner, and the known owners' row totals must reconcile to the
    * rollup's own grand-total row. On failure the ANALYZE aborts with
    * the recorded stats untouched (correct, merely unrefreshed). */
  private[ops] def reconcileOwnerRollup(known: Seq[String],
      perOwner: Seq[(String, Long)], grandRows: Long): Unit = {
    val knownSet = known.toSet
    val alien = perOwner.filter { case (o, n) =>
      !knownSet.contains(o) && n > 0 }
    require(alien.isEmpty,
      s"ANALYZE aborted: ${alien.map(_._2).sum} live rows grouped " +
        s"under unrecognized owner(s) ${alien.map { case (o, n) =>
          s"'$o'($n)" }.mkString(", ")} — the file-path → owner parse " +
        "failed for their segments (unparseable segment dir name?); " +
        "committing would restate those owners' stats WITHOUT these " +
        "rows and predicate reads could then skip them. Recorded " +
        "stats were left untouched.")
    val knownSum = perOwner.collect {
      case (o, n) if knownSet.contains(o) => n }.sum
    require(knownSum == grandRows,
      s"ANALYZE aborted: per-owner row totals ($knownSum) do not " +
        s"reconcile to the scan's grand total ($grandRows) — the " +
        "owner rollup lost rows; recorded stats were left untouched.")
  }

  /** ONE-JOB restatement scan for [[analyzeTable]] (VERDICT r13 #3):
    * `rollup(__owner, __file)` over the WHOLE live table gives every
    * (owner, file) zone map AND every per-owner total (the rollup's
    * file-null rows, where each owner's NDV/histogram come from — HLL
    * states don't roll up through per-file longs) in a single Spark
    * action, where the r13 shape scheduled one driver-coordinated job
    * PER owner — ~1000 sequential jobs on exactly the delete-heavy,
    * long-uncompacted table ANALYZE exists for. The grand-total row
    * (owner null) is filtered out before the scan runs. `df` must
    * carry `__owner` and `__file`; owners absent from the result (zero
    * live rows) restate to the 0-row zone map every predicate rejects. */
  private def computeSegStatsByOwner(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame, statCols: Seq[String],
      segPaths: Seq[(String, Path)])
      : Map[String, (SegStats, Map[String, SegStats])] = {
    val dataCols = df.columns.filterNot(c =>
      c == "__owner" || c == "__file").toSeq
    val present = statCols.filter(dataCols.contains)
    val histCols = present.filter(c => histEligible(df.schema(c).dataType))
    val aggs = statAggExprs(present, histCols)
    // the GRAND-TOTAL row (owner null, file null) is kept: it is the
    // reconciliation baseline below. __owner itself is never a data
    // null (regexp_extract returns "" on no-match), so the rollup
    // strata are unambiguous.
    val grouped = df.rollup(col("__owner"), col("__file"))
      .agg(aggs.head, aggs.tail: _*)
    grouped.persist()
    try {
      def encoded(base: org.apache.spark.sql.DataFrame, keep: Seq[Column]) =
        base.select(statEncodeCols(df.schema, present, histCols, keep): _*)
      val ownerRows = encoded(
        grouped.filter(col("__owner").isNotNull && col("__file").isNull),
        Seq(col("__owner"), col("_rows"))).collect()
      val fileRows = encoded(
        grouped.filter(col("__owner").isNotNull && col("__file").isNotNull),
        Seq(col("__owner"), col("__file"), col("_rows"))).collect()
      val grandRows = grouped
        .filter(col("__owner").isNull && col("__file").isNull)
        .select(col("_rows")).collect()
        .headOption.map(_.getLong(0)).getOrElse(0L)
      reconcileOwnerRollup(segPaths.map(_._1),
        ownerRows.map(r => r.getAs[String]("__owner") ->
          r.getAs[Long]("_rows")).toSeq, grandRows)
      val filesByOwner = fileRows.groupBy(_.getAs[String]("__owner"))
      val segByOwner = ownerRows.map(r =>
        r.getAs[String]("__owner") ->
          statRowDecode(r, statCols, present, histCols,
            withHist = true)).toMap
      segPaths.map { case (o, segPath) =>
        val fs = segPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val segUriPath = fs.makeQualified(segPath).toUri.getPath
        val frs = filesByOwner.getOrElse(o,
          Array.empty[org.apache.spark.sql.Row])
        val fileMap: Map[String, SegStats] = frs.flatMap { r =>
          fileKeyOf(r.getAs[String]("__file"), segUriPath)
            .map(_ -> statRowDecode(r, statCols, present, histCols,
              withHist = false))
        }.toMap
        o -> ((segByOwner.getOrElse(o, emptySegStats(statCols)),
          if (fileMap.size == frs.length) fileMap
          else Map.empty[String, SegStats]))
      }.toMap
    } finally { grouped.unpersist(); () }
  }

  /** Stage table writes + the version's `_MANIFEST` under scratch, then
    * seal with one atomic dir rename (complete-or-absent). Tables whose
    * meta carries partition columns are written `partitionBy` them —
    * the on-disk layout a partition-column filter prunes. Tables whose
    * meta carries stat columns get this txn's segment zone map computed
    * from the staged files and merged into the returned meta (which the
    * caller must use for the pointer swap — it is what the manifest now
    * records). */
  private def stageAndSeal(spark: SparkSession, rootPath: Path, txn: String,
      tables: Map[String, DataFrame],
      meta: Map[String, TableMeta]): Map[String, TableMeta] = {
    val scratch = new Path(rootPath, s".staging_$txn")
    val versioned = new Path(rootPath, s"v_$txn")
    val ctx = fc(spark, rootPath)
    ctx.mkdir(rootPath, null, true)
    Concurrency.staged.incrementAndGet()
    tables.foreach { case (name, df) =>
      val m = meta.get(name)
      val pcols = m.map(_.partitionCols).getOrElse(Nil)
      // calendar transforms materialize their ordinal as a derived
      // directory column just for the write — the data files keep the
      // raw source column, the derived one lives only in the layout
      val transforms = PartSpec.transformsOf(pcols)
      val staged = transforms.foldLeft(df)((d, t) =>
        d.withColumn(t.derivedName,
          PartSpec.derive(t, col(t.src), d.schema(t.src).dataType)))
      val physCols = pcols.map(PartSpec.physicalName)
      m.filter(_.numBuckets > 0) match {
        case Some(bm) =>
          // pre-shape so each task holds ~one bucket (file count stays
          // ~numBuckets); the committer owns bucket-id correctness
          writeBucketedSegment(spark,
            staged.repartition(bm.numBuckets, bm.bucketCols.map(col): _*),
            new Path(scratch, name), physCols,
            org.apache.spark.sql.catalyst.catalog.BucketSpec(
              bm.numBuckets, bm.bucketCols, Nil))
        case None =>
          val w = staged.write.mode("error")
          (if (physCols.nonEmpty) w.partitionBy(physCols: _*) else w)
            .parquet(new Path(scratch, name).toString)
      }
    }
    val sealedMeta = meta.map { case (name, m) =>
      if (m.statCols.isEmpty || !tables.contains(name)) name -> m
      else {
        val sliceSchema = tables(name).schema
        val (ss0, fm0) = computeSegStats(spark, new Path(scratch, name),
          m.statCols, sliceSchema)
        // a FLOAT slice landing in a DoubleType-recorded column (a
        // narrow writer appending after a widen): its fresh stats are
        // float-rendered — re-encode exactly under the recorded type
        val floatCols = m.statCols.filter(c =>
          sliceSchema.fieldNames.contains(c) &&
            sliceSchema(c).dataType == FloatType &&
            m.schema.fieldNames.contains(c) &&
            m.schema(c).dataType == DoubleType).toSet
        val ss = widenFloatStats(ss0, floatCols)
        val fm = fm0.map { case (f, s) =>
          f -> widenFloatStats(s, floatCols) }
        name -> m.copy(segStats = m.segStats + (txn -> ss),
          fileStats =
            if (fm.isEmpty) m.fileStats else m.fileStats + (txn -> fm))
      }
    }
    sealedMeta.foreach { case (name, m) =>
      if (m.bloomCols.nonEmpty && tables.contains(name)) {
        val rows = m.segStats.get(txn).map(_.rows).getOrElse(
          spark.read.schema(tables(name).schema)
            .parquet(new Path(scratch, name).toString).count())
        writeBloomSidecars(spark, new Path(scratch, name), m.bloomCols,
          tables(name).schema, rows)
      }
    }
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mos = fs.create(new Path(scratch, ManifestFile), true)
    try mos.write(
      renderManifest(txn, sealedMeta).getBytes(StandardCharsets.UTF_8))
    finally mos.close()
    ctx.rename(scratch, versioned)
    sealedMeta
  }

  /** Table names must survive the manifest grammar (no '=' or ','
    * separators, no metadata sigils, no '@' — the `#stats:` table@owner
    * delimiter — no newlines, no path separators). */
  private def validateNames(names: Iterable[String]): Unit =
    names.foreach { n =>
      require(n.nonEmpty && !n.exists(c =>
        c == '=' || c == ',' || c == '\n' || c == '\r' || c == '/' ||
          c == '#' || c == ':' || c == '@'),
        s"table name '$n' is not manifest-safe " +
          "(must be non-empty, without '=', ',', '#', ':', '@', " +
          "newlines or '/')")
    }

  /** Partition/stat/bloom column names are serialized RAW into the
    * line-oriented manifest (`#parts:`/`#statcols:`/`#bloomcols:`,
    * comma-joined) — a ',' or '=' would mis-parse the list and a
    * newline would inject lines `parseManifestMeta` reads as owner
    * entries. Same grammar as table names ([[validateNames]]). */
  private def validateMetaColNames(kind: String, name: String,
      cols: Seq[String]): Unit =
    cols.foreach { c =>
      require(c.nonEmpty && !c.exists(x =>
        x == '=' || x == ',' || x == '\n' || x == '\r' || x == '/' ||
          x == '#' || x == ':' || x == '@'),
        s"$kind column '$c' of table '$name' is not manifest-safe " +
          "(must be non-empty, without '=', ',', '#', ':', '@', " +
          "newlines or '/')")
    }

  private def validatePartitionCols(name: String, df: DataFrame,
      pcols: Seq[String]): Unit =
    validatePartitionColsSchema(name, df.schema, pcols)

  private def validatePartitionColsSchema(name: String,
      schema: StructType, pcols: Seq[String]): Unit = {
    val columns = schema.fieldNames
    validateMetaColNames("partition", name, pcols)
    pcols.foreach { spec =>
      PartSpec.parse(spec) match {
        case None => require(columns.contains(spec),
          s"partition column '$spec' of table '$name' is not in its " +
            s"schema (${columns.mkString(", ")})")
        case Some(t) =>
          require(columns.contains(t.src),
            s"partition transform '$spec' of table '$name' references " +
              s"'${t.src}', not in its schema " +
              s"(${columns.mkString(", ")})")
          val dt = schema(t.src).dataType
          require(dt == DateType || dt == TimestampType ||
            dt == TimestampNTZType,
            s"partition transform '$spec' of table '$name' needs a " +
              s"date/timestamp source, got ${dt.simpleString}")
          require(!columns.contains(t.derivedName),
            s"partition transform '$spec' of table '$name' derives " +
              s"directory column '${t.derivedName}', which collides " +
              "with a schema column")
      }
    }
    val phys = pcols.map(PartSpec.physicalName)
    require(phys.distinct.length == phys.length,
      s"partition spec of table '$name' repeats a directory column " +
        s"(${phys.mkString(", ")})")
  }

  // --- bloom-filter sidecars ---------------------------------------------------

  /** Types a bloom sidecar hashes exactly: integral (widened to long)
    * and string — the key types point lookups probe. */
  private[ops] def bloomSupported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** A bloom-col absent from the slice is legal (schema evolution); one
    * present must carry a hashable type. */
  private def validateBloomCols(name: String, df: DataFrame,
      cols: Seq[String]): Unit = {
    validateMetaColNames("bloom", name, cols)
    cols.filter(df.columns.contains).foreach { c =>
      val dt = df.schema(c).dataType
      require(bloomSupported(dt),
        s"bloom column '$c' of table '$name' has type ${dt.simpleString}" +
          " — bloom sidecars need an integral or string type")
    }
  }

  /** A bucket spec must be declared over columns the slice carries,
    * with types Spark's bucket hash supports, and it is mutually
    * exclusive with clustering: bucketing distributes by hash, a
    * cluster sort orders by value — one table gets one layout owner.
    * Bucket columns may not be partition columns (partition values
    * live in the directory layout, not the files the bucket hash is
    * computed over). */
  /** No MapType anywhere in the type tree — the precondition both for
    * Spark's bucket hash AND for set operations (`exceptAll` rejects
    * frames with map columns, a Spark-wide restriction the CDC
    * netting must respect — ADVICE r14 #4). */
  private[ops] def mapFree(t: DataType): Boolean = t match {
    case _: org.apache.spark.sql.types.MapType => false
    case s: StructType => s.fields.forall(f => mapFree(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType =>
      mapFree(a.elementType)
    case _ => true
  }

  private def validateBucketSpec(name: String, df: DataFrame,
      spec: (Seq[String], Int), partitionCols: Seq[String],
      clusterCols: Seq[String]): Unit = {
    val (cols, n) = spec
    require(n > 0 && n <= 100000,
      s"table '$name': numBuckets must be in [1, 100000], got $n")
    require(cols.nonEmpty,
      s"table '$name': bucketBy needs at least one column")
    validateMetaColNames("bucket", name, cols)
    require(clusterCols.isEmpty,
      s"table '$name': bucketBy and clusterBy are mutually exclusive " +
        "layouts (hash distribution vs value ordering) — declare one")
    cols.foreach { c =>
      require(!partitionCols.contains(c),
        s"bucket column '$c' of table '$name' is a partition column")
      require(df.columns.contains(c),
        s"bucket column '$c' is not in table '$name'")
      val dt = df.schema(c).dataType
      // Spark's bucket hash (HashPartitioning/Murmur3) has no
      // deterministic order over maps — refuse them up front instead
      // of failing inside the write committer
      require(mapFree(dt),
        s"bucket column '$c' of table '$name' has type " +
          s"${dt.simpleString} — not bucketable")
    }
  }

  /** Check names ride the manifest key grammar; predicates are
    * serialized RAW after the first '=' of a `#checkc:` line, so the
    * only character they cannot carry is a newline. */
  private def validateChecks(name: String,
      checks: Map[String, String]): Unit =
    checks.foreach { case (cn, pred) =>
      require(cn.nonEmpty && !cn.exists(c =>
        c == '=' || c == ',' || c == '\n' || c == '\r' || c == '/' ||
          c == '#' || c == ':' || c == '@'),
        s"check name '$cn' of table '$name' is not manifest-safe")
      require(pred.trim.nonEmpty && !pred.exists(c => c == '\n' || c == '\r'),
        s"check '$cn' of table '$name' has an empty or multi-line " +
          "predicate")
      require(!name.endsWith("__del"),
        s"tombstone companion '$name' cannot carry check constraints")
    }

  /** Error-name prefix of a refused constraint violation. */
  val CheckViolation = "GRAFT_CHECK_VIOLATION"

  /** Wrap a slice about to stage with PER-ROW CHECK enforcement, fused
    * into the write itself (Delta's invariant-enforcement shape): each
    * constraint becomes a branch of one filter condition that either
    * passes the row or RAISES the named violation — so the write job
    * that stages the slice IS the enforcement pass. SQL semantics —
    * a row violates when the predicate evaluates to FALSE (NULL
    * passes); any violation aborts the staging job before the version
    * seals (pointer untouched, scratch cleaned), so enforcement stays
    * atomic-by-construction. A check referencing a recorded column the
    * slice omits (schema evolution) evaluates it as NULL — exactly the
    * value the merged read would serve.
    *
    * Fusing (ADVICE-r7 medium) buys two guarantees a separate pre-scan
    * cannot: (1) the ROWS VALIDATED ARE THE ROWS WRITTEN — a
    * non-deterministic input (rand(), a view over a changing source, a
    * recomputed streaming batch) can no longer pass a pre-check and
    * then stage different, violating rows; (2) cost is one predicate
    * eval per row inside the write pipeline instead of a full second
    * computation of the input per constrained commit — which also
    * makes constraint inheritance on compaction replaces effectively
    * free (ADVICE-r7 low: the old pre-scan re-read the whole
    * consolidated table once per constraint). */
  private def checkGuarded(spark: SparkSession, name: String,
      df: DataFrame, meta: TableMeta): DataFrame = {
    if (meta.checks.isEmpty) return df
    import org.apache.spark.sql.functions.{raise_error, when => fwhen}
    val have = df.columns.toSet
    val missing: Seq[StructField] =
      meta.schema.fields.filterNot(f => have.contains(f.name)).toSeq
    val evalFrame = missing.foldLeft(df) { (d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType))
    }
    // first (name-ordered) violated constraint raises; a row passing
    // every branch flows through to the writer untouched
    val guard = meta.checks.toSeq.sortBy(_._1)
      .foldRight(lit(true): Column) { case ((cn, predSql), rest) =>
        val pred =
          try org.apache.spark.sql.functions.expr(predSql)
          catch { case scala.util.control.NonFatal(e) =>
            throw new IllegalArgumentException(
              s"check '$cn' of table '$name' does not parse: $predSql", e)
          }
        fwhen(pred <=> lit(false),
          raise_error(lit(
            s"$CheckViolation: constraint '$cn' of table '$name' " +
              s"($predSql) is violated by the written data — the " +
              "commit was refused before the version sealed " +
              "(no partial state)")).cast(BooleanType))
          .otherwise(rest)
      }
    // Pushdown barrier (ADVICE-r8 medium): raise_error builds a
    // DETERMINISTIC expression in Spark 4.1.2, so a bare Filter(guard)
    // is fair game for PushDownPredicates — it can sink below joins or
    // aggregates INSIDE the user's slice plan (and even be EAGERLY
    // evaluated by ConvertToLocalRelation, which checks only for
    // unevaluable exprs) and raise on rows the plan later discards — a
    // spurious violation refusing a commit whose actually-written rows
    // all pass. OR-ing a never-true NONDETERMINISTIC term pins the
    // Filter at the top of the plan (every filter-moving rule keeps
    // nondeterministic conditions in place) without changing the
    // outcome: `guard` is `true` or raises, and Or short-circuits
    // left-to-right. The term must be a [[GuardBarrier]], not
    // `rand() < -1` (OptimizeRand folds that to `false` and the
    // condition turns deterministic again) and not an And-conjunct
    // (splitConjunctivePredicates would push the guard half alone).
    val barrier =
      org.apache.spark.sql.graftvec.CatalystBridge.column(GuardBarrier())
    val guarded =
      try evalFrame.filter(guard || barrier)
      catch { case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"check constraints of table '$name' cannot be evaluated " +
            s"over the written slice " +
            s"(${meta.checks.toSeq.sortBy(_._1).mkString(", ")})", e)
      }
    if (missing.isEmpty) guarded else guarded.drop(missing.map(_.name): _*)
  }

  /** Row-guard violation markers whose raise unwraps to a named
    * IllegalArgumentException (CHECK constraints and the
    * overwrite-containment guard share the fused-raise machinery). */
  private val ViolationMarkers =
    Seq(CheckViolation, "GRAFT_OVERWRITE_OUTSIDE_PREDICATE")

  /** A staging failure whose cause chain carries a raised CHECK
    * violation surfaces as the violation itself (an
    * IllegalArgumentException with the named constraint), not as the
    * write job's generic abort wrapper. */
  private def unwrapViolation(e: Throwable): Throwable = {
    var t: Throwable = e
    var hops = 0
    while (t != null && hops < 20) {
      val m = t.getMessage
      val marker = if (m == null) None
        else ViolationMarkers.find(m.contains)
      marker match {
        case Some(mk) => t match {
          case iae: IllegalArgumentException => return iae
          case _ =>
            // strip the raise_error/error-class bracket prefix so the
            // surfaced message starts at the violation text
            return new IllegalArgumentException(
              m.substring(m.indexOf(mk)), e)
        }
        case None => ()
      }
      t = t.getCause
      hops += 1
    }
    e
  }

  /** Write one bucketed segment through SPARK'S OWN bucketed-write
    * committer ([[org.apache.spark.sql.execution.datasources
    * .InsertIntoHadoopFsRelationCommand]] with a [[BucketSpec]]): each
    * ROW's bucket id is computed from its data by the committer (which
    * sorts within tasks by bucket id and stamps the `_%05d` file-name
    * convention the bucketed read parses) — correctness does NOT
    * depend on upstream partitioning. That matters: a naive
    * `repartition(n, keys)` + rename-by-task-index scheme silently
    * mixes buckets when the optimizer ELIDES the repartition (e.g. a
    * compaction whose input scan is already bucketed reports a
    * satisfying HashPartitioning, the exchange is dropped, then
    * `DisableUnnecessaryBucketedScan` turns the bucketed scan off —
    * observed, not hypothetical). The caller still pre-repartitions by
    * the bucket keys so each task sees (mostly) one bucket and file
    * counts stay ~numBuckets; the committer makes that an optimization,
    * never a correctness dependency. */
  private def writeBucketedSegment(spark: SparkSession, df: DataFrame,
      dest: Path, partitionCols: Seq[String],
      spec: org.apache.spark.sql.catalyst.catalog.BucketSpec): Unit = {
    val analyzed = df.queryExecution.analyzed
    val attrs = analyzed.output
    val partAttrs = partitionCols.map(c => attrs.find(_.name == c)
      .getOrElse(throw new IllegalStateException(
        s"partition column '$c' not in staged output")))
    val cmd = org.apache.spark.sql.execution.datasources
      .InsertIntoHadoopFsRelationCommand(
        outputPath = dest,
        staticPartitions = Map.empty,
        ifPartitionNotExists = false,
        partitionColumns = partAttrs,
        bucketSpec = Some(spec),
        fileFormat =
          new org.apache.spark.sql.execution.datasources.parquet
            .ParquetFileFormat,
        options = Map.empty,
        query = analyzed,
        mode = org.apache.spark.sql.SaveMode.ErrorIfExists,
        catalogTable = None,
        fileIndex = None,
        outputColumnNames = attrs.map(_.name))
    spark.sessionState.executePlan(cmd).assertCommandExecuted()
  }

  private def bloomSidecar(segDir: Path, c: String): Path =
    new Path(segDir, s"_bloom_$c.bin")

  private val BloomFpp = 0.01

  /** Build + write one segment's bloom sidecars: a `_bloom_<col>.bin`
    * per declared column, sized from the staged row count, written into
    * the STAGING dir so the sidecar rides the same atomic seal rename
    * and is vacuumed with its owner. Sidecars never touch the manifest
    * (only the column LIST does) — at 100 TB that is the difference
    * between a pointer file and megabytes of metadata per commit. A
    * missing sidecar at read time keeps the segment conservatively.
    * Cost: one COLUMN-PRUNED scan of the freshly staged slice per
    * declared column (`df.stat.bloomFilter` is one job each) — O(batch)
    * per commit, accepted for the read-side skipping it buys. */
  private def writeBloomSidecars(spark: SparkSession, segDir: Path,
      bloomCols: Seq[String], sliceSchema: StructType, rows: Long): Unit = {
    val present = bloomCols.filter(sliceSchema.fieldNames.contains)
    if (present.isEmpty || rows == 0) return
    val df = spark.read.schema(sliceSchema).parquet(segDir.toString)
    val fs = segDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    present.foreach { c =>
      val bf = df.stat.bloomFilter(c, math.max(rows, 1L), BloomFpp)
      val out = fs.create(bloomSidecar(segDir, c), true)
      try bf.writeTo(out) finally out.close()
    }
  }

  /** Loaded sidecars, memoized by qualified path — segment dirs are
    * immutable, so a loaded filter never staleifies; None caches the
    * absent case (pre-bloom segments probe the FS once, not per query).
    * Size-capped: a weeks-lived driver watching a compacting ingest
    * cycles through segment paths forever, and vacuumed segments'
    * entries would otherwise accumulate until OOM — on overflow the
    * cache resets wholesale (reloads are one small FS read each). */
  private val BloomCacheMax = 256
  private val bloomCache = scala.collection.concurrent.TrieMap
    .empty[String, Option[org.apache.spark.util.sketch.BloomFilter]]

  private def loadBloom(spark: SparkSession, segDir: Path,
      c: String): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val p = bloomSidecar(segDir, c)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (bloomCache.size > BloomCacheMax) bloomCache.clear()
    bloomCache.getOrElseUpdate(fs.makeQualified(p).toString,
      try {
        val in = fs.open(p)
        try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
        finally in.close()
      } catch {
        // NonFatal, not just IOException: a corrupt/truncated sidecar
        // makes readFrom throw format/version errors too — any damaged
        // sidecar must only DISABLE skipping for its segment (cached as
        // absent), never fail the read
        case scala.util.control.NonFatal(_) => None
      })
  }

  /** Equality probes (col → candidate values) extractable from the
    * TOP-LEVEL conjuncts of `where` for the given bloom columns: `c =
    * lit`, `c <=> lit` (non-null), and `c IN (lits)`. A disjunct or
    * anything else contributes nothing (conservative). Values convert
    * to the probe domain only when exact: integral literal for an
    * integral column (widened to long), string for string. */
  private def bloomProbes(e: org.apache.spark.sql.catalyst.expressions.Expression,
      cols: Map[String, DataType]): Seq[(String, Seq[Any])] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def attrName(x: ce.Expression): Option[String] = x match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length == 1 =>
        Some(a.nameParts.head).filter(cols.contains)
      case a: ce.AttributeReference => Some(a.name).filter(cols.contains)
      case _ => None
    }
    def conv(n: String, lt: ce.Literal): Option[Any] =
      (cols(n), lt.dataType, lt.value) match {
        case (_, _, null) => None
        case (ByteType | ShortType | IntegerType | LongType,
            ByteType | ShortType | IntegerType | LongType, v) =>
          Some(Long.box(v.asInstanceOf[Number].longValue()))
        case (StringType, StringType, v) => Some(v.toString)
        case _ => None
      }
    def conjuncts(x: ce.Expression): Seq[ce.Expression] = x match {
      case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(e).flatMap {
      case ce.EqualTo(l, r) => (attrName(l), r, attrName(r), l) match {
        case (Some(n), lt: ce.Literal, _, _) =>
          conv(n, lt).map(v => n -> Seq(v))
        case (_, _, Some(n), lt: ce.Literal) =>
          conv(n, lt).map(v => n -> Seq(v))
        case _ => None
      }
      case ce.EqualNullSafe(l, r) => (attrName(l), r, attrName(r), l) match {
        case (Some(n), lt: ce.Literal, _, _) =>
          conv(n, lt).map(v => n -> Seq(v))
        case (_, _, Some(n), lt: ce.Literal) =>
          conv(n, lt).map(v => n -> Seq(v))
        case _ => None
      }
      case ce.In(a, vs) if attrName(a).isDefined &&
          vs.nonEmpty && vs.forall(_.isInstanceOf[ce.Literal]) =>
        val n = attrName(a).get
        val conVs = vs.map(v => conv(n, v.asInstanceOf[ce.Literal]))
        // all values must convert — a lost value could wrongly drop a
        // segment that only contains it
        if (conVs.forall(_.isDefined)) Some(n -> conVs.map(_.get))
        else None
      // InSet values are CATALYST-internal (boxed integrals,
      // UTF8String); membership probing is exactly what blooms close
      // the envelope-only zone test with for the runtime-join-filter
      // key sets
      case ce.InSet(a, hset) if attrName(a).isDefined && hset.nonEmpty =>
        val n = attrName(a).get
        val conVs = hset.toSeq.map { v =>
          (cols(n), v) match {
            case (ByteType | ShortType | IntegerType | LongType,
                num: Number) => Some(Long.box(num.longValue()))
            case (StringType, s: org.apache.spark.unsafe.types.UTF8String) =>
              Some(s.toString)
            case _ => None
          }
        }
        if (conVs.forall(_.isDefined)) Some(n -> conVs.map(_.get))
        else None
      case _ => None
    }
  }

  /** Drop every owner of `keep` whose bloom sidecars PROVE no probe
    * value is present: for a conjunct `c = v` (or IN-list), a segment
    * whose filter reports mightContain(v) false for EVERY candidate
    * cannot hold a matching row. ~1% false-positive rate means ~1% of
    * history segments are read needlessly — never skipped wrongly. */
  private[ops] def pruneOwnersBloomExpr(spark: SparkSession, root: String,
      table: String, meta: TableMeta, keep: Seq[String],
      pred: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[String] = {
    if (meta.bloomCols.isEmpty || keep.isEmpty) return keep
    val schema = meta.schema
    val typed = meta.bloomCols.filter(schema.fieldNames.contains)
      .map(c => c -> schema(c).dataType).toMap
    if (typed.isEmpty) return keep
    val probes = bloomProbes(pred, typed)
    if (probes.isEmpty) return keep
    keep.filter { o =>
      val segDir = new Path(new Path(root, s"v_$o"), meta.dirOf(o, table))
      probes.forall { case (c, vs) =>
        loadBloom(spark, segDir, c) match {
          case None => true // no sidecar: keep conservatively
          case Some(bf) => vs.exists {
            case v: java.lang.Long => bf.mightContainLong(v)
            case v: String => bf.mightContainString(v)
            case _ => true
          }
        }
      }
    }
  }

  /** Re-encode one segment's float-rendered min/max as EXACT doubles:
    * a float's shortest string rendering ("0.3") parses as a double
    * BELOW/ABOVE the true widened value ((double)0.3f =
    * 0.30000001192…), so decoding float-era stats under a widened
    * DoubleType column breaks the zone-map envelope — a `x >=
    * 0.30000001` predicate would prune a segment that holds 0.3f.
    * Parsing the recorded string as FLOAT first recovers the exact
    * stored value; widening that to double is lossless. Applied to a
    * column's stats in the same commit that records the wider type. */
  private def widenFloatStats(s: SegStats, cols: Set[String]): SegStats =
    if (cols.isEmpty) s
    else s.copy(cols = s.cols.map { case (c, st) =>
      if (!cols.contains(c)) c -> st
      else c -> st.copy(
        min = st.min.map(x => java.lang.Float.parseFloat(x)
          .toDouble.toString),
        max = st.max.map(x => java.lang.Float.parseFloat(x)
          .toDouble.toString))
    })

  /** The WIDER of two atomic types under the lossless-promotion
    * lattice (byte < short < int < long; float < double) — the
    * Delta/Iceberg type-widening set whose promotions the Spark 4
    * parquet readers execute natively (a narrow-typed file column
    * reads under the wider requested type). None: not a widening pair
    * (including any nested/decimal/string change — refused). */
  private[ops] def widerOf(a: DataType, b: DataType): Option[DataType] = {
    val intChain: Seq[DataType] =
      Seq(ByteType, ShortType, IntegerType, LongType)
    if (a.catalogString == b.catalogString) Some(a)
    else (intChain.indexOf(a), intChain.indexOf(b)) match {
      case (ia, ib) if ia >= 0 && ib >= 0 =>
        Some(if (ia >= ib) a else b)
      case _ => (a, b) match {
        case (FloatType, DoubleType) | (DoubleType, FloatType) =>
          Some(DoubleType)
        case _ => None
      }
    }
  }

  /** The wider of two types at any nesting depth, or a refusal naming
    * the exact path. STRUCTS merge field-wise with the same semantics
    * as the top level (NESTED schema evolution, VERDICT-r9 ask #3 —
    * the reference's JSONB columns, models/patient.py:90, are exactly
    * this shape): common fields recurse, one-sided fields become
    * nullable (old segments serve null at the nested path — the Spark
    * parquet readers clip a requested nested schema against each
    * file's footer natively, no rewrite). ARRAYS widen element-wise,
    * MAPS value-wise (a key type may not change: it is the lookup
    * identity). Atomic leaves use the [[widerOf]] lattice. */
  private def widerOfDeep(table: String, path: String,
      a: DataType, b: DataType): DataType = (a, b) match {
    case (sa: StructType, sb: StructType) =>
      val bByName = sb.fields.map(f => f.name -> f).toMap
      val aNames = sa.fieldNames.toSet
      StructType(sa.fields.map { af =>
        bByName.get(af.name) match {
          case Some(bf) => StructField(af.name,
            widerOfDeep(table, s"$path.${af.name}",
              af.dataType, bf.dataType),
            af.nullable || bf.nullable)
          case None => af.copy(nullable = true)
        }
      } ++ sb.fields.filterNot(f => aNames.contains(f.name))
        .map(_.copy(nullable = true)))
    case (ArrayType(ea, na), ArrayType(eb, nb)) =>
      ArrayType(widerOfDeep(table, s"$path[]", ea, eb), na || nb)
    case (MapType(ka, va, na), MapType(kb, vb, nb))
        if ka.catalogString == kb.catalogString =>
      MapType(ka, widerOfDeep(table, s"$path{}", va, vb), na || nb)
    case _ =>
      widerOf(a, b).getOrElse(
        throw new IllegalArgumentException(
          s"schema conflict on table '$table' at '$path': " +
            s"recorded ${a.simpleString} vs appended " +
            s"${b.simpleString} — appends may add (nested) columns " +
            "or widen int→long / float→double, never otherwise " +
            "change a column's type"))
  }

  /** Merge an appended slice's schema into the table's recorded schema.
    * Same-name fields must have the same type OR form a lossless
    * WIDENING pair — atomic types via the [[widerOf]] lattice
    * (int→long / float→double evolution, the shape a long-lived
    * ingest table eventually needs, VERDICT-r7 ask #3), nested types
    * RECURSIVELY ([[widerOfDeep]]: add-a-field-inside-a-struct and
    * friends, VERDICT-r9 ask #3); any other conflict fails the publish
    * before anything commits (the silent-drift hole: parquet
    * multi-path reads otherwise resolve to whichever footer Spark
    * samples). Narrow segments keep their files untouched — the
    * parquet readers promote and null-fill at scan time under the
    * recorded wider schema, at any nesting. New fields widen the
    * schema at the end; fields present on only one side become
    * nullable (segments written without them serve nulls). */
  private[ops] def mergeSchemas(table: String, parent: StructType,
      slice: StructType): StructType = {
    val sliceByName = slice.fields.map(f => f.name -> f).toMap
    val parentNames = parent.fieldNames.toSet
    val merged = parent.fields.map { pf =>
      sliceByName.get(pf.name) match {
        case Some(sf) =>
          // catalogString renders the full nested type WITHOUT
          // nullability — the "same type, nullability aside"
          // comparison (DataType.sameType is private to Spark)
          StructField(pf.name,
            widerOfDeep(table, pf.name, pf.dataType, sf.dataType),
            pf.nullable || sf.nullable)
        case None => pf.copy(nullable = true)
      }
    } ++ slice.fields.filterNot(f => parentNames.contains(f.name))
      .map(_.copy(nullable = true))
    StructType(merged)
  }

  /** Write `tables` as one atomic publish; returns the txn id. Any write
    * failure propagates AFTER best-effort scratch cleanup, with the
    * previously published version fully intact. `partitionBy` lays the
    * named tables out by the given columns. */
  def publish(spark: SparkSession, root: String,
      tables: Map[String, DataFrame],
      partitionBy: Map[String, Seq[String]] = Map.empty,
      statsBy: Map[String, Seq[String]] = Map.empty,
      bloomBy: Map[String, Seq[String]] = Map.empty,
      clusterBy: Map[String, (Seq[String], Boolean)] = Map.empty,
      bucketBy: Map[String, (Seq[String], Int)] = Map.empty,
      checks: Map[String, Map[String, String]] = Map.empty): String = {
    require(tables.nonEmpty, "publish needs at least one table")
    validateNames(tables.keys)
    partitionBy.foreach { case (n, cs) =>
      require(tables.contains(n), s"partitionBy names unknown table '$n'")
      validatePartitionCols(n, tables(n), cs)
    }
    statsBy.foreach { case (n, cs) =>
      require(tables.contains(n), s"statsBy names unknown table '$n'")
      validateStatCols(n, tables(n), cs)
    }
    bloomBy.foreach { case (n, cs) =>
      require(tables.contains(n), s"bloomBy names unknown table '$n'")
      validateBloomCols(n, tables(n), cs)
    }
    clusterBy.foreach { case (n, (cs, _)) =>
      require(tables.contains(n), s"clusterBy names unknown table '$n'")
      validateMetaColNames("cluster", n, cs)
    }
    bucketBy.foreach { case (n, spec) =>
      require(tables.contains(n), s"bucketBy names unknown table '$n'")
      validateBucketSpec(n, tables(n), spec,
        partitionBy.getOrElse(n, Nil),
        clusterBy.get(n).map(_._1).getOrElse(Nil))
    }
    checks.foreach { case (n, cs) =>
      require(tables.contains(n), s"checks names unknown table '$n'")
      validateChecks(n, cs)
    }
    withTxn(spark, root) { txn =>
      val meta = tables.map { case (n, df) =>
        val (ccols, z) = clusterBy.getOrElse(n, (Nil, false))
        val (bcols, nb) = bucketBy.getOrElse(n, (Nil, 0))
        n -> TableMeta(Seq(txn), df.schema.json,
          partitionBy.getOrElse(n, Nil), statsBy.getOrElse(n, Nil),
          bloomCols = bloomBy.getOrElse(n, Nil),
          clusterCols = ccols, clusterZOrder = z,
          bucketCols = bcols, numBuckets = nb,
          checks = checks.getOrElse(n, Map.empty))
      }
      val guarded = tables.map { case (n, df) =>
        n -> checkGuarded(spark, n, df, meta(n)) }
      commit(spark, root, txn, guarded, meta, parent = None, op = "CREATE",
        cas = false)
      txn
    }
  }

  /** Optimistic-concurrency DELTA publish: stage only what changed and
    * commit a version that REFERENCES the parent's data for everything
    * else — the steady-state shape for high-frequency appenders (a
    * micro-batch ingest writes its slice, never the corpus).
    *
    *  - `append`: each table's staged rows are ADDED to the parent's —
    *    the new version's manifest lists the parent's owning versions
    *    plus this txn; history is referenced, never copied. The slice's
    *    schema is VALIDATED against the recorded table schema (type
    *    conflicts fail fast; new columns evolve the recorded schema) and
    *    its layout must keep the parent's partition columns (inherited
    *    automatically when `partitionBy` is silent).
    *  - `replace`: the staged rows REPLACE the table (compaction's
    *    move: rewrite the union small-file history into one owner). The
    *    parent's partition spec is inherited unless `partitionBy`
    *    overrides it (an explicit `Nil` flattens the layout).
    *  - every other parent table is carried by reference, untouched,
    *    metadata included.
    *
    * The commit succeeds ONLY if the live txn still equals `parent` at
    * swap time — exact same-JVM via the per-root commit lock, exact
    * ACROSS processes via the `_LOCK` lease held over the re-read and
    * the rename ([[acquireLease]]). Returns None on conflict — the
    * caller re-reads the new current and retries; the sealed version is
    * left for vacuum (grace-windowed) rather than deleted, since a
    * crashed delete would strand it anyway. `txnId` pins the version id
    * (callers that must name the txn they are about to commit — e.g.
    * maintenance recording its own coverage watermark); ids are caller's
    * responsibility to keep unique. */
  def publishDelta(spark: SparkSession, root: String,
      append: Map[String, DataFrame],
      replace: Map[String, DataFrame] = Map.empty,
      parent: Option[String] = None,
      partitionBy: Map[String, Seq[String]] = Map.empty,
      statsBy: Map[String, Seq[String]] = Map.empty,
      txnId: Option[String] = None,
      bloomBy: Map[String, Seq[String]] = Map.empty,
      /** Declare (or clear, with `(Nil, false)`) a replaced table's
        * recorded clustering layout — [[graft.ops.Compaction
        * .compactStore]] records what it clustered by so later
        * maintenance re-applies it. Absent = inherit the parent's. */
      clusterBy: Map[String, (Seq[String], Boolean)] = Map.empty,
      /** Tables to REMOVE from the manifest in the same commit (SQL
        * `DROP TABLE`): the named table AND its tombstone companion
        * leave the catalog; their data dirs stay referenced by older
        * versions only, so time travel before the drop still serves
        * them and vacuum reclaims them once those versions age out —
        * the lakehouse drop contract (metadata-only, O(1)). */
      drop: Seq[String] = Nil,
      /** Declare (or clear, with `(Nil, 0)`) a replaced table's hash
        * bucketing ([[TableMeta.bucketCols]]). Absent = inherit the
        * parent's; appends always inherit (a re-declaration on append
        * must match — the manifest owns the layout). */
      bucketBy: Map[String, (Seq[String], Int)] = Map.empty,
      /** Declare (or clear, with an empty map) a replaced table's CHECK
        * constraints ([[TableMeta.checks]]). Absent = inherit the
        * parent's; appends always inherit and are ENFORCED against the
        * slice. */
      checks: Map[String, Map[String, String]] = Map.empty,
      /** Operation label for the commit marker (`CALL history`'s
        * `operation` column). None = derived from the delta's shape
        * (APPEND / REPLACE / DROP, joined by '+'). */
      opLabel: Option[String] = None,
      /** `false` marks this commit as a REORGANIZATION (Delta's
        * `dataChange=false`): the replace carries the SAME logical
        * rows in a new layout (compaction, clustering), so change-feed
        * consumers ride through it instead of resyncing. The caller
        * GUARANTEES content preservation — only the engine's own
        * maintenance paths ([[graft.ops.Compaction]]) should set it. */
      dataChange: Boolean = true,
      /** `true` lets an APPEND-ONLY delta that loses its CAS race LAND
        * on the new live version by REBASE ([[rebaseAppendOnto]]):
        * the already-sealed segments commit against the winner's
        * manifest without restaging or re-evaluating the caller's
        * frames, unless a logical conflict is detected (then None, the
        * usual lost-CAS contract). OPT-IN because it is only sound
        * when the appended CONTENT does not depend on the parent
        * snapshot: caller-supplied rows (an INSERT, an ingest slice)
        * qualify; rows or key scopes derived from a read at the pin
        * (a verified upsert, a MERGE) do not — those need the conflict
        * signal to recompute against the new snapshot. */
      rebase: Boolean = false,
      /** Per-row CHANGE SETS to stage beside a data-changing rewrite,
        * table → (inserted rows, removed rows): each entry appends one
        * owner to [[cdfTableOf]] (rows tagged by [[CdfTypeCol]]) in
        * this SAME commit and records `cdf=<table>` in the marker, so
        * the change feeds serve the rewrite row-wise instead of
        * resyncing. The caller GUARANTEES the pair is exactly the
        * commit's logical diff. Keys must be tables this delta
        * replaces. */
      cdf: Map[String, (DataFrame, DataFrame)] = Map.empty)
      : Option[String] = {
    require(append.nonEmpty || replace.nonEmpty || drop.nonEmpty,
      "publishDelta needs at least one appended, replaced or dropped table")
    require(append.keySet.intersect(replace.keySet).isEmpty,
      "a table cannot be both appended and replaced")
    drop.foreach(t => require(
      !append.contains(t) && !replace.contains(t),
      s"table '$t' cannot be both dropped and written in one commit"))
    cdf.keys.foreach(t => require(replace.contains(t),
      s"cdf stages the change set of a rewrite — '$t' is not replaced " +
        "by this delta (appends and drops are already feed-exact)"))
    cdf.foreach { case (t, (ins, del)) => requireNoCdfCol(t, ins, del) }
    val cdfAppend: Map[String, DataFrame] = cdf.map { case (t, (ins, del)) =>
      cdfTableOf(t) -> del.withColumn(CdfTypeCol, lit("delete"))
        .unionByName(ins.withColumn(CdfTypeCol, lit("insert")),
          allowMissingColumns = true)
    }
    cdfAppend.keys.foreach(n => require(
      !append.contains(n) && !replace.contains(n),
      s"'$n' is written explicitly AND as a staged change set"))
    val appendA = append ++ cdfAppend
    validateNames(appendA.keys ++ replace.keys)
    partitionBy.keys.foreach(n =>
      require(append.contains(n) || replace.contains(n),
        s"partitionBy names unknown table '$n'"))
    statsBy.keys.foreach(n =>
      require(append.contains(n) || replace.contains(n),
        s"statsBy names unknown table '$n'"))
    bloomBy.keys.foreach(n =>
      require(append.contains(n) || replace.contains(n),
        s"bloomBy names unknown table '$n'"))
    clusterBy.keys.foreach(n =>
      require(replace.contains(n),
        s"clusterBy names a table '$n' this delta does not replace " +
          "(a clustering declaration IS a physical rewrite)"))
    bucketBy.keys.foreach(n =>
      require(append.contains(n) || replace.contains(n),
        s"bucketBy names unknown table '$n'"))
    checks.foreach { case (n, cs) =>
      require(replace.contains(n),
        s"checks names a table '$n' this delta does not replace " +
          "(declare constraints at (re)definition)")
      validateChecks(n, cs)
    }
    withTxn(spark, root, txnId) { txn =>
      val parentMeta =
        parent.map(manifestMetaOf(spark, root, _)).getOrElse(Map.empty)
      drop.foreach(t => require(parentMeta.contains(t),
        s"cannot drop table '$t': not in version " +
          s"${parent.getOrElse("<none>")} under $root"))
      // a dropped table takes its tombstone AND change-data companions
      // with it — a re-created table must not inherit a dead table's
      // delete keys or change history
      val dropAll = drop.toSet ++ drop.map(deleteTableOf) ++
        drop.map(cdfTableOf)
      // a REPLACE defines the table's full new content, so any pending
      // merge-on-read tombstones are consumed by it — clear them in the
      // same commit (unless the caller writes the tombstone table
      // explicitly). Leaving them would be worse than redundant: their
      // [[TombAsofCol]] scopes reference the parent's owner POSITIONS,
      // which the replace resets, so a stale tombstone could wrongly
      // kill rows appended after the replace. The cleared companion
      // keeps its SCHEMA but drops to ZERO owners (`name=` in the
      // manifest): the pinned delete key survives for later deletes,
      // no empty segment is staged, and readers plan NO anti-join —
      // which also keeps a bucketed table's exchange-free joins after
      // compaction (an empty-segment anti-join would still shuffle
      // under a disabled-broadcast plan).
      val autoCleared: Map[String, TableMeta] = replace.keys
        .filterNot(_.endsWith("__del"))
        .flatMap { t =>
          val dt = deleteTableOf(t)
          if (append.contains(dt) || replace.contains(dt)) None
          else parentMeta.get(dt).filter(_.owners.nonEmpty)
            .map(m => dt -> m.copy(owners = Nil,
              segStats = Map.empty, fileStats = Map.empty))
        }.toMap
      val replaceAll = replace
      val appendMeta = appendA.map { case (n, df) =>
        val pm = parentMeta.get(n)
        val pcols = partitionBy.getOrElse(n,
          pm.map(_.partitionCols).getOrElse(Nil))
        pm.map(_.partitionCols).foreach(parentCols =>
          require(pcols == parentCols,
            s"append to table '$n' must keep its partition layout " +
              s"(${parentCols.mkString(",")}), got (${pcols.mkString(",")})"))
        validatePartitionCols(n, df, pcols)
        // zone-map columns inherit from the parent; an explicit statsBy
        // may extend them (future segments get the wider map)
        val scols = statsBy.getOrElse(n, pm.map(_.statCols).getOrElse(Nil))
        validateStatColsLenient(n, df, scols)
        val bcols = bloomBy.getOrElse(n, pm.map(_.bloomCols).getOrElse(Nil))
        validateBloomCols(n, df, bcols)
        val parentSchema = pm.map(_.schema)
        val merged = parentSchema match {
          case Some(ps) => mergeSchemas(n, ps, df.schema)
          case None => df.schema
        }
        // type-widening evolution bookkeeping: columns whose RECORDED
        // type this append widens (float→double additionally needs its
        // historical zone maps re-encoded — see [[widenFloatStats]])
        val typeWidened: Set[String] = parentSchema.map(ps =>
          ps.fields.collect {
            case pf if merged(pf.name).dataType.catalogString !=
              pf.dataType.catalogString => pf.name
          }.toSet).getOrElse(Set.empty)
        val floatWidened: Set[String] = parentSchema.map(ps =>
          ps.fields.collect {
            case pf if pf.dataType == FloatType &&
              merged(pf.name).dataType == DoubleType => pf.name
          }.toSet).getOrElse(Set.empty)
        // a BUCKET column cannot widen: Spark's bucket hash is
        // type-sensitive (murmur3 of int 5 ≠ long 5L), so segments
        // written under the two types would hash to different buckets
        // inside one table — refuse rather than silently mis-join
        pm.foreach(m => m.bucketCols.find(typeWidened).foreach(c =>
          throw new IllegalArgumentException(
            s"append to table '$n' widens bucket column '$c' — the " +
              "bucket hash domain is type-sensitive; rewrite the " +
              "table (overwrite) to change a bucket column's type")))
        // a stat column this append INTRODUCES (absent from the parent
        // schema — which is the union of every prior slice) is provably
        // all-null in every existing segment: backfill their zone maps
        // without touching a file, so late-declared columns still prune
        // history
        val baseStats = pm.map(_.segStats).getOrElse(Map.empty)
        val baseFileStats = pm.map(_.fileStats).getOrElse(Map.empty)
        val introduced = parentSchema.map(ps =>
          scols.filterNot(ps.fieldNames.contains)).getOrElse(Nil)
        def backfill(s: SegStats): SegStats =
          s.copy(cols = s.cols ++ introduced
            .filterNot(s.cols.contains)
            .map(c => c -> ColStat(None, None, s.rows)))
        val backfilled0 =
          if (introduced.isEmpty) baseStats
          else baseStats.map { case (o, s) => o -> backfill(s) }
        val backfilledFiles0 =
          if (introduced.isEmpty) baseFileStats
          else baseFileStats.map { case (o, fm) =>
            o -> fm.map { case (f, s) => f -> backfill(s) }
          }
        // float→double widen: the historical float-rendered stats
        // re-encode exactly in the same commit that records DoubleType
        val backfilled =
          if (floatWidened.isEmpty) backfilled0
          else backfilled0.map { case (o, s) =>
            o -> widenFloatStats(s, floatWidened) }
        val backfilledFiles =
          if (floatWidened.isEmpty) backfilledFiles0
          else backfilledFiles0.map { case (o, fm) =>
            o -> fm.map { case (f, s) =>
              f -> widenFloatStats(s, floatWidened) }
          }
        // bucketing inherits like partitioning: the manifest owns the
        // layout; an explicit re-declaration on append must MATCH (a
        // divergent spec would mix hash domains inside one table)
        val parentBucket =
          pm.map(m => (m.bucketCols, m.numBuckets)).getOrElse((Nil, 0))
        val bucketSpec = bucketBy.get(n) match {
          case Some(s) =>
            require(parentBucket == ((Nil, 0)) || parentBucket == s,
              s"append to table '$n' must keep its bucket layout " +
                s"(${parentBucket._2} buckets on " +
                s"${parentBucket._1.mkString(",")}), got ${s._2} on " +
                s"${s._1.mkString(",")}")
            s
          case None => parentBucket
        }
        if (bucketSpec._2 > 0)
          validateBucketSpec(n, df, bucketSpec, pcols,
            pm.map(_.clusterCols).getOrElse(Nil))
        n -> TableMeta(pm.map(_.owners).getOrElse(Nil) :+ txn,
          merged.json, pcols, scols, backfilled, backfilledFiles,
          bcols,
          // the DECLARED layout survives appends untouched — the new
          // segment is not clustered, but the next compaction re-sorts
          // everything under the recorded spec
          pm.map(_.clusterCols).getOrElse(Nil),
          pm.exists(_.clusterZOrder),
          bucketSpec._1, bucketSpec._2,
          // constraints inherit like every layout fact: an append is
          // enforced against the table's recorded invariants
          pm.map(_.checks).getOrElse(Map.empty),
          // a clone's shared-dir mapping rides along; the new owner
          // maps by default to the table's own name
          pm.map(_.ownerDirs).getOrElse(Map.empty),
          // evolved per-owner partition specs ride along too: the new
          // owner has no entry = laid out under the CURRENT spec
          pm.map(_.ownerParts).getOrElse(Map.empty))
      }
      val replaceMeta = replaceAll.map { case (n, df) =>
        val pcols = partitionBy.getOrElse(n,
          parentMeta.get(n).map(_.partitionCols).getOrElse(Nil))
        validatePartitionCols(n, df, pcols)
        val scols = statsBy.getOrElse(n,
          parentMeta.get(n).map(_.statCols).getOrElse(Nil))
        validateStatColsLenient(n, df, scols)
        val bcols = bloomBy.getOrElse(n,
          parentMeta.get(n).map(_.bloomCols).getOrElse(Nil))
        validateBloomCols(n, df, bcols)
        val (ccols, z) = clusterBy.getOrElse(n,
          parentMeta.get(n).map(m => (m.clusterCols, m.clusterZOrder))
            .getOrElse((Nil, false)))
        validateMetaColNames("cluster", n, ccols)
        val (bucketCols, nBuckets) = bucketBy.getOrElse(n,
          parentMeta.get(n).map(m => (m.bucketCols, m.numBuckets))
            .getOrElse((Nil, 0)))
        if (nBuckets > 0)
          validateBucketSpec(n, df, (bucketCols, nBuckets), pcols, ccols)
        n -> TableMeta(Seq(txn), df.schema.json, pcols, scols,
          bloomCols = bcols, clusterCols = ccols, clusterZOrder = z,
          bucketCols = bucketCols, numBuckets = nBuckets,
          checks = checks.getOrElse(n,
            parentMeta.get(n).map(_.checks).getOrElse(Map.empty)))
      }
      val meta = (parentMeta -- dropAll) ++ appendMeta ++ replaceMeta ++
        autoCleared
      val guarded = (appendA ++ replaceAll).map { case (n, df) =>
        n -> checkGuarded(spark, n, df, meta(n))
      }
      commit(spark, root, txn, guarded, meta, parent,
        op = opLabel.getOrElse(Seq(
          if (append.nonEmpty) Some("APPEND") else None,
          if (replace.nonEmpty) Some("REPLACE") else None,
          if (drop.nonEmpty) Some("DROP " + drop.mkString(","))
          else None).flatten.mkString("+")),
        dataChange = dataChange, cdfTables = cdf.keys.toSeq,
        onLost = sealedMeta =>
          if (rebase && replace.isEmpty && drop.isEmpty)
            rebaseAppendOnto(spark, root, txn, parentMeta, sealedMeta,
              append.map { case (n, df) => n -> df.schema },
              opLabel, dataChange)
          else None)
    }
  }

  /** RESTORE: reset `table` to its state at version `toTxn` as a NEW
    * commit — the rollback face of time travel (Delta's `RESTORE TABLE
    * … TO VERSION AS OF`, re-expressed over the graft manifest). Purely
    * METADATA: the commit re-points the table's manifest entry (owners,
    * schema, layout, zone maps, file stats, recorded clustering) and
    * its tombstone companion at what `toTxn` recorded — O(1), no data
    * movement, segments are shared with the old version. History is
    * append-only: the pre-restore state keeps time-traveling (the
    * restore is just one more commit with a parent CAS), and the LIVE
    * reference closure now holds the restored segments, so vacuum
    * protects them from here on. A table absent from the current
    * version but present at `toTxn` is resurrected (the `DROP TABLE`
    * undo); a table absent at `toTxn` is refused. If retention already
    * reclaimed any segment the restored state references, the restore
    * REFUSES with the missing paths — never a commit that reads
    * half a table. Returns the new txn, or None on a lost CAS race.
    *
    * (Reference analog: the reference has no rollback — a bad load is
    * repaired by re-running the pipeline, routes.py:62-148; at engine
    * scale an O(1) metadata rollback is the operation that makes a bad
    * 100 TB load survivable.) */
  def restoreTable(spark: SparkSession, root: String, table: String,
      toTxn: String, parent: Option[String] = None,
      /** OPT-IN commit-time CDF for the rollback (r14): stage the
        * per-row diff (rows the restore adds back, rows it removes) so
        * live change-feed consumers stream THROUGH the restore instead
        * of resyncing. Default OFF — unlike [[overwriteWhere]]'s
        * always-on staging, a restore's selling point is the O(1)
        * METADATA commit, and the diff costs a two-version anti-join
        * scan plus a staged write of the changed rows; turn it on when
        * downstream streams matter more than rollback latency. */
      stageCdf: Boolean = false): Option[String] =
    withTxn(spark, root) { txn =>
      val rootPath = new Path(root)
      val p = parent.orElse(currentTxn(spark, root))
      val parentMeta =
        p.map(manifestMetaOf(spark, root, _)).getOrElse(Map.empty)
      val targetMeta =
        try manifestMetaOf(spark, root, toTxn)
        catch { case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(
            s"cannot restore '$table' to $toTxn: that version's " +
              s"manifest is not readable under $root — it was never " +
              "committed, or vacuum already reclaimed it", e)
        }
      val restored = targetMeta.getOrElse(table,
        throw new IllegalArgumentException(
          s"cannot restore '$table' to $toTxn: the table is not in " +
            s"that version under $root"))
      val dt = deleteTableOf(table)
      val companion = targetMeta.get(dt)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val needed =
        restored.owners.map(o => new Path(new Path(rootPath, s"v_$o"),
          restored.dirOf(o, table))) ++
          companion.toSeq.flatMap(c => c.owners.map(o =>
            new Path(new Path(rootPath, s"v_$o"), c.dirOf(o, dt))))
      val missing = needed.filterNot(fs.exists)
      require(missing.isEmpty,
        s"cannot restore '$table' to $toTxn: segment(s) " +
          s"${missing.mkString(", ")} were already reclaimed by vacuum — " +
          "the restore target has left retention")
      // opt-in CDF: the rollback's row diff — what the restore ADDS
      // back (live at the target, absent now) and what it REMOVES
      // (live now, absent at the target) — computed delete-aware at
      // both pinned versions, staged as one cdf owner like any rewrite
      val cdfEntry: Option[(String, TableMeta, DataFrame)] =
        if (!stageCdf || p.isEmpty) None
        else {
          val cdfT = cdfTableOf(table)
          val cur = readTableAt(spark, root, table, p.get)
          requireNoCdfCol(table, cur)
          // the rollback diff is a pair of set operations, which Spark
          // rejects on map-typed columns — refuse with the alternative
          // named instead of throwing AnalysisException mid-diff
          require(cur.schema.fields.forall(f => mapFree(f.dataType)),
            s"restore: stage_cdf needs a map-free schema for '$table' " +
              "(the two-version row diff is a set operation, which " +
              "Spark rejects on map columns); restore without staging " +
              "(the metadata-only default) and let downstream " +
              "consumers resync")
          val tgt = readTableAt(spark, root, table, toTxn)
          // conform the target read to the CURRENT shape: a restore
          // across a widening evolution reads the old version narrow
          val aligned = tgt.select(cur.schema.fields.toIndexedSeq.map(f =>
            (if (tgt.columns.contains(f.name)) col(f.name).cast(f.dataType)
             else lit(null).cast(f.dataType)).as(f.name)): _*)
          // delete rows first — see publishDelta's cdfAppend note
          val frame = cur.exceptAll(aligned)
            .withColumn(CdfTypeCol, lit("delete"))
            .unionByName(aligned.exceptAll(cur)
              .withColumn(CdfTypeCol, lit("insert")))
          val pm = parentMeta.get(cdfT)
          val merged = pm.map(m => mergeSchemas(cdfT, m.schema, frame.schema))
            .getOrElse(frame.schema)
          Some((cdfT, pm.map(m => m.copy(owners = m.owners :+ txn,
              schemaJson = merged.json))
            .getOrElse(TableMeta(Seq(txn), merged.json)), frame))
        }
      val newMeta = (parentMeta - table - dt) +
        (table -> restored) ++ companion.map(dt -> _) ++
        cdfEntry.map { case (n, m, _) => n -> m }
      commit(spark, root, txn,
        cdfEntry.map { case (n, _, f) => Map(n -> f) }.getOrElse(Map.empty),
        newMeta, p, op = s"RESTORE $table",
        cdfTables = if (cdfEntry.isDefined) Seq(table) else Nil,
        // re-verify AFTER the swap (ADVICE-r7): a cross-process vacuum
        // racing the pre-check window could have reclaimed a target
        // segment while it belonged to no surviving version's closure;
        // from the swap onward the live manifest references them, so a
        // post-swap existence pass closes the window — on a hit the
        // pointer rolls back to the parent state before erroring,
        // leaving no committed manifest that reads half a table
        afterSwap = () => reverifyOrRollback(spark, root, txn, parentMeta,
          needed, fs, s"restore '$table' to $toTxn"))
    }

  /** MINOR-compaction commit: replace the table's owner-chain SUFFIX
    * with one freshly staged segment while the `keepOwners` PREFIX is
    * carried BY REFERENCE — the head's data files are not read, not
    * rewritten, not even listed. This is what makes maintenance O(tail)
    * for a high-frequency appender: the big consolidated head stays
    * put, only the small recent segments merge. Precondition (caller-
    * checked, enforced here): the table has NO merge-on-read
    * tombstones — tombstone `_asof` scopes reference owner POSITIONS,
    * which a suffix rewrite renumbers, so delete-carrying tables take
    * the full [[graft.ops.Compaction.compactStore]] path (which
    * applies them physically). The head's per-owner zone maps and file
    * stats survive verbatim; the staged tail gets fresh ones. */
  private[ops] def replaceTail(spark: SparkSession, root: String,
      table: String, keepOwners: Seq[String], tail: DataFrame,
      parent: String): Option[String] = {
    val prefixCheck = manifestMetaOf(spark, root, parent).get(table)
      .map(_.owners)
    require(prefixCheck.exists(_.startsWith(keepOwners)),
      s"replaceTail: keepOwners must be a strict prefix of " +
        s"'$table''s owner chain")
    // a tail compaction preserves every logical row — mark the commit
    // dataChange=false so change-feed consumers ride through it
    replaceOwners(spark, root, table, keepOwners, tail, parent,
      op = s"COMPACT TAIL $table", dataChange = false)
  }

  /** SUBSET-compaction commit — [[replaceTail]] generalized from
    * "suffix" to "any order-preserving subset" (VERDICT-r7 ask #4):
    * the owners NOT in `keepOwners` are rewritten into one freshly
    * staged segment appended at the END of the chain, while every
    * kept owner is carried BY REFERENCE — its data files are not
    * read, not rewritten, not even listed, and its per-owner zone
    * maps and file stats survive verbatim. This is what makes an
    * `OPTIMIZE WHERE`-shaped rewrite of one hot partition O(matching
    * segments) instead of O(table). Precondition (enforced): NO
    * merge-on-read tombstones — their `_asof` scopes reference owner
    * POSITIONS, which removing mid-chain owners renumbers; tombstoned
    * tables take the full [[graft.ops.Compaction.compactStore]]. */
  private[ops] def replaceOwners(spark: SparkSession, root: String,
      table: String, keepOwners: Seq[String], tail: DataFrame,
      parent: String, op: String = "REPLACE SUBSET",
      dataChange: Boolean = true,
      /** A predicate this rewrite claims exclusivity over
        * (overwriteWhere's WHERE): a lost CAS rebase then refuses if
        * any owner that landed concurrently COULD hold a matching row
        * (zone-map check, conservative) — those rows would wrongly
        * survive the "replace all rows where P" contract. None (a
        * compaction) imposes no predicate condition. */
      conflictPredicate: Option[String] = None,
      /** Per-row change set of this rewrite (inserted, removed) to
        * stage as one [[cdfTableOf]] owner in the same commit — the
        * feed ride-through contract of [[publishDelta]]'s `cdf`. */
      cdf: Option[(DataFrame, DataFrame)] = None): Option[String] =
    withTxn(spark, root) { txn =>
      val parentMeta = manifestMetaOf(spark, root, parent)
      val m = parentMeta.getOrElse(table,
        throw new IllegalArgumentException(
          s"table '$table' is not in version $parent under $root"))
      // keepOwners must be an order-preserving strict subset
      val keepSet = keepOwners.toSet
      require(keepOwners.size < m.owners.size &&
          keepSet.subsetOf(m.owners.toSet) &&
          m.owners.filter(keepSet) == keepOwners,
        s"replaceOwners: keepOwners must be an order-preserving " +
          s"strict subset of '$table''s owner chain")
      require(!parentMeta.get(deleteTableOf(table))
          .exists(_.owners.nonEmpty),
        s"replaceOwners: table '$table' has merge-on-read tombstones — " +
          "positions renumber under a subset rewrite; use compactStore")
      val keep = keepOwners.toSet
      val newMeta = m.copy(
        owners = keepOwners :+ txn,
        segStats = m.segStats.filter(kv => keep.contains(kv._1)),
        fileStats = m.fileStats.filter(kv => keep.contains(kv._1)),
        ownerDirs = m.ownerDirs.filter(kv => keep.contains(kv._1)),
        // the consolidated segment lays out under the CURRENT spec;
        // kept owners keep their evolved-spec entries
        ownerParts = m.ownerParts.filter(kv => keep.contains(kv._1)))
      val cdfT = cdfTableOf(table)
      val cdfFrame = cdf.map { case (ins, del) =>
        requireNoCdfCol(table, ins, del)
        // delete rows first — see publishDelta's cdfAppend note
        del.withColumn(CdfTypeCol, lit("delete"))
          .unionByName(ins.withColumn(CdfTypeCol, lit("insert")),
            allowMissingColumns = true)
      }
      val cdfMeta = cdfFrame.map { f =>
        val pm = parentMeta.get(cdfT)
        val merged = pm.map(p => mergeSchemas(cdfT, p.schema, f.schema))
          .getOrElse(f.schema)
        cdfT -> pm.map(p => p.copy(owners = p.owners :+ txn,
            schemaJson = merged.json))
          .getOrElse(TableMeta(Seq(txn), merged.json))
      }
      val all = parentMeta + (table -> newMeta) ++ cdfMeta
      commit(spark, root, txn,
        Map(table -> tail) ++ cdfFrame.map(cdfT -> _), all, Some(parent),
        op = op, dataChange = dataChange,
        cdfTables = if (cdf.isDefined) Seq(table) else Nil,
        onLost = sealedMeta =>
          rebaseSubsetOnto(spark, root, table, txn, m,
            m.owners.toSet -- keepOwners.toSet,
            sealedMeta.getOrElse(table, newMeta), conflictPredicate,
            op, dataChange,
            sealedCdf = cdfMeta.map { case (n, mm) =>
              n -> sealedMeta.getOrElse(n, mm) }))
    }

  /** [[rebaseAppendOnto]]'s sibling for a SUBSET rewrite
    * ([[replaceOwners]]) that lost its CAS race: the staged
    * consolidated segment replaces exactly the owners in `replaced`,
    * whose segments are immutable — so as long as every one of them
    * is STILL in the winner's chain (nothing rewrote them), the
    * winner's other changes (appends, disjoint rewrites) compose: the
    * rebased chain is the winner's minus `replaced` plus our segment.
    * Refusals (None → caller recomputes, the pre-r10 contract):
    *  - a replaced owner left the chain (a concurrent rewrite touched
    *    the same data — the genuinely overlapping pair);
    *  - the table was dropped, gained merge-on-read tombstones
    *    (positional `_asof` scopes forbid subset rewrites), or changed
    *    a layout fact (partition/bucket/stat/bloom/CHECK set);
    *  - `conflictPredicate` is set and a concurrently-landed owner
    *    could hold a matching row (zone maps, conservative). */
  private def rebaseSubsetOnto(spark: SparkSession, root: String,
      table: String, txn: String, pm: TableMeta, replaced: Set[String],
      sealedM: TableMeta, conflictPredicate: Option[String],
      op: String, dataChange: Boolean,
      /** The staged change-set companion ([[cdfTableOf]] name → its
        * sealed meta): on rebase its owner appends to the END of the
        * winner's companion chain, like any append. */
      sealedCdf: Option[(String, TableMeta)] = None): Option[String] = {
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      val q = currentTxn(spark, root) match {
        case Some(v) => v
        case None => return rebaseConflict(
          s"rebase under $root: the store has no live version")
      }
      val qMeta = manifestMetaOf(spark, root, q)
      val qm = qMeta.get(table) match {
        case Some(v) => v
        case None => return rebaseConflict(
          s"table '$table' was dropped concurrently")
      }
      if (!replaced.subsetOf(qm.owners.toSet))
        return rebaseConflict(s"table '$table': a concurrent commit " +
          "rewrote one of the owners this rewrite replaces " +
          "(overlapping write sets)")
      if (qMeta.get(deleteTableOf(table)).exists(_.owners.nonEmpty))
        return rebaseConflict(s"table '$table' gained merge-on-read " +
          "tombstones concurrently (positional _asof scopes forbid " +
          "a subset rewrite)")
      if (qm.partitionCols != pm.partitionCols)
        return rebaseConflict(
          s"table '$table': partition spec changed concurrently")
      if (qm.bucketCols != pm.bucketCols || qm.numBuckets != pm.numBuckets)
        return rebaseConflict(
          s"table '$table': bucket layout changed concurrently")
      if (qm.checks != pm.checks)
        return rebaseConflict(
          s"table '$table': CHECK constraints changed concurrently")
      if (qm.statCols != pm.statCols || qm.bloomCols != pm.bloomCols)
        return rebaseConflict(
          s"table '$table': stat/bloom columns changed concurrently")
      conflictPredicate.foreach { w =>
        // owners that landed since our read: appends, or the output of
        // disjoint rewrites. Sound because pruneOwners is conservative:
        // an owner without stats ADMITS and refuses the rebase.
        val fresh = qm.owners.filterNot(pm.owners.contains)
        val admits = pruneOwners(spark, qm.copy(owners = fresh), w)
        if (admits.nonEmpty)
          return rebaseConflict(s"table '$table': owners landed " +
            s"concurrently that may hold rows matching '$w' " +
            s"(${admits.mkString(", ")})")
      }
      val newMeta = qm.copy(
        owners = qm.owners.filterNot(replaced) :+ txn,
        segStats = (qm.segStats -- replaced) ++
          sealedM.segStats.get(txn).map(txn -> _),
        fileStats = (qm.fileStats -- replaced) ++
          sealedM.fileStats.get(txn).map(txn -> _),
        ownerDirs = qm.ownerDirs -- replaced,
        ownerParts = qm.ownerParts -- replaced)
      // the staged change set rides the rebase like a plain append:
      // its owner lands at the end of the WINNER's companion chain
      val cdfEntry = sealedCdf.map { case (n, sm) =>
        n -> qMeta.get(n).map(p => p.copy(
            owners = p.owners :+ txn,
            segStats = p.segStats ++ sm.segStats.get(txn).map(txn -> _),
            fileStats = p.fileStats ++
              sm.fileStats.get(txn).map(txn -> _)))
          .getOrElse(sm)
      }
      val manifest = renderManifest(txn, qMeta + (table -> newMeta) ++
          cdfEntry)
      // keep the version dir's _MANIFEST in lockstep with what commits
      // (see rebaseAppendOnto: time travel / vacuum read it)
      rewriteSealedManifest(spark, root, txn, manifest)
      if (swapAndMark(spark, root, txn, manifest, Some(q), op, dataChange,
          cdfTables = if (sealedCdf.isDefined) Seq(table) else Nil)) {
        Concurrency.rebased.incrementAndGet()
        return Some(txn)
      }
    }
    rebaseConflict(s"rebase under $root: lost " +
      s"$MaxCommitAttempts successive races")
  }

  /** COMMIT REBASE for an append-only delta that LOST its CAS race:
    * land the already-sealed `v_txn` segments on the NEW live version
    * without restaging or re-evaluating anything — multi-writer
    * optimistic concurrency with logical conflict detection
    * (VERDICT-r9 ask #2; the Delta commit-protocol insight: an
    * append's write-set is just its new immutable files, so it
    * composes with ANY concurrent commit unless a table-level fact it
    * was staged under moved). The rebase REFUSES (None → the caller's
    * recompute loop takes over, exactly the pre-r10 behavior; reason
    * recorded in [[Concurrency.lastConflict]]) when an appended table:
    *
    *  - was dropped, or created concurrently by another writer;
    *  - changed a layout fact the sealed segment was written under:
    *    partition spec, bucket spec, CHECK constraints (the staged
    *    rows were only guarded against the OLD checks), zone-map or
    *    bloom column set;
    *  - changed its recorded schema other than by pure WIDENING (a
    *    concurrent rename/drop/replace would make "re-add at the end"
    *    resurrect columns the winner removed), or the merge against
    *    the new recorded schema fails / widens a bucket column;
    *  - is a tombstone companion (`__del`) whose BASE owner chain was
    *    rewritten — `_asof` scopes are positional, a reorganization
    *    under them would re-aim the delete at the wrong rows.
    *
    * A PLAIN append needs NO owner-chain condition at all: the new
    * owner lands at the END of whatever chain the winner left, so
    * appends ride over concurrent appends, deletes, compactions, even
    * predicate overwrites — none of which can invalidate immutable
    * caller-supplied rows. Schema-widening bookkeeping (introduced
    * stat-column backfill, float→double zone-map re-encode) is
    * recomputed against the WINNER's metadata, metadata-only. */
  private def rebaseAppendOnto(spark: SparkSession, root: String,
      txn: String, parentMeta: Map[String, TableMeta],
      sealedMeta: Map[String, TableMeta],
      appendSchemas: Map[String, StructType],
      opLabel: Option[String], dataChange: Boolean): Option[String] = {
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      val q = currentTxn(spark, root) match {
        case Some(v) => v
        case None => return rebaseConflict(
          s"rebase under $root: the store has no live version")
      }
      val qMeta = manifestMetaOf(spark, root, q)
      var conflict: Option[String] = None
      def bad(r: String): Seq[(String, TableMeta)] = {
        conflict = Some(r); Nil
      }
      val rebuilt: Map[String, TableMeta] =
        appendSchemas.toSeq.sortBy(_._1).flatMap { case (n, sliceSchema) =>
          if (conflict.nonEmpty) Nil
          else if (n.endsWith("__del") && {
              // a tombstone slice carries POSITIONAL `_asof` scopes
              // counted against the base chain at the pin — whether or
              // not the companion table existed yet, a rewritten base
              // chain re-aims them
              val base = n.stripSuffix("__del")
              val pb = parentMeta.get(base).map(_.owners).getOrElse(Nil)
              val qb = qMeta.get(base).map(_.owners).getOrElse(Nil)
              !qb.startsWith(pb)
            })
            bad(s"table '$n': the tombstoned base table's owner " +
              "chain was rewritten concurrently (positional " +
              "_asof scopes would re-aim)")
          else {
            val sm = sealedMeta(n)
            (parentMeta.get(n), qMeta.get(n)) match {
              case (None, Some(_)) =>
                bad(s"table '$n' was created concurrently")
              case (Some(_), None) =>
                bad(s"table '$n' was dropped concurrently")
              case (None, None) =>
                // our commit creates the table: every recorded fact is
                // ours, sealed as staged
                Seq(n -> sm)
              case (Some(pm), Some(qm)) =>
                if (qm.partitionCols != sm.partitionCols)
                  bad(s"table '$n': partition spec changed concurrently")
                else if (qm.bucketCols != sm.bucketCols ||
                    qm.numBuckets != sm.numBuckets)
                  bad(s"table '$n': bucket layout changed concurrently")
                else if (qm.checks != sm.checks)
                  bad(s"table '$n': CHECK constraints changed " +
                    "concurrently (the sealed rows were guarded " +
                    "against the old set)")
                else if (qm.statCols != pm.statCols)
                  bad(s"table '$n': zone-map columns changed concurrently")
                else if (qm.bloomCols != pm.bloomCols)
                  bad(s"table '$n': bloom columns changed concurrently")
                else {
                  val pSchema = pm.schema
                  val qSchema = qm.schema
                  // the winner may only have WIDENED what we staged
                  // against (concurrent evolving appends compose);
                  // catalogString ignores nullability by design
                  val qWidensP =
                    try mergeSchemas(n, pSchema, qSchema).catalogString ==
                      qSchema.catalogString
                    catch { case _: IllegalArgumentException => false }
                  if (!qWidensP)
                    bad(s"table '$n': recorded schema was rewritten " +
                      "concurrently (not a pure widening)")
                  else {
                    try {
                      val merged = mergeSchemas(n, qSchema, sliceSchema)
                      val typeWidened = qSchema.fields.collect {
                        case f if merged(f.name).dataType.catalogString !=
                          f.dataType.catalogString => f.name
                      }.toSet
                      if (qm.bucketCols.exists(typeWidened))
                        bad(s"table '$n': the rebase would widen a " +
                          "bucket column")
                      else {
                        val scols = sm.statCols
                        val introduced =
                          scols.filterNot(qSchema.fieldNames.contains)
                        def backfill(s: SegStats): SegStats =
                          s.copy(cols = s.cols ++ introduced
                            .filterNot(s.cols.contains)
                            .map(c => c -> ColStat(None, None, s.rows)))
                        val qWiden = qSchema.fields.collect {
                          case f if f.dataType == FloatType &&
                            merged(f.name).dataType == DoubleType => f.name
                        }.toSet
                        val txnWiden: Set[String] = sm.schema.fields.collect {
                          case sf if sf.dataType == FloatType &&
                            merged.fieldNames.contains(sf.name) &&
                            merged(sf.name).dataType == DoubleType =>
                            sf.name
                        }.toSet
                        val qStats = qm.segStats.map { case (o, s) =>
                          o -> widenFloatStats(backfill(s), qWiden) }
                        val qFiles = qm.fileStats.map { case (o, fm) =>
                          o -> fm.map { case (f, s) =>
                            f -> widenFloatStats(backfill(s), qWiden) } }
                        Seq(n -> qm.copy(
                          owners = qm.owners :+ txn,
                          schemaJson = merged.json,
                          statCols = scols,
                          bloomCols = sm.bloomCols,
                          segStats = qStats ++ sm.segStats.get(txn)
                            .map(s => txn -> widenFloatStats(s, txnWiden)),
                          fileStats = qFiles ++ sm.fileStats.get(txn)
                            .map(fm => txn -> fm.map { case (f, s) =>
                              f -> widenFloatStats(s, txnWiden) })))
                      }
                    } catch { case e: IllegalArgumentException =>
                      bad(s"table '$n': ${e.getMessage}")
                    }
                  }
                }
            }
          }
        }.toMap
      conflict match {
        case Some(c) => return rebaseConflict(
          s"rebase under $root refused: $c")
        case None => ()
      }
      val manifest = renderManifest(txn, qMeta ++ rebuilt)
      // the version dir's own _MANIFEST was sealed with the STAGED
      // (pre-race) manifest — rewrite it to the rebased one BEFORE the
      // swap, or time travel, restore and vacuum's reference closure
      // would read a manifest that omits the winner's owners (vacuum
      // could then reclaim segments the live version references)
      rewriteSealedManifest(spark, root, txn, manifest)
      if (swapAndMark(spark, root, txn, manifest, Some(q),
          opLabel.getOrElse("APPEND"), dataChange)) {
        Concurrency.rebased.incrementAndGet()
        return Some(txn)
      }
    }
    rebaseConflict(s"rebase under $root: lost " +
      s"$MaxCommitAttempts successive races")
  }

  /** ZERO-COPY table clone (Delta's SHALLOW CLONE shape): `target`
    * becomes a new manifest entry whose metadata — owners, schema,
    * layout, zone maps, file stats, checks, tombstone companion — is
    * `source`'s at the pinned version, sharing every data segment by
    * REFERENCE. O(1) on disk, O(manifest) in metadata; at a 100 TB
    * table this is what makes a dev/test fork affordable at all. The
    * clone then diverges copy-on-write for free: its appends extend
    * ITS owner list, its deletes tombstone ITS companion, compacting
    * it rewrites into ITS own segments — the source never observes
    * any of it — and vacuum's reference closure keeps shared segments
    * alive as long as EITHER table (or any history version) references
    * them. `sourceTxn` clones a historical version (time-travel fork).
    * Returns the new txn, or None on a lost CAS race. */
  def cloneTable(spark: SparkSession, root: String, source: String,
      target: String, sourceTxn: Option[String] = None,
      parent: Option[String] = None): Option[String] = {
    validateNames(Seq(target))
    require(source != target, "clone: source and target are the same name")
    withTxn(spark, root) { txn =>
      val rootPath = new Path(root)
      val (p, parentMeta) = pinParent(spark, root, parent)
      require(!parentMeta.contains(target) &&
          !parentMeta.contains(deleteTableOf(target)),
        s"clone: table '$target' already exists under $root")
      val at = sourceTxn.getOrElse(p)
      val srcMeta =
        try manifestMetaOf(spark, root, at)
        catch { case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(
            s"clone: version $at is not readable under $root", e)
        }
      val sm = srcMeta.getOrElse(source,
        throw new IllegalArgumentException(
          s"clone: table '$source' is not in version $at under $root"))
      // a historical clone must still have its segments on disk
      val companion = srcMeta.get(deleteTableOf(source))
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val srcDel = deleteTableOf(source)
      val needed =
        sm.owners.map(o => new Path(new Path(rootPath, s"v_$o"),
          sm.dirOf(o, source))) ++
          companion.toSeq.flatMap(c => c.owners.map(o =>
            new Path(new Path(rootPath, s"v_$o"), c.dirOf(o, srcDel))))
      val missing = needed.filterNot(fs.exists)
      require(missing.isEmpty,
        s"clone: segment(s) ${missing.mkString(", ")} of '$source'@$at " +
          "were already reclaimed by vacuum")
      // the clone's owners resolve to the SOURCE's physical dirs —
      // recorded per owner, so later own appends default to the
      // clone's name while the shared history keeps resolving
      val cloned = sm.copy(ownerDirs =
        sm.owners.map(o => o -> sm.dirOf(o, source)).toMap)
      val clonedCompanion = companion.map(c => c.copy(ownerDirs =
        c.owners.map(o => o -> c.dirOf(o, srcDel)).toMap))
      val newMeta = parentMeta + (target -> cloned) ++
        clonedCompanion.map(deleteTableOf(target) -> _)
      commit(spark, root, txn, Map.empty, newMeta, Some(p),
        op = s"CLONE $source -> $target",
        // post-swap existence re-verify — same race as restore (a
        // historical clone's segments may be outside every surviving
        // closure until this commit references them)
        afterSwap = () => reverifyOrRollback(spark, root, txn, parentMeta,
          needed, fs, s"clone '$source'@$at as '$target'"))
    }
  }

  /** Post-swap half of the restore/clone vacuum race (ADVICE-r7,
    * honesty pass ADVICE-r8): the pre-commit existence check and the
    * pointer swap are not one atomic step, so a cross-process vacuum
    * can reclaim a target segment in between — it was in no surviving
    * version's reference closure until the swap landed. This
    * post-swap pass NARROWS that window, it does not close it: a
    * vacuum whose closure was computed from the PRE-swap pointer can
    * still delete after our existence checks succeed (the swap and
    * the checks are separate filesystem operations with no fence
    * between processes). Two passes run, with a live-pointer re-read
    * between them — by the second pass any vacuum that re-reads the
    * pointer sees txn's closure and protects it, so only a vacuum
    * already past its pointer read and mid-delete can slip through.
    * On detection the pointer rolls back to the parent's manifest (a
    * fresh commit of the parent state — the parent's own segments are
    * still closure-protected) and the operation fails loudly instead
    * of leaving a live manifest that reads half a table; the
    * superseded txn stays marked committed (it DID hold the pointer), so
    * the seq chain stays dense and the version ages out of history
    * through the normal grace cutoff. Runs after `txn`'s marker write
    * ([[commit]]'s `afterSwap`), so the rollback's seq follows it. */
  private def reverifyOrRollback(spark: SparkSession, root: String,
      txn: String, parentMeta: Map[String, TableMeta], needed: Seq[Path],
      fs: org.apache.hadoop.fs.FileSystem, what: String): Unit = {
    val gone1 = needed.filterNot(fs.exists)
    val gone =
      if (gone1.nonEmpty) gone1
      else {
        currentTxn(spark, root) // any later vacuum re-read sees txn live
        needed.filterNot(fs.exists)
      }
    if (gone.isEmpty) return
    val rolledBack =
      try withTxn(spark, root) { rollback =>
        commit(spark, root, rollback, Map.empty, parentMeta, Some(txn),
          op = "ROLLBACK").isDefined
      } catch { case scala.util.control.NonFatal(_) => false }
    throw new IllegalStateException(
      s"$what: a concurrent vacuum reclaimed segment(s) " +
        s"${gone.mkString(", ")} between the pre-commit check and the " +
        s"pointer swap — the commit was " +
        (if (rolledBack) "rolled back to the parent state (the " +
          "superseded version stays in history and ages out via the " +
          "vacuum grace cutoff)"
        else "left in place but its segments are gone; restore from " +
          "history or re-run vacuum with a larger retention") +
        ". Re-run the operation against a version inside retention")
  }

  /** RENAME a table: one O(1) metadata commit — the new name's entry
    * carries the old one's metadata with every owner resolved through
    * the per-owner dir mapping (the [[cloneTable]] mechanism), the old
    * name (and its tombstone companion) leaves the manifest in the
    * SAME commit. No data moves; pre-rename versions still time-travel
    * to the old name; vacuum keeps the shared dirs alive through the
    * new name's reference closure. Returns the new txn, or None on a
    * lost CAS race. */
  def renameTable(spark: SparkSession, root: String, from: String,
      to: String, parent: Option[String] = None): Option[String] = {
    validateNames(Seq(to))
    require(from != to, "rename: source and target are the same name")
    withTxn(spark, root) { txn =>
      val (p, parentMeta) = pinParent(spark, root, parent)
      val sm = parentMeta.getOrElse(from,
        throw new IllegalArgumentException(
          s"rename: table '$from' is not in version $p under $root"))
      require(!parentMeta.contains(to) &&
          !parentMeta.contains(deleteTableOf(to)),
        s"rename: table '$to' already exists under $root")
      val fromDel = deleteTableOf(from)
      val companion = parentMeta.get(fromDel)
      val renamed = sm.copy(ownerDirs =
        sm.owners.map(o => o -> sm.dirOf(o, from)).toMap)
      val renamedCompanion = companion.map(c => c.copy(ownerDirs =
        c.owners.map(o => o -> c.dirOf(o, fromDel)).toMap))
      val newMeta = (parentMeta - from - fromDel) + (to -> renamed) ++
        renamedCompanion.map(deleteTableOf(to) -> _)
      commit(spark, root, txn, Map.empty, newMeta, Some(p),
        op = s"RENAME $from -> $to")
    }
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg's spec evolution, restricted
    * to CALENDAR TRANSFORMS): change `table`'s partition spec in ONE
    * O(1) metadata commit — no data moves, no rewrite. Existing
    * owners keep their recorded layout via [[TableMeta.ownerParts]];
    * reads parse and prune each owner's directories under the spec it
    * was WRITTEN with ([[graft.ops.GraftFileIndex]]); appends after
    * this commit lay out under the new spec; a (full or predicate-
    * scoped) compaction rewrites old owners under the current spec
    * and drops their entries. At 100 TB this is the operation that
    * lets an ingest table move from `days(ts)` to `hours(ts)` when
    * traffic grows 100× — an in-place rewrite would be a full-table
    * job.
    *
    * Only TRANSFORM entries may change: the identity entries must
    * stay the same set, because identity partition values live in the
    * directory names rather than the data files, so evolving them
    * would fork the physical data schema per owner. (Iceberg has the
    * same practical rule: void-transforming an identity field leaves
    * the column unreadable from old files unless it was also kept in
    * the data — graft refuses instead.) Returns the new txn, or None
    * on a lost CAS race. */
  def setPartitionSpec(spark: SparkSession, root: String, table: String,
      newSpec: Seq[String], parent: Option[String] = None)
      : Option[String] =
    withTxn(spark, root) { txn =>
      val (p, parentMeta) = pinParent(spark, root, parent)
      require(!table.endsWith("__del"),
        s"setPartitionSpec: tombstone companion '$table' owns no layout")
      val m = parentMeta.getOrElse(table,
        throw new IllegalArgumentException(
          s"table '$table' is not in version $p under $root"))
      validatePartitionColsSchema(table, m.schema, newSpec)
      require(newSpec != m.partitionCols,
        s"setPartitionSpec: table '$table' already has spec " +
          s"(${m.partitionCols.mkString(",")})")
      // IDENTITY entries may evolve too (r10 — Iceberg parity): an
      // identity column lives in the DIRECTORY layout of owners
      // written under a spec that includes it and in the DATA FILES
      // otherwise, so the read mount groups owners into
      // identity-homogeneous classes and unions one relation per
      // class ([[GraftFileIndex.relationFor]]) — each class serves
      // the column from where ITS files put it. Bucketed tables
      // refuse: the bucket-file naming contract and the identity dir
      // layout must not drift apart mid-chain.
      require(m.numBuckets == 0 ||
          PartSpec.identityCols(newSpec).toSet ==
            PartSpec.identityCols(m.partitionCols).toSet,
        s"setPartitionSpec: bucketed table '$table' may evolve " +
          "calendar transforms only — identity entries must stay " +
          s"(${PartSpec.identityCols(m.partitionCols).mkString(",")})")
      val evolved = m.copy(
        partitionCols = newSpec,
        // every existing owner keeps the spec it was written under;
        // an owner whose recorded spec EQUALS the new one needs no
        // entry (evolving back drops bookkeeping instead of growing it)
        ownerParts = m.owners.map(o => o -> m.partsOf(o))
          .filter(_._2 != newSpec).toMap)
      commit(spark, root, txn, Map.empty, parentMeta + (table -> evolved),
        Some(p), op = s"SET PARTITION SPEC $table (" +
          newSpec.mkString(",") + ")")
    }

  /** ANALYZE — restate a table's recorded column statistics over its
    * LIVE rows, in one METADATA-ONLY commit: the whole table is read
    * under the recorded schema, the merge-on-read tombstones are
    * applied with their exact positional `_asof` scoping (the SAME
    * anti-join every reader runs), and ONE `rollup(__owner, __file)`
    * stats scan recomputes every owner's rows/min-max/nulls/NDV/
    * histograms plus the per-file zone maps — a single Spark action
    * however deep the owner chain (VERDICT r13 #3: the prior
    * job-per-owner loop paid ~1000 sequential driver-coordinated jobs
    * on exactly the delete-heavy, long-uncompacted history ANALYZE
    * exists for), and no data file is rewritten. This is the
    * between-maintenance answer to stats gone stale under mass
    * deletes: tombstones are stats-blind by design (the planner
    * over-estimates until the debt is applied), `compactStore`
    * recomputes but is O(rewrite), ANALYZE is O(one table scan).
    * Segment BYTES stay the physical on-disk quantity (files
    * untouched — carried forward from the recorded entry).
    *
    * `forColumns` (VERDICT r13 #4 — `ANALYZE … FOR COLUMNS`) declares
    * stat columns AT ANALYZE TIME: the named columns (validated
    * against the recorded schema, zone-mappable types only) join the
    * table's `statCols` in the same metadata commit and their stats
    * compute over live rows — so a table published stats-blind can
    * acquire planner statistics after the fact, which is precisely
    * the table whose plans need rescuing.
    *
    * Soundness of restated zone maps: live-row extrema only NARROW,
    * and a file skipped under them holds matching rows only if every
    * such row is tombstoned — rows the reader's anti-join discards
    * anyway. A file whose rows are ALL dead drops out of the restated
    * file map entirely, so predicate reads stop paying for it (the
    * keep-list is authoritative for mapped owners); an owner with zero
    * live rows restates to a 0-row zone map, which every predicate
    * provably rejects. Re-running ANALYZE with no new tombstones is
    * idempotent. Returns the committed version; None on a lost CAS
    * race (re-pin and retry). */
  def analyzeTable(spark: SparkSession, root: String, table: String,
      parent: Option[String] = None,
      forColumns: Seq[String] = Nil): Option[String] =
    withTxn(spark, root) { txn =>
      val rootPath = new Path(root)
      val (p, metas) = pinParent(spark, root, parent)
      require(!table.endsWith("__del"),
        s"analyze: '$table' is a tombstone companion — analyze the " +
          "base table")
      val m = metas.getOrElse(table,
        throw new IllegalArgumentException(
          s"table '$table' is not in version $p under $root"))
      val statCols = (m.statCols ++ forColumns).distinct
      if (forColumns.nonEmpty)
        validateStatCols(table,
          spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            m.schema),
          forColumns)
      require(statCols.nonEmpty,
        s"analyze: table '$table' records no stat columns — declare " +
          "them here (forColumns / FOR COLUMNS) or at publish (statsBy)")
      // __file from the metadata column, computed BEFORE the tombstone
      // anti-join: it is a deterministic scan attribute (survives the
      // join, keeps the scan prunable), where input_file_name() would
      // come back empty past an exchange. __owner re-derives from the
      // path with the same greedy last-component regex the tombstone
      // join pins positions with (clone dirs included).
      val dirNames = (table +: m.owners.map(m.dirOf(_, table))).distinct
      val ownerRe = ".*/v_([^/]+)/(?:" +
        dirNames.map(java.util.regex.Pattern.quote).mkString("|") + ")/"
      val withFile = readSegments(spark, root, table, m, m.owners)
        .withColumn("__file", col("_metadata.file_path"))
      val live = applyTombstones(spark, root, table, metas, withFile)
        .withColumn("__owner",
          regexp_extract(col("__file"), ownerRe, 1))
      val segPaths = m.owners.map(o =>
        o -> new Path(new Path(rootPath, s"v_$o"), m.dirOf(o, table)))
      val restated0 = computeSegStatsByOwner(spark, live, statCols,
        segPaths)
      // bytes are physical and unchanged — carry the recorded entry;
      // a segment with NO recorded entry (published stats-blind, now
      // bootstrapped via forColumns) lists its files once, because the
      // planner-stats mount refuses partial byte sums
      val segPathOf = segPaths.toMap
      def listedBytes(segPath: Path): Long = {
        val fs = segPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(segPath, true)
        var b = 0L
        while (it.hasNext) {
          val f = it.next()
          val name = f.getPath.getName
          if (!name.startsWith("_") && !name.startsWith(".")) b += f.getLen
        }
        b
      }
      val restated = m.owners.map { o =>
        val (s, f) = restated0(o)
        o -> ((s.copy(bytes = m.segStats.get(o).flatMap(_.bytes)
          .orElse(Some(listedBytes(segPathOf(o))))), f))
      }
      val evolved = m.copy(
        statCols = statCols,
        segStats = restated.map { case (o, (s, _)) => o -> s }.toMap,
        fileStats = restated.collect {
          case (o, (_, f)) if f.nonEmpty => o -> f }.toMap)
      commit(spark, root, txn, Map.empty, metas + (table -> evolved),
        Some(p), op = s"ANALYZE $table" + (if (forColumns.isEmpty) ""
          else s" FOR COLUMNS (${forColumns.mkString(",")})"))
    }

  /** PREDICATE-SCOPED OVERWRITE — Delta's `replaceWhere` / the
    * `INSERT OVERWRITE` backfill shape: atomically replace exactly the
    * rows matching `where` with `replacement`, leaving every other row
    * untouched. THE re-statement operation of a 100 TB ingest table —
    * "yesterday's partition was wrong, here is the corrected day" —
    * priced at O(segments holding matching rows), not O(table):
    * owner segments whose zone maps PROVABLY hold no matching row are
    * carried by reference ([[replaceOwners]] — files never read or
    * listed); admitted owners are rewritten with their non-matching
    * rows kept (SQL semantics: a NULL predicate KEEPS the row — only
    * provably-matching rows are replaced). Every replacement row must
    * itself satisfy `where` (enforced per row INSIDE the staging
    * write, [[GuardBarrier]]-pinned like CHECK constraints — the
    * refusal that keeps "replace day X" from silently smuggling rows
    * into day Y). A table carrying merge-on-read tombstones takes a
    * full copy-on-write replace instead (subset rewrites renumber the
    * positional `_asof` scopes), which also consumes the tombstone
    * debt. Returns the committed txn; retries lost CAS races. */
  def overwriteWhere(spark: SparkSession, root: String, table: String,
      replacement: DataFrame, where: String,
      /** Stage the rewrite's per-row change set ([[cdfTableOf]]) in
        * the same commit so live change-feed consumers stream THROUGH
        * the backfill instead of resyncing (r14). Default on — the
        * price is one extra staged segment holding the removed rows
        * plus a second copy of the replacement (Delta CDF's exact
        * write-amplification trade, O(changed rows), never O(table));
        * turn off only when no downstream feed exists. */
      stageCdf: Boolean = true): String = {
    import org.apache.spark.sql.functions.{coalesce => fcoalesce, expr => fexpr, not => fnot, raise_error, when => fwhen}
    require(where.trim.nonEmpty,
      "overwriteWhere needs a predicate; a full overwrite is " +
        "publishDelta(replace = …)")
    val matches = fcoalesce(fexpr(where), lit(false))
    // per-row containment guard, fused into the staging write with the
    // same pushdown barrier as CHECK enforcement
    val guard = fwhen(matches <=> lit(false),
      raise_error(lit(
        s"GRAFT_OVERWRITE_OUTSIDE_PREDICATE: overwriteWhere('$table', " +
          s"$where) was given a replacement row that does not satisfy " +
          "the predicate — the commit was refused before the version " +
          "sealed (no partial state)")).cast(BooleanType))
      .otherwise(lit(true))
    val guarded = replacement.filter(guard ||
      org.apache.spark.sql.graftvec.CatalystBridge.column(GuardBarrier()))
    retryLostRace(s"overwriteWhere('$table') under $root") {
      val parent = currentTxn(spark, root).getOrElse(
        throw new IllegalStateException(
          s"no published version under $root"))
      val metas = manifestMetaOf(spark, root, parent)
      val m = metas.getOrElse(table, throw new IllegalArgumentException(
        s"table '$table' is not in version $parent under $root"))
      // up-front named validation (ADVICE-r9): without it the subset
      // path's checkGuarded would null-fill columns the replacement
      // forgot (a malformed replacement silently committing NULLs)
      // while the COW path surfaced a raw unionByName analysis error —
      // refuse malformed replacements identically on every route,
      // before any data moves
      val recNames = m.schema.fieldNames.toSet
      val missing = m.schema.fieldNames.filterNot(replacement.columns.toSet)
      val unknown = replacement.columns.filterNot(recNames)
      if (missing.nonEmpty || unknown.nonEmpty)
        throw new IllegalArgumentException(
          s"GRAFT_OVERWRITE_SCHEMA_MISMATCH: overwriteWhere('$table') " +
            "replacement does not match the recorded schema" +
            (if (missing.nonEmpty)
              s"; missing: ${missing.mkString(", ")}" else "") +
            (if (unknown.nonEmpty)
              s"; unknown: ${unknown.mkString(", ")}" else "") +
            " — an overwrite re-states rows of the table's recorded " +
            "shape (schema evolution goes through append/ALTER)")
      val tombstoned = metas.get(deleteTableOf(table))
        .exists(_.owners.nonEmpty)
      if (tombstoned) {
        // COW fallback: delete-aware read, keep non-matching rows
        val kept = readTableAt(spark, root, table, parent)
          .filter(fnot(matches))
        publishDelta(spark, root, append = Map.empty,
          replace = Map(table -> kept.unionByName(guarded)),
          parent = Some(parent),
          opLabel = Some(s"REPLACE WHERE $table ($where)"),
          cdf = if (!stageCdf) Map.empty else Map(table -> ((guarded,
            // removed = the live rows the predicate matched
            readTableAt(spark, root, table, parent).filter(matches)))))
      } else {
        val admitted = pruneOwners(spark, m, where)
        if (admitted.isEmpty)
          // no segment can hold a matching row: pure append
          publishDelta(spark, root, append = Map(table -> guarded),
            parent = Some(parent),
            opLabel = Some(s"REPLACE WHERE $table ($where)"))
        else {
          val admittedSet = admitted.toSet
          val keep = m.owners.filterNot(admittedSet)
          val kept = readTableSegments(spark, root, table, parent,
            admitted).filter(fnot(matches))
          // the subset commit stages directly (replaceOwners —
          // publishDelta's per-table checkGuarded never runs), and
          // the REPLACEMENT rows are new data: enforce the table's
          // CHECK constraints on them here. `kept` rows passed the
          // checks when they were first written.
          replaceOwners(spark, root, table, keep,
            kept.unionByName(checkGuarded(spark, table, guarded, m)),
            parent, op = s"REPLACE WHERE $table ($where)",
            // lost-CAS rebase: provably-disjoint concurrent commits
            // (appends outside the predicate, rewrites of other
            // owners) compose without recomputing; anything that
            // may overlap `where` refuses and recomputes here
            conflictPredicate = Some(where),
            cdf = if (!stageCdf) None else Some((guarded,
              // removed = matching rows of the admitted owners (the
              // carried-by-reference owners provably hold none)
              readTableSegments(spark, root, table, parent, admitted)
                .filter(matches))))
        }
      }
    }
  }

  /** The live (txn, table→metadata) in ONE `_CURRENT` read, or None
    * before the first successful publish — `_CURRENT` carries the full
    * manifest, so resolving the live version never needs the second
    * `_MANIFEST` round-trip (it exists for time travel and vacuum,
    * which start from a txn id). An empty/truncated pointer (torn write
    * on a non-atomic FS, tampering) is surfaced as a named corrupt-store
    * error, not an opaque NoSuchElementException. */
  def currentManifestMeta(spark: SparkSession,
      root: String): Option[(String, Map[String, TableMeta])] = {
    val cur = new Path(root, CurrentFile)
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(cur)) None
    else {
      val in = fs.open(cur)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      if (lines.isEmpty || lines.head.trim.isEmpty)
        throw new IllegalStateException(
          s"corrupt store under $root: $CurrentFile exists but names no " +
            "txn (empty or truncated pointer) — restore it from a " +
            "version dir's _MANIFEST or remove it to reset the store")
      val txn = lines.head.trim
      Some(txn -> parseManifestMeta(txn, lines.drop(1)))
    }
  }

  /** The live txn id, or None before the first successful publish. */
  def currentTxn(spark: SparkSession, root: String): Option[String] =
    currentManifestMeta(spark, root).map(_._1)

  /** Read of a table's owner segments under its recorded merged schema:
    * segments written before a column existed serve nulls for it, and no
    * per-file footer sweep happens at read time. This mounts ONE
    * [[GraftFileIndex]]-backed relation per partition-layout class (not
    * a per-segment union): any filter Catalyst later pushes down reaches
    * [[GraftFileIndex.listFiles]], where partition pruning, segment/file
    * zone maps and bloom sidecars all fire — `readTable(...).where(w)`
    * and the SQL face decide their files there, once, at scan
    * planning. */
  private def readSegments(spark: SparkSession, root: String, table: String,
      meta: TableMeta, owners: Seq[String]): DataFrame =
    GraftFileIndex.relationFor(spark, root, table, meta, owners)

  // --- row-level deletes (merge-on-read tombstones) ----------------------------

  /** Name of `table`'s tombstone companion. A table of this name is BY
    * CONVENTION the key set deleted from `table`: every public read of
    * `table` anti-joins it, [[deleteRows]] appends to it (O(deleted
    * ids), never a data rewrite — the takedown shape a 100 TB corpus
    * needs), and [[graft.ops.Compaction.compactStore]] applies it
    * physically and empties it in the same atomic commit. Do not
    * publish ordinary data under a `__del` suffix. */
  def deleteTableOf(table: String): String = s"${table}__del"

  /** Name of `table`'s CHANGE-DATA companion (Delta CDF's change-file
    * shape, r14): a DATA-CHANGING rewrite ([[overwriteWhere]], SQL
    * UPDATE/MERGE's copy-on-write routes) stages its per-row change
    * set — the inserted rows and the removed rows, tagged by
    * [[CdfTypeCol]] — as ONE appended owner of this companion, in the
    * SAME CAS commit as the rewrite, and records `cdf=<table>` in the
    * commit marker. The change feeds ([[changesWithDeletes]],
    * [[changesSince]] and the streaming CDC source) then serve the
    * staged rows ACROSS the rewrite instead of failing with
    * RESYNC_REQUIRED — a routine backfill no longer kills every live
    * downstream consumer. The companion is append-only (one owner per
    * rewrite commit, owner id = the commit txn), so its own chain is
    * always prefix-extending; historical readers resolve it through
    * the interval's own manifests. Do not publish ordinary data under
    * a `__cdf` suffix. */
  def cdfTableOf(table: String): String = s"${table}__cdf"

  /** Discriminator column of the staged change set: `insert` |
    * `delete`.
    * RESERVED for tables that stage CDF (like the `__del` / `__cdf`
    * name suffixes): staging tags rows `withColumn(CdfTypeCol, …)`
    * and the feeds `drop` it on serve, so a user column of this name
    * would be silently overwritten on stage and stripped (null-filled
    * by schema alignment) on read — [[requireNoCdfCol]] refuses the
    * stage up front instead (ADVICE r14 #3; Delta reserves the same
    * name the same way). */
  val CdfTypeCol = "_change_type"

  /** Refuse to stage a change set whose rows already carry a
    * [[CdfTypeCol]] column — see the reservation note there. Tables
    * with such a column can still be published, appended, replaced
    * and deleted from; only CDF staging (`cdf=`/`stageCdf`) is
    * refused, since the feed could not serve their rows faithfully. */
  private def requireNoCdfCol(table: String, frames: DataFrame*): Unit =
    frames.foreach(f => require(!f.columns.contains(CdfTypeCol),
      s"cannot stage a change set for table '$table': column " +
        s"'$CdfTypeCol' is reserved for the staged change-data feed " +
        "(it tags inserted vs removed rows and is dropped on serve — " +
        "a user column of that name would be overwritten). Rename " +
        "the column, or rewrite without CDF staging (stageCdf=false " +
        "/ no cdf entry) and let downstream consumers resync."))

  /** Tombstone scope column: a tombstone with `_asof = n` applies to
    * the data table's owner segments at positions BELOW n in its owner
    * list at delete time — so deleting a key does not silently suppress
    * a LATER legitimate re-append of the same key (a re-crawled doc id,
    * an upserted row). A null `_asof` applies everywhere. */
  private[ops] val TombAsofCol = "_asof"

  /** Anti-join `base` with `table`'s tombstones at the resolved
    * version, if any — the merge-on-read half of row-level deletes.
    * Each data row's owner POSITION is recovered from its file path
    * (`input_file_name` → `v_<owner>` → position map literal), and a
    * tombstone kills only rows from segments older than its `_asof`
    * scope. Raw-segment consumers ([[readTableSegments]],
    * [[changesSince]]) intentionally skip this: a change-feed consumer
    * sees appends, and observes deletes as the tombstone table's OWN
    * change feed. */
  private def applyTombstones(spark: SparkSession, root: String,
      table: String, metas: Map[String, TableMeta],
      base: DataFrame): DataFrame =
    tombstoneJoin(spark, root, table, metas, base, None, semi = false)

  /** The tombstone join generalized: `semi = false` returns the
    * SURVIVORS (the read path), `semi = true` the rows the tombstones
    * KILL (the change-feed's delete side). `restrict` limits which
    * tombstone segments apply — the CDC path evaluates only the
    * interval's NEW tombstones; positions still resolve against the
    * full owner list of `metas`, so asof scopes stay exact. */
  private def tombstoneJoin(spark: SparkSession, root: String,
      table: String, metas: Map[String, TableMeta],
      base: DataFrame, restrict: Option[Seq[String]],
      semi: Boolean): DataFrame =
    metas.get(deleteTableOf(table))
      .map(dm0 => restrict.map(o => dm0.copy(owners = o)).getOrElse(dm0))
      .filter(_.owners.nonEmpty) match {
      case Some(dm) =>
        val tomb0 = readSegments(spark, root, deleteTableOf(table), dm,
          dm.owners)
        val tomb =
          if (tomb0.columns.contains(TombAsofCol)) tomb0
          else tomb0.withColumn(TombAsofCol,
            lit(null).cast(org.apache.spark.sql.types.IntegerType))
        // the pinned delete key — ONE OR MORE columns (a composite
        // natural key tombstones as the full tuple; the reference's own
        // unique constraint is two-column, patient.py:74-76)
        val keyCols = tomb.columns.filterNot(_ == TombAsofCol).toSeq
        val posOf = typedLit(
          metas(table).owners.zipWithIndex.toMap)
        // greedy ".*" pins the LAST v_<owner>/<table>/ component, so a
        // store ROOT path that itself contains a v_ directory (or even
        // ".../v_x/<table>/...") cannot shadow the owner capture; the
        // dir names are regex-quoted (names may contain '.') and a
        // CLONED table alternates over every physical dir its owners
        // live under
        val tm = metas(table)
        val dirNames = (table +: tm.owners.map(tm.dirOf(_, table))).distinct
        val ownerRe = ".*/v_([^/]+)/(?:" +
          dirNames.map(java.util.regex.Pattern.quote).mkString("|") + ")/"
        // the file path comes from the `_metadata.file_path` METADATA
        // COLUMN, not input_file_name(): the metadata column is a
        // deterministic scan attribute, so user predicates still push
        // THROUGH this projection into the scan (zone maps, blooms,
        // file pruning all keep firing on delete-aware reads), whereas
        // input_file_name() is non-deterministic to Catalyst and pins
        // every filter above the Project — all skipping layers silently
        // dead. Fallback for plans that expose no metadata column (the
        // union of per-layout-class relations): the non-deterministic
        // source.
        val based = scala.util.Try(
          base.withColumn("__seg_pos", element_at(posOf,
            regexp_extract(col("_metadata.file_path"), ownerRe, 1))))
          .getOrElse(
            base.withColumn("__seg_pos", element_at(posOf,
              regexp_extract(input_file_name(), ownerRe, 1))))
        // an unresolvable position (defensive: the regex above should
        // always match) errs toward DELETION — resurrecting a deleted
        // row is the compliance failure, suppressing a re-append is not.
        // NULL-SAFE key equality on EVERY key column: a compliance
        // delete of null-keyed rows must actually delete them — under
        // plain `===` a null tombstone key is a silent no-op (and Spark
        // hash joins support <=> conjunctions, so a composite key still
        // plans one hash join on the full tuple)
        val keyEq = keyCols.map(k => based(k) <=> tomb(k)).reduce(_ && _)
        based.join(tomb,
          keyEq &&
            (tomb(TombAsofCol).isNull || based("__seg_pos").isNull ||
              tomb(TombAsofCol) > based("__seg_pos")),
          if (semi) "left_semi" else "left_anti")
          .drop("__seg_pos")
      case _ => if (semi) base.limit(0) else base
    }

  private def validateDeleteKey(t: String, meta: TableMeta,
      keys: DataFrame, metas: Map[String, TableMeta]): Unit = {
    require(keys.columns.nonEmpty,
      s"tombstones for '$t' need at least one key column")
    require(keys.columns.distinct.length == keys.columns.length,
      s"tombstone key for '$t' repeats a column " +
        s"(${keys.columns.mkString(", ")})")
    require(!keys.columns.contains(TombAsofCol),
      s"'$TombAsofCol' is the tombstone scope column — it cannot be " +
        s"part of '$t''s delete key")
    val s = meta.schema
    keys.schema.fields.foreach { kf =>
      require(s.fieldNames.contains(kf.name),
        s"delete key '${kf.name}' is not a column of table '$t' " +
          s"(${s.fieldNames.mkString(", ")})")
      require(s(kf.name).dataType.catalogString ==
        kf.dataType.catalogString,
        s"delete key '${kf.name}' of table '$t' has type " +
          s"${s(kf.name).dataType.simpleString} but the tombstone " +
          s"frame carries ${kf.dataType.simpleString}")
    }
    // a table has ONE delete key (single or COMPOSITE) for life: the
    // read-side anti-join resolves the key columns from the tombstone
    // table's schema, so a delete under a different column set would
    // schema-merge into rows the reader can never match — a silent
    // no-op delete
    metas.get(deleteTableOf(t)).map(_.schema).foreach { ds =>
      val existing = ds.fieldNames.filterNot(_ == TombAsofCol)
      require(existing.isEmpty ||
        existing.toSet == keys.columns.toSet,
        s"table '$t' already has tombstones keyed by " +
          s"(${existing.mkString(",")}) — deletes must keep using that " +
          s"key, got (${keys.columns.mkString(",")})")
    }
  }

  /** Delete rows BY KEY from one or more tables, atomically: each
    * `table -> keys` frame (one or more columns, each named for a
    * column of the table — a multi-column frame deletes by the
    * COMPOSITE tuple) appends to `<table>__del`; all tombstones land in ONE
    * CAS-committed delta. Cost is O(deleted keys) — no data file of any
    * target table is touched; readers exclude the keys from the commit
    * on, time travel before it still sees them, and the next
    * `compactStore` applies the deletion physically. The tombstones are
    * SCOPED to the segments that exist at delete time ([[TombAsofCol]]):
    * a later re-append of the same key is a new live row, not a
    * silently suppressed one. Key-type drift is rejected by the same
    * recorded-schema validation every append gets. Returns the commit
    * txn. */
  def deleteRows(spark: SparkSession, root: String,
      deletes: Map[String, DataFrame]): String = {
    require(deletes.nonEmpty, "deleteRows needs at least one table")
    retryLostRace(s"deleteRows under $root") {
      val pinned = currentTxn(spark, root).getOrElse(
        throw new IllegalStateException(s"no published version under $root"))
      // rebase on a lost race: the tombstone rows are caller keys with
      // an `_asof` scope counted at the pin — a scope that stays exact
      // under concurrent appends (they land at later positions, which
      // the delete must not cover: it was issued against the pin), and
      // the rebase refuses if the base chain was REWRITTEN (scopes
      // would re-aim). Verified-delete callers use deleteRowsAt
      // directly, where rebase stays off — their exactness guard needs
      // the conflict signal.
      deleteRowsAt(spark, root, pinned, deletes, rebase = true)
    }
  }

  /** One [[deleteRows]] attempt against an explicitly pinned `parent`:
    * None on CAS loss — for callers whose key sets were VERIFIED
    * against a read at the same pin (SQL DELETE's exactness guard), so
    * the verify and the tombstone commit cannot straddle a concurrent
    * commit (the r6 verify-then-commit window). */
  def deleteRowsAt(spark: SparkSession, root: String, parent: String,
      deletes: Map[String, DataFrame],
      rebase: Boolean = false): Option[String] = {
    require(deletes.nonEmpty, "deleteRows needs at least one table")
    val metas = manifestMetaOf(spark, root, parent)
    deletes.foreach { case (t, keys) =>
      val meta = metas.getOrElse(t, throw new IllegalArgumentException(
        s"table '$t' is not in version $parent under $root"))
      validateDeleteKey(t, meta, keys, metas)
    }
    publishDelta(spark, root,
      append = deletes.map { case (t, keys) =>
        deleteTableOf(t) -> keys
          .withColumn(TombAsofCol, lit(metas(t).owners.size))
          .repartition(1) // ids: tiny by contract
      },
      opLabel = Some("DELETE " + deletes.keys.toSeq.sorted.mkString(",")),
      parent = Some(parent), rebase = rebase)
  }

  /** One table's upsert slice: the new rows plus the EXPLICIT key set
    * whose old versions they supersede. Keys are explicit (not derived
    * from `rows`) because they can legitimately be wider — replacing a
    * doc's chunks must tombstone the doc id even when the new version
    * chunks to zero rows. */
  final case class Upsert(rows: DataFrame, keys: DataFrame)

  /** UPSERT (merge latest-wins) across tables: ONE CAS commit that, per
    * table, appends the new slice AND tombstones its key set in every
    * PRE-EXISTING segment — each slice lands at owner position = old
    * segment count, exactly where its `_asof`-scoped tombstones stop
    * applying, so "replace by key" is a single atomic delta of
    * O(batch) writes across the whole table group. `extraAppend` rides
    * the same commit for plain append-only tables (run metadata).
    * Returns the commit txn. */
  def upsertMany(spark: SparkSession, root: String,
      upserts: Map[String, Upsert],
      extraAppend: Map[String, DataFrame] = Map.empty): String =
    retryLostRace(s"upsertMany under $root") {
      val pinned = currentTxn(spark, root).getOrElse(
        throw new IllegalStateException(s"no published version under $root"))
      upsertManyAt(spark, root, pinned, upserts, extraAppend)
    }

  /** One upsert attempt against an explicitly pinned `parent`: None on
    * CAS loss — for callers whose slices derive from reads at the same
    * pin (an ingest loop recomputing its changed-set per retry). */
  def upsertManyAt(spark: SparkSession, root: String, parent: String,
      upserts: Map[String, Upsert],
      extraAppend: Map[String, DataFrame] = Map.empty,
      opLabel: Option[String] = None): Option[String] = {
    require(upserts.nonEmpty, "upsertMany needs at least one table")
    val metas = manifestMetaOf(spark, root, parent)
    val tombs = upserts.map { case (t, u) =>
      val meta = metas.getOrElse(t, throw new IllegalArgumentException(
        s"table '$t' is not in version $parent under $root"))
      validateDeleteKey(t, meta, u.keys, metas)
      // tombstone key frames are id-only but a snapshot-sized upsert
      // can carry millions of keys: size the frame from the plan's
      // byte estimate (the Compaction.partitionsFor rule) instead of
      // funnelling through one task, clamped so the usual tiny frame
      // still lands as a single file. A plan over a source Spark cannot
      // size (an RDD-built batch) reports the session default for that
      // leaf — no estimate at all — and the frame keeps its own
      // partitioning (capped by coalescing, no shuffle): at most as
      // many files as the key frame has partitions, instead of a
      // 256-way split of a 1,000-key API batch
      val maxParts = 256
      val plan = u.keys.queryExecution.optimizedPlan
      val unsized = plan.collectLeaves().exists(_.stats.sizeInBytes >=
        spark.sessionState.conf.defaultSizeInBytes)
      val stamped = u.keys.withColumn(TombAsofCol, lit(meta.owners.size))
      deleteTableOf(t) -> (
        if (unsized) stamped.coalesce(maxParts)
        else stamped.repartition(math.min(maxParts, Compaction.partitionsFor(
          plan.stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong,
          64L * 1024 * 1024))))
    }
    publishDelta(spark, root,
      append = upserts.map { case (t, u) => t -> u.rows } ++ tombs ++
        extraAppend,
      parent = Some(parent),
      opLabel = opLabel.orElse(
        Some("UPSERT " + upserts.keys.toSeq.sorted.mkString(","))))
  }

  /** Read a table from the CURRENT version — the only resolution path
    * readers use, so partially-published data is unreachable. A reader
    * needing cross-TABLE consistency under concurrent publishers should
    * pin the txn once ([[currentTxn]]) and read every table with
    * [[readTableAt]]: two `readTable` calls can legitimately span a
    * pointer swap. Rows tombstoned by [[deleteRows]] are excluded. */
  def readTable(spark: SparkSession, root: String, table: String): DataFrame = {
    val (txn, metas) = currentManifestMeta(spark, root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    val meta = metas.getOrElse(table,
      throw new IllegalArgumentException(
        s"table '$table' is not in version $txn under $root"))
    applyTombstones(spark, root, table, metas,
      readSegments(spark, root, table, meta, meta.owners))
  }

  /** Time travel: read a table at an explicit txn. Any version not yet
    * vacuumed is immutable and fully readable — the same guarantee a
    * table-format snapshot id gives, from the layout alone. Resolves
    * the version's manifest: an appended/carried table is the UNION of
    * its owning versions' dirs (one multi-path parquet read). Rows
    * tombstoned AS OF `txn` are excluded; earlier versions still serve
    * them. */
  def readTableAt(spark: SparkSession, root: String, table: String,
      txn: String): DataFrame = {
    val metas = manifestMetaOf(spark, root, txn)
    val meta = metas.getOrElse(table,
      throw new IllegalArgumentException(
        s"table '$table' is not in version $txn under $root"))
    applyTombstones(spark, root, table, metas,
      readSegments(spark, root, table, meta, meta.owners))
  }

  /** Read ONLY the named owner segments of a table at `txn` — the
    * delta-consumer path (incremental maintenance reads exactly the
    * segments added since its last watermark, never the whole union).
    * Owners must be a subset of the table's owners at `txn`. */
  def readTableSegments(spark: SparkSession, root: String, table: String,
      txn: String, owners: Seq[String]): DataFrame = {
    val meta = manifestMetaOf(spark, root, txn).getOrElse(table,
      throw new IllegalArgumentException(
        s"table '$table' is not in version $txn under $root"))
    val unknown = owners.filterNot(meta.owners.contains)
    require(unknown.isEmpty,
      s"owners ${unknown.mkString(",")} do not own table '$table' at $txn")
    readSegments(spark, root, table, meta, owners)
  }

  // --- zone-map segment skipping ---------------------------------------------

  /** Translate a predicate into a "this segment may hold a matching
    * row" test over the zone-map frame, CONSERVATIVELY: any construct
    * the translation does not understand becomes `true` (keep the
    * segment), missing stats keep the segment, and an all-null column
    * (nulls == rows — including the schema-evolution case where the
    * segment predates the column) provably defeats every ordered
    * comparison. Understood shapes: And/Or, the six binary comparisons
    * in either orientation against a literal, IN literal-lists,
    * IS [NOT] NULL, and null-safe equality. `NOT` is NOT translated —
    * negating a may-match test soundly needs a must-match test, which a
    * zone map cannot give.
    *
    * TYPE COERCION SOUNDNESS: a comparison leaf is translated ONLY when
    * the literal's type provably preserves the stat column's ordering —
    * same type, numeric vs numeric (widening is monotone), or a string
    * literal against a date/timestamp column (the LITERAL is cast to
    * the column's type). A numeric literal against a STRING column is
    * NOT translated: Spark evaluates that predicate under numeric
    * coercion of the column, but min/max were recorded under string
    * order, where they are no envelope at all ({"9","100"} has string
    * max "9") — translating would prune segments that hold matching
    * rows. */
  private def segCanMatch(e: org.apache.spark.sql.catalyst.expressions.Expression,
      statCols: Map[String, DataType]): Column = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.graftvec.CatalystBridge
    def attrName(x: ce.Expression): Option[String] = x match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length == 1 =>
        Some(a.nameParts.head).filter(statCols.contains)
      case a: ce.AttributeReference => Some(a.name).filter(statCols.contains)
      case _ => None
    }
    // the coercion the real filter applies must leave the recorded
    // min/max an order envelope
    def orderSafe(n: String, lt: ce.Literal): Boolean = {
      val cdt = statCols(n)
      (cdt, lt.dataType) match {
        case (a, b) if a.catalogString == b.catalogString => true
        case (_: NumericType, _: NumericType) => true
        case (DateType | TimestampType | TimestampNTZType, StringType) => true
        case _ => false
      }
    }
    // a comparison leaf: false iff the zone map PROVES no row matches
    def leaf(n: String, cmp: (Column, Column) => Column): Column = {
      val nulls = col(s"__nulls_$n")
      when(nulls.isNotNull && nulls === col("__rows"), lit(false))
        .otherwise(coalesce(cmp(col(s"__min_$n"), col(s"__max_$n")),
          lit(true)))
    }
    def eqLeaf(n: String, v: Column): Column =
      leaf(n, (mn, mx) => mn <= v && mx >= v)
    // fwd receives (n, v) for `attr OP literal`; rev for `literal OP attr`
    def rel(l: ce.Expression, r: ce.Expression,
        fwd: (String, Column) => Column,
        rev: (String, Column) => Column): Column =
      (attrName(l), r, attrName(r), l) match {
        case (Some(n), lt: ce.Literal, _, _) if orderSafe(n, lt) =>
          fwd(n, CatalystBridge.column(lt))
        case (_, _, Some(n), lt: ce.Literal) if orderSafe(n, lt) =>
          rev(n, CatalystBridge.column(lt))
        case _ => lit(true)
      }
    def go(x: ce.Expression): Column = x match {
      case ce.And(l, r) => go(l) && go(r)
      case ce.Or(l, r) => go(l) || go(r)
      // the parser leaves BETWEEN as an unresolved runtime-replaceable
      // function (not the analyzed And-of-comparisons) — desugar it
      // here, it is the range-query shape zone maps exist for
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("between") && f.arguments.length == 3 =>
        go(ce.And(
          ce.GreaterThanOrEqual(f.arguments(0), f.arguments(1)),
          ce.LessThanOrEqual(f.arguments(0), f.arguments(2))))
      case ce.EqualTo(l, r) => rel(l, r, eqLeaf, eqLeaf)
      case ce.GreaterThan(l, r) => rel(l, r,
        (n, v) => leaf(n, (_, mx) => mx > v),
        (n, v) => leaf(n, (mn, _) => mn < v))
      case ce.GreaterThanOrEqual(l, r) => rel(l, r,
        (n, v) => leaf(n, (_, mx) => mx >= v),
        (n, v) => leaf(n, (mn, _) => mn <= v))
      case ce.LessThan(l, r) => rel(l, r,
        (n, v) => leaf(n, (mn, _) => mn < v),
        (n, v) => leaf(n, (_, mx) => mx > v))
      case ce.LessThanOrEqual(l, r) => rel(l, r,
        (n, v) => leaf(n, (mn, _) => mn <= v),
        (n, v) => leaf(n, (_, mx) => mx >= v))
      case ce.EqualNullSafe(l, r) => (l, r) match {
        case (lt: ce.Literal, _) if lt.value == null =>
          attrName(r).map(n => coalesce(col(s"__nulls_$n") > 0, lit(true)))
            .getOrElse(lit(true))
        case (_, lt: ce.Literal) if lt.value == null =>
          attrName(l).map(n => coalesce(col(s"__nulls_$n") > 0, lit(true)))
            .getOrElse(lit(true))
        case _ => rel(l, r, eqLeaf, eqLeaf)
      }
      case ce.In(a, vs) if attrName(a).isDefined &&
          vs.nonEmpty && vs.forall(v => v.isInstanceOf[ce.Literal] &&
            orderSafe(attrName(a).get, v.asInstanceOf[ce.Literal])) =>
        vs.map(v => eqLeaf(attrName(a).get,
          CatalystBridge.column(v.asInstanceOf[ce.Literal]))).reduce(_ || _)
      // InSet is what OptimizeIn leaves for big literal lists and what
      // RuntimeJoinFilter plants (its values are CATALYST-internal).
      // Small sets expand to the exact per-value test; a big INTEGRAL
      // set prunes by its [min,max] ENVELOPE — sound (a superset test),
      // loses interior gaps, which the bloom probes recover; big
      // non-integral sets keep conservatively.
      case ce.InSet(a, hset) =>
        // OptimizeIn folds user IN lists VERBATIM, nulls included
        // (`k IN (NULL, v1..v65)`); a null element never admits a row,
        // so it is sound to envelope over the non-null remainder — and
        // required, or minBy(longValue) NPEs at planning time. An
        // EMPTY or all-null set admits NO row (`x IN ()` is never
        // true, and null elements only ever yield null): every
        // segment is provably dead (ADVICE r12 #1).
        val nn = hset.filter(_ != null)
        if (nn.isEmpty) lit(false)
        else if (nn.size <= 64)
          go(ce.In(a, nn.toSeq.map(v => ce.Literal(v, a.dataType))))
        else a.dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            val minV = nn.minBy(_.asInstanceOf[Number].longValue())
            val maxV = nn.maxBy(_.asInstanceOf[Number].longValue())
            go(ce.And(
              ce.GreaterThanOrEqual(a, ce.Literal(minV, a.dataType)),
              ce.LessThanOrEqual(a, ce.Literal(maxV, a.dataType))))
          case _ => lit(true)
        }
      case ce.IsNull(a) => attrName(a)
        .map(n => coalesce(col(s"__nulls_$n") > 0, lit(true)))
        .getOrElse(lit(true))
      case ce.IsNotNull(a) => attrName(a)
        .map(n => coalesce(col("__rows") > col(s"__nulls_$n"), lit(true)))
        .getOrElse(lit(true))
      case _ => lit(true)
    }
    go(e)
  }

  /** The owner segments of `meta` whose zone maps ADMIT `where` —
    * segments without stats (pre-stats manifests, carried history) are
    * kept conservatively, so the result is always a superset of the
    * segments holding matching rows. Evaluation runs Spark's own
    * comparison semantics over a #segments-row local frame (driver-side
    * cost is O(segments), no data files are touched). */
  private[ops] def pruneOwners(spark: SparkSession, meta: TableMeta,
      where: String): Seq[String] =
    pruneOwnersExpr(spark, meta, meta.owners,
      spark.sessionState.sqlParser.parseExpression(where))

  /** [[pruneOwners]] over an explicit candidate set and a
    * Catalyst-pushed, resolved predicate — the segment layer of
    * [[GraftFileIndex.listFiles]], the one place a store read decides
    * its files. */
  private[ops] def pruneOwnersExpr(spark: SparkSession, meta: TableMeta,
      candidates: Seq[String],
      pred: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[String] = {
    if (meta.statCols.isEmpty || meta.segStats.isEmpty) return candidates
    pruneEntries(spark, meta.schema, meta.statCols,
      candidates.map(o => o -> meta.segStats.get(o)), pred)
  }

  /** Separator between owner and relative file path in composite
    * file-pruning keys — NUL cannot appear in a filesystem path. */
  private val FileKeySep = "\u0000"

  /** File-level zone-map pruning for every owner of `owners` that
    * carries a non-empty per-file map: owner → surviving relative paths
    * (possibly empty — every file provably rejects). Owners WITHOUT a
    * file map are absent from the result and must be read whole,
    * conservatively. One local prune over all mapped owners' files. */
  private[ops] def pruneFilesExpr(spark: SparkSession, meta: TableMeta,
      owners: Seq[String],
      pred: org.apache.spark.sql.catalyst.expressions.Expression)
      : Map[String, Seq[String]] = {
    val mapped = owners.filter(o => meta.fileStats.get(o).exists(_.nonEmpty))
    if (mapped.isEmpty) return Map.empty
    val entries = mapped.flatMap { o =>
      meta.fileStats(o).toSeq.map { case (f, s) =>
        (o + FileKeySep + f) -> Option(s)
      }
    }
    val kept = pruneEntries(spark, meta.schema, meta.statCols, entries, pred)
      .map { k =>
        val i = k.indexOf(FileKeySep)
        (k.substring(0, i), k.substring(i + 1))
      }
      .groupBy(_._1).map { case (o, fs) => o -> fs.map(_._2) }
    mapped.map(o => o -> kept.getOrElse(o, Nil)).toMap
  }

  /** Generic zone-map pruner: of `entries` (key → recorded stats, None
    * = keep conservatively), the keys whose stats ADMIT `where`. Used
    * at segment granularity (key = owner) and file granularity (key =
    * owner + separator + relative path). Always a superset of the keys
    * holding matching rows. */
  private def pruneEntries(spark: SparkSession, schema: StructType,
      statCols: Seq[String], entries: Seq[(String, Option[SegStats])],
      pred: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[String] = {
    val typed = statCols.filter(schema.fieldNames.contains)
    if (typed.isEmpty) return entries.map(_._1)
    val fields = StructField("__owner", StringType) +:
      StructField("__rows", LongType, nullable = true) +:
      typed.flatMap(c => Seq(
        StructField(s"__min_raw_$c", StringType, nullable = true),
        StructField(s"__max_raw_$c", StringType, nullable = true),
        StructField(s"__nulls_$c", LongType, nullable = true)))
    val rows: Seq[org.apache.spark.sql.Row] = entries.map { case (o, ss) =>
      val cells = ss.map(s => Long.box(s.rows)).orNull +:
        typed.flatMap { c =>
          ss.flatMap(_.cols.get(c)) match {
            case Some(st) =>
              Seq(st.min.orNull, st.max.orNull, Long.box(st.nulls))
            case None => Seq(null, null, null)
          }
        }
      org.apache.spark.sql.Row.fromSeq(o +: cells)
    }
    val raw = spark.createDataFrame(rows.asJava, StructType(fields.toArray))
    val decoded = raw.select(col("__owner") +: col("__rows") +:
      typed.flatMap { c =>
        val dt = schema(c).dataType
        Seq(statDecode(col(s"__min_raw_$c"), dt).as(s"__min_$c"),
          statDecode(col(s"__max_raw_$c"), dt).as(s"__max_$c"),
          col(s"__nulls_$c"))
      }: _*)
    val canMatch = segCanMatch(pred,
      typed.map(c => c -> schema(c).dataType).toMap)
    decoded.filter(canMatch).select("__owner").collect().map(_.getString(0))
      .toSeq
  }

  /** CHANGE FEED between two versions: the owner segments `table`
    * gained from `sinceTxn` (exclusive) to `atTxn` (inclusive), read as
    * one DataFrame — the generic delta-consumer API (incremental
    * maintenance's covered-owners pattern, lifted to the surface). Cost
    * is O(changed data): history segments are never touched. Returns
    * None when the table was REPLACED in between (compaction or
    * corpus-wide maintenance) — appended-segment diffing cannot
    * represent a rewrite, so the consumer must fall back to a full
    * re-read; a Some(empty) answer would silently miss the rewrite. */
  def changesSince(spark: SparkSession, root: String, table: String,
      sinceTxn: String, atTxn: Option[String] = None): Option[DataFrame] = {
    val at = atTxn.orElse(currentTxn(spark, root)).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    val before = manifestMetaOf(spark, root, sinceTxn).get(table)
      .map(_.owners).getOrElse(Nil)
    val after = manifestMetaOf(spark, root, at).getOrElse(table,
      throw new IllegalArgumentException(
        s"table '$table' is not in version $at under $root"))
    def emptyLike = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      after.schema)
    // append-only evolution keeps every prior owner; a missing one
    // means the table was replaced in the interval
    if (before.forall(after.owners.contains)) {
      val added = after.owners.filterNot(before.contains)
      Some(
        if (added.isEmpty) emptyLike
        else readSegments(spark, root, table, after, added))
    } else {
      // REPLACED in the interval: ride through if every chain-breaking
      // commit is a content-preserving reorganization (dataChange=false
      // — compaction, clustering). The walk splits the interval into
      // data-changing sub-intervals at the reorg commits; each
      // sub-interval's appended owners read at THEIR OWN version (the
      // segments survive on disk under the retention contract), so a
      // row appended before a compaction is served from its original
      // segment, never re-derived from the mixed rewrite output. A
      // chain-breaking commit that IS a data change (upsert, scoped
      // overwrite) still returns None — a rewrite is not diffable.
      chainInfos(spark, root, sinceTxn, at).flatMap { chain =>
        walkAppendedOwners(spark, root, table, sinceTxn, chain)
          .map { parts =>
            val frames =
              parts.map(readAppendedPart(spark, root, table, _))
            if (frames.isEmpty) emptyLike
            else alignFrames(frames, after.schema)
          }
      }
    }
  }

  /** One contribution of [[walkAppendedOwners]]: either appended
    * owners of the table itself, or the INSERT side of a staged
    * change set ([[cdfTableOf]]) — the rows the table gained in a
    * rewrite commit that staged its CDF. */
  private sealed trait AppendedPart
  private final case class OwnersPart(meta: TableMeta,
      owners: Seq[String]) extends AppendedPart
  private final case class CdfInsertsPart(cdfMeta: TableMeta,
      owner: String) extends AppendedPart

  /** Read one [[AppendedPart]] as a frame of the table's rows. */
  private def readAppendedPart(spark: SparkSession, root: String,
      table: String, p: AppendedPart): DataFrame = p match {
    case OwnersPart(meta, owners) =>
      readSegments(spark, root, table, meta, owners)
    case CdfInsertsPart(dm, owner) =>
      readSegments(spark, root, cdfTableOf(table), dm, Seq(owner))
        .filter(col(CdfTypeCol) === "insert").drop(CdfTypeCol)
  }

  /** The per-sub-interval appended owners of `table` across `chain`
    * (each with the manifest meta of its sub-interval END, which is
    * how the segments must be read), or None when a DATA-CHANGING
    * commit in the chain broke the owner-prefix invariant WITHOUT
    * staging its change set (a genuine unstaged rewrite — not
    * diffable). Reorganization commits (dataChange=false) are
    * skipped: their rewrites carry the same logical rows, so they
    * contribute nothing and re-base the bookkeeping. A rewrite that
    * STAGED its change set (`cdf=` marker, r14) re-bases the
    * bookkeeping the same way and contributes its staged INSERT rows
    * — [[changesSince]]'s contract is "rows the table gained", and the
    * staged insert side is exactly that. */
  private def walkAppendedOwners(spark: SparkSession, root: String,
      table: String, sinceTxn: String, chain: Seq[(String, CommitInfo)])
      : Option[Seq[AppendedPart]] = {
    val memo = scala.collection.mutable.Map.empty[String, Seq[String]]
    val metaMemo =
      scala.collection.mutable.Map.empty[String, Map[String, TableMeta]]
    def metasAt(t: String): Map[String, TableMeta] =
      metaMemo.getOrElseUpdate(t, manifestMetaOf(spark, root, t))
    def metaAt(t: String): Option[TableMeta] = metasAt(t).get(table)
    def ownersAt(t: String): Seq[String] =
      memo.getOrElseUpdate(t, metaAt(t).map(_.owners).getOrElse(Nil))
    val out = scala.collection.mutable.ListBuffer.empty[AppendedPart]
    // consecutive append steps coalesce into one run, read with the
    // run-END version's meta (its chain holds every owner of the run,
    // and its schema is the latest the run saw) — one relation per
    // maximal append run, not one per commit
    val runAdded = scala.collection.mutable.ListBuffer.empty[String]
    var runMeta: Option[TableMeta] = None
    def flush(): Unit = {
      if (runAdded.nonEmpty) {
        out += OwnersPart(runMeta.get, runAdded.toList)
        runAdded.clear()
      }
      runMeta = None
    }
    var prev = sinceTxn
    for ((txn, ci) <- chain) {
      val a = ownersAt(prev)
      val b = ownersAt(txn)
      if (ci.cdfTables.contains(table)) {
        // staged rewrite: its gained rows come from the cdf owner,
        // never from chain arithmetic (the chain was rewritten)
        flush()
        metasAt(txn).get(cdfTableOf(table))
          .filter(_.owners.contains(txn)) match {
          case Some(dm) => out += CdfInsertsPart(dm, txn)
          case None => return None // marker says staged, manifest lost it
        }
      } else if (b.startsWith(a)) {
        runAdded ++= b.drop(a.size)
        if (runAdded.nonEmpty) runMeta = metaAt(txn)
      } else if (!ci.dataChange) {
        // reorganization: same rows, new chain — nothing appended;
        // close the run (later owners live on the REWRITTEN chain and
        // need the post-reorg meta)
        flush()
      } else {
        return None // unstaged data-changing rewrite: not diffable
      }
      prev = txn
    }
    flush()
    Some(out.toList)
  }

  /** The owner chain of `table` at version `txn` — its segment ids in
    * append order (empty when the table is absent). Specs read it to
    * check which segments a commit kept, replaced or appended. */
  def ownerChainAt(spark: SparkSession, root: String, table: String,
      txn: String): Seq[String] =
    manifestMetaOf(spark, root, txn).get(table).map(_.owners)
      .getOrElse(Nil)

  /** Union frames whose schemas may differ by mid-interval evolution
    * (columns added/widened), conformed to `want` — the schema the
    * interval's END version records, which is the feed's contract. */
  private def alignFrames(frames: Seq[DataFrame],
      want: StructType): DataFrame = {
    val unioned =
      if (frames.size == 1) frames.head
      else frames.reduce(_.unionByName(_, allowMissingColumns = true))
    if (unioned.schema == want) unioned
    else unioned.select(want.fields.toIndexedSeq.map(f =>
      (if (unioned.columns.contains(f.name)) col(f.name)
       else lit(null)).cast(f.dataType).as(f.name)): _*)
  }

  /** At most this many distinct delete keys are inlined as an `IN`
    * filter on the change feed's delete side — the filter is what lets
    * the skipping layers (blooms, zone maps) prune the history scan to
    * the files that can hold a killed row. Past it, the feed falls back
    * to the un-pruned semi join (a mass delete has to touch the mass
    * anyway). */
  private val MaxInlineDeleteKeys = 100000

  /** FULL CHANGE FEED (CDC) between two versions: the rows the table
    * GAINED (appended in the interval and still live at `atTxn`) and
    * the rows it LOST (live at `sinceTxn`, killed by tombstones added
    * in the interval) — the inserted/deleted halves a downstream
    * incremental consumer (a signed-merge materialized view, a sync
    * job) needs. Rides through reorganization commits AND through
    * data-changing rewrites that STAGED their change set (r14
    * commit-time CDF — [[cdfTableOf]]: overwriteWhere, the SQL
    * UPDATE/MERGE copy-on-write routes), serving the staged rows for
    * those commits. None only when the interval holds an UNSTAGED
    * rewrite of the table or its tombstone chain (a raw
    * `publishDelta(replace=…)`): that is not diffable segment-wise
    * and callers must full-resync, exactly like [[changesSince]].
    *
    * Exactness: asof scopes are evaluated against the stable owner
    * positions (append-only evolution is a precondition), so a key
    * deleted twice never double-reports, a row appended after its
    * key's tombstone is not reported deleted, and a row appended AND
    * deleted inside the interval appears on neither side. The delete
    * side reads history THROUGH the skipping layers: killed rows must
    * carry one of the interval's tombstone keys, so that key set (when
    * small) is pushed as an `IN` filter and blooms/zone maps prune the
    * scan to the files that can match. */
  def changesWithDeletes(spark: SparkSession, root: String, table: String,
      sinceTxn: String, atTxn: Option[String] = None)
      : Option[(DataFrame, DataFrame)] = {
    val at = atTxn.orElse(currentTxn(spark, root)).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    val mFrom = manifestMetaOf(spark, root, sinceTxn)
    val mTo = manifestMetaOf(spark, root, at)
    val srcT = mTo.getOrElse(table, throw new IllegalArgumentException(
      s"table '$table' is not in version $at under $root"))
    def emptyLike = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      srcT.schema)
    cdcDiffPrefix(spark, root, table, mFrom, mTo).orElse {
      // the interval REPLACED the table (or its tombstone chain): ride
      // through if every chain-breaking commit is a content-preserving
      // REORGANIZATION (dataChange=false — compaction, clustering,
      // including the tombstone-applying full rewrite: rows it kills
      // were already dead to every reader) or a rewrite that STAGED
      // its change set (r14 commit-time CDF). The walk splits the
      // interval into sub-intervals at those commits, CONCATENATES
      // their signed diffs, and NETS the halves (identical-row
      // insert/delete pairs cancel — r14), so the result matches the
      // ENDPOINT diff and the standard mirror recipe (deletes, then
      // inserts, one batch) is exact even over an interval where a
      // later backfill removed rows an earlier commit appended.
      chainInfos(spark, root, sinceTxn, at).flatMap { chain =>
        val metaMemo = scala.collection.mutable
          .Map(sinceTxn -> mFrom, at -> mTo)
        def metasAt(t: String): Map[String, TableMeta] =
          metaMemo.getOrElseUpdate(t, manifestMetaOf(spark, root, t))
        val dt = deleteTableOf(table)
        val cdfT = cdfTableOf(table)
        def unchanged(a: Map[String, TableMeta],
            b: Map[String, TableMeta]): Boolean =
          a.get(table).map(_.owners) == b.get(table).map(_.owners) &&
            a.get(dt).map(_.owners) == b.get(dt).map(_.owners)
        // sub-interval boundaries: a reorg commit (dataChange=false)
        // closes the current sub-interval and becomes the next one's
        // base; a rewrite that STAGED its change set (`cdf=` in the
        // marker, r14) does the same AND contributes its staged rows —
        // the commit-time CDF that lets a backfill stream through.
        // Left = prefix sub-interval (endpoint diff); Right = the
        // staged owner (= the rewrite's txn) of the cdf companion.
        val bounds = scala.collection.mutable.ListBuffer
          .empty[Either[(String, String), String]]
        var start = sinceTxn
        var prev = sinceTxn
        chain.foreach { case (t, ci) =>
          if (ci.cdfTables.contains(table)) {
            if (start != prev) bounds += Left((start, prev))
            bounds += Right(t)
            start = t
          } else if (!ci.dataChange) {
            if (start != prev) bounds += Left((start, prev))
            start = t
          }
          prev = t
        }
        if (start != prev) bounds += Left((start, prev))
        val parts = bounds.toList.map {
          case Left((a, b)) =>
            if (unchanged(metasAt(a), metasAt(b)))
              Some(None) // nothing touched this table — no read at all
            else cdcDiffPrefix(spark, root, table, metasAt(a), metasAt(b))
              .map(x => Some(x))
          case Right(t) =>
            // the rewrite's staged change set: one cdf owner, id = txn
            metasAt(t).get(cdfT).filter(_.owners.contains(t)).map { dm =>
              val seg = readSegments(spark, root, cdfT, dm, Seq(t))
              Some((seg.filter(col(CdfTypeCol) === "insert")
                  .drop(CdfTypeCol),
                seg.filter(col(CdfTypeCol) === "delete")
                  .drop(CdfTypeCol)))
            }
        }
        if (parts.exists(_.isEmpty)) None // an unstaged rewrite
        else {
          val frames = parts.flatten.flatten
          if (frames.isEmpty) Some((emptyLike, emptyLike))
          else {
            val want = srcT.schema
            val insAll = alignFrames(frames.map(_._1), want)
            val delAll = alignFrames(frames.map(_._2), want)
            if (frames.size == 1) Some((insAll, delAll))
            else {
              // NET the concatenated sub-interval diffs (r14): a row
              // inserted by one sub-interval and removed by a later
              // one (or vice versa — a backfill re-stating rows a
              // prior commit appended) lands on BOTH raw sides; the
              // identical-row pairs cancel so the result matches the
              // ENDPOINT diff, and the standard mirror recipe (apply
              // deletes, then inserts, in one batch) stays exact over
              // a spanning catch-up interval. Only full-row-identical
              // pairs cancel — an update's (old, new) pair survives
              // untouched, so CDC update classification is unaffected.
              // Cost: two multiset excepts, paid only on multi-part
              // intervals (the rare deep catch-up, never steady state).
              // exceptAll is a set op, which Spark REJECTS on frames
              // carrying map-typed columns (ADVICE r14 #4) — those
              // tables fall back to the plain pre-r14 concatenation
              // rather than throw AnalysisException mid-catch-up:
              // exact over the common spanning interval (reorg
              // boundaries — the halves are disjoint), weaker only
              // when a later sub-interval removed rows an earlier one
              // appended (the pair then survives on both sides, the
              // r14 netting rationale); map-typed consumers needing
              // endpoint exactness should catch up per-commit, where
              // each batch is a single prefix diff.
              if (want.fields.forall(f => mapFree(f.dataType)))
                Some((insAll.exceptAll(delAll), delAll.exceptAll(insAll)))
              else Some((insAll, delAll))
            }
          }
        }
      }
    }
  }

  /** The endpoint CDC diff of one PREFIX-EXTENDING interval — the
    * exactness core of [[changesWithDeletes]]: None when either the
    * table's owner chain or its tombstone chain is not a prefix
    * extension across the interval. */
  private def cdcDiffPrefix(spark: SparkSession, root: String,
      table: String, mFrom: Map[String, TableMeta],
      mTo: Map[String, TableMeta]): Option[(DataFrame, DataFrame)] = {
    val srcT = mTo.getOrElse(table, return None)
    val srcF = mFrom.getOrElse(table, return None)
    if (!srcT.owners.startsWith(srcF.owners)) return None
    val dt = deleteTableOf(table)
    val tombF = mFrom.get(dt).map(_.owners).getOrElse(Nil)
    val tombT = mTo.get(dt).map(_.owners).getOrElse(Nil)
    if (!tombT.startsWith(tombF)) return None
    def emptyLike = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      srcT.schema)
    val newOwners = srcT.owners.drop(srcF.owners.size)
    val inserted =
      if (newOwners.isEmpty) emptyLike
      else applyTombstones(spark, root, table, mTo,
        readSegments(spark, root, table, srcT, newOwners))
    val newTombs = tombT.drop(tombF.size)
    val deleted =
      if (newTombs.isEmpty) emptyLike
      else {
        val dm = mTo(dt)
        val keyCols = dm.schema.fieldNames.toSeq.filterNot(_ == TombAsofCol)
        val keyRows = readSegments(spark, root, dt, dm, newTombs)
          .select(keyCols.map(col): _*).distinct()
          .limit(MaxInlineDeleteKeys + 1).collect()
        val base = readSegments(spark, root, table, srcF, srcF.owners)
        val pruned =
          if (keyRows.length > MaxInlineDeleteKeys) base
          else {
            // per-COLUMN membership conjunction — for a composite key
            // this admits the cartesian superset of the tombstoned
            // tuples, which is safe: the exact tuple-level semi join
            // below decides membership; the filter only exists so the
            // skipping layers can prune the history scan
            val perCol = keyCols.zipWithIndex.map { case (k, i) =>
              val (nulls, vals) = keyRows.map(r => Option(r.get(i)))
                .partition(_.isEmpty)
              val in =
                if (vals.isEmpty) lit(false)
                else col(k).isin(vals.map(_.get).toIndexedSeq: _*)
              if (nulls.nonEmpty) in || col(k).isNull else in
            }
            base.filter(perCol.reduce(_ && _))
          }
        tombstoneJoin(spark, root, table, mTo,
          applyTombstones(spark, root, table, mFrom, pruned),
          Some(newTombs), semi = true)
      }
    Some((inserted, deleted))
  }

  /** Consumer-lag registry dir: one file per streaming consumer,
    * holding the txn its NEXT batch will diff from. */
  private val ConsumersDir = "_consumers"

  /** Record (overwrite) a streaming consumer's progress: the commit
    * txn its next batch reads from. [[vacuum]] keeps every registered
    * version (and its reference closure) alive while the registration
    * is younger than the vacuum's `consumerTtlMs` — the enforcement
    * half of the change-feed retention contract. Failure here must
    * never fail the stream (registration is protection, not
    * correctness), so errors are swallowed. */
  def recordConsumer(spark: SparkSession, root: String, id: String,
      txn: String): Unit =
    try {
      require(id.nonEmpty && id.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_'),
        s"consumer id '$id' is not filename-safe")
      val dir = new Path(root, ConsumersDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(dir)
      val out = fs.create(new Path(dir, id), true)
      try out.write(txn.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Registered consumers as (id, txn, registered-at-ms). */
  def registeredConsumers(spark: SparkSession,
      root: String): Seq[(String, String, Long)] = {
    val dir = new Path(root, ConsumersDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.flatMap { st =>
      try {
        val in = fs.open(st.getPath)
        val txn = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim finally in.close()
        if (txn.isEmpty) None
        else Some((st.getPath.getName, txn, st.getModificationTime))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Every COMMITTED version with its commit time (the `_COMMITTED`
    * marker's mtime — the same clock vacuum retention ranks by),
    * ascending by (time, name). This is the store's version history:
    * [[GraftCatalog]] resolves SQL `TIMESTAMP AS OF` against it (latest
    * commit at-or-before the timestamp, the Delta/Iceberg contract),
    * and it is the programmatic answer to "what snapshots exist".
    * Sealed-but-uncommitted dirs (CAS losers, in-flight publishes) are
    * excluded — they were never readable snapshots. */
  def committedVersions(spark: SparkSession,
      root: String): Seq[(String, Long)] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Nil
    val byTime = fs.listStatus(rootPath).toSeq
      .filter(_.getPath.getName.startsWith("v_"))
      .flatMap { st =>
        try Some(st.getPath.getName.stripPrefix("v_") ->
          fs.getFileStatus(new Path(st.getPath, CommitMarker))
            .getModificationTime)
        catch { case _: java.io.FileNotFoundException => None }
      }
    // same-millisecond mtime ties resolve by the RECORDED commit
    // sequence (marker content, [[markCommitted]]) — true commit order,
    // not filesystem-clock luck; the seq read is paid only for tied
    // groups (normally zero). Pre-seq markers fall back to name.
    val tiedTimes = byTime.groupBy(_._2).collect {
      case (t, vs) if vs.size > 1 => t
    }.toSet
    byTime.sortBy { case (n, t) =>
      val seq =
        if (tiedTimes(t)) commitSeqOf(spark, root, n).getOrElse(Long.MaxValue)
        else 0L
      (t, seq, n)
    }
  }

  /** SQL face of the store: register every table of ONE version as a
    * temp view `<prefix><table>` and return the pinned txn. The pin
    * happens once, so `spark.sql` joins across the views see a mutually
    * CONSISTENT snapshot even under concurrent publishers (the
    * documented consistent-read pattern, lifted to the SQL surface);
    * published versions are immutable, so the views keep serving that
    * snapshot until re-registered. Pass `txn` to mount a historical
    * version (time travel in SQL). */
  def registerViews(spark: SparkSession, root: String, prefix: String = "",
      txn: Option[String] = None): String = {
    val pinned = txn.getOrElse(currentTxn(spark, root).getOrElse(
      throw new IllegalStateException(s"no published version under $root")))
    manifestMetaOf(spark, root, pinned).keys.toSeq.sorted.foreach { t =>
      readTableAt(spark, root, t, pinned)
        .createOrReplaceTempView(prefix + t)
    }
    pinned
  }

  /** Drop unreferenced version and scratch dirs, subject to a retention
    * policy so [[readTableAt]] time travel and vacuum are safe to use
    * together:
    *
    *  - `keepLast` retains the N most recently COMMITTED versions,
    *    ranked by their `_COMMITTED` marker's mtime — commit order, not
    *    seal order, so a sealed-but-never-committed orphan can neither
    *    claim a retention slot nor displace a published version. Ties
    *    (same-millisecond commits) break deterministically by version
    *    name, so a pinned reader's version cannot flip in and out of
    *    retention between runs. The default 1 keeps only the live
    *    version — a reader pinned to an older txn must be covered by a
    *    larger `keepLast` or by `minAgeMs`, the same contract
    *    Delta/Iceberg retention gives.
    *  - `minAgeMs` additionally spares committed versions younger than
    *    the cutoff (age = time since commit).
    *  - registered streaming consumers ([[recordConsumer]] — the CDC
    *    source writes its progress per batch) keep their version alive
    *    while younger than `consumerTtlMs`, so a LAGGING stream's next
    *    batch finds its manifest instead of a hole; once a version is
    *    gone anyway (TTL expiry, late registration) the stream fails
    *    with the documented resync error BEFORE emitting a partial
    *    batch — deterministic, never silent data loss.
    *  - `graceMs` protects what might belong to a publish IN FLIGHT in
    *    another process — scratch dirs and marker-less `v_` dirs, which
    *    are indistinguishable from a publisher between seal and commit.
    *    Neither is deleted until older than max(graceMs, minAgeMs); set
    *    `graceMs` above your longest publish wall-clock (default 1 h),
    *    or 0 in tests/single-process deployments to reclaim crashed
    *    leftovers immediately. Same-JVM publishers never rely on the
    *    grace: their dirs are skipped exactly via the in-flight
    *    registry, and the commit lock serializes the pointer swap with
    *    the whole list-and-delete (stress-raced in AtomicPublishSpec).
    *
    * Retention additionally protects the reference CLOSURE of EVERY
    * surviving version — live, keepLast-retained, age/grace-spared, or
    * itself referenced: a version whose manifest points at older
    * versions' dirs (publishDelta append/carry) keeps them all alive,
    * so nothing a surviving version unions over can be reclaimed. A
    * manifest that cannot be read aborts the vacuum (anything else
    * would risk deleting dirs the unreadable manifest references).
    *
    * Returns the deleted paths. The pointer is additionally re-read
    * after listing, and any version named by either read survives. A
    * version whose marker write failed (crash in the post-swap window)
    * degrades to the marker-less case: protected while live or young,
    * reclaimable once aged — never able to brick the live store. The
    * live version self-heals its marker BEFORE retention is computed,
    * so a crash after the pointer swap cannot leave the live version
    * unranked. */
  def vacuum(spark: SparkSession, root: String, keepLast: Int = 1,
      minAgeMs: Long = 0L, graceMs: Long = 3600L * 1000,
      /** How long a [[recordConsumer]] registration protects its
        * version: a lagging stream's next `sinceTxn` survives retention
        * while its registration is younger than this (default 7 days);
        * an abandoned checkpoint stops holding history once it ages
        * out. 0 disables consumer protection. */
      consumerTtlMs: Long = 7L * 24 * 3600 * 1000,
      /** Report the reclaimable paths WITHOUT deleting anything — the
        * ops pre-flight (`CALL vacuum(dry_run => true)`): same
        * retention/closure/consumer computation, no data reclaimed.
        * (The live version's missing commit marker may still
        * self-heal — benign metadata repair that makes the preview
        * match the later real run on a pre-marker store.) */
      dryRun: Boolean = false): Seq[String] = {
    require(keepLast >= 1, "keepLast must retain at least the live version")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Nil
    commitLock(spark, root).synchronized {
      val liveBefore = currentTxn(spark, root)
      val statuses = fs.listStatus(rootPath).toSeq
      val liveAfter = currentTxn(spark, root) // cross-process commit guard
      val live = (liveBefore ++ liveAfter).map(t => s"v_$t").toSet
      val now = System.currentTimeMillis()
      val committedCutoff = now - minAgeMs
      val inFlightCutoff = now - math.max(minAgeMs, graceMs)
      // heal pre-marker stores FIRST: the LIVE version provably
      // committed (the pointer names it) — give it its marker so the
      // retention ranking below sees it (healing after ranking would
      // under-retain on a pre-marker store's first vacuum)
      liveAfter.foreach { t =>
        val vdir = new Path(rootPath, s"v_$t")
        if (fs.exists(vdir) && !fs.exists(new Path(vdir, CommitMarker)))
          markCommitted(spark, root, t)
      }
      // commit time (marker mtime), or None for sealed-not-committed
      def commitTime(st: org.apache.hadoop.fs.FileStatus): Option[Long] =
        try Some(fs.getFileStatus(
          new Path(st.getPath, CommitMarker)).getModificationTime)
        catch { case _: java.io.FileNotFoundException => None }
      val versions = statuses.filter(_.getPath.getName.startsWith("v_"))
        .map(st => (st, commitTime(st)))
      val retainedRecent = versions
        .collect { case (st, Some(t)) => (st.getPath.getName, t) }
        // the LIVE version is by definition the most recent commit —
        // rank it first even when marker mtimes tie at ms resolution
        // (otherwise it eats no keepLast slot and a tied trio retains
        // keepLast+1 versions nondeterministically); remaining ms ties
        // are deterministic by version name
        .sortBy { case (n, t) => (!live(n), -t, n) }
        .take(keepLast).map(_._1).toSet
      val committedAt = versions.collect {
        case (st, Some(t)) => st.getPath.getName -> t }.toMap
      def isActive(n: String): Boolean =
        inFlight.contains(n.stripPrefix("v_")
          .stripPrefix(".staging_").stripPrefix("._current_"))
      def isAged(st: org.apache.hadoop.fs.FileStatus): Boolean =
        committedAt.get(st.getPath.getName) match {
          case Some(t) => t < committedCutoff            // committed: user policy
          case None => st.getModificationTime < inFlightCutoff // maybe in flight
        }
      // EVERY version that survives this vacuum — live, keepLast-
      // retained, age/grace-spared, or in-flight — keeps the dirs its
      // manifest references (deleting one would hollow out its unions).
      // Seeded from all survivors, expanded to a fixpoint (cheap: refs
      // are direct data-dir pointers, flattened at publish time). An
      // unreadable manifest ABORTS the vacuum: degrading to "no refs"
      // could delete dirs the unreadable manifest still points at.
      // versions a live streaming consumer still needs (its next batch
      // diffs from this txn's manifest) — registered via
      // [[recordConsumer]], honored while younger than the TTL
      val versionNames = versions.map(_._1.getPath.getName).toSet
      val consumerHeld: Set[String] =
        if (consumerTtlMs <= 0) Set.empty
        else {
          val held = registeredConsumers(spark, root).collect {
            case (_, txn, at) if at >= now - consumerTtlMs &&
              versionNames(s"v_$txn") => s"v_$txn"
          }.toSet
          // LOG-SUFFIX retention (r15): a lagging stream's next batch
          // WALKS the commit chain from its held version to the head,
          // reading every INTERMEDIATE version's manifest on the way
          // (ride-through bookkeeping). Protecting only the held
          // version + closure let vacuum reclaim intermediates and
          // turn a catch-up spanning a reorganization into a spurious
          // resync. So every version committed at-or-after the OLDEST
          // held version survives — the Kafka shape: retention keeps
          // the suffix past the laggard, and an abandoned checkpoint
          // stops holding it once its registration outlives the TTL.
          val floor = held.flatMap(committedAt.get)
          if (floor.isEmpty) held
          else {
            val f = floor.min
            held ++ committedAt.collect { case (n, t) if t >= f => n }
          }
        }
      val survivorsByPolicy = versions.collect {
        case (st, _) if live(st.getPath.getName) ||
          retainedRecent(st.getPath.getName) ||
          consumerHeld(st.getPath.getName) ||
          isActive(st.getPath.getName) || !isAged(st) => st.getPath.getName
      }.toSet
      def refsOf(vs: Set[String]): Set[String] = vs.flatMap { v =>
        try manifestOf(spark, root, v.stripPrefix("v_"))
          .values.flatten.map(t => s"v_$t")
        catch {
          case _: java.io.FileNotFoundException => Set.empty[String]
          case e: Throwable => throw new java.io.IOException(
            s"vacuum aborted: cannot read manifest of $v under $root — " +
              "retrying later is safe; proceeding could delete referenced data", e)
        }
      }
      var protectedVersions = survivorsByPolicy
      var frontier = refsOf(protectedVersions) -- protectedVersions
      while (frontier.nonEmpty) {
        protectedVersions ++= frontier
        frontier = refsOf(frontier) -- protectedVersions
      }
      statuses
        .filter { st =>
          val n = st.getPath.getName
          val isVersion = n.startsWith("v_")
          val isScratch = n.startsWith(".staging_") || n.startsWith("._current_") ||
            n.startsWith("._lock_broken_") // breaker crashed pre-delete
          // same-JVM in-flight publishes: their staging dir is still
          // being written, and their SEALED v_ dir may not have reached
          // the pointer yet (the swap is waiting on this very lock) —
          // both must survive
          !isActive(n) && isAged(st) &&
            ((isVersion && !protectedVersions(n)) || isScratch)
        }
        .map { st =>
          if (!dryRun) fs.delete(st.getPath, true)
          st.getPath.toString
        }
    }
  }
}
