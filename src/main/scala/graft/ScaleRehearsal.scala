package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal: run the heavyweight corpus queries (llm1, n2*, n3*,
  * n5) on a 10× replica of the sf0.1 corpus ("sf1") and compare against
  * their measured sf0.1 cost, to confirm the candidate-volume and
  * probed-fraction curves hold off the spec corpus (SURVEY §8 records
  * the numbers; the bar is: no query above 2× its linear extrapolation).
  *
  * The 10× corpus is built from the driver's sf0.1 tables by replication
  * with a structure-preserving perturbation — each replica must look
  * like NEW data (otherwise every doc gains 9 cross-replica duplicates
  * and the dedup stages measure a corpus that couldn't exist), while
  * every per-replica statistic the pipelines key on stays EXACTLY that
  * of the base corpus, so exact-pipeline outputs must scale exactly 10×
  * (asserted, not assumed):
  *
  *  - documents: words of length ≥ 4 are Caesar-ciphered per replica
  *    (lowercase→lowercase, uppercase→uppercase). Token count, char
  *    length, punctuation ratio (non-[a-z0-9 ] chars) and stopword
  *    ratio (the t2 stoplist is all ≤3-char words, left untouched) are
  *    preserved exactly → quarantine/quality/chunk counts replicate;
  *    word-3-gram shingles and 8-gram decontam hashes involving any
  *    ciphered word differ across replicas → no new cross-replica
  *    near-dup pairs at θ=0.8; all-short-word n-grams ARE shared across
  *    replicas, but any contamination they cause is already caused by
  *    the same n-gram in the replica's own eval slice (the eval slice
  *    replicates with the corpus: doc_id offsets are multiples of
  *    DecontamEvalMod, so `doc_id % mod` is replica-invariant).
  *  - embeddings: per replica, a seeded dimension permutation + sign
  *    flip. Within-replica geometry is congruent (norms and pairwise
  *    cosines exact), cross-replica similarity is scrambled. The n3
  *    query set (vec_id < 32) lives only in replica 0, unchanged.
  */
object ScaleRehearsal {

  val Replicas = 10
  /** Multiple of DedupOps.DecontamEvalMod so the eval slice replicates. */
  val DocIdOffset = 1000000L
  val VecIdOffset = 1000000L

  private val lower = "abcdefghijklmnopqrstuvwxyz"

  /** Caesar-cipher words of length ≥ 4, rotation k per replica. */
  private[graft] def cipherDocs(docs: DataFrame, replica: Int): DataFrame = {
    require(replica >= 1 && replica <= 25)
    val rotL = lower.drop(replica) + lower.take(replica)
    val from = lower + lower.toUpperCase
    val to = rotL + rotL.toUpperCase
    docs
      .withColumn("doc_id", col("doc_id") + lit(replica * DocIdOffset))
      .withColumn("text", array_join(
        transform(split(col("text"), " "),
          w => when(length(w) <= 3, w).otherwise(translate(w, from, to))),
        " "))
  }

  /** Seeded per-replica dimension permutation + sign flip (orthogonal,
    * so norms and within-replica cosines are preserved exactly). */
  private[graft] def perturbEmbeddings(emb: DataFrame, replica: Int,
      dim: Int): DataFrame = {
    val rnd = new scala.util.Random(7000 + replica)
    val perm = rnd.shuffle((1 to dim).toVector) // 1-based for element_at
    val signs = Vector.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
    val permCol = array(perm.map(lit): _*)
    val signCol = array(signs.map(lit): _*)
    emb
      .withColumn("vec_id", col("vec_id") + lit(replica * VecIdOffset))
      .withColumn("embedding",
        transform(sequence(lit(1), lit(dim)), j =>
          element_at(col("embedding"), element_at(permCol, j).cast("int"))
            * element_at(signCol, j)))
  }

  /** Build the 10× corpus under `out` (skipped if already built). Only
    * documents + embeddings scale — they are the only tables the
    * rehearsed queries read. */
  def buildCorpus(spark: SparkSession, src: String, out: String): Unit = {
    val marker = new java.io.File(out, "_BUILT")
    if (marker.exists()) return
    val docs = graft.core.Tables.documents(spark, src)
    val emb = graft.core.Tables.embeddings(spark, src)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val docsAll = (1 until Replicas)
      .map(cipherDocs(docs, _)).foldLeft(docs)(_ unionByName _)
    val embAll = (1 until Replicas)
      .map(perturbEmbeddings(emb, _, dim)).foldLeft(emb)(_ unionByName _)
    docsAll.repartition(32).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    embAll.repartition(8).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")
    marker.getParentFile.mkdirs()
    marker.createNewFile()
    ()
  }

  /** The heavyweight set the verdict asked to rehearse, plus n7 (the
    * iterative cluster resolution over n2's pairs — its rounds are the
    * new scale dimension). */
  val Heavyweights = Seq(
    "llm1_prep_counts", "n2_ngram_jaccard", "n2b_minhash_lsh",
    "n3_cosine_topk", "n3b_srp_ann", "n3c_ivf_ann", "n3d_ivf2_ann",
    "n3e_ann_incremental", "n3g_filtered_topk", "n3h_filtered_ivf",
    "n5_embed_neardup", "n7_dup_clusters",
    // timing-only at 10×: t8's short-word bigrams and n8's embedding
    // pairs cross replicas, so their VALUES legitimately differ from
    // 10× the base (corpus-trained LM counts / merged components) —
    // the vs-linear cost curve is the rehearsed property
    "n8_semantic_clusters", "t8_bigram_lm",
    // r13 single-pass restructures ride the same curve: sp9's bucket
    // scores retrain on the scaled corpus (cipher moves word hashes)
    // and n11's short-word 3-grams can anchor across replicas, so both
    // are count-pinned in the verification block, not value-pinned
    "sp9_dsir_select", "n11_dup_spans")

  /** STORE REHEARSAL at one scale: a `segments`-commit ingest history
    * (auto-compaction off — the point is the un-consolidated worst
    * case), then the reads a 100 TB table lives on: point lookups and
    * range scans through the skipping layers, a MASS DELETE of 10% of
    * the keys (applied merge-on-read; correctness re-asserted with
    * broadcast joins disabled, so the tombstone anti-join provably
    * degrades to a shuffled join and not to a wrong answer), and
    * incremental MatView refreshes (append interval + signed-merge
    * delete interval, each ≡ recompute). Rows are keyed by a dense
    * surrogate `rid` so segment slices carry disjoint ranges — zone
    * maps separate history segments exactly like a time-ordered ingest
    * key would at production scale. Returns op → seconds (correctness
    * is asserted inside; timing is min-of-`reps`). */
  private def storeRehearsal(spark: SparkSession, dir: String,
      segments: Int, reps: Int): Map[String, Double] = {
    import graft.ops.{AtomicPublish, MatView}
    import spark.implicits._
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_rehearsal_store_${java.util.UUID.randomUUID().toString.take(10)}")
      .toString
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
    val docs = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("nc"))
      .withColumn("rid", row_number().over(w).cast("long") - 1)
      .cache()
    val n = docs.count()
    def slice(i: Int): DataFrame = {
      val lo = i * n / segments; val hi = (i + 1) * n / segments
      docs.filter(col("rid") >= lo && col("rid") < hi)
        .select(col("rid"), col("doc_id"), col("lang"), col("nc"))
        .coalesce(1)
    }
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // --- stage the ingest history -------------------------------------
    val (_, stageSec) = timed {
      AtomicPublish.publish(spark, root, Map("docs" -> slice(0)),
        statsBy = Map("docs" -> Seq("rid", "doc_id")),
        bloomBy = Map("docs" -> Seq("rid")))
      (1 until segments).foreach { i =>
        AtomicPublish.publishDelta(spark, root,
          append = Map("docs" -> slice(i)),
          parent = AtomicPublish.currentTxn(spark, root))
      }
    }
    val meta = AtomicPublish.currentManifestMeta(spark, root).get._2("docs")
    require(meta.owners.size == segments,
      s"expected $segments owner segments, got ${meta.owners.size}")
    // --- point + range reads through the skipping layers --------------
    def minOf(f: => Unit): Double =
      (1 to reps).map(_ => timed(f)._2).min
    val totalFiles = AtomicPublish.readTable(spark, root, "docs")
      .inputFiles.length
    // files the EXECUTED scans read (after `df` ran), through AQE stages
    def scannedFilesOf(df: DataFrame): Long = {
      def go(p: org.apache.spark.sql.execution.SparkPlan): Long =
        p.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numFiles").value
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            go(q.plan)
        }.sum
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => go(a.executedPlan)
        case p => go(p)
      }
    }
    val pointIds = Seq(n / 7, n / 3, (9L * n) / 10)
    val pointSec = minOf {
      pointIds.foreach { id =>
        val q = AtomicPublish.readTable(spark, root, "docs")
          .where(s"rid = $id")
        require(q.collect().length == 1, s"point read rid=$id lost its row")
        val files = scannedFilesOf(q)
        require(files <= 2, s"point read read $files of $totalFiles files")
      }
    }
    val lo = n / 2; val hi = lo + n / 100
    val rangeSec = minOf {
      val q = AtomicPublish.readTable(spark, root, "docs")
        .where(s"rid >= $lo AND rid < $hi")
      require(q.collect().length == hi - lo, "range read row count off")
      val files = scannedFilesOf(q)
      require(files * 20 <= totalFiles,
        s"1% range read read $files of $totalFiles files")
    }
    // --- the CATALOG face at the same history: a three-part-name SQL
    // point read must prune exactly like the DataFrame read above (the
    // probe exposes the inner plan's listed-file count — at a
    // 1000-segment history an unpruned catalog read would be ~500×
    // this work, so the assertion IS the scale claim)
    val cat = s"graft_rh_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.ops.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    graft.ops.GraftCatalogRead.probeEnabled = true // opt-in plan probe
    val catalogPointSec = minOf {
      pointIds.foreach { id =>
        require(spark.sql(
          s"SELECT count(*) FROM $cat.docs WHERE rid = $id")
          .head().getLong(0) == 1, s"catalog point read rid=$id lost its row")
        val inner = graft.ops.GraftCatalogRead.lastInnerScan.get
        val files = inner.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numFiles").value
        }.sum
        require(files <= 2,
          s"catalog point read listed $files of $totalFiles files")
      }
    }
    // --- metadata-only aggregates at the full history (r10) ------------
    // the hourly operator queries must cost O(manifest): count(*) and
    // min/max over the stat column answer from recorded segment stats
    // with ZERO files read ([[graft.ops.MetadataAggregates]]); the
    // identical aggregate with the rewrite disabled really scans —
    // equal answers required, the wall-clock gap is the claim
    def totalsDf(): DataFrame = AtomicPublish.readTable(spark, root, "docs")
      .agg(count(lit(1)).as("c"), min(col("rid")).as("mn"),
        max(col("rid")).as("mx"))
    def checkTotals(expectScan: Boolean): Unit = {
      val df = totalsDf()
      val r = df.collect()(0)
      require(r.getLong(0) == n && r.getLong(1) == 0 &&
        r.getLong(2) == n - 1, s"table totals off: $r")
      val files = scannedFilesOf(df)
      if (expectScan) require(files > 0, "control aggregate did not scan")
      else require(files == 0,
        s"metadata aggregate read $files files (rewrite regressed)")
    }
    val metaAggSec = minOf { checkTotals(expectScan = false) }
    spark.conf.set("spark.graft.metadataAggregates", "false")
    val scanAggSec =
      try minOf { checkTotals(expectScan = true) }
      finally spark.conf.set("spark.graft.metadataAggregates", "true")
    // HARD pin, not just a printed ratio: the manifest-served aggregate
    // must beat the real scan by a wide margin or the zero-IO path has
    // regressed (r11 caught exactly this — an eager sizeInBytes in the
    // mount's planner stats re-walked every owner dir and turned the
    // 300× r10 headline into scan parity; planner sizes now come from
    // manifest-recorded segment bytes)
    require(metaAggSec * 3 <= scanAggSec,
      f"metadata aggregate $metaAggSec%.3fs not well under the real " +
        f"scan $scanAggSec%.3fs — the zero-IO path regressed")
    // --- scoped vs FULL compaction on zero-copy clones (r8) -----------
    // two O(1) clones of the `segments`-owner table; compactWhere on
    // one rewrites ONLY the owners admitting a ~5% rid range (zone-map
    // admission), compactStore on the other pays the full rewrite —
    // the wall-clock gap IS the OPTIMIZE-WHERE claim, measured at the
    // un-consolidated worst case instead of asserted. Row counts must
    // survive both.
    import graft.ops.Compaction
    require(AtomicPublish.cloneTable(spark, root, "docs", "docs_sc")
      .isDefined)
    require(AtomicPublish.cloneTable(spark, root, "docs", "docs_fc")
      .isDefined)
    // scope spans max(5% of rows, 3 segments' worth) so at least two
    // owners admit at every configured segment count
    val scLo = n / 4
    val scHi = scLo + math.max(n / 20, 3 * n / segments + 1)
    val (_, scopedCompactSec) = timed {
      require(Compaction.compactWhere(spark, root, "docs_sc",
        s"rid >= $scLo AND rid < $scHi").isDefined,
        "scoped compaction found nothing to consolidate")
    }
    val (_, fullCompactSec) = timed {
      Compaction.compactStore(spark, root, "docs_fc")
    }
    require(AtomicPublish.readTable(spark, root, "docs_sc").count() == n,
      "scoped compaction lost rows")
    require(AtomicPublish.readTable(spark, root, "docs_fc").count() == n,
      "full compaction lost rows")
    val scOwners = AtomicPublish.currentManifestMeta(spark, root)
      .get._2("docs_sc").owners.size
    require(scOwners > 1 && scOwners < segments,
      s"scoped compaction owner count $scOwners not a strict subset " +
        s"rewrite of $segments")
    if (segments >= 100)
      require(scopedCompactSec < fullCompactSec,
        f"scoped ($scopedCompactSec%.2fs) not cheaper than full " +
          f"($fullCompactSec%.2fs) at $segments segments")
    // --- composite-key upsert at the full history (r8) ----------------
    // a third clone takes a (rid, lang)-keyed upsert: the tuple
    // tombstones + appended rows land in ONE O(batch) commit however
    // long the owner chain is, and the tuple-keyed anti-join read
    // stays one hash join over the whole history
    require(AtomicPublish.cloneTable(spark, root, "docs", "docs_cc")
      .isDefined)
    val upRows = docs.filter(col("rid") < 10)
      .select(col("rid"), col("doc_id"), col("lang"),
        lit(-1L).as("nc"))
    val (_, compositeUpsertSec) = timed {
      AtomicPublish.upsertMany(spark, root, Map("docs_cc" ->
        AtomicPublish.Upsert(upRows,
          upRows.select(col("rid"), col("lang")))))
      ()
    }
    val compositeReadSec = minOf {
      require(AtomicPublish.readTable(spark, root, "docs_cc").count()
        == n, "composite upsert changed the live count (replace, not add)")
    }
    require(AtomicPublish.readTable(spark, root, "docs_cc")
      .filter(col("rid") < 10).select("nc").collect()
      .forall(_.getLong(0) == -1L),
      "composite upsert did not replace the keyed tuples")
    // --- ANALYZE at the full history (r14, VERDICT r13 #3) -------------
    // docs_cc carries the composite upsert's tombstones over the whole
    // `segments`-owner chain — exactly the delete-heavy, un-compacted
    // shape ANALYZE exists for, and the one store feature r13 never
    // rehearsed at depth. One CALL restates every owner's stats in a
    // SINGLE rollup action (the r13 job-per-owner loop would pay
    // ~`segments` sequential driver-coordinated jobs right here);
    // wall-clock reported vs-linear like every phase, correctness
    // pinned by the restated live-row total.
    val (_, analyzeSec) = timed {
      require(spark.sql(s"CALL $cat.system.analyze(table => 'docs_cc')")
        .head().getString(0).nonEmpty, "analyze returned no version")
    }
    val ccMeta = AtomicPublish.currentManifestMeta(spark, root)
      .get._2("docs_cc")
    require(ccMeta.owners.flatMap(ccMeta.segStats.get).map(_.rows).sum
        == n,
      "restated live-row total off after analyze at the full history")
    // --- predicate-scoped OVERWRITE (day-backfill) at the history (r9)
    // a fourth clone takes overwriteWhere over the SAME ~5% rid range:
    // only the admitting owners rewrite (their non-matching rows kept,
    // replacement row-guarded inside the predicate), everything else
    // carries by reference — the re-statement cost must sit with the
    // scoped compaction, nowhere near the full rewrite
    require(AtomicPublish.cloneTable(spark, root, "docs", "docs_rw")
      .isDefined)
    // a LIVE CDC consumer on docs_rw, attached BEFORE the backfill
    // (r15, VERDICT r14 #5): its paced snapshot establishes the
    // checkpoint the backfill must ride through
    val cdfCk = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_rehearsal_cdfck_${java.util.UUID.randomUUID().toString.take(10)}")
      .toString
    val rwMirror = scala.collection.mutable.HashMap.empty[Long, Long]
    var rwChangeBatches = 0
    def drainRw(cap: Int): Unit = {
      val fq = spark.readStream.format("graft")
        .option("root", root).option("table", "docs_rw")
        .option("withDeletes", "true")
        .option("maxOwnersPerTrigger", cap.toString).load()
        .writeStream.option("checkpointLocation", cdfCk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          val rows = df
            .select(col("rid"), col("nc"), col("_change_type")).collect()
          if (rows.nonEmpty) rwChangeBatches += 1
          rows.foreach { r =>
            if (r.getString(2) == "delete") rwMirror.remove(r.getLong(0))
            else rwMirror.put(r.getLong(0), r.getLong(1))
          }
          ()
        }.start()
      fq.awaitTermination()
    }
    drainRw(64) // snapshot, paced by owners
    require(rwMirror.size == n,
      s"CDC snapshot mirror holds ${rwMirror.size} of $n rows")
    val rwReplacement = docs
      .filter(col("rid") >= scLo && col("rid") < scHi)
      .select(col("rid"), col("doc_id"), col("lang"),
        (col("nc") + 1L).as("nc"))
    val (rwTxn, replaceWhereSec) = timed {
      AtomicPublish.overwriteWhere(spark, root, "docs_rw",
        rwReplacement, s"rid >= $scLo AND rid < $scHi")
    }
    require(AtomicPublish.readTable(spark, root, "docs_rw").count() == n,
      "replaceWhere changed the row count (1:1 re-statement)")
    val rwOwners = AtomicPublish.currentManifestMeta(spark, root)
      .get._2("docs_rw").owners.size
    require(rwOwners > 1 && rwOwners < segments,
      s"replaceWhere owner count $rwOwners not a strict subset " +
        s"rewrite of $segments")
    if (segments >= 100)
      require(replaceWhereSec < fullCompactSec,
        f"replaceWhere ($replaceWhereSec%.2fs) not cheaper than the " +
          f"full rewrite ($fullCompactSec%.2fs) at $segments segments")
    // --- CDF backfill ride-through under a LIVE paced stream (r15) -----
    // the round-14 headline feature at the full history: the
    // overwriteWhere above staged its change set; the established
    // checkpoint now drains it WITHOUT resync, PACED — the cap is set
    // so the staged set must span several microbatches (VERDICT r14
    // #2's contract at depth) — and the stream-maintained mirror must
    // land exactly on the post-backfill table
    val stagedF = AtomicPublish.cdfStagedFiles(spark, root, "docs_rw",
      rwTxn).size
    require(stagedF >= 2,
      s"backfill staged only $stagedF files — nothing to pace")
    val beforeBatches = rwChangeBatches
    val (_, cdfBackfillSec) = timed {
      drainRw(math.max(1, stagedF / 2))
    }
    require(rwChangeBatches - beforeBatches >= 2,
      s"staged change set did not pace: ${rwChangeBatches - beforeBatches}" +
        s" change batches over $stagedF staged files")
    require(rwMirror.size == n,
      s"post-backfill mirror holds ${rwMirror.size} of $n rows")
    val rwLive = AtomicPublish.readTable(spark, root, "docs_rw")
      .select(col("rid"), col("nc")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(rwMirror.toMap == rwLive,
      "stream-maintained mirror diverged from the post-backfill table")
    // the clones served their phases — drop them so later phases and
    // vacuum reasoning see the original store shape
    AtomicPublish.publishDelta(spark, root, append = Map.empty,
      drop = Seq("docs_sc", "docs_fc", "docs_cc", "docs_rw"),
      parent = AtomicPublish.currentTxn(spark, root))
    // --- hidden time partitioning at a production dir count (r8) ------
    // days(ts)-partitioned events: one UTC-day dir per ~30-minute rid
    // step (dir count scales with the corpus), then a ~1% RAW-timestamp
    // range read must scan ~1% of the files — the layout the user
    // never sees doing the pruning the layout exists for
    val tfRoot = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_rehearsal_tf_${java.util.UUID.randomUUID().toString.take(10)}")
      .toString
    val stepUs = 1800000000L // 30 min per rid
    val ev = docs.select(col("rid"),
      timestamp_micros(col("rid") * stepUs).as("ts"), col("nc"))
    val (_, tfStageSec) = timed {
      AtomicPublish.publish(spark, tfRoot, Map("events" ->
        ev.repartition(32,
          expr("CAST(unix_micros(timestamp_micros(rid * " +
            s"$stepUs)) DIV 86400000000 AS INT)"))),
        partitionBy = Map("events" -> Seq("days(ts)")))
    }
    val tfTotalFiles = AtomicPublish.readTable(spark, tfRoot, "events")
      .inputFiles.length
    val tfLoUs = (n / 2) * stepUs
    val tfHiUs = tfLoUs + math.max((n / 100) * stepUs, 86400000000L * 2)
    // the EXACT pruning bound: a window touching k UTC days may scan
    // at most k day files (one file per day dir here) — measured on
    // the EXECUTED aggregate's plan (an unexecuted DataFrame's metrics
    // read zero and would pass vacuously — r10 fix)
    val tfWindowDays =
      (tfHiUs - 1) / 86400000000L - tfLoUs / 86400000000L + 1
    val tfRangeSec = minOf {
      val q = AtomicPublish.readTable(spark, tfRoot, "events")
        .filter(col("ts") >= timestamp_micros(lit(tfLoUs)) &&
          col("ts") < timestamp_micros(lit(tfHiUs)))
      val expected = ev.filter(col("rid") * stepUs >= tfLoUs &&
        col("rid") * stepUs < tfHiUs).count()
      val cdf = q.agg(count(lit(1)).as("c"))
      require(cdf.collect()(0).getLong(0) == expected,
        "transform range read row count off")
      val scan = scannedFilesOf(cdf)
      require(scan > 0 && scan <= tfWindowDays,
        s"raw-ts range read scanned $scan of $tfTotalFiles day files " +
          s"for a $tfWindowDays-day window (hidden partitioning is " +
          "not pruning)")
    }
    // --- DYNAMIC hidden-partition pruning at the dir count (r10) -------
    // the same ~1% window arrives through a JOIN this time: a dim of
    // its distinct timestamps equi-joins the fact on the RAW ts, and
    // [[graft.ops.HiddenPartitionPruning]] must confine the scan to
    // ~the day-file subset the static predicate achieved — measured
    // against the identical join with dynamic pruning disabled (every
    // file read), equal answers required. At the corpus-scaled dir
    // count the gap IS the dim-driven-lookup claim.
    val dimTs = ev.filter(col("rid") * stepUs >= tfLoUs &&
      col("rid") * stepUs < tfHiUs).select("ts").distinct()
    val dppExpected = dimTs.count()
    // exact bound, like the static phase: the dim's values touch
    // `tfWindowDays` UTC days, so the pruned fact scan may read at
    // most that many day files — and strictly fewer than the table
    // holds, or the phase proves nothing at this scale
    require(tfWindowDays < tfTotalFiles,
      s"dpp phase mis-staged: $tfWindowDays-day window over " +
        s"$tfTotalFiles files cannot demonstrate pruning")
    def dppCountDf(): DataFrame =
      AtomicPublish.readTable(spark, tfRoot, "events").join(dimTs, "ts")
        .agg(count(lit(1)).as("c"))
    val dppJoinSec = minOf {
      val df = dppCountDf()
      require(df.collect()(0).getLong(0) == dppExpected,
        "dim-join pruned read row count off")
      val files = scannedFilesOf(df)
      require(files > 0 && files <= tfWindowDays,
        s"dim-join read scanned $files of $tfTotalFiles day files " +
          s"for a $tfWindowDays-day dim window (hidden-partition DPP " +
          "is not pruning)")
    }
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
      "false")
    val dppUnprunedSec =
      try minOf {
        val df = dppCountDf()
        require(df.collect()(0).getLong(0) == dppExpected,
          "unpruned dim-join answer off")
      } finally spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    // --- DPP at REALISTIC file sizes: the BYTES claim (r11) ------------
    // The dir-count staging above proves the files-scanned bound but
    // lands at wall-clock parity (one tiny file per day dir makes both
    // reads metadata-bound — the r10 honest note). This phase stages
    // the SAME dim-driven join over ~32 FAT day files (a payload
    // column, all rows of a day in one file) and asserts the claim
    // that transfers to production: the pruned read's selected-file
    // BYTES ("filesSize" scan metric) shrink ≥5× vs the unpruned read.
    def filesSizeOf(df: DataFrame): Long = {
      def go(p: org.apache.spark.sql.execution.SparkPlan): Long =
        p.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics.get("filesSize").map(_.value).getOrElse(0L)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            go(q.plan)
        }.sum
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => go(a.executedPlan)
        case p => go(p)
      }
    }
    val fatRoot = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_rehearsal_fat_${java.util.UUID.randomUUID().toString.take(10)}")
      .toString
    val fatDays = 32L
    val fatStepUs = math.max(86400000000L / math.max(n / fatDays, 1L), 1L)
    val fat = docs.select(col("rid"),
      timestamp_micros(col("rid") * fatStepUs).as("ts"),
      rpad(col("rid").cast("string"), 256, "x").as("payload"))
    AtomicPublish.publish(spark, fatRoot, Map("events" ->
      fat.repartition(32, expr("CAST(unix_micros(timestamp_micros(rid * " +
        s"$fatStepUs)) DIV 86400000000 AS INT)"))),
      partitionBy = Map("events" -> Seq("days(ts)")))
    // a 2-day dim window out of ~32 days
    val fatLoUs = (n / 2) * fatStepUs
    val fatHiUs = fatLoUs + 2L * 86400000000L
    val fatDim = fat.filter(col("rid") * fatStepUs >= fatLoUs &&
      col("rid") * fatStepUs < fatHiUs).select("ts").distinct()
    val fatExpected = fatDim.count()
    def fatCountDf(): DataFrame =
      AtomicPublish.readTable(spark, fatRoot, "events").join(fatDim, "ts")
        .agg(count(lit(1)).as("c"))
    var fatPrunedBytes = 0L
    val dppFatJoinSec = minOf {
      val df = fatCountDf()
      require(df.collect()(0).getLong(0) == fatExpected,
        "fat dim-join pruned read row count off")
      fatPrunedBytes = filesSizeOf(df)
    }
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
      "false")
    var fatUnprunedBytes = 0L
    val dppFatUnprunedSec =
      try minOf {
        val df = fatCountDf()
        require(df.collect()(0).getLong(0) == fatExpected,
          "fat unpruned dim-join answer off")
        fatUnprunedBytes = filesSizeOf(df)
      } finally spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    require(fatPrunedBytes > 0 && fatUnprunedBytes > 0,
      "fat DPP phase read no bytes metric")
    require(fatPrunedBytes * 5 <= fatUnprunedBytes,
      s"fat DPP bytes reduction below 5x: pruned $fatPrunedBytes vs " +
        s"unpruned $fatUnprunedBytes")
    // --- RUNTIME JOIN FILTER at the full history (r11) -----------------
    // store21's shape at the staged commit depth: the docs store is
    // rid-range-sliced per segment and bloomed/stat'd on rid, and a
    // selectively-filtered dim (a ~1% rid window, read from the same
    // store) equi-joins it on rid — a PLAIN DATA column. The
    // RuntimeJoinFilter rule must materialize the dim's keys and plant
    // them as an InSet on the fact scan, so zone maps + blooms confine
    // the read to the window's segments: selected-file BYTES must
    // shrink ≥5× vs the identical join with the rule disabled, with
    // equal answers. At the 1000-commit history this is the dim-driven
    // row-lookup claim measured, not asserted.
    // The dim filter is a doc_id window — a NON-join-key column, so
    // `InferFiltersFromConstraints` cannot statically propagate it
    // onto the fact's rid (the first cut filtered the join key itself
    // and measured bytes PARITY: the static optimizer had already
    // propagated the window, leaving the rule nothing — the reduction
    // must be attributable). doc_id correlates with rid (rid is its
    // rank), so the surviving keys are value-localized and the planted
    // IN prunes the rid-range-sliced fact segments. The rule's
    // small-build gate sees through the filter via the r11 NDV/min-max
    // CatalogStatistics once CBO is on — the two r11 features
    // composing is the point of the phase.
    val rjfLo = (3L * n) / 5
    val rjfHi = rjfLo + math.min(math.max(n / 100, 10L), 9000L)
    val docIdBounds = docs.filter(col("rid").between(rjfLo, rjfHi - 1))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .collect()(0)
    val (rjfDocLo, rjfDocHi) = (docIdBounds.getLong(0), docIdBounds.getLong(1))
    def rjfDim(): DataFrame =
      AtomicPublish.readTable(spark, root, "docs")
        .filter(col("doc_id").between(rjfDocLo, rjfDocHi))
        .select(col("rid").as("dim_rid"))
    val rjfExpected = rjfDim().count()
    require(rjfExpected > 0, "rjf phase staged an empty dim window")
    def rjfCountDf(): DataFrame =
      AtomicPublish.readTable(spark, root, "docs")
        .join(rjfDim(), col("rid") === col("dim_rid"))
        .agg(count(lit(1)).as("c"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    var rjfBytes = 0L
    var rjfUnfilteredBytes = 0L
    val (rjfJoinSec, rjfUnfilteredSec) =
      try {
        val filteredSec = minOf {
          val df = rjfCountDf()
          require(df.collect()(0).getLong(0) == rjfExpected,
            "runtime-filtered join row count off")
          rjfBytes = filesSizeOf(df)
        }
        spark.conf.set(graft.ops.RuntimeJoinFilter.EnabledKey, "false")
        val unfilteredSec =
          try minOf {
            val df = rjfCountDf()
            require(df.collect()(0).getLong(0) == rjfExpected,
              "unfiltered join answer off")
            rjfUnfilteredBytes = filesSizeOf(df)
          } finally spark.conf.unset(graft.ops.RuntimeJoinFilter.EnabledKey)
        (filteredSec, unfilteredSec)
      } finally spark.conf.unset("spark.sql.cbo.enabled")
    require(rjfBytes > 0 && rjfUnfilteredBytes > 0,
      "runtime-filter phase read no bytes metric")
    require(rjfBytes * 5 <= rjfUnfilteredBytes,
      s"runtime join filter bytes reduction below 5x: filtered " +
        s"$rjfBytes vs unfiltered $rjfUnfilteredBytes")
    // --- OVER-CAP runtime filter: the ENVELOPE fallback (r12) ----------
    // The same dim-driven shape PAST MaxBuildKeys: a build window of
    // 15,001 keys abandons the exact key set, and the [min,max]
    // envelope planted in its place must still confine the fact read.
    // Staged on a dedicated fat store (payload rows, rid-range-sliced
    // segments) so the claim is BYTES, not dir parity: a ~7.5%
    // contiguous key window must cut selected-file bytes ≥4× vs the
    // rule-off control, with equal answers. The dim filter is again a
    // NON-join-key column (`did`), so nothing static propagates — the
    // reduction is the envelope's alone.
    val envRoot = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_rehearsal_env_${java.util.UUID.randomUUID().toString.take(10)}")
      .toString
    val envN = 200000L
    val envFact = spark.range(envN)
      .select(col("id").as("rid"), col("id").as("did"),
        rpad(col("id").cast("string"), 256, "x").as("payload"))
      .repartitionByRange(16, col("rid"))
    AtomicPublish.publish(spark, envRoot, Map("envfact" -> envFact),
      statsBy = Map("envfact" -> Seq("rid", "did")))
    val envLo = envN / 2
    val envKeys = 15001L // > RuntimeJoinFilter.MaxBuildKeys
    def envDim(): DataFrame =
      AtomicPublish.readTable(spark, envRoot, "envfact")
        .filter(col("did").between(envLo, envLo + envKeys - 1))
        .select(col("rid").as("dim_rid"))
    def envCountDf(): DataFrame =
      AtomicPublish.readTable(spark, envRoot, "envfact")
        .join(envDim(), col("rid") === col("dim_rid"))
        .agg(count(lit(1)).as("c"))
    // the plant really is the over-cap ENVELOPE probe, never an InSet
    locally {
      val opt = envCountDf().queryExecution.optimizedPlan
      val probes = opt.collect {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(
          d: graft.ops.DeferredKeyProbe, _) => d }
      require(probes.nonEmpty && probes.forall(_.envelopeOk),
        s"over-cap phase planted no envelope-capable probe:\n$opt")
      require(opt.collect {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(
          org.apache.spark.sql.catalyst.expressions.InSet(_, _), _) => ()
      }.isEmpty, "a static InSet planted past the key cap")
    }
    var envBytes = 0L
    var envUnfilteredBytes = 0L
    val envJoinSec = minOf {
      val df = envCountDf()
      require(df.collect()(0).getLong(0) == envKeys,
        "envelope-filtered join row count off")
      envBytes = filesSizeOf(df)
    }
    spark.conf.set(graft.ops.RuntimeJoinFilter.EnabledKey, "false")
    val envUnfilteredSec =
      try minOf {
        val df = envCountDf()
        require(df.collect()(0).getLong(0) == envKeys,
          "envelope control answer off")
        envUnfilteredBytes = filesSizeOf(df)
      } finally spark.conf.unset(graft.ops.RuntimeJoinFilter.EnabledKey)
    require(envBytes > 0 && envUnfilteredBytes > 0,
      "envelope phase read no bytes metric")
    require(envBytes * 4 <= envUnfilteredBytes,
      s"envelope bytes reduction below 4x: filtered $envBytes vs " +
        s"unfiltered $envUnfilteredBytes")
    // --- partition-spec EVOLUTION at the production dir count (r9) ----
    // days → months in ONE metadata commit over the corpus-scaled dir
    // count: the commit must stay O(1) (no data read — scale-FLAT),
    // the next append must land month-laid WITHOUT a stream/writer
    // re-declaration, and the same raw-ts range read must keep pruning
    // the day-laid history afterwards (per-owner layouts).
    val (_, specEvolveSec) = timed {
      require(AtomicPublish.setPartitionSpec(spark, tfRoot, "events",
        Seq("months(ts)")).isDefined,
        "spec evolution lost its commit race")
    }
    val evolvedAppend = docs.filter(col("rid") < math.max(n / 10, 10L))
      .select((col("rid") + n).as("rid"),
        timestamp_micros((col("rid") + n) * stepUs).as("ts"), col("nc"))
      .coalesce(8)
    AtomicPublish.publishDelta(spark, tfRoot,
      append = Map("events" -> evolvedAppend),
      parent = AtomicPublish.currentTxn(spark, tfRoot))
    val evMeta = AtomicPublish.currentManifestMeta(spark, tfRoot)
      .get._2("events")
    require(evMeta.partitionCols == Seq("months(ts)") &&
      evMeta.ownerParts.values.toSeq == Seq(Seq("days(ts)")),
      s"evolution bookkeeping off: ${evMeta.partitionCols} " +
        s"${evMeta.ownerParts}")
    val evolvedTotal = AtomicPublish.readTable(spark, tfRoot, "events")
      .inputFiles.length
    val evolvedRangeSec = minOf {
      val q = AtomicPublish.readTable(spark, tfRoot, "events")
        .filter(col("ts") >= timestamp_micros(lit(tfLoUs)) &&
          col("ts") < timestamp_micros(lit(tfHiUs)))
      val expected = ev.filter(col("rid") * stepUs >= tfLoUs &&
        col("rid") * stepUs < tfHiUs).count()
      val cdf = q.agg(count(lit(1)).as("c"))
      require(cdf.collect()(0).getLong(0) == expected,
        "post-evolution range read row count off")
      // executed-plan metric (r10 fix); per-owner bound = each owner
      // prunes at ITS granularity: the day-laid owner may scan the
      // window's day dirs, the month-laid appended owner its month
      // dirs (the appended rids sit outside the window, but a month
      // dir OVERLAPPING it is a legitimate conservative keep — rows
      // filter to zero, the dir cannot be dropped at month grain)
      val windowMonths = {
        def m(us: Long) = {
          val d = java.time.LocalDate.ofEpochDay(us / 86400000000L)
          d.getYear * 12 + d.getMonthValue
        }
        m(tfHiUs - 1) - m(tfLoUs) + 1
      }
      val scan = scannedFilesOf(cdf)
      require(scan > 0 && scan <= tfWindowDays + windowMonths,
        s"post-evolution range read scanned $scan of $evolvedTotal " +
          s"files for a $tfWindowDays-day/$windowMonths-month window " +
          "(evolved per-owner pruning regressed)")
    }
    // --- matview: init + incremental append interval ------------------
    val d = MatView.Def("docs", "mv_lang", Seq("lang"),
      Seq(MatView.Agg("count", "rid", "n_docs"),
        MatView.Agg("sum", "nc", "chars")))
    require(MatView.refresh(spark, root, d).isDefined)
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> docs.filter(col("rid") < 10)
        .withColumn("rid", col("rid") + n)
        .select(col("rid"), col("doc_id"), col("lang"), col("nc"))),
      parent = AtomicPublish.currentTxn(spark, root))
    val (_, mvAppendSec) = timed {
      require(MatView.refresh(spark, root, d).isDefined)
    }
    def mvMatches(): Boolean = {
      val got = AtomicPublish.readTable(spark, root, "mv_lang")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      val want = MatView.recomputed(spark, root, d,
        AtomicPublish.currentTxn(spark, root).get)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      got == want
    }
    require(mvMatches(), "matview after append interval != recompute")
    // --- mass delete: 10% of keys, merge-on-read ----------------------
    val (_, deleteCommitSec) = timed {
      AtomicPublish.deleteRows(spark, root, Map("docs" ->
        docs.filter(pmod(col("rid"), lit(10)) === 0).select("rid")))
    }
    // live = original n + 10 appended − ceil(n/10) deleted originals
    // (the appended rids start at n and are not in the key set)
    val liveExpected = (n + 10) - (n / 10 + (if (n % 10 > 0) 1 else 0))
    val deleteReadSec = minOf {
      val live = AtomicPublish.readTable(spark, root, "docs").count()
      require(live == liveExpected,
        s"post-delete live count $live != $liveExpected")
    }
    // graceful degradation: same answer with broadcast joins OFF (the
    // tombstone anti-join must survive as a shuffled join — at a 100 TB
    // mass delete the key side leaves broadcast range)
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      require(AtomicPublish.readTable(spark, root, "docs").count() ==
        liveExpected, "post-delete count changed under shuffled join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    // --- matview: signed-merge delete interval ------------------------
    val (_, mvDeleteSec) = timed {
      require(MatView.refresh(spark, root, d).isDefined)
    }
    require(mvMatches(), "matview after delete interval != recompute")
    // --- SQL catalog DML at the FULL history ---------------------------
    // one INSERT INTO and one keyed DELETE FROM against the
    // `segments`-commit table: each must stay an O(batch)+O(manifest)
    // commit (the owner count grows by exactly one on insert; the
    // delete is one tombstone commit on the established key)
    val liveNow = liveExpected
    val newRid = 2L * n + 7
    val ownersBefore = AtomicPublish.currentManifestMeta(spark, root)
      .get._2("docs").owners.size
    val (_, sqlInsertSec) = timed {
      spark.sql(
        s"INSERT INTO $cat.docs VALUES ($newRid, 999999999, 'zz', 7)")
    }
    require(AtomicPublish.readTable(spark, root, "docs").count() ==
      liveNow + 1, "SQL INSERT lost or duplicated rows")
    require(AtomicPublish.currentManifestMeta(spark, root)
      .get._2("docs").owners.size == ownersBefore + 1,
      "SQL INSERT should append exactly one owner segment")
    val (_, sqlDeleteSec) = timed {
      spark.sql(s"DELETE FROM $cat.docs WHERE rid = $newRid")
    }
    require(AtomicPublish.readTable(spark, root, "docs").count() ==
      liveNow, "SQL DELETE did not remove exactly the inserted row")
    // --- streaming sink: `segments/2` microbatch commits + replays -----
    // (500 at the driver's 1000-segment scale) — per-batch commit cost
    // must stay flat-ish across the run (manifest growth is the only
    // superlinear risk), replayed batch ids must no-op, and one
    // auto-compaction bounds the accumulated owners without losing rows
    val sinkRoot = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_rehearsal_sink_${java.util.UUID.randomUUID().toString.take(10)}")
      .toString
    val sink = new graft.ops.GraftSink(spark, sinkRoot, "events",
      Nil, Seq("rid"), Nil, complete = false)
    val batches = math.max(segments / 2, 10)
    val perBatch = 5L
    def batchDf(i: Long) = spark.range(i * perBatch, (i + 1) * perBatch)
      .select(col("id").as("rid"), lit("x").as("tag"))
    val sinkTimes = new Array[Double](batches)
    val (_, sinkTotalSec) = timed {
      (0 until batches).foreach { i =>
        sinkTimes(i) = timed(sink.addBatch(i.toLong, batchDf(i)))._2
        if (i % 50 == 49) {
          // replay storm: a redelivered earlier batch must no-op
          val before = AtomicPublish.currentTxn(spark, sinkRoot)
          sink.addBatch(i.toLong - 1, batchDf(i - 1))
          require(AtomicPublish.currentTxn(spark, sinkRoot) == before,
            "replayed microbatch committed twice")
        }
      }
    }
    require(AtomicPublish.readTable(spark, sinkRoot, "events").count() ==
      batches * perBatch, "sink lost or duplicated microbatch rows")
    def p50(xs: Array[Double]): Double = xs.sorted.apply(xs.length / 2)
    val q = math.max(batches / 5, 1)
    val sinkFirstP50 = p50(sinkTimes.take(q))
    val sinkLastP50 = p50(sinkTimes.takeRight(q))
    require(sinkLastP50 <= sinkFirstP50 * 8 + 0.05,
      f"sink per-batch commit grew superlinearly: first-quintile p50 " +
        f"$sinkFirstP50%.3fs → last-quintile p50 $sinkLastP50%.3fs")
    // --- CDC continuity across auto-compaction (r10) -------------------
    // a change-feed consumer that drained the sink BEFORE maintenance
    // must ride through the auto-compaction (a reorganization commit,
    // dataChange=false) on the SAME checkpoint instead of resyncing —
    // the operational contract that lets a downstream stream survive
    // the engine's own upkeep, at the rehearsal's commit depth
    val sinkCk = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_rehearsal_sinkck_${java.util.UUID.randomUUID().toString.take(10)}")
      .toString
    var feedRows = 0L
    def drainFeed(): Unit = {
      val fq = spark.readStream.format("graft")
        .option("root", sinkRoot).option("table", "events").load()
        .writeStream.option("checkpointLocation", sinkCk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          feedRows += df.count(); ()
        }
        .start()
      fq.awaitTermination()
    }
    drainFeed() // consumes the pre-maintenance backlog
    require(feedRows == batches * perBatch,
      s"pre-maintenance change feed saw $feedRows rows")
    graft.ops.Compaction.autoCompact(spark, sinkRoot,
      AtomicPublish.currentTxn(spark, sinkRoot).get,
      maxOwners = 32, targetFileBytes = 128L << 20)
    val sinkMeta = AtomicPublish.currentManifestMeta(spark, sinkRoot)
      .get._2("events")
    require(sinkMeta.owners.size <= 32,
      s"auto-compaction left ${sinkMeta.owners.size} sink owners")
    require(AtomicPublish.readTable(spark, sinkRoot, "events").count() ==
      batches * perBatch, "auto-compaction changed the sink row count")
    // one more microbatch after the maintenance, then the SAME
    // checkpoint drains an interval spanning the compaction: exactly
    // the new rows arrive — no resync, nothing spurious, nothing lost
    sink.addBatch(batches.toLong, batchDf(batches.toLong))
    drainFeed()
    require(feedRows == (batches + 1) * perBatch,
      s"change feed across auto-compaction saw $feedRows rows, " +
        s"expected ${(batches + 1) * perBatch} (resync or loss)")
    require(AtomicPublish.readTable(spark, sinkRoot, "events").count() ==
      (batches + 1) * perBatch,
      "post-maintenance microbatch lost rows")
    // --- minor-compaction ingest: maintenance must stay O(tail) --------
    // a fresh root fed by `cycles` small appends with auto-compaction
    // after every commit (maxOwners = 8; the GRADUATION target scales
    // with the measured slice size — 8× one slice — so the leveled
    // dynamics play out at EVERY corpus scale: merged tails graduate
    // into heads that later cycles carry by reference; a fixed target
    // would silently degrade to full rewrites once a scale's slices
    // outgrow it, which is exactly the regression this phase once
    // caught). The claim under test is that per-cycle maintenance cost
    // does NOT grow with table size — the difference between O(tail)
    // and the full rewrite, and the reason a micro-batch ingester can
    // afford maintenance at all at a 100 TB table. Pinned exactly like
    // the sink: first-vs-last quintile p50.
    val tailRoot = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_rehearsal_tail_${java.util.UUID.randomUUID().toString.take(10)}")
      .toString
    val cycles = math.max(segments / 5, 20)
    def tailSlice(i: Int): DataFrame = {
      val lo = i.toLong * n / cycles; val hi = (i + 1).toLong * n / cycles
      docs.filter(col("rid") >= lo && col("rid") < hi)
        .select(col("rid"), col("doc_id"), col("lang"), col("nc"))
        .coalesce(1)
    }
    def dirBytes(d: java.io.File): Long =
      if (d.isDirectory) Option(d.listFiles).toSeq.flatten.map(dirBytes).sum
      else if (d.getName.startsWith("_") || d.getName.startsWith(".")) 0L
      else d.length
    val maintTimes = new Array[Double](cycles - 1)
    val (_, tailIngestSec) = timed {
      AtomicPublish.publish(spark, tailRoot, Map("docs" -> tailSlice(0)),
        statsBy = Map("docs" -> Seq("rid")))
      val firstOwner = AtomicPublish.currentTxn(spark, tailRoot).get
      val graduation = math.max(64L * 1024,
        8L * dirBytes(new java.io.File(s"$tailRoot/v_$firstOwner/docs")))
      (1 until cycles).foreach { i =>
        AtomicPublish.publishDelta(spark, tailRoot,
          append = Map("docs" -> tailSlice(i)),
          parent = AtomicPublish.currentTxn(spark, tailRoot))
        maintTimes(i - 1) = timed {
          graft.ops.Compaction.autoCompact(spark, tailRoot,
            AtomicPublish.currentTxn(spark, tailRoot).get,
            maxOwners = 8, targetFileBytes = graduation)
        }._2
      }
    }
    require(AtomicPublish.readTable(spark, tailRoot, "docs").count() == n,
      "minor-compaction ingest lost or duplicated rows")
    val tailOwners = AtomicPublish.currentManifestMeta(spark, tailRoot)
      .get._2("docs").owners.size
    require(tailOwners < cycles / 2 + 9,
      s"minor compaction left $tailOwners owners over $cycles commits " +
        "(maintenance is not consolidating)")
    // flatness is judged on the cycles that actually MERGED (most
    // cycles are sub-ms no-ops below the owner threshold — mixing them
    // in makes the median meaningless): the last merges must cost what
    // the first merges cost, however large the table has grown
    val merges = maintTimes.filter(_ > 0.005)
    if (merges.length >= 4) {
      val half = merges.length / 2
      val firstHalf = p50(merges.take(half))
      val lastHalf = p50(merges.takeRight(half))
      require(lastHalf <= firstHalf * 4 + 0.25,
        f"per-merge maintenance grew with table size: first-half p50 " +
          f"$firstHalf%.3fs → last-half p50 $lastHalf%.3fs " +
          "(minor compaction is not O(tail))")
    }
    // --- bucketed co-located join vs the same join shuffled ------------
    // two tables co-bucketed on the join key in ONE publish; the join
    // plans with no exchange (the BucketedStoreSpec pin) — here the
    // WALL-CLOCK of that plan is measured against the identical join
    // with the bucketed read disabled (same files, forced shuffle), so
    // the report quantifies the co-location win instead of asserting
    // it. Result parity IS asserted — both plans must agree exactly.
    val bRoot = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_rehearsal_bkt_${java.util.UUID.randomUUID().toString.take(10)}")
      .toString
    AtomicPublish.publish(spark, bRoot, Map(
      "bdocs" -> docs.select(col("rid"), col("lang"), col("nc")),
      "bscores" -> docs.select(col("rid"),
        (col("nc") % 97).cast("long").as("score"))),
      bucketBy = Map("bdocs" -> (Seq("rid"), 16),
        "bscores" -> (Seq("rid"), 16)))
    def joinAgg(): Seq[(String, Long, Long)] =
      AtomicPublish.readTable(spark, bRoot, "bdocs")
        .join(AtomicPublish.readTable(spark, bRoot, "bscores"), "rid")
        .groupBy("lang")
        .agg(org.apache.spark.sql.functions.sum("score").as("s"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("cnt"))
        .orderBy("lang")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
    val bcast0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (bucketRes, bucketJoinSec) =
      try { val w = (1 to reps).map(_ => timed(joinAgg()));
        (w.head._1, w.map(_._2).min) }
      finally ()
    spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
    val (shuffleRes, shuffleJoinSec) =
      try { val w = (1 to reps).map(_ => timed(joinAgg()))
        (w.head._1, w.map(_._2).min) }
      finally {
        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast0)
      }
    require(bucketRes == shuffleRes,
      "bucketed and shuffled join plans disagree on the answer")
    docs.unpersist()
    Map("store_stage" -> stageSec, "store_point_read" -> pointSec,
      "store_range_read" -> rangeSec,
      "store_catalog_point_read" -> catalogPointSec,
      "store_scoped_compact" -> scopedCompactSec,
      "store_full_compact" -> fullCompactSec,
      "store_replace_where" -> replaceWhereSec,
      "store_cdf_backfill" -> cdfBackfillSec,
      "store_composite_upsert" -> compositeUpsertSec,
      "store_composite_read" -> compositeReadSec,
      "store_analyze" -> analyzeSec,
      "store_transform_stage" -> tfStageSec,
      "store_transform_range_read" -> tfRangeSec,
      "store_metadata_agg" -> metaAggSec,
      "store_scan_agg" -> scanAggSec,
      "store_dpp_join_read" -> dppJoinSec,
      "store_dpp_unpruned_read" -> dppUnprunedSec,
      "store_dpp_fat_join_read" -> dppFatJoinSec,
      "store_dpp_fat_unpruned_read" -> dppFatUnprunedSec,
      "store_rjf_join_read" -> rjfJoinSec,
      "store_rjf_unfiltered_read" -> rjfUnfilteredSec,
      "store_rjf_envelope_read" -> envJoinSec,
      "store_rjf_envelope_unfiltered" -> envUnfilteredSec,
      "store_spec_evolve_commit" -> specEvolveSec,
      "store_evolved_range_read" -> evolvedRangeSec,
      "store_mass_delete_commit" -> deleteCommitSec,
      "store_delete_read" -> deleteReadSec,
      "store_mv_append_refresh" -> mvAppendSec,
      "store_mv_delete_refresh" -> mvDeleteSec,
      "store_sql_insert" -> sqlInsertSec,
      "store_sql_delete" -> sqlDeleteSec,
      "store_sink_batch_p50" -> p50(sinkTimes),
      "store_sink_total" -> sinkTotalSec,
      "store_tail_ingest" -> tailIngestSec,
      "store_tail_maint_p50" -> p50(maintTimes),
      "store_join_bucketed" -> bucketJoinSec,
      "store_join_shuffled" -> shuffleJoinSec)
  }

  /** VERDICT-r11 #7: the near-dup candidate generators against a
    * MEGA-duplicate corpus at rehearsal scale — the 10× corpus plus a
    * 100,000-copy boilerplate cluster (10× DedupCapSpec's staging),
    * through the REAL pipelines (`n2PairsOn` / `n2bMinhashLshOn`).
    *
    * What is asserted (and what deliberately is not): the cluster
    * pre-collapses to ONE representative before any pairwise stage, so
    * adding 100k copies must change the CROSS-class pair set not at
    * all, add <2× wall-clock, and keep per-task shuffle volume flat —
    * the r10 failure mode (100k doc_ids into one task's collect_list)
    * would blow all three. The intra-cluster EXPANSION (C(100k,2) ≈
    * 5·10⁹ pairs) is the answer's own size, not candidate work — it
    * streams through a spillable self-join whose exactness DedupCapSpec
    * pins at 10k copies; enumerating 5 billion result rows here would
    * rehearse row-generation throughput, not the bound under test. The
    * `jaccard < 1.0` consumer prunes that branch at plan time (the
    * union's intra side folds to FALSE), which is also the production
    * read shape for "show me near-but-not-exact duplicates". */
  private def megaDupRehearsal(spark: SparkSession, out: String,
      reps: Int): Unit = {
    val docs = graft.core.Tables.documents(spark, out)
      .select(col("doc_id"), col("text"))
    val Copies = 100000L
    val megaText = "boilerplate " + (1 to 29).map(i => s"xq$i").mkString(" ")
    val mega = spark.range(Copies)
      .select((col("id") + 500000000L).as("doc_id"),
        lit(megaText).as("text"))
    // the LINEAR control: the same number of extra docs, all DISTINCT
    // (unique id-derived words, no shared shingles) — every added doc
    // must be read and shingled once whatever its content, so the flat
    // claim is "100k COPIES cost no more than 100k distinct docs", not
    // "cost nothing" (that bound would fail on the linear map work and
    // prove the wrong thing)
    val filler = spark.range(Copies)
      .select((col("id") + 600000000L).as("doc_id"),
        concat_ws(" ", (0 until 30).map(k =>
          concat(lit("fz"), col("id") * 30 + lit(k))): _*).as("text"))
    val withMega = docs.unionByName(mega)
    val withFiller = docs.unionByName(filler)
    val pipelines: Seq[(String, DataFrame => DataFrame)] = Seq(
      "n2" -> (d => graft.analytics.DedupOps.n2PairsOn(d)
        .filter(col("jaccard") < 1.0)),
      "n2b" -> (d => graft.analytics.DedupOps.n2bMinhashLshOn(d)
        .filter(col("jaccard") < 1.0)))

    /** (rows, min seconds over reps, max task shuffle records). */
    def run(q: DataFrame): (Long, Double, Long) = {
      val maxRec = new java.util.concurrent.atomic.AtomicLong(0L)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            val r = m.shuffleWriteMetrics.recordsWritten
            maxRec.getAndUpdate(c => math.max(c, r)); ()
          }
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        var rows = 0L
        val secs = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          rows = q.count()
          (System.nanoTime() - t0) / 1e9
        }
        Thread.sleep(2000) // async listener bus drain
        (rows, secs.min, maxRec.get)
      } finally spark.sparkContext.removeSparkListener(l)
    }

    pipelines.foreach { case (name, pipe) =>
      val (plainRows, _, _) = run(pipe(docs))
      val (ctlRows, ctlSec, ctlMax) = run(pipe(withFiller))
      val (megaRows, megaSec, megaMax) = run(pipe(withMega))
      println(f"""{"query":"mega_$name","ctl_sec":$ctlSec%.3f,""" +
        f""""mega_sec":$megaSec%.3f,""" +
        f""""vs_distinct":${megaSec / ctlSec}%.2f,""" +
        f""""plain_pairs":$plainRows,"ctl_pairs":$ctlRows,""" +
        f""""mega_pairs":$megaRows,""" +
        f""""ctl_max_task_records":$ctlMax,""" +
        f""""mega_max_task_records":$megaMax}""")
      require(megaRows == plainRows && ctlRows == plainRows,
        s"mega_$name: extra docs perturbed the cross-class pair set " +
          s"(plain=$plainRows ctl=$ctlRows mega=$megaRows)")
      require(megaSec < 2.0 * ctlSec + 1.0,
        f"mega_$name: 100k COPIES cost ${megaSec / ctlSec}%.2f× what 100k " +
          "DISTINCT docs cost — the pre-collapse bound is not holding")
      // the one giant class legitimately shuffles `Copies` rows into
      // its (spillable) collapse window partition — the bound is that
      // nothing QUADRATIC in copies reaches any task
      require(megaMax <= 2 * math.max(ctlMax, Copies),
        s"mega_$name: per-task shuffle volume blew up " +
          s"($ctlMax -> $megaMax records) — a task is carrying " +
          "quadratic cluster work")
      System.err.println(f"[rehearsal] mega_$name: pairs equal " +
        f"($plainRows), copies cost ${megaSec / ctlSec}%.2f× distinct, " +
        f"max task records ctl=$ctlMax mega=$megaMax — 100k-copy " +
        "cluster is FLAT")
    }
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.headOption.getOrElse("target/scale/sf1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    buildCorpus(spark, src, out)

    // --- correctness at scale: exact pipelines must scale EXACTLY 10× ---
    def stageCounts(dir: String): Map[String, Long] =
      SparkEntry.queries("llm1_prep_counts")(spark, dir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = stageCounts(src)
    val scaled = stageCounts(out)
    val llmOk = base.forall { case (k, v) => scaled.get(k).contains(v * 10) }
    val n2Base = SparkEntry.queries("n2_ngram_jaccard")(spark, src).count()
    val n2Scaled = SparkEntry.queries("n2_ngram_jaccard")(spark, out).count()
    val annRows = Seq("n3_cosine_topk", "n3b_srp_ann", "n3c_ivf_ann",
      "n3d_ivf2_ann", "n3e_ann_incremental", "n3g_filtered_topk",
      "n3h_filtered_ivf").map { q =>
      q -> SparkEntry.queries(q)(spark, out).count()
    }
    val n5Base = SparkEntry.queries("n5_embed_neardup")(spark, src).count()
    val n5Scaled = SparkEntry.queries("n5_embed_neardup")(spark, out).count()
    System.err.println(s"[rehearsal] llm1 counts 10x exact: $llmOk " +
      s"(base=$base scaled=$scaled)")
    System.err.println(s"[rehearsal] n2 pairs: base=$n2Base scaled=$n2Scaled" +
      s" exact10x=${n2Scaled == 10 * n2Base}")
    System.err.println(s"[rehearsal] ann rows (expect 320 each): " +
      annRows.map { case (q, n) => s"$q=$n" }.mkString(" "))
    System.err.println(s"[rehearsal] n5 pairs: base=$n5Base scaled=$n5Scaled" +
      " (SRP recall at rescaled bits; report-only)")
    require(llmOk, "llm1 stage counts did not scale exactly 10x")
    require(n2Scaled == 10 * n2Base, "n2 pair count did not scale exactly 10x")
    require(annRows.forall(_._2 == 320L), "an ANN query lost top-k rows")
    // n7: pairs are within-replica only, so clusters (and their member
    // rows) replicate exactly 10×
    val n7Base = SparkEntry.queries("n7_dup_clusters")(spark, src).count()
    val n7Scaled = SparkEntry.queries("n7_dup_clusters")(spark, out).count()
    System.err.println(s"[rehearsal] n7 clustered docs: base=$n7Base " +
      s"scaled=$n7Scaled exact10x=${n7Scaled == 10 * n7Base}")
    require(n7Scaled == 10 * n7Base,
      "n7 clustered-doc count did not scale exactly 10x")
    // n8/t8 are timing-only (cross-replica pairs / shared short-word
    // bigrams shift their values off 10×) but must still join the
    // verification pass's WARM-UP role: without this, a REPS=1 run
    // would time their first-ever execution (plan compile + memo
    // bring-up) and skew vs_linear for exactly these two queries
    Seq("n8_semantic_clusters", "t8_bigram_lm").foreach { q =>
      val b = SparkEntry.queries(q)(spark, src).count()
      val s = SparkEntry.queries(q)(spark, out).count()
      System.err.println(s"[rehearsal] $q rows: base=$b scaled=$s " +
        "(timing-only, values legitimately off 10x)")
    }
    // sp9 scores every doc exactly once — rows MUST scale exactly 10×
    // (weights retrain on the scaled corpus, so values may not); n11
    // spans can only GROW at 10× (short ≤3-char words survive the
    // replica cipher, so a 3-gram of short words can anchor ACROSS
    // replicas — new anchors add spans, never remove them)
    val sp9Base = SparkEntry.queries("sp9_dsir_select")(spark, src).count()
    val sp9Scaled = SparkEntry.queries("sp9_dsir_select")(spark, out).count()
    System.err.println(s"[rehearsal] sp9 rows: base=$sp9Base " +
      s"scaled=$sp9Scaled exact10x=${sp9Scaled == 10 * sp9Base}")
    require(sp9Scaled == 10 * sp9Base,
      "sp9 scored-doc count did not scale exactly 10x")
    // Pin total COVERED WORDS (Σ span_words), not span COUNT: adding
    // anchors only ever grows coverage, but a cross-replica anchor
    // landing in a ≤3-word gap between two islands MERGES them — two
    // spans become one — so the count is not monotone in the anchor
    // set and a count pin can fail spuriously on a different corpus
    // (ADVICE r13 #1). Coverage is the genuinely monotone quantity.
    def n11Coverage(dir: String): (Long, Long) = {
      val df = SparkEntry.queries("n11_dup_spans")(spark, dir)
      val row = df.agg(count(lit(1)).as("spans"),
        coalesce(sum(col("span_words")), lit(0L)).as("covered")).head()
      (row.getLong(0), row.getLong(1))
    }
    val (n11Base, covBase) = n11Coverage(src)
    val (n11Scaled, covScaled) = n11Coverage(out)
    System.err.println(s"[rehearsal] n11 spans: base=$n11Base " +
      s"scaled=$n11Scaled covered_words base=$covBase scaled=$covScaled " +
      "(coverage >= 10x required; cross-replica short-word anchors may " +
      "add spans or MERGE adjacent islands)")
    require(covScaled >= 10 * covBase,
      "n11 covered-word total fell below 10x the base corpus")

    // --- timing: interleaved min-of-reps at both scales, same JVM -------
    // (the verification pass above doubles as warm-up: every model
    // memo — codebooks, split points, published index stores — is built
    // before the first timed rep at both scales)
    val samples = (1 to reps).flatMap { _ =>
      Heavyweights.flatMap { name =>
        Seq(src, out).map { dir =>
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dir).count()
          ((name, dir), (System.nanoTime() - t0) / 1e9)
        }
      }
    }
    val mins = samples.groupBy(_._1).map { case (k, s) =>
      k -> s.map(_._2).min }
    val lines = Heavyweights.map { name =>
      val b = mins((name, src)); val s = mins((name, out))
      val linear = s / (b * Replicas)
      f"""{"query":"$name","sf01_sec":$b%.3f,"sf1_sec":$s%.3f,""" +
        f""""ratio":${s / b}%.2f,"vs_linear":$linear%.2f}"""
    }
    lines.foreach(println)
    val verdictLine = Heavyweights.map { name =>
      val l = mins((name, out)) / (mins((name, src)) * Replicas)
      f"$name=${l}%.2f"
    }.mkString(" ")
    System.err.println(s"[rehearsal] vs-linear (<2.0 required): $verdictLine")

    // --- the dedup tier at a MEGA-duplicate corpus (VERDICT-r11 #7) ----
    megaDupRehearsal(spark, out, math.min(reps, 2))

    // --- the TABLE FORMAT at scale: 100→1000-segment ingest history ----
    // (segments scale with the data, so vs_linear compares a 10× corpus
    // in 10× as many commits — the un-compacted worst case a continuous
    // ingester presents between maintenance windows)
    val segs = sys.env.getOrElse("SPARK_GRAFT_STORE_SEGS", "1000").toInt
    val storeBase = storeRehearsal(spark, src, segs / Replicas, reps)
    val storeScaled = storeRehearsal(spark, out, segs, reps)
    val storeLines = storeBase.keys.toSeq.sorted.map { op =>
      val b = storeBase(op); val s = storeScaled(op)
      val linear = s / (b * Replicas)
      f"""{"query":"$op","sf01_sec":$b%.3f,"sf1_sec":$s%.3f,""" +
        f""""ratio":${s / b}%.2f,"vs_linear":$linear%.2f}"""
    }
    storeLines.foreach(println)
    val storeVerdict = storeBase.keys.toSeq.sorted.map { op =>
      f"$op=${storeScaled(op) / (storeBase(op) * Replicas)}%.2f"
    }.mkString(" ")
    System.err.println(
      s"[rehearsal] store vs-linear (<2.0 required): $storeVerdict")
    spark.stop()
  }
}
