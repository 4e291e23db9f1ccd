package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.analytics.SimilarityOps
import graft.functions.VectorFunctions
import graft.ops.AtomicPublish

/** Continuous ANN-index ingest — [[LlmIngest]]'s shape applied to
  * VECTORS: a stream of (vec_id, embedding) rows feeds the published
  * incremental IVF index one atomic delta per micro-batch.
  *
  * The hot path per trigger:
  *  1. batch-local dedup on vec_id,
  *  2. anti-join the PUBLISHED index's vec_ids (an 8-byte-per-vector
  *     column-pruned scan — the n1b fingerprint barrier, so replayed
  *     deliveries admit zero; at-least-once upstream still yields
  *     exactly-once index content),
  *  3. assign ONLY the novel vectors against the FROZEN published
  *     codebook (train-once/append-forever — the one cost an append
  *     must not pay is re-clustering published cells),
  *  4. ONE `publishDelta` append of the assigned slice,
  *     cell-partitioned (first append decides the layout; n3e's probes
  *     prune the store read by those partitions), CAS-retried against
  *     concurrent committers with the parent PINNED across the
  *     read-ids → commit window (the straddled-read duplicate-admission
  *     hole LlmIngest closes the same way).
  *
  * A fully-replayed batch publishes nothing at all — owner lists and
  * manifests stay bounded under replay storms.
  */
object VecIngest {

  private val IndexTable = "ivf_index"
  /** Owner-segment count that triggers index consolidation (the
    * LlmIngest policy applied to the vector store — without it a
    * long-running stream grows one partitioned segment per trigger
    * and the union read's plan a relation per segment). */
  val AutoCompactOwners = 16
  val TargetFileBytes: Long = 128L * 1024 * 1024

  /** One micro-batch (or batch-backfill) append into the index store.
    * `batch` carries (vec_id LONG, v ARRAY<DOUBLE>); norms are computed
    * here. Returns the committed txn, or None when every vector was
    * already published (replay). */
  def indexBatch(spark: SparkSession, indexRoot: String, batch: DataFrame,
      centroids: DataFrame): Option[String] = {
    val withNorm = batch
      .select(col("vec_id"), col("v"))
      .dropDuplicates("vec_id")
      .withColumn("nrm", sqrt(VectorFunctions.dot(col("v"), col("v"))))
    AtomicPublish.retryLostRace(s"indexBatch under $indexRoot") {
      val parent = AtomicPublish.currentTxn(spark, indexRoot)
      val hasTable = parent.exists(p =>
        AtomicPublish.manifestMetaOf(spark, indexRoot, p).contains(IndexTable))
      val published =
        if (hasTable)
          AtomicPublish.readTableAt(spark, indexRoot, IndexTable, parent.get)
            .select("vec_id")
        else spark.range(0).select(col("id").as("vec_id"))
      // cached: the emptiness probe and the publish write share ONE
      // materialization — without it the published-ids anti-join scan
      // (8 B/vec, but the whole index) would run twice per trigger
      val assigned = SimilarityOps
        .assignCells(withNorm.join(published, Seq("vec_id"), "left_anti"),
          centroids)
        .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
        .cache()
      try {
        if (assigned.isEmpty) Some(None) // replay: no empty segment
        else {
          val layout: Map[String, Seq[String]] =
            if (hasTable) Map.empty else Map(IndexTable -> Seq("cell"))
          AtomicPublish.publishDelta(spark, indexRoot,
            append = Map(IndexTable -> assigned), parent = parent,
            partitionBy = layout).map { txn =>
            // cell-partitioned layout survives consolidation
            // (compaction inherits and repartitions by the recorded
            // spec — StoreLayoutSpec), so pruning is unaffected
            graft.ops.Compaction.autoCompact(spark, indexRoot, txn,
              AutoCompactOwners, TargetFileBytes)
            Some(txn)
          }
        }
      } finally {
        assigned.unpersist()
        ()
      }
    }
  }

  /** RE-EMBED upsert: vectors arriving for EXISTING vec_ids — the
    * index-freshness shape when an embedding model is upgraded or a
    * document's content (and thus its embedding) changed. A row whose
    * (vec_id, vector) pair is already published is skipped — replayed
    * re-embed deliveries publish NOTHING (owner lists stay bounded);
    * genuinely new versions are assigned against the frozen codebook
    * and committed as ONE `upsertMany` delta: the new rows land in
    * their (possibly different) cells and `_asof`-scoped tombstones
    * retire every older version of those ids wherever it sits. Cost:
    * O(batch) writes; the next compaction applies retirement
    * physically. Returns the commit txn, or None when nothing changed.
    *
    * DELIVERY-ORDER CONTRACT: the replay barrier is a CONTENT-identity
    * check ("is this exact (vec_id, vector) already published?"), not a
    * version-order check — it absorbs at-least-once REdelivery of the
    * version already applied, but it cannot tell a stale redelivery
    * from a fresh update: an OLDER embedding redelivered AFTER a newer
    * one was applied differs from the published vector, so it would
    * upsert the stale vector back. Callers must therefore feed this
    * from a per-key-ordered transport (a log partitioned by vec_id, a
    * Structured Streaming `foreachBatch` checkpoint — both give
    * per-key order; [[indexStream]]'s binding does). The same contract
    * applies to [[graft.streaming.LlmIngest.recrawlBatch]]'s
    * fingerprint barrier. On a transport that cannot promise per-key
    * order, carry an explicit version in the payload and drop
    * non-monotone updates UPSTREAM of this call. */
  def reembedBatch(spark: SparkSession, indexRoot: String, batch: DataFrame,
      centroids: DataFrame): Option[String] = {
    val withNorm = batch
      .select(col("vec_id"), col("v"))
      .dropDuplicates("vec_id")
      .withColumn("nrm", sqrt(VectorFunctions.dot(col("v"), col("v"))))
    AtomicPublish.retryLostRace(s"reembedBatch under $indexRoot") {
      val parent = AtomicPublish.currentTxn(spark, indexRoot)
      val hasTable = parent.exists(p =>
        AtomicPublish.manifestMetaOf(spark, indexRoot, p).contains(IndexTable))
      if (!hasTable) Some(indexBatch(spark, indexRoot, batch, centroids))
      else {
        val published = AtomicPublish
          .readTableAt(spark, indexRoot, IndexTable, parent.get)
          .select(col("vec_id"), col("v"))
        // unchanged (vec_id, vector) pairs drop out — the replay barrier;
        // vector equality joins exactly (arrays compare element-wise)
        val changed = SimilarityOps
          .assignCells(withNorm.join(published, Seq("vec_id", "v"),
            "left_anti"), centroids)
          .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
          .cache()
        try {
          if (changed.isEmpty) Some(None)
          else
            AtomicPublish.upsertManyAt(spark, indexRoot, parent.get,
              Map(IndexTable -> AtomicPublish.Upsert(changed,
                changed.select(col("vec_id")).distinct()))).map { txn =>
              graft.ops.Compaction.autoCompact(spark, indexRoot, txn,
                AutoCompactOwners, TargetFileBytes)
              Some(txn)
            }
        } finally {
          changed.unpersist()
          ()
        }
      }
    }
  }

  /** Bind a vector stream to the index store: one atomic delta per
    * trigger via foreachBatch. Pass a `checkpoint` for restartable
    * deployments — processed source files are never re-read across
    * restarts, and anything redelivered anyway is absorbed by the
    * anti-join barrier. */
  def indexStream(vectors: DataFrame, indexRoot: String,
      centroids: DataFrame, checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val writer = vectors.writeStream
      .outputMode("append")
      .trigger(trigger)
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (batch: DataFrame, _: Long) =>
        indexBatch(batch.sparkSession, indexRoot, batch, centroids)
        ()
      }
      .start()
  }
}
