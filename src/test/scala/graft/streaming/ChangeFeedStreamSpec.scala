package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

import graft.SparkSuite
import graft.ops.{AtomicPublish, Compaction}

/** The store's streaming change feed (`readStream.format("graft")`):
  * one signed microbatch per commit interval, checkpoint-exact
  * restarts, deletes advancing the stream, ride-through of
  * reorganizations and widening appends, consumer-lag retention, and
  * replace detection with the documented full-resync fallback. */
class ChangeFeedStreamSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("cfeed").resolve("store").toString

  private def slice(ids: Range, lang: String): DataFrame =
    ids.map(i => (i.toLong, lang, i * 10L)).toDF("doc_id", "lang", "words")

  private def startFeed(root: String, checkpoint: String)(
      onBatch: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream.format("graft")
      .option("root", root).option("table", "docs").load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(onBatch)
      .start()

  private def drain(q: StreamingQuery): Unit = {
    q.awaitTermination(); ()
  }

  private def hasResync(t: Throwable): Boolean = t != null &&
    (Option(t.getMessage).exists(
      _.contains(GraftCdcFeedSource.ResyncRequired)) ||
      hasResync(t.getCause))

  test("one microbatch per commit interval; restart resumes exactly") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("cfeed-ck").toString
    AtomicPublish.publish(spark, root, Map("docs" -> slice(0 until 10, "en")))
    val seen = mutable.ArrayBuffer.empty[Set[(String, Long)]]
    def run(): Unit = drain(startFeed(root, ckpt) { (df, _) =>
      seen += df.collect().map(r => r.getString(3) -> r.getLong(0)).toSet
      ()
    })
    // batch 0 of a fresh checkpoint: the full current snapshot
    run()
    assert(seen == Seq((0L until 10L).map("insert" -> _).toSet))
    // three commits while the stream is DOWN, then restart on the SAME
    // checkpoint: the missed segments arrive in one batch (no
    // re-delivery of batch 0)
    (1 to 3).foreach { k =>
      AtomicPublish.publishDelta(spark, root,
        append = Map("docs" -> slice(k * 10 until (k + 1) * 10, "en")),
        parent = AtomicPublish.currentTxn(spark, root))
    }
    seen.clear()
    run()
    assert(seen == Seq((10L until 40L).map("insert" -> _).toSet))
    // a DELETE commit adds tombstones, not owners: it still advances
    // the feed, as one signed delete row
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(5L).toDF("doc_id")))
    seen.clear()
    run()
    assert(seen == Seq(Set("delete" -> 5L)))
    // caught up: no batch at all
    seen.clear()
    run()
    assert(seen.isEmpty)
  }

  /** CDC feed plumbing: a doc_id-keyed mirror maintained purely from
    * the signed microbatches (deletes applied first, then inserts —
    * the interval semantics of [[AtomicPublish.changesWithDeletes]]). */
  private def startCdc(root: String, checkpoint: String,
      mirror: mutable.Map[Long, (String, Long)]): StreamingQuery =
    startFeed(root, checkpoint) { (df, _) =>
      val rows = df.collect()
      rows.filter(_.getString(3) == "delete")
        .foreach(r => mirror.remove(r.getLong(0)))
      rows.filter(_.getString(3) == "insert")
        .foreach(r => mirror.put(r.getLong(0),
          (r.getString(1), r.getLong(2))))
      ()
    }

  private def batchMirror(root: String): Map[Long, (String, Long)] =
    AtomicPublish.readTable(spark, root, "docs").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("CDC feed: deletes advance the stream and a stream-maintained " +
      "mirror equals the delete-aware batch read") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("cdc-ck").toString
    AtomicPublish.publish(spark, root, Map("docs" -> slice(0 until 20, "en")))
    val mirror = mutable.Map.empty[Long, (String, Long)]
    def run(): Unit = drain(startCdc(root, ckpt, mirror))
    // batch 0: full snapshot as inserts
    run()
    assert(mirror == batchMirror(root))
    assert(mirror.keySet == (0L until 20L).toSet)
    // an interval holding BOTH an append and deletes
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> slice(20 until 30, "de")),
      parent = AtomicPublish.currentTxn(spark, root))
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(3L, 7L).toDF("doc_id")))
    run()
    assert(mirror == batchMirror(root))
    assert(!mirror.contains(3L) && !mirror.contains(7L))
    // a DELETE-ONLY commit advances the feed
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(11L, 25L).toDF("doc_id")))
    run()
    assert(mirror == batchMirror(root))
    assert(!mirror.contains(25L))
    // quiet store → empty batch, mirror stable
    run()
    assert(mirror == batchMirror(root))
  }

  test("vacuum honors a lagging CDC consumer (registry); with the TTL " +
      "disabled the stream fails with the resync error, never a " +
      "partial batch") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("cdc-lag-ck").toString
    // v1 hosts docs' first segment (referenced forever by the
    // append-only chain); churn an UNRELATED table so intermediate
    // versions hold only replaced-away segments — the shape where a
    // lagging consumer's manifest is reclaimable
    AtomicPublish.publish(spark, root, Map(
      "docs" -> slice(0 until 10, "en"),
      "aux" -> Seq((1L, "a")).toDF("k", "v")))
    AtomicPublish.publishDelta(spark, root, append = Map.empty,
      replace = Map("aux" -> Seq((2L, "b")).toDF("k", "v")),
      parent = AtomicPublish.currentTxn(spark, root))
    val mirror = mutable.Map.empty[Long, (String, Long)]
    // consumer reads through the aux-replace version and registers it
    drain(startCdc(root, ckpt, mirror))
    val consumerTxn = AtomicPublish.currentTxn(spark, root).get
    assert(AtomicPublish.registeredConsumers(spark, root)
      .exists(_._2 == consumerTxn))
    // more churn while the stream lags: two aux replaces + a docs append
    (0 until 2).foreach { i =>
      AtomicPublish.publishDelta(spark, root, append = Map.empty,
        replace = Map("aux" -> Seq((10L + i, "x")).toDF("k", "v")),
        parent = AtomicPublish.currentTxn(spark, root))
    }
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> slice(10 until 15, "fr")),
      parent = AtomicPublish.currentTxn(spark, root))
    // aggressive vacuum WITH consumer protection: the consumer's
    // version survives although nothing in the live closure needs it
    AtomicPublish.vacuum(spark, root, keepLast = 1, graceMs = 0)
    val fs = new java.io.File(root, s"v_$consumerTxn")
    assert(fs.exists, "consumer-held version was reclaimed")
    // the lagging stream continues exactly (no resync, no loss)
    drain(startCdc(root, ckpt, mirror))
    assert(mirror == batchMirror(root))
    assert(mirror.keySet == (0L until 15L).toSet)
    // now disable the TTL: re-create the same lag shape — the consumer
    // reads through an aux-replace version (holding nothing the live
    // closure needs), then the store churns on
    AtomicPublish.publishDelta(spark, root, append = Map.empty,
      replace = Map("aux" -> Seq((19L, "w")).toDF("k", "v")),
      parent = AtomicPublish.currentTxn(spark, root))
    drain(startCdc(root, ckpt, mirror))
    val heldTxn = AtomicPublish.currentTxn(spark, root).get
    (0 until 2).foreach { i =>
      AtomicPublish.publishDelta(spark, root, append = Map.empty,
        replace = Map("aux" -> Seq((20L + i, "y")).toDF("k", "v")),
        parent = AtomicPublish.currentTxn(spark, root))
    }
    AtomicPublish.vacuum(spark, root, keepLast = 1, graceMs = 0,
      consumerTtlMs = 0)
    assert(!new java.io.File(root, s"v_$heldTxn").exists)
    // …and the restarted stream fails with the documented resync
    // error BEFORE applying anything — the mirror is untouched
    val before = mirror.toMap
    val e = intercept[StreamingQueryException] {
      drain(startCdc(root, ckpt, mirror))
    }
    assert(hasResync(e))
    assert(mirror.toMap == before)
  }

  test("CDC stream rides through a mid-stream WIDENING append: the " +
      "running consumer keeps its start-of-stream shape (new column " +
      "dropped); a fresh stream adopts it") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> slice(0 until 5, "en")))
    val ckpt = Files.createTempDirectory("cdc-widen-ck").toString
    val got = mutable.ArrayBuffer.empty[(String, Long, Int)]
    // a LIVE query (not AvailableNow re-runs — a restarted query's
    // fresh source legitimately re-resolves the widened schema): the
    // widen lands while this query holds its start-of-stream schema
    val q = spark.readStream.format("graft")
      .option("root", root).option("table", "docs").load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .foreachBatch { (df: DataFrame, _: Long) =>
        val width = df.schema.fields.length
        val rows = df.collect().map(r =>
          (r.getString(width - 1), r.getLong(0), width))
        got.synchronized { got ++= rows }
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(got.size == 5 && got.forall(x =>
        x._1 == "insert" && x._3 == 4), got)
      // LIVE widen (adds 'score') + an upsert of an old key in the
      // widened shape: the interval's insert side reads the widened
      // recorded schema, the killed rows come from pre-widen segments
      // — and the running stream must serve both under its
      // start-of-stream 4-column shape
      val wide = Seq((5L, "en", 50L, 0.5), (6L, "en", 60L, 0.6))
        .toDF("doc_id", "lang", "words", "score")
      AtomicPublish.publishDelta(spark, root,
        append = Map("docs" -> wide),
        parent = AtomicPublish.currentTxn(spark, root))
      val up = Seq((2L, "en", 2222L, 0.2))
        .toDF("doc_id", "lang", "words", "score")
      AtomicPublish.upsertMany(spark, root,
        Map("docs" -> AtomicPublish.Upsert(up, up.select("doc_id"))))
      q.processAllAvailable()
    } finally q.stop()
    val later = got.drop(5)
    assert(later.forall(_._3 == 4),
      s"running stream leaked the widened schema: $later")
    // the upserted key arrives as a delete of its old row plus an
    // insert of its new one
    val byType = later.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(byType == Map("insert" -> Set(2L, 5L, 6L),
      "delete" -> Set(2L)), byType)
    // a FRESH stream (new checkpoint) resolves the widened schema and
    // serves score — null for pre-widen rows, values for new ones
    val ckpt2 = Files.createTempDirectory("cdc-widen-ck2").toString
    val snap = mutable.ArrayBuffer.empty[(Long, Option[Double])]
    drain(startFeed(root, ckpt2) { (df, _) =>
      assert(df.columns.contains("score"), df.columns.mkString(","))
      snap ++= df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      ()
    })
    val byId = snap.toMap
    assert(byId(5L).contains(0.5) && byId(2L).contains(0.2), byId)
    assert(byId(0L).isEmpty && byId(4L).isEmpty, byId)
  }

  test("REORGANIZATION TRANSPARENCY (r10): the CDC stream rides " +
      "through tail and full compaction on the SAME checkpoint with " +
      "zero spurious rows; a data-changing replace still resyncs") {
    val root = freshRoot()
    val cdcCk = Files.createTempDirectory("cdc-reorg-ck").toString
    AtomicPublish.publish(spark, root, Map("docs" -> slice(0 until 10, "en")))
    val mirror = mutable.Map.empty[Long, (String, Long)]
    val seen = mutable.ArrayBuffer.empty[(String, Long)]
    def runCdc(): Unit = drain(startCdc(root, cdcCk, mirror))
    def runSeen(): Unit = drain(startFeed(root, cdcCk) { (df, _) =>
      seen ++= df.collect().map(r => r.getString(3) -> r.getLong(0)); ()
    })
    runCdc() // snapshot
    // two small appends, then a TAIL compaction (reorg commit)
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> slice(10 until 15, "de")),
      parent = AtomicPublish.currentTxn(spark, root))
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> slice(15 until 20, "de")),
      parent = AtomicPublish.currentTxn(spark, root))
    assert(Compaction.compactTail(spark, root, "docs",
      minSegs = 2).isDefined, "tail compaction did not trigger")
    runCdc()
    assert(mirror == batchMirror(root))
    assert(mirror.keySet == (0L until 20L).toSet)
    // deletes, then a FULL compaction (applies the tombstone debt —
    // still a reorg: live rows unchanged)
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(2L, 12L).toDF("doc_id")))
    Compaction.compactStore(spark, root, "docs")
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> slice(20 until 23, "fr")),
      parent = AtomicPublish.currentTxn(spark, root))
    runCdc()
    assert(mirror == batchMirror(root))
    assert(!mirror.contains(2L) && !mirror.contains(12L))
    // an interval that is ONLY a compaction: the feed stays quiet
    Compaction.compactStore(spark, root, "docs")
    runSeen()
    assert(seen.isEmpty,
      s"a pure reorganization emitted rows: ${seen.sorted}")
    // a DATA-CHANGING replace fails the stream by name, before any
    // partial batch reaches the mirror
    AtomicPublish.publishDelta(spark, root, append = Map.empty,
      replace = Map("docs" -> slice(500 until 505, "pt")),
      parent = AtomicPublish.currentTxn(spark, root))
    val mirrorBefore = mirror.toMap
    assert(hasResync(intercept[StreamingQueryException] { runCdc() }))
    assert(mirror.toMap == mirrorBefore,
      "resync path applied a partial CDC batch")
  }
}
