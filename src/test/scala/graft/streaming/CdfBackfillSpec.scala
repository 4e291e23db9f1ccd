package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSuite
import graft.ops.{AtomicPublish, GraftCatalog}

/** COMMIT-TIME CHANGE-DATA CAPTURE for data-changing rewrites (r14,
  * VERDICT r13 #1): `overwriteWhere` and the SQL UPDATE/MERGE
  * copy-on-write routes stage their per-row change set beside the
  * rewritten segments in the same CAS commit
  * ([[AtomicPublish.cdfTableOf]]), and the change feeds — batch
  * ([[AtomicPublish.changesWithDeletes]]) and the streaming CDC source
  * — serve the staged rows ACROSS the rewrite instead of failing with
  * RESYNC_REQUIRED.
  * A raw `publishDelta(replace=…)` (and `stageCdf=false`) keeps the
  * old resync contract, pinned by the existing ChangeFeedStreamSpec
  * tests. */
class CdfBackfillSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("cdfbf").resolve("store").toString

  private def slice(ids: Range, day: Long, lang: String): DataFrame =
    ids.map(i => (i.toLong, day, lang, i * 10L))
      .toDF("doc_id", "day", "lang", "words")

  private def mirrorOf(root: String): Map[Long, (Long, String, Long)] =
    AtomicPublish.readTable(spark, root, "docs").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2),
        r.getLong(3)))).toMap

  private def applySigned(mirror: mutable.Map[Long, (Long, String, Long)],
      ins: DataFrame, del: DataFrame): Unit = {
    del.collect().foreach(r => mirror.remove(r.getLong(0)))
    ins.collect().foreach(r => mirror.put(r.getLong(0),
      (r.getLong(1), r.getString(2), r.getLong(3))))
  }

  test("batch CDC across overwriteWhere: the staged change set is " +
      "served, a signed mirror lands on the post-backfill table, and " +
      "stageCdf=false keeps the resync contract") {
    val root = freshRoot()
    // two day-segments with zone maps on day → the day=2 overwrite
    // takes the SUBSET (replaceOwners) path, day=1 carried by reference
    val v1 = AtomicPublish.publish(spark, root,
      Map("docs" -> slice(0 until 10, 1L, "en")),
      statsBy = Map("docs" -> Seq("day")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> slice(10 until 20, 2L, "en")),
      parent = Some(v1)).get
    val since = AtomicPublish.currentTxn(spark, root).get
    val mirror = mutable.Map.empty[Long, (Long, String, Long)]
    mirrorOf(root).foreach { case (k, v) => mirror.put(k, v) }
    // an append BEFORE the backfill, the backfill, an append AFTER —
    // one interval spanning all three
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> slice(20 until 25, 3L, "fr")),
      parent = AtomicPublish.currentTxn(spark, root)).get
    val corrected = slice(100 until 106, 2L, "de")
    AtomicPublish.overwriteWhere(spark, root, "docs", corrected,
      "day = 2")
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> slice(25 until 28, 4L, "pt")),
      parent = AtomicPublish.currentTxn(spark, root)).get
    val (ins, del) = AtomicPublish.changesWithDeletes(spark, root,
      "docs", since).getOrElse(fail("CDC did not ride the backfill"))
    // delete side = exactly the replaced day-2 rows; insert side =
    // the two appends plus the corrected rows
    assert(del.select("doc_id").collect().map(_.getLong(0)).toSet ==
      (10L until 20L).toSet)
    assert(ins.select("doc_id").collect().map(_.getLong(0)).toSet ==
      ((20L until 28L) ++ (100L until 106L)).toSet)
    applySigned(mirror, ins, del)
    assert(mirror.toMap == mirrorOf(root),
      "signed mirror diverged from the post-backfill table")
    // the post-backfill read is lossless: day=1 untouched, day=2 is
    // exactly the correction
    val byDay = AtomicPublish.readTable(spark, root, "docs")
      .groupBy("day").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDay == Map(1L -> 10L, 2L -> 6L, 3L -> 5L, 4L -> 3L))
    // stageCdf=false: the next backfill is an UNSTAGED rewrite — the
    // feed refuses (None) exactly as before r14
    val since2 = AtomicPublish.currentTxn(spark, root).get
    AtomicPublish.overwriteWhere(spark, root, "docs",
      slice(200 until 203, 3L, "fr"), "day = 3", stageCdf = false)
    assert(AtomicPublish.changesWithDeletes(spark, root, "docs", since2)
      .isEmpty, "an unstaged rewrite must still force a resync")
  }

  test("batch CDC across the COW route (tombstoned table): removed " +
      "live rows and staged inserts flow, an already-dead row does " +
      "not") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root,
      Map("docs" -> slice(0 until 12, 1L, "en")))
    // a live tombstone forces overwriteWhere onto the COW route
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(3L).toDF("doc_id")))
    val since = AtomicPublish.currentTxn(spark, root).get
    val mirror = mutable.Map.empty[Long, (Long, String, Long)]
    mirrorOf(root).foreach { case (k, v) => mirror.put(k, v) }
    AtomicPublish.overwriteWhere(spark, root, "docs",
      slice(50 until 53, 1L, "de"), "words >= 80")
    val (ins, del) = AtomicPublish.changesWithDeletes(spark, root,
      "docs", since).getOrElse(fail("CDC did not ride the COW backfill"))
    // removed = LIVE rows matching words>=80 (8,9,10,11 — id 3 was
    // already dead to every reader and must not reappear as a delete)
    assert(del.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(8L, 9L, 10L, 11L))
    assert(ins.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(50L, 51L, 52L))
    applySigned(mirror, ins, del)
    assert(mirror.toMap == mirrorOf(root))
  }

  /** Drain the CDC stream on `checkpoint` into a doc_id-keyed mirror
    * (each batch's deletes, then its inserts); returns the signed
    * (change type, doc_id) rows of every batch it ran. */
  private def drainCdc(root: String, checkpoint: String,
      mirror: mutable.Map[Long, (Long, String, Long)])
      : Seq[Set[(String, Long)]] = {
    val batches = mutable.ArrayBuffer.empty[Set[(String, Long)]]
    val q: StreamingQuery = spark.readStream.format("graft")
      .option("root", root).option("table", "docs").load()
      .writeStream.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.collect()
        batches += rows.map(r => r.getString(4) -> r.getLong(0)).toSet
        rows.filter(_.getString(4) == "delete")
          .foreach(r => mirror.remove(r.getLong(0)))
        rows.filter(_.getString(4) == "insert")
          .foreach(r => mirror.put(r.getLong(0),
            (r.getLong(1), r.getString(2), r.getLong(3))))
        ()
      }.start()
    q.awaitTermination()
    batches.toSeq
  }

  test("the CDC stream rides a mid-stream overwriteWhere on the SAME " +
      "checkpoint: exactly the changed rows arrive, the stream " +
      "continues, and the mirror equals the batch read") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root,
      Map("docs" -> slice(0 until 10, 1L, "en")),
      statsBy = Map("docs" -> Seq("day")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> slice(10 until 16, 2L, "en")),
      parent = AtomicPublish.currentTxn(spark, root)).get
    val cdcCk = Files.createTempDirectory("cdfbf-cdc-ck").toString
    val mirror = mutable.Map.empty[Long, (Long, String, Long)]
    assert(drainCdc(root, cdcCk, mirror) ==
      Seq((0L until 16L).map("insert" -> _).toSet))
    assert(mirror.toMap == mirrorOf(root))
    // the backfill lands while the stream is down (same checkpoint):
    // one batch of exactly the replaced day-2 rows and the correction
    AtomicPublish.overwriteWhere(spark, root, "docs",
      slice(300 until 304, 2L, "de"), "day = 2")
    val across = drainCdc(root, cdcCk, mirror)
    assert(across == Seq((10L until 16L).map("delete" -> _).toSet ++
      (300L until 304L).map("insert" -> _)),
      s"CDC feed across the backfill delivered $across")
    assert(mirror.toMap == mirrorOf(root),
      "CDC mirror diverged across the backfill")
    // and the stream CONTINUES: a later append still arrives exactly
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> slice(30 until 33, 5L, "fr")),
      parent = AtomicPublish.currentTxn(spark, root)).get
    assert(drainCdc(root, cdcCk, mirror) ==
      Seq((30L until 33L).map("insert" -> _).toSet))
    assert(mirror.toMap == mirrorOf(root))
  }

  test("spanning catch-up diffs are NETTED: rows appended and then " +
      "backfilled away inside ONE interval appear on neither side, so " +
      "the one-batch mirror recipe stays exact") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root,
      Map("docs" -> slice(0 until 6, 1L, "en")),
      statsBy = Map("docs" -> Seq("day")))
    val since = AtomicPublish.currentTxn(spark, root).get
    // day-2 rows arrive... and the same interval's backfill re-states
    // day 2 entirely — the appended rows die without the consumer
    // ever needing to see them
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> slice(10 until 16, 2L, "en")),
      parent = AtomicPublish.currentTxn(spark, root)).get
    AtomicPublish.overwriteWhere(spark, root, "docs",
      slice(100 until 103, 2L, "de"), "day = 2")
    val (ins, del) = AtomicPublish.changesWithDeletes(spark, root,
      "docs", since).getOrElse(fail("spanning diff refused"))
    assert(ins.select("doc_id").collect().map(_.getLong(0)).toSet ==
      (100L until 103L).toSet,
      "netted insert side must carry only the surviving backfill rows")
    assert(del.count() == 0,
      "rows born and killed inside the interval leaked to the delete side")
    // one-batch mirror apply (deletes, then inserts) lands on live
    val mirror = mutable.Map.empty[Long, (Long, String, Long)]
    AtomicPublish.readTableAt(spark, root, "docs", since).collect()
      .foreach(r => mirror.put(r.getLong(0),
        (r.getLong(1), r.getString(2), r.getLong(3))))
    applySigned(mirror, ins, del)
    assert(mirror.toMap == mirrorOf(root))
  }

  test("CDF retention: trim_cdf drops aged change sets metadata-only; " +
      "historical diffs still serve through the interval's own " +
      "manifests and the trim commit itself streams through") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root,
      Map("docs" -> slice(0 until 8, 1L, "en")),
      statsBy = Map("docs" -> Seq("day")))
    val since = AtomicPublish.currentTxn(spark, root).get
    // three backfills → three staged change sets on the companion
    (1 to 3).foreach { k =>
      AtomicPublish.overwriteWhere(spark, root, "docs",
        slice(100 * k until 100 * k + 4, 1L, s"g$k"), "day = 1")
    }
    val cdfT = AtomicPublish.cdfTableOf("docs")
    def cdfOwners(): Int = AtomicPublish.currentManifestMeta(spark, root)
      .get._2.get(cdfT).map(_.owners.size).getOrElse(0)
    assert(cdfOwners() == 3)
    val docOwners = AtomicPublish.currentManifestMeta(spark, root)
      .get._2("docs").owners
    val trimTxn = AtomicPublish.trimCdf(spark, root, "docs", 1)
      .getOrElse(fail("trim lost an uncontended CAS"))
    assert(cdfOwners() == 1)
    // metadata-only: the data table's owners are untouched
    assert(AtomicPublish.manifestMetaOf(spark, root, trimTxn)("docs")
      .owners == docOwners)
    // a lagging diff SPANNING the trimmed rewrites still serves: the
    // staged segments resolve through the interval's own manifests
    // (which vacuum keeps while versions are within retention). The
    // concatenated multi-rewrite diff is SIGNED-exact — a row staged
    // by backfill k and removed by backfill k+1 appears on both sides
    // — so the end-state identity is the multiset equation
    // snapshot(since) ⊎ ins ∖ del == live
    val (ins, del) = AtomicPublish.changesWithDeletes(spark, root,
      "docs", since).getOrElse(fail("diff across trimmed CDF refused"))
    val cols = Seq("doc_id", "day", "lang", "words")
      .map(org.apache.spark.sql.functions.col)
    val rebuilt = AtomicPublish.readTableAt(spark, root, "docs", since)
      .select(cols: _*)
      .unionAll(ins.select(cols: _*))
      .exceptAll(del.select(cols: _*))
      .collect().map(_.toString).sorted.toSeq
    val live = AtomicPublish.readTable(spark, root, "docs")
      .select(cols: _*).collect().map(_.toString).sorted.toSeq
    assert(rebuilt == live,
      "signed rebuild across the trimmed interval diverged from live")
    // idempotent / within budget → no-op, nothing committed
    assert(AtomicPublish.trimCdf(spark, root, "docs", 1).isEmpty)
    // the SQL face; and one more backfill appends to the trimmed chain
    val s2 = CdfBackfillSpec.extSession(spark)
    val cat = CdfBackfillSpec.mount(s2, root)
    AtomicPublish.overwriteWhere(spark, root, "docs",
      slice(400 until 404, 1L, "g4"), "day = 1")
    val r = s2.sql(
      s"CALL $cat.system.trim_cdf(table => 'docs', keep_last => 1)")
      .head()
    assert(r.getInt(1) == 2 && r.getInt(2) == 1,
      s"trim_cdf owners before/after: $r")
  }

  test("restore: stage_cdf => true streams the rollback's row diff; " +
      "the default O(1) metadata restore keeps the resync contract") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root,
      Map("docs" -> slice(0 until 10, 1L, "en")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> slice(10 until 16, 2L, "en")),
      parent = Some(v1)).get
    val since = AtomicPublish.currentTxn(spark, root).get
    // staged rollback to v1: the diff is "remove the day-2 rows"
    AtomicPublish.restoreTable(spark, root, "docs", v1,
      stageCdf = true).getOrElse(fail("restore lost an uncontended CAS"))
    val (ins, del) = AtomicPublish.changesWithDeletes(spark, root,
      "docs", since).getOrElse(fail("CDC did not ride the staged restore"))
    assert(ins.count() == 0,
      "a rollback to a subset version invented inserts")
    assert(del.select("doc_id").collect().map(_.getLong(0)).toSet ==
      (10L until 16L).toSet)
    val mirror = mutable.Map.empty[Long, (Long, String, Long)]
    AtomicPublish.readTableAt(spark, root, "docs", since).collect()
      .foreach(r => mirror.put(r.getLong(0),
        (r.getLong(1), r.getString(2), r.getLong(3))))
    applySigned(mirror, ins, del)
    assert(mirror.toMap == mirrorOf(root))
    // the DEFAULT restore stays O(1) metadata and therefore resyncs
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> slice(20 until 23, 3L, "fr")),
      parent = AtomicPublish.currentTxn(spark, root)).get
    val since2 = AtomicPublish.currentTxn(spark, root).get
    AtomicPublish.restoreTable(spark, root, "docs", v1)
      .getOrElse(fail("default restore lost an uncontended CAS"))
    assert(AtomicPublish.changesWithDeletes(spark, root, "docs", since2)
      .isEmpty, "an unstaged restore must keep the resync contract")
  }

  test("trim_cdf under a lagging CDC consumer: a staged change set " +
      "the live manifest no longer references still streams exactly " +
      "— it resolves through the rewrite's own version") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root,
      Map("docs" -> slice(0 until 8, 1L, "en")),
      statsBy = Map("docs" -> Seq("day")))
    val ck = Files.createTempDirectory("cdftrim-ck").toString
    val mirror = mutable.Map.empty[Long, (Long, String, Long)]
    drainCdc(root, ck, mirror) // snapshot
    assert(mirror.size == 8)
    // a multi-file staged backfill lands while the consumer lags...
    AtomicPublish.publishDelta(spark, root,
      append = Map.empty,
      replace = Map("docs" -> slice(100 until 106, 1L, "de")),
      parent = AtomicPublish.currentTxn(spark, root),
      cdf = Map("docs" -> (
        slice(100 until 106, 1L, "de").repartition(3),
        slice(0 until 8, 1L, "en").repartition(3)))).get
    // ...then the LIVE manifest trims the companion away
    AtomicPublish.trimCdf(spark, root, "docs", 0)
      .getOrElse(fail("trim lost an uncontended CAS"))
    assert(AtomicPublish.currentManifestMeta(spark, root).get._2
      .get(AtomicPublish.cdfTableOf("docs")).forall(_.owners.isEmpty))
    // the lagging consumer's next batch is still exact: the staged set
    // resolves through v_<rewriteTxn>'s own manifest, which trim does
    // not touch
    val batches = drainCdc(root, ck, mirror)
    assert(batches == Seq((0L until 8L).map("delete" -> _).toSet ++
      (100L until 106L).map("insert" -> _)), batches)
    assert(mirror.toMap == mirrorOf(root),
      "mirror diverged when trim_cdf ran under a lagging consumer")
  }

  test("'_change_type' is a RESERVED column for CDF staging: every " +
      "staging route refuses up front instead of silently overwriting " +
      "the user column (ADVICE r14 #3)") {
    val root = freshRoot()
    val withCol = (0 until 6).map(i => (i.toLong, 1L, s"u$i"))
      .toDF("doc_id", "day", "_change_type")
    // publishing/reading a table WITH the column is fine
    AtomicPublish.publish(spark, root, Map("docs" -> withCol),
      statsBy = Map("docs" -> Seq("day")))
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 6)
    // overwriteWhere's default CDF staging refuses by name
    val e = intercept[IllegalArgumentException] {
      AtomicPublish.overwriteWhere(spark, root, "docs",
        (10 until 12).map(i => (i.toLong, 1L, s"v$i"))
          .toDF("doc_id", "day", "_change_type"), "day = 1")
    }
    assert(e.getMessage.contains("_change_type") &&
      e.getMessage.contains("reserved"), e.getMessage)
    // ... and nothing was committed by the refused attempt
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 6)
    // the explicit publishDelta cdf route refuses identically
    val e2 = intercept[IllegalArgumentException] {
      AtomicPublish.publishDelta(spark, root,
        append = Map.empty,
        replace = Map("docs" -> withCol),
        parent = AtomicPublish.currentTxn(spark, root),
        cdf = Map("docs" -> (withCol, withCol.limit(0))))
    }
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
    // stageCdf = false still works (the documented escape hatch)
    AtomicPublish.overwriteWhere(spark, root, "docs",
      (10 until 12).map(i => (i.toLong, 1L, s"v$i"))
        .toDF("doc_id", "day", "_change_type"), "day = 1",
      stageCdf = false)
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 2)
  }

  test("map-typed tables: the spanning-interval diff falls back to " +
      "plain concatenation instead of throwing (exceptAll rejects " +
      "maps — ADVICE r14 #4); single-rewrite intervals stay exact") {
    val root = freshRoot()
    val base = (0 until 8).map(i =>
      (i.toLong, 1L + i % 2, Map("k" -> i.toLong)))
      .toDF("doc_id", "day", "attrs")
    AtomicPublish.publish(spark, root, Map("docs" -> base),
      statsBy = Map("docs" -> Seq("day")))
    val since = AtomicPublish.currentTxn(spark, root).get
    // an append AND a staged backfill in one interval → multi-part
    // diff → the netting branch (which would exceptAll and throw on
    // the map column before the fix)
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> (20 until 23).map(i =>
        (i.toLong, 2L, Map("k" -> i.toLong)))
        .toDF("doc_id", "day", "attrs")),
      parent = Some(since)).get
    AtomicPublish.overwriteWhere(spark, root, "docs",
      (50 until 52).map(i => (i.toLong, 2L, Map("k" -> i.toLong)))
        .toDF("doc_id", "day", "attrs"), "day = 2")
    val (ins, del) = AtomicPublish.changesWithDeletes(spark, root,
      "docs", since).getOrElse(fail("map-typed spanning diff refused"))
    // concatenation semantics: the day-2 rows appended then replaced
    // inside the interval appear on BOTH sides (un-netted), and the
    // signed multiset identity still rebuilds the live table
    val key = (df: DataFrame) => df.select("doc_id").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(key(ins) == ((20L to 22L) ++ (50L to 51L)).sorted,
      s"insert side: ${key(ins)}")
    assert(key(del) == Seq(1L, 3L, 5L, 7L, 20L, 21L, 22L),
      s"delete side: ${key(del)}")
    // the identity concatenation preserves is the SIGNED MULTISET
    // equation snapshot(since) ⊎ ins ∖ del == live (driver-side here:
    // exceptAll can't run over the map column in the test either)
    val bag = mutable.Map.empty[String, Int].withDefaultValue(0)
    AtomicPublish.readTableAt(spark, root, "docs", since).collect()
      .foreach(r => bag(r.toString) += 1)
    ins.collect().foreach(r => bag(r.toString) += 1)
    del.collect().foreach(r => bag(r.toString) -= 1)
    val live = mutable.Map.empty[String, Int].withDefaultValue(0)
    AtomicPublish.readTable(spark, root, "docs").collect()
      .foreach(r => live(r.toString) += 1)
    assert(bag.filter(_._2 != 0).toMap == live.toMap,
      "signed multiset rebuild diverged from the live table")
    // restore's staged diff is a set op too: refuse with the
    // alternative named instead of AnalysisException mid-diff
    val e = intercept[IllegalArgumentException] {
      AtomicPublish.restoreTable(spark, root, "docs", since,
        stageCdf = true)
    }
    assert(e.getMessage.contains("map-free"), e.getMessage)
    // the metadata-only default restore still works
    AtomicPublish.restoreTable(spark, root, "docs", since)
      .getOrElse(fail("default restore lost an uncontended CAS"))
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 8)
  }

  test("SQL UPDATE and MERGE copy-on-write commits stage their change " +
      "sets: the batch CDC feed rides both") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" ->
      (0 until 10).map(i => (i.toLong, s"g${i % 2}", i * 10L))
        .toDF("id", "grp", "v")))
    val s2 = CdfBackfillSpec.extSession(spark)
    val cat = CdfBackfillSpec.mount(s2, root)
    def mirrorNow(): Map[Long, (String, Long)] =
      AtomicPublish.readTable(spark, root, "docs").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // unconditional UPDATE = whole-table copy-on-write
    val since = AtomicPublish.currentTxn(spark, root).get
    val mirror = mutable.Map.empty[Long, (String, Long)]
    mirrorNow().foreach { case (k, m) => mirror.put(k, m) }
    s2.sql(s"UPDATE $cat.docs SET v = v + 1")
    val (ins, del) = AtomicPublish.changesWithDeletes(spark, root,
      "docs", since).getOrElse(fail("CDC did not ride the UPDATE COW"))
    assert(del.count() == 10 && ins.count() == 10)
    del.collect().foreach(r => mirror.remove(r.getLong(0)))
    ins.collect().foreach(r => mirror.put(r.getLong(0),
      (r.getString(1), r.getLong(2))))
    assert(mirror.toMap == mirrorNow())
    // MERGE with grp-keyed collateral → copy-on-write; fired UPDATEs
    // and DELETEs both land in the staged change set
    val since2 = AtomicPublish.currentTxn(spark, root).get
    s2.sql(
      s"""MERGE INTO $cat.docs AS t
         |USING (SELECT 'g0' AS sg) AS s
         |ON t.grp = s.sg
         |WHEN MATCHED AND t.id >= 6 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = t.v + 1000""".stripMargin)
    val (ins2, del2) = AtomicPublish.changesWithDeletes(spark, root,
      "docs", since2).getOrElse(fail("CDC did not ride the MERGE COW"))
    // g0 rows: ids 0,2,4,6,8 — 6,8 deleted; 0,2,4 updated
    assert(del2.select("id").collect().map(_.getLong(0)).toSet ==
      Set(0L, 2L, 4L, 6L, 8L))
    assert(ins2.select("id").collect().map(_.getLong(0)).toSet ==
      Set(0L, 2L, 4L))
    del2.collect().foreach(r => mirror.remove(r.getLong(0)))
    ins2.collect().foreach(r => mirror.put(r.getLong(0),
      (r.getString(1), r.getLong(2))))
    assert(mirror.toMap == mirrorNow())
  }
}

object CdfBackfillSpec {
  private var n = 0

  /** One extension session over the shared context (the StoreDmlSpec
    * pattern — DML rides the injected analyzer rules). */
  def extSession(prev: SparkSession): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(
        new org.apache.spark.sql.graftvec.GraftSqlExtensions()(_))
      .getOrCreate()
    finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  def mount(s2: SparkSession, root: String): String = synchronized {
    n += 1
    val name = s"graftcdf$n"
    s2.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    s2.conf.set(s"spark.sql.catalog.$name.root", root)
    name
  }
}
