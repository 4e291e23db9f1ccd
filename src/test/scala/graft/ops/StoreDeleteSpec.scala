package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Row-level deletes (merge-on-read tombstones): `deleteRows` appends
  * keys to `<table>__del` in one CAS commit — O(ids), no data rewrite —
  * every public read anti-joins the tombstones, time travel before the
  * delete still serves the rows, and `compactStore` applies the delete
  * physically while emptying the tombstone table in the SAME commit.
  * The takedown path of a 100 TB training corpus. */
class StoreDeleteSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("store-del").resolve("tables").toString

  private def docs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"text-$i")).toDF("doc_id", "text")

  /** Upsert `rows` into `table`, keyed by the slice's own `doc_id`s. */
  private def upsert(root: String, table: String, rows: DataFrame): String =
    AtomicPublish.upsertMany(spark, root, Map(table ->
      AtomicPublish.Upsert(rows, rows.select("doc_id").distinct())))

  test("delete excludes rows from every read path; history untouched") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root,
      Map("docs" -> docs(0 until 100)),
      statsBy = Map("docs" -> Seq("doc_id")))
    val before = AtomicPublish.manifestOf(spark, root, v1)("docs")
    val dtxn = AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(3L, 7L, 50L).toDF("doc_id")))
    // O(ids): the data table's owner list did not change
    assert(AtomicPublish.manifestOf(spark, root, dtxn)("docs") == before)
    // plain read excludes the keys
    val live = AtomicPublish.readTable(spark, root, "docs")
    assert(live.count() == 97)
    assert(live.filter(col("doc_id").isin(3L, 7L, 50L)).count() == 0)
    // pruned read excludes them too (tombstones after skipping)
    val zoned = AtomicPublish.readTable(spark, root, "docs")
      .where("doc_id < 10")
    assert(ScanFiles(zoned, Some("docs")) == 1)
    assert(zoned.select("doc_id").as[Long].collect().toSet ==
      (0L until 10L).toSet -- Set(3L, 7L))
    // time travel BEFORE the delete still serves the rows
    assert(AtomicPublish.readTableAt(spark, root, "docs", v1)
      .count() == 100)
    // deleting again (incl. unknown keys) stacks tombstones harmlessly
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(7L, 999L).toDF("doc_id")))
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 97)
  }

  test("compaction applies deletes physically and clears the tombstones") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 80)))
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> (0L until 40L by 2).toDF("doc_id")))
    val (ctxn, _) = Compaction.compactStore(spark, root, "docs")
    // the RAW segments of the compacted version no longer hold the rows
    val meta = AtomicPublish.manifestMetaOf(spark, root, ctxn)("docs")
    assert(meta.owners == Seq(ctxn))
    val raw = spark.read.parquet(s"$root/v_$ctxn/docs")
    assert(raw.count() == 60)
    assert(raw.filter(col("doc_id") === 2L).count() == 0)
    // the tombstone table emptied in the same commit
    assert(AtomicPublish.readTableAt(spark, root,
      AtomicPublish.deleteTableOf("docs"), ctxn).count() == 0)
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 60)
  }

  test("key validation: wrong column, wrong type, unknown table fail fast") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 10)))
    val badCol = intercept[IllegalArgumentException] {
      AtomicPublish.deleteRows(spark, root,
        Map("docs" -> Seq(1L).toDF("nope")))
    }
    assert(badCol.getMessage.contains("not a column"))
    val badType = intercept[IllegalArgumentException] {
      AtomicPublish.deleteRows(spark, root,
        Map("docs" -> Seq("x").toDF("doc_id")))
    }
    assert(badType.getMessage.contains("type"))
    intercept[IllegalArgumentException] {
      AtomicPublish.deleteRows(spark, root,
        Map("ghost" -> Seq(1L).toDF("doc_id")))
    }
  }

  test("matview: a delete in the interval forces the recompute path") {
    val root = freshRoot()
    val d = MatView.Def("docs", "stats", Seq("text"),
      Seq(MatView.Agg("count", "doc_id", "n"),
        MatView.Agg("max", "doc_id", "hi")))
    AtomicPublish.publish(spark, root,
      Map("docs" -> Seq((1L, "a"), (2L, "a"), (3L, "b"))
        .toDF("doc_id", "text")))
    assert(MatView.refresh(spark, root, d).isDefined)
    // max(doc_id) of group 'a' is 2 — deleting id 2 must LOWER it,
    // which no incremental merge can do
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(2L).toDF("doc_id")))
    assert(MatView.refresh(spark, root, d).isDefined)
    val rows = AtomicPublish.readTable(spark, root, "stats")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(rows("a") == ((1L, 1L)))
    assert(rows("b") == ((1L, 3L)))
    // quiet store: refresh converges to a no-op
    assert(MatView.refresh(spark, root, d).isEmpty)
  }

  test("changesWithDeletes: exact inserted/deleted halves (CDC feed)") {
    val root = freshRoot()
    val cov = AtomicPublish.publish(spark, root, Map("docs" ->
      (0L until 10L).map(i => i -> s"old$i").toDF("doc_id", "text")))
    // interval: append 10-14, delete {3, 12}, re-append 3
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" ->
        (10L until 15L).map(i => i -> s"new$i").toDF("doc_id", "text")),
      parent = Some(cov)).get
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(3L, 12L).toDF("doc_id")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> Seq(3L -> "re3").toDF("doc_id", "text")),
      parent = AtomicPublish.currentTxn(spark, root)).get
    val (ins, del) = AtomicPublish.changesWithDeletes(spark, root,
      "docs", cov).get
    // inserted: the interval's appends still live at the end — 12 died
    // inside the interval (appears on NEITHER side), re-appended 3 is a
    // genuine new live row
    assert(ins.collect().map(r => r.getLong(0) -> r.getString(1)).toSet ==
      Set(10L -> "new10", 11L -> "new11", 13L -> "new13",
        14L -> "new14", 3L -> "re3"))
    // deleted: only the OLD copy of 3 was live at `cov` and killed
    assert(del.collect().map(r => r.getLong(0) -> r.getString(1)).toSet ==
      Set(3L -> "old3"))
    // a replayed (duplicate) delete reports nothing new
    val cov2 = AtomicPublish.currentTxn(spark, root).get
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(12L).toDF("doc_id")))
    val (ins2, del2) = AtomicPublish.changesWithDeletes(spark, root,
      "docs", cov2).get
    assert(ins2.count() == 0 && del2.count() == 0)
    // a COMPACTION in the interval is a reorganization commit (r10,
    // dataChange=false): the diff rides through it — the replayed
    // delete still reports nothing, no resync
    Compaction.compactStore(spark, root, "docs")
    val (ins3, del3) = AtomicPublish.changesWithDeletes(spark, root,
      "docs", cov2).get
    assert(ins3.count() == 0 && del3.count() == 0)
    // a DATA-CHANGING replace in the interval stays non-diffable: None
    val cov3 = AtomicPublish.currentTxn(spark, root).get
    AtomicPublish.publishDelta(spark, root, append = Map.empty,
      replace = Map("docs" ->
        Seq(900L -> "rw").toDF("doc_id", "text")),
      parent = Some(cov3)).get
    assert(AtomicPublish.changesWithDeletes(spark, root, "docs", cov3)
      .isEmpty)
  }

  test("composite-key deletes: tuple-exact reads, CDC halves, and the " +
      "per-column prune never loses a cartesian sibling") {
    val root = freshRoot()
    // (a, b) unique; a alone is not — the cartesian-superset hazard:
    // the CDC delete-side prune admits (1,x),(1,y),(2,x),(2,y) for
    // tombstones {(1,y),(2,x)}, and the exact tuple join must keep
    // the two siblings alive
    def rows(r: Range) = r.flatMap(a => Seq("x", "y").map(b =>
      (a.toLong, b, s"v$a$b"))).toDF("a", "b", "text")
    val cov = AtomicPublish.publish(spark, root,
      Map("docs" -> rows(0 until 6)))
    AtomicPublish.deleteRows(spark, root, Map("docs" ->
      Seq((1L, "y"), (2L, "x")).toDF("a", "b")))
    val live = AtomicPublish.readTable(spark, root, "docs")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(!live.contains((1L, "y")) && !live.contains((2L, "x")))
    assert(live.contains((1L, "x")) && live.contains((2L, "y")),
      "tuple delete must never kill a sibling sharing one key column")
    assert(live.size == 10)
    val (ins, del) = AtomicPublish.changesWithDeletes(spark, root,
      "docs", cov).get
    assert(ins.count() == 0)
    assert(del.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "y"), (2L, "x")))
    // a later delete keyed by a DIFFERENT column set is refused
    val e = intercept[Exception] {
      AtomicPublish.deleteRows(spark, root,
        Map("docs" -> Seq(3L).toDF("a")))
    }
    assert(e.getMessage.contains("keyed by"), e.getMessage)
    // upsert by the composite key replaces exactly the tuple
    AtomicPublish.upsertMany(spark, root, Map("docs" ->
      AtomicPublish.Upsert(Seq((0L, "x", "NEW")).toDF("a", "b", "text"),
        Seq((0L, "x")).toDF("a", "b"))))
    val after = AtomicPublish.readTable(spark, root, "docs").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getString(2)).toMap
    assert(after((0L, "x")) == "NEW" && after((0L, "y")) == "v0y")
  }

  test("null-keyed rows are deletable (null-safe tombstone join)") {
    val root = freshRoot()
    val rows = Seq(Option(1L) -> "a", Option.empty[Long] -> "b",
      Option(2L) -> "c").toDF("doc_id", "text")
    val v1 = AtomicPublish.publish(spark, root, Map("docs" -> rows))
    // a compliance delete of the null-keyed row must actually delete it
    // (under plain equality the join condition is null → silent no-op)
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(Option.empty[Long]).toDF("doc_id")))
    val live = AtomicPublish.readTable(spark, root, "docs")
    assert(live.count() == 2)
    assert(live.filter(col("doc_id").isNull).count() == 0)
    assert(AtomicPublish.readTableAt(spark, root, "docs", v1).count() == 3)
    // asof scoping covers null keys too: a LATER null-keyed append is a
    // new live row, not suppressed by the old tombstone
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" ->
        Seq(Option.empty[Long] -> "d").toDF("doc_id", "text")),
      parent = AtomicPublish.currentTxn(spark, root))
    val after = AtomicPublish.readTable(spark, root, "docs")
    assert(after.count() == 3)
    assert(after.filter(col("doc_id").isNull).select("text")
      .as[String].collect().toSeq == Seq("d"))
  }

  test("a deleted key re-appended later is live again (asof scoping)") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root,
      Map("docs" -> Seq((5L, "old")).toDF("doc_id", "text")))
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(5L).toDF("doc_id")))
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 0)
    // the re-crawl: the same key arrives again with new content — the
    // old tombstone is scoped to the pre-delete segments and must NOT
    // suppress it
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> Seq((5L, "new")).toDF("doc_id", "text")),
      parent = AtomicPublish.currentTxn(spark, root)).get
    val rows = AtomicPublish.readTable(spark, root, "docs").collect()
    assert(rows.toSeq == Seq(org.apache.spark.sql.Row(5L, "new")))
    // time travel: v1 serves the original, pre-delete
    assert(AtomicPublish.readTableAt(spark, root, "docs", v1)
      .head().getString(1) == "old")
  }

  test("upsert replaces rows by key in one atomic commit") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root,
      Map("docs" -> Seq((1L, "a"), (2L, "b"), (3L, "c"))
        .toDF("doc_id", "text")))
    val utxn = upsert(root, "docs",
      Seq((2L, "B"), (4L, "D")).toDF("doc_id", "text"))
    // data slice and tombstones landed in the SAME txn
    val m = AtomicPublish.manifestOf(spark, root, utxn)
    assert(m("docs").last == utxn)
    assert(m(AtomicPublish.deleteTableOf("docs")).last == utxn)
    val now = AtomicPublish.readTable(spark, root, "docs")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))
    // chained upsert: latest wins again
    upsert(root, "docs", Seq((2L, "BB")).toDF("doc_id", "text"))
    assert(AtomicPublish.readTable(spark, root, "docs")
      .where("doc_id = 2").head().getString(1) == "BB")
    // time travel is unscathed
    assert(AtomicPublish.readTableAt(spark, root, "docs", v1)
      .where("doc_id = 2").head().getString(1) == "b")
    // physical apply keeps the merged state
    Compaction.compactStore(spark, root, "docs")
    assert(AtomicPublish.readTable(spark, root, "docs")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "BB", 3L -> "c", 4L -> "D"))
  }

  test("replace auto-clears tombstones: stale scopes never kill new rows") {
    val root = freshRoot()
    // three segments so the tombstone's asof scope is 3
    val v1 = AtomicPublish.publish(spark, root,
      Map("docs" -> docs(0 until 10)))
    val v2 = AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> docs(10 until 20)), parent = Some(v1)).get
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> docs(20 until 30)), parent = Some(v2)).get
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(7L).toDF("doc_id")))
    // a REPLACE (maintenance-style, not compactStore) resets owner
    // positions — publishDelta must consume the tombstones with it
    val rtxn = AtomicPublish.publishDelta(spark, root,
      replace = Map("docs" ->
        AtomicPublish.readTable(spark, root, "docs")),
      append = Map.empty,
      parent = AtomicPublish.currentTxn(spark, root)).get
    assert(AtomicPublish.readTableAt(spark, root,
      AtomicPublish.deleteTableOf("docs"), rtxn).count() == 0)
    // appends after the replace land at positions the stale tombstone
    // (asof = 3) would have covered — key 7 must be LIVE
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> docs(7 until 8)), parent = Some(rtxn)).get
    assert(AtomicPublish.readTable(spark, root, "docs")
      .where("doc_id = 7").count() == 1)
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 30)
  }

  test("a table's delete key is pinned for life (no silent no-op deletes)") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 10)))
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(1L).toDF("doc_id")))
    // a second delete under a DIFFERENT column would schema-merge into
    // tombstone rows the reader can never match — rejected up front
    val e = intercept[IllegalArgumentException] {
      AtomicPublish.deleteRows(spark, root,
        Map("docs" -> Seq("text-5").toDF("text")))
    }
    assert(e.getMessage.contains("keyed by"))
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 9)
  }

  test("tombstones survive a store root whose own path contains v_") {
    // the owner-position regex must bind the LAST v_<owner>/<table>
    // component, not a v_ directory in the root path
    val base = java.nio.file.Files.createTempDirectory("store-vroot")
    val root = base.resolve("v_prod").resolve("docs").resolve("t").toString
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 20)))
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(3L).toDF("doc_id")))
    val live = AtomicPublish.readTable(spark, root, "docs")
    assert(live.count() == 19)
    assert(live.where("doc_id = 3").count() == 0)
    // and the asof scoping still works under that root
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> docs(3 until 4)),
      parent = AtomicPublish.currentTxn(spark, root)).get
    assert(AtomicPublish.readTable(spark, root, "docs")
      .where("doc_id = 3").count() == 1)
  }

  test("matview: null group keys merge into one row incrementally") {
    val root = freshRoot()
    val d = MatView.Def("docs", "by_text", Seq("text"),
      Seq(MatView.Agg("count", "doc_id", "n")))
    def withNulls(ids: Range) = ids.map(i =>
      (i.toLong, if (i % 2 == 0) null else "w")).toDF("doc_id", "text")
    AtomicPublish.publish(spark, root, Map("docs" -> withNulls(0 until 10)))
    assert(MatView.refresh(spark, root, d).isDefined)
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> withNulls(10 until 20)),
      parent = AtomicPublish.currentTxn(spark, root)).get
    assert(MatView.refresh(spark, root, d).isDefined)
    val rows = AtomicPublish.readTable(spark, root, "by_text").collect()
    assert(rows.length == 2, s"null key must stay ONE group: ${rows.toSeq}")
    assert(rows.map(r => Option(r.getString(0)) -> r.getLong(1)).toMap ==
      Map(None -> 10L, Some("w") -> 10L))
  }

  test("zOrder compaction of an emptied table falls back gracefully") {
    val root = freshRoot()
    val grid = (0 until 50).map(i => (i.toLong, i.toLong * 2, s"p$i"))
      .toDF("x", "y", "text")
    AtomicPublish.publish(spark, root, Map("t" -> grid),
      statsBy = Map("t" -> Seq("x", "y")))
    AtomicPublish.deleteRows(spark, root,
      Map("t" -> (0L until 50L).toDF("x")))
    // every live row deleted: quantiles are degenerate — the rewrite
    // must fall back, not crash, and the physical delete still applies
    val (ctxn, _) = Compaction.compactStore(spark, root, "t",
      clusterBy = Seq("x", "y"), zOrder = true)
    assert(AtomicPublish.readTableAt(spark, root, "t", ctxn).count() == 0)
  }

  test("composition fuzz: zone maps + file maps + blooms + tombstones ≡ plain filter") {
    val root = freshRoot()
    val rnd = new scala.util.Random(11)
    // three multi-file segments with overlapping ranges, stats AND
    // blooms declared, then random deletes and an upsert — every
    // skipping layer plus merge-on-read active at once
    def seg(lo: Int) = (lo until lo + 120)
      .map(i => (i.toLong, if (i % 7 == 0) null else s"w${i % 40}",
        (i % 13).toLong))
      .toDF("doc_id", "s", "x")
      .repartitionByRange(3, col("doc_id"))
    val v1 = AtomicPublish.publish(spark, root, Map("t" -> seg(0)),
      statsBy = Map("t" -> Seq("doc_id", "x")),
      bloomBy = Map("t" -> Seq("doc_id")))
    val v2 = AtomicPublish.publishDelta(spark, root,
      append = Map("t" -> seg(80)), parent = Some(v1)).get
    AtomicPublish.publishDelta(spark, root,
      append = Map("t" -> seg(160)), parent = Some(v2)).get
    AtomicPublish.deleteRows(spark, root,
      Map("t" -> (1 to 30).map(_ => rnd.nextInt(280).toLong)
        .distinct.toDF("doc_id")))
    upsert(root, "t", Seq((50L, "upserted", 99L), (300L, "fresh", 99L))
      .toDF("doc_id", "s", "x"))
    val full = AtomicPublish.readTable(spark, root, "t").cache()
    val preds = Seq(
      "doc_id = 50", "doc_id = 7", "doc_id IN (3, 99, 260, 300)",
      "doc_id BETWEEN 75 AND 85", "x = 99", "x > 11", "s IS NULL",
      "doc_id > 250 AND x < 5", "doc_id = 50 OR doc_id = 300",
      "s = 'w13' AND doc_id < 100") ++
      (1 to 25).map(_ => rnd.nextInt(3) match {
        case 0 => s"doc_id ${Seq("=", "<", ">", "<=", ">=")(rnd.nextInt(5))} ${rnd.nextInt(320)}"
        case 1 => s"doc_id BETWEEN ${rnd.nextInt(280)} AND ${rnd.nextInt(320)}"
        case 2 => s"x = ${rnd.nextInt(15)} AND doc_id >= ${rnd.nextInt(300)}"
      })
    // the data files each predicate reads, of 11 (tombstones aside)
    val files = Seq(2, 1, 5, 3, 2, 11, 11, 1, 3, 5, 0, 8, 1, 8, 0, 0, 0,
      1, 8, 2, 1, 5, 1, 10, 5, 1, 2, 9, 10, 0, 7, 11, 2, 4, 0)
    preds.zip(files).foreach { case (p, n) =>
      val q = AtomicPublish.readTable(spark, root, "t").where(p)
      assert(ScanFiles(q, Some("t")) == n, p)
      val expect = full.where(p).collect().toSet
      assert(q.collect().toSet == expect, s"composition fuzz mismatch for: $p")
    }
    full.unpersist()
    // and the upserted row won
    assert(full.where("doc_id = 50").head().getString(1) == "upserted")
  }

  test("an upsert batch with no size estimate writes at most its key " +
      "frame's partitions as tombstone files") {
    import org.apache.spark.sql.Row
    val root = freshRoot()
    // an API batch: RDD-built, so Spark has no size estimate for it
    def batch(ids: Range): DataFrame = graft.etl.PatientIngestion
      .batchFromRows(spark, ids.map(i => Row("Patient", f"MRN$i%06d",
        s"name-$i", "1980-01-01", "female", null,
        Map("data_sharing" -> true))))
    AtomicPublish.publish(spark, root, Map("patients" -> batch(0 until 1)))
    val rows = batch(0 until 1000)
    val keys = rows.select("mrn")
    val keyParts = keys.rdd.getNumPartitions
    val utxn = AtomicPublish.upsertMany(spark, root,
      Map("patients" -> AtomicPublish.Upsert(rows, keys)))
    val tombDir = new java.io.File(
      s"$root/v_$utxn/${AtomicPublish.deleteTableOf("patients")}")
    val tombFiles = tombDir.listFiles().count(f =>
      f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(keyParts == 2)
    assert(tombFiles >= 1 && tombFiles <= keyParts,
      s"$tombFiles tombstone files for a $keyParts-partition key frame")
    assert(AtomicPublish.readTable(spark, root, "patients").count() == 1000)
  }

  test("tombstone read plans a broadcast HASH anti-join (never BNLJ)") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 100)))
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(1L).toDF("doc_id")))
    // the scoping condition is equi-key + range residual: Spark must
    // extract the equi key and broadcast-hash the (tiny) tombstones;
    // a nested-loop plan would scan data × tombstones at 100 TB
    val plan = AtomicPublish.readTable(spark, root, "docs")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }
}
