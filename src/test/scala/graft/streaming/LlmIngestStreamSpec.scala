package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.analytics.LlmPrep
import graft.ops.AtomicPublish

/** Continuous LLM-prep ingest: micro-batches against the published
  * store, exactly-once content under source replay, per-batch atomic
  * commits, and equivalence with the batch journey on the union. */
class LlmIngestStreamSpec extends SparkSuite {
  import spark.implicits._

  private val stop = "the a and of to in is"
  private def mk(n: Int, tag: String): String =
    stop + " " + (1 to (n - 7)).map(i => s"$tag$i").mkString(" ")

  test("micro-batched ingest: dedup vs store, replay-stable, per-batch commits") {
    val root = Files.createTempDirectory("llm-ingest").resolve("store").toString
    val src = Files.createTempDirectory("llm-ingest-src")

    val textA = mk(30, "a")
    val textB = mk(45, "b")
    val textC = mk(30, "c") // ≥25 words: n/50 factor alone caps quality
                            // below the 0.5 gate for shorter docs
    val junk = "tiny doc" // quarantined: < MinWords
    // batch 0: A (+ an in-batch dup of A), junk → admits A only
    // batch 1: REPLAY of A (delivered again) + new B → admits B only
    // batch 2: new C + replay of B → admits C only
    val batches = Seq(
      Seq(1L -> textA, 2L -> textA, 3L -> junk),
      Seq(11L -> textA, 12L -> textB),
      Seq(21L -> textC, 22L -> textB))
    batches.zipWithIndex.foreach { case (docs, i) =>
      val d = Files.createTempDirectory(s"llm-ingest-stage$i")
      docs.toDF("doc_id", "text").coalesce(1).write.parquet(d.resolve("p").toString)
      val part = firstFile(d.resolve("p"))
      val dst = src.resolve(f"b$i.parquet")
      Files.copy(part, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 30000 + i * 10000))
      ()
    }

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(src.toString)
    val q = LlmIngest.ingestStream(stream, root)
    q.awaitTermination()

    def tbl(n: String) = AtomicPublish.readTable(spark, root, n)
    // exactly-once content: one kept doc per distinct admissible text,
    // first-seen doc_id wins (batch-local min, then store-level anti)
    val kept = tbl(LlmIngest.KeptTable)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 12L, 21L), s"kept=$kept")
    // chunks exactly for the kept docs: A(30w)→1, B(45w)→2, C(20w)→1
    val chunksPerDoc = tbl(LlmIngest.ChunksTable)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(chunksPerDoc == Map(1L -> 1L, 12L -> 2L, 21L -> 1L))
    // one run row per micro-batch, with honest in/out counts
    val runs = tbl(LlmIngest.RunsTable)
      .select("input_record_count", "output_record_count")
      .as[(String, String)].collect().toSet
    assert(runs == Set(("3", "1"), ("2", "1"), ("2", "1")), s"runs=$runs")

    // equivalence with the BATCH journey front door on the union of all
    // deliveries: clean → dedup → quality (the streaming hot path runs
    // exactly these stages; near-dup/decontam are batch maintenance)
    val all = batches.flatten.toDF("doc_id", "text")
    val batchKept = LlmPrep.qualityStage(
        LlmPrep.dedupStage(LlmPrep.cleanStage(all)))
      .select(md5(col("text").cast("binary"))).as[String].collect().toSet
    val streamKept = tbl(LlmIngest.KeptTable)
      .select("fingerprint").as[String].collect().toSet
    assert(streamKept == batchKept)

    // delta publishes: each trigger wrote its SLICE; the live chunks
    // table is the union of three slice dirs, history referenced, never
    // copied (O(batch) write cost per trigger, not O(corpus))
    val cur = AtomicPublish.currentTxn(spark, root).get
    val owners = AtomicPublish.manifestOf(spark, root, cur)
    assert(owners(LlmIngest.ChunksTable).size == 3,
      s"chunks owners: ${owners(LlmIngest.ChunksTable)}")
    assert(owners(LlmIngest.KeptTable).size == 3)

    // vacuum keeps every version the live manifest REFERENCES, even
    // beyond keepLast — reclaiming a referenced dir would hollow out
    // the live table
    val deleted = AtomicPublish.vacuum(spark, root, keepLast = 1,
      graceMs = 0L)
    assert(tbl(LlmIngest.KeptTable).count() == 3,
      s"vacuum broke the live union read (deleted: $deleted)")
    assert(tbl(LlmIngest.ChunksTable).count() == 4)

    // full replay of every batch admits nothing new (at-least-once
    // upstream, exactly-once content in the store)
    val before = tbl(LlmIngest.KeptTable).count()
    batches.zipWithIndex.foreach { case (docs, i) =>
      val admitted = LlmIngest.ingestBatch(spark, root,
        docs.toDF("doc_id", "text"), s"replay_$i")
      assert(admitted == 0L, s"replayed batch $i admitted $admitted docs")
    }
    assert(tbl(LlmIngest.KeptTable).count() == before)
  }

  test("batch maintenance runs the cross-doc stages over the published store") {
    val root = Files.createTempDirectory("llm-maint").resolve("store").toString
    val textA = mk(30, "a")
    val textB = mk(45, "b")
    val textC = mk(30, "c")
    val textCnear = textC.replace(" c10 ", " zz ") // J = 25/31 ≥ 0.8 vs C
    val textE = mk(30, "e")                        // doc 10: eval slice
    val run8 = (3 to 10).map(i => s"e$i").mkString(" ")
    val textK = stop + " " +                       // contaminated: 8-word
      (1 to 15).map(i => s"k$i").mkString(" ") + " " + run8 // run from E
    val batches = Seq(
      Seq(1L -> textA, 2L -> textA, 3L -> "tiny doc"),
      Seq(10L -> textE, 11L -> textB),
      Seq(21L -> textC, 23L -> textCnear, 31L -> textK))
    batches.zipWithIndex.foreach { case (docs, i) =>
      LlmIngest.ingestBatch(spark, root, docs.toDF("doc_id", "text"), s"b$i")
    }
    def docIds() = AtomicPublish.readTable(spark, root, LlmIngest.DocsTable)
      .select("doc_id").as[Long].collect().toSet
    // the hot path admitted everything clean+unique+quality — including
    // the near-dup pair (21, 23), the eval doc 10 and the contaminated
    // 31, which are cross-doc calls it defers
    assert(docIds() == Set(1L, 10L, 11L, 21L, 23L, 31L))

    val (dropped, _) = LlmIngest.maintain(spark, root)
    assert(dropped == 3L) // 23 near-dup, 10 eval slice, 31 contaminated
    assert(docIds() == Set(1L, 11L, 21L))
    // the maintenance run REPORTED itself — kind, drop total, and the
    // cap-drop counters (zero on this organic corpus) in one store row
    // an operator can SELECT (VERDICT-r11 #4)
    val report = AtomicPublish
      .readTable(spark, root, LlmIngest.MaintRunsTable)
      .orderBy(col("completed_at")).collect()
    assert(report.length == 1)
    assert(report(0).getAs[String]("kind") == "full")
    assert(report(0).getAs[Long]("docs_dropped") == 3L)
    assert(report(0).getAs[String]("cap_drops") == """{"n2_posting":0}""")
    // chunks are the derived view of the surviving docs: A 1 + B 2 + C 1
    val chunks = AtomicPublish.readTable(spark, root, LlmIngest.ChunksTable)
    assert(chunks.groupBy("doc_id").count().as[(Long, Long)].collect()
      .toMap == Map(1L -> 1L, 11L -> 2L, 21L -> 1L))

    // the dedup barrier survives maintenance: a replayed copy of a
    // DROPPED doc is still barred (the store converges, no churn)
    assert(LlmIngest.ingestBatch(spark, root,
      Seq(99L -> textCnear).toDF("doc_id", "text"), "replay") == 0L)
    assert(docIds() == Set(1L, 11L, 21L))

    // ingest + maintenance ≡ the stage composition on the union of all
    // deliveries, in the streaming order (quality at admission, then
    // the cross-doc stages; the eval slice of the raw union and of the
    // admitted corpus coincide here — doc 10 was admitted)
    val all = batches.flatten.toDF("doc_id", "text")
    val expected = LlmPrep.decontamStage(LlmPrep.nearDupStage(
        LlmPrep.qualityStage(LlmPrep.dedupStage(LlmPrep.cleanStage(all)))), all)
      .select("doc_id").as[Long].collect().toSet
    assert(docIds() == expected)
  }

  test("maintenance sizes the corpus rewrite from bytes — never one task (VERDICT r4 weak #1)") {
    val root = Files.createTempDirectory("llm-size").resolve("store").toString
    // 12 distinct admissible docs ≈ several KB on disk (ids ≡ 1 mod
    // DecontamEvalMod: none lands in the eval slice maintenance removes)
    val docs = (1 to 12).map(i =>
      (i.toLong * graft.analytics.DedupOps.DecontamEvalMod + 1, mk(40, s"s$i")))
    LlmIngest.ingestBatch(spark, root, docs.toDF("doc_id", "text"), "bulk")
    // a 2 KB file target forces a multi-partition replace if (and only
    // if) the partition count really derives from table bytes
    val (_, txn) = LlmIngest.maintain(spark, root, targetFileBytes = 2048L)
    val seg = new java.io.File(s"$root/v_$txn/${LlmIngest.DocsTable}")
    val dataFiles = seg.listFiles().count(f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(dataFiles > 1,
      s"corpus replace wrote $dataFiles file(s) — single-task funnel")
    assert(AtomicPublish.readTable(spark, root, LlmIngest.DocsTable)
      .count() == 12)
  }

  test("replayed (fully duplicate) batches do not grow the data tables' owner lists") {
    val root = Files.createTempDirectory("llm-replay").resolve("store").toString
    val docs = Seq(1L -> mk(30, "r")).toDF("doc_id", "text")
    assert(LlmIngest.ingestBatch(spark, root, docs, "first") == 1L)
    def owners() = AtomicPublish.manifestOf(spark, root,
      AtomicPublish.currentTxn(spark, root).get)
    val before = owners()
    (1 to 3).foreach { i =>
      assert(LlmIngest.ingestBatch(spark, root, docs, s"replay$i") == 0L)
    }
    val after = owners()
    Seq(LlmIngest.DocsTable, LlmIngest.ChunksTable, LlmIngest.KeptTable)
      .foreach { t =>
        assert(after(t) == before(t),
          s"replays appended empty segments to $t: ${after(t)}")
      }
    // the audit trail still records every run
    assert(AtomicPublish.readTable(spark, root, LlmIngest.RunsTable)
      .count() == 4)
  }

  test("auto-compaction keeps a long-running ingest's segment count bounded") {
    val root = Files.createTempDirectory("llm-auto").resolve("store").toString
    val n = LlmIngest.AutoCompactOwners + 4
    (1 to n).foreach { i =>
      LlmIngest.ingestBatch(spark, root,
        Seq((i.toLong, mk(30, s"u$i"))).toDF("doc_id", "text"), s"t$i")
    }
    val owners = AtomicPublish.manifestOf(spark, root,
      AtomicPublish.currentTxn(spark, root).get)
    owners.foreach { case (t, os) =>
      assert(os.size <= LlmIngest.AutoCompactOwners,
        s"$t has ${os.size} owner segments after $n triggers")
    }
    // consolidation changed the layout, never the union
    assert(AtomicPublish.readTable(spark, root, LlmIngest.DocsTable)
      .select("doc_id").as[Long].collect().toSet ==
      (1 to n).map(_.toLong).toSet)
    assert(AtomicPublish.readTable(spark, root, LlmIngest.RunsTable)
      .count() == n.toLong)
  }

  test("checkpointed ingest restart: processed batches are never re-run") {
    val root = Files.createTempDirectory("llm-ckpt").resolve("store").toString
    val src = Files.createTempDirectory("llm-ckpt-src")
    val ckpt = Files.createTempDirectory("llm-ckpt-state").toString
    def addFile(name: String, docs: Seq[(Long, String)]): Unit = {
      val d = Files.createTempDirectory(s"llm-ckpt-stage-$name")
      docs.toDF("doc_id", "text").coalesce(1)
        .write.parquet(d.resolve("p").toString)
      val part = firstFile(d.resolve("p"))
      Files.copy(part, src.resolve(s"$name.parquet"))
      ()
    }
    def runOnce(): Unit = {
      val stream = spark.readStream.schema("doc_id LONG, text STRING")
        .parquet(src.toString)
      val q = LlmIngest.ingestStream(stream, root, checkpoint = Some(ckpt))
      q.awaitTermination()
    }
    addFile("a", Seq(1L -> mk(30, "x")))
    runOnce()
    addFile("b", Seq(2L -> mk(30, "y")))
    runOnce() // restart from the checkpoint: file a is NOT reprocessed
    def tbl(n: String) = graft.ops.AtomicPublish.readTable(spark, root, n)
    assert(tbl(LlmIngest.KeptTable).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L))
    // one run row per PROCESSED batch — a re-run of batch 'a' would
    // add a third row (and, pre-fix, collide on the run name)
    val runs = tbl(LlmIngest.RunsTable).count()
    assert(runs == 2L, s"expected 2 ingest runs, found $runs")
  }

  test("ingest records doc_id zone maps; id-range reads skip history segments") {
    val root = Files.createTempDirectory("llm-ingest-zm").resolve("store").toString
    // two triggers with disjoint id ranges (a time-ordered ingest)
    LlmIngest.ingestBatch(spark, root,
      (1L to 5L).map(i => i -> mk(30, s"p$i")).toDF("doc_id", "text"), "zm_b0")
    LlmIngest.ingestBatch(spark, root,
      (100L to 104L).map(i => i -> mk(30, s"q$i")).toDF("doc_id", "text"), "zm_b1")
    val txn = AtomicPublish.currentTxn(spark, root).get
    val meta = AtomicPublish.manifestMetaOf(spark, root, txn)(LlmIngest.DocsTable)
    assert(meta.statCols == Seq("doc_id"))
    assert(meta.segStats.size == 2)
    // the second segment is the one whose zone map starts at 100
    val seg2 = meta.segStats.collectFirst {
      case (o, s) if s.cols("doc_id").min.contains("100") => o }.get
    val hit = AtomicPublish.readTable(spark, root, LlmIngest.DocsTable)
      .where("doc_id >= 100")
    val hitFiles = graft.ops.ScanFiles.paths(hit)
    assert(hitFiles.size == 1 && hitFiles.forall(_.contains(s"v_$seg2")),
      hitFiles)
    assert(hit.select("doc_id").as[Long].collect().toSet ==
      (100L to 104L).toSet)
    // chunks carry the same stats; maintain-style replace would inherit
    val cmeta = AtomicPublish.manifestMetaOf(spark, root, txn)(LlmIngest.ChunksTable)
    assert(cmeta.statCols == Seq("doc_id"))
    // bloom sidecars declared alongside: a point lookup on an id the
    // RANGES cannot separate still reads one segment (here ranges are
    // disjoint, so this pins the bloom metadata + sidecar presence)
    assert(meta.bloomCols == Seq("doc_id"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    meta.owners.foreach { o =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/v_$o/${LlmIngest.DocsTable}/_bloom_doc_id.bin")),
        s"missing bloom sidecar for owner $o")
    }
    val point = AtomicPublish.readTable(spark, root, LlmIngest.DocsTable)
      .where("doc_id = 103")
    val pointFiles = graft.ops.ScanFiles.paths(point)
    assert(pointFiles.size == 1 && pointFiles.forall(_.contains(s"v_$seg2")))
    assert(point.count() == 1)
  }

  test("recrawl on a store with no kept_docs table delegates to ingest") {
    val root = Files.createTempDirectory("recrawl-nokept")
      .resolve("store").toString
    // first batch fails the quality gate WHOLESALE → the store has a
    // published version but only the runs table (no kept_docs to diff
    // against) — recrawl must delegate to plain ingest, not throw
    assert(LlmIngest.ingestBatch(spark, root,
      Seq(1L -> "tiny doc").toDF("doc_id", "text"), "bad_b0") == 0)
    val manifest = AtomicPublish.currentManifest(spark, root).get._2
    assert(!manifest.contains(LlmIngest.KeptTable))
    val good = Seq(2L -> mk(40, "g")).toDF("doc_id", "text")
    assert(LlmIngest.recrawlBatch(spark, root, good, "rc_b1") == 1)
    assert(AtomicPublish.readTable(spark, root, LlmIngest.KeptTable)
      .count() == 1)
  }

  test("recrawl: unchanged skip, changed replace everywhere, bad crawls kept out") {
    val root = Files.createTempDirectory("recrawl").resolve("store").toString
    val b0 = (1L to 4L).map(i => i -> mk(30, s"v1d$i")).toDF("doc_id", "text")
    assert(LlmIngest.ingestBatch(spark, root, b0, "rc_b0") == 4)
    // re-crawl: doc 2 unchanged, doc 3 re-written, doc 9 brand new
    val b1 = Seq(
      2L -> mk(30, "v1d2"),       // identical content → skip
      3L -> mk(30, "v2d3"),       // changed → replace
      9L -> mk(30, "v1d9"),       // new id → insert
    ).toDF("doc_id", "text")
    val changed = LlmIngest.recrawlBatch(spark, root, b1, "rc_b1")
    assert(changed == 2)
    val live = LlmIngest.liveDocs(spark, root)
    assert(live.count() == 5)
    assert(live.where("doc_id = 3").head().getString(1)
      .contains("v2d3"), "doc 3 must carry the re-crawled content")
    assert(live.where("doc_id = 2").head().getString(1).contains("v1d2"))
    // the doc's chunks were replaced consistently (derived view)
    val c3 = LlmIngest.liveChunks(spark, root).where("doc_id = 3")
    val expect3 = graft.analytics.LlmPrep.chunkStage(
      live.where("doc_id = 3").select("doc_id", "text"))
    assert(c3.select("chunk_md5").as[String].collect().toSet ==
      expect3.select("chunk_md5").as[String].collect().toSet)
    // the dedup barrier carries the NEW fingerprint: re-ingesting the
    // old v1 text of doc 3 under a new id is admitted (old fp gone)...
    val reAdd = LlmIngest.ingestBatch(spark, root,
      Seq(50L -> mk(30, "v1d3")).toDF("doc_id", "text"), "rc_b2")
    assert(reAdd == 1)
    // ...while the new fingerprint bars replays of the v2 text
    assert(LlmIngest.ingestBatch(spark, root,
      Seq(51L -> mk(30, "v2d3")).toDF("doc_id", "text"), "rc_b3") == 0)
    // a fully-unchanged recrawl publishes only its run row: the data
    // tables' owner lists do not grow
    val before = AtomicPublish.currentManifest(spark, root).get._2
    assert(LlmIngest.recrawlBatch(spark, root,
      b1.where("doc_id = 2"), "rc_b4") == 0)
    val after = AtomicPublish.currentManifest(spark, root).get._2
    assert(after(LlmIngest.DocsTable) == before(LlmIngest.DocsTable))
    assert(after(LlmIngest.ChunksTable) == before(LlmIngest.ChunksTable))
    // a re-crawl that fails the quality gate keeps the old version
    assert(LlmIngest.recrawlBatch(spark, root,
      Seq(3L -> "x").toDF("doc_id", "text"), "rc_b5") == 0)
    assert(LlmIngest.liveDocs(spark, root).where("doc_id = 3")
      .head().getString(1).contains("v2d3"))
  }
}
