package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSuite

/** Zero-copy table clone ([[AtomicPublish.cloneTable]], Delta's
  * SHALLOW CLONE shape): the target's manifest entry shares every data
  * segment of the source BY REFERENCE via the per-owner dir mapping
  * ([[AtomicPublish.TableMeta.ownerDirs]]), costs O(manifest) and
  * writes no data — then diverges copy-on-write: its appends, deletes
  * and compactions touch only ITS chain, and vacuum's owner-keyed
  * reference closure keeps shared segments alive while EITHER side
  * references them. */
class CloneSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("clone").resolve("store").toString

  private def docs(ids: Range, lang: String = "en"): DataFrame =
    ids.map(i => (i.toLong, lang, i * 10L)).toDF("doc_id", "lang", "words")

  private def idsOf(root: String, table: String): Set[Long] =
    AtomicPublish.readTable(spark, root, table)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  /** Stage source with two segments, stats, blooms and a delete. */
  private def stage(root: String): Unit = {
    AtomicPublish.publish(spark, root, Map("src" -> docs(0 until 100)),
      statsBy = Map("src" -> Seq("doc_id")),
      bloomBy = Map("src" -> Seq("doc_id")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("src" -> docs(100 until 200, "de")),
      parent = AtomicPublish.currentTxn(spark, root))
    AtomicPublish.deleteRows(spark, root,
      Map("src" -> Seq(7L, 150L).toDF("doc_id")))
  }

  test("clone shares segments by reference: no data written, reads " +
      "identical, tombstones included") {
    val root = freshRoot(); stage(root)
    val txn = AtomicPublish.cloneTable(spark, root, "src", "fork").get
    // the clone commit's version dir holds ONLY the manifest — zero
    // data was staged
    val vdir = new java.io.File(s"$root/v_$txn")
    assert(vdir.listFiles.forall(f => !f.isDirectory),
      "clone staged data directories")
    // identical delete-aware reads (the companion came along)
    assert(idsOf(root, "fork") == idsOf(root, "src"))
    assert(!idsOf(root, "fork").contains(7L))
    // the mapping is recorded: every inherited owner resolves to the
    // source's physical dirs
    val m = AtomicPublish.manifestMetaOf(spark, root, txn)("fork")
    assert(m.owners.forall(o => m.dirOf(o, "fork") == "src"))
    // zone maps / skipping survive: a point read on the clone prunes
    val q = AtomicPublish.readTable(spark, root, "fork")
      .where("doc_id = 42")
    assert(ScanFiles(q) == 2)
    assert(q.count() == 1)
  }

  test("clone diverges copy-on-write in both directions; compaction " +
      "makes it self-contained without touching the source") {
    val root = freshRoot(); stage(root)
    AtomicPublish.cloneTable(spark, root, "src", "fork")
    val srcBefore = idsOf(root, "src")
    // clone-side mutations: append + delete
    AtomicPublish.publishDelta(spark, root,
      append = Map("fork" -> docs(1000 until 1010, "fr")),
      parent = AtomicPublish.currentTxn(spark, root))
    AtomicPublish.deleteRows(spark, root,
      Map("fork" -> Seq(3L).toDF("doc_id")))
    assert(idsOf(root, "src") == srcBefore, "source observed clone writes")
    assert(idsOf(root, "fork") ==
      srcBefore -- Set(3L) ++ (1000L until 1010L).toSet)
    // source-side mutation: the clone is unaffected
    AtomicPublish.deleteRows(spark, root,
      Map("src" -> Seq(42L).toDF("doc_id")))
    assert(idsOf(root, "src") == srcBefore - 42L)
    assert(idsOf(root, "fork").contains(42L))
    // compacting the CLONE rewrites into its own segments; source intact
    Compaction.compactStore(spark, root, "fork")
    val m = AtomicPublish.currentManifestMeta(spark, root).get._2("fork")
    assert(m.owners.size == 1 && m.ownerDirs.isEmpty,
      "compacted clone should be self-contained under its own name")
    assert(idsOf(root, "fork") ==
      srcBefore -- Set(3L) ++ (1000L until 1010L).toSet)
    assert(idsOf(root, "src") == srcBefore - 42L)
  }

  test("vacuum keeps shared segments alive while the clone references " +
      "them (source compacted away)") {
    val root = freshRoot(); stage(root)
    AtomicPublish.cloneTable(spark, root, "src", "fork")
    val forkIds = idsOf(root, "fork")
    // the source consolidates into its own new segment — the OLD shared
    // dirs now live only through the clone's manifest
    Compaction.compactStore(spark, root, "src")
    AtomicPublish.vacuum(spark, root, keepLast = 1, graceMs = 0)
    assert(idsOf(root, "fork") == forkIds,
      "vacuum reclaimed segments the live clone still references")
    assert(idsOf(root, "src") == forkIds)
  }

  test("historical clone forks a time-travel snapshot; conflicts and " +
      "dead versions are refused by name") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("src" -> docs(0 until 50)))
    val v1 = AtomicPublish.currentTxn(spark, root).get
    AtomicPublish.publishDelta(spark, root,
      append = Map("src" -> docs(50 until 80)),
      parent = Some(v1))
    AtomicPublish.cloneTable(spark, root, "src", "asof",
      sourceTxn = Some(v1))
    assert(idsOf(root, "asof") == (0L until 50L).toSet)
    assert(idsOf(root, "src") == (0L until 80L).toSet)
    val e = intercept[IllegalArgumentException] {
      AtomicPublish.cloneTable(spark, root, "src", "asof")
    }
    assert(e.getMessage.contains("already exists"))
    val e2 = intercept[IllegalArgumentException] {
      AtomicPublish.cloneTable(spark, root, "nope", "other")
    }
    assert(e2.getMessage.contains("nope"))
  }

  test("SQL face: CALL clone; the fork's manifest and catalog reads " +
      "resolve the shared dirs") {
    val root = freshRoot(); stage(root)
    val cat = "clonecat"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val row = spark.sql(s"CALL $cat.system.clone(" +
      "source => 'src', target => 'fork')").head()
    assert(row.getAs[Int]("owners") == 2)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.fork")
      .head().getLong(0) == 198) // 200 − 2 deleted
    val metas = AtomicPublish.manifestMetaOf(spark, root,
      AtomicPublish.currentTxn(spark, root).get)
    val m = metas("fork")
    assert(m.owners.size == 2)
    // raw, pre-tombstone
    assert(m.owners.map(o => m.segStats(o).rows).sum == 200L)
    assert(metas(AtomicPublish.deleteTableOf("fork")).owners.size == 1)
  }
}
