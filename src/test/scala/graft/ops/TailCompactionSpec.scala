package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSuite

/** Minor (tail) compaction ([[Compaction.compactTail]]): the O(tail)
  * maintenance move — the owner chain's small SUFFIX merges into one
  * segment while the consolidated head is carried by reference, its
  * files untouched on disk. The 100 TB claim in testable form: the
  * head's data files must be byte-identical (same paths, same
  * modification times) across the operation. */
class TailCompactionSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("tailcomp").resolve("store").toString

  private def docs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"text-$i", i * 10L)).toDF("doc_id", "text", "w")

  /** (path → mtime) of every data file in an owner segment. */
  private def segFiles(root: String, owner: String,
      table: String = "docs"): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(s"$root/v_$owner/$table"))
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getPath -> f.lastModified).toMap
  }

  private def owners(root: String): Seq[String] =
    AtomicPublish.currentManifestMeta(spark, root).get._2("docs").owners

  test("the small suffix merges; the head is carried by reference " +
      "(same files, same mtimes); reads stay exact") {
    val root = freshRoot()
    // a consolidated 'head' segment plus 5 small appends
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 2000)),
      statsBy = Map("docs" -> Seq("doc_id")))
    val head = owners(root).head
    (0 until 5).foreach { k =>
      AtomicPublish.publishDelta(spark, root,
        append = Map("docs" -> docs(2000 + k * 100 until 2100 + k * 100)),
        parent = AtomicPublish.currentTxn(spark, root))
    }
    val headBefore = segFiles(root, head)
    assert(owners(root).size == 6)
    // target sized so the 2000-row head counts as "big" and the
    // 100-row appends as "small" — the leveled-compaction shape
    val Some((txn, _)) = Compaction.compactTail(spark, root, "docs",
      targetBytes = 10 * 1024)
    assert(AtomicPublish.currentTxn(spark, root).contains(txn))
    // owner chain: untouched head + ONE merged tail
    assert(owners(root) == Seq(head, txn))
    assert(segFiles(root, head) == headBefore,
      "head files were rewritten — minor compaction must be O(tail)")
    // data exact
    assert(AtomicPublish.readTable(spark, root, "docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      (0L until 2500L).toSet)
    // zone maps: the head's segment stats survive, the tail's are fresh
    val meta = AtomicPublish.manifestMetaOf(spark, root, txn)("docs")
    assert(meta.segStats.keySet == Set(head, txn))
  }

  test("predicate-scoped compaction: only admitting segments rewrite; " +
      "non-matching owners byte-identical; content and layout survive") {
    val root = freshRoot()
    // four disjoint doc_id ranges, one owner each, zone maps on doc_id
    val v1 = AtomicPublish.publish(spark, root,
      Map("docs" -> docs(0 until 500).repartition(2)),
      statsBy = Map("docs" -> Seq("doc_id")))
    var parent = v1
    for (r <- Seq(500 until 1000, 1000 until 1500, 1500 until 2000)) {
      parent = AtomicPublish.publishDelta(spark, root,
        append = Map("docs" -> docs(r).repartition(2)),
        parent = Some(parent)).get
    }
    val before = owners(root)
    assert(before.size == 4)
    val keptExpected = Seq(before(0), before(3))
    val keptFilesBefore = keptExpected.map(o => segFiles(root, o))
    val beforeRows = AtomicPublish.readTable(spark, root, "docs")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    // the middle two owners admit; the outer two provably reject
    val res = Compaction.compactWhere(spark, root, "docs",
      "doc_id BETWEEN 600 AND 1400", targetBytes = 1L << 30)
    assert(res.isDefined)
    val after = owners(root)
    assert(after == keptExpected :+ res.get._1,
      s"expected [kept0, kept3, new], got $after")
    // the kept owners' files: same paths, same mtimes — never touched
    keptExpected.zip(keptFilesBefore).foreach { case (o, fb) =>
      assert(segFiles(root, o) == fb, s"owner $o was rewritten")
    }
    // content identical; zone maps still prune on the kept owners
    val afterRows = AtomicPublish.readTable(spark, root, "docs")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(afterRows == beforeRows)
    val head = AtomicPublish.readTable(spark, root, "docs")
      .where("doc_id < 100")
    assert(ScanFiles(head) == 2)
    assert(head.count() == 100)
    // nothing admits twice-compacted: a disjoint scope over ONE owner
    assert(Compaction.compactWhere(spark, root, "docs",
      "doc_id > 1900", targetBytes = 1L << 30).isEmpty,
      "a single admitting owner has nothing to consolidate")
  }

  test("CALL compact(where => …): the SQL face of the scoped rewrite") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root,
      Map("docs" -> docs(0 until 300)),
      statsBy = Map("docs" -> Seq("doc_id")))
    var parent = v1
    for (r <- Seq(300 until 600, 600 until 900)) {
      parent = AtomicPublish.publishDelta(spark, root,
        append = Map("docs" -> docs(r)), parent = Some(parent)).get
    }
    val cat = "scopedcompact"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val row = spark.sql(s"CALL $cat.system.compact(table => 'docs', " +
      "where => 'doc_id < 550')").collect().head
    assert(row.getAs[Int]("owners_before") == 3)
    assert(row.getAs[Int]("owners_after") == 2) // two admitted → one
    assert(spark.sql(s"SELECT count(*) FROM $cat.docs").head()
      .getLong(0) == 900)
  }

  test("nothing worth doing → None, no commit: too few small segments; " +
      "tombstones route to the full path") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 100)))
    val before = AtomicPublish.currentTxn(spark, root)
    assert(Compaction.compactTail(spark, root, "docs").isEmpty)
    assert(AtomicPublish.currentTxn(spark, root) == before)
    // add small appends + a delete: tombstoned tables refuse the
    // suffix renumbering
    (0 until 3).foreach { k =>
      AtomicPublish.publishDelta(spark, root,
        append = Map("docs" -> docs(100 + k * 10 until 110 + k * 10)),
        parent = AtomicPublish.currentTxn(spark, root))
    }
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(5L).toDF("doc_id")))
    assert(Compaction.compactTail(spark, root, "docs").isEmpty)
    // the full path still works and applies the tombstone
    Compaction.compactStore(spark, root, "docs")
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 129)
  }

  test("bucketed table: the merged tail re-buckets, the co-location " +
      "invariant holds across every segment") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 5000)),
      bucketBy = Map("docs" -> (Seq("doc_id"), 4)))
    (0 until 4).foreach { k =>
      AtomicPublish.publishDelta(spark, root,
        append = Map("docs" -> docs(5000 + k * 50 until 5050 + k * 50)),
        parent = AtomicPublish.currentTxn(spark, root))
    }
    assert(Compaction.compactTail(spark, root, "docs",
      targetBytes = 10 * 1024).isDefined)
    val m = AtomicPublish.currentManifestMeta(spark, root).get._2("docs")
    assert(m.numBuckets == 4 && m.owners.size == 2)
    // every file of every surviving owner still carries a bucket id
    m.owners.foreach { o =>
      segFiles(root, o).keys.foreach { p =>
        val name = new java.io.File(p).getName
        assert(org.apache.spark.sql.execution.datasources.BucketingUtils
          .getBucketId(name).isDefined, s"unbucketed file $name")
      }
    }
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 5200)
  }

  test("repeated small appends: auto-compaction now runs the minor " +
      "path — the first segment is never rewritten") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 5000)))
    val head = owners(root).head
    val headBefore = segFiles(root, head)
    (0 until 12).foreach { k =>
      AtomicPublish.publishDelta(spark, root,
        append = Map("docs" -> docs(5000 + k * 10 until 5010 + k * 10)),
        parent = AtomicPublish.currentTxn(spark, root))
      Compaction.autoCompact(spark, root,
        AtomicPublish.currentTxn(spark, root).get,
        maxOwners = 4, targetFileBytes = 10 * 1024)
    }
    assert(owners(root).size <= 5)
    assert(owners(root).head == head)
    assert(segFiles(root, head) == headBefore,
      "auto-compaction rewrote the consolidated head")
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 5120)
  }
}
