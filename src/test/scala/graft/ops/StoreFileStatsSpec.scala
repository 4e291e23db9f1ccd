package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Per-FILE zone maps + clustered compaction — the second granularity
  * of store data skipping. Segment-level maps die when compaction
  * consolidates history into one all-spanning owner; the per-file maps
  * recorded at stage time (and made selective by
  * `compactStore(clusterBy = …)`'s range-cluster rewrite) keep point
  * and range reads pruning at file granularity. Equivalence with the
  * unpruned read is the invariant; pruning is pinned by the exact file
  * set the executed scan reads ([[ScanFiles]]). */
class StoreFileStatsSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("store-fstats").resolve("tables").toString

  private def rangedDf(ids: Range, files: Int): DataFrame =
    ids.map(i => (i.toLong, s"payload-$i")).toDF("doc_id", "text")
      .repartitionByRange(files, col("doc_id"))

  private def filesRead(df: DataFrame): Seq[String] = ScanFiles.paths(df)

  private def docsWhere(root: String, w: String): DataFrame =
    AtomicPublish.readTable(spark, root, "docs").where(w)

  test("per-file maps recorded at publish; a point read plans one file") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root,
      Map("docs" -> rangedDf(0 until 400, files = 4)),
      statsBy = Map("docs" -> Seq("doc_id")))
    val meta = AtomicPublish.manifestMetaOf(spark, root, v1)("docs")
    assert(meta.fileStats.contains(v1))
    val fm = meta.fileStats(v1)
    assert(fm.size == 4)
    assert(fm.values.map(_.rows).sum == 400)
    // file maps roll up exactly to the segment map
    val seg = meta.segStats(v1)
    assert(seg.rows == 400)
    assert(seg.cols("doc_id").min.contains("0"))
    assert(seg.cols("doc_id").max.contains("399"))
    val point = docsWhere(root, "doc_id = 7")
    assert(filesRead(point).size == 1)
    assert(point.collect().toSeq == Seq(
      org.apache.spark.sql.Row(7L, "payload-7")))
  }

  test("file pruning composes with segment pruning across appends") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root,
      Map("docs" -> rangedDf(0 until 400, 4)),
      statsBy = Map("docs" -> Seq("doc_id")))
    val v2 = AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> rangedDf(400 until 800, 4)),
      parent = Some(v1)).get
    // the predicate admits only segment v2, and within it a file subset
    val q = docsWhere(root, "doc_id BETWEEN 450 AND 460")
    val read = filesRead(q)
    assert(read.forall(_.contains(s"v_$v2")))
    assert(read.size == 1, s"expected one file of v2's 4, read $read")
    assert(q.count() == 11)
    // equivalence with the unpruned read
    val full = AtomicPublish.readTable(spark, root, "docs")
      .localCheckpoint().where("doc_id BETWEEN 450 AND 460")
    assert(q.collect().toSet == full.collect().toSet)
  }

  test("segment admits but every file rejects: owner is skipped") {
    val root = freshRoot()
    // two exact files with a gap: [0,100] and [200,300] — doc_id = 150
    // is inside the SEGMENT envelope but provably outside every file.
    // RDD-backed so the optimizer cannot collapse the two partitions
    // into one local relation (one file)
    val gapped = spark.sparkContext
      .parallelize((0 to 100).map(i => (i.toLong, "lo")), 1)
      .union(spark.sparkContext
        .parallelize((200 to 300).map(i => (i.toLong, "hi")), 1))
      .toDF("doc_id", "text")
    AtomicPublish.publish(spark, root, Map("docs" -> gapped),
      statsBy = Map("docs" -> Seq("doc_id")))
    val q = docsWhere(root, "doc_id = 150")
    assert(filesRead(q).isEmpty)
    assert(q.count() == 0)
  }

  test("clustered compaction restores file skipping after consolidation") {
    val root = freshRoot()
    // three interleaved appends — every segment and every file spans
    // ~the whole id range, so before clustering nothing file-prunes
    def shuffled(seed: Int) = {
      val rnd = new scala.util.Random(seed)
      rnd.shuffle((0 until 600).toList).map(i => (i.toLong, s"p-$i"))
        .toDF("doc_id", "text").repartition(3)
    }
    val v1 = AtomicPublish.publish(spark, root, Map("docs" -> shuffled(1)),
      statsBy = Map("docs" -> Seq("doc_id")))
    val v2 = AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> shuffled(2)), parent = Some(v1)).get
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> shuffled(3)), parent = Some(v2))
    val before = AtomicPublish.readTable(spark, root, "docs").collect()
    val preFiles = filesRead(docsWhere(root, "doc_id = 77"))
    assert(preFiles.size == 9, s"unclustered layout should not file-prune " +
      s"a mid-range point read, got ${preFiles.size}")
    // tiny target forces multiple output files; clusterBy makes each
    // carry a tight disjoint doc_id range
    val (ctxn, parts) = Compaction.compactStore(spark, root, "docs",
      targetBytes = 8 * 1024, clusterBy = Seq("doc_id"))
    assert(parts > 1)
    val meta = AtomicPublish.manifestMetaOf(spark, root, ctxn)("docs")
    assert(meta.owners == Seq(ctxn))
    assert(meta.fileStats(ctxn).size > 1)
    val post = docsWhere(root, "doc_id = 77")
    assert(filesRead(post).size == 1)
    assert(post.count() == 3) // one per original append
    // content is untouched by the clustering rewrite
    val after = AtomicPublish.readTable(spark, root, "docs").collect()
    assert(after.toSeq.sortBy(r => (r.getLong(0), r.getString(1))) ==
      before.toSeq.sortBy(r => (r.getLong(0), r.getString(1))))
  }

  test("partitioned layout: partition pruning + file subset compose") {
    val root = freshRoot()
    // two partition values, each with two range-disjoint files (RDD
    // partitions survive to write tasks; local relations would collapse)
    def slice(cell: Int, ids: Range) = spark.sparkContext
      .parallelize(ids.map(i => (i.toLong, cell, s"c$cell-$i")), 1)
    val df = slice(1, 0 until 50).union(slice(1, 50 until 100))
      .union(slice(2, 0 until 50)).union(slice(2, 50 until 100))
      .toDF("doc_id", "cell", "text")
    AtomicPublish.publish(spark, root, Map("docs" -> df),
      partitionBy = Map("docs" -> Seq("cell")),
      statsBy = Map("docs" -> Seq("doc_id")))
    val q = docsWhere(root, "cell = 1 AND doc_id < 30")
    // doc_id < 30 file-prunes to the [0,49] file of each cell, and the
    // PartitionFilter on 'cell' (a partition column, not a stat column)
    // drops cell=2's: one file read
    val read = filesRead(q)
    assert(read.size == 1, s"expected cell=1's low-range file, $read")
    assert(read.count(_.contains("cell=1")) == 1)
    // partition values survive the pruned read
    val rows = q.select("doc_id", "cell").collect()
    assert(rows.length == 30 && rows.forall(_.getInt(1) == 1))
  }

  test("big IN list with a NULL element: planning survives and the envelope prunes") {
    // OptimizeIn folds `k IN (NULL, v1..v65)` into an InSet whose hash
    // set CONTAINS null; the >64-value integral envelope used to
    // minBy(longValue) straight into an NPE at listFiles time. A null
    // IN-list element never admits a row, so the envelope over the
    // non-null remainder is sound.
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root,
      Map("docs" -> rangedDf(0 until 400, 4)),
      statsBy = Map("docs" -> Seq("doc_id")))
    val v2 = AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> rangedDf(400 until 800, 4)),
      parent = Some(v1)).get
    val meta = AtomicPublish.manifestMetaOf(spark, root, v2)("docs")
    // unit pin on the exact shape OptimizeIn produces
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      InSet}
    import org.apache.spark.sql.types.LongType
    val hset: Set[Any] = (0L to 65L).map(Long.box).toSet[Any] + null
    val kept = AtomicPublish.pruneOwnersExpr(spark, meta, meta.owners,
      InSet(AttributeReference("doc_id", LongType)(), hset))
    assert(kept == Seq(v1), s"envelope [0,65] should reject v2, got $kept")
    // end-to-end: the optimizer folds and pushes this very InSet
    val q = AtomicPublish.readTable(spark, root, "docs")
      .where(s"doc_id IN (NULL, ${(0L to 65L).mkString(", ")})")
    assert(q.count() == 66)
    // an all-null remainder ADMITS NO ROW (`x IN (NULL)` is never
    // true) — since r13 the zone maps prove every segment dead instead
    // of keeping conservatively (ADVICE r12 #1's empty-InSet posture)
    val keptAll = AtomicPublish.pruneOwnersExpr(spark, meta, meta.owners,
      InSet(AttributeReference("doc_id", LongType)(), Set[Any](null)))
    assert(keptAll.isEmpty, s"all-null IN kept $keptAll")
  }

  test("appends without clustering stay correct: whole-dir fallback") {
    val root = freshRoot()
    // a one-file segment: pruning keeps it whole (no subset possible)
    val v1 = AtomicPublish.publish(spark, root,
      Map("docs" -> rangedDf(0 until 100, 1)),
      statsBy = Map("docs" -> Seq("doc_id")))
    val q = docsWhere(root, "doc_id = 5")
    assert(filesRead(q).size == 1)
    assert(q.count() == 1)
    // and a schema-evolving append backfills file maps too: the new
    // column is all-null in v1's files, so a NOT NULL read skips them
    val v2 = AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> (100 until 200).map(i =>
        (i.toLong, s"p-$i", i * 2L)).toDF("doc_id", "text", "extra")
        .coalesce(1)),
      parent = Some(v1), statsBy = Map("docs" -> Seq("doc_id", "extra"))).get
    val nn = docsWhere(root, "extra IS NOT NULL")
    val nnRead = filesRead(nn)
    assert(nnRead.size == 1 && nnRead.forall(_.contains(s"v_$v2")))
    assert(nn.count() == 100)
  }
}
