package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Bloom-filter sidecars — the third leg of store data skipping
  * (partition layout / zone maps / blooms). Zone maps only prune when
  * data is CLUSTERED by the probe column; an interleaved ingest history
  * has every segment spanning the full key range, so `doc_id = X` reads
  * everything. A per-segment bloom sidecar (inside the immutable
  * segment dir — rides the seal rename, vacuumed with its owner, zero
  * manifest weight) answers equality probes at ~1% false-positive rate:
  * a point lookup over a thousand-batch history reads ~the one segment
  * that holds the key. Soundness invariant: a bloom may keep a segment
  * needlessly, never drop one that matches. */
class StoreBloomSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("store-bloom").resolve("tables").toString

  /** Segment k holds ids ≡ k (mod 3) — every segment SPANS the full
    * range, so zone maps cannot prune any of them. */
  private def interleaved(root: String, ids: Range): Seq[String] = {
    def seg(k: Int): DataFrame =
      ids.filter(_ % 3 == k).map(i => (i.toLong, s"p-$i"))
        .toDF("doc_id", "text")
    val v1 = AtomicPublish.publish(spark, root, Map("docs" -> seg(0)),
      statsBy = Map("docs" -> Seq("doc_id")),
      bloomBy = Map("docs" -> Seq("doc_id")))
    val v2 = AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> seg(1)), parent = Some(v1)).get
    val v3 = AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> seg(2)), parent = Some(v2)).get
    Seq(v1, v2, v3)
  }

  /** Executes `df`: the segments of the files it read, and how many
    * files that was. */
  private def segmentsRead(df: DataFrame): (Set[String], Int) = {
    val read = ScanFiles.paths(df)
    (read.flatMap(_.split("/").find(_.startsWith("v_"))).toSet, read.size)
  }

  private def docsWhere(root: String, w: String): DataFrame =
    AtomicPublish.readTable(spark, root, "docs").where(w)

  test("point lookup reads only the bloom-admitting segment") {
    val root = freshRoot()
    val Seq(v1, v2, v3) = interleaved(root, 0 until 900)
    // 400 ≡ 1 (mod 3) → only v2 can hold it; zone maps cannot know that
    val q = docsWhere(root, "doc_id = 400")
    assert(segmentsRead(q) == ((Set(s"v_$v2"), 1)))
    assert(q.collect().toSeq ==
      Seq(org.apache.spark.sql.Row(400L, "p-400")))
    // an absent key reads (almost surely) nothing at 1% fpp × 3 segs
    val miss = docsWhere(root, "doc_id = 123456789")
    assert(ScanFiles(miss) == 0)
    assert(miss.count() == 0)
    // IN-list across two residue classes admits exactly those segments
    val in = docsWhere(root, "doc_id IN (30, 31)")
    assert(segmentsRead(in) == ((Set(s"v_$v1", s"v_$v2"), 2)))
    assert(in.count() == 2)
  }

  test("string bloom columns probe exactly") {
    val root = freshRoot()
    def seg(tag: String, ids: Range) =
      ids.map(i => (i.toLong, s"$tag-$i")).toDF("doc_id", "name")
    val v1 = AtomicPublish.publish(spark, root,
      Map("t" -> seg("alpha", 0 until 50)),
      bloomBy = Map("t" -> Seq("name")))
    val v2 = AtomicPublish.publishDelta(spark, root,
      append = Map("t" -> seg("beta", 50 until 100)),
      parent = Some(v1)).get
    val q = AtomicPublish.readTable(spark, root, "t")
      .where("name = 'beta-60'")
    assert(segmentsRead(q) == ((Set(s"v_$v2"), 4)))
    assert(q.count() == 1)
  }

  test("bloom never drops a matching segment (randomized soundness)") {
    val root = freshRoot()
    interleaved(root, 0 until 600)
    // the oracle: every row materialized first, nothing skipped
    val full = AtomicPublish.readTable(spark, root, "docs").localCheckpoint()
    val rnd = new scala.util.Random(7)
    (1 to 40).foreach { _ =>
      val id = rnd.nextInt(700) // some present, some absent
      val p = s"doc_id = $id"
      val q = docsWhere(root, p)
      // a present key reads its one file; these absent ones read none
      assert(ScanFiles(q) == (if (id < 600) 1 else 0), p)
      assert(q.collect().toSet == full.where(p).collect().toSet,
        s"bloom soundness violated for: $p")
    }
  }

  test("disjunctions and ranges contribute no probes (conservative)") {
    val root = freshRoot()
    val Seq(v1, v2, v3) = interleaved(root, 0 until 300)
    // OR at top level: blooms must not prune either side
    val or = docsWhere(root, "doc_id = 30 OR doc_id = 31")
    assert(segmentsRead(or) == ((Set(s"v_$v1", s"v_$v2", s"v_$v3"), 3)))
    assert(or.count() == 2)
    // a range is not an equality probe
    val range = docsWhere(root, "doc_id >= 100 AND doc_id < 103")
    assert(ScanFiles(range) == 3)
    assert(range.count() == 3)
  }

  test("missing sidecar keeps the segment; compaction rebuilds blooms") {
    val root = freshRoot()
    val Seq(v1, _, _) = interleaved(root, 0 until 300)
    // delete v1's sidecar: its segment must be kept conservatively
    val sidecar = new org.apache.hadoop.fs.Path(
      s"$root/v_$v1/docs/_bloom_doc_id.bin")
    sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(sidecar, false)
    val q = docsWhere(root, "doc_id = 0") // lives in v1
    assert(ScanFiles(q) == 1)
    assert(q.count() == 1)
    // compaction consolidates and REBUILDS the sidecar for the new
    // owner (bloom cols inherited through the replace)
    val (ctxn, _) = Compaction.compactStore(spark, root, "docs")
    val meta = AtomicPublish.manifestMetaOf(spark, root, ctxn)("docs")
    assert(meta.bloomCols == Seq("doc_id"))
    val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/v_$ctxn/docs/_bloom_doc_id.bin")))
    val compacted = docsWhere(root, "doc_id = 0")
    assert(ScanFiles(compacted) == 1)
    assert(compacted.count() == 1)
  }

  test("corrupt sidecar only disables skipping for its segment (NonFatal)") {
    val root = freshRoot()
    val Seq(v1, v2, _) = interleaved(root, 0 until 90)
    // truncate/garbage the first segment's sidecar: BloomFilter.readFrom
    // throws a FORMAT error (not IOException) on this — the read must
    // degrade to keeping the segment, never fail
    val sidecar = java.nio.file.Paths.get(root, s"v_$v1", "docs",
      "_bloom_doc_id.bin")
    java.nio.file.Files.write(sidecar, Array[Byte](1, 2, 3))
    val q = docsWhere(root, "doc_id = 1") // 1 ≡ 1 (mod 3): lives in v2
    // v1's damaged bloom keeps v1 conservatively; v2 admits; v3 skips
    assert(segmentsRead(q) == ((Set(s"v_$v1", s"v_$v2"), 2)))
    assert(q.collect().toSeq ==
      Seq(org.apache.spark.sql.Row(1L, "p-1")))
  }

  test("non-hashable bloom columns fail fast at publish") {
    val root = freshRoot()
    val df = Seq((1L, 2.5)).toDF("doc_id", "x")
    val e = intercept[IllegalArgumentException] {
      AtomicPublish.publish(spark, root, Map("t" -> df),
        bloomBy = Map("t" -> Seq("x")))
    }
    assert(e.getMessage.contains("bloom"))
  }
}
