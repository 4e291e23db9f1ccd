package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.SparkSuite

/** The store's WRITE face: `df.write.format("graft")` (atomic
  * CAS-committed save modes, layout options, recorded-schema
  * validation). */
class StoreWriteSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("storewrite").resolve("store").toString

  private def docs(ids: Range, lang: String): DataFrame =
    ids.map(i => (i.toLong, lang)).toDF("doc_id", "lang")

  private def readIds(root: String, table: String = "docs"): Set[Long] =
    AtomicPublish.readTable(spark, root, table)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("batch write: create, append, overwrite, save-mode contracts") {
    val root = freshRoot()
    // create (store birth) — then append grows, overwrite replaces
    docs(0 until 10, "en").write.format("graft")
      .option("root", root).option("table", "docs").save()
    assert(readIds(root) == (0L until 10L).toSet)
    docs(10 until 15, "de").write.format("graft")
      .option("root", root).option("table", "docs")
      .mode(SaveMode.Append).save()
    assert(readIds(root) == (0L until 15L).toSet)
    val beforeOverwrite = AtomicPublish.currentTxn(spark, root).get
    docs(100 until 103, "fr").write.format("graft")
      .option("root", root).option("table", "docs")
      .mode(SaveMode.Overwrite).save()
    assert(readIds(root) == (100L until 103L).toSet)
    // history stayed time-travelable across the replace
    assert(AtomicPublish.readTableAt(spark, root, "docs", beforeOverwrite)
      .count() == 15)
    // ErrorIfExists refuses; Ignore no-ops
    intercept[IllegalStateException] {
      docs(0 until 1, "en").write.format("graft")
        .option("root", root).option("table", "docs")
        .mode(SaveMode.ErrorIfExists).save()
    }
    docs(0 until 1, "en").write.format("graft")
      .option("root", root).option("table", "docs")
      .mode(SaveMode.Ignore).save()
    assert(readIds(root) == (100L until 103L).toSet)
    // Append to a NEW table name creates it in the existing store
    docs(7 until 9, "zh").write.format("graft")
      .option("root", root).option("table", "extra")
      .mode(SaveMode.Append).save()
    assert(readIds(root, "extra") == Set(7L, 8L))
  }

  test("batch write records layout options; append inherits them") {
    val root = freshRoot()
    docs(0 until 20, "en").write.format("graft")
      .option("root", root).option("table", "docs")
      .option("statsBy", "doc_id").option("bloomBy", "doc_id").save()
    val meta1 = AtomicPublish.currentManifestMeta(spark, root).get._2("docs")
    assert(meta1.statCols == Seq("doc_id") &&
      meta1.bloomCols == Seq("doc_id"))
    docs(20 until 30, "de").write.format("graft")
      .option("root", root).option("table", "docs")
      .mode(SaveMode.Append).save()
    val meta2 = AtomicPublish.currentManifestMeta(spark, root).get._2("docs")
    assert(meta2.statCols == Seq("doc_id") &&
      meta2.bloomCols == Seq("doc_id"))
    // the written table serves the Catalyst read face
    val back = spark.read.format("graft")
      .option("root", root).option("table", "docs").load()
    assert(back.select("doc_id").collect().map(_.getLong(0)).toSet ==
      (0L until 30L).toSet)
  }

  test("write face declares clustering: the declaring write has the " +
      "locality, the manifest records it, a bare compaction " +
      "re-applies it") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    val grid = spark.range(60L * 60L)
      .select((col("id") % 60).as("x"),
        (col("id") / 60).cast("long").as("y"),
        (col("id") * 31 % 997).as("v"))
    grid.repartition(8).write.format("graft")
      .option("root", root).option("table", "t")
      .option("statsBy", "x,y")
      .option("clusterBy", "x,y").option("zOrder", "true")
      .save()
    // recorded into the manifest by the WRITE — no compactStore call
    val meta = AtomicPublish.currentManifestMeta(spark, root).get._2("t")
    assert(meta.clusterCols == Seq("x", "y") && meta.clusterZOrder)
    def files(pred: String): Int = ScanFiles(
      AtomicPublish.readTable(spark, root, "t").where(pred)).toInt
    // each point read lands exactly on the files its recorded zone map
    // admits (ScanFiles.zoneAdmits: the geometry is sampler-seeded)
    def pinned(c: String): Unit =
      assert(files(s"$c = 30") == ScanFiles.zoneAdmits(spark, root, "t",
        c, 30), s"$c = 30 read files its zone map rejects")
    val total = files("x >= 0 OR x < 0")
    assert(total == meta.fileStats(meta.owners.head).size)
    pinned("x"); pinned("y")
    // the DECLARING write already prunes on both dimensions
    if (total >= 4) {
      assert(files("x = 30") < total, "x should prune on the fresh write")
      assert(files("y = 30") < total, "y should prune on the fresh write")
    }
    // appends inherit; clustering re-declaration on append is refused
    Seq((1L, 100L, 0L)).toDF("x", "y", "v").write.format("graft")
      .option("root", root).option("table", "t")
      .mode(SaveMode.Append).save()
    intercept[Exception] {
      Seq((2L, 101L, 0L)).toDF("x", "y", "v").write.format("graft")
        .option("root", root).option("table", "t")
        .option("clusterBy", "x,y").option("zOrder", "true")
        .mode(SaveMode.Append).save()
    }
    // a bare compaction re-applies the RECORDED spec (the ZOrderSpec
    // contrast pin, reached from the write face)
    val bytes = Compaction.storeTableBytes(spark, root, "t",
      AtomicPublish.currentTxn(spark, root).get)
    Compaction.compactStore(spark, root, "t",
      targetBytes = math.max(bytes / 8, 1L))
    val after = AtomicPublish.currentManifestMeta(spark, root).get._2("t")
    assert(after.owners.size == 1)
    assert(after.clusterCols == Seq("x", "y") && after.clusterZOrder,
      "write-face-declared clustering lost across compaction")
    // BOTH dimensions must still prune after the re-applied rewrite.
    // The tight locality margin lives in ZOrderSpec (fresh-session
    // geometry); here the margin is loose on purpose: the range
    // sampler inside the cluster rewrite seeds off RDD ids, so exact
    // file boundaries shift with suite order — this pin is about the
    // SPEC surviving the write-face → compaction path, not about
    // re-proving the curve's constants.
    val totalAfter = after.fileStats(after.owners.head).size
    pinned("x"); pinned("y")
    if (totalAfter >= 4) {
      assert(files("x = 30") < totalAfter, "x stopped pruning entirely")
      assert(files("y = 30") < totalAfter, "y stopped pruning entirely")
    }
    assert(AtomicPublish.readTable(spark, root, "t").count() ==
      60L * 60L + 1)
  }
}
