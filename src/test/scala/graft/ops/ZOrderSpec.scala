package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Z-order clustering: the Morton interleave is exact arithmetic, and
  * the clustered layout gives EVERY dimension file-pruning power —
  * the property lexicographic clustering only grants its leading
  * column. */
class ZOrderSpec extends SparkSuite {
  import spark.implicits._

  /** Files a point read `c = v` reads, after execution. */
  private def files(root: String, pred: String): Int =
    ScanFiles(AtomicPublish.readTable(spark, root, "t").where(pred)).toInt

  private def admitting(root: String, c: String, v: Long): Int =
    ScanFiles.zoneAdmits(spark, root, "t", c, v)

  test("morton interleave arithmetic: hand-computed keys") {
    // buckets (3, 5): 3 = 011b contributes bits at positions 0 and 2,
    // 5 = 101b at positions 1 and 5 → z = 1 + 4 + 2 + 32 = 39
    val row = Seq((3, 5)).toDF("a", "b")
      .select(ZOrder.zCol(Seq(col("a"), col("b"))).as("z"))
      .head()
    assert(row.getLong(0) == 39L)
    // interleave is monotone per dimension holding the other fixed
    val z0 = Seq((0, 7)).toDF("a", "b")
      .select(ZOrder.zCol(Seq(col("a"), col("b")))).head().getLong(0)
    val z1 = Seq((1, 7)).toDF("a", "b")
      .select(ZOrder.zCol(Seq(col("a"), col("b")))).head().getLong(0)
    assert(z1 > z0)
  }

  test("bucketCol: monotone rank map, nulls to bucket 0") {
    val bs = (1 until ZOrder.Buckets).map(_.toDouble)
    val out = Seq[java.lang.Double](0.5, 1.0, 128.7, 300.0, null)
      .toDF("v")
      .select(ZOrder.bucketCol(col("v"), bs).as("b"))
      .collect().map(_.getInt(0)).toSeq
    assert(out == Seq(0, 1, 128, 255, 0))
  }

  test("z-order clustering prunes files on EVERY clustered dimension") {
    val zroot = Files.createTempDirectory("zorder").resolve("t").toString
    val lroot = Files.createTempDirectory("lexo").resolve("t").toString
    val grid: DataFrame = spark.range(80L * 80L)
      .select((col("id") % 80).as("x"), (col("id") / 80).cast("long").as("y"),
        (col("id") * 31 % 997).as("v"))
    Seq(zroot, lroot).foreach { r =>
      AtomicPublish.publish(spark, r, Map("t" -> grid.repartition(4)),
        statsBy = Map("t" -> Seq("x", "y")))
    }
    val bytes = Compaction.storeTableBytes(spark, zroot, "t",
      AtomicPublish.currentTxn(spark, zroot).get)
    val target = math.max(bytes / 16, 1L) // force ~16 output files
    val (ztxn, zparts) = Compaction.compactStore(spark, zroot, "t",
      targetBytes = target, clusterBy = Seq("x", "y"), zOrder = true)
    val (_, lparts) = Compaction.compactStore(spark, lroot, "t",
      targetBytes = target, clusterBy = Seq("x", "y"))
    assert(zparts >= 8 && lparts >= 8)
    val zTotal = AtomicPublish.manifestMetaOf(spark, zroot, ztxn)("t")
      .fileStats(ztxn).size
    // z-order: BOTH dimensions prune to a strict subset
    val zx = files(zroot, "x = 40"); val zy = files(zroot, "y = 40")
    assert(zx < zTotal && zx <= zTotal / 2, s"x: $zx of $zTotal")
    assert(zy < zTotal && zy <= zTotal / 2, s"y: $zy of $zTotal")
    assert(zx == admitting(zroot, "x", 40) && zy == admitting(zroot, "y", 40))
    // lexicographic: the leading column prunes hard, the trailing one
    // cannot prune at all (every file spans the full y range)
    val lTotal = files(lroot, "x >= 0 OR x < 0") // tautology: all files
    val lx = files(lroot, "x = 40"); val ly = files(lroot, "y = 40")
    assert(lx <= 2)
    assert(ly == lTotal, s"lexicographic y should read all: $ly != $lTotal")
    assert(lx == admitting(lroot, "x", 40) &&
      ly == admitting(lroot, "y", 40))
    assert(zy < ly, "z-order must beat lexicographic on the trailing dim")
    // equivalence on both layouts, against the unstored source
    val want = grid.where("y = 40").collect().toSet
    Seq(zroot, lroot).foreach { r =>
      val got = AtomicPublish.readTable(spark, r, "t").where("y = 40")
        .collect().toSet
      assert(got == want && got.size == 80)
    }
  }

  test("recorded clustering survives a bare compaction") {
    val root = Files.createTempDirectory("zkeep").resolve("t").toString
    val grid: DataFrame = spark.range(80L * 80L)
      .select((col("id") % 80).as("x"), (col("id") / 80).cast("long").as("y"),
        (col("id") * 31 % 997).as("v"))
    AtomicPublish.publish(spark, root, Map("t" -> grid.repartition(4)),
      statsBy = Map("t" -> Seq("x", "y")))
    val bytes = Compaction.storeTableBytes(spark, root, "t",
      AtomicPublish.currentTxn(spark, root).get)
    val target = math.max(bytes / 16, 1L)
    // declare z-order once — compactStore RECORDS it in the manifest
    Compaction.compactStore(spark, root, "t", targetBytes = target,
      clusterBy = Seq("x", "y"), zOrder = true)
    val cur = AtomicPublish.currentManifestMeta(spark, root).get
    assert(cur._2("t").clusterCols == Seq("x", "y") &&
      cur._2("t").clusterZOrder)
    val freshX = files(root, "x = 40"); val freshY = files(root, "y = 40")
    assert(freshX == admitting(root, "x", 40) &&
      freshY == admitting(root, "y", 40))
    // a 20-trigger ingest appends unclustered slices and inherits the
    // declared layout without re-declaring anything
    (0 until 20).foreach { i =>
      AtomicPublish.publishDelta(spark, root, append = Map("t" ->
        Seq((i.toLong, 100L + i, 0L)).toDF("x", "y", "v")),
        parent = AtomicPublish.currentTxn(spark, root))
    }
    // a bare compaction (no clustering args anywhere) must re-apply
    // the RECORDED z-order, not consolidate into an unclustered blob
    val txn = AtomicPublish.currentTxn(spark, root).get
    Compaction.compactStore(spark, root, "t", targetBytes = target)
    val after = AtomicPublish.currentManifestMeta(spark, root).get
    assert(after._1 != txn, "compaction should have committed")
    assert(after._2("t").owners.size == 1)
    assert(after._2("t").clusterCols == Seq("x", "y") &&
      after._2("t").clusterZOrder, "recorded clustering lost")
    // point reads on BOTH dimensions still prune to a strict fraction
    // of the files — an unclustered consolidation (the regression this
    // pins against) reads every file on at least one of them. Exact
    // counts shift by ±2 with the re-derived quantile boundaries, so
    // the pin is fractional, not equality with the fresh layout.
    // the re-derived quantile boundaries seed off RDD ids, so file
    // geometry shifts with SUITE ORDER (not just data): the near-fresh
    // bound carries a wider ±5 margin — the fractional pin on the
    // previous line is the regression detector, this one only guards
    // against wholesale locality loss
    val totalAfter = after._2("t").fileStats(after._2("t").owners.head).size
    val ax = files(root, "x = 40"); val ay = files(root, "y = 40")
    assert(ax == admitting(root, "x", 40) && ay == admitting(root, "y", 40))
    assert(ax * 3 <= totalAfter * 2 && ax <= freshX + 5,
      s"x: $ax of $totalAfter (fresh $freshX)")
    assert(ay * 3 <= totalAfter * 2 && ay <= freshY + 5,
      s"y: $ay of $totalAfter (fresh $freshY)")
    // and the consolidated table is complete
    assert(AtomicPublish.readTable(spark, root, "t").count() ==
      80L * 80L + 20L)
  }

  test("zOrder guard rails: column count, types, flat layout") {
    val root = Files.createTempDirectory("zguard").resolve("t").toString
    AtomicPublish.publish(spark, root,
      Map("t" -> Seq((1L, "s", 2L)).toDF("a", "b", "c")),
      statsBy = Map("t" -> Seq("a")))
    intercept[IllegalArgumentException] {
      Compaction.compactStore(spark, root, "t",
        clusterBy = Seq("a"), zOrder = true) // one column
    }
    intercept[IllegalArgumentException] {
      Compaction.compactStore(spark, root, "t",
        clusterBy = Seq("a", "b"), zOrder = true) // non-numeric
    }
  }
}
