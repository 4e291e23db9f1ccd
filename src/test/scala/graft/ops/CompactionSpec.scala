package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

class CompactionSpec extends SparkSuite {
  import spark.implicits._

  test("compaction collapses a fragmented table without changing its data") {
    val dir = Files.createTempDirectory("graft-compact").resolve("t").toString
    val df = spark.range(5000).select(col("id"),
      concat(lit("row-"), col("id")).as("s"))
    df.repartition(40).write.parquet(dir) // the streaming-sink pathology
    val before = spark.read.parquet(dir).collect().sortBy(_.getLong(0)).toSeq

    val res = Compaction.compact(spark, dir, targetBytes = 1L << 30)
    assert(res.filesBefore == 40, res.toString)
    assert(res.filesAfter == 1, res.toString)
    assert(res.partitions == 1)

    val after = spark.read.parquet(dir).collect().sortBy(_.getLong(0)).toSeq
    assert(after == before)
  }

  test("compactStore consolidates delta segments; vacuum then reclaims them") {
    val root = Files.createTempDirectory("graft-cstore").resolve("s").toString
    val v0 = AtomicPublish.publish(spark, root,
      Map("t" -> Seq(0L).toDF("id"), "other" -> Seq(9L).toDF("id")))
    // accrete three delta segments (the streaming-sink pathology, at
    // the store level)
    val segs = (1 to 3).scanLeft(v0) { (parent, k) =>
      AtomicPublish.publishDelta(spark, root,
        append = Map("t" -> Seq(k.toLong).toDF("id")),
        parent = Some(parent)).get
    }
    assert(AtomicPublish.manifestOf(spark, root, segs.last)("t").size == 4)

    val (txn, parts) = Compaction.compactStore(spark, root, "t",
      targetBytes = 1L << 30)
    assert(parts == 1)
    // single owner now; data identical; the carried table untouched
    assert(AtomicPublish.manifestOf(spark, root, txn)("t") == Seq(txn))
    assert(AtomicPublish.readTable(spark, root, "t")
      .as[Long].collect().toSet == Set(0L, 1L, 2L, 3L))
    assert(AtomicPublish.readTable(spark, root, "other")
      .as[Long].collect().toSet == Set(9L))
    // old segment dirs fell out of the reference closure — reclaimed
    // (v0 survives: it still owns 'other' via the carried reference)
    val deleted = AtomicPublish.vacuum(spark, root, keepLast = 1, graceMs = 0L)
    assert(segs.tail.forall(s => deleted.exists(_.contains(s"v_$s"))),
      s"segments not reclaimed: $deleted")
    assert(!deleted.exists(_.contains(s"v_$v0")))
    assert(AtomicPublish.readTable(spark, root, "t").count() == 4)
  }

  test("partition count follows on-disk bytes and the target size") {
    val dir = Files.createTempDirectory("graft-compact2").resolve("t").toString
    spark.range(2000).select(col("id"), md5(col("id").cast("string")).as("h"))
      .repartition(16).write.parquet(dir)
    val oneBig = Compaction.compactionPartitions(spark, dir, 1L << 30)
    assert(oneBig == 1)
    // a target far below the table size must split into multiple files
    val small = Compaction.compactionPartitions(spark, dir, 4096L)
    assert(small > 1, s"expected multiple partitions, got $small")
    val res = Compaction.compact(spark, dir, targetBytes = 4096L)
    assert(res.filesAfter == res.partitions && res.filesAfter > 1)
    assert(spark.read.parquet(dir).count() == 2000)
  }

  test("partitioned layouts are rejected, not silently flattened") {
    val dir = Files.createTempDirectory("graft-compact4").resolve("t").toString
    spark.range(100).select(col("id"), (col("id") % 4).as("p"))
      .write.partitionBy("p").parquet(dir)
    intercept[IllegalArgumentException] {
      Compaction.compact(spark, dir)
    }
    // table untouched: partition dirs and data intact
    assert(spark.read.parquet(dir).count() == 100)
    assert(spark.read.parquet(dir).select("p").distinct().count() == 4)
  }

  test("a crashed prior run's leftovers don't fail the next compaction") {
    val base = Files.createTempDirectory("graft-compact5")
    val dir = base.resolve("t").toString
    spark.range(200).toDF("id").repartition(6).write.parquet(dir)
    // simulate a crash that left both scratch dirs behind
    Files.createDirectory(base.resolve(".compact_t"))
    Files.createDirectory(base.resolve(".old_t"))
    val res = Compaction.compact(spark, dir, targetBytes = 1L << 30)
    assert(res.filesAfter == 1)
    assert(spark.read.parquet(dir).count() == 200)
  }

  test("no data-file name survives from the fragmented generation") {
    val base = Files.createTempDirectory("graft-compact3").resolve("t").toString
    spark.range(100).toDF("id").repartition(8).write.parquet(base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names() = fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
    val old = names()
    Compaction.compact(spark, base, targetBytes = 1L << 30)
    assert(names().intersect(old).isEmpty)
  }
}
