package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Bucketed STORE tables — the 100 TB co-location strategy served from
  * the manifest instead of a metastore: a table declared
  * `bucketBy(n, keys)` writes every segment hash-distributed with
  * bucket ids in the file names, every read face mounts the recorded
  * [[org.apache.spark.sql.catalyst.catalog.BucketSpec]], and two
  * tables bucketed the same way JOIN WITHOUT AN EXCHANGE on either
  * side. The layout is manifest-owned like partitioning: appends
  * inherit it, compaction re-applies it, divergent redeclarations are
  * refused. */
class BucketedStoreSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("bstore").resolve("store").toString

  private def docs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"text-$i", (i % 5).toString))
      .toDF("doc_id", "text", "lang")

  private def scores(ids: Range): DataFrame =
    ids.map(i => (i.toLong, i * 0.5)).toDF("doc_id", "score")

  /** Every data file under the store must carry a parseable bucket id
    * (Spark's `_%05d` suffix) — the invariant the bucketed scan needs. */
  private def allBucketIds(root: String, table: String): Seq[Int] = {
    val txn = AtomicPublish.currentTxn(spark, root).get
    val owners = AtomicPublish.manifestMetaOf(spark, root, txn)(table).owners
    owners.flatMap { o =>
      val dir = new java.io.File(s"$root/v_$o/$table")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(dir).filter(f => !f.getName.startsWith("_") &&
          !f.getName.startsWith(".") && f.getName.endsWith(".parquet"))
        .map { f =>
          BucketingUtils.getBucketId(f.getName).getOrElse(
            fail(s"file ${f.getName} has no bucket id"))
        }
    }
  }

  /** Executed-plan text AFTER execution (AQE-final). */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("bucketed publish: recorded spec, bucket-named files, read parity") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 300)),
      bucketBy = Map("docs" -> (Seq("doc_id"), 8)))
    val txn = AtomicPublish.currentTxn(spark, root).get
    val meta = AtomicPublish.manifestMetaOf(spark, root, txn)("docs")
    assert(meta.numBuckets == 8 && meta.bucketCols == Seq("doc_id"))
    val ids = allBucketIds(root, "docs")
    assert(ids.nonEmpty && ids.forall(i => i >= 0 && i < 8))
    assert(ids.distinct.size > 1, "all rows hashed to one bucket?")
    assert(AtomicPublish.readTable(spark, root, "docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      (0L until 300L).toSet)
  }

  test("two co-bucketed tables join with ZERO exchanges; parity with " +
      "the shuffling join") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map(
      "docs" -> docs(0 until 300), "scores" -> scores(100 until 400)),
      bucketBy = Map("docs" -> (Seq("doc_id"), 8),
        "scores" -> (Seq("doc_id"), 8)))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = AtomicPublish.readTable(spark, root, "docs")
        .join(AtomicPublish.readTable(spark, root, "scores"), "doc_id")
        .groupBy("lang").agg(sum("score").as("s"), count(lit(1)).as("n"))
      val plan = finalPlan(joined)
      assert(plan.contains("SortMergeJoin"), plan)
      val joinPart = plan.split("HashAggregate").last
      assert(!joinPart.contains("Exchange hashpartitioning"), joinPart)
      // parity with a plain (unbucketed, shuffling) computation
      val want = docs(0 until 300).join(scores(100 until 400), "doc_id")
        .groupBy("lang").agg(sum("score").as("s"), count(lit(1)).as("n"))
        .orderBy("lang").collect().toSeq
      assert(joined.orderBy("lang").collect().toSeq == want)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("appends inherit the bucket layout; the grown table still joins " +
      "exchange-free; mismatched redeclaration refused") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map(
      "docs" -> docs(0 until 200), "scores" -> scores(0 until 500)),
      bucketBy = Map("docs" -> (Seq("doc_id"), 4),
        "scores" -> (Seq("doc_id"), 4)))
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> docs(200 until 500)),
      parent = AtomicPublish.currentTxn(spark, root))
    val txn = AtomicPublish.currentTxn(spark, root).get
    val meta = AtomicPublish.manifestMetaOf(spark, root, txn)("docs")
    assert(meta.owners.size == 2 && meta.numBuckets == 4)
    assert(allBucketIds(root, "docs").forall(i => i >= 0 && i < 4))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = AtomicPublish.readTable(spark, root, "docs")
        .join(AtomicPublish.readTable(spark, root, "scores"), "doc_id")
        .agg(sum("score").as("s"), count(lit(1)).as("n"))
      val plan = finalPlan(joined)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.split("HashAggregate").last
        .contains("Exchange hashpartitioning"), plan)
      assert(joined.collect().head.getLong(1) == 500L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // a divergent bucket redeclaration on append is refused
    val e = intercept[IllegalArgumentException] {
      AtomicPublish.publishDelta(spark, root,
        append = Map("docs" -> docs(500 until 510)),
        parent = AtomicPublish.currentTxn(spark, root),
        bucketBy = Map("docs" -> (Seq("doc_id"), 8)))
    }
    assert(e.getMessage.contains("bucket layout"))
  }

  test("groupBy on the bucket key aggregates without any exchange") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 300)),
      bucketBy = Map("docs" -> (Seq("doc_id"), 8)))
    val agg = AtomicPublish.readTable(spark, root, "docs")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val plan = finalPlan(agg)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(agg.count() == 300)
  }

  test("bucket pruning: a point predicate on the bucket key scans ONE " +
      "bucket of n") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 400)),
      bucketBy = Map("docs" -> (Seq("doc_id"), 8)))
    // autoBucketedScan (default on) trades pruning for scan
    // parallelism on plain filters; with it off, the planner keeps the
    // bucketed scan and the point predicate prunes to ONE bucket — the
    // 1/n-of-the-files point-lookup path a bucketed 100 TB table serves
    val prev = spark.conf
      .get("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    spark.conf
      .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val q = AtomicPublish.readTable(spark, root, "docs")
        .filter(col("doc_id") === 123L)
      val plan = finalPlan(q)
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"), plan)
      assert(q.count() == 1)
    } finally spark.conf
      .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
  }

  test("deletes on a bucketed table: delete-aware read parity survives") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 100)),
      bucketBy = Map("docs" -> (Seq("doc_id"), 4)))
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(3L, 17L, 64L).toDF("doc_id")))
    assert(AtomicPublish.readTable(spark, root, "docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      ((0L until 100L).toSet -- Set(3L, 17L, 64L)))
  }

  test("compaction preserves the bucket layout and the exchange-free join") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map(
      "docs" -> docs(0 until 200), "scores" -> scores(0 until 300)),
      bucketBy = Map("docs" -> (Seq("doc_id"), 4),
        "scores" -> (Seq("doc_id"), 4)))
    (0 until 3).foreach { k =>
      AtomicPublish.publishDelta(spark, root,
        append = Map("docs" -> docs(200 + k * 50 until 250 + k * 50)),
        parent = AtomicPublish.currentTxn(spark, root))
    }
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(7L).toDF("doc_id")))
    Compaction.compactStore(spark, root, "docs")
    val txn = AtomicPublish.currentTxn(spark, root).get
    val meta = AtomicPublish.manifestMetaOf(spark, root, txn)("docs")
    assert(meta.owners.size == 1, "compaction did not consolidate")
    assert(meta.numBuckets == 4 && meta.bucketCols == Seq("doc_id"))
    assert(allBucketIds(root, "docs").forall(i => i >= 0 && i < 4))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = AtomicPublish.readTable(spark, root, "docs")
        .join(AtomicPublish.readTable(spark, root, "scores"), "doc_id")
        .agg(count(lit(1)).as("n"))
      val plan = finalPlan(joined)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.split("HashAggregate").last
        .contains("Exchange hashpartitioning"), plan)
      assert(joined.collect().head.getLong(0) == 299L) // 300 ∩ 350 − 1 del
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("declaration guards: cluster+bucket exclusive; unbucketable type; " +
      "partition-column overlap") {
    val root = freshRoot()
    val e1 = intercept[IllegalArgumentException] {
      AtomicPublish.publish(spark, root, Map("t" -> docs(0 until 10)),
        bucketBy = Map("t" -> (Seq("doc_id"), 4)),
        clusterBy = Map("t" -> (Seq("doc_id"), false)))
    }
    assert(e1.getMessage.contains("mutually exclusive"))
    val e2 = intercept[Exception] {
      AtomicPublish.publish(spark, root,
        Map("t" -> Seq((1L, Map("a" -> 0.1))).toDF("k", "v")),
        bucketBy = Map("t" -> (Seq("v"), 4)))
    }
    assert(e2.getMessage.contains("not bucketable"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      AtomicPublish.publish(spark, root, Map("t" -> docs(0 until 10)),
        partitionBy = Map("t" -> Seq("lang")),
        bucketBy = Map("t" -> (Seq("lang"), 4)))
    }
    assert(e3.getMessage.contains("partition column"))
  }

  test("write face option and SQL DDL both declare bucketing; INSERT " +
      "inherits it") {
    // df.write.format("graft").option("bucketBy", "4:doc_id")
    val root = freshRoot()
    docs(0 until 100).write.format("graft")
      .option("root", root).option("table", "docs")
      .option("bucketBy", "4:doc_id").save()
    val txn = AtomicPublish.currentTxn(spark, root).get
    assert(AtomicPublish.manifestMetaOf(spark, root, txn)("docs")
      .numBuckets == 4)
    assert(allBucketIds(root, "docs").forall(i => i >= 0 && i < 4))
    // SQL: CREATE TABLE … CLUSTERED BY (…) INTO n BUCKETS, then INSERT
    val root2 = freshRoot()
    val cat = "bstorecat"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root2)
    spark.sql(s"CREATE TABLE $cat.docs (doc_id BIGINT, text STRING) " +
      "CLUSTERED BY (doc_id) INTO 4 BUCKETS")
    spark.sql(s"INSERT INTO $cat.docs " +
      "SELECT id AS doc_id, concat('t', id) AS text FROM range(0, 200)")
    val txn2 = AtomicPublish.currentTxn(spark, root2).get
    val meta2 = AtomicPublish.manifestMetaOf(spark, root2, txn2)("docs")
    assert(meta2.numBuckets == 4 && meta2.bucketCols == Seq("doc_id"))
    assert(allBucketIds(root2, "docs").forall(i => i >= 0 && i < 4))
    assert(spark.sql(s"SELECT count(*) FROM $cat.docs")
      .head().getLong(0) == 200)
  }
}
