package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The store's PARTITIONED-TABLE and SCHEMA-EVOLUTION surface (VERDICT
  * r4 asks #1 and #4): a partition spec survives publish → append →
  * read → compaction, a partition-column filter prunes the STORE read
  * (PartitionFilters, not a data filter), appended slices are
  * schema-validated against the recorded table schema, and evolved
  * columns resolve across segments written before they existed. Plus
  * the `_LOCK` commit lease closing the cross-process CAS window. */
class StoreLayoutSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("store-layout").resolve("tables").toString

  private def planString(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  private def cellsDf(ids: Range, cellOf: Int => Int) =
    ids.map(i => (i.toLong, s"p$i", cellOf(i))).toDF("id", "payload", "cell")

  test("partitioned publish: layout on disk, filter prunes to PartitionFilters") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root,
      Map("idx" -> cellsDf(0 until 40, _ % 4)),
      partitionBy = Map("idx" -> Seq("cell")))
    // on-disk layout: cell=N subdirectories inside the owner segment
    val txn = AtomicPublish.currentTxn(spark, root).get
    val seg = new java.io.File(s"$root/v_$txn/idx")
    assert(seg.listFiles().exists(_.getName == "cell=0"), seg.listFiles().toSeq)
    val pruned = AtomicPublish.readTable(spark, root, "idx")
      .filter(col("cell").isin(1, 2))
    val p = planString(pruned)
    assert(p.contains("PartitionFilters") && p.contains("cell"), p)
    assert(!p.contains("PushedFilters: [IsNotNull(cell)"), p)
    assert(pruned.count() == 20)
    // recorded meta round-trips
    val meta = AtomicPublish.manifestMetaOf(spark, root, txn)("idx")
    assert(meta.partitionCols == Seq("cell"))
    assert(meta.schema.fieldNames.toSeq == Seq("id", "payload", "cell"))
  }

  /** Executed-plan file count of the (non-AQE) store scan — the
    * transform-pruning observable: fewer files than dirs proves the
    * raw-column predicate reached the directory layout. */
  private def tsDf(ids: Range): DataFrame =
    ids.map(i => (i.toLong,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        i.toLong * 21600)), s"p$i")) // 4 rows per UTC day
      .toDF("id", "ts", "payload")

  test("days(ts) hidden partitioning: UTC-day dirs on disk, a RAW " +
      "timestamp range predicate prunes files, results exact") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root,
      Map("ev" -> tsDf(0 until 40).repartition(1)),
      partitionBy = Map("ev" -> Seq("days(ts)")))
    val txn = AtomicPublish.currentTxn(spark, root).get
    val seg = new java.io.File(s"$root/v_$txn/ev")
    assert(seg.listFiles().exists(_.getName == "ts__day=0"),
      seg.listFiles().toSeq.map(_.getName))
    // the derived column is layout-only: reads serve the recorded shape
    val all = AtomicPublish.readTable(spark, root, "ev")
    assert(all.columns.toSeq == Seq("id", "ts", "payload"))
    assert(all.count() == 40)
    // raw-column predicate → directory pruning: days 7..9 of 0..9
    val pruned = AtomicPublish.readTable(spark, root, "ev")
      .filter(col("ts") >= lit("1970-01-08 00:00:00").cast("timestamp"))
    assert(pruned.count() == 12)
    assert(ScanFiles(pruned) == 3,
      "expected 3 of 10 day-dirs scanned")
    // equality on a timestamp inside one day prunes to that day
    val one = AtomicPublish.readTable(spark, root, "ev")
      .filter(col("ts") === lit("1970-01-03 06:00:00").cast("timestamp"))
    assert(one.count() == 1 && ScanFiles(one) == 1)
    val meta = AtomicPublish.manifestMetaOf(spark, root, txn)("ev")
    assert(meta.partitionCols == Seq("days(ts)"))
    assert(meta.schema.fieldNames.toSeq == Seq("id", "ts", "payload"))
  }

  test("TIMESTAMP_NTZ source (ADVICE-r8): days()/hours() derive " +
      "zone-free wall-clock ordinals under a non-UTC session zone, " +
      "raw NTZ predicates prune, results exact") {
    val root = freshRoot()
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    // +05:45 — an offset with minutes catches any session-zone leakage
    // into the wall-clock ordinal (hour AND day boundaries would shift)
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
    try {
      val ntz = spark.range(0, 40).select(
        col("id"),
        expr("timestampadd(HOUR, cast(id * 6 as int), " +
          "cast('1970-01-01 00:00:00' as timestamp_ntz))").as("ts"),
        concat(lit("p"), col("id")).as("payload"))
      assert(ntz.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampNTZType)
      AtomicPublish.publish(spark, root,
        Map("ev" -> ntz.repartition(1), "evh" -> ntz.repartition(1)),
        partitionBy = Map("ev" -> Seq("days(ts)"),
          "evh" -> Seq("hours(ts)")))
      val txn = AtomicPublish.currentTxn(spark, root).get
      // wall-clock day dirs: 40 rows * 6h = 10 days, ordinals 0..9
      val seg = new java.io.File(s"$root/v_$txn/ev")
      val dayDirs = seg.listFiles().map(_.getName).filter(_.startsWith("ts__day="))
      assert(dayDirs.sorted.toSeq == (0 until 10).map(d => s"ts__day=$d").sorted,
        dayDirs.toSeq)
      // a row at wall 18:00 of day 2 (id=11) must sit in ts__day=2 —
      // a UTC-converted derivation under +05:45 would place it in day 3
      val all = AtomicPublish.readTable(spark, root, "ev")
      assert(all.columns.toSeq == Seq("id", "ts", "payload"))
      assert(all.count() == 40)
      val pruned = all.filter(
        col("ts") >= lit("1970-01-08 00:00:00").cast("timestamp_ntz"))
      assert(pruned.count() == 12)
      assert(ScanFiles(pruned) == 3, "expected 3 of 10 day-dirs scanned")
      // hours(ts): 40 distinct 6-hour ordinals; a half-open wall range
      // keeps exactly its hours
      val segH = new java.io.File(s"$root/v_$txn/evh")
      assert(segH.listFiles().exists(_.getName == "ts__hour=0"),
        segH.listFiles().toSeq.map(_.getName))
      // upper bound mid-day: an exact-boundary bound would
      // conservatively admit the (empty here, so harmless elsewhere)
      // boundary hour-dir
      val prunedH = AtomicPublish.readTable(spark, root, "evh").filter(
        col("ts") >= lit("1970-01-02 00:00:00").cast("timestamp_ntz") &&
        col("ts") < lit("1970-01-02 23:00:00").cast("timestamp_ntz"))
      assert(prunedH.count() == 4)
      assert(ScanFiles(prunedH) == 4, "expected 4 of 40 hour-dirs scanned")
      // exact row identity through the layout round-trip
      val got = all.filter(col("id") === 11).select("ts")
        .as[java.time.LocalDateTime].head()
      assert(got == java.time.LocalDateTime.of(1970, 1, 3, 18, 0, 0))
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
  }

  test("months(ts): appends inherit the transform, pruning spans " +
      "owners, compaction preserves the layout") {
    val root = freshRoot()
    def monthDf(ids: Range) = ids.map(i => (i.toLong,
      java.sql.Timestamp.from(java.time.Instant.parse(
        f"1970-${1 + i % 4}%02d-15T12:00:00Z")), i * 2L))
      .toDF("id", "ts", "v")
    val v1 = AtomicPublish.publish(spark, root,
      Map("ev" -> monthDf(0 until 20).repartition(1)),
      partitionBy = Map("ev" -> Seq("months(ts)")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("ev" -> monthDf(20 until 40).repartition(1)),
      parent = Some(v1))
    val pruned = AtomicPublish.readTable(spark, root, "ev")
      .filter(col("ts") >= lit("1970-03-01 00:00:00").cast("timestamp"))
    assert(pruned.count() == 20) // months 3 and 4
    assert(ScanFiles(pruned) == 4, "2 month-dirs × 2 owners")
    // compaction rewrites under the same layout and still prunes
    Compaction.compactStore(spark, root, "ev", targetBytes = 1L << 30)
    val txn2 = AtomicPublish.currentTxn(spark, root).get
    assert(AtomicPublish.manifestMetaOf(spark, root, txn2)("ev")
      .partitionCols == Seq("months(ts)"))
    val pruned2 = AtomicPublish.readTable(spark, root, "ev")
      .filter(col("ts") < lit("1970-02-01 00:00:00").cast("timestamp"))
    assert(pruned2.count() == 10)
    val total2 = ScanFiles(AtomicPublish.readTable(spark, root, "ev"))
    assert(ScanFiles(pruned2) < total2,
      "post-compaction read must still prune month dirs")
  }

  test("years(ts) and hours(ts): the remaining calendar transforms " +
      "lay out and prune like days/months") {
    val root = freshRoot()
    // hours: 4 rows per UTC day = one row each at hours 0/6/12/18
    AtomicPublish.publish(spark, root,
      Map("ev" -> tsDf(0 until 40).repartition(1)),
      partitionBy = Map("ev" -> Seq("hours(ts)")))
    val hPruned = AtomicPublish.readTable(spark, root, "ev")
      .filter(col("ts") >= lit("1970-01-09 12:00:00").cast("timestamp"))
    assert(hPruned.count() == 6)
    assert(ScanFiles(hPruned) == 6, "one hour-dir per row")
    // years: 1970..1973, 10 rows each
    val root2 = freshRoot()
    def yearDf(ids: Range) = ids.map(i => (i.toLong,
      java.sql.Timestamp.from(java.time.Instant.parse(
        f"${1970 + i % 4}%04d-06-15T00:00:00Z")), i * 2L))
      .toDF("id", "ts", "v")
    AtomicPublish.publish(spark, root2,
      Map("ev" -> yearDf(0 until 40).repartition(1)),
      partitionBy = Map("ev" -> Seq("years(ts)")))
    // upper bound INSIDE year 1971, so the conservative boundary
    // ordinal is year 1 and exactly 2 of 4 year-dirs scan
    val yPruned = AtomicPublish.readTable(spark, root2, "ev")
      .filter(col("ts") < lit("1971-12-31 00:00:00").cast("timestamp"))
    assert(yPruned.count() == 20)
    assert(ScanFiles(yPruned) == 2, "2 of 4 year-dirs")
  }

  test("ALTER TABLE ALTER COLUMN TYPE: O(1) SQL widening; narrowing " +
      "and non-widening changes refused") {
    val root = freshRoot()
    val cat = "altertype"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (id INT, x FLOAT, p STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, CAST(0.3 AS FLOAT), 'a')")
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN id TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN x TYPE DOUBLE")
    val recorded = AtomicPublish.currentManifestMeta(spark, root)
      .get._2("t").schema
    assert(recorded("id").dataType == org.apache.spark.sql.types.LongType)
    assert(recorded("x").dataType == org.apache.spark.sql.types.DoubleType)
    // the pre-widen int/float files read promoted; new wide rows land
    val big = 1L << 40 // far past Int range
    spark.sql(s"INSERT INTO $cat.t VALUES ($big, 1.5, 'b')")
    assert(spark.sql(s"SELECT sum(id) FROM $cat.t").head().getLong(0) ==
      big + 1L)
    // narrowing refused — Spark's own up-cast analysis catches it
    // before the catalog's widening guard (which still protects the
    // direct TableCatalog API path)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN id TYPE INT")
    }
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      e.getMessage.contains("widening"), e.getMessage)
    // a non-widening change refused too
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN p TYPE BIGINT")
    }
  }

  test("SQL DDL face: CREATE TABLE PARTITIONED BY (days(ts)) + INSERT " +
      "prunes from a raw predicate; rename maps the transform source") {
    val root = freshRoot()
    val cat = "layouttf"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(
      s"""CREATE TABLE $cat.ev (id BIGINT, ts TIMESTAMP, payload STRING)
         |PARTITIONED BY (days(ts))""".stripMargin)
    tsDf(0 until 40).repartition(1).createOrReplaceTempView("layouttf_src")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM layouttf_src")
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.ev WHERE ts >= '1970-01-08'")
      .head().getLong(0) == 12)
    val meta = AtomicPublish.currentManifestMeta(spark, root).get._2("ev")
    assert(meta.partitionCols == Seq("days(ts)"))
    // ALTER TABLE RENAME COLUMN maps the spec's source column
    spark.sql(s"ALTER TABLE $cat.ev RENAME COLUMN ts TO event_ts")
    val meta2 = AtomicPublish.currentManifestMeta(spark, root).get._2("ev")
    assert(meta2.partitionCols == Seq("days(event_ts)"))
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.ev WHERE event_ts >= '1970-01-08'")
      .head().getLong(0) == 12)
  }

  test("format(\"graft\") read of a transform-partitioned table serves " +
      "the RECORDED schema — no derived dir column in SELECT * " +
      "(ADVICE-r8) — and raw-predicate pruning still fires") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root,
      Map("ev" -> tsDf(0 until 40).repartition(1)),
      partitionBy = Map("ev" -> Seq("days(ts)")))
    val df = spark.read.format("graft")
      .option("root", root).option("table", "ev").load()
    assert(df.columns.toSeq == Seq("id", "ts", "payload"),
      s"derived dir column leaked: ${df.columns.toSeq}")
    assert(df.count() == 40)
    val pruned = df.filter(
      col("ts") >= lit("1970-01-08 00:00:00").cast("timestamp"))
    assert(pruned.count() == 12)
    assert(ScanFiles(pruned) == 3, "format-face pruning regressed")
    // the catalog face agrees (relationFor already reprojected; now
    // the leaf itself never exposes the internal column)
    val viaApi = AtomicPublish.readTable(spark, root, "ev")
    assert(viaApi.columns.toSeq == Seq("id", "ts", "payload"))
  }

  test("calendar transforms compose with zone maps and bloom sidecars " +
      "(stat computation survives the derived dir column)") {
    val root = freshRoot()
    // the staged segment's read-back for stats/blooms pins the SLICE
    // schema, which lacks the derived ts__day dir column — this test
    // exists because that read must DROP the unknown partition dir
    // column, not error or inject it
    AtomicPublish.publish(spark, root,
      Map("ev" -> tsDf(0 until 40).repartition(1)),
      partitionBy = Map("ev" -> Seq("days(ts)")),
      statsBy = Map("ev" -> Seq("id")),
      bloomBy = Map("ev" -> Seq("id")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("ev" -> tsDf(40 until 80).repartition(1)),
      parent = AtomicPublish.currentTxn(spark, root))
    val txn = AtomicPublish.currentTxn(spark, root).get
    val meta = AtomicPublish.manifestMetaOf(spark, root, txn)("ev")
    assert(meta.segStats.size == 2, "both segments carry zone maps")
    assert(meta.segStats.values.forall(_.cols.contains("id")))
    // point read: blooms + zone maps prune to ONE segment, day dirs
    // prune within it
    val one = AtomicPublish.readTable(spark, root, "ev").where("id = 5")
    val read = ScanFiles(one)
    assert(read == 1, s"expected segment+day pruning, read $read")
    assert(one.count() == 1)
    // combined predicate: zone map on id AND day dirs on raw ts —
    // Jan 17 is epoch day 16, so ids 64..79 match (16 rows); the id
    // zone map drops segment 1 entirely and day dirs 16..19 of
    // segment 2 serve the rest
    val both = AtomicPublish.readTable(spark, root, "ev")
      .filter(col("id") >= 60L &&
        col("ts") >= lit("1970-01-17 00:00:00").cast("timestamp"))
    assert(both.count() == 16)
    assert(ScanFiles(both) <= 4)
  }

  test("partitioned append: layout inherited, union prunes across owners") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root,
      Map("idx" -> cellsDf(0 until 20, _ % 4)),
      partitionBy = Map("idx" -> Seq("cell")))
    // no explicit partitionBy on the append: inherited from the parent
    val v2 = AtomicPublish.publishDelta(spark, root,
      append = Map("idx" -> cellsDf(20 until 40, _ % 4)),
      parent = Some(v1)).get
    val seg2 = new java.io.File(s"$root/v_$v2/idx")
    assert(seg2.listFiles().exists(_.getName.startsWith("cell=")),
      "append did not inherit the partition layout")
    val all = AtomicPublish.readTable(spark, root, "idx")
    assert(all.count() == 40)
    assert(all.select("id").as[Long].collect().toSet == (0L until 40L).toSet)
    val pruned = all.filter(col("cell") === 3)
    assert(planString(pruned).contains("PartitionFilters"), planString(pruned))
    assert(pruned.count() == 10)
    // an append that CHANGES the layout is rejected up front
    intercept[IllegalArgumentException] {
      AtomicPublish.publishDelta(spark, root,
        append = Map("idx" -> cellsDf(40 until 50, _ % 4)),
        parent = Some(v2), partitionBy = Map("idx" -> Seq("payload")))
    }
  }

  test("compactStore keeps the partition layout and the pruning") {
    val root = freshRoot()
    var txn = AtomicPublish.publish(spark, root,
      Map("idx" -> cellsDf(0 until 10, _ % 4)),
      partitionBy = Map("idx" -> Seq("cell")))
    (1 to 3).foreach { k =>
      txn = AtomicPublish.publishDelta(spark, root,
        append = Map("idx" -> cellsDf(k * 10 until (k + 1) * 10, _ % 4)),
        parent = Some(txn)).get
    }
    assert(AtomicPublish.manifestOf(spark, root, txn)("idx").size == 4)
    val (ctxn, _) = Compaction.compactStore(spark, root, "idx")
    val meta = AtomicPublish.manifestMetaOf(spark, root, ctxn)("idx")
    assert(meta.owners == Seq(ctxn), "compaction must consolidate ownership")
    assert(meta.partitionCols == Seq("cell"), "compaction dropped the layout")
    val seg = new java.io.File(s"$root/v_$ctxn/idx")
    assert(seg.listFiles().count(_.getName.startsWith("cell=")) == 4,
      seg.listFiles().toSeq)
    val pruned = AtomicPublish.readTable(spark, root, "idx")
      .filter(col("cell") === 2)
    assert(planString(pruned).contains("PartitionFilters"), planString(pruned))
    assert(pruned.count() == 10)
    // the superseded segment chain is reclaimable; the store stays whole
    AtomicPublish.vacuum(spark, root, keepLast = 1, graceMs = 0L)
    assert(AtomicPublish.readTable(spark, root, "idx").count() == 40)
  }

  test("schema evolution: appended column resolves across segments; conflicts fail fast") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root,
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "name")))
    // evolved slice: adds `score`
    val v2 = AtomicPublish.publishDelta(spark, root,
      append = Map("t" -> Seq((3L, "c", 0.5)).toDF("id", "name", "score")),
      parent = Some(v1)).get
    val cur = AtomicPublish.readTable(spark, root, "t")
    assert(cur.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    val rows = cur.as[(Long, String, Option[Double])].collect().toSet
    assert(rows == Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(0.5))),
      rows)
    // time travel to the parent still serves the PARENT's schema
    assert(AtomicPublish.readTableAt(spark, root, "t", v1)
      .schema.fieldNames.toSeq == Seq("id", "name"))
    // a slice MISSING a recorded column is fine (nulls), recorded schema keeps it
    val v3 = AtomicPublish.publishDelta(spark, root,
      append = Map("t" -> Seq((4L, 0.9)).toDF("id", "score")),
      parent = Some(v2)).get
    val afterMissing = AtomicPublish.readTable(spark, root, "t")
    assert(afterMissing.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(afterMissing.filter(col("id") === 4L).select("name")
      .collect().head.isNullAt(0))
    // a TYPE conflict on a shared column fails before anything commits
    val e = intercept[IllegalArgumentException] {
      AtomicPublish.publishDelta(spark, root,
        append = Map("t" -> Seq((5L, 7L)).toDF("id", "name")),
        parent = Some(v3))
    }
    assert(e.getMessage.contains("schema conflict") &&
      e.getMessage.contains("name"), e.getMessage)
    assert(AtomicPublish.currentTxn(spark, root).contains(v3))
    // compaction migrates every segment to the merged schema
    val (ctxn, _) = Compaction.compactStore(spark, root, "t")
    val meta = AtomicPublish.manifestMetaOf(spark, root, ctxn)("t")
    assert(meta.owners == Seq(ctxn))
    assert(meta.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(AtomicPublish.readTable(spark, root, "t").count() == 4)
  }

  test("corrupt _CURRENT pointer surfaces as a named corrupt-store error") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("t" -> Seq(1L).toDF("id")))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "_CURRENT"),
      Array.emptyByteArray)
    val e = intercept[IllegalStateException] {
      AtomicPublish.readTable(spark, root, "t")
    }
    assert(e.getMessage.contains("corrupt store") &&
      e.getMessage.contains(root), e.getMessage)
  }

  test("vacuum keepLast ranks same-millisecond commits deterministically") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root, Map("t" -> Seq(1L).toDF("id")))
    val v2 = AtomicPublish.publish(spark, root, Map("t" -> Seq(2L).toDF("id")))
    val v3 = AtomicPublish.publish(spark, root, Map("t" -> Seq(3L).toDF("id")))
    // force a three-way marker-mtime tie
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t = System.currentTimeMillis() - 10000L
    Seq(v1, v2, v3).foreach { v =>
      fs.setTimes(new org.apache.hadoop.fs.Path(root, s"v_$v/_COMMITTED"), t, -1)
    }
    // tie-break is by version-dir name: the lexicographically smallest
    // non-live name survives keepLast=2 — same answer on every run
    val expectedKept = Seq(v1, v2).map(v => s"v_$v").sorted.head
    val d = AtomicPublish.vacuum(spark, root, keepLast = 2, graceMs = 0L)
    assert(!d.exists(_.contains(s"v_$v3")), d.mkString(","))
    assert(!d.exists(_.contains(expectedKept)), d.mkString(","))
    assert(d.count(_.contains("v_")) == 1, d.mkString(","))
  }

  // --- the cross-process commit lease ---------------------------------------

  test("a held lease defers a commit; release lets it land — no lost delta") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root, Map("t" -> Seq(1L).toDF("id")))
    // a "foreign process" holds the lease (fresh mtime: not stale)
    val lock = java.nio.file.Paths.get(root, "_LOCK")
    java.nio.file.Files.write(lock, "foreign".getBytes)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val fut = pool.submit(new java.util.concurrent.Callable[Option[String]] {
      def call(): Option[String] = AtomicPublish.publishDelta(spark, root,
        append = Map("t" -> Seq(2L).toDF("id")), parent = Some(v1))
    })
    Thread.sleep(400)
    assert(!fut.isDone, "commit went through while a foreign lease was held")
    assert(AtomicPublish.currentTxn(spark, root).contains(v1))
    java.nio.file.Files.delete(lock) // the foreign holder releases
    val v2 = fut.get(30, java.util.concurrent.TimeUnit.SECONDS)
    pool.shutdown()
    assert(v2.isDefined)
    assert(AtomicPublish.currentTxn(spark, root) == v2)
    assert(AtomicPublish.readTable(spark, root, "t")
      .as[Long].collect().toSet == Set(1L, 2L))
  }

  test("a stale lease (crashed holder) is broken and the commit proceeds") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("t" -> Seq(1L).toDF("id")))
    val lock = java.nio.file.Paths.get(root, "_LOCK")
    java.nio.file.Files.write(lock, "crashed".getBytes)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setTimes(new org.apache.hadoop.fs.Path(root, "_LOCK"),
      System.currentTimeMillis() - AtomicPublish.LeaseStaleMs - 1000L, -1)
    val t0 = System.currentTimeMillis()
    val v2 = AtomicPublish.publish(spark, root, Map("t" -> Seq(2L).toDF("id")))
    assert(System.currentTimeMillis() - t0 < 30000L, "takeover too slow")
    assert(AtomicPublish.currentTxn(spark, root).contains(v2))
    assert(!java.nio.file.Files.exists(lock) ||
      new String(java.nio.file.Files.readAllBytes(lock)) != "crashed",
      "stale lease survived the takeover")
  }

  test("releaseLease only deletes its OWN lease (broken-and-reissued safety)") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("t" -> Seq(1L).toDF("id")))
    val lock = java.nio.file.Paths.get(root, "_LOCK")
    java.nio.file.Files.write(lock, "new-holder".getBytes)
    AtomicPublish.releaseLease(spark, root, "old-holder")
    assert(java.nio.file.Files.exists(lock),
      "a superseded holder deleted the new holder's lease")
    AtomicPublish.releaseLease(spark, root, "new-holder")
    assert(!java.nio.file.Files.exists(lock))
  }

  test("lease is mutually exclusive under concurrent acquirers (incl. stale-break race)") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("t" -> Seq(1L).toDF("id")))
    // seed a stale lease so every thread starts by racing the takeover:
    // the rename-based break guarantees at most one winner
    val lock = java.nio.file.Paths.get(root, "_LOCK")
    java.nio.file.Files.write(lock, "dead".getBytes)
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .setTimes(new org.apache.hadoop.fs.Path(root, "_LOCK"),
        System.currentTimeMillis() - AtomicPublish.LeaseStaleMs - 1000L, -1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val futs = (1 to 4).map { k =>
      pool.submit(new Runnable {
        def run(): Unit = (1 to 3).foreach { i =>
          val token = s"t$k-$i"
          AtomicPublish.acquireLease(spark, root, token)
          try {
            if (inside.incrementAndGet() != 1)
              bad.compareAndSet(null, s"$token entered a held critical section")
            Thread.sleep(5)
            inside.decrementAndGet()
            ()
          } finally AtomicPublish.releaseLease(spark, root, token)
        }
      })
    }
    futs.foreach(_.get())
    pool.shutdown()
    assert(bad.get() == null, s"mutual exclusion violated: ${bad.get()}")
    assert(!java.nio.file.Files.exists(lock), "lease leaked after release")
  }
}
