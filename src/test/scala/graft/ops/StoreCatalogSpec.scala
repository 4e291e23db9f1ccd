package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.SparkSuite

/** The store as a SQL catalog ([[GraftCatalog]]): name resolution
  * through Spark's catalog manager, snapshot-pinned reads that route
  * the full skipping stack, SQL time travel (`VERSION AS OF` /
  * `TIMESTAMP AS OF`), delete-aware results, and CAS-committed
  * `INSERT INTO` / `INSERT OVERWRITE`. */
class StoreCatalogSpec extends SparkSuite {
  import spark.implicits._

  /** Register a fresh catalog name over `root` (runtime conf — Spark
    * instantiates the catalog on first reference). */
  private var n = 0
  private def mount(root: String): String = {
    n += 1
    val name = s"graftcat$n"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    name
  }

  private def freshRoot(): String =
    Files.createTempDirectory("storecat").resolve("store").toString

  private def docs(ids: Range, lang: String): DataFrame =
    ids.map(i => (i.toLong, lang, s"text-$i")).toDF("doc_id", "lang", "text")

  test("catalog SELECT equals readTable; listTables; tableExists") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root,
      Map("docs" -> docs(0 until 100, "en")),
      statsBy = Map("docs" -> Seq("doc_id")),
      bloomBy = Map("docs" -> Seq("doc_id")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> docs(100 until 200, "de")),
      parent = Some(v1))
    val cat = mount(root)
    val viaSql = spark.sql(s"SELECT doc_id, lang FROM $cat.docs")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaApi = AtomicPublish.readTable(spark, root, "docs")
      .select("doc_id", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaSql == viaApi && viaSql.size == 200)
    assert(spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).toSet == Set("docs"))
    assert(spark.catalog.tableExists(s"$cat.docs"))
    assert(!spark.catalog.tableExists(s"$cat.nope"))
  }

  /** The catalog read must prune exactly like the DataFrame read: same
    * predicate → same file subset (the VERDICT-r5 "done" pin, moved
    * onto the catalog face). */
  test("catalog WHERE reads the same files as readTable().where") {
    val root = freshRoot()
    // three interleaved segments so blooms (not ranges) separate them
    def seg(k: Int) = docs(0 until 300, "en")
      .filter($"doc_id" % 3 === k)
    val v1 = AtomicPublish.publish(spark, root, Map("docs" -> seg(0)),
      statsBy = Map("docs" -> Seq("doc_id")),
      bloomBy = Map("docs" -> Seq("doc_id")))
    val v2 = AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> seg(1)), parent = Some(v1)).get
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> seg(2)), parent = Some(v2))
    val cat = mount(root)

    GraftCatalogRead.probeEnabled = true // opt-in inner-plan probe
    val sqlDf = spark.sql(
      s"SELECT doc_id FROM $cat.docs WHERE doc_id = 42")
    val sqlRows = sqlDf.collect().map(_.getLong(0)).toSeq
    assert(sqlRows == Seq(42L))
    // the files the catalog's INNER V1 plan listed (test probe): must
    // match the DataFrame read of the same predicate — one file
    val innerFiles = GraftCatalogRead.lastInnerScan.get.queryExecution
      .executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.sum
    val dfFiles = ScanFiles(
      AtomicPublish.readTable(spark, root, "docs").where("doc_id = 42"))
    val allFiles = ScanFiles(AtomicPublish.readTable(spark, root, "docs"))
    assert(innerFiles == 1 && dfFiles == 1,
      s"catalog read $innerFiles files, DataFrame read $dfFiles")
    // and the bloom actually bit: fewer files than the full scan
    assert(allFiles == 12)
  }

  test("catalog read is delete-aware (tombstone anti-join applies)") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 50, "en")))
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(7L, 13L).toDF("doc_id")))
    val cat = mount(root)
    val ids = spark.sql(s"SELECT doc_id FROM $cat.docs")
      .collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 50L).toSet -- Set(7L, 13L))
    // count(*) exercises the empty-projection scan path
    assert(spark.sql(s"SELECT count(*) FROM $cat.docs").head().getLong(0)
      == 48L)
  }

  test("graft.snapshot session pin: one consistent version across " +
      "resolutions with a commit landing in between; unset re-lives") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root,
      Map("a" -> docs(0 until 100, "en"), "b" -> docs(0 until 50, "de")))
    val cat = mount(root)
    try {
      spark.conf.set(s"graft.snapshot.$cat", "auto")
      // first resolution pins the session to v1
      assert(spark.sql(s"SELECT count(*) FROM $cat.a")
        .head().getLong(0) == 100)
      // a commit lands on BOTH tables after the pin
      AtomicPublish.publishDelta(spark, root,
        append = Map("a" -> docs(100 until 150, "en"),
          "b" -> docs(50 until 80, "de")), parent = Some(v1))
      // every later resolution — including a two-table join — still
      // serves the pinned snapshot (the un-pinned behavior would see
      // the new counts, and a join could even mix versions)
      assert(spark.sql(s"SELECT count(*) FROM $cat.a")
        .head().getLong(0) == 100)
      val joined = spark.sql(
        s"""SELECT count(*) FROM $cat.a a JOIN $cat.b b
           |ON a.doc_id = b.doc_id""".stripMargin).head().getLong(0)
      assert(joined == 50, s"pinned join saw $joined (v1 is 50)")
      // an EXPLICIT txn pin serves that exact version
      spark.conf.set(s"graft.snapshot.$cat", v1)
      assert(spark.sql(s"SELECT count(*) FROM $cat.b")
        .head().getLong(0) == 50)
      // unset → live again
      spark.conf.unset(s"graft.snapshot.$cat")
      assert(spark.sql(s"SELECT count(*) FROM $cat.a")
        .head().getLong(0) == 150)
      assert(spark.sql(s"SELECT count(*) FROM $cat.b")
        .head().getLong(0) == 80)
      // a fresh auto pin re-pins at the NEW live version
      spark.conf.set(s"graft.snapshot.$cat", "auto")
      assert(spark.sql(s"SELECT count(*) FROM $cat.a")
        .head().getLong(0) == 150)
    } finally {
      try spark.conf.unset(s"graft.snapshot.$cat")
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF") {
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root,
      Map("docs" -> docs(0 until 10, "en")))
    Thread.sleep(5) // marker mtimes must order across commits
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> docs(10 until 20, "de")), parent = Some(v1))
    val cat = mount(root)
    assert(spark.sql(s"SELECT count(*) FROM $cat.docs").head().getLong(0)
      == 20L)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.docs VERSION AS OF '$v1'")
      .head().getLong(0) == 10L)
    // TIMESTAMP AS OF between the two commits resolves to v1.
    // Session runs UTC, so format the instant in UTC explicitly.
    val times = AtomicPublish.committedVersions(spark, root)
    assert(times.map(_._1).head == v1)
    def utc(ms: Long): String = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms))
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.docs TIMESTAMP AS OF '${utc(times.head._2)}'")
      .head().getLong(0) == 10L)
    // before the first commit: no such snapshot
    intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $cat.docs " +
        s"TIMESTAMP AS OF '${utc(times.head._2 - 60000)}'")
        .collect()
    }
  }

  test("INSERT INTO appends one atomic commit; OVERWRITE keeps layout") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root,
      Map("docs" -> docs(0 until 10, "en")),
      partitionBy = Map("docs" -> Seq("lang")),
      statsBy = Map("docs" -> Seq("doc_id")),
      bloomBy = Map("docs" -> Seq("doc_id")))
    val cat = mount(root)
    val before = AtomicPublish.currentTxn(spark, root).get
    spark.sql(
      s"INSERT INTO $cat.docs SELECT id + 100 AS doc_id, 'fr' AS lang, " +
        "concat('text-', id) AS text FROM range(5)")
    val after = AtomicPublish.currentTxn(spark, root).get
    assert(after != before)
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 15)
    // history: the pre-insert snapshot still serves
    assert(AtomicPublish.readTableAt(spark, root, "docs", before)
      .count() == 10)
    // overwrite replaces content but RE-DECLARES the recorded layout
    spark.sql(
      s"INSERT OVERWRITE $cat.docs SELECT id AS doc_id, 'zh' AS lang, " +
        "concat('t', id) AS text FROM range(3)")
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 3)
    val meta = AtomicPublish.currentManifestMeta(spark, root).get._2("docs")
    assert(meta.partitionCols == Seq("lang"))
    assert(meta.statCols == Seq("doc_id"))
    assert(meta.bloomCols == Seq("doc_id"))
  }

  test("ALTER TABLE ADD COLUMNS: widening without data, history intact") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root,
      Map("docs" -> docs(0 until 20, "en")),
      statsBy = Map("docs" -> Seq("doc_id")))
    val cat = mount(root)
    val before = AtomicPublish.currentTxn(spark, root).get
    spark.sql(s"ALTER TABLE $cat.docs ADD COLUMNS (score DOUBLE, tag STRING)")
    // recorded schema widened; existing rows read the new columns null
    val widened = spark.sql(
      s"SELECT doc_id, score, tag FROM $cat.docs WHERE doc_id = 3")
      .head()
    assert(widened.getLong(0) == 3L && widened.isNullAt(1) &&
      widened.isNullAt(2))
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 20)
    // inserts with the widened shape land
    spark.sql(s"INSERT INTO $cat.docs VALUES (100, 'fr', 'x', 0.5, 'good')")
    val row = spark.sql(
      s"SELECT score, tag FROM $cat.docs WHERE doc_id = 100").head()
    assert(row.getDouble(0) == 0.5 && row.getString(1) == "good")
    // pre-ALTER version still serves the old shape
    val old = AtomicPublish.readTableAt(spark, root, "docs", before)
    assert(old.schema.fieldNames.toSeq == Seq("doc_id", "lang", "text"))
    assert(old.count() == 20)
    // duplicate add and non-nullable add are refused
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.docs ADD COLUMNS (score DOUBLE)")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.docs ADD COLUMNS (must STRING NOT NULL)")
    }
    // stats/bloom skipping still fires after the schema commit
    val point = AtomicPublish.readTable(spark, root, "docs")
      .where("doc_id = 3")
    assert(ScanFiles(point) == 1)
    assert(point.count() == 1)
  }

  test("SQL DELETE FROM: exact tombstone delete, refusal, truncate") {
    val root = freshRoot()
    val rows = (0 until 60).map(i =>
      (i.toLong, if (i % 3 == 0) "en" else "de", s"text-$i"))
    AtomicPublish.publish(spark, root,
      Map("docs" -> rows.toDF("doc_id", "lang", "text")),
      partitionBy = Map("docs" -> Seq("lang")),
      bloomBy = Map("docs" -> Seq("doc_id")))
    val cat = mount(root)
    val before = AtomicPublish.currentTxn(spark, root).get
    // range predicate: O(keys) tombstone commit, no rewrite
    spark.sql(s"DELETE FROM $cat.docs WHERE doc_id >= 40")
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 40)
    // predicate on a non-key column works too (tuple-exact semantics)
    spark.sql(s"DELETE FROM $cat.docs WHERE lang = 'en'")
    val left = AtomicPublish.readTable(spark, root, "docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(left == (0L until 40L).filter(_ % 3 != 0).toSet)
    // the pre-delete snapshot still serves all 60 rows
    assert(AtomicPublish.readTableAt(spark, root, "docs", before)
      .count() == 60)
    // an untranslatable predicate is REFUSED, never under-deleted
    intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.docs WHERE doc_id % 2 = 0")
    }
    assert(AtomicPublish.readTable(spark, root, "docs").count() ==
      left.size)
    // unconditioned DELETE truncates in one replace, layout preserved
    spark.sql(s"DELETE FROM $cat.docs")
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 0)
    val meta = AtomicPublish.currentManifestMeta(spark, root).get._2("docs")
    assert(meta.partitionCols == Seq("lang"))
    assert(meta.bloomCols == Seq("doc_id"))
  }

  test("SQL DELETE refuses over-delete when the established key is " +
      "not selective for the predicate") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root,
      Map("t" -> (0 until 30).map(i => (i.toLong, s"g${i % 3}"))
        .toDF("id", "grp")))
    val cat = mount(root)
    // first delete establishes a NON-UNIQUE key (grp)
    spark.sql(s"DELETE FROM $cat.t WHERE grp = 'g0'")
    assert(AtomicPublish.readTable(spark, root, "t").count() == 20)
    // now an id-predicate delete would project onto grp and kill the
    // whole group — the exactness guard must refuse it
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.t WHERE id = 4")
    }
    assert(e.getMessage.contains("refusing rather than over-deleting"))
    assert(AtomicPublish.readTable(spark, root, "t").count() == 20)
    // aligned predicates still work through the established key
    spark.sql(s"DELETE FROM $cat.t WHERE grp = 'g1'")
    assert(AtomicPublish.readTable(spark, root, "t").count() == 10)
  }

  test("CREATE TABLE on an empty root births the store; INSERT and " +
      "DELETE work; layout properties recorded") {
    val root = freshRoot()
    val cat = mount(root)
    spark.sql(
      s"""CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING, text STRING)
         |PARTITIONED BY (lang)
         |TBLPROPERTIES ('statsBy'='doc_id', 'bloomBy'='doc_id')
         |""".stripMargin)
    // the empty table is a real published snapshot: listable, readable
    assert(spark.sql(s"SELECT count(*) FROM $cat.docs").head().getLong(0)
      == 0L)
    val meta = AtomicPublish.currentManifestMeta(spark, root).get._2("docs")
    assert(meta.partitionCols == Seq("lang"))
    assert(meta.statCols == Seq("doc_id"))
    assert(meta.bloomCols == Seq("doc_id"))
    // SQL-only lifecycle from here: insert, delete, read
    spark.sql(s"INSERT INTO $cat.docs SELECT id, 'en', concat('t', id) " +
      "FROM range(20)")
    spark.sql(s"DELETE FROM $cat.docs WHERE doc_id >= 15")
    assert(spark.sql(s"SELECT count(*) FROM $cat.docs").head().getLong(0)
      == 15L)
    // duplicate create refused; IF NOT EXISTS is a no-op
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.docs (x BIGINT)")
    }
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.docs (x BIGINT)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.docs").head().getLong(0)
      == 15L)
  }

  test("CTAS creates and fills in one statement; DROP TABLE removes " +
      "metadata-only; re-create gets a fresh schema") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 30, "en")))
    val cat = mount(root)
    val before = AtomicPublish.currentTxn(spark, root).get
    spark.sql(
      s"""CREATE TABLE $cat.short_docs
         |TBLPROPERTIES ('statsBy'='doc_id')
         |AS SELECT doc_id, lang FROM $cat.docs WHERE doc_id < 10""".stripMargin)
    assert(spark.sql(s"SELECT count(*) FROM $cat.short_docs")
      .head().getLong(0) == 10L)
    assert(AtomicPublish.currentManifestMeta(spark, root).get
      ._2("short_docs").statCols == Seq("doc_id"))
    // drop: metadata-only; the pre-drop snapshot still time-travels
    val atDrop = AtomicPublish.currentTxn(spark, root).get
    spark.sql(s"DROP TABLE $cat.short_docs")
    assert(!spark.catalog.tableExists(s"$cat.short_docs"))
    assert(spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).toSet == Set("docs"))
    assert(AtomicPublish.readTableAt(spark, root, "short_docs", atDrop)
      .count() == 10L)
    // a dropped table's tombstones die with it: re-create with a
    // DIFFERENT schema and different delete key
    spark.sql(s"DELETE FROM $cat.docs WHERE doc_id = 3") // docs keyed
    spark.sql(s"CREATE TABLE $cat.short_docs (k STRING, n BIGINT)")
    spark.sql(s"INSERT INTO $cat.short_docs VALUES ('a', 1), ('b', 2)")
    spark.sql(s"DELETE FROM $cat.short_docs WHERE k = 'a'")
    assert(spark.sql(s"SELECT n FROM $cat.short_docs").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // DROP of a missing table errors (Spark-side check); IF EXISTS no-ops
    intercept[Exception] { spark.sql(s"DROP TABLE $cat.never_was") }
    spark.sql(s"DROP TABLE IF EXISTS $cat.never_was")
    // history before everything still serves
    assert(AtomicPublish.readTableAt(spark, root, "docs", before)
      .count() == 30L)
  }

  test("unsupported DDL is refused with guidance; unknown table errors " +
      "cleanly") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 3, "en")))
    val cat = mount(root)
    // still-unsupported alters carry guidance (RENAME TO / RENAME
    // COLUMN / DROP COLUMN are supported now — SchemaEvolutionSpec)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.docs " +
        "SET TBLPROPERTIES ('foo' = 'bar')")
    }
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.missing").collect()
    }
    assert(e.getMessage.toLowerCase.contains("table"))
  }

  test("catalog relation reports real bytes, not defaultSizeInBytes") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root,
      Map("docs" -> docs(0 until 1000, "en")))
    val cat = mount(root)
    val reported = spark.table(s"$cat.docs")
      .queryExecution.analyzed.stats.sizeInBytes
    // actual data bytes in the store (parquet files only, no sidecars)
    val actual = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .filter(p => p.toFile.isFile &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .mapToLong(_.toFile.length).sum
    assert(reported == BigInt(actual),
      s"reported $reported, files on disk $actual")
  }

  test("native-read rule: with the SQL extension, catalog reads plan " +
      "as FileSourceScan; INSERT keeps working") {
    import org.apache.spark.sql.SparkSession
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 60, "en")))
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(5L).toDF("doc_id")))
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // same SparkContext, new session state WITH the extension.
      // `spark.sql.extensions` is a STATIC conf read from the
      // SparkContext's conf, which a reused context never gains — so
      // the test injects through builder.withExtensions, the same
      // SparkSessionExtensions object the static conf feeds in a real
      // spark-submit deployment.
      val s2 = SparkSession.builder()
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(
          new org.apache.spark.sql.graftvec.GraftSqlExtensions()(_))
        .getOrCreate()
      assert(s2 ne prev)
      val cat = "graftnative"
      s2.conf.set(s"spark.sql.catalog.$cat",
        classOf[GraftCatalog].getName)
      s2.conf.set(s"spark.sql.catalog.$cat.root", root)
      val q = s2.sql(s"SELECT doc_id FROM $cat.docs WHERE doc_id < 20")
      val ids = q.collect().map(_.getLong(0)).toSet
      assert(ids == (0L until 20L).toSet - 5L) // delete-aware
      // the plan's leaves are NATIVE file scans (the rewrite fired) —
      // no RowDataSourceScan/V1 bridge anywhere (descend through AQE)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def flat(p: SparkPlan): Seq[SparkPlan] = (p match {
        case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
        case s: QueryStageExec => flat(s.plan)
        case o => o.children.flatMap(flat)
      }) :+ p
      val nodes = flat(q.queryExecution.executedPlan)
      if (!nodes.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]))
        info("PLAN:\n" + q.queryExecution.executedPlan.treeString +
          "\nANALYZED:\n" + q.queryExecution.analyzed.treeString +
          "\nEXT: " + s2.conf.getOption("spark.sql.extensions"))
      assert(nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]))
      assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.RowDataSourceScanExec]))
      // writes are untouched by the rule: INSERT still commits
      s2.sql(s"INSERT INTO $cat.docs VALUES (100, 'fr', 'x')")
      assert(s2.sql(s"SELECT count(*) FROM $cat.docs").head().getLong(0)
        == 60L)
      // DELETE FROM must still plan with the extension installed: the
      // rule must leave DeleteFromTable's target child as the V2
      // relation (rewriting it unhooks SupportsDelete) — the
      // VERDICT-r6 ADVICE regression
      s2.sql(s"DELETE FROM $cat.docs WHERE doc_id >= 90")
      // 60 live before (59 originals minus id 5, plus the insert);
      // the delete kills only the inserted id 100
      assert(s2.sql(s"SELECT count(*) FROM $cat.docs").head().getLong(0)
        == 59L)
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("pushed-filter hint never changes results (translation fuzz)") {
    val root = freshRoot()
    val rows = (0 until 200).map(i =>
      (i.toLong, if (i % 7 == 0) null else s"w${i % 13}",
        i.toDouble / 3.0))
    AtomicPublish.publish(spark, root, Map("t" ->
      rows.toDF("k", "s", "x")),
      statsBy = Map("t" -> Seq("k", "x")),
      bloomBy = Map("t" -> Seq("s")))
    val cat = mount(root)
    val preds = Seq(
      "k = 42", "k BETWEEN 30 AND 60", "k IN (1, 5, 199)",
      "s = 'w3'", "s IS NULL", "s IS NOT NULL",
      "s LIKE 'w1%'", "s LIKE '%2'",
      "x > 30.5 AND k < 150", "k = 42 OR s = 'w5'",
      "NOT (k < 100)", "k % 2 = 0" /* untranslatable: post-scan only */)
    for (p <- preds) {
      val viaCat = spark.sql(s"SELECT k FROM $cat.t WHERE $p")
        .collect().map(_.getLong(0)).toSet
      val viaApi = AtomicPublish.readTable(spark, root, "t").where(p)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(viaCat == viaApi, s"predicate '$p'")
    }
  }
}
