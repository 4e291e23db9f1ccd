package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** CHECK constraints on store tables ([[AtomicPublish.TableMeta
  * .checks]]): the TABLE owns its invariants — declared at definition
  * (publish / CREATE TABLE TBLPROPERTIES / NOT NULL columns), inherited
  * by every append and replace, ENFORCED before any commit stages (a
  * violating slice refuses atomically, SQL semantics: NULL passes) and
  * changed only by a replace that redeclares them. The engine-side
  * generalization of the reference's request validation
  * (services/validation.py): no write face can bypass the rules. */
class StoreConstraintSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("constraint").resolve("store").toString

  private def docs(ids: Range, lang: String = "en"): DataFrame =
    ids.map(i => (i.toLong, lang, i * 10L)).toDF("doc_id", "lang", "words")

  private val rules = Map("pos_id" -> "doc_id >= 0", "lang_set" -> "lang <> ''")

  test("a violating publish refuses before anything lands; a clean one " +
      "commits and records the rules") {
    val root = freshRoot()
    val e = intercept[IllegalArgumentException] {
      AtomicPublish.publish(spark, root,
        Map("docs" -> docs(0 until 10).union(docs(-5 until -3))),
        checks = Map("docs" -> rules))
    }
    assert(e.getMessage.contains(AtomicPublish.CheckViolation) &&
      e.getMessage.contains("pos_id"))
    assert(AtomicPublish.currentTxn(spark, root).isEmpty, "partial state")
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 10)),
      checks = Map("docs" -> rules))
    val txn = AtomicPublish.currentTxn(spark, root).get
    assert(AtomicPublish.manifestMetaOf(spark, root, txn)("docs")
      .checks == rules)
  }

  test("appends inherit and are enforced; a refused append leaves the " +
      "table exactly as it was") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 10)),
      checks = Map("docs" -> rules))
    val before = AtomicPublish.currentTxn(spark, root)
    val e = intercept[IllegalArgumentException] {
      AtomicPublish.publishDelta(spark, root,
        append = Map("docs" -> docs(10 until 15, lang = "")),
        parent = before)
    }
    assert(e.getMessage.contains("lang_set"))
    assert(AtomicPublish.currentTxn(spark, root) == before)
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 10)
    // clean append passes and keeps the rules recorded
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> docs(10 until 15)), parent = before)
    val txn = AtomicPublish.currentTxn(spark, root).get
    assert(AtomicPublish.manifestMetaOf(spark, root, txn)("docs")
      .checks == rules)
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 15)
  }

  test("SQL semantics: a NULL predicate value passes; a column the " +
      "slice omits evaluates as NULL") {
    val root = freshRoot()
    val withNull = Seq((1L, null.asInstanceOf[String], 10L),
      (2L, "en", 20L)).toDF("doc_id", "lang", "words")
    // lang <> '' is NULL for the null row → passes (SQL CHECK contract)
    AtomicPublish.publish(spark, root, Map("docs" -> withNull),
      checks = Map("docs" -> Map("lang_set" -> "lang <> ''")))
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 2)
    // an appended slice WITHOUT the checked column: evaluates null →
    // passes (exactly the value the merged read serves)
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> Seq((3L, 30L)).toDF("doc_id", "words")),
      parent = AtomicPublish.currentTxn(spark, root))
    assert(AtomicPublish.readTable(spark, root, "docs").count() == 3)
  }

  test("the guard is NOT pushed below the slice plan (ADVICE-r8): " +
      "violating rows that exist only below a join that removes them " +
      "do not refuse the commit") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(1 until 4)),
      checks = Map("docs" -> Map("pos_words" -> "words > 0")))
    // src row (40, -99) VIOLATES words > 0 but its key has no match in
    // dim — the join removes it, so the written rows all pass. A
    // deterministic guard Filter would be pushed below the join (it
    // references only src columns) and raise on the discarded row.
    val dim = Seq((10L, "en"), (20L, "fr")).toDF("k", "lang")
    val src = Seq((10L, 100L), (20L, 200L), (40L, -99L)).toDF("k", "words")
    val slice = src.join(dim, "k")
      .select(col("k").as("doc_id"), col("lang"), col("words"))
    assert(AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> slice),
      parent = AtomicPublish.currentTxn(spark, root)).isDefined)
    val got = AtomicPublish.readTable(spark, root, "docs")
    assert(got.count() == 5)
    assert(got.filter(col("words") < 0).count() == 0)
    // and the guard still FIRES when a surviving row violates
    val bad = src.join(Seq((40L, "de")).toDF("k", "lang"), "k")
      .select(col("k").as("doc_id"), col("lang"), col("words"))
    val e = intercept[IllegalArgumentException] {
      AtomicPublish.publishDelta(spark, root, append = Map("docs" -> bad),
        parent = AtomicPublish.currentTxn(spark, root))
    }
    assert(e.getMessage.contains("pos_words"))
  }

  test("constraints survive compaction (replace inherits) and restore") {
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("docs" -> docs(0 until 50)),
      checks = Map("docs" -> rules))
    AtomicPublish.publishDelta(spark, root,
      append = Map("docs" -> docs(50 until 80)),
      parent = AtomicPublish.currentTxn(spark, root))
    Compaction.compactStore(spark, root, "docs")
    val txn = AtomicPublish.currentTxn(spark, root).get
    assert(AtomicPublish.manifestMetaOf(spark, root, txn)("docs")
      .checks == rules)
    // still enforced after the rewrite
    intercept[IllegalArgumentException] {
      AtomicPublish.publishDelta(spark, root,
        append = Map("docs" -> docs(-2 until -1)), parent = Some(txn))
    }
    // restore to the pre-compaction state carries the rules too
    val v1 = AtomicPublish.committedVersions(spark, root).map(_._1).head
    AtomicPublish.restoreTable(spark, root, "docs", v1)
    val txn2 = AtomicPublish.currentTxn(spark, root).get
    assert(AtomicPublish.manifestMetaOf(spark, root, txn2)("docs")
      .checks == rules)
  }

  test("a NOT NULL column whose name carries manifest-unsafe characters " +
      "still derives a safe check name (sanitized + hash-disambiguated)") {
    val root = freshRoot()
    val cat = "unsafecolcat"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // ':' and '@' are legal Spark column characters but manifest sigils;
    // the raw nn_<col> derivation used to make this CREATE fail outright
    spark.sql(
      s"""CREATE TABLE $cat.t
         |  (`a:b@c` BIGINT NOT NULL, v BIGINT)""".stripMargin)
    val meta = AtomicPublish.currentManifestMeta(spark, root).get._2("t")
    assert(meta.checks.size == 1)
    val cn = meta.checks.keys.head
    assert(cn.startsWith("nn_a_b_c_"), s"derived name was '$cn'")
    assert(!cn.exists(c => "=,\n\r/#:@".contains(c)))
    // the derived constraint still enforces (null refused, non-null lands)
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 10)")
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t VALUES (CAST(NULL AS BIGINT), 20)")
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 1)
  }

  test("SQL face: NOT NULL columns + TBLPROPERTIES checks on CREATE; " +
      "INSERT refused by name") {
    val root = freshRoot()
    val cat = "constraintcat"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(
      s"""CREATE TABLE $cat.docs
         |  (doc_id BIGINT NOT NULL, lang STRING, words BIGINT)
         |TBLPROPERTIES ('check.word_bound' = 'words BETWEEN 0 AND 10000')
         |""".stripMargin)
    val meta = AtomicPublish.currentManifestMeta(spark, root).get._2("docs")
    assert(meta.checks.keySet == Set("nn_doc_id", "word_bound"))
    spark.sql(s"INSERT INTO $cat.docs VALUES (1, 'en', 10), (2, 'de', 20)")
    val e1 = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.docs VALUES (3, 'fr', 99999)")
    }
    def names(t: Throwable): String =
      if (t == null) "" else t.getMessage + names(t.getCause)
    assert(names(e1).contains("word_bound"))
    val e2 = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.docs VALUES (CAST(NULL AS BIGINT), " +
        "'fr', 10)")
    }
    // refused — by our derived nn_ check or Spark's own null-intolerant
    // insert resolution; either way nothing landed
    assert(spark.sql(s"SELECT count(*) FROM $cat.docs")
      .head().getLong(0) == 2)
    // the declared invariants and layout surface through SQL metadata
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.docs").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("check.word_bound")
      .contains("words BETWEEN 0 AND 10000"))
    assert(props.get("check.nn_doc_id").contains("`doc_id` IS NOT NULL"))
  }
}
