package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.SparkSuite

/** SQL `MERGE INTO` / `UPDATE` on graft catalog tables ([[GraftDml]]):
  * the merge-on-read upsert path (≡ [[AtomicPublish.upsertMany]]), the
  * copy-on-write fallback, the SQL-standard cardinality check, and
  * snapshot-pinned conflict semantics. All statements run on a session
  * with `GraftSqlExtensions` installed (the deployment shape — DML, like
  * native reads, rides the injected analyzer rules). */
class StoreDmlSpec extends SparkSuite {

  /** One extension session for the whole suite, over the shared
    * context (same pattern as StoreCatalogSpec's native-read test). */
  private lazy val s2: SparkSession = {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(
        new org.apache.spark.sql.graftvec.GraftSqlExtensions()(_))
      .getOrCreate()
    finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  private var n = 0
  private def mount(root: String): String = {
    n += 1
    val name = s"graftdml$n"
    s2.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    s2.conf.set(s"spark.sql.catalog.$name.root", root)
    name
  }

  private def freshRoot(): String =
    Files.createTempDirectory("storedml").resolve("store").toString

  /** (root, cat) with `t(id BIGINT, grp STRING, v BIGINT)` holding
    * ids 0..19, grp = g<id%4>, v = id*10, in two segments. */
  private def stageTarget(): (String, String) = {
    import spark.implicits._
    val root = freshRoot()
    def rows(r: Range) =
      r.map(i => (i.toLong, s"g${i % 4}", i * 10L)).toDF("id", "grp", "v")
    val v1 = AtomicPublish.publish(spark, root, Map("t" -> rows(0 until 12)),
      statsBy = Map("t" -> Seq("id")), bloomBy = Map("t" -> Seq("id")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("t" -> rows(12 until 20)), parent = Some(v1))
    (root, mount(root))
  }

  private def owners(root: String, table: String = "t"): Seq[String] =
    AtomicPublish.currentManifestMeta(spark, root).get._2(table).owners

  private def snap(root: String): Map[Long, (String, Long)] =
    AtomicPublish.readTable(spark, root, "t").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("MERGE matched-update + not-matched-insert rides the upsert " +
      "path (merge-on-read, owners grow) and lands the right rows") {
    val (root, cat) = stageTarget()
    val before = owners(root)
    val beforeTxn = AtomicPublish.currentTxn(spark, root).get
    s2.sql(
      s"""MERGE INTO $cat.t AS t
         |USING (SELECT id * 2 AS sid, concat('s', id) AS sgrp,
         |         id + 1000 AS sv FROM range(12)) AS s
         |ON t.id = s.sid
         |WHEN MATCHED THEN UPDATE SET grp = s.sgrp, v = s.sv
         |WHEN NOT MATCHED THEN INSERT (id, grp, v)
         |  VALUES (s.sid, s.sgrp, s.sv)""".stripMargin)
    val after = snap(root)
    // matched: even ids 0..18 updated; odd ids untouched; inserted:
    // source sids 20 and 22
    assert(after.keySet == ((0L until 20L).toSet ++ Set(20L, 22L)))
    for (i <- 0 until 12; sid = i * 2L) {
      assert(after(sid) == (s"s$i", i + 1000L), s"sid $sid")
    }
    for (id <- 1L until 20L by 2)
      assert(after(id) == (s"g${id % 4}", id * 10), s"odd $id")
    // merge-on-read: the owner chain GREW (no rewrite); tombstones exist
    assert(owners(root).startsWith(before))
    assert(owners(root).size == before.size + 1)
    assert(AtomicPublish.currentManifestMeta(spark, root).get
      ._2.get(AtomicPublish.deleteTableOf("t")).exists(_.owners.nonEmpty))
    // time travel: pre-merge snapshot intact
    assert(AtomicPublish.readTableAt(spark, root, "t", beforeTxn)
      .count() == 20)
  }

  test("MERGE WHEN MATCHED DELETE + conditioned actions cascade " +
      "first-match-wins") {
    val (root, cat) = stageTarget()
    s2.sql(
      s"""MERGE INTO $cat.t AS t
         |USING (SELECT id AS sid FROM range(8)) AS s
         |ON t.id = s.sid
         |WHEN MATCHED AND t.v >= 50 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = t.v + 1""".stripMargin)
    val after = snap(root)
    // ids 5..7 (v 50..70) deleted; ids 0..4 bumped; 8..19 untouched
    assert(after.keySet == ((0L until 20L).toSet -- Set(5L, 6L, 7L)))
    for (i <- 0L until 5L) assert(after(i)._2 == i * 10 + 1)
    for (i <- 8L until 20L) assert(after(i)._2 == i * 10)
  }

  test("MERGE cardinality violation (one target row, two source " +
      "matches) is refused") {
    val (_, cat) = stageTarget()
    val e = intercept[Exception] {
      s2.sql(
        s"""MERGE INTO $cat.t AS t
           |USING (SELECT 4 AS sid FROM range(2)) AS s
           |ON t.id = s.sid
           |WHEN MATCHED THEN UPDATE SET v = 0""".stripMargin)
    }
    assert(e.getMessage.contains("more than one source row"))
  }

  test("MERGE on a NON-unique key with a partial action condition " +
      "falls back to copy-on-write and stays exact") {
    val (root, cat) = stageTarget()
    // grp 'g1' covers ids 1,5,9,13,17; the action fires only for
    // id < 6, so the grp key-set would kill 5 rows where 2 fired —
    // the exactness guard routes this to the COW replace
    s2.sql(
      s"""MERGE INTO $cat.t AS t
         |USING (SELECT 'g1' AS sgrp) AS s
         |ON t.grp = s.sgrp
         |WHEN MATCHED AND t.id < 6 THEN UPDATE SET v = -1""".stripMargin)
    val after = snap(root)
    assert(after.size == 20)
    for ((id, (g, v)) <- after)
      assert(if (g == "g1" && id < 6) v == -1L else v == id * 10, s"id $id")
    assert(owners(root).size == 1, "expected a replace commit (COW)")
  }

  test("MERGE keyed on a non-unique column where ALL rows of the key " +
      "fire stays merge-on-read (exact by the guard)") {
    val (root, cat) = stageTarget()
    val before = owners(root)
    s2.sql(
      s"""MERGE INTO $cat.t AS t
         |USING (SELECT 'g1' AS sgrp) AS s
         |ON t.grp = s.sgrp
         |WHEN MATCHED THEN UPDATE SET v = -1""".stripMargin)
    val after = snap(root)
    assert(after.size == 20)
    for ((id, (g, v)) <- after)
      assert(if (g == "g1") v == -1L else v == id * 10)
    assert(owners(root).startsWith(before), "expected merge-on-read")
  }

  test("UPDATE WHERE on the key column rides the upsert path; " +
      "unconditional UPDATE rewrites; established-key guard falls back") {
    val (root, cat) = stageTarget()
    val before = owners(root)
    s2.sql(s"UPDATE $cat.t SET v = 999 WHERE id = 7")
    assert(snap(root)(7L) == ("g3", 999L))
    assert(snap(root).size == 20)
    assert(owners(root).startsWith(before), "expected merge-on-read")
    // a grp-predicate update against the ESTABLISHED id key: matched
    // rows project onto id (unique) → guard passes → still upsert
    s2.sql(s"UPDATE $cat.t SET v = -5 WHERE grp = 'g2'")
    val after = snap(root)
    for ((id, (g, v)) <- after)
      assert(if (g == "g2") v == -5L
        else if (id == 7L) v == 999L else v == id * 10, s"id $id")
    // unconditional UPDATE = whole-table rewrite
    s2.sql(s"UPDATE $cat.t SET v = 1")
    assert(snap(root).values.forall(_._2 == 1L))
    assert(snap(root).size == 20)
  }

  test("UPDATE on a non-key predicate without established key uses the " +
      "predicate column as key when exact") {
    import spark.implicits._
    val root = freshRoot()
    AtomicPublish.publish(spark, root, Map("t" ->
      (0 until 20).map(i => (i.toLong, s"g${i % 4}", i * 10L))
        .toDF("id", "grp", "v")))
    val cat = mount(root)
    // single-column predicate → that column is the key, exact by
    // construction (every row sharing the tuple matches)
    s2.sql(s"UPDATE $cat.t SET v = 0 WHERE grp = 'g0'")
    val after = snap(root)
    for ((id, (g, v)) <- after)
      assert(if (g == "g0") v == 0L else v == id * 10)
    assert(after.size == 20)
  }

  test("three-sided MERGE (matched + not-matched + NOT MATCHED BY " +
      "SOURCE) syncs target to source in ONE upsert-path statement") {
    val (root, cat) = stageTarget() // ids 0..19, v = id*10
    val before = owners(root)
    // source: sid 10..24, sv = sid + 990
    s2.sql(
      s"""MERGE INTO $cat.t AS t
         |USING (SELECT id + 10 AS sid, id + 1000 AS sv
         |       FROM range(15)) AS s
         |ON t.id = s.sid
         |WHEN MATCHED THEN UPDATE SET v = s.sv
         |WHEN NOT MATCHED THEN INSERT (id, grp, v)
         |  VALUES (s.sid, 'new', s.sv)
         |WHEN NOT MATCHED BY SOURCE AND id < 5 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET grp = 'stale'
         |""".stripMargin)
    val got = snap(root)
    assert(got.keySet == (5L until 25L).toSet) // 0..4 retired
    (5L until 10L).foreach(i =>
      assert(got(i) == (("stale", i * 10L)), s"id $i")) // archived
    (10L until 20L).foreach(i =>
      assert(got(i) == ((s"g${i % 4}", i + 990L)), s"id $i")) // updated
    (20L until 25L).foreach(i =>
      assert(got(i) == (("new", i + 990L)), s"id $i")) // inserted
    // the statement rode the merge-on-read path: owners GREW (append +
    // tombstones), no whole-table replace
    assert(owners(root).startsWith(before))
    assert(owners(root).size == before.size + 1)
  }

  test("NOT MATCHED BY SOURCE under the copy-on-write fallback " +
      "(expression join key) — retire-the-complement shape") {
    val (root, cat) = stageTarget() // ids 0..19
    s2.sql(
      s"""MERGE INTO $cat.t AS t
         |USING (SELECT id AS sid FROM range(10)) AS s
         |ON abs(t.id) = s.sid
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = snap(root)
    assert(got.keySet == (0L until 10L).toSet)
    (0L until 10L).foreach(i => assert(got(i) == ((s"g${i % 4}", i * 10L))))
    // expression key → no single-column upsert key → one replace commit
    assert(owners(root).size == 1)
  }

  /** (root, cat) with `c(a BIGINT, b STRING, v BIGINT)` where (a, b)
    * is unique but `a` ALONE is not: a 0..9 × b in {x, y} — the
    * composite-natural-key shape (the reference's (patient_id,
    * consent_type) unique constraint, patient.py:74-76). */
  private def stageComposite(): (String, String) = {
    import spark.implicits._
    val root = freshRoot()
    def rows(r: Range) = r.flatMap(a => Seq("x", "y").map(b =>
      (a.toLong, b, a * 10L + (if (b == "x") 0L else 1L))))
      .toDF("a", "b", "v")
    val v1 = AtomicPublish.publish(spark, root, Map("c" -> rows(0 until 6)),
      statsBy = Map("c" -> Seq("a")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("c" -> rows(6 until 10)), parent = Some(v1))
    (root, mount(root))
  }

  private def snapC(root: String): Map[(Long, String), Long] =
    AtomicPublish.readTable(spark, root, "c").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

  test("composite-key MERGE (two-column ON) stays merge-on-read and " +
      "upserts by the full tuple") {
    val (root, cat) = stageComposite()
    val before = owners(root, "c")
    s2.sql(
      s"""MERGE INTO $cat.c AS t
         |USING (SELECT id AS sa, 'x' AS sb, id + 500 AS sv
         |       FROM range(12)) AS s
         |ON t.a = s.sa AND t.b = s.sb
         |WHEN MATCHED THEN UPDATE SET v = s.sv
         |WHEN NOT MATCHED THEN INSERT (a, b, v)
         |  VALUES (s.sa, s.sb, s.sv)""".stripMargin)
    val got = snapC(root)
    assert(got.size == 22) // 20 original (10 updated) + 2 inserted
    for (a <- 0L until 10L) {
      assert(got((a, "x")) == a + 500, s"updated ($a, x)")
      assert(got((a, "y")) == a * 10 + 1, s"untouched ($a, y)")
    }
    assert(got((10L, "x")) == 510 && got((11L, "x")) == 511)
    // merge-on-read: owners grew, no rewrite — possible ONLY because
    // the upsert keyed by the COMPOSITE tuple (keying by `a` alone
    // would collide with the (a, y) rows and fall back to COW)
    assert(owners(root, "c").startsWith(before))
    assert(owners(root, "c").size == before.size + 1)
    // the tombstone companion pinned the two-column key
    val delSchema = AtomicPublish.currentManifestMeta(spark, root).get
      ._2(AtomicPublish.deleteTableOf("c")).schema
    assert(delSchema.fieldNames.toSet == Set("a", "b", "_asof"))
  }

  test("composite SQL DELETE establishes the two-column tombstone key; " +
      "a later single-column DELETE projects onto it exactly") {
    val (root, cat) = stageComposite()
    val before = owners(root, "c")
    s2.sql(s"DELETE FROM $cat.c WHERE a = 3 AND b = 'y'")
    val got = snapC(root)
    assert(!got.contains((3L, "y")) && got.contains((3L, "x")),
      "tuple delete must not kill the sibling b")
    assert(got.size == 19)
    assert(owners(root, "c") == before, "O(keys) delete: no rewrite")
    val delSchema = AtomicPublish.currentManifestMeta(spark, root).get
      ._2(AtomicPublish.deleteTableOf("c")).schema
    assert(delSchema.fieldNames.toSet == Set("a", "b", "_asof"))
    // a later delete keyed by a DIFFERENT single column projects its
    // matching rows onto the established composite key — exact here
    // (all rows of a=7 match), so it lands as tombstones
    s2.sql(s"DELETE FROM $cat.c WHERE a = 7")
    val got2 = snapC(root)
    assert(!got2.contains((7L, "x")) && !got2.contains((7L, "y")))
    assert(got2.size == 17)
  }

  test("UPDATE keyed by a two-column predicate rides the upsert path") {
    val (root, cat) = stageComposite()
    val before = owners(root, "c")
    s2.sql(s"UPDATE $cat.c SET v = -5 WHERE a = 4 AND b = 'y'")
    val got = snapC(root)
    assert(got((4L, "y")) == -5L && got((4L, "x")) == 40L)
    assert(got.size == 20)
    assert(owners(root, "c").startsWith(before) &&
      owners(root, "c").size == before.size + 1,
      "expected merge-on-read (composite predicate key)")
  }

  test("MERGE with insert-only (no matched actions) appends without " +
      "cardinality scan; unassigned insert columns become null") {
    val (root, cat) = stageTarget()
    s2.sql(
      s"""MERGE INTO $cat.t AS t
         |USING (SELECT 100 AS sid UNION ALL SELECT 3) AS s
         |ON t.id = s.sid
         |WHEN NOT MATCHED THEN INSERT (id) VALUES (s.sid)""".stripMargin)
    val rows = AtomicPublish.readTable(spark, root, "t")
      .where("id = 100").collect()
    assert(rows.length == 1 && rows(0).isNullAt(1) && rows(0).isNullAt(2))
    assert(AtomicPublish.readTable(spark, root, "t").count() == 21)
  }
}
