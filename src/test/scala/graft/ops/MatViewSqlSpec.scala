package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.SparkSuite

/** `CREATE / REFRESH / DROP MATERIALIZED VIEW` ([[MatViewSql]]): the
  * DDL face of the incremental matview engine — the parser intercept,
  * the recorded-definition round trip (REFRESH/DROP by NAME alone),
  * the maintainable-shape refusals, and that stock SQL still parses
  * through the delegate untouched. */
class MatViewSqlSpec extends SparkSuite {

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
    val name = s"graftmv$n"
    s2.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    s2.conf.set(s"spark.sql.catalog.$name.root", root)
    name
  }

  private def freshRoot(): String =
    Files.createTempDirectory("matviewsql").resolve("store").toString

  /** (root, cat) with `sales(grp STRING, cust BIGINT, v BIGINT)`. */
  private def stage(): (String, String) = {
    import s2.implicits._
    val root = freshRoot()
    val rows = (0 until 40)
      .map(i => (s"g${i % 3}", (i % 7).toLong, i.toLong))
      .toDF("grp", "cust", "v")
    AtomicPublish.publish(s2, root, Map("sales" -> rows))
    (root, mount(root))
  }

  private def viewRows(cat: String, view: String): Seq[(String, Long, Long)] =
    s2.sql(s"SELECT grp, total, n_custs FROM $cat.$view ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq

  private def expected(cat: String): Seq[(String, Long, Long)] =
    s2.sql(s"""SELECT grp, sum(v) AS total,
              |  count(DISTINCT cust) AS n_custs
              |FROM $cat.sales GROUP BY grp ORDER BY grp""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq

  test("CREATE records the definition; REFRESH maintains by NAME; " +
      "second REFRESH is a no-op") {
    val (root, cat) = stage()
    val created = s2.sql(
      s"""CREATE MATERIALIZED VIEW $cat.by_grp AS
         |SELECT grp, sum(v) AS total, count(DISTINCT cust) AS n_custs
         |FROM $cat.sales GROUP BY grp""".stripMargin).head()
    assert(created.getString(2) == "refreshed")
    assert(viewRows(cat, "by_grp") == expected(cat))
    // the definition landed ATOMICALLY with the view
    val metas = AtomicPublish.currentManifestMeta(s2, root).get._2
    assert(metas.contains("by_grp_def") && metas.contains("by_grp_aux"))
    // mutate the source through SQL, refresh by NAME alone
    s2.sql(s"INSERT INTO $cat.sales VALUES ('g1', 99, 1000)").collect()
    val refreshed = s2.sql(
      s"REFRESH MATERIALIZED VIEW $cat.by_grp").head()
    assert(refreshed.getString(2) == "refreshed")
    assert(viewRows(cat, "by_grp") == expected(cat))
    // nothing changed since: the refresh must not commit
    val again = s2.sql(s"REFRESH MATERIALIZED VIEW $cat.by_grp").head()
    assert(again.getString(2) == "current" && again.isNullAt(1))
  }

  test("JOIN view over USING syntax; DELETE + REFRESH flows the " +
      "signed-merge delete path") {
    import s2.implicits._
    val root = freshRoot()
    val cat = mount(root)
    val facts = (0 until 60).map(i => (i.toLong % 10, i.toLong))
      .toDF("k", "v")
    val dims = (0L until 10L).map(k => (k, s"d${k % 4}")).toDF("k", "grp")
    AtomicPublish.publish(s2, root, Map("facts" -> facts, "dims" -> dims))
    s2.sql(
      s"""CREATE MATERIALIZED VIEW $cat.joined AS
         |SELECT grp, sum(v) AS total, count(DISTINCT k) AS n_custs
         |FROM $cat.facts JOIN $cat.dims USING (k)
         |GROUP BY grp""".stripMargin).collect()
    def want: Seq[(String, Long, Long)] = s2.sql(
      s"""SELECT grp, sum(v) AS total, count(DISTINCT k) AS n_custs
         |FROM $cat.facts JOIN $cat.dims USING (k)
         |GROUP BY grp ORDER BY grp""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(viewRows(cat, "joined") == want)
    s2.sql(s"DELETE FROM $cat.facts WHERE v BETWEEN 20 AND 35").collect()
    s2.sql(s"REFRESH MATERIALIZED VIEW $cat.joined").collect()
    assert(viewRows(cat, "joined") == want)
  }

  test("DROP removes the view AND every companion state table") {
    val (root, cat) = stage()
    s2.sql(
      s"""CREATE MATERIALIZED VIEW $cat.doomed AS
         |SELECT grp, sum(v) AS total, count(DISTINCT cust) AS n_custs
         |FROM $cat.sales GROUP BY grp""".stripMargin).collect()
    val before = AtomicPublish.currentManifestMeta(s2, root).get._2.keySet
    assert(Set("doomed", "doomed_aux", "doomed_wm", "doomed_def",
      "doomed_dv_n_custs").subsetOf(before))
    val dropped = s2.sql(s"DROP MATERIALIZED VIEW $cat.doomed").head()
    assert(dropped.getString(2).toInt == 5)
    val after = AtomicPublish.currentManifestMeta(s2, root).get._2.keySet
    assert(after.intersect(Set("doomed", "doomed_aux", "doomed_wm",
      "doomed_def", "doomed_dv_n_custs")).isEmpty)
    assert(after.contains("sales"))
  }

  test("non-maintainable shapes are refused with the reason, not " +
      "silently downgraded") {
    val (_, cat) = stage()
    def refuse(sql: String, needle: String): Unit = {
      val e = intercept[Exception] { s2.sql(sql).collect() }
      val msg = e.getMessage +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains(needle), s"for [$sql] got: $msg")
    }
    refuse(s"CREATE MATERIALIZED VIEW $cat.bad AS SELECT * FROM $cat.sales",
      "grouped aggregate")
    refuse(s"CREATE MATERIALIZED VIEW $cat.bad AS " +
      s"SELECT grp, sum(v) FROM $cat.sales GROUP BY grp",
      "alias every aggregate")
    refuse(s"CREATE MATERIALIZED VIEW $cat.bad AS " +
      s"SELECT grp, sum(DISTINCT v) AS t FROM $cat.sales GROUP BY grp",
      "DISTINCT is only maintainable under count")
    refuse(s"CREATE MATERIALIZED VIEW $cat.bad AS " +
      "SELECT grp, sum(v) AS t FROM other_cat.sales GROUP BY grp",
      "must live in catalog")
    refuse("CREATE MATERIALIZED VIEW unqualified AS " +
      s"SELECT grp, sum(v) AS t FROM $cat.sales GROUP BY grp",
      "<catalog>.<view>")
    // avg is refused by the matview engine itself (not mergeable)
    refuse(s"CREATE MATERIALIZED VIEW $cat.bad AS " +
      s"SELECT grp, avg(v) AS t FROM $cat.sales GROUP BY grp",
      "not algebraic-mergeable")
  }

  test("REFRESH of a view without a recorded definition is refused " +
      "by name") {
    val (root, cat) = stage()
    // a view built through the Scala API: spec restated per refresh,
    // no def table
    MatView.refresh(s2, root, MatView.Def("sales", "proc_mv", Seq("grp"),
      Seq(MatView.Agg("sum", "v", "total"))))
    assert(!AtomicPublish.currentManifestMeta(s2, root).get._2
      .contains("proc_mv_def"))
    val e = intercept[Exception] {
      s2.sql(s"REFRESH MATERIALIZED VIEW $cat.proc_mv").collect()
    }
    assert(e.getMessage.contains("no recorded definition"))
  }

  test("stock SQL statements delegate through untouched") {
    assert(s2.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
    // a table named like the keywords still parses via the delegate
    assert(s2.sql("SELECT 'materialized view' AS s").head().getString(0)
      == "materialized view")
  }
}
