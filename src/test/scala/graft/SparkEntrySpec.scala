package graft

/** Driver-contract guards: every registered query must analyze AND
  * execute against the harness testdata (an unresolved column or a
  * dialect slip otherwise surfaces only in the driver's Verify run),
  * and the oracle map must never dangle. */
class SparkEntrySpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  test("every oracleSql key has a queries entry (no dangling oracles)") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracleSql without queries: $dangling")
  }

  test("entry() smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query executes at sf0.001 and returns rows") {
    // no query may answer empty anymore: j3 runs against a degraded
    // parent set precisely so the gate has anti-join survivors
    val emptyOk = Set.empty[String]
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val n = fn(spark, dir).count()
          if (n > 0 || emptyOk(name)) None else Some(s"$name: 0 rows")
        } catch {
          case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}")
        }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("store17: the mirror the CDC stream maintains equals its oracle " +
      "SQL at sf0.001") {
    // the one declared query that reads readStream.format("graft")
    core.Tables.documents(spark, dir).createOrReplaceTempView("documents")
    try {
      val got = analytics.AdvancedQueries.store17CdcCompaction(spark, dir)
        .collect().toSeq
      val want = spark.sql(analytics.AdvancedQueries.store17CdcCompactionSql)
        .collect().toSeq
      assert(got.nonEmpty && got == want, s"stream $got vs oracle $want")
    } finally { spark.catalog.dropTempView("documents"); () }
  }
}
