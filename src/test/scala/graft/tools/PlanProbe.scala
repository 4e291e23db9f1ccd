package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan probe (test scope, not shipped): prints the optimized and the
  * physical plan of every declared query ([[graft.SparkEntry.queries]])
  * whose name starts with a prefix, in name order, then runs the query
  * once as a `noop` write and prints the files each of its scans read
  * ([[graft.ops.ScanFiles]]) — run it on two checkouts and diff the
  * output to show a change left the plans and the files read alone.
  *
  * {{{
  * sbt "Test/runMain graft.tools.PlanProbe <data dir> <name prefix>"
  * }}} */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      "usage: PlanProbe <data dir> <query-name prefix>")
    val Array(dir, prefix) = args
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    val selected = graft.SparkEntry.queries.toSeq
      .filter(_._1.startsWith(prefix)).sortBy(_._1)
    for ((name, query) <- selected) {
      val df = query(spark, dir)
      val qe = df.queryExecution
      println(s"=== $name ===")
      println("--- optimized ---")
      println(qe.optimizedPlan)
      println("--- physical ---")
      println(qe.executedPlan)
      // the noop write runs under its own QueryExecution: catch it
      val (_, written) = graft.ops.ScanFiles.executedDuring(spark)(
        df.write.format("noop").mode("overwrite").save())
      println("--- files read ---")
      val scans = written.flatMap(w => graft.ops.ScanFiles.scansOf(w.executedPlan))
      if (scans.isEmpty) println("(no file-source scan)")
      scans.foreach { s =>
        val table = s.relation.location.rootPaths.headOption
          .map(_.getName).getOrElse("?")
        println(s"$table: ${s.metrics("numFiles").value} files")
      }
    }
    spark.stop()
  }
}
