package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan probe (test scope, not shipped): prints the optimized and the
  * physical plan of every declared query ([[graft.SparkEntry.queries]])
  * whose name starts with a prefix, in name order — run it on two
  * checkouts and diff the output to show a change left the plans alone.
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
      val qe = query(spark, dir).queryExecution
      println(s"=== $name ===")
      println("--- optimized ---")
      println(qe.optimizedPlan)
      println("--- physical ---")
      println(qe.executedPlan)
    }
    spark.stop()
  }
}
