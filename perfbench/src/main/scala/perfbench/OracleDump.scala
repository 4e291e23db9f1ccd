package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Dumps each `query_mix` query's result on the generated tables to
  * parquet, with the query's DuckDB oracle SQL, for `oracle_check.py`:
  *
  *   java … perfbench.OracleDump <cache dir> <out dir>
  *
  * A development tool: it shows that the results recorded in
  * `expected/query_mix.json` are the oracle's answers. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val Array(cacheDir, outDir) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dataDir = QueryData.ensure(spark, new java.io.File(cacheDir, "data"))
    new java.io.File(outDir).mkdirs()
    QueryMix.Queries.foreach { q =>
      SparkEntry.queries(q)(spark, dataDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$q")
    }
    Json.writeFile(new java.io.File(outDir, "oracle_sql.json"),
      QueryMix.Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
        .toMap)
    spark.stop()
  }
}
