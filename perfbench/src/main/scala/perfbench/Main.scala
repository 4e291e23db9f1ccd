package perfbench

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. `iterations` are the
  * wall times of the closed loop's units of work (an API batch journey, a
  * bulk batch journey, a query pass); `report` carries every metric the
  * workload defines, by name, for the report line. */
final case class Outcome(
    setupS: Double,
    iterations: Seq[Double],
    attempted: Long,
    failed: Long,
    report: Map[String, Metric],
    perLayer: Map[String, Metric],
    notes: Map[String, Any] = Map.empty)

final case class Metric(value: Double, unit: String)

/** Everything a workload needs from the command line. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, trace: Boolean, cores: Int, work: java.io.File,
    cache: java.io.File, t0Ms: Long, recordExpected: Boolean,
    sessionS: Double) {
  def sinceStartS: Double = (System.currentTimeMillis() - t0Ms) / 1000.0
  /** Progress line for the run log, stamped with seconds since launch. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] $sinceStartS%8.2f s  $msg")
  def dir(name: String): java.io.File = {
    val d = new java.io.File(work, name); d.mkdirs(); d
  }
}

/** The benchmark's JVM entry point; `run.py` builds the classpath and
  * launches it. Arguments:
  *
  *   --workload ingest_api|ingest_bulk|query_mix  --seed N  --seconds S
  *   --trace 0|1  --work DIR  --cache DIR  --t0-ms EPOCH_MS
  *   [--record-expected]
  *
  * The run's result goes to `DIR/result.json`; stdout carries nothing the
  * caller parses. */
object Main {
  def main(argv: Array[String]): Unit = {
    LiveMemory.install()
    val args = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    val flags = argv.filter(_.startsWith("--")).toSet
    def arg(k: String) = args.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val cores = Runtime.getRuntime.availableProcessors()
    val work = new java.io.File(arg("--work"))
    work.mkdirs()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
    val trace = arg("--trace") == "1"
    // traced runs count local filesystem operations
    if (trace)
      builder.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
        .config("spark.hadoop.fs.file.impl.disable.cache", "true")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, arg("--workload"), arg("--seed").toLong,
      arg("--seconds").toDouble, trace, cores, work,
      new java.io.File(arg("--cache")), arg("--t0-ms").toLong,
      flags("--record-expected"),
      sessionS = (System.currentTimeMillis() - arg("--t0-ms").toLong) / 1000.0)
    ctx.log("session started")
    val outcome = ctx.workload match {
      case "ingest_api" => IngestApi.run(ctx)
      case "ingest_bulk" => IngestBulk.run(ctx)
      case "query_mix" => QueryMix.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val live = LiveMemory.peakMb()
    val endToEnd = Map(
      "setup_s" -> Metric(outcome.setupS, "s"),
      "iteration_p50_s" -> Metric(Stats.median(outcome.iterations), "s"),
      "peak_live_mb" -> Metric(live, "MB"))
    val report = outcome.report ++ Map(
      "setup_s" -> Metric(outcome.setupS, "s"),
      "peak_live_mb" -> Metric(live, "MB"),
      "error_rate" -> Metric(outcome.failed.toDouble / outcome.attempted,
        "ratio"))
    def js(m: Map[String, Metric]) =
      m.map { case (k, v) => k -> Map("value" -> v.value, "unit" -> v.unit) }
    Json.writeFile(new java.io.File(work, "result.json"), Map(
      "correct" -> (outcome.failed == 0),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "end_to_end" -> js(endToEnd),
      "per_layer" -> js(outcome.perLayer),
      "report" -> js(report),
      "notes" -> (outcome.notes ++ Map(
        "iterations" -> outcome.iterations, "cores" -> cores))))
    spark.stop()
  }
}

/** Shared pieces of the workloads' closed loops. */
object Loop {
  /** Run `body` for iterations 0, 1, … until `seconds` have passed since
    * the first began (always at least one iteration). */
  def timed(seconds: Double)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      body(i); i += 1
    }
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Wall time of materializing `df` in full to the `noop` sink. */
  def noopSeconds(df: org.apache.spark.sql.DataFrame): Double =
    seconds(df.write.format("noop").mode("overwrite").save())._2
}
