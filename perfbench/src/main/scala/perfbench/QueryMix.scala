package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `query_mix`: passes over 12 declared queries at sf0.1, in an order the
  * seed picks, starting from a cold JVM. Each query is built and then
  * materialized in full to the `noop` sink; a pass's time is the sum of
  * build and materialize times. Why each query is in the mix is in
  * `perfbench/WORKLOADS.md`. */
object QueryMix {
  val SetupRepeats = 5
  val Queries: Seq[String] = Seq(
    // heavy families
    "llm1_prep_counts", "n2_ngram_jaccard", "t8_bigram_lm", "t14c_bpe_apply", "mm1_media_stats",
    // operators a count() prunes away
    "t1_lang_id", "t9_pii_redact", "n12_span_scrub", "e7_asof_join",
    "w2_lag_delta",
    // relational
    "q1_agg", "j6_q5_volume")

  /** Canonical form of a column for hashing: floating-point values are
    * printed to 9 significant digits, so a last-bit difference from a
    * different summation order does not change the hash. */
  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c)
    case ArrayType(et, _) => transform(c, x => canonical(x, et))
    case s: StructType =>
      struct(s.fields.toIndexedSeq.map(f =>
        canonical(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(_, vt, _) => transform_values(c, (_, v) => canonical(v, vt))
    case _ => c
  }
  private type Column = org.apache.spark.sql.Column

  /** `df` with an observation of its row count and order-insensitive
    * content hash (the sum of every row's canonical xxhash64), collected
    * while the result is materialized. Returns the observed frame and a
    * reader for (rows, hash) once the action has run. */
  def observed(df: DataFrame): (DataFrame, () => (Long, String)) = {
    val obs = new org.apache.spark.sql.Observation()
    val h = xxhash64(df.schema.fields.toIndexedSeq.map(f =>
      canonical(col(s"`${f.name}`"), f.dataType)): _*)
    val out = df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
        .as("hash"))
    (out, () => {
      val m = obs.get
      (m("rows").asInstanceOf[Long],
        m("hash").asInstanceOf[java.math.BigDecimal].toBigInteger.toString)
    })
  }

  private def release(df: DataFrame): Unit =
    try org.apache.spark.sql.graftstream.StreamingBridge.unpersistCheckpoint(df)
    catch { case _: Exception => () }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = new Tracer(spark, ctx.trace, s"query_mix-${ctx.seed}")
    val dir = QueryData.ensure(spark, new java.io.File(ctx.cache, "data"))
    // mounts are repeated in fresh sessions (the mount memo is per
    // session) and their median reported; the last session runs the mix
    val mounts = (1 to SetupRepeats).map { _ =>
      val session = spark.newSession()
      Loop.seconds(QueryData.Tables.foreach { t =>
        graft.core.Tables(session, dir, t).schema
      })._2 -> session
    }
    val mountS = Stats.median(mounts.map(_._1))
    val session = mounts.last._2

    val expectedFile = new java.io.File("perfbench/expected/query_mix.json")
    val expected = Json.readFile(expectedFile)("queries")
      .asInstanceOf[Map[String, Map[String, Any]]]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    val recorded = scala.collection.mutable.Map.empty[String, Map[String, Any]]
    val setupS = ctx.sessionS + mountS
    ctx.log("tables mounted")

    /** Compare a query's observed (rows, hash) with the recorded values. */
    def check(q: String, rows: Long, hash: String): Unit = {
      recorded(q) = Map("rows" -> rows, "hash" -> hash)
      expected.get(q) match {
        case Some(e) if e("rows").toString.toLong == rows &&
            e("hash").toString == hash => ()
        case e => failures += s"$q: got ($rows, $hash), expected $e"
      }
    }

    /** One pass in the seeded order; per query (build s, materialize s).
      * Each result's row count and content hash are observed during the
      * materialization and checked after it: a separate checking pass
      * would cost about 20 s a run, while observing costs less than warm
      * passes vary. */
    def pass(p: Int): Map[String, (Double, Double)] = {
      val order = new scala.util.Random(ctx.seed * 7919 + p).shuffle(Queries)
      order.map { q =>
        attempted += 1
        val t0 = System.nanoTime()
        try {
          val (df, build) = Loop.seconds(tr.span(s"query.$q.construct") {
            SparkEntry.queries(q)(session, dir)
          })
          val (out, result) = observed(df)
          val mat = tr.span(s"query.$q.materialize")(Loop.noopSeconds(out))
          release(df)
          val (rows, hash) = result()
          check(q, rows, hash)
          q -> (build, mat)
        } catch {
          case e: Exception =>
            failures += s"$q pass $p: $e"
            q -> ((System.nanoTime() - t0) / 1e9, 0.0) // time to the failure
        }
      }.toMap
    }

    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val perQuery = scala.collection.mutable.Map.empty[String, List[Double]]
    tr.on()
    Loop.timed(ctx.seconds) { p =>
      val times = tr.span("query_mix.pass")(pass(p))
      ctx.log(s"pass $p done")
      passes += times.values.map { case (b, m) => b + m }.sum
      times.foreach { case (q, (b, m)) =>
        perQuery(q) = (b + m) :: perQuery.getOrElse(q, Nil)
      }
    }
    tr.off()

    if (ctx.recordExpected)
      Json.writeFile(new java.io.File(ctx.work, "query_mix.expected.json"),
        Map("data" -> QueryData.Version, "queries" -> recorded.toMap))

    val report = Map("query_total_s" -> Metric(
      Stats.median(passes.toSeq), "s")) ++ perQuery.map { case (q, ts) =>
      s"query.$q.total_s" -> Metric(Stats.median(ts), "s") }
    val notes = Map("failures" -> failures.take(20).toSeq,
      "passes" -> passes.size)

    val perLayer =
      if (!ctx.trace) Map.empty[String, Metric]
      else {
        // count() times, to mark the queries whose timed operator a
        // count() prunes away
        val countS = Queries.map { q =>
          val df = SparkEntry.queries(q)(session, dir)
          val (_, s) = Loop.seconds(df.count())
          release(df)
          q -> s
        }.toMap
        val m = Queries.flatMap { q =>
          val cons = tr.spansNamed(s"query.$q.construct")
          val mats = tr.spansNamed(s"query.$q.materialize")
          val cw = cons.map(tr.work)
          val all = (cons ++ mats).map(tr.work)
          val n = math.max(1, cons.size).toDouble
          Seq(
            s"query.$q.construct_s" -> Metric(cons.map(_.seconds).sum / n, "s"),
            s"query.$q.construct_jobs" -> Metric(cw.map(_.jobs).sum / n, "count"),
            s"query.$q.stages" -> Metric(all.map(_.stages).sum / n, "count"),
            s"query.$q.task_time_s" -> Metric(all.map(_.taskSeconds).sum / n, "s"),
            s"query.$q.shuffle_write_bytes" -> Metric(
              all.map(_.shuffleWriteBytes).sum / n, "bytes"),
            s"query.$q.count_s" -> Metric(countS(q), "s"))
        }.toMap ++ tr.sparkTotals(tr.spansNamed("query_mix.pass"),
          ctx.cores) ++ Map("core.Tables.mount_s" -> Metric(mountS, "s"))
        tr.save(ctx, m)
        m
      }
    tr.close()
    Outcome(setupS, passes.toSeq, attempted,
      failures.size.toLong, report, perLayer, notes)
  }
}
