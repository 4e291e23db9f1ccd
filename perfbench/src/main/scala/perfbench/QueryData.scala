package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The query_mix input: the ten tables the declared queries read
  * (`region` … `embeddings`), generated in-process at sf0.1 with the same
  * schemas, row counts and value shapes as the engine's reference test
  * data (TPC-H-like star schema, an `events` stream, a word-salad
  * `documents` corpus with planted near-duplicates, unit-norm labelled
  * `embeddings`).
  *
  * The data is fixed: it depends on [[DataSeed]] only, never on the
  * workload seed, so each query's row count and content hash can be
  * recorded once (`expected/query_mix.json`). The workload seed picks the
  * order the queries run in. Every table is generated by one sequential
  * `SplittableRandom` stream in one task and written as one parquet file,
  * so the bytes do not depend on the core count. */
object QueryData {
  val DataSeed = 42L

  /** Name of the data directory; a new generator needs a new name. */
  val Version = "sf0.1-v1"

  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val PartAdj = Array("large", "hot", "blue", "small", "red",
    "green", "bright", "dark")
  private val PartNoun = Array("ring", "bolt", "gear", "pipe", "valve",
    "screw", "nut", "spring")
  private val PartTypes = Array("LARGE", "ECONOMY", "SMALL", "MEDIUM",
    "PROMO", "STANDARD")
  private val EventTypes = Array("signup", "click", "view", "purchase",
    "error")
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: SplittableRandom, from: LocalDateTime,
      days: Int): LocalDateTime = from.plusDays(r.nextInt(days).toLong)

  /** Rows of one table, all drawn from one seeded stream. */
  private def rows(table: String): (StructType, Iterator[Row]) = {
    val r = new SplittableRandom(DataSeed * 1000003L + table.hashCode)
    def schema(fs: (String, DataType)*) =
      StructType(fs.map { case (n, t) => StructField(n, t) })
    table match {
      case "region" =>
        val names = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        (schema("r_regionkey" -> IntegerType, "r_name" -> StringType),
          Iterator.range(0, 5).map(i => Row(i, names(i))))
      case "nation" =>
        (schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
          "n_regionkey" -> IntegerType),
          Iterator.range(0, 25).map(i => Row(i, s"NATION_$i", i % 5)))
      case "customer" =>
        (schema("c_custkey" -> LongType, "c_name" -> StringType,
          "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
          "c_mktsegment" -> StringType),
          Iterator.range(0, 15000).map(i => Row(i.toLong,
            f"Customer#$i%09d", r.nextInt(25), cents(r, -999.99, 9999.99),
            Segments(r.nextInt(Segments.length)))))
      case "supplier" =>
        (schema("s_suppkey" -> LongType, "s_name" -> StringType,
          "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
          Iterator.range(0, 1000).map(i => Row(i.toLong, f"Supplier#$i%09d",
            r.nextInt(25), cents(r, -999.99, 9999.99))))
      case "part" =>
        (schema("p_partkey" -> LongType, "p_name" -> StringType,
          "p_brand" -> StringType, "p_type" -> StringType,
          "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
          Iterator.range(0, 20000).map(i => Row(i.toLong,
            PartAdj(r.nextInt(PartAdj.length)) + " " +
              PartNoun(r.nextInt(PartNoun.length)),
            s"Brand#${1 + r.nextInt(25)}", PartTypes(r.nextInt(PartTypes.length)),
            1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))
      case "orders" =>
        val from = LocalDateTime.of(1995, 1, 1, 0, 0)
        (schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
          "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
          "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
          Iterator.range(0, 150000).map(i => Row(i.toLong,
            r.nextInt(15000).toLong, "FOP".charAt(r.nextInt(3)).toString,
            cents(r, 1000.0, 500000.0), day(r, from, 2404),
            Priorities(r.nextInt(Priorities.length)))))
      case "lineitem" =>
        val from = LocalDateTime.of(1995, 1, 2, 0, 0)
        (schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
          "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
          "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
          "l_discount" -> DoubleType, "l_tax" -> DoubleType,
          "l_returnflag" -> StringType, "l_linestatus" -> StringType,
          "l_shipdate" -> TimestampNTZType),
          Iterator.range(0, 600000).map(_ => Row(r.nextInt(150000).toLong,
            r.nextInt(20000).toLong, r.nextInt(1000).toLong, 1 + r.nextInt(7),
            (1 + r.nextInt(50)).toDouble, cents(r, 900.0, 105000.0),
            r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
            "ANR".charAt(r.nextInt(3)).toString,
            "FO".charAt(r.nextInt(2)).toString, day(r, from, 2498))))
      case "events" =>
        // ascending timestamps over 30 days, microsecond precision
        val from = LocalDateTime.of(2024, 1, 1, 0, 0)
        val spanMicros = 30L * 24 * 3600 * 1000000L
        val n = 100000
        val ts = Array.fill(n)((r.nextDouble() * spanMicros).toLong).sorted
        (schema("event_id" -> LongType, "ts" -> TimestampNTZType,
          "user_id" -> LongType, "event_type" -> StringType,
          "value" -> DoubleType, "props" -> StringType),
          Iterator.range(0, n).map(i => Row(i.toLong,
            from.plusNanos(ts(i) * 1000L), r.nextInt(1500).toLong,
            EventTypes(r.nextInt(EventTypes.length)),
            math.round(-math.log(1.0 - r.nextDouble()) * 5000) / 100.0,
            s"""{"k": ${r.nextInt(100)}}""")))
      case "documents" =>
        val n = 5000
        val texts = new Array[String](n)
        (schema("doc_id" -> LongType, "text" -> StringType,
          "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
          Iterator.range(0, n).map { i =>
            // 5% near-duplicates of an earlier document, a few exact ones
            val t =
              if (i > 10 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
              else if (i > 10 && r.nextInt(600) == 0) texts(r.nextInt(i))
              else Iterator.fill(8 + r.nextInt(93))(
                Vocab(r.nextInt(Vocab.length))).mkString(" ")
            texts(i) = t
            Row(i.toLong, t, Langs(r.nextInt(Langs.length)), s"src${i % 20}",
              t.length.toLong)
          })
      case "embeddings" =>
        val dim = 64
        val centroids = Array.fill(10, dim)(r.nextDouble() * 2 - 1)
        (schema("vec_id" -> LongType,
          "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
          Iterator.range(0, 2000).map { i =>
            val label = r.nextInt(10)
            val v = Array.tabulate(dim)(d =>
              centroids(label)(d) + (r.nextDouble() * 2 - 1) * 0.8)
            val norm = math.sqrt(v.map(x => x * x).sum)
            Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
          })
    }
  }

  /** Generate the tables under `parent` unless a complete copy is there;
    * returns their directory. */
  def ensure(spark: SparkSession, parent: java.io.File): String = {
    val dir = new java.io.File(parent, Version)
    val done = new java.io.File(dir, "_COMPLETE")
    if (done.isFile) return dir.getPath
    Fs.delete(dir)
    Tables.foreach { t =>
      val (schema, it) = rows(t)
      val buf = new java.util.ArrayList[Row]()
      it.foreach(buf.add)
      spark.createDataFrame(buf, schema).coalesce(1)
        .write.parquet(new java.io.File(dir, s"$t.parquet").getPath)
    }
    java.nio.file.Files.writeString(done.toPath, Version)
    dir.getPath
  }
}
