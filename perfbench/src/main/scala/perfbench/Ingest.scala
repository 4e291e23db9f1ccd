package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}

import graft.etl.PatientIngestion
import graft.etl.PatientIngestion.IngestResult
import graft.ops.{AesCodec, AtomicPublish, Sinks, Validation}

/** The reference `POST /ingest` journey, as `IngestJourneySpec` drives it:
  * conflict split on the raw batch → `PatientIngestion.ingest` → audit and
  * run-metadata rows → one commit of patients, quarantine, audit_log and
  * pipeline_runs. Shared by the `ingest_api` and `ingest_bulk` workloads. */
object Ingest {
  val Tables = Seq("patients", "quarantine", "audit_log", "pipeline_runs")

  /** A fixed key per seed, so a run's ciphertext can be decrypted by the
    * output checks. */
  def codec(seed: Long): AesCodec =
    AesCodec(Array.tabulate(32)(i => (seed * 131 + i * 7).toByte))

  /** The frames one batch commits. */
  final case class Frames(result: IngestResult, quarantine: DataFrame,
      audit: DataFrame, run: DataFrame) {
    def all: Seq[DataFrame] = Seq(result.loaded, quarantine, audit, run)
  }

  def frames(spark: SparkSession, raw: DataFrame, existing: DataFrame,
      submitted: Long, codec: AesCodec, tr: Tracer): Frames = {
    val started = new Timestamp(System.currentTimeMillis())
    val split = tr.span("ops.Sinks.detectConflicts") {
      Sinks.detectConflicts(raw, existing, key = "mrn",
        orderBy = Seq(col("name")))
    }
    val result = tr.span("etl.PatientIngestion.ingest") {
      PatientIngestion.ingest(split.insertable, codec)
    }
    val audit = tr.span("ops.Sinks.auditEntries") {
      Sinks.auditEntries("ingestion_api", "create", "patient",
        result.loaded, "mrn")
    }
    val run = tr.span("ops.Sinks.pipelineRunRow") {
      Sinks.pipelineRunRow(spark, "patient_ingestion", "completed", started,
        new Timestamp(System.currentTimeMillis()), submitted,
        result.counts.loaded, "[]", "{}")
    }
    Frames(result, result.validationErrors.select(col("mrn"), col("errors")),
      audit, run)
  }

  def commitTables(f: Frames): Map[String, DataFrame] =
    Tables.zip(f.all).toMap

  /** An empty `mrn` frame: the existing-key side of a fresh store. */
  def noKeys(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](),
      new StructType().add("mrn", StringType))

  /** Publish the four tables empty, so batches can upsert into them. The
    * table schemas come from the journey over one record (`ingest` of an
    * empty batch fails: its stage-count aggregate reads a null sum). */
  def createStore(spark: SparkSession, root: String, codec: AesCodec,
      sample: Row): Unit = {
    val one = PatientIngestion.batchFromRows(spark, Seq(sample))
    val f = frames(spark, one, noKeys(spark), 1L, codec,
      new Tracer(spark, false, ""))
    AtomicPublish.publish(spark, root,
      commitTables(f).map { case (t, df) => t -> df.limit(0) })
  }

  /** Failed checks in `ingest`'s own stage counts. */
  def countMismatches(r: IngestResult, e: PatientGen.Expected): Seq[String] =
    Seq("extract" -> (r.counts.extract, e.extracted),
      "valid" -> (r.counts.valid, e.validated),
      "consented" -> (r.counts.consented, e.loaded),
      "loaded" -> (r.counts.loaded, e.loaded)).collect {
      case (n, (got, want)) if got != want => s"ingest $n: $got != $want"
    }

  /** Failed checks of the committed store against the expected totals. */
  def storeMismatches(spark: SparkSession, root: String,
      e: PatientGen.Expected, runs: Long): Seq[String] =
    Seq("patients" -> e.loaded, "quarantine" -> e.quarantined,
      "audit_log" -> e.loaded, "pipeline_runs" -> runs).flatMap {
      case (t, want) =>
        val got = AtomicPublish.readTable(spark, root, t).count()
        if (got != want) Some(s"$t rows: $got != $want") else None
    }

  /** Failed checks when decrypting committed patient rows back to the
    * generator's plaintext. */
  def decryptMismatches(rows: Seq[Row], gen: PatientGen,
      codec: AesCodec): Seq[String] =
    rows.flatMap { r =>
      val i = PatientGen.indexOf(r.getAs[String]("mrn"))
      val want = Seq(gen.name(i), gen.birthDate(i),
        if (gen.hasSsn(i)) gen.ssn(i) else null)
      val got = Seq("encrypted_name", "encrypted_dob", "encrypted_ssn")
        .map(c => codec.decrypt(r.getAs[String](c)))
      if (got != want) Some(s"decrypt ${r.getAs[String]("mrn")}: $got != $want")
      else None
    }

  /** Files the scans of an executed query read. */
  def filesRead(df: DataFrame): Long = {
    def go(p: SparkPlan): Long = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        go(q.plan)
    }.sum
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        go(a.executedPlan)
      case p => go(p)
    }
  }

  /** Self costs from noop-materializing each stage of the journey in turn
    * (traced runs only): the conflict split, validation, and the consent
    * gate plus encryption, each minus the stage before it. */
  def stageProbes(spark: SparkSession, raw: DataFrame, existing: DataFrame,
      codec: AesCodec): Map[String, Double] = {
    val tRaw = Loop.noopSeconds(raw)
    val split = Sinks.detectConflicts(raw, existing, key = "mrn",
      orderBy = Seq(col("name")))
    val tSplit = Loop.noopSeconds(split.insertable)
    val tValid = Loop.noopSeconds(
      Validation.withErrors(split.insertable, Validation.fhirPatientRules)
        .withColumn("consented", PatientIngestion.consentGate))
    val tLoaded = Loop.noopSeconds(
      PatientIngestion.ingest(split.insertable, codec).loaded)
    Map("ops.Sinks.detect_conflicts_s" -> (tSplit - tRaw),
      "ops.Validation.self_s" -> (tValid - tSplit),
      "ops.Crypto.self_s" -> (tLoaded - tValid))
  }

  /** Nanoseconds per `AesCodec.encrypt` call on one thread. */
  def encryptNs(codec: AesCodec, gen: PatientGen): Double = {
    val xs = Array.tabulate(1024)(i => gen.name(i.toLong))
    var sink = 0
    def burst(n: Int): Unit = (0 until n).foreach { k =>
      sink += codec.encrypt(xs(k & 1023)).length
    }
    burst(20000) // JIT warm-up
    val (_, s) = Loop.seconds(burst(100000))
    require(sink > 0)
    s * 1e9 / 100000
  }

  /** Per-layer metrics of a traced ingest run. Spans named `etl.batch`
    * cover one batch's journey from conflict detection to commit;
    * `commitSpan` names the commit call. */
  def perLayer(tr: Tracer, ctx: Ctx, commitSpan: String,
      submittedPerBatch: Long, probes: Map[String, Double], segments: Int,
      lookupFiles: Seq[Long], codec: AesCodec,
      gen: PatientGen): Map[String, Metric] = {
    val batches = tr.spansNamed("etl.batch")
    val works = batches.map(tr.work)
    val commits = tr.spansNamed(commitSpan)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def fs(f: Tracer.Span => Long) = med(commits.map(c => f(c).toDouble))
    Map(
      "etl.jobs_per_batch" -> Metric(med(works.map(_.jobs.toDouble)), "count"),
      "etl.PatientIngestion.ingest_s" -> Metric(
        med(tr.spansNamed("etl.PatientIngestion.ingest").map(_.seconds)), "s"),
      "etl.raw_reread_factor" -> Metric(
        med(works.map(_.recordsRead.toDouble / submittedPerBatch)), "ratio"),
      "ops.Validation.self_s" -> Metric(probes("ops.Validation.self_s"), "s"),
      "ops.Crypto.self_s" -> Metric(probes("ops.Crypto.self_s"), "s"),
      "ops.Crypto.encrypt_ns" -> Metric(encryptNs(codec, gen), "ns"),
      "ops.Sinks.detect_conflicts_s" -> Metric(
        probes("ops.Sinks.detect_conflicts_s"), "s"),
      "ops.AtomicPublish.commit_s" -> Metric(med(commits.map(_.seconds)), "s"),
      // the commit's time outside the Spark jobs that materialize and
      // write its inputs: manifest, rename and listing work
      "ops.AtomicPublish.commit_self_s" -> Metric(
        med(commits.map(c => c.seconds - tr.work(c).jobSeconds)), "s"),
      "ops.AtomicPublish.fs_write_ops" -> Metric(
        fs(c => c.fsEnd.writeOps - c.fsStart.writeOps), "count"),
      "ops.AtomicPublish.fs_read_ops" -> Metric(
        fs(c => c.fsEnd.readOps - c.fsStart.readOps), "count"),
      "ops.AtomicPublish.fs_bytes_written" -> Metric(
        fs(c => c.fsEnd.bytesWritten - c.fsStart.bytesWritten), "bytes"),
      "ops.AtomicPublish.segments" -> Metric(segments.toDouble, "count"),
      "ops.AtomicPublish.lookup_files_read" -> Metric(
        med(lookupFiles.map(_.toDouble)), "count")) ++
      tr.sparkTotals(batches, ctx.cores)
  }
}

/** `ingest_api`: the reference API journey, one closed-loop client,
  * 1,000-record batches (the API cap), each followed by a point lookup by
  * MRN and a 200-row ordered page, against one growing store. */
object IngestApi {
  val BatchSize = 1000
  val PageSize = 200
  val WarmupBatches = 1
  val SetupRepeats = 3

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val gen = new PatientGen(ctx.seed)
    val codec = Ingest.codec(ctx.seed)
    val tr = new Tracer(spark, ctx.trace, s"ingest_api-${ctx.seed}")
    val root = new java.io.File(ctx.dir("store"), "ehr").getPath
    val rng = new java.util.Random(ctx.seed)
    val creates = (1 to SetupRepeats).map { _ =>
      Fs.delete(new java.io.File(root))
      Loop.seconds(Ingest.createStore(spark, root, codec, gen.record(0, 0)))._2
    }

    var batch = 0L
    var total = PatientGen.NoRecords
    val loaded = scala.collection.mutable.ArrayBuffer.empty[Long] // sorted
    var attempted = 0L
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val batchS, lookupS, pageS, iterS =
      scala.collection.mutable.ArrayBuffer.empty[Double]
    val lookupFiles = scala.collection.mutable.ArrayBuffer.empty[Long]

    def latest = AtomicPublish.readTable(spark, root, "patients")

    /** One journey; returns its (batch, lookup, page) seconds. */
    def oneBatch(): (Double, Double, Double) = {
      val from = batch * BatchSize
      val until = from + BatchSize
      val rows = (from until until).map(i => gen.record(i, from))
      val exp = gen.expected(from, until, _ => from)
      batch += 1
      attempted += 3
      val (f, tBatch) = Loop.seconds(tr.span("etl.batch") {
        val raw = PatientIngestion.batchFromRows(spark, rows)
        val existing = tr.span("ops.AtomicPublish.readTable") {
          latest.select("mrn")
        }
        val f = Ingest.frames(spark, raw, existing, BatchSize.toLong, codec, tr)
        tr.span("ops.AtomicPublish.upsertMany") {
          AtomicPublish.upsertMany(spark, root,
            Map("patients" -> AtomicPublish.Upsert(f.result.loaded,
              f.result.loaded.select("mrn"))),
            extraAppend = Ingest.commitTables(f) - "patients")
        }
        f
      })
      total = total + exp
      (from until until).foreach { i =>
        val k = gen.kind(i, from)
        if (k == PatientGen.Valid || k == PatientGen.NullSsn) loaded += i
      }
      failures ++= Ingest.countMismatches(f.result, exp)

      val want = loaded(rng.nextInt(loaded.size))
      val ((lookupDf, hit), tLookup) =
        Loop.seconds(tr.span("ops.AtomicPublish.lookup") {
          val df = latest.filter(col("mrn") === PatientGen.mrn(want))
          (df, df.collect().toSeq)
        })
      if (ctx.trace) lookupFiles += Ingest.filesRead(lookupDf)
      if (hit.size != 1) failures += s"lookup ${PatientGen.mrn(want)}: ${hit.size} rows"
      else failures ++= Ingest.decryptMismatches(hit, gen, codec)

      val off = rng.nextInt(math.max(1, loaded.size - PageSize + 1))
      val (page, tPage) = Loop.seconds(tr.span("ops.AtomicPublish.page") {
        latest.orderBy(col("mrn")).offset(off).limit(PageSize).collect().toSeq
      })
      if (page.map(_.getAs[String]("mrn")) !=
          loaded.slice(off, off + PageSize).map(PatientGen.mrn))
        failures += s"page at $off: not the expected mrns"
      (tBatch, tLookup, tPage)
    }

    def guarded(): Unit =
      try {
        val (b, l, p) = oneBatch()
        batchS += b; lookupS += l; pageS += p; iterS += b + l + p
      } catch { case e: Exception => failures += s"batch $batch: $e" }

    val (_, warmS) = Loop.seconds((0 until WarmupBatches).foreach(_ => guarded()))
    Seq(batchS, lookupS, pageS, iterS).foreach(_.clear())
    val setupS = ctx.sessionS + Stats.median(creates) + warmS
    ctx.log("warm-up done")

    tr.on()
    Loop.timed(ctx.seconds)(_ => guarded())
    tr.off()
    ctx.log(s"$batch batches done")

    attempted += 5
    failures ++= Ingest.storeMismatches(spark, root, total, batch)
    failures ++= Ingest.decryptMismatches(
      latest.orderBy(col("mrn")).limit(20).collect().toSeq, gen, codec)

    val tail = Stats.tail(batchS.toSeq)
    val report = Map(
      "records_per_s" -> Metric(BatchSize * batchS.size / batchS.sum, "1/s"),
      "batch_p50_s" -> Metric(Stats.median(batchS.toSeq), "s"),
      "batch_tail_s" -> Metric(tail.map(_._2).getOrElse(batchS.max), "s"),
      "lookup_p50_s" -> Metric(Stats.median(lookupS.toSeq), "s"),
      "page_p50_s" -> Metric(Stats.median(pageS.toSeq), "s"),
      "stored_bytes_per_input_byte" -> Metric(
        Fs.bytesUnder(new java.io.File(root)).toDouble / total.inputBytes,
        "ratio"))
    val notes = Map(
      "batch_tail_percentile" -> tail.map(_._1).getOrElse(100.0),
      "batch_tail_samples" -> batchS.size,
      "batches" -> batch, "expected" -> total.toMap,
      "failures" -> failures.take(20).toSeq)

    val perLayer =
      if (!ctx.trace) Map.empty[String, Metric]
      else {
        val segments = AtomicPublish.currentManifestMeta(spark, root)
          .map(_._2("patients").owners.size).getOrElse(0)
        val from = batch * BatchSize
        val probeRaw = PatientIngestion.batchFromRows(spark,
          (from until from + BatchSize).map(i => gen.record(i, from)))
        val probes = Ingest.stageProbes(spark, probeRaw,
          latest.select("mrn"), codec)
        val m = Ingest.perLayer(tr, ctx, "ops.AtomicPublish.upsertMany",
          BatchSize.toLong, probes, segments, lookupFiles.toSeq, codec, gen)
        tr.save(ctx, m)
        m
      }
    tr.close()
    Outcome(setupS, iterS.toSeq, attempted,
      failures.size.toLong, report, perLayer, notes)
  }
}

/** `ingest_bulk`: one seeded batch of [[Records]] records per iteration,
  * read from a parquet landing file written during set-up, through the
  * same journey into a `publish` of a fresh store, then a point lookup by
  * MRN. The JVM starts cold, as a one-shot bulk load does: no warm-up. */
object IngestBulk {
  val Records = 1000000L
  val SetupRepeats = 3

  /** Write records [0, n) to a parquet landing file; returns their
    * expected outcome, tallied from the generator while writing. */
  private def land(ctx: Ctx, gen: PatientGen, n: Long,
      path: java.io.File): PatientGen.Expected = {
    val tally = new ExpectedTally
    ctx.spark.sparkContext.register(tally)
    ctx.spark.range(0, n, 1, ctx.cores)
      .mapPartitions { it =>
        val counts = new Array[Long](PatientGen.Kinds.size)
        var bytes = 0L
        var done = false
        new Iterator[Row] {
          def hasNext: Boolean = {
            val more = it.hasNext
            if (!more && !done) {
              done = true
              tally.add(PatientGen.Expected(
                PatientGen.Kinds.zip(counts).toMap, bytes))
            }
            more
          }
          def next(): Row = {
            val i = it.next()
            val (r, k) = gen.recordAndKind(i, i)
            counts(PatientGen.Kinds.indexOf(k)) += 1
            bytes += gen.inputBytes(r)
            r
          }
        }
      }(org.apache.spark.sql.Encoders.row(PatientIngestion.inputSchema))
      .write.parquet(path.getPath)
    tally.value
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val gen = new PatientGen(ctx.seed)
    val codec = Ingest.codec(ctx.seed)
    val tr = new Tracer(spark, ctx.trace, s"ingest_bulk-${ctx.seed}")
    val landing = new java.io.File(ctx.dir("landing"), "patients.parquet")
    // set-up is repeated and its median reported: the first landing pays
    // the cold JVM's one-time costs
    val landings = (1 to SetupRepeats).map { _ =>
      Fs.delete(landing)
      Loop.seconds(land(ctx, gen, Records, landing))
    }
    val exp = landings.last._1
    val rng = new java.util.Random(ctx.seed)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    val setupS = ctx.sessionS + Stats.median(landings.map(_._2))
    ctx.log("landing file written")

    val batchS, lookupS, iterS =
      scala.collection.mutable.ArrayBuffer.empty[Double]
    val lookupFiles = scala.collection.mutable.ArrayBuffer.empty[Long]
    var storedRatio = Double.NaN
    var segments = 0
    tr.on()
    Loop.timed(ctx.seconds) { i =>
      val root = new java.io.File(ctx.dir("stores"), s"s$i").getPath
      attempted += 2
      try {
        val (f, tBatch) = Loop.seconds(tr.span("etl.batch") {
          val raw = spark.read.parquet(landing.getPath)
          val f = Ingest.frames(spark, raw, Ingest.noKeys(spark), Records,
            codec, tr)
          tr.span("ops.AtomicPublish.publish") {
            AtomicPublish.publish(spark, root, Ingest.commitTables(f))
          }
          f
        })
        // the first loaded record at or after a random index
        val start = rng.nextInt(Records.toInt).toLong
        val want = Iterator.from(0).map(k => (start + k) % Records).find { i =>
          val k = gen.kind(i, i); k == PatientGen.Valid || k == PatientGen.NullSsn
        }.get
        val ((lookupDf, hit), tLookup) =
          Loop.seconds(tr.span("ops.AtomicPublish.lookup") {
            val df = AtomicPublish.readTable(spark, root, "patients")
              .filter(col("mrn") === PatientGen.mrn(want))
            (df, df.collect().toSeq)
          })
        batchS += tBatch; lookupS += tLookup; iterS += tBatch + tLookup
        if (ctx.trace) lookupFiles += Ingest.filesRead(lookupDf)

        tr.off()
        failures ++= Ingest.countMismatches(f.result, exp)
        if (hit.size != 1) failures += s"lookup ${PatientGen.mrn(want)}: ${hit.size} rows"
        else failures ++= Ingest.decryptMismatches(hit, gen, codec)
        failures ++= Ingest.storeMismatches(spark, root, exp, 1L)
        failures ++= Ingest.decryptMismatches(
          AtomicPublish.readTable(spark, root, "patients").limit(20)
            .collect().toSeq, gen, codec)
        storedRatio = Fs.bytesUnder(new java.io.File(root)).toDouble /
          exp.inputBytes
        segments = AtomicPublish.currentManifestMeta(spark, root)
          .map(_._2("patients").owners.size).getOrElse(0)
      } catch { case e: Exception => failures += s"iteration $i: $e" }
      ctx.log(s"iteration $i checked")
      Fs.delete(new java.io.File(root))
      tr.on()
    }
    tr.off()

    val report = Map(
      "records_per_s" -> Metric(Records * batchS.size / batchS.sum, "1/s"),
      "batch_p50_s" -> Metric(Stats.median(batchS.toSeq), "s"),
      "lookup_p50_s" -> Metric(Stats.median(lookupS.toSeq), "s"),
      "stored_bytes_per_input_byte" -> Metric(storedRatio, "ratio"))
    val notes = Map("records" -> Records, "expected" -> exp.toMap,
      "failures" -> failures.take(20).toSeq)

    val perLayer =
      if (!ctx.trace) Map.empty[String, Metric]
      else {
        val probes = Ingest.stageProbes(spark,
          spark.read.parquet(landing.getPath), Ingest.noKeys(spark), codec)
        val m = Ingest.perLayer(tr, ctx, "ops.AtomicPublish.publish", Records,
          probes, segments, lookupFiles.toSeq, codec, gen)
        ctx.log("probes done")
        tr.save(ctx, m)
        m
      }
    tr.close()
    Outcome(setupS, iterS.toSeq, attempted,
      failures.size.toLong, report, perLayer, notes)
  }
}

/** Sums [[PatientGen.Expected]] over the tasks that generate records. */
final class ExpectedTally extends org.apache.spark.util.AccumulatorV2[
    PatientGen.Expected, PatientGen.Expected] {
  private var sum = PatientGen.NoRecords
  def isZero: Boolean = sum == PatientGen.NoRecords
  def copy(): ExpectedTally = { val t = new ExpectedTally; t.sum = sum; t }
  def reset(): Unit = sum = PatientGen.NoRecords
  def add(v: PatientGen.Expected): Unit = sum = sum + v
  def merge(o: org.apache.spark.util.AccumulatorV2[
      PatientGen.Expected, PatientGen.Expected]): Unit = sum = sum + o.value
  def value: PatientGen.Expected = sum
}
