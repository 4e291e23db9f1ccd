package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ops.{AtomicPublish, Crypto, ScanFiles, Sinks}

/** The reference USER JOURNEY end-to-end — what `POST /ingest` +
  * `GET /patients` do (/root/reference/app/api/routes.py:68-199), as one
  * flow across this engine's pieces: set-oriented ingest → conflict
  * split → consent/audit/run-metadata derivation → ONE atomic publish
  * (the reference's single db.commit(), routes.py:148) → consent-gated
  * queries over the published store. Proves the parts compose, not just
  * pass their own specs. */
class IngestJourneySpec extends SparkSuite {
  import spark.implicits._

  private def patient(mrn: String, consent: Boolean = true,
      name: String = "Jane Doe", ssn: String = null): Row =
    Row("Patient", mrn, name, "1990-01-15", "female", ssn,
      Map("data_sharing" -> consent, "research" -> false))

  test("ingest → atomic publish → consent-gated query round trip") {
    val root = java.nio.file.Files.createTempDirectory("journey")
      .resolve("store").toString

    // batch: 2 good, 1 invalid (no name), 1 consent-blocked, 1 in-batch dup
    val raw = PatientIngestion.batchFromRows(spark, Seq(
      patient("MRN-1", ssn = "123-45-6789"),
      patient("MRN-2"),
      Row("Patient", "MRN-3", null, null, null, null, null),
      patient("MRN-4", consent = false),
      patient("MRN-1", name = "Jane Dupe")))

    // conflict split FIRST, on the raw batch, where a deterministic
    // order key (the clear name) still exists — detectConflicts requires
    // a stable ordering, and post-transform the dup rows differ only in
    // nondeterministically-encrypted columns. Mirrors the reference: the
    // second insert of an mrn 409s before any transform side effects.
    val split = Sinks.detectConflicts(raw,
      existing = Seq.empty[String].toDF("mrn"), key = "mrn",
      orderBy = Seq(col("name")))
    val result = PatientIngestion.ingest(split.insertable)
    val patients = result.loaded
    val audit = Sinks.auditEntries("ingestion_api", "create", "patient",
      patients, "mrn")
    val run = Sinks.pipelineRunRow(spark, "patient_ingestion", "completed",
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2026-01-01 00:00:05"),
      inputCount = 5L, outputCount = patients.count(),
      errorsJson = "[]", dagJson = "{}")

    // the reference's transaction boundary: all four tables, one commit
    AtomicPublish.publish(spark, root, Map(
      "patients" -> patients,
      "quarantine" -> result.validationErrors
        .select(col("mrn"), col("errors")),
      "audit_log" -> audit,
      "pipeline_runs" -> run))

    // consistent read of the whole store
    val txn = AtomicPublish.currentTxn(spark, root).get
    def tbl(n: String) = AtomicPublish.readTableAt(spark, root, n, txn)

    // GET /patients: both consented uniques, dup resolved, PHI encrypted
    val published = tbl("patients")
    assert(published.count() == 2)
    assert(published.select("mrn").as[String].collect().toSet ==
      Set("MRN-1", "MRN-2"))
    published.collect().foreach { r =>
      assert(r.getAs[String]("encrypted_name") != "Jane Doe")
    }
    // decrypt round-trips through the published bytes
    val dec = published
      .select(Crypto.decryptCol(col("encrypted_name"), Crypto.default).as("n"))
      .as[String].collect().toSet
    assert(dec.contains("Jane Doe"))
    // fail-soft observables: quarantine kept, not thrown
    assert(tbl("quarantine").count() == 1)
    assert(result.consentBlocked.select("mrn").as[String].collect().toSeq ==
      Seq("MRN-4"))
    // audit: one row per published patient, joinable back by resource_id
    val audited = tbl("audit_log")
      .join(published, col("resource_id") === col("mrn"))
    assert(audited.count() == 2)
    // run metadata recorded the reference's counts shape (VARCHAR quirk)
    val runRow = tbl("pipeline_runs").head()
    assert(runRow.getAs[String]("input_record_count") == "5")
    assert(runRow.getAs[String]("output_record_count") == "2")
    assert(runRow.getAs[String]("status") == "completed")

    // ---- day two: incremental batch against the PUBLISHED store ----
    // one genuinely new patient, one re-submission of MRN-1 (the
    // reference 409s it against the patients table, routes.py:86-105)
    val raw2 = PatientIngestion.batchFromRows(spark, Seq(
      patient("MRN-9"), patient("MRN-1", name = "Jane Again")))
    val split2 = Sinks.detectConflicts(raw2,
      existing = tbl("patients").select("mrn"), key = "mrn",
      orderBy = Seq(col("name")))
    assert(split2.conflicts.select("mrn").as[String].collect().toSeq ==
      Seq("MRN-1"))
    val result2 = PatientIngestion.ingest(split2.insertable)
    AtomicPublish.publish(spark, root, Map(
      "patients" -> tbl("patients").unionByName(result2.loaded),
      "quarantine" -> tbl("quarantine"),
      "audit_log" -> tbl("audit_log").unionByName(
        Sinks.auditEntries("ingestion_api", "create", "patient",
          result2.loaded, "mrn")),
      "pipeline_runs" -> tbl("pipeline_runs")))
    // new version is live and complete; the old one still time-travels
    val txn2 = AtomicPublish.currentTxn(spark, root).get
    assert(txn2 != txn)
    assert(AtomicPublish.readTableAt(spark, root, "patients", txn2)
      .select("mrn").as[String].collect().toSet ==
      Set("MRN-1", "MRN-2", "MRN-9"))
    assert(AtomicPublish.readTableAt(spark, root, "patients", txn)
      .count() == 2)
  }

  /** Record `i` of a landing batch, cycling six kinds: valid with ssn,
    * valid without, missing name (quarantined), no consent (blocked), bad
    * date (quarantined), and a later duplicate of record `i - 5`'s mrn
    * (a conflict: "Zed" sorts after the first copy's name). */
  private def landed(i: Int): (Row, Int) = i % 6 match {
    case 0 => (patient(f"MRN-$i%04d", ssn = "123-45-6789"), 0)
    case 1 => (patient(f"MRN-$i%04d"), 1)
    case 2 => (Row("Patient", f"MRN-$i%04d", null, null, null, null, null), 2)
    case 3 => (patient(f"MRN-$i%04d", consent = false), 3)
    case 4 => (Row("Patient", f"MRN-$i%04d", "Jane Doe", "01/15/1990",
      "female", null, Map("data_sharing" -> true)), 4)
    case _ => (patient(f"MRN-${i - 5}%04d", name = "Zed Dup"), 5)
  }

  test("one pass: the landing file is scanned by exactly one executed plan") {
    val dir = java.nio.file.Files.createTempDirectory("journey-landing")
    val landing = dir.resolve("landing.parquet").toString
    val n = 300
    val kinds = (0 until n).map(landed(_)._2)
    spark.createDataFrame(
      spark.sparkContext.parallelize((0 until n).map(landed(_)._1), 3),
      PatientIngestion.inputSchema).write.parquet(landing)
    val root = dir.resolve("store").toString

    val (result, executed) = ScanFiles.executedDuring(spark) {
      val raw = spark.read.schema(PatientIngestion.inputSchema).parquet(landing)
      val split = Sinks.detectConflicts(raw,
        existing = Seq.empty[String].toDF("mrn"), key = "mrn",
        orderBy = Seq(col("name")))
      val result = PatientIngestion.ingest(split.insertable)
      AtomicPublish.publish(spark, root, Map(
        "patients" -> result.loaded,
        "quarantine" -> result.validationErrors.select(col("mrn"), col("errors")),
        "audit_log" -> Sinks.auditEntries("ingestion_api", "create",
          "patient", result.loaded, "mrn"),
        "pipeline_runs" -> Sinks.pipelineRunRow(spark, "patient_ingestion",
          "completed", java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("2026-01-01 00:00:05"),
          inputCount = n.toLong, outputCount = result.counts.loaded,
          errorsJson = "[]", dagJson = "{}")))
      result
    }
    // only ingest's materializing job reads the raw batch; the
    // patients, quarantine and audit_log writes read its rows
    assert(executed.count(qe => ScanFiles.scansOf(qe.executedPlan).exists(
      _.relation.location.rootPaths.exists(_.getName == "landing.parquet"))) == 1)

    def of(k: Int*) = kinds.count(k.contains).toLong
    assert(result.counts == PatientIngestion.IngestCounts(
      extract = of(0, 1, 2, 3, 4), valid = of(0, 1, 3),
      consented = of(0, 1), transformed = of(0, 1), loaded = of(0, 1)))
    def rows(t: String) = AtomicPublish.readTable(spark, root, t).count()
    assert(rows("patients") == of(0, 1))
    assert(rows("quarantine") == of(2, 4))
    assert(rows("audit_log") == of(0, 1))
    assert(rows("pipeline_runs") == 1L)
  }

  test("a zero-partition batch observes all-zero counts") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      PatientIngestion.inputSchema)
    // a missing observation would block `ingest` forever: bound the wait
    val counts = Await.result(
      Future(PatientIngestion.ingest(empty).counts), 2.minutes)
    assert(counts == PatientIngestion.IngestCounts(0L, 0L, 0L, 0L, 0L))
  }
}
