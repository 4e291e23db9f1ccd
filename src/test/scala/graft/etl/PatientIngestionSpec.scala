package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ops.Validation

/** End-to-end dataflow parity with the reference pipeline tests
  * (/root/reference/tests/test_pipeline.py — assertions, not code) plus
  * validation-contract parity (tests/test_validation.py). */
class PatientIngestionSpec extends SparkSuite {

  private def patient(mrn: String = "MRN-001", consentSharing: Boolean = true,
      name: String = "Jane Doe", ssn: String = null): Row =
    Row("Patient", mrn, name, "1990-01-15", "female", ssn,
      Map("data_sharing" -> consentSharing, "research" -> false))

  private def batch(rows: Row*): DataFrame =
    PatientIngestion.batchFromRows(spark, rows)

  test("happy path: valid consented record flows through all five stages") {
    val result = PatientIngestion.pipeline()
      .run(Map("raw_records" -> batch(patient(ssn = "123-45-6789"))))
    assert(result.status == "completed")
    assert(result("load").result("load_count") == 1L)

    val loaded = result("load").result("loaded_records").asInstanceOf[DataFrame]
    val row = loaded.head()
    assert(row.getAs[String]("encrypted_name") != "Jane Doe")
    assert(row.getAs[String]("encrypted_name").nonEmpty)
    assert(row.getAs[String]("mrn") == "MRN-001")
    // PHI stripped from the stored FHIR payload
    val fhirFields = loaded.select(col("fhir_resource.*")).columns.toSet
    assert(!fhirFields.contains("name"))
    assert(!fhirFields.contains("birthDate"))
    assert(!fhirFields.contains("ssn"))
  }

  test("invalid record (missing name) quarantined; run still completed") {
    val bad = Row("Patient", "MRN-BAD", null, null, null, null, null)
    val result = PatientIngestion.pipeline().run(Map("raw_records" -> batch(bad)))
    assert(result.status == "completed")
    assert(result("validate").result("valid_count") == 0L)
    assert(result("validate").result("invalid_count") == 1L)
  }

  test("no consent blocks processing with {mrn, reason}") {
    val result = PatientIngestion.pipeline()
      .run(Map("raw_records" -> batch(patient(consentSharing = false))))
    assert(result.status == "completed")
    assert(result("check_consent").result("consented_count") == 0L)
    val blocked = result("check_consent").result("consent_blocked")
      .asInstanceOf[DataFrame].collect()
    assert(blocked.length == 1)
    assert(blocked(0).getAs[String]("mrn") == "MRN-001")
    assert(blocked(0).getAs[String]("reason") == "no data_sharing consent")
  }

  test("mixed batch splits valid/invalid/non-consented correctly") {
    val rows = Seq(
      patient(mrn = "MRN-1", consentSharing = true),
      patient(mrn = "MRN-2", consentSharing = false),
      Row("Patient", "MRN-3", null, null, null, null, null)) // missing name
    val result = PatientIngestion.pipeline().run(Map("raw_records" -> batch(rows: _*)))
    assert(result.status == "completed")
    assert(result("validate").result("valid_count") == 2L)
    assert(result("check_consent").result("consented_count") == 1L)
    assert(result("load").result("load_count") == 1L)
  }

  test("single-pass ingest matches the staged pipeline on the mixed batch") {
    val rows = Seq(
      patient(mrn = "MRN-1", consentSharing = true),
      patient(mrn = "MRN-2", consentSharing = false),
      Row("Patient", "MRN-3", null, null, null, null, null))
    val r = PatientIngestion.ingest(batch(rows: _*))
    assert(r.counts.extract == 3L)
    assert(r.counts.valid == 2L)
    assert(r.counts.consented == 1L)
    assert(r.counts.loaded == 1L)
    assert(r.loaded.count() == 1L)
    assert(r.validationErrors.count() == 1L)
    assert(r.consentBlocked.collect().map(_.getString(0)).toSeq == Seq("MRN-2"))
  }

  test("ingest's observed counts and splits equal the parity DAG's on the FIXTURES A2 corpus") {
    // all six A2 variants in one batch, one distinct mrn per record
    val rows = Seq(
      Row("Patient", "MRN-BAD", null, null, null, null, null), // missing name
      patient(mrn = "MRN-NC", consentSharing = false),         // no consent
      patient(mrn = "MRN-1", consentSharing = true),           // mixed batch
      patient(mrn = "MRN-2", consentSharing = false),
      Row("Patient", "MRN-3", null, null, null, null, null),
      Row("Patient", "MRN-DATE", "Jane", "01/15/1990", null, null, null),
      Row("Patient", "MRN-GENDER", "Jane", null, "invalid_value", null, null),
      Row("Patient", null, null, null, null, null, null))      // missing required
    val r = PatientIngestion.ingest(batch(rows: _*))
    val p = PatientIngestion.pipeline().run(Map("raw_records" -> batch(rows: _*)))
    def stage(s: String, k: String) = p(s).result(k)
    def mrns(df: Any) = df.asInstanceOf[DataFrame].select("mrn").collect()
      .map(x => Option(x.getString(0))).toSet
    assert(p.status == "completed")
    assert(r.counts.extract == stage("extract", "extract_count"))
    assert(r.counts.valid == stage("validate", "valid_count"))
    assert(r.counts.consented == stage("check_consent", "consented_count"))
    assert((r.counts.extract, r.counts.valid, r.counts.consented) == ((8L, 3L, 1L)))
    assert(mrns(r.loaded) == mrns(stage("load", "loaded_records")))
    assert(mrns(r.consentBlocked) == mrns(stage("check_consent", "consent_blocked")))
    assert(mrns(r.validationErrors) == mrns(stage("validate", "validation_errors")))
    assert(mrns(r.loaded) == Set(Some("MRN-1")))
    assert(mrns(r.consentBlocked) == Set(Some("MRN-NC"), Some("MRN-2")))
  }

  test("a pipeline run leaves nothing in the session's cache") {
    spark.catalog.clearCache()
    PatientIngestion.pipeline().run(Map("raw_records" -> batch(patient())))
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
  }

  test("null consent map blocks (strict `is True` gate)") {
    val noConsentMap = Row("Patient", "MRN-NC", "A B", null, null, null, null)
    val r = PatientIngestion.ingest(batch(noConsentMap))
    assert(r.counts.valid == 1L)
    assert(r.counts.consented == 0L)
  }

  test("parallel DAG execution reproduces the sequential pipeline run") {
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val rows = Seq(
      patient(mrn = "MRN-1", consentSharing = true),
      patient(mrn = "MRN-2", consentSharing = false),
      Row("Patient", "MRN-3", null, null, null, null, null))
    val seq = PatientIngestion.pipeline().run(Map("raw_records" -> batch(rows: _*)))
    val par = PatientIngestion.pipeline()
      .runParallel(Map("raw_records" -> batch(rows: _*)))
    assert(par.status == seq.status)
    assert(par.tasks.keys.toSeq == seq.tasks.keys.toSeq)
    assert(par.tasks.map { case (k, v) => k -> v.status } ==
      seq.tasks.map { case (k, v) => k -> v.status })
    assert(par("load").result("load_count") == seq("load").result("load_count"))
  }

  // --- validation-contract parity (tests/test_validation.py) ---

  private def errorsFor(row: Row): Seq[String] = {
    val df = Validation.withErrors(batch(row), Validation.fhirPatientRules)
    df.select("errors").head().getSeq[String](0)
  }

  test("valid patient has no errors") {
    assert(errorsFor(patient()).isEmpty)
  }

  test("missing required fields mention both mrn and name") {
    val errs = errorsFor(Row("Patient", null, null, null, null, null, null))
    assert(errs.exists(_.contains("mrn")))
    assert(errs.exists(_.contains("name")))
  }

  test("invalid date format is an error") {
    val errs = errorsFor(Row("Patient", "MRN-001", "Jane", "01/15/1990", null, null, null))
    assert(errs.nonEmpty)
    assert(errs.exists(_.contains("birthDate")))
  }

  test("invalid gender enum is an error") {
    val errs = errorsFor(Row("Patient", "MRN-001", "Jane", null, "invalid_value", null, null))
    assert(errs.nonEmpty)
    assert(errs.exists(_.contains("gender")))
  }

  test("wrong resourceType const is an error") {
    val errs = errorsFor(Row("Observation", "MRN-001", "Jane", null, null, null, null))
    assert(errs.exists(_.contains("Patient")))
  }

  test("bad ssn pattern is an error; valid ssn is not") {
    assert(errorsFor(patient(ssn = "123456789")).exists(_.contains("ssn")))
    assert(errorsFor(patient(ssn = "123-45-6789")).isEmpty)
  }
}
