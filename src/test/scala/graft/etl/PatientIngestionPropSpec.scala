package graft.etl

import org.apache.spark.sql.Row
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.{check => scCheck, Parameters}

import graft.SparkSuite

/** Property-based pipeline invariants (SURVEY.md §5.2 layer 2) over
  * generated patient batches: arbitrary mixes of valid/invalid/
  * consented/blocked records. Each sample runs the real set-oriented
  * ingest, so samples are kept small and few. */
class PatientIngestionPropSpec extends SparkSuite {

  private val params = Parameters.default.withMinSuccessfulTests(8)

  private val genGender =
    Gen.oneOf("male", "female", "other", "unknown", "INVALID", null)
  private val genDate =
    Gen.oneOf("1990-01-15", "2001-12-31", "01/15/1990", "not-a-date", null)
  private val genSsn = Gen.oneOf("123-45-6789", "bad-ssn", null)
  private val genName = Gen.oneOf("Jane Doe", "J", "", null)
  private val genConsent: Gen[Map[String, Boolean]] = Gen.oneOf(
    Map("data_sharing" -> true, "research" -> false),
    Map("data_sharing" -> false),
    Map("research" -> true),
    Map.empty[String, Boolean],
    null,
  )

  private val genRecord: Gen[Row] = for {
    rt <- Gen.oneOf("Patient", "Observation", null)
    mrn <- Gen.oneOf(Gen.alphaNumStr.map(s => s"MRN-${s.take(8)}"), Gen.const(null))
    name <- genName
    bd <- genDate
    g <- genGender
    ssn <- genSsn
    consent <- genConsent
  } yield Row(rt, mrn, name, bd, g, ssn, consent)

  private val genBatch: Gen[List[Row]] = Gen.listOfN(12, genRecord)

  private def run(prop: Prop): Unit = {
    val r = scCheck(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("valid + invalid partition the batch; consented is a subset of valid") {
    // the empty batch is half the draws: its stage counts must be 0
    run(forAll(Gen.oneOf(Gen.const(List.empty[Row]), genBatch)) { rows =>
      val df = PatientIngestion.batchFromRows(spark, rows)
      val res = PatientIngestion.ingest(df)
      val c = res.counts
      c.extract == rows.size &&
        c.valid <= c.extract &&
        c.consented <= c.valid &&
        c.transformed == c.consented &&
        c.loaded == c.transformed
    })
  }

  test("no PHI column ever appears in the transformed output") {
    run(forAll(genBatch) { rows =>
      val df = PatientIngestion.batchFromRows(spark, rows)
      val out = PatientIngestion.ingest(df).loaded
      val cols = out.columns.toSet
      val fhirFields = out.schema.find(_.name == "fhir_resource")
        .map(_.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
          .fieldNames.toSet)
        .getOrElse(Set.empty)
      !cols.contains("name") && !cols.contains("birthDate") && !cols.contains("ssn") &&
        !fhirFields.contains("name") && !fhirFields.contains("birthDate") &&
        !fhirFields.contains("ssn")
    })
  }

  test("every consented record strictly has data_sharing === true") {
    run(forAll(genBatch) { rows =>
      val df = PatientIngestion.batchFromRows(spark, rows)
      val res = PatientIngestion.ingest(df)
      val consentedMrns = res.loaded.select("mrn").collect()
        .map(_.getString(0)).toSet
      val shouldPass = rows.filter { r =>
        val consent = r.get(6)
        consent != null &&
          consent.asInstanceOf[Map[String, Boolean]].get("data_sharing").contains(true)
      }
      // transformed ⊆ strictly-consented inputs (validity filters further)
      consentedMrns.forall(m => shouldPass.exists(r => r.get(1) == m))
    })
  }
}
