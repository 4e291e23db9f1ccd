package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.core.Pipeline
import graft.ops.{AesCodec, Crypto, Validation}

/** The flagship ETL pipeline: extract → validate → check_consent →
  * transform → load (SURVEY.md §2.1/§2.2, reference
  * /root/reference/app/etl/pipeline.py:31-143).
  *
  * Two execution surfaces over the SAME stage logic:
  *
  *  1. `pipeline(...)`: the 5-stage control-plane DAG with the reference's
  *     observable per-stage results (`*_count`, quarantine sides). Counts
  *     are actions, so this mode materializes the raw and the annotated
  *     batch once each — right for the reference's ≤1000-record batches.
  *
  *  2. `ingest(...)`: the set-oriented scale path — one job materializes
  *     the annotated batch and observes the stage counts; the
  *     valid/consented/transformed splits are filters over its rows. A
  *     bulk batch committed as patients, quarantine, audit_log and
  *     pipeline_runs runs 7 Spark jobs and reads the raw batch once.
  *
  * Stage semantics preserved from the reference:
  *  - validation quarantines, never halts (pipeline.py:44-61);
  *  - consent gate is a strict `is True` — null/missing/false all block
  *    (pipeline.py:74), expressed null-safely with `<=>`;
  *  - blocked side keeps `{mrn, reason}` (pipeline.py:77);
  *  - transform encrypts name/dob, null-preservingly encrypts ssn
  *    (pipeline.py:108-110), passes mrn/gender, stamps
  *    resource_type='Patient', and stores a PHI-stripped FHIR payload
  *    (name/birthDate/ssn dropped, pipeline.py:97-101);
  *  - run status is "completed" even when records were quarantined —
  *    only a stage exception fails the run (dag.py:151-152).
  */
object PatientIngestion {

  /** Input contract (FIXTURES.md §A1). */
  val inputSchema: StructType = StructType(Seq(
    StructField("resourceType", StringType),
    StructField("mrn", StringType),
    StructField("name", StringType),
    StructField("birthDate", StringType),
    StructField("gender", StringType),
    StructField("ssn", StringType),
    StructField("consent", MapType(StringType, BooleanType)),
  ))

  /** Strict `is True` gate (null-safe equality, SURVEY.md §2.2 F1). */
  def consentGate: Column = element_at(col("consent"), "data_sharing") <=> lit(true)

  /** P1 transform projection over a (valid, consented) batch. */
  def transformProjection(df: DataFrame, codec: AesCodec): DataFrame = {
    val fhirCols = df.columns.filterNot(Seq("name", "birthDate", "ssn").contains)
    df.select(
      col("mrn"),
      Crypto.encryptCol(coalesce(col("name"), lit("")), codec).as("encrypted_name"),
      Crypto.encryptCol(coalesce(col("birthDate"), lit("")), codec).as("encrypted_dob"),
      // null-preserving ssn encrypt (pipeline.py:108-110)
      when(col("ssn").isNotNull && length(col("ssn")) > 0,
        Crypto.encryptCol(col("ssn"), codec)).as("encrypted_ssn"),
      col("gender"),
      lit("Patient").as("resource_type"),
      // PHI-stripped payload destined for clinical_records.fhir_resource
      struct(fhirCols.toIndexedSeq.map(col): _*).as("fhir_resource"),
    )
  }

  /** Result of the single-pass set-oriented ingest. */
  final case class IngestResult(
      loaded: DataFrame,
      validationErrors: DataFrame, // input cols + errors array<string>
      consentBlocked: DataFrame,   // {mrn, reason}
      counts: IngestCounts)

  final case class IngestCounts(
      extract: Long, valid: Long, consented: Long, transformed: Long,
      loaded: Long)

  /** Scale path: the caller's lineage plus `errors` and `consented` runs
    * once, in one [[materialize]] job that observes the stage counts;
    * every output reads its rows, never the raw batch. Encryption stays
    * lazy in `loaded`. `transformed`/`loaded` copy `consented` (1:1). */
  def ingest(raw: DataFrame, codec: AesCodec = Crypto.default): IngestResult = {
    val isValid = size(col("errors")) === 0
    val obs = Observation()
    // a sum over an empty batch is null, hence the coalesce
    val annotated = materialize(Validation.withErrors(raw, Validation.fhirPatientRules)
      .withColumn("consented", consentGate)
      .observe(obs,
        count(lit(1)).as("extract"),
        coalesce(sum(when(isValid, 1L).otherwise(0L)), lit(0L)).as("valid"),
        coalesce(sum(when(isValid && col("consented"), 1L).otherwise(0L)),
          lit(0L)).as("consented")))
    def n(k: String) = obs.get(k).asInstanceOf[Long]
    val invalid = annotated.filter(!isValid)
      .select((raw.columns.toIndexedSeq.map(col) :+ col("errors")): _*)
    val valid = annotated.filter(isValid)
    val blocked = valid.filter(!col("consented"))
      .select(col("mrn"), lit("no data_sharing consent").as("reason"))
    val loaded = transformProjection(
      valid.filter(col("consented")).drop("errors", "consented"), codec)
    IngestResult(loaded, invalid, blocked, IngestCounts(n("extract"),
      n("valid"), n("consented"), n("consented"), n("consented")))
  }

  /** Run `df` once, now, and rebind it over the written rows, on disk (a
    * heap level would hold a bulk batch's 1M rows live while it
    * publishes). Lifetime and fault caveats as for `checkpointFresh` in
    * `StreamingBridge`: at deployment scale, a reliable staging write. */
  private def materialize(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true, StorageLevel.DISK_ONLY)

  /** Parity path: the reference's exact 5-stage DAG shape
    * (pipeline.py:135-143) over the control-plane runner, with each
    * stage's observable result map. The raw and the annotated batch are
    * each materialized once because per-stage counts are actions
    * (reference batches are ≤1000 rows; for the 100 TB path use
    * `ingest`). */
  def pipeline(codec: AesCodec = Crypto.default): Pipeline = {
    def df(ctx: Pipeline.Context, key: String): DataFrame =
      ctx(key).asInstanceOf[DataFrame]

    Pipeline("patient_ingestion")
      .addStage("extract", ctx => {
        val raw = materialize(df(ctx, "raw_records"))
        Map("extracted_records" -> raw, "extract_count" -> raw.count())
      })
      .addStage("validate", ctx => {
        val annotated = materialize(Validation.withErrors(
          df(ctx, "extracted_records"), Validation.fhirPatientRules))
        val valid = annotated.filter(size(col("errors")) === 0).drop("errors")
        val invalid = annotated.filter(size(col("errors")) > 0)
        Map("valid_records" -> valid, "validation_errors" -> invalid,
          "valid_count" -> valid.count(), "invalid_count" -> invalid.count())
      }, dependsOn = Seq("extract"))
      .addStage("check_consent", ctx => {
        val recs = df(ctx, "valid_records")
        val consented = recs.filter(consentGate)
        val blocked = recs.filter(!consentGate)
          .select(col("mrn"), lit("no data_sharing consent").as("reason"))
        Map("consented_records" -> consented, "consent_blocked" -> blocked,
          "consented_count" -> consented.count(),
          "blocked_count" -> blocked.count())
      }, dependsOn = Seq("validate"))
      .addStage("transform", ctx => {
        val out = transformProjection(df(ctx, "consented_records"), codec)
        Map("transformed_records" -> out, "transform_count" -> out.count())
      }, dependsOn = Seq("check_consent"))
      .addStage("load", ctx => {
        val out = df(ctx, "transformed_records")
        Map("loaded_records" -> out, "load_count" -> out.count())
      }, dependsOn = Seq("transform"))
  }

  /** Build an input DataFrame from in-memory rows (the API-payload source,
    * SURVEY.md §2.1 S1). */
  def batchFromRows(spark: SparkSession, rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 500)),
      inputSchema)
}
