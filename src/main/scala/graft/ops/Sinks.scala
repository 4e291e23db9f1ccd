package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Schemas

/** Persistence operators (SURVEY.md §2.1 S3/S4/S6/S7).
  *
  * The reference persists row-by-row with FK fan-out and a unique-mrn
  * IntegrityError→409 path (/root/reference/app/api/routes.py:86-134).
  * Set-oriented rewrite: derive one DataFrame per target table from the
  * loaded batch and write each ONCE; key conflicts are detected up front
  * with an anti-join and reported as data, not exceptions. All writes are
  * append-mode parquet — the audit log's immutability (audit.py:25) is
  * "never overwrite".
  */
object Sinks {

  /** S4: split a batch into insertable vs conflicting on a unique key.
    * `existing` is the current patients table (or any keyed table).
    * In-batch duplicates beyond the first are conflicts too — mirroring
    * the reference's flush-per-record behavior where the second insert of
    * an mrn 409s. At scale both sides are one shuffle on the key (or a
    * broadcast when `existing`'s keys are small).
    *
    * `orderBy` decides WHICH duplicate wins and must be a stable property
    * of the data (an ingest sequence, arrival timestamp, or a total-order
    * surrogate) — never partition position: the winner is then identical
    * on any cluster layout or repartitioning. The reference's
    * insertion-order semantics are exactly "order by arrival sequence". */
  final case class ConflictSplit(insertable: DataFrame, conflicts: DataFrame)

  def detectConflicts(batch: DataFrame, existing: DataFrame, key: String,
      orderBy: Seq[org.apache.spark.sql.Column]): ConflictSplit = {
    import org.apache.spark.sql.expressions.Window
    require(orderBy.nonEmpty, "detectConflicts needs a stable ordering column")
    val w = Window.partitionBy(col(key)).orderBy(orderBy: _*)
    val ranked = batch.withColumn("__rank", row_number().over(w))
    val firstPerKey = ranked.filter(col("__rank") === 1).drop("__rank")
    val dupesInBatch = ranked.filter(col("__rank") > 1).drop("__rank")
    val existingKeys = existing.select(col(key)).distinct()
    val insertable = firstPerKey.join(existingKeys, Seq(key), "left_anti")
    val conflictsExisting = firstPerKey.join(existingKeys, Seq(key), "left_semi")
    ConflictSplit(insertable, conflictsExisting.unionByName(dupesInBatch))
  }

  /** S3: FK fan-out — one consent row per (patient, consent_type, granted)
    * from the map column, via explode (the set-oriented form of
    * routes.py:107-115). */
  def consentRowsFromBatch(batch: DataFrame, patientIdCol: String = "id"): DataFrame =
    batch.select(col(patientIdCol).as("patient_id"), explode(col("consent")))
      .select(
        expr("uuid()").as("id"),
        col("patient_id"),
        col("key").as("consent_type"),
        col("value").as("granted"),
        when(col("value"), current_timestamp()).as("granted_at"),
        lit(null).cast("timestamp").as("revoked_at"),
        lit("ingestion_api").as("source_document"))

  /** S6: immutable audit append (audit.py:16-35). */
  def auditEntries(actor: String, action: String, resourceType: String,
      resourceIds: DataFrame, idCol: String, detailJson: DataFrame => org.apache.spark.sql.Column = _ => lit(null).cast("string")): DataFrame =
    resourceIds.select(
      expr("uuid()").as("id"),
      lit(actor).as("actor"),
      lit(action).as("action"),
      lit(resourceType).as("resource_type"),
      col(idCol).cast("string").as("resource_id"),
      detailJson(resourceIds).as("detail"),
      current_timestamp().as("timestamp"))

  /** S7: one pipeline_runs row per run (routes.py:137-148). Counts stored
    * as strings — the reference's VARCHAR(16) quirk, kept at this edge. */
  def pipelineRunRow(spark: SparkSession, pipelineName: String, status: String,
      startedAt: java.sql.Timestamp, completedAt: java.sql.Timestamp,
      inputCount: Long, outputCount: Long, errorsJson: String,
      dagJson: String): DataFrame = {
    import org.apache.spark.sql.Row
    spark.createDataFrame(
      java.util.Arrays.asList(Row(java.util.UUID.randomUUID().toString,
        pipelineName, status, startedAt, completedAt,
        inputCount.toString, outputCount.toString, errorsJson, dagJson)),
      Schemas.pipelineRuns)
  }
}
