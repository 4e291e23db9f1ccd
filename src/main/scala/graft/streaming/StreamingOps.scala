package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftstream.StreamingBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.etl.PatientIngestion

/** Streaming binding of patient ingestion (SURVEY.md §2.8).
  *
  * The reference has no streaming engine — its "event-driven" surface is
  * an HTTP-triggered bounded micro-batch — so the one binding here shows
  * the ingest transform is EXECUTION-MODE AGNOSTIC: the same
  * DataFrame=>DataFrame logic runs batch ([[PatientIngestion.ingest]])
  * or per micro-batch (here). Trigger.AvailableNow mirrors the
  * reference's bounded-batch semantics exactly: process everything
  * available, then stop.
  */
object StreamingOps {

  /** The patient-ingestion pipeline bound to a stream via foreachBatch —
    * the reference's HTTP-bounded micro-batch (§3.1) re-expressed: each
    * micro-batch runs the full validate→consent→transform flow and the
    * caller's sink sees the per-batch IngestResult, which must not be
    * used after `onBatch` returns: its rows are released then. */
  def ingestEachBatch(stream: DataFrame)
                     (onBatch: (PatientIngestion.IngestResult, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val result = PatientIngestion.ingest(batch)
        try onBatch(result, id)
        finally StreamingBridge.unpersistCheckpoint(result.validationErrors)
      }
      .start()
}
