package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftstream.StreamingBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.core.Tables
import graft.etl.PatientIngestion

/** Structured Streaming bindings (SURVEY.md §2.8).
  *
  * The reference has no streaming engine — its "event-driven" surface is
  * an HTTP-triggered bounded micro-batch — so these bindings demonstrate
  * the engine's transforms are EXECUTION-MODE AGNOSTIC: the same
  * DataFrame=>DataFrame logic runs batch (the harness queries) or
  * streaming (here), per the §2.8 design note. Trigger.AvailableNow
  * mirrors the reference's bounded-batch semantics exactly: process
  * everything available, then stop.
  *
  * At scale: the file source partitions per input file; watermarked
  * windows bound state-store size (late events past the watermark are
  * dropped instead of growing state forever); dropDuplicates with a
  * watermark is the streaming face of N1 exact dedup with bounded
  * memory.
  */
object StreamingOps {

  /** Streaming read of the events table, with the SAME `ts`
    * normalization [[Tables.events]] applies on the batch side (the
    * generator has shipped NANOS and MICROS-naive encodings across
    * rounds): the batch-inferred schema tells which physical encoding
    * this dataset carries, the stream declares exactly that schema, and
    * the post-read conversion lands on TimestampType instants — so
    * stream ≡ batch parity specs compare like for like.
    *
    * Spark's streaming file source only accepts directories; the harness
    * testdata ships one parquet FILE per table, so the file is staged
    * into a temp directory via symlink (read-only with respect to the
    * testdata). A production deployment streams a real directory/bucket
    * and skips this. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // NANOS data surfaces as LongType only under nanosAsLong=true
    // (see Tables.events scaladoc) — accessors don't mutate session conf
    val batchSchema = Tables(spark, dir, "events").schema
    val raw = spark.readStream.schema(batchSchema)
      .parquet(stageAsDirectory(s"$dir/events.parquet"))
    batchSchema("ts").dataType match {
      case LongType => // raw nanos: truncate to µs (integer DIV)
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => // naive µs: UTC session makes this exact
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Symlink a single data file into a fresh temp directory, for
    * streaming sources that require directory paths. */
  def stageAsDirectory(file: String): String = {
    val src = java.nio.file.Paths.get(file)
    val d = java.nio.file.Files.createTempDirectory("graft-stream-src")
    java.nio.file.Files.createSymbolicLink(
      d.resolve(src.getFileName.toString), src)
    d.toString
  }

  /** e1's tumbling-window aggregation as a stream, with a watermark
    * bounding window state. Same logical agg as the batch query. */
  def tumblingWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Watermarked streaming dedup — exact-dedup (N1) semantics with
    * bounded state. */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Run a streaming aggregation to completion on the available data
    * (bounded run), collecting the final result via the memory sink.
    * `complete` mode emits every window on the final micro-batch. */
  def runToCompletion(agg: DataFrame, queryName: String,
                      outputMode: String = "complete")
                     (implicit spark: SparkSession): DataFrame = {
    val q: StreamingQuery = agg.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Per-user session state for gap-based sessionization: the last seen
    * event time plus running session/event counts. */
  case class SessionState(lastTsMicros: Long, sessions: Long, events: Long)
  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Gap-based sessionization (>30 min of silence starts a new session)
    * as a STATEFUL streaming computation over
    * KeyValueGroupedDataset.flatMapGroupsWithState — the engine's
    * custom-state surface. State per key is three longs regardless of
    * history length; the state store shards by user across executors.
    *
    * Semantics match the batch query (EventQueries.e2Sessionization) on
    * bounded input: each micro-batch's group iterator is sorted by
    * (ts, event_id) before folding, which is exact for a SINGLE
    * AvailableNow batch — with multiple micro-batches the memory sink
    * accumulates one cumulative snapshot per user per batch (take the
    * last per user). For continuous deployments use
    * [[sessionizeStreamFinalized]], which emits each CLOSED session
    * exactly once via event-time timeout and keeps only the open
    * session in state. */
  def sessionizeStream(events: DataFrame): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[SessionState]) => {
          // buffers ONE user's slice of ONE micro-batch (bounded by
          // per-user arrival rate × trigger interval, not by history)
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          val init = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          val fin = sorted.foldLeft(init) { case (s, (_, ts, _)) =>
            val newSession = s.lastTsMicros == Long.MinValue ||
              ts - s.lastTsMicros > 1800L * 1000000L
            SessionState(ts, s.sessions + (if (newSession) 1 else 0), s.events + 1)
          }
          state.update(fin)
          Iterator(UserSessions(user, fin.sessions, fin.events))
        })
  }

  /** The open (not yet closed) session of one user: constant-size state
    * regardless of history — closed sessions leave state entirely. */
  case class OpenSession(startUs: Long, lastUs: Long, events: Long)
  /** One finalized session, emitted exactly once. */
  case class ClosedSession(user_id: Long, start_us: Long, end_us: Long,
                           n_events: Long)

  /** Gap-based sessionization that stays correct across micro-batches:
    * a session CLOSES either when a later event of the same user arrives
    * past the gap (closed in-line) or when the event-time watermark
    * passes lastEvent+gap with no successor —
    * `GroupStateTimeout.EventTimeTimeout` fires, the session is emitted
    * and its state removed. State per user is the open session only
    * (three longs); an inactive user costs nothing after the timeout.
    * Spark's no-data micro-batches (on by default) fire the trailing
    * timeouts when the watermark advances past the last data.
    *
    * This is the continuous-deployment face of e2: aggregating the
    * emitted sessions per user (count, sum events) reproduces the batch
    * result — asserted across three micro-batches in StreamingOpsSpec. */
  def sessionizeStreamFinalized(events: DataFrame,
                                gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", "0 seconds")
      // the watermarked event-time column must survive projection for
      // EventTimeTimeout to bind; micros ride alongside it
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[(Long, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Long)],
         state: GroupState[OpenSession]) => {
          if (state.hasTimedOut) {
            // watermark passed lastUs+gap: no in-order successor can
            // extend this session — finalize and drop the state
            val s = state.get
            state.remove()
            Iterator(ClosedSession(user, s.startUs, s.lastUs, s.events))
          } else {
            // buffers one user's slice of one micro-batch (bounded by
            // arrival rate × trigger interval)
            val sorted = rows.toSeq.sortBy(r => (r._3, r._4))
            val closed = scala.collection.mutable.ListBuffer.empty[ClosedSession]
            var open = state.getOption
            for ((_, _, ts, _) <- sorted) {
              open = open match {
                case Some(s) if ts - s.lastUs > gapUs =>
                  closed += ClosedSession(user, s.startUs, s.lastUs, s.events)
                  Some(OpenSession(ts, ts, 1L))
                case Some(s) =>
                  Some(s.copy(lastUs = ts, events = s.events + 1L))
                case None =>
                  Some(OpenSession(ts, ts, 1L))
              }
            }
            open.foreach { s =>
              state.update(s)
              // timeout is event-time ms and must exceed the current
              // watermark (a session may already be expired on arrival)
              state.setTimeoutTimestamp(math.max(
                (s.lastUs + gapUs) / 1000L, state.getCurrentWatermarkMs() + 1L))
            }
            closed.iterator
          }
        })
  }

  /** Gap-based sessionization via the NATIVE `session_window` aggregate
    * under a watermark — the declarative sibling of
    * [[sessionizeStreamFinalized]], and the streaming face of batch e9
    * (EventQueries.e9SessionWindow: same expression, same boundary
    * semantics — touching intervals merge, so an event at exactly
    * last+gap continues the session). In Append mode a session row emits
    * exactly once, when the watermark passes its end (= last event +
    * gap); until then the engine keeps the OPEN session interval in the
    * state store and merges extensions itself — no custom state code.
    *
    * State-size trade (measured in StreamingOpsSpec): the native
    * formulation keeps one state row per OPEN SESSION with the engine's
    * session-interval format, while flatMapGroupsWithState keeps three
    * longs per user; both are O(active users), so at 100 TB the choice
    * is about code, not state — prefer this formulation unless the fold
    * needs custom per-event logic the aggregate can't express. */
  def sessionWindowStream(events: DataFrame,
                          gapMinutes: Int = 30): DataFrame =
    events
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Watermarked STREAM-STREAM interval join — error events joined to
    * the same user's clicks within the trailing 30 minutes, both sides
    * live streams (the streaming face of the batch band/as-of joins).
    * The watermark plus the two-sided time constraint let the state
    * store evict: a buffered click can be dropped once the error-side
    * watermark passes click_ts + 30 min, so state is bounded by the
    * interval width × arrival rate, not by history. Inner join → Append
    * mode; matches emit once both sides have arrived. */
  def streamStreamAttribution(errors: DataFrame, clicks: DataFrame,
                              lagMinutes: Int = 30,
                              joinType: String = "inner"): DataFrame = {
    val e = errors
      .select(col("event_id").as("error_id"), col("user_id").as("e_user"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", "1 hour")
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    // left_outer: an error with no qualifying click still emits (null
    // click_id) — but only once the watermark proves no match can still
    // arrive, so unmatched rows near the head of the stream stay pending
    // until the watermark passes their join window. Same state-eviction
    // bound as inner: interval width × arrival rate.
    e.join(c,
      col("e_user") === col("c_user") &&
        col("click_ts") <= col("err_ts") &&
        col("click_ts") >= col("err_ts") - expr(s"INTERVAL $lagMinutes MINUTES"),
      joinType)
      .select(col("error_id"), col("click_id"),
        col("e_user").as("user_id"))
  }

  /** STREAM-STATIC enrichment join — the streaming face of a broadcast
    * dimension join: each micro-batch joins against the (re-evaluated)
    * static side with no streaming state at all, because the static
    * side is complete by definition. The standard shape for decorating
    * a live stream with reference data. */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key))

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
