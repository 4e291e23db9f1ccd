package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.analytics.EventQueries
import graft.etl.PatientIngestion

/** Streaming bindings equal their batch counterparts on bounded input —
  * the §2.8 claim that the engine's transforms are execution-mode
  * agnostic. */
class StreamingOpsSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  test("streaming tumbling window (AvailableNow) equals batch e1 result") {
    implicit val s = spark
    val stream = StreamingOps.eventsStream(spark, dir)
    assert(stream.isStreaming)
    val out = StreamingOps.runToCompletion(
      StreamingOps.tumblingWindowAgg(stream), "e1_stream")
      .orderBy(col("hour"), col("event_type")).collect().toSeq
    val batch = EventQueries.e1TumblingWindow(spark, dir).collect().toSeq
    assert(out == batch)
  }

  test("watermarked streaming dedup keeps one row per event_id") {
    implicit val s = spark
    val stream = StreamingOps.eventsStream(spark, dir)
    val out = StreamingOps.runToCompletion(
      StreamingOps.dedupStream(stream), "dedup_stream", outputMode = "append")
    val expected = graft.core.Tables.events(spark, dir)
      .select("event_id").distinct().count()
    assert(out.count() == expected)
  }

  test("stateful sessionization (flatMapGroupsWithState) equals batch e2") {
    implicit val s = spark
    val stream = StreamingOps.eventsStream(spark, dir)
    val out = StreamingOps.runToCompletion(
      StreamingOps.sessionizeStream(stream).toDF(), "sess_stream",
      outputMode = "append")
      .orderBy(col("user_id")).collect().toSeq
    val batch = EventQueries.e2Sessionization(spark, dir).collect().toSeq
    assert(out == batch)
  }

  test("finalized sessionization across THREE micro-batches equals batch e2") {
    runFinalizedSessionization("sess_final")
  }

  test("finalized sessionization on the RocksDB state store (production posture)") {
    // the default HDFS-backed store keeps all state on-heap; RocksDB
    // spills to local disk, the posture for 100 TB-scale keyed state.
    // Same computation, same result — only the provider swaps.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runFinalizedSessionization("sess_final_rocks", expectRocksDb = true)
    finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  test("native session_window stream across THREE micro-batches equals batch e9") {
    runNativeSessionWindow("sessw_stream")
  }

  test("native session_window stream on the RocksDB state store") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runNativeSessionWindow("sessw_stream_rocks", expectRocksDb = true)
    finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  /** The declarative sessionization (session_window + watermark, zero
    * custom state code) emits each FINAL session exactly once in Append
    * mode — across micro-batches it must reproduce batch e9 verbatim.
    * State-size note (see sessionWindowStream scaladoc): the engine
    * keeps one state row per OPEN session vs flatMapGroupsWithState's
    * three longs per user — both O(active users); the spec pins that
    * state rows stay bounded by open sessions, not emitted history. */
  private def runNativeSessionWindow(queryName: String,
      expectRocksDb: Boolean = false): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val (src, schema) = stageThreeBatches()
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val q = StreamingOps.sessionWindowStream(stream)
      .writeStream.format("memory").queryName(queryName)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "expected three data micro-batches")
    val stateMetrics = q.recentProgress.flatMap(_.stateOperators)
      .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
    assert(stateMetrics.exists(_.startsWith("rocksdb")) == expectRocksDb,
      s"state-store metrics: ${stateMetrics.distinct.mkString(",")}")
    // state never holds more rows than open sessions can justify: after
    // the sentinel batch every real session has emitted and left state
    val finalStateRows = q.recentProgress.last.stateOperators
      .map(_.numRowsTotal).sum
    val distinctUsers = graft.core.Tables.events(spark, dir)
      .select("user_id").distinct().count()
    assert(finalStateRows <= distinctUsers + 1,
      s"state retained $finalStateRows rows after all sessions closed")

    val out = spark.table(queryName)
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_start"), col("n_events"))
      .orderBy(col("user_id"), col("session_start")).collect().toSeq
    val batch = EventQueries.e9SessionWindow(spark, dir).collect().toSeq
    assert(out == batch)
  }

  /** Stage the events table as three parquet files with increasing
    * mod-times (→ three micro-batches under maxFilesPerTrigger=1), the
    * third being a sentinel 2h past the end that advances the watermark
    * so every real session provably closes. Returns (srcDir, schema). */
  private def stageThreeBatches(): (java.nio.file.Path,
      org.apache.spark.sql.types.StructType) = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val events = graft.core.Tables.events(spark, dir).select(cols.map(col): _*)
    val maxId = events.agg(max("event_id")).head().getLong(0)
    val maxTs = events.agg(max("ts")).head().getTimestamp(0)
    val sentinel = events.limit(1).select(
      lit(maxId + 1).as("event_id"),
      lit(java.sql.Timestamp.from(maxTs.toInstant.plusSeconds(7200))).as("ts"),
      lit(-1L).as("user_id"), lit("view").as("event_type"),
      lit(0.0).as("value"), lit(null).cast("string").as("props"))

    val src = Files.createTempDirectory("graft-sess-src")
    val tmp = Files.createTempDirectory("graft-sess-stage")
    val parts = Seq(
      "a" -> events.filter(col("event_id") <= maxId / 2),
      "b" -> events.filter(col("event_id") > maxId / 2),
      "c" -> sentinel)
    parts.zipWithIndex.foreach { case ((name, df), i) =>
      val d = tmp.resolve(name)
      df.coalesce(1).write.parquet(d.toString)
      val part = firstFile(d)
      val dst = src.resolve(s"$name.parquet")
      Files.copy(part, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 30000 + i * 10000))
    }
    (src, events.schema)
  }

  private def runFinalizedSessionization(queryName: String,
      expectRocksDb: Boolean = false): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val (src, schema) = stageThreeBatches()
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val closed = StreamingOps.sessionizeStreamFinalized(stream)
    val q = closed.toDF().writeStream.format("memory").queryName(queryName)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "expected three data micro-batches")
    // provider proof, not just conf: RocksDB exposes rocksdb* custom
    // metrics on the state operator; the default HDFS store exposes none
    val stateMetrics = q.recentProgress.flatMap(_.stateOperators)
      .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
    assert(stateMetrics.exists(_.startsWith("rocksdb")) == expectRocksDb,
      s"state-store metrics: ${stateMetrics.distinct.mkString(",")}")

    // every real session closed exactly once; per-user aggregation
    // reproduces the batch result
    val merged = spark.table(queryName)
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .orderBy(col("user_id")).collect().toSeq
    val batch = EventQueries.e2Sessionization(spark, dir).collect().toSeq
    assert(merged == batch)
  }

  test("stream-stream interval join equals the batch band join") {
    implicit val s = spark
    val stream = StreamingOps.eventsStream(spark, dir)
    val out = StreamingOps.runToCompletion(
      StreamingOps.streamStreamAttribution(
        stream.filter(col("event_type") === "error"),
        stream.filter(col("event_type") === "click")),
      "ss_join", outputMode = "append")
      .select("error_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val ev = graft.core.Tables.events(spark, dir)
    val batch = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        col("ts").as("err_ts"))
      .join(ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts")),
        Seq("user_id"))
      .filter(col("click_ts") <= col("err_ts") &&
        col("click_ts") >= col("err_ts") - expr("INTERVAL 30 MINUTES"))
      .select("error_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(batch.nonEmpty && out == batch)
  }

  test("checkpointed sessionization SURVIVES a query restart (state recovery)") {
    import org.apache.spark.sql.streaming.Trigger
    // run 1 processes the first half of events and stops with sessions
    // still open in the state store; run 2 (same checkpoint, new query)
    // processes the rest. If state recovery works, the union of emitted
    // closed sessions equals the batch answer; if state were lost, every
    // session straddling the restart would double-count.
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val events = graft.core.Tables.events(spark, dir).select(cols.map(col): _*)
    val maxId = events.agg(max("event_id")).head().getLong(0)
    val maxTs = events.agg(max("ts")).head().getTimestamp(0)
    val sentinel = events.limit(1).select(
      lit(maxId + 1).as("event_id"),
      lit(java.sql.Timestamp.from(maxTs.toInstant.plusSeconds(7200))).as("ts"),
      lit(-1L).as("user_id"), lit("view").as("event_type"),
      lit(0.0).as("value"), lit(null).cast("string").as("props"))

    val src = Files.createTempDirectory("graft-restart-src")
    val stage = Files.createTempDirectory("graft-restart-stage")
    val checkpoint = Files.createTempDirectory("graft-restart-ckpt").toString
    def addFile(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val d = stage.resolve(name)
      df.coalesce(1).write.parquet(d.toString)
      val part = firstFile(d)
      Files.copy(part, src.resolve(s"$name.parquet"))
      ()
    }
    // the file sink is the restart-capable sink (memory sink can't
    // recover from a checkpoint); one output dir accumulates both runs
    val out = Files.createTempDirectory("graft-restart-out").toString
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(events.schema).parquet(src.toString)
      val q = StreamingOps.sessionizeStreamFinalized(stream).toDF()
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    addFile("a", events.filter(col("event_id") <= maxId / 2))
    runOnce()
    addFile("b", events.filter(col("event_id") > maxId / 2))
    addFile("c", sentinel)
    runOnce()

    // run 2 started from the checkpoint (file a not reprocessed); the
    // accumulated sink holds each closed session exactly once
    val merged = spark.read.parquet(out)
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .orderBy(col("user_id")).collect().toSeq
    val batch = EventQueries.e2Sessionization(spark, dir).collect().toSeq
    assert(merged == batch)
  }

  test("stream-stream LEFT OUTER interval join: unmatched errors emit with null click") {
    import org.apache.spark.sql.streaming.Trigger
    implicit val s = spark
    // sentinel events 3h past the end push both watermarks far enough
    // that every real error's join window is provably closed — without
    // them, trailing unmatched rows stay pending (correct streaming
    // semantics, but not batch-comparable)
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val events = graft.core.Tables.events(spark, dir).select(cols.map(col): _*)
    val maxId = events.agg(max("event_id")).head().getLong(0)
    val maxTs = events.agg(max("ts")).head().getTimestamp(0)
    val sentinels = Seq("error", "click").zipWithIndex.map { case (t, i) =>
      events.limit(1).select(
        lit(maxId + 1 + i).as("event_id"),
        lit(java.sql.Timestamp.from(maxTs.toInstant.plusSeconds(10800))).as("ts"),
        lit(-1L).as("user_id"), lit(t).as("event_type"),
        lit(0.0).as("value"), lit(null).cast("string").as("props"))
    }.reduce(_ unionByName _)
    val staged = Files.createTempDirectory("graft-ssl-src").toString
    events.unionByName(sentinels).coalesce(1).write.mode("overwrite")
      .parquet(staged)
    val stream = spark.readStream.schema(events.schema).parquet(staged)

    val q = StreamingOps.streamStreamAttribution(
        stream.filter(col("event_type") === "error"),
        stream.filter(col("event_type") === "click"),
        joinType = "left_outer")
      .writeStream.format("memory").queryName("ssl_join")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("ssl_join").filter(col("user_id") >= 0)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet

    val ev = graft.core.Tables.events(spark, dir)
    val errs = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        col("ts").as("err_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val matched = errs.join(clicks, Seq("user_id"))
      .filter(col("click_ts") <= col("err_ts") &&
        col("click_ts") >= col("err_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("error_id"), col("click_id"))
    val unmatched = errs
      .join(matched.select("error_id").distinct(), Seq("error_id"), "left_anti")
      .select(col("error_id"), lit(-1L).as("click_id"))
    val batch = matched.unionByName(unmatched)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(out.exists(_._2 == -1L), "expected at least one unmatched error")
    assert(out == batch)
  }

  test("stream-static enrichment join equals the batch join (stateless)") {
    implicit val s = spark
    import spark.implicits._
    val dim = Seq(("view", 1.0), ("click", 2.0), ("purchase", 5.0),
      ("signup", 3.0), ("error", 0.0)).toDF("event_type", "weight")
    val stream = StreamingOps.eventsStream(spark, dir)
    val out = StreamingOps.runToCompletion(
      StreamingOps.enrichStream(stream, dim, "event_type")
        .groupBy(col("event_type"))
        .agg(round(sum(col("value") * col("weight")), 2).as("weighted")),
      "enrich_stream")
      .orderBy(col("event_type")).collect().toSeq
    val batch = graft.core.Tables.events(spark, dir)
      .join(dim, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(round(sum(col("value") * col("weight")), 2).as("weighted"))
      .orderBy(col("event_type")).collect().toSeq
    assert(out == batch)
  }

  /** A patient stream over one json file: the reference's mixed batch. */
  private def patientStream(): org.apache.spark.sql.DataFrame = {
    val tmp = Files.createTempDirectory("graft-stream-in").toFile
    val json = Seq(
      """{"resourceType":"Patient","mrn":"MRN-1","name":"Jane Doe","birthDate":"1990-01-15","gender":"female","ssn":"123-45-6789","consent":{"data_sharing":true,"research":false}}""",
      """{"resourceType":"Patient","mrn":"MRN-2","name":"No Consent","birthDate":"1991-02-16","gender":"male","ssn":null,"consent":{"data_sharing":false}}""",
      """{"resourceType":"Patient","mrn":"MRN-3"}""",
    ).mkString("\n")
    Files.writeString(new java.io.File(tmp, "batch0.json").toPath, json)
    spark.readStream.schema(PatientIngestion.inputSchema)
      .json(tmp.getAbsolutePath)
  }

  test("patient pipeline binds to a stream via foreachBatch (bounded micro-batch)") {
    var counts: Option[PatientIngestion.IngestCounts] = None
    var loaded = Seq.empty[String]
    val q = StreamingOps.ingestEachBatch(patientStream()) { (result, _) =>
      counts = Some(result.counts)
      loaded = result.loaded.select("mrn").collect().map(_.getString(0)).toSeq
    }
    q.awaitTermination()
    // mixed-batch invariant from the reference tests: 3 in, 2 valid,
    // 1 consented, 1 loaded (tests/test_pipeline.py:58-71)
    val c = counts.get
    assert(c.extract == 3 && c.valid == 2 && c.consented == 1 && c.loaded == 1)
    assert(loaded == Seq("MRN-1"))
  }

  test("ingestEachBatch releases each micro-batch's materialized rows") {
    val stream = patientStream()
    val persisted = spark.sparkContext.getPersistentRDDs.size
    var held = 0
    val q = StreamingOps.ingestEachBatch(stream) { (_, _) =>
      held = spark.sparkContext.getPersistentRDDs.size
    }
    q.awaitTermination()
    assert(held > persisted)
    assert(spark.sparkContext.getPersistentRDDs.size == persisted)
  }
}
