package graft.streaming

import java.nio.file.Files

import graft.SparkSuite
import graft.etl.PatientIngestion

/** Patient ingestion bound to a stream gives the batch result per
  * micro-batch — the §2.8 claim that the ingest transform is
  * execution-mode agnostic. */
class StreamingOpsSpec extends SparkSuite {

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
