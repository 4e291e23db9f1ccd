package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate

/** The traced run's recorder: spans around each engine call the benchmark
  * makes, one SparkListener for job, stage and task metrics, and the local
  * filesystem's operation counts ([[CountingFs]]) and bytes written.
  *
  * A span's id travels to Spark as a local property, so every job (and
  * its stages) launched inside the span, construction-time jobs included,
  * is attributed to it. Spans nest on the calling thread. When disabled,
  * `span` runs its body and records nothing, and no listener is
  * registered: untraced runs pay nothing. A traced run switches recording
  * [[on]] around the timed iterations and [[off]] around its checks. */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val stageSpans = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val aqeUpdates = new ConcurrentLinkedQueue[java.lang.Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val j = JobRec(e.jobId, spanOf(p.map(_.getProperty(SpanProp))),
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L), e.stageInfos.size, e.time)
      jobs.add(j)
      openJobs.put(e.jobId, j)
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stageSpans.put(e.stageInfo.stageId,
        spanOf(Option(e.properties).map(_.getProperty(SpanProp))))
      ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(StageRec(i.stageId, i.attemptNumber(),
        stageSpans.getOrDefault(i.stageId, 0), i.numTasks,
        m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.recordsRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        aqeUpdates.add(u.executionId); ()
      case _ => ()
    }
  }
  private var active = false

  /** Start recording (trace runs only): spans and the listener. */
  def on(): Unit = if (enabled && !active) {
    spark.sparkContext.addSparkListener(listener); active = true
  }

  /** Stop recording; the listener leaves the bus, so untraced work in a
    * trace run pays no listener cost. */
  def off(): Unit = if (active) {
    drainBus(); spark.sparkContext.removeSparkListener(listener); active = false
  }

  private def spanOf(p: Option[String]): Int =
    p.flatMap(s => Option(s)).map(_.toInt).getOrElse(0)

  /** Run `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val sc = spark.sparkContext
      val s = Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0),
        name, System.nanoTime(), fsNow())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.fsEnd = fsNow()
        stack = stack.tail
        sc.setLocalProperty(SpanProp,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  private def drainBus(): Unit =
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
  def drain(): Unit = if (active) drainBus()

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Ids of `s` and every span nested in it. */
  private def subtree(s: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] =
      id +: kids.getOrElse(id, Nil).toSeq.flatMap(k => go(k.id))
    go(s.id).toSet
  }

  /** Spark work attributed to `s` and its nested spans. */
  def work(s: Span): Work = {
    drain()
    val ids = subtree(s)
    val js = jobs.asScala.filter(j => ids(j.span)).toSeq
    val st = stages.asScala.filter(x => ids(x.span)).toSeq
    val execs = js.map(_.execId).filter(_ >= 0).toSet
    Work(js.size, js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1000.0,
      st.size, st.map(_.runMs).sum / 1000.0,
      st.map(_.shuffleWriteBytes).sum, st.map(_.recordsRead).sum,
      st.map(_.spillBytes).sum, aqeUpdates.asScala.count(e => execs(e)))
  }

  /** Engine-wide stage totals under the given spans. */
  def sparkTotals(spans: Seq[Span], cores: Int): Map[String, Metric] = {
    val w = spans.map(work)
    val wall = spans.map(_.seconds).sum
    Map(
      "spark.aqe_replans" -> Metric(w.map(_.aqeUpdates).sum.toDouble, "count"),
      "spark.spill_bytes" -> Metric(w.map(_.spillBytes).sum.toDouble, "bytes"),
      "spark.parallel_efficiency" -> Metric(
        if (wall > 0) w.map(_.taskSeconds).sum / (wall * cores) else 0.0,
        "ratio"))
  }

  /** Write the trace and the run's per-layer metrics as JSON lines to
    * `traces/<workload>-seed<n>.jsonl` under the cache directory. */
  def save(ctx: Ctx, metrics: Map[String, Metric]): Unit = {
    val dir = new java.io.File(ctx.cache, "traces"); dir.mkdirs()
    writeArtifact(new java.io.File(dir, s"${ctx.workload}-seed${ctx.seed}.jsonl"),
      Map("metrics" -> metrics.map { case (k, v) => k -> v.value }))
  }

  /** Write every span, job, stage and AQE update as JSON lines. */
  private def writeArtifact(f: java.io.File,
      summary: Map[String, Any]): Unit = {
    drain()
    val byParent = spans.groupBy(_.parent)
    val out = new java.io.PrintWriter(f, "UTF-8")
    try {
      spans.foreach { s =>
        val childNs = byParent.getOrElse(s.id, Nil).map(_.durNs).sum
        out.println(Json.write(Map("type" -> "span", "run" -> runId,
          "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "self_ns" -> (s.durNs - childNs),
          "fs_read_ops" -> (s.fsEnd.readOps - s.fsStart.readOps),
          "fs_write_ops" -> (s.fsEnd.writeOps - s.fsStart.writeOps),
          "fs_bytes_written" -> (s.fsEnd.bytesWritten - s.fsStart.bytesWritten))))
      }
      jobs.asScala.foreach(j => out.println(Json.write(Map("type" -> "job",
        "run" -> runId, "job" -> j.id, "span" -> j.span,
        "execution" -> j.execId, "stages" -> j.stages,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs))))
      stages.asScala.foreach(s => out.println(Json.write(Map("type" -> "stage",
        "run" -> runId, "stage" -> s.id, "attempt" -> s.attempt,
        "span" -> s.span, "tasks" -> s.tasks, "task_ms" -> s.runMs,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "records_read" -> s.recordsRead, "spill_bytes" -> s.spillBytes))))
      aqeUpdates.asScala.foreach(e => out.println(Json.write(Map(
        "type" -> "aqe_update", "run" -> runId, "execution" -> e))))
      out.println(Json.write(Map("type" -> "summary", "run" -> runId) ++ summary))
    } finally out.close()
  }

  def close(): Unit = off()
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class FsStats(readOps: Long, writeOps: Long, bytesWritten: Long)

  /** Local-filesystem counters, summed over every thread: operations
    * from [[CountingFs]], bytes from Hadoop's statistics. */
  def fsNow(): FsStats = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsStats(CountingFs.reads.get, CountingFs.writes.get,
      st.map(_.getBytesWritten).sum)
  }

  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      fsStart: FsStats) {
    var endNs: Long = startNs
    var fsEnd: FsStats = fsStart
    def durNs: Long = endNs - startNs
    def seconds: Double = durNs / 1e9
  }

  final case class JobRec(id: Int, span: Int, execId: Long, stages: Int,
      startMs: Long) {
    @volatile var endMs: Long = startMs
  }
  final case class StageRec(id: Int, attempt: Int, span: Int, tasks: Int,
      runMs: Long, shuffleWriteBytes: Long, recordsRead: Long, spillBytes: Long)

  /** Spark work under a span. */
  final case class Work(jobs: Int, jobSeconds: Double, stages: Int,
      taskSeconds: Double,
      shuffleWriteBytes: Long, recordsRead: Long, spillBytes: Long,
      aqeUpdates: Int)
}
