package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.util.QueryExecutionListener

/** Test-side scan audit: execute a DataFrame once, then report what
  * each [[FileSourceScanExec]] of its executed plan read — the file set
  * [[GraftFileIndex.listFiles]] decided at scan planning. Walks through
  * AQE wrappers and query stages; a reused exchange reads nothing, so
  * it is not descended into.
  *
  * Must see the FIRST execution of `df`: a re-executed AQE plan
  * re-stages with fresh metric instances, and the inspected
  * executedPlan no longer carries the numbers that actually ran. */
object ScanFiles {

  /** The scans of an EXECUTED physical plan. */
  def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    case s: QueryStageExec => scansOf(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case o => o.children.flatMap(scansOf)
  }

  /** Run `body`; with its value, the query executions that completed
    * during it (each action, write and checkpoint runs under its own),
    * once the listener bus has delivered them. */
  def executedDuring[T](spark: SparkSession)(body: => T)
      : (T, Seq[QueryExecution]) = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        done.add(qe); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val v = body
      org.apache.spark.sql.graftplan.PlanBridge
        .drainListenerBus(spark.sparkContext, 30000L)
      (v, done.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Execute `df`; its scans, restricted to those of `table` when given
    * (by segment directory name — drops e.g. tombstone-table scans). */
  def scans(df: DataFrame, table: Option[String] = None)
      : Seq[FileSourceScanExec] = {
    df.collect()
    scansOf(df.queryExecution.executedPlan).filter(s => table.forall(t =>
      s.relation.location.rootPaths.exists(_.getName == t)))
  }

  /** Files read by `df`'s scans (all of them, or only `table`'s). */
  def apply(df: DataFrame, table: Option[String] = None): Long =
    scans(df, table).map(_.metrics("numFiles").value).sum

  /** Paths of the files read by `df`'s scans. */
  def paths(df: DataFrame, table: Option[String] = None): Seq[String] =
    scans(df, table).flatMap(_.inputRDD match {
      case r: FileScanRDD =>
        r.filePartitions.flatMap(_.files.map(_.filePath.toString)).distinct
    })

  /** Files of `table`'s live version whose RECORDED file-level zone
    * map admits the point `c = v` (integral `c`): the exact count file
    * skipping must read. Quantile boundaries of a clustered rewrite
    * seed off RDD ids, so the file geometry — and with it a literal
    * count — shifts with suite order; the recorded maps always
    * describe the layout actually written. */
  def zoneAdmits(spark: SparkSession, root: String, table: String,
      c: String, v: Long): Int = {
    val m = AtomicPublish.currentManifestMeta(spark, root).get._2(table)
    m.owners.flatMap(m.fileStats(_).values).count { f =>
      val st = f.cols(c)
      st.min.get.toLong <= v && v <= st.max.get.toLong
    }
  }
}
