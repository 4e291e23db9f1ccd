package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.ops.AtomicPublish

/** STREAMING FACE OF THE STORE: the change feed a downstream consumer
  * (a sync job, a mirror store) subscribes to instead of scheduling its
  * own polling loop. Mounted through the same `format("graft")` face as
  * batch reads; `root` and `table` are its only options:
  *
  * {{{
  * spark.readStream.format("graft")
  *   .option("root", storeRoot).option("table", "docs").load()
  * }}}
  *
  * Each microbatch carries the rows the table GAINED and the rows it
  * LOST in the commit interval as SIGNED rows (`_change_type` ∈
  * insert|delete), computed by the batch CDC feed
  * [[AtomicPublish.changesWithDeletes]] — so deletes advance the stream
  * and a stream-maintained mirror (apply the batch's deletes, then its
  * inserts) stays exact.
  *
  * Offsets are COMMIT TXN IDS: published versions are immutable, so
  * `getBatch(start, end)` is replay-deterministic, and the interval
  * diff inherits every exactness property of the batch feed (asof
  * scoping, skipping-layer-pruned delete reads). The first batch of a
  * fresh checkpoint is the full snapshot at the pinned txn, all
  * `insert` — the resync semantics. REORGANIZATION commits
  * (compaction/clustering, dataChange=false) stream through as empty
  * intervals — the batch feed diffs across them exactly; a rewrite
  * that staged its change set (commit-time CDF,
  * [[AtomicPublish.cdfTableOf]]) streams through as that staged
  * insert/delete batch; only an UNSTAGED data-changing rewrite, or a
  * `start` version already vacuumed, fails the stream with
  * [[GraftCdcFeedSource.ResyncRequired]] BEFORE emitting anything —
  * never a partial batch. `Trigger.AvailableNow` drains to the version
  * current when the trigger starts.
  *
  * Consumer-lag registry: after resolving each batch the source
  * records its end txn under `_consumers/<checkpoint-id>` at the store
  * root — [[AtomicPublish.vacuum]] protects every registered version
  * (and its reference closure) younger than its consumer TTL, so a
  * LAGGING stream's next `sinceTxn` manifest survives retention
  * instead of being reclaimed under the stream. */
final class GraftCdcFeedSource(spark: SparkSession, root: String,
    table: String, consumerId: String)
  extends Source with SupportsTriggerAvailableNow {

  import GraftCdcFeedSource._

  override val schema: StructType = {
    val (txn, metas) = AtomicPublish.currentManifestMeta(spark, root)
      .getOrElse(throw new IllegalStateException(
        s"no published version under $root"))
    val meta = metas.getOrElse(table, throw new IllegalArgumentException(
      s"table '$table' is not in version $txn under $root"))
    meta.schema.add(ChangeTypeCol, StringType)
  }

  /** Trigger.AvailableNow freezes the drain target here — versions
    * are immutable, so the frozen txn stays valid however long the
    * drain takes. */
  @volatile private var frozenTxn: Option[String] = None

  override def prepareForTriggerAvailableNow(): Unit =
    frozenTxn = AtomicPublish.currentTxn(spark, root)

  private def targetTxn: Option[String] =
    frozenTxn.orElse(AtomicPublish.currentTxn(spark, root))

  /** The engine's offset advance (`start` is the PRIOR end offset,
    * null before the first batch): one batch to the target version,
    * none once caught up. */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 =
    targetTxn match {
      case None => null
      case Some(t) if start != null && TxnOffset.of(start).txn == t => start
      case Some(t) => TxnOffset(t)
    }

  override def getOffset: Option[Offset] =
    targetTxn.map(TxnOffset(_)) // legacy entry point, unreached

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endTxn = TxnOffset.of(end).txn
    def snapshot = AtomicPublish.readTableAt(spark, root, table, endTxn)
      .withColumn(ChangeTypeCol, lit("insert"))
    val batch = start.map(TxnOffset.of(_).txn) match {
      case None => snapshot // fresh checkpoint: the full snapshot
      case Some(s) if s == endTxn => snapshot.limit(0)
      case Some(s) => diffBatch(s, endTxn)
    }
    // lag registry: the NEXT batch diffs from endTxn — keep it alive
    AtomicPublish.recordConsumer(spark, root, consumerId, endTxn)
    // one streaming LEAF over the whole batch computation: the CDC
    // diff's tombstone anti-join must stay a batch join
    org.apache.spark.sql.graftstream.StreamingBridge.asStreamingLeaf(
      conform(batch))
  }

  /** Conform a batch to the stream's DECLARED schema: a mid-stream
    * widening append (top-level or nested ADD COLUMN) makes later
    * intervals read a wider recorded schema than the stream resolved
    * at start — the running consumer keeps its start-of-stream shape
    * (new columns dropped); restarting the stream adopts the widened
    * schema. Without this the microbatch's row shape silently diverges
    * from what the sink planned against. */
  private def conform(df: DataFrame): DataFrame =
    if (df.schema == schema) df
    else df.select(schema.fields.toIndexedSeq.map(f =>
      (if (df.columns.contains(f.name)) col(f.name)
       else lit(null)).cast(f.dataType).as(f.name)): _*)

  /** The signed diff of one commit interval. */
  private def diffBatch(sinceTxn: String, endTxn: String): DataFrame = {
    val diff =
      try AtomicPublish.changesWithDeletes(spark, root, table,
        sinceTxn, Some(endTxn))
      catch { case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(resyncMessage(table,
          s"version $sinceTxn is no longer readable (vacuumed?)"), e)
      }
    val (ins, del) = diff.getOrElse(throw new IllegalStateException(
      resyncMessage(table, s"the interval $sinceTxn..$endTxn rewrote " +
        "the table (data change)")))
    // allowMissingColumns: an interval SPANNING a widening append reads
    // its insert side under the widened schema while the killed rows
    // come from pre-widen segments — the missing column is null there,
    // which is exactly its value
    ins.withColumn(ChangeTypeCol, lit("insert"))
      .unionByName(del.withColumn(ChangeTypeCol, lit("delete")),
        allowMissingColumns = true)
  }

  override def stop(): Unit = ()
}

object GraftCdcFeedSource {

  /** The signed-row discriminator column of the CDC feed. */
  val ChangeTypeCol = "_change_type"

  /** Thrown (inside the StreamingQueryException) when the owner chain
    * was rewritten under a running stream by a DATA-CHANGING commit
    * (reorganization commits stream through). */
  val ResyncRequired = "GRAFT_RESYNC_REQUIRED"

  private[streaming] def resyncMessage(table: String, what: String): String =
    s"$ResyncRequired: the owner chain of table '$table' was rewritten " +
      s"under this stream ($what) — a data-changing rewrite replaced " +
      "segments WITHOUT staging its change set, and a segment feed " +
      "cannot diff across it. (overwriteWhere and the SQL UPDATE/MERGE " +
      "copy-on-write routes stage commit-time CDF and stream through; " +
      "a raw publishDelta(replace=…) does not.) Fall back: bring " +
      "downstream state current with a batch read (e.g. " +
      "MatView.refresh, which recomputes over a replace), then restart " +
      "the stream from a FRESH checkpoint (its first batch re-delivers " +
      "the full current snapshot)."

  /** CDC offset: the commit txn the stream has consumed through.
    * Versions are immutable, so the offset alone replay-determines the
    * batch. */
  final case class TxnOffset(txn: String) extends Offset {
    override def json(): String = s"""{"txn":"$txn"}"""
  }

  object TxnOffset {
    private val Re = """\{"txn":"([^"]*)"\}""".r
    def of(o: OffsetV2): TxnOffset = o match {
      case t: TxnOffset => t
      case s: SerializedOffset => parse(s.json)
      case other => parse(other.json())
    }
    def parse(json: String): TxnOffset = json match {
      case Re(t) => TxnOffset(t)
      case _ => throw new IllegalArgumentException(
        s"not a graft CDC offset: $json")
    }
  }
}
