package org.apache.spark.sql.graftstream

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.classic

/** The batch→streaming DataFrame bridge for the store's change-feed
  * source, plus iteration-safe checkpoints.
  * `internalCreateDataFrame` is private[sql], so the bridge lives in
  * this package (the established third-party-source pattern). */
object StreamingBridge {

  /** Batch plan → ONE streaming leaf: a V1 `Source.getBatch` must
    * return a frame whose leaves carry `isStreaming = true`
    * (MicroBatchExecution asserts it), but the store's read stack
    * produces ordinary batch relations. This executes the whole batch
    * computation inside an RDD and mounts it as a streaming-tagged
    * `LogicalRDD` — re-tagging the plan's leaves instead would plan the
    * CDC feed's tombstone anti-join as a streaming join (which forbids
    * LeftAnti). The inner plan keeps its full batch machinery
    * (skipping layers, joins); the streaming side sees a single row
    * source. */
  def asStreamingLeaf(df: Dataset[Row]): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** Iteration-safe checkpoint: eagerly materialize (localCheckpoint —
    * lineage truncated, rows cached) and REBIND the result under a
    * fresh leaf with DEFAULT statistics. `localCheckpoint` alone
    * carries the origin plan's ESTIMATED size onto the checkpoint
    * (`LogicalRDD.rewriteStatsAndConstraints`), so in an iterative
    * algorithm round k's estimate multiplies round k-1's: the
    * size-in-bytes estimate grows doubly exponentially, and at ~14
    * rounds `BigInteger` overflows inside stats estimation — the
    * checkpoint that exists to BOUND per-round planning work becomes
    * the thing that blows it up. A constant default estimate per round
    * keeps planning O(round size) forever; the cost is that the round's
    * joins plan as shuffles instead of broadcasts, which is the safe
    * direction for an unbounded-size iteration product.
    *
    * Lifetime/fault caveats (ADVICE r13 #2) — `localCheckpoint` is a
    * single-JVM materialization, NOT a reliable staging write:
    *  - construction is EAGER (Spark jobs run at DataFrame-build time,
    *    before the caller's action);
    *  - the materialized blocks pin executor storage until the RDD is
    *    GC'd and the ContextCleaner reclaims them — callers holding the
    *    result in a long-lived session should release the handle (or
    *    call [[unpersistCheckpoint]]) once the consuming action is done;
    *  - blocks are NOT fault-tolerant: on a multi-executor cluster an
    *    executor loss kills every query reading the checkpoint.
    * At deployment scale the equivalent move is a RELIABLE staging
    * write (write the compact frame to scratch storage and re-read it
    * — same one-exchange price, restartable); this bridge uses
    * localCheckpoint because the test/bench environment is one JVM
    * where the write would only add filesystem churn. */
  def checkpointFresh(df: Dataset[Row]): DataFrame = {
    val cp = df.localCheckpoint()
    val spark = cp.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(cp.queryExecution.toRdd, cp.schema,
      isStreaming = false)
  }

  /** Release the executor-storage blocks behind a [[checkpointFresh]]
    * result once its consuming action has run — without this a
    * long-lived session holds the blocks until GC + ContextCleaner get
    * around to them. The frame's `LogicalRDD.rdd` is NOT itself the
    * persisted RDD: [[checkpointFresh]] rebinds via
    * `internalCreateDataFrame(cp.queryExecution.toRdd)`, so the leaf
    * holds a DERIVED MapPartitionsRDD (RDDScanExec wraps the
    * checkpoint with a projection/metrics map) and `RDD.unpersist` is
    * not recursive — unpersisting the leaf alone releases nothing
    * (ADVICE r14 #1: each BPE round would pin another round's blocks).
    * So the walk descends each leaf RDD's DEPENDENCY chain to the
    * ancestors whose storage level is set and unpersists those. Safe
    * for checkpointFresh results (below the leaf, map layers → the
    * localCheckpoint RDD, nothing shared) and for frames over a plain
    * `localCheckpoint`; the frame must not be executed again after. */
  def unpersistCheckpoint(df: Dataset[Row]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        unpersistTree(lr.rdd); ()
      case _ => ()
    }

  private def unpersistTree(rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    if (rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
      rdd.unpersist(blocking = false)
    rdd.dependencies.foreach(d => unpersistTree(d.rdd))
  }
}
