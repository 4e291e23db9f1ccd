package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** PARTITION-SPEC EVOLUTION ([[AtomicPublish.setPartitionSpec]] —
  * Iceberg's spec evolution re-expressed over the graft manifest,
  * restricted to calendar transforms): one O(1) metadata commit moves
  * a table from `days(ts)` to `months(ts)`/`hours(ts)`/unpartitioned
  * and back. Existing owners keep the layout they were WRITTEN with
  * ([[AtomicPublish.TableMeta.ownerParts]]); the reader parses and
  * prunes each owner's directories under ITS spec from the SAME raw
  * predicate; appends land under the current spec; compaction
  * normalizes. At 100 TB this is the operation that re-layouts a
  * grown ingest table without an in-place full rewrite. */
class PartitionEvolutionSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("part-evolution").resolve("store").toString

  /** 4 rows per UTC day (6-hour steps), days 0..(n/4 - 1). */
  private def tsDf(ids: Range): DataFrame =
    ids.map(i => (i.toLong,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        i.toLong * 21600)), s"p$i")).toDF("id", "ts", "payload")

  private def dirNames(root: String, owner: String,
      table: String = "ev"): Seq[String] =
    new java.io.File(s"$root/v_$owner/$table").listFiles()
      .map(_.getName).filter(_.contains("=")).toSeq.sorted

  test("days→months evolution: O(1) commit, appends land in month " +
      "dirs, one raw predicate prunes BOTH layouts, values exact") {
    val root = freshRoot()
    // owner A: 40 rows over days 0..9 (Jan 1-10), day layout
    val vA = AtomicPublish.publish(spark, root,
      Map("ev" -> tsDf(0 until 40).repartition(1)),
      partitionBy = Map("ev" -> Seq("days(ts)")))
    val vE = AtomicPublish.setPartitionSpec(spark, root, "ev",
      Seq("months(ts)")).get
    // the evolution commit is metadata-only: no staged data dir
    assert(!new java.io.File(s"$root/v_$vE/ev").exists(),
      "spec evolution must not stage data")
    val mE = AtomicPublish.manifestMetaOf(spark, root, vE)("ev")
    assert(mE.partitionCols == Seq("months(ts)"))
    assert(mE.ownerParts == Map(vA -> Seq("days(ts)")))
    // owner B: 56 rows over Feb..Mar (days 31..44), month layout
    val febMar = (0 until 56).map(i => (100L + i,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        (31L * 4 + i) * 21600)), s"q$i")).toDF("id", "ts", "payload")
    val vB = AtomicPublish.publishDelta(spark, root,
      append = Map("ev" -> febMar.repartition(1)),
      parent = Some(vE)).get
    assert(dirNames(root, vA).forall(_.startsWith("ts__day=")),
      dirNames(root, vA))
    assert(dirNames(root, vB).forall(_.startsWith("ts__month=")),
      dirNames(root, vB))
    val all = AtomicPublish.readTable(spark, root, "ev")
    assert(all.columns.toSeq == Seq("id", "ts", "payload"))
    assert(all.count() == 96)
    // one RAW predicate, two layouts: Jan 8 .. Feb 20 spans the day
    // owner's tail and the month owner's February — the day owner
    // prunes to 3 of 10 day dirs, the month owner to 1 of 2 month dirs
    val pruned = all.filter(
      col("ts") >= lit("1970-01-08 00:00:00").cast("timestamp") &&
      col("ts") < lit("1970-02-20 00:00:00").cast("timestamp"))
    // day rows: days 7,8,9 = 12; month rows: Feb 1..19 (days 31..49,
    // capped at data end day 44): ids at 6h steps from day 31 to <50
    val expect = 12 + febMar.filter(
      col("ts") < lit("1970-02-20 00:00:00").cast("timestamp")).count()
    assert(pruned.count() == expect)
    // per-owner layouts never fork the plan: the evolved chain is
    // still ONE file-source scan (a file-index concern, invisible to
    // Catalyst — no union of per-layout relations)
    val scans = {
      pruned.collect()
      (pruned.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    }
    assert(scans.size == 1, s"evolved chain forked into ${scans.size}")
    // 3 day files + 1 month file (Feb); the conservative boundary
    // admits at most one extra dir per layout
    assert(ScanFiles(pruned) <= 5,
      s"cross-layout pruning regressed: ${ScanFiles(pruned)} files")
    assert(ScanFiles(pruned) < ScanFiles(all))
    // time travel to the pre-evolution version still reads day layout
    assert(AtomicPublish.readTableAt(spark, root, "ev", vA).count() == 40)
  }

  test("evolving BACK drops bookkeeping: an owner recorded under the " +
      "re-adopted spec needs no entry") {
    val root = freshRoot()
    val vA = AtomicPublish.publish(spark, root,
      Map("ev" -> tsDf(0 until 8).repartition(1)),
      partitionBy = Map("ev" -> Seq("days(ts)")))
    val v1 = AtomicPublish.setPartitionSpec(spark, root, "ev",
      Seq("months(ts)")).get
    val vB = AtomicPublish.publishDelta(spark, root,
      append = Map("ev" -> tsDf(8 until 16).repartition(1)),
      parent = Some(v1)).get
    AtomicPublish.setPartitionSpec(spark, root, "ev",
      Seq("days(ts)")).get
    val m = AtomicPublish.currentManifestMeta(spark, root).get._2("ev")
    assert(m.partitionCols == Seq("days(ts)"))
    // A was written under days — back under the current spec, entry
    // gone; only B (months) still carries one
    assert(m.ownerParts == Map(vB -> Seq("months(ts)")), m.ownerParts)
    assert(AtomicPublish.readTable(spark, root, "ev").count() == 16)
  }

  test("evolution to UNPARTITIONED and from it: old transform dirs " +
      "still prune, new appends are flat") {
    val root = freshRoot()
    val vA = AtomicPublish.publish(spark, root,
      Map("ev" -> tsDf(0 until 40).repartition(1)),
      partitionBy = Map("ev" -> Seq("days(ts)")))
    AtomicPublish.setPartitionSpec(spark, root, "ev", Nil).get
    val vB = AtomicPublish.publishDelta(spark, root,
      append = Map("ev" -> tsDf(40 until 48).repartition(1)),
      parent = AtomicPublish.currentTxn(spark, root)).get
    assert(dirNames(root, vB).isEmpty, "unpartitioned append got dirs")
    val all = AtomicPublish.readTable(spark, root, "ev")
    assert(all.count() == 48)
    // the day-laid owner still prunes from the raw predicate even
    // though the CURRENT spec has no transform
    val pruned = all.filter(
      col("ts") >= lit("1970-01-08 00:00:00").cast("timestamp"))
    assert(pruned.count() == 20)
    assert(ScanFiles(pruned) < ScanFiles(all),
      "evolved-away day dirs stopped pruning")
  }

  test("compaction NORMALIZES: the rewrite lands under the current " +
      "spec and clears rewritten owners' entries; a scoped rewrite " +
      "keeps carried owners' layouts") {
    val root = freshRoot()
    val vA = AtomicPublish.publish(spark, root,
      Map("ev" -> tsDf(0 until 40).repartition(1)),
      partitionBy = Map("ev" -> Seq("days(ts)")),
      statsBy = Map("ev" -> Seq("id")))
    AtomicPublish.setPartitionSpec(spark, root, "ev",
      Seq("months(ts)")).get
    val vB1 = AtomicPublish.publishDelta(spark, root,
      append = Map("ev" -> tsDf(40 until 60).repartition(1)),
      parent = AtomicPublish.currentTxn(spark, root)).get
    AtomicPublish.publishDelta(spark, root,
      append = Map("ev" -> tsDf(60 until 80).repartition(1)),
      parent = Some(vB1)).get
    // scoped compaction admitting ONLY the two month-laid owners'
    // id range: A (old spec) is carried by reference, keeps its entry
    val (vC, _) = Compaction.compactWhere(spark, root, "ev",
      "id >= 40").get
    val mC = AtomicPublish.manifestMetaOf(spark, root, vC)("ev")
    assert(mC.owners.head == vA && mC.owners.size == 2)
    assert(mC.ownerParts == Map(vA -> Seq("days(ts)")), mC.ownerParts)
    // the fresh consolidated owner is month-laid
    val newOwner = mC.owners.last
    assert(dirNames(root, newOwner).forall(_.startsWith("ts__month=")),
      dirNames(root, newOwner))
    // full compaction: everything under the current spec, no entries
    val (vD, _) = Compaction.compactStore(spark, root, "ev")
    val mD = AtomicPublish.manifestMetaOf(spark, root, vD)("ev")
    assert(mD.ownerParts.isEmpty, mD.ownerParts)
    assert(mD.partitionCols == Seq("months(ts)"))
    assert(AtomicPublish.readTable(spark, root, "ev").count() == 80)
    mD.owners.foreach { o =>
      assert(dirNames(root, o).forall(_.startsWith("ts__month=")))
    }
  }

  test("refusals: no-op spec, unknown source column, bucketed tables " +
      "freeze identity entries (r10: plain tables may evolve them)") {
    val root = freshRoot()
    val df = tsDf(0 until 8).withColumn("region", lit("emea"))
    AtomicPublish.publish(spark, root, Map("ev" -> df.repartition(1)),
      partitionBy = Map("ev" -> Seq("region", "days(ts)")))
    def refuse(spec: Seq[String], frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        AtomicPublish.setPartitionSpec(spark, root, "ev", spec)
      }
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    refuse(Seq("region", "days(ts)"), "already has spec")
    refuse(Seq("region", "days(nope)"), "not in its schema")
    // transforms evolve fine with the identity entry kept
    assert(AtomicPublish.setPartitionSpec(spark, root, "ev",
      Seq("region", "months(ts)")).isDefined)
    assert(AtomicPublish.readTable(spark, root, "ev").count() == 8)
    // BUCKETED tables keep the identity freeze: the bucket-file naming
    // contract and the identity dir layout must not drift mid-chain
    AtomicPublish.publish(spark, root,
      Map("bk" -> df.select("id", "ts", "region").repartition(1)),
      partitionBy = Map("bk" -> Seq("region")),
      bucketBy = Map("bk" -> (Seq("id"), 4)))
    val e = intercept[IllegalArgumentException] {
      AtomicPublish.setPartitionSpec(spark, root, "bk", Seq("days(ts)"))
    }
    assert(e.getMessage.contains("identity entries must stay"),
      e.getMessage)
  }

  test("evolution COMPOSES with the skipping layers: zone maps + bloom " +
      "sidecars keep pruning across differently-laid owners, and both " +
      "fire together with per-owner transform pruning") {
    val root = freshRoot()
    // owner A: ids 0..39 over days 0..9, day-laid, stats+bloom on id
    AtomicPublish.publish(spark, root,
      Map("ev" -> tsDf(0 until 40).repartition(1)),
      partitionBy = Map("ev" -> Seq("days(ts)")),
      statsBy = Map("ev" -> Seq("id")),
      bloomBy = Map("ev" -> Seq("id")))
    AtomicPublish.setPartitionSpec(spark, root, "ev",
      Seq("months(ts)")).get
    // owner B: ids 100..139 over the same days, month-laid
    val later = tsDf(0 until 40)
      .withColumn("id", col("id") + 100L).repartition(1)
    AtomicPublish.publishDelta(spark, root,
      append = Map("ev" -> later),
      parent = AtomicPublish.currentTxn(spark, root))
    // point read on id: segment zone maps + blooms drop the other
    // owner entirely — layout evolution never blunts value skipping
    val ev = AtomicPublish.readTable(spark, root, "ev")
    val pointA = ev.where("id = 7")
    assert(ScanFiles(pointA) == 1, "id=7 read B's month files")
    assert(pointA.count() == 1)
    val pointB = ev.where("id = 107")
    val readB = ScanFiles(pointB)
    assert(readB == 1,
      s"id=107 should prune to B's single month file, read $readB")
    assert(pointB.count() == 1)
    // combined: id range (zone map → owner A only) AND raw ts range
    // (day dirs within A) — both layers fire on one query
    val both = AtomicPublish.readTable(spark, root, "ev")
      .filter(col("id") < 40L &&
        col("ts") >= lit("1970-01-08 00:00:00").cast("timestamp"))
    assert(both.count() == 12)
    assert(ScanFiles(both) == 3,
      "zone-map owner pruning + day-dir pruning did not compose")
  }

  test("SQL faces: ALTER TABLE SET TBLPROPERTIES('partition-spec') " +
      "and CALL set_partition_spec; DESCRIBE surfaces the spec") {
    val root = freshRoot()
    val cat = "evcat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    AtomicPublish.publish(spark, root,
      Map("ev" -> tsDf(0 until 16).repartition(1)),
      partitionBy = Map("ev" -> Seq("days(ts)")))
    val props0 = spark.sql(s"SHOW TBLPROPERTIES $cat.ev").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props0("partition-spec") == "days(ts)")
    spark.sql(s"ALTER TABLE $cat.ev SET TBLPROPERTIES(" +
      "'partition-spec' = 'months(ts)')")
    val props1 = spark.sql(s"SHOW TBLPROPERTIES $cat.ev").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props1("partition-spec") == "months(ts)")
    assert(props1("partition-spec.evolved-owners") == "1")
    // CALL face evolves again and reports the transition
    val row = spark.sql(s"CALL $cat.system.set_partition_spec(" +
      "table => 'ev', spec => 'hours(ts)')").collect().head
    assert(row.getString(1) == "months(ts)" &&
      row.getString(2) == "hours(ts)")
    assert(row.getInt(3) == 1, "one owner still day-laid")
    // SQL reads keep serving exact values across the evolved chain
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev")
      .head().getLong(0) == 16)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev " +
      "WHERE ts >= '1970-01-02 00:00:00'").head().getLong(0) == 12)
  }
}
