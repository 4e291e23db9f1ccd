package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.Tables

/** Column-level planner statistics from the manifest (VERDICT r10 ask
  * #5): publish records an HLL NDV per stat column beside min/max; the
  * native mount surfaces row count + NDV/null/min-max as
  * `CatalogStatistics`, and CBO flips a join to broadcast when the
  * build side is small by NDV-derived selectivity — not by raw size.
  */
class StoreStatsSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  // the manifest grammar of a histogram tail: `,[height,[[lo,hi,ndv],…]]`
  // (numbers only — used by compat tests to surgically strip it)
  private val numRe = """-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?"""
  private val binRe = s"\\[$numRe,$numRe,$numRe\\]"
  private val histRe = s",\\[$numRe,\\[$binRe(?:,$binRe)*\\]\\]"

  private lazy val root: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-statspec")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val r = tmp.resolve("store").toString
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    // two owners so the NDV/extrema merge path runs (doc_id split is
    // disjoint -> summed NDV stays ~exact for the unique key)
    val dim = docs.withColumn("grp", pmod(col("doc_id"), lit(16L)))
    val v1 = AtomicPublish.publish(spark, r,
      Map("dim" -> dim.filter(col("doc_id") % 2 === 0),
        "fact" -> Tables.events(spark, dir)
          .select(col("event_id"), pmod(col("event_id"), lit(500L)).as("fk"))),
      statsBy = Map("dim" -> Seq("doc_id", "lang", "grp"),
        "fact" -> Seq("fk")))
    AtomicPublish.publishDelta(spark, r,
      append = Map("dim" -> dim.filter(col("doc_id") % 2 === 1)),
      parent = Some(v1)).get
    r
  }

  private def plans(p: SparkPlan): Seq[SparkPlan] = (p match {
    case a: AdaptiveSparkPlanExec => plans(a.executedPlan)
    case q: QueryStageExec => plans(q.plan)
    case o => o.children.flatMap(plans)
  }) :+ p

  test("publish records per-column NDV beside min/max in the manifest") {
    val meta = AtomicPublish.manifestMetaOf(spark, root,
      AtomicPublish.currentTxn(spark, root).get)("dim")
    val nDocs = Tables.documents(spark, dir).count()
    val perOwner = meta.owners.flatMap(meta.segStats.get)
    assert(perOwner.nonEmpty)
    val ndvSum = perOwner.map(_.cols("doc_id").ndv.get).sum
    // doc_id is unique and the owners split it disjointly: summed HLL
    // estimates land within the sketch's few-percent band of the count
    assert(math.abs(ndvSum - nDocs) <= nDocs / 10,
      s"ndv $ndvSum vs $nDocs docs")
    // lang is low-cardinality: NDV must reflect that, not row count
    val langNdv = perOwner.map(_.cols("lang").ndv.get).max
    assert(langNdv >= 1 && langNdv <= 20, s"lang ndv $langNdv")
  }

  test("NDV selectivity flips a size-ineligible join build side to broadcast") {
    def tableBytes(t: String): Long = {
      val meta = AtomicPublish.manifestMetaOf(spark, root,
        AtomicPublish.currentTxn(spark, root).get)(t)
      new GraftFileIndex(spark, root, t, meta, meta.owners).sizeInBytes
    }
    // BOTH sides are size-INELIGIBLE: only an estimator that sees the
    // dim filter's 1/ndv(grp) selectivity can elect a broadcast. The
    // filter column is NOT the join key, so constant propagation can't
    // shrink the fact side behind our back.
    val threshold = math.max(1024L,
      math.min(tableBytes("dim"), tableBytes("fact")) / 4)
    def q(): DataFrame = {
      val dim = AtomicPublish.readTable(spark, root, "dim")
        .filter(col("grp") === 3L)
      AtomicPublish.readTable(spark, root, "fact")
        .join(dim, col("fk") === col("doc_id"))
    }
    def withConfs(cbo: Boolean)(body: => Unit): Unit = {
      val saved = Seq("spark.sql.cbo.enabled", "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold", RuntimeJoinFilter.EnabledKey)
        .map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
          threshold.toString)
        // isolate the ESTIMATOR under test: the runtime join filter
        // would plant the dim keys as an InSet on the fact side, whose
        // own (histogram-sharpened) selectivity estimate can make the
        // FACT broadcastable too — this test is about what the NDV
        // stats elect, not what the planted filter does (that feature
        // has its own suite)
        spark.conf.set(RuntimeJoinFilter.EnabledKey, "false")
        body
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    withConfs(cbo = false) {
      // size heuristics alone: both sides' file bytes exceed the
      // threshold, and without column stats the filter shrinks nothing
      val p = plans(q().queryExecution.executedPlan)
      assert(p.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"expected SMJ without stats:\n${q().queryExecution.executedPlan}")
      assert(!p.exists(_.isInstanceOf[BroadcastHashJoinExec]))
    }
    withConfs(cbo = true) {
      // rows/ndv(grp) ≈ 1/16 of the dim: the NDV-backed estimate
      // elects the dim side for broadcast at PLANNING time (AQE off)
      val exec = q().queryExecution.executedPlan
      val p = plans(exec)
      assert(p.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"expected NDV-driven broadcast:\n$exec")
      val bhj = p.collectFirst { case b: BroadcastHashJoinExec => b }.get
      val broadcastHasDim = plans(bhj)
        .collect { case be: BroadcastExchangeExec => be }
        .exists(_.output.exists(_.name == "doc_id"))
      assert(broadcastHasDim, s"dim is not the build side:\n$exec")
    }
    // correctness unchanged by the estimator: same rows either way
    val n = q().count()
    val expected = Tables.events(spark, dir)
      .select(pmod(col("event_id"), lit(500L)).as("fk"))
      .join(Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(16L)) === 3L).select(col("doc_id")),
        col("fk") === col("doc_id")).count()
    assert(n == expected && n > 0)
  }

  test("publish records an equi-height histogram beside NDV for " +
      "numeric stat columns") {
    val meta = AtomicPublish.manifestMetaOf(spark, root,
      AtomicPublish.currentTxn(spark, root).get)("dim")
    val perOwner = meta.owners.flatMap(meta.segStats.get)
    assert(perOwner.nonEmpty)
    perOwner.foreach { s =>
      // numeric columns carry 32 equi-height bins; strings don't
      val h = s.cols("doc_id").hist
      assert(h.isDefined, "doc_id (long) should carry a histogram")
      assert(h.get.bins.size == AtomicPublish.HistogramBins)
      assert(h.get.height > 0)
      // boundaries are monotone and span the recorded min/max
      val bs = h.get.bins
      assert(bs.zip(bs.tail).forall { case (a, b) => a.hi <= b.lo + 1e-9 })
      assert(bs.head.lo == s.cols("doc_id").min.get.toDouble)
      assert(bs.last.hi == s.cols("doc_id").max.get.toDouble)
      assert(s.cols("lang").hist.isEmpty, "string column: no histogram")
    }
  }

  test("histogram selectivity flips a join on a RANGE filter NDV and " +
      "min/max uniformity cannot estimate") {
    import java.nio.file.{Files, Path => JPath}
    val tmp = Files.createTempDirectory("graft-histflip")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val r = tmp.resolve("store").toString
    // sk is SKEWED: ~99% of values land in [0,99), ~1% fly out past
    // 1e6. A `sk >= 500000` range filter truly selects ~1%; min/max
    // UNIFORMITY estimates ~50% (the span is huge), the equi-height
    // bins estimate <1 of 32 bins — only the histogram makes the dim
    // side broadcast-small.
    val docs = Tables.documents(spark, dir).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(100L)) < 99,
        pmod(col("doc_id"), lit(100L)))
        .otherwise(lit(1000000L) + col("doc_id")).as("sk"))
    val v1 = AtomicPublish.publish(spark, r,
      Map("dim" -> docs.filter(col("doc_id") % 2 === 0),
        "fact" -> Tables.events(spark, dir)
          .select(col("event_id"), pmod(col("event_id"), lit(500L)).as("fk"))),
      statsBy = Map("dim" -> Seq("doc_id", "sk"), "fact" -> Seq("fk")))
    AtomicPublish.publishDelta(spark, r,
      append = Map("dim" -> docs.filter(col("doc_id") % 2 === 1)),
      parent = Some(v1)).get
    // the CONTROL store: an exact copy with every histogram stripped
    // from the manifests — identical bytes, rows, NDV, min/max; the
    // ONLY difference the planner can see is the bins (this is also
    // the 4-entry manifest-compat pin: hist-absent arrays still parse)
    val rCtl = tmp.resolve("ctl").toString
    def copyDir(src: JPath, dst: JPath): Unit = {
      Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) { Files.createDirectories(t); () }
        else { Files.copy(p, t); () }
      }
    }
    copyDir(JPath.of(r), JPath.of(rCtl))
    ManifestRewrite(rCtl)(_.replaceAll(s"($histRe)\\]", "]"))
    val ctlMeta = AtomicPublish.manifestMetaOf(spark, rCtl,
      AtomicPublish.currentTxn(spark, rCtl).get)("dim")
    val ctlStats = ctlMeta.owners.flatMap(ctlMeta.segStats.get)
    assert(ctlStats.nonEmpty && ctlStats.forall(s =>
      s.cols("sk").hist.isEmpty && s.cols("sk").ndv.isDefined),
      "control store must keep NDV but lose the bins")

    def q(at: String): DataFrame = {
      val dim = AtomicPublish.readTable(spark, at, "dim")
        .filter(col("sk") >= 500000L)
      AtomicPublish.readTable(spark, at, "fact")
        .join(dim, col("fk") === col("doc_id"))
    }
    def withConfs(body: => Unit): Unit = {
      val saved = Seq("spark.sql.cbo.enabled", "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold", RuntimeJoinFilter.EnabledKey)
        .map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "2048")
        // isolate the estimator (see the NDV test's note): no planted
        // fact-side InSet may shade which side the bins elect
        spark.conf.set(RuntimeJoinFilter.EnabledKey, "false")
        body
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    withConfs {
      // control: same CBO, same NDV/min-max — uniformity keeps the
      // filtered dim estimate around half the table, no broadcast
      val ctl = plans(q(rCtl).queryExecution.executedPlan)
      assert(ctl.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"expected SMJ without bins:\n${q(rCtl).queryExecution.executedPlan}")
      assert(!ctl.exists(_.isInstanceOf[BroadcastHashJoinExec]))
      // with bins: the range covers <1 of 32 buckets — dim broadcasts
      val exec = q(r).queryExecution.executedPlan
      val p = plans(exec)
      assert(p.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"expected histogram-driven broadcast:\n$exec")
      val bhj = p.collectFirst { case b: BroadcastHashJoinExec => b }.get
      val broadcastHasDim = plans(bhj)
        .collect { case be: BroadcastExchangeExec => be }
        .exists(_.output.exists(_.name == "doc_id"))
      assert(broadcastHasDim, s"dim is not the build side:\n$exec")
    }
    // the estimator changed the PLAN, never the ANSWER
    assert(q(r).count() == q(rCtl).count())
  }

  test("histograms sharpen equi-JOIN cardinality: overlap-aware bins " +
      "shrink the estimate NDV containment inflates, and the sharper " +
      "intermediate flips the NEXT join to broadcast") {
    import java.nio.file.{Files, Path => JPath}
    val tmp = Files.createTempDirectory("graft-histjoin")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val r = tmp.resolve("store").toString
    // fact.fk: ~99% of rows in [0,99], ~1% in a sparse tail past 1e6.
    // dim.dk lives ONLY inside the tail's domain. The two ranges
    // INTERSECT, so NDV containment estimates rows_f·rows_d/max(ndv)
    // as if every fact row could match; the equi-height bins see that
    // almost no fact mass lies inside dim's range — Catalyst's
    // histogram join estimation (both keys carry bins) multiplies
    // OVERLAPPING bins only.
    val fact = Tables.events(spark, dir).select(col("event_id"),
      when(pmod(col("event_id"), lit(100L)) < 99,
        pmod(col("event_id"), lit(100L)))
        .otherwise(lit(1000000L) + pmod(col("event_id"), lit(1000L)))
        .as("fk"))
    val dim = Tables.documents(spark, dir)
      .select((lit(1000000L) + col("doc_id")).as("dk"))
    // the third table: joined AFTER fact⋈dim, sized so only the
    // histogram-sharpened intermediate estimate makes the intermediate
    // the broadcast build side
    val big = spark.range(0, 20000L)
      .select((lit(1000000L) + pmod(col("id"), lit(600L))).as("bk"),
        col("id").as("payload"))
    val v1 = AtomicPublish.publish(spark, r,
      Map("fact" -> fact, "dim" -> dim, "big" -> big),
      statsBy = Map("fact" -> Seq("fk"), "dim" -> Seq("dk"),
        "big" -> Seq("bk")))
    assert(v1.nonEmpty)
    // control: identical store, histograms surgically stripped — the
    // only planner-visible difference is the bins
    val rCtl = tmp.resolve("ctl").toString
    def copyDir(src: JPath, dst: JPath): Unit = {
      Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) { Files.createDirectories(t); () }
        else { Files.copy(p, t); () }
      }
    }
    copyDir(JPath.of(r), JPath.of(rCtl))
    ManifestRewrite(rCtl)(_.replaceAll(s"($histRe)\\]", "]"))

    def join1(at: String): DataFrame =
      AtomicPublish.readTable(spark, at, "fact")
        .join(AtomicPublish.readTable(spark, at, "dim"),
          col("fk") === col("dk"))
    def join2(at: String): DataFrame =
      join1(at).join(AtomicPublish.readTable(spark, at, "big"),
        col("dk") === col("bk"))
    def withConfs(extra: (String, String)*)(body: => Unit): Unit = {
      val keys = Seq("spark.sql.cbo.enabled", "spark.sql.adaptive.enabled",
        RuntimeJoinFilter.EnabledKey) ++ extra.map(_._1)
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set(RuntimeJoinFilter.EnabledKey, "false")
        extra.foreach { case (k, v) => spark.conf.set(k, v) }
        body
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    var histRows = BigInt(0); var ctlRows = BigInt(0)
    var histSize = BigInt(0); var ctlSize = BigInt(0)
    withConfs() {
      val h = join1(r).queryExecution.optimizedPlan.stats
      val c = join1(rCtl).queryExecution.optimizedPlan.stats
      histRows = h.rowCount.getOrElse(BigInt(-1))
      ctlRows = c.rowCount.getOrElse(BigInt(-1))
      histSize = h.sizeInBytes; ctlSize = c.sizeInBytes
    }
    val truth = join1(r).count()
    assert(truth > 0 && join1(rCtl).count() == truth)
    // the bins cut the intermediate estimate by at least 4× and land
    // it on the truthful side of the containment estimate
    assert(histRows > 0 && ctlRows > 0,
      s"estimates missing: hist=$histRows ctl=$ctlRows")
    assert(histRows * 4 <= ctlRows,
      s"bins did not sharpen the join estimate: hist=$histRows " +
        s"ctl=$ctlRows truth=$truth")
    assert((histRows - truth).abs < (ctlRows - truth).abs)
    // the DECISION pin, self-calibrated: a broadcast threshold at the
    // geometric mean of the two intermediate size estimates must make
    // join2 broadcast its fact⋈dim intermediate on the hist store and
    // shuffle it on the control
    val threshold = BigDecimal(
      math.sqrt((histSize * ctlSize).toDouble)).toBigInt
    withConfs("spark.sql.autoBroadcastJoinThreshold" ->
        threshold.toString) {
      // `big` must not be broadcastable itself, or the pin is vacuous
      val bigSize = AtomicPublish.readTable(spark, r, "big")
        .queryExecution.optimizedPlan.stats.sizeInBytes
      assert(bigSize > threshold,
        s"staging broke: big ($bigSize B) under threshold $threshold")
      // the INTERMEDIATE carries both fk and dk — a broadcast of the
      // bare fact or dim leaf never has both, so this discriminates
      def intermediateBroadcast(p: SparkPlan): Boolean = plans(p)
        .collect { case be: BroadcastExchangeExec => be }
        .exists(be => be.output.exists(_.name == "fk") &&
          be.output.exists(_.name == "dk"))
      val hExec = join2(r).queryExecution.executedPlan
      assert(intermediateBroadcast(hExec),
        s"hist store: intermediate not broadcast for join2:\n$hExec")
      val cExec = join2(rCtl).queryExecution.executedPlan
      assert(plans(cExec).exists(_.isInstanceOf[SortMergeJoinExec]) &&
        !intermediateBroadcast(cExec),
        s"control store: intermediate broadcast anyway:\n$cExec")
    }
    // the estimator changed plans, never answers
    assert(join2(r).count() == join2(rCtl).count())
  }

  test("physical compaction RECOMPUTES column stats: after a 90% " +
      "delete the post-compaction estimate tracks the survivors " +
      "(VERDICT r12 #4)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compstats")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val r = tmp.resolve("store").toString
    // 10,000 rows, v uniform over [0,10000) — the delete kills v>=1000,
    // so survivor stats differ from publish-time stats in EVERY input
    // the estimator consumes: rows (10x), ndv (10x), max (10x), and
    // the histogram's upper bins (emptied)
    val t = spark.range(0, 10000L)
      .select(col("id").as("k"), col("id").as("v"))
      .repartition(4)
    AtomicPublish.publish(spark, r, Map("t" -> t),
      statsBy = Map("t" -> Seq("k", "v")))
    AtomicPublish.deleteRows(spark, r, Map("t" ->
      spark.range(1000L, 10000L).select(col("id").as("k"))))
    def tMeta() = AtomicPublish.manifestMetaOf(spark, r,
      AtomicPublish.currentTxn(spark, r).get)("t")
    def statsOf(m: graft.ops.AtomicPublish.TableMeta) = {
      val per = m.owners.flatMap(m.segStats.get)
      val v = per.map(_.cols("v"))
      (per.map(_.rows).sum, v.flatMap(_.ndv).sum,
        v.flatMap(_.max).map(_.toDouble).max,
        AtomicPublish.mergeHists(v.flatMap(_.hist)))
    }
    // PRE-compaction contrast: merge-on-read tombstones are stats-blind
    // by design (rows documented as over-estimates) — the planner still
    // sees the pre-delete world
    val (preRows, preNdv, preMax, preHist) = statsOf(tMeta())
    assert(preRows == 10000L && preMax == 9999.0,
      s"pre-compaction stats should be tombstone-blind: $preRows/$preMax")
    assert(preHist.exists(_.bins.last.hi > 8000.0))
    // the physical apply rewrites the survivors — stats must follow
    Compaction.compactStore(spark, r, "t")
    val (postRows, postNdv, postMax, postHist) = statsOf(tMeta())
    assert(postRows == 1000L, s"post-compaction rows: $postRows")
    assert(postMax <= 999.0, s"post-compaction max(v): $postMax")
    assert(postNdv <= 1100L && postNdv >= 900L,
      s"post-compaction ndv(v): $postNdv (true 1000)")
    val hist = postHist.getOrElse(fail("post-compaction histogram missing"))
    assert(hist.bins.forall(_.hi <= 999.0 + 1e-6),
      s"histogram still spans the deleted range: ${hist.bins.last}")
    // and the planner-facing consequence: a range filter over the
    // DELETED band estimates ~nothing after compaction, while the
    // pre-delete histogram had estimated ~40% of the table for it
    assert(AtomicPublish.readTable(spark, r, "t")
      .filter(col("v") >= 5000L && col("v") <= 9000L).count() == 0)
  }

  test("ANALYZE restates stats over LIVE rows with no rewrite: after a " +
      "90% delete the planner inputs track survivors, files and " +
      "tombstones stay in place, reads unchanged") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-analyze")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val r = tmp.resolve("store").toString
    val t = spark.range(0, 10000L)
      .select(col("id").as("k"), col("id").as("v"))
      .repartitionByRange(4, col("k"))
    val v0 = AtomicPublish.publish(spark, r, Map("t" -> t),
      statsBy = Map("t" -> Seq("k", "v")))
    AtomicPublish.deleteRows(spark, r, Map("t" ->
      spark.range(1000L, 10000L).select(col("id").as("k"))))
    def tMeta() = AtomicPublish.manifestMetaOf(spark, r,
      AtomicPublish.currentTxn(spark, r).get)("t")
    def summary(m: graft.ops.AtomicPublish.TableMeta) = {
      val per = m.owners.flatMap(m.segStats.get)
      val v = per.map(_.cols("v"))
      (per.map(_.rows).sum, v.flatMap(_.max).map(_.toDouble).max,
        AtomicPublish.mergeHists(v.flatMap(_.hist)))
    }
    assert(summary(tMeta())._1 == 10000L) // tombstone-blind before
    val preOwners = tMeta().owners
    val vA = AtomicPublish.analyzeTable(spark, r, "t")
      .getOrElse(fail("analyze lost an uncontended CAS"))
    val m2 = tMeta()
    val (rows, vmax, hist) = summary(m2)
    assert(rows == 1000L, s"restated rows: $rows")
    assert(vmax <= 999.0, s"restated max(v): $vmax")
    assert(hist.exists(_.bins.forall(_.hi <= 999.0 + 1e-6)),
      s"restated histogram still spans the deleted range: $hist")
    // METADATA-ONLY: same owners (no rewrite), tombstones still live
    assert(m2.owners == preOwners, "analyze rewrote data owners")
    assert(AtomicPublish.manifestMetaOf(spark, r, vA)
      .get(AtomicPublish.deleteTableOf("t")).exists(_.owners.nonEmpty),
      "analyze consumed the tombstones — that is compaction's job")
    // reads unchanged: survivors only, deleted band empty; and the
    // restated zone map now lets the deleted-band predicate read
    // ZERO files (the r12 posture read everything until compaction)
    assert(AtomicPublish.readTable(spark, r, "t").count() == 1000L)
    val dead = AtomicPublish.readTable(spark, r, "t")
      .filter(col("v") >= 5000L)
    assert(dead.collect().isEmpty)
    // fact-table scans only (the read also scans the tombstone
    // companion for its anti-join — that one legitimately reads)
    val deadScan = plans(dead.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.requiredSchema.fieldNames.contains("v") => s }
    assert(deadScan.nonEmpty &&
      deadScan.map(_.metrics("numFiles").value).sum == 0L,
      "restated zone maps did not skip the dead band's files")
    // time travel BEFORE the analyze still sees pre-delete stats
    // (versions are immutable — restatement is a new commit)
    val mOld = AtomicPublish.manifestMetaOf(spark, r, v0)("t")
    assert(summary(mOld)._1 == 10000L)
    // idempotent: a second analyze restates to the same numbers
    AtomicPublish.analyzeTable(spark, r, "t")
    assert(summary(tMeta())._1 == 1000L)
  }

  test("ANALYZE reconciles its owner rollup (ADVICE r14 #2): rows " +
      "grouped under an unrecognized owner — the '' group regexp " +
      "no-match produces — abort the restatement; so does a lost-row " +
      "total; clean rollups pass") {
    // clean: every group known, totals reconcile
    AtomicPublish.reconcileOwnerRollup(Seq("a", "b"),
      Seq("a" -> 10L, "b" -> 5L), 15L)
    // an owner with zero live rows is simply absent — still clean
    AtomicPublish.reconcileOwnerRollup(Seq("a", "b"), Seq("a" -> 10L), 10L)
    // the regexp_extract no-match group: "" with live rows → abort
    val e1 = intercept[IllegalArgumentException] {
      AtomicPublish.reconcileOwnerRollup(Seq("a", "b"),
        Seq("a" -> 10L, "" -> 3L), 13L)
    }
    assert(e1.getMessage.contains("unrecognized owner"), e1.getMessage)
    // a parse that mis-attributed rows to a NAMED but unknown owner
    val e2 = intercept[IllegalArgumentException] {
      AtomicPublish.reconcileOwnerRollup(Seq("a"),
        Seq("a" -> 10L, "ghost" -> 1L), 11L)
    }
    assert(e2.getMessage.contains("unrecognized owner"), e2.getMessage)
    // totals that do not reconcile to the rollup's grand total → abort
    val e3 = intercept[IllegalArgumentException] {
      AtomicPublish.reconcileOwnerRollup(Seq("a", "b"),
        Seq("a" -> 10L, "b" -> 5L), 16L)
    }
    assert(e3.getMessage.contains("reconcile"), e3.getMessage)
  }

  test("ANALYZE is ONE Spark action however deep the owner chain " +
      "(VERDICT r13 #3): a 6-owner tombstoned table restates in a " +
      "constant handful of jobs, per-owner stats exact") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-analyze1j")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val r = tmp.resolve("store").toString
    def slice(a: Long, b: Long) = spark.range(a, b)
      .select(col("id").as("k"), col("id").as("v")).coalesce(1)
    val v0 = AtomicPublish.publish(spark, r, Map("t" -> slice(0, 1000)),
      statsBy = Map("t" -> Seq("k", "v")))
    (1 until 6).foldLeft(v0) { (p, i) =>
      AtomicPublish.publishDelta(spark, r,
        append = Map("t" -> slice(i * 1000L, (i + 1) * 1000L)),
        parent = Some(p)).get
    }
    AtomicPublish.deleteRows(spark, r, Map("t" ->
      spark.range(500L, 5500L).select(col("id").as("k"))))
    // count jobs across the analyze — the r13 shape paid >= 2 PER
    // owner (12+ here, ~2000 at the rehearsal's 1000-commit history);
    // the rollup shape pays a constant few (the grouped scan is
    // persisted: one action materializes it, the second reads cache)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      AtomicPublish.analyzeTable(spark, r, "t")
        .getOrElse(fail("analyze lost an uncontended CAS"))
      // job-start events deliver asynchronously; every job was
      // SUBMITTED before analyzeTable returned (its actions block), so
      // waiting for the counter to go quiet is exact
      val deadline = System.nanoTime() + 5000000000L
      var last = -1
      while (last != jobs.get() && System.nanoTime() < deadline) {
        last = jobs.get(); Thread.sleep(300)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() <= 6,
      s"analyze of a 6-owner chain ran ${jobs.get()} jobs — the " +
        "one-rollup shape must not scale jobs with owners")
    // per-owner exactness: owner i held [i*1000, (i+1)*1000); the
    // delete killed [500, 5500) — so owner 0 keeps 500 live rows,
    // owners 1..4 keep zero, owner 5 keeps 500
    val m = AtomicPublish.manifestMetaOf(spark, r,
      AtomicPublish.currentTxn(spark, r).get)("t")
    val perOwner = m.owners.map(o => m.segStats(o).rows)
    assert(perOwner == Seq(500L, 0L, 0L, 0L, 0L, 500L),
      s"per-owner restated rows: $perOwner")
    // a zero-live owner's files drop from the restated file map, and
    // the dead band reads zero files end to end
    assert(m.owners.slice(1, 5).forall(o =>
      m.fileStats.get(o).forall(_.isEmpty)))
    val dead = AtomicPublish.readTable(spark, r, "t")
      .filter(col("v") >= 1000L && col("v") < 5000L)
    assert(dead.collect().isEmpty)
  }

  test("ANALYZE ... FOR COLUMNS bootstraps a stats-blind table " +
      "(VERDICT r13 #4): declared at analyze time, NDV+histogram land " +
      "in one metadata commit and the broadcast flip fires on them") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-forcols")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val r = tmp.resolve("store").toString
    // published with NO statsBy — the r13 analyze refused this table
    val dim = Tables.documents(spark, dir)
      .select(col("doc_id"), pmod(col("doc_id"), lit(16L)).as("grp"),
        col("text"))
    val fact = Tables.events(spark, dir)
      .select(pmod(col("event_id"), lit(500L)).as("fk"),
        col("event_id"))
    AtomicPublish.publish(spark, r, Map("dim" -> dim, "fact" -> fact))
    val m0 = AtomicPublish.manifestMetaOf(spark, r,
      AtomicPublish.currentTxn(spark, r).get)("dim")
    assert(m0.statCols.isEmpty && m0.segStats.isEmpty)
    // unknown column and unmappable type still refuse, by name
    intercept[IllegalArgumentException] {
      AtomicPublish.analyzeTable(spark, r, "dim",
        forColumns = Seq("nope"))
    }
    // FOR COLUMNS through the SQL procedure face
    val cat = s"graft_forcols_${java.lang.Integer.toHexString(r.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", r)
    spark.sql(s"CALL $cat.system.analyze(table => 'dim', " +
      "for_columns => 'doc_id,grp')").collect()
    val m1 = AtomicPublish.manifestMetaOf(spark, r,
      AtomicPublish.currentTxn(spark, r).get)("dim")
    assert(m1.statCols == Seq("doc_id", "grp"))
    assert(m1.owners == m0.owners, "FOR COLUMNS rewrote data")
    val cs = m1.owners.flatMap(m1.segStats.get).map(_.cols("grp"))
    assert(cs.nonEmpty && cs.forall(c => c.ndv.exists(_ > 0) &&
      c.hist.isDefined && c.min.isDefined))
    // the broadcast-flip pin of the NDV test, on the BOOTSTRAPPED
    // stats: size-ineligible threshold, CBO sees 1/ndv(grp) — dim
    // broadcasts; stats-blind (cbo off) it stays SMJ
    def tableBytes(t: String): Long = {
      val meta = AtomicPublish.manifestMetaOf(spark, r,
        AtomicPublish.currentTxn(spark, r).get)(t)
      new GraftFileIndex(spark, r, t, meta, meta.owners).sizeInBytes
    }
    val threshold = math.max(1024L,
      math.min(tableBytes("dim"), tableBytes("fact")) / 4)
    def q(): DataFrame = {
      val d = AtomicPublish.readTable(spark, r, "dim")
        .filter(col("grp") === 3L)
      AtomicPublish.readTable(spark, r, "fact")
        .join(d, col("fk") === col("doc_id"))
    }
    def withConfs(cbo: Boolean)(body: => Unit): Unit = {
      val saved = Seq("spark.sql.cbo.enabled", "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold", RuntimeJoinFilter.EnabledKey)
        .map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
          threshold.toString)
        spark.conf.set(RuntimeJoinFilter.EnabledKey, "false")
        body
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    withConfs(cbo = false) {
      val p = plans(q().queryExecution.executedPlan)
      assert(p.exists(_.isInstanceOf[SortMergeJoinExec]) &&
        !p.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "expected SMJ without CBO")
    }
    withConfs(cbo = true) {
      val p = plans(q().queryExecution.executedPlan)
      assert(p.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "bootstrapped NDV stats did not elect the broadcast")
    }
  }

  test("CBO join REORDER end-to-end through the store: a 3-table star " +
      "in deliberately bad written order reorders under full stats, " +
      "keeps written order stripped, answers identical (VERDICT r12 #5)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin,
      LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val tmp = java.nio.file.Files.createTempDirectory("graft-reorder")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val cust = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val ords = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val line = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    val keys = Map("customer" -> Seq("c_custkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey"))
    val rStats = tmp.resolve("stats").toString
    AtomicPublish.publish(spark, rStats,
      Map("customer" -> cust, "orders" -> ords, "lineitem" -> line),
      statsBy = keys)
    // control: the SAME data, no stat columns — no rowCount reaches the
    // planner, so CostBasedJoinReorder must leave the written order
    val rCtl = tmp.resolve("ctl").toString
    AtomicPublish.publish(spark, rCtl,
      Map("customer" -> cust, "orders" -> ords, "lineitem" -> line))
    // the q5-volume shape, WRITTEN worst-first: lineitem (the fact)
    // joins orders before the selective customer dimension ever cuts
    // anything — the heuristic optimizer keeps that associativity; only
    // cost-based reordering with rowCounts can see that (orders ⋈
    // filtered customer) is the small intermediate
    def q(prefix: String): DataFrame = spark.sql(
      s"""SELECT sum(l.l_extendedprice) AS rev
         |FROM ${prefix}lineitem l
         |JOIN ${prefix}orders o ON l.l_orderkey = o.o_orderkey
         |JOIN ${prefix}customer c ON o.o_custkey = c.c_custkey
         |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin)
    def tablesUnder(p: LogicalPlan): Set[String] = p.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location match {
          case g: GraftFileIndex =>
            g.inputFiles.headOption.map { f =>
              Seq("customer", "orders", "lineitem")
                .find(t => f.contains(s"/$t/")).getOrElse("?")
            }.getOrElse("?")
          case _ => "?"
        }
    }.toSet
    def innermostJoin(p: LogicalPlan): Set[String] = {
      val joins = p.collect { case j: LJoin => j }
      val inner = joins.filter(j =>
        !j.left.exists(_.isInstanceOf[LJoin]) &&
          !j.right.exists(_.isInstanceOf[LJoin]))
      assert(inner.size == 1, s"expected one innermost join:\n$p")
      tablesUnder(inner.head)
    }
    def withCbo(body: => Unit): Unit = {
      val confs = Seq("spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true",
        "spark.sql.statistics.histogram.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally confs.foreach { case (k, _) =>
        spark.conf.unset(k) }
    }
    AtomicPublish.registerViews(spark, rStats, "rs_")
    AtomicPublish.registerViews(spark, rCtl, "rc_")
    withCbo {
      val reordered = innermostJoin(q("rs_").queryExecution.optimizedPlan)
      assert(reordered == Set("orders", "customer"),
        s"full stats did not reorder the star: innermost = $reordered")
      val ctl = innermostJoin(q("rc_").queryExecution.optimizedPlan)
      assert(ctl == Set("lineitem", "orders"),
        s"stripped control reordered anyway: innermost = $ctl")
      // the reorder changed the plan, never the answer (double sums
      // accumulate in plan order — compare at cent precision)
      val (a, b) = (q("rs_").collect()(0).getDouble(0),
        q("rc_").collect()(0).getDouble(0))
      assert(math.abs(a - b) < 0.01, s"$a vs $b")
    }
  }

  test("pre-NDV manifests (3-entry stat arrays) still parse and read") {
    // surgically rewrite every manifest stat array [min,max,nulls,ndv]
    // back to the r10 form [min,max,nulls] — the parser must keep
    // accepting the old grammar, with ndv simply absent
    val before = AtomicPublish.readTable(spark, root, "dim").count()
    // the r12 tail first (histograms ride behind NDV positionally),
    // then the r11 tail — landing on the r10 3-entry grammar
    val pat = """(\[(?:"(?:[^"\\]|\\.)*"|null),(?:"(?:[^"\\]|\\.)*"|null),\d+),\d+\]""".r
    ManifestRewrite(root) { txt =>
      val noHist = txt.replaceAll(s"($histRe)\\]", "]")
      pat.replaceAllIn(noHist, m => java.util.regex.Matcher
        .quoteReplacement(m.group(1) + "]"))
    }
    val meta = AtomicPublish.manifestMetaOf(spark, root,
      AtomicPublish.currentTxn(spark, root).get)("dim")
    val perOwner = meta.owners.flatMap(meta.segStats.get)
    assert(perOwner.nonEmpty && perOwner.forall(_.cols("doc_id").ndv.isEmpty))
    assert(AtomicPublish.readTable(spark, root, "dim").count() == before)
  }
}
