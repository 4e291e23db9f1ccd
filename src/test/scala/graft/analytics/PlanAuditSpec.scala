package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.SparkSuite

/** Physical-plan hygiene, pinned as regression tests: the properties that
  * decide whether these plans survive a 100× scale-up — filters reaching
  * the parquet scan, projections pruning the read schema, dimension
  * joins broadcasting instead of shuffling the fact side, aggregates
  * doing map-side partial reduction. */
class PlanAuditSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def planString(df: DataFrame): String = {
    df.collect() // finalize AQE so the real physical plan is inspectable
    executed(df).toString
  }

  test("s1: predicate AND projection reach the parquet scan") {
    val p = planString(RelationalQueries.s1ScanProject(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"), p)
    val read = p.split("ReadSchema:")(1).takeWhile(_ != '\n')
    assert(read.contains("l_orderkey") && !read.contains("l_extendedprice"), read)
  }

  test("q6: all predicates pushed, partial aggregation before the shuffle") {
    val p = planString(AdvancedQueries.q6FilterSum(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains("partial_sum") || p.contains("HashAggregate(keys=[], functions=[partial_"), p)
  }

  test("j2: both dimension joins broadcast; fact side never shuffles for the join") {
    val p = planString(RelationalQueries.j2BroadcastJoin(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("j1/j3: semi and anti joins planned as such (no row-multiplying inner)") {
    val semi = planString(RelationalQueries.j1SemiJoin(spark, dir))
    assert(semi.contains("LeftSemi"), semi)
    val anti = planString(RelationalQueries.j3AntiJoin(spark, dir))
    assert(anti.contains("LeftAnti"), anti)
  }

  test("n3: query side broadcasts; corpus streams without a pre-join shuffle") {
    val p = planString(SimilarityOps.n3CosineTopk(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("e6: salted skew join — join key includes the salt, hot key spread") {
    // force the shuffle-join regime the salt exists for (at scale the
    // replicated dim exceeds any broadcast threshold)
    val abt = "spark.sql.autoBroadcastJoinThreshold"
    val aabt = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(abt)
    val prevA = spark.conf.getOption(aabt)
    spark.conf.set(abt, "-1")
    spark.conf.set(aabt, "-1")
    try {
      val df = EventQueries.e6SkewJoin(spark, dir)
      val p = planString(df)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(p.contains("__salt"), p) // (event_type, __salt) is the join key
      assert(!p.contains("BroadcastHashJoin"), p)
    } finally {
      prev.fold(spark.conf.unset(abt))(v => spark.conf.set(abt, v))
      prevA.fold(spark.conf.unset(aabt))(v => spark.conf.set(aabt, v))
    }
  }

  test("n3c: cell-partitioned corpus prunes the scan to probed cells") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-part")
      .resolve("corpus").toString
    val assigned = SimilarityOps.ivfAssignments(spark, dir)
      .select(col("vec_id"), col("cell"))
    assigned.write.partitionBy("cell").parquet(tmp)
    val probes = Seq(1, 2, 3, 4) // IvfProbes cells of IvfCells
    val pruned = spark.read.parquet(tmp).filter(col("cell").isin(probes: _*))
    val p = planString(pruned)
    assert(p.contains("PartitionFilters") && p.contains("cell"), p)
    assert(!p.contains("PushedFilters: [IsNotNull(cell)"), p) // partition, not data, filter
    assert(pruned.count() ==
      assigned.filter(col("cell").isin(probes: _*)).count())
  }

  test("e7: as-of join plans with NO join operator (merge formulation)") {
    val p = planString(EventQueries.e7AsofJoin(spark, dir))
    assert(!p.contains("Join"), p) // union + window, never a join
    assert(p.contains("Window"), p)
  }

  test("e8: band join is an equi-join on (user, bin) — never a cross product") {
    val p = planString(EventQueries.e8BandJoin(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("bin"), p) // bin is a join key
  }

  test("j6: six-way join broadcasts the dimension chain, no cross product") {
    val p = planString(AdvancedQueries.j6Q5Volume(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q17: correlated scalar subquery decorrelates to aggregate + join") {
    val p = planString(AdvancedQueries.q17Subquery(spark, dir))
    // no per-outer-row subquery execution survives optimization
    assert(!p.contains("ScalarSubquery"), p)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("Join"), p)
  }

  test("clustered write layout: repartitionByRange plans a range exchange") {
    import org.apache.spark.sql.functions.col
    val df = graft.core.Tables.orders(spark, dir)
      .repartitionByRange(4, col("o_orderdate"))
      .sortWithinPartitions(col("o_orderdate"))
    val p = planString(df)
    // the write-path layout control for time-clustered tables: range
    // exchange + in-partition sort = min/max-prunable parquet files
    assert(p.toLowerCase.contains("rangepartitioning"), p)
    assert(p.contains("Sort"), p)
  }

  test("q1: group aggregate does map-side partial reduction") {
    val p = planString(RelationalQueries.q1Agg(spark, dir))
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("q4/q21: EXISTS decorrelates to semi join, NOT EXISTS to anti join") {
    val q4 = planString(AdvancedQueries.q4Exists(spark, dir))
    assert(q4.contains("LeftSemi"), q4)
    assert(!q4.toLowerCase.contains("subquery"), q4)
    val q21 = planString(AdvancedQueries.q21NotExists(spark, dir))
    assert(q21.contains("LeftSemi") && q21.contains("LeftAnti"), q21)
    assert(!q21.toLowerCase.contains("subquery"), q21)
  }

  test("q2/q20: correlated-min equality and nested IN + correlated " +
      "threshold both fully decorrelate") {
    val q2 = planString(AdvancedQueries.q2MinCost(spark, dir))
    assert(!q2.contains("ScalarSubquery"), q2)
    assert(q2.contains("HashAggregate") || q2.contains("SortAggregate"), q2)
    assert(q2.contains("Join"), q2)
    val q20 = planString(AdvancedQueries.q20NestedIn(spark, dir))
    assert(!q20.toLowerCase.contains("scalarsubquery"), q20)
    assert(q20.contains("LeftSemi"), q20)
  }

  test("AQE re-plans a shuffle join to broadcast from RUNTIME stats") {
    // static planner is denied broadcast (threshold -1), so the initial
    // plan is a shuffle join; the ADAPTIVE threshold stays default, so
    // after the dimension's shuffle stage materializes (tiny), AQE
    // converts to BroadcastHashJoin. This is the 100 TB safety net for
    // mis-estimated dimension sizes — stats lie, runtime bytes don't.
    val abt = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(abt)
    spark.conf.set(abt, "-1")
    try {
      val df = RelationalQueries.j2BroadcastJoin(spark, dir)
      val p = planString(df)
      assert(p.contains("BroadcastHashJoin"), p)
      assert(df.queryExecution.executedPlan
        .isInstanceOf[AdaptiveSparkPlanExec], "AQE not engaged")
    } finally prev.fold(spark.conf.unset(abt))(v => spark.conf.set(abt, v))
  }

  test("runtime bloom filter: a selective dim filter injects a fact-side prefilter") {
    // the second runtime safety net beside AQE: when a shuffle join's
    // build side carries a selective filter, Spark's InjectRuntimeFilter
    // plants a bloom_filter_might_contain on the PROBE side's scan, so
    // at 100 TB the fact table drops non-joining rows before the
    // exchange instead of shuffling them. Thresholds are production
    // defaults scaled to the test corpus (the app-side scan threshold
    // defaults to 10GB — far above any test fixture).
    val overrides = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // shuffle-join regime
    val saved = overrides.keys.map(k => k -> spark.conf.getOption(k)).toMap
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val lineitem = graft.core.Tables.lineitem(spark, dir)
      val orders = graft.core.Tables.orders(spark, dir)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val joined = lineitem.join(orders,
        lineitem("l_orderkey") === orders("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"), p)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("a14: moment aggregates partial-reduce map-side like sum/count") {
    val p = planString(AdvancedQueries.a14StatsAgg(spark, dir))
    // pin the MOMENT aggregates specifically — a generic partial_ match
    // would be satisfied by any count/sum in the plan and miss a
    // regression of corr/covar/regr_* to a non-partial implementation
    Seq("partial_corr", "partial_covar_samp", "partial_stddev_samp",
      "partial_regr_slope").foreach(tok => assert(p.contains(tok), s"$tok\n$p"))
    assert(!p.contains("Expand"), p)
  }

  test("map-only text queries stay inside whole-stage codegen") {
    // codegen spans render as `*(n)` prefixes in the executed plan; a
    // map-only scan+project query should put its expressions inside one
    // (HOF lambdas and CodegenFallback expressions would break it)
    val t1 = planString(TextOps.t1LangId(spark, dir))
    assert("\\*\\(\\d+\\)".r.findFirstIn(t1).isDefined, t1)
    val t4 = planString(TextOps.t4Fingerprint(spark, dir))
    assert("\\*\\(\\d+\\)".r.findFirstIn(t4).isDefined, t4)
  }

  test("store18: hidden-partition DPP filter reaches the store fact scan") {
    // the gate query's fact side is a days(ts)-partitioned store scan
    // joined on the RAW timestamp — only graft.ops.HiddenPartitionPruning
    // can prune it (Spark's rule sees no partition-column reference);
    // pin that the planned filter is really there (value-exactness is
    // the store18 oracle's job, dirs-pruned counts are StoreDppSpec's)
    val df = AdvancedQueries.store18DppJoin(spark, dir)
    val p = planString(df)
    assert(p.toLowerCase.contains("dynamicpruning"), p)
  }

  test("store1: the range read's one documents scan reads 6 of the " +
      "staged 6 files") {
    // the gate query's oracle sees only rows; this pins how many of the
    // staged documents table's files its one data scan reads. At this
    // scale `doc_id BETWEEN 12 AND 340` overlaps both range-files of
    // each of the three segments, so file skipping keeps all six
    val scans = graft.ops.ScanFiles.scans(
      AdvancedQueries.store1PrunedScan(spark, dir), Some("documents"))
    assert(scans.size == 1)
    val read = scans.head.metrics("numFiles").value
    val total = scans.head.relation.location.inputFiles.length
    assert((read, total) == ((6L, 6)), s"read $read of $total")
  }

  test("store19: metadata aggregates plan with NO file scan at all") {
    // the whole point of graft.ops.MetadataAggregates: the gate query
    // collapses to a LocalRelation of manifest totals — a FileSourceScan
    // (or any Scan) anywhere in the plan means the rewrite regressed
    val df = AdvancedQueries.store19MetadataAgg(spark, dir)
    val p = planString(df)
    assert(!p.contains("FileScan") && !p.contains("BatchScan") &&
      !p.contains("parquet"), p)
    assert(p.contains("LocalTableScan"), p)
  }

  test("sp9/t13: the model/score tables broadcast — the corpus word " +
      "stream never shuffles for a join") {
    // sp9's 256-row score table and t13's 1024-row weight table are
    // the operators' whole model state; if either ever plans as a
    // shuffle join the corpus-side explode stream gets repartitioned
    // by bucket — the 100 TB failure mode these ops are shaped to avoid
    val sp9 = planString(TextOps.sp9DsirSelect(spark, dir))
    assert(sp9.contains("BroadcastHashJoin"), sp9)
    assert(!sp9.contains("SortMergeJoin") &&
      !sp9.contains("ShuffledHashJoin"), sp9)
    // and the per-doc weight sum partial-reduces map-side
    assert(sp9.contains("partial_sum") || sp9.contains("partial_count"), sp9)
    val t13 = planString(TextOps.t13ClassifierScore(spark, dir))
    assert(t13.contains("BroadcastHashJoin"), t13)
    assert(!t13.contains("SortMergeJoin") &&
      !t13.contains("ShuffledHashJoin"), t13)
    assert(t13.contains("partial_sum"), t13)
  }

  test("p1b: approx profiler plans WITHOUT Expand; exact profiler needs it") {
    // N exact countDistincts in one pass force an Expand (each input row
    // replicated N+1 times, all distinct values shuffled) — the reason
    // approx is the at-scale default
    val exact = planString(InsightQueries.p1Profile(spark, dir))
    assert(exact.contains("Expand"), exact)
    val approx = planString(InsightQueries.p1bProfileApprox(spark, dir))
    assert(!approx.contains("Expand"), approx)
    assert(approx.contains("partial_approx_count_distinct"), approx)
  }

  test("n2c: the published prefix stream reduces under a BROADCAST " +
      "semi join before any shuffle (candidate state stays O(new))") {
    // the r14 incremental near-dup contract: the arbitrarily large
    // published signature side may only shuffle postings that SURVIVE
    // the new batch's broadcast prefix-hash semi join — a plan that
    // shuffled the full published prefix stream would re-couple
    // maintenance cost to corpus size
    val p = planString(DedupOps.n2cNeardupIncremental(spark, dir))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastExchange"), p)
  }
}
