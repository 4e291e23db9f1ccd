package graft.analytics

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Embedding similarity search (SURVEY.md §2.11 N3) over `embeddings`
  * (`vec_id, embedding array<float> dim-64, label`).
  *
  * Two tiers:
  *   1. n3_cosine_topk — brute-force cosine top-k, the oracle-checked
  *      baseline. Query set is the fixed slice `vec_id < 32`; norms are
  *      precomputed per side so the join computes one dot product per
  *      pair, and the query side is broadcast — the fact side streams
  *      through executors with no shuffle, so cost is linear in corpus
  *      size per query.
  *   2. n3b_srp_ann — the scale path: signed-random-projection (SRP)
  *      LSH. Each vector gets T×B sign bits from fixed Gaussian
  *      hyperplanes (seeded, so identical on every executor/cluster);
  *      B bits pack into a bucket id per table; candidate pairs are
  *      bucket collisions (an equi-join on (table, bucket) — shuffles
  *      only ids+buckets, never vectors); exact cosine runs on
  *      candidates only. Sketch size per vector is T ints regardless of
  *      corpus size; bucket fan-out is tuned by B (occupancy ≈ n/2^B).
  *      Deterministic but approximate → no SQL oracle; recall vs the
  *      brute-force baseline is asserted in SimilarityOpsSpec.
  *
  * Reference analog: the reference has no vector operations (verified
  * absence, SURVEY.md §2.11); this is north-star surface for
  * training-data pipelines.
  */
object SimilarityOps {

  val QueryCount = 32
  val TopK = 10

  /** Native codegen'd expression (graft.functions.VectorFunctions) —
    * left-to-right sum, same order DuckDB's list_dot_product uses, so
    * double math matches to well under the 4dp rounding we publish. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot(a, b)

  private def norm(v: Column): Column = sqrt(dot(v, v))

  /** Corpus with embeddings cast to double and norms precomputed. */
  private[analytics] def corpus(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))

  /** Corpus row count per directory, memoized (fingerprint-fresh) — one
    * metadata-cheap count job per corpus generation per JVM suffices
    * (n3b and n5 in the same session share it). */
  private val countCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Long)]
  private def corpusCount(spark: SparkSession, dir: String): Long =
    Tables.memoFresh(countCache, spark, dir, "embeddings")(
      Tables.embeddings(spark, dir).count())

  /** N3: exact cosine top-10 neighbors for each query vector
    * (vec_id < 32), ties broken by neighbor id. */
  def n3CosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val all = corpus(spark, dir)
    val q = all.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val sims = all.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("sim"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nbr"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("rank"), col("nbr"), col("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  val n3CosineTopkSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < $QueryCount),
      |sims AS (
      |  SELECT qid, n.vec_id AS nbr,
      |    round(list_dot_product(qv, v) / (qn * nrm), 4) AS sim
      |  FROM q CROSS JOIN n WHERE n.vec_id <> qid),
      |ranked AS (
      |  SELECT qid, nbr, sim,
      |    (row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nbr))::BIGINT AS rank
      |  FROM sims)
      |SELECT qid, rank, nbr, sim FROM ranked WHERE rank <= $TopK
      |ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------------

  val SrpTables = 8

  /** Target mean rows per (table, bucket). Bits are DERIVED from corpus
    * size so occupancy stays ~constant as data grows — the round-1
    * design fixed bits=6, making per-bucket work linear in n (and the
    * n5 self-join quadratic); deriving bits kills that. */
  val SrpTargetOccupancy = 8
  val SrpMinBits = 4
  val SrpMaxBits = 32 // bucket ids are Long, so 1L<<j is safe to 32 bits
  /** Hard per-bucket bound (8× target): a degenerate vector distribution
    * (many identical directions) can't blow up one bucket's self-join.
    * Rows beyond the cap are dropped deterministically (highest vec_ids
    * first) — a documented recall trade for a worst-case work bound. */
  val SrpBucketCap = 64
  /** With many bits a near-neighbor pair disagreeing on ONE bit lands in
    * different buckets, so recall decays; probing all 1-bit-flip buckets
    * (bits+1 probes/table) recovers it at O(bits) extra probe rows.
    * Below this threshold the exact bucket already inspects enough. */
  val SrpMultiProbeMinBits = 10

  /** bits = clamp(ceil(log2(n / SrpTargetOccupancy))) — 2^bits buckets
    * per table keep expected occupancy ≤ target at any corpus size. */
  def srpBitsFor(n: Long): Int = {
    val raw = math.ceil(
      math.log(math.max(1L, n).toDouble / SrpTargetOccupancy) / math.log(2.0)).toInt
    math.min(SrpMaxBits, math.max(SrpMinBits, raw))
  }

  /** (vec_id, v, nrm, table, bucket) — one row per vector per LSH table;
    * bucket is the packed sign pattern of `bits` projections against the
    * fixed seeded Gaussian hyperplanes
    * ([[org.apache.spark.sql.graftvec.SrpPlanes]] — java.util.Random's
    * algorithm is specified, so every JVM/executor derives identical
    * planes). The whole bank is ONE expression
    * ([[org.apache.spark.sql.graftvec.SrpBucketBank]]): the former
    * tables×bits DotProduct chain inflated the codegen'd stage past
    * HotSpot's JIT method limit and ran interpreted-bytecode — 6.5×
    * slower than this single-kernel formulation at sf0.1, bit-identical
    * output. */
  def srpBuckets(vectors: DataFrame, bits: Int): DataFrame =
    vectors.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(org.apache.spark.sql.graftvec.GraftVec
        .srpBucketBankColumn(col("v"), SrpTables, bits))
        .as(Seq("table", "bucket")))

  /** Enforce [[SrpBucketCap]]: keep the `cap` lowest vec_ids per
    * (table, bucket). The row_number partitioning matches the downstream
    * join key, so the exchange is reused, not added. */
  def capBuckets(banded: DataFrame, cap: Int = SrpBucketCap): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("table"), col("bucket")).orderBy(col("vec_id"))
    banded.withColumn("occ", row_number().over(w))
      .filter(col("occ") <= cap).drop("occ")
  }

  /** Multi-probe expansion of a (…, table, bucket) probe side: when bits
    * are wide enough to fragment near-neighbors, probe the exact bucket
    * plus every 1-bit flip. No-op below [[SrpMultiProbeMinBits]]. */
  def withProbes(side: DataFrame, bits: Int): DataFrame =
    if (bits < SrpMultiProbeMinBits) side
    else {
      val flips = (0 until bits).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
      side.withColumn("bucket", explode(array((col("bucket") +: flips): _*)))
    }

  /** Candidate (qid, nbr) pairs for the query slice: capped corpus
    * buckets equi-joined against the (multi-probed, broadcast) query
    * buckets — shuffles ids+buckets only, never vectors. Per-query
    * candidate work is O(tables × probes × occupancy) — constant in
    * corpus size by construction. */
  def srpCandidates(all: DataFrame, bits: Int): DataFrame = {
    val banded = capBuckets(srpBuckets(all, bits))
    val qb = withProbes(
      srpBuckets(all.filter(col("vec_id") < QueryCount), bits)
        .select(col("vec_id").as("qid"), col("table"), col("bucket")), bits)
    banded.join(broadcast(qb), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr")).distinct()
  }

  /** N3b: SRP-LSH approximate top-10 for the same query slice. Bucket
    * collisions → candidates → exact cosine → rank. Missing true
    * neighbors is possible (LSH false negatives); emitted sims are
    * exact. Bits adapt to corpus size (one metadata-cheap count). */
  def n3bSrpAnn(spark: SparkSession, dir: String): DataFrame = {
    val all = corpus(spark, dir)
    val bits = srpBitsFor(corpusCount(spark, dir))
    val cand = srpCandidates(all, bits)
    val q = all.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val sims = cand
      .join(all.select(col("vec_id").as("nbr"), col("v"), col("nrm")), Seq("nbr"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("nbr"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("sim"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nbr"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("rank"), col("nbr"), col("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  // --- IVF (inverted-file) ANN ------------------------------------------------

  /** Cell count is DERIVED from corpus size — cells = clamp(ceil(√n)) —
    * exactly as [[srpBitsFor]] derives SRP bits. √n balances the two
    * costs that matter at scale: per-query probe work is
    * IvfProbes × (n / cells) ≈ 4√n rows (sublinear — a FIXED cell count
    * makes every probe read a constant fraction of the corpus, which is
    * not an index), and codebook size is `cells` rows ≈ √n — at the
    * clamp, 65536 cells × 64 doubles ≈ 34 MB, still comfortably
    * broadcastable, and the driver-side collect stays model-sized. Past
    * the clamp occupancy grows linearly again; the documented path there
    * is a two-level coarse quantizer (IVF over cell summaries), not a
    * bigger flat codebook. */
  val IvfMinCells = 4
  val IvfMaxCells = 65536
  val IvfProbes = 4

  /** Lloyd-refinement sample size per cell: codebook TRAINING cost is
    * bounded at ~(cells × this) × cells dot products ≈ 32·cells² — linear
    * in n at √n cells — instead of the full n × cells assignment, which
    * would be n^1.5. (The one-time full-corpus assignment that builds the
    * index is inherently n × cells; sampling applies to training only,
    * the same split FAISS makes.) */
  val LloydSamplePerCell = 32

  def ivfCellsFor(n: Long): Int = {
    val raw = math.ceil(math.sqrt(math.max(1L, n).toDouble)).toInt
    math.min(IvfMaxCells, math.max(IvfMinCells, raw))
  }

  /** Deterministic training-sample stride: every `stride`-th vec_id,
    * sized so ~[[LloydSamplePerCell]] vectors land per cell. 1 (= the
    * whole corpus) until n exceeds cells × sample-per-cell. */
  def ivfLloydStride(n: Long, cells: Int): Long =
    math.max(1L, n / (cells.toLong * LloydSamplePerCell))

  /** Deterministic IVF codebook: seed centroids are the vectors with the
    * K smallest vec_ids (any deterministic rule works for a seeded
    * coarse quantizer), refined by ONE Lloyd step over a deterministic
    * sample (`lloydStride`, see [[ivfLloydStride]]) — per-cell mean via
    * a posexplode/groupBy/rebuild, all set-oriented and DISTRIBUTED (no
    * driver iteration, no RNG). A cell the sample misses keeps its seed
    * centroid, so the codebook never shrinks. The codebook is model
    * state (K ≈ √n rows, bounded by [[IvfMaxCells]]), so it is
    * materialized to the driver and returned as a LocalRelation: the
    * Lloyd pass runs exactly once, both consumers broadcast a literal,
    * and there is no cached entry to leak and no single-partition global
    * window. Returns (cell, centroid array<double>). */
  def ivfCentroids(vectors: DataFrame, cells: Int,
      lloydStride: Long = 1L): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // TakeOrdered (orderBy+limit) — never a full sort; cell id = rank
    // among the K seeds, assigned on the driver over K rows
    val seeds = vectors.select(col("vec_id"), col("v"))
      .orderBy(col("vec_id")).limit(cells).collect()
      .sortBy(_.getLong(0)).zipWithIndex
      .map { case (r, i) => (i + 1, r.getSeq[Double](1)) }
    val seedsDf = seeds.toSeq.toDF("cell", "c")
    val sample =
      if (lloydStride <= 1L) vectors
      else vectors.filter(pmod(col("vec_id"), lit(lloydStride)) === 0)
    val assigned = assignCells(sample, seedsDf)
    // Lloyd step: element-wise mean of each cell's sampled member vectors
    val refined = assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("m"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell"),
        transform(col("pm"), e => e.getField("m")).as("c"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    seeds.map { case (cell, c) => (cell, refined.getOrElse(cell, c)) }
      .toSeq.toDF("cell", "c")
  }

  /** Occupancy cap factor: a cell holding more than this multiple of the
    * mean population is split. The SRP path earned its hard bucket cap
    * ([[SrpBucketCap]]) for exactly this reason — one dense cluster must
    * not make one probe read an unbounded slice of the corpus — but an
    * IVF assignment is also the WRITE-PATH layout, so rows can't simply
    * be dropped; oversized cells are SPLIT instead (re-Lloyd within the
    * cell), which keeps the index total. */
  val IvfOccCapFactor = 4
  /** Split rounds are bounded: each round halves a hot cell at best, so
    * 4 rounds shrink a cell 16×; a cluster of IDENTICAL vectors can
    * never be separated by any Voronoi split (the honest floor — those
    * rows are upstream-dedup work, cf. n5), and bounding rounds keeps
    * training cost deterministic instead of looping on it. */
  val IvfMaxSplitRounds = 4

  /** [[ivfCentroids]] plus an occupancy bound: any cell whose SAMPLED
    * population exceeds [[IvfOccCapFactor]] × mean is split in two
    * (seed A = its min-vec_id member, seed B = the member least similar
    * to A, one Lloyd step — all set-oriented over every oversized cell
    * at once), for at most [[IvfMaxSplitRounds]] rounds. Occupancy is
    * measured on the training sample (`lloydStride`), so the cap adds
    * ~rounds × (sample × cells) work, never a full-corpus pass. The
    * codebook only GROWS (bounded by rounds), never loses a cell. */
  def ivfCentroidsCapped(vectors: DataFrame, cells: Int,
      lloydStride: Long = 1L,
      maxRounds: Int = IvfMaxSplitRounds): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val sample =
      if (lloydStride <= 1L) vectors
      else vectors.filter(pmod(col("vec_id"), lit(lloydStride)) === 0)
    var cents: Seq[(Int, Seq[Double])] =
      ivfCentroids(vectors, cells, lloydStride)
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
        .sortBy(_._1)
    var round = 0
    var saturated = false
    while (round < maxRounds && !saturated) {
      val centsDf = cents.toDF("cell", "c")
      val assigned = assignCells(sample, centsDf)
      val occ = assigned.groupBy(col("cell")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val mean = occ.values.sum.toDouble / cents.size
      val cap = math.max(1L, math.ceil(IvfOccCapFactor * mean).toLong)
      val over = occ.filter(_._2 > cap).keys.toSeq.sorted
      if (over.isEmpty) saturated = true
      else {
        val mem = assigned.filter(col("cell").isin(over: _*))
        val seedA = mem.groupBy(col("cell"))
          .agg(min(struct(col("vec_id"), col("v"))).as("sa"))
          .select(col("cell"), col("sa.v").as("va"))
        val withA = mem.join(broadcast(seedA), Seq("cell"))
          .withColumn("asim", dot(col("v"), col("va")) /
            (col("nrm") * sqrt(dot(col("va"), col("va")))))
        val seedB = withA.groupBy(col("cell"))
          .agg(min(struct(col("asim"), col("vec_id"), col("v"))).as("sb"))
          .select(col("cell"), col("sb.v").as("vb"))
        // one Lloyd step over the two seeds: side 0 stays with A, side 1
        // founds the new cell; per-(cell, side) element-wise mean exactly
        // as ivfCentroids' refinement step
        val split = withA.join(broadcast(seedB), Seq("cell"))
          .withColumn("bsim", dot(col("v"), col("vb")) /
            (col("nrm") * sqrt(dot(col("vb"), col("vb")))))
          .withColumn("side", when(col("asim") >= col("bsim"), 0).otherwise(1))
          .select(col("cell"), col("side"),
            posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("cell"), col("side"), col("pos"))
          .agg(avg(col("x")).as("m"))
          .groupBy(col("cell"), col("side"))
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("cell"), col("side"),
            transform(col("pm"), e => e.getField("m")).as("c"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
        var nextId = cents.map(_._1).max
        cents = cents.flatMap { case (cell, c) =>
          (split.get((cell, 0)), split.get((cell, 1))) match {
            case (Some(a), Some(b)) if over.contains(cell) =>
              nextId += 1
              Seq((cell, a), (nextId, b))
            // degenerate split (all members on one side — e.g. identical
            // vectors): keep the cell as-is; rounds will exhaust
            case _ => Seq((cell, c))
          }
        }
      }
      round += 1
    }
    cents.toDF("cell", "c")
  }

  /** Nearest centroid (max cosine) per vector, as ONE map-only
    * projection over the literal codebook
    * ([[org.apache.spark.sql.graftvec.IvfTopCells]], k = 1 with the
    * former `max(struct(csim, cell))` tie rule — bit-identical cosine
    * math). The pre-r15 shape crossJoined the broadcast codebook and
    * re-aggregated by vec_id — a ×cells row expansion plus an exchange
    * carrying the vectors, for a value that is a pure per-row function.
    * Public so specs can measure probed-cell row fractions on arbitrary
    * corpora; the codebook side is model-sized by construction
    * (≤ [[IvfMaxCells]]), so collecting it here is the same bounded
    * collect `trainedCentroids` already does. */
  def assignCells(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assignCellsRows(vectors, centRowsOf(centroids))

  /** NOTE: EAGER — collects the (model-sized) centroid frame at plan
    * construction, so building the returned plan runs a Spark job
    * (ADVICE r15: the DataFrame→DataFrame face hides that). Query paths
    * inside this object pass the memoized ROW form instead
    * ([[trainedCentroidRows]]) so construction costs no job at all. */
  private def centRowsOf(centroids: DataFrame): Seq[(Int, Seq[Double])] =
    centroids.select(col("cell"), col("c")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq

  /** [[assignCells]] over the driver-resident codebook rows (sorted
    * ascending by cell before ranking — the IvfTopCells tie contract).
    * An empty codebook is a model-state bug, not a data case: fail loud
    * (the pre-r15 crossJoin formulation silently dropped all rows,
    * ADVICE r15). */
  def assignCellsRows(vectors: DataFrame,
      centRows: Seq[(Int, Seq[Double])]): DataFrame = {
    require(centRows.nonEmpty, "assignCells: empty centroid codebook")
    val rows = centRows.sortBy(_._1)
    vectors.select(col("vec_id"), col("v"), col("nrm"),
      element_at(graft.functions.VectorFunctions
        .ivfTopCells(col("v"), col("nrm"), rows, 1, tieLargestCell = true),
        1).as("cell"))
  }

  /** Trained codebook per corpus directory, memoized — the codebook is
    * MODEL STATE: a pure, deterministic function of an immutable corpus.
    * n3c, n3d and the write-path assignment all consume the same model,
    * so training runs once per corpus per JVM (exactly how a production
    * index trains once at build time and is read by every query). */
  private val centCache = scala.collection.concurrent.TrieMap
    .empty[String, (String, Seq[(Int, Seq[Double])])]
  private def trainedCentroidRows(spark: SparkSession,
      dir: String): Seq[(Int, Seq[Double])] =
    Tables.memoFresh(centCache, spark, dir, "embeddings") {
      val n = corpusCount(spark, dir)
      val cells = ivfCellsFor(n)
      ivfCentroidsCapped(corpus(spark, dir), cells, ivfLloydStride(n, cells))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
        .sortBy(_._1).toSeq
    }
  private def trainedCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedCentroidRows(spark, dir).toDF("cell", "c")
  }

  /** Corpus with its IVF cell assignment — the write-path layout: at
    * scale the corpus is WRITTEN partitioned (or clustered) by `cell`,
    * so a probe's `cell IN (...)` filter becomes partition pruning and
    * reads only IvfProbes/cells of the files. PlanAuditSpec proves
    * the pruning on a real partitioned write. */
  def ivfAssignments(spark: SparkSession, dir: String): DataFrame =
    assignCellsRows(corpus(spark, dir), trainedCentroidRows(spark, dir))

  /** The `IvfProbes` best cells per query vector (centroid cosine
    * argtop): (qid, qv, qn, cell). One map-only projection
    * ([[org.apache.spark.sql.graftvec.IvfTopCells]] with the former
    * window's `csim DESC, cell` tie rule) — the pre-r15 crossJoin ×
    * per-query window shuffled a queries×cells expansion to rank a
    * literal table. Public so specs can intersect the probe plan with
    * cell assignments and measure the probed fraction. */
  def ivfProbePlan(queries: DataFrame, cents: DataFrame): DataFrame =
    ivfProbePlanRows(queries, centRowsOf(cents))

  /** [[ivfProbePlan]] over driver-resident codebook rows — no Spark job
    * at plan construction (the r16 n3-family construction fix: the
    * DataFrame faces collected the memoized codebook back off a
    * LocalRelation on EVERY invocation, ~0.4–0.6 s of per-query driver
    * time across n3c/n3d/n3e/n3f/n3h). */
  def ivfProbePlanRows(queries: DataFrame,
      centRows: Seq[(Int, Seq[Double])]): DataFrame = {
    require(centRows.nonEmpty, "ivfProbePlan: empty centroid codebook")
    val rows = centRows.sortBy(_._1)
    queries.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("nrm").as("qn"),
      explode(graft.functions.VectorFunctions.ivfTopCells(
        col("v"), col("nrm"), rows, IvfProbes, tieLargestCell = false))
        .as("cell"))
  }

  /** Driver-side evaluation of the SAME IvfTopCells ranking the plans
    * run — single-sourced semantics for "which cells does this query
    * probe" when the query set is already driver-resident (n3e/n3f
    * build their probed-cell partition filters without a Spark job). */
  private def topCellsOf(v: Seq[Double], nrm: Double,
      centRows: Seq[(Int, Seq[Double])], k: Int,
      tieLargestCell: Boolean): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val rows = centRows.sortBy(_._1)
    val expr = org.apache.spark.sql.graftvec.IvfTopCells(
      Literal(0.0), Literal(0.0), rows.map(_._1), rows.map(_._2), k,
      tieLargestCell)
    val out = expr.evalTop(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(v.toArray),
      nrm)
    (0 until out.numElements()).map(out.getInt)
  }

  /** N3c: IVF-flat approximate top-10 for the query slice — assign the
    * corpus to ~√n cells once, probe the `IvfProbes` best cells per
    * query, exact cosine on the probed cells only. Deterministic; no SQL
    * oracle (spec asserts exactness-of-sims + recall lift + shrinking
    * probed fraction). At 100 TB the cell assignment is the partition
    * key (cluster-by cell at write), so a probe reads IvfProbes/√n of
    * the corpus — a fraction that FALLS as the corpus grows, unlike a
    * fixed cell count. */
  def n3cIvfAnn(spark: SparkSession, dir: String): DataFrame = {
    val all = corpus(spark, dir)
    // √n-row literal codebook (see ivfCentroids/trainedCentroids),
    // trained once per corpus on a bounded deterministic sample; row
    // form — plan construction runs no Spark job (r16)
    val cents = trainedCentroidRows(spark, dir)
    val assigned = assignCellsRows(all, cents)
    val probes = ivfProbePlanRows(all.filter(col("vec_id") < QueryCount), cents)
    val sims = probes.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("sim"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nbr"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("rank"), col("nbr"), col("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  // --- two-level IVF (coarse quantizer over the codebook) ---------------------

  /** Supercells probed per query at level 1. */
  val IvfSuperProbes = 2

  /** Supercells probed on the BUILD path ([[assignCellsTwoLevel]]).
    * Wider than the query-time [[IvfSuperProbes]] on purpose: a build
    * mis-assignment is permanent (the vector lands in — and is only
    * ever found via — a second-best cell), while a query probe is
    * re-chosen per query. Widening to 6 lifts agreement with exact
    * assignment from 0.72 to ≥0.9 on the i.i.d. worst case (spec) at a
    * cost that stays ~√cells per vector: 6·fanout ≈ 6√cells dots vs the
    * flat build's `cells`. */
  val IvfBuildSuperProbes = 6

  /** Supercell count: ~√cells, so both levels cost ~√cells centroid dot
    * products per query instead of `cells`. */
  def ivfSupercellsFor(cells: Int): Int =
    math.max(1, math.ceil(math.sqrt(cells.toDouble)).toInt)

  /** Cluster the CELL CODEBOOK itself into supercells with the same
    * seeded+Lloyd machinery (the input is `cells` rows — model-sized).
    * Returns (superCents: (scell, c), cellMap: (cell, scell)).
    *
    * Why a second level exists: at ~10¹¹ vectors (the 100 TB regime for
    * 64-dim doubles), √n cells ≈ 450k → a flat codebook past broadcast
    * range, and ranking it costs `cells` dots per query. Two levels keep
    * the per-query centroid work at ~2√cells dots, and — the structural
    * point — the QUERY path never broadcasts the full cell codebook:
    * level 2 ranks only cells inside the chosen supercells, reached by
    * an equi-join on `scell`; only the √cells-row supercell codebook
    * broadcasts. The one-time index BUILD (assigning the corpus to
    * cells) still evaluates the full codebook per vector here; past the
    * broadcast clamp that build must use the same supercell pruning as
    * an approximation (assign to best supercell, then best cell within
    * it) — a build-time trade this small-scale implementation keeps
    * exact so the n3c-collapse spec can pin the query machinery. */
  def ivfSupercells(cents: DataFrame): (DataFrame, DataFrame) = {
    val scells = ivfSupercellsFor(cents.count().toInt)
    val centVecs = cents.select(col("cell").cast("long").as("vec_id"),
        col("c").as("v"))
      .withColumn("nrm", norm(col("v")))
    val superCents = ivfCentroids(centVecs, scells)
      .toDF("scell", "c")
    val cellMap = assignCells(centVecs, superCents.toDF("cell", "c"))
      .select(col("vec_id").cast("int").as("cell"), col("cell").as("scell"))
    // a supercell can end up owning ZERO cells (empty-cluster outcome of
    // the one-step Lloyd refinement); drop it from the probe codebook so
    // every probed supercell is guaranteed non-empty — otherwise a
    // vector/query whose top supercells are all empty silently vanishes
    // from the equi-join (totality break)
    val owning = superCents.join(
      cellMap.select(col("scell")).distinct(), Seq("scell"), "left_semi")
    (owning, cellMap)
  }

  /** Supercell model per corpus directory, memoized like
    * [[trainedCentroids]] — level-1 training is equally a pure function
    * of the immutable corpus, and n3d calls would otherwise retrain it
    * per invocation. */
  private val supercellCache = scala.collection.concurrent.TrieMap
    .empty[String, (String, (Seq[(Int, Seq[Double])], Seq[(Int, Int)]))]
  private def trainedSupercellRows(spark: SparkSession, dir: String)
      : (Seq[(Int, Seq[Double])], Seq[(Int, Int)]) =
    Tables.memoFresh(supercellCache, spark, dir, "embeddings") {
      val (superCents, cellMap) = ivfSupercells(trainedCentroids(spark, dir))
      (superCents.collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
        .sortBy(_._1).toSeq,
        cellMap.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq)
    }

  /** Build-path assignment for PAST the broadcast clamp: nearest
    * supercell first (broadcast, √cells rows), then nearest cell WITHIN
    * that supercell via an equi-join on `scell` — the full cell
    * codebook is never broadcast and never driver-materialized per
    * task. Approximate: a vector whose true nearest cell lives outside
    * its [[IvfSuperProbes]] nearest supercells mis-assigns to a
    * close-but-not-closest cell (recall cost, not correctness cost —
    * probes use the same quantizer); probing [[IvfBuildSuperProbes]]
    * supercells instead of only the argmax is the standard build-time
    * mitigation, and build-time probes are wider than query-time ones
    * because a build mis-assignment is permanent. The spec asserts
    * agreement ≥ 0.9 with exact assignment on the i.i.d. worst case. */
  def assignCellsTwoLevel(vectors: DataFrame, cents: DataFrame,
      superProbes: Int = IvfBuildSuperProbes): DataFrame = {
    val (superCents, cellMap) = ivfSupercells(cents)
    // level-1 ranking as the map-only IvfTopCells projection (the
    // supercell codebook is √cells rows — broadcastable by design);
    // same `ssim DESC, scell` rule the former window applied
    val sRows = superCents.select(col("scell"), col("c")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val topSuper = vectors.select(col("vec_id"), col("v"), col("nrm"),
      explode(graft.functions.VectorFunctions.ivfTopCells(
        col("v"), col("nrm"), sRows, superProbes, tieLargestCell = false))
        .as("scell"))
    topSuper.join(cellMap, Seq("scell"))
      .join(cents, Seq("cell"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"),
        (dot(col("v"), col("c")) / (col("nrm") * sqrt(dot(col("c"), col("c")))))
          .as("csim"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("csim"), col("cell"))).as("best"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))
      .select(col("vec_id"), col("v"), col("nrm"), col("best.cell").as("cell"))
  }

  /** N3d: TWO-LEVEL IVF ANN — rank supercells (broadcast, √cells rows),
    * then rank only the cells inside the [[IvfSuperProbes]] best
    * supercells (equi-join on scell — the cell codebook stays
    * partitioned, never broadcast), then exact cosine on the probed
    * cells as in n3c. Same output contract as n3c; spec asserts recall,
    * determinism, the per-query centroid-dot budget, AND exact
    * equivalence to flat n3c when `superProbes` covers every supercell
    * (the two-level reduction collapses to the flat ranking). */
  def n3dIvf2Ann(spark: SparkSession, dir: String,
      superProbes: Int = IvfSuperProbes): DataFrame = {
    val all = corpus(spark, dir)
    val centRows = trainedCentroidRows(spark, dir)
    // memoized model rows + LocalRelation faces for the equi-joins —
    // plan construction runs no Spark job (r16)
    val (sRows, cellMapRows) = trainedSupercellRows(spark, dir)
    import spark.implicits._
    val cents = centRows.toDF("cell", "c")
    val cellMap = cellMapRows.toDF("cell", "scell")
    val assigned = assignCellsRows(all, centRows)
    // level 1: top supercells per query (√cells-row codebook, ranked by
    // the map-only IvfTopCells projection with the former window's
    // `ssim DESC, scell` rule)
    val qs = all.filter(col("vec_id") < QueryCount)
    val topSuper = qs.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("nrm").as("qn"),
      explode(graft.functions.VectorFunctions.ivfTopCells(
        col("v"), col("nrm"), sRows, superProbes, tieLargestCell = false))
        .as("scell"))
    // level 2: rank ONLY cells inside the chosen supercells; the cell
    // codebook arrives via equi-join, not broadcast
    val wC = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("csim").desc, col("cell"))
    val probes = topSuper
      .join(cellMap, Seq("scell"))
      .join(cents, Seq("cell"))
      .select(col("qid"), col("qv"), col("qn"), col("cell"),
        (dot(col("qv"), col("c")) / (col("qn") * sqrt(dot(col("c"), col("c")))))
          .as("csim"))
      .withColumn("pr", row_number().over(wC))
      .filter(col("pr") <= IvfProbes)
      .select(col("qid"), col("qv"), col("qn"), col("cell"))
    val sims = probes.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("sim"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nbr"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("rank"), col("nbr"), col("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  // --- incremental IVF index maintenance ------------------------------------

  /** Published/batch split: vectors below the data-derived vec_id
    * midpoint stand in for the already-published corpus, the rest are
    * the incoming batch — the same convention n1b's incremental dedup
    * uses (DedupOps.scala). Reference analog: append-only audit sink
    * semantics (/root/reference/app/services/audit.py:25). */
  private val splitCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Long)]
  def ivfSplitPoint(spark: SparkSession, dir: String): Long =
    Tables.memoFresh(splitCache, spark, dir, "embeddings") {
      corpus(spark, dir)
        .agg(floor(max(col("vec_id")) / 2).cast("long")).head().getLong(0)
    }

  /** Codebook trained ONLY on the published half — the incremental
    * contract is train-once / append-forever: an arriving batch is
    * assigned with the PUBLISHED codebook, never a retrained one
    * (retraining would re-cluster — and therefore rewrite — every
    * already-published cell, the one cost an append must not pay). */
  private val pubCentCache = scala.collection.concurrent.TrieMap
    .empty[String, (String, Seq[(Int, Seq[Double])])]
  private def publishedCentroidRows(spark: SparkSession,
      dir: String): Seq[(Int, Seq[Double])] =
    Tables.memoFresh(pubCentCache, spark, dir, "embeddings") {
      val split = ivfSplitPoint(spark, dir)
      val pub = corpus(spark, dir).filter(col("vec_id") < split)
      val n = pub.count()
      val cells = ivfCellsFor(n)
      ivfCentroidsCapped(pub, cells, ivfLloydStride(n, cells))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
        .sortBy(_._1).toSeq
    }
  def publishedCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    publishedCentroidRows(spark, dir).toDF("cell", "c")
  }

  /** Append a batch to a published IVF index: assign ONLY the batch
    * vectors with the published codebook — the published side is read
    * back as data, never recomputed, so the plan contains no
    * full-corpus reassignment — and atomically publish the batch as a
    * DELTA segment: `publishDelta` writes only the batch's assignments
    * and references the published history (readers resolve the union;
    * time travel keeps the pre-append version queryable under the
    * vacuum retention policy). The per-append write cost is O(batch) —
    * the segments-unioned-at-read layout IS the format, with
    * replace-consolidation available as the compaction move when
    * segments accumulate. Commit is optimistic (CAS on the parent
    * txn); a lost race against a concurrent appender retries against
    * the winner. Returns the new txn id. */
  def ivfAppendBatch(spark: SparkSession, indexRoot: String,
      batch: DataFrame, cents: DataFrame): String = {
    val appended = assignCells(batch, cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    graft.ops.AtomicPublish.retryLostRace(
        s"ivfAppendBatch under $indexRoot") {
      val parent = graft.ops.AtomicPublish.currentTxn(spark, indexRoot)
      // an existing table's layout is inherited (appends must keep it);
      // only a FIRST append decides one — cell-partitioned, the layout
      // whose partition pruning n3e's probes rely on
      val hasTable = parent.exists(p => graft.ops.AtomicPublish
        .manifestMetaOf(spark, indexRoot, p).contains("ivf_index"))
      val layout: Map[String, Seq[String]] =
        if (hasTable) Map.empty else Map("ivf_index" -> Seq("cell"))
      graft.ops.AtomicPublish.publishDelta(spark, indexRoot,
        append = Map("ivf_index" -> appended), parent = parent,
        partitionBy = layout)
    }
  }

  /** Published index store per corpus dir, built once per JVM (the
    * set3 evolved-lineage staging pattern): the published half's
    * assignments land in an [[graft.ops.AtomicPublish]] root as the
    * `ivf_index` table, so n3e's published side is a genuine store READ
    * with no assignment compute in its plan. */
  private val storeCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  def publishedIndexRoot(spark: SparkSession, dir: String): String =
    Tables.memoFresh(storeCache, spark, dir, "embeddings") {
      val split = ivfSplitPoint(spark, dir)
      val cents = publishedCentroids(spark, dir)
      val pub = corpus(spark, dir).filter(col("vec_id") < split)
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_ivf_store_${java.util.UUID.randomUUID().toString.take(12)}")
        .toString
      // cell-PARTITIONED store layout: the cell is the partition key at
      // write (the n3c write-path contract), so a probe's cell set
      // prunes the published index read to IvfProbes/cells of its files
      graft.ops.AtomicPublish.publish(spark, root, Map("ivf_index" ->
        assignCells(pub, cents)
          .select(col("vec_id"), col("v"), col("nrm"), col("cell"))),
        partitionBy = Map("ivf_index" -> Seq("cell")))
      root
    }

  /** N3e: ANN top-10 over (published index ∪ incoming batch) — the
    * steady-state query shape of an incrementally-maintained IVF index.
    * The published side is read from the store (assignments are DATA);
    * only the batch half runs the quantizer, against the published
    * codebook. Deterministic; no SQL oracle (spec proves equivalence to
    * a from-scratch assignment of the full corpus under the same
    * codebook, plus the no-full-reassignment plan shape). */
  def n3eAnnIncremental(spark: SparkSession, dir: String): DataFrame = {
    val split = ivfSplitPoint(spark, dir)
    val cents = publishedCentroidRows(spark, dir)
    val all = corpus(spark, dir)
    // the query slice is QueryCount driver-resident rows; collect it
    // ONCE per invocation and rank its probe cells driver-side with the
    // SAME IvfTopCells evaluation the plans run ([[topCellsOf]]) — the
    // former formulation ran one Spark job to collect the probed-cell
    // union off a parquet re-scan, plus two codebook collects (r16)
    val qrows = all.filter(col("vec_id") < QueryCount)
      .select(col("vec_id"), col("v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSeq
    import spark.implicits._
    val probes = ivfProbePlanRows(
      qrows.toDF("vec_id", "v", "nrm"), cents)
    // the UNION of all queries' probed cells, driver-materialized so it
    // prunes the store read as a literal partition filter: bounded by
    // min(|codebook|, QueryCount·IvfProbes) ints — the same driver-
    // resident-model-state class as the codebook itself, never row data
    val probedCells = qrows
      .flatMap(q => topCellsOf(q._2, q._3, cents, IvfProbes,
        tieLargestCell = false))
      .distinct.sorted
    val published = graft.ops.AtomicPublish
      .readTable(spark, publishedIndexRoot(spark, dir), "ivf_index")
      .filter(col("cell").isin(probedCells: _*)) // → PartitionFilters
    val batch = assignCellsRows(all.filter(col("vec_id") >= split), cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      .filter(col("cell").isin(probedCells: _*)) // map-side, pre-shuffle
    val merged = published.unionByName(batch)
    val sims = probes.join(merged, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("sim"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nbr"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("rank"), col("nbr"), col("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  // --- IVF-PQ (n3f): product-quantized codes + asymmetric distance ------------

  /** PQ subspaces: the 64-dim embedding splits into 8 subvectors of 8
    * dims, each quantized to an 8-bit code — 8 bytes of code (+ one
    * reconstruction-norm double) per vector instead of 256 bytes of
    * float32, the ~32× payload cut that makes a 100 TB embedding
    * corpus's index memory/IO-resident. */
  val PqM = 8
  val PqK = 256
  /** Exact re-rank depth: ADC scores rank candidates, the top
    * `PqRefine × TopK` per query are re-scored with true cosine from
    * the full vectors (the standard IVF-PQ + refine ladder) — so
    * emitted sims stay exact and recall holds at n3c's level while the
    * SCAN payload is codes, not vectors. 8×TopK = 80 full-vector
    * lookups per query — constant, independent of corpus size. */
  val PqRefine = 8

  /** (vec_id, m, sv): the M subvectors of each vector. */
  private def subvectors(vectors: DataFrame, idCol: String = "vec_id",
      vCol: String = "v"): DataFrame = {
    val subDim = size(col(vCol)) / PqM
    vectors.select(col(idCol), posexplode(
      transform(sequence(lit(0), lit(PqM - 1)),
        m => slice(col(vCol), m * subDim + 1, subDim))).as(Seq("m", "sv")))
  }

  /** ‖a − b‖² via dots (reuses the codegen'd dot expression). */
  private def l2sq(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Deterministic PQ codebooks (m, code, c, cn2): per subspace, seeds
    * are the subvectors of the K smallest vec_ids (the ivfCentroids
    * seeding rule), refined by ONE Lloyd step over the deterministic
    * sample — set-oriented, no RNG, no driver iteration beyond the
    * model-sized (M×K = 2048-row) collect. `cn2 = ‖c‖²` rides along so
    * encoding and ADC never recompute it. */
  def pqCodebooks(vectors: DataFrame, lloydStride: Long = 1L): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val seeds = subvectors(
      vectors.select(col("vec_id"), col("v")).orderBy(col("vec_id"))
        .limit(PqK))
      .collect()
      .groupBy(_.getInt(1)).toSeq.flatMap { case (m, rows) =>
        rows.sortBy(_.getLong(0)).zipWithIndex.map { case (r, i) =>
          (m, i, r.getSeq[Double](2))
        }
      }
    val seedsDf = seeds.toDF("m", "code", "c")
    val sample =
      if (lloydStride <= 1L) vectors
      else vectors.filter(pmod(col("vec_id"), lit(lloydStride)) === 0)
    val assigned = subvectors(sample).join(broadcast(seedsDf), Seq("m"))
      .select(col("vec_id"), col("m"), col("sv"),
        l2sq(col("sv"), col("c")).as("d2"), col("code"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("code"))).as("best"),
        first(col("sv")).as("sv"))
      .select(col("m"), col("best.code").as("code"), col("sv"))
    val refined = assigned
      .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy(col("m"), col("code"), col("pos")).agg(avg(col("x")).as("mu"))
      .groupBy(col("m"), col("code"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mu")))).as("pm"))
      .select(col("m"), col("code"),
        transform(col("pm"), e => e.getField("mu")).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    seeds.map { case (m, code, c) =>
        val cc = refined.getOrElse((m, code), c)
        (m, code, cc, cc.map(x => x * x).sum)
      }
      .toDF("m", "code", "c", "cn2")
  }

  /** Encode: (vec_id, codes array<int> length M, pnorm2) — per
    * subspace the L2-nearest code, plus the reconstruction norm²
    * Σ‖c_m‖² (subspaces partition the dims, so the sum is exact for
    * the reconstructed vector), precomputed corpus-side so ADC scoring
    * needs no query-independent work per candidate. */
  def pqEncode(vectors: DataFrame, books: DataFrame): DataFrame =
    subvectors(vectors).join(broadcast(books), Seq("m"))
      .select(col("vec_id"), col("m"),
        l2sq(col("sv"), col("c")).as("d2"), col("code"), col("cn2"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("code"), col("cn2"))).as("best"))
      .groupBy(col("vec_id"))
      .agg(
        array_sort(collect_list(struct(col("m"), col("best.code").as("code"))))
          .as("mc"),
        sum(col("best.cn2")).as("pnorm2"))
      .select(col("vec_id"),
        transform(col("mc"), e => e.getField("code")).as("codes"),
        col("pnorm2"))

  /** PQ model per corpus (trained once per JVM, fingerprint-fresh) —
    * the driver-resident row form ([[trainedPqCodebooks]] is its
    * DataFrame face; n3f's ADC table builds from the rows directly so
    * the codebook never rides a plan as a LocalRelation the optimizer
    * re-processes per invocation, VERDICT r15 #3). */
  private val pqBookCache = scala.collection.concurrent.TrieMap
    .empty[String, (String, Seq[(Int, Int, Seq[Double], Double)])]
  def trainedPqCodebookRows(spark: SparkSession,
      dir: String): Seq[(Int, Int, Seq[Double], Double)] =
    Tables.memoFresh(pqBookCache, spark, dir, "embeddings") {
      val n = corpusCount(spark, dir)
      val cells = ivfCellsFor(n)
      pqCodebooks(corpus(spark, dir), ivfLloydStride(n, cells))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2),
          r.getDouble(3))).toSeq
    }
  def trainedPqCodebooks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedPqCodebookRows(spark, dir).toDF("m", "code", "c", "cn2")
  }

  /** Published PQ index per corpus dir: `pq_codes` (vec_id, codes,
    * pnorm2, cell) in an [[graft.ops.AtomicPublish]] root, PARTITIONED
    * BY CELL — same layout contract as the n3e index store, so a
    * probe's cell set prunes the code read to IvfProbes/cells of its
    * files, and what those files hold is the 8-byte codes, not the
    * vectors. */
  private val pqStoreCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  def publishedPqRoot(spark: SparkSession, dir: String): String =
    Tables.memoFresh(pqStoreCache, spark, dir, "embeddings") {
      val books = trainedPqCodebooks(spark, dir)
      val assigned = ivfAssignments(spark, dir)
      val coded = pqEncode(corpus(spark, dir), books)
        .join(assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_pq_store_${java.util.UUID.randomUUID().toString.take(12)}")
        .toString
      graft.ops.AtomicPublish.publish(spark, root,
        Map("pq_codes" -> coded),
        partitionBy = Map("pq_codes" -> Seq("cell")))
      root
    }

  /** N3f: IVF-PQ approximate top-10 — probe the IvfProbes best cells,
    * score candidates by ASYMMETRIC DISTANCE (query stays full
    * precision; approx dot(q,x) = Σ_m dot(q_m, c_m[code_m]) via a
    * per-query M×K lookup table that broadcasts at any corpus size),
    * keep the PqRefine×TopK best per query, re-rank those exactly.
    * The candidate scan reads the published cell-partitioned CODE
    * table (pruned to probed cells); full vectors are touched only for
    * the ~40 refine rows per query. Deterministic; no SQL oracle
    * (spec: recall ≥ n3c's, exact emitted sims, pruned scan, payload
    * ratio). */
  def n3fIvfPqAnn(spark: SparkSession, dir: String): DataFrame = {
    val all = corpus(spark, dir)
    val cents = trainedCentroidRows(spark, dir)
    // ONE collect of the QueryCount-row query slice per invocation —
    // every query-side face of the plan (probe pairs, ADC tables, the
    // exact re-rank side) derives from these driver-resident rows, so
    // plan construction runs exactly one small job (the former shape
    // re-scanned the corpus for the probed-cell union AND the ADC
    // collect, plus two codebook collects — construction was ~60% of
    // n3f's bench time, r16 probe) and the final plan's only parquet
    // scan is the pruned code table.
    val qrows = all.filter(col("vec_id") < QueryCount)
      .select(col("vec_id"), col("v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSeq
    // probe cells per query, ranked driver-side by the SAME IvfTopCells
    // evaluation ivfProbePlanRows runs ([[topCellsOf]])
    val probePairs: Seq[(Long, Int)] = qrows.flatMap(q =>
      topCellsOf(q._2, q._3, cents, IvfProbes, tieLargestCell = false)
        .map(c => (q._1, c)))
    val probedCells = probePairs.map(_._2).distinct.sorted
    val codes = graft.ops.AtomicPublish
      .readTable(spark, publishedPqRoot(spark, dir), "pq_codes")
      .filter(col("cell").isin(probedCells: _*)) // → PartitionFilters
    // Per-query ADC lookup table qd[qid](m·K + code) = dot(q_m, c) —
    // model-sized state mounted behind one map-only expression
    // ([[graft.functions.VectorFunctions.pqAdcDot]], VERDICT r15 #3):
    // the former qdot frame posexploded every candidate's codes 8×,
    // broadcast a 2048-row LocalRelation the optimizer re-processed
    // per invocation, and re-aggregated the expansion through an
    // exchange. Entries are the same left-to-right subvector dots; the
    // expression sums m ascending from the m=0 term — the order the
    // former sum() accumulated (bit-identical, pinned in the spec).
    val books = trainedPqCodebookRows(spark, dir)
    val adcTable: Map[Long, Array[Double]] = qrows.map { case (qid, v, _) =>
        val subDim = v.length / PqM
        val t = new Array[Double](PqM * PqK)
        books.foreach { case (m, code, c, _) =>
          val off = m * subDim
          val n = math.min(subDim, c.length)
          var acc = 0.0
          var i = 0
          while (i < n) { acc += v(off + i) * c(i); i += 1 }
          t(m * PqK + code) = acc
        }
        qid -> t
      }.toMap
    import spark.implicits._
    val cand = probePairs.toDF("qid", "cell")
      .join(codes, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (graft.functions.VectorFunctions
          .pqAdcDot(col("qid"), col("codes"), adcTable, PqM) /
          sqrt(col("pnorm2"))).as("ascore"))
    import org.apache.spark.sql.expressions.Window
    val wa = Window.partitionBy(col("qid"))
      .orderBy(col("ascore").desc, col("vec_id"))
    val shortlist = cand.withColumn("ar", row_number().over(wa))
      .filter(col("ar") <= PqRefine * TopK)
      .select(col("qid"), col("vec_id"))
    // exact re-rank: full vectors for the shortlist only; the query
    // side is the collected rows as a LocalRelation
    val q = qrows.toDF("qid", "qv", "qn")
    val sims = shortlist
      .join(all, Seq("vec_id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("vec_id").as("nbr"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nbr"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("rank"), col("nbr"), col("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  val NearDupThreshold = 0.4 // synthetic corpus is i.i.d. random (top pair
                             // sims ~0.4-0.5); real near-dup corpora use ~0.9

  /** N5c: embedding-cosine near-duplicate PAIRS over the whole corpus —
    * the dedup-by-embedding tier of a training-data pipeline. Candidates
    * come from SRP bucket collisions (shuffling ids+buckets only), then
    * exact cosine verifies each candidate; output is every candidate
    * pair with sim ≥ threshold. Approximate in the same way n2b is
    * (banding false negatives possible, emitted sims exact) → no SQL
    * oracle; spec asserts exact-sim agreement with brute force and
    * recall lift. At 100 TB: bucket join is an equi-shuffle on
    * (table, bucket); vectors join in by id afterwards, so full
    * embeddings never ride the candidate shuffle. */
  def n5EmbedNearDup(spark: SparkSession, dir: String): DataFrame =
    n5Pairs(spark, dir).orderBy(col("va"), col("vb"))

  /** The n5 pair pipeline WITHOUT the presentation sort — the form n8's
    * cluster resolution consumes (the n2PairsOn pattern: pairs feeding
    * a join must not pay a global sort). */
  def n5Pairs(spark: SparkSession, dir: String): DataFrame = {
    val all = corpus(spark, dir)
    val bits = srpBitsFor(corpusCount(spark, dir))
    // Candidate volume is Σ_bucket occ·probes ≈ n·occupancy·(bits+1)
    // per table — linear in n (×log n) instead of the old n²/2^bits.
    val cand =
      if (bits < SrpMultiProbeMinBits) {
        // hamming-0 collisions: ONE shuffle — group each (table, bucket)'s
        // occupants (sorted+sliced = the same keep-lowest-ids cap as
        // capBuckets) and explode ordered pairs, the n2 posting pattern.
        // A self-join would shuffle the banded stream twice.
        srpBuckets(all, bits)
          .groupBy(col("table"), col("bucket"))
          .agg(slice(sort_array(collect_list(col("vec_id"))), 1, SrpBucketCap)
            .as("ids"))
          .filter(size(col("ids")) > 1)
          // native pair kernel (the n2 ppjoinCandidatePairs discipline)
          .select(explode(graft.functions.VectorFunctions
            .orderedPairs(col("ids"))).as("p"))
          .select(col("p.da").as("va"), col("p.db").as("vb")).distinct()
      } else {
        // wide-code regime: hamming ≤ 1 needs the multi-probed join —
        // a pair within distance 1 appears in at least one orientation,
        // so va<vb + distinct canonicalizes
        val banded = capBuckets(srpBuckets(all, bits))
          .select(col("vec_id"), col("table"), col("bucket"))
        banded.toDF("va", "table", "bucket")
          .join(withProbes(banded, bits).toDF("vb", "table", "bucket"),
            Seq("table", "bucket"))
          .filter(col("va") < col("vb"))
          .select(col("va"), col("vb")).distinct()
      }
    val vecs = all.select(col("vec_id"), col("v"), col("nrm"))
    cand
      .join(vecs.toDF("va", "v_a", "n_a"), Seq("va"))
      .join(vecs.toDF("vb", "v_b", "n_b"), Seq("vb"))
      .select(col("va"), col("vb"),
        round(dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 4).as("sim"))
      .filter(col("sim") >= NearDupThreshold)
  }

  /** N8: SEMANTIC duplicate clusters (the SemDeDup shape, Abbas et al.
    * 2023 — public): n5's embedding near-dup pairs become the edge
    * list, [[ClusterOps.connectedComponents]] resolves them into
    * components, and the canonical-election output is per-vector —
    * (vec_id, cluster_id = component min, csize). `csize - 1` per
    * cluster is what a keep-one policy drops; a training pipeline runs
    * exactly this after embedding its corpus. Approximate the same way
    * n5 is (SRP banding false negatives possible; emitted components
    * exact over the found pairs) → spec vs a driver union-find, no SQL
    * oracle. */
  private val sharedN5PairCache = scala.collection.concurrent.TrieMap
    .empty[String, (String, Option[Seq[(Long, Long)]])]

  /** n5's verified pair set as a driver-local edge list, memoized per
    * corpus generation — the [[DedupOps.n2PairsShared]] pattern for the
    * embedding side: n8's bench reps pay the marginal cluster cost,
    * not the SRP candidate pipeline (VERDICT r5 nit #4). Falls back to
    * the live pipeline past [[DedupOps.MaxSharedPairs]]. */
  def n5PairsShared(spark: SparkSession, dir: String): DataFrame = {
    val memo = Tables.memoFresh(sharedN5PairCache, spark, dir, "embeddings") {
      val rows = n5Pairs(spark, dir).select(col("va"), col("vb"))
        .limit(DedupOps.MaxSharedPairs + 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      if (rows.size > DedupOps.MaxSharedPairs) None else Some(rows)
    }
    import spark.implicits._
    memo match {
      case Some(rows) => rows.toDF("va", "vb")
      case None => n5Pairs(spark, dir).select(col("va"), col("vb"))
    }
  }

  def n8SemanticClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = ClusterOps.connectedComponents(
      n5PairsShared(spark, dir))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
    labels.select(col("doc_id").as("vec_id"), col("cluster_id"))
      .withColumn("csize", count(lit(1)).over(w))
      .orderBy(col("vec_id"))
  }

  // --- filtered vector search (n3g exact / n3h IVF) ---------------------------

  /** Metadata predicate for the filtered-search queries: neighbors must
    * carry this label (the vector-DB "filtered ANN" shape — retrieve
    * only docs passing a metadata filter). ~10% of the corpus. */
  val FilterLabel = 5

  private def labeledCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
      .withColumn("nrm", norm(col("v")))

  /** N3g: FILTERED top-k — exact cosine top-10 over only the neighbors
    * whose `label` passes the metadata predicate (queries themselves
    * are unfiltered). This is the vector-DB table-stakes operation a
    * corpus pipeline needs (retrieve-only-from-source-X, dedup within a
    * license class). The exact formulation IS the right plan when the
    * filter is selective: the predicate prunes the candidate side
    * BEFORE any distance work (here to ~10% of the corpus), the query
    * slice broadcasts, and nothing shuffles full vectors. DuckDB
    * oracle: same algebra with the label predicate in SQL. */
  def n3gFilteredTopk(spark: SparkSession, dir: String): DataFrame = {
    val all = labeledCorpus(spark, dir)
    val q = all.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"))
    val cand = all.filter(col("label") === FilterLabel)
    val sims = cand.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("sim"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nbr"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("rank"), col("nbr"), col("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  val n3gFilteredTopkSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, label,
      |  sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n
      |  WHERE vec_id < $QueryCount),
      |sims AS (
      |  SELECT qid, n.vec_id AS nbr,
      |    round(list_dot_product(qv, v) / (qn * nrm), 4) AS sim
      |  FROM q CROSS JOIN n
      |  WHERE n.vec_id <> qid AND n.label = $FilterLabel),
      |ranked AS (
      |  SELECT qid, nbr, sim,
      |    (row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nbr))::BIGINT
      |      AS rank
      |  FROM sims)
      |SELECT qid, rank, nbr, sim FROM ranked WHERE rank <= $TopK
      |ORDER BY qid, rank""".stripMargin

  /** N3h: filtered search through the IVF INDEX — the 100 TB plan when
    * the filter is NOT selective enough to make exact scan cheap, or
    * the corpus is cell-partitioned on disk anyway: probe the
    * `IvfProbes` best cells per query (as n3c) and apply the metadata
    * predicate INSIDE the probed cells, so the filter rides the same
    * pruned scan instead of forcing a second pass. Label travels WITH
    * the index rows (an 8-byte join at build, the way a production
    * index stores filterable attributes alongside codes); the query
    * path adds zero extra shuffles over n3c. Approximate (probed cells
    * only) → no SQL oracle; the spec pins recall against [[
    * n3gFilteredTopk]] and exactness of every returned sim. */
  def n3hFilteredIvf(spark: SparkSession, dir: String): DataFrame = {
    val all = corpus(spark, dir)
    val cents = trainedCentroidRows(spark, dir)
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
    val assigned = assignCellsRows(all, cents).join(labels, Seq("vec_id"))
    val probes = ivfProbePlanRows(all.filter(col("vec_id") < QueryCount), cents)
    val sims = probes
      .join(assigned.filter(col("label") === FilterLabel), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("sim"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nbr"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("rank"), col("nbr"), col("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  // --- bracket-flag promotion of the ANN tail into the hash gate -------------

  /** Aggregate recall floors for the ANN bracket flags — corpus-specific
    * scaffolding constants set comfortably below the DETERMINISTIC
    * observed recall at sf0.001/0.01/0.1 (everything upstream is seeded
    * hashes, so recall on a fixed corpus is a fixed number), so the flag
    * flips only on a real candidate-generation regression. The synthetic
    * embeddings are i.i.d. random — the hardest recall regime for any
    * LSH/IVF — hence floors far below production-corpus levels; the
    * recall-vs-chance LIFT is pinned separately in SimilarityOpsSpec. */
  val BracketRecallFloor: Map[String, Double] = Map(
    "n3b" -> 0.05, "n3c" -> 0.15, "n3f" -> 0.15,
    // measured (deterministic) recalls: n3d 0.72/0.74/0.93 and n3e
    // 0.69/0.63/0.89 at sf0.001/0.01/0.1; n3h vs the FILTERED exact
    // baseline 0.39/0.35/0.47
    "n3d" -> 0.5, "n3e" -> 0.4, "n3h" -> 0.2)

  /** Promote an approximate ANN variant into the hash-oracle gate (the
    * a13 bracket pattern, VERDICT r10 ask #3): the emitted rows are the
    * EXACT brute-force top-k — deterministic and DuckDB-recomputable —
    * plus two engine-computed booleans the oracle renders as constants:
    *
    *   recall_ok — the ANN variant's hits against the exact top-k reach
    *               the variant's floor (aggregate over all queries);
    *   sims_ok   — every ANN-emitted sim equals a from-the-raw-vectors
    *               cosine recomputation to ≤ 1e-9.
    *
    * A recall collapse or a sim corruption flips a hashed boolean and
    * fails CORRECTNESS. The exact side is test-scale scaffolding (one
    * extra broadcast-probe corpus pass); the production artifact is the
    * ANN pipeline itself, which this wrapper executes in full. The tiny
    * exact result is localCheckpointed so its scan runs once, not per
    * consumer branch. */
  private[analytics] def annBracket(spark: SparkSession, dir: String,
      ann: DataFrame, recallFloor: Double,
      exactRef: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.graftstream.StreamingBridge.checkpointFresh
    val exact = checkpointFresh(
      exactRef.getOrElse(n3CosineTopk(spark, dir)))
    val all = corpus(spark, dir)
    val q = all.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    // one pass over the ANN output: per-pair exact-sim recomputation and
    // exact-top-k membership, aggregated to the two flags
    val checked = ann
      .join(all.select(col("vec_id").as("nbr"), col("v"), col("nrm")),
        Seq("nbr"))
      .join(broadcast(q), Seq("qid"))
      .join(broadcast(exact.select(col("qid"), col("nbr"), lit(1L).as("hit"))),
        Seq("qid", "nbr"), "left")
      .agg(
        coalesce(sum(when(col("hit").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("nhits"),
        max(abs(col("sim") -
          round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4)))
          .as("dmax"))
    val flags = checked
      .crossJoin(exact.agg(count(lit(1)).as("nexact")))
      .select(
        (col("nhits") >= col("nexact") * lit(recallFloor)).as("recall_ok"),
        (coalesce(col("dmax"), lit(0.0)) <= lit(1e-9)).as("sims_ok"))
    exact.crossJoin(broadcast(flags))
      .select(col("qid"), col("rank"), col("nbr"), col("sim"),
        col("recall_ok"), col("sims_ok"))
      .orderBy(col("qid"), col("rank"))
  }

  def n3bSrpAnnBracket(spark: SparkSession, dir: String): DataFrame =
    annBracket(spark, dir, n3bSrpAnn(spark, dir), BracketRecallFloor("n3b"))
  def n3cIvfAnnBracket(spark: SparkSession, dir: String): DataFrame =
    annBracket(spark, dir, n3cIvfAnn(spark, dir), BracketRecallFloor("n3c"))
  def n3fIvfPqAnnBracket(spark: SparkSession, dir: String): DataFrame =
    annBracket(spark, dir, n3fIvfPqAnn(spark, dir), BracketRecallFloor("n3f"))
  def n3dIvf2AnnBracket(spark: SparkSession, dir: String): DataFrame =
    annBracket(spark, dir, n3dIvf2Ann(spark, dir), BracketRecallFloor("n3d"))
  def n3eAnnIncrementalBracket(spark: SparkSession, dir: String): DataFrame =
    annBracket(spark, dir, n3eAnnIncremental(spark, dir),
      BracketRecallFloor("n3e"))
  /** n3h measures against the FILTERED exact baseline (n3g) — recall vs
    * the unfiltered top-k would conflate the metadata filter with the
    * probe loss. */
  def n3hFilteredIvfBracket(spark: SparkSession, dir: String): DataFrame =
    annBracket(spark, dir, n3hFilteredIvf(spark, dir),
      BracketRecallFloor("n3h"), Some(n3gFilteredTopk(spark, dir)))

  /** DuckDB side of [[annBracket]]: the exact top-k recomputation with
    * the two flags as constants — the engine's booleans must land true. */
  val annBracketSql: String = n3CosineTopkSql.replace(
    s"SELECT qid, rank, nbr, sim FROM ranked WHERE rank <= $TopK",
    "SELECT qid, rank, nbr, sim, true AS recall_ok, true AS sims_ok " +
      s"FROM ranked WHERE rank <= $TopK")

  /** DuckDB side of the n3h bracket: the FILTERED exact top-k plus the
    * flag constants. */
  val annFilteredBracketSql: String = n3gFilteredTopkSql.replace(
    s"SELECT qid, rank, nbr, sim FROM ranked WHERE rank <= $TopK",
    "SELECT qid, rank, nbr, sim, true AS recall_ok, true AS sims_ok " +
      s"FROM ranked WHERE rank <= $TopK")

  // --- bracket-flag promotion of the sketch pair/cluster tail ---------------

  /** Aggregate recall floor for the n5 slice bracket — SRP banding over
    * i.i.d. random embeddings (the hardest LSH regime) measured
    * DETERMINISTIC slice recalls 0.83 / 0.375 / 0.25 at
    * sf0.001/0.01/0.1; the floor sits comfortably below all three so
    * the flag flips only on a real candidate-generation collapse. */
  val N5SliceRecallFloor = 0.15

  /** The EXACT near-dup pair set restricted to pairs touching the query
    * slice (min endpoint < [[QueryCount]]): a broadcast-probe corpus
    * pass — LINEAR in corpus size, vs the quadratic full all-pairs set
    * — so the exact side of the n5/n8 brackets never dominates the
    * gate (VERDICT r11 ask #1). Deterministic and DuckDB-recomputable. */
  private def n5ExactSlicePairs(spark: SparkSession, dir: String): DataFrame = {
    val all = corpus(spark, dir)
    val q = all.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    all.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(least(col("qid"), col("vec_id")).as("va"),
        greatest(col("qid"), col("vec_id")).as("vb"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("sim"))
      .filter(col("sim") >= NearDupThreshold)
      .distinct()
  }

  /** Promote n5 into the hash-oracle gate: emitted rows are the EXACT
    * slice pair set (above) plus two engine-computed booleans the
    * oracle renders as constants —
    *
    *   subset_ok — every PRODUCTION n5 pair touching the slice is in
    *               the exact set with an identical (4dp) sim; n5
    *               verifies candidates with exact cosine, so any false
    *               positive or sim corruption flips this;
    *   recall_ok — production slice pairs reach [[N5SliceRecallFloor]]
    *               of the exact slice set.
    *
    * The full production SRP pipeline executes (the slice restriction
    * filters its OUTPUT); the exact side is one extra broadcast-probe
    * pass, localCheckpointed so each consumer branch scans it once. */
  def n5EmbedNearDupBracket(spark: SparkSession, dir: String): DataFrame =
    n5BracketAt(spark, dir, N5SliceRecallFloor)

  private[analytics] def n5BracketAt(spark: SparkSession, dir: String,
      recallFloor: Double): DataFrame = {
    import org.apache.spark.sql.graftstream.StreamingBridge.checkpointFresh
    val exact = checkpointFresh(n5ExactSlicePairs(spark, dir))
    val prodSlice = n5Pairs(spark, dir).filter(col("va") < QueryCount)
    val chk = prodSlice
      .join(exact.select(col("va"), col("vb"), col("sim").as("esim")),
        Seq("va", "vb"), "left")
      .agg(
        coalesce(sum(when(col("esim").isNull ||
          abs(col("sim") - col("esim")) > 1e-9, 1L).otherwise(0L)), lit(0L))
          .as("nbad"),
        count(lit(1)).as("nprod"))
    val flags = chk.crossJoin(exact.agg(count(lit(1)).as("nexact")))
      .select((col("nbad") === 0L).as("subset_ok"),
        (col("nprod") >= col("nexact") * lit(recallFloor)).as("recall_ok"))
    exact.crossJoin(broadcast(flags))
      .select(col("va"), col("vb"), col("sim"),
        col("subset_ok"), col("recall_ok"))
      .orderBy(col("va"), col("vb"))
  }

  /** DuckDB side of [[n5EmbedNearDupBracket]]: the exact slice pair set
    * with the flags as constants — the engine's booleans must land true. */
  val n5BracketSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < $QueryCount),
      |sims AS (
      |  SELECT least(qid, n.vec_id) AS va, greatest(qid, n.vec_id) AS vb,
      |    round(list_dot_product(qv, v) / (qn * nrm), 4) AS sim
      |  FROM q CROSS JOIN n WHERE n.vec_id <> qid)
      |SELECT DISTINCT va, vb, sim, true AS subset_ok, true AS recall_ok
      |FROM sims WHERE sim >= $NearDupThreshold
      |ORDER BY va, vb""".stripMargin

  /** Promote n8 into the hash-oracle gate. The emitted rows are the
    * PRODUCTION connected-components engine ([[ClusterOps
    * .connectedComponents]] — pointer jumping, the very code n8 runs)
    * over the EXACT slice pair set, which DuckDB recomputes as a
    * recursive-CTE reachability closure (the n7 oracle shape) — an
    * exact check of the iterative graph algorithm on embedding-derived
    * edges. The approximation (SRP banding) lives in pair FINDING,
    * gated by n5's bracket; what n8 adds over n5 is cluster RESOLUTION,
    * and the full production pipeline's output is checked by one flag:
    *
    *   prod_ok — every production edge (n5's found pairs) has both
    *             endpoints labeled, co-labeled, and every production
    *             cluster satisfies cluster_id = min(member) and
    *             csize = member count.
    *
    * A mislabel, a lost edge, or a wrong size in the production run
    * flips the hashed constant. */
  def n8SemanticClustersBracket(spark: SparkSession, dir: String): DataFrame =
    n8BracketOn(spark, dir, n8SemanticClusters(spark, dir))

  private[analytics] def n8BracketOn(spark: SparkSession, dir: String,
      prodDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftstream.StreamingBridge.checkpointFresh
    val exact = checkpointFresh(
      n5ExactSlicePairs(spark, dir).select(col("va"), col("vb")))
    val labels = ClusterOps.connectedComponents(exact)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
    val rows = labels.select(col("doc_id").as("vec_id"), col("cluster_id"))
      .withColumn("csize", count(lit(1)).over(w))
    val prod = checkpointFresh(prodDf)
    val edges = n5PairsShared(spark, dir)
    val cov = edges
      .join(prod.select(col("vec_id").as("va"), col("cluster_id").as("ca")),
        Seq("va"))
      .join(prod.select(col("vec_id").as("vb"), col("cluster_id").as("cb")),
        Seq("vb"))
      .agg(
        coalesce(sum(when(col("ca") =!= col("cb"), 1L).otherwise(0L)), lit(0L))
          .as("nsplit"),
        count(lit(1)).as("nedge"))
    val consist = prod.groupBy(col("cluster_id"))
      .agg(min(col("vec_id")).as("m"), count(lit(1)).as("c"),
        min(col("csize")).as("cs1"), max(col("csize")).as("cs2"))
      .agg(coalesce(sum(when(col("cluster_id") =!= col("m") ||
        col("cs1") =!= col("c") || col("cs2") =!= col("c"), 1L)
        .otherwise(0L)), lit(0L)).as("nbad"))
    val flags = cov
      .crossJoin(edges.agg(count(lit(1)).as("nraw")))
      .crossJoin(consist)
      .select((col("nsplit") === 0L && col("nedge") === col("nraw") &&
        col("nbad") === 0L).as("prod_ok"))
    rows.crossJoin(broadcast(flags))
      .select(col("vec_id"), col("cluster_id"), col("csize"), col("prod_ok"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB side of [[n8SemanticClustersBracket]]: reachability closure
    * over the exact slice pairs, min label + component size (the n7
    * oracle pattern on embedding edges), flag as a constant. */
  val n8BracketSql: String =
    s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < $QueryCount),
      |sims AS (
      |  SELECT least(qid, n.vec_id) AS va, greatest(qid, n.vec_id) AS vb,
      |    round(list_dot_product(qv, v) / (qn * nrm), 4) AS sim
      |  FROM q CROSS JOIN n WHERE n.vec_id <> qid),
      |good AS (SELECT DISTINCT va, vb FROM sims WHERE sim >= $NearDupThreshold),
      |edges AS (SELECT va AS a, vb AS b FROM good
      |          UNION SELECT vb AS a, va AS b FROM good),
      |reach AS (
      |  SELECT a AS doc, a AS r FROM edges
      |  UNION
      |  SELECT e2.b AS doc, r.r AS r FROM reach r JOIN edges e2 ON e2.a = r.doc),
      |lab AS (SELECT doc AS vec_id, min(r) AS cluster_id FROM reach GROUP BY doc)
      |SELECT vec_id, cluster_id,
      |  count(*) OVER (PARTITION BY cluster_id) AS csize, true AS prod_ok
      |FROM lab ORDER BY vec_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "n3_cosine_topk" -> (n3CosineTopk _),
    "n3b_srp_ann" -> (n3bSrpAnnBracket _),
    "n3c_ivf_ann" -> (n3cIvfAnnBracket _),
    "n3d_ivf2_ann" -> (n3dIvf2AnnBracket _),
    "n3e_ann_incremental" -> (n3eAnnIncrementalBracket _),
    "n3f_ivfpq_ann" -> (n3fIvfPqAnnBracket _),
    "n3g_filtered_topk" -> (n3gFilteredTopk _),
    "n3h_filtered_ivf" -> (n3hFilteredIvfBracket _),
    "n5_embed_neardup" -> (n5EmbedNearDupBracket _),
    "n8_semantic_clusters" -> (n8SemanticClustersBracket _),
  )

  def oracleSql: Map[String, String] = Map(
    "n3_cosine_topk" -> n3CosineTopkSql,
    "n3b_srp_ann" -> annBracketSql,
    "n3c_ivf_ann" -> annBracketSql,
    "n3d_ivf2_ann" -> annBracketSql,
    "n3e_ann_incremental" -> annBracketSql,
    "n3f_ivfpq_ann" -> annBracketSql,
    "n3g_filtered_topk" -> n3gFilteredTopkSql,
    "n3h_filtered_ivf" -> annFilteredBracketSql,
    "n5_embed_neardup" -> n5BracketSql,
    "n8_semantic_clusters" -> n8BracketSql,
  )
}
