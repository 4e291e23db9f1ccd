package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The composed LLM training-data preparation journey — the reference's
  * staged-pipeline observable (each stage reports its record counts,
  * `/root/reference/app/etl/pipeline.py:135-143`) applied to the
  * training-corpus side of the house:
  *
  *   quarantine → exact dedup → near-dup → decontaminate → quality → chunk
  *
  * Three faces of the same semantics, spec-proven equal:
  *
  *  1. [[instrumented]] — the PRODUCTION data path: one composed lineage
  *     ending in training chunks, with per-stage counts collected by
  *     `Dataset.observe` during the one materializing action — counting
  *     adds ZERO extra scans and zero extra jobs (the reference gets its
  *     per-stage counts the same way: observed in-line, not re-queried).
  *  2. [[journeyCountsOn]] — the counts as DATA (the harness/oracle
  *     surface): one corpus pass computing each doc's furthest surviving
  *     stage as flags, one aggregation, `stack` to (stage, n) rows.
  *  3. The per-stage transforms ([[cleanStage]], [[dedupStage]], …),
  *     individually runnable — the spec re-runs the cascade stage by
  *     stage and checks the composed counts match.
  *
  * Scale notes: the near-dup and decontamination stages fork small
  * ID-only side outputs (drop lists) off the main lineage; everything
  * shuffled is 8-byte hashes or ids, never text (the n2/n6 discipline).
  * The eval-side n-gram set broadcasts (a benchmark suite is tiny next
  * to a 100 TB corpus). Chunk counting is arithmetic on word counts —
  * the chunk explode happens only on the production path that actually
  * materializes chunks.
  */
object LlmPrep {

  /** Quarantine gate: docs shorter than this many words are dropped at
    * the front door (null text likewise). */
  val MinWords = 15
  /** Quality gate on the t2 score (4dp-rounded, both engines). */
  val QualityMin = 0.5

  private def words: Column = split(col("text"), " ")
  private def quarCol: Column =
    col("text").isNull || size(words) < MinWords
  /** THE canonical content fingerprint on `text` — the dedup partition
    * key and the published kept_docs column must be this one
    * expression (the specs reuse it; divergence would silently break
    * replay-stability). */
  def fingerprintCol: Column = md5(col("text").cast("binary"))
  private def fpCol: Column = fingerprintCol
  private def evalSliceCol: Column =
    pmod(col("doc_id"), lit(DedupOps.DecontamEvalMod)) === 0
  private def qualityOkCol: Column =
    round(TextOps.qualityRawCol, 4) >= QualityMin
  /** Chunks a kept doc yields, without exploding: starts are
    * 0, stride, … < n_words (t5's grid). */
  private def chunkCountCol: Column =
    expr(s"(size(split(text, ' ')) - 1) DIV ${TextOps.ChunkStride} + 1")
      .cast("long")

  // --- the individually-runnable stages ------------------------------------

  /** Stage 1: drop unparseable/degenerate docs (the Quarantine posture:
    * nothing throws, the complement is the quarantine). */
  def cleanStage(docs: DataFrame): DataFrame = docs.filter(!quarCol)

  /** Stage 2: exact dedup keeping the smallest doc_id per content
    * fingerprint (n1's keep rule), one shuffle, text kept on the row.
    * Safe to rank over the full input because identical text implies an
    * identical quarantine verdict — a quarantined doc can never steal
    * the kept slot from a clean one. */
  def dedupStage(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(fpCol).orderBy(col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Ids dropped by near-dup removal: the `db` side of every Jaccard ≥ θ
    * pair (da < db, so the smallest id of any duplicate cluster always
    * survives — deterministic, no connected components needed). */
  def nearDupDroppedIds(docs: DataFrame): DataFrame =
    DedupOps.n2NgramJaccardOn(docs)
      .select(col("db").as("doc_id")).distinct()

  /** Stage 3: drop near-duplicates (exact shingle-Jaccard, the n2
    * PPJoin plan — oracle-expressible, unlike the MinHash sketch). */
  def nearDupStage(docs: DataFrame): DataFrame =
    docs.join(nearDupDroppedIds(docs), Seq("doc_id"), "left_anti")

  /** Train-side ids sharing a verbatim [[DedupOps.DecontamN]]-gram with
    * the eval slice of `corpus` (n6's broadcast-eval shape). The eval
    * n-gram set comes from the ORIGINAL corpus — a benchmark suite
    * exists independently of what earlier stages dropped. */
  def contaminatedIds(train: DataFrame, corpus: DataFrame): DataFrame = {
    val evalNg = DedupOps
      .ngramHashes(corpus.filter(evalSliceCol), DedupOps.DecontamN)
      .select(col("h")).distinct()
    DedupOps.ngramHashes(train, DedupOps.DecontamN)
      .join(broadcast(evalNg), Seq("h"))
      .select(col("doc_id")).distinct()
  }

  /** Stage 4: remove the eval slice itself (never train on the
    * benchmark) and every train doc contaminated by it. */
  def decontamStage(docs: DataFrame, corpus: DataFrame): DataFrame = {
    val train = docs.filter(!evalSliceCol)
    train.join(contaminatedIds(train, corpus), Seq("doc_id"), "left_anti")
  }

  /** Stage 5: keep docs whose t2 quality (same unrounded expression,
    * 4dp-rounded) clears [[QualityMin]]. */
  def qualityStage(docs: DataFrame): DataFrame = docs.filter(qualityOkCol)

  /** Stage 6: overlapping word-window chunks (t5's grid) — the rows a
    * tokenizer consumes. Unordered on purpose: a global sort would add
    * a range-sampling pass that re-executes the lineage (doubling the
    * observe counts) and is pointless on training chunks at scale. */
  def chunkStage(docs: DataFrame): DataFrame =
    TextOps.t5ChunkingUnordered(docs)

  // --- face 1: the production path with observed counts --------------------

  /** A composed run: `chunks` is the journey output (un-materialized);
    * after exactly one action on it, `counts()` returns the per-stage
    * counts collected during that action — INCLUDING the near-dup
    * stage's candidate-cap drop counters (`n2_posting_drops`, …):
    * the one deliberate approximation in the cascade is now a line in
    * the same report as the funnel counts (VERDICT-r11 #4), zero on
    * organic corpora, nonzero exactly when a pathological posting
    * crowd forced the occupancy cap to trade recall for boundedness.
    *
    * Observability corner, documented: when the drop-list pipeline
    * produces NO pairs at all, AQE's empty-relation propagation
    * rewrites the anti-join to a pass-through and erases the cap
    * metric nodes from the final plan — the counter is then absent
    * from [[counts]] (never wrongly zero, absent). A run that must
    * see the counter unconditionally must exclude
    * `AQEPropagateEmptyRelation` around its materializing action. */
  final class JourneyRun(val chunks: DataFrame,
      observations: Seq[Observation],
      watcher: DedupOps.DropsWatcher) {
    // SYNCHRONOUS-FIRST (VERDICT r12 nit #3): a caller whose action ran
    // [[chunks]]' own QueryExecution (collect(), toLocalIterator) has
    // the fired cap metrics right on it — read them with zero listener
    // wait; on an organic corpus whose empty drop list made AQE erase
    // the metric nodes, Some(empty) likewise returns immediately. Only
    // a FOREIGN action (a count(), which executes its own plan) leaves
    // unfired metrics behind and falls back to the listener.
    private lazy val capDrops: Map[String, Long] =
      try DedupOps.observedDropsOpt(chunks).getOrElse(watcher.drops())
      finally watcher.close()
    /** Call after one action on [[chunks]] (count, write, …). */
    def counts(): Map[String, Long] =
      observations.flatMap(_.get.map { case (k, v) =>
        k -> v.asInstanceOf[Number].longValue }).toMap ++
        capDrops.map { case (p, v) => s"${p}_drops" -> v }
  }

  /** The production journey: ONE lineage from corpus to chunks, with
    * per-stage counts observed in-line (CollectMetrics nodes fire once
    * even where drop-list branches fork the observed subtree — pinned
    * in LlmPrepJourneySpec). */
  def instrumented(docs: DataFrame): JourneyRun = {
    val o1 = Observation("llm_quarantine")
    val o2 = Observation("llm_dedup")
    val o3 = Observation("llm_neardup")
    val o4 = Observation("llm_decontam")
    val o5 = Observation("llm_quality")
    val annotated = docs.observe(o1,
      count(lit(1)).as("n_input"),
      count(when(!quarCol, 1)).as("n_clean"))
    val d2 = dedupStage(cleanStage(annotated))
      .observe(o2, count(lit(1)).as("n_unique"))
    val d3 = nearDupStage(d2)
      .observe(o3, count(lit(1)).as("n_neardup_kept"))
    val d4 = decontamStage(d3, docs)
      .observe(o4, count(lit(1)).as("n_decontaminated"))
    val d5 = qualityStage(d4)
      .observe(o5, count(lit(1)).as("n_quality_kept"))
    // armed HERE (not in counts()) so the caller's one action — which
    // fires the near-dup cap metrics deep inside nearDupStage's
    // anti-join lineage — is inside the watcher's window
    new JourneyRun(chunkStage(d5), Seq(o1, o2, o3, o4, o5),
      new DedupOps.DropsWatcher(docs.sparkSession, timeoutMs = 8000))
  }

  // --- face 2: the counts as data (harness/oracle surface) -----------------

  /** Per-stage counts with TEXT AS A MAP-SIDE-ONLY INPUT (guide §8:
    * decide with small rows): ONE base pass computes every text-local
    * property (fingerprint, quarantine verdict, quality verdict, chunk
    * count) and the narrow (doc_id, quar, qok, chunks, rn) frame is
    * materialized once — the r14 shape windowed and joined the
    * text-carrying rows, and its nd/ct/flag branches re-executed the
    * window subtree ~10× (10 parquet scans in the r14 physical plan).
    * Text now never enters an exchange: the dedup window shuffles
    * fingerprints, near-dup shingles and decontamination n-grams hash
    * map-side off their own scans and semi-join the uniq id set at the
    * already-partitioned doc_id key, and the final aggregate reads the
    * narrow frame. Chunks are counted arithmetically — no explode. */
  def journeyCountsOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftstream.StreamingBridge.checkpointFresh
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val rk = checkpointFresh(docs.select(
        col("doc_id"),
        fpCol.as("fp"),
        quarCol.as("quar"),
        (!quarCol && qualityOkCol).as("qok"),
        chunkCountCol.as("chunks"))
      .withColumn("rn", row_number().over(w))
      .drop("fp"))
    val uniqIds = rk.filter(!col("quar") && col("rn") === 1)
      .select(col("doc_id"))
    // near-dup drop ids: per-doc signatures are a pure function of text,
    // so shingling the full corpus map-side and semi-joining the uniq id
    // set AT the signature aggregate's own doc_id partitioning equals
    // re-shingling the uniq slice — without joining text back
    val uniqSigs = DedupOps.shingleSets(docs)
      .join(uniqIds, Seq("doc_id"), "left_semi")
    val nd = DedupOps.n2PairsOnSigs(uniqSigs, materialize = true)
      .select(col("db").as("doc_id")).distinct()
      .withColumn("is_nd", lit(true))
    // flags computed on the uniq train side are identical, for every doc
    // that reaches stage 4, to flags computed on stage-3 survivors —
    // contamination is a per-doc property — and skip a second pass.
    // The eval slice is a doc_id predicate (map-side on the n-gram
    // scan); the eval n-gram set comes from the ORIGINAL corpus.
    val evalNg = DedupOps
      .ngramHashes(docs.filter(evalSliceCol), DedupOps.DecontamN)
      .select(col("h")).distinct()
    val ct = DedupOps.ngramHashes(docs.filter(!evalSliceCol), DedupOps.DecontamN)
      .join(uniqIds, Seq("doc_id"), "left_semi")
      .join(broadcast(evalNg), Seq("h"))
      .select(col("doc_id")).distinct()
      .withColumn("is_ct", lit(true))
    val labeled = rk
      .join(nd, Seq("doc_id"), "left")
      .join(ct, Seq("doc_id"), "left")
      .withColumn("s1", !col("quar"))
      .withColumn("s2", col("s1") && col("rn") === 1)
      .withColumn("s3", col("s2") && col("is_nd").isNull)
      .withColumn("s4", col("s3") && !evalSliceCol && col("is_ct").isNull)
      .withColumn("s5", col("s4") && col("qok"))
    labeled.agg(
        count(lit(1)).as("c0"),
        count(when(col("s1"), 1)).as("c1"),
        count(when(col("s2"), 1)).as("c2"),
        count(when(col("s3"), 1)).as("c3"),
        count(when(col("s4"), 1)).as("c4"),
        count(when(col("s5"), 1)).as("c5"),
        coalesce(sum(when(col("s5"), col("chunks"))), lit(0L)).as("c6"))
      .select(expr(
        """stack(7,
          |  '0_input', c0, '1_clean', c1, '2_unique', c2,
          |  '3_neardup_kept', c3, '4_decontaminated', c4,
          |  '5_quality_kept', c5, '6_chunks', c6) AS (stage, n)""".stripMargin))
      .orderBy(col("stage"))
  }

  def llm1PrepCounts(spark: SparkSession, dir: String): DataFrame =
    journeyCountsOn(Tables.documents(spark, dir))

  val llm1PrepCountsSql: String = {
    val stoplist = TextOps.Stopwords.map(s => s"'$s'").mkString(", ")
    val n = DedupOps.DecontamN
    s"""WITH ann AS (SELECT doc_id, text,
      |    (text IS NULL OR len(string_split(text, ' ')) < $MinWords) AS quar
      |  FROM documents),
      |rk AS (SELECT doc_id, text, quar,
      |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM ann),
      |uniq AS (SELECT doc_id, text FROM rk WHERE NOT quar AND rn = 1),
      |uw AS (SELECT doc_id, string_split(text, ' ') AS w FROM uniq),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(len(w) - 2, 0)),
      |    i -> array_to_string(w[i:i+2], ' ')))) AS shingle FROM uw),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |nd AS (SELECT DISTINCT db AS doc_id FROM pairs
      |  JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
      |  WHERE round(shared * 1.0 / (ca.n + cb.n - shared), 4) >= ${DedupOps.JaccardThreshold}),
      |d3 AS (SELECT doc_id, text FROM uniq
      |  WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
      |evw AS (SELECT string_split(text, ' ') AS w FROM documents
      |  WHERE text IS NOT NULL AND doc_id % ${DedupOps.DecontamEvalMod} = 0),
      |eng AS (SELECT DISTINCT unnest(list_transform(
      |    generate_series(1, greatest(len(w) - ${n - 1}, 0)),
      |    i -> array_to_string(w[i:i+${n - 1}], ' '))) AS g FROM evw),
      |tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM uniq
      |  WHERE doc_id % ${DedupOps.DecontamEvalMod} <> 0),
      |tng AS (SELECT doc_id, unnest(list_transform(
      |    generate_series(1, greatest(len(w) - ${n - 1}, 0)),
      |    i -> array_to_string(w[i:i+${n - 1}], ' '))) AS g FROM tw),
      |ct AS (SELECT DISTINCT doc_id FROM tng WHERE g IN (SELECT g FROM eng)),
      |d4 AS (SELECT doc_id, text FROM d3
      |  WHERE doc_id % ${DedupOps.DecontamEvalMod} <> 0
      |    AND doc_id NOT IN (SELECT doc_id FROM ct)),
      |q AS (SELECT doc_id, text,
      |    len(string_split(text, ' '))::BIGINT AS n_tokens,
      |    length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0
      |      / length(text) AS p_raw,
      |    len(list_filter(string_split(text, ' '),
      |      x -> list_contains([$stoplist], x))) * 1.0
      |      / len(string_split(text, ' ')) AS s_raw
      |  FROM d4),
      |d5 AS (SELECT doc_id, text FROM q
      |  WHERE round(least(n_tokens / 50.0, 1.0) * (1.0 - p_raw)
      |    * (0.47 + 0.53 * least(s_raw * 4.7, 1.0)), 4) >= $QualityMin),
      |ch AS (SELECT (len(string_split(text, ' ')) - 1)
      |    // ${TextOps.ChunkStride} + 1 AS nc FROM d5)
      |SELECT stage, n FROM (
      |  SELECT '0_input' AS stage, count(*)::BIGINT AS n FROM documents
      |  UNION ALL SELECT '1_clean', count(*)::BIGINT FROM ann WHERE NOT quar
      |  UNION ALL SELECT '2_unique', count(*)::BIGINT FROM uniq
      |  UNION ALL SELECT '3_neardup_kept', count(*)::BIGINT FROM d3
      |  UNION ALL SELECT '4_decontaminated', count(*)::BIGINT FROM d4
      |  UNION ALL SELECT '5_quality_kept', count(*)::BIGINT FROM d5
      |  UNION ALL SELECT '6_chunks', coalesce(sum(nc), 0)::BIGINT FROM ch)
      |ORDER BY stage""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm1_prep_counts" -> (llm1PrepCounts _),
  )

  def oracleSql: Map[String, String] = Map(
    "llm1_prep_counts" -> llm1PrepCountsSql,
  )
}
