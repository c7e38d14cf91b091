package graft.operators

import graft.GraftQuery
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Curation funnel v2 (q119) and the training-example assembly that
  * consumes it (q124): the end-to-end pass a training-data pipeline
  * runs before shipping a corpus.
  *
  *   g0 all documents
  *   g1 exact dedup            keep the min-doc_id copy per
  *                             md5(lower(text)) group (q26 rule)
  *   g2 duplicated-span gate   drop boilerplate: 5·n_dup > 3·n_grams
  *                             (dup_frac > 0.6); docs with <5 tokens
  *                             carry no span signal and pass
  *   g3 LM fluency gate        CCNet-style: keep docs whose pooled
  *                             smoothed conditional probability is
  *                             ≥ 1/30; docs with <2 tokens are
  *                             unscorable and drop (CCNet discards
  *                             unscorable docs)
  *
  * EVERY gate decision is exact integer arithmetic — group-min
  * equality, 5·n_dup ≤ 3·n_grams, 30·(Σcb+n) ≥ Σc1+n·V — so no
  * threshold can flip on engine fp; the thresholds themselves are
  * rationals applied by cross-multiplication. (q115/q117 emit the
  * same evidence as DOUBLE scores for ranking; the funnel re-derives
  * its decisions from the integer counts instead of comparing
  * doubles.)
  *
  * Scale: three hash aggregates over one token explosion each, all
  * with map-side partials; the only corpus-row joins are key-compact
  * (md5 groups, gram vocabulary, bigram vocabulary) — the funnel
  * inherits each component's 100 TB physics. q119's report is
  * |langs| rows; q124's assembly adds one corpus-keyed left join to
  * the embeddings table (both sides hash-partitioned on the id — at
  * 100 TB this is THE join you bucket both tables on).
  */
object CurationFunnel {

  /** The gate CTE chain shared by q119/q124: per-doc (lang, n_tok,
    * keep_exact, keep_span, keep_fluency). */
  private val gatesSql: String =
    s"""${NgramStats.lmScoredSql},
       |${NgramStats.dupSpanSql},
       |exact AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
       |    doc_id = min(doc_id) OVER (PARTITION BY md5(lower(text))) AS keep_exact
       |  FROM documents),
       |gates AS (
       |  SELECT e.doc_id, e.lang, e.n_tok, e.keep_exact,
       |    COALESCE(5 * ss.n_dup <= 3 * ss.n_grams, TRUE) AS keep_span,
       |    COALESCE(30 * (sc.sum_cb + sc.n_bigrams)
       |      >= sc.sum_c1 + sc.n_bigrams * v.v, FALSE) AS keep_fluency
       |  FROM exact e
       |  LEFT JOIN span_stats ss ON e.doc_id = ss.doc_id
       |  LEFT JOIN scored sc ON e.doc_id = sc.doc_id
       |  CROSS JOIN vocab v)""".stripMargin

  /** Gate decisions memoized per (session, corpus): q119, q124 and
    * q138 all consume the same per-doc gate relation, and an uncached
    * run pays the full n-gram scoring pipeline each time (~2.4 s at
    * sf0.1). One |docs|-row, 6-column relation — bounded like the
    * token index it derives from. */
  private val gatesIdx =
    new graft.spark.SessionMemo[String, DataFrame](
      "curation.gates")(_.unpersist(): Unit)

  private[operators] def gateDecisions(s: SparkSession, d: String): DataFrame =
    gatesIdx.getOrElseUpdate(s, d)(gateDecisionsUncached(s, d).persist())

  /** Spark mirror of the `gates` CTE — every relation derives from
    * the ONE persisted tokenized index (the corpus is touched once,
    * not six times). */
  private def gateDecisionsUncached(s: SparkSession, d: String): DataFrame = {
    val tk = NgramStats.indexedDocToks(s, d)
    val exact = tk.select(col("doc_id"), col("lang"),
      size(col("t")).as("n_tok"),
      (col("doc_id") === min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("content_md5"))))
        .as("keep_exact"))
    val spans = NgramStats.dupSpanCounts(tk)
      .select(col("doc_id"), (lit(5) * col("n_dup") <= lit(3) * col("n_grams"))
        .as("keep_span_raw"))
    val scored = NgramStats.lmScoredCounts(tk)
      .crossJoin(broadcast(NgramStats.lmVocab(tk)))
      .select(col("doc_id"),
        (lit(30) * (col("sum_cb") + col("n_bigrams"))
          >= col("sum_c1") + col("n_bigrams") * col("v"))
          .as("keep_fluency_raw"))
    exact
      .join(spans, Seq("doc_id"), "left")
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tok"), col("keep_exact"),
        coalesce(col("keep_span_raw"), lit(true)).as("keep_span"),
        coalesce(col("keep_fluency_raw"), lit(false)).as("keep_fluency"))
  }

  val qCurationFunnel: GraftQuery = GraftQuery(
    "q119_curation_funnel",
    s"""WITH $gatesSql
       |SELECT lang,
       |  CAST(count(*) AS INTEGER) AS n_total,
       |  CAST(count(*) FILTER (keep_exact) AS INTEGER) AS n_exact,
       |  CAST(count(*) FILTER (keep_exact AND keep_span) AS INTEGER) AS n_span,
       |  CAST(count(*) FILTER (keep_exact AND keep_span AND keep_fluency)
       |    AS INTEGER) AS n_kept
       |FROM gates
       |GROUP BY lang
       |ORDER BY lang NULLS FIRST""".stripMargin) { (s, d) =>
    gateDecisions(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).cast("int").as("n_total"),
        count(when(col("keep_exact"), 1)).cast("int").as("n_exact"),
        count(when(col("keep_exact") && col("keep_span"), 1)).cast("int")
          .as("n_span"),
        count(when(col("keep_exact") && col("keep_span") && col("keep_fluency"), 1))
          .cast("int").as("n_kept"))
      .orderBy(col("lang").asc_nulls_first)
  }

  /** Training-example assembly: funnel survivors, hash-split (q110
    * rule, so membership is stable across reruns and derived tables),
    * left-joined to the embedding modality by id. The fully-assembled,
    * split-tagged, multi-modal example table is what a trainer reads;
    * emb_dim/label are NULL where the modality is missing — the
    * assembly reports coverage instead of silently dropping docs. */
  val qAssembleExamples: GraftQuery = GraftQuery(
    "q124_assemble_examples",
    s"""WITH $gatesSql,
       |kept AS (
       |  SELECT doc_id, lang, n_tok FROM gates
       |  WHERE keep_exact AND keep_span AND keep_fluency)
       |SELECT k.doc_id, k.lang, k.n_tok,
       |  ${TrainingPipeline.splitSqlCase("k.doc_id")} AS split,
       |  e.label,
       |  CAST(len(e.embedding) AS INTEGER) AS emb_dim
       |FROM kept k LEFT JOIN embeddings e ON e.vec_id = k.doc_id
       |ORDER BY k.doc_id""".stripMargin) { (s, d) =>
    val kept = gateDecisions(s, d)
      .where(col("keep_exact") && col("keep_span") && col("keep_fluency"))
      .select(col("doc_id"), col("lang"), col("n_tok"))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"), col("label"),
        size(col("embedding")).as("emb_dim"))
    kept
      .withColumn("split", TrainingPipeline.splitColumn(col("doc_id")))
      .join(emb, Seq("doc_id"), "left")
      .select("doc_id", "lang", "n_tok", "split", "label", "emb_dim")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // Incremental funnel (q130): curate an arriving batch against
  // PERSISTED corpus statistics instead of recomputing the corpus.
  // ---------------------------------------------------------------

  /** Batch membership: `doc_id % 5 = 4` plays the arriving batch (20%
    * of docs, deliberately a mix of even and odd ids so the fluency
    * model's even-id training half gains members too — every index
    * below must merge batch deltas, none can be reused unchanged). */
  private val batchMod = 5
  private val batchRem = 4

  /** The persisted corpus statistics — what a production pipeline
    * stores next to the corpus and updates per ingest. All four are
    * Zipf-/key-compact relative to the corpus token stream:
    *   exactIdx  (content_md5, corpus_min)   min doc_id per content
    *   gramIdx   (g, n)                      corpus 5-gram counts
    *   lmBigIdx  (w1, w2, cb)                even-half bigram counts
    *   vocabIdx  (tok)                       even-half vocabulary
    * Built ONCE per (session, corpus) — the same amortization as
    * Dedup.indexedBands — so batch N pays only its own scan. */
  private val corpusIdx =
    new graft.spark.SessionMemo[String, (DataFrame, DataFrame, DataFrame, DataFrame)](
      "curation.corpusstats")(t =>
      Seq(t._1, t._2, t._3, t._4).foreach(_.unpersist(): Unit))

  /** Spec observability: how many times the corpus statistics were
    * actually BUILT (the streaming spec pins this at one across
    * micro-batches — the memo, not luck, is what amortizes them). */
  private[graft] val corpusStatsBuilds = new java.util.concurrent.atomic.AtomicInteger

  private def corpusStats(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    corpusIdx.getOrElseUpdate(s, d)({
      corpusStatsBuilds.incrementAndGet()
      // filter the SHARED per-(session, corpus) token index rather
      // than re-scanning+re-tokenizing documents four times: the four
      // index builds below each read the cached (doc_id, content_md5,
      // t) projection from NgramStats.indexedDocToks. (The BATCH side
      // keeps its own direct gated parquet scan — that is the audited
      // production hot path; its tokenization must stay expression-
      // identical to the index's for the oracle equivalence to hold.)
      val ctk = NgramStats.indexedDocToks(s, d)
        .where(pmod(col("doc_id"), lit(batchMod)) =!= batchRem)
      val even = ctk.where(pmod(col("doc_id"), lit(2)) === 0)
      val exactIdx = ctk.groupBy("content_md5")
        .agg(min(col("doc_id")).as("corpus_min")).persist()
      val gramIdx = NgramStats.gramStream(ctk)
        .groupBy("g").agg(count(lit(1)).as("n")).persist()
      val lmBigIdx = NgramStats.bigrams(even)
        .groupBy("w1", "w2").agg(count(lit(1)).as("cb")).persist()
      val vocabIdx = even.select(explode(col("t")).as("tok"))
        .distinct().persist()
      (exactIdx, gramIdx, lmBigIdx, vocabIdx)
    })

  /** q130: per-batch-document gate decisions computed INCREMENTALLY —
    * the batch is tokenized from its own scan, every corpus-wide
    * quantity comes from the persisted indexes plus the batch's own
    * deltas, and the oracle is q119's FULL RECOMPUTE over the appended
    * corpus restricted to batch docs. A hash match is therefore an
    * equivalence proof: incremental curation == recompute-from-scratch,
    * per document, bit for bit.
    *
    * Per-gate merge logic (each exact in integer arithmetic):
    *  - exact: the appended-corpus min-id rule splits cleanly — keep
    *    iff the doc is its md5 group's min WITHIN THE BATCH and beats
    *    (or has no) persisted corpus_min. Ids interleave, so `beats`
    *    is a real comparison, not an append-only shortcut.
    *  - span: appended gram count = corpus n (index) + batch n; a
    *    batch gram position is duplicated iff that sum ≥ 2.
    *  - fluency: appended model counts = even-half index counts +
    *    batch-even counts (union → re-aggregate of two compact
    *    relations); context counts re-derive from the merged bigram
    *    relation; |vocab| = |index| + |batch-even tokens anti-joined
    *    against it|. The gate re-applies q119's cross-multiplied
    *    integer inequality under the merged counts.
    *
    * 100 TB: the batch pays one scan of ITSELF plus joins against
    * key-compact indexes — the corpus documents are never rescanned
    * (in production the indexes live as bucketed tables and this
    * becomes index-update + batch-scan; PlanAuditSpec pins the shape:
    * every documents scan in the plan carries the batch predicate). */
  val qIncrementalFunnel: GraftQuery = GraftQuery(
    "q130_incremental_funnel",
    s"""WITH $gatesSql
       |SELECT doc_id, lang, n_tok,
       |  CAST(keep_exact AS INTEGER) AS keep_exact,
       |  CAST(keep_span AS INTEGER) AS keep_span,
       |  CAST(keep_fluency AS INTEGER) AS keep_fluency
       |FROM gates
       |WHERE doc_id % $batchMod = $batchRem
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // the batch's own scan — the only documents read in the hot path
    curateBatch(s, d,
      Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(batchMod)) === batchRem))
  }

  /** q130's gate logic over an ARBITRARY arriving-docs relation — the
    * shared core of the batch query above and the streaming wrapper
    * (the `curate` maintainer of [[graft.streaming.Streams.documents]]): tokenize
    * the arriving docs from their own scan, merge their deltas into
    * the PERSISTED corpus statistics, emit per-doc gate decisions.
    * The docs relation needs (doc_id, lang, text). */
  private[graft] def curateBatch(s: SparkSession, d: String,
      docs: DataFrame): DataFrame = {
    val (exactIdx, gramIdx, lmBigIdx, vocabIdx) = corpusStats(s, d)
    val btk = docs
      .repartition(32)
      .select(col("doc_id"), col("lang"),
        md5(lower(col("text"))).as("content_md5"),
        split(lower(col("text")), " ").as("t"))

    // exact gate: batch-internal min vs persisted corpus min. The join
    // is NULL-SAFE (<=>): md5(lower(text)) is NULL for NULL text, and
    // the oracle's window groups NULL keys together — an equi-join
    // would silently treat every NULL-text batch doc as novel content
    // even when the corpus already holds one (latent until a testdata
    // generation ships NULL text, which the fixtures are allowed to).
    val exact = btk.select(col("doc_id"), col("lang"),
        size(col("t")).as("n_tok"), col("content_md5"),
        min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("content_md5"))).as("batch_min"))
      .join(exactIdx.withColumnRenamed("content_md5", "corpus_md5"),
        col("content_md5") <=> col("corpus_md5"), "left")
      .select(col("doc_id"), col("lang"), col("n_tok"),
        (col("doc_id") === col("batch_min") &&
          (col("corpus_min").isNull || col("doc_id") < col("corpus_min")))
          .as("keep_exact"))

    // span gate: appended count = corpus index + batch count
    val bGrams = NgramStats.gramStream(btk)
    val bGramCounts = bGrams.groupBy("g").agg(count(lit(1)).as("bn"))
    val spans = bGrams
      .join(bGramCounts, Seq("g"))
      .join(gramIdx, Seq("g"), "left")
      .select(col("doc_id"),
        (coalesce(col("n"), lit(0L)) + col("bn")).as("n_app"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("n_app") >= 2, 1)).as("n_dup"))
      .select(col("doc_id"),
        (lit(5) * col("n_dup") <= lit(3) * col("n_grams"))
          .as("keep_span_raw"))

    // fluency gate: merge batch-even deltas into the even-half model
    val bBig = NgramStats.bigrams(btk)
    val bEvenBig = bBig.where(pmod(col("doc_id"), lit(2)) === 0)
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val lmBig = lmBigIdx.unionByName(bEvenBig)
      .groupBy("w1", "w2").agg(sum("cb").as("cb"))
    val lmCtx = lmBig.groupBy("w1").agg(sum("cb").as("c1"))
    val bEvenToks = btk.where(pmod(col("doc_id"), lit(2)) === 0)
      .select(explode(col("t")).as("tok")).distinct()
    val vRow = vocabIdx.agg(count(lit(1)).as("v_old"))
      .crossJoin(bEvenToks.join(vocabIdx, Seq("tok"), "left_anti")
        .agg(count(lit(1)).as("v_new")))
      .select((col("v_old") + col("v_new")).as("v"))
    val scored = bBig
      .join(lmBig, Seq("w1", "w2"), "left")
      .join(lmCtx, Seq("w1"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("cb"), lit(0L))).as("sum_cb"),
        sum(coalesce(col("c1"), lit(0L))).as("sum_c1"))
      .crossJoin(broadcast(vRow))
      .select(col("doc_id"),
        (lit(30) * (col("sum_cb") + col("n_bigrams"))
          >= col("sum_c1") + col("n_bigrams") * col("v"))
          .as("keep_fluency_raw"))

    exact
      .join(spans, Seq("doc_id"), "left")
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tok"),
        col("keep_exact").cast("int").as("keep_exact"),
        coalesce(col("keep_span_raw"), lit(true)).cast("int").as("keep_span"),
        coalesce(col("keep_fluency_raw"), lit(false)).cast("int")
          .as("keep_fluency"))
      .orderBy("doc_id")
  }

  /** Funnel survivors + gate value, memoized per (session, corpus):
    * q138's plan references this relation THREE times (rows, the
    * per-lang totals broadcast, the budget aggregate) — uncached, each
    * reference re-executes the whole n-gram gate pipeline (measured
    * 10 s vs ~1 s at sf0.1). Bounded like the other indexes: one
    * |survivors|-row, 4-column relation per corpus. */
  private val keptIdx =
    new graft.spark.SessionMemo[String, DataFrame](
      "curation.kept")(_.unpersist(): Unit)

  private def keptWithGate(s: SparkSession, d: String): DataFrame =
    keptIdx.getOrElseUpdate(s, d)(
      gateDecisions(s, d)
        .where(col("keep_exact") && col("keep_span") && col("keep_fluency"))
        .select(col("doc_id"), col("lang"),
          col("n_tok").cast("long").as("n_tok"),
          TrainingPipeline.gate32(col("doc_id")).as("h"))
        .persist())

  /** CAPSTONE: the full curation pipeline composed end-to-end in ONE
    * oracle-paired query — quality funnel (q119's three gates) →
    * token-budget mixture over the SURVIVORS (q137's exact
    * cross-multiplied gate, rates derived from the kept set's own
    * token totals) → q110 hash-split tag → per-(lang, split) training
    * manifest with the packed-sequence budget (ceil(tokens/2048), the
    * contiguous-packing lower bound q111 realizes per shard). Every
    * stage reuses the exact arithmetic its standalone query verifies,
    * so the hash match here proves the stages COMPOSE — same gates,
    * same rates, same split membership — not merely that each works
    * alone.
    *
    * 100 TB: nothing new is paid for composition — the funnel reads
    * the one persisted token index, the mixture adds one |langs|-row
    * aggregate broadcast back, split is a per-row hash, and the
    * manifest is one partial-aggregated shuffle of |langs × splits|
    * rows. */
  val qCurationManifest: GraftQuery = GraftQuery(
    "q138_curation_manifest",
    s"""WITH $gatesSql,
       |kept AS (
       |  SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
       |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
       |  FROM gates WHERE keep_exact AND keep_span AND keep_fluency),
       |tot AS (
       |  SELECT lang, CAST(sum(n_tok) AS BIGINT) AS t_lang
       |  FROM kept GROUP BY lang),
       |g AS (SELECT CAST(sum(t_lang) AS BIGINT) // 2 AS budget FROM tot),
       |mixed AS (
       |  SELECT k.doc_id, k.lang, k.n_tok
       |  FROM kept k JOIN tot USING (lang) CROSS JOIN g
       |  WHERE CAST(k.h AS HUGEINT) * CAST(tot.t_lang AS HUGEINT) * 1000
       |      < CAST(4294967296 AS HUGEINT) * CAST(g.budget AS HUGEINT)
       |        * (CASE WHEN k.lang = 'en' THEN 400 ELSE 150 END)),
       |tagged AS (
       |  SELECT doc_id, lang, n_tok,
       |    ${TrainingPipeline.splitSqlCase("doc_id")} AS split
       |  FROM mixed)
       |SELECT lang, split,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       |  CAST((sum(n_tok) + 2047) // 2048 AS BIGINT) AS seq_budget,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM tagged
       |GROUP BY lang, split
       |ORDER BY lang NULLS FIRST, split""".stripMargin) { (s, d) =>
    val kept = keptWithGate(s, d)
    val tot = kept.groupBy("lang").agg(sum("n_tok").as("t_lang"))
    val g = tot.agg(sum("t_lang").cast("long").as("t_all"))
      .select(expr("t_all DIV 2").as("budget"))
    kept.join(broadcast(tot), "lang")
      .crossJoin(broadcast(g))
      .where(TrainingPipeline.budgetKeep(
        col("h"), col("t_lang"), col("budget"), TrainingPipeline.mixWeight))
      .withColumn("split", TrainingPipeline.splitColumn(col("doc_id")))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("sum_tokens"),
        expr("(sum(n_tok) + 2047) DIV 2048").as("seq_budget"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
      .orderBy(col("lang").asc_nulls_first, col("split"))
  }

  def all: Seq[GraftQuery] =
    Seq(qCurationFunnel, qAssembleExamples, qIncrementalFunnel,
      qCurationManifest)
}
