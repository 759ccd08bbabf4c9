package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Everything here is built from native Spark SQL functions (regexp_*,
  * higher-order array functions) — whole-stage-codegen'd, no UDFs — so
  * a 100 TB corpus scan stays a single embarrassingly-parallel
  * projection with zero shuffles.
  */
object TextFunctions {

  /** Whitespace tokens. */
  def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish token pattern: letter runs, digit runs, single punctuation. */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Token counting: whitespace tokens + a BPE-ish regex token count. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(wsTokens(col("text"))).as("ws_tokens"),
      regexp_count(col("text"), lit(BpeTokenPattern)).as("bpe_tokens"),
      length(col("text")).as("n_chars_m"))

  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    tokenCounts(Tables.documents(spark, dir)).orderBy("doc_id")

  val tokenCountsSql: String =
    s"""SELECT doc_id,
       | CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS ws_tokens,
       | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS bpe_tokens,
       | CAST(length(text) AS INTEGER) AS n_chars_m
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Cross-source quality calibration — each document's quality score
    * re-expressed as its WITHIN-SOURCE percentile rank. Raw quality
    * scores aren't comparable across sources (each source has its own
    * score distribution), so a global threshold over-prunes some
    * sources and under-prunes others; rank-calibrating per source is
    * the standard fix before a corpus-wide quality cut. pct =
    * (rank−1)/(n−1) over the (quality, doc_id) total order, 0 for a
    * single-doc source.
    *
    * Scale design: one scoring projection over the corpus scan and a
    * source-partitioned window (key-partitioned, never global).
    */
  def qualityCalibrated(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), qualityExpr(col("text")).as("quality"))
    q.withColumn("rk",
        row_number().over(Window.partitionBy("source")
          .orderBy("quality", "doc_id")).cast("long"))
      .withColumn("nn",
        count(lit(1)).over(Window.partitionBy("source")).cast("long"))
      .withColumn("pct",
        when(col("nn") > 1,
          round((col("rk") - 1).cast("double") / (col("nn") - 1), 6))
          .otherwise(lit(0.0)))
      .select("doc_id", "source", "quality", "pct")
      .orderBy("doc_id")
  }

  /** [[qualityScoreSql]]'s m CTE + quality expression re-used by
    * string surgery (one scoring definition, two certified faces),
    * with the calibration window appended.
    */
  // lazy: qualityScoreSql is declared further down the object — an
  // eager val here reads null during static init
  lazy val qualityCalibratedSql: String = {
    val mTailSplit = "SELECT doc_id,\n  round(stops / toks, 4) AS stop_ratio,"
    val qStart = "round(least(1.0, (stops / toks) * 2.5)"
    require(qualityScoreSql.contains(mTailSplit) && qualityScoreSql.contains(qStart),
      "qualityScoreSql shape drifted — update qualityCalibratedSql")
    val mCte = qualityScoreSql.substring(0, qualityScoreSql.indexOf(mTailSplit))
      .replace("SELECT doc_id,", "SELECT doc_id, source,")
    val qExpr = qualityScoreSql.substring(
      qualityScoreSql.indexOf(qStart),
      qualityScoreSql.indexOf(" AS quality"))
    s"""${mCte.trim.stripSuffix(")")}),
       |q AS (
       |  SELECT doc_id, source, $qExpr AS quality FROM m),
       |r AS (
       |  SELECT doc_id, source, quality,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY quality, doc_id) AS BIGINT) AS rk,
       |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS nn
       |  FROM q)
       |SELECT doc_id, source, quality,
       |  CASE WHEN nn > 1 THEN round(CAST(rk - 1 AS DOUBLE) / (nn - 1), 6) ELSE 0.0 END AS pct
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Per-source language-mix entropy — the diversity health check on a
    * multi-source corpus: for each source, its document count, number
    * of languages, Shannon entropy of the language distribution
    * (nats), and the normalized entropy H/ln(n_langs) in [0,1] (1 =
    * perfectly balanced mix, 0 = monolingual). A source whose
    * normalized entropy collapses between snapshots silently became
    * monolingual — the drift that skews a language-balanced training
    * mix. Entropy terms are exact integer ratios through ln, 4-dp
    * rounded (the zipf-fit ln precedent).
    *
    * Scale design: one (source, lang) key agg (dims-scale output), a
    * dims-scale window for per-source totals, one final fold — the
    * corpus scan is the only data-sized work.
    */
  def sourceLangEntropy(spark: SparkSession, dir: String): DataFrame =
    entropyFace(Tables.documents(spark, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("c")))

  /** The entropy projection over a (source, lang, c) counts relation —
    * shared with the streaming maintained face.
    */
  private[graft] def entropyFace(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    counts
      .withColumn("tot", sum(col("c")).over(Window.partitionBy("source")))
      .groupBy("source")
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        round(-sum((col("c").cast("double") / col("tot")) *
          log(col("c").cast("double") / col("tot"))), 4).as("entropy"))
      .withColumn("norm_entropy",
        when(col("n_langs") > 1,
          round(col("entropy") / round(log(col("n_langs").cast("double")), 6), 4))
          .otherwise(lit(0.0)))
      .orderBy("source")
  }

  val sourceLangEntropySql: String =
    """WITH sl AS (
      |  SELECT source, lang, count(*) AS c FROM documents GROUP BY source, lang),
      |t AS (
      |  SELECT source, lang, c, sum(c) OVER (PARTITION BY source) AS tot FROM sl)
      |SELECT source,
      |  CAST(sum(c) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_langs,
      |  round(-sum((CAST(c AS DOUBLE)/tot) * ln(CAST(c AS DOUBLE)/tot)), 4) AS entropy,
      |  CASE WHEN count(*) > 1
      |    THEN round(round(-sum((CAST(c AS DOUBLE)/tot) * ln(CAST(c AS DOUBLE)/tot)), 4)
      |      / round(ln(CAST(count(*) AS DOUBLE)), 6), 4)
      |    ELSE 0.0 END AS norm_entropy
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  /** Vocabulary-concentration curve — what share of total token mass
    * the top-10/100/1000 types cover, plus the full type count. The
    * tokenizer/vocab-sizing readout: a corpus whose top-1000 types
    * cover 95 % of mass tokenizes compactly with a small vocab; flat
    * coverage means byte-level fallback will dominate. One row:
    * (n_types, total_tokens, coverage_top10/100/1000, 4 dp).
    *
    * Scale design: the substrate is the memoized (token, n) totals;
    * only the top-1000 types can contribute to any coverage number, so
    * they arrive via a distributed TakeOrdered (per-partition top-k +
    * driver merge — never a vocabulary-sized global sort; r14,
    * formerly a full-vocab single-partition rank window) and the
    * coverage prefixes read a sorted ≤1000-element array (r18 —
    * windowless). n_types/total_tokens come from a plain aggregate
    * with map-side partials.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val totals = tokenTotals(cachedDocTokenCounts(spark, dir))
    // prefix sums over the sorted ≤1000-row array instead of an
    // unpartitioned rank window (r18; the rank only ever gated the
    // ≤10/≤100 mass prefixes): struct sort on (-n, token) replays the
    // (n DESC, token) order and slice() truncates on short arrays —
    // exact long arithmetic, no single-partition WindowExec
    val top = totals.select("token", "n")
      .orderBy(col("n").desc, col("token")).limit(1000)
    def prefixMass(s: Column, k: Int) =
      aggregate(slice(s, 1, k), lit(0L), (a, x) => a - x.getField("nn"))
    val masses = top
      .agg(sort_array(collect_list(struct((-col("n")).as("nn"), col("token")))).as("s"))
      .select(prefixMass(col("s"), 10).as("m10"),
        prefixMass(col("s"), 100).as("m100"),
        prefixMass(col("s"), 1000).as("m1000"))
    totals
      .agg(count(lit(1)).as("n_types"), sum(col("n")).as("total_tokens"))
      .crossJoin(masses)
      .select(col("n_types"), col("total_tokens"),
        round(col("m10").cast("double") / col("total_tokens"), 4).as("coverage_top10"),
        round(col("m100").cast("double") / col("total_tokens"), 4).as("coverage_top100"),
        round(col("m1000").cast("double") / col("total_tokens"), 4).as("coverage_top1000"))
  }

  val vocabCoverageSql: String =
    """WITH tok AS (
      |  SELECT token, count(*) AS n FROM (
      |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |    FROM documents)
      |  WHERE token <> '' GROUP BY token),
      |ranked AS (
      |  SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM tok)
      |SELECT CAST(count(*) AS BIGINT) AS n_types,
      |  CAST(sum(n) AS BIGINT) AS total_tokens,
      |  round(CAST(sum(CASE WHEN rank <= 10 THEN n ELSE 0 END) AS DOUBLE) / sum(n), 4) AS coverage_top10,
      |  round(CAST(sum(CASE WHEN rank <= 100 THEN n ELSE 0 END) AS DOUBLE) / sum(n), 4) AS coverage_top100,
      |  round(CAST(sum(CASE WHEN rank <= 1000 THEN n ELSE 0 END) AS DOUBLE) / sum(n), 4) AS coverage_top1000
      |FROM ranked""".stripMargin

  /** Per-document boilerplate profile — sentence-level cross-document
    * duplication, the CCNet/Dolma-style cleanup signal: split every
    * doc into sentences (common-regex-subset `[.!?]+\s*` terminator
    * split, lowercased + trimmed, empties dropped, per-doc distinct),
    * compute each sentence's document frequency across the corpus, and
    * report per doc how many of its distinct sentences appear in ≥ 2
    * docs (`boilerplate_rate`). High-rate docs are navigation chrome /
    * templates / license banners — removing them lifts downstream
    * model quality more than most quality filters.
    *
    * Scale design: one sentence-keyed partial-agg for the df table and
    * one co-partitioned sentence-key join back (both sides shuffle on
    * the same key — no broadcast of corpus-sized state anywhere), then
    * a doc-keyed agg. At 100 TB the sentence key would be a 64-bit
    * hash instead of the raw string (same shuffle shapes, 10× less
    * shuffle volume) — kept raw here so the oracle replays exactly.
    */
  def boilerplateStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    boilerplateFace(sentenceDf(docs), docs)
  }

  /** (doc_id, s): each doc's distinct normalized sentences. */
  private[graft] def docSentences(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), "[.!?]+\\s*")).as("s0"))
      .select(col("doc_id"), trim(lower(col("s0"))).as("s"))
      .filter(length(col("s")) > 0)
      .distinct()

  /** (s, sdf): corpus sentence document frequency — ADDITIVE across
    * batches when each doc arrives exactly once (the
    * DeltaStore contract the streaming face rides).
    */
  private[graft] def sentenceDf(docs: DataFrame): DataFrame =
    docSentences(docs).groupBy("s")
      .agg(countDistinct(col("doc_id")).as("sdf"))

  /** Per-doc boilerplate profile of `docs` against a (possibly
    * streamed) sentence-df relation.
    */
  private[graft] def boilerplateFace(df: DataFrame, docs: DataFrame): DataFrame =
    docSentences(docs).join(df, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sentences"),
        sum(when(col("sdf") >= 2, 1L).otherwise(0L)).as("n_boilerplate"))
      .withColumn("boilerplate_rate",
        round(col("n_boilerplate").cast("double") / col("n_sentences"), 4))
      .orderBy("doc_id")

  val boilerplateStatsSql: String =
    """WITH sent AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id, trim(lower(unnest(regexp_split_to_array(text, '[.!?]+\s*')))) AS s
      |    FROM documents)
      |  WHERE length(s) > 0),
      |df AS (SELECT s, count(DISTINCT doc_id) AS sdf FROM sent GROUP BY s)
      |SELECT sent.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_sentences,
      |  CAST(sum(CASE WHEN df.sdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
      |  round(CAST(sum(CASE WHEN df.sdf >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS boilerplate_rate
      |FROM sent JOIN df USING (s)
      |GROUP BY sent.doc_id ORDER BY sent.doc_id""".stripMargin

  /** Per-language tokenizer-fertility audit — the multilingual
    * pretraining metric that decides whether a tokenizer is fair to a
    * language: `fertility` = subword tokens per whitespace word (high
    * fertility means the language's sequences inflate, eating its
    * effective context and token budget) and `bytes_per_token` =
    * UTF-8 bytes each subword token covers (the compression rate that
    * sets real cost per byte of corpus). Grouped by the corpus'
    * ground-truth `lang` column with the counting substrates of
    * [[tokenCounts]] (whitespace split + the BPE-ish regex) plus
    * `octet_length` for bytes.
    *
    * Scale design: one projection over the corpus scan, one
    * |langs|-key partial agg — no joins, no second pass; the ratios
    * are driver-free arithmetic on the aggregated BIGINTs.
    */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.select(col("lang"),
        size(wsTokens(col("text"))).as("ws"),
        regexp_count(col("text"), lit(BpeTokenPattern)).as("bpe"),
        octet_length(col("text")).as("bytes"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("bytes")).as("n_bytes"))
      .withColumn("fertility",
        when(col("ws_tokens") > 0,
          round(col("bpe_tokens").cast("double") / col("ws_tokens"), 4)))
      .withColumn("bytes_per_token",
        when(col("bpe_tokens") > 0,
          round(col("n_bytes").cast("double") / col("bpe_tokens"), 4)))
      .orderBy("lang")
  }

  val tokenFertilitySql: String =
    s"""WITH t AS (
       |  SELECT lang,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws,
       |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe,
       |    CAST(strlen(text) AS BIGINT) AS bytes
       |  FROM documents)
       |SELECT lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
       |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
       |  CAST(sum(bytes) AS BIGINT) AS n_bytes,
       |  CASE WHEN sum(ws) > 0
       |    THEN round(CAST(sum(bpe) AS DOUBLE) / CAST(sum(ws) AS DOUBLE), 4) END AS fertility,
       |  CASE WHEN sum(bpe) > 0
       |    THEN round(CAST(sum(bytes) AS DOUBLE) / CAST(sum(bpe) AS DOUBLE), 4) END AS bytes_per_token
       |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  /** Quality scoring: structural ratios every pretraining filter uses.
    * stopword density, punctuation density, uppercase density, mean
    * token length — combined into a [0,1]-ish score.
    */
  /** Quality-signal sub-expressions — ONE definition each (the
    * stopword list / punctuation class must not drift between the
    * per-signal columns and the combined score).
    */
  val StopwordPattern = "\\b(the|a|an|of|to|and|in|is|it|that)\\b"
  private def charsOf(text: Column) = length(text).cast("double")
  private def toksOf(text: Column) = size(wsTokens(text)).cast("double")
  private def stopsOf(text: Column) = regexp_count(lower(text), lit(StopwordPattern)).cast("double")
  private def punctOf(text: Column) = regexp_count(text, lit("[.,!?;:]")).cast("double")

  /** The combined [0,1]-ish quality score as a reusable expression
    * (shared by qualityScore, corpusStats, and the curation pipeline).
    */
  def qualityExpr(text: Column): Column = {
    val chars = charsOf(text); val toks = toksOf(text)
    val stops = stopsOf(text); val punct = punctOf(text)
    round(
      least(lit(1.0), (stops / toks) * 2.5)
        * (lit(1.0) - least(lit(1.0), (punct / greatest(chars, lit(1.0))) * 10.0))
        * least(lit(1.0), log(lit(1.0) + toks) / 5.0), 4)
  }

  def qualityScore(docs: DataFrame): DataFrame = {
    val text = col("text")
    val chars = charsOf(text); val toks = toksOf(text)
    val upper = regexp_count(text, lit("[A-Z]")).cast("double")
    docs.select(
      col("doc_id"),
      round((stopsOf(text) / toks), 4).as("stop_ratio"),
      round((punctOf(text) / greatest(chars, lit(1.0))), 4).as("punct_ratio"),
      round((upper / greatest(chars, lit(1.0))), 4).as("upper_ratio"),
      round(chars / toks, 4).as("chars_per_token"),
      qualityExpr(text).as("quality"))
  }

  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScore(Tables.documents(spark, dir)).orderBy("doc_id")

  val qualityScoreSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS DOUBLE) AS chars,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS toks,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|of|to|and|in|is|it|that)\b')) AS DOUBLE) AS stops,
      |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS punct,
      |    CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) AS upper
      |  FROM documents)
      |SELECT doc_id,
      |  round(stops / toks, 4) AS stop_ratio,
      |  round(punct / greatest(chars, 1.0), 4) AS punct_ratio,
      |  round(upper / greatest(chars, 1.0), 4) AS upper_ratio,
      |  round(chars / toks, 4) AS chars_per_token,
      |  round(least(1.0, (stops / toks) * 2.5)
      |    * (1.0 - least(1.0, (punct / greatest(chars, 1.0)) * 10.0))
      |    * least(1.0, ln(1.0 + toks) / 5.0), 4) AS quality
      |FROM m ORDER BY doc_id""".stripMargin

  /** Quality-ordered curriculum buckets: the corpus split into quality
    * quartiles (ntile over the certified [[qualityScore]] signal, ties
    * broken by doc_id for a deterministic total order) with per-bucket
    * doc/token mass and the quality range — the stage plan a
    * curriculum-ordered training run consumes (feed high-quality
    * buckets late/more, low-quality early/less). The exact face sorts
    * a 3-column projection once, as [[graft.functions.Ranks.globalNtile]]
    * — range partitions + exact ntile arithmetic, never a
    * single-partition window (r14: the former global-ntile prose made
    * code); the approx-quantile-boundary + map-side-assign swap (the
    * `price_percentiles_approx` discipline) remains the documented
    * looser tier for when even the doc-grain sort is unwelcome.
    */
  def curriculumBuckets(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"),
      size(wsTokens(col("text"))).cast("long").as("toks"),
      qualityExpr(col("text")).as("quality"))
    Ranks.globalNtile(scored, 4, Seq(col("quality"), col("doc_id")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"),
        round(avg("quality"), 4).as("avg_quality"),
        min("quality").as("min_quality"), max("quality").as("max_quality"))
      .orderBy("bucket")
  }

  def curriculumBuckets(spark: SparkSession, dir: String): DataFrame =
    curriculumBuckets(Tables.documents(spark, dir))

  val curriculumBucketsSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS DOUBLE) AS chars,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS toks,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|of|to|and|in|is|it|that)\b')) AS DOUBLE) AS stops,
      |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS punct
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, CAST(toks AS BIGINT) AS toks,
      |    round(least(1.0, (stops / toks) * 2.5)
      |      * (1.0 - least(1.0, (punct / greatest(chars, 1.0)) * 10.0))
      |      * least(1.0, ln(1.0 + toks) / 5.0), 4) AS quality
      |  FROM m),
      |b AS (SELECT *, ntile(4) OVER (ORDER BY quality, doc_id) AS bucket FROM q)
      |SELECT bucket, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS tokens,
      |  round(avg(quality), 4) AS avg_quality,
      |  min(quality) AS min_quality, max(quality) AS max_quality
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Readability profile per (lang, source) corpus slice: mean
    * words-per-sentence, chars-per-word, and a Flesch-SHAPED ease
    * proxy 206.835 − 1.015·wps − 84.6·(cpw/3) — chars-per-word stands
    * in for syllables-per-word (no syllabifier is cross-engine
    * reproducible; the /3 rescales typical char counts into syllable
    * range). The corpus-mix readout a curation pipeline uses to
    * compare slices, not an absolute grade level.
    *
    * The slice metrics are MICRO-averaged — ratios of the slice's
    * exact integer sums (Σtoks/Σsents, Σchars/Σtoks), not means of
    * per-doc ratios: integer sums are accumulation-order-exact, so the
    * 4-dp values are bit-stable across engines, where a mean of
    * rounded per-doc doubles measurably flips last digits (3% of
    * slices at sf0.01, observed). Sentence enders count via the same
    * regexp_count ↔ regexp_extract_all pairing the quality family
    * certifies. One scan, map-side partials into the |lang|·|source|
    * matrix.
    */
  def textReadability(docs: DataFrame): DataFrame =
    readabilityFace(readabilityCounts(docs)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("toks").as("t"), sum("sents").as("s"), sum("chars").as("c")))

  /** Per-doc integer substrate of [[textReadability]] — (lang, source,
    * chars, toks, sents); the additive half the streaming fold
    * maintains ([[graft.streaming.StreamingReadabilityJob]]).
    */
  private[graft] def readabilityCounts(docs: DataFrame): DataFrame = {
    val text = col("text")
    docs.select(col("lang"), col("source"),
      charsOf(text).cast("long").as("chars"),
      toksOf(text).cast("long").as("toks"),
      greatest(regexp_count(text, lit("[.!?]")), lit(1)).cast("long").as("sents"))
  }

  /** The ratio projection over the per-slice integer sums — shared
    * verbatim between the batch entry and the streaming read face, so
    * streamed == batch is structural (and exact: the sums are
    * integers).
    */
  private[graft] def readabilityFace(sums: DataFrame): DataFrame =
    sums
      .select(col("lang"), col("source"), col("n_docs"),
        round(col("t").cast("double") / col("s"), 4).as("wps"),
        round(col("c").cast("double") / col("t"), 4).as("cpw"))
      .withColumn("ease", round(lit(206.835) - lit(1.015) * col("wps")
        - lit(84.6) * (col("cpw") / 3.0), 4))
      .orderBy("lang", "source")

  def textReadability(spark: SparkSession, dir: String): DataFrame =
    textReadability(Tables.documents(spark, dir))

  val textReadabilitySql: String =
    """WITH m AS (
      |  SELECT lang, source,
      |    length(text) AS chars,
      |    len(regexp_split_to_array(trim(text), '\s+')) AS toks,
      |    greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS sents
      |  FROM documents),
      |g AS (
      |  SELECT lang, source, count(*) AS n_docs,
      |    sum(toks) AS t, sum(sents) AS s, sum(chars) AS c
      |  FROM m GROUP BY 1, 2),
      |r AS (
      |  SELECT lang, source, n_docs,
      |    round(CAST(t AS DOUBLE) / s, 4) AS wps,
      |    round(CAST(c AS DOUBLE) / t, 4) AS cpw
      |  FROM g)
      |SELECT lang, source, n_docs, wps, cpw,
      |  round(206.835 - 1.015 * wps - 84.6 * (cpw / 3.0), 4) AS ease
      |FROM r ORDER BY lang, source""".stripMargin

  /** Word-bigram corpus counts (n-gram extraction), top 50.
    *
    * Tokens are materialized in their own projection before the bigram
    * lambda touches them: a lambda capturing the raw
    * `split(trim(lower(text)))` expression re-tokenizes the doc once
    * per element under interpreted HOF eval (~20× slower, measured).
    */
  def topBigrams(docs: DataFrame): DataFrame = {
    val t = col("__toks")
    docs
      .select(wsTokens(trim(lower(col("text")))).as("__toks"))
      .filter(size(t) >= 2) // guard: sequence(0, -1) descends under one token
      .select(explode(transform(sequence(lit(0), size(t) - 2),
        i => concat(element_at(t, i + 1), lit(" "), element_at(t, i + 2)))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(50)
  }

  def topBigrams(spark: SparkSession, dir: String): DataFrame =
    topBigrams(Tables.documents(spark, dir))

  val topBigramsSql: String =
    """WITH toks AS (
      |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS l FROM documents),
      |bi AS (
      |  SELECT l[i] || ' ' || l[i + 1] AS bigram
      |  FROM toks, UNNEST(range(1, len(l))) AS t(i))
      |SELECT bigram, count(*) AS n FROM bi
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50""".stripMargin

  /** Character trigram corpus counts, top 50. Same staging rule as
    * [[topBigrams]]: the lowercased text is materialized before the
    * trigram lambda touches it.
    */
  def topCharTrigrams(docs: DataFrame): DataFrame = {
    val t = col("__lower")
    docs
      .select(lower(col("text")).as("__lower"))
      .select(explode(transform(sequence(lit(1), greatest(length(t) - 2, lit(1))),
        i => t.substr(i, lit(3)))).as("trigram"))
      .filter(length(col("trigram")) === 3)
      .groupBy("trigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("trigram"))
      .limit(50)
  }

  def topCharTrigrams(spark: SparkSession, dir: String): DataFrame =
    topCharTrigrams(Tables.documents(spark, dir))

  val topCharTrigramsSql: String =
    """WITH tri AS (
      |  SELECT substr(lower(text), CAST(i AS INTEGER), 3) AS trigram
      |  FROM documents, UNNEST(range(1, greatest(length(text) - 2, 1) + 1)) AS t(i))
      |SELECT trigram, count(*) AS n FROM tri
      |WHERE length(trigram) = 3
      |GROUP BY trigram ORDER BY n DESC, trigram LIMIT 50""".stripMargin

  /** Repetition signals (Gopher-style quality filters): the fraction of
    * tokens that repeat an earlier token in the doc, and the share of
    * all word bigrams taken by the single most frequent bigram. High
    * values flag templated/spammy documents. Per-doc computation only:
    * the unigram signal is a pure projection; the bigram signal is one
    * (doc_id, bigram) aggregation — both shuffles keyed by doc_id, no
    * corpus-wide state, so the plan scales linearly with the corpus.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val t = col("__toks")
    val toked = docs.select(col("doc_id"), wsTokens(trim(lower(col("text")))).as("__toks"))
    val uni = toked.select(col("doc_id"),
        size(t).cast("double").as("n_toks"),
        size(array_distinct(t)).cast("double").as("n_distinct"))
      .select(col("doc_id"),
        round(lit(1.0) - col("n_distinct") / greatest(col("n_toks"), lit(1.0)), 4)
          .as("dup_token_frac"))
    val bi = toked
      .filter(size(t) >= 2) // guard: sequence(0, -1) descends under one token
      .select(col("doc_id"), explode(transform(sequence(lit(0), size(t) - 2),
        i => concat(element_at(t, i + 1), lit(" "), element_at(t, i + 2)))).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(max("n").cast("double").as("top_n"), sum("n").cast("double").as("total"))
      .select(col("doc_id"), round(col("top_n") / col("total"), 4).as("top_bigram_frac"))
    uni.join(bi, Seq("doc_id"), "left")
      .na.fill(0.0, Seq("top_bigram_frac"))
      .orderBy("doc_id")
  }

  def repetitionSignals(spark: SparkSession, dir: String): DataFrame =
    repetitionSignals(Tables.documents(spark, dir))

  val repetitionSignalsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS l FROM documents),
      |uni AS (
      |  SELECT doc_id,
      |    round(1.0 - len(list_distinct(l)) * 1.0 / greatest(len(l), 1), 4) AS dup_token_frac
      |  FROM toks),
      |bi AS (
      |  SELECT doc_id, l[i] || ' ' || l[i + 1] AS bigram
      |  FROM toks, UNNEST(range(1, len(l))) AS t(i)),
      |cnt AS (SELECT doc_id, bigram, count(*) AS n FROM bi GROUP BY 1, 2),
      |agg AS (
      |  SELECT doc_id, round(max(n) * 1.0 / sum(n), 4) AS top_bigram_frac
      |  FROM cnt GROUP BY doc_id)
      |SELECT u.doc_id, u.dup_token_frac,
      |  coalesce(a.top_bigram_frac, 0.0) AS top_bigram_frac
      |FROM uni u LEFT JOIN agg a ON u.doc_id = a.doc_id
      |ORDER BY u.doc_id""".stripMargin

  /** 64-bit-ish rolling-hash document fingerprint (mod a large prime so
    * the arithmetic is overflow-free under ANSI mode). Deterministic,
    * order-sensitive — the classic content-defined fingerprint.
    * Built from higher-order functions (aggregate over char codes).
    */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => (acc * 131 + c) % 1000000007L)

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprint(col("text")).as("fp"),
      length(col("text")).as("n_chars_m"))

  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    fingerprints(Tables.documents(spark, dir)).orderBy("doc_id")

  val fingerprintsSql: String =
    """SELECT doc_id,
      | list_reduce(list_prepend(CAST(0 AS BIGINT),
      |   list_transform(string_split_regex(text, ''), c -> CAST(ord(c) AS BIGINT))),
      |   (acc, c) -> (acc * 131 + c) % 1000000007) AS fp,
      | CAST(length(text) AS INTEGER) AS n_chars_m
      |FROM documents ORDER BY doc_id""".stripMargin

  /** End-to-end corpus curation: quality-gate → exact-dedup (keep the
    * smallest doc_id per normalized text) → deterministic train/val/
    * test assignment → per-split accounting. The composition every
    * training-data pipeline runs, as ONE declarative plan: Catalyst
    * fuses the quality projection into the scan, the dedup is a single
    * hash aggregation, and the split is an affine bucket — two
    * shuffles total at any scale.
    */
  def curationPipeline(docs: DataFrame, minQuality: Double = 0.1): DataFrame = {
    // quality is computed INLINE on the scan (qualityExpr) — joining a
    // scored frame back to docs for `text` would add a full corpus
    // shuffle just to recover a column the scan already had
    val gated = docs
      .select(col("doc_id"), col("text"), qualityExpr(col("text")).as("quality"))
      .filter(col("quality") >= minQuality)
    val deduped = gated
      .groupBy(graft.dedup.Dedup.normText(col("text")).as("norm"))
      .agg(min("doc_id").as("doc_id"), max("quality").as("quality"))
    val bucket = pmod(col("doc_id") * 40503L, lit(100L))
    deduped
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), round(avg("quality"), 4).as("avg_quality"))
      .orderBy("split")
  }

  def curationPipeline(spark: SparkSession, dir: String): DataFrame =
    curationPipeline(Tables.documents(spark, dir))

  val curationPipelineSql: String =
    """WITH m AS (
      |  SELECT doc_id, text,
      |    CAST(length(text) AS DOUBLE) AS chars,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS toks,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|of|to|and|in|is|it|that)\b')) AS DOUBLE) AS stops,
      |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS punct
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, text,
      |    round(least(1.0, (stops / toks) * 2.5)
      |      * (1.0 - least(1.0, (punct / greatest(chars, 1.0)) * 10.0))
      |      * least(1.0, ln(1.0 + toks) / 5.0), 4) AS quality
      |  FROM m),
      |flt AS (SELECT * FROM q WHERE quality >= 0.1),
      |ded AS (
      |  SELECT min(doc_id) AS doc_id, max(quality) AS quality
      |  FROM flt GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      |SELECT CASE WHEN (doc_id * 40503) % 100 < 80 THEN 'train'
      |            WHEN (doc_id * 40503) % 100 < 90 THEN 'val'
      |            ELSE 'test' END AS split,
      | count(*) AS n_docs, round(avg(quality), 4) AS avg_quality
      |FROM ded GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-source corpus accounting — the summary every corpus-mixing
    * decision starts from: document counts, token mass, mean quality,
    * language spread per source. One partial-agg shuffle on `source`.
    */
  def corpusStats(docs: DataFrame): DataFrame = {
    val toks = size(wsTokens(col("text")))
    docs.select(col("source"), col("lang"), col("n_chars"), toks.as("toks"),
        qualityExpr(col("text")).as("quality"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks").cast("long")).as("total_tokens"),
        round(avg("toks"), 4).as("avg_tokens"),
        round(avg("n_chars"), 4).as("avg_chars"),
        round(avg("quality"), 4).as("avg_quality"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("source")
  }

  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    corpusStats(Tables.documents(spark, dir))

  val corpusStatsSql: String =
    """WITH m AS (
      |  SELECT source, lang, n_chars, text,
      |    CAST(length(text) AS DOUBLE) AS chars,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS toks,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|of|to|and|in|is|it|that)\b')) AS DOUBLE) AS stops,
      |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS punct
      |  FROM documents),
      |q AS (
      |  SELECT source, lang, n_chars, CAST(toks AS BIGINT) AS toks,
      |    round(least(1.0, (stops / toks) * 2.5)
      |      * (1.0 - least(1.0, (punct / greatest(chars, 1.0)) * 10.0))
      |      * least(1.0, ln(1.0 + toks) / 5.0), 4) AS quality
      |  FROM m)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(toks) AS BIGINT) AS total_tokens,
      |  round(avg(toks), 4) AS avg_tokens,
      |  round(avg(n_chars), 4) AS avg_chars,
      |  round(avg(quality), 4) AS avg_quality,
      |  count(DISTINCT lang) AS n_langs
      |FROM q GROUP BY source ORDER BY source""".stripMargin

  /** Deterministic sequence packing: assign documents to fixed-token-
    * budget training packs. Docs are spread across `buckets` arithmetic
    * bins (deterministic, engine-portable); within a bucket a running
    * token sum assigns each doc to the pack where it starts. The window
    * partitions by bucket, so the sort is per-bucket — set `buckets` ≈
    * executor cores × a few so each sort stays partition-sized at
    * 100 TB (this is the standard distributable approximation of
    * sequential first-fit packing; packs can overflow by at most one
    * document, exactly like streaming packers).
    */
  def packSequences(docs: DataFrame, seqLen: Int = 256, buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs
      .select(col("doc_id"), size(wsTokens(col("text"))).as("toks"))
      .withColumn("bucket", pmod(col("doc_id"), lit(buckets.toLong)))
    val w = Window.partitionBy("bucket").orderBy("doc_id")
    t.withColumn("cum", sum("toks").over(w))
      .withColumn("pack_id", floor((col("cum") - col("toks")) / seqLen).cast("long"))
      .groupBy("bucket", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks").cast("long")).as("pack_tokens"))
      .orderBy("bucket", "pack_id")
  }

  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packSequences(Tables.documents(spark, dir))

  val packSequencesSql: String =
    """WITH t AS (
      |  SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS toks,
      |    doc_id % 64 AS bucket
      |  FROM documents),
      |c AS (
      |  SELECT *, sum(toks) OVER (PARTITION BY bucket ORDER BY doc_id) AS cum FROM t)
      |SELECT bucket, CAST(floor((cum - toks) / 256) AS BIGINT) AS pack_id,
      |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS pack_tokens
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Context-length planning sweep over the [[packSequences]] packing:
    * for each candidate sequence length, the pack count, the
    * document-fragmentation cost (docs a cut boundary splits — the
    * attention-truncation damage of concat packing), and the per-bucket
    * tail padding waste. These are THE axes a training run trades when
    * it picks its context length, measured on this corpus's actual
    * length distribution rather than assumed. One windowed
    * cumulative-sum pass (shared with the packing itself, checkpointed
    * doc-count-sized); the sweep is integer arithmetic over
    * (docs × 4 lengths) rows — fully certifiable, no FP beyond the two
    * final exact-integer ratios.
    */
  val PackLens: Seq[Int] = Seq(128, 256, 512, 1024)

  def packEfficiency(docs: DataFrame, buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val t = docs
      .select(col("doc_id"), size(wsTokens(col("text"))).cast("long").as("toks"))
      .withColumn("bucket", pmod(col("doc_id"), lit(buckets.toLong)))
    val w = Window.partitionBy("bucket").orderBy("doc_id")
    val cum = t.withColumn("cum", sum("toks").over(w)).localCheckpoint(true)
    val grid = broadcast(PackLens.toDF("seq_len"))
    val docStats = cum.crossJoin(grid)
      .select(col("seq_len"), col("toks"),
        (floor((col("cum") - lit(1)) / col("seq_len")) >
          floor((col("cum") - col("toks")) / col("seq_len"))).cast("long").as("split"))
      .groupBy("seq_len")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("packed_tokens"),
        sum("split").as("split_docs"))
    val tails = cum.groupBy("bucket").agg(max("cum").as("mc"))
      .crossJoin(grid)
      .groupBy("seq_len")
      .agg(sum(floor((col("mc") - lit(1)) / col("seq_len")) + lit(1)).as("n_packs"),
        sum(pmod(col("seq_len") - pmod(col("mc"), col("seq_len")), col("seq_len")))
          .as("tail_waste"))
    docStats.join(tails, "seq_len")
      .select(col("seq_len"), col("n_packs"), col("n_docs"), col("split_docs"),
        round(col("split_docs").cast("double") / col("n_docs"), 4).as("split_frac"),
        col("packed_tokens"), col("tail_waste"),
        round(col("packed_tokens").cast("double") /
          (col("packed_tokens") + col("tail_waste")), 4).as("fill_rate"))
      .orderBy("seq_len")
  }

  def packEfficiency(spark: SparkSession, dir: String): DataFrame =
    packEfficiency(Tables.documents(spark, dir))

  val packEfficiencySql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks,
      |    doc_id % 64 AS bucket
      |  FROM documents),
      |c AS (
      |  SELECT *, sum(toks) OVER (PARTITION BY bucket ORDER BY doc_id) AS cum FROM t),
      |g(seq_len) AS (VALUES (128), (256), (512), (1024)),
      |d AS (
      |  SELECT g.seq_len, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(toks) AS BIGINT) AS packed_tokens,
      |    CAST(sum(CASE WHEN floor((cum - 1) / g.seq_len) >
      |                       floor((cum - toks) / g.seq_len)
      |             THEN 1 ELSE 0 END) AS BIGINT) AS split_docs
      |  FROM c, g GROUP BY 1),
      |bt AS (SELECT bucket, max(cum) AS mc FROM c GROUP BY 1),
      |p AS (
      |  SELECT g.seq_len,
      |    CAST(sum(floor((mc - 1) / g.seq_len) + 1) AS BIGINT) AS n_packs,
      |    CAST(sum((g.seq_len - (mc % g.seq_len)) % g.seq_len) AS BIGINT) AS tail_waste
      |  FROM bt, g GROUP BY 1)
      |SELECT d.seq_len, p.n_packs, d.n_docs, d.split_docs,
      |  round(CAST(d.split_docs AS DOUBLE) / d.n_docs, 4) AS split_frac,
      |  d.packed_tokens, p.tail_waste,
      |  round(CAST(d.packed_tokens AS DOUBLE) / (d.packed_tokens + p.tail_waste), 4) AS fill_rate
      |FROM d JOIN p USING (seq_len) ORDER BY seq_len""".stripMargin

  /** PII detection/redaction patterns — deliberately in the common
    * RE2/Java regex subset so the Spark scan and the DuckDB oracle
    * apply the identical rule.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?\\d[\\d() -]{7,}\\d"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact PII spans (emails → [EMAIL], then phone-ish number runs →
    * [PHONE], then IPv4s → [IP]) — order matters and is part of the
    * contract (an email's digits must not be half-eaten by the phone
    * pass first).
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "[EMAIL]"),
        PhonePattern, "[PHONE]"),
      Ipv4Pattern, "[IP]")

  /** PII scrub accounting per document: span counts per category plus
    * the redacted length. Pure codegen'd projection — the 100 TB plan
    * is a scan with zero shuffles. (The testdata corpus is synthetic
    * and PII-free, so counts are ~0 here; the redaction semantics are
    * spec-tested on planted PII.)
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    // each category is counted on the text AS THE SCRUB PASS SEES IT
    // (emails removed before phones, both removed before IPs), so the
    // counts are exactly the redactions performed — an IP-shaped email
    // local part is one [EMAIL], never a phantom n_ips entry
    val afterEmail = regexp_replace(col("text"), EmailPattern, "[EMAIL]")
    val afterPhone = regexp_replace(afterEmail, PhonePattern, "[PHONE]")
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailPattern)).as("n_emails"),
      regexp_count(afterEmail, lit(PhonePattern)).as("n_phones"),
      regexp_count(afterPhone, lit(Ipv4Pattern)).as("n_ips"),
      length(scrubPii(col("text"))).as("clean_chars"))
  }

  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrub(Tables.documents(spark, dir)).orderBy("doc_id")

  val piiScrubSql: String =
    """SELECT doc_id,
      | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
      | CAST(len(regexp_extract_all(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'), '\+?\d[\d() -]{7,}\d')) AS INTEGER) AS n_phones,
      | CAST(len(regexp_extract_all(regexp_replace(regexp_replace(text,
      |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |   '\+?\d[\d() -]{7,}\d', '[PHONE]', 'g'),
      |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ips,
      | CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
      |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |   '\+?\d[\d() -]{7,}\d', '[PHONE]', 'g'),
      |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')) AS INTEGER) AS clean_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Corpus token vocabulary, Zipf view: the top 100 tokens by corpus
    * frequency with document frequency and rank — the table a tokenizer/
    * vocab build starts from. One (token)-keyed aggregation with
    * map-side partials; the rank window runs over the already-truncated
    * top-k, never the full vocabulary.
    */
  def tokenVocab(docs: DataFrame, k: Int = 100): DataFrame =
    tokenVocabFrom(docTokenCounts(docs), k)

  /** Over the (doc, token, tf) substrate, n = Σtf and n_docs is a plain
    * count — the (doc, token) key is already distinct, so the former
    * countDistinct(doc_id) Expand is gone.
    */
  private def tokenVocabFrom(counts: DataFrame, k: Int = 100): DataFrame =
    vocabFace(tokenTotals(counts), k)

  /** (token, n, n_docs) totals over the (doc, token, tf) substrate —
    * additive in both measures (each doc contributes once), which is
    * what [[graft.streaming.StreamingTokenStatsJob]] folds. */
  private[graft] def tokenTotals(counts: DataFrame): DataFrame =
    counts.groupBy("token")
      .agg(sum("tf").as("n"), count(lit(1)).as("n_docs"))

  /** Top-k rank projection over token totals — shared with the
    * streaming read face. Rank-by-position over the sorted ≤k-row
    * array instead of an unpartitioned row_number window (r18): the
    * struct sort on (-n, token) replays the (n DESC, token) total
    * order, and the frame is k-bounded by the limit by construction —
    * no single-partition WindowExec at any scale.
    */
  private[graft] def vocabFace(totals: DataFrame, k: Int = 100): DataFrame =
    totals
      .orderBy(col("n").desc, col("token"))
      .limit(k)
      .agg(sort_array(collect_list(struct(
        (-col("n")).as("nn"), col("token"), col("n"), col("n_docs")))).as("s"))
      .select(posexplode(col("s")).as(Seq("i", "e")))
      .select((col("i") + 1).cast("int").as("rank"),
        col("e.token").as("token"), col("e.n").as("n"),
        col("e.n_docs").as("n_docs"))

  def tokenVocab(spark: SparkSession, dir: String): DataFrame =
    tokenVocabFrom(cachedDocTokenCounts(spark, dir))

  val tokenVocabSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |c AS (
      |  SELECT token, count(*) AS n, count(DISTINCT doc_id) AS n_docs
      |  FROM t WHERE token <> '' GROUP BY token
      |  ORDER BY n DESC, token LIMIT 100)
      |SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER) AS rank,
      |  token, n, n_docs
      |FROM c ORDER BY rank""".stripMargin

  /** Zipf-law fit over the top-[[ZipfTopK]] token frequencies: the
    * least-squares slope of ln(freq) on ln(rank) (natural text ≈ −1;
    * templated/degenerate corpora diverge hard — the §6 pair-family
    * analysis found exactly that signature by hand, this makes it a
    * one-row diagnostic). Also reports the fit's r² and the top-1
    * token share.
    *
    * Determinism: the top-k set and its ranks ride the certified
    * (n desc, token) total order; the regression runs over exactly
    * [[ZipfTopK]] (ln rank, ln freq) pairs whose values are identical
    * doubles in both engines, so the sufficient sums differ only in
    * accumulation order at the last ulp — invisible at the 4-dp
    * rounding (slope magnitude ~1).
    *
    * Plan: token counts partial-agg map-side; the top-k is a
    * distributed TakeOrdered (never a global sort materialization);
    * the regression is a single aggregate over k rows.
    */
  def tokenZipfFit(docs: DataFrame): DataFrame =
    zipfFace(tokenTotals(docTokenCounts(docs)))

  /** Regression projection over token totals — shared with the
    * streaming read face. */
  private[graft] def zipfFace(totals: DataFrame): DataFrame = {
    val top = totals.select("token", "n")
      .orderBy(col("n").desc, col("token"))
      .limit(ZipfTopK)
    // rank-by-position over the sorted ≤ZipfTopK-row array instead of
    // an unpartitioned row_number window (r18): identical (rank, n)
    // pairs — the struct sort on (-n, token) replays the (n DESC,
    // token) total order — so x/y are the same doubles bit-for-bit
    val ranked = top
      .agg(sort_array(collect_list(struct((-col("n")).as("nn"), col("token")))).as("s"))
      .select(posexplode(col("s")).as(Seq("i", "e")))
      .select((col("i") + 1).cast("int").as("rank"), (-col("e.nn")).as("n"))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("n").cast("double")).as("y"),
        col("n"), col("rank"))
    val tot = ranked.agg(sum("n").as("topk_total"),
      max(when(col("rank") === 1, col("n"))).as("top1"))
    ranked
      .agg(count(lit(1)).as("n_tokens"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .crossJoin(tot)
      .select(col("n_tokens"),
        round((col("n_tokens") * col("sxy") - col("sx") * col("sy")) /
          (col("n_tokens") * col("sxx") - col("sx") * col("sx")), 4).as("zipf_slope"),
        round(pow(col("n_tokens") * col("sxy") - col("sx") * col("sy"), 2) /
          ((col("n_tokens") * col("sxx") - col("sx") * col("sx")) *
            (col("n_tokens") * col("syy") - col("sy") * col("sy"))), 4).as("r2"),
        round(col("top1").cast("double") / col("topk_total"), 4).as("top1_share"))
  }

  def tokenZipfFit(spark: SparkSession, dir: String): DataFrame =
    zipfFace(tokenTotals(cachedDocTokenCounts(spark, dir)))

  val ZipfTopK = 200

  val tokenZipfFitSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |c AS (
      |  SELECT token, count(*) AS n
      |  FROM t WHERE token <> '' GROUP BY token
      |  ORDER BY n DESC, token LIMIT 200),
      |rk AS (
      |  SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank,
      |    ln(CAST(row_number() OVER (ORDER BY n DESC, token) AS DOUBLE)) AS x,
      |    ln(CAST(n AS DOUBLE)) AS y
      |  FROM c),
      |s AS (
      |  SELECT count(*) AS n_tokens, sum(x) AS sx, sum(y) AS sy,
      |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy,
      |    sum(n) AS topk_total, max(CASE WHEN rank = 1 THEN n END) AS top1
      |  FROM rk)
      |SELECT n_tokens,
      |  round((n_tokens * sxy - sx * sy) / (n_tokens * sxx - sx * sx), 4) AS zipf_slope,
      |  round(power(n_tokens * sxy - sx * sy, 2) /
      |    ((n_tokens * sxx - sx * sx) * (n_tokens * syy - sy * sy)), 4) AS r2,
      |  round(CAST(top1 AS DOUBLE) / topk_total, 4) AS top1_share
      |FROM s""".stripMargin

  /** Vocabulary-growth (Heaps-law) curve — the corpus diagnostic that
    * separates natural heavy-tailed text from degenerate/templated
    * corpora: the corpus is cut into `nBuckets` equal doc_id-range
    * slices in ingestion order, and each bucket reports how many
    * NEW token types it introduces (first-occurrence attribution) plus
    * the cumulative vocabulary. Natural text grows ~N^β (β≈0.5–0.8);
    * a flat curve is the saturated-vocabulary signature SURVEY §6's
    * pair-family analysis keeps diagnosing by hand.
    *
    * Plan: first occurrence is a MIN aggregation over the shared
    * (doc_id, token, tf) substrate (the memoized `text_token_counts`
    * artifact — no new corpus scan); bucket assignment is map-side
    * integer arithmetic against two broadcast scalars (min/max id), so
    * no global window/ntile ever runs (a rank-based decile would funnel
    * the corpus through one partition at 100 TB; the id-range slice is
    * the partition-friendly semantics). Everything after the
    * vocabulary-keyed MIN is ≤|vocab| rows, and the cumulative window
    * runs over `nBuckets` rows.
    */
  def vocabGrowth(spark: SparkSession, dir: String, nBuckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select("doc_id")
    val Seq(mn, mx) = docs.agg(min("doc_id"), max("doc_id"))
      .collect()(0).toSeq.map(_.asInstanceOf[Long])
    val span = mx - mn + 1
    // exact in double: doc_id·nBuckets ≪ 2^53, so floor is the true
    // integer-range bucket on both engines
    def bucketOf(id: Column): Column =
      floor((id - lit(mn)) * lit(nBuckets.toDouble) / lit(span.toDouble)).cast("int")
    val perBucketDocs = docs.select(bucketOf(col("doc_id")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
    val firstDocs = cachedDocTokenCounts(spark, dir)
      .groupBy("token").agg(min("doc_id").as("first_doc"))
      .select(bucketOf(col("first_doc")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_new_tokens"))
    // cumulative sum over the sorted ≤nBuckets-row array instead of an
    // unpartitioned running-sum window (r18): the frame is 10 rows by
    // construction, and slice(s, 1, i+1) truncates nothing — exact
    // long arithmetic, no single-partition WindowExec
    perBucketDocs.join(firstDocs, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("n_new_tokens"), lit(0L)).as("n_new_tokens"))
      .agg(sort_array(collect_list(
        struct(col("bucket"), col("n_docs"), col("n_new_tokens")))).as("s"))
      .select(col("s"), posexplode(col("s")).as(Seq("i", "e")))
      .select(col("e.bucket").as("bucket"), col("e.n_docs").as("n_docs"),
        col("e.n_new_tokens").as("n_new_tokens"),
        aggregate(slice(col("s"), lit(1), col("i") + lit(1)), lit(0L),
          (a, x) => a + x.getField("n_new_tokens")).as("vocab_size"))
      .orderBy("bucket")
  }

  val vocabGrowthSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |f AS (SELECT token, min(doc_id) AS first_doc
      |      FROM t WHERE token <> '' GROUP BY token),
      |b AS (SELECT min(doc_id) AS mn, max(doc_id) - min(doc_id) + 1 AS span
      |      FROM documents),
      |nd AS (SELECT CAST(floor((doc_id - mn) * 10.0 / span) AS INTEGER) AS bucket,
      |              count(*) AS n_docs
      |       FROM documents, b GROUP BY 1),
      |nt AS (SELECT CAST(floor((first_doc - mn) * 10.0 / span) AS INTEGER) AS bucket,
      |              count(*) AS n_new_tokens
      |       FROM f, b GROUP BY 1)
      |SELECT bucket, n_docs, coalesce(n_new_tokens, 0) AS n_new_tokens,
      |  CAST(sum(coalesce(n_new_tokens, 0)) OVER (ORDER BY bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
      |FROM nd LEFT JOIN nt USING (bucket) ORDER BY bucket""".stripMargin

  /** Per-source quality-percentile gating — "keep the best (1-p)
    * quantile of each source" corpus curation: an exact interpolated
    * per-source threshold (scale path: percentile_approx, same plan),
    * broadcast back onto the scan for a map-side keep/drop compare.
    * Both the threshold and each doc's quality are 4-dp-rounded before
    * the compare so the boundary rule is engine-portable.
    */
  def qualityGate(docs: DataFrame, pct: Double = 0.25): DataFrame = {
    val scored = docs.select(col("source"), qualityExpr(col("text")).as("quality"))
    val thr = scored.groupBy("source")
      .agg(round(expr(s"percentile(quality, $pct)"), 4).as("q_thr"))
    scored.join(broadcast(thr), Seq("source"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("quality") >= col("q_thr"), 1L).otherwise(0L)).as("n_kept"),
        max(col("q_thr")).as("q_threshold"))
      .orderBy("source")
  }

  def qualityGate(spark: SparkSession, dir: String): DataFrame =
    qualityGate(Tables.documents(spark, dir))

  val qualityGateSql: String =
    """WITH m AS (
      |  SELECT source,
      |    CAST(length(text) AS DOUBLE) AS chars,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS toks,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|of|to|and|in|is|it|that)\b')) AS DOUBLE) AS stops,
      |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS punct
      |  FROM documents),
      |q AS (
      |  SELECT source,
      |    round(least(1.0, (stops / toks) * 2.5)
      |      * (1.0 - least(1.0, (punct / greatest(chars, 1.0)) * 10.0))
      |      * least(1.0, ln(1.0 + toks) / 5.0), 4) AS quality
      |  FROM m),
      |thr AS (
      |  SELECT source, round(quantile_cont(quality, 0.25), 4) AS q_thr
      |  FROM q GROUP BY source)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN quality >= q_thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  max(q_thr) AS q_threshold
      |FROM q JOIN thr USING (source)
      |GROUP BY source ORDER BY source""".stripMargin

  /** TF-IDF document informativeness score — the rarity-weighted
    * token-mass signal importance-sampling data-selection pipelines
    * rank corpora by: score(d) = Σ_t tf(d,t)·ln(N/df(t)) / |d|. Boilerplate
    * scores low (every token common), information-dense docs high.
    *
    * Plan: one explode into a (doc_id, token) count with map-side
    * partials — materialized ONCE because three aggregates read it —
    * then a vocabulary-keyed df aggregate joined back (tiny after
    * normalization → broadcast by AQE; a noisy billion-token vocabulary
    * would co-partition on the token key instead, which the unhinted
    * join degrades to automatically), the corpus size as a broadcast
    * 1-row scalar, and a per-doc sum. Two real shuffles, nothing
    * corpus²-sized.
    */
  /** (doc_id, token, tf) whitespace-token counts — the shared substrate
    * of doc_tfidf, doc_similar_tfidf, unigram_logprob and token_vocab.
    * One explode + one (doc, token) groupBy; everything downstream is
    * keyed aggregation over this table.
    */
  def docTokenCounts(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(wsTokens(trim(lower(col("text"))))).as("token"))
    .filter(col("token") =!= "")
    .groupBy("doc_id", "token")
    .agg(count(lit(1)).as("tf"))

  /** Memoized [[docTokenCounts]] for the driver faces — four entries
    * otherwise re-pay the same explode + groupBy per pass (scoping and
    * staleness in [[graft.SessionCache]]; attributed as the
    * `text_token_counts` bench artifact).
    */
  def cachedDocTokenCounts(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("docTokenCounts", dir))(
      docTokenCounts(Tables.documents(spark, dir)).localCheckpoint(true))

  def tfidfScore(docs: DataFrame): DataFrame =
    tfidfScoreFrom(docs, docTokenCounts(docs).localCheckpoint(true))

  private def tfidfScoreFrom(docs: DataFrame, perDocTok: DataFrame): DataFrame = {
    val dfs = perDocTok.groupBy("token").agg(count(lit(1)).as("df"))
    val docLens = perDocTok.groupBy("doc_id").agg(sum("tf").as("n_toks"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_corpus"))
    perDocTok
      .join(dfs, "token")
      .crossJoin(broadcast(nDocs))
      .groupBy("doc_id")
      .agg(sum(col("tf") * log(col("n_corpus") / col("df"))).as("mass"))
      .join(docLens, "doc_id")
      .select(col("doc_id"), round(col("mass") / col("n_toks"), 4).as("tfidf_score"))
      .orderBy("doc_id")
  }

  def tfidfScore(spark: SparkSession, dir: String): DataFrame =
    tfidfScoreFrom(Tables.documents(spark, dir), cachedDocTokenCounts(spark, dir))

  val tfidfSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, token, count(*) AS tf FROM t WHERE token <> '' GROUP BY 1, 2),
      |dfs AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
      |lens AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS n_toks FROM tok GROUP BY doc_id),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_corpus FROM documents),
      |mass AS (
      |  SELECT doc_id, sum(tf * ln(n_corpus / df)) AS mass
      |  FROM tok JOIN dfs USING (token) CROSS JOIN n GROUP BY doc_id)
      |SELECT doc_id, round(mass / n_toks, 4) AS tfidf_score
      |FROM mass JOIN lens USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Top-[[DocKeywordsK]] TF-IDF terms per document — the per-doc
    * keyword extraction a retrieval index or faceted browser stores
    * next to each document (doc_tfidf scores the document as a whole;
    * this names WHICH terms carry the mass). Weight = tf · ln(N/df),
    * ranked (weight desc, token asc) — both engines derive the weight
    * from identical integer inputs through one ln, so the rank order
    * and the 4-dp value are bit-stable.
    *
    * Plan: rides the shared per-doc token-count substrate (ONE
    * tokenization for the whole text family); the df table is
    * vocabulary-bound (broadcastable at scale), and the only new
    * exchanges are the token-keyed df join and the doc-keyed top-k
    * window — no full sort, the rank filter truncates per partition.
    */
  def docKeywords(spark: SparkSession, dir: String, k: Int = DocKeywordsK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = cachedDocTokenCounts(spark, dir)
    val dfs = tok.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, dir)
      .agg(count(lit(1)).cast("double").as("n_corpus"))
    val w = Window.partitionBy("doc_id").orderBy(col("w").desc, col("token"))
    tok.join(dfs, "token")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"),
        (col("tf") * log(col("n_corpus") / col("df"))).as("w"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token").as("keyword"),
        round(col("w"), 4).as("weight"))
      .orderBy("doc_id", "rank")
  }

  val DocKeywordsK = 3

  val docKeywordsSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, token, count(*) AS tf FROM t WHERE token <> '' GROUP BY 1, 2),
      |dfs AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_corpus FROM documents),
      |wt AS (
      |  SELECT doc_id, token, tf * ln(n_corpus / df) AS w
      |  FROM tok JOIN dfs USING (token) CROSS JOIN n),
      |rk AS (
      |  SELECT doc_id, token, w,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, token) AS rank
      |  FROM wt)
      |SELECT doc_id, rank, token AS keyword, round(w, 4) AS weight
      |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Sparse TF-IDF cosine top-k document similarity — the SPARSE
    * complement of the dense ANN family (graft.similarity): neighbors
    * by lexical overlap where embeddings find them by meaning, the
    * standard first-stage retriever / near-dup widener next to BM25.
    *
    * w(doc, token) = tf · ln(N/df); cosine over the sparse weight
    * vectors; top-k per probe doc (doc_id < nQueries), ranked by
    * (cosine desc, neighbor_id) like every ANN tier here.
    *
    * Plan shape (the LSH broadcast-probe discipline applied to posting
    * lists): the (doc, token, w) weight table is computed once — tf
    * groupBy and df join are the only corpus shuffles, both keyed —
    * norms ride along via a doc-keyed join, and the PROBE side (the
    * nQueries docs' weights, a few hundred rows) broadcasts, so
    * candidate scoring is a broadcast-hash join on `token` with no
    * corpus shuffle; the reduce to (query, neighbor) dot products
    * shuffles scalars only. At 100 TB the scored set is bounded by the
    * probe vocabulary's posting lists; ubiquitous tokens are naturally
    * downweighted by idf (ln(N/df) → 0), which is what keeps the
    * degenerate-vocabulary testdata meaningful too. Cosines round to
    * 4dp (agg-order FP hygiene, as everywhere).
    */
  def docSimilarTfidf(docs: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame =
    docSimilarRankFace(docSimilarScored(docs, docTokenCounts(docs), nQueries), k)

  /** Top-k face over a scored (query_id, doc_id, cosine) table — shared
    * by the standalone entry (k=5) and the RRF retriever pool (k=20),
    * so both ride ONE scoring pass.
    */
  private[graft] def docSimilarRankFace(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id").as("neighbor_id"), col("rank"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** All scored (query, candidate) cosine pairs BEFORE the top-k cut —
    * the expensive stage (posting join over the tf-idf weights), built
    * once and memoized per dir by [[cachedDocSimilarScored]].
    */
  private def docSimilarScored(docs: DataFrame, counts: DataFrame,
                               nQueries: Int): DataFrame =
    docSimilarTfidfFrom(docs, counts, nQueries)

  private[graft] def cachedDocSimilarScored(spark: SparkSession, dir: String,
                                            nQueries: Int = 10): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("docSimilarScored", dir, nQueries))(
      docSimilarScored(Tables.documents(spark, dir),
        cachedDocTokenCounts(spark, dir), nQueries).localCheckpoint(true))

  private def docSimilarTfidfFrom(docs: DataFrame, counts: DataFrame,
                                  nQueries: Int): DataFrame = {
    val perDocTok = counts.select(col("doc_id"), col("token"), col("tf").cast("double").as("tf"))
    val dfs = perDocTok.groupBy("token").agg(count(lit(1)).cast("double").as("df"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_corpus"))
    val weights = perDocTok
      .join(dfs, "token")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"),
        (col("tf") * log(col("n_corpus") / col("df"))).as("w"))
      // w = 0 (df == N) contributes nothing to any dot or norm, but a
      // doc holding ONLY such tokens would have norm 0 and its cosine
      // would be 0/0 = NaN — which Spark sorts first under desc while
      // DuckDB orders NULL/NaN differently. Dropping zero weights keeps
      // every retained doc's norm strictly positive, so NaN is
      // unrepresentable (and ubiquitous-token posting lists never join)
      .filter(col("w") =!= 0.0)
    val norms = weights.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    val corpus = weights.join(norms, "doc_id")
    val probes = broadcast(
      corpus.filter(col("doc_id") < nQueries)
        .select(col("doc_id").as("query_id"), col("token"),
          col("w").as("qw"), col("norm").as("qnorm")))
    val scored = corpus.join(probes, Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("w") * col("qw")).as("dot"),
        max(col("norm")).as("norm"), max(col("qnorm")).as("qnorm"))
      .withColumn("cosine", round(col("dot") / (col("norm") * col("qnorm")), 4))
    scored.select("query_id", "doc_id", "cosine")
  }

  def docSimilarTfidf(spark: SparkSession, dir: String): DataFrame =
    docSimilarRankFace(cachedDocSimilarScored(spark, dir), k = 5)

  val docSimilarTfidfSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf FROM t
      |  WHERE token <> '' GROUP BY 1, 2),
      |dfs AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tok GROUP BY token),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_corpus FROM documents),
      |w AS (
      |  SELECT doc_id, token, tf * ln(n_corpus / df) AS w
      |  FROM tok JOIN dfs USING (token) CROSS JOIN n
      |  WHERE tf * ln(n_corpus / df) <> 0),
      |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY doc_id),
      |q AS (
      |  SELECT w.doc_id AS query_id, token, w AS qw, norm AS qnorm
      |  FROM w JOIN norms USING (doc_id) WHERE doc_id < 10),
      |dots AS (
      |  SELECT query_id, w.doc_id AS neighbor_id, sum(w.w * q.qw) AS dot,
      |         any_value(q.qnorm) AS qnorm
      |  FROM w JOIN q ON w.token = q.token AND w.doc_id <> q.query_id
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |         round(dot / (norm * qnorm), 4) AS cosine
      |  FROM dots JOIN norms ON dots.neighbor_id = norms.doc_id),
      |ranked AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, rank, cosine FROM ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Bigram PMI collocations — pointwise mutual information of ADJACENT
    * token pairs, ln(P(ab)/(P(a)·P(b))): the classic phrase-mining /
    * collocation signal, and exactly the association strength BPE's
    * merge ranking consumes (frequent-AND-informative adjacent pairs).
    * Top-k pairs with support ≥ minPair, ranked by (pmi desc, tokens).
    *
    * Scale shape: bigrams come from a map-side zip of each token array
    * with its own tail — LINEAR per document (the all-pairs-in-doc
    * alternative is quadratic in doc length and was rejected); the only
    * shuffles are the bigram and unigram count aggregations, both
    * token-keyed with map-side partials, and the two corpus totals
    * broadcast as scalars. PMI rounds to 4dp before the rank/limit so
    * the ordering is cross-engine stable.
    */
  /** (doc_id, a, b) adjacent-token bigrams — the shared substrate of
    * token_pmi and bigram_logprob: one map-side tail-zip per document,
    * linear in doc length.
    */
  def docBigrams(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), wsTokens(trim(lower(col("text")))).as("t"))
    .filter(size(col("t")) >= 2)
    .select(col("doc_id"), explode(zip_with(
      slice(col("t"), lit(1), size(col("t")) - 1),
      slice(col("t"), lit(2), size(col("t")) - 1),
      (a, b) => struct(a.as("a"), b.as("b")))).as("bg"))
    .filter(col("bg.a") =!= "" && col("bg.b") =!= "")
    .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))

  /** Memoized [[docBigrams]] for the driver faces (attributed as the
    * `text_bigrams` bench artifact; scoping in [[graft.SessionCache]]).
    */
  def cachedDocBigrams(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("docBigrams", dir))(
      docBigrams(Tables.documents(spark, dir)).localCheckpoint(true))

  def tokenPmi(docs: DataFrame, minPair: Long = 5, k: Int = 50): DataFrame =
    tokenPmiFrom(docBigrams(docs), docTokenCounts(docs), minPair, k)

  private def tokenPmiFrom(bigramRows: DataFrame, counts: DataFrame,
                           minPair: Long, k: Int): DataFrame = {
    val bigrams = bigramRows.select("a", "b")
    val nBg = bigrams.groupBy("a", "b").agg(count(lit(1)).cast("double").as("n_ab"))
    val bTot = bigrams.agg(count(lit(1)).cast("double").as("bt"))
    val uni = counts.groupBy("token").agg(sum("tf").cast("double").as("n"))
    val tTot = uni.agg(sum("n").as("tt"))
    nBg.filter(col("n_ab") >= minPair)
      .join(uni.select(col("token").as("a"), col("n").as("n_a")), "a")
      .join(uni.select(col("token").as("b"), col("n").as("n_b")), "b")
      .crossJoin(broadcast(bTot))
      .crossJoin(broadcast(tTot))
      .select(col("a").as("tok_a"), col("b").as("tok_b"),
        col("n_ab").cast("long").as("n_pair"),
        round(log((col("n_ab") / col("bt")) /
          ((col("n_a") / col("tt")) * (col("n_b") / col("tt")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("tok_a"), col("tok_b"))
      .limit(k)
  }

  def tokenPmi(spark: SparkSession, dir: String): DataFrame =
    tokenPmiFrom(cachedDocBigrams(spark, dir), cachedDocTokenCounts(spark, dir),
      minPair = 5, k = 50)

  /** Bigram language-model quality score — the stronger sibling of
    * [[unigramLogprob]]: average per-bigram negative log conditional
    * probability −ln P(b|a) under an add-k–smoothed bigram model
    * trained on the corpus itself (self-scoring, like the unigram
    * face). Predictable running text scores LOW; incoherent or
    * boilerplate-stitched text scores HIGH — the classic LM-based
    * quality/fluency filter, one rung below a neural perplexity model
    * and computable inside the engine at corpus scale.
    *
    * P(b|a) = (c(ab) + k) / (c(a) + k·V), with c(a) the corpus unigram
    * count and V the vocabulary size — both derived from the shared
    * substrates, so the driver face adds NO new corpus scan: the model
    * is two keyed count aggregations, the scalars (V) broadcast, and
    * the per-doc score is one doc-keyed aggregation.
    *
    * Skew shape: the scored side pre-aggregates to (doc, a, b, n)
    * BEFORE joining the model, so the model join carries one row per
    * distinct bigram per doc — the per-doc repetition factor never
    * reaches the join and a Zipf-hot key ("of the") is capped at one
    * row per document rather than one per occurrence. The per-bigram
    * −ln P is then weighted by n in the final doc-keyed aggregation.
    */
  def bigramLogprob(docs: DataFrame, smoothK: Double = 0.5): DataFrame =
    bigramLogprobFrom(docBigrams(docs), docTokenCounts(docs), smoothK)

  private def bigramLogprobFrom(bigramRows: DataFrame, counts: DataFrame,
                                smoothK: Double): DataFrame = {
    val model = bigramRows.groupBy("a", "b").agg(count(lit(1)).cast("double").as("c_ab"))
    val uni = counts.groupBy("token").agg(sum("tf").cast("double").as("c_a"))
    val vocab = uni.agg(count(lit(1)).cast("double").as("v"))
    val perDocBigram = bigramRows.groupBy("doc_id", "a", "b")
      .agg(count(lit(1)).cast("double").as("n_occ"))
    perDocBigram
      .join(model, Seq("a", "b"))
      .join(uni.withColumnRenamed("token", "a"), "a")
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(sum(col("n_occ")).cast("long").as("n_bigrams"),
        round(sum(col("n_occ") *
          -log((col("c_ab") + lit(smoothK)) / (col("c_a") + lit(smoothK) * col("v"))))
          / sum(col("n_occ")), 4).as("avg_neg_logprob"))
      .orderBy("doc_id")
  }

  def bigramLogprob(spark: SparkSession, dir: String): DataFrame =
    bigramLogprobFrom(cachedDocBigrams(spark, dir), cachedDocTokenCounts(spark, dir),
      smoothK = 0.5)

  val bigramLogprobSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |z AS (
      |  SELECT doc_id, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
      |  FROM toks WHERE len(t) >= 2),
      |bg AS (SELECT doc_id, p[1] AS a, p[2] AS b FROM z
      |       WHERE p[1] <> '' AND p[2] <> ''),
      |model AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS c_ab FROM bg GROUP BY 1, 2),
      |tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
      |u AS (SELECT token, CAST(count(*) AS DOUBLE) AS c_a FROM tok
      |      WHERE token <> '' GROUP BY token),
      |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM u),
      |bgc AS (SELECT doc_id, a, b, CAST(count(*) AS DOUBLE) AS n_occ
      |        FROM bg GROUP BY 1, 2, 3)
      |SELECT doc_id, CAST(sum(n_occ) AS BIGINT) AS n_bigrams,
      |  round(sum(n_occ * -ln((c_ab + 0.5) / (c_a + 0.5 * v))) / sum(n_occ), 4) AS avg_neg_logprob
      |FROM bgc JOIN model USING (a, b) JOIN u ON bgc.a = u.token CROSS JOIN v
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val tokenPmiSql: String =
    """WITH toks AS (
      |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
      |z AS (
      |  SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
      |  FROM toks WHERE len(t) >= 2),
      |bg AS (SELECT p[1] AS a, p[2] AS b FROM z WHERE p[1] <> '' AND p[2] <> ''),
      |nbg AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS n_ab FROM bg GROUP BY 1, 2),
      |btot AS (SELECT CAST(count(*) AS DOUBLE) AS bt FROM bg),
      |uni AS (SELECT unnest(t) AS token FROM toks),
      |u AS (SELECT token, CAST(count(*) AS DOUBLE) AS n FROM uni
      |      WHERE token <> '' GROUP BY token),
      |ttot AS (SELECT sum(n) AS tt FROM u)
      |SELECT a AS tok_a, b AS tok_b, CAST(n_ab AS BIGINT) AS n_pair,
      |  round(ln((n_ab / bt) / ((ua.n / tt) * (ub.n / tt))), 4) AS pmi
      |FROM nbg JOIN u ua ON nbg.a = ua.token JOIN u ub ON nbg.b = ub.token
      |CROSS JOIN btot CROSS JOIN ttot
      |WHERE n_ab >= 5
      |ORDER BY pmi DESC, tok_a, tok_b LIMIT 50""".stripMargin

  /** The fixed keyword query the BM25 entry scores against — the
    * shape of a retrieval-targeted data-selection pass (score every
    * corpus doc for relevance to a domain query, keep the top slice).
    */
  val Bm25Query: Seq[String] = Seq("spark", "join", "stream", "hash")
  private val Bm25K1 = 1.2
  private val Bm25B  = 0.75

  /** BM25(k1=1.2, b=0.75) relevance of every document to [[Bm25Query]]
    * — Okapi scoring with corpus-level IDF and doc-length
    * normalization. Returns one row per doc containing ≥1 query term.
    *
    * Plan: tokens explode map-side and are filtered to the query terms
    * BEFORE any aggregation, so the per-(doc, term) tf state is
    * |docs|·|query| at most — the full vocabulary never reaches a
    * shuffle. Doc length is a projection (`size(tokens)`), not a
    * second pass over exploded tokens. The df table (|query| rows) and
    * the (N, avgdl) scalar broadcast; the only real shuffles are the
    * tf groupBy and the doc-length join, both keyed on doc_id — at
    * 100 TB this is one filtered-token shuffle plus per-doc combines.
    * Scores round to 4dp so agg-order FP noise can't flip the hash.
    */
  def bm25Score(docs: DataFrame): DataFrame = {
    val staged = docs.select(col("doc_id"), wsTokens(trim(lower(col("text")))).as("__t"))
    val lens = staged.select(col("doc_id"), size(col("__t")).cast("double").as("dl"))
    val tf = staged
      .select(col("doc_id"), explode(col("__t")).as("token"))
      .filter(col("token").isin(Bm25Query: _*))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfs = tf.groupBy("token").agg(count(lit(1)).cast("double").as("df"))
    val stats = lens.agg(count(lit(1)).cast("double").as("n_corpus"), avg("dl").as("avgdl"))
    val idf = log(lit(1.0) + (col("n_corpus") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    tf.join(broadcast(dfs), "token")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        idf * col("tf") * lit(Bm25K1 + 1.0) /
          (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum("contrib"), 4).as("bm25"))
      .orderBy("doc_id")
  }

  def bm25Score(spark: SparkSession, dir: String): DataFrame =
    bm25Score(Tables.documents(spark, dir))

  val bm25Sql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf FROM t
      |  WHERE token IN ('spark', 'join', 'stream', 'hash') GROUP BY 1, 2),
      |dfs AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
      |lens AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS DOUBLE) AS dl
      |  FROM documents),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_corpus, avg(dl) AS avgdl FROM lens)
      |SELECT doc_id,
      |  round(sum(ln(1 + (n_corpus - df + 0.5) / (df + 0.5)) * tf * 2.2 /
      |    (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
      |FROM tf JOIN dfs USING (token) JOIN lens USING (doc_id) CROSS JOIN stats
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Deterministic weighted sampling-without-replacement
    * (Efraimidis–Spirakis A-ES): every doc gets key = u^(1/w) with u a
    * content-hash-derived uniform and w = ln(1+n_chars); the global
    * top-k by key IS a weighted sample. Replacing `rand()` with an
    * md5-derived uniform makes the sample a pure function of the data —
    * reproducible across runs, engines, partitionings, and retries
    * (rerunning a failed task cannot change the sample), which is what
    * a training-data pipeline needs from its subsampling stage.
    *
    * Plan: the key is a map-side projection; the only cross-partition
    * work is the global top-k (TakeOrderedAndProject — per-partition
    * heaps, no full sort). At 100 TB: scan + k-row driver merge; the
    * keys round to 6dp so the (continuous-valued) boundary is
    * cross-engine stable, with doc_id as the total tie-break.
    */
  def weightedSample(docs: DataFrame, k: Int = 100): DataFrame = {
    // 15 hex chars = 60 bits, exactly representable in a double; +0.5
    // centers the lattice so u is never 0 (pow(0, x) would pin key=0)
    val u = (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(1152921504606846976.0)
    val w = log(lit(1.0) + col("n_chars"))
    docs.select(col("doc_id"), col("n_chars"),
        round(pow(u, lit(1.0) / w), 6).as("sample_key"))
      .orderBy(col("sample_key").desc, col("doc_id"))
      .limit(k)
  }

  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    weightedSample(Tables.documents(spark, dir))

  val weightedSampleSql: String =
    """WITH s AS (
      |  SELECT doc_id, n_chars,
      |    round(pow(
      |      (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 0.5)
      |        / 1152921504606846976.0,
      |      1.0 / ln(1.0 + n_chars)), 6) AS sample_key
      |  FROM documents)
      |SELECT doc_id, n_chars, sample_key
      |FROM s ORDER BY sample_key DESC, doc_id LIMIT 100""".stripMargin

  /** Per-source token budget for [[tokenBudgetSample]] — sized so the
    * synthetic corpus exercises BOTH outcomes (kept and dropped) at the
    * verify SF (sf0.01 carries ~1.1–1.6k tokens per source).
    */
  val TokenBudget = 800L

  /** Token-budget sampling — EXECUTING a corpus-mix plan, not planning
    * it: [[corpusMix]]/[[mixTemperaturePlan]] decide how many tokens
    * each source contributes; this face materializes that decision into
    * a per-document keep-list. Within each source, documents are
    * visited in deterministic md5-coin order (an unbiased shuffle that
    * replays across runs/engines/retries — the [[weightedSample]]
    * discipline) and kept while the running token total fits the
    * budget; the flag rides every row so the drop set is auditable.
    *
    * Scale design: token counting is the map-side certified tokenizer
    * projection; the cumulative sum is a SOURCE-partitioned window
    * (key-partitioned, never global — the gini/vocab rule); at 100 TB
    * each source's cumsum is a range-partitioned prefix sum, no
    * driver-side anything.
    */
  def tokenBudgetSample(spark: SparkSession, dir: String,
      budget: Long = TokenBudget): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy("coin", "doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(wsTokens(col("text"))).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string").cast("binary")).as("coin"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"),
        (col("cum_tokens") <= budget).cast("int").as("kept"))
      .orderBy("doc_id")
  }

  val tokenBudgetSampleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |    md5(CAST(doc_id AS VARCHAR)) AS coin
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY coin, doc_id)
       |      AS BIGINT) AS cum_tokens
       |  FROM t)
       |SELECT doc_id, source, n_tokens, cum_tokens,
       |  CAST(cum_tokens <= $TokenBudget AS INTEGER) AS kept
       |FROM c ORDER BY doc_id""".stripMargin

  /** n-gram-profile language identification heuristic: score each
    * alphabetic language by density of its characteristic stopwords;
    * CJK languages by ideograph density (they have no whitespace
    * stopwords); argmax wins. Deterministic, and since r9 fully
    * SQL-oracled ([[langIdSql]] re-expresses the profile vote with
    * regexp_extract_all + a ranked window; Spark's struct-ordered
    * `array_max` tie-break — higher score, then lexicographically
    * greater language — maps to ORDER BY score DESC, lang DESC);
    * accuracy against the ground-truth `lang` column stays spec-held.
    */
  def langId(docs: DataFrame): DataFrame = {
    val profiles: Seq[(String, String)] = Seq(
      "en" -> "\\b(the|and|of|to|is|in|that|it|for|with)\\b",
      "de" -> "\\b(der|die|das|und|ist|nicht|ein|eine|zu|den)\\b",
      "fr" -> "\\b(le|la|les|et|est|une|des|que|pour|dans)\\b",
      "es" -> "\\b(el|la|los|las|es|una|que|por|para|con)\\b",
      "pt" -> "\\b(o|os|um|uma|que|para|com|não|por|mais)\\b")
    val toks = greatest(size(wsTokens(col("text"))).cast("double"), lit(1.0))
    val chars = greatest(length(col("text")).cast("double"), lit(1.0))
    val scored0 = profiles.foldLeft(docs) { case (df, (lang, pat)) =>
      df.withColumn(s"score_$lang",
        round(regexp_count(lower(col("text")), lit(pat)).cast("double") / toks, 6))
    }
    // zh: fraction of CJK ideographs — ~0.8+ for Chinese text, ~0 for
    // Latin scripts; comparable scale to the stopword densities above.
    val scored = scored0.withColumn("score_zh",
      round(regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")).cast("double") / chars, 6))
    val allLangs = profiles.map(_._1) :+ "zh"
    val scoresArr = array(allLangs.map { l =>
      struct(col(s"score_$l").as("score"), lit(l).as("lang"))
    }: _*)
    scored
      .withColumn("best", array_max(scoresArr))
      .select(col("doc_id"),
        when(col("best.score") > 0, col("best.lang")).otherwise(lit("und")).as("pred_lang"),
        col("best.score").as("pred_score"))
      .orderBy("doc_id")
  }

  def langId(spark: SparkSession, dir: String): DataFrame =
    langId(Tables.documents(spark, dir))

  /** The same profile vote in ANSI SQL: per-language stopword (or
    * ideograph) densities via regexp_extract_all, argmax via a ranked
    * window whose ordering reproduces Spark's struct-ordered
    * `array_max` exactly (score, then language, both descending).
    *
    * Dialect assumption (same contract as the PII patterns at
    * [[EmailPattern]]): the stopword patterns stay in the common
    * RE2/Java regex subset — literal word alternations inside `\b`
    * anchors, `\s+` tokenization, ASCII `lower` — where DuckDB's RE2
    * and Spark's java.util.regex agree. The engines DO diverge outside
    * it (RE2's `\s` excludes `\x0B`, Java pre-18 includes it; Unicode
    * case folding differs under non-ASCII), so equality is guaranteed
    * by construction only while the corpus generator emits ASCII
    * whitespace and the patterns avoid non-ASCII case classes; a
    * future pattern edit must keep both sides inside the subset or
    * pre-normalize whitespace/case identically on both sides first.
    */
  val langIdSql: String =
    """WITH base AS (
      |  SELECT doc_id, text, lower(text) AS lt,
      |    greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0) AS toks,
      |    greatest(CAST(length(text) AS DOUBLE), 1.0) AS chars
      |  FROM documents),
      |scores AS (
      |  SELECT doc_id, 'en' AS lang, round(len(regexp_extract_all(lt, '\b(the|and|of|to|is|in|that|it|for|with)\b')) / toks, 6) AS score FROM base
      |  UNION ALL
      |  SELECT doc_id, 'de', round(len(regexp_extract_all(lt, '\b(der|die|das|und|ist|nicht|ein|eine|zu|den)\b')) / toks, 6) FROM base
      |  UNION ALL
      |  SELECT doc_id, 'fr', round(len(regexp_extract_all(lt, '\b(le|la|les|et|est|une|des|que|pour|dans)\b')) / toks, 6) FROM base
      |  UNION ALL
      |  SELECT doc_id, 'es', round(len(regexp_extract_all(lt, '\b(el|la|los|las|es|una|que|por|para|con)\b')) / toks, 6) FROM base
      |  UNION ALL
      |  SELECT doc_id, 'pt', round(len(regexp_extract_all(lt, '\b(o|os|um|uma|que|para|com|não|por|mais)\b')) / toks, 6) FROM base
      |  UNION ALL
      |  SELECT doc_id, 'zh', round(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) / chars, 6) FROM base),
      |best AS (
      |  SELECT doc_id, lang, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
      |  FROM scores)
      |SELECT doc_id,
      |  CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang,
      |  score AS pred_score
      |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Language confusion matrix: the corpus' labeled `lang` column
    * against [[langId]]'s n-gram-profile prediction, with per-cell doc
    * counts — the curation diagnostic that tells you WHERE the cheap
    * heuristic disagrees with upstream labels (off-diagonal mass =
    * docs to re-route or re-label) before a mislabeled slice poisons a
    * per-language training mix.
    *
    * Plan: the per-doc scoring is [[langId]]'s single projection pass;
    * the label join is doc-keyed and the matrix aggregate is
    * ≤ ¦langs¦²+1 rows with map-side partials.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    langId(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang").as("actual_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("actual_lang", "pred_lang")
  }

  /** [[langIdSql]] with its per-doc tail swapped for the matrix
    * aggregate — one scoring definition, two certified faces. */
  val langConfusionSql: String = {
    val perDocTail =
      """SELECT doc_id,
        |  CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang,
        |  score AS pred_score
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin
    val matrixTail =
      """SELECT d.lang AS actual_lang,
        |  CASE WHEN b.score > 0 THEN b.lang ELSE 'und' END AS pred_lang,
        |  count(*) AS n_docs
        |FROM best b JOIN documents d USING (doc_id)
        |WHERE b.rn = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    require(langIdSql.contains(perDocTail), "langIdSql tail drifted — update langConfusionSql")
    langIdSql.replace(perDocTail, matrixTail)
  }

  /** Fixed-token-window document chunking with overlap — the upstream
    * of sequence packing: every doc becomes ⌈n/step⌉ rows of at most
    * `chunk` tokens, consecutive chunks sharing `overlap` tokens so no
    * context is lost at a boundary.
    *
    * Scale: a pure per-doc projection + explode — NO shuffle anywhere
    * in the chunking itself (the plan's only exchange is the
    * deterministic output sort, which a real pipeline writing chunks
    * back to parquet would drop). Chunking 100 TB is one map pass, and
    * the explode multiplies rows by ~n/step without ever materializing
    * a doc's chunks together.
    */
  def docChunks(docs: DataFrame, chunk: Int = 64, overlap: Int = 16): DataFrame = {
    require(chunk > overlap && overlap >= 0, "need chunk > overlap >= 0")
    val step = chunk - overlap
    docs
      .select(col("doc_id"), split(col("text"), " ").as("__toks"))
      .select(col("doc_id"), col("__toks"),
        posexplode(sequence(lit(0), greatest(size(col("__toks")) - 1, lit(0)), lit(step)))
          .as(Seq("chunk_id", "start")))
      .select(
        col("doc_id"), col("chunk_id"),
        array_join(slice(col("__toks"), col("start") + 1, lit(chunk)), " ").as("chunk_text"),
        least(lit(chunk), size(col("__toks")) - col("start")).as("n_tokens"))
      .orderBy("doc_id", "chunk_id")
  }

  def docChunks(spark: SparkSession, dir: String): DataFrame =
    docChunks(Tables.documents(spark, dir))

  val docChunksSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |c AS (SELECT doc_id, toks, CAST(i // 48 AS INT) AS chunk_id, CAST(i AS INT) AS s
      |      FROM t, UNNEST(range(0, greatest(len(toks) - 1, 0) + 1, 48)) AS u(i))
      |SELECT doc_id, chunk_id,
      |  array_to_string(toks[s + 1 : s + 64], ' ') AS chunk_text,
      |  CAST(least(64, len(toks) - s) AS INT) AS n_tokens
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** Per-doc character-distribution Shannon entropy (nats): low values
    * flag degenerate/repetitive text (a single repeated character ≈ 0),
    * high values flag binary-ish noise — a standard cheap quality
    * signal next to the ratio filters in [[qualityScore]].
    *
    * Computed as ln N − (Σ nᵢ·ln nᵢ)/N from per-(doc, char) counts, so
    * the whole thing is two partial-aggregated shuffles keyed by doc_id
    * — no per-doc state beyond the agg buffers, linear at any corpus
    * size (same cost class as trigram counting).
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), explode(split(lower(col("text")), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_chars"),
        round(log(sum("n")) - sum(col("n") * log(col("n"))) / sum("n"), 4).as("entropy"))
      .orderBy("doc_id")
  }

  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    charEntropy(Tables.documents(spark, dir))

  val charEntropySql: String =
    """WITH ch AS (
      |  SELECT doc_id, unnest(string_split(lower(text), '')) AS ch FROM documents),
      |g AS (SELECT doc_id, ch, count(*) AS n FROM ch WHERE ch <> '' GROUP BY doc_id, ch)
      |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars,
      |  round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 4) AS entropy
      |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Unigram log-probability scoring — the CCNet/Gopher-lineage "LM
    * filter" with a unigram model trained on the corpus itself:
    * score(doc) = −(1/n)·Σ ln(count(tokenᵢ)/total). Docs made of rare
    * or garbled tokens score high (surprising); common-word boilerplate
    * scores low. The standard cheap stand-in where a real KenLM pass
    * would run.
    *
    * Scale: per-(doc, token) counts materialize ONCE (the same bounded
    * intermediate tfidfScore uses); the unigram "model" is a re-agg of
    * that by token, and scoring is one token-keyed join back + a
    * doc-keyed re-agg. The corpus-total is a 1-row broadcast scalar.
    * Token frequencies are Zipf-skewed → AQE skew-join handles the
    * head tokens; nothing is ever collected.
    */
  def unigramLogprob(docs: DataFrame): DataFrame =
    unigramLogprobFrom(docTokenCounts(docs).localCheckpoint(true))

  private def unigramLogprobFrom(counts: DataFrame): DataFrame = {
    val perDocTok = counts.withColumnRenamed("tf", "c")
    val model = perDocTok.groupBy("token").agg(sum("c").as("tn"))
    val total = model.agg(sum("tn").cast("double").as("tt"))
    perDocTok
      .join(model, "token")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        round(sum(col("c") * (log(col("tt")) - log(col("tn")))) / sum("c"), 4)
          .as("avg_neg_logprob"))
      .orderBy("doc_id")
  }

  def unigramLogprob(spark: SparkSession, dir: String): DataFrame =
    unigramLogprobFrom(cachedDocTokenCounts(spark, dir))

  val unigramLogprobSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |c AS (SELECT doc_id, token, count(*) AS c FROM t WHERE token <> '' GROUP BY doc_id, token),
      |m AS (SELECT token, CAST(sum(c) AS BIGINT) AS tn FROM c GROUP BY token),
      |tot AS (SELECT CAST(sum(tn) AS DOUBLE) AS tt FROM m)
      |SELECT doc_id, CAST(sum(c.c) AS BIGINT) AS n_tokens,
      |  round(sum(c.c * (ln(tot.tt) - ln(m.tn))) / sum(c.c), 4) AS avg_neg_logprob
      |FROM c JOIN m USING (token), tot
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Training-mix planning: given target token shares per language,
    * compute each stratum's actual share and the deterministic
    * downsampling fraction that realizes the mix without upsampling —
    * the bottleneck stratum (max actual-share deficit) is kept whole
    * and every other stratum scales to preserve the target RATIOS.
    * The output is the mix plan a curation run feeds into
    * `sampleBy`-style stratified sampling ([[graft.queries.Analytics
    * .stratifiedSample]] is the applying face).
    *
    * Scale: one groupBy(lang) over per-doc token counts (map-side
    * partials), then the tiny per-stratum table self-joins against two
    * 1-row scalars — everything after the first agg is effectively
    * driver-free constant work.
    */
  def corpusMix(docs: DataFrame, targets: Seq[(String, Double)] = DefaultMixTargets): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val target = broadcast(targets.toDF("lang", "target_share"))
    val strata = docs
      .select(col("lang"), size(wsTokens(col("text"))).as("toks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"))
    val withTot = strata
      .crossJoin(broadcast(strata.agg(sum("tokens").cast("double").as("total"))))
      .join(target, Seq("lang"), "inner")
      .withColumn("actual_share", col("tokens") / col("total"))
    // scale factor: the stratum with the tightest supply relative to
    // its target is kept whole; all fractions = scale·target/actual ≤ 1
    val scale = withTot
      .agg(min(col("actual_share") / col("target_share")).as("scale"))
    withTot
      .crossJoin(broadcast(scale))
      .select(col("lang"), col("n_docs"), col("tokens"),
        round(col("actual_share"), 4).as("actual_share"),
        col("target_share"),
        round(least(lit(1.0), col("scale") * col("target_share") / col("actual_share")), 4)
          .as("sample_frac"),
        round(col("scale") * col("target_share") * col("total"), 2).as("expected_tokens"))
      .orderBy("lang")
  }

  val DefaultMixTargets: Seq[(String, Double)] =
    Seq("en" -> 0.40, "de" -> 0.15, "fr" -> 0.15, "es" -> 0.15, "zh" -> 0.15)

  def corpusMix(spark: SparkSession, dir: String): DataFrame =
    corpusMix(Tables.documents(spark, dir))

  val corpusMixSql: String = {
    // CAST: a bare 0.4 in VALUES binds as DECIMAL in DuckDB and would
    // string-render differently from Spark's double
    val vals = DefaultMixTargets.map { case (l, s) => s"('$l', CAST($s AS DOUBLE))" }.mkString(", ")
    s"""WITH tgt(lang, target_share) AS (VALUES $vals),
       |d AS (SELECT lang, len(regexp_split_to_array(trim(text), '\\s+')) AS toks FROM documents),
       |s AS (SELECT lang, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS tokens FROM d GROUP BY lang),
       |tot AS (SELECT CAST(sum(tokens) AS DOUBLE) AS total FROM s),
       |j AS (SELECT s.*, tgt.target_share, s.tokens / tot.total AS actual_share
       |      FROM s JOIN tgt USING (lang), tot),
       |sc AS (SELECT min(actual_share / target_share) AS scale FROM j)
       |SELECT lang, n_docs, tokens, round(actual_share, 4) AS actual_share,
       |  target_share,
       |  round(least(1.0, sc.scale * target_share / actual_share), 4) AS sample_frac,
       |  round(sc.scale * target_share * tot.total, 2) AS expected_tokens
       |FROM j, sc, tot ORDER BY lang""".stripMargin
  }

  /** Deterministic shuffle-and-shard assignment — the materialization
    * step a pretraining data pipeline ends with: every doc gets a
    * pseudorandom position (the replayable md5 coin as sort key — same
    * order on every engine, every retry, every backfill) and a shard
    * by round-robin over that shuffled order, which balances doc
    * counts exactly (±1) and token mass in expectation WITHOUT a
    * token-weighted bin-packing pass. The global position rides
    * [[Ranks.globalRank]] — range partitions + prefix offsets, never a
    * single-partition sort; the coin is order-free map-side work.
    */
  def corpusShardAssign(docs: DataFrame, nShards: Int): DataFrame = {
    val coined = docs.select(col("doc_id"),
      size(wsTokens(col("text"))).cast("long").as("toks"),
      graft.functions.QuantileSketch.hashKey(col("doc_id")).as("__coin"))
    Ranks.globalRank(coined, Seq(col("__coin"), col("doc_id")))
      .withColumn("shard", ((col("rn") - 1) % nShards).cast("int"))
      .select("doc_id", "toks", "rn", "shard")
  }

  /** Per-shard acceptance rollup of [[corpusShardAssign]] — doc count,
    * token mass and token share per output shard. The number a 100 TB
    * materialization checks before committing the write plan: docs are
    * balanced ±1 by construction; token share tells whether round-robin
    * suffices or a weighted packer is needed for this corpus.
    */
  def corpusShardPlan(spark: SparkSession, dir: String, nShards: Int = 16): DataFrame = {
    val assign = corpusShardAssign(graft.Tables.documents(spark, dir), nShards)
    val shards = assign.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"))
    shards
      .crossJoin(broadcast(shards.agg(sum("tokens").cast("double").as("__t"))))
      .select(col("shard"), col("n_docs"), col("tokens"),
        round(col("tokens") / col("__t"), 4).as("token_share"))
      .orderBy("shard")
  }

  /** [[corpusShardPlan]] replayed: the md5 coin, the (coin, doc_id)
    * global order (Ranks is spec'd bit-identical to the naive window),
    * round-robin modulo, one rollup.
    */
  def corpusShardPlanSql(nShards: Int = 16): String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    len(regexp_split_to_array(trim(text), '\\s+')) AS toks,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS coin
       |  FROM documents),
       |r AS (SELECT *, row_number() OVER (ORDER BY coin, doc_id) AS rn FROM d),
       |s AS (SELECT CAST((rn - 1) % $nShards AS INTEGER) AS shard,
       |        count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS tokens
       |      FROM r GROUP BY 1),
       |tot AS (SELECT CAST(sum(tokens) AS DOUBLE) AS t FROM s)
       |SELECT shard, n_docs, tokens, round(tokens / t, 4) AS token_share
       |FROM s, tot ORDER BY shard""".stripMargin

  /** Temperature-reweighted mixture + epoch planner — the
    * data-constrained mixing stage [[corpusMix]] does not cover: where
    * corpusMix matches externally-given target shares, this derives the
    * targets FROM the observed distribution, w_s(τ) ∝ p_s^τ (τ<1
    * upweights tail sources, the standard multilingual/multi-domain
    * rebalance), then plans repeats against a token budget: epochs_s =
    * min(w_s·B / tokens_s, maxEpochs), with the shortfall a budget
    * cap makes unfillable reported per stratum (data-constrained
    * scaling: repeating a source beyond ~4 epochs stops buying loss).
    *
    * Plan shape: one partial-agg pass over documents builds the ~20-row
    * per-source stratum table; everything after is arithmetic over
    * (strata × τ grid) rows — at 100 TB the only data-sized cost is the
    * stratum aggregation, which map-side combines. The τ-grid explode
    * and the per-τ normalization window run on tens of rows.
    */
  def mixTemperaturePlan(docs: DataFrame,
                         taus: Seq[Double] = Seq(0.5, 0.7, 1.0),
                         budgetMult: Double = 2.0,
                         maxEpochs: Double = 4.0): DataFrame =
    mixPlanFace(mixStrata(docs), taus, budgetMult, maxEpochs)

  /** The additive per-source stratum relation behind the plan — the
    * fold a streaming maintenance job appends (both measures sum). */
  private[graft] def mixStrata(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), size(wsTokens(col("text"))).cast("long").as("toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"))

  /** Plan arithmetic over the stratum relation — shared by the batch
    * entry and the streaming read face. */
  private[graft] def mixPlanFace(rawStrata: DataFrame,
                                 taus: Seq[Double] = Seq(0.5, 0.7, 1.0),
                                 budgetMult: Double = 2.0,
                                 maxEpochs: Double = 4.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // sources-sized — checkpoint so the corpus tokenization behind the
    // batch face runs once, not once per totals/plan branch
    val strata = rawStrata.localCheckpoint(true)
    val perTau = strata
      .crossJoin(broadcast(strata.agg(sum("tokens").cast("double").as("total"))))
      .select(col("*"), explode(array(taus.map(lit): _*)).as("tau"))
      .withColumn("share", col("tokens") / col("total"))
      .withColumn("pw", pow(col("share"), col("tau")))
      .withColumn("z", sum(col("pw")).over(Window.partitionBy("tau")))
      .withColumn("weight", col("pw") / col("z"))
      .withColumn("target_toks", col("weight") * lit(budgetMult) * col("total"))
      .withColumn("epochs", least(col("target_toks") / col("tokens"), lit(maxEpochs)))
    perTau.select(
      col("tau"), col("source"), col("n_docs"), col("tokens"),
      round(col("share"), 4).as("share"),
      round(col("weight"), 4).as("weight"),
      round(col("epochs"), 4).as("epochs"),
      round(col("epochs") * col("tokens"), 2).as("planned_tokens"),
      round(greatest(lit(0.0), col("target_toks") - lit(maxEpochs) * col("tokens")), 2)
        .as("shortfall_tokens"))
      .orderBy("tau", "source")
  }

  def mixTemperaturePlan(spark: SparkSession, dir: String): DataFrame =
    mixTemperaturePlan(Tables.documents(spark, dir))

  val mixTemperaturePlanSql: String =
    """WITH taus(tau) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.7 AS DOUBLE)), (CAST(1.0 AS DOUBLE))),
      |d AS (SELECT source, len(regexp_split_to_array(trim(text), '\s+')) AS toks FROM documents),
      |s AS (SELECT source, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS tokens FROM d GROUP BY source),
      |tot AS (SELECT CAST(sum(tokens) AS DOUBLE) AS total FROM s),
      |j AS (
      |  SELECT s.*, taus.tau, tot.total, s.tokens / tot.total AS share,
      |    pow(s.tokens / tot.total, taus.tau) AS pw
      |  FROM s, taus, tot),
      |w AS (
      |  SELECT *, pw / sum(pw) OVER (PARTITION BY tau) AS weight FROM j),
      |p AS (
      |  SELECT *, weight * 2.0 * total AS target_toks,
      |    least(weight * 2.0 * total / tokens, 4.0) AS epochs
      |  FROM w)
      |SELECT tau, source, n_docs, tokens,
      |  round(share, 4) AS share,
      |  round(weight, 4) AS weight,
      |  round(epochs, 4) AS epochs,
      |  round(epochs * tokens, 2) AS planned_tokens,
      |  round(greatest(0.0, target_toks - 4.0 * tokens), 2) AS shortfall_tokens
      |FROM p ORDER BY tau, source""".stripMargin

  /** Train/val/test distribution-drift gate: smoothed unigram KL
    * divergence of each held-out split against the training split,
    * under the SAME deterministic 40503-coin assignment `split_assign`
    * certifies (and [[graft.dedup.Dedup.leakageSafeSplit]] hardens) —
    * the accept/reject evidence that a split is distributionally
    * representative, not just leak-free. Add-1 smoothing over the union
    * vocab (so q=0 never divides), plus the vocab-overlap and OOV-mass
    * readouts reviewers actually look at first.
    *
    * Plan: one explode + (split, token) count pass over the corpus —
    * map-side combined, the only data-sized stage; each pair comparison
    * is a full-outer join on the vocab-sized count table with a
    * broadcast 1-row totals frame. At 100 TB the vocab table is the
    * token_vocab artifact this shares tokenization with.
    */
  def splitUnigramKl(docs: DataFrame): DataFrame = {
    val bucket = pmod(col("doc_id") * lit(40503L), lit(100L))
    // vocab-sized (|V|×3 rows) — checkpoint so the corpus-sized
    // explode+count pass runs ONCE, not once per pair/totals branch
    val counts = docs
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .select(col("split"), explode(wsTokens(lower(col("text")))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("split", "token").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    def pairKl(cmpName: String): DataFrame = {
      val ref = counts.filter(col("split") === "train").select(col("token"), col("n").as("nr"))
      val cmp = counts.filter(col("split") === cmpName).select(col("token"), col("n").as("nc"))
      val j = ref.join(cmp, Seq("token"), "full_outer")
        .select(coalesce(col("nr"), lit(0L)).as("n_ref"),
          coalesce(col("nc"), lit(0L)).as("n_cmp"))
      val tot = broadcast(j.agg(
        count(lit(1)).as("vocab_union"),
        sum(when(col("n_ref") > 0 && col("n_cmp") > 0, 1L).otherwise(0L)).as("vocab_shared"),
        sum("n_ref").as("ref_tokens"), sum("n_cmp").as("cmp_tokens"),
        sum(when(col("n_ref") === 0, col("n_cmp")).otherwise(0L)).as("oov_mass")))
      j.crossJoin(tot)
        .select(
          col("vocab_union"), col("vocab_shared"), col("ref_tokens"),
          col("cmp_tokens"), col("oov_mass"),
          ((col("n_ref") + 1).cast("double") /
            (col("ref_tokens") + col("vocab_union")).cast("double")).as("p"),
          ((col("n_cmp") + 1).cast("double") /
            (col("cmp_tokens") + col("vocab_union")).cast("double")).as("q"))
        .groupBy("vocab_union", "vocab_shared", "ref_tokens", "cmp_tokens", "oov_mass")
        .agg(sum(col("p") * log(col("p") / col("q"))).as("kl"))
        .select(lit(s"train_$cmpName").as("pair"),
          col("ref_tokens"), col("cmp_tokens"),
          col("vocab_union"), col("vocab_shared"),
          round(col("oov_mass").cast("double") / col("cmp_tokens"), 4).as("oov_rate"),
          round(col("kl"), 4).as("kl_divergence"))
    }
    pairKl("val").unionByName(pairKl("test")).orderBy("pair")
  }

  def splitUnigramKl(spark: SparkSession, dir: String): DataFrame =
    splitUnigramKl(Tables.documents(spark, dir))

  val splitUnigramKlSql: String = {
    def pairCte(cmp: String): String =
      s"""j_$cmp AS (
         |  SELECT coalesce(r.n, 0) AS n_ref, coalesce(m.n, 0) AS n_cmp
         |  FROM (SELECT token, n FROM c WHERE split = 'train') r
         |  FULL JOIN (SELECT token, n FROM c WHERE split = '$cmp') m USING (token)),
         |t_$cmp AS (
         |  SELECT CAST(count(*) AS BIGINT) AS vocab_union,
         |    CAST(sum(CASE WHEN n_ref > 0 AND n_cmp > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_shared,
         |    CAST(sum(n_ref) AS BIGINT) AS ref_tokens,
         |    CAST(sum(n_cmp) AS BIGINT) AS cmp_tokens,
         |    CAST(sum(CASE WHEN n_ref = 0 THEN n_cmp ELSE 0 END) AS BIGINT) AS oov_mass
         |  FROM j_$cmp),
         |k_$cmp AS (
         |  SELECT 'train_$cmp' AS pair, t.ref_tokens, t.cmp_tokens,
         |    t.vocab_union, t.vocab_shared,
         |    round(CAST(t.oov_mass AS DOUBLE) / t.cmp_tokens, 4) AS oov_rate,
         |    round(sum(
         |      (CAST(j.n_ref + 1 AS DOUBLE) / (t.ref_tokens + t.vocab_union)) *
         |      ln((CAST(j.n_ref + 1 AS DOUBLE) / (t.ref_tokens + t.vocab_union)) /
         |         (CAST(j.n_cmp + 1 AS DOUBLE) / (t.cmp_tokens + t.vocab_union)))), 4) AS kl_divergence
         |  FROM j_$cmp j, t_$cmp t
         |  GROUP BY 1, 2, 3, 4, 5, 6)""".stripMargin
    s"""WITH tok AS (
       |  SELECT CASE WHEN (doc_id * 40503) % 100 < 80 THEN 'train'
       |              WHEN (doc_id * 40503) % 100 < 90 THEN 'val'
       |              ELSE 'test' END AS split,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
       |  FROM documents),
       |c AS (SELECT split, token, count(*) AS n FROM tok WHERE token <> '' GROUP BY 1, 2),
       |${pairCte("val")},
       |${pairCte("test")}
       |SELECT * FROM k_val UNION ALL SELECT * FROM k_test ORDER BY pair""".stripMargin
  }

  // --------------------------------------------------------------------
  // DSIR — Data Selection via Importance Resampling (Xie et al.,
  // NeurIPS 2023): score every raw document by how much it resembles a
  // TARGET domain under hashed-n-gram bag-of-words models, then sample
  // the raw pool with probability ∝ exp(weight) via Gumbel top-k.
  // --------------------------------------------------------------------

  /** Hashed-feature dimensionality (the DSIR paper uses 10⁴; 2¹⁰ keeps
    * the bucket table broadcast-trivial while leaving ~18 bigrams per
    * bucket at sf0.01 — enough collisions to exercise the hashing).
    */
  val DsirBuckets = 1024

  /** Laplace smoothing mass per bucket. */
  val DsirAlpha = 0.5

  /** The target domain: English documents (the corpus' majority lang).
    * DSIR's canonical deployment scores a huge raw crawl against a
    * small curated target (Wikipedia, books); here the target/raw
    * split is intra-corpus so every number is oracle-replayable.
    */
  val DsirTargetLang = "en"

  /** Resampling budget for [[dsirSample]]. */
  val DsirSampleK = 100

  /** Replayable hashed-bigram feature bucket: md5 of `"a b"`, first 15
    * hex chars (60 bits, exact in a BIGINT on both engines), mod
    * [[DsirBuckets]] — the [[weightedSample]] md5-coin discipline
    * applied to feature hashing, so DuckDB rebuilds the exact bucket
    * of every bigram.
    */
  private[functions] def bigramBucket(a: Column, b: Column): Column =
    (conv(substring(md5(concat(a, lit(" "), b).cast("binary")), 1, 15), 16, 10)
      .cast("long") % DsirBuckets).as("bucket")

  /** Memoized per-document DSIR state: (doc_id, is_target, n_bigrams,
    * logw_raw) where logw_raw = Σ_b n_b(doc) · ln(p̂_target[b] /
    * p̂_raw[b]) over the doc's hashed-bigram buckets, with
    * Laplace-smoothed bucket models trained on the target / raw
    * partitions of the corpus itself.
    *
    * Plan (the shape that holds at 100 TB): bigrams explode map-side
    * and hash to buckets map-side, so the only token-volume shuffle is
    * the (doc, bucket) partial-aggregated count; the lang flag joins at
    * DOC grain (doc-keyed, co-partitioned with the count agg); the
    * model is ≤[[DsirBuckets]] rows — aggregated with map-side
    * partials, then BROADCAST back for per-doc scoring, so scoring is
    * one broadcast-hash-join + one doc-keyed agg. Nothing is ever
    * collected; the model table is bounded by construction regardless
    * of corpus size. Shared by [[dsirWeights]] and [[dsirSample]].
    */
  private def cachedDsirLogw(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrElseUpdate(spark, ("dsirLogw", dir)) {
      val rows = dsirBucketRowsFrom(cachedDocBigrams(spark, dir),
        Tables.documents(spark, dir))
      dsirScore(rows, dsirTrain(rows)).localCheckpoint(true)
    }

  /** (doc_id, bucket, n, is_target) hashed-bucket counts — the shared
    * input of [[dsirTrain]] and [[dsirScore]] (and of the streaming
    * serving face, [[graft.streaming.StreamingDsirJob]]).
    */
  private[graft] def dsirBucketRows(docs: DataFrame): DataFrame =
    dsirBucketRowsFrom(docBigrams(docs), docs)

  private def dsirBucketRowsFrom(bigramRows: DataFrame, docs: DataFrame): DataFrame =
    bigramRows
      .select(col("doc_id"), bigramBucket(col("a"), col("b")))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("n"))
      .join(docs.select(col("doc_id"),
        (col("lang") === lit(DsirTargetLang)).cast("int").as("is_target")), "doc_id")

  /** Fit the bucket model: (bucket, lam) log importance ratios, plus
    * the UNSEEN-bucket default (both counts zero → λ =
    * ln((tr+αB)/(tt+αB))) stored under bucket = −1 so the persisted
    * model is one self-contained table a serving job can broadcast.
    */
  private[graft] def dsirTrain(rows: DataFrame): DataFrame = {
    val model = rows.groupBy("bucket").agg(
      sum(when(col("is_target") === 1, col("n")).otherwise(0L)).as("c_t"),
      sum(when(col("is_target") === 0, col("n")).otherwise(0L)).as("c_r"))
    val totals = model.agg(sum("c_t").cast("double").as("tt"),
      sum("c_r").cast("double").as("tr"))
    val denom = DsirAlpha * DsirBuckets
    model.crossJoin(broadcast(totals)).select(col("bucket"),
        log(((col("c_t") + lit(DsirAlpha)) / (col("tt") + lit(denom))) /
            ((col("c_r") + lit(DsirAlpha)) / (col("tr") + lit(denom)))).as("lam"))
      .unionByName(totals.select(lit(-1L).as("bucket"),
        log((col("tr") + lit(denom)) / (col("tt") + lit(denom))).as("lam")))
  }

  /** Score bucket rows against a (possibly frozen/persisted) model:
    * broadcast-join the ≤[[DsirBuckets]]+1-row λ table, buckets the
    * model never saw fall back to the bucket = −1 default, one
    * doc-keyed aggregation. (doc_id, is_target, n_bigrams, logw_raw).
    */
  private[graft] def dsirScore(rows: DataFrame, model: DataFrame): DataFrame = {
    val default = model.filter(col("bucket") === -1L)
      .select(col("lam").as("lam_def"))
    rows.join(broadcast(model.filter(col("bucket") =!= -1L)), Seq("bucket"), "left")
      .crossJoin(broadcast(default))
      .groupBy("doc_id", "is_target")
      .agg(sum("n").cast("long").as("n_bigrams"),
        sum(col("n") * coalesce(col("lam"), col("lam_def"))).as("logw_raw"))
  }

  /** Bench attribution hook for the shared DSIR model+weights table
    * ([[graft.Artifacts]] `text_dsir_logw`).
    */
  def prewarmDsirLogw(spark: SparkSession, dir: String): Unit = {
    cachedDsirLogw(spark, dir); ()
  }

  /** DSIR importance weights for every document with ≥1 bigram: the
    * log importance ratio a data-selection run ranks raw documents by.
    * Target documents score high BY CONSTRUCTION (they trained the
    * numerator model) — the is_target column keeps the readout honest.
    * Rounded 4dp (the logprob-family discipline: both engines compute
    * the identical IEEE expression tree from exact integer counts; the
    * round hides sub-ulp aggregation-order noise).
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    cachedDsirLogw(spark, dir)
      .select(col("doc_id"), col("is_target"), col("n_bigrams"),
        round(col("logw_raw"), 4).as("dsir_logw"))
      .orderBy("doc_id")

  /** DSIR resampling — the SELECTION step: sample [[DsirSampleK]] raw
    * (non-target) documents without replacement with probability
    * ∝ exp(dsir_logw) via Gumbel top-k: key = logw − ln(−ln(u)) with u
    * the md5-coin uniform of the doc_id ([[weightedSample]] lattice),
    * so the sample is a pure function of the data — reproducible
    * across runs, engines, partitionings, and task retries.
    *
    * Scale: the key is a map-side projection over the memoized per-doc
    * weights; the only cross-partition work is the global top-k
    * (TakeOrderedAndProject per-partition heaps — never a full sort).
    */
  def dsirSample(spark: SparkSession, dir: String, k: Int = DsirSampleK): DataFrame = {
    val u = (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(1152921504606846976.0)
    cachedDsirLogw(spark, dir)
      .filter(col("is_target") === 0)
      .select(col("doc_id"), col("n_bigrams"),
        round(col("logw_raw"), 4).as("dsir_logw"),
        round(col("logw_raw") - log(-log(u)), 4).as("gumbel_key"))
      .orderBy(col("gumbel_key").desc, col("doc_id"))
      .limit(k)
  }

  /** The DSIR oracle CTE body (no WITH), every name prefixed with `p`
    * so the chain composes with other chains in one statement
    * (gate_agreement).
    */
  private[functions] def dsirBody(p: String): String =
    s"""${p}toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |  FROM documents),
       |${p}z AS (
       |  SELECT doc_id, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
       |  FROM ${p}toks WHERE len(t) >= 2),
       |${p}bg AS (SELECT doc_id, p[1] AS a, p[2] AS b FROM ${p}z
       |       WHERE p[1] <> '' AND p[2] <> ''),
       |${p}bk AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(a || ' ' || b), 1, 15))::BIGINT % $DsirBuckets AS bucket,
       |    count(*) AS n
       |  FROM ${p}bg GROUP BY 1, 2),
       |${p}fl AS (SELECT doc_id, CAST(lang = '$DsirTargetLang' AS INTEGER) AS is_target
       |       FROM documents),
       |${p}r AS (SELECT bk.doc_id, bk.bucket, bk.n, fl.is_target
       |      FROM ${p}bk bk JOIN ${p}fl fl USING (doc_id)),
       |${p}m AS (SELECT bucket,
       |        sum(CASE WHEN is_target = 1 THEN n ELSE 0 END) AS c_t,
       |        sum(CASE WHEN is_target = 0 THEN n ELSE 0 END) AS c_r
       |      FROM ${p}r GROUP BY bucket),
       |${p}tot AS (SELECT CAST(sum(c_t) AS DOUBLE) AS tt, CAST(sum(c_r) AS DOUBLE) AS tr
       |        FROM ${p}m),
       |${p}lam AS (SELECT bucket,
       |          ln(((c_t + $DsirAlpha) / (tt + ${DsirAlpha * DsirBuckets})) /
       |             ((c_r + $DsirAlpha) / (tr + ${DsirAlpha * DsirBuckets}))) AS lam
       |        FROM ${p}m, ${p}tot),
       |${p}w AS (
       |  SELECT doc_id, is_target, CAST(sum(n) AS BIGINT) AS n_bigrams,
       |    sum(n * lam) AS logw_raw
       |  FROM ${p}r r JOIN ${p}lam USING (bucket)
       |  GROUP BY 1, 2)""".stripMargin

  private val dsirCtes: String = "WITH " + dsirBody("")

  val dsirWeightsSql: String =
    s"""$dsirCtes
       |SELECT doc_id, is_target, n_bigrams, round(logw_raw, 4) AS dsir_logw
       |FROM w ORDER BY doc_id""".stripMargin

  val dsirSampleSql: String =
    s"""$dsirCtes
       |SELECT doc_id, n_bigrams, round(logw_raw, 4) AS dsir_logw,
       |  round(logw_raw - ln(-ln(
       |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 0.5)
       |      / 1152921504606846976.0)), 4) AS gumbel_key
       |FROM w WHERE is_target = 0
       |ORDER BY gumbel_key DESC, doc_id LIMIT $DsirSampleK""".stripMargin

  /** DSIR acceptance readout — effective sample size of the raw pool
    * under the importance weights: ESS = (Σwᵢ)²/Σwᵢ² over
    * wᵢ = exp(logwᵢ − max) (log-sum-exp shift, so the exponentials
    * never overflow regardless of weight magnitude). ESS/n is THE
    * importance-sampling diagnostic: near 1 the weights are flat and
    * resampling changes nothing; near 1/n one document dominates and
    * the resample would degenerate — the number to check BEFORE
    * spending a 100 TB pass on [[dsirSample]].
    *
    * One 1-row max broadcast + one fold over the memoized per-doc
    * weights. Weights enter at their 4-dp certified rounding so both
    * engines exponentiate identical inputs.
    */
  def dsirEss(spark: SparkSession, dir: String): DataFrame = {
    val raw = cachedDsirLogw(spark, dir)
      .filter(col("is_target") === 0)
      .select(round(col("logw_raw"), 4).as("lw"))
    raw.crossJoin(broadcast(raw.agg(max("lw").as("mx"))))
      .select(col("lw"), exp(col("lw") - col("mx")).as("w"))
      .agg(count(lit(1)).as("n_raw"),
        round(avg(col("lw")), 4).as("mean_logw"),
        round(max(col("lw")), 4).as("max_logw"),
        sum(col("w")).as("s"), sum(col("w") * col("w")).as("q"))
      .select(col("n_raw"), col("mean_logw"), col("max_logw"),
        round(col("s") * col("s") / col("q"), 4).as("ess"),
        round(col("s") * col("s") / col("q") / col("n_raw"), 4).as("ess_frac"))
  }

  val dsirEssSql: String =
    s"""$dsirCtes,
       |raw AS (SELECT round(logw_raw, 4) AS lw FROM w WHERE is_target = 0),
       |mx AS (SELECT max(lw) AS mx FROM raw),
       |e AS (SELECT lw, exp(lw - mx.mx) AS w FROM raw, mx)
       |SELECT CAST(count(*) AS BIGINT) AS n_raw,
       |  round(avg(lw), 4) AS mean_logw, round(max(lw), 4) AS max_logw,
       |  round(sum(w) * sum(w) / sum(w * w), 4) AS ess,
       |  round(sum(w) * sum(w) / sum(w * w) / count(*), 4) AS ess_frac
       |FROM e""".stripMargin

  // --------------------------------------------------------------------
  // Kneser–Ney bigram scoring — the published smoothing next to the
  // add-k face ([[bigramLogprob]]).
  // --------------------------------------------------------------------

  /** Absolute-discounting mass (the standard 0.75). */
  val KnDiscount = 0.75

  /** Interpolated Kneser–Ney bigram model, self-scored per document:
    * p_KN(b|a) = max(c(ab) − D, 0)/c(a) + (D · N₁₊(a·)/c(a)) ·
    * (N₁₊(·b)/N₁₊(··)) — the continuation-count smoothing that fixes
    * add-k's overestimate of unseen-but-frequent unigrams ("francisco"
    * follows few contexts). c(a) is the CONTEXT count Σ_b c(ab);
    * N₁₊(a·)/N₁₊(·b) are distinct continuation/context counts;
    * N₁₊(··) the distinct bigram type count. Every ingredient is an
    * exact integer count, so both engines build the identical IEEE
    * expression and the per-doc average certifies at 4dp.
    *
    * Plan: the model is one (a,b) count agg re-aggregated twice (by a:
    * context + continuation-fanout; by b: context-fanout) — vocab-
    * sized, keyed shuffles with map-side partials. Scoring pre-aggs
    * the doc side to (doc, a, b, n_occ) BEFORE the model joins (the
    * [[bigramLogprob]] skew cap: a Zipf-hot bigram is one row per doc,
    * not one per occurrence), then joins are (a,b)-, a-, b-keyed with
    * the 1-row type scalar broadcast. Nothing corpus²-sized; nothing
    * collected.
    */
  def knBigramLogprob(spark: SparkSession, dir: String): DataFrame =
    knBigramLogprobFrom(cachedDocBigrams(spark, dir),
      Some(cachedKnModel(spark, dir)))

  def knBigramLogprob(docs: DataFrame): DataFrame =
    knBigramLogprobFrom(docBigrams(docs), None)

  /** The KN model tables — (a,b) counts plus the a-/b-keyed
    * re-aggregations — memoized per dir off the shared `text_bigrams`
    * artifact (the text_classifier-over-dsir_logw discipline): they are
    * vocab-sized and immutable per corpus, so repeat scoring calls
    * reuse one build instead of re-running three aggregations over the
    * bigram table.
    */
  private def cachedKnModel(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) =
    graft.SessionCache.getOrElseUpdate(spark, ("textKnModel", dir)) {
      val (m, a, b) = knModelFrom(cachedDocBigrams(spark, dir))
      (m.localCheckpoint(true), a.localCheckpoint(true), b.localCheckpoint(true))
    }

  def prewarmKnModel(spark: SparkSession, dir: String): Unit = {
    cachedKnModel(spark, dir); ()
  }

  private def knModelFrom(bigramRows: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val model = bigramRows.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val aStats = model.groupBy("a")
      .agg(sum("c_ab").as("c_a"), count(lit(1)).as("n1p_a"))
    val bStats = model.groupBy("b").agg(count(lit(1)).as("cont_b"))
    (model, aStats, bStats)
  }

  private def knBigramLogprobFrom(bigramRows: DataFrame,
      cached: Option[(DataFrame, DataFrame, DataFrame)]): DataFrame = {
    val (model, aStats, bStats) = cached.getOrElse(knModelFrom(bigramRows))
    val types = model.agg(count(lit(1)).cast("double").as("n_types"))
    val perDoc = bigramRows.groupBy("doc_id", "a", "b")
      .agg(count(lit(1)).as("n_occ"))
    perDoc
      .join(model, Seq("a", "b"))
      .join(aStats, "a")
      .join(bStats, "b")
      .crossJoin(broadcast(types))
      .select(col("doc_id"), col("n_occ"),
        (greatest(col("c_ab") - lit(KnDiscount), lit(0.0)) / col("c_a") +
          lit(KnDiscount) * col("n1p_a") / col("c_a") *
            (col("cont_b") / col("n_types"))).as("p"))
      .groupBy("doc_id")
      .agg(sum("n_occ").cast("long").as("n_bigrams"),
        round(sum(col("n_occ") * -log(col("p"))) / sum("n_occ"), 4)
          .as("avg_neg_logprob_kn"))
      .orderBy("doc_id")
  }

  val knBigramLogprobSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |  FROM documents),
       |z AS (
       |  SELECT doc_id, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
       |  FROM toks WHERE len(t) >= 2),
       |bg AS (SELECT doc_id, p[1] AS a, p[2] AS b FROM z
       |       WHERE p[1] <> '' AND p[2] <> ''),
       |model AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY 1, 2),
       |ast AS (SELECT a, sum(c_ab) AS c_a, count(*) AS n1p_a FROM model GROUP BY a),
       |bst AS (SELECT b, count(*) AS cont_b FROM model GROUP BY b),
       |ty AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM model),
       |pd AS (SELECT doc_id, a, b, count(*) AS n_occ FROM bg GROUP BY 1, 2, 3),
       |sc AS (
       |  SELECT doc_id, n_occ,
       |    greatest(c_ab - $KnDiscount, 0.0) / c_a +
       |      $KnDiscount * n1p_a / c_a * (cont_b / n_types) AS p
       |  FROM pd JOIN model USING (a, b) JOIN ast USING (a) JOIN bst USING (b)
       |  CROSS JOIN ty)
       |SELECT doc_id, CAST(sum(n_occ) AS BIGINT) AS n_bigrams,
       |  round(sum(n_occ * -ln(p)) / sum(n_occ), 4) AS avg_neg_logprob_kn
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // CCNet perplexity buckets (Wenzek et al., LREC 2020): rank the
  // corpus by LM score, cut into head / middle / tail terciles.
  // --------------------------------------------------------------------

  /** Head/middle/tail perplexity terciles — the CCNet quality
    * partition: every document's self-scored unigram LM cost
    * ([[unigramLogprob]], the cheap stand-in where CCNet runs KenLM)
    * bucketed into exact terciles of the (avg_neg_logprob, doc_id)
    * total order. Bucket 1 = head (most predictable text, kept first);
    * bucket 3 = tail (dropped or down-weighted first).
    *
    * Scale: scoring is the shared unigram substrate; the tercile cut
    * rides [[Ranks.globalNtile]] — range partitions + per-range
    * windows + broadcast prefix offsets, never a single-partition
    * global sort.
    */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame =
    Ranks.globalNtile(
        unigramLogprobFrom(cachedDocTokenCounts(spark, dir)),
        3, Seq(col("avg_neg_logprob"), col("doc_id")))
      .withColumnRenamed("bucket", "ppl_bucket")
      .select("doc_id", "n_tokens", "avg_neg_logprob", "ppl_bucket")
      .orderBy("doc_id")

  /** The ppl-tercile CTE body through `${p}s` (doc_id, n_tokens,
    * avg_neg_logprob) — no WITH, names prefixed for composition.
    */
  private[functions] def pplBody(p: String): String =
    s"""${p}t AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
       |  FROM documents),
       |${p}c AS (SELECT doc_id, token, count(*) AS c FROM ${p}t
       |       WHERE token <> '' GROUP BY doc_id, token),
       |${p}m AS (SELECT token, CAST(sum(c) AS BIGINT) AS tn FROM ${p}c GROUP BY token),
       |${p}tot AS (SELECT CAST(sum(tn) AS DOUBLE) AS tt FROM ${p}m),
       |${p}s AS (
       |  SELECT doc_id, CAST(sum(c.c) AS BIGINT) AS n_tokens,
       |    round(sum(c.c * (ln(tot.tt) - ln(m.tn))) / sum(c.c), 4) AS avg_neg_logprob
       |  FROM ${p}c c JOIN ${p}m m USING (token), ${p}tot tot
       |  GROUP BY doc_id)""".stripMargin

  val pplBucketsSql: String =
    s"""WITH ${pplBody("")}
       |SELECT doc_id, n_tokens, avg_neg_logprob,
       |  CAST(ntile(3) OVER (ORDER BY avg_neg_logprob, doc_id) AS INTEGER) AS ppl_bucket
       |FROM s ORDER BY doc_id""".stripMargin
}
