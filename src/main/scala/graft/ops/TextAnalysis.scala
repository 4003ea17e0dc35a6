package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Boundaries
import graft.Tables.table

/** §2j text analysis for training-data curation (SURVEY §2j `text_stats`
  * plus language-ID, token counting and fingerprinting).
  *
  * Everything here is built-in scalar/higher-order expressions evaluated
  * inside the scan's whole-stage-codegen pipeline: per-document work, no
  * shuffle, no UDF — the shape that scales linearly with corpus size.
  */
object TextAnalysis {

  /** Tiny per-language stopword lexicons (alphabetical language order). */
  private val Lexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "en" -> Seq("the", "and", "is", "of", "to"),
    "es" -> Seq("el", "la", "los", "que", "es"),
    "fr" -> Seq("le", "les", "des", "et", "est"))

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  private def hits(tokens: Column, lex: Seq[String]): Column =
    size(filter(tokens, t => t.isin(lex.map(lit(_)): _*)))

  /** Per-document quality statistics: char/token counts, average token
    * length, punctuation ratio, stopword ratio, and a deterministic [0,1]
    * quality score (longer docs with organic stopword share score higher).
    */
  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    textStats(table(spark, sfDir, "documents")).orderBy(col("doc_id"))

  /** API form: the same per-document statistics over any `(doc_id, text)`
    * frame — unordered (the sfDir wrapper adds the presentation sort).
    * Like every form in this family, the whole computation is scan-stage
    * scalar/HOF expressions: zero shuffle regardless of the input frame.
    */
  def textStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("n_chars", length(col("text")))
      .withColumn("n_tokens", size(col("tokens")))
      .withColumn("alpha_chars", length(regexp_replace(col("text"), " ", "")))
      .withColumn("avg_token_len",
        round(col("alpha_chars").cast(DoubleType) / col("n_tokens"), 6))
      .withColumn("punct_chars",
        length(regexp_replace(col("text"), "[\\p{L}\\p{N}\\s]", "")))
      // n_chars = 0 (empty doc) leaves the ratio undefined — emit null
      // rather than divide by zero, which under ANSI (Spark 4 default)
      // aborts the job. n_tokens needs no such gate: split('', ' ') is
      // [''] in both engines, so it is always ≥ 1.
      .withColumn("punct_ratio",
        when(col("n_chars") > 0,
          round(col("punct_chars").cast(DoubleType) / col("n_chars"), 6)))
      .withColumn("stop_tokens", hits(col("tokens"), Stopwords))
      .withColumn("stop_ratio",
        round(col("stop_tokens").cast(DoubleType) / col("n_tokens"), 6))
      .withColumn("quality_score", qualityScore(col("tokens")))
      .select(col("doc_id"), col("n_chars"), col("n_tokens"),
        col("avg_token_len"), col("punct_chars"), col("punct_ratio"),
        col("stop_tokens"), col("stop_ratio"), col("quality_score"))

  /** n-gram-heuristic language ID: count stopword-lexicon hits per language,
    * argmax with alphabetical tie-break (so a doc with zero hits everywhere
    * deterministically maps to 'de'). Mechanical but scale-shaped: one pass,
    * no shuffle.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame =
    langId(table(spark, sfDir, "documents")).orderBy(col("doc_id"))

  /** API form: lexicon-hit language ID over any `(doc_id, text)` frame —
    * unordered.
    */
  def langId(docs: DataFrame): DataFrame = {
    val base = docs.withColumn("tokens", split(col("text"), " "))
    val withHits = Lexicons.foldLeft(base) { case (df, (lang, lex)) =>
      df.withColumn(s"${lang}_hits", hits(col("tokens"), lex))
    }
    val pred = argmaxLang(col("de_hits"), col("en_hits"), col("es_hits"),
      col("fr_hits"))
    withHits
      .withColumn("pred_lang", pred)
      .select(col("doc_id"), col("de_hits"), col("en_hits"), col("es_hits"),
        col("fr_hits"), col("pred_lang"))
  }

  /** Token counting: whitespace tokens vs a BPE-ish regex segmentation
    * (letter runs | digit runs | single non-space symbol runs) — the
    * standard pre-tokenizer shape.
    */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    tokenCount(table(spark, sfDir, "documents")).orderBy(col("doc_id"))

  /** API form: both token counts over any `(doc_id, text)` frame —
    * unordered.
    */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).as("n_ws_tokens"),
      bpeTokenCount(col("text")).as("n_bpe_tokens"))

  /** Corpus vocabulary top-k: the canonical distributed word count. The
    * aggregation combines map-side (shuffle carries one row per distinct
    * token per partition, not per occurrence) and the rank cut runs as
    * TakeOrderedAndProject (per-partition top-k, driver merges k×partitions
    * rows) — constant driver memory at any corpus size. Ties break on the
    * token for a deterministic, oracle-stable cut.
    */
  def vocabTopK(spark: SparkSession, sfDir: String): DataFrame =
    vocabTopK(table(spark, sfDir, "documents"), 50)

  /** API form: global token top-`k` over any `(doc_id, text)` frame. The
    * order-by-limit IS the semantics here (TakeOrdered top-k, constant
    * driver memory), so this form keeps its ordering.
    */
  def vocabTopK(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    docs
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
  }

  /** Order-sensitive document fingerprint: polynomial rolling hash over the
    * token-hash sequence, mod a ~2^57 prime (keeps acc·31 + token term well
    * inside i64 — Spark 4 runs ANSI mode, so wrap-around multiplication
    * would raise ARITHMETIC_OVERFLOW). Unlike the SHA content hash this is
    * streamable/rolling — the building block for chunk-level dedup.
    * The per-token term is md5-derived (first 5 hex chars = 20 bits; md5
    * hex is engine-identical), so the fingerprint is cross-engine
    * reproducible and runs under the full DuckDB hash oracle; determinism +
    * order-sensitivity are additionally asserted in-suite.
    */
  def docFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    docFingerprint(table(spark, sfDir, "documents")).orderBy(col("doc_id"))

  /** API form: rolling fingerprint over any `(doc_id, text)` frame —
    * unordered.
    */
  def docFingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), rollingFp(col("text")).as("rolling_fp"))

  /** Pattern redaction over the events `props` payload: digit runs are
    * replaced by a `<NUM>` placeholder and the hit count is surfaced per
    * row. This is the PII-scrub plumbing a curation pipeline needs —
    * swapping the digit-run pattern for email/phone/SSN patterns changes
    * one regex, not the plan: a codegen'd scalar projection inside the
    * scan stage, zero shuffle, linear at any scale. (The harness corpus
    * contains no planted PII, so digit runs are the honest non-vacuous
    * stand-in — every row carries at least one hit to redact.)
    */
  def textRedact(spark: SparkSession, sfDir: String): DataFrame =
    textRedact(graft.Tables.table(spark, sfDir, "events"),
      idCol = "event_id", payloadCol = "props")
      .orderBy(col("event_id"))

  /** API form: redact every `pattern` match in `payloadCol` with
    * `placeholder` and surface the hit count, over any frame — the regex
    * is the policy (swap in email/phone/SSN patterns), the plan is always
    * a scan-stage projection. Output: (idCol, redacted, n_hits),
    * unordered.
    */
  def textRedact(df: DataFrame, idCol: String, payloadCol: String,
      pattern: String = "[0-9]+", placeholder: String = "<NUM>"): DataFrame =
    df.select(col(idCol),
      regexp_replace(col(payloadCol), pattern, placeholder).as("redacted"),
      size(regexp_extract_all(col(payloadCol), lit(pattern), lit(0)))
        .as("n_hits"))

  /** WITHIN-DOCUMENT REPETITION STATS — the Gopher-family quality filters
    * (Rae et al. 2021, "Scaling Language Models", table A1's repetition
    * signals) expressed over this corpus's word-sequence documents:
    * boilerplate and degenerate generations repeat words and n-grams far
    * above organic text, and curation drops documents whose repetition
    * fractions exceed policy thresholds. Emitted per doc:
    *
    *  - `dup_word_frac`      — (n_words − n_distinct_words) / n_words
    *  - `top_bigram_frac`    — occurrences of the most frequent bigram /
    *                           total bigrams
    *  - `dup_trigram_frac`   — excess occurrences of repeated trigrams /
    *                           total trigrams
    *
    * The metrics are raw signals; thresholds are policy and belong to the
    * composing pipeline (cf. `corpusClean`'s quality floor). Like the rest
    * of this family the whole computation is in-row scan-stage expressions
    * — zero shuffle at any corpus size. The n-gram counting HOF lambdas
    * evaluate interpreted (not codegen), an accepted trade here: the
    * in-row cost is O(distinct-grams × grams) with grams bounded by
    * document word count, and rows are embarrassingly parallel — there is
    * no plan in which this becomes a shuffle or a skew problem.
    */
  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame =
    repetitionStats(table(spark, sfDir, "documents")).orderBy(col("doc_id"))

  /** API form: repetition stats over any `(doc_id, text)` frame,
    * unordered. Documents too short for an n-gram level (< 2 words for
    * bigrams, < 3 for trigrams) emit null for that fraction — undefined,
    * not zero, mirroring `textStats`' empty-doc ratio convention (and
    * ANSI-safe: the divisions are gated, never 0/0). NULL-text rows are
    * dropped, matching `tfidfTopK`'s convention — under legacy sizeOfNull,
    * size(split(NULL)) is −1, which would silently emit n_words = −1 here
    * while an oracle emits NULL (a dormant divergence on today's
    * null-free corpora, declared away on both twins).
    */
  def repetitionStats(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull)
      // ONE linear native pass per document for all six counters
      // (StringMath.ngramRepCounts — codegen'd, in the scan stage); the
      // fractions below use the same integer operands and cast/divide/
      // round shapes as the HOF formulation it replaced, so values are
      // bit-identical (PropertiesSpec pins the equality on arbitrary
      // token lists; the DuckDB oracle re-proves it cross-engine). The
      // old top-bigram form — array_max over a filter per DISTINCT
      // bigram — was quadratic per document in interpreted lambdas.
      .withColumn("rc",
        graft.functions.StringMath.ngramRepCounts(split(col("text"), " ")))
      .select(
        col("doc_id"),
        col("rc.n_words").as("n_words"),
        round((col("rc.n_words") - col("rc.n_distinct_words"))
          .cast(DoubleType) / col("rc.n_words"), 6).as("dup_word_frac"),
        when(col("rc.n_bigrams") > 0, round(
          col("rc.max_bigram_count")
            .cast(DoubleType) / col("rc.n_bigrams"), 6))
          .as("top_bigram_frac"),
        when(col("rc.n_trigrams") > 0, round(
          (col("rc.n_trigrams") - col("rc.n_distinct_trigrams"))
            .cast(DoubleType) / col("rc.n_trigrams"), 6))
          .as("dup_trigram_frac"))

  /** The [0,1] quality score from a tokens column — the single source
    * `textStats` and the composed `corpus_clean` pipeline share: longer
    * docs with organic stopword share score higher;
    * `round(least(n/100, 1) · (1 − round(stop/n, 6)), 6)` (the stop ratio
    * is rounded before use, matching the surfaced `stop_ratio` column).
    */
  private[graft] def qualityScore(tokens: Column): Column =
    round(least(size(tokens).cast(DoubleType) / 100.0, lit(1.0)) *
      (lit(1.0) - round(
        hits(tokens, Stopwords).cast(DoubleType) / size(tokens), 6)), 6)

  /** Alphabetical-tie-break argmax over the four lexicon hit counts — the
    * single source of the language decision rule (`langId` + the composed
    * pipeline).
    */
  private def argmaxLang(de: Column, en: Column, es: Column,
      fr: Column): Column =
    when(de >= en && de >= es && de >= fr, "de")
      .when(en >= es && en >= fr, "en")
      .when(es >= fr, "es")
      .otherwise("fr")

  /** Language prediction directly from a tokens column. */
  private[graft] def predLang(tokens: Column): Column =
    argmaxLang(
      hits(tokens, Lexicons(0)._2), hits(tokens, Lexicons(1)._2),
      hits(tokens, Lexicons(2)._2), hits(tokens, Lexicons(3)._2))

  /** Rolling-hash column — the single source the op and its fixture tests
    * share (a test asserting on an inline copy would keep passing after
    * the op's mask/modulus drifted).
    */
  private[graft] def rollingFp(text: Column): Column =
    aggregate(split(text, " "), lit(0L),
      (acc, t) => pmod(
        acc * 31 + conv(substring(md5(t), 1, 5), 16, 10).cast(LongType),
        lit(144115188075855881L)))

  /** BPE-ish segment count column (letter runs | digit runs | symbol
    * runs) — shared by `tokenCount` and its fixture tests.
    */
  private[graft] def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+"), lit(0)))

  /** The pre-tokenizer pieces themselves (same regex as
    * [[bpeTokenCount]]) — shared by the subword scheme below.
    */
  private[graft] def preTokenPieces(text: Column): Column =
    regexp_extract_all(text,
      lit("\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+"), lit(0))

  /** Fixed subword vocabulary — the data-INDEPENDENT stand-in for a BPE
    * merge table. A real tokenizer ships a frozen merge list learned once
    * offline; what matters to the packing pipeline is that tokenization
    * is a pure frozen function of the text, deterministic across engines
    * and runs. This vocabulary freezes the high-frequency words of the
    * corpus' four languages (the same ones the lang-ID lexicons key on)
    * plus common English function words and single-symbol pieces' natural
    * one-token cost; everything out-of-vocabulary pays the byte-fallback
    * price below. Sorted, deduplicated, all-lowercase by construction
    * (asserted in the suite): the lookup lowercases the piece, mirroring
    * a lowercasing pre-normalizer.
    */
  private[graft] val SubwordVocab: Seq[String] = Seq(
    "the", "and", "is", "of", "to", "a", "in", "that", "it", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are",
    "from", "or", "not", "but", "his", "her", "they", "we", "you", "all",
    "der", "die", "und", "ist", "das", "ein", "eine", "nicht", "mit", "auf",
    "el", "la", "los", "las", "que", "es", "de", "un", "una", "por",
    "le", "les", "des", "et", "est", "en", "du", "dans", "pour", "qui"
  ).distinct.sorted

  /** Characters per fallback chunk: an out-of-vocabulary piece of length
    * L costs ⌈L/4⌉ tokens — the classic "roughly 4 characters per token"
    * subword economics, and a closed-form, engine-exact integer formula
    * (unlike a learned merge walk, which is sequential by nature).
    */
  private[graft] val SubwordChunk = 4

  /** Per-piece subword token cost: 1 for an in-vocabulary word
    * (case-folded lookup), ⌈len/[[SubwordChunk]]⌉ byte-fallback chunks
    * otherwise. In-row; the vocabulary is a 60-element literal array, a
    * constant inside codegen.
    */
  private def subwordCost(p: Column): Column = {
    val vocab = array(SubwordVocab.map(lit(_)): _*)
    when(array_contains(vocab, lower(p)), lit(1L))
      .otherwise(floor((length(p) + lit(SubwordChunk - 1)) /
        lit(SubwordChunk)).cast(LongType))
  }

  /** Subword token count column over raw text — ONE in-row higher-order
    * fold over the pre-tokenizer pieces, zero shuffle.
    */
  private[graft] def subwordTokenCount(text: Column): Column =
    aggregate(preTokenPieces(text), lit(0L), (acc, p) => acc + subwordCost(p))

  /** `token_count_bpe` checked key: deterministic SUBWORD tokenization of
    * the documents table — per document, the pre-tokenizer piece count,
    * the subword token count under the frozen vocabulary + byte-fallback
    * scheme, and the OOV fallback share (`n_fallback_tokens`, the metric
    * a curation pipeline watches: a corpus slice whose fallback share
    * spikes is in a language/script the tokenizer wasn't built for).
    *
    * Why not a learned BPE merge walk: merging is inherently sequential
    * per word (each merge step depends on the previous), which in SQL
    * terms means an unbounded recursion per token — the wrong shape for a
    * scan-stage expression and impossible for the oracle to recompute.
    * The frozen-vocab + ⌈len/4⌉ fallback scheme keeps exactly the two
    * properties the downstream pipeline consumes — deterministic counts,
    * realistic common-word-cheap/rare-word-expensive economics — as pure
    * in-row integer arithmetic, hash-exact in any engine.
    *
    * Scale shape: identical to `token_count` — whole-stage-codegen
    * projection inside the scan, no shuffle, no UDF.
    */
  def tokenCountBpe(spark: SparkSession, sfDir: String): DataFrame =
    tokenCountBpe(table(spark, sfDir, "documents")).orderBy(col("doc_id"))

  /** API form: subword token accounting over any `(doc_id, text)` frame —
    * unordered.
    */
  def tokenCountBpe(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      bpeTokenCount(col("text")).as("n_pieces"),
      subwordTokenCount(col("text")).as("n_subword_tokens"),
      (subwordTokenCount(col("text")) -
        size(filter(preTokenPieces(col("text")),
          p => array_contains(array(SubwordVocab.map(lit(_)): _*), lower(p))))
        ).as("n_fallback_tokens"))

  /** `tokenize_bpe` checked key: the TRUE frozen-BPE encoder
    * ([[graft.functions.BpeTokenizer]] — a real merge-table walk emitting
    * token IDS) over the documents corpus. Where `token_count_bpe` prices
    * OOV with a closed-form ⌈len/4⌉, here the cost structure emerges
    * from the merge rules themselves, and the output is what a trainer's
    * loader actually consumes: per document, piece count, token count,
    * `<unk>` count, and the id sequence (space-joined — hash-stable).
    * Scale shape: a native codegen'd scan-stage projection, zero shuffle
    * (plan-guarded with the rest of the per-document family).
    */
  def tokenizeBpe(spark: SparkSession, sfDir: String): DataFrame =
    tokenizeBpe(table(spark, sfDir, "documents")).orderBy(col("doc_id"))

  /** API form: frozen-BPE encoding over any `(doc_id, text)` frame —
    * unordered; NULL-text rows drop (the family convention).
    */
  def tokenizeBpe(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .withColumn("enc",
        graft.functions.BpeTokenizer.bpeEncode(col("text")))
      .select(col("doc_id"),
        col("enc.n_pieces").as("n_pieces"),
        col("enc.n_tokens").as("n_tokens"),
        col("enc.n_unk").as("n_unk"),
        col("enc.token_ids").as("token_ids"))

  /** Frozen dials of the CCNet-style quality-bucket sampler: milli-sum
    * thresholds splitting the corpus into head/middle/tail (≈ the
    * harness corpus's terciles — measured −8400/−4500 at every sf, so
    * all three buckets are populated at any scale), per-bucket keep
    * rates in integer percent (head kept whole, middle halved, tail
    * decimated — the CCNet shape), and the draw salt.
    */
  private[graft] val QBucketHeadMin = -4500L
  private[graft] val QBucketMidMin = -8400L
  private[graft] val QBucketHeadPct = 100
  private[graft] val QBucketMidPct = 50
  private[graft] val QBucketTailPct = 10
  private[graft] val QBucketSalt = "ccnet_v1"

  /** QUALITY-BUCKETED SAMPLING — the CCNet stage (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data"): score every document with the frozen LM scorer,
    * split the corpus into head/middle/tail quality buckets, and keep
    * each bucket at its own rate (head whole, tail decimated) — the
    * standard up-weighting of high-quality text a mixture feeds on.
    * Bucket thresholds are FROZEN integer milli-sums (the
    * quality_score_lm discipline: a fitted cut point ships as an
    * artifact, here source-frozen so the key carries a full hash
    * oracle); the keep decision is the `sample_stratified` md5-mod-100
    * draw, salted (`doc_id:ccnet_v1`) so it decorrelates from every
    * other hash of the same key — reproducible across engines,
    * re-runs and backfills, zero RNG.
    *
    * Emits the measuring+acting pair in one frame (the url_blocklist
    * convention): every document with its integer score, bucket and
    * verdict; callers filter `kept` to act. Scale shape: entirely
    * in-row scan-stage expressions — zero shuffle at any corpus size
    * (PlanSpec-pinned with the per-document text family).
    */
  def sampleQualityBuckets(spark: SparkSession, sfDir: String): DataFrame =
    sampleQualityBucketsOn(table(spark, sfDir, "documents"))
      .orderBy(col("doc_id"))

  /** API form: bucket + sample any `(doc_id, text)` frame — unordered.
    * NULL-text rows drop (the family convention).
    */
  def sampleQualityBucketsOn(docs: DataFrame): DataFrame = {
    val draw = conv(substring(md5(concat(col("doc_id").cast(StringType),
      lit(":" + QBucketSalt))), 1, 15), 16, 10).cast(LongType) % 100
    docs.filter(col("text").isNotNull)
      .withColumn("tokens", split(col("text"), " "))
      // one fold, referenced by every derived column (the
      // quality_score_lm materialize-the-sum discipline)
      .withColumn("w_sum_milli", qualityLmSumMilli(col("tokens")))
      .withColumn("bucket",
        when(col("w_sum_milli") >= QBucketHeadMin, "head")
          .when(col("w_sum_milli") >= QBucketMidMin, "middle")
          .otherwise("tail"))
      .withColumn("kept", draw <
        when(col("bucket") === "head", QBucketHeadPct)
          .when(col("bucket") === "middle", QBucketMidPct)
          .otherwise(QBucketTailPct))
      .select(col("doc_id"), col("w_sum_milli"), col("bucket"),
        col("kept"))
  }

  /** THE CCNET CHAIN COMPOSED — train → score → calibrate → sample as
    * ONE key (Wenzek et al. 2020's actual pipeline; the single-operator
    * keys each grade one stage: `quality_train_lm` the fit,
    * `quality_score_lm_table` the serving join, `sample_quality_buckets`
    * the bucketed draw against FROZEN cut points — this composes them
    * and derives the cut points from the corpus's own trained-score
    * distribution, the step CCNet actually fits):
    *
    *   1. TRAIN [[qualityTrainLmOn]] on the trusted-source split
    *      (lang = 'en');
    *   2. SCORE the corpus through [[qualityScoreLmWeighted]] with the
    *      trained table (the broadcast-join serving shape);
    *   3. CALIBRATE: the corpus splits into head/middle/tail TERCILES
    *      of the trained score — the global rank of (score desc,
    *      doc_id) is assigned by a two-phase VALUE-RANGE ranking (256
    *      contiguous score ranges off a one-row min/max broadcast,
    *      range counts prefix-summed in a 256-row window, within-range
    *      ranks — the `shuffle_deterministic` discipline on a value
    *      key), and `rank·3 < N` / `< 2N` decide the bucket in exact
    *      integer arithmetic;
    *   4. SAMPLE at the family rates with the family's salted draw
    *      (head whole, middle halved, tail decimated).
    *
    * Scale shape: train + score are their graded shapes; the ranking's
    * only SinglePartition work is the 256-row range histogram. Value
    * ranges (unlike md5 buckets) can skew when scores concentrate — a
    * production run raises the range count or pre-samples the split
    * points; the degenerate all-equal corpus collapses to one range
    * (documented, not planted). Output per doc: (doc_id, w_sum_milli,
    * rank, bucket, kept). Unordered.
    */
  def qualityPipelineOn(docs: DataFrame, labelPos: Column): DataFrame = {
    val trained = qualityTrainLmOn(docs, labelPos, QualityLmBuckets)
      .select(col("bucket"), col("weight_milli"))
    // the scored frame (which embeds the whole train + serve subtree)
    // feeds the stats agg, the range histogram, and the final join —
    // persisted so the corpus is fitted and scored ONCE (the composed-
    // pipeline lineage lesson; caller-clearCache contract)
    val scored = qualityScoreLmWeighted(docs, trained, QualityLmBuckets)
      .select(col("doc_id"), col("w_sum_milli"))
      .persist()
    val stats = scored.agg(min(col("w_sum_milli")).as("w_min"),
      max(col("w_sum_milli")).as("w_max"),
      count(lit(1)).as("n_docs"))
    // descending value ranges: higher scores land in LOWER range ids,
    // so rank ascends with (range, score desc)
    val ranged = scored.crossJoin(broadcast(stats))
      .withColumn("vb", expr(
        "((w_max - w_sum_milli) * 256) div (w_max - w_min + 1)"))
    val offsets = ranged.groupBy(col("vb")).agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(
        Window.orderBy(col("vb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val draw = conv(substring(md5(concat(col("doc_id").cast(StringType),
      lit(":" + QBucketSalt))), 1, 15), 16, 10).cast(LongType) % 100
    ranged
      .join(broadcast(offsets.select(col("vb"), col("off"))), Seq("vb"))
      .withColumn("rank", col("off") +
        row_number().over(Window.partitionBy(col("vb"))
          .orderBy(col("w_sum_milli").desc, col("doc_id")))
          .cast(LongType) - 1)
      .withColumn("bucket",
        when(col("rank") * 3 < col("n_docs"), "head")
          .when(col("rank") * 3 < col("n_docs") * 2, "middle")
          .otherwise("tail"))
      .withColumn("kept", draw <
        when(col("bucket") === "head", QBucketHeadPct)
          .when(col("bucket") === "middle", QBucketMidPct)
          .otherwise(QBucketTailPct))
      .select(col("doc_id"), col("w_sum_milli"), col("rank"),
        col("bucket"), col("kept"))
  }

  /** `quality_pipeline` checked key: the composed CCNet chain over the
    * documents corpus, trained on its own `lang` split. The twin
    * re-derives the trained weights, re-scores with one join, ranks
    * with one direct global row_number, and draws with the family salt
    * — hash equality proves train, serve, calibration and sampling
    * compose without drift.
    */
  def qualityPipeline(spark: SparkSession, sfDir: String): DataFrame =
    qualityPipelineOn(table(spark, sfDir, "documents"),
      col("lang") === "en")
      .orderBy(col("doc_id"))

  /** The `quality_train_lm` twin's CTE chain, ending in the trained
    * weight table `tw` — shared with the composed `quality_pipeline`
    * twin so the two keys' fit formulations cannot drift.
    */
  private def qualityTrainSqlCtes: String =
    s"""tk AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS tok
       |  FROM documents WHERE text IS NOT NULL),
       |bc AS (
       |  SELECT CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT)
       |      % $QualityLmBuckets AS bucket,
       |    CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_pos,
       |    CAST(count(*) FILTER (WHERE lang != 'en') AS BIGINT) AS n_neg
       |  FROM tk GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(n_pos) AS BIGINT) AS p_tot,
       |    CAST(sum(n_neg) AS BIGINT) AS n_tot FROM bc),
       |dense AS (
       |  SELECT sp.b AS bucket,
       |    coalesce(bc.n_pos, 0) AS n_pos,
       |    coalesce(bc.n_neg, 0) AS n_neg
       |  FROM (SELECT unnest(range(0, $QualityLmBuckets)) AS b) sp
       |  LEFT JOIN bc ON bc.bucket = sp.b),
       |tw AS (
       |  SELECT bucket, n_pos, n_neg,
       |    CAST(round(1000 * ln(round(
       |      CAST((n_pos + 1) * (n_tot + $QualityLmBuckets) AS DOUBLE) /
       |      CAST((n_neg + 1) * (p_tot + $QualityLmBuckets) AS DOUBLE),
       |      9)), 0) AS BIGINT) AS weight_milli
       |  FROM dense CROSS JOIN tot)""".stripMargin

  /** Merge rounds learned by the graded `bpe_train` key. */
  private[graft] val BpeTrainRounds = 8

  /** BPE TRAINING — the LEARN step the frozen encoder serves
    * ([[graft.functions.BpeTokenizer]] ships a frozen merge table;
    * `tokenize_bpe` is its serving walk — this operator is where such a
    * table COMES FROM, completing the train+serve symmetry the
    * clustering family has in `cluster_kmeans_int`/`cluster_assign_
    * batch`): `rounds` iterations of count-all-adjacent-pairs → take
    * the most frequent (ties to the lexicographically smallest pair —
    * deterministic, engine-stable) → merge every greedy left-to-right
    * occurrence (Sennrich et al. 2016, "Neural Machine Translation of
    * Rare Words with Subword Units").
    *
    * Scale shape — the real trainer's layout: ONE corpus pass builds
    * the weighted word dictionary (distinct lowercased pre-tokenizer
    * pieces with occurrence counts — a map-side-combinable word count),
    * and every training round then runs over the VOCABULARY, not the
    * corpus: a weighted pair count (vocab-sized, map-combinable), a
    * TakeOrdered(1) argmax, a ONE-ROW broadcast of the winning pair,
    * and an in-row rewrite of each piece's symbol sequence. Rounds are
    * lineage-truncated (the clusterLabels/corpus_pipeline checkpoint
    * discipline — k rounds of rewrite expressions would otherwise nest
    * into one exponential plan), and the operator runs eagerly,
    * returning the k-row merge table as a catalog-managed cache with
    * every checkpoint released (the cache contract).
    *
    * Greedy application is a CLOSED-FORM per-position rule, not a
    * sequential fold: for left ≠ right a pair match can never chain
    * (the consumed symbol would have to equal both operands), so every
    * match merges; for left = right matches chain along same-symbol
    * runs and a match merges iff its offset within the run is even —
    * the exact greedy parity (suite-pinned against a sequential
    * reference on hand cases including runs). The DuckDB twin
    * recomputes all `rounds` iterations as generated CTE stages from
    * the same closed form.
    *
    * Output: one row per learned rule — (round, left_sym, right_sym,
    * pair_count), pair_count the weighted adjacent-occurrence count
    * that won the round. (A degenerate corpus with no pairs at all
    * yields fewer rows than `rounds` — the honest exhaustion
    * behavior.)
    */
  def bpeTrain(spark: SparkSession, sfDir: String): DataFrame =
    bpeTrainOn(table(spark, sfDir, "documents"), BpeTrainRounds)
      .orderBy(col("round"))

  /** Adjacent symbol pairs of a `cs` column — the counting view of the
    * BPE family (1-symbol rows can never pair and emit none).
    */
  private val bpePairsExpr = expr(
    """CASE WHEN size(cs) >= 2 THEN
      |  transform(sequence(0, size(cs) - 2), i -> struct(
      |    element_at(cs, i + 1) AS l, element_at(cs, i + 2) AS r))
      |ELSE cast(array() AS array<struct<l: string, r: string>>) END"""
      .stripMargin)

  /** Closed-form greedy merge flags: position i (0-based pair start)
    * merges iff it matches (ml, mr) and — only when ml = mr, where
    * matches chain along runs — its offset within the maximal ml-run
    * is even. The parity branch evaluates lazily (CASE), so the
    * O(len²) run-start scan runs only on matching positions of
    * same-symbol rounds. Shared by the train and encode sides.
    */
  private val bpeMergedExpr = expr(
    """CASE WHEN size(cs) >= 2 THEN
      |  transform(sequence(0, size(cs) - 2), i -> CASE
      |    WHEN NOT (element_at(cs, i + 1) = ml
      |              AND element_at(cs, i + 2) = mr) THEN false
      |    WHEN ml != mr THEN true
      |    ELSE ((i - (aggregate(sequence(0, i), -1,
      |      (acc, j) -> CASE WHEN element_at(cs, j + 1) != ml THEN j
      |                       ELSE acc END) + 1)) % 2) = 0
      |  END)
      |ELSE cast(array() AS array<boolean>) END""".stripMargin)

  private val bpeAppliedExpr = expr(
    """flatten(transform(sequence(0, size(cs) - 1), i -> CASE
      |  WHEN i <= size(cs) - 2 AND element_at(mg, i + 1)
      |    THEN array(concat(ml, mr))
      |  WHEN i > 0 AND element_at(mg, i)
      |    THEN cast(array() AS array<string>)
      |  ELSE array(element_at(cs, i + 1)) END))""".stripMargin)

  /** API form: learn `rounds` merges over any `(…, text)` frame —
    * unordered.
    */
  def bpeTrainOn(docs: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    Boundaries.scoped(docs.sparkSession) { scope =>
      import scope.chk
      var syms = chk(docs.filter(col("text").isNotNull)
        .select(explode(preTokenPieces(lower(col("text")))).as("piece"))
        .groupBy(col("piece")).agg(count(lit(1)).as("w"))
        .filter(length(col("piece")) >= 2)
        .select(expr(
          """transform(sequence(1, length(piece)),
            |  i -> substring(piece, i, 1))""".stripMargin).as("cs"),
          col("w")))
      val bests = scala.collection.mutable.ListBuffer.empty[DataFrame]
      (1 to rounds).foreach { rd =>
        val best = chk(syms
          .select(explode(bpePairsExpr).as("p"), col("w"))
          .groupBy(col("p.l").as("left_sym"), col("p.r").as("right_sym"))
          .agg(sum(col("w")).as("pair_count"))
          .orderBy(col("pair_count").desc, col("left_sym"),
            col("right_sym"))
          .limit(1)
          .select(lit(rd).as("round"), col("left_sym"), col("right_sym"),
            col("pair_count")))
        bests += best
        if (rd < rounds)
          syms = chk(syms
            .crossJoin(broadcast(best.select(col("left_sym").as("ml"),
              col("right_sym").as("mr"))))
            .withColumn("mg", bpeMergedExpr)
            .select(bpeAppliedExpr.as("cs"), col("w"))
            .filter(size(col("cs")) >= 2))
      }
      scope.keep(bests.reduce(_ unionAll _))
    }
  }

  /** THE TOKENIZER CHAIN COMPOSED — train → encode with the LEARNED
    * merges as ONE key (`bpe_train` grades the fit, `tokenize_bpe` the
    * serving walk of a FROZEN table; this proves the handoff: the
    * corpus encoded by the table it just learned). The encode runs the
    * way every real tokenizer serves a fresh table — over the
    * DICTIONARY, not the corpus: the distinct-piece dictionary carries
    * its piece identity through the same k (count → argmax → closed-form
    * greedy apply) rounds as the trainer (identical argmax by
    * construction: 1-symbol rows emit no pairs, so keeping them for
    * encode cannot move any round's winner), and each document then
    * just LOOKS UP its pieces' final symbol sequences and reassembles
    * in piece order.
    *
    * Scale shape: one corpus pass builds the weighted dictionary; the k
    * rounds are vocab-sized (lineage-truncated — the bpe_train
    * discipline); the encode is one piece-keyed hash join (the
    * dictionary is vocab-sized — AQE broadcasts it at harness scale; at
    * 100 TB it is the serving artifact, bucketed by piece) plus one
    * doc_id reassembly shuffle carrying symbol rows.
    *
    * Output per document with ≥ 1 piece: (doc_id, n_pieces, n_tokens,
    * tokens) — tokens the space-joined learned-symbol sequence (symbols
    * never contain whitespace: pieces are whitespace-free by the
    * pre-tokenizer). Unordered.
    */
  def bpePipelineOn(docs: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val base = docs.filter(col("text").isNotNull)
    Boundaries.scoped(docs.sparkSession) { scope =>
      import scope.chk
      // the piece-tracked dictionary: ALL distinct pieces (1-symbol ones
      // must be encodable even though they never train)
      var dict = chk(base
        .select(explode(preTokenPieces(lower(col("text")))).as("piece"))
        .groupBy(col("piece")).agg(count(lit(1)).as("w"))
        .select(col("piece"), col("w"), expr(
          """transform(sequence(1, length(piece)),
            |  i -> substring(piece, i, 1))""".stripMargin).as("cs")))
      (1 to rounds).foreach { _ =>
        val best = chk(dict
          .select(explode(bpePairsExpr).as("p"), col("w"))
          .groupBy(col("p.l").as("ml"), col("p.r").as("mr"))
          .agg(sum(col("w")).as("c"))
          .orderBy(col("c").desc, col("ml"), col("mr"))
          .limit(1)
          .select(col("ml"), col("mr")))
        dict = chk(dict.crossJoin(broadcast(best))
          .withColumn("mg", bpeMergedExpr)
          .select(col("piece"), col("w"), bpeAppliedExpr.as("cs")))
      }
      scope.keep(base
        .select(col("doc_id"),
          posexplode(preTokenPieces(lower(col("text"))))
            .as(Seq("pi", "piece")))
        .join(dict.select(col("piece"), col("cs")), Seq("piece"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_pieces"),
          sum(size(col("cs")).cast(LongType)).as("n_tokens"),
          array_join(
            flatten(transform(
              array_sort(collect_list(struct(col("pi"), col("cs")))),
              x => x.getField("cs"))),
            " ").as("tokens")))
    }
  }

  /** `bpe_pipeline` checked key: the corpus encoded by its own
    * [[BpeTrainRounds]]-merge learned table. The DuckDB twin re-learns
    * the merges with the generated round CTEs (piece identity threaded
    * through every apply) and reassembles with
    * `string_agg(… ORDER BY pi)` — hash equality proves the train →
    * encode handoff end-to-end.
    */
  def bpePipeline(spark: SparkSession, sfDir: String): DataFrame =
    bpePipelineOn(table(spark, sfDir, "documents"), BpeTrainRounds)
      .orderBy(col("doc_id"))

  /** Per-document top-3 TF-IDF terms — the standard distinctive-term
    * scorer a curation pipeline uses for topic tagging and boilerplate
    * detection.
    *
    * Shape at scale: tokens explode in-row and collapse immediately into
    * the (doc, token) term-frequency aggregate (map-side partial; a doc's
    * tokens are row-local, so the shuffle carries ~distinct terms per doc,
    * not occurrences). Document frequency is a second map-side aggregate
    * over the tf table, vocab-sized — joined back WITHOUT a broadcast
    * hint: AQE broadcasts it at small corpus sizes, and at 100 TB (where
    * long-tail vocab can outgrow a broadcast) it degrades to a sound
    * shuffle join instead of an OOM. The per-doc rank cut orders by the
    * ROUNDED score: ln() is correctly-rounded only to ~1 ulp per libm, so
    * ranking on raw doubles could order two near-equal scores differently
    * per engine; on the 6-dp grid the order (then the token tie-break) is
    * engine-stable.
    */
  def tfidfTopK(spark: SparkSession, sfDir: String): DataFrame =
    tfidfTopK(table(spark, sfDir, "documents"), 3)
      .orderBy(col("doc_id"), col("tfidf").desc, col("token"))

  /** API form: per-document top-`k` TF-IDF terms over any
    * `(doc_id, text)` frame — unordered (the sfDir wrapper adds the
    * presentation sort).
    */
  def tfidfTopK(docsIn: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val docs = docsIn.filter(col("text").isNotNull)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "token").crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + lit(1.0)) /
          (col("df") + lit(1.0))), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("tfidf"))
  }

  /** Corpus bigram language-model score per document — the perplexity-
    * style quality filter of a training-data pipeline (gibberish and
    * boilerplate both sit far from the corpus mean).
    *
    * `P(w2|w1) = C(w1,w2) / C(w1·)` over the whole corpus (no smoothing
    * needed for scoring members of the corpus itself: every document's
    * bigrams contributed to the counts, so C ≥ 1); the score is the mean
    * log-probability over the document's bigrams.
    *
    * Shape at scale: bigram pairs are built IN-ROW from the tokens array
    * (transform over an index sequence — no posexplode+window, the corpus
    * text never crosses the wire to form a pair, the same fix the ngram
    * dedup path got in round 4); both count tables aggregate map-side; the
    * score join shuffles on (w1,w2) — the one unavoidable corpus-sized
    * exchange, equivalent to a word-count — and the per-doc mean reduces
    * map-side again. Per-bigram log-probs are rounded to 9 dp and summed
    * as DECIMAL(20,9): exact, order-independent, and the 9-dp grid
    * absorbs libm's 1-ulp ln() slack across engines.
    */
  def ngramLmScore(spark: SparkSession, sfDir: String): DataFrame =
    ngramLmScore(table(spark, sfDir, "documents")).orderBy(col("doc_id"))

  /** API form: corpus-bigram mean log-probability per document over any
    * `(doc_id, text)` frame (the LM is fit on the same frame it scores) —
    * unordered.
    */
  def ngramLmScore(docs: DataFrame): DataFrame = {
    val base = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
    val bigrams = base.select(col("doc_id"),
      explode(expr("transform(sequence(0, size(toks) - 2)," +
        " i -> struct(element_at(toks, i + 1) AS w1," +
        " element_at(toks, i + 2) AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bgCounts = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_bg"))
    val ctxCounts = bgCounts.groupBy(col("w1")).agg(sum(col("c_bg")).as("c_ctx"))
    val probs = bgCounts.join(ctxCounts, "w1")
    bigrams.join(probs, Seq("w1", "w2"))
      .withColumn("logp",
        round(log(col("c_bg").cast(DoubleType) / col("c_ctx")), 9)
          .cast(DecimalType(20, 9)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("logp")).cast(DoubleType) / count(lit(1)), 6)
          .as("avg_logp"))
  }

  /** Hashed-feature dimensionality of the frozen quality scorer. */
  private[graft] val QualityLmBuckets = 1024

  /** Per-bucket weights in MILLI-units for [[qualityLmSumMilli]] — the
    * FROZEN linear model (the fastText serving shape: a learned weight
    * vector shipped as an artifact, looked up by hashed feature id; like
    * [[SubwordVocab]], a data-independent frozen function of the text).
    * This model encodes the classic organic-text signal: buckets hit by
    * the English stopword features carry +1000, every other bucket −200,
    * so the doc-mean weight is positive exactly when the (hashed)
    * stopword share exceeds 1/6. Integer milli-units keep every sum
    * engine-exact — no decimal scale rules, no float summation order.
    * Tokens COLLIDING into a stopword bucket score +1000 too: that is the
    * hashing trick's documented collision cost, part of the model, and
    * both engines reproduce it bit-for-bit (the oracle recomputes bucket
    * membership, not token membership).
    */
  private[graft] lazy val QualityLmWeights: Seq[Long] = {
    val stopBuckets = Stopwords.map(md5Bucket).toSet
    (0 until QualityLmBuckets).map(b =>
      if (stopBuckets.contains(b)) 1000L else -200L)
  }

  /** Driver-side twin of the engines' md5 60-bit bucket hash (the
    * split_hash/mix_sample conv discipline): first 15 hex chars of
    * md5(token), mod [[QualityLmBuckets]]. Used only to BUILD the frozen
    * weight vector; the per-token lookup runs in-row on executors.
    */
  private def md5Bucket(s: String): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(x => f"${x & 0xff}%02x").mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % QualityLmBuckets).toInt
  }

  /** In-row milli-weight sum of a tokens column under the frozen scorer:
    * one higher-order fold, each token hashed to its bucket and looked up
    * in the LITERAL weight array (a constant inside the plan — exactly
    * how a learned vector ships at serving time). Zero shuffle; exact
    * integer arithmetic.
    */
  private[graft] def qualityLmSumMilli(tokens: Column): Column =
    qualityLmSumMilliWith(tokens, QualityLmWeights)

  /** The same in-row fold over ANY weight vector — the slot a freshly
    * TRAINED artifact ([[qualityTrainLmOn]]) drops into when it is small
    * enough to ship as a plan literal (the suite pins both serving
    * shapes identical on the trained weights).
    */
  private[graft] def qualityLmSumMilliWith(tokens: Column,
      weights: Seq[Long]): Column = {
    val w = array(weights.map(lit(_)): _*)
    aggregate(tokens, lit(0L), (acc, t) =>
      acc + element_at(w,
        (pmod(conv(substring(md5(t), 1, 15), 16, 10).cast(LongType),
          lit(weights.size.toLong)) + 1).cast(IntegerType)))
  }

  /** The logistic step over an ALREADY-COMPUTED milli sum — split from
    * [[qualityLmScore]] so consumers that surface several derived columns
    * evaluate the in-row fold ONCE (each reference to the fold expression
    * is a full pass over the tokens; Catalyst does not subexpression-
    * eliminate higher-order aggregates across projection columns).
    */
  private[graft] def qualityLmScoreFromSum(sumMilli: Column,
      nTokens: Column): Column =
    round(lit(1.0) / (lit(1.0) +
      exp(round(sumMilli.cast(DoubleType) * 4.0 /
        (nTokens * 1000.0), 9) * lit(-1.0))), 6)

  /** Frozen-scorer logistic score column over a tokens array — the
    * single source of the `quality_score_lm` formula, shared by the
    * checked key and the [[Curation]] pipeline's pluggable quality gate.
    */
  private[graft] def qualityLmScore(tokens: Column): Column =
    qualityLmScoreFromSum(qualityLmSumMilli(tokens), size(tokens))

  /** `quality_score_lm` checked key: the FROZEN LINEAR QUALITY SCORER —
    * the model-based counterpart of the heuristic [[qualityScore]] gate
    * (the fastText-style classifier slot of a curation pipeline, cf. the
    * GPT-3/PaLM quality-filter stage). Per document: hashed-unigram
    * features → frozen weight lookup → exact integer sum → logistic
    * score `σ(4 · mean_weight)`.
    *
    * Determinism contract: the sum is exact integer milli-units (order-
    * independent, engine-exact); the only float steps are one division,
    * rounded to 9 dp before the exp (both engines see the identical
    * double), and the final 6-dp score rounding — the `ngram_lm_score`
    * libm discipline. `keep_lm` (the gate a pipeline thresholds on) is
    * decided on the INTEGER sum, so it is bit-stable everywhere.
    *
    * Scale shape: whole computation is scan-stage in-row expressions over
    * a plan-constant array — zero shuffle, zero state, composes into
    * [[Curation]]'s pipeline as a drop-in alternative quality gate
    * (suite-pinned).
    */
  def qualityScoreLm(spark: SparkSession, sfDir: String): DataFrame =
    qualityScoreLm(table(spark, sfDir, "documents")).orderBy(col("doc_id"))

  /** API form: frozen-scorer quality over any `(doc_id, text)` frame —
    * unordered.
    */
  def qualityScoreLm(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .withColumn("tokens", split(col("text"), " "))
      // the fold runs ONCE; every derived column reads the materialized
      // sum (three inline references would fold the tokens three times)
      .withColumn("w_sum_milli", qualityLmSumMilli(col("tokens")))
      .select(
        col("doc_id"),
        size(col("tokens")).cast(LongType).as("n_tokens"),
        col("w_sum_milli"),
        qualityLmScoreFromSum(col("w_sum_milli"), size(col("tokens")))
          .as("quality_lm"),
        (col("w_sum_milli") >= 0L).as("keep_lm"))

  /** HTML-structured view of the documents corpus for `extract_main_text`
    * — the deterministic markup planting (the `lineStructured` pattern):
    * head with `<title>` (the doc's first 3 tokens) and a `<script>`
    * block, `<nav>` boilerplate, the doc's tokens chunked into
    * 10-token `<p>` paragraphs, `<footer>` boilerplate. Two degenerate
    * shapes are planted BY RULE so the extractor is exercised on them at
    * every scale: docs with `doc_id % 13 = 0` carry an EMPTY body (no
    * paragraphs at all — nav straight into footer), and docs with
    * `doc_id % 7 = 0` carry NESTED inline markup (`<b>…</b>` wrapping
    * their first paragraph's text). Pure in-row projection; NULL text
    * drops here (the family convention).
    */
  private[graft] def htmlStructured(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val nChunks = greatest(ceil(size(toks) / lit(10.0)), lit(1L))
    val paras = when(col("doc_id") % 13 === 0,
        array().cast(ArrayType(StringType)))
      .otherwise(transform(sequence(lit(0L), nChunks - 1), i => {
        val c = array_join(slice(toks, (i * 10 + 1).cast(IntegerType),
          lit(10)), " ")
        concat(lit("<p>"),
          when(col("doc_id") % 7 === 0 && i === 0,
            concat(lit("<b>"), c, lit("</b>"))).otherwise(c),
          lit("</p>"))
      }))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        concat(
          lit("<html><head><title>"),
          array_join(slice(toks, 1, 3), " "),
          lit("</title><script>var t = 1;</script></head><body><nav>"),
          col("source"), lit(" home login</nav>"),
          array_join(paras, ""),
          lit("<footer>copyright "), col("lang"),
          lit("</footer></body></html>")).as("html"))
  }

  /** MAIN-CONTENT EXTRACTION from markup — the trafilatura/jusText slot
    * of a crawl pipeline, the one text op every web-scale corpus build
    * runs before any quality or dedup stage: keep the `<title>` and the
    * `<p>` paragraph text (inline tags stripped), drop everything else —
    * nav, footers, scripts — by construction rather than by blocklist.
    * Output per page: (doc_id, title, n_paragraphs, main_text) with
    * paragraphs joined by newline in document order, '' when the body
    * carries none. Unordered.
    *
    * Scale shape: three codegen'd regex expressions inside the scan
    * stage — zero shuffle, no DOM parse, no UDF. A production variant
    * swaps richer patterns (block-level tag classes, text-density
    * scoring) into the same plan shape.
    */
  def extractMainTextOn(pages: DataFrame): DataFrame = {
    val paras = regexp_extract_all(col("html"), lit("<p>(.*?)</p>"), lit(1))
    pages.select(
      col("doc_id"),
      regexp_extract(col("html"), "<title>(.*?)</title>", 1).as("title"),
      size(paras).cast(LongType).as("n_paragraphs"),
      array_join(
        transform(paras, p => regexp_replace(p, lit("<[^>]*>"), lit(""))),
        "\n").as("main_text"))
  }

  /** `extract_main_text` checked key: [[extractMainTextOn]] over the
    * HTML-structured corpus. The DuckDB twin never touches markup at
    * all — it recomputes the EXPECTED title/paragraphs straight from the
    * planting rule (first-3-token title, 10-token chunks, the %13 empty
    * bodies, nested tags stripped), so the hash gate proves the regex
    * extraction inverts the generation exactly.
    */
  def extractMainText(spark: SparkSession, sfDir: String): DataFrame =
    extractMainTextOn(htmlStructured(table(spark, sfDir, "documents")))
      .orderBy(col("doc_id"))

  /** The frozen harness weight vector as a `(bucket, weight_milli)` config
    * frame — the artifact shape a REAL model ships in (a fastText bucket
    * table is a dataset, not source code).
    */
  def qualityLmWeightsFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    QualityLmWeights.zipWithIndex
      .map { case (w, b) => (b.toLong, w) }
      .toDF("bucket", "weight_milli")
  }

  /** WEIGHT-TABLE form of the frozen quality scorer — the serving shape
    * for a REAL hashed-feature model: the 1024-entry plan-literal array
    * of [[qualityLmSumMilli]] cannot hold a production fastText vector
    * (2M buckets would blow codegen constant-pool and expression-tree
    * limits — the exact failure mode `mix_sample`'s frame-weights
    * overload already solved for source weights), so the weights arrive
    * as a `(bucket, weight_milli)` frame: tokens hash to buckets IN-ROW,
    * the weight attaches via a BROADCAST join (hinted — the weight table
    * is serving-artifact-sized, megabytes even at 2M buckets), and the
    * per-doc milli sum re-aggregates. Buckets absent from the table carry
    * weight 0 (a sparse vector's implicit zeros).
    *
    * Scale shape vs the literal form: the explode + re-aggregate is NOT
    * free — but the map-side partial aggregation collapses each
    * document's tokens back to one row before the exchange (a document's
    * tokens are row-local), so the doc_id shuffle carries one row per
    * document, not per token; the weight join itself is broadcast, never
    * a shuffle. That is the right trade once the vector outgrows a plan
    * literal. Output is row-identical to [[qualityScoreLm]] on the same
    * weights (suite-pinned; PlanSpec guards the broadcast).
    */
  def qualityScoreLmWeighted(docs: DataFrame, weights: DataFrame,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("bucket",
        pmod(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast(LongType),
          lit(nBuckets.toLong)))
    val w = weights.select(col("bucket").cast(LongType).as("bucket"),
      col("weight_milli").cast(LongType).as("weight_milli"))
    toks.join(broadcast(w), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("weight_milli"), lit(0L))).as("w_sum_milli"))
      .select(
        col("doc_id"), col("n_tokens"), col("w_sum_milli"),
        qualityLmScoreFromSum(col("w_sum_milli"), col("n_tokens"))
          .as("quality_lm"),
        (col("w_sum_milli") >= 0L).as("keep_lm"))
  }

  /** `quality_score_lm_table` checked key: [[qualityScoreLmWeighted]]
    * over the documents corpus with the frozen harness weights shipped
    * as a frame — graded against the SAME oracle as `quality_score_lm`
    * (the two forms are contractually row-identical), so the hash gate
    * proves the explode → broadcast-lookup → re-aggregate path changes
    * nothing about the model.
    */
  def qualityScoreLmTable(spark: SparkSession, sfDir: String): DataFrame =
    qualityScoreLmWeighted(table(spark, sfDir, "documents"),
      qualityLmWeightsFrame(spark), QualityLmBuckets)
      .orderBy(col("doc_id"))

  /** THE QUALITY SCORER'S LEARN STEP — the train side of the
    * `quality_score_lm`/`quality_score_lm_table` serving pair, closing
    * the last train/serve asymmetry (the tokenizer has
    * `bpe_train`/`tokenize_bpe`, clustering has `cluster_kmeans_int`/
    * `cluster_assign_batch`): fit the per-bucket weight table from
    * LABELED head/tail corpora as the Laplace-smoothed log-count-ratio —
    * the naive-Bayes feature weights of Wang & Manning 2012 (NBSVM) and
    * the init a fastText quality classifier converges near on hashed
    * unigrams (the CCNet/GPT-3 quality-filter bootstrap: label by a
    * trusted source split, fit, serve everywhere else). Per bucket b:
    *
    *   r_b = ((pos_b + 1) · (N + B)) / ((neg_b + 1) · (P + B))
    *   weight_milli(b) = round(1000 · ln(round(r_b, 9)))
    *
    * with pos_b/neg_b the class token counts hashing into b, P/N the
    * class totals, B the bucket count (add-one smoothing over the hashed
    * feature space — unseen buckets get the class-imbalance prior).
    *
    * Determinism contract: counts and both products are exact BIGINT;
    * the ratio is ONE IEEE division of identical operands rounded to
    * 9 dp before ln (the ngram_lm_score libm discipline), and the milli
    * weight is rounded once to the integer grid — verified across the
    * harness sfs. (Headroom: (pos_b+1)·(N+B) < 2⁶³ up to ~10⁹-token
    * class corpora; a larger run rescales — the search_bm25 note.)
    *
    * Output: the DENSE `(bucket, n_pos, n_neg, weight_milli)` artifact —
    * exactly the frame [[qualityScoreLmWeighted]] serves, so train→serve
    * is one handoff (suite-pinned: the trained table through the
    * broadcast-join server equals the same weights through the
    * plan-literal fold server).
    *
    * Scale shape: one map-side-combining groupBy on the bucket id (the
    * shuffle carries ≤ B rows per partition after partial aggregation),
    * one 1-row totals broadcast, one broadcast join against the B-row
    * dense spine — corpus-sized data crosses the wire exactly once, as
    * hashed ids. Training is CHEAPER than serving at scale, as it
    * should be.
    */
  def qualityTrainLmOn(docs: DataFrame, labelPos: Column,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val spark = docs.sparkSession
    val counts = docs.filter(col("text").isNotNull)
      .select(labelPos.as("pos"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("bucket",
        pmod(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast(LongType),
          lit(nBuckets.toLong)))
      .groupBy(col("bucket"))
      .agg(count(when(col("pos"), lit(1))).as("n_pos"),
        count(when(!col("pos"), lit(1))).as("n_neg"))
    val tot = counts.agg(sum(col("n_pos")).as("p_tot"),
      sum(col("n_neg")).as("n_tot"))
    spark.range(nBuckets).select(col("id").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_neg"), lit(0L)).as("n_neg"))
      .crossJoin(broadcast(tot))
      .withColumn("num",
        (col("n_pos") + 1L) * (col("n_tot") + nBuckets.toLong))
      .withColumn("den",
        (col("n_neg") + 1L) * (col("p_tot") + nBuckets.toLong))
      .select(col("bucket"), col("n_pos"), col("n_neg"),
        round(log(round(
          col("num").cast(DoubleType) / col("den").cast(DoubleType), 9))
          * 1000, 0).cast(LongType).as("weight_milli"))
  }

  /** `quality_train_lm` checked key: [[qualityTrainLmOn]] over the
    * documents corpus labeled by its own `lang` column (positive = 'en',
    * the trusted-source split a CCNet-style bootstrap uses) at the
    * frozen scorer's [[QualityLmBuckets]]. The learned structure matches
    * the frozen vector's: buckets hit by the English stopword features
    * come out positive (suite-pinned).
    */
  def qualityTrainLm(spark: SparkSession, sfDir: String): DataFrame =
    qualityTrainLmOn(table(spark, sfDir, "documents"),
      col("lang") === "en", QualityLmBuckets)
      .orderBy(col("bucket"))

  // independent recompute of the frozen scorer: the oracle re-derives
  // bucket membership from the generating rule (md5 60-bit bucket of
  // each stopword feature) instead of reading the shipped weight array,
  // so a drifted vector or a wrong lookup index fails the hash; sums
  // are exact BIGINT milli-units, the division is rounded to 9 dp
  // before exp on both engines (the ngram_lm_score libm discipline)
  private val qualityLmSql: String =
    """WITH sb AS (
      |  SELECT DISTINCT
      |    CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % 1024
      |      AS b
      |  FROM (VALUES ('the'), ('a'), ('of'), ('and'), ('to'), ('in'),
      |               ('is')) AS v(s)),
      |tok AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
      |    unnest(string_split(text, ' ')) AS tk
      |  FROM documents WHERE text IS NOT NULL),
      |tw AS (
      |  SELECT doc_id, n_tokens,
      |    CASE WHEN (CAST(concat('0x', substring(md5(tk), 1, 15))
      |                 AS BIGINT) % 1024) IN (SELECT b FROM sb)
      |         THEN 1000 ELSE -200 END AS wt
      |  FROM tok),
      |s AS (
      |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |    CAST(SUM(wt) AS BIGINT) AS w_sum_milli
      |  FROM tw GROUP BY doc_id, n_tokens)
      |SELECT doc_id, n_tokens, w_sum_milli,
      |  ROUND(1.0 / (1.0 + EXP(-ROUND(
      |    CAST(w_sum_milli AS DOUBLE) * 4.0 / (n_tokens * 1000.0), 9))),
      |    6) AS quality_lm,
      |  w_sum_milli >= 0 AS keep_lm
      |FROM s ORDER BY doc_id""".stripMargin

  /** Posting-head cap for [[buildPostings]]' graded key. */
  val PostingsCap = 8

  /** INVERTED INDEX (posting stats + capped heads) — the search-side
    * artifact of a corpus: per whitespace token (the `vocab_topk`
    * tokenization), document frequency, total term frequency, and the
    * first `cap` doc ids as the posting HEAD (comma-joined for hash
    * stability). The head cut runs BEFORE any per-token list
    * materializes: a row_number window over (token → doc_id) that
    * InferWindowGroupLimit executes as map-side partial top-k, so a
    * stopword appearing in every document ships ~cap rows per map
    * partition, never its full posting list — the same skew discipline
    * as `cap_per_host`. Stats aggregate separately with map-side
    * partials and join the heads on token. A full positional index
    * would sink per-token segments instead of heads; the graded surface
    * is the stats + head shape those segments are built from.
    */
  def buildPostings(docs: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    val stats = tok.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("token")).orderBy(col("doc_id"))
    val heads = tok.select(col("token"), col("doc_id")).distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .groupBy(col("token"))
      .agg(array_join(sort_array(collect_list(col("doc_id"))), ",")
        .as("posting_head"))
    stats.join(heads, Seq("token"))
  }

  /** `build_postings` checked key: [[buildPostings]] at [[PostingsCap]]
    * over the documents corpus.
    */
  def buildPostingsQuery(spark: SparkSession, sfDir: String): DataFrame =
    buildPostings(table(spark, sfDir, "documents"), PostingsCap)
      .orderBy(col("token"))

  /** The postings census over ONE population in its MERGEABLE form —
    * [[buildPostings]]' stats + head with the head kept as a SORTED
    * LONG ARRAY (the first `cap` doc ids), the representation the
    * additive merge can re-cut without parsing strings. Same plan
    * shape as [[buildPostings]]: the head cut is the map-side partial
    * top-k window, stats aggregate with map-side partials.
    */
  private def postingsCensus(docs: DataFrame, cap: Int): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    val stats = tok.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("token")).orderBy(col("doc_id"))
    val heads = tok.select(col("token"), col("doc_id")).distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .groupBy(col("token"))
      .agg(sort_array(collect_list(col("doc_id"))).as("head_ids"))
    stats.join(heads, Seq("token"))
  }

  /** THE POSTINGS MERGE — absorb a crawl batch's census into the
    * maintained one by the family's additive laws (the `lineCensus`
    * discipline applied to the search index, r18 verdict #4): over
    * doc-disjoint populations df and tf are PLUS-MERGEABLE per token,
    * and the posting head RE-CUTS from the two capped heads alone —
    * firstCap(A ∪ B) ⊆ firstCap(A) ∪ firstCap(B) whenever each side's
    * head is its population's first `cap`, so the merge never needs a
    * posting list longer than 2·cap per token. PropertiesSpec pins
    * merge == recompute-over-union.
    *
    * Scale shape: one equi-shuffle keyed on token over census-sized
    * rows (vocab × ~2, not corpus tokens) — at 100 TB an append to the
    * token-bucketed census table plus a sum/slice compaction over the
    * batch's key overlap; the corpus token stream is never re-read.
    */
  private[graft] def mergePostings(state: DataFrame,
      batchCensus: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    state.unionByName(batchCensus)
      .groupBy(col("token"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tf")).as("tf"),
        slice(array_sort(flatten(collect_list(col("head_ids")))), 1, cap)
          .as("head_ids"))
  }

  /** The census rendered to [[buildPostings]]' graded surface. */
  private def renderPostings(census: DataFrame): DataFrame =
    census.select(col("token"), col("n_docs"), col("tf"),
      array_join(col("head_ids"), ",").as("posting_head"))

  /** The incremental index build: the maintained census absorbed a
    * doc-disjoint batch ([[mergePostings]]) and rendered. INPUT
    * CONTRACT: `corpus` and `batch` must be doc_id-disjoint (each crawl
    * day is new documents) — the plus-merge double-counts under
    * overlap, exactly like the curation censuses.
    */
  def buildPostingsIncrementalOn(corpus: DataFrame, batch: DataFrame,
      cap: Int): DataFrame =
    renderPostings(mergePostings(postingsCensus(corpus, cap),
      postingsCensus(batch, cap), cap))

  /** `build_postings_incremental` checked key: the family parity split
    * (even = indexed corpus, odd = incoming crawl batch) absorbed at
    * [[PostingsCap]]. The DuckDB twin recomputes the index DIRECTLY
    * over the whole corpus (the union population), so hash equality is
    * an independent proof of the merge law — a daily re-index pays
    * batch tokenization + a census-sized merge, never a corpus re-scan.
    */
  def buildPostingsIncremental(spark: SparkSession,
      sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    buildPostingsIncrementalOn(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), PostingsCap)
      .orderBy(col("token"))
  }

  /** Query count / result depth for [[searchLexical]]'s graded key. */
  val SearchQueries = 16
  val SearchTopK = 5

  /** LEXICAL TOP-K RETRIEVAL — the query-side consumer of the
    * `build_postings` substrate: rank documents for a query by summed
    * term weights, rarer terms weighing more. Queries are
    * query-by-example (the first 3 whitespace tokens of the `qn`
    * lowest doc_ids — deterministic and data-derived, so the twin
    * regenerates them); the weight is the EXACT-INTEGER idf surrogate
    * `1000000 div df` (truncating division on non-negative BIGINTs —
    * identical in Spark `div` and DuckDB `//`; the page_rank
    * fixed-point discipline applied to the BM25 slot, trading the
    * transcendental log for cross-engine bit-stability), and
    * score(q, d) = Σ over matched token OCCURRENCES of wt(token)
    * = Σ_t tf(d,t)·wt(t). Ties break to the smaller doc_id; the query
    * document itself may rank (and usually tops) its own result — the
    * query-by-example convention, kept deliberately.
    *
    * Scale shape: the query frame is ≤ qn×3 rows and RIDES A BROADCAST
    * both times it is used — df is computed only for query terms (the
    * full-corpus token aggregate never runs), and the scoring join
    * filters the token stream map-side before the single
    * (query_id, doc_id) score aggregate. The top-k cut is a
    * row_number window over ≤ qn partitions of already-aggregated
    * scores. Nothing driver-side exceeds qn×k rows.
    */
  def searchLexicalOn(docs: DataFrame, qn: Int, k: Int): DataFrame = {
    require(qn >= 1 && k >= 1, s"qn/k must be >= 1, got $qn/$k")
    val d = docs.filter(col("text").isNotNull)
    val qtok = d.orderBy(col("doc_id")).limit(qn)
      .select(col("doc_id").as("query_id"),
        explode(slice(split(col("text"), " "), 1, 3)).as("token"))
      .distinct()
    val tok = d.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    // df restricted to query terms: the broadcast semi-filter keeps the
    // aggregate's key space at <= qn*3 tokens
    val qdf = tok.join(broadcast(qtok.select(col("token")).distinct()),
        Seq("token"))
      .groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    val qwt = qtok.join(qdf, Seq("token"))
      .withColumn("wt", expr("CAST(1000000 AS BIGINT) div n_docs"))
      .select(col("query_id"), col("token"), col("wt"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    tok.join(broadcast(qwt), Seq("token"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("wt")).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rnk"))
  }

  /** `search_lexical` checked key: [[searchLexicalOn]] at
    * [[SearchQueries]]×[[SearchTopK]] over the documents corpus.
    */
  def searchLexical(spark: SparkSession, sfDir: String): DataFrame =
    searchLexicalOn(table(spark, sfDir, "documents"), SearchQueries,
      SearchTopK)
      .orderBy(col("query_id"), col("rnk"))

  /** BM25 RETRIEVAL — `search_lexical`'s idf surrogate completed with the
    * two terms a search consumer actually wants: TF SATURATION and
    * DOC-LENGTH NORMALIZATION (Robertson & Zaragoza 2009, the BM25
    * ranking function), at the standard k1 = 1.2, b = 0.75. The whole
    * formula runs in EXACT INTEGER fixed-point (the page_rank/
    * search_lexical discipline — trading the transcendental idf for
    * cross-engine bit-stability): with S = Σ doc lengths and N = doc
    * count (so avgdl = S/N), multiplying numerator and denominator of
    *
    *   wt · tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl/avgdl)
    *
    * by 10·S clears every fractional constant exactly:
    *
    *   term_score = (wt·tf·22·S) div (10·S·tf + 3·S + 9·dl·N)
    *
    * — truncating BIGINT division, identical in Spark `div` and DuckDB
    * `//`. wt is the family's integer idf surrogate `1000000 div df`.
    * (Headroom: wt·tf·22·S stays under 2^63 up to ~10^9-token corpora
    * per retrieval shard; a larger deployment rescales wt or buckets S —
    * the page_rank truncation-discipline note.)
    *
    * Scale shape: identical to [[searchLexicalOn]] — the ≤ qn×3 query
    * frame broadcasts into the token stream, df is computed for query
    * terms only, and (S, N) is a ONE-ROW stats frame broadcast back
    * (the anomaly_zscore pattern: the corpus never shuffles for a global
    * scalar). The per-(query, doc, term) tf aggregate and the final
    * score aggregate both combine map-side; the top-k cut is a
    * row_number window over ≤ qn partitions of aggregated scores.
    */
  def searchBm25On(docs: DataFrame, qn: Int, k: Int): DataFrame = {
    require(qn >= 1 && k >= 1, s"qn/k must be >= 1, got $qn/$k")
    val d = docs.filter(col("text").isNotNull)
    val dl = d.select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("dl"))
    val stats = dl.agg(sum(col("dl")).as("s_total"),
      count(lit(1)).as("n_total"))
    val qtok = d.orderBy(col("doc_id")).limit(qn)
      .select(col("doc_id").as("query_id"),
        explode(slice(split(col("text"), " "), 1, 3)).as("token"))
      .distinct()
    val tok = d.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    val qdf = tok.join(broadcast(qtok.select(col("token")).distinct()),
        Seq("token"))
      .groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val qwt = qtok.join(qdf, Seq("token"))
      .withColumn("wt", expr("CAST(1000000 AS BIGINT) div df"))
      .select(col("query_id"), col("token"), col("wt"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    tok.join(broadcast(qwt), Seq("token"))
      .groupBy(col("query_id"), col("doc_id"), col("token"), col("wt"))
      .agg(count(lit(1)).as("tf"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("term_score", expr(
        "(wt * tf * 22 * s_total) div " +
          "(10 * s_total * tf + 3 * s_total + 9 * dl * n_total)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("score"))
      // zero-score candidates never occupy rank slots (ADVICE r14): at
      // large df or long docs every term_score can truncate to 0, and a
      // candidate that matched only such terms is indistinguishable from
      // a non-match — rank real scores only (mirrored in the twin)
      .filter(col("score") > 0)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rnk"))
  }

  /** `search_bm25` checked key: [[searchBm25On]] at
    * [[SearchQueries]]×[[SearchTopK]] over the documents corpus (the
    * `search_lexical` query-by-example layout, re-ranked by BM25).
    */
  def searchBm25(spark: SparkSession, sfDir: String): DataFrame =
    searchBm25On(table(spark, sfDir, "documents"), SearchQueries,
      SearchTopK)
      .orderBy(col("query_id"), col("rnk"))

  /** [[searchBm25On]] CONSUMING THE MAINTAINED POSTINGS CENSUS for df
    * instead of recomputing it from the token stream — the serving-side
    * consumer of `build_postings_incremental`'s merged stats (a daily
    * re-index feeds retrieval through the census table; the query never
    * aggregates corpus tokens for df). `census` is any
    * (token, n_docs, …) frame whose n_docs is the corpus df —
    * [[buildPostingsIncrementalOn]]'s output qualifies directly. The
    * census frame is query-term-filtered THEN broadcast (vocab-sized →
    * ≤ qn×3 rows), so the scoring plan is [[searchBm25On]]'s
    * broadcast shape with one corpus aggregate removed. Identical
    * output by construction (census df == corpus df for every token a
    * query can contain); PropertiesSpec pins the equality over a
    * MERGED census.
    */
  private[graft] def searchBm25FromStats(census: DataFrame,
      docs: DataFrame, qn: Int, k: Int): DataFrame = {
    require(qn >= 1 && k >= 1, s"qn/k must be >= 1, got $qn/$k")
    val d = docs.filter(col("text").isNotNull)
    val dl = d.select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("dl"))
    val stats = dl.agg(sum(col("dl")).as("s_total"),
      count(lit(1)).as("n_total"))
    val qtok = d.orderBy(col("doc_id")).limit(qn)
      .select(col("doc_id").as("query_id"),
        explode(slice(split(col("text"), " "), 1, 3)).as("token"))
      .distinct()
    val tok = d.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    // the one structural change vs searchBm25On: df arrives from the
    // maintained census, not a corpus token aggregate
    val qwt = qtok
      .join(census.select(col("token"), col("n_docs").as("df")),
        Seq("token"))
      .withColumn("wt", expr("CAST(1000000 AS BIGINT) div df"))
      .select(col("query_id"), col("token"), col("wt"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    tok.join(broadcast(qwt), Seq("token"))
      .groupBy(col("query_id"), col("doc_id"), col("token"), col("wt"))
      .agg(count(lit(1)).as("tf"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("term_score", expr(
        "(wt * tf * 22 * s_total) div " +
          "(10 * s_total * tf + 3 * s_total + 9 * dl * n_total)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("score"))
      .filter(col("score") > 0)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rnk"))
  }

  /** THE LANDED INVERTED INDEX — the index family's maintained state AS
    * TABLES (r19 verdict #3: the `dedup_media_onstate` /
    * `textStatesLanding` discipline applied to the search index),
    * materialized ONCE per corpus as a write-once parquet landing
    * (content-fingerprinted against the documents table, atomically
    * published). Three tables:
    *
    *  - `postings`: (token, doc_id, tf, dl) — the posting rows WITH
    *    INLINE NORMS (the classic search-index denormalization: doc
    *    length travels with the posting so scoring never joins a
    *    doc-length table), BUCKETED+sorted on token (8 buckets, the
    *    `bucketed_join` write-once discipline — a production SMJ
    *    consumer re-registers the files metadata-only CLUSTERED BY and
    *    probes with zero Exchange/Sort on this side)
    *  - `census`: (token, n_docs, tf, head_ids) — the maintained stats
    *    census ([[postingsCensus]] at [[PostingsCap]], exactly the
    *    frame `build_postings_incremental` maintains), bucketed the
    *    same; df for query terms comes from here
    *  - `stats`: 1 row (s_total, n_total) — the BM25 global constants
    *
    * This is what "the index ran once" MEANS in production: queries are
    * served from the landed tables; the corpus token stream is never
    * re-aggregated at query time. [[searchBm25OnState]] serves from
    * these tables alone.
    */
  private[graft] def postingsLanding(spark: SparkSession,
      sfDir: String): String = {
    import java.io.File
    graft.LocalFs.landOnce(spark.sparkContext.applicationId,
      graft.LocalFs.Names.PostingsCache, sfDir,
      new File(s"$sfDir/documents.parquet")) { tmp =>
      val d = table(spark, sfDir, "documents")
        .filter(col("text").isNotNull)
      val dl = d.select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("dl"))
      val tok = d.select(col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      def writeBucketed(df: DataFrame, name: String): Unit =
        graft.Tables.writeBucketed(df, s"$tmp/$name", s"postings_$name",
          "token")
      // three independent derivations of the same source scan —
      // submitted concurrently (guide §2.6 via Boundaries.runAll)
      Boundaries.runAll(spark, Seq(
        () => writeBucketed(
          tok.groupBy(col("token"), col("doc_id"))
            .agg(count(lit(1)).as("tf"))
            .join(dl, Seq("doc_id"))
            .select(col("token"), col("doc_id"), col("tf"), col("dl")),
          "postings"),
        () => writeBucketed(postingsCensus(d, PostingsCap), "census"),
        () => dl.agg(sum(col("dl")).as("s_total"),
            count(lit(1)).as("n_total"))
          .write.mode("overwrite").parquet(s"$tmp/stats")))
    }
  }

  /** `search_bm25_onstate` checked key — BM25 SERVED FROM THE LANDED
    * INDEX ALONE (r19 verdict #3, the index family's
    * `dedup_media_onstate`): the postings/census/stats tables arrive
    * from [[postingsLanding]] (outside the graded region) and the
    * graded cost is the QUERY's — the query-by-example frame (the
    * `search_lexical` convention: first 3 tokens of the `qn` lowest
    * doc_ids), df looked up in the landed census, candidates from one
    * broadcast-filtered pass over the landed postings (norms inline —
    * no doc-length join, no token-stream aggregate, the corpus text
    * never re-read for scoring), the exact-integer BM25 formula
    * ([[searchBm25On]]'s fixed point, unchanged), one candidate-sized
    * aggregate and the top-k window. Identical output to `search_bm25`
    * by construction — the DuckDB twin is the SAME recompute-from-
    * documents SQL, so hash equality proves the landed index serves
    * exactly like the derived form. PlanSpec pins the serving plan:
    * parquet scans, broadcast-keyed equi-joins, no Exchange on the
    * landed side, never cartesian. 10× shape: the only corpus-sized
    * term is the landed postings SCAN (map-side filtered by the ≤ qn×3
    * broadcast — at 100 TB the bucketed table prunes to the probed
    * token buckets); everything downstream is candidate-sized.
    */
  def searchBm25OnState(spark: SparkSession, sfDir: String): DataFrame = {
    val landing = postingsLanding(spark, sfDir)
    val census = spark.read.parquet(s"$landing/census")
    val postings = spark.read.parquet(s"$landing/postings")
    val stats = spark.read.parquet(s"$landing/stats")
    val qn = SearchQueries
    val k = SearchTopK
    val d = table(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
    val qtok = d.orderBy(col("doc_id")).limit(qn)
      .select(col("doc_id").as("query_id"),
        explode(slice(split(col("text"), " "), 1, 3)).as("token"))
      .distinct()
    // df from the LANDED census — the serve pin build_postings_
    // incremental carries, here through a real storage round-trip; the
    // ≤ qn×3 query frame is the BROADCAST side of both landed-table
    // joins, so neither landed scan ever sits under an Exchange
    val qwt = broadcast(qtok)
      .join(census.select(col("token"), col("n_docs").as("df")),
        Seq("token"))
      .withColumn("wt", expr("CAST(1000000 AS BIGINT) div df"))
      .select(col("query_id"), col("token"), col("wt"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    postings.join(broadcast(qwt), Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("term_score", expr(
        "(wt * tf * 22 * s_total) div " +
          "(10 * s_total * tf + 3 * s_total + 9 * dl * n_total)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("score"))
      .filter(col("score") > 0)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Frozen thresholds of the GOPHER QUALITY GATE (Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from Training
    * Gopher", table A1's document-level rules) — the complete rule set
    * beside the repetition signals `repetition_stats` already carries:
    * word-count bounds, mean-word-length band, symbol-to-word ratio,
    * bullet/ellipsis line fractions, alphabetic-word share, and stop-word
    * presence. Thresholds are the paper's, except the word floor (the
    * paper's 50 sits inside this corpus's 30–60-word band, making the
    * bound non-vacuous at every sf).
    */
  private[graft] val GopherMinWords = 50L
  private[graft] val GopherMaxWords = 100000L
  private[graft] val GopherMinMeanWordLen = 3.0
  private[graft] val GopherMaxMeanWordLen = 10.0
  private[graft] val GopherMinAlphaFrac = 0.8
  private[graft] val GopherMaxSymbolRatio = 0.1
  private[graft] val GopherMaxBulletFrac = 0.9
  private[graft] val GopherMaxEllipsisFrac = 0.3
  private[graft] val GopherMinStopHits = 2L

  /** The gate verdict alone, over a `(…, text)` frame — the pluggable
    * form [[Curation]]'s composed pipeline consumes (a filter column, so
    * the gate stays a scan-stage predicate wherever it is applied).
    */
  private[graft] def gopherKeep: Column = {
    val g = gopherSignals
    g("n_words") >= GopherMinWords && g("n_words") <= GopherMaxWords &&
      g("mean_word_len") >= GopherMinMeanWordLen &&
      g("mean_word_len") <= GopherMaxMeanWordLen &&
      g("alpha_word_frac") >= GopherMinAlphaFrac &&
      g("symbol_ratio") <= GopherMaxSymbolRatio &&
      g("bullet_line_frac") <= GopherMaxBulletFrac &&
      g("ellipsis_line_frac") <= GopherMaxEllipsisFrac &&
      g("stop_hits") >= GopherMinStopHits
  }

  /** The eight Gopher signal columns over `col("text")` — single source
    * for the checked key and the gate predicate, so the two cannot
    * drift. `mean_word_len` uses the corpus contract (single-space
    * token separation within a line): word chars = total chars minus the
    * n−1 separators, exact integer operands into one rounded division.
    */
  private def gopherSignals: Map[String, Column] = {
    val w = split(col("text"), " ")
    val lines = split(col("text"), "\n")
    val nWords = size(w).cast(LongType)
    val nSymbols =
      (length(col("text")) - length(translate(col("text"), "#", "")) +
        size(regexp_extract_all(col("text"), lit("\\.{3}|…"), lit(0))))
        .cast(LongType)
    Map(
      "n_words" -> nWords,
      "mean_word_len" -> round(
        (length(col("text")) - (nWords - 1)).cast(DoubleType) / nWords, 6),
      "alpha_word_frac" -> round(
        size(filter(w, t => t.rlike("[A-Za-z]"))).cast(DoubleType) / nWords,
        6),
      "symbol_ratio" -> round(nSymbols.cast(DoubleType) / nWords, 6),
      "bullet_line_frac" -> round(
        size(filter(lines, l => l.startsWith("- ") || l.startsWith("* ") ||
          l.startsWith("• "))).cast(DoubleType) / size(lines), 6),
      "ellipsis_line_frac" -> round(
        size(filter(lines, l => l.endsWith("...") || l.endsWith("…")))
          .cast(DoubleType) / size(lines), 6),
      "stop_hits" -> hits(w, Stopwords).cast(LongType))
  }

  /** GOPHER RULE SET — the full document-level quality gate as measured
    * signals plus the composite verdict. Like the rest of the family the
    * whole computation is in-row scan-stage expressions — zero shuffle at
    * any corpus size (the newline-dependent line fractions are computed
    * honestly and are 0 on this corpus's single-line documents; the
    * pipeline applies the gate to multi-line extracted text). NULL-text
    * rows drop (the family convention). `n_words` is never 0 — split('',
    * ' ') is [''] in both engines — so the divisions need no zero gate.
    */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame =
    gopherRulesOn(table(spark, sfDir, "documents")).orderBy(col("doc_id"))

  /** API form: the Gopher signals + verdict over any `(doc_id, text)`
    * frame — unordered.
    */
  def gopherRulesOn(docs: DataFrame): DataFrame = {
    val g = gopherSignals
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), g("n_words").as("n_words"),
        g("mean_word_len").as("mean_word_len"),
        g("alpha_word_frac").as("alpha_word_frac"),
        g("symbol_ratio").as("symbol_ratio"),
        g("bullet_line_frac").as("bullet_line_frac"),
        g("ellipsis_line_frac").as("ellipsis_line_frac"),
        g("stop_hits").as("stop_hits"),
        gopherKeep.as("keep_gopher"))
  }

  /** Shared Gopher-gate CTE chain (`gd`/`gs`/`gk`) over any source CTE or
    * table exposing (doc_id, text) — the thresholds and the stopword list
    * interpolate from the SAME frozen constants as the Spark gate, so the
    * twins cannot drift; `corpus_pipeline`'s composed twin reuses it.
    */
  private[graft] def gopherSqlCtes(src: String): String =
    gopherSqlCtes(src, "")

  /** Prefixed variant (`${pre}gd`/`${pre}gs`/`${pre}gk`) so two gate
    * instances can coexist in one composed statement — the incremental
    * pipeline twin gates the corpus and the batch chains side by side.
    */
  private[graft] def gopherSqlCtes(src: String, pre: String): String = {
    val stops = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""${pre}gd AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS gw,
       |    string_split(text, chr(10)) AS gl
       |  FROM $src WHERE text IS NOT NULL),
       |${pre}gs AS (
       |  SELECT doc_id,
       |    CAST(len(gw) AS BIGINT) AS n_words,
       |    round(CAST(length(text) - (len(gw) - 1) AS DOUBLE) / len(gw), 6)
       |      AS mean_word_len,
       |    round(CAST(len(list_filter(gw,
       |        t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
       |      / len(gw), 6) AS alpha_word_frac,
       |    round(CAST(length(text) - length(replace(text, '#', ''))
       |        + len(regexp_extract_all(text, '\\.{3}|…')) AS DOUBLE)
       |      / len(gw), 6) AS symbol_ratio,
       |    round(CAST(len(list_filter(gl, l -> starts_with(l, '- ')
       |        OR starts_with(l, '* ') OR starts_with(l, '• '))) AS DOUBLE)
       |      / len(gl), 6) AS bullet_line_frac,
       |    round(CAST(len(list_filter(gl, l -> ends_with(l, '...')
       |        OR ends_with(l, '…'))) AS DOUBLE) / len(gl), 6)
       |      AS ellipsis_line_frac,
       |    CAST(len(list_filter(gw, t -> t IN ($stops))) AS BIGINT)
       |      AS stop_hits
       |  FROM ${pre}gd),
       |${pre}gk AS (
       |  SELECT *,
       |    (n_words >= $GopherMinWords AND n_words <= $GopherMaxWords
       |     AND mean_word_len >= $GopherMinMeanWordLen
       |     AND mean_word_len <= $GopherMaxMeanWordLen
       |     AND alpha_word_frac >= $GopherMinAlphaFrac
       |     AND symbol_ratio <= $GopherMaxSymbolRatio
       |     AND bullet_line_frac <= $GopherMaxBulletFrac
       |     AND ellipsis_line_frac <= $GopherMaxEllipsisFrac
       |     AND stop_hits >= $GopherMinStopHits) AS keep_gopher
       |  FROM ${pre}gs)""".stripMargin
  }

  /** Generated learn-then-encode CTE chain of [[bpePipelineOn]] over any
    * `(doc_id, text)` source CTE/table — the piece-tracked dictionary,
    * one (count → argmax → closed-form greedy apply) stage per round,
    * and the per-document piece spine `${pre}dp`. Callers append their
    * own final aggregate over `${pre}dp JOIN ${pre}<rounds> USING
    * (piece)`. Shared by the `bpe_pipeline` twin and the composed
    * `corpus_pipeline_learned_bpe` twin so the learned-encode
    * formulation cannot drift between them.
    */
  private[graft] def bpeEncodeCtes(src: String, pre: String,
      rounds: Int): String = {
    val stages = (1 to rounds).map { r =>
      val prev = s"$pre${r - 1}"
      s"""${pre}cnt$r AS (
         |  SELECT p.l AS l, p.r AS r, CAST(sum(w) AS BIGINT) AS c
         |  FROM (SELECT unnest(list_transform(range(1, len(cs)),
         |          i -> {'l': cs[i], 'r': cs[i+1]})) AS p, w
         |        FROM $prev WHERE len(cs) >= 2) ${pre}t$r
         |  GROUP BY 1, 2),
         |${pre}best$r AS (
         |  SELECT l AS ml, r AS mr FROM ${pre}cnt$r
         |  ORDER BY c DESC, l, r LIMIT 1),
         |${pre}a$r AS (
         |  SELECT piece, w, cs, ml, mr,
         |    CASE WHEN len(cs) >= 2 THEN
         |      list_transform(range(1, len(cs)), i ->
         |        cs[i] = ml AND cs[i+1] = mr AND (ml != mr OR
         |          ((i - (list_max(list_prepend(0,
         |              list_transform(range(1, i + 1),
         |                j -> CASE WHEN cs[j] != ml THEN j
         |                          ELSE 0 END)))
         |            + 1)) % 2) = 0))
         |    ELSE CAST([] AS BOOLEAN[]) END AS mg
         |  FROM $prev CROSS JOIN ${pre}best$r),
         |$pre$r AS MATERIALIZED (
         |  SELECT piece, w, flatten(list_transform(range(1, len(cs) + 1),
         |      i -> CASE
         |        WHEN i <= len(cs) - 1 AND mg[i] THEN [ml || mr]
         |        WHEN i > 1 AND mg[i-1] THEN CAST([] AS VARCHAR[])
         |        ELSE [cs[i]] END)) AS cs
         |  FROM ${pre}a$r)""".stripMargin
    }.mkString(",\n")
    s"""${pre}d0 AS (
       |  SELECT doc_id, regexp_extract_all(lower(text),
       |    '\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+') AS pieces
       |  FROM $src WHERE text IS NOT NULL),
       |${pre}0 AS MATERIALIZED (
       |  SELECT piece, CAST(count(*) AS BIGINT) AS w,
       |    list_transform(range(1, length(piece) + 1),
       |      j -> substr(piece, j, 1)) AS cs
       |  FROM (SELECT unnest(pieces) AS piece FROM ${pre}d0) ${pre}p
       |  GROUP BY piece),
       |$stages,
       |${pre}dp AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS pi, pieces[i] AS piece
       |  FROM ${pre}d0, UNNEST(range(1, len(pieces) + 1)) AS ${pre}u(i))"""
      .stripMargin
  }

  private def bpePipelineSql: String = {
    val rounds = BpeTrainRounds
    // concatenated head: generated fragments are pre-stripped (the
    // corpus_pipeline stripMargin discipline)
    "WITH " + bpeEncodeCtes("documents", "e", rounds) + "\n" +
    s"""SELECT edp.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_pieces,
       |  CAST(sum(len(e$rounds.cs)) AS BIGINT) AS n_tokens,
       |  string_agg(array_to_string(e$rounds.cs, ' '), ' '
       |    ORDER BY edp.pi) AS tokens
       |FROM edp JOIN e$rounds USING (piece)
       |GROUP BY edp.doc_id ORDER BY edp.doc_id""".stripMargin
  }

  /** Generated twin of [[bpeTrainOn]]: the weighted piece dictionary,
    * then one (count → argmax → closed-form greedy apply) CTE stage per
    * round — the same run-parity rule for same-symbol merges, DuckDB's
    * 1-based lists shifting every index by one (the parity is invariant:
    * both the position and the run start shift together).
    */
  private def bpeTrainSql: String = {
    val rounds = BpeTrainRounds
    val stages = (1 to rounds).map { r =>
      val prev = s"s${r - 1}"
      val cnt =
        s"""cnt$r AS (
           |  SELECT p.l AS l, p.r AS r, CAST(sum(w) AS BIGINT) AS c
           |  FROM (SELECT unnest(list_transform(range(1, len(cs)),
           |          i -> {'l': cs[i], 'r': cs[i+1]})) AS p, w
           |        FROM $prev WHERE len(cs) >= 2) t$r
           |  GROUP BY 1, 2),
           |best$r AS (
           |  SELECT $r AS round, l AS left_sym, r AS right_sym,
           |    c AS pair_count
           |  FROM cnt$r ORDER BY c DESC, l, r LIMIT 1)""".stripMargin
      val apply = if (r == rounds) "" else
        s""",
           |a$r AS (
           |  SELECT cs, w, ml, mr,
           |    CASE WHEN len(cs) >= 2 THEN
           |      list_transform(range(1, len(cs)), i ->
           |        cs[i] = ml AND cs[i+1] = mr AND (ml != mr OR
           |          ((i - (list_max(list_prepend(0,
           |              list_transform(range(1, i + 1),
           |                j -> CASE WHEN cs[j] != ml THEN j
           |                          ELSE 0 END)))
           |            + 1)) % 2) = 0))
           |    ELSE CAST([] AS BOOLEAN[]) END AS mg
           |  FROM $prev CROSS JOIN (SELECT left_sym AS ml,
           |      right_sym AS mr FROM best$r) b$r),
           |s$r AS MATERIALIZED (
           |  SELECT flatten(list_transform(range(1, len(cs) + 1),
           |      i -> CASE
           |        WHEN i <= len(cs) - 1 AND mg[i] THEN [ml || mr]
           |        WHEN i > 1 AND mg[i-1] THEN CAST([] AS VARCHAR[])
           |        ELSE [cs[i]] END)) AS cs, w
           |  FROM a$r)""".stripMargin
      cnt + apply
    }.mkString(",\n")
    val union = (1 to rounds).map(r =>
      s"SELECT round, left_sym, right_sym, pair_count FROM best$r")
      .mkString("\nUNION ALL\n")
    s"""WITH s0 AS MATERIALIZED (
       |  SELECT list_transform(range(1, length(piece) + 1),
       |           i -> substr(piece, i, 1)) AS cs,
       |         CAST(count(*) AS BIGINT) AS w
       |  FROM (SELECT unnest(regexp_extract_all(lower(text),
       |          '\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+')) AS piece
       |        FROM documents WHERE text IS NOT NULL) p0
       |  WHERE length(piece) >= 2
       |  GROUP BY piece),
       |$stages
       |SELECT round, left_sym, right_sym, pair_count FROM (
       |$union) u
       |ORDER BY round""".stripMargin
  }

  /** The BM25 scoring CTE chain shared by the `search_bm25` twin and the
    * hybrid-retrieval twins in [[Similarity]] (ADVICE r17 — ONE
    * formulation, so a scoring change cannot silently drift the twins
    * apart): query-by-example layout (`qids` = the first `qn`
    * text-bearing docs, 3-token queries), exact-integer fixed-point
    * saturation/normalization; ends in `s (query_id, doc_id, score)`.
    * Pre-stripped — concatenate, never re-wrap in a stripMargin template.
    */
  private[ops] def bm25SqlCtes(qn: Int): String =
    s"""d AS (
       |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |qids AS (
       |  SELECT doc_id AS query_id FROM d ORDER BY doc_id
       |  LIMIT $qn),
       |dl AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
       |    AS dl FROM d),
       |st AS (
       |  SELECT CAST(sum(dl) AS BIGINT) AS s_total,
       |    CAST(count(*) AS BIGINT) AS n_total FROM dl),
       |qt AS (
       |  SELECT DISTINCT query_id, token FROM (
       |    SELECT d.doc_id AS query_id,
       |      unnest(string_split(d.text, ' ')[1:3]) AS token
       |    FROM d JOIN qids ON d.doc_id = qids.query_id) q1),
       |tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM d),
       |df AS (
       |  SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM tok WHERE token IN (SELECT DISTINCT token FROM qt)
       |  GROUP BY token),
       |w AS (SELECT token, 1000000 // df AS wt FROM df),
       |tf AS (
       |  SELECT qt.query_id, tok.doc_id, qt.token,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM tok JOIN qt USING (token)
       |  GROUP BY qt.query_id, tok.doc_id, qt.token),
       |s AS (
       |  SELECT tf.query_id, tf.doc_id,
       |    CAST(sum((w.wt * tf.tf * 22 * st.s_total)
       |      // (10 * st.s_total * tf.tf + 3 * st.s_total
       |          + 9 * dl.dl * st.n_total)) AS BIGINT) AS score
       |  FROM tf JOIN w USING (token)
       |    JOIN dl ON tf.doc_id = dl.doc_id
       |    CROSS JOIN st
       |  GROUP BY tf.query_id, tf.doc_id)""".stripMargin

  /** The inverted-index twin — shared verbatim by `build_postings`
    * (direct) and `build_postings_incremental` (whose merged census
    * must equal exactly this direct recompute over the union corpus).
    */
  private def postingsSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |stats AS (
       |  SELECT token,
       |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY token),
       |h AS (
       |  SELECT token, doc_id FROM (SELECT DISTINCT token, doc_id
       |                             FROM tok) t
       |  QUALIFY row_number() OVER (PARTITION BY token
       |                             ORDER BY doc_id) <= $PostingsCap),
       |heads AS (
       |  SELECT token,
       |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
       |      AS posting_head
       |  FROM h GROUP BY token)
       |SELECT s.token, s.n_docs, s.tf, h.posting_head
       |FROM stats s JOIN heads h USING (token)
       |ORDER BY s.token""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // same frozen-scorer recompute as quality_score_lm (bucket
    // membership re-derived from the generating rule), the identical
    // frozen thresholds/rates, and the identical salted mod-100 draw
    "sample_quality_buckets" ->
      s"""WITH sb AS (
         |  SELECT DISTINCT
         |    CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % 1024
         |      AS b
         |  FROM (VALUES ('the'), ('a'), ('of'), ('and'), ('to'), ('in'),
         |               ('is')) AS v(s)),
         |tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tk
         |  FROM documents WHERE text IS NOT NULL),
         |tw AS (
         |  SELECT doc_id,
         |    CASE WHEN (CAST(concat('0x', substring(md5(tk), 1, 15))
         |                 AS BIGINT) % 1024) IN (SELECT b FROM sb)
         |         THEN 1000 ELSE -200 END AS wt
         |  FROM tok),
         |s AS (
         |  SELECT doc_id, CAST(sum(wt) AS BIGINT) AS w_sum_milli
         |  FROM tw GROUP BY doc_id),
         |k AS (
         |  SELECT doc_id, w_sum_milli,
         |    CASE WHEN w_sum_milli >= $QBucketHeadMin THEN 'head'
         |         WHEN w_sum_milli >= $QBucketMidMin THEN 'middle'
         |         ELSE 'tail' END AS bucket,
         |    CAST(concat('0x', substring(md5(
         |      CAST(doc_id AS VARCHAR) || ':$QBucketSalt'), 1, 15))
         |      AS BIGINT) % 100 AS draw
         |  FROM s)
         |SELECT doc_id, w_sum_milli, bucket,
         |  draw < (CASE bucket WHEN 'head' THEN $QBucketHeadPct
         |          WHEN 'middle' THEN $QBucketMidPct
         |          ELSE $QBucketTailPct END) AS kept
         |FROM k ORDER BY doc_id""".stripMargin,
    "bpe_train" -> bpeTrainSql,
    "bpe_pipeline" -> bpePipelineSql,
    "gopher_rules" ->
      s"""WITH ${gopherSqlCtes("documents")}
         |SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
         |  symbol_ratio, bullet_line_frac, ellipsis_line_frac, stop_hits,
         |  keep_gopher
         |FROM gk ORDER BY doc_id""".stripMargin,
    // identical exact-integer fixed-point BM25: `//` == `div` on
    // non-negative BIGINTs, so every term score is bit-identical
    "search_bm25" ->
      ("WITH " + bm25SqlCtes(SearchQueries) + ",\n" +
      s"""r AS (
         |  SELECT query_id, doc_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS INTEGER) AS rnk
         |  FROM s WHERE score > 0)
         |SELECT query_id, doc_id, score, rnk FROM r
         |WHERE rnk <= $SearchTopK
         |ORDER BY query_id, rnk""".stripMargin),
    // IDENTICAL twin by design (see the key's docstring): BM25 served
    // from the landed postings/census/stats tables must equal the
    // recompute-from-documents form row for row
    "search_bm25_onstate" ->
      ("WITH " + bm25SqlCtes(SearchQueries) + ",\n" +
      s"""r AS (
         |  SELECT query_id, doc_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS INTEGER) AS rnk
         |  FROM s WHERE score > 0)
         |SELECT query_id, doc_id, score, rnk FROM r
         |WHERE rnk <= $SearchTopK
         |ORDER BY query_id, rnk""".stripMargin),
    "build_postings" -> postingsSql,
    // the merged census must equal the DIRECT index over the whole
    // corpus: the parity split is doc-disjoint and even ∪ odd = all
    // documents, so the recompute-over-union twin IS the build_postings
    // formulation — hash equality grades the merge law independently
    "build_postings_incremental" -> postingsSql,
    // full twin: query regeneration, query-term-only df, the identical
    // truncating idf surrogate (`//` == `div` on non-negative BIGINTs),
    // occurrence-summed scores, (score DESC, doc_id) top-k
    "search_lexical" ->
      s"""WITH d AS (
         |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         |qt AS (
         |  SELECT DISTINCT query_id, token FROM (
         |    SELECT doc_id AS query_id,
         |      unnest(string_split(text, ' ')[1:3]) AS token
         |    FROM (SELECT doc_id, text FROM d
         |          ORDER BY doc_id LIMIT $SearchQueries) q0) q1),
         |tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |  FROM d),
         |df AS (
         |  SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |  FROM tok WHERE token IN (SELECT DISTINCT token FROM qt)
         |  GROUP BY token),
         |w AS (SELECT token, 1000000 // n_docs AS wt FROM df),
         |s AS (
         |  SELECT qt.query_id, tok.doc_id,
         |    CAST(sum(w.wt) AS BIGINT) AS score
         |  FROM tok JOIN qt USING (token) JOIN w USING (token)
         |  GROUP BY qt.query_id, tok.doc_id),
         |r AS (
         |  SELECT query_id, doc_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS INTEGER) AS rnk
         |  FROM s)
         |SELECT query_id, doc_id, score, rnk FROM r
         |WHERE rnk <= $SearchTopK
         |ORDER BY query_id, rnk""".stripMargin,
    // the full merge-walk recompute, GENERATED from the same frozen
    // merge table and vocabulary as the Spark expression (one list_reduce
    // scan per rule — see BpeTokenizer.oracleSqlFor)
    "tokenize_bpe" ->
      graft.functions.BpeTokenizer.oracleSqlFor("documents"),
    "quality_score_lm" -> qualityLmSql,
    // the weight-table form is contractually row-identical to the
    // literal form, so it is graded against the IDENTICAL independent
    // recompute — a hash mismatch isolates the lookup-join path
    "quality_score_lm_table" -> qualityLmSql,
    // independent recompute of the learn step: same md5 bucket hash,
    // class counts, exact BIGINT smoothing products, one 9-dp-rounded
    // division into ln, milli grid — over a dense range() bucket spine
    "quality_train_lm" ->
      ("WITH " + qualityTrainSqlCtes +
        "\nSELECT bucket, n_pos, n_neg, weight_milli FROM tw" +
        "\nORDER BY bucket"),
    // the composed CCNet chain: the same trained weights re-scored with
    // one bucket join, one DIRECT global row_number for the tercile
    // rank (the orthogonal formulation of the two-phase value-range
    // ranking), the family's salted draw
    "quality_pipeline" ->
      ("WITH " + qualityTrainSqlCtes + ",\n" +
        s"""dtk AS (
           |  SELECT doc_id,
           |    CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT)
           |      % $QualityLmBuckets AS bucket
           |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           |        FROM documents WHERE text IS NOT NULL) t0),
           |sc AS (
           |  SELECT dtk.doc_id,
           |    CAST(sum(tw.weight_milli) AS BIGINT) AS w_sum_milli
           |  FROM dtk JOIN tw USING (bucket)
           |  GROUP BY dtk.doc_id),
           |rk AS (
           |  SELECT doc_id, w_sum_milli,
           |    CAST(row_number() OVER (ORDER BY w_sum_milli DESC, doc_id)
           |      - 1 AS BIGINT) AS rank,
           |    CAST(count(*) OVER () AS BIGINT) AS n
           |  FROM sc),
           |vd AS (
           |  SELECT doc_id, w_sum_milli, rank,
           |    CASE WHEN rank * 3 < n THEN 'head'
           |         WHEN rank * 3 < n * 2 THEN 'middle'
           |         ELSE 'tail' END AS bucket,
           |    CAST(concat('0x', substring(md5(
           |      CAST(doc_id AS VARCHAR) || ':$QBucketSalt'), 1, 15))
           |      AS BIGINT) % 100 AS draw
           |  FROM rk)
           |SELECT doc_id, w_sum_milli, rank, bucket,
           |  draw < (CASE bucket WHEN 'head' THEN $QBucketHeadPct
           |                      WHEN 'middle' THEN $QBucketMidPct
           |                      ELSE $QBucketTailPct END) AS kept
           |FROM vd ORDER BY doc_id""".stripMargin),
    // generation-rule twin: no regex, no markup — the expected output is
    // rebuilt directly from the planting arithmetic (first-3-token
    // title, 10-token paragraph chunks, %13 empty bodies; the %7 nested
    // <b> wrap strips back to the plain chunk, so it never appears
    // here), proving the Spark side's regex extraction inverts the
    // generation exactly
    "extract_main_text" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |    greatest(CAST(ceil(len(string_split(text, ' ')) / 10.0)
        |      AS BIGINT), 1) AS nc
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (
        |  SELECT doc_id, i,
        |    array_to_string(t[(i*10+1) : (i*10+10)], ' ') AS para
        |  FROM d, UNNEST(range(0, nc)) AS u(i)
        |  WHERE doc_id % 13 != 0),
        |a AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paragraphs,
        |    string_agg(para, chr(10) ORDER BY i) AS main_text
        |  FROM p GROUP BY doc_id)
        |SELECT d.doc_id,
        |  array_to_string(t[1:3], ' ') AS title,
        |  coalesce(a.n_paragraphs, 0) AS n_paragraphs,
        |  coalesce(a.main_text, '') AS main_text
        |FROM d LEFT JOIN a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // identical in-row n-gram construction and counting (DuckDB lists are
    // 1-based; range(1, n) is exclusive-stop, so bigram i pairs w[i] with
    // w[i+1] exactly like the Spark side's sequence over 0-based offsets)
    "repetition_stats" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id, w, len(w) AS n_words,
        |    CASE WHEN len(w) >= 2 THEN
        |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
        |    ELSE CAST([] AS VARCHAR[]) END AS bi,
        |    CASE WHEN len(w) >= 3 THEN
        |      list_transform(range(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |    ELSE CAST([] AS VARCHAR[]) END AS tri
        |  FROM t)
        |SELECT doc_id, n_words,
        |  round(CAST(n_words - len(list_distinct(w)) AS DOUBLE)
        |        / n_words, 6) AS dup_word_frac,
        |  CASE WHEN len(bi) > 0 THEN
        |    round(CAST(list_max(list_transform(list_distinct(bi),
        |        g2 -> len(list_filter(bi, x -> x = g2)))) AS DOUBLE)
        |      / len(bi), 6) END AS top_bigram_frac,
        |  CASE WHEN len(tri) > 0 THEN
        |    round(CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE)
        |      / len(tri), 6) END AS dup_trigram_frac
        |FROM g ORDER BY doc_id""".stripMargin,
    "tfidf_topk" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |n AS (SELECT count(*) AS n_docs FROM d),
        |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM d),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM t
        |       GROUP BY doc_id, token),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |s AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |        round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6)
        |          AS tfidf
        |      FROM tf JOIN df USING (token) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY tfidf DESC, token) AS rnk FROM s)
        |SELECT doc_id, token, tf, df, tfidf FROM r WHERE rnk <= 3
        |ORDER BY doc_id, tfidf DESC, token""".stripMargin,
    "ngram_lm_score" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents
        |           WHERE text IS NOT NULL
        |             AND len(string_split(text, ' ')) >= 2),
        |g AS (SELECT doc_id, toks,
        |        unnest(generate_series(1, len(toks) - 1)) AS i FROM d),
        |b AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM g),
        |bc AS (SELECT w1, w2, count(*) AS c_bg FROM b GROUP BY w1, w2),
        |cc AS (SELECT w1, sum(c_bg) AS c_ctx FROM bc GROUP BY w1),
        |s AS (SELECT b.doc_id,
        |        CAST(round(ln(CAST(bc.c_bg AS DOUBLE) / cc.c_ctx), 9)
        |             AS DECIMAL(20,9)) AS logp
        |      FROM b JOIN bc USING (w1, w2) JOIN cc USING (w1))
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(CAST(sum(logp) AS DOUBLE) / count(*), 6) AS avg_logp
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_redact" ->
      """SELECT event_id,
        |  regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS INTEGER) AS n_hits
        |FROM events ORDER BY event_id""".stripMargin,
    "text_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  ROUND(CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
        |        / len(string_split(text, ' ')), 6) AS avg_token_len,
        |  CAST(length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g'))
        |    AS INTEGER) AS punct_chars,
        |  CASE WHEN length(text) > 0 THEN
        |    ROUND(CAST(length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g'))
        |      AS DOUBLE) / length(text), 6)
        |  END AS punct_ratio,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','of','and','to','in','is'))) AS INTEGER)
        |    AS stop_tokens,
        |  ROUND(CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |        / len(string_split(text, ' ')), 6) AS stop_ratio,
        |  ROUND(LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
        |        * (1.0 - ROUND(CAST(len(list_filter(string_split(text, ' '),
        |            t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |            / len(string_split(text, ' ')), 6)), 6) AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(tokens, x -> x IN ('der','die','und','ist','das'))) AS INTEGER) AS de_hits,
        |    CAST(len(list_filter(tokens, x -> x IN ('the','and','is','of','to'))) AS INTEGER) AS en_hits,
        |    CAST(len(list_filter(tokens, x -> x IN ('el','la','los','que','es'))) AS INTEGER) AS es_hits,
        |    CAST(len(list_filter(tokens, x -> x IN ('le','les','des','et','est'))) AS INTEGER) AS fr_hits
        |  FROM t)
        |SELECT doc_id, de_hits, en_hits, es_hits, fr_hits,
        |  CASE
        |    WHEN de_hits >= en_hits AND de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
        |    WHEN en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
        |    WHEN es_hits >= fr_hits THEN 'es'
        |    ELSE 'fr'
        |  END AS pred_lang
        |FROM h ORDER BY doc_id""".stripMargin,
    "vocab_topk" ->
      """SELECT token, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token
        |      FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+')) AS INTEGER) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same frozen vocabulary (interpolated from the ONE Scala constant —
    // the two sides cannot drift) + identical integer chunk arithmetic;
    // list_sum of an empty piece list is NULL, coalesced to the fold's 0
    "token_count_bpe" -> {
      val vocab = SubwordVocab.map(w => s"'$w'").mkString("[", ", ", "]")
      val ch = SubwordChunk
      s"""WITH p AS (
         |  SELECT doc_id, regexp_extract_all(text,
         |    '\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+') AS pieces
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(pieces) AS INTEGER) AS n_pieces,
         |  CAST(COALESCE(list_sum(list_transform(pieces, t ->
         |    CASE WHEN list_contains($vocab, lower(t)) THEN 1
         |         ELSE (length(t) + ${ch - 1}) // $ch END)), 0)
         |    AS BIGINT) AS n_subword_tokens,
         |  CAST(COALESCE(list_sum(list_transform(pieces, t ->
         |    CASE WHEN list_contains($vocab, lower(t)) THEN 0
         |         ELSE (length(t) + ${ch - 1}) // $ch END)), 0)
         |    AS BIGINT) AS n_fallback_tokens
         |FROM p ORDER BY doc_id""".stripMargin
    },
    // same fold as rollingFp: list_reduce seeds from the list head, so a 0
    // is prepended to reproduce Spark's aggregate(…, 0L, …) initial value
    "doc_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ' '),
        |        t -> CAST(concat('0x', substr(md5(t), 1, 5)) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 144115188075855881) AS rolling_fp
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
