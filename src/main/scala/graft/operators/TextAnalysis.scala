package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation (builder prompt:
  * language-ID, quality scoring, token counting, fingerprinting). All pure
  * codegen'd expressions with exact DuckDB oracle twins. */
object TextAnalysis {

  /** Frozen stopword profiles for the language-ID heuristic. Tiny on
    * purpose — this is the n-gram/stopword-profile family of heuristics,
    * not a model. */
  val StopwordProfiles: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "is", "en" -> "and", "en" -> "of",
    "fr" -> "le", "fr" -> "les", "fr" -> "et", "fr" -> "une", "fr" -> "est",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "und", "de" -> "ist",
    "es" -> "el", "es" -> "los", "es" -> "y", "es" -> "una", "es" -> "es")

  /** English-ish stopwords used by the quality score. */
  val QualityStopwords: Seq[String] = Seq("a", "the", "and", "of", "is")

  /** Token statistics per document: token count, distinct tokens, char
    * length, mean token length (exact, derived from char length —
    * single-space-separated text). */
  def tokenStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = split(col(textCol), " ")
    val n = size(toks)
    docs.select(col(idCol).as("id"),
      n.cast("bigint").as("n_tokens"),
      size(array_distinct(toks)).cast("bigint").as("n_distinct"),
      length(col(textCol)).cast("bigint").as("n_chars"),
      round((length(col(textCol)) - (n - 1)).cast("double") / n, 6)
        .as("mean_tok_len"))
  }

  /** BPE-ish pre-tokenizer regex (builder prompt "token counting
    * (whitespace + a BPE-ish regex)"): letter runs, digit runs, and single
    * non-alphanumeric marks — the GPT-2-pretokenizer family, restricted to
    * constructs Java regex and DuckDB RE2 interpret identically so the
    * query is oracle-checkable. */
  val RegexTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** Regex token counts per doc alongside the whitespace count: whitespace
    * splitting undercounts when punctuation/digits glue to words; the
    * regex count is the BPE-style budget estimate. */
  def regexTokenStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"),
      size(split(col(textCol), " ")).cast("bigint").as("n_ws_tokens"),
      size(regexp_extract_all(col(textCol), lit(RegexTokenPattern), lit(0)))
        .cast("bigint").as("n_rtokens"))

  /** Frozen quality score in [0,1]:
    * 0.4·min(1, n_tokens/50) + 0.3·(1 − stopword_ratio)
    * + 0.3·min(1, mean_tok_len/8). Length, lexical density, and word-shape
    * signals — the standard cheap pretraining-quality trio.
    *
    * The 6-digit fix-up is TRUNCATION of the 1e6-scaled value, not
    * round(): the 0.3·meanlen/8 term has denominator 8·n_tokens (up to
    * 2⁶·k), whose decimal expansion can terminate EXACTLY on a
    * 7th-digit 5 — a real halfway case where Spark's BigDecimal HALF_UP
    * and DuckDB's float rounding disagree in the last digit (found at
    * sf0.001 doc 145, quality 0.7709375 → 0.770937 vs 0.770938).
    * Double→long truncation of the same IEEE double is bit-identical in
    * both engines, so the oracle can never diverge. */
  def qualityScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (n, ratio, quality) = qualityExprs(col(textCol))
    docs.select(col(idCol).as("id"),
      n.cast("bigint").as("n_tokens"),
      round(ratio, 6).as("stopword_ratio"),
      quality.as("quality"))
  }

  /** The (n_tokens, stopword_ratio, quality) expressions over a text
    * column — shared by [[qualityScore]] and the curation chain
    * ([[Curation]] computes quality INLINE on its per-doc frame instead
    * of self-joining the corpus against this operator's output; sharing
    * the builders keeps the two bit-identical by construction). */
  private[operators] def qualityExprs(textCol: Column)
      : (Column, Column, Column) = {
    val toks = split(textCol, " ")
    val n = size(toks)
    val stopArr = array(QualityStopwords.map(lit): _*)
    val nStop = size(filter(toks, t => array_contains(stopArr, t)))
    val meanLen = (length(textCol) - (n - 1)).cast("double") / n
    val ratio = nStop.cast("double") / n
    val qRaw = least(lit(1.0), n / lit(50.0)) * 0.4 +
      (lit(1.0) - ratio) * 0.3 +
      least(lit(1.0), meanLen / 8.0) * 0.3
    (n, ratio,
      (qRaw * 1000000.0).cast("long").cast("double") / 1000000.0)
  }

  /** Rolling polynomial (Karp–Rabin) document fingerprint:
    * fold over characters of acc·31 + ascii(c) mod 2³¹−1. Sequential
    * aggregate — order-exact, overflow-free (values < 2⁶², safe under
    * ANSI), and expressible verbatim in DuckDB via list_reduce. */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"),
      aggregate(split(col(textCol), ""), lit(0L),
        (acc, c) => (acc * 31 + ascii(c)) % 2147483647L).as("fp"))

  /** Language-ID heuristic: CJK codepoint check first, then argmax of
    * stopword-profile hit counts (tie-break: lang asc); no hits → 'und'. */
  def langId(spark: SparkSession, docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("id"), col(textCol).as("text"))
    base.join(langBest(spark, docs, idCol, textCol), Seq("id"), "left")
      .select(col("id"), langCase(col("text"), col("lang")).as("lang_id"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** The language decision over a doc's text and its stopword-profile
    * argmax (null when no profile hit): CJK codepoint → 'zh', else the
    * argmax, else 'und'. Shared by [[langId]] and the curation chain
    * ([[Curation]]), so the two lang_id columns cannot drift. */
  private[operators] def langCase(textCol: Column, langCol: Column): Column =
    when(textCol.rlike("[一-鿿]"), lit("zh"))
      .otherwise(coalesce(langCol, lit("und")))

  /** (id, lang, score) — the stopword-profile argmax WITHOUT the join
    * back onto the doc frame; only docs with ≥1 profile hit appear. The
    * curation chain joins this directly onto its own per-doc frame (one
    * corpus join instead of two) and applies [[langCase]], as
    * [[langId]] does. */
  private[operators] def langBest(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val profiles = broadcast(StopwordProfiles.toDF("lang", "word"))
    val hits = docs
      .select(col(idCol).as("id"),
        explode(split(lower(col(textCol)), " ")).as("tok"))
      .join(profiles, col("tok") === col("word"))
      .groupBy("id", "lang").agg(count(lit(1)).as("score"))
    val w = Window.partitionBy("id")
      .orderBy(col("score").desc, col("lang").asc)
    hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("id"), col("lang"), col("score"))
  }

  /** Repetition signals per document (the Gopher/RefinedWeb repetition
    * filter family): duplicate word-n-gram fraction and modal-n-gram mass.
    * High values flag boilerplate/spam/degenerate docs that the
    * length+stopword quality trio misses. Docs with < n tokens produce no
    * n-grams and are filtered (same guard as [[Dedup.shingles]]; the
    * oracle applies the same).
    *
    * Scale shape: narrow generate → two hash aggregations, keyed on
    * (id, ngram) then (id); partial (map-side) aggregation means the one
    * shuffle carries a row per distinct (doc, n-gram) — no joins, no
    * windows, no per-doc quadratic lambdas. Fractions use the 1e6
    * truncation fix-up, not round() (see [[qualityScore]]: round()
    * halfway semantics diverge between Spark and DuckDB). */
  def repetitionStats(docs: DataFrame, n: Int = 2, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = split(col(textCol), " ")
    def trunc6(c: Column): Column =
      (c * 1000000.0).cast("long").cast("double") / 1000000.0
    // token array materialized before the interpreted lambda — without
    // this, split(text) is re-parsed per element_at and the n-gram
    // generate is O(tokens²) per doc (see Dedup.rawShingles)
    val toks = col("__toks")
    docs
      .filter(size(w) >= n)
      .select(col(idCol).as("id"), w.as("__toks"))
      .select(col("id"),
        explode(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
          .as("ngram"))
      .groupBy("id", "ngram").agg(count(lit(1)).as("cnt"))
      .groupBy("id").agg(
        sum("cnt").as("n_ngrams"),
        count(lit(1)).as("n_distinct"),
        max("cnt").as("top_cnt"))
      .select(col("id"), col("n_ngrams"), col("n_distinct"),
        trunc6(lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams"))
          .as("dup_frac"),
        trunc6(col("top_cnt").cast("double") / col("n_ngrams")).as("top_frac"))
  }

  /** One-row-per-stratum corpus report (the dashboard/report query a
    * curation run ends with): doc count, token mass, mean tokens/doc —
    * a single hash aggregation with map-side partial combine, so at
    * 100 TB the shuffle carries one row per (partition, stratum).
    *
    * The mean is computed in exact LONG arithmetic — `n_tokens * 1e6
    * div n_docs` (SQL integer floor division) — because averaging
    * doubles is order-dependent and round() halfway semantics diverge
    * between Spark and DuckDB (see [[qualityScore]]); DuckDB replays it
    * as `(n_tokens*1000000)//n_docs`, bit-identical. Overflow bound:
    * n_tokens·1e6 < 2^63 holds to ~9.2e12 tokens per stratum; past that
    * (plausible at 100 TB) swap the scaled product to DECIMAL(38,0). */
  def corpusStats(docs: DataFrame, strataCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    val toks = size(split(col(textCol), " ")).cast("bigint")
    docs
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"), sum(toks).as("n_tokens"))
      .select(col(strataCol), col("n_docs"), col("n_tokens"),
        (expr("n_tokens * 1000000 div n_docs").cast("double") / 1000000.0)
          .as("mean_tokens"))
  }

  /** Corpus-rarity signal per document (hapax-heavy docs ≈ OCR noise /
    * base64 / gibberish that the length+stopword quality trio misses):
    * count token OCCURRENCES whose type has corpus document frequency 1.
    * Exact integers throughout; rare_frac is the 1e6 floor-division fix-up
    * (see [[corpusStats]] — round() halfway semantics diverge between
    * engines, floor division cannot).
    *
    * Scale shape: the document-frequency agg is a two-level distinct agg
    * Catalyst expands itself; the join back onto the token stream is
    * restricted to the df = 1 TAIL (hapax set) as a LEFT join — the Zipf
    * head (stop tokens, ~corpus-sized doc lists) never appears on the
    * build side, so there is no hot-key skew, and AQE may broadcast the
    * hapax set when it is small. */
  def rareTokenStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("tok"))
    val hapax = tok.groupBy("tok")
      .agg(countDistinct("id").as("df"))
      .filter(col("df") === 1)
      .select(col("tok"), lit(1L).as("is_hapax"))
    tok.join(hapax, Seq("tok"), "left")
      .groupBy("id").agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("is_hapax"), lit(0L))).as("n_hapax"))
      .select(col("id"), col("n_tokens"), col("n_hapax"),
        (expr("n_hapax * 1000000 div n_tokens").cast("double") / 1000000.0)
          .as("rare_frac"))
  }

  /** Per-document top-k salient tokens by exact-integer tf·idf ranking:
    * score_1e6 = tf·1e6 div df. The corpus size is a constant factor of
    * idf, so ranking by tf/df IS the tf·idf ranking — and BIGINT floor
    * division is bit-identical in Spark (`div`) and DuckDB (`//`): no
    * log(), no doubles anywhere (the round-4 halfway-rounding lesson
    * applied up front). Ties (score desc, then token asc) are frozen so
    * the emitted top-k SET is deterministic and cross-engine identical.
    *
    * Scale shape: token explode → (id, tok) hash agg (tf, map-side
    * partial combine) → vocab-sized df agg off the tf frame (tf rows are
    * unique per (id, tok), so count(*) IS the document frequency) → join
    * back on tok whose build side is ONE row per vocab token — Zipf-head
    * tokens are not skew here, every probe row matches exactly one build
    * row, and AQE broadcasts the vocab when small → per-doc row_number
    * ≤ k planned as WindowGroupLimit (per-partition top-k before the
    * exchange, the same shape as [[Sampling.stratifiedSample]]). */
  def tfidfKeywords(docs: DataFrame, k: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val tok = docs.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("tok"))
    val tf = tok.groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("score_1e6").desc, col("tok").asc)
    tf.join(df, Seq("tok"))
      .withColumn("score_1e6", expr("tf * 1000000 div df"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select(col("id"), col("tok"), col("tf"), col("df"),
        col("score_1e6"), col("rn"))
  }

  /** Exact corpus length-quantile report without a single-partition
    * window: each doc's EXACT global rank under the total order
    * (`lenCol`, `idCol`) is its per-length row_number plus the
    * cumulative count of all shorter lengths — the same bucket-offset
    * decomposition as [[Sampling.globalShuffleRank]], except the
    * "bucket" here is the length value itself so bucket order IS rank
    * order. The only global window runs over the distinct-length
    * histogram (tiny: one row per distinct length), which is then
    * broadcast; the per-doc window partitions BY length, so no
    * executor ever sorts more than one length-class. quantile(doc) =
    * (nBuckets · (rank−1)) div N — identical integer math to the
    * DuckDB twin's row_number formulation, hence hash-identical.
    *
    * `docs.count()` is one exact scalar aggregate to pin N into the
    * quantile literal — not a driver-side loop. A corpus where ONE
    * length value dominates would skew the per-length window; the fix
    * is the same two-level salted-offset extension globalShuffleRank
    * documents, not needed for any tested corpus. */
  def lengthQuantiles(docs: DataFrame, nBuckets: Int = 10,
      lenCol: String = "n_chars", idCol: String = "doc_id"): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val total = docs.count()
    require(total > 0, "empty corpus has no quantiles")
    val hist = docs.groupBy(col(lenCol)).agg(count(lit(1)).as("bn"))
      .withColumn("offset",
        coalesce(sum(col("bn")).over(Window.orderBy(col(lenCol))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(lenCol), col("offset"))
    val w = Window.partitionBy(col(lenCol)).orderBy(col(idCol))
    docs.select(col(idCol), col(lenCol))
      .join(broadcast(hist), Seq(lenCol))
      .withColumn("grank", col("offset") + row_number().over(w))
      .select(col(lenCol),
        expr(s"($nBuckets * (grank - 1)) div $total").as("qbucket"))
      .groupBy("qbucket").agg(count(lit(1)).as("n_docs"),
        min(col(lenCol)).as("min_chars"), max(col(lenCol)).as("max_chars"),
        sum(col(lenCol)).as("sum_chars"))
  }
}
