package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale document pipelines.
  *
  * Everything here is built from `org.apache.spark.sql.functions._` column
  * expressions (whole-stage-codegen'd, no UDFs): at 100 TB these run inside
  * the scan's codegen stage with zero shuffle — the only shuffles are the
  * aggregations callers add on top.
  */
object TextOps {

  /** Whitespace-delimited token count. `\S+` matching (not split) so empty
    * and all-whitespace strings count 0 without special-casing.
    */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0))).cast("bigint")

  /** Token array (whitespace tokenization, lowercased). */
  def tokens(text: Column): Column =
    transform(regexp_extract_all(text, lit("\\S+"), lit(0)), t => lower(t))

  /** BPE-style pre-tokenizer pattern (GPT-2 family): English contractions,
    * space-prefixed letter runs, digit runs, punctuation runs. Restricted to
    * constructs RE2 also supports (no lookahead) so the same pattern counts
    * identically in engines that use RE2 — the whitespace-tail alternatives
    * of the original pattern are dropped, meaning pure-whitespace spans
    * count 0 tokens (like [[tokenCount]]).
    */
  val BpeTokenPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** Token count under the BPE-style pre-tokenizer — the "how many tokens
    * will the trainer see" estimate, vs [[tokenCount]]'s whitespace words.
    */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0))).cast("bigint")

  /** Word n-grams (shingles) over the token array. Returns distinct shingles
    * — the unit for Jaccard/MinHash dedup. Guarded for docs shorter than n:
    * `sequence(a, b)` DESCENDS when b < a, so an unguarded
    * `sequence(0, size-n)` fabricates garbage shingles on short docs instead
    * of none.
    */
  def shingles(tokenArr: Column, n: Int): Column = {
    require(n >= 1)
    val m = size(tokenArr) - (n - 1)
    val grams = when(m > 0,
      transform(sequence(lit(1), m), i => array_join(slice(tokenArr, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    array_distinct(grams)
  }

  /** Character n-grams of a string (for language-ID profiles). Guarded like
    * [[shingles]]: `sequence` descends when the text is shorter than n,
    * which would fabricate phantom n-grams on short/empty docs.
    */
  def charNgrams(text: Column, n: Int): Column = {
    val m = length(text) - (n - 1)
    when(m > 0, transform(sequence(lit(1), m), i => text.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))
  }

  /** Quality-signal columns for a document text (all exact integer math so
    * results are engine-portable): character count, token count, average
    * token length ×100 (integer), digit count, punctuation count, uppercase
    * count, and a 0/1 low-quality flag.
    */
  def qualitySignals(text: Column): Map[String, Column] = {
    val nChars = length(text).cast("bigint")
    val nTok = tokenCount(text)
    Map(
      "n_chars" -> nChars,
      "n_tokens" -> nTok,
      "avg_tok_len_x100" -> when(nTok > 0, floor(nChars * 100L / nTok)).otherwise(lit(0L)).cast("bigint"),
      "n_digits" -> (nChars - length(regexp_replace(text, "[0-9]", ""))).cast("bigint"),
      "n_punct" -> (nChars - length(regexp_replace(text, "[\\.,!\\?;:]", ""))).cast("bigint"),
      "n_upper" -> (nChars - length(regexp_replace(text, "[A-Z]", ""))).cast("bigint"),
      "low_quality" -> when(nTok < 5 || nChars < 20, lit(1L)).otherwise(lit(0L))
    )
  }

  /** Tiny stopword profiles per language. Deliberately small: language ID
    * here is the standard "score by stopword/n-gram hits" heuristic; the
    * point is the distributed shape (pure column expressions), not lexical
    * coverage.
    */
  val StopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "es", "que", "para"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "zu", "mit", "von"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1", "zhe4", "bu4")
  )

  /** Score = number of tokens that are stopwords of the language. */
  def langScore(tokenArr: Column, lang: String): Column = {
    val stop = StopwordProfiles(lang)
    size(filter(tokenArr, t => t.isInCollection(stop))).cast("bigint")
  }

  /** Predicted language: argmax of stopword-hit scores; "und" (undetermined)
    * when no profile scores a single hit.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scored = StopwordProfiles.keys.toSeq.sorted.map { l =>
      struct(langScore(toks, l).as("score"), lit(l).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Canonical text normalization for corpus ingest: strip C0/C1 control
    * characters (except \t \n \r, which then normalize as whitespace),
    * collapse whitespace runs to single spaces, trim. Pure codegen'd
    * `regexp_replace` chain — zero shuffle, and every pattern is
    * RE2-compatible so other engines replay it byte-identically. Standard
    * first step before token counting / shingling / dedup so that
    * formatting noise doesn't defeat near-dup detection.
    */
  def normalizeText(text: Column): Column = {
    val noCtrl = regexp_replace(text, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]", "")
    trim(regexp_replace(noCtrl, "\\s+", " "))
  }

  /** PII redaction patterns (RE2-safe: no lookarounds/backrefs, so the same
    * regexes run in Spark's Java engine and RE2-based engines identically).
    * Deliberately high-recall simple shapes — a redaction pass prefers
    * over-masking to leaking.
    */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val IntlPhonePattern: String = "\\+\\d{7,15}"

  /** Redact emails, IPv4 addresses, and international-format phone numbers
    * with typed mask tokens. Order matters: emails first (an email's domain
    * must not be half-eaten by another pattern), then IPs, then phones.
    */
  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailPattern, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Pattern, "<IP>")
    regexp_replace(noIp, IntlPhonePattern, "<PHONE>")
  }

  /** Top-k characteristic terms per document by tf-idf
    * (`tf · ln((N+1)/(df+1))`), ties broken by term — the standard
    * keyword-extraction / topic-fingerprint primitive. Three shuffles, all
    * keyed on uniform hash keys: tf groups on (doc, term), document
    * frequency groups on term, and the final top-k window partitions on the
    * doc id; the corpus size N rides along as a broadcast scalar, never a
    * driver-side collect.
    */
  def tfIdfTopTerms(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      k: Int
  ): org.apache.spark.sql.DataFrame = {
    require(k > 0)
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("n_tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy((col("n_tf") * log((col("n_docs") + 1.0) / (col("df_t") + 1.0))).desc,
        col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("rank"))
  }

  /** Inverted index: one row per term with document frequency, total term
    * frequency, and the postings list — (doc, tf) sorted by doc id — the
    * core retrieval / BM25-precursor structure.
    *
    * Scale shape: explode → (term, doc) partial-aggregated tf → one
    * aggregate keyed on term. The shuffle carries (term, doc, tf) triples,
    * never text. The one genuine hazard at corpus scale is posting-list
    * skew: a stopword's list is O(corpus) and `collect_list` materializes
    * it in a single aggregation buffer. `maxPostings` caps the materialized
    * list (lowest doc ids kept, the stable prefix); `df`/`total_tf` stay
    * exact either way because they aggregate before the cap. Production
    * indexes shard long lists instead — the cap is the honest single-table
    * rendering of that.
    */
  def invertedIndex(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      maxPostings: Int = Int.MaxValue
  ): org.apache.spark.sql.DataFrame = {
    require(maxPostings > 0)
    val tf = docs
      .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col("doc"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("term"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("total_tf"),
        slice(array_sort(collect_list(struct(col("doc"), col("tf")))),
          1, maxPostings).as("postings"))
  }

  /** Within-document repetition signals — the Gopher/C4 quality-filter
    * family: the share of tokens taken by the single most frequent token,
    * and the share of adjacent bigrams that are repeats. Boilerplate-heavy
    * and template-generated pages score high on both; training-data
    * pipelines threshold on them before anything expensive runs.
    *
    * Integer-scaled (x1000, floor) so the values hash identically across
    * engines. Shape: explode → two-level aggregate — fully distributed; the
    * shuffle carries (id, token) pairs, never document text, and the
    * per-token counts partial-aggregate map-side before the exchange.
    */
  def repetitionSignals(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String
  ): org.apache.spark.sql.DataFrame = {
    val tokStats = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol)).agg(
        sum(col("cnt")).as("n_tokens"),
        max(col("cnt")).as("top_cnt"))
    // adjacent bigrams, staged through a separate select so the token array
    // is evaluated once (never rebuild an expensive array inside a HOF)
    val biStats = docs
      .select(col(idCol), tokens(col(textCol)).as("tk"))
      .select(col(idCol),
        zip_with(
          slice(col("tk"), lit(1), greatest(size(col("tk")) - 1, lit(0))),
          slice(col("tk"), lit(2), greatest(size(col("tk")) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b)).as("bgs"))
      .select(col(idCol), explode(col("bgs")).as("bg"))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_bigrams"),
        countDistinct(col("bg")).as("n_distinct"))
    // empty / one-token docs drop out of the exploded branches: re-anchor on
    // the full id set so every document gets a (possibly zero) signal row
    docs.select(col(idCol))
      .join(tokStats, Seq(idCol), "left")
      .join(biStats, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_tokens"), lit(0L)).cast("bigint").as("n_tokens"),
        when(col("n_tokens") > 0, floor(col("top_cnt") * 1000L / col("n_tokens")))
          .otherwise(lit(0L)).cast("bigint").as("top_token_frac_x1000"),
        when(col("n_bigrams") > 0,
          floor((col("n_bigrams") - col("n_distinct")) * 1000L / col("n_bigrams")))
          .otherwise(lit(0L)).cast("bigint").as("dup_bigram_frac_x1000"))
  }

  /** 64-bit content fingerprint: order-sensitive rolling combination of
    * token hashes, done as a single `aggregate` fold — the document-
    * fingerprinting primitive for shard-level dedup manifests. Chained
    * xxhash64(acc, token) rather than multiply-add so the fold never
    * overflows under ANSI arithmetic.
    */
  def fingerprint(text: Column): Column =
    aggregate(
      tokens(text),
      lit(-7046029254386353131L), // odd seed
      (acc, t) => xxhash64(acc, t))

  /** SimHash-64 over tokens: per bit, sum +1/-1 weighted by token-hash bit,
    * then take signs. Built entirely from higher-order functions; stays in
    * codegen, no UDF.
    */
  def simhash64(tokenArr: Column): Column = {
    val counters = aggregate(
      tokenArr,
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (c, i) => c + when(call_function("shiftright", h, i.cast("int")).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      })
    aggregate(
      zip_with(counters, sequence(lit(0), lit(63)),
        (c, i) => when(c > 0, call_function("shiftleft", lit(1L), i.cast("int"))).otherwise(0L)),
      lit(0L),
      (acc, b) => acc.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** Out-of-vocabulary rate per document against the corpus' own top-
    * `vocabSize` tokens — the vocabulary-coverage signal tokenizer and
    * quality work want (a doc whose tokens are mostly outside the frequent
    * vocabulary is boilerplate, code, another language, or noise).
    *
    * The vocabulary is the top `vocabSize` tokens by corpus count (ties
    * lexically ascending, so the cutoff is a deterministic total order).
    * Scale shape: vocabulary = partial-agg + TakeOrdered (one row per
    * distinct token per partition in the shuffle, never per occurrence),
    * then a BROADCAST left join per token occurrence — the corpus side
    * never shuffles. Output: one row per input doc (docs with zero tokens
    * report 0/0/0), `oov_x1000` in integer thousandths so the value is
    * engine-exact.
    */
  def oovRate(
      docs: DataFrame, textCol: String, idCol: String, vocabSize: Int): DataFrame = {
    require(vocabSize >= 1)
    // the token table feeds both the vocabulary count and the per-doc
    // probe; under a CacheScope the tokenize pass runs once
    val tok = graft.CacheScope.persist(
      docs.select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("tok")))
    val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc).limit(vocabSize)
      .select(col("tok").as("vtok"))
    val perDoc = tok.join(broadcast(vocab), col("tok") === col("vtok"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("vtok").isNull, 1L).otherwise(0L)).as("n_oov"))
    docs.select(col(idCol))
      .join(perDoc, col(idCol) === col("doc"), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      // integer division (`div`) so the rate is engine-exact, never a float
      .withColumn("oov_x1000",
        when(col("n_tokens") > 0L, expr("(n_oov * 1000) div n_tokens"))
          .otherwise(lit(0L)).cast("bigint"))
  }

  /** Token-distribution shift between two corpora: the top-k tokens whose
    * relative frequency differs most between `a` and `b` — the
    * data-quality lens for corpus mixing and drift (a new crawl slice whose
    * top movers are boilerplate tokens is telling you something before any
    * model does).
    *
    * Per-token frequencies are compared in integer parts-per-million
    * (`n·1000000 div total`, same staging both engines), full-outer joined
    * so tokens EXCLUSIVE to either side rank too (their shift is their own
    * ppm). Total order (|shift| desc, token asc) makes the top-k cut
    * deterministic. Scale shape: two partial-agg token counts, a full-outer
    * join on the token, TakeOrdered for the cut — the corpora themselves
    * never join or shuffle.
    */
  def tokenDistributionShift(
      a: DataFrame, b: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1)
    def freqs(df: DataFrame, nCol: String, ppmCol: String): DataFrame = {
      val counts = df.select(explode(tokens(col(textCol))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as(nCol))
      // 1-row total — broadcast join, no shuffle of the counts
      counts.crossJoin(broadcast(counts.agg(sum(col(nCol)).as("__total"))))
        .select(col("token"), col(nCol),
          expr(s"($nCol * 1000000) div __total").cast("bigint").as(ppmCol))
    }
    freqs(a, "n_a", "ppm_a")
      .join(freqs(b, "n_b", "ppm_b"), Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        (coalesce(col("ppm_a"), lit(0L)) - coalesce(col("ppm_b"), lit(0L)))
          .as("shift_ppm"))
      .orderBy(abs(col("shift_ppm")).desc, col("token").asc)
      .limit(k)
  }
}
