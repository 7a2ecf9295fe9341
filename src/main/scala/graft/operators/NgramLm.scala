package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained n-gram language-model scoring — the distributable stand-in
  * for perplexity-based quality filtering (the KenLM move in CCNet/RefinedWeb
  * style pipelines): train bigram statistics over a reference corpus, then
  * score each document by its average bigram log-probability. Low scores
  * flag boilerplate, gibberish, and wrong-language text.
  *
  * Design for 100 TB: training is a grouped count over exploded bigrams
  * (shuffle keys are token pairs, never documents); scoring is an equi-join
  * of the document's bigrams against the model — when the model's head
  * vocabulary fits in memory Catalyst/AQE broadcasts it, otherwise it's a
  * plain shuffled hash join. No driver-side model object, so model size is
  * unbounded.
  */
object NgramLm {

  /** Bigram model over a training corpus: per-(w1, w2) counts, per-context
    * totals, and the vocabulary size used for add-one smoothing.
    *
    * `bigrams`: (w1, w2, c); `contexts`: (w1, c1 = Σ_w2 c(w1,w2));
    * `vocab`: one row, (vsz = distinct tokens in the corpus).
    */
  final case class BigramModel(bigrams: DataFrame, contexts: DataFrame, vocab: DataFrame)

  /** Bigram list of a token array: struct(w1, w2) per adjacent pair. */
  private def bigramPairs(toks: Column): Column =
    transform(sequence(lit(1), size(toks) - 1),
      i => struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2")))

  /** One tokenize pass: (idCol, tk) — the shared input every trainer and
    * scorer below derives from. Callers that consume it more than once
    * (self-scoring, train-on-slice + score-on-corpus) persist it for the
    * pass so the regexp tokenize over full text — the dominant narrow-stage
    * cost of the whole LM family — runs exactly once per corpus.
    */
  def tokenized(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol), TextOps.tokens(col(textCol)).as("tk"))

  private def bigramsFromToks(toks: DataFrame, idCol: String): DataFrame =
    toks.filter(size(col("tk")) >= 2)
      .select(col(idCol), explode(bigramPairs(col("tk"))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Train bigram counts, context totals, and vocabulary size over `docs`.
    * Tokenization is [[TextOps.tokens]] (lowercased whitespace tokens) so
    * the model composes with the rest of the text stack.
    */
  def train(docs: DataFrame, textCol: String, idCol: String): BigramModel =
    // persist the tokenized frame for the pass: the bigram counts and the
    // vocabulary size otherwise each re-run the corpus tokenize
    trainFromToks(
      graft.CacheScope.persist(tokenized(docs, textCol, idCol)), idCol)

  /** [[train]] over an already-tokenized (idCol, tk) frame — callers that
    * also score from the same tokens pass ONE persisted frame through both.
    * Does not persist `toks` itself (the caller owns that decision).
    */
  def trainFromToks(toks: DataFrame, idCol: String): BigramModel = {
    // the bigram table is answer-sized (distinct n-grams, never documents)
    // and read twice (as the model AND as the context totals' input) plus
    // once per scoring join — persist it for the pass (scope-reclaimed)
    // so the tokenize+explode+agg runs once
    val bg = graft.CacheScope.persist(bigramsFromToks(toks, idCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c")))
    val ctx = bg.groupBy(col("w1")).agg(sum(col("c")).as("c1"))
    val vocab = toks.select(explode(col("tk")).as("t"))
      .agg(count_distinct(col("t")).as("vsz"))
    BigramModel(bg, ctx, vocab)
  }

  /** Score each document by its average add-one-smoothed bigram
    * log-probability under `model`:
    * `avg_logp = mean over bigrams of ln((c(w1,w2)+1) / (c1(w1)+V))`.
    * Documents with fewer than two tokens are not scorable and are omitted.
    * Returns (idCol, n_bigrams: Long, avg_logp: Double).
    *
    * Unseen bigrams score with c=0 (and unseen contexts with c1=0), so a
    * corpus-trained model scores ANY document — the cross-corpus quality
    * filter shape.
    */
  def score(docs: DataFrame, model: BigramModel, textCol: String, idCol: String): DataFrame =
    scoreFromToks(tokenized(docs, textCol, idCol), model, idCol)

  /** [[score]] over an already-tokenized (idCol, tk) frame. */
  def scoreFromToks(toks: DataFrame, model: BigramModel, idCol: String): DataFrame = {
    val db = bigramsFromToks(toks, idCol)
    db.join(model.bigrams, Seq("w1", "w2"), "left")
      .join(model.contexts, Seq("w1"), "left")
      .crossJoin(model.vocab)
      .select(col(idCol),
        log((coalesce(col("c"), lit(0L)) + 1.0) /
          (coalesce(col("c1"), lit(0L)) + col("vsz"))).as("logp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("logp")) / count(lit(1))).as("avg_logp"))
  }

  /** Train on `docs` and score the same corpus — the self-scoring quality
    * signal (outliers under the corpus's own statistics). One tokenize
    * pass feeds both the trainer and the scorer.
    */
  def selfScore(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = graft.CacheScope.persist(tokenized(docs, textCol, idCol))
    scoreFromToks(toks, trainFromToks(toks, idCol), idCol)
  }

  /** [[selfScore]] ranked into CCNet buckets — one tokenize pass for the
    * trainer, the scorer and (via the scored persist in
    * [[bucketsFromScores]]) the ntile machinery.
    */
  def selfPerplexityBuckets(
      docs: DataFrame, textCol: String, idCol: String, nBuckets: Int): DataFrame =
    bucketsFromScores(selfScore(docs, textCol, idCol), idCol, "avg_logp", nBuckets)

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): rank every
    * scorable document by its LM score and split the ranking into
    * `nBuckets` equal slices — bucket 1 = the best-modeled head (CCNet
    * keeps head, samples middle, drops tail). Deterministic total order:
    * (×10⁶-floored score DESC, doc id ASC); bucket =
    * `rank0 · nBuckets div N + 1` (pure integer math, engine-replayable).
    * Output: (doc, score_x1e6, bucket).
    */
  def perplexityBuckets(
      docs: DataFrame, model: BigramModel, textCol: String, idCol: String,
      nBuckets: Int): DataFrame =
    bucketsFromScores(score(docs, model, textCol, idCol), idCol, "avg_logp", nBuckets)

  /** The distributed exact-ntile under [[perplexityBuckets]], reusable
    * over ANY (doc, score) frame (the trigram path feeds it too). The
    * global ranking is computed with NO unbounded single-partition work
    * and NO per-score serialization — both r10 flags closed with the
    * two-level block prefix-sum discipline (`Curation.shuffleOrder`):
    *
    *  - cumulative counts of strictly-better scores: the distinct-score
    *    histogram is cut into ~4096 VALUE-RANGE blocks (block = integer
    *    DIV of the score by a width derived from the observed range, so
    *    the key is monotone in the score and block counts are bounded by
    *    construction at any corpus size); the per-block totals (≤ 4097
    *    rows) are collected and prefix-summed on the driver, within-block
    *    prefixes come from a window PARTITIONED on the block — no window
    *    runs without a partition key;
    *  - within-score rank by doc id: the same trick on the DOC id —
    *    per-(score, doc-block) counts prefix-summed per score (≤ 4097
    *    rows per score, however many docs tie on it), row_number only
    *    inside each (score, doc-block). A low-entropy corpus where one
    *    score carries 30% of all docs no longer sorts those docs in a
    *    single task (the r10 tie-heavy flag).
    *
    * The scored frame is checkpointed for the pass (it feeds the
    * histogram, the block stats and the ranked output; its LM-join subplan
    * would otherwise re-run three times). A checkpoint, not a scoped
    * persist: the driver-collected ranges below are baked into the plan,
    * so every reference must read the same scores, and a re-evaluated
    * double-sum score is not bit-stable across runs. The row count and
    * score/doc ranges and the block prefixes are two driver collects, so
    * the ranked plan carries them as literals and broadcasts only the
    * block prefixes.
    */
  def bucketsFromScores(
      scored: DataFrame, idCol: String, scoreCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"need at least one bucket, got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val s = graft.CacheScope.localCheckpoint(scored
      .select(col(idCol).cast("long").as("doc"),
        floor(col(scoreCol) * lit(1000000.0)).cast("long").as("score_x1e6")))
    // every scalar the block math needs, in one pass (one driver row)
    val Array(n, slo, shi, dlo, dhi) = s.agg(count(lit(1)),
      coalesce(min(col("score_x1e6")), lit(0L)),
      coalesce(max(col("score_x1e6")), lit(0L)),
      coalesce(min(col("doc")), lit(0L)),
      coalesce(max(col("doc")), lit(0L))).head.toSeq.map(_.asInstanceOf[Long]).toArray
    val withB = s
      .withColumn("__sb", expr(s"(score_x1e6 - ${slo}L) DIV ${(shi - slo) / 4096 + 1}L"))
      .withColumn("__db", expr(s"(doc - ${dlo}L) DIV ${(dhi - dlo) / 4096 + 1}L"))
    // strictly-better-score counts, two levels over the histogram
    val hist = withB.groupBy(col("__sb"), col("score_x1e6"))
      .agg(count(lit(1)).as("__c"))
    val blkBefore = Curation.blockPrefix(hist, "__sb", sum(col("__c")), "__bb",
      descending = true)
    val wIn = Window.partitionBy(col("__sb")).orderBy(col("score_x1e6").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("__wb", coalesce(sum(col("__c")).over(wIn), lit(0L)))
      .join(broadcast(blkBefore), Seq("__sb"))
      .select(col("score_x1e6"), (col("__bb") + col("__wb")).as("before"))
    // within-score doc rank, two levels over (score, doc-block)
    val dcnt = withB.groupBy(col("score_x1e6"), col("__db"))
      .agg(count(lit(1)).as("__dc"))
    val wD = Window.partitionBy(col("score_x1e6")).orderBy(col("__db"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val dBefore = dcnt.select(col("score_x1e6"), col("__db"),
      coalesce(sum(col("__dc")).over(wD), lit(0L)).as("__dbf"))
    val wR = Window.partitionBy(col("score_x1e6"), col("__db")).orderBy(col("doc"))
    withB
      .withColumn("__rn", row_number().over(wR).cast("long"))
      .join(dBefore, Seq("score_x1e6", "__db"))
      .join(cum, Seq("score_x1e6"))
      .select(col("doc"), col("score_x1e6"),
        // integer DIV, not `/` (which is double division in Spark SQL)
        expr(s"CAST((before + __dbf + __rn - 1) * $nBuckets DIV ${n}L + 1 AS BIGINT)")
          .as("bucket"))
  }

  // -------------------------------------------------------------------
  // trigram LM with stupid backoff (the CCNet-fidelity option)
  // -------------------------------------------------------------------

  /** Trigram model with the lower orders it backs off through:
    * `trigrams` (w1, w2, w3, c3g); `bigrams` (w1, w2, c2g); `unigrams`
    * (w, c1g); `totals` one row (ntok = training token count, vsz =
    * distinct training tokens).
    */
  final case class TrigramModel(
      trigrams: DataFrame, bigrams: DataFrame, unigrams: DataFrame, totals: DataFrame)

  private def trigramsFromToks(toks: DataFrame, idCol: String): DataFrame =
    toks.filter(size(col("tk")) >= 3)
      .select(col(idCol), explode(transform(sequence(lit(1), size(col("tk")) - 2),
        i => struct(element_at(col("tk"), i).as("w1"),
          element_at(col("tk"), i + 1).as("w2"),
          element_at(col("tk"), i + 2).as("w3")))).as("tg"))
      .select(col(idCol), col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))

  /** Train the trigram/bigram/unigram count tables over `docs` — the
    * higher-order option Wenzek et al.'s CCNet buckets actually use (a
    * 5-gram KenLM there; order 3 already separates fluent text from
    * token soup far better than the bigram, and the model shape stays
    * three grouped counts + one totals row, shuffled on n-gram keys,
    * never on documents).
    */
  def trainTrigram(docs: DataFrame, textCol: String, idCol: String): TrigramModel =
    trainTrigramFromToks(graft.CacheScope.persist(
      tokenized(docs, textCol, idCol)), idCol)

  /** [[trainTrigram]] over an already-tokenized (idCol, tk) frame. Callers
    * that train on a slice and score the full corpus tokenize ONCE, persist,
    * and pass the filtered view here — `toks` itself is not persisted (the
    * caller owns that decision).
    */
  def trainTrigramFromToks(toks: DataFrame, idCol: String): TrigramModel = {
    // ONE tokenization pass feeds all three count tables (the regexp
    // tokenize over full text is the dominant narrow-stage cost; unshared,
    // it ran three times), and each count table is persisted for the pass:
    // they are answer-sized (distinct n-grams) and the scorer joins the
    // bigram table twice (c12/c23) and the unigram table twice (c2/c3) —
    // un-persisted, each join side re-ran its full training aggregation
    def p(df: DataFrame) = graft.CacheScope.persist(df)
    val tg = p(toks.filter(size(col("tk")) >= 3)
      .select(col(idCol), explode(transform(sequence(lit(1), size(col("tk")) - 2),
        i => struct(element_at(col("tk"), i).as("w1"),
          element_at(col("tk"), i + 1).as("w2"),
          element_at(col("tk"), i + 2).as("w3")))).as("tg"))
      .groupBy(col("tg.w1").as("w1"), col("tg.w2").as("w2"), col("tg.w3").as("w3"))
      .agg(count(lit(1)).as("c3g")))
    val bg = p(toks.filter(size(col("tk")) >= 2)
      .select(col(idCol), explode(bigramPairs(col("tk"))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("c2g")))
    val ug = p(toks.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1g")))
    val totals = ug.agg(sum(col("c1g")).as("ntok"),
      count(lit(1)).as("vsz"))
    TrigramModel(tg, bg, ug, totals)
  }

  /** Score each document under STUPID BACKOFF (Brants et al. 2007, "Large
    * language models in machine translation" — the web-scale recipe:
    * relative frequencies with a fixed 0.4 back-off factor, no
    * normalization, no held-out tuning):
    *
    *   S(w3 | w1 w2) = c(w1w2w3)/c(w1w2)           when the trigram is seen
    *                 | 0.4 · c(w2w3)/c(w2)          else, when the bigram is
    *                 | 0.4² · (c(w3)+1)/(N + V)     else (add-one unigram
    *                                                floor, so OOV scores)
    *
    * `avg_logp = mean over trigram positions of ln S`; documents with
    * fewer than three tokens are omitted. Every count lookup is an
    * equi-join against the model tables (broadcast when the head fits),
    * so the whole scorer is replayable SQL — the CASE ladder IS the
    * oracle. Returns (idCol, n_trigrams, avg_logp).
    */
  def scoreTrigram(
      docs: DataFrame, model: TrigramModel, textCol: String, idCol: String): DataFrame =
    scoreTrigramFromToks(tokenized(docs, textCol, idCol), model, idCol)

  /** [[scoreTrigram]] over an already-tokenized (idCol, tk) frame. */
  def scoreTrigramFromToks(
      toks: DataFrame, model: TrigramModel, idCol: String): DataFrame = {
    val dt = trigramsFromToks(toks, idCol)
    val b12 = model.bigrams.select(col("w1"), col("w2"), col("c2g").as("c12"))
    val b23 = model.bigrams.select(col("w1").as("w2"), col("w2").as("w3"),
      col("c2g").as("c23"))
    val u2 = model.unigrams.select(col("w").as("w2"), col("c1g").as("c2"))
    val u3 = model.unigrams.select(col("w").as("w3"), col("c1g").as("c3"))
    dt.join(model.trigrams, Seq("w1", "w2", "w3"), "left")
      .join(b12, Seq("w1", "w2"), "left")
      .join(b23, Seq("w2", "w3"), "left")
      .join(u2, Seq("w2"), "left")
      .join(u3, Seq("w3"), "left")
      .crossJoin(model.totals)
      .select(col(idCol),
        log(when(coalesce(col("c3g"), lit(0L)) > 0, col("c3g") / col("c12"))
          .when(coalesce(col("c23"), lit(0L)) > 0,
            lit(0.4) * col("c23") / col("c2"))
          .otherwise(lit(0.16) * (coalesce(col("c3"), lit(0L)) + lit(1.0)) /
            (col("ntok") + col("vsz")))).as("logp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        (sum(col("logp")) / count(lit(1))).as("avg_logp"))
  }
}
