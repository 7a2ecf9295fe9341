package graft
package queries

import graft.operators.{Curation, Dedup, Similarity, SparseSim, TextOps}
import org.apache.spark.sql.functions._

import QueryFixtures._
import Role._

/** Corpus curation: sequence packing, retrieval scoring, LM perplexity
  * buckets, BPE, sketches, sampling and mixtures, DSIR and
  * decontamination.
  */
private[graft] object CurationQueries {

  val all: Seq[Query] = Seq(
    // --- corpus curation ----------------------------------------------------
    // concat-and-chunk sequence packing; blockSize 64 so the two-level
    // prefix sum actually runs multi-block at sf0.01 (500 docs → 8 blocks)
    Query("t_pack_sequences", (s, d) =>
      Curation.packSequences(
        tb(s, d, "documents").select(col("doc_id"), TextOps.tokenCount(col("text")).as("nt")),
        "doc_id", col("nt"), seqLen = 2048L, blockSize = 64L, reuseBase = true),
      Timed("""SELECT doc_id, n_tokens, token_offset, token_offset // 2048 AS seq_start, CASE WHEN n_tokens = 0 THEN token_offset // 2048 ELSE (token_offset + n_tokens - 1) // 2048 END AS seq_end FROM (SELECT doc_id, n_tokens, CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset FROM (SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens FROM documents))""")),
    // writer contract of the packing: per-(doc, sequence) token slices
    Query("t_pack_slices", (s, d) =>
      Curation.packedSliceManifest(
        tb(s, d, "documents").select(col("doc_id"), TextOps.tokenCount(col("text")).as("nt")),
        "doc_id", col("nt"), seqLen = 2048L, blockSize = 64L, reuseBase = true),
      Timed("""WITH packed AS (SELECT doc_id, n_tokens, token_offset, token_offset // 2048 AS seq_start, (token_offset + n_tokens - 1) // 2048 AS seq_end FROM (SELECT doc_id, n_tokens, CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset FROM (SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens FROM documents)) WHERE n_tokens > 0) SELECT seq_id, doc_id, greatest(seq_id * 2048 - token_offset, 0) AS doc_from, least((seq_id + 1) * 2048, token_offset + n_tokens) - greatest(seq_id * 2048, token_offset) AS n_take FROM (SELECT p.*, unnest(generate_series(seq_start, seq_end)) AS seq_id FROM packed p)""")),
    // top-3 characteristic terms per doc by tf-idf
    Query("t_tfidf_top", (s, d) =>
      TextOps.tfIdfTopTerms(tb(s, d, "documents"), "text", "doc_id", k = 3),
      Timed("""WITH toks AS (SELECT doc_id, unnest(list_transform(regexp_extract_all(text, '\S+'), t -> lower(t))) AS term FROM documents), tf AS (SELECT doc_id, term, count(*) AS n_tf FROM toks GROUP BY 1, 2), dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1), n AS (SELECT count(*) AS n_docs FROM documents) SELECT doc_id, term, rank FROM (SELECT tf.doc_id, tf.term, row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.n_tf * ln((n.n_docs + 1.0) / (dfreq.df_t + 1.0)) DESC, tf.term ASC) AS rank FROM tf JOIN dfreq USING (term), n) WHERE rank <= 3""")),
    // Okapi BM25 retrieval (benchmark-retrieval / hard-negative-mining
    // shape): docs 0-4 as queries against the whole corpus, top-5 each;
    // per-term contributions row-wise deterministic, rank + output on the
    // ×1e6-floored integer score
    Query("t_bm25_topk", (s, d) => {
      val docs = tb(s, d, "documents")
      SparseSim.bm25TopK(docs, docs.filter(col("doc_id") < 5),
        "text", "doc_id", "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id"), col("score_x1e6"), col("rank"))
    },
      // BM25 replayed term-for-term: same ln/operand order, floor(×1e6)
      Timed("""WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens), q AS (SELECT DISTINCT doc_id AS query_id, unnest(tk) AS term FROM t WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2) SELECT query_id, doc_id, score_x1e6, rank FROM (SELECT query_id, doc_id, score_x1e6, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5""")),
    // sparse-cosine top-k neighbors through the inverted index: candidate
    // pairs come from a posting-list equi-join on word trigrams (df-capped
    // — the stop-gram head is the quadratic term at corpus scale), weights
    // are integerized so every dot product is an exact BIGINT and the
    // similarity column itself hash-matches the oracle
    Query("t_sparse_topk", (s, d) =>
      SparseSim.topKNeighbors(tb(s, d, "documents"), "text", "doc_id",
        n = 3, minDf = 2L, maxDf = 500L, k = 5),
      Timed("""WITH tk AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), tri AS (SELECT doc_id, array_to_string(tk[i : i + 2], ' ') AS term FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM tk WHERE len(tk) >= 3)), tf AS (SELECT doc_id, term, count(*) AS tf FROM tri GROUP BY 1, 2), dfk AS (SELECT term, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) BETWEEN 2 AND 500), w AS (SELECT tf.doc_id, tf.term, tf.tf * (1000000 // dfk.df) AS w FROM tf JOIN dfk USING (term)), nrm AS (SELECT doc_id, sqrt(CAST(sum(w*w) AS DOUBLE)) AS nrm FROM w GROUP BY 1), dots AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, sum(a.w * b.w) AS dot FROM w a JOIN w b USING (term) WHERE a.doc_id < b.doc_id GROUP BY 1, 2), sym AS (SELECT a_id, b_id, dot FROM dots UNION ALL SELECT b_id, a_id, dot FROM dots), cos AS (SELECT s.a_id, s.b_id, CAST(round(s.dot * 1000000.0 / (na.nrm * nb.nrm)) AS BIGINT) AS cos_x1e6 FROM sym s JOIN nrm na ON s.a_id = na.doc_id JOIN nrm nb ON s.b_id = nb.doc_id) SELECT a_id, b_id, cos_x1e6, rank FROM (SELECT a_id, b_id, cos_x1e6, row_number() OVER (PARTITION BY a_id ORDER BY cos_x1e6 DESC, b_id ASC) AS rank FROM cos) WHERE rank <= 5""")),
    // corpus-trained bigram LM, self-scored: the distributable perplexity
    // proxy for quality filtering (sum order differs from the oracle only in
    // float ulps — inside the verifier's 6-sig-digit canonicalization)
    // CCNet perplexity buckets (Wenzek et al.): rank by the self-trained
    // LM score, head/middle/tail thirds via the distributed exact ntile
    // (score-histogram cumulative counts + score-partitioned ranks —
    // no single-partition window anywhere)
    Query("t_perplexity_buckets", (s, d) => {
      // selfPerplexityBuckets ≡ perplexityBuckets(docs, train(docs), ...)
      // with ONE shared tokenize pass (trainer + scorer)
      val docs = tb(s, d, "documents")
      graft.operators.NgramLm.selfPerplexityBuckets(docs, "text", "doc_id", nBuckets = 3)
        .select(col("doc").as("doc_id"), col("score_x1e6"), col("bucket"))
    },
      // bigram LM replayed in SQL: same tokenizer, same add-one smoothing; the
      // self-scored corpus means every doc bigram exists in the model (the
      // engine's left join and this inner join agree)
      // the t_lm_score CTEs + floored score + the same integer bucket math
      Timed("""WITH toks AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), bigt AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2 FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM toks WHERE len(tk) >= 2)), bc AS (SELECT w1, w2, count(*) AS c FROM bigt GROUP BY 1, 2), cc AS (SELECT w1, sum(c) AS c1 FROM bc GROUP BY 1), v AS (SELECT count(DISTINCT t) AS vsz FROM (SELECT unnest(tk) AS t FROM toks)), sc AS (SELECT b.doc_id AS doc, CAST(floor((sum(ln((bc.c + 1.0) / (cc.c1 + v.vsz))) / count(*)) * 1000000.0) AS BIGINT) AS score_x1e6 FROM bigt b JOIN bc USING (w1, w2) JOIN cc USING (w1), v GROUP BY 1), hist AS (SELECT score_x1e6, count(*) AS c FROM sc GROUP BY 1), cum AS (SELECT score_x1e6, coalesce(sum(c) OVER (ORDER BY score_x1e6 DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before FROM hist), tot AS (SELECT count(*) AS n FROM sc), r AS (SELECT doc, score_x1e6, row_number() OVER (PARTITION BY score_x1e6 ORDER BY doc) AS rr FROM sc) SELECT CAST(r.doc AS BIGINT) AS doc_id, r.score_x1e6, CAST((cum.before + rr - 1) * 3 // tot.n + 1 AS BIGINT) AS bucket FROM r JOIN cum USING (score_x1e6) CROSS JOIN tot""")),
    Query("t_lm_score", (s, d) =>
      graft.operators.NgramLm.selfScore(tb(s, d, "documents"), "text", "doc_id"),
      Timed("""WITH toks AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), bigt AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2 FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM toks WHERE len(tk) >= 2)), bc AS (SELECT w1, w2, count(*) AS c FROM bigt GROUP BY 1, 2), cc AS (SELECT w1, sum(c) AS c1 FROM bc GROUP BY 1), v AS (SELECT count(DISTINCT t) AS vsz FROM (SELECT unnest(tk) AS t FROM toks)) SELECT b.doc_id, count(*) AS n_bigrams, sum(ln((bc.c + 1.0) / (cc.c1 + v.vsz))) / count(*) AS avg_logp FROM bigt b JOIN bc USING (w1, w2) JOIN cc USING (w1), v GROUP BY 1""")),
    // trigram LM with STUPID BACKOFF (Brants et al. 2007) — the
    // higher-order option CCNet-style bucketing actually wants. Model
    // trained on the EVEN half so the odd half genuinely exercises the
    // backoff ladder (unseen trigram → bigram → add-one unigram floor);
    // the CASE ladder replays verbatim in the oracle
    Query("t_lm_trigram", (s, d) => {
      // ONE tokenize pass over the full corpus: the trainer consumes the
      // even-doc slice of it (filter commutes with per-doc tokenization),
      // the scorer the whole frame
      val docs = tb(s, d, "documents")
      val toks = graft.CacheScope.persistIfScoped(
        graft.operators.NgramLm.tokenized(docs, "text", "doc_id"))
      graft.operators.NgramLm.scoreTrigramFromToks(toks,
        graft.operators.NgramLm.trainTrigramFromToks(
          toks.filter(col("doc_id") % 2 === 0), "doc_id"),
        "doc_id")
    },
      // stupid backoff restated: seen trigram → relative frequency against
      // the bigram context; else 0.4 × the bigram relative frequency; else
      // the 0.16 add-one unigram floor — training counts from the even half
      Timed("""WITH toks AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), tri AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2, tk[i+2] AS w3 FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM toks WHERE len(tk) >= 3)), ttk AS (SELECT tk FROM toks WHERE doc_id % 2 = 0), tg AS (SELECT w1, w2, w3, count(*) AS c FROM tri WHERE doc_id % 2 = 0 GROUP BY 1,2,3), bg AS (SELECT tk[i] AS w1, tk[i+1] AS w2, count(*) AS c FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM ttk WHERE len(tk) >= 2) GROUP BY 1,2), ug AS (SELECT w, count(*) AS c FROM (SELECT unnest(tk) AS w FROM ttk) GROUP BY 1), tot AS (SELECT sum(c) AS ntok, count(*) AS vsz FROM ug) SELECT t.doc_id, count(*) AS n_trigrams, sum(ln(CASE WHEN coalesce(tg.c, 0) > 0 THEN tg.c / b12.c WHEN coalesce(b23.c, 0) > 0 THEN 0.4 * b23.c / u2.c ELSE 0.16 * (coalesce(u3.c, 0) + 1.0) / (tot.ntok + tot.vsz) END)) / count(*) AS avg_logp FROM tri t LEFT JOIN tg ON t.w1 = tg.w1 AND t.w2 = tg.w2 AND t.w3 = tg.w3 LEFT JOIN bg b12 ON t.w1 = b12.w1 AND t.w2 = b12.w2 LEFT JOIN bg b23 ON t.w2 = b23.w1 AND t.w3 = b23.w2 LEFT JOIN ug u2 ON t.w2 = u2.w LEFT JOIN ug u3 ON t.w3 = u3.w CROSS JOIN tot GROUP BY 1""")),
    // CCNet buckets over the TRIGRAM scores — the same distributed exact
    // ntile (bucketsFromScores), fed by the backoff scorer
    Query("t_perplexity_buckets_tri", (s, d) => {
      // same shared-tokenize shape as t_lm_trigram (one corpus tokenize
      // feeds the even-slice trainer and the full-corpus scorer)
      val docs = tb(s, d, "documents")
      val toks = graft.CacheScope.persistIfScoped(
        graft.operators.NgramLm.tokenized(docs, "text", "doc_id"))
      graft.operators.NgramLm.bucketsFromScores(
        graft.operators.NgramLm.scoreTrigramFromToks(toks,
          graft.operators.NgramLm.trainTrigramFromToks(
            toks.filter(col("doc_id") % 2 === 0), "doc_id"),
          "doc_id"),
        "doc_id", "avg_logp", nBuckets = 3)
        .select(col("doc").as("doc_id"), col("score_x1e6"), col("bucket"))
    },
      // the trigram-score CTEs + the same floored-score exact-ntile SQL as
      // t_perplexity_buckets
      Timed("""WITH toks AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), tri AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2, tk[i+2] AS w3 FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM toks WHERE len(tk) >= 3)), ttk AS (SELECT tk FROM toks WHERE doc_id % 2 = 0), tg AS (SELECT w1, w2, w3, count(*) AS c FROM tri WHERE doc_id % 2 = 0 GROUP BY 1,2,3), bg AS (SELECT tk[i] AS w1, tk[i+1] AS w2, count(*) AS c FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM ttk WHERE len(tk) >= 2) GROUP BY 1,2), ug AS (SELECT w, count(*) AS c FROM (SELECT unnest(tk) AS w FROM ttk) GROUP BY 1), tot AS (SELECT sum(c) AS ntok, count(*) AS vsz FROM ug), sc AS (SELECT t.doc_id AS doc, CAST(floor((sum(ln(CASE WHEN coalesce(tg.c, 0) > 0 THEN tg.c / b12.c WHEN coalesce(b23.c, 0) > 0 THEN 0.4 * b23.c / u2.c ELSE 0.16 * (coalesce(u3.c, 0) + 1.0) / (tot.ntok + tot.vsz) END)) / count(*)) * 1000000.0) AS BIGINT) AS score_x1e6 FROM tri t LEFT JOIN tg ON t.w1 = tg.w1 AND t.w2 = tg.w2 AND t.w3 = tg.w3 LEFT JOIN bg b12 ON t.w1 = b12.w1 AND t.w2 = b12.w2 LEFT JOIN bg b23 ON t.w2 = b23.w1 AND t.w3 = b23.w2 LEFT JOIN ug u2 ON t.w2 = u2.w LEFT JOIN ug u3 ON t.w3 = u3.w CROSS JOIN tot GROUP BY 1), hist AS (SELECT score_x1e6, count(*) AS c FROM sc GROUP BY 1), cum AS (SELECT score_x1e6, coalesce(sum(c) OVER (ORDER BY score_x1e6 DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before FROM hist), tot2 AS (SELECT count(*) AS n FROM sc), r AS (SELECT doc, score_x1e6, row_number() OVER (PARTITION BY score_x1e6 ORDER BY doc) AS rr FROM sc) SELECT CAST(r.doc AS BIGINT) AS doc_id, r.score_x1e6, CAST((cum.before + rr - 1) * 3 // tot2.n + 1 AS BIGINT) AS bucket FROM r JOIN cum USING (score_x1e6) CROSS JOIN tot2""")),
    // inverted index rows; postings rendered "doc:tf doc:tf" (the driver's
    // compare can't hash array columns)
    Query("t_inverted_index", (s, d) =>
      TextOps.invertedIndex(tb(s, d, "documents"), "text", "doc_id")
        .select(col("term"), col("df"), col("total_tf"),
          array_join(transform(col("postings"),
            p => concat(p.getField("doc").cast("string"), lit(":"),
              p.getField("tf").cast("string"))), " ").as("postings")),
      Timed("""WITH tok AS (SELECT doc_id, unnest(list_transform(regexp_extract_all(text, '\S+'), t -> lower(t))) AS term FROM documents), tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2) SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS total_tf, string_agg(doc_id || ':' || tf, ' ' ORDER BY doc_id) AS postings FROM tf GROUP BY 1""")),
    // corpus-wide top-50 bigrams, exact (explode -> partial-agg -> top-k)
    Query("t_ngram_top", (s, d) =>
      graft.operators.Sketches.ngramTop(tb(s, d, "documents"), "text", n = 2, k = 50),
      Timed("""WITH tk AS (SELECT list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), bg AS (SELECT unnest(list_transform(generate_series(1, greatest(len(tk) - 1, 0)), i -> tk[i] || ' ' || tk[i+1])) AS ngram FROM tk) SELECT ngram, count(*) AS n FROM bg GROUP BY 1 ORDER BY n DESC, ngram LIMIT 50""")),
    // Misra-Gries heavy hitters in the exact regime (capacity >= the 31-token
    // vocabulary), so the sketch equals the true top-20 token counts
    Query("t_heavy_hitters", (s, d) =>
      graft.operators.Sketches.heavyHitters(tb(s, d, "documents"), "text",
        capacity = 256, k = 20),
      Timed("""WITH tok AS (SELECT unnest(list_transform(regexp_extract_all(text, '\S+'), t -> lower(t))) AS token FROM documents) SELECT token, count(*) AS n FROM tok GROUP BY 1 ORDER BY n DESC, token LIMIT 20""")),
    // production distributed BPE training (rows-only: the iterative
    // argmax+contract is not SQL-expressible); replay contract = sibling
    Query("t_bpe_merges", (s, d) =>
      graft.operators.BpeTrainer.train(tb(s, d, "documents"), "text", numMerges = 8),
      // BPE replay contract (VERDICT r4 #2): re-applying merges 0..i-1 to a
      // fresh word table must reproduce merge i's recorded pair_count exactly,
      // for all 8 learned merges. Violations frame provably empty, hash-gated.
      // (BpeTrainerSpec additionally pins the textbook merge sequence.)
      BenchOnly(Query("t_bpe_merges_contract", (s, d) => {
        val docs = tb(s, d, "documents")
        val learned = graft.operators.BpeTrainer.train(docs, "text", numMerges = 8)
          .collect() // bounded: ≤ numMerges rows by construction
          .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
          .sortBy(_._1).toSeq
        graft.operators.BpeTrainer.mergeCountViolations(docs, "text", learned)
      },
        Contract("SELECT CAST(0 AS INTEGER) AS merge_rank, CAST(0 AS BIGINT) AS expected, CAST(0 AS BIGINT) AS actual FROM documents WHERE 1 = 0")))),
    // trainer-equivalence contract (VERDICT r9 #1): the driver-side fast
    // trainer (one job + one bounded collect + incremental pair stats —
    // the production path for 30k-merge vocabularies) must learn a merge
    // table ROW-IDENTICAL to the distributed one-job-per-merge trainer.
    // Violations frame provably empty, hash-gated.
    Query("t_bpe_fast_contract", (s, d) =>
      graft.operators.BpeTrainer.fastTrainViolations(
        tb(s, d, "documents"), "text", numMerges = 8),
      Contract("SELECT '' AS src, CAST(0 AS INTEGER) AS merge_rank, '' AS lhs, '' AS rhs, CAST(0 AS BIGINT) AS pair_count FROM documents WHERE 1 = 0")),
    // BPE ENCODE — the tokenizer-application step (train → encode is the
    // full loop). Native min-rank expression, merges a per-dir trained
    // artifact (cached: production encodes with a persisted merge table).
    // The oracled face is the LOSSLESSNESS law: concatenating the emitted
    // symbols and turning each `</w>` boundary back into a space must
    // reconstruct the lowercased token stream exactly — a dropped, split,
    // or cross-word-merged symbol cannot hash-match
    Query("t_bpe_encode", (s, d) => {
      val docs = tb(s, d, "documents")
      val merges = bpeMerges(docs, d)
      graft.operators.BpeTrainer.encode(docs, "text", "doc_id", merges)
        .select(col("doc_id"),
          rtrim(regexp_replace(concat_ws("", col("syms")), "</w>", " "))
            .as("reconstructed"))
    },
      // the losslessness law: BPE symbols reconstruct the lowercased token
      // stream (</w> boundaries → spaces) — stated directly on the raw text
      Timed("""SELECT doc_id, array_to_string(list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)), ' ') AS reconstructed FROM documents""")),
    // encoder↔fold agreement contract: the native min-rank encoder's
    // per-document symbol count must equal bpeTokenCount's rank-order
    // column fold (two independent implementations of "apply the learned
    // merges"); violations frame provably empty, hash-gated
    Query("t_bpe_encode_contract", (s, d) => {
      val docs = tb(s, d, "documents")
      val merges = bpeMerges(docs, d)
      graft.operators.BpeTrainer.encodeCountViolations(docs, "text", "doc_id", merges)
    },
      Contract("SELECT doc_id, CAST(0 AS BIGINT) AS n_enc, CAST(0 AS BIGINT) AS n_bpe_tokens FROM documents WHERE 1 = 0")),
    // count-min sketch one-sided contract: the sketch must never
    // UNDER-estimate a count; the frame of violations is empty and the gate
    // hash-checks the emptiness (width 256 << 2000 distinct parts, so
    // collisions — and overcounts — definitely occur; none may undercount)
    Query("t_cms_bound", (s, d) =>
      graft.operators.Sketches.cmsBoundViolations(
        t(s, d, "lineitem"), col("l_partkey"), depth = 5, width = 256),
      // one-sided sketch contracts: the violation frames are provably empty,
      // and emptiness is exactly what the oracle states
      Timed("SELECT CAST(l_partkey AS VARCHAR) AS item, CAST(0 AS BIGINT) AS est, CAST(0 AS BIGINT) AS exact_n FROM lineitem WHERE 1 = 0")),
    // CMS mergeability contract: folding per-part sketches (here lineitem
    // split by orderkey parity — the daily-batch shape) must estimate
    // identically to sketching the whole; exact because bucket counts are
    // linear. The violations frame is provably empty
    Query("t_cms_merge", (s, d) => {
      val li = t(s, d, "lineitem")
      graft.operators.Sketches.cmsMergeViolations(
        Seq(li.filter(pmod(col("l_orderkey"), lit(2)) === 0),
          li.filter(pmod(col("l_orderkey"), lit(2)) =!= 0)),
        col("l_partkey"), depth = 5, width = 256)
    },
      Timed("SELECT CAST(l_partkey AS VARCHAR) AS item, CAST(0 AS BIGINT) AS est_merged, CAST(0 AS BIGINT) AS est_full FROM lineitem WHERE 1 = 0")),
    // percentile_approx rank-error contract: each answered quantile must sit
    // within the sketch's guaranteed rank window; violations frame is empty
    Query("a13_quantile_bound", (s, d) =>
      graft.operators.Sketches.quantileBoundViolations(
        t(s, d, "lineitem"), col("l_extendedprice"),
        qs = Seq(0.5, 0.9, 0.99), accuracy = 100),
      Timed("SELECT 0.0 AS q, CAST(0 AS BIGINT) AS n_below, CAST(0 AS BIGINT) AS n FROM lineitem WHERE 1 = 0")),
    // corrupt-embedding screen: every 100th vector is re-scaled 10× (the
    // classic double-normalization bug) — the z-gate must flag exactly the
    // planted set, with a wide margin (planted z ≈ 10 vs natural max ≈ 4.7
    // at threshold 6), so membership is hash-stable across engines
    Query("s_embed_outliers", (s, d) => {
      val emb = tb(s, d, "embeddings")
        .withColumn("embedding",
          when(pmod(col("vec_id"), lit(100)) === 0,
            transform(col("embedding"), v => v * 10.0f))
            .otherwise(col("embedding")))
      Similarity.embeddingOutlierIds(emb, "embedding", "vec_id", zThreshold = 6.0)
    },
      // same corruption + z-gate replayed; membership has a ≥5σ margin so
      // engine fp differences in mean/σ can never flip it
      Timed("WITH e AS (SELECT vec_id, CASE WHEN vec_id % 100 = 0 THEN list_transform(embedding, v -> v * 10.0) ELSE embedding END AS emb FROM embeddings), el AS (SELECT vec_id, i - 1 AS d, CAST(emb[i] AS DOUBLE) AS v FROM e, unnest(generate_series(1, len(emb))) AS t(i)), st AS (SELECT d, avg(v) AS m, stddev_samp(v) AS s FROM el GROUP BY 1 HAVING stddev_samp(v) > 0) SELECT vec_id FROM el JOIN st USING (d) GROUP BY vec_id HAVING max(abs((v - m) / s)) > 6.0")),
    // theta-sketch slice intersections: the set-operation face of the
    // sketch layer — "distinct users in slice A AND B" from MB summaries,
    // which HLL structurally cannot answer. Contract: every pairwise
    // intersection estimate brackets the exact overlap within its own 3σ
    // bounds, emitted as a provably-empty violations frame
    Query("a18_theta_intersect", (s, d) =>
      graft.operators.ThetaSketches.thetaIntersectViolations(
        t(s, d, "events"), col("event_type"), col("user_id")),
      Timed("SELECT '' AS slice_a, '' AS slice_b, CAST(0 AS BIGINT) AS exact_n, 0.0 AS lb, 0.0 AS ub FROM events WHERE 1 = 0")),
    // exact-integer rank normalization: the uniform-margin feature map,
    // aggregated here to per-group decile mass so the output is compact
    // while every underlying pr value still feeds the hash
    Query("a16_rank_norm", (s, d) =>
      graft.operators.Quality.rankNormalize(
          t(s, d, "lineitem"), "l_extendedprice", Seq("l_returnflag"))
        .groupBy(col("l_returnflag"),
          expr("CAST(pr_x1e9 DIV 100000000 AS BIGINT)").as("decile"))
        .agg(count(lit(1)).as("n"),
          sum(col("pr_x1e9")).as("pr_sum")),
      Timed("WITH r AS (SELECT l_returnflag, CASE WHEN n = 1 THEN 0 ELSE (rk - 1) * 1000000000 // (n - 1) END AS pr FROM (SELECT l_returnflag, rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rk, count(*) OVER (PARTITION BY l_returnflag) AS n FROM lineitem)) SELECT l_returnflag, CAST(pr // 100000000 AS BIGINT) AS decile, count(*) AS n, CAST(sum(pr) AS BIGINT) AS pr_sum FROM r GROUP BY 1, 2")),
    // fixed-bin price histogram (under/overflow buckets included)
    Query("a17_histogram", (s, d) =>
      graft.operators.Quality.histogram(
        t(s, d, "lineitem"), "l_extendedprice", Seq("l_returnflag"),
        lo = 20000.0, hi = 80000.0, nBins = 20),
      // in-range buckets clamped to nBins-1, mirroring the operator's
      // float-edge guard (a value marginally below hi must not float-round
      // into the overflow bucket)
      Timed("SELECT l_returnflag, CAST(CASE WHEN l_extendedprice < 20000.0 THEN -1 WHEN l_extendedprice >= 80000.0 THEN 20 ELSE least(floor((l_extendedprice - 20000.0) / 3000.0), 19) END AS INTEGER) AS bucket, count(*) AS n FROM lineitem GROUP BY 1, 2")),
    // winsorized robust stats: per-group [p05, p95] clamp of a heavy-tailed
    // numeric, then the clamp-count/mean profile. Bounds ride the exact
    // percentile ↔ quantile_cont parity the a10 oracle already pins; the
    // bounds frame is one row per group and broadcasts, so the fact side
    // never reshuffles for the join back
    Query("a15_winsorize", (s, d) => {
      val w = graft.operators.Quality.winsorize(
        t(s, d, "lineitem"), "l_extendedprice", Seq("l_returnflag"),
        pLo = 0.05, pHi = 0.95)
      w.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L)).as("n_clamped_lo"),
        sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L)).as("n_clamped_hi"),
        round(avg(col("w_value")) * 100).cast("long").as("w_mean_x100"))
    },
      Timed("WITH b AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.05) AS lo, quantile_cont(l_extendedprice, 0.95) AS hi FROM lineitem GROUP BY 1) SELECT l.l_returnflag, count(*) AS n, CAST(sum(CASE WHEN l.l_extendedprice < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo, CAST(sum(CASE WHEN l.l_extendedprice > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi, CAST(round(avg(least(greatest(l.l_extendedprice, b.lo), b.hi)) * 100) AS BIGINT) AS w_mean_x100 FROM lineitem l JOIN b USING (l_returnflag) GROUP BY 1")),
    // join-cardinality guardrail: the CMS-inner-product estimate of
    // |orders ⋈ lineitem| from two MB-scale sketch tables must never sit
    // below the exact join size (one-sided bound lifted to inner products)
    // — provably-empty violations frame under the hash gate
    Query("j13_join_card", (s, d) =>
      graft.operators.Sketches.cmsJoinCardinalityViolations(
        t(s, d, "orders"), t(s, d, "lineitem"),
        col("o_orderkey"), col("l_orderkey"), depth = 5, width = 1024),
      // CMS join-cardinality bound: provably-empty violations frame
      Timed("SELECT CAST(0 AS BIGINT) AS est_join_rows, CAST(0 AS BIGINT) AS exact_join_rows FROM orders WHERE 1 = 0")),
    // per-day HLL sketch table over events (DataSketches binary sketches,
    // one MB-scale row per slice): any cross-slice distinct-users question
    // becomes an algebra over sketch rows — never a corpus re-scan. The
    // estimates are DataSketches-specific → rows-only; the mergeability +
    // error-bound contract is the _contract sibling
    Query("a14_hll_slices", (s, d) =>
      graft.operators.Sketches.hllSliceSketches(
          t(s, d, "events"), date_trunc("day", col("ts")), col("user_id"))
        .select(col("slice"), hll_sketch_estimate(col("hll")).as("approx_users"),
          col("n_rows")),
      BenchOnly(Query("a14_hll_slices_contract", (s, d) =>
        // union-of-slice-sketches estimate must sit within 5% (≈3σ at lgK=12)
        // of the exact global distinct-user count — provably-empty violations
        // frame under the hash gate; deterministic over a fixed dataset
        graft.operators.Sketches.hllSliceBoundViolations(
          t(s, d, "events"), date_trunc("day", col("ts")), col("user_id")),
        // HLL mergeability contract: provably-empty violations frame
        Contract("SELECT CAST(0 AS BIGINT) AS approx_distinct, CAST(0 AS BIGINT) AS exact_distinct FROM events WHERE 1 = 0")))),
    // C4-style span dedup: 8-token spans, first corpus occurrence wins,
    // documents reassembled from surviving spans
    Query("t_span_dedup", (s, d) =>
      Curation.dropDuplicateSpans(tb(s, d, "documents"), "text", "doc_id", spanTokens = 8),
      Timed("""WITH toks AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), spans AS (SELECT doc_id, i - 1 AS span_idx, array_to_string(tk[(i-1)*8+1 : least(i*8, len(tk))], ' ') AS span_text FROM (SELECT doc_id, tk, unnest(generate_series(1, CAST(ceil(len(tk) / 8.0) AS BIGINT))) AS i FROM toks WHERE len(tk) > 0)), kept AS (SELECT doc_id, span_idx, span_text, row_number() OVER (PARTITION BY span_text ORDER BY doc_id, span_idx) AS rn FROM spans) SELECT d.doc_id, COALESCE(k.t, '') AS text_deduped FROM documents d LEFT JOIN (SELECT doc_id, string_agg(span_text, ' ' ORDER BY span_idx) AS t FROM kept WHERE rn = 1 GROUP BY 1) k ON d.doc_id = k.doc_id""")),
    // sliding-window chunking (32-token chunks, stride 24 → 8-token overlap)
    Query("t_chunks", (s, d) =>
      Curation.chunkDocuments(tb(s, d, "documents"), "text", "doc_id",
        chunkTokens = 32, strideTokens = 24),
      Timed("""WITH toks AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), base AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS nt FROM toks WHERE len(tk) > 0), idx AS (SELECT doc_id, tk, nt, unnest(generate_series(0, CASE WHEN nt > 32 THEN (nt - 32 + 24 - 1) // 24 ELSE 0 END)) AS chunk_idx FROM base) SELECT doc_id, chunk_idx, chunk_idx * 24 AS tok_from, least(32, nt - chunk_idx * 24) AS n_take, array_to_string(tk[chunk_idx * 24 + 1 : chunk_idx * 24 + least(32, nt - chunk_idx * 24)], ' ') AS chunk_text FROM idx""")),
    // deterministic 1-in-20 hash sample: stable across runs / partitionings
    // / engines (the oracle recomputes the identical portable mixer)
    Query("t_hash_sample", (s, d) =>
      Curation.hashSample(tb(s, d, "documents"), "doc_id", numer = 1, denom = 20)
        .select(col("doc_id"), col("lang"), col("source")),
      Timed("SELECT doc_id, lang, source FROM documents WHERE ((((doc_id % 1000003) * 2654435761) % 1000003) % 20) < 1")),
    // per-language quota: ≤ 50 docs per lang, hash-ordered stable choice
    Query("t_quota_sample", (s, d) =>
      Curation.quotaSample(tb(s, d, "documents"), "lang", "doc_id", quota = 50)
        .select(col("doc_id"), col("lang")),
      Timed("SELECT doc_id, lang FROM (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY (((doc_id % 1000003) * 2654435761) % 1000003), doc_id) AS rn FROM documents) WHERE rn <= 50")),
    // per-domain cap (the Common-Crawl anti-spam shape: no single host may
    // dominate the corpus) — same stratified-quota machinery keyed on source
    Query("t_domain_cap", (s, d) =>
      Curation.quotaSample(tb(s, d, "documents"), "source", "doc_id", quota = 10)
        .select(col("doc_id"), col("source")),
      Timed("SELECT doc_id, source FROM (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY (((doc_id % 1000003) * 2654435761) % 1000003), doc_id) AS rn FROM documents) WHERE rn <= 10")),
    // training-mix rates: 1-in-4 of en, all of de/es/fr, zh unlisted → dropped
    Query("t_mixture", (s, d) =>
      Curation.mixtureSample(tb(s, d, "documents"), "lang", "doc_id",
        Map("en" -> (1, 4), "de" -> (1, 1), "es" -> (1, 1), "fr" -> (1, 1)))
        .select(col("doc_id"), col("lang")),
      Timed("""WITH r AS (SELECT * FROM (VALUES ('en', 1, 4), ('de', 1, 1), ('es', 1, 1), ('fr', 1, 1)) AS t(lang, numer, denom)) SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang WHERE ((((d.doc_id % 1000003) * 2654435761) % 1000003) % denom) < numer""")),
    // temperature-rebalanced mix (α = 1/2): per-language quotas ∝ ⌊√n⌋,
    // integer-exact end-to-end (IEEE sqrt is correctly rounded, everything
    // after is BIGINT math), selection = the deterministic hash prefix —
    // the XLM-R-style head-flattening sampler, fully engine-replayable
    Query("t_temperature_mix", (s, d) =>
      Curation.temperatureSample(tb(s, d, "documents"), "lang", "doc_id",
        totalBudget = 250L)
        .select(col("doc_id"), col("lang")),
      // ⌊√n⌋ weights, exact integer quota division + largest-remainder
      // redistribution (Σ quota = budget exactly), same portable-hash rank
      Timed("""WITH sz AS (SELECT lang, CAST(floor(sqrt(count(*))) AS BIGINT) AS w FROM documents GROUP BY 1), q0 AS (SELECT lang, CAST((w * 250) // (SELECT sum(w) FROM sz) AS BIGINT) AS q0, CAST((w * 250) % (SELECT sum(w) FROM sz) AS BIGINT) AS rem FROM sz), q AS (SELECT lang, q0 + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang ASC) <= 250 - (SELECT sum(q0) FROM q0) THEN 1 ELSE 0 END AS quota FROM q0), r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id) AS rn FROM documents) SELECT r.doc_id, r.lang FROM r JOIN q ON r.lang = q.lang WHERE r.rn <= q.quota""")),
    // DSIR importance weights (target domain = the en slice): bag-of-
    // (uni+bi)gram log-likelihood ratio between target and raw models,
    // add-one smoothed over the union vocabulary. Exact string-keyed face
    Query("t_dsir_weights", (s, d) => {
      val docs = tb(s, d, "documents")
      Curation.dsirWeights(docs, docs.filter(col("lang") === "en"),
        "text", "doc_id")
        .select(col("doc").as("doc_id"), col("n_feats"), col("weight"))
    },
      // DSIR semantics straight from feature strings: bag of unigrams ∪
      // bigrams, add-one-smoothed union-vocab LLR, summed per doc
      Timed("""WITH tk AS (SELECT doc_id, lang, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), fr AS (SELECT doc_id, unnest(tk) AS f FROM tk UNION ALL SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk)-1,0)), i -> tk[i] || ' ' || tk[i+1])) AS f FROM tk), ft AS (SELECT fr.doc_id, fr.f FROM fr JOIN tk ON fr.doc_id = tk.doc_id AND tk.lang = 'en'), cr AS (SELECT f, count(*) AS c FROM fr GROUP BY 1), ct AS (SELECT f, count(*) AS c FROM ft GROUP BY 1), m AS (SELECT coalesce(cr.f, ct.f) AS f, coalesce(cr.c, 0) AS cr, coalesce(ct.c, 0) AS ct FROM cr FULL JOIN ct ON cr.f = ct.f), tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS vsz FROM m), r AS (SELECT f, ln((ct + 1.0)/(nt + vsz)) - ln((cr + 1.0)/(nr + vsz)) AS w FROM m, tot) SELECT CAST(fr.doc_id AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS n_feats, sum(r.w) AS weight FROM fr JOIN r USING (f) GROUP BY 1""")),
    // the paper's (and the 100 TB) configuration: features hashed into a
    // FIXED bucket space so the model table is corpus-size-independent
    // (occupied buckets only, so the space being large is free). Shares
    // the exact face's oracle — valid because 2^30 buckets are collision-
    // free for this corpus' 947-feature vocabulary (2^20 was a coin flip:
    // 947²/2²¹ ≈ 0.43, and it collided), pinned by CurationSpec
    Query("t_dsir_hashed", (s, d) => {
      val docs = tb(s, d, "documents")
      Curation.dsirWeights(docs, docs.filter(col("lang") === "en"),
        "text", "doc_id", buckets = 1L << 30)
        .select(col("doc").as("doc_id"), col("n_feats"), col("weight"))
    },
      // hashed-bucket face ≡ exact face here: 2^30 buckets are collision-
      // free for this corpus' 947-feature vocabulary (CurationSpec pins
      // zero observed collisions), so it shares the string-semantics oracle
      Timed("""WITH tk AS (SELECT doc_id, lang, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), fr AS (SELECT doc_id, unnest(tk) AS f FROM tk UNION ALL SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk)-1,0)), i -> tk[i] || ' ' || tk[i+1])) AS f FROM tk), ft AS (SELECT fr.doc_id, fr.f FROM fr JOIN tk ON fr.doc_id = tk.doc_id AND tk.lang = 'en'), cr AS (SELECT f, count(*) AS c FROM fr GROUP BY 1), ct AS (SELECT f, count(*) AS c FROM ft GROUP BY 1), m AS (SELECT coalesce(cr.f, ct.f) AS f, coalesce(cr.c, 0) AS cr, coalesce(ct.c, 0) AS ct FROM cr FULL JOIN ct ON cr.f = ct.f), tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS vsz FROM m), r AS (SELECT f, ln((ct + 1.0)/(nt + vsz)) - ln((cr + 1.0)/(nr + vsz)) AS w FROM m, tot) SELECT CAST(fr.doc_id AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS n_feats, sum(r.w) AS weight FROM fr JOIN r USING (f) GROUP BY 1""")),
    // the selection face: Gumbel top-k = sample 50 docs without
    // replacement ∝ exp(weight); the noise is the portable hash through
    // the inverse CDF, so the whole draw replays in DuckDB
    Query("t_dsir_sample", (s, d) => {
      val docs = tb(s, d, "documents")
      Curation.dsirResample(docs, docs.filter(col("lang") === "en"),
        "text", "doc_id", k = 50)
        .select(col("doc").as("doc_id"))
    },
      // Gumbel top-50: weight + (−ln(−ln(u))) with u from the portable hash
      Timed("""WITH tk AS (SELECT doc_id, lang, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), fr AS (SELECT doc_id, unnest(tk) AS f FROM tk UNION ALL SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk)-1,0)), i -> tk[i] || ' ' || tk[i+1])) AS f FROM tk), ft AS (SELECT fr.doc_id, fr.f FROM fr JOIN tk ON fr.doc_id = tk.doc_id AND tk.lang = 'en'), cr AS (SELECT f, count(*) AS c FROM fr GROUP BY 1), ct AS (SELECT f, count(*) AS c FROM ft GROUP BY 1), m AS (SELECT coalesce(cr.f, ct.f) AS f, coalesce(cr.c, 0) AS cr, coalesce(ct.c, 0) AS ct FROM cr FULL JOIN ct ON cr.f = ct.f), tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS vsz FROM m), r AS (SELECT f, ln((ct + 1.0)/(nt + vsz)) - ln((cr + 1.0)/(nr + vsz)) AS w FROM m, tot), wts AS (SELECT fr.doc_id AS doc_id, sum(r.w) AS weight FROM fr JOIN r USING (f) GROUP BY 1) SELECT CAST(doc_id AS BIGINT) AS doc_id FROM (SELECT doc_id, weight + (-ln(-ln((((doc_id % 1000003) * 2654435761) % 1000003 + 0.5)/1000003.0))) AS priority FROM wts) ORDER BY priority DESC, doc_id LIMIT 50""")),
    // token-weighted mix cap: ≤ 2000 tokens per language, hash-ordered
    Query("t_token_budget", (s, d) =>
      Curation.tokenBudgetCap(tb(s, d, "documents"), "lang", "doc_id",
        TextOps.tokenCount(col("text")), budget = 2000L)
        .select(col("doc_id"), col("lang")),
      Timed("""SELECT doc_id, lang FROM (SELECT doc_id, lang, sum(nt) OVER (PARTITION BY lang ORDER BY (((doc_id % 1000003) * 2654435761) % 1000003), doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM (SELECT doc_id, lang, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS nt FROM documents)) WHERE cum <= 2000""")),
    // the curation pass end-to-end AS ONE PLAN: quality gate → exact dedup
    // (lowest id per digest) → per-language quota — the composition a real
    // corpus build runs, demonstrating the operators chain without
    // materialization between stages
    Query("t_curation_pipeline", (s, d) => {
      val sig = TextOps.qualitySignals(col("text"))
      val quality = tb(s, d, "documents")
        .filter(sig("low_quality") === 0L)
      Curation.quotaSample(
        Dedup.dropExactDuplicates(quality, "text", "doc_id"),
        "lang", "doc_id", quota = 40)
        .select(col("doc_id"), col("lang"))
    },
      Timed("""WITH q AS (SELECT doc_id, lang, text FROM documents WHERE len(regexp_extract_all(text, '\S+')) >= 5 AND length(text) >= 20), d AS (SELECT doc_id, lang FROM (SELECT doc_id, lang, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM q) WHERE rn = 1) SELECT doc_id, lang FROM (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY (((doc_id % 1000003) * 2654435761) % 1000003), doc_id) AS rn2 FROM d) WHERE rn2 <= 40""")),
    // deterministic corpus shuffle: reproducible pseudo-random total order
    // via the portable mixer, two-level (bucket ranks + prefix-summed
    // offsets) so no global sort ever materializes
    Query("t_shuffle_order", (s, d) =>
      Curation.shuffleOrder(tb(s, d, "documents"), "doc_id")
        .select(col("doc_id"), col("shuffle_pos")),
      Timed("SELECT doc_id, CAST(row_number() OVER (ORDER BY mix % 1024, mix, doc_id) - 1 AS BIGINT) AS shuffle_pos FROM (SELECT doc_id, (((doc_id % 1000003) * 2654435761) % 1000003) AS mix FROM documents)")),
    // balanced contiguous-range shards over the shuffled order — the
    // training-loader layout (shard sizes differ by ≤1, assignment is a
    // pure expression of (pos, n))
    Query("t_shards", (s, d) =>
      Curation.shardAssignments(tb(s, d, "documents"), "doc_id", numShards = 8)
        .select(col("doc_id"), col("shuffle_pos"), col("shard")),
      Timed("WITH o AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY mix % 1024, mix, doc_id) - 1 AS BIGINT) AS shuffle_pos FROM (SELECT doc_id, (((doc_id % 1000003) * 2654435761) % 1000003) AS mix FROM documents)), nn AS (SELECT count(*) AS n FROM documents) SELECT doc_id, shuffle_pos, CAST((shuffle_pos * 8) // nn.n AS BIGINT) AS shard FROM o, nn")),
    // vocabulary coverage: per-doc out-of-vocabulary rate against the
    // corpus' own top-20 tokens (integer thousandths — engine-exact)
    Query("t_oov_rate", (s, d) =>
      TextOps.oovRate(tb(s, d, "documents"), "text", "doc_id",
        vocabSize = 20, reuseTokens = true),
      Timed("""WITH tok AS (SELECT doc_id, unnest(list_transform(regexp_extract_all(text, '\S+'), t -> lower(t))) AS tok FROM documents), vocab AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM tok GROUP BY 1 ORDER BY n DESC, tok ASC LIMIT 20)), pd AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov FROM tok t LEFT JOIN vocab v ON t.tok = v.tok GROUP BY 1) SELECT d.doc_id, COALESCE(pd.n_tokens, CAST(0 AS BIGINT)) AS n_tokens, COALESCE(pd.n_oov, CAST(0 AS BIGINT)) AS n_oov, CAST(CASE WHEN COALESCE(pd.n_tokens, 0) > 0 THEN (pd.n_oov * 1000) // pd.n_tokens ELSE 0 END AS BIGINT) AS oov_x1000 FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""")),
    // per-vector int8 scalar quantization (the ANN memory/IO lever);
    // binary64-staged arithmetic → codes are engine-replayable
    Query("s_quantize_int8", (s, d) =>
      Similarity.quantizeInt8(tb(s, d, "embeddings"), "embedding", "vec_id")
        .select(col("vec_id"), col("vmin"), col("vmax"),
          array_join(transform(col("qvec"), q => q.cast("string")), " ").as("qcodes")),
      Timed("SELECT vec_id, vmin, vmax, array_to_string(CASE WHEN vmax > vmin THEN list_transform(dv, x -> CAST(least(255, floor((x - vmin) * 255.0 / (vmax - vmin))) AS INTEGER)) ELSE list_transform(dv, x -> 0) END, ' ') AS qcodes FROM (SELECT vec_id, dv, list_min(dv) AS vmin, list_max(dv) AS vmax FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv FROM embeddings))")),
    // quantize→dequantize round-trip contract: every element reconstructs
    // within half a bucket width; the violations frame is provably empty
    Query("s_quantize_bound", (s, d) =>
      Similarity.quantizationBoundViolations(tb(s, d, "embeddings"), "embedding", "vec_id"),
      Timed("SELECT CAST(0 AS BIGINT) AS vec_id, 0.0 AS max_err, 0.0 AS bound FROM embeddings WHERE 1 = 0")),
    // benchmark-contamination screen: docs (id % 50 != 0) sharing a word
    // 3-gram with the benchmark slice (id % 50 == 0), with overlap counts
    Query("t_contamination", (s, d) => {
      val docs = tb(s, d, "documents")
      Curation.contamination(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        "text", "doc_id", n = 3)
    },
      Timed("""WITH sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3), bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0), corpus AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 50 != 0) SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hit FROM corpus c JOIN bench b ON c.g = b.g GROUP BY 1""")),
    // the too-big-to-broadcast decontamination shape: a Bloom over the
    // benchmark's shingle hashes prunes corpus shingles pre-shuffle; no
    // false negatives → shares t_contamination's exact oracle
    Query("t_contamination_bloom", (s, d) => {
      val docs = tb(s, d, "documents")
      Curation.contaminationBloom(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        "text", "doc_id", n = 3, expectedItems = 300000L, fpp = 0.01)
    },
      // the Bloom gate is a pre-shuffle reduction, not an approximation —
      // identical oracle to t_contamination
      Timed("""WITH sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3), bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0), corpus AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 50 != 0) SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hit FROM corpus c JOIN bench b ON c.g = b.g GROUP BY 1""")),
    // FUZZY decontamination: corpus docs whose word-3-gram Jaccard vs ANY
    // benchmark doc reaches 1/2 — the near-duplicate completion of the
    // exact screens above (a paraphrased/re-wrapped benchmark item has no
    // long exact n-gram run but high set similarity). Cross-frame MinHash
    // LSH at 32×2 bands (the recall-1.0 regime the d_jaccard_lsh ≡ brute
    // gate pins), candidates verified with exact integer set math — the
    // brute-force cross-join oracle must match pair-for-pair
    Query("t_contamination_fuzzy", (s, d) => {
      val docs = tb(s, d, "documents")
      Curation.contaminationFuzzy(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        "text", "doc_id", shingleSize = 3, numer = 1, denom = 2,
        bands = 32, rowsPerBand = 2)
    },
      // cross-frame brute force: every (corpus, benchmark) pair at J ≥ 1/2,
      // exact integer sizes — recall 1.0 of the 32×2 banding makes the LSH
      // path's output identical
      Timed("""WITH s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3) SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, CAST(len(list_intersect(c.sh, b.sh)) AS BIGINT) AS inter_sz, CAST(len(c.sh) + len(b.sh) - len(list_intersect(c.sh, b.sh)) AS BIGINT) AS union_sz FROM s c JOIN s b ON c.doc_id % 50 != 0 AND b.doc_id % 50 = 0 WHERE len(list_intersect(c.sh, b.sh)) * 2 >= (len(c.sh) + len(b.sh) - len(list_intersect(c.sh, b.sh))) * 1"""))
  )
}
