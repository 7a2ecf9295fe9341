package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sparse lexical similarity search: top-k nearest documents by tf-idf
  * cosine, computed through an inverted-index (posting-list) join instead
  * of a dense pairwise scan.
  *
  * This is the classic IR counterpart of the embedding ANN family in
  * [[Similarity]]: where embeddings need LSH/IVF to escape n², sparse
  * vectors escape it structurally — two documents have nonzero dot
  * product ONLY if they share a term, so candidate pairs are generated by
  * an equi-join of the posting lists on term, shuffle-partitioned by
  * term. Join work is Σ_term df², so the whole cost profile is governed
  * by the document-frequency cap:
  *
  *  - `maxDf` drops stop-grams (the quadratic head of the df
  *    distribution: one term with df = 1M alone contributes 10¹² pairs
  *    at 100 TB). Dropping them is standard IR practice (they carry ~no
  *    idf weight anyway) and turns the join from quadratic-in-corpus to
  *    linear-in-corpus with a bounded per-term fan-out.
  *  - `minDf` = 2 drops singleton terms outright — they cannot produce a
  *    pair, so carrying them is pure shuffle weight.
  *
  * The cap must TRACK the corpus (e.g. 0.1% of |docs|): a fixed absolute
  * cap quietly re-admits the quadratic head as the corpus grows — at the
  * 20× stress scale an unscaled cap of 500 let surviving df's crowd the
  * cap and the dot-product stage paid ~10⁹ pair-rows (measured; the
  * stress op now derives the cap from the corpus count).
  *
  * Weights are INTEGERIZED — w = tf · (10⁶ div df) — so every dot
  * product is an exact BIGINT sum (order-independent, overflow-checked:
  * w ≤ 10⁶·tf, so wa·wb·|shared terms| stays far under 2⁶³ for any
  * realistic tf). The only floating point is the final
  * `dot·10⁶ / (‖a‖·‖b‖)` with a fixed operand order, which makes the
  * whole result — including the similarity column — reproducible to the
  * bit across engines (the DuckDB oracle hash-matches it), and the final
  * rank is computed on the ROUNDED integer similarity with a doc-id
  * tie-break, so top-k membership is deterministic too.
  */
object SparseSim {

  /** (doc_id, term) with multiplicity: word n-grams of the lowercased
    * whitespace tokenization. Documents shorter than n tokens emit none.
    */
  def ngramTerms(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    require(n >= 1)
    // stage tokens through a select: the token array feeds size() and the
    // per-gram transform — inlining would re-run the regexp per reference
    docs.select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("tk")) - n),
          i => concat_ws(" ", slice(col("tk"), i + 1, lit(n))))).as("term"))
  }

  /** Top-k most-similar documents per document by integerized tf-idf
    * cosine over word `n`-grams. Output: (a_id, b_id, cos_x1e6, rank),
    * rank 1..k per a_id, both directions of each pair present.
    */
  def topKNeighbors(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minDf: Long = 2L, maxDf: Long = 500L, k: Int = 5): DataFrame = {
    val tf = graft.CacheScope.persist(
      ngramTerms(docs, textCol, idCol, n)
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")))
    val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    // integer weight: tf · (10⁶ div df) — exact, engine-agnostic
    val w = graft.CacheScope.persist(
      tf.join(dfr, "term")
        .select(col("doc_id"), col("term"),
          (col("tf") * expr("CAST(1000000 DIV df AS BIGINT)")).as("w")))
    val nrm = w.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w") * col("w")).cast("double")).as("nrm"))
    val a = w.select(col("doc_id").as("a_id"), col("term"), col("w").as("wa"))
    val b = w.select(col("doc_id").as("b_id"), col("term"), col("w").as("wb"))
    // aggregate ALL ORDERED pairs directly instead of halving with
    // a_id < b_id and symmetrizing with a self-union afterwards: the
    // union's two legs do not canonicalize to one exchange, so the pair
    // aggregation — the query's dominant shuffle — ran TWICE (same total
    // aggregation input: two N-row passes vs one 2N-row pass, map-side
    // combined either way), plus a second result exchange. Exact integer
    // dot products make the two orientations' sums bit-identical however
    // the terms arrive.
    val sym = a.join(b, Seq("term"))
      .filter(col("a_id") =!= col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    val cos = sym
      .join(nrm.select(col("doc_id").as("a_id"), col("nrm").as("na")), Seq("a_id"))
      .join(nrm.select(col("doc_id").as("b_id"), col("nrm").as("nb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(col("dot") * lit(1e6) / (col("na") * col("nb"))).cast("long").as("cos_x1e6"))
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("a_id").orderBy(col("cos_x1e6").desc, col("b_id").asc)
    cos.withColumn("rank", row_number().over(win)).filter(col("rank") <= k)
  }

  /** BM25 retrieval: top-`k` corpus documents per query under Okapi BM25
    * (Robertson/Spärck Jones):
    *
    *   score(q, d) = Σ_{t ∈ distinct(q)} ln((N − df + 0.5)/(df + 0.5) + 1)
    *                 · tf·(k1 + 1) / (tf + k1·(1 − b + b·len(d)/avgdl))
    *
    * — the standard ranking function benchmark-retrieval and hard-negative
    * mining pipelines run against a training corpus. Per-(query, doc,
    * term) contributions are computed ROW-WISE with a fixed operand order
    * (deterministic doubles), the per-pair sum is ranked and EMITTED on
    * its ×10⁶-floored integer with a doc-id tie-break, so top-k membership
    * replays across engines (the same discipline as [[topKNeighbors]]).
    *
    * Scale shape: one (doc, term) tf agg and one df agg (both map-side
    * combined), the query term set BROADCAST into the posting join (query
    * batches are tiny next to the corpus), candidate rows = Σ_{t∈queries}
    * df(t) — `maxDf` caps the stop-word head exactly like the cosine path
    * (idf already ≈ 0 there; at web scale an uncapped stop word alone
    * joins the whole corpus per query). One #candidates shuffle into the
    * per-(query, doc) sum, one k-bounded window per query.
    */
  def bm25TopK(
      corpus: DataFrame, queries: DataFrame,
      textCol: String, idCol: String, qTextCol: String, qIdCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxDf: Long = Long.MaxValue): DataFrame = {
    require(k > 0 && k1 > 0 && b >= 0 && b <= 1 && maxDf > 0)
    val toks = corpus.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("tk"))
    val lens = toks.select(col("doc_id"), size(col("tk")).cast("long").as("dl"))
      .filter(col("dl") > 0)
    val tf = toks.select(col("doc_id"), explode(col("tk")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    // scalars: N docs + average doc length, one broadcast row
    val stats = lens.agg(count(lit(1)).cast("double").as("n"),
      avg(col("dl")).as("avgdl"))
    val qTerms = queries
      .select(col(qIdCol).as("query_id"), explode(TextOps.tokens(col(qTextCol))).as("term"))
      .distinct()
    val cand = tf.join(broadcast(qTerms), Seq("term"))
      .join(dfr, Seq("term"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        bm25Contrib(col("tf"), col("df"), col("dl"), col("n"), col("avgdl"), k1, b)
          .as("contrib"))
    rankBm25(cand, k)
  }

  /** The Okapi contribution of one (query, doc, term) row — ONE shared
    * expression for the recompute ([[bm25TopK]]) and index
    * ([[bm25TopKFromIndex]]) paths, with a fixed operand order so both
    * produce bit-identical doubles.
    */
  private def bm25Contrib(
      tf: Column, df: Column, dl: Column, n: Column, avgdl: Column,
      k1: Double, b: Double): Column =
    log((n - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0)) *
      (tf * lit(k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / avgdl))

  /** Shared tail of both BM25 paths: integerize the per-pair score, rank
    * with a doc-id tie-break, keep top `k`.
    */
  private def rankBm25(cand: DataFrame, k: Int): DataFrame = {
    val scored = cand.groupBy(col("query_id"), col("doc_id"))
      .agg(floor(sum(col("contrib")) * lit(1000000.0)).cast("long").as("score_x1e6"))
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col("query_id"))
      .orderBy(col("score_x1e6").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= k)
  }

  // -------------------------------------------------------------------
  // persisted BM25 index: the fifth family on the generation log
  // -------------------------------------------------------------------

  /** The persisted text-retrieval index — [[bm25TopK]]'s semantics with
    * the corpus-sized work paid ONCE at build time. A production
    * retrieval / hard-negative-mining loop probes the same corpus
    * thousands of times; recomputing the tf/df/length tables per call is
    * the whole cost at 100 TB, so the index persists them:
    *
    * {{{
    * path/
    *   _generations/<N>/postings/tbucket=K/   (term, doc_id, tf, dl)
    *   _generations/<N>/df/tbucket=K/         (term, df)
    *   _generations/<N>/stats/                one row (n_docs, dl_sum, num_buckets)
    *   _generations/<N>/segments/ingest_batch=<S>/tbucket=K/   appended postings
    *   _generations/<N>/_batch_commits/<S>[.s<batch>]          segment markers
    *   _generations/<N>/tombstones/           deleted doc ids
    *   _commits/<N>                           generation marker
    * }}}
    *
    *  - `postings` carry the document LENGTH denormalized per row, so the
    *    probe never joins a corpus-sized side table;
    *  - everything term-keyed is hash-bucketed into `tbucket =
    *    xxhash64(term) mod numBuckets` PARTITIONS: a probe reads only the
    *    buckets its query terms hash to — partition-pruned I/O
    *    proportional to the query, not the corpus;
    *  - the index lives on the [[GenerationLog]] spine of the `Versioned*`
    *    families: a build or [[consolidateBm25Index]] publishes a
    *    generation with ONE marker-file create, appends and stream batches
    *    are [[SegmentLog]] segments inside it, and [[GenerationLog.vacuum]]
    *    is its GC. No directory rename anywhere on the commit path; a crash
    *    mid-stage leaves an invisible orphan, and a rebuild supersedes the
    *    previous generation with its segments and tombstones (which stay
    *    readable until vacuumed — snapshot isolation for in-flight probes).
    *
    * Appends are FROZEN-STATS (the frozen-centroid contract of the ANN
    * index): appended documents become retrievable immediately, but df /
    * N / avgdl stay those of the base build — scores drift as appends
    * accumulate, and terms unseen at base-build time carry no df row so
    * they contribute nothing until the next rebuild. That staleness is
    * the price of never rewriting the base; rebuild on the operator's
    * cadence (the Lucene posture: segment merges refresh stats).
    *
    * A root in the older segment-log layout (root-level `segments/<id>/`
    * under `base`/`append` markers) is refused by every verb except
    * [[consolidateBm25Index]], which upgrades it.
    */
  def writeBm25Index(
      corpus: DataFrame, textCol: String, idCol: String, path: String,
      numBuckets: Int = 64): Unit = {
    require(numBuckets >= 1)
    val spark = corpus.sparkSession
    MaintenanceLock.withLock(spark, path) {
      GenerationLog.refuseSegmentLogRoot(spark, path)
      publishGeneration(spark, path,
        graft.CacheScope.persist(postingsOf(corpus, textCol, idCol, numBuckets)), numBuckets,
        s"writeBm25Index($path): the corpus has no tokens; an empty " +
          "partitioned postings table is unreadable — nothing was committed.")
    }
  }

  /** Frozen-stats incremental ingest: tokenize the batch and commit its
    * postings as one segment of the current generation. See
    * [[writeBm25Index]] for the df-staleness contract. The batch's own
    * df/stats are NOT written — scoring always uses the base's.
    */
  def appendToBm25Index(
      batch: DataFrame, textCol: String, idCol: String, path: String): Unit =
    MaintenanceLock.withLock(batch.sparkSession, path) {
      stageSegment(batch, textCol, idCol, currentDir(batch.sparkSession, path), None)
    }

  /** Streaming face of [[appendToBm25Index]]: a stream of documents (e.g.
    * a parquet landing dir of daily crawl output) is tokenized per
    * micro-batch and committed as its own posting segment — continuous
    * text-index ingest with the same frozen-stats contract as the batch
    * face ([[consolidateBm25Index]] is the staleness recourse, on the
    * operator's cadence).
    *
    * Exactly-once under replay WITHOUT dynamic partition overwrite: the
    * micro-batch id rides in the segment marker's NAME (`<seg>.s<batch>`),
    * so a batch replayed after a crash between segment commit and
    * checkpoint commit finds its marker by listing and SKIPS; a batch that
    * crashed BEFORE its marker left only an invisible orphan (the replay
    * re-stages under a fresh segment id, [[GenerationLog.vacuum]] sweeps
    * the debris once TTL-aged). Markers live in their generation, so a
    * consolidation or rebuild must not run while a batch is written but
    * uncheckpointed (pass `checkpointDir` to [[consolidateBm25Index]]).
    */
  def streamAppendToBm25Index(
      stream: DataFrame, textCol: String, idCol: String,
      path: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    currentDir(stream.sparkSession, path) // a committed generation must exist
    graft.streaming.GateStream.start(stream, checkpointDir)(
      ingestBatchToBm25Index(_, textCol, idCol, path, _))
  }

  /** One ingest batch of [[streamAppendToBm25Index]], exposed for replay
    * testing and receipts. Skips (idempotently) when the batch id's
    * marker is already committed.
    */
  private[graft] def ingestBatchToBm25Index(
      batch: DataFrame, textCol: String, idCol: String, path: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    MaintenanceLock.withLock(spark, path) {
      val dir = currentDir(spark, path)
      if (!SegmentLog.streamBatchCommitted(spark, dir, batchId))
        stageSegment(batch, textCol, idCol, dir, Some(batchId))
    }
  }

  /** Probe the persisted index: [[bm25TopK]] re-expressed over the stored
    * tables — NEVER touches the corpus. I/O shape: the query's distinct
    * terms are collected (bounded: a query batch is tiny next to the
    * corpus — same class of bounded pull as the ANN index's centroids) to
    * compute their hash buckets; the reads of base ∪ committed segments
    * ([[SegmentLog.liveView]]) and of the df table are partition-PRUNED to
    * those buckets, then filtered to the exact terms by a broadcast join.
    * Candidate rows = Σ_{t∈queries} df(t), one shuffle into the per-(query,
    * doc) sum, one k-bounded window — independent of corpus
    * re-tokenization entirely.
    */
  def bm25TopKFromIndex(
      spark: SparkSession, path: String, queries: DataFrame,
      qTextCol: String, qIdCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxDf: Long = Long.MaxValue): DataFrame = {
    require(k > 0 && k1 > 0 && b >= 0 && b <= 1 && maxDf > 0)
    val dir = currentDir(spark, path)
    val st = readStats(spark, dir)
    val (nDocs, dlSum, numBuckets) = (st.getLong(0), st.getLong(1), st.getInt(2))
    val qTerms = graft.CacheScope.localCheckpoint(queries
      .select(col(qIdCol).as("query_id"),
        explode(TextOps.tokens(col(qTextCol))).as("term"))
      .distinct())
    // bounded collect: one bucket id per distinct query term (≤ the query
    // batch's vocabulary). Computed through Spark's own xxhash64 so the
    // bucket math is definitionally identical to the write side's.
    val buckets = qTerms.select(bm25Bucket(col("term"), numBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val post = SegmentLog.liveView(spark, dir, "postings", postingCols, Some("doc_id"))
      .filter(col("tbucket").isin(buckets: _*))
    val dfr = spark.read.parquet(s"$dir/df")
      .filter(col("tbucket").isin(buckets: _*))
      .filter(col("df") <= maxDf)
      .select(col("term"), col("df"))
    val cand = post
      .join(broadcast(qTerms), Seq("term"))
      .join(broadcast(dfr), Seq("term"))
      .select(col("query_id"), col("doc_id"),
        bm25Contrib(col("tf"), col("df"), col("dl"),
          lit(nDocs.toDouble), lit(dlSum.toDouble / nDocs.toDouble), k1, b)
          .as("contrib"))
    rankBm25(cand, k)
  }

  /** Retention delete ("right to be forgotten" for the retrieval corpus):
    * the given doc ids stop RETRIEVING immediately — every probe
    * anti-joins the current generation's tombstone set against the
    * postings (a broadcast-sized read; delete sets are tiny next to the
    * index) — without rewriting any segment. Physical purge + stats reset
    * happen at the next [[consolidateBm25Index]] (which rewrites the
    * postings anyway): the same two-phase tombstone contract as the
    * near-dup index. Until then N / df / avgdl still count the deleted
    * docs (frozen-stats staleness, same clock as appends), and a
    * tombstoned id stays suppressed even if re-appended — re-admitting one
    * means consolidating first. Idempotent: duplicate tombstone rows
    * collapse in the probe's distinct.
    */
  def deleteFromBm25Index(ids: DataFrame, idCol: String, path: String): Unit = {
    val spark = ids.sparkSession
    MaintenanceLock.withLock(spark, path) {
      ids.select(col(idCol).cast("long").as("doc_id")).distinct()
        .coalesce(1).write.mode("append").parquet(s"${currentDir(spark, path)}/tombstones")
    }
  }

  /** Consolidate the visible generation into ONE fresh base — the Lucene
    * segment-merge move, and the frozen-stats contract's recourse: df / N
    * / avgdl are recomputed over base + all segments FROM THE STORED
    * POSTINGS (the corpus text is never touched — a rebuild from segments,
    * not from 100 TB of documents), so appended documents' terms get real
    * df rows and the score drift resets. Tombstoned docs
    * ([[deleteFromBm25Index]]) are PHYSICALLY PURGED: the merged postings
    * exclude them and the recomputed stats no longer count them. Published
    * as the next generation, which starts with no segments and no
    * tombstones (in-flight probes keep their snapshot until
    * [[GenerationLog.vacuum]]).
    *
    * Input cost: one pass over the stored postings (Σ segment sizes) —
    * the df agg is map-side combined on the already-bucketed term key, and
    * the postings rewrite is a partition-aligned copy (tbucket in =
    * tbucket out). Run it on the ingest cadence that keeps the segment
    * count and the df staleness acceptable.
    *
    * Pass the ingest stream's `checkpointDir` to refuse while a batch is
    * started-but-uncommitted (the commit-log guard every maintenance op
    * here takes): the new generation carries no stream-batch markers, so
    * that batch's replay would re-append its postings on top of the
    * consolidated base.
    *
    * On a root in the older segment-log layout this is the UPGRADE: the
    * highest committed `base` segment, the `append` segments above it and
    * the root tombstones are published as one generation that also
    * carries every old `append batch=<b>` stream marker as a marker-only
    * `.s<b>` segment (so a replay skips, and the upgrade needs no
    * checkpoint guard: `checkpointDir` is ignored). Then the old
    * `base`/`append` markers, root `tombstones/` and `segments/` are
    * removed — `segments/` last: it is what marks the old layout, so a
    * rerun after a crash mid-cleanup finds the generation marker above
    * the old ones, skips the publish and finishes the cleanup.
    */
  def consolidateBm25Index(
      spark: SparkSession, path: String,
      checkpointDir: Option[String] = None): Unit = {
    val upgrade = GenerationLog.isSegmentLogRoot(spark, path)
    GenerationLog.maintain(spark, path, "consolidateBm25Index",
        checkpointDir.filterNot(_ => upgrade)) {
      if (upgrade) upgradeSegmentLogRoot(spark, path)
      else {
        val dir = GenerationLog.requireCurrentDir(spark, path)
        publishMerged(spark, path,
          SegmentLog.liveView(spark, dir, "postings", postingCols, Some("doc_id")),
          readStats(spark, dir).getInt(2))
      }
    }
  }

  /** The BM25 index's health/staleness audit — the third of the trilogy
    * ([[VersionedIvf.assignmentDrift]] for the ANN index,
    * [[Dedup.nearDupIndexBucketStats]] for the LSH families): one row of
    * integer stats of the current generation from listings plus
    * count-only scans (parquet row counts come from footers — no data
    * pages read), pricing the "consolidation overdue" check:
    *
    *  - `n_segments` — the base plus every committed segment holding
    *    postings: each is one more per-probe partition listing;
    *  - `base_rows` vs `appended_rows` — appended postings score under
    *    the BASE's frozen df/N/avgdl, so this ratio IS the score-drift
    *    bound ([[appendToBm25Index]]'s documented staleness);
    *  - `tombstoned_ids` — screened on every probe until the next
    *    consolidation purges them.
    *
    * All integers, so the frame hash-replays; the committed s_bm25_health
    * rules trip exactly like the d_index_health ones.
    */
  def bm25IndexStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val dir = currentDir(spark, path)
    val segDirs = SegmentLog.committedDirs(spark, dir)
    val appended =
      if (segDirs.isEmpty) 0L
      else spark.read.option("basePath", SegmentLog.segmentsDir(dir)).parquet(segDirs: _*).count()
    val tombDir = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val tombstoned =
      if (GenerationLog.fsOf(spark, path).exists(tombDir))
        spark.read.parquet(tombDir.toString).select(col("doc_id")).distinct().count()
      else 0L
    Seq((1L + segDirs.size, spark.read.parquet(s"$dir/postings").count(), appended, tombstoned))
      .toDF("n_segments", "base_rows", "appended_rows", "tombstoned_ids")
  }

  private def bm25Bucket(term: Column, numBuckets: Int): Column =
    pmod(xxhash64(term), lit(numBuckets.toLong))

  private def postingCols: Seq[Column] =
    Seq(col("term"), col("doc_id"), col("tf"), col("dl"), col("tbucket"))

  /** (term, doc_id, tf, dl, tbucket) postings of a document frame; a
    * document with no tokens has none.
    */
  private def postingsOf(
      docs: DataFrame, textCol: String, idCol: String, numBuckets: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"), TextOps.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        bm25Bucket(col("term"), numBuckets).as("tbucket"))

  /** Publish `post` (persisted postings) as the next generation: the
    * postings, their df table, the one-row stats and a marker-only
    * segment per already-ingested `streamBatches` id — the one generation
    * writer of build, consolidate and upgrade. Postings with no rows
    * would commit a table with no `tbucket=` partition, which no reader
    * can infer a schema for: that publish throws `IllegalStateException`
    * with `emptyRefusal` before the marker, so nothing is committed.
    */
  private def publishGeneration(
      spark: SparkSession, path: String, post: DataFrame, numBuckets: Int,
      emptyRefusal: String, streamBatches: Seq[Long] = Nil): Unit =
    GenerationLog.publish(spark, path) { dir =>
      post.write.mode("overwrite").option("partitionOverwriteMode", "static")
        .partitionBy("tbucket").parquet(s"$dir/postings")
      // emptiness from the written partitions' footers — no Spark job
      val postings = new org.apache.hadoop.fs.Path(s"$dir/postings")
      if (!GenerationLog.fsOf(spark, dir).listStatus(postings)
          .exists(p => p.isDirectory && IndexMeta.dirHasRows(spark, p.getPath.toString)))
        throw new IllegalStateException(emptyRefusal)
      post.groupBy(col("tbucket"), col("term")).agg(count(lit(1)).as("df"))
        .select(col("term"), col("df"), col("tbucket"))
        .write.mode("overwrite").option("partitionOverwriteMode", "static")
        .partitionBy("tbucket").parquet(s"$dir/df")
      // n_docs + dl_sum as exact longs: avgdl recomputes at probe time as
      // dl_sum/n — bit-identical to avg(dl) (integer-valued double sums
      // are exact far past any real corpus size)
      post.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n_docs"),
          // coalesce: an empty (or all-empty-text) corpus must write a
          // readable 0, not a null the probe would NPE on
          coalesce(sum(col("dl")), lit(0L)).as("dl_sum"))
        .withColumn("num_buckets", lit(numBuckets))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
      streamBatches.zipWithIndex.foreach { case (b, seg) =>
        SegmentLog.commitMarker(spark, dir, s"$seg.s$b") }
    }

  /** [[publishGeneration]] of merged live postings; an all-tombstoned
    * merge refuses, like VersionedNearDup.consolidate: rebuild instead.
    */
  private def publishMerged(
      spark: SparkSession, path: String, live: DataFrame, numBuckets: Int,
      streamBatches: Seq[Long] = Nil): Unit =
    publishGeneration(spark, path, graft.CacheScope.persist(live), numBuckets,
      s"consolidateBm25Index($path): every posting is tombstoned; an " +
        "empty partitioned postings table is unreadable — rebuild with " +
        "writeBm25Index instead of consolidating to nothing.", streamBatches)

  /** [[consolidateBm25Index]] of a segment-log root (see there). */
  private def upgradeSegmentLogRoot(spark: SparkSession, path: String): Unit = {
    val old = GenerationLog.committedGenerations(spark, path).map(id =>
      id -> GenerationLog.markerKind(GenerationLog.readMarker(spark, s"$path/_commits/$id")))
    // a generation marker above the old ones: an earlier upgrade committed
    // and crashed in the cleanup, which is all that is left to do
    if (!old.lastOption.exists(_._2.startsWith("generation"))) {
      val base = old.collect { case (id, "base") => id }.max
      val segs = base +: old.collect {
        case (id, kind) if id > base && kind.startsWith("append") => id }
      publishMerged(spark, path,
        GenerationLog.screenTombstones(spark, path, "doc_id", segs
          .map(id => spark.read.parquet(s"$path/segments/$id/postings").select(postingCols: _*))
          .reduce(_.unionByName(_))),
        spark.read.parquet(s"$path/segments/$base/stats").head().getAs[Int]("num_buckets"),
        old.collect { case (_, kind) if kind.startsWith("append batch=") =>
          kind.stripPrefix("append batch=").toLong }.distinct)
    }
    val fs = GenerationLog.fsOf(spark, path)
    old.filterNot(_._2.startsWith("generation")).foreach { case (id, _) =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/_commits/$id"), false) }
    Seq("tombstones", "segments").foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true))
  }

  /** Stage `batch`'s postings as one segment of generation `dir`, committed
    * as `<seg>` or, for stream batch `b`, `<seg>.s<b>` (caller holds the
    * lease). A batch with no tokens commits marker-only
    * ([[SegmentLog.writeSegment]]).
    */
  private def stageSegment(
      batch: DataFrame, textCol: String, idCol: String, dir: String,
      streamBatch: Option[Long]): Unit = {
    val spark = batch.sparkSession
    val segId = SegmentLog.nextSegId(spark, dir)
    SegmentLog.writeSegment(spark, dir, segId,
      postingsOf(batch, textCol, idCol, readStats(spark, dir).getInt(2)),
      segId.toString + streamBatch.fold("")(b => s".s$b"), Some("tbucket"))
  }

  /** The current generation dir; a segment-log root is refused. */
  private def currentDir(spark: SparkSession, path: String): String = {
    GenerationLog.refuseSegmentLogRoot(spark, path)
    GenerationLog.requireCurrentDir(spark, path)
  }

  /** A generation's (n_docs, dl_sum, num_buckets), memoized per committed
    * generation: repeated probes and appends skip the one-row job.
    */
  private def readStats(spark: SparkSession, dir: String): org.apache.spark.sql.Row =
    IndexMeta.cachedParamsIfGeneration(spark, "bm25-stats", dir)(
      spark.read.parquet(s"$dir/stats")
        .select(col("n_docs"), col("dl_sum"), col("num_buckets"))
        .head())
}
