package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Corpus-curation operators for training-data pipelines: deterministic
  * sampling, per-group quotas, sequence packing (concat-and-chunk token
  * budgeting), and benchmark-contamination screening.
  *
  * Everything here is declarative DataFrame algebra — no UDFs, and driver
  * work only over frames bounded by a group or block count — so Catalyst
  * plans it and the shapes survive a 1000-executor scale-up:
  *  - sampling / quotas are a codegen'd filter resp. one partitioned window;
  *  - sequence packing is a two-level prefix sum: the only global step
  *    sums BLOCK TOTALS on the driver, whose cardinality is
  *    `#docs / blockSize` — tune blockSize so that frame is driver-trivial
  *    at any corpus size;
  *  - contamination joins on 64-bit shingle hashes, never shingle strings,
  *    and broadcasts the benchmark side (benchmark suites are small).
  */
object Curation {

  /** Deterministic, engine-portable integer mixer: reduce the key mod a
    * prime, multiply by Knuth's 2654435761, reduce again. Stays below 2^52
    * throughout, so it is exact under ANSI arithmetic in Spark AND
    * expressible verbatim in any SQL engine (the DuckDB oracle computes the
    * identical value) — unlike xxhash64, whose implementation is
    * Spark-specific. Production sampling at 100 TB should prefer
    * [[org.apache.spark.sql.functions.xxhash64]] (better avalanche over
    * arbitrary types); this mixer exists for cross-engine reproducibility
    * of the sampling decision.
    */
  val PortableHashModulus = 1000003L // prime

  def portableHash(key: Column): Column =
    pmod(pmod(key.cast("long"), lit(PortableHashModulus)) * lit(2654435761L),
      lit(PortableHashModulus))

  /** The mixer needs an integral key: a string key would cast to NULL (or
    * throw, under ANSI) deep inside the job. Fail fast at plan-build time
    * with the escape hatch spelled out.
    */
  private def requireIntegralKey(df: DataFrame, keyCol: String, op: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(keyCol).dataType
    val integral = dt == LongType || dt == IntegerType || dt == ShortType || dt == ByteType
    require(integral,
      s"$op needs an integral key column for the portable mixer; '$keyCol' is $dt. " +
        "Pass an explicit hash column instead (e.g. xxhash64(col(\"" + keyCol + "\"))) " +
        "via the Column overload — note a Spark-specific hash is not replayable " +
        "by other engines.")
  }

  /** Deterministic hash sample: keep a row iff its key's mixed hash lands in
    * `numer` of `denom` residue classes. Unlike `df.sample()` this is stable
    * across runs, partitionings, and engines — the property a training
    * pipeline needs so a re-run selects the SAME documents (sampling is a
    * pure filter: no shuffle, stays in the scan's codegen stage, and
    * composes with parquet row-group pruning when the key is a sort key).
    * The key must be integral (see [[portableHash]]); for string keys use
    * the Column overload with your own hash.
    */
  def hashSample(df: DataFrame, keyCol: String, numer: Int, denom: Int): DataFrame = {
    requireIntegralKey(df, keyCol, "hashSample")
    hashSample(df, portableHash(col(keyCol)), numer, denom)
  }

  /** [[hashSample]] over a caller-supplied hash column (use for non-integral
    * keys, e.g. `xxhash64(col("url"))` — stable across runs and partitionings
    * but not replayable by non-Spark engines).
    */
  def hashSample(df: DataFrame, hashCol: Column, numer: Int, denom: Int): DataFrame = {
    require(numer >= 0 && denom > 0 && numer <= denom)
    df.filter(pmod(hashCol, lit(denom.toLong)) < numer.toLong)
  }

  /** Deterministic weighted sampling without replacement: keep the `k` rows
    * with the smallest `priority = portableHash(id) div weight` (ties by
    * id). For any threshold t below saturation,
    * P(priority < t) = P(hash < t·w) = t·w/M — linear in the weight — so the
    * k winners are a weight-proportional draw: the integer analog of
    * Efraimidis–Spirakis `u^(1/w)` keys, chosen over the float form because
    * integer division replays EXACTLY in any engine (the oracle restates it
    * in SQL), where `ln`/`pow` float keys can flip a boundary row between
    * engines. Zero/negative weights are excluded (a zero weight must never
    * be drawn; it would also divide by zero).
    *
    * Plan shape: a pure projection + global top-k (TakeOrderedAndProject —
    * per-partition top-k then a k-bounded merge, never a full sort).
    */
  def weightedPrioritySample(
      df: DataFrame, idCol: String, weightCol: Column, k: Int): DataFrame = {
    requireIntegralKey(df, idCol, "weightedPrioritySample")
    require(k > 0)
    df.withColumn("weight", weightCol.cast("long"))
      .filter(col("weight") > 0)
      // hash < 2^20 and weight ≥ 1: the double quotient is exact, so the
      // cast IS integer division (replayed as `//` in the oracle)
      .withColumn("priority",
        (portableHash(col(idCol)) / col("weight")).cast("long"))
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  /** Mixture sampling: per-group keep rates (e.g. upsample wiki, downsample
    * crawl) applied as ONE deterministic hash filter — `rates` maps group →
    * keep `numer` in `denom`. Groups absent from `rates` are dropped
    * (explicit mixes only — silence should not mean "keep everything").
    * Planned as a broadcast join of the tiny rates table + the same pure
    * filter as [[hashSample]]: no shuffle of the data side.
    */
  def mixtureSample(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      rates: Map[String, (Int, Int)]
  ): DataFrame = {
    require(rates.nonEmpty && rates.values.forall { case (n, d) => n >= 0 && d > 0 && n <= d })
    requireIntegralKey(df, keyCol, "mixtureSample")
    // string rates keys against a non-string group column would type-coerce
    // to NULL in the join and silently drop the whole corpus
    require(df.schema(groupCol).dataType == org.apache.spark.sql.types.StringType,
      s"mixtureSample joins string rate keys; '$groupCol' is " +
        s"${df.schema(groupCol).dataType}")
    val spark = df.sparkSession
    import spark.implicits._
    val ratesDf = rates.toSeq.map { case (g, (n, d)) => (g, n.toLong, d.toLong) }
      .toDF(groupCol, "__numer", "__denom")
    df.join(broadcast(ratesDf), groupCol)
      .filter(pmod(portableHash(col(keyCol)), col("__denom")) < col("__numer"))
      .select(df.columns.map(col): _*) // using-join reorders; restore caller's schema
  }

  /** Temperature-based mixture sampling — the multilingual/multi-source
    * training-mix primitive (the `p_s ∝ n_s^α` rebalancing of XLM-R/mT5
    * style pipelines): materialize a corpus of ~`totalBudget` documents
    * whose per-group share follows `weight(n_s) / Σ weight(n_t)` instead of
    * the raw group sizes, flattening the head so low-resource groups keep
    * proportionally more.
    *
    * Engine-portable by construction at the default temperature α = 1/2:
    * `weightOf` defaults to ⌊√n⌋ — IEEE sqrt is correctly rounded (unlike
    * `pow`), so the weight, the exact BIGINT weight sum, and the integer-
    * division quotas are bit-identical in any engine; selection within a
    * group is the deterministic hash-ordered prefix [[quotaSample]] uses.
    * Other temperatures: pass `weightOf` (e.g. `pow(n, 0.7)`) — reproducible
    * within an engine, but libm `pow` is not guaranteed to round identically
    * across engines, so cross-engine hash comparison is only pinned for the
    * default.
    *
    * Scale shape: group sizes are one tiny aggregation (rows = #groups),
    * quotas are computed on the driver and broadcast back; the only
    * corpus-wide work is quotaSample's one partitioned window. Quotas follow the largest-remainder method: the
    * floored shares `⌊w·B/Σw⌋` leave a shortfall of up to #groups−1 rows,
    * which is redistributed +1 at a time to the groups with the largest
    * division remainder (ties by group name asc) — so Σ quota equals
    * `totalBudget` exactly, in pure integer arithmetic (engine-portable).
    * Groups smaller than their quota keep everything (rank ≤ quota is
    * vacuous), so the REALIZED total can still undershoot `totalBudget` —
    * but only when a low-resource group simply has no more data, never
    * from flooring.
    */
  def temperatureSample(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      totalBudget: Long,
      weightOf: Column => Column =
        c => floor(sqrt(c.cast("double"))).cast("bigint")
  ): DataFrame = {
    require(totalBudget > 0)
    requireIntegralKey(df, keyCol, "temperatureSample")
    val sizes = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
      .select(col(groupCol), weightOf(col("__n")).as("__w"))
    // exact integer weight sum (order-free), cross-joined as a 1-row frame
    val total = sizes.agg(sum(col("__w")).as("__sw"))
    // largest-remainder redistribution: the #groups-row frame is collected
    // in remainder order (ties by group name asc), and the shortfall goes
    // +1 to its first rows
    val shares = sizes.crossJoin(broadcast(total))
      .select(col(groupCol),
        expr(s"__w * ${totalBudget}L div __sw").as("__q0"),
        expr(s"(__w * ${totalBudget}L) % __sw").as("__rem"))
      .orderBy(col("__rem").desc, col(groupCol).asc)
      .collect()
    val short = totalBudget - shares.map(_.getLong(1)).sum
    val quotas = df.sparkSession.createDataFrame(
      shares.zipWithIndex.map { case (r, i) =>
        Row(r.get(0), r.getLong(1) + (if (i < short) 1L else 0L)) }.toSeq.asJava,
      StructType(Seq(df.schema(groupCol), StructField("__quota", LongType))))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(portableHash(col(keyCol)), col(keyCol))
    df.join(broadcast(quotas), groupCol)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__quota"))
      .select(df.columns.map(col): _*)
  }

  /** Token-budget cap: keep each group's documents, in deterministic hash
    * order, until the group's cumulative token count would exceed `budget`
    * (a doc is kept iff it fits entirely). The token-weighted counterpart of
    * [[quotaSample]] — "at most N tokens per source/language", which is how
    * training mixes are actually specified. One partitioned window.
    */
  def tokenBudgetCap(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      tokenCountCol: Column,
      budget: Long
  ): DataFrame = {
    require(budget > 0)
    requireIntegralKey(df, keyCol, "tokenBudgetCap")
    // same count hygiene as packSequences: NULL counts as 0, a negative
    // count would make the cumulative sum non-monotonic (docs past the
    // budget would slip back under it), so it fails the job instead
    val nt0 = coalesce(tokenCountCol.cast("long"), lit(0L))
    val nt = when(nt0 < 0L, raise_error(concat(
      lit("tokenBudgetCap: negative token count for key "), col(keyCol).cast("string"))))
      .otherwise(nt0)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(portableHash(col(keyCol)), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(nt).over(w))
      .filter(col("__cum") <= budget)
      .drop("__cum")
  }

  /** Deterministic corpus shuffle order: assign every row a reproducible
    * pseudo-random position 0..n-1 — the "shuffle the training examples,
    * identically on every re-run and in every engine" step a data pipeline
    * runs before sequence packing / sharding.
    *
    * Scale shape: a global `row_number()` is a single-partition sort, dead
    * at corpus scale. Instead the total order is (bucket, mix, id) with
    * bucket = mix mod `buckets`: within-bucket ranks come from a
    * PARTITIONED window (parallel, one shuffle), bucket offsets from a
    * prefix sum over the ≤`buckets`-row count table (driver-trivial,
    * broadcast back). Same two-level prefix-sum discipline as
    * [[packSequences]]; nothing global ever exceeds `buckets` rows.
    * Engine-replayable: the identical order is one SQL `row_number()` for
    * the oracle.
    */
  def shuffleOrder(df: DataFrame, keyCol: String, buckets: Int = 1024): DataFrame = {
    require(buckets >= 1)
    requireIntegralKey(df, keyCol, "shuffleOrder")
    // referenced by both the rank window and the offsets aggregate — under
    // a CacheScope the persist pins the source scan + hash to one pass
    val withB = graft.CacheScope.persist(df
      .withColumn("__mix", portableHash(col(keyCol)))
      .withColumn("__b", pmod(col("__mix"), lit(buckets.toLong))))
    val w = Window.partitionBy(col("__b")).orderBy(col("__mix"), col(keyCol))
    val ranked = withB.withColumn("__rk", row_number().over(w).cast("long"))
    ranked.join(broadcast(blockPrefix(withB, "__b", count(lit(1)), "__off")), "__b")
      .withColumn("shuffle_pos", col("__off") + col("__rk") - 1L)
      .drop("__mix", "__b", "__rk", "__off")
  }

  /** (`blk`, `out`): per block, the sum of `total` over every LOWER block
    * of `df` — the exclusive prefix sum of [[shuffleOrder]]'s bucket
    * offsets and [[packSequences]]' block bases. The per-block totals
    * (≤ #blocks rows) are collected and summed on the driver, so no
    * unpartitioned window moves them through one task. `descending` sums
    * over every HIGHER block instead ([[NgramLm.bucketsFromScores]]).
    */
  private[operators] def blockPrefix(
      df: DataFrame, blk: String, total: Column, out: String,
      descending: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val tot = df.groupBy(col(blk)).agg(total.cast("long").as("__t"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(t => if (descending) -t._1 else t._1)
    tot.map(_._1).zip(tot.scanLeft(0L)(_ + _._2)).toSeq.toDF(blk, out)
  }

  /** Contiguous-range shard assignment over the [[shuffleOrder]] positions:
    * shard = pos·numShards div n — shard sizes differ by at most one row,
    * every shard is a contiguous slice of the shuffled order (so reading
    * shards in sequence replays the full shuffled corpus), and the
    * assignment is a pure expression of (pos, n) — deterministic and
    * engine-replayable. `n` rides a count aggregate broadcast into the
    * projection; nothing global beyond one scalar.
    */
  def shardAssignments(df: DataFrame, keyCol: String, numShards: Int, buckets: Int = 1024): DataFrame = {
    require(numShards >= 1)
    val ordered = shuffleOrder(df, keyCol, buckets)
    // count the INPUT, not the ordered frame: same scalar, but counting
    // `ordered` would drag the whole rank-window plan through the
    // optimizer just to produce n
    val total = df.select(count(lit(1)).as("__n"))
    ordered.join(broadcast(total))
      .withColumn("shard",
        when(col("__n") > 0L, expr(s"(shuffle_pos * $numShards) div __n"))
          .otherwise(lit(0L)).cast("bigint"))
      .drop("__n")
  }

  /** Write the corpus as `numShards` balanced parquet shards in shuffled
    * order (`path/shard=K/`): the standard layout feeding a data loader —
    * shard count = loader worker count, per-shard order = the reproducible
    * shuffle. One shuffle (repartition on the shard id); files within a
    * shard are written in shuffle_pos order via sortWithinPartitions.
    */
  def writeShards(
      df: DataFrame, keyCol: String, numShards: Int, path: String,
      buckets: Int = 1024): Unit =
    // own scope: the write action runs INSIDE it, so the shuffle/hash
    // projection materializes once (not ~4 scans of the source for
    // scope-less callers) and is freed when the write completes
    graft.CacheScope.withScope {
      shardAssignments(df, keyCol, numShards, buckets)
        .repartition(numShards, col("shard"))
        .sortWithinPartitions(col("shard"), col("shuffle_pos"))
        .write.mode("overwrite").partitionBy("shard").parquet(path)
    }

  /** Per-group quota sample: at most `quota` rows per group, chosen by the
    * deterministic hash order (ties broken by the key itself, so the
    * selection is a total order — re-runs pick identical rows). One
    * partitioned window = one shuffle on the group key; no global sort.
    * The standard shape for per-language / per-domain caps when balancing
    * a training mix. The key must be integral (see [[portableHash]]).
    */
  def quotaSample(df: DataFrame, groupCol: String, keyCol: String, quota: Int): DataFrame = {
    require(quota > 0)
    requireIntegralKey(df, keyCol, "quotaSample")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(portableHash(col(keyCol)), col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= quota)
      .drop("__rn")
  }

  /** Concat-and-chunk sequence packing: order documents by `idCol`, lay
    * their tokens end-to-end, and cut training sequences every `seqLen`
    * tokens. Emits each document's global `token_offset` and the sequence
    * ids its tokens span (`seq_start`..`seq_end`) — the writer-side shuffle
    * key for materializing packed sequences.
    *
    * Distributed prefix sum, not a global window: an exclusive running sum
    * ordered over an entire corpus would plan a single-partition window —
    * the classic scale cliff. Instead:
    *   1. bucket docs into blocks of `blockSize` ids (arithmetic, no data
    *      movement — ids need not be dense, only non-negative and unique);
    *   2. window WITHIN each block for the intra-block exclusive prefix
    *      (partitioned window — parallel);
    *   3. aggregate per-block totals (tiny frame: #blocks rows) and prefix
    *      THOSE with the only global window;
    *   4. broadcast-join the block bases back.
    * At 100 TB with blockSize = 1M, step 3's frame is ~#docs/1M rows —
    * driver-trivial — while steps 2 and 4 stay fully parallel.
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      tokenCountCol: Column,
      seqLen: Long,
      blockSize: Long = 1000000L
  ): DataFrame = {
    require(seqLen > 0 && blockSize > 0)
    // NULL counts (e.g. a NULL text under a size()-based counter) pack as 0
    // tokens; a NEGATIVE count would silently shift every later document's
    // offset, so it fails the job instead
    val nt = coalesce(tokenCountCol.cast("long"), lit(0L))
    // the base frame feeds both the intra-block window and the block-total
    // aggregate; when tokenCountCol is expensive (a tokenizer over the raw
    // text), the scoped persist pins the 24-byte/doc projection once
    // instead of re-scanning and re-tokenizing the corpus per branch.
    // persist (recomputable lineage), NOT localCheckpoint: lazy local
    // checkpoints live only on executors with no replication, so one lost
    // executor mid-job kills the whole query — unacceptable as the default
    // on clusters where executor churn is routine
    val base = graft.CacheScope.persist(df.select(
      col(idCol).cast("long").as(idCol),
      when(nt < 0L, raise_error(concat(
        lit("packSequences: negative token count for id "), col(idCol).cast("string"))))
        .otherwise(nt).as("n_tokens"))
      .withColumn("__blk", expr(s"`$idCol` div $blockSize")))
    val intraW = Window.partitionBy(col("__blk")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val intra = base.withColumn("__intra",
      coalesce(sum(col("n_tokens")).over(intraW), lit(0L)))
    val off = intra
      .join(broadcast(blockPrefix(base, "__blk", sum(col("n_tokens")), "__blk_base")), "__blk")
      .withColumn("token_offset", col("__blk_base") + col("__intra"))
    off.select(
      col(idCol), col("n_tokens"), col("token_offset"),
      expr(s"token_offset div $seqLen").as("seq_start"),
      when(col("n_tokens") === 0L, expr(s"token_offset div $seqLen"))
        .otherwise(expr(s"(token_offset + n_tokens - 1) div $seqLen")).as("seq_end"))
  }

  /** Writer-side contract of [[packSequences]]: one row per (document,
    * training sequence) pair, with the slice of the document's tokens that
    * lands in that sequence — `doc_from` (0-based offset into the doc) and
    * `n_take`. A writer groups by `seq_id`, sorts by `token_offset`, and
    * concatenates slices; every emitted sequence is exactly `seqLen` tokens
    * except the corpus tail. The explode fans each doc out to its span
    * (`seq_end - seq_start + 1` rows — bounded by doc length / seqLen, not
    * by corpus size), and the downstream group-by-sequence shuffle keys on
    * `seq_id` — uniformly distributed by construction, so the write stage
    * cannot skew. Zero-token docs are dropped (they contribute nothing).
    */
  def packedSliceManifest(
      df: DataFrame,
      idCol: String,
      tokenCountCol: Column,
      seqLen: Long,
      blockSize: Long = 1000000L
  ): DataFrame = {
    val packed = packSequences(df, idCol, tokenCountCol, seqLen, blockSize)
      .filter(col("n_tokens") > 0L)
    packed
      .select(col(idCol), col("n_tokens"), col("token_offset"),
        explode(sequence(col("seq_start"), col("seq_end"))).as("seq_id"))
      .select(
        col("seq_id"), col(idCol),
        greatest(col("seq_id") * seqLen - col("token_offset"), lit(0L)).as("doc_from"),
        (least((col("seq_id") + 1L) * seqLen, col("token_offset") + col("n_tokens"))
          - greatest(col("seq_id") * seqLen, col("token_offset"))).as("n_take"))
  }

  /** Sliding-window document chunking (RAG / embedding prep): cut each
    * document's token stream into chunks of `chunkTokens` starting every
    * `strideTokens` (overlap = chunk − stride), last chunk short. Pure
    * per-row explode — no shuffle at all; chunk fan-out is bounded by
    * doc length / stride, never corpus size. Emits the chunk text itself
    * (`array_join` over the token slice) plus (doc_id, chunk_idx, tok_from,
    * n_take) for writers that carry offsets instead of text.
    */
  /** Span-level dedup (the C4 curation move): split every document into
    * consecutive `spanTokens`-token spans, drop every span whose exact text
    * already occurred EARLIER in the corpus (first occurrence wins, ordered
    * by (id, span position)), and reassemble each document from its
    * surviving spans. Kills boilerplate repeated ACROSS documents (headers,
    * navigation, license blocks) that document-level dedup can't touch —
    * without dropping whole documents.
    *
    * Scale shape: one explode to (id, span_idx, span_text); the only
    * duplicate decision is a window over span-text HASH (the shuffle key is
    * a 64-bit hash + the tiny keeper ordinal, never full spans twice);
    * reassembly is a groupBy(id) of surviving spans. Empty documents keep a
    * row with empty text (re-anchored on the full id set).
    */
  def dropDuplicateSpans(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      spanTokens: Int
  ): DataFrame = {
    require(spanTokens > 0)
    val k = spanTokens.toLong
    val spans = docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"), size(col("__toks")).cast("long").as("__nt"))
      .filter(col("__nt") > 0L)
      .select(col(idCol),
        posexplode(expr(
          s"transform(sequence(0, (__nt - 1) div $k), i -> " +
            s"array_join(slice(__toks, cast(i * $k + 1 as int), $k), ' '))"))
          .as(Seq("span_idx", "span_text")))
    val w = Window.partitionBy(xxhash64(col("span_text")))
      .orderBy(col(idCol), col("span_idx"))
    val kept = spans.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val rebuilt = kept
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("span_idx"), col("span_text")))),
          s => s.getField("span_text")), " ").as("text_deduped"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("text_deduped"), lit("")).as("text_deduped"))
  }

  def chunkDocuments(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      chunkTokens: Int,
      strideTokens: Int
  ): DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0 && strideTokens <= chunkTokens)
    val (c, s) = (chunkTokens.toLong, strideTokens.toLong)
    docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"), size(col("__toks")).cast("long").as("__nt"))
      .filter(col("__nt") > 0L)
      .select(col(idCol), col("__toks"), col("__nt"),
        explode(sequence(lit(0L),
          when(col("__nt") > c, expr(s"(__nt - $c + $s - 1) div $s")).otherwise(lit(0L))))
          .as("chunk_idx"))
      .select(
        col(idCol), col("chunk_idx"),
        (col("chunk_idx") * s).as("tok_from"),
        least(lit(c), col("__nt") - col("chunk_idx") * s).as("n_take"),
        array_join(slice(col("__toks"), (col("chunk_idx") * s + 1L).cast("int"),
          least(lit(c), col("__nt") - col("chunk_idx") * s).cast("int")), " ")
          .as("chunk_text"))
  }

  /** Benchmark-contamination screen: which corpus documents share a word
    * `n`-gram with the benchmark set, and how many distinct shingles
    * overlap. The decontamination primitive for training corpora (report
    * or drop docs that leak eval data).
    *
    * Corpus shingles are deduped per doc ([[TextOps.shingles]] is distinct)
    * and joined on their xxhash64 — 8 bytes shuffled per shingle instead of
    * the string. The benchmark side collapses to its distinct shingle-hash
    * set and is broadcast by default (benchmark suites are vastly smaller
    * than a corpus; pass `broadcastBenchmark = false` to fall back to a
    * shuffle join when it is not). 64-bit hashing can in principle alias
    * two different shingles; for a screen that flags docs for review the
    * ~n²/2^64 false-positive rate is the standard trade.
    */
  /** Content-defined chunking: documents split at rolling-hash boundaries
    * ([[graft.functions.VectorHash.contentBoundaries]] — positions where
    * the window polynomial ≡ 0 mod `divisor`, expected chunk length ≈
    * `divisor` code points). Because a boundary depends only on its local
    * window, an insertion or deletion shifts boundaries only until the next
    * surviving one: every later chunk is byte-identical — the property that
    * makes CHUNK-level exact dedup stable under document edits, where
    * fixed-span chunking ([[chunkDocuments]]) shifts every downstream span.
    *
    * Laws (spec-pinned): concatenating a doc's chunks in index order
    * reconstructs the text exactly; docs shorter than `window` are one
    * whole-text chunk; an empty doc is one empty chunk. One narrow
    * projection + a bounded per-doc explode — no shuffle.
    *
    * Output: (id, chunk_idx, chunk_start [1-based code point], chunk_text).
    */
  def contentChunks(
      docs: DataFrame, textCol: String, idCol: String,
      window: Int = 8, divisor: Int = 61): DataFrame = {
    val bounds = concat(
      array(lit(0L)),
      filter(
        graft.functions.VectorHash.contentBoundaries(col(textCol), window, divisor)
          .cast("array<bigint>"),
        b => b < length(col(textCol)).cast("long")),
      array(length(col(textCol)).cast("long")))
    docs
      .select(col(idCol), col(textCol).as("__t"), bounds.as("__b"))
      .select(col(idCol), col("__t"),
        posexplode(transform(sequence(lit(1), size(col("__b")) - 1), j =>
          struct(
            (element_at(col("__b"), j) + 1L).as("s"),
            (element_at(col("__b"), j + 1) - element_at(col("__b"), j)).as("l")))))
      .select(col(idCol), col("pos").cast("int").as("chunk_idx"),
        col("col.s").as("chunk_start"),
        col("__t").substr(col("col.s").cast("int"), col("col.l").cast("int"))
          .as("chunk_text"))
  }

  // native shingle expression (one row-level eval — same primitive the
  // dedup paths use; ~10x the interpreted HOF composition); rows carry the
  // 8-byte shingle hash only, never the string
  private def shingleHashes(
      d: DataFrame, textCol: String, n: Int, carry: Column*): DataFrame =
    d.select(carry :+ explode(
      graft.functions.VectorHash.wordShingles(col(textCol), n)).as("__g"): _*)
      .withColumn("__gh", xxhash64(col("__g"))).drop("__g")

  def contamination(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      broadcastBenchmark: Boolean = true
  ): DataFrame = {
    val bench0 = shingleHashes(benchmark, textCol, n).select(col("__gh")).distinct()
    val bench = if (broadcastBenchmark) broadcast(bench0) else bench0
    shingleHashes(corpus, textCol, n, col(idCol))
      .join(bench, "__gh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit"))
  }

  /** [[contamination]] for benchmark suites too large to broadcast: the
    * benchmark's distinct shingle-hash set builds a Bloom filter (MB-scale
    * however large the corpus) that prunes corpus shingle rows BEFORE the
    * shuffle join. A Bloom has no false negatives, so the result is EXACTLY
    * `contamination(broadcastBenchmark = false)` — false positives only let
    * a ~fpp share of clean shingles reach the exchange, where the exact join
    * drops them. That is the 100 TB shape of decontamination: a clean corpus
    * shuffles ~fpp of its shingle rows instead of all of them.
    */
  def contaminationBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      expectedItems: Long = 1000000L,
      fpp: Double = 0.03
  ): DataFrame = {
    val bench = shingleHashes(benchmark, textCol, n).select(col("__gh")).distinct()
    val gate = graft.operators.BloomJoin.buildKeyFilter(
      bench, Seq("__gh"), expectedItems, fpp)
    graft.operators.BloomJoin.pruneByFilter(
        shingleHashes(corpus, textCol, n, col(idCol)), Seq("__gh"), gate)
      .join(bench, "__gh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit"))
  }

  /** FUZZY benchmark decontamination: corpus documents whose word-shingle
    * Jaccard against ANY benchmark document reaches `numer/denom` — the
    * near-duplicate completion of [[contamination]]'s exact-overlap screen.
    * Exact n-gram hits miss a benchmark item that was lightly paraphrased,
    * re-wrapped, or partially quoted into a crawl page; a set-similarity
    * threshold catches it (the screen used before training on web-scale
    * corpora — see the MinHash decontamination practice the dedup papers in
    * PAPERS.md describe).
    *
    * Shape: cross-frame MinHash LSH, not a self-join — each side is
    * condensed to its [[Dedup.nearDupManifest]] once, candidates come from
    * the (band, key) equi-join, and only candidates are verified with
    * exact integer set math (`denom·I ≥ numer·U`, engine-portable). With
    * the benchmark side broadcast (benchmark suites are MB-scale; the
    * default) the corpus never shuffles: banding is a projection, the
    * candidate join is map-side, and the verify join against benchmark
    * shingle sets is again broadcast — a 100 TB corpus pays two scan-side
    * passes and zero exchanges. Recall is the banding curve's: 32×2 bands
    * at J ≥ 1/2 is the recall-1.0 regime the d_jaccard_lsh ≡ brute-force
    * gate pins.
    *
    * Returns (`idCol`, bench_id, inter_sz, union_sz) — one row per
    * (contaminated doc, offending benchmark item) pair, sizes exact.
    */
  def contaminationFuzzy(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numer: Int = 1,
      denom: Int = 2,
      bands: Int = 32,
      rowsPerBand: Int = 2,
      broadcastBenchmark: Boolean = true
  ): DataFrame = {
    def manifest(side: DataFrame): DataFrame =
      Dedup.nearDupManifest(side, textCol, idCol, shingleSize, bands, rowsPerBand)
    // benchmark side is referenced twice (banding + verify): materialize
    // it — MB-scale, band keys + shingle hashes, never text. Local
    // CHECKPOINT, not persist: two concurrent queries can build canonically
    // identical benchmark plans, and CacheManager dedupes persisted entries
    // by canonical plan across threads — one scope's close would unpersist
    // the shared entry out from under the other mid-query (the observed
    // ANN-trainer failure class; see Similarity's trainScratch note).
    // Checkpoint RDDs are per-call, never shared.
    // The corpus side is deliberately NOT persisted: at 100 TB the two
    // references (banding, verify) are two scan-side passes — recompute is
    // the scale answer, caching the corpus is not
    Dedup.manifestCrossPairs(manifest(corpus),
        graft.CacheScope.localCheckpoint(manifest(benchmark)), numer, denom,
        broadcastRight = broadcastBenchmark)
      .select(col("left").as(idCol), col("right").as("bench_id"),
        col("inter_sz"), col("union_sz"))
  }

  /** Leak-free train/holdout split: a per-document hash split leaks when two
    * near-duplicate documents land on opposite sides (the holdout is then
    * effectively in the training set). This splits by DUPLICATE CLUSTER:
    * every member hashes its cluster representative (singletons: their own
    * id) through the portable mixer, so near-dups always land together and
    * the assignment replays identically in any engine.
    *
    * `pairs` is any near-dup pair frame (doc_a, doc_b) — LSH-fed in
    * production. Keeps `numer`/`denom` of clusters in "train", the rest in
    * "holdout". Returns `docs` plus a `split` column.
    *
    * Scale shape: clustering is [[Dedup.duplicateClusters]] (or swap in
    * [[Dedup.connectedComponentsAltStar]] for chain-heavy graphs); the
    * assignment itself is one left join of docs against the (tiny relative
    * to corpus) cluster labels plus a pure filter-stage hash.
    */
  // --------------------------------------- DSIR-style importance resampling

  /** Bag-of-feature frame for DSIR: one row per feature OCCURRENCE (with
    * multiplicity — this is a bag model), features = lowercased unigrams ∪
    * bigrams. Unigram tokens contain no whitespace and bigram strings
    * always do, so the two families can never collide as strings.
    */
  private[operators] def dsirFeatures(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tk = TextOps.tokens(col(textCol))
    docs.select(col(idCol).cast("long").as("doc"), tk.as("__tk"))
      .select(col("doc"), explode(concat(col("__tk"),
        when(size(col("__tk")) >= 2,
          transform(sequence(lit(0), size(col("__tk")) - 2),
            i => concat_ws(" ", element_at(col("__tk"), i + 1),
              element_at(col("__tk"), i + 2))))
          .otherwise(array().cast("array<string>")))).as("f"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score each raw-corpus
    * doc by how much more likely a TARGET-domain bag-of-ngram model finds
    * it than the raw-corpus model —
    * `w(doc) = Σ_f n_f(doc) · [ln p_t(f) − ln p_r(f)]` with add-one
    * smoothing over the union vocabulary (`p(f) = (c_f + 1)/(N + V)`).
    * Output: (doc, n_feats, weight), docs with ≥ 1 token.
    *
    * `buckets = 0` keys features on their raw strings — exact, and the
    * shape the DuckDB oracle replays. `buckets > 0` is the paper's (and
    * the 100 TB) configuration: features hash into a FIXED bucket space,
    * so the model table is corpus-size-independent — at web scale the raw
    * string vocabulary is itself corpus-sized and would not broadcast.
    * Either way the plan is: two map-side-combined feature aggs (model
    * build), a broadcast join of the vocab/bucket-sized log-ratio table
    * into the scoring scan, one #docs-row agg. The corpus text never
    * shuffles. With buckets ≥ collision-free for the observed vocabulary,
    * hashed ≡ exact (pinned on the harness corpus by CurationSpec, the
    * d_minhash_candidates oracle-validity precedent).
    */
  def dsirWeights(
      raw: DataFrame, target: DataFrame, textCol: String, idCol: String,
      buckets: Long = 0L): DataFrame = {
    require(buckets >= 0, s"buckets must be >= 0, got $buckets")
    def keyed(docs: DataFrame): DataFrame = {
      val f = dsirFeatures(docs, textCol, idCol)
      if (buckets == 0L) f
      else f.select(col("doc"), pmod(xxhash64(col("f")), lit(buckets)).as("f"))
    }
    val rawF = keyed(raw)
    val tgtF = keyed(target)
    val cr = rawF.groupBy(col("f")).agg(count(lit(1)).as("cr"))
    val ct = tgtF.groupBy(col("f")).agg(count(lit(1)).as("ct"))
    // scalars: broadcast 1-row frames (totals + union-vocab size)
    val model0 = cr.join(ct, Seq("f"), "full_outer")
      .select(col("f"), coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("ct"), lit(0L)).as("ct"))
    // scoped persist: the two model reads (totals + ratio) would otherwise
    // recompute both feature aggs
    val model = graft.CacheScope.persist(model0)
    val totals = model.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"),
      count(lit(1)).as("vsz"))
    val ratio = model.crossJoin(broadcast(totals))
      .select(col("f"),
        (log((col("ct") + lit(1.0)) / (col("nt") + col("vsz"))) -
          log((col("cr") + lit(1.0)) / (col("nr") + col("vsz")))).as("w"))
    rawF.join(broadcast(ratio), Seq("f"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_feats"), sum(col("w")).as("weight"))
  }

  /** The selection face: DSIR's Gumbel top-k — sampling k docs WITHOUT
    * replacement with probability ∝ exp(weight) is exactly "top k by
    * weight + Gumbel noise". The noise is the house deterministic hash
    * ([[portableHash]]) pushed through the inverse-CDF
    * `g = −ln(−ln(u))`, `u = (h + 0.5)/1000003` — engine-portable, so the
    * whole draw replays in SQL. `temperature = 0` disables the noise
    * (plain argmax top-k).
    */
  def dsirResample(
      raw: DataFrame, target: DataFrame, textCol: String, idCol: String,
      k: Int, temperature: Double = 1.0, buckets: Long = 0L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(temperature >= 0, s"temperature must be >= 0, got $temperature")
    val gumbel =
      if (temperature == 0.0) lit(0.0)
      else -log(-log((portableHash(col("doc")) + lit(0.5)) /
        lit(PortableHashModulus.toDouble))) * temperature
    dsirWeights(raw, target, textCol, idCol, buckets)
      .select(col("doc"), (col("weight") + gumbel).as("priority"))
      .orderBy(col("priority").desc, col("doc"))
      .limit(k)
      .select(col("doc"))
  }

  def leakFreeSplit(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      numer: Int,
      denom: Int
  ): DataFrame = {
    requireIntegralKey(docs, idCol, "leakFreeSplit")
    val clusters = Dedup.duplicateClusters(pairs)
    docs.join(clusters, docs(idCol) === clusters("doc"), "left")
      .withColumn("split",
        when(pmod(portableHash(coalesce(col("cluster"), col(idCol))),
          lit(denom.toLong)) < numer.toLong, lit("train")).otherwise(lit("holdout")))
      .drop("doc", "cluster")
  }
}
