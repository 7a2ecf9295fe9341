package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (`Array[Float]`).
  *
  * Two paths, per the standard scale playbook:
  *  - brute-force top-k: broadcast the (small) query set against the corpus,
  *    exact cosine, per-query top-k window. Correctness baseline; linear in
  *    corpus size, embarrassingly parallel, no corpus shuffle.
  *  - LSH-bucketed: deterministic random-hyperplane signs bucket the corpus
  *    once; queries probe only their own bucket (optionally neighbors). The
  *    join key is a small int, so at 100 TB the probe is a shuffle of bucket
  *    ids, not an n·m cross product.
  *
  * Vector math is `zip_with` + `aggregate` (codegen'd) — upgrade path is a
  * fused Catalyst Expression if the fold shows up in profiles.
  */
object Similarity {

  /** Scope-private single materialization for DERIVED training inputs
    * (today: the IVF-PQ residual frame): an eager localCheckpoint, which is
    * a per-call RDD a scope frees only if it created it. Deliberately NOT
    * `CacheScope.persist`: CacheManager dedupes persisted entries by canonical
    * plan ACROSS threads, so two concurrent queries training over identical
    * plans (the Verify harness shape — s_knn_ivf_exact vs s_knn_indexed
    * etc.) would share one entry, and one scope's close unpersists it out
    * from under the other MID-TRAINING — observed in round 8 as a
    * transient empty seed collect (trainIvfCentroids returning zero
    * centroids → `greatest` analysis error). Checkpoints cannot be shared,
    * so the hazard class is gone. Scope-less callers get the input
    * unchanged (no leaked storage).
    */
  private def trainScratch(corpus0: DataFrame): DataFrame =
    if (graft.CacheScope.active) graft.CacheScope.localCheckpoint(corpus0.toDF())
    else corpus0

  /** Dot product of two float-array columns, as a composable column
    * expression (higher-order functions; double accumulate in array order).
    * Kept as the reference implementation — the hot paths below use the
    * native [[graft.functions.VectorHash]] expressions instead.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (NaN-safe: 0 when either vector is all-zero).
    * Native expression; same accumulation order as [[dot]], so results are
    * bit-identical to the composable form.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorHash.cosine(a, b)

  /** Random-hyperplane LSH bucket id: `planes` Rademacher-projection sign
    * bits packed into an int (native expression; deterministic seeded
    * component hashes). Cosine-similar vectors collide with probability
    * (1 - θ/π)^planes. `seed` selects an independent hyperplane family
    * (multi-table LSH); seed 0 is the historical single-table family.
    */
  def hyperplaneBucket(vec: Column, planes: Int, seed: Long = 0L): Column =
    graft.functions.VectorHash.hyperplaneBucket(vec, planes, seed)

  /** Exact brute-force cosine top-k. `queries` is expected to be small
    * (broadcast); the corpus is scanned once, the per-query top-k is a
    * window over (query, sim). Self-matches excluded by id.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** Deterministic 1/`denom` training sample: id-hash filter, so the
    * sampled set — and therefore the trained quantizer — is reproducible
    * across runs and engines. `denom = 1` is the identity (no filter node
    * added at all).
    */
  private def trainSampleOf(corpus: DataFrame, idCol: String, denom: Int): DataFrame = {
    require(denom >= 1, s"trainSample must be >= 1, got $denom")
    if (denom == 1) corpus
    else corpus.filter(pmod(xxhash64(col(idCol)), lit(denom.toLong)) === 0L)
  }

  /** Train IVF coarse-quantizer centroids with Lloyd iterations run as
    * DataFrame plans: assignment is a narrow pass over the corpus against
    * broadcast centroid literals; the update step is one groupBy(cluster,
    * dim) aggregation. Centroids live on the driver (k·dim floats — tiny);
    * the corpus never leaves executors. Deterministic: seeds are the first
    * `k` vectors by id.
    *
    * `trainSample = n` trains on a deterministic 1/n id-hash sample of the
    * corpus — the corpus-scale practice (a billion-vector corpus does not
    * need a billion vectors to place k centroids; FAISS trains its coarse
    * quantizer on a bounded sample for the same reason). Each Lloyd round's
    * scan work drops n×; quantizer quality degrades only when the sample
    * gets small relative to k·(points-per-centroid-needed). The EXACTNESS
    * gates (exhaustive probe ≡ brute force) hold for ANY centroid set, so
    * sampling trades only recall-at-fixed-nprobe, never correctness.
    */
  def trainIvfCentroids(
      corpus0: DataFrame, vecCol: String, idCol: String,
      k: Int, iterations: Int = 3, trainSample: Int = 1): Seq[Seq[Float]] = {
    // raw-corpus scans per Lloyd round are parquet re-reads — cheap enough
    // that materializing them here measured as a wash; the EXPENSIVE
    // re-derivation (the IVF-PQ residual frame) is checkpointed by its
    // caller instead (see trainIvfPqBooks + the trainScratch note).
    val corpus = trainSampleOf(corpus0, idCol, trainSample)
    val spark = corpus.sparkSession
    var centroids: Seq[Seq[Float]] = corpus
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    // fail fast with the real cause: an under-k (or empty, after an
    // aggressive trainSample) training set would otherwise surface as a
    // silently smaller quantizer — or an obscure zero-arg greatest() error
    // deep inside nearestCentroid (the trainPqCodebooks ksub guard, here)
    require(centroids.size == k,
      s"training corpus has only ${centroids.size} vectors for k = $k" +
        (if (trainSample > 1) s" after trainSample = $trainSample — lower the sample denominator" else ""))
    (1 to iterations).foreach { _ =>
      // ONE aggregation per round: the native vector-avg aggregate keeps
      // float64 per-dimension accumulators per (cluster × map partition) —
      // k×dim partial sums cross the wire instead of rows×dim posexploded
      // elements, and there is no second shuffle to reassemble the array
      // (the old explode → groupBy(c,pos) → collect_list shape measured
      // 6.8 → 3.0 s on the ivfpq bench at 32 local shuffle partitions;
      // same per-element avg→float32 math, modulo f64 summation order)
      val updated = corpus
        .select(nearestCentroid(col(vecCol), centroids).as("c"), col(vecCol).as("v"))
        .groupBy("c").agg(graft.functions.VectorStats.vectorAvg(col("v")).as("centroid"))
        // a cluster whose every row carried a NULL vector aggregates to a
        // null centroid (and a null vector assigns to a null cluster id) —
        // drop both so getOrElse retains the previous centroid, matching
        // the old posexplode shape which simply emitted no rows for it
        .filter(col("c").isNotNull && col("centroid").isNotNull)
        .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toSeq).toMap
      centroids = centroids.indices.map(i => updated.getOrElse(i, centroids(i)))
    }
    centroids
  }

  /** Index of the nearest centroid (max cosine) as a column expression:
    * a fold over the k centroid literals — k native-cosine evals per row,
    * no UDF, stays a narrow projection.
    */
  def nearestCentroid(vec: Column, centroids: Seq[Seq[Float]]): Column =
    if (centroids.size == 1) lit(0) // greatest() needs ≥ 2 args
    else {
      val scored = centroids.zipWithIndex.map { case (c, i) =>
        struct(cosine(vec, typedLit(c)).as("sim"), lit(i).as("idx"))
      }
      greatest(scored: _*).getField("idx")
    }

  /** Prototypicality scores (Sorscher et al. 2022, "Beyond neural scaling
    * laws: beating power law scaling via data pruning"): each vector's
    * cosine to its ASSIGNED centroid. High = prototypical/easy (deep in a
    * cluster, redundant with its neighbors); low = hard/marginal — the
    * signal their pruning metric keeps when data is abundant. Narrow
    * projection: k + 1 native cosines per row against the broadcast
    * centroid literals, zero shuffle. Output: (idCol, cluster, proto).
    *
    * Null input vectors are excluded (the kmeansIterate/vectorAvg guard):
    * a null vector has no cluster or score, and letting its null proto
    * sort first under the keep-hardest window would select unscoreable
    * rows into [[pruneByPrototypicality]]'s keep set.
    */
  def prototypicality(
      corpus: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[Seq[Float]]): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol),
      nearestCentroid(col(vecCol), centroids).cast("bigint").as("cluster"))
      .select(col(idCol), col("cluster"),
        cosine(col(vecCol), element_at(typedLit(centroids),
          col("cluster").cast("int") + 1)).cast("double").as("proto"))

  /** Prototypicality PRUNING: keep exactly ⌊n·numer/denom⌋ vectors per
    * cluster — the HARDEST (least prototypical) when `keepHardest` (the
    * paper's abundant-data regime; `false` keeps the easiest, their
    * scarce-data regime). The keep quota is pure integer math
    * (`rank·denom ≤ n·numer`), so the selection replays exactly across
    * engines; ties (identical vectors) break on the id.
    *
    * One shuffle, on the cluster id (the two window functions share the
    * partitioning). Giant clusters serialize their sort into single
    * tasks — a corpus known to collapse into few clusters should raise k
    * or pre-split; an approximate two-pass variant (per-cluster score
    * percentile, then a stateless filter) trades the exact quota for no
    * per-cluster sort if that ever binds.
    */
  def pruneByPrototypicality(
      corpus: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[Seq[Float]], keepNumer: Int, keepDenom: Int,
      keepHardest: Boolean = true): DataFrame = {
    require(keepDenom > 0 && keepNumer >= 0 && keepNumer <= keepDenom,
      s"keep fraction must be a rational in [0, 1], got $keepNumer/$keepDenom")
    import org.apache.spark.sql.expressions.Window
    val scored = prototypicality(corpus, vecCol, idCol, centroids)
    val order =
      if (keepHardest) Seq(col("proto").asc, col(idCol).asc)
      else Seq(col("proto").desc, col(idCol).asc)
    val w = Window.partitionBy(col("cluster")).orderBy(order: _*)
    val wc = Window.partitionBy(col("cluster"))
    scored
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wc))
      .filter(col("__rn") * lit(keepDenom.toLong) <= col("__n") * lit(keepNumer.toLong))
      .select(col(idCol), col("cluster"))
  }

  /** Top-`nprobe` centroid ids by cosine, as an array column. */
  def probeCentroids(vec: Column, centroids: Seq[Seq[Float]], nprobe: Int): Column = {
    val scored = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(cosine(vec, typedLit(c)).as("sim"), lit(i).as("idx"))
    }: _*)
    transform(slice(reverse(array_sort(scored)), 1, nprobe), s => s.getField("idx"))
  }

  /** IVF ANN top-k: corpus bucketed once by nearest centroid; each query
    * probes its `nprobe` closest centroids' buckets and re-ranks with exact
    * cosine. The probe join keys on a small int (cluster id) — at corpus
    * scale this replaces the n·m cross product with nprobe/k of the corpus
    * per query. Recall is tunable via nprobe (=k → exact brute force).
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, centroids: Seq[Seq[Float]], nprobe: Int = 2,
      broadcastQueries: Boolean = true): DataFrame =
    probeAssignedCorpus(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        nearestCentroid(col(vecCol), centroids).as("cluster")),
      queries, vecCol, idCol, k, centroids, nprobe, broadcastQueries)

  /** The probe join + exact re-rank shared by the in-memory and the
    * persisted-index IVF paths — ONE copy, because the two paths are
    * oracle-pinned to agree and a tie-break/self-filter fix applied to one
    * but not the other would silently split them.
    */
  /** The UNION of all queries' probed cluster ids — one tiny job over the
    * (small, broadcast-contract) query side. Used to push a STATIC
    * partition filter into a probe's corpus legs: the versioned live
    * corpus is a Union of the base scan and committed segment scans, and
    * dynamic partition pruning does not reach through a Union — without
    * the static filter every probe reads every cluster of every leg (the
    * r12 semantic-gate stress regression: 428 s at 20× vs 81 s at 50×).
    * A superset read per query is harmless — the probe join still matches
    * each query only to its own probed clusters.
    */
  private[operators] def probedClusters(
      queries: DataFrame, vecCol: String,
      centroids: Seq[Seq[Float]], nprobe: Int): Seq[Int] =
    queries
      .select(explode(probeCentroids(col(vecCol), centroids, nprobe)).as("c"))
      .distinct().collect().map(_.getInt(0)).toSeq

  private[operators] def probeAssignedCorpus(
      c: DataFrame, queries: DataFrame, vecCol: String, idCol: String,
      k: Int, centroids: Seq[Seq[Float]], nprobe: Int,
      broadcastQueries: Boolean): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(probeCentroids(col(vecCol), centroids, nprobe)).as("cluster"))
    // lookup workloads broadcast the (small) query side; for query sets
    // that are themselves corpus-scale (all-pairs kNN) the probe becomes a
    // cluster-key sort-merge join — both sides shuffle by a small int, the
    // n·m cross product never materializes
    val qSide = if (broadcastQueries) broadcast(q) else q.hint("merge")
    val scored = c.join(qSide, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** LSH-bucketed ANN top-k: probe only same-bucket candidates. Trades
    * recall for a bucket-key equi-join; `planes` tunes bucket granularity
    * (AND-amplification: collision prob (1-θ/π)^planes) and `tables` adds
    * OR-amplification — each table is an independent hyperplane family, a
    * candidate needs to collide in ANY table, so recall is
    * 1-(1-r)^tables at `tables`× the index/join volume. That linear
    * storage-for-recall trade is the standard production LSH knob; at
    * corpus scale each table's probe is still a bucket-key equi-join on a
    * small int pair (table, bucket) — the n·m cross product never appears.
    * Returns the same shape as [[bruteForceTopK]] (possibly fewer than k
    * when buckets are sparse).
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      planes: Int = 8,
      broadcastQueries: Boolean = true,
      tables: Int = 1
  ): DataFrame = {
    require(tables >= 1)
    def keyed(df: DataFrame, id: String) = {
      val bucketPerTable = array((0 until tables).map(tId =>
        struct(lit(tId).as("t"), hyperplaneBucket(col(vecCol), planes, tId.toLong).as("bucket"))): _*)
      df.select(col(idCol).as(id), col(vecCol).as(s"${id}_v"),
        explode(bucketPerTable).as("tb"))
        .select(col(id), col(s"${id}_v"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    }
    val q = keyed(queries, "query_id").withColumnRenamed("query_id_v", "qv")
    val c = keyed(corpus, "neighbor_id").withColumnRenamed("neighbor_id_v", "cv")
    // see ivfTopK: broadcast for lookup workloads, bucket-key sort-merge
    // for corpus-scale query sets
    val qSide = if (broadcastQueries) broadcast(q) else q.hint("merge")
    val scored = c.join(qSide, Seq("t", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("cos"))
    // a pair colliding in several tables is the SAME (deterministic) row
    // after scoring — distinct collapses the multi-table duplicates before
    // the per-query top-k window
    val deduped = if (tables == 1) scored else scored.distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    deduped.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  // ------------------------------------------------------- persisted index

  private[graft] def assignToIndex(
      df: DataFrame, vecCol: String, idCol: String, centroids: Seq[Seq[Float]]): DataFrame =
    df.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
      nearestCentroid(col(vecCol), centroids).as("cluster"))

  /** The drift/integrity computation behind
    * [[VersionedIvf.assignmentDrift]]: per-`ingest_batch` mean alignment to
    * the assigned centroid (ppm) + misassigned count.
    */
  private[operators] def assignmentDriftOf(
      corpus: DataFrame, centroids: Seq[Seq[Float]]): DataFrame = {
    // partition discovery may infer ingest_batch as int from small dir
    // values — pin the column to bigint so the output schema is stable
    val scored = corpus.select(col("ingest_batch").cast("bigint").as("ingest_batch"),
      cosine(col("embedding"),
        element_at(typedLit(centroids), col("cluster").cast("int") + 1))
        .cast("double").as("assigned_cos"),
      greatest(centroids.map(c =>
        cosine(col("embedding"), typedLit(c)).cast("double")): _*).as("best_cos"))
    scored.groupBy(col("ingest_batch")).agg(
      count(lit(1)).as("n"),
      sum(floor(col("assigned_cos") * lit(1000000.0)).cast("bigint"))
        .as("align_ppm_sum"),
      sum(when(col("best_cos") > col("assigned_cos"), 1L).otherwise(0L))
        .as("misassigned"))
  }

  /** Streaming SEMANTIC dedup gate — SemDeDup at ingest over a persisted
    * IVF index, the embedding twin of
    * [[VersionedNearDup.streamGate]]. Per micro-batch
    * ([[semanticGateBatch]]):
    *
    *  1. drop arrivals with ANY cosine ≥ `threshold` neighbor among
    *     STRICTLY EARLIER batches' vectors, probing only the top-`nprobe`
    *     clusters (partition-pruned corpus read through the delete
    *     tombstones — a forgotten vector no longer suppresses);
    *  2. semantic-self-dedup the survivors within the batch
    *     ([[Dedup.semanticKeepers]], hyperplane-LSH candidates + exact
    *     cosine verify + cluster keeper);
    *  3. land kept rows by static overwrite of `$keptDir/ingest_batch=<id>`
    *     and append them to the index via [[VersionedIvf.ingestBatch]] as a
    *     marker-committed segment, so a replayed batch replaces its own
    *     output, skips the append by marker name, and (because step 1
    *     never reads batches ≥ its own id) cannot be suppressed by its
    *     first attempt.
    *
    * Suppression recall is nprobe-bounded by design (the production
    * SemDeDup trade: at threshold ≥ 0.9 near-duplicates are near-parallel
    * and land in the same coarse cell, so small nprobe catches them;
    * nprobe = #centroids makes the gate exact). Centroids are FROZEN at
    * stream start — the [[VersionedIvf.append]] contract. Ids must be globally
    * unique across index and arrivals.
    */
  def streamSemanticGate(
      stream: DataFrame, vecCol: String, idCol: String,
      indexPath: String, keptDir: String, checkpointDir: String,
      threshold: Double, nprobe: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // GENERATION-TAGGED freeze: the tag lets each batch cheaply validate
    // that the index is still on the generation these centroids came
    // from — a mid-stream consolidate keeps them valid, a retrain does not
    val frozen = VersionedIvf.frozenCentroids(stream.sparkSession, indexPath)
    graft.streaming.GateStream.start(stream, checkpointDir)(
      semanticGateBatch(_, vecCol, idCol, indexPath, keptDir, _, threshold,
        nprobe, Some(frozen)))
  }

  /** One gate batch of [[streamSemanticGate]], exposed for replay testing
    * and receipts. `frozen` is (generation, centroids) as
    * [[VersionedIvf.frozenCentroids]] read them at stream start: when the
    * index has moved past that generation (a mid-stream retrain committed
    * a new generation with re-trained centroids), the batch re-reads the
    * CURRENT centroids instead of pruning clusters and assigning its
    * segment with stale ones — which would break both the suppression
    * probe's partition pruning and the misassigned==0 drift invariant of
    * the new generation. `None` (the direct-call shape) always re-reads.
    */
  private[graft] def semanticGateBatch(
      batch: DataFrame, vecCol: String, idCol: String,
      indexPath: String, keptDir: String,
      batchId: Long, threshold: Double, nprobe: Int,
      frozen: Option[(Long, Seq[Seq[Float]])] = None): Unit =
    graft.CacheScope.withScope {
      val spark = batch.sparkSession
      val (gen, dir) = GenerationLog.requireCurrent(spark, indexPath)
      val centroids = frozen match {
        case Some((g, c)) if g == gen => c
        case _ => graft.Trace.t("semgate.centroids")(VersionedIvf.readCentroids(spark, dir))
      }
      // strictly-earlier live membership: base ∪ committed segments with
      // stream ids < this batch, minus tombstones — a replay cannot be
      // suppressed by its first attempt's own vectors, and a forgotten
      // vector no longer suppresses
      val corpus = VersionedIvf.liveCorpus(spark, dir, beforeBatch = Some(batchId))
        // static probed-cluster filter: the base ∪ segments Union blocks
        // dynamic partition pruning (see probedClusters) — and a GATE's
        // index accrues one segment per batch, so the unpruned read grows
        // with stream age, not batch size
        .filter(col("cluster").isin(
          graft.Trace.t("semgate.probed-clusters")(
            probedClusters(batch, vecCol, centroids, nprobe)): _*))
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
          col("cluster"))
      val suppressed = probeAssignedCorpus(corpus, batch, vecCol, idCol,
          k = 1, centroids, nprobe, broadcastQueries = true)
        .filter(col("cos") >= threshold)
        .select(col("query_id"))
      // batch-bounded, two consumers (the semantic-keeper pair pipeline and
      // the final anti-join in the kept write) — persist for the scope or
      // the suppression probe executes twice per batch
      val unseen = graft.CacheScope.persist(batch.join(suppressed,
        batch(idCol) === suppressed("query_id"), "left_anti"))
      val kept = graft.Trace.t("semgate.keepers-plan")(
        Dedup.semanticKeepers(unseen, vecCol, idCol, threshold))
      // kept rows land by static overwrite of the batch's OWN partition dir
      // (replay rewrites the same dir — idempotent), then the index append
      // derives from the WRITTEN partition (replay-identical read-back) as
      // a marker-committed segment that a replay skips by marker name
      val batchKeptDir = s"$keptDir/ingest_batch=$batchId"
      graft.Trace.t("semgate.kept-write")(
        kept.write.mode("overwrite").option("partitionOverwriteMode", "static")
          .parquet(batchKeptDir))
      // emptiness from the written part-files' footers — no Spark job
      val hasData = graft.Trace.t("semgate.empty-probe")(
        graft.operators.IndexMeta.dirHasRows(spark, batchKeptDir))
      if (hasData)
        graft.Trace.t("semgate.index-append")(VersionedIvf.ingestBatch(
          spark.read.parquet(batchKeptDir), vecCol, idCol, indexPath, batchId,
          // gen-tagged: ingestBatch re-validates UNDER its lock, so a
          // retrain committing between this batch's probe and its append
          // still cannot assign stale clusters into the new generation
          frozenCentroids = Some((gen, centroids))))
    }

  /** Zero-violation recall contract for an ANN path (VERDICT r4 #2): the
    * approximate result must recover at least `floorX1000`/1000 of the brute-
    * force top-k pair set, aggregated over all queries. Emits ONE row when
    * the floor is broken, nothing otherwise — so the frame is provably empty
    * at the committed floor and the correctness gate hash-checks the
    * emptiness (the same contract shape as the CMS/quantile/quantize
    * bounds). Both inputs are deterministic (seeded hashes, fixed data), so
    * the measured recall is a constant per dataset and the floor is a real
    * regression tripwire, not a flaky threshold.
    *
    * Pure integer arithmetic (n_hit·1000 < n_true·floor) — no float
    * division anywhere near the hash gate.
    */
  def recallFloorViolations(
      approx: DataFrame, brute: DataFrame, floorX1000: Int): DataFrame =
    brute.select(col("query_id"), col("neighbor_id"))
      .join(
        approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .select(col("n_true").cast("bigint").as("n_true"),
        col("n_hit").cast("bigint").as("n_hit"),
        lit(floorX1000).cast("bigint").as("floor_x1000"))
      .filter(col("n_hit") * 1000L < col("n_true") * col("floor_x1000"))

  // ---------------------------------------------------------- quantization

  /** Per-vector scalar int8 quantization: each embedding's values mapped to
    * codes 0..255 against its own [min, max] range — the 4× memory/IO
    * reduction that keeps a corpus-scale ANN index in executor memory
    * (probe on codes, exact re-rank on the float originals of the short
    * candidate list). Asymmetric per-vector scaling needs no global
    * statistics pass, so quantization is a narrow map.
    *
    * All arithmetic is staged in binary64 (inputs cast to double FIRST)
    * with one expression shape, so the codes are bit-deterministic and
    * engine-replayable: code = min(255, floor((x - vmin)·255 / (vmax -
    * vmin))). Degenerate constant vectors (vmax == vmin) code to all-0.
    * Output: (id, vmin, vmax, qvec array<int>).
    */
  def quantizeInt8(embs: DataFrame, vecCol: String, idCol: String): DataFrame = {
    // staged projections: vmin/vmax are referenced per ELEMENT inside the
    // transform lambda — inlined they would re-reduce the array per cell
    embs
      .select(col(idCol), transform(col(vecCol), x => x.cast("double")).as("__dv"))
      .select(col(idCol), col("__dv"),
        array_min(col("__dv")).as("vmin"), array_max(col("__dv")).as("vmax"))
      .select(col(idCol), col("vmin"), col("vmax"),
        when(col("vmax") > col("vmin"),
          transform(col("__dv"), x =>
            least(lit(255L),
              floor(((x - col("vmin")) * lit(255.0)) / (col("vmax") - col("vmin"))))
              .cast("int")))
          .otherwise(transform(col("__dv"), _ => lit(0)))
          .as("qvec"))
  }

  /** Midpoint dequantization of [[quantizeInt8]] codes: x̂ = vmin +
    * (code + 0.5)·(vmax - vmin)/255 — reconstruction error is at most half
    * a bucket width per element.
    */
  def dequantizeInt8(quantized: DataFrame, qvecCol: String = "qvec"): DataFrame =
    quantized.withColumn("dqvec",
      transform(col(qvecCol), q =>
        col("vmin") + (q.cast("double") + lit(0.5)) *
          (col("vmax") - col("vmin")) / lit(255.0)))

  // ------------------------------------------------- product quantization

  /** Train product-quantization codebooks: the vector space splits into `m`
    * contiguous subspaces of dim/m dims; each subspace gets its own
    * `ksub`-centroid codebook via Lloyd iterations run as DataFrame plans
    * (assignment = a narrow pass against broadcast codebook literals, L2 in
    * the subspace; update = one groupBy aggregation over exploded
    * subvector dims). Codebooks live on the driver (m·ksub·(dim/m) floats —
    * tiny); the corpus never leaves executors. Deterministic: seeds are the
    * subvectors of the first `ksub` vectors by id.
    *
    * Returns codebooks(s)(c) = sub-centroid vector of length dim/m.
    */
  def trainPqCodebooks(
      corpus0: DataFrame, vecCol: String, idCol: String,
      m: Int, ksub: Int, iterations: Int = 3,
      trainSample: Int = 1): Seq[Seq[Seq[Float]]] = {
    // same deterministic-sample contract as trainIvfCentroids
    val corpus = trainSampleOf(corpus0, idCol, trainSample)
    val dim = corpus.select(size(col(vecCol)).as("d")).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val seedVecs = corpus.orderBy(col(idCol)).limit(ksub)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toSeq).toSeq
    require(seedVecs.size == ksub, s"corpus smaller than ksub=$ksub")
    var books: Seq[Seq[Seq[Float]]] =
      (0 until m).map(s => seedVecs.map(v => v.slice(s * dsub, (s + 1) * dsub)))
    (1 to iterations).foreach { _ =>
      // assignment = ONE native pq-codes eval per vector (m tight argmin
      // loops); update = ONE aggregation over (subspace, code) groups with
      // the native vector-avg on the sliced subvector — m rows per vector
      // cross the explode (not m×dsub), and m×ksub×dsub partial sums cross
      // the shuffle (see trainIvfCentroids note)
      val updated = corpus
        .select(col(vecCol).as("v"),
          graft.functions.VectorHash.pqCodes(col(vecCol), books).as("codes"))
        .select(col("v"), posexplode(col("codes")).as(Seq("s", "c")))
        .groupBy("s", "c").agg(graft.functions.VectorStats.vectorAvg(
          slice(col("v"), col("s") * dsub + 1, lit(dsub))).as("centroid"))
        // same null-group guard as the coarse trainer: getOrElse keeps the
        // previous sub-centroid for a group that averaged to null
        .filter(col("centroid").isNotNull)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toSeq).toMap
      books = books.zipWithIndex.map { case (book, sI) =>
        book.indices.map(c => updated.getOrElse((sI, c), book(c)))
      }
    }
    books
  }

  /** Nearest sub-centroid code (L2 in the subspace) for a dynamic subspace
    * index `s`, as a composable column: the codebooks ride along as one
    * nested literal and `element_at` selects the right book per row.
    * First-minimum tie-break via array_position (deterministic: both sides
    * are the same double computation). Kept as the REFERENCE implementation
    * — the hot paths use the native
    * [[graft.functions.VectorHash.pqCodes]] expression, pinned equal to
    * this form in OperatorsSpec.
    */
  private[operators] def pqSubCode(s: Column, sv: Column, books: Seq[Seq[Seq[Float]]]): Column = {
    val cb = typedLit(books.map(_.map(_.map(_.toDouble))))
    val dists = transform(element_at(cb, s.cast("int") + 1), cvec =>
      aggregate(zip_with(sv, cvec, (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (a, e) => a + e))
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** PQ-encode the corpus: (vec_id, codes array<int> of length m). At m=8,
    * ksub=16 the index payload is 8 small ints per vector vs 64 floats —
    * the memory face of corpus-scale ANN (the float originals stay on disk
    * and are touched only for the short re-rank candidate list).
    */
  def pqEncode(
      corpus: DataFrame, vecCol: String, idCol: String,
      books: Seq[Seq[Seq[Float]]]): DataFrame =
    corpus.select(col(idCol).as("vec_id"),
      graft.functions.VectorHash.pqCodes(col(vecCol), books).as("codes"))

  /** PQ asymmetric-distance top-k: each (small, broadcast) query builds ONE
    * lookup table lut(s)(c) = ⟨q_s, codebook(s)(c)⟩ before the join; every
    * corpus code row then scores approx_ip = Σ_s lut(s)(codes(s)) — m array
    * lookups per candidate instead of a dim-length float fold, against an
    * index that is m ints per vector. The top `rerank·k` by approximate
    * inner product are re-ranked with exact cosine against the float
    * originals of the candidates ONLY (an id equi-join back to the corpus).
    * Same output shape as [[bruteForceTopK]]; `rerank·k ≥ corpus` makes the
    * result provably equal to brute force (the hash-gated exactness path).
    */
  def pqTopK(
      queries: DataFrame, corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, books: Seq[Seq[Seq[Float]]], rerank: Int = 4): DataFrame = {
    val m = books.size
    val dsub = books.head.head.size
    val cb = typedLit(books.map(_.map(_.map(_.toDouble))))
    val codes = pqEncode(corpus, vecCol, idCol, books)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("lut", array((0 until m).map(sI =>
        transform(element_at(cb, sI + 1), cvec =>
          aggregate(
            zip_with(slice(col("qv"), sI * dsub + 1, dsub), cvec,
              (x, y) => x.cast("double") * y),
            lit(0.0), (a, e) => a + e))): _*))
    val scored = codes.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(sequence(lit(1), lit(m)), lit(0.0), (acc, sI) =>
          acc + element_at(element_at(col("lut"), sI),
            element_at(col("codes"), sI) + 1)).as("approx_ip"))
    adcRerank(scored, q.select(col("query_id"), col("qv")),
      corpus, vecCol, idCol, k, rerank)
  }

  /** Shared ADC candidate re-rank tail: top `rerank·k` per query by
    * approximate inner product, exact cosine against the candidates' float
    * originals ONLY (an id equi-join back to the corpus), per-query top-k.
    * ONE copy for the flat-PQ and IVF-PQ paths — both are oracle-pinned to
    * brute force on their exact configurations, and a tie-break fix applied
    * to one but not the other would silently split them.
    */
  private def adcRerank(
      scored: DataFrame, q: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int, rerank: Int): DataFrame = {
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_ip").desc, col("neighbor_id").asc)
    val cands = scored.withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= k * rerank)
      .select(col("query_id"), col("neighbor_id"))
    val rescored = cands
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
        Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  // --------------------------------------------------------------- IVF-PQ

  /** Residual of a vector against its assigned coarse centroid, as a float
    * array column (`v - c[cluster]`, element-wise).
    */
  private def residualCol(
      vec: Column, cluster: Column, centroids: Seq[Seq[Float]]): Column =
    zip_with(vec, element_at(typedLit(centroids), cluster.cast("int") + 1),
      (x, y) => x - y)

  /** Train the residual-PQ half of an IVF-PQ index: assign each corpus
    * vector to its nearest coarse centroid, then train PQ codebooks on the
    * RESIDUALS `v - c[cluster]`. Residuals concentrate around the origin
    * regardless of which cluster a vector came from, so a shared codebook
    * quantizes them far more finely than the raw vectors — the reason
    * IVF-PQ beats flat PQ at equal code budget (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011, §IV).
    */
  def trainIvfPqBooks(
      corpus: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[Seq[Float]], m: Int, ksub: Int,
      iterations: Int = 3, trainSample: Int = 1): Seq[Seq[Seq[Float]]] = {
    // checkpoint the residual frame under a scope: codebook training runs
    // iterations+2 actions over it, and each would otherwise re-evaluate
    // nearestCentroid (k cosines/row) + the residual subtraction on top of
    // the scan (see the trainScratch note for why not CacheScope.persist).
    // Sampling applies BEFORE the residual computation, so the expensive
    // k-cosine assignment also runs only on the training sample.
    val residuals = trainScratch(
      trainSampleOf(corpus, idCol, trainSample).select(col(idCol),
        residualCol(col(vecCol), nearestCentroid(col(vecCol), centroids), centroids)
          .as(vecCol)))
    trainPqCodebooks(residuals, vecCol, idCol, m, ksub, iterations)
  }

  /** IVF-PQ encode: (vec_id, cluster, codes) — the coarse cluster id plus
    * the PQ codes of the residual. The index payload per vector is one
    * small int + m small ints; the float originals stay on disk for the
    * re-rank join only.
    */
  def ivfPqEncode(
      corpus: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[Seq[Float]], books: Seq[Seq[Seq[Float]]]): DataFrame =
    corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("__v"),
        nearestCentroid(col(vecCol), centroids).as("cluster"))
      .select(col("vec_id"), col("cluster"),
        graft.functions.VectorHash.pqCodes(
          residualCol(col("__v"), col("cluster"), centroids), books).as("codes"))

  /** IVF-PQ ADC top-k — the production corpus-scale ANN architecture
    * (coarse quantizer gates the probe; PQ codes of residuals score the
    * survivors; exact cosine re-ranks a short candidate list):
    *
    *  - each query probes its `nprobe` closest coarse clusters, so only
    *    ~nprobe/k_coarse of the corpus is scored (the IVF gate — a cluster-id
    *    equi-join, never an n·m cross product);
    *  - scoring is asymmetric: approx_ip = ⟨q, c[cluster]⟩ + Σ_s lut(s)(code_s),
    *    exploiting ⟨q, c + r⟩ = ⟨q, c⟩ + ⟨q, r⟩ — the same per-query LUT as
    *    flat PQ works unchanged on residuals because the inner product is
    *    linear, so the LUT build stays m·ksub dot products per query;
    *  - the top `rerank·k` by approx_ip are re-ranked with exact cosine
    *    against the candidates' float originals only.
    *
    * `nprobe = centroids.size` and `rerank·k ≥ corpus` make the result
    * provably equal to brute force (each corpus vector joins its single
    * assigned cluster exactly once, every cluster is probed, every candidate
    * is exactly re-ranked) — the hash-gated exactness path.
    */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, centroids: Seq[Seq[Float]], books: Seq[Seq[Seq[Float]]],
      nprobe: Int = 2, rerank: Int = 4): DataFrame =
    ivfPqProbe(
      ivfPqEncode(corpus, vecCol, idCol, centroids, books),
      queries, corpus, vecCol, idCol, k, centroids, books, nprobe, rerank)

  /** The gated ADC probe + exact re-rank shared by the in-memory and the
    * persisted-index IVF-PQ paths — ONE copy, for the same reason
    * [[probeAssignedCorpus]] is: both paths are oracle-pinned to brute
    * force on their exact configurations.
    */
  private[operators] def ivfPqProbe(
      enc: DataFrame, queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int,
      centroids: Seq[Seq[Float]], books: Seq[Seq[Seq[Float]]],
      nprobe: Int, rerank: Int): DataFrame = {
    val m = books.size
    val dsub = books.head.head.size
    val cb = typedLit(books.map(_.map(_.map(_.toDouble))))
    val centD = typedLit(centroids.map(_.map(_.toDouble)))
    val codes = enc.withColumnRenamed("vec_id", "neighbor_id")
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("lut", array((0 until m).map(sI =>
        transform(element_at(cb, sI + 1), cvec =>
          aggregate(
            zip_with(slice(col("qv"), sI * dsub + 1, dsub), cvec,
              (x, y) => x.cast("double") * y),
            lit(0.0), (a, e) => a + e))): _*))
    val q = q0
      .withColumn("cluster",
        explode(probeCentroids(col("qv"), centroids, nprobe)))
      .withColumn("ip_qc",
        aggregate(
          zip_with(col("qv"), element_at(centD, col("cluster") + 1),
            (x, y) => x.cast("double") * y),
          lit(0.0), (a, e) => a + e))
    val scored = codes.join(broadcast(q), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("ip_qc") + aggregate(sequence(lit(1), lit(m)), lit(0.0), (acc, sI) =>
          acc + element_at(element_at(col("lut"), sI),
            element_at(col("codes"), sI) + 1))).as("approx_ip"))
    adcRerank(scored, q0.select(col("query_id"), col("qv")),
      corpus, vecCol, idCol, k, rerank)
  }

  /** Corrupt-embedding screen: ids of vectors whose worst per-dimension
    * z-score (against the corpus's own per-dimension mean/σ) exceeds
    * `zThreshold` — the cheap sanity gate that catches scaling bugs,
    * NaN-adjacent garbage, and wrong-model vectors before they poison an
    * ANN index or a near-dup pass. Two aggregations: one per-dimension
    * stats pass (64·|corpus| exploded rows, combines map-side to 64 rows),
    * one per-vector max-z reduce; the stats frame broadcasts (one row per
    * dimension). Choose `zThreshold` comfortably above the corpus's
    * natural extreme-value range (max |z| over n·d gaussians grows like
    * √(2·ln(n·d)) ≈ 5 at 10⁶ samples) so membership is margin-stable.
    */
  def embeddingOutlierIds(
      embs: DataFrame, vecCol: String, idCol: String, zThreshold: Double): DataFrame = {
    val el = embs.select(col(idCol).as("vid"),
      posexplode(col(vecCol)).as(Seq("d", "v")))
    val stats = el.groupBy(col("d"))
      .agg(avg(col("v")).as("m"), stddev_samp(col("v")).as("s"))
      .filter(col("s") > 0)
    el.join(broadcast(stats), "d")
      .groupBy(col("vid"))
      .agg(max(abs((col("v") - col("m")) / col("s"))).as("max_absz"))
      .filter(col("max_absz") > zThreshold)
      .select(col("vid").as(idCol))
  }

  /** Reciprocal-rank fusion of N rankers (Cormack et al.'s RRF — the
    * standard hybrid-retrieval combiner, e.g. dense-cosine ∪ lexical):
    * each ranker contributes `10⁹ div (k0 + rank)` to every (query, item)
    * it ranked, contributions SUM, and the fused top-k re-ranks on the
    * summed score. Scores are exact integers — 10⁹ div n is a pure BIGINT
    * op — so fusion output is order-independent and engine-reproducible
    * (the same property as the integerized sparse cosine and PageRank),
    * where float 1/(k0+rank) sums can flip equal-score ties between
    * engines. Plan shape: union of answer-sized ranking frames + one
    * (query, item) aggregation + one per-query top-k window — all inputs
    * are k·|queries| rows, so fusion cost never scales with the corpus.
    *
    * Inputs must carry (query_id, item_id, rank); ties re-break
    * deterministically by (score desc, item_id asc).
    */
  def rrfFuse(rankings: Seq[DataFrame], k0: Int = 60, k: Int = 5): DataFrame = {
    require(rankings.nonEmpty)
    val contribs = rankings.map(_.select(col("query_id"), col("item_id"),
      expr(s"CAST(1000000000 DIV ($k0 + rank) AS BIGINT)").as("contrib")))
    val fused = contribs.reduce(_ unionAll _)
      .groupBy(col("query_id"), col("item_id"))
      .agg(sum(col("contrib")).as("rrf_x1e9"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_x1e9").desc, col("item_id").asc)
    fused.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Zero-violation contract for the quantize→dequantize round trip: every
    * element must reconstruct within half a bucket width (+1 ulp slack for
    * the float→double path). The violations frame is provably empty and
    * the gate hash-checks the emptiness — same contract shape as the CMS
    * and quantile-sketch bounds.
    */
  def quantizationBoundViolations(
      embs: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val dq = dequantizeInt8(
      quantizeInt8(embs, vecCol, idCol))
      .join(embs.select(col(idCol), transform(col(vecCol), x => x.cast("double")).as("__orig")),
        Seq(idCol))
    dq.select(col(idCol),
        aggregate(
          zip_with(col("__orig"), col("dqvec"), (a, b) => abs(a - b)),
          lit(0.0), (acc, e) => greatest(acc, e)).as("max_err"),
        ((col("vmax") - col("vmin")) / lit(255.0) * lit(0.5000001)).as("bound"))
      .filter(col("max_err") > col("bound"))
  }
}
