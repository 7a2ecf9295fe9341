package graft
package queries

import graft.operators.{GenerationLog, Similarity, VersionedIvf, VersionedIvfPq}
import org.apache.spark.sql.functions._

import QueryFixtures._
import Role._

/** Similarity search (s*): k-means, brute-force and approximate k-NN
  * (LSH, IVF, PQ, IVF-PQ) and the persisted, versioned index lifecycle.
  */
private[graft] object SimilarityQueries {

  /** Committed ANN recall floors (×1000) for the s_knn_lsh / s_knn_ivf
    * contract queries. Both paths are seeded-deterministic, so recall over
    * a shipped dataset is a constant; the floors sit below the measured
    * values at every shipped SF (measured values in BASELINE.md) with
    * headroom for dataset regeneration, and trip on any bucketing/probe
    * regression that actually costs recall.
    */
  private val KnnLshRecallFloorX1000 = 300 // measured ≥ 500 at sf{0.001,0.01,0.1}
  private val KnnIvfRecallFloorX1000 = 600 // measured ≥ 780 at sf{0.001,0.01,0.1}
  private val KnnPqRecallFloorX1000 = 600 // measured ≥ 800 at sf{0.001,0.01,0.1} (m=8, ksub=32, rerank=16)
  private val KnnIvfPqRecallFloorX1000 = 450 // measured 920/920/600 at sf{0.001,0.01,0.1} (k=8, nprobe=3, m=8, ksub=32, rerank=16; RecallProbe)

  val all: Seq[Query] = Seq(
    // --- similarity ---------------------------------------------------------
    // the Lloyd ASSIGNMENT step, pinned cross-engine: nearest centroid (max
    // cosine, ties → larger index — greatest(struct(sim, idx)) semantics)
    // against the deterministic seed set trainIvfCentroids starts from
    // (first k vectors by id). The exact-probe IVF gates (nprobe = all ≡
    // brute) hold for ANY bucketing, so this is the one query that anchors
    // the trainer/bucketer's argmax itself against an independent engine
    // prototypicality pruning (Sorscher et al.): keep the HARDEST quarter
    // of each cluster — cosine-to-assigned-centroid ranking, integer-exact
    // per-cluster quota (⌊n/4⌋), same fixed seed centroids as the kmeans
    // faces so the whole selection replays in SQL
    Query("s_prototype_prune", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val seeds = emb.orderBy(col("vec_id")).limit(8)
        .select(col("embedding")).collect() // bounded: k = 8 rows
        .map(_.getSeq[Float](0).toSeq).toSeq
      Similarity.pruneByPrototypicality(emb, "embedding", "vec_id", seeds,
        keepNumer = 1, keepDenom = 4)
        .select(col("vec_id"), col("cluster"))
    },
      // assigned-centroid cosine ranked ASC per cluster (hardest first),
      // integer-exact ⌊n/4⌋ quota — ordering by list_cosine_similarity is
      // the same cross-engine contract every s_knn oracle already relies on
      Timed("WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding AS cv FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)), scored AS (SELECT e.vec_id, cent.c, list_cosine_similarity(e.embedding, cent.cv) AS sim FROM embeddings e CROSS JOIN cent), assign AS (SELECT vec_id, c, sim FROM (SELECT vec_id, c, sim, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c DESC) AS rn FROM scored) WHERE rn = 1), r AS (SELECT vec_id, c, row_number() OVER (PARTITION BY c ORDER BY sim ASC, vec_id ASC) AS rn, count(*) OVER (PARTITION BY c) AS n FROM assign) SELECT vec_id, CAST(c AS BIGINT) AS cluster FROM r WHERE rn * 4 <= n * 1")),
    Query("s_kmeans_assign", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val seeds = emb.orderBy(col("vec_id")).limit(8)
        .select(col("embedding")).collect() // bounded: k = 8 rows
        .map(_.getSeq[Float](0).toSeq).toSeq
      emb.select(col("vec_id"),
        Similarity.nearestCentroid(col("embedding"), seeds)
          .cast("bigint").as("cluster"))
    },
      // argmax by (sim, cluster-idx) lexicographic max == greatest(struct)
      Timed("WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding AS cv FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)), scored AS (SELECT e.vec_id, cent.c, list_cosine_similarity(e.embedding, cent.cv) AS sim FROM embeddings e CROSS JOIN cent) SELECT vec_id, CAST(c AS BIGINT) AS cluster FROM (SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c DESC) AS rn FROM scored) WHERE rn = 1")),
    // ...and the Lloyd UPDATE step: per-(cluster, dimension) mean of the
    // assigned vectors, exactly the aggregation trainIvfCentroids folds
    // back into the next round's centroids. Emitted as FLOAT — the float32
    // rounding absorbs double summation-order noise (a ~1e-15-relative
    // double difference almost never straddles a ~1e-7-wide float32
    // boundary), so the full train round (assign + update) is cross-engine
    // pinned without a tolerance oracle
    Query("s_kmeans_update", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val seeds = emb.orderBy(col("vec_id")).limit(8)
        .select(col("embedding")).collect() // bounded: k = 8 rows
        .map(_.getSeq[Float](0).toSeq).toSeq
      emb.select(Similarity.nearestCentroid(col("embedding"), seeds).as("c"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("c"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .select(col("c").cast("bigint").as("c"), col("pos").cast("bigint").as("pos"),
          col("m").cast("float").as("m"))
    },
      // the update means, float32-rounded on both sides; 0-based pos
      Timed("WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding AS cv FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)), scored AS (SELECT e.vec_id, cent.c, list_cosine_similarity(e.embedding, cent.cv) AS sim FROM embeddings e CROSS JOIN cent), assign AS (SELECT vec_id, c FROM (SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c DESC) AS rn FROM scored) WHERE rn = 1) SELECT CAST(a.c AS BIGINT) AS c, CAST(u.pos - 1 AS BIGINT) AS pos, CAST(avg(u.x) AS FLOAT) AS m FROM assign a JOIN (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos FROM embeddings) u ON a.vec_id = u.vec_id GROUP BY 1, 2")),
    Query("s_knn_brute", (s, d) => {
      val emb = tb(s, d, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5")),
    // production multi-table (OR-amplified) LSH top-k: 16 independent
    // 6-plane families — the production recall knob; single-table recall on
    // this worst-case near-orthogonal corpus is ~5%, 16 tables measure
    // 50-72%. rows-only (recall < 1 by design); floor contract = sibling
    Query("s_knn_lsh", (s, d) => {
      val emb = tb(s, d, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id",
          k = 5, planes = 6, tables = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      // ANN recall-floor contracts (VERDICT r4 #2): recall < 1 by design on
      // both approximate paths, so the hash-gated property is a FLOOR on
      // aggregate recall@k vs the brute-force frame. Both sides are seeded-
      // deterministic, so measured recall is a constant per dataset; the
      // committed floors sit below the measured values at every shipped SF
      // (see BASELINE.md) and trip on any bucketing/probe regression.
      BenchOnly(Query("s_knn_lsh_contract", (s, d) => {
        val emb = tb(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        Similarity.recallFloorViolations(
          Similarity.lshTopK(q, emb, "embedding", "vec_id", k = 5, planes = 6, tables = 16),
          Similarity.bruteForceTopK(q, emb, "embedding", "vec_id", k = 5),
          floorX1000 = KnnLshRecallFloorX1000)
      },
        Contract("SELECT CAST(0 AS BIGINT) AS n_true, CAST(0 AS BIGINT) AS n_hit, CAST(0 AS BIGINT) AS floor_x1000 FROM embeddings WHERE 1 = 0")))),
    // production IVF top-k: coarse-quantize once, probe top-nprobe centroid
    // buckets, exact re-rank. rows-only; floor contract = sibling
    Query("s_knn_ivf", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id",
          k = 5, centroids, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      BenchOnly(Query("s_knn_ivf_contract", (s, d) => {
        val emb = tb(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
        Similarity.recallFloorViolations(
          Similarity.ivfTopK(q, emb, "embedding", "vec_id", k = 5, centroids, nprobe = 2),
          Similarity.bruteForceTopK(q, emb, "embedding", "vec_id", k = 5),
          floorX1000 = KnnIvfRecallFloorX1000)
      },
        Contract("SELECT CAST(0 AS BIGINT) AS n_true, CAST(0 AS BIGINT) AS n_hit, CAST(0 AS BIGINT) AS floor_x1000 FROM embeddings WHERE 1 = 0")))),
    Query("s_knn_ivf_exact", (s, d) => {
      // nprobe = #centroids → every bucket probed → provably equal to brute
      // force: the IVF machinery itself (training, assignment, probe join,
      // re-rank) rides the hash gate, not just a rows-only check
      val emb = tb(s, d, "embeddings")
      val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id",
        k = 5, centroids, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      // nprobe = #centroids probes every bucket → identical to brute force
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5")),
    // production PQ-ADC top-k: 8 subspaces × 32-centroid codebooks, per-
    // query LUT built before the probe, top rerank·k by approximate inner
    // product re-ranked with exact cosine on the candidates' float
    // originals only. The index payload is 8 ints/vector (vs 64 floats) —
    // the memory face of 100 TB ANN. rows-only; floor contract = sibling
    Query("s_knn_pq", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val books = Similarity.trainPqCodebooks(emb, "embedding", "vec_id", m = 8, ksub = 32)
      Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id",
          k = 5, books, rerank = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      BenchOnly(Query("s_knn_pq_contract", (s, d) => {
        val emb = tb(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val books = Similarity.trainPqCodebooks(emb, "embedding", "vec_id", m = 8, ksub = 32)
        Similarity.recallFloorViolations(
          Similarity.pqTopK(q, emb, "embedding", "vec_id", k = 5, books, rerank = 16),
          Similarity.bruteForceTopK(q, emb, "embedding", "vec_id", k = 5),
          floorX1000 = KnnPqRecallFloorX1000)
      },
        Contract("SELECT CAST(0 AS BIGINT) AS n_true, CAST(0 AS BIGINT) AS n_hit, CAST(0 AS BIGINT) AS floor_x1000 FROM embeddings WHERE 1 = 0")))),
    Query("s_knn_pq_exact", (s, d) => {
      // rerank·k ≥ corpus → every candidate re-ranked exactly → provably
      // equal to brute force: codebook training, encoding, the ADC probe
      // and the re-rank join all ride the hash gate, not just rows-only
      val emb = tb(s, d, "embeddings")
      val books = Similarity.trainPqCodebooks(emb, "embedding", "vec_id", m = 8, ksub = 32)
      Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id",
          k = 5, books, rerank = 1000000)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      // rerank·k ≥ corpus → every candidate exactly re-ranked → brute force
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5")),
    // production IVF-PQ (the FAISS-style corpus-scale architecture): coarse
    // centroids gate the probe to nprobe/k_coarse of the corpus, PQ codes of
    // the RESIDUALS v - c[cluster] score survivors via the same per-query
    // LUT as flat PQ (⟨q, c+r⟩ = ⟨q,c⟩ + ⟨q,r⟩ — the LUT is linear), exact
    // cosine re-ranks the short list. rows-only; floor contract = sibling
    Query("s_knn_ivfpq", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
      val books = Similarity.trainIvfPqBooks(emb, "embedding", "vec_id",
        centroids, m = 8, ksub = 32)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id",
          k = 5, centroids, books, nprobe = 3, rerank = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      BenchOnly(Query("s_knn_ivfpq_contract", (s, d) => {
        val emb = tb(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
        val books = Similarity.trainIvfPqBooks(emb, "embedding", "vec_id",
          centroids, m = 8, ksub = 32)
        Similarity.recallFloorViolations(
          Similarity.ivfPqTopK(q, emb, "embedding", "vec_id", k = 5, centroids, books,
            nprobe = 3, rerank = 16),
          Similarity.bruteForceTopK(q, emb, "embedding", "vec_id", k = 5),
          floorX1000 = KnnIvfPqRecallFloorX1000)
      },
        Contract("SELECT CAST(0 AS BIGINT) AS n_true, CAST(0 AS BIGINT) AS n_hit, CAST(0 AS BIGINT) AS floor_x1000 FROM embeddings WHERE 1 = 0")))),
    Query("s_knn_ivfpq_exact", (s, d) => {
      // nprobe = #centroids AND rerank·k ≥ corpus → every corpus vector is
      // ADC-scored exactly once (it joins its single assigned cluster) and
      // every candidate is exactly re-ranked → provably equal to brute
      // force: coarse training, residual codebooks, the gated ADC probe and
      // the re-rank all ride the hash gate
      val emb = tb(s, d, "embeddings")
      val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
      val books = Similarity.trainIvfPqBooks(emb, "embedding", "vec_id",
        centroids, m = 8, ksub = 32)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id",
          k = 5, centroids, books, nprobe = 8, rerank = 1000000)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      // nprobe = all clusters + rerank·k ≥ corpus → IVF-PQ ≡ brute force
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5")),
    Query("s_knn_indexed", (s, d) => {
      // the PERSISTED index path: centroids + cluster-partitioned corpus on
      // disk (built once per sf dir), probed without re-assignment.
      // nprobe = #centroids keeps it provably equal to brute force, so the
      // whole write→read→probe loop rides the hash gate
      val emb = tb(s, d, "embeddings")
      VersionedIvf.topKFromIndex(s, ivfIndexPath(s, d), emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      // the persisted-index path probes every stored cluster (nprobe =
      // #centroids) → provably equal to brute force; write→read→probe all
      // inside the hash gate
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5")),
    // the incremental-ingest face of the persisted index (the 100 TB shape:
    // daily arrivals are assigned against the FROZEN centroids and appended
    // to their cluster partitions — no retrain, no rewrite). Built from
    // HALF the corpus + VersionedIvf.append of the other half; nprobe =
    // #centroids makes the probe provably equal to brute force over the
    // FULL corpus, so build + append + probe all ride the hash gate — a
    // lost or double-appended row could not hash-match
    Query("s_knn_indexed_incremental", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfIncrIndex", d) {
        val dir = Fixtures.dir("ivfidxinc")
        val half1 = emb.filter(col("vec_id") % 2 === 0)
        val half2 = emb.filter(col("vec_id") % 2 === 1)
        // centroids trained on the base half only — the frozen-quantizer
        // contract is exactly that later arrivals never influence them
        VersionedIvf.write(half1, "embedding", "vec_id",
          Similarity.trainIvfCentroids(half1, "embedding", "vec_id", k = 8), dir.toString)
        VersionedIvf.append(half2, "embedding", "vec_id", dir.toString)
        dir.toString
      }
      VersionedIvf.topKFromIndex(s, path, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      // base-half build + frozen-centroid append must reconstruct the FULL
      // corpus: exhaustive probe ≡ brute force — a lost/duplicated append row
      // cannot hash-match
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5")),
    // the STREAMING-ingest face of the index: arrivals land as files, a
    // Structured Streaming query assigns each micro-batch against the
    // FROZEN centroids and appends into per-batch partitions (replay-
    // idempotent). nprobe = #centroids ⇒ probe ≡ brute over the full
    // corpus — a batch lost, duplicated, or mis-assigned cannot hash-match
    Query("e_stream_index_append", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfStreamIndex", d) {
        val dir = Fixtures.dir("ivfidxstr")
        val landing = Fixtures.dir("ivfland")
        val ckpt = Fixtures.dir("ivfstrck")
        val half1 = emb.filter(col("vec_id") % 2 === 0)
        val half2 = emb.filter(col("vec_id") % 2 === 1)
        VersionedIvf.write(half1, "embedding", "vec_id",
          Similarity.trainIvfCentroids(half1, "embedding", "vec_id", k = 8), dir.toString)
        half2.repartition(4).write.mode("overwrite").parquet(landing.toString)
        VersionedIvf.streamAppend(
          s.readStream.schema(half2.schema).option("maxFilesPerTrigger", 1)
            .parquet(landing.toString),
          "embedding", "vec_id", dir.toString, ckpt.toString)
          .awaitTermination()
        dir.toString
      }
      VersionedIvf.topKFromIndex(s, path, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      // streamed build + append must reconstruct the FULL corpus, same
      // exactness argument as the batch incremental face
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5")),
    // the versioned index's STREAMING ingest: each micro-batch lands as a
    // marker-committed SEGMENT (dir-create + file-create only — replay
    // detected by the `.s<batchId>` marker suffix, so exactly-once without
    // dynamic partition overwrite, whose job commit renames directories and
    // is banned on object stores). Exhaustive probe ≡ full-corpus brute
    Query("e_versioned_stream_ingest", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfVersionedStream", d) {
        val dir = Fixtures.dir("ivfverstr")
        val landing = Fixtures.dir("ivfverland")
        val ckpt = Fixtures.dir("ivfverck")
        val half1 = emb.filter(col("vec_id") % 2 === 0)
        val half2 = emb.filter(col("vec_id") % 2 === 1)
        VersionedIvf.write(half1, "embedding", "vec_id",
          Similarity.trainIvfCentroids(half1, "embedding", "vec_id", k = 8),
          dir.toString)
        half2.repartition(4).write.mode("overwrite").parquet(landing.toString)
        VersionedIvf.streamAppend(
          s.readStream.schema(half2.schema).option("maxFilesPerTrigger", 1)
            .parquet(landing.toString),
          "embedding", "vec_id", dir.toString, ckpt.toString)
          .awaitTermination()
        dir.toString
      }
      VersionedIvf.topKFromIndex(s, path, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      // versioned build + marker-committed stream segments must reconstruct
      // the FULL corpus, same exactness argument as e_stream_index_append
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5")),
    // the DELETE face of the index lifecycle (retention / right-to-be-
    // forgotten): full build, then every vec_id % 7 == 3 deleted IN PLACE —
    // only the affected cluster partitions rewrite (emptied ones drop).
    // Exhaustive probe ≡ brute force over the SURVIVING corpus: a row that
    // out-lives its delete, or a survivor lost in the rewrite, cannot
    // hash-match
    Query("s_knn_indexed_deleted", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfDelIndex", d) {
        val dir = Fixtures.dir("ivfidxdel")
        VersionedIvf.write(emb, "embedding", "vec_id",
          Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8), dir.toString)
        VersionedIvf.delete(s, dir.toString,
          emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")), "vec_id")
        dir.toString
      }
      VersionedIvf.topKFromIndex(s, path,
        emb.filter(col("vec_id") < 10 && col("vec_id") % 7 =!= 3),
        "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      // brute force over the SURVIVING corpus only — deleted rows must be
      // gone from the index, surviving rows must all still be there
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id AND c.vec_id % 7 != 3 WHERE q.vec_id < 10 AND q.vec_id % 7 != 3) WHERE rank <= 5")),
    // the PURGE face (r9 VERDICT #1): delete %7==3, PURGE the tombstones,
    // then re-add exactly the deleted rows through the stream-ingest face —
    // before the purge that ingest is screened, after it it lands, so the
    // index must reconstruct the FULL corpus: exhaustive probe ≡ brute.
    // The post-stream purge runs under the checkpoint commit-log guard
    Query("s_knn_purge_readd", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfPurgeIndex", d) {
        val dir = Fixtures.dir("ivfpurge")
        val landing = Fixtures.dir("ivfpland")
        val ckpt = Fixtures.dir("ivfpck")
        VersionedIvf.write(emb, "embedding", "vec_id",
          Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8), dir.toString)
        val deleted = emb.filter(col("vec_id") % 7 === 3)
          .select(col("vec_id"), col("embedding"))
        VersionedIvf.delete(s, dir.toString,
          deleted.select(col("vec_id")), "vec_id")
        VersionedIvf.consolidate(s, dir.toString)
        deleted.coalesce(1).write.mode("overwrite").parquet(landing.toString)
        VersionedIvf.streamAppend(
          s.readStream.schema(deleted.schema).parquet(landing.toString),
          "embedding", "vec_id", dir.toString, ckpt.toString)
          .awaitTermination()
        // stream committed → the guarded (no-op) purge is permitted
        VersionedIvf.consolidate(s, dir.toString,
          checkpointDir = Some(ckpt.toString))
        dir.toString
      }
      VersionedIvf.topKFromIndex(s, path, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      // delete → purge → stream re-add reconstructs the FULL corpus: the
      // purge must both clear the screen (else the re-add is silently
      // dropped) and not resurrect/lose anything else
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5")),
    // the RETRAIN face (r9 VERDICT #3): half build, frozen-centroid append
    // of the other half (the drift shape), then an IN-PLACE centroid
    // retrain over the stored vectors — the staged whole-index swap must
    // lose/duplicate nothing: exhaustive probe ≡ brute over the full corpus
    Query("s_knn_retrained", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfRetrainIndex", d)(buildRetrainFixture(s, emb))
      VersionedIvf.topKFromIndex(s, path, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      // the in-place retrain's full rewrite must preserve corpus content
      // exactly (exhaustive probe ≡ brute holds for ANY centroid set)
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5")),
    // the VERSIONED (generation-log) index: the whole lifecycle — build on
    // the %5!=4 subset, marker-committed append of the rest, tombstone
    // delete of %7==3, consolidate (fold + purge → gen 2), retrain with a
    // fresh k (→ gen 3), vacuum — publishes by marker-file CREATE only,
    // never directory rename (object-store commit model; the rename-free
    // claim is enforced by VersionedIndexSpec's refusing filesystem).
    // Exhaustive probe ≡ brute force over the surviving membership: every
    // generation swap must lose/duplicate/resurrect nothing
    Query("s_knn_versioned", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfVersionedIndex", d)(buildVersionedIvfFixture(s, emb))
      VersionedIvf.topKFromIndex(s, path,
        emb.filter(col("vec_id") < 10 && col("vec_id") % 7 =!= 3),
        "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      // the versioned (generation-log) lifecycle: build → append → tombstone
      // delete → consolidate → retrain → vacuum, all marker-committed —
      // brute force over the surviving membership (everything minus %7==3)
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id AND c.vec_id % 7 != 3 WHERE q.vec_id < 10 AND q.vec_id % 7 != 3) WHERE rank <= 5")),
    // the versioned index's integrity law, over the same full-lifecycle
    // fixture: every live row sits in its argmax cluster (all write paths
    // assign the argmax; retrain reassigns atomically with its generation
    // commit) — zero misassigned rows, provably empty
    Query("s_knn_versioned_drift_contract", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfVersionedIndex", d)(buildVersionedIvfFixture(s, emb))
      VersionedIvf.assignmentDrift(s, path)
        .filter(col("misassigned") > 0L)
        .select(col("ingest_batch"), col("n"), col("misassigned"))
    },
      // every live row of the versioned index sits in its argmax cluster —
      // provably-empty frame over the full-lifecycle fixture
      Contract("SELECT CAST(0 AS BIGINT) AS ingest_batch, CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS misassigned FROM embeddings WHERE 1 = 0")),
    // the generation-log lifecycle telemetry (r11 verdict #5 symmetry: the
    // BM25 segment-health shape for every family on the GenerationLog
    // spine): after the fixture's consolidate + retrain + ttl-0 vacuum the
    // index must read fully settled — ONE committed generation, zero
    // staged debris, zero segments, zero tombstones. Violations provably
    // empty; a vacuum regression, crash loop, or tombstone leak trips it
    Query("s_knn_versioned_health_contract", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfVersionedIndex", d)(buildVersionedIvfFixture(s, emb))
      GenerationLog.indexHealth(s, path)
        .filter(col("n_generations") =!= 1L || col("n_staged_debris") =!= 0L ||
          col("n_segments") =!= 0L || col("n_stream_segments") =!= 0L ||
          col("n_tombstones") =!= 0L)
        .select(col("n_generations"), col("n_segments"), col("n_tombstones"))
    },
      // generation-log lifecycle telemetry: the settled-shape violation
      // frames are provably empty on every consolidated + vacuumed fixture
      Contract("SELECT CAST(0 AS BIGINT) AS n_generations, CAST(0 AS BIGINT) AS n_segments, CAST(0 AS BIGINT) AS n_tombstones FROM embeddings WHERE 1 = 0")),
    // the drift scan's INTEGRITY law: every stored row of a healthy index
    // sits in its argmax cluster (all write paths assign the argmax;
    // retrain reassigns atomically with the centroid swap) — zero
    // misassigned rows across the full build → append → retrain fixture.
    // A cluster dir renamed wrong by a buggy swap/consolidation trips this
    Query("s_knn_drift_contract", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfRetrainIndex", d)(buildRetrainFixture(s, emb))
      VersionedIvf.assignmentDrift(s, path)
        .filter(col("misassigned") > 0L)
        .select(col("ingest_batch"), col("n"), col("misassigned"))
    },
      // every stored row sits in its argmax cluster — provably-empty frame
      Contract("SELECT CAST(0 AS BIGINT) AS ingest_batch, CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS misassigned FROM embeddings WHERE 1 = 0")),
    // the VERSIONED IVF-PQ lifecycle (object-store symmetry across all
    // four index families): build → marker-committed code-segment append →
    // tombstone delete → consolidate → two-level retrain (new quantizers +
    // full re-encode as the NEXT generation, one marker create, zero
    // renames) → vacuum. Exact probe + exact re-rank ≡ brute over the
    // surviving membership
    Query("s_knn_ivfpq_versioned", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfPqVersionedIndex", d) {
        val dir = Fixtures.dir("ivfpqver")
        val base = emb.filter(col("vec_id") % 5 =!= 4)
        val cents = Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 8)
        val books = Similarity.trainIvfPqBooks(base, "embedding", "vec_id",
          cents, m = 8, ksub = 32)
        VersionedIvfPq.write(base, "embedding", "vec_id",
          cents, books, dir.toString)
        VersionedIvfPq.append(emb.filter(col("vec_id") % 5 === 4),
          "embedding", "vec_id", dir.toString)
        VersionedIvfPq.delete(s, dir.toString,
          emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")), "vec_id")
        VersionedIvfPq.consolidate(s, dir.toString)
        VersionedIvfPq.retrain(s, dir.toString, emb,
          "embedding", "vec_id", k = Some(8))
        VersionedIvfPq.vacuum(s, dir.toString, ttlMs = 0L)
        dir.toString
      }
      VersionedIvfPq.topKFromIndex(s, path,
        emb.filter(col("vec_id") < 10 && col("vec_id") % 7 =!= 3), emb,
        "embedding", "vec_id", k = 5, nprobe = 8, rerank = 1000000)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      // the versioned IVF-PQ lifecycle preserves membership exactly: brute
      // over everything minus the tombstoned %7==3 set
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id AND c.vec_id % 7 != 3 WHERE q.vec_id < 10 AND q.vec_id % 7 != 3) WHERE rank <= 5")),
    Query("s_knn_ivfpq_indexed", (s, d) => {
      // the PERSISTED IVF-PQ index: centroids + residual codebooks +
      // cluster-partitioned CODES on disk ((1+m) ints per vector — the
      // originals stay in the base table, joined only for re-rank).
      // nprobe = #centroids + rerank ≥ corpus → the whole
      // train→write→read→probe loop is provably brute force (hash gate)
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfPqIndex", d) {
        val dir = Fixtures.dir("ivfpqidx")
        val cents = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
        val books = Similarity.trainIvfPqBooks(emb, "embedding", "vec_id",
          cents, m = 8, ksub = 32)
        VersionedIvfPq.write(emb, "embedding", "vec_id", cents, books, dir.toString)
        dir.toString
      }
      VersionedIvfPq.topKFromIndex(s, path, emb.filter(col("vec_id") < 10), emb,
        "embedding", "vec_id", k = 5, nprobe = 8, rerank = 1000000)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      // same exactness argument, exercised through the NON-broadcast
      // (sort-merge probe join) plan — the large-query-set path
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5")),
    // the IVF-PQ RETRAIN face (r10 verdict #3 — the retrain asymmetry
    // closed): half build, frozen-QUANTIZER append of the drifted half,
    // then VersionedIvfPq.retrain over the float base table — new coarse
    // centroids + new residual codebooks + full re-encode published as
    // the next generation by ONE marker create. Exhaustive probe +
    // exhaustive re-rank ≡ brute over the full corpus: a row lost,
    // duplicated, or mis-encoded by the retrain cannot hash-match
    Query("s_knn_ivfpq_retrained", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfPqRetrainIndex", d) {
        val dir = Fixtures.dir("ivfpqre")
        val half1 = emb.filter(col("vec_id") % 2 === 0)
        val cents = Similarity.trainIvfCentroids(half1, "embedding", "vec_id", k = 8)
        val books = Similarity.trainIvfPqBooks(half1, "embedding", "vec_id",
          cents, m = 8, ksub = 32)
        VersionedIvfPq.write(half1, "embedding", "vec_id", cents, books, dir.toString)
        VersionedIvfPq.append(emb.filter(col("vec_id") % 2 === 1),
          "embedding", "vec_id", dir.toString)
        VersionedIvfPq.retrain(s, dir.toString, emb, "embedding", "vec_id")
        dir.toString
      }
      VersionedIvfPq.topKFromIndex(s, path, emb.filter(col("vec_id") < 10), emb,
        "embedding", "vec_id", k = 5, nprobe = 8, rerank = 1000000)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      // the PQ retrain's three-table swap must preserve index membership
      // exactly (exact probe + exact re-rank ≡ brute for ANY quantizers)
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5")),
    // delete face of the CODES table: same retention contract as
    // s_knn_indexed_deleted, on the PQ index — rewrite touches only the
    // affected clusters' (1+m)-int rows; exact-mode probe ≡ brute over the
    // survivors (deleted ids can no longer appear as candidates because
    // their codes are gone, even though the float base table still has them)
    Query("s_knn_ivfpq_deleted", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val path = Fixtures.memo("ivfPqDelIndex", d) {
        val dir = Fixtures.dir("ivfpqdelq")
        val cents = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
        val books = Similarity.trainIvfPqBooks(emb, "embedding", "vec_id",
          cents, m = 8, ksub = 32)
        VersionedIvfPq.write(emb, "embedding", "vec_id", cents, books, dir.toString)
        VersionedIvfPq.delete(s, dir.toString,
          emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")), "vec_id")
        dir.toString
      }
      VersionedIvfPq.topKFromIndex(s, path,
        emb.filter(col("vec_id") < 10 && col("vec_id") % 7 =!= 3), emb,
        "embedding", "vec_id", k = 5, nprobe = 8, rerank = 1000000)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      // PQ codes table after delete: same surviving-corpus brute oracle
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id AND c.vec_id % 7 != 3 WHERE q.vec_id < 10 AND q.vec_id % 7 != 3) WHERE rank <= 5")),
    Query("s_knn_shuffled", (s, d) => {
      // the large-query-set path: NO broadcast of the query side — the
      // probe join is a bucket-key sort-merge, the shape that survives when
      // the query set is another corpus rather than a driver-small lookup.
      // nprobe = #centroids keeps it provably equal to brute force, so the
      // shuffled join itself rides the hash gate
      val emb = tb(s, d, "embeddings")
      val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, "embedding", "vec_id",
        k = 5, centroids, nprobe = 8, broadcastQueries = false)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
    },
      Timed("SELECT query_id, neighbor_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10) WHERE rank <= 5"))
  )
}
