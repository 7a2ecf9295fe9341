package graft
package queries

import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import QueryFixtures._
import Role._

/** Multimodal (m*): media feature decode, image, audio and video probes,
  * and embedding near-duplicates.
  */
private[graft] object MultimodalQueries {

  val all: Seq[Query] = Seq(
    // --- multimodal ---------------------------------------------------------
    // production media features: real executor-encoded PNGs → real
    // javax.imageio decode → dims + luminance-grid features, embedding
    // JSON-rendered (the verify harness can't sort a raw array column).
    // rows-only; decode determinism = _contract sibling
    Query("m_media_features", (s, d) => {
      import s.implicits._
      val ids = tb(s, d, "documents").select(col("doc_id").cast("long")).as[java.lang.Long]
      Multimodal.featureFrame(
        Multimodal.extractFeatures(Multimodal.syntheticPngCorpus(ids), dim = 16))
        .withColumn("embedding", to_json(col("embedding")))
    },
      // feature-determinism contract (VERDICT r4 #2): two INDEPENDENT passes
      // through the full encode→imageio-decode→feature pipeline must agree on
      // every field of every row — the property that makes media features
      // safe to cache/manifest at corpus scale (a nondeterministic decode
      // would silently poison any incremental pipeline built on it). Rows are
      // compared as canonical JSON; the full-outer join also catches a pass
      // dropping or duplicating rows. Violations frame provably empty.
      BenchOnly(Query("m_media_features_contract", (s, d) => {
        import s.implicits._
        def pass(): DataFrame = {
          val ids = tb(s, d, "documents").select(col("doc_id").cast("long")).as[java.lang.Long]
          Multimodal.featureFrame(
            Multimodal.extractFeatures(Multimodal.syntheticPngCorpus(ids), dim = 16))
            .select(col("media_id"), to_json(struct(col("kind"), col("width"),
              col("height"), col("duration_ms"), col("n_bytes"), col("embedding"))).as("row_json"))
        }
        val a = pass().withColumnRenamed("row_json", "row_a")
        val b = pass().withColumnRenamed("row_json", "row_b")
        a.join(b, Seq("media_id"), "full_outer")
          .filter(col("row_a").isNull || col("row_b").isNull ||
            col("row_a") =!= col("row_b"))
          .select(col("media_id"), col("row_a"), col("row_b"))
      },
        Contract("SELECT CAST(doc_id AS BIGINT) AS media_id, '' AS row_a, '' AS row_b FROM documents WHERE 1 = 0")))),
    // envelope-only media features: width/height come from the REAL imageio
    // decode of the synthetic PNGs, whose dims are id-derived — so the whole
    // encode→decode loop is SQL-predictable and hash-checked
    Query("m_media_dims", (s, d) => {
      import s.implicits._
      val ids = tb(s, d, "documents").select(col("doc_id").cast("long")).as[java.lang.Long]
      Multimodal.featureFrame(
        Multimodal.extractFeatures(Multimodal.syntheticPngCorpus(ids), dim = 4))
        .select(col("media_id"), col("kind"), col("width"), col("height"), col("duration_ms"))
    },
      // the synthetic-PNG loop is id-deterministic end-to-end: real imageio
      // decode must recover width = 4 + id%13, height = 4 + id%7
      Timed("SELECT CAST(doc_id AS BIGINT) AS media_id, 'image' AS kind, CAST(4 + doc_id % 13 AS INTEGER) AS width, CAST(4 + doc_id % 7 AS INTEGER) AS height, CAST(0 AS BIGINT) AS duration_ms FROM documents")),
    // audio envelope via the REAL javax.sound decode of synthetic WAVs whose
    // duration is id-derived — the encode→decode loop is SQL-predictable
    Query("m_audio_dims", (s, d) => {
      import s.implicits._
      val ids = tb(s, d, "documents").select(col("doc_id").cast("long")).as[java.lang.Long]
      Multimodal.featureFrame(
        Multimodal.extractFeatures(Multimodal.syntheticWavCorpus(ids), dim = 4))
        .select(col("media_id"), col("kind"), col("duration_ms"))
    },
      // real javax.sound decode must recover duration_ms = 100 + id % 400
      Timed("SELECT CAST(doc_id AS BIGINT) AS media_id, 'audio' AS kind, CAST(100 + doc_id % 400 AS BIGINT) AS duration_ms FROM documents")),
    // production perceptual-hash image near-dup: 50 distinct synthetic PNGs
    // plus an exact twin of each (media_id offset +1000) through the real
    // imageio decode → luminance grid → aHash → pigeonhole pair machinery.
    // rows-only; planted-twin recovery contract = _contract sibling
    Query("m_image_neardup", (s, d) => {
      import s.implicits._
      val ids = tb(s, d, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id").cast("long")).as[java.lang.Long]
      val feats = Multimodal.featureFrame(
        Multimodal.extractFeatures(Multimodal.syntheticPngCorpus(ids), dim = 64))
        .select(col("media_id"), col("embedding"))
      val twins = feats.withColumn("media_id", col("media_id") + 1000)
      Multimodal.imageNearDupPairs(feats.union(twins), maxDist = 3)
        .select(col("doc_a"), col("doc_b"), col("dist"))
    },
      // planted-twin contract (VERDICT r4 #2): every planted twin pair MUST be
      // recovered at Hamming distance exactly 0 (recall side), and no returned
      // pair may exceed maxDist or break canonical ordering (precision side).
      // Violations frame provably empty, hash-gated.
      BenchOnly(Query("m_image_neardup_contract", (s, d) => {
        import s.implicits._
        val ids = tb(s, d, "documents").filter(col("doc_id") < 50)
          .select(col("doc_id").cast("long")).as[java.lang.Long]
        val feats = Multimodal.featureFrame(
          Multimodal.extractFeatures(Multimodal.syntheticPngCorpus(ids), dim = 64))
          .select(col("media_id"), col("embedding"))
        val twins = feats.withColumn("media_id", col("media_id") + 1000)
        val pairs = Multimodal.imageNearDupPairs(feats.union(twins), maxDist = 3)
          .select(col("doc_a"), col("doc_b"), col("dist"))
        val planted = feats.select(col("media_id").as("doc_a"),
          (col("media_id") + 1000).as("doc_b"))
        val notRecovered = planted
          .join(pairs, Seq("doc_a", "doc_b"), "left")
          .filter(col("dist").isNull || col("dist") =!= 0)
          .select(col("doc_a"), col("doc_b"), lit("twin not recovered at dist 0").as("violation"))
        val badPair = pairs
          .filter(col("dist") > 3 || col("dist") < 0 || col("doc_a") >= col("doc_b"))
          .select(col("doc_a"), col("doc_b"), lit("pair outside contract").as("violation"))
        notRecovered.union(badPair)
      },
        Contract("SELECT CAST(doc_id AS BIGINT) AS doc_a, CAST(doc_id AS BIGINT) AS doc_b, '' AS violation FROM documents WHERE 1 = 0")))),
    // video frame sampling through the REAL MJPEG-in-AVI codec: each doc id
    // becomes an actual AVI container of ImageIO-encoded JPEG frames
    // (1 + id % 8 frames at 2 fps), the container is parsed back and frames
    // sampled — so duration, sample count, and timestamps are id-derived
    // and the whole encode→parse→sample loop rides the hash gate
    // silence-split audio segmentation (VAD) through the REAL decode path:
    // the corpus plants a window-aligned 200 ms silent gap per clip at a
    // SQL-predictable offset, so the full segment table hash-checks
    Query("m_audio_segments", (s, d) => {
      import s.implicits._
      val ids = tb(s, d, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id").cast("long")).as[java.lang.Long]
      Multimodal.audioSegments(
        Multimodal.syntheticGapWavCorpus(ids), windowMs = 50, rmsThreshold = 0.1)
    },
      // the AVI loop is id-deterministic end-to-end: 1 + id%8 frames at 2 fps
      // → duration (1+id%8)·500 ms; n = min(4, max(1, dur/1000)) samples at
      // stride dur/n — real container parse must recover exactly these
      // two segments per clip around the planted gap: [0, g) and [g+4, 20)
      // in 50 ms windows, g = 6 + id % 4
      Timed("WITH i AS (SELECT doc_id AS media_id, CAST(6 + doc_id % 4 AS INTEGER) AS g FROM documents WHERE doc_id < 100) SELECT media_id, CAST(0 AS INTEGER) AS segment_idx, CAST(0 AS INTEGER) AS start_window, g AS end_window FROM i UNION ALL SELECT media_id, CAST(1 AS INTEGER), g + 4, CAST(20 AS INTEGER) FROM i")),
    // shot-boundary detection through the REAL codec path (AVI parse +
    // per-frame JPEG decode): the corpus plants one luminance cut per
    // video at a SQL-predictable index, so the full boundary table runs
    // under the hash gate — the oracle states it outright
    Query("m_shot_bounds", (s, d) => {
      import s.implicits._
      val ids = tb(s, d, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id").cast("long")).as[java.lang.Long]
      Multimodal.shotBoundaries(
        Multimodal.syntheticShotAviCorpus(ids, framesPerVideo = 8),
        threshold = 0.5)
    },
      // the planted cut index is a pure formula of the id — the whole
      // boundary table hash-checks the real AVI-parse + JPEG-decode path
      Timed("SELECT doc_id AS media_id, CAST(1 + doc_id % 7 AS INTEGER) AS boundary_idx FROM documents WHERE doc_id < 100")),
    Query("m_frame_sample", (s, d) => {
      import s.implicits._
      val ids = tb(s, d, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id").cast("long")).as[java.lang.Long]
      Multimodal.sampleFrames(
        Multimodal.syntheticAviCorpus(ids, fps = 2, maxFramesPerVideo = 8),
        maxFrames = 4).toDF()
        .select(col("media_id"), col("frame_idx"), col("ts_ms"))
    },
      Timed("""WITH v AS (SELECT doc_id AS media_id, (1 + doc_id % 8) * 500 AS dur FROM documents WHERE doc_id < 100), p AS (SELECT media_id, dur, least(4, greatest(1, dur // 1000)) AS n FROM v) SELECT media_id, CAST(i AS INTEGER) AS frame_idx, CAST(i * (dur // n) AS BIGINT) AS ts_ms FROM (SELECT media_id, dur, n, unnest(generate_series(0, n - 1)) AS i FROM p)""")),
    // production embedding near-dup pairs. Threshold 0.4 because the
    // synthetic embeddings are near-orthogonal (max pairwise cosine ≈ 0.51)
    // — a production-style 0.9 cutoff would vacuously return 0 candidates.
    // rows-only; precision contract = _contract sibling
    Query("d_embed_neardup", (s, d) =>
      Dedup.embeddingDuplicatePairs(tb(s, d, "embeddings"), "embedding", "vec_id",
        threshold = 0.4, planes = 4),
      // embedding near-dup precision contract (VERDICT r4 #2): every returned
      // pair must really have cosine ≥ threshold — recomputed here through
      // the COMPOSABLE zip_with/aggregate implementation ([[Similarity.dot]]/
      // [[Similarity.norm]]), a fully independent code path from the native
      // Catalyst expression the operator uses (documented bit-identical; this
      // pins that claim to the hash gate too). Pairs ⊆ brute-pairs follows:
      // brute IS "all pairs with exact cosine ≥ threshold". Canonical
      // ordering checked alongside.
      BenchOnly(Query("d_embed_neardup_contract", (s, d) => {
        val emb = tb(s, d, "embeddings")
        val pairs = Dedup.embeddingDuplicatePairs(emb, "embedding", "vec_id",
          threshold = 0.4, planes = 4)
        pairs
          .join(emb.select(col("vec_id").as("doc_a"), col("embedding").as("va")), Seq("doc_a"))
          .join(emb.select(col("vec_id").as("doc_b"), col("embedding").as("vb")), Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("cos"),
            Similarity.dot(col("va"), col("vb")).as("dp"),
            (Similarity.norm(col("va")) * Similarity.norm(col("vb"))).as("nn"))
          .filter(col("doc_a") >= col("doc_b") ||
            col("cos") < 0.4 ||
            when(col("nn") > 0, abs(col("cos") - col("dp") / col("nn")) > 1e-9)
              .otherwise(col("cos") =!= 0.0))
          .select(col("doc_a"), col("doc_b"))
      },
        Contract("SELECT vec_id AS doc_a, vec_id AS doc_b FROM embeddings WHERE 1 = 0")))),
    // SemDeDup keeper selection, exact-pair-fed so the recursive-CTE closure
    // oracle applies (validation-only in bench: the pair stage is O(n²); the
    // production path is semanticKeepers(exact = false), LSH-fed, pinned to
    // this one by the planted-duplicate spec)
    Query("d_semantic_keepers", (s, d) =>
      Dedup.semanticKeepers(tb(s, d, "embeddings"), "embedding", "vec_id",
        threshold = 0.4, exact = true)
        .select(col("vec_id")),
      // SemDeDup survivors = embeddings minus non-minimum members of each
      // cosine-pair connected component (same closure shape as d_keepers)
      ValidationOnly("""WITH RECURSIVE pairs AS (SELECT a.vec_id AS pa, b.vec_id AS pb FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4), edges AS (SELECT pa AS a, pb AS b FROM pairs UNION SELECT pb, pa FROM pairs), reach(src, dst) AS (SELECT a, a FROM edges UNION SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a), clusters AS (SELECT src AS doc, min(dst) AS cluster FROM reach GROUP BY 1) SELECT v.vec_id FROM embeddings v LEFT JOIN clusters c ON v.vec_id = c.doc AND c.doc != c.cluster WHERE c.doc IS NULL"""))
  )
}
