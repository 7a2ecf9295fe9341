package graft
package queries

import graft.operators.{Dedup, GenerationLog, Linkage, PageRank, Similarity, SparseSim, TextOps, VersionedIvf, VersionedNearDup, VersionedSubstring}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.streaming.ComposedGate

import QueryFixtures._
import Role._

/** Deduplication (d*): exact, near-duplicate and substring dedup, duplicate
  * clusters, the streaming ingest gates over the persisted indexes, and
  * the joins and BM25/hybrid retrieval built on the same machinery.
  */
private[graft] object DedupQueries {

  /** DuckDB recursive-CTE transitive closure over the exact-Jaccard pair
    * set — the oracle for both cluster queries (brute-fed and LSH-fed).
    */
  private val DupClusterClosureSql: String =
    """WITH RECURSIVE sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3), pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id WHERE len(list_intersect(a.sh, b.sh)) * 2 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 1), edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs), reach(src, dst) AS (SELECT a, a FROM edges UNION SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a) SELECT src AS doc, min(dst) AS cluster FROM reach GROUP BY 1"""

  /** The bench face and `_contract` of the composed ingest gate over the
    * stage `kinds` (see [[QueryFixtures.ComposedChain]]), with arrival
    * batches 0 until `batches` streamed by the fixture. Timed body: a
    * replay of the last streamed batch through every stage (replay-
    * idempotent: each stage rewrites its own partitions or skips its
    * markers).
    */
  private def composedGate(name: String, kinds: Seq[String], batches: Int): Query = {
    val last = batches - 1
    def arrivals(s: SparkSession, d: String) =
      composedArrivals(s, d, junk = kinds.contains("quality"))
    def replayLast(s: SparkSession, d: String, stages: Seq[ComposedGate.Stage]): Unit =
      ComposedGate.ingestBatch(gateSubBatch(arrivals(s, d), last),
        "text", "embedding", "doc_id", stages, last.toLong)
    Query(name, (s, d) => fixtureSerialized(name, d) {
      val stages = composedFixture(s, d, kinds, batches)
      replayLast(s, d, stages)
      // the replay just overwrote partitions the fixture's stream wrote —
      // drop any cached listing before reading the result back
      s.catalog.refreshByPath(stages.last.outDir)
      s.read.parquet(stages.last.outDir).filter(col("ingest_batch") === last.toLong)
        .select(col("doc_id"))
    },
      // composition contract: the streamed final kept-set ≡ the stages'
      // sequential references stacked, plus replay identity across every
      // output table (the last batch re-driven here), plus, with a Quality
      // stage, non-vacuity: every planted junk arrival must be absent from
      // its ledger (otherwise the classifier silently passed everything).
      // Violations frame provably empty
      BenchOnly(Query(s"${name}_contract", (s, d) => fixtureSerialized(name, d) {
        val stages = composedFixture(s, d, kinds, batches)
        val beforeReplay = composedOutputsHash(s, stages)
        replayLast(s, d, stages)
        val replayOk = composedOutputsHash(s, stages) == beforeReplay
        val refKept = composedReferenceKept(s, d, stages,
          (0 to last).map(gateSubBatch(arrivals(s, d), _)))
        val leaked = stages.collect { case q: ComposedGate.Stage.Quality =>
          s.read.parquet(q.keptDir).select(col("doc_id"))
            .join(arrivals(s, d).filter(pmod(col("doc_id"), lit(16)) === 4),
              Seq("doc_id"), "left_semi")
            .select(col("doc_id").cast("bigint").as("doc"),
              lit("planted junk doc survived the quality gate").as("violation"))
        }
        (keptVerdict(s.read.parquet(stages.last.outDir).select(col("doc_id")),
          refKept, "doc_id", "doc",
          "kept by composition, not by reference",
          "kept by reference, not by composition",
          "replay changed composed outputs" -> replayOk) +: leaked).reduce(_ union _)
      },
        Contract("SELECT CAST(doc_id AS BIGINT) AS doc, '' AS violation FROM documents WHERE 1 = 0"))))
  }

  val all: Seq[Query] = Seq(
    // --- dedup --------------------------------------------------------------
    Query("d_exact_dup_groups", (s, d) =>
      Dedup.exactDuplicateGroups(tb(s, d, "documents"), "text", "doc_id"),
      Timed("SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY 1")),
    // incremental pipeline shape: dedup an arriving batch (id % 4 == 0)
    // against the standing corpus's digest manifest — no corpus text re-read
    Query("d_incremental", (s, d) => {
      val docs = tb(s, d, "documents")
      Dedup.dropSeenDocuments(
        docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        Dedup.digestManifest(docs.filter(pmod(col("doc_id"), lit(4)) =!= 0), "text"),
        "text", "doc_id")
        .select(col("doc_id"))
    },
      // NOT EXISTS, not NOT IN: three-valued NOT IN semantics would diverge
      // from Spark's left_anti (null keys never match) if a text were NULL
      Timed("""WITH corpus AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 4 != 0), batch AS (SELECT doc_id, md5(text) AS h, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM documents WHERE doc_id % 4 = 0) SELECT doc_id FROM batch b WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)""")),
    // incremental NEAR-dup: the batch checked against the standing corpus's
    // signature manifest (band keys + hashed shingles, no corpus text).
    // J ≥ 1/2 with 32×2 bands → recall 1.0 (the d_jaccard_lsh ≡ brute
    // argument), so the kept set is exactly the brute-force oracle's
    Query("d_incremental_neardup", (s, d) => {
      val docs = tb(s, d, "documents")
      Dedup.dropSeenNearDuplicates(
        docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        // in-flight manifest is read twice downstream — persist per the
        // API doc (scope-registered: freed when the query's scope closes)
        graft.CacheScope.persist(
          Dedup.nearDupManifest(docs.filter(pmod(col("doc_id"), lit(4)) =!= 0),
            "text", "doc_id", shingleSize = 3, bands = 32, rowsPerBand = 2)),
        "text", "doc_id", shingleSize = 3, numer = 1, denom = 2,
        bands = 32, rowsPerBand = 2)
        .select(col("doc_id"))
    },
      // batch docs kept iff NO corpus doc reaches J ≥ 1/2 (short docs shingle
      // to nothing and pass through, mirroring the manifest's exclusion)
      Timed("""WITH s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3) SELECT d.doc_id FROM documents d WHERE d.doc_id % 4 = 0 AND NOT EXISTS (SELECT 1 FROM s b JOIN s c ON b.doc_id = d.doc_id AND c.doc_id % 4 != 0 WHERE len(list_intersect(b.sh, c.sh)) * 2 >= (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh))) * 1)""")),
    // the STREAMING near-dup gate — dedup-at-ingest against the persisted,
    // self-growing signature index (index on one corpus quarter; an arrival
    // quarter lands in 3 mod-time-ordered micro-batches; each batch drops
    // near-dups of EARLIER content, self-dedups, and appends its survivors'
    // signatures). Timing face: one full gate batch — re-gating batch 2 is
    // replay-idempotent (dynamic partition overwrite + strictly-earlier
    // manifest read), so repeated bench runs leave the fixture identical
    // streaming SUBSTRING gate — ExactSubstr at ingest: the timed body
    // replays batch 2 ([416,∞)) against the gate-grown window index, then
    // returns its cleaned rows. Hash-gated on CONTENT: ascending-id-range
    // batches make the stream ≡ the one-shot pipeline, so the oracle is
    // the one-shot clean SQL restricted to the batch
    Query("d_substr_gate", (s, d) => fixtureSerialized("substrgate", d) {
      val (idx, clean, _) =
        Fixtures.memo("substrGate", d)(buildSubstringGateFixture(s, d))
      VersionedSubstring.gateBatch(
        tb(s, d, "documents").filter(col("doc_id") >= 416),
        "text", "doc_id", idx, clean, 2L)
      s.read.parquet(clean).filter(col("ingest_batch") === 2L)
        .select(col("doc").as("doc_id"), col("cleaned_text"))
    },
      // the gate's batch 2 ≡ one-shot clean restricted to [416,∞)
      Timed("""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents), occ AS (SELECT doc_id, u.i - 1 AS pos, array_to_string(toks[u.i:u.i+7], ' ') AS ng FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-7,0))) AS i) u), r AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY ng) AS c, row_number() OVER (PARTITION BY ng ORDER BY doc_id, pos) AS rn FROM occ), cov AS (SELECT DISTINCT doc_id, pos + g.range AS p FROM r CROSS JOIN range(0,8) g WHERE c>=2 AND rn>1), alltok AS (SELECT t.doc_id, u.i - 1 AS p, t.toks[u.i] AS tok FROM t, LATERAL (SELECT unnest(generate_series(1, len(t.toks))) AS i) u), kept AS (SELECT a.doc_id, a.p, a.tok FROM alltok a ANTI JOIN cov USING (doc_id, p)) SELECT CAST(doc_id AS BIGINT) AS doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned_text FROM kept WHERE doc_id >= 416 GROUP BY doc_id""")),
    // the whole streamed output (all three gate batches incl. the replayed
    // one) hash-checked against the one-shot SQL over the full corpus —
    // plus the replay-identity probe surfaced as a sentinel row that can
    // never hash-match if replay changed anything
    Query("d_substr_gate_contract", (s, d) => fixtureSerialized("substrgate", d) {
      import s.implicits._
      val (_, clean, replayOk) =
        Fixtures.memo("substrGate", d)(buildSubstringGateFixture(s, d))
      val streamed = s.read.parquet(clean)
        .select(col("doc").as("doc_id"), col("cleaned_text"))
      if (replayOk) streamed
      else streamed.unionByName(
        Seq((-1L, "REPLAY_CHANGED_OUTPUTS")).toDF("doc_id", "cleaned_text"))
    },
      // the full streamed output ≡ one-shot clean over every arrival batch
      Contract("""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents), occ AS (SELECT doc_id, u.i - 1 AS pos, array_to_string(toks[u.i:u.i+7], ' ') AS ng FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-7,0))) AS i) u), r AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY ng) AS c, row_number() OVER (PARTITION BY ng ORDER BY doc_id, pos) AS rn FROM occ), cov AS (SELECT DISTINCT doc_id, pos + g.range AS p FROM r CROSS JOIN range(0,8) g WHERE c>=2 AND rn>1), alltok AS (SELECT t.doc_id, u.i - 1 AS p, t.toks[u.i] AS tok FROM t, LATERAL (SELECT unnest(generate_series(1, len(t.toks))) AS i) u), kept AS (SELECT a.doc_id, a.p, a.tok FROM alltok a ANTI JOIN cov USING (doc_id, p)) SELECT CAST(doc_id AS BIGINT) AS doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned_text FROM kept WHERE doc_id >= 250 GROUP BY doc_id""")),
    // the VERSIONED substring gate's contract: the rename-free gate
    // (marker-committed window segments, static-overwrite clean dirs,
    // generation-swap consolidation — VersionedSubstringSpec drives it on
    // the rename-refusing filesystem) must produce EXACTLY the in-place
    // gate's cleaned rows on the same base/batches/replay schedule, with
    // replay identity and consolidate/vacuum invariance. Provably empty
    Query("d_substr_gate_versioned_contract", (s, d) => fixtureSerialized("substrgate", d) {
      val (_, cleanP, _) =
        Fixtures.memo("substrGate", d)(buildSubstringGateFixture(s, d))
      val (_, cleanV, replayOk, compactOk) =
        Fixtures.memo("versionedSubstr", d)(buildVersionedSubstrFixture(s, d))
      // the in-place clean dir carries the replayed batches 0-2 (the
      // d_substr_gate face re-gates 2; ids and content are identical
      // either way by replay idempotence)
      val inPlace = s.read.parquet(cleanP)
        .select(col("doc"), col("cleaned_text"), col("ingest_batch").cast("long").as("b"))
      val versioned = s.read.parquet(cleanV)
        .select(col("doc"), col("cleaned_text"), col("ingest_batch").cast("long").as("b"))
      keptVerdict(versioned, inPlace, "doc", "doc",
        "cleaned by versioned gate, not by in-place",
        "cleaned by in-place gate, not by versioned",
        "replay changed versioned gate outputs" -> replayOk,
        "consolidate/vacuum changed manifest view or kept generations" -> compactOk)
    },
      // the versioned substring gate produces the in-place gate's cleaned
      // rows exactly, replay- and consolidation-invariant — provably empty
      Contract("SELECT CAST(doc_id AS BIGINT) AS doc, '' AS violation FROM documents WHERE 1 = 0")),
    // ...and for the versioned substring-window root (same fixture tail)
    Query("d_substr_versioned_health_contract", (s, d) => fixtureSerialized("substrgate", d) {
      val (root, _, _, _) =
        Fixtures.memo("versionedSubstr", d)(buildVersionedSubstrFixture(s, d))
      settledHealthViolations(s, root)
    },
      Contract(settledHealthOracle("documents"))),
    // the THREE-stage (substring → near-dup → semantic) and the full
    // FOUR-stage CCNet chain (classifier score gate first) composed ingest
    composedGate("d_composed3_gate", ComposedChain.drop(1), batches = 1),
    composedGate("d_composed4_gate", ComposedChain, batches = 1),
    Query("d_stream_gate", (s, d) => fixtureSerialized("streamgate", d) {
      val (idx, kept, _) =
        Fixtures.memo("nearDupGate", d)(buildNearDupGateFixture(s, d))
      VersionedNearDup.gateBatch(
        gateSubBatch(tb(s, d, "documents")
          .filter(pmod(col("doc_id"), lit(4)) === 0), 2),
        "text", "doc_id", idx, kept, 2L)
      s.read.parquet(kept).filter(col("ingest_batch") === 2L)
        .select(col("doc_id"))
    },
      // gate lifecycle contract (the d_stream_gate correctness gate): the
      // streamed kept-set must equal an independently-composed SEQUENTIAL
      // pipeline (pure batch ops, no index/stream machinery) applying the
      // same first-arrival-wins semantics — including the retention delete
      // before batch 2 (forgotten docs must stop suppressing) — plus the
      // replay-identity probe from the fixture build (compaction of this
      // index family is d_gate_versioned_contract's probe). Violations
      // frame provably empty, hash-gated
      BenchOnly(Query("d_stream_gate_contract", (s, d) => fixtureSerialized("streamgate", d) {
        val (_, kept, replayOk) =
          Fixtures.memo("nearDupGate", d)(buildNearDupGateFixture(s, d))
        keptVerdict(s.read.parquet(kept).select(col("doc_id")),
          sequentialGateReferenceKept(s, d), "doc_id", "doc",
          "kept by stream, not by reference",
          "kept by reference, not by stream",
          "replay changed gate outputs" -> replayOk)
      },
        // streaming near-dup gate lifecycle: stream ≡ sequential reference,
        // replay identity, tombstone release — all folded into one
        // provably-empty violations frame
        Contract("SELECT CAST(doc_id AS BIGINT) AS doc, '' AS violation FROM documents WHERE 1 = 0")))),
    // the VERSIONED gate's bench face (runs before the contract in the
    // shared-JVM smoke, so the fixture build and the reference computation
    // are paid by DIFFERENT queries): full rename-free lifecycle — build,
    // two gate batches, replay, retention delete, third batch, generation
    // consolidation, vacuum — then the kept set. Correctness gate = the
    // _contract sibling
    Query("d_gate_versioned", (s, d) => fixtureSerialized("versionedgate", d) {
      val (_, kept, _, _) =
        Fixtures.memo("versionedGate", d)(buildVersionedGateFixture(s, d))
      s.read.parquet(kept).select(col("doc_id"))
    },
      // the VERSIONED gate's lifecycle contract: the rename-free gate
      // (marker-committed signature segments, generation-swap consolidation,
      // tombstone deletes — ZERO index-protocol directory renames, see
      // VersionedIndexSpec/VersionedNearDupSpec) must equal the SAME
      // sequential reference the in-place gate is pinned to, plus replay
      // identity and consolidate/vacuum invariance. Provably empty
      BenchOnly(Query("d_gate_versioned_contract", (s, d) => fixtureSerialized("versionedgate", d) {
        val (_, kept, replayOk, compactOk) =
          Fixtures.memo("versionedGate", d)(buildVersionedGateFixture(s, d))
        keptVerdict(s.read.parquet(kept).select(col("doc_id")),
          sequentialGateReferenceKept(s, d), "doc_id", "doc",
          "kept by versioned gate, not by reference",
          "kept by reference, not by versioned gate",
          "replay changed gate outputs" -> replayOk,
          "consolidate/vacuum changed live manifest, left tombstones, or kept generations" -> compactOk)
      },
        // the versioned (rename-free) gate shares the in-place gate's contract
        // shape: streamed ≡ sequential reference + lifecycle probes, all empty
        Contract("SELECT CAST(doc_id AS BIGINT) AS doc, '' AS violation FROM documents WHERE 1 = 0")))),
    // same settled-shape audit for the versioned near-dup gate root (its
    // fixture ends consolidate + ttl-0 vacuum)
    Query("d_gate_versioned_health_contract", (s, d) => fixtureSerialized("versionedgate", d) {
      val (root, _, _, _) =
        Fixtures.memo("versionedGate", d)(buildVersionedGateFixture(s, d))
      settledHealthViolations(s, root)
    },
      Contract(settledHealthOracle("documents"))),
    // the LSH families' health audit (r10 verdict #5 — VersionedIvf.assignmentDrift's
    // twin): per-band bucket-occupancy stats of the persisted near-dup
    // index from ONE manifest scan, gated by SCALE-FREE healthy-shape
    // rules — a band whose biggest bucket holds over ~a tenth of all
    // signatures, or whose Σ|bucket|² (the gate's self-join mass) exceeds
    // 4× the signature count, is the degenerate low-entropy shape (the r1
    // SimHash skew class) that turns gate batches quadratic. Measured
    // headroom on the harness corpus: max_bucket ≤ 5 of 1250 sigs at
    // sf0.1 (rule: 125), sumsq/n_sigs ≤ 1.06 (rule: 4). The planted
    // degenerate corpus in NearDupIndexSpec trips both rules at every band
    Query("d_index_health", (s, d) => fixtureSerialized("streamgate", d) {
      val (idx, _, _) =
        Fixtures.memo("nearDupGate", d)(buildNearDupGateFixture(s, d))
      Dedup.nearDupIndexBucketStats(s, idx)
        .filter(col("max_bucket") * 10 > col("n_sigs") + 50 ||
          col("sumsq") > col("n_sigs") * 4)
        .select(col("band"), col("n_sigs"), col("max_bucket"), col("sumsq"))
    },
      // healthy-shape audits: the violation frames are provably empty on the
      // harness corpus (headroom documented at the query), and emptiness is
      // exactly what the oracle states
      Timed("SELECT CAST(0 AS BIGINT) AS band, CAST(0 AS BIGINT) AS n_sigs, CAST(0 AS BIGINT) AS max_bucket, CAST(0 AS BIGINT) AS sumsq FROM documents WHERE 1 = 0")),
    // the substring-index twin: cross-batch window-key recurrence (keys
    // are unique per batch by construction, so max_key > 3 means the same
    // window content re-recorded by 4+ batches — pure per-probe scan
    // weight, the consolidation-overdue signal). Harness measurement:
    // max_key = 1 at every shipped SF
    Query("d_substr_index_health", (s, d) => fixtureSerialized("substrgate", d) {
      val (idx, _, _) =
        Fixtures.memo("substrGate", d)(buildSubstringGateFixture(s, d))
      Dedup.substringIndexKeyStats(s, idx)
        .filter(col("max_key") > 3)
        .select(col("n_rows"), col("n_keys"), col("max_key"))
    },
      Timed("SELECT CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_keys, CAST(0 AS BIGINT) AS max_key FROM documents WHERE 1 = 0")),
    // the streaming SEMANTIC dedup gate — SemDeDup at ingest over the
    // persisted IVF index (embedding twin of d_stream_gate): arrivals with
    // a cosine ≥ τ neighbor among EARLIER batches' vectors are dropped
    // (nprobe-bounded probe, tombstone-filtered), survivors self-dedup and
    // append to the index. Timing face: one full gate batch (re-gating
    // batch 2 is replay-idempotent)
    Query("s_semantic_gate", (s, d) => fixtureSerialized("semgate", d) {
      val (idx, kept, _, cents) =
        Fixtures.memo("semanticGate", d)(buildSemanticGateFixture(s, d))
      val arrivals = tb(s, d, "embeddings")
        .filter(pmod(col("vec_id"), lit(4)) === 0)
        .select(col("vec_id"), col("embedding"))
      Similarity.semanticGateBatch(semSubBatch(arrivals, 2), "embedding",
        "vec_id", idx, kept, 2L, SemGateTau, SemGateNprobe)
      s.read.parquet(kept).filter(col("ingest_batch") === 2L)
        .select(col("vec_id"))
    },
      // semantic-gate lifecycle contract: the streamed kept-set must equal an
      // independently composed sequential pipeline — in-memory ivfTopK
      // suppression against an accumulating corpus frame (same frozen
      // centroids/nprobe/τ, none of the index/stream machinery), including
      // the retention delete before batch 2 — plus the replay-identity probe.
      // Violations frame provably empty, hash-gated
      BenchOnly(Query("s_semantic_gate_contract", (s, d) => fixtureSerialized("semgate", d) {
        import s.implicits._
        val (_, kept, replayOk, cents) =
          Fixtures.memo("semanticGate", d)(buildSemanticGateFixture(s, d))
        val embs = tb(s, d, "embeddings")
        val base = gateEmbBase(embs)
        val arrivals = embs.filter(pmod(col("vec_id"), lit(4)) === 0)
          .select(col("vec_id"), col("embedding"))
        val deleted = base.filter(pmod(col("vec_id"), lit(20)) === 2)
          .select(col("vec_id").as("__t"))
        val start = (graft.CacheScope.localCheckpoint(base),
          s.emptyDataset[Long].toDF("vec_id"))
        val refKept = (0 to 2).foldLeft(start) { case ((corpus, acc), k) =>
          val live =
            if (k == 2) corpus.join(broadcast(deleted),
              col("vec_id") === col("__t"), "left_anti")
            else corpus
          val (keptK, grown) = semanticGateStep(semSubBatch(arrivals, k), live, "vec_id", cents)
          (grown, acc.union(keptK.select(col("vec_id"))))
        }._2
        keptVerdict(s.read.parquet(kept).select(col("vec_id")), refKept, "vec_id", "vec",
          "kept by stream, not by reference",
          "kept by reference, not by stream",
          "replay changed gate outputs" -> replayOk)
      },
        // semantic-gate lifecycle: stream ≡ sequential in-memory reference,
        // replay identity, tombstone release — one provably-empty frame
        Contract("SELECT CAST(vec_id AS BIGINT) AS vec, '' AS violation FROM embeddings WHERE 1 = 0")))),
    // the COMPOSED ingest pipeline — text near-dup gate → semantic gate in
    // one foreachBatch over one stream (the production stacking)
    composedGate("d_composed_gate", ComposedChain.drop(2), batches = 2),
    // Bloom-manifest soundness: batch rows kept by the memory-resident
    // Bloom dedup gate that exact digests prove were in the corpus — the
    // no-false-negative property as a provably-empty frame
    Query("d_bloom_sound", (s, d) => {
      val docs = tb(s, d, "documents")
      Dedup.bloomSeenViolations(
        docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 0),
        "text", "doc_id", expectedItems = 100000L)
    },
      Timed("SELECT doc_id FROM documents WHERE 1 = 0")),
    Query("d_jaccard_brute", (s, d) =>
      Dedup.jaccardPairsBruteForce(tb(s, d, "documents"), "text", "doc_id",
        shingleSize = 3, numer = 1, denom = 2),
      ValidationOnly("""WITH s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter_sz, CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS union_sz FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE len(list_intersect(a.sh, b.sh)) * 2 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 1""")),
    // directed shingle containment (the quote/subset lens Jaccard misses):
    // posting-list join over df-capped distinct trigrams, exact integer
    // ppm against the SOURCE's shingle count — both directions emit
    Query("d_containment", (s, d) =>
      Dedup.containmentPairs(tb(s, d, "documents"), "text", "doc_id",
        shingleSize = 3, thresholdPpm = 600000L, maxDf = 500L),
      // latest click ≤ purchase ts, then the 2 h staleness cut — the latest
      // being stale means every other candidate is staler, so cutting after
      // df-capped intersection over the RAW source shingle count — the cap
      // is part of the operator's semantics, restated here
      Timed("""WITH tk AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS tk FROM documents), tri AS (SELECT DISTINCT doc_id, array_to_string(tk[i : i + 2], ' ') AS s FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM tk WHERE len(tk) >= 3)), sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM tri GROUP BY 1), dfr AS (SELECT s FROM (SELECT s, count(*) AS df FROM tri GROUP BY 1) WHERE df BETWEEN 2 AND 500), g AS (SELECT tri.doc_id, tri.s FROM tri JOIN dfr USING (s)), inter AS (SELECT a.doc_id AS src, b.doc_id AS dst, CAST(count(*) AS BIGINT) AS inter_sz FROM g a JOIN g b USING (s) WHERE a.doc_id != b.doc_id GROUP BY 1, 2) SELECT src, dst, inter_sz, CAST(inter_sz * 1000000 // n_sh AS BIGINT) AS containment_ppm FROM inter JOIN sizes ON sizes.doc_id = inter.src WHERE inter_sz * 1000000 // n_sh >= 600000""")),
    // char-level Jaccard (the no-whitespace-text variant of the shingle
    // family); 5-grams at J ≥ 3/4 — validation-only like the other brutes
    Query("d_jaccard_char", (s, d) =>
      Dedup.jaccardCharPairsBruteForce(tb(s, d, "documents"), "text", "doc_id",
        n = 5, numer = 3, denom = 4),
      ValidationOnly("""WITH s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(length(t) - 4, 0)), i -> substr(t, i, 5))) AS sh FROM (SELECT doc_id, lower(text) AS t FROM documents) WHERE length(t) >= 5) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter_sz, CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS union_sz FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE len(list_intersect(a.sh, b.sh)) * 4 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 3""")),
    Query("d_jaccard_lsh", (s, d) =>
      Dedup.jaccardDuplicatePairs(tb(s, d, "documents"), "text", "doc_id",
        shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2),
      // LSH recall is 1.0 at J ≥ 1/2 with 32×2 bands on this corpus (identical
      // signatures always collide; the spec asserts LSH ≡ brute), so the LSH
      // path shares the brute-force oracle — a hash mismatch here would mean
      // either lost recall or broken verify math
      Timed("""WITH s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter_sz, CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS union_sz FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE len(list_intersect(a.sh, b.sh)) * 2 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 1""")),
    // manifest-only re-dedup: the SAME pair set as d_jaccard_lsh, computed
    // from the corpus' signature manifest with zero text re-read — shares
    // the brute-force oracle by the same recall-1.0 banding argument
    Query("d_manifest_pairs", (s, d) =>
      Dedup.nearDupPairsFromManifest(
        Dedup.nearDupManifest(tb(s, d, "documents"), "text", "doc_id",
          shingleSize = 3, bands = 32, rowsPerBand = 2),
        numer = 1, denom = 2),
      // manifest path lands the identical pair set (recall-1.0 banding +
      // hashed-shingle verify ≡ string verify) → same oracle
      Timed("""WITH s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter_sz, CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS union_sz FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE len(list_intersect(a.sh, b.sh)) * 2 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 1""")),
    // raw LSH candidate pairs (no verify stage). Oracle-able because the
    // banding is deterministic and, on this corpus, the candidate SET
    // equals the exact J ≥ 1/2 pair set: every true pair here is an
    // identical-shingle-set pair (identical signatures always collide) and
    // no sub-threshold pair shares a band key — both pinned by the
    // OperatorsSpec set-equality test against the brute-force pairs
    Query("d_minhash_candidates", (s, d) =>
      Dedup.minhashCandidatePairs(tb(s, d, "documents"), "text", "doc_id"),
      // candidate set ≡ exact J ≥ 1/2 pair set on this corpus (see the query
      // comment; set equality pinned in OperatorsSpec)
      Timed("""WITH s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), t -> lower(t)) AS toks FROM documents) WHERE len(toks) >= 3) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE len(list_intersect(a.sh, b.sh)) * 2 >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 1""")),
    // exact SUBSTRING dedup (Lee et al. ExactSubstr at token granularity):
    // maximal removed token spans — all-but-first occurrences of every
    // duplicated 8-token window, overlaps merged. The hashed production
    // path; hash ≡ string pinned by the spec suite's brute contract
    Query("d_substr_spans", (s, d) =>
      Dedup.substringRemovedSpans(tb(s, d, "documents"), "text", "doc_id", n = 8)
        .select(col("doc").as("doc_id"), col("span_start"), col("span_len")),
      // ExactSubstr semantics straight from window strings (no hashing):
      // all-but-first occurrences of ≥2-count 8-token windows, covered
      // positions unioned, islands merged by the p - row_number() trick
      Timed("""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents), occ AS (SELECT doc_id, u.i - 1 AS pos, array_to_string(toks[u.i:u.i+7], ' ') AS ng FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-7,0))) AS i) u), r AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY ng) AS c, row_number() OVER (PARTITION BY ng ORDER BY doc_id, pos) AS rn FROM occ), cov AS (SELECT DISTINCT doc_id, pos + g.range AS p FROM r CROSS JOIN range(0,8) g WHERE c>=2 AND rn>1), isl AS (SELECT doc_id, p, p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM cov) SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(min(p) AS BIGINT) AS span_start, CAST(count(*) AS BIGINT) AS span_len FROM isl GROUP BY doc_id, grp""")),
    // the production face: text with the removed spans cut out (rebuilt
    // from kept tokens, whitespace-normalized); fully-duplicated docs drop
    Query("d_substr_clean", (s, d) =>
      Dedup.substringClean(tb(s, d, "documents"), "text", "doc_id", n = 8)
        .select(col("doc").as("doc_id"), col("cleaned_text")),
      // kept tokens re-joined by single spaces; fully-covered docs vanish
      Timed("""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents), occ AS (SELECT doc_id, u.i - 1 AS pos, array_to_string(toks[u.i:u.i+7], ' ') AS ng FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-7,0))) AS i) u), r AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY ng) AS c, row_number() OVER (PARTITION BY ng ORDER BY doc_id, pos) AS rn FROM occ), cov AS (SELECT DISTINCT doc_id, pos + g.range AS p FROM r CROSS JOIN range(0,8) g WHERE c>=2 AND rn>1), alltok AS (SELECT t.doc_id, u.i - 1 AS p, t.toks[u.i] AS tok FROM t, LATERAL (SELECT unnest(generate_series(1, len(t.toks))) AS i) u), kept AS (SELECT a.doc_id, a.p, a.tok FROM alltok a ANTI JOIN cov USING (doc_id, p)) SELECT CAST(doc_id AS BIGINT) AS doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned_text FROM kept GROUP BY doc_id""")),
    // INCREMENTAL substring dedup: batch (ids ≥ 250) against the window
    // manifest of the earlier corpus (ids < 250) + within-batch keep-first
    // ≡ the one-shot pipeline's spans restricted to the batch docs (the
    // strictly-earlier arrival semantics — the oracle IS the one-shot SQL
    // filtered to the batch)
    Query("d_substr_incremental", (s, d) => {
      val docs = tb(s, d, "documents")
      Dedup.substringSpansAgainstManifest(
        docs.filter(col("doc_id") >= 250),
        Dedup.substringWindowManifest(
          docs.filter(col("doc_id") < 250), "text", "doc_id", n = 8),
        "text", "doc_id", n = 8)
        .select(col("doc").as("doc_id"), col("span_start"), col("span_len"))
    },
      // one-shot spans over the WHOLE corpus, restricted to the late-arrival
      // half — the incremental face must land exactly these
      Timed("""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents), occ AS (SELECT doc_id, u.i - 1 AS pos, array_to_string(toks[u.i:u.i+7], ' ') AS ng FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-7,0))) AS i) u), r AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY ng) AS c, row_number() OVER (PARTITION BY ng ORDER BY doc_id, pos) AS rn FROM occ), cov AS (SELECT DISTINCT doc_id, pos + g.range AS p FROM r CROSS JOIN range(0,8) g WHERE c>=2 AND rn>1), isl AS (SELECT doc_id, p, p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM cov) SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(min(p) AS BIGINT) AS span_start, CAST(count(*) AS BIGINT) AS span_len FROM isl WHERE doc_id >= 250 GROUP BY doc_id, grp""")),
    Query("d_dup_clusters", (s, d) =>
      // connected components over exact-Jaccard pairs (min-label
      // propagation); oracle = DuckDB recursive-CTE transitive closure
      Dedup.duplicateClusters(
        Dedup.jaccardPairsBruteForce(tb(s, d, "documents"), "text", "doc_id",
          shingleSize = 3, numer = 1, denom = 2)),
      ValidationOnly(DupClusterClosureSql)),
    Query("d_dup_clusters_lsh", (s, d) =>
      // the production composition: clusters over the LSH pair set (no
      // brute-force stage anywhere). Same recursive-CTE oracle as
      // d_dup_clusters — valid because LSH recall is 1.0 at J ≥ 1/2 with
      // 32×2 bands here, anchored by the d_jaccard_lsh ≡ brute spec test
      Dedup.duplicateClusters(
        Dedup.jaccardDuplicatePairs(tb(s, d, "documents"), "text", "doc_id",
          shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2)
          .select(col("doc_a"), col("doc_b"))),
      // the LSH-fed composition converges to the same clusters (recall 1.0
      // at this threshold/banding), so it shares the closure oracle
      Timed(DupClusterClosureSql)),
    // alternating large-star/small-star components over the SAME LSH pair
    // set: the O(log n)-round scale path must land the identical clusters,
    // so it shares the recursive-CTE closure oracle
    Query("d_cc_altstar", (s, d) =>
      Dedup.connectedComponentsAltStar(
        Dedup.jaccardDuplicatePairs(tb(s, d, "documents"), "text", "doc_id",
          shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2)
          .select(col("doc_a"), col("doc_b"))),
      // alternating-star components are exactly the same min-label closure
      Timed(DupClusterClosureSql)),
    // cluster-aware train/holdout assignment: near-dups never straddle the
    // split; the mixer replays in SQL so the oracle recomputes every label
    Query("d_split_leakfree", (s, d) =>
      graft.operators.Curation.leakFreeSplit(
        tb(s, d, "documents"),
        Dedup.jaccardDuplicatePairs(tb(s, d, "documents"), "text", "doc_id",
          shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2)
          .select(col("doc_a"), col("doc_b")),
        "doc_id", numer = 4, denom = 5)
        .select(col("doc_id"), col("split")),
      // split label = portable mixer over the cluster representative (the
      // closure's min id; singletons hash their own id), 4-in-5 to train
      Timed(s"""WITH clusters AS ($DupClusterClosureSql) SELECT d.doc_id, CASE WHEN (((coalesce(c.cluster, d.doc_id) % 1000003) * 2654435761) % 1000003) % 5 < 4 THEN 'train' ELSE 'holdout' END AS split FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc""")),
    // production SimHash near-dup pairs (rows-only; distance/order contract
    // = _contract sibling, recall ≡ brute pinned in OperatorsSpec)
    Query("d_simhash_pairs", (s, d) =>
      Dedup.simhashDuplicatePairs(tb(s, d, "documents"), "text", "doc_id",
        maxDist = 3),
      // SimHash pair contract (VERDICT r4 #2): every returned pair must
      // (a) be canonically ordered (doc_a < doc_b), (b) carry the TRUE
      // Hamming distance of the two docs' sketches — recomputed here from the
      // raw text through an independent join path — and (c) sit within
      // maxDist. Precision 1 by construction (the operator verifies exact
      // distance after the pigeonhole join); this pins that construction to
      // the hash gate.
      BenchOnly(Query("d_simhash_pairs_contract", (s, d) => {
        val docs = tb(s, d, "documents")
        val pairs = Dedup.simhashDuplicatePairs(docs, "text", "doc_id", maxDist = 3)
        val sk = Dedup.simhashSketches(docs, "text", "doc_id")
        pairs
          .join(sk.select(col("doc").as("doc_a"), col("simhash").as("sk_a")), Seq("doc_a"))
          .join(sk.select(col("doc").as("doc_b"), col("simhash").as("sk_b")), Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("dist"),
            TextOps.hamming64(col("sk_a"), col("sk_b")).as("true_dist"))
          .filter(col("doc_a") >= col("doc_b") || col("dist") =!= col("true_dist") ||
            col("true_dist") > 3)
      },
        Contract("SELECT doc_id AS doc_a, doc_id AS doc_b, CAST(0 AS INTEGER) AS dist, CAST(0 AS INTEGER) AS true_dist FROM documents WHERE 1 = 0")))),
    // exact-cosine pair oracle for the embedding near-dup path (O(n²),
    // validation-only — excluded from bench like the other brute oracles)
    Query("d_embed_brute", (s, d) => {
      val emb = tb(s, d, "embeddings")
      val a = emb.select(col("vec_id").as("doc_a"), col("embedding").as("va"))
      val b = emb.select(col("vec_id").as("doc_b"), col("embedding").as("vb"))
      a.join(b, col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          Similarity.cosine(col("va"), col("vb")).as("cos"))
        .filter(col("cos") >= 0.4)
        .select(col("doc_a"), col("doc_b"))
    },
      ValidationOnly("SELECT a.vec_id AS doc_a, b.vec_id AS doc_b FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4")),
    // survivors of near-dup clustering over the LSH pair set: everything but
    // the non-minimum members of each duplicate cluster
    Query("d_keepers", (s, d) =>
      Dedup.dropNearDuplicates(
        tb(s, d, "documents"),
        Dedup.jaccardDuplicatePairs(tb(s, d, "documents"), "text", "doc_id",
          shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2)
          .select(col("doc_a"), col("doc_b")),
        "doc_id")
        .select(col("doc_id")),
      // keepers = all documents minus each cluster's non-minimum members
      Timed(s"""WITH clusters AS ($DupClusterClosureSql) SELECT d.doc_id FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc AND c.doc != c.cluster WHERE c.doc IS NULL""")),
    // quality-ranked keepers: same clusters, but each keeps its LONGEST
    // member (ties → lowest id) — the production policy (keep the cleanest
    // copy), exercised against the recursive-closure oracle with the same
    // ranking restated in SQL
    Query("d_keepers_quality", (s, d) => {
      val docs = tb(s, d, "documents")
      Dedup.dropNearDuplicatesByQuality(
        docs,
        Dedup.jaccardDuplicatePairs(docs, "text", "doc_id",
          shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2)
          .select(col("doc_a"), col("doc_b")),
        "doc_id", length(col("text")))
        .select(col("doc_id"))
    },
      // quality keepers: per cluster keep argmax(length(text), min doc_id)
      Timed(s"""WITH clusters AS ($DupClusterClosureSql), ranked AS (SELECT c.doc, row_number() OVER (PARTITION BY c.cluster ORDER BY length(d.text) DESC, c.doc ASC) AS rn FROM clusters c JOIN documents d ON d.doc_id = c.doc) SELECT d.doc_id FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc AND r.rn > 1 WHERE r.doc IS NULL""")),
    // salted equi-join (the AQE-can't-fix skew fallback) must be a drop-in:
    // same aggregate as the plain join, verified against the plain-join oracle
    Query("j11_salted_join", (s, d) => {
      val o = t(s, d, "orders").withColumnRenamed("o_custkey", "custkey")
      val c = t(s, d, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      graft.operators.SkewJoin.saltedJoin(o, c, Seq("custkey"), buckets = 8,
          uniqueIdCol = Some("o_orderkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sum_price"))
    },
      Timed("SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS sum_price FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey GROUP BY 1")),
    // bloom-pruned join must also be a drop-in: the filter only removes
    // provably-unmatched big rows before the shuffle, so the plain-join
    // oracle hash-matches exactly
    Query("j12_bloom_join", (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_partkey").as("partkey"), col("l_quantity"))
      val p = t(s, d, "part").filter(col("p_size") === 1)
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      graft.operators.BloomJoin.bloomPrunedJoin(li, p, Seq("partkey"),
          expectedItems = 10000L, fpp = 0.01)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
    },
      Timed("SELECT p_brand, count(*) AS n, sum(l_quantity) AS sum_qty FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey WHERE p.p_size = 1 GROUP BY 1")),
    // bounded-staleness as-of: each purchase matched to the user's most
    // recent click, but a click older than 2 h is no match (nulled) —
    // inner-filtered here so the oracle is the windowed containment join.
    // Same-instant clicks collapse to max(event_id) per the asOfWithin tie
    // contract
    Query("j16_asof_tolerance", (s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("c_user"), col("ts").as("click_ts"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("c_user"), col("click_ts"), col("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("fact_id"), col("user_id"), col("ts"))
      graft.operators.AsOfJoin.asOfWithin(
          purchases, clicks.withColumnRenamed("c_user", "user_id"),
          "user_id", "ts", "click_ts", Seq("click_id"), maxAgeSeconds = 7200L)
        .filter(col("click_id").isNotNull)
    },
      // rn=1 equals cutting in the join
      Timed("WITH c AS (SELECT user_id, ts AS click_ts, max(event_id) AS click_id FROM events WHERE event_type = 'click' GROUP BY 1, 2), f AS (SELECT event_id AS fact_id, user_id, ts FROM events WHERE event_type = 'purchase'), j AS (SELECT f.fact_id, f.user_id, f.ts, c.click_id, c.click_ts, row_number() OVER (PARTITION BY f.fact_id ORDER BY c.click_ts DESC) AS rn FROM f JOIN c ON f.user_id = c.user_id AND c.click_ts <= f.ts) SELECT fact_id, user_id, ts, click_id, click_ts FROM j WHERE rn = 1 AND click_ts >= ts - INTERVAL 2 HOUR")),
    // adaptive (heavy-key-only) salting: a third of orders are folded onto
    // custkey 1 — sampled detection must find the planted hot key (the
    // require() pins routing actually engages), light keys join unsalted,
    // and the whole result is a drop-in for the plain join's oracle
    Query("j15_adaptive_skew", (s, d) => {
      val o = t(s, d, "orders").withColumn("custkey",
        when(col("o_orderkey") % 3 === 0, lit(1L)).otherwise(col("o_custkey")))
      val c = t(s, d, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      val heavy = graft.operators.SkewJoin.detectHeavyKeys(
        o, Seq("custkey"), heavyShareDenom = 10L)
      // bounded collect: > 1/10-share keys — at most 9 rows by construction
      val hkeys = heavy.collect().map(_.getLong(0)).toSet
      require(hkeys.contains(1L), s"planted hot key not detected: $hkeys")
      graft.operators.SkewJoin.adaptiveSaltedJoin(o, c, Seq("custkey"),
          buckets = 8, heavyKeys = Some(heavy), uniqueIdCol = Some("o_orderkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("sum_price"))
    },
      Timed("SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS sum_price FROM (SELECT CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE o_custkey END AS custkey, o_totalprice FROM orders) o JOIN customer c ON o.custkey = c.c_custkey GROUP BY 1")),
    // hybrid-retrieval rank fusion: dense-cosine and L2 rankers fused by
    // reciprocal rank (RRF) in exact integer contributions — fusion cost
    // is answer-sized (k·|queries| rows per ranker), never corpus-sized
    // HYBRID retrieval — the RAG-era production shape: lexical BM25 and
    // dense cosine ranked independently over the SAME id space
    // (documents ⋈ embeddings), fused by integer RRF. Pure composition of
    // three gated operators; exact-integer fusion keeps it hash-stable
    Query("s_hybrid_retrieval", (s, d) => {
      val docs = tb(s, d, "documents")
      val embs = tb(s, d, "embeddings")
      val lex = SparseSim.bm25TopK(docs, docs.filter(col("doc_id") < 5),
        "text", "doc_id", "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id").as("item_id"), col("rank"))
      val dense = Similarity.bruteForceTopK(embs.filter(col("vec_id") < 5),
        embs, "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id").as("item_id"), col("rank"))
      Similarity.rrfFuse(Seq(lex, dense), k0 = 60, k = 5)
        .select(col("query_id"), col("item_id"), col("rrf_x1e9"),
          col("rank").cast("bigint").as("rank"))
    },
      // integer RRF contributions: 10^9 // (60 + rank) summed across the
      // two rankers, re-ranked on the exact integer score
      // hybrid fusion: the BM25 CTE + self-free dense CTE + integer RRF
      Timed("""WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens), q AS (SELECT DISTINCT doc_id AS query_id, unnest(tk) AS term FROM t WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2), lex AS (SELECT query_id, doc_id AS item_id, rank FROM (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5), dense AS (SELECT query_id, neighbor_id AS item_id, rank FROM (SELECT e.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings e JOIN embeddings c ON c.vec_id != e.vec_id WHERE e.vec_id < 5) WHERE rank <= 5), u AS (SELECT query_id, item_id, 1000000000 // (60 + rank) AS contrib FROM lex UNION ALL SELECT query_id, item_id, 1000000000 // (60 + rank) FROM dense), f AS (SELECT query_id, item_id, CAST(sum(contrib) AS BIGINT) AS rrf_x1e9 FROM u GROUP BY 1, 2) SELECT query_id, item_id, rrf_x1e9, rank FROM (SELECT query_id, item_id, rrf_x1e9, row_number() OVER (PARTITION BY query_id ORDER BY rrf_x1e9 DESC, item_id ASC) AS rank FROM f) WHERE rank <= 5""")),
    // the PERSISTED text-retrieval index (round-11 close of the r10 gap):
    // tf/df/doc-length/stats staged once as a marker-committed generation,
    // probed WITHOUT touching the corpus — partition-pruned to the query
    // terms' hash buckets. Same oracle as the recompute face (t_bm25_topk):
    // a lost posting, wrong bucket, or drifted stat cannot hash-match
    Query("s_bm25_indexed", (s, d) =>
      SparseSim.bm25TopKFromIndex(s, bm25IndexPath(s, d),
        tb(s, d, "documents").filter(col("doc_id") < 5), "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id"), col("score_x1e6"), col("rank")),
      // the persisted-index probe shares the RECOMPUTE face's oracle — the
      // index is bit-equivalent to re-deriving tf/df/stats from the corpus
      Timed("""WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens), q AS (SELECT DISTINCT doc_id AS query_id, unnest(tk) AS term FROM t WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2) SELECT query_id, doc_id, score_x1e6, rank FROM (SELECT query_id, doc_id, score_x1e6, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5""")),
    // the FROZEN-STATS incremental-ingest face: base segment on 3/4 of the
    // corpus, the last quarter appended as its own committed segment.
    // Appended docs retrieve through the BASE's df/N/avgdl (the frozen-
    // centroid contract transplanted to text) — the oracle restates
    // exactly that split, so staleness semantics are themselves hash-gated
    Query("s_bm25_appended", (s, d) => {
      val docs = tb(s, d, "documents")
      val path = bm25AppendIndexPath(s, docs, d)
      SparseSim.bm25TopKFromIndex(s, path,
        docs.filter(col("doc_id") < 5), "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id"), col("score_x1e6"), col("rank"))
    },
      // frozen-stats semantics restated: tf and doc lengths over ALL docs
      // (appended postings carry their own dl), df and N/avgdl over the BASE
      // build only (doc_id % 4 != 3) — terms unseen at base time drop out
      Timed("""WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf WHERE doc_id % 4 != 3 GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens WHERE doc_id % 4 != 3), q AS (SELECT DISTINCT doc_id AS query_id, unnest(tk) AS term FROM t WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2) SELECT query_id, doc_id, score_x1e6, rank FROM (SELECT query_id, doc_id, score_x1e6, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5""")),
    // the BM25 staleness audit — third of the health trilogy (IVF drift,
    // LSH bucket skew, BM25 segment staleness): segment metadata +
    // footer-only posting counts, gated by scale-free shape rules on the
    // append fixture — appends past 4× the base's postings mean frozen-df
    // scores have drifted too far (consolidate), 64+ segments mean probes
    // pay too many per-segment reads. Fixture shape: 2 segments, appended/
    // base ≈ 1/3, zero tombstones — ~12× headroom on both rules
    Query("s_bm25_health", (s, d) => {
      val docs = tb(s, d, "documents")
      val path = bm25AppendIndexPath(s, docs, d)
      SparseSim.bm25IndexStats(s, path)
        .filter(col("n_segments") > 64 ||
          col("appended_rows") > col("base_rows") * 4 ||
          col("tombstoned_ids") > col("base_rows"))
        .select(col("n_segments"), col("base_rows"), col("appended_rows"),
          col("tombstoned_ids"))
    },
      Timed("SELECT CAST(0 AS BIGINT) AS n_segments, CAST(0 AS BIGINT) AS base_rows, CAST(0 AS BIGINT) AS appended_rows, CAST(0 AS BIGINT) AS tombstoned_ids FROM documents WHERE 1 = 0")),
    // the RETENTION-DELETE face of the BM25 index (the near-dup tombstone
    // contract on text retrieval): full build, doc_id % 7 == 3 tombstoned
    // — deleted docs stop RETRIEVING immediately while df/N/avgdl stay
    // frozen (the oracle restates exactly that split), no segment rewrite
    Query("s_bm25_deleted", (s, d) => {
      val docs = tb(s, d, "documents")
      val path = Fixtures.memo("bm25DelIndex", d) {
        val dir = Fixtures.dir("bm25del")
        SparseSim.writeBm25Index(docs, "text", "doc_id", dir.toString)
        SparseSim.deleteFromBm25Index(
          docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")),
          "doc_id", dir.toString)
        dir.toString
      }
      SparseSim.bm25TopKFromIndex(s, path,
        docs.filter(col("doc_id") < 5), "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id"), col("score_x1e6"), col("rank"))
    },
      // tombstones screen results only: df/stats CTEs stay over ALL docs
      // (frozen), candidates restricted to surviving doc ids
      Timed("""WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens), q AS (SELECT DISTINCT doc_id AS query_id, unnest(tk) AS term FROM t WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s WHERE tf.doc_id % 7 != 3), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2) SELECT query_id, doc_id, score_x1e6, rank FROM (SELECT query_id, doc_id, score_x1e6, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5""")),
    // …and the PHYSICAL PURGE: consolidation excludes tombstoned postings,
    // recomputes df/N/avgdl WITHOUT them and clears the tombstones — the
    // purged index must equal a from-scratch build on the survivors, so
    // the oracle is the full recompute restricted to doc_id % 7 != 3
    Query("s_bm25_delete_purged", (s, d) => {
      val docs = tb(s, d, "documents")
      val path = Fixtures.memo("bm25DelPurgedIndex", d) {
        val dir = Fixtures.dir("bm25delp")
        SparseSim.writeBm25Index(docs, "text", "doc_id", dir.toString)
        SparseSim.deleteFromBm25Index(
          docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")),
          "doc_id", dir.toString)
        SparseSim.consolidateBm25Index(s, dir.toString)
        GenerationLog.vacuum(s, dir.toString, ttlMs = 0L)
        dir.toString
      }
      SparseSim.bm25TopKFromIndex(s, path,
        docs.filter(col("doc_id") < 5), "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id"), col("score_x1e6"), col("rank"))
    },
      // the purge resets everything to the survivors — full recompute over
      // doc_id % 7 != 3 (df, stats, tf and candidates alike)
      Timed("""WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents WHERE doc_id % 7 != 3), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens), q AS (SELECT DISTINCT doc_id AS query_id, unnest(list_transform(regexp_extract_all(text, '\S+'), x -> lower(x))) AS term FROM documents WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2) SELECT query_id, doc_id, score_x1e6, rank FROM (SELECT query_id, doc_id, score_x1e6, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5""")),
    // the STREAMING-ingest face of the BM25 index: document batches land
    // as files, each micro-batch commits as its own posting segment whose
    // marker records the batch id (visibility IS the marker, so the
    // stage-then-commit protocol doubles as the replay guard — no dynamic
    // overwrite). Same frozen-stats semantics as the batch append, so the
    // probe shares s_bm25_appended's oracle: a batch lost, duplicated, or
    // double-committed by a replay cannot hash-match
    Query("e_bm25_stream_append", (s, d) => {
      val docs = tb(s, d, "documents")
      val path = Fixtures.memo("bm25StreamIndex", d) {
        val dir = Fixtures.dir("bm25str")
        val landing = Fixtures.dir("bm25land")
        val ckpt = Fixtures.dir("bm25ck")
        SparseSim.writeBm25Index(docs.filter(col("doc_id") % 4 =!= 3),
          "text", "doc_id", dir.toString)
        val arrivals = docs.filter(col("doc_id") % 4 === 3)
          .select(col("doc_id"), col("text"))
        Seq(0, 1).foreach(k => landBatch(
          arrivals.filter(pmod(col("doc_id"), lit(8)) === lit(3 + 4 * k)), landing, k))
        SparseSim.streamAppendToBm25Index(
          s.readStream.schema(arrivals.schema).option("maxFilesPerTrigger", 1)
            .parquet(landing.toString),
          "text", "doc_id", dir.toString, ckpt.toString)
          .awaitTermination()
        // replay probe: re-running batch 1 must skip via its marker —
        // the probe below would double-count postings otherwise
        SparseSim.ingestBatchToBm25Index(
          arrivals.filter(pmod(col("doc_id"), lit(8)) === 7),
          "text", "doc_id", dir.toString, 1L)
        dir.toString
      }
      SparseSim.bm25TopKFromIndex(s, path,
        docs.filter(col("doc_id") < 5), "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id"), col("score_x1e6"), col("rank"))
    },
      // the streaming segments reconstruct exactly the batch-append state
      // (frozen stats + all arrivals' postings incl. the replayed batch
      // exactly once) — s_bm25_appended's oracle verbatim
      Timed("""WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf WHERE doc_id % 4 != 3 GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens WHERE doc_id % 4 != 3), q AS (SELECT DISTINCT doc_id AS query_id, unnest(tk) AS term FROM t WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2) SELECT query_id, doc_id, score_x1e6, rank FROM (SELECT query_id, doc_id, score_x1e6, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5""")),
    // CONSOLIDATION — the frozen-stats contract's recourse: the same
    // base+append fixture shape as s_bm25_appended, then the visible
    // generation merged into ONE fresh base FROM THE STORED POSTINGS
    // (df/N/avgdl recomputed; corpus text never read). After the merge the
    // index must equal a from-scratch full-corpus build — so this face
    // shares the FULL-recompute oracle (t_bm25_topk's), which is exactly
    // the staleness-reset claim in hash form
    Query("s_bm25_consolidated", (s, d) => {
      val docs = tb(s, d, "documents")
      val path = Fixtures.memo("bm25ConsolidatedIndex", d) {
        val dir = Fixtures.dir("bm25cons")
        SparseSim.writeBm25Index(docs.filter(col("doc_id") % 4 =!= 3),
          "text", "doc_id", dir.toString)
        SparseSim.appendToBm25Index(docs.filter(col("doc_id") % 4 === 3),
          "text", "doc_id", dir.toString)
        SparseSim.consolidateBm25Index(s, dir.toString)
        GenerationLog.vacuum(s, dir.toString, ttlMs = 0L)
        dir.toString
      }
      SparseSim.bm25TopKFromIndex(s, path,
        docs.filter(col("doc_id") < 5), "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id"), col("score_x1e6"), col("rank"))
    },
      // consolidation resets the frozen stats to the full corpus — the
      // merged index must equal a from-scratch build, so the oracle is the
      // FULL recompute (t_bm25_topk's SQL verbatim)
      Timed("""WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens), q AS (SELECT DISTINCT doc_id AS query_id, unnest(tk) AS term FROM t WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2) SELECT query_id, doc_id, score_x1e6, rank FROM (SELECT query_id, doc_id, score_x1e6, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5""")),
    // hybrid retrieval COMPOSED FROM THE PERSISTED INDEXES — the
    // production serving shape: BM25 from the posting segments, dense from
    // the IVF index at nprobe = #centroids (provably exact), fused by
    // integer RRF. Shares s_hybrid_retrieval's fully-recomputed oracle, so
    // index-vs-recompute equivalence rides the hash gate end-to-end
    Query("s_hybrid_indexed", (s, d) => {
      val docs = tb(s, d, "documents")
      val embs = tb(s, d, "embeddings")
      val lex = SparseSim.bm25TopKFromIndex(s, bm25IndexPath(s, d),
        docs.filter(col("doc_id") < 5), "text", "doc_id", k = 5)
        .select(col("query_id"), col("doc_id").as("item_id"), col("rank"))
      val dense = VersionedIvf.topKFromIndex(s, ivfIndexPath(s, d),
        embs.filter(col("vec_id") < 5), "embedding", "vec_id", k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id").as("item_id"), col("rank"))
      Similarity.rrfFuse(Seq(lex, dense), k0 = 60, k = 5)
        .select(col("query_id"), col("item_id"), col("rrf_x1e9"),
          col("rank").cast("bigint").as("rank"))
    },
      // indexed hybrid = the recomputed hybrid (BM25 segments ≡ recompute;
      // IVF at nprobe = #centroids ≡ brute) — one oracle covers both faces
      Timed("""WITH t AS (SELECT doc_id, list_transform(regexp_extract_all(text, '\S+'), x -> lower(x)) AS tk FROM documents), lens AS (SELECT doc_id, len(tk) AS dl FROM t WHERE len(tk) > 0), tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY 1,2), dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens), q AS (SELECT DISTINCT doc_id AS query_id, unnest(tk) AS term FROM t WHERE doc_id < 5), cand AS (SELECT q.query_id, tf.doc_id, ln((s.n - dfr.df + 0.5)/(dfr.df + 0.5) + 1.0) * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*lens.dl/s.avgdl)) AS contrib FROM tf JOIN q USING (term) JOIN dfr USING (term) JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats s), sc AS (SELECT query_id, doc_id, CAST(floor(sum(contrib)*1000000.0) AS BIGINT) AS score_x1e6 FROM cand GROUP BY 1,2), lex AS (SELECT query_id, doc_id AS item_id, rank FROM (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, doc_id ASC) AS rank FROM sc) WHERE rank <= 5), dense AS (SELECT query_id, neighbor_id AS item_id, rank FROM (SELECT e.vec_id AS query_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM embeddings e JOIN embeddings c ON c.vec_id != e.vec_id WHERE e.vec_id < 5) WHERE rank <= 5), u AS (SELECT query_id, item_id, 1000000000 // (60 + rank) AS contrib FROM lex UNION ALL SELECT query_id, item_id, 1000000000 // (60 + rank) FROM dense), f AS (SELECT query_id, item_id, CAST(sum(contrib) AS BIGINT) AS rrf_x1e9 FROM u GROUP BY 1, 2) SELECT query_id, item_id, rrf_x1e9, rank FROM (SELECT query_id, item_id, rrf_x1e9, row_number() OVER (PARTITION BY query_id ORDER BY rrf_x1e9 DESC, item_id ASC) AS rank FROM f) WHERE rank <= 5""")),
    Query("s_rrf_fuse", (s, d) => {
      val embs = tb(s, d, "embeddings")
      val queries = embs.filter(col("vec_id") < 10)
      val cosR = Similarity.bruteForceTopK(queries, embs, "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id").as("item_id"), col("rank"))
      val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = embs.select(col("vec_id").as("item_id"), col("embedding").as("cv"))
      val l2 = c.join(broadcast(q), col("query_id") =!= col("item_id"))
        .select(col("query_id"), col("item_id"),
          aggregate(
            zip_with(col("qv"), col("cv"),
              (a, b) => (a.cast("double") - b.cast("double")) * (a.cast("double") - b.cast("double"))),
            lit(0.0), (acc, e) => acc + e).as("d2"))
      val wL2 = Window.partitionBy(col("query_id"))
        .orderBy(col("d2").asc, col("item_id").asc)
      val l2R = l2.withColumn("rank", row_number().over(wL2))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("item_id"), col("rank"))
      Similarity.rrfFuse(Seq(cosR, l2R), k0 = 60, k = 5)
    },
      Timed("WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10), cosr AS (SELECT query_id, item_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS item_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank FROM q JOIN embeddings c ON c.vec_id != q.vec_id) WHERE rank <= 5), l2r AS (SELECT query_id, item_id, rank FROM (SELECT q.vec_id AS query_id, c.vec_id AS item_id, row_number() OVER (PARTITION BY q.vec_id ORDER BY list_distance(q.embedding, c.embedding) ASC, c.vec_id ASC) AS rank FROM q JOIN embeddings c ON c.vec_id != q.vec_id) WHERE rank <= 5), u AS (SELECT query_id, item_id, 1000000000 // (60 + rank) AS contrib FROM cosr UNION ALL SELECT query_id, item_id, 1000000000 // (60 + rank) FROM l2r), f AS (SELECT query_id, item_id, CAST(sum(contrib) AS BIGINT) AS rrf_x1e9 FROM u GROUP BY 1, 2) SELECT query_id, item_id, rrf_x1e9, rank FROM (SELECT query_id, item_id, rrf_x1e9, row_number() OVER (PARTITION BY query_id ORDER BY rrf_x1e9 DESC, item_id ASC) AS rank FROM f) WHERE rank <= 5")),
    // link-graph centrality for source-quality weighting: PageRank over
    // the supplier↔part co-occurrence graph in exact fixed-point BIGINT
    // arithmetic — rank sums are order-independent integers, so the full
    // per-node rank vector hash-matches an independent engine (the floating
    // -point version could never be oracle-gated; see PageRank.ranks).
    // Node ids: part → 2k, supplier → 2k+1
    Query("g_pagerank", (s, d) => {
      // no .distinct() here: ranks() dedups the edge set itself, so an
      // inner distinct would only add an exchange ahead of the outer one
      val li = t(s, d, "lineitem")
        .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
      // ranksUndirected ≡ ranks(undirected(pairs)) with the pair dedup run
      // BEFORE doubling and the redundant node-set/sink setup removed
      PageRank.ranksUndirected(
        li.select((col("s") * 2 + 1).as("a"), (col("p") * 2).as("b")), "a", "b",
        iters = 3)
        .select(col("node"), col("r").as("rank_x1e12"))
    },
      // the same integer recurrence unrolled: // is BIGINT floor-div in
      // DuckDB as DIV is in Spark, so every iteration is exact on both sides
      Timed("WITH base AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem), edges AS (SELECT s * 2 + 1 AS src, p * 2 AS dst FROM base UNION ALL SELECT p * 2 AS src, s * 2 + 1 AS dst FROM base), deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1), nodes AS (SELECT DISTINCT src AS node FROM edges), nn AS (SELECT count(*) AS n FROM nodes), r0 AS (SELECT node, (1000000000000 // nn.n) AS r, (1000000000000 // nn.n) AS base FROM nodes, nn), r1 AS (SELECT n.node, (n.base * 15 + coalesce(f.inflow, 0) * 85) // 100 AS r, n.base FROM r0 n LEFT JOIN (SELECT e.dst AS node, sum(r.r // d.outdeg) AS inflow FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1) f USING (node)), r2 AS (SELECT n.node, (n.base * 15 + coalesce(f.inflow, 0) * 85) // 100 AS r, n.base FROM r1 n LEFT JOIN (SELECT e.dst AS node, sum(r.r // d.outdeg) AS inflow FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1) f USING (node)), r3 AS (SELECT n.node, (n.base * 15 + coalesce(f.inflow, 0) * 85) // 100 AS r FROM r2 n LEFT JOIN (SELECT e.dst AS node, sum(r.r // d.outdeg) AS inflow FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1) f USING (node)) SELECT node, CAST(r AS BIGINT) AS rank_x1e12 FROM r3")),
    // fuzzy record linkage: blocked Jaro-Winkler pairs over part names.
    // Blocking on (brand, size) bounds the comparison space to Σ|block|²
    // (≤ 28² per block at sf0.1 vs 20000² unblocked); the native
    // JaroWinklerExpr is bit-identical to DuckDB's comparator (probed over
    // 5000 random pairs, pinned in LinkageSpec), so the similarity column
    // itself is oracle-hashed — not just the pair set
    Query("j17_linkage", (s, d) => {
      val parts = t(s, d, "part")
      Linkage.blockedPairs(parts, "p_partkey", "p_name",
          concat(col("p_brand"), lit("|"), col("p_size").cast("string")),
          threshold = 0.9)
        .select(col("block"), col("a_id"), col("b_id"),
          round(col("sim") * 1e6).cast("long").as("jw_x1e6"))
    },
      // the similarity COLUMN is hashed, not just the pair set: the native
      // expression is bit-identical to DuckDB's comparator (LinkageSpec)
      Timed("WITH k AS (SELECT p_partkey AS id, p_name AS name, p_brand || '|' || CAST(p_size AS VARCHAR) AS block FROM part) SELECT a.block AS block, a.id AS a_id, b.id AS b_id, CAST(round(jaro_winkler_similarity(a.name, b.name) * 1000000) AS BIGINT) AS jw_x1e6 FROM k a JOIN k b ON a.block = b.block AND a.id < b.id WHERE jaro_winkler_similarity(a.name, b.name) >= 0.9")),
    // the full ER pipeline: fuzzy pairs → connected-component entities
    // (alt-star, min-id label) → golden record per entity by survivorship
    // (highest price, id tie-break). The oracle replays the closure with a
    // recursive CTE — component labels, membership counts, AND the chosen
    // golden rows all hash-match
    Query("j18_golden", (s, d) => {
      val parts = t(s, d, "part")
      val pairs = Linkage.blockedPairs(parts, "p_partkey", "p_name",
        concat(col("p_brand"), lit("|"), col("p_size").cast("string")),
        threshold = 0.9)
      val labeled = Linkage.entities(parts, "p_partkey", pairs)
      Linkage.goldenRecords(labeled, "p_partkey", Seq(col("p_retailprice").desc))
        .select(col("entity"), col("p_partkey").as("golden_id"), col("n_members"))
    },
      // transitive closure as a recursive CTE; alt-star's min-id labeling
      // restated as least(src, min(reachable))
      Timed("WITH RECURSIVE k AS (SELECT p_partkey AS id, p_name AS name, p_brand || '|' || CAST(p_size AS VARCHAR) AS block, p_retailprice FROM part), e AS (SELECT a.id AS a, b.id AS b FROM k a JOIN k b ON a.block = b.block AND a.id < b.id WHERE jaro_winkler_similarity(a.name, b.name) >= 0.9), ed AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e), reach(src, dst) AS (SELECT src, dst FROM ed UNION SELECT r.src, ed.dst FROM reach r JOIN ed ON r.dst = ed.src), ent0 AS (SELECT src AS id, least(src, min(dst)) AS entity FROM reach GROUP BY src), lab AS (SELECT k.id, k.p_retailprice, coalesce(e0.entity, k.id) AS entity FROM k LEFT JOIN ent0 e0 USING (id)), g AS (SELECT entity, id AS golden_id, p_retailprice, row_number() OVER (PARTITION BY entity ORDER BY p_retailprice DESC, id ASC) AS rn FROM lab), sz AS (SELECT entity, count(*) AS n_members FROM lab GROUP BY 1) SELECT g.entity, g.golden_id, sz.n_members FROM g JOIN sz USING (entity) WHERE rn = 1")),
    // sorted-neighborhood near-dup: rank docs per language by a normalized
    // 32-char prefix, pair each doc with its 4 rank-predecessors, keep
    // edit-distance ≤ 8 prefixes. Comparisons are n·w by construction —
    // skew-immune where blocking alone is quadratic in the worst block —
    // and the rank join is an equi-join on (block, rn − off), not a range
    // join (see Linkage.sortedNeighborhoodPairs)
    Query("d_sorted_neighborhood", (s, d) => {
      val docs = tb(s, d, "documents")
      Linkage.sortedNeighborhoodPairs(docs, "doc_id", col("lang"),
          lower(substring(col("text"), 1, 32)), window = 4)
        .withColumn("lev", levenshtein(col("a_key"), col("b_key")))
        .filter(col("lev") <= 8)
        .select(col("block"), col("a_id"), col("b_id"),
          col("rank_distance"), col("lev"))
    },
      Timed("WITH k AS (SELECT doc_id AS id, lang AS block, lower(substr(text, 1, 32)) AS skey FROM documents), r AS (SELECT id, block, skey, row_number() OVER (PARTITION BY block ORDER BY skey, id) AS rn FROM k) SELECT a.block AS block, a.id AS a_id, b.id AS b_id, CAST(b.rn - a.rn AS INT) AS rank_distance, levenshtein(a.skey, b.skey) AS lev FROM r a JOIN r b ON a.block = b.block AND b.rn > a.rn AND b.rn <= a.rn + 4 WHERE levenshtein(a.skey, b.skey) <= 8"))
  )
}
