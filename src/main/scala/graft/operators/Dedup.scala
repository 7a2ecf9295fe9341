package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale document corpora.
  *
  * Design for 100 TB:
  *  - exact dedup is a hash-groupBy: one shuffle on a 16-byte digest, never
  *    on the full text;
  *  - near-dup is MinHash + LSH banding: per-document signature computation
  *    is embarrassingly parallel column math; candidate generation shuffles
  *    only (band_hash → doc_id) pairs, never text; the final verify join is
  *    narrow per bucket. No O(n²) stage anywhere;
  *  - SimHash gives a 64-bit sketch whose Hamming distance bounds cosine-ish
  *    similarity; bucketing on rotated prefixes keeps it shuffle-light.
  *
  * Signature math (shingles, MinHash, band keys, SimHash) runs in native
  * Catalyst expressions ([[graft.functions.VectorHash]]) — one row-level
  * eval of primitive Scala, ~10× the interpreted higher-order-function
  * composition it replaced. No Python/Scala UDFs anywhere.
  */
object Dedup {

  // ------------------------------------------------------------------ exact

  /** Exact dedup: keep the lowest-id row per identical `text`. Grouping is
    * on md5(text) so the shuffle key is 32 hex chars regardless of document
    * size; at 100 TB this is the difference between shuffling digests and
    * shuffling the corpus.
    */
  def exactDuplicateGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Survivors of exact dedup (one row per distinct text). */
  def dropExactDuplicates(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Digest manifest of a corpus: the persisted face of exact dedup for
    * INCREMENTAL pipelines — write this once per corpus snapshot, and dedup
    * each arriving batch against it with [[dropSeenDocuments]] instead of
    * re-reading the corpus text.
    */
  def digestManifest(docs: DataFrame, textCol: String): DataFrame =
    docs.select(md5(col(textCol)).as("text_hash")).distinct()

  /** Incremental exact dedup: rows of `batch` whose content digest does NOT
    * appear in the corpus manifest, self-deduped (lowest id wins) so a batch
    * containing its own copies emits one. Anti-join on 32-hex digests —
    * shuffle volume is digests, never text; at 100 TB the manifest side is
    * a fraction of corpus size and the arriving batch is small.
    */
  def dropSeenDocuments(
      batch: DataFrame,
      manifest: DataFrame,
      textCol: String,
      idCol: String
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // digest computed once per row, shared by the self-dedup window key and
    // the anti-join key (md5 over full text is the dominant per-row cost)
    val w = Window.partitionBy(col("__h")).orderBy(col(idCol))
    batch.withColumn("__h", md5(col(textCol)))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .join(manifest.select(col("text_hash")),
        col("__h") === col("text_hash"), "left_anti")
      .drop("__h", "__rn")
  }

  /** Near-dup signature manifest of a standing corpus: one row per doc with
    * its LSH band keys and xxhash64'd shingle set — the persisted face of
    * NEAR-duplicate dedup for incremental pipelines, as [[digestManifest]]
    * is for exact. ~1 KB/doc, no raw text: a 100 TB corpus condenses to a
    * manifest a fraction of a percent of its size, and each arriving batch
    * is checked against it with [[dropSeenNearDuplicates]] without ever
    * re-reading corpus text. Docs too short to shingle are absent (they
    * cannot near-dup by this measure).
    */
  def nearDupManifest(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4
  ): DataFrame =
    // staged projection: the shingle array is referenced by both the
    // signature and the hashed-set column — one eval per row
    shingleFrame(docs, textCol, idCol, shingleSize)
      .select(col("doc"),
        minhashSignature(col("sh"), bands * rowsPerBand).as("sig"),
        transform(col("sh"), s => xxhash64(s)).as("shh"))
      .select(col("doc"),
        lshBandKeys(col("sig"), bands, rowsPerBand).as("keys"), col("shh"))

  /** Exact-dedup manifest as a Bloom filter: ~10 bits/doc at 1% fpp versus
    * [[digestManifest]]'s 32 bytes/doc (md5 hex string) — the MEMORY-
    * RESIDENT membership face of the corpus for high-throughput ingest
    * gates (the whole filter for a billion documents is ~1.2 GB and ships
    * in a task closure; the digest manifest at that size is a ~32 GB join
    * side). One-sided by construction: Bloom filters have NO false
    * negatives, so a document already in the corpus is ALWAYS dropped; a
    * false positive drops an unseen document at rate ≤ fpp — the safe
    * direction for dedup (loses a sliver of new data, never re-admits a
    * duplicate). Pipelines that cannot tolerate the sliver use
    * [[dropSeenDocuments]].
    */
  def bloomDigestManifest(
      docs: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double = 0.01): Array[Byte] =
    BloomJoin.buildKeyFilter(docs.select(col(textCol)), Seq(textCol), expectedItems, fpp)

  /** Incremental exact dedup against a [[bloomDigestManifest]]: rows the
    * filter recognizes are dropped IN THE SCAN STAGE (no join, no shuffle
    * of the manifest, and — because the membership test runs before the
    * self-dedup window — a mostly-seen batch never pays the window's
    * exchange for its seen rows); survivors are then self-deduped through
    * [[dropExactDuplicates]], the same keeper rule as the exact path.
    * NULL-text rows bypass the membership test to match
    * [[dropSeenDocuments]]'s semantics exactly (its anti-join never
    * matches a NULL digest), so the ONLY divergence from the exact gate is
    * the bounded false-positive sliver.
    */
  def dropSeenDocumentsBloom(
      batch: DataFrame, manifest: Array[Byte], textCol: String, idCol: String): DataFrame =
    dropExactDuplicates(
      batch.filter(col(textCol).isNull ||
        !BloomJoin.mightContainColumn(Seq(textCol), manifest)),
      textCol, idCol)

  /** Zero-violation soundness contract for the Bloom manifest: rows KEPT by
    * [[dropSeenDocumentsBloom]] whose exact digest IS in the corpus — by
    * the no-false-negative property there are none, and the gate
    * hash-checks the emptiness. (The converse — unseen rows wrongly
    * dropped — is the bounded fpp trade, not a correctness property.)
    */
  def bloomSeenViolations(
      batch: DataFrame, corpus: DataFrame, textCol: String, idCol: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val kept = dropSeenDocumentsBloom(
      batch, bloomDigestManifest(corpus, textCol, expectedItems, fpp), textCol, idCol)
    kept.join(corpus.select(md5(col(textCol)).as("__ch")).distinct(),
        md5(kept(textCol)) === col("__ch"), "left_semi")
      .select(col(idCol))
  }

  /** Near-dup pairs of a standing corpus from its OWN signature manifest —
    * zero text re-read. Candidates from a band-key SELF-join over the
    * manifest's keys, exact-verified on the stored hashed shingle sets.
    * Because the manifest is ~1 KB/doc, this re-runs a changed dedup
    * policy (different `numer`/`denom` threshold, new keeper rule
    * downstream) over a corpus at manifest-scale IO instead of corpus-
    * scale — the 100 TB answer to "legal wants the similarity threshold
    * tightened". Thresholds STRICTER than the banding's design point keep
    * recall 1 (candidates only shrink under verification); looser ones
    * need a manifest rebuilt with looser banding.
    */
  def nearDupPairsFromManifest(manifest0: DataFrame, numer: Int, denom: Int): DataFrame = {
    // both the self-join sides and the two verify joins read the manifest —
    // under a CacheScope it materializes once (it is small by construction)
    val manifest = graft.CacheScope.persist(manifest0)
    verifiedPairs(bandSelfJoin(manifest), "doc_a", "doc_b", manifest, manifest, numer, denom)
  }

  /** Incremental near-dup dedup: rows of `batch` with NO near-duplicate
    * (shingle Jaccard ≥ numer/denom) in the corpus behind `manifest`
    * (a [[nearDupManifest]] built with the SAME shingleSize/bands/
    * rowsPerBand). Candidates come from a band-key equi-join of the batch's
    * signatures against the manifest — shuffle volume is band keys and
    * hashed shingle sets, never text, and never a cross product — then
    * exact-verified on the hashed shingle sets. Batch docs too short to
    * shingle pass through (consistent with the manifest's exclusion);
    * batch-internal near-dups are out of scope — compose with
    * [[dropNearDuplicates]] over [[jaccardDuplicatePairs]] for those.
    */
  def dropSeenNearDuplicates(
      batch: DataFrame,
      manifest: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numer: Int = 7,
      denom: Int = 10,
      bands: Int = 16,
      rowsPerBand: Int = 4
  ): DataFrame = {
    // the batch manifest is referenced twice (band explode + verify join):
    // materialize it once or the tokenize+shingle+minhash pass over the
    // batch text runs twice. The CALLER's manifest is also read twice — a
    // parquet-backed manifest re-scans cheaply (pruned columns), but an
    // in-flight computed one should be persisted by the caller.
    val bm = graft.CacheScope.persist(
      nearDupManifest(batch, textCol, idCol, shingleSize, bands, rowsPerBand))
    val seen = seenDocsAgainstManifest(bm, manifest, numer, denom)
    batch.join(seen, batch(idCol) === seen("b_doc"), "left_anti")
  }

  /** The seen-screen of [[dropSeenNearDuplicates]] over a PRE-BUILT (and
    * ideally persisted) batch manifest: batch doc ids (`b_doc`, distinct)
    * with a verified near-duplicate in `manifest`. Exposed so the gate
    * shares ONE tokenize+shingle+minhash pass between its seen-screen and
    * its in-batch self-dedup (which runs over the same manifest rows via
    * [[nearDupPairsFromManifest]]).
    */
  private[operators] def seenDocsAgainstManifest(
      bm: DataFrame, manifest: DataFrame, numer: Int, denom: Int): DataFrame =
    manifestCrossPairs(bm, manifest, numer, denom)
      .select(col("left").as("b_doc")).distinct()

  /** Verified near-dup pairs ACROSS two [[nearDupManifest]]s built with the
    * same parameters: candidates from the (band, key) equi-join of `left`
    * against `right` — never a cross product — exact-verified on the
    * hashed shingle sets. Output: (left, right, inter_sz, union_sz), one
    * row per verified (left doc, right doc) pair. `broadcastRight` ships
    * the right side into both joins when it is small (a benchmark suite),
    * so the left side never shuffles.
    */
  private[operators] def manifestCrossPairs(
      left: DataFrame, right: DataFrame, numer: Int, denom: Int,
      broadcastRight: Boolean = false): DataFrame = {
    val rb = bandRows(right, "right")
    val cands = bandRows(left, "left")
      .join(if (broadcastRight) broadcast(rb) else rb, Seq("band", "key"))
      .select(col("left"), col("right")).distinct()
    verifiedPairs(cands, "left", "right", left, right, numer, denom, broadcastRight)
  }

  /** One (`as`, band, key) row per band key of each manifest doc. */
  private def bandRows(manifest: DataFrame, as: String): DataFrame =
    manifest.select(col("doc").as(as), posexplode(col("keys")).as(Seq("band", "key")))

  /** Unverified candidate pairs of one manifest: the band-key SELF-join,
    * distinct (doc_a < doc_b). Equi-join on the band-bucket key, so
    * Catalyst plans a shuffled join keyed by tiny longs; candidate volume
    * is bounded by bucket sizes, not n².
    */
  private def bandSelfJoin(manifest: DataFrame): DataFrame = {
    val banded = bandRows(manifest, "doc")
    banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b")).distinct()
  }

  /** Exact verify of candidate pairs (`a` from `left`, `b` from `right`) on
    * the manifests' 64-bit shingle HASHES, in integer math (denom·I ≥
    * numer·U, engine-portable). Intersecting long arrays is several times
    * cheaper than UTF8 string arrays at millions of candidate pairs, and
    * the counts are identical short of an xxhash64 collision within a
    * candidate pair (~|sh|²/2^64 — negligible, and the DuckDB oracle on
    * raw strings would catch a systematic error).
    */
  private def verifiedPairs(
      cands: DataFrame, a: String, b: String, left: DataFrame, right: DataFrame,
      numer: Int, denom: Int, broadcastRight: Boolean = false): DataFrame = {
    val r = right.select(col("doc"), col("shh")).alias("vr")
    val (inter, union) = setOverlap(col("vl.shh"), col("vr.shh"))
    cands
      .join(left.select(col("doc"), col("shh")).alias("vl"), col(a) === col("vl.doc"))
      .join(if (broadcastRight) broadcast(r) else r, col(b) === col("vr.doc"))
      .select(col(a), col(b),
        inter.cast("bigint").as("inter_sz"), union.cast("bigint").as("union_sz"))
      .filter(col("inter_sz") * denom >= col("union_sz") * numer)
  }

  // ---------------------------------------------------------------- minhash

  /** MinHash signature (array of `k` 64-bit minima) over a shingle array.
    * Native expression (graft.functions.VectorHash): double hashing
    * h_i = h1 + i·h2, one row-level eval — the composable k×transform form
    * is ~10× slower interpreted.
    */
  def minhashSignature(shingleArr: Column, k: Int): Column =
    graft.functions.VectorHash.minhashSignature(shingleArr, k)

  /** LSH band keys: the signature split into `bands` groups of `rowsPerBand`
    * values, each group hashed to one 64-bit band key (band index seeds the
    * hash, so keyspaces don't collide across bands). Two docs collide in
    * some band iff their signatures agree on that whole band — the classic
    * (1-(1-s^r)^b) S-curve.
    */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    graft.functions.VectorHash.lshBandKeys(signature, bands, rowsPerBand)

  /** Candidate near-duplicate pairs via MinHash+LSH, unverified.
    *
    * Pipeline: tokens → `shingleSize`-gram shingles → k=bands·rowsPerBand
    * MinHash signature → band keys ([[nearDupManifest]]) → self-join per
    * (band, key) bucket → distinct (a < b) pairs.
    */
  def minhashCandidatePairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4
  ): DataFrame =
    bandSelfJoin(nearDupManifest(docs, textCol, idCol, shingleSize, bands, rowsPerBand))

  /** The (doc, sh) projection every near-dup path starts from — computed
    * once and shared so tokenize+shingle (the dominant narrow-stage cost)
    * doesn't run per consumer.
    *
    * Documents with FEWER than `shingleSize` tokens have an empty shingle
    * set and are excluded: set-similarity is undefined on empty sets (the
    * `denom·I ≥ numer·U` gate degenerates to 0 ≥ 0 = always-duplicate), and
    * every such doc produces the identical degenerate MinHash signature —
    * at web scale millions of short docs would collapse into ONE quadratic
    * LSH bucket while being declared mutual duplicates. Short docs belong to
    * exact dedup ([[exactDuplicateGroups]]), not n-gram similarity.
    */
  def shingleFrame(docs: DataFrame, textCol: String, idCol: String, shingleSize: Int): DataFrame =
    docs.select(
      col(idCol).as("doc"),
      graft.functions.VectorHash.wordShingles(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)

  // ---------------------------------------------------------------- jaccard

  /** Exact Jaccard similarity of two (distinct-element) arrays, as integer-
    * exact predicate building blocks: returns intersection and union sizes.
    */
  def setOverlap(a: Column, b: Column): (Column, Column) = {
    val inter = size(array_intersect(a, b))
    val union = size(a) + size(b) - inter
    (inter, union)
  }

  /** Near-duplicate pairs at Jaccard ≥ numer/denom over word n-gram shingle
    * sets, verified exactly on LSH candidates: [[nearDupPairsFromManifest]]
    * over the corpus' [[nearDupManifest]], so one tokenize+shingle+minhash
    * pass feeds both the candidate self-join and the verify joins.
    */
  def jaccardDuplicatePairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numer: Int = 7,
      denom: Int = 10,
      bands: Int = 16,
      rowsPerBand: Int = 4
  ): DataFrame =
    nearDupPairsFromManifest(
      nearDupManifest(docs, textCol, idCol, shingleSize, bands, rowsPerBand), numer, denom)

  /** Brute-force exact-Jaccard pairs (the small-data oracle for the LSH
    * path): all id<id pairs with Jaccard ≥ numer/denom. O(n²) — only for
    * validation at small scale, never the production path.
    */
  def jaccardPairsBruteForce(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int,
      numer: Int,
      denom: Int
  ): DataFrame =
    // same short-doc exclusion as shingleFrame: empty sets must not pair
    brutePairs(shingleFrame(docs, textCol, idCol, shingleSize), numer, denom)

  /** Every (doc_a < doc_b) pair of a (doc, sh) frame whose exact set
    * Jaccard reaches numer/denom — the O(n²) oracle shape of both brutes.
    */
  private def brutePairs(withShingles: DataFrame, numer: Int, denom: Int): DataFrame = {
    val a = withShingles.alias("sa")
    val b = withShingles.alias("sb")
    val (inter, union) = setOverlap(col("sa.sh"), col("sb.sh"))
    a.join(b, col("sa.doc") < col("sb.doc"))
      .select(col("sa.doc").as("doc_a"), col("sb.doc").as("doc_b"),
        inter.cast("bigint").as("inter_sz"), union.cast("bigint").as("union_sz"))
      .filter(col("inter_sz") * denom >= col("union_sz") * numer)
  }

  /** Directed shingle-CONTAINMENT pairs through a posting-list join:
    * containment(src → dst) = |sh(src) ∩ sh(dst)| / |sh(src)| in exact
    * integer ppm. Containment is the asymmetric cousin of Jaccard and the
    * right lens for quote/subset contamination — a 100-line document fully
    * embedded in a 10,000-line one has J ≈ 0.01 (invisible to every
    * Jaccard threshold) but containment 1.0.
    *
    * Scale shape is the inverted-index one (same as [[graft.operators.SparseSim]]):
    * candidates come from an equi-join of distinct-shingle postings, so
    * two documents are compared ONLY if they share a shingle, and the join
    * is bounded by `maxDf` — shingles shared by more than `maxDf` docs are
    * dropped as boilerplate (df-capped semantics the oracle restates;
    * the cap must track corpus size, see SparseSim). Both directions of
    * every overlapping pair emit, each with its own denominator.
    */
  def containmentPairs(
      docs: DataFrame, textCol: String, idCol: String,
      shingleSize: Int, thresholdPpm: Long, maxDf: Long): DataFrame = {
    val sh = shingleFrame(docs, textCol, idCol, shingleSize)
    val posts = graft.CacheScope.persist(
      sh.select(col("doc"), explode(col("sh")).as("s")))
    val dfr = posts.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2L && col("df") <= maxDf)
    val gated = graft.CacheScope.persist(posts.join(dfr.select(col("s")), "s"))
    val sizes = sh.select(col("doc"), size(col("sh")).cast("bigint").as("n_sh"))
    val a = gated.select(col("s"), col("doc").as("src"))
    val b = gated.select(col("s"), col("doc").as("dst"))
    a.join(b, Seq("s"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("inter_sz"))
      .join(sizes.select(col("doc").as("src"), col("n_sh")), Seq("src"))
      .select(col("src"), col("dst"), col("inter_sz"),
        expr("CAST(inter_sz * 1000000 DIV n_sh AS BIGINT)").as("containment_ppm"))
      .filter(col("containment_ppm") >= thresholdPpm)
  }

  /** Exact character-n-gram Jaccard pairs (brute force — the small-scale
    * oracle for char-level near-dup). Character shingles are the right unit
    * when whitespace tokenization fails (CJK text, no-space boilerplate,
    * aggressive minification); at scale the same MinHash/LSH machinery
    * applies, with signatures and band keys over the char-shingle set
    * instead of the word-shingle one.
    */
  def jaccardCharPairsBruteForce(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      numer: Int,
      denom: Int
  ): DataFrame =
    brutePairs(docs.select(
      col(idCol).as("doc"),
      array_distinct(TextOps.charNgrams(lower(col(textCol)), n)).as("sh"))
      .filter(size(col("sh")) > 0), numer, denom)

  // ---------------------------------------------------------------- simhash

  /** Per-document 64-bit SimHash sketch (native expression). Zero-token
    * documents are excluded: they all sketch to 0L (every bit counter is 0),
    * so unrelated empty/whitespace docs would be declared one identical
    * cluster — and at scale would form a single quadratic join bucket.
    */
  def simhashSketches(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
      TextOps.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("doc"),
        graft.functions.VectorHash.simhash64(col("__toks")).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist.
    *
    * Two skew defenses over the naive 1-of-(d+1)-block pigeonhole join (which
    * degenerates toward n²-per-bucket on low-entropy corpora — boilerplate-
    * heavy web pages share block values massively):
    *
    *  1. '''Distinct-value collapse.''' The candidate join runs over DISTINCT
    *     sketch values, not documents. A corpus where a million documents
    *     share a few thousand sketches (the exact scenario that skews the doc-
    *     level join) collapses to a few-thousand-row join; doc pairs are
    *     recovered afterwards by two equi-joins on the 8-byte sketch value.
    *     Identical-sketch doc pairs (dist 0) come from a same-value self-join
    *     and never touch the pigeonhole stage at all.
    *  2. '''2-of-(d+2) block agreement.''' Split 64 bits into (d+2) blocks: a
    *     pair within distance d differs in ≤ d blocks, so it agrees on ≥ 2 —
    *     i.e. on at least one block PAIR. Joining on block-pair keys (~26
    *     agreeing bits for d=3, vs 16 for single blocks) squares away the
    *     residual collision probability among distinct values.
    *
    * Both are exact covers: the verified pair set is identical to the naive
    * scheme's (asserted vs brute force in OperatorsSpec).
    */
  def simhashDuplicatePairs(
      docs: DataFrame, textCol: String, idCol: String, maxDist: Int = 3): DataFrame =
    // the sketch frame is referenced three times (distinct values + the two
    // doc-expansion joins); under a CacheScope it materializes once — two
    // longs per document, so storage is a non-issue at any scale; the
    // tokenize+sketch passes it saves are not
    simhashPairsFromSketches(
      graft.CacheScope.persist(simhashSketches(docs, textCol, idCol)), maxDist)

  /** [[simhashDuplicatePairs]] from a precomputed (doc, simhash) frame,
    * read three times: persist it first when it is costly to recompute.
    */
  def simhashPairsFromSketches(sk: DataFrame, maxDist: Int): DataFrame = {
    val valuePairs = simhashValuePairs(sk.select(col("simhash")).distinct(), maxDist)
    // identical sketches: expand within each value group, dist = 0
    val x = sk.alias("x")
    val y = sk.alias("y")
    val same = x.join(y,
        col("x.simhash") === col("y.simhash") && col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"),
        lit(0).cast("int").as("dist"))
    // distinct-value pairs: attach every doc on each side; each doc pair
    // belongs to exactly one value pair, so the union needs no distinct
    val cross = valuePairs
      .join(sk.alias("da"), col("sim_a") === col("da.simhash"))
      .join(sk.alias("db"), col("sim_b") === col("db.simhash"))
      .select(
        least(col("da.doc"), col("db.doc")).as("doc_a"),
        greatest(col("da.doc"), col("db.doc")).as("doc_b"),
        col("dist"))
    same.union(cross)
  }

  /** Distinct sketch-value pairs within Hamming distance ≤ maxDist, via the
    * 2-of-(d+2) block-pair pigeonhole (see [[simhashDuplicatePairs]]). Input:
    * one `simhash` column of distinct longs. Output: (sim_a, sim_b, dist)
    * with sim_a < sim_b, 0 < dist ≤ maxDist.
    */
  def simhashValuePairs(values: DataFrame, maxDist: Int): DataFrame = {
    val nBlocks = maxDist + 2
    // distribute 64 bits over the blocks (first 64 % nBlocks get an extra bit)
    val base = 64 / nBlocks
    val extra = 64 % nBlocks
    val offsets = (0 until nBlocks).scanLeft(0)((off, i) => off + base + (if (i < extra) 1 else 0))
    def blockBits(i: Int): Column = {
      val width = base + (if (i < extra) 1 else 0)
      shiftright(col("simhash"), offsets(i)).bitwiseAND((1L << width) - 1L)
    }
    val keyPairs = for { i <- 0 until nBlocks; j <- (i + 1) until nBlocks } yield
      struct(lit(i * nBlocks + j).as("pk"), blockBits(i).as("k1"), blockBits(j).as("k2"))
    val keyed = values
      .select(col("simhash"), explode(array(keyPairs: _*)).as("bk"))
      .select(col("simhash"), col("bk.pk"), col("bk.k1"), col("bk.k2"))
    val a = keyed.alias("a")
    val b = keyed.alias("b")
    a.join(b,
        col("a.pk") === col("b.pk") && col("a.k1") === col("b.k1") &&
          col("a.k2") === col("b.k2") && col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"),
        TextOps.hamming64(col("a.simhash"), col("b.simhash")).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  // ------------------------------------------- exact substring deduplication

  /** Exact SUBSTRING dedup at token granularity — the operation the
    * doc-level family above cannot express: a boilerplate header pasted
    * into a million otherwise-distinct pages survives every doc-level
    * dedup, but is exactly what substring dedup removes (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr). Semantics, deterministic and engine-portable:
    *
    *  - tokens are the `\S+` runs of `textCol` (case-preserved — this is
    *    EXACT dedup);
    *  - every length-`n` token window is an occurrence keyed by its
    *    content; a window content occurring ≥ 2 times corpus-wide
    *    (across OR within docs) is duplicated;
    *  - the globally-first occurrence — ordered by (doc id, position) —
    *    of each duplicated window is retained; every other occurrence is
    *    cut, and a doc's removed region is the UNION of its cut windows'
    *    token ranges (so overlapping duplicated windows merge into one
    *    maximal span, the ExactSubstr behavior: the second copy of a
    *    whole duplicated paragraph disappears in one piece).
    *
    * 100 TB shape — this is the honest price of EXACT substring dedup
    * (the alternative, distributed suffix arrays, shuffles rank arrays
    * several times the corpus size):
    *  1. the occurrence scan shuffles one (h1, h2, partial count, partial
    *     argmin) record per DISTINCT window per partition — map-side
    *     combine collapses the within-partition repeats (boilerplate is
    *     precisely the high-repeat case), and the 16-byte two-hash key
    *     replaces the n-token string, so the corpus text itself never
    *     shuffles;
    *  2. duplicated keys (count ≥ 2) are a small fraction of distinct —
    *     the re-scan joins occurrences against them (AQE picks broadcast
    *     when they fit), emitting only the occurrences to cut;
    *  3. span-merging windows over (doc, position) — rows ∝ cut windows,
    *     not corpus;
    *  4. [[substringClean]] applies cuts with a per-doc higher-order
    *     filter after ONE join of the span table back to the corpus: the
    *     corpus is never exploded token-wise across a shuffle.
    *
    * Collision honesty: keys are two independent xxhash64s (~128 bits);
    * a false merge needs a 2⁻¹²⁸ double collision — negligible at any
    * corpus size (and [[substringRemovedSpansBrute]], keyed on the window
    * CONTENT, pins hash ≡ string equivalence in the spec suite).
    */
  def substringRemovedSpans(
      docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    mergeCoveredSpans(cutOccurrences(docs, textCol, idCol, n, hashed = true), n)

  /** [[substringRemovedSpans]] keyed on the raw window STRING instead of
    * its two hashes — the collision-free reference the spec suite holds
    * the hashed production path equal to. Shuffles window text; test-scale
    * only.
    */
  def substringRemovedSpansBrute(
      docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    mergeCoveredSpans(cutOccurrences(docs, textCol, idCol, n, hashed = false), n)

  /** Duplicated-window occurrences to cut: every occurrence of a ≥2-count
    * window content except the globally-first one. Output: (doc, pos).
    */
  private def cutOccurrences(
      docs: DataFrame, textCol: String, idCol: String, n: Int,
      hashed: Boolean): DataFrame = {
    require(n >= 2, s"window must span at least 2 tokens, got $n")
    val occ =
      if (hashed) cutOccurrenceKeys(docs, textCol, idCol, n)
      else {
        // windows: pos is the 0-based token index; the ngram string is
        // built once per occurrence (posexplode output)
        val toks = docs.select(col(idCol).cast("long").as("doc"),
          regexp_extract_all(col(textCol), lit("\\S+"), lit(0)).as("__toks"))
        toks.filter(size(col("__toks")) >= n)
          .select(col("doc"), posexplode(transform(
            sequence(lit(0), size(col("__toks")) - n),
            i => concat_ws(" ", slice(col("__toks"), i + 1, lit(n))))))
          .toDF("doc", "pos", "ng")
          .select(col("doc"), col("pos"), col("ng").as("h1"), lit(0L).as("h2"))
      }
    // duplicated keys + their first occurrence: ONE hash-shuffle with
    // map-side combine (count + struct-min partials); never the text
    val firsts = occ.groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("c"), min(struct(col("doc"), col("pos"))).as("first"))
      .filter(col("c") >= 2)
      .select(col("h1"), col("h2"), col("first"))
    occ.join(firsts, Seq("h1", "h2"))
      .filter(!(col("doc") === col("first.doc") && col("pos") === col("first.pos")))
      .select(col("doc"), col("pos"))
  }

  /** Union the cut windows' token ranges into maximal per-doc spans.
    * Output: (doc, span_start, span_len), token units.
    *
    * ONE shuffle (the per-doc position aggregation, map-side combined on
    * raw `pos` values — n× fewer bytes than shuffling the exploded
    * coverage); the window expansion, distinct, sort, and island split all
    * run as codegen array expressions on the per-doc position set. The
    * previous explode → distinct → per-doc window → group-by shape paid
    * three exchanges and shuffled every covered position. Per-doc state is
    * O(doc tokens) either way (the old per-doc window partition held the
    * same positions).
    */
  private def mergeCoveredSpans(cut: DataFrame, n: Int): DataFrame = {
    val cov = array_sort(array_distinct(flatten(
      transform(col("ps"), p => sequence(p, p + (n - 1))))))
    // island starts: elements whose predecessor isn't p-1; island ends:
    // elements whose successor isn't p+1. `get` is 0-based and yields NULL
    // out of bounds (no ANSI index error at the array edges); the
    // null-safe <=> makes the edge elements start/end their islands.
    val starts = filter(col("cov"), (x, i) =>
      !(get(col("cov"), i - 1) <=> x - 1))
    val ends = filter(col("cov"), (x, i) =>
      !(get(col("cov"), i + 1) <=> x + 1))
    cut.groupBy(col("doc")).agg(collect_set(col("pos")).as("ps"))
      .select(col("doc"), cov.as("cov"))
      .select(col("doc"), explode(zip_with(starts, ends, (s, e) =>
        struct(s.cast("bigint").as("span_start"),
          (e - s + 1).cast("long").as("span_len")))).as("sp"))
      .select(col("doc"), col("sp.span_start"), col("sp.span_len"))
  }

  /** Window manifest — the INCREMENTAL face's state: one (h1, h2) row per
    * DISTINCT window content ever seen (kept or cut — keep-first-globally
    * means any window with history cuts every later occurrence). 16 bytes
    * per distinct window, the substring analogue of [[digestManifest]];
    * grow it batch-over-batch by unioning [[substringWindowManifest]] of
    * each arriving batch (distinct is idempotent, so replays are safe).
    */
  def substringWindowManifest(
      docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    cutOccurrenceKeys(docs, textCol, idCol, n).select(col("h1"), col("h2")).distinct()

  /** Incremental substring dedup: cut from `batch` every window occurrence
    * whose content the `manifest` has seen, PLUS the within-batch
    * all-but-first occurrences — exactly the spans the one-shot
    * [[substringRemovedSpans]] over (corpus ∪ batch) would assign to the
    * batch docs when batch ids order after corpus ids (the strictly-earlier
    * arrival semantics every incremental face here uses; pinned by the
    * d_substr_incremental oracle). Output: (doc, span_start, span_len).
    *
    * Scale: the expensive side is membership against a corpus-sized
    * manifest. The batch's distinct window keys broadcast into the
    * manifest SCAN (a map-side semi-join — the manifest never shuffles,
    * one sequential read per batch, the near-dup gate's cost model), and
    * everything after runs on batch-sized frames.
    */
  def substringSpansAgainstManifest(
      batch: DataFrame, manifest: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    substringSpansFromOccurrences(
      graft.CacheScope.persist(cutOccurrenceKeys(batch, textCol, idCol, n)), manifest, n)

  /** [[substringSpansAgainstManifest]] over a PRE-BUILT (and ideally
    * persisted) occurrence frame — the gate shares one tokenize+shingle
    * pass between its span computation and its new-window-key append
    * instead of re-deriving the batch occurrences per consumer.
    */
  private[operators] def substringSpansFromOccurrences(
      occ: DataFrame, manifest: DataFrame, n: Int): DataFrame = {
    val batchKeys = occ.select(col("h1"), col("h2")).distinct()
    // manifest-side semi-join with the batch keys broadcast: emits only
    // the (tiny) already-seen subset of the batch's keys. `seen` is then
    // itself BROADCAST into both occ splits below — bounded by the batch
    // keys that were just broadcast the other way, and the shared broadcast
    // exchange is planned once (ReuseExchange), so the manifest — the
    // corpus-sized side — is scanned ONCE per batch instead of once per
    // split, and neither occ split shuffles
    val seen = broadcast(
      manifest.join(broadcast(batchKeys), Seq("h1", "h2"), "left_semi"))
    val seenCuts = occ.join(seen, Seq("h1", "h2"), "left_semi")
      .select(col("doc"), col("pos"))
    // within-batch keep-first applies only to windows with NO history
    // (a seen window's occurrences are all cut — its keeper lives in the
    // corpus); restricting the self-dedup to unseen keys keeps the two
    // cut sets disjoint by construction
    val unseenOcc = occ.join(seen, Seq("h1", "h2"), "left_anti")
    val selfFirsts = unseenOcc.groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("c"), min(struct(col("doc"), col("pos"))).as("first"))
      .filter(col("c") >= 2)
      .select(col("h1"), col("h2"), col("first"))
    // batch-bounded (duplicated keys within one micro-batch) — broadcast,
    // so the occurrence side never shuffles on its way to the cut set
    val selfCuts = unseenOcc.join(broadcast(selfFirsts), Seq("h1", "h2"))
      .filter(!(col("doc") === col("first.doc") && col("pos") === col("first.pos")))
      .select(col("doc"), col("pos"))
    mergeCoveredSpans(seenCuts.unionByName(selfCuts), n)
  }

  /** DECONTAMINATION spans (Lee et al. 2022 §5's eval-decontamination,
    * span-level): cut from `corpus` every occurrence of an n-token window
    * whose content appears ANYWHERE in `benchmark`. The doc-level screen
    * ([[graft.operators.Curation.contamination]]) drops whole documents;
    * this keeps the document and removes the leaked text — the recourse
    * when a boilerplate-quoted eval question shouldn't cost the page.
    * No within-corpus dedup: only benchmark matches cut (compose with
    * [[substringRemovedSpans]] for both).
    *
    * Scale shape: the benchmark manifest (16 B per distinct window of the
    * eval suites — small by construction) BROADCASTS into the corpus's
    * occurrence scan as a map-side semi-join; the corpus never shuffles,
    * and everything after [[mergeCoveredSpans]] runs on answer-sized
    * (leaked-span) frames.
    */
  def decontaminationSpans(
      corpus: DataFrame, benchmark: DataFrame, textCol: String, idCol: String,
      n: Int = 8): DataFrame = {
    val man = substringWindowManifest(benchmark, textCol, idCol, n)
    val seen = cutOccurrenceKeys(corpus, textCol, idCol, n)
      .join(broadcast(man), Seq("h1", "h2"), "left_semi")
      .select(col("doc"), col("pos"))
    mergeCoveredSpans(seen, n)
  }

  /** The production decontamination face: corpus text with every
    * benchmark-overlapping span cut out ([[applyRemovedSpans]] semantics —
    * whitespace-normalized output, fully-leaked docs drop).
    */
  def decontaminate(
      corpus: DataFrame, benchmark: DataFrame, textCol: String, idCol: String,
      n: Int = 8): DataFrame =
    applyRemovedSpans(corpus,
      decontaminationSpans(corpus, benchmark, textCol, idCol, n), textCol, idCol)

  /** Occurrence frame shared by the one-shot and incremental faces:
    * (doc, pos, h1, h2) for every length-`n` token window.
    */
  private[operators] def cutOccurrenceKeys(
      docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    require(n >= 2, s"window must span at least 2 tokens, got $n")
    val toks = docs.select(col(idCol).cast("long").as("doc"),
      regexp_extract_all(col(textCol), lit("\\S+"), lit(0)).as("__toks"))
    toks.filter(size(col("__toks")) >= n)
      .select(col("doc"), posexplode(transform(
        sequence(lit(0), size(col("__toks")) - n),
        i => concat_ws(" ", slice(col("__toks"), i + 1, lit(n))))))
      .toDF("doc", "pos", "ng")
      .select(col("doc"), col("pos"),
        xxhash64(col("ng")).as("h1"), xxhash64(lit(0x9E3779B9L), col("ng")).as("h2"))
  }

  /** The production face: each doc's text with its removed spans cut out,
    * rebuilt from the kept tokens joined by single spaces (so the output
    * is whitespace-normalized — deterministic across engines). Docs whose
    * every token is covered (the trailing copies of an exact full-doc
    * duplicate) drop out entirely — substring dedup subsumes exact dedup.
    *
    * The corpus never sheds its row shape: spans collapse to ≤ one array
    * per doc, join back on the doc id, and a (token, index) higher-order
    * filter applies every cut map-side — no token-wise explode/re-group of
    * the corpus.
    */
  def substringClean(
      docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    applyRemovedSpans(docs, substringRemovedSpans(docs, textCol, idCol, n),
      textCol, idCol)

  /** Apply a (doc, span_start, span_len) cut table to its corpus — the
    * assembly half of [[substringClean]], shared by the one-shot,
    * incremental, and streaming faces. Spans collapse to ≤ one array per
    * doc, join back on the doc id, and a (token, index) higher-order
    * filter applies every cut map-side.
    */
  def applyRemovedSpans(
      docs: DataFrame, spans: DataFrame, textCol: String, idCol: String): DataFrame = {
    val cuts = spans.groupBy(col("doc"))
      .agg(collect_list(struct(col("span_start"), col("span_len"))).as("__cuts"))
    val toks = docs.select(col(idCol).cast("long").as("doc"),
      regexp_extract_all(col(textCol), lit("\\S+"), lit(0)).as("__toks"))
    toks.join(cuts, Seq("doc"), "left")
      .select(col("doc"), array_join(filter(col("__toks"), (_, i) =>
        col("__cuts").isNull || !exists(col("__cuts"), c =>
          i >= c.getField("span_start") &&
            i < c.getField("span_start") + c.getField("span_len"))), " ")
        .as("cleaned_text"))
      .filter(length(col("cleaned_text")) > 0)
  }

  // ------------------------------------------------------------- clustering

  /** Connected components over near-dup pairs: every doc labeled with the
    * minimum doc id reachable through the pair graph — the "which duplicate
    * cluster am I in" step between pair generation and keeper selection.
    *
    * Distributed min-label propagation: each iteration joins labels across
    * edges and keeps the per-node minimum — one shuffle per iteration,
    * converging in O(component diameter) iterations (near-dup clusters are
    * clique-like, so 2-3 in practice). The driver loop early-exits on a
    * fixpoint; `maxIter` bounds adversarial chains.
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // eager local checkpoint, not persist: every iteration's joins re-plan
    // this frame, so a persisted-but-untruncated input would re-analyze and
    // re-optimize the entire upstream lineage (for LSH-fed pairs, the whole
    // shingle/signature expression forest) once per iteration — measured as
    // tens of seconds of pure driver planning at 100k docs. Lineage
    // truncation at the operator boundary is the point, exactly as for the
    // iteration checkpoints below; executor loss costs a job retry, never a
    // silent wrong answer.
    //
    // Materialize the INPUT once before the union multi-references it: the
    // two union branches are separate physical subtrees, so an un-
    // materialized LSH+verify pipeline would execute once per branch —
    // measured ~200 s per extra execution at 100× stress (60M verified
    // pairs). The pair frame itself is two longs per row; checkpointing it
    // first makes each extra reference a ~1 GB scan instead of a re-run.
    // BOTH directions in one projection (explode of a 2-struct array), so
    // the edge set materializes in ONE checkpoint job and the (possibly
    // expensive — LSH+verify) pair pipeline executes exactly once; the old
    // two-step (checkpoint pairs, then checkpoint the union of two
    // projections of it) paid an extra materialization job per call
    val edges = graft.CacheScope.localCheckpoint(
      pairs.select(explode(array(
          struct(col("doc_a").as("src"), col("doc_b").as("dst")),
          struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct())
    var labels = edges.select(col("src").as("doc")).distinct()
      .withColumn("label", col("doc"))
      .persist()
    var converged = false
    var iter = 0
    // superseded lineage-truncation checkpoints (every 5th iteration) are
    // freed once the NEXT one lands — by then every persisted frame that
    // could recompute through the old one has itself been unpersisted
    var prevLabelsCp: DataFrame = null
    while (!converged && iter < maxIter) {
      val viaNeighbors = edges
        .join(labels, edges("dst") === labels("doc"))
        .select(edges("src").as("doc"), col("label"), lit(false).as("is_self"))
      // carry the previous label through the aggregation (each doc has
      // exactly one is_self row) so convergence detection rides the same
      // job that materializes the new labels — one job per iteration
      val merged = labels
        .select(col("doc"), col("label"), lit(true).as("is_self"))
        .union(viaNeighbors)
        .groupBy("doc")
        .agg(min(col("label")).as("label"),
          min(when(col("is_self"), col("label"))).as("old"))
      // cut the per-iteration lineage growth so high-diameter (adversarial
      // chain) graphs don't blow up plan size / closure serialization.
      // (Checkpoint storage is scope-registered — freed when the caller's
      // CacheScope closes, after every consumer job has run.)
      val next =
        if (iter % 5 == 4) graft.CacheScope.localCheckpoint(merged)
        else merged.persist()
      val changed = next.filter(col("label") =!= col("old")).count()
      labels.unpersist()
      if (iter % 5 == 4) {
        if (prevLabelsCp ne null) graft.CacheScope.unpersistCheckpoint(prevLabelsCp)
        prevLabelsCp = next
      }
      labels = next
      converged = changed == 0
      iter += 1
    }
    // silently-wrong is the one unacceptable outcome for a dedup keeper
    // decision: labels mid-propagation look plausible but split clusters
    require(converged,
      s"duplicateClusters did not converge within maxIter=$maxIter iterations " +
        "(component diameter exceeds the bound); raise maxIter")
    // the final labels frame stays persisted for the caller's consumer
    // jobs; its entry is freed when the enclosing CacheScope closes
    graft.CacheScope.track(labels)
    labels.select(col("doc"), col("label").as("cluster"))
  }

  /** Connected components via alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): converges in O(log² n) rounds REGARDLESS of component
    * diameter, where min-label propagation ([[duplicateClusters]]) needs
    * O(diameter) rounds. Dup clusters are clique-like (diameter 2-3), so
    * propagation wins there; this is the scale path when the pair graph
    * chains — span-overlap graphs, URL-link dedup, adversarial templates —
    * and a long chain at corpus scale would turn per-round shuffles into
    * hundreds of sequential jobs. Same output contract as
    * [[duplicateClusters]]: (doc, cluster = min reachable id).
    *
    * Each round is two grouped-min shuffles over the edge set; edges only
    * ever carry (long, long) ids. Fixpoint = edge set unchanged, checked as
    * |next| == |edges| AND next∖edges == ∅ — the count of a just-
    * checkpointed frame is one cheap narrow job, so convergence costs one
    * anti-join per round instead of two.
    */
  def connectedComponentsAltStar(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // materialize the input ONCE: verts references the pair plan twice (the
    // union branches) and the edge canonicalization a third time — three
    // full executions of an LSH+verify pipeline at ~200 s each at 100×
    // stress if the checkpoint comes after the multi-reference instead of
    // before (same lesson as duplicateClusters' input truncation)
    // one checkpoint materializes BOTH the vertex set and the canonical
    // edge set (vertices ride along as self-loops u == v, which the edge
    // view filters back out): the (possibly expensive — LSH+verify) pair
    // pipeline executes exactly once in one job, where the old three-step
    // (checkpoint pairs, checkpoint verts, checkpoint edges) paid three
    val ve = graft.CacheScope.localCheckpoint(
      pairs.select(explode(array(
          struct(greatest(col("doc_a"), col("doc_b")).as("u"),
            least(col("doc_a"), col("doc_b")).as("v")),
          struct(col("doc_a").as("u"), col("doc_a").as("v")),
          struct(col("doc_b").as("u"), col("doc_b").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .distinct())
    val verts = ve.select(col("u").as("doc")).distinct()
    // canonical directed form: u > v, edges point from the larger id down
    var edges = graft.CacheScope.localCheckpoint(
      ve.filter(col("u") =!= col("v")))
    var converged = false
    var iter = 0
    var edgeCount = edges.count()
    // round N-1's checkpoint is dead once round N's is materialized and
    // the convergence jobs have run — free it then, or a long run pins
    // O(rounds × |E|) storage until scope close
    var prevCheckpoint: DataFrame = null
    while (!converged && iter < maxIter) {
      val roundT0 = System.nanoTime()
      // large-star: group the closed neighborhood at each node (neighbors
      // from BOTH directions); every strictly-larger neighbor connects to
      // the neighborhood minimum. Skew-safe: a hub node's group computes one
      // min, not a pairwise product.
      val nbrs = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val lmins = nbrs.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = nbrs.join(lmins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star: group each (u > v) edge at its larger endpoint; u and
      // all its smaller neighbors connect to the minimum neighbor
      val smins = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = large.join(smins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .union(smins.select(col("u"), col("m").as("v")))
        .distinct()
      val next = graft.CacheScope.localCheckpoint(small)
      // set equality as |next| == |edges| ∧ next∖edges == ∅ (anti-join only
      // when counts agree — rounds that still shrink skip it entirely)
      val nextCount = next.count()
      val grew =
        if (nextCount == edgeCount) next.join(edges, Seq("u", "v"), "left_anti").limit(1).count()
        else 1L
      // the previous round's edges checkpoint has no remaining consumer
      // (next is materialized, the anti-join above has run) — free it now
      if (prevCheckpoint ne null) graft.CacheScope.unpersistCheckpoint(prevCheckpoint)
      prevCheckpoint = edges
      edges = next
      edgeCount = nextCount
      converged = grew == 0
      iter += 1
      // convergence trace (off by default): round time pinpoints WHERE an
      // adversarial graph spends its budget — hub-skew shows up here long
      // before it shows up in a whole-op wall time
      if (sys.env.contains("GRAFT_TRACE"))
        System.err.println(f"[altstar] round $iter%2d: edges=$nextCount%,d " +
          f"${(System.nanoTime() - roundT0) / 1e9}%.1f s")
    }
    require(converged,
      s"connectedComponentsAltStar did not converge within maxIter=$maxIter rounds")
    if (prevCheckpoint ne null) graft.CacheScope.unpersistCheckpoint(prevCheckpoint)
    // fixpoint is a star forest: every non-root has exactly one edge to its
    // component min; roots (the mins themselves) have none
    verts.join(edges, verts("doc") === edges("u"), "left")
      .select(col("doc"), coalesce(col("v"), col("doc")).as("cluster"))
  }

  /** Survivors after near-dup clustering: docs that are either outside any
    * cluster or their cluster's minimum id.
    */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val losers = duplicateClusters(pairs)
      .filter(col("doc") =!= col("cluster"))
      .select(col("doc"))
    docs.join(losers, docs(idCol) === losers("doc"), "left_anti")
  }

  /** Quality-aware keeper selection: within each near-dup cluster keep the
    * member with the BEST `score` (higher wins; ties → lowest id) instead
    * of [[dropNearDuplicates]]'s lowest-id representative — the production
    * dedup policy (of N copies of a document, keep the cleanest one: least
    * boilerplate, best OCR, longest intact text). `score` is any
    * deterministic expression over `docs`' columns.
    *
    * Scale shape: clustering is the same answer-sized [[duplicateClusters]]
    * frame; the ranking window runs only over CLUSTERED members (join of
    * docs against the cluster labels — tiny relative to the corpus), and
    * unclustered documents never enter the window or the shuffle.
    */
  def dropNearDuplicatesByQuality(
      docs: DataFrame, pairs: DataFrame, idCol: String, score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = duplicateClusters(pairs)
    val members = docs.join(clusters, docs(idCol) === clusters("doc"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(score.desc, col(idCol).asc)
    val losers = members
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col("doc"))
    docs.join(losers, docs(idCol) === losers("doc"), "left_anti")
  }

  // -------------------------------------------------------------- embedding

  /** Embedding near-dup pairs: cosine ≥ threshold, candidates from random-
    * hyperplane LSH buckets (see [[Similarity.hyperplaneBucket]]), verified
    * with exact cosine. At scale the bucket join replaces the n² cross join.
    *
    * `tables` adds OR-amplification (independent hyperplane families; a
    * candidate pair needs bucket agreement in ANY table): at the SemDeDup
    * production threshold (≥ 0.95, near-parallel vectors) single-table
    * agreement is near-certain and tables = 1 is right; lower thresholds —
    * moderately-similar pair mining — use more tables to buy recall at
    * linearly more candidate-join volume. Precision is always 1 (exact
    * cosine verify); duplicates across tables collapse via the distinct on
    * the verified pair set.
    */
  def embeddingDuplicatePairs(
      embs: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      planes: Int = 12,
      tables: Int = 1
  ): DataFrame = {
    require(tables >= 1)
    val bucketPerTable = array((0 until tables).map(tId =>
      struct(lit(tId).as("t"), Similarity.hyperplaneBucket(col(vecCol), planes, tId.toLong).as("bucket"))): _*)
    val keyed = embs.select(col(idCol).as("doc"), col(vecCol).as("v"),
      explode(bucketPerTable).as("tb"))
      .select(col("doc"), col("v"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val a = keyed.alias("a")
    val b = keyed.alias("b")
    val verified = a.join(b,
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        Similarity.cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= threshold)
    if (tables == 1) verified else verified.distinct()
  }

  /** Exact-cosine pair generation: every (id_a < id_b) pair with
    * cosine ≥ threshold. O(n²) — the validation oracle for the LSH path,
    * never the production path.
    */
  def embeddingPairsBruteForce(
      embs: DataFrame, vecCol: String, idCol: String, threshold: Double): DataFrame = {
    val a = embs.select(col(idCol).as("doc_a"), col(vecCol).as("va"))
    val b = embs.select(col(idCol).as("doc_b"), col(vecCol).as("vb"))
    a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        Similarity.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b"))
  }

  /** Semantic dedup (the SemDeDup curation move): keep one representative
    * per cluster of cosine-near-duplicate embeddings — the minimum id — and
    * every embedding outside any cluster. Returns the surviving rows of
    * `embs` unchanged.
    *
    * Pair generation is pluggable because recall/cost differ by regime:
    * `exact = true` compares all pairs (O(n²) — the small-scale oracle);
    * the default routes through random-hyperplane LSH buckets
    * ([[embeddingDuplicatePairs]]) so candidate generation is a bucket
    * equi-join. At production thresholds (SemDeDup uses ≥ 0.95, i.e. near-
    * parallel vectors) bucket agreement is near-certain, so LSH recall is
    * effectively 1; the spec pins LSH ≡ brute on planted duplicate groups.
    * Clustering and keeper selection are [[duplicateClusters]] /
    * [[dropNearDuplicates]] — same scale shape as the text path.
    */
  def semanticKeepers(
      embs: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      exact: Boolean = false,
      planes: Int = 12,
      tables: Int = 1
  ): DataFrame = {
    val pairs =
      if (exact) embeddingPairsBruteForce(embs, vecCol, idCol, threshold)
      else embeddingDuplicatePairs(embs, vecCol, idCol, threshold, planes, tables)
        .select(col("doc_a"), col("doc_b"))
    dropNearDuplicates(embs, pairs, idCol)
  }

  // ------------------------------------------------------ index health audits

  /** Bucket-occupancy audit of a persisted near-dup signature index
    * ([[VersionedNearDup]]) — the drift analog
    * ([[VersionedIvf.assignmentDrift]]) for the LSH family: per-band
    * statistics from ONE scan of the live manifest view (tombstones
    * applied, every segment). The gate's candidate generation is a
    * band-key equi-join, so its cost against an arrival batch is the
    * arrivals' bucket sizes and its self-join mass is Σ_bucket |bucket|²
    * per band — a low-entropy corpus (the r1 SimHash skew class: shared
    * boilerplate, shared filler tokens) concentrates one band key into a
    * giant bucket and turns the gate quadratic long before a batch pays
    * it. This prices the check at one manifest scan instead of a slow
    * batch: all-integer output per band — (band, n_sigs, n_buckets,
    * max_bucket, sumsq) — so the frame hash-replays, and the committed
    * d_index_health floors trip on the degenerate shape exactly like the
    * ANN recall floors trip on a probe regression.
    */
  def nearDupIndexBucketStats(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    VersionedNearDup.liveManifest(spark, path)
      .select(posexplode(col("keys")).as(Seq("band", "key")))
      .groupBy(col("band"), col("key")).agg(count(lit(1)).as("b"))
      .groupBy(col("band")).agg(
        sum(col("b")).cast("long").as("n_sigs"),
        count(lit(1)).as("n_buckets"),
        max(col("b")).as("max_bucket"),
        sum(col("b") * col("b")).cast("long").as("sumsq"))
      .select(col("band").cast("bigint").as("band"), col("n_sigs"),
        col("n_buckets"), col("max_bucket"), col("sumsq"))

  /** The substring-index twin ([[VersionedSubstring]]): window-key
    * multiplicity stats over the persisted manifest. Keys are unique
    * within a batch by construction (the manifest stores distinct window
    * content hashes per batch), so `max_key > 1` measures CROSS-BATCH
    * recurrence — a hot window key re-recorded by many batches is pure
    * scan weight the gate pays on every probe with no new information (the
    * shape [[VersionedNearDup.consolidate]]-style consolidation exists to
    * fold away). One manifest scan, all-integer output: (n_rows, n_keys,
    * max_key, sumsq).
    */
  def substringIndexKeyStats(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    VersionedSubstring.manifest(spark, path)
      .groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("b"))
      .agg(sum(col("b")).cast("long").as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("b")).as("max_key"),
        sum(col("b") * col("b")).cast("long").as("sumsq"))
}
