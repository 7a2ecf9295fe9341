package graft.operators

import graft.SparkTestBase
import graft.functions.VectorHash
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val docs = Seq(
    (1L, base),
    (2L, base + " extra"), // near-dup of 1
    (3L, base),            // exact dup of 1
    (4L, "completely different content about spark catalyst expressions and shuffles here"),
    (5L, "yet another unrelated document mentioning minhash banding and bucket joins now")
  ).toDF("doc_id", "text")

  test("native cosine matches the composable HOF dot/norm formula") {
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.5f, -1.5f, 2.5f), Array(-1.0f, 0.25f, 0.75f)),
      (4L, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f))
    ).toDF("id", "a", "b")
    val hof = {
      val d = Similarity.dot(col("a"), col("b"))
      val nn = sqrt(Similarity.dot(col("a"), col("a"))) * sqrt(Similarity.dot(col("b"), col("b")))
      when(nn > 0, d / nn).otherwise(lit(0.0))
    }
    val rows = vecs.select(VectorHash.cosine(col("a"), col("b")).as("native"), hof.as("ref"))
      .collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
    assert(rows.last.getDouble(0) == 0.0) // zero vector → 0, not NaN
  }

  test("native wordShingles matches the composable tokens→shingles pipeline") {
    val texts = Seq(
      (1L, base),
      (2L, "  Leading  and trailing   whitespace\tand TABS\nand newlines  "),
      (3L, "one two"),       // shorter than the shingle size
      (4L, "dup dup dup dup dup"), // repeated shingles collapse
      (5L, "MiXeD Case TOKENS here")).toDF("doc_id", "text")
    val both = texts.select(
      VectorHash.wordShingles(col("text"), 3).as("native"),
      TextOps.shingles(TextOps.tokens(col("text")), 3).as("ref"))
      .collect()
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("exact dedup groups identical texts on the digest, keeps min id") {
    val groups = Dedup.exactDuplicateGroups(docs, "text", "doc_id").collect()
    val trip = groups.find(_.getLong(2) == 2L)
    assert(trip.isDefined && trip.get.getLong(1) == 1L) // docs 1 & 3, keep 1
    assert(groups.map(_.getLong(2)).sum == 5L)
  }

  test("dropExactDuplicates keeps one survivor per text") {
    val kept = Dedup.dropExactDuplicates(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L, 5L))
  }

  test("minhash LSH surfaces the planted near-dup pair, not unrelated docs") {
    val cands = Dedup.minhashCandidatePairs(docs, "text", "doc_id", shingleSize = 3,
      bands = 16, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 3L))) // identical signatures always collide
    assert(cands.contains((1L, 2L)) && cands.contains((2L, 3L))) // planted near-dup
    // unrelated docs 4 and 5 must not appear in ANY candidate pair
    assert(!cands.exists(p => Set(p._1, p._2).exists(Set(4L, 5L))))
  }

  test("jaccard LSH pairs agree with brute force on the planted corpus") {
    val lsh = Dedup.jaccardDuplicatePairs(docs, "text", "doc_id", shingleSize = 3,
      numer = 1, denom = 2, bands = 16, rowsPerBand = 2)
      .select("doc_a", "doc_b", "inter_sz", "union_sz")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val brute = Dedup.jaccardPairsBruteForce(docs, "text", "doc_id", shingleSize = 3,
      numer = 1, denom = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(lsh == brute) // at J ≥ 0.5 with 16 bands recall is 1.0 here
    assert(brute.nonEmpty)
  }

  test("duplicate clustering: min-label components, chain converges, keepers kept") {
    // components: {1,2,3} (chain 1-2, 2-3), {7,9}; 5 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))

    val docsDf = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("doc_id")
    val kept = Dedup.dropNearDuplicates(docsDf, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 5L, 7L)) // cluster minima + untouched doc

    // quality-ranked keepers: best score wins within each cluster (not the
    // min id), ties break to the lower id, unclustered docs pass through
    val scored = Seq((1L, 10), (2L, 99), (3L, 99), (5L, 1), (7L, 5), (9L, 50))
      .toDF("doc_id", "q")
    val keptQ = Dedup.dropNearDuplicatesByQuality(scored, pairs, "doc_id", col("q"))
      .select("doc_id").as[Long].collect().toSet
    assert(keptQ == Set(2L, 5L, 9L)) // 2 beats 3 on the tie; 9 outranks 7
  }

  test("duplicate clustering survives a diameter-12 chain (lineage checkpointing)") {
    // label 1 must travel 11 hops: exercises >10 iterations, so the
    // localCheckpoint-every-5 lineage cut runs at least twice
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == 12)
    assert(clusters.values.forall(_ == 1L))
  }

  test("alternating-star components equal label propagation on chains and forests") {
    // long chain (the case propagation is worst at), two components, a
    // self-loop pair, and a hub — altStar must produce identical labels
    val cases = Seq(
      (1L until 24L).map(i => (i, i + 1)),              // diameter-23 chain
      Seq((1L, 2L), (2L, 3L), (7L, 9L), (11L, 11L)),    // forest + self-pair
      (2L to 10L).map(i => (1L, i)) ++ Seq((10L, 20L))  // hub + tail
    )
    for (edges <- cases) {
      val pairs = edges.toDF("doc_a", "doc_b")
      val viaStar = Dedup.connectedComponentsAltStar(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaProp = Dedup.duplicateClusters(pairs, maxIter = 40)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStar == viaProp, s"edge set $edges")
    }
  }

  test("alternating-star converges in far fewer rounds than the chain diameter") {
    // diameter-40 chain: propagation would need 40 rounds (> its default
    // bound); altStar's doubling finishes inside its default 30
    val chain = (1L until 41L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val clusters = Dedup.connectedComponentsAltStar(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == 41)
    assert(clusters.values.forall(_ == 1L))
  }

  test("simhash pigeonhole finds close sketches and respects maxDist") {
    val pairs = Dedup.simhashDuplicatePairs(docs, "text", "doc_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // exact dups have distance 0 and must be present
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 0))
    assert(pairs.forall(_._3 <= 3))
  }

  test("simhash pairs equal the brute-force hamming join on a varied corpus") {
    // 40 docs over 8 perturbed templates: guarantees dist-0 pairs (i, i+24
    // share template and tail) plus assorted near/far pairs
    val varied = (1L to 40L).map { i =>
      val cluster = i % 8
      val words = (0 until 30).map(w => s"w${(w + cluster * 3) % 31}")
      (i, (words :+ s"tail${i % 3}").mkString(" "))
    }.toDF("doc_id", "text")
    val fast = Dedup.simhashDuplicatePairs(varied, "text", "doc_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sk = Dedup.simhashSketches(varied, "text", "doc_id")
    val brute = sk.alias("a").join(sk.alias("b"), col("a.doc") < col("b.doc"))
      .select(col("a.doc"), col("b.doc"),
        TextOps.hamming64(col("a.simhash"), col("b.simhash")).as("dist"))
      .filter(col("dist") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fast == brute)
    assert(brute.exists(_._3 == 0)) // the planted identical docs
  }

  test("simhashValuePairs 2-of-(d+2) cover is exact: seeded sketches vs driver brute force") {
    // adversarial sketch set: random longs plus ≤5-bit perturbations of each,
    // checked at several maxDist values against exhaustive driver-side pairs
    val rnd = new scala.util.Random(12345)
    val base = Seq.fill(120)(rnd.nextLong())
    val vals = (base ++ base.flatMap { v =>
      Seq.fill(3) {
        var x = v
        (0 to rnd.nextInt(5)).foreach(_ => x ^= (1L << rnd.nextInt(64)))
        x
      }
    }).distinct
    val df = vals.toDF("simhash")
    for (maxDist <- Seq(0, 2, 3, 5)) {
      val got = Dedup.simhashValuePairs(df, maxDist).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        i <- vals.indices
        j <- (i + 1) until vals.size
        d = java.lang.Long.bitCount(vals(i) ^ vals(j))
        if d <= maxDist
      } yield (math.min(vals(i), vals(j)), math.max(vals(i), vals(j)), d)).toSet
      assert(got == want, s"cover mismatch at maxDist=$maxDist")
    }
  }

  test("simhash low-entropy corpus: distinct-value collapse keeps the join tiny") {
    // 600 docs, 5 distinct texts — the worst case for block-key skew. The
    // candidate join runs over ≤5 distinct sketch values; the 5·C(120,2)
    // dist-0 pairs come from the same-value expansion, not the pigeonhole.
    val lowEntropy = (1L to 600L)
      .map(i => (i, s"identical boilerplate page content shared by everything variant ${i % 5}"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashDuplicatePairs(lowEntropy, "text", "doc_id", maxDist = 3)
    val sameText = pairs.filter(col("dist") === 0).count()
    assert(sameText >= 5L * (120L * 119L / 2L)) // ≥ because distinct variants may also collide
    // no duplicates in the pair set
    assert(pairs.count() == pairs.select("doc_a", "doc_b").distinct().count())
  }

  test("embedding LSH dedup: identical vectors collide; cosine filter exact") {
    val embs = Seq(
      (1L, Array.tabulate(16)(i => (i + 1).toFloat)),
      (2L, Array.tabulate(16)(i => (i + 1).toFloat)),          // exact copy
      (3L, Array.tabulate(16)(i => (i + 1).toFloat * 1.001f)), // same direction
      (4L, Array.tabulate(16)(i => if (i % 2 == 0) 1f else -1f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDuplicatePairs(embs, "embedding", "vec_id",
      threshold = 0.99, planes = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("multi-table embedding dedup: adds recall, never precision loss, no duplicate pairs") {
    val embs = (1L to 120L).map(i =>
      (i, Array.tabulate(16)(d => math.sin(i * 0.31 + d * 1.7).toFloat)))
      .toDF("vec_id", "embedding")
    def pairSet(tables: Int): Set[(Long, Long)] =
      Dedup.embeddingDuplicatePairs(embs, "embedding", "vec_id",
        threshold = 0.5, planes = 8, tables = tables)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = pairSet(1)
    val four = pairSet(4)
    val brute = Dedup.embeddingPairsBruteForce(embs, "embedding", "vec_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one.subsetOf(four), "table 0 of the multi-table family is the single table")
    assert(four.subsetOf(brute), "exact-cosine verify keeps precision 1 at any table count")
    assert(four.size > one.size, "extra tables should surface extra true pairs here")
    // distinct across tables: no pair reported twice
    val df4 = Dedup.embeddingDuplicatePairs(embs, "embedding", "vec_id",
      threshold = 0.5, planes = 8, tables = 4)
    assert(df4.count() == df4.select("doc_a", "doc_b").distinct().count())
  }

  test("semanticKeepers: LSH-fed equals exact-fed on planted duplicate groups") {
    // three duplicate groups (identical vectors — cosine 1, so hyperplane
    // buckets agree regardless of plane count) + orthogonal-ish singletons
    val groups = (0 until 3).flatMap { g =>
      val base = Array.tabulate(16)(i =>
        math.sin((g + 1) * (i + 3) * 1.7).toFloat)
      (0 until 3).map(m => (g * 10L + m, base))
    }
    val singles = Seq(
      (100L, Array.tabulate(16)(i => if (i % 2 == 0) 1f else -1f)),
      (101L, Array.tabulate(16)(i => if (i % 3 == 0) 1f else 0f)))
    val embs = (groups ++ singles).toDF("vec_id", "embedding")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = ids(Dedup.semanticKeepers(embs, "embedding", "vec_id",
      threshold = 0.95, exact = true))
    val lsh = ids(Dedup.semanticKeepers(embs, "embedding", "vec_id",
      threshold = 0.95, exact = false, planes = 12))
    assert(exact == Set(0L, 10L, 20L, 100L, 101L)) // min id per group + singletons
    assert(lsh == exact)
  }

  test("brute-force top-k: self excluded, ranked by cosine, k respected") {
    val embs = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f)),
      (3L, Array(0f, 1f, 0f)),
      (4L, Array(-1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(embs.filter($"vec_id" === 1L), embs,
      "embedding", "vec_id", k = 2)
      .orderBy("rank").collect()
    assert(top.length == 2)
    assert(top(0).getLong(1) == 2L) // closest direction
    assert(top.forall(_.getLong(0) == 1L))
  }

  test("IVF: centroids converge on planted clusters; nprobe=k recovers brute force") {
    // 3 well-separated direction clusters of 20 vectors each
    val base = Seq(
      Array.tabulate(8)(i => if (i < 3) 1f else 0f),
      Array.tabulate(8)(i => if (i >= 3 && i < 6) 1f else 0f),
      Array.tabulate(8)(i => if (i >= 6) 1f else 0f))
    val vecs = (0 until 60).map { i =>
      val b = base(i % 3)
      (i.toLong, b.zipWithIndex.map { case (x, d) => x + 0.01f * ((i * 7 + d) % 5) })
    }.toDF("vec_id", "embedding")

    val centroids = Similarity.trainIvfCentroids(vecs, "embedding", "vec_id", k = 3)
    assert(centroids.size == 3 && centroids.forall(_.size == 8))
    // cluster assignment groups the planted directions together
    val assigned = vecs.select(col("vec_id"),
      Similarity.nearestCentroid(col("embedding"), centroids).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0 until 57).foreach(i => assert(assigned(i.toLong) == assigned((i + 3).toLong)))

    val queries = vecs.filter($"vec_id" < 3)
    val ivf = Similarity.ivfTopK(queries, vecs, "embedding", "vec_id", k = 5,
      centroids, nprobe = 1).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(queries, vecs, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ivf == brute) // same-cluster neighbors dominate → nprobe=1 already exact here
  }

  test("sampled training (trainSample) recovers the planted clusters and keeps the exactness gate") {
    // same planted 3-direction corpus, but the quantizer trains on a
    // deterministic 1/4 id-hash sample — the corpus-scale shape (FAISS-style
    // bounded training set). Cluster recovery must survive sampling, and
    // the exhaustive probe must stay ≡ brute for ANY centroid set.
    val base = Seq(
      Array.tabulate(8)(i => if (i < 3) 1f else 0f),
      Array.tabulate(8)(i => if (i >= 3 && i < 6) 1f else 0f),
      Array.tabulate(8)(i => if (i >= 6) 1f else 0f))
    val vecs = (0 until 120).map { i =>
      val b = base(i % 3)
      (i.toLong, b.zipWithIndex.map { case (x, d) => x + 0.01f * ((i * 7 + d) % 5) })
    }.toDF("vec_id", "embedding")

    val sampled = Similarity.trainIvfCentroids(vecs, "embedding", "vec_id",
      k = 3, trainSample = 4)
    // deterministic: a second call returns bit-identical centroids
    assert(sampled == Similarity.trainIvfCentroids(vecs, "embedding", "vec_id",
      k = 3, trainSample = 4))
    // the FULL corpus still groups by planted direction under the sampled
    // quantizer
    val assigned = vecs.select(col("vec_id"),
      Similarity.nearestCentroid(col("embedding"), sampled).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0 until 117).foreach(i => assert(assigned(i.toLong) == assigned((i + 3).toLong)))
    assert(assigned.values.toSet.size == 3)
    // exactness gate independent of training: nprobe = k ≡ brute force
    val queries = vecs.filter($"vec_id" < 3)
    val exhaustive = Similarity.ivfTopK(queries, vecs, "embedding", "vec_id",
      k = 5, sampled, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(queries, vecs, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exhaustive == brute)
    // sampled PQ codebooks: exact-rerank path ≡ brute as well
    val books = Similarity.trainPqCodebooks(vecs, "embedding", "vec_id",
      m = 4, ksub = 8, trainSample = 4)
    val pqExact = Similarity.pqTopK(queries, vecs, "embedding", "vec_id",
      k = 5, books, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pqExact == brute)
  }

  test("shuffled IVF (queries = corpus, no broadcast) matches brute-force top-k") {
    // all-pairs kNN: the query set IS the corpus, so broadcasting it is the
    // wrong plan; the non-broadcast path sort-merges on the cluster key
    val base = Seq(
      Array.tabulate(8)(i => if (i < 3) 1f else 0f),
      Array.tabulate(8)(i => if (i >= 3 && i < 6) 1f else 0f),
      Array.tabulate(8)(i => if (i >= 6) 1f else 0f))
    val vecs = (0 until 60).map { i =>
      val b = base(i % 3)
      (i.toLong, b.zipWithIndex.map { case (x, d) => x + 0.01f * ((i * 7 + d) % 5) })
    }.toDF("vec_id", "embedding")
    val centroids = Similarity.trainIvfCentroids(vecs, "embedding", "vec_id", k = 3)
    val shuffled = Similarity.ivfTopK(vecs, vecs, "embedding", "vec_id", k = 4,
      centroids, nprobe = 3, broadcastQueries = false)
    // the probe join must not be a broadcast join
    assert(!shuffled.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))
    val got = shuffled.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(vecs, vecs, "embedding", "vec_id", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute) // nprobe = k → exact
  }

  test("PQ: codebooks train, codes in range and deterministic, exact-rerank recovers brute force") {
    val base = Seq(
      Array.tabulate(8)(i => if (i < 3) 1f else 0f),
      Array.tabulate(8)(i => if (i >= 3 && i < 6) 1f else 0f),
      Array.tabulate(8)(i => if (i >= 6) 1f else 0f))
    val vecs = (0 until 60).map { i =>
      val b = base(i % 3)
      (i.toLong, b.zipWithIndex.map { case (x, d) => x + 0.01f * ((i * 7 + d) % 5) })
    }.toDF("vec_id", "embedding")
    val books = Similarity.trainPqCodebooks(vecs, "embedding", "vec_id", m = 4, ksub = 4)
    assert(books.size == 4 && books.forall(_.size == 4) && books.forall(_.forall(_.size == 2)))
    def codeRows = Similarity.pqEncode(vecs, "embedding", "vec_id", books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val codes = codeRows
    assert(codes.size == 60)
    assert(codes.values.forall(c => c.size == 4 && c.forall(x => x >= 0 && x < 4)))
    assert(codes == codeRows) // double-precision staged math → bit-deterministic
    // native pq-codes expression ≡ the composable per-subspace argmin
    // reference (same L2-in-double math, same first-minimum tie-break)
    val composable = vecs.select($"vec_id",
      org.apache.spark.sql.functions.array((0 until 4).map(sI =>
        Similarity.pqSubCode(org.apache.spark.sql.functions.lit(sI),
          org.apache.spark.sql.functions.slice($"embedding", sI * 2 + 1, 2), books)): _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(composable == codes, "native PqCodesExpr diverged from the composable reference")
    val q = vecs.filter($"vec_id" < 3)
    val exact = Similarity.pqTopK(q, vecs, "embedding", "vec_id", k = 5, books, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(q, vecs, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exact == brute) // rerank·k ≥ corpus → provably brute force
  }

  test("PQ ADC at small rerank: full recall on planted clusters; contract floor flips correctly") {
    val base = Seq(
      Array.tabulate(8)(i => if (i < 3) 1f else 0f),
      Array.tabulate(8)(i => if (i >= 3 && i < 6) 1f else 0f),
      Array.tabulate(8)(i => if (i >= 6) 1f else 0f))
    val vecs = (0 until 60).map { i =>
      val b = base(i % 3)
      (i.toLong, b.zipWithIndex.map { case (x, d) => x + 0.01f * ((i * 7 + d) % 5) })
    }.toDF("vec_id", "embedding")
    val books = Similarity.trainPqCodebooks(vecs, "embedding", "vec_id", m = 4, ksub = 4)
    val q = vecs.filter($"vec_id" < 3)
    val approx = Similarity.pqTopK(q, vecs, "embedding", "vec_id", k = 5, books, rerank = 2)
    val brute = Similarity.bruteForceTopK(q, vecs, "embedding", "vec_id", k = 5)
    // some subspaces are identical across the planted clusters (both ~0),
    // so ADC recall at rerank=2 is high but not 1.0 here — the contract
    // must be empty at a floor below measured recall and trip at an
    // impossible one (n_hit ≤ n_true ⇒ 1001 always violates)
    assert(Similarity.recallFloorViolations(approx, brute, floorX1000 = 1).isEmpty)
    assert(!Similarity.recallFloorViolations(approx, brute, floorX1000 = 1001).isEmpty)
  }

  test("IVF-PQ: residual codes in range, all-probed exact-rerank recovers brute force, gated probe keeps cluster recall") {
    val base = Seq(
      Array.tabulate(8)(i => if (i < 3) 1f else 0f),
      Array.tabulate(8)(i => if (i >= 3 && i < 6) 1f else 0f),
      Array.tabulate(8)(i => if (i >= 6) 1f else 0f))
    val vecs = (0 until 60).map { i =>
      val b = base(i % 3)
      (i.toLong, b.zipWithIndex.map { case (x, d) => x + 0.01f * ((i * 7 + d) % 5) })
    }.toDF("vec_id", "embedding")
    val centroids = Similarity.trainIvfCentroids(vecs, "embedding", "vec_id", k = 3)
    val books = Similarity.trainIvfPqBooks(vecs, "embedding", "vec_id",
      centroids, m = 4, ksub = 4)
    assert(books.size == 4 && books.forall(_.size == 4) && books.forall(_.forall(_.size == 2)))
    val enc = Similarity.ivfPqEncode(vecs, "embedding", "vec_id", centroids, books)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSeq
    assert(enc.size == 60)
    assert(enc.forall { case (_, c, codes) =>
      c >= 0 && c < 3 && codes.size == 4 && codes.forall(x => x >= 0 && x < 4) })
    val q = vecs.filter($"vec_id" < 3)
    val brute = Similarity.bruteForceTopK(q, vecs, "embedding", "vec_id", k = 5)
    // nprobe = all clusters + rerank·k ≥ corpus → provably brute force
    val exact = Similarity.ivfPqTopK(q, vecs, "embedding", "vec_id", k = 5,
      centroids, books, nprobe = 3, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exact == brute.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
    // gated probe: same-cluster neighbors dominate the planted layout, so
    // nprobe=1 already achieves full recall (and the impossible floor trips)
    val gated = Similarity.ivfPqTopK(q, vecs, "embedding", "vec_id", k = 5,
      centroids, books, nprobe = 1, rerank = 1000)
    assert(Similarity.recallFloorViolations(gated, brute, floorX1000 = 1000).isEmpty)
    assert(!Similarity.recallFloorViolations(gated, brute, floorX1000 = 1001).isEmpty)
  }

  test("lsh top-k returns same-bucket neighbors with exact ranks") {
    val embs = (1L to 50L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat))).toDF("vec_id", "embedding")
    val res = Similarity.lshTopK(embs.filter($"vec_id" <= 3), embs, "embedding", "vec_id",
      k = 3, planes = 2)
    val byQuery = res.collect().groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      assert(rows.length <= 3)
      assert(rows.map(_.getInt(2)).sorted.sameElements(1 to rows.length)) // dense ranks
    }
  }

  test("multi-table lsh top-k: tables=1 ≡ legacy single-table; more tables never lose candidates") {
    val embs = (1L to 80L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat))).toDF("vec_id", "embedding")
    val q = embs.filter($"vec_id" <= 5)
    def pairs(tables: Int): Set[(Long, Long)] =
      Similarity.lshTopK(q, embs, "embedding", "vec_id", k = 50, planes = 4, tables = tables)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = pairs(1)
    val eight = pairs(8)
    // seed 0 is table 0 of the multi-table family: with k ≥ bucket sizes the
    // single-table candidate set is a subset of the 8-table one (OR-amplify
    // only ever ADDS candidates), and 8 tables find strictly more here
    assert(one.subsetOf(eight), "multi-table LSH lost single-table candidates")
    assert(eight.size > one.size, "8 tables should surface extra candidates on this corpus")
    // ranks stay dense per query after the cross-table distinct
    val res = Similarity.lshTopK(q, embs, "embedding", "vec_id", k = 3, planes = 4, tables = 8)
    res.collect().groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.length <= 3)
      assert(rows.map(_.getInt(2)).sorted.sameElements(1 to rows.length))
    }
    // the recall-floor contract frame is empty at a floor below measured
    // recall and non-empty at an impossible floor
    val brute = Similarity.bruteForceTopK(q, embs, "embedding", "vec_id", k = 3)
    val approx = Similarity.lshTopK(q, embs, "embedding", "vec_id", k = 3, planes = 4, tables = 8)
    assert(Similarity.recallFloorViolations(approx, brute, floorX1000 = 1).isEmpty)
    assert(!Similarity.recallFloorViolations(approx, brute, floorX1000 = 1001).isEmpty)
  }

  test("charNgrams on short/empty text yields no phantom grams") {
    val t = Seq((1L, "ab"), (2L, ""), (3L, "abcd")).toDF("id", "text")
    val out = t.select(col("id"), TextOps.charNgrams(col("text"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L).isEmpty && out(2L).isEmpty)
    assert(out(3L) == Seq("abc", "bcd"))
  }

  test("observedWidths on a frame with no string columns returns empty, not a crash") {
    val df = Seq((1, 2L)).toDF("a", "b")
    assert(graft.catalog.SpecCatalog.observedWidths(df).isEmpty)
  }

  test("saltedJoin rejects join types that duplicate unmatched small-side rows") {
    val big = Seq((1L, "x")).toDF("k", "v")
    val small = Seq((1L, "y")).toDF("k", "w")
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(big, small, Seq("k"), 4, joinType = "full_outer")
    }
  }

  test("langid picks the stopword-majority language") {
    val t = Seq(
      (1L, "the cat and the dog of a house in that it is for"),
      (2L, "le chat et la maison de un pour que est les"),
      (3L, "xyzzy plugh qwerty")).toDF("doc_id", "text")
    val out = t.select(col("doc_id"), TextOps.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "fr" && out(3L) == "und")
  }

  test("char-ngram Jaccard pairs no-whitespace near-dups that word shingles miss") {
    val cjkish = Seq(
      (1L, "abcdefghijklmnopqrstuvwxyz0123456789"),
      (2L, "abcdefghijklmnopqrstuvwxyz012345678X"), // 1-char tail edit
      (3L, "zyxwvutsrqponmlkjihgfedcba9876543210")  // reversed: unrelated
    ).toDF("doc_id", "text")
    // word shingles see one token per doc → no shingle overlap possible
    val word = Dedup.jaccardPairsBruteForce(cjkish, "text", "doc_id", 3, 1, 2)
    assert(word.count() == 0)
    val char = Dedup.jaccardCharPairsBruteForce(cjkish, "text", "doc_id", n = 5, numer = 3, denom = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(char == Set((1L, 2L)))
  }

  test("normalizeText strips controls and collapses whitespace; redactPii masks typed spans") {
    val t = Seq(
      (1L, "a\u0000b\u0007c  \t\n d \u009f"),
      (2L, "contact bob.smith+x@mail.example.org or 10.0.0.1 or +14155550123 now")
    ).toDF("doc_id", "text")
    val out = t.select(col("doc_id"),
      TextOps.normalizeText(col("text")).as("norm"),
      TextOps.redactPii(col("text")).as("red"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out(1L)._1 == "abc d")
    assert(out(2L)._2 == "contact <EMAIL> or <IP> or <PHONE> now")
    // idempotent: masks survive a second pass
    val twice = t.select(TextOps.redactPii(TextOps.redactPii(col("text"))).as("r"))
      .collect()(1).getString(0)
    assert(twice == "contact <EMAIL> or <IP> or <PHONE> now")
  }

  test("short and empty docs never pair in shingle or simhash dedup") {
    val shorts = Seq(
      (1L, ""), (2L, "   "), (3L, "one"), (4L, "one two"),
      (5L, "totally different words here repeated repeated"),
      (6L, "totally different words here repeated repeated") // true dup pair
    ).toDF("doc_id", "text")
    // brute force: empty shingle sets must not satisfy the 0 >= 0 gate
    val brute = Dedup.jaccardPairsBruteForce(shorts, "text", "doc_id", 3, 1, 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(brute == Set((5L, 6L)))
    // LSH path: degenerate identical signatures must not bucket short docs
    val lsh = Dedup.jaccardDuplicatePairs(shorts, "text", "doc_id", 3, 1, 2, 8, 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh == Set((5L, 6L)))
    // simhash: zero-token docs all sketch to 0L and must be excluded
    val sim = Dedup.simhashDuplicatePairs(shorts, "text", "doc_id", maxDist = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!sim.exists(p => p._1 == 1L || p._1 == 2L || p._2 == 2L))
  }

  test("BPE-style token count splits contractions, digits, punctuation") {
    val t = Seq(
      (1L, "it's 2024, don't panic!"),
      // it|'s| 2024|,| don|'t| panic|! → 8
      (2L, "hello world"), // hello| world → 2
      (3L, ""),            // → 0
      (4L, "   ")          // whitespace only → 0
    ).toDF("doc_id", "text")
    val got = t.select(col("doc_id"), TextOps.tokenCountBpe(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 8L, 2L -> 2L, 3L -> 0L, 4L -> 0L))
  }

  test("repetition signals: top-token and duplicate-bigram shares, edge docs kept") {
    val t = Seq(
      (1L, "a a a b"),       // top 'a' 3/4 → 750; bigrams [a a, a a, a b]: 3 total, 2 distinct → 333
      (2L, "x y z"),         // top 1/3 → 333; bigrams all distinct → 0
      (3L, "spam spam spam"),// top 3/3 → 1000; bigrams [spam spam]×2 → 1/2 repeated → 500
      (4L, "solo"),          // one token: no bigrams → 0
      (5L, "")               // empty: zero row, not a dropped row
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionSignals(t, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ((4L, 750L, 333L)),
      2L -> ((3L, 333L, 0L)),
      3L -> ((3L, 1000L, 500L)),
      4L -> ((1L, 1000L, 0L)),
      5L -> ((0L, 0L, 0L))))
  }

  test("incremental dedup drops seen digests and self-dedups the batch") {
    val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha"), // already in corpus → dropped
      (11L, "gamma"), (12L, "gamma"), // batch-internal dup → keep 11 only
      (13L, "delta")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropSeenDocuments(
      batch, Dedup.digestManifest(corpus, "text"), "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(11L, 13L))
  }

  test("incremental near-dup drops batch docs with a corpus near-dup, keeps the rest") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (1L, base),
      (2L, "completely different content about spark shuffles and joins here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base),                        // exact copy → dropped
      (11L, base + " tonight"),           // near-dup (one appended token) → dropped
      (12L, "unrelated text mentioning catalyst optimizer rules and codegen stages"),
      (13L, "too short")                  // shingles to nothing → passes through
    ).toDF("doc_id", "text")
    val manifest = Dedup.nearDupManifest(corpus, "text", "doc_id",
      shingleSize = 3, bands = 32, rowsPerBand = 2)
    val kept = Dedup.dropSeenNearDuplicates(batch, manifest, "text", "doc_id",
      shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(12L, 13L))
    // the manifest never carries text, and condenses to band keys + hashes
    assert(manifest.columns.toSeq == Seq("doc", "keys", "shh"))
  }

  test("tokenDistributionShift: integer-ppm shifts, side-exclusive tokens rank, deterministic order") {
    import spark.implicits._
    val a = Seq((1L, "a a b")).toDF("doc_id", "text") // a: 2/3, b: 1/3
    val b = Seq((2L, "a c")).toDF("doc_id", "text")   // a: 1/2, c: 1/2
    val got = TextOps.tokenDistributionShift(a, b, "text", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    assert(got == List(
      ("c", 0L, 1L, -500000L),  // B-exclusive: its own ppm
      ("b", 1L, 0L, 333333L),   // A-exclusive (1000000 div 3)
      ("a", 2L, 1L, 166666L)))  // 666666 - 500000
  }

  test("oovRate: corpus-top-k vocabulary, per-doc OOV fractions, zero-token docs kept") {
    import spark.implicits._
    // 'the' x4, 'cat' x3, 'dog' x2 — vocab(2) = {the, cat}
    val docs = Seq(
      (1L, "the cat the dog"),     // oov: dog → 1/4
      (2L, "the cat cat"),         // oov: 0/3
      (3L, "dog zebra"),           // oov: 2/2
      (4L, "   "),                 // zero tokens
      (5L, "the")                  // 0/1
    ).toDF("doc_id", "text")
    val got = TextOps.oovRate(docs, "text", "doc_id", vocabSize = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((4L, 1L, 250L)))
    assert(got(2L) == ((3L, 0L, 0L)))
    assert(got(3L) == ((2L, 2L, 1000L)))
    assert(got(4L) == ((0L, 0L, 0L)))
    assert(got(5L) == ((1L, 0L, 0L)))
  }

  test("int8 quantization: codes bounded, round trip within half a bucket, contract empty") {
    import spark.implicits._
    val embs = Seq(
      (1L, Array(0.0f, 0.5f, 1.0f, -1.0f)),
      (2L, Array(3.0f, 3.0f, 3.0f, 3.0f)), // degenerate: constant vector
      (3L, Array(-2.5f, 7.25f, 0.125f, 3.75f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(embs, "embedding", "vec_id")
    val rows = q.collect().map(r => r.getLong(0) ->
      ((r.getDouble(1), r.getDouble(2), r.getSeq[Int](3)))).toMap
    // codes in range; min maps to 0, max to 255 (non-degenerate vectors)
    rows.values.foreach { case (_, _, codes) =>
      assert(codes.forall(c => c >= 0 && c <= 255)) }
    assert(rows(1L)._3.contains(0) && rows(1L)._3.contains(255))
    assert(rows(2L)._3.forall(_ == 0)) // degenerate → all zeros, no NaN
    // round-trip error bound holds elementwise
    val dq = Similarity.dequantizeInt8(q)
      .join(embs.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("orig")), "vec_id")
      .select(col("vec_id"), col("vmin"), col("vmax"), col("dqvec"), col("orig"))
      .collect()
    dq.foreach { r =>
      val w = (r.getDouble(2) - r.getDouble(1)) / 255.0
      r.getSeq[Double](3).zip(r.getSeq[Double](4)).foreach { case (d, o) =>
        assert(math.abs(d - o) <= w / 2 + 1e-12, s"vec ${r.getLong(0)}: |$d - $o| > ${w / 2}") }
    }
    // and the zero-violation contract frame is empty
    assert(Similarity.quantizationBoundViolations(embs, "embedding", "vec_id").count() == 0L)
  }

  test("bloom dedup manifest: seen docs always dropped, kept set within the exact gate") {
    import spark.implicits._
    val corpus = (0 until 200).map(i => (i.toLong, s"corpus document number $i payload")).toDF("doc_id", "text")
    val batch = (
      (0 until 50).map(i => (1000L + i, s"corpus document number $i payload")) ++ // seen
      (0 until 50).map(i => (2000L + i, s"fresh unseen document $i content")) ++  // new
      Seq((3000L, "fresh unseen document 0 content"))                             // batch-internal dup
    ).toDF("doc_id", "text")
    val manifest = Dedup.bloomDigestManifest(corpus, "text", expectedItems = 1000L, fpp = 0.01)
    val kept = Dedup.dropSeenDocumentsBloom(batch, manifest, "text", "doc_id")
      .select(col("doc_id")).as[Long].collect().toSet
    // NO false negatives: every corpus text and the batch-internal dup gone
    assert(kept.forall(id => id >= 2000L && id < 2050L))
    // false positives only lose a bounded sliver of the 50 fresh docs
    assert(kept.size >= 45, s"fpp=1% lost ${50 - kept.size} of 50 fresh docs")
    // bloom-kept ⊆ exact-kept (the gate can only be stricter)
    val exactKept = Dedup.dropSeenDocuments(batch, Dedup.digestManifest(corpus, "text"),
      "text", "doc_id").select(col("doc_id")).as[Long].collect().toSet
    assert(kept.subsetOf(exactKept))
    // and the gate-facing soundness frame is empty
    assert(Dedup.bloomSeenViolations(batch, corpus, "text", "doc_id",
      expectedItems = 1000L).isEmpty)
  }

  test("manifest-only re-dedup equals the text path; stricter thresholds need no rebuild") {
    import spark.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq(
      (1L, base), (2L, base), (3L, base + " kilo"),
      (4L, "completely different content about spark catalyst and tungsten engines"),
      (5L, "another unrelated doc mentioning shuffles exchanges and partitions")
    ).toDF("doc_id", "text")
    val manifest = Dedup.nearDupManifest(docs, "text", "doc_id",
      shingleSize = 3, bands = 32, rowsPerBand = 2)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_a"), col("doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // manifest path ≡ text path at the design threshold
    assert(pairSet(Dedup.nearDupPairsFromManifest(manifest, numer = 1, denom = 2)) ==
      pairSet(Dedup.jaccardDuplicatePairs(docs, "text", "doc_id",
        shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2)))
    // a STRICTER threshold re-runs on the same manifest: only the exact
    // duplicates survive J >= 95/100, the appended-token neighbor drops
    val strict = pairSet(Dedup.nearDupPairsFromManifest(manifest, numer = 95, denom = 100))
    assert(strict == Set((1L, 2L)))
  }

  test("persisted IVF index: build, frozen-centroid append, probe == brute force") {
    import spark.implicits._
    def vec(seed: Int) = Array.tabulate(8)(j =>
      (math.sin(seed * 7.0 + j) * 0.5 + (seed % 4) * 2.0).toFloat)
    val all = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val half1 = all.filter(col("vec_id") < 20)
    val half2 = all.filter(col("vec_id") >= 20)
    val path = graft.Fixtures.dir("ivfidx").toString
    val centroids = Similarity.trainIvfCentroids(half1, "embedding", "vec_id", k = 4)
    VersionedIvf.write(half1, "embedding", "vec_id", centroids, path)
    // stored centroids round-trip exactly
    assert(VersionedIvf.readCentroids(spark, path) == centroids)
    // append the second half against the FROZEN centroids — no retrain
    VersionedIvf.append(half2, "embedding", "vec_id", path)
    assert(VersionedIvf.corpusView(spark, path).count() == 40L)
    // exhaustive probe over the persisted index == brute force on the union
    val queries = all.filter(col("vec_id") < 5)
    val viaIndex = VersionedIvf.topKFromIndex(spark, path, queries,
      "embedding", "vec_id", k = 3, nprobe = 4)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(queries, all, "embedding", "vec_id", k = 3)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaIndex == brute)
  }

  test("IVF index delete: tombstone-only suppression, standing data files untouched, probe == brute on survivors") {
    import spark.implicits._
    def vec(seed: Int) = Array.tabulate(8)(j =>
      (math.sin(seed * 7.0 + j) * 0.5 + (seed % 4) * 2.0).toFloat)
    val all = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val path = graft.Fixtures.dir("ivfdel").toString
    val centroids = Similarity.trainIvfCentroids(all, "embedding", "vec_id", k = 4)
    VersionedIvf.write(all, "embedding", "vec_id", centroids, path)
    def corpusFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val base = java.nio.file.Paths.get(
        s"${GenerationLog.requireCurrentDir(spark, path)}/corpus")
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(_.toString).filter(_.contains("part-")).toSet
    }
    val beforeFiles = corpusFiles()

    // delete set: every member of ONE whole cluster, a few rows of another,
    // plus ids not in the index (no-ops — they don't count)
    val assigned = VersionedIvf.corpusView(spark, path)
      .select(col("vec_id"), col("cluster"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val clusterOf = assigned.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted).toMap
    val wholeCluster = clusterOf.minBy { case (_, ids) => ids.size }
    val partialCluster = clusterOf.filter(_._1 != wholeCluster._1).maxBy(_._2.size)
    val delIds = wholeCluster._2 ++ partialCluster._2.take(2) ++ Seq(999L, 1000L)
    val deleted = VersionedIvf.delete(spark, path,
      delIds.toDF("vec_id"), "vec_id")
    assert(deleted == wholeCluster._2.size + 2) // not-found ids don't count

    // tombstone-only: NO standing data file is rewritten or removed — the
    // suppression is entirely probe-side until a consolidate/retrain
    assert(corpusFiles() === beforeFiles, "delete rewrote standing data files")

    // probe over the suppressed index == brute force over the survivors
    val survivors = all.filter(!col("vec_id").isin(delIds: _*))
    val queries = survivors.filter(col("vec_id") < 12)
    val viaIndex = VersionedIvf.topKFromIndex(spark, path, queries,
      "embedding", "vec_id", k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(queries, survivors, "embedding", "vec_id", k = 3)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaIndex == brute)
    // idempotence: re-deleting the same set newly suppresses nothing
    assert(VersionedIvf.delete(spark, path,
      delIds.toDF("vec_id"), "vec_id") == 0L)
    // consolidation purges physically: segments folded, tombstones gone,
    // the emptied cluster's partition no longer materializes
    VersionedIvf.consolidate(spark, path)
    val genDir = GenerationLog.requireCurrentDir(spark, path)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$genDir/tombstones")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$genDir/corpus/cluster=${wholeCluster._1}")))
    assert(VersionedIvf.topKFromIndex(spark, path, queries,
      "embedding", "vec_id", k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet == brute)
    // tombstoning EVERY live row is legal (logical delete)… but the
    // consolidation that would materialize the empty index refuses
    VersionedIvf.delete(spark, path, survivors.select(col("vec_id")), "vec_id")
    assert(VersionedIvf.topKFromIndex(spark, path, queries,
      "embedding", "vec_id", k = 3, nprobe = 4).count() == 0L)
    val e = intercept[IllegalStateException] {
      VersionedIvf.consolidate(spark, path)
    }
    assert(e.getMessage.contains("rebuild"))
  }

  test("IVF-PQ index delete: affected code partitions only, exact probe == brute on survivors") {
    import spark.implicits._
    def vec(seed: Int) = Array.tabulate(8)(j =>
      (math.sin(seed * 7.0 + j) * 0.5 + (seed % 4) * 2.0).toFloat)
    val all = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val path = graft.Fixtures.dir("ivfpqdel").toString
    val centroids = Similarity.trainIvfCentroids(all, "embedding", "vec_id", k = 4)
    val books = Similarity.trainIvfPqBooks(all, "embedding", "vec_id", centroids, m = 4, ksub = 4)
    VersionedIvfPq.write(all, "embedding", "vec_id", centroids, books, path)
    val delIds = Seq(3L, 7L, 11L, 999L)
    val deleted = VersionedIvfPq.delete(spark, path,
      delIds.toDF("vec_id"), "vec_id")
    assert(deleted == 3L)
    assert(VersionedIvfPq.codesView(spark, path).count() == 37L)
    // exact-mode probe (all clusters, rerank >= corpus) == brute over survivors
    val survivors = all.filter(!col("vec_id").isin(delIds: _*))
    val queries = survivors.filter(col("vec_id") < 10)
    val viaIndex = VersionedIvfPq.topKFromIndex(spark, path, queries, all,
      "embedding", "vec_id", k = 3, nprobe = 4, rerank = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(queries, survivors, "embedding", "vec_id", k = 3)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaIndex == brute)
  }

  test("streaming IVF append: micro-batched landing-dir ingest, probe == brute on the union") {
    import spark.implicits._
    def vec(seed: Int) = Array.tabulate(8)(j =>
      (math.sin(seed * 7.0 + j) * 0.5 + (seed % 4) * 2.0).toFloat)
    val all = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val half1 = all.filter(col("vec_id") < 20)
    val half2 = all.filter(col("vec_id") >= 20)
    val path = graft.Fixtures.dir("ivfstream").toString
    val landing = graft.Fixtures.dir("ivflanding").toString
    val ckpt = graft.Fixtures.dir("ivfckpt").toString
    val centroids = Similarity.trainIvfCentroids(half1, "embedding", "vec_id", k = 4)
    VersionedIvf.write(half1, "embedding", "vec_id", centroids, path)
    // arrivals land as 4 files → maxFilesPerTrigger=1 forces 4 micro-batches
    half2.repartition(4).write.mode("overwrite").parquet(landing)
    val stream = spark.readStream
      .schema(half2.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landing)
    val q = VersionedIvf.streamAppend(stream, "embedding", "vec_id", path, ckpt)
    q.awaitTermination()
    // several distinct ingest_batch partitions actually materialized
    val batches = VersionedIvf.corpusView(spark, path)
      .select(col("ingest_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batches.size >= 3 && batches.contains(-1L))
    // exhaustive probe over the streamed index == brute force on the union
    val queries = all.filter(col("vec_id") < 5)
    val viaIndex = VersionedIvf.topKFromIndex(spark, path, queries,
      "embedding", "vec_id", k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(queries, all, "embedding", "vec_id", k = 3)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaIndex == brute)
    // replay-idempotence: a fresh stream over the SAME landing dir with the
    // SAME checkpoint has nothing new to do — the index is unchanged
    val q2 = VersionedIvf.streamAppend(
      spark.readStream.schema(half2.schema).option("maxFilesPerTrigger", 1).parquet(landing),
      "embedding", "vec_id", path, ckpt)
    q2.awaitTermination()
    assert(VersionedIvf.corpusView(spark, path).count() == 40L)
  }

  test("delete tombstones: a replayed pre-delete ingest batch cannot resurrect deleted vectors") {
    import spark.implicits._
    def vec(seed: Int) = Array.tabulate(8)(j =>
      (math.sin(seed * 7.0 + j) * 0.5 + (seed % 4) * 2.0).toFloat)
    val all = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val base = all.filter(col("vec_id") < 20)
    val batch = all.filter(col("vec_id") >= 20)
    val path = graft.Fixtures.dir("ivftomb").toString
    val centroids = Similarity.trainIvfCentroids(base, "embedding", "vec_id", k = 4)
    VersionedIvf.write(base, "embedding", "vec_id", centroids, path)
    // batch 0 ingested (written AND committed in the happy path)
    VersionedIvf.ingestBatch(batch, "embedding", "vec_id", path, 0L)
    assert(VersionedIvf.corpusView(spark, path).count() == 40L)
    // retention delete hits ids from the ingested batch AND the base
    val delIds = Seq(25L, 30L, 3L)
    assert(VersionedIvf.delete(spark, path,
      delIds.toDF("vec_id"), "vec_id") == 3L)
    // the failure being modeled: batch 0's write predated the delete but
    // its checkpoint commit didn't land — the stream replays it with
    // PRE-DELETE content. Without tombstones this dynamic overwrite would
    // resurrect 25 and 30.
    VersionedIvf.ingestBatch(batch, "embedding", "vec_id", path, 0L)
    val after = VersionedIvf.corpusView(spark, path)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(after == (0L until 40L).toSet -- delIds)
    // a NEW batch of genuinely new ids is unaffected by the tombstones
    val fresh = Seq((100L, vec(100))).toDF("vec_id", "embedding")
    VersionedIvf.ingestBatch(fresh, "embedding", "vec_id", path, 1L)
    assert(VersionedIvf.corpusView(spark, path)
      .filter(col("vec_id") === 100L).count() == 1L)
  }

  test("persisted IVF-PQ index: quantizers round-trip, frozen-quantizer append, probe == brute force") {
    import spark.implicits._
    def vec(seed: Int) = Array.tabulate(8)(j =>
      (math.sin(seed * 7.0 + j) * 0.5 + (seed % 4) * 2.0).toFloat)
    val all = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val half1 = all.filter(col("vec_id") < 20)
    val half2 = all.filter(col("vec_id") >= 20)
    val path = graft.Fixtures.dir("ivfpqidx").toString
    val centroids = Similarity.trainIvfCentroids(half1, "embedding", "vec_id", k = 4)
    val books = Similarity.trainIvfPqBooks(half1, "embedding", "vec_id",
      centroids, m = 4, ksub = 4)
    VersionedIvfPq.write(half1, "embedding", "vec_id", centroids, books, path)
    // stored quantizers round-trip exactly
    assert(VersionedIvf.readCentroids(spark, path) == centroids)
    assert(VersionedIvfPq.readBooks(spark, path) == books)
    // append against the FROZEN quantizers — no retrain, codes only
    VersionedIvfPq.append(half2, "embedding", "vec_id", path)
    assert(VersionedIvfPq.codesView(spark, path).count() == 40L)
    // ...and appended codes equal a fresh in-memory encode of the same rows
    val stored = VersionedIvfPq.codesView(spark, path)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cluster"), r.getSeq[Int](r.fieldIndex("codes")))).toMap
    val fresh = Similarity.ivfPqEncode(all, "embedding", "vec_id", centroids, books)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2))).toMap
    assert(stored == fresh)
    // exhaustive probe + full re-rank over the persisted codes == brute
    val queries = all.filter(col("vec_id") < 5)
    val viaIndex = VersionedIvfPq.topKFromIndex(spark, path, queries, all,
      "embedding", "vec_id", k = 3, nprobe = 4, rerank = 1000)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(queries, all, "embedding", "vec_id", k = 3)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaIndex == brute)
  }

  test("minhash candidate SET equals the exact J>=1/2 pair set on the harness corpus " +
      "(d_minhash_candidates oracle validity)") {
    // the correctness gate's oracle for d_minhash_candidates is the exact
    // Jaccard pair SQL — valid iff, on the gate's corpus, LSH candidates
    // have perfect recall (identical shingle sets → identical signatures →
    // certain collision) AND no sub-threshold false positive shares a band
    // key. Both are deterministic given the fixed hash family; this pins
    // the set equality on the actual sf0.01 gate input.
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = graft.Tables(spark, dir, "documents")
    val cands = Dedup.minhashCandidatePairs(docs, "text", "doc_id")
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.jaccardPairsBruteForce(docs, "text", "doc_id",
      shingleSize = 3, numer = 1, denom = 2)
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands == brute,
      s"extra candidates: ${(cands -- brute).take(5)}; missed pairs: ${(brute -- cands).take(5)}")
  }

  test("containment: a quote embedded in a long doc scores 1e6 one way, low the other") {
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon"
    val long = s"intro words here $quote trailing content one two three four five six seven"
    val docs = Seq((1L, quote), (2L, long), (3L, "completely unrelated text body")).toDF("doc_id", "text")
    val rows = Dedup.containmentPairs(docs, "text", "doc_id",
        shingleSize = 3, thresholdPpm = 0L, maxDf = 100L)
      .select("src", "dst", "containment_ppm")
      .as[(Long, Long, Long)].collect().map { case (s0, d0, p) => (s0, d0) -> p }.toMap
    // every trigram of the quote appears in the long doc
    assert(rows((1L, 2L)) == 1000000L)
    // the reverse direction is diluted by the long doc's extra shingles
    assert(rows((2L, 1L)) < 300000L)
    // unrelated doc shares nothing → absent even at threshold 0
    assert(!rows.contains((1L, 3L)) && !rows.contains((3L, 1L)))
  }

  test("containment df-cap drops boilerplate shingles from the intersection only") {
    import spark.implicits._
    // 5 docs share a boilerplate prefix; docs 1/2 additionally share a rare tail
    val docs = (1L to 5L).map { i =>
      // docs 3-5 diverge IMMEDIATELY after the boilerplate so their only
      // shared trigrams are the df-5 boilerplate ones the cap drops
      val tail = if (i <= 2) "rare shared tail words" else s"tail$i alpha$i beta$i gamma$i"
      (i, s"common boilerplate header line $tail")
    }.toDF("doc_id", "text")
    val capped = Dedup.containmentPairs(docs, "text", "doc_id",
        shingleSize = 3, thresholdPpm = 0L, maxDf = 4L)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    // boilerplate-only pairs (3,4,5 with anyone) vanish under the cap;
    // the rare-tail pair survives in both directions
    assert(capped.contains((1L, 2L)) && capped.contains((2L, 1L)))
    assert(!capped.exists { case (a, b) => a >= 3L && b >= 3L })
  }

  test("PROPERTY: containmentPairs ≡ in-JVM set arithmetic over random corpora") {
    // random corpora from a small vocab (high shingle overlap by design),
    // random df cap and threshold — the whole directed pair table must
    // equal exact set arithmetic restricted to cap-surviving shingles
    val vocab = Vector("a", "b", "c", "d", "e")
    val docGen = Gen.choose(3, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val corpusGen = for {
      n <- Gen.choose(3, 8)
      texts <- Gen.listOfN(n, docGen)
      maxDf <- Gen.choose(2, 8)
      thr <- Gen.oneOf(0L, 300000L, 700000L)
    } yield (texts, maxDf.toLong, thr)
    val prop = Prop.forAll(corpusGen) { case (texts, maxDf, thr) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Dedup.containmentPairs(docs.toDF("doc_id", "text"), "text", "doc_id",
          shingleSize = 3, thresholdPpm = thr, maxDf = maxDf)
        .select("src", "dst", "inter_sz", "containment_ppm")
        .as[(Long, Long, Long, Long)].collect().toSet
      // in-JVM replica
      def grams(t: String) = {
        val tk = "\\S+".r.findAllIn(t).map(_.toLowerCase).toVector
        if (tk.length < 3) Set.empty[String] else tk.sliding(3).map(_.mkString(" ")).toSet
      }
      val sh = docs.map { case (id, t) => id -> grams(t) }.toMap
      val df = sh.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val keep = df.filter { case (_, d) => d >= 2 && d <= maxDf }.keySet
      val want = (for {
        (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq; if a != b
        inter = (sa intersect sb) intersect keep
        if inter.nonEmpty && sa.nonEmpty
        ppm = inter.size.toLong * 1000000L / sa.size
        if ppm >= thr
      } yield (a, b, inter.size.toLong, ppm)).toSet
      got == want
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(r.passed, r.status.toString)
  }

  test("embeddingOutlierIds flags exactly the planted corrupt vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val embs = (1L to 200L).map { id =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      (id, if (id % 50 == 0) base.map(_ * 10.0f) else base)
    }.toDF("vec_id", "embedding")
    val got = Similarity.embeddingOutlierIds(embs, "embedding", "vec_id", zThreshold = 6.0)
      .as[Long].collect().toSet
    assert(got == Set(50L, 100L, 150L, 200L))
    // clean corpus at the same threshold: nothing flagged
    val clean = (1L to 200L).map(id => (id, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    assert(Similarity.embeddingOutlierIds(clean, "embedding", "vec_id", 6.0).count() == 0)
  }

  test("rrfFuse: exact integer scores, agreement boosts, ties break by item id") {
    import spark.implicits._
    val ra = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)).toDF("query_id", "item_id", "rank")
    val rb = Seq((1L, 11L, 1), (1L, 13L, 2), (1L, 10L, 3)).toDF("query_id", "item_id", "rank")
    val got = Similarity.rrfFuse(Seq(ra, rb), k0 = 60, k = 4)
      .select("query_id", "item_id", "rrf_x1e9", "rank")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._4)
    def c(r: Int) = 1000000000L / (60 + r)
    // item 11: ranks 2+1 → highest; item 10: 1+3; 12 and 13 single-ranker
    assert(got.map(t => (t._2, t._3)).toSeq == Seq(
      (11L, c(2) + c(1)), (10L, c(1) + c(3)), (13L, c(2)), (12L, c(3))))
    // 13 beats 12: c(2) > c(3)
  }

  test("prototypicality pruning: exact per-cluster quota, hardest/easiest direction, " +
      "matches a driver-side reimplementation") {
    // two planted direction clusters, 20 vectors each, with a per-vector
    // perturbation that GROWS with the index — later ids sit further from
    // their centroid (harder)
    val base = Seq(
      Array.tabulate(8)(i => if (i < 4) 1f else 0f),
      Array.tabulate(8)(i => if (i >= 4) 1f else 0f))
    val vecs = (0 until 40).map { i =>
      val b = base(i % 2)
      (i.toLong, b.zipWithIndex.map { case (x, d) =>
        x + 0.02f * (i / 2) * (if (d == (i % 8)) 1f else 0f) })
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cents: Seq[Seq[Float]] = Seq(base(0).toSeq, base(1).toSeq)

    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    // driver reference: assign to argmax cosine (ties -> higher idx, the
    // greatest(struct) semantics), rank ascending per cluster, keep n/4
    val ref = vecs.map { case (id, v) =>
      val sims = cents.map(c => cosine(v, c))
      val cl = if (sims(1) >= sims(0)) 1 else 0
      (id, cl, sims(cl))
    }
    val want = ref.groupBy(_._2).flatMap { case (cl, rows) =>
      rows.sortBy(r => (r._3, r._1)).take(rows.size * 1 / 4).map(r => (r._1, cl.toLong))
    }.toSet

    val got = Similarity.pruneByPrototypicality(df, "embedding", "vec_id", cents,
      keepNumer = 1, keepDenom = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    // quota exactness: 20 per cluster -> keep exactly 5 from each
    assert(got.groupBy(_._2).view.mapValues(_.size).toMap === Map(0L -> 5, 1L -> 5))

    // keepHardest=false selects the opposite tail: disjoint from the
    // hardest quarter, and strictly easier (higher proto) on average
    val easy = Similarity.pruneByPrototypicality(df, "embedding", "vec_id", cents,
      keepNumer = 1, keepDenom = 4, keepHardest = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(easy.intersect(got).isEmpty)
    val protoOf = ref.map(r => (r._1, r._2.toLong) -> r._3).toMap
    def meanProto(s: Set[(Long, Long)]): Double = s.toSeq.map(protoOf).sum / s.size
    assert(meanProto(easy) > meanProto(got))

    // null input vectors are excluded, not selected (ADVICE r10: nulls sort
    // first under the keep-hardest window and used to enter a null cluster)
    val withNulls = df.unionByName(Seq((100L, null.asInstanceOf[Array[Float]]),
      (101L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val scoredN = Similarity.prototypicality(withNulls, "embedding", "vec_id", cents)
      .collect()
    assert(scoredN.length === 40, "null vectors must be excluded from scoring")
    assert(scoredN.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
    val gotN = Similarity.pruneByPrototypicality(withNulls, "embedding", "vec_id",
      cents, keepNumer = 1, keepDenom = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotN === got, "null rows must not enter (or shift) the keep set")
  }

  test("trainIvfCentroids tolerates null vectors (ADVICE r9: null-centroid group)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // non-null vectors at low ids (the k seeds), null rows at high ids —
    // the null rows form a null cluster whose vectorAvg is null; training
    // must skip it and keep k centroids instead of NPE-ing on the collect
    val rows = (0L until 40L).map(id => (id, Array.fill(8)(rnd.nextGaussian().toFloat))) ++
      (40L until 50L).map(id => (id, null.asInstanceOf[Array[Float]]))
    val df = rows.toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroids(df, "embedding", "vec_id", k = 4)
    assert(cents.size == 4 && cents.forall(c => c != null && c.size == 8))
  }

  test("rrfFuse tie on equal contributions resolves by ascending item id") {
    import spark.implicits._
    val ra = Seq((1L, 20L, 1), (1L, 21L, 2)).toDF("query_id", "item_id", "rank")
    val rb = Seq((1L, 21L, 1), (1L, 20L, 2)).toDF("query_id", "item_id", "rank")
    val got = Similarity.rrfFuse(Seq(ra, rb), k0 = 60, k = 2)
      .select("item_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(got.toSeq == Seq((20L, 1), (21L, 2))) // equal scores → id asc
  }
}
