package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CurationSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("packSequences: two-level prefix sum equals the naive running sum") {
    // sparse, non-dense ids; a zero-token doc; blockSize 4 forces many blocks
    val docs = Seq(
      (0L, 10L), (1L, 5L), (3L, 0L), (7L, 2048L), (8L, 1L),
      (15L, 300L), (16L, 7L), (31L, 999L), (100L, 1L), (101L, 2047L)
    ).toDF("doc_id", "n_tokens")
    val got = Curation.packSequences(docs, "doc_id", col("n_tokens"), seqLen = 1024L, blockSize = 4L)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect()

    var off = 0L
    val want = docs.orderBy("doc_id").as[(Long, Long)].collect().map { case (id, n) =>
      val start = off / 1024L
      val end = if (n == 0) start else (off + n - 1) / 1024L
      val r = (id, n, off, start, end)
      off += n
      r
    }
    assert(got.toSeq == want.toSeq)
  }

  test("packSequences: a doc spanning several sequences reports the full span") {
    val docs = Seq((1L, 10L), (2L, 5000L), (3L, 3L)).toDF("doc_id", "n_tokens")
    val r = Curation.packSequences(docs, "doc_id", col("n_tokens"), seqLen = 1024L)
      .orderBy("doc_id").as[(Long, Long, Long, Long, Long)].collect()
    assert(r(1) == ((2L, 5000L, 10L, 0L, 4L))) // tokens 10..5009 → seqs 0..4
    assert(r(2) == ((3L, 3L, 5010L, 4L, 4L)))
  }

  test("hashSample is deterministic and partitioning-invariant") {
    val docs = spark.range(0, 2000).select(col("id").as("doc_id"))
    val a = Curation.hashSample(docs, "doc_id", 1, 20).as[Long].collect().sorted
    val b = Curation.hashSample(docs.repartition(7), "doc_id", 1, 20)
      .as[Long].collect().sorted
    assert(a.sameElements(b))
    assert(a.nonEmpty && a.length < 300) // ~5% of 2000, generous bound
  }

  test("quotaSample caps each group and picks a stable set") {
    val docs = spark.range(0, 1000)
      .select(col("id").as("doc_id"), (col("id") % 3).cast("string").as("grp"))
    val a = Curation.quotaSample(docs, "grp", "doc_id", quota = 10)
    val counts = a.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(counts.values.forall(_ == 10L))
    val b = Curation.quotaSample(docs.repartition(11), "grp", "doc_id", quota = 10)
    assert(a.as[(Long, String)].collect().sorted.sameElements(
      b.as[(Long, String)].collect().sorted))
  }

  test("packedSliceManifest: slices tile each doc and fill each sequence") {
    val docs = Seq((1L, 10L), (2L, 5000L), (3L, 3L), (4L, 0L), (5L, 1021L))
      .toDF("doc_id", "n_tokens")
    val m = Curation.packedSliceManifest(docs, "doc_id", col("n_tokens"), seqLen = 1024L)
    // per-doc: slices cover exactly n_tokens
    val got = m.groupBy("doc_id").agg(sum("n_take")).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 2L -> 5000L, 3L -> 3L, 5L -> 1021L)) // doc 4 dropped
    // per-sequence: every sequence except the corpus tail holds exactly seqLen
    val perSeq = m.groupBy("seq_id").agg(sum("n_take").as("n"))
      .orderBy("seq_id").as[(Long, Long)].collect()
    assert(perSeq.dropRight(1).forall(_._2 == 1024L))
    assert(perSeq.map(_._2).sum == 10L + 5000L + 3L + 1021L)
    // spot-check the straddling doc: doc 2 spans seqs 0..4 with offset 10
    val d2 = m.filter($"doc_id" === 2L).orderBy("seq_id")
      .select("seq_id", "doc_from", "n_take").as[(Long, Long, Long)].collect()
    assert(d2.head == ((0L, 0L, 1014L)))
    assert(d2.last == ((4L, 4086L, 914L)))
  }

  test("tfIdfTopTerms ranks rare terms above common ones") {
    val docs = Seq(
      (1L, "apple apple banana common common common"),
      (2L, "banana cherry common common common common"),
      (3L, "common cherry date date common common")
    ).toDF("doc_id", "text")
    val top = TextOps.tfIdfTopTerms(docs, "text", "doc_id", k = 2)
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).map { case (d, rs) => d -> rs.sortBy(_._3).map(_._2).toSeq }
    // 'common' appears in all docs → idf ln(4/4)=0 → never top;
    // doc-unique terms win: apple×2 for doc1, date×2 for doc3
    assert(top(1L).head == "apple")
    assert(top(3L).head == "date")
    assert(!top.values.flatten.toSet.contains("common"))
  }

  test("property: packSequences equals the naive prefix sum for random corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      n <- Gen.choose(1, 60)
      ids <- Gen.listOfN(n, Gen.choose(0L, 500L)).map(_.distinct)
      counts <- Gen.listOfN(ids.length, Gen.choose(0L, 5000L))
      seqLen <- Gen.choose(1L, 4096L)
      blockSize <- Gen.oneOf(1L, 3L, 16L, 1000000L)
    } yield (ids.zip(counts), seqLen, blockSize)
    val prop = Prop.forAll(gen) { case (docs, seqLen, blockSize) =>
      val df = docs.toDF("doc_id", "nt")
      val got = Curation.packSequences(df, "doc_id", col("nt"), seqLen, blockSize)
        .orderBy("doc_id").as[(Long, Long, Long, Long, Long)].collect().toSeq
      var off = 0L
      val want = docs.sortBy(_._1).map { case (id, n) =>
        val start = off / seqLen
        val end = if (n == 0) start else (off + n - 1) / seqLen
        val r = (id, n, off, start, end)
        off += n
        r
      }
      got == want
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(r.passed, r.status.toString)
  }

  test("mixtureSample applies per-group rates; unlisted groups are dropped") {
    val docs = spark.range(0, 3000)
      .select(col("id").as("doc_id"),
        element_at(array(lit("wiki"), lit("crawl"), lit("forum")),
          (pmod(col("id"), lit(3)) + 1).cast("int")).as("source"))
    val out = Curation.mixtureSample(docs, "source", "doc_id",
      Map("wiki" -> (1, 1), "crawl" -> (1, 10)))
    val bySource = out.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySource("wiki") == 1000L)                      // kept wholesale
    assert(bySource("crawl") > 50 && bySource("crawl") < 200) // ~10%
    assert(!bySource.contains("forum"))                    // unlisted → dropped
    // same rows as applying hashSample per group
    val crawlOnly = Curation.hashSample(docs.filter($"source" === "crawl"), "doc_id", 1, 10)
    assert(out.filter($"source" === "crawl").select("doc_id").as[Long].collect().sorted
      .sameElements(crawlOnly.select("doc_id").as[Long].collect().sorted))
  }

  test("temperatureSample flattens the head with integer-exact sqrt quotas") {
    // sizes 64 / 16 / 4 → ⌊√n⌋ weights 8 / 4 / 2, sum 14; budget 21 →
    // quotas 21·8 div 14 = 12, 21·4 div 14 = 6, 21·2 div 14 = 3
    val docs = ((0 until 64).map(i => (i.toLong, "big")) ++
      (100 until 116).map(i => (i.toLong, "mid")) ++
      (200 until 204).map(i => (i.toLong, "small"))).toDF("doc_id", "lang")
    val kept = Curation.temperatureSample(docs, "lang", "doc_id", totalBudget = 21)
      .as[(Long, String)].collect()
    val byLang = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang == Map("big" -> 12, "mid" -> 6, "small" -> 3))
    // selection within each group is the SAME deterministic hash prefix
    // quotaSample uses — pin "big" against quotaSample at its quota
    val viaQuota = Curation.quotaSample(docs.filter($"lang" === "big"),
      "lang", "doc_id", quota = 12).as[(Long, String)].collect().map(_._1).toSet
    assert(kept.filter(_._2 == "big").map(_._1).toSet == viaQuota)
    // a group smaller than its quota keeps everything and the total
    // undershoots gracefully
    val tiny = ((0 until 100).map(i => (i.toLong, "big")) ++
      Seq((900L, "rare"))).toDF("doc_id", "lang")
    val keptTiny = Curation.temperatureSample(tiny, "lang", "doc_id", totalBudget = 50)
      .as[(Long, String)].collect()
    assert(keptTiny.count(_._2 == "rare") == 1) // quota 50·1 div 11 = 4 > n = 1
    // largest-remainder redistribution: budget 20 → floored quotas
    // 160 div 14 = 11 (rem 6), 80 div 14 = 5 (rem 10), 40 div 14 = 2
    // (rem 12) sum to 18; the shortfall of 2 goes to the two largest
    // remainders (small, mid) so Σ quota = budget EXACTLY, not 18
    val kept20 = Curation.temperatureSample(docs, "lang", "doc_id", totalBudget = 20)
      .as[(Long, String)].collect()
    val byLang20 = kept20.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang20 == Map("big" -> 11, "mid" -> 6, "small" -> 3))
    assert(kept20.length == 20)
  }

  test("tokenBudgetCap keeps hash-ordered docs while they fit the budget") {
    val docs = Seq(
      (1L, "a", 400L), (2L, "a", 400L), (3L, "a", 400L), (4L, "a", 400L),
      (10L, "b", 50L), (11L, "b", 60L)
    ).toDF("doc_id", "grp", "nt")
    val out = Curation.tokenBudgetCap(docs, "grp", "doc_id", col("nt"), budget = 1000L)
      .select("doc_id", "grp").as[(Long, String)].collect()
    // group a: only the first two docs in hash order fit 1000 tokens
    assert(out.count(_._2 == "a") == 2)
    // group b fits entirely
    assert(out.count(_._2 == "b") == 2)
    // kept set = prefix of the hash order, verified against a manual cumsum
    val order = docs.filter($"grp" === "a")
      .select(col("doc_id"), Curation.portableHash(col("doc_id")).as("h"))
      .orderBy("h", "doc_id").as[(Long, Long)].collect().map(_._1)
    assert(out.filter(_._2 == "a").map(_._1).toSet == order.take(2).toSet)
  }

  test("chunkDocuments tiles tokens with overlap; tail chunk short; empty doc dropped") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // 3 tokens < chunk
      (3L, "")                                        // empty → no chunks
    ).toDF("doc_id", "text")
    val r = Curation.chunkDocuments(docs, "text", "doc_id", chunkTokens = 4, strideTokens = 2)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Long, Long, Long, String)].collect()
    val d1 = r.filter(_._1 == 1L)
    // starts 0,2,4,6 → 4 chunks; chunk0 = w1..w4, last = w7..w10 (full tail)
    assert(d1.map(x => (x._3, x._4)).toSeq == Seq((0L, 4L), (2L, 4L), (4L, 4L), (6L, 4L)))
    assert(d1.head._5 == "w1 w2 w3 w4" && d1.last._5 == "w7 w8 w9 w10")
    // doc with 11 tokens: starts 0,2,4,6,8 → last chunk 3 tokens
    val r11 = Curation.chunkDocuments(
      Seq((9L, (1 to 11).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text"),
      "text", "doc_id", chunkTokens = 4, strideTokens = 2)
      .orderBy("chunk_idx").as[(Long, Long, Long, Long, String)].collect()
    assert(r11.map(x => (x._3, x._4)).toSeq == Seq((0L, 4L), (2L, 4L), (4L, 4L), (6L, 4L), (8L, 3L)))
    assert(r11.last._5 == "t9 t10 t11")
    assert(r.count(_._1 == 2L) == 1 && r.filter(_._1 == 2L).head._5 == "a b c")
    assert(!r.exists(_._1 == 3L))
  }

  test("contamination matches brute-force string-shingle intersection") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // shares a 3-gram run with bench
      (2L, "one two three four five six seven"),     // no overlap
      (3L, "gamma delta epsilon zeta eta theta"),    // shares shingles with bench
      (4L, "")                                       // empty doc: no shingles
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "beta gamma delta epsilon zeta eta")
    ).toDF("doc_id", "text")

    val got = Curation.contamination(corpus, bench, "text", "doc_id", n = 3)
      .as[(Long, Long)].collect().toMap

    // brute force on the strings themselves
    def sh(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id"), explode(TextOps.shingles(TextOps.tokens(col("text")), 3)).as("g"))
    val want = sh(corpus).join(sh(bench).select(col("g")).distinct(), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap

    assert(got == want)
    assert(!got.contains(2L) && !got.contains(4L))
    assert(got(1L) > 0 && got(3L) > 0)
  }

  test("contaminationBloom is exactly contamination (no false negatives through the gate)") {
    // a corpus big enough that the Bloom actually gates (clean docs' shingles
    // must be dropped pre-join, dirty docs' must all pass)
    val corpus = ((1 to 200).map(i => (i.toLong, s"unique$i filler$i tail$i pad$i end$i")) ++
      Seq((900L, "alpha beta gamma delta epsilon zeta"),
          (901L, "gamma delta epsilon zeta eta theta"))).toDF("doc_id", "text")
    val bench = Seq((100L, "beta gamma delta epsilon zeta eta")).toDF("doc_id", "text")
    val exact = Curation.contamination(corpus, bench, "text", "doc_id", n = 3)
      .as[(Long, Long)].collect().toMap
    // generous and starved filters both stay exact — undersizing only raises
    // fpp (more rows reach the join), never drops a true hit
    for (items <- Seq(100000L, 8L)) {
      val gated = Curation.contaminationBloom(
        corpus, bench, "text", "doc_id", n = 3, expectedItems = items)
        .as[(Long, Long)].collect().toMap
      assert(gated == exact, s"expectedItems=$items")
    }
    assert(exact.keySet == Set(900L, 901L))
  }

  test("contaminationFuzzy matches cross-frame brute-force Jaccard; both broadcast regimes") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),      // J vs 100 high
      (2L, "one two three four five six seven"),        // no overlap
      (3L, "alpha beta gamma delta epsilon zeta extra"),// paraphrase-ish of 100
      (4L, ""),                                         // no shingles
      (5L, "beta gamma delta unrelated tail words here")// some overlap, below 1/2
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "totally disjoint benchmark question text")
    ).toDF("doc_id", "text")

    // brute force across the two frames on the string shingles themselves
    def sh(d: org.apache.spark.sql.DataFrame, as: String) =
      d.select(col("doc_id").as(as),
        graft.functions.VectorHash.wordShingles(col("text"), 3).as(s"sh_$as"))
        .filter(size(col(s"sh_$as")) > 0)
    val inter = size(array_intersect(col("sh_c"), col("sh_b")))
    val union = size(col("sh_c")) + size(col("sh_b")) - inter
    val want = sh(corpus, "c").crossJoin(sh(bench, "b"))
      .select(col("c"), col("b"), inter.cast("long").as("i"), union.cast("long").as("u"))
      .filter(col("i") * 2 >= col("u"))
      .as[(Long, Long, Long, Long)].collect().toSet

    for (bcast <- Seq(true, false)) {
      val got = Curation.contaminationFuzzy(corpus, bench, "text", "doc_id",
        shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2,
        broadcastBenchmark = bcast)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == want, s"broadcastBenchmark=$bcast")
    }
    // the exact-duplicate and the superset pair survive; partial overlap
    // (doc 5) and disjoint docs do not
    assert(want.map(p => (p._1, p._2)) == Set((1L, 100L), (3L, 100L)))
  }

  test("weightedPrioritySample: weight-proportional, deterministic, zero weights never drawn") {
    val docs = (1L to 5000L).map(i => (i, if (i % 2 == 0) 100L else 1L))
      .toDF("doc_id", "w")
      .union(Seq((9999L, 0L), (9998L, -5L)).toDF("doc_id", "w"))
    val picked = Curation.weightedPrioritySample(docs, "doc_id", col("w"), k = 200)
    val rows = picked.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.size == 200)
    // excluded weights can never be drawn
    assert(!rows.exists { case (id, _) => id == 9999L || id == 9998L })
    // heavy rows (weight 100 vs 1) must dominate the draw overwhelmingly
    val heavy = rows.count(_._2 == 100L)
    assert(heavy > 180, s"expected weight-100 rows to dominate, got $heavy/200")
    // deterministic and partitioning-invariant (it feeds downstream mixes)
    val again = Curation.weightedPrioritySample(
      docs.repartition(13), "doc_id", col("w"), k = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.toSet == again.toSet)
  }

  test("span dedup drops repeated spans corpus-wide, first occurrence wins") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),       // spans (k=3): [a b c] [d e f]
      (2L, "a b c x y z"),       // [a b c] repeats doc 1 → dropped; [x y z] kept
      (3L, "x y z"),             // repeats doc 2's span → dropped entirely
      (4L, "")                   // empty doc keeps an empty row
    ).toDF("doc_id", "text")
    val got = Curation.dropDuplicateSpans(docs, "text", "doc_id", spanTokens = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "a b c d e f",
      2L -> "x y z",
      3L -> "",
      4L -> ""))
  }

  test("shuffleOrder: a permutation of 0..n-1, equal to the naive global order, stable") {
    import spark.implicits._
    val df = (0L until 997L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = Curation.shuffleOrder(df, "doc_id", buckets = 16)
      .select(col("doc_id"), col("shuffle_pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // permutation of 0..n-1
    assert(out.map(_._2).sorted.toSeq == (0L until 997L))
    // two-level order == the naive single-partition global row_number
    val mix = Curation.portableHash(col("doc_id"))
    val naive = df
      .withColumn("m", mix)
      .select(col("doc_id"), col("m"), pmod(col("m"), lit(16L)).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (id, m, b) => (b, m, id) }
      .zipWithIndex.map { case ((id, _, _), pos) => id -> pos.toLong }.toMap
    assert(out.forall { case (id, pos) => naive(id) == pos })
    // not the identity order (it actually shuffles)
    assert(out.toMap.count { case (id, pos) => id == pos } < 100)
    // deterministic across runs / repartitionings
    val again = Curation.shuffleOrder(df.repartition(7), "doc_id", buckets = 16)
      .select(col("doc_id"), col("shuffle_pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.toMap == again)
  }

  test("shardAssignments: balanced contiguous slices; writeShards lays out shard=K dirs") {
    import spark.implicits._
    val df = (0L until 103L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val shards = Curation.shardAssignments(df, "doc_id", numShards = 4, buckets = 8)
      .select(col("doc_id"), col("shuffle_pos"), col("shard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // sizes differ by at most one
    val sizes = shards.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes.keySet == Set(0L, 1L, 2L, 3L))
    assert(sizes.values.max - sizes.values.min <= 1)
    // each shard is a contiguous slice of the shuffled order
    sizes.keySet.foreach { k =>
      val pos = shards.filter(_._3 == k).map(_._2).sorted
      assert(pos.last - pos.head + 1 == pos.length, s"shard $k not contiguous")
    }
    // the writer materializes one dir per shard with the full corpus
    val dir = graft.Fixtures.dir("shards").toString
    Curation.writeShards(df, "doc_id", numShards = 4, path = dir, buckets = 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == 103L)
    assert(back.select(col("shard")).distinct().count() == 4L)
  }

  test("contentChunks: reconstruction law, edit-shift stability, short/empty docs") {
    import spark.implicits._
    // deterministic pseudo-random text: boundaries land where the window
    // polynomial says, nowhere else
    def txt(seed: Int, n: Int): String =
      (0 until n).map(i => ('a' + (((i * 2654435761L + seed * 40503L) >>> 16) % 26).toInt).toChar).mkString
    val base = txt(1, 600)
    val edited = "XY" + base // 2-char insertion at the front
    val docs = Seq((1L, base), (2L, edited), (3L, "tiny"), (4L, "")).toDF("doc_id", "text")
    val chunks = Curation.contentChunks(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    // law: chunks concatenate back to the original, in index order
    val byDoc = chunks.groupBy(_._1).map { case (id, cs) =>
      id -> cs.sortBy(_._2).map(_._4).mkString }
    assert(byDoc(1L) == base && byDoc(2L) == edited)
    // short doc (< window): one whole-text chunk; empty doc: one empty chunk
    assert(byDoc(3L) == "tiny" && chunks.count(_._1 == 3L) == 1)
    assert(byDoc(4L) == "" && chunks.count(_._1 == 4L) == 1)
    // edit-shift stability: the insertion changes chunking only up to the
    // first surviving boundary — every later chunk is byte-identical, so
    // the edited doc shares all but at most one of the original's chunks
    val a = chunks.filter(_._1 == 1L).map(_._4).toSeq
    val b = chunks.filter(_._1 == 2L).map(_._4).toSet
    assert(a.size >= 4, s"expected several chunks, got ${a.size} (tune divisor?)")
    val shared = a.count(b.contains)
    assert(shared >= a.size - 1,
      s"edit broke $a.size - $shared downstream chunks; content-defined boundaries should confine the shift")
  }

  test("dsirWeights matches an independent driver-side reimplementation") {
    val raw = Seq(
      (1L, "alpha beta gamma alpha"), // mixed
      (2L, "delta epsilon zeta"),     // off-target
      (3L, "alpha beta alpha beta"),  // target-heavy
      (4L, "single")                  // one token, no bigrams
    ).toDF("doc_id", "text")
    val target = Seq((10L, "alpha beta alpha"), (11L, "beta alpha")).toDF("doc_id", "text")
    val got = Curation.dsirWeights(raw, target, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    // independent reference: plain Scala over the same definitions
    def feats(s: String): Seq[String] = {
      val tk = s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      tk ++ tk.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    val rawDocs = Map(1L -> "alpha beta gamma alpha", 2L -> "delta epsilon zeta",
      3L -> "alpha beta alpha beta", 4L -> "single")
    val rawBag = rawDocs.values.toSeq.flatMap(feats)
    val tgtBag = Seq("alpha beta alpha", "beta alpha").flatMap(feats)
    val cr = rawBag.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ct = tgtBag.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vsz = (cr.keySet ++ ct.keySet).size.toDouble
    val (nr, nt) = (rawBag.size.toDouble, tgtBag.size.toDouble)
    def w(f: String): Double =
      math.log((ct.getOrElse(f, 0L) + 1.0) / (nt + vsz)) -
        math.log((cr.getOrElse(f, 0L) + 1.0) / (nr + vsz))
    rawDocs.foreach { case (id, text) =>
      val fs = feats(text)
      val (gn, gw) = got(id)
      assert(gn === fs.size.toLong, s"doc $id n_feats")
      assert(math.abs(gw - fs.map(w).sum) < 1e-9, s"doc $id weight")
    }
    // directionality: the target-heavy doc outranks the off-target one
    assert(got(3L)._2 > got(1L)._2 && got(1L)._2 > got(2L)._2)
  }

  test("hashed buckets are collision-free on the harness corpus and hashed ≡ exact " +
      "(t_dsir_hashed oracle validity)") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = graft.Tables(spark, dir, "documents")
    val target = docs.filter(col("lang") === "en")
    // zero collisions: distinct features == distinct occupied buckets
    val tk = TextOps.tokens(col("text"))
    val feats = docs.select(tk.as("__tk"))
      .select(explode(concat(col("__tk"),
        when(size(col("__tk")) >= 2,
          transform(sequence(lit(0), size(col("__tk")) - 2),
            i => concat_ws(" ", element_at(col("__tk"), i + 1),
              element_at(col("__tk"), i + 2))))
          .otherwise(array().cast("array<string>")))).as("f"))
      .distinct()
    val nFeats = feats.count()
    val nBuckets = feats.select(pmod(xxhash64(col("f")), lit(1L << 30)).as("b"))
      .distinct().count()
    assert(nFeats === nBuckets,
      s"bucket collisions: $nFeats features -> $nBuckets buckets; the shared oracle is invalid")
    val exact = Curation.dsirWeights(docs, target, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val hashed = Curation.dsirWeights(docs, target, "text", "doc_id", buckets = 1L << 30)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(exact.keySet === hashed.keySet)
    exact.foreach { case (id, (n, w)) =>
      assert(hashed(id)._1 === n)
      assert(math.abs(hashed(id)._2 - w) < 1e-9, s"doc $id hashed weight drifted")
    }
  }

  test("dsirResample: temperature 0 is argmax top-k; gumbel draw is deterministic") {
    // target-looking docs must be RARE in raw: DSIR scores the ratio of
    // target rate to raw rate, so a raw corpus saturated with the target
    // signature correctly scores it low
    val raw = Seq.tabulate(40)(i =>
      (i.toLong, if (i == 0 || i == 20) "alpha beta alpha beta"
      else s"filler$i other$i words$i here$i"))
      .toDF("doc_id", "text")
    val target = Seq.tabulate(3)(i => (100L + i, "alpha beta alpha beta"))
      .toDF("doc_id", "text")
    val argmax = Curation.dsirResample(raw, target, "text", "doc_id", k = 2, temperature = 0.0)
      .as[Long].collect().toSeq
    assert(argmax.toSet === Set(0L, 20L))
    val g1 = Curation.dsirResample(raw, target, "text", "doc_id", k = 10).as[Long].collect().toSeq
    val g2 = Curation.dsirResample(raw, target, "text", "doc_id", k = 10).as[Long].collect().toSeq
    assert(g1 === g2) // hash-derived gumbel noise replays exactly
    assert(g1.size === 10 && g1.toSet.subsetOf((0L until 40L).toSet))
  }
}
