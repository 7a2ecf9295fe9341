package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions.{col, concat_ws}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

class BpeTrainerSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // Sennrich et al.'s worked example: low×5, lower×2, newest×6, widest×3
  private def corpus = (
    Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
  ).zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")

  test("learns the textbook merge sequence with deterministic tie-breaks") {
    val merges = BpeTrainer.train(corpus, "text", numMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // (e,s), (es,t), (est,</w>) all count 9, ordered by pair asc;
    // then (l,o) and (lo,w) at 7
    assert(merges.toList == List(
      (0, "e", "s", 9L), (1, "es", "t", 9L), (2, "est", "</w>", 9L),
      (3, "l", "o", 7L), (4, "lo", "w", 7L)))
  }

  test("training stops early when no pairs remain") {
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    // "ab" → a b </w>: merges (a,b) then (ab,</w>) then nothing mergeable
    val merges = BpeTrainer.train(tiny, "text", numMerges = 10)
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(merges.toList == List(("a", "b"), ("ab", "</w>")))
  }

  test("bpeTokenCount applies merges per word occurrence") {
    val merges = Seq(("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w"))
    val docs = Seq((1L, "low newest"), (2L, "low low")).toDF("doc_id", "text")
    val got = BpeTrainer.bpeTokenCount(docs, "text", "doc_id", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // low → [low, </w>] = 2; newest → [n, e, w, est</w>] = 4
    assert(got == Map(1L -> 6L, 2L -> 4L))
  }

  test("contraction is left-to-right and non-overlapping") {
    // word "aaa" with merge (a,a): left-to-right gives [aa, a, </w>], not [a, aa]
    val docs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val got = BpeTrainer.bpeTokenCount(docs, "text", "doc_id", Seq(("a", "a")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L))
  }

  test("encode emits the textbook symbol sequences") {
    val merges = Seq(("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w"))
    val docs = Seq((1L, "low newest"), (2L, "widest"), (3L, "")).toDF("doc_id", "text")
    val got = BpeTrainer.encode(docs, "text", "doc_id", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(got(1L) == List("low", "</w>", "n", "e", "w", "est</w>"))
    assert(got(2L) == List("w", "i", "d", "est</w>"))
    assert(got(3L) == Nil) // token-less doc → empty symbol sequence
  }

  test("encode is min-rank ordered, left-to-right, non-overlapping") {
    // "aaa": merge (a,a) contracts left-to-right → [aa, a, </w>]
    val d1 = Seq((1L, "aaa")).toDF("doc_id", "text")
    val g1 = BpeTrainer.encode(d1, "text", "doc_id", Seq(("a", "a")))
      .collect().head.getSeq[String](1).toList
    assert(g1 == List("aa", "a", "</w>"))
    // min-rank order: ranks [(b,c), (a,b)] on "abc" — (b,c) wins even
    // though (a,b) is leftmost, then (a,bc) has no rank → [a, bc, </w>]
    val d2 = Seq((1L, "abc")).toDF("doc_id", "text")
    val g2 = BpeTrainer.encode(d2, "text", "doc_id", Seq(("b", "c"), ("a", "b")))
      .collect().head.getSeq[String](1).toList
    assert(g2 == List("a", "bc", "</w>"))
    // a merge creating a LATER-ranked pair is revisited: [(a,b),(ab,c)]
    // on "abc" → ab c → abc</w>? no — (ab,c) then (abc,</w>) unranked
    val g3 = BpeTrainer.encode(d2, "text", "doc_id", Seq(("a", "b"), ("ab", "c")))
      .collect().head.getSeq[String](1).toList
    assert(g3 == List("abc", "</w>"))
  }

  test("encode roundtrip is lossless: symbols reconstruct the token stream") {
    val docs = corpus
    val learned = BpeTrainer.train(docs, "text", numMerges = 5)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val rows = BpeTrainer.encode(docs, "text", "doc_id", learned)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).mkString("")
        .split("</w>", -1).dropRight(1).mkString(" ")).toMap
    val want = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == want)
  }

  test("encode symbol count matches the rank-order fold on trained merges") {
    val docs = (corpus.collect().map(r => (r.getLong(0), r.getString(1))) :+
      ((99L, "lowest newlow widelow"))).toSeq.toDF("doc_id", "text")
    val learned = BpeTrainer.train(docs, "text", numMerges = 6)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(BpeTrainer.encodeCountViolations(docs, "text", "doc_id", learned).isEmpty)
  }

  test("property: encode roundtrip is lossless under ARBITRARY merge lists") {
    // losslessness is invariant under ANY merge list (contraction preserves
    // concatenation), not just trained ones — random words over {a,b,c} and
    // random merges, including pairs that merge into/through the </w> marker
    val word = for {
      n <- Gen.choose(1, 8)
      s <- Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield s
    val sym = Gen.oneOf(word, word.map(_ + "</w>"))
    val mergeList = Gen.listOfN(6, Gen.zip(word, sym))
    val corpus = Gen.listOfN(8, Gen.listOfN(4, word).map(_.mkString(" ")))
    val p = Prop.forAll(corpus, mergeList) { (docs, merges) =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = BpeTrainer.encode(df, "text", "doc_id", merges)
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).mkString("")
          .split("</w>", -1).dropRight(1).mkString(" ")).toMap
      docs.zipWithIndex.forall { case (t, i) => got(i.toLong) == t }
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), p)
    assert(r.passed, r.status.toString)
  }

  test("trainFast learns the textbook sequence and matches train row-for-row") {
    val fast = BpeTrainer.trainFast(corpus, "text", numMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(fast.toList == List(
      (0, "e", "s", 9L), (1, "es", "t", 9L), (2, "est", "</w>", 9L),
      (3, "l", "o", 7L), (4, "lo", "w", 7L)))
    // equivalence on a richer, tie-heavy corpus (pseudo-random words over
    // a small alphabet force shared prefixes/suffixes and count ties —
    // the cases where the incremental bookkeeping or the lazy heap's
    // tie-break could drift from the distributed argmax)
    val rnd = new scala.util.Random(42)
    val rich = (0 until 400).map { i =>
      val w = (0 until (2 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      (i.toLong, s"$w ${w.reverse} ${if (i % 3 == 0) w else w + "x"}")
    }.toDF("doc_id", "text")
    assert(BpeTrainer.fastTrainViolations(rich, "text", numMerges = 30).isEmpty)
    // exhaustion parity: both stop at the same point short of numMerges
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    assert(BpeTrainer.fastTrainViolations(tiny, "text", numMerges = 10).isEmpty)
  }

  test("trainFast enforces the driver-memory bound and prunes with minCount") {
    val e = intercept[IllegalArgumentException] {
      BpeTrainer.trainFast(corpus, "text", numMerges = 2, maxWords = 2L)
    }
    assert(e.getMessage.contains("minCount"))
    // minCount prunes the tail BEFORE the bound check: low×5 newest×6
    // widest×3 survive minCount=3 (lower×2 dropped) → 3 words ≤ maxWords=3
    val merges = BpeTrainer.trainFast(corpus, "text", numMerges = 3,
      minCount = 3L, maxWords = 3L)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    // without "lower", (e,s)/(es,t)/(est,</w>) still lead at count 9
    assert(merges.toList == List(
      ("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L)))
  }

  test("trainFast sampling contract: trains past maxWords on a 1/n word sample, " +
      "bit-identical across partitionings, encode still total") {
    val wide = corpus.unionByName(
      (0 until 200).map(i => (100L + i, s"w${i}a w${i}b uniq$i")).toDF("doc_id", "text"))
    intercept[IllegalArgumentException](
      BpeTrainer.trainFast(wide, "text", numMerges = 3, maxWords = 150L))
    def mergesOf(df: org.apache.spark.sql.DataFrame): Seq[(Int, String, String, Long)] =
      BpeTrainer.trainFast(df, "text", numMerges = 3, maxWords = 150L,
        wordSample = 8)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val m1 = mergesOf(wide)
    val m2 = mergesOf(wide.repartition(7))
    assert(m1 === m2, "sampled training is not partitioning-independent")
    assert(m1.nonEmpty)
    // BPE coverage is merge-based — unmerged characters pass through, so a
    // sampled model still encodes EVERY word losslessly
    val got = BpeTrainer.encode(wide, "text", "doc_id", m1.map(t => (t._2, t._3)))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).mkString("")
        .split("</w>", -1).dropRight(1).mkString(" ")).toMap
    val want = wide.select(col("doc_id"),
        concat_ws(" ", TextOps.tokens(col("text"))))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === want, "sampled BPE model lost content on encode")
  }

  test("encode fails fast when a token contains the literal '</w>' marker") {
    // per-character symbols of such a token concatenate back into the
    // marker, making the flattened encoding ambiguous — raw HTML is the
    // realistic source. The encoder must refuse, not silently emit an
    // unreconstructable stream.
    val dirty = Seq((1L, "clean text"), (2L, "markup </w> inside"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      BpeTrainer.encode(dirty, "text", "doc_id", Seq(("a", "b"))).collect()
    }
    assert(e.getMessage.contains("</w>") ||
      Option(e.getCause).exists(_.getMessage.contains("</w>")))
    // screened input encodes fine
    val clean = dirty.filter(!$"text".contains("</w>"))
    assert(BpeTrainer.encode(clean, "text", "doc_id", Seq(("a", "b"))).count() == 1L)
  }

  test("writeModel/readModel roundtrip: the persisted artifact encodes identically") {
    val docs = Seq((1L, "low lower lowest low low newer newest new"),
      (2L, "wider wide widest new lower")).toDF("doc_id", "text")
    val trained = BpeTrainer.trainFast(docs, "text", numMerges = 6)
    val inMemory = trained.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val dir = graft.Fixtures.dir("bpemodel")
    dir.toFile.deleteOnExit()
    BpeTrainer.writeModel(trained, dir.toString)
    val loaded = BpeTrainer.readModel(spark, dir.toString)
    assert(loaded === inMemory)
    val a = BpeTrainer.encode(docs, "text", "doc_id", inMemory)
      .orderBy("doc_id").collect().map(_.getSeq[String](1))
    val b = BpeTrainer.encode(docs, "text", "doc_id", loaded)
      .orderBy("doc_id").collect().map(_.getSeq[String](1))
    assert(a.toSeq === b.toSeq)
  }

  test("mergeCountViolations: trained merges replay clean; a corrupted count is caught") {
    val docs = Seq((1L, "low low low lower lower newest newest newest newest widest"))
      .toDF("doc_id", "text")
    val learned = BpeTrainer.train(docs, "text", numMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(BpeTrainer.mergeCountViolations(docs, "text", learned).isEmpty)
    // corrupt one recorded count → exactly that merge rank is flagged
    val corrupted = learned.updated(2, learned(2).copy(_4 = learned(2)._4 + 1))
    val flagged = BpeTrainer.mergeCountViolations(docs, "text", corrupted).collect()
    assert(flagged.length == 1 && flagged.head.getInt(0) == learned(2)._1)
  }
}
