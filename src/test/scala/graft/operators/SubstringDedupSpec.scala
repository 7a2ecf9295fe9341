package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exact substring dedup (ExactSubstr at token granularity): handcrafted
  * boundary fixtures plus the hash ≡ string contract that lets the hashed
  * production path share the string-semantics DuckDB oracle.
  */
class SubstringDedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def toks(ws: Range, tag: String): String =
    ws.map(i => s"$tag$i").mkString(" ")

  // a 10-token boilerplate run planted in three docs at different offsets,
  // surrounded by doc-unique filler; doc 30 is an exact full copy of doc 10
  private val boiler = toks(0 until 10, "b")
  private val fixture = Seq(
    (10L, s"${toks(0 until 5, "x")} $boiler ${toks(0 until 5, "y")}"),
    (20L, s"${toks(0 until 3, "z")} $boiler ${toks(0 until 7, "w")}"),
    (30L, s"${toks(0 until 5, "x")} $boiler ${toks(0 until 5, "y")}"),
    (40L, toks(0 until 20, "u"))
  ).toDF("doc_id", "text")

  private def spanSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("removed spans: keep-first policy, offset-shifted copies, exact boundaries") {
    val spans = spanSet(Dedup.substringRemovedSpans(fixture, "text", "doc_id", n = 4))
    // doc 10 holds the globally-first occurrence of every duplicated
    // window → nothing removed from it; doc 20's copy of the boilerplate
    // sits at token 3, all 10 tokens covered (windows merge into ONE
    // maximal span — not 7 window-sized fragments); doc 30 is an exact
    // copy of doc 10 → removed wholesale (substring dedup subsumes exact
    // dedup); doc 40 untouched
    assert(spans === Set((20L, 3L, 10L), (30L, 0L, 20L)))
  }

  test("within-doc repetition is cut after its first occurrence") {
    val rep = Seq((1L, s"$boiler ${toks(0 until 4, "q")} $boiler")).toDF("doc_id", "text")
    val spans = spanSet(Dedup.substringRemovedSpans(rep, "text", "doc_id", n = 4))
    assert(spans === Set((1L, 14L, 10L)))
    val cleaned = Dedup.substringClean(rep, "text", "doc_id", n = 4)
      .select("cleaned_text").as[String].collect()
    assert(cleaned.toSeq === Seq(s"$boiler ${toks(0 until 4, "q")}"))
  }

  test("clean face: cuts applied, firsts intact, full duplicates drop, whitespace normalized") {
    val cleaned = Dedup.substringClean(fixture, "text", "doc_id", n = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned.keySet === Set(10L, 20L, 40L)) // 30 = exact dup, dropped
    assert(cleaned(10L) === s"${toks(0 until 5, "x")} $boiler ${toks(0 until 5, "y")}")
    assert(cleaned(20L) === s"${toks(0 until 3, "z")} ${toks(0 until 7, "w")}")
    assert(cleaned(40L) === toks(0 until 20, "u"))
    // whitespace-normalized rebuild: tabs/runs collapse to single spaces
    val messy = Seq((1L, "a\t b   c \n d")).toDF("doc_id", "text")
    assert(Dedup.substringClean(messy, "text", "doc_id", n = 4)
      .select("cleaned_text").as[String].collect().toSeq === Seq("a b c d"))
  }

  test("short docs (< n tokens) emit no windows and survive cleaning intact") {
    val shorties = Seq((1L, "one two three"), (2L, "one two three")).toDF("doc_id", "text")
    assert(Dedup.substringRemovedSpans(shorties, "text", "doc_id", n = 4).count() === 0)
    val kept = Dedup.substringClean(shorties, "text", "doc_id", n = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept === Map(1L -> "one two three", 2L -> "one two three"))
  }

  test("incremental face ≡ one-shot spans restricted to the batch (fixture + harness corpus)") {
    def incremental(docs: DataFrame, split: Long, n: Int): Set[(Long, Long, Long)] =
      spanSet(Dedup.substringSpansAgainstManifest(
        docs.filter(col("doc_id") >= split),
        Dedup.substringWindowManifest(docs.filter(col("doc_id") < split), "text", "doc_id", n),
        "text", "doc_id", n))
    def oneShotBatch(docs: DataFrame, split: Long, n: Int): Set[(Long, Long, Long)] =
      spanSet(Dedup.substringRemovedSpans(docs, "text", "doc_id", n)
        .filter(col("doc") >= split))
    // fixture split between the boilerplate carriers: docs 10/20 are
    // corpus, 30 (exact copy of 10) and 40 arrive later
    assert(incremental(fixture, 25L, 4) === oneShotBatch(fixture, 25L, 4))
    // a batch-only duplicated window (keep-first WITHIN the batch) plus a
    // corpus-seen window in the same doc — the two cut sets must compose
    val mixed = Seq(
      (1L, s"$boiler ${toks(0 until 6, "c")}"),
      (50L, s"${toks(0 until 3, "m")} $boiler ${toks(0 until 4, "bb")}"),
      (51L, s"${toks(0 until 4, "bb")} ${toks(0 until 3, "mm")}")
    ).toDF("doc_id", "text")
    assert(incremental(mixed, 40L, 4) === oneShotBatch(mixed, 40L, 4))
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = graft.Tables(spark, dir, "documents")
    assert(incremental(docs, 25L, 8) === oneShotBatch(docs, 25L, 8))
  }

  test("window manifest grows by union and is replay-idempotent") {
    val m1 = Dedup.substringWindowManifest(
      fixture.filter(col("doc_id") <= 20), "text", "doc_id", n = 4)
    val m2 = Dedup.substringWindowManifest(
      fixture.filter(col("doc_id") > 20), "text", "doc_id", n = 4)
    val grown = m1.unionByName(m2).distinct()
    val whole = Dedup.substringWindowManifest(fixture, "text", "doc_id", n = 4)
    assert(grown.exceptAll(whole).count() === 0 && whole.exceptAll(grown).count() === 0)
    // replaying a batch union changes nothing
    val replayed = grown.unionByName(m2).distinct()
    assert(replayed.count() === grown.count())
  }

  private def gate(batch: DataFrame, idx: String, clean: String, id: Long): Unit =
    VersionedSubstring.gateBatch(batch, "text", "doc_id", idx, clean, id)

  private def cleanedMap(dir: String): Map[Long, String] =
    spark.read.parquet(dir).select("doc", "cleaned_text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("substring gate across batches ≡ one-shot pipeline; params pinned by the index") {
    val idx = tmpDir("ssidx")
    val clean = tmpDir("ssclean")
    val corpus = Seq((10L, s"${toks(0 until 5, "x")} $boiler ${toks(0 until 5, "y")}"))
      .toDF("doc_id", "text")
    VersionedSubstring.write(corpus, "text", "doc_id", idx, n = 4)
    assert(VersionedSubstring.readParams(spark, idx) === 4)
    // batch 0: a doc re-pasting the boilerplate (cut), one novel doc;
    // batch 1: a doc duplicating batch 0's novel text (cut against the
    // GATE-GROWN index, not just the base build)
    val b0 = Seq(
      (20L, s"${toks(0 until 3, "z")} $boiler"),
      (21L, toks(0 until 12, "n"))).toDF("doc_id", "text")
    val b1 = Seq(
      (30L, s"${toks(0 until 12, "n")} ${toks(0 until 3, "q")}"),
      (31L, toks(0 until 6, "v"))).toDF("doc_id", "text")
    gate(b0, idx, clean, 0L)
    gate(b1, idx, clean, 1L)
    val got = cleanedMap(clean)
    val oneShot = Dedup.substringClean(
      corpus.unionByName(b0).unionByName(b1), "text", "doc_id", n = 4)
      .filter(col("doc") >= 20L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === oneShot)
    assert(got(20L) === toks(0 until 3, "z")) // boilerplate cut
    assert(got(30L) === toks(0 until 3, "q")) // batch-0 text cut
  }

  test("substring gate replay leaves clean table and manifest content-identical; " +
      "an all-duplicate batch adds nothing") {
    val idx = tmpDir("ssidx")
    val clean = tmpDir("ssclean")
    val corpus = Seq((10L, s"$boiler ${toks(0 until 6, "c")}")).toDF("doc_id", "text")
    VersionedSubstring.write(corpus, "text", "doc_id", idx, n = 4)
    val b0 = Seq((20L, toks(0 until 10, "k"))).toDF("doc_id", "text")
    gate(b0, idx, clean, 0L)
    def snap(): (Map[Long, String], Long, Long) = {
      val m = VersionedSubstring.manifest(spark, idx)
      (cleanedMap(clean), m.count(),
        m.agg(sum(hash(col("h1"), col("h2")).cast("long")))
          .head.getLong(0))
    }
    // an ALL-DUPLICATE batch: every window already seen → no cleaned rows
    // land, no manifest keys append
    val before = snap()
    gate(Seq((40L, boiler)).toDF("doc_id", "text"), idx, clean, 1L)
    val afterDup = snap()
    assert(afterDup === before, "all-duplicate batch must be a physical no-op")
    // replaying batch 0 after batch 1 ran: content-identical
    gate(b0, idx, clean, 0L)
    assert(snap() === before)
  }

  test("streaming substring gate over mod-time-ordered files equals sequential batches") {
    val idx = tmpDir("ssidx"); val idxSeq = tmpDir("ssidxq")
    val cleanStream = tmpDir("sscls"); val cleanSeq = tmpDir("ssclq")
    val landing = tmpDir("ssland"); val ckpt = tmpDir("ssckpt")
    val corpus = Seq((1L, s"$boiler ${toks(0 until 6, "c")}")).toDF("doc_id", "text")
    VersionedSubstring.write(corpus, "text", "doc_id", idx, n = 4)
    VersionedSubstring.write(corpus, "text", "doc_id", idxSeq, n = 4)
    val batches = Seq(
      Seq((10L, s"$boiler ${toks(0 until 4, "p")}"), (11L, toks(0 until 9, "w"))),
      Seq((20L, s"${toks(0 until 9, "w")} tailA tailB tailC tailD"), (21L, toks(0 until 5, "r"))))
      .map(_.toDF("doc_id", "text"))
    batches.zipWithIndex.foreach { case (b, k) =>
      graft.queries.QueryFixtures.landBatch(b, java.nio.file.Paths.get(landing), k)
    }
    VersionedSubstring.streamGate(
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      "text", "doc_id", idx, cleanStream, ckpt)
      .awaitTermination()
    batches.zipWithIndex.foreach { case (b, k) => gate(b, idxSeq, cleanSeq, k.toLong) }
    assert(cleanedMap(cleanStream) === cleanedMap(cleanSeq))
    // doc 20's copy of batch-0 text is cut through the stream too
    assert(cleanedMap(cleanStream)(20L) === "tailA tailB tailC tailD")
  }

  test("hashed production path ≡ string-keyed brute on the harness corpus " +
      "(d_substr_spans oracle validity)") {
    // the DuckDB oracle computes spans from window STRINGS; the production
    // path keys on two independent xxhash64s — equal outputs on the gate's
    // actual corpus pin the hash path to the string semantics
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = graft.Tables(spark, dir, "documents")
    val hashed = spanSet(Dedup.substringRemovedSpans(docs, "text", "doc_id", n = 8))
    val brute = spanSet(Dedup.substringRemovedSpansBrute(docs, "text", "doc_id", n = 8))
    assert(hashed === brute)
    val fx = spanSet(Dedup.substringRemovedSpans(fixture, "text", "doc_id", n = 4))
    assert(fx === spanSet(Dedup.substringRemovedSpansBrute(fixture, "text", "doc_id", n = 4)))
  }

  test("decontamination cuts benchmark-overlapping spans only — no within-corpus dedup") {
    import spark.implicits._
    val benchmark = Seq(
      (100L, "the quick brown fox jumps over lazy dogs")).toDF("doc_id", "text")
    val corpus = Seq(
      // leaks the benchmark's full 8-token window, plus a unique tail
      (1L, "intro words the quick brown fox jumps over lazy dogs ending here now"),
      // self-duplicate pair: must NOT be cut (decontamination ignores
      // within-corpus repeats — that's substringRemovedSpans' job)
      (2L, "aa bb cc dd ee ff gg hh unique2"),
      (3L, "aa bb cc dd ee ff gg hh unique3")).toDF("doc_id", "text")
    val cleaned = Dedup.decontaminate(corpus, benchmark, "text", "doc_id", n = 8)
      .as[(Long, String)].collect().toMap
    assert(cleaned(1L) === "intro words ending here now")
    assert(cleaned(2L) === "aa bb cc dd ee ff gg hh unique2")
    assert(cleaned(3L) === "aa bb cc dd ee ff gg hh unique3")
    // a fully-leaked doc drops
    val leaked = Seq((9L, "the quick brown fox jumps over lazy dogs")).toDF("doc_id", "text")
    assert(Dedup.decontaminate(leaked, benchmark, "text", "doc_id", n = 8).isEmpty)
  }
}
