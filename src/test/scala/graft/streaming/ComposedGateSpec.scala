package graft.streaming

import graft.SparkTestBase
import graft.operators.{Dedup, TextClassifier, VersionedIvf, VersionedNearDup, VersionedSubstring}
import graft.queries.QueryFixtures.{composedOutputsHash, junkLabeled, landBatch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import ComposedGate.Stage._

/** The composed ingest gate over a stage list: stage semantics, cross-batch
  * suppression through every index, and replay identity across the whole
  * composition.
  */
class ComposedGateSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val textA = "the quick brown fox jumps over the lazy dog again today"
  private val textB = "spark catalyst expressions compile into tungsten generated bytecode stages"
  private val textC = "minhash banding buckets collide candidate pairs for jaccard verification"
  private val textD = "watermarks bound streaming state while sessions aggregate event gaps"

  private def e(axis: Int, lean: Float = 0f, leanAxis: Int = 1): Seq[Float] = {
    val v = Array.fill(4)(0f); v(axis) = 1f
    if (lean != 0f) v(leanAxis) += lean
    v.toSeq
  }

  private def row(id: Long, text: String, emb: Seq[Float]) = (id, text, emb)

  /** Stream `batches` through `stages` (one landed file per batch, in
    * order), then replay batch 1 through [[ComposedGate.ingestBatch]] and
    * assert every output table is unchanged. Value: the checkpoint dir.
    */
  private def streamThenReplay(stages: Seq[ComposedGate.Stage],
      batches: Seq[DataFrame]): String = {
    val landing = tmpDir("cgl")
    val ckpt = tmpDir("cgc")
    batches.zipWithIndex.foreach { case (b, k) =>
      landBatch(b, java.nio.file.Paths.get(landing), k)
    }
    ComposedGate.stream(
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing),
      "text", "embedding", "doc_id", stages, ckpt)
      .awaitTermination()
    val before = composedOutputsHash(spark, stages)
    ComposedGate.ingestBatch(batches(1), "text", "embedding", "doc_id", stages, 1L)
    assert(composedOutputsHash(spark, stages) === before)
    ckpt
  }

  private def ids(dir: String): Set[Long] =
    spark.read.parquet(dir).select("doc_id").as[Long].collect().toSet

  test("stage 1 drops text near-dups, stage 2 drops semantic near-dups, replay is identical") {
    val textIdx = tmpDir("cgt")
    val annIdx = tmpDir("cga")
    val base = Seq(row(1L, textA, e(0))).toDF("doc_id", "text", "embedding")
    VersionedNearDup.write(base.select("doc_id", "text"), "text", "doc_id",
      textIdx, shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2)
    VersionedIvf.write(base.select("doc_id", "embedding"), "embedding",
      "doc_id", Seq(e(0)), annIdx) // k = 1: one cluster, gate is exact
    val batches = Seq(
      Seq(row(10L, textA + " extra", e(2)),        // text near-dup of index doc 1
        row(11L, textB, e(0, lean = 0.05f)),       // novel text, cos≈1 vs doc 1 → sem-dropped
        row(12L, textC, e(1))),                    // kept
      Seq(row(20L, textC + " also", e(3)),         // text near-dup of 12 (earlier batch)
        row(21L, textD, e(1, lean = 0.05f, leanAxis = 2)), // sem near-dup of 12
        row(22L, "fresh tokens appear nowhere else in any corpus document", e(2)))) // kept
      .map(_.toDF("doc_id", "text", "embedding"))
    val stages = Seq(NearDup(textIdx, tmpDir("cgtk")),
      Semantic(annIdx, tmpDir("cgk"), threshold = 0.9, nprobe = 1))
    val ckpt = streamThenReplay(stages, batches)
    assert(ids(stages.head.outDir) === Set(11L, 12L, 21L, 22L)) // stage-1 survivors
    assert(ids(stages.last.outDir) === Set(12L, 22L))
    // checkpoint is clean → the commit-log guard permits maintenance on both
    graft.streaming.CommitLog.requireAllCommitted(spark, ckpt, "test")
    VersionedIvf.consolidate(spark, annIdx, checkpointDir = Some(ckpt))
    VersionedNearDup.consolidate(spark, textIdx, checkpointDir = Some(ckpt))
    assert(ids(stages.last.outDir) === Set(12L, 22L))
  }

  private def w(r: Range, tag: String): String = r.map(i => s"$tag$i").mkString(" ")
  private val boiler = w(0 until 10, "b")
  // in the vocabulary of QueryFixtures.junkText
  private val junk1 = "jnk6 zzq xxq jnk3 qqz jnky zzq jnk1"
  private val junk2 = "jnk2 zzq xxq jnk2 qqz jnky zzq jnk2"

  /** The planted substring → near-dup → semantic chain: indexes over one
    * base doc and two arrival batches whose drops land at known stages.
    * With `junk`, each batch also carries one junk-vocabulary doc that is
    * novel to every later stage. Value: (the three stages, batches).
    */
  private def plantedChain(junk: Boolean): (Seq[ComposedGate.Stage], Seq[DataFrame]) = {
    val substrIdx = tmpDir("c3s"); val textIdx = tmpDir("c3t"); val annIdx = tmpDir("c3a")
    val base = Seq(row(1L, s"$boiler ${w(0 until 6, "c")}", e(0)))
      .toDF("doc_id", "text", "embedding")
    VersionedSubstring.write(base.select("doc_id", "text"), "text", "doc_id",
      substrIdx, n = 4)
    // near-dup index over the substring-CLEANED base (what arrivals get)
    val cleanedBase = Dedup.substringClean(base.select("doc_id", "text"),
      "text", "doc_id", n = 4)
      .select(col("doc").as("doc_id"), col("cleaned_text").as("text"))
    VersionedNearDup.write(cleanedBase, "text", "doc_id", textIdx,
      shingleSize = 3, numer = 1, denom = 2, bands = 32, rowsPerBand = 2)
    VersionedIvf.write(base.select("doc_id", "embedding"), "embedding",
      "doc_id", Seq(e(0)), annIdx)
    val batches = Seq(
      Seq(
        row(10L, s"${w(0 until 3, "z")} $boiler", e(2)), // boiler cut → "z0 z1 z2", kept
        row(11L, boiler, e(1)),                          // pure boilerplate → stage-0 drop
        row(12L, w(0 until 10, "u"), e(0, lean = 0.05f))) ++ // novel text, sem-dup of base → stage-2 drop
        // novel everywhere downstream, and its vector would suppress 22
        (if (junk) Seq(row(13L, junk1, e(3))) else Nil),
      Seq(
        row(20L, s"${w(0 until 3, "z")} w0", e(3)),      // cleaned near-dup of 10's cleaned → stage-1 drop
        row(21L, w(0 until 8, "v"), e(2, lean = 0.05f, leanAxis = 3)), // sem-dup of 10 → stage-2 drop
        row(22L, s"${w(0 until 4, "f")} ${w(0 until 3, "z")} b0", e(3))) ++ // seen window cut, then kept
        (if (junk) Seq(row(23L, junk2, e(1))) else Nil)) // novel everywhere downstream
      .map(_.toDF("doc_id", "text", "embedding"))
    (Seq(Substring(substrIdx, tmpDir("c3cl")), NearDup(textIdx, tmpDir("c3tk")),
      Semantic(annIdx, tmpDir("c3k"), threshold = 0.9, nprobe = 1)), batches)
  }

  /** What each stage of [[plantedChain]] passes, the junk docs aside. */
  private def assertPlantedDrops(chain: Seq[ComposedGate.Stage]): Unit = {
    val Seq(substr, text, sem) = chain
    val cleaned = spark.read.parquet(substr.outDir).select("doc", "cleaned_text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned === Map(
      10L -> w(0 until 3, "z"), 12L -> w(0 until 10, "u"),
      20L -> s"${w(0 until 3, "z")} w0", 21L -> w(0 until 8, "v"),
      22L -> w(0 until 4, "f"))) // 11 fully boilerplate → gone at stage 0
    assert(ids(text.outDir) === Set(10L, 12L, 21L, 22L)) // 20 dropped as a CLEANED-text near-dup
    assert(ids(sem.outDir) === Set(10L, 22L)) // 12, 21 dropped semantically
  }

  test("three-stage gate: substring cut feeds near-dup, near-dup feeds semantic; " +
      "per-stage drops land where planted; replay identical") {
    val (stages, batches) = plantedChain(junk = false)
    streamThenReplay(stages, batches)
    assertPlantedDrops(stages)
  }

  test("four-stage gate: the quality stage drops planted junk before the substring, " +
      "near-dup and semantic stages; replay identical across all seven output tables") {
    val (chain, batches) = plantedChain(junk = true)
    val junkIds = Set(13L, 23L)
    // the arrivals' own texts as the reference class, one junk doc each
    val model = TextClassifier.train(
      junkLabeled(batches.reduce(_ union _).filter(!col("doc_id").isin(junkIds.toSeq: _*)), 1000L),
      "text", "doc_id", "label", numBuckets = 1 << 10, iterations = 30)
    val stages = Quality(model, 1 << 10, tmpDir("c4q")) +: chain
    streamThenReplay(stages, batches)
    assert(composedOutputsHash(spark, stages).size === 7)
    assert(ids(stages.head.outDir) === Set(10L, 11L, 12L, 20L, 21L, 22L))
    assertPlantedDrops(chain)
  }
}
