package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite with SparkTestBase {
  import Multimodal._
  import spark.implicits._

  private def media(id: Long, kind: String, seed: Int): MediaFile =
    MediaFile(id, kind, Array.tabulate(256)(i => ((i * seed + id) & 0xff).toByte),
      Map("source" -> "test"))

  private val fixture = Seq(
    media(1, "image", 3), media(2, "image", 5),
    media(3, "audio", 7), media(4, "video", 11), media(5, "video", 13))

  test("feature extraction: schema, envelope fields, deterministic features") {
    val ds = fixture.toDS()
    val feats = extractFeatures(ds, dim = 8, batchSize = 2).collect().sortBy(_.media_id)
    assert(feats.length == 5)
    assert(feats.forall(_.features.length == 8))
    val img = feats.find(_.media_id == 1L).get
    assert(img.width > 0 && img.height > 0 && img.duration_ms == 0L)
    val aud = feats.find(_.media_id == 3L).get
    assert(aud.width == 0 && aud.duration_ms > 0L)
    // deterministic: same payload → same features
    val again = extractFeatures(ds, dim = 8, batchSize = 64).collect().sortBy(_.media_id)
    assert(feats.map(_.features.toSeq).toSeq == again.map(_.features.toSeq).toSeq)
  }

  test("mapPartitions keeps partitioning: no shuffle in the decode plan") {
    val ds = fixture.toDS().repartition(3)
    val feats = extractFeatures(ds)
    val plan = feats.queryExecution.executedPlan.toString
    assert(feats.rdd.getNumPartitions == 3)
    assert(!plan.contains("Exchange hashpartitioning")) // only the explicit repartition
  }

  test("repartitionForDecode sizes by row count") {
    val ds = fixture.toDS()
    assert(repartitionForDecode(ds, totalRows = 5, rowsPerPartition = 2).rdd.getNumPartitions == 2)
  }

  test("resize touches only images and stamps metadata") {
    val out = resizeImages(fixture.toDS(), 128, 128).collect().sortBy(_.media_id)
    assert(out.filter(_.kind == "image").forall(_.meta.get("resized").contains("128x128")))
    assert(out.filter(_.kind != "image").forall(!_.meta.contains("resized")))
    assert(out.find(_.media_id == 3L).get.bytes.length == 256) // non-image untouched
  }

  test("frame sampling: only videos, bounded fan-out, even stride") {
    val frames = sampleFrames(fixture.toDS(), maxFrames = 4).collect()
    assert(frames.nonEmpty)
    assert(frames.map(_.media_id).toSet.subsetOf(Set(4L, 5L)))
    frames.groupBy(_.media_id).values.foreach { fs =>
      assert(fs.length <= 4)
      val byIdx = fs.sortBy(_.frame_idx)
      assert(byIdx.map(_.frame_idx).toSeq == (0 until fs.length))
      assert(byIdx.map(_.ts_ms).toSeq == byIdx.map(_.ts_ms).sorted.toSeq)
    }
  }

  test("feature frame plugs into the ANN operator") {
    val ff = featureFrame(extractFeatures(fixture.toDS(), dim = 8))
    val top = Similarity.bruteForceTopK(
      ff.filter($"media_id" === 1L).select($"media_id".as("vec_id"), $"embedding"),
      ff.select($"media_id".as("vec_id"), $"embedding"),
      "embedding", "vec_id", k = 2)
    assert(top.count() == 2)
  }

  test("image dedup composition: luminance embeddings feed embeddingDuplicatePairs") {
    import spark.implicits._
    // ids 1 and 2 carry the SAME image bytes (a re-uploaded duplicate);
    // 3 and 4 are genuinely different synthetic PNGs
    val png = syntheticPngCorpus(Seq(7L).map(java.lang.Long.valueOf).toDS())
      .collect().head.bytes
    val corpus = (syntheticPngCorpus(Seq(3L, 4L).map(java.lang.Long.valueOf).toDS()).collect().toSeq ++
      Seq(MediaFile(1L, "image", png, Map()), MediaFile(2L, "image", png, Map()))).toDS()
    val emb = featureFrame(extractFeatures(corpus, dim = 16))
      .select($"media_id".as("vec_id"), $"embedding")
    val pairs = Dedup.embeddingDuplicatePairs(emb, "embedding", "vec_id",
      threshold = 0.999, planes = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // identical images → cosine 1 across the real decode; the two distinct
    // synthetic PNGs pair with nothing at a 0.999 threshold
    assert(pairs == Set((1L, 2L)))
  }

  test("real PNG: imageio decode yields true dims, resize re-encodes, features are luminance") {
    // a real 10×6 PNG with known pixels
    val img = new java.awt.image.BufferedImage(10, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 6).foreach(y => (0 until 10).foreach(x => img.setRGB(x, y, 0xffffff))) // all white
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray

    assert(Codecs.imageDims(png) == ((10, 6))) // real decode, not the hash fake
    val resized = Codecs.resize(png, 5, 3)
    assert(Codecs.imageDims(resized) == ((5, 3))) // output is itself a decodable PNG
    // all-white image → every luminance-grid feature saturates at +1
    assert(Codecs.features(png, 9).forall(f => math.abs(f - 1.0f) < 1e-3))

    // end-to-end through the Dataset transform
    val feats = extractFeatures(Seq(MediaFile(1L, "image", png, Map())).toDS(), dim = 4).collect()
    assert(feats.head.width == 10 && feats.head.height == 6)
  }

  test("synthetic PNG corpus: real decodable images with id-derived dims") {
    val ids = Seq(0L, 1L, 5L, 12L).map(java.lang.Long.valueOf).toDS()
    val corpus = syntheticPngCorpus(ids).collect().sortBy(_.media_id)
    assert(corpus.length == 4)
    corpus.foreach { m =>
      val expected = (4 + (m.media_id % 13).toInt, 4 + (m.media_id % 7).toInt)
      assert(Codecs.imageDims(m.bytes) == expected)
    }
  }

  test("real WAV: javax.sound decode yields exact duration and energy features") {
    val ids = Seq(0L, 7L, 399L, 400L, 1234L).map(java.lang.Long.valueOf).toDS()
    val feats = extractFeatures(syntheticWavCorpus(ids), dim = 8).collect()
      .map(f => f.media_id -> f).toMap
    ids.collect().map(_.longValue()).foreach { id =>
      val f = feats(id)
      assert(f.kind == "audio" && f.width == 0 && f.height == 0)
      assert(f.duration_ms == 100L + id % 400L) // real decode recovers the envelope
      assert(f.n_bytes > 44L)                   // WAV header + payload
      // a steady sine's RMS is flat across time cells and far from the
      // fake-feature distribution: every cell ≈ 2*(A/√2)-1 with A≈0.366
      assert(f.features.length == 8)
      assert(f.features.forall(v => math.abs(v - (2 * 12000.0 / 32768.0 / math.sqrt(2) - 1)) < 0.05))
    }
    // distinct durations → distinct payload sizes (100 ms vs 107 ms)
    assert(feats(0L).n_bytes != feats(7L).n_bytes)
  }

  test("decodeAudio handles stereo and 8-bit WAVs via PCM16 conversion") {
    def wav(fmt: javax.sound.sampled.AudioFormat, pcm: Array[Byte], frames: Long): Array[Byte] = {
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // stereo PCM16: L = +8000, R = -8000 constant → mono mix ≈ 0
    val nSt = 800
    val st = new Array[Byte](nSt * 4)
    (0 until nSt).foreach { i =>
      st(4 * i) = (8000 & 0xff).toByte; st(4 * i + 1) = ((8000 >> 8) & 0xff).toByte
      st(4 * i + 2) = (-8000 & 0xff).toByte; st(4 * i + 3) = ((-8000 >> 8) & 0xff).toByte
    }
    val stereo = Codecs.decodeAudio(wav(
      new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false), st, nSt.toLong)).get
    assert(stereo.channels == 2 && stereo.durationMs == 100L)
    assert(stereo.samples.forall(s => math.abs(s) < 1e-3))
    // 8-bit unsigned mono at midpoint (128) → silence after conversion
    val n8 = 400
    val b8 = Array.fill(n8)(128.toByte)
    val eight = Codecs.decodeAudio(wav(
      new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED, 8000f, 8, 1, 1, 8000f, false),
      b8, n8.toLong)).get
    assert(eight.durationMs == 50L)
    assert(eight.samples.forall(s => math.abs(s) < 0.02))
  }

  test("decodeAudio rejects non-audio payloads (falls back to fakes in extract)") {
    assert(Codecs.decodeAudio(Array.tabulate(128)(_.toByte)).isEmpty)
    val junk = Seq(media(30, "audio", 17)).toDS()
    val f = extractFeatures(junk, dim = 4).collect().head
    assert(f.duration_ms == Codecs.durationMs(junk.collect().head.bytes)) // fake path
  }

  test("perceptual hash: twins at dist 0, brightness variant near, noise far") {
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 32).foreach(y => (0 until 32).foreach(x => img.setRGB(x, y, f(x, y))))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def grey(v: Int) = (v << 16) | (v << 8) | v
    // left-dark/right-bright gradient; a mildly brightened variant keeps the
    // same above/below-mean structure; checkerboard noise does not
    val grad = png((x, _) => grey(x * 8))
    val bright = png((x, _) => grey(math.min(255, x * 8 + 12)))
    val noise = png((x, y) => grey(if ((x + y) % 2 == 0) 0 else 255))
    val corpus = Seq(
      MediaFile(1L, "image", grad, Map()), MediaFile(2L, "image", grad, Map()),
      MediaFile(3L, "image", bright, Map()), MediaFile(4L, "image", noise, Map())
    ).toDS()
    val feats = featureFrame(extractFeatures(corpus, dim = 64))
    val hashed = withPHash(feats).select(col("media_id"), col("phash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashed(1L) == hashed(2L)) // identical bytes → identical hash
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hashed(1L), hashed(3L)) <= 3, "brightness variant should be near")
    assert(ham(hashed(1L), hashed(4L)) > 10, "checkerboard should be far")

    val pairs = imageNearDupPairs(feats, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 2L, 0)))
    assert(pairs.exists(p => Set(p._1, p._2) == Set(1L, 3L)))
    assert(!pairs.exists(p => Set(p._1, p._2).contains(4L)))
  }

  test("binaryFile source round-trip: real extensions map to canonical kinds, payload intact") {
    val dir = graft.Fixtures.dir("media")
    val payload = Array.tabulate(64)(_.toByte)
    java.nio.file.Files.write(dir.resolve("a.jpg"), payload)
    java.nio.file.Files.write(dir.resolve("b.mp3"), payload.map(b => (b + 1).toByte))
    java.nio.file.Files.write(dir.resolve("c.mp4"), payload.map(b => (b + 2).toByte))
    java.nio.file.Files.write(dir.resolve("d.txt"), payload)
    val ds = readMediaDir(spark, dir.toString).collect().sortBy(_.kind)
    assert(ds.map(_.kind).toSeq == Seq("audio", "image", "other", "video"))
    assert(ds.find(_.kind == "image").get.bytes.toSeq == payload.toSeq)
    assert(ds.forall(_.meta.contains("path")))
    // canonical kinds dispatch in downstream transforms
    import spark.implicits._
    val feats = extractFeatures(Seq(
      MediaFile(1, "image", payload, Map()),
      MediaFile(2, "jpg", payload, Map())).toDS()).collect()
    assert(feats.find(_.media_id == 1).get.width > 0)
  }

  test("real AVI: writer→decodeVideo round trip recovers envelope and JPEG frames") {
    val vids = syntheticAviCorpus(
      spark.createDataset((0L until 16L).map(java.lang.Long.valueOf)),
      fps = 2, maxFramesPerVideo = 8).collect()
    vids.foreach { m =>
      val clip = Codecs.decodeVideo(m.bytes)
        .getOrElse(fail(s"AVI for id ${m.media_id} did not parse"))
      val id = m.media_id
      assert(clip.frames.length == 1 + (id % 8).toInt, "frame count from container")
      assert(clip.width == 8 + 2 * (id % 5).toInt && clip.height == 8 + 2 * (id % 3).toInt)
      assert(clip.usPerFrame == 500000L)
      assert(clip.durationMs == (1 + id % 8) * 500L)
      // every MJPEG frame is a standalone JPEG for the real imageio decode
      clip.frames.zipWithIndex.foreach { case (jpeg, i) =>
        val img = Codecs.decodeImage(jpeg).getOrElse(fail(s"frame $i not a JPEG"))
        assert(img.getWidth == clip.width && img.getHeight == clip.height)
      }
    }
    // non-AVI bytes stay on the deterministic stub path
    assert(Codecs.decodeVideo(Array.tabulate(64)(_.toByte)).isEmpty)
  }

  test("sampleFrames on real AVIs: id-derived count, stride, and real frame payloads") {
    val ds = syntheticAviCorpus(
      spark.createDataset((0L until 32L).map(java.lang.Long.valueOf)),
      fps = 2, maxFramesPerVideo = 8)
    val frames = sampleFrames(ds, maxFrames = 4).collect().groupBy(_.media_id)
    (0L until 32L).foreach { id =>
      val dur = (1 + id % 8) * 500L
      val n = math.min(4L, math.max(1L, dur / 1000L)).toInt
      val fs = frames(id).sortBy(_.frame_idx)
      assert(fs.length == n, s"id $id: expected $n samples")
      assert(fs.map(_.ts_ms).toSeq == (0 until n).map(_ * (dur / n)))
      // payloads are the container's actual JPEG frames, not stub bytes
      fs.foreach(f => assert(Codecs.decodeImage(f.pixels).isDefined))
    }
  }

  test("extractFeatures on real AVI: envelope from container, features from first frame") {
    val ds = syntheticAviCorpus(
      spark.createDataset(Seq(java.lang.Long.valueOf(7L))), fps = 2, maxFramesPerVideo = 8)
    val f = extractFeatures(ds, dim = 16).collect().head
    assert(f.kind == "video")
    assert(f.width == 8 + 2 * (7 % 5) && f.height == 8 + 2 * (7 % 3))
    assert(f.duration_ms == (1 + 7 % 8) * 500L)
    assert(f.features.length == 16 && f.features.forall(v => v >= -1.0f && v <= 1.0f))
  }

  test("decodeVideo: hostile chunk sizes bail (no hang); audio-stream strf never becomes dims") {
    def le32(v: Long) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def cc(s: String) = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    def chunk(id: String, body: Array[Byte]) = cc(id) ++ le32(body.length.toLong) ++ body ++
      (if (body.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
    def lst(t: String, body: Array[Byte]) = chunk("LIST", cc(t) ++ body)

    // a chunk size of 0xFFFFFFF8 (-8 as Int) makes the walk offset stand
    // still — without the negative-size guard this call never returns
    val hostile = cc("RIFF") ++ le32(100L) ++ cc("AVI ") ++
      cc("junk") ++ le32(0xFFFFFFF8L) ++ Array.fill(88)(0.toByte)
    assert(Codecs.decodeVideo(hostile).isEmpty)

    // audio strl FIRST (a WAVEFORMATEX strf: 44100 samples/sec at the
    // offset where BITMAPINFOHEADER keeps biWidth) then the video strl —
    // last-wins/any-wins strf parsing would report 44100 × 176400 "dims"
    val img = new java.awt.image.BufferedImage(10, 6,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jpeg = bos.toByteArray
    val avih = chunk("avih", le32(500000L) ++ Array.fill(13)(le32(0L)).flatten)
    val strhAud = chunk("strh", cc("auds") ++ Array.fill(52)(0.toByte))
    val strfAud = chunk("strf", le16(1) ++ le16(1) ++ le32(44100L) ++ le32(176400L) ++
      le16(2) ++ le16(16))
    val strhVid = chunk("strh", cc("vids") ++ cc("MJPG") ++ Array.fill(48)(0.toByte))
    val strfVid = chunk("strf", le32(40L) ++ le32(10L) ++ le32(6L) ++ le16(1) ++ le16(24) ++
      cc("MJPG") ++ le32(180L) ++ Array.fill(4)(le32(0L)).flatten)
    val hdrl = lst("hdrl", avih ++ lst("strl", strhAud ++ strfAud) ++ lst("strl", strhVid ++ strfVid))
    // stream numbers follow strl order: audio is stream 00, video stream 01.
    // The movi list interleaves an audio chunk (00wb), a stray pre-header-
    // style video-numbered blob from a THIRD stream id (02dc), and the real
    // video frame (01dc) — only the 01dc frame may land in the clip
    val movi = lst("movi", chunk("00wb", Array.fill(64)(7.toByte)) ++
      chunk("02dc", Array.fill(16)(9.toByte)) ++ chunk("01dc", jpeg))
    val body = cc("AVI ") ++ hdrl ++ movi
    val avi = cc("RIFF") ++ le32(body.length.toLong) ++ body
    val clip = Codecs.decodeVideo(avi).getOrElse(fail("two-stream AVI did not parse"))
    assert(clip.width == 10 && clip.height == 6, s"got ${clip.width}x${clip.height}")
    assert(clip.frames.length == 1, "only the video stream's own NNdc chunks belong in the clip")
    assert(java.util.Arrays.equals(clip.frames(0), jpeg))

    // frame chunks BEFORE any strh (crafted input: no stream is established
    // yet) are dropped, not misattributed — no frames ⇒ None
    val headerless = cc("AVI ") ++ lst("movi", chunk("00dc", jpeg)) ++ hdrl
    val avi2 = cc("RIFF") ++ le32(headerless.length.toLong) ++ headerless
    assert(Codecs.decodeVideo(avi2).isEmpty,
      "frames preceding the stream headers must not fold into a clip")

    // deep LIST nesting must end in None, not StackOverflowError (an Error
    // escapes the Exception catch and kills the executor task)
    val depth = 100000
    val inner = Array.fill(8)(0.toByte)
    val nested = new java.io.ByteArrayOutputStream()
    nested.write(cc("RIFF")); nested.write(le32((depth * 12 + 4 + inner.length).toLong))
    nested.write(cc("AVI "))
    (0 until depth).foreach { i =>
      nested.write(cc("LIST"))
      nested.write(le32(((depth - i - 1) * 12 + 4 + inner.length).toLong))
      nested.write(cc("hdrl"))
    }
    nested.write(inner)
    assert(Codecs.decodeVideo(nested.toByteArray).isEmpty)

    // a TRUNCATED download still salvages every complete frame before the
    // cut (the scraped-corpus reality); the half-frame tail is dropped
    val multi = syntheticAviCorpus(
      spark.createDataset(Seq(java.lang.Long.valueOf(7L))),
      fps = 2, maxFramesPerVideo = 8).collect().head
    val full = Codecs.decodeVideo(multi.bytes).get
    assert(full.frames.length == 8)
    val cut = java.util.Arrays.copyOfRange(multi.bytes, 0,
      multi.bytes.length - full.frames.last.length / 2)
    val salvaged = Codecs.decodeVideo(cut).getOrElse(fail("truncated AVI should still parse"))
    assert(salvaged.frames.length == 7, s"salvaged ${salvaged.frames.length} of 7 complete frames")
  }

  test("shotBoundaries recovers exactly the planted cut, nothing else") {
    import spark.implicits._
    val ids = spark.createDataset(Seq(3L, 10L, 14L).map(java.lang.Long.valueOf))
    val got = shotBoundaries(syntheticShotAviCorpus(ids, framesPerVideo = 8), threshold = 0.5)
      .as[(Long, Int)].collect().toSet
    // cut at 1 + id % 7
    assert(got == Set((3L, 4), (10L, 4), (14L, 1)))
  }

  test("shotBoundaries: a constant-scene video has no boundaries; JPEG noise stays under threshold") {
    import spark.implicits._
    // id % 7 == 6 puts the cut at index 7 — the LAST frame, so frames 0-6
    // are one scene; use a 7-frame video instead: all frames one scene
    val ids = spark.createDataset(Seq(java.lang.Long.valueOf(21L)))
    val media = syntheticShotAviCorpus(ids, framesPerVideo = 2)
    // framesPerVideo=2, cut = 1 + 21 % 1 = 1 → one boundary at idx 1
    assert(shotBoundaries(media, threshold = 0.5).count() == 1)
    // with an absurd threshold nothing fires — JPEG round-trip noise on
    // solid frames never reaches a real cut's magnitude
    assert(shotBoundaries(media, threshold = 5.0).count() == 0)
  }

  test("audioSegments recovers exactly the planted gap segments") {
    import spark.implicits._
    val ids = spark.createDataset(Seq(0L, 5L).map(java.lang.Long.valueOf))
    val got = audioSegments(syntheticGapWavCorpus(ids), windowMs = 50, rmsThreshold = 0.1)
      .as[(Long, Int, Int, Int)].collect().toSet
    // gap window g = 6 + id % 4, gap spans 4 windows, 20 windows total
    assert(got == Set(
      (0L, 0, 0, 6), (0L, 1, 10, 20),
      (5L, 0, 0, 7), (5L, 1, 11, 20)))
  }

  test("audioSegments: an ungapped tone is one segment; silence-only is none") {
    import spark.implicits._
    val ids = spark.createDataset(Seq(java.lang.Long.valueOf(150L)))
    val one = audioSegments(syntheticWavCorpus(ids), windowMs = 50, rmsThreshold = 0.1)
      .as[(Long, Int, Int, Int)].collect().toSeq
    // 250 ms tone → 5 full windows, one voiced run
    assert(one == Seq((150L, 0, 0, 5)))
    // absurd threshold: nothing is voiced
    assert(audioSegments(syntheticWavCorpus(ids), 50, rmsThreshold = 10.0).count() == 0)
  }

  test("withPHash rejects non-64-cell grids loudly") {
    val feats = featureFrame(extractFeatures(
      syntheticPngCorpus(spark.createDataset(Seq(java.lang.Long.valueOf(1L)))), dim = 16))
    val e = intercept[Exception](withPHash(feats).collect())
    assert(e.getMessage != null)
  }
}
