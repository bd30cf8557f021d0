package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.operators.Clustering

class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
  }

  test("kmeansLabels yields k clusters, deterministic under seed") {
    val embs = graft.core.Tables.embeddings(spark, TestSpark.SfDir)
    def labels() =
      try Clustering.kmeansLabels(embs, "embedding", 5, 0L)
        .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
      finally graft.core.Caches.releaseAll()
    val l1 = labels()
    val l2 = labels()
    assert(l1.values.toSet.size == 5)
    assert(l1 == l2)
  }

  test("multimodal stub pipeline: schema, determinism, frame bounds") {
    val docs = graft.core.Tables.documents(spark, TestSpark.SfDir).limit(30)
    val media = Multimodal.syntheticMedia(docs, "doc_id", "text")
    assert(media.select("kind").distinct().count() == 3)
    val f1 = Multimodal.extractFeatures(media)
    val f2 = Multimodal.extractFeatures(media)
    assert(f1.exceptAll(f2).count() == 0)
    val sampled = Multimodal.sampleFrames(f1, 4, 8)
    import org.apache.spark.sql.functions._
    assert(sampled.where(size(col("frame_idx")) > 8).count() == 0)
    assert(sampled.where(size(col("frame_idx")) < 1).count() == 0)
  }

  test("image codec: header parse recovers real PNG/JPEG geometry") {
    import Multimodal.ImageCodec
    // PNG truecolor / grayscale
    assert(ImageCodec.parseHeader(ImageCodec.encodePng(33, 21, gray = false))
      == ("png", 33, 21, 3))
    assert(ImageCodec.parseHeader(ImageCodec.encodePng(7, 300, gray = true))
      == ("png", 7, 300, 1))
    // JPEG color (3 components) / grayscale (1) — dims from the SOF
    // segment, whose position varies with the APP/DQT/DHT segments
    assert(ImageCodec.parseHeader(ImageCodec.encodeJpeg(64, 48, gray = false))
      == ("jpeg", 64, 48, 3))
    assert(ImageCodec.parseHeader(ImageCodec.encodeJpeg(17, 1, gray = true))
      == ("jpeg", 17, 1, 1))
    // non-image bytes degrade, never throw
    assert(ImageCodec.parseHeader("not an image".getBytes)._1 == "unknown")
    assert(ImageCodec.parseHeader(Array[Byte](0xff.toByte, 0xd8.toByte))
      == ("jpeg", -1, -1, -1))
    assert(ImageCodec.parseHeader(Array.empty[Byte])._1 == "unknown")
  }

  test("audio codec: WAV round-trips through the byte-level parser") {
    import Multimodal.AudioCodec
    // every (rate, channels, bits) combination the recipe can emit
    for (rate <- Seq(8000, 16000, 22050, 44100); ch <- Seq(1, 2);
         bits <- Seq(8, 16); n <- Seq(1, 32, 60)) {
      val b = AudioCodec.encodeWav(rate, ch, bits, n, seed = 42L)
      assert(b.length == 44 + n * ch * bits / 8)
      assert(AudioCodec.parseHeader(b) == ("wav", rate, ch, bits, n))
    }
    // chunk walking is generic: an extra LIST chunk between fmt and
    // data (odd-sized, exercising word alignment) must not derail it
    val base = AudioCodec.encodeWav(16000, 2, 16, 10, seed = 7L)
    val extra = new java.io.ByteArrayOutputStream()
    extra.write(base, 0, 36) // RIFF..WAVE + fmt chunk
    extra.write("LIST".getBytes); extra.write(Array[Byte](5, 0, 0, 0))
    extra.write("INFOx".getBytes); extra.write(0) // pad to even
    extra.write(base, 36, base.length - 36) // data chunk
    assert(AudioCodec.parseHeader(extra.toByteArray) == ("wav", 16000, 2, 16, 10))
    // non-audio bytes degrade, never throw
    assert(AudioCodec.parseHeader("not audio".getBytes)._1 == "unknown")
    assert(AudioCodec.parseHeader(Array.empty[Byte])._1 == "unknown")
    // a RIFF/WAVE shell with no fmt/data parses as wav but unknown geometry
    val shell = "RIFF".getBytes ++ Array[Byte](4, 0, 0, 0) ++ "WAVE".getBytes
    assert(AudioCodec.parseHeader(shell) == ("wav", -1, -1, -1, -1))
    // hostile near-MaxInt chunk size: cursor must run past the end,
    // not wrap negative into an IndexOutOfBounds
    val hostile = "RIFF".getBytes ++ Array[Byte](16, 0, 0, 0) ++
      "WAVE".getBytes ++ "JUNK".getBytes ++
      Array[Byte](0xf8.toByte, 0xff.toByte, 0xff.toByte, 0x7f.toByte)
    assert(AudioCodec.parseHeader(hostile) == ("wav", -1, -1, -1, -1))
    // 4-bit ADPCM-style fmt (block align 0): degrade, don't divide by 0
    val base16 = AudioCodec.encodeWav(8000, 1, 16, 2, seed = 3L)
    val adpcm = base16.clone()
    adpcm(34) = 4; adpcm(35) = 0 // bitsPerSample := 4
    assert(AudioCodec.parseHeader(adpcm) == ("wav", -1, -1, -1, -1))
  }

  test("audio codec: PCM sample decode matches the generation recipe") {
    import Multimodal.AudioCodec
    // 16-bit stereo: decoded samples must equal the recipe arithmetic
    // (signed reinterpretation of the LE pair, /32768)
    val id = 7L
    val b16 = AudioCodec.encodeWav(16000, 2, 16, 5, seed = id)
    val xs16 = Multimodal.decodePcm(b16).get
    assert(xs16.length == 10)
    for (k <- 0 until 10) {
      val (i, c) = (k / 2, k % 2)
      val v = ((id * 131 + i * 7919 + c * 101) % 65536).toInt
      val expected = (if (v >= 32768) v - 65536 else v) / 32768.0
      assert(xs16(k) == expected, s"k=$k")
    }
    // 8-bit mono: unsigned recentering
    val b8 = Multimodal.AudioCodec.encodeWav(8000, 1, 8, 4, seed = id)
    val xs8 = Multimodal.decodePcm(b8).get
    for (k <- 0 until 4) {
      val v = ((id * 31 + k * 17) % 256).toInt
      assert(xs8(k) == (v - 128) / 128.0, s"k=$k")
    }
    // non-PCM bytes decode to None, never throw
    assert(Multimodal.decodePcm("nope".getBytes).isEmpty)
    assert(Multimodal.decodePcm(Array.empty[Byte]).isEmpty)
  }

  test("video codec: AVI round-trips through the nested chunk walker") {
    import Multimodal.VideoCodec
    for (w <- Seq(160, 304); h <- Seq(120, 168); n <- Seq(1, 10, 32);
         us <- Seq(20000, 60000)) {
      val b = VideoCodec.encodeAvi(w, h, n, us)
      assert(VideoCodec.parseHeader(b) == ("avi", w, h, n, us))
    }
    // a WAV is RIFF but not AVI; random bytes are neither
    import Multimodal.AudioCodec
    val wav = AudioCodec.encodeWav(8000, 1, 8, 4, seed = 1L)
    assert(VideoCodec.parseHeader(wav)._1 == "unknown")
    assert(VideoCodec.parseHeader("not a video".getBytes)._1 == "unknown")
    assert(VideoCodec.parseHeader(Array.empty[Byte])._1 == "unknown")
    // an AVI shell with no hdrl parses as avi but unknown geometry
    val shell = "RIFF".getBytes ++ Array[Byte](4, 0, 0, 0) ++ "AVI ".getBytes
    assert(VideoCodec.parseHeader(shell) == ("avi", -1, -1, -1, -1))
    // hostile near-MaxInt chunk size in the outer walk: no throw
    val hostile = "RIFF".getBytes ++ Array[Byte](16, 0, 0, 0) ++
      "AVI ".getBytes ++ "JUNK".getBytes ++
      Array[Byte](0xf8.toByte, 0xff.toByte, 0xff.toByte, 0x7f.toByte)
    assert(VideoCodec.parseHeader(hostile) == ("avi", -1, -1, -1, -1))
  }

  test("video codec: MJPEG/MPNG frame streams round-trip byte-exact") {
    import Multimodal.{ImageCodec, VideoCodec}
    val frames = (0 until 5).map(f => ImageCodec.encodeJpegFrame(24, 16, f * 7))
    val avi = VideoCodec.encodeAviFrames(24, 16, 33333, frames)
    // header still parses (dwTotalFrames = stream length) …
    assert(VideoCodec.parseHeader(avi) == ("avi", 24, 16, 5, 33333))
    // … and the movi walk returns the exact frame bytes written
    val out = VideoCodec.extractFrames(avi)
    assert(out.length == 5)
    out.lazyZip(frames).foreach((a, b) => assert(a.sameElements(b)))
    // odd-sized frames exercise word alignment
    val odd = Seq(Array[Byte](1, 2, 3), Array[Byte](4), Array[Byte](5, 6))
    val oddAvi = VideoCodec.encodeAviFrames(1, 1, 1000, odd)
    VideoCodec.extractFrames(oddAvi).lazyZip(odd)
      .foreach((a, b) => assert(a.sameElements(b)))
    // frameless skeletons and hostile bytes degrade to empty, no throw
    assert(VideoCodec.extractFrames(VideoCodec.encodeAvi(160, 120, 10, 20000)).isEmpty)
    assert(VideoCodec.extractFrames("not a video".getBytes).isEmpty)
    assert(VideoCodec.extractFrames(Array.empty[Byte]).isEmpty)
    // corrupt frame-chunk size inside movi: keep what parsed cleanly
    val corrupt = avi.clone()
    // first '00dc' size field: find it and wreck it negative
    val dcAt = avi.indexOfSlice("00dc".getBytes)
    corrupt(dcAt + 7) = 0xff.toByte
    assert(VideoCodec.extractFrames(corrupt).isEmpty) // bailed on first chunk
  }

  test("frame decode is REAL: PNG exact to the recipe, JPEG pixel-close") {
    import Multimodal.ImageCodec
    // PNG frame: decoded channel sums equal the fill recipe exactly
    val (w, h, shift) = (20, 14, 21)
    val Some(("png", pw, ph, Some((sr, sg, sb)))) =
      Multimodal.decodeFrameStats(ImageCodec.encodePngFrame(w, h, shift))
    assert((pw, ph) == (w, h))
    val vals = for (x <- 0 until w; y <- 0 until h) yield x * 31 + y * 17 + shift
    assert(sr == vals.map(v => (v >> 16) & 0xff).map(_.toLong).sum)
    assert(sg == vals.map(v => (v >> 8) & 0xff).map(_.toLong).sum)
    assert(sb == vals.map(v => v & 0xff).map(_.toLong).sum)
    // JPEG frame: geometry exact, decoded pixels CLOSE to the recipe
    // (the DCT round trip is real; closeness proves entropy decode ran
    // over real coefficients, not a header shortcut)
    val jb = ImageCodec.encodeJpegFrame(w, h, shift)
    val Some(("jpeg", jw, jh, None)) = Multimodal.decodeFrameStats(jb)
    assert((jw, jh) == (w, h))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jb))
    val diffs = for (x <- 0 until w; y <- 0 until h) yield {
      val want = (x * 31 + y * 17 + shift) & 0xffffff
      val got = img.getRGB(x, y)
      math.abs(((want >> 8) & 0xff) - ((got >> 8) & 0xff)) +
        math.abs((want & 0xff) - (got & 0xff))
    }
    assert(diffs.sum.toDouble / diffs.length < 40.0,
      s"mean per-pixel channel error ${diffs.sum.toDouble / diffs.length}")
    // undecodable bytes → None, never throw
    assert(Multimodal.decodeFrameStats("junk".getBytes).isEmpty)
    assert(Multimodal.decodeFrameStats(Array.empty[Byte]).isEmpty)
  }
}
