package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (north-star extension): image/audio/
  * video as opaque `binary` columns with typed metadata, and
  * decode / feature-extract / frame-sample operators over them.
  *
  * IMAGE decode is REAL: payloads are PNG/JPEG bytes produced by the
  * JDK's ImageIO codec, and [[ImageCodec.parseHeader]] recovers
  * width/height/channels from the public file-format structure (PNG
  * IHDR chunk, JPEG SOFn segment) by direct byte parsing. AUDIO is
  * REAL too: [[AudioCodec]] writes and parses the public RIFF/WAVE
  * PCM container byte-level (fmt chunk → sample rate / channels /
  * bit depth, data chunk → frame count). VIDEO is REAL end to end:
  * [[VideoCodec]] writes and parses RIFF/AVI byte-level (avih
  * MainAVIHeader → width/height/frames/µs-per-frame), writes genuine
  * Motion-JPEG / Motion-PNG '00dc' frame streams
  * ([[VideoCodec.encodeAviFrames]]), and [[decodeVideoFrames]] walks
  * the movi stream and runs the actual image codec on sampled frames
  * — no ffmpeg needed, the stream codecs are the JDK's own.
  * [[StubDecoder]] remains only as the pluggable-decoder example whose
  * byte-statistics output keeps the mixed-media pipeline SQL-checkable.
  *
  * Scale posture: binaries never pass through a shuffle (decode is a
  * narrow map); feature vectors, not blobs, flow downstream. Real
  * deployments put blobs behind a lake-house pointer column; the
  * operator contract is unchanged.
  */
object Multimodal {

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("kind", StringType),        // image | audio | video
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("n_bytes", LongType))))))

  /** Decoder contract: bytes → fixed-width feature vector. Real
    * implementations (JPEG decode + resize + channel stats, PCM frame
    * energies, video keyframes) implement this same trait. */
  trait MediaDecoder extends Serializable {
    def init(): Unit = ()
    def features(kind: String, payload: Array[Byte]): Array[Float]
    def frameCount(kind: String, payload: Array[Byte]): Int
  }

  /** STUB decoder: deterministic byte-statistics pseudo-features.
    * Replace with a codec-backed decoder in production — everything
    * around it (partitioning, init-once, schema) stays identical. */
  final class StubDecoder(dim: Int = 8) extends MediaDecoder {
    override def features(kind: String, payload: Array[Byte]): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < payload.length) {
        out(i % dim) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      if (payload.length > 0) out.indices.foreach(j => out(j) /= payload.length)
      out
    }
    override def frameCount(kind: String, payload: Array[Byte]): Int =
      kind match {
        case "video" => math.max(1, payload.length / 64)
        case "audio" => math.max(1, payload.length / 16)
        case _       => 1
      }
  }

  /** Real image bytes + header parsing, pure JVM.
    *
    * Encoding uses the JDK's ImageIO (an actual PNG/JPEG codec);
    * parsing reads the public file-format structure directly:
    * PNG — 8-byte signature, then the IHDR chunk (length + "IHDR" +
    * 4-byte BE width, 4-byte BE height, bit depth, color type);
    * JPEG — FFD8 SOI, then marker segments with 2-byte BE lengths,
    * dimensions in the first SOFn frame header (precision, height,
    * width, component count). */
  object ImageCodec {
    def encodePng(w: Int, h: Int, gray: Boolean): Array[Byte] = encode("png", w, h, gray, 0)
    def encodeJpeg(w: Int, h: Int, gray: Boolean): Array[Byte] = encode("jpg", w, h, gray, 0)
    /** Video-frame variants: the same deterministic fill shifted by a
      * per-frame offset, so every frame of a stream is distinct and an
      * oracle can replay any frame's pixels from (x, y, shift). */
    def encodePngFrame(w: Int, h: Int, shift: Int): Array[Byte] =
      encode("png", w, h, gray = false, shift)
    def encodeJpegFrame(w: Int, h: Int, shift: Int): Array[Byte] =
      encode("jpg", w, h, gray = false, shift)

    private def encode(fmt: String, w: Int, h: Int, gray: Boolean,
                       shift: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        if (gray) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
        else java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, (x * 31 + y * 17 + shift) & 0xffffff); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }

    private def be32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    private def be16(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    // SOF0–SOF15 carry frame dimensions, except DHT/JPG/DAC (C4/C8/CC)
    private def isSof(m: Int): Boolean =
      m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc

    /** (format, width, height, channels); (-1, -1, -1) dims when the
      * bytes are not a parseable PNG/JPEG. */
    def parseHeader(b: Array[Byte]): (String, Int, Int, Int) = {
      if (b.length >= 26 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
          b(2) == 'N' && b(3) == 'G') {
        val w = be32(b, 16); val h = be32(b, 20)
        val channels = (b(25) & 0xff) match {
          case 0 => 1 // grayscale
          case 2 => 3 // truecolor
          case 3 => 1 // palette
          case 4 => 2 // gray + alpha
          case 6 => 4 // truecolor + alpha
          case _ => -1
        }
        ("png", w, h, channels)
      } else if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
        var i = 2
        while (i + 9 < b.length) {
          if ((b(i) & 0xff) != 0xff) i += 1 // fill bytes between segments
          else {
            val marker = b(i + 1) & 0xff
            if (marker == 0xff) i += 1 // padding FF
            else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd9)) {
              i += 2 // standalone marker, no length field
            } else if (isSof(marker)) {
              // len(2) precision(1) height(2) width(2) components(1)
              return ("jpeg", be16(b, i + 7), be16(b, i + 5), b(i + 9) & 0xff)
            } else i += 2 + be16(b, i + 2)
          }
        }
        ("jpeg", -1, -1, -1)
      } else ("unknown", -1, -1, -1)
    }
  }

  /** Real image PIXEL decode (a level deeper than the header parse):
    * run the actual ImageIO PNG decoder over the payload and sum the
    * RGB channels as exact integers. PNG is lossless, so for payloads
    * produced by [[ImageCodec.encodePng]] the recovered pixels equal
    * the generation recipe `(x·31 + y·17) & 0xffffff` exactly — an
    * oracle can replay the channel sums with pure integer arithmetic,
    * and any decode bug (stride, channel order, color conversion)
    * breaks the equality. Returns None for non-PNG/undecodable bytes
    * and for grayscale PNGs (TYPE_BYTE_GRAY encoding applies a
    * luminance conversion — real, but not integer-replayable). */
  def decodePngChannelSums(b: Array[Byte]): Option[(Int, Int, Long, Long, Long)] = {
    val (fmt, _, _, channels) = ImageCodec.parseHeader(b)
    if (fmt != "png" || channels != 3) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      catch { case _: Exception => null }
    if (img == null) return None
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    Some((img.getWidth, img.getHeight, sr, sg, sb))
  }

  /** Pixel-sum features over image payloads: (media_id, width, height,
    * sum_r, sum_g, sum_b) from a REAL PNG decode; undecodable or
    * non-color rows yield -1/null. */
  def decodePixelSums(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sum_r", LongType),
      StructField("sum_g", LongType),
      StructField("sum_b", LongType)))
    val idI = media.schema.fieldIndex("media_id")
    val pI  = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.map { r =>
        decodePngChannelSums(r.getAs[Array[Byte]](pI)) match {
          case Some((w, h, sr, sg, sb)) =>
            Row(r.getLong(idI), w, h, sr, sg, sb)
          case None => Row(r.getLong(idI), -1, -1, null, null, null)
        }
      }
    }(Encoders.row(schema))
  }

  /** BOX-AVERAGE RESIZE of a color PNG from the REAL decode: the
    * image divides into a gw×gh cell lattice (cell of pixel x =
    * x·gw/w, the aHash downsample), and each output pixel is the
    * floor-div mean of its box's exact integer channel sums — pure
    * integer arithmetic over decoded bytes, so the DuckDB oracle
    * replays it from the analytic pixel recipe. Returns the flat
    * row-major (r,g,b) cell array. None for non-color/undecodable. */
  def decodePngResize(b: Array[Byte], gw: Int,
                      gh: Int): Option[(Int, Int, Array[Int])] = {
    val (fmt, _, _, channels) = ImageCodec.parseHeader(b)
    if (fmt != "png" || channels != 3) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      catch { case _: Exception => null }
    if (img == null) return None
    val w = img.getWidth; val h = img.getHeight
    val cells = gw * gh
    val sumR = new Array[Long](cells)
    val sumG = new Array[Long](cells)
    val sumB = new Array[Long](cells)
    val n = new Array[Long](cells)
    var y = 0
    while (y < h) {
      val cy = y * gh / h
      var x = 0
      while (x < w) {
        val cx = x * gw / w
        val rgb = img.getRGB(x, y)
        val c = cy * gw + cx
        sumR(c) += (rgb >> 16) & 0xff
        sumG(c) += (rgb >> 8) & 0xff
        sumB(c) += rgb & 0xff
        n(c) += 1
        x += 1
      }
      y += 1
    }
    val out = new Array[Int](cells * 3)
    var c = 0
    while (c < cells) {
      out(c * 3) = (sumR(c) / n(c)).toInt
      out(c * 3 + 1) = (sumG(c) / n(c)).toInt
      out(c * 3 + 2) = (sumB(c) / n(c)).toInt
      c += 1
    }
    Some((w, h, out))
  }

  /** [[decodePngResize]] as a per-row operator: one output row per
    * lattice cell — (media_id, width, height, cx, cy, r, g, b).
    * Undecodable/non-color payloads yield no rows. Scale posture:
    * the decode is partition-local over the blob (blobs never
    * shuffle); output is gw·gh small rows per image. */
  def resizeBox(media: DataFrame, gw: Int, gh: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("cx", IntegerType),
      StructField("cy", IntegerType),
      StructField("r", IntegerType),
      StructField("g", IntegerType),
      StructField("b", IntegerType)))
    val idI = media.schema.fieldIndex("media_id")
    val pI  = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.flatMap { row =>
        decodePngResize(row.getAs[Array[Byte]](pI), gw, gh) match {
          case Some((w, h, cells)) =>
            (0 until gh).iterator.flatMap { cy =>
              (0 until gw).iterator.map { cx =>
                val c = (cy * gw + cx) * 3
                Row(row.getLong(idI), w, h, cx, cy,
                  cells(c), cells(c + 1), cells(c + 2))
              }
            }
          case None => Iterator.empty
        }
      }
    }(Encoders.row(schema))
  }

  /** Average-hash (aHash) of a color PNG from the REAL decode: the
    * image divides into a grid×grid cell lattice (cell of pixel x =
    * x·grid/w — the standard downsample), each cell's bit is set iff
    * its mean brightness (r+g+b, exact integer sums) exceeds the
    * image mean. The comparison cross-multiplies (cellSum·totalPx >
    * totalSum·cellPx) so no division ever happens — the hash is pure
    * integer arithmetic over decoded bytes, which is what lets the
    * DuckDB oracle replay it from the analytic pixel recipe.
    * Returns None for non-PNG/undecodable/grayscale payloads. */
  def decodePngAHash(b: Array[Byte], grid: Int): Option[(Int, Int, Long)] = {
    val (fmt, _, _, channels) = ImageCodec.parseHeader(b)
    if (fmt != "png" || channels != 3) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      catch { case _: Exception => null }
    if (img == null) return None
    val w = img.getWidth; val h = img.getHeight
    val cells = grid * grid
    val cellSum = new Array[Long](cells)
    val cellN = new Array[Long](cells)
    var total = 0L
    var y = 0
    while (y < h) {
      val cy = y * grid / h
      var x = 0
      while (x < w) {
        val cx = x * grid / w
        val rgb = img.getRGB(x, y)
        val br = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        val c = cy * grid + cx
        cellSum(c) += br; cellN(c) += 1; total += br
        x += 1
      }
      y += 1
    }
    val npx = w.toLong * h
    var hash = 0L
    var c = 0
    while (c < cells) {
      if (cellSum(c) * npx > total * cellN(c)) hash |= (1L << c)
      c += 1
    }
    Some((w, h, hash))
  }

  /** aHash features over image payloads: (media_id, width, height,
    * ahash) from the real decode; non-color/undecodable rows yield
    * null. grid=8 → a 64-bit fingerprint. */
  def decodeAHash(media: DataFrame, grid: Int = 8): DataFrame = {
    require(grid >= 2 && grid * grid <= 64, s"grid² must fit 64 bits, got $grid")
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("ahash", LongType)))
    val idI = media.schema.fieldIndex("media_id")
    val pI  = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.map { r =>
        decodePngAHash(r.getAs[Array[Byte]](pI), grid) match {
          case Some((w, h, a)) => Row(r.getLong(idI), w, h, a)
          case None            => Row(r.getLong(idI), -1, -1, null)
        }
      }
    }(Encoders.row(schema))
  }

  /** Real audio bytes + header parsing, pure JVM — the WAV/RIFF
    * mirror of [[ImageCodec]].
    *
    * Encoding writes the public RIFF/WAVE container directly: "RIFF"
    * + LE chunk size + "WAVE", a 16-byte PCM "fmt " chunk (format=1,
    * channels, sample rate, byte rate, block align, bits/sample), and
    * a "data" chunk of interleaved PCM frames (unsigned 8-bit or
    * signed little-endian 16-bit — the two canonical PCM widths).
    * Parsing walks the chunk list generically (4-byte id + LE32 size,
    * word-aligned), so WAVs with extra chunks (LIST/INFO, fact) parse
    * too, and recovers sample rate / channels / bit depth from "fmt "
    * and the frame count from the "data" size ÷ block align. */
  object AudioCodec {
    private[multimodal] def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    private[multimodal] def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    private[multimodal] def rdLe16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private[multimodal] def rdLe32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    private[multimodal] def tag(b: Array[Byte], o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** PCM WAV with deterministic samples derived from `seed` — same
      * bytes every run, so specs and oracles can predict the parse. */
    def encodeWav(sampleRate: Int, channels: Int, bits: Int,
                  nSamples: Int, seed: Long): Array[Byte] = {
      require(bits == 8 || bits == 16, s"PCM width must be 8 or 16, got $bits")
      val blockAlign = channels * bits / 8
      val dataSize = nSamples * blockAlign
      val bos = new java.io.ByteArrayOutputStream(44 + dataSize)
      bos.write("RIFF".getBytes); bos.write(le32(36 + dataSize))
      bos.write("WAVE".getBytes)
      bos.write("fmt ".getBytes); bos.write(le32(16))
      bos.write(le16(1)) // PCM
      bos.write(le16(channels)); bos.write(le32(sampleRate))
      bos.write(le32(sampleRate * blockAlign)); bos.write(le16(blockAlign))
      bos.write(le16(bits))
      bos.write("data".getBytes); bos.write(le32(dataSize))
      var i = 0
      while (i < nSamples) {
        var c = 0
        while (c < channels) {
          if (bits == 8) bos.write(((seed * 31 + i * 17 + c * 7) % 256).toInt & 0xff)
          else bos.write(le16(((seed * 131 + i * 7919 + c * 101) % 65536).toInt & 0xffff))
          c += 1
        }
        i += 1
      }
      bos.toByteArray
    }

    /** (format, sample_rate, channels, bits, n_samples); all -1 when
      * the bytes are not a parseable RIFF/WAVE file. */
    def parseHeader(b: Array[Byte]): (String, Int, Int, Int, Int) = {
      val bad = ("unknown", -1, -1, -1, -1)
      if (b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE") return bad
      var sampleRate, channels, bits, dataSize = -1
      // Long offsets: a hostile near-MaxInt chunk size must overflow
      // the cursor PAST the length guard, not wrap it negative into
      // an IndexOutOfBounds — degrade, never throw
      var o = 12L
      while (o + 8 <= b.length) {
        val oi = o.toInt
        val id = tag(b, oi); val sz = rdLe32(b, oi + 4)
        if (sz < 0) return ("wav", -1, -1, -1, -1) // corrupt size: stop, don't loop
        if (id == "fmt " && o + 8 + 16 <= b.length) {
          channels = rdLe16(b, oi + 10)
          sampleRate = rdLe32(b, oi + 12)
          bits = rdLe16(b, oi + 22)
        } else if (id == "data") dataSize = sz
        o += 8L + sz + (sz & 1) // chunks are word-aligned
      }
      // block align in Long: 4-bit ADPCM (block 0) or hostile 16-bit
      // channel/width fields (Int overflow) must degrade, not divide
      // by zero / wrap
      val block = channels.toLong * bits / 8
      if (sampleRate < 0 || dataSize < 0 || channels <= 0 || bits <= 0 ||
          block <= 0 || block > Int.MaxValue)
        ("wav", -1, -1, -1, -1)
      else ("wav", sampleRate, channels, bits, (dataSize / block).toInt)
    }
  }

  /** Real video-container bytes + header parsing, pure JVM — the AVI
    * mirror of [[AudioCodec]] (AVI is RIFF too, so the chunk walk is
    * the same public structure one level deeper).
    *
    * Encoding writes the minimal valid AVI skeleton: RIFF('AVI ') →
    * LIST('hdrl'){ 'avih'(56-byte MainAVIHeader) } → LIST('movi'){} —
    * geometry and timing live in the avih fields (µs/frame at +0,
    * total frames at +16, width at +32, height at +36; all LE32).
    * Frame PAYLOADS are intentionally absent: parsing the container is
    * pure JVM; decoding frames needs a video codec this container
    * does not ship, and the header is what the metadata/feature
    * pipeline consumes. */
  object VideoCodec {
    import AudioCodec.{le32, rdLe32, tag}

    /** Minimal AVI with deterministic avih fields. */
    def encodeAvi(width: Int, height: Int, nFrames: Int, usPerFrame: Int): Array[Byte] = {
      val avih = new java.io.ByteArrayOutputStream()
      avih.write(le32(usPerFrame))           // dwMicroSecPerFrame
      avih.write(le32(0)); avih.write(le32(0)) // dwMaxBytesPerSec, dwPaddingGranularity
      avih.write(le32(0x10))                 // dwFlags: AVIF_HASINDEX
      avih.write(le32(nFrames))              // dwTotalFrames
      avih.write(le32(0)); avih.write(le32(1)) // dwInitialFrames, dwStreams
      avih.write(le32(0))                    // dwSuggestedBufferSize
      avih.write(le32(width)); avih.write(le32(height))
      (0 until 4).foreach(_ => avih.write(le32(0))) // dwReserved[4]
      val avihB = avih.toByteArray            // 56 bytes
      val hdrl = new java.io.ByteArrayOutputStream()
      hdrl.write("hdrl".getBytes)
      hdrl.write("avih".getBytes); hdrl.write(le32(avihB.length)); hdrl.write(avihB)
      val hdrlB = hdrl.toByteArray
      val movi = "movi".getBytes
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("RIFF".getBytes)
      bos.write(le32(4 + 8 + hdrlB.length + 8 + movi.length))
      bos.write("AVI ".getBytes)
      bos.write("LIST".getBytes); bos.write(le32(hdrlB.length)); bos.write(hdrlB)
      bos.write("LIST".getBytes); bos.write(le32(movi.length)); bos.write(movi)
      bos.toByteArray
    }

    /** Full AVI with a REAL video stream: LIST('movi') holds one
      * '00dc' compressed-frame chunk per frame — Motion-JPEG when the
      * frames are JPEG bytes (fourcc MJPG convention), Motion-PNG when
      * PNG. The frame bytes come straight from [[ImageCodec]]'s
      * encoders, so the container's stream is genuine codec output,
      * and avih's dwTotalFrames matches the movi chunk count. */
    def encodeAviFrames(width: Int, height: Int, usPerFrame: Int,
                        frames: Seq[Array[Byte]]): Array[Byte] = {
      val avih = new java.io.ByteArrayOutputStream()
      avih.write(le32(usPerFrame))
      avih.write(le32(0)); avih.write(le32(0))
      avih.write(le32(0x10))
      avih.write(le32(frames.length))        // dwTotalFrames = movi chunks
      avih.write(le32(0)); avih.write(le32(1))
      avih.write(le32(0))
      avih.write(le32(width)); avih.write(le32(height))
      (0 until 4).foreach(_ => avih.write(le32(0)))
      val avihB = avih.toByteArray
      val hdrl = new java.io.ByteArrayOutputStream()
      hdrl.write("hdrl".getBytes)
      hdrl.write("avih".getBytes); hdrl.write(le32(avihB.length)); hdrl.write(avihB)
      val hdrlB = hdrl.toByteArray
      val movi = new java.io.ByteArrayOutputStream()
      movi.write("movi".getBytes)
      frames.foreach { f =>
        movi.write("00dc".getBytes); movi.write(le32(f.length)); movi.write(f)
        if ((f.length & 1) == 1) movi.write(0) // chunks are word-aligned
      }
      val moviB = movi.toByteArray
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("RIFF".getBytes)
      bos.write(le32(4 + 8 + hdrlB.length + 8 + moviB.length))
      bos.write("AVI ".getBytes)
      bos.write("LIST".getBytes); bos.write(le32(hdrlB.length)); bos.write(hdrlB)
      bos.write("LIST".getBytes); bos.write(le32(moviB.length)); bos.write(moviB)
      bos.toByteArray
    }

    /** The video STREAM itself: every '00dc'/'00db' frame chunk inside
      * LIST('movi'), in stream order. Same guarded walk as
      * [[parseHeader]] (Long cursors, corrupt-size bailout returns
      * what parsed cleanly so far — degrade, never throw). */
    def extractFrames(b: Array[Byte]): Seq[Array[Byte]] = {
      if (b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "AVI ") return Nil
      var o = 12L
      while (o + 8 <= b.length) {
        val oi = o.toInt
        val id = tag(b, oi); val sz = rdLe32(b, oi + 4)
        if (sz < 0) return Nil
        if (id == "LIST" && o + 12 <= b.length && tag(b, oi + 8) == "movi") {
          val out = Seq.newBuilder[Array[Byte]]
          var p = o + 12
          val lim = math.min(b.length.toLong, o + 8 + sz)
          while (p + 8 <= lim) {
            val pi = p.toInt
            val cid = tag(b, pi); val csz = rdLe32(b, pi + 4)
            if (csz < 0) return out.result()
            if ((cid.endsWith("dc") || cid.endsWith("db")) && p + 8 + csz <= lim)
              out += java.util.Arrays.copyOfRange(b, pi + 8, pi + 8 + csz)
            p += 8L + csz + (csz & 1)
          }
          return out.result()
        }
        o += 8L + sz + (sz & 1)
      }
      Nil
    }

    /** (format, width, height, n_frames, us_per_frame); all -1 when
      * the bytes are not a parseable RIFF/AVI file. */
    def parseHeader(b: Array[Byte]): (String, Int, Int, Int, Int) = {
      val bad = ("unknown", -1, -1, -1, -1)
      if (b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "AVI ") return bad
      // Long offsets in BOTH walks: hostile near-MaxInt chunk sizes
      // must run the cursor past the length guard, not wrap it
      // negative into an IndexOutOfBounds — degrade, never throw
      var o = 12L
      while (o + 8 <= b.length) {
        val oi = o.toInt
        val id = tag(b, oi); val sz = rdLe32(b, oi + 4)
        if (sz < 0) return ("avi", -1, -1, -1, -1)
        if (id == "LIST" && o + 12 <= b.length && tag(b, oi + 8) == "hdrl") {
          // walk the hdrl sub-chunks for avih
          var p = o + 12
          val lim = math.min(b.length.toLong, o + 8 + sz)
          while (p + 8 <= lim) {
            val pi = p.toInt
            val sid = tag(b, pi); val ssz = rdLe32(b, pi + 4)
            if (ssz < 0) return ("avi", -1, -1, -1, -1)
            if (sid == "avih" && p + 8 + 40 <= lim)
              return ("avi", rdLe32(b, pi + 8 + 32), rdLe32(b, pi + 8 + 36),
                rdLe32(b, pi + 8 + 16), rdLe32(b, pi + 8))
            p += 8L + ssz + (ssz & 1)
          }
        }
        o += 8L + sz + (sz & 1)
      }
      ("avi", -1, -1, -1, -1)
    }
  }

  /** Deterministic audio-table recipe shared by the builders and the
    * oracles — the WAV twin of the `img*` recipe above. */
  def audRate(id: Long): Int = Array(8000, 16000, 22050, 44100)((id % 4).toInt)
  def audChannels(id: Long): Int = 1 + (id % 2).toInt
  def audBits(id: Long): Int = if (id % 5 == 0) 8 else 16
  def audSamples(id: Long): Int = 32 + (id % 29).toInt

  private def audioBytes(id: Long): Array[Byte] =
    AudioCodec.encodeWav(audRate(id), audChannels(id), audBits(id),
      audSamples(id), seed = id)

  /** Media table with REAL audio payloads (RIFF/WAVE PCM, one per
    * input id). Narrow map — encode happens executor-side. */
  def audioMedia(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("kind", StringType),
      StructField("payload", BinaryType)))
    df.select(col(idCol).cast("long")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id, "audio", audioBytes(id))
      }
    }(Encoders.row(schema))
  }

  /** Real PCM SAMPLE decode (beyond the header): normalized doubles
    * in interleaved order — unsigned 8-bit → (v−128)/128, signed LE
    * 16-bit → v/32768. Returns None when the bytes are not decodable
    * PCM. This is an actual decoder over the actual byte stream: a
    * byte-order or sign-extension bug here changes every downstream
    * energy number and fails the oracle hash. */
  def decodePcm(b: Array[Byte]): Option[Array[Double]] = {
    val (fmt, _, channels, bits, nSamples) = AudioCodec.parseHeader(b)
    if (fmt != "wav" || nSamples < 0) return None
    // locate the data chunk (same guarded walk as parseHeader)
    var dataOff = -1L; var dataSz = -1
    var o = 12L
    while (o + 8 <= b.length && dataOff < 0) {
      val oi = o.toInt
      val id = AudioCodec.tag(b, oi); val sz = AudioCodec.rdLe32(b, oi + 4)
      if (sz < 0) return None
      if (id == "data") { dataOff = o + 8; dataSz = sz }
      o += 8L + sz + (sz & 1)
    }
    if (dataOff < 0 || dataOff + dataSz > b.length) return None
    val total = nSamples * channels
    val out = new Array[Double](total)
    var k = 0
    while (k < total) {
      val p = (dataOff + k.toLong * bits / 8).toInt
      out(k) =
        if (bits == 8) ((b(p) & 0xff) - 128) / 128.0
        else AudioCodec.rdLe16(b, p).toShort / 32768.0
      k += 1
    }
    Some(out)
  }

  /** Audio SAMPLE features per row, decoded from the real byte
    * stream: RMS energy (left-to-right sum of squares — the fold
    * order DuckDB's list_aggregate uses, so the oracle replays it
    * bit-exactly) and peak amplitude. */
  /** WAVEFORM DOWNSAMPLE from the REAL WAV decode — the audio twin of
    * [[resizeBox]]: the track divides into `buckets` time boxes
    * (frame f = k/channels lands in box f·buckets/nSamples, the same
    * integer lattice as the image resize), and each box emits the
    * mean of its interleaved normalized samples. Box sums accumulate
    * IN SAMPLE ORDER — the left fold DuckDB's list_aggregate replays
    * over a list_filter'd (order-preserving) subsequence — and divide
    * once at the end, so the doubles are bit-identical cross-engine.
    * One row per (media, box); undecodable payloads yield no rows. */
  def downsamplePcm(media: DataFrame, buckets: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_samples", IntegerType),
      StructField("bucket", IntegerType),
      StructField("mean", DoubleType)))
    val idI = media.schema.fieldIndex("media_id")
    val pI  = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](pI)
        val (_, _, ch, _, ns) = AudioCodec.parseHeader(bytes)
        decodePcm(bytes) match {
          case Some(xs) if ns > 0 =>
            val sums = new Array[Double](buckets)
            val n = new Array[Long](buckets)
            var k = 0
            while (k < xs.length) {
              // Long product: frames > Int.MaxValue/buckets (~100 min of
              // 44.1 kHz at buckets=8) would overflow Int and index negative.
              val b = ((k / ch).toLong * buckets / ns).toInt
              sums(b) += xs(k); n(b) += 1
              k += 1
            }
            (0 until buckets).iterator.filter(n(_) > 0).map(b =>
              Row(r.getLong(idI), ns, b, sums(b) / n(b)))
          case _ => Iterator.empty
        }
      }
    }(Encoders.row(schema))
  }

  def decodeAudioFeatures(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_samples", IntegerType),
      StructField("rms", DoubleType),
      StructField("peak", DoubleType)))
    val idI = media.schema.fieldIndex("media_id")
    val pI  = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](pI)
        val (_, _, _, _, n) = AudioCodec.parseHeader(bytes)
        decodePcm(bytes) match {
          case Some(xs) =>
            var ss = 0.0; var peak = 0.0; var i = 0
            while (i < xs.length) {
              ss += xs(i) * xs(i)
              val a = math.abs(xs(i)); if (a > peak) peak = a
              i += 1
            }
            val rms = math.sqrt(ss / xs.length)
            Row(r.getLong(idI), n, rms, peak)
          case None => Row(r.getLong(idI), -1, null, null)
        }
      }
    }(Encoders.row(schema))
  }

  /** Deterministic video-table recipe shared by the builders and the
    * oracles — the AVI twin of the `aud*` recipe above. */
  def vidWidth(id: Long): Int = 160 + (id % 9).toInt * 16
  def vidHeight(id: Long): Int = 120 + (id % 7).toInt * 8
  def vidFrames(id: Long): Int = 10 + (id % 23).toInt
  def vidUsPerFrame(id: Long): Int = 20000 + (id % 5).toInt * 10000

  private def videoBytes(id: Long): Array[Byte] =
    VideoCodec.encodeAvi(vidWidth(id), vidHeight(id), vidFrames(id),
      vidUsPerFrame(id))

  /** Media table with REAL video-container payloads (RIFF/AVI, one
    * per input id). Narrow map — encode happens executor-side. */
  def videoMedia(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("kind", StringType),
      StructField("payload", BinaryType)))
    df.select(col(idCol).cast("long")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id, "video", videoBytes(id))
      }
    }(Encoders.row(schema))
  }

  /** Video header decode as a standalone per-row operator: (media_id,
    * fmt, width, height, n_frames, us_per_frame) parsed from the
    * payload bytes — never from metadata. */
  def decodeVideoHeaders(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("fmt", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_frames", IntegerType),
      StructField("us_per_frame", IntegerType)))
    val idI = media.schema.fieldIndex("media_id")
    val pI  = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.map { r =>
        val (fmt, w, h, n, us) =
          VideoCodec.parseHeader(r.getAs[Array[Byte]](pI))
        Row(r.getLong(idI), fmt, w, h, n, us)
      }
    }(Encoders.row(schema))
  }

  /** Deterministic framed-video recipe (small frames: the oracle
    * replays every pixel of every sampled frame in pure arithmetic, so
    * the fixture sizes frames to that budget; the container/codec code
    * paths are identical at any frame size). Even ids carry Motion-PNG
    * streams (lossless → integer-exact channel sums), odd ids
    * Motion-JPEG (real DCT codec → geometry-exact, pixels lossy). */
  def mjWidth(id: Long): Int = 16 + (id % 9).toInt * 2
  def mjHeight(id: Long): Int = 12 + (id % 7).toInt * 2
  def mjFrames(id: Long): Int = 3 + (id % 4).toInt
  def mjPng(id: Long): Boolean = id % 2 == 0
  /** Per-frame pixel-fill shift: frame f of any stream fills with
    * `(x·31 + y·17 + 7·f) & 0xffffff`. */
  val FrameShiftStep = 7

  private def framedVideoBytes(id: Long): Array[Byte] = {
    val (w, h, nf) = (mjWidth(id), mjHeight(id), mjFrames(id))
    val frames = (0 until nf).map { f =>
      if (mjPng(id)) ImageCodec.encodePngFrame(w, h, f * FrameShiftStep)
      else ImageCodec.encodeJpegFrame(w, h, f * FrameShiftStep)
    }
    VideoCodec.encodeAviFrames(w, h, vidUsPerFrame(id), frames)
  }

  /** Media table whose video payloads carry REAL frame streams
    * (MJPEG/MPNG '00dc' chunks inside LIST('movi')). */
  def framedVideoMedia(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("kind", StringType),
      StructField("payload", BinaryType)))
    df.select(col(idCol).cast("long")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id, "video", framedVideoBytes(id))
      }
    }(Encoders.row(schema))
  }

  /** REAL decode of one frame's bytes: codec sniffed from the magic
    * bytes, then the actual ImageIO decoder runs. Returns
    * (codec, width, height, channelSums) — channel sums only for PNG
    * (lossless; integer-replayable), None for JPEG (the DCT round trip
    * is real but lossy). None overall when the bytes are undecodable. */
  def decodeFrameStats(b: Array[Byte])
      : Option[(String, Int, Int, Option[(Long, Long, Long)])] = {
    val fmt = ImageCodec.parseHeader(b)._1
    if (fmt == "unknown") return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      catch { case _: Exception => null }
    if (img == null) return None
    val sums =
      if (fmt == "png") {
        var (sr, sg, sb) = (0L, 0L, 0L)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
            x += 1
          }
          y += 1
        }
        Some((sr, sg, sb))
      } else None
    Some((fmt, img.getWidth, img.getHeight, sums))
  }

  /** REAL frame decode over video payloads — the operator the r6 stub
    * stood in for: walk the container's movi stream, stride-sample
    * frame indices (same arithmetic as [[sampleFrames]]), run the
    * actual image codec on each sampled frame, and emit per-frame
    * geometry + (for lossless codecs) exact channel sums. One narrow
    * map; blobs never shuffle; only decoded stats flow downstream. */
  def decodeVideoFrames(media: DataFrame, stride: Int,
                        maxFrames: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("codec", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sum_r", LongType),
      StructField("sum_g", LongType),
      StructField("sum_b", LongType)))
    val idI = media.schema.fieldIndex("media_id")
    val pI  = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(idI)
        val frames = VideoCodec.extractFrames(r.getAs[Array[Byte]](pI))
        val n = frames.length
        val idxs =
          if (n <= 1) (0 until n)
          else (0 until n by stride).take(maxFrames)
        idxs.iterator.flatMap { i =>
          decodeFrameStats(frames(i)).map {
            case (codec, w, h, Some((sr, sg, sb))) =>
              Row(id, i, codec, w, h, sr, sg, sb)
            case (codec, w, h, None) =>
              Row(id, i, codec, w, h, null, null, null)
          }
        }
      }
    }(Encoders.row(schema))
  }

  /** FRAME-LEVEL RESIZE over video payloads — [[decodeVideoFrames]]'s
    * stride-sampled walk composed with [[decodePngResize]]'s
    * box-average lattice: each sampled LOSSLESS (PNG) frame emits its
    * gw×gh thumbnail cells; lossy (JPEG) frames yield no rows (their
    * DCT round trip has no exact twin — geometry/closeness gate via
    * `q_video_frames_real`). One narrow map; blobs never shuffle. */
  def resizeVideoFrames(media: DataFrame, stride: Int, maxFrames: Int,
                        gw: Int, gh: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("cx", IntegerType),
      StructField("cy", IntegerType),
      StructField("r", IntegerType),
      StructField("g", IntegerType),
      StructField("b", IntegerType)))
    val idI = media.schema.fieldIndex("media_id")
    val pI  = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.flatMap { row =>
        val id = row.getLong(idI)
        val frames = VideoCodec.extractFrames(row.getAs[Array[Byte]](pI))
        val n = frames.length
        val idxs =
          if (n <= 1) (0 until n)
          else (0 until n by stride).take(maxFrames)
        idxs.iterator.flatMap { i =>
          decodePngResize(frames(i), gw, gh).iterator.flatMap {
            case (w, h, cells) =>
              (0 until gh).iterator.flatMap { cy =>
                (0 until gw).iterator.map { cx =>
                  val c = (cy * gw + cx) * 3
                  Row(id, i, w, h, cx, cy,
                    cells(c), cells(c + 1), cells(c + 2))
                }
              }
          }
        }
      }
    }(Encoders.row(schema))
  }

  /** Audio header decode as a standalone per-row operator: (media_id,
    * fmt, sample_rate, channels, bits, n_samples) parsed from the
    * payload bytes — never from metadata. */
  def decodeAudioHeaders(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("fmt", StringType),
      StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType),
      StructField("bits", IntegerType),
      StructField("n_samples", IntegerType)))
    val idI = media.schema.fieldIndex("media_id")
    val pI  = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.map { r =>
        val (fmt, sr, ch, bits, n) =
          AudioCodec.parseHeader(r.getAs[Array[Byte]](pI))
        Row(r.getLong(idI), fmt, sr, ch, bits, n)
      }
    }(Encoders.row(schema))
  }

  /** Decoder over REAL image payloads: header-parsed
    * [width, height, channels] features for images, stub features for
    * the (codec-less) audio/video kinds. */
  final class ImageHeaderDecoder(fallback: MediaDecoder = new StubDecoder())
      extends MediaDecoder {
    override def features(kind: String, payload: Array[Byte]): Array[Float] =
      if (kind == "image") {
        val (_, w, h, ch) = ImageCodec.parseHeader(payload)
        Array(w.toFloat, h.toFloat, ch.toFloat)
      } else fallback.features(kind, payload)
    override def frameCount(kind: String, payload: Array[Byte]): Int =
      if (kind == "image") 1 else fallback.frameCount(kind, payload)
  }

  /** Deterministic image-table recipe shared by the builders and the
    * oracles: dims/colorspace/format all derive from the id, so SQL
    * can predict exactly what header parsing must recover. */
  def imgWidth(id: Long): Int = 16 + (id % 17).toInt
  def imgHeight(id: Long): Int = 12 + (id % 13).toInt
  def imgGray(id: Long): Boolean = id % 5 == 0
  def imgPng(id: Long): Boolean = id % 2 == 0

  private def imageBytes(id: Long): Array[Byte] = {
    val (w, h, g) = (imgWidth(id), imgHeight(id), imgGray(id))
    if (imgPng(id)) ImageCodec.encodePng(w, h, g)
    else ImageCodec.encodeJpeg(w, h, g)
  }

  /** Media table with REAL image payloads (ImageIO-encoded PNG/JPEG,
    * one per input id). Narrow map — encode happens executor-side. */
  def imageMedia(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("kind", StringType),
      StructField("payload", BinaryType)))
    df.select(col(idCol).cast("long")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id, "image", imageBytes(id))
      }
    }(Encoders.row(schema))
  }

  /** Header decode as a standalone per-row operator: (media_id, fmt,
    * width, height, channels) parsed from the payload bytes. */
  def decodeHeaders(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("fmt", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("channels", IntegerType)))
    val idI = media.schema.fieldIndex("media_id")
    val pI  = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      it.map { r =>
        val (fmt, w, h, ch) = ImageCodec.parseHeader(r.getAs[Array[Byte]](pI))
        Row(r.getLong(idI), fmt, w, h, ch)
      }
    }(Encoders.row(schema))
  }

  /** Mixed media table: image rows (id ≡ 0 mod 3) carry REAL encoded
    * PNG/JPEG payloads; audio/video rows keep the utf-8 stub payloads
    * ON PURPOSE — the q_multimodal_features oracle predicts the stub
    * decoder's byte statistics from the text, which keeps the whole
    * mixed pipeline SQL-checkable. The REAL audio codec is gated
    * separately by q_audio_headers over [[audioMedia]]. */
  def mixedMedia(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("kind", StringType),
      StructField("payload", BinaryType)))
    df.select(col(idCol).cast("long"), col(textCol)).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val kind = (id % 3) match {
          case 0 => "image"
          case 1 => "audio"
          case _ => "video"
        }
        val payload =
          if (kind == "image") imageBytes(id)
          else r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        Row(id, kind, payload)
      }
    }(Encoders.row(schema))
  }

  /** Fully-REAL media table: every payload is an actual container —
    * PNG/JPEG for id ≡ 0 (mod 3), RIFF/WAVE PCM for id ≡ 1, RIFF/AVI
    * for id ≡ 2 — all from the deterministic id recipes, so the whole
    * table is oracle-predictable while every byte is genuine. */
  def realMedia(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("kind", StringType),
      StructField("payload", BinaryType)))
    df.select(col(idCol).cast("long")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        (id % 3) match {
          case 0 => Row(id, "image", imageBytes(id))
          case 1 => Row(id, "audio", audioBytes(id))
          case _ => Row(id, "video", videoBytes(id))
        }
      }
    }(Encoders.row(schema))
  }

  /** Production decoder over REAL payloads of all three kinds — the
    * [[MediaDecoder]] a real pipeline ships, built entirely from this
    * file's codecs: image → [width, height, channels] (header parse);
    * audio → [rms, peak] (actual PCM SAMPLE decode); video →
    * [width, height, µs/frame] (avih parse). Frame counts: image 1,
    * audio = PCM frame count, video = avih total frames. */
  final class RealDecoder extends MediaDecoder {
    override def features(kind: String, payload: Array[Byte]): Array[Float] =
      kind match {
        case "image" =>
          val (_, w, h, ch) = ImageCodec.parseHeader(payload)
          Array(w.toFloat, h.toFloat, ch.toFloat)
        case "audio" =>
          decodePcm(payload) match {
            case Some(xs) =>
              var ss = 0.0; var peak = 0.0; var i = 0
              while (i < xs.length) {
                ss += xs(i) * xs(i)
                val a = math.abs(xs(i)); if (a > peak) peak = a
                i += 1
              }
              Array(math.sqrt(ss / xs.length).toFloat, peak.toFloat)
            case None => Array(-1f, -1f)
          }
        case _ =>
          val (_, w, h, _, us) = VideoCodec.parseHeader(payload)
          Array(w.toFloat, h.toFloat, us.toFloat)
      }
    override def frameCount(kind: String, payload: Array[Byte]): Int =
      kind match {
        case "image" => 1
        case "audio" => AudioCodec.parseHeader(payload)._5
        case _       => VideoCodec.parseHeader(payload)._4
      }
  }

  /** Build a media table from any table with an id and a string
    * column (test fixture: bytes = utf-8 of the text). */
  def syntheticMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol).cast("long"), lit(3L)) + 1).cast("int")).as("kind"),
      encode(col(textCol), "UTF-8").as("payload"))
      .withColumn("meta", struct(
        concat(lit("application/x-demo-"), col("kind")).as("mime"),
        length(col("payload")).cast("long").as("n_bytes")))

  /** Decode + feature-extract through mapPartitions with one decoder
    * init per partition (the model-inference shape). */
  def extractFeatures(media: DataFrame,
                      make: () => MediaDecoder = () => new StubDecoder()): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("kind", StringType),
      StructField("n_bytes", LongType),
      StructField("n_frames", IntegerType),
      StructField("features", ArrayType(FloatType))))
    val idI = media.schema.fieldIndex("media_id")
    val kI  = media.schema.fieldIndex("kind")
    val pI  = media.schema.fieldIndex("payload")
    media.mapPartitions { it =>
      val dec = make(); dec.init()
      it.map { r =>
        val kind = r.getString(kI)
        val bytes = r.getAs[Array[Byte]](pI)
        Row(r.getLong(idI), kind, bytes.length.toLong,
          dec.frameCount(kind, bytes), dec.features(kind, bytes))
      }
    }(Encoders.row(schema))
  }

  /** Frame sampling for video/audio rows: every `stride`-th frame
    * index up to `maxFrames` (array column, no blob duplication). */
  def sampleFrames(featured: DataFrame, stride: Int, maxFrames: Int): DataFrame =
    featured.withColumn("frame_idx",
      when(col("n_frames") > 1,
        slice(sequence(lit(0), col("n_frames") - 1, lit(stride)), 1, maxFrames))
        .otherwise(array(lit(0))))

  /** Persisted IMAGE-hash store — the [[graft.operators.Dedup
    * .SignatureStore]] daily-ingest lifecycle for the aHash near-dup
    * family (persist → probe → absorb → vacuum). Three bucketed
    * frames: families (ahash, rep = min media id, sz), pigeonhole
    * segments (seg, segval, ahash — bucketed by the probe's join
    * key), and HASH-level near-dup pairs (ahash_a, ahash_b, hamming).
    *
    * The incremental update is exact by IMMUTABILITY at the hash
    * level: a pair's Hamming distance is a pure function of the two
    * 64-bit hashes, so pairs are only ever ADDED as previously-unseen
    * hashes arrive — never revised. Family state merges per hash
    * (rep = min over generations, sz adds), and the pigeonhole
    * blocking guarantees full recall for the delta probe exactly as
    * it does in the batch run: any pair within Hamming ≤ maxHamming <
    * segments shares at least one exact segment, and every pair with
    * a NEW side surfaces in newSegs ⨝ (storeSegs ∪ newSegs). Work per
    * day is bounded by the delta's distinct hashes (+ one read of
    * each store frame; absorb adds the one re-bucketing write). At
    * 100 TB the decoded 8-byte hashes, not image blobs, are all that
    * ever reaches a shuffle. */
  object ImageHashStore extends graft.core.Store("img", "fams", "segs", "pairs") {
    val Bits = 64
    val Segments = 4
    private val SegWidth = Bits / Segments
    private val SegMask = (1L << SegWidth) - 1

    /** (ahash, rep, sz) families from decoded (media_id, ahash). */
    private def famsOf(hashes: DataFrame): DataFrame =
      hashes.groupBy(col("ahash"))
        .agg(min(col("media_id")).as("rep"), count(lit(1)).as("sz"))

    private def segsOf(hashes: DataFrame): DataFrame = {
      val segStructs = (0 until Segments).map { i =>
        struct(lit(i).as("seg"),
          shiftright(col("ahash"), i * SegWidth).bitwiseAND(SegMask)
            .as("segval"))
      }
      hashes.select(col("ahash"), explode(array(segStructs: _*)).as("sb"))
        .select(col("sb.seg").as("seg"), col("sb.segval").as("segval"),
          col("ahash"))
    }

    private def persist(spark: org.apache.spark.sql.SparkSession,
                        fams: DataFrame, segs: DataFrame, pairs: DataFrame,
                        tag: String, buckets: Int): Unit = {
      writeBucketed(spark, fams, tag, "fams", buckets, "ahash")
      writeBucketed(spark, segs, tag, "segs", buckets, "seg", "segval")
      writeBucketed(spark, pairs, tag, "pairs", buckets, "ahash_a")
    }

    /** Day-1 persist from decoded (media_id, ahash) rows. Hash-level
      * pairs reuse the text-SimHash pigeonhole machinery with the
      * hash itself as the blocking id. */
    def write(spark: org.apache.spark.sql.SparkSession, hashes: DataFrame,
              tag: String, maxHamming: Int, buckets: Int = 8): Unit = {
      val fams = graft.core.Caches.track(famsOf(hashes))
      val pairs = graft.operators.Dedup.simhashPairs(
          fams.select(col("ahash").as("hid"), col("ahash").as("simhash")),
          "hid", maxHamming = maxHamming, bits = Bits, segments = Segments)
        .select(col("id_a").as("ahash_a"), col("id_b").as("ahash_b"),
          col("hamming"))
      persist(spark, fams, segsOf(fams.select(col("ahash"))), pairs,
        tag, buckets)
    }

    /** Shared delta-merge: merged families, merged segments, merged
      * hash-level pairs given a delta's decoded hashes against
      * generation `tag`. */
    private def deltaMerge(spark: org.apache.spark.sql.SparkSession,
                           deltaHashes: DataFrame, tag: String,
                           maxHamming: Int)
        : (DataFrame, DataFrame, DataFrame) = {
      val storeFams = spark.table(table(tag, "fams"))
      val storeSegs = spark.table(table(tag, "segs"))
      val storePairs = spark.table(table(tag, "pairs"))
      val dFams = graft.core.Caches.track(famsOf(deltaHashes))
      // merged family state: rep = min across generations (least
      // skips nulls), sz adds
      val mergedFams = storeFams
        .join(dFams.select(col("ahash"), col("rep").as("_drep"),
          col("sz").as("_dsz")), Seq("ahash"), "full_outer")
        .select(col("ahash"), least(col("rep"), col("_drep")).as("rep"),
          (coalesce(col("sz"), lit(0L)) + coalesce(col("_dsz"), lit(0L)))
            .as("sz"))
      // hashes never seen before — the only source of NEW pairs
      val newHashes = graft.core.Caches.track(
        dFams.join(storeFams, Seq("ahash"), "left_anti")
          .select(col("ahash")))
      val newSegs = segsOf(newHashes)
      val allSegs = storeSegs.unionByName(newSegs)
      val newPairs = newSegs.alias("x")
        .join(allSegs.alias("y"), Seq("seg", "segval"))
        .where(col("x.ahash") =!= col("y.ahash"))
        .withColumn("hamming",
          bit_count(col("x.ahash").bitwiseXOR(col("y.ahash"))))
        .where(col("hamming") <= maxHamming)
        .select(least(col("x.ahash"), col("y.ahash")).as("ahash_a"),
          greatest(col("x.ahash"), col("y.ahash")).as("ahash_b"),
          col("hamming"))
        .distinct()
      (mergedFams, allSegs, storePairs.unionByName(newPairs).distinct())
    }

    /** Day-2 probe: the FULL corpus's near-dup family pairs
      * (id_a, id_b, hamming, sz_a, sz_b — the `q_image_dedup`
      * contract) from the persisted store plus delta-bounded work.
      * Read-only; [[absorb]] makes the merge durable. */
    def day2Pairs(spark: org.apache.spark.sql.SparkSession,
                  deltaHashes: DataFrame, tag: String,
                  maxHamming: Int): DataFrame = {
      val (mergedFams, _, mergedPairs) =
        deltaMerge(spark, deltaHashes, tag, maxHamming)
      renderPairs(mergedFams, mergedPairs)
    }

    /** Hash-level pairs → the id-level output contract: reps ordered
      * within the pair, each side carrying its own family size. */
    private def renderPairs(fams: DataFrame, pairs: DataFrame): DataFrame =
      pairs
        .join(fams.select(col("ahash").as("ahash_a"),
          col("rep").as("_ra"), col("sz").as("_sa")), Seq("ahash_a"))
        .join(fams.select(col("ahash").as("ahash_b"),
          col("rep").as("_rb"), col("sz").as("_sb")), Seq("ahash_b"))
        .select(
          least(col("_ra"), col("_rb")).as("id_a"),
          greatest(col("_ra"), col("_rb")).as("id_b"),
          col("hamming").cast("int").as("hamming"),
          when(col("_ra") < col("_rb"), col("_sa")).otherwise(col("_sb"))
            .as("sz_a"),
          when(col("_ra") < col("_rb"), col("_sb")).otherwise(col("_sa"))
            .as("sz_b"))

    /** Pairs straight off a persisted generation — the store IS the
      * answer after an absorb. */
    def pairsFromStore(spark: org.apache.spark.sql.SparkSession,
                       tag: String): DataFrame =
      renderPairs(spark.table(table(tag, "fams")), spark.table(table(tag, "pairs")))

    /** Re-persist generation N+1 from the delta merge (new tag — the
      * old generation stays readable until the rewrite commits). */
    def absorb(spark: org.apache.spark.sql.SparkSession, fromTag: String,
               toTag: String, deltaHashes: DataFrame, maxHamming: Int,
               buckets: Int = 8): Unit = {
      requireNewTag(fromTag, toTag)
      val (fams, segs, pairs) =
        deltaMerge(spark, deltaHashes, fromTag, maxHamming)
      persist(spark, fams, segs, pairs, toTag, buckets)
    }
  }
}
