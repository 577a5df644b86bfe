package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for LLM data pipelines.
  *
  * Images/audio/video are opaque `binary` columns with typed metadata.
  * The Spark-side plumbing — schema, partitioning, batched
  * per-partition processing (the Scala analog of `mapInPandas`) — is
  * real and tested. IMAGE decode is REAL end to end: pure-JVM header
  * parsing ([[ImageHeader]]) plus full pixel decode and resize
  * through the JDK's built-in `javax.imageio` (PNG/JPEG/GIF/BMP — no
  * external codec library). Only audio/video spectral decode remains
  * a clearly-marked DETERMINISTIC STUB (no codec exists in the JDK);
  * swapping one in changes one function body, every plan shape stays.
  */
object Multimodal {

  /** Pure-JVM image header probe — PNG / JPEG / GIF format and pixel
    * dimensions read directly from the payload's leading bytes, no
    * codec library. Runs inside the same batched mapPartitions as the
    * rest of feature extraction, so cost is one O(header) scan per
    * row with zero extra shuffles.
    */
  object ImageHeader {
    final case class Info(format: String, width: Int, height: Int)

    private def u8(b: Byte): Int = b & 0xff
    private def be16(b: Array[Byte], i: Int): Int = (u8(b(i)) << 8) | u8(b(i + 1))
    private def be32(b: Array[Byte], i: Int): Int =
      (u8(b(i)) << 24) | (u8(b(i + 1)) << 16) | (u8(b(i + 2)) << 8) | u8(b(i + 3))
    private def le16(b: Array[Byte], i: Int): Int = u8(b(i)) | (u8(b(i + 1)) << 8)

    private val PngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    /** PNG: 8-byte signature, then the IHDR chunk — width/height are
      * big-endian 32-bit at fixed offsets 16 and 20.
      */
    private def parsePng(b: Array[Byte]): Option[Info] =
      if (b.length >= 24 && b.take(8).sameElements(PngSig))
        Some(Info("png", be32(b, 16), be32(b, 20)))
      else None

    /** JPEG: SOI then a marker stream; walk segment lengths until a
      * start-of-frame marker (C0–CF minus C4/C8/CC), whose payload
      * carries height then width as big-endian 16-bit after the
      * precision byte.
      */
    private def parseJpeg(b: Array[Byte]): Option[Info] = {
      if (b.length < 4 || u8(b(0)) != 0xff || u8(b(1)) != 0xd8) return None
      def isSof(m: Int) = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
      var i = 2
      while (i + 3 < b.length) {
        if (u8(b(i)) != 0xff) return None
        var j = i
        while (j + 1 < b.length && u8(b(j + 1)) == 0xff) j += 1 // fill bytes
        val marker = u8(b(j + 1))
        if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd8)) i = j + 2
        else if (marker == 0xd9 || marker == 0xda) return None // EOI / entropy data, no SOF seen
        else {
          if (j + 3 >= b.length) return None
          val len = be16(b, j + 2)
          if (isSof(marker))
            return if (j + 9 <= b.length)
              Some(Info("jpeg", be16(b, j + 7), be16(b, j + 5)))
            else None
          i = j + 2 + len
        }
      }
      None
    }

    /** GIF87a/GIF89a: logical screen width/height, little-endian
      * 16-bit at offsets 6 and 8.
      */
    private def parseGif(b: Array[Byte]): Option[Info] = {
      val sigOk = b.length >= 10 &&
        b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a'
      if (sigOk) Some(Info("gif", le16(b, 6), le16(b, 8))) else None
    }

    def probe(b: Array[Byte]): Option[Info] =
      if (b == null) None
      else parsePng(b).orElse(parseJpeg(b)).orElse(parseGif(b))
  }

  /** Pure-JVM WAV (RIFF/WAVE) audio probe — no codec library. Walks
    * the chunk list for `fmt ` (channels, sample rate, bits/sample)
    * and `data` (payload length → frame count). Same contract as
    * [[ImageHeader]]: O(header) scan per row inside the batched
    * mapPartitions, zero extra shuffles.
    */
  object AudioHeader {
    final case class Info(format: String, channels: Int, sampleRate: Int,
                          bitsPerSample: Int, nFrames: Long) {
      def durationMs: Long =
        if (sampleRate <= 0) 0L else nFrames * 1000L / sampleRate
    }

    private def u8(b: Byte): Int = b & 0xff
    private def le16(b: Array[Byte], i: Int): Int = u8(b(i)) | (u8(b(i + 1)) << 8)
    private def le32(b: Array[Byte], i: Int): Long =
      (u8(b(i)) | (u8(b(i + 1)) << 8) | (u8(b(i + 2)) << 16).toLong |
        (u8(b(i + 3)).toLong << 24)) & 0xffffffffL

    private def tagIs(b: Array[Byte], i: Int, tag: String): Boolean =
      b(i) == tag(0) && b(i + 1) == tag(1) && b(i + 2) == tag(2) && b(i + 3) == tag(3)

    def probe(b: Array[Byte]): Option[Info] = {
      if (b == null || b.length < 44 ||
        !tagIs(b, 0, "RIFF") || !tagIs(b, 8, "WAVE")) return None
      var i = 12
      var channels = 0; var sampleRate = 0; var bits = 0; var dataLen = -1L
      var ok = true
      while (ok && i + 8 <= b.length) {
        val size = le32(b, i + 4)
        if (tagIs(b, i, "fmt ") && i + 24 <= b.length) {
          channels = le16(b, i + 10)
          sampleRate = le32(b, i + 12).toInt
          bits = le16(b, i + 22)
        } else if (tagIs(b, i, "data")) {
          dataLen = math.min(size, (b.length - i - 8).toLong)
        }
        // corrupt-size guard: a declared size past the payload end (or one
        // whose unsigned value overflows Int) would step 0/negative and
        // hang the executor — the declared chunk, if real, was truncated,
        // so nothing can follow it: stop the walk
        if (size > b.length - i - 8) ok = false
        else i += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
      }
      if (channels <= 0 || bits <= 0 || dataLen < 0) None
      else {
        val frameBytes = channels * (bits / 8)
        Some(Info("wav", channels, sampleRate, bits,
          if (frameBytes == 0) 0L else dataLen / frameBytes))
      }
    }

    /** Byte offset of the data chunk's payload, for sample decode. */
    private[Multimodal] def dataOffset(b: Array[Byte]): Option[(Int, Long)] = {
      var i = 12
      while (i + 8 <= b.length) {
        val size = le32(b, i + 4)
        if (tagIs(b, i, "data"))
          return Some((i + 8, math.min(size, (b.length - i - 8).toLong)))
        if (size > b.length - i - 8) return None // corrupt/truncated size: stop
        i += 8 + size.toInt + (size.toInt & 1)
      }
      None
    }
  }

  /** Build a PCM16 mono WAV payload from raw bytes (the standard
    * 44-byte RIFF header + the bytes as little-endian samples,
    * truncated to whole frames). Deterministic fixture generator —
    * lets the audio path run on reproducible content the same way
    * [[fromText]] feeds the generic path.
    */
  def wavFromPcmBytes(data: Array[Byte], sampleRate: Int = 16000): Array[Byte] = {
    val body = if (data.length % 2 == 0) data else data.dropRight(1)
    val byteRate = sampleRate * 2
    val out = java.nio.ByteBuffer.allocate(44 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + body.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(1.toShort) // PCM, mono
      .putInt(sampleRate).putInt(byteRate)
      .putShort(2.toShort).putShort(16.toShort) // block align, bits
      .put("data".getBytes("US-ASCII")).putInt(body.length)
      .put(body)
    out.array()
  }

  /** REAL PCM16 sample decode: RMS and peak amplitude over the data
    * chunk (normalized to [0,1], rounded 6dp) — the audio analog of
    * [[channelMeans]]: a header parse can't know them, only a real
    * decode can.
    */
  private def pcm16Stats(b: Array[Byte]): Option[(Double, Double)] =
    AudioHeader.dataOffset(b).map { case (off, len) =>
      val n = (len / 2).toInt
      var sumSq = 0.0; var peak = 0L
      var i = 0
      while (i < n) {
        val s = ((b(off + 2 * i) & 0xff) | (b(off + 2 * i + 1) << 8)).toShort.toLong
        sumSq += s.toDouble * s; if (math.abs(s) > peak) peak = math.abs(s)
        i += 1
      }
      def r6(x: Double) = math.round(x * 1e6) / 1e6
      if (n == 0) (0.0, 0.0)
      else (r6(math.sqrt(sumSq / n) / 32768.0), r6(peak.toDouble / 32768.0))
    }

  /** REAL RIFF/AVI container parse — the video sibling of
    * [[AudioHeader]] (AVI is RIFF like WAV). Reads the `avih` main
    * header (µs/frame, total frames, width, height) and walks the
    * `movi` list's `00db` chunks for frame extraction. The per-frame
    * pixel DECODE is where a codec library would plug in; the
    * container plumbing — schema, chunk walk, frame sampling, batch
    * shape — is real and tested.
    */
  object VideoHeader {
    final case class Info(width: Int, height: Int, nFrames: Long,
                          usPerFrame: Long) {
      def durationMs: Long = nFrames * usPerFrame / 1000L
      def fps: Int = if (usPerFrame <= 0) 0 else (1000000L / usPerFrame).toInt
    }

    private def u8(b: Byte): Int = b & 0xff
    private def le32(b: Array[Byte], i: Int): Long =
      (u8(b(i)) | (u8(b(i + 1)) << 8) | (u8(b(i + 2)) << 16).toLong |
        (u8(b(i + 3)).toLong << 24)) & 0xffffffffL
    private def tagIs(b: Array[Byte], i: Int, tag: String): Boolean =
      b(i) == tag(0) && b(i + 1) == tag(1) && b(i + 2) == tag(2) && b(i + 3) == tag(3)

    def probe(b: Array[Byte]): Option[Info] = {
      if (b == null || b.length < 12 ||
        !tagIs(b, 0, "RIFF") || !tagIs(b, 8, "AVI ")) return None
      var i = 12
      while (i + 8 <= b.length) {
        val size = le32(b, i + 4)
        if (tagIs(b, i, "LIST") && i + 12 <= b.length && tagIs(b, i + 8, "hdrl")) {
          // avih is the first chunk inside hdrl
          val j = i + 12
          if (j + 8 <= b.length && tagIs(b, j, "avih") && j + 8 + 40 <= b.length) {
            val usPerFrame = le32(b, j + 8)
            val totalFrames = le32(b, j + 8 + 16)
            val width = le32(b, j + 8 + 32).toInt
            val height = le32(b, j + 8 + 36).toInt
            if (width > 0 && height > 0 && usPerFrame > 0)
              return Some(Info(width, height, totalFrames, usPerFrame))
          }
          return None
        }
        if (size > b.length - i - 8) return None // corrupt/truncated size: stop
        i += 8 + size.toInt + (size.toInt & 1)
      }
      None
    }

    /** Payloads of every `00db` frame chunk inside the movi list. */
    private[operators] def frameChunks(b: Array[Byte]): Seq[Array[Byte]] = {
      val out = Seq.newBuilder[Array[Byte]]
      var i = 12
      while (i + 8 <= b.length) {
        val size = le32(b, i + 4)
        if (tagIs(b, i, "LIST") && i + 12 <= b.length && tagIs(b, i + 8, "movi")) {
          var j = i + 12
          val end = math.min(i + 8 + size, b.length.toLong).toInt
          var ok = true
          while (ok && j + 8 <= end) {
            val fsize = le32(b, j + 4)
            if (tagIs(b, j, "00db") && j + 8 + fsize <= end)
              out += java.util.Arrays.copyOfRange(b, j + 8, j + 8 + fsize.toInt)
            if (fsize > end - j - 8) ok = false // corrupt frame size: stop
            else j += 8 + fsize.toInt + (fsize.toInt & 1)
          }
          return out.result()
        }
        if (size > b.length - i - 8) return out.result() // corrupt size: stop
        i += 8 + size.toInt + (size.toInt & 1)
      }
      out.result()
    }
  }

  /** Build a minimal raw-RGB AVI payload: RIFF(AVI ) → LIST(hdrl)
    * with a 56-byte `avih`, then LIST(movi) of `00db` frame chunks.
    * Deterministic fixture generator — the video twin of
    * [[wavFromPcmBytes]].
    */
  def aviFromFrames(frames: Seq[Array[Byte]], width: Int, height: Int,
                    fps: Int = 10): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    def le32(v: Long): Unit = {
      bo.write((v & 0xff).toInt); bo.write(((v >> 8) & 0xff).toInt)
      bo.write(((v >> 16) & 0xff).toInt); bo.write(((v >> 24) & 0xff).toInt)
    }
    def tag(t: String): Unit = t.foreach(c => bo.write(c & 0xff))
    val moviSize = 4 + frames.map(f => 8L + f.length + (f.length & 1)).sum
    val hdrlSize = 4 + 8 + 56
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    tag("RIFF"); le32(riffSize); tag("AVI ")
    tag("LIST"); le32(hdrlSize); tag("hdrl")
    tag("avih"); le32(56)
    le32(1000000L / fps)            // µs per frame
    le32(0); le32(0); le32(0)       // maxBytesPerSec, padding, flags
    le32(frames.size)               // total frames
    le32(0); le32(1); le32(0)       // initialFrames, streams, bufferSize
    le32(width); le32(height)
    (0 until 4).foreach(_ => le32(0)) // reserved
    tag("LIST"); le32(moviSize); tag("movi")
    frames.foreach { f =>
      tag("00db"); le32(f.length); bo.write(f, 0, f.length)
      if ((f.length & 1) == 1) bo.write(0)
    }
    bo.toByteArray
  }

  /** Evenly-spaced frame SAMPLE from an AVI payload: up to `k` real
    * `00db` chunk payloads (index stride ⌈n/k⌉) — the frame-sample
    * stage a vision pipeline runs before per-frame decode. Returns
    * the sampled frames with their frame indices.
    */
  def sampleVideoFrames(b: Array[Byte], k: Int): Seq[(Int, Array[Byte])] = {
    val all = VideoHeader.frameChunks(b)
    if (all.isEmpty || k <= 0) return Seq.empty
    val stride = math.max(1, (all.size + k - 1) / k)
    all.indices.by(stride).take(k).map(i => (i, all(i)))
  }

  final case class VideoFeatures(
      media_id: Long, width: Option[Int], height: Option[Int],
      n_frames: Option[Long], fps: Option[Int], duration_ms: Option[Long],
      sampled_frames: Option[Int], sampled_md5: Option[String])

  /** Batched per-partition video feature extraction — the same
    * mapPartitions shape as [[extractAudioFeatures]]: header fields
    * from the REAL [[VideoHeader]] parse, plus an evenly-spaced frame
    * sample whose md5 proves the real chunk payloads were extracted
    * (a header-only parse could not know it). Non-AVI payloads yield
    * all-None features and pass through.
    */
  def extractVideoFeatures(media: DataFrame, sampleK: Int = 4,
                           batchSize: Int = 64): Dataset[VideoFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "content").as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            val h = VideoHeader.probe(bytes)
            val sampled = h.map(_ => sampleVideoFrames(bytes, sampleK))
            val md5 = sampled.filter(_.nonEmpty).map { fs =>
              val d = java.security.MessageDigest.getInstance("MD5")
              fs.foreach { case (_, f) => d.update(f) }
              d.digest().map("%02x".format(_)).mkString
            }
            VideoFeatures(id, h.map(_.width), h.map(_.height),
              h.map(_.nFrames), h.map(_.fps), h.map(_.durationMs),
              sampled.map(_.size), md5)
          }
        }
      }
  }

  final case class AudioFeatures(
      media_id: Long, format: Option[String], channels: Option[Int],
      sample_rate: Option[Int], n_frames: Option[Long],
      duration_ms: Option[Long], rms: Option[Double], peak: Option[Double])

  /** Batched per-partition audio feature extraction — same
    * mapPartitions shape as [[extractFeatures]]: header fields from
    * [[AudioHeader]], RMS/peak from the real sample decode.
    * Non-WAV payloads yield all-None features and pass through.
    */
  def extractAudioFeatures(media: DataFrame,
                           batchSize: Int = 64): Dataset[AudioFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "content").as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            val h = AudioHeader.probe(bytes)
            val stats = h.flatMap(_ => pcm16Stats(bytes))
            AudioFeatures(id, h.map(_.format), h.map(_.channels),
              h.map(_.sampleRate), h.map(_.nFrames), h.map(_.durationMs),
              stats.map(_._1), stats.map(_._2))
          }
        }
      }
  }

  /** Fill `meta.duration_ms/sample_rate` from REAL WAV header parsing
    * — the audio twin of [[withImageMeta]]; unrecognized payloads keep
    * their meta untouched.
    */
  def withAudioMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "content", "meta").as[MediaRow]
      .mapPartitions(_.map { r =>
        AudioHeader.probe(r.content) match {
          case Some(info) => r.copy(meta = r.meta.copy(
            duration_ms = Some(info.durationMs),
            sample_rate = Some(info.sampleRate)))
          case None => r
        }
      }).toDF()
  }

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType),
      StructField("sample_rate", IntegerType))))))

  /** Deterministic fake media table from a text corpus: the UTF-8
    * bytes become the binary payload. Lets every downstream stage be
    * exercised with reproducible content.
    */
  def fromText(df: DataFrame, idCol: String, textCol: String,
               kind: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(kind).as("kind"),
      col(textCol).cast("binary").as("content"),
      struct(
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms"),
        lit(null).cast("int").as("sample_rate")).as("meta"))

  final case class MediaFeatures(
      media_id: Long,
      byte_len: Long,
      content_md5: String,
      frame_offsets: String,
      fake_brightness: Long,
      image_format: Option[String],
      width: Option[Int],
      height: Option[Int],
      mean_r: Option[Double],
      mean_g: Option[Double],
      mean_b: Option[Double])

  /** REAL pixel decode via the JDK's ImageIO (headless-safe; no
    * external codec). Gated behind [[ImageHeader.probe]] so arbitrary
    * binary payloads never pay a decoder attempt.
    */
  private def decodeImage(content: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Per-channel pixel means rounded to 4 dp — the canonical "did the
    * decode really happen" feature (a header parse can't know them).
    */
  private def channelMeans(img: java.awt.image.BufferedImage): (Double, Double, Double) = {
    var (r, g, b) = (0L, 0L, 0L)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
        x += 1
      }
      y += 1
    }
    val n = img.getWidth.toLong * img.getHeight
    def m(s: Long) = math.round(s.toDouble / n * 10000).toDouble / 10000
    (m(r), m(g), m(b))
  }

  /** 64-bit average-hash (aHash) over REAL decoded pixels: 8×8
    * block-mean luminance grid; bit k set iff block k is brighter
    * than the grid mean. Block averaging is done manually over the
    * exact decoded pixels — deliberately NOT via a Graphics2D scaler,
    * whose filtering varies across JVMs/platforms and would make the
    * hash non-reproducible. Deterministic, so near-dup detection on
    * it is partitioning- and platform-invariant.
    */
  private[operators] def aHash(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val lum = new Array[Double](64)
    var k = 0
    while (k < 64) {
      val bx = k % 8; val by = k / 8
      val x0 = bx * w / 8
      val x1 = math.max(x0 + 1, (bx + 1) * w / 8)
      val y0 = by * h / 8
      val y1 = math.max(y0 + 1, (by + 1) * h / 8)
      var s = 0.0; var n = 0
      var y = y0
      while (y < y1 && y < h) {
        var x = x0
        while (x < x1 && x < w) {
          val p = img.getRGB(x, y)
          s += 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
            0.114 * (p & 0xff)
          n += 1; x += 1
        }
        y += 1
      }
      lum(k) = if (n == 0) 0.0 else s / n
      k += 1
    }
    val mean = lum.sum / 64
    lum.indices.foldLeft(0L)((acc, i) =>
      if (lum(i) > mean) acc | (1L << i) else acc)
  }

  final case class ImageHash(media_id: Long, ahash: Option[Long])

  /** Batched per-partition perceptual hashing — the same mapPartitions
    * shape as [[extractFeatures]]; non-image payloads hash to None and
    * pass through.
    */
  def imageAHashes(media: DataFrame, batchSize: Int = 64): Dataset[ImageHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "content").as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            ImageHash(id,
              ImageHeader.probe(bytes).flatMap(_ => decodeImage(bytes)).map(aHash))
          }
        }
      }
  }

  /** Banded Hamming self-join over 64-bit perceptual hashes — the
    * shared engine under image/audio/video near-dup: four 16-bit
    * bands of the hash become equi-join keys (pigeonhole: Hamming ≤ 3
    * forces at least one identical band), candidates verify with the
    * exact `bit_count(xor)` distance. Same scale shape as the text
    * band joins: hashing is a map-side projection, the only shuffle
    * is the band equi-join, no cartesian anywhere. `extraKeys` adds
    * alignment columns to the band key (e.g. frame index for video,
    * so frames compare position-aligned).
    */
  private def bandedHammingPairs(hashes: DataFrame, idCol: String,
                                 hashCol: String, maxHamming: Int,
                                 extraKeys: Seq[String] = Nil): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 x 16-bit bands guarantee recall only for Hamming <= 3, got $maxHamming")
    val nn = hashes.filter(col(hashCol).isNotNull)
    val bands = (0 until 4).map { b =>
      nn.select((extraKeys.map(col) :+ col(idCol) :+ col(hashCol) :+
        lit(b).as("band_id") :+
        shiftright(col(hashCol), b * 16).bitwiseAND(lit(0xffffL))
          .as("band_key")): _*)
    }.reduce(_ unionByName _)
    def side(n: Int) = bands.select(
      (extraKeys.map(col) :+ col("band_id") :+ col("band_key") :+
        col(idCol).as(s"id_$n") :+ col(hashCol).as(s"h_$n")): _*)
    side(1).join(side(2), extraKeys ++ Seq("band_id", "band_key"))
      .filter(col("id_1") < col("id_2"))
      .withColumn("hamming", bit_count(col("h_1").bitwiseXOR(col("h_2"))))
      .filter(col("hamming") <= maxHamming)
      .select((extraKeys.map(col) :+ col("id_1") :+ col("id_2") :+
        col("hamming")): _*)
      .dropDuplicates(Seq("id_1", "id_2") ++ extraKeys)
  }

  /** Near-duplicate image pairs by banded aHash — see
    * [[bandedHammingPairs]] for the join shape.
    */
  def imageNearDupPairs(media: DataFrame, maxHamming: Int = 3): DataFrame =
    bandedHammingPairs(imageAHashes(media).toDF(), "media_id", "ahash",
      maxHamming)

  /** 64-bit audio fingerprint over the REAL PCM16 decode: 64 block
    * MEAN-ENERGY values across the data chunk; bit k set iff block
    * k's energy exceeds the track mean — loudness structure, robust
    * to small sample perturbations the way aHash is to pixel noise.
    * Tracks shorter than 64 samples don't fingerprint.
    *
    * Arithmetic is ENGINE-REPRODUCIBLE by construction (the DuckDB
    * oracle `mm_audio_hash` re-derives the hash bit-for-bit): each
    * block's Σv² is an exact Long, the per-block energy is ONE IEEE
    * division of exact integers, and the track mean is a fixed-order
    * left-fold of the 64 energies — no order-dependent float
    * accumulation anywhere.
    */
  private[operators] def audioHash(b: Array[Byte]): Option[Long] =
    AudioHeader.dataOffset(b).flatMap { case (off, len) =>
      val n = (len / 2).toInt
      if (n < 64) None
      else {
        val energy = new Array[Double](64)
        var k = 0
        while (k < 64) {
          val i0 = k * n / 64
          val i1 = (k + 1) * n / 64 // n >= 64 ⇒ i1 > i0, blocks partition [0,n)
          var s = 0L
          var i = i0
          while (i < i1) {
            val v = ((b(off + 2 * i) & 0xff) | (b(off + 2 * i + 1) << 8))
              .toShort.toLong
            s += v * v; i += 1
          }
          energy(k) = s.toDouble / (i1 - i0)
          k += 1
        }
        var mean = 0.0
        var j = 0
        while (j < 64) { mean += energy(j); j += 1 }
        mean /= 64
        Some(energy.indices.foldLeft(0L)((acc, i) =>
          if (energy(i) > mean) acc | (1L << i) else acc))
      }
    }

  final case class AudioHashRow(media_id: Long, audio_hash: Option[Long])

  /** Batched per-partition audio fingerprinting — the audio sibling
    * of [[imageAHashes]]; non-WAV payloads hash to None.
    */
  def audioHashes(media: DataFrame, batchSize: Int = 64): Dataset[AudioHashRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "content").as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            AudioHashRow(id,
              Option(bytes).filter(AudioHeader.probe(_).isDefined)
                .flatMap(audioHash))
          }
        }
      }
  }

  /** Near-duplicate audio pairs by banded block-RMS fingerprint. */
  def audioNearDupPairs(media: DataFrame, maxHamming: Int = 3): DataFrame =
    bandedHammingPairs(audioHashes(media).toDF(), "media_id", "audio_hash",
      maxHamming)

  /** aHash over a raw RGB888 frame buffer (the payload our AVI
    * container carries): 8×8 block-mean luminance, same grid and
    * bit rule as the image [[aHash]].
    */
  private[operators] def rgbFrameHash(frame: Array[Byte], w: Int,
                                      h: Int): Option[Long] = {
    if (frame == null || w <= 0 || h <= 0 || frame.length < w * h * 3) None
    else {
      val lum = new Array[Double](64)
      var k = 0
      while (k < 64) {
        val bx = k % 8; val by = k / 8
        val x0 = bx * w / 8; val x1 = math.max(x0 + 1, (bx + 1) * w / 8)
        val y0 = by * h / 8; val y1 = math.max(y0 + 1, (by + 1) * h / 8)
        var s = 0.0; var n = 0
        var y = y0
        while (y < y1 && y < h) {
          var x = x0
          while (x < x1 && x < w) {
            val p = (y * w + x) * 3
            s += 0.299 * (frame(p) & 0xff) + 0.587 * (frame(p + 1) & 0xff) +
              0.114 * (frame(p + 2) & 0xff)
            n += 1; x += 1
          }
          y += 1
        }
        lum(k) = if (n == 0) 0.0 else s / n
        k += 1
      }
      val mean = lum.sum / 64
      Some(lum.indices.foldLeft(0L)((acc, i) =>
        if (lum(i) > mean) acc | (1L << i) else acc))
    }
  }

  final case class VideoFrameHash(media_id: Long, frame_idx: Int,
                                  frame_hash: Long)

  /** Per-sampled-frame perceptual hashes for AVI payloads: the real
    * container walk supplies raw RGB frames; each sampled frame gets
    * the 8×8 aHash. `frame_idx` is the SAMPLE position (0..k-1), so
    * equal-length videos compare position-aligned.
    */
  def videoFrameHashes(media: DataFrame, sampleK: Int = 4,
                       batchSize: Int = 64): Dataset[VideoFrameHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "content").as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { case (id, bytes) =>
            VideoHeader.probe(bytes).toSeq.flatMap { h =>
              sampleVideoFrames(bytes, sampleK).zipWithIndex.flatMap {
                case ((_, frame), si) =>
                  rgbFrameHash(frame, h.width, h.height)
                    .map(VideoFrameHash(id, si, _))
              }
            }
          }
        }
      }
  }

  /** Near-duplicate video pairs: frames band-join position-aligned
    * (the sample index is part of the join key), then videos pair
    * when at least `minMatchingFrames` of their sampled frames are
    * within `maxHamming`. Output (id_1, id_2, n_matching_frames).
    */
  def videoNearDupPairs(media: DataFrame, sampleK: Int = 4,
                        maxHamming: Int = 3,
                        minMatchingFrames: Int = 3): DataFrame = {
    val framePairs = bandedHammingPairs(
      videoFrameHashes(media, sampleK).toDF(), "media_id", "frame_hash",
      maxHamming, extraKeys = Seq("frame_idx"))
    framePairs.groupBy("id_1", "id_2")
      .agg(count(lit(1)).cast("int").as("n_matching_frames"))
      .filter(col("n_matching_frames") >= minMatchingFrames)
  }

  /** Per-row decode: header probe + REAL pixel decode (ImageIO) for
    * image payloads; non-image payloads (audio/video/text bytes) get
    * the stable pseudo-features — the ─── STUB ─── path a spectral
    * codec would replace (changes only this body).
    */
  private def decode(mediaId: Long, content: Array[Byte],
                     numFrames: Int): MediaFeatures = {
    val len = if (content == null) 0L else content.length.toLong
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(if (content == null) Array.emptyByteArray else content)
      .map("%02x".format(_)).mkString
    // frame sampling: numFrames evenly spaced byte offsets
    val offsets = (0 until numFrames).map(i => i * len / numFrames)
    val header = ImageHeader.probe(content)
    val means = header.flatMap(_ => decodeImage(content)).map(channelMeans)
    MediaFeatures(mediaId, len, md5, offsets.mkString(","), len % 256,
      header.map(_.format), header.map(_.width), header.map(_.height),
      means.map(_._1), means.map(_._2), means.map(_._3))
  }

  /** Batched per-partition feature extraction — the `mapInPandas`
    * shape: partitions stream through in fixed-size batches (batch
    * boundary = where a vectorized decoder would amortize setup), no
    * driver collection, output is a typed Dataset.
    */
  def extractFeatures(media: DataFrame, numFrames: Int = 4,
                      batchSize: Int = 64): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "content").as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // batch boundary = where a vectorized decoder amortizes setup
          batch.iterator.map { case (id, bytes) =>
            decode(id, bytes, numFrames)
          }
        }
      }
  }

  final case class MediaMeta(width: Option[Int], height: Option[Int],
                             duration_ms: Option[Long], sample_rate: Option[Int])
  final case class MediaRow(media_id: Long, kind: String,
                            content: Array[Byte], meta: MediaMeta)

  /** Fill `meta.width/height` from REAL header parsing of the binary
    * payload (PNG/JPEG/GIF). Same mapPartitions shape as
    * [[extractFeatures]]; rows whose payload isn't a recognized image
    * keep their existing meta untouched.
    */
  def withImageMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "content", "meta").as[MediaRow]
      .mapPartitions(_.map { r =>
        ImageHeader.probe(r.content) match {
          case Some(info) => r.copy(meta =
            r.meta.copy(width = Some(info.width), height = Some(info.height)))
          case None => r
        }
      }).toDF()
  }

  /** Metadata-only resize stub: plumbing for a resize stage — updates
    * the typed meta struct without touching payloads (see
    * [[resizeImages]] for the real payload-rewriting path).
    */
  def resizeMeta(media: DataFrame, width: Int, height: Int): DataFrame =
    media.withColumn("meta",
      struct(
        lit(width).as("width"),
        lit(height).as("height"),
        col("meta.duration_ms").as("duration_ms"),
        col("meta.sample_rate").as("sample_rate")))

  /** REAL image resize: decode (ImageIO) → area-averaging scale →
    * re-encode as PNG, payload and meta rewritten in the same
    * mapPartitions shape as [[extractFeatures]]. Rows whose payload
    * isn't a decodable image pass through untouched (the multimodal
    * convention: a stage transforms its modality and forwards the
    * rest).
    */
  def resizeImages(media: DataFrame, width: Int, height: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "content", "meta").as[MediaRow]
      .mapPartitions(_.map { r =>
        val resized = Option(r.content)
          .filter(c => ImageHeader.probe(c).isDefined)
          .flatMap(decodeImage).map { img =>
            val scaled = new java.awt.image.BufferedImage(
              width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = scaled.createGraphics()
            try g.drawImage(
              img.getScaledInstance(width, height, java.awt.Image.SCALE_AREA_AVERAGING),
              0, 0, null)
            finally g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(scaled, "png", bos)
            bos.toByteArray
          }
        resized match {
          case Some(bytes) => r.copy(content = bytes,
            meta = r.meta.copy(width = Some(width), height = Some(height)))
          case None => r
        }
      }).toDF()
  }
}
