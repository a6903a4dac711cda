package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads travel as
  * opaque `binary` columns with a typed metadata struct, and
  * decode/feature-extract runs as `mapPartitions` over the binary
  * column — the Scala analog of a Pandas-UDF batch stage.
  *
  * [[Decoders]] carries two REAL pure-JVM codecs (P6/PPM and
  * uncompressed 24-bit BMP — full header + pixel-plane parses), the
  * JDK's ImageIO readers (PNG/JPEG/GIF — real decodes, no new
  * dependency), and a deterministic Karp–Rabin fake standing in for
  * the remaining codecs (video/audio — ffmpeg-class work the JVM
  * doesn't ship). The resize stage really resamples decodable pixels
  * (nearest-neighbor, re-encoded P6). Everything around the
  * per-payload call — schema, batching, partition flow, output
  * shape — is the real production plumbing; swapping the fake for a
  * JNI/javacpp media decoder is a one-function change.
  */
object Multimodal {

  /** Typed metadata carried alongside every media payload. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", LongType)
  ))

  /** Wrap a raw binary column into the (payload, meta) shape. Byte-length
    * metadata is computed inline (codegen); format/dims are filled by the
    * decoder stage since they require parsing the container.
    */
  def asMedia(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("media_meta", struct(
      lit(null).cast(StringType).as("format"),
      lit(null).cast(IntegerType).as("width"),
      lit(null).cast(IntegerType).as("height"),
      length(col(binCol)).cast(LongType).as("n_bytes")
    ))

  /** Feature schema produced by the decode stage. */
  def decodedSchema(idField: StructField): StructType = StructType(Seq(
    idField,
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", LongType),
    StructField("features", ArrayType(FloatType))
  ))

  /** Payload decoders. Six codec tiers behind one dispatch:
    *
    *  - a REAL pure-JVM P6 (binary PPM) parser — header (magic,
    *    whitespace/comments, width, height, maxval) plus the full RGB
    *    pixel plane, rejecting truncated or corrupt payloads;
    *  - a REAL pure-JVM uncompressed 24-bit BMP parser — BITMAPFILEHEADER
    *    + BITMAPINFOHEADER, 4-byte row padding, bottom-up AND top-down
    *    orientations, BGR order — same corrupt-input rejection;
    *  - the JDK's ImageIO readers ([[imageIoRaster]]) — REAL PNG/JPEG/
    *    GIF decodes via `javax.imageio`, zero new dependencies;
    *  - a REAL pure-JVM WAV parser ([[parseWav]]) — RIFF chunk walk,
    *    8/16-bit integer PCM, 1–8 channels — yielding duration/RMS/
    *    peak/zero-crossing features over the interleaved frames;
    *  - a REAL pure-JVM AVI container parser ([[parseAvi]]) — RIFF →
    *    `LIST hdrl` → `avih` — yielding genuine video metadata
    *    (dims, frame count, fps, streams); frame pixels stay with the
    *    fallback, the honest boundary where a codec would be needed;
    *  - the deterministic Karp–Rabin fake for every remaining payload
    *    (`acc*31 + code mod 1e9+7` over the normalized UTF-8 text, the
    *    same kernel as [[graft.functions.KrHashExpression]]), standing
    *    in for ffmpeg-class compressed audio/video codecs the JVM
    *    doesn't ship.
    *    Its exact modular arithmetic keeps the decode *plumbing* under
    *    a full cross-engine rows+schema+hash gate.
    *
    * Every real codec parses to one [[Raster]] shape (geometry + a
    * pixel accessor — zero-copy over the payload bytes for P6/BMP, a
    * flattened RGB plane for ImageIO formats), so the feature stats
    * and the [[Multimodal.resize]] resample are written once and serve
    * every decodable format. Swapping the fake for a JNI/javacpp media
    * decoder is a one-function change.
    */
  object Decoders {
    val featureDim = 8
    private val P = 1000000007L

    /** A parsed image: geometry plus a zero-copy pixel accessor over
      * the payload bytes. `pix(x, y)` returns RGB packed as 0xRRGGBB
      * with (0,0) top-left regardless of the container's row order.
      */
    private[operators] final class Raster(
        val format: String,
        val width: Int,
        val height: Int,
        val maxval: Int,
        bytes: Array[Byte],
        dataOff: Int,
        rowStride: Int,
        bottomUp: Boolean,
        bgr: Boolean) {
      def pix(x: Int, y: Int): Int = {
        val row = if (bottomUp) height - 1 - y else y
        val o = dataOff + row * rowStride + x * 3
        if (bgr)
          ((bytes(o + 2) & 0xff) << 16) | ((bytes(o + 1) & 0xff) << 8) | (bytes(o) & 0xff)
        else
          ((bytes(o) & 0xff) << 16) | ((bytes(o + 1) & 0xff) << 8) | (bytes(o + 2) & 0xff)
      }
    }

    private def isPpmWs(b: Byte): Boolean =
      b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == '\f' || b == 0x0b

    /** Real P6 parse: `"P6" <ws> width <ws> height <ws> maxval <one ws>
      * <w*h*3 raw bytes>`, `#`-comments legal inside header whitespace
      * (netpbm spec). Returns None for anything malformed — bad magic,
      * missing fields, maxval outside (0, 255] (2-byte samples not
      * supported), or a pixel plane shorter than the header promises —
      * so corrupt media degrades to the fallback codec instead of
      * throwing mid-partition.
      */
    private[operators] def parsePpm(bytes: Array[Byte]): Option[Raster] = {
      if (bytes == null || bytes.length < 12 ||
        bytes(0) != 'P' || bytes(1) != '6') return None
      var i = 2
      def skipWs(): Boolean = {
        val start = i
        var loop = true
        while (loop && i < bytes.length) {
          if (isPpmWs(bytes(i))) i += 1
          else if (bytes(i) == '#') {
            while (i < bytes.length && bytes(i) != '\n') i += 1
          } else loop = false
        }
        i > start
      }
      def readInt(): Int = {
        var v = 0L
        val start = i
        while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9' && v <= Int.MaxValue) {
          v = v * 10 + (bytes(i) - '0'); i += 1
        }
        if (i == start || v > Int.MaxValue) -1 else v.toInt
      }
      if (!skipWs()) return None
      val w = readInt(); if (w <= 0) return None
      if (!skipWs()) return None
      val h = readInt(); if (h <= 0) return None
      if (!skipWs()) return None
      val maxval = readInt(); if (maxval <= 0 || maxval > 255) return None
      // exactly ONE whitespace byte separates maxval from the raster
      if (i >= bytes.length || !isPpmWs(bytes(i))) return None
      i += 1
      // divide rather than multiply: w and h can each approach 2^31,
      // so w*h*3 would overflow Long and let an adversarial header
      // through to an out-of-bounds pixel read
      if (w.toLong * h > (bytes.length - i).toLong / 3) return None // truncated
      // rowStride w*3 is safe: w*h*3 ≤ bytes.length was just checked
      Some(new Raster("ppm", w, h, maxval, bytes, i, w * 3,
        bottomUp = false, bgr = false))
    }

    /** Real uncompressed 24-bit BMP parse: 'BM' magic, pixel-array
      * offset from BITMAPFILEHEADER, width/height/planes/bpp/compression
      * from BITMAPINFOHEADER (DIB size ≥ 40 accepts the V4/V5 variants
      * too — their headers extend, the core fields don't move). Rows
      * are padded to 4 bytes; positive height means bottom-up storage,
      * negative means top-down (both legal, both handled). Anything
      * else — wrong magic, bpp ≠ 24, compression ≠ BI_RGB, a pixel
      * array that overruns the payload — returns None and degrades to
      * the fallback codec, same contract as [[parsePpm]].
      */
    private[operators] def parseBmp(bytes: Array[Byte]): Option[Raster] = {
      if (bytes == null || bytes.length < 54 ||
        bytes(0) != 'B' || bytes(1) != 'M') return None
      def le16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
      def le32(o: Int): Long =
        (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
          ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
      def le32s(o: Int): Int = le32(o).toInt
      val dataOff = le32(10)
      val dibSize = le32(14)
      val w = le32s(18)
      val hRaw = le32s(22)
      // hRaw == Int.MinValue must be rejected explicitly: math.abs of
      // it stays NEGATIVE, which would slip through the plane-size
      // bound (negative product is never > remaining bytes) and hand
      // out a raster with negative height
      if (dibSize < 40 || w <= 0 || hRaw == 0 || hRaw == Int.MinValue) return None
      if (le16(26) != 1 || le16(28) != 24 || le32(30) != 0L) return None
      val h = math.abs(hRaw)
      if (w > (Int.MaxValue - 3) / 3) return None
      val rowStride = (w * 3 + 3) / 4 * 4
      if (dataOff < 54 || dataOff > bytes.length ||
        rowStride.toLong * h > bytes.length - dataOff) return None
      Some(new Raster("bmp", w, h, 255, bytes, dataOff.toInt, rowStride,
        bottomUp = hRaw > 0, bgr = true))
    }

    /** JDK ImageIO decode (PNG/JPEG/GIF/BMP — whatever readers the JVM
      * registers) normalized into the same [[Raster]] shape as the
      * hand-rolled codecs: the decoded ARGB plane is flattened to a
      * packed RGB byte plane so [[rasterStats]] and
      * [[resampleNearestP6]] serve ImageIO formats unchanged. Format
      * name comes from the matched reader (`"jpeg"`, `"png"`, `"gif"`),
      * lowercased. Corrupt or unrecognized payloads — no registered
      * reader claims the magic, or the codec throws mid-decode — return
      * None and degrade to the fallback, the same contract as
      * [[parsePpm]]/[[parseBmp]]; a decode failure must never kill a
      * 100 TB partition.
      */
    private[operators] def imageIoRaster(bytes: Array[Byte]): Option[Raster] = {
      if (bytes == null || bytes.length < 8) return None
      try {
        // NOT ImageIO.createImageInputStream: with the default
        // useCache=true that wraps the stream in a disk-backed
        // FileCacheImageInputStream — a temp file per payload inside
        // the mapPartitions hot loop. The bytes are already in memory;
        // the memory-cache stream does zero disk traffic.
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) return None
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            val fmt = reader.getFormatName.toLowerCase(java.util.Locale.ROOT) match {
              case "jpg" => "jpeg"
              case other => other
            }
            val img = reader.read(0)
            val w = img.getWidth
            val h = img.getHeight
            if (w <= 0 || h <= 0 || w.toLong * h * 3 > Int.MaxValue - 64) return None
            val plane = new Array[Byte](w * h * 3)
            val rowBuf = new Array[Int](w)
            var y = 0
            var o = 0
            while (y < h) {
              img.getRGB(0, y, w, 1, rowBuf, 0, w)
              var x = 0
              while (x < w) {
                val p = rowBuf(x)
                plane(o) = (p >> 16).toByte
                plane(o + 1) = (p >> 8).toByte
                plane(o + 2) = p.toByte
                o += 3; x += 1
              }
              y += 1
            }
            Some(new Raster(fmt, w, h, 255, plane, 0, w * 3,
              bottomUp = false, bgr = false))
          } finally reader.dispose()
        } finally if (iis != null) iis.close()
      } catch {
        case scala.util.control.NonFatal(_) => None
      }
    }

    private[operators] def parseRaster(bytes: Array[Byte]): Option[Raster] =
      parsePpm(bytes).orElse(parseBmp(bytes)).orElse(imageIoRaster(bytes))

    /** The shared feature extractor (all in [0, 1], one pass over the
      * plane): mean R/G/B, mean/min/max luminance (ITU-R 601 weights),
      * contrast (max-min luminance), nonzero-pixel fraction.
      */
    private def rasterStats(ra: Raster): Array[Float] = {
      var (sr, sg, sb) = (0.0, 0.0, 0.0)
      var minL = Double.MaxValue; var maxL = 0.0; var nonzero = 0L
      var y = 0
      while (y < ra.height) {
        var x = 0
        while (x < ra.width) {
          val p = ra.pix(x, y)
          val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
          sr += r; sg += g; sb += b
          val lum = 0.299 * r + 0.587 * g + 0.114 * b
          if (lum < minL) minL = lum
          if (lum > maxL) maxL = lum
          if (r + g + b > 0) nonzero += 1
          x += 1
        }
        y += 1
      }
      val m = ra.maxval.toDouble
      val n = ra.width.toDouble * ra.height
      val meanLum = (0.299 * sr + 0.587 * sg + 0.114 * sb) / n / m
      Array(
        (sr / n / m).toFloat, (sg / n / m).toFloat, (sb / n / m).toFloat,
        meanLum.toFloat, (minL / m).toFloat, (maxL / m).toFloat,
        ((maxL - minL) / m).toFloat, (nonzero / n).toFloat)
    }

    /** P6 decode → (format, width, height, features); see [[parsePpm]]
      * for the accepted grammar and [[rasterStats]] for the features.
      */
    def decodePpm(bytes: Array[Byte]): Option[(String, Int, Int, Array[Float])] =
      parsePpm(bytes).map(r => (r.format, r.width, r.height, rasterStats(r)))

    /** Uncompressed 24-bit BMP decode — same output contract as
      * [[decodePpm]], same feature stats, via [[parseBmp]].
      */
    def decodeBmp(bytes: Array[Byte]): Option[(String, Int, Int, Array[Float])] =
      parseBmp(bytes).map(r => (r.format, r.width, r.height, rasterStats(r)))

    /** Deterministic fake for payloads no real codec accepts (text
      * standing in for video/audio media): format/dims/features from
      * the portable KR fingerprint — exact modular arithmetic a SQL
      * oracle reproduces.
      */
    def decodeFake(bytes: Array[Byte]): (String, Int, Int, Array[Float]) = {
      val h = graft.functions.KrHashExpression.compute(
        org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes))
      val fmt = if (h % 2 == 0) "png" else "jpg"
      val w = (16 + h % 1024).toInt
      val ht = (16 + (h / 1024) % 1024).toInt
      val feats = Array.tabulate(featureDim) { i =>
        // stable per-content feature in [-1, 1]
        ((h * 31 + i * 2654435761L) % P).toFloat / P * 2f - 1f
      }
      (fmt, w, ht, feats)
    }

    /** A parsed PCM audio clip: geometry plus a zero-copy sample
      * accessor over the payload bytes (the audio analog of [[Raster]]).
      * `sample(frame, ch)` is normalized to [-1, 1].
      */
    private[operators] final class AudioClip(
        val channels: Int,
        val sampleRate: Int,
        val bitsPerSample: Int,
        val nFrames: Int,
        bytes: Array[Byte],
        dataOff: Int) {
      def sample(frame: Int, ch: Int): Double =
        if (bitsPerSample == 8) {
          // 8-bit WAV is UNSIGNED, midpoint 128
          ((bytes(dataOff + frame * channels + ch) & 0xff) - 128) / 128.0
        } else {
          // 16-bit WAV is SIGNED little-endian
          val o = dataOff + (frame * channels + ch) * 2
          (((bytes(o) & 0xff) | (bytes(o + 1) << 8)).toShort) / 32768.0
        }

      /** The raw INTEGER sample (8-bit recentered to signed, 16-bit as
        * stored) — the exact-arithmetic accessor the fingerprint path
        * uses so its energies replay bit-for-bit in an oracle.
        */
      def rawSample(frame: Int, ch: Int): Int =
        if (bitsPerSample == 8)
          (bytes(dataOff + frame * channels + ch) & 0xff) - 128
        else {
          val o = dataOff + (frame * channels + ch) * 2
          ((bytes(o) & 0xff) | (bytes(o + 1) << 8)).toShort.toInt
        }

      /** Copy one interleaved frame's RAW bytes (all channels) — the
        * lossless unit [[resamplePcmWav]] shuttles, no decode/requantize
        * round-trip.
        */
      def copyFrame(frame: Int, dst: Array[Byte], dstOff: Int): Unit = {
        val fb = (bitsPerSample / 8) * channels
        System.arraycopy(bytes, dataOff + frame * fb, dst, dstOff, fb)
      }
    }

    /** Sample-rate conversion of a PCM WAV payload by nearest-frame
      * (zero-order-hold) selection: output frame `i` copies source
      * frame `⌊i·srcRate/dstRate⌋` — exact integer arithmetic, raw
      * frame bytes shuttled without requantization, re-encoded as a
      * canonical 44-byte-header PCM WAV at `dstRate`. Deterministic
      * and engine-reproducible like [[resampleNearestP6]]; an
      * interpolating/windowed-sinc resampler would slot into the same
      * frame loop. None for anything [[parseWav]] rejects or a
      * conversion that yields zero frames.
      */
    private[operators] def resamplePcmWav(
        bytes: Array[Byte], dstRate: Int): Option[(Array[Byte], Int, Int)] = {
      // upper bound keeps every header field (incl. dwAvgBytesPerSec =
      // dstRate·frameBytes, frameBytes <= 16) inside Int — an
      // unguarded absurd rate would silently write a garbage byte-rate
      require(dstRate > 0 && dstRate <= 10000000,
        s"target sample rate out of range: $dstRate")
      parseWav(bytes).flatMap { c =>
        val fb = (c.bitsPerSample / 8) * c.channels
        val nOutL = c.nFrames.toLong * dstRate / c.sampleRate
        if (nOutL <= 0 || nOutL * fb > Int.MaxValue - 64) None
        else {
          val nOut = nOutL.toInt
          val dataLen = nOut * fb
          val out = new Array[Byte](44 + dataLen)
          def ascii(o: Int, s: String): Unit = {
            val b = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
            System.arraycopy(b, 0, out, o, 4)
          }
          def le32(o: Int, v: Int): Unit = {
            out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
            out(o + 2) = ((v >> 16) & 0xff).toByte; out(o + 3) = ((v >> 24) & 0xff).toByte
          }
          def le16(o: Int, v: Int): Unit = {
            out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
          }
          ascii(0, "RIFF"); le32(4, 36 + dataLen); ascii(8, "WAVE")
          ascii(12, "fmt "); le32(16, 16)
          le16(20, 1); le16(22, c.channels)
          le32(24, dstRate); le32(28, dstRate * fb)
          le16(32, fb); le16(34, c.bitsPerSample)
          ascii(36, "data"); le32(40, dataLen)
          var i = 0
          while (i < nOut) {
            c.copyFrame((i.toLong * c.sampleRate / dstRate).toInt, out, 44 + i * fb)
            i += 1
          }
          Some((out, nOut, c.channels))
        }
      }
    }

    /** Real WAV parse: `"RIFF" <size> "WAVE"` then a word-aligned chunk
      * walk — `"fmt "` must declare integer PCM (format tag 1) with
      * 8- or 16-bit samples and 1..8 channels, `"data"` carries the
      * interleaved frames. Anything else (float/ADPCM/extensible
      * encodings, truncated chunks, zero frames) returns None so the
      * payload degrades to the fallback codec instead of throwing
      * mid-partition — the same corrupt-input contract as [[parsePpm]].
      */
    private[operators] def parseWav(bytes: Array[Byte]): Option[AudioClip] = {
      if (bytes == null || bytes.length < 44) return None
      def tag(o: Int) = new String(bytes, o, 4, "US-ASCII")
      def le16(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
      def le32(o: Int): Long =
        (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
          ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
      if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
      var off = 12
      var fmt: Option[(Int, Int, Int)] = None // channels, rate, bits
      var data: Option[(Int, Int)] = None // offset, byte length
      while (off + 8 <= bytes.length) {
        val id = tag(off)
        val sz = le32(off + 4)
        if (sz > bytes.length - off - 8) return None // truncated chunk
        if (id == "fmt ") {
          if (sz < 16) return None
          val audioFormat = le16(off + 8)
          val ch = le16(off + 10)
          val rate = le32(off + 12)
          val bits = le16(off + 22)
          if (audioFormat != 1 || ch < 1 || ch > 8 ||
            rate <= 0 || rate > Int.MaxValue || (bits != 8 && bits != 16))
            return None
          fmt = Some((ch, rate.toInt, bits))
        } else if (id == "data") data = Some((off + 8, sz.toInt))
        off += 8 + sz.toInt + (sz.toInt & 1) // chunks are word-aligned
      }
      (fmt, data) match {
        case (Some((ch, rate, bits)), Some((doff, dlen))) =>
          val frameBytes = (bits / 8) * ch
          val frames = dlen / frameBytes
          if (frames <= 0) None
          else Some(new AudioClip(ch, rate, bits, frames, bytes, doff))
        case _ => None
      }
    }

    /** Audio features, one pass over the frames (channel-averaged):
      * duration seconds, RMS, absolute peak, zero-crossing rate, mean
      * amplitude, then channels / sample rate (kHz) / bit depth —
      * `featureDim` slots like [[rasterStats]], so the decode contract
      * is format-independent downstream.
      */
    private def audioStats(c: AudioClip): Array[Float] = {
      var sumSq = 0.0; var sum = 0.0; var peak = 0.0
      var crossings = 0L; var prev = 0.0
      var f = 0
      while (f < c.nFrames) {
        var acc = 0.0
        var ch = 0
        while (ch < c.channels) { acc += c.sample(f, ch); ch += 1 }
        val v = acc / c.channels
        sumSq += v * v; sum += v
        val a = math.abs(v); if (a > peak) peak = a
        if (f > 0 && (v > 0) != (prev > 0) && v != 0 && prev != 0) crossings += 1
        prev = v
        f += 1
      }
      val n = c.nFrames.toDouble
      Array(
        (n / c.sampleRate).toFloat, math.sqrt(sumSq / n).toFloat,
        peak.toFloat, (crossings / math.max(1.0, n - 1)).toFloat,
        (sum / n).toFloat, c.channels.toFloat,
        (c.sampleRate / 1000.0).toFloat, c.bitsPerSample.toFloat)
    }

    /** WAV decode → (format, frames, channels, features): the decode
      * contract reads `width` as sample frames and `height` as channel
      * count for audio payloads.
      */
    def decodeWav(bytes: Array[Byte]): Option[(String, Int, Int, Array[Float])] =
      parseWav(bytes).map(c => ("wav", c.nFrames, c.channels, audioStats(c)))

    /** Parsed AVI main header (the `avih` chunk inside `LIST hdrl`). */
    private[operators] final case class AviMeta(
        width: Int, height: Int, totalFrames: Long, usPerFrame: Long,
        streams: Int)

    /** Real AVI container parse: `"RIFF" <size> "AVI "` then a chunk
      * walk to `LIST hdrl` → `avih`, whose fixed layout carries
      * micro-seconds-per-frame, total frames, stream count and the
      * pixel dimensions. This is honest metadata extraction from the
      * actual container grammar — frame PIXEL decode stays with the
      * fallback codec, since compressed video codecs don't ship in a
      * bare JVM. Malformed input returns None, same contract as the
      * other parsers.
      */
    private[operators] def parseAvi(bytes: Array[Byte]): Option[AviMeta] = {
      if (bytes == null || bytes.length < 88) return None
      def tag(o: Int) = new String(bytes, o, 4, "US-ASCII")
      def le32(o: Int): Long =
        (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
          ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
      if (tag(0) != "RIFF" || tag(8) != "AVI ") return None
      var off = 12
      while (off + 8 <= bytes.length) {
        val id = tag(off)
        val sz = le32(off + 4)
        if (sz > bytes.length - off - 8) return None // truncated chunk
        if (id == "LIST" && sz >= 4 && tag(off + 8) == "hdrl") {
          var in = off + 12
          val end = off + 8 + sz.toInt
          while (in + 8 <= end) {
            val cid = tag(in)
            val csz = le32(in + 4)
            if (csz > end - in - 8) return None
            if (cid == "avih") {
              if (csz < 40) return None
              val o = in + 8
              val usf = le32(o)
              val frames = le32(o + 16)
              val streams = le32(o + 24)
              val w = le32(o + 32)
              val h = le32(o + 36)
              if (w <= 0 || w > Int.MaxValue || h <= 0 || h > Int.MaxValue ||
                usf <= 0 || streams > Int.MaxValue) return None
              return Some(AviMeta(w.toInt, h.toInt, frames, usf, streams.toInt))
            }
            in += 8 + csz.toInt + (csz.toInt & 1)
          }
          return None // hdrl list without a usable avih
        }
        off += 8 + sz.toInt + (sz.toInt & 1)
      }
      None
    }

    /** Walk the AVI container's `LIST movi` and return the VIDEO frame
      * chunk payloads in stream order — real container-aware frame
      * extraction, not byte windows: chunk ids `##db`/`##dc`
      * (uncompressed / compressed video of stream ##) are collected,
      * audio (`##wb`) and index chunks are skipped, and one level of
      * `LIST rec ` grouping (interleaved-record AVIs) is descended.
      * For an MJPEG AVI each payload is a JPEG that [[imageIoRaster]]
      * can decode; for other codecs the bytes are the codec's frame
      * unit. `None` for anything that is not a well-formed AVI;
      * `Some(empty)` for an AVI with no movi video chunks.
      */
    private[operators] def aviFrameChunks(bytes: Array[Byte]): Option[Vector[Array[Byte]]] = {
      if (bytes == null || bytes.length < 12) return None
      def tag(o: Int) = new String(bytes, o, 4, "US-ASCII")
      def le32(o: Int): Long =
        (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
          ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
      if (tag(0) != "RIFF" || tag(8) != "AVI ") return None
      // AVI stream numbers are TWO HEX DIGITS ('0A' is stream 10) — a
      // decimal-only check would silently drop every frame of video
      // streams ≥ 10
      def isHex(c: Char): Boolean =
        (c >= '0' && c <= '9') || (c >= 'A' && c <= 'F') || (c >= 'a' && c <= 'f')
      def isVideoChunk(id: String): Boolean =
        id.length == 4 &&
          isHex(id(0)) && isHex(id(1)) &&
          id(2) == 'd' && (id(3) == 'b' || id(3) == 'c')
      val out = Vector.newBuilder[Array[Byte]]
      def collect(from: Int, end: Int, depth: Int): Boolean = {
        var in = from
        while (in + 8 <= end) {
          val cid = tag(in)
          val csz = le32(in + 4)
          if (csz > end - in - 8) return false // truncated chunk
          if (cid == "LIST" && csz >= 4 && tag(in + 8) == "rec " && depth == 0) {
            if (!collect(in + 12, in + 8 + csz.toInt, depth + 1)) return false
          } else if (isVideoChunk(cid)) {
            out += java.util.Arrays.copyOfRange(bytes, in + 8, in + 8 + csz.toInt)
          }
          in += 8 + csz.toInt + (csz.toInt & 1)
        }
        true
      }
      var off = 12
      while (off + 8 <= bytes.length) {
        val id = tag(off)
        val sz = le32(off + 4)
        if (sz > bytes.length - off - 8) return None
        if (id == "LIST" && sz >= 4 && tag(off + 8) == "movi") {
          if (!collect(off + 12, off + 8 + sz.toInt, 0)) return None
          return Some(out.result())
        }
        off += 8 + sz.toInt + (sz.toInt & 1)
      }
      Some(Vector.empty) // well-formed AVI, no movi list
    }

    /** AVI decode → (format, width, height, features): duration
      * seconds, frames-per-second, total frames, stream count (pixel
      * planes stay with the fallback — no video codec in a bare JVM).
      */
    def decodeAvi(bytes: Array[Byte]): Option[(String, Int, Int, Array[Float])] =
      parseAvi(bytes).map { m =>
        ("avi", m.width, m.height, Array[Float](
          (m.totalFrames * m.usPerFrame / 1e6).toFloat,
          (1e6 / m.usPerFrame).toFloat,
          m.totalFrames.toFloat, m.streams.toFloat, 0f, 0f, 0f, 0f))
      }

    def decode(bytes: Array[Byte]): (String, Int, Int, Array[Float]) =
      parseRaster(bytes)
        .map(r => (r.format, r.width, r.height, rasterStats(r)))
        .orElse(decodeWav(bytes))
        .orElse(decodeAvi(bytes))
        .getOrElse(decodeFake(bytes))

    /** Nearest-neighbor resample of a parsed raster to (w × h),
      * re-encoded as P6 (pipelines normalize formats on resize; P6 is
      * the one this container can also re-read). Source pixel for
      * target (x, y) is (⌊x·srcW/w⌋, ⌊y·srcH/h⌋) in exact integer
      * arithmetic — deterministic, engine-reproducible, and the
      * standard decimation kernel when no interpolation library ships.
      */
    private[operators] def resampleNearestP6(ra: Raster, w: Int, h: Int): Array[Byte] = {
      val header = s"P6\n$w $h\n${ra.maxval}\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val out = new Array[Byte](header.length + w * h * 3)
      System.arraycopy(header, 0, out, 0, header.length)
      var o = header.length
      var y = 0
      while (y < h) {
        val sy = (y.toLong * ra.height / h).toInt
        var x = 0
        while (x < w) {
          val sx = (x.toLong * ra.width / w).toInt
          val p = ra.pix(sx, sy)
          out(o) = (p >> 16).toByte
          out(o + 1) = (p >> 8).toByte
          out(o + 2) = p.toByte
          o += 3; x += 1
        }
        y += 1
      }
      out
    }

    /** 64-bit difference hash (dHash) of a parsed raster — the standard
      * perceptual fingerprint for image near-duplicate detection
      * (Krawetz's dHash: resample to a 9 × 8 grayscale grid, emit one
      * bit per horizontal gradient sign). Grid sampling reuses the
      * EXACT nearest-neighbor kernel of [[resampleNearestP6]]
      * (source pixel ⌊x·srcW/9⌋, ⌊y·srcH/8⌋) and integer ITU-R-601-ish
      * luma `(77·R + 151·G + 28·B) >> 8` (weights sum to 256, so a
      * gray pixel's luma is itself) — every step exact integer
      * arithmetic, engine-reproducible, oracle-replayable. Bit `y·8+x`
      * is set iff `gray(x+1, y) > gray(x, y)`.
      *
      * Why dHash over aHash/pHash here: gradient signs survive uniform
      * brightness shifts and re-encodes (the dominant web near-dup
      * transforms) without needing a DCT, and 64 bits drop straight
      * into the repo's existing 4 × 16-bit banding kernel.
      */
    private[operators] def dHash64(ra: Raster): Long = {
      val g = new Array[Int](9 * 8)
      var y = 0
      while (y < 8) {
        val sy = (y.toLong * ra.height / 8).toInt
        var x = 0
        while (x < 9) {
          val sx = (x.toLong * ra.width / 9).toInt
          val p = ra.pix(sx, sy)
          g(y * 9 + x) =
            (77 * ((p >> 16) & 0xff) + 151 * ((p >> 8) & 0xff) + 28 * (p & 0xff)) >> 8
          x += 1
        }
        y += 1
      }
      var h = 0L
      var b = 0
      while (b < 64) {
        if (g((b / 8) * 9 + (b % 8) + 1) > g((b / 8) * 9 + (b % 8))) h |= 1L << b
        b += 1
      }
      h
    }

    /** 64-bit perceptual AUDIO fingerprint — the dHash shape over a
      * time × lag-energy grid instead of a pixel grid, every step
      * exact integer arithmetic:
      *
      *  1. canonicalize rate: `x(i) = Σ_ch rawSample(⌊i·srcRate/C⌋, ch)`
      *     for `i < N = ⌊nFrames·C/srcRate⌋` — the nearest-frame grid
      *     [[resamplePcmWav]] already walks, channel-SUMMED (not
      *     averaged: the sum stays integer and scale-invariance does
      *     not care about the constant factor);
      *  2. integer filterbank: 8 time slices × 9 lag bands —
      *     `E(t,b) = Σ (x(i) − x(i−(b+1)))²` over slice-local i (a
      *     lag-ℓ difference is a comb filter whose first passband peak
      *     sits at C/2ℓ, so the 9 lags sample 9 frequency bands);
      *  3. bit `t·8+b` is set iff `E(t, b+1) > E(t, b)` — exactly
      *     [[dHash64]]'s adjacent-compare over a 9-wide, 8-tall grid.
      *
      * Invariances, EXACT by construction: volume (scaling every
      * sample by c scales every energy by c², preserving all
      * comparisons — exact when the scaling itself is exact, e.g.
      * halving even 16-bit samples) and zero-order-hold rate
      * multiples (a clip upsampled m× at rate m·C canonicalizes back
      * to the identical x sequence). Re-encodes within those families
      * land at Hamming 0; codec-noise variants land within the banding
      * kernel's Hamming ≤ 3 budget. None for clips whose canonical
      * length is under 72 frames (slices would not cover the longest
      * lag honestly) or over 2²⁶ (≈ 2.3 h at 8 kHz — past that the
      * slice energies could leave Long's exact domain; chunk longer
      * media upstream).
      */
    private[operators] def audioFingerprint64(
        c: AudioClip, canonicalRate: Int): Option[Long] = {
      val nL = c.nFrames.toLong * canonicalRate / c.sampleRate
      if (nL < 72 || nL > (1L << 26)) return None
      val n = nL.toInt
      lagEnergyFingerprint64(canonicalSamples(c, canonicalRate, n), 0, n)
    }

    /** Step 1 of [[audioFingerprint64]] alone: the exact nearest-frame
      * channel-summed canonical walk, materialized — shared by the
      * whole-clip fingerprint and the per-segment variants.
      */
    private[operators] def canonicalSamples(
        c: AudioClip, canonicalRate: Int, n: Int): Array[Long] = {
      val x = new Array[Long](n)
      var i = 0
      while (i < n) {
        val f = (i.toLong * c.sampleRate / canonicalRate).toInt
        var acc = 0L
        var ch = 0
        while (ch < c.channels) { acc += c.rawSample(f, ch); ch += 1 }
        x(i) = acc
        i += 1
      }
      x
    }

    /** Steps 2–3 of [[audioFingerprint64]] parameterized by a slice
      * `x[off, off+n)` — the 8 × 9 slice-local lag-energy grid and the
      * adjacent-compare bits, shared VERBATIM by the whole-clip
      * fingerprint (off = 0) and the per-segment fingerprints, so a
      * segment's hash is exactly the hash of that segment extracted
      * as its own clip. None under 72 frames (slices would not cover
      * the longest lag honestly) or over 2²⁶ (energy exactness bound).
      */
    private[operators] def lagEnergyFingerprint64(
        x: Array[Long], off: Int, n: Int): Option[Long] = {
      if (n < 72 || n > (1 << 26)) return None
      val e = Array.ofDim[Long](8, 9)
      var t = 0
      while (t < 8) {
        val lo = off + (t.toLong * n / 8).toInt // long product: t·n can pass Int
        val hi = off + ((t + 1).toLong * n / 8).toInt
        var b = 0
        while (b < 9) {
          val lag = b + 1
          var s = 0L
          var j = lo + lag
          while (j < hi) { val d = x(j) - x(j - lag); s += d * d; j += 1 }
          e(t)(b) = s
          b += 1
        }
        t += 1
      }
      var h = 0L
      var bit = 0
      while (bit < 64) {
        if (e(bit / 8)(bit % 8 + 1) > e(bit / 8)(bit % 8)) h |= 1L << bit
        bit += 1
      }
      Some(h)
    }
  }

  /** Decode/feature-extract stage: one pass, partition-parallel, batch
    * shape = partition iterator (streaming — never materializes the
    * partition). Input needs (idCol: any, binCol: binary).
    */
  def decodeFeatures(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    val idField = df.schema(idCol)
    val outSchema = decodedSchema(idField)
    val enc = RowEncoder.encoderFor(outSchema)
    val in = df.select(col(idCol), col(binCol))
    in.mapPartitions { it =>
      it.map { r =>
        val id = r.get(0)
        val bytes = r.getAs[Array[Byte]](1)
        val (fmt, w, h, feats) =
          if (bytes == null) (null, 0, 0, Array.empty[Float])
          else Decoders.decode(bytes)
        Row(id, fmt, w, h,
          if (bytes == null) 0L else bytes.length.toLong, feats)
      }
    }(enc)
  }

  /** Resize stage: payload → payload at (width × height), meta
    * rewritten. Same `mapPartitions` batch shape as [[decodeFeatures]].
    * Payloads any real codec accepts (P6/PPM, uncompressed 24-bit BMP,
    * and the ImageIO formats — PNG/JPEG/GIF) are ACTUALLY resampled —
    * nearest-neighbor over the decoded pixel plane, re-encoded as P6
    * ([[Decoders.resampleNearestP6]]) — with `format`/`width`/`height`
    * reporting the produced image. Undecodable payloads pass through
    * byte-identical with NULL format/dims (honest "couldn't resize",
    * never fabricated metadata); an ffmpeg-class media codec would
    * slot into the same dispatch.
    */
  def resize(df: DataFrame, idCol: String, binCol: String,
      width: Int, height: Int): DataFrame = {
    require(width > 0 && height > 0, "target dims must be positive")
    // the output buffer is header + w*h*3 bytes in one Int-indexed
    // array; an unchecked 30000×30000 target would overflow the size
    // computation to a negative allocation mid-partition
    require(width.toLong * height * 3 <= Int.MaxValue - 64,
      s"target $width x $height exceeds the single-payload buffer limit")
    val idField = df.schema(idCol)
    val outSchema = StructType(Seq(
      idField,
      StructField("payload", BinaryType),
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType)
    ))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol), col(binCol)).mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        Decoders.parseRaster(bytes) match {
          case Some(ra) =>
            Row(r.get(0), Decoders.resampleNearestP6(ra, width, height),
              "ppm", width, height)
          case None =>
            Row(r.get(0), bytes, null, null, null)
        }
      }
    }(enc)
  }

  /** Frame/sample extraction for time-based media: emits `n` evenly
    * spaced 32-byte windows per payload (the real implementation would
    * emit decoded frames; the windowing/explode plumbing is identical).
    * Windows slice the BINARY payload directly — a round-trip through
    * a string cast would mangle non-UTF-8 media bytes to U+FFFD and
    * misalign offsets computed in bytes against positions applied in
    * characters.
    */
  def sampleFrames(df: DataFrame, idCol: String, binCol: String, n: Int): DataFrame = {
    val width = greatest(length(col(binCol)).cast("int") / n, lit(1))
    df.select(
      col(idCol),
      posexplode(transform(
        sequence(lit(0), lit(n - 1)),
        i => col(binCol).substr((i * width + 1).cast("int"), lit(32))
      )).as(Seq("frame_idx", "frame_sample"))
    )
  }

  /** Audio resample stage: WAV payloads are sample-rate-converted to
    * `sampleRate` ([[Decoders.resamplePcmWav]]: nearest-frame
    * selection, raw bytes shuttled, canonical PCM re-encode) with
    * `format`/`width`/`height` reporting the produced clip (frames ×
    * channels, the audio reading of the decode contract); payloads the
    * WAV parser rejects pass through byte-identical with NULL
    * format/dims — the same honest-failure contract as [[resize]].
    * Same `mapPartitions` batch shape as the other codecs.
    */
  def resampleAudio(df: DataFrame, idCol: String, binCol: String,
      sampleRate: Int): DataFrame = {
    require(sampleRate > 0, "target sample rate must be positive")
    val idField = df.schema(idCol)
    val outSchema = StructType(Seq(
      idField,
      StructField("payload", BinaryType),
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType)
    ))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol), col(binCol)).mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        Decoders.resamplePcmWav(bytes, sampleRate) match {
          case Some((wav, frames, channels)) =>
            Row(r.get(0), wav, "wav", frames, channels)
          case None =>
            Row(r.get(0), bytes, null, null, null)
        }
      }
    }(enc)
  }

  /** Perceptual image fingerprints: one 64-bit dHash per decodable
    * payload ([[Decoders.dHash64]] — P6/PPM, uncompressed BMP, and the
    * ImageIO formats all land on the shared [[Decoders.Raster]] shape,
    * so one hash serves every codec). Payloads no image parser accepts
    * emit NULL format/dims/hash — the honest "not an image" contract of
    * [[resize]], never a hash over garbage bytes. Output: (id, format,
    * width, height, dhash). Narrow map, zero shuffles; same
    * `mapPartitions` batch shape as the other codec stages (per-payload
    * imperative pixel walking).
    */
  def imageDHash(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val idField = df.schema(idCol)
    val outSchema = StructType(Seq(
      idField,
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("dhash", LongType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol), col(binCol)).mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        Decoders.parseRaster(bytes) match {
          case Some(ra) =>
            Row(r.get(0), ra.format, ra.width, ra.height, Decoders.dHash64(ra))
          case None => Row(r.get(0), null, null, null, null)
        }
      }
    }(enc)
  }

  /** Image near-duplicate pairs: dHash fingerprints through the SAME
    * 4 × 16-bit banding kernel as text SimHash
    * ([[Dedup.hash64BandPairs]]) — two images within Hamming distance
    * `maxHamming` (≤ 3) of each other agree on at least one band by
    * pigeonhole, so recall over the banded equi-join is exactly 1.0.
    * Undecodable payloads are excluded before banding (a NULL hash is
    * not "similar" to anything). Output: (id_a, id_b, hamming).
    *
    * 100 TB shape: hash computation is a narrow map over the binary
    * column; only (id, 64-bit hash) rows reach the band shuffle — the
    * image bytes themselves never move. `maxBucket` guards the
    * degenerate-corpus case (mono-color thumbnails all hashing to 0).
    */
  def imageNearDupPairs(
      df: DataFrame,
      idCol: String,
      binCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue
  ): DataFrame =
    Dedup.hash64BandPairs(
      imageDHash(df, idCol, binCol)
        .filter(col("dhash").isNotNull)
        .select(col(idCol), col("dhash")),
      idCol, "dhash", maxHamming, maxBucket)

  /** Perceptual audio fingerprints: one 64-bit energy-sign hash per
    * decodable PCM WAV payload ([[Decoders.audioFingerprint64]] —
    * rate-canonicalized to `canonicalRate`, 8 time slices × 9 integer
    * lag-band energies, adjacent-band sign compares: the dHash shape
    * over sound). Payloads the WAV parser rejects — and clips too
    * short/long to fingerprint honestly — emit NULL format/dims/hash,
    * the [[imageDHash]] contract, never a hash over garbage bytes.
    * Output: (id, format, frames, channels, afp). Narrow map, zero
    * shuffles, same `mapPartitions` batch shape as the other codecs.
    */
  def audioFingerprint(
      df: DataFrame, idCol: String, binCol: String,
      canonicalRate: Int = 8000): DataFrame = {
    require(canonicalRate > 0, "canonical rate must be positive")
    val idField = df.schema(idCol)
    val outSchema = StructType(Seq(
      idField,
      StructField("format", StringType),
      StructField("frames", IntegerType),
      StructField("channels", IntegerType),
      StructField("afp", LongType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol), col(binCol)).mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        Decoders.parseWav(bytes).flatMap { c =>
          Decoders.audioFingerprint64(c, canonicalRate)
            .map(h => Row(r.get(0), "wav", c.nFrames, c.channels, h))
        }.getOrElse(Row(r.get(0), null, null, null, null))
      }
    }(enc)
  }

  /** Audio near-duplicate pairs: fingerprints through the SAME
    * 4 × 16-bit banding kernel as dHash and text SimHash
    * ([[Dedup.hash64BandPairs]]) — recall 1.0 for Hamming ≤ 3 by
    * pigeonhole. Duplicate clips at different volumes or ZOH rate
    * multiples land at Hamming 0 (the fingerprint's exact
    * invariances); non-audio payloads are excluded before banding.
    * Output: (id_a, id_b, hamming). Same 100 TB shape as
    * [[imageNearDupPairs]]: only (id, hash) rows reach the shuffle.
    */
  def audioNearDupPairs(
      df: DataFrame,
      idCol: String,
      binCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue,
      canonicalRate: Int = 8000
  ): DataFrame =
    Dedup.hash64BandPairs(
      audioFingerprint(df, idCol, binCol, canonicalRate)
        .filter(col("afp").isNotNull)
        .select(col(idCol), col("afp")),
      idCol, "afp", maxHamming, maxBucket)

  // -------------------------------- 64-bit perceptual signature indexes
  // (dHash for images, energy-sign fingerprints for audio, per-bit
  // majority frame hashes for video — ONE stored layout
  // `(index_id, dhash, band, bandval)` bucketed on bandval, so
  // deleteFromDHashIndex / purgeDHashIndex / dhashIndexStats /
  // isStaleDHashIndex serve ALL THREE families verbatim; `dhash` is
  // the 64-bit perceptual hash column whatever the modality)

  /** Band-exploded (id, dhash, band, bandval) rows — the persisted LSH
    * layout: one row per band so a query joins exactly the buckets its
    * own bands touch.
    */
  private def dhashBandRows(
      sig: DataFrame, idCol: String, hashCol: String = "dhash"): DataFrame =
    sig.select(col(idCol).as("index_id"), col(hashCol).as("dhash"))
      .select(col("index_id"), col("dhash"),
        posexplode(Dedup.bands64(col("dhash"))).as(Seq("band", "bandval")))

  private val Hash64ReservedCols = Array("index_id", "dhash", "band", "bandval")

  /** Validate a stored signature table's layout and return its CARRIED
    * metadata columns — the first four columns are the signature
    * identity, any remainder is per-row metadata (lang, license,
    * camera, source …) for the filtered probes; the
    * [[Dedup.minhashCarriedCols]] convention.
    */
  private def hash64CarriedCols(index: DataFrame, tableName: String): Seq[String] = {
    require(index.columns.length >= Hash64ReservedCols.length &&
      index.columns.take(Hash64ReservedCols.length).sameElements(Hash64ReservedCols),
      s"$tableName does not hold band-exploded 64-bit signatures")
    index.columns.drop(Hash64ReservedCols.length).toSeq
  }

  /** Materialize an image corpus's dHash signatures as a bucketed index
    * table — the image twin of [[Dedup.writeMinhashIndex]], and the
    * fifth persisted index family (MinHash, IVF-SQ, IVF-PQ, BM25,
    * dHash): a perpetual image-ingest pipeline signatures each arriving
    * batch ONCE, then collides it against this table instead of
    * re-hashing the history corpus. Layout is the band-exploded LSH
    * standard — 4 rows per image, `(index_id, dhash, band, bandval)`,
    * bucketed on `bandval` so the collision join rides the bucket
    * layout exchange-free and small query batches bucket-prune the
    * scan. Undecodable payloads are skipped (no fabricated
    * signatures); count them upstream via [[imageDHash]]'s NULL rows.
    */
  def writeDHashIndex(
      df: DataFrame,
      idCol: String,
      binCol: String,
      tableName: String,
      buckets: Int = 16,
      carryCols: Seq[String] = Nil
  ): Unit =
    writeHash64BandRows(df, idCol, tableName, buckets, carryCols,
      dhashBandRows(
        imageDHash(df, idCol, binCol).filter(col("dhash").isNotNull), idCol))

  /** Materialize an audio corpus's perceptual fingerprints as a
    * bucketed index table — the SIXTH persisted signature surface,
    * riding the dHash family's stored layout verbatim (see the section
    * comment): build/append here, collide with
    * [[audioPairsAgainstIndex]], delete/purge/measure with the SHARED
    * [[deleteFromDHashIndex]] / [[purgeDHashIndex]] /
    * [[dhashIndexStats]] / [[isStaleDHashIndex]] verbs. Undecodable
    * and unfingerprint-able payloads are skipped (no fabricated
    * signatures).
    */
  def writeAudioFingerprintIndex(
      df: DataFrame,
      idCol: String,
      binCol: String,
      tableName: String,
      buckets: Int = 16,
      canonicalRate: Int = 8000,
      carryCols: Seq[String] = Nil
  ): Unit =
    writeHash64BandRows(df, idCol, tableName, buckets, carryCols,
      dhashBandRows(
        audioFingerprint(df, idCol, binCol, canonicalRate)
          .filter(col("afp").isNotNull), idCol, "afp"))

  /** Materialize a video corpus's majority fingerprints as a bucketed
    * index table — the SEVENTH persisted signature surface, riding the
    * dHash family's stored layout verbatim (see the section comment):
    * build/append here, collide with [[videoPairsAgainstIndex]],
    * delete/purge/measure with the SHARED [[deleteFromDHashIndex]] /
    * [[purgeDHashIndex]] / [[dhashIndexStats]] / [[isStaleDHashIndex]]
    * verbs. Undecodable and frame-less payloads are skipped (no
    * fabricated signatures).
    */
  def writeVideoFingerprintIndex(
      df: DataFrame,
      idCol: String,
      binCol: String,
      tableName: String,
      buckets: Int = 16,
      maxFrames: Int = 8,
      carryCols: Seq[String] = Nil
  ): Unit =
    writeHash64BandRows(df, idCol, tableName, buckets, carryCols,
      dhashBandRows(
        videoFingerprint(df, idCol, binCol, maxFrames)
          .filter(col("vfp").isNotNull), idCol, "vfp"))

  /** The shared build tail of the 64-bit signature index family: guard
    * the carried columns, write the band rows bucketed on `bandval`,
    * and forget the previous build's tombstones.
    */
  private def writeHash64BandRows(
      df: DataFrame, idCol: String, tableName: String, buckets: Int,
      carryCols: Seq[String], rows: DataFrame): Unit = {
    require(buckets > 0)
    require(carryCols.forall(c => !Hash64ReservedCols.contains(c)),
      s"carryCols collide with index columns: " +
        carryCols.filter(Hash64ReservedCols.contains).mkString(", "))
    // carried values repeat once per band (4×): the denormalization
    // that lets the filtered probe's predicate reach the bucket-pruned
    // scan with no join back to a doc table
    graft.plans.ScaleJoins.writeBucketed(
      graft.plans.Compaction.withCarried(rows, df, idCol, "index_id", carryCols),
      tableName, "bandval", buckets)
    graft.plans.Tombstones.reset(df.sparkSession, tableName)
  }

  /** Incremental index maintenance: signature an accepted image batch
    * and append its band rows through the table's own bucket spec —
    * O(batch) per ingest epoch, never a corpus re-hash (the
    * [[Dedup.appendToMinhashIndex]] policy, same replay caveat: a
    * re-run epoch appends byte-identical duplicate rows that
    * [[graft.plans.Compaction.compactBucketedTable]] drops).
    */
  def appendToDHashIndex(
      spark: SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      binCol: String
  ): Unit =
    appendHash64BandRows(spark, tableName, batch, idCol,
      dhashBandRows(
        imageDHash(batch, idCol, binCol).filter(col("dhash").isNotNull), idCol))

  /** Incremental audio-index maintenance — [[appendToDHashIndex]]'s
    * contract (O(batch) per epoch, replay appends byte-identical
    * residue compaction drops) over the fingerprint signatures.
    */
  def appendToAudioFingerprintIndex(
      spark: SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      binCol: String,
      canonicalRate: Int = 8000
  ): Unit =
    appendHash64BandRows(spark, tableName, batch, idCol,
      dhashBandRows(
        audioFingerprint(batch, idCol, binCol, canonicalRate)
          .filter(col("afp").isNotNull), idCol, "afp"))

  /** Incremental video-index maintenance — [[appendToDHashIndex]]'s
    * contract (O(batch) per epoch, replay appends byte-identical
    * residue compaction drops) over the majority fingerprints.
    */
  def appendToVideoFingerprintIndex(
      spark: SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      binCol: String,
      maxFrames: Int = 8
  ): Unit =
    appendHash64BandRows(spark, tableName, batch, idCol,
      dhashBandRows(
        videoFingerprint(batch, idCol, binCol, maxFrames)
          .filter(col("vfp").isNotNull), idCol, "vfp"))

  /** The shared append tail of the 64-bit signature index family:
    * schema-validate, then append the band rows with the batch's
    * carried metadata (the batch must supply every carried column)
    * through [[graft.plans.Compaction.appendBucketed]].
    */
  private def appendHash64BandRows(
      spark: SparkSession, tableName: String, batch: DataFrame,
      idCol: String, rows: DataFrame): Unit = {
    hash64CarriedCols(spark.table(tableName), tableName) // the layout check
    val carried = graft.plans.Compaction.carriedColumns(
      spark, tableName, Hash64ReservedCols.toSeq, batch)
    graft.plans.Compaction.appendBucketed(spark, tableName,
      graft.plans.Compaction.withCarried(rows, batch, idCol, "index_id", carried))
  }

  /** Image near-dup collisions of a batch AGAINST the materialized
    * index: identical verify semantics to [[imageNearDupPairs]]
    * (Hamming ≤ `maxHamming` over the full 64-bit hashes) but the
    * history side is the persisted table, so an ingest epoch hashes
    * the BATCH only. Output: (batch_id, index_id, hamming).
    *
    * Scale shape: the join key `bandval` is the index's bucket column,
    * so the (big) index side joins exchange-free while the (small)
    * batch shuffles to it; when the batch's distinct band values fit a
    * literal list (≤ `pruneKeys`) they are pushed as an IN() on the
    * bucketed scan — Spark bucket-prunes the read to the touched
    * buckets, the [[Dedup.portableMinhashPairsAgainstIndex]] shape.
    * Tombstoned ids are excluded BEFORE the hot-bucket cap, exactly as
    * a rebuilt index would see them.
    */
  def imagePairsAgainstIndex(
      spark: SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      binCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue,
      pruneKeys: Int = 4096
  ): DataFrame =
    hash64PairsAgainstIndex(spark, tableName,
      imageProbeBandRows(batch, idCol, binCol),
      None, maxHamming, maxBucket, pruneKeys)

  /** [[imagePairsAgainstIndex]] restricted to index rows matching
    * `predicate` over the CARRIED metadata columns
    * ([[writeDHashIndex]]'s `carryCols`) — the per-license /
    * per-camera / per-source image-dedup slice, completing filtered
    * probe parity across the index families (BM25 `carryCols`, IVF
    * filtered search, MinHash `...AgainstIndexWhere`). The predicate
    * applies BEFORE the hot-bucket cap (exactly the rows a sub-corpus
    * rebuild would hold) and reaches the bucket-pruned scan as a
    * pushed filter. Output carries the matched row's metadata after
    * (batch_id, index_id, hamming).
    */
  def imagePairsAgainstIndexWhere(
      spark: SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      binCol: String,
      predicate: Column,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue,
      pruneKeys: Int = 4096
  ): DataFrame =
    hash64PairsAgainstIndex(spark, tableName,
      imageProbeBandRows(batch, idCol, binCol),
      Some(predicate), maxHamming, maxBucket, pruneKeys)

  /** Audio near-dup collisions of a batch AGAINST the materialized
    * fingerprint index — [[imagePairsAgainstIndex]]'s contract and
    * scale shape (batch-only hashing, bucket-pruned probe, tombstones
    * excluded before the cap) over the audio family. Output:
    * (batch_id, index_id, hamming).
    */
  def audioPairsAgainstIndex(
      spark: SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      binCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue,
      pruneKeys: Int = 4096,
      canonicalRate: Int = 8000
  ): DataFrame =
    hash64PairsAgainstIndex(spark, tableName,
      audioProbeBandRows(batch, idCol, binCol, canonicalRate),
      None, maxHamming, maxBucket, pruneKeys)

  /** [[audioPairsAgainstIndex]] restricted by a predicate over the
    * carried metadata — [[imagePairsAgainstIndexWhere]]'s contract for
    * the audio family.
    */
  def audioPairsAgainstIndexWhere(
      spark: SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      binCol: String,
      predicate: Column,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue,
      pruneKeys: Int = 4096,
      canonicalRate: Int = 8000
  ): DataFrame =
    hash64PairsAgainstIndex(spark, tableName,
      audioProbeBandRows(batch, idCol, binCol, canonicalRate),
      Some(predicate), maxHamming, maxBucket, pruneKeys)

  /** Video near-dup collisions of a batch AGAINST the materialized
    * fingerprint index — [[imagePairsAgainstIndex]]'s contract and
    * scale shape (batch-only hashing, bucket-pruned probe, tombstones
    * excluded before the cap) over the video family. Output:
    * (batch_id, index_id, hamming).
    */
  def videoPairsAgainstIndex(
      spark: SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      binCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue,
      pruneKeys: Int = 4096,
      maxFrames: Int = 8
  ): DataFrame =
    hash64PairsAgainstIndex(spark, tableName,
      videoProbeBandRows(batch, idCol, binCol, maxFrames),
      None, maxHamming, maxBucket, pruneKeys)

  /** [[videoPairsAgainstIndex]] restricted by a predicate over the
    * carried metadata — [[imagePairsAgainstIndexWhere]]'s contract for
    * the video family.
    */
  def videoPairsAgainstIndexWhere(
      spark: SparkSession,
      tableName: String,
      batch: DataFrame,
      idCol: String,
      binCol: String,
      predicate: Column,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue,
      pruneKeys: Int = 4096,
      maxFrames: Int = 8
  ): DataFrame =
    hash64PairsAgainstIndex(spark, tableName,
      videoProbeBandRows(batch, idCol, binCol, maxFrames),
      Some(predicate), maxHamming, maxBucket, pruneKeys)

  /** The shared banded probe of the 64-bit signature index family:
    * persist the batch's band rows once, push the touched band values
    * as an IN() when they fit a literal list (bucket-pruning the
    * scan), exclude tombstones BEFORE the hot-bucket cap, verify on
    * full-hash Hamming.
    */
  /** The probe-side band rows of a batch, renamed for the banded
    * join — built HERE (and only here) so the kernel's persistOnce
    * cache and [[graft.streaming.CorpusIngest]]'s per-epoch cache
    * release construct the identical plan.
    */
  private[graft] def imageProbeBandRows(
      batch: DataFrame, idCol: String, binCol: String): DataFrame =
    dhashBandRows(
      imageDHash(batch, idCol, binCol).filter(col("dhash").isNotNull), idCol)
      .withColumnRenamed("index_id", "batch_id")
      .withColumnRenamed("dhash", "a_hash")

  private[graft] def audioProbeBandRows(
      batch: DataFrame, idCol: String, binCol: String,
      canonicalRate: Int): DataFrame =
    dhashBandRows(
      audioFingerprint(batch, idCol, binCol, canonicalRate)
        .filter(col("afp").isNotNull), idCol, "afp")
      .withColumnRenamed("index_id", "batch_id")
      .withColumnRenamed("dhash", "a_hash")

  private[graft] def videoProbeBandRows(
      batch: DataFrame, idCol: String, binCol: String,
      maxFrames: Int): DataFrame =
    dhashBandRows(
      videoFingerprint(batch, idCol, binCol, maxFrames)
        .filter(col("vfp").isNotNull), idCol, "vfp")
      .withColumnRenamed("index_id", "batch_id")
      .withColumnRenamed("dhash", "a_hash")

  private def hash64PairsAgainstIndex(
      spark: SparkSession,
      tableName: String,
      probeRows: DataFrame,
      predicate: Option[Column],
      maxHamming: Int,
      maxBucket: Int,
      pruneKeys: Int
  ): DataFrame = {
    require(maxHamming <= 3,
      s"4x16-bit banding guarantees recall only to Hamming 3 (got $maxHamming)")
    val index = spark.table(tableName)
    val carried = hash64CarriedCols(index, tableName)
    // the unfiltered probe drops the carried payload before the band
    // join (column pruning reaches the scan); the filtered probe keeps
    // it — the predicate needs it and the caller gets it back
    val kept = if (predicate.isEmpty) Nil else carried
    val projected = index.select((Hash64ReservedCols.toSeq ++ kept).map(col): _*)
    // metadata restriction BEFORE tombstones and the hot-bucket cap —
    // the cap must see exactly what a sub-corpus rebuild would hold
    val restricted = predicate match {
      case Some(p) => projected.filter(p)
      case None => projected
    }
    val bSig = org.apache.spark.sql.graftbridge.CacheBridge.persistOnce(
      probeRows,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keys = bSig.select("bandval").distinct().limit(pruneKeys + 1).collect()
    val live = graft.plans.Tombstones.live(spark, tableName, "index_id", restricted)
    val iSig = Dedup.capBuckets(
      if (keys.length <= pruneKeys)
        live.filter(col("bandval").isin(keys.map(_.getLong(0)).toIndexedSeq: _*))
      else live,
      Seq("band", "bandval"), maxBucket)
    bSig.join(iSig.withColumnRenamed("dhash", "b_hash"), Seq("band", "bandval"))
      .select(col("batch_id") +: col("index_id") +:
        Dedup.hammingDistance(col("a_hash"), col("b_hash")).as("hamming") +:
        kept.map(col): _*)
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("batch_id", "index_id")
  }

  /** Delete images (or audio / video clips — the shared layout) from a
    * materialized dHash index — the takedown / PII-purge verb, O(|ids|)
    * however large the index: [[imagePairsAgainstIndex]] drops the
    * deleted ids from the history side before the hot-bucket cap, so
    * collision output after a delete is identical to an index REBUILT
    * without those images. The protocol, physical removal included, is
    * [[graft.plans.Tombstones]].
    *
    * @return distinct NEW ids actually removed — the takedown receipt
    */
  def deleteFromDHashIndex(
      spark: SparkSession,
      tableName: String,
      ids: DataFrame): Long =
    graft.plans.Tombstones.delete(spark, tableName, "index_id", ids, spark.table(tableName))

  /** Make dHash-index deletions physical — the crash-ordered purge of
    * [[graft.plans.Tombstones]].
    *
    * @return (bandRowsBefore, bandRowsAfter)
    */
  def purgeDHashIndex(
      spark: SparkSession,
      tableName: String): (Long, Long) =
    graft.plans.Tombstones.purge(spark, tableName, "index_id", Nil)

  /** Operational telemetry for a dHash index — the image twin of
    * [[Dedup.minhashIndexStats]], measured in ONE pass grouped by the
    * table's own bucket columns. `duplicateFraction` is replay residue
    * (compact to drop), `maxBucketRows`/`bucketSkew` surface a
    * degenerate image cluster (mono-color thumbnails) before it
    * surfaces as a slow query, `tombstoneFraction` is disk the next
    * [[purgeDHashIndex]] reclaims.
    */
  def dhashIndexStats(
      spark: SparkSession,
      tableName: String): graft.plans.Tombstones.RowIndexStats =
    graft.plans.Tombstones.rowIndexStats(spark, tableName, "index_id", Seq("band", "bandval"))

  /** The operational decision API over [[dhashIndexStats]] — parity
    * with [[Dedup.isStaleMinhashIndex]]: duplicate residue compacts,
    * bucket skew means a degenerate image cluster entered the corpus
    * (dedup and rebuild, or accept the fail-open query-time cap),
    * tombstone mass past the threshold means run [[purgeDHashIndex]].
    */
  def isStaleDHashIndex(
      spark: SparkSession,
      tableName: String,
      maxDuplicateFraction: Double = 0.25,
      maxBucketSkew: Double = 64.0,
      maxTombstoneFraction: Double = 0.2): Boolean =
    dhashIndexStats(spark, tableName)
      .isStale(maxDuplicateFraction, maxBucketSkew, maxTombstoneFraction)

  /** REAL video frame sampling for AVI payloads: up to `n` evenly
    * spaced frames extracted from the container's `LIST movi`
    * ([[Decoders.aviFrameChunks]]) — actual per-frame codec payloads
    * (JPEGs, for the common MJPEG interchange AVIs; decode them
    * downstream with [[decodeFeatures]]), where [[sampleFrames]]
    * slices blind byte windows. Selection over F stream-ordered
    * frames takes ordinal `(i·F) div m` for `i < m = min(n, F)` —
    * exact integer math, strictly increasing for F ≥ n, ALL frames
    * for F < n — so which frames survive is engine-reproducible.
    * Payloads that are not well-formed AVI (or carry no movi video
    * chunks) emit ZERO rows — honest "nothing extractable", never a
    * fabricated window; the byte-window sampler remains the tool for
    * opaque formats. One row per kept frame: (id, frame_idx =
    * selection index, frame_no = movi ordinal, frame bytes). Same
    * `mapPartitions` batch shape as the other codecs — this is
    * per-payload imperative byte walking, the one place an
    * `Expression` genuinely doesn't fit.
    */
  /** Perceptual VIDEO fingerprints: one 64-bit hash per decodable AVI
    * payload — the composition the frame machinery was built for:
    *
    *  1. extract the container's real video frames
    *     ([[Decoders.aviFrameChunks]] — the `q_mm_video_frames` walk);
    *  2. keep `maxFrames` evenly spaced ones (ordinal `(i·F) div m`,
    *     [[sampleVideoFrames]]' exact selection — a 2-hour clip never
    *     hashes every frame);
    *  3. dHash each decodable frame ([[Decoders.dHash64]], the image
    *     family's kernel — frames are raster payloads: P6/BMP for
    *     uncompressed interchange, JPEG for MJPEG);
    *  4. aggregate per-bit STRICT MAJORITY across the hashed frames:
    *     bit j of the video hash is set iff more than half its frame
    *     hashes set bit j. Per-frame noise (a re-encode artifact, one
    *     corrupted frame, a caption flash) flips a minority of frames'
    *     bits and the majority absorbs it; ties (even frame counts)
    *     round DOWN deterministically.
    *
    * Payloads that are not well-formed AVI, carry no movi video
    * chunks, or whose sampled frames none decode emit NULL
    * format/counts/hash — the honest "not a video" contract, never a
    * hash over garbage. Output: (id, format, n_frames = movi total,
    * frames_hashed, vfp). Narrow map, zero shuffles, same
    * `mapPartitions` batch shape as the other codecs.
    */
  def videoFingerprint(
      df: DataFrame, idCol: String, binCol: String,
      maxFrames: Int = 8): DataFrame = {
    require(maxFrames > 0, "maxFrames must be positive")
    val idField = df.schema(idCol)
    val outSchema = StructType(Seq(
      idField,
      StructField("format", StringType),
      StructField("n_frames", IntegerType),
      StructField("frames_hashed", IntegerType),
      StructField("vfp", LongType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol), col(binCol)).mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        Decoders.aviFrameChunks(bytes) match {
          case Some(frames) if frames.nonEmpty =>
            val f = frames.length
            val m = math.min(maxFrames, f)
            val hashes = (0 until m).iterator
              .map(i => frames(i * f / m))
              .flatMap(p => Decoders.parseRaster(p).map(Decoders.dHash64))
              .toArray
            if (hashes.isEmpty) Row(r.get(0), null, null, null, null)
            else {
              var vfp = 0L
              var j = 0
              while (j < 64) {
                var c = 0
                var i = 0
                while (i < hashes.length) {
                  if (((hashes(i) >>> j) & 1L) == 1L) c += 1
                  i += 1
                }
                if (2 * c > hashes.length) vfp |= 1L << j
                j += 1
              }
              Row(r.get(0), "avi", f, hashes.length, vfp)
            }
          case _ => Row(r.get(0), null, null, null, null)
        }
      }
    }(enc)
  }

  /** Video near-duplicate pairs: per-clip majority fingerprints
    * through the SAME 4 × 16-bit banding kernel as dHash, audio and
    * text SimHash ([[Dedup.hash64BandPairs]]) — recall 1.0 for
    * Hamming ≤ 3 by pigeonhole. Non-video payloads are excluded
    * before banding. Output: (id_a, id_b, hamming). Same 100 TB shape
    * as [[imageNearDupPairs]]: frame extraction and hashing are a
    * narrow map over the binary column; only (id, 64-bit hash) rows
    * reach the band shuffle — the video bytes never move.
    */
  def videoNearDupPairs(
      df: DataFrame,
      idCol: String,
      binCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue,
      maxFrames: Int = 8
  ): DataFrame =
    Dedup.hash64BandPairs(
      videoFingerprint(df, idCol, binCol, maxFrames)
        .filter(col("vfp").isNotNull)
        .select(col(idCol), col("vfp")),
      idCol, "vfp", maxHamming, maxBucket)

  def sampleVideoFrames(
      df: DataFrame, idCol: String, binCol: String, n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    val idField = df.schema(idCol)
    val outSchema = StructType(Seq(
      idField,
      StructField("frame_idx", IntegerType),
      StructField("frame_no", IntegerType),
      StructField("frame", BinaryType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol), col(binCol)).mapPartitions { it =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](1)
        Decoders.aviFrameChunks(bytes) match {
          case Some(frames) if frames.nonEmpty =>
            val f = frames.length
            val m = math.min(n, f)
            (0 until m).iterator.map { i =>
              val k = i * f / m
              Row(r.get(0), i, k, frames(k))
            }
          case _ => Iterator.empty
        }
      }
    }(enc)
  }

  /** SHOT (scene-cut) segmentation for AVI payloads — the temporal
    * structure pass a video corpus needs before per-shot sampling or
    * shot-level dedup: extract the container's real frames
    * ([[Decoders.aviFrameChunks]]), keep up to `maxFrames` evenly
    * spaced ones (the `(i·F) div m` selection all the video verbs
    * share), dHash each decodable frame, and start a NEW shot
    * wherever the Hamming distance between consecutive decoded
    * frames exceeds `cutThreshold`. dHash is a gradient-sign hash,
    * so global brightness drift inside a shot moves ~no bits while a
    * content change rewrites the gradient field — exactly the
    * threshold-able boundary signal (the classical pHash-difference
    * shot detector, engine-exact because every quantity is an
    * integer).
    *
    * Contracts, shared with [[videoFingerprint]]: payloads that are
    * not well-formed AVI (or decode zero sampled frames) emit ZERO
    * rows; sampled frames that fail raster decode are DROPPED from
    * the walk (the consecutive relation runs over decoded frames —
    * one corrupt frame cannot split a shot into three). Output one
    * row per shot: (id, shot ordinal from 0, start_frame_no = movi
    * ordinal of the shot's first decoded frame, n_frames = decoded
    * frames in the shot). Narrow map, zero shuffles — the segmenter
    * streams each payload once; at 100 TB this is scan-bound like
    * every other codec pass, and only (id, shot) rows leave the map.
    */
  def videoShots(
      df: DataFrame,
      idCol: String,
      binCol: String,
      cutThreshold: Int = 8,
      maxFrames: Int = 64
  ): DataFrame = {
    require(cutThreshold >= 0, "cutThreshold must be >= 0")
    require(maxFrames > 0, "maxFrames must be positive")
    val idField = df.schema(idCol)
    val outSchema = StructType(Seq(
      idField,
      StructField("shot", IntegerType),
      StructField("start_frame_no", IntegerType),
      StructField("n_frames", IntegerType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol), col(binCol)).mapPartitions { it =>
      it.flatMap { r =>
        segmentShots(r.getAs[Array[Byte]](1), cutThreshold, maxFrames)
          .map { case (shot, start, n, _) => Row(r.get(0), shot, start, n) }
      }
    }(enc)
  }

  /** The shared shot walk behind [[videoShots]] and
    * [[videoShotFingerprints]]: decode, sample, dHash, cut on
    * consecutive Hamming > `cutThreshold`, and aggregate each shot's
    * frame hashes to a per-bit STRICT-MAJORITY fingerprint (the
    * [[videoFingerprint]] kernel at shot granularity). Empty for
    * non-AVI / zero-decodable payloads. Returns
    * (shot, start_frame_no, n_frames, shot_fp) per shot.
    */
  private def segmentShots(
      bytes: Array[Byte],
      cutThreshold: Int,
      maxFrames: Int): Seq[(Int, Int, Int, Long)] =
    Decoders.aviFrameChunks(bytes) match {
      case Some(frames) if frames.nonEmpty =>
        val f = frames.length
        val m = math.min(maxFrames, f)
        val decoded = (0 until m).iterator.flatMap { i =>
          val k = i * f / m
          Decoders.parseRaster(frames(k)).map(p => (k, Decoders.dHash64(p)))
        }.toArray
        if (decoded.isEmpty) Seq.empty
        else {
          def majority(hashes: Array[Long]): Long = {
            var fp = 0L
            var j = 0
            while (j < 64) {
              var c = 0
              var i = 0
              while (i < hashes.length) {
                if (((hashes(i) >>> j) & 1L) == 1L) c += 1
                i += 1
              }
              if (2 * c > hashes.length) fp |= 1L << j
              j += 1
            }
            fp
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Long)]
          var shot = 0
          var lo = 0 // first decoded-ordinal of the current shot
          var j = 1
          while (j <= decoded.length) {
            val cut = j == decoded.length ||
              java.lang.Long.bitCount(decoded(j - 1)._2 ^ decoded(j)._2) > cutThreshold
            if (cut) {
              out += ((shot, decoded(lo)._1, j - lo,
                majority(decoded.slice(lo, j).map(_._2))))
              shot += 1
              lo = j
            }
            j += 1
          }
          out.toSeq
        }
      case _ => Seq.empty
    }

  /** One KEYFRAME per shot — the representative-frame sampling pass
    * that makes [[videoShots]] actionable: for each detected shot,
    * emit its MIDDLE decoded frame (ordinal ⌊n/2⌋ within the shot —
    * the frame least likely to straddle a transition) with its real
    * payload bytes, ready for [[decodeFeatures]] / embedding /
    * captioning downstream. One row per shot: (id, shot,
    * frame_no = the keyframe's movi ordinal, n_frames = decoded
    * frames in the shot, frame bytes). Zero rows for non-AVI /
    * zero-decodable payloads. Same narrow-map shape as
    * [[sampleVideoFrames]], but shot-aware where that is blind-even.
    */
  def videoKeyframes(
      df: DataFrame,
      idCol: String,
      binCol: String,
      cutThreshold: Int = 8,
      maxFrames: Int = 64
  ): DataFrame = {
    require(cutThreshold >= 0, "cutThreshold must be >= 0")
    require(maxFrames > 0, "maxFrames must be positive")
    val idField = df.schema(idCol)
    val outSchema = StructType(Seq(
      idField,
      StructField("shot", IntegerType),
      StructField("frame_no", IntegerType),
      StructField("n_frames", IntegerType),
      StructField("frame", BinaryType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol), col(binCol)).mapPartitions { it =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](1)
        Decoders.aviFrameChunks(bytes) match {
          case Some(frames) if frames.nonEmpty =>
            val f = frames.length
            val m = math.min(maxFrames, f)
            // the same decoded walk as segmentShots, but keeping the
            // per-shot member lists so the middle member is addressable
            val decoded = (0 until m).iterator.flatMap { i =>
              val k = i * f / m
              Decoders.parseRaster(frames(k)).map(p => (k, Decoders.dHash64(p)))
            }.toArray
            if (decoded.isEmpty) Iterator.empty
            else {
              val out = scala.collection.mutable.ArrayBuffer.empty[Row]
              var shot = 0
              var lo = 0
              var j = 1
              while (j <= decoded.length) {
                val cut = j == decoded.length ||
                  java.lang.Long.bitCount(decoded(j - 1)._2 ^ decoded(j)._2) > cutThreshold
                if (cut) {
                  val key = decoded(lo + (j - lo) / 2)._1
                  out += Row(r.get(0), shot, key, j - lo, frames(key))
                  shot += 1
                  lo = j
                }
                j += 1
              }
              out.iterator
            }
          case _ => Iterator.empty
        }
      }
    }(enc)
  }

  /** Per-SHOT perceptual fingerprints: [[videoShots]]' segmentation
    * with each shot carrying the strict-majority dHash of its decoded
    * frames — the signature that makes a shot a dedup-able entity.
    * Output: (id, shot, start_frame_no, n_frames, sfp); zero rows for
    * non-AVI / zero-decodable payloads, same narrow-map shape as the
    * other codec passes.
    */
  def videoShotFingerprints(
      df: DataFrame,
      idCol: String,
      binCol: String,
      cutThreshold: Int = 8,
      maxFrames: Int = 64
  ): DataFrame = {
    require(cutThreshold >= 0, "cutThreshold must be >= 0")
    require(maxFrames > 0, "maxFrames must be positive")
    val idField = df.schema(idCol)
    val outSchema = StructType(Seq(
      idField,
      StructField("shot", IntegerType),
      StructField("start_frame_no", IntegerType),
      StructField("n_frames", IntegerType),
      StructField("sfp", LongType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol), col(binCol)).mapPartitions { it =>
      it.flatMap { r =>
        segmentShots(r.getAs[Array[Byte]](1), cutThreshold, maxFrames)
          .map { case (shot, start, n, fp) => Row(r.get(0), shot, start, n, fp) }
      }
    }(enc)
  }

  /** Energy-based AUDIO segmentation — the silence-split chunking a
    * speech corpus runs before anything else (ASR, per-utterance
    * dedup, packing): canonicalize the clip to `canonicalRate` with
    * the fingerprint family's exact nearest-frame channel-summed walk,
    * cut it into `windowFrames`-frame windows (the trailing partial
    * window is DROPPED — a half-window has no comparable energy), and
    * mark a window SILENT when its energy falls under `perMille`
    * thousandths of the clip's mean window energy. Segments are the
    * maximal runs of consecutive VOICED windows. The threshold is
    * RELATIVE, so the verdicts are exactly volume-invariant (scaling
    * every sample by c scales every window energy and the mean by c²
    * — the family's invariance contract), and every quantity is an
    * exact integer: window energy `Σ x(i)²` (Long-safe: the
    * fingerprint's 2²⁶-frame bound is enforced here per WINDOW, far
    * inside it), mean by integer division, the comparison
    * `E·1000 ≤ perMille·mean` in Long.
    *
    * Contracts: non-WAV payloads, clips shorter than one window, and
    * all-silent clips emit ZERO rows (honest "nothing segmentable").
    * Output: (id, segment ordinal from 0, start_frame = first voiced
    * window's first canonical frame, n_windows, n_frames =
    * n_windows · windowFrames). Narrow map, zero shuffles — same
    * 100 TB scan-bound shape as every codec pass.
    */
  def audioSegments(
      df: DataFrame,
      idCol: String,
      binCol: String,
      canonicalRate: Int = 8000,
      windowFrames: Int = 160,
      perMille: Long = 100L
  ): DataFrame = {
    require(canonicalRate > 0, "canonicalRate must be positive")
    require(windowFrames > 0, "windowFrames must be positive")
    require(perMille >= 0, "perMille must be >= 0")
    val idField = df.schema(idCol)
    val outSchema = StructType(Seq(
      idField,
      StructField("segment", IntegerType),
      StructField("start_frame", IntegerType),
      StructField("n_windows", IntegerType),
      StructField("n_frames", IntegerType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol), col(binCol)).mapPartitions { it =>
      it.flatMap { r =>
        val parsed = Decoders.parseWav(r.getAs[Array[Byte]](1))
          .filter { c =>
            val nL = c.nFrames.toLong * canonicalRate / c.sampleRate
            nL >= windowFrames && nL <= (1L << 26)
          }
        parsed match {
          case Some(c) =>
            val n = (c.nFrames.toLong * canonicalRate / c.sampleRate).toInt
            val nW = n / windowFrames
            val e = new Array[Long](nW)
            var w = 0
            while (w < nW) {
              var s = 0L
              var i = w * windowFrames
              val hi = i + windowFrames
              while (i < hi) {
                val f = (i.toLong * c.sampleRate / canonicalRate).toInt
                var acc = 0L
                var ch = 0
                while (ch < c.channels) { acc += c.rawSample(f, ch); ch += 1 }
                s += acc * acc
                i += 1
              }
              e(w) = s
              w += 1
            }
            val mean = e.sum / nW
            val voiced = e.map(_ * 1000L > perMille * mean)
            val out = scala.collection.mutable.ArrayBuffer.empty[Row]
            var seg = 0
            var j = 0
            while (j < nW) {
              if (voiced(j)) {
                val lo = j
                while (j < nW && voiced(j)) j += 1
                out += Row(r.get(0), seg, lo * windowFrames, j - lo,
                  (j - lo) * windowFrames)
                seg += 1
              } else j += 1
            }
            out.iterator
          case None => Iterator.empty
        }
      }
    }(enc)
  }

  /** [[audioSegments]] with each segment carrying its own perceptual
    * fingerprint — the signature that makes an utterance/jingle a
    * dedup-able entity: the SAME slice-parameterized lag-energy kernel
    * as [[audioFingerprint]], run over the segment's canonical
    * samples, so a segment's hash equals the hash of that segment
    * extracted as its own clip (and inherits the family's EXACT volume
    * + ZOH-rate invariances — compounding with the segmentation's own
    * volume-invariant threshold, the whole pipeline is
    * volume-transparent end to end). Segments shorter than 72
    * canonical frames carry a NULL fingerprint (honest, like every
    * undecodable payload in this family). Output: (id, segment,
    * start_frame, n_frames, afp).
    */
  def audioSegmentFingerprints(
      df: DataFrame,
      idCol: String,
      binCol: String,
      canonicalRate: Int = 8000,
      windowFrames: Int = 160,
      perMille: Long = 100L
  ): DataFrame = {
    require(canonicalRate > 0, "canonicalRate must be positive")
    require(windowFrames > 0, "windowFrames must be positive")
    require(perMille >= 0, "perMille must be >= 0")
    val idField = df.schema(idCol)
    val outSchema = StructType(Seq(
      idField,
      StructField("segment", IntegerType),
      StructField("start_frame", IntegerType),
      StructField("n_frames", IntegerType),
      StructField("afp", LongType)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol), col(binCol)).mapPartitions { it =>
      it.flatMap { r =>
        val parsed = Decoders.parseWav(r.getAs[Array[Byte]](1))
          .filter { c =>
            val nL = c.nFrames.toLong * canonicalRate / c.sampleRate
            nL >= windowFrames && nL <= (1L << 26)
          }
        parsed match {
          case Some(c) =>
            val n = (c.nFrames.toLong * canonicalRate / c.sampleRate).toInt
            val x = Decoders.canonicalSamples(c, canonicalRate, n)
            val nW = n / windowFrames
            val e = new Array[Long](nW)
            var w = 0
            while (w < nW) {
              var s = 0L
              var i = w * windowFrames
              val hi = i + windowFrames
              while (i < hi) { s += x(i) * x(i); i += 1 }
              e(w) = s
              w += 1
            }
            val mean = e.sum / nW
            val voiced = e.map(_ * 1000L > perMille * mean)
            val out = scala.collection.mutable.ArrayBuffer.empty[Row]
            var seg = 0
            var j = 0
            while (j < nW) {
              if (voiced(j)) {
                val lo = j
                while (j < nW && voiced(j)) j += 1
                val frames = (j - lo) * windowFrames
                out += Row(r.get(0), seg, lo * windowFrames, frames,
                  Decoders.lagEnergyFingerprint64(
                    x, lo * windowFrames, frames).map(Long.box).orNull)
                seg += 1
              } else j += 1
            }
            out.iterator
          case None => Iterator.empty
        }
      }
    }(enc)
  }

  /** SEGMENT-level audio near-dup pairs — the repeated jingle, the
    * syndicated ad, the re-used intro music that whole-clip
    * fingerprints average away: every (clip, segment) becomes a STRUCT
    * entity through the SAME 4 × 16-bit banding kernel as the other
    * signature families, and pairs land wherever two segments'
    * fingerprints sit within `maxHamming`. NULL-fingerprint segments
    * (under 72 canonical frames) never pair. Output: (id_a, seg_a,
    * id_b, seg_b, hamming) with (id_a, seg_a) < (id_b, seg_b);
    * intra-clip repeats are reported. Same 100 TB shape as
    * [[videoShotNearDupPairs]]: decode and hashing never leave the
    * scan, only (clip, segment, 64-bit hash) rows reach the band
    * shuffle.
    */
  def audioSegmentNearDupPairs(
      df: DataFrame,
      idCol: String,
      binCol: String,
      canonicalRate: Int = 8000,
      windowFrames: Int = 160,
      perMille: Long = 100L,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    val ent = audioSegmentFingerprints(df, idCol, binCol, canonicalRate,
      windowFrames, perMille)
      .filter(col("afp").isNotNull)
      .select(struct(col(idCol).as("cid"), col("segment")).as("__e"), col("afp"))
    Dedup.hash64BandPairs(ent, "__e", "afp", maxHamming, maxBucket)
      .select(
        col("id_a.cid").as("id_a"), col("id_a.segment").as("seg_a"),
        col("id_b.cid").as("id_b"), col("id_b.segment").as("seg_b"),
        col("hamming"))
  }

  /** SHOT-level video near-dup pairs — duplicated SEGMENTS across (or
    * within) clips: the shared intro, the boilerplate credit roll, the
    * re-used stock cut that whole-clip fingerprints average away.
    * Each (video, shot) becomes an entity — a STRUCT key through the
    * SAME 4 × 16-bit banding kernel every other signature family rides
    * ([[Dedup.hash64BandPairs]] orders struct keys lexicographically,
    * so no id packing and no range limits) — and pairs land wherever
    * two shots' majority fingerprints sit within `maxHamming`.
    * Output: (id_a, shot_a, id_b, shot_b, hamming) with
    * (id_a, shot_a) < (id_b, shot_b); intra-video repeats (id_a ==
    * id_b, different shots) are reported — a clip that replays its own
    * intro is a real signal. 100 TB shape: frame decode and hashing
    * never leave the scan; only (video, shot, 64-bit hash) rows reach
    * the band shuffle.
    */
  def videoShotNearDupPairs(
      df: DataFrame,
      idCol: String,
      binCol: String,
      cutThreshold: Int = 8,
      maxFrames: Int = 64,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    val ent = videoShotFingerprints(df, idCol, binCol, cutThreshold, maxFrames)
      .select(struct(col(idCol).as("vid"), col("shot")).as("__e"), col("sfp"))
    Dedup.hash64BandPairs(ent, "__e", "sfp", maxHamming, maxBucket)
      .select(
        col("id_a.vid").as("id_a"), col("id_a.shot").as("shot_a"),
        col("id_b.vid").as("id_b"), col("id_b.shot").as("shot_b"),
        col("hamming"))
  }
}
