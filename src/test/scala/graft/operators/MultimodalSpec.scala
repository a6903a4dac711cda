package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  /** documents.text cast to binary stands in for media payloads. */
  private lazy val media = table("documents")
    .select(col("doc_id"), col("text").cast("binary").as("payload"))

  test("decodeFeatures: partition-parallel decode with stable schema and determinism") {
    val out = Multimodal.decodeFeatures(media, "doc_id", "payload")
    assert(out.columns.toSeq ===
      Seq("doc_id", "format", "width", "height", "n_bytes", "features"))
    val rows1 = out.orderBy("doc_id").limit(5).collect()
    val rows2 = Multimodal.decodeFeatures(media, "doc_id", "payload")
      .orderBy("doc_id").limit(5).collect()
    assert(rows1.map(_.toString).toSeq === rows2.map(_.toString).toSeq)
    rows1.foreach { r =>
      assert(r.getAs[Seq[Float]]("features").length === Multimodal.Decoders.featureDim)
      assert(Set("png", "jpg").contains(r.getAs[String]("format")))
      assert(r.getAs[Long]("n_bytes") > 0)
    }
    assert(out.count() === media.count())
  }

  private def ppm(header: String, pixels: Int*): Array[Byte] =
    header.getBytes("US-ASCII") ++ pixels.map(_.toByte).toArray

  test("ppm decode: a valid P6 parses header, dims, and channel statistics") {
    // 2x1, red then green pixel
    val bytes = ppm("P6\n2 1\n255\n", 255, 0, 0, 0, 255, 0)
    val Some((fmt, w, h, f)) = Multimodal.Decoders.decodePpm(bytes)
    assert(fmt === "ppm" && w === 2 && h === 1)
    val eps = 1e-6f
    assert(math.abs(f(0) - 0.5f) < eps, s"meanR ${f(0)}")
    assert(math.abs(f(1) - 0.5f) < eps, s"meanG ${f(1)}")
    assert(math.abs(f(2)) < eps, s"meanB ${f(2)}")
    assert(math.abs(f(3) - 0.443f) < eps, s"meanLum ${f(3)}")
    assert(math.abs(f(4) - 0.299f) < eps, s"minLum ${f(4)}")
    assert(math.abs(f(5) - 0.587f) < eps, s"maxLum ${f(5)}")
    assert(math.abs(f(6) - 0.288f) < eps, s"contrast ${f(6)}")
    assert(f(7) === 1.0f, s"nonzero ${f(7)}")
  }

  test("ppm decode: header comments are legal, per the netpbm spec") {
    val bytes = ppm("P6\n# a comment\n1 1\n# more\n255\n", 10, 20, 30)
    val Some((_, w, h, _)) = Multimodal.Decoders.decodePpm(bytes)
    assert(w === 1 && h === 1)
  }

  test("ppm decode: truncated and corrupt payloads are rejected, not thrown") {
    val good = ppm("P6\n2 1\n255\n", 255, 0, 0, 0, 255, 0)
    assert(Multimodal.Decoders.decodePpm(good.dropRight(1)).isEmpty, "short plane")
    assert(Multimodal.Decoders.decodePpm(ppm("P5\n2 1\n255\n", 1, 2, 3, 4, 5, 6)).isEmpty,
      "wrong magic (P5 is grayscale)")
    assert(Multimodal.Decoders.decodePpm(ppm("P6\n0 1\n255\n")).isEmpty, "zero width")
    assert(Multimodal.Decoders.decodePpm(ppm("P6\n1 1\n65535\n", 0, 0, 0, 0, 0, 0)).isEmpty,
      "2-byte samples unsupported")
    assert(Multimodal.Decoders.decodePpm(ppm("P6\n1 x\n255\n", 0, 0, 0)).isEmpty,
      "non-numeric height")
    assert(Multimodal.Decoders.decodePpm(Array.empty[Byte]).isEmpty, "empty")
    assert(Multimodal.Decoders.decodePpm(null).isEmpty, "null")
    // adversarial dims: w*h*3 overflows Long — must reject, not read OOB
    assert(Multimodal.Decoders.decodePpm(
      ppm("P6\n1800000000 1800000000\n255\n", 65, 65, 65)).isEmpty,
      "overflowing pixel-plane size")
  }

  test("decodeFeatures routes P6 payloads to the real parser, others to the fake") {
    import spark.implicits._
    val df = Seq(
      (1L, ppm("P6\n2 2\n255\n", Seq.fill(12)(128): _*)),
      (2L, "not an image at all".getBytes("US-ASCII"))
    ).toDF("doc_id", "payload")
    val rows = Multimodal.decodeFeatures(df, "doc_id", "payload")
      .orderBy("doc_id").collect()
    assert(rows(0).getAs[String]("format") === "ppm")
    assert(rows(0).getAs[Int]("width") === 2 && rows(0).getAs[Int]("height") === 2)
    assert(Set("png", "jpg").contains(rows(1).getAs[String]("format")))
  }

  test("sampleFrames: windows are byte-aligned slices, non-UTF8 bytes survive intact") {
    import spark.implicits._
    // 8 bytes incl. invalid-UTF8 0xFF/0xFE: n=4 -> width 2, starts 1,3,5,7
    val payload = Array[Byte](1, -1, 3, -2, 5, 6, 7, 8)
    val df = Seq((1L, payload)).toDF("id", "payload")
    val frames = Multimodal.sampleFrames(df, "id", "payload", 4)
      .orderBy("frame_idx").collect()
      .map(_.getAs[Array[Byte]]("frame_sample").toSeq)
    assert(frames === Seq(
      payload.toSeq, payload.drop(2).toSeq, payload.drop(4).toSeq, payload.drop(6).toSeq),
      frames)
  }

  test("sampleFrames emits n windows per payload") {
    val out = Multimodal.sampleFrames(media.limit(10), "doc_id", "payload", n = 4)
    assert(out.count() === 40)
    val idx = out.select("frame_idx").distinct().collect().map(_.getInt(0)).sorted
    assert(idx.toSeq === Seq(0, 1, 2, 3))
  }

  test("resize keeps one row per payload; undecodable payloads pass through with null dims") {
    val out = Multimodal.resize(media.limit(10), "doc_id", "payload", 224, 224)
    assert(out.columns.toSeq === Seq("doc_id", "payload", "format", "width", "height"))
    assert(out.count() === 10)
    // text payloads are undecodable: byte-identical pass-through,
    // honest NULL format/dims — never fabricated metadata
    out.collect().foreach { r =>
      assert(r.isNullAt(r.fieldIndex("format")) &&
        r.isNullAt(r.fieldIndex("width")) && r.isNullAt(r.fieldIndex("height")))
      assert(r.getAs[Array[Byte]]("payload") != null)
    }
  }

  /** 24-bit BMP builder: image rows top→bottom, stored per `bottomUp`. */
  private def bmp(w: Int, h: Int, bottomUp: Boolean,
      rows: Seq[Seq[(Int, Int, Int)]]): Array[Byte] = {
    val stride = (w * 3 + 3) / 4 * 4
    val hBytes = if (bottomUp) h else -h
    def le32(v: Int) = Seq(v, v >> 8, v >> 16, v >> 24).map(x => (x & 0xff).toByte)
    val head = Seq[Byte]('B', 'M') ++ le32(54 + stride * h) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(w) ++ le32(hBytes) ++ Seq[Byte](1, 0, 24, 0) ++
      Seq.fill(24)(0.toByte)
    val fileRows = if (bottomUp) rows.reverse else rows
    val px = fileRows.flatMap { r =>
      r.flatMap { case (rr, gg, bb) => Seq(bb.toByte, gg.toByte, rr.toByte) } ++
        Seq.fill(stride - w * 3)(0.toByte)
    }
    (head ++ px).toArray
  }

  test("bmp decode: bottom-up and top-down parse to the same top-left-origin pixels") {
    val rows = Seq(
      Seq((255, 0, 0), (0, 255, 0), (0, 0, 255)),
      Seq((10, 20, 30), (40, 50, 60), (70, 80, 90)))
    val up = Multimodal.Decoders.decodeBmp(bmp(3, 2, bottomUp = true, rows))
    val down = Multimodal.Decoders.decodeBmp(bmp(3, 2, bottomUp = false, rows))
    assert(up.isDefined && down.isDefined)
    val Some((fmt, w, h, fUp)) = up
    assert(fmt === "bmp" && w === 3 && h === 2)
    assert(fUp.toSeq === down.get._4.toSeq,
      "row order must be normalized before the stats")
    // meanR = (255+10+40+70)/6/255
    assert(math.abs(fUp(0) - (255 + 10 + 40 + 70) / 6.0 / 255.0) < 1e-6)
  }

  test("bmp decode: corrupt payloads are rejected, not thrown") {
    val rows = Seq(Seq((1, 2, 3)))
    val good = bmp(1, 1, bottomUp = true, rows)
    assert(Multimodal.Decoders.decodeBmp(good.dropRight(1)).isEmpty, "short pixel array")
    val wrongMagic = good.clone(); wrongMagic(0) = 'X'
    assert(Multimodal.Decoders.decodeBmp(wrongMagic).isEmpty, "bad magic")
    val bpp8 = good.clone(); bpp8(28) = 8
    assert(Multimodal.Decoders.decodeBmp(bpp8).isEmpty, "unsupported bpp")
    val rle = good.clone(); rle(30) = 1
    assert(Multimodal.Decoders.decodeBmp(rle).isEmpty, "compressed BI_RLE8")
    assert(Multimodal.Decoders.decodeBmp(good.take(30)).isEmpty, "truncated header")
    assert(Multimodal.Decoders.decodeBmp(null).isEmpty, "null")
    // adversarial dims: rowStride*h overflow must reject, not read OOB
    val big = good.clone()
    big(18) = -1; big(19) = -1; big(20) = -1; big(21) = 0x7f // huge width
    assert(Multimodal.Decoders.decodeBmp(big).isEmpty, "overflowing plane size")
    // height = Int.MinValue: math.abs stays negative, which would slip
    // through the plane bound and yield a negative-height raster
    val minH = good.clone()
    minH(22) = 0; minH(23) = 0; minH(24) = 0; minH(25) = 0x80.toByte
    assert(Multimodal.Decoders.decodeBmp(minH).isEmpty, "Int.MinValue height")
  }

  test("resize rejects target dims whose buffer would overflow Int") {
    import spark.implicits._
    val df = Seq((1L, "x".getBytes("US-ASCII"))).toDF("id", "payload")
    val e = intercept[IllegalArgumentException] {
      Multimodal.resize(df, "id", "payload", 30000, 30000)
    }
    assert(e.getMessage.contains("buffer limit"))
  }

  test("resize really resamples: nearest-neighbor picks and P6 re-encode round-trip") {
    import spark.implicits._
    // 4x4 PPM with per-pixel values v = y*4+x in all channels;
    // 2x2 nearest-neighbor picks sources (0,0),(2,0),(0,2),(2,2) = 0,2,8,10
    val px = (0 until 16).flatMap(v => Seq(v, v, v))
    val src = ppm("P6\n4 4\n255\n", px: _*)
    val df = Seq((1L, src)).toDF("id", "payload")
    val out = Multimodal.resize(df, "id", "payload", 2, 2).collect()(0)
    assert(out.getAs[String]("format") === "ppm")
    assert(out.getAs[Int]("width") === 2 && out.getAs[Int]("height") === 2)
    val bytes = out.getAs[Array[Byte]]("payload")
    // the output must itself parse as a valid P6 with the target dims
    val Some((_, w2, h2, _)) = Multimodal.Decoders.decodePpm(bytes)
    assert(w2 === 2 && h2 === 2)
    val plane = bytes.drop("P6\n2 2\n255\n".length).map(_ & 0xff).toSeq
    assert(plane === Seq(0, 0, 0, 2, 2, 2, 8, 8, 8, 10, 10, 10), plane)
    // a decoded BMP resamples through the same kernel and re-encodes P6
    val bdf = Seq((2L, bmp(2, 2, bottomUp = true, Seq(
      Seq((5, 5, 5), (6, 6, 6)), Seq((7, 7, 7), (8, 8, 8)))))).toDF("id", "payload")
    val bout = Multimodal.resize(bdf, "id", "payload", 1, 1).collect()(0)
    val bplane = bout.getAs[Array[Byte]]("payload").drop("P6\n1 1\n255\n".length)
    assert(bplane.map(_ & 0xff).toSeq === Seq(5, 5, 5), "top-left pixel of the image")
  }

  /** Encode a pixel grid (rows of 0xRRGGBB) through the JDK's own
    * ImageIO writer — the golden images are generated, not checked in,
    * so the decode assertions compare against the exact pixels planted.
    */
  private def imageIoBytes(fmt: String, pixels: Seq[Seq[Int]]): Array[Byte] = {
    val h = pixels.length
    val w = pixels.head.length
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixels(y)(x))
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, baos), s"no $fmt writer")
    baos.toByteArray
  }

  test("png decode via ImageIO: real decode, stats exactly equal to the P6 twin's") {
    val pixels = Seq(
      Seq(0xff0000, 0x00ff00),
      Seq(0x0000ff, 0x102030))
    val png = imageIoBytes("png", pixels)
    val Some((fmt, w, h, feats)) = Some(Multimodal.Decoders.decode(png))
    assert(fmt === "png" && w === 2 && h === 2)
    // PNG is lossless: the same pixel plane as P6 must yield the SAME
    // feature vector bit-for-bit (one shared stats kernel)
    val twin = ppm("P6\n2 2\n255\n",
      pixels.flatten.flatMap(p => Seq((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)): _*)
    val Some((_, _, _, twinFeats)) = Multimodal.Decoders.decodePpm(twin)
    assert(feats.toSeq === twinFeats.toSeq)
  }

  test("gif decode via ImageIO: raster normalization matches the JDK's own decode exactly") {
    // NOTE: the JDK GIF *writer* is itself lossy on small indexed
    // images (it phase-shifts rows — verified with a standalone
    // ImageIO.write/read probe), so planted pixels can't be the golden
    // source. The decode contract under test is faithfulness: our
    // Raster must carry exactly the pixels ImageIO.read produces for
    // those bytes.
    val pixels = Seq(Seq(0xffffff, 0x000000), Seq(0x000000, 0xffffff))
    val gif = imageIoBytes("gif", pixels)
    val (fmt, w, h, feats) = Multimodal.Decoders.decode(gif)
    assert(fmt === "gif" && w === 2 && h === 2)
    val jdk = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gif))
    val twin = ppm("P6\n2 2\n255\n",
      (for (y <- 0 until 2; x <- 0 until 2; c <- Seq(16, 8, 0))
        yield (jdk.getRGB(x, y) >> c) & 0xff): _*)
    val Some((_, _, _, twinFeats)) = Multimodal.Decoders.decodePpm(twin)
    assert(feats.toSeq === twinFeats.toSeq)
  }

  test("jpeg decode via ImageIO: exact dims, channel stats within lossy tolerance") {
    // uniform mid-gray: JPEG's DCT round-trip stays within a few codes
    val pixels = Seq.fill(8)(Seq.fill(8)(0x808080))
    val jpg = imageIoBytes("jpg", pixels)
    val (fmt, w, h, feats) = Multimodal.Decoders.decode(jpg)
    assert(fmt === "jpeg" && w === 8 && h === 8)
    val expected = 0x80 / 255.0f
    assert(math.abs(feats(3) - expected) < 0.02f, s"meanLum ${feats(3)}")
    assert(feats(6) < 0.05f, s"contrast ${feats(6)} should be ~0 for a uniform image")
  }

  test("imageio: corrupt payload behind a real magic degrades to the fake, never throws") {
    // a PNG signature followed by garbage: the PNG reader claims it,
    // then fails mid-decode — the dispatch must degrade, not throw
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n') ++
      Array.fill[Byte](64)(0x5a)
    assert(Multimodal.Decoders.imageIoRaster(corrupt).isEmpty)
    val (fmt, _, _, feats) = Multimodal.Decoders.decode(corrupt)
    assert(Set("png", "jpg").contains(fmt)) // the KR fake's label space
    assert(feats.length === Multimodal.Decoders.featureDim)
    // and resize passes it through byte-identical with NULL dims
    import spark.implicits._
    val out = Multimodal.resize(
      Seq((1L, corrupt)).toDF("id", "payload"), "id", "payload", 2, 2).collect()(0)
    assert(out.getAs[Array[Byte]]("payload").toSeq === corrupt.toSeq)
    assert(out.isNullAt(out.fieldIndex("width")))
  }

  test("resize really resamples PNG payloads through the shared kernel") {
    import spark.implicits._
    // 4x4 quadrants; 2x2 nearest-neighbor picks (0,0),(2,0),(0,2),(2,2)
    val q = Seq(
      Seq(0xff0000, 0xff0000, 0x00ff00, 0x00ff00),
      Seq(0xff0000, 0xff0000, 0x00ff00, 0x00ff00),
      Seq(0x0000ff, 0x0000ff, 0xffffff, 0xffffff),
      Seq(0x0000ff, 0x0000ff, 0xffffff, 0xffffff))
    val png = imageIoBytes("png", q)
    val out = Multimodal.resize(
      Seq((1L, png)).toDF("id", "payload"), "id", "payload", 2, 2).collect()(0)
    assert(out.getAs[String]("format") === "ppm")
    val bytes = out.getAs[Array[Byte]]("payload")
    val plane = bytes.drop("P6\n2 2\n255\n".length).map(_ & 0xff).toSeq
    assert(plane === Seq(255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255), plane)
  }

  /** Hand-assembled RIFF/WAVE: header + fmt + data (+ optional extra
    * chunk), interleaved samples given per-channel in [-1,1]-ish ints
    * (8-bit unsigned or 16-bit signed as `bits` says).
    */
  private def wav(channels: Int, rate: Int, bits: Int, samples: Seq[Int],
      extraChunk: Boolean = false): Array[Byte] = {
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def ascii(s: String): Unit = bb ++= s.getBytes("US-ASCII")
    def le16(v: Int): Unit = { bb += (v & 0xff).toByte; bb += ((v >> 8) & 0xff).toByte }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >> 16) & 0xffff) }
    val dataLen = samples.length * (bits / 8)
    val extraLen = if (extraChunk) 12 else 0
    ascii("RIFF"); le32(36 + dataLen + extraLen); ascii("WAVE")
    if (extraChunk) { ascii("LIST"); le32(4); ascii("INFO") }
    ascii("fmt "); le32(16); le16(1); le16(channels); le32(rate)
    le32(rate * channels * bits / 8); le16(channels * bits / 8); le16(bits)
    ascii("data"); le32(dataLen)
    samples.foreach { s =>
      if (bits == 8) bb += (s & 0xff).toByte else le16(s & 0xffff)
    }
    bb.toArray
  }

  test("wav decode: 8-bit mono parses geometry and one-pass stats") {
    // full-scale square wave: 255,1 ~ +0.992,-0.992 around the 128 mid
    val clip = wav(1, 8000, 8, Seq(255, 1, 255, 1, 255, 1, 255, 1))
    val (fmt, w, h, feats) = Multimodal.Decoders.decode(clip)
    assert((fmt, w, h) === (("wav", 8, 1)))
    val Seq(dur, rms, peak, zcr, mean, ch, khz, depth) = feats.toSeq
    assert(math.abs(dur - 8f / 8000f) < 1e-7)
    assert(math.abs(rms - 0.9921875f) < 1e-6, rms)
    assert(math.abs(peak - 0.9921875f) < 1e-6, peak)
    assert(math.abs(zcr - 1.0f) < 1e-6, zcr) // alternates every frame
    assert(math.abs(mean) < 1e-6, mean) // symmetric around the midpoint
    assert((ch, khz, depth) === ((1f, 8f, 8f)))
  }

  test("wav decode: 16-bit stereo averages channels; extra chunks are walked over") {
    // L = +16384, R = -16384 -> channel-averaged silence; 4 frames
    val clip = wav(2, 44100, 16,
      Seq(16384, -16384, 16384, -16384, 16384, -16384, 16384, -16384),
      extraChunk = true)
    val (fmt, w, h, feats) = Multimodal.Decoders.decode(clip)
    assert((fmt, w, h) === (("wav", 4, 2)))
    assert(math.abs(feats(1)) < 1e-6, s"rms of cancelling channels: ${feats(1)}")
    assert(feats(5) === 2f && feats(7) === 16f)
  }

  test("wav decode: non-PCM, truncated, and zero-frame payloads degrade to the fake") {
    val good = wav(1, 8000, 8, Seq(200, 100, 200, 100))
    // corrupt the format tag (PCM=1 -> 3 = IEEE float)
    val floatFmt = good.clone(); floatFmt(20) = 3
    // truncate mid-data
    val truncated = good.dropRight(3)
    // data chunk with zero frames
    val empty = wav(1, 8000, 8, Seq.empty)
    Seq(floatFmt, truncated, empty).foreach { bad =>
      val (fmt, _, _, _) = Multimodal.Decoders.decode(bad)
      assert(fmt === "png" || fmt === "jpg", s"expected fake fallback, got $fmt")
    }
    assert(Multimodal.Decoders.decode(good)._1 === "wav")
  }

  /** Hand-assembled minimal AVI: RIFF/AVI + LIST hdrl + 56-byte avih. */
  private def avi(w: Int, h: Int, frames: Int, usPerFrame: Int,
      streams: Int = 1): Array[Byte] = {
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def ascii(s: String): Unit = bb ++= s.getBytes("US-ASCII")
    def le32(v: Int): Unit = (0 to 3).foreach(i => bb += ((v >> (8 * i)) & 0xff).toByte)
    ascii("RIFF"); le32(80); ascii("AVI ")
    ascii("LIST"); le32(68); ascii("hdrl")
    ascii("avih"); le32(56)
    le32(usPerFrame); le32(0); le32(0); le32(0)
    le32(frames); le32(0); le32(streams); le32(0)
    le32(w); le32(h); (1 to 4).foreach(_ => le32(0))
    bb.toArray
  }

  /** [[avi]] extended with a LIST movi: video frames (00dc), an
    * interleaved audio chunk (01wb), an odd-sized frame (pad byte),
    * and optionally a `LIST rec ` grouping around the tail frames.
    */
  private def aviWithMovi(framePayloads: Seq[Array[Byte]],
      withAudio: Boolean = false, recWrap: Boolean = false): Array[Byte] = {
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def ascii(s: String): Unit = bb ++= s.getBytes("US-ASCII")
    def le32(v: Int): Unit = (0 to 3).foreach(i => bb += ((v >> (8 * i)) & 0xff).toByte)
    def chunk(id: String, payload: Array[Byte]): Unit = {
      ascii(id); le32(payload.length); bb ++= payload
      if (payload.length % 2 == 1) bb += 0 // RIFF pad
    }
    val movi = {
      val inner = scala.collection.mutable.ArrayBuffer.empty[Byte]
      val save = bb.toSeq; bb.clear()
      ascii("movi")
      val (head, tail) =
        if (recWrap && framePayloads.size > 1) framePayloads.splitAt(1)
        else (framePayloads, Seq.empty)
      head.foreach(chunk("00dc", _))
      if (withAudio) chunk("01wb", Array[Byte](9, 9, 9))
      if (tail.nonEmpty) {
        val recBody = {
          val save2 = bb.toSeq; bb.clear()
          ascii("rec ")
          tail.foreach(chunk("00db", _))
          val out = bb.toArray; bb.clear(); bb ++= save2; out
        }
        ascii("LIST"); le32(recBody.length); bb ++= recBody
      }
      val out = bb.toArray; bb.clear(); bb ++= save; inner ++= out; inner.toArray
    }
    val hdr = avi(16, 16, framePayloads.size, 40000)
    bb.clear(); bb ++= hdr
    ascii("LIST"); le32(movi.length); bb ++= movi
    // fix the RIFF size to cover the appended movi list
    val total = bb.length - 8
    (0 to 3).foreach(i => bb(4 + i) = ((total >> (8 * i)) & 0xff).toByte)
    bb.toArray
  }

  test("aviFrameChunks: video chunks extracted in order; audio, padding, rec-lists handled") {
    val frames = Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5, 6, 7), Array[Byte](8))
    // plain, with audio interleaved, and with the tail rec-wrapped
    for ((audio, rec) <- Seq((false, false), (true, false), (true, true))) {
      val got = Multimodal.Decoders.aviFrameChunks(
        aviWithMovi(frames, withAudio = audio, recWrap = rec))
      assert(got.map(_.map(_.toSeq)) === Some(frames.map(_.toSeq)),
        s"audio=$audio rec=$rec")
    }
    // not an AVI -> None; AVI without movi -> Some(empty)
    assert(Multimodal.Decoders.aviFrameChunks("plain text".getBytes) === None)
    assert(Multimodal.Decoders.aviFrameChunks(avi(16, 16, 3, 40000)) === Some(Vector.empty))
    // truncated movi chunk -> rejected, not thrown
    val trunc = aviWithMovi(frames).dropRight(3)
    assert(Multimodal.Decoders.aviFrameChunks(trunc) === None)
  }

  test("aviFrameChunks: hex stream numbers — stream 0x0A's frames are video, not dropped") {
    // AVI stream ids are TWO HEX DIGITS: '0Adc' is compressed video of
    // stream 10. Build a movi list by hand with one decimal-id frame
    // and one hex-id frame; both must be extracted, audio skipped.
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def ascii(s: String): Unit = bb ++= s.getBytes("US-ASCII")
    def le32(v: Int): Unit = (0 to 3).foreach(i => bb += ((v >> (8 * i)) & 0xff).toByte)
    def chunk(id: String, payload: Array[Byte]): Unit = {
      ascii(id); le32(payload.length); bb ++= payload
      if (payload.length % 2 == 1) bb += 0
    }
    ascii("movi")
    chunk("00dc", Array[Byte](1, 2))
    chunk("0Adc", Array[Byte](3, 4)) // hex stream number 10
    chunk("0bdb", Array[Byte](5))    // lowercase hex stream 11
    chunk("01wb", Array[Byte](9))    // audio — skipped
    val movi = bb.toArray
    bb.clear()
    ascii("RIFF"); le32(0); ascii("AVI ")
    ascii("LIST"); le32(movi.length); bb ++= movi
    val total = bb.length - 8
    (0 to 3).foreach(i => bb(4 + i) = ((total >> (8 * i)) & 0xff).toByte)
    val got = Multimodal.Decoders.aviFrameChunks(bb.toArray)
    assert(got.map(_.map(_.toSeq)) ===
      Some(Vector(Seq[Byte](1, 2), Seq[Byte](3, 4), Seq[Byte](5))))
  }

  test("sampleVideoFrames: evenly spaced real frames, all frames when F < n, zero rows otherwise") {
    import spark.implicits._
    val sevenFrames = aviWithMovi((0 until 7).map(k => Array[Byte](k.toByte, 77)))
    val twoFrames = aviWithMovi((0 until 2).map(k => Array[Byte](k.toByte)))
    val df = Seq(
      (1L, sevenFrames), (2L, twoFrames), (3L, "not a container".getBytes))
      .toDF("id", "payload")
    val out = Multimodal.sampleVideoFrames(df, "id", "payload", n = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getAs[Array[Byte]](3).toSeq)).toSeq.sortBy(t => (t._1, t._2))
    // id 1: F=7, m=3 -> ordinals 0, 2, 4; id 2: F=2 < n -> both; id 3: none
    assert(out == Seq(
      (1L, 0, 0, Seq[Byte](0, 77)), (1L, 1, 2, Seq[Byte](2, 77)),
      (1L, 2, 4, Seq[Byte](4, 77)),
      (2L, 0, 0, Seq[Byte](0)), (2L, 1, 1, Seq[Byte](1))), out.toString)
  }

  test("mjpeg pipeline: extracted AVI frames are real JPEGs that decodeFeatures decodes") {
    import spark.implicits._
    // an MJPEG-style AVI: each movi frame chunk is a REAL JPEG payload
    val jpegs = (0 until 3).map { k =>
      imageIoBytes("jpg", Seq(
        Seq(0x101010 * (k + 1), 0x202020),
        Seq(0x303030, 0x404040 + k)))
    }
    val df = Seq((7L, aviWithMovi(jpegs))).toDF("id", "payload")
    val frames = Multimodal.sampleVideoFrames(df, "id", "payload", n = 3)
    // container walk → frame bytes → the SAME image decoder the still
    // gates use: the composition the operator doc promises
    val decoded = Multimodal.decodeFeatures(frames, "frame_no", "frame")
      .orderBy("frame_no")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(decoded.toSeq == Seq((0, "jpeg", 2, 2), (1, "jpeg", 2, 2), (2, "jpeg", 2, 2)),
      decoded.toSeq.toString)
  }

  test("avi decode: container grammar yields real dims, fps, frame count") {
    val (fmt, w, h, feats) = Multimodal.Decoders.decode(avi(320, 240, 250, 40000))
    assert((fmt, w, h) === (("avi", 320, 240)))
    val Seq(dur, fps, frames, streams, _*) = feats.toSeq
    assert(math.abs(dur - 10f) < 1e-4, dur) // 250 frames at 25 fps
    assert(math.abs(fps - 25f) < 1e-4, fps)
    assert(frames === 250f && streams === 1f)
  }

  test("avi decode: corrupt containers degrade to the fake, never throw") {
    val good = avi(320, 240, 250, 40000)
    val badMagic = good.clone(); badMagic(8) = 'W'.toByte // RIFF but not AVI
    val truncated = good.dropRight(20) // avih shorter than declared
    val zeroDims = avi(0, 240, 250, 40000)
    Seq(badMagic, truncated, zeroDims).foreach { bad =>
      val (fmt, _, _, _) = Multimodal.Decoders.decode(bad)
      assert(fmt === "png" || fmt === "jpg", s"expected fake fallback, got $fmt")
    }
  }

  test("q_mm_video gate: planted hex AVIs hit the real container parser") {
    val out = graft.SparkEntry.queries("q_mm_video")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r).toMap
    val planted = out.keys.filter(_ % 4 == 0)
    assert(planted.nonEmpty)
    planted.foreach { id =>
      val r = out(id)
      assert(r.getString(1) === "avi", s"doc $id")
      assert(r.getInt(2) === (16 + id % 64).toInt)
      assert(r.getInt(3) === (16 + id % 48).toInt)
      assert(r.getLong(4) === 88L)
    }
  }

  test("q_mm_audio gate: planted hex WAVs hit the real parser end to end") {
    val out = graft.SparkEntry.queries("q_mm_audio")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r).toMap
    val planted = out.keys.filter(_ % 3 == 0)
    assert(planted.nonEmpty)
    planted.foreach { id =>
      val r = out(id)
      assert(r.getString(1) === "wav", s"doc $id")
      assert(r.getInt(2) === (8 + id % 32).toInt) // frames
      assert(r.getInt(3) === 1) // channels
      assert(r.getLong(4) === 44 + (8 + id % 32)) // RIFF header + samples
    }
    assert(out.keys.filter(_ % 3 != 0).forall(id =>
      Set("png", "jpg")(out(id).getString(1))))
  }

  // ------------------------------------------------------ perceptual hash

  /** 9×8 gray pixel plane from a (x, y) → value function. */
  private def grayRows(f: (Int, Int) => Int): Seq[Seq[(Int, Int, Int)]] =
    (0 until 8).map(y => (0 until 9).map { x =>
      val v = f(x, y) & 0xff; (v, v, v)
    })

  private def ppm98(f: (Int, Int) => Int): Array[Byte] =
    "P6\n9 8\n255\n".getBytes("US-ASCII") ++
      grayRows(f).flatten.flatMap { case (r, g, b) =>
        Seq(r.toByte, g.toByte, b.toByte)
      }.toArray

  test("imageDHash: identical pixels hash identically across codecs (P6 == BMP)") {
    import spark.implicits._
    def f(x: Int, y: Int): Int = (x * 31 + y * 17) % 256
    val in = Seq(
      (1L, ppm98(f)),
      (2L, bmp(9, 8, bottomUp = true, grayRows(f))),
      (3L, bmp(9, 8, bottomUp = false, grayRows(f))),
      (4L, "not an image".getBytes("US-ASCII"))
    ).toDF("id", "payload")
    val out = Multimodal.imageDHash(in, "id", "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    val h1 = out(1L).getLong(4)
    // the Raster abstraction normalizes row order and BGR: all three
    // encodings of the same pixel plane produce the same fingerprint
    assert(out(2L).getLong(4) === h1)
    assert(out(3L).getLong(4) === h1)
    assert(out(1L).getString(1) === "ppm" && out(2L).getString(1) === "bmp")
    assert(out(4L).isNullAt(1) && out(4L).isNullAt(4))
  }

  test("imageDHash: gradient signs survive a uniform brightness shift") {
    import spark.implicits._
    def f(x: Int, y: Int): Int = (x * 13 + y * 7) % 200 // headroom for +40
    val in = Seq(
      (1L, ppm98(f)),
      (2L, ppm98((x, y) => f(x, y) + 40))
    ).toDF("id", "payload")
    val hs = Multimodal.imageDHash(in, "id", "payload")
      .orderBy("id").collect().map(_.getLong(4))
    assert(hs(0) === hs(1)) // dHash compares neighbors, not absolute luma
  }

  test("imageNearDupPairs: one-bit perturbations pair up, far images do not") {
    import spark.implicits._
    def f(x: Int, y: Int): Int = (x * 31 + y * 17) % 256
    val in = Seq(
      (1L, ppm98(f)),
      (2L, ppm98((x, y) => if (x == 0 && y == 0) f(0, 0) + 40 else f(x, y))),
      // inverted gradient: far in Hamming distance from 1 and 2
      (3L, ppm98((x, y) => 255 - f(x, y))),
      (4L, "undecodable".getBytes("US-ASCII")) // must not pair with anything
    ).toDF("id", "payload")
    val pairs = Multimodal.imageNearDupPairs(in, "id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 1)))
  }

  test("dHash index lifecycle: append == rebuild, delete == rebuild, purge reclaims") {
    import spark.implicits._
    // 60 planted images in 30 near-pairs (even = base, odd = one-pixel bump)
    def img(d: Int): Array[Byte] = ppm98((x, y) =>
      (x * 31 + y * 17 + (d / 2) * 7 +
        (if (x == 0 && y == 0 && d % 2 == 1) 40 else 0)) % 256)
    val media = (0 until 60).map(d => (d.toLong, img(d))).toDF("id", "payload")
    val evens = media.filter(col("id") % 2 === 0)
    val odds = media.filter(col("id") % 2 === 1)
    def pairs(tbl: String) =
      Multimodal.imagePairsAgainstIndex(spark, tbl, odds, "id", "payload")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    Multimodal.writeDHashIndex(evens, "id", "payload", "dh_idx_whole", buckets = 4)
    Multimodal.writeDHashIndex(evens.filter(col("id") < 30),
      "id", "payload", "dh_idx_half", buckets = 4)
    Multimodal.appendToDHashIndex(spark, "dh_idx_half",
      evens.filter(col("id") >= 30), "id", "payload")
    val whole = pairs("dh_idx_whole")
    assert(whole === pairs("dh_idx_half"), "append must equal rebuild")
    assert(whole.exists { case (a, b, h) => a == b + 1 && h <= 1 },
      "planted near-pairs must surface")

    // delete == rebuild
    val receipt = Multimodal.deleteFromDHashIndex(spark, "dh_idx_whole",
      evens.filter(col("id") % 4 === 0).select("id"))
    assert(receipt === evens.filter(col("id") % 4 === 0).count())
    assert(Multimodal.deleteFromDHashIndex(spark, "dh_idx_whole",
      evens.filter(col("id") % 4 === 0).select("id")) === 0L, "re-delete is a no-op")
    Multimodal.writeDHashIndex(evens.filter(col("id") % 4 =!= 0),
      "id", "payload", "dh_idx_rebuilt", buckets = 4)
    val deleted = pairs("dh_idx_whole")
    assert(deleted === pairs("dh_idx_rebuilt"), "delete must equal rebuild")

    // purge: answers unchanged, tombstone mass reclaimed
    val statsBefore = Multimodal.dhashIndexStats(spark, "dh_idx_whole")
    assert(statsBefore.tombstoneFraction > 0.0)
    val (before, after) = Multimodal.purgeDHashIndex(spark, "dh_idx_whole")
    assert(after < before)
    assert(pairs("dh_idx_whole") === deleted, "purge must not change answers")
    assert(Multimodal.dhashIndexStats(spark, "dh_idx_whole").tombstoneFraction === 0.0)
    // idempotent second purge
    val (b2, a2) = Multimodal.purgeDHashIndex(spark, "dh_idx_whole")
    assert(b2 === a2)
  }

  // ---- video fingerprint family (frames via aviWithMovi, pixels via ppm98)

  private def vframe(base: Int, t: Int, bump: Boolean): Array[Byte] =
    ppm98((x, y) =>
      (x * 31 + y * 17 + base * 7 + (if (y == 0) 0 else t * 11) +
        (if (bump && x == 0 && y == 0) 40 else 0)) % 256)

  test("videoFingerprint: per-bit majority absorbs minority-frame noise; sampling bounds the hashing; non-video passes through fingerprint-less") {
    import spark.implicits._
    def clip(base: Int, f: Int, bumped: Int): Array[Byte] =
      aviWithMovi((0 until f).map(t => vframe(base, t, t < bumped)))
    val media = Seq(
      (0L, clip(3, 5, 0)),
      (1L, clip(3, 5, 2)), // same clip, corner noise in 2 of 5 frames
      // reversed gradient — every compare flips, guaranteed different
      (2L, aviWithMovi((0 until 5).map(_ =>
        ppm98((x, y) => (1024 - x * 31 - y * 17) % 256)))),
      (3L, aviWithMovi(Seq(Array[Byte](1, 2, 3)))), // no decodable frame
      (4L, "not a video".getBytes("US-ASCII")))
      .toDF("id", "payload")
    val fp = Multimodal.videoFingerprint(media, "id", "payload")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) None else Some((r.getInt(2), r.getInt(3), r.getLong(4)))))
      .toMap
    assert(fp(0L).isDefined && fp(0L).get._1 === 5 && fp(0L).get._2 === 5)
    assert(fp(0L).get._3 === fp(1L).get._3,
      "minority-frame noise must be absorbed by the per-bit majority")
    assert(fp(2L).isDefined && fp(2L).get._3 != fp(0L).get._3)
    assert(fp(3L).isEmpty, "a movi of undecodable frames is honestly unfingerprinted")
    assert(fp(4L).isEmpty, "non-video passes through fingerprint-less")
    // maxFrames bounds the hashing (a long clip never hashes every frame)
    val sampled = Multimodal.videoFingerprint(media, "id", "payload", maxFrames = 3)
      .filter(col("id") === 0L).head()
    assert(sampled.getInt(2) === 5 && sampled.getInt(3) === 3)
    // the banding kernel recovers the noisy twin; null rows never reach it
    val pairs = Multimodal.videoNearDupPairs(media, "id", "payload", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), pairs.toString)
    assert(!pairs.exists(p => p._1 >= 3L || p._2 >= 3L),
      "unfingerprinted payloads must never pair")
  }

  test("videoShots: planted cuts recovered, jitter absorbed, garbage frame dropped without splitting, sampling + non-video contracts") {
    import spark.implicits._
    // shot s picks the gradient pattern; spatial term wraps inside 128
    // so the additive t·11 row drift never re-wraps a pixel — within a
    // shot only the odd-frame corner bump (≤ 1 bit) moves
    def sframe(s: Int, t: Int): Array[Byte] =
      ppm98((x, y) => (x * (29 + 97 * s) + y * 17) % 128 +
        (if (y == 0) 0 else t * 11) +
        (if (t % 2 == 1 && x == 0 && y == 0) 40 else 0))
    def shotOf(t: Int) = if (t < 3) 0 else if (t < 6) 1 else 2
    val clip = aviWithMovi((0 until 9).map(t => sframe(shotOf(t), t)))
    val garbled = aviWithMovi((0 until 9).map(t =>
      if (t == 4) Array[Byte](1, 2, 3) else sframe(shotOf(t), t)))
    val flat = aviWithMovi((0 until 9).map(t => sframe(0, t)))
    val media = Seq(
      (0L, clip), (1L, garbled), (2L, flat),
      (3L, "not a video".getBytes("US-ASCII")),
      (4L, aviWithMovi(Seq(Array[Byte](7, 7, 7))))) // zero decodable frames
      .toDF("id", "payload")
    def shots(df: org.apache.spark.sql.DataFrame, cut: Int = 8, mf: Int = 64) =
      Multimodal.videoShots(df, "id", "payload", cutThreshold = cut, maxFrames = mf)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
        .groupBy(_._1).map { case (k, v) =>
          k -> v.sortBy(_._2).map(x => (x._2, x._3, x._4)).toSeq
        }
    val out = shots(media)
    assert(out(0L) === Seq((0, 0, 3), (1, 3, 3), (2, 6, 3)),
      "both planted cuts recovered; the odd-frame bump opens no false cut")
    assert(out(1L) === Seq((0, 0, 3), (1, 3, 2), (2, 6, 3)),
      "the undecodable frame drops from its shot without splitting it")
    assert(out(2L) === Seq((0, 0, 9)), "a cut-free clip is one shot")
    assert(!out.contains(3L) && !out.contains(4L),
      "non-video and zero-decodable payloads emit zero rows")
    // sampling: maxFrames = 3 keeps movi ordinals 0/3/6 — one frame
    // per planted shot, three one-frame shots at the real offsets
    val sampled = shots(media.filter(col("id") === 0L), mf = 3)
    assert(sampled(0L) === Seq((0, 0, 1), (1, 3, 1), (2, 6, 1)))
    // the threshold is the knob: past the worst boundary, one shot
    val loose = shots(media.filter(col("id") === 0L), cut = 63)
    assert(loose(0L) === Seq((0, 0, 9)))
  }

  test("audioSegments: planted silence splits, exact volume + ZOH-rate invariance, stereo summing, edge contracts") {
    import spark.implicits._
    // 10 windows of 160 frames at the canonical 8 kHz; windows 3-4
    // silent → segments (0, 0..2) and (1, 5..9)
    def voiced(w: Int) = w < 3 || w > 4
    def samp(i: Int): Int = // even, so exact halving exists
      if (voiced(i / 160)) 2 * (((i * i * 7 + i * 13 + 5) % 6000) - 3000) else 0
    val mono = (0 until 1600).map(samp)
    val media = Seq(
      (0L, wav(1, 8000, 16, mono)),
      (1L, wav(1, 8000, 16, mono.map(_ / 2))),         // half volume
      (2L, wav(1, 16000, 16, mono.flatMap(v => Seq(v, v)))), // ZOH 2x rate
      (3L, wav(2, 8000, 16, mono.flatMap(v => Seq(v, -v / 2)))), // stereo sums
      (4L, wav(1, 8000, 16, mono ++ mono.take(100))),  // trailing partial window
      (5L, wav(1, 8000, 16, Seq.fill(80)(1000))),      // shorter than one window
      (6L, "not audio".getBytes("US-ASCII")))
      .toDF("id", "payload")
    val segs = Multimodal.audioSegments(media, "id", "payload")
      .collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1).toSeq }
    val expected = Seq((0, 0, 3, 480), (1, 800, 5, 800))
    assert(segs(0L) === expected)
    assert(segs(1L) === expected, "exact half volume must not move a verdict")
    assert(segs(2L) === expected, "a ZOH rate-doubled clip canonicalizes back")
    // stereo: channels SUM per frame (v + (-v/2) = v/2 — half volume again)
    assert(segs(3L) === expected)
    assert(segs(4L) === expected,
      "the trailing partial window is dropped, not scored")
    assert(!segs.contains(5L) && !segs.contains(6L),
      "sub-window clips and non-audio payloads emit zero rows")
  }

  test("videoKeyframes: the middle decoded frame of each shot, real payload bytes, garbage-frame shift honored") {
    import spark.implicits._
    def sframe(s: Int, t: Int): Array[Byte] =
      ppm98((x, y) => (x * (29 + 97 * s) + y * 17) % 128 +
        (if (y == 0) 0 else t * 11))
    def shotOf(t: Int) = if (t < 3) 0 else if (t < 6) 1 else 2
    val cleanFrames = (0 until 9).map(t => sframe(shotOf(t), t))
    val garbledFrames = (0 until 9).map(t =>
      if (t == 4) Array[Byte](1, 2, 3) else sframe(shotOf(t), t))
    val media = Seq(
      (0L, aviWithMovi(cleanFrames)),
      (1L, aviWithMovi(garbledFrames)),
      (2L, "not a video".getBytes("US-ASCII")))
      .toDF("id", "payload")
    val kf = Multimodal.videoKeyframes(media, "id", "payload", cutThreshold = 8)
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1)),
        (r.getInt(2), r.getInt(3), r.getAs[Array[Byte]](4))))
      .toMap
    // clean clip: shots {0,1,2},{3,4,5},{6,7,8} → middles 1, 4, 7
    assert(kf((0L, 0))._1 === 1 && kf((0L, 1))._1 === 4 && kf((0L, 2))._1 === 7)
    // garbled: shot 1's decoded members are {3,5} → middle (offset 1) = 5
    assert(kf((1L, 1))._1 === 5 && kf((1L, 1))._2 === 2)
    // the payload is the REAL planted frame, byte for byte
    assert(java.util.Arrays.equals(kf((0L, 1))._3, cleanFrames(4)))
    assert(java.util.Arrays.equals(kf((1L, 1))._3, garbledFrames(5)))
    assert(!kf.keySet.exists(_._1 == 2L), "non-video emits no keyframes")
  }

  test("audioSegmentNearDupPairs: a shared jingle pairs across clips and volumes, intra-clip repeats pair, short segments are honestly null") {
    import spark.implicits._
    // the jingle repeats its 480-frame pattern so a second occurrence
    // at a 480-aligned offset carries identical samples
    def J(i: Int) = { val r = i % 480; 2 * (((r * r * 11 + r * 29 + 7) % 6000) - 3000) }
    def B(k: Int)(i: Int) = 2 * (((i * i * 13 + i * 31 + k * 997) % 6000) - 3000)
    def clip(f: Int => Int): Array[Byte] = wav(1, 8000, 16, (0 until 1600).map(f))
    val media = Seq(
      (0L, clip(i => if (i < 480) J(i) else if (i < 800) 0 else B(1)(i))),
      (1L, clip(i => (if (i < 480) J(i) else if (i < 800) 0 else B(2)(i)) / 2)), // half volume
      (2L, clip(i => if (i < 480) J(i) else if (i < 960) 0 else if (i < 1440) J(i) else 0)))
      .toDF("id", "payload")
    val fps = Multimodal.audioSegmentFingerprints(media, "id", "payload")
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    assert(fps.keySet === Set((0L, 0), (0L, 1), (1L, 0), (1L, 1), (2L, 0), (2L, 1)))
    assert(fps((0L, 0)) === fps((1L, 0)),
      "exact half volume must not move the segment fingerprint")
    assert(fps((2L, 0)) === fps((2L, 1)), "the 480-aligned repeat hashes equal")
    val pairs = Multimodal.audioSegmentNearDupPairs(media, "id", "payload",
      maxHamming = 0)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    val jingles = Seq((0L, 0), (1L, 0), (2L, 0), (2L, 1))
    val expected = (for {
      i <- jingles.indices; j <- (i + 1) until jingles.length
    } yield (jingles(i)._1, jingles(i)._2, jingles(j)._1, jingles(j)._2)).toSet
    assert(pairs === expected, s"got $pairs")
    // a segment under 72 canonical frames (one 64-frame window) is
    // honestly unfingerprinted and never pairs
    val tiny = Seq(
      (0L, wav(1, 8000, 16, (0 until 640).map(i => if (i < 64) 4000 else 0))),
      (1L, wav(1, 8000, 16, (0 until 640).map(i => if (i < 64) 4000 else 0))))
      .toDF("id", "payload")
    val tf = Multimodal.audioSegmentFingerprints(tiny, "id", "payload",
      windowFrames = 64).collect()
    assert(tf.length === 2 && tf.forall(_.isNullAt(4)))
    assert(Multimodal.audioSegmentNearDupPairs(tiny, "id", "payload",
      windowFrames = 64).isEmpty)
  }

  test("videoShotNearDupPairs: shared intros pair across clips, repeated shots pair within one, distinct shots stay apart") {
    import spark.implicits._
    // full-avalanche pattern per key: distinct keys → independent
    // gradient fields, equal keys → identical frames
    def pix(key: Int, x: Int, y: Int): Int = {
      val m = key.toLong * 4096L + x * 64L + y
      val h1 = Math.floorMod(m * 2654435761L, 4294967296L)
      val h2 = h1 ^ (h1 / 65536L)
      ((Math.floorMod(h2 * 40503L, 4294967296L) / 32768L) % 128L).toInt
    }
    def shotFrames(key: Int) =
      (0 until 3).map(_ => ppm98((x, y) => pix(key, x, y)))
    def clip(keys: Int*) = aviWithMovi(keys.flatMap(shotFrames))
    val media = Seq(
      (0L, clip(1, 2)),    // intro + own body
      (1L, clip(1, 3)),    // same intro, different body
      (2L, clip(4, 5, 4)), // replays its own opening as shot 2
      (3L, "not a video".getBytes("US-ASCII")))
      .toDF("id", "payload")
    val pairs = Multimodal.videoShotNearDupPairs(media, "id", "payload",
      cutThreshold = 8, maxHamming = 0)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(pairs === Set((0L, 0, 1L, 0), (2L, 0, 2L, 2)),
      s"expected the shared intro and the intra-clip repeat, got $pairs")
    // fingerprint surface sanity: every decoded clip yields its shots
    val fps = Multimodal.videoShotFingerprints(media, "id", "payload",
      cutThreshold = 8)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(4))).toMap
    assert(fps.keySet === Set((0L, 0), (0L, 1), (1L, 0), (1L, 1),
      (2L, 0), (2L, 1), (2L, 2)))
    assert(fps((0L, 0)) === fps((1L, 0)) && fps((2L, 0)) === fps((2L, 2)))
    assert(fps((0L, 1)) !== fps((1L, 1)))
  }

  test("video fingerprint index lifecycle: append == rebuild; filtered == sub-corpus rebuild; the dHash family's delete/purge/stats verbs serve it verbatim") {
    import spark.implicits._
    def clip(d: Int): Array[Byte] =
      aviWithMovi((0 until 3).map(t =>
        vframe(d / 2, t, d % 2 == 1 && t < 1))) // odd id: 1 noisy frame of 3
    val media = (0 until 60)
      .map(d => (d.toLong, clip(d), if (d % 3 == 0) "a" else "b"))
      .toDF("id", "payload", "cam")
    val evens = media.filter(col("id") % 2 === 0)
    val odds = media.filter(col("id") % 2 === 1)
    def pairs(tbl: String) =
      Multimodal.videoPairsAgainstIndex(spark, tbl, odds, "id", "payload")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    Multimodal.writeVideoFingerprintIndex(evens, "id", "payload",
      "vfp_idx_whole", buckets = 4)
    Multimodal.writeVideoFingerprintIndex(evens.filter(col("id") < 30),
      "id", "payload", "vfp_idx_half", buckets = 4)
    Multimodal.appendToVideoFingerprintIndex(spark, "vfp_idx_half",
      evens.filter(col("id") >= 30), "id", "payload")
    val whole = pairs("vfp_idx_whole")
    assert(whole === pairs("vfp_idx_half"), "append must equal rebuild")
    // every odd batch clip recovers its even noisy twin at Hamming 0
    (0 until 60 by 2).foreach { d =>
      assert(whole.contains(((d + 1).toLong, d.toLong, 0)),
        s"planted twin ($d, ${d + 1}) not recovered: $whole")
    }

    // filtered probe == rebuild over the predicate's sub-corpus
    Multimodal.writeVideoFingerprintIndex(evens, "id", "payload",
      "vfp_flt_idx", buckets = 4, carryCols = Seq("cam"))
    Multimodal.writeVideoFingerprintIndex(evens.filter(col("cam") === "a"),
      "id", "payload", "vfp_flt_sub", buckets = 4)
    val filtered = Multimodal.videoPairsAgainstIndexWhere(
      spark, "vfp_flt_idx", odds, "id", "payload", col("cam") === "a")
    assert(filtered.columns.toSeq === Seq("batch_id", "index_id", "hamming", "cam"))
    assert(filtered.select("batch_id", "index_id", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ===
      pairs("vfp_flt_sub"),
      "filtered probe must equal a rebuild over the sub-corpus")

    // the SHARED family verbs: delete == rebuild, purge reclaims
    val receipt = Multimodal.deleteFromDHashIndex(spark, "vfp_idx_whole",
      evens.filter(col("id") % 4 === 0).select("id"))
    assert(receipt === evens.filter(col("id") % 4 === 0).count())
    Multimodal.writeVideoFingerprintIndex(evens.filter(col("id") % 4 =!= 0),
      "id", "payload", "vfp_idx_rebuilt", buckets = 4)
    val deleted = pairs("vfp_idx_whole")
    assert(deleted === pairs("vfp_idx_rebuilt"), "delete must equal rebuild")
    assert(Multimodal.dhashIndexStats(spark, "vfp_idx_whole").tombstoneFraction > 0.0)
    val (before, after) = Multimodal.purgeDHashIndex(spark, "vfp_idx_whole")
    assert(after < before)
    assert(pairs("vfp_idx_whole") === deleted, "purge must not change answers")
  }

  test("audioFingerprint: exact volume + ZOH-rate invariance; non-audio and too-short clips pass through fingerprint-less") {
    import spark.implicits._
    def wave(base: Int, n: Int): Seq[Int] =
      (0 until n).map(j => 2 * ((j * j * 7 + j * 31 + base * 131) % 12000 - 6000))
    val s0 = wave(5, 200)
    val media = Seq(
      (0L, wav(1, 4000, 16, s0)),
      (1L, wav(1, 4000, 16, s0.map(_ / 2))),            // exact half volume
      (2L, wav(1, 8000, 16, s0.flatMap(v => Seq(v, v)))), // ZOH rate double
      (3L, wav(1, 4000, 16, wave(9, 200))),             // different waveform
      (4L, wav(1, 4000, 16, wave(1, 71))),              // below the 72 floor
      (5L, "not audio at all".getBytes("US-ASCII")))
      .toDF("id", "payload")
    val fp = Multimodal.audioFingerprint(media, "id", "payload", canonicalRate = 4000)
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .toMap
    assert(fp(0L).isDefined)
    assert(fp(1L) === fp(0L), "exact volume halving must not move a single bit")
    assert(fp(2L) === fp(0L), "ZOH rate doubling must canonicalize away")
    assert(fp(3L).isDefined && fp(3L) != fp(0L), "different waveforms must differ")
    assert(fp(4L).isEmpty, "sub-72-frame clips are honestly unfingerprinted")
    assert(fp(5L).isEmpty, "non-audio passes through fingerprint-less")
    // the banding kernel recovers the invariance trio; the null rows
    // never reach it
    val pairs = Multimodal.audioNearDupPairs(media, "id", "payload",
      maxHamming = 0, canonicalRate = 4000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((0L, 1L), (0L, 2L), (1L, 2L)).subsetOf(pairs), pairs.toString)
    assert(!pairs.exists(p => p._1 >= 4L || p._2 >= 4L),
      "unfingerprinted payloads must never pair")
  }

  test("audio fingerprint index lifecycle: append == rebuild; the dHash family's delete/purge/stats verbs serve it verbatim") {
    import spark.implicits._
    def wave(base: Int, n: Int): Seq[Int] =
      (0 until n).map(j => 2 * ((j * j * 7 + j * 31 + base * 131) % 12000 - 6000))
    def clip(d: Int): Array[Byte] = {
      val base = d / 2
      val s = wave(base, 96 + base % 32)
      if (d % 2 == 0) wav(1, 4000, 16, s)
      else wav(1, 8000, 16, s.flatMap(v => Seq(v / 2, v / 2))) // rate+volume twin
    }
    val media = (0 until 60).map(d => (d.toLong, clip(d))).toDF("id", "payload")
    val evens = media.filter(col("id") % 2 === 0)
    val odds = media.filter(col("id") % 2 === 1)
    def pairs(tbl: String) =
      Multimodal.audioPairsAgainstIndex(spark, tbl, odds, "id", "payload",
        canonicalRate = 4000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    Multimodal.writeAudioFingerprintIndex(evens, "id", "payload",
      "afp_idx_whole", buckets = 4, canonicalRate = 4000)
    Multimodal.writeAudioFingerprintIndex(evens.filter(col("id") < 30),
      "id", "payload", "afp_idx_half", buckets = 4, canonicalRate = 4000)
    Multimodal.appendToAudioFingerprintIndex(spark, "afp_idx_half",
      evens.filter(col("id") >= 30), "id", "payload", canonicalRate = 4000)
    val whole = pairs("afp_idx_whole")
    assert(whole === pairs("afp_idx_half"), "append must equal rebuild")
    // every odd batch clip recovers its even rate+volume twin at Hamming 0
    (0 until 60 by 2).foreach { d =>
      assert(whole.contains(((d + 1).toLong, d.toLong, 0)),
        s"planted twin ($d, ${d + 1}) not recovered: $whole")
    }

    // the SHARED family verbs: delete == rebuild, purge reclaims
    val receipt = Multimodal.deleteFromDHashIndex(spark, "afp_idx_whole",
      evens.filter(col("id") % 4 === 0).select("id"))
    assert(receipt === evens.filter(col("id") % 4 === 0).count())
    Multimodal.writeAudioFingerprintIndex(evens.filter(col("id") % 4 =!= 0),
      "id", "payload", "afp_idx_rebuilt", buckets = 4, canonicalRate = 4000)
    val deleted = pairs("afp_idx_whole")
    assert(deleted === pairs("afp_idx_rebuilt"), "delete must equal rebuild")
    assert(Multimodal.dhashIndexStats(spark, "afp_idx_whole").tombstoneFraction > 0.0)
    val (before, after) = Multimodal.purgeDHashIndex(spark, "afp_idx_whole")
    assert(after < before)
    assert(pairs("afp_idx_whole") === deleted, "purge must not change answers")
    assert(Multimodal.dhashIndexStats(spark, "afp_idx_whole").tombstoneFraction === 0.0)
  }

  test("filtered perceptual-index probes: filtered == rebuild over the sub-corpus; carried columns follow the append rule (both modalities)") {
    import spark.implicits._
    // ---- image family
    def img(d: Int): Array[Byte] = ppm98((x, y) =>
      (x * 31 + y * 17 + (d / 2) * 7 +
        (if (x == 0 && y == 0 && d % 2 == 1) 40 else 0)) % 256)
    val media = (0 until 60)
      .map(d => (d.toLong, img(d), if (d % 3 == 0) "a" else "b"))
      .toDF("id", "payload", "cam")
    val evens = media.filter(col("id") % 2 === 0)
    val odds = media.filter(col("id") % 2 === 1)
    Multimodal.writeDHashIndex(evens, "id", "payload", "dh_flt_idx",
      buckets = 4, carryCols = Seq("cam"))
    Multimodal.writeDHashIndex(evens.filter(col("cam") === "a"),
      "id", "payload", "dh_flt_sub", buckets = 4)
    val filtered = Multimodal.imagePairsAgainstIndexWhere(
      spark, "dh_flt_idx", odds, "id", "payload", col("cam") === "a")
    assert(filtered.columns.toSeq === Seq("batch_id", "index_id", "hamming", "cam"))
    assert(filtered.select("cam").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("a"))
    def triples(df: org.apache.spark.sql.DataFrame) = df
      .select("batch_id", "index_id", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(triples(filtered) ===
      triples(Multimodal.imagePairsAgainstIndex(
        spark, "dh_flt_sub", odds, "id", "payload")),
      "filtered probe must equal a rebuild over the sub-corpus")
    // the UNFILTERED probe on a carried index equals the plain index
    Multimodal.writeDHashIndex(evens, "id", "payload", "dh_flt_plain", buckets = 4)
    assert(triples(Multimodal.imagePairsAgainstIndex(
      spark, "dh_flt_idx", odds, "id", "payload")) ===
      triples(Multimodal.imagePairsAgainstIndex(
        spark, "dh_flt_plain", odds, "id", "payload")))
    // appends must supply carried columns; case-insensitive resolution
    val bare = Seq((9001L, img(0))).toDF("id", "payload")
    val e = intercept[IllegalArgumentException] {
      Multimodal.appendToDHashIndex(spark, "dh_flt_idx", bare, "id", "payload")
    }
    assert(e.getMessage.contains("carried index columns: cam"), e.getMessage)
    val cased = Seq((9002L, img(0), "a")).toDF("id", "payload", "Cam")
    Multimodal.appendToDHashIndex(spark, "dh_flt_idx", cased, "id", "payload")
    val probe = Seq((9500L, img(0))).toDF("id", "payload")
    val hits = Multimodal.imagePairsAgainstIndexWhere(
      spark, "dh_flt_idx", probe, "id", "payload", col("cam") === "a")
      .select("index_id").collect().map(_.getLong(0)).toSet
    assert(hits.contains(9002L), hits.toString)

    // ---- audio family (same kernel, prove the wiring)
    def wave(base: Int, n: Int): Seq[Int] =
      (0 until n).map(j => 2 * ((j * j * 7 + j * 31 + base * 131) % 12000 - 6000))
    def clip(d: Int): Array[Byte] = wav(1, 4000, 16, wave(d / 2, 96 + (d / 2) % 16))
    val amedia = (0 until 40)
      .map(d => (d.toLong, clip(d), if (d % 3 == 0) "a" else "b"))
      .toDF("id", "payload", "cam")
    Multimodal.writeAudioFingerprintIndex(amedia.filter(col("id") % 2 === 0),
      "id", "payload", "afp_flt_idx", buckets = 4, canonicalRate = 4000,
      carryCols = Seq("cam"))
    Multimodal.writeAudioFingerprintIndex(
      amedia.filter(col("id") % 2 === 0 && col("cam") === "a"),
      "id", "payload", "afp_flt_sub", buckets = 4, canonicalRate = 4000)
    val aodds = amedia.filter(col("id") % 2 === 1)
    assert(triples(Multimodal.audioPairsAgainstIndexWhere(
      spark, "afp_flt_idx", aodds, "id", "payload", col("cam") === "a",
      canonicalRate = 4000)) ===
      triples(Multimodal.audioPairsAgainstIndex(
        spark, "afp_flt_sub", aodds, "id", "payload", canonicalRate = 4000)),
      "audio filtered probe must equal the sub-corpus rebuild")
  }

  test("imageDHash: the resample grid really decimates larger images") {
    import spark.implicits._
    // 18×16 image whose even-coordinate pixels reproduce the 9×8 base:
    // grid (x, y) reads source (2x, 2y), so the hashes must agree
    def base(x: Int, y: Int): Int = (x * 31 + y * 17) % 256
    val big = "P6\n18 16\n255\n".getBytes("US-ASCII") ++
      (0 until 16).flatMap(y => (0 until 18).flatMap { x =>
        val v = (base(x / 2, y / 2) + (x % 2) * 3 + (y % 2) * 5) & 0xff
        // odd positions carry noise the 2× decimation never samples
        val vv = if (x % 2 == 0 && y % 2 == 0) base(x / 2, y / 2) else v
        Seq(vv.toByte, vv.toByte, vv.toByte)
      }).toArray
    val in = Seq((1L, ppm98(base)), (2L, big)).toDF("id", "payload")
    val out = Multimodal.imageDHash(in, "id", "payload")
      .orderBy("id").collect()
    assert(out(0).getLong(4) === out(1).getLong(4))
    assert(out(1).getInt(2) === 18 && out(1).getInt(3) === 16)
  }
}
