package graft.operators

import org.apache.spark.sql.functions.{explode, udf}

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {

  test("language ID identifies snippets of each supported language") {
    import spark.implicits._
    val snippets = Seq(
      (1L, "the cat sat on the mat and it is happy with that"),
      (2L, "der hund ist nicht in das haus und die katze"),
      (3L, "le chat est dans la maison et les oiseaux des arbres"),
      (4L, "el perro es una mascota que vive con los gatos para siempre"),
      (5L, "中文文本分析很有趣"),
      (6L, "qwerty zxcvb asdfgh"))
      .toDF("doc_id", "text")
    val preds = TextAnalysis.languageId(snippets)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es",
      5L -> "zh", 6L -> "und"))
  }

  test("multimodal feature extraction is deterministic and shaped by the payload") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRecord(1L, "fake/img", Array[Byte](10, 20, 30, 40)),
      Multimodal.MediaRecord(2L, "fake/img", Array[Byte](10, 20, 30, 40)),
      Multimodal.MediaRecord(3L, "fake/img", Array[Byte](-1, 0)))
      .toDS()
    val f = Multimodal.extractFeatures(media).collect().map(x => x.media_id -> x).toMap
    assert(f(1L) == f(2L).copy(media_id = 1L)) // deterministic
    assert(f(1L).n_bytes == 4 && f(1L).mean_byte == 25.0)
    assert(f(3L).width == 16 + (255 % 64) * 16)
  }

  test("media near-dup: identical payloads pair, different fmt never pairs") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRecord(1L, "fake/img", Array[Byte](10, 20, 30, 40)),
      Multimodal.MediaRecord(2L, "fake/img", Array[Byte](10, 20, 30, 40)), // dup
      Multimodal.MediaRecord(3L, "fake/aud", Array[Byte](10, 20, 30, 40)), // other fmt
      Multimodal.MediaRecord(4L, "fake/img", Array[Byte](90, 20, 33, 41))) // far mean
      .toDS()
    val pairs = Multimodal.mediaNeardup(media).collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b")))
    assert(pairs.toSeq == Seq((1L, 2L)), pairs.mkString(", "))
    val empty = spark.emptyDataset[Multimodal.MediaRecord]
    assert(Multimodal.mediaNeardup(empty).count() == 0)
  }

  test("WavCodec round-trips PCM16 through a real RIFF container and walks chunks") {
    val samples = Array[Short](0, 1000, -32768, 32512, -1, 7)
    val wav = Multimodal.WavCodec.encodePcm16Mono(samples)
    // real binary layout: RIFF magic, WAVE form, and a LIST chunk sits
    // BETWEEN fmt and data, so a fixed-offset-44 reader reads garbage
    assert(new String(wav, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(wav, 8, 4, "US-ASCII") == "WAVE")
    assert(new String(wav, 36, 4, "US-ASCII") == "LIST")
    assert(new String(wav, 44, 4, "US-ASCII") != "data")
    val a = Multimodal.WavCodec.decode(wav)
    assert(a.sampleRate == 8000 && a.channels == 1 && a.bits == 16)
    assert(a.samples.toSeq == samples.toSeq) // bit-exact through the container
    // empty audio round-trips too
    assert(Multimodal.WavCodec.decode(
      Multimodal.WavCodec.encodePcm16Mono(Array.empty[Short])).samples.isEmpty)
  }

  test("WavCodec refuses malformed payloads loudly: bad magic, truncation, non-PCM") {
    val wav = Multimodal.WavCodec.encodePcm16Mono(Array[Short](1, 2, 3))
    def expectFail(bytes: Array[Byte], needle: String): Unit = {
      val e = intercept[IllegalArgumentException] { Multimodal.WavCodec.decode(bytes) }
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    expectFail(Array[Byte](1, 2, 3), "too short")
    expectFail("JUNK".getBytes("US-ASCII") ++ wav.drop(4), "RIFF")
    // a data chunk whose declared size runs past the payload = torn write
    expectFail(wav.dropRight(2), "truncated")
    // flip the audio-format field (offset 20: fmt chunk payload start) to
    // 2 = ADPCM — compressed audio must refuse, not mis-decode
    val adpcm = wav.clone(); adpcm(20) = 2
    expectFail(adpcm, "PCM")
    // a chunk size near Int.MaxValue: the bound must not wrap negative
    // and slip past the refusal (Long arithmetic, review r16)
    val huge = wav.clone()
    java.nio.ByteBuffer.wrap(huge).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(16, 0x7ffffff0) // fmt chunk declares ~2 GB
    expectFail(huge, "beyond the payload")
  }

  test("wav block-mean resample: exact means, remainder block kept") {
    val bm = Multimodal.WavCodec.blockMeans(Array[Short](2, 4, 6, 8, 10), 4)
    assert(bm.toSeq == Seq((0, 4, 5.0), (1, 1, 10.0)))
    assert(Multimodal.WavCodec.blockMeans(Array.empty[Short], 4).isEmpty)
  }

  test("WavCodec decodes a HAND-BUILT canonical 44-byte WAV (spec conformance, " +
      "not encoder self-consistency)") {
    // minimal RIFF: no LIST chunk, data at offset 44 — built byte by
    // byte from the public format spec, independent of encodePcm16Mono
    val bb = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(40)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(1.toShort).putInt(44100).putInt(88200)
      .putShort(2.toShort).putShort(16.toShort)
      .put("data".getBytes("US-ASCII")).putInt(4)
      .putShort((-2).toShort).putShort(300.toShort)
    val a = Multimodal.WavCodec.decode(bb.array())
    assert(a.sampleRate == 44100 && a.channels == 1 && a.bits == 16)
    assert(a.samples.toSeq == Seq[Short](-2, 300))
  }

  test("BmpCodec round-trips 24-bit pixels through a real BMP container") {
    // 6x2: logical top-down BGR bytes 0..35
    val px = Array.tabulate[Byte](36)(_.toByte)
    val bmp = Multimodal.BmpCodec.encode24(6, 2, px)
    assert(bmp(0) == 'B'.toByte && bmp(1) == 'M'.toByte)
    // declared pixel offset is 58 (the planted 4-byte gap after the
    // headers), so an offset-54 reader reads the gap as pixels
    val bb = java.nio.ByteBuffer.wrap(bmp).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getInt(10) == 58)
    assert(new String(bmp, 54, 4, "US-ASCII") == "GRFT")
    // file stores the BOTTOM row first: logical row 1 (bytes 18..35)
    assert(bmp(58) == 18.toByte)
    val img = Multimodal.BmpCodec.decode(bmp)
    assert(img.width == 6 && img.height == 2)
    assert(img.pixels.toSeq == px.toSeq) // bit-exact, logical order restored
  }

  test("BmpCodec decodes a HAND-BUILT canonical BMP: bottom-up un-flip and stride " +
      "against the public spec") {
    // 2x2 at 24-bit: rows are 6 B padded to stride 8, data at offset 54,
    // bottom row first — built independently of encode24
    val bb = java.nio.ByteBuffer.allocate(70)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(70)
      .putShort(0.toShort).putShort(0.toShort).putInt(54)
      .putInt(40).putInt(2).putInt(2).putShort(1.toShort).putShort(24.toShort)
      .putInt(0).putInt(16).putInt(2835).putInt(2835).putInt(0).putInt(0)
    bb.put(Array[Byte](1, 2, 3, 4, 5, 6, 0, 0))    // file row 0 = logical BOTTOM
    bb.put(Array[Byte](7, 8, 9, 10, 11, 12, 0, 0)) // file row 1 = logical TOP
    val img = Multimodal.BmpCodec.decode(bb.array())
    assert(img.width == 2 && img.height == 2)
    assert(img.pixels.toSeq == Seq[Byte](7, 8, 9, 10, 11, 12, 1, 2, 3, 4, 5, 6),
      "bottom-up rows were not un-flipped to logical top-down order")
  }

  test("BmpCodec refuses malformed payloads loudly") {
    val good = Multimodal.BmpCodec.encode24(2, 1, Array[Byte](1, 2, 3, 4, 5, 6))
    def expectFail(bytes: Array[Byte], needle: String): Unit = {
      val e = intercept[IllegalArgumentException] { Multimodal.BmpCodec.decode(bytes) }
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    expectFail(Array[Byte](1, 2, 3), "too short")
    expectFail("XX".getBytes("US-ASCII") ++ good.drop(2), "magic")
    expectFail(good.dropRight(2), "truncated")
    val bits8 = good.clone(); bits8(28) = 8
    expectFail(bits8, "8-bit")
    val rle = good.clone(); rle(30) = 1
    expectFail(rle, "compression")
    // declared pixel offset inside the headers: header bytes must not
    // silently decode as pixels
    val inHeader = good.clone()
    java.nio.ByteBuffer.wrap(inHeader).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(10, 20)
    expectFail(inHeader, "inside")
    val topDown = good.clone()
    java.nio.ByteBuffer.wrap(topDown).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(22, -1)
    expectFail(topDown, "top-down")
    // BITMAPINFOHEADER requires exactly 1 color plane (offset 26)
    val planes2 = good.clone()
    java.nio.ByteBuffer.wrap(planes2).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(26, 2.toShort)
    expectFail(planes2, "planes")
    // hostile geometry (ADVICE r16): width ~716M overflows width*3 in
    // Int to a NEGATIVE stride that slips past the Long bounds check,
    // then width*height*3 wraps the allocation — must refuse loudly
    // with the codec's own message, not NegativeArraySizeException
    val hostileW = good.clone()
    java.nio.ByteBuffer.wrap(hostileW).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(18, 716000000)
    expectFail(hostileW, "cap")
    // honest dims whose pixel array would still be multi-GB: refuse too
    val hugeBoth = good.clone()
    java.nio.ByteBuffer.wrap(hugeBoth).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(18, 50000).putInt(22, 50000)
    expectFail(hugeBoth, "cap")
  }

  test("BmpCodec nearest-neighbor downsample picks source (2y, 2x)") {
    // w x h image: pixel (y, x) has BGR (y*10 + x, 0, 0)
    def picked(w: Int, h: Int): (Int, Int, Seq[Byte]) = {
      val px = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) px((y * w + x) * 3) = (y * 10 + x).toByte
      val out = Multimodal.downsample2(Multimodal.Image(w, h, px))
      (out.width, out.height,
        for (y <- 0 until out.height; x <- 0 until out.width)
          yield out.pixels((y * out.width + x) * 3))
    }
    // odd height: sources (0,0),(0,2),(2,0),(2,2)
    assert(picked(4, 3) == ((2, 2, Seq[Byte](0, 2, 20, 22))))
    // odd width too: the last column (x = 4) is kept
    assert(picked(5, 3) == ((3, 2, Seq[Byte](0, 2, 4, 20, 22, 24))))
  }

  test("PngCodec round-trips RGB pixels through a real zlib-compressed PNG " +
      "with all five filter types and the planted traps") {
    // 6x6: every default-cycle filter type (0-4) appears across rows
    val px = Array.tabulate[Byte](6 * 6 * 3)(i => ((i * 7 + 3) % 251).toByte)
    val png = Multimodal.PngCodec.encodeRgb8(6, 6, px)
    // the traps are actually planted: a tEXt chunk between IHDR and
    // IDAT, and the zlib stream split across TWO IDAT chunks
    def chunkTypes(b: Array[Byte]): Seq[String] = {
      var off = 8; val ts = Seq.newBuilder[String]
      while (off + 12 <= b.length) {
        val len = java.nio.ByteBuffer.wrap(b, off, 4).getInt
        ts += new String(b, off + 4, 4, "US-ASCII")
        off += 12 + len
      }
      ts.result()
    }
    assert(chunkTypes(png) == Seq("IHDR", "tEXt", "IDAT", "IDAT", "IEND"))
    val img = Multimodal.PngCodec.decode(png)
    assert(img.width == 6 && img.height == 6)
    assert(img.pixels.toSeq == px.toSeq)
    // per-payload filter assignment (the pngTable shape) round-trips too
    val img2 = Multimodal.PngCodec.decode(
      Multimodal.PngCodec.encodeRgb8(6, 6, px, y => (y + 3) % 5))
    assert(img2.pixels.toSeq == px.toSeq)
  }

  /** Minimal chunk writer for HAND-BUILT test PNGs (the codec's own
    * encoder must not vouch for its decoder). */
  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val t = typ.getBytes("US-ASCII")
    val crc = new java.util.zip.CRC32(); crc.update(t); crc.update(data)
    java.nio.ByteBuffer.allocate(12 + data.length)
      .putInt(data.length).put(t).put(data).putInt(crc.getValue.toInt).array()
  }
  private def pngIhdr(w: Int, h: Int, depth: Int = 8, color: Int = 2,
      interlace: Int = 0): Array[Byte] =
    pngChunk("IHDR", java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(depth.toByte).put(color.toByte)
      .put(0.toByte).put(0.toByte).put(interlace.toByte).array())
  /** A zlib stream with one STORED deflate block — hand-rolled framing
    * (header 0x78 0x01, stored-final block, LE lengths, Adler-32), so
    * the decoder is tested against the public spec, not Deflater. */
  private def zlibStored(data: Array[Byte]): Array[Byte] = {
    val ad = new java.util.zip.Adler32(); ad.update(data)
    val n = data.length
    java.nio.ByteBuffer.allocate(7 + n + 4)
      .put(0x78.toByte).put(0x01.toByte).put(0x01.toByte)
      .put((n & 0xff).toByte).put(((n >> 8) & 0xff).toByte)
      .put((~n & 0xff).toByte).put(((~n >> 8) & 0xff).toByte)
      .put(data).putInt(ad.getValue.toInt).array()
  }
  private val pngSig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  test("PngCodec decodes a HAND-BUILT canonical PNG: stored-deflate zlib, " +
      "spec Paeth tie-breaking (not encoder self-consistency)") {
    // 2x2 RGB, row 0 unfiltered, row 1 Paeth-filtered. Hand-computed:
    // row1 raw [10,20,30,40,50,60]; x<3 → paeth(0,b,0)=b (pb=0 wins the
    // tie order), filt = raw−row0; x≥3 → paeth(a,b,c) picks a, filt=30.
    val scanlines = Array[Byte](
      0, 1, 2, 3, 4, 5, 6,          // filter 0 | raw row 0
      4, 9, 18, 27, 30, 30, 30)     // filter 4 | Paeth-filtered row 1
    val png = pngSig ++ pngIhdr(2, 2) ++
      pngChunk("IDAT", zlibStored(scanlines)) ++
      pngChunk("IEND", Array.emptyByteArray)
    val img = Multimodal.PngCodec.decode(png)
    assert(img.width == 2 && img.height == 2)
    assert(img.pixels.toSeq ==
      Seq[Byte](1, 2, 3, 4, 5, 6, 10, 20, 30, 40, 50, 60))
  }

  test("PngCodec round-trips randomized images: all widths (bpp edges), " +
      "all heights, random per-row filter assignments") {
    val rnd = new scala.util.Random(1234)
    for (_ <- 1 to 30) {
      // w = 1 keeps every x < bpp (left neighbor always 0); h = 1 keeps
      // the up/up-left neighbors 0 — both reconstruction edges
      val w = 1 + rnd.nextInt(6)
      val h = 1 + rnd.nextInt(6)
      val px = Array.fill[Byte](w * h * 3)(rnd.nextInt(256).toByte)
      val filters = Array.fill(h)(rnd.nextInt(5))
      val img = Multimodal.PngCodec.decode(
        Multimodal.PngCodec.encodeRgb8(w, h, px, y => filters(y)))
      assert(img.width == w && img.height == h)
      assert(img.pixels.toSeq == px.toSeq,
        s"round-trip mismatch at ${w}x$h filters ${filters.mkString(",")}")
    }
  }

  test("PngCodec refuses malformed payloads loudly") {
    val px = Array.tabulate[Byte](6 * 3 * 3)(_.toByte)
    val good = Multimodal.PngCodec.encodeRgb8(6, 3, px)
    def expectFail(bytes: Array[Byte], needle: String): Unit = {
      val e = intercept[IllegalArgumentException] { Multimodal.PngCodec.decode(bytes) }
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    expectFail("NOTAPNG!".getBytes("US-ASCII") ++ good.drop(8), "signature")
    expectFail(good.dropRight(3), "truncated")
    // flip one byte INSIDE the first IDAT's data: CRC must catch it
    val flipped = good.clone()
    val idatOff = { // sig + IHDR(25) + tEXt
      val tlen = java.nio.ByteBuffer.wrap(good, 33, 4).getInt
      33 + 12 + tlen
    }
    flipped(idatOff + 8 + 2) = (flipped(idatOff + 8 + 2) ^ 0x40).toByte
    expectFail(flipped, "CRC mismatch")
    val sl = Array[Byte](0, 1, 2, 3, 4, 5, 6) // one 2x1 scanline
    def build(ihdr: Array[Byte], mid: Array[Byte]*): Array[Byte] =
      pngSig ++ ihdr ++ mid.flatten ++ pngChunk("IEND", Array.emptyByteArray)
    expectFail(build(pngIhdr(2, 1, interlace = 1),
      pngChunk("IDAT", zlibStored(sl))), "interlaced")
    expectFail(build(pngIhdr(2, 1, depth = 16),
      pngChunk("IDAT", zlibStored(sl))), "bit depth")
    expectFail(build(pngIhdr(2, 1, color = 3),
      pngChunk("IDAT", zlibStored(sl))), "color type")
    // inflated length must match the declared geometry exactly
    expectFail(build(pngIhdr(2, 2), pngChunk("IDAT", zlibStored(sl))), "short")
    expectFail(build(pngIhdr(2, 1),
      pngChunk("IDAT", zlibStored(sl ++ sl))), "exceed")
    // unknown CRITICAL chunk refuses; unknown ancillary is walked over
    expectFail(build(pngIhdr(2, 1), pngChunk("CRIT", Array[Byte](1)),
      pngChunk("IDAT", zlibStored(sl))), "critical")
    assert(Multimodal.PngCodec.decode(build(pngIhdr(2, 1),
      pngChunk("crIT", Array[Byte](1)),
      pngChunk("IDAT", zlibStored(sl)))).pixels.toSeq == Seq[Byte](1, 2, 3, 4, 5, 6))
    // IDAT runs must be consecutive
    expectFail(build(pngIhdr(2, 1),
      pngChunk("IDAT", zlibStored(sl).take(10)),
      pngChunk("crIT", Array[Byte](1)),
      pngChunk("IDAT", zlibStored(sl).drop(10))), "non-consecutive")
    // unknown filter type inside an otherwise-valid stream
    expectFail(build(pngIhdr(2, 1),
      pngChunk("IDAT", zlibStored(Array[Byte](9, 1, 2, 3, 4, 5, 6)))),
      "unknown filter")
    // trailing garbage after IEND
    expectFail(good ++ Array[Byte](1, 2, 3), "trailing")
  }

  test("JpegCodec round-trips constant-block images pixel-exactly through a " +
      "real baseline JPEG (DC Huffman chain, byte stuffing, YCbCr)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 8) {
      val bw = 1 + rnd.nextInt(3); val bh = 1 + rnd.nextInt(4)
      val vals = Array.fill(bw * bh)(rnd.nextInt(256))
      val bytes = Multimodal.JpegCodec.encodeConstantBlocks(bw, bh, vals)
      assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
      assert((bytes(bytes.length - 2) & 0xff) == 0xff &&
        (bytes(bytes.length - 1) & 0xff) == 0xd9)
      val img = Multimodal.JpegCodec.decode(bytes)
      assert(img.width == bw * 8 && img.height == bh * 8, s"geometry trial $trial")
      for (y <- 0 until img.height; x <- 0 until img.width) {
        val v = vals((y / 8) * bw + x / 8)
        val o = (y * img.width + x) * 3
        assert((img.pixels(o) & 0xff) == v && (img.pixels(o + 1) & 0xff) == v &&
          (img.pixels(o + 2) & 0xff) == v, s"pixel ($x,$y) trial $trial: " +
            s"got ${img.pixels(o) & 0xff}, want $v")
      }
    }
    // the 0xFF00 byte-stuffing trap must actually be exercised by some
    // synthesized stream — a decoder that skips unstuffing cannot pass
    val stuffed = (0 until 256).exists { v =>
      val b = Multimodal.JpegCodec.encodeConstantBlocks(2, 2,
        Array(v, 255 - v, v, 255 - v))
      // scan the entropy segment only (after SOS, before EOI)
      var i = 2; var sos = -1
      while (sos < 0 && i + 3 < b.length) {
        if ((b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xda)
          sos = i + 2 + (((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff))
        else i += 1
      }
      (sos until b.length - 2).exists(j =>
        (b(j) & 0xff) == 0xff && (b(j + 1) & 0xff) == 0x00)
    }
    assert(stuffed, "no synthesized stream exercised byte stuffing")
  }

  test("JpegCodec decodes PLANTED AC coefficients (runs, ZRL, negative " +
      "magnitudes) to an independent direct-cosine IDCT reference") {
    val J = Multimodal.JpegCodec
    val q = J.StdQLuma; val qc = J.StdQChroma
    // natural-order quantized blocks: dense low-freq ACs; an isolated
    // high-zigzag coefficient (forces a ZRL run); negative values
    val b1 = new Array[Int](64)
    b1(0) = 5; b1(1) = -3; b1(8) = 7; b1(9) = 2; b1(16) = -1
    val b2 = new Array[Int](64)
    b2(0) = -9; b2(J.ZigZag(20)) = 4 // 19 zeros before it → ZRL + run 3
    val zero = new Array[Int](64)
    val bytes = J.encodeBaseline(16, 8, q, qc,
      Array(b1, b2), Array(zero.clone(), zero.clone()), Array(zero.clone(), zero.clone()))
    val img = J.decode(bytes)
    // independent reference: direct 2-D cosine sum over the DEQUANTIZED
    // coefficients, half-up rounding, clamp — written differently from
    // the decoder's separable two-pass IDCT
    def ref(coefQ: Array[Int]): Array[Int] = {
      val out = new Array[Int](64)
      for (y <- 0 until 8; x <- 0 until 8) {
        var s = 0.0
        for (v <- 0 until 8; u <- 0 until 8) {
          val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
          val cv = if (v == 0) 1.0 / math.sqrt(2.0) else 1.0
          s += cu * cv * (coefQ(v * 8 + u) * q(v * 8 + u)) *
            math.cos((2 * x + 1) * u * math.Pi / 16.0) *
            math.cos((2 * y + 1) * v * math.Pi / 16.0)
        }
        val t = 0.25 * s + 128.0
        // self-validating margin: a planted value near a rounding
        // boundary would make the two IDCT evaluation orders diverge
        assert(math.abs(t - math.floor(t) - 0.5) > 1e-6,
          s"planted coefficient lands $t within noise of a rounding boundary")
        val p = math.floor(t + 0.5).toInt
        out(y * 8 + x) = math.max(0, math.min(255, p))
      }
      out
    }
    val r1 = ref(b1); val r2 = ref(b2)
    for (y <- 0 until 8; x <- 0 until 16) {
      val want = if (x < 8) r1(y * 8 + x) else r2(y * 8 + (x - 8))
      val got = img.pixels((y * 16 + x) * 3) & 0xff
      assert(got == want, s"pixel ($x,$y): got $got, want $want")
    }
  }

  test("JpegCodec handles grayscale, restart markers (DC predictor reset), " +
      "and 4:2:0 subsampled MCUs") {
    val J = Multimodal.JpegCodec
    def dcBlock(v: Int): Array[Int] = { val b = new Array[Int](64); b(0) = v - 128; b }
    // grayscale 16x8, two blocks
    val g = J.decode(J.encodeBaseline(16, 8, J.SynthQLuma, J.SynthQChroma,
      Array(dcBlock(40), dcBlock(200)), null, null))
    assert(g.width == 16 && g.height == 8)
    assert((g.pixels(0) & 0xff) == 40 && (g.pixels(1) & 0xff) == 40 &&
      (g.pixels(2) & 0xff) == 40)
    assert((g.pixels((8 * 3)) & 0xff) == 200)
    // restart interval 1 across a 4-MCU color image: predictors reset at
    // every RST, so a decoder ignoring RSTs desyncs immediately
    val vals = Array(10, 250, 60, 130)
    val zero = new Array[Int](64)
    val rst = J.encodeBaseline(32, 8, J.SynthQLuma, J.SynthQChroma,
      vals.map(dcBlock), Array.fill(4)(zero.clone()), Array.fill(4)(zero.clone()),
      restartInterval = 1)
    assert((0 until 4).exists(m => rst.sliding(2).exists(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) == (0xd0 + m))), "no RST markers emitted")
    val ri = J.decode(rst)
    for (k <- 0 until 4; x <- k * 8 until k * 8 + 8)
      assert((ri.pixels(x * 3) & 0xff) == vals(k), s"restart block $k")
    // 4:2:0: one MCU, four luma quadrants + single chroma block —
    // exercises the subsampled MCU walk and replication upsampling
    val qv = Array(16, 80, 144, 240)
    val sub = J.decode(J.encodeBaseline(16, 16, J.SynthQLuma, J.SynthQChroma,
      qv.map(dcBlock), Array(zero.clone()), Array(zero.clone()), lumaHV = 2))
    assert(sub.width == 16 && sub.height == 16)
    for (y <- 0 until 16; x <- 0 until 16) {
      val want = qv((y / 8) * 2 + x / 8)
      assert((sub.pixels((y * 16 + x) * 3) & 0xff) == want, s"4:2:0 pixel ($x,$y)")
    }
  }

  test("JpegCodec refuses malformed payloads loudly") {
    val J = Multimodal.JpegCodec
    def dcBlock(v: Int): Array[Int] = { val b = new Array[Int](64); b(0) = v - 128; b }
    val zero = new Array[Int](64)
    val good = J.encodeBaseline(8, 8, J.SynthQLuma, J.SynthQChroma,
      Array(dcBlock(77)), Array(zero.clone()), Array(zero.clone()))
    def refuse(bytes: Array[Byte], what: String): Unit = {
      val e = intercept[IllegalArgumentException] { J.decode(bytes) }
      assert(e.getMessage.startsWith("JpegCodec:"), s"$what: ${e.getMessage}")
    }
    refuse("not a jpeg at all".getBytes, "bad magic")
    refuse(good.take(good.length - 8), "truncated entropy")
    refuse(good.take(20), "truncated header")
    def patchSof(to: Int): Array[Byte] = {
      val b = good.clone()
      val i = b.indices.dropRight(1)
        .find(i => (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xc0).get
      b(i + 1) = to.toByte; b
    }
    val prog = intercept[IllegalArgumentException] { J.decode(patchSof(0xc2)) }
    assert(prog.getMessage.contains("progressive"))
    val arith = intercept[IllegalArgumentException] { J.decode(patchSof(0xc9)) }
    assert(arith.getMessage.contains("arithmetic"))
    refuse(patchSof(0xc3), "lossless frame")
    // a decoder must WALK APPn/COM segments, not assume fixed offsets:
    // splice an APP5 + COM right after SOI and require identical output
    val extra = new java.io.ByteArrayOutputStream()
    extra.write(good, 0, 2)
    extra.write(Array[Byte](0xff.toByte, 0xe5.toByte, 0, 6, 1, 2, 3, 4))
    extra.write(Array[Byte](0xff.toByte, 0xfe.toByte, 0, 4, 65, 66))
    extra.write(good, 2, good.length - 2)
    val spliced = J.decode(extra.toByteArray)
    val base = J.decode(good)
    assert(spliced.pixels.sameElements(base.pixels) && spliced.width == base.width)
    // r18 review guards: trailing garbage after EOI; out-of-range table
    // ids refuse by NAME instead of ArrayIndexOutOfBounds; encoder
    // refuses coefficients outside the baseline Huffman range
    refuse(good ++ Array[Byte](1, 2, 3), "trailing bytes after EOI")
    // SOF0 layout from the FF: +2 len(2) +4 prec +5 h(2) +7 w(2) +9 nf,
    // then per component id/hv/tq — tq of component 1 sits at +12
    val sofAt = good.indices
      .find(i => (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc0).get
    val badTq = good.clone(); badTq(sofAt + 12) = 7.toByte
    val eTq = intercept[IllegalArgumentException] { J.decode(badTq) }
    assert(eTq.getMessage.contains("quant table id"), eTq.getMessage)
    val eDc = intercept[IllegalArgumentException] {
      val b = new Array[Int](64); b(0) = 3000 // DC category 12
      J.encodeBaseline(8, 8, J.SynthQLuma, J.SynthQChroma,
        Array(b), Array(zero.clone()), Array(zero.clone()))
    }
    assert(eDc.getMessage.contains("DC difference"))
    val eAc = intercept[IllegalArgumentException] {
      val b = new Array[Int](64); b(1) = 1024 // AC category 11
      J.encodeBaseline(8, 8, J.SynthQLuma, J.SynthQChroma,
        Array(b), Array(zero.clone()), Array(zero.clone()))
    }
    assert(eAc.getMessage.contains("AC coefficient"))
  }

  test("JpegCodec: a single-component scan is non-interleaved — declared " +
      "sampling factors do not change the data-unit walk (T.81 A.2)") {
    val J = Multimodal.JpegCodec
    def dcBlock(v: Int): Array[Int] = { val b = new Array[Int](64); b(0) = v - 128; b }
    val gray = J.encodeBaseline(16, 16, J.SynthQLuma, J.SynthQChroma,
      Array(dcBlock(10), dcBlock(90), dcBlock(170), dcBlock(250)), null, null)
    // patch the single component's sampling byte 0x11 -> 0x22: the
    // entropy stream is UNCHANGED (non-interleaved order ignores the
    // factors), so a correct decoder returns identical pixels; the old
    // interleaved walk would scramble block placement silently
    val b = gray.clone()
    val i = b.indices.find(i => (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xc0).get
    assert((b(i + 11) & 0xff) == 0x11, "SOF layout changed under the test")
    b(i + 11) = 0x22.toByte
    val base = J.decode(gray)
    val patched = J.decode(b)
    assert(patched.width == base.width && patched.height == base.height)
    assert(patched.pixels.sameElements(base.pixels),
      "declared sampling factors changed a non-interleaved decode")
  }

  test("Y4mCodec round-trips C420 frames through a real YUV4MPEG2 stream") {
    val f0 = Array.tabulate[Byte](24)(_.toByte)        // 4x4: Y 16, U 4, V 4
    val f1 = Array.tabulate[Byte](24)(i => (100 + i).toByte)
    val y4m = Multimodal.Y4mCodec.encodeC420(4, 4, 30, 1001, Seq(f0, f1))
    val s = new String(y4m, "US-ASCII")
    // the traps are actually planted: tokenized header params and a
    // parameterized first frame marker
    assert(s.startsWith("YUV4MPEG2 W4 H4 F30:1001 Ip A1:1 C420 Xgraft\n"))
    assert(s.contains("FRAME Xg\n"))
    val v = Multimodal.Y4mCodec.decode(y4m)
    assert(v.width == 4 && v.height == 4 && v.fpsNum == 30 && v.fpsDen == 1001)
    assert(v.frames.length == 2)
    assert(v.frames(0).toSeq == f0.toSeq && v.frames(1).toSeq == f1.toSeq)
  }

  test("Y4mCodec decodes a HAND-BUILT canonical Y4M against the public spec " +
      "(not encoder self-consistency)") {
    // minimal 2x2 C420 stream: frame payload 4+1+1 = 6 B, bare markers,
    // header tokens in a different order than encodeC420 emits
    val bytes = ("YUV4MPEG2 H2 F25:1 W2\n" + "FRAME\n").getBytes("US-ASCII") ++
      Array[Byte](10, 20, 30, 40, 50, 60) ++
      "FRAME\n".getBytes("US-ASCII") ++ Array[Byte](11, 21, 31, 41, 51, 61)
    val v = Multimodal.Y4mCodec.decode(bytes)
    assert(v.width == 2 && v.height == 2 && v.fpsNum == 25 && v.fpsDen == 1)
    assert(v.frames.length == 2)
    assert(v.frames(0).toSeq == Seq[Byte](10, 20, 30, 40, 50, 60))
    val (ym, um, vm) = Multimodal.Y4mCodec.planeMeans(2, 2, v.frames(1))
    assert(ym == (11 + 21 + 31 + 41) / 4.0 && um == 51.0 && vm == 61.0)
  }

  test("Y4mCodec refuses malformed payloads loudly") {
    val good = Multimodal.Y4mCodec.encodeC420(4, 4, 24, 1,
      Seq(new Array[Byte](24)))
    def expectFail(bytes: Array[Byte], needle: String): Unit = {
      val e = intercept[IllegalArgumentException] { Multimodal.Y4mCodec.decode(bytes) }
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    expectFail("JUNK W4 H4 F24:1\nFRAME\n".getBytes("US-ASCII") ++
      new Array[Byte](24), "magic")
    expectFail("YUV4MPEG2 W4 F24:1\n".getBytes("US-ASCII"), "geometry")
    expectFail("YUV4MPEG2 W4 H4\n".getBytes("US-ASCII"), "frame rate")
    expectFail("YUV4MPEG2 W3 H4 F24:1\n".getBytes("US-ASCII"), "odd")
    expectFail("YUV4MPEG2 W4 H4 F24:1 C444\n".getBytes("US-ASCII"), "colorspace")
    expectFail(good.dropRight(2), "truncated")
    expectFail(good ++ "GARBAGE\n".getBytes("US-ASCII"), "FRAME marker")
    expectFail("YUV4MPEG2 W4 H4 F24:1".getBytes("US-ASCII"), "unterminated")
    // malformed NUMERIC token values must surface as the codec's own
    // loud refusal, not a raw NumberFormatException from v.toInt
    // (VERDICT r16 strictness nit)
    expectFail("YUV4MPEG2 Wabc H4 F24:1\n".getBytes("US-ASCII"), "malformed numeric")
    expectFail("YUV4MPEG2 W H4 F24:1\n".getBytes("US-ASCII"), "malformed numeric")
    expectFail("YUV4MPEG2 W4 H4 F24:x\n".getBytes("US-ASCII"), "malformed numeric")
  }

  test("Y4mCodec motion is the mean |ΔY| over the luma plane only") {
    val a = new Array[Byte](24)
    val b = new Array[Byte](24)
    b(0) = 16; b(5) = -128.toByte // Y deltas 16 and 128
    b(20) = 99 // V-plane byte: must NOT count
    assert(Multimodal.Y4mCodec.motion(4, 4, a, b) == (16 + 128) / 16.0)
  }

  test("stub resize keeps every k-th byte") {
    val out = Multimodal.StubCodec.resize(Array[Byte](1, 2, 3, 4, 5, 6, 7), 3)
    assert(out.toSeq == Seq[Byte](1, 4, 7))
  }

  test("stub frame-sample slices contiguously, last frame takes the remainder") {
    val r = Multimodal.MediaRecord(1L, "fake/x", Array[Byte](1, 2, 3, 4, 5, 6, 7))
    // n=7 → frames = 1 + 7%4 = 4, base = 1 → [1],[2],[3],[4,5,6,7]
    val fs = Multimodal.StubCodec.frameSample(r).map(_.toSeq)
    assert(fs == Seq(Seq[Byte](1), Seq[Byte](2), Seq[Byte](3), Seq[Byte](4, 5, 6, 7)))
    val empty = Multimodal.StubCodec.frameSample(Multimodal.MediaRecord(2L, "fake/x", Array.empty))
    assert(empty.map(_.length) == Seq(0)) // n=0 → 1 empty frame
  }

  test("ngramTopK counts bigram instances and document frequency") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b a b c"),   // bigrams: "a b","b a","a b","b c"
      (2L, "a b x"),       // "a b","b x"
      (3L, "z")).toDF("doc_id", "text") // <2 tokens → no bigrams
    val got = TextAnalysis.ngramTopK(d, 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a b", 3L, 2L), ("b a", 1L, 1L), ("b c", 1L, 1L)))
  }

  test("heavyHitters is exact on a skewed corpus and the CMS gate prunes the tail") {
    import spark.implicits._
    // one dominant bigram ("hot hot" ~50% of mass) over a long unique tail
    val hot = (1 to 500).map(i => (i.toLong, "hot hot"))
    val tail = (1 to 500).map(i => (500L + i, s"t${i}a t${i}b"))
    val d = (hot ++ tail).toDF("doc_id", "text")
    val out = TextAnalysis.heavyHitters(d, phi = 10L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("hot hot", 500L))) // exact count, exact threshold
    // the gate itself: with phi=10 over 1000 grams the CMS must prune the
    // 500 singleton tail grams (est ≈ 1 + eps·1000 « 100) — count the rows
    // that survive the candidate filter by re-running the gated explode
    val grams = d.select(explode(
      udf(TextAnalysis.bigramInstances _).apply($"text")).as("gram"))
    val cms = grams.stat.countMinSketch("gram", 1e-4, 0.999, 42)
    val kept = grams.collect()
      .count(r => cms.estimateCount(r.getString(0)) * 10 >= cms.totalCount())
    assert(kept == 500, s"gate kept $kept of 1000 gram instances")
  }

  test("redact applies rules in order and globally") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail bob123@ex-a.io and bob123@ex-a.io, id 42"),
      (2L, "no pii here")).toDF("id", "t")
    val out = TextAnalysis.redact(df, "t", Seq(
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+" -> "<EMAIL>",
        "[0-9]+" -> "<ID>"), "r")
      .select("id", "r").as[(Long, String)].collect().toMap
    // email rule must fire before the digit rule eats the local part
    assert(out(1L) == "mail <EMAIL> and <EMAIL>, id <ID>")
    assert(out(2L) == "no pii here")
    // replacements are literal: $ and \ must not be group references
    val meta = TextAnalysis.redact(df, "t", Seq("[0-9]+" -> "<US$0\\>"), "r")
      .select("id", "r").as[(Long, String)].collect().toMap
    assert(meta(1L) == "mail bob<US$0\\>@ex-a.io and bob<US$0\\>@ex-a.io, id <US$0\\>")
    // map-only: no Exchange in the plan
    val plan = TextAnalysis.redact(df, "t", Seq("[0-9]+" -> "#"), "r")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("wordFreqScore: common-word docs outscore rare-word docs, exact on a hand corpus") {
    import spark.implicits._
    // corpus: "aa" appears 4x, "bb" 2x, "zz" 1x, "qq" 1x => total 8
    val docs = Seq(
      (1L, "aa aa bb"),   // (2*4 + 1*2)/3/8 = 10/24
      (2L, "aa aa"),      // (2*4)/2/8      = 8/16
      (3L, "zz qq bb")    // (1+1+2)/3/8    = 4/24
    ).toDF("doc_id", "text")
    val out = TextAnalysis.wordFreqScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((3, 10L, 10.0 / 3 / 8)), out.toString)
    assert(out(2L) == ((2, 8L, 8.0 / 2 / 8)), out.toString)
    assert(out(3L) == ((3, 4L, 4.0 / 3 / 8)), out.toString)
    assert(out(2L)._3 > out(1L)._3 && out(1L)._3 > out(3L)._3)
    // the materialized (single-corpus-scan) form is result-identical
    val mat = TextAnalysis.wordFreqScore(docs, materialize = true).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getDouble(3))).toMap
    assert(mat == out)
  }

  test("hll sketches built on disjoint halves union to the global estimate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    // 2000 distinct values split into two disjoint halves: union of the
    // two sketches must estimate the full 2000 within HLL lgK=12 error,
    // without ever scanning the combined data — the mergeability that
    // makes per-shard sketches work at scale
    val halves = (0 until 2000).map(i => (if (i < 1000) "a" else "b", s"v$i"))
      .toDF("part", "t")
    val perPart = halves.groupBy($"part").agg(expr("hll_sketch_agg(t, 12)").as("sk"))
    val est = perPart.agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))"))
      .collect().head.getLong(0)
    assert(math.abs(est - 2000) <= 100, s"union estimate $est")
  }

  test("bm25TopK: tf raises score, length normalizes, absent terms score 0") {
    import spark.implicits._
    val filler = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"join join join $filler"),          // high tf, short
      (2L, s"join $filler"),                    // low tf, same length-ish
      (3L, s"join join join $filler $filler $filler $filler"), // high tf, long
      (4L, filler)                              // no query terms
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, Seq("join"), 10).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("bm25")).toMap
    // more occurrences beat fewer at comparable length
    assert(out(1L) > out(2L), out.toString)
    // same tf but longer doc scores lower (b-length normalization)
    assert(out(1L) > out(3L), out.toString)
    // a doc with zero query-term hits scores exactly 0
    assert(out(4L) == 0.0, out.toString)
    // k caps the result and ordering is score-desc
    val top2 = TextAnalysis.bm25TopK(docs, Seq("join"), 2).collect()
    assert(top2.length == 2 && top2.head.getLong(0) == 1L)
    // the final plan is a TakeOrderedAndProject (top-k, not global sort)
    val plan = TextAnalysis.bm25TopK(docs, Seq("join"), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("hashVec64: deterministic, dup texts collide exactly, sign-hash near-zero-mean") {
    import spark.implicits._
    val t = "the quick brown fox jumps over the lazy dog"
    val v1 = TextAnalysis.hashVec64(TextAnalysis.normTokens(t))
    val v2 = TextAnalysis.hashVec64(TextAnalysis.normTokens("  THE  quick\tbrown fox jumps over the lazy dog "))
    assert(v1.toSeq == v2.toSeq, "normalization-equal texts must vectorize identically")
    assert(v1.length == 64)
    assert(v1.map(math.abs).sum == 9, "9 tokens, one signed unit each")
    // sign hashing keeps collisions zero-mean: over many distinct tokens
    // the net sum concentrates near 0 (|sum| << n)
    val many = (0 until 4096).map(i => s"tok$i").toArray
    val vm = TextAnalysis.hashVec64(many)
    assert(math.abs(vm.sum) < 4 * math.sqrt(4096.0), s"net sum ${vm.sum}")
    assert(vm.map(math.abs).sum == many.length || vm.map(math.abs).sum < many.length,
      "per-dim cancellation only reduces mass")
    // exact-dup docs are cosine-1.0 neighbors through the knn row
    val docs = Seq((0L, t), (1L, t), (2L, "completely different words entirely"))
      .toDF("doc_id", "text")
    val hv = TextAnalysis.hashVectors(docs)
    val rows = hv.orderBy($"doc_id").collect()
    assert(rows(0).getSeq[Long](1) == rows(1).getSeq[Long](1))
    assert(rows(0).getDouble(2) > 0)
  }

  test("x4_kmv_jaccard: all lang pairs, bounds hold, exact side consistent") {
    val out = graft.SparkEntry.queries("x4_kmv_jaccard")(spark, sf("sf0.001"))
      .collect()
    assert(out.length == 10, s"expected C(5,2)=10 lang pairs, got ${out.length}")
    for (r <- out) {
      assert(r.getAs[Boolean]("d_within_bound"), r.toString)
      assert(r.getAs[Boolean]("j_within_bound"), r.toString)
      val (ea, eb, ei) = (r.getAs[Long]("exact_a"), r.getAs[Long]("exact_b"),
        r.getAs[Long]("exact_inter"))
      assert(ei >= 0 && ei <= math.min(ea, eb), r.toString)
      val ej = r.getAs[Double]("exact_jaccard")
      assert(math.abs(ej - ei.toDouble / (ea + eb - ei)) < 1e-12)
      // estimates are positive and a short-buffer sketch is exact
      assert(r.getAs[Double]("est_a") > 0 && r.getAs[Double]("est_union") > 0)
      // containment is a fraction (small estimator slack above 1 allowed)
      for (c <- Seq("est_containment_a", "est_containment_b")) {
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.1, s"$c=$v in ${r.toString}")
      }
    }
  }

  test("bigramLmScore: fluent repetition scores below gibberish; unseen mass stays finite") {
    import spark.implicits._
    // doc_ids chosen so the md5 split buckets put the TRAINING mass in
    // 'train' (< cd) and the probe docs wherever they land — every doc
    // is scored either way; only training reads the split
    val fluent = (1L to 40L).map(i =>
      (i, "the cat sat on the mat and the cat sat on the mat again"))
    val gibberish = Seq((100L, "zq xv qj wk vx jq kz xw qv zj"))
    val tiny = Seq((200L, "one"), (201L, ""))
    val docs = (fluent ++ gibberish ++ tiny).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // the model trains on the fluent mass: a fluent doc's bigrams are
    // high-count -> low cross-entropy; the gibberish doc's bigrams are
    // unseen -> smoothed (finite!) but far worse
    val fluentCe = out(1L)
    val gibCe = out(100L)
    assert(!gibCe.isNaN && !gibCe.isInfinite, s"unseen mass must stay finite: $gibCe")
    assert(gibCe > fluentCe + 1.0,
      s"gibberish ($gibCe) must score well above fluent text ($fluentCe)")
    // docs with fewer than two tokens produce no bigrams and no row
    assert(!out.contains(200L) && !out.contains(201L))
  }

  test("bpeMerges: hand-computable merge sequence, non-overlapping left-to-right application") {
    import spark.implicits._
    // vocab: 'ababab' freq 3, 'aaa' freq 2. Round-by-round by hand:
    //  r0 pairs: (a,b) 3x3=9, (b,a) 2x3=6, (a,a) 2x2=4  -> merge 'a b' 9
    //  r1: ababab=[ab,ab,ab] -> (ab,ab) 2x3=6 vs (a,a) 4 -> 'ab ab' 6
    //  r2: ababab=[abab,ab] -> (abab,ab) 3 vs (a,a) 4     -> 'a a' 4
    //     (aaa=[a,a,a] merges LEFT-TO-RIGHT NON-OVERLAPPING to [aa,a])
    //  r3: (abab,ab) 3 vs (aa,a) 2                        -> 'abab ab' 3
    //  r4: (aa,a) 2                                       -> 'aa a' 2
    //  r5: no pairs left -> stops early (8 rounds requested, 5 emitted)
    val docs = Seq((1L, "ababab ababab ababab aaa aaa")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs)
      .orderBy($"rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (0, "a b", "ab", 9L), (1, "ab ab", "abab", 6L), (2, "a a", "aa", 4L),
      (3, "abab ab", "ababab", 3L), (4, "aa a", "aaa", 2L)), got.toString)
    // encode side: under those merges 'ababab' collapses to ONE token
    // and 'aaa' to one ('aa a' is the r4 merge), so the doc's 5 gated
    // words (3x ababab + 2x aaa) encode to 5 BPE tokens
    val enc = TextAnalysis.bpeEncodeStats(docs).collect()
    assert(enc.length == 1)
    assert(enc(0).getInt(1) == 5 && enc(0).getLong(2) == 5L,
      s"expected 5 words -> 5 BPE tokens, got ${enc(0)}")
  }

  test("hybridRrf: every fused score is exactly the sum of its arms' " +
      "reciprocal-rank terms, and the consensus doc outranks both arms' #1") {
    import spark.implicits._
    val dir = sf("sf0.01")
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val terms = Seq("join", "window", "stream")
    // the arms, replayed independently of the fused plan
    val lex = TextAnalysis.bm25TopK(docs, terms, 20)
      .select($"doc_id").as[Long].collect()
      .zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
    val den = Similarity.cosineTopK(emb, emb.filter($"vec_id" === 0L), 20)
      .select($"neighbor_id", $"rnk").as[(Long, Int)].collect().toMap
    val fused = TextAnalysis.hybridRrf(docs, emb, terms, 0L, 20, 10)
      .select($"rnk", $"doc_id", $"lex_rnk", $"dense_rnk", $"rrf").collect()
    assert(fused.map(_.getInt(0)).toSeq == (1 to 10))
    fused.foreach { r =>
      val d = r.getLong(1)
      val lr = Option(r.get(2)).map(_.asInstanceOf[Int])
      val dr = Option(r.get(3)).map(_.asInstanceOf[Int])
      assert(lr == lex.get(d), s"doc $d lexical rank ${lr} != replay ${lex.get(d)}")
      assert(dr == den.get(d), s"doc $d dense rank ${dr} != replay ${den.get(d)}")
      val expected = lr.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        dr.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(r.getDouble(4) == expected,
        s"doc $d rrf ${r.getDouble(4)} != fixed-order sum $expected")
    }
    // the RRF story on this fixture: a doc NEITHER arm puts first — it
    // sits at lexical 19 and dense 20 — wins on consensus, which is the
    // behavior calibration-free fusion exists to produce
    val top = fused.head
    assert(!top.isNullAt(2) && !top.isNullAt(3),
      "fused #1 no longer a both-arms doc — fixture stopped exercising consensus")
    assert(top.getLong(1) != lex.find(_._2 == 1).get._1 &&
      top.getLong(1) != den.find(_._2 == 1).get._1,
      "fused #1 is an arm's own #1 — consensus assertion is vacuous")
  }

  test("chunkNeighbors: no chunk retrieves from its own document, ranks are " +
      "dense per probe chunk, and a planted near-dup chunk is retrieved first") {
    import spark.implicits._
    // two docs sharing one near-identical 32-token span, plus distractors:
    // the shared span's chunk must be each other's #1 neighbor, and no
    // neighbor may come from the probe's own doc even though adjacent
    // overlapping chunks of the SAME doc are the most similar vectors
    val span = (1 to 32).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (0L, span + " " + (1 to 32).map(i => s"left$i").mkString(" ")),
      (1L, span + " " + (1 to 32).map(i => s"right$i").mkString(" ")),
      (2L, (1 to 64).map(i => s"noise$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkNeighbors(docs, 2, 2)
      .select($"doc_id", $"chunk_id", $"rnk", $"n_doc_id", $"n_chunk_id", $"sim")
      .as[(Long, Int, Int, Long, Int, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (d, c, _, nd, _, _) =>
      assert(nd != d, s"chunk ($d,$c) retrieved from its own document")
    }
    got.groupBy(r => (r._1, r._2)).values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
      val byRnk = rows.sortBy(_._3)
      assert(byRnk.sliding(2).forall {
        case Array(a, b) => a._6 >= b._6; case _ => true })
    }
    // the planted cross-doc duplicate: doc 0 chunk 0 (the shared span)
    // finds doc 1 chunk 0 first, and vice versa
    val m = got.filter(_._3 == 1).map(r => (r._1, r._2) -> ((r._4, r._5))).toMap
    assert(m((0L, 0)) == ((1L, 0)), s"doc0 chunk0 top-1 was ${m((0L, 0))}")
    assert(m((1L, 0)) == ((0L, 0)), s"doc1 chunk0 top-1 was ${m((1L, 0))}")
  }

  test("chunkNeighbors: a doc_id outside the packed-key range fails loudly " +
      "instead of silently colliding key spaces (ADVICE r17)") {
    import spark.implicits._
    val docs = Seq(
      (-1L, (1 to 64).map(i => s"neg$i").mkString(" ")),
      (1L, (1 to 64).map(i => s"ok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      TextAnalysis.chunkNeighbors(docs, 2, 2).collect()
    }
    assert(e.getMessage.contains("packed key overflow") ||
      Option(e.getCause).exists(_.getMessage.contains("packed key overflow")),
      s"wrong failure: ${e.getMessage}")
  }
  test("GifCodec round-trips indices through a real LZW-compressed GIF, " +
      "with interlace, planted clears, and tiny sub-blocks all exercised") {
    val rnd = new scala.util.Random(4321)
    for (trial <- 1 to 30) {
      val w = 1 + rnd.nextInt(8)
      val h = 1 + rnd.nextInt(12)
      // runs of repeats force the KwKwK first-code case; zero padding in
      // the fixture does the same
      val px = new Array[Byte](w * h)
      var i = 0
      while (i < px.length) {
        val run = 1 + rnd.nextInt(4)
        val v = rnd.nextInt(256).toByte
        var k = 0
        while (k < run && i < px.length) { px(i) = v; i += 1; k += 1 }
      }
      val interlaced = trial % 2 == 1
      val bytes = Multimodal.GifCodec.encodeIndexed(w, h, px,
        interlaced = interlaced,
        clearEvery = if (trial % 3 == 0) 5 else 0,
        blockSize = if (trial % 5 == 0) 3 else 255)
      val img = Multimodal.GifCodec.decode(bytes)
      assert(img.width == w && img.height == h)
      val pal = Multimodal.GifCodec.synthPalette
      val want = px.flatMap { b =>
        val idx = b & 0xff
        Seq(pal(3 * idx), pal(3 * idx + 1), pal(3 * idx + 2))
      }
      assert(img.pixels.toSeq == want.toSeq,
        s"round-trip mismatch at ${w}x$h interlaced=$interlaced (trial $trial)")
    }
  }

  test("GifCodec tail-code table boundary: EOI is written at the width the " +
      "decoder reads it at (the 512-crossing final-code edge, ADVICE r19)") {
    // f(i) = i(i+1)/2 mod 256: consecutive pairs (f(i), f(i+1)) are
    // distinct within any window < 512 bytes, so every byte after a
    // segment's first is a dict miss and emission counts are exact.
    // With clearEvery = E and L = E + 255 bytes, the mid-stream clear
    // lands after emission E and the remaining 254 emissions leave the
    // table at exactly 511 entries — the decoder's LAGGING add for the
    // final code then lands on 2^9 = 512 and widens before EOI. E with
    // E ≡ 258 (mod 4) additionally makes the pre-fix 9-bit EOI end
    // byte-aligned: the case where the un-widened encoder exhausted
    // the stream ('LZW stream ended without an EOI code').
    for (e <- 256 to 312) {
      val len = e + 255
      val px = new Array[Byte](len)
      var t = 0
      for (i <- 0 until len) { t = (t + i) & 0xff; px(i) = t.toByte }
      val bytes = Multimodal.GifCodec.encodeIndexed(len, 1, px, clearEvery = e)
      val img = Multimodal.GifCodec.decode(bytes)
      assert(img.width == len && img.height == 1, s"geometry at clearEvery=$e")
      val pal = Multimodal.GifCodec.synthPalette
      val want = px.flatMap { b =>
        val idx = b & 0xff
        Seq(pal(3 * idx), pal(3 * idx + 1), pal(3 * idx + 2))
      }
      assert(img.pixels.toSeq == want.toSeq,
        s"round-trip mismatch at clearEvery=$e (len $len)")
    }
  }

  test("GifCodec encodings decode identically under the JDK's OWN ImageIO " +
      "GIF reader — an independent decoder, so LZW width/clear/interlace " +
      "conventions are standard, not merely self-consistent") {
    // Two measured JDK-reader limitations scope this cross-check (r19):
    // (a) it mis-places interlace passes below height 8 — its own
    // writer→reader round trip corrupts a 3x3 interlaced GIF (every w
    // at h in {2,3,4} bad, every w at h >= 8 clean), so interlaced
    // cases here use h >= 8; (b) it desyncs on data sub-blocks of <= 2
    // bytes even non-interlaced (255 and 7 clean), so block sizes here
    // stay >= 7. Both regimes remain covered by this suite's own
    // round-trip test and by the driver oracle, which restates pixels
    // from the synthesis source independent of ANY decoder.
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 12) {
      val interlaced = trial % 2 == 0
      val w = 2 + rnd.nextInt(7)
      val h = (if (interlaced) 8 else 2) + rnd.nextInt(10)
      val px = Array.fill[Byte](w * h)(rnd.nextInt(256).toByte)
      val bytes = Multimodal.GifCodec.encodeIndexed(w, h, px,
        interlaced = interlaced,
        clearEvery = if (trial % 3 == 0) 4 else 0,
        blockSize = if (trial % 4 == 0) 7 else 255)
      val ours = Multimodal.GifCodec.decode(bytes)
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(ref != null, "ImageIO could not parse the payload at all")
      assert(ref.getWidth == w && ref.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = ref.getRGB(x, y)
        val o = (y * w + x) * 3
        assert(((rgb >> 16) & 0xff) == (ours.pixels(o) & 0xff) &&
          ((rgb >> 8) & 0xff) == (ours.pixels(o + 1) & 0xff) &&
          ((rgb & 0xff) == (ours.pixels(o + 2) & 0xff)),
          f"pixel ($x,$y) differs from ImageIO: theirs 0x$rgb%06x (trial $trial)")
      }
    }
  }

  test("GifCodec refuses malformed payloads loudly") {
    val px = Array.tabulate[Byte](6 * 3)(_.toByte)
    val good = Multimodal.GifCodec.encodeIndexed(6, 3, px)
    def expectFail(bytes: Array[Byte], needle: String): Unit = {
      val e = intercept[IllegalArgumentException] { Multimodal.GifCodec.decode(bytes) }
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    expectFail("NOTAGIF".getBytes("US-ASCII") ++ good.drop(7), "bad magic")
    expectFail(good.dropRight(4), "truncated")
    expectFail(good ++ Array[Byte](1, 2), "trailing bytes")
    // no trailer: the final 0x3b dropped → runs off the payload
    expectFail(good.dropRight(1), "truncated")
    // LSD packed byte with the GCT flag cleared
    val noGct = good.clone(); noGct(10) = (noGct(10) & 0x7f).toByte
    expectFail(noGct, "no global color table")
    // image descriptor packed byte: set the local-color-table flag.
    // Layout: 6 header + 7 LSD + 768 GCT + comment ext (2 + 1 + 5 + 1)
    // + 0x2c + 8 geometry → packed at 6+7+768+9+9 = 799
    assert((good(790) & 0xff) == 0x2c, "image descriptor offset drifted")
    val lct = good.clone(); lct(799) = (lct(799) | 0x80).toByte
    expectFail(lct, "local color table")
    // a second frame: splice another image descriptor before the trailer
    val frame = java.util.Arrays.copyOfRange(good, 790, good.length - 1)
    expectFail(good.dropRight(1) ++ frame ++ Array[Byte](0x3b), "multiple frames")
    // sub-rectangle frame: nonzero left offset
    val sub = good.clone(); sub(791) = 2
    expectFail(sub, "not the full")
    // graphic control extension declaring transparency
    val gce = Array[Byte](0x21, 0xf9.toByte, 4, 0x01, 0, 0, 0, 0)
    expectFail(java.util.Arrays.copyOfRange(good, 0, 790) ++ gce ++
      java.util.Arrays.copyOfRange(good, 790, good.length), "transparency")
    // plain-text extension renders into the frame: refuse, never skip
    val pte = Array[Byte](0x21, 0x01, 0)
    expectFail(java.util.Arrays.copyOfRange(good, 0, 790) ++ pte ++
      java.util.Arrays.copyOfRange(good, 790, good.length), "plain-text")
    // truncation inside the GCT
    expectFail(java.util.Arrays.copyOfRange(good, 0, 200), "global color table")
  }

  test("GifCodec downsample2 keeps even-coordinate sources; fixture geometry " +
      "and padding match the oracle's (m+5)/6 layout") {
    val pal = Multimodal.GifCodec.synthPalette
    val px = Array.tabulate[Byte](6 * 4)(_.toByte)
    val img = Multimodal.GifCodec.decode(
      Multimodal.GifCodec.encodeIndexed(6, 4, px, interlaced = true))
    val half = Multimodal.downsample2(img)
    assert(half.width == 3 && half.height == 2)
    for (y <- 0 until 2; x <- 0 until 3; c <- 0 until 3) {
      val srcIdx = px(2 * y * 6 + 2 * x) & 0xff
      assert((half.pixels((y * 3 + x) * 3 + c) & 0xff) ==
        (pal(3 * srcIdx + c) & 0xff), s"($x,$y,$c)")
    }
  }

  test("FlacCodec round-trips PCM through real Rice/LPC compression across " +
      "every planted encoder freedom, including multi-byte frame numbers") {
    val rnd = new scala.util.Random(777)
    for (trial <- 1 to 25) {
      val n = rnd.nextInt(260) // includes 0 (metadata-only stream) and short tails
      // byte-derived samples (the fixture shape: multiples of 256, so the
      // wasted-bits schedule actually fires) plus occasional raw shorts
      val samples =
        if (trial % 4 == 0) Array.fill[Short](n)((rnd.nextInt(65536) - 32768).toShort)
        else Array.fill[Short](n)((((rnd.nextInt(256)) - 128) * 256).toShort)
      val bytes = Multimodal.FlacCodec.encodePcm16Mono(samples, seed = trial.toLong)
      val a = Multimodal.FlacCodec.decode(bytes)
      assert(a.sampleRate == 8000 && a.channels == 1 && a.bits == 16)
      assert(a.samples.toSeq == samples.toSeq, s"round-trip mismatch (trial $trial, n=$n)")
    }
    // > 128 frames forces a 2-byte UTF-8 frame number (16-sample blocks)
    val long = Array.tabulate[Short](16 * 200)(i => ((i * 37 % 256 - 128) * 256).toShort)
    val a = Multimodal.FlacCodec.decode(
      Multimodal.FlacCodec.encodePcm16Mono(long, seed = 3))
    assert(a.samples.toSeq == long.toSeq, "multi-byte frame-number round trip")
    // constant blocks (16 equal samples) take the CONSTANT subframe path
    val const = Array.fill[Short](48)(1024)
    assert(Multimodal.FlacCodec.decode(
      Multimodal.FlacCodec.encodePcm16Mono(const, seed = 1)).samples.toSeq == const.toSeq)
  }

  test("FlacCodec decodes conforming streams at the STREAMINFO-declared block " +
      "size, not the fixture's 16 — including flac-tool-default 4096 blocks " +
      "and the 16-bit inline size path (ADVICE r19)") {
    val rnd = new scala.util.Random(4242)
    // 4096-sample blocks (code-7 16-bit inline size), a short tail frame,
    // and an in-between 8-bit-inline size (100) that is not the constant
    for (bs <- Seq(100, 256, 4096)) {
      val n = bs * 2 + bs / 3 // two full frames + a short tail
      val samples = Array.fill[Short](n)((((rnd.nextInt(256)) - 128) * 256).toShort)
      for (seed <- 0L to 3L) {
        val bytes = Multimodal.FlacCodec.encodePcm16Mono(samples, seed, blockSize = bs)
        val a = Multimodal.FlacCodec.decode(bytes)
        assert(a.samples.toSeq == samples.toSeq,
          s"round-trip mismatch at blockSize=$bs seed=$seed")
      }
    }
    // a non-final SHORT frame violates fixed blocking and must refuse:
    // splice stream A's frame 0 (full) + A's tail as frame 1 + more — a
    // hand-truncation is hard to build, so assert the simpler invariant
    // directly: total declaring MORE samples than frames provide fails
    // as a non-final-short-frame or truncation, never garbage samples
    val short = Array.fill[Short](40)(512)
    val e = intercept[IllegalArgumentException] {
      // claim blockSize 32: frame 0 has 32, frame 1 has 8 (final) — ok;
      // then corrupt STREAMINFO's total upward so frame 1 becomes
      // non-final-short
      val ok = Multimodal.FlacCodec.encodePcm16Mono(short, 0L, blockSize = 32)
      val bad = ok.clone()
      // STREAMINFO total_samples field: bytes 8..(…); flip the low byte
      // of the 36-bit total (last byte before the MD5 at offset 8+18-1)
      bad(8 + 17) = (bad(8 + 17) + 16).toByte
      Multimodal.FlacCodec.decode(bad)
    }
    assert(e.getMessage.contains("non-final") || e.getMessage.contains("truncated"),
      s"wrong refusal: ${e.getMessage}")
  }

  test("FlacCodec refuses malformed payloads loudly: every integrity layer " +
      "(magic, CRC-8, CRC-16, MD5, truncation, trailing bytes) fires") {
    val samples = Array.tabulate[Short](40)(i => ((i % 256 - 128) * 256).toShort)
    val good = Multimodal.FlacCodec.encodePcm16Mono(samples, seed = 2)
    def expectFail(bytes: Array[Byte], needle: String): Unit = {
      val e = intercept[IllegalArgumentException] { Multimodal.FlacCodec.decode(bytes) }
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    expectFail("fLaX".getBytes("US-ASCII") ++ good.drop(4), "bad magic")
    // truncation mid-frame surfaces as the bit reader's overrun refusal
    expectFail(good.dropRight(5), "ran past the payload")
    expectFail(good ++ Array[Byte](0), "trailing bytes")
    // STREAMINFO layout: 4 magic + 4 block header; channels/bps live in
    // byte 8+12; force 2 channels (bits 20..22 of the rate/ch/bps word)
    val stereo = good.clone(); stereo(8 + 12) = (stereo(8 + 12) | 0x02).toByte
    expectFail(stereo, "channels")
    // flip a bit inside the first frame's header: CRC-8 must catch it.
    // Frames start after 8+34 (STREAMINFO) + 8 (PADDING block) bytes;
    // byte +5 is inside the UTF-8/blocksize region
    val fStart = 4 + 4 + 34 + 4 + 4
    assert((good(fStart) & 0xff) == 0xff, "frame offset drifted")
    val hdrFlip = good.clone(); hdrFlip(fStart + 5) = (hdrFlip(fStart + 5) ^ 0x01).toByte
    expectFail(hdrFlip, "CRC-8")
    // flip a bit in the entropy-coded body: CRC-16 (or a decode guard) fires
    val bodyFlip = good.clone(); bodyFlip(fStart + 9) = (bodyFlip(fStart + 9) ^ 0x10).toByte
    val e = intercept[IllegalArgumentException] { Multimodal.FlacCodec.decode(bodyFlip) }
    assert(e.getMessage.contains("CRC") || e.getMessage.contains("MD5") ||
      e.getMessage.contains("refusing"), e.getMessage)
    // corrupt the MD5 signature itself: frames decode, the signature check fires
    val md5Flip = good.clone(); md5Flip(4 + 4 + 18) = (md5Flip(4 + 4 + 18) ^ 0x01).toByte
    expectFail(md5Flip, "MD5")
  }

}
