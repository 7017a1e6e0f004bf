package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ops.Multimodal.{BmpCodec, FakeCodec, MediaRow, WavPcmCodec}

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def media(rows: (Long, String)*): Seq[MediaRow] =
    rows.map { case (id, s) =>
      MediaRow(id, "image/fake", s.getBytes("UTF-8"), s.length.toLong)
    }

  test("FakeCodec: deterministic, normalized to [0,1], one value per byte") {
    val c = new FakeCodec
    val a = c.decode("some media bytes here".getBytes)
    val b = c.decode("some media bytes here".getBytes)
    assert(a.toSeq === b.toSeq)
    assert(a.length === 21) // raw signal: one intensity per byte
    assert(a.forall(v => v >= 0f && v <= 1f))
  }

  /** Serialize known PCM samples into real WAV container bytes — an
    * independent writer path (java.nio, little-endian) so the decode
    * assertion is against the format spec, not the codec's own code. */
  private def wavBytes(samples: Array[Short], channels: Short = 1,
                       sampleRate: Int = 8000): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels).putInt(sampleRate)
      .putInt(sampleRate * channels * 2).putShort((channels * 2).toShort).putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(s => buf.putShort(s))
    buf.array()
  }

  test("WavPcmCodec decodes a real WAV fixture bit-exactly") {
    val samples = Array[Short](0, 16384, -16384, 32767, -32768, 1)
    val got = new WavPcmCodec().decode(wavBytes(samples))
    assert(got.toSeq === samples.map(_ / 32768f).toSeq)
    // Malformed input fails loudly, never embeds garbage.
    intercept[IllegalArgumentException] {
      new WavPcmCodec().decode("not a wav".getBytes)
    }
    intercept[IllegalArgumentException] { // truncated data chunk
      new WavPcmCodec().decode(wavBytes(samples).dropRight(4))
    }
  }

  /** 24bpp BMP writer (bottom-up rows, 4-byte row padding): pixels are
    * (r, g, b) triples in top-down row-major order. */
  private def bmpBytes(width: Int, height: Int,
                       px: Seq[(Int, Int, Int)]): Array[Byte] = {
    val rowSize = ((24 * width + 31) / 32) * 4
    val buf = java.nio.ByteBuffer.allocate(54 + rowSize * height)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + rowSize * height)
      .putInt(0).putInt(54)
    buf.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(rowSize * height).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    for (y <- height - 1 to 0 by -1) { // stored bottom-up
      for (x <- 0 until width) {
        val (r, g, b) = px(y * width + x)
        buf.put(b.toByte).put(g.toByte).put(r.toByte)
      }
      for (_ <- 0 until rowSize - 3 * width) buf.put(0.toByte)
    }
    buf.array()
  }

  test("BmpCodec decodes a real 24bpp fixture: padding, row order, exact grays") {
    // 2x2: white, black / pure red, mid-gray. Width 2 → 6 data bytes
    // per row + 2 pad bytes, so padding handling is exercised.
    val img = bmpBytes(2, 2, Seq((255, 255, 255), (0, 0, 0), (255, 0, 0), (100, 100, 100)))
    val got = new BmpCodec().decode(img)
    // Integer Rec.601 weights: gray = (299r + 587g + 114b) / 255000.
    assert(got.toSeq === Seq(1f, 0f, 299f * 255 / 255000f, 100 * 1000 / 255000f))
    intercept[IllegalArgumentException] {
      new BmpCodec().decode("BMnot really".getBytes)
    }
  }

  /** Independent PNG writer (Deflater + CRC32 straight from the JDK,
    * filters applied per the spec's FORWARD definition) so the decode
    * assertion is against RFC 2083, not the codec's own inverse.
    * `pixels` holds channel bytes per row; `rowFilters` picks the
    * filter type per row, exercising the reconstruction paths. */
  private def pngBytes(width: Int, height: Int, colorType: Int,
                       pixels: Seq[Seq[Int]], rowFilters: Seq[Int]): Array[Byte] = {
    val channels = if (colorType == 0) 1 else 3
    val stride = width * channels
    val raw = new java.io.ByteArrayOutputStream()
    var prev = new Array[Int](stride)
    for (y <- 0 until height) {
      val cur = pixels(y).toArray
      val f = rowFilters(y)
      raw.write(f)
      for (x <- 0 until stride) {
        val a = if (x >= channels) cur(x - channels) else 0
        val b = prev(x)
        val c = if (x >= channels) prev(x - channels) else 0
        val paeth = {
          val p = a + b - c
          val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
          if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        val pred = f match {
          case 0 => 0; case 1 => a; case 2 => b; case 3 => (a + b) / 2; case 4 => paeth
        }
        raw.write((cur(x) - pred) & 0xff)
      }
      prev = cur
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw.toByteArray)
    defl.finish()
    val zout = new java.io.ByteArrayOutputStream()
    val zbuf = new Array[Byte](256)
    while (!defl.finished()) zout.write(zbuf, 0, defl.deflate(zbuf))
    defl.end()
    def chunk(ctype: String, data: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(12 + data.length)
      out.putInt(data.length).put(ctype.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(ctype.getBytes("US-ASCII"))
      crc.update(data)
      out.putInt(crc.getValue.toInt)
      out.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height).put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", zout.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
  }

  test("PngCodec decodes grayscale through all five row filters bit-exactly") {
    // 3x5 grayscale, one row per filter type (None/Sub/Up/Average/
    // Paeth) — every reconstruction path runs, including the byte
    // wraparound at 250+13.
    val rows = Seq(
      Seq(0, 128, 255), Seq(10, 250, 7), Seq(9, 30, 200),
      Seq(100, 101, 102), Seq(250, 5, 130))
    val png = pngBytes(3, 5, colorType = 0, pixels = rows,
      rowFilters = Seq(0, 1, 2, 3, 4))
    val got = new Multimodal.PngCodec().decode(png)
    assert(got.toSeq === rows.flatten.map(_ / 255f))
  }

  test("PngCodec RGB decode matches BmpCodec's exact Rec.601 grays") {
    // The same pixels through the compressed (PNG) and uncompressed
    // (BMP) path must land identical feature values — the codec
    // boundary's cross-format consistency contract.
    val px = Seq((255, 255, 255), (0, 0, 0), (255, 0, 0), (100, 100, 100))
    val png = pngBytes(2, 2, colorType = 2,
      pixels = Seq(px.take(2).flatMap(t => Seq(t._1, t._2, t._3)),
        px.drop(2).flatMap(t => Seq(t._1, t._2, t._3))),
      rowFilters = Seq(4, 4))
    val viaPng = new Multimodal.PngCodec().decode(png)
    val viaBmp = new BmpCodec().decode(bmpBytes(2, 2, px))
    assert(viaPng.toSeq === viaBmp.toSeq)
  }

  test("PngCodec fails loudly on corrupt, truncated, or unsupported input") {
    val good = pngBytes(2, 2, colorType = 0,
      pixels = Seq(Seq(1, 2), Seq(3, 4)), rowFilters = Seq(0, 0))
    intercept[IllegalArgumentException] {
      new Multimodal.PngCodec().decode("not a png at all".getBytes)
    }
    val corrupt = good.clone()
    corrupt(good.length - 20) = (corrupt(good.length - 20) ^ 0x7f).toByte // flip an IDAT byte
    intercept[IllegalArgumentException] { // CRC catches it
      new Multimodal.PngCodec().decode(corrupt)
    }
    intercept[IllegalArgumentException] { // truncated stream
      new Multimodal.PngCodec().decode(good.dropRight(8))
    }
    // Outside the declared subset (palette color type, well-formed
    // chunks): reject at IHDR, never decode approximately.
    val palette = pngBytes(2, 2, colorType = 3,
      pixels = Seq(Seq(1, 2, 3, 4, 5, 6), Seq(7, 8, 9, 10, 11, 12)),
      rowFilters = Seq(0, 0))
    val ex = intercept[IllegalArgumentException] {
      new Multimodal.PngCodec().decode(palette)
    }
    assert(ex.getMessage.contains("color type"))
  }

  /** Independent GIF89a writer: a forward walk of the spec emitting
    * LITERAL LZW codes only (with periodic clear codes and the same
    * deferred width-bump rule the spec mandates) — no compression and
    * no code shared with [[Multimodal.GifCodec]]'s chain-walking
    * decompressor, so a decode bug cannot cancel an encode bug. */
  private def gifBytes(width: Int, height: Int, palette: Seq[(Int, Int, Int)],
                       pixels: Seq[Int], minCodeSize: Int = 8,
                       clearEvery: Int = 100,
                       withExtension: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v); w8(v >> 8) }
    out.write("GIF89a".getBytes("US-ASCII"))
    w16(width); w16(height)
    val bits = math.max(1,
      32 - Integer.numberOfLeadingZeros(math.max(palette.size - 1, 1)))
    w8(0x80 | (bits - 1)); w8(0); w8(0) // GCT present, 2^bits entries
    for (i <- 0 until (1 << bits)) {
      val (r, g, b) = if (i < palette.size) palette(i) else (0, 0, 0)
      w8(r); w8(g); w8(b)
    }
    if (withExtension) { // graphic control extension the decoder must skip
      w8(0x21); w8(0xf9); w8(4); w8(0); w16(0); w8(0); w8(0)
    }
    w8(0x2c); w16(0); w16(0); w16(width); w16(height); w8(0)
    w8(minCodeSize)
    val clearCode = 1 << minCodeSize
    val endCode = clearCode + 1
    val bitBuf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var acc = 0L; var accBits = 0
    var codeWidth = minCodeSize + 1
    var next = endCode + 1
    def put(code: Int): Unit = {
      acc |= code.toLong << accBits; accBits += codeWidth
      while (accBits >= 8) { bitBuf += (acc & 0xff).toByte; acc >>>= 8; accBits -= 8 }
    }
    put(clearCode)
    var sinceClear = 0
    for (p <- pixels) {
      if (sinceClear == clearEvery) {
        put(clearCode); codeWidth = minCodeSize + 1; next = endCode + 1; sinceClear = 0
      }
      put(p)
      // The decoder grows its table by one entry per code AFTER the
      // first following a clear, and widens when the table fills —
      // mirror that so our literal codes stay in step with its reads.
      if (sinceClear >= 1) {
        next += 1
        if (next == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
      }
      sinceClear += 1
    }
    put(endCode)
    if (accBits > 0) bitBuf += (acc & 0xff).toByte
    bitBuf.grouped(255).foreach { blk => w8(blk.length); out.write(blk.toArray) }
    w8(0); w8(0x3b)
    out.toByteArray
  }

  test("GifCodec decodes an LZW stream with palette lookup bit-exactly") {
    // 3x2 with a 4-color palette, plus a graphic-control extension the
    // block walk must skip.
    val pal = Seq((255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255))
    val px = Seq(0, 1, 2, 3, 0, 2)
    val gif = gifBytes(3, 2, pal, px, withExtension = true)
    val got = new Multimodal.GifCodec().decode(gif)
    val expected = px.map { i =>
      val (r, g, b) = pal(i); (299 * r + 587 * g + 114 * b) / 255000f
    }
    assert(got.toSeq === expected)
  }

  test("GifCodec: table growth widens codes 9->10 mid-stream (deferred bump)") {
    // 24x24 = 576 literal codes with NO interior clear: the decoder's
    // table crosses 512 entries, so it must widen its reads from 9 to
    // 10 bits exactly where the encoder widened its writes.
    val pal = (0 until 256).map(i => (i, i, i))
    val px = (0 until 576).map(i => (i * 7 + 3) % 256)
    val gif = gifBytes(24, 24, pal, px, clearEvery = 1000)
    val got = new Multimodal.GifCodec().decode(gif)
    assert(got.toSeq === px.map(_ / 255f))
  }

  test("extractPooledInts: exact integer sums/counts per modulo bucket") {
    import spark.implicits._
    val content = Array.tabulate[Byte](11)(i => (i * 40 % 256).toByte)
    val media = Seq(Multimodal.MediaRow(7L, "image/fake", content, 11L)).toDS()
    val rows = Multimodal.extractPooledInts(media, dim = 4).collect()
      .map(r => r.bucket -> ((r.psum, r.pcnt, r.n_bytes, r.codec))).toMap
    // byte i lands in bucket i%4; the fake codec's byte→[0,1]→byte
    // re-quantization must be lossless.
    val expected = (0 until 4).map { j =>
      val vs = content.indices.filter(_ % 4 == j).map(content(_) & 0xff)
      j -> ((vs.sum.toLong, vs.size.toLong, 11L, "fake-codec"))
    }.toMap
    assert(rows === expected)
    // dim exceeding the signal length still emits one row per bucket.
    val wide = Multimodal.extractPooledInts(media, dim = 16).collect()
    assert(wide.length === 16 && wide.count(_.pcnt == 0L) === 5)
  }

  test("encodeBmp24Gray round-trips through BmpCodec bit-exactly") {
    // Every byte value appears; 18x16 is the q97 dedup geometry.
    val gray = Array.tabulate[Byte](288)(i => ((i * 37 + 11) % 256).toByte)
    val decoded = new BmpCodec().decode(Multimodal.encodeBmp24Gray(gray, 18, 16))
    assert(decoded.length === 288)
    val back = decoded.map(f => math.round(f * 255f).toByte)
    assert(back.toSeq === gray.toSeq,
      "gray bytes did not survive the encode->decode round trip")
  }

  test("encodeWavPcm16 round-trips through WavPcmCodec bit-exactly") {
    // Extremes, zero, and a sweep; 16-bit normalization (s/32768) is
    // float-exact, so re-quantization must recover every sample.
    val samples = (Array[Short](Short.MinValue, -1, 0, 1, Short.MaxValue) ++
      Array.tabulate[Short](100)(i => ((i * 641 - 32000)).toShort))
    val wav = Multimodal.encodeWavPcm16(samples)
    val decoded = new WavPcmCodec().decode(wav)
    assert(decoded.length === samples.length)
    val back = decoded.map(f => math.round(f * 32768).toShort)
    assert(back.toSeq === samples.toSeq,
      "samples did not survive the WAV encode->decode round trip")
  }

  test("encodePngGray round-trips through PngCodec and preserves the dHash") {
    // Every byte value appears; 18x16 is the q97/q102 dedup geometry.
    val gray = Array.tabulate[Byte](288)(i => ((i * 37 + 11) % 256).toByte)
    val decoded = new Multimodal.PngCodec().decode(Multimodal.encodePngGray(gray, 18, 16))
    assert(decoded.length === 288)
    val back = decoded.map(f => math.round(f * 255f).toByte)
    assert(back.toSeq === gray.toSeq,
      "gray bytes did not survive the PNG encode->decode round trip")
    // Same pixels through the BMP container: identical perceptual
    // hash — the codec-agnosticism q102 pins under the oracle gate.
    val viaBmp = new BmpCodec().decode(Multimodal.encodeBmp24Gray(gray, 18, 16))
    assert(Multimodal.dhash64(decoded, 18, 16) ===
      Multimodal.dhash64(viaBmp, 18, 16))
  }

  test("encodeGifGray round-trips through GifCodec and preserves the dHash") {
    // 288 pixels crosses the 128-pixel clear cadence and every byte
    // value appears; 18x16 is the q97/q102/q107 dedup geometry.
    val gray = Array.tabulate[Byte](288)(i => ((i * 37 + 11) % 256).toByte)
    val decoded = new Multimodal.GifCodec().decode(Multimodal.encodeGifGray(gray, 18, 16))
    assert(decoded.length === 288)
    val back = decoded.map(f => math.round(f * 255f).toByte)
    assert(back.toSeq === gray.toSeq,
      "gray bytes did not survive the GIF encode->decode round trip")
    val viaBmp = new BmpCodec().decode(Multimodal.encodeBmp24Gray(gray, 18, 16))
    assert(Multimodal.dhash64(decoded, 18, 16) ===
      Multimodal.dhash64(viaBmp, 18, 16))
  }

  test("dhash64 matches an independent pooled-comparison computation") {
    val rnd = new scala.util.Random(7)
    val bytes = Array.fill[Byte](288)((rnd.nextInt(256)).toByte)
    val gray = bytes.map(b => (b & 0xff) / 255f)
    val got = Multimodal.dhash64(gray, 18, 16)
    // Independent recomputation: integer 2x2 sums, strict > on the
    // right neighbor — written as plain for-comprehensions, no code
    // shared with the op's while-loop form.
    val pooled = Array.ofDim[Int](8, 9)
    for (y <- 0 until 16; x <- 0 until 18)
      pooled(y / 2)(x / 2) += bytes(y * 18 + x) & 0xff
    var expected = 0L
    for (py <- 0 until 8; px <- 0 until 8)
      if (pooled(py)(px) > pooled(py)(px + 1)) expected |= 1L << (py * 8 + px)
    assert(got === expected)
    // A brightness-shifted image (all pixels +20, saturating) keeps
    // the same gradient signs away from saturation — dHash's point.
    val brighter = bytes.map(b => math.min((b & 0xff) + 20, 255) / 255f)
    val shifted = Multimodal.dhash64(brighter, 18, 16)
    assert(java.lang.Long.bitCount(got ^ shifted) <= 16,
      "dhash should be stable under uniform brightness shift")
  }

  test("imageDhash runs real BMP blobs through the partition-batched path") {
    import spark.implicits._
    val imgs = (0L until 6L).map { id =>
      val gray = Array.tabulate[Byte](288)(i => ((i + id * 3) % 256).toByte)
      (id, Multimodal.encodeBmp24Gray(gray, 18, 16))
    }
    val got = Multimodal.imageDhash(imgs.toDF("doc_id", "content"), 18, 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = imgs.map { case (id, bmp) =>
      id -> Multimodal.dhash64(new BmpCodec().decode(bmp), 18, 16)
    }.toMap
    assert(got === expected)
  }

  test("simhashPairs at fpBits=64 finds exact and near image duplicates only") {
    import spark.implicits._
    val base = Array.tabulate[Byte](288)(i => ((i * 5 + 1) % 256).toByte)
    val nearDup = base.clone; nearDup(0) = (base(0) + 1).toByte // one-pixel edit
    val other = Array.tabulate[Byte](288)(i => ((i * 131 + 77) % 256).toByte)
    val media = Seq(
      1L -> base, 2L -> base.clone, 3L -> nearDup, 4L -> other)
      .map { case (id, g) => (id, Multimodal.encodeBmp24Gray(g, 18, 16)) }
      .toDF("doc_id", "content")
    val fps = Multimodal.imageDhash(media, 18, 16)
    val pairs = graft.ops.Dedup.simhashPairs(fps, "doc_id", "phash", fpBits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "exact duplicate must pair")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      "one-pixel edit must stay within Hamming 3")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated image must not pair")
  }

  test("GifCodec: deferred clear — table fills to 4096 and codes keep flowing") {
    // 72x64 = 4608 literal codes, no interior clear: the table hits
    // the 4096-entry cap mid-stream (258 + 4095 inserts > 4096) and
    // the encoder legally KEEPS emitting 12-bit codes with no clear
    // code — the spec's deferred-clear mode. The decoder must freeze
    // the table and keep decoding, not throw.
    val pal = (0 until 256).map(i => (i, i, i))
    val px = (0 until 4608).map(i => (i * 11 + 5) % 256)
    val gif = gifBytes(72, 64, pal, px, clearEvery = 100000)
    val got = new Multimodal.GifCodec().decode(gif)
    assert(got.toSeq === px.map(_ / 255f))
  }

  test("GifCodec gray values match BmpCodec on identical pixels") {
    val colors = Seq((255, 255, 255), (0, 0, 0), (255, 0, 0), (100, 100, 100))
    val gif = gifBytes(2, 2, colors, Seq(0, 1, 2, 3))
    val viaGif = new Multimodal.GifCodec().decode(gif)
    val viaBmp = new BmpCodec().decode(bmpBytes(2, 2, colors))
    assert(viaGif.toSeq === viaBmp.toSeq)
  }

  test("GifCodec fails loudly on corrupt, truncated, or unsupported input") {
    val pal = Seq((0, 0, 0), (255, 255, 255))
    val good = gifBytes(2, 2, pal, Seq(0, 1, 1, 0))
    intercept[IllegalArgumentException] {
      new Multimodal.GifCodec().decode("definitely not a gif".getBytes)
    }
    intercept[IllegalArgumentException] { // truncated mid image data
      new Multimodal.GifCodec().decode(good.dropRight(6))
    }
    // Interlace flag set on an otherwise-valid image descriptor:
    // reject, never de-interlace approximately. The descriptor flag
    // byte sits after header(13) + GCT + the 0x2c..positions(9) bytes.
    val palN = 2 // 2^1 entries
    val flagOff = 13 + 3 * palN + 9
    assert(good(flagOff - 9) === 0x2c.toByte) // sanity: descriptor found
    val interlaced = good.clone()
    interlaced(flagOff) = (interlaced(flagOff) | 0x40).toByte
    val ex = intercept[IllegalArgumentException] {
      new Multimodal.GifCodec().decode(interlaced)
    }
    assert(ex.getMessage.contains("interlaced"))
    // Trailer with no image block at all.
    val noImage = good.take(13 + 3 * palN) :+ 0x3b.toByte
    intercept[IllegalArgumentException] {
      new Multimodal.GifCodec().decode(noImage)
    }
  }

  /** Independent JPEG producer: the JDK's own ImageIO ENCODER (the
    * decode assertion is then against the format contract — encode a
    * known image, decode through the codec, bound the quantization
    * loss — not against the codec's own inverse). */
  private def jpegBytes(width: Int, height: Int,
                        rgbAt: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until height; x <- 0 until width) {
      val (r, g, b) = rgbAt(x, y)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos), "JDK JPEG writer missing")
    bos.toByteArray
  }

  test("JpegCodec decodes a JDK-encoded flat image near-exactly and deterministically") {
    // A solid-color image is DC-only per DCT block — quantization loss
    // is at most rounding, so the decoded grays must sit within 2/255
    // of the source. Decode is bit-deterministic for a given JRE.
    val jpg = jpegBytes(16, 16, (_, _) => (128, 128, 128))
    val codec = new Multimodal.JpegCodec().init()
    val got = codec.decode(jpg)
    assert(got.length === 256)
    val want = 128 * 1000 / 255000f // integer Rec.601 on (128,128,128)
    assert(got.forall(v => math.abs(v - want) <= 2f / 255),
      s"flat gray drifted: ${got.take(5).toSeq}")
    assert(got.toSeq === codec.decode(jpg).toSeq) // determinism
  }

  test("JpegCodec matches PngCodec within the quantization bound on a smooth image") {
    // Same pixels through the lossless (PNG) and lossy (JPEG) paths:
    // features differ only by JPEG's own loss, bounded on a smooth
    // horizontal gradient (no high-frequency content to ring on).
    val w = 16; val h = 8
    def level(x: Int) = 40 + x * 12 // 40..220 across 16 columns
    val jpg = jpegBytes(w, h, (x, _) => (level(x), level(x), level(x)))
    val png = pngBytes(w, h, colorType = 0,
      pixels = (0 until h).map(_ => (0 until w).map(level)),
      rowFilters = Seq.fill(h)(0))
    val viaJpg = new Multimodal.JpegCodec().decode(jpg)
    val viaPng = new Multimodal.PngCodec().decode(png)
    assert(viaJpg.length === viaPng.length)
    val maxDiff = viaJpg.zip(viaPng).map { case (a, b) => math.abs(a - b) }.max
    assert(maxDiff <= 6f / 255, s"JPEG loss out of bound: $maxDiff")
  }

  test("audioFingerprint64: exact windows, edit robustness, discrimination") {
    def enc(bytes: Array[Byte]): Array[Byte] = {
      val samples = bytes.map(b => (((b & 0xff) - 128) * 256).toShort)
      Multimodal.encodeWavPcm16(samples)
    }
    val codec = new Multimodal.WavPcmCodec().init()
    def fp(bytes: Array[Byte]): Long =
      Multimodal.audioFingerprint64(codec.decode(enc(bytes)))
    // Hand-computed on a tiny signal: bytes (140, 130, 130, 140, ...)
    // → |e| windows (140-128)*256+( 130-128)*256=3584, (130-128+140-128)*256=3584 …
    // identical clips must agree; a beyond-clip edit must not matter.
    val base = Array.tabulate[Byte](300)(i => ((i * 37 + 11) % 256).toByte)
    assert(fp(base) === fp(base.clone))
    val tailEdit = base.clone; tailEdit(200) = (tailEdit(200) + 90).toByte
    assert(fp(base) === fp(tailEdit), "edit past the 130-sample clip must not move the fingerprint")
    // A small in-clip substitution moves few bits; unrelated content
    // moves many — the separation the near-dup radius rides on.
    val nearDup = base.clone; nearDup(40) = (nearDup(40) + 3).toByte
    val hNear = java.lang.Long.bitCount(fp(base) ^ fp(nearDup))
    val other = Array.tabulate[Byte](300)(i => ((i * 131 + 77) % 256).toByte)
    val hOther = java.lang.Long.bitCount(fp(base) ^ fp(other))
    assert(hNear <= 3, s"one-byte in-clip edit moved $hNear bits")
    assert(hOther > 10, s"unrelated clip too close: $hOther bits")
    // Empty and sub-clip signals are defined (silence pads).
    assert(Multimodal.audioFingerprint64(Array.emptyFloatArray) === 0L)
    assert(fp(base.take(10)) === fp(base.take(10) ++ Array.fill[Byte](5)(-128)),
      "explicit silence equals implicit padding")
  }

  test("AdpcmImaCodec: encode→decode tracks the source within quantizer error") {
    // A slow ramp + a tone: the adaptive quantizer should follow both
    // closely once its step adapts; exactness is not the contract
    // (lossy), tracking is.
    val n = 400
    val samples = Array.tabulate[Short](n) { i =>
      ((math.sin(i / 7.0) * 8000) + i * 10).toShort
    }
    val decoded = new Multimodal.AdpcmImaCodec().init()
      .decode(Multimodal.encodeAdpcmImaWav(samples))
    assert(decoded.length === n)
    assert(decoded(0) === samples(0) / 32768f) // block header sample is exact
    // The first ~dozen samples are the hot-start transient (the step
    // index climbs from 7 toward the signal's slope — inherent to
    // ADPCM, not a defect); steady state must track tightly.
    val steady = (60 until n).map(i =>
      math.abs(decoded(i) - samples(i) / 32768f))
    info(f"adpcm steady-state max error: ${steady.max}%.4f")
    assert(steady.max < 0.08f, s"quantizer lost track: ${steady.max}")
    def corr(a: Seq[Float], b: Seq[Float]): Double = {
      val (ma, mb) = (a.sum / a.size, b.sum / b.size)
      val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      cov / math.sqrt(a.map(x => (x - ma) * (x - ma)).sum *
        b.map(y => (y - mb) * (y - mb)).sum)
    }
    assert(corr(decoded.toSeq, samples.map(_ / 32768f).toSeq) > 0.99)
    // Multi-block inputs (block = 505 samples at align 256) round-trip
    // with the step index carried across the block boundary.
    val long = Array.tabulate[Short](1300)(i => (math.sin(i / 5.0) * 12000).toShort)
    val dl = new Multimodal.AdpcmImaCodec().init()
      .decode(Multimodal.encodeAdpcmImaWav(long))
    assert(dl.length === 1300)
    assert(corr(dl.toSeq, long.map(_ / 32768f).toSeq) > 0.98)
    // Empty input: a single silent block, zero samples out.
    assert(new Multimodal.AdpcmImaCodec().init()
      .decode(Multimodal.encodeAdpcmImaWav(Array.empty[Short])).length === 0)
  }

  test("AdpcmImaCodec fails loudly on non-ADPCM or corrupt input") {
    val codec = new Multimodal.AdpcmImaCodec().init()
    // A valid PCM WAV is not an ADPCM stream — format tag check.
    val pcm = Multimodal.encodeWavPcm16(Array[Short](1, 2, 3))
    assert(intercept[IllegalArgumentException](codec.decode(pcm))
      .getMessage.contains("0x11"))
    // Truncated data chunk: declared sample count unreachable.
    val good = Multimodal.encodeAdpcmImaWav(
      Array.tabulate[Short](100)(i => (i * 100).toShort))
    val truncated = java.util.Arrays.copyOf(good, good.length - 200)
    // (RIFF sizes now lie — the chunk walk must reject, not overrun.)
    assert(intercept[IllegalArgumentException](codec.decode(truncated))
      .getMessage.contains("overruns"))
    assert(intercept[IllegalArgumentException](
      codec.decode("RIFFxxxxWAVE".getBytes("US-ASCII") ++ Array[Byte](1, 2))
    ).getMessage.nonEmpty)
  }

  test("encodeAdpcmImaWav: lossy round-trip afp drift stays within the q147 tolerance") {
    // The audio twin of the JPEG gate: over CORPUS-SHAPED clips —
    // text bytes as 16-bit samples, the exact fixture
    // Indexes.audioFingerprint builds — the energy-contour
    // fingerprint of the ADPCM round trip sits within
    // AdpcmAfpTolerance Hamming bits of the exact-PCM fingerprint.
    val docsFile = new java.io.File("/root/testdata/sf0.01/documents.parquet")
    val texts: Seq[String] =
      if (docsFile.exists)
        spark.read.parquet(docsFile.getPath).select("text")
          .collect().map(_.getString(0)).toSeq
      else (0 until 64).map(i => s"synthetic document $i " * 12)
    val pcmCodec = new Multimodal.WavPcmCodec().init()
    val adpcmCodec = new Multimodal.AdpcmImaCodec().init()
    val hams = texts.map { text =>
      val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(bytes.length, 130)
      val samples = Array.tabulate[Short](n)(i => (((bytes(i) & 0xff) - 128) * 256).toShort)
      val exact = Multimodal.audioFingerprint64(
        pcmCodec.decode(Multimodal.encodeWavPcm16(samples)))
      val lossy = Multimodal.audioFingerprint64(
        adpcmCodec.decode(Multimodal.encodeAdpcmImaWav(samples)))
      java.lang.Long.bitCount(exact ^ lossy)
    }
    info(s"adpcm afp drift over ${hams.size} docs: max=${hams.max} " +
      s"mean=${hams.sum.toDouble / hams.size}")
    assert(hams.max <= Multimodal.AdpcmAfpTolerance,
      s"lossy drift ${hams.max} exceeds declared tolerance")
  }

  test("AviMjpegCodec: multi-frame round trip through a real AVI container") {
    val (w, h) = (18, 16)
    val rnd = new scala.util.Random(5)
    // Smooth gradient frames (JPEG-friendly — pixel tolerance, not
    // exactness, is the lossy contract; dHash equality is the gate).
    val frames = (0 until 3).map { f =>
      Array.tabulate[Byte](w * h) { i =>
        val (y, x) = (i / w, i % w)
        (x * 5 + y * 3 + f * 11 + 20).toByte // smooth ramp, max 172
      }
    }
    val avi = Multimodal.encodeAviMjpeg(frames, w, h)
    val codec = new Multimodal.AviMjpegCodec().init()
    val decoded = codec.decode(avi)
    assert(decoded.length === 3 * w * h)
    // The AVI layer's contract is EXACTNESS relative to per-frame
    // JPEG: container walk + frame slicing add zero error on top of
    // the JPEG leg (whose own pixel drift is gated by dHash tolerance
    // in the q109 discipline, not pixel equality — measured ~0.29 max
    // on ramps for the in-engine decoder). Each decoded frame must be
    // BIT-identical to decoding its own JPEG directly.
    val jpeg = new Multimodal.JpegCodec().init()
    for (f <- 0 until 3) {
      val got = Multimodal.videoFrameSlice(decoded, w, h, f)
      val direct = jpeg.decode(Multimodal.encodeJpegGray(frames(f), w, h))
      assert(got.sameElements(direct), s"frame $f diverged from its JPEG")
    }
    // And the frames are genuinely distinct (order is load-bearing —
    // a mis-ordered walk would still pass per-frame equality checks
    // against the WRONG index if the content were identical).
    assert(!Multimodal.videoFrameSlice(decoded, w, h, 0)
      .sameElements(Multimodal.videoFrameSlice(decoded, w, h, 1)))
    rnd.nextInt(): Unit
  }

  test("AviMjpegCodec fails loudly on non-AVI, foreign-codec, or corrupt input") {
    val codec = new Multimodal.AviMjpegCodec().init()
    // A WAV is RIFF but not AVI.
    val wav = Multimodal.encodeWavPcm16(Array[Short](1, 2, 3))
    assert(intercept[IllegalArgumentException](codec.decode(wav))
      .getMessage.contains("not a RIFF/AVI"))
    val (w, h) = (18, 16)
    val good = Multimodal.encodeAviMjpeg(
      Seq(Array.fill[Byte](w * h)(100)), w, h)
    // Truncation makes the RIFF sizes lie — reject, never overrun.
    assert(intercept[IllegalArgumentException](
      codec.decode(java.util.Arrays.copyOf(good, good.length - 40)))
      .getMessage.contains("overruns"))
    // A foreign stream fourcc must be rejected by name.
    val foreign = good.clone()
    val idx = {
      var i = -1; var p = 0
      while (i < 0 && p < foreign.length - 4) {
        if (foreign(p) == 'M' && foreign(p + 1) == 'J' &&
            foreign(p + 2) == 'P' && foreign(p + 3) == 'G') i = p
        p += 1
      }
      i
    }
    // Patch the strh fccHandler (the first MJPG occurrence).
    System.arraycopy("H264".getBytes("US-ASCII"), 0, foreign, idx, 4)
    assert(intercept[IllegalArgumentException](codec.decode(foreign))
      .getMessage.contains("MJPG"))
  }

  test("MDCT: unquantized analysis→synthesis is perfect reconstruction (TDAC)") {
    // The Princen–Bradley property the whole codec stands on: with the
    // closed-form sine window, IMDCT + 50 %-overlap-add cancels the
    // time-domain alias terms EXACTLY — reconstruction to float
    // precision, no quantizer in the loop. Seeded signals across
    // lengths incl. 0, sub-frame, exact-frame, and ragged tails.
    val rnd = new scala.util.Random(11)
    for (n <- Seq(0, 1, 31, 32, 33, 64, 100, 321)) {
      val x = Array.fill(n)((rnd.nextFloat() * 2 - 1) * 0.9f)
      val y = Multimodal.mdctReconstruct(Multimodal.mdctForward(x), n)
      assert(y.length === n)
      val maxErr = if (n == 0) 0.0
        else x.indices.map(i => math.abs(y(i) - x(i)).toDouble).max
      assert(maxErr < 1e-5, s"PR violated at n=$n: $maxErr")
    }
  }

  test("MdctCodec: encode→decode tracks the source within quantizer error") {
    val n = 400
    val samples = Array.tabulate[Short](n) { i =>
      ((math.sin(i / 7.0) * 8000) + i * 10).toShort
    }
    val decoded = new Multimodal.MdctCodec().init()
      .decode(Multimodal.encodeMdctWav(samples))
    assert(decoded.length === n)
    // 4-bit per-frame max-scalefactor quantization: coarser than
    // ADPCM's adaptive per-sample steps, but frame-local — no
    // hot-start transient, every frame bounded by its own scale.
    val errs = (0 until n).map(i => math.abs(decoded(i) - samples(i) / 32768f))
    info(f"mdct max error: ${errs.max}%.4f")
    assert(errs.max < 0.12f, s"quantizer lost track: ${errs.max}")
    def corr(a: Seq[Float], b: Seq[Float]): Double = {
      val (ma, mb) = (a.sum / a.size, b.sum / b.size)
      val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      cov / math.sqrt(a.map(x => (x - ma) * (x - ma)).sum *
        b.map(y => (y - mb) * (y - mb)).sum)
    }
    assert(corr(decoded.toSeq, samples.map(_ / 32768f).toSeq) > 0.98)
    // Empty input round-trips to zero samples.
    assert(new Multimodal.MdctCodec().init()
      .decode(Multimodal.encodeMdctWav(Array.empty[Short])).length === 0)
  }

  test("MdctCodec fails loudly on non-MDCT or corrupt input") {
    val codec = new Multimodal.MdctCodec().init()
    val pcm = Multimodal.encodeWavPcm16(Array[Short](1, 2, 3))
    assert(intercept[IllegalArgumentException](codec.decode(pcm))
      .getMessage.contains("format tag"))
    val good = Multimodal.encodeMdctWav(
      Array.tabulate[Short](100)(i => (i * 100).toShort))
    val truncated = java.util.Arrays.copyOf(good, good.length - 30)
    assert(intercept[IllegalArgumentException](codec.decode(truncated))
      .getMessage.contains("overruns"))
    // A NaN scalefactor is corrupt, not silently propagated.
    val bad = good.clone()
    val dataOff = 12 + 28 + 12 + 8
    java.nio.ByteBuffer.wrap(bad).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putFloat(dataOff, Float.NaN): Unit
    assert(intercept[IllegalArgumentException](codec.decode(bad))
      .getMessage.contains("scalefactor"))
  }

  test("encodeMdctWav: lossy round-trip afp drift stays within the q160 tolerance") {
    // Same gate as the ADPCM/JPEG legs, over the exact corpus-shaped
    // fixture Indexes.audioFingerprintMdct builds.
    val docsFile = new java.io.File("/root/testdata/sf0.01/documents.parquet")
    val texts: Seq[String] =
      if (docsFile.exists)
        spark.read.parquet(docsFile.getPath).select("text")
          .collect().map(_.getString(0)).toSeq
      else (0 until 64).map(i => s"synthetic document $i " * 12)
    val pcmCodec = new Multimodal.WavPcmCodec().init()
    val mdctCodec = new Multimodal.MdctCodec().init()
    val hams = texts.map { text =>
      val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(bytes.length, 130)
      val samples = Array.tabulate[Short](n)(i => (((bytes(i) & 0xff) - 128) * 256).toShort)
      val exact = Multimodal.audioFingerprint64(
        pcmCodec.decode(Multimodal.encodeWavPcm16(samples)))
      val lossy = Multimodal.audioFingerprint64(
        mdctCodec.decode(Multimodal.encodeMdctWav(samples)))
      java.lang.Long.bitCount(exact ^ lossy)
    }
    info(s"mdct afp drift over ${hams.size} docs: max=${hams.max} " +
      s"mean=${hams.sum.toDouble / hams.size}")
    assert(hams.max <= Multimodal.MdctAfpTolerance,
      s"lossy drift ${hams.max} exceeds declared tolerance")
  }

  test("encodeJpegGray: lossy round-trip dHash drift stays within the q109 tolerance") {
    // The lossy leg's whole contract (the only honest one a lossy
    // codec can carry): over CORPUS-SHAPED images — text bytes as
    // 18×16 gray, the exact fixture Indexes.imagePhashJpeg builds —
    // the dHash of encodeJpegGray→JpegCodec pixels sits within
    // JpegPhashTolerance Hamming bits of the exact-pixel hash. Runs
    // over the real sf0.01 corpus when present (the population q109
    // gates), plus crafted gradients.
    val docsFile = new java.io.File("/root/testdata/sf0.01/documents.parquet")
    val texts: Seq[String] =
      if (docsFile.exists)
        spark.read.parquet(docsFile.getPath).select("text")
          .collect().map(_.getString(0)).toSeq
      else (0 until 64).map(i => s"synthetic document $i " * 12)
    val jpegCodec = new Multimodal.JpegCodec().init()
    val bmpCodec = new Multimodal.BmpCodec().init()
    val hams = texts.map { text =>
      val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val gray = Array.fill[Byte](288)(32)
      System.arraycopy(bytes, 0, gray, 0, math.min(bytes.length, 288))
      val exact = Multimodal.dhash64(
        bmpCodec.decode(Multimodal.encodeBmp24Gray(gray, 18, 16)), 18, 16)
      val lossy = Multimodal.dhash64(
        jpegCodec.decode(Multimodal.encodeJpegGray(gray, 18, 16)), 18, 16)
      java.lang.Long.bitCount(exact ^ lossy)
    }
    info(s"jpeg dHash drift over ${hams.size} docs: max=${hams.max} " +
      s"mean=${hams.sum.toDouble / hams.size}")
    assert(hams.max <= Multimodal.JpegPhashTolerance,
      s"lossy drift ${hams.max} exceeds declared tolerance")
  }

  test("AviMjpegCodec: temporal seq-hash pair drift stays within the q163 tolerance") {
    // The PAIR-level contract of the temporal video verify: over the
    // real corpus's qualifying pairs (exact frame-0 dHash Hamming <=
    // 3 — q163's oracle-defined universe), the summed 3-frame Hamming
    // between the two members' MJPEG-AVI-decoded hash sequences stays
    // within VideoSeqTolerance. Measures the real distribution the
    // declared flag gates (the ADPCM/JPEG drift-spec discipline,
    // lifted from per-doc to per-pair).
    val docsFile = new java.io.File("/root/testdata/sf0.01/documents.parquet")
    val texts: Seq[String] =
      if (docsFile.exists)
        spark.read.parquet(docsFile.getPath).select("text")
          .collect().map(_.getString(0)).toSeq
      else (0 until 64).map(i => s"synthetic document $i " * 12)
    val codec = new Multimodal.AviMjpegCodec().init()
    val sigs = texts.map { text =>
      val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val gray = Array.fill[Byte](288)(32)
      System.arraycopy(bytes, 0, gray, 0, math.min(bytes.length, 288))
      val brighter = gray.map(b => math.min(255, (b & 0xff) + 40).toByte)
      val mirrored = Array.tabulate[Byte](288) { i =>
        val (y, x) = (i / 18, i % 18); gray(y * 18 + (17 - x))
      }
      val exact0 = Multimodal.dhash64(
        gray.map(b => (b & 0xff).toFloat), 18, 16)
      val frames = codec.decode(
        Multimodal.encodeAviMjpeg(Seq(gray, brighter, mirrored), 18, 16))
      val vh = (0 until 3).map(f => Multimodal.dhash64(
        Multimodal.videoFrameSlice(frames, 18, 16, f), 18, 16))
      (exact0, vh)
    }
    val dists = for {
      i <- sigs.indices; j <- (i + 1) until sigs.size
      if java.lang.Long.bitCount(sigs(i)._1 ^ sigs(j)._1) <= 3
    } yield (0 until 3).map(f =>
      java.lang.Long.bitCount(sigs(i)._2(f) ^ sigs(j)._2(f))).sum
    assert(dists.nonEmpty, "corpus produced no qualifying pairs")
    info(s"video seq drift over ${dists.size} qualifying pairs: " +
      s"max=${dists.max} mean=${dists.sum.toDouble / dists.size}")
    assert(dists.max <= Multimodal.VideoSeqTolerance,
      s"pair seq drift ${dists.max} exceeds declared tolerance")
  }

  test("JpegCodec fails loudly on non-JPEG or corrupt input") {
    // PNG bytes are a VALID image — but not a JPEG; the format check
    // must reject them (a codec silently decoding the wrong format
    // hides pipeline wiring bugs).
    val png = pngBytes(2, 2, colorType = 0,
      pixels = Seq(Seq(1, 2), Seq(3, 4)), rowFilters = Seq(0, 0))
    val ex = intercept[IllegalArgumentException] {
      new Multimodal.JpegCodec().decode(png)
    }
    assert(ex.getMessage.contains("SOI"))
    intercept[IllegalArgumentException] {
      new Multimodal.JpegCodec().decode(Array[Byte](0xff.toByte))
    }
    // SOI marker present but the stream is garbage after it.
    val garbage = Array[Byte](0xff.toByte, 0xd8.toByte) ++
      Array.fill[Byte](64)(0x5a)
    intercept[IllegalArgumentException] {
      new Multimodal.JpegCodec().decode(garbage)
    }
  }

  test("extractPooledInts runs real JPEG bytes through the partition-batched path") {
    val jpg = jpegBytes(8, 8, (_, _) => (200, 200, 200))
    val ds = (1L to 3L).map(i => MediaRow(i, "image/jpeg", jpg, 0L)).toDS()
    val out = Multimodal.extractPooledInts(ds, dim = 2,
      mkCodec = () => new Multimodal.JpegCodec).collect()
    assert(out.map(_.doc_id).toSet === Set(1L, 2L, 3L) && out.length === 6)
    assert(out.forall(r => r.codec === "jpeg-gray" && r.pcnt === 32L))
    // Each re-quantized pixel is within 2 of the flat 200 gray.
    assert(out.forall(r => math.abs(r.psum - 200L * 32) <= 2L * 32))
  }

  test("extractPooledInts runs real PNG bytes through the partition-batched path") {
    val rows = Seq(Seq(0, 128, 255), Seq(10, 20, 30))
    val png = pngBytes(3, 2, colorType = 0, pixels = rows, rowFilters = Seq(0, 2))
    val ds = (1L to 3L).map(i => MediaRow(i, "image/png", png, 0L)).toDS()
    val out = Multimodal.extractPooledInts(ds, dim = 2,
      mkCodec = () => new Multimodal.PngCodec).collect()
    assert(out.length === 6 && out.forall(_.codec === "png-gray"))
    // Row-major pixels 0,128,255,10,20,30: bucket 0 holds 0+255+20.
    assert(out.forall(r => (r.bucket, r.psum, r.pcnt) ===
      (if (r.bucket == 0) (0, 275L, 3L) else (1, 168L, 3L))))
  }

  test("extractPooledInts runs REAL audio bytes through the partition-batched path") {
    val samples = Array[Short](1000, -1000, 2000, -2000, 3000, -3000)
    val wav = wavBytes(samples)
    val rows = (1L to 4L).map(i => MediaRow(i, "audio/wav", wav, 100L))
    val out = Multimodal.extractPooledInts(rows.toDS(), dim = 3,
      mkCodec = () => new WavPcmCodec, quantScale = 32768).collect()
    assert(out.length === 12)
    assert(out.forall(r => r.codec === "wav-pcm" && r.n_bytes === wav.length.toLong))
    // 16-bit PCM re-quantizes exactly: bucket j sums samples i ≡ j mod 3.
    val expected = Map(0 -> -1000L, 1 -> 2000L, 2 -> -1000L)
    assert(out.forall(r => r.psum === expected(r.bucket) && r.pcnt === 2L))
  }

  test("extractPooledInts initializes the codec once per partition, not per row") {
    // 8 rows in 2 partitions; the codec counts its inits in an
    // accumulator (the per-partition shape is the contract).
    val acc = spark.sparkContext.longAccumulator("codecInits")
    val ds = media((1L to 8L).map(i => (i, s"blob $i")): _*).toDS().repartition(2)
    Multimodal.extractPooledInts(ds, dim = 4, mkCodec = () => new CountingCodec(acc))
      .collect()
    assert(acc.value === 2L)
  }

  test("sampleFrames: one row per tick, frames are bounded byte slices") {
    val blob = "abcdefghijklmnopqrst" // 20 bytes
    val df = Seq((1L, "video/fake", blob.getBytes, 250L))
      .toDF("doc_id", "media_type", "content", "duration_ms")
    val out = Multimodal.sampleFrames(df, everyMs = 100L)
      .orderBy("frame_ms").collect()
    assert(out.map(_.getLong(2)).toSeq === Seq(0L, 100L, 200L))
    // tick 0 → offset 0%20+1=1; tick 100 → 100%20+1=1; tick 200 →
    // 200%20+1=1 (slices wrap deterministically), FrameBytes = 16 long.
    assert(Multimodal.FrameBytes === 16)
    assert(out.forall(r => new String(r.getAs[Array[Byte]](3)) === "abcdefghijklmnop"))
    val out2 = Multimodal.sampleFrames(
      Seq((2L, "video/fake", blob.getBytes, 130L))
        .toDF("doc_id", "media_type", "content", "duration_ms"),
      everyMs = 33L).orderBy("frame_ms").collect()
    // 33%20+1=14 → bytes 14..20: the slice stops at the blob's end
    assert(new String(out2(1).getAs[Array[Byte]](3)) === "nopqrst")
  }
}

/** [[Multimodal.FakeCodec]] that counts its `init()` calls in an
  * accumulator, so inits on executors add up where the test reads them. */
private final class CountingCodec(inits: org.apache.spark.util.LongAccumulator)
    extends Multimodal.MediaCodec {
  private val inner = new FakeCodec
  def name: String = inner.name
  def init(): CountingCodec = { inits.add(1); inner.init(); this }
  def decode(content: Array[Byte]): Array[Float] = inner.decode(content)
}
