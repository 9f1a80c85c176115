package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Image header codec: absolute byte-layout vectors written by hand
  * from the published specs (NOT via our own encoder, so an encoder+
  * decoder inverse-bug pair can't hide), plus encoder round-trips and
  * the Spark expression surface.
  */
class MultimodalSpec extends SparkSuite {

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("PNG IHDR vector from RFC 2083: 257x64 truecolor") {
    // signature | IHDR len=13 | 'IHDR' | w=0x101 | h=0x40 | depth=8
    // colortype=2 | comp=0 filter=0 interlace=0 | crc (value irrelevant
    // to the parser, present for layout)
    val png = hex(
      "89504E470D0A1A0A" + "0000000D" + "49484452" +
        "00000101" + "00000040" + "08" + "02" + "000000" + "DEADBEEF")
    assert(ImageCodec.decode(png) ===
      Some(ImageCodec.Meta("png", 257, 64, 3)))
  }

  test("PNG colortype channel mapping (gray/palette/gray+a/rgba)") {
    for ((ct, ch) <- Seq(0 -> 1, 3 -> 1, 4 -> 2, 6 -> 4)) {
      val b = ImageCodec.pngBytes(10, 20, colorType = ct)
      assert(ImageCodec.decode(b) === Some(ImageCodec.Meta("png", 10, 20, ch)))
    }
  }

  test("JPEG SOF0 vector from ITU-T T.81: APP0 skipped, 640x480x3") {
    // SOI | APP0 len=16 'JFIF\0' v1.1 units=0 density 1x1 no thumb |
    // SOF0 len=17 prec=8 h=480(0x01E0) w=640(0x0280) ncomp=3 + 3 comps
    val jpg = hex(
      "FFD8" +
        "FFE0" + "0010" + "4A46494600" + "0101" + "00" + "0001" + "0001" + "0000" +
        "FFC0" + "0011" + "08" + "01E0" + "0280" + "03" +
        "011100" + "021101" + "031101")
    assert(ImageCodec.decode(jpg) ===
      Some(ImageCodec.Meta("jpeg", 640, 480, 3)))
  }

  test("JPEG fill bytes (0xFF padding) before markers are skipped") {
    // T.81 §B.1.1.2: markers may be preceded by any number of 0xFF
    val jpg = hex("FFD8" + "FFFF" + "FFC0" + "000B" + "08" + "0040" + "0080" + "01" + "011100")
    assert(ImageCodec.decode(jpg) === Some(ImageCodec.Meta("jpeg", 128, 64, 1)))
  }

  test("JPEG progressive (SOF2) also carries dimensions") {
    val jpg = hex("FFD8" + "FFC2" + "000B" + "08" + "0064" + "00C8" + "01" + "011100")
    assert(ImageCodec.decode(jpg) === Some(ImageCodec.Meta("jpeg", 200, 100, 1)))
  }

  test("GIF89a vector: 3x5 little-endian dims") {
    val gif = hex("474946383961" + "0300" + "0500" + "F7" + "00" + "00")
    assert(ImageCodec.decode(gif) === Some(ImageCodec.Meta("gif", 3, 5, 3)))
  }

  test("garbage, truncated and text payloads decode to None") {
    assert(ImageCodec.decode(Array.emptyByteArray).isEmpty)
    assert(ImageCodec.decode("not an image at all".getBytes).isEmpty)
    assert(ImageCodec.decode(ImageCodec.pngBytes(5, 5).take(20)).isEmpty)
    // PNG signature with a non-IHDR first chunk is rejected
    val bad = hex("89504E470D0A1A0A" + "0000000D" + "49444154" +
      "00000001000000010802000000" + "00000000")
    assert(ImageCodec.decode(bad).isEmpty)
  }

  test("encoder round-trips across the dimension range") {
    for ((w, h) <- Seq(1 -> 1, 16 -> 255, 255 -> 16, 4096 -> 2160)) {
      assert(ImageCodec.decode(ImageCodec.pngBytes(w, h)) ===
        Some(ImageCodec.Meta("png", w, h, 3)))
      assert(ImageCodec.decode(ImageCodec.jpegBytes(w, h)) ===
        Some(ImageCodec.Meta("jpeg", w, h, 3)))
      assert(ImageCodec.decode(ImageCodec.jpegBytes(w, h, channels = 1)) ===
        Some(ImageCodec.Meta("jpeg", w, h, 1)))
    }
  }

  test("PNG chunk CRCs are real (external readers checksum them)") {
    val b = ImageCodec.pngBytes(99, 7)
    val crc = new java.util.zip.CRC32()
    crc.update(b, 12, 4 + 13) // 'IHDR' + data
    val stored = ((b(29) & 0xFFL) << 24) | ((b(30) & 0xFFL) << 16) |
      ((b(31) & 0xFFL) << 8) | (b(32) & 0xFFL)
    assert(crc.getValue === stored)
  }

  test("image_meta expression: NULL-safe struct over mixed payloads") {
    import spark.implicits._
    val df = Seq(
      ("a", ImageCodec.pngBytes(33, 44)),
      ("b", ImageCodec.jpegBytes(55, 66, 1)),
      ("c", "plain text".getBytes),
      ("d", null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
      .withColumn("m", ImageCodec.image_meta(col("payload")))
      .select("id", "m.format", "m.width", "m.height", "m.channels")
      .orderBy("id")
    val rows = df.collect()
    assert(rows(0).toSeq === Seq("a", "png", 33, 44, 3))
    assert(rows(1).toSeq === Seq("b", "jpeg", 55, 66, 1))
    assert(rows(2).toSeq === Seq("c", null, null, null, null))
    assert(rows(3).toSeq === Seq("d", null, null, null, null))
  }

  test("fixture expression matches direct encoding") {
    import spark.implicits._
    val r = Seq(("png", 12, 34), ("jpeg", 56, 78), ("jpeg_gray", 9, 10))
      .toDF("fmt", "w", "h")
      .select(ImageCodec.image_meta(
        ImageCodec.image_fixture(col("fmt"), col("w"), col("h"))).as("m"))
      .select("m.format", "m.width", "m.height", "m.channels")
      .collect()
    assert(r(0).toSeq === Seq("png", 12, 34, 3))
    assert(r(1).toSeq === Seq("jpeg", 56, 78, 3))
    assert(r(2).toSeq === Seq("jpeg", 9, 10, 1))
  }

  test("PNG pixel decode round-trips across color types and ALL filters") {
    // heights >= 6 so the y%5 filter cycle exercises every filter type,
    // including Paeth with a real up/upper-left context
    for ((ct, ch) <- Seq(0 -> 1, 2 -> 3, 4 -> 2, 6 -> 4)) {
      val w = 13; val h = 9; val seed = 77L
      val png = ImageCodec.pngPixelBytes(w, h, ct, seed)
      val p = ImageCodec.decodePixels(png).getOrElse(
        fail(s"decode failed for colorType $ct"))
      assert((p.width, p.height, p.channels) === (w, h, ch))
      assert(p.data.length === w * h * ch)
      var i = 0
      while (i < p.data.length) {
        assert((p.data(i) & 0xFF) === ((i * 31L + seed) & 0xFF).toInt,
          s"pixel $i wrong for colorType $ct")
        i += 1
      }
    }
  }

  test("PNG pixel decode rejects malformed payloads as None, never throws") {
    val good = ImageCodec.pngPixelBytes(10, 10, 2, 1L)
    assert(ImageCodec.decodePixels(good).isDefined)
    // header-only PNG (no IDAT)
    assert(ImageCodec.decodePixels(ImageCodec.pngBytes(10, 10)).isEmpty)
    // truncated IDAT stream
    assert(ImageCodec.decodePixels(good.take(good.length - 20)).isEmpty)
    // zlib header demanding a preset dictionary (FDICT bit): inflate
    // reports neither finished nor needs-input — must return None, not
    // spin forever (regression test for the needsInput-only break)
    val out = new java.io.ByteArrayOutputStream()
    out.write(good, 0, 33) // signature + IHDR
    val fdictIdat = Array[Byte](0x78, 0x20, 1, 2, 3, 4, 5, 6)
    val lenType = Array[Byte](0, 0, 0, fdictIdat.length.toByte,
      'I', 'D', 'A', 'T')
    out.write(lenType, 0, 8)
    out.write(fdictIdat, 0, fdictIdat.length)
    out.write(new Array[Byte](4), 0, 4) // CRC (unchecked by decode)
    out.write(Array[Byte](0, 0, 0, 0, 'I', 'E', 'N', 'D'), 0, 8)
    out.write(new Array[Byte](4), 0, 4)
    assert(ImageCodec.decodePixels(out.toByteArray).isEmpty)
    // corrupted stored-block header inside IDAT: the inflater stalls
    // or errors — both must surface as None, never a throw or hang
    val corrupt = good.clone()
    corrupt(45) = (corrupt(45) ^ 0x55).toByte
    ImageCodec.decodePixels(corrupt) // must return (no hang/throw)
    // not a PNG at all
    assert(ImageCodec.decodePixels("not a png".getBytes).isEmpty)
    assert(ImageCodec.decodePixels(Array.emptyByteArray).isEmpty)
    // encoder refuses unbounded allocations (SQL sees NULL via the
    // expression's IllegalArgumentException -> NULL contract)
    assert(intercept[IllegalArgumentException] {
      ImageCodec.pngPixelBytes(60000, 60000, 2, 0L)
    }.getMessage.contains("64 MiB"))
  }

  test("image_pixel_stats expression: value-level stats + NULL for non-image") {
    import spark.implicits._
    val df = Seq((1L, 0, 9, 7), (2L, 2, 8, 6), (3L, 4, 5, 5), (4L, 6, 4, 8))
      .toDF("seed", "ct", "w", "h")
      .select(col("seed"), ImageCodec.image_pixel_stats(
        ImageCodec.png_pixel_fixture(col("ct"), col("w"), col("h"),
          col("seed"))).as("st"))
      .select(col("seed"), col("st.n_bytes"), col("st.pix_mean"), col("st.checksum"))
      .collect()
    df.foreach { r =>
      val seed = r.getLong(0)
      val n = r.getLong(1).toInt
      val vals = (0 until n).map(i => ((i * 31L + seed) & 0xFF).toDouble)
      assert(math.abs(r.getDouble(2) - vals.sum / n) < 1e-12)
      val checksum = (0 until n).map(i => i.toLong * vals(i).toLong).sum
      assert(r.getLong(3) === checksum)
    }
    // unsupported payload -> NULL struct
    val nulls = Seq("plain text").toDF("t")
      .select(ImageCodec.image_pixel_stats(col("t").cast("binary")).as("st"))
      .collect()
    assert(nulls(0).isNullAt(0))
  }

  test("GIF pixel decode round-trips, incl. dictionary resets past 250 codes") {
    // width*height > 250 exercises the encoder's periodic CLEAR and the
    // decoder's dictionary-reset path; palette is grayscale identity so
    // decoded RGB = pattern value tripled
    for ((w, h, seed) <- Seq((20, 15, 3L), (9, 8, 77L), (31, 17, 123L))) {
      val gif = ImageCodec.gifPixelBytes(w, h, seed)
      val p = ImageCodec.decodePixels(gif).getOrElse(fail(s"decode failed ${w}x$h"))
      assert((p.width, p.height, p.channels) === (w, h, 3))
      assert(p.data.length === w * h * 3)
      var i = 0
      while (i < w * h) {
        val v = ((i * 31L + seed) & 0xFF).toInt
        assert((p.data(3 * i) & 0xFF) === v)
        assert((p.data(3 * i + 1) & 0xFF) === v)
        assert((p.data(3 * i + 2) & 0xFF) === v)
        i += 1
      }
    }
  }

  test("pngEncode/resizeNearest: decode->resample->encode->decode closes") {
    for (ct <- Seq(0, 2, 6)) {
      val src = ImageCodec.decodePixels(
        ImageCodec.pngPixelBytes(12, 10, ct, 9L)).get
      val half = ImageCodec.resizeNearest(src, 6, 5)
      val back = ImageCodec.decodePixels(ImageCodec.pngEncode(half)).getOrElse(
        fail(s"re-encoded PNG failed to decode (colorType $ct)"))
      assert((back.width, back.height, back.channels) === (6, 5, src.channels))
      // every output byte is the floor-mapped source byte
      var y = 0
      while (y < 5) {
        var x = 0
        while (x < 6) {
          val sy = y * 10 / 5; val sx = x * 12 / 6
          var c = 0
          while (c < src.channels) {
            assert(back.data((y * 6 + x) * src.channels + c) ===
              src.data((sy * 12 + sx) * src.channels + c))
            c += 1
          }
          x += 1
        }
        y += 1
      }
    }
    // GIF input resizes too (decode dispatches by container)
    val gif = ImageCodec.gifPixelBytes(10, 8, 4L)
    val viaExpr = ImageCodec.decodePixels(gif).map(p =>
      ImageCodec.resizeNearest(p, 5, 4))
    assert(viaExpr.exists(p => p.width == 5 && p.height == 4 && p.channels == 3))
    // upscale is legal (nearest repeats pixels)
    val up = ImageCodec.resizeNearest(ImageCodec.decodePixels(gif).get, 20, 16)
    assert(up.data.length === 20 * 16 * 3)
  }

  test("animated GIF: per-frame decode + evenly spaced frame sampling") {
    val anim = ImageCodec.gifAnimBytes(7, 6, nFrames = 5, seed = 11L)
    val frames = ImageCodec.decodeGifFrames(anim).getOrElse(fail("no frames"))
    assert(frames.length === 5)
    for ((f, fi) <- frames.zipWithIndex; i <- 0 until 7 * 6) {
      val v = ((i * 31L + 11L + fi * 97L) & 0xFF).toInt
      assert((f.data(3 * i) & 0xFF) === v, s"frame $fi pixel $i")
    }
    // single-frame decode = frame 0
    assert(ImageCodec.decodePixels(anim).get.data.toSeq === frames(0).data.toSeq)
    // sampling: n=3 of 5 frames -> indices 0, 1, 3
    val expr = ImageCodec.GifFrameSamplesExpr(
      org.apache.spark.sql.catalyst.expressions.Literal(anim),
      org.apache.spark.sql.catalyst.expressions.Literal(3))
    val arr = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val idxs = (0 until arr.numElements())
      .map(i => arr.getStruct(i, 3).getInt(0))
    assert(idxs === Seq(0, 1, 3))
    // n larger than frame count -> every frame once
    val exprAll = ImageCodec.GifFrameSamplesExpr(
      org.apache.spark.sql.catalyst.expressions.Literal(anim),
      org.apache.spark.sql.catalyst.expressions.Literal(10))
    val all = exprAll.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert((0 until all.numElements())
      .map(i => all.getStruct(i, 3).getInt(0)) === Seq(0, 1, 2, 3, 4))
  }

  test("GIF maxFrames early-stop: partial later frames don't reject frame 0") {
    // real-world animated GIFs optimize later frames as sub-rectangles
    // (disposal compositing); a first-frame decode must not validate them
    val anim = ImageCodec.gifAnimBytes(7, 6, nFrames = 3, seed = 11L)
    // corrupt frame 1+: find the SECOND image descriptor (0x2C separator
    // at a block boundary) and give it a nonzero left offset
    def findDescriptors(b: Array[Byte]): Seq[Int] = {
      // walk the block structure exactly as the decoder does
      val out = scala.collection.mutable.ArrayBuffer[Int]()
      var pos = 13
      if ((b(10) & 0x80) != 0) pos += 3 * (2 << (b(10) & 7))
      var stop = false
      while (!stop && pos < b.length) {
        (b(pos) & 0xFF) match {
          case 0x21 =>
            pos += 2
            var done = false
            while (!done) { val l = b(pos) & 0xFF; pos += 1 + l; done = l == 0 }
          case 0x2C =>
            out += pos
            pos += 10
            if ((b(pos - 1) & 0x80) != 0) pos += 3 * (2 << (b(pos - 1) & 7))
            pos += 1 // LZW min code size
            var done = false
            while (!done) { val l = b(pos) & 0xFF; pos += 1 + l; done = l == 0 }
          case 0x3B => stop = true
          case _ => stop = true
        }
      }
      out.toSeq
    }
    val descs = findDescriptors(anim)
    assert(descs.length === 3)
    val mutated = anim.clone()
    mutated(descs(1) + 1) = 2 // frame 1 left offset = 2 (partial frame)
    // full decode rejects (partial frames unsupported) ...
    assert(ImageCodec.decodeGifFrames(mutated).isEmpty)
    // ... but the first-frame path stops at maxFrames and still decodes
    val first = ImageCodec.decodePixelsGif(mutated)
    assert(first.exists(_.data.toSeq ==
      ImageCodec.decodePixelsGif(anim).get.data.toSeq))
  }

  test("4:2:0 subsampled JPEG decode: lossless on macroblock-constant fixtures") {
    for ((w, h, seed) <- Seq((16, 16, 0L), (32, 16, 5L), (48, 32, 42L))) {
      val jpg = JpegCodec.jpegPixelBytes420(w, h, seed)
      val p = ImageCodec.decodePixels(jpg).getOrElse(fail(s"decode failed ${w}x$h"))
      assert((p.width, p.height, p.channels) === (w, h, 3))
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
        val tile = (y / 16) * (w / 16) + x / 16
        val exp = ((tile * 31L + seed) & 0xFF).toInt
        assert((p.data((y * w + x) * 3 + c) & 0xFF) === exp,
          s"pixel ($x,$y,$c) seed $seed")
      }
    }
    // truncation/garbage still reject
    val good = JpegCodec.jpegPixelBytes420(32, 16, 3L)
    assert(JpegCodec.decodePixels(good.take(good.length - 5)).isEmpty)
  }

  test("JPEG fixture encoders: output bytes pinned by MD5") {
    def md5(b: Array[Byte]): String = java.security.MessageDigest
      .getInstance("MD5").digest(b).map("%02x".format(_)).mkString
    val got = Seq(
      "baseline 16x8x1 seed 3" -> JpegCodec.jpegPixelBytes(16, 8, 1, 3L),
      "baseline 40x24x3 seed 200" -> JpegCodec.jpegPixelBytes(40, 24, 3, 200L),
      "420 32x16 seed 3" -> JpegCodec.jpegPixelBytes420(32, 16, 3L),
      "420 64x48 seed 77" -> JpegCodec.jpegPixelBytes420(64, 48, 77L),
      "prog 16x8x1 seed 5" -> JpegCodec.jpegPixelBytesProg(16, 8, 1, 5L),
      "prog 56x40x3 seed 250" -> JpegCodec.jpegPixelBytesProg(56, 40, 3, 250L))
      .map { case (k, b) => k -> md5(b) }
    assert(got == Seq(
      "baseline 16x8x1 seed 3" ->
        "bd41598bb68959e19c6ca1e6a89661b5",
      "baseline 40x24x3 seed 200" ->
        "bca2fad1514be4081737b68da528a4dc",
      "420 32x16 seed 3" ->
        "11ede3e4543529421a4debe6e6976d74",
      "420 64x48 seed 77" ->
        "73695a31c28b602d7aad873c45b9f45c",
      "prog 16x8x1 seed 5" ->
        "3c32f2589c4359698423f5868278da48",
      "prog 56x40x3 seed 250" ->
        "3c5ae7c10fd0c53011cfba650dec65cd"))
  }

  test("baseline JPEG decode: lossless on block-constant fixtures") {
    for ((ch, w, h, seed) <- Seq((1, 16, 8, 5L), (3, 24, 16, 42L), (3, 8, 8, 0L))) {
      val jpg = JpegCodec.jpegPixelBytes(w, h, ch, seed)
      // header decode agrees (the existing SOFn parser reads our SOF0)
      val meta = ImageCodec.decode(jpg).getOrElse(fail("header decode failed"))
      assert((meta.format, meta.width, meta.height) === ("jpeg", w, h))
      val p = JpegCodec.decodePixels(jpg).getOrElse(fail(s"decode failed $ch"))
      assert((p.width, p.height, p.channels) === (w, h, ch))
      val blocksX = w / 8
      for (y <- 0 until h; x <- 0 until w; c <- 0 until ch) {
        val v = ((((y / 8) * blocksX + (x / 8)) * 31L + seed) & 0xFF).toInt
        assert((p.data((y * w + x) * ch + c) & 0xFF) === v,
          s"pixel ($x,$y,$c) ch=$ch")
      }
    }
  }

  test("JPEG decoder: general Huffman/AC path via a hand-built stream") {
    // one 8x8 grayscale block with DC=0 and a single AC coefficient at
    // zigzag position 1 (horizontal frequency u=1): the decoder must
    // produce IDCT(q*1 at F(1,0)) — computed here by the textbook
    // formula, independent of the decoder's own IDCT tables
    val out = new java.io.ByteArrayOutputStream()
    def m2(mk: Int): Unit = { out.write(0xFF); out.write(mk) }
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xFF); out.write(v & 0xFF) }
    m2(0xD8)
    m2(0xDB); be16(67); out.write(0)
    (0 until 64).foreach(_ => out.write(16)) // flat quantizer 16
    m2(0xC0); be16(11); out.write(8); be16(8); be16(8); out.write(1)
    out.write(1); out.write(0x11); out.write(0)
    m2(0xC4); be16(2 + 17 + 12 + 17 + 2)
    out.write(0x00) // DC table: 12 categories at 4 bits
    val dcCounts = new Array[Int](16); dcCounts(3) = 12
    dcCounts.foreach(out.write); (0 to 11).foreach(out.write)
    out.write(0x10) // AC table: symbols 0x00 (EOB) and 0x01 at 2 bits
    val acCounts = new Array[Int](16); acCounts(1) = 2
    acCounts.foreach(out.write); out.write(0x00); out.write(0x01)
    m2(0xDA); be16(8); out.write(1); out.write(1); out.write(0x00)
    out.write(0); out.write(63); out.write(0)
    // bits: DC cat 0 = "0000"; AC symbol 0x01 (run 0, size 1) = "01";
    // magnitude bit "1" (= +1); EOB = "00"; pad with 1s
    // stream: 0000 01 1 0 | 0 1111111 -> bytes 0x06, 0x7F
    out.write(0x06); out.write(0x7F)
    m2(0xD9)
    val p = JpegCodec.decodePixels(out.toByteArray)
      .getOrElse(fail("hand-built JPEG failed to decode"))
    assert((p.width, p.height, p.channels) === (8, 8, 1))
    // expected: f(x,y) = 1/4 * C(1)C(0) * 16 * cos((2x+1)pi/16), + 128
    for (y <- 0 until 8; x <- 0 until 8) {
      val c0 = 1.0 / math.sqrt(2.0)
      val f = 0.25 * c0 * 16.0 * math.cos((2 * x + 1) * math.Pi / 16.0)
      val expect = math.max(0, math.min(255, math.round(f + 128.0).toInt))
      assert((p.data(y * 8 + x) & 0xFF) === expect, s"($x,$y)")
    }
  }

  test("progressive JPEG decode: lossless on multi-scan fixtures") {
    for ((ch, w, h, seed) <- Seq((1, 16, 8, 5L), (3, 24, 16, 42L), (3, 8, 8, 0L))) {
      val jpg = JpegCodec.jpegPixelBytesProg(w, h, ch, seed)
      val meta = ImageCodec.decode(jpg).getOrElse(fail("header decode failed"))
      assert((meta.format, meta.width, meta.height) === ("jpeg", w, h))
      val p = JpegCodec.decodePixels(jpg).getOrElse(fail(s"decode failed $ch"))
      assert((p.width, p.height, p.channels) === (w, h, ch))
      val blocksX = w / 8
      for (y <- 0 until h; x <- 0 until w; c <- 0 until ch) {
        val v = ((((y / 8) * blocksX + (x / 8)) * 31L + seed) & 0xFF).toInt
        assert((p.data((y * w + x) * ch + c) & 0xFF) === v,
          s"pixel ($x,$y,$c) ch=$ch seed=$seed")
      }
    }
    // truncation still rejects (EOI never reached -> no finalize)
    val good = JpegCodec.jpegPixelBytesProg(16, 8, 3, 7L)
    assert(JpegCodec.decodePixels(good.take(good.length - 3)).isEmpty)
  }

  test("progressive JPEG: AC first + refinement scans match the baseline decode") {
    // DIFFERENTIAL oracle: one 8x8 grayscale block with quantized
    // coefficients DC=-3, zigzag1=+5, zigzag5=-2, encoded once as a
    // baseline stream and once as four progressive scans (DC first at
    // Al=1, DC refine, AC first at Al=1, AC refine with buffered
    // correction bits after an EOB run). Both must decode to EXACTLY
    // the same pixels — pinning the successive-approximation
    // accumulation (magnitude-shift AC convention, two's-complement
    // DC convention) against the plain path, IDCT included.
    final class BW {
      val bb = new java.io.ByteArrayOutputStream()
      private var acc = 0L; private var n = 0
      def put(v: Int, nb: Int): Unit = {
        var i = nb - 1
        while (i >= 0) {
          acc = (acc << 1) | ((v >> i) & 1); n += 1
          if (n == 8) {
            val b = (acc & 0xFF).toInt
            bb.write(b); if (b == 0xFF) bb.write(0x00)
            acc = 0; n = 0
          }
          i -= 1
        }
      }
      def flush(): Array[Byte] = {
        if (n > 0) {
          val b = (((acc << (8 - n)) | ((1 << (8 - n)) - 1)) & 0xFF).toInt
          bb.write(b); if (b == 0xFF) bb.write(0x00)
          acc = 0; n = 0
        }
        bb.toByteArray
      }
    }
    // shared AC table: symbols [EOB, 0x02, 0x03, 0x31, 0x32] at 4-bit
    // canonical codes 0..4
    def header(sofMarker: Int): java.io.ByteArrayOutputStream = {
      val out = new java.io.ByteArrayOutputStream()
      def m2(mk: Int): Unit = { out.write(0xFF); out.write(mk) }
      def be16(v: Int): Unit = { out.write((v >> 8) & 0xFF); out.write(v & 0xFF) }
      m2(0xD8)
      m2(0xDB); be16(67); out.write(0)
      (0 until 64).foreach(_ => out.write(16))
      m2(sofMarker); be16(11); out.write(8); be16(8); be16(8); out.write(1)
      out.write(1); out.write(0x11); out.write(0)
      m2(0xC4); be16(2 + 17 + 12 + 17 + 5)
      out.write(0x00)
      val dcCounts = new Array[Int](16); dcCounts(3) = 12
      dcCounts.foreach(out.write); (0 to 11).foreach(out.write)
      out.write(0x10)
      val acCounts = new Array[Int](16); acCounts(3) = 5
      acCounts.foreach(out.write)
      Seq(0x00, 0x02, 0x03, 0x31, 0x32).foreach(out.write)
      out
    }
    def sos(out: java.io.ByteArrayOutputStream, ss: Int, se: Int,
        ahAl: Int): Unit = {
      out.write(0xFF); out.write(0xDA)
      out.write(0); out.write(8); out.write(1); out.write(1); out.write(0x00)
      out.write(ss); out.write(se); out.write(ahAl)
    }
    // --- baseline: DC cat2 "-3", (0,3)+5, (3,2)-2, EOB ---
    val base = header(0xC0)
    sos(base, 0, 63, 0)
    val bw = new BW
    bw.put(2, 4); bw.put(0, 2)      // DC diff -3: cat 2, bits 00
    bw.put(2, 4); bw.put(5, 3)      // AC symbol 0x03 (code 2), +5
    bw.put(4, 4); bw.put(1, 2)      // AC symbol 0x32 (code 4), -2 -> 01
    bw.put(0, 4)                    // EOB (code 0)
    val bb = bw.flush(); base.write(bb, 0, bb.length)
    base.write(0xFF); base.write(0xD9)
    val pBase = JpegCodec.decodePixels(base.toByteArray)
      .getOrElse(fail("baseline stream failed to decode"))
    // --- progressive: 4 scans ---
    val prog = header(0xC2)
    sos(prog, 0, 0, 0x01)           // DC first, Al=1: -3>>1 = -2
    val s1 = new BW; s1.put(2, 4); s1.put(1, 2) // cat 2, bits 01 = -2
    val b1 = s1.flush(); prog.write(b1, 0, b1.length)
    sos(prog, 0, 0, 0x10)           // DC refine, Ah=1: low bit of -3
    val s2 = new BW; s2.put(1, 1)
    val b2 = s2.flush(); prog.write(b2, 0, b2.length)
    sos(prog, 1, 63, 0x01)          // AC first, Al=1: |5|>>1=2, -(|−2|>>1)=-1
    val s3 = new BW
    s3.put(1, 4); s3.put(2, 2)      // symbol 0x02 (code 1), +2
    s3.put(3, 4); s3.put(0, 1)      // symbol 0x31 (code 3), -1 -> 0
    s3.put(0, 4)                    // EOB0
    val b3 = s3.flush(); prog.write(b3, 0, b3.length)
    sos(prog, 1, 63, 0x10)          // AC refine, Ah=1 Al=0
    val s4 = new BW
    s4.put(0, 4)                    // EOB0 (run covers this block)
    s4.put(1, 1)                    // correction bit for zigzag1: 5 has low bit 1
    s4.put(0, 1)                    // correction bit for zigzag5: |-2| low bit 0
    val b4 = s4.flush(); prog.write(b4, 0, b4.length)
    prog.write(0xFF); prog.write(0xD9)
    val pProg = JpegCodec.decodePixels(prog.toByteArray)
      .getOrElse(fail("progressive stream failed to decode"))
    assert((pProg.width, pProg.height, pProg.channels) === (8, 8, 1))
    assert(pProg.data.toSeq === pBase.data.toSeq,
      "progressive and baseline decodes diverge")
    // the ACs must actually land: a DC-only block would be constant
    assert(pProg.data.distinct.length > 1, "AC coefficients lost")
  }

  test("JPEG decode: decoded pixels pinned by MD5 across every decode path") {
    import MultimodalSpec.JpegStream
    def md5(p: ImageCodec.Pixels): String =
      s"${p.width}x${p.height}x${p.channels} " + java.security.MessageDigest
        .getInstance("MD5").digest(p.data).map("%02x".format(_)).mkString
    // the :390 stream: one 8x8 gray block, DC 0, +1 at zigzag 1
    val acBlock = {
      val s = new JpegStream
      s.header(0xC0, 8, 8, Seq(0x11), 16, Seq(0x00, 0x01), acBits = 2)
      s.sos(Seq(1), 0, 63, 0)
      s.put(0, 4); s.put(1, 2); s.put(1, 1); s.put(0, 2)
      s.eoi()
    }
    // the :448 pair: quantized DC -3, zigzag1 +5, zigzag5 -2, once
    // baseline and once as four progressive scans
    val acSyms = Seq(0x00, 0x02, 0x03, 0x31, 0x32)
    val pairBase = {
      val s = new JpegStream
      s.header(0xC0, 8, 8, Seq(0x11), 16, acSyms, acBits = 4)
      s.sos(Seq(1), 0, 63, 0)
      s.put(2, 4); s.put(0, 2); s.put(2, 4); s.put(5, 3)
      s.put(4, 4); s.put(1, 2); s.put(0, 4)
      s.eoi()
    }
    val pairProg = {
      val s = new JpegStream
      s.header(0xC2, 8, 8, Seq(0x11), 16, acSyms, acBits = 4)
      s.sos(Seq(1), 0, 0, 0x01); s.put(2, 4); s.put(1, 2)
      s.sos(Seq(1), 0, 0, 0x10); s.put(1, 1)
      s.sos(Seq(1), 1, 63, 0x01)
      s.put(1, 4); s.put(2, 2); s.put(3, 4); s.put(0, 1); s.put(0, 4)
      s.sos(Seq(1), 1, 63, 0x10); s.put(0, 4); s.put(1, 1); s.put(0, 1)
      s.eoi()
    }
    // baseline YCbCr 4:4:4, 12x16: a restart marker after every MCU
    // (DRI 1), a partial right-hand block column, chroma far from
    // neutral so the colour transform clips, and AC terms in every block
    val restartColour = {
      val s = new JpegStream
      // AC symbols 0x00 (EOB), 0x02, 0x12 at 4-bit codes 0, 1, 2
      s.header(0xC0, 12, 16, Seq(0x11, 0x11, 0x11), 8, Seq(0x00, 0x02, 0x12),
        acBits = 4, restartInterval = 1)
      s.sos(Seq(1, 2, 3), 0, 63, 0)
      for (m <- 0 until 4) {
        if (m > 0) s.restart(m - 1)
        for ((dc, ac) <- Seq((-100 + 70 * m, 3), (-20 + 10 * m, -2),
            (30 - 15 * m, 2))) {
          s.dc(dc)
          if (ac == 3) { s.put(1, 4); s.put(3, 2) } // (0, 2) +3
          else { s.put(2, 4); s.put(if (ac < 0) ac + 3 else ac, 2) } // (1, 2)
          s.put(0, 4) // EOB
        }
      }
      s.eoi()
    }
    val got = Seq(
      "baseline 16x8x1 seed 5" -> JpegCodec.jpegPixelBytes(16, 8, 1, 5L),
      "baseline 40x24x1 seed 91" -> JpegCodec.jpegPixelBytes(40, 24, 1, 91L),
      "baseline 24x16x3 seed 42" -> JpegCodec.jpegPixelBytes(24, 16, 3, 42L),
      "baseline 64x40x3 seed 200" -> JpegCodec.jpegPixelBytes(64, 40, 3, 200L),
      "420 32x16 seed 3" -> JpegCodec.jpegPixelBytes420(32, 16, 3L),
      "420 64x48 seed 77" -> JpegCodec.jpegPixelBytes420(64, 48, 77L),
      "prog 16x8x1 seed 5" -> JpegCodec.jpegPixelBytesProg(16, 8, 1, 5L),
      "prog 48x32x1 seed 13" -> JpegCodec.jpegPixelBytesProg(48, 32, 1, 13L),
      "prog 24x16x3 seed 42" -> JpegCodec.jpegPixelBytesProg(24, 16, 3, 42L),
      "prog 56x40x3 seed 250" -> JpegCodec.jpegPixelBytesProg(56, 40, 3, 250L),
      "hand-built AC block" -> acBlock,
      "hand-built pair, baseline" -> pairBase,
      "hand-built pair, progressive" -> pairProg,
      "restart + edge + colour" -> restartColour)
      .map { case (k, b) =>
        k -> JpegCodec.decodePixels(b).map(md5).getOrElse("None")
      }
    // the colour stream reaches both clamps and is not gray
    val rgb = JpegCodec.decodePixels(restartColour).get.data.map(_ & 0xFF)
    assert(rgb.contains(0) && rgb.contains(255))
    assert(rgb.grouped(3).exists(px => px.distinct.length > 1))
    assert(got == Seq(
      "baseline 16x8x1 seed 5" ->
        "16x8x1 3cb6bbbe905fcab8ad8874897e64e4b8",
      "baseline 40x24x1 seed 91" ->
        "40x24x1 6bdd69a5e452bd06e6d59043d650beb6",
      "baseline 24x16x3 seed 42" ->
        "24x16x3 a592af1edb69022e08866db24fb7d386",
      "baseline 64x40x3 seed 200" ->
        "64x40x3 9766cc06f505c97dd19d2d0367272b09",
      "420 32x16 seed 3" ->
        "32x16x3 1166b50fb7666cf50df6c563c831afa5",
      "420 64x48 seed 77" ->
        "64x48x3 0688c15764b01c2a39aa0947842f7deb",
      "prog 16x8x1 seed 5" ->
        "16x8x1 3cb6bbbe905fcab8ad8874897e64e4b8",
      "prog 48x32x1 seed 13" ->
        "48x32x1 e8bc8b4e153c437c9fb1f15679c1f5bc",
      "prog 24x16x3 seed 42" ->
        "24x16x3 a592af1edb69022e08866db24fb7d386",
      "prog 56x40x3 seed 250" ->
        "56x40x3 57bcc4a2b57834f37971958fd9b7a3b2",
      "hand-built AC block" ->
        "8x8x1 269be8c78397513b5fed14b39d4565b1",
      "hand-built pair, baseline" ->
        "8x8x1 9d6bb335a4896d6312effd280214d6b8",
      "hand-built pair, progressive" ->
        "8x8x1 9d6bb335a4896d6312effd280214d6b8",
      "restart + edge + colour" ->
        "12x16x3 a70074916b041477c4d2292fbed7e72f"))
  }

  test("codec fuzz: random and mutated payloads never throw or hang") {
    val rnd = new scala.util.Random(20260813L)
    // pure-random buffers of varied sizes
    for (_ <- 1 to 300) {
      val b = new Array[Byte](rnd.nextInt(200))
      rnd.nextBytes(b)
      ImageCodec.decodePixels(b)
      ImageCodec.decode(b)
      AudioCodec.decodeSamples(b)
      AudioCodec.decodeFlacSamples(b)
      AudioCodec.decode(b)
    }
    // valid payloads with random single-byte mutations: exercises the
    // deep parser paths (chunk walk, LZW, inflate, sample copy) with
    // almost-valid input, where off-by-one crashes live
    val seeds = Seq(
      ImageCodec.pngPixelBytes(9, 7, 2, 3L),
      ImageCodec.gifPixelBytes(9, 7, 3L),
      JpegCodec.jpegPixelBytes(16, 8, 3, 3L),
      JpegCodec.jpegPixelBytes420(32, 16, 3L),
      JpegCodec.jpegPixelBytesProg(16, 8, 3, 3L),
      AudioCodec.wavPcmBytes(8000, 2, 40, 3L),
      AudioCodec.flacPcmBytes(8000, 2, 100, 64, 3L),
      AudioCodec.mp3Bytes(0, 9, 0, 6, 3L),
      AudioCodec.adtsBytes(4, 2, 6, 3L),
      VideoCodec.mp4Bytes(64, 48, 1000, 40, 6, 3L))
    for (base <- seeds; _ <- 1 to 200) {
      val b = base.clone()
      val i = rnd.nextInt(b.length)
      b(i) = (b(i) ^ (1 << rnd.nextInt(8))).toByte
      ImageCodec.decodePixels(b) // must return, not throw/hang
      AudioCodec.decodeSamples(b)
      AudioCodec.decodeFlacSamples(b)
      AudioCodec.decode(b)
      VideoCodec.decode(b)
    }
  }

  test("GIF LZW decoder handles the KwKwK case and rejects malformed streams") {
    // hand-built stream, minCodeSize=2: CLEAR(4), 1, 6(=next: KwKwK ->
    // expands to prev+first(prev) = [1,1]), EOI(5) -> pixels [1,1,1]
    def packLsb(codes: Seq[Int], codeSize: Int): Array[Byte] = {
      var acc = 0L; var n = 0
      val out = new java.io.ByteArrayOutputStream()
      codes.foreach { c =>
        acc |= (c.toLong & ((1L << codeSize) - 1)) << n
        n += codeSize
        while (n >= 8) { out.write((acc & 0xFF).toInt); acc >>= 8; n -= 8 }
      }
      if (n > 0) out.write((acc & 0xFF).toInt)
      out.toByteArray
    }
    val lzw = packLsb(Seq(4, 1, 6, 5), 3)
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"), 0, 6)
    out.write(3); out.write(0) // width 3
    out.write(1); out.write(0) // height 1
    out.write(0x80) // GCT present, 2 entries... (size bits 0 -> 2 entries)
    out.write(0); out.write(0)
    // 2-entry GCT is too small for index 1? entries = 2 << 0 = 2 -> indices 0,1 ok
    out.write(0); out.write(0); out.write(0)       // palette[0] = black
    out.write(9); out.write(9); out.write(9)       // palette[1] = 9,9,9
    out.write(0x2C)
    (0 until 4).foreach(_ => { out.write(0) }); out.write(3); out.write(0)
    out.write(1); out.write(0); out.write(0) // 3x1, no LCT
    out.write(2) // LZW min code size
    out.write(lzw.length); out.write(lzw, 0, lzw.length); out.write(0)
    out.write(0x3B)
    val p = ImageCodec.decodePixelsGif(out.toByteArray)
      .getOrElse(fail("KwKwK stream failed to decode"))
    assert(p.data.toSeq === Seq[Byte](9, 9, 9, 9, 9, 9, 9, 9, 9))
    // malformed: truncated LZW data must be None, not a hang/throw
    assert(ImageCodec.decodePixelsGif(out.toByteArray.dropRight(6)).isEmpty)
    // index out of palette range -> None (stream of index 2 against a
    // 2-entry palette)
    val lzwBad = packLsb(Seq(4, 2, 2, 2, 5), 3)
    val bad = new java.io.ByteArrayOutputStream()
    bad.write(out.toByteArray, 0, 6 + 7 + 6) // header + LSD + GCT
    bad.write(0x2C)
    (0 until 4).foreach(_ => bad.write(0)); bad.write(3); bad.write(0)
    bad.write(1); bad.write(0); bad.write(0)
    bad.write(2)
    bad.write(lzwBad.length); bad.write(lzwBad, 0, lzwBad.length); bad.write(0)
    bad.write(0x3B)
    assert(ImageCodec.decodePixelsGif(bad.toByteArray).isEmpty)
  }
}

object MultimodalSpec {

  /** A hand-built JPEG stream, written independently of the codec's
    * fixture encoders: one quant table (DC `dcQuant`, AC 16), DC table 0
    * = categories 0..11 as 4-bit codes, AC table 0 = `acSymbols` at
    * `acBits` bits in canonical order; entropy bits MSB first with 0xFF
    * stuffing, each scan padded with 1s. */
  final class JpegStream {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var n = 0

    private def m2(mk: Int): Unit = { flush(); out.write(0xFF); out.write(mk) }
    private def be16(v: Int): Unit = { out.write((v >> 8) & 0xFF); out.write(v & 0xFF) }

    private def flush(): Unit = if (n > 0) {
      val b = ((acc << (8 - n)) | ((1 << (8 - n)) - 1)) & 0xFF
      out.write(b); if (b == 0xFF) out.write(0x00)
      acc = 0; n = 0
    }

    def put(v: Int, nb: Int): Unit = {
      var i = nb - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1); n += 1
        if (n == 8) {
          out.write(acc); if (acc == 0xFF) out.write(0x00)
          acc = 0; n = 0
        }
        i -= 1
      }
    }

    /** A DC difference: its category's 4-bit code, then its bits. */
    def dc(diff: Int): Unit = {
      var a = math.abs(diff); var s = 0
      while (a > 0) { a >>= 1; s += 1 }
      put(s, 4)
      if (s > 0) put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
    }

    def header(sof: Int, width: Int, height: Int, sampling: Seq[Int],
        dcQuant: Int, acSymbols: Seq[Int], acBits: Int,
        restartInterval: Int = 0): Unit = {
      m2(0xD8)
      m2(0xDB); be16(67); out.write(0)
      out.write(dcQuant); (1 until 64).foreach(_ => out.write(16))
      m2(sof); be16(8 + 3 * sampling.length); out.write(8)
      be16(height); be16(width); out.write(sampling.length)
      sampling.zipWithIndex.foreach { case (s, c) =>
        out.write(c + 1); out.write(s); out.write(0)
      }
      m2(0xC4); be16(2 + 17 + 12 + 17 + acSymbols.length)
      out.write(0x00)
      (1 to 16).foreach(l => out.write(if (l == 4) 12 else 0))
      (0 to 11).foreach(out.write)
      out.write(0x10)
      (1 to 16).foreach(l => out.write(if (l == acBits) acSymbols.length else 0))
      acSymbols.foreach(out.write)
      if (restartInterval > 0) { m2(0xDD); be16(4); be16(restartInterval) }
    }

    def sos(ids: Seq[Int], ss: Int, se: Int, ahAl: Int): Unit = {
      m2(0xDA); be16(6 + 2 * ids.length); out.write(ids.length)
      ids.foreach { id => out.write(id); out.write(0x00) }
      out.write(ss); out.write(se); out.write(ahAl)
    }

    def restart(k: Int): Unit = m2(0xD0 + (k & 7))

    def eoi(): Array[Byte] = { m2(0xD9); out.toByteArray }
  }
}
