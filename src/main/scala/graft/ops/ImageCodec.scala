package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GeoExpr

/** Pure-JVM image codec: header metadata for the published container
  * formats (PNG IHDR — RFC 2083 §4.1.1; JPEG SOFn segments — ITU-T
  * T.81 §B.2.2; GIF logical screen descriptor — GIF89a spec §18), plus
  * FULL pixel decode for all three: PNG ([[decodePixelsPng]]: IDAT
  * inflate via the JDK's zlib + all five scanline filter inversions,
  * RFC 2083 §6), GIF ([[decodePixelsGif]]: from-scratch LZW per GIF89a
  * appendix F + palette resolution, animated frames included), and
  * JPEG ([[JpegCodec.decodePixels]]: from-scratch Huffman +
  * differential DC + dequant + IDCT + YCbCr transform per T.81;
  * baseline with arbitrary sampling factors AND progressive multi-scan
  * streams — only arithmetic-coded yields None). No external image
  * library anywhere. Corrupt or foreign
  * payloads yield SQL NULL instead of fabricated values.
  *
  * The matching minimal encoders exist so fixtures can generate valid
  * headers with known dimensions (CRC-correct PNG chunks, well-formed
  * JPEG segment chains) and oracles can predict the decoded values by
  * arithmetic.
  */
object ImageCodec {

  final case class Meta(format: String, width: Int, height: Int, channels: Int)

  private val PngSig = Array[Int](0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    .map(_.toByte)

  // ------------------------------------------------------------ decode

  def decode(b: Array[Byte]): Option[Meta] =
    decodePng(b).orElse(decodeJpeg(b)).orElse(decodeGif(b))

  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
      ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)

  private def be16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) << 8) | (b(off + 1) & 0xFF)

  /** PNG: 8-byte signature, then the IHDR chunk MUST come first
    * (RFC 2083 §4.1.1): length(4) "IHDR" width(4) height(4)
    * bitdepth(1) colortype(1) ... */
  private def decodePng(b: Array[Byte]): Option[Meta] = {
    if (b.length < 33 || !b.take(8).sameElements(PngSig)) return None
    val chunkType = new String(b, 12, 4, "US-ASCII")
    if (chunkType != "IHDR" || be32(b, 8) != 13) return None
    val colorType = b(25) & 0xFF
    val channels = colorType match {
      case 0 => 1 // grayscale
      case 2 => 3 // truecolor
      case 3 => 1 // palette index
      case 4 => 2 // gray + alpha
      case 6 => 4 // truecolor + alpha
      case _ => return None
    }
    Some(Meta("png", be32(b, 16), be32(b, 20), channels))
  }

  /** JPEG: SOI marker then a segment chain; dimensions live in the
    * first SOFn (start-of-frame) segment: FF C0..CF (minus C4/C8/CC)
    * [len 2][precision 1][height 2][width 2][components 1]. */
  private def decodeJpeg(b: Array[Byte]): Option[Meta] = {
    if (b.length < 4 || (b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8)
      return None
    var i = 2
    while (i + 4 <= b.length) {
      if ((b(i) & 0xFF) != 0xFF) return None // desynced segment chain
      if ((b(i + 1) & 0xFF) == 0xFF) {
        // fill bytes: any number of 0xFF may pad before a marker
        // (ITU-T T.81 §B.1.1.2) — skip, don't parse one as a marker
        i += 1
      } else {
        val marker = b(i + 1) & 0xFF
        if (marker == 0xD9 || marker == 0xDA) return None // EOI / scan data
        val len = be16(b, i + 2)
        if (len < 2 || i + 2 + len > b.length) return None
        val isSof = marker >= 0xC0 && marker <= 0xCF &&
          marker != 0xC4 && marker != 0xC8 && marker != 0xCC
        if (isSof) {
          if (len < 8) return None
          return Some(Meta("jpeg", be16(b, i + 7), be16(b, i + 5), b(i + 9) & 0xFF))
        }
        i += 2 + len
      }
    }
    None
  }

  /** GIF87a/89a: 6-byte signature then width/height little-endian.
    * Pixels are palette-indexed; report the 3 RGB channels the palette
    * resolves to. */
  private def decodeGif(b: Array[Byte]): Option[Meta] = {
    if (b.length < 10) return None
    val sig = new String(b, 0, 6, "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") return None
    Some(Meta("gif",
      (b(6) & 0xFF) | ((b(7) & 0xFF) << 8),
      (b(8) & 0xFF) | ((b(9) & 0xFF) << 8), 3))
  }

  // ------------------------------------------------------ pixel decode

  /** Fully decoded 8-bit pixel data: `data` is the raw unfiltered
    * scanline bytes, row-major, `channels` interleaved per pixel. */
  final case class Pixels(width: Int, height: Int, channels: Int,
      data: Array[Byte])

  private def pngChannels(colorType: Int): Int = colorType match {
    case 0 => 1 // grayscale
    case 2 => 3 // truecolor
    case 4 => 2 // gray + alpha
    case 6 => 4 // truecolor + alpha
    case _ => -1 // palette (3) would need PLTE resolution — not supported
  }

  /** Pixel decode for any supported container: PNG, GIF, then baseline
    * JPEG ([[JpegCodec.decodePixels]]). */
  def decodePixels(b: Array[Byte]): Option[Pixels] =
    decodePixelsPng(b).orElse(decodePixelsGif(b))
      .orElse(JpegCodec.decodePixels(b))

  /** REAL PNG pixel decode (RFC 2083 §5-§6): chunk walk -> IDAT concat
    * -> zlib inflate ([[java.util.zip.Inflater]] is the same DEFLATE
    * the spec mandates) -> per-scanline filter inversion (§6.3-6.6:
    * None/Sub/Up/Average/Paeth). Supports the non-palette 8-bit color
    * types, no interlace; anything else (and any malformed/truncated
    * stream) yields None, never a throw. A 64 MiB decoded-size cap
    * keeps crafted headers from allocating unbounded buffers. */
  def decodePixelsPng(b: Array[Byte]): Option[Pixels] = {
    if (b.length < 33 || !b.take(8).sameElements(PngSig)) return None
    var pos = 8
    var w = -1; var h = -1; var bitDepth = -1; var colorType = -1
    var interlace = -1
    val idat = new java.io.ByteArrayOutputStream()
    var sawEnd = false
    while (!sawEnd && pos + 8 <= b.length) {
      val len = be32(b, pos)
      if (len < 0 || pos + 12L + len > b.length) return None
      new String(b, pos + 4, 4, "US-ASCII") match {
        case "IHDR" =>
          if (len != 13) return None
          w = be32(b, pos + 8); h = be32(b, pos + 12)
          bitDepth = b(pos + 16) & 0xFF
          colorType = b(pos + 17) & 0xFF
          interlace = b(pos + 20) & 0xFF
        case "IDAT" => idat.write(b, pos + 8, len)
        case "IEND" => sawEnd = true
        case _ => ()
      }
      pos += 12 + len
    }
    val ch = pngChannels(colorType)
    if (w <= 0 || h <= 0 || bitDepth != 8 || interlace != 0 || ch < 0 ||
      idat.size == 0) return None
    val stride = w.toLong * ch
    val total = (stride + 1) * h
    if (total > (64L << 20)) return None
    val raw = new Array[Byte](total.toInt)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        // all input was provided up front, so a zero-byte step that
        // didn't finish can never progress — truncated stream, or a
        // zlib header demanding a preset dictionary (FDICT): both are
        // malformed here, and only returning on needsInput() would
        // spin forever on the dictionary case
        if (n == 0) return None
        off += n
      }
      if (off != raw.length) return None
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    val st = stride.toInt
    val out = new Array[Byte](st * h)
    var y = 0
    while (y < h) {
      val f = raw(y * (st + 1)) & 0xFF
      val rowIn = y * (st + 1) + 1
      val rowOut = y * st
      var i = 0
      while (i < st) {
        val x = raw(rowIn + i) & 0xFF
        val left = if (i >= ch) out(rowOut + i - ch) & 0xFF else 0
        val up = if (y > 0) out(rowOut - st + i) & 0xFF else 0
        val ul = if (y > 0 && i >= ch) out(rowOut - st + i - ch) & 0xFF else 0
        val rec = f match {
          case 0 => x
          case 1 => x + left
          case 2 => x + up
          case 3 => x + ((left + up) >> 1)
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            x + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
          case _ => return None
        }
        out(rowOut + i) = rec.toByte
        i += 1
      }
      y += 1
    }
    Some(Pixels(w, h, ch, out))
  }

  // ------------------------------------------------- GIF pixel decode

  /** GIF LZW decompression (GIF89a spec appendix F): variable-width
    * codes 3-12 bits packed LSB-first, clear/end-of-information codes,
    * dictionary rebuilt from (prefix, suffix) chains, including the
    * KwKwK case (code == next). Returns None on any malformed stream;
    * output is capped at `maxBytes` so a crafted stream cannot
    * allocate unboundedly. */
  private def lzwDecode(minCodeSize: Int, data: Array[Byte],
      maxBytes: Int): Option[Array[Byte]] = {
    if (minCodeSize < 2 || minCodeSize > 8) return None
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    var codeSize = minCodeSize + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4096)
    var next = eoi + 1
    val out = new java.io.ByteArrayOutputStream()
    var bitPos = 0
    val totalBits = data.length * 8
    def readCode(): Int = {
      if (bitPos + codeSize > totalBits) return -1
      var v = 0
      var i = 0
      while (i < codeSize) {
        val p = bitPos + i
        if (((data(p >> 3) >> (p & 7)) & 1) != 0) v |= 1 << i
        i += 1
      }
      bitPos += codeSize
      v
    }
    def firstByte(code0: Int): Byte = {
      var c = code0
      while (c >= clear) c = prefix(c)
      c.toByte
    }
    def writeExpansion(code0: Int): Boolean = {
      var c = code0
      var sp = 0
      while (c >= clear) {
        if (sp >= stack.length) return false
        stack(sp) = suffix(c); sp += 1
        c = prefix(c)
      }
      if (out.size + sp + 1 > maxBytes) return false
      out.write(c)
      while (sp > 0) { sp -= 1; out.write(stack(sp)) }
      true
    }
    var prev = -1
    var guard = 0
    while (guard < (1 << 26)) { // hard stop: no valid frame has 64M codes
      guard += 1
      val code = readCode()
      if (code < 0) return None // ran out of bits before EOI
      if (code == clear) {
        codeSize = minCodeSize + 1
        next = eoi + 1
        prev = -1
      } else if (code == eoi) {
        return Some(out.toByteArray)
      } else if (prev == -1) {
        if (code >= clear) return None // first code must be a literal
        if (out.size + 1 > maxBytes) return None
        out.write(code)
        prev = code
      } else {
        if (code > next || code == clear || code == eoi) return None
        val kwkwk = code == next
        if (kwkwk) {
          // code not yet in the dictionary: expansion = prev + first(prev)
          if (next >= 4096) return None
          prefix(next) = prev; suffix(next) = firstByte(prev); next += 1
          if (!writeExpansion(code)) return None
        } else {
          if (!writeExpansion(code)) return None
          if (next < 4096) {
            prefix(next) = prev; suffix(next) = firstByte(code); next += 1
          }
        }
        if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        prev = code
      }
    }
    None
  }

  /** REAL GIF pixel decode (GIF89a spec §18-§22 + appendix F): first
    * frame of [[decodeGifFrames]]. */
  def decodePixelsGif(b: Array[Byte]): Option[Pixels] =
    decodeGifFrames(b, maxFrames = 1).flatMap(_.headOption)

  /** ALL frames of a (possibly animated) GIF: logical screen
    * descriptor, global/local color tables, one decoded [[Pixels]] per
    * image descriptor — LZW-decompressed indices resolved through the
    * active palette to interleaved RGB. Non-interlaced full-frame
    * images only (the fixture shape; animated fixtures emit one
    * full-frame image per frame, no disposal compositing); anything
    * else — and any malformed stream — yields None, never a throw.
    * Total decoded bytes across frames are capped at 64 MiB. */
  def decodeGifFrames(b: Array[Byte],
      maxFrames: Int = 4096): Option[Vector[Pixels]] = {
    if (b.length < 14) return None
    val sig = new String(b, 0, 6, "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") return None
    val w = (b(6) & 0xFF) | ((b(7) & 0xFF) << 8)
    val h = (b(8) & 0xFF) | ((b(9) & 0xFF) << 8)
    if (w <= 0 || h <= 0 || w.toLong * h * 3 > (64L << 20)) return None
    val packed = b(10) & 0xFF
    var pos = 13
    var palette: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val entries = 2 << (packed & 7)
      if (pos + 3 * entries > b.length) return None
      palette = java.util.Arrays.copyOfRange(b, pos, pos + 3 * entries)
      pos += 3 * entries
    }
    val frames = Vector.newBuilder[Pixels]
    var nFrames = 0
    var decodedBytes = 0L
    while (pos < b.length) {
      (b(pos) & 0xFF) match {
        case 0x21 => // extension: label + length-prefixed sub-blocks
          pos += 2
          var done = false
          while (!done) {
            if (pos >= b.length) return None
            val len = b(pos) & 0xFF
            pos += 1 + len
            if (len == 0) done = true
          }
        case 0x2C => // image descriptor
          // enough frames decoded: stop walking entirely — later frames
          // may legitimately be partial/offset (disposal-optimized
          // animation) and must not invalidate the frames already held
          if (nFrames >= maxFrames) {
            val fs = frames.result()
            return if (fs.isEmpty) None else Some(fs)
          }
          if (pos + 10 > b.length) return None
          val left = (b(pos + 1) & 0xFF) | ((b(pos + 2) & 0xFF) << 8)
          val top = (b(pos + 3) & 0xFF) | ((b(pos + 4) & 0xFF) << 8)
          val fw = (b(pos + 5) & 0xFF) | ((b(pos + 6) & 0xFF) << 8)
          val fh = (b(pos + 7) & 0xFF) | ((b(pos + 8) & 0xFF) << 8)
          val ipacked = b(pos + 9) & 0xFF
          pos += 10
          if ((ipacked & 0x40) != 0) return None // interlaced: unsupported
          if (left != 0 || top != 0 || fw != w || fh != h) return None
          var framePalette = palette
          if ((ipacked & 0x80) != 0) { // local color table wins
            val entries = 2 << (ipacked & 7)
            if (pos + 3 * entries > b.length) return None
            framePalette = java.util.Arrays.copyOfRange(b, pos, pos + 3 * entries)
            pos += 3 * entries
          }
          if (framePalette == null || pos >= b.length) return None
          val minCodeSize = b(pos) & 0xFF
          pos += 1
          val lzw = new java.io.ByteArrayOutputStream()
          var done = false
          while (!done) {
            if (pos >= b.length) return None
            val len = b(pos) & 0xFF
            if (pos + 1 + len > b.length) return None
            lzw.write(b, pos + 1, len)
            pos += 1 + len
            if (len == 0) done = true
          }
          if (nFrames < maxFrames) {
            val nPix = w * h
            decodedBytes += nPix.toLong * 3
            if (decodedBytes > (64L << 20)) return None
            val indices = lzwDecode(minCodeSize, lzw.toByteArray, nPix) match {
              case Some(ix) if ix.length == nPix => ix
              case _ => return None
            }
            val maxIndex = framePalette.length / 3
            val rgb = new Array[Byte](nPix * 3)
            var i = 0
            while (i < nPix) {
              val ix = indices(i) & 0xFF
              if (ix >= maxIndex) return None
              rgb(i * 3) = framePalette(ix * 3)
              rgb(i * 3 + 1) = framePalette(ix * 3 + 1)
              rgb(i * 3 + 2) = framePalette(ix * 3 + 2)
              i += 1
            }
            frames += Pixels(w, h, 3, rgb)
            nFrames += 1
          }
        case 0x3B => // trailer
          val fs = frames.result()
          return if (fs.isEmpty) None else Some(fs)
        case _ => return None
      }
    }
    // missing trailer: accept the frames decoded so far (lenient, like
    // the header decoder), reject if none
    val fs = frames.result()
    if (fs.isEmpty) None else Some(fs)
  }

  /** COMPLETE valid GIF89a with real LZW-compressed pixel data: a
    * 256-entry grayscale identity palette (entry i = (i,i,i)) and
    * color index `(p * 31 + seed) mod 256` at pixel p — so the decoded
    * RGB stream is the same closed-form pattern as the PNG fixture,
    * each value tripled. Indices are emitted as 9-bit literal codes
    * with a CLEAR every 250 symbols, which keeps the code width fixed
    * while exercising the decoder's dictionary-reset path. */
  def gifPixelBytes(width: Int, height: Int, seed: Long): Array[Byte] =
    gifAnimBytes(width, height, nFrames = 1, seed)

  /** Animated variant: `nFrames` full-frame images (frame f's color
    * index at pixel p is `(p*31 + seed + f*97) mod 256`), shared
    * grayscale GCT — REAL frame extraction becomes testable without a
    * video container, since each image descriptor is an independently
    * LZW-coded frame. */
  def gifAnimBytes(width: Int, height: Int, nFrames: Int,
      seed: Long): Array[Byte] = {
    require(width > 0 && height > 0 && nFrames > 0 &&
      width.toLong * height * 3 * nFrames <= (64L << 20),
      s"pixel fixture ${width}x$height x$nFrames exceeds the 64 MiB cap")
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"), 0, 6)
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    le16(width); le16(height)
    out.write(0xF7) // GCT present, 256 entries
    out.write(0)    // background color
    out.write(0)    // aspect
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
    var f = 0
    while (f < nFrames) {
      out.write(0x2C) // image descriptor
      le16(0); le16(0); le16(width); le16(height)
      out.write(0) // no LCT, not interlaced
      out.write(8) // LZW min code size
      writeGifLzwLiterals(out, width * height, p => ((p * 31L + seed + f * 97L) & 0xFF).toInt)
      f += 1
    }
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** One frame's LZW data as 9-bit literal codes with a CLEAR every
    * 250 symbols (keeps the code width fixed while exercising the
    * decoder's dictionary-reset path), packed into <=255-byte
    * sub-blocks with terminator. */
  private def writeGifLzwLiterals(out: java.io.ByteArrayOutputStream,
      nPix: Int, indexAt: Int => Int): Unit = {
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0L
    var nAcc = 0
    def putCode(c: Int): Unit = {
      acc |= (c.toLong & 0x1FF) << nAcc
      nAcc += 9
      while (nAcc >= 8) { bits.write((acc & 0xFF).toInt); acc >>= 8; nAcc -= 8 }
    }
    val ClearCode = 256
    val EoiCode = 257
    putCode(ClearCode)
    var p = 0
    var sinceClear = 0
    while (p < nPix) {
      putCode(indexAt(p))
      sinceClear += 1
      if (sinceClear == 250 && p + 1 < nPix) { putCode(ClearCode); sinceClear = 0 }
      p += 1
    }
    putCode(EoiCode)
    if (nAcc > 0) bits.write((acc & 0xFF).toInt)
    val stream = bits.toByteArray
    var off = 0
    while (off < stream.length) {
      val len = math.min(255, stream.length - off)
      out.write(len)
      out.write(stream, off, len)
      off += len
    }
    out.write(0) // block terminator
  }

  // ---------------------------------------------------------- resample

  /** Nearest-neighbor resample (floor mapping: source index =
    * `out * src div out_dim` — integer arithmetic end-to-end, so an
    * oracle can replay every output byte). */
  def resizeNearest(p: Pixels, outW: Int, outH: Int): Pixels = {
    require(outW > 0 && outH > 0 &&
      outW.toLong * outH * p.channels <= (64L << 20),
      s"resize target ${outW}x$outH exceeds the 64 MiB cap")
    val ch = p.channels
    val out = new Array[Byte](outW * outH * ch)
    var y = 0
    while (y < outH) {
      val srcY = ((y.toLong * p.height) / outH).toInt
      var x = 0
      while (x < outW) {
        val srcX = ((x.toLong * p.width) / outW).toInt
        val src = (srcY * p.width + srcX) * ch
        val dst = (y * outW + x) * ch
        var c = 0
        while (c < ch) { out(dst + c) = p.data(src + c); c += 1 }
        x += 1
      }
      y += 1
    }
    Pixels(outW, outH, ch, out)
  }

  /** Encode decoded pixels back to a complete valid PNG (filter 0 on
    * every scanline — simplest spec-conformant choice; channels map to
    * color types 0/4/2/6). The inverse closes the decode->transform->
    * encode loop, making image RESIZE a real operation instead of a
    * byte-truncation stub. */
  def pngEncode(p: Pixels): Array[Byte] = {
    val colorType = p.channels match {
      case 1 => 0
      case 2 => 4
      case 3 => 2
      case 4 => 6
      case n => throw new IllegalArgumentException(s"unsupported channels $n")
    }
    val stride = p.width * p.channels
    val raw = new Array[Byte]((stride + 1) * p.height)
    var y = 0
    while (y < p.height) {
      // filter byte 0 already zeroed
      System.arraycopy(p.data, y * stride, raw, y * (stride + 1) + 1, stride)
      y += 1
    }
    assemblePng(p.width, p.height, colorType, raw)
  }

  // ------------------------------------------------------------ encode

  /** Deflate the filtered scanlines and wrap them in signature + IHDR
    * + IDAT + IEND — the one assembly path both PNG encoders share. */
  private def assemblePng(width: Int, height: Int, colorType: Int,
      filteredScanlines: Array[Byte]): Array[Byte] = {
    val defl = new java.util.zip.Deflater()
    val compressed = new java.io.ByteArrayOutputStream()
    try {
      defl.setInput(filteredScanlines)
      defl.finish()
      val buf = new Array[Byte](8192)
      while (!defl.finished()) {
        val n = defl.deflate(buf)
        compressed.write(buf, 0, n)
      }
    } finally defl.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig, 0, 8)
    writePngChunk(out, "IHDR", ihdrBytes(width, height, colorType))
    writePngChunk(out, "IDAT", compressed.toByteArray)
    writePngChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private def writePngChunk(out: java.io.ByteArrayOutputStream,
      ctype: String, data: Array[Byte]): Unit = {
    val len = data.length
    out.write(Array[Byte](((len >> 24) & 0xFF).toByte, ((len >> 16) & 0xFF).toByte,
      ((len >> 8) & 0xFF).toByte, (len & 0xFF).toByte), 0, 4)
    val typeBytes = ctype.getBytes("US-ASCII")
    out.write(typeBytes, 0, 4)
    out.write(data, 0, data.length)
    val crc = new java.util.zip.CRC32()
    crc.update(typeBytes)
    crc.update(data)
    val c = crc.getValue
    out.write(Array[Byte](((c >> 24) & 0xFF).toByte, ((c >> 16) & 0xFF).toByte,
      ((c >> 8) & 0xFF).toByte, (c & 0xFF).toByte), 0, 4)
  }

  private def ihdrBytes(width: Int, height: Int, colorType: Int): Array[Byte] = {
    val ihdr = new Array[Byte](13)
    ihdr(0) = ((width >> 24) & 0xFF).toByte
    ihdr(1) = ((width >> 16) & 0xFF).toByte
    ihdr(2) = ((width >> 8) & 0xFF).toByte
    ihdr(3) = (width & 0xFF).toByte
    ihdr(4) = ((height >> 24) & 0xFF).toByte
    ihdr(5) = ((height >> 16) & 0xFF).toByte
    ihdr(6) = ((height >> 8) & 0xFF).toByte
    ihdr(7) = (height & 0xFF).toByte
    ihdr(8) = 8 // bit depth
    ihdr(9) = colorType.toByte
    // compression 0, filter 0, interlace 0 already zeroed
    ihdr
  }

  /** COMPLETE valid PNG with real pixel data: the deterministic pattern
    * `v(idx) = (idx * 31 + seed) mod 256` (so an oracle can predict any
    * pixel statistic by arithmetic), scanlines filtered with type
    * `y mod 5` — cycling through ALL five PNG filters, so a decoder
    * only reproduces the pattern if every filter inversion is right. */
  def pngPixelBytes(width: Int, height: Int, colorType: Int,
      seed: Long): Array[Byte] = {
    val ch = pngChannels(colorType)
    require(ch > 0, s"unsupported color type $colorType")
    require(width > 0 && height > 0 &&
      (width.toLong * ch + 1) * height <= (64L << 20),
      s"pixel fixture ${width}x$height x$ch exceeds the 64 MiB cap")
    val stride = width * ch
    val px = new Array[Byte](stride * height)
    var idx = 0
    while (idx < px.length) {
      px(idx) = ((idx * 31L + seed) & 0xFF).toByte
      idx += 1
    }
    val raw = new Array[Byte]((stride + 1) * height)
    var y = 0
    while (y < height) {
      val f = y % 5
      raw(y * (stride + 1)) = f.toByte
      var i = 0
      while (i < stride) {
        val cur = px(y * stride + i) & 0xFF
        val left = if (i >= ch) px(y * stride + i - ch) & 0xFF else 0
        val up = if (y > 0) px((y - 1) * stride + i) & 0xFF else 0
        val ul = if (y > 0 && i >= ch) px((y - 1) * stride + i - ch) & 0xFF else 0
        val filtered = f match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - ((left + up) >> 1)
          case _ =>
            val p = left + up - ul
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            cur - (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
        }
        raw(y * (stride + 1) + 1 + i) = filtered.toByte
        i += 1
      }
      y += 1
    }
    assemblePng(width, height, colorType, raw)
  }

  /** Minimal VALID PNG: signature + CRC-correct IHDR + IEND (no image
    * data chunks — a header-only fixture, fine for metadata paths). */
  def pngBytes(width: Int, height: Int, colorType: Int = 2): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig, 0, 8)
    writePngChunk(out, "IHDR", ihdrBytes(width, height, colorType))
    writePngChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Minimal well-formed JPEG: SOI + SOF0 (baseline) + EOI. */
  def jpegBytes(width: Int, height: Int, channels: Int = 3): Array[Byte] = {
    val segLen = 8 + 3 * channels
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xFF); out.write(0xD8) // SOI
    out.write(0xFF); out.write(0xC0) // SOF0
    out.write((segLen >> 8) & 0xFF); out.write(segLen & 0xFF)
    out.write(8) // precision
    out.write((height >> 8) & 0xFF); out.write(height & 0xFF)
    out.write((width >> 8) & 0xFF); out.write(width & 0xFF)
    out.write(channels)
    var c = 0
    while (c < channels) {
      out.write(c + 1) // component id
      out.write(0x11)  // 1x1 sampling
      out.write(0)     // quant table
      c += 1
    }
    out.write(0xFF); out.write(0xD9) // EOI
    out.toByteArray
  }

  // ------------------------------------------------------- expressions

  val metaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType)))

  /** image_meta(payload) -> struct(format, width, height, channels);
    * NULL for payloads that are not a recognized image container. */
  case class ImageMetaExpr(payload: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(payload)
    override def dataType: DataType = metaSchema
    override protected def evalNotNull(a: Array[Any]): Any =
      decode(a(0).asInstanceOf[Array[Byte]]) match {
        case Some(m) => new GenericInternalRow(Array[Any](
          UTF8String.fromString(m.format), m.width, m.height, m.channels))
        case None => null
      }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(payload = c(0))
  }

  /** image_fixture(format, width, height) -> minimal valid header bytes
    * (fixture generator for tests/oracles; format 'png' | 'jpeg' |
    * 'jpeg_gray'). */
  case class ImageFixtureExpr(format: Expression, wpx: Expression,
      hpx: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(format, wpx, hpx)
    override def dataType: DataType = BinaryType
    override protected def evalNotNull(a: Array[Any]): Any =
      str(a(0)) match {
        case "png" => pngBytes(int(a(1)), int(a(2)))
        case "jpeg" => jpegBytes(int(a(1)), int(a(2)))
        case "jpeg_gray" => jpegBytes(int(a(1)), int(a(2)), channels = 1)
        case _ => null
      }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(format = c(0), wpx = c(1), hpx = c(2))
  }

  val pixelStatsSchema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_bytes", LongType),
    StructField("pix_mean", DoubleType),
    StructField("checksum", LongType)))

  /** The mean byte value of decoded pixels and their position-weighted
    * checksum `Σ idx*v(idx)`, the summary `image_pixel_stats` and
    * `gif_frame_samples` report. */
  private def pixelSummary(d: Array[Byte]): (Double, Long) = {
    var sum = 0L
    var wsum = 0L
    var i = 0
    while (i < d.length) {
      val v = d(i) & 0xFF
      sum += v
      wsum += i.toLong * v
      i += 1
    }
    (if (d.length == 0) 0.0 else sum.toDouble / d.length, wsum)
  }

  /** image_pixel_stats(payload) -> struct(width, height, channels,
    * n_bytes, pix_mean, checksum) computed from the FULLY DECODED
    * pixels ([[decodePixels]]: PNG inflate+unfilter, GIF LZW+palette,
    * or baseline-JPEG Huffman+IDCT);
    * NULL for anything that is not a supported well-formed image. `checksum` is the
    * position-weighted sum `Σ idx*v(idx)` — order-sensitive, so a
    * decoder that produces the right multiset of bytes in the wrong
    * places still fails the oracle. */
  case class ImagePixelStatsExpr(payload: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(payload)
    override def dataType: DataType = pixelStatsSchema
    override protected def evalNotNull(a: Array[Any]): Any =
      decodePixels(a(0).asInstanceOf[Array[Byte]]) match {
        case Some(p) =>
          val (mean, checksum) = pixelSummary(p.data)
          new GenericInternalRow(Array[Any](
            p.width, p.height, p.channels, p.data.length.toLong, mean, checksum))
        case None => null
      }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(payload = c(0))
  }

  /** png_pixel_fixture(colorType, width, height, seed) -> complete PNG
    * bytes with the deterministic pixel pattern of [[pngPixelBytes]]. */
  case class PngPixelFixtureExpr(colorType: Expression, wpx: Expression,
      hpx: Expression, seed: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(colorType, wpx, hpx, seed)
    override def dataType: DataType = BinaryType
    override protected def evalNotNull(a: Array[Any]): Any =
      pngPixelBytes(int(a(1)), int(a(2)), int(a(0)), lng(a(3)))
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(colorType = c(0), wpx = c(1), hpx = c(2), seed = c(3))
  }

  val channelStatsSchema: StructType = StructType(Seq(
    StructField("channel", IntegerType),
    StructField("mean_val", DoubleType),
    StructField("sum_sq", LongType)))

  /** image_channel_stats(payload) -> array<struct(channel, mean_val,
    * sum_sq)> over the fully decoded pixels — REAL per-channel feature
    * extraction for decodable containers (PNG/GIF/baseline JPEG): the mean/energy
    * pair per channel is the canonical cheap image descriptor. Exact
    * integer energy (no sqrt) keeps engine/oracle comparison exact;
    * NULL for undecodable payloads. */
  case class ImageChannelStatsExpr(payload: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(payload)
    override def dataType: DataType = ArrayType(channelStatsSchema)
    override protected def evalNotNull(a: Array[Any]): Any =
      decodePixels(a(0).asInstanceOf[Array[Byte]]) match {
        case Some(p) =>
          val ch = p.channels
          val sums = new Array[Long](ch)
          val sqs = new Array[Long](ch)
          var i = 0
          while (i < p.data.length) {
            val v = p.data(i) & 0xFF
            val c = i % ch
            sums(c) += v
            sqs(c) += v.toLong * v
            i += 1
          }
          val nPerCh = p.width.toLong * p.height
          val rows = new Array[Any](ch)
          var c = 0
          while (c < ch) {
            val mean = if (nPerCh == 0) 0.0 else sums(c).toDouble / nPerCh
            rows(c) = new GenericInternalRow(Array[Any](c, mean, sqs(c)))
            c += 1
          }
          new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
        case None => null
      }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(payload = c(0))
  }

  val frameSampleSchema: StructType = StructType(Seq(
    StructField("frame_idx", IntegerType),
    StructField("pix_mean", DoubleType),
    StructField("checksum", LongType)))

  /** gif_frame_samples(payload, n) -> array<struct(frame_idx,
    * pix_mean, checksum)>: REAL frame sampling over an animated GIF —
    * n evenly spaced frames (indices `k*nFrames div n`, deduplicated),
    * each FULLY DECODED (LZW + palette) and summarized. Bounded
    * fan-out like the digest-based video stub, but with actual frame
    * content; NULL for undecodable payloads. */
  case class GifFrameSamplesExpr(payload: Expression, n: Expression)
      extends GeoExpr {
    override def children: Seq[Expression] = Seq(payload, n)
    override def dataType: DataType = ArrayType(frameSampleSchema)
    override protected def evalNotNull(a: Array[Any]): Any = {
      val nn = int(a(1))
      if (nn <= 0) return null
      decodeGifFrames(a(0).asInstanceOf[Array[Byte]]) match {
        case Some(frames) =>
          val nF = frames.length
          val idxs = (0 until nn).map(k => k * nF / nn).distinct
          val rows = idxs.map { fi =>
            val (mean, checksum) = pixelSummary(frames(fi).data)
            new GenericInternalRow(Array[Any](fi, mean, checksum)): Any
          }
          new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.toArray)
        case None => null
      }
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(payload = c(0), n = c(1))
  }

  /** gif_anim_fixture(width, height, n_frames, seed) -> complete
    * animated GIF89a bytes ([[gifAnimBytes]]). */
  case class GifAnimFixtureExpr(wpx: Expression, hpx: Expression,
      nFrames: Expression, seed: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(wpx, hpx, nFrames, seed)
    override def dataType: DataType = BinaryType
    override protected def evalNotNull(a: Array[Any]): Any =
      gifAnimBytes(int(a(0)), int(a(1)), int(a(2)), lng(a(3)))
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(wpx = c(0), hpx = c(1), nFrames = c(2), seed = c(3))
  }

  /** image_resize_png(payload, out_w, out_h) -> complete PNG bytes:
    * decode any supported container (PNG/GIF/baseline JPEG),
    * nearest-neighbor
    * resample to the target dimensions, re-encode as PNG. NULL for
    * undecodable payloads or out-of-cap targets — the REAL resize that
    * replaces the byte-truncation stub. */
  case class ImageResizePngExpr(payload: Expression, outW: Expression,
      outH: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(payload, outW, outH)
    override def dataType: DataType = BinaryType
    override protected def evalNotNull(a: Array[Any]): Any =
      decodePixels(a(0).asInstanceOf[Array[Byte]]) match {
        case Some(p) => pngEncode(resizeNearest(p, int(a(1)), int(a(2))))
        case None => null
      }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(payload = c(0), outW = c(1), outH = c(2))
  }

  /** gif_pixel_fixture(width, height, seed) -> complete GIF89a bytes
    * with the deterministic palette-index pattern of
    * [[gifPixelBytes]]. */
  case class GifPixelFixtureExpr(wpx: Expression, hpx: Expression,
      seed: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(wpx, hpx, seed)
    override def dataType: DataType = BinaryType
    override protected def evalNotNull(a: Array[Any]): Any =
      gifPixelBytes(int(a(0)), int(a(1)), lng(a(2)))
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(wpx = c(0), hpx = c(1), seed = c(2))
  }

  def image_meta(payload: Column): Column = toCol(ImageMetaExpr(toExpr(payload)))

  def image_fixture(format: Column, width: Column, height: Column): Column =
    toCol(ImageFixtureExpr(toExpr(format), toExpr(width), toExpr(height)))

  def image_pixel_stats(payload: Column): Column =
    toCol(ImagePixelStatsExpr(toExpr(payload)))

  def gif_pixel_fixture(width: Column, height: Column, seed: Column): Column =
    toCol(GifPixelFixtureExpr(toExpr(width), toExpr(height), toExpr(seed)))

  def image_resize_png(payload: Column, outW: Column, outH: Column): Column =
    toCol(ImageResizePngExpr(toExpr(payload), toExpr(outW), toExpr(outH)))

  def image_channel_stats(payload: Column): Column =
    toCol(ImageChannelStatsExpr(toExpr(payload)))

  def gif_frame_samples(payload: Column, n: Column): Column =
    toCol(GifFrameSamplesExpr(toExpr(payload), toExpr(n)))

  def gif_anim_fixture(width: Column, height: Column, nFrames: Column,
      seed: Column): Column =
    toCol(GifAnimFixtureExpr(toExpr(width), toExpr(height), toExpr(nFrames),
      toExpr(seed)))

  /** jpeg_pixel_fixture(channels, width, height, seed) -> complete
    * baseline JPEG bytes ([[JpegCodec.jpegPixelBytes]]: block-constant
    * pattern, losslessly decodable by construction). */
  case class JpegPixelFixtureExpr(channels: Expression, wpx: Expression,
      hpx: Expression, seed: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(channels, wpx, hpx, seed)
    override def dataType: DataType = BinaryType
    override protected def evalNotNull(a: Array[Any]): Any =
      JpegCodec.jpegPixelBytes(int(a(1)), int(a(2)), int(a(0)), lng(a(3)))
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(channels = c(0), wpx = c(1), hpx = c(2), seed = c(3))
  }

  def jpeg_pixel_fixture(channels: Column, width: Column, height: Column,
      seed: Column): Column =
    toCol(JpegPixelFixtureExpr(toExpr(channels), toExpr(width), toExpr(height),
      toExpr(seed)))

  /** jpeg420_pixel_fixture(width, height, seed) -> complete 4:2:0
    * SUBSAMPLED color JPEG ([[JpegCodec.jpegPixelBytes420]]:
    * macroblock-constant pattern, losslessly decodable). */
  case class Jpeg420FixtureExpr(wpx: Expression, hpx: Expression,
      seed: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(wpx, hpx, seed)
    override def dataType: DataType = BinaryType
    override protected def evalNotNull(a: Array[Any]): Any =
      JpegCodec.jpegPixelBytes420(int(a(0)), int(a(1)), lng(a(2)))
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(wpx = c(0), hpx = c(1), seed = c(2))
  }

  def jpeg420_pixel_fixture(width: Column, height: Column, seed: Column): Column =
    toCol(Jpeg420FixtureExpr(toExpr(width), toExpr(height), toExpr(seed)))

  /** jpeg_prog_pixel_fixture(channels, width, height, seed) -> complete
    * PROGRESSIVE (SOF2) JPEG ([[JpegCodec.jpegPixelBytesProg]]:
    * block-constant pattern over DC-first + DC-refine + per-component
    * AC scans, losslessly decodable). */
  case class JpegProgFixtureExpr(channels: Expression, wpx: Expression,
      hpx: Expression, seed: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(channels, wpx, hpx, seed)
    override def dataType: DataType = BinaryType
    override protected def evalNotNull(a: Array[Any]): Any =
      JpegCodec.jpegPixelBytesProg(int(a(1)), int(a(2)), int(a(0)), lng(a(3)))
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(channels = c(0), wpx = c(1), hpx = c(2), seed = c(3))
  }

  def jpeg_prog_pixel_fixture(channels: Column, width: Column,
      height: Column, seed: Column): Column =
    toCol(JpegProgFixtureExpr(toExpr(channels), toExpr(width), toExpr(height),
      toExpr(seed)))

  def png_pixel_fixture(colorType: Column, width: Column, height: Column,
      seed: Column): Column =
    toCol(PngPixelFixtureExpr(toExpr(colorType), toExpr(width), toExpr(height),
      toExpr(seed)))
}
