package graft.ops

/** Pure-JVM JPEG pixel codec (ITU-T T.81): 8-bit DCT, Huffman entropy
  * coding, baseline (SOF0) and progressive (SOF2) frames, arbitrary
  * sampling factors (grayscale, YCbCr 4:4:4, SUBSAMPLED 4:2:0/4:2:2
  * with nearest-sample chroma upsampling). The DECODER is one pipeline
  * for both frame types, the design of T.81 Annex G and libjpeg:
  *
  *  - SOF allocates one coefficient buffer per component, under one
  *    size cap;
  *  - every SOS goes through one scan walker (MCUs for a scan of
  *    several components, the component's own block grid for one),
  *    which calls the sequential block decoder (DC difference plus
  *    run-length AC) for a baseline frame, or the DC/AC first/refine
  *    decoders with EOB-run accounting (T.81 G.2) for a progressive
  *    one;
  *  - one finish step dequantizes, inverse-transforms (separable IDCT),
  *    upsamples and converts YCbCr -> RGB: a baseline frame when its
  *    one scan ends (no EOI needed), a progressive frame at EOI.
  *
  * Around it: the segment walk (DQT/DHT/SOFn/DRI/SOS), an MSB-first bit
  * reader with 0xFF00 unstuffing and RSTn handling, canonical Huffman
  * decode and coefficient EXTEND (F.2.2.1). Arithmetic-coded and other
  * frame types yield None (documented limit), as does any malformed
  * stream — never a throw.
  *
  * The ENCODER is fixture-grade by design: block-constant images
  * (every 8x8 block one value) have only a DC coefficient, and with
  * the DC quantizer set to 8 the quantized value is exactly v-128 —
  * so encode->decode is LOSSLESS on the fixture family and an oracle
  * can predict every decoded pixel by arithmetic, while the decoder
  * paths exercised (Huffman, differential DC, dequant, IDCT, color
  * convert) are the real ones any baseline JPEG needs.
  */
object JpegCodec {

  import ImageCodec.Pixels

  // --------------------------------------------------------- constants

  /** Zigzag scan order (T.81 figure 5): zigzag index -> block index. */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** IDCT basis: cos((2x+1) u pi / 16) * C(u), C(0)=1/sqrt2. */
  private val Cos: Array[Array[Double]] = {
    val t = Array.ofDim[Double](8, 8)
    var u = 0
    while (u < 8) {
      val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      var x = 0
      while (x < 8) {
        t(u)(x) = cu * math.cos((2 * x + 1) * u * math.Pi / 16.0)
        x += 1
      }
      u += 1
    }
    t
  }

  // ----------------------------------------------------------- decoder

  private final class Huff(counts: Array[Int], symbols: Array[Int]) {
    // canonical code tables: minCode/maxCode/valPtr per length (F.2.2.3)
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        if (counts(l - 1) > 0) {
          valPtr(l) = k
          minCode(l) = code
          code += counts(l - 1)
          k += counts(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    def decode(br: BitReader): Int = {
      var code = br.bit()
      if (code < 0) return -1
      var l = 1
      while (l <= 16) {
        if (maxCode(l) >= 0 && code <= maxCode(l))
          return symbols(valPtr(l) + code - minCode(l))
        val b = br.bit()
        if (b < 0) return -1
        code = (code << 1) | b
        l += 1
      }
      -1
    }
  }

  /** Entropy-coded-segment bit reader: MSB first, 0xFF00 unstuffed,
    * stops (returns -1) at any real marker. RSTn markers are consumed
    * by [[restart]]. */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nBits = 0
    def bit(): Int = {
      if (nBits == 0) {
        if (pos >= b.length) return -1
        val v = b(pos) & 0xFF
        if (v == 0xFF) {
          if (pos + 1 >= b.length) return -1
          val m = b(pos + 1) & 0xFF
          if (m == 0x00) { pos += 2; acc = 0xFF }
          else return -1 // real marker: stop
        } else { pos += 1; acc = v }
        nBits = 8
      }
      nBits -= 1
      (acc >> nBits) & 1
    }
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val x = bit()
        if (x < 0) return -1
        v = (v << 1) | x
        i += 1
      }
      v
    }
    /** Consume an expected RSTn marker; true on success. */
    def restart(): Boolean = {
      nBits = 0
      if (pos + 1 >= b.length) return false
      if ((b(pos) & 0xFF) != 0xFF) return false
      val m = b(pos + 1) & 0xFF
      if (m < 0xD0 || m > 0xD7) return false
      pos += 2
      true
    }
  }

  /** EXTEND (T.81 F.2.2.1): map `size`-bit magnitude to signed value. */
  private def extend(v: Int, size: Int): Int =
    if (size == 0) 0
    else if (v < (1 << (size - 1))) v - (1 << size) + 1
    else v

  private final case class Component(id: Int, hSamp: Int, vSamp: Int,
      quantId: Int, var dcId: Int = 0, var acId: Int = 0)

  /** The frame a SOF segment declares, with one coefficient buffer per
    * component: `bw x bh` blocks of 64 coefficients in block (not
    * zigzag) order, over the interleaved MCU grid (T.81 A.2.3) — an MCU
    * spans 8*hMax x 8*vMax pixels and holds hSamp x vSamp blocks of
    * each component. `coefs` is null when the buffers would exceed the
    * 256 MiB cap. */
  private final class Frame(val width: Int, val height: Int,
      val progressive: Boolean, val comps: Array[Component]) {
    val hMax: Int = comps.map(_.hSamp).max
    val vMax: Int = comps.map(_.vSamp).max
    val mcusX: Int = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY: Int = (height + 8 * vMax - 1) / (8 * vMax)
    val bw: Array[Int] = comps.map(mcusX * _.hSamp)
    val bh: Array[Int] = comps.map(mcusY * _.vSamp)
    val coefs: Array[Array[Int]] =
      if (bw.indices.map(c => bw(c).toLong * bh(c) * 64).sum * 4 > (256L << 20)) null
      else Array.tabulate(comps.length)(c => new Array[Int](bw(c) * bh(c) * 64))
  }

  def decodePixels(b: Array[Byte]): Option[Pixels] = {
    if (b.length < 4 || (b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8)
      return None
    val quant = new Array[Array[Int]](4)
    val dcTables = new Array[Huff](4)
    val acTables = new Array[Huff](4)
    var frame: Frame = null
    var restartInterval = 0
    var sawScan = false
    var i = 2
    while (i + 2 <= b.length) {
      if ((b(i) & 0xFF) != 0xFF) return None
      if ((b(i + 1) & 0xFF) == 0xFF) { i += 1 }
      else {
        val marker = b(i + 1) & 0xFF
        if (marker == 0xD9) { // EOI
          if (frame == null || !frame.progressive || !sawScan) return None
          return finish(frame, quant)
        }
        if (i + 4 > b.length) return None // all other markers carry a length
        val len = ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)
        if (len < 2 || i + 2 + len > b.length) return None
        val seg = i + 4
        val segEnd = i + 2 + len
        marker match {
          case 0xDB => // DQT: one or more tables
            var p = seg
            while (p < segEnd) {
              val pq = (b(p) & 0xFF) >> 4
              val tq = b(p) & 0x0F
              if (pq != 0 || tq > 3) return None // 8-bit tables only
              if (p + 1 + 64 > segEnd) return None
              val t = new Array[Int](64)
              var k = 0
              while (k < 64) { t(k) = b(p + 1 + k) & 0xFF; k += 1 }
              quant(tq) = t
              p += 65
            }
          case 0xC4 => // DHT: one or more tables
            var p = seg
            while (p < segEnd) {
              val tc = (b(p) & 0xFF) >> 4
              val th = b(p) & 0x0F
              if (tc > 1 || th > 3 || p + 17 > segEnd) return None
              val counts = new Array[Int](16)
              var total = 0
              var k = 0
              while (k < 16) {
                counts(k) = b(p + 1 + k) & 0xFF; total += counts(k); k += 1
              }
              if (p + 17 + total > segEnd || total > 256) return None
              val syms = new Array[Int](total)
              k = 0
              while (k < total) { syms(k) = b(p + 17 + k) & 0xFF; k += 1 }
              val h = new Huff(counts, syms)
              if (tc == 0) dcTables(th) = h else acTables(th) = h
              p += 17 + total
            }
          case 0xC0 | 0xC2 => // SOF0 baseline / SOF2 progressive
            if (len < 8) return None
            if ((b(seg) & 0xFF) != 8) return None // 8-bit precision
            val height = ((b(seg + 1) & 0xFF) << 8) | (b(seg + 2) & 0xFF)
            val width = ((b(seg + 3) & 0xFF) << 8) | (b(seg + 4) & 0xFF)
            val n = b(seg + 5) & 0xFF
            if (n != 1 && n != 3) return None
            if (width <= 0 || height <= 0 ||
              width.toLong * height * n > (64L << 20)) return None
            if (seg + 6 + 3 * n > segEnd) return None
            val comps = Array.tabulate(n) { c =>
              val o = seg + 6 + 3 * c
              val samp = b(o + 1) & 0xFF
              Component(b(o) & 0xFF, samp >> 4, samp & 0x0F, b(o + 2) & 0xFF)
            }
            // sampling factors 1-4 with the spec's <=10 blocks/MCU cap
            // (T.81 B.2.2)
            if (comps.exists(c => c.hSamp < 1 || c.hSamp > 4 ||
              c.vSamp < 1 || c.vSamp > 4)) return None
            if (comps.map(c => c.hSamp * c.vSamp).sum > 10) return None
            frame = new Frame(width, height, marker == 0xC2, comps)
            if (frame.coefs == null) return None
          case 0xC1 | 0xC3 | 0xC5 | 0xC6 | 0xC7 |
               0xC9 | 0xCA | 0xCB | 0xCD | 0xCE | 0xCF =>
            return None // other frame types (arithmetic etc.) unsupported
          case 0xDD => // DRI
            if (len != 4) return None
            restartInterval = ((b(seg) & 0xFF) << 8) | (b(seg + 1) & 0xFF)
          case 0xDA => // SOS: entropy-coded data follows
            if (frame == null || seg >= segEnd) return None
            val end = readScan(b, seg, segEnd, frame, dcTables, acTables,
              restartInterval).getOrElse(return None)
            // a baseline frame is its one scan: no EOI needed
            if (!frame.progressive) return finish(frame, quant)
            sawScan = true
            i = nextMarker(b, end)
            if (i < 0) return None
          case _ => () // APPn/COM/etc: skip
        }
        if (marker != 0xDA) i = segEnd
      }
    }
    None
  }

  /** One scan into the frame's coefficient buffers. A scan of more than
    * one component walks MCUs; a one-component scan walks that
    * component's own block grid, which leaves out the MCU grid's edge
    * padding blocks (T.81 A.2). A baseline frame has one scan that
    * codes every component in frame order over the full spectrum
    * (T.81 F.2.2: DC difference, then run-length AC, where an EOB
    * symbol ends the block); a progressive scan is one DC or AC
    * spectral band at one successive-approximation stage Ah -> Al
    * (T.81 G.2). Returns the position right after the last entropy
    * byte read, or None on malformed input. */
  private def readScan(b: Array[Byte], seg: Int, segEnd: Int, f: Frame,
      dcT: Array[Huff], acT: Array[Huff], restartInterval: Int): Option[Int] = {
    val comps = f.comps
    val coefs = f.coefs
    val ns = b(seg) & 0xFF
    if ((if (f.progressive) ns < 1 || ns > comps.length else ns != comps.length) ||
      seg + 1 + 2 * ns + 3 > segEnd) return None
    val scanIdx = new Array[Int](ns)
    var k = 0
    while (k < ns) {
      val cid = b(seg + 1 + 2 * k) & 0xFF
      val tbl = b(seg + 2 + 2 * k) & 0xFF
      val ci = comps.indexWhere(_.id == cid)
      // table selectors are 4-bit fields, but only 0..3 name a table
      if (ci < 0 || f.progressive && ((tbl >> 4) > 3 || (tbl & 0x0F) > 3))
        return None
      comps(ci).dcId = tbl >> 4
      comps(ci).acId = tbl & 0x0F
      // a baseline scan codes every component in frame order
      scanIdx(k) = if (f.progressive) ci else k
      k += 1
    }
    // ... each with the last selectors the scan header gave it
    if (!f.progressive && comps.exists(c => c.dcId > 3 || c.acId > 3)) return None
    val ss = b(seg + 1 + 2 * ns) & 0xFF
    val se = b(seg + 2 + 2 * ns) & 0xFF
    val ahAl = b(seg + 3 + 2 * ns) & 0xFF
    // a baseline scan is full-spectrum whatever its header says
    val ah = if (f.progressive) ahAl >> 4 else 0
    val al = if (f.progressive) ahAl & 0x0F else 0
    if (f.progressive) {
      if (ss > 63 || se > 63 || se < ss || al > 13 || ah > 13) return None
      if (ss == 0 && se != 0) return None // DC scans carry only coef 0
      if (ss != 0 && ns != 1) return None // AC scans are non-interleaved
      if (ah != 0 && ah != al + 1) return None // approximation steps by 1
    }
    val br = new BitReader(b, segEnd)
    var eobrun = 0
    val pred = new Array[Int](comps.length)

    // ---- per-block decoders -----------------------------------------
    def dcFirst(ci: Int, blockIdx: Int): Boolean = {
      val t = dcT(comps(ci).dcId)
      if (t == null) return false
      val s = t.decode(br)
      if (s < 0 || s > 11) return false
      val diffBits = if (s == 0) 0 else br.bits(s)
      if (diffBits < 0) return false
      pred(ci) += extend(diffBits, s)
      // T.81 F.1.1.5.1: for 8-bit precision the reconstructed DC lives
      // in the 12-bit range — a stream that drives |pred| past 2048 is
      // malformed, and an unbounded Int would overflow into garbage
      if (pred(ci) < -2048 || pred(ci) > 2048) return false
      coefs(ci)(blockIdx * 64) = pred(ci) << al
      true
    }
    def acSequential(ci: Int, blockIdx: Int): Boolean = {
      val t = acT(comps(ci).acId)
      if (t == null) return false
      var kk = 1
      while (kk < 64) {
        val rs = t.decode(br)
        if (rs < 0) return false
        val r = rs >> 4
        val s = rs & 0x0F
        if (s == 0) {
          if (r != 15) return true // EOB
          kk += 16 // ZRL
        } else {
          kk += r
          if (kk > 63) return false
          val vb = br.bits(s)
          if (vb < 0) return false
          coefs(ci)(blockIdx * 64 + Zigzag(kk)) = extend(vb, s)
          kk += 1
        }
      }
      true
    }
    def dcRefine(ci: Int, blockIdx: Int): Boolean = {
      val bit = br.bit()
      if (bit < 0) return false
      if (bit == 1) coefs(ci)(blockIdx * 64) |= (1 << al)
      true
    }
    def acFirst(ci: Int, blockIdx: Int): Boolean = {
      val co = coefs(ci)
      val base = blockIdx * 64
      if (eobrun > 0) { eobrun -= 1; return true }
      var kk = ss
      while (kk <= se) {
        val rs = acT(comps(ci).acId) match {
          case null => return false
          case t => t.decode(br)
        }
        if (rs < 0) return false
        val r = rs >> 4
        val s = rs & 0x0F
        if (s == 0) {
          if (r == 15) { kk += 16 } // ZRL
          else {
            val extra = if (r == 0) 0 else br.bits(r)
            if (extra < 0) return false
            eobrun = (1 << r) - 1 + extra
            return true
          }
        } else {
          kk += r
          if (kk > se) return false
          val vb = br.bits(s)
          if (vb < 0) return false
          co(base + Zigzag(kk)) = extend(vb, s) << al
          kk += 1
        }
      }
      true
    }
    def acRefine(ci: Int, blockIdx: Int): Boolean = {
      // T.81 G.2.2 correction-bit pass (the libjpeg AC_refine shape)
      val co = coefs(ci)
      val base = blockIdx * 64
      val p1 = 1 << al
      val m1 = -1 << al
      var kk = ss
      if (eobrun == 0) {
        var break = false
        while (kk <= se && !break) {
          val t = acT(comps(ci).acId)
          if (t == null) return false
          val rs = t.decode(br)
          if (rs < 0) return false
          var r = rs >> 4
          val s = rs & 0x0F
          var newval = 0
          if (s != 0) {
            if (s != 1) return false // refinement codes only +-1
            val sb = br.bit()
            if (sb < 0) return false
            newval = if (sb == 1) p1 else m1
          } else if (r != 15) {
            // refine-scan EOB runs COUNT the current block (its
            // remaining correction bits are handled below, then the
            // run is decremented) — unlike first-scan runs
            val extra = if (r == 0) 0 else br.bits(r)
            if (extra < 0) return false
            eobrun = (1 << r) + extra
            break = true
          }
          if (!break) {
            // advance past r zero-history coefficients, emitting
            // correction bits for every nonzero coefficient passed
            var placed = false
            while (kk <= se && !placed) {
              val idx = base + Zigzag(kk)
              if (co(idx) != 0) {
                val cb = br.bit()
                if (cb < 0) return false
                if (cb == 1 && (co(idx) & p1) == 0)
                  co(idx) += (if (co(idx) >= 0) p1 else m1)
              } else {
                if (r == 0) {
                  if (newval != 0) co(idx) = newval
                  placed = true
                } else r -= 1
              }
              kk += 1
            }
          }
        }
      }
      if (eobrun > 0) {
        // inside an EOB run: still emit correction bits for the
        // remaining nonzero coefficients of this block
        while (kk <= se) {
          val idx = base + Zigzag(kk)
          if (co(idx) != 0) {
            val cb = br.bit()
            if (cb < 0) return false
            if (cb == 1 && (co(idx) & p1) == 0)
              co(idx) += (if (co(idx) >= 0) p1 else m1)
          }
          kk += 1
        }
        eobrun -= 1
      }
      true
    }
    val decodeBlock: (Int, Int) => Boolean =
      if (!f.progressive) (ci, bi) => dcFirst(ci, bi) && acSequential(ci, bi)
      else if (ss == 0) { if (ah == 0) dcFirst else dcRefine }
      else if (ah == 0) acFirst else acRefine

    // ---- traversal ---------------------------------------------------
    val (unitsX, nUnits) =
      if (ns > 1) (f.mcusX, f.mcusX * f.mcusY)
      else {
        val c = comps(scanIdx(0))
        val nbx = ((f.width * c.hSamp + f.hMax - 1) / f.hMax + 7) / 8
        val nby = ((f.height * c.vSamp + f.vMax - 1) / f.vMax + 7) / 8
        (nbx, nbx * nby)
      }
    var unit = 0
    while (unit < nUnits) {
      if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
        if (!br.restart()) return None
        java.util.Arrays.fill(pred, 0)
        eobrun = 0
      }
      val ux = unit % unitsX
      val uy = unit / unitsX
      var si = 0
      while (si < ns) {
        val ci = scanIdx(si)
        // an MCU holds hSamp x vSamp blocks of each component; a
        // one-component unit is one block
        val uh = if (ns > 1) comps(ci).hSamp else 1
        val uv = if (ns > 1) comps(ci).vSamp else 1
        var by = 0
        while (by < uv) {
          var bx = 0
          while (bx < uh) {
            if (!decodeBlock(ci, (uy * uv + by) * f.bw(ci) + ux * uh + bx))
              return None
            bx += 1
          }
          by += 1
        }
        si += 1
      }
      unit += 1
    }
    Some(br.pos)
  }

  /** The position of the next marker's 0xFF at or after `from` (pad
    * bits, stuffing and RSTn belong to the entropy stream; anything
    * else is the next segment), or -1 when the stream ends first. */
  private def nextMarker(b: Array[Byte], from: Int): Int = {
    var p = from
    while (p + 1 < b.length) {
      if ((b(p) & 0xFF) == 0xFF) {
        val m = b(p + 1) & 0xFF
        if (m == 0x00) p += 2
        else if (m >= 0xD0 && m <= 0xD7) p += 2
        else if (m == 0xFF) p += 1
        else return p
      } else p += 1
    }
    -1
  }

  /** The one reconstruction step: dequantize, inverse-transform and
    * level-shift every block in place (the buffers then hold 0..255
    * samples), then assemble row-major interleaved pixels. Subsampled
    * components upsample by sample replication (nearest), the standard
    * box reconstruction; three components convert YCbCr -> RGB. */
  private def finish(f: Frame, quant: Array[Array[Int]]): Option[Pixels] = {
    val n = f.comps.length
    for (c <- f.comps)
      if (c.quantId > 3 || quant(c.quantId) == null) return None
    val deq = new Array[Int](64)
    val block = new Array[Double](64)
    val idctTmp = new Array[Double](64)
    var c = 0
    while (c < n) {
      val q = quant(f.comps(c).quantId)
      val co = f.coefs(c)
      var base = 0
      while (base < co.length) {
        // buffers hold coefficients in BLOCK order but quant tables
        // index in zigzag order: map through Zigzag
        var z = 0
        while (z < 64) { deq(Zigzag(z)) = co(base + Zigzag(z)) * q(z); z += 1 }
        idct(deq, block, idctTmp)
        var p = 0
        while (p < 64) { co(base + p) = clamp(block(p) + 128.0); p += 1 }
        base += 64
      }
      c += 1
    }
    def sampleAt(ci: Int, x: Int, y: Int): Int = {
      val comp = f.comps(ci)
      val sx = x * comp.hSamp / f.hMax
      val sy = y * comp.vSamp / f.vMax
      f.coefs(ci)(((sy >> 3) * f.bw(ci) + (sx >> 3)) * 64 + ((sy & 7) << 3) + (sx & 7))
    }
    val out = new Array[Byte](f.width * f.height * n)
    var y = 0
    while (y < f.height) {
      var x = 0
      while (x < f.width) {
        val o = (y * f.width + x) * n
        if (n == 1) out(o) = sampleAt(0, x, y).toByte
        else {
          val yy = sampleAt(0, x, y)
          val cb = sampleAt(1, x, y) - 128
          val cr = sampleAt(2, x, y) - 128
          out(o) = clamp(yy + 1.402 * cr).toByte
          out(o + 1) = clamp(yy - 0.344136 * cb - 0.714136 * cr).toByte
          out(o + 2) = clamp(yy + 1.772 * cb).toByte
        }
        x += 1
      }
      y += 1
    }
    Some(Pixels(f.width, f.height, n, out))
  }

  /** Round to the nearest integer and clamp to 0..255. */
  private def clamp(d: Double): Int = {
    val v = math.round(d).toInt
    if (v < 0) 0 else if (v > 255) 255 else v
  }

  /** 2-D IDCT via the separable definition (T.81 A.3.3). `tmp` is a
    * caller-owned 64-slot scratch buffer (hoisted out of the per-block
    * hot loop). */
  private def idct(coef: Array[Int], out: Array[Double],
      tmp: Array[Double]): Unit = {
    // rows then columns; 0.5 factor per 1-D pass (total 1/4)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += Cos(u)(x) * coef(y * 8 + u); u += 1 }
        tmp(y * 8 + x) = 0.5 * s
        x += 1
      }
      y += 1
    }
    var x = 0
    while (x < 8) {
      var yy = 0
      while (yy < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) { s += Cos(v)(yy) * tmp(v * 8 + x); v += 1 }
        out(yy * 8 + x) = 0.5 * s
        yy += 1
      }
      x += 1
    }
  }

  // ----------------------------------------------------------- encoder

  /** The fixture encoders' byte sink. Marker segments go straight to
    * the output; entropy-coded bits are packed MSB-first into the same
    * output with 0xFF byte stuffing, and `flushScan` pads a scan's last
    * byte with 1s (spec F.1.2.3). */
  private final class FixtureWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var nAcc = 0

    def byte(v: Int): Unit = out.write(v)
    def marker(m: Int): Unit = { out.write(0xFF); out.write(m) }
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xFF); out.write(v & 0xFF) }

    private def entropyByte(b: Int): Unit = {
      out.write(b)
      if (b == 0xFF) out.write(0x00) // byte stuffing
    }

    def putBits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1)
        nAcc += 1
        if (nAcc == 8) { entropyByte(acc & 0xFF); acc = 0; nAcc = 0 }
        i -= 1
      }
    }

    /** A DC difference: its category as the 4-bit code the fixture DC
      * table assigns, then the magnitude bits. */
    def putDc(diff: Int): Unit = {
      var a = math.abs(diff); var s = 0
      while (a > 0) { a >>= 1; s += 1 }
      putBits(s, 4)
      if (s > 0) putBits(if (diff < 0) diff + (1 << s) - 1 else diff, s)
    }

    def flushScan(): Unit = if (nAcc > 0) {
      entropyByte(((acc << (8 - nAcc)) | ((1 << (8 - nAcc)) - 1)) & 0xFF)
      acc = 0; nAcc = 0
    }

    def sos(compIds: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit = {
      marker(0xDA); be16(6 + 2 * compIds.length)
      byte(compIds.length)
      compIds.foreach { id => byte(id); byte(0x00) }
      byte(ss); byte(se); byte((ah << 4) | al)
    }

    def eoi(): Array[Byte] = { marker(0xD9); out.toByteArray }
  }

  /** SOI through DHT, shared by the fixture encoders: one quant table
    * (DC quantizer 8, lossless for the fixture DC values; AC 16), a
    * frame of `sampling.length` components with ids 1.. on that table,
    * DC table 0 = categories 0..11 as 4-bit codes, and AC table 0 =
    * `acSymbols`, all coded at `acBits` bits in canonical order. */
  private def fixtureHeader(w: FixtureWriter, sof: Int, width: Int,
      height: Int, sampling: Seq[Int], acBits: Int,
      acSymbols: Seq[Int]): Unit = {
    w.marker(0xD8) // SOI
    w.marker(0xDB); w.be16(2 + 1 + 64); w.byte(0x00)
    w.byte(8)
    (1 until 64).foreach(_ => w.byte(16))
    w.marker(sof); w.be16(8 + 3 * sampling.length)
    w.byte(8); w.be16(height); w.be16(width); w.byte(sampling.length)
    sampling.zipWithIndex.foreach { case (s, c) =>
      w.byte(c + 1); w.byte(s); w.byte(0)
    }
    w.marker(0xC4); w.be16(2 + (17 + 12) + (17 + acSymbols.length))
    w.byte(0x00) // DC, id 0
    (1 to 16).foreach(len => w.byte(if (len == 4) 12 else 0))
    (0 to 11).foreach(w.byte)
    w.byte(0x10) // AC, id 0
    (1 to 16).foreach(len => w.byte(if (len == acBits) acSymbols.length else 0))
    acSymbols.foreach(w.byte)
  }

  private def requireFixture(width: Int, height: Int, channels: Int,
      multiple: Int): Unit = {
    require(width > 0 && height > 0 && width % multiple == 0 &&
      height % multiple == 0,
      s"fixture dimensions must be positive multiples of $multiple")
    require(channels == 1 || channels == 3, s"channels must be 1 or 3")
    require(width.toLong * height * channels <= (64L << 20),
      s"pixel fixture ${width}x$height exceeds the 64 MiB cap")
  }

  /** Block-constant fixture JPEG: every 8x8 block of the Y plane holds
    * one value — block (bx, by) has
    * `v = ((by * blocksX + bx) * 31 + seed) mod 256` — chroma is
    * neutral (128), so the decoded RGB equals (v, v, v) EXACTLY: with
    * the DC quantizer at 8, the quantized DC is v-128 with zero
    * rounding loss, every AC coefficient is genuinely zero, and the
    * neutral chroma makes the color transform the identity. Dimensions
    * must be multiples of 8 (fixture-grade; the decoder itself clips
    * partial edge blocks). */
  def jpegPixelBytes(width: Int, height: Int, channels: Int,
      seed: Long): Array[Byte] = {
    requireFixture(width, height, channels, 8)
    val w = new FixtureWriter
    // SOF0, 1x1 sampling; AC table 0 = the single EOB symbol as a 1-bit code
    fixtureHeader(w, 0xC0, width, height, Seq.fill(channels)(0x11), 1, Seq(0x00))
    w.sos(1 to channels, ss = 0, se = 63, ah = 0, al = 0)
    // per MCU, per component: DC category+bits, EOB
    val blocksX = width / 8
    val pred = new Array[Int](channels)
    var by = 0
    while (by < height / 8) {
      var bx = 0
      while (bx < blocksX) {
        val v = (((by * blocksX + bx) * 31L + seed) & 0xFF).toInt
        var c = 0
        while (c < channels) {
          val dc = (if (c == 0) v else 128) - 128 // chroma neutral
          w.putDc(dc - pred(c)); pred(c) = dc
          w.putBits(0, 1) // EOB (1-bit code 0)
          c += 1
        }
        bx += 1
      }
      by += 1
    }
    w.flushScan()
    w.eoi()
  }

  /** COMPLETE 4:2:0 SUBSAMPLED color JPEG: Y at 2x2 sampling, Cb/Cr at
    * 1x1, so each interleaved MCU carries 4 luma + 2 chroma blocks over
    * a 16x16 pixel macroblock — the layout virtually every camera/web
    * encoder emits. Each 16x16 macroblock is CONSTANT (value
    * `(tile*31 + seed) mod 256`, neutral chroma), so all four luma
    * blocks are DC-only, the chroma DCs are zero, and with the DC
    * quantizer at 8 the decode is LOSSLESS: decoded RGB = (v, v, v)
    * exactly, every pixel oracle-predictable. Dimensions must be
    * multiples of 16. */
  def jpegPixelBytes420(width: Int, height: Int, seed: Long): Array[Byte] = {
    requireFixture(width, height, 3, 16)
    val w = new FixtureWriter
    // SOF0: Y 2x2, Cb 1x1, Cr 1x1; the baseline encoder's tables
    fixtureHeader(w, 0xC0, width, height, Seq(0x22, 0x11, 0x11), 1, Seq(0x00))
    w.sos(1 to 3, ss = 0, se = 63, ah = 0, al = 0)
    def putBlock(diff: Int): Unit = { w.putDc(diff); w.putBits(0, 1) } // + EOB
    val mcusX = width / 16
    var lumaPred = 0
    var my = 0
    while (my < height / 16) {
      var mx = 0
      while (mx < mcusX) {
        val dc = (((my * mcusX + mx) * 31L + seed) & 0xFF).toInt - 128
        // four Y blocks, all the same constant tile value
        putBlock(dc - lumaPred); lumaPred = dc
        (1 to 3).foreach(_ => putBlock(0))
        // Cb then Cr, neutral
        putBlock(0); putBlock(0)
        mx += 1
      }
      my += 1
    }
    w.flushScan()
    w.eoi()
  }

  /** COMPLETE PROGRESSIVE (SOF2) JPEG: the same block-constant pattern
    * as [[jpegPixelBytes]], but spread across 2 + channels scans the
    * way real progressive encoders stage them —
    *
    *   1. interleaved DC first scan at successive-approximation
    *      Al=1 (each block's DC arrives with its low bit missing),
    *   2. a DC refinement scan (Ah=1, Al=0) delivering that low bit,
    *   3. one non-interleaved AC first scan per component (Ss=1,
    *      Se=63) whose entire payload is a single EOB run covering
    *      every block (all ACs are genuinely zero).
    *
    * Because the DC quantizer is 8 and the refinement restores the
    * exact low bit, decode is LOSSLESS: pixel (x, y) = the block
    * constant `(block*31 + seed) mod 256` on every channel, so a SQL
    * oracle predicts every byte while the decoder exercises dcFirst,
    * dcRefine, acFirst EOB-run accounting and the multi-scan
    * coefficient accumulation. Dimensions must be multiples of 8. */
  def jpegPixelBytesProg(width: Int, height: Int, channels: Int,
      seed: Long): Array[Byte] = {
    requireFixture(width, height, channels, 8)
    val w = new FixtureWriter
    // SOF2, all components 1x1; AC table 0 = the fifteen EOBRUN symbols
    // EOB0..EOB14 (r<<4) as 4-bit codes, canonical order => symbol r<<4
    // gets code value r at length 4
    fixtureHeader(w, 0xC2, width, height, Seq.fill(channels)(0x11), 4,
      (0 to 14).map(_ << 4))
    val blocksX = width / 8
    val nBlocks = blocksX * (height / 8)
    // every block in scan order, each component's quantized DC
    def eachDc(f: (Int, Int) => Unit): Unit = {
      var b = 0
      while (b < nBlocks) {
        var c = 0
        while (c < channels) {
          f(c, if (c == 0) ((b * 31L + seed) & 0xFF).toInt - 128 else 0)
          c += 1
        }
        b += 1
      }
    }
    // ---- scan 1: DC first, Al=1 (values arrive >> 1, diff-coded) ----
    w.sos(1 to channels, ss = 0, se = 0, ah = 0, al = 1)
    val pred = new Array[Int](channels)
    eachDc { (c, dc) =>
      val v1 = dc >> 1 // arithmetic: T.81 G.1.2.1
      w.putDc(v1 - pred(c)); pred(c) = v1
    }
    w.flushScan()
    // ---- scan 2: DC refinement, Ah=1 Al=0 (the missing low bit) ----
    w.sos(1 to channels, ss = 0, se = 0, ah = 1, al = 0)
    eachDc((_, dc) => w.putBits(dc & 1, 1))
    w.flushScan()
    // ---- scans 3..: per-component AC first scan, one EOB run -------
    (1 to channels).foreach { id =>
      w.sos(Seq(id), ss = 1, se = 63, ah = 0, al = 0)
      // single EOBn covering all nBlocks blocks: run = 2^r - 1 + extra
      // ends the current block plus `run` more
      var r = 0
      while ((1 << (r + 1)) <= nBlocks) r += 1
      w.putBits(r, 4) // AC code for symbol r<<4
      if (r > 0) w.putBits(nBlocks - (1 << r), r)
      w.flushScan()
    }
    w.eoi()
  }
}
