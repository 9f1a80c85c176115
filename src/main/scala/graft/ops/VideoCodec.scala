package graft.ops

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GeoExpr

/** Pure-JVM ISO-BMFF (MP4) container codec — the video sibling of
  * [[ImageCodec]]/[[AudioCodec]], built from the published ISO/IEC
  * 14496-12 box grammar (the "ISO base media file format", the same
  * public layout QuickTime documented first). The reference treats
  * video as opaque payloads; this layer makes the CONTAINER real:
  *
  *  - [[decode]] walks the box tree (compact + largesize + to-EOF
  *    sizes) and returns brand, movie timescale/duration, the first
  *    video track's pixel dimensions and sample-entry fourcc, track
  *    count and sample count — every field a training pipeline filters
  *    on before ever touching a codec.
  *  - [[decodeSampleTable]] reconstructs the full per-sample layout
  *    from the four sample-table boxes: decode times from `stts` run
  *    lengths, sizes from `stsz`, file offsets by walking `stsc`
  *    (sample→chunk runs) against `stco` chunk offsets, and keyframe
  *    flags from `stss`. That is real frame EXTRACTION at the
  *    container level: the exact byte ranges a codec would be handed.
  *  - what stays out of scope, loudly: entropy-decoding the extracted
  *    frame payloads (H.264/H.265 bitstreams need a codec library;
  *    [[Multimodal.decodeFeaturesStub]] remains the labeled stand-in
  *    for that single step).
  *
  * Corrupt/foreign payloads yield SQL NULL (never a throw, never a
  * fabricated value); internal inconsistencies (stsz vs stts count
  * mismatch, sample ranges outside the file, unbounded sample counts)
  * are rejected the same way. A matching minimal writer ([[mp4Bytes]])
  * generates complete, deterministic fixtures so the DuckDB oracle can
  * predict every decoded field by arithmetic.
  *
  * 100 TB shape: all ops are map-only projections; payload bytes never
  * reach a shuffle — only the narrow metadata/frame structs do.
  */
object VideoCodec {

  /** Container-level metadata of the first video track. */
  final case class Meta(brand: String, timescale: Int, durationMs: Long,
      width: Int, height: Int, trackCount: Int, codec: String,
      sampleCount: Long)

  /** One sample (frame) as laid out by the sample-table boxes. */
  final case class Sample(idx: Int, timeTicks: Long, size: Int,
      offset: Long, isSync: Boolean)

  /** Parsed sample table: media timescale + per-sample layout. */
  final case class SampleTable(timescale: Int, samples: Array[Sample])

  private final val MaxSamples = 1 << 20 // reject absurd tables, not OOM

  // ----------------------------------------------------------- writer

  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

  private def be32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
    ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

  private def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xFFFFFFFFL)

  private def cat(parts: Array[Byte]*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    parts.foreach(out.write)
    out.toByteArray
  }

  private def fourcc(s: String): Array[Byte] = {
    require(s.length == 4, s"fourcc must be 4 chars: $s")
    s.getBytes("US-ASCII")
  }

  private def boxOf(typ: String, parts: Array[Byte]*): Array[Byte] = {
    val payload = cat(parts: _*)
    cat(be32(payload.length + 8L), fourcc(typ), payload)
  }

  private def fullBoxOf(typ: String, version: Int, flags: Int,
      parts: Array[Byte]*): Array[Byte] =
    boxOf(typ, cat(Array(version.toByte, ((flags >> 16) & 0xFF).toByte,
      ((flags >> 8) & 0xFF).toByte, (flags & 0xFF).toByte), cat(parts: _*)))

  private val identityMatrix: Array[Byte] = cat(
    be32(0x00010000L), be32(0), be32(0),
    be32(0), be32(0x00010000L), be32(0),
    be32(0), be32(0), be32(0x40000000L))

  /** Deterministic size of sample `i` under `seed` (40..159 bytes). */
  def sampleSize(seed: Long, i: Int): Int =
    (40 + java.lang.Math.floorMod(seed + 7L * i, 120L)).toInt

  /** Deterministic payload byte `j` of sample `i` under `seed`. */
  def sampleByte(seed: Long, i: Int, j: Int): Int =
    java.lang.Math.floorMod(seed + 131L * i + 7L * j, 256L).toInt

  /** Decode time (in media ticks) of sample `s` under the fixture's
    * two-run stts: the first ceil(n/2) samples tick `delta`, the rest
    * `2*delta` — so run-length expansion is genuinely exercised. */
  def fixtureTimeTicks(nSamples: Int, delta: Int, s: Int): Long = {
    val h = (nSamples + 1) / 2
    if (s <= h) s.toLong * delta
    else h.toLong * delta + (s - h).toLong * 2L * delta
  }

  /** Total duration in media ticks of the fixture's stts table. */
  def fixtureDurationTicks(nSamples: Int, delta: Int): Long =
    fixtureTimeTicks(nSamples, delta, nSamples)

  private def ftypBox: Array[Byte] =
    boxOf("ftyp", fourcc("isom"), be32(0x200), fourcc("isom"),
      fourcc("mp42"))

  /** stsd with one VisualSampleEntry 'avc1' and a minimal (zero
    * parameter-set) avcC — syntactically complete per 14496-15. */
  private def stsdBox(width: Int, height: Int): Array[Byte] = {
    val avcC = boxOf("avcC",
      Array(1.toByte, 66.toByte, 0.toByte, 30.toByte, 0xFF.toByte,
        0xE0.toByte, 0.toByte))
    val avc1 = boxOf("avc1",
      new Array[Byte](6), be16(1), // reserved, data_reference_index
      new Array[Byte](16), // pre_defined/reserved
      be16(width), be16(height),
      be32(0x00480000L), be32(0x00480000L), // 72 dpi
      be32(0), be16(1), // reserved, frame_count
      new Array[Byte](32), be16(24), be16(0xFFFF), // depth, pre_defined=-1
      avcC)
    fullBoxOf("stsd", 0, 0, be32(1), avc1)
  }

  private def mvhdBox(timescale: Int, durTicks: Long): Array[Byte] =
    fullBoxOf("mvhd", 0, 0, be32(0), be32(0),
      be32(timescale.toLong), be32(durTicks), be32(0x00010000L),
      be16(0x0100), be16(0), new Array[Byte](8), identityMatrix,
      new Array[Byte](24), be32(2))

  /** One complete video trak around the given stbl. */
  private def trakBox(width: Int, height: Int, timescale: Int,
      durTicks: Long, stbl: Array[Byte]): Array[Byte] = {
    val url0 = fullBoxOf("url ", 0, 1)
    val dref = fullBoxOf("dref", 0, 0, be32(1), url0)
    val dinf = boxOf("dinf", dref)
    val vmhd = fullBoxOf("vmhd", 0, 1, be16(0), be16(0), be16(0), be16(0))
    val minf = boxOf("minf", vmhd, dinf, stbl)
    val hdlr = fullBoxOf("hdlr", 0, 0, be32(0), fourcc("vide"),
      new Array[Byte](12), "GraftVideo".getBytes("US-ASCII"),
      Array(0.toByte))
    val mdhd = fullBoxOf("mdhd", 0, 0, be32(0), be32(0),
      be32(timescale.toLong), be32(durTicks), be16(0x55C4), be16(0))
    val mdia = boxOf("mdia", mdhd, hdlr, minf)
    val tkhd = fullBoxOf("tkhd", 0, 3, be32(0), be32(0), be32(1),
      be32(0), be32(durTicks), new Array[Byte](8),
      be16(0), be16(0), be16(0), be16(0), identityMatrix,
      be32(width.toLong << 16), be32(height.toLong << 16))
    boxOf("trak", tkhd, mdia)
  }

  /** Complete deterministic MP4: ftyp + moov (one video track with a
    * full sample table over two stts runs, 4-sample chunks, sync
    * samples every 3rd) + mdat carrying the patterned sample bytes.
    * Every field the decoders return is a closed-form function of the
    * arguments, so the DuckDB oracle replays them by arithmetic. */
  def mp4Bytes(width: Int, height: Int, timescale: Int, delta: Int,
      nSamples: Int, seed: Long): Array[Byte] = {
    require(width > 0 && width <= 8192 && height > 0 && height <= 8192,
      "mp4 fixture dims out of range")
    require(timescale > 0 && delta > 0 && nSamples > 0 && nSamples <= 4096,
      "mp4 fixture params out of range")
    val sizes = Array.tabulate(nSamples)(sampleSize(seed, _))
    val durTicks = fixtureDurationTicks(nSamples, delta)
    val h = (nSamples + 1) / 2

    val ftyp = ftypBox
    val stsd = stsdBox(width, height)

    // stts: two runs (h @ delta, n-h @ 2*delta); one run when n == 1.
    val stts =
      if (nSamples == 1) fullBoxOf("stts", 0, 0, be32(1), be32(1), be32(delta))
      else fullBoxOf("stts", 0, 0, be32(2),
        be32(h), be32(delta), be32(nSamples - h), be32(2L * delta))

    // stsc: 4-sample chunks, a trailing partial chunk when n % 4 != 0.
    val full = nSamples / 4
    val rem = nSamples % 4
    val stscEntries: Seq[(Int, Int)] =
      if (full == 0) Seq(1 -> rem)
      else if (rem == 0) Seq(1 -> 4)
      else Seq(1 -> 4, (full + 1) -> rem)
    val stsc = fullBoxOf("stsc", 0, 0, be32(stscEntries.length),
      cat(stscEntries.map { case (first, spc) =>
        cat(be32(first), be32(spc), be32(1)) }: _*))

    val stsz = fullBoxOf("stsz", 0, 0, be32(0), be32(nSamples),
      cat(ArraySeq.unsafeWrapArray(sizes.map(s => be32(s.toLong))): _*))

    // stss: sync samples at 1-based 1, 4, 7, ...
    val syncs = (0 until nSamples).filter(_ % 3 == 0).map(_ + 1)
    val stss = fullBoxOf("stss", 0, 0, be32(syncs.length),
      cat(syncs.map(s => be32(s.toLong)): _*))

    val nChunks = (nSamples + 3) / 4
    def chunkOffsets(mdatPayloadStart: Long): Array[Byte] = {
      var cursor = mdatPayloadStart
      var s = 0
      cat((0 until nChunks).map { _ =>
        val off = cursor
        val inChunk = math.min(4, nSamples - s)
        (0 until inChunk).foreach { k => cursor += sizes(s + k) }
        s += inChunk
        be32(off)
      }: _*)
    }

    def moovOf(mdatPayloadStart: Long): Array[Byte] = {
      val stco = fullBoxOf("stco", 0, 0, be32(nChunks),
        chunkOffsets(mdatPayloadStart))
      val stbl = boxOf("stbl", stsd, stts, stsc, stsz, stss, stco)
      boxOf("moov", mvhdBox(timescale, durTicks),
        trakBox(width, height, timescale, durTicks, stbl))
    }

    // stco needs absolute offsets; moov's LENGTH is offset-independent,
    // so build once at 0 to measure, then rebuild with real offsets.
    val moovLen = moovOf(0L).length
    val mdatPayloadStart = ftyp.length.toLong + moovLen + 8L
    val moov = moovOf(mdatPayloadStart)

    val mdat = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < nSamples) {
      var j = 0
      while (j < sizes(i)) { mdat.write(sampleByte(seed, i, j)); j += 1 }
      i += 1
    }
    cat(ftyp, moov, boxOf("mdat", mdat.toByteArray))
  }

  /** The SAME logical movie as [[mp4Bytes]] in the FRAGMENTED layout
    * (DASH/CMAF: empty stbl + mvex/trex/mehd, then per-4-sample
    * moof+mdat pairs with tfhd default-base-is-moof, tfdt anchors and
    * fully explicit truns). Identical sample sizes/times/sync flags/
    * payload bytes, so flat-vs-fragmented equality is a testable law
    * and q140's oracle arithmetic carries over unchanged. mvhd
    * duration is 0 (as streaming muxers write it) — total duration
    * lives in mehd, exercising that metadata path. */
  def mp4FragBytes(width: Int, height: Int, timescale: Int, delta: Int,
      nSamples: Int, seed: Long): Array[Byte] = {
    require(width > 0 && width <= 8192 && height > 0 && height <= 8192,
      "mp4 fixture dims out of range")
    require(timescale > 0 && delta > 0 && nSamples > 0 && nSamples <= 4096,
      "mp4 fixture params out of range")
    val sizes = Array.tabulate(nSamples)(sampleSize(seed, _))
    val durTicks = fixtureDurationTicks(nSamples, delta)
    val h = (nSamples + 1) / 2
    def durOf(s: Int): Long = if (s < h) delta.toLong else 2L * delta
    def flagsOf(s: Int): Long = if (s % 3 == 0) 0L else 0x00010000L

    val stbl = boxOf("stbl", stsdBox(width, height),
      fullBoxOf("stts", 0, 0, be32(0)),
      fullBoxOf("stsc", 0, 0, be32(0)),
      fullBoxOf("stsz", 0, 0, be32(0), be32(0)),
      fullBoxOf("stco", 0, 0, be32(0)))
    val trex = fullBoxOf("trex", 0, 0, be32(1), be32(1), be32(0),
      be32(0), be32(0))
    val mehd = fullBoxOf("mehd", 0, 0, be32(durTicks))
    val mvex = boxOf("mvex", mehd, trex)
    val moov = boxOf("moov", mvhdBox(timescale, 0L),
      trakBox(width, height, timescale, durTicks, stbl), mvex)

    val segs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var i = 0
    var seq = 1
    while (i < nSamples) {
      val cnt = math.min(4, nSamples - i)
      val mfhd = fullBoxOf("mfhd", 0, 0, be32(seq.toLong))
      val tfhd = fullBoxOf("tfhd", 0, 0x020000, be32(1)) // base-is-moof
      val tfdt = fullBoxOf("tfdt", 1, 0,
        be64(fixtureTimeTicks(nSamples, delta, i)))
      val entries = cat((0 until cnt).map { k =>
        cat(be32(durOf(i + k)), be32(sizes(i + k).toLong),
          be32(flagsOf(i + k))) }: _*)
      // trun flags: data-offset | duration | size | flags per sample
      def trunOf(dataOff: Long) = fullBoxOf("trun", 0, 0x701,
        be32(cnt.toLong), be32(dataOff), entries)
      def moofOf(dataOff: Long) = boxOf("moof", mfhd,
        boxOf("traf", tfhd, tfdt, trunOf(dataOff)))
      // data_offset is moof-relative; moof length is offset-independent
      val moofLen = moofOf(0L).length
      val moof = moofOf(moofLen + 8L) // mdat payload starts after header
      val mdat = new java.io.ByteArrayOutputStream()
      var k = 0
      while (k < cnt) {
        var j = 0
        while (j < sizes(i + k)) { mdat.write(sampleByte(seed, i + k, j)); j += 1 }
        k += 1
      }
      segs += moof
      segs += boxOf("mdat", mdat.toByteArray)
      i += cnt
      seq += 1
    }
    cat(Seq(ftypBox, moov) ++ segs: _*)
  }

  // ----------------------------------------------------------- parser

  private def u32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xFFL) << 24) | ((b(p + 1) & 0xFFL) << 16) |
      ((b(p + 2) & 0xFFL) << 8) | (b(p + 3) & 0xFFL)

  private def u64(b: Array[Byte], p: Int): Long =
    (u32(b, p) << 32) | u32(b, p + 4)

  /** Children of the byte range [start, end): (type, payloadStart,
    * payloadEnd) per the 14496-12 box grammar — compact 32-bit sizes,
    * size==1 largesize, size==0 to-end-of-range. Malformed sizes end
    * the walk (the caller then simply misses boxes and returns None). */
  private def boxChildren(b: Array[Byte], start: Int, end: Int): List[(String, Int, Int)] = {
    val out = scala.collection.mutable.ListBuffer.empty[(String, Int, Int)]
    var p = start
    while (p + 8 <= end) {
      val size32 = u32(b, p)
      val typ = new String(b, p + 4, 4, "US-ASCII")
      var payloadStart = p + 8
      val boxEnd: Long =
        if (size32 == 0L) end.toLong
        else if (size32 == 1L) {
          if (p + 16 > end) return out.toList
          payloadStart = p + 16
          p + u64(b, p + 8)
        } else p + size32
      if (boxEnd < payloadStart || boxEnd > end) return out.toList
      out += ((typ, payloadStart, boxEnd.toInt))
      if (boxEnd.toInt <= p) return out.toList // no forward progress
      p = boxEnd.toInt
    }
    out.toList
  }

  private def child(b: Array[Byte], boxes: List[(String, Int, Int)],
      typ: String): Option[(Int, Int)] =
    boxes.collectFirst { case (t, s, e) if t == typ => (s, e) }

  /** (timescale, duration) from a mvhd/mdhd payload, either version. */
  private def tsDuration(b: Array[Byte], s: Int, e: Int): Option[(Int, Long)] = {
    if (s + 4 > e) return None
    val version = b(s) & 0xFF
    if (version == 0) {
      if (s + 20 > e) None
      else Some((u32(b, s + 12).toInt, u32(b, s + 16)))
    } else if (version == 1) {
      if (s + 32 > e) None
      else Some((u32(b, s + 20).toInt, u64(b, s + 24)))
    } else None
  }

  /** (width, height) from a tkhd payload (16.16 fixed point). */
  private def tkhdDims(b: Array[Byte], s: Int, e: Int): Option[(Int, Int)] = {
    if (s + 4 > e) return None
    val version = b(s) & 0xFF
    // ver/flags(4) + times(8|16) + id(4) + res(4) + dur(4|8) + res(8)
    // + layer/alt/vol/res(8) + matrix(36) -> width/height trailer
    val base = if (version == 0) 4 + 8 + 4 + 4 + 4 else 4 + 16 + 4 + 4 + 8
    val p = s + base + 8 + 8 + 36
    if (p + 8 > e) None
    else Some(((u32(b, p) >> 16).toInt, (u32(b, p + 4) >> 16).toInt))
  }

  private def handlerType(b: Array[Byte], s: Int, e: Int): Option[String] =
    if (s + 12 > e) None else Some(new String(b, s + 8, 4, "US-ASCII"))

  /** Walk to the first video trak's stbl; also yields mdhd timescale. */
  private def firstVideoStbl(b: Array[Byte], moovS: Int, moovE: Int): Option[(Int, List[(String, Int, Int)])] = {
    val moovKids = boxChildren(b, moovS, moovE)
    moovKids.collect { case ("trak", ts, te) =>
      val trakKids = boxChildren(b, ts, te)
      for {
        (mdS, mdE) <- child(b, trakKids, "mdia")
        mdiaKids = boxChildren(b, mdS, mdE)
        (hS, hE) <- child(b, mdiaKids, "hdlr")
        ht <- handlerType(b, hS, hE) if ht == "vide"
        (mhS, mhE) <- child(b, mdiaKids, "mdhd")
        (mediaTs, _) <- tsDuration(b, mhS, mhE)
        (mfS, mfE) <- child(b, mdiaKids, "minf")
        (sbS, sbE) <- child(b, boxChildren(b, mfS, mfE), "stbl")
      } yield (mediaTs, boxChildren(b, sbS, sbE))
    }.flatten.headOption
  }

  /** Container metadata of the first video track; None for anything
    * that is not a well-formed ISO-BMFF file with one. Fragmented
    * files (empty stbl + moof fragments) report the trun-summed sample
    * count and the mehd/fragment-derived duration. */
  def decode(payload: Array[Byte]): Option[Meta] = {
    if (payload == null || payload.length < 16) return None
    val top = boxChildren(payload, 0, payload.length)
    for {
      (ftS, ftE) <- child(payload, top, "ftyp")
      if ftE - ftS >= 8 && top.head._1 == "ftyp"
      brand = new String(payload, ftS, 4, "US-ASCII")
      (mvS, mvE) <- child(payload, top, "moov")
      moovKids = boxChildren(payload, mvS, mvE)
      (mhS, mhE) <- child(payload, moovKids, "mvhd")
      (timescale, durTicks) <- tsDuration(payload, mhS, mhE)
      if timescale > 0
      trakCount = moovKids.count(_._1 == "trak")
      trakKids <- moovKids.collectFirst { case ("trak", s, e) =>
        boxChildren(payload, s, e) }
      (tkS, tkE) <- child(payload, trakKids, "tkhd")
      (w, h) <- tkhdDims(payload, tkS, tkE)
      (_, stbl) <- firstVideoStbl(payload, mvS, mvE)
      (sdS, sdE) <- child(payload, stbl, "stsd")
      if sdE - sdS >= 16
      codec = new String(payload, sdS + 12, 4, "US-ASCII")
      (szS, szE) <- child(payload, stbl, "stsz")
      if szE - szS >= 12
      stblCount = u32(payload, szS + 8)
      (nSamples, duration) <- {
        if (stblCount > 0) Some((stblCount, durTicks))
        else decodeFragments(payload, top, moovKids).map { frags =>
          val endTicks =
            if (durTicks > 0) durTicks
            else mehdDuration(payload, moovKids).getOrElse(
              frags.lastOption.map(s => s.timeTicks +
                fragEndDelta(frags)).getOrElse(0L))
          (frags.length.toLong, endTicks)
        }
      }
    } yield Meta(brand, timescale,
      duration * 1000L / timescale, w, h, trakCount, codec, nSamples)
  }

  /** Last-sample duration estimate for fragment files without mehd:
    * the gap between the last two decode times (or 0 for <2 samples). */
  private def fragEndDelta(frags: Array[Sample]): Long =
    if (frags.length < 2) 0L
    else frags(frags.length - 1).timeTicks - frags(frags.length - 2).timeTicks

  /** mvex/mehd fragment_duration (v0/v1), when present. */
  private def mehdDuration(b: Array[Byte], moovKids: List[(String, Int, Int)]): Option[Long] =
    for {
      (mxS, mxE) <- child(b, moovKids, "mvex")
      (meS, meE) <- child(b, boxChildren(b, mxS, mxE), "mehd")
      if meE - meS >= 8
      v = b(meS) & 0xFF
      d <- if (v == 0) Some(u32(b, meS + 4))
           else if (v == 1 && meE - meS >= 12) Some(u64(b, meS + 4))
           else None
    } yield d

  /** Full per-sample layout of the first video track; None when the
    * tables are absent, mutually inconsistent, or describe byte ranges
    * outside the payload. Flat files read the four stbl tables;
    * fragmented files (empty stbl) walk every top-level moof's
    * tfhd/tfdt/trun instead — both yield the same Sample view. */
  def decodeSampleTable(payload: Array[Byte]): Option[SampleTable] = {
    if (payload == null || payload.length < 16) return None
    val top = boxChildren(payload, 0, payload.length)
    for {
      _ <- child(payload, top, "ftyp")
      (mvS, mvE) <- child(payload, top, "moov")
      moovKids = boxChildren(payload, mvS, mvE)
      (mediaTs, stbl) <- firstVideoStbl(payload, mvS, mvE)
      if mediaTs > 0
      flat = for {
        times <- sttsTimes(payload, stbl)
        sizes <- stszSizes(payload, stbl)
        if times.length == sizes.length
        offsets <- chunkedOffsets(payload, stbl, sizes)
        syncs = stssSet(payload, stbl, times.length)
      } yield Array.tabulate(times.length) { i =>
        Sample(i, times(i), sizes(i), offsets(i), syncs(i)) }
      samples <- flat.filter(_.nonEmpty)
        .orElse(decodeFragments(payload, top, moovKids))
      if samples.forall(s =>
        s.offset >= 0 && s.offset + s.size <= payload.length)
    } yield SampleTable(mediaTs, samples)
  }

  /** trex defaults (duration, size, flags) from moov/mvex, if any. */
  private def trexDefaults(b: Array[Byte], moovKids: List[(String, Int, Int)]): (Long, Long, Long) =
    (for {
      (mxS, mxE) <- child(b, moovKids, "mvex")
      (txS, txE) <- child(b, boxChildren(b, mxS, mxE), "trex")
      if txE - txS >= 24
    } yield (u32(b, txS + 12), u32(b, txS + 16), u32(b, txS + 20)))
      .getOrElse((0L, 0L, 0L))

  /** Samples of a fragmented file: walk top-level moof boxes in file
    * order; per traf, resolve the base offset (explicit
    * base_data_offset, or the moof start under default-base-is-moof /
    * by default for the first trun), the decode-time anchor (tfdt, or
    * the running clock), and expand each trun's per-sample
    * duration/size/flags with tfhd-then-trex defaults. */
  private def decodeFragments(b: Array[Byte], top: List[(String, Int, Int)],
      moovKids: List[(String, Int, Int)]): Option[Array[Sample]] = {
    val (trexDur, trexSize, trexFlags) = trexDefaults(b, moovKids)
    val out = scala.collection.mutable.ArrayBuffer.empty[Sample]
    var clock = 0L
    var any = false
    for ((typ, mfPayloadS, mfE) <- top if typ == "moof") {
      any = true
      val moofStart = mfPayloadS - 8 // box header precedes the payload
      val moofKids = boxChildren(b, mfPayloadS, mfE)
      for ((tfTyp, tfS, tfE) <- moofKids if tfTyp == "traf") {
        val trafKids = boxChildren(b, tfS, tfE)
        // ---- tfhd: flags decide which fields follow track_ID
        val (baseOff, dfltDur, dfltSize, dfltFlags) =
          child(b, trafKids, "tfhd") match {
            case Some((s, e)) if s + 8 <= e =>
              val flags = u32(b, s) & 0xFFFFFF
              var p = s + 8 // ver/flags + track_ID
              var base: Option[Long] = None
              if ((flags & 0x1) != 0) { // base-data-offset
                if (p + 8 > e) return None
                base = Some(u64(b, p)); p += 8
              }
              if ((flags & 0x2) != 0) p += 4 // sample-description-index
              var dD = trexDur
              if ((flags & 0x8) != 0) {
                if (p + 4 > e) return None
                dD = u32(b, p); p += 4
              }
              var dS = trexSize
              if ((flags & 0x10) != 0) {
                if (p + 4 > e) return None
                dS = u32(b, p); p += 4
              }
              var dF = trexFlags
              if ((flags & 0x20) != 0) {
                if (p + 4 > e) return None
                dF = u32(b, p); p += 4
              }
              val resolved = base.getOrElse(moofStart.toLong)
              (resolved, dD, dS, dF)
            case _ => return None
          }
        // ---- tfdt: absolute decode-time anchor (else running clock)
        var t = child(b, trafKids, "tfdt") match {
          case Some((s, e)) if s + 8 <= e =>
            val v = b(s) & 0xFF
            if (v == 1 && s + 12 <= e) u64(b, s + 4)
            else u32(b, s + 4)
          case _ => clock
        }
        // ---- truns, in order; data cursor continues across truns
        var cursor = -1L
        for ((trTyp, s, e) <- trafKids if trTyp == "trun") {
          if (s + 8 > e) return None
          val flags = u32(b, s) & 0xFFFFFF
          val n = u32(b, s + 4)
          if (n < 0 || out.length + n > MaxSamples) return None
          var p = s + 8
          if ((flags & 0x1) != 0) { // data-offset (signed, base-rel)
            if (p + 4 > e) return None
            cursor = baseOff + u32(b, p).toInt; p += 4
          } else if (cursor < 0) cursor = baseOff
          if ((flags & 0x4) != 0) p += 4 // first-sample-flags: skip
          var k = 0L
          while (k < n) {
            var dur = dfltDur
            if ((flags & 0x100) != 0) {
              if (p + 4 > e) return None
              dur = u32(b, p); p += 4
            }
            var size = dfltSize
            if ((flags & 0x200) != 0) {
              if (p + 4 > e) return None
              size = u32(b, p); p += 4
            }
            var sFlags = dfltFlags
            if ((flags & 0x400) != 0) {
              if (p + 4 > e) return None
              sFlags = u32(b, p); p += 4
            }
            if ((flags & 0x800) != 0) p += 4 // cts offset: skip
            if (size < 0 || size > Int.MaxValue) return None
            out += Sample(out.length, t, size.toInt, cursor,
              (sFlags & 0x10000L) == 0L)
            cursor += size
            t += dur
            k += 1
          }
        }
        clock = t
      }
    }
    if (!any) None else Some(out.toArray)
  }

  /** Per-sample decode times from stts run-length entries. */
  private def sttsTimes(b: Array[Byte], stbl: List[(String, Int, Int)]): Option[Array[Long]] =
    child(b, stbl, "stts").flatMap { case (s, e) =>
      if (s + 8 > e) return None
      val n = u32(b, s + 4)
      if (n < 0 || n > MaxSamples) return None
      if (s + 8 + n * 8 > e) return None
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var t = 0L
      var i = 0
      while (i < n) {
        val count = u32(b, s + 8 + i.toInt * 8)
        val delta = u32(b, s + 12 + i.toInt * 8)
        if (count < 0 || out.length + count > MaxSamples) return None
        var k = 0L
        while (k < count) { out += t; t += delta; k += 1 }
        i += 1
      }
      Some(out.toArray)
    }

  private def stszSizes(b: Array[Byte], stbl: List[(String, Int, Int)]): Option[Array[Int]] =
    child(b, stbl, "stsz").flatMap { case (s, e) =>
      if (s + 12 > e) return None
      val fixed = u32(b, s + 4)
      val n = u32(b, s + 8)
      if (n < 0 || n > MaxSamples) return None
      if (fixed != 0L) Some(Array.fill(n.toInt)(fixed.toInt))
      else if (s + 12 + n * 4 > e) None
      else Some(Array.tabulate(n.toInt)(i => u32(b, s + 12 + i * 4).toInt))
    }

  /** File offset per sample: stsc maps samples into chunks (run-length
    * over chunk indices), stco anchors each chunk, sizes accumulate
    * within a chunk. */
  private def chunkedOffsets(b: Array[Byte], stbl: List[(String, Int, Int)],
      sizes: Array[Int]): Option[Array[Long]] = {
    val stscEntries = child(b, stbl, "stsc").flatMap { case (s, e) =>
      if (s + 8 > e) return None
      val n = u32(b, s + 4)
      if (n < 0 || n > MaxSamples || s + 8 + n * 12 > e) return None
      Some(Array.tabulate(n.toInt)(i => (
        u32(b, s + 8 + i * 12).toInt, // first_chunk (1-based)
        u32(b, s + 12 + i * 12).toInt))) // samples_per_chunk
    }.getOrElse(return None)
    // stco (32-bit) or co64 (64-bit: files past 4 GiB — the form a
    // 100 TB video lake actually holds)
    val chunkOffs = child(b, stbl, "stco").flatMap { case (s, e) =>
      if (s + 8 > e) return None
      val n = u32(b, s + 4)
      if (n < 0 || n > MaxSamples || s + 8 + n * 4 > e) return None
      Some(Array.tabulate(n.toInt)(i => u32(b, s + 8 + i * 4)))
    }.orElse(child(b, stbl, "co64").flatMap { case (s, e) =>
      if (s + 8 > e) return None
      val n = u32(b, s + 4)
      if (n < 0 || n > MaxSamples || s + 8 + n * 8 > e) return None
      Some(Array.tabulate(n.toInt)(i => u64(b, s + 8 + i * 8)))
    }).getOrElse(return None)
    if (stscEntries.isEmpty && sizes.isEmpty)
      return Some(Array.empty[Long])
    if (stscEntries.isEmpty || chunkOffs.isEmpty) return None

    val out = new Array[Long](sizes.length)
    var sample = 0
    var entry = 0
    var chunk = 0 // 0-based
    while (sample < sizes.length) {
      if (chunk >= chunkOffs.length) return None
      // advance the stsc run when the next entry starts at this chunk
      while (entry + 1 < stscEntries.length &&
        stscEntries(entry + 1)._1 - 1 <= chunk) entry += 1
      val spc = stscEntries(entry)._2
      if (spc <= 0) return None
      var within = 0L
      var k = 0
      while (k < spc && sample < sizes.length) {
        out(sample) = chunkOffs(chunk) + within
        within += sizes(sample)
        sample += 1
        k += 1
      }
      chunk += 1
    }
    Some(out)
  }

  /** Sync-sample membership; an absent stss means every sample is a
    * keyframe (14496-12 §8.6.2). */
  private def stssSet(b: Array[Byte], stbl: List[(String, Int, Int)],
      nSamples: Int): Array[Boolean] =
    child(b, stbl, "stss") match {
      case None => Array.fill(nSamples)(true)
      case Some((s, e)) =>
        val out = new Array[Boolean](nSamples)
        if (s + 8 <= e) {
          val n = u32(b, s + 4)
          if (n >= 0 && n <= MaxSamples && s + 8 + n * 4 <= e) {
            var i = 0
            while (i < n) {
              val idx = u32(b, s + 8 + i.toInt * 4).toInt - 1 // 1-based
              if (idx >= 0 && idx < nSamples) out(idx) = true
              i += 1
            }
          }
        }
        out
    }

  // ------------------------------------------------------ expressions

  val metaSchema: StructType = StructType(Seq(
    StructField("brand", StringType),
    StructField("timescale", IntegerType),
    StructField("duration_ms", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("tracks", IntegerType),
    StructField("codec", StringType),
    StructField("n_samples", LongType)))

  /** video_meta(payload) -> struct(brand, timescale, duration_ms,
    * width, height, tracks, codec, n_samples); dispatches over both
    * container families (ISO-BMFF incl. fragmented, then WebM/
    * Matroska); NULL for payloads that are neither. */
  case class VideoMetaExpr(payload: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(payload)
    override def dataType: DataType = metaSchema
    override protected def evalNotNull(a: Array[Any]): Any =
      decode(a(0).asInstanceOf[Array[Byte]])
        .orElse(WebmCodec.decode(a(0).asInstanceOf[Array[Byte]])) match {
        case Some(m) => new GenericInternalRow(Array[Any](
          UTF8String.fromString(m.brand), m.timescale, m.durationMs,
          m.width, m.height, m.trackCount,
          UTF8String.fromString(m.codec), m.sampleCount))
        case None => null
      }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(payload = c(0))
  }

  val frameSampleSchema: StructType = StructType(Seq(
    StructField("frame_idx", IntegerType),
    StructField("sample_idx", IntegerType),
    StructField("time_ms", LongType),
    StructField("n_bytes", IntegerType),
    StructField("is_sync", BooleanType),
    StructField("checksum", LongType)))

  /** video_frame_samples(payload, n) -> array<struct(frame_idx,
    * sample_idx, time_ms, n_bytes, is_sync, checksum)>: n evenly
    * spaced samples (indices `k*nSamples div n`, deduplicated) located
    * via the REAL sample table; each row carries the sample's decode
    * time, byte size, keyframe flag, and the position-weighted
    * checksum over its ACTUAL mdat byte range — exactly the bytes a
    * codec would receive. NULL when the container/sample table is
    * undecodable. */
  case class VideoFrameSamplesExpr(payload: Expression, n: Expression)
      extends GeoExpr {
    override def children: Seq[Expression] = Seq(payload, n)
    override def dataType: DataType = ArrayType(frameSampleSchema)
    override protected def evalNotNull(a: Array[Any]): Any = {
      val nn = int(a(1))
      if (nn <= 0) return null
      val bytes = a(0).asInstanceOf[Array[Byte]]
      decodeSampleTable(bytes).orElse(WebmCodec.decodeSampleTable(bytes)) match {
        case Some(t) if t.samples.nonEmpty =>
          val nS = t.samples.length
          val idxs = (0 until nn).map(k => k * nS / nn).distinct
          val rows = idxs.zipWithIndex.map { case (si, k) =>
            val s = t.samples(si)
            var wsum = 0L
            var j = 0
            while (j < s.size) {
              wsum += j.toLong * (bytes((s.offset + j).toInt) & 0xFF)
              j += 1
            }
            new GenericInternalRow(Array[Any](k, s.idx,
              s.timeTicks * 1000L / t.timescale, s.size, s.isSync,
              wsum)): Any
          }
          new GenericArrayData(rows.toArray)
        case _ => null
      }
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(payload = c(0), n = c(1))
  }

  /** mp4_fixture(width, height, timescale, delta, n_samples, seed) ->
    * complete deterministic MP4 bytes ([[mp4Bytes]]). */
  case class Mp4FixtureExpr(wpx: Expression, hpx: Expression,
      timescale: Expression, delta: Expression, nSamples: Expression,
      seed: Expression) extends GeoExpr {
    override def children: Seq[Expression] =
      Seq(wpx, hpx, timescale, delta, nSamples, seed)
    override def dataType: DataType = BinaryType
    override protected def evalNotNull(a: Array[Any]): Any =
      mp4Bytes(int(a(0)), int(a(1)), int(a(2)), int(a(3)), int(a(4)),
        lng(a(5)))
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(wpx = c(0), hpx = c(1), timescale = c(2), delta = c(3),
        nSamples = c(4), seed = c(5))
  }

  /** mp4_frag_fixture(width, height, timescale, delta, n_samples,
    * seed) -> the SAME logical movie in the fragmented (DASH) layout
    * ([[mp4FragBytes]]). */
  case class Mp4FragFixtureExpr(wpx: Expression, hpx: Expression,
      timescale: Expression, delta: Expression, nSamples: Expression,
      seed: Expression) extends GeoExpr {
    override def children: Seq[Expression] =
      Seq(wpx, hpx, timescale, delta, nSamples, seed)
    override def dataType: DataType = BinaryType
    override protected def evalNotNull(a: Array[Any]): Any =
      mp4FragBytes(int(a(0)), int(a(1)), int(a(2)), int(a(3)), int(a(4)),
        lng(a(5)))
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(wpx = c(0), hpx = c(1), timescale = c(2), delta = c(3),
        nSamples = c(4), seed = c(5))
  }

  /** webm_fixture(width, height, delta, n_samples, seed) -> the SAME
    * logical movie in WebM/EBML form ([[WebmCodec.webmBytes]]). */
  case class WebmFixtureExpr(wpx: Expression, hpx: Expression,
      delta: Expression, nSamples: Expression, seed: Expression)
      extends GeoExpr {
    override def children: Seq[Expression] =
      Seq(wpx, hpx, delta, nSamples, seed)
    override def dataType: DataType = BinaryType
    override protected def evalNotNull(a: Array[Any]): Any =
      WebmCodec.webmBytes(int(a(0)), int(a(1)), int(a(2)), int(a(3)),
        lng(a(4)))
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(wpx = c(0), hpx = c(1), delta = c(2), nSamples = c(3),
        seed = c(4))
  }

  def webm_fixture(width: Column, height: Column, delta: Column,
      nSamples: Column, seed: Column): Column =
    toCol(WebmFixtureExpr(toExpr(width), toExpr(height), toExpr(delta),
      toExpr(nSamples), toExpr(seed)))

  def video_meta(payload: Column): Column = toCol(VideoMetaExpr(toExpr(payload)))

  def video_frame_samples(payload: Column, n: Column): Column =
    toCol(VideoFrameSamplesExpr(toExpr(payload), toExpr(n)))

  def mp4_fixture(width: Column, height: Column, timescale: Column,
      delta: Column, nSamples: Column, seed: Column): Column =
    toCol(Mp4FixtureExpr(toExpr(width), toExpr(height), toExpr(timescale),
      toExpr(delta), toExpr(nSamples), toExpr(seed)))

  def mp4_frag_fixture(width: Column, height: Column, timescale: Column,
      delta: Column, nSamples: Column, seed: Column): Column =
    toCol(Mp4FragFixtureExpr(toExpr(width), toExpr(height), toExpr(timescale),
      toExpr(delta), toExpr(nSamples), toExpr(seed)))
}
