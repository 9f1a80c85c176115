package graft.ops

/** Pure-JVM WebM/Matroska container codec — the EBML sibling of the
  * ISO-BMFF path in [[VideoCodec]], built from the published EBML
  * grammar (RFC 8794) and the Matroska element registry. Covers the
  * second half of real-world web video:
  *
  *  - [[decode]] walks EBML header + Segment(Info, Tracks, Clusters):
  *    DocType as the brand, TimestampScale/Duration as the movie
  *    clock, the first video TrackEntry's PixelWidth/PixelHeight and
  *    CodecID, track count, and the SimpleBlock count as n_samples.
  *  - [[decodeSampleTable]] is REAL frame extraction: every
  *    SimpleBlock of the video track yields (decode time = cluster
  *    Timestamp + relative s16, payload byte range, keyframe flag) —
  *    the exact bytes a VP8/VP9/AV1 decoder would be handed. Laced
  *    blocks are rejected loudly (None), not mis-sliced.
  *
  * Shares [[VideoCodec.Meta]]/[[VideoCodec.Sample]] so the Spark
  * expression surface dispatches over both container families with
  * one schema. Same never-throw contract: corrupt/foreign payloads
  * yield None; a matching deterministic writer ([[webmBytes]]) lets
  * the DuckDB oracle replay every decoded field by arithmetic.
  */
object WebmCodec {

  import VideoCodec.{Meta, Sample, SampleTable}

  private final val MaxSamples = 1 << 20

  // ------------------------------------------------------------ vints

  /** Element ID at `p`: value WITH the marker bit (Matroska keeps it),
    * plus encoded length; None on malformed/oversize. */
  private def readId(b: Array[Byte], p: Int, end: Int): Option[(Long, Int)] = {
    if (p >= end) return None
    val first = b(p) & 0xFF
    if (first == 0) return None
    val len = Integer.numberOfLeadingZeros(first) - 24 + 1
    if (len < 1 || len > 4 || p + len > end) return None
    var v = first.toLong
    var i = 1
    while (i < len) { v = (v << 8) | (b(p + i) & 0xFF); i += 1 }
    Some((v, len))
  }

  /** Data size at `p`: marker removed; all-ones ("unknown size") is
    * rejected — every writer of finite files emits known sizes. */
  private def readSize(b: Array[Byte], p: Int, end: Int): Option[(Long, Int)] = {
    if (p >= end) return None
    val first = b(p) & 0xFF
    if (first == 0) return None
    val len = Integer.numberOfLeadingZeros(first) - 24 + 1
    if (len < 1 || len > 8 || p + len > end) return None
    var v = (first & (0xFF >>> len)).toLong
    var all1 = (first & (0xFF >>> len)) == (0xFF >>> len)
    var i = 1
    while (i < len) {
      v = (v << 8) | (b(p + i) & 0xFF)
      all1 &&= (b(p + i) & 0xFF) == 0xFF
      i += 1
    }
    if (all1) None else Some((v, len))
  }

  /** Children of [start, end): (id, payloadStart, payloadEnd). */
  private def walk(b: Array[Byte], start: Int, end: Int): List[(Long, Int, Int)] = {
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Int, Int)]
    var p = start
    var ok = true
    while (ok && p < end) {
      (for {
        (id, idLen) <- readId(b, p, end)
        (size, szLen) <- readSize(b, p + idLen, end)
        pStart = p + idLen + szLen
        pEnd = pStart.toLong + size
        if pEnd <= end
      } yield (id, pStart, pEnd.toInt)) match {
        case Some(el) =>
          out += el
          p = el._3
        case None => ok = false
      }
    }
    out.toList
  }

  private def firstOf(els: List[(Long, Int, Int)], id: Long): Option[(Int, Int)] =
    els.collectFirst { case (i, s, e) if i == id => (s, e) }

  private def uintOf(b: Array[Byte], s: Int, e: Int): Long = {
    var v = 0L
    var p = s
    while (p < e && p - s < 8) { v = (v << 8) | (b(p) & 0xFF); p += 1 }
    v
  }

  private def floatOf(b: Array[Byte], s: Int, e: Int): Option[Double] =
    (e - s) match {
      case 4 => Some(java.lang.Float.intBitsToFloat(uintOf(b, s, e).toInt).toDouble)
      case 8 => Some(java.lang.Double.longBitsToDouble(uintOf(b, s, e)))
      case _ => None
    }

  // element IDs (Matroska registry)
  private final val IdEbml = 0x1A45DFA3L
  private final val IdDocType = 0x4282L
  private final val IdSegment = 0x18538067L
  private final val IdInfo = 0x1549A966L
  private final val IdTimestampScale = 0x2AD7B1L
  private final val IdDuration = 0x4489L
  private final val IdTracks = 0x1654AE6BL
  private final val IdTrackEntry = 0xAEL
  private final val IdTrackNumber = 0xD7L
  private final val IdTrackType = 0x83L
  private final val IdCodecID = 0x86L
  private final val IdVideo = 0xE0L
  private final val IdPixelWidth = 0xB0L
  private final val IdPixelHeight = 0xBAL
  private final val IdCluster = 0x1F43B675L
  private final val IdTimestamp = 0xE7L
  private final val IdSimpleBlock = 0xA3L

  /** First video TrackEntry: (trackNumber, width, height, codecId). */
  private def firstVideoTrack(b: Array[Byte], segKids: List[(Long, Int, Int)]): Option[(Long, Int, Int, String)] =
    firstOf(segKids, IdTracks).flatMap { case (tS, tE) =>
      walk(b, tS, tE).collect { case (IdTrackEntry, s, e) =>
        val kids = walk(b, s, e)
        for {
          (ttS, ttE) <- firstOf(kids, IdTrackType)
          if uintOf(b, ttS, ttE) == 1L // video
          (tnS, tnE) <- firstOf(kids, IdTrackNumber)
          (vS, vE) <- firstOf(kids, IdVideo)
          vKids = walk(b, vS, vE)
          (wS, wE) <- firstOf(vKids, IdPixelWidth)
          (hS, hE) <- firstOf(vKids, IdPixelHeight)
          codec = firstOf(kids, IdCodecID)
            .map { case (cS, cE) => new String(b, cS, cE - cS, "US-ASCII") }
            .getOrElse("")
        } yield (uintOf(b, tnS, tnE), uintOf(b, wS, wE).toInt,
          uintOf(b, hS, hE).toInt, codec)
      }.flatten.headOption
    }

  /** Container metadata; None unless this is a well-formed EBML file
    * with a Segment and a video track. */
  def decode(payload: Array[Byte]): Option[Meta] = {
    if (payload == null || payload.length < 8) return None
    val top = walk(payload, 0, payload.length)
    for {
      (hS, hE) <- firstOf(top, IdEbml)
      if top.headOption.exists(_._1 == IdEbml)
      brand = firstOf(walk(payload, hS, hE), IdDocType)
        .map { case (s, e) => new String(payload, s, e - s, "US-ASCII") }
        .getOrElse("matroska")
      (segS, segE) <- firstOf(top, IdSegment)
      segKids = walk(payload, segS, segE)
      (inS, inE) <- firstOf(segKids, IdInfo)
      infoKids = walk(payload, inS, inE)
      tsScale = firstOf(infoKids, IdTimestampScale)
        .map { case (s, e) => uintOf(payload, s, e) }.getOrElse(1000000L)
      if tsScale > 0 && tsScale <= 1000000000L
      durMs = firstOf(infoKids, IdDuration)
        .flatMap { case (s, e) => floatOf(payload, s, e) }
        .map(d => (d * tsScale / 1e6).toLong).getOrElse(0L)
      (_, w, h, codec) <- firstVideoTrack(payload, segKids)
      trackCount = firstOf(segKids, IdTracks).map { case (s, e) =>
        walk(payload, s, e).count(_._1 == IdTrackEntry) }.getOrElse(0)
      nBlocks = segKids.collect { case (IdCluster, s, e) =>
        walk(payload, s, e).count(_._1 == IdSimpleBlock) }.sum
    } yield Meta(brand, (1000000000L / tsScale).toInt, durMs, w, h,
      trackCount, codec, nBlocks.toLong)
  }

  /** Every SimpleBlock of the video track as a [[Sample]]: decode time
    * = cluster Timestamp + the block's signed 16-bit relative time
    * (ticks of TimestampScale), payload = the bytes after the block's
    * (track vint, s16, flags) header, keyframe = flags bit 0x80.
    * Laced blocks (flags & 0x06 != 0) reject the whole parse. */
  def decodeSampleTable(payload: Array[Byte]): Option[SampleTable] = {
    if (payload == null || payload.length < 8) return None
    val top = walk(payload, 0, payload.length)
    for {
      _ <- firstOf(top, IdEbml)
      (segS, segE) <- firstOf(top, IdSegment)
      segKids = walk(payload, segS, segE)
      (inS, inE) <- firstOf(segKids, IdInfo)
      tsScale = firstOf(walk(payload, inS, inE), IdTimestampScale)
        .map { case (s, e) => uintOf(payload, s, e) }.getOrElse(1000000L)
      if tsScale > 0 && tsScale <= 1000000000L
      (trackNum, _, _, _) <- firstVideoTrack(payload, segKids)
      samples <- blockSamples(payload, segKids, trackNum)
    } yield SampleTable((1000000000L / tsScale).toInt, samples)
  }

  private def blockSamples(b: Array[Byte], segKids: List[(Long, Int, Int)],
      trackNum: Long): Option[Array[Sample]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Sample]
    for ((id, cS, cE) <- segKids if id == IdCluster) {
      val kids = walk(b, cS, cE)
      val clusterTime = firstOf(kids, IdTimestamp)
        .map { case (s, e) => uintOf(b, s, e) }.getOrElse(return None)
      for ((kid, s, e) <- kids if kid == IdSimpleBlock) {
        val (tn, tnLen) = readSize(b, s, e).getOrElse(return None)
        if (s + tnLen + 3 > e) return None
        if (tn == trackNum) {
          val rel = ((b(s + tnLen) & 0xFF) << 8 | (b(s + tnLen + 1) & 0xFF)).toShort
          val flags = b(s + tnLen + 2) & 0xFF
          if ((flags & 0x06) != 0) return None // laced: refuse to guess
          val pStart = s + tnLen + 3
          if (out.length >= MaxSamples) return None
          out += Sample(out.length, clusterTime + rel, e - pStart,
            pStart.toLong, (flags & 0x80) != 0)
        }
      }
    }
    if (out.isEmpty) None else Some(out.toArray)
  }

  // ----------------------------------------------------------- writer

  private def vintSize(v: Long): Array[Byte] = {
    // minimal length whose payload bits can hold v without being the
    // reserved all-ones pattern
    var len = 1
    while (len <= 8 && (v >= (1L << (7 * len)) - 1)) len += 1
    require(len <= 8, "ebml size too large")
    val out = new Array[Byte](len)
    var i = len - 1
    var rest = v
    while (i >= 0) { out(i) = (rest & 0xFF).toByte; rest >>= 8; i -= 1 }
    out(0) = (out(0) | (0x80 >> (len - 1))).toByte
    out
  }

  private def idBytes(id: Long): Array[Byte] = {
    val len = if (id <= 0xFFL) 1 else if (id <= 0xFFFFL) 2
      else if (id <= 0xFFFFFFL) 3 else 4
    (len - 1 to 0 by -1).map(i => ((id >> (8 * i)) & 0xFF).toByte).toArray
  }

  private def el(id: Long, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.foldLeft(Array.emptyByteArray)(_ ++ _)
    idBytes(id) ++ vintSize(body.length.toLong) ++ body
  }

  private def uintEl(id: Long, v: Long): Array[Byte] = {
    var len = 1
    while (len < 8 && (v >>> (8 * len)) != 0) len += 1
    el(id, (len - 1 to 0 by -1).map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray)
  }

  private def floatEl(id: Long, v: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(v)
    el(id, (7 to 0 by -1).map(i => ((bits >> (8 * i)) & 0xFF).toByte).toArray)
  }

  private def strEl(id: Long, s: String): Array[Byte] =
    el(id, s.getBytes("US-ASCII"))

  /** The SAME logical movie as [[VideoCodec.mp4Bytes]] in WebM form:
    * TimestampScale 1 ms, per-4-frame Clusters, SimpleBlocks with the
    * two-run time law, keyframes every 3rd, patterned payload bytes —
    * so q140's oracle arithmetic carries to the EBML container too. */
  def webmBytes(width: Int, height: Int, delta: Int, nSamples: Int,
      seed: Long): Array[Byte] = {
    require(width > 0 && width <= 8192 && height > 0 && height <= 8192,
      "webm fixture dims out of range")
    require(delta > 0 && nSamples > 0 && nSamples <= 4096,
      "webm fixture params out of range")
    val durMs = VideoCodec.fixtureDurationTicks(nSamples, delta)
    val header = el(IdEbml,
      uintEl(0x4286L, 1), uintEl(0x42F7L, 1), uintEl(0x42F2L, 4),
      uintEl(0x42F3L, 8), strEl(IdDocType, "webm"),
      uintEl(0x4287L, 2), uintEl(0x4285L, 2))
    val info = el(IdInfo,
      uintEl(IdTimestampScale, 1000000L), // 1 tick = 1 ms
      floatEl(IdDuration, durMs.toDouble))
    val tracks = el(IdTracks, el(IdTrackEntry,
      uintEl(IdTrackNumber, 1), uintEl(0x73C5L, 1),
      uintEl(IdTrackType, 1), strEl(IdCodecID, "V_VP9"),
      el(IdVideo, uintEl(IdPixelWidth, width.toLong),
        uintEl(IdPixelHeight, height.toLong))))
    val clusters = (0 until nSamples).grouped(4).map { grp =>
      val clusterTime = VideoCodec.fixtureTimeTicks(nSamples, delta, grp.head)
      val blocks = grp.map { i =>
        val t = VideoCodec.fixtureTimeTicks(nSamples, delta, i)
        val rel = (t - clusterTime).toInt
        require(rel >= 0 && rel <= Short.MaxValue, "relative time overflow")
        val sz = VideoCodec.sampleSize(seed, i)
        val payload = Array.tabulate(sz)(j =>
          VideoCodec.sampleByte(seed, i, j).toByte)
        el(IdSimpleBlock, Array(0x81.toByte, // track 1 vint
          ((rel >> 8) & 0xFF).toByte, (rel & 0xFF).toByte,
          (if (i % 3 == 0) 0x80 else 0x00).toByte) ++ payload)
      }
      el(IdCluster, (uintEl(IdTimestamp, clusterTime) +: blocks): _*)
    }.toSeq
    header ++ el(IdSegment, (Seq(info, tracks) ++ clusters): _*)
  }
}
