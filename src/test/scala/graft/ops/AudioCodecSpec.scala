package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Audio header codec: absolute byte-layout vectors written by hand
  * from the published specs (NOT via our own encoder, so an encoder+
  * decoder inverse-bug pair can't hide), plus encoder round-trips and
  * the Spark expression surface — the audio mirror of MultimodalSpec.
  */
class AudioCodecSpec extends SparkSuite {

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("WAV vector from the RIFF spec: 8 kHz mono 16-bit, 4000 samples") {
    // RIFF size=8036 WAVE | fmt len=16 pcm ch=1 rate=8000 byteRate=16000
    // align=2 bps=16 | data len=8000 (bytes absent: header-only fixture)
    val wav = hex(
      "52494646" + "641F0000" + "57415645" +
        "666D7420" + "10000000" + "0100" + "0100" +
        "401F0000" + "803E0000" + "0200" + "1000" +
        "64617461" + "401F0000")
    assert(AudioCodec.decode(wav) ===
      Some(AudioCodec.Meta("wav", 8000, 1, 16, 500)))
  }

  test("WAV chunk walk skips foreign chunks (LIST before data)") {
    val wav = hex(
      "52494646" + "00000000" + "57415645" +
        "4C495354" + "04000000" + "AABBCCDD" + // LIST chunk, skipped
        "666D7420" + "10000000" + "0100" + "0200" +
        "44AC0000" + "10B10200" + "0400" + "1000" + // 44100 Hz stereo
        "64617461" + "10B10200") // exactly 1 s of data
    assert(AudioCodec.decode(wav) ===
      Some(AudioCodec.Meta("wav", 44100, 2, 16, 1000)))
  }

  test("FLAC STREAMINFO vector: 44.1 kHz stereo 16-bit, 1 second") {
    // fLaC | last-block STREAMINFO len=34 | 10 zero bytes (block/frame
    // sizes) | rate 20b / ch-1 3b / bps-1 5b / totalSamples 36b | md5
    val flac = hex(
      "664C6143" + "80" + "000022" +
        "00" * 10 + "0A" + "C4" + "42" + "F0" + "0000AC44" + "00" * 16)
    assert(AudioCodec.decode(flac) ===
      Some(AudioCodec.Meta("flac", 44100, 2, 16, 1000)))
  }

  test("garbage, truncated and text payloads decode to None") {
    assert(AudioCodec.decode(Array.emptyByteArray).isEmpty)
    assert(AudioCodec.decode("definitely not audio data here".getBytes).isEmpty)
    assert(AudioCodec.decode(
      AudioCodec.wavBytes(8000, 1, 16, 100).take(20)).isEmpty)
    // RIFF but not WAVE
    assert(AudioCodec.decode(hex("52494646" + "00000000" + "41564920")).isEmpty)
    // FLAC magic but first block is not STREAMINFO (type 4 = VORBIS_COMMENT)
    assert(AudioCodec.decode(
      hex("664C6143" + "04" + "000022" + "00" * 34)).isEmpty)
  }

  test("encoder round-trips across the parameter range") {
    for ((rate, ch, bps, n) <- Seq(
        (8000, 1, 16, 1), (16000, 2, 16, 12345),
        (44100, 2, 24, 44100), (48000, 1, 8, 480))) {
      val expectMs = n.toLong * 1000 / rate
      assert(AudioCodec.decode(AudioCodec.wavBytes(rate, ch, bps, n)) ===
        Some(AudioCodec.Meta("wav", rate, ch, bps, expectMs)))
      assert(AudioCodec.decode(AudioCodec.flacBytes(rate, ch, bps, n.toLong)) ===
        Some(AudioCodec.Meta("flac", rate, ch, bps, expectMs)))
    }
  }

  test("audio_meta expression: NULL-safe struct over mixed payloads") {
    import spark.implicits._
    val rows = Seq(
      ("a", AudioCodec.wavBytes(22050, 2, 16, 22050)),
      ("b", AudioCodec.flacBytes(96000, 1, 24, 96000L)),
      ("c", "plain text".getBytes),
      ("d", null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
      .withColumn("m", AudioCodec.audio_meta(col("payload")))
      .select("id", "m.format", "m.sample_rate", "m.channels",
        "m.bits_per_sample", "m.duration_ms")
      .orderBy("id")
      .collect()
    assert(rows(0).toSeq === Seq("a", "wav", 22050, 2, 16, 1000L))
    assert(rows(1).toSeq === Seq("b", "flac", 96000, 1, 24, 1000L))
    assert(rows(2).toSeq === Seq("c", null, null, null, null, null))
    assert(rows(3).toSeq === Seq("d", null, null, null, null, null))
  }

  test("fixture expression matches direct encoding") {
    import spark.implicits._
    val r = Seq(("wav", 8000, 4000), ("wav_stereo", 16000, 8000),
        ("flac", 44100, 44100))
      .toDF("fmt", "rate", "n")
      .select(AudioCodec.audio_meta(
        AudioCodec.audio_fixture(col("fmt"), col("rate"), col("n"))).as("m"))
      .select("m.format", "m.sample_rate", "m.channels", "m.duration_ms")
      .collect()
    assert(r(0).toSeq === Seq("wav", 8000, 1, 500L))
    assert(r(1).toSeq === Seq("wav", 16000, 2, 500L))
    assert(r(2).toSeq === Seq("flac", 44100, 2, 1000L))
  }

  test("PCM sample decode round-trips the full signed range") {
    // n=1500 pushes i*31 past 32768, so the pattern covers both signs
    for ((ch, n, seed) <- Seq((1, 1500, 5L), (2, 123, 99L))) {
      val wav = AudioCodec.wavPcmBytes(16000, ch, n, seed)
      val s = AudioCodec.decodeSamples(wav).getOrElse(fail("decode failed"))
      assert((s.sampleRate, s.channels, s.values.length) === (16000, ch, n * ch))
      var i = 0
      while (i < s.values.length) {
        val expect = (((i * 31L + seed) % 65536L).toInt + 65536) % 65536 - 32768
        assert(s.values(i) === expect, s"value $i (ch=$ch)")
        i += 1
      }
      // sign coverage on the long fixture: both signs decoded correctly
      if (n * ch > 1100)
        assert(s.values.exists(_ < 0) && s.values.exists(_ > 0))
    }
  }

  test("FLAC frame decode round-trips the constant/verbatim mix") {
    // nSamples not a multiple of blockSize -> exercises the short last
    // frame; mono and stereo; multi-byte UTF-8 frame numbers need >127
    // frames (tiny blockSize keeps that cheap)
    // the (2, 600, 32, _) case spans 19 frames, reaching all three
    // stereo decorrelation modes (f=1 left/side, f=4 right/side,
    // f=7 mid/side) as well as the constant/verbatim/fixed-rice mix
    for ((ch, n, bs, seed) <- Seq(
        (1, 300, 64, 7L), (2, 250, 64, 42L), (1, 3000, 16, 3L),
        (2, 600, 32, 9L))) {
      val flac = AudioCodec.flacPcmBytes(16000, ch, n, bs, seed)
      val s = AudioCodec.decodeFlacSamples(flac)
        .getOrElse(fail(s"decode failed ch=$ch n=$n bs=$bs"))
      assert((s.sampleRate, s.channels, s.values.length) === (16000, ch, n * ch))
      var i = 0
      while (i < s.values.length) {
        val samp = i / ch; val c = i % ch; val f = samp / bs
        val expect =
          if ((f + c) % 3 == 0)
            (((f * 97L + c * 31L + seed) % 65536L).toInt + 65536) % 65536 - 32768
          else (((i * 31L + seed) % 65536L).toInt + 65536) % 65536 - 32768
        assert(s.values(i) === expect, s"value $i (ch=$ch bs=$bs)")
        i += 1
      }
      // the stream is ALSO a valid header for the metadata decoder
      assert(AudioCodec.decode(flac) ===
        Some(AudioCodec.Meta("flac", 16000, ch, 16, n.toLong * 1000 / 16000)))
      // and the expression surface dispatches FLAC after WAV
      assert(AudioCodec.AudioSampleStatsExpr(
        org.apache.spark.sql.catalyst.expressions.Literal(flac)).eval(null) != null)
    }
  }

  test("FLAC frame decode rejects CRC damage, reserved types, truncation") {
    val flac = AudioCodec.flacPcmBytes(8000, 2, 200, 64, 11L)
    assert(AudioCodec.decodeFlacSamples(flac).isDefined)
    // find the first frame: the first 0xFF after the metadata blocks
    val fs = 42 // 4 magic + 4 block header + 34 STREAMINFO
    assert((flac(fs) & 0xFF) === 0xFF)
    // flip a bit in the frame-header CRC-8 byte region (byte after the
    // 16-bit blocksize: sync2+hdr2+num1+bs2 = offset 7 for frame 0)
    val crcTamper = flac.clone(); crcTamper(fs + 7) = (crcTamper(fs + 7) ^ 1).toByte
    assert(AudioCodec.decodeFlacSamples(crcTamper).isEmpty)
    // flip a sample byte -> CRC-16 catches it
    val dataTamper = flac.clone(); dataTamper(fs + 12) = (dataTamper(fs + 12) ^ 0x40).toByte
    assert(AudioCodec.decodeFlacSamples(dataTamper).isEmpty)
    // rewriting the subframe header also breaks the frame CRC-16 —
    // any header tamper is caught even when the new type is supported
    val typeTamper = flac.clone(); typeTamper(fs + 8) = 0x12
    assert(AudioCodec.decodeFlacSamples(typeTamper).isEmpty)
    // truncation anywhere -> None
    assert(AudioCodec.decodeFlacSamples(flac.take(flac.length - 3)).isEmpty)
    assert(AudioCodec.decodeFlacSamples(flac.take(50)).isEmpty)
    // header-only stream (no frames) -> None
    assert(AudioCodec.decodeFlacSamples(
      AudioCodec.flacBytes(8000, 2, 16, 200L)).isEmpty)
    // STREAMINFO totalSamples disagreeing with decoded count -> None
    // (byte 25 is the low byte of the 36-bit totalSamples field)
    val wrongTotal = flac.clone(); wrongTotal(25) = (wrongTotal(25) ^ 1).toByte
    assert(AudioCodec.decodeFlacSamples(wrongTotal).isEmpty)
  }

  test("FLAC LPC subframe: hand-built stream decodes via coefficient predictor") {
    // Build a one-frame mono stream by hand: LPC order 1, coefficient
    // [1], shift 0 -> prediction = previous sample, so sample i =
    // warmup + sum of residuals. Residuals rice-coded with k=2.
    val bs = 8
    val warm = 100
    val res = Array(3, -2, 5, 0, -7, 4, 1)
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    out.write(0x80); out.write(0); out.write(0); out.write(34)
    val si = new Array[Byte](34)
    si(10) = ((8000 >> 12) & 0xFF).toByte
    si(11) = ((8000 >> 4) & 0xFF).toByte
    si(12) = (((8000 & 0x0F) << 4) | (0 << 1) | 0).toByte // mono, bps hi bit 0
    si(13) = ((15 << 4) | 0).toByte // bps-1 = 15 -> 16 bit
    si(17) = bs.toByte // totalSamples = 8
    out.write(si, 0, 34)
    val frame = new java.io.ByteArrayOutputStream()
    frame.write(0xFF); frame.write(0xF8)
    frame.write(0x70) // 16-bit blocksize follows, rate from STREAMINFO
    frame.write(0x08) // mono, sample size 100 (16-bit), reserved 0
    frame.write(0)    // frame number 0
    frame.write(0); frame.write(bs - 1)
    val hdr = frame.toByteArray
    // crc8 of the header (reuse the spec's own table-free computation)
    def crc8(b: Array[Byte]): Int = {
      var crc = 0
      b.foreach { x =>
        crc ^= (x & 0xFF)
        (0 until 8).foreach { _ =>
          crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xFF else (crc << 1) & 0xFF
        }
      }
      crc
    }
    frame.write(crc8(hdr))
    // subframe bits: 0 | 100000 (LPC order 1) | 0, warmup 16b, prec-1
    // 4b (15 would be invalid; coefficient 1 needs 2 bits -> prec=2),
    // shift 5b = 0, coef 2b = 01, residual method 00, partition order
    // 0000, rice param 0010, then zigzag(res) with k=2
    val bits = new StringBuilder
    bits.append("0").append("100000").append("0")
    bits.append(("0000000000000000" + warm.toBinaryString).takeRight(16))
    bits.append("0001") // precision - 1 = 1 -> 2 bits
    bits.append("00000") // shift 0
    bits.append("01") // coefficient +1 in 2-bit two's complement
    bits.append("00").append("0000").append("0010") // method, po, k=2
    res.foreach { r =>
      val u = (r << 1) ^ (r >> 31)
      bits.append("0" * (u >> 2)).append("1")
      bits.append(((u & 3) >> 1).toString).append((u & 1).toString)
    }
    while (bits.length % 8 != 0) bits.append("0")
    bits.toString.grouped(8).foreach(g => frame.write(Integer.parseInt(g, 2)))
    val body = frame.toByteArray
    def crc16(b: Array[Byte]): Int = {
      var crc = 0
      b.foreach { x =>
        crc ^= (x & 0xFF) << 8
        (0 until 8).foreach { _ =>
          crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xFFFF
            else (crc << 1) & 0xFFFF
        }
      }
      crc
    }
    val c16 = crc16(body)
    frame.write((c16 >> 8) & 0xFF); frame.write(c16 & 0xFF)
    out.write(frame.toByteArray)
    val s = AudioCodec.decodeFlacSamples(out.toByteArray)
      .getOrElse(fail("LPC stream did not decode"))
    val expect = res.scanLeft(warm)(_ + _)
    assert(s.values.toSeq === expect.toSeq)
  }

  test("sample decode rejects non-PCM, wrong depth and truncated data") {
    val good = AudioCodec.wavPcmBytes(8000, 1, 50, 1L)
    assert(AudioCodec.decodeSamples(good).isDefined)
    // zeroed-data header-only fixture still decodes (all-zero samples)
    val zeros = AudioCodec.wavBytes(8000, 1, 16, 10)
    assert(AudioCodec.decodeSamples(zeros).exists(_.values.forall(_ == 0)))
    // truncated data chunk -> None
    assert(AudioCodec.decodeSamples(good.take(good.length - 7)).isEmpty)
    // 8-bit depth unsupported -> None
    assert(AudioCodec.decodeSamples(AudioCodec.wavBytes(8000, 1, 8, 10)).isEmpty)
    // FLAC payload -> None (header-only format)
    assert(AudioCodec.decodeSamples(
      AudioCodec.flacBytes(44100, 2, 16, 1000L)).isEmpty)
    assert(AudioCodec.decodeSamples("not audio".getBytes).isEmpty)
  }

  test("hand-written MP3 frame header: FF FB 90 00 = 128 kbps 44.1 kHz stereo") {
    // one MPEG-1 Layer III frame written from the public header map:
    // brIdx=9 (128 kbps), srIdx=0 (44100), no padding, stereo ->
    // frame length 144*128000/44100 = 417 bytes
    val frame = new Array[Byte](417)
    frame(0) = 0xFF.toByte; frame(1) = 0xFB.toByte
    frame(2) = 0x90.toByte; frame(3) = 0x00
    val m = AudioCodec.decode(frame).getOrElse(fail("mp3 vector failed"))
    assert(m.format === "mp3")
    assert(m.sampleRate === 44100)
    assert(m.channels === 2)
    assert(m.bitsPerSample === 0)
    assert(m.durationMs === 1152L * 1000 / 44100)
  }

  test("MP3 round-trip across the parameter grid, incl. ID3v2 skip") {
    for (sr <- 0 to 2; br <- Seq(1, 7, 14); mode <- Seq(0, 3); nf <- Seq(1, 25)) {
      val b = AudioCodec.mp3Bytes(sr, br, mode, nf, 5L)
      val m = AudioCodec.decode(b).getOrElse(fail(s"sr=$sr br=$br"))
      assert(m.format === "mp3")
      assert(m.sampleRate === Seq(44100, 48000, 32000)(sr))
      assert(m.channels === (if (mode == 3) 1 else 2))
      assert(m.durationMs === nf * 1152L * 1000 / m.sampleRate)
    }
    // ID3v2 prefix (syncsafe size) must be skipped transparently
    val body = AudioCodec.mp3Bytes(0, 9, 0, 3, 1L)
    val tagPayload = new Array[Byte](200)
    val id3 = Array[Byte]('I', 'D', '3', 4, 0, 0,
      0, 0, (200 >> 7).toByte, (200 & 0x7F).toByte) ++ tagPayload
    val m2 = AudioCodec.decode(id3 ++ body).getOrElse(fail("ID3 skip failed"))
    assert(m2.durationMs === 3L * 1152 * 1000 / 44100)
  }

  test("Ogg Opus/Vorbis round-trip; strict page walk rejects damage") {
    // opus: duration = (granule - preskip) / 48 kHz, independent of
    // the declared input rate
    for (rate <- Seq(8000, 16000, 48000); ch <- Seq(1, 2); ms <- Seq(0L, 137L)) {
      val b = AudioCodec.oggBytes("opus", rate, ch, 312, ms * 48, 7L)
      val m = AudioCodec.decode(b).getOrElse(fail(s"opus rate=$rate"))
      assert(m.format === "opus")
      assert(m.sampleRate === rate)
      assert(m.channels === ch)
      assert(m.durationMs === ms)
    }
    for (rate <- Seq(8000, 44100); n <- Seq(0L, 999L)) {
      val b = AudioCodec.oggBytes("vorbis", rate, 2, 0, n, 7L)
      val m = AudioCodec.decode(b).getOrElse(fail(s"vorbis rate=$rate"))
      assert(m.format === "vorbis")
      assert(m.durationMs === n * 1000 / rate)
    }
    val good = AudioCodec.oggBytes("opus", 48000, 2, 312, 48000L, 7L)
    assert(AudioCodec.decode(good.dropRight(1)).isEmpty, "truncated page")
    assert(AudioCodec.decode(good ++ Array[Byte](0)).isEmpty, "trailing junk")
    val badVer = good.clone(); badVer(4) = 1
    assert(AudioCodec.decode(badVer).isEmpty, "nonzero ogg version")
    val notBos = good.clone(); notBos(5) = 0 // clear BOS flag
    assert(AudioCodec.decode(notBos).isEmpty, "stream without BOS ID header")
  }

  test("ADTS AAC round-trip; strict walks reject truncation and trailing junk") {
    for (sfi <- Seq(3, 4, 11); cc <- Seq(1, 2, 6); nf <- Seq(1, 18)) {
      val b = AudioCodec.adtsBytes(sfi, cc, nf, 9L)
      val m = AudioCodec.decode(b).getOrElse(fail(s"sfi=$sfi cc=$cc"))
      assert(m.format === "aac")
      assert(m.sampleRate === Seq(96000, 88200, 64000, 48000, 44100, 32000,
        24000, 22050, 16000, 12000, 11025, 8000, 7350)(sfi))
      assert(m.channels === cc)
      assert(m.durationMs === nf * 1024L * 1000 / m.sampleRate)
    }
    val good = AudioCodec.adtsBytes(4, 2, 5, 9L)
    assert(AudioCodec.decode(good.dropRight(1)).isEmpty, "truncated frame")
    assert(AudioCodec.decode(good ++ Array[Byte](0)).isEmpty, "trailing junk")
    val mp3good = AudioCodec.mp3Bytes(0, 9, 0, 5, 9L)
    assert(AudioCodec.decode(mp3good.dropRight(1)).isEmpty)
    assert(AudioCodec.decode(mp3good ++ Array[Byte](1, 2)).isEmpty)
  }
}
