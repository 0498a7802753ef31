package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import Multimodal._

class MultimodalSpec extends AnyFunSuite with graft.SharedSpark {

  /** Synthetic payload: u16 w, u16 h, u16 c, u32 duration_ms, body. */
  private def payload(w: Int, h: Int, c: Int, durMs: Long, bodyLen: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(10 + bodyLen)
    b.putShort(w.toShort).putShort(h.toShort).putShort(c.toShort).putInt(durMs.toInt)
    (0 until bodyLen).foreach(i => b.put(((i * 37 + w) & 0xff).toByte))
    b.array()
  }

  private def media = {
    import spark.implicits._
    Seq(
      MediaRow(1L, "image", payload(1920, 1080, 3, 0L, 256)),
      MediaRow(2L, "image", payload(640, 480, 3, 0L, 128)),
      MediaRow(3L, "video", payload(1280, 720, 3, 10000L, 512))).toDS()
  }

  test("decode stage: header metadata + deterministic features") {
    val decoded = decodeImages(media).collect().map(d => d.media_id -> d).toMap
    assert(decoded(1L).width == 1920 && decoded(1L).height == 1080 && decoded(1L).channels == 3)
    assert(decoded(2L).width == 640)
    assert(decoded(1L).features.length == 16)
    val again = decodeImages(media).collect().map(d => d.media_id -> d).toMap
    assert(decoded(1L).features.toSeq == again(1L).features.toSeq, "decode must be deterministic")
  }

  private def png(w: Int, h: Int)(colorAt: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, colorAt(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("REAL PNG decode: dimensions, channels, and grid luminance features") {
    import spark.implicits._
    // left half black, right half white -> grid columns 0,1 dark and 2,3 bright
    val halves = png(64, 32)((x, _) => if (x < 32) 0x000000 else 0xffffff)
    // uniform mid gray 128 -> every cell 128/255 luminance
    val gray = png(16, 16)((_, _) => 0x808080)
    val rows = decodeImages(Seq(
      MediaRow(10L, "image", halves),
      MediaRow(11L, "image", gray)).toDS())
      .collect().map(d => d.media_id -> d).toMap
    assert(rows(10L).width == 64 && rows(10L).height == 32 && rows(10L).channels == 3)
    val f = rows(10L).features
    assert(f.length == 16)
    (0 until 4).foreach { row =>
      assert(f(row * 4) == 0f && f(row * 4 + 1) == 0f, "left cells black")
      assert(math.abs(f(row * 4 + 2) - 1f) < 1e-6 && math.abs(f(row * 4 + 3) - 1f) < 1e-6,
        "right cells white")
    }
    val g = rows(11L).features
    assert(g.forall(v => math.abs(v - 128f / 255f) < 1e-6), "uniform gray everywhere")
  }

  test("JPEG decode also goes through the real codec") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(48, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g2 = img.createGraphics()
    g2.setColor(java.awt.Color.WHITE); g2.fillRect(0, 0, 48, 24); g2.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val d = decodeImages(Seq(MediaRow(20L, "image", bos.toByteArray)).toDS()).head()
    assert(d.width == 48 && d.height == 24)
    assert(d.features.forall(_ > 0.95f), "white jpeg decodes bright")
  }

  test("non-image payloads fall back to the synthetic-header stub") {
    import spark.implicits._
    val d = decodeImages(Seq(MediaRow(30L, "image", payload(320, 200, 3, 0L, 64))).toDS()).head()
    assert(d.width == 320 && d.height == 200 && d.channels == 3)
  }

  test("resize plan computes bounded dimensions without touching payloads") {
    val resized = resizePlan(decodeImages(media), maxSide = 512)
      .select("media_id", "out_width", "out_height")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(resized(1L) == ((512, 288)))
    assert(resized(2L) == ((512, 384)))
    // never upscale
    val small = resizePlan(decodeImages(media), maxSide = 4096).collect()
      .filter(_.getAs[Long]("media_id") == 2L).head
    assert(small.getAs[Int]("out_width") == 640)
  }

  test("frame sampling explodes the clip timeline in pure Catalyst") {
    val frames = sampleFrames(media.toDF(), everyMs = 2500L)
      .filter(col("media_id") === 3L)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(frames.toSeq == Seq((0, 0L), (1, 2500L), (2, 5000L), (3, 7500L), (4, 10000L)))
  }

  test("feature records flow into the shared vector schema") {
    val recs = featureRecords(decodeImages(media))
    assert(recs.columns.toSeq == Seq("id", "media_id", "vector"))
    val ids = recs.select("id").collect().map(_.getString(0))
    assert(ids.distinct.length == 3 && ids.forall(_.length == 36))
  }

  test("wav pcm16 round-trip recovers stream parameters and exact levels") {
    // constant amplitude 16384 -> rms = peak = 0.5 exactly
    val samples = Array.fill(8000)(16384.toShort)
    val d = decodeAudio(MediaRow(1L, "audio", wavPcm16(16000, 1, samples)))
    assert(d.sample_rate == 16000 && d.channels == 1 && d.bits == 16)
    assert(d.n_frames == 8000 && d.duration_ms == 500)
    assert(d.rms == 0.5 && d.peak == 0.5)
    assert(d.envelope.forall(_ == 0.5f))
  }

  test("stereo frames and the rms envelope track the signal over time") {
    // first half silence, second half full-scale square -> envelope
    // bins 0-7 are 0, bins 8-15 are 1; interleaved stereo halves frames
    val n = 3200
    val samples = Array.tabulate(n)(i =>
      if (i < n / 2) 0.toShort else (if (i % 2 == 0) 32767 else -32767).toShort)
    val d = decodeAudio(MediaRow(2L, "audio", wavPcm16(8000, 2, samples)))
    assert(d.channels == 2 && d.n_frames == n / 2 && d.duration_ms == n / 2 * 1000L / 8000)
    assert(d.envelope.take(8).forall(_ == 0f))
    assert(d.envelope.drop(8).forall(e => math.abs(e - 32767f / 32768f) < 1e-6))
    assert(d.peak == 32767.0 / 32768.0)
  }

  test("IMA-ADPCM decode matches the independent reference decoder (mono)") {
    // vector generated by a separately-written Python reference decoder
    // (IMA/DVI spec tables): mono block, predictor 100, index 20, data
    // bytes 21 43 65 87 A9 CB ED 0F (low nibble first)
    val block = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(100).put(20.toByte).put(0.toByte)
      .put(Array(0x21, 0x43, 0x65, 0x87, 0xA9, 0xCB, 0xED, 0x0F)
        .map(_.toByte)).array()
    val dec = Multimodal.decodeImaAdpcm(block, 0, block.length, 1, 12)
    assert(dec.toSeq == Seq(100, 118, 145, 180, 221, 282, 389, 609, 578,
      493, 363, 198, 4, -283, -781, -1801, -1656).map(_.toShort))
  }

  test("IMA-ADPCM stereo blocks interleave channel words, reference-pinned") {
    // stereo block: L(pred -200, idx 5), R(pred 300, idx 60), one
    // 4-byte word per channel; expected per-channel outputs from the
    // same independent reference decoder
    val block = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(-200).put(5.toByte).put(0.toByte)
      .putShort(300).put(60.toByte).put(0.toByte)
      .put(Array(0x10, 0x32, 0x54, 0x76).map(_.toByte))
      .put(Array(0x98, 0xBA, 0xDC, 0xFE).map(_.toByte)).array()
    val dec = Multimodal.decodeImaAdpcm(block, 0, block.length, 2, 16)
    val left = dec.indices.filter(_ % 2 == 0).map(dec(_))
    val right = dec.indices.filter(_ % 2 == 1).map(dec(_))
    assert(left == Seq(-200, -199, -196, -190, -183, -174, -161, -139, -93)
      .map(_.toShort))
    assert(right == Seq(300, 16, -758, -1931, -3423, -5169, -7750, -12216,
      -21347).map(s => math.max(-32768, s).toShort))
  }

  test("ADPCM WAV goes through the REAL decode path, not the stub") {
    // two identical mono blocks; known first-vector samples ⇒ known
    // frame count and peak; a stub result would carry n_frames =
    // payload length and rms from the byte hash instead
    val block = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(100).put(20.toByte).put(0.toByte)
      .put(Array(0x21, 0x43, 0x65, 0x87, 0xA9, 0xCB, 0xED, 0x0F)
        .map(_.toByte)).array()
    val wav = Multimodal.wavImaAdpcm(8000, 1, 12, block ++ block)
    val d = decodeAudio(MediaRow(9L, "audio", wav))
    assert(d.bits == 4 && d.channels == 1 && d.sample_rate == 8000)
    assert(d.n_frames == 34) // 17 samples per block × 2 blocks
    assert(d.peak == 1801.0 / 32768.0)
    // truncated final block (header only) contributes just its
    // predictor frame — truncated-but-decodable, never the stub
    val torn = Multimodal.wavImaAdpcm(8000, 1, 12, block ++ block.take(4))
    val t = decodeAudio(MediaRow(10L, "audio", torn))
    assert(t.n_frames == 18 && t.bits == 4)
  }

  test("ADPCM encode→decode round-trips at codec quality (≥20 dB SNR)") {
    // 440 Hz sine at 16 kHz, amplitude 12000 — 4-bit IMA ADPCM's design
    // point. blockAlign 256 ⇒ 505 samples/block; 4 blocks = 2020 samples.
    val n = 505 * 4
    val pcm = Array.tabulate(n)(i =>
      (12000 * math.sin(2 * math.Pi * 440 * i / 16000.0)).toShort)
    val enc = Multimodal.encodeImaAdpcm(pcm, 256)
    assert(enc.length == 4 * 256) // 4x compression + headers
    val dec = Multimodal.decodeImaAdpcm(enc, 0, enc.length, 1, 256)
    assert(dec.length == n)
    // block leaders ride in headers verbatim
    for (b <- 0 until 4) assert(dec(b * 505) == pcm(b * 505))
    var sig = 0.0; var err = 0.0
    for (i <- 0 until n) {
      sig += pcm(i).toDouble * pcm(i)
      val e = dec(i) - pcm(i); err += e.toDouble * e
    }
    val snrDb = 10 * math.log10(sig / math.max(err, 1e-9))
    assert(snrDb >= 20.0, f"SNR $snrDb%.1f dB below the 4-bit ADPCM bound")
    // the full WAV path decodes the encoder's output identically
    val d = decodeAudio(MediaRow(11L, "audio",
      Multimodal.wavImaAdpcm(16000, 1, 256, enc)))
    assert(d.n_frames == n && d.bits == 4 && d.sample_rate == 16000)
  }

  test("non-wav audio payloads degrade to the marked stub, never fail") {
    val mp3ish = Array[Byte](0x49, 0x44, 0x33, 4, 0, 0, 0, 0, 0, 10)
    val d = decodeAudio(MediaRow(3L, "audio", mp3ish))
    assert(d.sample_rate == 8000 && d.n_frames == mp3ish.length.toLong)
    // truncated RIFF header (claims WAVE, no chunks)
    val torn = "RIFFxxxxWAVE".getBytes
    val t = decodeAudio(MediaRow(4L, "audio", torn))
    assert(t.rms == 0.0 && t.envelope.length == 16)
  }

  test("adversarial wav chunk sizes: huge/wrapping sizes degrade, never hang") {
    // chunk size 0xFFFFFFF8 wrapped to Int -8 made the walk advance by
    // zero — an infinite loop inside the task (r2 review finding). Any
    // size past the payload end must degrade to the stub.
    val evil = java.nio.ByteBuffer.allocate(32).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    evil.put("RIFF".getBytes); evil.putInt(24); evil.put("WAVE".getBytes)
    evil.put("junk".getBytes); evil.putInt(0xFFFFFFF8) // 4294967288 as u32
    val d = decodeAudio(MediaRow(7L, "audio", evil.array()))
    assert(d.sample_rate == 8000, "wrapping chunk size must fall back to the stub")
    // a truncated data chunk (size field > remaining bytes) clamps to
    // the bytes present — frame counts never go negative
    val tr = java.nio.ByteBuffer.allocate(48).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tr.put("RIFF".getBytes); tr.putInt(40); tr.put("WAVE".getBytes)
    tr.put("fmt ".getBytes); tr.putInt(16)
    tr.putShort(1); tr.putShort(1); tr.putInt(8000); tr.putInt(16000)
    tr.putShort(2); tr.putShort(16)
    tr.put("data".getBytes); tr.putInt(1000000) // claims 1 MB, has 4 bytes
    tr.putShort(100); tr.putShort(-100)
    val t = decodeAudio(MediaRow(8L, "audio", tr.array()))
    assert(t.n_frames == 2 && t.duration_ms >= 0, s"clamped frames, got ${t.n_frames}")
  }

  test("mp4 metadata round-trip: duration, tracks, handler types, dimensions") {
    val bytes = mp4Meta(timescale = 1200, duration = 36000L,
      tracks = Seq(("vide", 1280, 720), ("soun", 0, 0)))
    val m = decodeVideoMeta(MediaRow(1L, "video", bytes))
    assert(m.timescale == 1200L && m.duration_ms == 30000L)
    assert(m.n_tracks == 2 && m.has_video && m.has_audio)
    assert(m.width == 1280 && m.height == 720)
    // audio-only container
    val a = decodeVideoMeta(MediaRow(2L, "video",
      mp4Meta(1000, 5000L, Seq(("soun", 0, 0)))))
    assert(a.n_tracks == 1 && !a.has_video && a.has_audio && a.width == 0)
  }

  test("non-mp4 and torn payloads yield the zero record, never an error") {
    val z = decodeVideoMeta(MediaRow(3L, "video", Array[Byte](1, 2, 3)))
    assert(z.timescale == 0L && z.n_tracks == 0)
    // valid magic, truncated mid-box: the walker stops cleanly
    val torn = mp4Meta(1000, 5000L, Seq(("vide", 64, 64))).take(40)
    val t = decodeVideoMeta(MediaRow(4L, "video", torn))
    assert(t.media_id == 4L && t.n_tracks == 0)
  }

  test("audio decode stage runs as a partition-batched dataset map") {
    import spark.implicits._
    val clips = Seq(
      MediaRow(10L, "audio", wavPcm16(8000, 1, Array.fill(800)(8192.toShort))),
      MediaRow(11L, "audio", wavPcm16(44100, 1, Array.fill(441)(0.toShort)))).toDS()
    val out = decodeAudios(clips).collect().map(d => d.media_id -> d).toMap
    assert(out(10L).rms == 0.25 && out(10L).duration_ms == 100)
    assert(out(11L).sample_rate == 44100 && out(11L).rms == 0.0 && out(11L).duration_ms == 10)
  }

  /** 16x16 gray PNG with per-column value v(x). */
  private def stripePng(v: Int => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) {
      val p = v(x) & 0xff
      img.setRGB(x, y, (p << 16) | (p << 8) | p)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("dHash: gradient sign bits, tie cells compare false, identical images collide") {
    import spark.implicits._
    val rows = Seq(
      MediaRow(1L, "image", stripePng(x => x * 10)),        // strictly brighter to the right
      MediaRow(2L, "image", stripePng(x => 150 - x * 10)),  // strictly darker to the right
      MediaRow(3L, "image", stripePng(_ => 77)),            // flat: all ties
      MediaRow(4L, "image", stripePng(x => x * 10))         // byte-identical to 1
    ).toDS()
    val dh = decodeImages(rows).toDF()
      .select(col("media_id"), dHash(col("features")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dh(1L) === 0L, "brighter-to-the-right means no cell exceeds its right neighbor")
    assert(dh(2L) === 0xfffL, "darker-to-the-right sets all 12 row bits")
    assert(dh(3L) === 0L, "strict comparison: exact ties contribute no bits")
    assert(dh(4L) === dh(1L))
    val groups = dHashGroups(decodeImages(rows).toDF()).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(groups(dh(2L)) === ((2L, 1L)))
    assert(groups(0L)._2 === 3L, "ids 1, 3, 4 share dhash 0 (flat and ascending both yield 0)")
    assert(groups(0L)._1 === 1L, "keep-first: minimum id is the kept copy")
  }
}
