package graft.ops

import graft.SparkSpec
import graft.ops.Multimodal._

class MultimodalSpec extends SparkSpec {

  private def media(rows: MediaRow*) = {
    import spark.implicits._
    spark.createDataset(rows)
  }

  private def row(id: Long, kind: String, bytes: Array[Byte],
                  w: Int = 640, h: Int = 480, frames: Int = 10) =
    MediaRow(id, kind, bytes, MediaMeta(w, h, 3, 44100, frames, 1000L))

  test("extractFeatures: deterministic, batched, one row per input") {
    val ds = media(
      row(1L, "image", Array[Byte](1, 2, 3)),
      row(2L, "image", Array[Byte](1, 2, 3)),
      row(3L, "audio", Array[Byte](9, 9, 9, 9)))
    val out = extractFeatures(ds).collect().sortBy(_.media_id)
    assert(out.length == 3)
    // same bytes => same pseudo-features (stub codec is deterministic)
    assert(out(0).features.toSeq == out(1).features.toSeq)
    assert(out(0).content_hash == out(1).content_hash)
    assert(out(0).n_bytes == 3 && out(2).n_bytes == 4)
    assert(out(0).features.length == 8)
  }

  test("PpmCodec: byte-exact decode of a hand-built P6 image, comments and all") {
    // 2x1 image, red then blue, maxval 255, with a header comment — built
    // by hand so the decoder is pinned to the public netpbm byte layout,
    // not to our own encoder
    val px = Array[Byte](255.toByte, 0, 0, 0, 0, 255.toByte)
    val raw = ("P6\n# a comment\n2 1\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)) ++ px
    val img = PpmCodec.decode(raw).get
    assert(img.width == 2 && img.height == 1 && img.maxVal == 255)
    assert(img.pixels.toSeq == px.toSeq)
    val (mr, mg, mb) = PpmCodec.channelMeans(img)
    assert(mr == 127.5 && mg == 0.0 && mb == 127.5)
  }

  test("PpmCodec: encode/decode round-trips; garbage and truncation decode to None") {
    val px = Array.tabulate(8 * 8 * 3)(i => (i % 251).toByte)
    val enc = PpmCodec.encode(8, 8, px)
    val dec = PpmCodec.decode(enc).get
    assert(dec.width == 8 && dec.height == 8 && dec.pixels.toSeq == px.toSeq)
    assert(PpmCodec.decode("not an image".getBytes).isEmpty)
    assert(PpmCodec.decode(enc.dropRight(1)).isEmpty, "truncated pixel data must not decode")
    assert(PpmCodec.decode(Array[Byte]('P', '6')).isEmpty)
    assert(PpmCodec.decode(null).isEmpty)
  }

  test("PpmCodec: oversized header fields reject the payload instead of misparsing") {
    // width overflows the 2^24 parser cap: the field must be rejected as a
    // whole (decode => None), not truncated mid-number into two ints
    val raw = ("P6\n999999999 1\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)) ++ Array[Byte](1, 2, 3)
    assert(PpmCodec.decode(raw).isEmpty)
  }

  test("WavCodec: byte-exact decode of a hand-built RIFF payload, skipped chunks and all") {
    // built by hand so the decoder is pinned to the public RIFF/WAVE byte
    // layout, not to our own encoder: a LIST chunk (with odd size => pad
    // byte) sits between fmt and data; 16-bit stereo, 2 frames
    val bb = java.nio.ByteBuffer.allocate(12 + 24 + (8 + 3 + 1) + 8 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(12 + 24 + 12 + 16 - 8); bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(16)
    bb.putShort(1); bb.putShort(2); bb.putInt(8000); bb.putInt(32000); bb.putShort(4); bb.putShort(16)
    bb.put("LIST".getBytes); bb.putInt(3); bb.put(Array[Byte]('a', 'b', 'c', 0)) // odd size + pad
    bb.put("data".getBytes); bb.putInt(8)
    Seq[Short](100, -200, 3000, -32768).foreach(bb.putShort)
    val a = WavCodec.decode(bb.array()).get
    assert(a.sampleRate == 8000 && a.nChannels == 2 && a.bitsPerSample == 16)
    assert(a.nFrames == 2 && a.durationMs == 0L)
    assert(a.samples.toSeq == Seq(100, -200, 3000, -32768))
    assert(WavCodec.channelMeans(a).toSeq == Seq((100 + 3000) / 2.0, (-200 + -32768) / 2.0))
  }

  test("WavCodec: 8-bit samples are unsigned centered at 128") {
    val bb = java.nio.ByteBuffer.allocate(12 + 24 + 8 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(36 + 4); bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(16)
    bb.putShort(1); bb.putShort(1); bb.putInt(4000); bb.putInt(4000); bb.putShort(1); bb.putShort(8)
    bb.put("data".getBytes); bb.putInt(4)
    bb.put(Array[Byte](0, 128.toByte, 255.toByte, 100))
    val a = WavCodec.decode(bb.array()).get
    assert(a.bitsPerSample == 8 && a.nChannels == 1 && a.nFrames == 4)
    assert(a.samples.toSeq == Seq(-128, 0, 127, -28))
  }

  test("WavCodec: encode/decode round-trips; garbage and truncation decode to None") {
    val samples = Array.tabulate(64 * 2)(i => ((i * 517) % 65536 - 32768).toShort)
    val enc = WavCodec.encode(8000, 2, samples)
    val dec = WavCodec.decode(enc).get
    assert(dec.sampleRate == 8000 && dec.nChannels == 2 && dec.nFrames == 64)
    assert(dec.samples.toSeq == samples.map(_.toInt).toSeq)
    assert(WavCodec.decode("not audio at all".getBytes).isEmpty)
    assert(WavCodec.decode(enc.dropRight(1)).isEmpty, "truncated data chunk must not decode")
    assert(WavCodec.decode(enc.take(12)).isEmpty)
    assert(WavCodec.decode(null).isEmpty)
    // non-PCM format tag (e.g. IEEE float = 3) must be rejected
    val f = enc.clone(); f(20) = 3; assert(WavCodec.decode(f).isEmpty)
  }

  test("Y4mCodec: byte-exact decode of a hand-built YUV4MPEG2 stream, frame params and all") {
    // built by hand so the decoder is pinned to the public mjpegtools byte
    // layout, not to our own encoder: 2x2 C420, extra X param in the
    // stream header, a per-frame parameter on the second FRAME marker
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val f1 = Array[Byte](10, 20, 30, 40, 5, 7)            // 4 luma + 1 U + 1 V
    val f2 = Array[Byte](50, 60, 70, 80, 9, 11)
    val raw = "YUV4MPEG2 W2 H2 F30:1 Ip A1:1 C420jpeg Xgraft\n".getBytes(ascii) ++
      "FRAME\n".getBytes(ascii) ++ f1 ++
      "FRAME Ixyz\n".getBytes(ascii) ++ f2
    val v = Y4mCodec.decode(raw).get
    assert(v.width == 2 && v.height == 2 && v.fpsNum == 30 && v.fpsDen == 1 && !v.is444)
    assert(v.frames.length == 2)
    assert(v.frames(0) == Y4mCodec.Frame(100, 5, 7))
    assert(v.frames(1) == Y4mCodec.Frame(260, 9, 11))
  }

  test("Y4mCodec: C444 planes are full-resolution") {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val frame = Array.tabulate(12)(i => (i + 1).toByte) // 3 planes of 2x2
    val raw = "YUV4MPEG2 W2 H2 F25:1 C444\n".getBytes(ascii) ++
      "FRAME\n".getBytes(ascii) ++ frame
    val v = Y4mCodec.decode(raw).get
    assert(v.is444 && v.chromaSize == 4)
    assert(v.frames(0) == Y4mCodec.Frame(1 + 2 + 3 + 4, 5 + 6 + 7 + 8, 9 + 10 + 11 + 12))
  }

  test("Y4mCodec: encode/decode round-trips; garbage and truncation decode to None") {
    val frames = Seq(Array.tabulate(96)(i => (i * 3).toByte),
      Array.tabulate(96)(i => (255 - i).toByte))
    val enc = Y4mCodec.encode(8, 8, 25, frames)
    val v = Y4mCodec.decode(enc).get
    assert(v.width == 8 && v.height == 8 && v.frames.length == 2)
    def sums(f: Array[Byte]) = Y4mCodec.Frame(
      f.take(64).map(_ & 0xFF).map(_.toLong).sum,
      f.slice(64, 80).map(_ & 0xFF).map(_.toLong).sum,
      f.slice(80, 96).map(_ & 0xFF).map(_.toLong).sum)
    assert(v.frames.toSeq == frames.map(sums))
    assert(Y4mCodec.decode("not video".getBytes).isEmpty)
    assert(Y4mCodec.decode(enc.dropRight(1)).isEmpty, "truncated frame must not decode")
    assert(Y4mCodec.decode(enc.take(30)).isEmpty, "header without frames must not decode")
    assert(Y4mCodec.decode(null).isEmpty)
    // 10-bit colorspace must be rejected, not misread as 8-bit planes
    val raw10 = new String(enc.takeWhile(_ != '\n'), "US-ASCII")
      .replace("C420jpeg", "C420p10") + "\n"
    assert(Y4mCodec.decode(raw10.getBytes ++ enc.dropWhile(_ != '\n').drop(1)).isEmpty)
  }

  test("decodeVideo: drops undecodable rows, per-frame means match a driver-side recompute") {
    val frames = Seq(Array.tabulate(96)(i => (i * 7).toByte))
    val ds = media(
      row(1L, "video", Y4mCodec.encode(8, 8, 25, frames)),
      row(2L, "video", Array[Byte](1, 2, 3))) // not Y4M: dropped
    val out = decodeVideo(ds).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    val r = out.head
    val f = frames.head.map(_ & 0xFF)
    assert(r.getInt(1) == 0 && r.getInt(2) == 8 && r.getInt(3) == 8)
    assert(r.getDouble(4) == f.take(64).sum / 64.0)
    assert(r.getDouble(5) == f.slice(64, 80).sum / 16.0)
    assert(r.getDouble(6) == f.slice(80, 96).sum / 16.0)
  }

  test("decodeAudio: drops undecodable rows, means match a driver-side recompute") {
    val samples = Array.tabulate(16 * 2)(i => ((i * 911) % 65536 - 32768).toShort)
    val ds = media(
      row(1L, "audio", WavCodec.encode(16000, 2, samples)),
      row(2L, "audio", Array[Byte](1, 2, 3))) // not a WAV: dropped
    val out = decodeAudio(ds).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    val r = out.head
    def mean(ch: Int) = (ch until samples.length by 2).map(samples(_).toInt).sum / 16.0
    assert(r.getInt(1) == 16000 && r.getInt(2) == 2)
    assert(r.getLong(3) == 16L && r.getLong(4) == 1L) // 16 frames at 16 kHz = 1 ms
    assert(r.getSeq[Double](5).toSeq == Seq(mean(0), mean(1)))
  }

  test("extractFeatures: PPM images get REAL decoded features; others fall back to byte stats") {
    val px = Array.tabulate(4 * 2 * 3)(i => (10 * i).toByte)
    val wav = WavCodec.encode(8000, 1, Array[Short](1000, -1000, 500, 500))
    val ds = media(
      row(1L, "image", PpmCodec.encode(4, 2, px), w = 4, h = 2),
      row(2L, "audio", Array[Byte](9, 9, 9, 9)),
      row(3L, "audio", wav))
    val out = extractFeatures(ds).collect().sortBy(_.media_id)
    val imgFeats = out(0).features
    assert(imgFeats.length == 6)
    assert(imgFeats(0) == 4.0f && imgFeats(1) == 2.0f && imgFeats(5) == 255.0f)
    val img = PpmCodec.decode(PpmCodec.encode(4, 2, px)).get
    val (mr, mg, mb) = PpmCodec.channelMeans(img)
    assert(imgFeats(2) == mr.toFloat && imgFeats(3) == mg.toFloat && imgFeats(4) == mb.toFloat)
    assert(out(1).features.length == 8) // undecodable audio: byte-stat fallback shape
    // real WAV: [sampleRate, nChannels, nFrames, meanCh0]
    assert(out(2).features.toSeq == Seq(8000.0f, 1.0f, 4.0f, 250.0f))
  }

  test("decodeImages: drops undecodable rows, means match a driver-side recompute") {
    val pxA = Array.tabulate(8 * 8 * 3)(i => ((i * 7) % 256).toByte)
    val ds = media(
      row(1L, "image", PpmCodec.encode(8, 8, pxA), w = 8, h = 8),
      row(2L, "image", Array[Byte](1, 2, 3))) // not a PPM: dropped
    val out = decodeImages(ds).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    val r = out.head
    def mean(off: Int) = (off until pxA.length by 3).map(pxA(_) & 0xFF).sum / 64.0
    assert(r.getLong(1) == 8 && r.getLong(2) == 8)
    assert(r.getDouble(3) == mean(0) && r.getDouble(4) == mean(1) && r.getDouble(5) == mean(2))
  }

  test("aHash64: hand-computed bits — uniform image hashes 0, bright blocks set their bits") {
    // uniform gray: every block mean equals the global mean, strict > sets
    // no bit
    val flat = PpmCodec.Image(8, 8, 255, Array.fill(8 * 8 * 3)(100.toByte))
    assert(PpmCodec.aHash64(flat) == 0L)
    // one bright pixel at grid cell (0,0): only that block is above the
    // mean => exactly bit 0
    val px = Array.fill(8 * 8 * 3)(10.toByte)
    px(0) = 200.toByte; px(1) = 200.toByte; px(2) = 200.toByte
    assert(PpmCodec.aHash64(PpmCodec.Image(8, 8, 255, px)) == 1L)
    // left half bright, right half dark on an 8x8: columns 0-3 of every
    // row set bits (row*8 + 0..3)
    val half = Array.tabulate(8 * 8 * 3) { i =>
      val pxIdx = i / 3
      if (pxIdx % 8 < 4) 200.toByte else 10.toByte
    }
    val expected = (0 until 64).filter(b => b % 8 < 4).map(1L << _).reduce(_ | _)
    assert(PpmCodec.aHash64(PpmCodec.Image(8, 8, 255, half)) == expected)
  }

  test("aHash64: block aggregation on a 16x16 image equals the hand-computed 8x8 grid") {
    // 16x16 => each grid block is a 2x2 pixel patch; brighten one full
    // patch (pixels (0,0),(0,1),(1,0),(1,1)) => exactly bit 0
    val px = Array.fill(16 * 16 * 3)(10.toByte)
    for (y <- 0 until 2; x <- 0 until 2; c <- 0 until 3)
      px((y * 16 + x) * 3 + c) = 250.toByte
    assert(PpmCodec.aHash64(PpmCodec.Image(16, 16, 255, px)) == 1L)
    // scale invariance of the fingerprint shape: the same half-bright
    // pattern at 16x16 produces the same bits as at 8x8
    val half16 = Array.tabulate(16 * 16 * 3) { i =>
      val pxIdx = i / 3
      if (pxIdx % 16 < 8) 200.toByte else 10.toByte
    }
    val half8 = Array.tabulate(8 * 8 * 3) { i =>
      val pxIdx = i / 3
      if (pxIdx % 8 < 4) 200.toByte else 10.toByte
    }
    assert(PpmCodec.aHash64(PpmCodec.Image(16, 16, 255, half16)) ==
      PpmCodec.aHash64(PpmCodec.Image(8, 8, 255, half8)))
  }

  test("imageNearDupPairs: noise-dusted copy pairs up, structurally different image does not") {
    def img(bright: Set[Int], flip: Set[Int] = Set.empty): Array[Byte] = {
      val px = Array.tabulate(8 * 8 * 3) { i =>
        val pxIdx = i / 3
        val b = bright.contains(pxIdx) ^ flip.contains(pxIdx)
        if (b) 200.toByte else 10.toByte
      }
      PpmCodec.encode(8, 8, px)
    }
    val leftHalf = (0 until 64).filter(_ % 8 < 4).toSet
    val topHalf = (0 until 64).filter(_ < 32).toSet
    val ds = media(
      row(1L, "image", img(leftHalf)),
      row(2L, "image", img(leftHalf, flip = Set(7, 63))), // 2 blocks flipped => hamming 2
      row(3L, "image", img(topHalf)),                     // different structure
      row(4L, "image", "not an image".getBytes))          // undecodable: dropped
    val pairs = imageNearDupPairs(ds, radius = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 2L)),
      s"only the dusted copy should pair within radius 3: ${pairs.toSeq}")
    // radius 0 = exact perceptual match only: the dusted copy drops out
    assert(imageNearDupPairs(ds, radius = 0).count() == 0)
    // recall guarantee edge: a pair at exactly the radius must be found
    val atRadius = media(
      row(10L, "image", img(leftHalf)),
      row(11L, "image", img(leftHalf, flip = Set(0, 9, 18))))
    val got = imageNearDupPairs(atRadius, radius = 3).collect()
    assert(got.length == 1 && got(0).getLong(2) == 3L)
  }

  test("energyHash64: hand-computed bits — flat tone hashes 0, loud windows set their bits, gain-invariant") {
    def wav(samples: Array[Short]) = WavCodec.decode(WavCodec.encode(8000, 1, samples)).get
    // constant amplitude: every window equals the global mean, strict > sets no bit
    assert(WavCodec.energyHash64(wav(Array.fill(64)(1000.toShort))) == 0L)
    // one loud frame at window 0 (64 mono frames => window = frame)
    val one = Array.fill(64)(10.toShort); one(0) = 10000
    assert(WavCodec.energyHash64(wav(one)) == 1L)
    // first half loud, second half quiet: bits 0..31
    val half = Array.tabulate(64)(f => if (f < 32) 8000.toShort else 100.toShort)
    val expected = (0 until 32).map(1L << _).reduce(_ | _)
    assert(WavCodec.energyHash64(wav(half)) == expected)
    // pure gain change leaves the hash EXACTLY invariant (scale-free comparison)
    val scaled = half.map(s => (s / 4).toShort)
    assert(WavCodec.energyHash64(wav(scaled)) == expected)
    // negative samples count by magnitude: a loud negative window is still loud
    val neg = Array.fill(64)(10.toShort); neg(5) = -10000
    assert(WavCodec.energyHash64(wav(neg)) == (1L << 5))
  }

  test("energyHash64: window aggregation beyond 64 frames, stereo energy sums across channels") {
    def wav(ch: Int, samples: Array[Short]) = WavCodec.decode(WavCodec.encode(8000, ch, samples)).get
    // 128 mono frames => each window is 2 frames; brighten frames 0-1 => bit 0
    val s = Array.fill(128)(10.toShort); s(0) = 9000; s(1) = 9000
    assert(WavCodec.energyHash64(wav(1, s)) == 1L)
    // stereo: loudness split across channels is the same energy as one channel carrying it
    val a = Array.fill(128)(10.toShort); a(0) = 8000; a(1) = 8000           // frame 0: L=R=8000
    val b = Array.fill(128)(10.toShort); b(0) = 16000.toShort; b(1) = 0     // frame 0: L=16000, R=0
    // remaining frames identical => identical window energies => identical hash
    assert(WavCodec.energyHash64(wav(2, a)) == WavCodec.energyHash64(wav(2, b)))
  }

  test("audioNearDupPairs: dusted copy pairs up within radius, different material does not") {
    def clip(loud: Set[Int], flip: Set[Int] = Set.empty): Array[Byte] = {
      val s = Array.tabulate(64) { f =>
        if (loud.contains(f) ^ flip.contains(f)) 9000.toShort else 100.toShort
      }
      WavCodec.encode(8000, 1, s)
    }
    val firstHalf = (0 until 32).toSet
    val spread = (0 until 64 by 2).toSet // alternating: different envelope structure
    val ds = media(
      row(1L, "audio", clip(firstHalf)),
      row(2L, "audio", clip(firstHalf, flip = Set(40, 63))), // 2 windows flipped
      row(3L, "audio", clip(spread)),
      row(4L, "audio", "not audio".getBytes))                // undecodable: dropped
    val pairs = audioNearDupPairs(ds, radius = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 2L)),
      s"only the dusted copy should pair within radius 3: ${pairs.toSeq}")
    assert(audioNearDupPairs(ds, radius = 0).count() == 0)
  }

  test("frameLumaAHashes + temporalHash64: hand-computed bits, chroma never enters, tie rule pinned") {
    // 8x8 C420 frame = 64 luma + 16 + 16 chroma bytes
    def frame(lumaBright: Set[Int], chromaFill: Byte = 77): Array[Byte] = {
      val fb = new Array[Byte](96)
      for (i <- 0 until 64) fb(i) = if (lumaBright.contains(i)) 200.toByte else 10.toByte
      for (i <- 64 until 96) fb(i) = chromaFill
      fb
    }
    val leftHalf = (0 until 64).filter(_ % 8 < 4).toSet
    // per-frame hashes: flat frame -> 0; left-bright frame -> leftHalf bits
    val expected = leftHalf.map(1L << _).reduce(_ | _)
    val v = Y4mCodec.encode(8, 8, 25, Seq(frame(Set.empty), frame(leftHalf)))
    val fh = Y4mCodec.frameLumaAHashes(v).get
    assert(fh.toSeq == Seq(0L, expected))
    // chroma content must not affect the hash
    val v2 = Y4mCodec.encode(8, 8, 25, Seq(frame(Set.empty, chromaFill = 0), frame(leftHalf, chromaFill = 255.toByte)))
    assert(Y4mCodec.frameLumaAHashes(v2).get.toSeq == Seq(0L, expected))
    // temporal strict majority: 1 of 2 frames is a tie -> bit drops (pinned)
    assert(Y4mCodec.temporalHash64(Array(0L, expected)) == 0L)
    // 2 of 3 frames is a strict majority -> bit survives
    assert(Y4mCodec.temporalHash64(Array(expected, expected, 0L)) == expected)
    // bit 63 (sign bit) pools correctly through the unsigned shift
    val top = 1L << 63
    assert(Y4mCodec.temporalHash64(Array(top, top, 0L)) == top)
    assert(Y4mCodec.frameLumaAHashes("not video".getBytes).isEmpty)
  }

  test("videoNearDupPairs: clip with a minority of edited frames pairs up, different clip does not") {
    def clip(bright: Set[Int], editedFrames: Int = 0): Array[Byte] = {
      // 5 frames; `editedFrames` of them get two blocks flipped — majority
      // pooling should absorb a minority of edited frames entirely
      val frames = (0 until 5).map { f =>
        val b = if (f < editedFrames) bright ++ Set(7, 63) else bright
        val fb = new Array[Byte](96)
        for (i <- 0 until 64) fb(i) = if (b.contains(i)) 200.toByte else 10.toByte
        fb
      }
      Y4mCodec.encode(8, 8, 25, frames)
    }
    val leftHalf = (0 until 64).filter(_ % 8 < 4).toSet
    val topHalf = (0 until 64).filter(_ < 32).toSet
    val ds = media(
      row(1L, "video", clip(leftHalf)),
      row(2L, "video", clip(leftHalf, editedFrames = 2)), // minority edit: hash identical
      row(3L, "video", clip(topHalf)),
      row(4L, "video", "not video".getBytes))
    val pairs = videoNearDupPairs(ds, radius = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0L)),
      s"minority-edited clip should pool to an identical hash: ${pairs.toSeq}")
  }
}
