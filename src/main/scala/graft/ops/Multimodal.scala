package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque binary columns
  * with typed metadata; decode and feature extraction as batched
  * partition-level transforms.
  *
  * All three media kinds decode through REAL codecs for public,
  * dependency-free formats: [[PpmCodec]] (binary PPM/P6 images, netpbm),
  * [[WavCodec]] (RIFF/WAVE PCM audio), [[Y4mCodec]] (YUV4MPEG2 raw video).
  * Each extracts statistics from the actual payload bytes, so the
  * per-kind feature queries (`q_media_features`, `q_audio_features`,
  * `q_video_features`) all carry full value oracles. [[ByteStatCodec]]
  * remains only as the undecodable-payload fallback.
  *
  * Scale notes: decode runs inside `mapPartitions` so per-partition codec
  * state (a decoder instance) is initialized once per task, not per row —
  * the Scala analog of a Pandas-UDF batch loop. Binary payloads never
  * shuffle: decode happens before any wide transform and emits only
  * features/metadata.
  */
object Multimodal {

  final case class MediaMeta(width: Int, height: Int, n_channels: Int,
                             sample_rate: Int, n_frames: Int, duration_ms: Long)
  final case class MediaRow(media_id: Long, kind: String, content: Array[Byte], meta: MediaMeta)
  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                                 content_hash: Long, features: Array[Float])

  /** Real decoder for the binary PPM (P6) image format — public netpbm
    * spec, zero dependencies: header `P6 <w> <h> <maxval>` (whitespace
    * separated, '#'-comments allowed) followed by one whitespace byte and
    * w·h raw RGB byte triplets (maxval ≤ 255). Tested byte-exact in
    * MultimodalSpec; feeds the oracle-backed `q_media_features`.
    */
  object PpmCodec {
    final case class Image(width: Int, height: Int, maxVal: Int, pixels: Array[Byte])

    def encode(width: Int, height: Int, pixels: Array[Byte], maxVal: Int = 255): Array[Byte] = {
      require(pixels.length == width * height * 3,
        s"need ${width * height * 3} RGB bytes, got ${pixels.length}")
      require(maxVal > 0 && maxVal <= 255, "1-byte samples only")
      val header = s"P6\n$width $height\n$maxVal\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val out = new Array[Byte](header.length + pixels.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(pixels, 0, out, header.length, pixels.length)
      out
    }

    /** None for anything that is not a complete single-byte-sample P6
      * payload — callers treat that as "not an image I can decode", never
      * as an error.
      */
    def decode(bytes: Array[Byte]): Option[Image] = {
      if (bytes == null || bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return None
      var i = 2
      def skipWs(): Unit = {
        var more = true
        while (more && i < bytes.length) {
          val c = bytes(i)
          if (c == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
          else if (c == ' ' || c == '\n' || c == '\r' || c == '\t') i += 1
          else more = false
        }
      }
      def int(): Int = {
        var v = 0
        var any = false
        var over = false
        while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
          if (v >= (1 << 24)) over = true // cap exceeded: keep consuming, reject field
          else v = v * 10 + (bytes(i) - '0')
          i += 1; any = true
        }
        if (any && !over) v else -1
      }
      skipWs(); val w = int()
      skipWs(); val h = int()
      skipWs(); val mx = int()
      if (w <= 0 || h <= 0 || mx <= 0 || mx > 255) return None
      i += 1 // exactly one whitespace byte separates maxval from pixel data
      val need = w.toLong * h * 3
      if (need > Int.MaxValue || bytes.length - i < need) return None
      Some(Image(w, h, mx, java.util.Arrays.copyOfRange(bytes, i, i + need.toInt)))
    }

    /** 64-bit average-hash (aHash) over the image's luma — the classic
      * perceptual fingerprint (block-mean thresholding; see the public
      * pHash/aHash family): the image is divided into an 8×8 grid of
      * integer-boundary blocks, each block's mean luma is compared against
      * the GLOBAL mean luma, and block (by,bx) sets bit by·8+bx iff its
      * mean is strictly greater. Two images that differ by noise, small
      * edits, or re-encoding keep most blocks on the same side of the mean
      * → small Hamming distance; structurally different images disagree on
      * ~half the bits.
      *
      * Determinism/oracle contract: luma = r+g+b per pixel (3× the average
      * — monotone under comparison, so thresholding is unaffected) and the
      * mean comparison is CROSS-MULTIPLIED in exact integer arithmetic
      * (blockSum·nPixels > totalSum·blockCount) — no division, no doubles,
      * so the hash is bit-identical in any engine that can sum bytes
      * (q_image_neardup's DuckDB oracle replays it with list_sum + ord).
      * Exact up to ~800 MP per image (beyond that totalSum·blockCount can
      * exceed Long range) — far past any decodable P6. An empty block
      * (width or height < 8) contributes a 0 bit.
      */
    def aHash64(img: Image): Long = {
      val w = img.width; val h = img.height
      val blockSum = new Array[Long](64)
      val blockCnt = new Array[Long](64)
      var total = 0L
      var y = 0
      while (y < h) {
        val by = y * 8 / h
        var x = 0
        while (x < w) {
          val bx = x * 8 / w
          val p = (y * w + x) * 3
          val l = (img.pixels(p) & 0xFF) + (img.pixels(p + 1) & 0xFF) +
            (img.pixels(p + 2) & 0xFF)
          val b = by * 8 + bx
          blockSum(b) += l; blockCnt(b) += 1
          total += l
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      var hash = 0L
      var i = 0
      while (i < 64) {
        if (blockCnt(i) > 0 && blockSum(i) * n > total * blockCnt(i)) hash |= 1L << i
        i += 1
      }
      hash
    }

    /** Per-channel pixel means: exact integer sums, ONE double division —
      * the arithmetic the SQL oracle mirrors (sum of bytes / pixel count).
      */
    def channelMeans(img: Image): (Double, Double, Double) = {
      var r = 0L; var g = 0L; var b = 0L
      var i = 0
      while (i < img.pixels.length) {
        r += img.pixels(i) & 0xFF
        g += img.pixels(i + 1) & 0xFF
        b += img.pixels(i + 2) & 0xFF
        i += 3
      }
      val n = (img.width * img.height).toDouble
      (r / n, g / n, b / n)
    }
  }

  /** Real decoder for the binary WAV (RIFF/WAVE) PCM audio format — public
    * Microsoft/IBM spec, zero dependencies: `RIFF <size> WAVE` followed by a
    * chunk walk (`fmt ` with PCM format tag 1, then `data` with raw
    * samples); unknown chunks are skipped with even-byte padding, exactly as
    * the spec requires. 8-bit samples are unsigned centered at 128 (stored
    * sign-corrected), 16-bit samples are signed little-endian. Tested
    * byte-exact in MultimodalSpec; feeds the oracle-backed
    * `q_audio_features` (same pattern as [[PpmCodec]]/`q_media_features`).
    */
  object WavCodec {
    /** Interleaved sign-corrected samples: frame f, channel c at
      * `samples(f * nChannels + c)`.
      */
    final case class Audio(sampleRate: Int, nChannels: Int, bitsPerSample: Int,
                           samples: Array[Int]) {
      def nFrames: Int = samples.length / nChannels
      def durationMs: Long = nFrames.toLong * 1000L / sampleRate
    }

    /** Canonical 44-byte-header 16-bit PCM writer (what every minimal WAV
      * tool emits): RIFF header + `fmt ` + `data`, all sizes little-endian.
      */
    def encode(sampleRate: Int, nChannels: Int, samples: Array[Short]): Array[Byte] = {
      require(nChannels > 0 && samples.length % nChannels == 0,
        s"sample count ${samples.length} not a multiple of $nChannels channels")
      val dataSize = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      bb.putInt(36 + dataSize)
      bb.put("WAVE".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      bb.put("fmt ".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      bb.putInt(16)                       // PCM fmt chunk size
      bb.putShort(1)                      // audio format: PCM
      bb.putShort(nChannels.toShort)
      bb.putInt(sampleRate)
      bb.putInt(sampleRate * nChannels * 2) // byte rate
      bb.putShort((nChannels * 2).toShort)  // block align
      bb.putShort(16)                     // bits per sample
      bb.put("data".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      bb.putInt(dataSize)
      var i = 0
      while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
      bb.array()
    }

    /** None for anything that is not a complete integer-PCM RIFF/WAVE
      * payload (8- or 16-bit) — callers treat that as "not audio I can
      * decode", never as an error.
      */
    def decode(bytes: Array[Byte]): Option[Audio] = {
      if (bytes == null || bytes.length < 12) return None
      def ascii(at: Int, s: String): Boolean = {
        var j = 0
        while (j < s.length) { if (bytes(at + j) != s.charAt(j)) return false; j += 1 }
        true
      }
      def le32(at: Int): Long =
        (bytes(at) & 0xFFL) | ((bytes(at + 1) & 0xFFL) << 8) |
          ((bytes(at + 2) & 0xFFL) << 16) | ((bytes(at + 3) & 0xFFL) << 24)
      def le16(at: Int): Int = (bytes(at) & 0xFF) | ((bytes(at + 1) & 0xFF) << 8)
      if (!ascii(0, "RIFF") || !ascii(8, "WAVE")) return None
      var pos = 12
      var fmtTag = -1; var nCh = -1; var rate = -1; var bits = -1
      var dataAt = -1; var dataLen = -1
      while (pos + 8 <= bytes.length && (dataAt < 0 || fmtTag < 0)) {
        val size = le32(pos + 4)
        if (size < 0 || size > bytes.length - pos - 8) return None
        val sz = size.toInt
        if (ascii(pos, "fmt ")) {
          if (sz < 16) return None
          fmtTag = le16(pos + 8)
          nCh = le16(pos + 10)
          rate = le32(pos + 12).toInt
          bits = le16(pos + 22)
        } else if (ascii(pos, "data")) {
          dataAt = pos + 8; dataLen = sz
        }
        pos += 8 + sz + (sz & 1) // chunks are word-aligned: odd sizes pad one byte
      }
      if (fmtTag != 1 || dataAt < 0 || nCh <= 0 || rate <= 0 ||
        (bits != 8 && bits != 16)) return None
      val bytesPerSample = bits / 8
      val n = dataLen / (bytesPerSample * nCh) * nCh // whole frames only
      if (n <= 0) return None
      val out = new Array[Int](n)
      var s = 0
      while (s < n) {
        out(s) =
          if (bits == 8) (bytes(dataAt + s) & 0xFF) - 128 // unsigned, centered
          else le16(dataAt + s * 2).toShort.toInt          // signed LE
        s += 1
      }
      Some(Audio(rate, nCh, bits, out))
    }

    /** Per-channel sample means: exact integer sums, ONE double division —
      * the arithmetic the SQL oracle mirrors (sum of samples / frame count).
      */
    def channelMeans(a: Audio): Array[Double] = {
      val sums = new Array[Long](a.nChannels)
      var i = 0
      while (i < a.samples.length) { sums(i % a.nChannels) += a.samples(i); i += 1 }
      sums.map(_ / a.nFrames.toDouble)
    }

    /** 64-bit energy-envelope fingerprint — the audio sibling of
      * [[PpmCodec.aHash64]] (the same block-mean-vs-global-mean idea the
      * public aHash/chromaprint family rests on, applied to the loudness
      * envelope): the frame sequence is divided into 64 integer-boundary
      * windows, each window's summed absolute amplitude (all channels) is
      * compared against the global mean via exact integer
      * cross-multiplication (windowSum·nFrames > totalSum·windowFrames),
      * and window w sets bit w iff its energy is strictly above the mean.
      * Clips that differ by re-encoding, gain-preserving noise, or small
      * edits keep most windows on the same side of the mean → small
      * Hamming distance; different material disagrees on ~half the bits.
      * A PURE-GAIN change (every sample scaled equally) leaves the hash
      * EXACTLY invariant — the comparison is scale-free.
      *
      * Integer-exact (no division, no doubles) → bit-identical in SQL
      * (q_audio_neardup's oracle replays it from the payload bytes).
      * Exact up to ~9·10⁷ frames (16-bit stereo; totalSum·windowFrames
      * bounds) — ~3 hours at 8 kHz. An empty window (< 64 frames)
      * contributes a 0 bit.
      */
    def energyHash64(a: Audio): Long = {
      val n = a.nFrames
      val winSum = new Array[Long](64)
      val winCnt = new Array[Long](64)
      var total = 0L
      var f = 0
      while (f < n) {
        val w = (f.toLong * 64 / n).toInt
        var c = 0
        var e = 0L
        while (c < a.nChannels) {
          e += math.abs(a.samples(f * a.nChannels + c).toLong)
          c += 1
        }
        winSum(w) += e; winCnt(w) += 1
        total += e
        f += 1
      }
      var hash = 0L
      var w = 0
      while (w < 64) {
        if (winCnt(w) > 0 && winSum(w) * n > total * winCnt(w)) hash |= 1L << w
        w += 1
      }
      hash
    }
  }

  /** Real decoder for the Y4M (YUV4MPEG2) uncompressed video format —
    * public mjpegtools spec, zero dependencies: an ASCII stream header
    * `YUV4MPEG2 W<w> H<h> F<n>:<d> ... [C<cs>]\n`, then per frame a
    * `FRAME[ params]\n` marker followed by raw planar YUV bytes (8-bit
    * 4:2:0 by default: w·h luma + 2·(w/2)·(h/2) chroma; C444 = three full
    * planes). Tested byte-exact in MultimodalSpec; feeds the oracle-backed
    * `q_video_features` (same pattern as [[PpmCodec]]/[[WavCodec]]).
    */
  object Y4mCodec {
    /** One decoded frame's exact per-plane byte sums (means = sum/size —
      * the one-division arithmetic the SQL oracle mirrors).
      */
    final case class Frame(ySum: Long, uSum: Long, vSum: Long)
    final case class Video(width: Int, height: Int, fpsNum: Int, fpsDen: Int,
                           is444: Boolean, frames: Array[Frame]) {
      def lumaSize: Int = width * height
      def chromaSize: Int = if (is444) width * height else (width / 2) * (height / 2)
    }

    /** Canonical C420jpeg writer: frames are concatenated planar YUV420
      * payloads of exactly w·h + 2·(w/2)·(h/2) bytes each.
      */
    def encode(width: Int, height: Int, fps: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
      val frameSize = width * height + 2 * (width / 2) * (height / 2)
      require(frames.forall(_.length == frameSize),
        s"each YUV420 frame needs $frameSize bytes")
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      val header = s"YUV4MPEG2 W$width H$height F$fps:1 Ip A1:1 C420jpeg\n".getBytes(ascii)
      val marker = "FRAME\n".getBytes(ascii)
      val out = new java.io.ByteArrayOutputStream(
        header.length + frames.size * (marker.length + frameSize))
      out.write(header)
      frames.foreach { f => out.write(marker); out.write(f) }
      out.toByteArray
    }

    /** Shared stream walk behind [[decode]] and [[frameLumaAHashes]]:
      * parses the header, validates the 8-bit layout, and calls `visit`
      * once per frame with (lumaPlaneStart, w, h, chromaPlaneSize).
      * Returns the stream parameters, or None for anything that is not a
      * complete 8-bit C420/C444 stream.
      */
    private def walk(bytes: Array[Byte])(
        visit: (Int, Int, Int, Int) => Unit): Option[(Int, Int, Int, Int, Boolean, Int)] = {
      val magic = "YUV4MPEG2 "
      if (bytes == null || bytes.length < magic.length) return None
      var i = 0
      while (i < magic.length) { if (bytes(i) != magic.charAt(i)) return None; i += 1 }
      val eol = {
        var j = i
        while (j < bytes.length && bytes(j) != '\n') j += 1
        if (j >= bytes.length) return None else j
      }
      val params = new String(bytes, i, eol - i,
        java.nio.charset.StandardCharsets.US_ASCII).split(' ').filter(_.nonEmpty)
      var w = -1; var h = -1; var fn = 25; var fd = 1; var cs = "420jpeg"
      params.foreach { p =>
        val tag = p.head; val v = p.tail
        tag match {
          case 'W' => w = v.toIntOption.getOrElse(-1)
          case 'H' => h = v.toIntOption.getOrElse(-1)
          case 'F' => v.split(':') match {
            case Array(a, b) =>
              fn = a.toIntOption.getOrElse(-1); fd = b.toIntOption.getOrElse(-1)
            case _ => return None
          }
          case 'C' => cs = v
          case _ => // Ip, A1:1, Xapp-specific: irrelevant to the pixel layout
        }
      }
      // 8-bit layouts only — "C420p10"/"C422" etc. must reject, not be
      // misread as 8-bit planes (the subsampling-position variants share
      // one byte layout)
      val is444 = cs == "444"
      if (!is444 && !Set("420", "420jpeg", "420mpeg2", "420paldv").contains(cs)) return None
      if (w <= 0 || h <= 0 || fn <= 0 || fd <= 0) return None
      if (!is444 && ((w % 2) != 0 || (h % 2) != 0)) return None
      val ySize = w * h
      val cSize = if (is444) ySize else (w / 2) * (h / 2)
      val marker = "FRAME".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      var nFrames = 0
      var pos = eol + 1
      while (pos < bytes.length) {
        if (pos + marker.length > bytes.length ||
          !marker.indices.forall(k => bytes(pos + k) == marker(k))) return None
        pos += marker.length
        while (pos < bytes.length && bytes(pos) != '\n') pos += 1 // frame params
        if (pos >= bytes.length) return None
        pos += 1
        if (pos + ySize + 2L * cSize > bytes.length) return None // truncated frame
        visit(pos, w, h, cSize)
        nFrames += 1
        pos += ySize + 2 * cSize
      }
      if (nFrames == 0) None else Some((w, h, fn, fd, is444, nFrames))
    }

    /** None for anything that is not a complete 8-bit C420/C444 stream —
      * callers treat that as "not video I can decode", never as an error.
      * Frame payloads are folded to per-plane sums while scanning (a real
      * pipeline's reduce-as-you-decode; full pixel buffers never live past
      * the plane scan).
      */
    def decode(bytes: Array[Byte]): Option[Video] = {
      val frames = ArrayBuffer.empty[Frame]
      walk(bytes) { (pos, w, h, cSize) =>
        val ySize = w * h
        def planeSum(at: Int, n: Int): Long = {
          var s = 0L; var k = at
          val end = at + n
          while (k < end) { s += bytes(k) & 0xFF; k += 1 }
          s
        }
        frames += Frame(planeSum(pos, ySize),
          planeSum(pos + ySize, cSize), planeSum(pos + ySize + cSize, cSize))
      }.map { case (w, h, fn, fd, is444, _) =>
        Video(w, h, fn, fd, is444, frames.toArray)
      }
    }

    /** Per-frame 64-bit perceptual hash over the LUMA plane — the video
      * sibling of [[PpmCodec.aHash64]] (identical 8×8 block-mean grid and
      * exact integer cross-multiplied comparison, single-channel): frame
      * f's bit b is set iff grid block b's mean luma strictly exceeds the
      * frame's global mean. Computed during the same single stream walk as
      * [[decode]]; full pixel buffers never live past the plane scan.
      */
    def frameLumaAHashes(bytes: Array[Byte]): Option[Array[Long]] = {
      val hashes = ArrayBuffer.empty[Long]
      walk(bytes) { (pos, w, h, _) =>
        val blockSum = new Array[Long](64)
        val blockCnt = new Array[Long](64)
        var total = 0L
        var y = 0
        while (y < h) {
          val by = y * 8 / h
          var x = 0
          while (x < w) {
            val bx = x * 8 / w
            val l = bytes(pos + y * w + x) & 0xFF
            val b = by * 8 + bx
            blockSum(b) += l; blockCnt(b) += 1
            total += l
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        var hash = 0L
        var i = 0
        while (i < 64) {
          if (blockCnt(i) > 0 && blockSum(i) * n > total * blockCnt(i)) hash |= 1L << i
          i += 1
        }
        hashes += hash
      }.map(_ => hashes.toArray)
    }

    /** Temporal pooling of per-frame hashes into ONE 64-bit video
      * fingerprint: bit b survives iff it is set in a STRICT majority of
      * frames (ties → 0 — pinned, so the pooling is deterministic for any
      * frame count). Majority pooling makes the fingerprint robust to a
      * minority of edited/inserted frames while trims/re-encodes that
      * preserve most frames keep most bits — the aHash philosophy applied
      * on the time axis.
      */
    def temporalHash64(frameHashes: Array[Long]): Long = {
      val n = frameHashes.length
      var hash = 0L
      var b = 0
      while (b < 64) {
        var c = 0
        var i = 0
        while (i < n) {
          if (((frameHashes(i) >>> b) & 1L) == 1L) c += 1
          i += 1
        }
        if (2 * c > n) hash |= 1L << b
        b += 1
      }
      hash
    }
  }

  /** Byte-level fallback for payloads none of the real codecs accept:
    * deterministic pseudo-features from a rolling hash. With PPM, WAV and
    * Y4M all real, this survives only as the undecodable-payload path in
    * [[extractFeatures]] and as the cheap per-frame content hash.
    */
  object ByteStatCodec {
    /** 8-dim deterministic pseudo-embedding from a rolling hash. */
    def decodeFeatures(bytes: Array[Byte], dim: Int = 8): Array[Float] = {
      val out = new Array[Float](dim)
      var h = 1125899906842597L
      var i = 0
      while (i < bytes.length) {
        h = 31 * h + bytes(i)
        out(i % dim) += (h % 1000L) / 1000.0f
        i += 1
      }
      out
    }

    /** 64-bit payload hash seeded by `frameIdx` ([[extractFeatures]]'
      * `content_hash` is frame 0). */
    def frameHash(bytes: Array[Byte], frameIdx: Int): Long = {
      var h = 1125899906842597L ^ frameIdx.toLong
      var i = 0
      while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
      h
    }
  }

  /** Batched decode/feature-extract over binary payloads: one codec "init"
    * per partition, rows streamed through it. Images that parse as PPM get
    * REAL decoded features [width, height, meanR, meanG, meanB, maxval];
    * audio that parses as RIFF/WAVE PCM gets [sampleRate, nChannels,
    * nFrames, meanCh0..]; video that parses as Y4M gets [width, height,
    * nFrames, meanLuma]; everything else falls back to the byte-stat
    * placeholder.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init would go here (once per task, not per row)
      rows.map { r =>
        val decoded: Option[Array[Float]] = r.kind match {
          case "image" => PpmCodec.decode(r.content).map { img =>
            val (mr, mg, mb) = PpmCodec.channelMeans(img)
            Array(img.width.toFloat, img.height.toFloat,
              mr.toFloat, mg.toFloat, mb.toFloat, img.maxVal.toFloat)
          }
          case "audio" => WavCodec.decode(r.content).map { a =>
            Array(a.sampleRate.toFloat, a.nChannels.toFloat, a.nFrames.toFloat) ++
              WavCodec.channelMeans(a).map(_.toFloat)
          }
          case "video" => Y4mCodec.decode(r.content).map { v =>
            val mean = v.frames.map(_.ySum).sum / (v.frames.length * v.lumaSize.toDouble)
            Array(v.width.toFloat, v.height.toFloat, v.frames.length.toFloat, mean.toFloat)
          }
          case _ => None
        }
        val feats = decoded.getOrElse(ByteStatCodec.decodeFeatures(r.content))
        MediaFeatures(r.media_id, r.kind, r.content.length.toLong,
          ByteStatCodec.frameHash(r.content, 0), feats)
      }
    }
  }

  final case class ImageStats(media_id: Long, width: Long, height: Long,
                              mean_r: Double, mean_g: Double, mean_b: Double)

  /** Decode-and-summarize for image payloads: parse each binary PPM and
    * emit per-channel pixel means (exact integer sums, one double
    * division — raw, unrounded; callers round for presentation). Rows that
    * do not parse as P6 are dropped (flatMap), mirroring a pipeline's
    * decode-or-discard step. This is the oracle-backed surface: the means
    * are a pure function of known payload bytes.
    */
  def decodeImages(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        PpmCodec.decode(r.content).map { img =>
          val (mr, mg, mb) = PpmCodec.channelMeans(img)
          ImageStats(r.media_id, img.width.toLong, img.height.toLong, mr, mg, mb)
        }
      }
    }.toDF()
  }

  final case class AudioStats(media_id: Long, sample_rate: Int, n_channels: Int,
                              n_frames: Long, duration_ms: Long,
                              channel_means: Array[Double])

  /** Decode-and-summarize for audio payloads: parse each binary RIFF/WAVE
    * PCM blob and emit format fields plus per-channel sample means (exact
    * integer sums, one double division — raw, unrounded; callers round for
    * presentation). Rows that do not parse as PCM WAV are dropped (flatMap),
    * mirroring a pipeline's decode-or-discard step. This is the
    * oracle-backed surface: every output value is a pure function of known
    * payload bytes.
    */
  def decodeAudio(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        WavCodec.decode(r.content).map { a =>
          AudioStats(r.media_id, a.sampleRate, a.nChannels, a.nFrames.toLong,
            a.durationMs, WavCodec.channelMeans(a))
        }
      }
    }.toDF()
  }

  final case class VideoFrameStats(media_id: Long, frame_idx: Int, width: Int, height: Int,
                                   mean_y: Double, mean_u: Double, mean_v: Double)

  /** Decode-and-summarize for video payloads: parse each Y4M stream and
    * emit one row per frame with per-plane pixel means (exact integer
    * sums, one double division — raw, unrounded). Rows that do not parse
    * as Y4M are dropped (flatMap). This is the oracle-backed surface:
    * every output value is a pure function of known payload bytes.
    */
  def decodeVideo(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        Y4mCodec.decode(r.content).toSeq.flatMap { v =>
          val ySz = v.lumaSize.toDouble
          val cSz = v.chromaSize.toDouble
          v.frames.iterator.zipWithIndex.map { case (f, idx) =>
            VideoFrameStats(r.media_id, idx, v.width, v.height,
              f.ySum / ySz, f.uSum / cSz, f.vSum / cSz)
          }
        }
      }
    }.toDF()
  }

  final case class ImageHash(media_id: Long, ahash: Long)

  /** Perceptual hash per image payload: decode each binary PPM and emit its
    * 64-bit [[PpmCodec.aHash64]]. Undecodable rows are dropped (flatMap) —
    * the decode-or-discard step. Same `mapPartitions` carve-out as
    * [[decodeImages]]: row-local byte decoding no Catalyst expression fits;
    * binary payloads never shuffle (the hash leaves the scan stage as one
    * long per image).
    */
  def imageAHash(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap(r => PpmCodec.decode(r.content).map(img =>
        ImageHash(r.media_id, PpmCodec.aHash64(img))))
    }.toDF()
  }

  /** Image NEAR-duplicate pairs within a Hamming radius over the perceptual
    * hash — the media counterpart of text SimHash dedup, completing the
    * image-dedup story next to the exact [[payloadDigest]]: re-encoded,
    * lightly edited, or noise-dusted copies of an image share most aHash
    * bits even when their payload digests differ.
    *
    * Scale shape = [[graft.ops.Dedup.simhashPairs]]'s banding, adapted to
    * 64 bits: split the hash into 4 16-bit bands; within radius r ≤ 3 at
    * least one band matches exactly (pigeonhole over 4 bands), so
    * candidates come from 4 equi-joins on (band, value) — never an
    * all-pairs comparison. Shuffle volume is 4 rows of (id, hash, band
    * key) per image; bucket sizes are governed by genuinely-similar
    * populations, the LSH argument the text banding already carries.
    * Verification is one codegen'd `bit_count(xor)` per candidate.
    * Deterministic end-to-end (integer hash, exact banding) → full value
    * oracle: DuckDB replays the hash bits from the payload bytes and
    * brute-forces all pairs, which banding must exactly reproduce.
    */
  def imageNearDupPairs(media: Dataset[MediaRow], radius: Int = 3): DataFrame =
    hammingBandedPairs(imageAHash(media), radius)

  final case class AudioHash(media_id: Long, ahash: Long)

  /** Perceptual fingerprint per audio payload: decode each RIFF/WAVE blob
    * and emit its 64-bit [[WavCodec.energyHash64]]. Undecodable rows are
    * dropped (flatMap); same `mapPartitions` carve-out and never-shuffle-
    * the-payload shape as [[imageAHash]].
    */
  def audioEnergyHash(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap(r => WavCodec.decode(r.content).map(a =>
        AudioHash(r.media_id, WavCodec.energyHash64(a))))
    }.toDF()
  }

  /** Audio NEAR-duplicate pairs within a Hamming radius over the energy
    * fingerprint — the audio leg of media dedup (re-encoded or
    * gain-adjusted copies of a clip share the envelope hash even when
    * their payload digests differ). Same banded scale shape and recall
    * guarantee as [[imageNearDupPairs]].
    */
  def audioNearDupPairs(media: Dataset[MediaRow], radius: Int = 3): DataFrame =
    hammingBandedPairs(audioEnergyHash(media), radius)

  final case class VideoHash(media_id: Long, ahash: Long)

  /** Perceptual fingerprint per video payload: decode each Y4M stream,
    * hash every frame's luma plane ([[Y4mCodec.frameLumaAHashes]]), and
    * pool across frames by strict bit-majority
    * ([[Y4mCodec.temporalHash64]]). Undecodable rows are dropped; same
    * `mapPartitions` carve-out and never-shuffle-the-payload shape as the
    * image/audio legs.
    */
  def videoTemporalHash(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap(r => Y4mCodec.frameLumaAHashes(r.content).map(fh =>
        VideoHash(r.media_id, Y4mCodec.temporalHash64(fh))))
    }.toDF()
  }

  /** Video NEAR-duplicate pairs within a Hamming radius over the temporal
    * fingerprint — completing the media-dedup triple (image aHash, audio
    * energy envelope, video temporal luma hash) on the same shared banded
    * pair engine and recall guarantee.
    */
  def videoNearDupPairs(media: Dataset[MediaRow], radius: Int = 3): DataFrame =
    hammingBandedPairs(videoTemporalHash(media), radius)

  /** Shared pair engine for the 64-bit perceptual hashes: 4×16-bit band
    * equi-joins (pigeonhole — any pair within Hamming radius ≤ 3 agrees
    * exactly on at least one band, so candidate generation is equi-joins,
    * never an all-pairs comparison), then one codegen'd `bit_count(xor)`
    * verification per candidate. Shuffle volume is 4 (id, hash, band-key)
    * rows per item; bucket sizes are governed by genuinely-similar
    * populations — the LSH argument `Dedup.simhashPairs` carries for
    * text, applied to media. Input contract: (media_id, ahash).
    */
  private def hammingBandedPairs(fp: DataFrame, radius: Int): DataFrame = {
    require(radius >= 0 && radius <= 3,
      s"4-band banding guarantees recall only for 0 <= radius <= 3, got $radius")
    val bands = (0 until 4).map { b =>
      struct(lit(b).as("blk"),
        shiftrightunsigned(col("ahash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("v"))
    }
    val keyed = fp.select(col("media_id"), col("ahash"), explode(array(bands: _*)).as("kb"))
      .select(col("media_id"), col("ahash"), col("kb.blk").as("blk"), col("kb.v").as("v"))
    keyed.as("x").join(keyed.as("y"),
        col("x.blk") === col("y.blk") && col("x.v") === col("y.v") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"),
        col("x.ahash").as("ha"), col("y.ahash").as("hb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= radius)
      .orderBy("id_a", "id_b")
  }

  /** Oracle-checkable byte-level pipeline over a string column treated as an
    * opaque payload: byte length + md5 digest (what a real pipeline logs per
    * blob for integrity). Exercises the binary path end-to-end against the
    * DuckDB oracle.
    */
  def payloadDigest(documents: DataFrame): DataFrame =
    documents.select(
        col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        md5(col("text").cast("binary")).as("digest"))
      .orderBy("doc_id")
}
