package graft.operators

/** REAL pure-JVM media codecs — no external codec library:
  *   - PCM WAV (RIFF) audio and binary PPM (P6) images decode with byte
  *     arithmetic alone (sample rate, duration, RMS, zero-crossings;
  *     dimensions, channel means, luminance).
  *   - PNG and JPEG decode/encode through the JDK's own
  *     `javax.imageio` (headless-safe, ships in the standard library) —
  *     real pixel rasters, not fakes.
  *   - MP4 CONTAINER demux is a byte-walk over the ISO BMFF box tree
  *     (ISO/IEC 14496-12): mvhd timescale/duration, tkhd dimensions,
  *     track count — real metadata from real parsing.
  *   - Motion-JPEG video decodes END-TO-END in BOTH containers: the AVI
  *     RIFF walk demuxes '00dc' samples, the MP4 sample-table walk
  *     (stco × stsc × stsz under a 'jpeg' stsd entry) resolves absolute
  *     sample ranges, and every frame runs through the real JPEG kernel
  *     (frame count, per-frame luma, temporal motion). Only H.264/H.265
  *     FRAME decode stays out of scope — no decoder for those codecs
  *     exists in the JDK.
  *
  * All functions are pure byte→value: safe inside `mapPartitions`,
  * deterministic on any partitioning, no shared codec state (ImageIO's
  * disk-backed stream cache is disabled — a decode must never do
  * temp-file I/O inside a task). Malformed payloads return None — a
  * corrupt-asset row becomes a quarantine row, never a task failure (the
  * petabyte-media-corpus requirement).
  */
object MediaCodecs {

  // ImageIO defaults to spilling image streams through temp FILES; in a
  // mapPartitions decode loop that is a hidden disk write per record.
  // Memory-cached streams keep decode pure CPU.
  javax.imageio.ImageIO.setUseCache(false)

  /** Decoded PCM WAV summary — real signal statistics, not fakes. */
  case class WavInfo(
      sampleRate: Int, channels: Int, bitsPerSample: Int, nSamples: Long,
      durationMs: Long, rms: Double, peak: Double, zeroCrossRate: Double)

  /** Decoded P6 PPM summary. */
  case class PpmInfo(
      width: Int, height: Int, meanR: Double, meanG: Double, meanB: Double,
      meanLuma: Double)

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "US-ASCII")

  /** Encode 16-bit mono PCM samples as a canonical 44-byte-header WAV. */
  def encodeWavPcm16(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataSize = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16) // block align, bits
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** Decode a PCM WAV: walks the RIFF chunk list (any chunk order, unknown
    * chunks skipped — real files carry LIST/INFO chunks), then one pass
    * over the int16 samples for RMS (of full-scale-normalized amplitude),
    * peak, and zero-crossing rate. None for non-RIFF, non-PCM, or
    * truncated payloads.
    */
  def decodeWav(bytes: Array[Byte]): Option[WavInfo] = {
    if (bytes.length < 44 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") return None
    var off = 12L
    var sampleRate = 0; var channels = 0; var bits = 0; var fmtOk = false
    var dataOff = -1; var dataLen = 0L
    while (off + 8 <= bytes.length) {
      val o = off.toInt
      val id = tag(bytes, o); val size = le32(bytes, o + 4)
      if (id == "fmt " && off + 8 + 16 <= bytes.length) {
        val audioFormat = le16(bytes, o + 8)
        channels = le16(bytes, o + 10)
        sampleRate = le32(bytes, o + 12).toInt
        bits = le16(bytes, o + 22)
        fmtOk = audioFormat == 1 && bits == 16 && channels >= 1 && sampleRate > 0
      } else if (id == "data") {
        dataOff = o + 8
        dataLen = math.min(size, (bytes.length - dataOff).toLong)
      }
      // long arithmetic: a corrupt 32-bit size must only END the walk —
      // never wrap the offset negative (quarantine, not a task failure)
      off += 8L + size + (size & 1L)
    }
    if (!fmtOk || dataOff < 0 || dataLen < 2) return None
    val nFrames = dataLen / 2 / channels
    var i = dataOff
    val end = dataOff + (dataLen - (dataLen % 2)).toInt
    var sumSq = 0.0; var peak = 0.0; var crossings = 0L; var prev = 0; var n = 0L
    while (i + 1 < end) {
      val s = le16(bytes, i).toShort.toInt
      val a = s / 32768.0
      sumSq += a * a
      if (math.abs(a) > peak) peak = math.abs(a)
      if (n > 0 && ((s >= 0 && prev < 0) || (s < 0 && prev >= 0))) crossings += 1
      prev = s; n += 1; i += 2
    }
    Some(WavInfo(sampleRate, channels, bits, nFrames,
      nFrames * 1000L / sampleRate,
      math.sqrt(sumSq / n), peak,
      if (n > 1) crossings.toDouble / (n - 1) else 0.0))
  }

  /** 64-bit audio fingerprint of a PCM16 WAV payload — the aHash of the
    * audio modality: decode → 64 equal sample windows (sample i feeds
    * window ⌊64·i/n⌋) → per-window mean |amplitude| (all-Long integer
    * sums) → bit b set iff window b's mean exceeds the mean of the 64
    * window means, LSB-first. Energy envelopes survive re-encoding and
    * level shifts move few bits — Hamming distance is the near-dup
    * signal, served by the same banded join as the image hash. None for
    * undecodable payloads or fewer than 64 mono samples.
    */
  def audioFingerprint64(bytes: Array[Byte]): Option[Long] = {
    if (bytes.length < 44 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") return None
    var off = 12L
    var fmtOk = false; var channels = 0
    var dataOff = -1; var dataLen = 0L
    while (off + 8 <= bytes.length) {
      val o = off.toInt
      val id = tag(bytes, o); val size = le32(bytes, o + 4)
      if (id == "fmt " && off + 8 + 16 <= bytes.length) {
        channels = le16(bytes, o + 10)
        fmtOk = le16(bytes, o + 8) == 1 && le16(bytes, o + 22) == 16 &&
          channels == 1 && le32(bytes, o + 12) > 0
      } else if (id == "data") {
        dataOff = o + 8
        dataLen = math.min(size, (bytes.length - dataOff).toLong)
      }
      off += 8L + size + (size & 1L)
    }
    if (!fmtOk || dataOff < 0) return None
    val n = (dataLen / 2).toInt
    if (n < 64) return None
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var i = 0
    while (i < n) {
      val s = le16(bytes, dataOff + 2 * i).toShort.toInt
      val w = ((64L * i) / n).toInt
      sums(w) += math.abs(s)
      counts(w) += 1
      i += 1
    }
    val avgs = Array.tabulate(64)(b => sums(b).toDouble / counts(b))
    val mean = avgs.sum / 64.0
    var acc = 0L
    var b = 0
    while (b < 64) {
      if (avgs(b) > mean) acc |= 1L << b
      b += 1
    }
    Some(acc)
  }

  /** Synthesize a WAV whose [[audioFingerprint64]] is KNOWN BY
    * CONSTRUCTION — the audio twin of [[syntheticBlockPpm]]: 64 windows
    * of 250 samples, each a ±amplitude square wave at 16000 (loud) or
    * 500 (quiet) per [[blockBit]] (window means decode to exactly those
    * levels), `flips` toggling chosen windows.
    */
  def syntheticBlockWav(patternId: Long, flips: Seq[Int] = Nil): Array[Byte] = {
    val perWindow = 250
    val samples = new Array[Short](64 * perWindow)
    val flipSet = flips.toSet
    var w = 0
    while (w < 64) {
      val bit = blockBit(patternId, w) ^ (if (flipSet.contains(w)) 1 else 0)
      val amp = if (bit == 1) 16000 else 500
      var i = 0
      while (i < perWindow) {
        samples(w * perWindow + i) = (if (i % 2 == 0) amp else -amp).toShort
        i += 1
      }
      w += 1
    }
    encodeWavPcm16(samples, 16000)
  }

  /** Encode interleaved RGB bytes as a binary P6 PPM. */
  def encodePpm(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width * height * 3,
      s"rgb length ${rgb.length} != $width x $height x 3")
    val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(rgb, 0, out, header.length, rgb.length)
    out
  }

  /** (width, height, pixel offset) of a P6 payload, honoring PPM's
    * whitespace/comment grammar. None unless the full raster is present.
    */
  private def ppmHeader(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return None
    var off = 2
    def nextInt(): Option[Int] = {
      while (off < bytes.length &&
        (bytes(off) == ' ' || bytes(off) == '\n' || bytes(off) == '\r' ||
          bytes(off) == '\t' || bytes(off) == '#')) {
        if (bytes(off) == '#') { while (off < bytes.length && bytes(off) != '\n') off += 1 }
        else off += 1
      }
      val start = off
      while (off < bytes.length && bytes(off) >= '0' && bytes(off) <= '9') off += 1
      // >9 digits cannot be a sane dimension/maxval and would overflow
      // toInt — malformed headers must quarantine, never throw
      if (off == start || off - start > 9) None
      else Some(new String(bytes, start, off - start, "US-ASCII").toInt)
    }
    for {
      w <- nextInt(); h <- nextInt(); maxV <- nextInt()
      if maxV == 255 && w > 0 && h > 0 && off + 1 + w * h * 3 <= bytes.length
    } yield (w, h, off + 1) // single whitespace byte after maxval
  }

  /** Decode a P6 PPM: real per-channel means and Rec.601 luminance. */
  def decodePpm(bytes: Array[Byte]): Option[PpmInfo] =
    ppmHeader(bytes).map { case (w, h, px) =>
      var r = 0.0; var g = 0.0; var b = 0.0
      var i = px
      val n = w * h
      var k = 0
      while (k < n) {
        r += (bytes(i) & 0xff); g += (bytes(i + 1) & 0xff); b += (bytes(i + 2) & 0xff)
        i += 3; k += 1
      }
      val (mr, mg, mb) = (r / n, g / n, b / n)
      PpmInfo(w, h, mr, mg, mb, 0.299 * mr + 0.587 * mg + 0.114 * mb)
    }

  /** Deterministic REAL WAV synthesis for the testdata corpus: a sine tone
    * whose frequency/length derive from the seed — a genuine decodable
    * asset with analytically known RMS (amp/√2) and zero-cross rate
    * (2f/rate).
    */
  def syntheticWav(seed: Long, nSamples: Int, sampleRate: Int = 16000): Array[Byte] = {
    val freq = 200.0 + (math.abs(seed) % 20) * 40.0 // 200..960 Hz
    val amp = 0.5
    val samples = Array.tabulate(nSamples) { i =>
      (amp * math.sin(2 * math.Pi * freq * i / sampleRate) * 32767).toShort
    }
    encodeWavPcm16(samples, sampleRate)
  }

  /** Deterministic REAL PPM synthesis: pixels derived from the seed bytes
    * (repeating), a genuine decodable raster with knowable channel means.
    */
  def syntheticPpm(seedBytes: Array[Byte], width: Int, height: Int): Array[Byte] = {
    val n = width * height * 3
    val rgb = new Array[Byte](n)
    val m = math.max(seedBytes.length, 1)
    var i = 0
    while (i < n) {
      rgb(i) = if (seedBytes.isEmpty) 0 else seedBytes(i % m)
      i += 1
    }
    encodePpm(width, height, rgb)
  }

  /** The planted block-pattern bit of [[syntheticBlockPpm]]: block 0 is
    * forced bright and block 63 forced dark (so both levels always exist
    * and the aHash threshold sits strictly between them); every other
    * block takes the low bit of the first hex nibble of
    * md5("patternId_b") — the engine-independent salted-md5 family, so
    * an oracle recomputes the expected hash without decoding a pixel.
    */
  // one digest instance per task thread: getInstance per (id, block) call
  // costs more than the hash itself at corpus scale (64 calls per asset),
  // and digest() resets the instance so reuse is safe
  private val md5Local = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def blockBit(patternId: Long, b: Int): Int =
    if (b == 0) 1
    else if (b == 63) 0
    else {
      val d = md5Local.get().digest(s"${patternId}_$b".getBytes("UTF-8"))
      (d(0) >> 4) & 1
    }

  /** Synthesize a 32×32 P6 whose aHash is KNOWN BY CONSTRUCTION: an 8×8
    * grid of 4×4-pixel blocks, each uniformly bright (200) or dark (50)
    * per [[blockBit]], with `flips` toggling chosen blocks (a flipped
    * sibling is a planted near-duplicate at exactly |flips| Hamming
    * bits). Block means decode to exactly 50/200, so
    * `aHash64(syntheticBlockPpm(id)) == Σ blockBit(id, b) << b` — the
    * identity the q147 oracle checks end-to-end through the real codec.
    */
  def syntheticBlockPpm(patternId: Long, flips: Seq[Int] = Nil): Array[Byte] = {
    val (w, h) = (32, 32)
    val rgb = new Array[Byte](w * h * 3)
    val flipSet = flips.toSet
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val b = (y / 4) * 8 + (x / 4)
        val bit = blockBit(patternId, b) ^ (if (flipSet.contains(b)) 1 else 0)
        val v: Byte = if (bit == 1) 200.toByte else 50.toByte
        val i = (y * w + x) * 3
        rgb(i) = v; rgb(i + 1) = v; rgb(i + 2) = v
        x += 1
      }
      y += 1
    }
    encodePpm(w, h, rgb)
  }

  // ---- PNG / JPEG via the JDK's javax.imageio (REAL compressed codecs) ----

  /** Container sniff by magic bytes: Some("png") / Some("jpeg") / None.
    * Dispatch must come from the BYTES, not the claimed mime type — a
    * mislabeled asset decodes by what it is.
    */
  def sniffImageFormat(bytes: Array[Byte]): Option[String] =
    if (bytes.length >= 8 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G') Some("png")
    else if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8 && (bytes(2) & 0xff) == 0xff) Some("jpeg")
    else None

  private def readImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    catch { case _: Exception => None } // corrupt stream → quarantine

  private def writeImage(img: java.awt.image.BufferedImage, format: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, out)
    out.toByteArray
  }

  /** Integer Rec.601-style gray raster of any decodable payload (raw P6
    * or PNG/JPEG via ImageIO): (width, height, gray[w·h]) with
    * gray = (299·r + 587·g + 114·b) / 1000 — all-integer, so every JVM
    * computes the identical raster. None on undecodable bytes.
    */
  private def grayRaster(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    def lum(r: Int, g: Int, b: Int): Int = (299 * r + 587 * g + 114 * b) / 1000
    ppmHeader(bytes).map { case (w, h, px) =>
      val gray = new Array[Int](w * h)
      var k = 0; var i = px
      while (k < w * h) {
        gray(k) = lum(bytes(i) & 0xff, bytes(i + 1) & 0xff, bytes(i + 2) & 0xff)
        i += 3; k += 1
      }
      (w, h, gray)
    }.orElse(sniffImageFormat(bytes).flatMap(_ => readImage(bytes)).map { img =>
      val (w, h) = (img.getWidth, img.getHeight)
      val rgb = img.getRGB(0, 0, w, h, null, 0, w)
      val gray = new Array[Int](w * h)
      var k = 0
      while (k < w * h) {
        val p = rgb(k)
        gray(k) = lum((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
        k += 1
      }
      (w, h, gray)
    })
  }

  /** 64-bit average hash (aHash) of an image payload — the perceptual
    * near-dup signature: decode → integer gray → area-average onto an
    * 8×8 grid (pixel (x,y) feeds block (⌊8y/h⌋, ⌊8x/w⌋), so every pixel
    * counts once and every block is non-empty for w,h ≥ 8) → bit b set
    * iff block b's mean exceeds the mean of the 64 block means, packed
    * LSB-first (b = row·8 + col). Crops/re-encodes/noise move few bits;
    * unrelated images differ in ~32 — Hamming distance is the dedup
    * signal (pair generation: `Multimodal.hamming64NearDupPairs`). None for
    * undecodable payloads or rasters smaller than the grid.
    */
  def aHash64(bytes: Array[Byte]): Option[Long] =
    grayRaster(bytes).flatMap { case (w, h, gray) =>
      if (w < 8 || h < 8) None
      else {
        val sums = new Array[Long](64)
        val counts = new Array[Long](64)
        var y = 0
        while (y < h) {
          val br = (8 * y) / h
          var x = 0
          while (x < w) {
            val b = br * 8 + (8 * x) / w
            sums(b) += gray(y * w + x)
            counts(b) += 1
            x += 1
          }
          y += 1
        }
        val avgs = Array.tabulate(64)(b => sums(b).toDouble / counts(b))
        val mean = avgs.sum / 64.0
        var acc = 0L
        var b = 0
        while (b < 64) {
          if (avgs(b) > mean) acc |= 1L << b
          b += 1
        }
        Some(acc)
      }
    }

  /** Decode a PNG or JPEG payload into the same raster summary as
    * [[decodePpm]]: real dimensions, per-channel means, Rec.601 luminance,
    * computed from the decoded pixels. One bulk `getRGB` fetch, one pass.
    * None for non-PNG/JPEG magic or a corrupt stream.
    */
  def decodeCompressedImage(bytes: Array[Byte]): Option[PpmInfo] =
    sniffImageFormat(bytes).flatMap(_ => readImage(bytes)).flatMap { img =>
      val (w, h) = (img.getWidth, img.getHeight)
      if (w <= 0 || h <= 0) None
      else {
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        var r = 0.0; var g = 0.0; var b = 0.0
        var i = 0
        while (i < px.length) {
          val p = px(i)
          r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
          i += 1
        }
        val n = px.length.toDouble
        val (mr, mg, mb) = (r / n, g / n, b / n)
        Some(PpmInfo(w, h, mr, mg, mb, 0.299 * mr + 0.587 * mg + 0.114 * mb))
      }
    }

  /** Encode interleaved RGB bytes as PNG ("png", lossless) or JPEG
    * ("jpeg"). The PNG roundtrip through [[decodeCompressedImage]] is
    * bit-exact on pixel values; JPEG is lossy by design.
    */
  def encodeImage(width: Int, height: Int, rgb: Array[Byte], format: String): Array[Byte] = {
    require(rgb.length == width * height * 3,
      s"rgb length ${rgb.length} != $width x $height x 3")
    require(format == "png" || format == "jpeg", s"unsupported format $format")
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val i = 3 * (y * width + x)
        img.setRGB(x, y,
          ((rgb(i) & 0xff) << 16) | ((rgb(i + 1) & 0xff) << 8) | (rgb(i + 2) & 0xff))
        x += 1
      }
      y += 1
    }
    writeImage(img, format)
  }

  /** Deterministic REAL PNG synthesis — the [[syntheticPpm]] pattern
    * through the PNG codec, so every scale factor gets genuinely
    * ImageIO-decodable compressed assets.
    */
  def syntheticPng(seedBytes: Array[Byte], width: Int, height: Int): Array[Byte] = {
    val n = width * height * 3
    val rgb = new Array[Byte](n)
    val m = math.max(seedBytes.length, 1)
    var i = 0
    while (i < n) {
      rgb(i) = if (seedBytes.isEmpty) 0 else seedBytes(i % m)
      i += 1
    }
    encodeImage(width, height, rgb, "png")
  }

  // ---- MP4 / ISO BMFF container demux (metadata; frame decode needs codecs) ----

  /** Parsed MP4 container metadata — real box-tree facts, not fakes. */
  case class Mp4Info(durationMs: Long, timescale: Long, width: Int, height: Int,
                     nTracks: Int)

  private def be32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  private def be64(b: Array[Byte], off: Int): Long =
    (be32(b, off) << 32) | be32(b, off + 4)

  private def boxType(b: Array[Byte], off: Int): String =
    new String(b, off + 4, 4, "US-ASCII")

  /** Walk the sibling boxes of [start, end), invoking `visit(type, payloadStart,
    * payloadEnd)` per box. Bounds-checked and iteration-capped: a hostile
    * size field (0, negative-looking, beyond the buffer, or a loop) makes
    * the walk STOP, never spin or read out of bounds — a corrupt asset is
    * a quarantine row, not a hung task (the adversarial-header rule).
    */
  private def walkBoxes(b: Array[Byte], start: Int, end: Int)
                       (visit: (String, Int, Int) => Unit): Unit = {
    var off = start
    var steps = 0
    while (off + 8 <= end && steps < 10000) {
      val size32 = be32(b, off)
      val (payload, next) =
        if (size32 == 1L && off + 16 <= end) {
          val size64 = be64(b, off + 8)
          if (size64 < 16 || size64 > (end - off).toLong) (-1, end)
          else (off + 16, off + size64.toInt)
        } else if (size32 == 0L) (off + 8, end) // box extends to the end
        else if (size32 < 8 || size32 > (end - off).toLong) (-1, end)
        else (off + 8, off + size32.toInt)
      if (payload >= 0) visit(boxType(b, off), payload, next)
      off = next
      steps += 1
    }
  }

  /** Demux an MP4/ISO-BMFF payload's container metadata: duration via
    * mvhd's timescale (version 0 and 1 layouts), presentation dimensions
    * from the largest tkhd (16.16 fixed point), and the track count. None
    * for non-BMFF bytes (no top-level ftyp/moov) or a malformed tree.
    */
  def decodeMp4Meta(bytes: Array[Byte]): Option[Mp4Info] = {
    if (bytes.length < 16) return None
    var sawBmff = false
    var timescale = 0L; var duration = -1L
    var width = 0; var height = 0; var nTracks = 0
    walkBoxes(bytes, 0, bytes.length) { (t, s, e) =>
      if (t == "ftyp") sawBmff = true
      else if (t == "moov") {
        sawBmff = true
        walkBoxes(bytes, s, e) { (t2, s2, e2) =>
          if (t2 == "mvhd" && e2 - s2 >= 4) {
            val v = bytes(s2) & 0xff
            if (v == 1 && e2 - s2 >= 32) {
              timescale = be32(bytes, s2 + 20); duration = be64(bytes, s2 + 24)
            } else if (v == 0 && e2 - s2 >= 20) {
              timescale = be32(bytes, s2 + 12); duration = be32(bytes, s2 + 16)
            }
          } else if (t2 == "trak") {
            nTracks += 1
            walkBoxes(bytes, s2, e2) { (t3, s3, e3) =>
              if (t3 == "tkhd" && e3 - s3 >= 4) {
                val v = bytes(s3) & 0xff
                // width/height are the LAST 8 payload bytes in both versions
                if (e3 - s3 >= (if (v == 1) 92 else 80)) {
                  val w = (be32(bytes, e3 - 8) >> 16).toInt
                  val h = (be32(bytes, e3 - 4) >> 16).toInt
                  if (w * h > width * height) { width = w; height = h }
                }
              }
            }
          }
        }
      }
    }
    if (!sawBmff || timescale <= 0 || duration < 0) None
    else Some(Mp4Info(duration * 1000L / timescale, timescale, width, height, nTracks))
  }

  // ---- Motion-JPEG in MP4 (ISO BMFF) — REAL video FRAME decode ----
  //
  // The sample-table walk AVI doesn't need: MP4 samples live at absolute
  // file offsets resolved through stco (chunk offsets) × stsc (samples
  // per chunk, run-length encoded) × stsz (per-sample sizes), under an
  // stsd entry whose format fourcc names the codec. 'jpeg'-coded tracks
  // decode through the same javax.imageio kernel as AVI '00dc' samples;
  // H.264/H.265 remain out of scope (no JDK decoder exists) — for those,
  // container demux ([[decodeMp4Meta]]) is the honest ceiling.

  /** Demux an MP4 payload's FIRST 'jpeg'-coded track: (media timescale,
    * media duration in timescale units, the raw bytes of every sample in
    * table order). None for non-BMFF bytes, a missing/foreign-codec
    * track, or ANY sample whose stco/stsz-resolved range leaves the
    * buffer — a truncated or hostile file quarantines whole (the AVI
    * rule: a partial sample list would silently understate duration).
    */
  def demuxMp4Jpeg(bytes: Array[Byte]): Option[(Long, Long, Seq[Array[Byte]])] = {
    if (bytes.length < 16) return None
    var sawBmff = false
    var timescale = 0L; var duration = 0L
    var isJpeg = false; var done = false
    var sizes: Array[Long] = null
    var chunkOffsets: Array[Long] = null
    var stsc: Array[(Long, Long)] = null // (first_chunk, samples_per_chunk)
    walkBoxes(bytes, 0, bytes.length) { (t, s, e) =>
      if (t == "ftyp") sawBmff = true
      else if (t == "moov" && !done) {
        sawBmff = true
        walkBoxes(bytes, s, e) { (t2, s2, e2) =>
          if (t2 == "trak" && !done) {
            var ts = 0L; var dur = 0L; var jpeg = false
            var sz: Array[Long] = null; var co: Array[Long] = null
            var sc: Array[(Long, Long)] = null
            walkBoxes(bytes, s2, e2) { (t3, s3, e3) =>
              if (t3 == "mdia") walkBoxes(bytes, s3, e3) { (t4, s4, e4) =>
                if (t4 == "mdhd" && e4 - s4 >= 24 && (bytes(s4) & 0xff) == 0) {
                  ts = be32(bytes, s4 + 12); dur = be32(bytes, s4 + 16)
                } else if (t4 == "mdhd" && e4 - s4 >= 36 && (bytes(s4) & 0xff) == 1) {
                  ts = be32(bytes, s4 + 20); dur = be64(bytes, s4 + 24)
                } else if (t4 == "minf") walkBoxes(bytes, s4, e4) { (t5, s5, e5) =>
                  if (t5 == "stbl") walkBoxes(bytes, s5, e5) { (t6, s6, e6) =>
                    if (t6 == "stsd" && e6 - s6 >= 24) {
                      // first sample entry's format fourcc at +8+4+4+4
                      jpeg = boxType(bytes, s6 + 8) == "jpeg"
                    } else if (t6 == "stsz" && e6 - s6 >= 12) {
                      val fixed = be32(bytes, s6 + 4); val n = be32(bytes, s6 + 8).toInt
                      if (n >= 0 && n < 1000000 &&
                          (fixed != 0 || s6 + 12 + 4L * n <= e6))
                        sz = Array.tabulate(n)(i =>
                          if (fixed != 0) fixed else be32(bytes, s6 + 12 + 4 * i))
                    } else if (t6 == "stco" && e6 - s6 >= 8) {
                      val n = be32(bytes, s6 + 4).toInt
                      if (n >= 0 && n < 1000000 && s6 + 8 + 4L * n <= e6)
                        co = Array.tabulate(n)(i => be32(bytes, s6 + 8 + 4 * i))
                    } else if (t6 == "stsc" && e6 - s6 >= 8) {
                      val n = be32(bytes, s6 + 4).toInt
                      if (n >= 0 && n < 1000000 && s6 + 8 + 12L * n <= e6)
                        sc = Array.tabulate(n)(i => (be32(bytes, s6 + 8 + 12 * i),
                          be32(bytes, s6 + 12 + 12 * i)))
                    }
                  }
                }
              }
            }
            if (jpeg && sz != null && co != null && sc != null) {
              isJpeg = true; timescale = ts; duration = dur
              sizes = sz; chunkOffsets = co; stsc = sc; done = true
            }
          }
        }
      }
    }
    if (!sawBmff || !isJpeg || timescale <= 0) return None
    // resolve sample ranges: stsc entry i covers chunks first_i ..
    // first_{i+1}-1; within a chunk, samples are consecutive from its
    // absolute offset. Any resolved range off the buffer poisons the asset.
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var sample = 0
    var ci = 0
    while (ci < chunkOffsets.length && sample < sizes.length) {
      val entry = stsc.lastIndexWhere(_._1 <= ci + 1)
      if (entry < 0) return None
      val perChunk = stsc(entry)._2
      var off = chunkOffsets(ci)
      var j = 0L
      while (j < perChunk && sample < sizes.length) {
        val sz = sizes(sample)
        if (off < 0 || sz < 0 || off + sz > bytes.length) return None
        out += java.util.Arrays.copyOfRange(bytes, off.toInt, (off + sz).toInt)
        off += sz; sample += 1; j += 1
      }
      ci += 1
    }
    if (sample != sizes.length) None // table promised more samples than chunks hold
    else Some((timescale, duration, out.toSeq))
  }

  /** Decode an MJPEG-in-MP4 END-TO-END: resolve every sample through the
    * sample tables, run each through the registered frame decoder,
    * aggregate the same statistics as [[decodeAviMjpeg]]. Quarantine
    * (None) on a malformed tree, zero samples, ANY sample failing to
    * decode, or no decoder registered for the codec.
    */
  def decodeMp4Mjpeg(bytes: Array[Byte],
                     decoder: Option[FrameDecoder] = FrameDecoder.forCodec("MJPEG"))
      : Option[MjpegInfo] =
    demuxMp4Jpeg(bytes).flatMap { case (timescale, duration, frames) =>
      frameStats(frames, decoder).map { case (w, h, n, meanLuma, motion) =>
        val fps = if (duration > 0) timescale.toDouble * n / duration else 0.0
        MjpegInfo(w, h, n, fps, meanLuma, motion)
      }
    }

  /** Shared frame-payload aggregation behind the [[FrameDecoder]] seam:
    * (width, height, nFrames, meanLuma, motion) — None when there are no
    * frames, no decoder is registered for the codec, or any frame fails
    * (all-frames-or-nothing: a video whose frames cannot all be read is
    * a corrupt asset, not a shorter video).
    */
  private def frameStats(frames: Seq[Array[Byte]], decoder: Option[FrameDecoder])
      : Option[(Int, Int, Int, Double, Double)] =
    decoder.flatMap { d =>
      if (frames.isEmpty) None
      else {
        val decoded = frames.map(d.decodeFrame)
        if (decoded.exists(_.isEmpty)) None
        else {
          val infos = decoded.map(_.get)
          val n = infos.size
          val meanLuma = infos.map(_.meanLuma).sum / n
          val motion =
            if (n < 2) 0.0
            else infos.sliding(2).map { case Seq(a, b) => math.abs(b.meanLuma - a.meanLuma) }
              .sum / (n - 1)
          Some((infos.head.width, infos.head.height, n, meanLuma, motion))
        }
      }
    }

  /** Encode JPEG frames as a REAL MJPEG-in-MP4 in faststart order
    * (ftyp, moov, mdat — the streaming layout, which also makes tail
    * truncation sever SAMPLES rather than metadata): full sample tables
    * with media timescale = fps (stts delta 1), and — when there are ≥3
    * frames — a genuinely run-length stsc (first chunk holds 2 samples,
    * the rest 1 each) so the demux's table walk is exercised, not just
    * the degenerate one-chunk case.
    */
  def encodeMp4Mjpeg(frames: Seq[Array[Byte]], width: Int, height: Int, fps: Int): Array[Byte] = {
    require(frames.nonEmpty, "at least one frame required")
    require(fps > 0, "fps must be positive")
    val n = frames.size
    // chunk plan: [2, 1, 1, ...] for n >= 3, else one chunk of n
    val chunkSamples: Seq[Int] =
      if (n >= 3) 2 +: Seq.fill(n - 2)(1) else Seq(n)
    val nChunks = chunkSamples.size
    val stscEntries: Seq[(Int, Int)] =
      if (n >= 3) Seq((1, 2), (2, 1)) else Seq((1, n))
    val stsdSize = 8 + 4 + 4 + 86
    val sttsSize = 24
    val stscSize = 16 + 12 * stscEntries.size
    val stszSize = 20 + 4 * n
    val stcoSize = 16 + 4 * nChunks
    val stblSize = 8 + stsdSize + sttsSize + stscSize + stszSize + stcoSize
    val vmhdSize = 20; val dinfSize = 36
    val minfSize = 8 + vmhdSize + dinfSize + stblSize
    val mdhdSize = 32; val hdlrSize = 33
    val mdiaSize = 8 + mdhdSize + hdlrSize + minfSize
    val tkhdSize = 92
    val trakSize = 8 + tkhdSize + mdiaSize
    val mvhdSize = 108
    val moovSize = 8 + mvhdSize + trakSize
    val mdatPayload = frames.map(_.length).sum
    val mdatStart = 16 + moovSize // ftyp(16) + moov
    val buf = java.nio.ByteBuffer.allocate(mdatStart + 8 + mdatPayload)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    def fourcc(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
    def u32(v: Long): Unit = buf.putInt(v.toInt)
    // ftyp
    u32(16); fourcc("ftyp"); fourcc("isom"); u32(0)
    // moov > mvhd (v0): movie timescale 1000, duration in ms
    u32(moovSize); fourcc("moov")
    u32(mvhdSize); fourcc("mvhd"); u32(0)
    u32(0); u32(0); u32(1000); u32(n * 1000L / fps)
    u32(0x00010000); buf.putShort(0x0100.toShort); buf.putShort(0); u32(0); u32(0)
    Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000).foreach(m => u32(m.toLong))
    (0 until 6).foreach(_ => u32(0)); u32(2) // pre_defined, next track id
    // trak > tkhd (v0, flags 7): track 1, width/height 16.16
    u32(trakSize); fourcc("trak")
    u32(tkhdSize); fourcc("tkhd"); u32(7)
    u32(0); u32(0); u32(1); u32(0); u32(n * 1000L / fps)
    u32(0); u32(0); buf.putShort(0); buf.putShort(0); buf.putShort(0); buf.putShort(0)
    Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000).foreach(m => u32(m.toLong))
    u32(width.toLong << 16); u32(height.toLong << 16)
    // mdia > mdhd (v0): media timescale = fps, duration = n (stts delta 1)
    u32(mdiaSize); fourcc("mdia")
    u32(mdhdSize); fourcc("mdhd"); u32(0)
    u32(0); u32(0); u32(fps); u32(n)
    buf.putShort(0x55c4.toShort); buf.putShort(0) // language 'und'
    // hdlr 'vide'
    u32(hdlrSize); fourcc("hdlr"); u32(0); u32(0); fourcc("vide")
    u32(0); u32(0); u32(0); buf.put(0.toByte)
    // minf > vmhd + dinf{dref{url}} + stbl
    u32(minfSize); fourcc("minf")
    u32(vmhdSize); fourcc("vmhd"); u32(1); u32(0); u32(0)
    u32(dinfSize); fourcc("dinf")
    u32(28); fourcc("dref"); u32(0); u32(1)
    u32(12); fourcc("url "); u32(1) // flag 1: data in this file
    u32(stblSize); fourcc("stbl")
    // stsd: one 'jpeg' VisualSampleEntry
    u32(stsdSize); fourcc("stsd"); u32(0); u32(1)
    u32(86); fourcc("jpeg")
    (0 until 6).foreach(_ => buf.put(0.toByte)); buf.putShort(1) // data_ref_index
    buf.putShort(0); buf.putShort(0); u32(0); u32(0); u32(0)     // pre_defined/reserved
    buf.putShort(width.toShort); buf.putShort(height.toShort)
    u32(0x00480000); u32(0x00480000); u32(0); buf.putShort(1)    // 72 dpi, frame_count
    (0 until 32).foreach(_ => buf.put(0.toByte))                 // compressorname
    buf.putShort(24); buf.putShort(-1)                           // depth, pre_defined
    // stts: n samples, delta 1
    u32(sttsSize); fourcc("stts"); u32(0); u32(1); u32(n); u32(1)
    // stsc
    u32(stscSize); fourcc("stsc"); u32(0); u32(stscEntries.size)
    stscEntries.foreach { case (first, per) => u32(first); u32(per); u32(1) }
    // stsz: per-sample sizes
    u32(stszSize); fourcc("stsz"); u32(0); u32(0); u32(n)
    frames.foreach(f => u32(f.length))
    // stco: absolute chunk offsets into mdat's payload
    u32(stcoSize); fourcc("stco"); u32(0); u32(nChunks)
    var off = mdatStart + 8L
    var idx = 0
    chunkSamples.foreach { per =>
      u32(off)
      (0 until per).foreach { _ => off += frames(idx).length; idx += 1 }
    }
    // mdat
    u32(8L + mdatPayload); fourcc("mdat")
    frames.foreach(buf.put)
    buf.array()
  }

  /** Deterministic REAL MJPEG-in-MP4 synthesis — the exact per-frame
    * raster formula of [[syntheticAviMjpeg]] (rotate seed by frame index,
    * brighten by 8·f) through the JPEG encoder, packed by
    * [[encodeMp4Mjpeg]] — so both containers plant the SAME decodable
    * frame content and one oracle formula covers either.
    */
  def syntheticMp4Mjpeg(seedBytes: Array[Byte], width: Int, height: Int,
                        nFrames: Int, fps: Int = 10): Array[Byte] = {
    val n = width * height * 3
    val m = math.max(seedBytes.length, 1)
    val frames = (0 until nFrames).map { f =>
      val rgb = new Array[Byte](n)
      var i = 0
      while (i < n) {
        rgb(i) = if (seedBytes.isEmpty) (f * 8).toByte
          else (((seedBytes((i + f) % m) & 0xff) + f * 8) & 0xff).toByte
        i += 1
      }
      encodeImage(width, height, rgb, "jpeg")
    }
    encodeMp4Mjpeg(frames, width, height, fps)
  }

  // ---- Motion-JPEG in AVI (RIFF) — REAL video FRAME decode ----
  //
  // MJPEG is the one video codec this JVM can genuinely decode end-to-end:
  // the AVI container is a RIFF chunk tree (little-endian, like WAV) and
  // every '00dc' sample in the 'movi' LIST is a complete JPEG image the
  // existing javax.imageio kernel decodes. H.264/H.265 payloads remain out
  // of scope (no JDK decoder exists); for those, container demux is the
  // honest ceiling.

  /** Decoded Motion-JPEG summary: REAL per-frame raster statistics.
    * `motion` is the mean absolute luma delta between consecutive frames —
    * an actual temporal signal, impossible to produce without decoding.
    */
  case class MjpegInfo(width: Int, height: Int, nFrames: Int, fps: Double,
                       meanLuma: Double, motion: Double)

  /** Demux an AVI payload: (microseconds-per-frame from avih, the raw
    * bytes of every video sample chunk, in stream order). None for
    * non-AVI magic, a chunk size field that overruns the buffer (a
    * TRUNCATED or hostile file must quarantine whole — a partial frame
    * list would silently understate duration), or a malformed tree.
    */
  def demuxAviMjpeg(bytes: Array[Byte]): Option[(Long, Seq[Array[Byte]])] = {
    if (bytes.length < 12 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "AVI ") return None
    var microSecPerFrame = 0L
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var corrupt = false
    // sibling chunk walk, shared by every nesting level; strict bounds —
    // any size field pointing past `end` poisons the whole asset
    def walk(start: Int, end: Int, depth: Int): Unit = {
      var off = start
      var steps = 0
      while (!corrupt && off + 8 <= end && steps < 100000) {
        val id = tag(bytes, off); val size = le32(bytes, off + 4)
        val next = off + 8L + size + (size & 1L)
        if (size < 0 || off + 8 + size > end) { corrupt = true }
        else {
          if (id == "LIST" && size >= 4 && depth < 4) {
            val sub = tag(bytes, off + 8)
            if (sub == "hdrl" || sub == "strl" || sub == "movi")
              walk(off + 12, off + 8 + size.toInt, depth + 1)
          } else if (id == "avih" && size >= 4) {
            microSecPerFrame = le32(bytes, off + 8)
          } else if (id.length == 4 && id(0).isDigit && id(1).isDigit &&
            (id.substring(2) == "dc" || id.substring(2) == "db")) {
            frames += java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + size.toInt)
          }
          off = next.toInt
        }
        steps += 1
      }
    }
    walk(12, bytes.length, 0)
    if (corrupt) None else Some((microSecPerFrame, frames.toSeq))
  }

  /** Decode a Motion-JPEG AVI END-TO-END: demux every video sample, run
    * each through the registered frame decoder, aggregate frame
    * statistics. Quarantine (None) when the container is malformed, when
    * there are no frames, when ANY sample fails to decode, or when no
    * decoder is registered for the codec.
    */
  def decodeAviMjpeg(bytes: Array[Byte],
                     decoder: Option[FrameDecoder] = FrameDecoder.forCodec("MJPEG"))
      : Option[MjpegInfo] =
    demuxAviMjpeg(bytes).flatMap { case (uspf, frames) =>
      frameStats(frames, decoder).map { case (w, h, n, meanLuma, motion) =>
        val fps = if (uspf > 0) 1e6 / uspf else 0.0
        MjpegInfo(w, h, n, fps, meanLuma, motion)
      }
    }

  private def putLe32(buf: java.nio.ByteBuffer, v: Long): Unit = buf.putInt(v.toInt)

  /** Encode JPEG frames as a minimal-but-well-formed Motion-JPEG AVI:
    * RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh('vids'/'MJPG') strf))
    * LIST('movi' '00dc'…)). Real header fields (frame count, dimensions,
    * fps as microseconds-per-frame and strh rate/scale) — the demux reads
    * back exactly what standard tools would.
    */
  def encodeAviMjpeg(frames: Seq[Array[Byte]], width: Int, height: Int, fps: Int): Array[Byte] = {
    require(frames.nonEmpty, "at least one frame required")
    require(fps > 0, "fps must be positive")
    val chunkSizes = frames.map(f => 8 + f.length + (f.length & 1))
    val moviPayload = 4 + chunkSizes.sum
    val strlPayload = 4 + (8 + 56) + (8 + 40)
    val hdrlPayload = 4 + (8 + 56) + (8 + strlPayload)
    val riffSize = 4 + (8 + hdrlPayload) + (8 + moviPayload)
    val buf = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
    fourcc("RIFF"); putLe32(buf, riffSize); fourcc("AVI ")
    fourcc("LIST"); putLe32(buf, hdrlPayload); fourcc("hdrl")
    // avih: MainAVIHeader (56 bytes)
    fourcc("avih"); putLe32(buf, 56)
    putLe32(buf, 1000000L / fps)               // dwMicroSecPerFrame
    putLe32(buf, 0); putLe32(buf, 0); putLe32(buf, 0)
    putLe32(buf, frames.size)                  // dwTotalFrames
    putLe32(buf, 0); putLe32(buf, 1)           // dwInitialFrames, dwStreams
    putLe32(buf, frames.map(_.length).max)     // dwSuggestedBufferSize
    putLe32(buf, width); putLe32(buf, height)
    (0 until 4).foreach(_ => putLe32(buf, 0))  // dwReserved
    fourcc("LIST"); putLe32(buf, strlPayload); fourcc("strl")
    // strh: AVISTREAMHEADER (56 bytes)
    fourcc("strh"); putLe32(buf, 56)
    fourcc("vids"); fourcc("MJPG")
    putLe32(buf, 0); putLe32(buf, 0); putLe32(buf, 0)  // flags, prio/lang, initial
    putLe32(buf, 1); putLe32(buf, fps)                 // dwScale, dwRate (fps = rate/scale)
    putLe32(buf, 0); putLe32(buf, frames.size)         // dwStart, dwLength
    putLe32(buf, frames.map(_.length).max)             // dwSuggestedBufferSize
    putLe32(buf, -1L & 0xffffffffL); putLe32(buf, 0)   // dwQuality, dwSampleSize
    putLe32(buf, 0); putLe32(buf, (height.toLong << 16) | width.toLong) // rcFrame
    // strf: BITMAPINFOHEADER (40 bytes)
    fourcc("strf"); putLe32(buf, 40)
    putLe32(buf, 40); putLe32(buf, width); putLe32(buf, height)
    buf.putShort(1); buf.putShort(24)                  // planes, bit count
    fourcc("MJPG")
    putLe32(buf, width.toLong * height * 3)            // biSizeImage
    putLe32(buf, 0); putLe32(buf, 0); putLe32(buf, 0); putLe32(buf, 0)
    fourcc("LIST"); putLe32(buf, moviPayload); fourcc("movi")
    frames.foreach { f =>
      fourcc("00dc"); putLe32(buf, f.length); buf.put(f)
      if ((f.length & 1) == 1) buf.put(0.toByte)
    }
    buf.array()
  }

  /** Deterministic REAL Motion-JPEG synthesis: `nFrames` JPEG frames whose
    * rasters rotate the seed bytes per frame index, so consecutive frames
    * genuinely differ and the decoded `motion` statistic is non-trivially
    * real. Every frame goes through the actual JPEG ENCODER — the
    * resulting AVI plays in standard tools.
    */
  def syntheticAviMjpeg(seedBytes: Array[Byte], width: Int, height: Int,
                        nFrames: Int, fps: Int = 10): Array[Byte] = {
    val n = width * height * 3
    val m = math.max(seedBytes.length, 1)
    val frames = (0 until nFrames).map { f =>
      val rgb = new Array[Byte](n)
      var i = 0
      while (i < n) {
        // rotate by frame index and brighten with f so luma drifts per frame
        rgb(i) = if (seedBytes.isEmpty) (f * 8).toByte
          else (((seedBytes((i + f) % m) & 0xff) + f * 8) & 0xff).toByte
        i += 1
      }
      encodeImage(width, height, rgb, "jpeg")
    }
    encodeAviMjpeg(frames, width, height, fps)
  }

  private def putBe32(b: Array[Byte], off: Int, v: Long): Unit = {
    b(off) = ((v >> 24) & 0xff).toByte; b(off + 1) = ((v >> 16) & 0xff).toByte
    b(off + 2) = ((v >> 8) & 0xff).toByte; b(off + 3) = (v & 0xff).toByte
  }

  private def putType(b: Array[Byte], off: Int, t: String): Unit = {
    val a = t.getBytes("US-ASCII")
    System.arraycopy(a, 0, b, off + 4, 4)
  }

  /** Minimal REAL MP4 synthesis: ftyp + moov{mvhd(v0, timescale 1000,
    * duration ms), trak{tkhd(v0, width, height)}} — a genuinely
    * demuxable ISO BMFF tree so every scale factor exercises the real
    * box walk (frame payloads would need an encoder; none are written).
    */
  def syntheticMp4(durationMs: Long, width: Int, height: Int): Array[Byte] = {
    require(durationMs >= 0 && width >= 0 && height >= 0, "non-negative args required")
    val mvhdSize = 8 + 4 + 96          // header + version/flags + v0 body
    val tkhdSize = 8 + 4 + 80          // header + version/flags + v0 body
    val trakSize = 8 + tkhdSize
    val moovSize = 8 + mvhdSize + trakSize
    val out = new Array[Byte](16 + moovSize)
    // ftyp: brand isom, minor 0
    putBe32(out, 0, 16); putType(out, 0, "ftyp")
    System.arraycopy("isom".getBytes("US-ASCII"), 0, out, 8, 4)
    // moov
    val moov = 16
    putBe32(out, moov, moovSize); putType(out, moov, "moov")
    // mvhd v0: creation(4) modification(4) timescale(4) duration(4) ...
    val mvhd = moov + 8
    putBe32(out, mvhd, mvhdSize); putType(out, mvhd, "mvhd")
    putBe32(out, mvhd + 8 + 12, 1000L)        // timescale = 1000 -> duration in ms
    putBe32(out, mvhd + 8 + 16, durationMs)
    // trak > tkhd v0: ... width/height as 16.16 in the last 8 bytes
    val trak = mvhd + mvhdSize
    putBe32(out, trak, trakSize); putType(out, trak, "trak")
    val tkhd = trak + 8
    putBe32(out, tkhd, tkhdSize); putType(out, tkhd, "tkhd")
    putBe32(out, tkhd + tkhdSize - 8, width.toLong << 16)
    putBe32(out, tkhd + tkhdSize - 4, height.toLong << 16)
    out
  }
}
