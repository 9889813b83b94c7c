package graft.multimodal

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO
import javax.sound.sampled.AudioSystem

/** REAL media decode on JDK built-ins only — no external codec jars.
  * `javax.imageio` handles PNG/JPEG/BMP/GIF/WBMP; `javax.sound.sampled`
  * handles WAV/AIFF/AU PCM. This retires the round-1 "decode is a stub"
  * caveat for the formats the JVM itself ships: only exotic codecs
  * (video, webp, mp3) remain behind the deterministic fake fallback.
  *
  * Everything here is executor-side scalar code called from
  * `Multimodal.extractFeatures`'s bounded-batch mapPartitions — the
  * driver never sees a payload.
  */
object MediaCodec {

  // ImageIO's default stream cache is FILE-backed: every decode/encode
  // would create and delete a temp file — pure overhead for byte-array
  // payloads that are already in memory. Executor-wide, set once.
  ImageIO.setUseCache(false)

  /** Cheap content sniff by magic bytes — runs before any codec is
    * touched, so non-media payloads never pay a decode attempt.
    */
  def sniff(bytes: Array[Byte]): String = {
    def at(i: Int) = if (bytes != null && bytes.length > i) bytes(i) & 0xff else -1
    if (bytes == null || bytes.length < 12) "unknown"
    else if (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G') "image/png"
    else if (at(0) == 0xff && at(1) == 0xd8) "image/jpeg"
    else if (at(0) == 'G' && at(1) == 'I' && at(2) == 'F' && at(3) == '8') "image/gif"
    else if (at(0) == 'B' && at(1) == 'M') "image/bmp"
    else if (at(0) == 'R' && at(1) == 'I' && at(2) == 'F' && at(3) == 'F' &&
      at(8) == 'W' && at(9) == 'A' && at(10) == 'V' && at(11) == 'E') "audio/wav"
    else if (at(0) == 'R' && at(1) == 'I' && at(2) == 'F' && at(3) == 'F' &&
      at(8) == 'A' && at(9) == 'V' && at(10) == 'I' && at(11) == ' ') "video/avi"
    else if (at(0) == 'R' && at(1) == 'I' && at(2) == 'F' && at(3) == 'F' &&
      at(8) == 'W' && at(9) == 'E' && at(10) == 'B' && at(11) == 'P') "image/webp"
    else if (at(0) == 'I' && at(1) == 'D' && at(2) == '3') "audio/mpeg"
    // raw MPEG audio: 11 sync bits + a VALID MPEG-1 Layer III header
    // (version/layer/bitrate/samplerate all in-range) — the extra checks
    // keep arbitrary 0xFF-prefixed binaries out of the mp3 path
    else if (at(0) == 0xff && (at(1) & 0xe0) == 0xe0 &&
      mp3FrameLength(bytes, 0) > 0) "audio/mpeg"
    else "unknown"
  }

  def isImage(bytes: Array[Byte]): Boolean = sniff(bytes).startsWith("image/")
  def isWav(bytes: Array[Byte]): Boolean = sniff(bytes) == "audio/wav"
  def isAvi(bytes: Array[Byte]): Boolean = sniff(bytes) == "video/avi"

  /** Decode an image and sample a `dim`-point luminance grid in [0, 1]:
    * point i sits at the center of cell (i % g, i / g) of a g×rows grid
    * (g = ceil(sqrt(dim))). Luminance is the standard Rec.601 weighting
    * `(0.299 r + 0.587 g + 0.114 b) / 255` computed in double and
    * truncated to float — the exact association order is part of the
    * oracle contract (mirrored in DuckDB SQL by the decode query).
    * Returns null if no ImageIO reader accepts the bytes.
    */
  def imageFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
    // a magic-byte collision (text starting "BM"/"GIF8") or a truncated
    // file must fall back, not fail the task — corrupt rows are a fact of
    // 100 TB corpora; decode errors surface as null → caller's fallback
    val img = try ImageIO.read(new ByteArrayInputStream(bytes))
    catch { case scala.util.control.NonFatal(_) => null }
    gridLuminance(img, dim)
  }

  /** The shared luminance-grid sampler behind image, animated-image, and
    * video-frame features.
    */
  private def gridLuminance(img: BufferedImage, dim: Int): Array[Float] = {
    if (img == null || img.getWidth == 0 || img.getHeight == 0) return null
    val g = math.ceil(math.sqrt(dim.toDouble)).toInt
    val rows = (dim + g - 1) / g
    Array.tabulate(dim) { i =>
      val x = (((i % g) + 0.5) / g * img.getWidth).toInt.min(img.getWidth - 1)
      val y = (((i / g) + 0.5) / rows * img.getHeight).toInt.min(img.getHeight - 1)
      val rgb = img.getRGB(x, y)
      val r = (rgb >> 16) & 0xff; val gr = (rgb >> 8) & 0xff; val b = rgb & 0xff
      ((0.299 * r + 0.587 * gr + 0.114 * b) / 255.0).toFloat
    }
  }

  /** Decode PCM audio (WAV/AIFF/AU) and return a `dim`-window RMS
    * envelope in [0, 1] (16-bit samples normalized by 2^15). Returns null
    * if the bytes are not a parseable audio stream.
    */
  def wavFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
    val in = try AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    catch { case _: Exception => return null }
    try {
      val fmt = in.getFormat
      if (fmt.getSampleSizeInBits != 16) return null
      val data = in.readAllBytes()
      val bigEndian = fmt.isBigEndian
      val n = data.length / 2
      if (n == 0) return Array.fill(dim)(0f)
      val out = new Array[Float](dim)
      val counts = new Array[Int](dim)
      val sums = new Array[Double](dim)
      var i = 0
      while (i < n) {
        val lo = data(2 * i + (if (bigEndian) 1 else 0)) & 0xff
        val hi = data(2 * i + (if (bigEndian) 0 else 1)).toInt
        val s = ((hi << 8) | lo).toShort.toDouble / 32768.0
        val w = (i.toLong * dim / n).toInt.min(dim - 1)
        sums(w) += s * s; counts(w) += 1
        i += 1
      }
      var w = 0
      while (w < dim) {
        out(w) = if (counts(w) == 0) 0f else math.sqrt(sums(w) / counts(w)).toFloat
        w += 1
      }
      out
    } finally in.close()
  }

  // -- video: MJPEG-AVI on pure JVM code ----------------------------------
  // The AVI container is a public RIFF format simple enough to walk by
  // hand, and MJPEG frames are plain JPEGs — so the JDK's own JPEG codec
  // turns "video decode" into container parsing + the proven image path.
  // This retires the video leg of the round-2 "no JDK codec" fallback for
  // the one video format that needs no external codec at all.

  private def le32(b: Array[Byte], off: Int): Long =
    if (off < 0 || off + 4 > b.length) -1L
    else ((b(off) & 0xffL)) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  private def fourcc(b: Array[Byte], off: Int): String =
    if (off < 0 || off + 4 > b.length) ""
    else new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Extract the compressed video frames ('##dc'/'##db' chunks inside the
    * 'movi' LIST) of an AVI payload. Bounds-checked at every step: a
    * truncated or malformed container yields the frames parsed so far
    * rather than an exception — corrupt rows must not fail the task.
    */
  def aviFrames(bytes: Array[Byte]): Vector[Array[Byte]] = {
    if (!isAvi(bytes)) return Vector.empty
    val out = Vector.newBuilder[Array[Byte]]
    val riffEnd = math.min(bytes.length.toLong, 8L + le32(bytes, 4))
    var o = 12L
    while (o + 8 <= riffEnd) {
      val id = fourcc(bytes, o.toInt)
      val size = le32(bytes, o.toInt + 4)
      if (size < 0) return out.result()
      if (id == "LIST" && fourcc(bytes, o.toInt + 8) == "movi") {
        val listEnd = math.min(riffEnd, o + 8 + size)
        var c = o + 12
        while (c + 8 <= listEnd) {
          val cid = fourcc(bytes, c.toInt)
          val csz = le32(bytes, c.toInt + 4)
          if (csz < 0 || c + 8 + csz > listEnd) return out.result()
          if ((cid.endsWith("dc") || cid.endsWith("db")) && csz > 0)
            out += java.util.Arrays.copyOfRange(bytes, (c + 8).toInt, (c + 8 + csz).toInt)
          c += 8 + csz + (csz & 1)
        }
      }
      o += 8 + size + (size & 1)
    }
    out.result()
  }

  /** Video features: sample up to `maxFrames` frames evenly across the
    * AVI, decode each through the image path, and average the per-cell
    * luminance grids — a deterministic clip-level embedding. Returns null
    * if the container yields no decodable frame.
    */
  def videoFeatures(bytes: Array[Byte], dim: Int, maxFrames: Int = 8): Array[Float] = {
    val frames = aviFrames(bytes)
    if (frames.isEmpty) return null
    val n = math.min(maxFrames, frames.size)
    val sampled = (0 until n).map(i => frames((i.toLong * frames.size / n).toInt))
    val decoded = sampled.flatMap(f => Option(imageFeatures(f, dim)))
    if (decoded.isEmpty) return null
    Array.tabulate(dim)(j => (decoded.map(_(j).toDouble).sum / decoded.size).toFloat)
  }

  /** Frame features for ANIMATED images (multi-frame GIF): same even
    * sampling + luminance-grid average, via ImageIO's multi-image reader.
    * Single-frame images degrade to `imageFeatures`.
    */
  def gifFrameFeatures(bytes: Array[Byte], dim: Int, maxFrames: Int = 8): Array[Float] =
    try {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return null
        val r = readers.next()
        try {
          r.setInput(iis)
          val total = r.getNumImages(true)
          if (total <= 0) return null
          val n = math.min(maxFrames, total)
          val sums = new Array[Double](dim)
          var used = 0
          for (i <- 0 until n) {
            val img = r.read((i.toLong * total / n).toInt)
            val f = gridLuminance(img, dim)
            if (f != null) { var j = 0; while (j < dim) { sums(j) += f(j); j += 1 }; used += 1 }
          }
          if (used == 0) null else Array.tabulate(dim)(j => (sums(j) / used).toFloat)
        } finally r.dispose()
      } finally iis.close()
    } catch { case scala.util.control.NonFatal(_) => null }

  /** Minimal MJPEG-AVI writer (RIFF/hdrl/movi, 'MJPG' fourcc) — gives
    * tests and fixtures real video payloads that any standard player or
    * this parser can consume. `frames` are JPEG-encoded images.
    */
  def buildMjpegAvi(frames: Seq[Array[Byte]], width: Int, height: Int,
      fps: Int): Array[Byte] = {
    require(frames.nonEmpty && fps > 0)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      bos.write(id.getBytes("US-ASCII")); writeLe32(bos, body.length)
      bos.write(body); if ((body.length & 1) == 1) bos.write(0)
      bos.toByteArray
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", kind.getBytes("US-ASCII") ++ body)
    def dwords(vs: Int*): Array[Byte] = {
      val bos = new ByteArrayOutputStream(); vs.foreach(writeLe32(bos, _)); bos.toByteArray
    }
    val avih = chunk("avih", dwords(1000000 / fps, 0, 0, 0, frames.size, 0, 1, 0,
      width, height, 0, 0, 0, 0))
    val strh = chunk("strh", "vids".getBytes("US-ASCII") ++ "MJPG".getBytes("US-ASCII") ++
      dwords(0, 0, 0, 1, fps, 0, frames.size, 0, -1, 0) ++
      Array[Byte](0, 0, 0, 0) ++ dwords((width << 16) | 0, (height << 16) | 0))
    val strf = chunk("strf", dwords(40, width, height, (24 << 16) | 1) ++
      "MJPG".getBytes("US-ASCII") ++ dwords(0, 0, 0, 0, 0))
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val movi = list("movi",
      frames.toArray.flatMap(f => chunk("00dc", f)))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    val bos = new ByteArrayOutputStream()
    bos.write("RIFF".getBytes("US-ASCII")); writeLe32(bos, body.length); bos.write(body)
    bos.toByteArray
  }

  private def writeLe32(bos: ByteArrayOutputStream, v: Int): Unit = {
    bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
    bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff)
  }

  /** Probe intrinsic metadata without a full pixel decode: images via the
    * ImageIO reader header (width/height/format), WAV via frame count /
    * frame rate (duration). Unknown formats return null.
    */
  def probe(bytes: Array[Byte]): Option[(Option[Int], Option[Int], Option[Long], String)] =
    sniff(bytes) match {
      case "image/webp" => // before the generic image branch: no ImageIO reader
        webpDims(bytes).map { case (w, h) =>
          (Some(w), Some(h), None, "image/webp")
        }
      case f if f.startsWith("image/") =>
        // header parse of a magic-byte-colliding payload throws — treat
        // as unprobeable, same as the decode fallback
        try {
          val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
          try {
            val readers = ImageIO.getImageReaders(iis)
            if (!readers.hasNext) None
            else {
              val r = readers.next()
              try {
                r.setInput(iis)
                Some((Some(r.getWidth(0)), Some(r.getHeight(0)), None, f))
              } finally r.dispose()
            }
          } finally iis.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      case "audio/wav" =>
        try {
          val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
          try {
            val ms = (in.getFrameLength * 1000.0 / in.getFormat.getFrameRate).toLong
            Some((None, None, Some(ms), "audio/wav"))
          } finally in.close()
        } catch { case _: Exception => None }
      case "video/avi" =>
        // header-only: walk to the 'avih' main header (width dword 8,
        // height dword 9; duration = µs/frame × total frames)
        aviMainHeader(bytes).map { h =>
          (Some(h(8).toInt), Some(h(9).toInt),
            Some(h(0) * h(4) / 1000L), "video/avi")
        }
      case "audio/mpeg" =>
        mp3DurationMs(bytes).map(ms => (None, None, Some(ms), "audio/mpeg"))
      case _ => None
    }

  /** WebP canvas dimensions from the first VP8 (lossy) / VP8L (lossless) /
    * VP8X (extended) chunk header — no bitstream decode (ImageIO ships no
    * webp codec; dimensions are what the metadata path needs).
    */
  private[multimodal] def webpDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    def u8(i: Int) = bytes(i) & 0xff
    if (bytes.length < 30) return None
    fourcc(bytes, 12) match {
      case "VP8 " => // lossy: 3-byte frame tag, 3-byte sync, then 14-bit dims
        if (u8(23) != 0x9d || u8(24) != 0x01 || u8(25) != 0x2a) None
        else Some(((u8(26) | (u8(27) << 8)) & 0x3fff,
          (u8(28) | (u8(29) << 8)) & 0x3fff))
      case "VP8L" => // lossless: 0x2F signature, then 14+14 bits of dims-1
        if (u8(20) != 0x2f) None
        else {
          val b = u8(21) | (u8(22) << 8) | (u8(23) << 16) | (u8(24).toLong << 24)
          Some((((b & 0x3fff) + 1).toInt, (((b >> 14) & 0x3fff) + 1).toInt))
        }
      case "VP8X" => // extended: 4 flag bytes, then 24+24-bit canvas dims-1
        Some(((u8(24) | (u8(25) << 8) | (u8(26) << 16)) + 1,
          (u8(27) | (u8(28) << 8) | (u8(29) << 16)) + 1))
      case _ => None
    }
  }

  // ---- MPEG audio (mp3) header walk — duration without any decoder ----

  // MPEG-1 Layer III bitrate (kbps) and sample-rate tables; index 0 (free
  // format) and 15 (reserved) are rejected, as are non-MPEG1/LayerIII
  // frames — the probe covers the overwhelmingly common case and treats
  // the rest as unprobeable rather than guessing.
  private val Mp3Bitrates =
    Array(-1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, -1)
  private val Mp3SampleRates = Array(44100, 48000, 32000, -1)

  /** Byte length of the MPEG-1 Layer III frame at `o`, or -1 if the four
    * header bytes there are not a valid frame header.
    */
  private def mp3FrameLength(bytes: Array[Byte], o: Int): Int = {
    if (bytes == null || o + 4 > bytes.length) return -1
    def at(i: Int) = bytes(o + i) & 0xff
    if (at(0) != 0xff || (at(1) & 0xe0) != 0xe0) return -1
    if ((at(1) & 0x18) != 0x18) return -1 // version: MPEG-1 only
    if ((at(1) & 0x06) != 0x02) return -1 // layer: III only
    val br = Mp3Bitrates(at(2) >> 4)
    val sr = Mp3SampleRates((at(2) >> 2) & 0x3)
    if (br <= 0 || sr <= 0) return -1
    val pad = (at(2) >> 1) & 0x1
    144 * br * 1000 / sr + pad // Layer III frame size formula
  }

  /** Total duration of the MPEG audio frames (1152 samples each), walking
    * frame headers only; skips a leading ID3v2 tag (syncsafe size). None
    * if no valid frame is found.
    */
  private[multimodal] def mp3DurationMs(bytes: Array[Byte]): Option[Long] = {
    var o = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      val size = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
        ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
      // ID3v2.4 footer flag: the tag carries a trailing 10-byte footer
      // not counted in the syncsafe size
      o = 10 + size + (if ((bytes(5) & 0x10) != 0) 10 else 0)
    }
    var samples = 0L
    var sr = -1
    var ok = true
    while (ok && o + 4 <= bytes.length) {
      val len = mp3FrameLength(bytes, o)
      if (len <= 0) ok = false
      else {
        sr = Mp3SampleRates((bytes(o + 2) >> 2) & 0x3)
        samples += 1152L // MPEG-1 Layer III samples per frame
        o += len
      }
    }
    if (samples == 0 || sr <= 0) None else Some(samples * 1000L / sr)
  }

  /** Deterministic MPEG-1 Layer III fixture: `nFrames` frames of the
    * given bitrate/sample-rate with zeroed payloads — valid headers and
    * frame lengths (what the probe consumes) without any audio encoder.
    */
  def buildMp3(nFrames: Int, bitrateKbps: Int = 128,
      sampleRate: Int = 44100): Array[Byte] = {
    val brIdx = Mp3Bitrates.indexOf(bitrateKbps)
    val srIdx = Mp3SampleRates.indexOf(sampleRate)
    require(brIdx > 0 && srIdx >= 0 && srIdx < 3, "unsupported bitrate/sample rate")
    val frameLen = 144 * bitrateKbps * 1000 / sampleRate
    val bos = new ByteArrayOutputStream()
    (0 until nFrames).foreach { _ =>
      bos.write(0xff); bos.write(0xfb) // sync + MPEG-1 + Layer III + no CRC
      bos.write((brIdx << 4) | (srIdx << 2)) // no padding, not private
      bos.write(0xc0) // mono, no mode extension/copyright/original
      bos.write(new Array[Byte](frameLen - 4))
    }
    bos.toByteArray
  }

  /** The 14 dwords of the 'avih' chunk, or None if the container is
    * malformed before it.
    */
  private def aviMainHeader(bytes: Array[Byte]): Option[Array[Long]] = {
    val riffEnd = math.min(bytes.length.toLong, 8L + le32(bytes, 4))
    var o = 12L
    while (o + 8 <= riffEnd) {
      val id = fourcc(bytes, o.toInt)
      val size = le32(bytes, o.toInt + 4)
      if (size < 0) return None
      if (id == "LIST" && fourcc(bytes, o.toInt + 8) == "hdrl") {
        val inner = o + 12
        if (fourcc(bytes, inner.toInt) == "avih" && inner + 8 + 56 <= riffEnd)
          return Some(Array.tabulate(14)(i => le32(bytes, (inner + 8 + 4L * i).toInt)))
        return None
      }
      o += 8 + size + (size & 1)
    }
    None
  }

  /** Real payload resize: decode, scale by `scale` (min 1×1), bilinear
    * redraw, re-encode as PNG. Returns null if the bytes don't decode.
    */
  def resizeImage(bytes: Array[Byte], scale: Double): Array[Byte] = {
    val img = try ImageIO.read(new ByteArrayInputStream(bytes))
    catch { case scala.util.control.NonFatal(_) => null }
    if (img == null || img.getWidth == 0 || img.getHeight == 0) return null
    val w = math.max(1, (img.getWidth * scale).toInt)
    val h = math.max(1, (img.getHeight * scale).toInt)
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g2 = out.createGraphics()
    try {
      g2.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
        RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g2.drawImage(img, 0, 0, w, h, null)
    } finally g2.dispose()
    val bos = new ByteArrayOutputStream()
    ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** Exact signed 16-bit samples of a PCM stream — the integer-exact
    * sibling of [[wavFeatures]] for oracle-checkable audio stats. Null
    * for unparseable or non-16-bit streams.
    *
    * Hot path is a DIRECT RIFF/PCM16 chunk walk ([[wavSamplesRiff]]):
    * `AudioSystem.getAudioInputStream` funnels every call through the
    * JDK's synchronized service-provider registry, and on a 16-thread
    * decode sweep the lock made parallel decode SLOWER than one core
    * (measured on the 10× probe: 2 ms/row under contention vs 72 µs
    * single-threaded — the super-linear e = 1.28 multimodal_audio_zcr
    * exponent). Non-canonical streams (AIFF/AU, big-endian, non-PCM
    * encodings) still take the javax.sound leg — the chunk walk returns
    * null for anything it does not fully recognize, never a guess.
    */
  def wavSamples(bytes: Array[Byte]): Array[Int] = {
    val fast = wavSamplesRiff(bytes)
    if (fast != null) return fast
    val in = try AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    catch { case _: Exception => return null }
    try {
      val fmt = in.getFormat
      if (fmt.getSampleSizeInBits != 16) return null
      val data = in.readAllBytes()
      val bigEndian = fmt.isBigEndian
      val n = data.length / 2
      val out = new Array[Int](n)
      var i = 0
      while (i < n) {
        val lo = data(2 * i + (if (bigEndian) 1 else 0)) & 0xff
        val hi = data(2 * i + (if (bigEndian) 0 else 1)).toInt
        out(i) = ((hi << 8) | lo).toShort.toInt
        i += 1
      }
      out
    } finally in.close()
  }

  /** Lock-free RIFF walk for canonical PCM16-LE WAV: "RIFF"+"WAVE",
    * chunk scan honoring odd-byte padding, `fmt ` must declare PCM
    * (format 1) at 16 bits, samples read from `data` little-endian.
    * Null for ANYTHING else (wrong magic, float/µ-law/24-bit, truncated
    * chunks) so the javax.sound fallback keeps full format coverage.
    * Bounds-checked — corrupt rows are a fact of 100 TB corpora.
    */
  private[multimodal] def wavSamplesRiff(bytes: Array[Byte]): Array[Int] = {
    if (bytes == null || bytes.length < 44) return null
    def ascii(off: Int, s: String): Boolean =
      s.indices.forall(i => bytes(off + i) == s.charAt(i).toByte)
    def u16(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    def u32(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    if (!ascii(0, "RIFF") || !ascii(8, "WAVE")) return null
    var pos = 12
    var pcm16 = false
    while (pos + 8 <= bytes.length) {
      val size = u32(pos + 4)
      if (size < 0 || pos + 8 + size > bytes.length) return null
      if (ascii(pos, "fmt ")) {
        if (size < 16) return null
        pcm16 = u16(pos + 8) == 1 && u16(pos + 22) == 16
        if (!pcm16) return null // non-PCM16: let javax.sound decide
      } else if (ascii(pos, "data")) {
        if (!pcm16) return null // data before fmt — not canonical
        val n = (size / 2).toInt
        val out = new Array[Int](n)
        var i = 0
        while (i < n) {
          out(i) = ((bytes(pos + 8 + 2 * i) & 0xff) |
            (bytes(pos + 9 + 2 * i) << 8)).toShort.toInt
          i += 1
        }
        return out
      }
      pos += 8 + size.toInt + (size.toInt & 1) // chunks pad to even
    }
    null
  }

  /** Deterministic 8-sample PCM16-LE mono WAV whose data section is the
    * md5 of `text` verbatim (16 bytes = 8 little-endian samples) — the
    * audio sibling of [[digestPng]]: a REAL standards-compliant WAV the
    * javax.sound decoder must round-trip bit-exactly, with the payload
    * re-derivable from `md5()` in any SQL engine.
    */
  def digestWav(text: String): Array[Byte] = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8"))
    val bb = java.nio.ByteBuffer.allocate(44 + d.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + d.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(8000).putInt(16000) // rate, byte rate
      .putShort(2).putShort(16) // block align, bits
      .put("data".getBytes("US-ASCII")).putInt(d.length)
      .put(d)
    bb.array()
  }

  /** Deterministic 4×4 RGB PNG from the md5 of a UTF-8 string: pixel
    * (x, y) is digest byte `4 y + x` replicated to r=g=b. Gives any text
    * corpus a REAL image twin whose decoded luminance is computable in
    * plain SQL (`md5` + byte extraction) — how the decode path gets an
    * oracle. TYPE_INT_RGB deliberately: a gray-colorspace image would go
    * through color management in getRGB and break the byte↔pixel map.
    */
  def digestPng(text: String): Array[Byte] = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8"))
    val img = new BufferedImage(4, 4, BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < 16) {
      val v = d(i) & 0xff
      img.setRGB(i % 4, i / 4, (v << 16) | (v << 8) | v)
      i += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
}
