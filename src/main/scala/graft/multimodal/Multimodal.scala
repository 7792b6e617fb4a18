package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Tables

/** Multimodal columns: image/audio/video carried as opaque `binary` columns
  * with typed metadata, processed partition-wise in bounded batches.
  *
  * Decoders are REAL and JDK-only (no external deps), and each job has one
  * definition:
  * - containers: one RIFF walker, `riffChunks`, checks the tag, the form
  *   type and every chunk's bounds, descends into `LIST` and yields chunks
  *   lazily. The WAV parse (`pcm`) and the AVI demux (`aviFrames`) read
  *   through it;
  * - images: one reader, `readImage` (`javax.imageio.ImageIO`:
  *   PNG/JPEG/BMP/GIF), and one luminance grid, `lumaGrid` — its 4×4 form
  *   is the 16-dim image feature, its 8×8 form the aHash;
  * - audio: the WAV parse → true sample rate, channels, duration, and a
  *   16-segment RMS-energy feature vector;
  * - video: the AVI demux + per-frame JPEG decode (MJPEG — the one video
  *   codec expressible with the JDK alone) → true dimensions, frame count,
  *   duration, and frame-averaged features. Other codecs would plug a
  *   native demuxer behind the same interface;
  * - planted twins: one corpus, `plantedTwins`, and one census,
  *   `twinRecall` with its SQL twin `twinRecallSql`, serve both
  *   `m_*_dedup` entries.
  *
  * Production shape (unchanged from round 1):
  * - schema: (media_id long, kind string, content binary) → typed metadata +
  *   fixed-dim feature vectors;
  * - `mapPartitions` with `grouped(batchSize)` bounds per-batch memory the
  *   way Arrow record batches do for vectorized Python UDFs;
  * - downstream (feature vectors) plugs into `graft.queries.Similarity`.
  *
  * At 100 TB: media rows are large — the caller controls partition sizing
  * via `spark.sql.files.maxPartitionBytes` / `repartition(n)`; the decode
  * stage is a narrow map (no shuffle), so it scales linearly with executors.
  */
object Multimodal {

  val FeatureDim = 16

  final case class Media(media_id: Long, kind: String, content: Array[Byte])
  final case class Decoded(
      media_id: Long, kind: String, width: Int, height: Int, n_frames: Int,
      sample_rate: Int, channels: Int, duration_ms: Double,
      features: Array[Float])

  // ------------------------------------------------------- bytes and RIFF

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)
  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)
  private def fourCC(b: Array[Byte], off: Int): String = new String(b, off, 4, US_ASCII)

  /** Stores the low `n` bytes of `v` at `b(off)`, little-endian: every
    * header field and sample the generators write.
    */
  private def putLE(b: Array[Byte], off: Int, v: Int, n: Int): Unit = {
    var i = 0
    while (i < n) { b(off + i) = (v >> (8 * i)).toByte; i += 1 }
  }

  /** A RIFF chunk: its id and the offset and size of its body. */
  private final case class Chunk(id: String, body: Int, size: Int)

  /** The one RIFF walker. Checks that `bytes` holds at least `minLen`
    * bytes, the `RIFF` tag and the `form` type, then yields every chunk in
    * file order, descending into each `LIST` (past its 4-byte list type)
    * instead of yielding it. Every chunk must fit inside its parent, and
    * chunks are word-aligned. Lazy: a chunk is read and checked only when
    * the caller asks for it, so a reader can stop once it has what it needs.
    */
  private def riffChunks(bytes: Array[Byte], form: String, minLen: Int): Iterator[Chunk] = {
    val kind = form.trim
    require(bytes.length >= minLen, s"$kind too short (${bytes.length} bytes)")
    require(fourCC(bytes, 0) == "RIFF" && fourCC(bytes, 8) == form,
      s"not a RIFF/$kind container")
    def within(start: Int, end: Int): Iterator[Chunk] =
      Iterator.unfold(start) { off =>
        if (off + 8 > end) None
        else {
          val id = fourCC(bytes, off)
          val size = le32(bytes, off + 4)
          require(size >= 0 && off + 8 + size <= end,
            s"truncated chunk '$id' at offset $off")
          Some((Chunk(id, off + 8, size), off + 8 + size + (size & 1)))
        }
      }.flatMap { c =>
        if (c.id == "LIST") within(c.body + 4, c.body + c.size) else Iterator.single(c)
      }
    within(12, bytes.length)
  }

  // ---------------------------------------------------------------- images

  /** The one image reader: decodes `len` bytes at `off` through ImageIO
    * (headless-safe; PNG/JPEG/BMP/GIF in every JDK) with no temp-file cache
    * on executors, and rejects bytes that give no image.
    */
  private def readImage(bytes: Array[Byte], off: Int, len: Int): BufferedImage = {
    ImageIO.setUseCache(false)
    val img = ImageIO.read(new ByteArrayInputStream(bytes, off, len))
    require(img != null, s"undecodable image bytes ($len bytes)")
    img
  }

  /** Mean luminance of each cell of a `side`×`side` spatial grid over the
    * decoded pixels, row-major (0 for an empty cell). Pure integer/double
    * arithmetic on decoded RGB, so deterministic across JVMs.
    */
  private def lumaGrid(img: BufferedImage, side: Int): Array[Double] = {
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Double](side * side)
    val counts = new Array[Int](side * side)
    var y = 0
    while (y < h) {
      val gy = math.min(side - 1, y * side / h)
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
          (rgb & 0xFF) * 114) / (255.0 * 1000.0)
        val cell = gy * side + math.min(side - 1, x * side / w)
        sums(cell) += lum
        counts(cell) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(side * side)(i => if (counts(i) == 0) 0.0 else sums(i) / counts(i))
  }

  /** (width, height, features): the features are the 4×4 luminance grid,
    * FeatureDim values — a genuine (if simple) visual descriptor.
    */
  private def gridFeatures(img: BufferedImage): (Int, Int, Array[Float]) =
    (img.getWidth, img.getHeight, lumaGrid(img, 4).map(_.toFloat))

  /** Real image decode: (width, height, 16-dim luminance-grid features). */
  private[multimodal] def decodeImage(bytes: Array[Byte]): (Int, Int, Array[Float]) =
    gridFeatures(readImage(bytes, 0, bytes.length))

  /** 64-bit average-hash (aHash) over DECODED pixels: mean luminance of an
    * 8×8 spatial grid, each bit = cell above the grid mean. Identical
    * pixels → identical hash regardless of container; near-identical
    * images land within a small Hamming distance.
    */
  private[multimodal] def aHash64(bytes: Array[Byte]): Long = {
    val cells = lumaGrid(readImage(bytes, 0, bytes.length), 8)
    val mean = cells.sum / 64.0
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (cells(i) > mean) hash |= (1L << i)
      i += 1
    }
    hash
  }

  // ----------------------------------------------------------------- audio

  final case class WavInfo(
      sampleRate: Int, channels: Int, bitsPerSample: Int, nSamples: Int,
      durationMs: Double, features: Array[Float])

  /** PCM layout of a WAV: its `fmt ` values and its `data` chunk. */
  private final case class Pcm(sampleRate: Int, channels: Int, data: Chunk)

  /** The one WAV parse: walks the chunks until it has seen both `fmt ` and
    * `data`, and accepts only 16-bit PCM with positive channels and rate.
    * Rejects malformed containers loudly.
    */
  private def pcm(bytes: Array[Byte]): Pcm = {
    val chunks = riffChunks(bytes, "WAVE", 44)
    var fmt = Option.empty[(Int, Int)] // (sample rate, channels)
    var data = Option.empty[Chunk]
    while ((fmt.isEmpty || data.isEmpty) && chunks.hasNext) {
      val c = chunks.next()
      if (c.id == "fmt ") {
        require(c.size >= 16, "fmt chunk too small")
        val audioFormat = le16(bytes, c.body)
        require(audioFormat == 1, s"only PCM supported, got format $audioFormat")
        val channels = le16(bytes, c.body + 2)
        val sampleRate = le32(bytes, c.body + 4)
        val bits = le16(bytes, c.body + 14)
        require(channels > 0 && sampleRate > 0, "invalid fmt values")
        require(bits == 16, s"only 16-bit PCM supported, got $bits")
        fmt = Some((sampleRate, channels))
      } else if (c.id == "data") data = Some(c)
    }
    val (sampleRate, channels) = fmt.getOrElse(
      throw new IllegalArgumentException("missing fmt chunk"))
    Pcm(sampleRate, channels,
      data.getOrElse(throw new IllegalArgumentException("missing data chunk")))
  }

  /** Real RIFF/WAVE decode: the PCM parse, then 16-segment RMS energy
    * features from the 16-bit samples (channel-mixed).
    */
  private[multimodal] def decodeWav(bytes: Array[Byte]): WavInfo = {
    val Pcm(sampleRate, channels, data) = pcm(bytes)
    val bytesPerFrame = channels * 2
    val nSamples = data.size / bytesPerFrame
    val durationMs = nSamples * 1000.0 / sampleRate
    // 16-segment RMS energy over channel-mixed samples, normalized to [0, 1]
    val sums = new Array[Double](FeatureDim)
    val counts = new Array[Int](FeatureDim)
    var i = 0
    while (i < nSamples) {
      var mix = 0.0
      var c = 0
      while (c < channels) {
        val s = le16(bytes, data.body + i * bytesPerFrame + c * 2).toShort
        mix += s / 32768.0
        c += 1
      }
      mix /= channels
      // long arithmetic: i * FeatureDim overflows Int beyond ~134M frames
      val seg =
        if (nSamples <= 1) 0
        else math.min(FeatureDim - 1, (i.toLong * FeatureDim / nSamples).toInt)
      sums(seg) += mix * mix
      counts(seg) += 1
      i += 1
    }
    val features = Array.tabulate(FeatureDim) { k =>
      if (counts(k) == 0) 0.0f else math.sqrt(sums(k) / counts(k)).toFloat
    }
    WavInfo(sampleRate, channels, 16, nSamples, durationMs, features)
  }

  /** 64-bit acoustic fingerprint over the DECODED samples (container-
    * independent, the audio analogue of aHash64): frame the 16-bit mono
    * PCM into 32-sample frames, take each frame's energy (exact Long sum
    * of squares — no float drift), and set bit k iff energy rises from
    * frame k to k+1 (the sign-of-energy-delta scheme of Haitsma–Kalker
    * audio hashing, minus the spectral transform the JDK doesn't ship).
    * Identical samples → identical fingerprint regardless of chunk layout.
    */
  private[multimodal] def audioFingerprint64(bytes: Array[Byte]): Long = {
    val Pcm(_, channels, data) = pcm(bytes)
    require(channels == 1, "fingerprint expects 16-bit mono PCM")
    val nSamples = data.size / 2
    val frame = 32
    val nFrames = nSamples / frame
    val energies = new Array[Long](nFrames)
    var f = 0
    while (f < nFrames) {
      var e = 0L
      var i = 0
      while (i < frame) {
        val s = le16(bytes, data.body + (f * frame + i) * 2).toShort.toLong
        e += s * s
        i += 1
      }
      energies(f) = e
      f += 1
    }
    var fp = 0L
    var k = 0
    while (k < math.min(63, nFrames - 1)) {
      if (energies(k + 1) > energies(k)) fp |= (1L << k)
      k += 1
    }
    // fold the frame count in (splitmix odd constant): envelope deltas of
    // constant-amplitude signals carry little information, so exact LENGTH
    // is the other half of the identity — still a pure function of the
    // decoded samples, so container twins keep colliding
    fp ^ (nFrames.toLong * 0x9E3779B97F4A7C15L)
  }

  // ----------------------------------------------------------------- video

  final case class AviInfo(
      width: Int, height: Int, nFrames: Int, durationMs: Double,
      features: Array[Float])

  /** The one AVI demux: the `hdrl`/`avih` µs per frame and every
    * `??dc`/`??db` video frame chunk of the `movi` list, in file order.
    * Fails loudly without frame timing or frames.
    */
  private def aviFrames(bytes: Array[Byte]): (Long, Vector[Chunk]) = {
    var usPerFrame = 0L
    val frames = Vector.newBuilder[Chunk]
    riffChunks(bytes, "AVI ", 24).foreach { c =>
      if (c.id == "avih") {
        require(c.size >= 40, "avih header too small")
        usPerFrame = le32(bytes, c.body).toLong & 0xFFFFFFFFL
      } else if (c.id.endsWith("dc") || c.id.endsWith("db")) frames += c
    }
    val result = frames.result()
    require(result.nonEmpty, "AVI has no video frame chunks")
    require(usPerFrame > 0, "missing avih header (no frame timing)")
    (usPerFrame, result)
  }

  /** Real MJPEG-AVI decode, JDK-only: the AVI demux, every frame through
    * the actual ImageIO JPEG decoder, and the per-frame luminance-grid
    * features averaged. Width/height come from the decoded frames, which
    * must agree; duration is frame count × µs-per-frame.
    */
  private[multimodal] def decodeAvi(bytes: Array[Byte]): AviInfo = {
    val (usPerFrame, frames) = aviFrames(bytes)
    val decoded = frames.map(c => gridFeatures(readImage(bytes, c.body, c.size)))
    val (w, h, _) = decoded.head
    require(decoded.forall(d => d._1 == w && d._2 == h),
      "inconsistent frame dimensions")
    val features = Array.tabulate(FeatureDim) { i =>
      (decoded.map(_._3(i).toDouble).sum / decoded.length).toFloat
    }
    AviInfo(w, h, decoded.length, decoded.length * usPerFrame / 1000.0, features)
  }

  /** Per-frame mean luminance through the REAL demux + JPEG decode — the
    * per-frame view decodeAvi's averaged features cannot give: each frame's
    * mean (r+g+b)/3, the measure m_scene_cuts' 80-level threshold is
    * calibrated on.
    */
  private[multimodal] def aviFrameLumas(bytes: Array[Byte]): Array[Double] =
    aviFrames(bytes)._2.map { c =>
      val img = readImage(bytes, c.body, c.size)
      var sum = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val p = img.getRGB(x, y)
          sum += ((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)
          x += 1
        }
        y += 1
      }
      sum.toDouble / (3.0 * img.getWidth * img.getHeight)
    }.toArray

  /** Dispatch by kind: real JDK decoders for all three kinds. Unknown kinds
    * fail loudly (fail-fast, like the reference's config validation).
    */
  private[multimodal] def decode(m: Media): Decoded = m.kind match {
    case "image" =>
      val (w, h, feats) = decodeImage(m.content)
      Decoded(m.media_id, m.kind, width = w, height = h, n_frames = 1,
        sample_rate = 0, channels = 0, duration_ms = 0.0, features = feats)
    case "audio" =>
      val info = decodeWav(m.content)
      Decoded(m.media_id, m.kind, width = 0, height = 0, n_frames = 1,
        sample_rate = info.sampleRate, channels = info.channels,
        duration_ms = info.durationMs, features = info.features)
    case "video" =>
      val info = decodeAvi(m.content)
      Decoded(m.media_id, m.kind, width = info.width, height = info.height,
        n_frames = info.nFrames, sample_rate = 0, channels = 0,
        duration_ms = info.durationMs, features = info.features)
    case other => throw new IllegalArgumentException(s"unknown media kind: $other")
  }

  /** Decode + featurize, partition-wise in bounded batches (the Arrow-batch
    * shape). Narrow transformation: no shuffle.
    */
  def decodeAndFeaturize(media: Dataset[Media], batchSize: Int = 64): Dataset[Decoded] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // a real impl hands `batch` to the codec as one vectorized call
        batch.map(decode)
      }
    }
  }

  /** Resize: scales metadata (and would scale pixel data in a pixel-carrying
    * pipeline; features here are scale-invariant grid statistics).
    */
  def resize(decoded: Dataset[Decoded], maxSide: Int): Dataset[Decoded] = {
    import decoded.sparkSession.implicits._
    decoded.map { d =>
      if (d.width <= 0 || d.height <= 0) d
      else {
        val scale = math.min(1.0, maxSide.toDouble / math.max(d.width, d.height))
        d.copy(width = math.max(1, (d.width * scale).toInt),
          height = math.max(1, (d.height * scale).toInt))
      }
    }
  }

  /** Frame sampling for video rows: keep every `stride`-th frame (metadata
    * form of the real op; a real impl slices the frame tensor).
    */
  def sampleFrames(decoded: Dataset[Decoded], stride: Int): Dataset[Decoded] = {
    import decoded.sparkSession.implicits._
    decoded.map(d => d.copy(n_frames = math.max(1, (d.n_frames + stride - 1) / stride)))
  }

  // ----------------------------------------- synthetic real-encoded content

  /** A `w`×`h` RGB image whose pixel (x, y) is `rgb(x, y)`: the pixels of
    * every synthetic still and video frame.
    */
  private def filled(w: Int, h: Int)(rgb: (Int, Int) => Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb(x, y)); x += 1 }
      y += 1
    }
    img
  }

  /** The seeded pixel function of the synthetic stills (frame 0) and of
    * each frame of the synthetic videos.
    */
  private def noise(seed: Long, frame: Int)(x: Int, y: Int): Int =
    (java.lang.Long.rotateLeft(seed + frame * 977L + x * 31L + y * 131L,
      (x + y + frame) % 61) & 0xFFFFFF).toInt

  /** `img` through the actual ImageIO writer for `fmt`. */
  private def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    ImageIO.setUseCache(false)
    require(ImageIO.write(img, fmt, baos), s"$fmt writer unavailable")
    baos.toByteArray
  }

  /** Deterministic real PNG bytes: a small image whose pixels are a pure
    * function of `seed`, encoded through the actual ImageIO PNG writer — so
    * the decode path exercises a genuine codec round-trip.
    */
  private[multimodal] def syntheticPng(seed: Long, w: Int, h: Int): Array[Byte] =
    encode(filled(w, h)(noise(seed, 0)), "png")

  /** Same pixel function, different LOSSLESS container (BMP) — byte-level
    * hashing can never match these against their PNG twins; only a decoder
    * that reaches the pixels can.
    */
  private[multimodal] def syntheticBmp(seed: Long, w: Int, h: Int): Array[Byte] =
    encode(filled(w, h)(noise(seed, 0)), "bmp")

  /** A RIFF chunk: id, little-endian body size, body, and a zero pad byte
    * after an odd-sized body (chunks are word-aligned).
    */
  private def chunk(id: String, body: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](8 + body.length + (body.length & 1))
    System.arraycopy(id.getBytes(US_ASCII), 0, out, 0, 4)
    putLE(out, 4, body.length, 4)
    System.arraycopy(body, 0, out, 8, body.length)
    out
  }

  /** A RIFF/AVI container of `nFrames` ImageIO-encoded JPEG frames (`00dc`
    * chunks of a `movi` list) after a `hdrl` list holding the `avih` main
    * header; frame `i`'s pixels are `pixels(i)`.
    */
  private def mjpegAvi(w: Int, h: Int, nFrames: Int, fps: Int)(
      pixels: Int => (Int, Int) => Int): Array[Byte] = {
    def list(listType: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes(US_ASCII) ++ body)
    val avih = new Array[Byte](56) // standard avih size; zero except used fields
    putLE(avih, 0, 1000000 / fps, 4) // dwMicroSecPerFrame
    putLE(avih, 16, nFrames, 4)      // dwTotalFrames
    putLE(avih, 24, 1, 4)            // dwStreams
    putLE(avih, 32, w, 4)            // dwWidth
    putLE(avih, 36, h, 4)            // dwHeight
    val frames = (0 until nFrames).map(i => chunk("00dc", encode(filled(w, h)(pixels(i)), "jpg")))
    chunk("RIFF", "AVI ".getBytes(US_ASCII) ++ list("hdrl", chunk("avih", avih)) ++
      list("movi", Array.concat(frames: _*)))
  }

  /** Deterministic real MJPEG-AVI bytes: a correct RIFF/AVI container whose
    * frames are genuine ImageIO-encoded JPEGs (pixels derive from `seed` +
    * frame index) — so the video decode path exercises both a real demux
    * and a real codec round trip.
    */
  private[multimodal] def syntheticAvi(
      seed: Long, w: Int, h: Int, nFrames: Int, fps: Int = 10): Array[Byte] =
    mjpegAvi(w, h, nFrames, fps)(noise(seed, _))

  /** Flicker variant for temporal segmentation: every frame is a SOLID
    * gray whose level follows bit f of `seed` (200 if set, 40 if clear) —
    * so a scene CUT exists between frames f and f+1 exactly where the
    * seed's adjacent bits differ, and the true cut count is pure bit
    * arithmetic any SQL engine can recompute. JPEG round-trips a solid
    * color within ±2 levels, far inside the 80-level cut threshold.
    */
  private[multimodal] def syntheticAviFlicker(
      seed: Long, w: Int, h: Int, nFrames: Int, fps: Int = 10): Array[Byte] =
    mjpegAvi(w, h, nFrames, fps) { i =>
      val level = if (((seed >> i) & 1L) == 1L) 200 else 40
      val rgb = (level << 16) | (level << 8) | level
      (_, _) => rgb
    }

  /** A 16-bit PCM mono sine wave whose frequency derives from `seed`, as a
    * RIFF/WAVE container; `junk` splices a 20-byte JUNK filler chunk (the
    * standard RIFF padding chunk) between `fmt ` and `data`.
    */
  private def wav(seed: Long, sampleRate: Int, nSamples: Int, junk: Boolean): Array[Byte] = {
    val fmt = new Array[Byte](16)
    putLE(fmt, 0, 1, 2)              // PCM
    putLE(fmt, 2, 1, 2)              // mono
    putLE(fmt, 4, sampleRate, 4)
    putLE(fmt, 8, sampleRate * 2, 4) // byte rate
    putLE(fmt, 12, 2, 2)             // block align
    putLE(fmt, 14, 16, 2)            // bits per sample
    val samples = new Array[Byte](nSamples * 2)
    val freq = 110.0 + (math.abs(seed) % 880)
    var i = 0
    while (i < nSamples) {
      putLE(samples, i * 2, (math.sin(2 * math.Pi * freq * i / sampleRate) * 12000).toInt, 2)
      i += 1
    }
    val filler = if (junk) chunk("JUNK", new Array[Byte](20)) else Array.emptyByteArray
    chunk("RIFF", "WAVE".getBytes(US_ASCII) ++ chunk("fmt ", fmt) ++ filler ++
      chunk("data", samples))
  }

  /** Deterministic real WAV bytes: 16-bit PCM mono sine wave whose frequency
    * and length derive from `seed`, with a correct RIFF header.
    */
  private[multimodal] def syntheticWav(seed: Long, sampleRate: Int, nSamples: Int): Array[Byte] =
    wav(seed, sampleRate, nSamples, junk = false)

  /** The same PCM payload re-containered with a JUNK chunk before `data`.
    * Byte-level hashing can never match this to its original; a correct
    * chunk walker decodes identical samples from both.
    */
  private[multimodal] def syntheticWavJunk(
      seed: Long, sampleRate: Int, nSamples: Int): Array[Byte] =
    wav(seed, sampleRate, nSamples, junk = true)

  // ------------------------------------------------ the planted doc corpus

  // Each doc_id's medium, spelled once for mediaFromDocuments, the planted
  // twins and m_scene_cuts: kind doc_id % 3, sizes from doc_id arithmetic
  // the oracles recompute. `enc` swaps in a twin's or variant's encoder.

  private def image(id: Long, enc: (Long, Int, Int) => Array[Byte] = syntheticPng): Media =
    Media(id, "image", enc(id, 4 + (id % 29).toInt, 4 + (id % 17).toInt))

  private def audio(id: Long, enc: (Long, Int, Int) => Array[Byte] = syntheticWav): Media =
    Media(id, "audio", enc(id, 8000, 400 + (id % 800).toInt))

  private def plantedFrames(id: Long): Int = 1 + (id % 5).toInt

  private def video(id: Long,
      enc: (Long, Int, Int, Int) => Array[Byte] = syntheticAvi(_, _, _, _)): Media =
    Media(id, "video", enc(id, 8 + (id % 9).toInt, 8 + (id % 7).toInt, plantedFrames(id)))

  private def docIds(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "documents").select(col("doc_id").cast("long").as("doc_id"))

  /** Media table derived from `documents`: REAL encoded PNG/WAV/AVI content
    * per row (pixels/samples/frames a deterministic function of doc_id).
    * Generation is a narrow map; at production scale this stage is replaced
    * by reading actual media files.
    */
  def mediaFromDocuments(spark: SparkSession, dir: String): Dataset[Media] = {
    import spark.implicits._
    docIds(spark, dir).as[Long].mapPartitions(_.map { id =>
      (id % 3) match {
        case 0 => image(id)
        case 1 => audio(id)
        case _ => video(id)
      }
    })
  }

  /** Planted-twin corpus, the `Dedup.corpusWithDups` convention lifted to
    * media: every doc_id with `id % 3 == residue` as `orig(id)`, and every
    * one with `id % 15 == twinResidue` ALSO as `twin(id)` under id
    * `id + twinBase`. The twin holds the same pixels or samples in another
    * container, so its BYTES differ and only a decoder finds the pair.
    * Returns the twin id offset alongside: it is DERIVED from the data
    * (max doc_id + 1, a parquet-stats scalar extract — the A1 min/max
    * pattern) rather than a fixed constant, so twin ids can never collide
    * with real ids at any scale factor (ScaleUp offsets doc_ids by
    * k·1.2×10¹⁰, far past any fixed literal).
    */
  private def plantedTwins(s: SparkSession, d: String, residue: Int, twinResidue: Int)(
      orig: Long => Media, twin: Long => Media): (Dataset[Media], Long) = {
    import s.implicits._
    val ids = docIds(s, d).filter(col("doc_id") % 3 === residue)
    // max over an empty/all-filtered table is NULL — read it through
    // isNullAt so an empty corpus degrades to an empty media set (twin
    // base 1 over zero rows) instead of a driver NPE
    val maxRow = ids.agg(max("doc_id")).head
    val twinBase = (if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)) + 1L
    val media = ids.as[Long].mapPartitions(_.flatMap { id =>
      if (id % 15 == twinResidue)
        Iterator(orig(id), twin(id).copy(media_id = id + twinBase))
      else Iterator(orig(id))
    })
    (media, twinBase)
  }

  /** The one twin-recall census: `hash` every medium of the planted-twin
    * corpus (narrow mapPartitions decode, no shuffle), join each twin to
    * its original, and report the media count (`nCol`), the planted pairs,
    * the pairs whose hashes are equal, and their recall. The oracled
    * columns are DETERMINISTIC doc_id arithmetic plus the recall — 1.0 by
    * construction iff the whole decode→hash→join path works. A tiny SF
    * with no planted pair gives 0 recovered and the vacuous recall 1.0
    * (Tables.plantedRecall), which is what the census oracle pins.
    */
  private def twinRecall(s: SparkSession, d: String, residue: Int, twinResidue: Int,
      nCol: String)(orig: Long => Media, twin: Long => Media,
      hash: Array[Byte] => Long): DataFrame = {
    import s.implicits._
    val (media, twinBase) = plantedTwins(s, d, residue, twinResidue)(orig, twin)
    val hashes = media.mapPartitions(_.map(m => (m.media_id, hash(m.content))))
      .toDF("media_id", "h")
    val twins = hashes.filter(col("media_id") >= twinBase)
      .select((col("media_id") - twinBase).as("media_id"), col("h").as("twin_h"))
    val joined = hashes.join(twins, "media_id")
      .agg(count(lit(1)).as("n_planted_pairs"),
        sum(when(col("h") === col("twin_h"), 1L).otherwise(0L))
          .cast("bigint").as("n_recovered"))
    hashes.agg(count(lit(1)).as(nCol)).crossJoin(joined)
      .select(col(nCol), col("n_planted_pairs"),
        coalesce(col("n_recovered"), lit(0L)).as("n_recovered"),
        Tables.plantedRecall(col("n_recovered"), col("n_planted_pairs")).as("recall"))
  }

  /** `twinRecall`'s oracle: every planted twin is recovered, so the census
    * is plain doc_id arithmetic, and no planted pair (np = 0) gives the
    * same explicit vacuous recall 1.0 the engine emits, not 0/0 → NULL.
    */
  private def twinRecallSql(nCol: String, residue: Int, twinResidue: Int): String =
    s"""WITH m AS (SELECT count(*) AS n FROM documents WHERE doc_id % 3 = $residue),
       |pl AS (SELECT count(*) AS np FROM documents WHERE doc_id % 15 = $twinResidue)
       |SELECT CAST(n + np AS BIGINT) AS $nCol,
       |  CAST(np AS BIGINT) AS n_planted_pairs,
       |  CAST(np AS BIGINT) AS n_recovered,
       |  CASE WHEN np = 0 THEN CAST(1.0 AS DOUBLE)
       |       ELSE round(CAST(np AS DOUBLE) / np, 4) END AS recall
       |FROM m CROSS JOIN pl""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Perceptual-hash dedup over REAL decoded pixels: aHash-64 each image
    // and recover the planted PNG/BMP twins (identical pixels, different
    // containers) by hash equality. Accidental same-hash collisions between
    // different images exist at 64 bits on tiny images and are reported by
    // the spec, not oracled.
    "m_phash_dedup" -> ((s, d) =>
      twinRecall(s, d, 0, 0, "n_images")(image(_), image(_, syntheticBmp), aHash64)),

    // Acoustic-fingerprint dedup over REAL decoded PCM — the audio
    // analogue of m_phash_dedup: 64-bit sign-of-energy-delta fingerprints
    // (exact Long frame energies, no float drift), planted cross-CONTAINER
    // twins (same samples, JUNK-padded chunk layout, different bytes).
    // Recall is 1.0 by construction iff the chunk walker + sample framing
    // is container-invariant. At production scale the fingerprint column
    // feeds the d_exact_dedup groupBy; the decode stage shuffles nothing.
    "m_audio_fprint_dedup" -> ((s, d) =>
      twinRecall(s, d, 1, 4, "n_audios")(
        audio(_), audio(_, syntheticWavJunk), audioFingerprint64)),

    // Temporal video segmentation (scene-cut detection) over REAL decoded
    // frames — the clip-boundary primitive a multimodal training pipeline
    // runs before sampling clips: per video, demux + JPEG-decode every
    // frame (narrow mapPartitions, no shuffle), take per-frame mean
    // luminance, and count cuts where adjacent frames jump > 80 levels.
    // The planted corpus makes the TRUE cut count pure doc_id bit
    // arithmetic (frame f's brightness follows bit f of doc_id; a cut is
    // an adjacent-bit flip), so the census oracle pins the whole
    // demux→decode→delta→threshold chain exactly — the m_phash_dedup
    // discipline pointed at the time axis.
    "m_scene_cuts" -> ((s, d) => {
      import s.implicits._
      val vids = docIds(s, d).filter(col("doc_id") % 3 === 2).as[Long]
        .mapPartitions(_.map { id =>
          val nf = plantedFrames(id)
          val lum = aviFrameLumas(video(id, syntheticAviFlicker(_, _, _, _)).content)
          require(lum.length == nf, s"demux lost frames: ${lum.length} != $nf")
          val cuts = (1 until lum.length)
            .count(i => math.abs(lum(i) - lum(i - 1)) > 80.0)
          (id, nf.toLong, cuts.toLong)
        }).toDF("doc_id", "n_frames", "n_cuts")
      vids.groupBy("n_frames")
        .agg(count(lit(1)).as("n_videos"),
          sum("n_cuts").cast("bigint").as("total_cuts"),
          max("n_cuts").as("max_cuts"))
        .orderBy("n_frames")
    }),

    // Per-kind stats over REAL decoded metadata. Every reported column is
    // pinned by the planted census (the m_phash_dedup oracle pattern): the
    // generator derives each medium's true width/height/rate/duration from
    // doc_id arithmetic, so the oracle recomputes them in SQL — they only
    // agree if the full encode→decode→resize→frame-sample path reproduces
    // the planted values through the genuine codecs. n_feat16 (rows whose
    // decoded feature vector is 16-dim with a finite non-negative norm)
    // must equal cnt, pinning that every decode produced a real
    // descriptor; the norm VALUES are pixel-dependent and stay spec-land.
    // Exactness notes: audio duration (400+id%800)·1000/8000 and video
    // duration (1+id%5)·100000/1000 are exact in IEEE double on both
    // engines (quotients are representable), so round(...,3) is stable.
    "m_media_features" -> ((s, d) => {
      val decoded = sampleFrames(resize(decodeAndFeaturize(mediaFromDocuments(s, d)), 256), 4)
      decoded.toDF()
        .select(col("media_id"), col("kind"),
          col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"),
          col("n_frames").cast("bigint").as("n_frames"),
          col("sample_rate").cast("bigint").as("sample_rate"),
          col("duration_ms"),
          graft.queries.Similarity.norm(col("features")).as("feat_norm"),
          size(col("features")).as("feat_dim"))
        .groupBy("kind")
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("feat_dim") === 16 && !isnan(col("feat_norm")) &&
            col("feat_norm") >= 0.0, 1L).otherwise(0L))
            .cast("bigint").as("n_feat16"),
          max("width").as("max_w"), max("height").as("max_h"),
          max("n_frames").as("max_frames"),
          max("sample_rate").as("max_sample_rate"),
          round(max("duration_ms"), 3).as("max_duration_ms"))
        .orderBy("kind")
    })
  )

  /** Every column is pure doc_id arithmetic over the planted corpus, so
    * each oracle pins the whole encode→decode path: the twin recalls hold
    * 1.0 only if identical pixels/samples collide across containers.
    */
  val oracles: Map[String, String] = Map(
    // every column is doc_id arithmetic mirroring mediaFromDocuments /
    // resize(256, a no-op at these planted sizes) / sampleFrames(4)
    "m_media_features" ->
      """WITH m AS (SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  CASE doc_id % 3 WHEN 0 THEN 4 + doc_id % 29 WHEN 1 THEN 0
        |       ELSE 8 + doc_id % 9 END AS w,
        |  CASE doc_id % 3 WHEN 0 THEN 4 + doc_id % 17 WHEN 1 THEN 0
        |       ELSE 8 + doc_id % 7 END AS h,
        |  CASE doc_id % 3 WHEN 2 THEN (1 + doc_id % 5 + 3) // 4
        |       ELSE 1 END AS nf,
        |  CASE doc_id % 3 WHEN 1 THEN 8000 ELSE 0 END AS sr,
        |  CASE doc_id % 3 WHEN 1 THEN (400 + doc_id % 800) / 8.0
        |       WHEN 2 THEN (1 + doc_id % 5) * 100.0 ELSE 0.0 END AS dur
        |FROM documents)
        |SELECT kind, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(count(*) AS BIGINT) AS n_feat16,
        |  CAST(max(w) AS BIGINT) AS max_w, CAST(max(h) AS BIGINT) AS max_h,
        |  CAST(max(nf) AS BIGINT) AS max_frames,
        |  CAST(max(sr) AS BIGINT) AS max_sample_rate,
        |  round(max(dur), 3) AS max_duration_ms
        |FROM m GROUP BY kind ORDER BY kind""".stripMargin,
    // the planted truth: frame f bright iff bit f of doc_id, a cut iff
    // adjacent bits differ, nf = 1 + doc_id % 5 (so only bits 0..3 matter)
    "m_scene_cuts" ->
      """WITH v AS (
        |  SELECT doc_id, 1 + doc_id % 5 AS nf,
        |    (CASE WHEN 1 + doc_id % 5 >= 2
        |          AND ((doc_id >> 0) & 1) <> ((doc_id >> 1) & 1) THEN 1 ELSE 0 END
        |   + CASE WHEN 1 + doc_id % 5 >= 3
        |          AND ((doc_id >> 1) & 1) <> ((doc_id >> 2) & 1) THEN 1 ELSE 0 END
        |   + CASE WHEN 1 + doc_id % 5 >= 4
        |          AND ((doc_id >> 2) & 1) <> ((doc_id >> 3) & 1) THEN 1 ELSE 0 END
        |   + CASE WHEN 1 + doc_id % 5 >= 5
        |          AND ((doc_id >> 3) & 1) <> ((doc_id >> 4) & 1) THEN 1 ELSE 0 END) AS cuts
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT CAST(nf AS BIGINT) AS n_frames, count(*) AS n_videos,
        |  CAST(sum(cuts) AS BIGINT) AS total_cuts,
        |  CAST(max(cuts) AS BIGINT) AS max_cuts
        |FROM v GROUP BY nf ORDER BY n_frames""".stripMargin,
    "m_audio_fprint_dedup" -> twinRecallSql("n_audios", 1, 4),
    "m_phash_dedup" -> twinRecallSql("n_images", 0, 0)
  )
}
