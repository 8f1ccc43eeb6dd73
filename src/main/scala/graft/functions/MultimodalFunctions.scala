package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines: media as opaque `binary` columns plus typed metadata structs.
  *
  * The Spark-side plumbing — schema, batch shape, partition balancing,
  * kernel signatures — is real and tested. The IMAGE codec is real too:
  * [[ImageCodec]] decodes PNG/JPEG/BMP/GIF with the JDK's ImageIO (no
  * external dependency), yielding true dimensions, an 8×8 intensity-grid
  * feature vector, and real resize. The AUDIO codec is real as well:
  * [[AudioCodec]] parses WAV/AIFF/AU with `javax.sound.sampled` (header
  * meta + RMS-energy envelope features over the PCM stream). VIDEO
  * container demux is real for MP4/ISO-BMFF ([[Mp4Demux]]: track meta +
  * per-frame byte ranges/timestamps/sync flags straight from the sample
  * tables), and CODED-FRAME decode is real for the Motion-JPEG family
  * ([[VideoCodec]]: 'jpeg'/'mjpa'/'MJPG' sample entries carry one complete
  * baseline JPEG per frame, which the JDK's ImageIO decodes — frames come
  * out as raster planes that feed the same tiling/band-math/quicklook
  * stack as satellite scenes). Only H.264/H.265 remains out of scope — the
  * JDK has no inter-frame codec, and swapping one in (JNI/javacv or a
  * Python `mapInPandas` stage) changes only the function body, not the
  * plan shape.
  *
  * Scale design: media rows are large and skewed → `balanceBySize`
  * range-partitions on byte length so one partition ≈ one codec batch of
  * similar cost; decode is `mapPartitions` (one codec init per partition,
  * the same batching argument as pandas-UDF batches); features come back as
  * fixed-width `array<float>` ready for the similarity operators.
  */
object MultimodalFunctions {

  /** Typed metadata carried alongside the binary payload. */
  final case class MediaMeta(format: String, width: Int, height: Int,
                             channels: Int, sampleRate: Int, durationMs: Long)
  final case class MediaRow(media_id: Long, media_type: String,
                            content: Array[Byte], meta: MediaMeta)
  final case class MediaFeatures(media_id: Long, media_type: String,
                                 n_bytes: Long, features: Array[Float])

  /** ===== STUB ===== deterministic fake codec: stands in for image decode /
    * audio resample / video frame extraction. Derives all values from the
    * payload bytes so tests and oracles are reproducible. */
  object StubCodec {
    def sniffFormat(bytes: Array[Byte]): String =
      if (bytes.length >= 2 && bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte) "jpeg"
      else if (bytes.length >= 4 && bytes(0) == 0x89.toByte && bytes(1) == 'P') "png"
      else if (bytes.length >= 4 && bytes(0) == 'R' && bytes(1) == 'I') "wav"
      else "raw"

    /** STUB decode → fake meta (real impl: codec headers). */
    def decodeMeta(bytes: Array[Byte]): MediaMeta = {
      val n = bytes.length
      MediaMeta(sniffFormat(bytes), width = n % 640 + 1, height = n % 480 + 1,
        channels = 3, sampleRate = 16000, durationMs = n.toLong)
    }

    /** STUB feature extraction → `dim` pooled floats from a rolling byte
      * hash (real impl: CNN embedding / mel spectrogram pooling). */
    def extractFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var h = 1125899906842597L
      var i = 0
      while (i < bytes.length) {
        h = h * 31 + bytes(i)
        out(math.floorMod(i, dim)) += (math.floorMod(h, 1024L) / 1024.0f)
        i += 1
      }
      out.map(v => v / math.max(1, bytes.length / dim))
    }

    /** STUB video frame sampling: every `everyNth` byte-block index stands
      * in for a frame timestamp (real impl: container demux). */
    def sampleFrameOffsets(nBytes: Long, everyNth: Int): Seq[Long] =
      (0L until nBytes by everyNth.toLong).take(32)
  }

  /** ===== REAL image codec (JDK ImageIO: PNG/JPEG/BMP/GIF) ===== */
  object ImageCodec {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO

    private def read(bytes: Array[Byte]): Option[BufferedImage] =
      try Option(ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }

    /** True dimensions/channels from the decoded image; None if the payload
      * is not a decodable image. */
    def decodeMeta(bytes: Array[Byte]): Option[MediaMeta] = read(bytes).map { img =>
      MediaMeta(StubCodec.sniffFormat(bytes), img.getWidth, img.getHeight,
        channels = img.getColorModel.getNumComponents,
        sampleRate = 0, durationMs = 0L)
    }

    /** `grid`×`grid` mean-pooled luma vector in [0,1] — the classic
      * thumbnail-intensity embedding; feeds the cosine/ANN operators
      * directly and powers perceptual near-dup detection (two images that
      * resize to similar thumbnails land near each other). */
    def intensityFeatures(bytes: Array[Byte], grid: Int = 8): Option[Array[Float]] =
      read(bytes).map { img =>
        val out = new Array[Float](grid * grid)
        val counts = new Array[Int](grid * grid)
        val (w, h) = (img.getWidth, img.getHeight)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val luma = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000
            val cell = math.min(y * grid / h, grid - 1) * grid +
              math.min(x * grid / w, grid - 1)
            out(cell) += luma / 255.0f
            counts(cell) += 1
            x += 1
          }
          y += 1
        }
        var i = 0
        while (i < out.length) { if (counts(i) > 0) out(i) /= counts(i); i += 1 }
        out
      }

    /** Mean-pooled integer-luma grid as DOUBLES (0..255 scale) — the
      * [[graft.expr.PHash64Expr]] input. Same cell layout and luma weights
      * as [[intensityFeatures]], but unnormalized: for an exactly
      * `grid`×`grid` image each cell is ONE pixel's integer luma, which is
      * what lets the DuckDB oracle replay the downstream DCT from pixel
      * literals bit-for-bit. */
    def lumaGrid(bytes: Array[Byte], grid: Int = 32): Option[Array[Double]] =
      read(bytes).map { img =>
        val sums = new Array[Double](grid * grid)
        val counts = new Array[Int](grid * grid)
        val (w, h) = (img.getWidth, img.getHeight)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val luma = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000
            val cell = math.min(y * grid / h, grid - 1) * grid +
              math.min(x * grid / w, grid - 1)
            sums(cell) += luma
            counts(cell) += 1
            x += 1
          }
          y += 1
        }
        var i = 0
        while (i < sums.length) { if (counts(i) > 0) sums(i) /= counts(i); i += 1 }
        sums
      }

    /** Real resize: decode → bilinear-interpolated redraw → PNG re-encode.
      * None if the payload is not a decodable image. */
    def resize(bytes: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
      read(bytes).map { img =>
        val dst = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
        g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        ImageIO.write(dst, "png", bos)
        bos.toByteArray
      }
  }

  /** ===== REAL audio codec (JDK javax.sound.sampled: WAV/AIFF/AU) ===== */
  object AudioCodec {
    import javax.sound.sampled.AudioSystem

    /** True sample rate / channels / duration from the audio header. */
    def decodeMeta(bytes: Array[Byte]): Option[MediaMeta] =
      try {
        val container = AudioSystem.getAudioFileFormat(
          new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(bytes)))
          .getType.getExtension // "wav" | "aif" | "au" — the real container
        val in = AudioSystem.getAudioInputStream(
          new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(bytes)))
        try {
          val f = in.getFormat
          val frames = in.getFrameLength
          val durMs = if (frames >= 0 && f.getFrameRate > 0)
            (frames * 1000L / f.getFrameRate).toLong else 0L
          Some(MediaMeta(container, width = 0, height = 0,
            channels = f.getChannels, sampleRate = f.getSampleRate.toInt,
            durationMs = durMs))
        } finally in.close()
      } catch { case _: Exception => None }

    /** `dim` RMS-energy windows over the decoded 16-bit PCM stream — the
      * loudness-envelope embedding (silence → zeros, constant tone → flat
      * positive vector). Feeds the cosine/ANN operators like any other
      * fixed-width feature. */
    def rmsFeatures(bytes: Array[Byte], dim: Int): Option[Array[Float]] =
      try {
        val in = AudioSystem.getAudioInputStream(
          new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(bytes)))
        try {
          val f = in.getFormat
          if (f.getSampleSizeInBits != 16) None
          else {
            val pcm = in.readAllBytes()
            val nSamples = pcm.length / 2
            if (nSamples == 0) Some(new Array[Float](dim))
            else {
              val sumSq = new Array[Double](dim)
              val counts = new Array[Int](dim)
              val le = !f.isBigEndian
              var i = 0
              while (i < nSamples) {
                val lo = pcm(2 * i) & 0xFF; val hi = pcm(2 * i + 1) & 0xFF
                val s = (if (le) (hi << 8) | lo else (lo << 8) | hi).toShort / 32768.0
                val cell = math.min(i.toLong * dim / nSamples, dim - 1).toInt
                sumSq(cell) += s * s
                counts(cell) += 1
                i += 1
              }
              Some(Array.tabulate(dim)(c =>
                if (counts(c) == 0) 0f else math.sqrt(sumSq(c) / counts(c)).toFloat))
            }
          }
        } finally in.close()
      } catch { case _: Exception => None }

    /** Sequency-band energy grid for the audio fingerprint
      * ([[graft.expr.Afp64Expr]]): `frames` consecutive `frameSize`-sample
      * windows, each transformed by the Walsh–Hadamard transform (the
      * q163 convention — sign = parity of `bitCount(n & k)` — chosen
      * because it is INTEGER-exact, so the DuckDB oracle replays every
      * energy bit-for-bit from the PCM formula with no float margins to
      * argue about), energies summed over `binsPerBand`-bin sequency
      * bands with DC (k = 0) skipped. Output row-major
      * `(frame, band) → Long`; None when the payload is not decodable
      * 16-bit PCM or is shorter than `frames·frameSize` samples. */
    def bandEnergies(bytes: Array[Byte], frames: Int = 5, frameSize: Int = 64,
                     bands: Int = 17, binsPerBand: Int = 3): Option[Array[Long]] = {
      require(bands * binsPerBand + 1 <= frameSize,
        s"bands*binsPerBand+1 = ${bands * binsPerBand + 1} exceeds frameSize $frameSize")
      decodePcm16(bytes).filter(_.length >= frames * frameSize).map { x =>
        val out = new Array[Long](frames * bands)
        var t = 0
        while (t < frames) {
          val off = t * frameSize
          var b = 0
          while (b < bands) {
            var e = 0L
            var j = 0
            while (j < binsPerBand) {
              val k = b * binsPerBand + j + 1 // k = 0 (DC) skipped
              var w = 0L
              var n = 0
              while (n < frameSize) {
                if (java.lang.Integer.bitCount(n & k) % 2 == 0) w += x(off + n)
                else w -= x(off + n)
                n += 1
              }
              e += w * w
              j += 1
            }
            out(t * bands + b) = e
            b += 1
          }
          t += 1
        }
        out
      }
    }

    /** Canonical 44-byte RIFF/WAVE container around little-endian 16-bit
      * PCM — the export half of the codec (the decode half is the JDK's
      * real parser, so encode→decode round-trips through a genuinely
      * independent reader). Mono. */
    def pcm16Wav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      val dataLen = samples.length * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(sampleRate).putInt(sampleRate * 2)
        .putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(buf.putShort)
      buf.array()
    }

    /** Decoded 16-bit PCM sample stream (channel-interleaved order as
      * stored; the spectral features treat the stream positionally). */
    private[functions] def decodePcm16(bytes: Array[Byte]): Option[Array[Short]] =
      try {
        val in = AudioSystem.getAudioInputStream(
          new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(bytes)))
        try {
          val f = in.getFormat
          if (f.getSampleSizeInBits != 16) None
          else {
            val pcm = in.readAllBytes()
            val le = !f.isBigEndian
            Some(Array.tabulate(pcm.length / 2) { i =>
              val lo = pcm(2 * i) & 0xFF; val hi = pcm(2 * i + 1) & 0xFF
              (if (le) (hi << 8) | lo else (lo << 8) | hi).toShort
            })
          }
        } finally in.close()
      } catch { case _: Exception => None }

    /** In-place unnormalized fast Walsh–Hadamard transform (natural
      * Hadamard order): coef(k) = Σ_n x(n)·(−1)^popcount(n AND k). */
    private[functions] def fwht(a: Array[Long]): Unit = {
      var h = 1
      while (h < a.length) {
        var i = 0
        while (i < a.length) {
          var j = i
          while (j < i + h) {
            val x = a(j); val y = a(j + h)
            a(j) = x + y; a(j + h) = x - y
            j += 1
          }
          i += 2 * h
        }
        h *= 2
      }
    }

    /** EXACT spectral frame features over the decoded PCM stream:
      * per `frameSize`-sample frame (complete frames only) —
      * zero-crossing count, energy Σx², and `nBands` contiguous
      * Walsh–Hadamard band magnitudes (Σ|coef| per band, natural
      * Hadamard coefficient order). The WHT is the ±1-basis spectral
      * transform: every output is integer arithmetic on the exact PCM
      * samples, so features are bit-reproducible across engines — an
      * external replay (the q163 DuckDB oracle recomputes coefficients
      * via bit_count parity) verifies the whole WAV decode path sample
      * for sample. frameSize must be a power of two divisible by nBands. */
    def spectralFrames(bytes: Array[Byte], frameSize: Int, nBands: Int)
        : Option[Seq[SpectralFrame]] = {
      require(frameSize >= 2 && (frameSize & (frameSize - 1)) == 0,
        s"frameSize must be a power of two, got $frameSize")
      require(nBands >= 1 && frameSize % nBands == 0,
        s"nBands must divide frameSize, got $nBands / $frameSize")
      decodePcm16(bytes).map { pcm =>
        val nFrames = pcm.length / frameSize
        (0 until nFrames).map { f =>
          val w = new Array[Long](frameSize)
          var i = 0
          while (i < frameSize) { w(i) = pcm(f * frameSize + i); i += 1 }
          var zcr = 0
          var energy = 0L
          i = 0
          while (i < frameSize) {
            if (i > 0 && (w(i) >= 0) != (w(i - 1) >= 0)) zcr += 1
            energy += w(i) * w(i)
            i += 1
          }
          fwht(w)
          val per = frameSize / nBands
          val bands = Array.tabulate(nBands) { b =>
            var sum = 0L
            var k = b * per
            while (k < (b + 1) * per) { sum += math.abs(w(k)); k += 1 }
            sum
          }
          SpectralFrame(f, zcr, energy, bands)
        }
      }
    }
  }

  /** One spectral analysis frame ([[AudioCodec.spectralFrames]]). */
  final case class SpectralFrame(frame: Int, zcr: Int, energy: Long,
      bands: Array[Long])

  /** Per-media spectral frame rows ([[SpectralFrame]] + media id). */
  final case class SpectralRow(media_id: Long, frame: Int, zcr: Int,
      energy: Long, bands: Array[Long])

  /** Distributed audio spectral featurization: each media row's PCM
    * stream framed and transformed on executors ([[AudioCodec
    * .spectralFrames]]); undecodable/non-16-bit payloads yield no rows.
    * Same partition-parallel shape as [[decodeVideoFrames]] — per-row
    * cost is O(samples · log frameSize), scan-dominated at corpus scale. */
  def audioSpectral(ds: Dataset[MediaRow], frameSize: Int, nBands: Int)
                   (implicit spark: SparkSession): Dataset[SpectralRow] = {
    import spark.implicits._
    ds.mapPartitions { it =>
      it.flatMap { row =>
        AudioCodec.spectralFrames(row.content, frameSize, nBands)
          .getOrElse(Seq.empty)
          .iterator.map(sf =>
            SpectralRow(row.media_id, sf.frame, sf.zcr, sf.energy, sf.bands))
      }
    }
  }

  /** ===== REAL video frame decode (Motion-JPEG family) =====
    *
    * MJPEG is the one video codec family where every frame is a complete,
    * independently-coded image — the 'jpeg' (ISO/QuickTime) / 'mjpa' /
    * 'MJPG' sample entries carry one baseline JPEG per sample, which the
    * JDK's ImageIO decodes with no external dependency. That makes the
    * FULL coded-frame path real here: [[Mp4Demux]] cuts the frame's exact
    * byte range from the sample tables, [[VideoCodec.decodeFramePlane]]
    * entropy-decodes it to a pixel plane. H.264/H.265 frames still pass
    * through as verbatim payloads (no JDK inter-frame codec).
    */
  object VideoCodec {
    /** Sample-entry fourccs whose payloads are complete JPEG images. */
    private val MjpegFourccs =
      Set("jpeg", "mjpa", "mjpb", "MJPG", "mjpg", "AVDJ", "avdj", "dmb1")

    def isMjpeg(codec: String): Boolean = MjpegFourccs.contains(codec)

    /** H.264 sample-entry fourccs (length-prefixed NAL samples + avcC). */
    private val AvcFourccs = Set("avc1", "avc3", "AVC1", "h264", "H264")

    def isAvc(codec: String): Boolean = AvcFourccs.contains(codec)

    /** Can this avcC config actually drive [[graft.sources.H264Decode]]?
      * True only for the supported baseline subset (CAVLC, progressive,
      * 4:2:0) — a 'avc1' track with CABAC or no config at all reports
      * undecodable instead of failing frame by frame. */
    def avcConfigSupported(cfg: Array[Byte]): Boolean =
      cfg.nonEmpty && (try {
        graft.sources.H264Decode.decodeAvccSamples(cfg, Seq.empty)
        true
      } catch { case _: Exception => false })

    /** Probe-decode the FIRST keyframe of an AVC track: the config-level
      * [[avcConfigSupported]] check proves only that the SPS/PPS parse
      * (CAVLC, progressive, 4:2:0) — a stream whose picture parameter set
      * passes but whose slices enable deblocking, or that carries
      * P-slices past the supported subset, would otherwise report
      * decodable while every per-frame decode throws. One keyframe decode
      * settles it; bounded cost (the stss-derived sync flags are scanned
      * over the WHOLE sample table — table entries, not payload bytes —
      * so a stream whose first IDR lands late is still found, and exactly
      * one frame is ever decoded). */
    def probeAvcKeyframe(bytes: Array[Byte], cfg: Array[Byte]): Boolean =
      try {
        Mp4Demux.keyframes(bytes, maxFrames = 1).headOption
          .flatMap(s => Mp4Demux.samplePayloadOpt(bytes, s))
          .exists(p =>
            graft.sources.H264Decode.decodeAvccSamples(cfg, Seq(p)).nonEmpty)
      } catch { case _: Exception => false }

    /** True when the MP4's video track decodes on this JVM: MJPEG-family
      * (each frame a complete JPEG) or baseline-subset H.264 whose avcC
      * parses AND whose first keyframe actually probe-decodes — so a
      * `true` here guarantees [[decodeVideoFrames]] yields rows for any
      * stream whose frames are coded like its first keyframe. */
    def canDecode(bytes: Array[Byte]): Boolean =
      Mp4Demux.demux(bytes).exists(_.tracks.exists(t =>
        t.handler == "vide" && (isMjpeg(t.codec) ||
          (isAvc(t.codec) && avcConfigSupported(t.codecConfig) &&
            probeAvcKeyframe(bytes, t.codecConfig)))))

    /** Decode one coded frame to a gray intensity plane (row-major floats,
      * same raster contract as the scene readers): single-band images come
      * out as raw sample values, multi-band as integer-weighted luma. None
      * if the payload is not a decodable image, or if its HEADER declares
      * dimensions past `maxDim` — the guard runs before ImageIO allocates
      * the raster, so a corrupt SOF claiming a 65k-wide frame costs a
      * header read, not a giant allocation attempt inside an ingest task. */
    def decodeFramePlane(payload: Array[Byte],
                         maxDim: Int = 16384): Option[(Int, Int, Array[Float])] =
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) return None
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            val (w0, h0) = (reader.getWidth(0), reader.getHeight(0))
            if (w0 <= 0 || h0 <= 0 || w0 > maxDim || h0 > maxDim) return None
          } finally reader.dispose()
        } finally iis.close()
        decodePlane(payload)
      } catch { case _: Exception => None }

    private def decodePlane(payload: Array[Byte]): Option[(Int, Int, Array[Float])] =
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))).map { img =>
        val (w, h) = (img.getWidth, img.getHeight)
        val out = new Array[Float](w * h)
        val raster = img.getRaster
        if (raster.getNumBands == 1) {
          // raw decoded samples — getRGB would gamma-map gray to sRGB
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { out(y * w + x) = raster.getSample(x, y, 0); x += 1 }
            y += 1
          }
        } else {
          // bulk row reads: per-pixel getRGB pays a colorspace dispatch per
          // call and is ~5x slower than the row variant
          val row = new Array[Int](w)
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, row, 0, w)
            var x = 0
            while (x < w) {
              val rgb = row(x)
              out(y * w + x) = (((rgb >> 16) & 0xFF) * 299 +
                ((rgb >> 8) & 0xFF) * 587 + (rgb & 0xFF) * 114) / 1000.0f
              x += 1
            }
            y += 1
          }
        }
        (h, w, out)
      } catch { case _: Exception => None }
  }

  /** Grid-pooled luma features from a raw 8-bit plane — the H.264
    * counterpart of [[ImageCodec.intensityFeatures]] (same cell layout and
    * 0..1 normalization, so mixed MJPEG/H.264 corpora embed into one
    * feature space). */
  /** Mean-pooled luma grid from a raw 8-bit plane as DOUBLES (0..255
    * scale) — the decoded-video analogue of [[ImageCodec.lumaGrid]],
    * same cell mapping, feeding [[graft.expr.PHash64Expr]]. */
  private[functions] def planeLumaGrid(y: Array[Byte], w: Int, h: Int,
                                       grid: Int): Array[Double] = {
    val sums = new Array[Double](grid * grid)
    val counts = new Array[Int](grid * grid)
    var yy = 0
    while (yy < h) {
      var x = 0
      while (x < w) {
        val cell = math.min(yy * grid / h, grid - 1) * grid +
          math.min(x * grid / w, grid - 1)
        sums(cell) += (y(yy * w + x) & 0xFF)
        counts(cell) += 1
        x += 1
      }
      yy += 1
    }
    var i = 0
    while (i < sums.length) { if (counts(i) > 0) sums(i) /= counts(i); i += 1 }
    sums
  }

  private[functions] def lumaGridFeatures(y: Array[Byte], w: Int, h: Int,
                                          grid: Int): Array[Float] = {
    val out = new Array[Float](grid * grid)
    val counts = new Array[Int](grid * grid)
    var yy = 0
    while (yy < h) {
      var x = 0
      while (x < w) {
        val cell = math.min(yy * grid / h, grid - 1) * grid +
          math.min(x * grid / w, grid - 1)
        out(cell) += (y(yy * w + x) & 0xFF) / 255.0f
        counts(cell) += 1
        x += 1
      }
      yy += 1
    }
    var i = 0
    while (i < out.length) { if (counts(i) > 0) out(i) /= counts(i); i += 1 }
    out
  }

  /** One decoded frame as a raster row — the video analogue of a scene
    * band: plugs straight into `SceneIO.tileScene`, band math, resampling
    * and quicklooks. */
  final case class FramePlane(media_id: Long, frame_index: Int, time_ms: Long,
                              sync: Boolean, height: Int, width: Int,
                              pixels: Array[Float])

  /** Coded-frame video decode kernel: select every `everyNth`-th frame
    * (up to `maxFrames` per video) and decode to pixel planes on
    * executors — MJPEG-family samples through ImageIO, baseline H.264
    * I AND P pictures through the native [[graft.sources.H264Decode]]
    * (luma plane, the same gray contract as the JPEG path). For H.264 the
    * decode is necessarily SEQUENTIAL up to the last selected frame (P
    * chains), so the video — not the frame — is the unit of parallelism.
    * Same `mapPartitions` batching as the other codecs; non-MP4 payloads
    * and undecodable tracks yield no rows (sample their coded payloads
    * via [[videoFrames]] instead), and a frame that fails to decode drops
    * (poisoning the P chain until the next IDR) — it does not fail the
    * ingest task. */
  def decodeVideoFrames(ds: Dataset[MediaRow], everyNth: Int, maxFrames: Int)
                       (implicit spark: SparkSession): Dataset[FramePlane] = {
    import spark.implicits._
    ds.mapPartitions { it =>
      it.flatMap { row =>
        val track = Mp4Demux.demux(row.content)
          .flatMap(_.tracks.find(_.handler == "vide"))
        track match {
          case Some(t) if VideoCodec.isAvc(t.codec) &&
              VideoCodec.avcConfigSupported(t.codecConfig) =>
            // H.264: P samples decode against their predecessors, so run
            // ONE stateful decoder over every sample up to the last
            // selected index and emit only the selected frames. A sample
            // that fails to decode drops and poisons the chain until the
            // next IDR (the decoder invalidates its reference) — exactly
            // a player's recover-at-keyframe behaviour.
            val selected = Mp4Demux.sampleFrames(row.content, everyNth, maxFrames)
            if (selected.isEmpty) Iterator.empty
            else {
              val wanted = selected.map(_.index).toSet
              val lastIdx = selected.map(_.index).max
              val all = Mp4Demux.sampleFrames(row.content, 1, lastIdx + 1)
              val dec = new graft.sources.H264Decode.AvccStreamDecoder(t.codecConfig)
              all.iterator.flatMap { s =>
                Mp4Demux.samplePayloadOpt(row.content, s).flatMap { p =>
                  val fOpt =
                    try dec.decodeSample(p).headOption
                    catch { case _: Exception => None }
                  fOpt.filter(_ => wanted(s.index)).map { f =>
                    val px = new Array[Float](f.width * f.height)
                    var i = 0
                    while (i < px.length) { px(i) = (f.y(i) & 0xFF).toFloat; i += 1 }
                    FramePlane(row.media_id, s.index, s.timeMs, s.sync,
                      f.height, f.width, px)
                  }
                }
              }
            }
          case Some(t) if VideoCodec.isMjpeg(t.codec) =>
            Mp4Demux.sampleFrames(row.content, everyNth, maxFrames)
              .iterator.flatMap { s =>
                // range-checked cut: a corrupt sample table drops its rows
                Mp4Demux.samplePayloadOpt(row.content, s)
                  .flatMap(p => VideoCodec.decodeFramePlane(p))
                  .map { case (h, w, px) =>
                    FramePlane(row.media_id, s.index, s.timeMs, s.sync, h, w, px)
                  }
              }
          case _ => Iterator.empty
        }
      }
    }
  }

  /** Real video-container meta from an MP4 payload: codec fourcc,
    * dimensions and duration from the first video track ([[Mp4Demux]]).
    * None for non-ISO-BMFF payloads. */
  def videoMeta(bytes: Array[Byte]): Option[MediaMeta] =
    Mp4Demux.demux(bytes).flatMap { info =>
      info.tracks.find(_.handler == "vide").map { t =>
        MediaMeta(t.codec, t.width, t.height, channels = 0,
          sampleRate = t.timescale.toInt, durationMs = t.durationMs)
      }
    }

  /** One extracted frame: verbatim coded payload + container-true
    * timing/sync metadata. */
  final case class FrameRow(media_id: Long, frame_index: Int, time_ms: Long,
                            sync: Boolean, payload: Array[Byte])

  /** Container-true frame sampling kernel: every `everyNth`-th frame (up
    * to `maxFrames` per video) cut from the MP4 sample tables — real byte
    * ranges, not byte-stride guesses. Non-MP4 payloads yield no rows.
    * Same mapPartitions batching as the other codec kernels; output rows
    * carry only the sampled frames, so a 1h clip ships k frames, not the
    * container. */
  def videoFrames(ds: Dataset[MediaRow], everyNth: Int, maxFrames: Int)
                 (implicit spark: SparkSession): Dataset[FrameRow] = {
    import spark.implicits._
    ds.mapPartitions { it =>
      it.flatMap { row =>
        Mp4Demux.sampleFrames(row.content, everyNth, maxFrames).flatMap { s =>
          // range-checked: corrupt sample tables drop frames, not tasks
          Mp4Demux.samplePayloadOpt(row.content, s).map(p =>
            FrameRow(row.media_id, s.index, s.timeMs, s.sync, p))
        }
      }
    }
  }

  /** Balance partitions by payload size so codec batches have similar cost
    * (media size is heavy-tailed; hash partitioning would let one partition
    * hold several 4K videos while another holds thumbnails). */
  def balanceBySize(df: DataFrame, partitions: Int): DataFrame =
    df.withColumn("__sz", length(col("content")))
      .repartitionByRange(partitions, col("__sz"), col("media_id"))
      .drop("__sz")

  /** Decode + feature-extract as a typed mapPartitions kernel: one codec
    * init per partition, rows streamed through it (the Scala analogue of a
    * pandas-UDF batch). Dispatches on `media_type` FIRST — an audio corpus
    * must not pay an exception-driven ImageIO.read probe per row — and
    * keeps cross-codec probing only as the fallback for untyped/mislabeled
    * rows. */
  def extractFeatures(ds: Dataset[MediaRow], dim: Int)
                     (implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    val grid = math.sqrt(dim).toInt
    val squareDim = grid * grid == dim
    ds.mapPartitions { it =>
      // codec init happens once per partition (ImageIO caches readers)
      def image(row: MediaRow): Option[Array[Float]] =
        if (squareDim) ImageCodec.intensityFeatures(row.content, grid) else None
      def audio(row: MediaRow): Option[Array[Float]] =
        AudioCodec.rmsFeatures(row.content, dim)
      def video(row: MediaRow): Option[Array[Float]] =
        // thumbnail embedding of the first keyframe — real for MJPEG
        // tracks (complete JPEGs through ImageIO) AND baseline H.264
        // (native decode, luma pooled over the same grid); H.265 has no
        // JVM codec and falls through to the stub
        if (squareDim && VideoCodec.canDecode(row.content)) {
          val track = Mp4Demux.demux(row.content)
            .flatMap(_.tracks.find(_.handler == "vide"))
          val key = Mp4Demux.keyframes(row.content, 1).headOption
            .flatMap(s => Mp4Demux.samplePayloadOpt(row.content, s))
          track match {
            case Some(t) if VideoCodec.isAvc(t.codec) =>
              key.flatMap { p =>
                try graft.sources.H264Decode
                  .decodeAvccSamples(t.codecConfig, Seq(p)).headOption
                  .map(f => lumaGridFeatures(f.y, f.width, f.height, grid))
                catch { case _: Exception => None }
              }
            case _ => key.flatMap(p => ImageCodec.intensityFeatures(p, grid))
          }
        } else None
      it.map { row =>
        val real = row.media_type match {
          case "image" => image(row)
          case "audio" => audio(row)
          case "video" => video(row)
          case _       => image(row).orElse(audio(row))
        }
        MediaFeatures(row.media_id, row.media_type, row.content.length.toLong,
          real.getOrElse(StubCodec.extractFeatures(row.content, dim)))
      }
    }
  }

  /** Resize/transcode kernel: decodable images take the REAL path
    * (ImageIO decode → bilinear redraw → PNG re-encode); anything else
    * falls back to the deterministic stub payload so mixed-media corpora
    * keep flowing. One kernel per partition, payload and meta rewritten
    * together. */
  def resize(ds: Dataset[MediaRow], w: Int, h: Int)
            (implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        ImageCodec.resize(r.content, w, h) match {
          case Some(png) =>
            r.copy(content = png,
              meta = r.meta.copy(format = "png", width = w, height = h))
          case None =>
            val src = if (r.content.isEmpty) Array[Byte](0) else r.content
            val out = new Array[Byte](math.min(w * h, 4096))
            var i = 0
            while (i < out.length) { out(i) = src(math.floorMod(i * 31, src.length)); i += 1 }
            r.copy(content = out, meta = r.meta.copy(width = w, height = h))
        }
      }
    }
  }

  /** Perceptual-hash kernel: decode → 32×32 luma grid (mapPartitions, one
    * codec init per partition, non-images dropped) → native
    * [[graft.expr.PHash64Expr]] DCT sign hash. Output (idCol, phash:
    * long) feeds [[DedupFunctions.hamming64]] and the simhash-style
    * band-prefix LSH bucketing directly — at 100 TB only the 8-byte
    * signatures ever shuffle; pixels stay in the scan task. */
  def imagePhash(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        ImageCodec.lumaGrid(bytes, graft.expr.PHash64.Grid).map(g => (id, g))
      })
      .toDF(idCol, "luma_grid")
      .select(col(idCol), graft.expr.NativeFunctions.phash64(col("luma_grid")).as("phash"))
  }

  /** Video-fingerprint kernel — the video member of the signature plane:
    * demux the MP4, decode the FIRST keyframe (real for baseline H.264
    * via [[graft.sources.H264Decode]] and for the MJPEG family via
    * ImageIO), mean-pool its luma plane to the 32×32 grid, and hash with
    * the SAME native [[graft.expr.PHash64Expr]] as still images — a
    * re-encoded / re-muxed / brightness-shifted copy of a video lands
    * within a few hamming bits of the original. One keyframe decode per
    * clip (not per frame): the signature cost is O(clips), the near-dup
    * join is the same 8-byte-hamming plane as text/image/audio. Rows
    * whose keyframe cannot really decode are DROPPED, not stubbed. */
  def videoPhash(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val grid: Option[Array[Double]] = for {
          mp4 <- Mp4Demux.demux(bytes)
          track <- mp4.tracks.find(_.handler == "vide")
          // first sync sample off the ALREADY-demuxed inventory (a second
          // Mp4Demux.keyframes call would re-parse the container per row)
          key <- mp4.videoSamples.find(_.sync)
          payload <- Mp4Demux.samplePayloadOpt(bytes, key)
          g <- if (VideoCodec.isAvc(track.codec)) {
            try graft.sources.H264Decode
              .decodeAvccSamples(track.codecConfig, Seq(payload)).headOption
              .map(f => planeLumaGrid(f.y, f.width, f.height, graft.expr.PHash64.Grid))
            catch { case _: Exception => None }
          } else ImageCodec.lumaGrid(payload, graft.expr.PHash64.Grid)
        } yield g
        grid.map(g => (id, g))
      })
      .toDF(idCol, "luma_grid")
      .select(col(idCol), graft.expr.NativeFunctions.phash64(col("luma_grid")).as("phash"))
  }

  /** Multi-keyframe video signatures — the re-cut-robust form of
    * [[videoPhash]]: decode up to `maxKeyframes` sync samples per clip
    * (each IDR decodes standalone against the avcC parameter sets) and
    * hash each with the same native [[graft.expr.PHash64Expr]], returning
    * (idCol, phashes: array<long>). A re-cut copy (different first GOP)
    * escapes a first-keyframe-only hash but shares a later keyframe, so
    * MIN-hamming over the signature sets pairs it; pairing at corpus
    * scale = explode the arrays and run the SAME band-prefix LSH
    * ([[DedupFunctions.neardupPairsByHamming64]]) — still ≤ 8·k bytes of
    * signature per clip, still one exchange, pixels never move. Clips
    * with no decodable keyframe drop loudly, undecodable individual
    * keyframes are skipped. */
  def videoPhashK(df: DataFrame, idCol: String, contentCol: String,
                  maxKeyframes: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val grids: Seq[Array[Double]] = (for {
          mp4 <- Mp4Demux.demux(bytes).toSeq
          track <- mp4.tracks.find(_.handler == "vide").toSeq
          key <- mp4.videoSamples.filter(_.sync).take(maxKeyframes)
          payload <- Mp4Demux.samplePayloadOpt(bytes, key).toSeq
          g <- if (VideoCodec.isAvc(track.codec)) {
            try graft.sources.H264Decode
              .decodeAvccSamples(track.codecConfig, Seq(payload)).headOption
              .map(f => planeLumaGrid(f.y, f.width, f.height, graft.expr.PHash64.Grid))
            catch { case _: Exception => None }
          } else ImageCodec.lumaGrid(payload, graft.expr.PHash64.Grid)
        } yield g)
        if (grids.isEmpty) None else Some((id, grids))
      })
      .toDF(idCol, "grids")
      .select(col(idCol),
        transform(col("grids"),
          g => graft.expr.NativeFunctions.phash64(g)).as("phashes"))
  }

  /** Audio-fingerprint kernel — the audio twin of [[imagePhash]]: decode
    * 16-bit PCM → 5×17 Walsh–Hadamard sequency-band energy grid
    * (mapPartitions, non-audio rows dropped) → native
    * [[graft.expr.Afp64Expr]] difference-sign hash. Output (idCol, afp:
    * long) feeds [[DedupFunctions.hamming64]] / LSH exactly like text
    * simhash and image phash — three modalities, one near-dup plane. */
  def audioPhash(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        AudioCodec.bandEnergies(bytes).map(e => (id, e))
      })
      .toDF(idCol, "band_energies")
      .select(col(idCol), graft.expr.NativeFunctions.afp64(col("band_energies")).as("afp"))
  }

  /** One signature kernel for a MIXED-modality media stream: dispatch per
    * row on a modality column ("image" | "audio" | "video") to the same
    * decode paths as [[imagePhash]]/[[audioPhash]]/[[videoPhash]] and the
    * same hash arithmetic (the PHash64/Afp64 companions the native
    * expressions evaluate through — MediaStreamSpec pins bit-equality
    * against the per-modality kernels). Stateless mapPartitions, so it
    * runs unchanged on a STREAMING DataFrame — the ingest half of
    * streaming media dedup. Returns (idCol, modality, sig); undecodable
    * rows drop. */
  def mediaSignatures(df: DataFrame, idCol: String, modalityCol: String,
                      contentCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(modalityCol), col(contentCol))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, modality, bytes) =>
        signatureOf(modality, bytes).map(s => (id, modality, s))
      })
      .toDF(idCol, "modality", "sig")
  }

  /** Per-row signature dispatch shared by [[mediaSignatures]] and the
    * streaming kernels: the same decode paths and the same hash
    * arithmetic the native expressions evaluate through. None when the
    * payload does not really decode. */
  def signatureOf(modality: String, bytes: Array[Byte]): Option[Long] =
    modality match {
      case "image" =>
        ImageCodec.lumaGrid(bytes, graft.expr.PHash64.Grid)
          .map(graft.expr.PHash64.hash)
      case "audio" =>
        AudioCodec.bandEnergies(bytes).map(graft.expr.Afp64.hash)
      case "video" =>
        for {
          mp4 <- Mp4Demux.demux(bytes)
          track <- mp4.tracks.find(_.handler == "vide")
          key <- mp4.videoSamples.find(_.sync)
          payload <- Mp4Demux.samplePayloadOpt(bytes, key)
          g <- if (VideoCodec.isAvc(track.codec)) {
            try graft.sources.H264Decode
              .decodeAvccSamples(track.codecConfig, Seq(payload)).headOption
              .map(f => planeLumaGrid(f.y, f.width, f.height, graft.expr.PHash64.Grid))
            catch { case _: Exception => None }
          } else ImageCodec.lumaGrid(payload, graft.expr.PHash64.Grid)
        } yield graft.expr.PHash64.hash(g)
      case _ => None
    }

  /** Frame-sample offsets as a Column (video frame extraction plumbing):
    * every `everyNth` byte offset, capped at `maxFrames` — codegen-built-in
    * sequence/slice, ready for `explode` into one row per frame. Caller
    * guards `nBytes > 0` (a zero-length payload has no frames). */
  def frameOffsets(nBytes: org.apache.spark.sql.Column, everyNth: Int,
                   maxFrames: Int): org.apache.spark.sql.Column =
    slice(sequence(lit(0L), (nBytes - 1).cast("long"), lit(everyNth.toLong)), 1, maxFrames)

  /** Column-level stub meta extraction — codegen-friendly plumbing for the
    * metadata columns (length/format sniff need no real codec). */
  def mediaMetaColumns(content: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val n = length(content)
    struct(
      when(substring(hex(content), 1, 4) === "FFD8", "jpeg")
        .when(substring(hex(content), 1, 4) === "8950", "png")
        .when(substring(hex(content), 1, 4) === "5249", "wav")
        .otherwise("raw").as("format"),
      (n % 640 + 1).as("width"),
      (n % 480 + 1).as("height"),
      lit(3).as("channels"),
      lit(16000).as("sample_rate"),
      n.cast("long").as("duration_ms"))
  }
}
