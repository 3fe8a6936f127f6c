package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns with
  * typed metadata. The Spark-side structure — schema, size-aware partitioning,
  * batched per-partition processing — is real and tested. Codecs: the image
  * lane decodes for REAL via `javax.imageio` (JPEG/PNG + TIFF) and the audio
  * lane via `javax.sound.sampled` (WAV/AIFF/AU) — both JDK-only; the video
  * lane is STUBBED with a deterministic fake (the JDK ships no video codec),
  * clearly marked below. Swap `decodeStub` for a real demuxer (JNI or
  * Pandas-UDF `mapInPandas` on a Python cluster) without touching the plan.
  */
object Multimodal {

  final case class MediaRow(media_id: Long, kind: String, media: Array[Byte],
      width: Int, height: Int, duration_ms: Long)
  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
      features: Array[Float])

  /** Deterministic fake "decode + feature-extract": 8 floats from a rolling hash
    * of the bytes. === STUB === replace with a real codec; the signature (bytes →
    * fixed-length feature vector) and the batching around it are the contract. */
  def decodeStub(bytes: Array[Byte], dims: Int = 8): Array[Float] = {
    val out = new Array[Float](dims)
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) {
      h = 31 * h + bytes(i)
      out(i % dims) += ((h >>> 32).toInt % 1000) / 1000.0f
      i += 1
    }
    out
  }

  // ── real image lane (JDK javax.imageio — no external dependency) ──────────

  final case class ImageInfo(width: Int, height: Int, channels: Int, mean: Array[Double])

  /** Real JPEG/PNG decode: dimensions, channel count, and per-channel means
    * sampled over a bounded ≤64×64 tap grid (so a huge image costs the same
    * as a thumbnail). Returns None for undecodable bytes — callers fall back
    * to the stub lane. */
  def decodeImage(bytes: Array[Byte]): Option[ImageInfo] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        var sr, sg, sb = 0.0
        var n = 0
        val stepX = math.max(1, w / 64)
        val stepY = math.max(1, h / 64)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
            n += 1
            x += stepX
          }
          y += stepY
        }
        Some(ImageInfo(w, h, img.getColorModel.getNumComponents,
          Array(sr / n / 255.0, sg / n / 255.0, sb / n / 255.0)))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Deterministic w×h JPEG (smooth gradient keyed by `seed`) — the synthetic
    * corpus generator for the real image lane. */
  def encodeTestJpeg(w: Int, h: Int, seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((x * 255 / math.max(1, w - 1)) + seed) % 256
        val g = ((y * 255 / math.max(1, h - 1)) + seed * 7) % 256
        val b = (seed * 31) % 256
        img.setRGB(x, y, ((r.toInt & 0xff) << 16) | ((g.toInt & 0xff) << 8) | (b.toInt & 0xff))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  // ── real audio lane (javax.sound.sampled — the JDK ships a WAV codec) ─────

  final case class AudioInfo(sampleRate: Int, channels: Int, frames: Long,
      meanAbsX1000: Int)

  /** Real WAV/AIFF/AU decode: format header + frame count through the JDK's
    * audio file reader; the sample stream is converted to PCM16 signed
    * little-endian (the JDK converts 8-bit / big-endian / µ-law / a-law PCM
    * variants), and mean absolute amplitude (×1000) is taken over a bounded
    * ≤4096-frame tap grid with `skip` between taps, so cost is proportional
    * to the taps, not the clip length. None for undecodable bytes (callers
    * fall back to the stub lane). */
  def decodeAudio(bytes: Array[Byte]): Option[AudioInfo] =
    try {
      val raw = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = raw.getFormat
        val frames = raw.getFrameLength
        val pcmFmt = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          fmt.getSampleRate, 16, fmt.getChannels, fmt.getChannels * 2,
          fmt.getSampleRate, false)
        val in =
          if (fmt.matches(pcmFmt)) raw
          else javax.sound.sampled.AudioSystem.getAudioInputStream(pcmFmt, raw)
        val frameSize = math.max(1, in.getFormat.getFrameSize)
        // getFrameLength may be -1 (unknown, e.g. a converted/streamed
        // format): fall back to tapping every frame until stream end — the
        // clip is in-memory already, so the cost is bounded by bytes.length
        val step = if (frames > 0) math.max(1L, frames / 4096) else 1L
        var sum = 0L
        var n = 0L
        val buf = new Array[Byte](frameSize)
        var idx = 0L
        var eof = false
        // read() may return short counts mid-frame — accumulate a full frame
        // before declaring EOF
        def readFrame(): Boolean = {
          var off = 0
          while (off < frameSize) {
            val r = in.read(buf, off, frameSize - off)
            if (r < 0) return false
            off += r
          }
          true
        }
        while (!eof && (frames < 0 || idx < frames)) {
          if (!readFrame()) eof = true
          else {
            // first channel's 16-bit little-endian sample
            val s = ((buf(1) << 8) | (buf(0) & 0xff)).toShort
            sum += math.abs(s.toInt)
            n += 1
            // bounded tap grid: skip to the next sampled frame
            var toSkip = (step - 1) * frameSize
            while (toSkip > 0 && !eof) {
              val skipped = in.skip(toSkip)
              if (skipped <= 0) eof = true else toSkip -= skipped
            }
            idx += step
          }
        }
        // unknown header length: report the frames actually decoded (the
        // fallback taps every frame, so n IS the frame count)
        Some(AudioInfo(fmt.getSampleRate.toInt, fmt.getChannels,
          if (frames >= 0) frames else n,
          if (n == 0) 0 else (sum * 1000 / (n * 32768)).toInt))
      } finally raw.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Deterministic PCM16 mono WAV (sine keyed by `seed`) — the synthetic
    * corpus generator for the real audio lane. */
  def encodeTestWav(frames: Int, sampleRate: Int, seed: Long): Array[Byte] = {
    val dataSize = frames * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    val freq = 100.0 + (seed % 17) * 50.0
    var i = 0
    while (i < frames) {
      val v = (math.sin(2 * math.Pi * freq * i / sampleRate) * 12000).toInt
      buf.putShort(v.toShort)
      i += 1
    }
    buf.array()
  }

  /** Media table → feature table. Structure for scale:
    *  - repartitionByRange on byte size so one task never gets all the 4K videos
    *    while another gets thumbnails (size skew is the dominant skew axis for
    *    media corpora);
    *  - mapPartitions processes rows in order, amortizing any per-batch decoder
    *    init (a real codec holds native context per partition, not per row).
    */
  def extractFeatures(ds: Dataset[MediaRow], dims: Int = 8): Dataset[MediaFeatures] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.withColumn("__sz", length(col("media")))
      .repartitionByRange(col("__sz"), col("media_id"))
      .drop("__sz")
      .as[MediaRow]
      .mapPartitions { it =>
        // per-partition decoder init would go here (native context, model load)
        it.map { r =>
          // image rows decode for real (javax.imageio), audio rows for real
          // (javax.sound.sampled WAV); video and undecodable bytes fall back
          // to the disclosed stub
          def pack(real: Array[Double]): Array[Float] = {
            val out = new Array[Float](dims)
            var i = 0
            while (i < math.min(dims, real.length)) { out(i) = real(i).toFloat; i += 1 }
            out
          }
          val feats = r.kind match {
            case "image" => decodeImage(r.media) match {
              case Some(info) =>
                pack(Array[Double](info.width, info.height, info.channels) ++ info.mean)
              case None => decodeStub(r.media, dims)
            }
            case "audio" => decodeAudio(r.media) match {
              case Some(info) =>
                pack(Array[Double](info.sampleRate, info.channels,
                  info.frames.toDouble, info.meanAbsX1000))
              case None => decodeStub(r.media, dims)
            }
            case _ => decodeStub(r.media, dims)
          }
          MediaFeatures(r.media_id, r.kind, r.media.length.toLong, feats)
        }
      }
  }

  /** Deterministic synthetic media table (documents' text bytes as stand-in
    * payloads) — exercises binary-column IO, partitioning, and batch shape. */
  def syntheticMedia(spark: SparkSession, documentsPath: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(documentsPath)
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("media"),
        (pmod(col("doc_id"), lit(64)) * 16 + 16).cast("int").as("width"),
        (pmod(col("doc_id"), lit(48)) * 16 + 16).cast("int").as("height"),
        (pmod(col("doc_id"), lit(1000)) * 40).as("duration_ms"))
      .as[MediaRow]
  }

  /** Synthetic media with REAL image and audio lanes: image rows carry an
    * actual JPEG of the advertised (width, height), audio rows an actual
    * PCM16 WAV with media_id-derived frame count; video keeps the
    * byte-payload stub (the JDK ships no video codec). */
  def syntheticMediaReal(spark: SparkSession, documentsPath: String): Dataset[MediaRow] = {
    import spark.implicits._
    syntheticMedia(spark, documentsPath).map { r =>
      r.kind match {
        case "image" => r.copy(media = encodeTestJpeg(r.width, r.height, r.media_id))
        case "audio" => r.copy(media =
          encodeTestWav(((r.media_id % 200) + 50).toInt * 8, 8000, r.media_id))
        case _ => r
      }
    }
  }
}
