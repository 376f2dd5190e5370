package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for a training-data pipeline: image/audio/
  * video as opaque `binary` columns with typed metadata, processed by
  * per-partition batch operators.
  *
  * All three decode paths are REAL: `javax.imageio` ships PNG/JPEG/BMP/GIF
  * readers in the JDK, WAV is a plain RIFF parse, and video rides the
  * MJPEG-in-AVI path in [[Avi]] (RIFF container walk + per-frame JPEG via
  * ImageIO) — [[decode]] reads true dimensions / sample rates / frame
  * counts, and [[imageFeatures]] / [[audioFeatures]] /
  * [[videoFrameFeatures]] extract dense vectors that feed
  * [[graft.similarity.Cosine]] directly. (Non-MJPEG codecs — H.264 etc. —
  * would need a native library; a production build swaps the per-partition
  * iterator body for ffmpeg while everything around it stays.) The
  * Spark-side shape is what a production pipeline needs either way:
  *  - the schema (binary payload + metadata struct, partition-prunable kind
  *    column);
  *  - per-partition batched processing via `mapPartitions` on a typed
  *    Dataset (the JVM analogue of `mapInPandas`: one iterator per
  *    partition, amortizing per-batch codec/model setup).
  */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, content: Array[Byte])
  case class Feature(media_id: Long, kind: String, feature: Array[Float])
  case class Decoded(media_id: Long, kind: String, content: Array[Byte],
                     format: String, width: Int, height: Int,
                     sample_rate: Int, duration_ms: Long, n_frames: Int)

  // ------------------------------------------------------- real decoders

  /** Image decode via the JDK's ImageIO (PNG/JPEG/BMP/GIF readers are part
    * of the JVM — no external libraries). Returns (format, width, height)
    * or None when the payload isn't a decodable image. */
  private[multimodal] def decodeImageMeta(bytes: Array[Byte]): Option[(String, Int, Int)] = {
    if (bytes == null || bytes.isEmpty) return None
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          Some((r.getFormatName.toLowerCase, r.getWidth(0), r.getHeight(0)))
        } finally r.dispose()
      }
    } catch { case _: Throwable => None } finally iis.close()
  }

  private[multimodal] def decodeImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    catch { case _: Throwable => None }

  /** WAV metadata from the RIFF header: (sample_rate, duration_ms).
    * Canonical PCM layout: "RIFF"…"WAVE", an "fmt " chunk (channels at 22,
    * sample rate at 24, bits at 34), then chunks until "data". */
  private[multimodal] def decodeWavMeta(bytes: Array[Byte]): Option[(Int, Long)] = {
    def le32(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
      ((bytes(o + 2) & 0xff) << 16) | ((bytes(o + 3) & 0xff) << 24)
    def le16(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def tag(o: Int) = new String(bytes, o, 4, "US-ASCII")
    try {
      if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
      val channels = le16(22)
      val sampleRate = le32(24)
      val bitsPerSample = le16(34)
      // walk chunks from offset 36 to find "data"
      var o = 36
      while (o + 8 <= bytes.length) {
        val sz = le32(o + 4)
        if (tag(o) == "data") {
          val bytesPerFrame = math.max(1, channels * bitsPerSample / 8)
          val frames = sz / bytesPerFrame
          return Some((sampleRate, frames * 1000L / math.max(1, sampleRate)))
        }
        o += 8 + sz + (sz & 1)
      }
      None
    } catch { case _: Throwable => None }
  }

  /** PCM16 mono samples from a canonical WAV (first channel when stereo).
    * Malformed payloads (wrong magic, truncated header, negative or
    * non-advancing chunk sizes) yield empty — never a crash or a hang —
    * matching [[Avi]]'s adversarial-input contract. */
  private[multimodal] def wavSamples(bytes: Array[Byte]): Array[Short] = {
    def le32(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
      ((bytes(o + 2) & 0xff) << 16) | ((bytes(o + 3) & 0xff) << 24)
    def le16(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def tag(o: Int) = new String(bytes, o, 4, "US-ASCII")
    if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE")
      return Array.emptyShortArray
    val channels = math.max(1, le16(22))
    // offset walked in Long: a crafted chunk size near Int.MaxValue would
    // overflow an Int offset back into range and index out of bounds
    var o = 36L
    while (o + 8 <= bytes.length && tag(o.toInt) != "data") {
      val sz = le32(o.toInt + 4)
      if (sz < 0) return Array.emptyShortArray // adversarial chunk size
      o += 8L + sz + (sz & 1)
    }
    if (o + 8 > bytes.length) return Array.emptyShortArray
    val sz = math.max(0, math.min(le32(o.toInt + 4), bytes.length - o.toInt - 8))
    val out = new Array[Short](sz / (2 * channels))
    var i = 0
    while (i < out.length) {
      val off = o.toInt + 8 + i * 2 * channels
      out(i) = ((bytes(off) & 0xff) | (bytes(off + 1) << 8)).toShort
      i += 1
    }
    out
  }

  /** REAL decode for image (ImageIO), audio (RIFF/WAV), and video
    * (MJPEG-in-AVI, format "avi/mjpeg" — see [[Avi]]). Undecodable
    * payloads keep their row with format "error" so corrupt media is
    * filterable, not silently dropped. Codec state is initialized once per
    * partition (ImageIO cache off — avoids temp-file churn on
    * executors). */
  def decode(ds: Dataset[MediaRow]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // per-partition codec setup
      it.map { m =>
        m.kind match {
          case "image" => decodeImageMeta(m.content) match {
            case Some((fmt, w, h)) =>
              Decoded(m.media_id, m.kind, m.content, fmt, w, h, 0, 0L, 1)
            case None => Decoded(m.media_id, m.kind, m.content, "error", 0, 0, 0, 0L, 0)
          }
          case "audio" => decodeWavMeta(m.content) match {
            case Some((rate, durMs)) =>
              Decoded(m.media_id, m.kind, m.content, "wav", 0, 0, rate, durMs, 0)
            case None => Decoded(m.media_id, m.kind, m.content, "error", 0, 0, 0, 0L, 0)
          }
          case _ => // REAL video decode: MJPEG-in-AVI via the RIFF walk
            Avi.decodeMeta(m.content) match {
              case Some(meta) =>
                Decoded(m.media_id, m.kind, m.content, "avi/mjpeg",
                  meta.width, meta.height, 0, meta.durationMs, meta.nFrames)
              case None =>
                Decoded(m.media_id, m.kind, m.content, "error", 0, 0, 0, 0L, 0)
            }
        }
      }
    }.toDF()
      .select(col("media_id"), col("kind"), col("content"),
        struct(col("format"), col("width"), col("height"),
          col("sample_rate"), col("duration_ms"), col("n_frames")).as("metadata"))
  }

  /** Shared bilinear grid-luma kernel: resize to `grid`×`grid` and read
    * each cell's integer luminance (0..255). ONE implementation on
    * purpose — imageFeatures, videoFrameFeatures, and imageFingerprints
    * must stay bit-identical (the m2/m4 oracles replay this exact
    * arithmetic). */
  private[multimodal] def lumaGrid(img: java.awt.image.BufferedImage,
                                   grid: Int): Array[Int] = {
    val thumb = new java.awt.image.BufferedImage(grid, grid,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = thumb.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, grid, grid, null)
    g.dispose()
    Array.tabulate(grid * grid) { i =>
      val rgb = thumb.getRGB(i % grid, i / grid)
      (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
        (rgb & 0xff) * 114) / 1000
    }
  }

  /** REAL image features: decode, resize to a `grid`×`grid` grayscale
    * thumbnail (Graphics2D bilinear), luminance per cell centered to
    * [-0.5, 0.5] — a classic perceptual embedding whose cosine similarity
    * ranks visual near-dups. Rows that fail to decode yield a zero
    * vector. */
  def imageFeatures(ds: Dataset[MediaRow], grid: Int = 8): Dataset[Feature] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { m =>
        val vec = decodeImage(m.content) match {
          case Some(img) => lumaGrid(img, grid).map(l => (l / 255.0f) - 0.5f)
          case None => new Array[Float](grid * grid)
        }
        Feature(m.media_id, m.kind, vec)
      }
    }
  }

  /** REAL audio features: RMS energy over `dim` equal time segments of the
    * PCM16 samples, log-compressed — enough to cosine-match repeated
    * clips. Undecodable rows yield a zero vector. */
  def audioFeatures(ds: Dataset[MediaRow], dim: Int = 8): Dataset[Feature] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { m =>
        val samples = if (m.content == null) Array.emptyShortArray else wavSamples(m.content)
        val vec =
          if (samples.isEmpty) new Array[Float](dim)
          else Array.tabulate(dim) { s =>
            val from = s * samples.length / dim
            val to = math.max(from + 1, (s + 1) * samples.length / dim)
            var acc = 0.0
            var i = from
            while (i < to) { val v = samples(i) / 32768.0; acc += v * v; i += 1 }
            math.log1p(math.sqrt(acc / (to - from)) * 100).toFloat
          }
        Feature(m.media_id, m.kind, vec)
      }
    }
  }

  /** REAL video frame features: decode every `everyN`-th MJPEG frame from
    * the AVI payload and emit one perceptual grid vector per sampled frame
    * (same luminance embedding as [[imageFeatures]], so image↔video-frame
    * similarity search shares one vector space). One row in → many rows
    * out via the partition iterator — the fan-out happens executor-side,
    * never on the driver. Undecodable payloads yield no rows (the decode
    * frame carries the "error" marker). */
  case class FrameFeature(media_id: Long, frame_idx: Int, feature: Array[Float])
  def videoFrameFeatures(ds: Dataset[MediaRow], everyN: Int = 5,
                         grid: Int = 8): Dataset[FrameFeature] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { m =>
        Avi.sampledFrames(m.content, everyN).map { case (idx, img) =>
          FrameFeature(m.media_id, idx,
            lumaGrid(img, grid).map(l => (l / 255.0f) - 0.5f))
        }
      }
    }
  }

  /** Perceptual image fingerprint for DEDUP: the decoded image is resized
    * to a `grid`×`grid` grayscale thumbnail (same bilinear path as
    * [[imageFeatures]]), each cell quantized to its INTEGER luma (0..255),
    * and the cell sequence hashed to a 60-bit md5-prefix fingerprint (the
    * t23/Sharding convention, replayable by any engine from the quantized
    * grid). Quantizing before hashing is what makes this a PERCEPTUAL
    * fingerprint: re-encodes and resizes of the same image land on the
    * same grid, so they collide on purpose — fp-equality dedup then
    * removes visual duplicates the way d1 removes textual ones. Rows
    * whose payload fails to decode are DROPPED (an error row must not
    * cluster with other error rows as "duplicates").
    *
    * Scale shape: one mapPartitions decode pass, no shuffle; the output
    * is (media_id, fp) — 16 bytes/row regardless of payload size, so the
    * downstream dedup aggregate never carries image bytes. */
  case class LumaGrid(media_id: Long, lumas: Array[Int])
  def imageFingerprints(ds: Dataset[MediaRow], grid: Int = 8): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { m =>
        decodeImage(m.content).map(img => LumaGrid(m.media_id, lumaGrid(img, grid)))
      }
    }.toDF()
      .select(col("media_id"),
        graft.plans.Md5Long60Expr.md5Long60(concat_ws(",", col("lumas").cast("array<string>"))).as("fp"))
  }

  /** Perceptual AUDIO fingerprint: the [[audioFeatures]] RMS segments
    * inverted back to integer amplitude units (the m2 float→int recovery
    * — exact for the PCM16 path) and hashed like [[imageFingerprints]],
    * so re-encodes and duration changes of the same signal envelope
    * collide on purpose. Silent and undecodable rows are DROPPED (both
    * yield the zero vector, and neither should cluster as "duplicates"
    * of each other). */
  def audioFingerprints(ds: Dataset[MediaRow], dim: Int = 8): DataFrame =
    audioFeatures(ds, dim).toDF()
      .filter(exists(col("feature"), f => f =!= 0.0f))
      .select(col("media_id"),
        graft.plans.Md5Long60Expr.md5Long60(concat_ws(",",
          transform(col("feature"), f =>
            round((exp(f.cast("double")) - 1.0d) * 32768.0d / 100.0d)
              .cast("int").cast("string")))).as("fp"))

  /** Fingerprint-equality dedup decision over [[imageFingerprints]] rows:
    * the member with the smallest id represents each visual-duplicate
    * group (one combine-enabled min per fp + a broadcast-friendly join
    * back — the d1 decision shape on media). */
  def dedupByFingerprint(fps: DataFrame): DataFrame = {
    val reps = fps.groupBy(col("fp")).agg(min(col("media_id")).as("rep_id"))
    fps.join(reps, "fp")
      .select(col("media_id"), col("fp"), col("rep_id"),
        (col("media_id") =!= col("rep_id")).as("is_dup"))
  }

  /** Frame sampling plan for video rows: explode to (media_id, frame_idx)
    * every `everyN` frames — the per-frame decode is
    * [[videoFrameFeatures]]; the fan-out and partitioning are the
    * Spark-side work. */
  def frameSamplePlan(decoded: DataFrame, everyN: Int): DataFrame =
    decoded.filter(col("kind") === "video" && col("metadata.n_frames") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0), col("metadata.n_frames") - 1,
          lit(everyN))).as("frame_idx"))
}
