package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private def media = {
    val sp = spark; import sp.implicits._
    Seq(
      Multimodal.MediaRow(1L, "image", "fake-jpeg-bytes".getBytes),
      Multimodal.MediaRow(2L, "video", "fake-mp4-bytes-longer-payload".getBytes),
      Multimodal.MediaRow(3L, "audio", "fake-wav".getBytes)).toDS()
  }

  // ---- real-codec coverage: payloads below are genuine PNG/JPEG/BMP/WAV
  //      bytes generated in-test (ImageIO writers and a hand-built RIFF)

  private def pngOf(w: Int, h: Int, seed: Int, fmt: String = "png"): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 37 + y * 91 + seed) * 2654435761L).toInt & 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  private def wavOf(sampleRate: Int, nSamples: Int, freq: Double): Array[Byte] = {
    val data = new Array[Byte](nSamples * 2)
    for (i <- 0 until nSamples) {
      val v = (math.sin(2 * math.Pi * freq * i / sampleRate) * 12000).toInt
      data(i * 2) = (v & 0xff).toByte; data(i * 2 + 1) = ((v >> 8) & 0xff).toByte
    }
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(bos)
    def le32(v: Int) = { d.write(v & 0xff); d.write((v >> 8) & 0xff); d.write((v >> 16) & 0xff); d.write((v >> 24) & 0xff) }
    def le16(v: Int) = { d.write(v & 0xff); d.write((v >> 8) & 0xff) }
    d.writeBytes("RIFF"); le32(36 + data.length); d.writeBytes("WAVE")
    d.writeBytes("fmt "); le32(16); le16(1); le16(1); le32(sampleRate)
    le32(sampleRate * 2); le16(2); le16(16)
    d.writeBytes("data"); le32(data.length); d.write(data)
    bos.toByteArray
  }

  test("real decode reads true image dimensions and wav duration") {
    val sp = spark; import sp.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", pngOf(64, 48, 7)),
      Multimodal.MediaRow(2L, "image", pngOf(32, 32, 1, "jpg")),
      Multimodal.MediaRow(3L, "image", pngOf(16, 8, 2, "bmp")),
      Multimodal.MediaRow(4L, "image", "not an image".getBytes),
      Multimodal.MediaRow(5L, "audio", wavOf(16000, 8000, 440.0)), // 0.5 s
      Multimodal.MediaRow(6L, "audio", "not audio".getBytes),
      Multimodal.MediaRow(7L, "video", "opaque".getBytes)).toDS()
    val out = Multimodal.decode(rows).select("media_id", "metadata.*")
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(out(1L).getAs[String]("format") == "png")
    assert(out(1L).getAs[Int]("width") == 64 && out(1L).getAs[Int]("height") == 48)
    assert(Set("jpeg", "jpg").contains(out(2L).getAs[String]("format")))
    assert(out(3L).getAs[String]("format") == "bmp" && out(3L).getAs[Int]("width") == 16)
    assert(out(4L).getAs[String]("format") == "error")
    assert(out(5L).getAs[String]("format") == "wav")
    assert(out(5L).getAs[Int]("sample_rate") == 16000)
    assert(out(5L).getAs[Long]("duration_ms") == 500L)
    assert(out(6L).getAs[String]("format") == "error")
    assert(out(7L).getAs[String]("format") == "error") // not an AVI → flagged, not dropped
  }

  // ---- video: genuine MJPEG AVI bytes built by the encoder in Avi

  private def frameOf(w: Int, h: Int, seed: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 37 + y * 91 + seed) * 2654435761L).toInt & 0xffffff)
    img
  }

  test("video decode reads true AVI dimensions, frame count, duration") {
    val sp = spark; import sp.implicits._
    val avi = Avi.encodeMjpeg((0 until 12).map(i => frameOf(48, 32, i * 11)), fps = 6)
    val rows = Seq(Multimodal.MediaRow(1L, "video", avi)).toDS()
    val m = Multimodal.decode(rows).select("metadata.*").collect().head
    assert(m.getAs[String]("format") == "avi/mjpeg")
    assert(m.getAs[Int]("width") == 48 && m.getAs[Int]("height") == 32)
    assert(m.getAs[Int]("n_frames") == 12)
    assert(m.getAs[Long]("duration_ms") == 12 * (1000000 / 6) / 1000L) // 2 s
  }

  test("video frame features: sampled frames decode and match a re-encode") {
    val sp = spark; import sp.implicits._
    val frames = (0 until 10).map(i => frameOf(64, 48, i * 7))
    val rows = Seq(
      Multimodal.MediaRow(1L, "video", Avi.encodeMjpeg(frames, fps = 5)),
      Multimodal.MediaRow(2L, "video", Avi.encodeMjpeg(frames, fps = 10)), // same frames, new encode
      Multimodal.MediaRow(3L, "video", Avi.encodeMjpeg(
        (0 until 10).map(i => frameOf(64, 48, 5000 + i * 13)), fps = 5))).toDS()
    val feats = Multimodal.videoFrameFeatures(rows, everyN = 3, grid = 8).toDF()
    // every 3rd of 10 frames → indices 0,3,6,9
    assert(feats.filter(col("media_id") === 1).count() == 4)
    assert(feats.select(size(col("feature"))).collect().forall(_.getInt(0) == 64))
    // frame-0 vectors: re-encoded identical frame ≈ 1.0, different content lower
    val f0 = feats.filter(col("frame_idx") === 0)
      .select(col("media_id").as("doc_id"), col("feature"))
    val knn = graft.similarity.Cosine.topK(
      f0.filter(col("doc_id") === 1).withColumnRenamed("doc_id", "media_id"),
      f0.withColumnRenamed("doc_id", "media_id"), "media_id", "feature", k = 2)
      .collect().map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("sim")).toMap
    assert(knn(2L) > 0.99, s"re-encoded identical frame should match: $knn")
    assert(knn(2L) > knn(3L), s"distinct video ranked above identical: $knn")
    // corrupt payloads emit no frame rows rather than failing the job
    val bad = Seq(Multimodal.MediaRow(9L, "video", "junk".getBytes)).toDS()
    assert(Multimodal.videoFrameFeatures(bad, everyN = 1).count() == 0)
  }

  test("avi codec round-trips across random dimensions, fps, frame counts") {
    val next = seededInts(42L)
    (1 to 12).foreach { _ =>
      val w = 8 + next(120); val h = 8 + next(90)
      val fps = 1 + next(60); val n = 1 + next(9)
      val frames = (0 until n).map(i => frameOf(w, h, i * 31 + next(1000)))
      val avi = Avi.encodeMjpeg(frames, fps)
      val meta = Avi.decodeMeta(avi)
      assert(meta.contains(Avi.AviMeta(w, h, 1000000 / fps, n)),
        s"meta mismatch for w=$w h=$h fps=$fps n=$n: $meta")
      val payloads = Avi.framePayloads(avi)
      assert(payloads.length == n)
      payloads.foreach { p =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
        assert(img != null && img.getWidth == w && img.getHeight == h)
      }
    }
  }

  test("adversarial RIFF with a negative chunk size terminates, not hangs") {
    // 'RIFF' <size> 'AVI ' + one chunk whose size dword is -8: a naive
    // walker advances by 8 + (-8) + 0 = 0 bytes forever
    val bos = new java.io.ByteArrayOutputStream()
    bos.write("RIFF".getBytes); bos.write(Array[Byte](100, 0, 0, 0))
    bos.write("AVI ".getBytes)
    bos.write("junk".getBytes); bos.write(Array[Byte](-8, -1, -1, -1)) // sz = -8
    bos.write(new Array[Byte](64))
    val evil = bos.toByteArray
    assert(Avi.decodeMeta(evil).isEmpty)
    assert(Avi.framePayloads(evil).isEmpty)
  }

  test("error-decoded videos emit no sampled frames") {
    val sp = spark; import sp.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, "video",
        Avi.encodeMjpeg(Seq(frameOf(16, 16, 1)), fps = 2)),
      Multimodal.MediaRow(2L, "video", "not an avi".getBytes)).toDS()
    val frames = Multimodal.frameSamplePlan(Multimodal.decode(rows), everyN = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(frames.toSeq == Seq((1L, 0))) // no phantom frame_idx=0 for media 2
  }

  test("image features: same pixels across codecs cosine-match, distinct don't") {
    val sp = spark; import sp.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", pngOf(64, 48, 7)),
      Multimodal.MediaRow(2L, "image", pngOf(64, 48, 7, "bmp")), // same pixels, other codec
      Multimodal.MediaRow(3L, "image", pngOf(64, 48, 999))).toDS()
    val feats = Multimodal.imageFeatures(rows, grid = 8).toDF()
    assert(feats.select(size(col("feature"))).collect().forall(_.getInt(0) == 64))
    val knn = graft.similarity.Cosine.topK(
      feats.filter(col("media_id") === 1), feats, "media_id", "feature", k = 2)
      .collect().map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("sim")).toMap
    assert(knn(2L) > 0.999, s"same-pixel pair should match: $knn") // lossless pair
    assert(knn(2L) > knn(3L), s"distinct image ranked above identical: $knn")
  }

  test("audio features: repeated clip matches itself over a different tone") {
    val sp = spark; import sp.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, "audio", wavOf(16000, 8000, 440.0)),
      Multimodal.MediaRow(2L, "audio", wavOf(16000, 8000, 440.0)),
      Multimodal.MediaRow(3L, "audio", wavOf(16000, 4000, 440.0))).toDS() // half duration
    val feats = Multimodal.audioFeatures(rows, dim = 8).toDF()
    val knn = graft.similarity.Cosine.topK(
      feats.filter(col("media_id") === 1), feats, "media_id", "feature", k = 2)
      .collect().map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("sim")).toMap
    assert(knn(2L) > 0.999)
  }

  test("frame sample plan explodes videos only, stepped by everyN") {
    val sp = spark; import sp.implicits._
    val rows = media.collect().toSeq :+ Multimodal.MediaRow(4L, "video",
      Avi.encodeMjpeg((0 until 25).map(i => frameOf(16, 16, i)), fps = 5))
    val decoded = Multimodal.decode(rows.toDS())
    val frames = Multimodal.frameSamplePlan(decoded, everyN = 10)
    val kinds = frames.join(decoded.select("media_id", "kind"), "media_id")
      .select("kind").distinct().collect().map(_.getString(0))
    assert(kinds.toSeq == Seq("video"))
    assert(frames.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq ==
      Seq((4L, 0), (4L, 10), (4L, 20)))
  }

  test("perceptual fingerprint: resize-invariant, color-separating, drops undecodables") {
    val sp = spark; import sp.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", MediaSynth.flatPng(16, 8, 0x336699)),
      Multimodal.MediaRow(2L, "image", MediaSynth.flatPng(40, 30, 0x336699)), // same color, resized
      Multimodal.MediaRow(3L, "image", MediaSynth.flatPng(16, 8, 0x993366)), // different color
      Multimodal.MediaRow(4L, "image", "not-an-image".getBytes)).toDS()
    val fps = Multimodal.imageFingerprints(rows)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps.keySet == Set(1L, 2L, 3L), s"undecodable row not dropped: $fps")
    assert(fps(1L) == fps(2L), "resize changed the perceptual fingerprint")
    assert(fps(1L) != fps(3L), "different colors collided")
  }

  test("adversarial WAV with a near-Int.MaxValue chunk size yields empty, not a crash") {
    // RIFF/WAVE magic valid, first chunk size 0x7FFFFFF0: 8 + sz used to
    // overflow an Int offset back into range and index out of bounds
    val b = new Array[Byte](44)
    System.arraycopy("RIFF".getBytes("US-ASCII"), 0, b, 0, 4)
    System.arraycopy("WAVE".getBytes("US-ASCII"), 0, b, 8, 4)
    System.arraycopy("junk".getBytes("US-ASCII"), 0, b, 36, 4)
    b(40) = 0xF0.toByte; b(41) = 0xFF.toByte; b(42) = 0xFF.toByte; b(43) = 0x7F.toByte
    assert(Multimodal.wavSamples(b).isEmpty)
    // and a negative chunk size
    b(43) = 0xFF.toByte
    assert(Multimodal.wavSamples(b).isEmpty)
  }

  test("audio fingerprint: envelope-invariant, amplitude-separating, drops silence") {
    val sp = spark; import sp.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, "audio", MediaSynth.constWav(8000, 500, 2000)),
      Multimodal.MediaRow(2L, "audio", MediaSynth.constWav(16000, 900, 2000)), // same amp, other rate/len
      Multimodal.MediaRow(3L, "audio", MediaSynth.constWav(8000, 500, 3000)), // different amp
      Multimodal.MediaRow(4L, "audio", MediaSynth.constWav(8000, 500, 0)),    // silence
      Multimodal.MediaRow(5L, "audio", "not-a-wav".getBytes)).toDS()
    val fps = Multimodal.audioFingerprints(rows)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps.keySet == Set(1L, 2L, 3L), s"silence/undecodable not dropped: $fps")
    assert(fps(1L) == fps(2L), "same envelope at another rate/duration changed the fp")
    assert(fps(1L) != fps(3L), "different amplitudes collided")
  }

  test("fingerprint dedup keeps the min-id representative per visual group") {
    val sp = spark; import sp.implicits._
    val rows = Seq(
      Multimodal.MediaRow(5L, "image", MediaSynth.flatPng(12, 12, 0x102030)),
      Multimodal.MediaRow(7L, "image", MediaSynth.flatPng(24, 6, 0x102030)),
      Multimodal.MediaRow(9L, "image", MediaSynth.flatPng(12, 12, 0xffffff))).toDS()
    val out = Multimodal.dedupByFingerprint(Multimodal.imageFingerprints(rows))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    val byId = out.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(5L) == ((5L, false)))
    assert(byId(7L) == ((5L, true)), s"resized copy not deduped to rep 5: $byId")
    assert(byId(9L) == ((9L, false)))
  }
}
