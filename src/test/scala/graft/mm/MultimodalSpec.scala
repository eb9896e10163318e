package graft.mm

import graft.SparkSuite

class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq((1L, "abcdefgh"), (2L, "xy"), (3L, "")).toDF("id", "payload")

  /** The exceptions from `e` down its cause chain: a kernel's failure
    * reaches the driver wrapped in the job's SparkException. */
  private def chain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("asMediaTable: binary column + typed metadata") {
    val m = Multimodal.asMediaTable(docs, "id", "payload", "text/plain")
    assert(m.schema("media").dataType.typeName == "binary")
    val meta = m.select($"media_id", $"meta.mime", $"meta.n_bytes")
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(meta.toSeq == Seq((1L, "text/plain", 8), (2L, "text/plain", 2),
      (3L, "text/plain", 0)))
  }

  test("decodePartitions: mapPartitions boundary, deterministic stub kernel") {
    val m = Multimodal.asMediaTable(docs, "id", "payload", "text/plain")
    val f = Multimodal.decodePartitions(m)
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toMap
    assert(f(1L).length == 3 && f(1L)(0) == 8.0f && f(1L)(1) == 'a'.toFloat)
    assert(f(3L) == Seq(0f, 0f, 0f))
    // a custom kernel slots into the same boundary
    val g = Multimodal.decodePartitions(m, bytes => Array(bytes.length * 2.0f))
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toMap
    assert(g(1L) == Seq(16.0f) && g(2L) == Seq(4.0f))
  }

  test("imageKernel decodes the checked-in 2x2 PNG to its pixel values") {
    val png = {
      val in = getClass.getResourceAsStream("/tiny_2x2.png")
      try in.readAllBytes() finally in.close()
    }
    // fixture: row 0 = red, green; row 1 = blue, white
    assert(Multimodal.imagePixels(png).toSeq == Seq(
      (0, 0, 255, 0, 0), (1, 0, 0, 255, 0),
      (0, 1, 0, 0, 255), (1, 1, 255, 255, 255)))
    // through the production decodePartitions boundary: w, h, channel means
    val media = Seq((7L, png)).toDF("media_id", "media")
    val f = Multimodal.decodePartitions(media, Multimodal.imageKernel)
      .as[(Long, Seq[Float])].collect().toMap
    assert(f(7L) == Seq(2f, 2f, 127.5f, 127.5f, 127.5f))
    // corrupt payload fails loudly at the boundary, not as garbage
    val bad = Seq((8L, Array[Byte](1, 2, 3))).toDF("media_id", "media")
    val err = intercept[org.apache.spark.SparkException] {
      Multimodal.decodePartitions(bad, Multimodal.imageKernel).collect()
    }
    assert(chain(err).exists(t => t.isInstanceOf[IllegalArgumentException] &&
      t.getMessage == "requirement failed: imagePixels: payload is not " +
        "a decodable image (PNG/JPEG/BMP/GIF)"), err)
  }

  test("audioKernel decodes a real WAV to exact PCM features") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat,
      AudioInputStream, AudioSystem}
    // 8 kHz mono 16-bit square wave at half amplitude: ±16384 = ±0.5
    // exactly; sign flips at frames 2, 4, 6 → 3 zero crossings
    val samples = Array[Short](16384, 16384, -16384, -16384,
      16384, 16384, -16384, -16384)
    val bb = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(bb.putShort)
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(bb.array), fmt, samples.length),
      AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray

    val (rate, ch, mono) = Multimodal.audioSamples(wav)
    assert(rate == 8000f && ch == 1)
    assert(mono.toSeq == Seq(0.5, 0.5, -0.5, -0.5, 0.5, 0.5, -0.5, -0.5))

    // through the production decodePartitions boundary:
    // rate, channels, frames, RMS (= 0.5 exactly), zero crossings
    val media = Seq((9L, wav)).toDF("media_id", "media")
    val f = Multimodal.decodePartitions(media, Multimodal.audioKernel)
      .as[(Long, Seq[Float])].collect().toMap
    assert(f(9L) == Seq(8000f, 1f, 8f, 0.5f, 3f))

    // corrupt payload fails loudly at the boundary
    val bad = Seq((10L, Array[Byte](9, 9, 9))).toDF("media_id", "media")
    val err = intercept[org.apache.spark.SparkException] {
      Multimodal.decodePartitions(bad, Multimodal.audioKernel).collect()
    }
    assert(chain(err).exists(
      _.isInstanceOf[javax.sound.sampled.UnsupportedAudioFileException]), err)
  }

  test("videoMetadata: committed MP4 fixture parses brand, duration " +
    "and resolution by byte arithmetic; corrupt payloads fail loudly") {
    val mp4 = getClass.getResourceAsStream("/tiny_video.mp4")
      .readAllBytes()
    val (brand, dur, w, h) = Multimodal.videoMetadata(mp4)
    assert(brand == "isom")
    assert(dur == 2.5)           // mvhd: duration 1500 / timescale 600
    assert(w == 320 && h == 240) // tkhd 16.16 fixed-point
    // through the production decodePartitions boundary
    val media = Seq((11L, mp4)).toDF("media_id", "media")
    val f = Multimodal.decodePartitions(media, Multimodal.videoKernel)
      .as[(Long, Seq[Float])].collect().toMap
    assert(f(11L) == Seq(2.5f, 320f, 240f, mp4.length.toFloat))
    // non-MP4 payload: loud contract failure, not a silent zero row —
    // its first "box" header claims ~1.8 GB past an 11-byte payload
    val err = intercept[IllegalArgumentException] {
      Multimodal.videoMetadata("not a video".getBytes)
    }
    assert(err.getMessage ===
      "requirement failed: videoMetadata: corrupt box 'a vi' at 0")
  }

  test("videoFrameKernel: committed MJPEG-AVI fixture decodes to real " +
    "frames — count, resolution, first-frame pixel stats") {
    val avi = getClass.getResourceAsStream("/tiny_video.avi")
      .readAllBytes()
    val frames = Multimodal.aviFrames(avi)
    assert(frames.size == 3)
    // each extracted chunk is a complete JPEG (SOI marker) that the
    // image path decodes; fixture frames are solid red, green, blue
    frames.foreach { f =>
      assert((f(0) & 0xff) == 0xff && (f(1) & 0xff) == 0xd8, "not a JPEG")
    }
    val expected = MjpegAviFixture.FrameColors
    frames.zip(expected).foreach { case (f, (r, g, b)) =>
      val Array(w, h, mr, mg, mb) = Multimodal.imageKernel(f)
      assert(w == MjpegAviFixture.W && h == MjpegAviFixture.H)
      // JPEG is lossy; solid blocks survive near-exactly
      assert(math.abs(mr - r) <= 6 && math.abs(mg - g) <= 6 &&
        math.abs(mb - b) <= 6, s"($mr,$mg,$mb) vs ($r,$g,$b)")
    }
    // through the production decodePartitions boundary:
    // n_frames, first-frame w, h, channel means
    val media = Seq((12L, avi)).toDF("media_id", "media")
    val f = Multimodal.decodePartitions(media, Multimodal.videoFrameKernel)
      .as[(Long, Seq[Float])].collect().toMap
    assert(f(12L).length == 6 && f(12L).head == 3f &&
      f(12L)(1) == 8f && f(12L)(2) == 6f && f(12L)(3) >= 249f &&
      f(12L)(4) <= 6f && f(12L)(5) <= 6f)
    // non-AVI payload: loud contract failure at the boundary
    val notRiff = "requirement failed: aviFrames: not a RIFF/AVI payload"
    assert(intercept[IllegalArgumentException] {
      Multimodal.aviFrames("not a riff".getBytes)
    }.getMessage === notRiff)
    // an MP4 is not an AVI — the two kernels stay honest about routing
    val mp4 = getClass.getResourceAsStream("/tiny_video.mp4").readAllBytes()
    assert(intercept[IllegalArgumentException] {
      Multimodal.aviFrames(mp4)
    }.getMessage === notRiff)
  }

  test("frame sampling: every stride-th byte, short media empty") {
    val m = Multimodal.asMediaTable(docs, "id", "payload", "text/plain")
    val fr = Multimodal.frameValues(m, stride = 3)
      .select($"media_id", $"frame_idx", $"frame_off", $"frame_val")
      .as[(Long, Int, Int, Int)].collect().sortBy(r => (r._1, r._2))
    // media 1 "abcdefgh" (8 bytes, stride 3 -> offsets 0,3): 'a','d'
    assert(fr.filter(_._1 == 1L).toSeq ==
      Seq((1L, 0, 0, 'a'.toInt), (1L, 1, 3, 'd'.toInt)))
    // media 2 "xy" (2 bytes): 0 full strides -> no frames; media 3 empty
    assert(!fr.exists(_._1 == 2L) || fr.filter(_._1 == 2L).isEmpty)
    assert(!fr.exists(_._1 == 3L))
  }
}
