package graft.mm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads are opaque
  * `binary` columns with a typed metadata struct. The Spark-side shape —
  * schema, partitioning, per-batch decode boundary — is real, and so
  * are the IMAGE and AUDIO paths: [[imageKernel]] decodes PNG/JPEG via
  * javax.imageio and [[audioKernel]] decodes WAV/AIFF/AU PCM via
  * javax.sound.sampled (both JDK-only, zero-egress-safe) inside the
  * same mapPartitions boundary. VIDEO is real at two grains:
  * [[videoMetadata]] walks the public MP4/ISO-BMFF box layout in pure
  * byte arithmetic (duration, resolution, brand; no codec needed),
  * and [[aviFrames]]/[[videoFrameKernel]] decode MJPEG-in-AVI at FRAME
  * grain — the RIFF walk is byte arithmetic like the MP4 one, and each
  * MJPEG frame is a JPEG that javax.imageio decodes (JDK-only,
  * zero-egress-safe). Only frame decode of codec-compressed video
  * (H.264 in MP4) remains the clearly-marked deterministic
  * [[stubKernel]] — the JDK ships no such codec. Swapping kernels
  * changes nothing upstream or downstream.
  */
object Multimodal {

  /** Wrap a text table into the media shape: (id, media binary, meta).
    * Stands in for reading image/audio blobs; the binary column is the
    * UTF-8 payload so results stay deterministic and oracle-checkable. */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String,
                   mime: String): DataFrame =
    df.select(col(idCol).as("media_id"),
      col(payloadCol).cast("binary").as("media"),
      struct(lit(mime).as("mime"),
        length(col(payloadCol).cast("binary")).as("n_bytes")).as("meta"))

  /** First BYTE of a binary column as an int (hex of the 1-byte slice) —
    * byte-accurate where ascii(cast to string) would return the first
    * CODE POINT and mis-read any non-ASCII payload. */
  private def byteAt(bin: Column, pos: Column): Column =
    coalesce(conv(hex(bin.substr(pos, lit(1))), 16, 10).cast("int"), lit(0))

  /** Frame sampling: every `stride`-th byte position becomes one "frame"
    * row (media_id, frame_idx, frame_off, frame_val). The explode keeps
    * per-media fan-out bounded by n_bytes/stride; at scale the frames
    * inherit the parent's partitioning (narrow transform, no shuffle). */
  def sampleFrames(df: DataFrame, stride: Int): DataFrame = {
    val nFrames = (col("meta.n_bytes") / stride).cast("int")
    val offsets = when(nFrames < 1, array().cast("array<int>"))
      .otherwise(transform(sequence(lit(0), nFrames - 1), i => i * stride))
    df.select(col("media_id"),
      posexplode(offsets).as(Seq("frame_idx", "frame_off")))
  }

  /** Deterministic STUB decode kernel: byte length, first byte, and a
    * fold checksum. Stands in for a real codec (JPEG decode, audio
    * spectrogram — no codec libraries in this environment); output shape
    * (fixed-width float features) matches what a real kernel returns. */
  val stubKernel: Array[Byte] => Array[Float] = { bytes =>
    var checksum = 0L
    var i = 0
    while (i < bytes.length) { checksum = checksum * 31 + (bytes(i) & 0xff); i += 1 }
    Array(bytes.length.toFloat,
      if (bytes.nonEmpty) (bytes(0) & 0xff).toFloat else 0f,
      math.floorMod(checksum, 997L).toFloat)
  }

  /** Decoded RGB pixels of a PNG/JPEG payload via javax.imageio (on the
    * JDK — no external codec, zero-egress-safe), row-major
    * (x, y, r, g, b). Throws on undecodable bytes: a corrupt blob
    * surfaces as a loud per-row error at the decode boundary, not as
    * silent feature garbage downstream. */
  def imagePixels(bytes: Array[Byte]): IndexedSeq[(Int, Int, Int, Int, Int)] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    require(img != null,
      "imagePixels: payload is not a decodable image (PNG/JPEG/BMP/GIF)")
    for {
      y <- 0 until img.getHeight
      x <- 0 until img.getWidth
    } yield {
      val rgb = img.getRGB(x, y)
      (x, y, (rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
    }
  }

  /** REAL image decode kernel for [[decodePartitions]]: width, height,
    * and per-channel byte means from the actual decoded bitmap —
    * the production counterpart of [[stubKernel]] behind the identical
    * (media_id, features array<float>) contract. javax.imageio readers
    * are not thread-safe to share, so the kernel constructs its reader
    * per call; the partition boundary above it is where a pooled
    * native decoder would be initialized once. */
  val imageKernel: Array[Byte] => Array[Float] = { bytes =>
    val px = imagePixels(bytes)
    val w = if (px.isEmpty) 0 else px.map(_._1).max + 1
    val h = if (px.isEmpty) 0 else px.map(_._2).max + 1
    var sr = 0L; var sg = 0L; var sb = 0L
    px.foreach { case (_, _, r, g, b) => sr += r; sg += g; sb += b }
    val n = math.max(px.size, 1).toFloat
    Array(w.toFloat, h.toFloat, sr / n, sg / n, sb / n)
  }

  /** Decoded mono PCM samples (doubles in [−1, 1]) of a WAV/AIFF/AU
    * payload via javax.sound.sampled (on the JDK — no external codec,
    * zero-egress-safe, the imageio argument). The source stream is
    * converted to signed 16-bit little-endian PCM first, so 8-bit
    * unsigned and big-endian sources read identically; multi-channel
    * frames average to mono. Throws on undecodable bytes — a corrupt
    * blob surfaces loudly at the decode boundary (the [[imagePixels]]
    * discipline). Returns (sample_rate, channels, mono samples). */
  def audioSamples(bytes: Array[Byte]): (Float, Int, Array[Double]) = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val in = AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val src = in.getFormat
    val ch = src.getChannels
    val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      src.getSampleRate, 16, ch, ch * 2, src.getSampleRate, false)
    val raw = AudioSystem.getAudioInputStream(target, in).readAllBytes()
    val nFrames = raw.length / (2 * ch)
    val mono = new Array[Double](nFrames)
    var f = 0
    while (f < nFrames) {
      var s = 0.0
      var c = 0
      while (c < ch) {
        val off = (f * ch + c) * 2
        s += ((raw(off + 1) << 8) | (raw(off) & 0xff)).toShort / 32768.0
        c += 1
      }
      mono(f) = s / ch
      f += 1
    }
    (src.getSampleRate, ch, mono)
  }

  /** REAL audio decode kernel for [[decodePartitions]]: sample rate,
    * channel count, frame count, RMS level and zero-crossing count of
    * the decoded mono PCM — the audio counterpart of [[imageKernel]]
    * behind the identical (media_id, features array<float>) contract. */
  val audioKernel: Array[Byte] => Array[Float] = { bytes =>
    val (rate, ch, mono) = audioSamples(bytes)
    var sq = 0.0
    var zc = 0
    var i = 0
    while (i < mono.length) {
      sq += mono(i) * mono(i)
      if (i > 0 && (mono(i) >= 0) != (mono(i - 1) >= 0)) zc += 1
      i += 1
    }
    val rms = if (mono.isEmpty) 0.0 else math.sqrt(sq / mono.length)
    Array(rate, ch.toFloat, mono.length.toFloat, rms.toFloat, zc.toFloat)
  }

  /** MP4 / ISO-BMFF container metadata by PURE BYTE ARITHMETIC — no
    * codec needed (the box layout is public ISO 14496-12 structure):
    * walk the top-level boxes for `ftyp` (major brand) and `moov`,
    * then inside `moov` read `mvhd` (timescale + duration → seconds)
    * and the first `trak`/`tkhd` (width/height, 16.16 fixed-point).
    * Handles 64-bit largesize boxes and version-1 (64-bit time)
    * mvhd/tkhd. FRAME decode remains the documented [[stubKernel]]
    * (no codec library in this environment); container metadata is
    * what schema/partition planning actually needs (duration-weighted
    * sampling, resolution routing) and is fully real here.
    * Returns (major_brand, duration_sec, width, height); throws on
    * payloads without an ftyp/moov — corrupt blobs surface loudly at
    * the decode boundary (the [[imagePixels]] discipline). */
  def videoMetadata(bytes: Array[Byte]): (String, Double, Int, Int) = {
    def u32(o: Int): Long =
      ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
        ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
    def u64(o: Int): Long = (u32(o) << 32) | u32(o + 4)
    def fourcc(o: Int): String =
      new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    // walk boxes in [from, until): returns (type -> (payloadOff, payloadEnd))
    def boxes(from: Int, until: Int): Iterator[(String, Int, Int)] =
      new Iterator[(String, Int, Int)] {
        private var off = from
        def hasNext: Boolean = off + 8 <= until
        def next(): (String, Int, Int) = {
          val size0 = u32(off)
          val typ = fourcc(off + 4)
          val (payload, end) =
            if (size0 == 1L) (off + 16, off + u64(off + 8).toInt)
            else if (size0 == 0L) (off + 8, until)
            else (off + 8, off + size0.toInt)
          require(end > off && end <= until,
            s"videoMetadata: corrupt box '$typ' at $off")
          off = end
          (typ, payload, end)
        }
      }
    val top = boxes(0, bytes.length).toSeq
    val brand = top.collectFirst { case ("ftyp", p, _) => fourcc(p) }
      .getOrElse(throw new IllegalArgumentException(
        "videoMetadata: no ftyp box — not an MP4/ISO-BMFF payload"))
    val (moovOff, moovEnd) = top.collectFirst {
      case ("moov", p, e) => (p, e) }
      .getOrElse(throw new IllegalArgumentException(
        "videoMetadata: no moov box"))
    var durationSec = 0.0
    var width = 0
    var height = 0
    boxes(moovOff, moovEnd).foreach {
      case ("mvhd", p, _) =>
        val v = bytes(p) & 0xff
        val (timescale, duration) =
          if (v == 1) (u32(p + 20), u64(p + 24))
          else (u32(p + 12), u32(p + 16))
        if (timescale > 0) durationSec = duration.toDouble / timescale
      case ("trak", tp, te) if width == 0 =>
        boxes(tp, te).foreach {
          case ("tkhd", p, _) =>
            val v = bytes(p) & 0xff
            // width/height sit at the END of the fixed-size payload:
            // v0 = 84 bytes, v1 = 96 (three 64-bit times)
            val wOff = if (v == 1) p + 88 else p + 76
            width = (u32(wOff) >> 16).toInt
            height = (u32(wOff + 4) >> 16).toInt
          case _ => ()
        }
      case _ => ()
    }
    (brand, durationSec, width, height)
  }

  /** REAL video CONTAINER kernel for [[decodePartitions]]: duration,
    * width, height, payload bytes — the video counterpart of
    * [[imageKernel]]/[[audioKernel]] at container-metadata grain
    * behind the identical (media_id, features array<float>) contract.
    * Frame-level decode stays [[stubKernel]] (documented env cap). */
  val videoKernel: Array[Byte] => Array[Float] = { bytes =>
    val (_, dur, w, h) = videoMetadata(bytes)
    Array(dur.toFloat, w.toFloat, h.toFloat, bytes.length.toFloat)
  }

  /** The compressed video frames of an MJPEG-in-AVI payload by PURE
    * BYTE ARITHMETIC over the RIFF container (public structure —
    * little-endian chunks, the mirror image of [[videoMetadata]]'s
    * big-endian MP4 walk): validate `RIFF…AVI `, then walk chunks
    * recursing into `LIST` bodies (`movi` holds the frame data,
    * possibly grouped under `rec ` lists) and collect every `NNdb`/
    * `NNdc` data chunk — in MJPEG each is one complete JPEG image
    * that [[imagePixels]] already decodes. Chunks are word-aligned
    * (odd sizes carry a pad byte). Throws on non-RIFF payloads and
    * corrupt chunk bounds — the loud-decode-boundary discipline. */
  def aviFrames(bytes: Array[Byte]): Seq[Array[Byte]] = {
    def u32le(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def fourcc(o: Int): String =
      new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    require(bytes.length >= 12 && fourcc(0) == "RIFF" && fourcc(8) == "AVI ",
      "aviFrames: not a RIFF/AVI payload")
    val out = Seq.newBuilder[Array[Byte]]
    def walk(from: Int, until: Int, inMovi: Boolean): Unit = {
      var off = from
      while (off + 8 <= until) {
        val id = fourcc(off)
        val sz = u32le(off + 4).toInt
        val payload = off + 8
        val end = payload + sz
        require(sz >= 0 && end <= until,
          s"aviFrames: corrupt chunk '$id' at $off")
        if (id == "LIST" && sz >= 4) {
          val typ = fourcc(payload)
          walk(payload + 4, end, inMovi || typ == "movi")
        } else if (inMovi && id.take(2).forall(_.isDigit) &&
            (id.endsWith("db") || id.endsWith("dc"))) {
          out += java.util.Arrays.copyOfRange(bytes, payload, end)
        }
        off = end + (sz & 1) // chunks are word-aligned
      }
    }
    walk(12, bytes.length, inMovi = false)
    out.result()
  }

  /** REAL video FRAME kernel for [[decodePartitions]] (MJPEG-in-AVI):
    * frame count, first-frame width/height, and first-frame per-channel
    * byte means from the actually-decoded bitmap — the frame-grain
    * counterpart of the container-grain [[videoKernel]] behind the
    * identical (media_id, features array<float>) contract. */
  val videoFrameKernel: Array[Byte] => Array[Float] = { bytes =>
    val frames = aviFrames(bytes)
    require(frames.nonEmpty,
      "videoFrameKernel: AVI payload carries no 'NNdc'/'NNdb' frames")
    val first = imageKernel(frames.head)
    frames.size.toFloat +: first
  }

  /** The production decode boundary: a per-partition batch loop over
    * (media_id, media) with a pluggable kernel. Per-partition resource
    * lifecycle (codec/buffer init once per partition, not per row) lives
    * here; swapping [[stubKernel]] for a real decoder changes nothing
    * upstream or downstream — schema and partitioning are fixed. Output:
    * (media_id, features array<float>). */
  def decodePartitions(media: DataFrame,
                       kernel: Array[Byte] => Array[Float] = stubKernel): DataFrame = {
    val spark = media.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("features",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false),
        nullable = false)))
    val rdd = media.select(col("media_id").cast("long"), col("media")).rdd
      .mapPartitions { it =>
        // a real codec allocates its native buffers HERE, once per batch
        it.map { row =>
          // loud per-row validation: a null/non-numeric id or null payload
          // would otherwise surface as an opaque executor NPE
          if (row.isNullAt(0)) throw new IllegalArgumentException(
            "decodePartitions: media_id is null or not castable to long")
          val bytes = row.getAs[Array[Byte]](1)
          if (bytes == null) throw new IllegalArgumentException(
            s"decodePartitions: null media payload for id ${row.getLong(0)}")
          org.apache.spark.sql.Row(row.getLong(0), kernel(bytes).toSeq)
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Frame values: the BYTE at each sampled offset, extracted from the
    * binary payload directly (offsets come from meta.n_bytes, so the
    * index space must be bytes — a cast-to-string substr would index
    * characters and desynchronize on multi-byte payloads). Equals the
    * ascii-code reading on ASCII payloads (the oracle's text view). */
  def frameValues(media: DataFrame, stride: Int): DataFrame = {
    val frames = sampleFrames(media, stride)
    frames.join(media.select(col("media_id"), col("media")), Seq("media_id"))
      .withColumn("frame_val", byteAt(col("media"), col("frame_off") + 1))
      .drop("media")
  }
}
