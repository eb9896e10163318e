package graft.mm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads are opaque
  * `binary` columns with a typed metadata struct. [[asMediaTable]]
  * gives a table that shape, and [[sampleFrames]]/[[frameValues]] cut
  * it into byte-offset "frames" read straight from the payload — a
  * narrow transform that keeps the parent's partitioning.
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
