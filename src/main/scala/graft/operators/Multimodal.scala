package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed per-partition in batches.
  *
  * The Spark-side architecture is real — schema, partition-parallel batch
  * iteration, typed output — while the codec step is STUBBED with a
  * deterministic fake (this container has no image/audio libraries; a real
  * deployment swaps `decodeStub` for a JNI/FFmpeg/ImageIO call without
  * touching the dataflow). The per-partition iterator shape mirrors
  * vectorized batch UDF execution: amortized setup (one codec instance per
  * partition), streaming batches, no driver involvement.
  */
object Multimodal {

  /** An opaque media blob + its routing metadata. */
  final case class MediaBlob(doc_id: Long, media_type: String, content: Array[Byte])

  /** Typed decode output (what a real image decoder would yield). */
  final case class MediaMeta(doc_id: Long, media_type: String, n_bytes: Long,
      format: String, width: Int, height: Int, channels: Int)

  /** Attach a binary content column (here: utf-8 bytes of `text` standing
    * in for real media bytes; on a real pipeline this is the raw object). */
  def attachBlob(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      lit("image/fake").as("media_type"),
      encode(col("text"), "UTF-8").as("content"))

  /** STUB decode — deterministic fake features derived from the content
    * bytes. Marked stub: a production build replaces the body of
    * `decodeOne` with the real codec; everything around it (partition
    * iteration, Encoders, schema) is the real dataflow. */
  def decodeStub(spark: SparkSession, blobs: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    blobs.as[MediaBlob].mapPartitions { batch =>
      // one "codec" per partition (amortized setup, as with a real library)
      batch.map(decodeOne)
    }
  }

  private[operators] def decodeOne(b: MediaBlob): MediaMeta = {
    // ??? <- real codec goes here; deterministic fake below keeps the
    // pipeline testable end to end. The fake fields derive from a 60-bit
    // md5 prefix of the content (the engine's portable hash family, same
    // as Sampling.hash60), so ANY engine with md5 — the DuckDB oracle
    // included — replays width/height/format exactly and the stub's
    // dataflow lands under a hash-checked gate.
    val md = java.security.MessageDigest.getInstance("MD5").digest(b.content)
    val hex = md.map(x => f"${x & 0xFF}%02x").mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    val width = 64 + (h % 1024L).toInt
    val height = 64 + ((h >> 10) % 1024L).toInt
    MediaMeta(b.doc_id, b.media_type, b.content.length.toLong,
      format = if (h % 2L == 0L) "png" else "jpeg",
      width = width, height = height, channels = 3)
  }

  /** STUB frame sampling for "video" blobs: every stride-th byte window
    * stands in for a decoded frame; the explode shape (one row per frame,
    * partition-local) is the real thing. */
  def sampleFrames(spark: SparkSession, blobs: DataFrame, stride: Int): DataFrame = {
    import spark.implicits._
    blobs.as[MediaBlob].flatMap { b =>
      b.content.grouped(stride).zipWithIndex.map { case (chunk, i) =>
        (b.doc_id, i.toLong, chunk.length.toLong)
      }
    }.toDF("doc_id", "frame_idx", "frame_bytes")
  }

  /** Blob-level metadata that needs no decode: size + content digest —
    * pure column algebra over the binary column. */
  def blobMeta(blobs: DataFrame): DataFrame =
    blobs.select(
      col("doc_id"),
      octet_length(col("content")).cast("long").as("n_bytes"),
      md5(col("content")).as("content_md5"))
}
