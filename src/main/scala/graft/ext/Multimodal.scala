package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus decode / feature-extract
  * / frame-sample plumbing.
  *
  * The actual media decode is STUBBED (this container has no image or
  * audio libraries): [[FakeCodec]] is a deterministic stand-in keyed on
  * the payload bytes, clearly marked. Everything AROUND the decode —
  * schema, batch shape, partitioning, the per-partition execution model
  * a real codec plugs into — is real and tested.
  *
  * Scale design: decode runs per-partition ([[decodeBatches]] via
  * `mapPartitions`) so a real codec amortizes model/library init once
  * per task, not once per row — the Scala analogue of Arrow-batched
  * pandas UDFs. Payload columns stay opaque binary through shuffles;
  * only extracted features (small, typed) flow into joins/aggregates.
  */
object Multimodal {

  /** A media row: opaque payload + source metadata. */
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

  /** Decoded metadata a real image/audio codec would return. */
  case class MediaMeta(media_id: Long, kind: String, byte_len: Long,
                       width: Int, height: Int, n_frames: Int, checksum: String)

  /** STUB CODEC — deterministic fake decode keyed on payload bytes.
    * A real deployment replaces this object with JNI/javacv bindings;
    * the Spark-side plumbing does not change.
    */
  object FakeCodec {
    def decode(payload: Array[Byte], kind: String): (Int, Int, Int) = {
      val n = payload.length
      val w = 64 + (n % 193)          // fake width
      val h = 64 + ((n * 31) % 131)   // fake height
      val frames = if (kind == "video") 1 + n % 7 else 1
      (w, h, frames)
    }
  }

  /** Wrap any table into the media schema: payload = UTF-8 bytes of a
    * text column (the testdata has no true binary payloads; this keeps
    * the plumbing honest — payload is real `BinaryType`).
    */
  def asMedia(df: DataFrame, idCol: String, textCol: String,
              kind: String = "image"): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(kind).as("kind"),
      encode(col(textCol), "UTF-8").as("payload"))

  /** Batched decode via mapPartitions: one codec init per partition,
    * rows streamed through it. This is where a real codec goes.
    */
  def decodeBatches(media: DataFrame): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "payload").as[MediaRow]
      .mapPartitions { rows =>
        // init ONCE per partition (the point of mapPartitions); digest()
        // resets the instance after each call, so reuse is safe
        val md5 = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          val (w, h, f) = FakeCodec.decode(r.payload, r.kind)
          MediaMeta(r.media_id, r.kind, r.payload.length.toLong, w, h, f,
            md5.digest(r.payload).map("%02x".format(_)).mkString)
        }
      }
  }

  /** Cheap SQL-only feature path: the first `dim` md5 bytes of the
    * payload as doubles in [0,1) — one narrow codegen'd projection, no
    * mapPartitions. The form an engine uses when features are
    * hash-derived rather than model-derived.
    */
  def sqlFeatures(payload: org.apache.spark.sql.Column, dim: Int): org.apache.spark.sql.Column = {
    require(dim >= 1 && dim <= 16)
    array((0 until dim).map { j =>
      conv(substring(md5(payload), 2 * j + 1, 2), 16, 10).cast("double") / 256.0
    }: _*)
  }

  /** Frame sampling plumbing: split a binary payload into fixed-size
    * chunks ("frames"), keeping every `stride`-th — the partition/
    * explode shape of real video frame extraction, on opaque bytes.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int): DataFrame =
    media
      .withColumn("n_frames_total",
        ceil(octet_length(col("payload")).cast("double") / frameBytes).cast("int"))
      .withColumn("frame_idx",
        explode(filter(
          sequence(lit(0), greatest(col("n_frames_total") - 1, lit(0))),
          i => i % stride === 0)))
      .withColumn("frame",
        substring(col("payload"), col("frame_idx") * frameBytes + 1, lit(frameBytes)))
      .select("media_id", "kind", "frame_idx", "frame")
}
