package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed in partition-local
  * batches (the Spark-side shape of a vectorized decode; the actual codec
  * call is STUBBED — no image/audio libraries ship in this environment).
  *
  * The parts that matter at 100 TB are real and tested here:
  *   - schema: (id, blob binary, meta struct)
  *   - batched iteration inside mapPartitions (bounded memory per batch,
  *     no per-row native-call overhead)
  *   - deterministic output row-for-row
  * Swap [[FakeCodec]] for a real JNI/FFI codec without touching the plan.
  */
object Multimodal {

  /** Deterministic fake decoder standing in for the real codec.
    * ??? -> replace with libjpeg/ffmpeg FFI in a real deployment.
    */
  object FakeCodec {
    /** "Decode" = derive (width, height, channels) purely from the bytes. */
    def decode(blob: Array[Byte]): (Int, Int, Int) = {
      if (blob == null || blob.isEmpty) (0, 0, 0)
      else {
        val h = blob.foldLeft(17L)((acc, b) => acc * 31 + (b & 0xff))
        (1 + math.floorMod(h, 1920L).toInt,
          1 + math.floorMod(h >> 11, 1080L).toInt, 3)
      }
    }
    /** "Feature-extract" = 8 deterministic floats from byte statistics. */
    def features(blob: Array[Byte]): Array[Float] = {
      if (blob == null || blob.isEmpty) Array.fill(8)(0f)
      else (0 until 8).map { i =>
        val slice = blob.iterator.zipWithIndex.filter(_._2 % 8 == i).map(_._1 & 0xff)
        val (sum, n) = slice.foldLeft((0L, 0)) { case ((s, c), v) => (s + v, c + 1) }
        if (n == 0) 0f else sum.toFloat / (n * 255f)
      }.toArray
    }
    /** "Frame-sample" = every k-th byte window (video frame analogue). */
    def frameSample(blob: Array[Byte], frames: Int): Seq[Array[Byte]] = {
      if (blob == null || blob.length == 0 || frames <= 0) Seq.empty
      else {
        val step = math.max(1, blob.length / frames)
        (0 until math.min(frames, blob.length)).map { f =>
          blob.slice(f * step, math.min(f * step + 16, blob.length))
        }
      }
    }
  }

  /** Build a media table from a text corpus (deterministic fixture: the
    * UTF-8 bytes play the role of an opaque payload).
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("blob"),
      struct(lit("image/fake").as("kind"),
        length(col("text")).cast("int").as("declared_len")).as("meta"))

  /** Batched decode: partition-local batching with bounded batch size —
    * the mapInPandas/Arrow batch shape, in Scala. Returns one row per
    * input row with decoded metadata + feature vector.
    */
  def decodeBatched(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val out = media
      .select(col("media_id"), col("blob"), col("meta.kind").as("kind"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // one "vectorized codec call" per batch (stubbed deterministic)
          batch.iterator.map { case (id, blob, kind) =>
            val (w, h, c) = FakeCodec.decode(blob)
            val feats = FakeCodec.features(blob)
            (id, kind, if (blob == null) 0 else blob.length, w, h, c, feats)
          }
        }
      }
      .toDF("media_id", "kind", "byte_len", "width", "height", "channels", "features")
    out
  }

  /** Frame sampling for video-like payloads: explode k deterministic
    * frames per blob, keeping lineage (media_id, frame_idx).
    */
  def sampleFrames(media: DataFrame, frames: Int = 4): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("blob")).as[(Long, Array[Byte])]
      .flatMap { case (id, blob) =>
        FakeCodec.frameSample(blob, frames).zipWithIndex.map {
          case (frame, i) => (id, i, frame, frame.length)
        }
      }
      .toDF("media_id", "frame_idx", "frame", "frame_len")
  }

  /** SQL-expressible binary feature projection (oracle-checkable flavor):
    * byte length, sha256, first-8-bytes hex. No decode stub involved.
    */
  def binaryFeatures(media: DataFrame): DataFrame =
    media.select(col("media_id"),
      length(col("blob")).as("byte_len"),
      sha2(col("blob"), 256).as("sha"),
      lower(hex(substring(col("blob"), 1, 8))).as("head_hex"))
}
