package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (builder prompt "Multimodal columns").
  *
  * Media assets are opaque `binary` columns with typed metadata riding
  * alongside. The Spark-side plumbing — schema, partitioning, batched
  * per-partition processing, output shape — is real and tested; the
  * actual codec work is STUBBED behind [[FakeCodec]] (no image/audio
  * libraries ship in this container): it "decodes" a deterministic fake
  * header from the first bytes. Swapping in a real decoder changes only
  * the body of [[FakeCodec.decode]].
  *
  * In PySpark this layer would be `mapInPandas` with arrow batches; the
  * Scala-native equivalent used here is typed `mapPartitions` — same
  * batch-at-a-time shape, no per-row UDF dispatch.
  */
object Multimodal {

  final case class MediaAsset(media_ref: String, media_type: String,
      content: Array[Byte])
  final case class DecodedMedia(media_ref: String, media_type: String,
      width: Int, height: Int, n_frames: Int, bytes_len: Long)

  /** STUB codec: deterministic fake. Byte layout written by
    * [[synthesizeAssets]]: [0..3] width, [4..7] height, [8..11] frames
    * (big-endian); a real decoder replaces exactly this. */
  object FakeCodec {
    def decode(content: Array[Byte]): (Int, Int, Int) = {
      def be(o: Int) =
        ((content(o) & 0xff) << 24) | ((content(o + 1) & 0xff) << 16) |
          ((content(o + 2) & 0xff) << 8) | (content(o + 3) & 0xff)
      (be(0), be(4), be(8))
    }
  }

  /** Deterministic synthetic media-asset table keyed like the interleaved
    * docs' media_refs ('m/<n>'): binary content with the fake header +
    * hash-derived payload bytes. */
  def synthesizeAssets(spark: SparkSession, refs: DataFrame): Dataset[MediaAsset] = {
    import spark.implicits._
    refs.select(col("media_ref")).distinct().as[String].map { ref =>
      val seed = ref.hashCode.toLong & 0x7fffffffL
      val width = (64 + seed % 960).toInt
      val height = (64 + (seed / 7) % 540).toInt
      val frames = (1 + seed % 30).toInt
      val header = Array(width, height, frames).flatMap { v =>
        Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
      }
      val payload = Array.tabulate(64)(i => ((seed * 31 + i * 7) % 251).toByte)
      MediaAsset(ref, if (seed % 3 == 0) "video" else "image",
        header ++ payload)
    }
  }

  /** Batched decode (stubbed codec, real plumbing): binary → typed
    * metadata, one output row per asset. */
  def decodeMeta(spark: SparkSession, assets: Dataset[MediaAsset]): Dataset[DecodedMedia] = {
    import spark.implicits._
    assets.mapPartitions(_.map { a =>
      val (w, h, f) = FakeCodec.decode(a.content)
      DecodedMedia(a.media_ref, a.media_type, w, h,
        if (a.media_type == "video") f else 1, a.content.length.toLong)
    })
  }
}
