package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns for training-data pipelines: media payloads are opaque
  * `binary` columns with typed metadata; decode / feature-extract / resize /
  * frame-sample run as batched per-partition transforms (the Scala analog of
  * `mapInPandas`: one iterator pass, batch-shaped work, schema declared
  * up-front).
  *
  * The actual codec step is a STUB — image/audio libs are not in this
  * container — marked by [[stubDecode]]: a deterministic fake that derives
  * metadata from byte length. Everything around it (binary schema,
  * partitioning, batch iterator shape, typed output) is the real 100 TB
  * plumbing and is tested.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, kind: String, media: Array[Byte])
  final case class MediaMeta(
      doc_id: Long,
      kind: String,
      n_bytes: Int,
      width: Int,
      height: Int,
      duration_ms: Long
  )

  /** Build a media table from `documents`: kind by doc_id % 3, payload =
    * 4-byte magic + the text bytes (deterministic, binary-typed).
    */
  def mediaTable(spark: SparkSession, doc: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    doc.select(
        col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0, "image")
          .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
          .otherwise("video").as("kind"),
        concat(
          when(pmod(col("doc_id"), lit(3)) === 0, lit("IMG0"))
            .when(pmod(col("doc_id"), lit(3)) === 1, lit("AUD0"))
            .otherwise(lit("VID0")),
          col("text")).cast("binary").as("media"))
      .as[MediaRow]
  }

  /** STUB codec: deterministic fake metadata from byte length. A real
    * deployment swaps this one function for an actual decoder (libjpeg /
    * ffmpeg bindings) — the surrounding pipeline shape is unchanged.
    */
  def stubDecode(kind: String, media: Array[Byte]): (Int, Int, Long) = {
    val n = media.length
    val width = n % 640 + 16
    val height = n % 480 + 16
    val durationMs = if (kind == "image") 0L else n.toLong * 3L
    (width, height, durationMs)
  }

  /** Batched decode pass: one partition = one batch iterator (the
    * mapInPandas shape), emitting typed metadata.
    */
  def decodeMeta(spark: SparkSession, media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val (w, h, d) = stubDecode(r.kind, r.media)
        MediaMeta(r.doc_id, r.kind, r.media.length, w, h, d)
      }
    }
  }

  final case class ResizedMedia(
      doc_id: Long,
      kind: String,
      n_bytes: Int,
      resized_bytes: Int,
      resized: Array[Byte]
  )

  /** Output size [[resize]] aims at, in bytes. */
  val resizeTargetBytes = 64

  /** Resize pass (stub codec): deterministic every-k-th-byte downsample to
    * ~[[resizeTargetBytes]] — binary in, binary out, one batched iterator
    * per partition. A real deployment swaps the sampling loop for an image
    * scaler; schema/batching/partitioning are the production shape.
    */
  def resize(spark: SparkSession, media: Dataset[MediaRow]): Dataset[ResizedMedia] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val n = r.media.length
        val k = math.max(1, n / resizeTargetBytes)
        val out = Array.ofDim[Byte]((n + k - 1) / k)
        var i = 0
        var j = 0
        while (i < n) { out(j) = r.media(i); j += 1; i += k }
        ResizedMedia(r.doc_id, r.kind, n, out.length, out)
      }
    }
  }

  final case class MediaFeatures(
      doc_id: Long,
      kind: String,
      f_len: Int,
      f_alpha: Int,
      f_digit: Int,
      f_space: Int,
      f_bytesum: Int
  )

  /** Feature-extract pass (stub codec): cheap deterministic per-payload
    * features (length, byte-class counts, modular byte sum) standing in for
    * a real embedding model call — the batch boundary where an ONNX/JNI
    * encoder would run; one iterator pass, typed columnar output.
    */
  def featureExtract(spark: SparkSession, media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        var alpha = 0; var digit = 0; var space = 0; var sum = 0L
        var i = 0
        val n = r.media.length
        while (i < n) {
          val b = r.media(i) & 0xff
          if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) alpha += 1
          else if (b >= '0' && b <= '9') digit += 1
          else if (b == ' ') space += 1
          sum += b
          i += 1
        }
        MediaFeatures(r.doc_id, r.kind, n, alpha, digit, space, (sum % 1000003L).toInt)
      }
    }
  }

  /** Frames [[frameSample]] cuts each payload into, at most. */
  val sampledFrames = 4

  /** Frame-sample stub: split the payload into up to [[sampledFrames]]
    * fixed-stride chunks (the partition/batch plumbing of video frame
    * sampling; the decode of each frame is the same stub boundary).
    */
  def frameSample(spark: SparkSession, media: Dataset[MediaRow]): DataFrame = {
    import spark.implicits._
    media
      .flatMap { r =>
        val stride = math.max(1, r.media.length / sampledFrames)
        (0 until math.min(sampledFrames, r.media.length)).map { i =>
          val from = i * stride
          val until = math.min(r.media.length, from + stride)
          if (from < r.media.length)
            Some((r.doc_id, i, java.util.Arrays.copyOfRange(r.media, from, until)))
          else None
        }.flatten
      }
      .toDF("doc_id", "frame_idx", "frame")
  }

  /** EXACT media dedup — the binary-column twin of
    * [[graft.operators.Dedup.exact]], and the one dedup a multimodal
    * corpus can run WITHOUT a codec (identical payload bytes are
    * duplicates whatever they decode to — re-crawled images, re-uploaded
    * clips). The md5 digest is computed MAP-SIDE over the binary column,
    * so the one hash shuffle carries 32-hex digests and counts, never the
    * media bytes — the only shape that survives 100 TB of blobs. Keeper =
    * min doc_id per (kind, digest).
    */
  def mediaDedup(media: Dataset[MediaRow]): DataFrame =
    media.toDF()
      .groupBy(col("kind"), md5(col("media")).as("h"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
}
