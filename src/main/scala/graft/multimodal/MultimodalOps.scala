package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY §2.7): media payloads are opaque
  * `BinaryType` columns with typed metadata travelling beside them. The
  * Spark-side machinery — schema, batching, partition-local decode loop —
  * is real and tested. Codec dispatch is per-row on `media_type`:
  * image-typed payloads decode for REAL via the JDK's `javax.imageio`
  * ([[ImageCodec]] — JPEG/PNG/GIF/BMP, zero external dependencies,
  * falling back to the stub on undecodable bytes); every other media
  * type (audio/video need codecs this environment lacks) flows through
  * the deterministic stubs, which keep the contract shape — binary in,
  * features/frames out — without pretending to decode. */
object MultimodalOps {

  case class MediaRow(media_id: Long, bytes: Array[Byte], media_type: String)
  case class MediaFeatures(media_id: Long, n_bytes: Int, media_type: String,
      feature: Array[Float])

  /** Deterministic fake "decode + feature-extract": derives a fixed-dim
    * feature vector purely from the payload bytes. STUB — stands in for
    * image decode / resize / embed; the dataflow around it (per-partition
    * iteration, typed output schema) is the production shape. */
  def decodeStub(bytes: Array[Byte], dim: Int = 8): Array[Float] = {
    val out = new Array[Float](dim)
    var i = 0
    while (i < bytes.length) {
      out(i % dim) += (bytes(i) & 0xFF) / 255.0f
      i += 1
    }
    out
  }

  /** Deterministic fake "resize": downsample the payload to a fixed byte
    * budget by strided sampling. STUB for image resize — preserves the
    * real contract (binary in, smaller binary out, deterministic). */
  def resizeStub(bytes: Array[Byte], targetLen: Int): Array[Byte] = {
    if (bytes.length <= targetLen) bytes
    else {
      val out = new Array[Byte](targetLen)
      val stride = bytes.length.toDouble / targetLen
      var i = 0
      while (i < targetLen) { out(i) = bytes((i * stride).toInt); i += 1 }
      out
    }
  }

  /** Deterministic fake "frame sampling": split the payload into
    * `frameSize`-byte frames and keep every `every`-th — the video
    * frame-sample shape (one row in, N frame rows out). */
  def frameSampleStub(bytes: Array[Byte], frameSize: Int,
      every: Int): Seq[Array[Byte]] =
    bytes.grouped(frameSize).zipWithIndex
      .collect { case (frame, i) if i % every == 0 => frame }
      .toSeq

  case class MediaFrame(media_id: Long, frame_no: Int, frame: Array[Byte])

  /** Per-row codec dispatch — the production decision point. Image
    * payloads take the real [[ImageCodec]] decode (stub only if the
    * bytes turn out undecodable — a corrupt file must degrade, not kill
    * the job); everything else is opaque and takes the stub. */
  private[multimodal] def featureOf(bytes: Array[Byte], mediaType: String,
      dim: Int): Array[Float] =
    if (mediaType != null && mediaType.startsWith("image/"))
      ImageCodec.decode(bytes).map(ImageCodec.gridFeature(_, dim))
        .getOrElse(decodeStub(bytes, dim))
    else decodeStub(bytes, dim)

  /** Frame dispatch: a decoded image fans out to horizontal pixel bands
    * (`frameSize` rows each — `every` applies to bands, mirroring the
    * video keep-every-Nth-frame shape); opaque payloads split into raw
    * byte frames via the stub. */
  private[multimodal] def framesOf(bytes: Array[Byte], mediaType: String,
      frameSize: Int, every: Int): Seq[Array[Byte]] =
    (if (mediaType != null && mediaType.startsWith("image/"))
      ImageCodec.decode(bytes).map(ImageCodec.bandFrames(_, frameSize))
    else None) match {
      case Some(bands) =>
        bands.zipWithIndex.collect { case (b, i) if i % every == 0 => b }
      case None => frameSampleStub(bytes, frameSize, every)
    }

  /** Frame extraction as a flatMap over partitions: one media row fans
    * out to its sampled frames — the row-multiplying decode shape
    * (video → frames, audio → windows) — through the per-row codec
    * dispatch ([[framesOf]]). */
  def extractFrames(media: Dataset[MediaRow], frameSize: Int,
      every: Int): Dataset[MediaFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        framesOf(r.bytes, r.media_type, frameSize, every).zipWithIndex.map {
          case (f, i) => MediaFrame(r.media_id, i, f)
        }
      }
    }
  }

  /** Partition-local decode: mapPartitions so per-partition codec state
    * (the connection-reuse pattern of reference dags/etl.py:89-96
    * applied to codecs) initializes once per partition, never per row
    * and never on the driver. `javax.imageio` readers are per-call
    * inside [[ImageCodec]] (they are not shareable), so the partition
    * hook carries no state today — the loop shape is the contract. */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 8): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        MediaFeatures(r.media_id, r.bytes.length, r.media_type,
          featureOf(r.bytes, r.media_type, dim))
      }
    }
  }

  /** Fixture adapter: treat document text bytes as an opaque media payload
    * so the binary-column path is exercised end-to-end on driver data. */
  def documentsAsMedia(spark: SparkSession, documents: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    documents.select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("bytes"),
        lit("text/plain").as("media_type"))
      .as[MediaRow]
  }
}
