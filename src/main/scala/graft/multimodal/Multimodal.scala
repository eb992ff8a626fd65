package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column handling for the training-data pipeline: media as
  * opaque `binary` columns with typed metadata, plus decode /
  * feature-extract / frame-sample stages.
  *
  * The Spark-side plumbing (schema, batching, partition shape, column
  * contracts) is real; the codec itself is STUBBED with a deterministic
  * content-hash feature extractor because no image/audio libraries ship
  * in this environment — swap [[featureVector]]'s body for a real
  * decoder (JNI/FFI or Pandas-UDF-style batch call) and every
  * downstream stage (similarity search, near-dup, ANN) is unchanged,
  * since they only see the `Array[Float]` feature column.
  */
object Multimodal {

  /** media(doc_id, kind, bytes, meta) — the storage contract: payload
    * opaque, metadata queryable. */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      lit("text").as("kind"),
      col("text").cast("binary").as("bytes"),
      map(
        lit("lang"), col("lang"),
        lit("source"), col("source"),
        lit("n_chars"), col("n_chars").cast("string")).as("meta"))

  /** STUB decode→feature: `dim` floats in [0,1) derived from a 60-bit
    * content hash per (byte-payload, index) — deterministic, portable,
    * and shaped exactly like a real embedding head (dense float vector
    * per row, computed batch-wise inside the scan projection, no
    * shuffle). */
  def featureVector(bytes: Column, dim: Int): Column = {
    val fs = (0 until dim).map { i =>
      (conv(substring(md5(concat(lit(s"$i|"), bytes.cast("string"))), 1, 15), 16, 10)
        .cast("double") / lit(1.152921504606847e18)).cast("float")
    }
    array(fs: _*)
  }

  /** Feature extraction stage: media → (doc_id, embedding, meta). */
  def extractFeatures(media: DataFrame, dim: Int = 4): DataFrame =
    media.select(
      col("doc_id"),
      featureVector(col("bytes"), dim).as("embedding"),
      col("meta"))

  /** The batched-decoder contract: a vectorized decode call receives a
    * whole batch of payloads and returns one feature vector per input,
    * in order. Real codecs (and ML feature extractors) amortize model
    * and codec setup per BATCH, not per row — this is the JVM analogue
    * of the `mapInPandas` batch shape. */
  trait BatchDecoder extends Serializable {
    def decode(payloads: Seq[Array[Byte]]): Seq[Array[Float]]
  }

  /** Batched feature extraction over partitions: each task drains its
    * partition in fixed-size batches through the decoder — bounded
    * memory per task (batchSize × payload), one decoder instance per
    * task (the setup-amortization point), no shuffle. Output schema is
    * identical to [[extractFeatures]]. */
  def extractFeaturesBatched(media: DataFrame, decoder: BatchDecoder,
      batchSize: Int = 64): DataFrame = {
    import media.sparkSession.implicits._
    val rows = media.select(col("doc_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val feats = decoder.decode(batch.map(_._2))
          require(feats.size == batch.size,
            s"decoder returned ${feats.size} results for ${batch.size} inputs")
          batch.map(_._1).zip(feats)
        }
      }
      .toDF("doc_id", "embedding")
    rows.join(media.select(col("doc_id"), col("meta")), "doc_id")
  }

  /** Resize stage for spatial media: bounds the payload at the target
    * size and rewrites the size metadata in the same projection. The
    * STUB transform is a prefix slice (a real implementation decodes,
    * scales, re-encodes — the column contract is identical: binary in,
    * binary out, metadata updated alongside). Pure scan-side substring/
    * map ops: no shuffle, codegen-friendly, O(payload). */
  def resize(media: DataFrame, targetBytes: Int): DataFrame =
    media
      .withColumn("__n", length(col("bytes")))
      .withColumn("__resized",
        expr(s"substring(bytes, 1, $targetBytes)"))
      .withColumn("meta",
        map_concat(col("meta"), map(
          lit("orig_bytes"), col("__n").cast("string"),
          lit("resized_bytes"), length(col("__resized")).cast("string"))))
      .withColumn("bytes", col("__resized"))
      .drop("__n", "__resized")

  /** Frame sampling for time-based media (video/audio): one row per
    * sampled frame offset; a real decoder would slice the payload at
    * the container level — the explode shape and per-frame keys are
    * what downstream stages depend on. */
  def sampleFrames(media: DataFrame, everyNth: Int, maxFrames: Int): DataFrame =
    media
      .withColumn("n_frames",
        least(greatest(length(col("bytes")) / everyNth, lit(1)), lit(maxFrames)))
      .select(col("doc_id"), col("kind"), col("bytes"), col("meta"),
        explode(sequence(lit(0), col("n_frames").cast("int") - 1)).as("frame_no"))
      .withColumn("frame_offset", col("frame_no") * everyNth)
}
