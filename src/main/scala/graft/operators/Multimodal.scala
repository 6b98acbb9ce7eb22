package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata, extracted from the interleaved span
  * stream (`kind='image'`, `media_ref` pointer — the reference's Adobe figure
  * elements, `/root/reference/dumps/structuredData.json` Image elements with
  * `data_length/height/width`).
  *
  * The Spark-side plumbing — schema, per-doc partitioning, batched transform
  * shape — is real and tested; the actual codec call is STUBBED behind
  * [[MediaCodecStub]] (no image/audio libraries ship in this container). On a
  * real cluster the stub body is replaced by the decoder (or by
  * `mapInPandas`/`mapInArrow` on the PySpark side); every signature and batch
  * contract stays identical.
  */
object Multimodal {

  /** The codec contract a real decoder drops into: constructed ONCE PER
    * PARTITION inside the batched transform (a real codec holds native
    * handles/buffers — per-row construction is the classic silent perf bug a
    * drop-in must not introduce; MultimodalSpec pins the instantiation
    * count), then streamed over the partition's rows. */
  trait MediaCodec extends Serializable {
    def decodeImage(payload: Array[Byte]): (Int, Int, Array[Float])
  }

  /** STUB: deterministic fake decode. Replace with a real codec. Produces an
    * 8-float feature vector + (width, height) derived from a position-weighted
    * byte sum mod 1000003 — stable across runs/executors AND replicable in
    * plain SQL (no 64-bit wraparound), so the DuckDB oracle can verify the
    * full plumbing including the stub outputs. */
  class MediaCodecStub extends MediaCodec {
    def decodeImage(payload: Array[Byte]): (Int, Int, Array[Float]) = {
      // ??? <- real codec goes here; deterministic fake below
      var h = 0L
      var i = 0
      while (i < payload.length) {
        h = (h + (payload(i) & 0xff).toLong * (i + 1)) % 1000003L
        i += 1
      }
      val w = 64 + (h % 960L).toInt
      val ht = 64 + ((h / 7L) % 960L).toInt
      val feat = Array.tabulate(8)(i => ((h / (i + 1)) % 1000L).toFloat / 1000f)
      (w, ht, feat)
    }
  }

  /** Media table from the docs table: one row per image span. The payload is
    * a synthetic deterministic binary (the sandbox has no real bytes); at
    * scale this column is the pointer-dereferenced blob and everything else
    * is unchanged. Schema:
    * (doc_id, media_ref, span_offset, payload binary, media_kind). */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") === "image")
      .select(
        col("doc_id"),
        col("s.media_ref").as("media_ref"),
        col("s.offset").as("span_offset"))
      // deterministic fake payload: the media_ref's utf-8 bytes repeated via
      // concat — stands in for the real blob fetch
      .withColumn("payload",
        encode(concat(col("media_ref"), lit(":"), col("doc_id")), "UTF-8").cast("binary"))
      .withColumn("media_kind", lit("image"))

  /** Batched "decode + feature extract" over the media table. Runs as
    * mapPartitions (the Scala analog of mapInPandas batches): rows stream
    * through the codec per partition; partitioning by doc_id keeps a doc's
    * media colocated with its other processing. Output schema:
    * (doc_id, media_ref, width, height, feature array<float>). */
  def decodeFeatures(media: DataFrame, partitions: Int = 0,
      codecFactory: () => MediaCodec = () => new MediaCodecStub): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val p = if (partitions > 0) media.repartition(partitions, col("doc_id"))
            else media.repartition(col("doc_id"))
    p.select(col("doc_id"), col("media_ref"), col("payload"))
      .as[(String, String, Array[Byte])]
      .mapPartitions { it =>
        val codec = codecFactory() // once per partition — the batch contract
        it.map { case (docId, ref, payload) =>
          val (w, h, feat) = codec.decodeImage(payload)
          (docId, ref, w, h, feat)
        }
      }
      .toDF("doc_id", "media_ref", "width", "height", "feature")
  }

  /** Frame-sampling contract for video payloads: every `stride`-th frame
    * index up to `maxFrames`, as (doc_id, media_ref, frame_idx) rows ready
    * for the decode stage — pure plumbing, columnar. */
  def sampleFrames(media: DataFrame, nFrames: Int = 8, stride: Int = 30): DataFrame =
    media.select(col("doc_id"), col("media_ref"),
      explode(transform(sequence(lit(0), lit(nFrames - 1)), i => i * stride)).as("frame_idx"))
}
