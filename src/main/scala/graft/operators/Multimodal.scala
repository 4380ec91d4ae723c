package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column plumbing: image/audio/video payloads travel as opaque
 * `binary` columns with typed metadata; decode / feature-extraction runs
 * per partition in fixed-size batches (the Scala analog of a batched
 * Pandas-UDF stage). The actual codec is STUBBED — this sandbox ships no
 * image/audio libraries — behind [[MediaCodec]], with a deterministic fake
 * implementation so the Spark-side plumbing (schema, partitioning, batch
 * shape, null handling) is real and tested. Swap [[MediaCodec.decode]] for
 * a real decoder (JNI/ffmpeg/javacv) without touching the plan.
 */
object Multimodal {

  /** Typed metadata accompanying every media payload. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true)))

  /** Decoder contract. A real deployment implements this with an image /
    * audio library; the sandbox uses [[FakeCodec]]. */
  trait MediaCodec extends Serializable {
    /** Decode a payload into a fixed-length feature vector. */
    def decode(payload: Array[Byte], mime: String): Array[Float]

    /** Decode a whole batch at once — the call [[extractFeatures]] actually
      * routes through, so a real codec can amortize per-call overhead
      * (native buffer reuse, GPU batch inference). Default: element-wise
      * [[decode]]. */
    def decodeBatch(batch: Seq[(Array[Byte], String)]): Seq[Array[Float]] =
      batch.map { case (p, m) => decode(p, m) }
  }

  /** Deterministic stand-in: feature lane j = (sum of payload bytes at
    * positions ≡ j mod dim) mod 1009, as a float. Integer-valued floats
    * (< 2^24, exactly representable) by design, so the DuckDB oracle
    * reproduces the features bit-for-bit with integer arithmetic — no
    * cross-engine float-accumulation-order hazards. Tests stay stable and
    * the batch plumbing is exercised with realistic shapes. */
  object FakeCodec extends MediaCodec {
    val dim = 8
    def decode(payload: Array[Byte], mime: String): Array[Float] = {
      val sums = new Array[Long](dim)
      if (payload != null) {
        var i = 0
        while (i < payload.length) {
          sums(i % dim) += (payload(i) & 0xff)
          i += 1
        }
      }
      val out = new Array[Float](dim)
      var j = 0
      while (j < dim) { out(j) = (sums(j) % 1009L).toFloat; j += 1 }
      out
    }
  }

  final case class MediaFeatures(
      media_id: Long, mime: String, n_bytes: Int, features: Array[Float])

  /** Batched per-partition feature extraction (mapPartitions — the one
    * justified use: imperative per-batch codec calls that expressions
    * can't express). Each group of `batchSize` rows goes through ONE
    * [[MediaCodec.decodeBatch]] call (this is what makes the batching
    * real — a codec that amortizes per-call overhead sees whole batches,
    * not elements); batch size bounds peak memory per task and partitions
    * stream through without materializing. */
  def extractFeatures(
      media: DataFrame,
      codec: MediaCodec = FakeCodec,
      batchSize: Int = 64): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("mime"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val feats = codec.decodeBatch(batch.map {
            case (_, mime, payload) => (payload, mime)
          })
          batch.lazyZip(feats).map { case ((id, mime, payload), f) =>
            val nb = if (payload == null) 0 else payload.length
            MediaFeatures(id, mime, nb, f)
          }
        }
      }
  }

  /** One sampled frame of a media payload. */
  final case class MediaFrame(
      media_id: Long, frame_idx: Int, frame_len: Int, frame_fp: Long)

  /** Frame sampling (video-style): the payload is treated as a stream of
    * fixed-size frames (`frameBytes` each; a partial tail frame is
    * dropped); every `every`-th FULL frame is emitted with its polynomial
    * fingerprint — the UDTF-shaped batched codec stage (a real deployment
    * demuxes a container here; the byte-slicing stand-in keeps the
    * Spark-side plumbing — one-to-many batched mapPartitions, typed
    * output — real and oracle-checkable: for ASCII payloads the frame
    * fingerprint equals poly_hash of the corresponding text slice). */
  def sampleFrames(
      media: DataFrame,
      frameBytes: Int = 32,
      every: Int = 4,
      batchSize: Int = 64): Dataset[MediaFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { case (id, payload) =>
            if (payload == null) Iterator.empty
            else {
              val n = payload.length / frameBytes
              Iterator.range(0, n).filter(_ % every == 0).map { i =>
                val frame = java.util.Arrays.copyOfRange(
                  payload, i * frameBytes, (i + 1) * frameBytes)
                MediaFrame(id, i, frame.length,
                  graft.functions.PolyHashUtil.hash(
                    org.apache.spark.unsafe.types.UTF8String.fromBytes(frame)))
              }
            }
          }
        }
      }
  }

  /** 64-bit PERCEPTUAL hash of a media payload, as 4 × 16-bit bands:
    * banded SimHash over the payload's sampled-frame fingerprints (so two
    * media that share most frames — a re-encode that changes a few, a
    * video with an inserted bumper — land within small hamming distance,
    * while exact copies collide on all 64 bits). This is the media analog
    * of text SimHash: dHash/pHash in a real deployment would hash decoded
    * pixel blocks; here the frame slicer stands in for the decoder, and
    * everything downstream of frame fingerprints (vote arithmetic,
    * banding, the pair join) is the production path.
    *
    * Scale shape: frame sampling is the batched map-only codec stage; the
    * only exchange is one groupBy(media_id) over the SAMPLED frame-fp
    * table (≤ len/(frameBytes·every) rows per media — bounded, and tiny
    * next to the payload bytes). The SimHash fold is the codegen'd
    * [[graft.functions.SimhashFromHashes]] kernel, order-invariant, so
    * collect_list's nondeterministic order is harmless. Media too short
    * to yield a single full frame have no perceptual content to hash and
    * are absent from the output (same contract as the frames table). */
  def phash64(
      media: DataFrame,
      frameBytes: Int = 32,
      every: Int = 4,
      batchSize: Int = 64): DataFrame = {
    sampleFrames(media, frameBytes, every, batchSize)
      .groupBy(col("media_id"))
      .agg(collect_list(col("frame_fp")).as("fps"))
      .select(col("media_id"),
        graft.functions.SimhashFromHashes(col("fps"), 4, 16).as("bands"))
  }

  /** Media near-duplicate pairs: hamming ≤ `maxHamming` over [[phash64]],
    * via the shared banded blocking join (pigeonhole-complete at radius 3;
    * `maxBucketSize` drops degenerate buckets — the 100 TB contract shared
    * with the text-side pair operators). */
  def phashPairs(
      media: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Int = Int.MaxValue,
      frameBytes: Int = 32,
      every: Int = 4): DataFrame =
    Dedup.bandedHammingPairs(
      phash64(media, frameBytes, every), "media_id", maxHamming,
      maxBucketSize)

  /** Deterministic 1-D nearest-neighbor payload downsample — the stub
    * "resize" stage (a real deployment resizes decoded images here): byte
    * i of the output is input byte floor(i·len/target). Payloads already
    * at or under `targetBytes` pass through unchanged; the Spark-side
    * plumbing (batched mapPartitions, binary in/out, null handling) is
    * the real contract. */
  def resizePayload(
      media: DataFrame,
      targetBytes: Int = 64,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("mime"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, mime, p) =>
            // null stays null: "missing media" must remain distinguishable
            // from present-but-empty media downstream (the schema declares
            // payload nullable — nullness IS part of the contract)
            val out =
              if (p == null) null
              else if (p.length <= targetBytes) p
              else Array.tabulate(targetBytes)(i =>
                p((i.toLong * p.length / targetBytes).toInt))
            (id, mime, out)
          }
        }
      }
      .toDF("media_id", "mime", "payload")
  }

  /** Demo media table synthesized from the documents table: utf-8 payload
    * bytes standing in for encoded media (deterministic, no external
    * data). */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 2 === 0, lit("image/png"))
        .otherwise(lit("audio/wav")).as("mime"),
      encode(col("text"), "utf-8").as("payload"),
      lit(null).cast(IntegerType).as("width"),
      lit(null).cast(IntegerType).as("height"))
}
