package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("batched feature extraction is deterministic and null-safe") {
    val media = Seq(
      (1L, "image/png", "some bytes here".getBytes("UTF-8")),
      (2L, "audio/wav", "other payload".getBytes("UTF-8")),
      (3L, "image/png", null: Array[Byte])
    ).toDF("media_id", "mime", "payload")

    val f1 = Multimodal.extractFeatures(media, batchSize = 2)
      .collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media, batchSize = 64)
      .collect().sortBy(_.media_id)

    assert(f1.length === 3)
    f1.zip(f2).foreach { case (a, b) =>
      assert(a.features.sameElements(b.features)) // batch size irrelevant
    }
    assert(f1.forall(_.features.length === Multimodal.FakeCodec.dim))
    assert(f1.find(_.media_id == 3L).get.n_bytes === 0)
    assert(f1.find(_.media_id == 1L).get.n_bytes === 15)
    // content-sensitive: different payloads, different features
    assert(!f1(0).features.sameElements(f1(1).features))
  }

  test("frame sampling emits every Nth full frame with exact fingerprints") {
    val payload = ("abcdefgh" * 13).getBytes("UTF-8") // 104 bytes
    val media = Seq((7L, "video/mp4", payload), (8L, "video/mp4", null))
      .toDF("media_id", "mime", "payload")
    val frames = Multimodal.sampleFrames(media, frameBytes = 32, every = 2)
      .collect().sortBy(_.frame_idx)
    // 104/32 = 3 full frames (idx 0,1,2); every=2 keeps 0 and 2
    assert(frames.map(f => (f.media_id, f.frame_idx)).toSeq ===
      Seq((7L, 0), (7L, 2)))
    assert(frames.forall(_.frame_len === 32))
    // fingerprint equals poly_hash of the corresponding text slice
    val expected = frames.map { f =>
      val s = new String(payload, f.frame_idx * 32, 32, "UTF-8")
      graft.functions.PolyHashUtil.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
    }
    assert(frames.map(_.frame_fp).toSeq === expected.toSeq)
  }

  test("resize: nearest-neighbor downsample; short payloads pass through") {
    val long = ("0123456789" * 20).getBytes("UTF-8") // 200 bytes
    val short = "tiny".getBytes("UTF-8")
    val media = Seq((1L, "image/png", long), (2L, "image/png", short),
        (3L, "image/png", null))
      .toDF("media_id", "mime", "payload")
    val out = Multimodal.resizePayload(media, targetBytes = 64)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload"))
      .toMap
    assert(out(1L).length === 64)
    assert(out(2L).toSeq === short.toSeq) // pass-through
    // missing media stays MISSING (null), not present-but-empty — the
    // schema declares payload nullable and downstream IS NULL checks
    // depend on the distinction
    assert(out(3L) == null)
    // spot-check the index formula: out[i] = in[floor(i*len/target)]
    (0 until 64).foreach { i =>
      assert(out(1L)(i) === long((i.toLong * 200 / 64).toInt))
    }
  }

  test("phash64: bit-exact vs a driver reference, order-invariant, " +
      "and robust to a small frame change") {
    // 4 full 32-byte frames; every=1 samples all of them
    val base = "abcdefgh" * 16 // 128 chars
    val tweaked = base.updated(100, 'Z').toString // one frame differs
    val media = Seq(
      (1L, "video/mp4", base.getBytes("UTF-8")),
      (2L, "video/mp4", base.getBytes("UTF-8")), // exact copy
      (3L, "video/mp4", tweaked.getBytes("UTF-8")))
      .toDF("media_id", "mime", "payload")
    val got = Multimodal.phash64(media, frameBytes = 32, every = 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

    // driver reference: votes over frame fps, same bit family
    def ref(s: String): Seq[Long] = {
      val fps = (0 until s.length / 32).map { i =>
        s.substring(i * 32, i * 32 + 32)
          .foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
      }
      val votes = Array.fill(64)(0L)
      for (h <- fps; j <- 0 until 64) {
        val bit = ((h * (2 * j + 1) + (j * 1000003L + 12345L))
          % 1000000007L) % 2L
        votes(j) += (if (bit == 1L) 1L else -1L)
      }
      (0 until 4).map(b => (0 until 16)
        .map(i => if (votes(16 * b + i) > 0) 1L << i else 0L).sum)
    }
    assert(got(1L) === ref(base))
    assert(got(3L) === ref(tweaked))
    assert(got(1L) === got(2L)) // exact copies collide on all 64 bits

    // kernel is order-invariant in the hash array (collect_list order)
    val fps = Seq(7L, 99L, 3L, 1234567L)
    val a = Seq(fps).toDF("fps").select(
      graft.functions.SimhashFromHashes(col("fps"), 4, 16)).head().getSeq[Long](0)
    val b = Seq(fps.reverse).toDF("fps").select(
      graft.functions.SimhashFromHashes(col("fps"), 4, 16)).head().getSeq[Long](0)
    assert(a === b)
  }

  test("phashPairs equals the brute-force hamming-<=3 pair set " +
      "(blocking is pigeonhole-complete at radius 3)") {
    def ref(s: String): Seq[Long] = {
      val fps = (0 until s.length / 32).map { i =>
        s.substring(i * 32, i * 32 + 32)
          .foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
      }
      val votes = Array.fill(64)(0L)
      for (h <- fps; j <- 0 until 64) {
        val bit = ((h * (2 * j + 1) + (j * 1000003L + 12345L))
          % 1000000007L) % 2L
        votes(j) += (if (bit == 1L) 1L else -1L)
      }
      (0 until 4).map(b => (0 until 16)
        .map(i => if (votes(16 * b + i) > 0) 1L << i else 0L).sum)
    }
    val base = "abcdefgh" * 40 // 10 frames at 32 bytes
    val texts: Seq[(Long, String)] = Seq(
      1L -> base, 2L -> base, // exact dup pair: hamming 0
      3L -> base.updated(5, 'Q').toString, // one frame off
      4L -> base.updated(5, 'Q').updated(100, 'R').toString, // two off
      5L -> ("zyxwvuts" * 40), // unrelated
      6L -> ("aZcdefgh" * 40)) // EVERY frame off: far from base
    val media = texts
      .map { case (id, s) => (id, "video/mp4", s.getBytes("UTF-8")) }
      .toDF("media_id", "mime", "payload")

    val refBands = texts.map { case (id, s) => id -> ref(s) }.toMap
    val refPairs = (for {
      (a, ba) <- refBands; (b, bb) <- refBands if a < b
      h = ba.zip(bb).map { case (x, y) =>
        java.lang.Long.bitCount(x ^ y) }.sum
      if h <= 3
    } yield (a, b) -> h).toMap

    val got = Multimodal.phashPairs(media, maxHamming = 3,
        maxBucketSize = 20, frameBytes = 32, every = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got === refPairs)
    assert(got((1L, 2L)) === 0) // the exact dup is always caught
  }

  test("mediaFromDocuments preserves byte lengths and routes mimes") {
    val docs = Seq((0L, "abc"), (1L, "defg")).toDF("doc_id", "text")
    val m = Multimodal.mediaFromDocuments(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getAs[Array[Byte]]("payload").length)).toMap
    assert(m(0L) === ("image/png", 3))
    assert(m(1L) === ("audio/wav", 4))
  }
}
