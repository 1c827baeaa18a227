package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.TempDirs

/** Multimodal-column plumbing: media payloads are opaque `binary`
  * columns with a typed metadata struct, processed batch-at-a-time in
  * `mapPartitions` (the Scala analogue of `mapInPandas` batch shape).
  *
  * The DECODE step is a deliberate STUB (no image/audio codecs in this
  * container — see the builder contract): `StubDecoder` derives
  * deterministic fake features from the bytes. Everything around it —
  * schema, encoders, partition-local batching, the feature contract —
  * is real and tested, so swapping in a libjpeg/ffmpeg-backed decoder
  * is a one-function change.
  */
object Multimodal {

  /** A media row: id + opaque payload + typed metadata. */
  case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte],
                      lang: String, n_chars: Long)

  /** Decoded features. In a real deployment width/height/duration come
    * from the codec; here they come from StubDecoder. */
  case class MediaFeatures(doc_id: Long, media_type: String, byte_len: Int,
                           width: Int, height: Int, checksum: Long)

  /** The pluggable decode step. A production decoder would parse the
    * container format here; the stub derives features purely from the
    * byte payload so results are deterministic and testable. */
  trait Decoder extends Serializable {
    def decode(payload: Array[Byte]): (Int, Int, Long)
  }

  object StubDecoder extends Decoder {
    def decode(payload: Array[Byte]): (Int, Int, Long) = {
      var h = 1469598103934665603L // FNV-1a over the payload = "checksum"
      var i = 0
      while (i < payload.length) { h = (h ^ (payload(i) & 0xff)) * 1099511628211L; i += 1 }
      (math.floorMod(h, 640).toInt + 1, math.floorMod(h >> 16, 480).toInt + 1, h)
    }
  }

  /** Oracle-able stub: features derived from the md5 digest of the
    * payload (the same 60-bit `Hashes.h60` construction the dedup
    * family uses), so the whole mapPartitions featurize path — schema,
    * encoders, batching AND values — sits under the DuckDB gate.
    * h < 2^60 is always positive, so `%` needs no floorMod. */
  object Md5Decoder extends Decoder {
    def decode(payload: Array[Byte]): (Int, Int, Long) = {
      val hex = java.security.MessageDigest.getInstance("MD5").digest(payload)
        .map("%02x".format(_)).mkString.substring(0, 15)
      val h = java.lang.Long.parseLong(hex, 16)
      ((h % 640).toInt + 1, ((h >> 16) % 480).toInt + 1, h)
    }
  }

  /** Build a media table from the documents table: payload = utf-8 bytes
    * of the text standing in for an encoded blob. NULL-text docs DROP
    * at this read boundary (a media row without a payload is not a
    * media row): the mapPartitions decoders downstream dereference the
    * payload unconditionally, and the current fixtures' lack of NULL
    * texts must not be load-bearing — the same regeneration hazard the
    * q116 NULL fix closed (a driver corpus with one NULL text would
    * otherwise NPE every multimodal query). Oracles carry the matching
    * `WHERE text IS NOT NULL`; the edge is pinned in SimilaritySpec. */
  def mediaTable(documents: DataFrame): DataFrame =
    documents.filter(col("text").isNotNull).select(
      col("doc_id"), lit("image/fake").as("media_type"),
      col("text").cast(BinaryType).as("payload"),
      col("lang"), col("n_chars"))

  /** Partition-local batch featurize — the `mapInPandas` shape: one
    * decoder instance per partition, rows streamed through it. No
    * shuffle; runs at scan parallelism. */
  def featurize(media: DataFrame, decoder: Decoder = StubDecoder): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val (w, h, sum) = decoder.decode(r.payload)
        MediaFeatures(r.doc_id, r.media_type, r.payload.length, w, h, sum)
      }
    }
  }

  /** A perceptual-hash row: id + 64-bit dHash. */
  case class MediaHash(doc_id: Long, phash: Long)

  /** 64-bit perceptual hash (dHash) of each media row: the decoder
    * yields a deterministic 9×8 grayscale grid (72 bytes — with a real
    * codec this is the decode→downscale-to-9×8 luminance step; the stub
    * derives the grid bytes from the payload checksum via the same LCG
    * as [[resizeStub]]), and bit b = (row b/8, col b%8) is set when the
    * pixel's right neighbor is brighter — the classic
    * difference-hash construction (horizontal gradient signs), which
    * for real images is stable under re-encode/resize/brightness
    * shifts.
    *
    * Scale shape: one map-side pass in the `mapPartitions` batch path
    * (same as [[featurize]]) — no shuffle, runs at scan parallelism.
    * Feed the result to
    * [[graft.functions.Dedup.bandedHammingPairs]] for banded
    * near-duplicate candidate pairs (never O(n²)).
    *
    * HONEST LIMIT of the stub: a real decoder maps visually-near images
    * to near grids, so near phashes ⇔ near images; the stub's grid is
    * hash-chaotic in the payload, so only byte-identical payloads give
    * Hamming-0 collisions and nothing sits "near" — the dedup the stub
    * can demonstrate end-to-end is exact-payload dedup, and the banded
    * pair recall at Hamming 1..3 is pinned at the hash level in specs
    * instead. */
  def perceptualHash(media: DataFrame, decoder: Decoder = StubDecoder): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val (_, _, checksum) = decoder.decode(r.payload)
        val px = new Array[Int](72) // 9 wide x 8 high
        var st = checksum
        var i = 0
        while (i < 72) {
          st = st * 6364136223846793005L + 1442695040888963407L
          px(i) = ((st >>> 56) & 0xff).toInt
          i += 1
        }
        var ph = 0L
        var b = 0
        while (b < 64) {
          val row = b >> 3; val c = b & 7
          if (px(row * 9 + c) < px(row * 9 + c + 1)) ph |= (1L << b)
          b += 1
        }
        MediaHash(r.doc_id, ph)
      }
    }.toDF()
  }

  /** Resize stub: a production decoder would decode → scale → re-encode;
    * the stub derives a new deterministic payload of the target
    * "resolution" (w·h bytes, content seeded from the original checksum)
    * so the plumbing — binary in, binary out, metadata updated, runs in
    * the scan — is real and testable. */
  def resizeStub(media: DataFrame, w: Int, h: Int,
                 decoder: Decoder = StubDecoder): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val (_, _, checksum) = decoder.decode(r.payload)
        val out = new Array[Byte](math.min(w * h, 4096)) // capped fake raster
        var i = 0; var st = checksum
        while (i < out.length) {
          st = st * 6364136223846793005L + 1442695040888963407L
          out(i) = (st >>> 56).toByte; i += 1
        }
        MediaRow(r.doc_id, s"image/fake;${w}x$h", out, r.lang, r.n_chars)
      }
    }.toDF()
  }

  /** Per-frame content signatures: the payload is cut into consecutive
    * `stride`-length windows ("frames" — with a real codec this is
    * decode → per-keyframe luminance grid; the stub treats the utf-8
    * payload as the decoded transcript) and each frame is hashed. One
    * row per (doc, frame_idx, fhash); trailing partial frames drop.
    *
    * Slicing is CHARACTER-based via the built-in `substr` on both this
    * side and the DuckDB oracle, and the hash is md5 over the slice's
    * UTF-8 re-encoding — identical in both engines regardless of the
    * corpus's byte width (the q116 regeneration lesson: no ASCII
    * assumption is load-bearing). `hashFn` swaps in xxhash64 for the
    * production twin (one codegen op, no md5 hex round-trip).
    *
    * Scale shape: pure map-side — one explode bounded by corpus_chars /
    * stride rows, no shuffle, runs at scan parallelism. */
  def frameSignatures(media: DataFrame, stride: Int,
                      hashFn: Column => Column = graft.functions.Hashes.h60): DataFrame = {
    val txt = col("payload").cast(StringType)
    media.filter(length(txt) >= stride)
      .select(col("doc_id"), txt.as("t"),
        posexplode(sequence(lit(0L), floor(length(txt) / stride).cast("long") - 1)))
      .select(col("doc_id"), col("pos").as("frame_idx"),
        hashFn(col("t").substr((col("col") * stride + 1).cast("int"), lit(stride))).as("fhash"))
  }

  /** Near-duplicate media pairs by SHARED FRAME count — the video-level
    * dedup a multimodal pipeline runs after [[frameSignatures]]: two
    * docs are candidates when they share ≥ `minShared` distinct frame
    * signatures (clip reuse, re-encodes, edits that keep most
    * keyframes). Same scale discipline as the text side's
    * [[graft.functions.Dedup.rareGramEdges]]: the frame-df histogram
    * caps hot frames (intros/color bars/black frames shared by
    * thousands of videos would otherwise quadratically explode the
    * self-join), every join is a banded equi-join on the signature —
    * never O(n²) in docs. */
  def videoNearDupPairs(frames: DataFrame, minShared: Long = 2,
                        maxDf: Long = 100): DataFrame = TempDirs.staged { s =>
    val d = s.cache(frames.select(col("doc_id"), col("fhash")).distinct())
    val kept = d.join(
      d.groupBy("fhash").agg(count(lit(1)).as("frame_df"))
        .filter(col("frame_df").between(2, maxDf))
        .select("fhash"),
      Seq("fhash"), "left_semi")
    val pairs = kept.select(col("doc_id").as("a"), col("fhash"))
      .join(kept.select(col("doc_id").as("b"), col("fhash")), Seq("fhash"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    // spill-and-release (TempDirs.spillParquet contract)
    TempDirs.spillParquet(pairs, "graft_video_pairs_")
  }

  /** Audio-style ALIGNMENT matching over frame signatures — the Shazam
    * offset-consistency vote (Wang 2003): where [[videoNearDupPairs]]
    * counts shared frames anywhere, this requires them to agree on ONE
    * time shift. Each matching frame between docs a and b casts a vote
    * for offset Δ = frame_a − frame_b; a genuine re-use of a clip at a
    * shift puts (almost) all votes on a single Δ, while coincidental
    * shared frames scatter. Output: per candidate pair, the winning
    * offset and its vote count (pairs with ≥ `minVotes` aligned
    * frames).
    *
    * Scale shape: identical to the rare-gram family — distinct
    * signatures, frame-df hot cap, banded equi-join on the signature,
    * then a (a, b, Δ) count and a per-pair max (window over the pair's
    * own offsets, input = matched-frame rows, never O(n²) in docs).
    * The vote is pure integer arithmetic — fully oracle-replayable. */
  def alignedMatchPairs(frames: DataFrame, minVotes: Long = 2,
                        maxDf: Long = 100): DataFrame = TempDirs.staged { s =>
    val d = s.cache(frames.select(col("doc_id"), col("frame_idx"), col("fhash")))
    val kept = d.join(
      d.select(col("doc_id"), col("fhash")).distinct()
        .groupBy("fhash").agg(count(lit(1)).as("frame_df"))
        .filter(col("frame_df").between(2, maxDf))
        .select("fhash"),
      Seq("fhash"), "left_semi")
    val votes = kept.select(col("doc_id").as("a"), col("frame_idx").as("fa"), col("fhash"))
      .join(kept.select(col("doc_id").as("b"), col("frame_idx").as("fb"), col("fhash")),
        Seq("fhash"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"), (col("fa") - col("fb")).as("shift"))
      .agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("a", "b")
      .orderBy(col("votes").desc, col("shift"))
    val best = votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("votes") >= minVotes)
      .select(col("a"), col("b"), col("shift").cast("long").as("best_shift"), col("votes"))
    // spill-and-release (TempDirs.spillParquet contract)
    TempDirs.spillParquet(best, "graft_aligned_pairs_")
  }

  /** Frame-sampling metadata: every `stride`-th byte offset as a fake
    * frame index — the plumbing (explode of a per-row sequence into
    * (doc, frame_idx, offset) rows) is exactly what a video sampler
    * produces; only the offsets are synthetic. */
  def frameSample(media: DataFrame, stride: Int): DataFrame =
    media.select(col("doc_id"),
        posexplode(sequence(lit(0L),
          greatest(floor(length(col("payload")) / stride).cast("long") - 1, lit(0L)))))
      .select(col("doc_id"), col("pos").as("frame_idx"),
        (col("col") * stride).as("byte_offset"))
}
