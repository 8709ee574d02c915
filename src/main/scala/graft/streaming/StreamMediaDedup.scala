package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.operators.Multimodal.{MediaDecoder, FakeDecoder, MediaRecord}

/** Streaming perceptual media dedup — the ingestion-time face of
  * [[graft.operators.Multimodal.nearDupPairs]], closing the one dedup
  * family that had batch/index/delta routes (x162/x163) but no
  * `writeStream` sink while every text family has one
  * ([[StreamDedup]]/[[StreamNearDedup]]/[[StreamCdc]]). Per
  * micro-batch:
  *
  *  1. decode the batch ONCE map-side to its feature/chunk-key
  *     relation ([[Multimodal.nearDupIndex]]'s schema `(media_id, v,
  *     j, k1..k4)`) — payloads never shuffle, never persist;
  *  2. probe the accumulated feature index UNION the batch's own keys
  *     ([[Multimodal.nearDupIncrement]]): key-equality candidates,
  *     vector-free shuffle, one cosine per deduped pair;
  *     batch-internal pairs canonicalize, corpus-internal pairs
  *     cannot form — each pair emitted exactly once, when its later
  *     member arrives;
  *  3. the pairs, then the batch's keys, commit in the
  *     [[TieredIndex.BatchSink]] order — replay-idempotent.
  *
  * The index is a [[TieredIndex]] (the [[StreamCdc]] layout; feature
  * rows are fixed-width like chunk keys) bucketed by
  * `pmod(hash(j, k1..k4), nBuckets)`: probes read only the batch's
  * buckets, so per-batch cost is ∝ batch keys + matching postings,
  * and maintenance never costs O(corpus). `nBuckets` is immutable per
  * outDir.
  *
  * After any prefix of batches, [[pairsView]] EQUALS batch
  * [[Multimodal.nearDupPairs]] over the union of those batches — no
  * cap proviso (the perceptual route has no boilerplate cap), so the
  * law is exact. Media ids must be globally unique across batches,
  * the same precondition as every delta route. Views are consistent
  * only between batches (two commits per batch — the [[StreamCdc]]
  * caveat). */
object StreamMediaDedup {

  private[streaming] val keySchema = "media_id bigint, v array<float>, " +
    "j int, k1 float, k2 float, k3 float, k4 float"
  /** A feature row's bucket: its chunk key `(j, k1..k4)` hashed. */
  private[streaming] val bucket =
    hash(col("j"), col("k1"), col("k2"), col("k3"), col("k4"))
  private val pairSchema =
    "media_a bigint, media_b bigint, cosine double, batch_id bigint"

  /** The feature index under `outDir` (see [[TieredIndex]]). */
  private[graft] def index(outDir: String) = new TieredIndex(outDir, keySchema)

  /** Start the sink: for each micro-batch of media, emit perceptual
    * near-dup pairs touching the batch (cosine ≥ `threshold`) and
    * grow the feature index. */
  def sink(media: Dataset[MediaRecord], outDir: String,
      checkpoint: String, threshold: Double = 0.9,
      decoder: MediaDecoder = FakeDecoder, nBuckets: Int = 64,
      compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(outDir, threshold, decoder, nBuckets, compactEvery)
      .start(media, checkpoint)

  /** [[sink]]'s per-batch skeleton: one leg, the batch decoded once
    * to fixed-width feature rows (payloads never persist). */
  private[streaming] def batchSink(outDir: String, threshold: Double,
      decoder: MediaDecoder, nBuckets: Int, compactEvery: Int)
      : TieredIndex.BatchSink[MediaRecord] = {
    require(threshold > 0 && threshold <= 1,
      s"StreamMediaDedup: threshold must be in (0, 1], got $threshold")
    new TieredIndex.BatchSink[MediaRecord]("StreamMediaDedup", outDir,
      nBuckets, compactEvery, Seq(TieredIndex.Leg(index(outDir), bucket,
        Multimodal.nearDupIndex(_, decoder))))({
      case Seq((keys, corpus)) =>
        Multimodal.nearDupIncrement(keys, corpus, threshold)
    })
  }

  /** All near-dup pairs seen so far — equal to batch
    * [[Multimodal.nearDupPairs]] over the union of committed batches
    * (consistent only between batches). Empty (with the right schema)
    * before the first batch commits. */
  def pairsView(spark: SparkSession, outDir: String): DataFrame =
    readOrEmpty(spark, s"$outDir/pairs", pairSchema)
      .select(col("media_a"), col("media_b"), col("cosine"))

  /** The accumulated feature index — the [[Multimodal.nearDupIndex]]
    * relation over every committed batch, directly consumable by the
    * batch delta route ([[Multimodal.nearDupDelta]]). Consistent only
    * between batches. */
  def featureIndexView(spark: SparkSession, outDir: String): DataFrame =
    index(outDir).corpusKeys(spark, batchId = Long.MaxValue,
      buckets = None)
}
