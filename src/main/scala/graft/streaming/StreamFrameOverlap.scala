package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.operators.Multimodal.{MediaDecoder, FakeDecoder, MediaRecord}

/** Streaming frame-level media overlap — the ingestion-time face of
  * [[graft.operators.Multimodal.frameOverlapPairs]], completing the
  * frame family's batch/index/delta/stream square (the sub-file
  * reuse detector: re-cut and partially-reused footage surfaces as
  * media arrive, next to [[StreamMediaDedup]]'s whole-file pairs).
  * Per micro-batch:
  *
  *  1. decode the batch ONCE map-side to its frame-posting relation
  *     ([[Multimodal.frameIndex]]'s schema `(media_id, fk)`) —
  *     payloads never shuffle, never persist;
  *  2. probe the accumulated posting index UNION the batch's own
  *     postings ([[Multimodal.frameOverlapIncrement]]): key-equality
  *     candidates, boilerplate cap over the union frequency as of
  *     this batch, each pair emitted exactly once when its later
  *     member arrives (corpus-internal pairs cannot form);
  *  3. the pairs, then the batch's postings, commit in the
  *     [[TieredIndex.BatchSink]] order — replay-idempotent.
  *
  * The index is a [[TieredIndex]] (the [[StreamCdc]] layout) bucketed
  * by `pmod(hash(fk), nBuckets)`: probes read only the batch's
  * buckets, so per-batch cost is ∝ batch frames + matching postings,
  * and maintenance never costs O(corpus). `nBuckets` is immutable per
  * outDir.
  *
  * '''Law''' ([[StreamCdc]]'s cap-crossing contract): after any
  * prefix of batches, [[pairsView]] EQUALS batch
  * [[Multimodal.frameOverlapPairs]] over the union of those batches,
  * PROVIDED no frame key crossed `maxMediaPerFrame` after a pair
  * sharing it was emitted — a crossing makes the deviation one-sided
  * (the stream may keep pairs / count keys the recompute drops,
  * never the reverse). Media ids must be globally unique across
  * batches. Views are consistent only between batches (two commits
  * per batch — the [[StreamCdc]] caveat). */
object StreamFrameOverlap {

  private val keySchema = "media_id bigint, fk array<float>"
  private val pairSchema =
    "media_a bigint, media_b bigint, shared_frames bigint, " +
      "batch_id bigint"

  /** The posting index under `outDir` (see [[TieredIndex]]). */
  private[graft] def index(outDir: String) = new TieredIndex(outDir, keySchema)

  /** Start the sink: for each micro-batch of media, emit frame-level
    * overlap pairs touching the batch (≥ `minSharedFrames` shared
    * near-identical frames) and grow the posting index. */
  def sink(media: Dataset[MediaRecord], outDir: String,
      checkpoint: String, stride: Int = 1, minSharedFrames: Int = 2,
      maxMediaPerFrame: Int = 64, decoder: MediaDecoder = FakeDecoder,
      nBuckets: Int = 64, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(outDir, stride, minSharedFrames, maxMediaPerFrame, decoder,
      nBuckets, compactEvery).start(media, checkpoint)

  /** [[sink]]'s per-batch skeleton: one leg, the batch decoded once to
    * fixed-width `(media_id, fk)` postings bucketed by frame key. */
  private[streaming] def batchSink(outDir: String, stride: Int,
      minSharedFrames: Int, maxMediaPerFrame: Int, decoder: MediaDecoder,
      nBuckets: Int, compactEvery: Int)
      : TieredIndex.BatchSink[MediaRecord] =
    new TieredIndex.BatchSink[MediaRecord]("StreamFrameOverlap", outDir,
      nBuckets, compactEvery, Seq(TieredIndex.Leg(index(outDir),
        hash(col("fk")), Multimodal.frameIndex(_, stride, decoder))))({
      case Seq((keys, corpus)) => Multimodal.frameOverlapIncrement(keys,
        corpus, minSharedFrames, maxMediaPerFrame)
    })

  /** All overlap pairs seen so far — equal to batch
    * [[Multimodal.frameOverlapPairs]] over the union of committed
    * batches under the cap proviso (see object doc; consistent only
    * between batches). Empty (with the right schema) before the first
    * batch commits. */
  def pairsView(spark: SparkSession, outDir: String): DataFrame =
    readOrEmpty(spark, s"$outDir/pairs", pairSchema)
      .select(col("media_a"), col("media_b"), col("shared_frames"))

  /** The accumulated posting index — the [[Multimodal.frameIndex]]
    * relation over every committed batch, directly consumable by the
    * batch delta route ([[Multimodal.frameOverlapDelta]]). Consistent
    * only between batches. */
  def frameIndexView(spark: SparkSession, outDir: String): DataFrame =
    index(outDir).corpusKeys(spark, batchId = Long.MaxValue,
      buckets = None)
}
