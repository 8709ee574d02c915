package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Streaming CDC sub-document deduplication — the ingestion-time
  * mirror of [[graft.operators.Dedup.cdcOverlapPairs]], built as the
  * incremental delta pass ([[graft.operators.Dedup.cdcOverlapDelta]]'s
  * shape) applied per micro-batch against a persisted chunk index
  * (the [[StreamNearDedup]] pattern applied to CDC):
  *
  *  1. one doc-local codegen byte-pass chunks the batch and reduces it
  *     to DISTINCT `(fp, len, doc_id)` chunk keys ≥ `minLen` bytes
  *     (the [[graft.operators.Dedup.cdcChunkIndex]] relation, computed
  *     on the batch);
  *  2. the batch probes the accumulated index UNION its own keys —
  *     key-equality join on `(fp, len)`, candidates ∝ batch duplicate
  *     mass, never index×index; batch-internal pairs canonicalize via
  *     least/greatest, corpus-internal pairs cannot form
  *     ([[graft.operators.Dedup.cdcOverlapIncrement]]);
  *  3. the pairs and the batch's chunk keys commit in the
  *     [[TieredIndex.BatchSink]] order (pairs write, index append,
  *     maintain), each a replay-idempotent dynamic overwrite of the
  *     batch's own partitions.
  *
  * '''Index layout, maintenance and crash safety''' live in
  * [[TieredIndex]]: per-batch dirs sub-partitioned by fingerprint
  * bucket `pmod(fp, nBuckets)`, folded every `compactEvery` batches
  * into LSM size-tiered base epochs. Probes read only the batch's
  * buckets (PARTITION filters), so with the key-restricted join
  * inside [[Dedup.cdcOverlapIncrement]] per-batch cost is ∝ batch
  * keys + matching postings. Once batches are folded their per-batch
  * identity is gone, so re-running the stream over the same outDir
  * with a FRESH checkpoint is supported only before the first fold —
  * wipe outDir and checkpoint together.
  *
  * `nBuckets` is baked into the on-disk partition values, so it is
  * recorded once at `outDir/index_meta` and later sinks on the same
  * outDir must match (enforced at start, atomically; the pre-bucket
  * flat layout is rejected loudly — see
  * [[TieredIndex.ensureNBuckets]]).
  *
  * '''Consistency of the views''': the pairs and chunks writes of one
  * batch are two separate commits (plus maintenance deletes), atomic
  * only per-directory. [[pairsView]] and [[chunkIndexView]] are
  * therefore consistent BETWEEN batches — a reader concurrent with an
  * in-flight or replaying batch can observe that batch's partition
  * mid-overwrite. Readers needing a stable view should read while the
  * query is stopped or exclude the latest batch_id.
  *
  * After any prefix of batches, [[pairsView]] equals batch
  * [[graft.operators.Dedup.cdcOverlapPairs]] on the union of those
  * batches — a pair is emitted exactly once, when its later member
  * arrives — PROVIDED no chunk key's document frequency crosses
  * `maxDocsPerChunk` between a pair's emission and the end of the
  * prefix; the deviation is one-sided (the stream never misses a pair
  * the batch run keeps — see [[Dedup.cdcOverlapIncrement]]). Doc ids
  * must be globally unique across batches, the same precondition as
  * every delta route.
  *
  * Why a parquet chunk index and not state-store state: candidate
  * generation is a cross-batch JOIN on `(fp, len)` — not a point
  * lookup — and the probe relation IS what the batch delta operator
  * consumes, so batch and stream share one code path (the
  * [[StreamNearDedup]] argument, with a lighter per-row payload: chunk
  * keys are fixed-width, so the index costs O(chunks), not
  * O(shingle sets)). */
object StreamCdc {

  private val keySchema = "fp bigint, len int, doc_id bigint"
  private val pairSchema =
    "doc_a bigint, doc_b bigint, shared_chunks bigint, " +
      "shared_bytes bigint, batch_id bigint"

  /** The chunk index under `outDir` (see [[TieredIndex]]). */
  private[graft] def index(outDir: String) = new TieredIndex(outDir, keySchema)

  /** Start the sink: for each micro-batch of documents, emit overlap
    * pairs touching the batch and grow the chunk index. `docs` must
    * carry a long id column and a text column. `nBuckets` fixes the
    * fingerprint-bucket partitioning of the index (immutable per
    * outDir); `compactEvery` bounds the recent tier — when that many
    * committed batch dirs accumulate, they fold into a base epoch
    * (size-tiered merges keep the base at O(log n) epochs). */
  def sink(docs: DataFrame, outDir: String, checkpoint: String,
      w: Int = 16, maskBits: Int = 6, minLen: Int = 24,
      minSharedBytes: Int = 48, maxDocsPerChunk: Int = 64,
      idCol: String = "doc_id", textCol: String = "text",
      minChunk: Int = 1, maxChunk: Int = Int.MaxValue,
      nBuckets: Int = 64, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(outDir, w, maskBits, minLen, minSharedBytes,
      maxDocsPerChunk, idCol, textCol, minChunk, maxChunk, nBuckets,
      compactEvery).start(docs, checkpoint)

  /** [[sink]]'s per-batch skeleton: one leg, the chunk keys bucketed
    * by fingerprint (the index stores the id column as `doc_id`). */
  private[streaming] def batchSink(outDir: String, w: Int, maskBits: Int,
      minLen: Int, minSharedBytes: Int, maxDocsPerChunk: Int,
      idCol: String, textCol: String, minChunk: Int, maxChunk: Int,
      nBuckets: Int, compactEvery: Int): TieredIndex.BatchSink[Row] =
    new TieredIndex.BatchSink[Row]("StreamCdc", outDir, nBuckets,
      compactEvery, Seq(TieredIndex.Leg(index(outDir), col("fp"),
        batch => Dedup.cdcChunkIndex(batch, idCol, textCol, w, maskBits,
            minLen, minChunk, maxChunk)
          .select(col("fp"), col("len"), col(idCol).as("doc_id")))))({
      case Seq((keys, corpus)) => Dedup.cdcOverlapIncrement(keys, corpus,
        "doc_id", minSharedBytes, maxDocsPerChunk)
    })

  /** All overlap pairs seen so far — equal to batch
    * [[Dedup.cdcOverlapPairs]] over the union of committed batches
    * (cap proviso above; consistent only between batches — see the
    * object doc). Empty (with the right schema) before the first
    * batch commits. */
  def pairsView(spark: SparkSession, outDir: String): DataFrame =
    readOrEmpty(spark, s"$outDir/pairs", pairSchema)
      .select(col("doc_a"), col("doc_b"), col("shared_chunks"),
        col("shared_bytes"))

  /** The accumulated chunk index — the [[Dedup.cdcChunkIndex]]
    * relation over every committed batch (base ∪ recent tiers),
    * directly consumable by the batch delta route
    * ([[Dedup.cdcOverlapDelta]]). Consistent only between batches —
    * see the object doc. */
  def chunkIndexView(spark: SparkSession, outDir: String): DataFrame =
    index(outDir).corpusKeys(spark, batchId = Long.MaxValue,
      buckets = None)
}
