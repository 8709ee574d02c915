package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

/** Streaming MinHash-LSH near-deduplication — the ingestion-time mirror
  * of [[graft.operators.Dedup.minhashLsh]], built as the incremental
  * delta pass ([[graft.operators.Dedup.minhashLshDeltaSigs]]) applied
  * per micro-batch against a persisted signature index:
  *
  *  1. one doc-local projection computes the batch's signature table
  *     (minhash signature + sorted hashed-shingle set per doc);
  *  2. the batch probes the accumulated index — band-equality join,
  *     candidates ∝ batch size and match rate, never index×index;
  *  3. verified pairs append to `outDir/pairs`, the batch's signatures
  *     append to `outDir/sigs`, both batch_id-partitioned with dynamic
  *     partition overwrite so a replayed batch overwrites exactly its
  *     own contribution (same idempotence discipline as
  *     [[RegisterStream.dualSink]]).
  *
  * After any prefix of batches, [[pairsView]] equals batch
  * [[graft.operators.Dedup.minhashLsh]] on the union of those batches
  * (a pair is emitted exactly once, when its later member arrives) —
  * the batch/stream equivalence contract [[StreamDedup]] establishes
  * for exact dedup, extended to near-dedup. Doc ids must be globally
  * unique across batches, the same precondition as the delta operator.
  *
  * Why the index is a parquet relation and not state-store state: the
  * per-doc payload (64-long signature + full hashed-shingle set) is
  * orders of magnitude heavier than a dedup state key, candidate
  * generation needs a cross-batch JOIN on band keys (not a point
  * lookup), and the verify step needs the historic shingle sets — a
  * keyed state store offers none of that, while the persisted relation
  * is exactly what the batch delta operator already consumes. A
  * band-key `dropDuplicates` state would also drop LSH *candidates*
  * unverified — false-positive drops that the exact-Jaccard verify
  * here rules out. */
object StreamNearDedup {

  private val sigSchema =
    "id bigint, sig array<bigint>, ng array<bigint>, batch_id bigint"
  private val pairSchema =
    "doc_a bigint, doc_b bigint, jaccard double, batch_id bigint"

  /** Start the sink: for each micro-batch of documents, emit verified
    * near-dup pairs touching the batch and grow the signature index.
    * `docs` must carry a long id column and a text column. */
  def sink(docs: DataFrame, outDir: String, checkpoint: String,
      threshold: Double = 0.5, shingleLen: Int = 5,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val d = Dedup.signatureTable(batch, shingleLen, idCol, textCol)
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // strictly-older batches only: a replayed batch must not see
          // its own crashed partial write as "corpus"
          val corpus = readOrEmpty(spark, s"$outDir/sigs", sigSchema)
            .filter(col("batch_id") < batchId)
            .select(col("id"), col("sig"), col("ng"))
          Dedup.minhashLshDeltaSigs(d, corpus, threshold)
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(s"$outDir/pairs")
          d.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(s"$outDir/sigs")
        } finally { d.unpersist(); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** All verified near-dup pairs seen so far — equal to batch
    * `minhashLsh` over the union of committed batches. Empty (with the
    * right schema) before the first batch commits. */
  def pairsView(spark: SparkSession, outDir: String): DataFrame =
    readOrEmpty(spark, s"$outDir/pairs", pairSchema)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Greedy keep-the-smallest-id dedup view over the indexed corpus:
    * every indexed doc id except those verified near-equal to a
    * smaller id (the canonical-by-min-id rule of [[Dedup.exact]]). */
  def keptIdsView(spark: SparkSession, outDir: String): DataFrame =
    readOrEmpty(spark, s"$outDir/sigs", sigSchema).select(col("id"))
      .join(pairsView(spark, outDir).select(col("doc_b").as("id")),
        Seq("id"), "left_anti")
}
