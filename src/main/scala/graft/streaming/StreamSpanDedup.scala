package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SpanDedup

/** Streaming exact-substring span dedup — the ingestion-time mirror of
  * [[graft.operators.SpanDedup.excise]], built as the incremental delta
  * pass ([[graft.operators.SpanDedup.exciseDelta]]) applied per
  * micro-batch against a persisted window-fingerprint index:
  *
  *  1. the batch is rewritten against the accumulated index under
  *     FIRST-ARRIVAL semantics (a window seen in any earlier batch is
  *     canonical there; duplicated runs new to the batch keep their
  *     first (doc_id, pos) occurrence);
  *  2. the FULL rewritten batch appends to `outDir/clean` (unmodified
  *     docs pass through verbatim — the view IS the deduped corpus);
  *  3. the batch's new fingerprints (anti-joined against strictly-older
  *     batches, so the index stays fp-unique) append to `outDir/fps`.
  *
  * Both sinks are batch_id-partitioned with dynamic partition overwrite,
  * so a replayed batch overwrites exactly its own contribution (the
  * [[RegisterStream.dualSink]] idempotence discipline); the probe reads
  * only strictly-older batches, so a crashed partial write is never its
  * own corpus. After any prefix of batches, [[cleanView]] equals batch
  * `excise` over those batches in arrival order. Doc ids must be
  * globally unique across batches, as for every delta operator.
  *
  * Fingerprints index the AS-INGESTED text (the batch contract computes
  * windows over raw documents); the cleaned text is what ships, the raw
  * fingerprints are what future batches dedup against.
  */
object StreamSpanDedup {

  private val fpSchema = "fp bigint, doc_id bigint, pos int, batch_id bigint"
  private val cleanSchema =
    "doc_id bigint, n_tokens bigint, n_removed bigint, clean_text string, " +
      "batch_id bigint"

  /** Start the sink: rewrite each micro-batch against everything seen
    * before it and grow the fingerprint index. `docs` must carry a long
    * id column and a text column. */
  def sink(docs: DataFrame, outDir: String, checkpoint: String,
      windowTokens: Int = 50, idCol: String = "doc_id",
      textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.persist()
        try {
          val older = readOrEmpty(spark, s"$outDir/fps", fpSchema)
            .filter(col("batch_id") < batchId)
          val modified = SpanDedup.exciseDelta(b, older, windowTokens,
            idCol, textCol)
          // full rewritten batch: untouched docs pass through verbatim
          // (null-text docs are dropped, mirroring the batch operator)
          val clean = b
            .filter(col(textCol).isNotNull)
            .select(col(idCol).as("doc_id"), col(textCol).as("text"))
            .join(modified.withColumnRenamed(idCol, "doc_id"),
              Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("n_tokens"),
                size(split(col("text"), " ")).cast("long")).as("n_tokens"),
              coalesce(col("n_removed"), lit(0L)).as("n_removed"),
              coalesce(col("clean_text"), col("text")).as("clean_text"))
          clean.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(s"$outDir/clean")
          // append only fps NEW to this batch — the index stays
          // fp-unique, so delta probes never fan out span rows
          SpanDedup.fpIndex(b, windowTokens, idCol, textCol)
            .join(older.select(col("fp")), Seq("fp"), "left_anti")
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(s"$outDir/fps")
        } finally { b.unpersist(); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** The deduped corpus so far: every ingested doc with its rewritten
    * text — equal to batch `excise` over the committed batches in
    * arrival order, with untouched docs passed through. */
  def cleanView(spark: SparkSession, outDir: String): DataFrame =
    readOrEmpty(spark, s"$outDir/clean", cleanSchema)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        col("clean_text"))
}
