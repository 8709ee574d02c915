package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Graph, Multimodal}
import graft.operators.Multimodal.{MediaDecoder, FakeDecoder}

/** Streaming cross-modal duplicate clustering — the ingestion-time
  * face of [[Multimodal.crossModalComponents]], closing the
  * incremental dedup story ACROSS modalities: as documents arrive,
  * paragraph-sharing text edges and perceptual media edges accumulate
  * delta-driven, and [[labelsView]] resolves them into the
  * per-cluster drop/keep decision. Per micro-batch:
  *
  *  1. one doc-local pass each for the batch's paragraph postings
  *     ([[Multimodal.paragraphKeys]]) and media feature/chunk keys
  *     ([[Multimodal.nearDupIndex]] — payloads never shuffle);
  *  2. probe BOTH accumulated indexes bucket-pruned: text star edges
  *     via [[Multimodal.paragraphEdgeIncrement]] (df-capped over the
  *     union frequency as of the batch), media pairs via
  *     [[Multimodal.nearDupIncrement]] (exact);
  *  3. the tagged edge union, then each leg's postings, commit in the
  *     [[TieredIndex.BatchSink]] order — replay-idempotent.
  *
  * Both indexes are [[TieredIndex]]es (LSM fold/merge, bucket-pruned
  * probes — the [[StreamCdc]] layout); `nBuckets` is immutable per
  * outDir.
  *
  * '''Law''': after any prefix of batches, [[labelsView]] EQUALS
  * batch [[Multimodal.crossModalComponents]] over the union of those
  * batches, PROVIDED no paragraph key crossed `maxParaDf` after its
  * edges were emitted (the media modality is exact; a crossing
  * deviates one-sided — the stream's clusters can be coarser than
  * the recompute's, never finer). Text edges may re-emit across
  * batches as keys gain members (the product is labels — duplicate
  * edges are free); media pairs emit exactly once. Doc ids must be
  * globally unique across batches. Views are consistent only between
  * batches. */
object StreamCrossModal {

  private val keySchemas = Map("text" -> "doc_id bigint, h bigint",
    "media" -> StreamMediaDedup.keySchema)
  private val pairSchema =
    "doc_a bigint, doc_b bigint, modality string, batch_id bigint"

  /** The `modality` ("text" or "media") index under `outDir` (see
    * [[TieredIndex]]). */
  private[graft] def index(outDir: String, modality: String) =
    new TieredIndex(s"$outDir/$modality", keySchemas(modality))

  /** Start the sink over a stream of `(doc_id, text)` rows. */
  def sink(docs: DataFrame, outDir: String, checkpoint: String,
      delimiter: String = " the ", minParaLen: Int = 20,
      maxParaDf: Int = 16, threshold: Double = 0.999,
      decoder: MediaDecoder = FakeDecoder, nBuckets: Int = 64,
      compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(outDir, delimiter, minParaLen, maxParaDf, threshold,
      decoder, nBuckets, compactEvery).start(docs, checkpoint)

  /** [[sink]]'s per-batch skeleton: two legs, the text leg's paragraph
    * postings (bucketed by paragraph hash) and the media leg's feature
    * rows (the [[StreamMediaDedup]] leg over the docs as media). */
  private[streaming] def batchSink(outDir: String, delimiter: String,
      minParaLen: Int, maxParaDf: Int, threshold: Double,
      decoder: MediaDecoder, nBuckets: Int, compactEvery: Int)
      : TieredIndex.BatchSink[Row] =
    new TieredIndex.BatchSink[Row]("StreamCrossModal", outDir, nBuckets,
      compactEvery, Seq(
        TieredIndex.Leg(index(outDir, "text"), col("h"),
          Multimodal.paragraphKeys(_, delimiter, minParaLen)),
        TieredIndex.Leg(index(outDir, "media"), StreamMediaDedup.bucket,
          batch => Multimodal.nearDupIndex(Multimodal.docsAsMedia(batch),
            decoder))))({
      case Seq((paras, paraCorpus), (mkeys, mediaCorpus)) =>
        val textEdges = Multimodal.paragraphEdgeIncrement(paras,
          paraCorpus, maxParaDf)
        val mediaEdges = Multimodal.nearDupIncrement(mkeys, mediaCorpus,
            threshold)
          .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
        textEdges.withColumn("modality", lit("text"))
          .unionByName(mediaEdges.withColumn("modality", lit("media")))
    })

  /** The accumulated cross-modal edge relation — `(doc_a, doc_b,
    * modality)`; text edges may repeat across batches (see object
    * doc). Empty (with the right schema) before the first batch. */
  def pairsView(spark: SparkSession, outDir: String): DataFrame =
    readOrEmpty(spark, s"$outDir/pairs", pairSchema)
      .select(col("doc_a"), col("doc_b"), col("modality"))

  /** The cross-modal duplicate clusters over everything ingested so
    * far: components of [[pairsView]] — equal to batch
    * [[Multimodal.crossModalComponents]] over the union of committed
    * batches under the cap proviso (object doc). `(node, component)`,
    * component = min reachable doc id; singletons omitted. */
  def labelsView(spark: SparkSession, outDir: String): DataFrame =
    Graph.connectedComponents(
      pairsView(spark, outDir).select(col("doc_a"), col("doc_b")))
}
