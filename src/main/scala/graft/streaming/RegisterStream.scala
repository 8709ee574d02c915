package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.LogParsers

/** J1 — registration analytics over an unbounded line stream
  * (reference RegisterStreaming.scala:66-101, rebuilt on event time).
  *
  * The reference computes two aggregations off one cached DStream: a
  * 60s/6s processing-time sliding window and an unbounded cumulative
  * count. Here both are declarative streaming aggregations over the same
  * parsed stream; the state store replaces `updateStateByKey`'s full-state
  * scan with incremental per-key updates, and the watermark bounds window
  * state (the reference has no late-data story at all — SURVEY.md §2.8).
  */
object RegisterStream {

  /** Parse a raw-line streaming DataFrame into typed register events. */
  def parse(lines: DataFrame): DataFrame = LogParsers.parseRegister(lines)

  /** Sliding-window per-platform counts (event-time, watermarked).
    * Append-mode compatible: windows finalize when the watermark passes. */
  def windowedCounts(registers: DataFrame, windowDur: String = "60 seconds",
      slideDur: String = "6 seconds",
      watermark: String = "30 seconds"): DataFrame =
    registers
      .withWatermark("createTime", watermark)
      .groupBy(window(col("createTime"), windowDur, slideDur),
        col("platform"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("platform"), col("n"))

  /** Cumulative per-platform totals since stream start (the
    * `updateStateByKey` equivalent): a running aggregate for
    * Update/Complete output mode. Keyspace = #platforms (tiny), so
    * Complete mode is safe here; for large keyspaces use
    * flatMapGroupsWithState with timeouts instead. */
  def cumulativeCounts(registers: DataFrame): DataFrame =
    registers.groupBy(col("platform")).agg(count(lit(1)).as("total"))

  /** Single-read dual aggregation (reference parity: one cached DStream
    * feeding both aggregations, RegisterStreaming.scala:88-101). One
    * foreachBatch computes BOTH aggregates per micro-batch from one
    * persisted batch and appends their *contributions* — both aggregates
    * are additive across batches (a window's count is the sum of each
    * batch's rows landing in it), so the read views below just sum.
    * Idempotence: contributions are partitioned by batch_id with dynamic
    * partition overwrite — a replayed batch overwrites its own partition,
    * never double-counts (unlike the reference, SURVEY.md §2.8). */
  def dualSink(parsed: DataFrame, outDir: String, checkpoint: String,
      windowDur: String = "60 seconds", slideDur: String = "6 seconds")
      : org.apache.spark.sql.streaming.StreamingQuery =
    parsed.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // rows without a parseable timestamp would be dropped by the
        // window expansion but counted by the totals — exclude them from
        // both so the two aggregates describe the same event set
        val b = batch.filter(col("createTime").isNotNull).persist()
        try {
          b.groupBy(window(col("createTime"), windowDur, slideDur),
              col("platform"))
            .agg(count(lit(1)).as("n"))
            .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"),
              col("platform"), col("n"), lit(batchId).as("batch_id"))
            .write.mode("overwrite").partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(s"$outDir/windowed")
          b.groupBy(col("platform")).agg(count(lit(1)).as("n"))
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(s"$outDir/totals")
        } finally { b.unpersist(); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** One batch_id partition accrues per micro-batch; [[compact]] retires
    * contributions older than the checkpoint horizon into one summed
    * generation partition — replay can only touch batch ids at or after
    * the last checkpointed offset commit, so compaction below that
    * watermark never races the overwrite. */
  private val windowedSchema =
    "window_start timestamp, window_end timestamp, platform string, " +
      "n bigint, batch_id bigint"
  private val totalsSchema = "platform string, n bigint, batch_id bigint"

  // ---- compaction ------------------------------------------------------
  //
  // Retired generations live in NEGATIVE batch_id partitions: generation
  // g is partition batch_id = -g (g ≥ 1). The manifest `_compaction`
  // holds "(gen, upTo)": the current generation and the highest retired
  // live batch id. Views read exactly {batch_id = -gen} ∪ {batch_id >
  // upTo}, so a crash anywhere in [[compact]] leaves them consistent:
  // the new generation partition is written FIRST (invisible until the
  // manifest swap), the manifest swap is a write-tmp/delete/rename, and
  // garbage collection of the old generation + retired live partitions
  // runs last (leftovers are excluded by the view filter either way).

  private def manifestPath(outDir: String) =
    new org.apache.hadoop.fs.Path(s"$outDir/_compaction")

  private[streaming] def readManifest(
      spark: org.apache.spark.sql.SparkSession,
      outDir: String): (Long, Long) = {
    val main = manifestPath(outDir)
    val tmp = new org.apache.hadoop.fs.Path(main.toString + ".tmp")
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // main is authoritative; a lone .tmp means the swap crashed between
    // delete and rename — the tmp content is complete by then
    val p = if (fs.exists(main)) Some(main)
    else if (fs.exists(tmp)) Some(tmp) else None
    p match {
      case None => (0L, -1L)
      case Some(f) =>
        val in = fs.open(f)
        try {
          val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          val Array(g, u) = s.split(" ")
          (g.toLong, u.toLong)
        } finally in.close()
    }
  }

  private def writeManifest(spark: org.apache.spark.sql.SparkSession,
      outDir: String, gen: Long, upTo: Long): Unit = {
    val main = manifestPath(outDir)
    val tmp = new org.apache.hadoop.fs.Path(main.toString + ".tmp")
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(s"$gen $upTo".getBytes("UTF-8")) finally out.close()
    fs.delete(main, false)
    if (!fs.rename(tmp, main))
      throw new java.io.IOException(s"manifest rename $tmp -> $main failed")
  }

  /** Contribution rows a reader should see: the current retired
    * generation plus live batches above the retirement horizon. */
  private def visible(spark: org.apache.spark.sql.SparkSession,
      outDir: String, path: String, schema: String): DataFrame = {
    val (gen, upTo) = readManifest(spark, outDir)
    readOrEmpty(spark, s"$outDir/$path", schema)
      .filter(col("batch_id") === lit(-gen) && lit(gen) > 0 ||
        col("batch_id") > lit(upTo))
  }

  /** Retire every live contribution partition with batch_id ≤ upToBatchId
    * into a single summed generation partition, in both stores, then
    * garbage-collect the retired partitions. Call with a horizon at or
    * below the last checkpoint-committed batch id: the stream can only
    * replay ids after that commit, so retirement never races a batch
    * overwrite. Views are identical before and after (the generation
    * partition carries exactly the retired partitions' sums). */
  def compact(spark: org.apache.spark.sql.SparkSession, outDir: String,
      upToBatchId: Long): Unit = {
    require(upToBatchId >= 0, s"upToBatchId must be >= 0, got $upToBatchId")
    val (gen, upTo) = readManifest(spark, outDir)
    if (upToBatchId <= upTo) return // nothing new to retire
    val newGen = gen + 1
    val fs = manifestPath(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    def retire(path: String, schema: String, groupCols: Seq[String]): Unit = {
      val src = readOrEmpty(spark, s"$outDir/$path", schema)
        .filter(col("batch_id") === lit(-gen) && lit(gen) > 0 ||
          (col("batch_id") > lit(upTo) && col("batch_id") <= lit(upToBatchId)))
      val agg = src.groupBy(groupCols.map(col): _*)
        .agg(sum(col("n")).as("n"))
        .withColumn("batch_id", lit(-newGen))
        .select((groupCols :+ "n" :+ "batch_id").map(col): _*)
      // stage outside the store (a path cannot be overwritten while it
      // is being read), then land it in the new generation partition
      val stage = s"$outDir/${path}_compact_stage"
      agg.write.mode("overwrite").parquet(stage)
      spark.read.parquet(stage)
        .write.mode("overwrite").partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(s"$outDir/$path")
      fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    }

    retire("windowed", windowedSchema,
      Seq("window_start", "window_end", "platform"))
    retire("totals", totalsSchema, Seq("platform"))

    // commit point: views switch to the new generation atomically
    writeManifest(spark, outDir, newGen, upToBatchId)

    // GC (crash-safe: everything deleted here is already invisible)
    for (path <- Seq("windowed", "totals")) {
      val root = new org.apache.hadoop.fs.Path(s"$outDir/$path")
      if (fs.exists(root)) {
        for (st <- fs.listStatus(root)) {
          val name = st.getPath.getName
          if (name.startsWith("batch_id=")) {
            val id = name.stripPrefix("batch_id=").toLong
            if ((id < 0 && id != -newGen) || (id >= 0 && id <= upToBatchId))
              fs.delete(st.getPath, true)
          }
        }
      }
    }
  }

  /** Batches committed to BOTH stores. The two writes of one batch are
    * not atomic together, so a reader racing batch N's commit could see
    * its windowed contribution but not yet its totals; restricting every
    * view to the common batch-id set keeps the two views describing the
    * same event set at all times. (A retired generation is written to
    * both stores before the manifest swap, so it passes the same guard.) */
  private def committedBoth(spark: org.apache.spark.sql.SparkSession,
      outDir: String): DataFrame =
    visible(spark, outDir, "windowed", windowedSchema)
      .select(col("batch_id")).distinct()
      .join(visible(spark, outDir, "totals", totalsSchema)
        .select(col("batch_id")).distinct(), Seq("batch_id"), "inner")

  /** Read view over [[dualSink]]'s windowed contributions. Empty (with
    * the right schema) before the first batch commits. */
  def windowedView(spark: org.apache.spark.sql.SparkSession,
      outDir: String): DataFrame =
    visible(spark, outDir, "windowed", windowedSchema)
      .join(committedBoth(spark, outDir), Seq("batch_id"), "left_semi")
      .groupBy(col("window_start"), col("window_end"), col("platform"))
      .agg(sum(col("n")).as("n"))

  /** Read view over [[dualSink]]'s cumulative contributions. Empty (with
    * the right schema) before the first batch commits. */
  def totalsView(spark: org.apache.spark.sql.SparkSession,
      outDir: String): DataFrame =
    visible(spark, outDir, "totals", totalsSchema)
      .join(committedBoth(spark, outDir), Seq("batch_id"), "left_semi")
      .groupBy(col("platform")).agg(sum(col("n")).as("total"))
}
