package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** A bucket-partitioned, LSM-tiered parquet key index — the persisted
  * state behind the four incremental-index sinks: [[StreamCdc]] (CDC
  * chunk keys), [[StreamMediaDedup]] (perceptual features),
  * [[StreamFrameOverlap]] (frame postings) and [[StreamCrossModal]]
  * (two indexes: paragraph postings and media features). One instance
  * manages one `outDir`; rows are fixed-width key tuples (`keySchema`)
  * plus a precomputed `bucket` partition column whose modulus is
  * immutable per outDir.
  *
  * '''The sinks' commit order lives here.''' All four sinks run one
  * per-batch skeleton, [[TieredIndex.BatchSink]]: a family supplies
  * only its index legs (key schema, bucket expression, batch → keys)
  * and its increment ((batch keys, corpus keys) per leg → pairs). Per
  * micro-batch the skeleton probes each leg's strictly-older corpus,
  * then commits in this order: the `outDir/pairs` write, each leg's
  * [[append]], each leg's [[maintain]]. Every commit is idempotent
  * under a replay of the same batch id — the pairs and append writes
  * are dynamic overwrites of that batch's own partitions, the probe
  * never sees the batch's own keys, and maintenance folds only
  * strictly older batches — so a crash after any prefix of the
  * sequence replays to the uninterrupted result (law-tested per
  * commit point).
  *
  * '''Layout''' (two tiers, the [[graft.operators.IvfIndex]]
  * discipline):
  *
  *  - '''recent tier''' `outDir/chunks/batch_id=N/bucket=B/` — one dir
  *    per micro-batch, written with dynamic partition overwrite so a
  *    replayed batch overwrites exactly its own contribution.
  *  - '''base tier''' `outDir/chunks_base/e<E>_from<M>_upto<N>/bucket=B/`
  *    — folded epochs, each covering the contiguous batch-id range
  *    [M, N]. Epoch numbers E are globally monotone (one per fold or
  *    merge, never reused — `nextEpoch` counts torn dirs too, so a
  *    crashed attempt never collides with a later one).
  *
  * '''LSM maintenance, off the O(corpus) hot path.''' Every
  * `compactEvery` committed recent dirs FOLD into one new epoch —
  * reading ONLY those recent dirs, an O(compactEvery batches) step,
  * never the base. Separately, at most ONE size-tiered MERGE runs per
  * maintenance call: the newest adjacent live-epoch pair (by batch
  * range) with `size(newer) >= size(older)` (sizes in covered
  * batches) folds into one epoch — reading ONLY those two dirs. The
  * binary-counter invariant keeps O(log n) live epochs, total write
  * amplification O(log n) per key, and the per-trigger maintenance
  * stall bounded by one similar-sized merge — a full-base rewrite
  * happens only at corpus-doubling points, amortized O(1) rows per
  * batch, instead of every `compactEvery` batches (the round-15
  * full-base fold this replaces). Merges that lag a burst of folds
  * only lengthen the live-epoch list temporarily — probes read a LIST
  * of epochs, so correctness never depends on the merge schedule.
  *
  * '''Crash safety''' (single maintaining writer per outDir — the
  * streaming sink; readers are free):
  *
  *  - an epoch becomes visible only when its parquet `_SUCCESS`
  *    lands; a torn fold/merge is invisible to [[liveEpochs]];
  *  - the live set = committed epochs, newest epoch first, greedily
  *    keeping each epoch whose batch range does not overlap an
  *    already-kept one — so a committed merge supersedes exactly the
  *    epochs it covered, even before they are deleted;
  *  - every delete removes data that is already unreadable: committed
  *    epochs outside the live set, torn dirs with epoch ≤ the highest
  *    live epoch (higher-numbered torn dirs may belong to the
  *    in-flight attempt of this same writer and are left alone —
  *    they become sweepable once a later epoch commits), and recent
  *    dirs at batch_id ≤ the live set's high-water mark;
  *  - only checkpoint-committed batches (strictly older than the
  *    in-flight one) are ever folded, so a replayed batch never meets
  *    its own keys in the base tier.
  *
  * '''Legacy layouts.''' Round-15 indexes (`e<E>_upto<N>` epoch names,
  * `cdc_meta`) read and maintain transparently (`from` defaults to 0 —
  * the old single-epoch base covered [0, N]). The pre-bucket FLAT
  * layout (batch dirs without `bucket=` children, no meta) is
  * detected at [[ensureNBuckets]] and fails loudly: its postings
  * carry no bucket value, so a pruned probe would silently drop every
  * legacy row.
  */
private[graft] final class TieredIndex(outDir: String, keySchema: String) {

  private val keyCols: Seq[String] =
    StructType.fromDDL(keySchema).fields.map(_.name).toSeq
  private val epochSchema = s"$keySchema, bucket int"
  private val recentSchema = s"$keySchema, batch_id bigint, bucket int"

  private def fs(spark: SparkSession) =
    new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One committed base-tier epoch: covers batch ids [from, upto]. */
  private[graft] case class Epoch(epoch: Long, from: Long, upto: Long,
      path: String) {
    def size: Long = upto - from + 1
    def overlaps(o: Epoch): Boolean = from <= o.upto && o.from <= upto
  }

  private val EpochDir = """e(\d+)_from(\d+)_upto(\d+)""".r
  private val LegacyDir = """e(\d+)_upto(\d+)""".r

  /** All epoch-named dirs, committed or torn:
    * `(epoch, from, upto, path, committed)`. */
  private def epochDirs(spark: SparkSession)
      : Seq[(Long, Long, Long, String, Boolean)] = {
    val root = new Path(s"$outDir/chunks_base")
    val f = fs(spark)
    if (!f.exists(root)) return Nil
    f.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      val committed = f.exists(new Path(st.getPath, "_SUCCESS"))
      st.getPath.getName match {
        case EpochDir(e, m, n) =>
          Some((e.toLong, m.toLong, n.toLong, st.getPath.toString,
            committed))
        case LegacyDir(e, n) => // round-15 naming: one epoch from 0
          Some((e.toLong, 0L, n.toLong, st.getPath.toString, committed))
        case _ => None
      }
    }
  }

  /** The committed epochs a reader uses, newest first: greedy
    * non-overlap selection by descending epoch — a committed merge
    * supersedes the epochs it covers even before cleanup deletes
    * them. */
  private[graft] def liveEpochs(spark: SparkSession): Seq[Epoch] = {
    val committed = epochDirs(spark).filter(_._5)
      .map { case (e, m, n, p, _) => Epoch(e, m, n, p) }
      .sortBy(-_.epoch)
    committed.foldLeft(Vector.empty[Epoch]) { (kept, c) =>
      if (kept.exists(_.overlaps(c))) kept else kept :+ c
    }
  }

  /** Highest batch id folded into the base tier (-1 = nothing). */
  private[graft] def maxUpto(spark: SparkSession): Long =
    liveEpochs(spark).map(_.upto).maxOption.getOrElse(-1L)

  private def nextEpoch(spark: SparkSession): Long =
    epochDirs(spark).map(_._1).maxOption.getOrElse(0L) + 1

  /** The key relation visible to batch `batchId`, bucket-pruned to
    * `buckets` (None = all buckets — the full-view read): every live
    * base epoch ∪ recent batch dirs in (maxUpto, batchId). The bucket
    * predicates and the batch_id predicate are PARTITION filters on
    * every scan — only directories that can hold a matching key are
    * read. */
  private[graft] def corpusKeys(spark: SparkSession, batchId: Long,
      buckets: Option[Seq[Int]]): DataFrame = {
    val upto = maxUpto(spark)
    def pruned(df: DataFrame): DataFrame = buckets match {
      case Some(bs) => df.filter(col("bucket").isin(bs.map(Int.box): _*))
      case None => df
    }
    val keys = keyCols.map(col)
    val base = liveEpochs(spark)
      .map(e => pruned(spark.read.schema(epochSchema).parquet(e.path))
        .select(keys: _*))
      .reduceOption(_ unionByName _)
      .getOrElse(readOrEmpty(spark, s"$outDir/__none__", epochSchema)
        .select(keys: _*))
    val recent = pruned(
      readOrEmpty(spark, s"$outDir/chunks", recentSchema)
        .filter(col("batch_id") > upto && col("batch_id") < batchId))
      .select(keys: _*)
    base.unionByName(recent)
  }

  /** Append one micro-batch's keys (key columns + `bucket`) — dynamic
    * partition overwrite, so a replayed batch overwrites exactly its
    * own contribution. */
  private[graft] def append(keys: DataFrame, batchId: Long): Unit =
    keys.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").partitionBy("batch_id", "bucket")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$outDir/chunks")

  private def committedRecentIds(spark: SparkSession, upto: Long,
      below: Long): Seq[Long] = {
    val root = new Path(s"$outDir/chunks")
    val f = fs(spark)
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("batch_id="))
      .flatMap(_.getPath.getName.stripPrefix("batch_id=").toLongOption)
      .filter(b => b > upto && b < below)
  }

  /** Fold committed recent batches (ids in (maxUpto, upTo]) into ONE
    * new epoch — reads only those recent dirs, never the base.
    * Idempotent: a crashed attempt that already committed (maxUpto ≥
    * upTo) is a no-op on retry. */
  private def fold(spark: SparkSession, upTo: Long): Unit = {
    val upto = maxUpto(spark)
    if (upto >= upTo) return
    val target =
      s"$outDir/chunks_base/e${nextEpoch(spark)}_from${upto + 1}_upto$upTo"
    readOrEmpty(spark, s"$outDir/chunks", recentSchema)
      .filter(col("batch_id") > upto && col("batch_id") <= upTo)
      .select((keyCols :+ "bucket").map(col): _*)
      .write.mode("overwrite").partitionBy("bucket").parquet(target)
  }

  /** At most one size-tiered merge: the newest adjacent live pair with
    * `size(newer) >= size(older)` folds into one epoch, reading ONLY
    * those two dirs (law-tested — the older, larger epochs are never
    * touched until their own doubling point). */
  private def mergeOnce(spark: SparkSession): Unit = {
    val live = liveEpochs(spark).sortBy(_.from)
    val candidate = live.zip(live.drop(1)).reverseIterator
      .find { case (older, newer) => newer.size >= older.size }
    candidate.foreach { case (older, newer) =>
      val target = s"$outDir/chunks_base/" +
        s"e${nextEpoch(spark)}_from${older.from}_upto${newer.upto}"
      // separate reads per root: multi-path partition discovery
      // rejects sibling roots as conflicting directory structures
      spark.read.schema(epochSchema).parquet(older.path)
        .unionByName(spark.read.schema(epochSchema).parquet(newer.path))
        .select((keyCols :+ "bucket").map(col): _*)
        .write.mode("overwrite").partitionBy("bucket").parquet(target)
    }
  }

  /** Delete everything already unreadable: committed epochs outside
    * the live set, torn epoch dirs at epoch ≤ the highest live epoch
    * (a crashed fold/merge — higher-numbered torn dirs may be this
    * writer's in-flight attempt and become sweepable once a later
    * epoch commits), and recent dirs folded into the base. */
  private def cleanup(spark: SparkSession): Unit = {
    val f = fs(spark)
    val live = liveEpochs(spark)
    val livePaths = live.map(_.path).toSet
    val maxLiveEpoch = live.map(_.epoch).maxOption.getOrElse(-1L)
    epochDirs(spark).foreach { case (e, _, _, p, committed) =>
      val superseded = committed && !livePaths.contains(p)
      val tornStale = !committed && e <= maxLiveEpoch
      if (superseded || tornStale) { f.delete(new Path(p), true); () }
    }
    val upto = maxUpto(spark)
    val chunksRoot = new Path(s"$outDir/chunks")
    if (f.exists(chunksRoot))
      f.listStatus(chunksRoot).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("batch_id=") &&
          st.getPath.getName.stripPrefix("batch_id=").toLongOption
            .exists(_ <= upto))
        .foreach(st => { f.delete(st.getPath, true); () })
  }

  /** Per-trigger maintenance: fold once `compactEvery` committed
    * recent dirs accumulate (strictly older than the in-flight
    * `batchId` — they can never replay), then at most one size-tiered
    * merge, then sweep unreadable dirs. Every step is bounded by the
    * tiers it touches; the base is never rewritten wholesale except
    * at its own doubling point. */
  private[graft] def maintain(spark: SparkSession, batchId: Long,
      compactEvery: Int): Unit = {
    if (committedRecentIds(spark, maxUpto(spark), batchId).size >=
        compactEvery)
      fold(spark, upTo = batchId - 1)
    mergeOnce(spark)
    cleanup(spark)
  }

  // ---- bucket-count metadata ------------------------------------

  private def metaPath = s"$outDir/index_meta"
  private def legacyMetaPath = s"$outDir/cdc_meta"

  private def existingMetaPath(spark: SparkSession): Option[String] = {
    val f = fs(spark)
    if (f.exists(new Path(metaPath))) Some(metaPath)
    else if (f.exists(new Path(legacyMetaPath))) Some(legacyMetaPath)
    else None
  }

  private[graft] def readNBuckets(spark: SparkSession): Int = {
    val p = existingMetaPath(spark).getOrElse(metaPath)
    try spark.read.parquet(p)
      .select(col("n_buckets").cast("int")).collect()(0).getInt(0)
    catch {
      case e: Exception => throw new IllegalStateException(
        s"TieredIndex: cannot read bucket-count metadata at $p — the " +
          "meta is torn or corrupt (a crash between meta-dir creation " +
          "and parquet commit leaves an unreadable dir); delete the " +
          "meta dir and restart the sink with the original nBuckets, " +
          "or rebuild the index", e)
    }
  }

  /** Detect the pre-bucket FLAT layout: recent batch dirs whose
    * children are data files rather than `bucket=` subdirs, or an
    * index with chunk data but no meta. Such postings carry no bucket
    * partition value — a pruned probe would silently drop them. */
  private def rejectLegacyFlatLayout(spark: SparkSession): Unit = {
    val f = fs(spark)
    val chunksRoot = new Path(s"$outDir/chunks")
    val hasChunks = f.exists(chunksRoot) &&
      f.listStatus(chunksRoot).exists(st => st.isDirectory &&
        st.getPath.getName.startsWith("batch_id="))
    val hasBase = f.exists(new Path(s"$outDir/chunks_base"))
    def fail(what: String) = throw new IllegalStateException(
      s"TieredIndex: the index at $outDir uses the legacy FLAT layout " +
        s"($what) — its postings carry no bucket partition value, so " +
        "bucket-pruned probes would silently drop every legacy row. " +
        "Rebuild the index (wipe outDir + checkpoint and replay), or " +
        "migrate: rewrite each batch_id dir partitioned by " +
        "bucket = pmod(<fingerprint>, nBuckets) and write the meta.")
    if ((hasChunks || hasBase) && existingMetaPath(spark).isEmpty)
      fail("no bucket-count meta")
    if (hasChunks) {
      val firstBatch = f.listStatus(chunksRoot)
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("batch_id=")).headOption
      firstBatch.foreach { st =>
        val children = f.listStatus(st.getPath)
        val hasBucketDirs = children.exists(c => c.isDirectory &&
          c.getPath.getName.startsWith("bucket="))
        val hasLooseData = children.exists(c => !c.isDirectory &&
          !c.getPath.getName.startsWith("_") &&
          !c.getPath.getName.startsWith("."))
        if (!hasBucketDirs && hasLooseData)
          fail(s"${st.getPath.getName} has data files but no bucket= " +
            "partitions")
      }
    }
  }

  /** Record `nBuckets` once per outDir (atomically — write to a temp
    * dir, rename into place; if another sink won the race, validate
    * against the winner); later sinks must match, since the modulus
    * is baked into every on-disk partition value. Also rejects the
    * legacy flat layout — see [[rejectLegacyFlatLayout]]. */
  private[graft] def ensureNBuckets(spark: SparkSession,
      nBuckets: Int): Unit = {
    rejectLegacyFlatLayout(spark)
    val f = fs(spark)
    def validate(): Unit = {
      val stored = readNBuckets(spark)
      require(stored == nBuckets,
        s"TieredIndex: index at $outDir was built with " +
          s"nBuckets=$stored, got $nBuckets — the bucket modulus " +
          "cannot change")
    }
    if (existingMetaPath(spark).isDefined) { validate(); return }
    import spark.implicits._
    val tmp = new Path(s"$outDir/index_meta__tmp")
    f.delete(tmp, true) // a crashed previous attempt
    Seq(nBuckets).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    if (!f.rename(tmp, new Path(metaPath))) {
      // another sink created the meta concurrently — theirs is
      // authoritative
      f.delete(tmp, true)
      validate()
    }
  }
}

private[graft] object TieredIndex {

  /** One index of an incremental-index sink: the index, the bucket
    * expression over its key rows (taken `pmod nBuckets`), and the
    * doc-local pass that turns a micro-batch into key rows. */
  final case class Leg[T](index: TieredIndex, bucket: Column,
      keys: Dataset[T] => DataFrame)

  /** The per-batch skeleton of an incremental-index sink (see the
    * class doc): `increment` maps each leg's (batch keys, corpus keys),
    * in leg order, to the batch's pairs. `nBuckets` is immutable per
    * index (checked on every batch); `compactEvery` committed recent
    * batches fold into a base epoch. */
  final class BatchSink[T](family: String, outDir: String,
      nBuckets: Int, compactEvery: Int, legs: Seq[Leg[T]])(
      increment: Seq[(DataFrame, DataFrame)] => DataFrame) {
    require(nBuckets >= 1,
      s"$family: nBuckets must be >= 1, got $nBuckets")
    require(compactEvery >= 2,
      s"$family: compactEvery must be >= 2, got $compactEvery")

    /** One micro-batch (the testable core; [[start]] adapts it to
      * `foreachBatch`): decode and bucket each leg's keys once, probe
      * each index, then run the batch's commits in order — the pairs
      * write, each leg's append, each leg's maintain — stopping after
      * the first `stopAfter` of them (a crash at that commit point).
      * Returns the number of commits in the sequence. */
    private[streaming] def foldBatch(batch: Dataset[T], batchId: Long,
        stopAfter: Int = Int.MaxValue): Int = {
      val spark = batch.sparkSession
      legs.foreach(_.index.ensureNBuckets(spark, nBuckets))
      val keys = legs.map(l => l.keys(batch)
        .withColumn("bucket", pmod(l.bucket, lit(nBuckets)).cast("int"))
        .persist(StorageLevel.MEMORY_AND_DISK))
      try {
        val probes = legs.zip(keys).map { case (l, k) =>
          // the batch's buckets (≤ nBuckets values — a bounded collect)
          // become partition filters on the index read; strictly-older
          // batches only, so a replayed batch never sees its own
          // crashed partial write as corpus
          val buckets = k.select(col("bucket")).distinct()
            .collect().map(_.getInt(0)).toSeq
          (k.drop("bucket"),
            l.index.corpusKeys(spark, batchId, Some(buckets)))
        }
        val commits: Seq[() => Unit] =
          (() => increment(probes).withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(s"$outDir/pairs")) +:
            (legs.zip(keys).map { case (l, k) =>
              () => l.index.append(k, batchId) } ++
              legs.map(l =>
                () => l.index.maintain(spark, batchId, compactEvery)))
        commits.take(stopAfter).foreach(_())
        commits.size
      } finally keys.foreach(_.unpersist())
    }

    def start(stream: Dataset[T], checkpoint: String): StreamingQuery =
      stream.writeStream
        .foreachBatch { (batch: Dataset[T], batchId: Long) =>
          foldBatch(batch, batchId); () }
        .option("checkpointLocation", checkpoint)
        .start()
  }
}
