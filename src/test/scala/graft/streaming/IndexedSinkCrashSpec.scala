package graft.streaming

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset}

import graft.SparkTestBase
import graft.operators.Multimodal
import graft.operators.Multimodal.{FakeDecoder, MediaRecord}

/** Crash-injection law for the four incremental-index sinks: a batch
  * stopped after any commit point — the pairs write, each index
  * append, each index maintain — and replayed under the same batch id
  * leaves `pairsView` and every index view equal to an uninterrupted
  * run. The crash lands on the last of three batches, whose maintain
  * folds the two before it (`compactEvery = 2`). */
class IndexedSinkCrashSpec extends SparkTestBase {
  import spark.implicits._

  /** One sink under test: its per-batch core over an outDir, batches
    * 0..2, its pairs view and its indexes. */
  private case class Family[T](name: String,
      batchSink: String => TieredIndex.BatchSink[T],
      batches: Seq[Dataset[T]], pairsView: String => DataFrame,
      indexes: String => Seq[TieredIndex])

  private val sharedA = (0 until 60).map(k => s"shared$k").mkString(" ")
  private val sharedB = (0 until 60).map(k => s"other$k").mkString(" ")
  private def noise(seed: String, n: Int): String =
    (0 until n).map(i => seed + i).mkString(" ")

  private def image(id: Long, seed: Int): MediaRecord = {
    val r = new scala.util.Random(seed)
    MediaRecord(id, "image/fake", Array.fill(400)(r.nextInt(256).toByte),
      32, 32, 0L)
  }
  private def video(id: Long, seeds: Int*): MediaRecord =
    MediaRecord(id, "video/fake", seeds.toArray.flatMap { s =>
      val r = new scala.util.Random(s)
      Array.fill(Multimodal.FrameBytes)(r.nextInt(256).toByte)
    }, 32, 32, 0L)

  /** Two paragraphs joined by the cross-modal delimiter. */
  private def paras(a: Int, b: Int): String =
    Seq(a, b).map(p => (0 until 8).map(k => s"w$p$k").mkString(" "))
      .mkString(" the ")

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private val families: Seq[Family[_]] = Seq(
    // the cap sits at sharedA's final document frequency (4): a replay
    // whose probe saw its own appended keys would count them twice and
    // drop the last batch's sharedA pairs
    Family("StreamCdc",
      StreamCdc.batchSink(_, w = 16, maskBits = 6, minLen = 24,
        minSharedBytes = 48, maxDocsPerChunk = 4, idCol = "doc_id",
        textCol = "text", minChunk = 1, maxChunk = Int.MaxValue,
        nBuckets = 4, compactEvery = 2),
      Seq(
        docs((1L, noise("a", 10) + " " + sharedA),
          (2L, sharedA + " " + noise("b", 10))),
        docs((3L, noise("c", 6) + " " + sharedA + " " + noise("d", 6)),
          (4L, sharedB + " " + noise("m", 5))),
        docs((5L, noise("n", 7) + " " + sharedB),
          (6L, sharedA + " " + noise("p", 9)))),
      StreamCdc.pairsView(spark, _), out => Seq(StreamCdc.index(out))),
    Family("StreamMediaDedup",
      StreamMediaDedup.batchSink(_, threshold = 0.999,
        decoder = FakeDecoder, nBuckets = 4, compactEvery = 2),
      Seq(Seq(image(1L, 10), image(2L, 20)),
        Seq(image(3L, 10), image(4L, 30)),
        Seq(image(5L, 20), image(6L, 30))).map(_.toDS()),
      StreamMediaDedup.pairsView(spark, _),
      out => Seq(StreamMediaDedup.index(out))),
    Family("StreamFrameOverlap",
      StreamFrameOverlap.batchSink(_, stride = 1, minSharedFrames = 2,
        maxMediaPerFrame = 64, decoder = FakeDecoder, nBuckets = 4,
        compactEvery = 2),
      Seq(Seq(video(1L, 10, 11), video(2L, 10, 11, 20)),
        Seq(video(3L, 10, 11), video(4L, 40, 41)),
        Seq(video(5L, 40, 41, 50), video(6L, 50, 20, 10, 11)))
        .map(_.toDS()),
      StreamFrameOverlap.pairsView(spark, _),
      out => Seq(StreamFrameOverlap.index(out))),
    Family("StreamCrossModal",
      StreamCrossModal.batchSink(_, delimiter = " the ", minParaLen = 20,
        maxParaDf = 16, threshold = 0.999, decoder = FakeDecoder,
        nBuckets = 4, compactEvery = 2),
      Seq(docs((1L, paras(1, 2)), (2L, paras(1, 3))),
        docs((3L, paras(1, 2))),
        docs((4L, paras(5, 3)), (5L, paras(5, 3)))),
      StreamCrossModal.pairsView(spark, _),
      out => Seq("text", "media").map(StreamCrossModal.index(out, _))))

  /** The law for one family: the batches before the last run once,
    * and every run replays the last batch on a copy of that state. */
  private def check[T](f: Family[T]): Unit = {
    val prefix = Files.createTempDirectory(s"crash_${f.name}").toFile
    f.batches.init.zipWithIndex.foreach { case (b, i) =>
      f.batchSink(prefix.toString).foldBatch(b, i.toLong) }
    val last = f.batches.size - 1L
    // the views (each a sorted row list, so a duplicated row shows),
    // each index's fold high-water mark and the commit count
    def run(crashAfter: Option[Int]): (Seq[Seq[String]], Seq[Long], Int) = {
      val out = Files.createTempDirectory(s"crash_${f.name}").toFile
      FileUtils.copyDirectory(prefix, out)
      val sink = f.batchSink(out.toString)
      crashAfter.foreach(sink.foldBatch(f.batches.last, last, _))
      val n = sink.foldBatch(f.batches.last, last)
      val indexes = f.indexes(out.toString)
      val views = (f.pairsView(out.toString) +: indexes.map(
          _.corpusKeys(spark, batchId = Long.MaxValue, buckets = None)))
        .map(_.collect().map(_.toString).sorted.toSeq)
      (views, indexes.map(_.maxUpto(spark)), n)
    }
    val (expected, folded, n) = run(crashAfter = None)
    // every commit point is real: pairs exist (of both legs for the
    // cross-modal sink), and the last batch's maintain folded each index
    assert(expected.head.nonEmpty, f.name)
    if (f.name == "StreamCrossModal")
      assert(Seq("text", "media").forall(m =>
        expected.head.exists(_.endsWith(s",$m]"))), expected.head)
    assert(folded.forall(_ == last - 1), s"${f.name}: $folded")
    assert(n === 1 + 2 * folded.size, f.name)
    (1 to n).foreach { k =>
      assert(run(crashAfter = Some(k))._1 === expected,
        s"${f.name} stopped after commit $k of $n")
    }
  }

  test("a batch stopped after any commit point and replayed with the " +
    "same batch id leaves pairsView and every index view equal to an " +
    "uninterrupted run — all four incremental-index sinks") {
    families.foreach(check(_))
  }
}
