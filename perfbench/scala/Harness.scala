package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.{Artifacts, Engine, SparkEntry}
import graft.analytics.{PageAnalytics, QzMastery, RegisterAnalytics}
import graft.sources.{LogParsers, StreamSources}
import graft.sources.Models.QzEvent
import graft.streaming.{KeyedUpsertSink, PageStream, QzMasteryStream, RawArchive, RegisterStream}

/** Spans at the harness's own call boundaries, kept in memory and written
  * with the record. Times are epoch milliseconds with sub-ms precision, so
  * they line up with `StreamingQueryProgress` timestamps. With tracing off
  * every call is a pass-through. */
final class Tracer(val on: Boolean) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val ids = new AtomicLong
  private val costNs = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Map[String, Any]]()

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def overheadMs: Double = costNs.get / 1e6

  def span[T](name: String, layer: String, parent: Long = 0L,
      attrs: Map[String, Any] = Map.empty)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val c0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val start = nowMs
      costNs.addAndGet(System.nanoTime() - c0)
      try body(id)
      finally {
        val c1 = System.nanoTime()
        spans.add(Map("id" -> id, "parent" -> parent, "name" -> name,
          "layer" -> layer, "start_ms" -> start, "end_ms" -> nowMs) ++ attrs)
        costNs.addAndGet(System.nanoTime() - c1)
      }
    }
}

/** Task metrics per scope. A scope is the local property
  * `perfbench.scope` of the thread that submitted the job, or the name of
  * the streaming query that ran it. */
final class ScopeMetrics(queryNames: String => Option[String])
    extends SparkListener {
  private val stageScope = new java.util.concurrent.ConcurrentHashMap[Int, String]
  val totals = new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]
  // task cpu s, gc s, shuffle read bytes, spill bytes, input bytes
  private def slot(scope: String) =
    totals.computeIfAbsent(scope, _ => new Array[Double](5))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val p = Option(e.properties)
    val scope = p.flatMap(x => Option(x.getProperty("perfbench.scope")))
      .orElse(p.flatMap(x => Option(x.getProperty("sql.streaming.queryId")))
        .flatMap(queryNames))
      .getOrElse("other")
    stageScope.put(e.stageInfo.stageId, scope)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val s = slot(stageScope.getOrDefault(e.stageId, "other"))
      s.synchronized {
        s(0) += m.executorCpuTime / 1e9
        s(1) += m.jvmGCTime / 1e3
        s(2) += m.shuffleReadMetrics.totalBytesRead.toDouble
        s(3) += (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
        s(4) += m.inputMetrics.bytesRead.toDouble
      }
    }

  def snapshot: Map[String, Map[String, Double]] =
    totals.asScala.map { case (k, v) =>
      k -> Map("task_cpu_s" -> v(0), "gc_s" -> v(1),
        "shuffle_read_bytes" -> v(2), "spill_bytes" -> v(3),
        "input_bytes" -> v(4))
    }.toMap
}

/** Runs one benchmark workload against the engine's public API and writes
  * a raw JSON record (timings, progress events, checks, failures, spans)
  * that `run.py` turns into metrics.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --run-dir D
  *       --bench-dir B --out F
  */
object Harness {
  val Jobs = Seq("j1", "j2", "j3", "j4")
  val Dirs = Map("j1" -> "register", "j2" -> "qz", "j3" -> "page", "j4" -> "raw")
  val TriggerMs = 3000L
  val GraceMs = 60000L
  val BatchQueries = Seq(
    "q1_platform_agg", "q2_sliding_window", "q3_cumulative_daily",
    "q4_qz_mastery", "q5_props_extract", "q6_day_buckets",
    "q15_page_conversion",
    "x84_ann_ivfpq", "x97_ann_delta", "x92_lm_score", "x94_ppl_buckets",
    "x101_jaccard_delta")
  /** The mix's queries that load a model through `Artifacts.cached`. */
  val ArtifactQueries = Seq("x97_ann_delta")

  final case class Ctx(spark: SparkSession, tr: Tracer, seed: Long,
      seconds: Double, runDir: String, benchDir: String) {
    private val failures = mutable.LinkedHashMap[String, Long]()
    val checks = new ConcurrentLinkedQueue[Map[String, Any]]()
    val rec = mutable.LinkedHashMap[String, Any]()
    val progress = new ConcurrentLinkedQueue[String]()
    val upserts = new ConcurrentLinkedQueue[Map[String, Any]]()
    val queryNames = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val attempted = new AtomicLong

    /** Every failure increments a named field of the record. */
    def count(field: String): Unit = synchronized {
      failures(field) = failures.getOrElse(field, 0L) + 1
    }
    def fail(field: String, e: Throwable): Unit = {
      count(field)
      System.err.println(s"[perfbench] $field: ${e.getClass.getName}: " +
        s"${e.getMessage}")
    }
    def failureCounts: Map[String, Long] = synchronized(failures.toMap)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val tr = new Tracer(a("trace") == "1")
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = tr.span("Engine.session", "Engine") { _ =>
      Engine.session(master = s"local[$cores]", shufflePartitions = cores,
        appName = "perfbench")
    }
    val sessionS = (System.nanoTime() - t0) / 1e9
    val c = Ctx(spark, tr, a("seed").toLong, a("seconds").toDouble,
      a("run-dir"), a("bench-dir"))
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        Option(e.name).foreach(n => c.queryNames.put(e.id.toString, n))
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        c.progress.add(e.progress.json)
      def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        e.exception.foreach(m => c.fail("query_terminated",
          new RuntimeException(m)))
    })
    val scopes = new ScopeMetrics(id => Option(c.queryNames.get(id)))
    if (tr.on) spark.sparkContext.addSparkListener(scopes)

    c.rec("env") = Map("nproc" -> cores, "master" -> spark.sparkContext.master,
      "cores" -> spark.sparkContext.defaultParallelism,
      "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version, "seed" -> c.seed, "workload" -> workload,
      "sf" -> (if (workload == "batch_mix") "0.01" else "n/a"),
      "trigger_ms" -> TriggerMs, "seconds" -> c.seconds)
    c.rec("engine_session_s") = sessionS
    try workload match {
      case "live_ref" => liveRef(c)
      case "catchup_restart" => catchupRestart(c)
      case "batch_mix" => batchMix(c)
      case other => throw new IllegalArgumentException(s"workload $other")
    } catch {
      case e: Throwable => c.fail("workload_aborted", e)
    } finally {
      spark.streams.active.foreach { q =>
        try q.stop() catch { case e: Throwable => c.fail("query_stop", e) }
      }
    }
    c.rec("progress") = c.progress.asScala.toSeq
    c.rec("checks") = c.checks.asScala.toSeq
    c.rec("failures") = c.failureCounts
    c.rec("attempted") = c.attempted.get
    c.rec("upserts") = c.upserts.asScala.toSeq
    c.rec("peak_rss_mb") = peakRssMb()
    c.rec("trace_overhead_ms") = tr.overheadMs
    if (tr.on) {
      // listener events are delivered asynchronously
      Thread.sleep(500)
      c.rec("spans") = tr.spans.asScala.toSeq
      c.rec("scopes") = scopes.snapshot
    }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(a("out")),
      mapper.writeValueAsString(c.rec.toMap))
    spark.stop()
  }

  /** CPU time of this JVM, all threads, in seconds. */
  def cpuS(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  // ---- inputs ------------------------------------------------------------

  /** Run the generator (a separate process) to completion. */
  def generate(c: Ctx, mode: String, dir: String, startMs: Long,
      seconds: Double, tag: String, log: String): Unit = {
    val cmd = Seq("python3", s"${c.benchDir}/gen.py", "--mode", mode,
      "--dir", dir, "--seed", c.seed.toString, "--seconds", seconds.toString,
      "--start-ms", startMs.toString, "--tag", tag, "--log", log)
    val p = new ProcessBuilder(cmd: _*).inheritIO().start()
    val rc = p.waitFor()
    require(rc == 0, s"generator exited with $rc: ${cmd.mkString(" ")}")
  }

  def lineCount(dir: String): Long = {
    val fs = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.startsWith("."))
    fs.map(f => Files.readAllBytes(f.toPath).count(_ == '\n').toLong).sum
  }

  def rawRecords(lines: DataFrame): DataFrame =
    lines.select(col("value"), try_to_timestamp(
      split(col("value"), "\t").getItem(0),
      lit("yyyy-MM-dd HH:mm:ss")).as("ts"))

  // ---- the four jobs ------------------------------------------------------

  final case class JobPaths(in: String, out: String, ck: String) {
    def src(job: String) = s"$in/${Dirs(job)}"
    val j2Table = s"$out/j2_detail"
  }

  /** Start J1–J4 in one session. J1 runs on `RegisterStream.dualSink`,
    * which takes no trigger argument and so runs at the engine's default
    * trigger; J2–J4 run at `trigger`. */
  def startJobs(c: Ctx, p: JobPaths, trigger: Trigger,
      maxFiles: Option[Int]): Map[String, StreamingQuery] = {
    val spark = c.spark
    import spark.implicits._
    def lines(job: String): DataFrame = StreamSources.lines(spark,
      StreamSources.SourceConfig("text", Map("path" -> p.src(job)) ++
        maxFiles.map(n => "maxFilesPerTrigger" -> n.toString)))
    val j1 = {
      // dualSink names no query; the listener maps ids to names
      val q = RegisterStream.dualSink(RegisterStream.parse(lines("j1")),
        s"${p.out}/j1", s"${p.ck}/j1")
      c.queryNames.put(q.id.toString, "j1"); q
    }
    val upsert = KeyedUpsertSink.foreachBatchUpsert(p.j2Table,
      Seq("uid", "courseid", "pointid"))
    val j2 = QzMasteryStream.mastery(LogParsers.parseQz(lines("j2")).as[QzEvent])
      .toDF().writeStream.queryName("j2")
      .outputMode("update")
      .foreachBatch { (b: DataFrame, id: Long) =>
        c.tr.span("KeyedUpsertSink.upsert", "KeyedUpsertSink",
          attrs = Map("job" -> "j2", "batch_id" -> id)) { _ =>
          val t = System.currentTimeMillis()
          upsert(b, id)
          if (c.tr.on) c.upserts.add(Map("batch_id" -> id,
            "ms" -> (System.currentTimeMillis() - t),
            "buckets" -> bucketsTouchedSince(p.j2Table, t)))
        }
        ()
      }
      .trigger(trigger)
      .option("checkpointLocation", s"${p.ck}/j2").start()
    val j3 = PageStream.jumpCounts(PageStream.parse(lines("j3")))
      .writeStream.queryName("j3").outputMode("complete").format("memory")
      .trigger(trigger).option("checkpointLocation", s"${p.ck}/j3").start()
    val j4 = {
      val q = RawArchive.start(rawRecords(lines("j4")), s"${p.out}/j4",
        s"${p.ck}/j4", trigger)
      c.queryNames.put(q.id.toString, "j4"); q
    }
    Map("j1" -> j1, "j2" -> j2, "j3" -> j3, "j4" -> j4)
  }

  def bucketsTouchedSince(table: String, sinceMs: Long): Long =
    Option(new File(table).listFiles()).getOrElse(Array.empty[File])
      .count(f => f.isDirectory && f.getName.startsWith("bucket=") &&
        f.lastModified() >= sinceMs - 1000).toLong

  /** Rows each job has committed, from its progress events. */
  def committedRows(c: Ctx, qs: Map[String, StreamingQuery]): Map[String, Long] = {
    val byId = qs.map { case (j, q) => q.id.toString -> j }
    val m = mutable.Map[String, Long]().withDefaultValue(0L)
    c.progress.asScala.foreach { js =>
      val n = new ObjectMapper().readTree(js)
      byId.get(n.get("id").asText).foreach(j =>
        m(j) += n.get("numInputRows").asLong)
    }
    Jobs.map(j => j -> m(j)).toMap
  }

  /** Wait until every job has committed `expected` rows, or the grace
    * period ends. */
  def awaitCommitted(c: Ctx, qs: Map[String, StreamingQuery],
      expected: Map[String, Long], graceMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + graceMs
    var done = false
    while (!done && System.currentTimeMillis() < deadline) {
      val got = committedRows(c, qs)
      done = Jobs.forall(j => got(j) >= expected(j))
      if (!done) {
        qs.values.foreach(q => q.exception.foreach(e => throw e))
        Thread.sleep(100)
      }
    }
  }

  // ---- correctness: streaming outputs vs batch recomputation -------------

  /** Row count and an order-independent hash of a result. Doubles are
    * rounded to 9 decimals so results that differ only in summation order
    * hash equal. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 9)
      case ArrayType(DoubleType | FloatType, _) =>
        transform(c, x => round(x.cast(DoubleType), 9))
      case _: MapType => to_json(c)
      case _ => c
    }
    val cols = df.schema.fields.sortBy(_.name)
      .map(f => canon(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast(DecimalType(38, 0))),
        lit(0)).cast(StringType)).collect()(0)
    (r.getLong(0), BigInt(r.getString(1)).toLong)
  }

  def check(c: Ctx, name: String, got: => DataFrame, want: => DataFrame): Unit = {
    c.attempted.incrementAndGet()
    c.spark.sparkContext.setLocalProperty("perfbench.scope", "check")
    c.tr.span("check." + name, "analytics") { _ =>
      try {
        val g = fingerprint(got)
        val w = fingerprint(want)
        val ok = g == w
        c.checks.add(Map("name" -> name, "ok" -> ok, "rows" -> g._1,
          "want_rows" -> w._1, "hash" -> g._2, "want_hash" -> w._2))
        if (!ok) c.count("correctness_mismatch")
      } catch {
        case e: Throwable =>
          c.checks.add(Map("name" -> name, "ok" -> false))
          c.fail("check_threw", e)
      }
    }
  }

  /** Run `tasks` on `threads` client threads and wait for all of them. */
  def inParallel(threads: Int)(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  def checkJobs(c: Ctx, p: JobPaths): Unit = {
    val s = c.spark
    def batch(job: String) = s.read.text(p.src(job))
    val reg = RegisterStream.parse(batch("j1"))
      .filter(col("createTime").isNotNull)
    // the checks are independent; one client thread each
    inParallel(5)(Seq(
    () => check(c, "j1_totals",
      RegisterStream.totalsView(s, s"${p.out}/j1"),
      RegisterAnalytics.cumulativeDaily(reg, col("createTime"), col("platform"))
        .groupBy(col("key").as("platform"))
        .agg(max(col("cum_registrations")).as("total"))),
    () => check(c, "j1_windows",
      RegisterStream.windowedView(s, s"${p.out}/j1").select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"), col("platform").as("key"), col("n")),
      RegisterAnalytics.slidingCounts(reg, col("createTime"), col("platform"),
        "60 seconds", "6 seconds")),
    () => check(c, "j2_detail",
      KeyedUpsertSink.read(s, p.j2Table),
      QzMastery.mastery(LogParsers.parseQz(batch("j2")))),
    () => check(c, "j3_jumps", s.table("j3"),
      PageAnalytics.pageJumps(PageStream.parse(batch("j3")))),
    () => check(c, "j4_days",
      s.read.parquet(s"${p.out}/j4").groupBy(col("dt")).count(),
      RawArchive.withDayBucket(rawRecords(batch("j4")))
        .groupBy(col("dt")).count())))
  }

  /** Lines the parsers dropped: the generator's malformed lines. */
  def malformedDropped(c: Ctx, p: JobPaths): Unit = {
    def batch(job: String) = c.spark.read.text(p.src(job))
    c.rec("malformed_dropped") = Seq("j1", "j2", "j3").map { j =>
      val all = batch(j).count()
      val parsed = j match {
        case "j1" => RegisterStream.parse(batch(j)).count()
        case "j2" => LogParsers.parseQz(batch(j)).count()
        case _ => PageStream.parse(batch(j)).count()
      }
      all - parsed
    }.sum
  }

  /** Sizes of what the sinks left on disk. */
  def sinkFootprint(c: Ctx, p: JobPaths): Unit = {
    def files(d: File): Seq[File] =
      if (!d.exists) Nil
      else if (d.isDirectory) d.listFiles().toSeq.flatMap(files)
      else Seq(d)
    def data(dir: String) = files(new File(dir))
      .filter(f => f.getName.endsWith(".parquet"))
    val kus = data(p.j2Table)
    val raw = data(s"${p.out}/j4")
    c.rec("sink_footprint") = Map(
      "kus_table_bytes" -> kus.map(_.length).sum,
      "kus_files" -> kus.size,
      "raw_files" -> raw.size,
      "raw_bytes" -> raw.map(_.length).sum,
      "register_partitions" -> Seq("windowed", "totals").map { t =>
        Option(new File(s"${p.out}/j1/$t").listFiles()).getOrElse(Array())
          .count(_.getName.startsWith("batch_id="))
      }.sum)
  }

  // ---- dashboard reads -----------------------------------------------------

  /** The dashboard's reads: the J1 totals and windowed views, and one
    * user's J2 rows. Each read is timed in a span of the sink's layer, and
    * one that throws counts as `view_read_threw`. */
  final class Views(c: Ctx, p: JobPaths) {
    val samples = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val user = 1 + (c.seed % 100).toInt
    private val views: Seq[(String, String, () => Long)] = Seq(
      ("totals", "RegisterStream",
        () => RegisterStream.totalsView(c.spark, s"${p.out}/j1").collect().length.toLong),
      ("windowed", "RegisterStream",
        () => RegisterStream.windowedView(c.spark, s"${p.out}/j1").collect().length.toLong),
      ("kus_read", "KeyedUpsertSink",
        () => KeyedUpsertSink.read(c.spark, p.j2Table)
          .filter(col("uid") === user).collect().length.toLong))

    def readAll(go: => Boolean = true): Unit =
      for ((name, layer, f) <- views if go) {
        c.attempted.incrementAndGet()
        val t = System.nanoTime()
        try {
          c.tr.span("read." + name, layer) { _ => f() }
          samples.add(Map("view" -> name, "ms" -> (System.nanoTime() - t) / 1e6))
        } catch { case e: Throwable => c.fail("view_read_threw", e) }
      }
  }

  /** Closed-loop reader: all views once a second beside the live jobs. */
  final class Reader(c: Ctx, views: Views) extends Thread("perfbench-reader") {
    @volatile var running = true
    setDaemon(true)
    override def run(): Unit = {
      c.spark.sparkContext.setLocalProperty("perfbench.scope", "reader")
      while (running) {
        val due = System.currentTimeMillis() + 1000
        views.readAll(running)
        val wait = due - System.currentTimeMillis()
        if (wait > 0 && running) Thread.sleep(wait)
      }
    }
  }

  // ---- workloads ---------------------------------------------------------

  def nextPhaseMs(phase: Long, leadMs: Long): Long = {
    val t = System.currentTimeMillis() + leadMs
    t - t % TriggerMs + TriggerMs + phase
  }

  /** live_ref: the four jobs at the reference caps, a 3 s trigger, an
    * open-loop generator and a closed-loop dashboard reader. */
  def liveRef(c: Ctx): Unit = {
    val trigger = Trigger.ProcessingTime(TriggerMs)
    // set-up, repeated: fresh dirs, start the jobs, warm them on one small
    // file per job until it is committed; the last repetition stays up
    val reps = 2
    var qs: Map[String, StreamingQuery] = Map.empty
    var p: JobPaths = null
    val setup = (1 to reps).map { rep =>
      val t = System.nanoTime()
      c.tr.span("setup", "bench", attrs = Map("rep" -> rep)) { _ =>
        val root = s"${c.runDir}/live$rep"
        p = JobPaths(s"$root/in", s"$root/out", s"$root/ck")
        generate(c, "warm", p.in, System.currentTimeMillis(), 0, s"warm$rep",
          s"$root/warm.json")
        qs = startJobs(c, p, trigger, None)
        awaitCommitted(c, qs, Jobs.map(j => j -> lineCount(p.src(j))).toMap,
          GraceMs)
        if (rep < reps) qs.values.foreach(_.stop())
      }
      (System.nanoTime() - t) / 1e9
    }
    c.rec("setup_s") = setup
    val views = new Views(c, p)
    val reader = new Reader(c, views)
    reader.start()
    // files are due 250 ms into each half second of the trigger grid, so
    // every run sees the same phase between writes and trigger starts
    val start = nextPhaseMs(250, 300)
    c.rec("traffic_start_ms") = start
    val cpu0 = cpuS()
    c.tr.span("traffic", "bench") { _ =>
      generate(c, "live", p.in, start, c.seconds, "live",
        s"${c.runDir}/gen.json")
    }
    c.rec("generator_done_ms") = System.currentTimeMillis()
    c.tr.span("drain", "bench") { _ =>
      awaitCommitted(c, qs, Jobs.map(j => j -> lineCount(p.src(j))).toMap,
        GraceMs)
    }
    c.rec("work_cpu_s") = cpuS() - cpu0
    reader.running = false
    reader.join()
    c.rec("reads") = views.samples.asScala.toSeq
    c.rec("committed_rows") = committedRows(c, qs)
    c.rec("expected_rows") = Jobs.map(j => j -> lineCount(p.src(j))).toMap
    c.rec("checkpoints") = Jobs.map(j => j -> s"${p.ck}/$j").toMap
    c.rec("query_ids") = qs.map { case (j, q) => j -> q.id.toString }
    qs.values.foreach(_.stop())
    checkJobs(c, p)
    sinkFootprint(c, p)
    if (c.tr.on) { parseRates(c, p); malformedDropped(c, p) }
  }

  /** Batch parse throughput per log format, traced runs only. */
  def parseRates(c: Ctx, p: JobPaths): Unit = {
    val s = c.spark
    c.rec("parse_rec_s") = Seq("j1" -> "register", "j2" -> "qz", "j3" -> "page")
      .map { case (j, name) =>
        val lines = s.read.text(p.src(j)).cache()
        val n = lines.count()
        val t = System.nanoTime()
        c.tr.span(s"parse.$name", "sources") { _ =>
          (j match {
            case "j1" => LogParsers.parseRegister(lines)
            case "j2" => LogParsers.parseQz(lines)
            case _ => LogParsers.parsePage(lines)
          }).write.format("noop").mode("overwrite").save()
        }
        lines.unpersist()
        name -> n / ((System.nanoTime() - t) / 1e9)
      }.toMap
  }

  /** catchup_restart: checkpoints with 50,000 J2 keys, then a restart on a
    * 30 s backlog of live traffic, read in one trigger per job. */
  def catchupRestart(c: Ctx): Unit = {
    val root = s"${c.runDir}/catchup"
    val p = JobPaths(s"$root/in", s"$root/out", s"$root/ck")
    val backlogS = 30.0
    val filesPerTrigger = 60 // 30 s of traffic at one file per 0.5 s
    val t = System.nanoTime()
    c.tr.span("setup", "bench") { _ =>
      generate(c, "history", p.in, System.currentTimeMillis(), 0, "history",
        s"$root/history.json")
      val qs = startJobs(c, p, Trigger.ProcessingTime(0L), None)
      awaitCommitted(c, qs, Jobs.map(j => j -> lineCount(p.src(j))).toMap,
        120000L)
      qs.values.foreach(_.stop())
      generate(c, "backlog", p.in, System.currentTimeMillis(), backlogS,
        "backlog", s"${c.runDir}/gen.json")
    }
    c.rec("setup_s") = Seq((System.nanoTime() - t) / 1e9)
    val expected = Jobs.map(j => j -> lineCount(p.src(j))).toMap
    // the slowest job (J2) overruns the trigger interval, so the catch-up
    // time does not depend on the restart's phase in the trigger grid
    val restartMs = System.currentTimeMillis()
    c.rec("restart_ms") = restartMs
    val cpu0 = cpuS()
    val qs = c.tr.span("catchup", "bench") { _ =>
      val qs = startJobs(c, p, Trigger.ProcessingTime(TriggerMs),
        Some(filesPerTrigger))
      // a restarted query keeps its id, so the set-up's rows count too
      awaitCommitted(c, qs, expected, 120000L)
      qs
    }
    c.rec("work_cpu_s") = cpuS() - cpu0
    c.rec("committed_rows") = committedRows(c, qs)
    c.rec("expected_rows") = expected
    c.rec("checkpoints") = Jobs.map(j => j -> s"${p.ck}/$j").toMap
    c.rec("query_ids") = qs.map { case (j, q) => j -> q.id.toString }
    qs.values.foreach(_.stop())
    if (c.tr.on) {
      // the dashboard's reads of the caught-up sinks
      val views = new Views(c, p)
      c.spark.sparkContext.setLocalProperty("perfbench.scope", "reader")
      (1 to 3).foreach(_ => views.readAll())
      c.rec("reads") = views.samples.asScala.toSeq
    }
    checkJobs(c, p)
    sinkFootprint(c, p)
    if (c.tr.on) { parseRates(c, p); malformedDropped(c, p) }
  }

  /** batch_mix: one closed-loop client running the reference batch analogs
    * and eight extension queries in a fixed order. */
  def batchMix(c: Ctx): Unit = {
    val s = c.spark
    val data = s"${c.benchDir}/data/sf0.01"
    val expected = {
      val m = new ObjectMapper().readTree(new File(s"${c.benchDir}/expected_batch.json"))
      BatchQueries.map { q =>
        val e = m.get(q)
        q -> (e.get("rows").asLong, e.get("hash").asLong)
      }.toMap
    }
    def inScope[T](scope: String)(f: => T): T = {
      s.sparkContext.setLocalProperty("perfbench.scope", scope)
      try f finally s.sparkContext.setLocalProperty("perfbench.scope", null)
    }
    def layer(q: String) = if (q.startsWith("x")) "operators" else "analytics"
    // warm plans, codegen and JIT at the timed scale: warmed on sf0.001
    // instead, the timed pass ran 30-50% slower and less steadily. Untimed,
    // so four client threads share the work. The costliest queries (the
    // artifact build first, then the operators) start first, which
    // shortens the pass by about 4 s
    val warmOrder = BatchQueries.sortBy(q =>
      (!ArtifactQueries.contains(q), !q.startsWith("x")))
    val w0 = System.nanoTime()
    c.tr.span("warmup", "bench") { _ =>
      inParallel(4)(warmOrder.map { q => () =>
        try inScope("warmup")(SparkEntry.queries(q)(s, data)
          .write.format("noop").mode("overwrite").save())
        catch { case e: Throwable => c.fail("warmup_threw", e) }
      })
    }
    c.rec("warmup_s") = (System.nanoTime() - w0) / 1e9
    // set-up, repeated: the build-once models (`Artifacts.cached`) of the
    // mix built from scratch at the timed scale
    val artifacts = Artifacts.root(s)
    val setup = (1 to 3).map { rep =>
      deleteTree(artifacts)
      val t = System.nanoTime()
      c.tr.span("Artifacts.build", "Artifacts", attrs = Map("rep" -> rep)) { _ =>
        ArtifactQueries.foreach { q =>
          try inScope("artifacts")(SparkEntry.queries(q)(s, data))
          catch { case e: Throwable => c.fail("artifact_build_threw", e) }
        }
      }
      (System.nanoTime() - t) / 1e9
    }
    c.rec("setup_s") = setup
    c.rec("artifacts_build_s") = setup
    s.catalog.clearCache()
    System.gc()
    val runs = mutable.ArrayBuffer[Map[String, Any]]()
    val cpu0 = cpuS()
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    var pass = 0
    while (pass < 1 || System.nanoTime() < deadline) {
      pass += 1
      c.tr.span("pass", "bench", attrs = Map("pass" -> pass)) { passId =>
        BatchQueries.foreach { q =>
          c.attempted.incrementAndGet()
          c.tr.span(q, layer(q), passId, Map("query" -> q)) { qid =>
            try inScope(q) {
              val t0 = System.nanoTime()
              val df = c.tr.span(q + ".build", layer(q), qid) { _ =>
                SparkEntry.queries(q)(s, data)
              }
              val t1 = System.nanoTime()
              val fp = c.tr.span(q + ".exec", layer(q), qid) { _ =>
                fingerprint(df)
              }
              val t2 = System.nanoTime()
              val ok = fp == expected(q)
              if (!ok) {
                c.count("correctness_mismatch")
                c.checks.add(Map("name" -> q, "ok" -> false, "rows" -> fp._1,
                  "hash" -> fp._2, "want_rows" -> expected(q)._1,
                  "want_hash" -> expected(q)._2))
              }
              runs += Map("query" -> q, "pass" -> pass,
                "build_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9,
                "ok" -> ok)
            } catch { case e: Throwable => c.fail("query_threw", e) }
          }
        }
      }
    }
    c.rec("work_cpu_s") = (cpuS() - cpu0) / pass
    c.rec("queries") = runs.toSeq
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}

/** Prints each batch_mix query's row count and hash as JSON, and writes each
  * result as parquet for the DuckDB oracle check (`scripts/check_one.py`).
  * Args: <sf dir> <out dir> */
object Expected {
  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args
    val cores = Runtime.getRuntime.availableProcessors()
    val s = Engine.session(master = s"local[$cores]", shufflePartitions = cores,
      appName = "perfbench-expected")
    val m = Harness.BatchQueries.map { q =>
      val df = SparkEntry.queries(q)(s, dir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      val (rows, hash) = Harness.fingerprint(SparkEntry.queries(q)(s, dir))
      q -> Map("rows" -> rows, "hash" -> hash)
    }.toMap
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    println(mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(scala.collection.immutable.TreeMap(m.toSeq: _*)))
    s.stop()
  }
}
