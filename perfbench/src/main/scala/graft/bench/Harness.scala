package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{BenchAccess, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftConfig, SparkEntry}
import graft.metrics.{Dashboard, StorageMetrics}
import graft.sinks.{MaintenancePolicy, ManifestSink}
import graft.streaming.WikiStream

/** The benchmark's JVM side: sets up a sink, runs the production entry
  * point `WikiStream.startLive` against the seeded generator, polls the
  * dashboard, checks the outputs and writes every raw measurement to one
  * JSON file. `run.py` turns that file into metrics.
  *
  * Arguments are `--name value` pairs; `run.py` passes all of them.
  * Retention can fire only when the preload already holds `dbMaxEvents`
  * rows; such a run checks the retention rule instead of the exact
  * new-row count. With `--trace 1` it also registers the scheduler and
  * plan probes, keeps spans in memory, runs the fixed registry queries and
  * the host calibration, and writes the spans out at the end. */
object Harness {

  val PreloadChunks = 3
  /** The reference dashboard's refresh period (dashboard.py:75). */
  val PollEveryMs = 5000L
  /** Timed tile refreshes on the quiescent sink after the stream, after
    * `QuietWarmup` untimed ones: the first refreshes after the stream run
    * up to ~50% slower while the read path warms up. */
  val QuietWarmup = 3
  val QuietPolls = 8
  /** Registry queries of the traced run: the slowest query of a cold
    * single-pass run of the whole registry at sf0.001 on local[2], and the
    * three queries whose job counts JobProfile pinned in r18 (q194 and q114
    * are the second and third slowest of that run). */
  val TraceQueries = Seq("q168_salted_plan_join", "q194_scd2_dimension",
    "q114_entity_clusters", "q200_erasure_certificate")

  /** One dashboard tile refresh. `ok` is the tile-versus-count check, or
    * for a poll that threw, whether the exception is the known
    * reader/vacuum race; `error` names the exception. */
  final case class Poll(startMs: Double, pollMs: Double, rowCountMs: Double,
      tileRows: Long, rows: Long, stable: Boolean, ok: Boolean,
      quiet: Boolean, error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def num(k: String) = a(k).toLong
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val sinkDir = work.resolve("sink").toString
    val cores = num("cores").toInt
    val preloadRows = num("preload-rows")
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val checks = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]

    val t0 = Trace.nowMs
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase(name: String): Unit = phases(name) = (Trace.nowMs - t0) / 1e3
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    out("session_s") = (Trace.nowMs - t0) / 1e3

    val spans = new Spans
    val jobProbe = if (trace) Some(new JobProbe(sinkDir)) else None
    jobProbe.foreach(spark.sparkContext.addSparkListener)
    val sc = spark.sparkContext
    def role(r: String): Unit = sc.setLocalProperty(Trace.RoleKey, r)

    // ---- set-up: preload the sink in equal whole-second chunks ----------
    role("setup")
    val step = ((preloadRows + PreloadChunks - 1) / PreloadChunks + 199L) / 200L * 200L
    val bounds = (0L until preloadRows by step).map(s => (s, math.min(preloadRows, s + step)))
    val chunkS = bounds.map { case (s, e) =>
      val c0 = Trace.nowMs
      ManifestSink.append(Preload.chunk(spark, s, e, preloadRows, cores), sinkDir)
      (Trace.nowMs - c0) / 1e3
    }
    out("preload_chunk_s") = chunkS
    phase("preloaded")
    val preloaded = ManifestSink.rowCount(spark, sinkDir).get
    out("preload_rows") = preloaded
    val v0 = ManifestSink.version(spark, sinkDir)
    val preloadFiles = dataFiles(sinkDir).keySet

    // ---- live pipeline ---------------------------------------------------
    val cfg = GraftConfig(dbMaxEvents = num("max-events"))
    val capped = preloaded >= cfg.dbMaxEvents
    out("capped") = capped
    val maintEvery = num("maintenance-every")
    val policy = if (maintEvery > 0) MaintenancePolicy(everyEpochs = maintEvery,
      minRows = 5000L) else null
    val written = scala.collection.mutable.HashMap.empty[String, Long]
    val sinkAfter = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    // after each epoch: the sink's committed rows (manifest metadata) and
    // physical bytes; in traced runs also every data file seen so far
    val progress = new ProgressProbe(ep =>
      try {
        sinkAfter.add((ep.batchId,
          ManifestSink.rowCount(spark, sinkDir).getOrElse(-1L),
          treeBytes(Paths.get(sinkDir))))
        if (trace) written.synchronized {
          dataFiles(sinkDir).foreach { case (p, n) =>
            if (!preloadFiles(p)) written(p) = n }
        }
      } catch { case NonFatal(_) => () }) // a file vanished mid-listing
    spark.streams.addListener(progress)
    val polls = new ConcurrentLinkedQueue[Poll]()

    def poll(quiet: Boolean): Unit = {
      role("dashboard")
      val p0 = Trace.nowMs
      val vBefore = ManifestSink.version(spark, sinkDir)
      val s0 = Trace.nowMs
      try {
        val tile = Dashboard.metricsFrame(ManifestSink.read(spark, sinkDir)).head()
        val s1 = Trace.nowMs
        val rc = ManifestSink.rowCount(spark, sinkDir)
        val s2 = Trace.nowMs
        StorageMetrics.diskUsageMiB(spark, sinkDir)
        val s3 = Trace.nowMs
        val stable = ManifestSink.version(spark, sinkDir) == vBefore
        val tileRows = tile.getAs[Long]("total_rows")
        val trace0 = s"poll-${polls.size}"
        val id = spans.add(0L, trace0, "metrics", "dashboard.poll", s0, s3)
        spans.add(id, trace0, "metrics", "dashboard.metricsFrame", s0, s1)
        spans.add(id, trace0, "sinks", "ManifestSink.rowCount", s1, s2)
        spans.add(id, trace0, "metrics", "StorageMetrics.diskUsageMiB", s2, s3)
        // tiles must equal the direct count whenever no commit landed
        // during the poll
        polls.add(Poll(p0, s3 - s0, s2 - s1, tileRows, rc.getOrElse(-1L),
          stable, !stable || rc.contains(tileRows), quiet, None))
      } catch { case NonFatal(e) =>
        val chain = causes(e).map(c => s"${c.getClass.getName}: " +
          String.valueOf(c.getMessage).take(400))
        System.err.println(s"[perfbench] dashboard poll failed: " +
          chain.mkString(" <- "))
        // the known defect: retention's vacuum deletes data files of the
        // snapshot a concurrent read still needs, and the read fails in the
        // scan (FAILED_READ_FILE.FILE_NOT_EXIST) or in the footer read
        // (FileNotFoundException). A quiet poll has no concurrent vacuum,
        // so any exception there is a failure.
        val race = !quiet && chain.exists(m =>
          m.contains(sinkDir + "/data/") && m.contains("does not exist"))
        polls.add(Poll(p0, Double.NaN, Double.NaN, -1L, -1L, false, race,
          quiet, Some(if (race) "sink data file does not exist"
                      else chain.head)))
      }
      role("main")
    }

    // call on a fixed phase of the 2 s wall-clock trigger grid, so the wait
    // for the first trigger is the same in every run
    Thread.sleep((2000 - Trace.nowMs.toLong % 2000) % 2000 + 100)
    role("resume")
    val callMs = Trace.nowMs
    val query = WikiStream.startLive(spark, a("url"),
      work.resolve("capture.sse").toString, sinkDir,
      work.resolve("checkpoint").toString, cfg, maintenance = policy)
    role("main")
    out("startlive_call_ms") = callMs

    val pollLive = a("poll-live") == "1"
    val stopPoller = new AtomicBoolean(false)
    // polls fall on a wall-clock grid, like the trigger and the generator,
    // so every run sees them at the same phase against the epochs
    val poller = new Thread(() => {
      var next = (math.floor(Trace.nowMs / PollEveryMs) + 1) * PollEveryMs + 1000
      while (!stopPoller.get()) {
        val wait = next - Trace.nowMs
        if (wait > 0) Thread.sleep(math.min(wait.toLong, 200L).max(1L))
        else { poll(quiet = false); next += PollEveryMs }
      }
    }, "perfbench-dashboard")
    poller.setDaemon(true)
    if (pollLive) poller.start()

    val deadline = Trace.nowMs + num("max-stream-s") * 1000.0
    // the stream's frame count, written by run.py beside the expectations
    val countFile = Paths.get(a("expect") + ".n")
    while (!Files.exists(countFile) && Trace.nowMs < deadline) Thread.sleep(20)
    val stopFrames = new String(Files.readAllBytes(countFile),
      StandardCharsets.UTF_8).trim.toLong
    while (progress.latestEnd.get() < stopFrames && query.isActive &&
        Trace.nowMs < deadline) Thread.sleep(50)
    val streamOk = progress.latestEnd.get() >= stopFrames && query.isActive
    stopPoller.set(true)
    if (pollLive) poller.join()
    query.stop()
    BenchAccess.drain(sc)
    phase("stream_stopped")
    checks("stream_reached_stop_offset") = streamOk
    if (!streamOk) System.err.println(s"[perfbench] stream stopped early at " +
      s"${progress.latestEnd.get()} of $stopFrames frames; " +
      s"failure=${Option(progress.failure.get()).getOrElse("none")}")

    (1 to QuietWarmup).foreach { _ =>
      Dashboard.metricsFrame(ManifestSink.read(spark, sinkDir)).head()
      ManifestSink.rowCount(spark, sinkDir)
      StorageMetrics.diskUsageMiB(spark, sinkDir)
    }
    (1 to QuietPolls).foreach(_ => poll(quiet = true))

    // known defect probe: Dashboard.snapshot on the manifest sink
    role("dashboard")
    val snapshotErr = try { Dashboard.snapshot(spark, sinkDir); 0 }
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] Dashboard.snapshot failed: ${e.getMessage.take(200)}")
        1 }
    role("main")

    phase("polled")
    // ---- output checks --------------------------------------------------
    role("check")
    val sink = ManifestSink.read(spark, sinkDir)
    val key = Preload.Key.map(col)
    checks("no_duplicate_keys") =
      sink.groupBy(key: _*).count().filter(col("count") > 1).isEmpty
    phase("check_dups")
    val preloadBad = Preload.mismatches(sink, preloadRows, cores)
    checks("preload_rows_are_generated_frames") = preloadBad == 0
    phase("check_preload")
    val endRows = ManifestSink.rowCount(spark, sinkDir).get
    val tile = Dashboard.metricsFrame(sink).head()
    val direct = sink.agg(max(col("event_timestamp"))).head().getTimestamp(0)
    checks("final_tiles_match_direct") =
      tile.getAs[Long]("total_rows") == endRows &&
        tile.getAs[java.sql.Timestamp]("latest_event_time") == direct
    // live rows for the frame-level checks in run.py
    val live = sink.filter(col("event_timestamp") >= timestamp_seconds(
        lit(Preload.EventEpochS - 60L)))
      .select(md5(col("raw_json")), unix_seconds(col("event_timestamp")),
        col("username"), col("title"))
      .collect()
    writeLines(work.resolve("live_rows.tsv"),
      live.map(r => Seq(r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3)).mkString("\t")))
    val preloadLeft = sink.filter(col("event_timestamp") <
      timestamp_seconds(lit(Preload.EventEpochS - 60L))).count()
    out("preload_rows_left") = preloadLeft
    if (capped)
      checks ++= retentionChecks(spark, sink, endRows, a("expect"), preloadRows,
        fired = preloadLeft < preloaded, progress.latestEnd.get(), cfg,
        progress.epochs.asScala.map(_.droppedByWatermark).sum)

    phase("checked")
    val epochs = progress.epochs.asScala.toSeq.sortBy(_.batchId)
    val liveFiles = sink.inputFiles
    val physical = dataFiles(sinkDir)
    out("end_rows") = endRows
    out("end_version") = ManifestSink.version(spark, sinkDir)
    out("start_version") = v0
    out("sink_bytes") = treeBytes(Paths.get(sinkDir))
    out("live_files") = liveFiles.length
    val liveSet = liveFiles.map(f => new java.net.URI(f).getPath).toSet
    out("vacuum_debt_bytes") = physical.collect { case (p, n) if !liveSet(p) => n }.sum
    out("live_data_bytes") = physical.collect { case (p, n) if liveSet(p) => n }.sum
    out("snapshot_err") = snapshotErr
    out("epochs") = epochs
    out("polls") = polls.asScala.toSeq
    out("latest_end_offset") = progress.latestEnd.get()
    out("sink_after_epoch") = sinkAfter.asScala.toSeq.map(t => Seq(t._1, t._2, t._3))

    // ---- traced extras --------------------------------------------------
    if (trace) {
      out("bytes_written") = written.values.sum
      out("queries") = registry(spark, TraceQueries, a("data"), spans, role)
      BenchAccess.drain(sc)
      out("calib") = graft.Bench.calibrate(spark).toMap
      BenchAccess.drain(sc)
      out("jobs") = jobProbe.get.jobs.values.toSeq.sortBy(_.id).map(j =>
        Map("id" -> j.id, "start" -> j.startMs,
          "end" -> Some(j.endMs).filterNot(_.isNaN),
          "stages" -> j.stages, "batch" -> j.batchId, "role" -> j.role,
          "exec" -> j.execId))
      out("stages") = jobProbe.get.stages.values.toSeq.sortBy(_.id)
      out("execs") = jobProbe.get.execs.asScala.toSeq
      out("scans") = jobProbe.get.scans.asScala.toSeq
      out("rewrites") = jobProbe.get.rewrites.asScala.toSeq
      out("spans") = spans.all.asScala.toSeq
    }
    phase("done")
    out("phases") = phases
    out("checks") = checks
    out("gc_ms") = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    out("peak_rss_kib") = vmHwmKiB()
    out("host") = Map("spark" -> spark.version,
      "java" -> System.getProperty("java.version"),
      "heap_max_mib" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "local_cores" -> cores,
      "available_processors" -> Runtime.getRuntime.availableProcessors)
    JsonMapper.builder().addModule(DefaultScalaModule).build()
      .writeValue(new java.io.File(a("out")), out)
    spark.stop()
  }

  /** Replay_churn's retention rule, checked from outside: the row count is
    * under the cleanup trigger and, once retention has fired, at least the
    * retained N+1; the survivors are the newest rows by the sink's order
    * (event_timestamp desc, username, title) among every row the sink could
    * have committed, except rows Spark reported dropped behind the
    * watermark, which can only be late frames. */
  private def retentionChecks(spark: SparkSession, sink: DataFrame,
      rows: Long, expect: String, preloadRows: Long, fired: Boolean,
      endOffset: Long, cfg: GraftConfig,
      dropped: Long): Seq[(String, Boolean)] = {
    type K = (Long, String, String)
    val order: Ordering[K] = Ordering.Tuple3(Ordering.Long.reverse,
      Ordering.String, Ordering.String)
    def keys(df: DataFrame): Seq[K] =
      df.select(unix_seconds(col("event_timestamp")), col("username"), col("title"))
        .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val inSink = keys(sink).toSet
    val pre = keys(spark.range(0L, preloadRows).select(
      Preload.rowOf(col("id"), preloadRows): _*))
    val frames = Files.readAllLines(Paths.get(expect)).asScala.toSeq
      .map(_.split("\t", -1))
      .filter(f => f(0).toLong < endOffset)
    val late = frames.filter(_(1) == "late").map(f => (f(2).toLong, f(3), f(4))).toSet
    val universe = (pre ++ frames.map(f => (f(2).toLong, f(3), f(4)))).toSet
    val oldest = inSink.max(order)
    val missing = universe.filter(k => order.lteq(k, oldest) && !inSink(k))
    val trigger = (cfg.cleanupHysteresis * cfg.dbMaxEvents).toLong
    Seq(
      "retention_count_rule" ->
        (rows < trigger && (!fired || rows >= cfg.dbMaxEvents + 1)),
      "retention_keeps_newest" ->
        (inSink.subsetOf(universe) && missing.forall(late) &&
          missing.size <= dropped))
  }

  /** Runs each named registry query once, closed loop, timed like Bench
    * (`count()`), then checks its result fingerprint outside the timed
    * region. */
  private def registry(spark: SparkSession, names: Seq[String], data: String,
      spans: Spans, role: String => Unit): Seq[Map[String, Any]] =
    names.map { name =>
      role(s"q:$name")
      val s0 = Trace.nowMs
      val (ok, df) = try {
        val d = SparkEntry.queries(name)(spark, data)
        d.count()
        (true, Some(d))
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e"); (false, None)
      }
      val s1 = Trace.nowMs
      spans.add(0L, s"q:$name", "operators", name, s0, s1)
      spark.sharedState.cacheManager.clearCache()
      role("check")
      val fp = df.flatMap(d => try Some(fingerprint(d)) catch { case NonFatal(_) => None })
      role("main")
      Map("name" -> name, "ok" -> ok, "start" -> s0, "end" -> s1,
        "fingerprint" -> fp)
    }

  /** Row count plus an order-independent hash of every row. */
  def fingerprint(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse("0")}"
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20).toSeq

  private def dataFiles(dir: String): Map[String, Long] = {
    val root = Paths.get(dir, "data")
    if (!Files.exists(root)) Map.empty
    else {
      val w = Files.walk(root)
      try w.iterator.asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.toAbsolutePath.toString -> Files.size(p)).toMap
      catch { case _: java.io.UncheckedIOException => Map.empty }
      finally w.close()
    }
  }

  private def treeBytes(root: Path): Long = {
    val w = Files.walk(root)
    try w.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally w.close()
  }

  private def writeLines(p: Path, lines: Seq[String]): Unit =
    Files.write(p, lines.asJava, StandardCharsets.UTF_8)

  private def vmHwmKiB(): Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1L
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }
}
