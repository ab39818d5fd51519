package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.lake.LakeTable
import graft.model._
import graft.rules.{CreateColumn, FilterCfg, ModifyColumn}
import graft.runner.{CdcRunner, RunnerConfig}

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, cache: String, traceOut: String)

/**
 * One benchmark run: set-up, the measured phase of the workload, the
 * read-side phase (snapshot read, point lookups, full compaction), the
 * correctness gate and the 1-core scaling drain. The engine is driven only
 * through its public entry points.
 */
final class Run(val a: Args) {
  import Run._

  val Cores = 4
  val tracer = new Tracer(a.trace, s"${a.workload}-${a.seed}-${System.currentTimeMillis()}")
  private val ws = Paths.get(a.work)
  private val table = ws.resolve("table").toString
  private val pristine = ws.resolve("pristine")

  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  var spark: SparkSession = _
  private var cpSeq = 0
  private val heapSamples = mutable.ArrayBuffer.empty[Double]

  def note(s: String): Unit = { notes += s; System.err.println(s"[perfbench] $s") }

  /** Where the run's wall time goes, as notes: seconds since JVM start. */
  def mark(what: String): Unit = note(f"$what at ${(System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")

  /** One attempted operation or check; a false outcome counts as failed. */
  def check(what: String)(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; note(s"FAILED: $what") }
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)

  def newSession(cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ws.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", ws.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", ws.resolve("hadoop-tmp").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secs(t0))
  }

  /** Live heap after a full collection, sampled between phases. The pause
    * lets Spark's context cleaner drop what the first collection released. */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(HeapSettleMs)
    System.gc()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    heapSamples += mx.getHeapMemoryUsage.getUsed / 1e6
  }

  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def freshCheckpoint(): String = { cpSeq += 1; ws.resolve(s"cp-$cpSeq").toString }

  /** Put the table back to the state the full load left. Manifests refer to
    * data files by path, so the copy goes to the same path. */
  def restore(): Unit = {
    Fs.rm(Paths.get(table))
    Fs.copyDir(pristine, Paths.get(table))
  }

  /** Full loads of the base into a fresh table, `times` times; the last one
    * is kept as the template every measured phase starts from. Returns the
    * median load time. */
  def loadBase(cfg: RunnerConfig, basePath: String, times: Int): Double = {
    val walls = (1 to times).map { _ =>
      Fs.rm(Paths.get(table))
      timed {
        val lake = CdcRunner.ensureTable(spark, cfg)
        CdcRunner.fullLoad(spark, lake, spark.read.parquet(basePath), cfg)
      }._2
    }
    Fs.rm(pristine)
    Fs.copyDir(Paths.get(table), pristine)
    Stats.median(walls)
  }

  /** A closed-loop drain of everything in the feed; wall seconds and the
    * epochs it committed. */
  def drain(cfg: RunnerConfig, wal: Boolean): (Double, Long, Seq[Tracer.Epoch]) = {
    val startMs = System.currentTimeMillis()
    val (q, wall) = timed {
      val q =
        if (wal) CdcRunner.startFromWal(spark, cfg, "corpus", "documents", availableNow = true)
        else CdcRunner.start(spark, cfg, availableNow = true)
      q.awaitTermination()
      q
    }
    (wall, startMs, epochsOf(q))
  }

  def epochsOf(q: StreamingQuery): Seq[Tracer.Epoch] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map(Tracer.epochOf).sortBy(_.batchId)

  // ── shared tail of every workload: read, lookups, fold, gate ──

  /** Snapshot reads, point lookups and a full compaction of the final table,
    * each checked against the replay fold. `rounds` reads are timed. */
  def readSide(oracle: Oracle.Fingerprint, oracleLive: Set[String], keys: Seq[String],
      cols: Seq[String], rounds: Int): Unit = {
    val lake = new LakeTable(table)
    val m = lake.manifest
    val liveBytes = m.files.map(f => Files.size(Paths.get(f.path))).sum
    metric("storage_mb", liveBytes / 1e6, "MB")
    // what a full snapshot read opens (task input metrics stay 0 on the
    // engine's local filesystem)
    layer("lake.read_input_mb", liveBytes / 1e6, "MB")
    layer("lake.live_files", m.files.size, "count")
    layer("lake.delta_files", m.files.count(_.isDelta), "count")
    val filesOpened = keys.map(k => lake.lookupFiles(k).size.toDouble)
    layer("lake.lookup_files_opened", filesOpened.sum / filesOpened.size, "count")

    def read(span: String): Double = {
      val (fp, t) = timed(tracer.span(span)(Oracle.fingerprint(lake.read(spark), cols)))
      check(s"snapshot read equals the replay fold ($fp vs $oracle)")(fp == oracle)
      t
    }
    def lookup(span: String, k: String): Double = {
      val (rows, t) = timed(tracer.span(span)(lake.lookup(spark, k).collect()))
      check(s"lookup $k finds the key iff the replay fold keeps it")(
        rows.length == (if (oracleLive(k)) 1 else 0))
      t * 1e3
    }
    // untimed warm-up: the first reads and lookups of a plan compile its
    // code, and the reads keep speeding up while the JIT compiles the scan
    (1 to WarmReads).foreach(_ => read("read-warm-up"))
    keys.take(WarmLookups).foreach(lookup("lookup-warm-up", _))
    // reads and lookups alternate, so both sample the whole phase and a
    // burst of host load does not fall on one metric alone
    val reads = mutable.ArrayBuffer.empty[Double]
    val lookups = mutable.ArrayBuffer.empty[Double]
    val perRound = math.ceil(keys.size.toDouble / rounds).toInt
    (0 until rounds).foreach { r =>
      reads += read("read")
      keys.slice(r * perRound, (r + 1) * perRound).foreach(k => lookups += lookup("lookup", k))
    }
    metric("read_s", Stats.median(reads.toSeq), "s")
    note(f"reads (s): ${reads.map(r => f"$r%.3f").mkString(" ")}")
    metric("lookup_ms_p50", Stats.median(lookups.toSeq), "ms")
    note(f"lookups (ms): ${lookups.map(l => f"$l%.0f").mkString(" ")}")
    val lt = Stats.tail(lookups.toSeq)
    metric("lookup_ms_tail", lt.value, "ms")
    note(s"lookup_ms_tail is p${lt.percentile} of ${lt.n} lookups")
    mark("reads and lookups done")

    val (_, fold) = timed(tracer.span("fold")(
      lake.compact(spark, maxFilesPerBucket = 0, maxDeltaFiles = 1)))
    metric("fold_s", fold, "s")
    val after = Oracle.fingerprint(lake.read(spark), cols)
    check(s"state after the full compaction equals the replay fold ($after)")(after == oracle)
    val rec = lake.reconcile()
    check(s"reconcile() ok: $rec")(rec.ok)
  }

  /** The oracle fingerprint plus which lookup keys the fold keeps. */
  def oracleFor(base: String, events: String, rules: Option[Oracle.Rules],
      keys: Seq[String], cols: Seq[String]): (Oracle.Fingerprint, Set[String]) = {
    val fold = Oracle.fold(spark, base, events, rules)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val fp = Oracle.fingerprint(fold, cols)
      val live = fold.filter(col(ChangeEvent.DOC_ID).isin(keys: _*))
        .select(ChangeEvent.DOC_ID).collect().map(_.getString(0)).toSet
      (fp, live)
    } finally { fold.unpersist(); () }
  }

  /** End-to-end figures of a set of epochs and per-file commit lags. */
  def epochMetrics(epochs: Seq[Tracer.Epoch], lags: Seq[Double]): Unit = {
    val es = epochs.map(_.triggerMs / 1e3)
    note(f"epochs (s): ${es.map(e => f"$e%.2f").mkString(" ")}")
    note(f"commit lags (s): ${lags.map(l => f"$l%.2f").mkString(" ")}")
    metric("epoch_s_p50", Stats.median(es), "s")
    val et = Stats.tail(es)
    metric("epoch_s_tail", et.value, "s")
    note(s"epoch_s_tail is p${et.percentile} of ${et.n} epochs")
    metric("commit_lag_s_p50", Stats.median(lags), "s")
    val ct = Stats.tail(lags)
    metric("commit_lag_s_tail", ct.value, "s")
    note(s"commit_lag_s_tail is p${ct.percentile} of ${ct.n} files")
  }

  /** Drain the same input once more on a 1-core session; the ratio to the
    * 4-core drain wall is the scaling efficiency. Ends the run's session. */
  def scaling(t4: Double, cfg: RunnerConfig, wal: Boolean, events: Long): Unit = {
    mark("scaling drain starts")
    spark.stop()
    spark = newSession(1)
    restore()
    val (t1, _, _) = drain(cfg.copy(checkpointDir = freshCheckpoint()), wal)
    val lake = new LakeTable(table)
    check("1-core drain: reconcile() ok")(lake.reconcile().ok)
    check("1-core drain: every event received")(received(lake) == events)
    metric("scaling_eff", t1 / t4 / Cores, "ratio")
    note(f"scaling: 1-core drain $t1%.3f s, 4-core drain $t4%.3f s")
  }

  /** Events the table received since the full load. */
  def received(lake: LakeTable): Long = lake.manifest.metrics.getOrElse("events_received", 0L)

  // ── closed loop: cow_bulk ──

  def cowBulk(): Unit = {
    val (in, genS) = timed(Inputs.bulk(spark, a.cache, a.seed, BulkEvents, BulkDocs,
      BulkMaxTok, BulkFiles))
    note(f"inputs ready in $genS%.1f s (${in.dir})")
    val cfg = RunnerConfig(feedDir = in.feed, tableDir = table, checkpointDir = "",
      job = JobConfig(mode = CdcMode.Upsert, merge = MergeStrategy.CopyOnWrite,
        buckets = BulkBuckets),
      maxFilesPerTrigger = BulkFilesPerEpoch)

    val load = loadBase(cfg, in.base, LoadRepeats)
    // warm-up: untimed drains of the whole feed. After only one, the first
    // measured drain still ran 20-40% slower than the next while the JIT
    // compiled the merge path
    val warm = (1 to BulkWarmDrains).map { _ =>
      restore()
      drain(cfg.copy(checkpointDir = freshCheckpoint()), wal = false)._1
    }.sum
    setupParts(load, warm)

    // measured phase: restore + drain, one drain per NominalDrainS of the
    // run's seconds. A fixed count, not a deadline: every run's percentiles
    // then rest on the same number of samples
    val walls = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val epochs = mutable.ArrayBuffer.empty[Tracer.Epoch]
    val lags = mutable.ArrayBuffer.empty[Double]
    val gc0 = gcSeconds
    val cg0 = codegenCompiles
    // the traced run needs drains on both sides of its overhead comparison
    val cycles = math.max(if (a.trace) MinTracedCycles else MinCycles,
      math.round(a.seconds / NominalDrainS).toInt)
    (0 until cycles).foreach { i =>
      // the traced run alternates traced and untraced drains
      val traced = a.trace && i % 2 == 1
      restore()
      if (traced) tracer.attach(spark)
      val (wall, startMs, es) =
        try tracer.span(if (traced) "ingest" else "ingest-untraced")(
          drain(cfg.copy(checkpointDir = freshCheckpoint()), wal = false))
        finally if (traced) tracer.detach(spark)
      check(s"drain $i: ${es.size} epochs of $BulkFilesPerEpoch files")(
        es.size == math.ceil(BulkFiles.toDouble / BulkFilesPerEpoch).toInt)
      walls += ((wall, traced))
      epochs ++= es
      // every file is available when the drain starts; file f commits with
      // epoch f / filesPerEpoch
      (0 until BulkFiles).foreach { f =>
        es.lift(f / BulkFilesPerEpoch).foreach(e => lags += (e.endMs - startMs) / 1e3)
      }
    }
    layer("jvm.gc_s", gcSeconds - gc0, "s")
    layer("jvm.codegen_compiles", (codegenCompiles - cg0).toDouble, "count")
    val lake = new LakeTable(table)
    check("every published event received")(received(lake) == in.nEvents)
    val untraced = walls.filterNot(_._2).map(_._1).toSeq
    val t4 = Stats.median(untraced)
    metric("ingest_eps", in.nEvents / t4, "1/s")
    epochMetrics(epochs.toSeq, lags.toSeq)
    note(f"drains: ${walls.map(w => f"${w._1}%.3f${if (w._2) "T" else ""}").mkString(" ")}")
    if (a.trace) {
      val traced = walls.filter(_._2).map(_._1).toSeq
      layer("trace.overhead_share", Stats.median(traced) / t4 - 1, "ratio")
      Attribution.ingest(this, tracer, Cores, in.nEvents * walls.count(_._2))
    }

    sampleHeap()
    mark("measured phase done")
    val cols = Oracle.PayloadCols
    val (oracle, live) = oracleFor(in.base, in.feed, None, in.keys, cols)
    mark("oracle done")
    tracer.attach(spark)
    try readSide(oracle, live, in.keys, cols, BulkReads)
    finally tracer.detach(spark)
    if (a.trace) Attribution.readSide(this, tracer, oracle.rows)
    layer("feed.input_mb", Fs.sizeOf(Paths.get(in.feed)) / 1e6, "MB")
    sampleHeap()
    mark("read side done")
    scaling(t4, cfg, wal = false, in.nEvents)
  }

  // ── open loop: wal_stream ──

  /** The F3 rule set: two payload filters, an uppercase, a created literal
    * column and a math expression. */
  val f3Filters = Seq(
    FilterCfg("source", "equals", value = Some("web")),
    FilterCfg("n_tok", "greater_than", value = Some(16)))
  val f3Transforms = Seq(
    ModifyColumn("source", "uppercase", priority = 1),
    CreateColumn("updated_by", "literal", value = Some("SPARK"),
      valueType = Some("varchar"), priority = 2),
    ModifyColumn("n_tok", "math_expression", expression = Some("value * 2"), priority = 3))
  /** The same rules as plain Columns, for the replay fold. */
  val f3Oracle = Oracle.Rules(
    keep = col("source") === "web" && col("n_tok") > 16,
    project = Seq(col(ChangeEvent.DOC_ID), col("tokens"),
      (col("n_tok").cast("double") * 2.0).as("n_tok"), upper(col("source")).as("source"),
      lit("SPARK").as("updated_by")))

  def walStream(): Unit = {
    val nFiles = math.max(WalWarmFiles, (a.seconds / WalIntervalS).toInt)
    val (in, genS) = timed(Inputs.wal(spark, a.cache, a.seed, nFiles, WalEventsPerFile,
      WalDocs, WalMaxTok))
    note(f"inputs ready in $genS%.1f s (${in.dir})")
    val feed = ws.resolve("feed")
    val staging = ws.resolve("staging")
    val cfg = RunnerConfig(feedDir = feed.toString, tableDir = table, checkpointDir = "",
      job = JobConfig(mode = CdcMode.Upsert, merge = MergeStrategy.MergeOnRead,
        buckets = WalBuckets, filters = f3Filters, transforms = f3Transforms),
      maxFilesPerTrigger = 1, autoCompactEveryEpochs = WalCompactEvery,
      autoCompactMaxDeltaFiles = WalCompactEvery)

    // stage the rendered files under the run's workspace, stamped in order:
    // the file source takes pending files oldest first
    def stage(files: Range): Unit = {
      Fs.rm(feed); Fs.rm(staging)
      Files.createDirectories(feed); Files.createDirectories(staging)
      val base = System.currentTimeMillis() - 3600 * 1000L
      files.foreach { i =>
        val t = staging.resolve(in.walFile(i).getFileName)
        Files.copy(in.walFile(i), t)
        Files.setLastModifiedTime(t, java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
      }
    }
    def publish(i: Int): Unit = {
      val name = in.walFile(i).getFileName
      Files.move(staging.resolve(name), feed.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }

    val load = loadBase(cfg, in.base, LoadRepeats)
    // warm-up: the first files as a drain of single-file epochs
    restore()
    stage(0 until WalWarmFiles)
    (0 until WalWarmFiles).foreach(publish)
    val (warm, _, _) = drain(cfg.copy(checkpointDir = freshCheckpoint()), wal = true)
    setupParts(load, warm)

    val gc0 = gcSeconds
    val cg0 = codegenCompiles
    restore()
    stage(0 until nFiles)
    tracer.attach(spark)
    val (epochs, lags, eps) =
      try tracer.span("ingest")(
        openLoop(cfg.copy(checkpointDir = freshCheckpoint()), nFiles, publish, in.nEvents))
      finally tracer.detach(spark)
    layer("jvm.gc_s", gcSeconds - gc0, "s")
    layer("jvm.codegen_compiles", (codegenCompiles - cg0).toDouble, "count")
    metric("ingest_eps", eps, "1/s")
    epochMetrics(epochs, lags)
    if (a.trace) Attribution.ingest(this, tracer, Cores, in.nEvents)

    sampleHeap()
    mark("measured phase done")
    val cols = Oracle.PayloadCols :+ "updated_by"
    val (oracle, live) = oracleFor(in.base, in.events, Some(f3Oracle), in.keys, cols)
    mark("oracle done")
    tracer.attach(spark)
    try readSide(oracle, live, in.keys, cols, WalReads)
    finally tracer.detach(spark)
    if (a.trace) {
      Attribution.readSide(this, tracer, oracle.rows)
      Attribution.isolated(this, in, f3Filters, f3Transforms)
    }
    layer("feed.input_mb", Fs.sizeOf(Paths.get(in.wal)) / 1e6, "MB")
    sampleHeap()
    mark("read side done")

    // scaling: the whole file set as one bulk WAL epoch on 4 cores, then on
    // 1 core. The traced run alternates untraced and traced 4-core drains;
    // their ratio is the tracing overhead.
    val bulkCfg = cfg.copy(feedDir = in.wal, maxFilesPerTrigger = nFiles,
      autoCompactEveryEpochs = 0)
    val drains = (0 until (if (a.trace) 4 else 1)).map { i =>
      val traced = a.trace && i % 2 == 1
      restore()
      if (traced) tracer.attach(spark)
      try (drain(bulkCfg.copy(checkpointDir = freshCheckpoint()), wal = true)._1, traced)
      finally if (traced) tracer.detach(spark)
    }
    val t4 = Stats.median(drains.filterNot(_._2).map(_._1))
    if (a.trace)
      layer("trace.overhead_share", Stats.median(drains.filter(_._2).map(_._1)) / t4 - 1, "ratio")
    scaling(t4, bulkCfg, wal = true, in.nEvents)
  }

  /** Publish `nFiles` on a fixed schedule into a running ProcessingTime
    * stream; returns the epochs, each file's commit lag from the moment it
    * was due, and the events per second from the first due time to the
    * last commit. */
  def openLoop(cfg: RunnerConfig, nFiles: Int, publish: Int => Unit, events: Long)
      : (Seq[Tracer.Epoch], Seq[Double], Double) = {
    val q = CdcRunner.startFromWal(spark, cfg, "corpus", "documents",
      availableNow = false, intervalSeconds = 0)
    try {
      Thread.sleep(StreamStartMs)
      val intervalMs = (WalIntervalS * 1000).round
      val t0 = System.currentTimeMillis()
      val due = (0 until nFiles).map(i => t0 + i * intervalMs)
      val late = due.zipWithIndex.map { case (d, i) =>
        val wait = d - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        publish(i)
        System.currentTimeMillis() - d
      }
      val maxLate = late.max
      layer("feed.publisher_late_ms_max", maxLate.toDouble, "ms")
      check(s"publisher ran on schedule (latest publish $maxLate ms late)")(
        maxLate <= MaxLatenessMs)
      // the last file must commit within the catch-up bound
      val deadline = System.currentTimeMillis() + CatchUpMs
      while (epochsOf(q).size < nFiles && System.currentTimeMillis() < deadline &&
          q.exception.isEmpty) Thread.sleep(20)
      val epochs = epochsOf(q)
      check(s"open loop: $nFiles files committed as ${epochs.size} one-file epochs " +
        s"within ${CatchUpMs / 1000} s of the last publish")(epochs.size == nFiles)
      val lake = new LakeTable(table)
      check("every published event received")(received(lake) == events)
      val lags = epochs.zip(due).map { case (e, d) => (e.endMs - d) / 1e3 }
      val eps = events / ((epochs.last.endMs - t0) / 1e3)
      (epochs, lags, eps)
    } finally {
      q.stop()
    }
  }

  var sessionS = 0.0

  /** setup_s: session start + median full load + the warm-up drains. */
  def setupParts(load: Double, warm: Double): Unit = {
    mark("setup done")
    metric("setup_s", sessionS + load + warm, "s")
    note(f"setup: session $sessionS%.3f s, full load (median of $LoadRepeats) $load%.3f s, " +
      f"warm-up drains $warm%.3f s")
  }

  def finish(): Unit = {
    note(f"heap after collection (MB): ${heapSamples.map(h => f"$h%.1f").mkString(" ")}")
    metric("heap_peak_mb", heapSamples.max, "MB")
  }
}

object Run {
  val Workloads = Seq("cow_bulk", "wal_stream")

  // cow_bulk
  val BulkEvents = 80000L
  val BulkDocs = 20000L
  val BulkMaxTok = 64
  val BulkFiles = 8
  val BulkFilesPerEpoch = 4
  val BulkBuckets = 16
  val BulkWarmDrains = 2
  val MinCycles = 2
  val MinTracedCycles = 5
  val NominalDrainS = 4.0

  // wal_stream
  val WalIntervalS = 3.0
  val WalEventsPerFile = 1000
  val WalDocs = 15000L
  val WalMaxTok = 64
  val WalBuckets = 8
  val WalCompactEvery = 3
  val WalWarmFiles = 3
  val StreamStartMs = 1000L
  val MaxLatenessMs = 100L
  val CatchUpMs = 60000L

  val LoadRepeats = 3
  /** Timed snapshot reads per run; the lookups are spread over them. */
  val BulkReads = 8
  val WalReads = 5
  val WarmReads = 3
  val WarmLookups = 3
  val HeapSettleMs = 250L
}
