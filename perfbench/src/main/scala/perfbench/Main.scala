package perfbench

import java.nio.file.{Files, Paths}

/**
 * Benchmark entry point:
 * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *  --work <dir> --cache <dir> --trace-out <file>`.
 * The last line of standard output is the result object; `--trace 0` reports
 * the end-to-end metrics, `--trace 1` the per-layer ones.
 */
object Main {

  val EndToEnd: Seq[String] = Seq("setup_s", "ingest_eps", "scaling_eff",
    "commit_lag_s_p50", "commit_lag_s_tail", "epoch_s_p50", "epoch_s_tail",
    "read_s", "lookup_ms_p50", "lookup_ms_tail", "fold_s", "storage_mb", "heap_peak_mb")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("cache"), need("trace-out"))
    require(Run.Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Run.Workloads.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    val run = new Run(a)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var code = 0
    try {
      Files.createDirectories(Paths.get(a.work))
      run.spark = run.newSession(run.Cores)
      // session start counts from JVM start: class loading is part of it
      run.sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
      a.workload match {
        case "cow_bulk" => run.cowBulk()
        case "wal_stream" => run.walStream()
      }
      run.finish()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        run.check(s"run completed (${e.getClass.getSimpleName}: ${e.getMessage})")(false)
        code = 1
    } finally {
      if (run.spark != null) run.spark.stop()
      Fs.rm(Paths.get(a.work))
    }
    if (a.trace) TraceFile.write(Paths.get(a.traceOut), run.tracer)
    run.note(f"run wall ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")
    run.notes.foreach(n => println(s"# $n"))
    println(result(run))
    sys.exit(code)
  }

  def result(run: Run): String = {
    val wanted =
      if (run.a.trace) Attribution.PerLayer
      else EndToEnd.map(n => n -> run.metrics.get(n).map(_._2).getOrElse(""))
    val source = if (run.a.trace) run.layers else run.metrics
    val ms = wanted.flatMap { case (name, unit) =>
      source.get(name) match {
        case Some((v, u)) if !v.isNaN && !v.isInfinite => Some(name -> ((v, u)))
        case None if run.a.trace => Some(name -> ((0.0, unit)))
        case _ => None
      }
    }
    val missing = wanted.map(_._1).filterNot(ms.map(_._1).contains)
    if (missing.nonEmpty) run.check(s"every metric measured (missing ${missing.mkString(",")})")(false)
    val body = ms.map { case (n, (v, u)) =>
      s"${Json.str(n)}: {\"value\": ${java.lang.Double.toString(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    s"""{"correct": ${run.failed == 0}, "attempted": ${math.max(1L, run.attempted)}, """ +
      s""""failed": ${run.failed}, "metrics": {$body}}"""
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** The traced run's record, written once at the end: spans with their self
  * time, jobs with the layer they were given, and micro-batch epochs. */
object TraceFile {
  def write(path: java.nio.file.Path, t: Tracer): Unit = {
    val spans = t.allSpans
    val jobs = t.jobs.finishedJobs
    val stages = t.jobs.stages
    val run = Json.str(t.runId)
    val layers = Attribution.classify(jobs, stages, t.progress.epochs)
    val lines = spans.map { s =>
      val children = spans.filter(_.parent == s.id)
        .map(c => (c.startMs, c.endMs)).sortBy(_._1)
      val covered = children.foldLeft((0L, Long.MinValue)) { case ((sum, reach), (st, en)) =>
        val from = math.max(st, reach)
        (sum + math.max(0L, en - from), math.max(reach, en))
      }._1
      s"""{"kind": "span", "run": $run, "id": ${s.id}, "name": ${Json.str(s.name)}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "parent": ${s.parent}, """ +
        s""""self_ms": ${s.endMs - s.startMs - covered}}"""
    } ++ jobs.map { j =>
      val (layer, phase) = layers(j.id)
      val site = j.stageIds.flatMap(stages.get).sortBy(-_.id).headOption
        .map(_.details.split("\n").take(4).map(_.trim).mkString(" < ")).getOrElse("")
      s"""{"kind": "job", "run": $run, "id": ${j.id}, "layer": ${Json.str(layer)}, """ +
        s""""phase": ${Json.str(phase.getOrElse(""))}, "desc": ${Json.str(j.desc.take(120))}, """ +
        s""""site": ${Json.str(site)}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}}"""
    } ++ t.progress.epochs.map { e =>
      val d = e.durations.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString(", ")
      s"""{"kind": "epoch", "run": $run, "batch": ${e.batchId}, "start_ms": ${e.startMs}, """ +
        s""""rows": ${e.inputRows}, "duration_ms": {$d}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
