package perfbench

import org.apache.spark.sql.functions._

import graft.feed.WalParser
import graft.model.ChangeEvent
import graft.rules.{FilterCfg, FilterCompiler, TableSpec, TransformCfg, TransformCompiler}

/**
 * Per-layer figures of a traced run. Spark stamps every job of a streaming
 * query with the call site of its start, so inside a micro-batch jobs are
 * placed by the labels the engine sets and by their order in the batch body,
 * which `CdcRunner` fixes: source work (the WAL stash, labelled `wal:`), then
 * `MergeApply` (every phase labelled `merge: <phase>`), then the maintenance
 * tick. A job before the first `merge:` job is feed, one between them is
 * apply, one after the last is lake maintenance. Jobs outside micro-batches
 * go by the innermost engine frame of their call stack (`graft.lake.*` →
 * lake, ...). Job time is the union of job intervals; where jobs overlap,
 * the overlap is shared equally, so the layer figures add up to the wall
 * time that some job covered. What no rule places is `unattributed_s`.
 */
object Attribution {
  import Tracer._

  /** Every per-layer metric a traced run reports, with its unit. A metric
    * that does not apply to a workload (a layer it bypasses) reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "apply.job_s" -> "s",
    "apply.reduce_stats_s" -> "s",
    "apply.merge_write_s" -> "s",
    "apply.delta_write_s" -> "s",
    "apply.quarantine_scan_s" -> "s",
    "apply.stats_resolve_s" -> "s",
    "apply.shuffle_write_mb" -> "MB",
    "apply.shuffle_read_mb" -> "MB",
    "apply.spill_mb" -> "MB",
    "apply.task_skew" -> "ratio",
    "apply.rows_out_per_event" -> "ratio",
    "apply.busy_share" -> "ratio",
    "runner.trigger_s" -> "s",
    "runner.latest_offset_s" -> "s",
    "runner.query_planning_s" -> "s",
    "runner.offset_log_s" -> "s",
    "runner.add_batch_s" -> "s",
    "runner.driver_gap_s" -> "s",
    "runner.job_s" -> "s",
    "runner.epochs" -> "count",
    "runner.jobs_per_epoch" -> "count",
    "feed.stash_s" -> "s",
    "feed.job_s" -> "s",
    "feed.parse_s" -> "s",
    "feed.parse_eps" -> "1/s",
    "feed.input_mb" -> "MB",
    "feed.publisher_late_ms_max" -> "ms",
    "rules.compile_ms" -> "ms",
    "rules.eval_s" -> "s",
    "lake.job_s" -> "s",
    "lake.maintenance_s" -> "s",
    "lake.read_input_mb" -> "MB",
    "lake.read_rows_per_row_returned" -> "ratio",
    "lake.delta_files" -> "count",
    "lake.live_files" -> "count",
    "lake.lookup_files_opened" -> "count",
    "lake.fold_shuffle_mb" -> "MB",
    "lake.bytes_written_mb" -> "MB",
    "jvm.gc_s" -> "s",
    "jvm.codegen_compiles" -> "count",
    "unattributed_s" -> "s",
    "trace.residual_share" -> "ratio",
    "trace.overhead_share" -> "ratio")

  /** Largest share of the epoch wall the layer split may leave unexplained. */
  val Tolerance = 0.05

  private val phaseMetric = Map(
    "reduce+stats" -> "apply.reduce_stats_s",
    "merge+write" -> "apply.merge_write_s",
    "delta-write" -> "apply.delta_write_s",
    "quarantine-scan" -> "apply.quarantine_scan_s",
    "stats-resolve" -> "apply.stats_resolve_s")

  private val FrameLayer = """^\s*(?:at\s+)?graft\.(lake|apply|runner|feed|rules|hadoop)\..*""".r
  private val HarnessFrame = """^\s*(?:at\s+)?perfbench\..*""".r

  /** Layer of a job outside any micro-batch: its innermost engine frame. */
  def bySite(j: Job, stages: Map[Int, Stage]): (String, Option[String]) = {
    val frames = j.stageIds.flatMap(stages.get).sortBy(-_.id).headOption
      .map(_.details.split("\n").toSeq).getOrElse(Nil)
    (frames.collectFirst {
      case FrameLayer(l) => if (l == "hadoop") "lake" else l
      case HarnessFrame() => "harness"
    }.getOrElse("unattributed"), None)
  }

  /** Jobs started inside an epoch's trigger. */
  def jobsIn(e: Epoch, jobs: Seq[Job]): Seq[Job] =
    jobs.filter(j => j.startMs >= e.startMs && j.startMs <= e.endMs).sortBy(_.id)

  /** Layer and phase of every job: micro-batch jobs by label and position,
    * the rest by call site. */
  def classify(jobs: Seq[Job], stages: Map[Int, Stage], epochs: Seq[Epoch])
      : Map[Int, (String, Option[String])] = {
    val inBatch = epochs.flatMap { e =>
      val js = jobsIn(e, jobs)
      val merges = js.indices.filter(i => js(i).desc.startsWith("merge: "))
      js.zipWithIndex.map { case (j, i) =>
        j.id -> (
          if (j.desc.startsWith("merge: ")) ("apply", Some(j.desc.stripPrefix("merge: ")))
          else if (merges.isEmpty) ("unattributed", None)
          else if (i < merges.head)
            ("feed", if (j.desc.startsWith("wal:")) Some("stash") else None)
          else if (i > merges.last) ("lake", Some("maintenance"))
          else ("apply", None))
      }
    }.toMap
    jobs.map(j => j.id -> inBatch.getOrElse(j.id, bySite(j, stages))).toMap
  }

  /** Seconds of each job inside [lo, hi]: the union of the job intervals,
    * with overlapping stretches split equally among the jobs running. */
  def share(jobs: Seq[Job], lo: Long, hi: Long): Map[Int, Double] = {
    val clipped = jobs.map(j => (j.id, math.max(j.startMs, lo), math.min(j.endMs, hi)))
      .filter(c => c._3 > c._2)
    val cuts = clipped.flatMap(c => Seq(c._2, c._3)).distinct.sorted
    val acc = scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(s, e) =>
        val live = clipped.filter(c => c._2 <= s && c._3 >= e)
        if (live.nonEmpty) live.foreach(c => acc(c._1) += (e - s) / 1e3 / live.size)
      case _ => ()
    }
    acc.toMap
  }

  /** Layer figures of the traced ingest: jobs inside each epoch's trigger,
    * the runner's own progress durations, and the accounting check. */
  def ingest(run: Run, tracer: Tracer, cores: Int, events: Long): Unit = {
    val jobs = tracer.jobs.finishedJobs
    val stages = tracer.jobs.stages
    val epochs = tracer.progress.epochs
    val layerOfJob = classify(jobs, stages, epochs)
    val byLayer = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var gap = 0.0
    var jobsInEpochs = 0
    epochs.foreach { e =>
      val shares = share(jobs, e.startMs, e.endMs)
      jobsInEpochs += shares.size
      shares.foreach { case (id, s) =>
        val (l, phase) = layerOfJob(id)
        byLayer(s"$l.job_s") += s
        phase.foreach {
          case "maintenance" => byLayer("lake.maintenance_s") += s
          case "stash" => byLayer("feed.stash_s") += s
          case p => phaseMetric.get(p).foreach(byLayer(_) += s)
        }
      }
      gap += math.max(0.0, e.durations.getOrElse("addBatch", 0L) / 1e3 - shares.values.sum)
    }
    def dur(k: String) = epochs.map(_.durations.getOrElse(k, 0L)).sum / 1e3
    val trigger = dur("triggerExecution")
    val bookkeeping = epochs.flatMap(_.durations.collect {
      case (k, v) if k != "triggerExecution" && k != "addBatch" => v
    }).sum / 1e3
    val jobTime = byLayer.collect { case (k, v) if k.endsWith(".job_s") => v }.sum
    val residual = if (trigger > 0) (trigger - jobTime - gap - bookkeeping) / trigger else 0.0

    Seq("apply", "runner", "feed", "lake").foreach(l =>
      run.layer(s"$l.job_s", byLayer(s"$l.job_s"), "s"))
    // rules compile into the apply jobs' plans and never own a job; harness
    // jobs never run inside an epoch: either showing up here is a label gap
    run.layer("unattributed_s", Seq("unattributed", "rules", "harness")
      .map(l => byLayer(s"$l.job_s")).sum, "s")
    phaseMetric.values.foreach(m => run.layer(m, byLayer(m), "s"))
    run.layer("lake.maintenance_s", byLayer("lake.maintenance_s"), "s")
    run.layer("feed.stash_s", byLayer("feed.stash_s"), "s")
    run.layer("runner.trigger_s", trigger, "s")
    run.layer("runner.latest_offset_s", dur("latestOffset"), "s")
    run.layer("runner.query_planning_s", dur("queryPlanning"), "s")
    run.layer("runner.offset_log_s", dur("walCommit") + dur("commitOffsets"), "s")
    run.layer("runner.add_batch_s", dur("addBatch"), "s")
    run.layer("runner.driver_gap_s", gap, "s")
    run.layer("runner.epochs", epochs.size.toDouble, "count")
    run.layer("runner.jobs_per_epoch",
      if (epochs.isEmpty) 0.0 else jobsInEpochs.toDouble / epochs.size, "count")
    run.layer("trace.residual_share", residual, "ratio")
    run.check(f"layer split accounts for the epoch wall within ${Tolerance * 100}%.0f%% " +
      f"(residual ${residual * 100}%.1f%% of $trigger%.2f s)")(math.abs(residual) <= Tolerance)

    // counters of the apply jobs
    val applyJobs = jobs.filter(j => layerOfJob(j.id)._1 == "apply")
    val applyStages = applyJobs.flatMap(_.stageIds).distinct.flatMap(stages.get)
    run.layer("apply.shuffle_write_mb", applyStages.map(_.shuffleWrite).sum / 1e6, "MB")
    run.layer("apply.shuffle_read_mb", applyStages.map(_.shuffleRead).sum / 1e6, "MB")
    run.layer("apply.spill_mb", applyStages.map(_.spill).sum / 1e6, "MB")
    val skews = applyStages.filter(s => s.shuffleRead > 0 && s.taskRunMs.size >= 2)
      .map(s => s.taskRunMs.max / math.max(1.0, Stats.median(s.taskRunMs.map(_.toDouble))))
    run.layer("apply.task_skew", if (skews.isEmpty) 0.0 else Stats.median(skews), "ratio")
    val written = jobs.filter(j => layerOfJob(j.id)._2.contains("merge+write"))
      .flatMap(_.stageIds).distinct.flatMap(stages.get).map(_.outRecords).sum
    run.layer("apply.rows_out_per_event", written.toDouble / events, "ratio")
    val applyWallMs = applyJobs.map(j => j.endMs - j.startMs).sum
    run.layer("apply.busy_share",
      if (applyWallMs == 0) 0.0 else applyStages.map(_.runMs).sum.toDouble / (applyWallMs * cores),
      "ratio")
  }

  /** Counters of the read-side spans: snapshot reads, lookups and the fold. */
  def readSide(run: Run, tracer: Tracer, rowsReturned: Long): Unit = {
    val jobs = tracer.jobs.finishedJobs
    val stages = tracer.jobs.stages
    def stagesIn(name: String): Seq[Stage] = {
      val spans = tracer.allSpans.filter(_.name == name)
      jobs.filter(j => spans.exists(s => j.startMs >= s.startMs && j.endMs <= s.endMs))
        .flatMap(_.stageIds).distinct.flatMap(stages.get)
    }
    val reads = tracer.allSpans.count(_.name == "read")
    val rs = stagesIn("read")
    run.layer("lake.read_rows_per_row_returned",
      rs.map(_.inRecords).sum.toDouble / math.max(1L, rowsReturned * reads), "ratio")
    val fs = stagesIn("fold")
    run.layer("lake.fold_shuffle_mb", fs.map(_.shuffleWrite).sum / 1e6, "MB")
    run.layer("lake.bytes_written_mb", fs.map(_.outBytes).sum / 1e6, "MB")
  }

  /** Isolated layer timings on the run's own inputs, noop sinks, medians of
    * three: the WAL parse and the rules' compile and evaluation. */
  def isolated(run: Run, in: Inputs.Wal, filters: Seq[FilterCfg],
      transforms: Seq[TransformCfg]): Unit = {
    val spark = run.spark
    def noop(df: org.apache.spark.sql.DataFrame): Double =
      run.timed(df.write.format("noop").mode("overwrite").save())._2
    def med3(f: => Double): Double = Stats.median(Seq(f, f, f))
    val payload = org.apache.spark.sql.types.StructType(ChangeEvent.defaultPayloadFields)
    val raw = spark.read.schema(WalParser.rawSchema).parquet(in.wal)
    val parse = med3(noop(WalParser.parse(raw, payload)))
    run.layer("feed.parse_s", parse, "s")
    run.layer("feed.parse_eps", in.nEvents / parse, "1/s")

    val events = spark.read.parquet(in.events)
    val compileMs = Stats.median((1 to 50).map { _ =>
      run.timed {
        FilterCompiler.cdcPredicate(filters, events.schema, col(ChangeEvent.OP))
        TransformCompiler.compile(transforms, TableSpec("lake", "t", Seq(ChangeEvent.DOC_ID)),
          events.schema)
      }._2 * 1e3
    })
    run.layer("rules.compile_ms", compileMs, "ms")
    val bare = med3(noop(events))
    val ruled = med3(noop(TransformCompiler.compile(transforms,
      TableSpec("lake", "t", Seq(ChangeEvent.DOC_ID)), events.schema)
      .apply(events.filter(FilterCompiler.cdcPredicate(filters, events.schema,
        col(ChangeEvent.OP))))))
    run.layer("rules.eval_s", ruled - bare, "s")
  }
}
