package graft

import org.apache.spark.sql.execution.SparkPlan

/**
 * Physical-plan audit: the declarative formulation must actually produce the
 * plans we claim at scale — filters pushed into the parquet scan, projection
 * pruned to referenced columns, broadcast for the small query side. Guards
 * against regressions that silently turn scans into full reads.
 */
class PlanAuditSpec extends SparkSpec {

  private def planOf(q: String, dir: String = "/root/testdata/sf0.001"): String = {
    // don't let scan-metadata truncation hide pushed filters from the audit
    spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
  }

  /** Any ShuffleDependency in the FULL physical RDD lineage, including inside
    * the fold's pre-executed pipeline. */
  private def hasShuffle(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
    rdd.dependencies.exists {
      case _: org.apache.spark.ShuffleDependency[_, _, _] => true
      case d => hasShuffle(d.rdd)
    }

  test("filter queries push predicates into the parquet scan") {
    val p = planOf("q_filter_compare")
    assert(p.contains("PushedFilters: [") && p.contains("IsNotNull(l_quantity)"),
      "scan advertises pushed filters")
    assert(p.contains("GreaterThan(l_quantity,10"), s"range filter pushed:\n$p")
    assert(p.contains("IN (A,N)"), "IN predicate in the scan-adjacent filter")
    // column pruning: untouched columns never leave the scan
    assert(!p.contains("l_extendedprice"), "unused column pruned from ReadSchema")
  }

  test("date filters push down as timestamp bounds") {
    val p = planOf("q_filter_dates")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"), s"date bounds pushed:\n$p")
  }

  test("brute-force ANN broadcasts the query side") {
    val p = planOf("q_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"small query side broadcast:\n$p")
  }

  test("merge-on-read resolution is bucket-local: zero Exchange in the read plan; " +
    "pure-CoW reads skip the fold") {
    import graft.feed.ChangeFeed
    import graft.model._
    import graft.runner.{CdcRunner, RunnerConfig}
    val root = tmpDir("graft-plan-mor")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, merge = MergeStrategy.MergeOnRead, buckets = 4))
    ChangeFeed.writeFeed(
      ChangeFeed.events(spark, ChangeFeed.FeedSpec(nEvents = 200, nDocs = 40)),
      cfg.feedDir, nFiles = 2)
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake, ChangeFeed.seedSnapshot(spark, 20), cfg)
    CdcRunner.runAvailableNow(spark, cfg)
    assert(lake.manifest.hasDeltas)
    // files are disjoint by bucket, so resolution needs no data movement:
    // each bucket's files read as one partition (narrow Coalesce) + an
    // in-partition sorted fold at the InternalRow layer — a key-hash
    // Exchange here would re-shuffle the whole table on every read at
    // 100 TB scale. Hard proof: walk the ENTIRE physical RDD lineage of the
    // resolved read (including inside the fold's pre-executed pipeline) and
    // assert no ShuffleDependency exists anywhere.
    val reading = lake.read(spark)
    assert(!hasShuffle(reading.queryExecution.toRdd),
      "no ShuffleDependency in the full lineage of a delta-bearing read")
    val morPlan = reading.queryExecution.executedPlan.toString
    assert(!morPlan.contains("Exchange"),
      s"delta-bearing read has NO shuffle (bucket-local fold):\n$morPlan")
    // folding the deltas removes the resolution from the read plan entirely
    lake.compact(spark, maxFilesPerBucket = Int.MaxValue, maxDeltaFiles = 1)
    val cowQe = lake.read(spark).queryExecution
    val cowPlan = cowQe.executedPlan.toString
    assert(!cowPlan.contains("ExistingRDD") && !cowPlan.contains("Exchange"),
      s"pure-CoW read is a plain pruned scan:\n$cowPlan")
    assert(!hasShuffle(cowQe.toRdd))
  }

  test("many-bucket MoR read: bounded plan depth and plan-build wall at 256+ " +
    "delta-bearing buckets (balanced tree), zero shuffle") {
    import graft.feed.ChangeFeed
    import graft.model._
    import graft.runner.{CdcRunner, RunnerConfig}
    val root = tmpDir("graft-plan-fanout")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, merge = MergeStrategy.MergeOnRead,
        buckets = 320))
    ChangeFeed.writeFeed(
      ChangeFeed.events(spark, ChangeFeed.FeedSpec(nEvents = 4000, nDocs = 3000)),
      cfg.feedDir, nFiles = 1)
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake, ChangeFeed.seedSnapshot(spark, 3000), cfg)
    CdcRunner.runAvailableNow(spark, cfg)
    val deltaBuckets = lake.manifest.files.filter(_.isDelta).map(_.bucket).toSet
    assert(deltaBuckets.size >= 256, s"fixture: ${deltaBuckets.size} delta-bearing buckets")
    // balanced-tree union: plan build — analysis,
    // optimization, physical planning, toRdd — must stay bounded; a left-deep
    // union chain over hundreds of separate parquet relations is where the
    // driver would otherwise pay quadratic Catalyst work
    val t0 = System.nanoTime()
    val reading = lake.read(spark)
    val rdd = reading.queryExecution.toRdd
    val planWallS = (System.nanoTime() - t0) / 1e9
    info(f"tree-union plan build: $planWallS%.1f s for ${deltaBuckets.size} buckets")
    // The regression this guards against is a LEFT-DEEP union chain over
    // ~320 relations (quadratic Catalyst traversals). That shape is asserted
    // STRUCTURALLY — plan depth O(log branches), not O(branches) — because it
    // is deterministic: an absolute wall flapped 17× between an idle box
    // (<15 s) and the tail of the full suite under an aged shared session
    // (167-257 s), where a bound tight enough to catch the quadratic shape is
    // loose enough to pass it and vice versa. The wall stays only as a
    // generous backstop for non-shape pathologies.
    def depth(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      1 + (if (p.children.isEmpty) 0 else p.children.map(depth).max)
    val d = depth(reading.queryExecution.analyzed)
    assert(d <= 64,
      s"analyzed plan depth $d for ${deltaBuckets.size} delta-bearing buckets — " +
        "a left-deep union chain would be ~320 deep; the balanced tree is ~9 + " +
        "the per-group subtree")
    assert(planWallS < 600.0, s"plan build took $planWallS s for ${deltaBuckets.size} buckets")
    assert(!hasShuffle(rdd), "tree-union path is still zero-shuffle")
  }

  test("delta-bearing point lookups fold bucket-locally: no ShuffleDependency " +
    "in the lookup lineage (LWW and SCD2)") {
    import graft.feed.ChangeFeed
    import graft.model._
    import graft.runner.{CdcRunner, RunnerConfig}
    for (mode <- Seq(CdcMode.Upsert, CdcMode.Scd2)) {
      val root = tmpDir("graft-plan-lookup")
      val cfg = RunnerConfig(
        feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
        job = JobConfig(mode = mode, merge = MergeStrategy.MergeOnRead, buckets = 4))
      ChangeFeed.writeFeed(
        ChangeFeed.events(spark, ChangeFeed.FeedSpec(nEvents = 200, nDocs = 40)),
        cfg.feedDir, nFiles = 2)
      val lake = CdcRunner.ensureTable(spark, cfg)
      CdcRunner.fullLoad(spark, lake, ChangeFeed.seedSnapshot(spark, 20), cfg)
      CdcRunner.runAvailableNow(spark, cfg)
      // a key whose lookup file set holds live deltas: the resolution runs
      val key = lake.manifest.files.filter(_.isDelta).iterator
        .flatMap(f => spark.read.parquet(f.path).select("doc_id").collect()
          .map(_.getString(0)))
        .find(k => lake.lookupFiles(k).exists(_.isDelta))
      assert(key.nonEmpty, s"$mode fixture: some lookup meets a delta file")
      val looked = lake.lookup(spark, key.get)
      assert(!hasShuffle(looked.queryExecution.toRdd),
        s"$mode: no ShuffleDependency in the lineage of a delta-bearing lookup")
      assert(looked.collect().map(_.toString).sorted.sameElements(
        lake.read(spark).filter(org.apache.spark.sql.functions.col("doc_id") === key.get)
          .collect().map(_.toString).sorted),
        s"$mode: lookup == filtered read")
    }
  }

  test("changeLog is a pure pruned scan: no Exchange, no fold, no aggregation") {
    import graft.feed.ChangeFeed
    import graft.model._
    import graft.runner.{CdcRunner, RunnerConfig}
    val root = tmpDir("graft-plan-cl")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, merge = MergeStrategy.MergeOnRead, buckets = 4))
    ChangeFeed.writeFeed(
      ChangeFeed.events(spark, ChangeFeed.FeedSpec(nEvents = 200, nDocs = 40)),
      cfg.feedDir, nFiles = 2)
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.runAvailableNow(spark, cfg)
    // the change feed is the raw delta-file content — consumers fold it
    // themselves, so the read itself must not pay any resolution cost
    val qe = lake.changeLog(spark, 1, lake.currentVersion).queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Aggregate") &&
      !plan.contains("ExistingRDD"),
      s"changeLog plan is scan+project only:\n$plan")
  }

  test("a copy-on-write merge epoch shuffles once: the write's exchange " +
    "also groups the fold (upsert and SCD2)") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import graft.apply.MergeApply
    import graft.feed.ChangeFeed
    import graft.model._
    import graft.runner.{CdcRunner, RunnerConfig}
    val sc = spark.sparkContext
    for (mode <- Seq(CdcMode.Upsert, CdcMode.Scd2)) {
      val root = tmpDir("graft-plan-cow")
      val cfg = RunnerConfig(
        feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
        job = JobConfig(mode = mode, buckets = 4))
      val lake = CdcRunner.ensureTable(spark, cfg)
      CdcRunner.fullLoad(spark, lake, ChangeFeed.seedSnapshot(spark, 40), cfg)
      val events = ChangeFeed.events(spark,
        ChangeFeed.FeedSpec(nEvents = 200, nDocs = 80))
      val marker = s"plan-audit-marker-$mode"
      // a shuffle map stage is one that writes shuffle output
      val labelled = new ConcurrentLinkedQueue[Int]()
      val shuffleStages = new ConcurrentLinkedQueue[Int]()
      val markerJobs = new ConcurrentLinkedQueue[Int]()
      @volatile var markerDone = false
      val listener = new SparkListener {
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
          if (Option(e.properties)
              .exists(_.getProperty("spark.job.description") == "merge: merge+write"))
            labelled.add(e.stageInfo.stageId)
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          if (labelled.contains(e.stageInfo.stageId) &&
              e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
            shuffleStages.add(e.stageInfo.stageId)
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties)
              .exists(_.getProperty("spark.job.description") == marker))
            markerJobs.add(e.jobId)
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          if (markerJobs.contains(e.jobId)) markerDone = true
      }
      sc.addSparkListener(listener)
      try {
        MergeApply.applyBatch(spark, lake, events, 0L, cfg.job)
        // the listener sees events in order: once the marker job posted its
        // end, every stage the merge submitted has been counted
        sc.setJobDescription(marker)
        try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
        eventually(timeout(30.seconds))(assert(markerDone))
      } finally sc.removeSparkListener(listener)
      assert(shuffleStages.size == 1,
        s"$mode: shuffle map stages under merge+write: $shuffleStages")
      assert(lake.read(spark).count() > 0)
    }
  }

  test("LWW reduction uses partial aggregation (map-side combine)") {
    val feed = graft.queries.Queries.feedFromEvents(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.functions._
    val reduced = feed.groupBy("doc_id")
      .agg(max_by(struct(col("op"), col("lsn")), col("lsn")))
    val p = reduced.queryExecution.executedPlan.toString
    // two-phase hash agg: partial before the shuffle, final after
    assert(p.contains("partial_max_by") || p.contains("ObjectHashAggregate"),
      s"partial aggregation present:\n$p")
  }

  test("jdbc sync collapse is the same skew-safe shape: partial max_by, " +
    "one shuffle, winner values correct") {
    import org.apache.spark.sql.functions._
    val changes = spark.range(0, 3000).select(
      concat(lit("d"), pmod(col("id"), lit(7))).as("doc_id"), // 7 hot keys
      col("id").cast("int").as("n_tok"),
      lit("s").as("source"),
      col("id").as("_lsn"),
      (col("id") % 11 === 0).as("_deleted"))
    val collapsed = graft.feed.JdbcEndpoint.collapseChanges(changes, Seq("doc_id"))
    val p = collapsed.queryExecution.executedPlan.toString
    assert(p.contains("partial_max_by") || p.contains("ObjectHashAggregate"),
      s"map-side combine present:\n$p")
    assert(p.split("Exchange").length <= 2, s"exactly one shuffle:\n$p")
    val rows = collapsed.collect().map(r =>
      r.getAs[String]("doc_id") -> r.getAs[Int]("n_tok")).toMap
    assert(rows.size == 7 && rows("d0") == 2996,
      s"per-key winner is the max-LSN row: $rows")
  }
}
