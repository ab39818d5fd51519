package graft

import org.apache.spark.sql.Row

import graft.feed.ChangeFeed
import graft.lake.{DataFile, LakeTable}
import graft.model._
import graft.runner.{CdcRunner, RunnerConfig}

/**
 * Merge-on-read strategy: per-epoch DELTA commits (O(batch) write, no bucket
 * rewrite), read-time per-key max(_lsn) resolution, compaction folding, and
 * tombstone GC. Final-state equivalence with the replay oracle and with the
 * copy-on-write strategy is the contract.
 */
class MorSpec extends SparkSpec {

  private def runPipeline(merge: MergeStrategy, root: String,
      nDocs: Long = 100, nEvents: Long = 1500, zipf: Double = 1.2)
      : (LakeTable, Map[String, LwwOracle.Doc]) = {
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, merge = merge, buckets = 8),
      maxFilesPerTrigger = 2)
    val seedDf = ChangeFeed.seedSnapshot(spark, nDocs)
    val eventsDf = ChangeFeed.events(spark,
      ChangeFeed.FeedSpec(nEvents = nEvents, nDocs = nDocs * 2, zipf = zipf))
    ChangeFeed.writeFeed(eventsDf, cfg.feedDir, 8)
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake, seedDf, cfg)
    CdcRunner.runAvailableNow(spark, cfg)
    (lake, LwwOracle.finalState(seedDf.collect().toSeq, eventsDf.collect().toSeq))
  }

  /** Engine state at the head, `_lsn`, `_deleted` and tombstones included,
    * as sorted row strings over name-sorted columns. */
  private def engineState(lake: LakeTable): Array[String] = {
    val df = lake.readState(spark, lake.currentVersion)
    df.select(df.columns.sorted.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toString).sorted
  }

  test("MoR final state == replay oracle == CoW final state; commits are delta-only") {
    val morRoot = tmpDir("graft-mor")
    val (mor, expected) = runPipeline(MergeStrategy.MergeOnRead, morRoot)
    assert(LwwOracle.fromTable(mor.read(spark)) == expected)

    val (cow, _) = runPipeline(MergeStrategy.CopyOnWrite, tmpDir("graft-mor-cow"))
    assert(LwwOracle.fromTable(cow.read(spark)) == LwwOracle.fromTable(mor.read(spark)))
    // one merge rule on both storage strategies: the engine states agree too
    val cowState = engineState(cow)
    // `_deleted` sorts first
    assert(cowState.exists(_.startsWith("[true,")), "fixture: some tombstone survives")
    assert(cowState.sameElements(engineState(mor)), "CoW engine state == MoR engine state")

    // every streaming epoch appended deltas and replaced nothing: the full-load
    // base files are still live alongside the deltas
    val m = mor.manifest
    assert(m.hasDeltas, "delta files committed")
    val baseFiles = m.files.filterNot(_.isDelta)
    assert(baseFiles.nonEmpty && baseFiles.forall(_.path.contains("epoch=-1")),
      "base files are exactly the full-load snapshot — no bucket was rewritten")
    assert(m.metrics.getOrElse("delta_commits", 0L) > 1L)
  }

  test("compaction folds deltas into base; reads unchanged; tombstones GC'd") {
    val root = tmpDir("graft-mor-compact")
    val (lake, expected) = runPipeline(MergeStrategy.MergeOnRead, root)
    val before = LwwOracle.fromTable(lake.read(spark))
    assert(before == expected)

    val compacted = lake.compact(spark, maxFilesPerBucket = Int.MaxValue, maxDeltaFiles = 1,
      dropTombstonesBelow = Some(Long.MaxValue))
    assert(!compacted.hasDeltas, "all deltas folded")
    assert(LwwOracle.fromTable(lake.read(spark)) == expected, "fold is read-equivalent")
    // tombstones physically gone: raw file rows == visible rows
    val rawRows = spark.read.parquet(
      compacted.files.map(_.path): _*).count()
    assert(rawRows == expected.size, s"raw=$rawRows visible=${expected.size}")
  }

  test("deltaHistory is sticky through a full fold: a fully-compacted MoR " +
    "table still defaults maintenance writers to delta commits") {
    val root = tmpDir("graft-mor-sticky")
    val (lake, _) = runPipeline(MergeStrategy.MergeOnRead, root)
    assert(lake.manifest.defaultMergeStrategy == "merge_on_read")
    val compacted = lake.compact(spark,
      maxFilesPerBucket = Int.MaxValue, maxDeltaFiles = 1)
    // the live evidence is gone, the history is not — a quarantine drain
    // defaulting from hasDeltas alone would commit a sidecar-less BASE epoch
    // here and wedge every changeLog window spanning it
    assert(!compacted.hasDeltas && compacted.deltaHistory)
    assert(compacted.defaultMergeStrategy == "merge_on_read")
    // and a table that never committed deltas stays copy_on_write
    val (cow, _) = runPipeline(MergeStrategy.CopyOnWrite, tmpDir("graft-mor-sticky-cow"))
    assert(!cow.manifest.deltaHistory &&
      cow.manifest.defaultMergeStrategy == "copy_on_write")
  }

  test("auto-compaction cadence folds deltas in-line with the stream") {
    val root = tmpDir("graft-mor-auto")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, merge = MergeStrategy.MergeOnRead, buckets = 4),
      maxFilesPerTrigger = 1,
      autoCompactEveryEpochs = 3, autoCompactMaxDeltaFiles = 1)
    val seedDf = ChangeFeed.seedSnapshot(spark, 50)
    val eventsDf = ChangeFeed.events(spark,
      ChangeFeed.FeedSpec(nEvents = 600, nDocs = 100))
    ChangeFeed.writeFeed(eventsDf, cfg.feedDir, 6) // 6 epochs → 2 fold passes
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake, seedDf, cfg)
    CdcRunner.runAvailableNow(spark, cfg)
    val m = lake.manifest
    assert(m.metrics.getOrElse("compactions", 0L) >= 2L, s"folds ran: ${m.metrics}")
    // only the post-fold epochs' deltas remain — bounded, not one per epoch
    assert(m.files.count(_.isDelta) <= 3, s"deltas bounded: ${m.files.count(_.isDelta)}")
    val expected = LwwOracle.finalState(seedDf.collect().toSeq, eventsDf.collect().toSeq)
    assert(LwwOracle.fromTable(lake.read(spark)) == expected)
  }

  test("MoR exactly-once: re-delivered epoch is a no-op; time travel resolves deltas") {
    val root = tmpDir("graft-mor-once")
    val (lake, expected) = runPipeline(MergeStrategy.MergeOnRead, root, nEvents = 400)
    val vBefore = lake.currentVersion
    val batch = spark.read.schema(ChangeEvent.schema()).parquet(s"$root/feed")
    val res = graft.apply.MergeApply.applyBatch(spark, lake, batch, 0L,
      JobConfig(merge = MergeStrategy.MergeOnRead))
    assert(res.skipped && lake.currentVersion == vBefore)
    // a historical snapshot (with deltas) still reads consistently
    val histCount = lake.readVersion(spark, vBefore - 1).count()
    assert(histCount > 0)
    assert(LwwOracle.fromTable(lake.read(spark)) == expected)
  }

  test("SCD2 merge-on-read: delta version rows + read-time chain rebuild == CoW history") {
    def runScd2(merge: MergeStrategy, root: String): graft.lake.LakeTable = {
      val cfg = RunnerConfig(
        feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
        job = JobConfig(mode = CdcMode.Scd2, merge = merge, buckets = 4),
        maxFilesPerTrigger = 2)
      ChangeFeed.writeFeed(
        ChangeFeed.events(spark, ChangeFeed.FeedSpec(nEvents = 500, nDocs = 60)),
        cfg.feedDir, 6)
      val lake = CdcRunner.ensureTable(spark, cfg)
      CdcRunner.fullLoad(spark, lake, ChangeFeed.seedSnapshot(spark, 30), cfg)
      CdcRunner.runAvailableNow(spark, cfg)
      lake
    }
    def history(lake: graft.lake.LakeTable) = lake.read(spark)
      .select("doc_id", "tokens", "n_tok", "source",
        "scd_start_date", "scd_end_date", "scd_current")
      .collect().map(_.toString).sorted

    val mor = runScd2(MergeStrategy.MergeOnRead, tmpDir("graft-scd2-mor"))
    val cow = runScd2(MergeStrategy.CopyOnWrite, tmpDir("graft-scd2-cow"))
    val morHist = history(mor)
    assert(mor.manifest.hasDeltas, "scd2 delta commits")
    assert(morHist.sameElements(history(cow)), "read-time rebuild == CoW history")
    assert(engineState(mor).sameElements(engineState(cow)),
      "MoR engine state (delete markers, _lsn) == CoW engine state")
    // fold is read-equivalent; no tombstone GC for scd2 (markers anchor ends)
    mor.compact(spark, maxFilesPerBucket = Int.MaxValue, maxDeltaFiles = 1,
      dropTombstonesBelow = Some(Long.MaxValue))
    assert(!mor.manifest.hasDeltas)
    assert(history(mor).sameElements(morHist), "fold preserves the chains")
    // a delete marker must still be physically present (GC refused)
    val raw = spark.read.parquet(mor.manifest.files.map(_.path): _*)
    assert(raw.filter(org.apache.spark.sql.functions.col("_deleted")).count() > 0)
  }

  test("full load of a snapshot holding one key twice lands ONE row for it " +
    "(CoW and MoR; SCD2 one current version)") {
    import org.apache.spark.sql.functions.{col, lit}
    val seed = ChangeFeed.seedSnapshot(spark, 12)
    val key = seed.select("doc_id").head().getString(0)
    val snap = seed.unionByName(seed.filter(col("doc_id") === key)
      .withColumn("source", lit("dup")))
    for ((mode, merge) <- Seq(CdcMode.Upsert -> MergeStrategy.CopyOnWrite,
        CdcMode.Upsert -> MergeStrategy.MergeOnRead,
        CdcMode.Scd2 -> MergeStrategy.CopyOnWrite)) {
      val root = tmpDir("graft-dupseed")
      val cfg = RunnerConfig(
        feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
        job = JobConfig(mode = mode, merge = merge, buckets = 4))
      val lake = CdcRunner.ensureTable(spark, cfg)
      CdcRunner.fullLoad(spark, lake, snap, cfg)
      val rows = lake.read(spark)
      assert(rows.count() == 12, s"$mode/$merge: ${rows.collect().toSeq}")
      assert(rows.filter(col("doc_id") === key).count() == 1, s"$mode/$merge")
      assert(lake.lookup(spark, key).count() == 1, s"$mode/$merge lookup")
      if (mode == CdcMode.Scd2)
        assert(rows.filter(col("scd_current") === 1).count() == 12,
          "every loaded key is one current version")
    }
  }

  test("MoR tombstone blocks out-of-order resurrection (same contract as CoW)") {
    val root = tmpDir("graft-mor-tomb")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, merge = MergeStrategy.MergeOnRead, buckets = 4))
    val lake = CdcRunner.ensureTable(spark, cfg)
    val schema = ChangeEvent.schema()
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    def batch(epoch: Long, rows: Row*): Unit =
      graft.apply.MergeApply.applyBatch(spark, lake,
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema),
        epoch, cfg.job)
    batch(0,
      Row(1L, 1L, ts(1), "INSERT", 1, "k1", Seq(1, 2), Int.box(2), "web"),
      Row(10L, 2L, ts(10), "DELETE", 1, "k1", null, null, null))
    assert(lake.read(spark).count() == 0)
    batch(1, Row(5L, 3L, ts(5), "INSERT", 1, "k1", Seq(9), Int.box(1), "web"))
    assert(lake.read(spark).count() == 0, "delta tombstone out-ranks the older insert")
    batch(2, Row(20L, 4L, ts(20), "INSERT", 1, "k1", Seq(7, 8), Int.box(2), "books"))
    val revived = lake.read(spark).collect()
    assert(revived.length == 1 && revived(0).getAs[String]("source") == "books")
  }

  test("untouched-base pruning: the fixpoint over footer ranges (unit, metadata only)") {
    import org.apache.spark.sql.types.{LongType, StringType}
    import graft.lake.{ColRange, GraftField, GraftSchema, Manifest}
    val v1 = GraftSchema(1, Seq(GraftField(1, "id", LongType)))
    val m = Manifest(version = 1, buckets = 2, currentSchemaId = 1, schemas = Seq(v1),
      files = Nil, epochWatermark = -2L, recentEpochs = Set.empty, metrics = Map.empty,
      keyCols = Seq("id"))
    def f(path: String, lo: Long, hi: Long, kind: String, sid: Int = 1,
        col: String = "id") =
      DataFile(path, 0, sid, 10, kind, spec = 2,
        keyStats = Map(col -> ColRange(minN = Some(lo), maxN = Some(hi))))
    val lake = new LakeTable(tmpDir("graft-prune-unit"))

    // disjoint base leaves the fold
    val d = f("d1", 200, 299, DataFile.DELTA)
    assert(lake.pruneUntouchedBase(Seq(f("b1", 0, 99, DataFile.BASE), d), m, 2)
      ._2.map(_.path) == Seq("b1"))
    // base overlapping the delta stays; a disjoint base overlapping THAT one
    // is un-pruned by the fixpoint (an SCD2 chain could span the two)
    val (keep2, cold2) = lake.pruneUntouchedBase(
      Seq(f("b1", 0, 99, DataFile.BASE), f("b2", 50, 250, DataFile.BASE), d), m, 2)
    assert(cold2.isEmpty && keep2.size == 3)
    // mutually-overlapping bases, both delta-disjoint, prune TOGETHER
    // (chains spanning only pruned files pass through as-written)
    assert(lake.pruneUntouchedBase(
      Seq(f("b1", 0, 99, DataFile.BASE), f("b2", 50, 150, DataFile.BASE), d), m, 2)
      ._2.map(_.path).toSet == Set("b1", "b2"))
    // missing stats never prune
    assert(lake.pruneUntouchedBase(
      Seq(DataFile("b1", 0, 1, 10, DataFile.BASE, spec = 2), d), m, 2)._2.isEmpty)
    // stats align by FIELD ID across a key-column rename: the old file's
    // stats live under its write-time name
    val w1 = GraftSchema(1, Seq(GraftField(1, "doc", StringType)))
    val w2 = GraftSchema(2, Seq(GraftField(1, "doc_id", StringType)))
    val m2 = m.copy(currentSchemaId = 2, schemas = Seq(w1, w2), keyCols = Seq("doc_id"))
    def sf(path: String, lo: String, hi: String, kind: String, sid: Int, col: String) =
      DataFile(path, 0, sid, 10, kind, spec = 2,
        keyStats = Map(col -> ColRange(minS = Some(lo), maxS = Some(hi))))
    assert(lake.pruneUntouchedBase(Seq(
      sf("old", "a", "f", DataFile.BASE, sid = 1, col = "doc"),
      sf("d", "m", "z", DataFile.DELTA, sid = 2, col = "doc_id")), m2, 2)
      ._2.map(_.path) == Seq("old"))
  }

  test("untouched-base pruning e2e: aged base passes the fold; an update re-captures " +
    "exactly its bucket; reads stay oracle-equal throughout") {
    val root = tmpDir("graft-mor-prune")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, merge = MergeStrategy.MergeOnRead, buckets = 4))
    val lake = CdcRunner.ensureTable(spark, cfg)
    val schema = ChangeEvent.schema()
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    def batch(epoch: Long, rows: Seq[Row]): Unit =
      graft.apply.MergeApply.applyBatch(spark, lake,
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema),
        epoch, cfg.job)
    def doc(i: Int) = f"doc-$i%04d"
    // aged data: 200 monotone keys, folded to per-bucket base files
    batch(0, (0 until 200).map(i =>
      Row(i.toLong, 1L, ts(i.toLong), "INSERT", 1, doc(i), Seq(i), Int.box(1), "web")))
    lake.compact(spark, maxFilesPerBucket = Int.MaxValue, maxDeltaFiles = 1)
    // a new wave strictly ABOVE every aged key: every bucket's base range
    // ends below the wave's, so the whole base generation leaves the fold
    batch(1, (5000 until 5040).map(i =>
      Row(i.toLong, 2L, ts(i.toLong), "INSERT", 1, doc(i), Seq(i), Int.box(1), "web")))
    val m1 = lake.manifest
    val (hot1, cold1) = lake.pruneUntouchedBase(m1.files, m1, m1.files.map(_.spec).min)
    assert(cold1.nonEmpty && cold1.forall(!_.isDelta), "aged base files pruned")
    assert(hot1.forall(_.isDelta), "only the new wave's deltas still fold")
    assert(lake.read(spark).count() == 240)

    // one UPDATE to an aged key pulls exactly that bucket's base back into
    // the fold (its delta file's range now reaches down to the old key)
    batch(2, Seq(Row(9000L, 3L, ts(9000L), "UPDATE", 1, doc(5), Seq(99), Int.box(1), "books")))
    val m2 = lake.manifest
    val (hot2, cold2) = lake.pruneUntouchedBase(m2.files, m2, m2.files.map(_.spec).min)
    val touchedBucket = lake.bucketOfKey(doc(5), m2.buckets)
    assert(hot2.exists(f => !f.isDelta && f.bucket == touchedBucket),
      "the updated key's base file folds again")
    assert(cold2.exists(!_.isDelta), "untouched buckets' bases stay pruned")
    val got = lake.read(spark).collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[String]("source")).toMap
    assert(got.size == 240 && got(doc(5)) == "books" && got(doc(6)) == "web")
  }

  test("changeLog: window deltas == per-key winners of that wave; survives in-window compaction") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("graft-mor-cl")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, merge = MergeStrategy.MergeOnRead, buckets = 8),
      maxFilesPerTrigger = 8)
    val ev = ChangeFeed.events(spark, ChangeFeed.FeedSpec(nEvents = 1200, nDocs = 150))
    ChangeFeed.writeFeed(ev.filter(col(ChangeEvent.LSN) < 600), cfg.feedDir, 4)
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.runAvailableNow(spark, cfg)
    val v1 = lake.currentVersion
    assert(lake.changeLog(spark, v1, v1).count() == 0, "empty window → empty feed")
    ChangeFeed.writeFeed(ev.filter(col(ChangeEvent.LSN) >= 600), cfg.feedDir, 4, append = true)
    CdcRunner.runAvailableNow(spark, cfg)
    // fold the deltas away INSIDE the window: the feed must still see them
    // (files are immutable until vacuum; maintenance base files are skipped)
    lake.compact(spark, maxFilesPerBucket = Int.MaxValue, maxDeltaFiles = 1)
    val got = lake.changeLog(spark, v1, lake.currentVersion)
      .select("doc_id", "_lsn", "_deleted").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
    val expected = ev.filter(col(ChangeEvent.LSN) >= 600)
      .groupBy(ChangeEvent.DOC_ID)
      .agg(max(col(ChangeEvent.LSN)).as("wl"),
        max_by(col(ChangeEvent.OP), col(ChangeEvent.LSN)).as("wop"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2) == ChangeEvent.DELETE)).toSet
    assert(got == expected)
  }
}
