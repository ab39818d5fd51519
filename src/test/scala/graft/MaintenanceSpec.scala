package graft

import graft.apply.MergeApply
import graft.feed.ChangeFeed
import graft.model._
import graft.runner.{CdcRunner, RunnerConfig}

/** Lake maintenance: time-travel reads, small-file compaction, physical vacuum —
  * the operations that keep a 10^10-event table healthy (every epoch adds files;
  * superseded snapshots pin old ones). */
class MaintenanceSpec extends SparkSpec {

  test("time travel, compact (read-equivalent, fewer files), vacuum (GC + pruned history)") {
    val root = tmpDir("graft-maint")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      // 2 buckets × 4-way write salt over 4 shuffle partitions ⇒ several files/bucket
      job = JobConfig(mode = CdcMode.Upsert, buckets = 2), maxFilesPerTrigger = 1)
    ChangeFeed.writeFeed(
      ChangeFeed.events(spark, ChangeFeed.FeedSpec(nEvents = 2000, nDocs = 400)),
      cfg.feedDir, nFiles = 6)
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake, ChangeFeed.seedSnapshot(spark, 50), cfg)
    // AQE would coalesce this tiny shuffle to one partition (one file/bucket)
    // and the adaptive write salt would drop to 1 on a tiny batch; disable
    // both so the fixture actually produces the small files compaction is
    // being tested on
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val saltRows = MergeApply.writeSaltRowsPerTask
    MergeApply.writeSaltRowsPerTask = 1L
    try CdcRunner.runAvailableNow(spark, cfg)
    finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      MergeApply.writeSaltRowsPerTask = saltRows
    }

    val before = lake.manifest
    val vCur = before.version
    val stateBefore = lake.read(spark).collect().map(_.toString).sorted

    // time travel: an older snapshot reads and differs from the head
    val old = lake.readVersion(spark, 2).count()
    assert(old >= 0 && before.files.nonEmpty)

    // compact: same rows, fewer files (write salt splits each bucket into ≤4 files)
    assert(before.files.groupBy(_.bucket).exists(_._2.size > 1), "fixture has small files")
    val after = lake.compact(spark, maxFilesPerBucket = 1)
    assert(after.version == vCur + 1)
    assert(after.files.size < before.files.size, s"${after.files.size} < ${before.files.size}")
    val stateAfter = lake.read(spark).collect().map(_.toString).sorted
    assert(stateAfter.sameElements(stateBefore), "compaction is read-equivalent")

    // manifest-list indirection: compaction consolidated the fragment list
    assert(after.fragments.size == 1, s"consolidated: ${after.fragments}")
    assert(before.fragments.size > after.fragments.size)

    // vacuum: old files gone, head still reads, deep time travel pruned;
    // keepVersions=1 drops the pre-compaction snapshot, so the fragments it
    // alone referenced become dead and are GC'd too
    val deleted = lake.vacuum(keepVersions = 1)
    assert(deleted.nonEmpty, "vacuum removed superseded files")
    assert(deleted.exists(_.contains("mf-")), "dead fragments GC'd")
    val stateVacuumed = lake.read(spark).collect().map(_.toString).sorted
    assert(stateVacuumed.sameElements(stateBefore), "vacuum keeps the head intact")
    intercept[Exception](lake.readVersion(spark, 2).count()) // pruned history
  }

  test("vacuum is safe to re-run and never touches uncommitted epoch files") {
    val root = tmpDir("graft-maint-vac2")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 2))
    ChangeFeed.writeFeed(
      ChangeFeed.events(spark, ChangeFeed.FeedSpec(nEvents = 400, nDocs = 80)),
      cfg.feedDir, nFiles = 4)
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake, ChangeFeed.seedSnapshot(spark, 20), cfg)
    CdcRunner.runAvailableNow(spark, cfg)
    val state = lake.read(spark).collect().map(_.toString).sorted

    // files of an epoch that is WRITTEN but not yet committed (the window
    // inside applyBatch, or a concurrent compaction) must survive vacuum
    val pendingDir = new java.io.File(lake.dataDir(999) + "/_bucket=0")
    pendingDir.mkdirs()
    val pending = new java.io.File(pendingDir, "part-pending.parquet")
    java.nio.file.Files.writeString(pending.toPath, "placeholder")

    assert(lake.vacuum(keepVersions = 1).nonEmpty)
    assert(pending.exists(), "uncommitted epoch files are not vacuum's to delete")
    // second run after history is pruned: must not throw, head intact
    val again = lake.vacuum(keepVersions = 1)
    assert(again.forall(!_.endsWith("part-pending.parquet")))
    assert(lake.read(spark).collect().map(_.toString).sorted.sameElements(state))
    // a LATER, WIDER window than an earlier vacuum's (keepVersions larger
    // than what survives): manifests inside the window are already gone —
    // must not crash, and the low-water mark keeps the sweep bounded
    val wide = lake.vacuum(keepVersions = 50)
    assert(wide.forall(!_.endsWith("part-pending.parquet")))
    assert(lake.read(spark).collect().map(_.toString).sorted.sameElements(state))

    // the orphan sweep is the tool that DOES reclaim it — but only past the
    // age horizon (a recent unreferenced file may be an in-flight write)
    assert(lake.removeOrphans(olderThanMs = 3600 * 1000L).isEmpty,
      "young unreferenced file is protected by the age guard")
    assert(pending.exists())
    assert(pending.setLastModified(System.currentTimeMillis() - 7200 * 1000L))
    val swept = lake.removeOrphans(olderThanMs = 3600 * 1000L)
    assert(swept.exists(_.endsWith("part-pending.parquet")) && !pending.exists())
    assert(!pendingDir.exists(), "emptied orphan epoch dir pruned")
    assert(lake.read(spark).collect().map(_.toString).sorted.sameElements(state),
      "live files untouched by the sweep")
  }

  test("numeric merge-key footer stats: bucket + range pruning, point lookup on bigint") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val root = tmpDir("graft-maint-numkey")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 4, keyCols = Seq("doc_id")),
      payloadSchema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("n", IntegerType))))
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake,
      spark.range(200).select(col("id").as("doc_id"),
        (col("id") % 7).cast(IntegerType).as("n")), cfg)
    val m = lake.manifest
    assert(m.files.forall(f =>
      f.keyStats.get("doc_id").exists(r => r.minN.isDefined && r.maxN.isDefined)),
      "integral key gets numeric footer stats")
    assert(m.files.forall(_.keyStats("doc_id").minS.isEmpty),
      "no string stats for a bigint key")
    val pruned = lake.lookupFilesNum(42L)
    assert(pruned.nonEmpty && pruned.size < m.files.size, "pruned to one bucket at most")
    val row = lake.lookupNum(spark, 42L).collect()
    assert(row.length == 1 && row(0).getAs[Long]("doc_id") == 42L)
    assert(lake.lookupNum(spark, 5000000L).isEmpty)
  }

  test("composite-key footer stats: two-key table records ranges for BOTH " +
    "key columns; lookupRow prunes and returns the exact row") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val root = tmpDir("graft-maint-2key")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 4,
        keyCols = Seq("doc_id", "src")),
      payloadSchema = StructType(Seq(
        StructField("doc_id", StringType, nullable = false),
        StructField("src", StringType, nullable = false),
        StructField("n", IntegerType))))
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake,
      spark.range(200).select(
        concat(lit("d"), (col("id") / 4).cast(LongType)).as("doc_id"),
        concat(lit("s"), col("id") % 4).as("src"),
        (col("id") % 9).cast(IntegerType).as("n")), cfg)
    val m = lake.manifest
    assert(m.files.forall(f => f.keyStats.contains("doc_id") && f.keyStats.contains("src")),
      "footer ranges recorded for every key column, not just the leading one")
    // driver-side composite bucket matches the engine's multi-arg xxhash64
    val engineBuckets = lake.read(spark)
      .select(col("doc_id"), col("src"),
        lake.bucketExpr(Seq("doc_id", "src"), 4).as("b")).collect()
    engineBuckets.foreach { r =>
      assert(lake.bucketOfRow(
        Seq((r.getString(0), StringType), (r.getString(1), StringType)), 4) == r.getInt(2),
        s"composite hash parity for ${r.getString(0)}/${r.getString(1)}")
    }
    // lookup prunes to one bucket's files and returns exactly the keyed row
    val pruned = lake.lookupFilesFor(Seq("d7", "s2"))
    assert(pruned.nonEmpty && pruned.size < m.files.size)
    val row = lake.lookupRow(spark, Seq("d7", "s2")).collect()
    assert(row.length == 1 && row(0).getAs[Int]("n") == 30 % 9)
    assert(lake.lookupRow(spark, Seq("d7", "zzz")).isEmpty,
      "absent second-key value finds nothing")
    // the second column's range genuinely prunes: a file whose src range
    // excludes the probe is skipped without opening it
    val f = graft.lake.DataFile("p", 0, 1, 1,
      keyStats = Map("src" -> graft.lake.ColRange(minS = Some("s0"), maxS = Some("s1"))))
    assert(f.mayContainKey("src", "s1") && !f.mayContainKey("src", "s2"))
  }

  test("guards: vacuum refuses keepVersions < 1; widen on a merge-key column " +
    "is rejected (int/long hash to different buckets)") {
    import org.apache.spark.sql.types._
    val lake = new graft.lake.LakeTable(tmpDir("graft-maint-guards") + "/t")
    lake.create(StructType(Seq(
      StructField("id", IntegerType), StructField("n", IntegerType))),
      buckets = 2, keyCols = Seq("id"))
    lake.commit(0L, Nil, Set.empty)
    // keepVersions=0 would classify the current snapshot's files as dead
    intercept[IllegalArgumentException](lake.vacuum(keepVersions = 0))
    // widening the key would re-route every existing key's bucket
    val e = intercept[IllegalArgumentException](
      lake.evolve(Seq(graft.lake.WidenColumn("id", LongType))))
    assert(e.getMessage.contains("merge-key"))
    // widening a NON-key column stays allowed
    lake.evolve(Seq(graft.lake.WidenColumn("n", LongType)))
    assert(lake.manifest.currentSchema.byName("n").get.dataType == LongType)
  }

  test("vacuum age-based retention keeps snapshots younger than the cutoff") {
    import org.apache.spark.sql.types._
    val lake = new graft.lake.LakeTable(tmpDir("graft-maint-age") + "/t")
    lake.create(StructType(Seq(StructField("doc_id", StringType))), buckets = 2,
      keyCols = Seq("doc_id"))
    (0L to 3L).foreach(e => lake.commit(e, Nil, Set.empty))
    assert(lake.manifest.committedAtMs > 0, "commits carry a wall-clock stamp")
    // every snapshot is younger than an epoch-0 cutoff → retention floor keeps all
    assert(lake.vacuum(keepVersions = 1, keepCommittedSinceMs = Some(0L)).isEmpty)
    // future cutoff: nothing is protected by age, version policy prunes history
    val deleted = lake.vacuum(keepVersions = 1,
      keepCommittedSinceMs = Some(System.currentTimeMillis() + 3600000L))
    assert(deleted.nonEmpty, "old manifests pruned once past the age floor")
  }

  test("vacuum age retention survives NON-monotone commit stamps (skewed " +
    "multi-process writers): a version stamped after the cutoff is kept even " +
    "below an earlier-stamped one") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types._
    val root = tmpDir("graft-maint-skew") + "/t"
    val lake = new graft.lake.LakeTable(root)
    lake.create(StructType(Seq(StructField("doc_id", StringType))), buckets = 2,
      keyCols = Seq("doc_id"))
    (0L to 4L).foreach(e => lake.commit(e, Nil, Set.empty))
    // versions 1..6 exist; doctor the stamps the way two skewed hosts
    // interleaving CAS commits would: v3 stamped AFTER the cutoff, v4 (the
    // later version, slower clock) BEFORE it
    val cutoff = 1000000L
    def stamp(v: Int, ms: Long): Unit = {
      val p = Paths.get(root, "manifests", f"v$v%06d.json")
      val doctored = new String(Files.readAllBytes(p))
        .replaceAll("\"committed_at_ms\"\\s*:\\s*\\d+", s""""committed_at_ms":$ms""")
      Files.write(p, doctored.getBytes)
    }
    Seq(1 -> 10L, 2 -> 20L, 3 -> (cutoff + 1), 4 -> 30L, 5 -> (cutoff + 2),
      6 -> (cutoff + 3)).foreach { case (v, ms) => stamp(v, ms) }
    lake.vacuum(keepVersions = 1, keepCommittedSinceMs = Some(cutoff))
    // the monotone-walk bug: stop at v4 (< cutoff) and delete v3 — a snapshot
    // committed after the cutoff — breaking the keep-committed-since contract
    assert(Files.exists(Paths.get(root, "manifests", "v000003.json")),
      "v3 (stamped after the cutoff) must survive")
    assert(lake.readVersion(spark, 3).count() == 0) // still resolvable
    assert(!Files.exists(Paths.get(root, "manifests", "v000001.json")) &&
      !Files.exists(Paths.get(root, "manifests", "v000002.json")),
      "pre-cutoff prefix below the earliest kept version is still pruned")
  }

  test("bucket-spec evolution: rescale mid-stream, reads/merges stay green, " +
    "splitBuckets migrates incrementally (CoW)") {
    val root = tmpDir("graft-maint-rescale")
    def mkCfg(sub: String) = RunnerConfig(
      feedDir = s"$root/$sub/feed", tableDir = s"$root/$sub/table",
      checkpointDir = s"$root/$sub/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 4))
    val cfg = mkCfg("a")
    val twin = mkCfg("twin") // identical pipeline, never rescaled — the oracle
    val feed1 = ChangeFeed.events(spark, ChangeFeed.FeedSpec(nEvents = 800, nDocs = 150))
    val feed2 = ChangeFeed.events(spark,
      ChangeFeed.FeedSpec(nEvents = 600, nDocs = 150, startLsn = 801))
    Seq(cfg, twin).foreach { c =>
      ChangeFeed.writeFeed(feed1, c.feedDir, nFiles = 2)
      val l = CdcRunner.ensureTable(spark, c)
      CdcRunner.fullLoad(spark, l, ChangeFeed.seedSnapshot(spark, 40), c)
      CdcRunner.runAvailableNow(spark, c)
    }
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    val preRescale = lake.read(spark).collect().map(_.toString).sorted

    // rescale is metadata-only: instant, read-equivalent, specs recorded per file
    lake.rescale(8)
    val m1 = lake.manifest
    assert(m1.buckets == 8 && m1.files.forall(_.spec == 4))
    assert(lake.read(spark).collect().map(_.toString).sorted.sameElements(preRescale))
    intercept[IllegalArgumentException](lake.rescale(12)) // not a multiple of 8
    intercept[IllegalArgumentException](lake.rescale(8))  // not a growth

    // merges continue mid-stream on the mixed-spec table: CoW rewrites whole
    // pre-split groups (closure) and lands new files at the current spec
    Seq(cfg, twin).foreach { c =>
      ChangeFeed.writeFeed(feed2, c.feedDir, nFiles = 2, append = true)
      CdcRunner.runAvailableNow(spark, c)
    }
    val twinState = new graft.lake.LakeTable(twin.tableDir)
      .read(spark).collect().map(_.toString).sorted
    assert(lake.read(spark).collect().map(_.toString).sorted.sameElements(twinState),
      "post-rescale merge == never-rescaled twin")
    assert(lake.manifest.files.exists(_.spec == 8), "new epochs write at the new spec")

    // point lookup works across mixed specs (pre-split files located by congruence)
    val someKey = lake.read(spark).select("doc_id").head().getString(0)
    val row = lake.lookup(spark, someKey).collect()
    assert(row.length == 1 && row(0).getAs[String]("doc_id") == someKey)

    // incremental physical migration: one group per call, read-equivalent at
    // every step, until every file is at the current spec
    if (lake.manifest.files.exists(_.spec == 4)) {
      lake.splitBuckets(spark, maxGroups = 1)
      assert(lake.read(spark).collect().map(_.toString).sorted.sameElements(twinState),
        "partial migration is read-equivalent")
    }
    lake.splitBuckets(spark)
    val mDone = lake.manifest
    assert(mDone.files.forall(_.spec == 8), s"fully migrated: ${mDone.files.map(_.spec).distinct}")
    assert(mDone.files.forall(f => f.bucket >= 0 && f.bucket < 8))
    assert(lake.read(spark).collect().map(_.toString).sorted.sameElements(twinState),
      "full migration is read-equivalent")
    assert(lake.splitBuckets(spark).version == mDone.version, "nothing stale: no-op")
    // uniform-spec pruning is back to one bucket in 8
    val pruned = lake.lookupFiles(someKey)
    assert(pruned.nonEmpty && pruned.forall(_.bucket == lake.bucketOfKey(someKey, 8)))
  }

  test("bucket-spec evolution under merge-on-read: new-spec deltas over " +
    "old-spec base resolve and compact correctly") {
    val root = tmpDir("graft-maint-rescale-mor")
    def mkCfg(sub: String) = RunnerConfig(
      feedDir = s"$root/$sub/feed", tableDir = s"$root/$sub/table",
      checkpointDir = s"$root/$sub/cp",
      job = JobConfig(mode = CdcMode.Upsert, merge = MergeStrategy.MergeOnRead,
        buckets = 4))
    val cfg = mkCfg("a")
    val twin = mkCfg("twin")
    val feed1 = ChangeFeed.events(spark, ChangeFeed.FeedSpec(nEvents = 700, nDocs = 120))
    val feed2 = ChangeFeed.events(spark,
      ChangeFeed.FeedSpec(nEvents = 500, nDocs = 120, startLsn = 701))
    Seq(cfg, twin).foreach { c =>
      ChangeFeed.writeFeed(feed1, c.feedDir, nFiles = 2)
      val l = CdcRunner.ensureTable(spark, c)
      CdcRunner.fullLoad(spark, l, ChangeFeed.seedSnapshot(spark, 30), c)
      CdcRunner.runAvailableNow(spark, c)
    }
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    lake.rescale(8)
    Seq(cfg, twin).foreach { c =>
      ChangeFeed.writeFeed(feed2, c.feedDir, nFiles = 2, append = true)
      CdcRunner.runAvailableNow(spark, c)
    }
    val m = lake.manifest
    assert(m.files.exists(f => f.isDelta && f.spec == 8) &&
      m.files.exists(f => !f.isDelta && f.spec == 4),
      "fixture holds new-spec deltas over old-spec base")
    val twinState = new graft.lake.LakeTable(twin.tableDir)
      .read(spark).collect().map(_.toString).sorted
    assert(lake.read(spark).collect().map(_.toString).sorted.sameElements(twinState),
      "mixed-spec MoR resolution == never-rescaled twin")
    // compaction groups at the coarse spec and migrates as a side effect
    lake.compact(spark, maxFilesPerBucket = 1, maxDeltaFiles = 1)
    val mc = lake.manifest
    assert(!mc.hasDeltas, "deltas folded")
    assert(mc.files.forall(_.spec == 8), "compaction re-derives current-spec buckets")
    assert(lake.read(spark).collect().map(_.toString).sorted.sameElements(twinState),
      "post-compaction state intact")
  }

  test("bucket-spec evolution under SCD2 merge-on-read: history chains survive " +
    "rescale + split") {
    val root = tmpDir("graft-maint-rescale-scd2")
    def mkCfg(sub: String) = RunnerConfig(
      feedDir = s"$root/$sub/feed", tableDir = s"$root/$sub/table",
      checkpointDir = s"$root/$sub/cp",
      job = JobConfig(mode = CdcMode.Scd2, merge = MergeStrategy.MergeOnRead,
        buckets = 4))
    val cfg = mkCfg("a")
    val twin = mkCfg("twin")
    val feed1 = ChangeFeed.events(spark, ChangeFeed.FeedSpec(nEvents = 400, nDocs = 80))
    val feed2 = ChangeFeed.events(spark,
      ChangeFeed.FeedSpec(nEvents = 300, nDocs = 80, startLsn = 401))
    Seq(cfg, twin).foreach { c =>
      ChangeFeed.writeFeed(feed1, c.feedDir, nFiles = 2)
      CdcRunner.ensureTable(spark, c)
      CdcRunner.runAvailableNow(spark, c)
    }
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    lake.rescale(8)
    Seq(cfg, twin).foreach { c =>
      ChangeFeed.writeFeed(feed2, c.feedDir, nFiles = 2, append = true)
      CdcRunner.runAvailableNow(spark, c)
    }
    def hist(dir: String) = new graft.lake.LakeTable(dir).read(spark)
      .collect().map(_.toString).sorted
    val twinHist = hist(twin.tableDir)
    assert(hist(cfg.tableDir).sameElements(twinHist),
      "mixed-spec SCD2 chain rebuild == never-rescaled twin")
    lake.splitBuckets(spark)
    assert(lake.manifest.files.forall(_.spec == 8))
    assert(hist(cfg.tableDir).sameElements(twinHist),
      "split (chain-resolving rewrite) preserves the full version history")
    // one current row per live key after migration
    val scd = cfg.job.scdCols
    val perKey = lake.read(spark).filter(org.apache.spark.sql.functions.col(scd.current) === 1)
      .groupBy("doc_id").count().collect()
    assert(perKey.forall(_.getLong(1) == 1L), "exactly one current version per key")
  }

  test("auto-rescale policy: below threshold no-op; above threshold doubles " +
    "and migrates incrementally without re-doubling mid-migration") {
    val root = tmpDir("graft-maint-autorescale")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 4))
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake, ChangeFeed.seedSnapshot(spark, 200), cfg)
    val before = lake.manifest
    assert(before.files.forall(_.bytes > 0), "commits record per-file sizes")
    val liveBytes = before.files.map(_.bytes).sum
    val state = lake.read(spark).collect().map(_.toString).sorted

    // comfortably above the current bytes/bucket: nothing happens
    assert(lake.autoRescale(spark, liveBytes).version == before.version)
    // below it: metadata rescale + first bounded migration step
    val m1 = lake.autoRescale(spark, liveBytes / 16, maxGroups = 1)
    assert(m1.buckets == 8, "doubled")
    assert(m1.files.exists(_.spec == 4), "migration bounded to one group per tick")
    assert(lake.read(spark).collect().map(_.toString).sorted.sameElements(state))
    // mid-migration ticks CONTINUE the split — they never double again
    val m2 = lake.autoRescale(spark, liveBytes / 16, maxGroups = 64)
    assert(m2.buckets == 8 && m2.files.forall(_.spec == 8), "migration completed")
    assert(lake.read(spark).collect().map(_.toString).sorted.sameElements(state))
  }

  test("removeOrphans sweeps crash-orphaned manifest temp files; fresh temps " +
    "and real manifests survive") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("graft-maint-mftmp")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 2))
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake, ChangeFeed.seedSnapshot(spark, 10), cfg)
    val mdir = Paths.get(cfg.tableDir, "manifests")
    // a committer that died between Files.write(tmp) and the link/rename
    val stale = mdir.resolve(".v99.json.tmp-111")
    Files.writeString(stale, "{}")
    Files.setLastModifiedTime(stale, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10L * 86400 * 1000))
    val fresh = mdir.resolve("._current.tmp-222") // an in-flight commit's temp
    Files.writeString(fresh, "5")
    // writeLineage has the identical crash window (tmp written, ATOMIC_MOVE
    // never ran) — its litter must be swept by the same pass, or lineage/
    // grows unboundedly at streaming crash-restart cadence
    val ldir = Paths.get(cfg.tableDir, "lineage")
    val lstale = ldir.resolve(".epoch=7.tmp-333")
    Files.writeString(lstale, "{}")
    Files.setLastModifiedTime(lstale, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10L * 86400 * 1000))
    // LakeSync publishes its sync_source.json marker into the table ROOT —
    // a crash mid-publish leaves its temp there, beside data/ and manifests/
    val rstale = Paths.get(cfg.tableDir).resolve(".sync_source.json.tmp-444")
    Files.writeString(rstale, "{}")
    Files.setLastModifiedTime(rstale, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10L * 86400 * 1000))
    val deleted = lake.removeOrphans(olderThanMs = 3600L * 1000)
    assert(deleted.exists(_.endsWith(".v99.json.tmp-111")), deleted.mkString(","))
    assert(deleted.exists(_.endsWith(".epoch=7.tmp-333")), deleted.mkString(","))
    assert(deleted.exists(_.endsWith(".sync_source.json.tmp-444")), deleted.mkString(","))
    assert(!Files.exists(stale) && !Files.exists(lstale) && !Files.exists(rstale) &&
      Files.exists(fresh), "age cutoff keeps in-flight temps")
    assert(Files.exists(ldir.resolve("epoch=-1.json")), "real lineage records untouched")
    assert(Files.exists(mdir.resolve("v000001.json")), "real manifests untouched")
    assert(lake.read(spark).count() == 10, "table unaffected")
    Files.delete(fresh): Unit
  }

  test("rescaleToAtLeast tolerates a concurrent rescale that met the goal; " +
    "a genuinely unreachable goal still throws") {
    val root = tmpDir("graft-maint-rescaletol")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 4))
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake, ChangeFeed.seedSnapshot(spark, 50), cfg)
    // an "external" writer rescales first (the race's end state: the policy
    // computed desired=8 from a stale 4-bucket manifest)
    lake.rescale(8)
    // the stale policy's rescale(8) must NOT kill the caller — the goal is
    // met; before the fix this threw IllegalArgumentException, an exception
    // shape the runner's defer-on-conflict deliberately does not catch
    lake.rescaleToAtLeast(8)
    assert(lake.manifest.buckets == 8)
    // and it still grows when genuinely below the goal
    lake.rescaleToAtLeast(16)
    assert(lake.manifest.buckets == 16)
    // a real user error (not a met goal) keeps throwing loudly
    intercept[IllegalArgumentException](lake.rescaleToAtLeast(24))
  }

  test("cdc_settings auto-rescale: threshold crossed mid-stream converges, " +
    "reads equal a policy-free twin throughout") {
    val root = tmpDir("graft-maint-autorescale-stream")
    def mkCfg(sub: String, policy: Boolean) = RunnerConfig(
      feedDir = s"$root/$sub/feed", tableDir = s"$root/$sub/table",
      checkpointDir = s"$root/$sub/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 2),
      maxFilesPerTrigger = 1,
      autoCompactEveryEpochs = if (policy) 2 else 0,
      autoRescaleBytesPerBucket = if (policy) 1L else 0L, // any data crosses it
      autoRescaleMaxGroups = 64)
    val cfg = mkCfg("a", policy = true)
    val twin = mkCfg("twin", policy = false)
    val feed = ChangeFeed.events(spark, ChangeFeed.FeedSpec(nEvents = 800, nDocs = 150))
    Seq(cfg, twin).foreach { c =>
      ChangeFeed.writeFeed(feed, c.feedDir, nFiles = 4)
      CdcRunner.ensureTable(spark, c)
      CdcRunner.runAvailableNow(spark, c)
    }
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    val m = lake.manifest
    assert(m.buckets > 2, s"policy grew the bucket count mid-stream: ${m.buckets}")
    assert(m.files.forall(f => f.spec > 0 && m.buckets % f.spec == 0),
      s"every file at a divisor-chain spec: ${m.files.map(_.spec).distinct}")
    val twinState = new graft.lake.LakeTable(twin.tableDir)
      .read(spark).collect().map(_.toString).sorted
    assert(lake.read(spark).collect().map(_.toString).sorted.sameElements(twinState),
      "policy-driven rescale is invisible to readers")

    // the policy must NOT be silently inert when auto-compaction is off —
    // with no compact cadence to ride, it runs on its own every-epoch check
    val solo = mkCfg("solo", policy = false).copy(
      autoRescaleBytesPerBucket = 1L, autoRescaleMaxGroups = 64)
    ChangeFeed.writeFeed(feed, solo.feedDir, nFiles = 4)
    CdcRunner.ensureTable(spark, solo)
    CdcRunner.runAvailableNow(spark, solo)
    val mSolo = new graft.lake.LakeTable(solo.tableDir).manifest
    assert(mSolo.buckets > 2,
      s"rescale policy fires without a compaction cadence: ${mSolo.buckets}")
    assert(new graft.lake.LakeTable(solo.tableDir)
      .read(spark).collect().map(_.toString).sorted.sameElements(twinState))
  }

  test("commit refuses partial replacement of a pre-split file (coverage guard)") {
    import org.apache.spark.sql.types._
    val lake = new graft.lake.LakeTable(tmpDir("graft-maint-cover") + "/t")
    lake.create(StructType(Seq(StructField("doc_id", StringType))), buckets = 2,
      keyCols = Seq("doc_id"))
    lake.commit(0L, Seq(graft.lake.DataFile("x.parquet", 0, 1, 0, spec = 2)), Set.empty)
    lake.rescale(4)
    // the spec-2 file at bucket 0 covers current buckets {0, 2}: replacing only
    // bucket 0 would drop bucket 2's rows with it — must fail loudly
    intercept[IllegalArgumentException](lake.commit(1L, Nil, Set(0)))
    assert(lake.commit(2L, Nil, Set(0, 2)).files.isEmpty, "full-coverage replace ok")
  }

  test("reconcile: lineage re-sums to the manifest metrics; gaps and tampering flagged") {
    val root = tmpDir("graft-maint-rec")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 2), maxFilesPerTrigger = 1)
    ChangeFeed.writeFeed(
      ChangeFeed.events(spark, ChangeFeed.FeedSpec(nEvents = 300, nDocs = 60)),
      cfg.feedDir, nFiles = 3)
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake, ChangeFeed.seedSnapshot(spark, 20), cfg)
    CdcRunner.runAvailableNow(spark, cfg)
    assert(lake.reconcile().ok, s"clean table reconciles: ${lake.reconcile()}")

    // injected mismatch: tamper one epoch's lineage metrics + drop another's
    val lineageDir = new java.io.File(s"${cfg.tableDir}/lineage")
    val e1 = new java.io.File(lineageDir, "epoch=1.json")
    val tampered = java.nio.file.Files.readString(e1.toPath)
      .replaceFirst(""""applied_inserts"\s*:\s*(\d+)""", "\"applied_inserts\" : 999999")
    java.nio.file.Files.writeString(e1.toPath, tampered)
    assert(new java.io.File(lineageDir, "epoch=0.json").delete())
    val r = lake.reconcile()
    assert(r.missingLineage == Seq(0L), s"dropped epoch flagged: $r")
    assert(r.mismatchedMetrics.contains("applied_inserts"), s"tampered sum flagged: $r")
    assert(!r.ok)
  }

  test("changeLog wide window: fragment-diff cost is O(fragments in window), " +
    "bounded driver wall at 1200 versions") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val root = tmpDir("graft-maint-clwide")
    val lake = new graft.lake.LakeTable(s"$root/t")
    lake.create(StructType(Seq(
      StructField("doc_id", StringType), StructField("_lsn", LongType),
      StructField("_deleted", BooleanType))), buckets = 1, keyCols = Seq("doc_id"))
    // one tiny real delta file per epoch (hard copies of a seed parquet) — a
    // 1200-commit history, each manifest one fragment
    val seedDir = java.nio.file.Paths.get(s"$root/seed")
    spark.range(1).select(concat(lit("d"), col("id")).as("doc_id"),
        col("id").as("_lsn"), lit(false).as("_deleted"))
      .coalesce(1).write.parquet(seedDir.toString)
    import scala.jdk.CollectionConverters._
    val seed = scala.util.Using.resource(java.nio.file.Files.list(seedDir))(
      _.iterator().asScala.filter(_.toString.endsWith(".parquet")).next())
    val n = 1200
    (0 until n).foreach { e =>
      val p = java.nio.file.Paths.get(s"$root/delta-$e.parquet")
      java.nio.file.Files.copy(seed, p)
      lake.commit(e.toLong, Seq(graft.lake.DataFile(
        p.toString, 0, 1, 1, graft.lake.DataFile.DELTA, spec = 1)), Set.empty)
    }
    val t0 = System.nanoTime()
    val cl = lake.changeLog(spark, 1, lake.currentVersion)
    val wallS = (System.nanoTime() - t0) / 1e9
    assert(cl.count() == n.toLong,
      "every delta committed inside the window, exactly once")
    assert(wallS < 120.0, // measured ~5 s alone; the bound guards the
      // O(window × files) re-fold regression (minutes), so it is sized for
      // co-tenant noise windows (3× wall inflation observed), not a quiet box
      s"fragment-diff changeLog planned a 1200-version window in $wallS s")
    info(f"changeLog(1, ${lake.currentVersion}) driver wall: $wallS%.2f s for $n fragments")
  }

  test("CDC-only table (no fullLoad) advances the epoch watermark too") {
    import org.apache.spark.sql.types._
    val lake = new graft.lake.LakeTable(tmpDir("graft-maint-cdconly") + "/t")
    lake.create(StructType(Seq(StructField("doc_id", StringType))), buckets = 2,
      keyCols = Seq("doc_id"))
    // streaming epochs 0..4 arrive with no epoch -1 ever committed (CDC-only
    // start modes: startFromWal / startFromEnvelopes / replication_type=cdc)
    (0L to 4L).foreach(e => lake.commit(e, Nil, Set.empty))
    val m = lake.manifest
    assert(m.epochWatermark == 4 && m.recentEpochs.isEmpty,
      s"watermark absorbs from epoch 0 without a fullLoad: " +
        s"wm=${m.epochWatermark} recent=${m.recentEpochs}")
    assert((0L to 4L).forall(m.isCommittedEpoch) && !m.isCommittedEpoch(-1) &&
      !m.isCommittedEpoch(5))
    // an out-of-order straggler stays sparse until its gap fills
    lake.commit(7L, Nil, Set.empty)
    assert(lake.manifest.recentEpochs == Set(7L))
    lake.commit(5L, Nil, Set.empty)
    lake.commit(6L, Nil, Set.empty)
    val m2 = lake.manifest
    assert(m2.epochWatermark == 7 && m2.recentEpochs.isEmpty)
  }

  test("commit cost is O(epoch files): snapshot JSON carries no file list; " +
    "fragments are immutable; epoch watermark collapses the committed set") {
    val root = tmpDir("graft-maint-frag")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 4), maxFilesPerTrigger = 1)
    ChangeFeed.writeFeed(
      ChangeFeed.events(spark, ChangeFeed.FeedSpec(nEvents = 600, nDocs = 100)),
      cfg.feedDir, nFiles = 5)
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake, ChangeFeed.seedSnapshot(spark, 30), cfg)
    CdcRunner.runAvailableNow(spark, cfg)

    val m = lake.manifest
    // watermark absorbed the contiguous streaming epochs 0,1,…; the fullLoad
    // epoch -1 stays as the single bounded sparse entry
    assert(m.epochWatermark >= 0 && m.recentEpochs == Set(-1L),
      s"wm=${m.epochWatermark} recent=${m.recentEpochs}")
    assert(m.isCommittedEpoch(-1) && m.isCommittedEpoch(0))
    assert(!m.isCommittedEpoch(m.epochWatermark + 1))
    // the snapshot file itself holds no data-file entries (only fragment names)
    val snapJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${cfg.tableDir}/manifests", f"v${m.version}%06d.json")))
    assert(!snapJson.contains(".parquet"), "snapshot JSON references no data file")
    assert(m.fragments.size.toLong == m.epochWatermark + 2,
      "one fragment per commit")
    // a fragment written by an early commit is byte-identical later (immutable)
    val frag0 = java.nio.file.Paths.get(s"${cfg.tableDir}/manifests", m.fragments.head)
    assert(java.nio.file.Files.exists(frag0))

    // per-file footer stats: exact rows and key ranges for the string key
    assert(m.files.forall(_.rows > 0), "exact row counts from footers")
    assert(m.files.forall(f =>
      f.keyStats.get("doc_id").exists(r => r.minS.isDefined && r.maxS.isDefined)))

    // point lookup prunes by bucket + key range and returns the current row
    val someKey = lake.read(spark).select("doc_id").head().getString(0)
    val pruned = lake.lookupFiles(someKey)
    assert(pruned.nonEmpty &&
      pruned.forall(_.bucket == lake.bucketOfKey(someKey, m.buckets)))
    assert(pruned.size < m.files.size, "pruned to one bucket at most")
    val row = lake.lookup(spark, someKey).collect()
    assert(row.length == 1 && row(0).getAs[String]("doc_id") == someKey)
    assert(lake.lookup(spark, "doc-does-not-exist").isEmpty)

    // data files carry a parquet-native bloom filter on the merge key:
    // inside a bucket (hash-scattered keys defeat min/max) the row-group
    // bloom is what lets a point lookup skip data pages
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    import scala.jdk.CollectionConverters._
    val footer = ParquetFileReader.readFooter(
      graft.lake.LakeTable.sharedHadoopConf,
      new org.apache.hadoop.fs.Path(m.files.head.path),
      ParquetMetadataConverter.NO_FILTER)
    val keyChunk = footer.getBlocks.asScala.head.getColumns.asScala
      .find(_.getPath.toDotString == "doc_id").get
    assert(keyChunk.getBloomFilterOffset >= 0, "bloom filter written for the merge key")
  }
}
