package graft

import graft.feed.ChangeFeed
import graft.model._
import graft.runner.{CdcRunner, RunnerConfig}

/** Point lookups resolve through the same fold as whole-table reads: on an
  * SCD2 merge-on-read table with live deltas, `lookup(k)` returns exactly
  * the rows a full read holds for `k` — a present key's whole version chain,
  * a deleted key's closed history, nothing for an absent key — also while a
  * rescale leaves files of two bucket specs live side by side. */
class LookupSpec extends SparkSpec {

  test("SCD2 MoR lookup with live deltas == read filtered to the key, for " +
    "present, deleted and absent keys, before and after rescale + a partial " +
    "splitBuckets") {
    val root = tmpDir("graft-lookup-scd2")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Scd2, merge = MergeStrategy.MergeOnRead, buckets = 4),
      maxFilesPerTrigger = 2)
    ChangeFeed.writeFeed(
      ChangeFeed.events(spark, ChangeFeed.FeedSpec(nEvents = 500, nDocs = 60)),
      cfg.feedDir, nFiles = 4)
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake, ChangeFeed.seedSnapshot(spark, 30), cfg)
    CdcRunner.runAvailableNow(spark, cfg)

    def checkLookups(stage: String): Unit = {
      assert(lake.manifest.hasDeltas, s"$stage: fixture keeps live deltas")
      val rows = lake.read(spark).collect()
      val byKey = rows.groupBy(_.getAs[String]("doc_id"))
        .map { case (k, rs) => k -> rs.map(_.toString).sorted.toSeq }
      val current = rows.filter(_.getAs[Any]("scd_current") == 1)
        .map(_.getAs[String]("doc_id")).toSet
      val (present, deleted) = byKey.keys.toSeq.sorted.partition(current)
      assert(present.nonEmpty && deleted.nonEmpty,
        s"$stage: fixture has present (${present.size}) and deleted " +
          s"(${deleted.size}) keys")
      val absent = "doc-000999999"
      assert(!byKey.contains(absent))
      for (k <- present.take(5) ++ deleted.take(5) :+ absent) {
        val got = lake.lookup(spark, k).collect().map(_.toString).sorted.toSeq
        assert(got == byKey.getOrElse(k, Seq.empty), s"$stage: lookup($k)")
      }
    }

    checkLookups("single spec")

    // rescale (metadata only), one more wave of deltas at the new spec, then
    // migrate only ONE stale group: old-spec bases and deltas stay live
    // beside new-spec files
    lake.rescale(8)
    ChangeFeed.writeFeed(
      ChangeFeed.events(spark,
        ChangeFeed.FeedSpec(nEvents = 200, nDocs = 60, seed = 7L, startLsn = 10000L)),
      cfg.feedDir, nFiles = 1, append = true)
    CdcRunner.runAvailableNow(spark, cfg)
    lake.splitBuckets(spark, maxGroups = 1)
    val specs = lake.manifest.files.map(_.spec).toSet
    assert(specs == Set(4, 8), s"mixed bucket specs live: $specs")
    checkLookups("mixed specs")
  }
}
