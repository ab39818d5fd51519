package graft

import org.apache.spark.sql.Row

import graft.apply.MergeApply
import graft.lake.LakeTable
import graft.model._
import graft.runner.{CdcRunner, RunnerConfig}

/**
 * Row-level untouched-base prune (LakeTable.buildDeltaKeyBloom +
 * readResolved's bloom split): the refinement that fires on HASH-RANDOM key
 * workloads, where every base file's footer key range interleaves with every
 * delta's and the file-level prune (MorPrunePropertySpec's shape) is a
 * provable no-op. Each test pins that no-op (so the row split is the ONLY
 * prune under test), pins that the bloom actually built and landed in the
 * executed plan (a vacuous pass would test nothing), and asserts exact read
 * equality — including against the same snapshot read without the prune
 * (readResolved with rowPrune off, the path every group-local read takes).
 */
class MorRowPruneSpec extends SparkSpec {

  private def mkRow(lsn: Long, key: Int, op: String, v: Int): Row = {
    val del = op == "DELETE"
    Row(lsn, lsn, new java.sql.Timestamp(1700000000000L + lsn * 1000), op, 1,
      f"doc-$key%09d",
      if (del) null else Seq(v),
      if (del) null else Int.box(1),
      if (del) null else s"s$v")
  }

  private def apply(lake: LakeTable, cfg: RunnerConfig, epoch: Long, rows: Seq[Row]): Unit =
    MergeApply.applyBatch(spark, lake,
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        ChangeEvent.schema()),
      epoch, cfg.job)

  /** The file-level prune decision exactly as readResolved computes it —
    * via the production grouping helper, so the pin cannot drift. */
  private def filePruneFired(lake: LakeTable): Boolean = {
    val m = lake.manifest
    val (gran, hot, _) = lake.hotFileSplit(m.files)
    lake.pruneUntouchedBase(hot, m, gran)._2.nonEmpty
  }

  private def bloomBuilt(lake: LakeTable): Boolean = {
    val m = lake.manifest
    lake.buildDeltaKeyBloom(spark, m, m.files).nonEmpty
  }

  /** Aged-table layout: `nKeys` inserted and compacted to pure base, then one
    * small delta wave touching random keys ACROSS the whole id range (first
    * and last key included, so the delta's footer range spans every base
    * file's — the file prune provably cannot fire). */
  private def age(mode: CdcMode, root: String, nKeys: Int,
      touches: Seq[(Int, String)]): (LakeTable, RunnerConfig) = {
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = mode, merge = MergeStrategy.MergeOnRead, buckets = 4))
    val lake = CdcRunner.ensureTable(spark, cfg)
    apply(lake, cfg, 0L,
      (1 to nKeys).map(k => mkRow(k.toLong, k, "INSERT", v = k % 9 + 1)))
    lake.compact(spark, maxFilesPerBucket = Int.MaxValue, maxDeltaFiles = 1)
    apply(lake, cfg, 1L, touches.zipWithIndex.map { case ((k, op), i) =>
      mkRow(nKeys + 100L + i, k, op, v = 99)
    })
    (lake, cfg)
  }

  /** The current snapshot resolved WITHOUT the row-level prune (tombstones
    * included, like readState). */
  private def unprunedState(lake: LakeTable): org.apache.spark.sql.DataFrame = {
    val m = lake.manifest
    val df = lake.readResolved(spark, m, m.files)
    assert(!df.queryExecution.executedPlan.toString.contains("bloom_key_might_contain"))
    df
  }

  test("LWW aged table, hash-random touches: bloom split == unpruned fold " +
    "== driver oracle; file prune provably a no-op; probe in the plan") {
    val nKeys = 400
    val touches = Seq(1 -> "UPDATE", 400 -> "UPDATE", 57 -> "DELETE",
      133 -> "UPDATE", 290 -> "UPDATE", 11 -> "DELETE", 342 -> "UPDATE")
    val (lake, _) = age(CdcMode.Upsert, tmpDir("graft-rowprune-lww"), nKeys, touches)
    assert(!filePruneFired(lake), "footer ranges interleave — the file " +
      "prune must be a no-op here or this spec tests the wrong prune")
    assert(bloomBuilt(lake), "gate (base >= 8x delta rows) should fire")
    val df = lake.read(spark)
    assert(df.queryExecution.executedPlan.toString.contains("bloom_key_might_contain"),
      "the probe must be in the executed plan")
    val expected = (1 to nKeys).flatMap { k =>
      touches.reverse.find(_._1 == k) match {
        case Some((_, "DELETE")) => None
        case Some((_, _))        => Some(f"doc-$k%09d" -> 99)
        case None                => Some(f"doc-$k%09d" -> (k % 9 + 1))
      }
    }.toMap
    val actual = df.collect()
      .map(r => r.getAs[String]("doc_id") ->
        r.getAs[scala.collection.Seq[Int]]("tokens").head).toMap
    assert(actual == expected)
    val unpruned = unprunedState(lake).where("NOT coalesce(_deleted, false)").collect()
      .map(r => r.getAs[String]("doc_id") ->
        r.getAs[scala.collection.Seq[Int]]("tokens").head).toMap
    assert(actual == unpruned)
  }

  test("SCD2 aged table: version chains never split across the bloom " +
    "(probe is per-key deterministic); history == unpruned history") {
    val nKeys = 320
    val touches = Seq(1 -> "UPDATE", 320 -> "UPDATE", 160 -> "UPDATE",
      77 -> "UPDATE")
    val (lake, _) = age(CdcMode.Scd2, tmpDir("graft-rowprune-scd2"), nKeys, touches)
    assert(!filePruneFired(lake))
    assert(bloomBuilt(lake))
    def hist(df: org.apache.spark.sql.DataFrame): Map[(String, Int), Long] =
      df.collect().map(r => (r.getAs[String]("doc_id"),
        r.getAs[Int]("scd_current")) -> r.getAs[Long]("_lsn"))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val pruned = lake.readState(spark, lake.currentVersion)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("bloom_key_might_contain"))
    val a = hist(pruned)
    val b = hist(unprunedState(lake))
    assert(a == b)
    // touched keys gained a current v2 row; untouched kept their single row
    val rows = lake.read(spark).collect()
    val touchedIds = touches.map { case (k, _) => f"doc-$k%09d" }.toSet
    assert(rows.count(r => touchedIds.contains(r.getAs[String]("doc_id"))) ==
      touches.size * 2, "each touched key must carry exactly two versions")
    assert(rows.length == nKeys + touches.size)
  }

  test("bloom prune across a rescale + key rename: mixed-spec groups and " +
    "mixed writer schemas probe consistently; read == unpruned throughout") {
    // Aged base at spec 4 under the ORIGINAL key name, then: rescale(8)
    // (metadata-only — the touches below write at spec 8, the base stays at
    // spec 4) and a KEY rename (the touches write schema id 2, the base
    // carries the stats and data under the old name). The bloom build hashes
    // the CURRENT key name over field-id-projected reads on BOTH sides, so
    // the probe must stay consistent across spec and schema groups — the two
    // evolution axes a 100-TB table accretes while its deltas age.
    val nKeys = 400
    val root = tmpDir("graft-rowprune-evolve")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, merge = MergeStrategy.MergeOnRead,
        buckets = 4))
    val lake = CdcRunner.ensureTable(spark, cfg)
    apply(lake, cfg, 0L,
      (1 to nKeys).map(k => mkRow(k.toLong, k, "INSERT", v = k % 9 + 1)))
    lake.compact(spark, maxFilesPerBucket = Int.MaxValue, maxDeltaFiles = 1)
    lake.rescale(8)
    lake.evolve(Seq(graft.lake.RenameColumn("doc_id", "document_id")))
    assert(lake.manifest.keyCols == Seq("document_id"),
      "key rename must follow into the manifest's key set")
    val touches = Seq(1 -> "UPDATE", 400 -> "UPDATE", 57 -> "DELETE",
      133 -> "UPDATE", 290 -> "UPDATE", 11 -> "DELETE", 342 -> "UPDATE")
    val touchRows = touches.zipWithIndex.map { case ((k, op), i) =>
      mkRow(nKeys + 100L + i, k, op, v = 99)
    }
    MergeApply.applyBatch(spark, lake,
      spark.createDataFrame(spark.sparkContext.parallelize(touchRows, 2),
        ChangeEvent.schema()).withColumnRenamed("doc_id", "document_id"),
      1L, cfg.job.copy(keyCols = Seq("document_id")))
    val m = lake.manifest
    assert(m.files.map(_.spec).distinct.toSet == Set(4, 8),
      "the shape under test is MIXED specs (pre-rescale base, post-rescale deltas)")
    assert(m.files.map(_.schemaId).distinct.size == 2,
      "the shape under test is MIXED writer schemas")
    assert(!filePruneFired(lake))
    assert(bloomBuilt(lake))
    val df = lake.read(spark)
    assert(df.queryExecution.executedPlan.toString.contains("bloom_key_might_contain"))
    val expected = (1 to nKeys).flatMap { k =>
      touches.reverse.find(_._1 == k) match {
        case Some((_, "DELETE")) => None
        case Some((_, _))        => Some(f"doc-$k%09d" -> 99)
        case None                => Some(f"doc-$k%09d" -> (k % 9 + 1))
      }
    }.toMap
    def state(d: org.apache.spark.sql.DataFrame): Map[String, Int] =
      d.collect().map(r => r.getAs[String]("document_id") ->
        r.getAs[scala.collection.Seq[Int]]("tokens").head).toMap
    assert(state(df) == expected)
    assert(state(unprunedState(lake).where("NOT coalesce(_deleted, false)")) == expected)
    // physical migration to the doubled spec must not disturb the state
    lake.splitBuckets(spark)
    assert(lake.manifest.files.forall(_.spec == 8))
    assert(state(lake.read(spark)) == expected)
  }

  test("gates: no bloom when deltas outgrow the cap or when the base/delta " +
    "ratio is thin") {
    val (lake, _) = age(CdcMode.Upsert, tmpDir("graft-rowprune-gate"), 400,
      Seq(1 -> "UPDATE", 400 -> "UPDATE"))
    val m = lake.manifest
    assert(lake.buildDeltaKeyBloom(spark, m, m.files).nonEmpty)
    assert(lake.buildDeltaKeyBloom(spark, m, m.files, maxDeltaKeys = 1).isEmpty,
      "2 delta rows over a cap of 1 must fall back to the plain fold")
    // thin ratio: delta rows within a factor 8 of base rows
    val (thin, _) = age(CdcMode.Upsert, tmpDir("graft-rowprune-thin"), 40,
      (1 to 10).map(k => k * 4 -> "UPDATE"))
    val tm = thin.manifest
    assert(thin.buildDeltaKeyBloom(spark, tm, tm.files).isEmpty,
      "40 base / 10 delta rows is under the 8x gate")
    assert(!thin.read(spark).queryExecution.executedPlan.toString
      .contains("bloom_key_might_contain"))
  }

  test("delta-key bloom is built once per snapshot as one broadcast; a new " +
    "commit re-keys the memo") {
    val (lake, cfg) = age(CdcMode.Upsert, tmpDir("graft-rowprune-memo"), 400,
      Seq(1 -> "UPDATE", 400 -> "UPDATE"))
    val m = lake.manifest
    val (_, hot, _) = lake.hotFileSplit(m.files)
    val a = lake.deltaKeyBloom(spark, m, hot)
    val b = lake.deltaKeyBloom(spark, m, hot)
    assert(a.nonEmpty)
    assert(a.get eq b.get,
      "same snapshot must reuse the broadcast, not re-scan")
    // a new commit moves the version: the memo follows — no stale filter
    // missing the fresh delta's keys (which would falsely pass them)
    apply(lake, cfg, 2L, Seq(mkRow(9000L, 7, "UPDATE", v = 42)))
    val m2 = lake.manifest
    assert(m2.version > m.version)
    val (_, hot2, _) = lake.hotFileSplit(m2.files)
    val d = lake.deltaKeyBloom(spark, m2, hot2)
    assert(d.nonEmpty && !(d.get eq b.get))
    assert(d.get.value.mightContainLong(
      lake.read(spark).where("doc_id = 'doc-000000007'")
        .select(org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("doc_id")))
        .head().getLong(0)),
      "the re-keyed filter must contain the new delta's key hash")
  }
}
