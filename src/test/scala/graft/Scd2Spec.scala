package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.apply.MergeApply
import graft.model._
import graft.runner.{CdcRunner, RunnerConfig}

/**
 * FIXTURES F4 — SCD2 golden scenario mirroring the reference's manual script
 * (task/another_tasks/fl-cdc-scd2-employees/teste-scd2.sql:53-124): multi-batch
 * update chains, an intra-batch 2-update chain, a delete closing the current
 * version only, and re-insert after delete. Timestamps derive from event ts
 * (deterministic; documented deviation from the reference's NOW()).
 */
class Scd2Spec extends SparkSpec {

  private def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)

  private def ev(lsn: Long, op: String, key: String, v: Int): Row = {
    val del = op == "DELETE"
    Row(lsn, lsn, ts(lsn), op, 1, key,
      if (del) null else Seq(v, v + 1),
      if (del) null else Int.box(2),
      if (del) null else s"v$v")
  }

  test("scd2: version chains across and within batches; delete closes; re-insert reopens") {
    val root = tmpDir("graft-scd2")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Scd2, buckets = 4))
    val lake = CdcRunner.ensureTable(spark, cfg)
    val schema = ChangeEvent.schema()
    def batch(epoch: Long, rows: Row*): Unit =
      MergeApply.applyBatch(spark, lake,
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema),
        epoch, cfg.job)

    // batch 0: A inserted; B inserted; C inserted
    batch(0, ev(1, "INSERT", "A", 1), ev(2, "INSERT", "B", 1), ev(3, "INSERT", "C", 1))
    // batch 1: A updated twice IN ONE BATCH (intra-batch chain); B deleted
    batch(1, ev(10, "UPDATE", "A", 2), ev(11, "UPDATE", "A", 3), ev(12, "DELETE", "B", 0))
    // batch 2: A updated again (cross-batch chain); B re-inserted after delete
    batch(2, ev(20, "UPDATE", "A", 4), ev(21, "INSERT", "B", 9))

    val t = lake.read(spark).orderBy("doc_id", "scd_start_date").collect()
    def versionsOf(k: String) = t.filter(_.getAs[String]("doc_id") == k)

    val a = versionsOf("A")
    assert(a.length == 4, s"A has 4 versions, got ${a.length}")
    // chain: each end == next start; only last current
    a.sliding(2).foreach { case Array(v1, v2) =>
      assert(v1.getAs[java.sql.Timestamp]("scd_end_date") ==
        v2.getAs[java.sql.Timestamp]("scd_start_date"), "A chain contiguous")
    }
    assert(a.map(_.getAs[Int]("scd_current")).toSeq == Seq(0, 0, 0, 1))
    assert(a.last.getAs[String]("source") == "v4")
    assert(a.last.getAs[java.sql.Timestamp]("scd_end_date") == null)
    // intra-batch chain versions carry ts(10) -> ts(11)
    assert(a(1).getAs[java.sql.Timestamp]("scd_start_date") == ts(10))
    assert(a(1).getAs[java.sql.Timestamp]("scd_end_date") == ts(11))

    val b = versionsOf("B")
    assert(b.length == 2, s"B: v1 closed by delete + re-inserted, got ${b.length}")
    assert(b(0).getAs[Int]("scd_current") == 0)
    assert(b(0).getAs[java.sql.Timestamp]("scd_end_date") == ts(12), "closed at delete ts")
    assert(b(1).getAs[Int]("scd_current") == 1)
    assert(b(1).getAs[String]("source") == "v9")

    val c = versionsOf("C")
    assert(c.length == 1 && c(0).getAs[Int]("scd_current") == 1)

    // global invariant: exactly one current version per live key
    val multiCurrent = t.groupBy(_.getAs[String]("doc_id"))
      .map { case (_, vs) => vs.count(_.getAs[Int]("scd_current") == 1) }
    assert(multiCurrent.forall(_ <= 1))
  }

  test("scd2 copy-on-write epoch carries the merge+write and commit phase labels") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import graft.lake.{DataFile, LakeTable, Manifest, SchemaChange}

    val root = tmpDir("graft-scd2-labels")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Scd2, buckets = 4))
    CdcRunner.ensureTable(spark, cfg)
    val sc = spark.sparkContext
    // the commit runs no Spark job: its label is the job description active
    // on the committing thread
    val commitLabels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val lake = new LakeTable(cfg.tableDir) {
      override def commit(epoch: Long, newFiles: Seq[DataFile],
          replacedBuckets: Set[Int], metricsDelta: Map[String, Long],
          changes: Seq[SchemaChange], consolidate: Boolean,
          readVersion: Option[Int]): Manifest = {
        Option(sc.getLocalProperty("spark.job.description")).foreach(commitLabels.add)
        super.commit(epoch, newFiles, replacedBuckets, metricsDelta, changes,
          consolidate, readVersion)
      }
    }
    val jobLabels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(jobLabels.add)
    }
    sc.addSparkListener(listener)
    try {
      MergeApply.applyBatch(spark, lake,
        spark.createDataFrame(sc.parallelize(
          Seq(ev(1, "INSERT", "A", 1), ev(2, "UPDATE", "A", 2)), 2), ChangeEvent.schema()),
        0, cfg.job)
      eventually(timeout(30.seconds)) {
        assert(jobLabels.contains("merge: merge+write"), jobLabels.toString)
      }
    } finally sc.removeSparkListener(listener)
    assert(commitLabels.contains("merge: commit"), commitLabels.toString)
    assert(lake.read(spark).count() == 2)
  }
}
