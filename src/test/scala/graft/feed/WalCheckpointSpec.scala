package graft.feed

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec
import graft.model._
import graft.runner.{CdcRunner, RunnerConfig}

/** The WAL stream's transaction state across restarts and idle time: it
  * lives in Spark's state store ([[WalTransactions]]), so a replayed epoch
  * must still run the operator, a checkpoint of the earlier hand-kept stash
  * is refused by name, and an idle stream runs no empty batches. */
class WalCheckpointSpec extends SparkSpec {

  private val payload = StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_tok",
      org.apache.spark.sql.types.IntegerType)))

  private val nullableRaw =
    StructType(WalParser.rawSchema.fields.map(_.copy(nullable = true)))

  private def dml(lsn: Long, xid: Long, key: String, n: Int) =
    Row(lsn, xid, "table corpus.documents: INSERT: doc_id[character " +
      s"varying]:'$key' n_tok[integer]:$n")

  private def writeFiles(root: String, files: Seq[Seq[Row]]): Unit =
    ChangeFeed.writeRawChunks(
      files.map(chunk => spark.createDataFrame(
        spark.sparkContext.parallelize(chunk, 1), nullableRaw)),
      s"$root/feed")

  private def cfgFor(root: String) = RunnerConfig(
    feedDir = s"$root/feed", tableDir = s"$root/table",
    checkpointDir = s"$root/cp",
    job = JobConfig(mode = CdcMode.Upsert, buckets = 2),
    payloadSchema = payload, maxFilesPerTrigger = 1)

  private def docIds(lake: graft.lake.LakeTable): Seq[String] =
    lake.read(spark).select("doc_id").collect().map(_.getString(0)).toSeq.sorted

  test("an epoch the lake committed but Spark did not is replayed through the " +
    "operator: a crash between the two commits loses no pending transaction") {
    val root = tmpDir("graft-walreplay")
    writeFiles(root, Seq(
      Seq(Row(1L, 5L, "BEGIN 5"), dml(2L, 5L, "d-a", 1)),
      Seq(dml(3L, 5L, "d-b", 2),
        Row(4L, 7L, "BEGIN 7"), dml(5L, 7L, "d-c", 3), Row(6L, 7L, "COMMIT 7"))))
    val cfg = cfgFor(root)
    CdcRunner.startFromWal(spark, cfg, "corpus", "documents").awaitTermination()
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    assert(docIds(lake) == Seq("d-c"), "txn 5 is still pending")
    // the crash: epoch 1 reached the lake, Spark's commit record did not
    val commit1 = new java.io.File(s"${cfg.checkpointDir}/commits/1")
    assert(commit1.delete(), s"no $commit1")
    new java.io.File(s"${cfg.checkpointDir}/commits/.1.crc").delete(): Unit
    writeFiles(root, Seq(Seq(Row(7L, 5L, "COMMIT 5"))))
    CdcRunner.startFromWal(spark, cfg, "corpus", "documents").awaitTermination()
    assert(docIds(lake) == Seq("d-a", "d-b", "d-c"))
    assert(lake.manifest.metrics("events_received") == 3L,
      s"received ${lake.manifest.metrics("events_received")}")
  }

  test("a checkpoint of the earlier hand-kept stash is refused by name, " +
    "before anything is applied") {
    val root = tmpDir("graft-walstashcp")
    writeFiles(root, Seq(Seq(Row(1L, 5L, "BEGIN 5"), dml(2L, 5L, "d-a", 1),
      Row(3L, 5L, "COMMIT 5"))))
    val cfg = cfgFor(root)
    val stash = new java.io.File(s"${cfg.checkpointDir}/wal-pending/epoch=0")
    assert(stash.mkdirs())
    val e = intercept[IllegalStateException](
      CdcRunner.startFromWal(spark, cfg, "corpus", "documents"))
    assert(e.getMessage.contains("wal-pending") && e.getMessage.contains("reload"),
      e.getMessage)
    assert(!new graft.lake.LakeTable(cfg.tableDir).exists, "nothing is created")
    // a stateless checkpoint (committed batches, no state/) is refused too
    CdcRunner.deleteRecursively(stash.getParentFile)
    val commits = new java.io.File(s"${cfg.checkpointDir}/commits")
    assert(commits.mkdirs() && new java.io.File(commits, "0").createNewFile())
    intercept[IllegalStateException](
      CdcRunner.startFromWal(spark, cfg, "corpus", "documents"))
  }

  test("an idle stream holding a pending transaction runs no empty batches") {
    val root = tmpDir("graft-walidle")
    writeFiles(root, Seq(
      Seq(Row(1L, 5L, "BEGIN 5"), dml(2L, 5L, "d-a", 1)),
      Seq(Row(3L, 7L, "BEGIN 7"), dml(4L, 7L, "d-c", 3), Row(5L, 7L, "COMMIT 7"))))
    val cfg = cfgFor(root)
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    def committed = (0L until 64L).count(lake.isCommitted)
    var q: StreamingQuery = null
    try {
      q = CdcRunner.startFromWal(spark, cfg, "corpus", "documents",
        availableNow = false, intervalSeconds = 1)
      eventually(timeout(60.seconds), interval(200.millis))(assert(committed == 2))
      Thread.sleep(10000)
      assert(committed == 2, "an idle trigger committed an empty lake epoch")
      val empty = q.recentProgress.filter(p =>
        p.numInputRows == 0 && p.durationMs.containsKey("addBatch"))
      assert(empty.isEmpty, s"${empty.length} no-data batches ran")
      assert(docIds(lake) == Seq("d-c"), "txn 5 is still pending")
    } finally if (q != null) q.stop()
  }
}
