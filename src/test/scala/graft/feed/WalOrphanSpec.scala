package graft.feed

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.model._
import graft.runner.{CdcRunner, RunnerConfig}

/**
 * The two halves of the "a transaction must never wait forever" contract:
 *
 *  1. a CORRUPT COMMIT slot row (NULL xid, line text intact) must not orphan
 *     its transaction — the xid is recovered from the `COMMIT 1234` text
 *     itself (WalParser.txnOf, shared by the parse's semi-join and the
 *     transaction operator's grouping key), the txn applies, and the corrupt
 *     row quarantines once like any other marker;
 *  2. a transaction whose COMMIT never arrives at all (producer wedge, an
 *     unrecoverable commit row) is EVICTED whole after `walOrphanEpochs`
 *     micro-batches — payload parsed, browsable under the eviction epoch,
 *     replayQuarantine-drainable — instead of waiting forever and silently
 *     never applying.
 */
class WalOrphanSpec extends SparkSpec {

  private val payload = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_tok",
      org.apache.spark.sql.types.IntegerType)))

  private val nullableRaw =
    StructType(WalParser.rawSchema.fields.map(_.copy(nullable = true)))

  private def dml(lsn: Long, xid: Long, key: String, n: Int) =
    Row(lsn, xid, "table corpus.documents: INSERT: doc_id[character " +
      s"varying]:'$key' n_tok[integer]:$n")

  /** Mtimes stamped explicitly (the shared [[ChangeFeed.writeRawChunks]]
    * recipe): every test here depends on BATCH ORDER (which epoch evicts,
    * which epoch the straggler lands in), and the file source tie-breaks
    * equal mtimes by random UUID name. */
  private def writeFiles(root: String, files: Seq[Seq[Row]]): Unit =
    graft.feed.ChangeFeed.writeRawChunks(
      files.map(chunk => spark.createDataFrame(
        spark.sparkContext.parallelize(chunk, 1), nullableRaw)),
      s"$root/feed")

  /** The drain recipe the feature promises: strip the orphan op mark so the
    * rows re-drive as their original ops. Built from the production constant
    * so a rename can't silently leave the tests stripping nothing. */
  private val stripOrphanMark: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    df => df.withColumn(ChangeEvent.OP, regexp_replace(col(ChangeEvent.OP),
      "^" + java.util.regex.Pattern.quote(
        graft.apply.MergeApply.ORPHANED_OP_PREFIX), ""))

  /** xids still waiting for their COMMIT in the WAL operator's state. */
  private def pendingXids(checkpointDir: String): Set[Long] =
    spark.read.format("statestore").load(checkpointDir)
      .filter(!col("value.groupState.evicted")).select("key.value")
      .collect().map(_.getLong(0)).toSet

  private def cfgFor(root: String, orphanEpochs: Int = 16) = RunnerConfig(
    feedDir = s"$root/feed", tableDir = s"$root/table",
    checkpointDir = s"$root/cp",
    job = JobConfig(mode = CdcMode.Upsert, buckets = 2),
    payloadSchema = payload, maxFilesPerTrigger = 1,
    walOrphanEpochs = orphanEpochs)

  test("a corrupt COMMIT row (null xid, text intact) does not orphan its " +
    "txn: the xid recovers from the line, the DML applies, the marker " +
    "quarantines once") {
    val root = tmpDir("graft-walcommit")
    writeFiles(root, Seq(
      Seq(Row(1L, 10L, "BEGIN 10"), dml(2L, 10L, "d-a", 3)),
      // the COMMIT slot row arrives CORRUPT in the next micro-batch — both
      // xid joins would see NULL and txn 10 would wait forever
      Seq(Row(3L, null, "COMMIT 10"),
        Row(4L, 11L, "BEGIN 11"), dml(5L, 11L, "d-b", 7),
        Row(6L, 11L, "COMMIT 11"))))
    val cfg = cfgFor(root)
    CdcRunner.startFromWal(spark, cfg, "corpus", "documents").awaitTermination()
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    val state = lake.read(spark).select("doc_id", "n_tok").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(state == Map("d-a" -> 3, "d-b" -> 7),
      s"txn 10 must apply despite its corrupt COMMIT row: $state")
    val q = lake.quarantine(spark).collect()
    assert(q.length == 1 && q(0).getAs[String](
      graft.apply.MergeApply.QUARANTINE_REASON).startsWith("unknown_op"),
      s"exactly the corrupt commit row quarantines, once: ${q.mkString(";")}")
    // and nothing of txn 10 is left waiting in the operator state (after
    // epoch 0 it legitimately waited — the COMMIT had not arrived yet)
    assert(!pendingXids(cfg.checkpointDir).contains(10L), "txn 10 still pending")
  }

  test("a txn whose COMMIT never arrives evicts WHOLE after walOrphanEpochs: " +
    "quarantined with parsed payload, counted once, replay-drainable") {
    val root = tmpDir("graft-walorphan")
    writeFiles(root, Seq(
      // txn 20 never commits (producer wedge) — two DML lines + BEGIN
      Seq(Row(1L, 20L, "BEGIN 20"), dml(2L, 20L, "d-x", 1), dml(3L, 20L, "d-y", 2)),
      // three clean txns drive three more micro-batches
      Seq(Row(10L, 21L, "BEGIN 21"), dml(11L, 21L, "d-c", 4), Row(12L, 21L, "COMMIT 21")),
      Seq(Row(20L, 22L, "BEGIN 22"), dml(21L, 22L, "d-d", 5), Row(22L, 22L, "COMMIT 22")),
      Seq(Row(30L, 23L, "BEGIN 23"), dml(31L, 23L, "d-e", 6), Row(32L, 23L, "COMMIT 23"))))
    val cfg = cfgFor(root, orphanEpochs = 2)
    CdcRunner.startFromWal(spark, cfg, "corpus", "documents").awaitTermination()
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    val state = lake.read(spark).select("doc_id").collect().map(_.getString(0)).sorted
    assert(state.sameElements(Array("d-c", "d-d", "d-e")),
      s"uncommitted data must NOT apply: ${state.toSeq}")
    // evicted in epoch 2 (ages: 0 in its own batch, 1, then >= 2) — whole
    // txn, payload parsed, reason self-describing, exactly once
    val q = lake.quarantine(spark)
      .select("doc_id", graft.apply.MergeApply.QUARANTINE_REASON).collect()
      .map(r => r.getString(0) -> r.getString(1)).sortBy(_._1)
    assert(q.map(_._1).sameElements(Array("d-x", "d-y")),
      s"both DML lines of txn 20, with payload decoded: ${q.toSeq}")
    assert(q.forall(_._2 == "unknown_op: orphaned_txn:INSERT"), q.toSeq.toString)
    assert(new java.io.File(lake.quarantineDir(2L)).isDirectory,
      "evicted under the epoch that aged it out")
    // counted once in the delivery audit: 3 committed DML + 2 orphans
    assert(lake.manifest.metrics("events_received") == 5L,
      s"received ${lake.manifest.metrics("events_received")}")
    // the operator state no longer holds txn 20's lines after the eviction
    assert(!pendingXids(cfg.checkpointDir).contains(20L), "txn 20 still pending")
    // the operator establishes txn 20 really committed: strip the op mark
    // and re-drive the eviction epoch — rows apply under their original LSNs
    val res = graft.apply.MergeApply.replayQuarantine(spark, lake, 2L, cfg.job,
      fix = stripOrphanMark)
    assert(res.metrics.getOrElse("events_quarantined", 0L) == 0L, res.metrics.toString)
    val after = lake.read(spark).select("doc_id").collect().map(_.getString(0)).sorted
    assert(after.sameElements(Array("d-c", "d-d", "d-e", "d-x", "d-y")),
      s"replayed orphans land: ${after.toSeq}")
  }

  test("a txn outliving the window whose COMMIT finally arrives stays WHOLE " +
    "in quarantine: the evicted-xid ledger routes the late lines and the " +
    "COMMIT itself there — never half-applied, half-quarantined") {
    val root = tmpDir("graft-walledger")
    writeFiles(root, Seq(
      // txn 30 starts here and keeps emitting across 4 micro-batches — a
      // slow bulk transaction outliving walOrphanEpochs=2
      Seq(Row(1L, 30L, "BEGIN 30"), dml(2L, 30L, "d-t1", 1),
        Row(3L, 40L, "BEGIN 40"), dml(4L, 40L, "d-c0", 9), Row(5L, 40L, "COMMIT 40")),
      Seq(dml(10L, 30L, "d-t2", 2)),
      // epoch 2: txn 30's oldest lines hit AGE 2 -> evicted whole
      Seq(Row(20L, 41L, "BEGIN 41"), dml(21L, 41L, "d-c1", 8), Row(22L, 41L, "COMMIT 41")),
      // epoch 3: the straggler line AND the COMMIT arrive — post-eviction
      Seq(dml(30L, 30L, "d-t3", 3), Row(31L, 30L, "COMMIT 30"))))
    val cfg = cfgFor(root, orphanEpochs = 2)
    CdcRunner.startFromWal(spark, cfg, "corpus", "documents").awaitTermination()
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    val state = lake.read(spark).select("doc_id").collect().map(_.getString(0)).sorted
    assert(state.sameElements(Array("d-c0", "d-c1")),
      s"NOTHING of the evicted txn may apply, even with its late COMMIT: ${state.toSeq}")
    val q = lake.quarantine(spark)
      .select("doc_id", graft.apply.MergeApply.QUARANTINE_REASON).collect()
      .map(r => r.getString(0) -> r.getString(1)).sortBy(_._1)
    assert(q.map(_._1).sameElements(Array("d-t1", "d-t2", "d-t3")),
      s"ALL of txn 30 in quarantine — the whole txn, exactly once: ${q.toSeq}")
    assert(q.forall(_._2 == "unknown_op: orphaned_txn:INSERT"), q.toSeq.toString)
    // the whole txn replay-drains back: eviction epoch + straggler epoch
    Seq(2L, 3L).foreach { e =>
      graft.apply.MergeApply.replayQuarantine(spark, lake, e, cfg.job,
        fix = stripOrphanMark); ()
    }
    val after = lake.read(spark).select("doc_id").collect().map(_.getString(0)).sorted
    assert(after.sameElements(Array("d-c0", "d-c1", "d-t1", "d-t2", "d-t3")),
      s"the drained txn lands whole: ${after.toSeq}")
  }

  test("a restart with wal_orphan_epochs=0 still honors the existing ledger: " +
    "stickiness guards PAST evictions even when new evictions are disabled") {
    val root = tmpDir("graft-walledger0")
    writeFiles(root, Seq(
      // txn 60 never commits in run 1 — evicted at walOrphanEpochs=1
      Seq(Row(1L, 60L, "BEGIN 60"), dml(2L, 60L, "d-z1", 1)),
      Seq(Row(10L, 61L, "BEGIN 61"), dml(11L, 61L, "d-h", 4), Row(12L, 61L, "COMMIT 61")),
      Seq(Row(20L, 62L, "BEGIN 62"), dml(21L, 62L, "d-i", 5), Row(22L, 62L, "COMMIT 62"))))
    CdcRunner.startFromWal(spark, cfgFor(root, orphanEpochs = 1),
      "corpus", "documents").awaitTermination()
    // run 2: the straggler line AND the COMMIT arrive, but the operator has
    // turned eviction OFF — the half-quarantined txn must stay whole in
    // quarantine, not half-apply
    writeFiles(root, Seq(Seq(dml(30L, 60L, "d-z2", 2), Row(31L, 60L, "COMMIT 60"))))
    val cfg0 = cfgFor(root, orphanEpochs = 0)
    CdcRunner.startFromWal(spark, cfg0, "corpus", "documents").awaitTermination()
    val lake = new graft.lake.LakeTable(cfg0.tableDir)
    val state = lake.read(spark).select("doc_id").collect().map(_.getString(0)).sorted
    assert(state.sameElements(Array("d-h", "d-i")),
      s"txn 60 must NOT half-apply under a disabled-eviction restart: ${state.toSeq}")
    val q = lake.quarantine(spark).select("doc_id").collect().map(_.getString(0)).sorted
    assert(q.sameElements(Array("d-z1", "d-z2")),
      s"the whole txn sits in quarantine: ${q.toSeq}")
  }

  test("orphan eviction under stop_if_insert_error quarantines and CONTINUES: " +
    "a deterministic timeout eviction must not wedge the stream forever") {
    val root = tmpDir("graft-walstop")
    writeFiles(root, Seq(
      Seq(Row(1L, 50L, "BEGIN 50"), dml(2L, 50L, "d-w", 1)),
      Seq(Row(10L, 51L, "BEGIN 51"), dml(11L, 51L, "d-f", 4), Row(12L, 51L, "COMMIT 51")),
      Seq(Row(20L, 52L, "BEGIN 52"), dml(21L, 52L, "d-g", 5), Row(22L, 52L, "COMMIT 52"))))
    val cfg0 = cfgFor(root, orphanEpochs = 2)
    val cfg = cfg0.copy(job = cfg0.job.copy(
      errorPolicy = ErrorPolicy(stopOnInsertError = true)))
    // the eviction epoch must complete, not throw stop_if_error: unknown op
    CdcRunner.startFromWal(spark, cfg, "corpus", "documents").awaitTermination()
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    val state = lake.read(spark).select("doc_id").collect().map(_.getString(0)).sorted
    assert(state.sameElements(Array("d-f", "d-g")), state.toSeq.toString)
    val q = lake.quarantine(spark).select("doc_id").collect().map(_.getString(0))
    assert(q.sameElements(Array("d-w")),
      s"the orphan quarantined instead of wedging the stream: ${q.toSeq}")
  }

  test("writeRawChunks append continues AFTER existing stamps instead of " +
    "collapsing earlier chunks onto the new call's base mtime") {
    val root = tmpDir("graft-rawchunks-append")
    def df(lsn: Long) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(dml(lsn, 1L, s"d-$lsn", 1)), 1),
      nullableRaw)
    graft.feed.ChangeFeed.writeRawChunks(Seq(df(1), df(2)), s"$root/feed")
    def stamps() = new java.io.File(s"$root/feed").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.lastModified())
      .toMap
    val first = stamps()
    assert(first.values.toSet.size == 2, s"two distinct chunk stamps: $first")
    // the natural append usage its mode("append") write invites: a second
    // call on the SAME dir must leave call A's order intact (re-stamping
    // them onto ITS chunk-0 would randomize not-yet-consumed file order)
    // and stamp its own chunks strictly later
    graft.feed.ChangeFeed.writeRawChunks(Seq(df(3)), s"$root/feed")
    val second = stamps()
    first.foreach { case (n, m) =>
      assert(second(n) == m, s"pre-existing stamp rewritten for $n") }
    val newOnes = second.keySet -- first.keySet
    assert(newOnes.size == 1)
    assert(second(newOnes.head) > first.values.max,
      "appended chunk must arrive strictly after every existing one")
  }
}
