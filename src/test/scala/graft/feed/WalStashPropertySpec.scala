package graft.feed

import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.model._
import graft.runner.{CdcRunner, RunnerConfig}

/**
 * Property: for ANY set of transactions and ANY split of their WAL lines
 * into feed files (micro-batches), the streamed parse+merge reaches the
 * same final state as parsing every line in one batch — i.e. the pending
 * stash makes transaction boundaries and batch boundaries fully
 * independent. Before the stash, a txn whose COMMIT landed in a later
 * batch lost its DML permanently.
 */
class WalStashPropertySpec extends SparkSpec {

  private val payload = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_tok",
      org.apache.spark.sql.types.IntegerType)))

  /** One txn: BEGIN, 1..3 DML lines on random keys, COMMIT (or, rarely, an
    * UNCOMMITTED tail — its rows must never apply). */
  private case class Txn(xid: Long, keys: Seq[Int], committed: Boolean)

  private val txnGen: Gen[(Seq[Int], Boolean)] = for {
    n <- Gen.choose(1, 3)
    keys <- Gen.listOfN(n, Gen.choose(0, 9))
    committed <- Gen.frequency(9 -> true, 1 -> false)
  } yield (keys, committed)

  private def lines(txns: Seq[Txn]): Seq[(Long, Long, String)] = {
    var lsn = 0L
    txns.flatMap { t =>
      val begin = { lsn += 1; (lsn, t.xid, s"BEGIN ${t.xid}") }
      val dml = t.keys.map { k =>
        lsn += 1
        (lsn, t.xid, "table corpus.documents: INSERT: doc_id[character " +
          f"varying]:'d-$k%03d' n_tok[integer]:${lsn % 7}")
      }
      val commit =
        if (t.committed) Seq({ lsn += 1; (lsn, t.xid, s"COMMIT ${t.xid}") })
        else Nil
      begin +: dml :++ commit
    }
  }

  /** Split into files at the random cut points (sorted, deduped, bounded) —
    * files deliberately NOT txn-aligned. */
  private def splitAt(
      all: Seq[(Long, Long, String)], cuts: Seq[Int]): Seq[Seq[(Long, Long, String)]] = {
    val bounds = (cuts.map(_ % math.max(all.size - 1, 1)).filter(_ > 0)
      .distinct.sorted :+ all.size).distinct
    (0 +: bounds).sliding(2).collect {
      case Seq(a, b) if b > a => all.slice(a, b)
    }.toSeq
  }

  /** One parquet file per chunk, mtimes stamped EXPLICITLY in chunk order
    * (the shared [[ChangeFeed.writeRawChunks]] recipe): the orphan property
    * genuinely depends on arrival order (a COMMIT processed before its own
    * DML re-stashes the DML commit-less until it evicts), and the base
    * property depends on it too (that same reordering strands the DML
    * forever). */
  private def writeFeed(root: String, files: Seq[Seq[(Long, Long, String)]]): Unit =
    graft.feed.ChangeFeed.writeRawChunks(
      files.map(chunk => spark.createDataFrame(
        spark.sparkContext.parallelize(
          chunk.map(r => Row(r._1, r._2, r._3)), 1),
        WalParser.rawSchema)),
      s"$root/feed")

  test("streamed WAL merge == one-batch parse, any txn set, any file split") {
    val caseGen = for {
      txns <- Gen.listOfN(8, txnGen)
      cuts <- Gen.listOfN(4, Gen.choose(1, 30))
    } yield (txns, cuts)
    (1 to 4).foreach { i =>
      val (rawTxns, cuts) = caseGen(Gen.Parameters.default, Seed(7700L + i)).get
      val txns = rawTxns.zipWithIndex.map { case ((ks, c), x) => Txn(100L + x, ks, c) }
      val all = lines(txns)
      val root = tmpDir(s"graft-walprop-$i")
      val files = splitAt(all, cuts)
      writeFeed(root, files)
      val cfg = RunnerConfig(
        feedDir = s"$root/feed", tableDir = s"$root/table",
        checkpointDir = s"$root/cp",
        job = JobConfig(mode = CdcMode.Upsert, buckets = 2),
        payloadSchema = payload, maxFilesPerTrigger = 1)
      CdcRunner.startFromWal(spark, cfg, "corpus", "documents").awaitTermination()
      val streamed = new graft.lake.LakeTable(cfg.tableDir).read(spark)
        .select("doc_id", "n_tok").collect().map(_.toString).sorted

      // oracle: parse EVERYTHING in one batch, merge once
      val oneBatch = WalParser.parseForTable(
        spark.createDataFrame(
          spark.sparkContext.parallelize(all.map(r => Row(r._1, r._2, r._3)), 2),
          WalParser.rawSchema),
        payload, "corpus", "documents")
      val cfg2 = cfg.copy(tableDir = s"$root/table2", checkpointDir = s"$root/cp2")
      val lake2 = CdcRunner.ensureTable(spark, cfg2)
      graft.apply.MergeApply.applyBatch(spark, lake2, oneBatch, 0L, cfg2.job)
      val oracle = lake2.read(spark)
        .select("doc_id", "n_tok").collect().map(_.toString).sorted

      assert(streamed.sameElements(oracle),
        s"case $i: streamed ${streamed.toSeq} != one-batch ${oracle.toSeq} " +
          s"(files=${files.map(_.size)}, txns=${txns.map(t => (t.xid, t.keys.size, t.committed))})")
    }
  }

  /**
   * Property: under the MOST aggressive eviction window (walOrphanEpochs=1),
   * for ANY txn set and ANY file split, every transaction lands in EXACTLY
   * one of three states — APPLIED (its commit arrived in time), QUARANTINED
   * WHOLE (aged out; every DML line present exactly once, even lines or the
   * COMMIT arriving after the eviction — the ledger), or STILL-STASHED (its
   * lines reached the pending stash only in the final epochs). Uncommitted
   * data never applies, the lake state is exactly the LWW fold of the
   * applied txns, nothing vanishes, nothing double-counts.
   */
  test("orphan eviction, any split: per-txn atomicity (applied XOR " +
    "quarantined-whole XOR stashed), exact state fold, exact audit count") {
    val DmlRe = ".*doc_id\\[character varying\\]:'([^']+)' n_tok\\[integer\\]:(\\d+)".r
    val caseGen = for {
      txns <- Gen.listOfN(8, txnGen)
      cuts <- Gen.listOfN(4, Gen.choose(1, 30))
    } yield (txns, cuts)
    (1 to 4).foreach { i =>
      val (rawTxns, cuts) = caseGen(Gen.Parameters.default, Seed(8800L + i)).get
      val txns = rawTxns.zipWithIndex.map { case ((ks, c), x) => Txn(100L + x, ks, c) }
      val all = lines(txns)
      val root = tmpDir(s"graft-walevprop-$i")
      writeFeed(root, splitAt(all, cuts))
      val cfg = RunnerConfig(
        feedDir = s"$root/feed", tableDir = s"$root/table",
        checkpointDir = s"$root/cp",
        job = JobConfig(mode = CdcMode.Upsert, buckets = 2),
        payloadSchema = payload, maxFilesPerTrigger = 1,
        walOrphanEpochs = 1)
      CdcRunner.startFromWal(spark, cfg, "corpus", "documents").awaitTermination()
      val lake = new graft.lake.LakeTable(cfg.tableDir)
      val ctx = s"case $i (txns=${txns.map(t => (t.xid, t.keys.size, t.committed))})"

      // the generator's DML lines, re-derived from the wire text itself
      val dml = all.collect { case (lsn, xid, DmlRe(k, n)) => (lsn, xid, k, n.toInt) }
      // an all-applied case quarantines nothing: the empty frame carries only
      // the engine columns, so probe before projecting payload columns
      val quarDf = lake.quarantine(spark)
      val quar =
        if (!quarDf.columns.contains(ChangeEvent.LSN))
          Array.empty[(Long, Long, String, Int)]
        else quarDf
          .select(ChangeEvent.LSN, ChangeEvent.TXN_ID, ChangeEvent.DOC_ID, "n_tok")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
      val quarXids = quar.map(_._2).toSet
      // still pending = the operator state's un-evicted xids
      val stashXids = spark.read.format("statestore").load(cfg.checkpointDir)
        .filter(!org.apache.spark.sql.functions.col("value.groupState.evicted"))
        .select("key.value").collect().map(_.getLong(0)).toSet
      assert((quarXids & stashXids).isEmpty,
        s"$ctx: txns BOTH quarantined and still stashed: ${quarXids & stashXids}")
      val applied = txns.map(_.xid).toSet -- quarXids -- stashXids
      val uncommitted = txns.filter(!_.committed).map(_.xid).toSet
      assert((uncommitted & applied).isEmpty,
        s"$ctx: uncommitted txns applied: ${uncommitted & applied}")
      // quarantined txns are quarantined WHOLE, each DML line exactly once
      val expectQuar = dml.filter(d => quarXids(d._2)).sorted.toSeq
      assert(quar.sorted.toSeq == expectQuar,
        s"$ctx: quarantine ${quar.sorted.toSeq} != whole-txn DML $expectQuar")
      // lake state == LWW fold of exactly the applied txns' DML
      val expectState = dml.filter(d => applied(d._2))
        .groupBy(_._3).map { case (k, rows) =>
          val last = rows.maxBy(_._1); (k, last._4)
        }.toSeq.sorted
      val state = lake.read(spark).select("doc_id", "n_tok").collect()
        .map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
      assert(state == expectState, s"$ctx: state $state != fold $expectState")
      // the delivery audit counted every applied + evicted DML line ONCE
      val received = lake.manifest.metrics("events_received")
      val expectN = dml.count(d => applied(d._2) || quarXids(d._2))
      assert(received == expectN, s"$ctx: events_received $received != $expectN")
    }
  }
}
