package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.feed.ChangeFeed
import graft.lake.LakeTable
import graft.model._
import graft.runner.{CdcRunner, RunnerConfig}

/** Independent replay oracle: plain-Scala fold of the event log per key by max LSN
  * (SURVEY §5.2.2). Deliberately shares no code with the engine's merge path. */
object LwwOracle {
  case class Doc(docId: String, tokens: List[Int], nTok: Option[Int], source: Option[String])

  private def tokensOf(r: Row): List[Int] =
    Option(r.getAs[scala.collection.Seq[Int]]("tokens")).map(_.toList).orNull

  def finalState(seed: Seq[Row], events: Seq[Row]): Map[String, Doc] = {
    val init: Map[String, Doc] = seed.map { r =>
      val d = Doc(r.getAs[String]("doc_id"), tokensOf(r),
        Option(r.getAs[Any]("n_tok")).map(_.asInstanceOf[Int]),
        Option(r.getAs[String]("source")))
      d.docId -> d
    }.toMap
    // fold in LSN order; invalid rows (bad invariant) are quarantined by the engine,
    // so the oracle skips them too
    events.sortBy(_.getAs[Long]("lsn")).foldLeft(init) { (state, r) =>
      val op = r.getAs[String]("op")
      val id = r.getAs[String]("doc_id")
      op match {
        case "DELETE" => state - id
        case _ =>
          val tokens = tokensOf(r)
          val nTok = Option(r.getAs[Any]("n_tok")).map(_.asInstanceOf[Int])
          if (tokens == null || !nTok.contains(tokens.size)) state // quarantined
          else state + (id -> Doc(id, tokens, nTok, Option(r.getAs[String]("source"))))
      }
    }
  }

  def fromTable(df: DataFrame): Map[String, Doc] =
    df.collect().map { r =>
      val d = Doc(r.getAs[String]("doc_id"), tokensOf(r),
        Option(r.getAs[Any]("n_tok")).map(_.asInstanceOf[Int]),
        Option(r.getAs[String]("source")))
      d.docId -> d
    }.toMap
}

class PipelineSpec extends SparkSpec {

  private def runPipeline(
      nDocs: Long, nEvents: Long, zipf: Double = 0.0, badPct: Int = 0,
      maxFilesPerTrigger: Int = 4, nFiles: Int = 8, buckets: Int = 8)
      : (LakeTable, Map[String, LwwOracle.Doc], Map[String, LwwOracle.Doc]) = {
    val root = tmpDir("graft-e2e")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table",
      checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = buckets),
      maxFilesPerTrigger = maxFilesPerTrigger)

    val seedDf = ChangeFeed.seedSnapshot(spark, nDocs)
    val eventsDf = ChangeFeed.events(spark,
      ChangeFeed.FeedSpec(nEvents = nEvents, nDocs = nDocs * 2, zipf = zipf, badPct = badPct))
    ChangeFeed.writeFeed(eventsDf, cfg.feedDir, nFiles)

    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake, seedDf, cfg)
    CdcRunner.runAvailableNow(spark, cfg)

    val expected = LwwOracle.finalState(seedDf.collect().toSeq, eventsDf.collect().toSeq)
    val actual = LwwOracle.fromTable(lake.read(spark))
    (lake, expected, actual)
  }

  test("e2e upsert: streamed merge final state == replay oracle (token-array equality)") {
    val listeners = spark.streams.listListeners().toSeq
    val (lake, expected, actual) = runPipeline(nDocs = 200, nEvents = 1000)
    assert(actual.keySet == expected.keySet)
    actual.foreach { case (id, doc) =>
      assert(doc == expected(id), s"mismatch for $id")
    }
    // the launch registers no session listener and writes no progress files
    assert(spark.streams.listListeners().toSeq == listeners)
    assert(!new java.io.File(s"${lake.dir}/metrics").exists())
  }

  test("e2e upsert with zipf hot keys and quarantined rows") {
    val (lake, expected, actual) = runPipeline(
      nDocs = 100, nEvents = 2000, zipf = 1.2, badPct = 5)
    assert(actual == expected)
    val m = lake.manifest
    assert(m.metrics.getOrElse("events_quarantined", 0L) > 0L)
  }

  test("exactly-once: re-delivering a committed epoch is a no-op") {
    val (lake, expected, _) = runPipeline(nDocs = 50, nEvents = 300)
    val vBefore = lake.currentVersion
    // re-deliver epoch 0's batch wholesale
    val batch = spark.read.schema(
      ChangeEvent.schema()).parquet(lake.dir.replace("/table", "/feed"))
    val res = graft.apply.MergeApply.applyBatch(spark, lake, batch, 0L, JobConfig())
    assert(res.skipped)
    assert(lake.currentVersion == vBefore)
    assert(LwwOracle.fromTable(lake.read(spark)) == expected)
  }

  test("tombstones: an out-of-order older INSERT cannot resurrect a deleted key") {
    import org.apache.spark.sql.Row
    val root = tmpDir("graft-tomb")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 4))
    val lake = CdcRunner.ensureTable(spark, cfg)
    val schema = ChangeEvent.schema()
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    def batch(epoch: Long, rows: Row*): Unit =
      graft.apply.MergeApply.applyBatch(spark, lake,
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema),
        epoch, cfg.job)
    // epoch 0: key created then DELETED at lsn 10
    batch(0,
      Row(1L, 1L, ts(1), "INSERT", 1, "k1", Seq(1, 2), Int.box(2), "web"),
      Row(10L, 2L, ts(10), "DELETE", 1, "k1", null, null, null))
    assert(lake.read(spark).count() == 0)
    // epoch 1 delivers an OLDER insert (lsn 5, re-ordered feed): must stay deleted
    batch(1, Row(5L, 3L, ts(5), "INSERT", 1, "k1", Seq(9), Int.box(1), "web"))
    assert(lake.read(spark).count() == 0, "tombstone blocks resurrection")
    // epoch 2: a genuinely newer insert revives the key
    batch(2, Row(20L, 4L, ts(20), "INSERT", 1, "k1", Seq(7, 8), Int.box(2), "books"))
    val revived = lake.read(spark).collect()
    assert(revived.length == 1 && revived(0).getAs[String]("source") == "books")
  }

  test("kill-and-resume from checkpoint equals uninterrupted run") {
    val root = tmpDir("graft-resume")
    val nDocs = 100L; val nEvents = 800L
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 8), maxFilesPerTrigger = 2)
    val seedDf = ChangeFeed.seedSnapshot(spark, nDocs)
    val eventsDf = ChangeFeed.events(spark,
      ChangeFeed.FeedSpec(nEvents = nEvents, nDocs = nDocs * 2))
    // stage 1: only half the feed exists; run to completion and "crash"
    val firstHalf = eventsDf.filter(col("lsn") <= nEvents / 2)
    val secondHalf = eventsDf.filter(col("lsn") > nEvents / 2)
    ChangeFeed.writeFeed(firstHalf, cfg.feedDir, 4)
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake, seedDf, cfg)
    CdcRunner.runAvailableNow(spark, cfg)
    // stage 2: more files arrive; restart from the same checkpoint
    ChangeFeed.writeFeed(secondHalf, cfg.feedDir, 4, append = true)
    CdcRunner.runAvailableNow(spark, cfg)

    val expected = LwwOracle.finalState(seedDf.collect().toSeq, eventsDf.collect().toSeq)
    assert(LwwOracle.fromTable(lake.read(spark)) == expected)
  }
}
