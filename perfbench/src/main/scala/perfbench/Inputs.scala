package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.feed.ChangeFeed
import graft.model.ChangeEvent

/**
 * Seeded inputs, generated once per (shape, seed) outside every timed region
 * and cached under the benchmark's build directory. The engine only ever sees
 * the generated files.
 */
object Inputs {

  /** Parquet change feed plus the base snapshot it applies to. */
  final case class Bulk(dir: String, nEvents: Long) {
    def base: String = s"$dir/base"
    def feed: String = s"$dir/feed"
    def keys: Seq[String] = readKeys(dir)
  }

  /** test_decoding WAL files (one per publish), the events they render, and
    * the base snapshot. `events` keeps the change-feed LSNs, whose order is
    * the order of the WAL line LSNs. */
  final case class Wal(dir: String, nFiles: Int, eventsPerFile: Int) {
    def base: String = s"$dir/base"
    def events: String = s"$dir/events"
    def wal: String = s"$dir/wal"
    def walFile(i: Int): Path = Paths.get(wal, f"wal-$i%05d.parquet")
    def nEvents: Long = nFiles.toLong * eventsPerFile
    def keys: Seq[String] = readKeys(dir)
  }

  val LookupKeys = 25
  /** Cached input sets kept per checkout; older ones are deleted. Enough for
    * ten seeds of both workloads (a set is 2-12 MB), so a second round of
    * runs on the same seeds generates nothing. */
  private val KeepCached = 32

  def bulk(spark: SparkSession, cache: String, seed: Long, nEvents: Long, nDocs: Long,
      maxTok: Int, nFiles: Int): Bulk = {
    val b = Bulk(s"$cache/bulk-s$seed-e$nEvents-d$nDocs-t$maxTok-f$nFiles", nEvents)
    cached(cache, b.dir) { tmp =>
      ChangeFeed.seedSnapshot(spark, nDocs, seed, maxTok).write.parquet(s"$tmp/base")
      val events = ChangeFeed.events(spark, ChangeFeed.FeedSpec(
        nEvents = nEvents, nDocs = nDocs, seed = seed, zipf = 1.2, maxTok = maxTok))
      ChangeFeed.writeFeed(events, s"$tmp/feed", nFiles)
      writeKeys(spark.read.parquet(s"$tmp/feed"), seed, tmp)
    }
    b
  }

  def wal(spark: SparkSession, cache: String, seed: Long, nFiles: Int, eventsPerFile: Int,
      nDocs: Long, maxTok: Int): Wal = {
    require(eventsPerFile % 5 == 0, "files must end on a transaction boundary")
    val w = Wal(s"$cache/wal-s$seed-n$nFiles-e$eventsPerFile-d$nDocs-t$maxTok",
      nFiles, eventsPerFile)
    cached(cache, w.dir) { tmp =>
      ChangeFeed.seedSnapshot(spark, nDocs, seed, maxTok).write.parquet(s"$tmp/base")
      // LSNs from 0 so that txn_id = lsn / 5 never straddles a file
      ChangeFeed.events(spark, ChangeFeed.FeedSpec(
        nEvents = w.nEvents, nDocs = nDocs, seed = seed, startLsn = 0L, maxTok = maxTok))
        .write.parquet(s"$tmp/events")
      val events = spark.read.parquet(s"$tmp/events")
      val stage = s"$tmp/wal-stage"
      walLines(events)
        .withColumn("f", (col("ev_lsn") / eventsPerFile).cast("long"))
        .drop("ev_lsn")
        .repartition(col("f"))
        .sortWithinPartitions("f", "lsn")
        .write.partitionBy("f").parquet(stage)
      Files.createDirectories(Paths.get(tmp, "wal"))
      (0 until nFiles).foreach { i =>
        val parts = Paths.get(stage, s"f=$i").toFile.listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        require(parts.length == 1, s"WAL file $i rendered as ${parts.length} parts")
        Files.move(parts.head.toPath, Paths.get(tmp, "wal", f"wal-$i%05d.parquet"))
      }
      Fs.rm(Paths.get(stage))
      writeKeys(events, seed, tmp)
    }
    w
  }

  /** The slot-read shape `(lsn, xid, data)` of committed test_decoding
    * transactions: BEGIN, key-only DELETEs and typed column tokens, COMMIT.
    * Line LSNs keep the events' order; `ev_lsn` is the event a line came from. */
  private def walLines(events: DataFrame): DataFrame = {
    val eid = col(ChangeEvent.LSN)
    val xid = col(ChangeEvent.TXN_ID)
    val isDel = col(ChangeEvent.OP) === ChangeEvent.DELETE
    val rest = concat(
      lit("doc_id[character varying]:'"), col(ChangeEvent.DOC_ID), lit("'"),
      when(isDel, lit("")).otherwise(concat(
        lit(" tokens[integer[]]:'{"),
        array_join(col("tokens").cast("array<string>"), ","), lit("}'"),
        lit(" n_tok[integer]:"), col("n_tok").cast("string"),
        lit(" source[character varying]:'"), col("source"), lit("'"))))
    val dml = events.select((eid * 10 + 5).as("lsn"), xid.as("xid"),
      concat(lit("table corpus.documents: "), col(ChangeEvent.OP), lit(": "), rest)
        .as("data"), eid.as("ev_lsn"))
    val txns = events.groupBy(xid.as("xid")).agg(min(eid).as("ev_lsn"))
    val begins = txns.select((col("xid") * 50).as("lsn"), col("xid"),
      concat(lit("BEGIN "), col("xid")).as("data"), col("ev_lsn"))
    val commits = txns.select((col("xid") * 50 + 49).as("lsn"), col("xid"),
      concat(lit("COMMIT "), col("xid")).as("data"), col("ev_lsn"))
    dml.unionByName(begins).unionByName(commits)
  }

  /** Keys the lookups probe: touched keys, picked by a seeded hash order. */
  private def writeKeys(events: DataFrame, seed: Long, dir: String): Unit = {
    val keys = events.select(ChangeEvent.DOC_ID).distinct()
      .orderBy(xxhash64(col(ChangeEvent.DOC_ID), lit(seed)))
      .limit(LookupKeys).collect().map(_.getString(0))
    Files.write(Paths.get(dir, "keys.txt"), keys.mkString("\n").getBytes("UTF-8"))
  }

  private def readKeys(dir: String): Seq[String] =
    new String(Files.readAllBytes(Paths.get(dir, "keys.txt")), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty)

  /** Build `dir` once: generate into a sibling temp dir and rename it into
    * place, so an interrupted run never leaves a half-written input set. */
  private def cached(cache: String, dir: String)(gen: String => Unit): Unit = {
    val target = Paths.get(dir)
    if (Files.isDirectory(target)) {
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      return
    }
    Files.createDirectories(Paths.get(cache))
    val tmp = Paths.get(s"$dir.tmp-${System.nanoTime()}")
    try {
      gen(tmp.toString)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Fs.rm(tmp)
    val sets = new java.io.File(cache).listFiles().filter(_.isDirectory)
      .sortBy(-_.lastModified())
    sets.drop(KeepCached).foreach(f => Fs.rm(f.toPath))
  }
}
