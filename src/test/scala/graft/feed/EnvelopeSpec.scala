package graft.feed

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.model._
import graft.runner.{CdcRunner, RunnerConfig}

/** Queue-envelope wire format (the reference's RabbitMQ message shape,
  * CDCManager.py:188-278): producer serialization → JSON-lines "bus" →
  * streaming parse → merge, replay-equal to the direct feed. */
class EnvelopeSpec extends SparkSpec {

  private val payload = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("n_tok", IntegerType),
    StructField("source", StringType)))

  private val payloadWithTokens = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("tokens", ArrayType(IntegerType)),
    StructField("n_tok", IntegerType),
    StructField("source", StringType)))

  test("round-trip: events → envelope messages → parse == original (arrival order)") {
    val events = ChangeFeed.events(spark,
      ChangeFeed.FeedSpec(nEvents = 500, nDocs = 100))
      .select("lsn", "txn_id", "ts", "op", "schema_ver", "doc_id", "tokens", "n_tok", "source")
    val messages = EnvelopeSource.toMessages(events, "corpus", "documents",
      batchSize = 64)
    // producer page numbering is distributed (range partition + zipWithIndex):
    // a whole-feed window would single-partition the producer at scale
    val producerPlan = messages.queryExecution.executedPlan.toString
    assert(!producerPlan.contains("Window"),
      s"no global row_number window in the producer plan:\n$producerPlan")
    assert(messages.count() == 8, "500 ops / 64 per page = 8 messages")
    val parsed = EnvelopeSource.parseForTable(messages, payloadWithTokens,
      "corpus", "documents")
    // arrival order preserved: parsed lsn is monotone in original lsn;
    // tokens round-trip through the PG array-literal wire format
    val pairs = parsed.orderBy("lsn")
      .select("doc_id", "op", "tokens", "n_tok", "source").collect().map(_.toString)
    val want = events.orderBy("lsn")
      .select("doc_id", "op", "tokens", "n_tok", "source").collect().map(_.toString)
    assert(pairs.sameElements(want), "ops replay in arrival order with typed values")
    assert(parsed.select("txn_id").distinct().count() == 1)
  }

  test("string-array payloads round-trip: elements with commas, quotes and " +
    "backslashes survive the envelope wire (PG-quoted literal form)") {
    val schema = StructType(Seq(
      StructField("lsn", LongType), StructField("txn_id", LongType),
      StructField("ts", TimestampType), StructField("op", StringType),
      StructField("schema_ver", IntegerType),
      StructField("doc_id", StringType),
      StructField("tags", ArrayType(StringType))))
    val ts0 = new java.sql.Timestamp(1700000000000L)
    val rows = Seq(
      Row(1L, 1L, ts0, "INSERT", 1, "d-1", Seq("a,b", "plain", "q\"x", "b\\s")),
      Row(2L, 1L, ts0, "INSERT", 1, "d-2", Seq.empty[String]),
      Row(3L, 1L, ts0, "INSERT", 1, "d-3", null))
    val events = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val messages = EnvelopeSource.toMessages(events, "corpus", "t", batchSize = 10)
    val pl = StructType(Seq(
      StructField("doc_id", StringType), StructField("tags", ArrayType(StringType))))
    val back = EnvelopeSource.parseForTable(messages, pl, "corpus", "t")
      .orderBy("lsn").select("doc_id", "tags").collect()
    assert(back(0).getAs[scala.collection.Seq[String]]("tags") ==
      Seq("a,b", "plain", "q\"x", "b\\s"),
      s"unquoted join would split 'a,b': ${back(0)}")
    assert(back(1).getAs[scala.collection.Seq[String]]("tags") == Seq.empty[String])
    assert(back(2).isNullAt(1), "null array stays null")
  }

  test("kafka-shaped frame (binary value + broker metadata) shares the parse") {
    val events = ChangeFeed.events(spark,
      ChangeFeed.FeedSpec(nEvents = 200, nDocs = 50))
      .select("lsn", "txn_id", "ts", "op", "schema_ver", "doc_id", "n_tok", "source")
    val messages = EnvelopeSource.toMessages(events, "corpus", "documents",
      batchSize = 50)
    // shape a kafka source batch: binary key/value + topic/partition/offset/ts
    val kafkaShaped = messages.select(
      lit(null).cast(BinaryType).as("key"),
      col("value").cast(BinaryType).as("value"),
      lit("graft-cdc").as("topic"),
      lit(0).as("partition"),
      monotonically_increasing_id().as("offset"),
      current_timestamp().as("timestamp"),
      lit(0).as("timestampType"))
    val viaKafka = EnvelopeSource
      .parseKafkaForTable(kafkaShaped, payload, "corpus", "documents")
      .orderBy("lsn").collect().map(_.toString)
    val direct = EnvelopeSource
      .parseForTable(messages, payload, "corpus", "documents")
      .orderBy("lsn").collect().map(_.toString)
    assert(viaKafka.sameElements(direct), "kafka value decode == text-bus parse")
    // the sandbox has no connector jar: the entry point must gate loudly
    if (!graft.runner.CdcRunner.kafkaConnectorPresent) {
      val e = intercept[IllegalArgumentException] {
        graft.runner.CdcRunner.startFromKafka(spark,
          RunnerConfig("/tmp/nofeed", "/tmp/notable", "/tmp/nocp", payloadSchema = payload),
          "localhost:9092", "graft-cdc", "corpus", "documents")
      }
      assert(e.getMessage.contains("spark-sql-kafka"))
    }
  }

  test("packed-LSN field budgets are enforced, not silently bled into") {
    def msg(createdAt: Long, page: Int): String =
      s"""{"source_database_type":"postgresql","transaction_id":"t1",""" +
        s""""created_at":$createdAt,"batch_page":$page,"batch_size":1,""" +
        s""""operations":[{"schema_name":"s","table_name":"t","operation":"insert",""" +
        s""""columns":[{"name":"doc_id","type":"varchar","value":"d-1"}]}]}"""
    val pl = StructType(Seq(StructField("doc_id", StringType)))
    def parseOne(j: String) = {
      import spark.implicits._
      EnvelopeSource.parse(Seq(j).toDF("value"), pl).select("lsn").collect()
    }
    // in budget: fine
    assert(parseOne(msg(1700000000L, 3)).length == 1)
    // page ≥ 64 would corrupt the txn-hash bits; created_at past 2088 (or the
    // pre-2020 base) would overflow the seconds field — both must fail loudly
    intercept[Exception](parseOne(msg(1700000000L, 64)))
    intercept[Exception](parseOne(msg(1500000000L, 0)))
    intercept[Exception](parseOne(msg(1577836800L + (1L << 31), 0)))
  }

  test("duplicate and null column names in one operation parse last-wins " +
    "instead of wedging the stream on DUPLICATE_MAP_KEY") {
    // a PK update's old+new value (same name twice) or a corrupt null-name
    // entry used to make map_from_entries throw under Spark's default dedup
    // policy — failing the micro-batch and re-failing it on every checkpoint
    // replay. Same last-wins contract as the WAL tuple parse.
    val j =
      s"""{"source_database_type":"postgresql","transaction_id":"t1",""" +
        s""""created_at":1700000000,"batch_page":0,"batch_size":1,""" +
        s""""operations":[{"schema_name":"s","table_name":"t","operation":"update",""" +
        s""""columns":[{"name":"doc_id","type":"varchar","value":"d-old"},""" +
        s"""{"name":null,"type":"varchar","value":"corrupt"},""" +
        s"""{"name":"n_tok","type":"integer","value":"7"},""" +
        s"""{"name":"doc_id","type":"varchar","value":"d-new"}]}]}"""
    val pl = StructType(Seq(
      StructField("doc_id", StringType), StructField("n_tok", IntegerType)))
    import spark.implicits._
    val rows = EnvelopeSource.parse(Seq(j).toDF("value"), pl).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("doc_id") == "d-new",
      "LAST occurrence wins, like the reference's dict building")
    assert(rows(0).getAs[Int]("n_tok") == 7)
  }

  test("stats manifest survives a table name carrying JSON-hostile chars") {
    val root = tmpDir("graft-env-jsonesc")
    val events = ChangeFeed.events(spark,
      ChangeFeed.FeedSpec(nEvents = 5, nDocs = 3))
      .select("lsn", "txn_id", "ts", "op", "schema_ver", "doc_id", "n_tok", "source")
    // a quote+backslash name interpolated raw would write invalid JSON and
    // permanently break every later producerStats/deliveryGap parse
    val stats = EnvelopeSource.writeFeed(events, s"$root/bus", "s",
      """we"ird\tbl""", batchSize = 5)
    assert(stats.pages == 1L && stats.ops == 5L)
    val read = EnvelopeSource.producerStats(s"$root/bus", "s", """we"ird\tbl""")
    assert(read.contains(stats), s"round-trip: $read vs $stats")
  }

  test("e2e: envelope bus feed → streaming parse → upsert merge == direct pipeline") {
    val root = tmpDir("graft-env-e2e")
    val events = ChangeFeed.events(spark,
      ChangeFeed.FeedSpec(nEvents = 400, nDocs = 80))
      .select("lsn", "txn_id", "ts", "op", "schema_ver", "doc_id", "n_tok", "source")
    EnvelopeSource.toMessages(events, "corpus", "documents", batchSize = 100)
      .coalesce(1).write.text(s"$root/bus")

    val cfg = RunnerConfig(
      feedDir = s"$root/bus", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 4),
      payloadSchema = payload)
    val listeners = spark.streams.listListeners().toSeq
    CdcRunner.startFromEnvelopes(spark, cfg, "corpus", "documents").awaitTermination()
    // the launch registers no session listener and writes no progress files
    assert(spark.streams.listListeners().toSeq == listeners)
    assert(!new java.io.File(s"${cfg.tableDir}/metrics").exists())

    val state = new graft.lake.LakeTable(cfg.tableDir).read(spark)
      .select("doc_id", "n_tok", "source").collect().map(_.toString).sorted
    // oracle: plain LWW fold over the original events in lsn order
    val expected = events.orderBy("lsn").collect()
      .foldLeft(Map.empty[String, String]) { (m, r) =>
        val id = r.getAs[String]("doc_id")
        if (r.getAs[String]("op") == "DELETE") m - id
        else m + (id -> s"[$id,${r.getAs[Int]("n_tok")},${r.getAs[String]("source")}]")
      }.values.toArray.sorted
    assert(state.sameElements(expected))
  }

  test("a corrupt bus line survives parse, ROUTING and the LSN budget guard: " +
    "quarantined as unknown_op and counted — never crashed on, never vanished") {
    val root = tmpDir("graft-env-poison")
    val events = ChangeFeed.events(spark,
      ChangeFeed.FeedSpec(nEvents = 50, nDocs = 10))
      .select("lsn", "txn_id", "ts", "op", "schema_ver", "doc_id", "n_tok", "source")
    import spark.implicits._
    // a truncated message (connection cut mid-publish): from_json yields a
    // null struct — historically this row crashed packedLsn's budget guard
    // (NULL condition → raise_error branch) and, when that was bypassed,
    // silently fell out of the per-table routing filter (NULL route fields)
    EnvelopeSource.toMessages(events, "corpus", "documents", batchSize = 100)
      .union(Seq("""{"transaction_id": "t-77", "created""").toDF("value"))
      .coalesce(1).write.text(s"$root/bus")
    val cfg = RunnerConfig(
      feedDir = s"$root/bus", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 2),
      payloadSchema = payload)
    CdcRunner.startFromEnvelopes(spark, cfg, "corpus", "documents").awaitTermination()
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    val q = lake.quarantine(spark).collect()
    assert(q.length == 1, s"exactly the poison row quarantines: ${q.toSeq}")
    assert(q(0).getAs[String](graft.apply.MergeApply.QUARANTINE_REASON)
      .startsWith("unknown_op"), q(0).toString)
    // the delivery audit counts it: 50 real ops + 1 marker row
    assert(lake.manifest.metrics("events_received") == 51L)
  }

  test("a key-less DELETE on the envelope wire is dropped like the WAL path's " +
    "(no-tuple-data) — no phantom null-key tombstone reaches the lake") {
    val root = tmpDir("graft-env-nullkey")
    val schema = StructType(Seq(
      StructField("lsn", LongType), StructField("txn_id", LongType),
      StructField("ts", TimestampType), StructField("op", StringType),
      StructField("schema_ver", IntegerType),
      StructField("doc_id", StringType),
      StructField("n_tok", IntegerType), StructField("source", StringType)))
    val ts0 = new java.sql.Timestamp(1700000000000L)
    val events = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, 1L, ts0, "INSERT", 1, "d-1", 3, "web"),
      // the reference's (no-tuple-data) DELETE arrives on the bus as an
      // operation with no key columns at all
      Row(2L, 1L, ts0, "DELETE", 1, null, null, null)), 1), schema)
    EnvelopeSource.toMessages(events, "corpus", "documents", batchSize = 10)
      .coalesce(1).write.text(s"$root/bus")
    val cfg = RunnerConfig(
      feedDir = s"$root/bus", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 2),
      payloadSchema = payload)
    CdcRunner.startFromEnvelopes(spark, cfg, "corpus", "documents").awaitTermination()
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    assert(lake.read(spark).select("doc_id").collect().map(_.getString(0)).toSeq
      == Seq("d-1"))
    assert(lake.readState(spark, lake.currentVersion)
      .filter(col("doc_id").isNull).count() == 0,
      "no null-key tombstone in the engine state")
  }

  test("producer page manifests: deliveryGap 0 on a clean run, positive after " +
    "a dropped page file") {
    def events(n: Int, startLsn: Long) = ChangeFeed.events(spark,
        ChangeFeed.FeedSpec(nEvents = n, nDocs = 60, startLsn = startLsn))
      .select("lsn", "txn_id", "ts", "op", "schema_ver", "doc_id", "n_tok", "source")
    def run(bus: String, tableDir: String, cp: String): graft.lake.LakeTable = {
      val cfg = RunnerConfig(feedDir = bus, tableDir = tableDir, checkpointDir = cp,
        job = JobConfig(mode = CdcMode.Upsert, buckets = 4), payloadSchema = payload)
      CdcRunner.startFromEnvelopes(spark, cfg, "corpus", "documents").awaitTermination()
      new graft.lake.LakeTable(tableDir)
    }
    // clean delivery: producer manifests sum == consumer events_received
    val rootA = tmpDir("graft-env-delivery")
    val busA = s"$rootA/bus"
    val sA = EnvelopeSource.writeFeed(events(300, 1), busA, "corpus", "documents", 100)
    EnvelopeSource.writeFeed(events(100, 301), busA, "corpus", "documents", 100)
    assert(sA == EnvelopeSource.ProducerStats(3, 300))
    val lakeA = run(busA, s"$rootA/table", s"$rootA/cp")
    assert(lakeA.manifest.metrics("events_received") == 400L)
    assert(EnvelopeSource.deliveryGap(lakeA, busA, "corpus", "documents").contains(0L))
    // the same audit from the no-code CLI verb
    val gapConf = java.nio.file.Files.createTempFile("graft-gap", ".json")
    java.nio.file.Files.writeString(gapConf,
      """{"schema_name": "corpus", "table_name": "documents"}""")
    val gapRow = graft.JobMain.runOp(spark, Seq("--op", "delivery_gap",
      "--table", s"$rootA/table", "--in", busA, "--config", gapConf.toString)).head()
    assert(gapRow.getAs[Boolean]("clean") && gapRow.getAs[Long]("gap_events") == 0L)
    // cross-publish LSN ordering: each writeFeed advances the capture second,
    // so the second publish's packed LSNs rank AFTER the first's — a collision
    // (same created_at, page numbering restarting at 0) would make later
    // updates of the same doc silently lose the LWW gate
    val stateA = lakeA.read(spark)
      .select("doc_id", "n_tok", "source").collect().map(_.toString).sorted
    val oracleA = events(300, 1).unionAll(events(100, 301)).orderBy("lsn").collect()
      .foldLeft(Map.empty[String, String]) { (m, r) =>
        val id = r.getAs[String]("doc_id")
        if (r.getAs[String]("op") == "DELETE") m - id
        else m + (id -> s"[$id,${r.getAs[Int]("n_tok")},${r.getAs[String]("source")}]")
      }.values.toArray.sorted
    assert(stateA.sameElements(oracleA), "two-publish feed folds in publish order")
    // and the wire budget is enforced at publish time, not at consumer crash time
    intercept[IllegalArgumentException](
      EnvelopeSource.writeFeed(events(10, 900), busA, "corpus", "documents",
        batchSize = 2000))

    // in-transit loss: one published page file never reaches the consumer —
    // lineage-only reconcile cannot see it, the producer diff can
    val rootB = tmpDir("graft-env-dropped")
    val busB = s"$rootB/bus"
    EnvelopeSource.writeFeed(events(300, 1), busB, "corpus", "documents", 100)
    def msgFiles = new java.io.File(busB).listFiles()
      .filter(f => f.getName.endsWith(".txt") && !f.getName.startsWith("_")).toSet
    val before = msgFiles
    EnvelopeSource.writeFeed(events(100, 301), busB, "corpus", "documents", 100)
    val added = msgFiles -- before
    assert(added.nonEmpty && added.forall(_.delete()), "drop the second publish")
    val lakeB = run(busB, s"$rootB/table", s"$rootB/cp")
    assert(lakeB.reconcile().ok, "consumer-side lineage audit sees nothing wrong")
    assert(EnvelopeSource.deliveryGap(lakeB, busB, "corpus", "documents").contains(100L),
      "the producer diff flags exactly the dropped page's ops")
  }

  test("writeFeed capture-second derivation survives deleted stats manifests " +
    "and direct toMessages publishes; batchSize=0 fails with the budget message") {
    import org.apache.spark.sql.functions.col
    def events(n: Int, startLsn: Long) = ChangeFeed.events(spark,
        ChangeFeed.FeedSpec(nEvents = n, nDocs = 30, startLsn = startLsn))
      .select("lsn", "txn_id", "ts", "op", "schema_ver", "doc_id", "n_tok", "source")
    val root = tmpDir("graft-env-created")
    val bus = s"$root/bus"
    // publish 1 via writeFeed, then DELETE its stats manifest (operator mishap)
    EnvelopeSource.writeFeed(events(50, 1), bus, "corpus", "documents", 100)
    val stats = new java.io.File(bus).listFiles()
      .filter(_.getName.startsWith("_stats-"))
    assert(stats.nonEmpty && stats.forall(_.delete()))
    // publish 2 via toMessages DIRECTLY (same bus, no manifest at all)
    EnvelopeSource.toMessages(events(50, 101), "corpus", "documents", 100,
        createdAt = 1700000100L)
      .coalesce(1).write.mode("append").text(bus)
    // publish 3 via writeFeed again: must derive a FRESH capture second from
    // the message pages themselves — a manifest-count scheme would reuse
    // 1700000000 and collide with publish 1's packed LSNs
    EnvelopeSource.writeFeed(events(50, 201), bus, "corpus", "documents", 100)
    val parsed = EnvelopeSource.parseForTable(
      spark.read.text(bus).withColumnRenamed("value", "value"),
      payload, "corpus", "documents")
    val lsns = parsed.select("lsn").collect().map(_.getLong(0))
    assert(lsns.length == 150, "all three publishes parse")
    assert(lsns.distinct.length == 150, "no packed-LSN collision across publishes")
    // the third publish ranks after the second (capture seconds advance)
    val createdSecs = parsed.select((col("lsn") / 4294967296L).cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(createdSecs.length == 3, s"three distinct capture seconds: ${createdSecs.toSeq}")

    // batchSize=0: loud budget error BEFORE any Spark job, not a /0 crash
    val e = intercept[IllegalArgumentException](
      EnvelopeSource.writeFeed(events(10, 900), bus, "corpus", "documents", 0))
    assert(e.getMessage.contains("1..1024"))
  }

  test("rename registry + v1-only first batch: pre-evolution values survive") {
    // Every batch before the first v2 row arrives contains only v1 rows. The
    // versioned parse folds them to the LATEST column names (source→origin),
    // so the lake must evolve eagerly at stream start — otherwise StoredRows.align
    // null-fills `origin` and all pre-evolution source values commit as NULL.
    import graft.lake.{AddColumn, RenameColumn}
    def msg(createdAt: Long, ops: String): String =
      s"""{"source_database_type":"postgresql","transaction_id":"t$createdAt",""" +
        s""""created_at":$createdAt,"batch_page":0,"batch_size":10,""" +
        s""""operations":[$ops]}"""
    def op(operation: String, cols: (String, String)*): String =
      s"""{"schema_name":"corpus","table_name":"documents","operation":"$operation",""" +
        s""""columns":[${cols.map { case (n, v) =>
          s"""{"name":"$n","type":"varchar","value":"$v"}""" }.mkString(",")}]}"""
    val v1Only = msg(1700000000L,
      op("insert", "doc_id" -> "d-1", "n_tok" -> "2", "source" -> "web") + "," +
        op("insert", "doc_id" -> "d-2", "n_tok" -> "1", "source" -> "code"))
    val registry = Map(2 -> Seq(
      AddColumn("lang", StringType),
      RenameColumn("source", "origin")))
    val root = tmpDir("graft-env-v1only")
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "bus-0.jsonl"),
      v1Only.getBytes)
    val cfg = RunnerConfig(
      feedDir = root, tableDir = s"$root-table", checkpointDir = s"$root-cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 4),
      payloadSchema = payload, schemaRegistry = registry)
    CdcRunner.startFromEnvelopes(spark, cfg, "corpus", "documents").awaitTermination()
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    val afterV1 = lake.read(spark).collect().sortBy(_.getAs[String]("doc_id"))
    assert(afterV1.map(_.getAs[String]("origin")).toSeq == Seq("web", "code"),
      "v1 source values land in the renamed column, not NULL")
    // a later v2 batch continues cleanly on the already-evolved lake
    val v2 = msg(1700000001L,
      op("update", "doc_id" -> "d-1", "n_tok" -> "3",
        "origin" -> "v2-web", "lang" -> "en"))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "bus-1.jsonl"), v2.getBytes)
    CdcRunner.startFromEnvelopes(spark, cfg, "corpus", "documents").awaitTermination()
    val state = lake.read(spark).collect().sortBy(_.getAs[String]("doc_id"))
    assert(state.map(_.getAs[String]("origin")).toSeq == Seq("v2-web", "code"))
    assert(state(0).getAs[String]("lang") == "en" &&
      state(1).isNullAt(state(1).fieldIndex("lang")))
  }

  test("registry renaming the MERGE KEY: wire stream follows the rename " +
    "(config keys track the latest parse shape)") {
    import graft.lake.RenameColumn
    def msg(createdAt: Long, ops: String): String =
      s"""{"source_database_type":"postgresql","transaction_id":"t$createdAt",""" +
        s""""created_at":$createdAt,"batch_page":0,"batch_size":10,""" +
        s""""operations":[$ops]}"""
    def op(operation: String, cols: (String, String)*): String =
      s"""{"schema_name":"corpus","table_name":"documents","operation":"$operation",""" +
        s""""columns":[${cols.map { case (n, v) =>
          s"""{"name":"$n","type":"varchar","value":"$v"}""" }.mkString(",")}]}"""
    val lines = Seq(
      // v1 rows name the key doc_id…
      msg(1700000000L,
        op("insert", "doc_id" -> "d-1", "n_tok" -> "2", "source" -> "web")),
      // …v2 rows name it document_id; the parse folds both to document_id
      msg(1700000001L,
        op("update", "document_id" -> "d-1", "n_tok" -> "5", "source" -> "v2") + "," +
          op("delete", "document_id" -> "d-1")))
    val registry = Map(2 -> Seq(RenameColumn("doc_id", "document_id")))
    val root = tmpDir("graft-env-keyrename")
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "bus.jsonl"),
      lines.mkString("\n").getBytes)
    val cfg = RunnerConfig(
      feedDir = root, tableDir = s"$root-table", checkpointDir = s"$root-cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 4, keyCols = Seq("doc_id")),
      payloadSchema = payload, schemaRegistry = registry)
    // pre-fix this crashed with AnalysisException: groupBy on stale 'doc_id'
    CdcRunner.startFromEnvelopes(spark, cfg, "corpus", "documents").awaitTermination()
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    assert(lake.manifest.keyCols == Seq("document_id"), "lake key renamed")
    assert(lake.read(spark).isEmpty, "insert then update then delete folds to empty")
    assert(lake.manifest.metrics("applied_deletes") == 1L)
  }

  test("mixed-version messages parse in ONE stream and evolve the lake mid-batch") {
    import graft.lake.{AddColumn, RenameColumn, WidenColumn}
    import graft.model._
    import graft.runner.{CdcRunner, RunnerConfig}
    def msg(createdAt: Long, ops: String): String =
      s"""{"source_database_type":"postgresql","transaction_id":"t$createdAt",""" +
        s""""created_at":$createdAt,"batch_page":0,"batch_size":10,""" +
        s""""operations":[$ops]}"""
    def op(operation: String, cols: (String, String)*): String =
      s"""{"schema_name":"corpus","table_name":"documents","operation":"$operation",""" +
        s""""columns":[${cols.map { case (n, v) =>
          s"""{"name":"$n","type":"varchar","value":"$v"}""" }.mkString(",")}]}"""
    // v1 generation then a v2 generation one capture-second later, one feed
    val lines = Seq(
      msg(1700000000L,
        op("insert", "doc_id" -> "d-1", "n_tok" -> "2", "source" -> "web") + "," +
          op("insert", "doc_id" -> "d-2", "n_tok" -> "1", "source" -> "code")),
      msg(1700000001L,
        op("update", "doc_id" -> "d-2", "n_tok" -> "5000000000",
          "origin" -> "v2-code", "lang" -> "de") + "," +
          op("insert", "doc_id" -> "d-3", "n_tok" -> "7",
            "origin" -> "v2-books", "lang" -> "fr")))
    val basePayload = StructType(Seq(
      StructField("doc_id", StringType),
      StructField("n_tok", IntegerType),
      StructField("source", StringType)))
    val registry = Map(2 -> Seq(
      AddColumn("lang", StringType),
      RenameColumn("source", "origin"),
      WidenColumn("n_tok", LongType)))

    // parse level: per-row version + latest shape
    import spark.implicits._
    val parsed = EnvelopeSource.parseVersionedForTable(
        lines.toDF("value"), basePayload, registry, "corpus", "documents")
      .collect().sortBy(_.getAs[Long]("lsn"))
    assert(parsed.map(_.getAs[Int]("schema_ver")).toSeq == Seq(1, 1, 2, 2))
    assert(parsed(0).getAs[String]("origin") == "web", "v1 source folds into origin")
    assert(parsed(2).getAs[Long]("n_tok") == 5000000000L)

    // e2e: one streaming run, registry-driven mid-batch evolution
    val root = tmpDir("graft-env-evo")
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "bus.jsonl"),
      lines.mkString("\n").getBytes)
    val cfg = RunnerConfig(
      feedDir = root, tableDir = s"$root-table", checkpointDir = s"$root-cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 4),
      payloadSchema = basePayload, schemaRegistry = registry)
    CdcRunner.startFromEnvelopes(spark, cfg, "corpus", "documents").awaitTermination()
    val state = new graft.lake.LakeTable(cfg.tableDir).read(spark)
      .collect().sortBy(_.getAs[String]("doc_id"))
    assert(state.map(_.getAs[String]("origin")).toSeq == Seq("web", "v2-code", "v2-books"))
    assert(state.map(_.getAs[Long]("n_tok")).toSeq == Seq(2L, 5000000000L, 7L))
    assert(state(0).isNullAt(state(0).fieldIndex("lang")) &&
      state(2).getAs[String]("lang") == "fr")
  }
}
