package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.model._
import graft.runner.MultiTableRunner
import graft.runner.MultiTableRunner.{Config, TablePayload}

/**
 * Multi-table task: reference-shaped settings.json (table routing, priority
 * order, per-table filters/transforms incl. rename + created column), one feed
 * demultiplexed into two lake tables — mirrors the reference's task contract
 * (task/settings.json shape; routing CDCManager.py:280-357).
 */
class MultiTableSpec extends SparkSpec {

  private val settingsJson =
    """{
      |  "task": {
      |    "task_name": "multi_test",
      |    "replication_type": "cdc",
      |    "start_mode": "reload",
      |    "cdc_settings": { "mode": "upsert" }
      |  },
      |  "error_handling": {
      |    "stop_if_insert_error": false, "stop_if_update_error": false,
      |    "stop_if_delete_error": false, "stop_if_upsert_error": false,
      |    "stop_if_scd2_error": false
      |  },
      |  "tables": [
      |    { "schema_name": "hr", "table_name": "employee", "priority": 0 },
      |    { "schema_name": "hr", "table_name": "department", "priority": 2 }
      |  ],
      |  "filters": [
      |    { "table_info": { "schema_name": "hr", "table_name": "employee" },
      |      "settings": { "filter_type": "equals", "column_name": "gender",
      |                    "description": "only F", "value": "F" } }
      |  ],
      |  "transformations": [
      |    { "table_info": { "schema_name": "hr", "table_name": "employee" },
      |      "settings": { "transformation_type": "modify_table_name",
      |        "description": "rename", "contract": { "target_table_name": "employee_f" },
      |        "priority": 0 } },
      |    { "table_info": { "schema_name": "hr", "table_name": "employee" },
      |      "settings": { "transformation_type": "modify_column_value",
      |        "description": "upper", "contract": { "operation": "uppercase",
      |        "column_name": "name" }, "priority": 1 } },
      |    { "table_info": { "schema_name": "hr", "table_name": "employee" },
      |      "settings": { "transformation_type": "create_column",
      |        "description": "stamp", "contract": { "operation": "literal",
      |        "new_column_name": "updated_by", "value_type": "varchar",
      |        "value": "SPARK" }, "priority": 2 } }
      |  ]
      |}""".stripMargin

  test("settings.json parses to the reference contract") {
    val p = TaskSettings.parse(settingsJson)
    assert(p.taskName == "multi_test")
    assert(p.cdcMode == CdcMode.Upsert)
    assert(p.tables.map(_.id) == Seq("hr.employee", "hr.department")) // priority order
    assert(p.tables.head.filters.head.filterType == "equals")
    assert(p.tables.head.transforms.size == 3)
    assert(!p.errorPolicy.stopOnInsertError)
  }

  test("settings validation fails fast: rules bound to undeclared tables, " +
    "and schema_versions keyed 1 (the base IS version 1)") {
    // a typo'd table_info used to parse fine and run the stream UNFILTERED
    val orphan = settingsJson.replace(
      """"table_info": { "schema_name": "hr", "table_name": "employee" },
      |      "settings": { "filter_type": "equals"""".stripMargin,
      """"table_info": { "schema_name": "hr", "table_name": "employe" },
      |      "settings": { "filter_type": "equals"""".stripMargin)
    val e = intercept[IllegalArgumentException](TaskSettings.parse(orphan))
    assert(e.getMessage.contains("hr.employe"), e.getMessage)
    // schema_versions keys are the EVENT's schema_ver: a "1" key evolves the
    // lake while the wire parse ignores it — every added column null forever
    val v1 =
      """{ "task": { "task_name": "t", "replication_type": "cdc",
        |  "schema_versions": { "1": [ { "change_type": "add_column",
        |    "column_name": "c2", "data_type": "varchar" } ] } },
        |  "tables": [ { "schema_name": "s", "table_name": "t" } ] }""".stripMargin
    val e2 = intercept[IllegalArgumentException](TaskSettings.parse(v1))
    assert(e2.getMessage.contains("versions start at 2"), e2.getMessage)
    // typo'd free-string enums used to pass silently: "full-load" skipped
    // the snapshot AND tailed CDC onto a base-less table; "Reload" quietly
    // behaved as continue
    val badType = """{ "task": { "task_name": "t", "replication_type": "full-load" },
      |  "tables": [ { "schema_name": "s", "table_name": "t" } ] }""".stripMargin
    val e3 = intercept[IllegalArgumentException](TaskSettings.parse(badType))
    assert(e3.getMessage.contains("replication_type"), e3.getMessage)
    val badStart = """{ "task": { "task_name": "t", "replication_type": "cdc",
      |  "start_mode": "Reload" },
      |  "tables": [ { "schema_name": "s", "table_name": "t" } ] }""".stripMargin
    val e4 = intercept[IllegalArgumentException](TaskSettings.parse(badStart))
    assert(e4.getMessage.contains("start_mode"), e4.getMessage)
  }

  test("cdc_settings engine knobs: buckets + auto-compaction cadence parse " +
    "from settings.json and drive the runner") {
    val json =
      """{
        |  "task": { "task_name": "knobs", "replication_type": "cdc",
        |    "cdc_settings": { "mode": "upsert", "merge_strategy": "merge_on_read",
        |      "buckets": 2, "auto_compact_every_epochs": 2,
        |      "auto_compact_max_delta_files": 1 } },
        |  "tables": [ { "schema_name": "hr", "table_name": "employee" } ]
        |}""".stripMargin
    val settings = TaskSettings.parse(json)
    assert(settings.buckets == 2 && settings.autoCompactEveryEpochs == 2 &&
      settings.autoCompactMaxDeltaFiles == 1)
    val root = tmpDir("graft-multi-knobs")
    val payloads = Map("hr.employee" -> TablePayload(StructType(Seq(
      StructField("emp_id", StringType), StructField("name", StringType))), Seq("emp_id")))
    val cfg = Config(feedDir = s"$root/feed", lakeRoot = s"$root/lake",
      checkpointDir = s"$root/cp", settings = settings, payloads = payloads,
      maxFilesPerTrigger = 1)
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    def emp(lsn: Long, id: String, name: String) =
      Row(lsn, lsn, ts(lsn), "INSERT", 1, "hr", "employee", id, name)
    val schema = StructType(ChangeEvent.envelopeFields ++ Seq(
      StructField("schema_name", StringType), StructField("table_name", StringType),
      StructField("emp_id", StringType), StructField("name", StringType)))
    // 4 single-row feed files → 4 epochs at maxFilesPerTrigger=1; cadence 2
    // fires compaction after epochs 1 and 3
    (0 until 4).foreach { i =>
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(emp(i + 1, s"e$i", s"n$i")), 1), schema)
        .write.mode("append").parquet(s"$root/feed")
    }
    val jobs = MultiTableRunner.runAvailableNow(spark, cfg)
    val lake = jobs.head.lake
    val m = lake.manifest
    assert(m.buckets == 2, "settings.json buckets reached the lake table")
    assert(m.metrics.getOrElse("compactions", 0L) >= 1L,
      s"auto-compaction cadence fired: ${m.metrics}")
    assert(!m.hasDeltas, "merge-on-read deltas folded by the cadence")
    assert(lake.read(spark).count() == 4)
  }

  test("two tables renamed onto one target are rejected (shared lake dir " +
    "would race concurrent merges)") {
    val json =
      """{
        |  "task": { "task_name": "collide", "replication_type": "cdc",
        |    "cdc_settings": { "mode": "upsert" } },
        |  "tables": [
        |    { "schema_name": "hr", "table_name": "a", "priority": 0 },
        |    { "schema_name": "hr", "table_name": "b", "priority": 0 } ],
        |  "transformations": [
        |    { "table_info": { "schema_name": "hr", "table_name": "a" },
        |      "settings": { "transformation_type": "modify_table_name",
        |        "description": "r", "contract": { "target_table_name": "x" },
        |        "priority": 0 } },
        |    { "table_info": { "schema_name": "hr", "table_name": "b" },
        |      "settings": { "transformation_type": "modify_table_name",
        |        "description": "r", "contract": { "target_table_name": "x" },
        |        "priority": 0 } }
        |  ]
        |}""".stripMargin
    val payload = TablePayload(StructType(Seq(
      StructField("id", StringType))), Seq("id"))
    val cfg = Config(
      feedDir = "unused", lakeRoot = tmpDir("graft-multi-collide") + "/lake",
      checkpointDir = "unused-cp", settings = TaskSettings.parse(json),
      payloads = Map("hr.a" -> payload, "hr.b" -> payload), buckets = 2)
    val e = intercept[IllegalArgumentException](
      MultiTableRunner.ensureTables(spark, cfg))
    assert(e.getMessage.contains("same target"))
  }

  test("one feed routes into two lake tables with per-table rules") {
    val root = tmpDir("graft-multi")
    val settings = TaskSettings.parse(settingsJson)
    val payloads = Map(
      "hr.employee" -> TablePayload(StructType(Seq(
        StructField("emp_id", StringType), StructField("name", StringType),
        StructField("gender", StringType))), Seq("emp_id")),
      "hr.department" -> TablePayload(StructType(Seq(
        StructField("dept_id", StringType), StructField("dept_name", StringType))),
        Seq("dept_id")))
    val cfg = Config(
      feedDir = s"$root/feed", lakeRoot = s"$root/lake",
      checkpointDir = s"$root/cp", settings = settings, payloads = payloads,
      buckets = 4, maxFilesPerTrigger = 8)

    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    // envelope + schema/table + union payload (emp_id,name,gender,dept_id,dept_name)
    def emp(lsn: Long, op: String, id: String, name: String, g: String) =
      Row(lsn, lsn, ts(lsn), op, 1, "hr", "employee",
        id, if (op == "DELETE") null else name, if (op == "DELETE") null else g,
        null, null)
    def dept(lsn: Long, op: String, id: String, dn: String) =
      Row(lsn, lsn, ts(lsn), op, 1, "hr", "department",
        null, null, null, id, if (op == "DELETE") null else dn)

    val rows = Seq(
      emp(1, "INSERT", "e1", "ada", "F"),
      emp(2, "INSERT", "e2", "bob", "M"),   // filtered out (gender != F)
      emp(3, "INSERT", "e3", "eve", "F"),
      emp(4, "UPDATE", "e1", "ada lovelace", "F"),
      emp(5, "DELETE", "e3", null, null),   // DELETE passes the filter by key
      dept(6, "INSERT", "d1", "research"),
      dept(7, "INSERT", "d2", "ops"),
      dept(8, "UPDATE", "d1", "r&d"),
      dept(9, "DELETE", "d2", null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), MultiTableRunner.feedSchema(cfg))
    // write via the LSN-ordered feed writer (binlog arrival contract)
    graft.feed.ChangeFeed.writeFeed(df, cfg.feedDir, 2)

    val listeners = spark.streams.listListeners().toSeq
    val jobs = MultiTableRunner.runAvailableNow(spark, cfg)
    assert(jobs.map(_.targetId) == Seq("hr.employee_f", "hr.department"))
    // the launch registers no session listener and writes no progress files,
    // neither at the run root nor in any routed table
    assert(spark.streams.listListeners().toSeq == listeners)
    (cfg.lakeRoot +: jobs.map(_.lake.dir)).foreach { d =>
      assert(!new java.io.File(s"$d/metrics").exists(), d)
    }

    val empState = jobs.head.lake.read(spark)
      .select("emp_id", "name", "gender", "updated_by")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getString(3))))
      .toMap
    // e1 upserted (uppercased, stamped), e2 filtered out, e3 deleted
    assert(empState.keySet == Set("e1"))
    assert(empState("e1") == (("ADA LOVELACE", "F", "SPARK")))

    val deptState = jobs(1).lake.read(spark)
      .select("dept_id", "dept_name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(deptState == Map("d1" -> "r&d"))

    // rename transform put the employee table under the target identity
    assert(new java.io.File(s"$root/lake/hr.employee_f/manifests").exists())
  }

  test("composite full load routes a multi-table snapshot per table (rules " +
    "applied, priority order, idempotent) before CDC starts") {
    val root = tmpDir("graft-multi-fl")
    val settings = TaskSettings.parse(settingsJson)
    val payloads = Map(
      "hr.employee" -> TablePayload(StructType(Seq(
        StructField("emp_id", StringType), StructField("name", StringType),
        StructField("gender", StringType))), Seq("emp_id")),
      "hr.department" -> TablePayload(StructType(Seq(
        StructField("dept_id", StringType), StructField("dept_name", StringType))),
        Seq("dept_id")))
    val cfg = Config(
      feedDir = s"$root/feed", lakeRoot = s"$root/lake",
      checkpointDir = s"$root/cp", settings = settings, payloads = payloads,
      buckets = 4)
    val jobs = MultiTableRunner.ensureTables(spark, cfg)

    // snapshot rows: routing cols + union payload (no envelope — a snapshot
    // is table state, not change events)
    val snapSchema = StructType(
      Seq(StructField("schema_name", StringType), StructField("table_name", StringType)) ++
        payloads("hr.employee").schema.fields ++ payloads("hr.department").schema.fields)
    def empS(id: String, name: String, g: String) =
      Row("hr", "employee", id, name, g, null, null)
    def deptS(id: String, dn: String) =
      Row("hr", "department", null, null, null, id, dn)
    val snap = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(empS("e1", "ada", "F"), empS("e2", "bob", "M"), deptS("d1", "research")), 2),
      snapSchema)

    MultiTableRunner.fullLoad(spark, jobs, snap)
    assert(jobs.forall(_.lake.isCommitted(-1L)), "every table's load committed")
    // employee: the gender=F filter and the uppercase/stamp transforms ran
    val emp = jobs.head.lake.read(spark)
      .select("emp_id", "name", "updated_by").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(emp == Map("e1" -> (("ADA", "SPARK"))), emp.toString)
    val dept = jobs(1).lake.read(spark)
      .select("dept_id", "dept_name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dept == Map("d1" -> "research"))

    // idempotent: a crash-retry re-load commits nothing twice
    MultiTableRunner.fullLoad(spark, jobs, snap)
    assert(jobs.head.lake.read(spark).count() == 1)
    assert(jobs(1).lake.read(spark).count() == 1)
  }

  test("auto-rescale policy fires on the multi-table path (same contract as " +
    "the single-table runner)") {
    val root = tmpDir("graft-multi-rescale")
    val settings = TaskSettings.parse(settingsJson)
    val payloads = Map(
      "hr.employee" -> TablePayload(StructType(Seq(
        StructField("emp_id", StringType), StructField("name", StringType),
        StructField("gender", StringType))), Seq("emp_id")),
      "hr.department" -> TablePayload(StructType(Seq(
        StructField("dept_id", StringType), StructField("dept_name", StringType))),
        Seq("dept_id")))
    val cfg = Config(
      feedDir = s"$root/feed", lakeRoot = s"$root/lake",
      checkpointDir = s"$root/cp", settings = settings, payloads = payloads,
      buckets = 4, maxFilesPerTrigger = 8)
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    val rows = Seq(
      Row(1L, 1L, ts(1), "INSERT", 1, "hr", "employee",
        "e1", "ada", "F", null, null),
      Row(2L, 2L, ts(2), "INSERT", 1, "hr", "department",
        null, null, null, "d1", "research"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), MultiTableRunner.feedSchema(cfg))
    val jobs = MultiTableRunner.ensureTables(spark, cfg)
    // 1-byte/bucket threshold: ANY live data crosses it, so the policy —
    // when actually invoked — doubles each table's bucket count. Before the
    // fix this batch left both tables at 4 buckets with no error (the knobs
    // were parsed and plumbed but processBatch never called autoRescale).
    MultiTableRunner.processBatch(spark, jobs,
      autoRescaleBytesPerBucket = 1L)(df, 0L)
    jobs.foreach { j =>
      assert(j.lake.manifest.buckets == 8,
        s"${j.targetId}: expected a 4→8 auto-rescale, got ${j.lake.manifest.buckets}")
    }
  }

  test("equal-priority tables apply concurrently with identical results") {
    val root = tmpDir("graft-multi-par")
    // same task, both tables in one priority class → parallel group
    val settings = TaskSettings.parse(settingsJson
      .replace("\"priority\": 0", "\"priority\": 1")
      .replace("\"priority\": 2", "\"priority\": 1"))
    assert(settings.tables.map(_.priority).distinct == Seq(1))
    val payloads = Map(
      "hr.employee" -> TablePayload(StructType(Seq(
        StructField("emp_id", StringType), StructField("name", StringType),
        StructField("gender", StringType))), Seq("emp_id")),
      "hr.department" -> TablePayload(StructType(Seq(
        StructField("dept_id", StringType), StructField("dept_name", StringType))),
        Seq("dept_id")))
    val cfg = Config(
      feedDir = s"$root/feed", lakeRoot = s"$root/lake",
      checkpointDir = s"$root/cp", settings = settings, payloads = payloads,
      buckets = 4, maxFilesPerTrigger = 8)
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    val rows = Seq(
      Row(1L, 1L, ts(1), "INSERT", 1, "hr", "employee", "e1", "ada", "F", null, null),
      Row(2L, 2L, ts(2), "INSERT", 1, "hr", "department", null, null, null, "d1", "research"),
      Row(3L, 3L, ts(3), "UPDATE", 1, "hr", "employee", "e1", "ada l", "F", null, null),
      Row(4L, 4L, ts(4), "UPDATE", 1, "hr", "department", null, null, null, "d1", "r&d"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), MultiTableRunner.feedSchema(cfg))
    graft.feed.ChangeFeed.writeFeed(df, cfg.feedDir, 1)
    val jobs = MultiTableRunner.runAvailableNow(spark, cfg)
    val emp = jobs.find(_.targetId == "hr.employee_f").get.lake.read(spark)
      .select("emp_id", "name").collect().map(r => (r.getString(0), r.getString(1)))
    val dept = jobs.find(_.targetId == "hr.department").get.lake.read(spark)
      .select("dept_id", "dept_name").collect().map(r => (r.getString(0), r.getString(1)))
    assert(emp.toSeq == Seq(("e1", "ADA L")))
    assert(dept.toSeq == Seq(("d1", "r&d")))
  }

  test("schema_versions in settings.json drive mid-stream lake evolution " +
    "(config-contract registry, reference task-settings shape)") {
    val root = tmpDir("graft-multi-evo")
    val evoJson =
      """{
        |  "task": {
        |    "task_name": "evo_test", "replication_type": "cdc",
        |    "start_mode": "continue",
        |    "cdc_settings": { "mode": "upsert" },
        |    "schema_versions": { "2": [
        |      { "change_type": "add_column", "column_name": "lang",
        |        "data_type": "varchar" },
        |      { "change_type": "rename_column", "column_name": "name",
        |        "target_column_name": "full_name" } ] }
        |  },
        |  "error_handling": {},
        |  "tables": [ { "schema_name": "hr", "table_name": "employee", "priority": 0 } ]
        |}""".stripMargin
    val settings = TaskSettings.parse(evoJson)
    assert(settings.schemaRegistry(2) == Seq(
      graft.lake.AddColumn("lang", StringType),
      graft.lake.RenameColumn("name", "full_name")))

    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    // stage 1: v1 feed (emp_id, name)
    val payloadsV1 = Map("hr.employee" -> TablePayload(StructType(Seq(
      StructField("emp_id", StringType), StructField("name", StringType))), Seq("emp_id")))
    val cfg1 = Config(feedDir = s"$root/feed", lakeRoot = s"$root/lake",
      checkpointDir = s"$root/cp", settings = settings, payloads = payloadsV1, buckets = 2)
    val v1Rows = Seq(
      Row(1L, 1L, ts(1), "INSERT", 1, "hr", "employee", "e1", "ada"),
      Row(2L, 2L, ts(2), "INSERT", 1, "hr", "employee", "e2", "bob"))
    graft.feed.ChangeFeed.writeFeed(spark.createDataFrame(
      spark.sparkContext.parallelize(v1Rows, 1), MultiTableRunner.feedSchema(cfg1)),
      cfg1.feedDir, 1)
    MultiTableRunner.runAvailableNow(spark, cfg1)

    // stage 2 (stream restart, evolved feed contract): v2 events carry the
    // renamed column + the added one; the registry evolves the lake mid-stream
    val payloadsV2 = Map("hr.employee" -> TablePayload(StructType(Seq(
      StructField("emp_id", StringType), StructField("full_name", StringType),
      StructField("lang", StringType))), Seq("emp_id")))
    val cfg2 = cfg1.copy(payloads = payloadsV2)
    val v2Rows = Seq(
      Row(3L, 3L, ts(3), "UPDATE", 2, "hr", "employee", "e1", "ada lovelace", "en"))
    graft.feed.ChangeFeed.writeFeed(spark.createDataFrame(
      spark.sparkContext.parallelize(v2Rows, 1), MultiTableRunner.feedSchema(cfg2)),
      cfg2.feedDir, 1, append = true)
    val jobs = MultiTableRunner.runAvailableNow(spark, cfg2)

    val lake = jobs.head.lake
    val schema = lake.manifest.currentSchema
    assert(schema.byName("full_name").isDefined && schema.byName("lang").isDefined &&
      schema.byName("name").isEmpty, s"evolved schema: ${schema.fields.map(_.name)}")
    val state = lake.read(spark).select("emp_id", "full_name", "lang")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(state("e1") == (("ada lovelace", "en")), "v2 update applied post-evolution")
    // v1-era row projects by field id: old `name` value under `full_name`, lang null
    assert(state("e2") == (("bob", null)))
  }

  test("examples/settings-lake-ops.json: the engine-extension keys parse " +
    "(change_feed, auto-compact, auto-rescale)") {
    val s = TaskSettings.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get("examples/settings-lake-ops.json")))
    assert(s.mergeStrategy == MergeStrategy.MergeOnRead)
    assert(s.buckets == 64 && s.changeFeed)
    assert(s.autoCompactEveryEpochs == 4 && s.autoCompactMaxDeltaFiles == 8)
    assert(s.autoRescaleBytesPerBucket == 1073741824L && s.autoRescaleMaxGroups == 4)
    // defaults when the keys are absent (the plain example)
    val d = TaskSettings.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get("examples/settings.json")))
    assert(!d.changeFeed && d.autoRescaleBytesPerBucket == 0L)
  }

  test("examples/settings.json drives full_load_and_cdc: load completes first, " +
    "then the continuous trigger tails at interval_seconds") {
    import graft.feed.ChangeFeed
    import graft.runner.{CdcRunner, RunnerConfig}
    val settings = TaskSettings.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get("examples/settings.json")))
    assert(settings.replicationType == "full_load_and_cdc")
    assert(settings.intervalSeconds == 5)
    assert(settings.mergeStrategy == MergeStrategy.CopyOnWrite)
    val table = settings.tables.head
    assert(table.filters.nonEmpty && table.transforms.nonEmpty)

    val root = tmpDir("graft-composite")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = settings.cdcMode, merge = settings.mergeStrategy,
        buckets = 4, filters = table.filters, transforms = table.transforms,
        errorPolicy = settings.errorPolicy, scdCols = settings.scdCols))

    // composite ordering (CompositeReplicationStrategy.py:8): the snapshot is
    // fully committed before the CDC tail starts
    val lake = CdcRunner.ensureTable(spark, cfg)
    CdcRunner.fullLoad(spark, lake, ChangeFeed.seedSnapshot(spark, 30), cfg)
    assert(lake.isCommitted(-1L) && lake.read(spark).count() > 0, "full load first")

    ChangeFeed.writeFeed(
      ChangeFeed.events(spark, ChangeFeed.FeedSpec(nEvents = 200, nDocs = 60)),
      cfg.feedDir, nFiles = 2)
    // continuous trigger at a 1s cadence (settings value is plumbed the same
    // way; 1s keeps the test fast) — events must flow without AvailableNow
    val q = CdcRunner.start(spark, cfg, availableNow = false, intervalSeconds = 1)
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (lake.manifest.epochWatermark < 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(250)
      assert(lake.manifest.epochWatermark >= 0, "continuous trigger applied the feed")
      // the settings' filter (n_tok > 2) and created column landed in the table
      val state = lake.read(spark)
      assert(state.columns.contains("updated_by"))
      assert(state.filter(org.apache.spark.sql.functions.col("n_tok") <= 2).count() == 0)
    } finally q.stop()
  }

  test("registry renaming a MERGE KEY follows into the multi-table key " +
    "config exactly when the declared payload carries the new name (the " +
    "single-table start() contract)") {
    val json =
      """{ "task": { "task_name": "rk", "replication_type": "cdc",
        |  "schema_versions": { "2": [ { "change_type": "rename_column",
        |    "column_name": "emp_id", "target_column_name": "employee_id" } ] } },
        |  "tables": [ { "schema_name": "hr", "table_name": "employee" } ] }""".stripMargin
    val settings = TaskSettings.parse(json)
    val root = tmpDir("graft-multi-keyrename")
    // restarted-with-evolved-payload: schema carries the NEW name, the key
    // config is left stale — without the remap, applySchemaRegistry renames
    // the lake column while the merge still groups by the old name:
    // AnalysisException on every batch, stream permanently wedged
    val evolved = Config(feedDir = s"$root/feed", lakeRoot = s"$root/lake-a",
      checkpointDir = s"$root/cp-a", settings = settings, buckets = 2,
      payloads = Map("hr.employee" -> TablePayload(StructType(Seq(
        StructField("employee_id", StringType), StructField("name", StringType))),
        Seq("emp_id"))))
    assert(MultiTableRunner.ensureTables(spark, evolved).head.job.keyCols
      == Seq("employee_id"))
    // NOT yet restarted (payload still speaks the old name): the key must
    // stay old — the parse emits old-name columns until the operator evolves
    // the declaration
    val stale = Config(feedDir = s"$root/feed", lakeRoot = s"$root/lake-b",
      checkpointDir = s"$root/cp-b", settings = settings, buckets = 2,
      payloads = Map("hr.employee" -> TablePayload(StructType(Seq(
        StructField("emp_id", StringType), StructField("name", StringType))),
        Seq("emp_id"))))
    assert(MultiTableRunner.ensureTables(spark, stale).head.job.keyCols
      == Seq("emp_id"))
  }

}
