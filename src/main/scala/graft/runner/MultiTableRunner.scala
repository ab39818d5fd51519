package graft.runner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.apply.MergeApply
import graft.lake.LakeTable
import graft.model._
import graft.rules.{TableSpec, TransformCompiler}

/**
 * Multi-table task runner — the reference's table routing + priority-ordered
 * apply (one change feed demultiplexed into per-table frames,
 * CDCManager.structure_capture_changes_to_dataframe CDCManager.py:280-357;
 * priority order trempy/Tasks/Task.py:149,170).
 *
 * One streaming query tails a single feed whose rows carry
 * (schema_name, table_name) plus the UNION of all tables' payload columns;
 * each micro-batch is routed per table (priority order) through that table's
 * own filter/transform rules into that table's own lake table. Exactly-once
 * holds per (table, epoch): a crash mid-batch leaves committed tables
 * idempotently skipped on retry.
 */
object MultiTableRunner {

  val SCHEMA_COL = "schema_name"
  val TABLE_COL = "table_name"

  /** Per-table payload declaration (the reference introspects the source
    * catalog; here the feed contract declares it). */
  case class TablePayload(schema: StructType, keyCols: Seq[String])

  case class Config(
      feedDir: String,
      lakeRoot: String,
      checkpointDir: String,
      settings: TaskSettings.Parsed,
      payloads: Map[String, TablePayload], // "schema.table" -> payload decl
      /** explicit override; 0 (default) = settings.json cdc_settings.buckets */
      buckets: Int = 0,
      maxFilesPerTrigger: Int = 4)

  case class TableJob(
      rules: TaskSettings.TableRules,
      payload: TablePayload,
      lake: LakeTable,
      job: JobConfig,
      targetId: String)

  /** Feed schema: envelope + routing cols + union of all payload fields.
    * Same-named fields across tables must agree on type. */
  def feedSchema(cfg: Config): StructType = {
    val union = scala.collection.mutable.LinkedHashMap[String, StructField]()
    cfg.payloads.values.foreach(_.schema.fields.foreach { f =>
      union.get(f.name) match {
        case Some(existing) =>
          require(existing.dataType == f.dataType,
            s"conflicting types for shared feed column ${f.name}")
        case None => union += f.name -> f
      }
    })
    StructType(
      ChangeEvent.envelopeFields ++
        Seq(StructField(SCHEMA_COL, StringType), StructField(TABLE_COL, StringType)) ++
        union.values.toSeq)
  }

  /** Build per-table jobs (priority-ordered) and create their lake tables. */
  def ensureTables(spark: SparkSession, cfg: Config): Seq[TableJob] = {
    val jobs = cfg.settings.tables.map { rules =>
      val payload = cfg.payloads.getOrElse(rules.id,
        throw new IllegalArgumentException(s"no payload declared for table ${rules.id}"))
      val job = JobConfig(
        mode = cfg.settings.cdcMode,
        merge = cfg.settings.mergeStrategy,
        keyCols = CdcRunner.declaredRenamedKeys(
          payload.keyCols, cfg.settings.schemaRegistry, payload.schema),
        buckets = if (cfg.buckets > 0) cfg.buckets else cfg.settings.buckets,
        filters = rules.filters,
        transforms = rules.transforms,
        errorPolicy = cfg.settings.errorPolicy,
        scdCols = cfg.settings.scdCols,
        changeFeed = cfg.settings.changeFeed)
      // target identity after structural transforms (rename schema/table)
      val compiled = TransformCompiler.compile(job.transforms,
        TableSpec(rules.schemaName, rules.tableName, job.keyCols),
        ChangeEvent.schema(payload.schema.fields.toSeq))
      val targetId = s"${compiled.outSpec.targetSchemaName}.${compiled.outSpec.targetTableName}"
      val runnerCfg = RunnerConfig(
        feedDir = cfg.feedDir,
        tableDir = s"${cfg.lakeRoot}/$targetId",
        checkpointDir = cfg.checkpointDir,
        job = job,
        payloadSchema = payload.schema,
        autoCompactEveryEpochs = cfg.settings.autoCompactEveryEpochs,
        autoCompactMaxDeltaFiles = cfg.settings.autoCompactMaxDeltaFiles,
        autoRescaleBytesPerBucket = cfg.settings.autoRescaleBytesPerBucket,
        autoRescaleMaxGroups = cfg.settings.autoRescaleMaxGroups,
        walOrphanEpochs = cfg.settings.walOrphanEpochs)
      val lake = CdcRunner.ensureTable(spark, runnerCfg)
      TableJob(rules, payload, lake, job, targetId)
    }
    // two tables renamed onto the same post-transform target would share one
    // lake directory and merge into it CONCURRENTLY (same epoch, both passing
    // isCommitted before either commits) — racing commits corrupt the manifest
    val dup = jobs.groupBy(_.targetId).filter(_._2.size > 1).keys
    require(dup.isEmpty,
      s"multiple source tables map onto the same target lake table(s) " +
        s"${dup.mkString(", ")} after structural transforms — each table needs " +
        "a distinct target identity")
    jobs
  }

  /** Shared cache + priority-class scaffold for routing one frame to every
    * table: classes apply in order (FK-safe), tables WITHIN a class in
    * parallel. ONE definition — the batch and full-load paths used to carry
    * hand-kept copies, the drift class that once lost the rescale policy on
    * this very runner. */
  private def forEachByPriority(jobs: Seq[TableJob], frame: DataFrame)(
      body: TableJob => Unit): Unit = {
    import scala.collection.parallel.CollectionConverters._
    val cache = jobs.size > 1
    if (cache) frame.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try
      jobs.groupBy(_.rules.priority).toSeq.sortBy(_._1).foreach { case (_, group) =>
        if (group.size == 1) body(group.head)
        else group.par.foreach(body)
      }
    finally if (cache) { frame.unpersist(); () }
  }

  /**
   * Route one micro-batch to every table: priority CLASSES apply in order
   * (FK-safe, the reference's contract — Task.py:149,170), tables WITHIN a
   * class merge concurrently (independent lake dirs; Spark actions are
   * thread-safe). The batch is cached so N tables don't re-read the source
   * files N times.
   */
  def processBatch(spark: SparkSession, jobs: Seq[TableJob],
      schemaRegistry: Map[Int, Seq[graft.lake.SchemaChange]] = Map.empty,
      autoCompactEveryEpochs: Int = 0, autoCompactMaxDeltaFiles: Int = 8,
      autoRescaleBytesPerBucket: Long = 0L,
      autoRescaleMaxGroups: Int = 4)(
      batch: DataFrame, epoch: Long): Unit = {
    def applyOne(tj: TableJob): Unit = {
      val cols = ChangeEvent.envelopeFields.map(_.name) ++ tj.payload.schema.fieldNames
      val sub = batch
        .filter(col(SCHEMA_COL) === tj.rules.schemaName &&
          col(TABLE_COL) === tj.rules.tableName)
        .select(cols.map(col): _*)
      CdcRunner.applySchemaRegistry(tj.lake, schemaRegistry, sub)
      MergeApply.applyBatch(spark, tj.lake, sub, epoch, tj.job)
      // settings-driven maintenance cadence, per table — the single-table
      // runner's tick logic verbatim (ONE definition: a drifting second copy
      // is how this path once lost the rescale policy entirely)
      CdcRunner.maintenanceTick(spark, tj.lake, epoch,
        autoCompactEveryEpochs, autoCompactMaxDeltaFiles,
        autoRescaleBytesPerBucket, autoRescaleMaxGroups,
        label = s"(${tj.rules.tableName})")
    }
    forEachByPriority(jobs, batch)(applyOne)
  }

  /** Route a multi-table SNAPSHOT (rows carry schema_name/table_name plus the
    * union payload, like the feed minus the envelope) into each table's
    * full-load epoch — the composite's load half (the reference's
    * CompositeReplicationStrategy.py:8 ordering: every table's snapshot
    * commits before the CDC tail starts). Priority classes load in order,
    * tables within a class in parallel; idempotent per table (a committed
    * full-load epoch is skipped), so a crash mid-way resumes where it died. */
  def fullLoad(spark: SparkSession, jobs: Seq[TableJob], snapshot: DataFrame): Unit =
    forEachByPriority(jobs, snapshot) { tj =>
      val sub = snapshot
        .filter(col(SCHEMA_COL) === tj.rules.schemaName &&
          col(TABLE_COL) === tj.rules.tableName)
        .select(tj.payload.schema.fieldNames.map(col).toSeq: _*)
      CdcRunner.fullLoad(spark, tj.lake, sub, tj.job)
    }

  /** Start the stream over jobs the caller already built (so a composite
    * full load can commit against the same TableJob set first). The
    * settings' interval_seconds — the reference's producer cadence — is the
    * ProcessingTime trigger. */
  def startJobs(spark: SparkSession, cfg: Config, jobs: Seq[TableJob],
      availableNow: Boolean): StreamingQuery = {
    val stream = spark.readStream
      .schema(feedSchema(cfg))
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(cfg.feedDir)
    CdcRunner.launch("multi", stream, cfg.checkpointDir, availableNow,
      cfg.settings.intervalSeconds)(
      processBatch(spark, jobs, cfg.settings.schemaRegistry,
        cfg.settings.autoCompactEveryEpochs, cfg.settings.autoCompactMaxDeltaFiles,
        cfg.settings.autoRescaleBytesPerBucket, cfg.settings.autoRescaleMaxGroups))
  }

  def runAvailableNow(spark: SparkSession, cfg: Config): Seq[TableJob] = {
    val jobs = ensureTables(spark, cfg)
    startJobs(spark, cfg, jobs, availableNow = true).awaitTermination()
    jobs
  }
}
