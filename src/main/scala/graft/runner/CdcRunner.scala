package graft.runner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.apply.MergeApply
import graft.feed.EnvelopeSource
import graft.lake._
import graft.model._

/**
 * Job wiring — the Spark re-expression of the reference's manager/producer/consumer
 * process trio (manager.py → trempy/Replication/ReplicationManager.py:37-71;
 * producer.py; consumer.py): one Structured Streaming query whose `foreachBatch`
 * is the whole consumer callback (SURVEY §3.3). Source offsets in the checkpoint
 * replace the replication slot; `reload` ⇔ fresh checkpoint + recreated table,
 * `continue` ⇔ restart from the existing checkpoint.
 */
case class RunnerConfig(
    feedDir: String,
    tableDir: String,
    checkpointDir: String,
    job: JobConfig = JobConfig(),
    payloadSchema: StructType = StructType(ChangeEvent.defaultPayloadFields),
    /** files per micro-batch — the reference's batch_cdc_size analogue
      * (trempy/Endpoints/Factory/EndpointFactory.py:17). */
    maxFilesPerTrigger: Int = 4,
    /** change-event schema registry: schema_ver → lake-schema changes to apply
      * before merging a batch that carries that version (north-star requirement). */
    schemaRegistry: Map[Int, Seq[SchemaChange]] = Map.empty,
    /** >0: run a compaction pass after every N committed epochs — the fold
      * cadence merge-on-read needs to bound read-time resolution cost (delta
      * files otherwise accumulate one set per epoch). 0 disables. */
    autoCompactEveryEpochs: Int = 0,
    /** delta-file threshold handed to the auto compaction pass. */
    autoCompactMaxDeltaFiles: Int = 8,
    /** >0: whenever live bytes/bucket exceeds this, double the bucket count
      * (metadata-only rescale) and migrate physically in bounded splitBuckets
      * batches at the auto-compact cadence — the 100-TB "table outgrew its
      * bucket count" runbook as a policy instead of an operator action.
      * 0 disables (explicit maintenance only). */
    autoRescaleBytesPerBucket: Long = 0L,
    /** bucket groups migrated per maintenance tick while a rescale is in
      * flight — bounds one tick's physical rewrite. */
    autoRescaleMaxGroups: Int = 4,
    /** WAL wire only: a transaction whose COMMIT has not arrived after this
      * many micro-batches is EVICTED whole to quarantine (reason
      * `unknown_op: orphaned_txn:<op>`, payload fully parsed, so nothing is
      * lost and replayQuarantine can re-drive it) instead of waiting in the
      * operator state forever. Eviction is sticky: lines of that txn arriving
      * LATER, its COMMIT included, quarantine too rather than tear the txn
      * across lake state and quarantine. Logical decoding emits whole
      * transactions, so only feed corruption (an unrecoverable COMMIT slot
      * row) or a producer wedge can orphan lines this long; size it above the
      * longest legitimate txn-spanning-files window (default 16 batches ≈ 64
      * files at the default maxFilesPerTrigger). 0 disables NEW evictions;
      * earlier evictions stay sticky. See [[graft.feed.WalTransactions]]. */
    walOrphanEpochs: Int = 16)

object CdcRunner {

  def eventSchema(cfg: RunnerConfig): StructType =
    ChangeEvent.schema(cfg.payloadSchema.fields.toSeq)

  /** The lake table's payload schema AND merge keys AFTER the transform rules
    * (created/renamed/retyped columns and add/remove_primary_key land in the
    * table, like the reference's metadata updates in
    * ColumnCreator.__update_metadata). */
  def outputPayloadSchemaAndKeys(cfg: RunnerConfig): (StructType, Seq[String]) = {
    import graft.rules.{TableSpec, TransformCompiler}
    val compiled = TransformCompiler.compile(
      cfg.job.transforms, TableSpec("lake", "t", cfg.job.keyCols), eventSchema(cfg))
    val envelope = ChangeEvent.envelopeFields.map(_.name).toSet
    (StructType(compiled.outSchema.fields.filterNot(f => envelope.contains(f.name))),
      compiled.outSpec.keyCols)
  }

  /** Create the lake table if absent; `reload` start mode drops and recreates
    * (reference: ReplicationStrategy.reload_task, ReplicationStrategy.py:248-270). */
  def ensureTable(spark: SparkSession, cfg: RunnerConfig, reload: Boolean = false): LakeTable = {
    val lake = new LakeTable(cfg.tableDir)
    if (reload) {
      deleteRecursively(new java.io.File(cfg.tableDir))
      deleteRecursively(new java.io.File(cfg.checkpointDir))
    }
    if (!lake.exists) {
      val (payload, outKeys) = outputPayloadSchemaAndKeys(cfg)
      val scd = cfg.job.scdCols
      val scdCols =
        if (cfg.job.mode == CdcMode.Scd2) Seq(scd.startDate, scd.endDate, scd.current) else Nil
      lake.create(StoredRows.tableSchema(payload, scdCols), cfg.job.buckets, keyCols = outKeys,
        tableMode = if (scdCols.nonEmpty) Manifest.SCD2 else Manifest.LWW,
        scdCols = scdCols)
    }
    lake
  }

  /** Full load (reference: FullLoadHandler.get_full_load_from_table,
    * FullLoadHandler.py:87-125): seed the table with a snapshot as epoch -1.
    * The table's filter and transform rules apply to the snapshot exactly as
    * they do to change events (the reference runs both on full load too) —
    * without them, a renaming/creating transform would leave the written
    * columns named differently from the table schema and every such value
    * (including a renamed merge key) would read back NULL. */
  def fullLoad(spark: SparkSession, lake: LakeTable, snapshot0: DataFrame, cfg: RunnerConfig): Unit =
    fullLoad(spark, lake, snapshot0, cfg.job)

  def fullLoad(spark: SparkSession, lake: LakeTable, snapshot0: DataFrame, job: JobConfig): Unit = {
    // the sentinel epoch replayQuarantine recognizes as "post-transform
    // snapshot rows, no change envelope" when draining this load's quarantine
    val epoch = MergeApply.FULL_LOAD_EPOCH
    if (lake.isCommitted(epoch)) return
    val m = lake.manifest
    import graft.rules.{FilterCompiler, TableSpec, TransformCompiler}
    val filtered =
      if (job.filters.isEmpty) snapshot0
      else snapshot0.filter(FilterCompiler.compileAll(job.filters, snapshot0.schema))
    val compiled = TransformCompiler.compile(job.transforms,
      TableSpec("lake", "t", job.keyCols), filtered.schema,
      MergeApply.batchTimestamp(epoch))
    val snapshot0T = compiled.apply(filtered)
    val keys = compiled.outSpec.keyCols
    // same invariant applyBatch guards at the change seam: a keyless table
    // cannot merge, and without the named error the first key expression
    // below dies with a bare `empty.reduce` from inside plan construction
    require(keys.nonEmpty,
      s"full load: the transform pipeline removed every merge key " +
        s"(pre-transform keys ${job.keyCols.mkString(",")}) — add_primary_key " +
        "a replacement or drop the remove_primary_key rule")
    // null merge keys in the SNAPSHOT bypass every change-path guard: a
    // row with a null key is malformed input — it names no row a change
    // could later update or delete — which the merge quarantines too.
    // Same routing here: quarantine-and-continue (browsable
    // under the full-load epoch) or fail loudly. The pre-count projects
    // ONLY the key columns — a pruned scan, cheap next to the load's write.
    val nullKey = keys.map(col(_).isNull).reduce(_ || _)
    // ONE evaluation of the source for the whole split: the pre-count, the
    // quarantine write, and the clean write below would otherwise each
    // re-scan it, and a LIVE source (the JDBC snapshot this entry exists
    // for) can return different rows per scan — a row turning null-keyed
    // between the count and the write would bypass the split entirely and
    // land as an unmatchable base row, the very failure the guard exists to
    // prevent. DISK_ONLY staging is the reference's own full-load shape
    // (parquet staging, FullLoadHandler.py:87-125), priced at one extra
    // write+read of the snapshot; it spills, never OOMs, at any scale.
    val staged = snapshot0T.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
    val nBadKeys = staged.select(keys.map(col): _*).filter(nullKey).count()
    val snapshot =
      if (nBadKeys == 0) staged
      else {
        if (!job.quarantine)
          throw new IllegalStateException(
            s"full load: $nBadKeys snapshot row(s) with null merge key(s) " +
              s"${keys.mkString(",")} and quarantine is disabled")
        lake.writeQuarantine(staged.filter(nullKey)
          .withColumn(MergeApply.QUARANTINE_REASON, lit("null_merge_key: " +
            s"key column(s) ${keys.mkString(",")} must be non-null in the " +
            "full-load snapshot")), epoch)
        staged.filter(!nullKey)
      }
    // the snapshot as INSERT events through the merge's own codec, written
    // as a copy-on-write epoch into an empty table: the fold keeps one row
    // per key (a snapshot holding a key twice lands once) and sets an SCD2
    // row's `current`. The shared salted epoch writer, not a hand-rolled
    // repartition(bucket): the full load is the largest single write of the
    // table's life, and a plain bucket-keyed shuffle turns a hot bucket into
    // one straggler task.
    val rows = StoredRows.fromEvents(
      StoredRows.align(MergeApply.snapshotEvents(snapshot), m), m, keys)
      .withColumn("_bucket", lake.bucketExpr(keys, m.buckets))
    val files = MergeApply.writeEpoch(spark, lake, rows, epoch, m, foldKeys = Some(keys))
    // exact loaded-row count from the written files (LakeTable.writeEpochFiles)
    lake.commit(epoch, files, (0 until m.buckets).toSet,
      Map("full_load_rows" -> files.map(_.rows).sum,
        // truncate-and-load marker: changeLog refuses windows spanning it
        // and LakeSync re-mirrors (see LakeTable.ReloadMetric)
        LakeTable.ReloadMetric -> 1L))
    } finally { staged.unpersist(); () }
  }

  /** Schema registry: evolve the lake schema for EVERY registry version up to
    * the highest schema_ver present in this batch. Idempotent by the table's
    * persisted `registry_applied_ver` watermark ([[LakeTable.evolveRegistry]])
    * — NOT by column-name presence, which breaks under name-reusing rename
    * chains. Applying all ≤ max, not just the versions literally present,
    * matters when a stream starts after upstream already advanced: a batch of
    * only-v3 events must still apply v2 first, or a v3 change chained on v2
    * (e.g. a rename of a v2-renamed column) silently filters out and the
    * column's values are lost to null-fill. Shared by the single-table
    * foreachBatch and the multi-table router. */
  def applySchemaRegistry(
      lake: LakeTable, registry: Map[Int, Seq[SchemaChange]], batch: DataFrame): Unit = {
    if (registry.isEmpty) return
    // steady-state short-circuit BEFORE the batch scan: once the watermark
    // covers every registered version, the distinct(schema_ver) pass — a
    // full re-read of every micro-batch — buys nothing, forever. One cached
    // manifest read makes the applied state free.
    if (lake.manifest.metrics.getOrElse(LakeTable.RegistryVerMetric, 0L) >=
        registry.keys.max) return
    // null-tolerant: a malformed feed file can carry null schema_ver (file
    // sources don't enforce nullable=false) — such rows evolve nothing here
    // and fall through to the merge, whose invariants quarantine them;
    // getInt on the null would instead NPE and wedge the stream on replay
    val vers = batch.select(ChangeEvent.SCHEMA_VER).distinct()
      .collect().flatMap(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    if (vers.isEmpty) return
    val maxVer = vers.max
    // watermark-gated: versions the table already recorded as applied are
    // skipped OUTRIGHT (guard included) — re-running the old-shape guard on
    // an applied version false-positives forever when a later version
    // renames a column back to an earlier name (v2 a→b, v3 b→a leaves the
    // final feed legitimately carrying 'a'), wedging a correct stream
    val applied = lake.manifest.metrics.getOrElse(LakeTable.RegistryVerMetric, 0L)
    val chain = registry.toSeq.sortBy(_._1)
      .filter(v => v._1 > applied && v._1 <= maxVer)
    // Pre-watermark safety net, CHAIN level: a table evolved by an older
    // build carries no watermark (applied=0), and evolveRegistry's per-version
    // name-based pending filter cannot see that a name-REUSING rename chain
    // (v2 a→b, v3 b→a) already ran — replaying it would mint two spurious
    // schema versions renaming a live column there and back. When replaying
    // the whole pending chain against the CURRENT shape nets to a no-op
    // (same names, same types, same order), recording the watermark alone is
    // the correct action — for a genuinely-fresh table a net-no-op chain
    // leaves the same final state either way (its intermediate versions
    // carry no data), so the skip is safe in both histories.
    // a FIXED-schema (parquet) feed cannot express a rename mid-stream: the
    // contract is a stream restart with the evolved payload schema
    // (MultiTableSpec's schema_versions e2e). A v2-marked batch still
    // carrying the OLD column shape means the feed was not evolved —
    // evolving the lake anyway would null-fill the renamed column (and a
    // renamed MERGE KEY would break the merge) silently from here on.
    // Exception: when a LATER version ≤ maxVer renames something INTO this
    // name, the batch's column is the evolved final shape of a name-reusing
    // chain, not the stale pre-rename shape.
    def staleShapeGuard(ver: Int, changes: Seq[SchemaChange]): Unit =
      changes.foreach {
        case graft.lake.RenameColumn(f, t)
            if batch.columns.contains(f) && !batch.columns.contains(t) &&
              !renamedIntoLater(registry, ver, maxVer, f) =>
          throw new IllegalArgumentException(
            s"schema_versions[$ver] renames '$f' -> '$t' but this batch " +
              "still carries the old column shape — restart the stream " +
              "with the evolved payload schema, or use a wire-format " +
              "source (wal/envelope) whose versioned parse folds renames " +
              "per row without a restart")
        case _ => ()
      }
    if (applied == 0L && chain.nonEmpty) {
      val cur = lake.manifest.currentSchema.fields
        .map(f => f.name -> f.dataType).toVector
      val simulated = chain.foldLeft(cur) { case (shape, (_, changes)) =>
        changes.foldLeft(shape)(graft.lake.SchemaChange.applyToShape)
      }
      if (simulated == cur) {
        // the guard runs HERE too: a rename whose source column the table no
        // longer carries simulates as a no-op, but a BATCH still carrying it
        // means the feed was never evolved — skipping silently would record
        // the watermark and null-fill the renamed column's values forever
        // after (the loud wedge turned into silent loss). A genuinely-final
        // name-reusing chain passes via the renamedIntoLater exception.
        chain.foreach { case (ver, changes) => staleShapeGuard(ver, changes) }
        lake.evolveRegistry(maxVer, Nil): Unit // watermark-only commit
        return
      }
    }
    chain.foreach { case (ver, changes) =>
        staleShapeGuard(ver, changes)
        lake.evolveRegistry(ver, changes)
      }
  }

  /** True when a registry version in (ver, maxVer] renames some column INTO
    * `name` — a batch carrying `name` is then the final shape of a
    * name-reusing rename chain, not a stale pre-`ver` shape. */
  private def renamedIntoLater(registry: Map[Int, Seq[SchemaChange]],
      ver: Int, maxVer: Int, name: String): Boolean =
    registry.exists { case (v, cs) =>
      v > ver && v <= maxVer && cs.exists {
        case graft.lake.RenameColumn(_, t) => t == name
        case _ => false
      }
    }

  /** Wire-format streams with a registry parse EVERY row to the LATEST payload
    * shape (parseVersioned folds rename chains and casts widened fields), so
    * the lake must hold the latest schema from the FIRST batch: merging a
    * v1-only batch (every batch before the first v2 row arrives) against a
    * lake still carrying a renamed column's old name would make StoredRows.align
    * null-fill the new name and silently drop all pre-evolution values of that
    * column. Apply ALL registry versions eagerly at stream start — the parse
    * side already committed to the latest shape, so the lake side must too.
    * (Widen-only versions additionally NEED this: they leave no wire marker
    * for per-row detection, and a narrow lake column would truncate them.)
    * Idempotent (already-applied changes filter out). */
  def applyRegistryEagerly(
      lake: LakeTable, registry: Map[Int, Seq[SchemaChange]]): Unit = {
    val applied = lake.manifest.metrics.getOrElse(LakeTable.RegistryVerMetric, 0L)
    registry.toSeq.sortBy(_._1).filter(_._1 > applied).foreach {
      case (ver, changes) => lake.evolveRegistry(ver, changes)
    }
  }

  /** Merge-key names after the registry's renames: the versioned wire parse
    * folds every row to the LATEST column names, so a registry that renames a
    * key column must rename the key CONFIG too — the stale name would make
    * the DELETE-key filter and the merge's groupBy reference a column the
    * parse no longer emits (AnalysisException on every batch). */
  private[runner] def registryRenamedKeys(
      keys: Seq[String], registry: Map[Int, Seq[SchemaChange]]): Seq[String] =
    registry.toSeq.sortBy(_._1).flatMap(_._2).foldLeft(keys) {
      case (ks, RenameColumn(from, to)) => ks.map(k => if (k == from) to else k)
      case (ks, _)                      => ks
    }

  /** Merge keys of a PARQUET-feed stream (single- and multi-table; the wire
    * paths rename unconditionally in [[wirePrelude]]): this feed declares its
    * schema explicitly, so a key follows its registry rename exactly when the
    * declared payload schema already carries the NEW name — the
    * restarted-with-evolved-schema contract the per-batch registry guard
    * instructs. Without this, following that very instruction wedged the
    * merge on the stale key name (the lake column is renamed by
    * applySchemaRegistry, the groupBy/DELETE-key filter still references the
    * old one). */
  private[runner] def declaredRenamedKeys(keys: Seq[String],
      registry: Map[Int, Seq[SchemaChange]], payload: StructType): Seq[String] =
    keys.zip(registryRenamedKeys(keys, registry)).map { case (o, n) =>
      if (n != o && payload.fieldNames.contains(n)) n else o
    }

  /** The prelude every wire-format variant (envelope, Kafka, WAL) shares:
    * create the table, apply the registry eagerly ([[applyRegistryEagerly]]),
    * and derive the runtime config — key names follow the registry's renames,
    * and the per-batch registry scan is dropped (every version is already
    * applied, so the extra distinct(schema_ver) pass — a full re-parse of the
    * batch — would buy nothing). The PARSE keeps reading the original
    * registry separately. */
  private def wirePrelude(spark: SparkSession, cfg: RunnerConfig)
      : (LakeTable, RunnerConfig) = {
    val lake = ensureTable(spark, cfg)
    applyRegistryEagerly(lake, cfg.schemaRegistry)
    val runCfg =
      if (cfg.schemaRegistry.isEmpty) cfg
      else cfg.copy(
        job = cfg.job.copy(
          keyCols = registryRenamedKeys(cfg.job.keyCols, cfg.schemaRegistry)),
        schemaRegistry = Map.empty)
    (lake, runCfg)
  }

  /** The foreachBatch body: schema-registry evolution, then merge-apply. */
  def processBatch(spark: SparkSession, lake: LakeTable, cfg: RunnerConfig)(
      batch: DataFrame, epoch: Long): Unit = {
    if (lake.isCommitted(epoch)) return
    applySchemaRegistry(lake, cfg.schemaRegistry, batch)
    MergeApply.applyBatch(spark, lake, batch, epoch, cfg.job)
    maintenanceTick(spark, lake, epoch, cfg.autoCompactEveryEpochs,
      cfg.autoCompactMaxDeltaFiles, cfg.autoRescaleBytesPerBucket,
      cfg.autoRescaleMaxGroups)
  }

  /**
   * Scheduled in-stream maintenance — ONE definition shared by the single-
   * and multi-table runners (a second hand-kept copy is how the multi-table
   * path once lost the rescale policy entirely): fold deltas / compact small
   * files on the epoch-count cadence tick, with the rescale-policy check
   * riding the same tick — or running every epoch when no compact cadence is
   * configured (below the threshold it is driver-side metadata arithmetic on
   * the cached fold; with a cadence it must NOT run on non-tick epochs, or a
   * mid-migration table pays a physical splitBuckets rewrite in-line with
   * EVERY epoch instead of one bounded step per tick).
   *
   * Best-effort: losing a rebase race to an EXTERNAL maintenance job
   * (JobMain --op compact/split_buckets beside the stream) defers this tick,
   * never fails the stream — the data commit already landed, and the next
   * tick redoes the work from the fresh head. Data commits themselves never
   * swallow this exception.
   */
  def maintenanceTick(spark: SparkSession, lake: LakeTable, epoch: Long,
      autoCompactEveryEpochs: Int, autoCompactMaxDeltaFiles: Int,
      autoRescaleBytesPerBucket: Long, autoRescaleMaxGroups: Int,
      label: String = ""): Unit = {
    if (epoch < 0) return
    def deferOnConflict(what: String)(op: => Unit): Unit =
      try op catch {
        case e: graft.lake.ConcurrentCommitException =>
          System.err.println(s"[graft] $what$label deferred to next tick: ${e.getMessage}")
      }
    if (autoCompactEveryEpochs > 0 && (epoch + 1) % autoCompactEveryEpochs == 0) {
      deferOnConflict("auto-compact")(
        lake.compact(spark, maxDeltaFiles = autoCompactMaxDeltaFiles): Unit)
      if (autoRescaleBytesPerBucket > 0)
        deferOnConflict("auto-rescale")(
          lake.autoRescale(spark, autoRescaleBytesPerBucket,
            maxGroups = autoRescaleMaxGroups): Unit)
    } else if (autoCompactEveryEpochs == 0 && autoRescaleBytesPerBucket > 0) {
      deferOnConflict("auto-rescale")(
        lake.autoRescale(spark, autoRescaleBytesPerBucket,
          maxGroups = autoRescaleMaxGroups): Unit)
    }
  }

  /** The ONE code that starts a stream: every source variant and the
    * multi-table runner build their source frame and per-batch body, then
    * call this. It owns the query name (`graft-<kind>-<uuid8>`), the
    * checkpoint, `foreachBatch` and the trigger choice (AvailableNow drain vs
    * the reference's `interval_seconds` cadence as a ProcessingTime trigger).
    * Live progress is Spark's own `StreamingQuery.recentProgress`; the
    * per-epoch stats are the lineage record every commit writes.
    *
    * Every query runs without no-data micro-batches: the WAL transaction
    * operator's processing-time timeout asks for one on every trigger, each
    * committing an empty lake epoch, and stateless queries never ask. The
    * offset log does not record the setting, so it is set at every start. */
  private[runner] def launch(kind: String, source: DataFrame, checkpointDir: String,
      availableNow: Boolean, intervalSeconds: Int)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val conf = source.sparkSession.conf
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val callerNoData = conf.getOption(noData)
    conf.set(noData, "false")
    try source.writeStream
      .queryName(s"graft-$kind-${java.util.UUID.randomUUID().toString.take(8)}")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(body)
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(s"$intervalSeconds seconds"))
      .start()
    finally callerNoData.fold(conf.unset(noData))(conf.set(noData, _))
  }

  /** Start the streaming query (continuous tail). `intervalSeconds` is the
    * reference's producer cadence (task/settings.json interval_seconds,
    * CDCStrategy.py:75-101) — honored as the ProcessingTime trigger. */
  def start(spark: SparkSession, cfg: RunnerConfig, availableNow: Boolean = true,
      intervalSeconds: Int = 5): StreamingQuery = {
    val effKeys = declaredRenamedKeys(cfg.job.keyCols, cfg.schemaRegistry,
      cfg.payloadSchema)
    val runCfg =
      if (effKeys == cfg.job.keyCols) cfg
      else cfg.copy(job = cfg.job.copy(keyCols = effKeys))
    val lake = ensureTable(spark, runCfg)
    val stream = spark.readStream
      .schema(eventSchema(runCfg))
      .option("maxFilesPerTrigger", runCfg.maxFilesPerTrigger)
      .parquet(runCfg.feedDir)
    launch("cdc", stream, runCfg.checkpointDir, availableNow, intervalSeconds)(
      processBatch(spark, lake, runCfg))
  }

  /** Drain everything currently in the feed and stop (test/bench entry). */
  def runAvailableNow(spark: SparkSession, cfg: RunnerConfig): Unit = {
    val q = start(spark, cfg, availableNow = true)
    q.awaitTermination()
  }

  /**
   * S4 queue-shaped variant: tail a JSON-lines directory of the reference's
   * RabbitMQ envelope messages (graft.feed.EnvelopeSource). For a real broker
   * use [[startFromKafka]] — the message format and everything downstream are
   * identical, only the source line differs. With a schema registry every
   * payload version parses in one stream (column names ride in each message).
   */
  def startFromEnvelopes(
      spark: SparkSession, cfg: RunnerConfig,
      schemaName: String, tableName: String,
      availableNow: Boolean = true, intervalSeconds: Int = 5): StreamingQuery = {
    val (lake, runCfg) = wirePrelude(spark, cfg)
    val stream = spark.readStream
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .text(cfg.feedDir)
    launch("env", stream, cfg.checkpointDir, availableNow, intervalSeconds) {
      (raw, epoch) =>
        processBatch(spark, lake, runCfg)(EnvelopeSource.parseVersionedForTable(
          raw, cfg.payloadSchema, cfg.schemaRegistry, schemaName, tableName), epoch)
    }
  }

  /** True when the spark-sql-kafka connector is on the classpath (NOT bundled
    * in this sandbox's /opt/spark/jars — a cluster deployment adds it via
    * --packages, which is all [[startFromKafka]] needs). */
  def kafkaConnectorPresent: Boolean =
    scala.util.Try(Class.forName(
      "org.apache.spark.sql.kafka010.KafkaSourceProvider")).isSuccess

  /**
   * S4 with a real broker: tail a Kafka topic of envelope messages — the
   * reference's RabbitMQ consumer deployment (MessageConsumer.py:33-111),
   * broker-for-broker. The source line is the ONLY difference from
   * [[startFromEnvelopes]]: same JSON parse of the value column
   * (EnvelopeSource.parseVersionedForTable), same merge; offsets live in the
   * checkpoint exactly like file-source offsets, so exactly-once and replay
   * semantics are identical.
   */
  def startFromKafka(
      spark: SparkSession, cfg: RunnerConfig,
      brokers: String, topic: String,
      schemaName: String, tableName: String,
      startingOffsets: String = "earliest",
      availableNow: Boolean = true, intervalSeconds: Int = 5,
      /** per-trigger record bound (one record = one envelope page of ≤ 1024
        * ops) — the batch_cdc_size analogue the file sources get from
        * maxFilesPerTrigger. Without it, a first run against an existing
        * topic with startingOffsets=earliest admits the WHOLE backlog as one
        * micro-batch whose merge must succeed atomically or replay from
        * zero. ≤ 0 disables (explicitly unbounded). */
      maxOffsetsPerTrigger: Long = 10000L): StreamingQuery = {
    require(kafkaConnectorPresent,
      "startFromKafka needs the spark-sql-kafka-0-10 connector on the classpath " +
        "(spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>)")
    val (lake, runCfg) = wirePrelude(spark, cfg)
    val stream0 = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
    val stream = (if (maxOffsetsPerTrigger > 0)
      stream0.option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
    else stream0).load()
    launch("kafka", stream, cfg.checkpointDir, availableNow, intervalSeconds) {
      (raw, epoch) =>
        val value = raw.select(col("value").cast("string").as("value"))
        processBatch(spark, lake, runCfg)(EnvelopeSource.parseVersionedForTable(
          value, cfg.payloadSchema, cfg.schemaRegistry, schemaName, tableName), epoch)
    }
  }

  /**
   * S2 wire-format variant: tail a RAW test_decoding line feed — parquet files
   * of `(lsn, xid, data)` slot rows (pg_logical_slot_get_changes shape) — and
   * parse each micro-batch with [[graft.feed.WalParser]] before the merge.
   *
   * Feed contract: PostgreSQL logical decoding only ever emits committed,
   * complete transactions per slot read, but NO file alignment is assumed —
   * a producer may cut files mid-transaction, and `maxFilesPerTrigger` can
   * cut a micro-batch between a transaction's files either way. A line
   * whose COMMIT has not arrived yet waits in Spark's operator state
   * ([[graft.feed.WalTransactions]], committed with the offset log) and
   * merges with the batch that completes its transaction;
   * WalStashPropertySpec drives arbitrary splits. A transaction never
   * completed within `cfg.walOrphanEpochs` micro-batches is evicted WHOLE to
   * quarantine (payload parsed, reason `unknown_op: orphaned_txn:<op>`,
   * replayQuarantine-drainable) so a lost COMMIT can neither wait forever
   * nor vanish silently; an evicted xid keeps a mark, so any LATER arrival
   * of that txn (straggler lines, even the COMMIT itself) joins it in
   * quarantine instead of tearing the transaction in half.
   */
  def startFromWal(
      spark: SparkSession, cfg: RunnerConfig,
      schemaName: String, tableName: String,
      availableNow: Boolean = true, intervalSeconds: Int = 5): StreamingQuery = {
    import graft.feed.{WalParser, WalTransactions}
    refuseStashCheckpoint(spark, cfg.checkpointDir)
    val (lake, runCfg) = wirePrelude(spark, cfg)
    val stream = spark.readStream
      .schema(WalParser.rawSchema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(cfg.feedDir)
    launch("wal", WalTransactions.assemble(stream, cfg.walOrphanEpochs),
        cfg.checkpointDir, availableNow, intervalSeconds) {
      (lines: DataFrame, epoch: Long) =>
        // the frame runs the stateful operator, which must run exactly once
        // per epoch: persisted for the parse's several reads, and run even
        // for an epoch the lake already committed (a crash between the lake
        // commit and Spark's), or Spark refuses the state-store commit
        val kept = lines.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (lake.isCommitted(epoch)) kept.count(): Unit
          // with a schema registry, one stream parses EVERY registered
          // payload version (the wire format carries column names inline):
          // per-row version detection + rename/widen normalization, so a
          // batch mixing v1 and v2 rows needs no restart — cfg.payloadSchema
          // is the BASE (version-1) payload in that case
          processBatch(spark, lake, runCfg)(WalParser.parseVersionedForTable(kept,
            cfg.payloadSchema, cfg.schemaRegistry, schemaName, tableName), epoch)
        } finally { kept.unpersist(); () }
    }
  }

  /** Refuse, by name, a WAL checkpoint of a build before the state-store
    * operator (a `wal-pending/` stash, or committed batches and no `state/`):
    * Spark would fail its first batch on a missing state file. */
  private def refuseStashCheckpoint(spark: SparkSession, checkpointDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(checkpointDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def under(name: String) = new org.apache.hadoop.fs.Path(checkpointDir, name)
    val stateless = fs.exists(under("commits")) && !fs.exists(under("state")) &&
      fs.listStatus(under("commits")).exists(!_.getPath.getName.startsWith("."))
    if (fs.exists(under("wal-pending")) || stateless)
      throw new IllegalStateException(s"WAL checkpoint $checkpointDir was written " +
        "by an earlier build that kept pending transactions outside Spark's state " +
        "store (a hand-kept wal-pending/ stash) and cannot be resumed: " +
        "restart the stream with reload (a fresh table and checkpoint), or finish " +
        "it on the previous build")
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    // listFiles is null for a dir deleted concurrently (or an I/O error)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
