package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.apply.MergeApply
import graft.model._
import graft.runner.{CdcRunner, RunnerConfig}

import scala.jdk.CollectionConverters._

/** Per-op stop-or-continue error flags — reference: stop_if_*_error
  * (trempy/Tasks/Task.py:43-99; CDCOperationsHandler.py:25-30,783-801).
  * continue → bad rows quarantined, good rows commit; stop → batch fails. */
class ErrorPolicySpec extends SparkSpec {

  private def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
  private val schema = ChangeEvent.schema()

  // one good INSERT + one bad INSERT (n_tok mismatch) + one good UPDATE
  private def rows = Seq(
    Row(1L, 1L, ts(1), "INSERT", 1, "k1", Seq(1, 2), Int.box(2), "web"),
    Row(2L, 1L, ts(2), "INSERT", 1, "k2", Seq(1, 2, 3), Int.box(99), "web"), // bad
    Row(3L, 1L, ts(3), "UPDATE", 1, "k1", Seq(7), Int.box(1), "web"))

  private def mkLake(job: JobConfig) = {
    val root = tmpDir("graft-errpol")
    CdcRunner.ensureTable(spark, RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table",
      checkpointDir = s"$root/cp", job = job))
  }

  test("continue (default): bad row quarantined, good rows commit") {
    val job = JobConfig()
    val lake = mkLake(job)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val res = MergeApply.applyBatch(spark, lake, df, 0L, job)
    assert(res.metrics("events_quarantined") == 1L)
    assert(lake.read(spark).count() == 1) // k1 upserted; k2 quarantined
    assert(spark.read.parquet(lake.quarantineDir(0L)).count() == 1)
  }

  test("NULL op / NULL n_tok / NULL merge key rows are QUARANTINED, never " +
    "silently vanished by three-valued logic") {
    val job = JobConfig()
    val lake = mkLake(job)
    // each row's invariant predicate used to evaluate to NULL (or pass, for
    // the null key): filter(NULL) dropped it from good AND from bad — applied
    // nowhere, quarantined nowhere, counted nowhere
    val bad = Seq(
      Row(1L, 1L, ts(1), "INSERT", 1, "k1", Seq(1), Int.box(1), "web"), // good
      Row(2L, 1L, ts(2), null, 1, "k2", Seq(1), Int.box(1), "web"),     // null op
      Row(3L, 1L, ts(3), "UPDATE", 1, "k3", Seq(1, 2), null, "web"),    // null n_tok
      Row(4L, 1L, ts(4), "INSERT", 1, null, Seq(1), Int.box(1), "web"), // null key
      Row(null, 1L, ts(5), "INSERT", 1, "k5", Seq(1), Int.box(1), "web")) // null lsn
    // a real feed arrives via a parquet READ, where nullable=false is
    // advisory — build with the all-nullable shape such a read delivers
    val readShape = StructType(schema.fields.map(_.copy(nullable = true)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(bad, 2), readShape)
    val res = MergeApply.applyBatch(spark, lake, df, 0L, job)
    assert(res.metrics("events_quarantined") == 4L, res.metrics.toString)
    assert(res.metrics("events_received") == 5L)
    assert(lake.read(spark).count() == 1, "only the good row lands")
    val q = spark.read.parquet(lake.quarantineDir(0L))
      .select("doc_id", MergeApply.QUARANTINE_REASON).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(q("k2").startsWith("unknown_op"), q.toString)
    assert(q("k3").startsWith("payload_invariant"), q.toString)
    assert(q(null).startsWith("null_merge_key"), q.toString)
    assert(q("k5").startsWith("null_lsn"), q.toString)
  }

  test("null merge key under quarantine=false fails the batch (contract: " +
    "violations never merge silently)") {
    val job = JobConfig(quarantine = false)
    val lake = mkLake(job)
    val readShape = StructType(schema.fields.map(_.copy(nullable = true)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, 1L, ts(1), null, 1, null, Seq(1), Int.box(1), "web")), 1), readShape)
    val e = intercept[IllegalStateException](
      MergeApply.applyBatch(spark, lake, df, 0L, job))
    assert(e.getMessage.contains("quarantine is disabled"), e.getMessage)
  }

  test("a key-less DELETE (valid protocol: no replica identity) is skipped " +
    "AND counted — never quarantined, never lost from the delivery audit") {
    val job = JobConfig()
    val lake = mkLake(job)
    val readShape = StructType(schema.fields.map(_.copy(nullable = true)))
    val rows = Seq(
      Row(1L, 1L, ts(1), "INSERT", 1, "k1", Seq(1), Int.box(1), "web"),
      Row(2L, 1L, ts(2), "DELETE", 1, null, null, null, null), // keyless: skip
      Row(3L, 1L, ts(3), null, 1, null, null, null, null))     // null op: DLX
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), readShape)
    val res = MergeApply.applyBatch(spark, lake, df, 0L, job)
    assert(res.metrics("events_received") == 3L, "the skip still counts")
    assert(res.metrics("skipped_keyless_deletes") == 1L, res.metrics.toString)
    assert(res.metrics("events_quarantined") == 1L, res.metrics.toString)
    assert(lake.read(spark).count() == 1)
    val q = spark.read.parquet(lake.quarantineDir(0L)).collect()
    assert(q.length == 1 && q(0).getAs[String](MergeApply.QUARANTINE_REASON)
      .startsWith("unknown_op"), "only the null-op row reaches the DLX")
  }

  test("a TRANSFORM-introduced merge key with nulls: INSERT/UPDATE rows " +
    "quarantine post-transform, DELETE passthrough keeps flowing") {
    import graft.rules.AddPrimaryKey
    // keys become (doc_id, source) AFTER the rules run — the step-1 split
    // checks only doc_id, so a null source on INSERT would otherwise make
    // the CoW join insert a fresh undeletable row EVERY epoch
    val job = JobConfig(transforms = Seq(AddPrimaryKey(Seq("source"), 0)))
    val lake = mkLake(job)
    val readShape = StructType(schema.fields.map(_.copy(nullable = true)))
    val rows = Seq(
      Row(1L, 1L, ts(1), "INSERT", 1, "k1", Seq(1), Int.box(1), "web"),  // good
      Row(2L, 1L, ts(2), "INSERT", 1, "k2", Seq(1), Int.box(1), null),   // DLX
      Row(3L, 1L, ts(3), "DELETE", 1, "k3", null, null, null))           // flows
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), readShape)
    val res = MergeApply.applyBatch(spark, lake, df, 0L, job)
    assert(res.metrics("events_quarantined_post_transform") == 1L, res.metrics.toString)
    assert(lake.read(spark).count() == 1, "only the keyed INSERT lands")
    val q = lake.quarantine(spark).collect()
    assert(q.length == 1 && q(0).getAs[String](MergeApply.QUARANTINE_REASON)
      .contains("post-transform key"), q.mkString(";"))
    assert(q(0).getAs[Long]("_epoch") == MergeApply.POST_TRANSFORM_EPOCH_BASE)
    // quarantine=false: same detection, loud failure
    val lake2 = mkLake(job.copy(quarantine = false))
    val e = intercept[IllegalStateException](
      MergeApply.applyBatch(spark, lake2, df, 0L, job.copy(quarantine = false)))
    assert(e.getMessage.contains("post-transform merge key"), e.getMessage)
  }

  test("a SURVIVING merge key nulled by a value modifier quarantines " +
    "post-transform instead of merging an unmatchable null key") {
    // the key survives the pipeline BY NAME, so the old introduced-only
    // guard skipped it ("renames preserve values" — but modifiers don't):
    // under non-ANSI SQL a math_expression maps a non-null value to null
    // (x/0 → null), and the null-keyed INSERT used to reach the merge —
    // a fresh unmatchable row every epoch on CoW, null-grouped on MoR
    import graft.rules.ModifyColumn
    val job = JobConfig(keyCols = Seq("n_tok"),
      transforms = Seq(ModifyColumn("n_tok", "math_expression",
        expression = Some("value / 0"))))
    val lake = mkLake(job)
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val readShape = StructType(schema.fields.map(_.copy(nullable = true)))
      val in = Seq(Row(1L, 1L, ts(1), "INSERT", 1, "k1", Seq(1), Int.box(1), "web"))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(in, 1), readShape)
      val res = MergeApply.applyBatch(spark, lake, df, 0L, job)
      assert(res.metrics("events_quarantined_post_transform") == 1L,
        res.metrics.toString)
      assert(lake.read(spark).count() == 0, "the null-keyed INSERT must not merge")
      val q = lake.quarantine(spark).collect()
      assert(q.length == 1 && q(0).getAs[String](MergeApply.QUARANTINE_REASON)
        .contains("post-transform key"), q.mkString(";"))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("replayQuarantine on a POST-transform epoch strips the rule pipeline: " +
    "re-running a modifier on already-transformed rows would double-apply") {
    import graft.rules.{AddPrimaryKey, ModifyColumn}
    // pipeline: keys become (doc_id, source); n_tok doubles. A null source
    // quarantines POST-transform — with n_tok already doubled once.
    val job = JobConfig(transforms = Seq(
      AddPrimaryKey(Seq("source"), 0),
      ModifyColumn("n_tok", "math_expression",
        expression = Some("value * 2"), priority = 1)))
    val lake = mkLake(job)
    val readShape = StructType(schema.fields.map(_.copy(nullable = true)))
    val in = Seq(
      Row(1L, 1L, ts(1), "INSERT", 1, "k1", Seq(1), Int.box(1), "web"),
      Row(2L, 1L, ts(2), "INSERT", 1, "k2", Seq(1), Int.box(1), null)) // DLX
    val df = spark.createDataFrame(spark.sparkContext.parallelize(in, 2), readShape)
    MergeApply.applyBatch(spark, lake, df, 0L, job)
    val qEpoch = MergeApply.POST_TRANSFORM_EPOCH_BASE
    // the quarantine dir carries the post-transform marker file
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      lake.quarantineDir(qEpoch), MergeApply.POST_TRANSFORM_MARKER)))
    // drain with the SAME cfg — rules attached, exactly what an operator
    // passing --settings does; the engine must strip them, not re-run them
    val res = MergeApply.replayQuarantine(spark, lake, qEpoch, job,
      fix = _.withColumn("source", org.apache.spark.sql.functions.lit("fixed")))
    assert(!res.skipped)
    val out = lake.read(spark).where("doc_id = 'k2'").collect()
    assert(out.length == 1, out.mkString(";"))
    val nTok = out(0).getAs[Number]("n_tok").longValue
    assert(nTok == 2L, s"pipeline must run ONCE (n_tok=2), not twice: got $nTok")
  }

  test("the post-transform marker survives a stop_if_error throw mid-drain: " +
    "the re-quarantined rows stay marked (and lineage arithmetic covers a " +
    "crash that skips even the finally)") {
    import graft.rules.AddPrimaryKey
    val job = JobConfig(transforms = Seq(AddPrimaryKey(Seq("source"), 0)))
    val lake = mkLake(job)
    val readShape = StructType(schema.fields.map(_.copy(nullable = true)))
    val in = Seq(
      Row(1L, 1L, ts(1), "INSERT", 1, "k1", Seq(1), Int.box(1), "web"),
      Row(2L, 1L, ts(2), "INSERT", 1, "k2", Seq(1), Int.box(1), null)) // DLX
    val df = spark.createDataFrame(spark.sparkContext.parallelize(in, 2), readShape)
    MergeApply.applyBatch(spark, lake, df, 0L, job)
    val qEpoch = MergeApply.POST_TRANSFORM_EPOCH_BASE
    // drain WITHOUT fixing the null key, stop flag armed: applyBatch writes
    // the re-quarantined rows, THEN stop_if_error throws — the finally must
    // still mark the replay dir, or the next drain re-runs the rules on
    // pipeline output
    val stopJob = job.copy(errorPolicy = ErrorPolicy(stopOnInsertError = true))
    val replayEpoch = MergeApply.REPLAY_EPOCH_BASE + (qEpoch + 2) * 64 + 1
    intercept[IllegalStateException](
      MergeApply.replayQuarantine(spark, lake, qEpoch, stopJob, attempt = 1))
    assert(new java.io.File(lake.quarantineDir(replayEpoch)).isDirectory,
      "the still-bad row re-quarantined under the replay epoch")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      lake.quarantineDir(replayEpoch), MergeApply.POST_TRANSFORM_MARKER)),
      "marker propagated despite the throw")
    // a second drain — of the REPLAY epoch, rules attached — strips them and
    // lands the corrected row exactly once
    val res = MergeApply.replayQuarantine(spark, lake, replayEpoch, job,
      fix = _.withColumn("source", org.apache.spark.sql.functions.lit("fixed")),
      attempt = 2)
    assert(!res.skipped)
    assert(lake.read(spark).where("doc_id = 'k2'").count() == 1)
  }

  test("a pre-transform key REMOVED by remove_primary_key is not checked: " +
    "its null is data, not corruption (the table keys by the FINAL set)") {
    import graft.rules.{AddPrimaryKey, RemovePrimaryKey}
    // keys become (source) AFTER the rules run; doc_id stays as a payload
    // column. A null doc_id used to quarantine at step 1 — on a column that
    // is not a merge key of the table — silently diverging from a reference
    // that keys rows by the final key set only.
    val job = JobConfig(transforms = Seq(
      RemovePrimaryKey(Seq("doc_id"), 0), AddPrimaryKey(Seq("source"), 1)))
    val lake = mkLake(job)
    val readShape = StructType(schema.fields.map(_.copy(nullable = true)))
    val rows = Seq(
      Row(1L, 1L, ts(1), "INSERT", 1, null, Seq(1), Int.box(1), "web"), // lands
      Row(2L, 1L, ts(2), "INSERT", 1, "k2", Seq(1), Int.box(1), null))  // DLX: null FINAL key
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), readShape)
    val res = MergeApply.applyBatch(spark, lake, df, 0L, job)
    assert(res.metrics.getOrElse("events_quarantined", 0L) == 0L,
      s"null doc_id must NOT hit the raw DLX: ${res.metrics}")
    assert(res.metrics("events_quarantined_post_transform") == 1L, res.metrics.toString)
    val state = lake.read(spark).collect()
    assert(state.length == 1 && state(0).getAs[String]("doc_id") == null,
      s"the null-doc_id row lands keyed by source: ${state.mkString(";")}")
  }

  test("empty cfg.keyCols fails loudly by name, not with a bare empty.reduce") {
    val job = JobConfig(keyCols = Nil)
    val lake = mkLake(JobConfig())
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val e = intercept[IllegalArgumentException](
      MergeApply.applyBatch(spark, lake, df, 0L, job))
    assert(e.getMessage.contains("keyCols is empty"), e.getMessage)
  }

  test("a transform pipeline that removes EVERY merge key fails loudly") {
    import graft.rules.RemovePrimaryKey
    val job = JobConfig(transforms = Seq(RemovePrimaryKey(Seq("doc_id"), 0)))
    val lake = mkLake(JobConfig())
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val e = intercept[IllegalArgumentException](
      MergeApply.applyBatch(spark, lake, df, 0L, job))
    assert(e.getMessage.contains("removed every merge key"), e.getMessage)
  }

  test("a FULL LOAD whose transform pipeline removes every merge key fails " +
    "loudly by name, not with a bare empty.reduce from plan construction") {
    import graft.rules.RemovePrimaryKey
    val job = JobConfig(transforms = Seq(RemovePrimaryKey(Seq("doc_id"), 0)))
    val lake = mkLake(JobConfig())
    val snap = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("k1", Seq(1), Int.box(1), "web")), 1),
      StructType(ChangeEvent.defaultPayloadFields))
    val e = intercept[IllegalArgumentException](
      CdcRunner.fullLoad(spark, lake, snap, job))
    assert(e.getMessage.contains("removed every merge key"), e.getMessage)
  }

  test("replayQuarantine refuses a chain too deep for the epoch encoding " +
    "instead of wrapping Long and silently losing idempotence") {
    val lake = mkLake(JobConfig())
    val tooDeep = Long.MaxValue / 64 // (src+2)*64 alone would overflow
    val e = intercept[IllegalArgumentException](
      MergeApply.replayQuarantine(spark, lake, tooDeep, JobConfig()))
    assert(e.getMessage.contains("too deep"), e.getMessage)
  }

  test("draining the FULL-LOAD quarantine synthesizes the INSERT envelope " +
    "and strips the already-run rules — fixed snapshot rows land once") {
    import graft.rules.ModifyColumn
    import org.apache.spark.sql.functions._
    // the load's pipeline doubles n_tok; validatePayload would re-flag the
    // doubled value on the drain, so the strip matters twice here
    val job = JobConfig(transforms = Seq(
      ModifyColumn("n_tok", "math_expression",
        expression = Some("value * 2"), priority = 0)))
    val lake = mkLake(job)
    val snap = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("k1", Seq(1, 2), Int.box(2), "web"),
      Row(null, Seq(3), Int.box(1), "web")), 2),
      StructType(ChangeEvent.defaultPayloadFields.map(_.copy(nullable = true))))
    CdcRunner.fullLoad(spark, lake, snap, job)
    assert(lake.read(spark).count() == 1)
    // drain with the SAME cfg an operator's --settings would carry: the
    // engine must recognize the sentinel epoch (no marker file exists for
    // full-load dirs), add op/lsn/ts, and NOT double-apply the doubling
    val res = MergeApply.replayQuarantine(spark, lake,
      MergeApply.FULL_LOAD_EPOCH, job,
      fix = _.withColumn("doc_id", lit("k2fixed")))
    assert(!res.skipped && res.metrics.getOrElse("events_quarantined", 0L) == 0L,
      res.metrics.toString)
    val state = lake.read(spark).collect()
      .map(r => r.getAs[String]("doc_id") ->
        (r.getAs[Number]("n_tok").longValue, r.getAs[Long]("_lsn"))).toMap
    assert(state == Map("k1" -> ((4L, 0L)), "k2fixed" -> ((2L, 0L))),
      s"doubled ONCE, lsn 0 like the original load: $state")
    // idempotent: the same drain again is a no-op
    assert(MergeApply.replayQuarantine(spark, lake,
      MergeApply.FULL_LOAD_EPOCH, job).skipped)
  }

  test("a full-load replay dir left UNMARKED by a crash is still recognized " +
    "as post-transform (the lineage walk roots at the sentinel): the next " +
    "drain must not re-run the rules") {
    import graft.rules.ModifyColumn
    import org.apache.spark.sql.functions._
    val job = JobConfig(transforms = Seq(
      ModifyColumn("n_tok", "math_expression",
        expression = Some("value * 2"), priority = 0)))
    val lake = mkLake(job)
    val snap = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("k1", Seq(1, 2), Int.box(2), "web"),
      Row(null, Seq(3), Int.box(1), "web")), 2),
      StructType(ChangeEvent.defaultPayloadFields.map(_.copy(nullable = true))))
    CdcRunner.fullLoad(spark, lake, snap, job)
    // drain WITHOUT fixing the key: the still-bad row re-quarantines (with
    // the synthesized envelope) under the full-load chain's replay epoch
    val r1 = MergeApply.replayQuarantine(spark, lake,
      MergeApply.FULL_LOAD_EPOCH, job)
    assert(r1.metrics("events_quarantined") == 1L, r1.metrics.toString)
    val replayEpoch =
      MergeApply.REPLAY_EPOCH_BASE + (MergeApply.FULL_LOAD_EPOCH + 2) * 64
    // simulate the crash window the walk exists for: the finally's marker
    // write never happened
    val marker = java.nio.file.Paths.get(
      lake.quarantineDir(replayEpoch), MergeApply.POST_TRANSFORM_MARKER)
    assert(java.nio.file.Files.deleteIfExists(marker),
      "fixture must start from a marked replay dir")
    // draining the UNMARKED replay dir with rules attached: the lineage walk
    // resolves its chain to the sentinel and strips them — the doubling ran
    // ONCE in the original load, never again
    val r2 = MergeApply.replayQuarantine(spark, lake, replayEpoch, job,
      fix = _.withColumn("doc_id", lit("k2fixed")), attempt = 1)
    assert(!r2.skipped && r2.metrics.getOrElse("events_quarantined", 0L) == 0L,
      r2.metrics.toString)
    val n = lake.read(spark).where("doc_id = 'k2fixed'")
      .select("n_tok").head().getAs[Number](0).longValue
    assert(n == 2L, s"rules must NOT re-run on pipeline output: n_tok=$n")
  }

  test("a PARTIAL composite-key DELETE is malformed, not protocol: " +
    "quarantined as null_merge_key, unlike the all-null key-less skip") {
    val job = JobConfig(keyCols = Seq("doc_id", "source"))
    val lake = mkLake(job)
    val readShape = StructType(schema.fields.map(_.copy(nullable = true)))
    val rows = Seq(
      Row(1L, 1L, ts(1), "INSERT", 1, "k1", Seq(1), Int.box(1), "web"),
      Row(2L, 1L, ts(2), "DELETE", 1, null, null, null, null),  // skip
      Row(3L, 1L, ts(3), "DELETE", 1, "k2", null, null, null))  // partial: DLX
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), readShape)
    val res = MergeApply.applyBatch(spark, lake, df, 0L, job)
    assert(res.metrics("skipped_keyless_deletes") == 1L, res.metrics.toString)
    assert(res.metrics("events_quarantined") == 1L, res.metrics.toString)
    val q = spark.read.parquet(lake.quarantineDir(0L)).collect()
    assert(q.length == 1 && q(0).getAs[String](MergeApply.QUARANTINE_REASON)
      .startsWith("null_merge_key"), q.mkString(";"))
  }

  test("full-load snapshot rows with null merge keys quarantine under the " +
    "full-load epoch; quarantine=false fails the load") {
    val job = JobConfig()
    val lake = mkLake(job)
    val snap = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("k1", Seq(1, 2), Int.box(2), "web"),
      Row(null, Seq(3), Int.box(1), "web")), 2),
      StructType(ChangeEvent.defaultPayloadFields.map(_.copy(nullable = true))))
    CdcRunner.fullLoad(spark, lake, snap, job)
    assert(lake.read(spark).count() == 1, "only the keyed row loads")
    val q = spark.read.parquet(lake.quarantineDir(-1L)).collect()
    assert(q.length == 1 && q(0).getAs[String](MergeApply.QUARANTINE_REASON)
      .contains("full-load"), q.mkString(";"))
    // a base row with a null key would be undeletable under CoW forever
    val lake2 = mkLake(job.copy(quarantine = false))
    val e = intercept[IllegalStateException](
      CdcRunner.fullLoad(spark, lake2, snap, job.copy(quarantine = false)))
    assert(e.getMessage.contains("full load"), e.getMessage)
  }

  test("stop_if_insert_error: batch fails, nothing commits") {
    val job = JobConfig(errorPolicy = ErrorPolicy(stopOnInsertError = true))
    val lake = mkLake(job)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val ex = intercept[IllegalStateException](
      MergeApply.applyBatch(spark, lake, df, 0L, job))
    assert(ex.getMessage.contains("stop_if_error"))
    assert(!lake.isCommitted(0L))
    assert(lake.read(spark).count() == 0)
    // a copy-on-write batch (the default) throws from its stats BEFORE the
    // merge+write job: the epoch's data dir never receives a file
    assert(job.merge == MergeStrategy.CopyOnWrite)
    val dataDir = java.nio.file.Paths.get(lake.dataDir(0L))
    val written =
      if (!java.nio.file.Files.exists(dataDir)) Nil
      else {
        val walk = java.nio.file.Files.walk(dataDir)
        try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
        finally walk.close()
      }
    assert(written.isEmpty, s"merge wrote before the stop flag fired: $written")
  }

  test("quarantine=false: invariant violations fail the batch, never merge silently") {
    val job = JobConfig(quarantine = false)
    val lake = mkLake(job)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val ex = intercept[IllegalStateException](
      MergeApply.applyBatch(spark, lake, df, 0L, job))
    assert(ex.getMessage.contains("quarantine is disabled"))
    assert(!lake.isCommitted(0L))
    assert(lake.read(spark).count() == 0)
  }

  test("stop flag for a different op does not fire") {
    val job = JobConfig(errorPolicy = ErrorPolicy(stopOnDeleteError = true))
    val lake = mkLake(job)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val res = MergeApply.applyBatch(spark, lake, df, 0L, job)
    assert(!res.skipped && lake.isCommitted(0L))
  }

  test("quarantine(spark, epoch?) browses rows + reasons across epochs") {
    val job = JobConfig()
    val lake = mkLake(job)
    // empty DLX: empty frame with the contract columns, no exception
    val empty = lake.quarantine(spark)
    assert(empty.isEmpty && empty.columns.contains("_error_reason"))
    // two poisoned epochs → one browsable table with an _epoch column
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    MergeApply.applyBatch(spark, lake, df, 0L, job)
    // epoch 1's batch carries an EXTRA payload column (post-evolution feed
    // shape): the browse must still union both epochs (missing columns null)
    import org.apache.spark.sql.types._
    val schema2 = StructType(schema.fields :+ StructField("lang", StringType))
    val rows2 = Seq(
      Row(9L, 1L, ts(9), "FROB", 1, "k9", Seq(1), Int.box(1), "web", "en"))
    MergeApply.applyBatch(spark, lake,
      spark.createDataFrame(spark.sparkContext.parallelize(rows2, 1), schema2), 1L, job)
    val all = lake.quarantine(spark)
      .select("_epoch", "doc_id", MergeApply.QUARANTINE_REASON).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(all.map(t => (t._1, t._2)).toSeq == Seq((0L, "k2"), (1L, "k9")), s"$all")
    assert(all(0)._3.startsWith("payload_invariant") && all(1)._3.startsWith("unknown_op"))
    // the pre-evolution epoch's rows read the new column as null
    val langs = lake.quarantine(spark).select("_epoch", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs == Map(0L -> null, 1L -> "en"), s"$langs")
    // single-epoch filter
    assert(lake.quarantine(spark, Some(1L)).count() == 1)
  }

  test("quarantine carries per-row reasons; replayQuarantine re-drives corrected rows") {
    import org.apache.spark.sql.functions._
    val job = JobConfig()
    val lake = mkLake(job)
    // three distinct failures in one batch: n_tok mismatch, unknown op, plus a
    // good row — the DLX must say which row failed WHY (reference stores the
    // failing row + exception, apply_exceptions, Metadata/Query.py:66-81)
    val poison = Seq(
      Row(1L, 1L, ts(1), "INSERT", 1, "k1", Seq(1, 2), Int.box(2), "web"),
      Row(2L, 1L, ts(2), "INSERT", 1, "k2", Seq(1, 2, 3), Int.box(99), "web"), // bad n_tok
      Row(3L, 1L, ts(3), "FROB", 1, "k3", Seq(7), Int.box(1), "web"))          // bad op
    val df = spark.createDataFrame(spark.sparkContext.parallelize(poison, 2), schema)
    val res = MergeApply.applyBatch(spark, lake, df, 0L, job)
    assert(res.metrics("events_quarantined") == 2L)
    assert(lake.quarantinedEpochs == Seq(0L), "DLX inventory lists the epoch")
    val q = lake.readQuarantine(spark, 0L)
      .select("doc_id", MergeApply.QUARANTINE_REASON).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(q("k2").startsWith("payload_invariant"), s"reasons: $q")
    assert(q("k3") == "unknown_op: FROB", s"reasons: $q")

    // drain: fix both failure classes, re-drive under a replay epoch
    val replay = MergeApply.replayQuarantine(spark, lake, 0L, job,
      fix = d => d
        .withColumn("n_tok", size(col("tokens")))
        .withColumn("op", when(col("op") === "FROB", lit("INSERT")).otherwise(col("op"))))
    assert(!replay.skipped && replay.metrics("events_quarantined") == 0L)
    val state = lake.read(spark).collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[Int]("n_tok")).toMap
    assert(state == Map("k1" -> 2, "k2" -> 3, "k3" -> 1),
      s"corrected rows merged: $state")
    // same drain again: idempotent no-op (committed replay epoch)
    assert(MergeApply.replayQuarantine(spark, lake, 0L, job).skipped)
    // a half-fixed drain re-quarantines the still-bad rows WITH reasons
    val lake2 = mkLake(job)
    MergeApply.applyBatch(spark, lake2, df, 0L, job)
    val partial = MergeApply.replayQuarantine(spark, lake2, 0L, job,
      fix = d => d.withColumn("n_tok", size(col("tokens")))) // op left broken
    assert(partial.metrics("events_quarantined") == 1L)
    val requarantined = lake2.quarantinedEpochs.filter(_ != 0L)
    assert(requarantined.size == 1, s"replay epoch re-quarantined: $requarantined")
    val q2 = lake2.readQuarantine(spark, requarantined.head)
      .select(MergeApply.QUARANTINE_REASON).head().getString(0)
    assert(q2 == "unknown_op: FROB")
  }
}
