package graft.model

import org.apache.spark.sql.types._

/**
 * Core data model of the CDC/incremental-ingest engine.
 *
 * The change-event shape mirrors the reference's parsed logical-decoding events
 * (reference: trempy/Endpoints/Databases/PostgreSQL/Subclasses/CDCManager.py:65-114 —
 * op/schema/table/columns per event, DELETE carrying key only via `(no-tuple-data)`
 * at CDCManager.py:94-95), re-expressed as a typed Spark row over the target payload
 * `(doc_id, tokens, n_tok, source)` from BASELINE.json's input_hint.
 */
object ChangeEvent {
  val LSN = "lsn"
  val TXN_ID = "txn_id"
  val TS = "ts"
  val OP = "op"
  val DOC_ID = "doc_id"
  val SCHEMA_VER = "schema_ver"

  val INSERT = "INSERT"
  val UPDATE = "UPDATE"
  val DELETE = "DELETE"
  val OPS: Set[String] = Set(INSERT, UPDATE, DELETE)

  /** Envelope (non-payload) columns carried by every event. */
  val envelopeFields: Seq[StructField] = Seq(
    StructField(LSN, LongType, nullable = false),
    StructField(TXN_ID, LongType, nullable = false),
    StructField(TS, TimestampType, nullable = false),
    StructField(OP, StringType, nullable = false),
    StructField(SCHEMA_VER, IntegerType, nullable = false)
  )

  /** Default payload: pre-tokenized training sequences (BASELINE.json input_hint). */
  val defaultPayloadFields: Seq[StructField] = Seq(
    StructField(DOC_ID, StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType), nullable = true),
    StructField("n_tok", IntegerType, nullable = true),
    StructField("source", StringType, nullable = true)
  )

  def schema(payload: Seq[StructField] = defaultPayloadFields): StructType =
    StructType(envelopeFields ++ payload)
}

/** CDC apply mode — reference: trempy/.../CDCOperationsHandler.py:88-123 mode dispatch. */
sealed trait CdcMode
object CdcMode {
  /** Literal replay of ops; final-state-equivalent to LWW upsert after per-key reduction
    * (reference: CDCOperationsHandler.py:125-169). */
  case object Default extends CdcMode
  /** INSERT/UPDATE upsert + DELETE (reference: CDCOperationsHandler.py:171-214). */
  case object Upsert extends CdcMode
  /** Type-2 SCD history (reference: CDCOperationsHandler.py:216-277). */
  case object Scd2 extends CdcMode

  def parse(s: String): CdcMode = s.toLowerCase(java.util.Locale.ROOT) match {
    case "default" => Default
    case "upsert"  => Upsert
    case "scd2"    => Scd2
    case other     => throw new IllegalArgumentException(s"unknown cdc_mode: $other")
  }
}

/**
 * How the LWW merge lands on the lake table.
 *
 * CopyOnWrite rewrites every affected bucket per batch — reads stay plain
 * scans, but under zipf skew at 10^10-event scale nearly every bucket is
 * touched every epoch and write amplification approaches a full-table rewrite
 * per batch. MergeOnRead writes the reduced change set as per-bucket DELTA
 * files (O(batch) bytes per commit, no base read, no bucket rewrite) and defers
 * resolution to read time + background compaction folding (LakeTable.compact).
 * Both CDC modes support both strategies: LWW tables resolve deltas by per-key
 * max-LSN, SCD2 tables commit raw version rows as deltas and rebuild the
 * end_date/current chain at read time (manifest tableMode picks the fold).
 */
sealed trait MergeStrategy
object MergeStrategy {
  case object CopyOnWrite extends MergeStrategy
  case object MergeOnRead extends MergeStrategy
  def parse(s: String): MergeStrategy = s.toLowerCase(java.util.Locale.ROOT) match {
    case "copy_on_write" | "cow" => CopyOnWrite
    case "merge_on_read" | "mor" => MergeOnRead
    case other => throw new IllegalArgumentException(s"unknown merge strategy: $other")
  }
  /** canonical settings-file name; round-trips through [[parse]] */
  def name(m: MergeStrategy): String = m match {
    case CopyOnWrite => "cow"
    case MergeOnRead => "mor"
  }
}

/** Per-op-type stop-or-continue flags —
  * reference: trempy/Tasks/Task.py:43-99 (stop_if_*_error) and
  * CDCOperationsHandler.py:25-30,783-801. */
case class ErrorPolicy(
    stopOnInsertError: Boolean = false,
    stopOnUpdateError: Boolean = false,
    stopOnDeleteError: Boolean = false,
    stopOnUpsertError: Boolean = false,
    stopOnScd2Error: Boolean = false) {
  /** Any stop_if_*_error flag is set: a bad row can fail the batch. */
  def stopsOnAnyError: Boolean =
    stopOnInsertError || stopOnUpdateError || stopOnDeleteError ||
      stopOnUpsertError || stopOnScd2Error
}

/** SCD2 engine-managed column names —
  * reference: trempy/Replication/Strategies/ReplicationStrategy.py:125-216. */
case class ScdCols(
    startDate: String = "scd_start_date",
    endDate: String = "scd_end_date",
    current: String = "scd_current")

/**
 * One replication job's immutable configuration (the reference's Task+Table settings,
 * trempy/Tasks/Task.py:43-99 + trempy/Tables/Table.py:30-54), compiled once at job start.
 */
case class JobConfig(
    mode: CdcMode = CdcMode.Upsert,
    keyCols: Seq[String] = Seq(ChangeEvent.DOC_ID),
    merge: MergeStrategy = MergeStrategy.CopyOnWrite,
    buckets: Int = 64,
    filters: Seq[graft.rules.FilterCfg] = Nil,
    transforms: Seq[graft.rules.TransformCfg] = Nil,
    errorPolicy: ErrorPolicy = ErrorPolicy(),
    scdCols: ScdCols = ScdCols(),
    /** true: route rows violating payload invariants (bad op, n_tok != size(tokens))
      * to the quarantine table and continue — reference DLX analogue
      * (trempy/Messages/MessageDlx.py:57-83). false: any violation fails the batch.
      * Detection always runs; this flag only picks the routing. */
    quarantine: Boolean = true,
    /** true: copy-on-write commits also persist their reduced per-key change
      * set as a per-epoch change sidecar, so LakeTable.changeLog serves
      * CDC-out from CoW tables too (merge-on-read deltas ARE the change set
      * and need no sidecar). Off by default: it adds one O(batch) write per
      * epoch to the CoW hot path; changeLog fails loudly — never silently
      * empty — when asked for a window containing unrecorded CoW commits. */
    changeFeed: Boolean = false,
    /** false: skip the tokens/n_tok payload invariant in the quarantine
      * split (op and merge-key checks still run). For ALREADY-VALIDATED
      * rows — LakeSync windows replaying a source's change feed, where a
      * legitimately null-filled payload (a row ingested before the column
      * existed) would otherwise quarantine on the mirror and silently
      * diverge it from the source that accepted the row. Raw feeds keep
      * the default. */
    validatePayload: Boolean = true)
