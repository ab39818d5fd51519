package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.ChangeEvent

/**
 * The stored-row layout: how a change event becomes a row of a lake table and
 * back. Every table row is its payload plus engine columns:
 *   - `_lsn`: the LSN of the event that wrote the row. The merge is
 *     last-writer-wins on it, so a replayed or re-ordered epoch re-applies
 *     idempotently and an older change never regresses a newer row;
 *   - `_deleted`: a DELETE's tombstone, kept so a late older INSERT cannot
 *     resurrect the key. Public reads filter it out;
 *   - SCD2 tables only, before those two: the validity columns
 *     `(start, end, current)` named by the manifest's `scdCols`. Each event is
 *     one version row; the stored-row fold ([[LakeTable.resolveStored]])
 *     rebuilds `end` and `current` from the key's LSN-ordered chain.
 *
 * The table schema, the full load, both merge modes and the lake→lake sync
 * read-back all go through these four functions.
 */
object StoredRows {

  /** `payload` plus the engine columns of a table whose SCD2 validity columns
    * are `scdCols` (empty: a last-writer-wins table). */
  def tableSchema(payload: StructType, scdCols: Seq[String]): StructType =
    StructType(payload.fields ++
      scdCols.zip(Seq(TimestampType, TimestampType, IntegerType)).map { case (c, t) =>
        StructField(c, t)
      } ++ Seq(StructField("_lsn", LongType), StructField("_deleted", BooleanType)))

  /** The payload fields of `m`'s current schema: neither an engine column
    * (leading underscore) nor an SCD2 validity column. */
  private def payload(m: Manifest): Seq[GraftField] =
    m.currentSchema.fields.filterNot(f => f.name.startsWith("_") || m.scdCols.contains(f.name))

  /** Project change events onto `op`, `lsn`, `ts` and then `m`'s payload in
    * table order: a payload column the events lack (an older schema_ver)
    * is null-filled, a widened one is cast — the reference's per-batch
    * null-fill of missing source columns (trempy/Tables/Table.py:73-100).
    * ONE select, not a withColumn per field: each withColumn stacks another
    * Project the analyzer re-walks on every per-epoch action. */
  def align(events: DataFrame, m: Manifest): DataFrame = {
    val have = events.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = payload(m).map { f =>
      have.get(f.name) match {
        case Some(dt) if dt == f.dataType => col(f.name)
        case Some(_) => col(f.name).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    events.select(Seq(ChangeEvent.OP, ChangeEvent.LSN, ChangeEvent.TS).map(col) ++ cols: _*)
  }

  /** Aligned change events → stored rows of `m`. Last-writer-wins: a DELETE
    * keeps only its `keys` (a tombstone's payload is null on every storage
    * strategy). SCD2: the event is a version row starting at its `ts`, with
    * end and current left for the fold. `_bucket` passes through. */
  def fromEvents(events: DataFrame, m: Manifest, keys: Seq[String]): DataFrame = {
    val deleted = col(ChangeEvent.OP) === ChangeEvent.DELETE
    val payloadCols = payload(m).map(_.name)
    val rowCols =
      if (m.tableMode == Manifest.SCD2) {
        val Seq(start, end, current) = m.scdCols
        payloadCols.map(col) ++ Seq(
          col(ChangeEvent.TS).cast(TimestampType).as(start),
          lit(null).cast(TimestampType).as(end),
          lit(0).as(current))
      } else payloadCols.map { c =>
        if (keys.contains(c)) col(c) else when(deleted, lit(null)).otherwise(col(c)).as(c)
      }
    val bucket = if (events.columns.contains("_bucket")) Seq(col("_bucket")) else Nil
    events.select(rowCols ++ Seq(col(ChangeEvent.LSN).as("_lsn"), deleted.as("_deleted")) ++
      bucket: _*)
  }

  /** Stored rows (a change window of a last-writer-wins table) → change
    * events: a tombstone is a DELETE, every other row an UPDATE carrying its
    * `_lsn`; `ts` is null. */
  def toEvents(rows: DataFrame): DataFrame = {
    val payloadCols = rows.columns.filterNot(_.startsWith("_"))
    // the change-event envelope reserves op/lsn/ts: a payload column sharing
    // one of those names (constructible via the direct LakeTable API — the
    // ingest paths cannot produce it) would make this select emit DUPLICATE
    // column names and wedge every incremental window on AMBIGUOUS_REFERENCE.
    // Refuse loudly with the remedy instead of a permanent mid-stream wedge.
    val clash = payloadCols.filter(Set(ChangeEvent.OP, ChangeEvent.LSN, ChangeEvent.TS))
    require(clash.isEmpty,
      s"lake→lake sync: source payload column(s) ${clash.mkString(",")} " +
        "collide with the change-event envelope (op/lsn/ts) — rename the " +
        "column(s) at the source; this table's change windows cannot be " +
        "expressed as change events")
    rows.select(payloadCols.map(col) ++ Seq(
      when(col("_deleted"), lit(ChangeEvent.DELETE))
        .otherwise(lit(ChangeEvent.UPDATE)).as(ChangeEvent.OP),
      col("_lsn").as(ChangeEvent.LSN),
      lit(null).cast(TimestampType).as(ChangeEvent.TS)): _*)
  }
}
