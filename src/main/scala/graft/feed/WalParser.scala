package graft.feed

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Parser for PostgreSQL `test_decoding` logical-decoding text lines — the
 * reference's entire wire format (trempy/.../CDCManager.py:65-114):
 *
 * {{{
 *   BEGIN 1234
 *   table corpus.documents: INSERT: doc_id[character varying]:'doc-1' n_tok[integer]:3
 *   table corpus.documents: DELETE: (no-tuple-data)
 *   COMMIT 1234
 * }}}
 *
 * Input is the raw slot-read shape `(lsn: long, xid: long, data: string)`
 * (pg_logical_slot_get_changes, QueryPostgreSQL.py:132-135). Everything is
 * Catalyst string expressions — no per-row driver loop, fully codegen'd, so
 * the parse scales with the scan:
 *
 *  - committed-DML-only: a txn's rows survive only if a COMMIT line with the
 *    same xid exists (left-semi join; the reference scans BEGIN..COMMIT
 *    serially, CDCManager.py:27-63);
 *  - the column tokenizer is the reference's regex (CDCManager.py:100-102):
 *    `name[type]:value` tokens, values possibly quoted with embedded spaces;
 *  - DELETE `(no-tuple-data)` ⇒ all payload columns null (CDCManager.py:94-95);
 *  - quoted values: outer quotes stripped AND doubled quotes unescaped
 *    (''→' — test_decoding escapes quotes by doubling; the reference strips
 *    only the outer pair, a decode bug we do not replicate);
 *  - literal `null` ⇒ SQL NULL (CDCManager.py:108-110);
 *  - stringly values cast to the declared payload type (the reference's
 *    per-scalar convert_value loop, Datatype.py:24-35, here one columnar cast);
 *    PG array literals `{1,2,3}` are decoded for array-typed payload fields.
 *
 * Known limitation (shared with the reference's regex, CDCManager.py:80):
 * QUOTED identifiers containing '.' or ':' (`table "my.schema"."weird:name"`)
 * misparse the schema/table split — avoid such names on replicated tables.
 */
object WalParser {

  /** Line shape (re.match ⇒ anchored at start) — CDCManager.py:80. (?s):
    * test_decoding does NOT escape newlines inside quoted text values, so
    * the rest group must span them — default '.' stops at \n and every
    * column after the newline would extract as silently-NULL. */
  val LINE_RE = "(?s)^table\\s+([^.]+)\\.([^:]+):\\s+(INSERT|UPDATE|DELETE):\\s+(.+)"

  /** Column token `name[type]:value` — CDCManager.py:100-102. The type group
    * is non-greedy up to `]:` (vs the reference's `[^\]]+`) so array types like
    * `integer[]` tokenize too — the reference only ever sees scalar types. */
  val COL_RE = "([^\\s\\[]+)\\[(.+?)\\]:([^'\\s]*(?:'[^']*'[^'\\s]*)*)(?=\\s|$)"

  /** [[LINE_RE]] with the tuple-data group OPTIONAL — the one-pass
    * [[graft.functions.WalLine]] matcher's pattern: a truncated DML line
    * (`table s.t: INSERT:` with nothing after the op colon) still matches,
    * with a null rest group, so ONE matcher pass replaces the old
    * rlike-prefilter + per-group regexp_extract chain while keeping the
    * truncated-line quarantine contract. */
  private[graft] val LINE_OPT_RE =
    "(?s)^table\\s+([^.]+)\\.([^:]+):\\s+(INSERT|UPDATE|DELETE):(?:\\s+(.+))?"

  val rawSchema: StructType = StructType(Seq(
    StructField("lsn", LongType, nullable = false),
    StructField("xid", LongType, nullable = false),
    StructField("data", StringType, nullable = false)))

  /** Cast a cleaned string to the payload type; PG array literal for arrays.
    * Elements may be PG-double-quoted (mandatory for strings containing the
    * separator/braces/quotes; psycopg2 and [[graft.feed.EnvelopeSource
    * .toMessages]] both emit that form) — a bare split(",") would silently
    * change such an array's cardinality AND values. Quoted elements unescape
    * `\"` and `\\` after the quotes strip.
    *
    * Quote-free literals (every numeric array — the overwhelmingly common
    * shape) take a split-based fast path instead of the backtracking
    * tokenizer regex: identical values, because without quotes the tokenizer
    * is exactly "split on commas, skip empty runs" (PG quotes any element
    * containing a comma, quote or backslash, so nothing needs unescaping on
    * this branch). Measured ~2.5× on the sf0.1 WAL fixture's token arrays. */
  private[feed] def castToken(s: Column, dt: DataType): Column = dt match {
    case ArrayType(_, _) =>
      val inner = regexp_replace(s, "^\\{|\\}$", "")
      val slowToks = regexp_extract_all(inner,
        lit("\"(?:[^\"\\\\]|\\\\.)*\"|[^,]+"), lit(0))
      val slow = transform(slowToks, t =>
        // PG renders a null ELEMENT as unquoted NULL (a real string "NULL"
        // arrives quoted) — without this branch the cast to a numeric
        // element type dies under ANSI / nulls silently under non-ANSI
        when(t === "NULL", lit(null).cast(StringType))
          .when(t.startsWith("\"") && t.endsWith("\"") && length(t) >= 2,
            regexp_replace(t.substr(lit(2), length(t) - 2), "\\\\(.)", "$1"))
          .otherwise(t))
      // no quotes ⇒ no escapes either (a backslash only appears inside a
      // quoted element on PG's wire); the empty-run filter matches the
      // tokenizer's [^,]+ (which can never yield an empty token)
      val fast = transform(
        filter(split(inner, ","), t => length(t) > 0),
        t => when(t === "NULL", lit(null).cast(StringType)).otherwise(t))
      when(s.isNull, lit(null).cast(dt))
        .when(length(inner) === 0, array().cast(dt))
        .otherwise(when(instr(inner, "\"") === 0, fast).otherwise(slow).cast(dt))
    case _ => s.cast(dt)
  }

  /**
   * Parse raw slot lines into typed change events.
   *
   * @param raw      (lsn, xid, data) frame — batch or streaming
   * @param payload  declared payload schema (name → Spark type)
   * @param tsOfLsn  deterministic event timestamp from the LSN (test_decoding
   *                 lines carry none; replay-stable by construction)
   * @return events: (lsn, txn_id, ts, op, schema_ver, schema_name, table_name,
   *         payload…) — committed DML only, `(no-tuple-data)` DELETEs carry
   *         null payload
   */
  def parse(
      raw: DataFrame,
      payload: StructType,
      schemaVer: Int = 1,
      tsOfLsn: Column => Column = l => timestamp_seconds(lit(1700000000L) + l)): DataFrame =
    parseCore(raw, payload, _ => lit(schemaVer), tsOfLsn)


  private val CommitPrefix = "COMMIT"

  /** A COMMIT line: its transaction is complete. */
  private[graft] def isCommitLine(data: String): Boolean =
    data != null && data.startsWith(CommitPrefix)

  /** The transaction a slot row belongs to: its xid column, else the xid in
    * the COMMIT line's own text (`COMMIT 1234`, test_decoding include-xids).
    * The text is authoritative: without it a corrupt commit row (quarantined
    * as a marker) would orphan its whole transaction. NULL for any other
    * NULL-xid line. The one definition behind the parse's committed-only
    * semi-join ([[commitXids]]) and the grouping key of [[WalTransactions]]. */
  private[graft] val txnOf: Column = {
    val fromText = regexp_extract(col("data"), "^COMMIT\\s+(\\d+)", 1)
    coalesce(col("xid"), when(length(fromText) > 0, fromText.cast(LongType)))
  }

  /** Distinct xids whose COMMIT line is present ([[txnOf]] of each COMMIT
    * line). */
  private[graft] def commitXids(raw: DataFrame): DataFrame =
    raw.filter(col("data").startsWith(CommitPrefix))
      .select(txnOf.as("xid"))
      .filter(col("xid").isNotNull)
      .distinct()

  private def parseCore(
      raw: DataFrame,
      payload: StructType,
      verOf: (String => Column) => Column,
      tsOfLsn: Column => Column): DataFrame = {
    // committed transactions: xids that produced a COMMIT line
    val commits = commitXids(raw)
    // lines of a transaction evicted by timeout ([[WalTransactions]]) parse
    // like any other, with the op marked so the merge quarantines them
    val orphan = if (raw.columns.contains("_orphan")) col("_orphan") else lit(false)
    // ONE materialized layer per regex pass, TWO passes per line total
    // (line match + tuple tokenize, both single-expression natives —
    // [[graft.functions.WalLine]] / [[graft.functions.WalTokens]]): the
    // aliases below are non-cheap and multiply-consumed, so CollapseProject
    // keeps each projection and every downstream access is a plain struct
    // field / map lookup. (Two earlier shapes each cost more: a Catalyst
    // map BUILD re-run per payload field — ~0.4 ms/row — and then an rlike
    // prefilter + one regexp_extract per LINE_RE group = five anchored
    // matcher runs per line where one suffices.)
    //
    // _ln is NULL for non-DML lines (BEGIN/COMMIT/TRUNCATE — the matcher
    // fails at the first literal), which the filter below drops exactly
    // like the old DML-prefix rlike; a TRUNCATED line (DML prefix, nothing
    // after the op colon) matches with a null rest instead, so it routes to
    // quarantine rather than vanishing as another table's traffic.
    //
    // LAST occurrence wins on duplicate column names (WalTokens): a
    // primary-key UPDATE (or REPLICA IDENTITY FULL) emits `old-key: id[..]:1
    // new-tuple: id[..]:2` — the same name twice; last-wins picks the
    // new-tuple value, like the reference's dict building
    // (CDCManager.py:100-110 — later assignments overwrite). A
    // `(no-tuple-data)` DELETE yields zero tokens ⇒ every payload column
    // NULL, same as the old empty-map branch. Values arrive CLEANED from
    // the tokenizer (quotes stripped, '' unescaped, literal null ⇒ NULL) —
    // the old per-field cleanToken column tree, fused into the same pass.
    val lined = raw
      .select(col("lsn"), col("xid"),
        graft.functions.WalTokens.wal_line(col("data")).as("_ln"),
        orphan.as("_orphan"))
      .filter(col("_ln").isNotNull)
      .join(commits, Seq("xid"), "left_semi")
    val tokenized = lined.select(
      col("lsn"), col("xid"),
      col("_ln.op").as("_op"),
      col("_ln.schema").as("_schema"),
      col("_ln.table").as("_table"),
      col("_ln.rest").isNull.as("_truncated"),
      col("_orphan"),
      graft.functions.WalTokens.wal_tokens(col("_ln.rest")).as("_kv"))
    val kv = col("_kv")
    val typedPayload = payload.fields.toSeq.map { f =>
      castToken(element_at(kv, f.name), f.dataType).as(f.name)
    }

    // Truncated lines (DML prefix, no tuple data after the op colon): NULL
    // the op and the route, so the row quarantines as unknown_op with its
    // lsn/xid intact — routed() keeps NULL-route rows alive exactly for
    // this.
    val truncated = col("_truncated")
    def orNull(c: Column): Column =
      when(truncated, lit(null).cast(StringType)).otherwise(c)
    def orphanMarked(op: Column): Column =
      when(col("_orphan"), concat(lit(graft.apply.MergeApply.ORPHANED_OP_PREFIX), op))
        .otherwise(op)
    val parsed = tokenized.select(Seq(
      col("lsn"),
      col("xid").as(graft.model.ChangeEvent.TXN_ID),
      tsOfLsn(col("lsn")).as(graft.model.ChangeEvent.TS),
      orphanMarked(orNull(upper(col("_op")))).as(graft.model.ChangeEvent.OP),
      verOf(m => map_contains_key(kv, m)).as(graft.model.ChangeEvent.SCHEMA_VER),
      orNull(col("_schema")).as("schema_name"),
      orNull(col("_table")).as("table_name")) ++ typedPayload: _*)

    // Slot rows with a NULL xid or NULL data are CORRUPTION — the slot-read
    // shape declares both non-null, but file sources don't enforce
    // nullability. Every join in this parse keys on xid, where NULL never
    // matches: a bare parse would drop such a line with no quarantine and no
    // count, the exact silent vanishing the envelope wire's corrupt-message
    // marker exists to prevent. Same contract here: one null-op marker row
    // per corrupt line (lsn/xid kept for inspection) that the merge's
    // quarantine split records as unknown_op.
    val markers = raw.filter(col("xid").isNull || col("data").isNull)
      .select(Seq(
        col("lsn"),
        col("xid").as(graft.model.ChangeEvent.TXN_ID),
        lit(null).cast(TimestampType).as(graft.model.ChangeEvent.TS),
        lit(null).cast(StringType).as(graft.model.ChangeEvent.OP),
        lit(null).cast(IntegerType).as(graft.model.ChangeEvent.SCHEMA_VER),
        lit(null).cast(StringType).as("schema_name"),
        lit(null).cast(StringType).as("table_name")) ++
        payload.fields.toSeq.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
    parsed.unionByName(markers)
  }

  /**
   * Mixed-version streams (one stream, no restart): the wire format carries
   * column names inline, so a batch interleaving schema_ver 1 and 2 rows
   * parses against the UNION of every registered version's columns — a row
   * simply yields NULL for columns its line does not carry — and each row's
   * `schema_ver` is detected from the presence of that version's marker
   * columns (highest version whose added/renamed-to names appear in the
   * line). Renamed columns are then folded `coalesce(new, old)` into their
   * final name and widened columns cast, so the emitted frame has exactly the
   * LATEST version's payload shape regardless of which generation each row
   * came from. Feeding this through the schema registry evolves the lake the
   * moment the first v2 row arrives — mid-batch, not at a restart boundary.
   */
  def parseVersioned(
      raw: DataFrame,
      basePayload: StructType,
      registry: Map[Int, Seq[graft.lake.SchemaChange]],
      tsOfLsn: Column => Column = l => timestamp_seconds(lit(1700000000L) + l)): DataFrame = {
    val p = VersionedPayload.plan(basePayload, registry)
    if (!p.versioned) return parse(raw, basePayload, 1, tsOfLsn)
    val parsed = parseCore(raw, p.union, VersionedPayload.verOf(p), tsOfLsn)
    val envelope = Seq(col("lsn"), col(graft.model.ChangeEvent.TXN_ID),
      col(graft.model.ChangeEvent.TS), col(graft.model.ChangeEvent.OP),
      col(graft.model.ChangeEvent.SCHEMA_VER),
      col("schema_name"), col("table_name"))
    parsed.select(envelope ++ VersionedPayload.foldCols(p): _*)
  }

  /** [[parseVersioned]] routed to one configured table. Routing shares
    * [[EnvelopeSource.routed]]: a bare equality filter would silently drop
    * the corrupt-line marker rows (NULL route) this parse keeps alive. */
  def parseVersionedForTable(
      raw: DataFrame,
      basePayload: StructType,
      registry: Map[Int, Seq[graft.lake.SchemaChange]],
      schemaName: String,
      tableName: String): DataFrame =
    EnvelopeSource.routed(parseVersioned(raw, basePayload, registry),
      schemaName, tableName)

  /** Parse + route to one configured table (drop others), yielding the exact
    * ChangeEvent envelope+payload shape CdcRunner/MergeApply consume (see
    * [[parseVersionedForTable]] on why routing keeps NULL-route rows). */
  def parseForTable(
      raw: DataFrame,
      payload: StructType,
      schemaName: String,
      tableName: String,
      schemaVer: Int = 1): DataFrame =
    EnvelopeSource.routed(parse(raw, payload, schemaVer), schemaName, tableName)
}
