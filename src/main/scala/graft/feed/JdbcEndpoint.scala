package graft.feed

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/**
 * JDBC source/target endpoints — the reference's live-database surface:
 * full-table snapshot scan (`SELECT * FROM {schema}.{table}`,
 * trempy/Shared/Queries/QueryPostgreSQL.py:78-81 via
 * FullLoadHandler.get_full_load_from_table, FullLoadHandler.py:87-125) and the
 * bulk-insert target (`execute_values` pages of 10000,
 * FullLoadHandler.py:32-78).
 *
 * Spark-first re-expression: `spark.read.jdbc` with an optional partitioned
 * read (predicate-split parallel scan — the reference reads the whole table on
 * one connection) and `DataFrame.write.jdbc` with `batchsize` as the page
 * size. At cluster scale the partitioned read is what makes a 10^9-row
 * snapshot feasible: N executors each pull one key range.
 */
object JdbcEndpoint {

  case class Conn(url: String, properties: Map[String, String] = Map.empty) {
    def props: java.util.Properties = {
      val p = new java.util.Properties()
      properties.foreach { case (k, v) => p.setProperty(k, v) }
      p
    }
  }

  /** Full-table snapshot (reference S1). Single-connection read. */
  def snapshot(spark: SparkSession, conn: Conn, table: String): DataFrame =
    spark.read.jdbc(conn.url, table, conn.props)

  /**
   * Partitioned snapshot: numPartitions parallel range scans over a numeric
   * column — bounds discovered with one min/max round-trip when not given.
   */
  def snapshotPartitioned(
      spark: SparkSession, conn: Conn, table: String,
      partitionColumn: String, numPartitions: Int,
      bounds: Option[(Long, Long)] = None): DataFrame = {
    val discovered = bounds.orElse {
      // identifier double-quoted: JDBC writers quote column names, so the
      // stored identifier is case-exact (unquoted would fold per dialect)
      val r = spark.read.jdbc(conn.url,
        s"""(SELECT MIN("$partitionColumn") AS lo, MAX("$partitionColumn") AS hi FROM $table) b""",
        conn.props).head()
      // MIN/MAX are SQL NULL on an empty table — no ranges to split
      if (r.isNullAt(0) || r.isNullAt(1)) None
      else Some((r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue()))
    }
    discovered match {
      case Some((lo, hi)) =>
        spark.read.jdbc(conn.url, table, partitionColumn, lo, hi, numPartitions, conn.props)
      case None => snapshot(spark, conn, table) // empty: plain (empty) read
    }
  }

  /** Bulk insert (reference S6): target table created if absent, rows appended
    * in `batchSize` pages (the reference's execute_values page_size=10000). */
  def bulkInsert(df: DataFrame, conn: Conn, table: String,
      batchSize: Int = 10000, overwrite: Boolean = false): Unit =
    df.write
      .option("batchsize", batchSize)
      .option("truncate", "true") // reference truncate mode, TableManager.py:28-99
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .jdbc(conn.url, table, conn.props)

  /** ANSI SQL type for a column in the synthesized target DDL. */
  private def sqlType(dt: DataType, varcharLen: Int): String = dt match {
    case StringType     => s"VARCHAR($varcharLen)"
    case IntegerType    => "INTEGER"
    case LongType       => "BIGINT"
    case ShortType      => "SMALLINT"
    // "DOUBLE PRECISION", not "DOUBLE": PostgreSQL (the reference's target)
    // has no bare DOUBLE type; Derby/H2 accept both spellings
    case DoubleType     => "DOUBLE PRECISION"
    case FloatType      => "REAL"
    case BooleanType    => "BOOLEAN"
    case TimestampType  => "TIMESTAMP"
    case DateType       => "DATE"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other =>
      throw new IllegalArgumentException(s"no JDBC target DDL mapping for $other")
  }

  /**
   * Synthesize the target CREATE TABLE — the reference's TableCreator
   * (trempy/Shared/TableCreator.py:20-105): typed columns with explicit
   * VARCHAR lengths, NOT NULL on key columns, and a PRIMARY KEY clause.
   * Column identifiers are double-quoted (case-exact, matching what the
   * Spark JDBC writer emits on insert); the table identifier is left to the
   * dialect's folding, like [[bulkInsert]]'s auto-created tables.
   */
  def createTableDdl(table: String, schema: StructType, keyCols: Seq[String],
      varcharLen: Int = 255): String = {
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"primary-key column '$k' not in schema"))
    val cols = schema.fields.map { f =>
      val notNull = if (keyCols.contains(f.name) || !f.nullable) " NOT NULL" else ""
      s""""${f.name}" ${sqlType(f.dataType, varcharLen)}$notNull"""
    }
    val pk =
      if (keyCols.isEmpty) ""
      else keyCols.mkString(", PRIMARY KEY (\"", "\", \"", "\")")
    s"CREATE TABLE $table (${cols.mkString(", ")}$pk)"
  }

  /** Create the target table with its primary key if absent. Returns true
    * when this call created it. Unlike the writer's auto-created table
    * (no constraints), a full load lands in a properly keyed target —
    * reference behavior (TableCreator.py:20-105). */
  def ensureTable(conn: Conn, table: String, schema: StructType,
      keyCols: Seq[String], varcharLen: Int = 255): Boolean = {
    val c = java.sql.DriverManager.getConnection(conn.url, conn.props)
    try {
      // the DDL emits the table identifier unquoted, so the dialect folds it
      // (Derby/H2/Oracle: upper; Postgres: lower) — probe all three casings or
      // a second call would see "not exists" and throw 'table already exists'.
      // getTables takes PATTERNS: a schema-qualified "public.users" must split
      // into (schemaPattern, tablePattern) — as a table pattern it matches
      // nothing and every rerun re-issues CREATE TABLE — and LIKE wildcards
      // in real names ('_' in my_data) must be escaped, or a different
      // existing table (my1data) false-matches and creation is skipped
      val md = c.getMetaData
      val (schemaPart, namePart) = table.split("\\.", 2) match {
        case Array(s, n) => (Option(s), n)
        case _           => (None, table)
      }
      // the pattern narrows the listing; existence is decided by EXACT name
      // equality on the result rows — drivers differ on escape handling, and
      // trusting LIKE semantics lets '_' in a real name (MY_DATA) false-match
      // a sibling (MY1DATA) and skip creation
      // types=Array("TABLE"): a same-named VIEW/synonym would otherwise
      // suppress creation and the inserts would aim at the view — with the
      // restriction, CREATE TABLE runs and the database names the collision
      // loudly instead
      def found(fold: String => String): Boolean = scala.util.Using.resource(
        md.getTables(null, schemaPart.map(fold).orNull, fold(namePart),
          Array("TABLE"))) { rs =>
        var hit = false
        while (!hit && rs.next())
          hit = rs.getString("TABLE_NAME") == fold(namePart) &&
            schemaPart.forall(s => fold(s) == rs.getString("TABLE_SCHEM"))
        hit
      }
      val exists = Seq[String => String](identity, _.toUpperCase, _.toLowerCase)
        .exists(found)
      if (!exists)
        scala.util.Using.resource(c.createStatement())(
          _.execute(createTableDdl(table, schema, keyCols, varcharLen)))
      !exists
    } finally c.close()
  }

  /** Full load into a keyed JDBC target: DDL with PRIMARY KEY first, then the
    * paged bulk insert (the reference's create-then-execute_values sequence,
    * FullLoadHandler.py:32-78). */
  def fullLoadTo(df: DataFrame, conn: Conn, table: String, keyCols: Seq[String],
      batchSize: Int = 10000, varcharLen: Int = 255): Unit = {
    ensureTable(conn, table, df.schema, keyCols, varcharLen)
    bulkInsert(df, conn, table, batchSize)
  }

  /** One row the target database rejected: the full row as JSON plus the
    * driver's exception message — the reference's `apply_exceptions` record
    * (trempy/Metadata/Query.py:66-81, CDCOperationsHandler.py:25-30). */
  case class ApplyException(row_json: String, error: String)

  /** Deterministic per-row rejections — what the reference's
    * apply_exceptions table records (Metadata/Query.py:66-81). SQLSTATE
    * class 21 (cardinality), 22 (data), 23 (integrity constraint), 44
    * (WITH CHECK) are the row's fault and re-fail identically on retry;
    * anything else — connection loss (08), deadlock/serialization (40),
    * resource (53/57), vendor transients, or a missing SQLSTATE — must NOT
    * be swallowed into the rejection ledger. */
  private[feed] def isRowRejection(e: java.sql.SQLException): Boolean = {
    val s = e.getSQLState
    s != null && (s.startsWith("21") || s.startsWith("22") ||
      s.startsWith("23") || s.startsWith("44"))
  }

  private def jdbcTypeCode(dt: DataType): Int = dt match {
    case StringType     => java.sql.Types.VARCHAR
    case IntegerType    => java.sql.Types.INTEGER
    case LongType       => java.sql.Types.BIGINT
    case ShortType      => java.sql.Types.SMALLINT
    case DoubleType     => java.sql.Types.DOUBLE
    case FloatType      => java.sql.Types.REAL
    case BooleanType    => java.sql.Types.BOOLEAN
    case TimestampType  => java.sql.Types.TIMESTAMP
    case DateType       => java.sql.Types.DATE
    case _: DecimalType => java.sql.Types.DECIMAL
    case _              => java.sql.Types.OTHER
  }

  /**
   * Bulk insert WITH per-row error capture — the reference records the failing
   * row + exception and keeps going (`apply_exceptions`,
   * CDCOperationsHandler.py:25-30); Spark's own JDBC writer instead fails the
   * whole write on the first constraint violation. Each partition opens one
   * connection (the canonical Spark JDBC sink shape — the built-in writer is
   * the same foreachPartition loop) and inserts in `batchSize` pages inside a
   * transaction; a rejected page rolls back and re-drives row-by-row, so only
   * the genuinely bad rows surface. Good rows land; bad rows return as
   * [[ApplyException]]s (row JSON + driver message).
   *
   * EXECUTES EAGERLY (the returned frame is computed and persisted before
   * this returns): inserts are side effects, and a lazily re-evaluated plan
   * would re-insert every good row. Call `unpersist()` on the result when
   * done. At-least-once on Spark task retry, like any JDBC append.
   */
  def bulkInsertCapturing(df: DataFrame, conn: Conn, table: String,
      batchSize: Int = 10000): DataFrame = {
    require(batchSize >= 1, s"batchSize $batchSize: must be >= 1")
    val schema = df.schema
    val colNames = schema.fieldNames.toSeq
    val insertSql = s"INSERT INTO $table (" +
      colNames.map(c => s""""$c"""").mkString(", ") +
      s") VALUES (${colNames.map(_ => "?").mkString(", ")})"
    val typeCodes = schema.fields.map(f => jdbcTypeCode(f.dataType))
    val url = conn.url
    val props = conn.properties
    val spark = df.sparkSession
    import spark.implicits._
    val n = schema.length
    val fieldNames = colNames.toArray
    // the row JSON is built ONLY in the per-row failure branch — serializing
    // every row up front would tax the 100%-clean common case (a 10^9-row
    // bootstrap) for an artifact that is almost never produced
    def rowJson(r: org.apache.spark.sql.Row): String = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.compact(JsonMethods.render(JObject(
        fieldNames.toList.zipWithIndex.map { case (name, i) =>
          name -> (r.get(i) match {
            case null                 => JNull
            case v: String            => JString(v)
            case v: java.lang.Integer => JLong(v.longValue())
            case v: java.lang.Long    => JLong(v)
            case v: java.lang.Short   => JLong(v.longValue())
            case v: java.lang.Double  => JDouble(v)
            case v: java.lang.Float   => JDouble(v.doubleValue())
            case v: java.lang.Boolean => JBool(v)
            case v: java.math.BigDecimal => JDecimal(BigDecimal(v))
            case v                    => JString(v.toString) // timestamp/date
          })
        })))
    }
    val errors = df.mapPartitions { rows =>
      if (rows.isEmpty) Iterator.empty
      else {
        val p = new java.util.Properties()
        props.foreach { case (k, v) => p.setProperty(k, v) }
        val c = java.sql.DriverManager.getConnection(url, p)
        val out = scala.collection.mutable.ListBuffer.empty[ApplyException]
        try {
          c.setAutoCommit(false)
          val ps = c.prepareStatement(insertSql)
          def bind(r: org.apache.spark.sql.Row): Unit = {
            var i = 0
            while (i < n) {
              val v = r.get(i)
              if (v == null) ps.setNull(i + 1, typeCodes(i))
              else ps.setObject(i + 1, v)
              i += 1
            }
          }
          rows.grouped(batchSize).foreach { page =>
            try {
              page.foreach { r => bind(r); ps.addBatch() }
              ps.executeBatch()
              c.commit()
            } catch {
              case _: java.sql.SQLException =>
                // page poisoned: roll back, re-drive each row alone so only
                // the actually-rejected rows are recorded
                c.rollback()
                ps.clearBatch()
                page.foreach { r =>
                  try { bind(r); ps.executeUpdate(); c.commit() }
                  catch {
                    // record ONLY deterministic per-row rejections (SQLSTATE
                    // class 21/22/23/44 — cardinality, data, integrity, CHECK
                    // violations): a transient failure here (connection drop
                    // 08, deadlock/timeout 40, resource 53/57) is not the
                    // row's fault — recording it would silently lose good
                    // rows behind a successful job while misattributing an
                    // infra failure to the data. Rethrow instead: the task
                    // fails loudly and Spark's retry owns the transient.
                    case e: java.sql.SQLException if isRowRejection(e) =>
                      c.rollback()
                      out += ApplyException(rowJson(r),
                        Option(e.getMessage).getOrElse(e.getClass.getName))
                  }
                }
            }
          }
          ps.close()
        } finally c.close()
        out.iterator
      }
    }.toDF()
    errors.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    errors.count() // force the inserts exactly once
    errors
  }

  /** Per-key LWW collapse of a multi-epoch change window: one winner row per
    * key (max `_lsn`), payload + `_deleted`. groupBy + max_by does map-side
    * partial aggregation, so a hot key contributes at most one row per map
    * task to the shuffle — the same skew-safe shape the lake merge uses
    * (PlanAuditSpec asserts the partial phase). */
  def collapseChanges(changes: DataFrame, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, max_by, struct}
    val payloadCols = changes.columns.filterNot(_.startsWith("_")).toSeq
    val nonKey = payloadCols.filterNot(keyCols.contains)
    changes
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct((nonKey :+ "_deleted").map(col): _*), col("_lsn")).as("_w"))
      .select(keyCols.map(col) ++ nonKey.map(c => col(s"_w.$c").as(c)) :+
        col("_w._deleted").as("_deleted"): _*)
  }

  /**
   * Apply a change set to a keyed JDBC target — the reference's replication
   * DIRECTION (its consumer upserts/deletes row-by-row into PostgreSQL,
   * CDCOperationsHandler.py:88-277), re-expressed batched: collapse the
   * changes per key (max `_lsn` wins — a multi-epoch changeLog window carries
   * one winner per epoch per key), then per partition apply pages
   * transactionally as DELETE-by-key + INSERT of the survivors — the
   * portable MERGE (no dialect-specific UPSERT syntax), exactly the
   * last-writer-wins semantics the lake merge uses. Pair with
   * `LakeTable.changeLog` for incremental lake → database sync:
   * bootstrap with [[fullLoadTo]], then apply each sync window's feed.
   *
   * At-least-once on Spark task retry (idempotent at the ROW level: re-running
   * the same reduced page converges to the same final state — delete+insert
   * of the same keys), like every JDBC writer.
   */
  def applyChanges(changes: DataFrame, conn: Conn, table: String,
      keyCols: Seq[String], batchSize: Int = 10000): Unit = {
    require(keyCols.nonEmpty, "applyChanges needs the merge key columns")
    keyCols.foreach(k => require(changes.columns.contains(k),
      s"key column '$k' not in the change set"))
    require(changes.columns.contains("_lsn") && changes.columns.contains("_deleted"),
      "change set must carry _lsn and _deleted (LakeTable.changeLog shape)")
    val reduced = collapseChanges(changes, keyCols)
    val payloadCols = changes.columns.filterNot(_.startsWith("_")).toSeq
    val schema = reduced.schema
    val keyIdx = keyCols.map(schema.fieldIndex).toArray
    val delIdx = schema.fieldIndex("_deleted")
    val insertCols = payloadCols
    val insertIdx = insertCols.map(schema.fieldIndex).toArray
    val insertTypes = insertIdx.map(i => jdbcTypeCode(schema(i).dataType))
    val keyTypes = keyIdx.map(i => jdbcTypeCode(schema(i).dataType))
    val deleteSql = s"DELETE FROM $table WHERE " +
      // null-safe per key: `"k" = ?` binds NULL into a comparison that
      // matches nothing, so a null-key row would never delete its prior
      // copy and a task RETRY would duplicate it (the engine quarantines
      // null keys upstream, but this surface is public API)
      keyCols.map(k => s"""("$k" = ? OR ("$k" IS NULL AND ? IS NULL))""")
        .mkString(" AND ")
    val insertSql = s"INSERT INTO $table (" +
      insertCols.map(c => s""""$c"""").mkString(", ") +
      s") VALUES (${insertCols.map(_ => "?").mkString(", ")})"
    val url = conn.url
    val props = conn.properties
    reduced.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val p = new java.util.Properties()
        props.foreach { case (k, v) => p.setProperty(k, v) }
        val c = java.sql.DriverManager.getConnection(url, p)
        try {
          c.setAutoCommit(false)
          val del = c.prepareStatement(deleteSql)
          val ins = c.prepareStatement(insertSql)
          rows.grouped(batchSize).foreach { page =>
            // DELETE every key in the page (idempotent no-op for new keys),
            // then INSERT the non-tombstone winners: one txn per page
            page.foreach { r =>
              var i = 0
              while (i < keyIdx.length) {
                // two binds per key (the null-safe predicate's value and
                // IS-NULL probe positions)
                val v = r.get(keyIdx(i))
                if (v == null) {
                  del.setNull(2 * i + 1, keyTypes(i))
                  del.setNull(2 * i + 2, keyTypes(i))
                } else {
                  del.setObject(2 * i + 1, v)
                  del.setObject(2 * i + 2, v)
                }
                i += 1
              }
              del.addBatch()
            }
            del.executeBatch()
            page.foreach { r =>
              if (!r.getBoolean(delIdx)) {
                var i = 0
                while (i < insertIdx.length) {
                  val v = r.get(insertIdx(i))
                  if (v == null) ins.setNull(i + 1, insertTypes(i))
                  else ins.setObject(i + 1, v)
                  i += 1
                }
                ins.addBatch()
              }
            }
            ins.executeBatch()
            c.commit()
          }
          del.close(); ins.close()
        } finally c.close()
      }
    }
  }
}
