package graft.feed

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Queue-message envelope source — the reference's RabbitMQ wire shape
 * (CDCManager.structure_capture_changes_to_json, CDCManager.py:188-278: one
 * message per batch page with `transaction_id`, `created_at`, `batch_page`,
 * `batch_size` and `operations[{schema_name, table_name, operation,
 * columns[{name,type,value}]}]`; published by MessageProducer.publish_message,
 * MessageProducer.py:18-62).
 *
 * Here the bus is an append-only directory of JSON-lines files (one message
 * per line) that a Structured Streaming text source tails — the message FORMAT
 * is the reference's, the broker is replaced by source offsets in the
 * checkpoint (a `format("kafka")` reader is a drop-in swap of the readStream
 * line: same `value` column, same parse). Everything below the source is
 * shared with the engine's other feeds.
 *
 * Event ordering: envelope messages carry no LSN — the reference replays in
 * arrival order ($TREM_ROWNUM, CDCManager.py:313-316). The synthesized LSN
 * `(created_at, batch_page, position)` packs exactly that arrival order into
 * the engine's monotonic replay key.
 */
object EnvelopeSource {

  /** JSON schema of one queue message (one envelope batch page). */
  val messageSchema: StructType = StructType(Seq(
    StructField("source_database_type", StringType),
    StructField("transaction_id", StringType),
    StructField("created_at", LongType),
    StructField("batch_page", IntegerType),
    StructField("batch_size", IntegerType),
    StructField("operations", ArrayType(StructType(Seq(
      StructField("schema_name", StringType),
      StructField("table_name", StringType),
      StructField("operation", StringType),
      StructField("columns", ArrayType(StructType(Seq(
        StructField("name", StringType),
        StructField("type", StringType),
        StructField("value", StringType)))))))))))

  /** Epoch base subtracted before packing: a raw epoch-seconds value overflows
    * the 31 bits above the shift in Jan 2038; relative to 2020-01-01 the field
    * is valid through 2088. */
  private[feed] val BASE_EPOCH_S = 1577836800L // 2020-01-01T00:00:00Z
  private val MAX_REL_S = (1L << 31) - 1

  /** Arrival-order LSN:
    * (created_at − base) ≪ 32 | hash16(transaction_id) ≪ 16 | batch_page ≪ 10 | position.
    * Monotonic within a message (page, position); two capture cycles landing
    * in the same second are separated by 16 bits of their transaction-id hash
    * (their mutual order is arbitrary — it genuinely is unknown — but their
    * events can no longer collide onto the same LSN, which would make
    * max_by/dropDuplicates silently discard real events). Field budgets are
    * ENFORCED, not just documented — an out-of-range created_at/page/position
    * would silently bleed into the adjacent bit field and corrupt replay
    * order, so the parse fails loudly instead: created_at in 2020..2088,
    * pages < 64, ops/page < 1024 (reference batch_cdc_size default 1000). */
  private def packedLsn(createdAt: Column, txnId: Column, page: Column, pos: Column): Column = {
    val rel = createdAt.cast(LongType) - BASE_EPOCH_S
    val inBudget = rel.between(0L, MAX_REL_S) &&
      page.between(0, 63) && pos.between(0, 1023)
    val packed = shiftleft(rel, 32) +
      shiftleft(xxhash64(txnId).bitwiseAND(lit(0xFFFFL)), 16) +
      shiftleft(page.cast(LongType), 10) + pos.cast(LongType)
    // NULL message-level fields (created_at absent, or type-mismatched so
    // PERMISSIVE from_json nulls the field while keeping operations) are a
    // CORRUPTION shape, not a budget violation: raise_error here would wedge
    // the stream permanently (it re-crashes on every checkpoint replay of
    // that batch). A null LSN routes the row to the merge's quarantine split
    // (null_lsn invariant) instead. Out-of-budget NON-null values stay loud —
    // those are producer bugs a quarantine would hide.
    when(createdAt.isNull || page.isNull || pos.isNull, lit(null).cast(LongType))
      .when(inBudget, packed).otherwise(raise_error(format_string(
        "envelope LSN field out of budget: created_at=%s (2020..2088 epoch-s), " +
          "batch_page=%s (< 64), position=%s (< 1024)",
        createdAt, page, pos)).cast(LongType))
  }

  /**
   * Parse raw JSON-line messages (`value: string`) into typed change events —
   * one `from_json` + two explodes, fully columnar.
   */
  def parse(
      raw: DataFrame,
      payload: StructType,
      schemaVer: Int = 1): DataFrame =
    parseCore(raw, payload, _ => lit(schemaVer))

  private def parseCore(
      raw: DataFrame,
      payload: StructType,
      verOf: (String => Column) => Column): DataFrame = {
    val msg = raw.select(from_json(col("value"), messageSchema).as("m"))
      .select(col("m.*"))
    // a corrupt/truncated line makes from_json yield a null struct — a bare
    // posexplode would DROP it (zero rows, no quarantine, no count): keep
    // one null-op marker row so the merge's quarantine split records it as
    // unknown_op instead of the message silently vanishing. An empty (but
    // well-formed) operations array still explodes to zero rows.
    val opElem = messageSchema("operations").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val opsCol = when(col("operations").isNull,
      array(lit(null).cast(opElem))).otherwise(col("operations"))
    val ops = msg.select(
      col("transaction_id"), col("created_at"), col("batch_page"),
      posexplode(opsCol).as(Seq("_pos", "op_row")))
    // LAST occurrence wins on duplicate column names and NULL-named entries
    // drop: a producer emitting the same name twice (old+new value of a
    // PK update) or a corrupt null-name entry must resolve to the newest
    // value, not wedge the stream — the same last-wins contract as
    // WalParser's tuple parse (and the reference's dict building — later
    // assignments overwrite). Per-field direct extraction (last matching
    // entry) instead of building a per-row name→value map: the map build
    // was O(columns²) per row and re-evaluated per payload field.
    val colsArr = filter(col("op_row.columns"), c => c.getField("name").isNotNull)
    def entryOf(name: String): Column =
      try_element_at(filter(colsArr, c => c.getField("name") === name), lit(-1))
    // the corrupt-message marker row carries NULL created_at/batch_page (the
    // whole message failed from_json): packedLsn's budget guard would see a
    // NULL condition, fall to its otherwise-branch and raise_error — crashing
    // the stream on the exact row the marker exists to keep alive. A null LSN
    // instead: the row is headed for the quarantine split (null op), never
    // the LWW reduction, so no ordering semantics rest on it. CaseWhen
    // evaluates only the matched branch per row, so well-formed rows still
    // get the loud budget check.
    val lsn = when(col("op_row").isNull, lit(null).cast(LongType))
      .otherwise(packedLsn(col("created_at"), col("transaction_id"),
        col("batch_page"), col("_pos")))
    val typedPayload = payload.fields.toSeq.map { f =>
      WalParser.castToken(entryOf(f.name).getField("value"), f.dataType).as(f.name)
    }
    ops.select(Seq(
      lsn.as(graft.model.ChangeEvent.LSN),
      // the reference's 6-char transaction hash → stable numeric txn id
      xxhash64(col("transaction_id")).as(graft.model.ChangeEvent.TXN_ID),
      timestamp_seconds(col("created_at")).as(graft.model.ChangeEvent.TS),
      upper(col("op_row.operation")).as(graft.model.ChangeEvent.OP),
      verOf(m => entryOf(m).isNotNull).as(graft.model.ChangeEvent.SCHEMA_VER),
      col("op_row.schema_name").as("schema_name"),
      col("op_row.table_name").as("table_name")) ++ typedPayload: _*)
  }

  /**
   * Mixed-version message streams — the envelope format carries column names
   * per operation (`columns: [{name,type,value}]`), so the same machinery as
   * [[WalParser.parseVersioned]] applies: union-column parse, per-row
   * `schema_ver` from marker-column presence, rename fold + widen cast to the
   * LATEST payload shape. One stream, no restart, mid-batch lake evolution.
   */
  def parseVersioned(
      raw: DataFrame,
      basePayload: StructType,
      registry: Map[Int, Seq[graft.lake.SchemaChange]]): DataFrame = {
    val p = VersionedPayload.plan(basePayload, registry)
    if (!p.versioned) return parse(raw, basePayload, 1)
    val parsed = parseCore(raw, p.union, VersionedPayload.verOf(p))
    val envelope = Seq(col(graft.model.ChangeEvent.LSN),
      col(graft.model.ChangeEvent.TXN_ID), col(graft.model.ChangeEvent.TS),
      col(graft.model.ChangeEvent.OP), col(graft.model.ChangeEvent.SCHEMA_VER),
      col("schema_name"), col("table_name"))
    parsed.select(envelope ++ VersionedPayload.foldCols(p): _*)
  }

  /** Single-table routing (the reference keeps only task tables,
    * CDCManager.py:219-234). Rows with a NULL or PARTIAL route are
    * CORRUPTION, not another table's traffic: the all-null marker row
    * parseCore keeps for an unparseable message, and an envelope whose
    * operation parsed but whose schema_name/table_name nulled out. A bare
    * equality filter evaluates three-valued NULL on both and silently drops
    * them — the exact vanishing the marker exists to prevent. Both shapes
    * pass the filter; the second additionally gets its op NULLED so the
    * merge's quarantine split captures it (with payload and LSN intact for
    * inspection) instead of merging an unattributable row into THIS table.
    * A well-formed row for another table (complete, non-matching route)
    * still routes away. */
  private[feed] def routed(parsed: DataFrame,
      schemaName: String, tableName: String): DataFrame = {
    val matches =
      col("schema_name") === schemaName && col("table_name") === tableName
    val broken = col("schema_name").isNull || col("table_name").isNull
    parsed.filter(matches || broken)
      .withColumn(graft.model.ChangeEvent.OP,
        when(broken, lit(null).cast(StringType))
          .otherwise(col(graft.model.ChangeEvent.OP)))
      .drop("schema_name", "table_name")
  }

  /** [[parseVersioned]] routed to one configured table. */
  def parseVersionedForTable(
      raw: DataFrame,
      basePayload: StructType,
      registry: Map[Int, Seq[graft.lake.SchemaChange]],
      schemaName: String, tableName: String): DataFrame =
    routed(parseVersioned(raw, basePayload, registry), schemaName, tableName)

  /** Parse + route to one configured table (see [[routed]]). */
  def parseForTable(
      raw: DataFrame, payload: StructType,
      schemaName: String, tableName: String, schemaVer: Int = 1): DataFrame =
    routed(parse(raw, payload, schemaVer), schemaName, tableName)

  /** Kafka-frame adapter: a `format("kafka")` source yields
    * (key/value: binary, topic, partition, offset, timestamp, …) — decode
    * `value` and share [[parse]]. Everything below the source line is
    * identical to the JSON-lines bus. */
  def parseKafka(raw: DataFrame, payload: StructType, schemaVer: Int = 1): DataFrame =
    parse(raw.select(col("value").cast(StringType).as("value")), payload, schemaVer)

  /** [[parseKafka]] + single-table routing (see [[parseForTable]]). */
  def parseKafkaForTable(
      raw: DataFrame, payload: StructType,
      schemaName: String, tableName: String, schemaVer: Int = 1): DataFrame =
    parseForTable(raw.select(col("value").cast(StringType).as("value")),
      payload, schemaName, tableName, schemaVer)

  /** Producer-side delivery counters for one [[writeFeed]] call. */
  final case class ProducerStats(pages: Long, ops: Long)

  /**
   * Producer half of the reference's published/received/processed counters
   * (`stats_message`, trempy/Messages/Producer/MessageProducer.py:18-62):
   * serialize the events as envelope messages into `feedDir` AND record a
   * page manifest (`_stats-*.json` — the leading underscore hides it from
   * Spark's file listing, so the streaming text source never reads it as a
   * message). The consumer's cumulative `events_received` metric diffs
   * against the summed manifests ([[deliveryGap]]): a page dropped in
   * transit — previously invisible to the lineage-only reconcile — shows up
   * as a positive gap.
   */
  def writeFeed(
      events: DataFrame, feedDir: String,
      schemaName: String, tableName: String,
      batchSize: Int = 1000,
      /** capture-cycle second; -1 = derive the next free one from the bus.
        * SINGLE-PUBLISHER assumption: two concurrent writeFeed calls into the
        * same bus can both derive the same value — serialize publishes, or
        * pass explicit disjoint values. */
      createdAt: Long = -1L): ProducerStats = {
    // budget checks FIRST: batchSize=0 would turn the pages computation into
    // an opaque divide-by-zero, and a bad argument should fail before the
    // count() below triggers a Spark job
    require(batchSize >= 1 && batchSize <= 1024,
      s"writeFeed batchSize $batchSize outside the 1..1024 ops/page LSN budget")
    // one publish = one capture second: page numbering restarts per call, so
    // successive publishes into the same bus MUST advance created_at or their
    // packed LSNs collide and the LWW merge silently drops the later changes.
    // The next free value comes from the MESSAGE PAGES already on the bus
    // (max created_at + 1) — robust against deleted stats manifests and
    // against publishes made via toMessages directly, which a manifest-count
    // scheme would silently collide with. Deterministic, no wall clock.
    val created =
      if (createdAt >= 0) createdAt
      else maxCreatedAt(feedDir).map(_ + 1L).getOrElse(1700000000L)
    // same fail-fast contract as the pages<=64 check below: a created value
    // outside the packed-LSN budget (explicit caller value below the 2020
    // base, or a bus polluted with a huge created_at) would otherwise
    // publish fine and raise_error in the CONSUMER's stream
    require(created >= BASE_EPOCH_S && created - BASE_EPOCH_S < (1L << 31),
      s"writeFeed: created_at=$created outside the packed-LSN budget " +
        s"[$BASE_EPOCH_S, ${BASE_EPOCH_S + (1L << 31)}) — 2020..2088 epoch seconds")
    // single evaluation: the count below and the serialization read the same
    // materialized rows (a non-deterministic source would otherwise publish
    // one row set and manifest another)
    events.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val ops = events.count()
      val pages = (ops + batchSize - 1) / batchSize
      // fail FAST on the packed-LSN wire budget — the consumer's parse
      // raise_errors on page ≥ 64 / position ≥ 1024, which would otherwise
      // crash the stream long after this publish reported success
      require(pages <= 64,
        s"writeFeed: $ops ops at $batchSize/page needs $pages pages — " +
          "the LSN budget allows 64 per publish; split into multiple publishes")
      toMessages(events, schemaName, tableName, batchSize, created)
        .coalesce(1).write.mode("append").text(feedDir)
      val stats = ProducerStats(pages, ops)
      val p = java.nio.file.Paths.get(feedDir,
        s"_stats-$schemaName.$tableName-${System.nanoTime()}.json")
      // atomic publish (LakeTable.publish): a crash mid-write would
      // otherwise leave truncated JSON that breaks EVERY later deliveryGap
      // call — the audit killed by the crash class it exists to detect.
      // Rendered, not string-interpolated: a table name carrying a quote or
      // backslash would otherwise write invalid JSON that breaks every later
      // producerStats/deliveryGap parse — the audit broken by its own writer
      graft.lake.LakeTable.publish(p, {
        import org.json4s.JsonDSL._
        org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
          ("table" -> s"$schemaName.$tableName") ~ ("pages" -> pages) ~
            ("ops" -> ops) ~ ("created_at" -> created)))
      }.getBytes("UTF-8"))
      // AFTER the message files land: the marker must never claim a capture
      // second whose pages aren't on the bus yet (a crash between marker and
      // publish would make the next derivation skip a value — harmless — but
      // the reverse order could let it collide with one)
      recordCreatedAt(feedDir, created)
      stats
    } finally { events.unpersist(); () }
  }

  private val createdAtRe = """"created_at"\s*:\s*(\d+)""".r

  /** High-water marker for [[maxCreatedAt]]: holds the highest capture
    * second any [[writeFeed]] has derived or used, so the next derivation
    * scans only message files NEWER than the marker instead of re-reading
    * the whole bus (O(new publishes), not O(lifetime files) — at the 10^10-
    * event cadence a long-lived bus accumulates tens of thousands of part
    * files, and opening every one per publish grows linearly forever).
    * Underscore-prefixed like the stats manifests, so the streaming text
    * source never reads it as a message. */
  private val HWM_MARKER = "_created_at_hwm"

  /** Marker payload: `created oldCount cutoffMs nameHash` — the accounted
    * max created_at, plus a self-consistent description of the OLD file set
    * (count + sorted-name hash of files with mtime < cutoffMs). The cutoff
    * is STORED, not re-derived from the marker's mtime, so both sides
    * classify files identically regardless of filesystem mtime granularity;
    * the name hash (not just the count) verifies the "files older than the
    * cutoff were already accounted" assumption — a file moved INTO the bus
    * with a preserved old mtime (`mv`/`Files.move` keeps it — the standard
    * atomic-publish pattern), a deleted old file, or an equal-count SWAP of
    * the two all change the set and force a full rescan instead of a silent
    * LSN collision with an unseen file. Older marker formats (bare created,
    * or created+count) parse base-only: the bound is not trusted, the FULL
    * scan runs, but the recorded high water still folds into the max — a
    * retention-cleaned bus must never regress below it. */
  private val hwmRe = """(\d+)\s+(\d+)\s+(\d+)\s+(-?\d+)""".r
  private val hwmBaseRe = """(\d+)[\s\S]*""".r
  private def readHwm(marker: java.nio.file.Path)
      : Option[(Long, Option[(Long, Long, Int)])] =
    scala.util.Try(java.nio.file.Files.readString(marker).trim).toOption
      .collect {
        case hwmRe(c, n, cut, h) => (c.toLong, Some((n.toLong, cut.toLong, h.toInt)))
        case hwmBaseRe(c)        => (c.toLong, None)
      }

  private def nameHash(files: Seq[java.nio.file.Path]): Int =
    files.map(_.getFileName.toString).sorted.mkString("\n").hashCode

  private def listMessageFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    scala.util.Using.resource(java.nio.file.Files.list(dir)) { ls =>
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        java.nio.file.Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }.toSeq
    }

  private def mtimeMs(p: java.nio.file.Path): Long = scala.util.Try(
    java.nio.file.Files.getLastModifiedTime(p).toMillis).getOrElse(Long.MaxValue)

  /** Highest capture second already on the bus — every publish writes its
    * pages with a constant created_at, so reading just the FIRST line of
    * each message file covers all publishes regardless of who made them or
    * whether their stats manifests survived. The marker bounds the scan to
    * files newer than its stored cutoff (O(new publishes), not O(lifetime
    * files)); the old-set count+hash check falls back to the full scan
    * whenever the accounted set changed shape under the marker. The marker's
    * recorded high water folds into BOTH paths: a bus whose old files were
    * retention-cleaned must never derive a created_at the lake has already
    * merged (LSN reuse = silent LWW drops). */
  private def maxCreatedAt(feedDir: String): Option[Long] = {
    val dir = java.nio.file.Paths.get(feedDir)
    if (!java.nio.file.Files.isDirectory(dir)) return None
    val files = listMessageFiles(dir)
    def readFirstLineCreatedAt(p: java.nio.file.Path): Option[Long] =
      scala.util.Try(scala.util.Using.resource(
        java.nio.file.Files.newBufferedReader(p))(_.readLine())).toOption
        .flatMap(l => Option(l))
        .flatMap(l => createdAtRe.findFirstMatchIn(l).map(_.group(1).toLong))
    val hwm = readHwm(dir.resolve(HWM_MARKER))
    val bounded = hwm.collect { case (base, Some((oldCount, cutoff, oldHash))) =>
      val (older, newer) = files.partition(mtimeMs(_) < cutoff)
      if (older.size.toLong == oldCount && nameHash(older) == oldHash)
        Some((base +: newer.flatMap(readFirstLineCreatedAt)).max)
      else None
    }.flatten
    bounded.orElse(
      (hwm.map(_._1).toSeq ++ files.flatMap(readFirstLineCreatedAt)).maxOption)
  }

  /** Advance (never regress) the [[HWM_MARKER]] through the atomic publish
    * (`LakeTable.publish`). Same single-publisher caveat as the derivation. */
  private def recordCreatedAt(feedDir: String, created: Long): Unit = {
    val dir = java.nio.file.Paths.get(feedDir)
    if (!java.nio.file.Files.isDirectory(dir)) return
    val marker = dir.resolve(HWM_MARKER)
    val current = readHwm(marker).map(_._1)
    if (current.forall(_ < created)) {
      // the cutoff is STORED so the next derivation classifies with the
      // exact same boundary; 2 s back from now keeps this publish's own
      // files (and anything racing the listing) on the rescanned-new side —
      // one or two first-line reads per derivation, by design
      val cutoff = System.currentTimeMillis() - 2000L
      val old = listMessageFiles(dir).filter(mtimeMs(_) < cutoff)
      graft.lake.LakeTable.publish(marker,
        s"$created ${old.size} $cutoff ${nameHash(old)}".getBytes("UTF-8"))
    }
  }

  private def producerStatsFiles(
      feedDir: String, schemaName: String, tableName: String): Seq[java.nio.file.Path] = {
    val dir = java.nio.file.Paths.get(feedDir)
    if (!java.nio.file.Files.isDirectory(dir)) Nil
    else scala.util.Using.resource(java.nio.file.Files.list(dir)) { ls =>
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala
        // anchored digits+.json — a bare prefix match would absorb manifests
        // of any table whose name extends this one ("t" swallowing "t-1")
        .filter(_.getFileName.toString.matches(
          java.util.regex.Pattern.quote(s"_stats-$schemaName.$tableName-") + "\\d+\\.json"))
        .toSeq
    }
  }

  /** Sum of all producer page manifests in `feedDir` for one table;
    * None when the feed carries no manifests (producer predates them). */
  def producerStats(feedDir: String, schemaName: String, tableName: String): Option[ProducerStats] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val all = producerStatsFiles(feedDir, schemaName, tableName).map { p =>
      val j = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(p)))
      ProducerStats((j \ "pages").extract[Long], (j \ "ops").extract[Long])
    }
    if (all.isEmpty) None
    else Some(ProducerStats(all.map(_.pages).sum, all.map(_.ops).sum))
  }

  /** Published-minus-received delivery audit: > 0 means envelopes published
    * by the producer never reached the merge (dropped in transit) — the gap
    * the consumer-side lineage reconcile alone cannot see. None when the
    * feed has no producer manifests. Run after the stream drains. */
  def deliveryGap(
      lake: graft.lake.LakeTable, feedDir: String,
      schemaName: String, tableName: String): Option[Long] =
    producerStats(feedDir, schemaName, tableName).map { ps =>
      // a table with no snapshot yet (consumer died before its first
      // commit) is the WORST gap — report ops published vs 0 received,
      // don't throw from the manifest require
      val received =
        if (lake.exists) lake.manifest.metrics.getOrElse("events_received", 0L)
        else 0L
      ps.ops - received
    }

  /** PG-ish wire type name for a payload column (cosmetic — the consumer
    * types from its declared payload schema, like the reference). */
  private def wireType(dt: DataType): String = dt match {
    case StringType           => "varchar"
    case IntegerType          => "integer"
    case LongType             => "bigint"
    case DoubleType           => "double precision"
    case FloatType            => "real"
    case BooleanType          => "boolean"
    case TimestampType        => "timestamp"
    case DateType             => "date"
    case ArrayType(et, _)     => s"${wireType(et)}[]"
    case other                => other.simpleString
  }

  /** Serialize change events INTO envelope messages (the producer half) —
    * used to build reference-format feeds and to test round-trips. One message
    * per (created_at, batch_page); `batchSize` ops per page, pages in LSN
    * order. Array columns serialize as PG array literals (`{1,2,3}`), the
    * format [[WalParser.castToken]] decodes.
    *
    * The global page numbering is computed DISTRIBUTED: range-partition by
    * LSN + per-partition indices offset by `zipWithIndex` — no
    * whole-feed single-partition window (which would serialize the producer
    * at scale). */
  def toMessages(
      events: DataFrame, schemaName: String, tableName: String,
      batchSize: Int = 1000,
      /** capture-cycle second — distinct per publish into the same bus, or the
        * packed LSNs of two publishes collide (see [[writeFeed]]) */
      createdAt: Long = 1700000000L): DataFrame = {
    val spark = events.sparkSession
    val lsnCol = graft.model.ChangeEvent.LSN
    val payloadCols = events.columns
      .filterNot(graft.model.ChangeEvent.envelopeFields.map(_.name).contains).toSeq
    // global dense rank by LSN without a single-partition exchange:
    // range-partition (globally ordered partitions) + partition-local sort,
    // then zipWithIndex (one extra count job, no shuffle)
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    val sorted = events
      .repartitionByRange(parts, col(lsnCol))
      .sortWithinPartitions(lsnCol)
    val indexed = spark.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      },
      sorted.schema.add("_rn", LongType))
    val ev = indexed.withColumn("batch_page", (col("_rn") / batchSize).cast(IntegerType))
    val colEntries = array(payloadCols.map { c =>
      val dt = events.schema(c).dataType
      val valueStr = dt match {
        case ArrayType(et, _) =>
          val elems = col(c).cast(ArrayType(StringType))
          // string elements are PG-quoted (they may contain the separator,
          // braces, quotes or backslashes — unquoted join silently corrupts
          // ["a,b"] into two elements on parse); other element types render
          // comma-free and join bare, like the reference's literals
          // null ELEMENTS render as PG's unquoted NULL literal: array_join
          // with no nullReplacement silently DROPS them, round-tripping
          // [1, null, 2] as a 2-element array (a real string "NULL" stays
          // quoted, so the parse can tell them apart)
          val joined = et match {
            case StringType => array_join(transform(elems, e =>
              when(e.isNull, lit("NULL")).otherwise(concat(
                lit("\""),
                replace(replace(e, lit("\\"), lit("\\\\")), lit("\""), lit("\\\"")),
                lit("\"")))), ",")
            case _ => array_join(elems, ",", "NULL")
          }
          when(col(c).isNull, lit(null).cast(StringType)).otherwise(concat(
            lit("{"), joined, lit("}")))
        case _ => col(c).cast(StringType)
      }
      struct(lit(c).as("name"), lit(wireType(dt)).as("type"), valueStr.as("value"))
    }: _*)
    val opRow = struct(
      lit(schemaName).as("schema_name"), lit(tableName).as("table_name"),
      lower(col(graft.model.ChangeEvent.OP)).as("operation"),
      colEntries.as("columns"))
    ev.groupBy(col("batch_page"))
      .agg(sort_array(collect_list(struct(col("_rn"), opRow.as("r")))).as("rows"),
        count(lit(1)).cast(IntegerType).as("batch_size"))
      .select(to_json(struct(
        lit("postgresql").as("source_database_type"),
        lit("abc123").as("transaction_id"),
        lit(createdAt).as("created_at"),
        col("batch_page"), col("batch_size"),
        transform(col("rows"), r => r.getField("r")).as("operations"))).as("value"),
        col("batch_page"))
      .orderBy("batch_page")
      .select("value")
  }
}
