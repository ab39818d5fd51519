package graft.feed

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

/** test_decoding wire-format parser — reference: CDCManager.py:65-114
  * (line regex :80, (no-tuple-data) :94-95, column tokenizer :100-102,
  * null literal :108-110) + stringly coercion Datatype.py:24-35. */
class WalParserSpec extends SparkSpec {

  private val payload = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("tokens", ArrayType(IntegerType)),
    StructField("n_tok", IntegerType),
    StructField("source", StringType),
    StructField("updated_at", TimestampType)))

  private def raw(rows: (Long, Long, String)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 2),
      WalParser.rawSchema)

  test("committed DML parses typed; uncommitted txns and noise are dropped") {
    val lines = raw(
      (1L, 10L, "BEGIN 10"),
      (2L, 10L, "table corpus.documents: INSERT: doc_id[character varying]:'d-1' " +
        "tokens[integer[]]:'{1,2,3}' n_tok[integer]:3 source[character varying]:'it''s web' " +
        "updated_at[timestamp]:'2025-01-02 03:04:05'"),
      (3L, 10L, "COMMIT 10"),
      (4L, 11L, "BEGIN 11"),
      (5L, 11L, "table corpus.documents: UPDATE: doc_id[character varying]:'d-lost' " +
        "n_tok[integer]:9"), // no COMMIT for xid 11 → dropped
      (6L, 12L, "BEGIN 12"),
      (7L, 12L, "table other.tbl: INSERT: x[integer]:1"), // other table
      (8L, 12L, "table corpus.documents: UPDATE: doc_id[character varying]:'d-1' " +
        "tokens[integer[]]:'{7}' n_tok[integer]:null source[character varying]:null " +
        "updated_at[timestamp]:null"),
      (9L, 12L, "table corpus.documents: DELETE: (no-tuple-data)"),
      (10L, 12L, "garbage line that matches nothing"),
      (11L, 12L, "COMMIT 12"))

    val all = WalParser.parse(lines, payload).collect().sortBy(_.getAs[Long]("lsn"))
    assert(all.map(_.getAs[String]("table_name")).toSet == Set("documents", "tbl"))

    val ev = WalParser.parseForTable(lines, payload, "corpus", "documents")
      .collect().sortBy(_.getAs[Long]("lsn"))
    assert(ev.length == 3, s"committed corpus.documents DML only: ${ev.toSeq}")

    val ins = ev(0)
    assert(ins.getAs[String]("op") == "INSERT")
    assert(ins.getAs[Long]("txn_id") == 10L)
    assert(ins.getAs[String]("doc_id") == "d-1")
    assert(ins.getAs[scala.collection.Seq[Int]]("tokens") == Seq(1, 2, 3))
    assert(ins.getAs[Int]("n_tok") == 3)
    assert(ins.getAs[String]("source") == "it's web", "doubled quotes unescaped")
    assert(ins.getAs[java.sql.Timestamp]("updated_at").toString == "2025-01-02 03:04:05.0")

    val upd = ev(1)
    assert(upd.getAs[String]("op") == "UPDATE")
    assert(upd.getAs[scala.collection.Seq[Int]]("tokens") == Seq(7))
    assert(upd.isNullAt(upd.fieldIndex("n_tok")), "literal null → NULL")
    assert(upd.isNullAt(upd.fieldIndex("source")))

    val del = ev(2)
    assert(del.getAs[String]("op") == "DELETE")
    assert(del.isNullAt(del.fieldIndex("doc_id")), "(no-tuple-data) → null payload")
    assert(del.isNullAt(del.fieldIndex("tokens")))
  }

  test("committed non-DML table lines (TRUNCATE) emit nothing from the bare " +
    "parse — no phantom op=\"\" rows") {
    val lines = raw(
      (1L, 10L, "BEGIN 10"),
      (2L, 10L, "table corpus.documents: TRUNCATE: (no-flags)"),
      (3L, 10L, "table corpus.documents: INSERT: doc_id[character varying]:'d-1' " +
        "n_tok[integer]:1"),
      (4L, 10L, "COMMIT 10"))
    val all = WalParser.parse(lines, payload).collect()
    assert(all.length == 1 && all.head.getAs[String]("op") == "INSERT",
      s"TRUNCATE must be dropped, got: ${all.toSeq}")
  }

  test("quoted PG array elements round-trip: commas, quotes and backslashes " +
    "inside string elements survive the wire") {
    val pl = StructType(Seq(
      StructField("doc_id", StringType),
      StructField("tags", ArrayType(StringType))))
    val lines = raw(
      (1L, 10L, "BEGIN 10"),
      // psycopg2-shaped literal: quoted elements with escaped quote/backslash
      (2L, 10L, """table corpus.t: INSERT: doc_id[character varying]:'d-1' """ +
        """tags[character varying[]]:'{"a,b",plain,"q\"x","b\\s"}'"""),
      (3L, 10L, "COMMIT 10"))
    val r = WalParser.parseForTable(lines, pl, "corpus", "t").collect().head
    assert(r.getAs[scala.collection.Seq[String]]("tags") ==
      Seq("a,b", "plain", "q\"x", "b\\s"),
      s"got: ${r.getAs[scala.collection.Seq[String]]("tags")}")
  }

  test("old-key/new-tuple UPDATE (duplicate column names): last wins, the " +
    "stream does not wedge on Duplicate map key") {
    // a primary-key UPDATE under replica identity emits the SAME column
    // twice — old-key first, new-tuple second; map_from_arrays would throw
    val lines = raw(
      (1L, 5L, "BEGIN 5"),
      (2L, 5L, "table corpus.documents: UPDATE: old-key: doc_id[character " +
        "varying]:'d-old' new-tuple: doc_id[character varying]:'d-new' " +
        "n_tok[integer]:1 tokens[integer[]]:'{7}' source[character varying]:'web'"),
      (3L, 5L, "COMMIT 5"))
    val got = WalParser.parseForTable(lines, payload, "corpus", "documents").head()
    assert(got.getAs[String]("doc_id") == "d-new", got.toString)
    assert(got.getAs[Int]("n_tok") == 1)
  }

  test("a newline inside a quoted value parses the full line (DOTALL): " +
    "columns after the newline are not silently NULL") {
    val lines = raw(
      (1L, 6L, "BEGIN 6"),
      (2L, 6L, "table corpus.documents: INSERT: doc_id[character varying]:'d-nl' " +
        "source[character varying]:'line one\nline two' n_tok[integer]:2 " +
        "tokens[integer[]]:'{1,2}'"),
      (3L, 6L, "COMMIT 6"))
    val got = WalParser.parseForTable(lines, payload, "corpus", "documents").head()
    assert(got.getAs[String]("source") == "line one\nline two", got.toString)
    assert(got.getAs[Int]("n_tok") == 2, "columns AFTER the newline still parse")
  }

  test("a transaction split across micro-batches is not lost: the pending " +
    "stash carries its DML until the COMMIT arrives") {
    import graft.model._
    import graft.runner.{CdcRunner, RunnerConfig}
    val root = tmpDir("graft-wal-split")
    // file 1: BEGIN + DML (no COMMIT); file 2: the COMMIT + a second txn.
    // maxFilesPerTrigger=1 forces the batch boundary mid-transaction — the
    // committed-only semi-join alone would drop txn 1's row forever.
    val f1 = raw(
      (1L, 1L, "BEGIN 1"),
      (2L, 1L, "table corpus.documents: INSERT: doc_id[character varying]:'d-a' " +
        "tokens[integer[]]:'{1}' n_tok[integer]:1 source[character varying]:'web'"))
    val f2 = raw(
      (3L, 1L, "COMMIT 1"),
      (4L, 2L, "BEGIN 2"),
      (5L, 2L, "table corpus.documents: INSERT: doc_id[character varying]:'d-b' " +
        "tokens[integer[]]:'{2}' n_tok[integer]:1 source[character varying]:'web'"),
      (6L, 2L, "COMMIT 2"))
    f1.coalesce(1).write.parquet(s"$root/feed")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 2),
      payloadSchema = payload, maxFilesPerTrigger = 1)
    CdcRunner.startFromWal(spark, cfg, "corpus", "documents").awaitTermination()
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    assert(lake.read(spark).count() == 0, "uncommitted txn applies nothing yet")
    // second run delivers the COMMIT: the stashed DML must apply now
    f2.coalesce(1).write.mode("append").parquet(s"$root/feed")
    CdcRunner.startFromWal(spark, cfg, "corpus", "documents").awaitTermination()
    val docs = lake.read(spark).select("doc_id").collect().map(_.getString(0)).sorted
    assert(docs.sameElements(Array("d-a", "d-b")),
      s"split txn recovered + second txn applied: ${docs.toSeq}")
  }

  test("NULL xid / NULL data slot rows become quarantine-bound marker rows — " +
    "the xid joins (and routing) would otherwise vanish them silently") {
    // the raw shape declares xid/data non-null, but a parquet read does not
    // enforce nullability: build with the all-nullable shape a real file
    // source delivers
    val shape = StructType(WalParser.rawSchema.fields.map(_.copy(nullable = true)))
    val lines = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, 10L, "BEGIN 10"),
      Row(2L, 10L, "table corpus.documents: INSERT: " +
        "doc_id[character varying]:'d-1' n_tok[integer]:1"),
      Row(3L, 10L, "COMMIT 10"),
      Row(4L, null, "table corpus.documents: INSERT: " +
        "doc_id[character varying]:'d-ghost' n_tok[integer]:1"), // null xid
      Row(5L, 10L, null)), 2), shape)                            // null data
    val ev = WalParser.parseForTable(lines, payload, "corpus", "documents")
      .collect().sortBy(_.getAs[Long]("lsn"))
    assert(ev.length == 3, s"1 parsed DML + 2 markers: ${ev.toSeq}")
    assert(ev(0).getAs[String]("op") == "INSERT")
    val markers = ev.filter(_.getAs[String]("op") == null)
    assert(markers.length == 2 &&
      markers.map(_.getAs[Long]("lsn")).toSet == Set(4L, 5L),
      s"markers keep the lsn for inspection: ${markers.toSeq}")
  }

  test("a corrupt slot row quarantines ONCE end-to-end — counted in the " +
    "delivery audit, never re-stashed into later epochs forever") {
    import graft.model._
    import graft.runner.{CdcRunner, RunnerConfig}
    val root = tmpDir("graft-wal-corrupt")
    val shape = StructType(WalParser.rawSchema.fields.map(_.copy(nullable = true)))
    def mk(rows: Row*) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), shape)
    mk(
      Row(1L, 1L, "BEGIN 1"),
      Row(2L, 1L, "table corpus.documents: INSERT: doc_id[character varying]:'d-1' " +
        "tokens[integer[]]:'{1}' n_tok[integer]:1 source[character varying]:'web'"),
      Row(3L, 1L, "COMMIT 1"),
      Row(4L, null, "table corpus.documents: INSERT: " +
        "doc_id[character varying]:'d-ghost' n_tok[integer]:1"),
      Row(5L, 1L, null)
    ).coalesce(1).write.parquet(s"$root/feed")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 2),
      payloadSchema = payload)
    CdcRunner.startFromWal(spark, cfg, "corpus", "documents").awaitTermination()
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    assert(lake.read(spark).count() == 1)
    val q1 = lake.quarantine(spark).collect()
    assert(q1.length == 2, s"both corrupt lines quarantined: ${q1.toSeq}")
    assert(q1.forall(_.getAs[String](graft.apply.MergeApply.QUARANTINE_REASON)
      .startsWith("unknown_op")), q1.mkString(";"))
    assert(lake.manifest.metrics("events_received") == 3L,
      lake.manifest.metrics.toString) // 1 DML + 2 corrupt
    // a later batch unions the pending stash: the corrupt rows must not be
    // in it (a fresh quarantined copy every epoch, forever)
    mk(
      Row(6L, 2L, "BEGIN 2"),
      Row(7L, 2L, "table corpus.documents: INSERT: doc_id[character varying]:'d-2' " +
        "tokens[integer[]]:'{2}' n_tok[integer]:1 source[character varying]:'web'"),
      Row(8L, 2L, "COMMIT 2")
    ).coalesce(1).write.mode("append").parquet(s"$root/feed")
    CdcRunner.startFromWal(spark, cfg, "corpus", "documents").awaitTermination()
    assert(lake.read(spark).count() == 2)
    assert(lake.quarantine(spark).count() == 2, "no re-quarantined copies")
    assert(lake.manifest.metrics("events_received") == 4L,
      lake.manifest.metrics.toString)
  }

  test("end-to-end: raw WAL line feed → streaming parse → upsert merge") {
    import graft.model._
    import graft.runner.{CdcRunner, RunnerConfig}
    val root = tmpDir("graft-wal-e2e")
    val lines = raw(
      (1L, 1L, "BEGIN 1"),
      (2L, 1L, "table corpus.documents: INSERT: doc_id[character varying]:'d-1' " +
        "tokens[integer[]]:'{1,2}' n_tok[integer]:2 source[character varying]:'web' " +
        "updated_at[timestamp]:'2025-01-01 00:00:00'"),
      (3L, 1L, "table corpus.documents: INSERT: doc_id[character varying]:'d-2' " +
        "tokens[integer[]]:'{5}' n_tok[integer]:1 source[character varying]:'code' " +
        "updated_at[timestamp]:'2025-01-01 00:00:01'"),
      (4L, 1L, "COMMIT 1"),
      (5L, 2L, "BEGIN 2"),
      (6L, 2L, "table corpus.documents: UPDATE: doc_id[character varying]:'d-1' " +
        "tokens[integer[]]:'{9,9,9}' n_tok[integer]:3 source[character varying]:'books' " +
        "updated_at[timestamp]:'2025-01-01 00:00:02'"),
      (7L, 2L, "table corpus.documents: DELETE: doc_id[character varying]:'d-2'"),
      (8L, 2L, "table corpus.documents: DELETE: (no-tuple-data)"),
      (9L, 2L, "COMMIT 2"))
    lines.coalesce(1).write.parquet(s"$root/feed")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 4),
      payloadSchema = payload)
    val listeners = spark.streams.listListeners().toSeq
    CdcRunner.startFromWal(spark, cfg, "corpus", "documents").awaitTermination()
    // the launch registers no session listener and writes no progress files
    assert(spark.streams.listListeners().toSeq == listeners)
    assert(!new java.io.File(s"${cfg.tableDir}/metrics").exists())
    val lake = new graft.lake.LakeTable(cfg.tableDir)
    val state = lake.read(spark).collect()
    assert(state.length == 1, s"d-2 deleted, no-tuple DELETE dropped: ${state.toSeq}")
    val r = state.head
    assert(r.getAs[String]("doc_id") == "d-1")
    assert(r.getAs[scala.collection.Seq[Int]]("tokens") == Seq(9, 9, 9))
    assert(r.getAs[String]("source") == "books")
    // the no-tuple DELETE is valid protocol (no replica identity): skipped
    // AND counted — the delivery audit sees all 5 DML events arrive, never
    // a false in-transit-loss gap, and nothing lands in the quarantine
    val metrics = lake.manifest.metrics
    assert(metrics("skipped_keyless_deletes") == 1L, metrics.toString)
    assert(metrics("events_received") == 5L, metrics.toString)
    assert(metrics.getOrElse("events_quarantined", 0L) == 0L, metrics.toString)
  }

  test("key-only DELETE keeps the key; empty array literal decodes") {
    val lines = raw(
      (1L, 1L, "BEGIN 1"),
      (2L, 1L, "table corpus.documents: DELETE: doc_id[character varying]:'d-9'"),
      (3L, 1L, "table corpus.documents: INSERT: doc_id[character varying]:'d-0' " +
        "tokens[integer[]]:'{}' n_tok[integer]:0"),
      (4L, 1L, "COMMIT 1"))
    val ev = WalParser.parseForTable(lines, payload, "corpus", "documents")
      .collect().sortBy(_.getAs[Long]("lsn"))
    assert(ev(0).getAs[String]("doc_id") == "d-9")
    assert(ev(0).isNullAt(ev(0).fieldIndex("n_tok")))
    assert(ev(1).getAs[scala.collection.Seq[Int]]("tokens").isEmpty)
  }

  test("mixed-version lines parse in ONE batch: per-row version detect, rename fold, widen") {
    import graft.lake.{AddColumn, RenameColumn, WidenColumn}
    val basePayload = StructType(Seq(
      StructField("doc_id", StringType),
      StructField("n_tok", IntegerType),
      StructField("source", StringType)))
    val registry = Map(2 -> Seq(
      AddColumn("lang", StringType),
      RenameColumn("source", "origin"),
      WidenColumn("n_tok", LongType)))
    val lines = raw(
      (1L, 1L, "BEGIN 1"),
      // v1 row: old column names
      (2L, 1L, "table corpus.documents: INSERT: doc_id[character varying]:'d-1' " +
        "n_tok[integer]:3 source[character varying]:'web'"),
      // v2 row: renamed column + new column + widened value beyond int range
      (3L, 1L, "table corpus.documents: UPDATE: doc_id[character varying]:'d-2' " +
        "n_tok[bigint]:4000000000 origin[character varying]:'v2-web' " +
        "lang[character varying]:'en'"),
      // key-only DELETE: no markers → version 1, harmless
      (4L, 1L, "table corpus.documents: DELETE: doc_id[character varying]:'d-1'"),
      (5L, 1L, "COMMIT 1"))
    val ev = WalParser.parseVersionedForTable(lines, basePayload, registry,
      "corpus", "documents").collect().sortBy(_.getAs[Long]("lsn"))
    assert(ev.length == 3)
    assert(ev.head.schema.fieldNames.toSeq
      .containsSlice(Seq("doc_id", "n_tok", "origin", "lang")),
      s"latest shape, old name folded away: ${ev.head.schema.fieldNames.toSeq}")
    val v1 = ev(0)
    assert(v1.getAs[Int]("schema_ver") == 1)
    assert(v1.getAs[Long]("n_tok") == 3L, "v1 int value arrives widened")
    assert(v1.getAs[String]("origin") == "web", "v1 'source' folds into 'origin'")
    assert(v1.isNullAt(v1.fieldIndex("lang")))
    val v2 = ev(1)
    assert(v2.getAs[Int]("schema_ver") == 2)
    assert(v2.getAs[Long]("n_tok") == 4000000000L)
    assert(v2.getAs[String]("origin") == "v2-web")
    assert(v2.getAs[String]("lang") == "en")
    val del = ev(2)
    assert(del.getAs[Int]("schema_ver") == 1 && del.getAs[String]("op") == "DELETE")
  }

  test("three-generation rename chain folds newest-first across versions") {
    import graft.lake.{AddColumn, RenameColumn}
    val base = StructType(Seq(
      StructField("doc_id", StringType), StructField("src", StringType)))
    // v2: src→origin; v3: origin→provenance + a marker column per generation
    val registry = Map(
      2 -> Seq(RenameColumn("src", "origin"), AddColumn("v2flag", StringType)),
      3 -> Seq(RenameColumn("origin", "provenance"), AddColumn("v3flag", StringType)))
    val p = VersionedPayload.plan(base, registry)
    assert(p.latest.fieldNames.toSeq == Seq("doc_id", "provenance", "v2flag", "v3flag"))
    assert(p.union.fieldNames.toSeq
      .intersect(Seq("src", "origin", "provenance")) == Seq("src", "origin", "provenance"),
      "every historical name parseable")
    assert(p.history("provenance") == Seq("provenance", "origin", "src"),
      "fold order newest-first")
    val lines = raw(
      (1L, 1L, "BEGIN 1"),
      (2L, 1L, "table s.t: INSERT: doc_id[character varying]:'a' " +
        "src[character varying]:'v1'"),
      (3L, 1L, "table s.t: INSERT: doc_id[character varying]:'b' " +
        "origin[character varying]:'v2' v2flag[character varying]:'x'"),
      (4L, 1L, "table s.t: INSERT: doc_id[character varying]:'c' " +
        "provenance[character varying]:'v3' v3flag[character varying]:'y'"),
      (5L, 1L, "COMMIT 1"))
    val ev = WalParser.parseVersioned(lines, base, registry)
      .collect().sortBy(_.getAs[Long]("lsn"))
    assert(ev.map(_.getAs[Int]("schema_ver")).toSeq == Seq(1, 2, 3))
    assert(ev.map(_.getAs[String]("provenance")).toSeq == Seq("v1", "v2", "v3"),
      "each generation's value lands under the final name")
  }

  test("widen-only registry version applies eagerly (no wire marker to detect)") {
    import graft.model._
    import graft.runner.{CdcRunner, RunnerConfig}
    import graft.lake.WidenColumn
    val root = tmpDir("graft-wal-widen")
    val basePayload = StructType(Seq(
      StructField("doc_id", StringType), StructField("n_tok", IntegerType)))
    // one line carrying a value past int range; nothing marks it as v2
    val lines = raw(
      (1L, 1L, "BEGIN 1"),
      (2L, 1L, "table corpus.documents: INSERT: doc_id[character varying]:'d-1' " +
        "n_tok[bigint]:4000000000"),
      (3L, 1L, "COMMIT 1"))
    lines.coalesce(1).write.parquet(s"$root/feed")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 2),
      payloadSchema = basePayload,
      schemaRegistry = Map(2 -> Seq(WidenColumn("n_tok", LongType))))
    CdcRunner.startFromWal(spark, cfg, "corpus", "documents").awaitTermination()
    val state = new graft.lake.LakeTable(cfg.tableDir).read(spark).collect()
    assert(state.length == 1 && state.head.getAs[Long]("n_tok") == 4000000000L,
      s"lake widened before the first batch — no truncation: ${state.toSeq}")
  }

  test("e2e mixed-version WAL stream evolves the lake MID-BATCH (no restart)") {
    import graft.model._
    import graft.runner.{CdcRunner, RunnerConfig}
    import graft.lake.{AddColumn, RenameColumn, WidenColumn}
    val root = tmpDir("graft-wal-evo")
    val basePayload = StructType(Seq(
      StructField("doc_id", StringType),
      StructField("n_tok", IntegerType),
      StructField("source", StringType)))
    val lines = raw(
      (1L, 1L, "BEGIN 1"),
      (2L, 1L, "table corpus.documents: INSERT: doc_id[character varying]:'d-1' " +
        "n_tok[integer]:2 source[character varying]:'web'"),
      (3L, 1L, "table corpus.documents: INSERT: doc_id[character varying]:'d-2' " +
        "n_tok[integer]:1 source[character varying]:'code'"),
      // v2 rows in the SAME stream — overwrite d-2, add d-3
      (4L, 1L, "table corpus.documents: UPDATE: doc_id[character varying]:'d-2' " +
        "n_tok[bigint]:5000000000 origin[character varying]:'v2-code' " +
        "lang[character varying]:'de'"),
      (5L, 1L, "table corpus.documents: INSERT: doc_id[character varying]:'d-3' " +
        "n_tok[bigint]:7 origin[character varying]:'v2-books' lang[character varying]:'fr'"),
      (6L, 1L, "COMMIT 1"))
    lines.coalesce(1).write.parquet(s"$root/feed")
    val cfg = RunnerConfig(
      feedDir = s"$root/feed", tableDir = s"$root/table", checkpointDir = s"$root/cp",
      job = JobConfig(mode = CdcMode.Upsert, buckets = 4),
      payloadSchema = basePayload,
      schemaRegistry = Map(2 -> Seq(
        AddColumn("lang", StringType),
        RenameColumn("source", "origin"),
        WidenColumn("n_tok", LongType))))
    CdcRunner.startFromWal(spark, cfg, "corpus", "documents").awaitTermination()
    val state = new graft.lake.LakeTable(cfg.tableDir).read(spark)
      .collect().sortBy(_.getAs[String]("doc_id"))
    assert(state.length == 3)
    assert(state.map(_.getAs[String]("origin")).toSeq == Seq("web", "v2-code", "v2-books"),
      "v1 source readable under the evolved name; v2 values applied")
    assert(state.map(_.getAs[Long]("n_tok")).toSeq == Seq(2L, 5000000000L, 7L))
    assert(state(0).isNullAt(state(0).fieldIndex("lang")) &&
      state(1).getAs[String]("lang") == "de")
  }

  test("truncated DML line (op colon, nothing after) keeps a null-op marker " +
    "instead of vanishing as another table's traffic") {
    // passes the DML-prefix filter but fails the full LINE_RE: every
    // regexp_extract group is "" (not NULL), and an empty-string route used
    // to slip past routed()'s broken-row check — dropped with no quarantine,
    // no count. It must instead surface as a null-op marker the merge
    // quarantines as unknown_op, lsn/xid intact for inspection.
    val lines = raw(
      (1L, 10L, "BEGIN 10"),
      (2L, 10L, "table corpus.documents: INSERT:"), // truncated at the op
      (3L, 10L, "table corpus.documents: INSERT: doc_id[character varying]:'d-ok' " +
        "n_tok[integer]:1"),
      (4L, 10L, "COMMIT 10"))
    val ev = WalParser.parseForTable(lines, payload, "corpus", "documents")
      .collect().sortBy(_.getAs[Long]("lsn"))
    assert(ev.length == 2, s"truncated line must be KEPT as a marker: ${ev.toSeq}")
    val marker = ev(0)
    assert(marker.isNullAt(marker.fieldIndex("op")),
      "null op routes the marker to the merge's unknown_op quarantine")
    assert(marker.getAs[Long]("lsn") == 2L)
    assert(marker.getAs[Long]("txn_id") == 10L)
    assert(ev(1).getAs[String]("op") == "INSERT")
    assert(ev(1).getAs[String]("doc_id") == "d-ok")
  }
}
