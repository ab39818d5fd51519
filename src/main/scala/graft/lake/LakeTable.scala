package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Iceberg-semantics lake table over plain Parquet (no Iceberg jar in this sandbox —
 * SURVEY §7.0): a directory of immutable Parquet data files + versioned JSON snapshot
 * manifests, with
 *   - hidden bucket partitioning `bucket = pmod(xxhash64(keys), B)` (Iceberg bucket
 *     transform analogue) — merge reads prune to affected buckets via the manifest,
 *     never by directory listing;
 *   - schema evolution by stable field ids (add / rename / widen) — old files are
 *     NOT rewritten; reads project each file group written at schema s onto the
 *     current schema by field id;
 *   - exactly-once idempotent commits keyed on epoch: the manifest carries the
 *     committed-epoch set, a re-delivered `foreachBatch` epoch is a no-op
 *     (fixes the reference's loss/duplication window — at-least-once ack in
 *     trempy/Tasks/Task.py:188-204 after destructive slot reads,
 *     trempy/Shared/Queries/QueryPostgreSQL.py:132-135);
 *   - atomic commit = write tmp + atomic rename (one serialization point, mirroring
 *     the reference's per-envelope ack);
 *   - per-epoch lineage + metrics JSON alongside the manifests.
 *
 * Layout (each file kind has ONE writer here: `publish` for metadata files,
 * `writeEpochFiles` for data, `writeQuarantine` for quarantine dirs):
 * {{{
 *   dir/manifests/v%06d.json       — snapshots (append-only)
 *   dir/manifests/mf-…json         — manifest fragments (file adds/replaces)
 *   dir/manifests/_current         — latest version pointer
 *   dir/manifests/_vacuum_floor    — lowest version vacuum has not swept
 *   dir/data/epoch=N/_bucket=K/…   — data files (immutable once committed)
 *   dir/quarantine/epoch=N/…       — DLX analogue (trempy/Messages/MessageDlx.py:57-83)
 *   dir/lineage/epoch=N.json       — per-partition lineage + metrics
 *   dir/changes/epoch=N/…          — CoW change sidecars + _meta.json; changes/_feed
 *   dir/sync_source.json           — LakeSync's source binding (mirror tables)
 *   …/.<name>.tmp-<nonce>          — staging file of an atomic publish
 * }}}
 */
final case class GraftField(id: Int, name: String, dataType: DataType, nullable: Boolean = true)

final case class GraftSchema(schemaId: Int, fields: Seq[GraftField]) {
  def sparkSchema: StructType =
    StructType(fields.map(f => StructField(f.name, f.dataType, f.nullable)))
  def byId(id: Int): Option[GraftField] = fields.find(_.id == id)
  def byName(n: String): Option[GraftField] = fields.find(_.name == n)
  def maxId: Int = if (fields.isEmpty) 0 else fields.map(_.id).max
}

object GraftSchema {
  def fromSpark(schema: StructType, schemaId: Int = 1): GraftSchema =
    GraftSchema(schemaId, schema.fields.zipWithIndex.map { case (f, i) =>
      GraftField(i + 1, f.name, f.dataType, f.nullable)
    }.toSeq)
}

/** Schema-evolution operations (SURVEY §2.3 structural rules / FIXTURES F5). */
sealed trait SchemaChange
case class AddColumn(name: String, dataType: DataType, nullable: Boolean = true) extends SchemaChange
case class RenameColumn(from: String, to: String) extends SchemaChange
case class WidenColumn(name: String, to: DataType) extends SchemaChange

object SchemaChange {
  /** The (name → type) SHAPE effect of one change, with the guarded
    * applicability semantics every replay site shares: an add of an existing
    * name, a rename whose source is gone or whose target name is taken, and
    * a widen of an absent column are NO-OPS (stale entries of an
    * already-applied chain), not errors. [[LakeTable.applySchemaChanges]]
    * stays the authoritative full-schema (field-id, nullability) evolution;
    * this is the lightweight simulation its replay-idempotence callers fold
    * with (CdcRunner.applySchemaRegistry's no-op-chain detection,
    * LakeSync's evolution-replay fixpoint). ONE definition so a new change
    * kind cannot land in one fold and silently diverge the others. */
  def applyToShape(shape: Vector[(String, DataType)],
      ch: SchemaChange): Vector[(String, DataType)] = ch match {
    case AddColumn(n, dt, _) if !shape.exists(_._1 == n) => shape :+ (n -> dt)
    case RenameColumn(f, t)
        if shape.exists(_._1 == f) && !shape.exists(_._1 == t) =>
      shape.map { case (n, dt) => (if (n == f) t else n) -> dt }
    case WidenColumn(n, to) =>
      shape.map { case (nm, dt) => nm -> (if (nm == n) to else dt) }
    case _ => shape
  }
}

/** A commit prepared against a snapshot that is no longer current could not be
  * safely attached to the table head: something it depends on (the buckets it
  * rewrites, the schema it evolves, the file list it consolidates) changed
  * under it. The operation must be recomputed from the current snapshot —
  * readers and disjoint writers were never at risk (the losing commit
  * published nothing). */
final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

/** Internal signal: the version-file CAS was lost to a concurrent committer.
  * Callers inside [[LakeTable]] re-read the head and retry or surface a
  * [[ConcurrentCommitException]]; never escapes the class. */
private[lake] final class CommitRace(val version: Int) extends RuntimeException(
  s"version v$version was committed concurrently")

object DataFile {
  val BASE = "base"
  /** Merge-on-read delta: per-epoch per-key LWW rows layered over the base;
    * resolved at read time by per-key max(_lsn), folded away by compaction. */
  val DELTA = "delta"

  /** Unsigned UTF-8 lexicographic compare (parquet binary-stats order). */
  def utf8Cmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
}
/** Parquet-footer min/max of one merge-key column — string keys in UNSIGNED
  * UTF-8 byte order (the order parquet binary statistics use; Java's UTF-16
  * `String` ordering diverges for supplementary-plane characters and would
  * wrongly prune), integral keys in numeric order. */
final case class ColRange(
    minS: Option[String] = None, maxS: Option[String] = None,
    minN: Option[Long] = None, maxN: Option[Long] = None) {
  def mayContain(k: String): Boolean = (minS, maxS) match {
    case (Some(lo), Some(hi)) =>
      DataFile.utf8Cmp(lo, k) <= 0 && DataFile.utf8Cmp(k, hi) <= 0
    case _ => true
  }
  def mayContainNum(k: Long): Boolean = (minN, maxN) match {
    case (Some(lo), Some(hi)) => lo <= k && k <= hi
    case _ => true
  }
  /** Whether the two ranges PROVABLY share no value — false whenever either
    * side lacks stats (absence of evidence never prunes). Since every row's
    * key lies inside its file's range, two files holding the same key value
    * always intersect; disjointness therefore proves no shared key. */
  def provablyDisjoint(o: ColRange): Boolean =
    ((minS, maxS, o.minS, o.maxS) match {
      case (Some(lo), Some(hi), Some(olo), Some(ohi)) =>
        DataFile.utf8Cmp(hi, olo) < 0 || DataFile.utf8Cmp(ohi, lo) < 0
      case _ => false
    }) || ((minN, maxN, o.minN, o.maxN) match {
      case (Some(lo), Some(hi), Some(olo), Some(ohi)) => hi < olo || ohi < lo
      case _ => false
    })
}

final case class DataFile(
    path: String, bucket: Int, schemaId: Int, rows: Long,
    kind: String = DataFile.BASE,
    /** parquet-footer min/max per MERGE-KEY column — intra-bucket file
      * pruning for point lookups; composite-key tables prune on every key
      * column, not just the leading one. */
    keyStats: Map[String, ColRange] = Map.empty,
    /** BUCKET SPEC: the table bucket count this file's `bucket` id is relative
      * to — per-file, like `schemaId`, so [[LakeTable.rescale]] can grow the
      * table's bucket count without rewriting data. 0 = written before spec
      * tracking (patched to the manifest's bucket count on resolve). */
    spec: Int = 0,
    /** on-disk size — drives the auto-rescale bytes/bucket policy without
      * re-stating every file each tick. 0 = recorded before size tracking. */
    bytes: Long = 0L) {
  def isDelta: Boolean = kind == DataFile.DELTA
  /** Current-spec buckets this file's rows can belong to: `pmod(h, k·s) ≡
    * pmod(h, s) (mod s)`, so a file at spec `s` holding bucket `b` covers
    * exactly the current buckets `{b, b+s, b+2s, …}`. */
  def coveredBuckets(currentBuckets: Int): Range =
    bucket until currentBuckets by spec
  /** Whether a replace set (current-spec ids) touches this file. */
  def replacedBy(replaced: Set[Int]): Boolean =
    if (spec <= 0) replaced.contains(bucket)
    else replaced.exists(r => r % spec == bucket)
  /** Per-column range check; an un-tracked column never prunes. */
  def mayContainKey(colName: String, k: String): Boolean =
    keyStats.get(colName).forall(_.mayContain(k))
  def mayContainKeyNum(colName: String, k: Long): Boolean =
    keyStats.get(colName).forall(_.mayContainNum(k))
}

object Manifest {
  val LWW = "lww"
  val SCD2 = "scd2"
  /** `Manifest.epoch` value for versions not produced by a data commit
    * (create / evolve / rescale / manifest rewrite) and for manifests written
    * before epoch tracking. */
  val NoEpoch: Long = Long.MinValue
}

/**
 * One commit's file delta — the manifest-list indirection: a snapshot JSON
 * references an ordered list of immutable fragments instead of carrying every
 * live data file. Commit cost is O(files in this epoch), independent of total
 * table file count; readers fold fragments (incrementally cached), and
 * compaction rewrites the fragment list down to one.
 */
final case class ManifestFragment(
    seq: Int,
    added: Seq[DataFile],
    replacedBuckets: Set[Int])

final case class Manifest(
    version: Int,
    buckets: Int,
    currentSchemaId: Int,
    schemas: Seq[GraftSchema],
    /** resolved live files at this snapshot (fold of the fragment list) */
    files: Seq[DataFile],
    /** all streaming epochs in [0, epochWatermark] are committed (-2 = none)… */
    epochWatermark: Long,
    /** …plus these sparse committed epochs outside the watermark range
      * (bounded: the watermark absorbs contiguous runs from 0, so this only
      * holds gap stragglers plus the single fullLoad epoch -1 when present) */
    recentEpochs: Set[Long],
    metrics: Map[String, Long],
    /** merge keys — required for read-time LWW resolution of delta files */
    keyCols: Seq[String] = Nil,
    /** fragment file names in fold order */
    fragments: Seq[String] = Nil,
    /** how delta files resolve at read time: "lww" (per-key max _lsn) or
      * "scd2" (chain rebuild over version rows) */
    tableMode: String = Manifest.LWW,
    /** scd2 column names (start, end, current) when tableMode == scd2 */
    scdCols: Seq[String] = Nil,
    /** wall-clock commit time (ms) — metadata only (age-based vacuum
      * retention); never feeds data or replay decisions */
    committedAtMs: Long = 0L,
    /** sticky: some commit in this table's history added DELTA files. Unlike
      * [[hasDeltas]] it survives compaction, so maintenance entry points can
      * default their merge strategy to the table's actual storage mode — a
      * copy-on-write default on a (momentarily fully-folded) merge-on-read
      * table would commit a sidecar-less base epoch that wedges changeLog. */
    deltaHistory: Boolean = false,
    /** the streaming/maintenance epoch whose commit produced THIS version
      * ([[Manifest.NoEpoch]] for metadata-only versions) — lets changeLog map
      * a snapshot window back to the epochs whose change sidecars it spans. */
    epoch: Long = Manifest.NoEpoch,
    /** creation nonce (UUID, minted once by [[LakeTable.create]] and carried
      * by every later version): the table's IDENTITY, distinct from its
      * path. A consumer holding a version cursor (LakeSync's offset) can
      * detect that the path was deleted and re-created — same path, same
      * schema, unrelated history — where every shape check passes and the
      * cursor silently binds to the wrong table. Empty on pre-nonce tables. */
    tableId: String = "") {
  def currentSchema: GraftSchema = schemas.find(_.schemaId == currentSchemaId).get
  def schemaById(id: Int): GraftSchema = schemas.find(_.schemaId == id).get
  def hasDeltas: Boolean = files.exists(_.isDelta)
  /** The storage mode a maintenance writer (quarantine drain) should commit
    * under when none is configured: merge-on-read iff the table's history
    * shows delta commits — live ([[hasDeltas]]) or compacted-away
    * ([[deltaHistory]]). Canonical [[graft.model.MergeStrategy]] spelling. */
  def defaultMergeStrategy: String =
    if (deltaHistory || hasDeltas) "merge_on_read" else "copy_on_write"
  def isCommittedEpoch(e: Long): Boolean =
    (e >= 0 && e <= epochWatermark) || recentEpochs.contains(e)
  def committedEpochCount: Long =
    math.max(0L, epochWatermark + 1) +
      recentEpochs.count(e => e < 0 || e > epochWatermark)
}

object ManifestJson {
  private implicit val fmt: Formats = DefaultFormats
  private def typeToJson(dt: DataType): JValue = JString(dt.json)
  private def typeFromJson(j: JValue): DataType = DataType.fromJson(j.asInstanceOf[JString].s)

  private def rangeToJson(r: ColRange): JObject = JObject(
    r.minS.map(v => "min_s" -> (JString(v): JValue)).toList ++
    r.maxS.map(v => "max_s" -> (JString(v): JValue)).toList ++
    r.minN.map(v => "min_n" -> (JLong(v): JValue)).toList ++
    r.maxN.map(v => "max_n" -> (JLong(v): JValue)).toList)

  private def rangeFromJson(j: JValue): ColRange = ColRange(
    (j \ "min_s").extractOpt[String], (j \ "max_s").extractOpt[String],
    (j \ "min_n").extractOpt[Long], (j \ "max_n").extractOpt[Long])

  private def fileToJson(f: DataFile): JObject = JObject(List(
    "path" -> JString(f.path), "bucket" -> JInt(f.bucket),
    "schema_id" -> JInt(f.schemaId), "rows" -> JLong(f.rows),
    "kind" -> JString(f.kind), "spec" -> JInt(f.spec),
    "bytes" -> JLong(f.bytes)) ++
    (if (f.keyStats.isEmpty) Nil
     else List("key_stats" -> (JObject(f.keyStats.toList.sortBy(_._1)
       .map { case (c, r) => c -> (rangeToJson(r): JValue) }): JValue))))

  // NOTE on format history: fragments written before the per-column key_stats
  // map carried flat min_key/max_key(_num) fields for the LEADING key only;
  // those are not mapped forward (the column name was implicit, not stored),
  // so such files resolve with empty keyStats — a pruning-only degradation
  // (every lookup still returns correct rows) healed by the next compaction.
  private def fileFromJson(jf: JValue): DataFile =
    DataFile((jf \ "path").extract[String], (jf \ "bucket").extract[Int],
      (jf \ "schema_id").extract[Int], (jf \ "rows").extract[Long],
      (jf \ "kind").extractOrElse[String](DataFile.BASE),
      (jf \ "key_stats") match {
        case JObject(kvs) => kvs.map { case (c, r) => c -> rangeFromJson(r) }.toMap
        case _ => Map.empty[String, ColRange]
      },
      (jf \ "spec").extractOrElse[Int](0),
      (jf \ "bytes").extractOrElse[Long](0L))

  def writeFragment(fr: ManifestFragment): String =
    JsonMethods.pretty(JsonMethods.render(JObject(
      "seq" -> JInt(fr.seq),
      "added" -> JArray(fr.added.toList.map(fileToJson)),
      "replaced_buckets" -> JArray(fr.replacedBuckets.toList.sorted.map(JInt(_))))))

  def readFragment(s: String): ManifestFragment = {
    val j = JsonMethods.parse(s)
    ManifestFragment(
      (j \ "seq").extract[Int],
      (j \ "added").asInstanceOf[JArray].arr.map(fileFromJson),
      (j \ "replaced_buckets").asInstanceOf[JArray].arr.map(_.extract[Int]).toSet)
  }

  /** Snapshot JSON: metadata + fragment list — NO file list (commit cost stays
    * independent of total table file count). */
  def write(m: Manifest): String = {
    val j = JObject(
      "version" -> JInt(m.version),
      "buckets" -> JInt(m.buckets),
      "current_schema_id" -> JInt(m.currentSchemaId),
      "schemas" -> JArray(m.schemas.toList.map(s => JObject(
        "schema_id" -> JInt(s.schemaId),
        "fields" -> JArray(s.fields.toList.map(f => JObject(
          "id" -> JInt(f.id), "name" -> JString(f.name),
          "type" -> typeToJson(f.dataType), "nullable" -> JBool(f.nullable))))))),
      "epoch_watermark" -> JLong(m.epochWatermark),
      "recent_epochs" -> JArray(m.recentEpochs.toList.sorted.map(JLong(_))),
      "metrics" -> JObject(m.metrics.toList.sortBy(_._1).map { case (k, v) => k -> JLong(v) }),
      "key_cols" -> JArray(m.keyCols.toList.map(JString(_))),
      "fragments" -> JArray(m.fragments.toList.map(JString(_))),
      "table_mode" -> JString(m.tableMode),
      "scd_cols" -> JArray(m.scdCols.toList.map(JString(_))),
      "committed_at_ms" -> JLong(m.committedAtMs),
      "delta_history" -> JBool(m.deltaHistory),
      "epoch" -> JLong(m.epoch),
      "table_id" -> JString(m.tableId)
    )
    JsonMethods.pretty(JsonMethods.render(j))
  }

  /** Read the snapshot metadata; `files` is left empty — the caller folds the
    * fragment list (LakeTable.resolve). */
  def read(s: String): Manifest = {
    val j = JsonMethods.parse(s)
    // refuse the pre-fragment snapshot layout loudly: reading it as "no
    // fragments" would present an existing table as empty (silent data loss
    // once the next commit/vacuum runs)
    require((j \ "files") == JNothing && (j \ "committed_epochs") == JNothing,
      "unsupported legacy manifest layout (inline file list) — " +
        "this build reads fragment-list snapshots only")
    Manifest(
      version = (j \ "version").extract[Int],
      buckets = (j \ "buckets").extract[Int],
      currentSchemaId = (j \ "current_schema_id").extract[Int],
      schemas = (j \ "schemas").asInstanceOf[JArray].arr.map { js =>
        GraftSchema(
          (js \ "schema_id").extract[Int],
          (js \ "fields").asInstanceOf[JArray].arr.map { jf =>
            GraftField((jf \ "id").extract[Int], (jf \ "name").extract[String],
              typeFromJson(jf \ "type"), (jf \ "nullable").extract[Boolean])
          })
      },
      files = Nil,
      epochWatermark = (j \ "epoch_watermark").extractOrElse[Long](-2L),
      recentEpochs = (j \ "recent_epochs") match {
        case JArray(es) => es.map(_.extract[Long]).toSet
        case _ => Set.empty
      },
      metrics = (j \ "metrics") match {
        case JObject(kvs) => kvs.map { case (k, v) => k -> v.extract[Long] }.toMap
        case _ => Map.empty
      },
      keyCols = (j \ "key_cols") match {
        case JArray(ks) => ks.map(_.extract[String])
        case _ => Nil
      },
      fragments = (j \ "fragments") match {
        case JArray(fs) => fs.map(_.extract[String])
        case _ => Nil
      },
      tableMode = (j \ "table_mode").extractOrElse[String](Manifest.LWW),
      scdCols = (j \ "scd_cols") match {
        case JArray(cs) => cs.map(_.extract[String])
        case _ => Nil
      },
      committedAtMs = (j \ "committed_at_ms").extractOrElse[Long](0L),
      deltaHistory = (j \ "delta_history").extractOrElse[Boolean](false),
      epoch = (j \ "epoch").extractOrElse[Long](Manifest.NoEpoch),
      tableId = (j \ "table_id").extractOrElse[String](""))
  }
}

object LakeTable {
  /** One shared Configuration for footer reads — constructing one per file
    * would dominate the metadata pass (XML resource loading). */
  lazy val sharedHadoopConf = new org.apache.hadoop.conf.Configuration()

  /** Manifest-metrics key: highest schema-registry version already applied
    * to this table (see [[LakeTable.evolveRegistry]]). */
  val RegistryVerMetric = "registry_applied_ver"

  /** Manifest-metrics key: cumulative count of TRUNCATE-AND-LOAD commits
    * (the full load, LakeSync's reload re-mirror). A reload replaces every
    * bucket, which a row-level change feed fundamentally cannot express
    * (vanished keys leave no tombstone) — so [[LakeTable.changeLog]] REFUSES
    * windows spanning a bump of this counter and consumers re-sync from
    * state instead (LakeSync does so automatically, propagating the reload
    * down a mirror chain). Summable (metrics merge by sum), so a window's
    * reload is detectable as `at(to) > at(from)` from the two end metas. */
  val ReloadMetric = "reload_count"

  /** Marker file in a quarantine dir whose rows are POST-transform: the
    * drain must not re-run the rules on them (a `price*2` run twice corrupts
    * silently). Underscore-prefixed so parquet readers ignore it. */
  private[graft] val PostTransformMarker = "_post_transform"

  /** Staging sibling of `target` for an atomic publish: the dot-prefixed
    * `.<name>.tmp-<nonce>`, which [[isTmp]] recognizes. */
  private[graft] def tmpFor(target: Path): Path =
    target.resolveSibling(s".${target.getFileName}.tmp-${System.nanoTime()}")

  private[graft] def isTmp(p: Path): Boolean =
    p.getFileName.toString.startsWith(".") && p.getFileName.toString.contains(".tmp-")

  /** THE metadata-file writer: stage `bytes` in [[tmpFor]], then replace
    * `target` by `ATOMIC_MOVE`. Readers see the old or the whole new file;
    * a crash leaves only the staging file, which `removeOrphans` sweeps.
    * Atomic visibility, NOT durability: nothing is fsynced, so after a
    * power loss `target` may still hold its previous content. */
  private[graft] def publish(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = tmpFor(target)
    try {
      Files.write(tmp, bytes)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally { Files.deleteIfExists(tmp); () }
  }

  /** Row-level untouched-base prune (the refinement under the file-level
    * [[LakeTable.pruneUntouchedBase]]): when the base rows of the
    * delta-bearing groups outnumber their delta rows by at least this
    * factor, a read builds a bloom filter of the delta key hashes and
    * splits UNTOUCHED base ROWS out of the bucket-local fold — they skip
    * the one-task-per-group constraint AND the in-partition sort, scanning
    * at full parallelism instead. Hash-random key workloads, which the
    * file-level (footer key-range) prune can never touch, prune here.
    * Below the ratio the extra base scan outweighs the sort saved; the
    * fold-everything path is used unchanged. */
  private[lake] val RowPruneMinRatio = 8L

  /** Delta-row cap for the row-level prune's bloom (≈1 byte/key at the 3%
    * fpp used): past it the filter would be too large to ship comfortably
    * with the plan, and a delta that big is overdue for compaction anyway —
    * the read falls back to the plain fold. */
  private[lake] val RowPruneMaxDeltaKeys = 1L << 25

  private[lake] val rowPruneFpp = 0.03

  /** Balanced (tree-shaped) unionAll: Catalyst analysis over a left-deep
    * N-branch union chain is quadratic in N; the balanced tree keeps plan
    * depth O(log N) for the many-bucket fold paths. */
  private[lake] def unionBalanced(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionBalanced of zero frames")
    if (dfs.size == 1) dfs.head
    else unionBalanced(dfs.grouped(2)
      .map(g => if (g.size == 2) g(0).unionAll(g(1)) else g(0)).toSeq)
  }

  /** Per-row key equality over InternalRows for the sorted bucket-local
    * folds (UTF8String/primitive internal values — no external conversion).
    * Lives on the companion so the executor-side fold closures stay static —
    * an instance method would drag the (non-serializable) LakeTable into the
    * task closure. */
  private[lake] def sameKey(keyIdx: Array[Int], keyTypes: Array[DataType],
      a: org.apache.spark.sql.catalyst.InternalRow,
      b: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    var i = 0
    while (i < keyIdx.length) {
      val o = keyIdx(i)
      val an = a.isNullAt(o); val bn = b.isNullAt(o)
      if (an != bn) return false
      if (!an && a.get(o, keyTypes(i)) != b.get(o, keyTypes(i))) return false
      i += 1
    }
    true
  }
}

/** Result of [[LakeTable.reconcile]]: committed streaming epochs with no
  * lineage record, and metric keys whose per-epoch lineage sum disagrees with
  * the manifest's cumulative value (manifest total, lineage sum). */
final case class ReconcileReport(
    missingLineage: Seq[Long],
    mismatchedMetrics: Map[String, (Long, Long)]) {
  def ok: Boolean = missingLineage.isEmpty && mismatchedMetrics.isEmpty
}

class LakeTable(val dir: String) {
  import scala.collection.parallel.CollectionConverters._
  private val manifestsDir = Paths.get(dir, "manifests")
  private def manifestPath(v: Int): Path = manifestsDir.resolve(f"v$v%06d.json")
  private def currentPtr: Path = manifestsDir.resolve("_current")

  def dataDir(epoch: Long): String = s"$dir/data/epoch=$epoch"
  def quarantineDir(epoch: Long): String = s"$dir/quarantine/epoch=$epoch"
  /** Per-epoch change sidecar of a copy-on-write commit (JobConfig.changeFeed):
    * the reduced per-key change set, delta-file-shaped, read ONLY by
    * [[changeLog]] — never by table reads (the rows are already merged into
    * the base). Merge-on-read commits need none: their delta files are the
    * change set. */
  def changesDir(epoch: Long): String = s"$dir/changes/epoch=$epoch"

  /** Whether this table has recorded ANY change sidecar — the on-disk signal
    * that it is run with `change_feed` on. Maintenance entry points use it to
    * default their own changeFeed flag, so a quarantine drain on a
    * feed-recording table cannot silently commit a sidecar-less epoch that
    * would wedge every changeLog window spanning it. */
  def recordsChangeFeed: Boolean = {
    val root = Paths.get(dir, "changes")
    // the `_feed` marker is the durable half: vacuum GCs pruned epochs'
    // sidecar DIRS, so an aggressively-vacuumed feed-recording table can have
    // zero epoch= children left — keying off those alone would flip this to
    // false and let the next maintenance commit wedge the feed it guards
    if (!Files.isDirectory(root)) return false
    if (Files.exists(root.resolve(FEED_MARKER))) return true
    // pure READ: tables whose sidecars predate the marker answer from the
    // epoch-dir evidence every call; the durable pin happens on writer paths
    // only (every sidecar write, enableChangeFeed at creation, and vacuum
    // just before it GCs pruned epochs' sidecar dirs — the one operation
    // that destroys this evidence). A getter that wrote a marker made
    // nominally read-only probes (JobMain drain defaults, LakeSync feed
    // resolution) mutate the table dir — spurious diffs on snapshot copies.
    scala.util.Using.resource(Files.list(root)) { ls =>
      ls.iterator().asScala.exists(_.getFileName.toString.startsWith("epoch="))
    }
  }

  private val FEED_MARKER = "_feed"

  /** Pin the table's change-feed identity durably (see [[recordsChangeFeed]])
    * without writing a sidecar. Two users: writers that decide the identity
    * at TABLE CREATION, before any epoch exists (LakeSync pins its mirror
    * here so the flag cannot drift across sync calls); and empty-batch
    * commits, which need the marker from the first feed-enabled epoch but
    * never a sidecar ([[changeLog]] only demands one from epochs that
    * committed base files or replaced buckets — a file-less, replacement-less
    * commit is exempt). Idempotent and cheap — two filesystem metadata
    * ops, no Spark job. */
  def enableChangeFeed(): Unit = {
    val marker = Paths.get(dir, "changes", FEED_MARKER)
    if (!Files.exists(marker)) {
      Files.createDirectories(marker.getParent)
      Files.writeString(marker, ""): Unit
    }
  }

  /** Persist one CoW epoch's change set ([[changesDir]]). Overwrite keeps a
    * retried epoch idempotent; the `_meta.json` records the writer schema id
    * so changeLog can project the rows onto the window-end schema by field
    * id, like any other file group. */
  def writeChangeSet(changes: DataFrame, epoch: Long, schemaId: Int): Unit = {
    changes.write.mode("overwrite").parquet(changesDir(epoch))
    LakeTable.publish(Paths.get(changesDir(epoch), "_meta.json"),
      s"""{"schema_id":$schemaId}""".getBytes("UTF-8"))
    // durable feed marker (see recordsChangeFeed) — outlives vacuumed epochs
    enableChangeFeed()
  }

  private def changeSetFiles(epoch: Long): Seq[DataFile] = {
    val root = Paths.get(changesDir(epoch))
    // named failure instead of a bare NoSuchFileException from deep in the
    // read path: a sidecar dir whose meta vanished (partial restore,
    // external deletion) is a broken change-feed contract, say so
    if (!Files.exists(root.resolve("_meta.json")))
      throw new IllegalStateException(
        s"change sidecar ${changesDir(epoch)} exists but has no _meta.json " +
          "— the sidecar is incomplete (partial copy/restore?); the " +
          "change_feed contract cannot serve this epoch")
    val sid = (JsonMethods.parse(new String(
      Files.readAllBytes(root.resolve("_meta.json")))) \ "schema_id") match {
      case JInt(v) => v.toInt
      case other   => throw new IllegalStateException(
        s"changes/epoch=$epoch/_meta.json has no schema_id ($other)")
    }
    scala.util.Using.resource(Files.list(root)) { ls =>
      ls.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(p => DataFile(p.toString, -1, sid, -1L))
        .toSeq
    }
  }

  /** Epochs with quarantined rows on disk — the dead-letter inventory an
    * operator lists before draining (reference: the `dlx_message` table,
    * trempy/Metadata/Query.py:47-64). Drive each through
    * [[graft.apply.MergeApply.replayQuarantine]] after correcting. */
  def quarantinedEpochs: Seq[Long] = {
    val q = Paths.get(dir, "quarantine")
    if (!Files.isDirectory(q)) Nil
    else scala.util.Using.resource(Files.list(q)) { ls =>
      ls.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("epoch=") => s.substring(6).toLong }
        .toSeq.sorted
    }
  }

  /** Read one epoch's quarantined rows (payload + `_error_reason`). */
  def readQuarantine(spark: SparkSession, epoch: Long): DataFrame =
    spark.read.parquet(quarantineDir(epoch))

  /** Drop one epoch's quarantined rows — the operator's acknowledgement after
    * a successful [[graft.apply.MergeApply.replayQuarantine]] drain (or a
    * deliberate discard). Explicit and epoch-scoped on purpose: quarantine
    * dirs are the audit trail of what the merge refused, so nothing GCs them
    * implicitly — but at 10^10-event cadence drained epochs must be
    * clearable or the DLX inventory grows forever. Returns the deleted
    * paths; empty when the epoch has none. */
  def clearQuarantine(epoch: Long): Seq[String] = {
    val root = Paths.get(quarantineDir(epoch))
    if (!Files.isDirectory(root)) return Nil
    scala.util.Using.resource(Files.walk(root))(_.iterator().asScala.toSeq)
      .reverse.flatMap(p =>
        if (Files.deleteIfExists(p)) Some(p.toString) else None)
  }

  /** THE quarantine writer: `rows` (payload + `_error_reason`) replace
    * [[quarantineDir]]`(epoch)`. `postTransform` rows go MARKER-FIRST —
    * delete, marker, then append-mode parquet (overwrite would wipe the
    * marker) — so no crash leaves pipeline OUTPUT unmarked for the next
    * drain to treat as raw input. */
  private[graft] def writeQuarantine(rows: DataFrame, epoch: Long,
      postTransform: Boolean = false): Unit =
    if (!postTransform) rows.write.mode("overwrite").parquet(quarantineDir(epoch))
    else {
      clearQuarantine(epoch)
      Files.createDirectories(Paths.get(quarantineDir(epoch)))
      markPostTransform(epoch)
      rows.write.mode("append").parquet(quarantineDir(epoch))
    }

  /** Mark `epoch`'s quarantine dir, if any, post-transform. Idempotent. */
  private[graft] def markPostTransform(epoch: Long): Unit = {
    val p = Paths.get(quarantineDir(epoch), LakeTable.PostTransformMarker)
    if (Files.isDirectory(p.getParent) && !Files.exists(p))
      Files.write(p, Array.emptyByteArray): Unit
  }

  /** Whether `epoch`'s quarantined rows carry the post-transform marker. */
  private[graft] def isPostTransform(epoch: Long): Boolean =
    Files.exists(Paths.get(quarantineDir(epoch), LakeTable.PostTransformMarker))

  /** Browse the dead-letter table: quarantined rows + `_error_reason` +
    * `_epoch`, across all epochs or one — the read half of the DLX surface
    * (reference: the browsable `dlx_message` / `apply_exceptions` tables,
    * trempy/Metadata/Query.py:47-81), paired with
    * [[graft.apply.MergeApply.replayQuarantine]] as the write half. Returns
    * an empty frame (schema: `_epoch`, `_error_reason`) when nothing is
    * quarantined. */
  def quarantine(spark: SparkSession, epoch: Option[Long] = None): DataFrame = {
    val epochs = epoch.map(Seq(_)).getOrElse(quarantinedEpochs)
      .filter(e => Files.isDirectory(Paths.get(quarantineDir(e))))
    if (epochs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("_epoch", LongType),
          StructField("_error_reason", StringType))))
    else epochs.map(e => readQuarantine(spark, e).withColumn("_epoch", lit(e)))
      // epochs quarantined before and after a schema evolution carry
      // different column sets — browse them anyway (missing columns null)
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  // ── snapshot isolation: readers resolve _current once, then read that manifest ──
  /** Latest committed version. The pointer is a freshness HINT, not the commit
    * point — the version-file CAS is (see [[writeManifest]]) — so resolution
    * probes forward past it: a committer that died between winning the CAS and
    * moving the pointer, or a racing slower committer briefly regressing it,
    * leaves the pointer stale but never wrong-by-more-than-lag. Steady-state
    * cost is one negative `Files.exists` probe. */
  def currentVersion: Int = {
    var v = currentVersionHint
    while (Files.exists(manifestPath(v + 1))) v += 1
    v
  }

  private def currentVersionHint: Int = {
    if (!Files.exists(currentPtr)) 0
    else new String(Files.readAllBytes(currentPtr)).trim.toInt
  }

  /** Incremental fragment-fold cache: (snapshot version, fragment names, files).
    * Steady-state resolution after a commit re-reads ZERO old fragments — the
    * new fragment list extends the cached prefix. */
  @volatile private var foldCache: Option[(Int, Seq[String], Seq[DataFile])] = None

  private def readFragmentFile(name: String): ManifestFragment =
    ManifestJson.readFragment(
      new String(Files.readAllBytes(manifestsDir.resolve(name))))

  private def foldFragments(fragNames: Seq[String]): Seq[DataFile] = {
    val (startFiles, startIdx) = foldCache match {
      case Some((_, cached, files)) if fragNames.startsWith(cached) =>
        (files, cached.length)
      case _ => (Seq.empty[DataFile], 0)
    }
    fragNames.drop(startIdx).foldLeft(startFiles) { (fs, name) =>
      val fr = readFragmentFile(name)
      fs.filterNot(_.replacedBy(fr.replacedBuckets)) ++ fr.added
    }
  }

  /** Snapshot metadata only — no fragment fold (files stays empty). */
  private def readMeta(v: Int): Manifest =
    ManifestJson.read(new String(Files.readAllBytes(manifestPath(v))))

  private def resolve(v: Int): Manifest = resolveMeta(readMeta(v))

  /** Fold an already-read snapshot meta into its file list — the split lets
    * a caller that read the meta for other fields (vacuum) avoid a second
    * JSON parse of the same manifest. */
  private def resolveMeta(meta: Manifest): Manifest = {
    // pre-spec-tracking files could only have been written at the manifest's
    // bucket count (rescale records specs from day one) — patch them so every
    // downstream coverage check can rely on spec > 0
    val files = foldFragments(meta.fragments)
      .map(f => if (f.spec <= 0) f.copy(spec = meta.buckets) else f)
    foldCache = Some((meta.version, meta.fragments, files))
    meta.copy(files = files)
  }

  def manifest: Manifest = {
    val v = currentVersion
    require(v > 0, s"lake table at $dir has no committed snapshot")
    resolve(v)
  }

  def exists: Boolean = currentVersion > 0
  def isCommitted(epoch: Long): Boolean = exists && manifest.isCommittedEpoch(epoch)

  /** Snapshot METADATA at `version` — committed epochs, metrics, schema ids;
    * `files` left empty (no fragment fold). One cheap JSON read, for
    * version-cursor consumers (LakeSync) that need to compare the two ends
    * of a window: did the full load land inside it, did [[LakeTable
    * .ReloadMetric]] bump. */
  def snapshotMeta(version: Int): Manifest = {
    require(1 <= version && version <= currentVersion,
      s"snapshotMeta: version $version outside 1..$currentVersion")
    readMeta(version)
  }

  /** Hidden-partitioning bucket expression over the merge keys. */
  def bucketExpr(keyCols: Seq[String], buckets: Int): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(buckets)).cast(IntegerType)

  /** Parquet writer options enabling native bloom filters on the merge keys —
    * keys are hash-scattered inside a bucket, so min/max stats rarely prune
    * there; the row-group bloom is what makes `lookup` skip data pages.
    *
    * ADAPTIVE sizing is essential: without an NDV hint parquet allocates the
    * MAXIMUM filter (1 MB per key column per row group) no matter how few
    * keys the group holds — measured 1.05 MB files for a handful of rows,
    * i.e. every small epoch write was ~99% bloom bytes (written, fsynced,
    * then footer-read back by listEpochFiles). Adaptive mode builds candidate
    * filters while writing and keeps the smallest that meets the FPP for the
    * group's ACTUAL key count, so tiny epochs pay KBs and 100-TB row groups
    * still get full-size filters — right-sized at every scale. */
  private def bloomOptions(keyCols: Seq[String]): Map[String, String] =
    keyCols.map(k => s"parquet.bloom.filter.enabled#$k" -> "true").toMap +
      ("parquet.bloom.filter.adaptive.enabled" -> "true")

  // ── atomic commit: the version-file CAS is the ONE serialization point ──
  /** Fragment file name for snapshot `seq` — unique per commit ATTEMPT (the
    * nonce), so racing committers building the same next version never
    * overwrite each other's fragment: the loser's file is simply never
    * referenced by any manifest and is swept by [[vacuum]]'s unreferenced-
    * fragment pass (the `mf-`/`.json` shape is what that pass matches). */
  private def newFragName(seq: Int): String = {
    val nonce = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong() & 0xffffffffL)
    f"mf-$seq%06d-$nonce.json"
  }

  /** Publish one snapshot. Order: fragment (under its attempt-unique name),
    * then the version file via `Files.createLink` — atomic fail-if-exists, so
    * the FIRST committer of `v{N}.json` wins and every other attempt at N
    * raises [[CommitRace]] having published nothing a reader can see — then
    * the pointer, advanced monotonically (stale pointers are healed by
    * [[currentVersion]]'s forward probe, so a crash between CAS and pointer
    * move loses freshness, never correctness). This is the multi-writer
    * commit protocol for rename/link-atomic filesystems (local, HDFS, NFS);
    * an object-store deployment swaps this method for a catalog CAS. */
  private def writeManifest(m0: Manifest, fragment: Option[(String, ManifestFragment)]): Unit = {
    // commit wall-clock stamp: metadata for age-based vacuum retention only
    val m = m0.copy(committedAtMs = System.currentTimeMillis())
    Files.createDirectories(manifestsDir)
    fragment.foreach { case (name, fr) =>
      LakeTable.publish(manifestsDir.resolve(name), ManifestJson.writeFragment(fr).getBytes)
    }
    // the version file is the CAS, not a replace: staged like every other
    // metadata file, then linked (fail-if-exists) instead of moved
    val tmp = LakeTable.tmpFor(manifestPath(m.version))
    try {
      Files.write(tmp, ManifestJson.write(m).getBytes)
      Files.createLink(manifestPath(m.version), tmp)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => throw new CommitRace(m.version)
    } finally { Files.deleteIfExists(tmp); () }
    if (currentVersionHint < m.version)
      LakeTable.publish(currentPtr, m.version.toString.getBytes)
    foldCache = Some((m.version, m.fragments, m.files))
  }

  /** Bounded retry around a commit body that re-reads the head on each
    * attempt; converts a persistent losing streak into a loud error. Jittered
    * exponential backoff keeps N hot committers interleaving instead of
    * starving the slowest (a CAS loss costs one head re-read + JSON rewrite,
    * so without jitter the loser tends to keep losing). */
  private def retryingCommit(what: String)(attempt: => Manifest): Manifest = {
    var losses = 0
    while (true) {
      try return attempt
      catch {
        case _: CommitRace =>
          losses += 1
          if (losses > 20) throw new ConcurrentCommitException(
            s"$what lost the version race $losses times in a row; giving up")
          val capMs = math.min(1L << math.min(losses, 7), 100L)
          Thread.sleep(
            java.util.concurrent.ThreadLocalRandom.current().nextLong(capMs + 1))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Create the table: empty snapshot v1 at schema id 1. `keyCols` enables
    * merge-on-read delta commits; `tableMode`/`scdCols` pick how deltas
    * resolve at read time (per-key LWW vs scd2 chain rebuild). */
  def create(schema: StructType, buckets: Int, keyCols: Seq[String] = Nil,
      tableMode: String = Manifest.LWW, scdCols: Seq[String] = Nil): Manifest = {
    require(!exists, s"lake table at $dir already exists")
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"key column '$k' not in table schema"))
    val m = Manifest(1, buckets, 1, Seq(GraftSchema.fromSpark(schema)), Nil,
      epochWatermark = -2L, recentEpochs = Set.empty, metrics = Map.empty,
      keyCols = keyCols, tableMode = tableMode, scdCols = scdCols,
      tableId = java.util.UUID.randomUUID().toString)
    try writeManifest(m, None)
    catch {
      case _: CommitRace => // two processes raced table creation
        throw new IllegalStateException(s"lake table at $dir already exists")
    }
    m
  }

  /** Advance the epoch watermark: contiguous committed epochs collapse into it,
    * keeping the sparse `recentEpochs` set bounded. Streaming epochs are
    * contiguous from 0, so absorption always starts there; epoch -1 (fullLoad)
    * is never absorbed — it stays in `recentEpochs` as one bounded entry, so a
    * CDC-only table (no fullLoad, first commit = epoch 0) advances the
    * watermark too instead of growing `recentEpochs` forever. Maintenance
    * commits (epoch < -1) are not replayed through the stream, need no dedup,
    * and are not recorded. */
  private def advanceEpochs(m: Manifest, epoch: Long): Manifest = {
    if (epoch < -1) return m
    var wm = math.max(m.epochWatermark, -1L)
    var recent = m.recentEpochs + epoch
    while (recent.contains(wm + 1)) { wm += 1; recent -= wm }
    m.copy(epochWatermark = wm, recentEpochs = recent)
  }

  /**
   * Commit a snapshot: files of `replacedBuckets` are superseded by `newFiles`;
   * all other buckets' files carry forward. Idempotent on `epoch`. Writes ONE
   * fragment of O(newFiles) plus a small snapshot JSON — commit cost does not
   * scale with total table file count. `consolidate` folds the whole fragment
   * list into a single fragment (used by compaction).
   *
   * MULTI-WRITER (optimistic concurrency): pass `readVersion` = the snapshot
   * version the commit's inputs were computed from (the manifest a merge read
   * its base buckets at, the file list a maintenance rewrite started from).
   * If the head moved since, the commit attaches to the new head only when
   * provably safe — nothing it replaces changed, no concurrent rescale, no
   * concurrent evolution under its own `changes` — and otherwise throws
   * [[ConcurrentCommitException]] BEFORE publishing anything (the caller
   * recomputes from the fresh head and retries, like any optimistic lake
   * format). A pure addition (merge-on-read delta, metrics-only commit)
   * rebases unconditionally. Two limits, same as the published formats:
   * the CAS needs link/rename atomicity (object stores swap in a catalog —
   * the seam is [[writeManifest]]), and STREAMING epochs assume at most one
   * active streaming writer per table (Spark's checkpoint lock) — a zombie
   * driver re-writing `data/epoch=N` is fenced by the checkpoint, not here.
   */
  def commit(
      epoch: Long,
      newFiles: Seq[DataFile],
      replacedBuckets: Set[Int],
      metricsDelta: Map[String, Long] = Map.empty,
      changes: Seq[SchemaChange] = Nil,
      consolidate: Boolean = false,
      readVersion: Option[Int] = None): Manifest = this.synchronized {
    retryingCommit(s"commit(epoch=$epoch)") {
      val old = manifest
      if (old.isCommittedEpoch(epoch)) old
      else {
        readVersion.filter(_ != old.version).foreach(rv =>
          checkRebase(rv, old, replacedBuckets, changes, consolidate, epoch))
        val evolved = if (changes.isEmpty) old else applySchemaChanges(old, changes)
        val (dropped, carried) = evolved.files.partition(_.replacedBy(replacedBuckets))
        // PARTIAL coverage of a coarser-spec (pre-rescale) file would silently drop
        // the rows of its other children — a caller replacing any current bucket of
        // such a file must replace the whole group (LakeTable.bucketClosure)
        dropped.foreach { f =>
          require(f.coveredBuckets(evolved.buckets).forall(replacedBuckets.contains),
            s"commit(epoch=$epoch) replaces only part of ${f.path} " +
              s"(spec=${f.spec}, bucket=${f.bucket}, current buckets=${evolved.buckets}): " +
              "expand the replace set with bucketClosure")
        }
        val mergedMetrics = (evolved.metrics.keySet ++ metricsDelta.keySet).map { k =>
          k -> (evolved.metrics.getOrElse(k, 0L) + metricsDelta.getOrElse(k, 0L))
        }.toMap
        val newVersion = evolved.version + 1
        val liveFiles = carried ++ newFiles
        val fragment =
          if (consolidate)
            ManifestFragment(newVersion, liveFiles, (0 until evolved.buckets).toSet)
          else ManifestFragment(newVersion, newFiles, replacedBuckets)
        val fragName = newFragName(fragment.seq)
        val m = advanceEpochs(evolved, epoch).copy(
          version = newVersion,
          files = liveFiles,
          fragments = if (consolidate) Seq(fragName) else evolved.fragments :+ fragName,
          metrics = mergedMetrics,
          // also fold the LIVE file set: a table written before this field
          // existed reads deltaHistory=false, and its next commit of any
          // kind (including the compaction that would erase the evidence —
          // `evolved.files` is the pre-replacement set) backfills it here
          deltaHistory = evolved.deltaHistory || newFiles.exists(_.isDelta) ||
            evolved.files.exists(_.isDelta),
          epoch = epoch)
        writeManifest(m, Some((fragName, fragment)))
        writeLineage(epoch, newFiles, replacedBuckets, metricsDelta)
        m
      }
    }
  }

  /** The rebase guard (see [[commit]]): a commit prepared against `readV`
    * attaches to head `cur` only if nothing it depends on moved in between. */
  private def checkRebase(readV: Int, cur: Manifest, replacedBuckets: Set[Int],
      changes: Seq[SchemaChange], consolidate: Boolean, epoch: Long): Unit = {
    def fail(why: String): Nothing = throw new ConcurrentCommitException(
      s"commit(epoch=$epoch) was prepared against snapshot v$readV but the " +
        s"head is v${cur.version}: $why — recompute from the current snapshot " +
        "and retry")
    if (consolidate)
      fail("a consolidating rewrite (compaction) folds the whole file list, " +
        "so ANY interleaved commit invalidates it")
    if (!Files.exists(manifestPath(readV)))
      fail("the base snapshot no longer exists (vacuumed)")
    lazy val base = readMeta(readV)
    if (replacedBuckets.nonEmpty) {
      if (cur.buckets != base.buckets)
        fail("the bucket spec changed under it (concurrent rescale)")
      // the exact staleness test: the live file set of the buckets this commit
      // REWRITES must be byte-identical between base and head — fold the base
      // without touching the incremental cache (it tracks the head)
      def liveIn(frags: Seq[String]): Set[String] =
        frags.foldLeft(Seq.empty[DataFile]) { (fs, n) =>
          val fr = readFragmentFile(n)
          fs.filterNot(_.replacedBy(fr.replacedBuckets)) ++ fr.added
        }.filter(_.replacedBy(replacedBuckets)).map(_.path).toSet
      if (liveIn(base.fragments) !=
          cur.files.filter(_.replacedBy(replacedBuckets)).map(_.path).toSet)
        fail("the bucket(s) this commit rewrites changed under it")
    }
    if (changes.nonEmpty && cur.currentSchemaId != base.currentSchemaId)
      fail("the schema evolved concurrently with this commit's own evolution")
  }

  /** Schema evolution only (no data) — bumps schema id, new snapshot. On a
    * lost version race the changes are re-applied to the fresh head (field-id
    * allocation is recomputed there, so it composes with whatever landed). */
  def evolve(changes: Seq[SchemaChange]): Manifest = this.synchronized {
    retryingCommit("evolve") {
      val old = manifest
      val m = applySchemaChanges(old, changes).copy(version = old.version + 1,
        epoch = Manifest.NoEpoch)
      writeManifest(m, None)
      m
    }
  }

  /** Schema evolution attributed to a schema-registry version: applies the
    * version's still-pending changes and advances the persisted
    * `registry_applied_ver` watermark in the SAME commit. Version-based
    * idempotence survives what name-presence alone cannot: a rename chain
    * that reuses an earlier name (v2 a→b, v3 b→a) makes v2 look pending
    * again forever once v3 lands — a per-batch registry replay would then
    * churn two evolution commits per batch and a restart-shape guard would
    * false-positive on the legitimately-final column set. The watermark read
    * and the pending filter both run inside the commit retry, so a lost
    * version race recomputes against the fresh head. No-op (no new manifest
    * version) when the watermark already covers `ver`. */
  def evolveRegistry(ver: Int, changes: Seq[SchemaChange]): Manifest = this.synchronized {
    retryingCommit(s"evolveRegistry($ver)") {
      val old = manifest
      if (old.metrics.getOrElse(LakeTable.RegistryVerMetric, 0L) >= ver) old
      else {
        val cur = old.currentSchema
        // name-based pending filter kept as the pre-watermark-table safety
        // net: a table evolved by an older build has no watermark recorded,
        // and re-applying an already-applied change would throw
        val pending = changes.filter {
          case AddColumn(n, _, _) => cur.byName(n).isEmpty
          case RenameColumn(f, t) => cur.byName(f).isDefined && cur.byName(t).isEmpty
          case WidenColumn(n, to) => cur.byName(n).exists(_.dataType != to)
        }
        val evolved = if (pending.isEmpty) old else applySchemaChanges(old, pending)
        val m = evolved.copy(version = old.version + 1, epoch = Manifest.NoEpoch,
          metrics = old.metrics.updated(LakeTable.RegistryVerMetric, ver.toLong))
        writeManifest(m, None)
        m
      }
    }
  }

  /**
   * Bucket-spec evolution (metadata-only commit): future writes use
   * `newBuckets`; existing files keep their recorded per-file spec and stay
   * readable because xxhash-pmod is congruence-stable under multiplication —
   * `pmod(h, k·B) ≡ pmod(h, B) (mod B)` — so a pre-rescale bucket `b`'s rows
   * can only land in current buckets `{b, b+B, …}`. This is the one thing the
   * round-3 format could not do: a table created at 64 buckets and grown to
   * 100 TB was stuck with ~1.5 TB one-task buckets forever. Now the operator
   * runbook is `rescale(2×)` (instant) + [[splitBuckets]] batches (gradual
   * physical migration); reads, merges and compaction stay correct throughout
   * the mixed-spec window by grouping at the coarsest live spec
   * ([[bucketClosure]]). Power-of-two doubling is the intended cadence, but
   * any integer multiple preserves the congruence.
   *
   * The commit consolidates the fragment list so every live file's spec is
   * recorded explicitly before the manifest's bucket count changes.
   */
  def rescale(newBuckets: Int): Manifest = this.synchronized {
    retryingCommit(s"rescale($newBuckets)") {
      val old = manifest
      require(newBuckets > old.buckets && newBuckets % old.buckets == 0,
        s"rescale($newBuckets): must be a proper integer multiple of the " +
          s"current bucket count ${old.buckets}")
      require(old.keyCols.nonEmpty,
        "rescale needs merge keys (splitBuckets re-derives buckets from key values)")
      writeConsolidated(old, newBuckets)
    }
  }

  /** Metadata-only commit of `old`'s live files as ONE fragment (every
    * file's spec recorded explicitly) under `buckets` — [[rescale]]'s new
    * count, or the same count for [[rewriteManifests]]. No data file moves. */
  private def writeConsolidated(old: Manifest, buckets: Int): Manifest = {
    val newVersion = old.version + 1
    val fragment = ManifestFragment(newVersion, old.files, (0 until old.buckets).toSet)
    val fragName = newFragName(newVersion)
    val m = old.copy(version = newVersion, buckets = buckets,
      fragments = Seq(fragName), epoch = Manifest.NoEpoch)
    writeManifest(m, Some((fragName, fragment)))
    m
  }

  /**
   * The read/replace closure of a set of current-spec bucket ids: with mixed
   * per-file specs a coarser (pre-rescale) file covers several current
   * buckets, so touching any of them must read — and, on copy-on-write,
   * rewrite — every current bucket that file covers. Only buckets an ACTUAL
   * coarser file covers are expanded — a group already migrated to the
   * current spec stays un-expanded, so the mixed-spec window's CoW write
   * amplification shrinks as splitBuckets progresses instead of staying at
   * the worst case until the last group migrates. One pass is a fixpoint:
   * specs form a divisor chain (rescale only multiplies), so any file
   * covering a bucket of an added class also covers a bucket of the
   * original set and is selected in the same pass. Uniform-spec tables (the
   * steady state) return the input unchanged.
   */
  def bucketClosure(m: Manifest, buckets: Set[Int]): Set[Int] = {
    val coarse = m.files.filter(f => f.spec > 0 && f.spec != m.buckets)
    if (coarse.isEmpty) buckets
    else buckets ++ coarse.iterator
      .filter(f => buckets.exists(b => b % f.spec == f.bucket))
      .flatMap(_.coveredBuckets(m.buckets))
  }

  /** Fold the fragment list into one fragment without touching data files —
    * bounds reader-side fold cost between compactions. */
  def rewriteManifests(): Manifest = this.synchronized {
    // no-op when already folded (like compact/splitBuckets): a cron'd
    // invocation on a quiet table must not mint metadata-only versions
    // that push real snapshots out of vacuum's keepVersions window
    val cur = manifest
    if (cur.fragments.size <= 1) return cur
    retryingCommit("rewriteManifests") {
      val old = manifest
      writeConsolidated(old, old.buckets)
    }
  }

  private def applySchemaChanges(m: Manifest, changes: Seq[SchemaChange]): Manifest = {
    var s = m.currentSchema
    var keys = m.keyCols
    var scd = m.scdCols
    var nextId = m.schemas.map(_.maxId).max
    changes.foreach {
      case AddColumn(n, dt, nl) =>
        require(s.byName(n).isEmpty, s"add column: '$n' already exists")
        nextId += 1
        s = s.copy(fields = s.fields :+ GraftField(nextId, n, dt, nl))
      case RenameColumn(from, to) =>
        require(s.byName(from).isDefined, s"rename: '$from' not found")
        require(s.byName(to).isEmpty, s"rename: '$to' already exists")
        s = s.copy(fields = s.fields.map(f => if (f.name == from) f.copy(name = to) else f))
        keys = keys.map(k => if (k == from) to else k)
        // the scd column POINTERS follow the rename too: a stale name in the
        // manifest makes every delta-bearing read throw fieldIndex and the
        // merge treat the renamed chain columns as payload
        scd = scd.map(c => if (c == from) to else c)
      case WidenColumn(n, to) =>
        val f = s.byName(n).getOrElse(throw new IllegalArgumentException(s"widen: '$n' not found"))
        require(widens(f.dataType, to), s"widen: ${f.dataType} -> $to is not a widening")
        // a MERGE-KEY column can never widen: Spark's xxhash64 hashes int and
        // long inputs differently, so widening a key would silently re-route
        // every existing key to a different bucket — merges would stop finding
        // base rows and the table would accumulate duplicates per key
        require(!keys.contains(n),
          s"widen: '$n' is a merge-key column — int and long hash to different " +
            "buckets; widening a key requires a full-table rewrite, not evolution")
        s = s.copy(fields = s.fields.map(x => if (x.name == n) x.copy(dataType = to) else x))
    }
    val newSchema = s.copy(schemaId = m.currentSchemaId + 1)
    m.copy(currentSchemaId = newSchema.schemaId, schemas = m.schemas :+ newSchema,
      keyCols = keys, scdCols = scd)
  }

  private def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ShortType, IntegerType | LongType | DoubleType) => true
    case (IntegerType, LongType | DoubleType)             => true
    // NOT long→double: a double's 53-bit mantissa silently rounds stored
    // longs above 2^53 on every read after the "widening" — the same reason
    // Iceberg's type-promotion matrix forbids it (int/short→double are
    // exact; every value fits the mantissa)
    case (FloatType, DoubleType)                          => true
    case _                                                => false
  }

  // ── reads: manifest-pruned, schema-id-grouped, projected to current schema ──

  /** Hide delete tombstones from user-facing reads (engine rows with
    * `_deleted = true` exist only to make the merge order-tolerant). */
  private def withoutTombstones(df: DataFrame): DataFrame =
    if (df.columns.contains("_deleted"))
      df.filter(!coalesce(col("_deleted"), lit(false)))
    else df

  /**
   * Sort each partition by (keys, _lsn) and fold it with one streaming pass
   * at the INTERNAL-row layer (the external Row codec's per-element array
   * conversion costs ~4× on token-array tables; measured 105s vs ~30s on the
   * 20M-event compaction fold). Callers guarantee every partition is
   * key-complete, so all of a key's rows are present and, after the
   * in-partition sort, adjacent: reads and compaction coalesce each bucket's
   * files into one partition and point lookups their key-filtered scan (no
   * Exchange anywhere); the copy-on-write merge folds right after its write
   * exchange, whose (bucket, salt) key hashes the merge keys. Memory is
   * bounded by Spark's spillable sort plus a one-row lookahead, not by a
   * per-bucket hash map.
   *
   * Fold contract: scan/sort iterators REUSE row buffers — a fold must
   * `copy()` any row it retains past the next `next()`/`head` advance.
   */
  private def foldSortedPartitions(df: DataFrame, keys: Seq[String])(
      mkFold: (Array[Int], Array[DataType]) =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] =>
          Iterator[org.apache.spark.sql.catalyst.InternalRow]): DataFrame = {
    val schema = df.schema
    val keyIdx = keys.map(schema.fieldIndex).toArray
    val keyTypes = keyIdx.map(i => schema(i).dataType)
    val sorted = df.sortWithinPartitions((keys :+ "_lsn").map(col): _*)
    val rdd = sorted.queryExecution.toRdd
      .mapPartitions(mkFold(keyIdx, keyTypes), preservesPartitioning = true)
    org.apache.spark.sql.graftbridge.Bridge
      .internalCreateDataFrame(df.sparkSession, rdd, schema)
  }

  import LakeTable.sameKey
  import org.apache.spark.sql.catalyst.InternalRow

  /** The one resolution of stored rows (base + delta) to table state, for
    * reads, compaction, point lookups and the copy-on-write merge (which
    * folds the pinned base with the epoch's change rows): the chain rebuild
    * for SCD2 tables, the per-key max-`_lsn` winner otherwise. Every
    * partition of `df` must be key-complete on `keys`. */
  private[graft] def resolveStored(df: DataFrame, m: Manifest,
      keys: Seq[String]): DataFrame =
    if (m.tableMode == Manifest.SCD2) rebuildScd2Local(df, m, keys)
    else resolveLwwLocal(df, keys)

  /** Bucket-local LWW fold: per key (consecutive after the sort) keep the
    * last = max-`_lsn` row. */
  private def resolveLwwLocal(df: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, s"lake table at $dir has delta files but no key_cols")
    foldSortedPartitions(df, keys) { (keyIdx, keyTypes) => it0 =>
      val it = it0.buffered
      new Iterator[InternalRow] {
        def hasNext: Boolean = it.hasNext
        def next(): InternalRow = {
          var last = it.next().copy() // row buffers are reused; own what we keep
          while (it.hasNext && sameKey(keyIdx, keyTypes, it.head, last))
            last = it.next().copy()
          last
        }
      }
    }
  }

  /** Bucket-local SCD2 chain rebuild: per key (consecutive after the sort,
    * LSN-ordered) set end_date = next version's start and flag the last
    * non-deleted version current; re-delivered (key, _lsn) duplicates are
    * dropped. */
  private def rebuildScd2Local(df: DataFrame, m: Manifest,
      keys: Seq[String]): DataFrame = {
    require(m.scdCols.size == 3, s"lake table at $dir has scd2 deltas but no scd_cols")
    val schema = df.schema
    val Seq(startC, endC, curC) = m.scdCols
    val fieldTypes = schema.fields.map(_.dataType)
    val si = schema.fieldIndex(startC)
    val ei = schema.fieldIndex(endC)
    val ci = schema.fieldIndex(curC)
    val li = schema.fieldIndex("_lsn")
    val di = schema.fieldIndex("_deleted")
    val n = schema.size
    foldSortedPartitions(df, keys) { (keyIdx, keyTypes) => it0 =>
      val it = it0.buffered
      new Iterator[InternalRow] {
        def hasNext: Boolean = it.hasNext
        def next(): InternalRow = {
          val r = it.next().copy() // owned: values below view into this buffer
          val lsn = r.getLong(li)
          // at-least-once upstream: drop re-delivered copies of this version
          while (it.hasNext && it.head.getLong(li) == lsn &&
            sameKey(keyIdx, keyTypes, it.head, r)) it.next()
          val nextSameKey = it.hasNext && sameKey(keyIdx, keyTypes, it.head, r)
          val vals = new Array[Any](n)
          var i = 0
          while (i < n) {
            vals(i) = if (r.isNullAt(i)) null else r.get(i, fieldTypes(i))
            i += 1
          }
          // next version's start comes from the PEEKED row, whose buffer the
          // scan iterator reuses — a timestamp (primitive long) is safe to
          // read directly, anything buffer-backed (e.g. a string-typed start
          // column) must be copied or it would silently corrupt end values
          vals(ei) =
            if (nextSameKey && !it.head.isNullAt(si))
              InternalRow.copyValue(it.head.get(si, fieldTypes(si)))
            else null
          val deleted = !r.isNullAt(di) && r.getBoolean(di)
          vals(ci) = if (!nextSameKey && !deleted) 1 else 0
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
        }
      }
    }
  }

  /** Base files inside delta-bearing groups whose footer key range PROVABLY
    * intersects no delta file's range hold no delta-touched key (a shared key
    * value lies inside both files' ranges, so disjoint ranges prove no shared
    * key) — their rows pass through resolution unchanged, exactly like a
    * group with no deltas at all. Splitting them out of the fold is
    * metadata-only: they read at full scan parallelism instead of inside the
    * group's single coalesced fold task, and the fold sorts only data that
    * can actually change. On the common CDC shape — monotone numeric PKs,
    * delta windows touching recent keys — this passes the bulk of an aged
    * table straight through; hash-random keys yield full-range files that
    * never prune, and lose nothing (the check is per-file metadata).
    *
    * SCD2 guard: a key's version chain can span base files (a copy-on-write
    * merge salts its write on the keys only, but a sync mirror's write, like
    * an SCD2 delta write, does not fold and salts on `_lsn` too), and
    * [[rebuildScd2Local]] re-chains whatever rows reach it — a chain split
    * between pass-through and fold would be re-chained from a PARTIAL
    * suffix (the fold would null the end date and re-flag `current` on an
    * old version it mistakes for the last). A pruned file
    * must therefore also be range-disjoint from every base file that STAYS
    * in the fold, so every chain lands wholly on one side; mutually
    * overlapping files may still be pruned TOGETHER (their chains pass
    * through as-written). Computed per group to a fixpoint: un-pruning a
    * file grows the kept set, which can invalidate other candidates.
    *
    * Soundness leans on two existing write invariants: committed rows never
    * carry null merge keys (every ingest path quarantines them, so footer
    * min/max describe ALL rows), and base files are fold OUTPUTS (pass-through
    * needs no dedup — the cold path already assumes both).
    *
    * Returns (files that still need the fold, files safe to read cold). */
  private[graft] def pruneUntouchedBase(hot: Seq[DataFile], m: Manifest,
      gran: Int): (Seq[DataFile], Seq[DataFile]) = {
    val keyFids = m.keyCols.flatMap(k => m.currentSchema.byName(k)).map(_.id)
    // stats alignment by FIELD ID: a file written before a key-column rename
    // carries stats under its write-time name — looking the current name up
    // directly would silently miss (or, after a swap-rename, hit the WRONG
    // column's stats and prune incorrectly)
    def statsFor(f: DataFile, fid: Int): Option[ColRange] =
      m.schemaById(f.schemaId).byId(fid).flatMap(wf => f.keyStats.get(wf.name))
    def disjoint(a: DataFile, b: DataFile): Boolean =
      keyFids.exists { fid =>
        statsFor(a, fid).zip(statsFor(b, fid))
          .exists { case (ra, rb) => ra.provablyDisjoint(rb) }
      }
    val keep = Seq.newBuilder[DataFile]
    val cold = Seq.newBuilder[DataFile]
    hot.groupBy(_.bucket % gran).values.foreach { group =>
      val (deltas, bases) = group.partition(_.isDelta)
      var pruned = bases.filter(b => deltas.forall(disjoint(b, _)))
      if (pruned.nonEmpty) {
        var kept = bases.filterNot(pruned.contains)
        var changed = true
        while (changed) {
          val (ok, clash) = pruned.partition(p => kept.forall(disjoint(p, _)))
          changed = clash.nonEmpty
          pruned = ok
          kept ++= clash
        }
        keep ++= deltas ++ kept
        cold ++= pruned
      } else keep ++= group
    }
    (keep.result(), cold.result())
  }

  /**
   * Read a file set with merge-on-read deltas resolved. Data files are
   * disjoint by bucket (hidden hash partitioning), so every key's rows —
   * base + deltas — live in one bucket's file set: each delta-bearing
   * bucket's files are read as ONE Spark partition (narrow coalesce, no
   * shuffle) and folded inside the partition. The read plan of a 100 TB MoR
   * table therefore contains ZERO Exchange, where a key-grouped aggregate or
   * window would re-shuffle every row by key on every read. Buckets without
   * deltas skip the fold entirely (plain multi-file scan); a pure-CoW
   * snapshot reads with zero overhead. The one-task-per-bucket granularity
   * is the same contract the write/compaction path already has (a bucket is
   * sized to one task).
   */
  private[graft] def readResolved(spark: SparkSession, m: Manifest, files: Seq[DataFile],
      rowPrune: Boolean = false): DataFrame = {
    if (!files.exists(_.isDelta)) return readFiles(spark, m, files)
    val (gran, hot0, cold0) = hotFileSplit(files)
    def g(f: DataFile): Int = f.bucket % gran
    // untouched-base split (see pruneUntouchedBase): base files provably
    // holding no delta-touched key leave the fold for the cold scan
    val (hot, pruned) = pruneUntouchedBase(hot0, m, gran)
    val cold = cold0 ++ pruned
    // row-level refinement (see buildDeltaKeyBloom): with a bloom of the
    // delta key hashes, every group scan keeps only rows that MIGHT carry a
    // delta key — delta rows always probe true (no false negatives for
    // members), untouched base rows leave the fold and its in-partition
    // sort for a second, fully parallel scan on the cold side. This is the
    // prune that fires on hash-random keys, where footer key ranges all
    // interleave and the file-level split above is a no-op. Whole-table
    // reads only (rowPrune): the per-group readResolved calls in
    // compact/splitBuckets must not pay a driver-blocking bloom-build job
    // each — their group-local inputs are delta-heavy by construction,
    // exactly where the split cannot win.
    // ONE probe column shared by both sides of the split: the fold keeps
    // rows where it is true, the passed side keeps its negation — hoisting
    // it makes fold/passed divergence (rows dropped or duplicated by two
    // subtly different key expressions) impossible by construction
    val probeCol = (if (rowPrune) deltaKeyBloom(spark, m, hot) else None)
      .map(bc => graft.functions.BloomProbe.bloom_key_might_contain(
        xxhash64(m.keyCols.map(col): _*), bc))
    val probe: DataFrame => DataFrame = probeCol match {
      case None => identity
      case Some(p) => df => df.filter(p)
    }
    // one coalesced scan branch per group (bucket-complete partition, zero
    // Exchange); balanced union keeps Catalyst analysis O(N log N) instead
    // of the quadratic left-deep chain
    val resolved = resolveStored(LakeTable.unionBalanced(
      hot.groupBy(g).values.map(fs =>
        probe(readFiles(spark, m, fs)).coalesce(1)).toSeq), m, m.keyCols)
    // bloom-passed base rows: provably untouched, read at full parallelism
    // beside the cold files (their bytes ARE scanned twice — once filtered
    // into the fold, once negated here — which is what the build gate's
    // base/delta ratio prices against the sort they skip)
    val passed = probeCol match {
      case None => None
      case Some(p) =>
        val bases = hot.filterNot(_.isDelta)
        if (bases.isEmpty) None
        else Some(readFiles(spark, m, bases).filter(!p))
    }
    val withPassed = passed.fold(resolved)(resolved.unionByName)
    if (cold.isEmpty) withPassed else withPassed.unionByName(readFiles(spark, m, cold))
  }

  /**
   * The fold grouping exactly as [[readResolved]] computes it: granularity =
   * the coarsest live bucket spec (pre-rescale files are coarser, so grouping
   * there keeps every key's base+delta rows inside one group), hot = files
   * sharing a group with any delta file, cold = the rest. Exposed
   * `private[graft]` so the prune-pinning oracle queries and specs test the
   * PRODUCTION grouping instead of re-deriving it by hand — a re-derivation
   * keeps pinning the old rule if this one ever changes.
   */
  private[graft] def hotFileSplit(
      files: Seq[DataFile]): (Int, Seq[DataFile], Seq[DataFile]) = {
    val gran = files.map(_.spec).min
    require(gran > 0, "delta resolution needs spec-tracked files")
    val hotGroups = files.filter(_.isDelta).map(_.bucket % gran).toSet
    val (hot, cold) = files.partition(f => hotGroups.contains(f.bucket % gran))
    (gran, hot, cold)
  }

  /** Memo of the broadcast delta-key bloom. The filter is a pure function
    * of the HOT FILE SET it was built from, and callers commonly construct
    * several reads of the SAME snapshot — a sync bootstrap plus its
    * equality audit, time-travel comparisons, an EXPLAIN before execution —
    * each of which would otherwise pay the blocking delta-scan build job
    * again. A small LRU keyed on a fingerprint of the hot set (not just
    * the version): a mixed-version read pattern — alternating time-travel
    * comparisons, the very case the memo exists for — reuses each
    * snapshot's filter instead of thrashing one slot, and a private[graft]
    * caller passing a different hot subset at the same version gets its own
    * filter instead of one silently gated against a different base/delta
    * ratio. The key omits
    * the key columns and schema on purpose: a live table's key set changes
    * only by `evolve(RenameColumn)`, which keeps key VALUES and so their
    * hashes, and key widening is refused — so one hot file set always
    * hashes to the same filter. Superseded broadcasts are unpersisted by
    * the context cleaner once their plans are gone. */
  @transient private lazy val bloomMemo =
    new java.util.LinkedHashMap[Long, Option[Broadcast[BloomFilter]]](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Option[Broadcast[BloomFilter]]]): Boolean =
        size() > 4
    }

  private[graft] def deltaKeyBloom(spark: SparkSession, m: Manifest,
      hot: Seq[DataFile]): Option[Broadcast[BloomFilter]] = synchronized {
    // order-independent fingerprint of the hot set's identity (path, kind,
    // rows — the inputs the build reads); XOR keeps it set-shaped
    var fp = 0L
    hot.foreach { f =>
      fp ^= scala.util.hashing.MurmurHash3.stringHash(f.path).toLong * 31 +
        f.rows + (if (f.isDelta) 1L << 62 else 0L)
    }
    val cached = bloomMemo.get(fp)
    if (cached != null || bloomMemo.containsKey(fp)) cached
    else {
      val bc = buildDeltaKeyBloom(spark, m, hot)
        .map(spark.sparkContext.broadcast(_))
      bloomMemo.put(fp, bc): Unit
      bc
    }
  }

  /**
   * Build the bloom filter of delta key hashes for [[readResolved]]'s
   * row-level untouched-base prune, or None when the split cannot pay:
   *  - base rows must outnumber delta rows by [[LakeTable.RowPruneMinRatio]]
   *    (the fold keeps at most ~deltaRows/baseRows + fpp of the base, so the
   *    ratio bounds both the sort saved and the double-scan wasted);
   *  - delta rows are capped (`maxDeltaKeys`, default
   *    [[LakeTable.RowPruneMaxDeltaKeys]]) so the filter stays small enough
   *    to ride the plan (~1 byte/key at 3% fpp);
   *    a delta past the cap is overdue for compaction, not for cleverness.
   * The build itself is one aggregate job over ONLY the delta files' key
   * columns — the small side, by the gate above. Row counts come from the
   * manifest (exact, recorded at commit), so gating is metadata-only.
   */
  private[graft] def buildDeltaKeyBloom(
      spark: SparkSession, m: Manifest, hot: Seq[DataFile],
      maxDeltaKeys: Long = LakeTable.RowPruneMaxDeltaKeys): Option[BloomFilter] = {
    if (m.keyCols.isEmpty) return None
    // a footer-stats failure records rows = -1; summing the sentinel would
    // mis-gate (deltaRows underflow disables the prune silently) and
    // under-size the filter (over-saturation = probe that stops pruning).
    // The split is an optimization — without exact counts, don't price it.
    if (hot.exists(_.rows < 0)) return None
    val (deltas, bases) = hot.partition(_.isDelta)
    val deltaRows = deltas.map(_.rows).sum
    val baseRows = bases.map(_.rows).sum
    if (deltaRows <= 0 || deltaRows > maxDeltaKeys ||
        baseRows < deltaRows * LakeTable.RowPruneMinRatio) return None
    val hashed = readFiles(spark, m, deltas)
      .select(xxhash64(m.keyCols.map(col): _*).as("_kh"))
    Some(hashed.stat.bloomFilter("_kh", deltaRows, LakeTable.rowPruneFpp))
  }

  /** Read the whole table at the current snapshot/schema (tombstones hidden,
    * deltas resolved). */
  def read(spark: SparkSession): DataFrame = {
    val m = manifest
    withoutTombstones(readResolved(spark, m, m.files, rowPrune = true))
  }

  /** Time travel: read the table as of snapshot `version` (snapshot isolation —
    * manifests and fragments are immutable, data files append-only until
    * vacuumed). */
  def readVersion(spark: SparkSession, version: Int): DataFrame = {
    val m = resolve(version)
    withoutTombstones(readResolved(spark, m, m.files, rowPrune = true))
  }

  /** The table schema as of snapshot `version` (metadata time travel — used by
    * consumers tracking the source's evolution, e.g. [[LakeSync]]'s field-id
    * schema diff between two ends of a sync window). */
  def schemaAt(version: Int): GraftSchema = resolve(version).currentSchema

  /** The full schema history as of snapshot `version` (every schema id the
    * table has carried up to that point). [[LakeSync]] uses it to locate the
    * source schema a crashed bootstrap's `create` captured, so the retry can
    * replay the evolutions the cursor is about to skip past. */
  def schemaHistoryAt(version: Int): Seq[GraftSchema] = resolve(version).schemas

  /** Engine-facing state read at snapshot `version`: deltas resolved like
    * [[readVersion]], but tombstones and the engine columns (`_lsn`,
    * `_deleted`) stay visible. A mirror of the table (lake→lake sync
    * bootstrap) must copy these, not the public fold: the merge is
    * order-tolerant, so a later change window can carry an `_lsn` OLDER than
    * what this snapshot already folded — a mirror that flattened `_lsn` (or
    * dropped tombstones) would let such a stale change win downstream and
    * silently diverge from the source. */
  def readState(spark: SparkSession, version: Int): DataFrame = {
    val m = resolve(version)
    readResolved(spark, m, m.files, rowPrune = true)
  }

  /**
   * Incremental change feed (CDC-out): every change row committed in the
   * snapshot window `(fromVersion, toVersion]` of a merge-on-read table — the
   * downstream half of a training-data pipeline, which wants the delta since
   * its last sync, not a full re-read. Delta files ARE the change set: the
   * per-key LWW winners of each epoch, carrying `_lsn` and `_deleted`
   * (scd2 tables: version rows). Maintenance commits add only folded base
   * files and are skipped, so compaction inside the window never duplicates
   * changes; a delta file folded away inside the window is still read from
   * its original (immutable) file. The feed shares vacuum's retention window
   * — ask for changes older than the kept snapshots and the files are gone —
   * which is the standard lake-format incremental-read contract. Rows project
   * forward onto `toVersion`'s schema by field id, so the consumer sees one
   * schema even across mid-window evolution.
   *
   * Copy-on-write commits contribute through their change SIDECARS
   * ([[changesDir]], written when JobConfig.changeFeed is on). A CoW data
   * commit in the window with NO sidecar fails loudly — an empty frame that
   * actually means "changes weren't recorded" is the worst failure shape for
   * a downstream sync ("no changes" that silently loses data). The initial
   * full load (epoch -1) is excluded by contract, like every lake format's
   * change feed: consumers bootstrap from `readVersion`, then follow changes.
   */
  def changeLog(spark: SparkSession, fromVersion: Int, toVersion: Int): DataFrame = {
    require(1 <= fromVersion && fromVersion <= toVersion && toVersion <= currentVersion,
      s"changeLog window ($fromVersion, $toVersion] outside 1..$currentVersion")
    // fromVersion resolves FIRST: its fragment list is (normally) a prefix of
    // toVersion's, so the second resolve extends the fold cache incrementally
    // instead of each end paying a cold full fold — the other order can never
    // reuse (the cache only extends forward)
    val mFrom = resolve(fromVersion)
    val mTo = resolve(toVersion)
    val seen = scala.collection.mutable.Set.empty[String]
    mFrom.files.foreach(seen += _.path)
    // fragment-diff, not per-version resolution: fragment lists only ever grow
    // by appending (or reset to ONE new fragment on consolidation), so a
    // fragment unseen at version v-1 is NEW and is read exactly once — driver
    // cost is O(fragments in window) + one resolve at each end, instead of
    // O(window × files) re-folds across a 10k-version sync window. A file
    // carried into a consolidation fragment was either live at `fromVersion`
    // or added by an earlier window fragment — `seen` drops both.
    val fragsSeen = scala.collection.mutable.Set.empty[String]
    fragsSeen ++= mFrom.fragments
    val added = Seq.newBuilder[DataFile]
    var prevReloads = mFrom.metrics.getOrElse(LakeTable.ReloadMetric, 0L)
    ((fromVersion + 1) to toVersion).foreach { v =>
      val meta = readMeta(v)
      // a TRUNCATE-AND-LOAD inside the window (the full load's epoch -1, or
      // any commit bumping ReloadMetric — LakeSync's reload re-mirror) is
      // not expressible as row changes: it replaces every bucket, and keys
      // it dropped leave no tombstone, so serving "the changes" would
      // silently miss the load's rows AND the implied deletes. Refuse
      // loudly; checked FIRST so a reload version never falls through to
      // the (also-loud, but misleading) missing-sidecar error below.
      val reloads = meta.metrics.getOrElse(LakeTable.ReloadMetric, 0L)
      if (meta.epoch == -1L || reloads > prevReloads)
        throw new IllegalStateException(
          s"changeLog($fromVersion, $toVersion): version $v is a " +
            "truncate-and-load commit (full load / reload) — a row-level " +
            "change feed cannot express it; re-sync consumers from state at " +
            "or after this version (LakeSync re-mirrors automatically)")
      prevReloads = reloads
      var newBase, newDelta = 0
      var replaced = false
      meta.fragments.foreach { name =>
        if (fragsSeen.add(name)) {
          val fr = readFragmentFile(name)
          if (fr.replacedBuckets.nonEmpty) replaced = true
          fr.added.foreach { f =>
            if (seen.add(f.path)) {
              if (f.isDelta) { added += f; newDelta += 1 }
              else newBase += 1
            }
          }
        }
      }
      // CoW data commits: the sidecar is the change set (replay epochs — the
      // quarantine drain — included; the full load and maintenance rewrites
      // excluded by the epoch check). Delta-committed epochs NEVER read the
      // sidecar, even when one exists: a crash between writeChangeSet and
      // commit followed by a retry under merge-on-read leaves an orphan
      // sidecar beside the epoch's delta files — adding both would return
      // every change of that epoch twice. Same for an epoch that committed
      // NOTHING (no files, no bucket replacement — e.g. a crashed CoW
      // attempt whose retry reduced to all-quarantined): its orphan sidecar
      // holds changes that were never applied. The `replaced` disjunct
      // covers bucket-replacing commits with zero surviving files: the
      // engine's own CoW writer always lands tombstone base rows, but
      // commit() is public API, and an external writer replacing buckets
      // down to empty is still a data commit whose sidecar must serve (and
      // whose absence must fail loudly).
      val dataCommit = newBase > 0 || replaced
      if (meta.epoch >= 0 && newDelta == 0 && dataCommit) {
        if (Files.isDirectory(Paths.get(changesDir(meta.epoch))))
          added ++= changeSetFiles(meta.epoch)
        else
          throw new IllegalStateException(
            s"changeLog($fromVersion, $toVersion): version $v (epoch " +
              s"${meta.epoch}) is a copy-on-write commit with no recorded " +
              "change set — enable JobConfig.changeFeed (cdc_settings." +
              "change_feed) or use merge-on-read; refusing to return a " +
              "silently incomplete feed")
      }
    }
    readFiles(spark, mTo, added.result())
  }

  /** The STORED rows of the given CURRENT-spec buckets — file pruning via
    * the manifest (no dir listing); pre-rescale files covering any requested
    * bucket included; base and delta rows UNRESOLVED, tombstones kept. The
    * copy-on-write merge folds them with its change rows in its write
    * exchange (one fold, not two), and must pass a [[bucketClosure]]-expanded
    * set so the rows a coarser file carries for sibling buckets are not lost. */
  def readBuckets(spark: SparkSession, buckets: Set[Int],
      at: Option[Manifest] = None): DataFrame = {
    // `at` pins the read to the snapshot a CoW merge computed its inputs
    // from — the same manifest its commit passes as readVersion, so the
    // files it folds and the files its commit declares replaced are ONE set
    // (an unpinned head re-read here could silently fold a concurrent
    // writer's files into a commit that doesn't admit replacing them)
    val m = at.getOrElse(manifest)
    readFiles(spark, m, m.files.filter(f => buckets.exists(b => b % f.spec == f.bucket)))
  }

  private def readFiles(spark: SparkSession, m: Manifest, files: Seq[DataFile]): DataFrame = {
    val cur = m.currentSchema
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cur.sparkSchema)
    // group by writer schema; project each group onto the current schema by field id
    files.groupBy(_.schemaId).map { case (sid, group) =>
      val ws = m.schemaById(sid)
      val df = spark.read.schema(ws.sparkSchema).parquet(group.map(_.path): _*)
      val projection = cur.fields.map { f =>
        ws.byId(f.id) match {
          case Some(oldF) => col(oldF.name).cast(f.dataType).as(f.name)
          case None       => lit(null).cast(f.dataType).as(f.name)
        }
      }
      df.select(projection: _*)
    }.reduce(_ unionAll _)
  }

  // ── per-epoch lineage + metrics (SURVEY §2.1 S12 analogue) ──
  private def writeLineage(
      epoch: Long, files: Seq[DataFile], replaced: Set[Int],
      metrics: Map[String, Long]): Unit = {
    val dirP = Paths.get(dir, "lineage")
    Files.createDirectories(dirP)
    val j = JObject(
      "epoch" -> JLong(epoch),
      "replaced_buckets" -> JArray(replaced.toList.sorted.map(JInt(_))),
      "files" -> JArray(files.toList.map(f => JObject(
        "path" -> JString(f.path), "bucket" -> JInt(f.bucket), "rows" -> JLong(f.rows)))),
      "metrics" -> JObject(metrics.toList.sortBy(_._1).map { case (k, v) => k -> JLong(v) }))
    LakeTable.publish(dirP.resolve(s"epoch=$epoch.json"),
      JsonMethods.pretty(JsonMethods.render(j)).getBytes)
  }

  /**
   * Reconciliation check — the reference's replication-stats audit
   * (SQL_GET_MESSAGES_STATS over stats_cdc/stats_message,
   * trempy/Metadata/Query.py:141-150): every commit writes a per-epoch
   * lineage record with its metric deltas, so summing all lineage records
   * must reproduce the manifest's cumulative metrics exactly, and every
   * committed streaming epoch must have a record. A disagreement means a
   * commit path half-completed (e.g. crash between the manifest move and the
   * lineage write) or someone tampered with the audit trail — either way the
   * table needs operator attention before trusting downstream counts.
   */
  def reconcile(): ReconcileReport = {
    implicit val fmt: Formats = DefaultFormats
    val m = manifest
    val lineageDir = Paths.get(dir, "lineage")
    val perEpoch: Map[Long, Map[String, Long]] =
      if (!Files.exists(lineageDir)) Map.empty
      else scala.util.Using.resource(Files.list(lineageDir)) { ls =>
        ls.iterator().asScala
          .filter(_.getFileName.toString.matches("epoch=-?\\d+\\.json"))
          .map { p =>
            val j = JsonMethods.parse(new String(Files.readAllBytes(p)))
            val metrics = (j \ "metrics") match {
              case JObject(kvs) => kvs.map { case (k, v) => k -> v.extract[Long] }.toMap
              case _ => Map.empty[String, Long]
            }
            (j \ "epoch").extract[Long] -> metrics
          }.toMap
      }
    // never materialize (0..watermark) — at the 10^10-event cadence that is
    // millions of epochs on the driver; stream the range and keep only the
    // (bounded, anomalous) missing ones
    // capped: a wiped lineage dir on a million-epoch table must report the
    // problem, not build a million-element list (ok stays false either way)
    val missing = ((0L to m.epochWatermark).iterator ++ m.recentEpochs.iterator)
      .filterNot(perEpoch.contains).take(10000).toSeq.distinct.sorted
    val sums = perEpoch.values.flatMap(_.toSeq).groupBy(_._1)
      .map { case (k, kvs) => k -> kvs.map(_._2).sum }
    // registry_applied_ver is an ABSOLUTE watermark set by a metadata-only
    // evolution commit (no lineage record, not a summable per-epoch delta) —
    // auditing it against a lineage sum would flag every registry-evolved
    // table as tampered forever
    val mismatched = (m.metrics.keySet ++ sums.keySet - LakeTable.RegistryVerMetric)
      .flatMap { k =>
        val manifestTotal = m.metrics.getOrElse(k, 0L)
        val lineageSum = sums.getOrElse(k, 0L)
        if (manifestTotal == lineageSum) None
        else Some(k -> ((manifestTotal, lineageSum)))
      }.toMap
    ReconcileReport(missing, mismatched)
  }

  // ── maintenance: compaction + vacuum (mandatory at 10^10-event scale, where
  //    every epoch adds files and superseded snapshots pin old ones) ──

  /** Maintenance epochs live below the streaming range (< -1), are never
    * recorded in the committed-epoch set, and are UNIQUE PER ATTEMPT: two
    * maintenance jobs racing from the same base version must not share a
    * `data/epoch=N` directory, or the loser's overwrite would delete files the
    * winner's already-published commit references — the rebase guard protects
    * the manifest, this protects the bytes under it. */
  private def maintenanceEpoch(): Long =
    -1000L - java.util.concurrent.ThreadLocalRandom.current().nextLong(1L << 60)

  /**
   * Rewrite buckets whose file count exceeds `maxFilesPerBucket` — or that
   * carry at least `maxDeltaFiles` merge-on-read delta files — into one base
   * file set per bucket (small-file compaction + delta folding). Deltas are
   * folded by the same per-key LWW resolution reads use, so the rewrite is
   * read-equivalent: a normal CoW commit, snapshot-isolated from concurrent
   * readers.
   *
   * `dropTombstonesBelow`: delete tombstones with `_lsn < watermark` are
   * physically removed during the rewrite (ROADMAP tombstone GC). The caller
   * asserts no event at or below the watermark can still arrive — a tombstone
   * only exists to out-rank late older writes, so once the feed's low-water
   * LSN passes it, it is dead weight in every future bucket rewrite.
   */
  def compact(
      spark: SparkSession,
      maxFilesPerBucket: Int = 4,
      maxDeltaFiles: Int = 4,
      dropTombstonesBelow: Option[Long] = None): Manifest = {
    val m = manifest
    if (m.files.isEmpty) return m
    // group at the coarsest live spec (mixed specs after a rescale): a group
    // is the unit that can be read bucket-complete and rewritten independently
    val gran = m.files.map(_.spec).min
    def g(f: DataFile): Int = f.bucket % gran
    val oversized = m.files.groupBy(g)
      .filter { case (_, fs) =>
        fs.size > maxFilesPerBucket || fs.count(_.isDelta) >= maxDeltaFiles
      }
      .keySet
    if (oversized.isEmpty) return m
    val epoch = maintenanceEpoch()
    // read per group, tag each row's CURRENT-spec bucket, union. Each branch
    // is narrowed to ONE partition — delta-bearing branches already are
    // (bucket-local fold), small-file branches coalesce — so the partitionBy
    // write emits one task per group and one base file set per bucket with
    // ZERO shuffle: compaction of a 100 TB table moves no rows between
    // executors (a global repartition(_bucket) would re-shuffle everything
    // being compacted). On a uniform-spec table the tag is the group's literal
    // id; after a rescale it is re-derived from the keys, which also migrates
    // the group's files to the current spec as a side effect.
    val byGroup = m.files.filter(f => oversized.contains(g(f))).groupBy(g)
    val df = LakeTable.unionBalanced(byGroup.map { case (grp, fs) =>
      val tag =
        if (gran == m.buckets) lit(grp)
        else bucketExpr(m.keyCols, m.buckets)
      readResolved(spark, m, fs).coalesce(1).withColumn("_bucket", tag)
    }.toSeq)
    // tombstone GC applies to LWW tables only: an scd2 delete marker anchors
    // the previous version's end_date — dropping it would make a later chain
    // rebuild resurrect the closed entity as current
    val gced = dropTombstonesBelow match {
      case Some(wm) if m.tableMode == Manifest.LWW && df.columns.contains("_deleted") =>
        df.filter(!(coalesce(col("_deleted"), lit(false)) && col("_lsn") < wm))
      case _ => df
    }
    val files = writeEpochFiles(gced, epoch, m)
    // replace the full current-spec closure of every rewritten group
    val replaced = (0 until m.buckets).filter(b => oversized.contains(b % gran)).toSet
    // compaction also folds the fragment list down to one (manifest rewrite);
    // readVersion pins the snapshot the rewrite folded — any interleaved
    // commit surfaces as ConcurrentCommitException instead of silent loss
    commit(epoch, files, replaced, Map("compactions" -> 1L), consolidate = true,
      readVersion = Some(m.version))
  }

  /**
   * Physical half of bucket-spec evolution: rewrite files recorded at a
   * pre-[[rescale]] spec into current-spec children. Bucket-local and
   * zero-shuffle like [[compact]] — each stale group reads as one partition
   * (deltas folded) and the partitionBy write re-derives `_bucket` from the
   * key values under the current spec, so an old bucket's rows fan out to its
   * `{b, b+B, …}` children without moving between executors. `maxGroups`
   * bounds one call's rewrite: a 100 TB migration proceeds group-by-group
   * across maintenance windows while reads stay correct on the mixed-spec
   * table throughout. Returns the unchanged manifest when nothing is stale.
   */
  def splitBuckets(spark: SparkSession, maxGroups: Int = Int.MaxValue): Manifest = {
    val m = manifest
    val stale = m.files.filter(_.spec != m.buckets)
    if (stale.isEmpty) return m
    require(m.keyCols.nonEmpty, "splitBuckets re-derives buckets from key values")
    val gran = m.files.map(_.spec).min
    def g(f: DataFile): Int = f.bucket % gran
    val staleGroups = stale.map(g).distinct.sorted.take(maxGroups).toSet
    val groupFiles = m.files.filter(f => staleGroups.contains(g(f)))
    val epoch = maintenanceEpoch()
    // delta-bearing groups need the bucket-complete one-partition fold; a
    // pure-base group has no per-key resolution to do, so it reads at FULL
    // parallelism (a 1.5 TB pre-split bucket migrates across many tasks, not
    // one) — the dynamic partitionBy write routes every task's rows to the
    // right child dirs, so both paths stay zero-shuffle. The extra files per
    // child from the parallel path are ordinary small-file load for compact.
    val df = LakeTable.unionBalanced(groupFiles.groupBy(g).values
      .map { fs =>
        if (fs.exists(_.isDelta)) readResolved(spark, m, fs).coalesce(1)
        else readFiles(spark, m, fs)
      }.toSeq)
      .withColumn("_bucket", bucketExpr(m.keyCols, m.buckets))
    val files = writeEpochFiles(df, epoch, m)
    val replaced = (0 until m.buckets).filter(b => staleGroups.contains(b % gran)).toSet
    // pin the snapshot the rewrite read: an interleaved merge into one of the
    // migrating groups must surface as ConcurrentCommitException, not be
    // silently overwritten by this rewrite's pre-merge fold
    commit(epoch, files, replaced, Map("bucket_splits" -> 1L),
      readVersion = Some(m.version))
  }

  /**
   * The [[rescale]] runbook as a POLICY (reference analogue: the settings.json
   * contract drives every other maintenance behavior): when average live
   * bytes/bucket exceeds `bytesPerBucket`, double the bucket count
   * (metadata-only) and start migrating; while a rescale is already in
   * flight, migrate up to `maxGroups` more groups instead — one bounded
   * physical step per maintenance tick, reads correct on the mixed-spec
   * table throughout. Sizes come from the per-file `bytes` recorded at
   * commit (files recorded before size tracking are stat'ed once). Invoked
   * by the runner at the auto-compact cadence
   * (cdc_settings.auto_rescale_bytes_per_bucket); idempotent and cheap when
   * below threshold (driver-side metadata arithmetic only).
   */
  def autoRescale(spark: SparkSession, bytesPerBucket: Long,
      factor: Int = 2, maxGroups: Int = 4): Manifest = {
    require(bytesPerBucket > 0, s"autoRescale bytesPerBucket=$bytesPerBucket: must be > 0")
    require(factor >= 2, s"autoRescale factor=$factor: must be >= 2")
    val m = manifest
    if (m.files.exists(_.spec != m.buckets)) return splitBuckets(spark, maxGroups)
    if (m.keyCols.isEmpty || m.files.isEmpty) return m
    val liveBytes = m.files.map { f =>
      if (f.bytes > 0) f.bytes
      else scala.util.Try(Files.size(Paths.get(f.path))).getOrElse(0L)
    }.sum
    if (liveBytes / m.buckets <= bytesPerBucket) m
    else {
      rescaleToAtLeast(m.buckets * factor)
      splitBuckets(spark, maxGroups)
    }
  }

  /** [[rescale]], tolerating a concurrent rescale that already met the goal:
    * the policy path computes its target from a manifest read that an
    * external `JobMain --op rescale` (or a lost CAS race re-evaluated against
    * the fresh head) can make stale, and `rescale`'s must-grow guard would
    * then throw IllegalArgumentException — a USER-ERROR shape the runner's
    * defer-on-conflict deliberately does not catch, so it would kill the
    * stream over a policy whose goal the other writer already achieved. */
  private[graft] def rescaleToAtLeast(desired: Int): Unit =
    try { rescale(desired); () }
    catch {
      case e: IllegalArgumentException =>
        // re-check AFTER the failure: only a genuinely-met goal is benign
        if (manifest.buckets < desired) throw e
    }

  /**
   * Physical GC: delete data files referenced only by snapshots older than the
   * `keepVersions` most recent, plus their manifests. Readers of kept snapshots
   * are unaffected (time travel window shrinks to `keepVersions`).
   *
   * `keepCommittedSinceMs`: wall-clock retention floor as an ABSOLUTE
   * epoch-ms timestamp — a snapshot committed at or after it is kept even
   * when it falls outside `keepVersions` ("keep the last 2 versions AND
   * everything committed since now − 7 days"). Deliberately timestamp-shaped
   * and named so, unlike [[removeOrphans]]'s relative `olderThanMs` AGE —
   * passing an age here would make every snapshot look younger than the
   * cutoff and silently disable the floor.
   *
   * Deletion candidates come from the PRUNED manifests' file lists (minus files
   * still referenced by kept manifests) — never from a directory walk. Files of
   * an epoch already written but not yet committed (the window inside
   * applyBatch, or a concurrent compact) are in no pruned manifest, so a
   * vacuum running beside an active stream/maintenance job cannot eat data the
   * next commit will reference.
   */
  def vacuum(keepVersions: Int = 2, keepCommittedSinceMs: Option[Long] = None): Seq[String] =
      this.synchronized {
    // keepVersions <= 0 would classify the CURRENT snapshot's files as dead
    // and delete the table out from under _current
    require(keepVersions >= 1, s"vacuum(keepVersions=$keepVersions): must keep >= 1")
    val cur = currentVersion
    var keepFrom = math.max(1, cur - keepVersions + 1)
    // ONE metadata parse per touched version, shared by the retention walk,
    // the file sweep, the sidecar GC, and the kept-fragment set below — the
    // same snapshot JSON used to be re-read up to three times per pruned
    // version. Safe to cache for the whole call: a committed manifest file
    // is immutable (the CAS publishes, never rewrites).
    val metaCache = scala.collection.mutable.Map.empty[Int, Option[Manifest]]
    def metaOf(v: Int): Option[Manifest] = metaCache.getOrElseUpdate(v,
      if (!Files.exists(manifestPath(v))) None else Some(readMeta(v)))
    keepCommittedSinceMs.foreach { cutoff =>
      // commit stamps come from EACH WRITER'S clock: under the multi-process
      // CAS commit protocol, skewed hosts can interleave non-monotone stamps,
      // so a "walk back until the first pre-cutoff stamp" would stop above a
      // later-stamped version and delete a snapshot committed after the
      // cutoff. Scan the whole prunable window instead and keep from the
      // EARLIEST version at/after the cutoff — skew then errs toward
      // retaining (the walk stops at the first already-swept manifest, which
      // bounds it exactly like the deletion pass below).
      var v = keepFrom - 1
      var m = metaOf(v)
      while (v >= 1 && m.isDefined) {
        if (m.get.committedAtMs >= cutoff) keepFrom = v
        v -= 1
        m = metaOf(v)
      }
    }
    // snapshots below keepFrom may already be gone (pruned by an earlier
    // vacuum) — guard every old-manifest access
    def filesOf(v: Int): Seq[String] =
      metaOf(v).map(resolveMeta(_).files
        .map(f => Paths.get(f.path).toAbsolutePath.toString)).getOrElse(Nil)
    // persisted low-water mark: everything below it was swept by an earlier
    // vacuum, so each run walks only the NEWLY pruned window instead of
    // re-probing version 1.. forever — at millions of versions (the cadence
    // reconcile was rebounded for) the unbounded walk is millions of
    // all-miss Files.exists probes per scheduled vacuum. Best-effort: a
    // missing/corrupt marker falls back to 1 (full sweep, correct either
    // way — the sweep is idempotent).
    val floorPath = manifestsDir.resolve("_vacuum_floor")
    val floor = math.max(1,
      if (Files.exists(floorPath))
        scala.util.Try(new String(Files.readAllBytes(floorPath)).trim.toInt)
          .getOrElse(1)
      else 1)
    // candidates resolve BEFORE the live set: both walks ascend, so the fold
    // cache extends incrementally across the floor→cur span (and ends at the
    // head, leaving the cache warm for the next reader) — live-first re-folds
    // the old window cold and parks the cache on a pruned version
    val candidates = (floor until keepFrom).flatMap(filesOf).distinct
    val live: Set[String] = (keepFrom to cur).flatMap(filesOf).toSet
    val dataRoot = Paths.get(dir, "data").toAbsolutePath
    val deleted = scala.collection.mutable.ListBuffer.empty[String]
    val emptied = scala.collection.mutable.LinkedHashSet.empty[Path]
    candidates
      .filterNot(live.contains)
      .map(Paths.get(_))
      .foreach { p =>
        if (Files.deleteIfExists(p)) {
          deleted += p.toString
          emptied += p.getParent
        }
      }
    pruneEmptyDirs(emptied, dataRoot)
    // change sidecars of epochs committed at pruned versions are unreachable
    // (their version's manifest goes away below) — GC them with the snapshot.
    // FIRST pin the feed identity: on a pre-marker-era table (sidecars
    // written by an older build, no _feed yet) the epoch dirs ARE the
    // evidence that it records a feed, and this loop is the one place that
    // destroys them — without the pin, an aggressive vacuum would flip
    // recordsChangeFeed to false and let the next maintenance commit wedge
    // the feed. Vacuum is already a writer, so the pin belongs here, not in
    // the read accessor.
    if (recordsChangeFeed) enableChangeFeed()
    // the epoch comes from the cached meta (read before any deletion);
    // epochs are unique per table.
    (floor until keepFrom).foreach { v =>
      metaOf(v).foreach { m =>
        if (m.epoch >= 0) {
          val cd = Paths.get(changesDir(m.epoch))
          if (Files.isDirectory(cd)) {
            scala.util.Using.resource(Files.walk(cd)) { w =>
              w.iterator().asScala.toSeq
            }.reverse.foreach { p => if (Files.deleteIfExists(p)) deleted += p.toString }
          }
        }
      }
      if (Files.deleteIfExists(manifestPath(v))) deleted += manifestPath(v).toString
    }
    // fragments referenced by no kept snapshot (superseded by a consolidation
    // rewrite, or a lost commit race's never-referenced loser) are dead too.
    // Guard: a fragment's embedded seq > currentVersion belongs to an
    // IN-FLIGHT commit attempt (written before its version-file CAS) — if its
    // CAS succeeds, v{seq} will reference it; if it loses, the next vacuum
    // sees seq <= head and sweeps it then. Sweeping only seq <= cur can
    // therefore never eat a fragment a future winner references.
    // existence guard like filesOf above: a PREVIOUS tighter vacuum already
    // deleted manifests inside this call's wider window — crashing here
    // would abort after files were deleted, losing the report and skipping
    // the fragment sweep
    val keptFragments: Set[String] =
      (keepFrom to cur).flatMap(v => metaOf(v).map(_.fragments).getOrElse(Nil)).toSet
    def fragSeq(name: String): Int =
      // digits up to the nonce separator, NOT a fixed width: seq 1,000,000+
      // renders 7 digits, and a truncated parse would misread an in-flight
      // commit's fragment as ancient and sweep a future winner's file
      scala.util.Try(name.stripPrefix("mf-").takeWhile(_.isDigit).toInt)
        .getOrElse(Int.MaxValue)
    scala.util.Using.resource(Files.list(manifestsDir)) { ls =>
      ls.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("mf-") &&
          p.getFileName.toString.endsWith(".json") &&
          !keptFragments.contains(p.getFileName.toString) &&
          fragSeq(p.getFileName.toString) <= cur)
        .toSeq
    }.foreach { p => if (Files.deleteIfExists(p)) deleted += p.toString }
    // advance (never regress) the low-water mark
    if (keepFrom > floor) LakeTable.publish(floorPath, keepFrom.toString.getBytes("UTF-8"))
    deleted.toSeq
  }

  /**
   * Orphan sweep — the complement of [[vacuum]]: vacuum's deletion candidates
   * come from pruned manifests (safe — it can never eat an uncommitted file),
   * which means a data file written by a CRASHED epoch whose commit never
   * landed is referenced by no manifest at any version and leaks forever.
   * This diffs the physical data dir against the union of every kept
   * snapshot's file set and deletes unreferenced files older than
   * `olderThanMs`. The age guard is what makes it safe to run next to a live
   * writer: an in-flight epoch write is also unreferenced until its commit,
   * so pick a horizon comfortably above the longest epoch write (hours).
   * Returns the deleted paths.
   */
  def removeOrphans(olderThanMs: Long): Seq[String] = this.synchronized {
    val cutoff = System.currentTimeMillis() - olderThanMs
    val cur = currentVersion
    val live: Set[String] = (1 to cur).flatMap { v =>
      if (!Files.exists(manifestPath(v))) Nil
      else resolve(v).files.map(f => Paths.get(f.path).toAbsolutePath.toString)
    }.toSet
    val deleted = scala.collection.mutable.ListBuffer.empty[String]
    // crash-orphaned staging files of LakeTable.publish: nothing references
    // them and no other pass sweeps them (vacuum matches only mf-*.json), so
    // at crash-restart cadence they would grow unboundedly. Swept in every
    // dir it publishes into under the table — the root (sync_source.json),
    // manifests/, lineage/ and each change sidecar (_meta.json); the age
    // cutoff keeps in-flight commits' temps safe.
    def children(d: Path): Seq[Path] =
      if (!Files.isDirectory(d)) Nil
      else scala.util.Using.resource(Files.list(d))(_.iterator().asScala.toSeq)
    (Seq(Paths.get(dir), manifestsDir, Paths.get(dir, "lineage")) ++
        children(Paths.get(dir, "changes"))).flatMap(children)
      .filter(p => Files.isRegularFile(p) && LakeTable.isTmp(p) &&
        Files.getLastModifiedTime(p).toMillis < cutoff)
      .foreach { p => if (Files.deleteIfExists(p)) deleted += p.toString }
    val dataRoot = Paths.get(dir, "data").toAbsolutePath
    if (!Files.isDirectory(dataRoot)) return deleted.toSeq
    val emptied = scala.collection.mutable.LinkedHashSet.empty[Path]
    scala.util.Using.resource(Files.walk(dataRoot)) { walk =>
      walk.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .filterNot(p => live.contains(p.toAbsolutePath.toString))
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
        .toSeq
    }.foreach { p =>
      if (Files.deleteIfExists(p)) {
        deleted += p.toString
        emptied += p.getParent
      }
    }
    pruneEmptyDirs(emptied, dataRoot)
    deleted.toSeq
  }

  /** After [[vacuum]] or [[removeOrphans]] deleted files: prune each
    * now-empty directory upward (bucket dir, then its epoch dir), never
    * leaving `dataRoot`. */
  private def pruneEmptyDirs(dirs: Iterable[Path], dataRoot: Path): Unit =
    dirs.foreach { d =>
      var p = d
      while (p != null && p != dataRoot && p.startsWith(dataRoot) &&
        Files.isDirectory(p) && !scala.util.Using.resource(Files.list(p))(_.iterator().hasNext)) {
        Files.delete(p)
        p = p.getParent
      }
    }

  /** THE data-epoch writer: `rows` (carrying `_bucket`) overwrite
    * [[dataDir]]`(epoch)`, one `_bucket=K` dir per bucket, so a retried
    * epoch stays idempotent per (epoch, partition). Returns the written
    * files, each with an exact row count (a failed footer read is recounted
    * here), so callers may sum `rows` into audit metrics. `m` is the
    * manifest the rows were bucketed under (see [[listEpochFiles]]). */
  private[graft] def writeEpochFiles(rows: DataFrame, epoch: Long, m: Manifest,
      kind: String = DataFile.BASE): Seq[DataFile] = {
    rows.write.mode("overwrite")
      .options(bloomOptions(m.keyCols))
      .partitionBy("_bucket")
      .parquet(dataDir(epoch))
    listEpochFiles(epoch, m, kind).map { f =>
      if (f.rows >= 0) f else f.copy(rows = rows.sparkSession.read.parquet(f.path).count())
    }
  }

  /** List data files physically present under a just-written epoch dir, with bucket
    * parsed from the `_bucket=K` partition dirs.
    *
    * `m` MUST be the manifest the rows were BUCKETED under, not a fresh head
    * read: an external rescale landing between the write and this listing
    * would otherwise record the new bucket count as these files' spec while
    * their rows hash under the old one — and a pure-addition (delta) commit
    * bypasses the rebase guard's spec check, so nothing downstream would
    * catch the mismatch before reads silently lose rows. */
  private def listEpochFiles(epoch: Long, m: Manifest, kind: String): Seq[DataFile] = {
    val root = Paths.get(dataDir(epoch))
    if (!Files.exists(root)) return Nil
    // per-file stats come from the parquet FOOTER (driver-side metadata read,
    // no data scan): exact row count + leading-merge-key min/max when the key
    // is string- or integral-typed — consumed by lookup*'s intra-bucket pruning
    val (statsKeys, writeSpec) =
      (m.keyCols
        .flatMap(k => m.currentSchema.byName(k))
        .collect {
          case f if f.dataType == StringType || f.dataType == LongType ||
            f.dataType == IntegerType => (f.name, f.dataType)
        }, m.buckets)
    val listed = scala.util.Using.resource(Files.walk(root)) { walk =>
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map { p =>
          val bucket = p.getParent.getFileName.toString match {
            case s if s.startsWith("_bucket=") => s.substring("_bucket=".length).toInt
            case _ => -1
          }
          DataFile(p.toString, bucket, m.currentSchemaId, -1L,
            kind, spec = writeSpec, bytes = Files.size(p))
        }.toSeq
    }
    // footer reads in parallel — serial per-file metadata I/O on the driver
    // would tax every commit by O(files-in-epoch) round-trips
    listed.par.map(footerStats(_, statsKeys)).seq
  }

  private def footerStats(f: DataFile, keyCols: Seq[(String, DataType)]): DataFile = {
    import org.apache.parquet.column.statistics.{BinaryStatistics, IntStatistics, LongStatistics}
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    try {
      val footer = ParquetFileReader.readFooter(
        LakeTable.sharedHadoopConf,
        new org.apache.hadoop.fs.Path(f.path),
        ParquetMetadataConverter.NO_FILTER)
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // one footer read yields every key column's range — composite-key
      // tables prune on ALL keys, not just the leading one
      val ranges = keyCols.flatMap { case (k, dt) =>
        val stats = blocks
          .flatMap(_.getColumns.asScala.find(_.getPath.toDotString == k))
          .map(_.getStatistics)
        if (stats.isEmpty || !stats.forall(_.hasNonNullValue)) None
        else dt match {
          case StringType if stats.forall(_.isInstanceOf[BinaryStatistics]) =>
            val bs = stats.map(_.asInstanceOf[BinaryStatistics])
            // aggregate across row groups in the SAME unsigned-UTF-8 order the
            // per-block stats are computed in (String.min would use UTF-16)
            Some(k -> ColRange(
              minS = Some(bs.map(_.genericGetMin.toStringUsingUTF8)
                .reduce((a, b) => if (DataFile.utf8Cmp(a, b) <= 0) a else b)),
              maxS = Some(bs.map(_.genericGetMax.toStringUsingUTF8)
                .reduce((a, b) => if (DataFile.utf8Cmp(a, b) >= 0) a else b))))
          case LongType if stats.forall(_.isInstanceOf[LongStatistics]) =>
            val ls = stats.map(_.asInstanceOf[LongStatistics])
            Some(k -> ColRange(minN = Some(ls.map(_.getMin).min),
              maxN = Some(ls.map(_.getMax).max)))
          case IntegerType if stats.forall(_.isInstanceOf[IntStatistics]) =>
            val is = stats.map(_.asInstanceOf[IntStatistics])
            Some(k -> ColRange(minN = Some(is.map(_.getMin).min.toLong),
              maxN = Some(is.map(_.getMax).max.toLong)))
          case _ => None
        }
      }
      f.copy(rows = rows, keyStats = ranges.toMap)
    } catch { case _: Throwable => f } // stats are an optimization, never fatal
  }

  /** Driver-side bucket of a single string key — must match [[bucketExpr]]
    * (xxhash64 with Spark's default seed 42, pmod). */
  def bucketOfKey(key: String, buckets: Int): Int =
    bucketOfRow(Seq((key, StringType)), buckets)

  /** Driver-side bucket of a single integral key — the key COLUMN type picks
    * the hash kernel (see [[bucketOfRow]]). */
  def bucketOfNumKey(key: Long, dt: DataType, buckets: Int): Int =
    bucketOfRow(Seq((key, dt)), buckets)

  /** Driver-side hash of one key value with a given seed — must track Spark's
    * xxhash64 kernels exactly (int and long hash differently, so the key
    * COLUMN type, not the lookup value, picks the kernel). */
  private def hashKeyValue(v: Any, dt: DataType, seed: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    dt match {
      case StringType =>
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)
        XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), seed)
      case LongType                => XXH64.hashLong(v.asInstanceOf[Number].longValue(), seed)
      case IntegerType | ShortType => XXH64.hashInt(v.asInstanceOf[Number].intValue(), seed)
      case other => throw new IllegalArgumentException(
        s"point lookup on unsupported key column type $other")
    }
  }

  /** Driver-side bucket of a (possibly composite) key — must match
    * [[bucketExpr]]: Spark's multi-argument xxhash64 chains each argument's
    * hash with the previous one as seed, starting from seed 42. `values`
    * must be in `keyCols` order. */
  def bucketOfRow(values: Seq[(Any, DataType)], buckets: Int): Int = {
    val h = values.foldLeft(42L) { case (seed, (v, dt)) => hashKeyValue(v, dt, seed) }
    (((h % buckets) + buckets) % buckets).toInt
  }

  /** Files that can possibly hold the given merge-key values (all key columns,
    * `keyCols` order): the hash bucket, further pruned by EVERY key column's
    * per-file footer range (delta files of epochs that never touched the key
    * are skipped without opening them). */
  def lookupFilesFor(values: Seq[Any]): Seq[DataFile] = {
    val m = manifest
    require(m.keyCols.nonEmpty && values.size == m.keyCols.size,
      s"lookup needs one value per merge key ${m.keyCols}")
    val typed = m.keyCols.zip(values).map { case (k, v) =>
      (k, v, m.currentSchema.byName(k).get.dataType)
    }
    val b = bucketOfRow(typed.map(t => (t._2, t._3)), m.buckets)
    // per-file spec: a pre-rescale file holds the key iff its (coarser) bucket
    // is the current bucket's congruence class — b % spec ≡ pmod(h, spec)
    m.files.filter { f =>
      f.bucket == b % f.spec && typed.forall {
        case (k, v, StringType) => f.mayContainKey(k, v.toString)
        case (k, v, _)          => f.mayContainKeyNum(k, v.asInstanceOf[Number].longValue())
      }
    }
  }

  def lookupFiles(key: String): Seq[DataFile] = lookupFilesFor(Seq(key))

  /** [[lookupFiles]] for an integral-typed merge key (numeric-order stats). */
  def lookupFilesNum(key: Long): Seq[DataFile] = lookupFilesFor(Seq(key))

  private def lookupIn(spark: SparkSession, m: Manifest, files: Seq[DataFile],
      values: Seq[Any]): DataFrame = {
    if (files.isEmpty)
      return withoutTombstones(readFiles(spark, m, Nil))
    val pred = m.keyCols.zip(values)
      .map { case (k, v) => col(k) === lit(v) }.reduce(_ && _)
    val df = readFiles(spark, m, files).filter(pred)
    // the key's rows all land in one partition, so the read path's fold
    // resolves them without a shuffle
    withoutTombstones(
      if (files.exists(_.isDelta)) resolveStored(df.coalesce(1), m, m.keyCols) else df)
  }

  /** Point lookup of one (possibly composite) key's current row (empty if
    * absent/deleted); values in `keyCols` order. */
  def lookupRow(spark: SparkSession, values: Seq[Any]): DataFrame =
    lookupIn(spark, manifest, lookupFilesFor(values), values)

  /** Point lookup of one key's current row (empty if absent/deleted). */
  def lookup(spark: SparkSession, key: String): DataFrame =
    lookupRow(spark, Seq(key))

  /** [[lookup]] for an integral-typed merge key. */
  def lookupNum(spark: SparkSession, key: Long): DataFrame =
    lookupRow(spark, Seq(key))
}
