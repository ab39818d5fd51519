package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.apply.MergeApply
import graft.model.{CdcMode, JobConfig, MergeStrategy}

/**
 * Lake→lake incremental replication: mirror an upstream LWW lake table into a
 * downstream one by following its change feed — the last stage of the CDC
 * chain (database → lake → downstream lake), the lake-target sibling of
 * `JdbcEndpoint.applyChanges` (reference analogue: the replication service's
 * target-endpoint apply, `trempy/Endpoints/TargetEndpoint.py` — here the
 * target is another table of this lake format instead of a database).
 *
 * Contract:
 *   - **Bootstrap** (target absent): mirror the source's ENGINE state at one
 *     snapshot — per-row `_lsn` and delete tombstones included
 *     ([[LakeTable.readState]]) — as the target's full-load epoch. Mirroring
 *     the public fold instead would silently diverge: the merge is
 *     order-tolerant, so a later change window can carry an `_lsn` older than
 *     what the snapshot already folded, and only the copied `_lsn`/tombstones
 *     let the downstream merge reject it exactly like the source did.
 *   - **Incremental**: each call syncs the window `(offset, head]` through
 *     `changeLog` and applies it with the SAME order-tolerant LWW merge the
 *     source used (`MergeApply.applyBatch`, mode=upsert) — so
 *     `target.read == source.readVersion(head)` after every sync.
 *   - **Exactly-once offset**: the synced-source-version cursor is a manifest
 *     METRIC ([[LakeSync.OFFSET_METRIC]], advanced by `head - from` deltas —
 *     manifest metrics merge by sum) carried in the SAME atomic commit as the
 *     window's data. A crash replays nothing (offset never recorded without
 *     its data) and loses nothing (data never committed without the offset);
 *     no sidecar offset file to drift.
 *   - **Schema evolution follows the source**: the source's schema history is
 *     diffed BY FIELD ID between the two window ends and replayed onto the
 *     target as name-based add/rename/widen changes before the apply, so a
 *     window spanning an evolution lands on the evolved schema. The replay is
 *     idempotent (changes already present on the target are skipped), which
 *     also covers a crash between evolve and commit.
 *   - A `sync_source.json` marker binds the target to one upstream; syncing
 *     from anywhere else (or into a table not created by sync) is refused.
 *
 * Scale shape: the window read is `changeLog` (driver cost O(fragments in
 * window), no snapshot re-folds), the apply is the engine's own merge
 * (map-side-combined per-key reduction, manifest-pruned base read, bucketed
 * zero-shuffle MoR option via `merge = MergeOnRead`). Nothing here adds a
 * driver-side loop or an extra shuffle over what a normal ingest epoch costs.
 *
 * Like the streaming ingest, sync assumes ONE active syncer per target at a
 * time (it writes the target's next epoch directory before committing); the
 * commit itself is CAS-protected, so a racing duplicate syncer can waste
 * work but not corrupt state — maintenance jobs may run concurrently as
 * usual.
 */
object LakeSync {

  /** Cumulative manifest metric = the source snapshot version synced through
    * (bootstrap records the snapshot it mirrored; each window adds its span). */
  val OFFSET_METRIC = "synced_source_version"

  final case class SyncResult(
      fromVersion: Int,
      toVersion: Int,
      /** target epoch the window committed as (-2 when nothing to do) */
      epoch: Long,
      /** change rows applied (insert+update+delete winners) */
      rows: Long,
      bootstrapped: Boolean)

  /**
   * Sync `targetDir` up to `sourceDir`'s current head. Creates + bootstraps
   * the target on first call; no-ops when already caught up. `merge`/`buckets`
   * shape the TARGET table (downstream may run merge-on-read or a different
   * bucket count than upstream — specs are independent); both are PINNED at
   * creation — a later call passing a different value is refused as config
   * drift (see [[checkMarker]] for why silent merge drift is dangerous). `changeFeed` controls
   * whether the MIRROR records its own CDC-out: it defaults ON for
   * copy-on-write targets — a mirror exists to be consumed, and a CoW mirror
   * without sidecars is a change-feed dead end (chaining lake_sync off it, or
   * `changeLog` over it, would fail on the first incremental window with a
   * remedy this surface would otherwise not expose). Merge-on-read targets
   * need no sidecars (their delta files ARE the feed). The resolved identity
   * is PINNED on the table at creation (durable `changes/_feed` marker) and
   * wins over later calls' arguments — see [[resolveFeed]].
   */
  def sync(
      spark: SparkSession,
      sourceDir: String,
      targetDir: String,
      merge: MergeStrategy = MergeStrategy.CopyOnWrite,
      buckets: Option[Int] = None,
      changeFeed: Option[Boolean] = None): SyncResult = {
    val source = new LakeTable(sourceDir)
    require(source.exists, s"source lake table at $sourceDir does not exist")
    val sm = source.manifest
    require(sm.tableMode == Manifest.LWW,
      s"lake sync follows the row-level LWW change feed; source at $sourceDir " +
        s"is tableMode=${sm.tableMode} (an SCD2 history table's change rows " +
        "are version rows, not row states — replicate its LWW upstream instead)")
    require(sm.keyCols.nonEmpty,
      s"source at $sourceDir declares no merge keys; sync needs them")
    // the window head IS sm's version: a separate currentVersion probe could
    // see a commit (e.g. an evolve) that landed after the manifest read, and
    // bootstrap would then mirror head's data under sm's older schema with
    // the cursor already past the evolution — silent permanent divergence
    val head = sm.version

    val target = new LakeTable(targetDir)
    if (!target.exists) {
      target.create(sm.currentSchema.sparkSchema, buckets.getOrElse(sm.buckets),
        keyCols = sm.keyCols, tableMode = Manifest.LWW)
      writeMarker(targetDir, sourceDir, merge, sm.tableId)
      // pin the mirror's change-feed identity AT CREATION (durable marker),
      // not per call: re-deriving it from each call's arguments lets config
      // drift (a later cron invocation omitting the flag, or flipping the
      // default via `merge`) mix sidecar-less and sidecar-bearing CoW epochs
      // in one history — every changeLog window spanning a sidecar-less
      // non-empty CoW epoch then throws, permanently (the missing sidecars
      // can never be recreated)
      if (changeFeed.getOrElse(merge == MergeStrategy.CopyOnWrite))
        target.enableChangeFeed()
    }
    checkMarker(target, sourceDir, merge, sm.tableId)
    // one head resolution serves the buckets guard and the offset read
    // (checkMarker and resolveFeed take `target` for the same reason: a
    // manifest resolve is a fragment fold, not a field access)
    val tm0 = target.manifest
    // config drift surfaces loudly like the feed flag's: a buckets value on
    // an EXISTING mirror that disagrees with the table would otherwise be
    // silently ignored forever (rescale the mirror instead)
    buckets.foreach(b => require(b == tm0.buckets,
      s"mirror at $targetDir has ${tm0.buckets} buckets; " +
        s"buckets=$b on an existing mirror is ignored by creation and " +
        "indicates config drift — use LakeTable.rescale to grow it"))

    val feed = resolveFeed(target, merge, changeFeed)
    val offset = tm0.metrics.getOrElse(OFFSET_METRIC, 0L).toInt
    if (offset == 0) bootstrap(spark, source, target, head)
    else incremental(spark, source, target, offset, head, merge, feed)
  }

  /** The mirror's effective change-feed flag: the table's own durable
    * identity wins over this call's arguments. Turning the feed OFF on a
    * feed-recording table, or ON after sidecar-less change windows already
    * committed, are both refused loudly — either would wedge changeLog
    * windows, the first kind from this call forward, the second kind
    * retroactively (and unrepairably). */
  private def resolveFeed(target: LakeTable, merge: MergeStrategy,
      changeFeed: Option[Boolean]): Boolean = {
    val pinned = target.recordsChangeFeed
    val wantOn = changeFeed.getOrElse(merge == MergeStrategy.CopyOnWrite)
    if (pinned) {
      require(changeFeed.forall(identity) || merge == MergeStrategy.MergeOnRead,
        s"mirror at ${target.dir} records a change feed (pinned at " +
          "bootstrap); change_feed=false would commit sidecar-less CoW " +
          "epochs that wedge every changeLog window spanning them — drop " +
          "the flag, or re-bootstrap a feedless mirror")
      true
    } else if (wantOn) {
      val tm = target.manifest
      require(tm.epochWatermark < 0 && !tm.recentEpochs.exists(_ >= 0),
        s"mirror at ${target.dir} has already committed change windows " +
          "WITHOUT a feed; enabling change_feed now cannot backfill their " +
          "missing sidecars — changeLog windows spanning them would wedge. " +
          "Re-bootstrap the mirror to record a feed from epoch 0")
      target.enableChangeFeed()
      true
    } else false
  }

  /** Bring the target's schema to the source's `head` schema by replaying
    * the source's evolution from the history schema matching the target's
    * ACTUAL shape — never from a stored cursor: a crash between evolve and
    * the cursor commit leaves the target mid-window, and a later source
    * evolution of the same field collapses in a diff (a→b then b→c diffs as
    * a→c), so a cursor-based replay wedges on the never-matching first hop
    * forever. ONE implementation for bootstrap and incremental — the two
    * crash-recovery paths must never drift. */
  private def evolveToHead(
      source: LakeTable, target: LakeTable, head: Int, context: String): Unit = {
    def shape(s: GraftSchema) = s.fields.map(f => (f.name, f.dataType))
    val headSchema = source.schemaAt(head)
    val tgtSchema = target.manifest.currentSchema
    if (shape(tgtSchema) == shape(headSchema)) return
    val base = source.schemaHistoryAt(head)
      .find(s => shape(s) == shape(tgtSchema))
      .getOrElse(throw new IllegalStateException(
        s"sync $context: target schema at ${target.dir} matches no schema " +
          "in the source's history — not a sync-managed table, or the " +
          "source was rebuilt; delete the target to re-bootstrap"))
    val diff = applicable(tgtSchema, headSchema, evolutionDiff(base, headSchema))
    if (diff.nonEmpty) target.evolve(diff)
  }

  // ── bootstrap: mirror one engine snapshot as the full-load epoch ──
  private def bootstrap(
      spark: SparkSession, source: LakeTable, target: LakeTable,
      head: Int): SyncResult = {
    val epoch = -1L
    // a target with ANY committed data but no offset metric was not built by
    // sync — a fresh create (or a crash before the bootstrap commit) has
    // neither. Checking only the full-load epoch would let a retry
    // bootstrap-OVERWRITE a foreign streaming feed's epochs >= 0 (marker
    // present from the crashed attempt, offset 0, no epoch -1) — the exact
    // feed-mixing this guard exists to refuse; same rule as checkMarker's
    // adoption check.
    require(target.manifest.committedEpochCount == 0L,
      s"target at ${target.dir} holds committed data but no $OFFSET_METRIC " +
        "cursor — not a sync-managed table; refusing to mix feeds")
    // crash-retry across a source evolution: call 1's `create` captured an
    // older source schema and crashed before this commit; the retry's cursor
    // will start PAST the evolution, so the AddColumn/rename/widen would
    // never replay through a later window — the mirror would silently lack
    // the column forever. The target holds no data yet (guarded above), so
    // bring it to the bootstrap head's schema, THEN mirror.
    evolveToHead(source, target, head, "bootstrap")
    val rows = mirrorState(spark, source, target, head, epoch,
      r => Map("full_load_rows" -> r, OFFSET_METRIC -> head.toLong,
        LakeTable.ReloadMetric -> 1L))
    SyncResult(0, head, epoch, rows, bootstrapped = true)
  }

  /** Mirror the source's engine state at `head` into `target` as ONE
    * bucket-replacing commit — shared by bootstrap and the reload
    * re-mirror (they were hand-kept near-copies, the drift class this
    * repo keeps finding). Salted bucket write (`MergeApply.writeEpoch`):
    * the mirror's largest-ever write must not serialize a hot (zipf)
    * bucket into one straggler task — the same fix CdcRunner.fullLoad
    * got; a plain repartition(_bucket) also idles cores whenever
    * buckets ≲ shuffle partitions (Poisson collisions). The commit is
    * PINNED to the target manifest the write was prepared against
    * (readVersion), so concurrent maintenance on the mirror — an
    * auto-rescale that migrated files to a finer spec between our
    * manifest read and the commit — conflicts loudly as
    * ConcurrentCommitException (the cron's next tick re-mirrors from
    * fresh state) instead of silently carrying migrated files beside the
    * full-state replacement and double-covering their buckets. */
  private def mirrorState(spark: SparkSession, source: LakeTable,
      target: LakeTable, head: Int, epoch: Long,
      metricsFor: Long => Map[String, Long]): Long = {
    val tm = target.manifest
    val state = source.readState(spark, head)
      .withColumn("_bucket", target.bucketExpr(tm.keyCols, tm.buckets))
    val files = MergeApply.writeEpoch(spark, target, state, epoch, tm)
    val rows = files.map(_.rows).sum
    target.commit(epoch, files, (0 until tm.buckets).toSet, metricsFor(rows),
      readVersion = Some(tm.version))
    rows
  }

  // ── incremental: evolve to the window's end schema, apply the change feed ──
  private def incremental(
      spark: SparkSession, source: LakeTable, target: LakeTable,
      from: Int, head: Int, merge: MergeStrategy,
      changeFeed: Boolean): SyncResult = {
    require(from <= head,
      s"sync cursor $from is ahead of source head $head — was the source " +
        "rebuilt? (delete the target to re-bootstrap)")
    if (from == head) return SyncResult(from, head, -2L, 0L, bootstrapped = false)

    evolveToHead(source, target, head, "incremental")

    // a TRUNCATE-AND-LOAD landing inside the window — the source's full load
    // (epoch -1, e.g. a full_load_and_cdc task whose snapshot raced the
    // first cron sync) or an upstream mirror's own reload re-mirror — cannot
    // ride the change feed: the load replaced every bucket and keys it
    // dropped left no tombstone, so no set of row changes reproduces it
    // (changeLog refuses such windows loudly for exactly this reason).
    // Re-mirror the source's engine state instead, as ONE bucket-replacing
    // commit that advances the cursor — and bump ReloadMetric so a mirror
    // chained off THIS one detects the reload the same way and propagates
    // it. Scale: a full state copy, the same cost the source's own reload
    // paid — rare by definition.
    val fromMeta = source.snapshotMeta(from)
    val headMeta = source.snapshotMeta(head)
    def reloads(m: Manifest) = m.metrics.getOrElse(LakeTable.ReloadMetric, 0L)
    val reloadInRange =
      (headMeta.isCommittedEpoch(-1L) && !fromMeta.isCommittedEpoch(-1L)) ||
        reloads(headMeta) > reloads(fromMeta)
    if (reloadInRange) {
      val epoch = math.max(target.manifest.epochWatermark, -1L) + 1
      val rows = mirrorState(spark, source, target, head, epoch,
        _ => Map(OFFSET_METRIC -> (head - from).toLong,
          LakeTable.ReloadMetric -> 1L))
      return SyncResult(from, head, epoch, rows, bootstrapped = false)
    }

    val events = StoredRows.toEvents(source.changeLog(spark, from, head))

    val tm = target.manifest
    val epoch = math.max(tm.epochWatermark, -1L) + 1
    // validatePayload=false: these rows already passed the SOURCE's
    // quarantine split — a legitimately null-filled payload (ingested before
    // an evolution added tokens/n_tok) would re-quarantine HERE and silently
    // diverge the mirror while the cursor advances past it
    val cfg = JobConfig(mode = CdcMode.Upsert, keyCols = tm.keyCols,
      merge = merge, buckets = tm.buckets, changeFeed = changeFeed,
      validatePayload = false)
    val res = MergeApply.applyBatch(spark, target, events, epoch, cfg,
      extraMetrics = Map(OFFSET_METRIC -> (head - from).toLong))
    val rows = Seq("applied_inserts", "applied_updates", "applied_deletes")
      .map(res.metrics.getOrElse(_, 0L)).sum
    SyncResult(from, head, epoch, rows, bootstrapped = false)
  }

  // ── source schema history → target evolution ──

  /** Field-id diff between two snapshots of ONE table's schema history: a
    * field keeping its id across a rename/widen is the same column (the lake's
    * schema-evolution invariant), so the diff is exact — no name heuristics. */
  def evolutionDiff(from: GraftSchema, to: GraftSchema): Seq[SchemaChange] =
    to.fields.flatMap { f =>
      from.byId(f.id) match {
        case None => Seq(AddColumn(f.name, f.dataType, f.nullable))
        case Some(o) =>
          (if (o.name != f.name) Seq(RenameColumn(o.name, f.name)) else Nil) ++
            (if (o.dataType != f.dataType) Seq(WidenColumn(f.name, f.dataType))
             else Nil)
      }
    }

  /** Order the window's changes so each applies cleanly, skipping those the
    * target already has — makes the evolution replay idempotent (re-sync
    * after a crash between evolve and commit). Two subtleties, both of which
    * silently diverge the mirror if mishandled:
    *
    *   - INTERDEPENDENCE: one window's diff can hold changes where a later
    *     one only becomes applicable once an earlier one lands (rename a→b,
    *     then add a NEW column a), so each change is judged against the
    *     schema AS TRANSFORMED by the changes retained before it.
    *   - ORDER: [[evolutionDiff]] emits in field-POSITION order, not the
    *     temporal order the source applied them — rename b→c then a→b
    *     arrives as [a→b, b→c], where a→b looks like a name conflict on the
    *     first pass. Blocked changes are retried on the next pass of the
    *     fixpoint below; "already applied" is decided against the WINDOW-END
    *     schema as a whole (target == head → nothing to do), never per
    *     change — a per-change check cannot tell a satisfied rename from a
    *     blocked one when names are reused. A residue that never unblocks
    *     without reaching the head schema (a circular swap the target cannot
    *     express either) fails loudly instead of half-applying.
    */
  private def applicable(target: GraftSchema, head: GraftSchema,
      chs: Seq[SchemaChange]): Seq[SchemaChange] = {
    val goal = head.fields.map(f => f.name -> f.dataType).toSet
    var fields = target.fields.map(f => f.name -> f.dataType).toVector
    def reachedGoal = fields.toSet == goal
    // idempotent fast path: the whole window already replayed (a crash
    // between evolve and the cursor commit) — `evolve` is atomic, so "fully
    // applied" and "not applied" are the only persisted states per call
    if (reachedGoal) return Nil
    def names = fields.map(_._1).toSet
    def applies(ch: SchemaChange): Boolean = ch match {
      case AddColumn(n, _, _) => !names.contains(n)
      case RenameColumn(f, t) => names.contains(f) && !names.contains(t)
      case WidenColumn(n, to) => fields.find(_._1 == n).exists(_._2 != to)
    }
    val out = Seq.newBuilder[SchemaChange]
    var pending = chs
    var progress = true
    while (pending.nonEmpty && progress && !reachedGoal) {
      progress = false
      pending = pending.flatMap { ch =>
        if (!applies(ch)) Some(ch) // blocked or stale — retry next pass
        else {
          out += ch
          // the shape effect is the SHARED fold (SchemaChange.applyToShape);
          // only the blocked-vs-apply judgement above is fixpoint-specific
          fields = SchemaChange.applyToShape(fields, ch)
          progress = true
          None
        }
      }
    }
    // a residue is fine ONLY if the target reached the window-end schema
    // (stale entries from a partially-replayed window whose remainder another
    // pick already subsumed); a blocked residue short of the goal would
    // half-apply the evolution — fail loudly instead
    require(pending.isEmpty || reachedGoal,
      s"sync cannot order the window's schema changes onto the target: " +
        s"${pending.mkString(", ")} remain blocked by name conflicts after a " +
        "fixpoint (e.g. a circular rename swap) — evolve the target manually, " +
        "or re-bootstrap the mirror")
    out.result()
  }

  // ── source-binding marker ──

  private def markerPath(targetDir: String) =
    Paths.get(targetDir, "sync_source.json")

  private def writeMarker(targetDir: String, sourceDir: String,
      merge: MergeStrategy, sourceTableId: String): Unit = {
    // atomic publish: a torn marker would wedge every future sync at
    // checkMarker's parse
    LakeTable.publish(markerPath(targetDir), JsonMethods.compact(JsonMethods.render(JObject(
      "source_dir" -> JString(sourceDir),
      "merge" -> JString(MergeStrategy.name(merge)),
      "source_table_id" -> JString(sourceTableId)))).getBytes("UTF-8"))
  }

  /** Validates the source binding and the PINNED merge strategy. The merge
    * pin is the `buckets` guard's sibling for the storage mode: a mirror
    * created merge-on-read (delta epochs ARE its change feed, no sidecars
    * pinned) that a later call silently drifts to copy-on-write —
    * e.g. a cron invocation dropping the `merge` key, falling back to the
    * CoW default — with change_feed=false would commit a sidecar-less base
    * epoch that wedges every changeLog window spanning it, permanently.
    * Config drift surfaces loudly instead; markers written before the pin
    * existed adopt THIS call's merge (one-time, same trust as creation). */
  private def checkMarker(target: LakeTable, sourceDir: String,
      merge: MergeStrategy, sourceTableId: String): Unit = {
    val targetDir = target.dir
    val p = markerPath(targetDir)
    if (!Files.exists(p)) {
      // markerless (crash between create and marker write): only adoptable
      // while the table has never committed ANYTHING — a table with data is
      // some other feed's target, and bootstrapping over it would merge feeds
      require(target.manifest.committedEpochCount == 0L,
        s"target at $targetDir has no sync_source.json marker but already " +
          "holds committed data — refusing to adopt it as a sync target")
      writeMarker(targetDir, sourceDir, merge, sourceTableId)
    } else {
      val parsed = JsonMethods.parse(new String(Files.readAllBytes(p), "UTF-8"))
      def strField(name: String): Option[String] = parsed \ name match {
        case JString(s) => Some(s)
        case _ => None
      }
      val bound = strField("source_dir").getOrElse("")
      require(bound == sourceDir,
        s"target at $targetDir replicates $bound; refusing to sync from " +
          s"$sourceDir (one upstream per target — epochs and the " +
          s"$OFFSET_METRIC cursor belong to its feed)")
      // table IDENTITY, not just path: a source deleted and re-created at
      // the same path with the same schema passes every shape check, but its
      // version history is unrelated — the cursor would splice two feeds
      // (`from <= head` only catches the rebuild while the new head is still
      // BEHIND the cursor). The creation nonce survives nothing but the
      // original table.
      strField("source_table_id").filter(_.nonEmpty).foreach { pinnedId =>
        require(sourceTableId == pinnedId,
          s"target at $targetDir was bound to source table_id=$pinnedId but " +
            s"$sourceDir now carries table_id=$sourceTableId — the source " +
            "was rebuilt (its version history is unrelated to the sync " +
            "cursor); delete the target to re-bootstrap from the new table")
      }
      val needsIdAdopt = sourceTableId.nonEmpty &&
        !strField("source_table_id").exists(_.nonEmpty)
      parsed \ "merge" match {
        case JString(pinned) =>
          require(pinned == MergeStrategy.name(merge),
            s"mirror at $targetDir was created with merge=$pinned; this call " +
              s"passes merge=${MergeStrategy.name(merge)} — storage-mode " +
              "drift on an existing mirror (a merge-on-read mirror drifted " +
              "to sidecar-less copy-on-write wedges its changeLog windows " +
              "permanently). State the creation-time merge explicitly, or " +
              "re-bootstrap the mirror under the new mode")
          // marker predates the table-id pin: adopt the current source's
          // identity (one-time, same trust as creation)
          if (needsIdAdopt) writeMarker(targetDir, sourceDir, merge, sourceTableId)
        case _ =>
          // marker predates the merge pin: adopt this call's value
          writeMarker(targetDir, sourceDir, merge, sourceTableId)
      }
    }
  }
}
