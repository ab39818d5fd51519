package graft.apply

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.lake._
import graft.model._
import graft.rules._

/**
 * The merge-apply stage: one micro-batch of change events → one copy-on-write
 * commit on the lake table. This is the Spark re-expression of the reference's
 * consumer callback (trempy/Tasks/Task.py:153-204 →
 * trempy/.../CDCOperationsHandler.py:88-277) — its per-row SQL loops collapse into:
 *
 * {{{
 *   quarantine split → filter rules → transform rules
 *     → per-key max_by(lsn) reduction  (dedup by (doc_id, lsn) + last-writer-wins;
 *                                       partial aggregation bounds hot-key fan-in:
 *                                       each map task emits ≤1 row per key)
 *     → manifest-pruned read of affected buckets only
 *     → union with the change rows → ONE exchange on (bucket, salt)
 *     → per-partition stored-row fold (the read path's: max-_lsn winner, or
 *       the SCD2 chain rebuild)
 *     → bucket-partitioned write + atomic manifest commit (exactly-once per epoch)
 * }}}
 *
 * Scale notes (100 TB / 10^10 events): the base table is never fully scanned —
 * reads prune to `O(affected buckets)` via the manifest; the reduction shuffles
 * only the batch (with map-side partial max_by, a hot key contributes at most one
 * row per map task to the shuffle); the merge shuffles batch + affected buckets
 * ONCE — the write's (bucket, salt) exchange, whose salt splits a hot bucket
 * over a bounded set of tasks and, hashing the merge keys, makes every
 * partition key-complete for the fold.
 */
object MergeApply {

  case class BatchResult(epoch: Long, skipped: Boolean, metrics: Map[String, Long])

  /** Reason column appended to quarantined rows (engine column, `_` prefix). */
  val QUARANTINE_REASON = "_error_reason"

  /** Op prefix marking a WAL transaction evicted by timeout
    * ([[graft.feed.WalTransactions]] orphan eviction). Quarantine IS the
    * intended destination for these rows, so they are excluded from the
    * `stop_if_*_error` escalation below: eviction is a deterministic function
    * of the operator state the replayed batch restores, and a stop here
    * would re-fail identically on every restart — permanently wedging the
    * stream the eviction exists to un-wedge. */
  val ORPHANED_OP_PREFIX = "orphaned_txn:"

  /** The full-load snapshot's sentinel epoch ([[graft.runner.CdcRunner
    * .fullLoad]]): its quarantine dir holds POST-transform SNAPSHOT rows —
    * no change envelope — which [[replayQuarantine]] must both recognize
    * (strip the already-run rules) and re-shape (synthesize the INSERT
    * envelope) before re-driving. */
  private[graft] val FULL_LOAD_EPOCH = -1L

  /** Replay epochs live far above any realistic streaming epoch count so they
    * can be recorded in the committed set (idempotence) without colliding. */
  private[graft] val REPLAY_EPOCH_BASE = 1L << 40

  /** Marker offset for POST-transform quarantine dirs (rows whose transform-
    * introduced merge key is null): distinct from streaming epochs (≪ 2^39)
    * and from replay epochs (≥ 2^40), browsable via LakeTable.quarantine. */
  private[graft] val POST_TRANSFORM_EPOCH_BASE = 1L << 39

  /** See [[LakeTable.PostTransformMarker]]. */
  private[graft] val POST_TRANSFORM_MARKER = LakeTable.PostTransformMarker

  /** `events_received` counts each event's ORIGINAL delivery only: a replay
    * epoch re-drives rows the original epoch already counted (quarantined ⊂
    * received), and double-counting them would mask an in-transit loss in
    * the producer-vs-consumer deliveryGap audit (published − received). */
  private def receivedDelta(epoch: Long, nReceived: Long): Long =
    if (epoch >= REPLAY_EPOCH_BASE) 0L else nReceived

  /**
   * Re-drive the quarantined rows of `sourceEpoch` through the merge under a
   * fresh replay epoch — the reference's dead-letter drain (dlx.py:1-13,
   * trempy/Messages/MessageDlx.py:27-87 reads the `dlx_message` table back
   * into the stream). `fix` corrects the rows first (e.g. repair `n_tok`,
   * map a bad op); rows STILL invalid after the fix re-quarantine under the
   * replay epoch with fresh reasons, so a partial fix is visible, not lost.
   * Replayed rows keep their original LSNs, so the LSN-gated merge stays
   * order-safe: a replayed change older than what already applied loses.
   * Idempotent per (sourceEpoch, attempt) — re-running the same drain is a
   * no-op; pass a new `attempt` to re-drive with a better fix.
   */
  def replayQuarantine(
      spark: SparkSession,
      lake: LakeTable,
      sourceEpoch: Long,
      cfg: JobConfig,
      fix: DataFrame => DataFrame = identity,
      attempt: Int = 0): BatchResult = {
    require(attempt >= 0 && attempt < 64, s"attempt $attempt out of range (0..63)")
    // the replay-epoch encoding multiplies the source epoch by 64 per drain
    // generation: a chain 4 deep on a post-transform band source (≥ 2^39)
    // wraps Long, and a wrapped (negative) epoch is never recorded in the
    // committed set — silently breaking the drain's idempotence contract.
    // Refuse loudly before the arithmetic.
    require(sourceEpoch <= (Long.MaxValue - REPLAY_EPOCH_BASE - 63) / 64 - 2,
      s"replayQuarantine($sourceEpoch): replay chain too deep to encode a " +
        "fresh replay epoch — fix the rows and re-drive an EARLIER dir in " +
        "the chain (e.g. the original epoch) with a new attempt instead")
    val dir = lake.quarantineDir(sourceEpoch)
    require(new java.io.File(dir).isDirectory,
      s"no quarantined rows for epoch $sourceEpoch at $dir")
    // Rows quarantined POST-transform (the transform-introduced-key split, or
    // a replay thereof) already carry the rule pipeline's OUTPUT: re-running
    // it would double-apply modifiers (a price*2 run twice) and re-filter rows
    // that already passed. Identified by the marker file (covers replay
    // generations) or the epoch band (covers pre-marker dirs); the pipeline is
    // stripped rather than refused because for these rows stripping IS the
    // faithful replay. Keys follow the table (the post-transform key set).
    // The raw payload invariant (n_tok == size(tokens)) is stripped with the
    // rules: it guards the FEED, and these rows passed it on original ingest —
    // a transform that legitimately rewrote n_tok (the user's explicit rule,
    // authoritative like on the normal path, which never re-checks post-
    // transform) would otherwise re-quarantine every drain attempt, forever.
    // A replay epoch encodes its source arithmetically (REPLAY_EPOCH_BASE +
    // (src+2)*64 + attempt), so post-transform LINEAGE is recoverable even
    // when a crash between a replay's re-quarantine write and the marker
    // write in the finally left the dir unmarked: walk the replay chain back
    // to the original epoch and test ITS band. The walk deliberately does
    // NOT try to decode COMPOSITE values (POST_TRANSFORM_EPOCH_BASE + a
    // replay epoch — the step-2b dir written during a replay): composites
    // overlap the replay value range at depth ≥ 2, so no arithmetic can
    // separate them — instead step-2b writes those dirs MARKER-FIRST
    // (LakeTable.writeQuarantine), leaving no unmarked-data crash window to
    // recover from. Depth-bounded — each replay level multiplies
    // the epoch by 64, so 8 levels is already beyond Long range.
    def postTransformLineage(e: Long): Boolean = {
      var cur = e
      var depth = 0
      while (cur >= REPLAY_EPOCH_BASE && depth < 8) {
        cur = (cur - REPLAY_EPOCH_BASE) / 64 - 2; depth += 1
      }
      // a chain rooted at the FULL-LOAD sentinel is post-transform too: its
      // snapshot rows ran the pipeline before their key check, so a replay
      // dir left unmarked by a crash must strip the rules like its source
      (cur >= POST_TRANSFORM_EPOCH_BASE && cur < REPLAY_EPOCH_BASE) ||
        cur == FULL_LOAD_EPOCH
    }
    // The full-load quarantine ([[graft.runner.CdcRunner.fullLoad]]) also
    // holds post-transform rows — the snapshot runs the rule pipeline before
    // its key check — recognized by its sentinel epoch (covers dirs written
    // before any marker existed).
    val postTransform = sourceEpoch == FULL_LOAD_EPOCH ||
      lake.isPostTransform(sourceEpoch) || postTransformLineage(sourceEpoch)
    val effCfg =
      if (!postTransform) cfg
      else {
        if (cfg.filters.nonEmpty || cfg.transforms.nonEmpty)
          System.err.println(s"[graft] replayQuarantine($sourceEpoch): rows " +
            "were quarantined post-transform; the configured filter/transform " +
            "rules are skipped (they already ran before quarantine)")
        cfg.copy(filters = Nil, transforms = Nil,
          keyCols = lake.manifest.keyCols, validatePayload = false)
      }
    val rows0 = fix(lake.readQuarantine(spark, sourceEpoch).drop(QUARANTINE_REASON))
    // Full-load quarantine rows are SNAPSHOT-shaped (no change envelope) —
    // applyBatch would fail on the missing op/lsn columns. Re-drive them as
    // the INSERTs the original snapshot would have written: lsn 0 and the
    // full-load batch timestamp, so a fixed row lands exactly as if the
    // original load had carried it (same LWW rank, same SCD2 start date).
    // Keyed on the EPOCH, not column presence: only the sentinel dir ever
    // holds envelope-less rows (its replay dirs carry the synthesized
    // envelope), while presence-probing would misfire on a snapshot payload
    // that legitimately contains a column named `op`.
    val rows = if (sourceEpoch != FULL_LOAD_EPOCH) rows0 else snapshotEvents(rows0)
    val replayEpoch = REPLAY_EPOCH_BASE + (sourceEpoch + 2) * 64 + attempt
    // rows re-quarantined from a post-transform source stay post-transform:
    // propagate the marker so the NEXT drain attempt also strips the rules.
    // In a FINALLY, not after the return: applyBatch can throw AFTER the
    // re-quarantine write (stop_if_error fires post-write, a commit
    // conflict) and an unmarked replay dir would hand pipeline OUTPUT to the
    // next drain as raw input (lineage derivation above is the last-resort
    // net for a crash that skips even this)
    try applyBatch(spark, lake, rows, replayEpoch, effCfg)
    finally {
      // best-effort (Try): an IO failure here must not SUPERSEDE the real
      // batch exception in flight — the lineage derivation above still
      // recovers the unmarked dir on the next drain
      if (postTransform) scala.util.Try(lake.markPostTransform(replayEpoch)): Unit
    }
  }

  /** Snapshot rows as the INSERT events of a full load: lsn 0 and the
    * full-load batch timestamp (the rank and SCD2 start date every row of
    * the original load got). */
  private[graft] def snapshotEvents(rows: DataFrame): DataFrame =
    rows.withColumn(ChangeEvent.LSN, lit(0L))
      .withColumn(ChangeEvent.TS, batchTimestamp(FULL_LOAD_EPOCH))
      .withColumn(ChangeEvent.OP, lit(ChangeEvent.INSERT))

  /** Labels the phase's jobs `merge: <label>` in the UI and to listeners
    * (thread-local, guide §1.5 — one setProperty call, negligible); job
    * attribution by phase keys on this label. */
  @inline private def timed[T](label: String)(f: => T): T = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"merge: $label")
    try f
    finally sc.setJobDescription(prev)
  }

  /** Deterministic per-batch "now" (replaces the reference's wall-clock NOW(),
    * SURVEY §7.4.3): derived from the epoch so replay is byte-stable. */
  def batchTimestamp(epoch: Long): Column =
    timestamp_seconds(lit(1700000000L + epoch))

  /** Plan-once seam (guide §3.3 "materialising an intermediate truncates the
    * plan"): compile `df`'s physical plan ONCE and hand every further
    * consumer a LogicalRDD over the compiled RDD. The persisted reduction is
    * consumed by up to three more actions per epoch (delta/sidecar write,
    * CoW merge+write, retry recomputes) and each would otherwise re-run the
    * analyzer/optimizer over the WHOLE upstream tree — source scan, wire
    * parse, rule pipeline — which thread-dump sampling showed to be the
    * largest driver-gap component on wire-fed streams. Data still flows
    * through the persisted cache exactly as before (the RDD reads the
    * InMemoryRelation; an evicted partition recomputes through the original
    * plan), so results and fault behavior are unchanged — only the repeated
    * driver-side re-analysis is gone. Callers must run the FIRST action (the
    * one that resolves observe() metrics) on the original frame. */
  private def planOnce(spark: SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.internalCreateDataFrame(
      spark, df.queryExecution.toRdd, df.schema)

  def applyBatch(
      spark: SparkSession,
      lake: LakeTable,
      batch: DataFrame,
      epoch: Long,
      cfg: JobConfig,
      /** Merged into THIS epoch's commit metrics — rides the same atomic
        * manifest write, so callers can persist their own cursor (e.g.
        * [[graft.lake.LakeSync]]'s synced-source-version offset) exactly-once
        * with the data it accounts for. Summed like every manifest metric. */
      extraMetrics: Map[String, Long] = Map.empty): BatchResult = {

    // exactly-once: a re-delivered epoch is a no-op (idempotent commit)
    if (lake.isCommitted(epoch)) return BatchResult(epoch, skipped = true, Map.empty)

    // loud, named — the invariant expressions below .reduce over the key set
    // and an empty one would surface as a bare `empty.reduce` from deep
    // inside plan construction (e.g. a caller passing a key-less manifest's
    // keyCols straight through)
    require(cfg.keyCols.nonEmpty,
      "applyBatch: cfg.keyCols is empty — LWW/SCD2 merge semantics need at " +
        "least one merge key column")

    // The rule pipeline is compiled HERE, ahead of the quarantine split,
    // because the split must know which key columns SURVIVE the pipeline
    // (filters never change the schema, so compiling against the raw batch
    // schema is exact); step 2 applies the same compile.
    val spec = TableSpec("lake", "t", cfg.keyCols)
    val compiled = TransformCompiler.compile(
      cfg.transforms, spec, batch.schema, batchTimestamp(epoch))
    val keys = compiled.outSpec.keyCols
    require(keys.nonEmpty,
      s"applyBatch: the transform pipeline removed every merge key " +
        s"(pre-transform keys ${cfg.keyCols.mkString(",")}) — add_primary_key " +
        "a replacement or drop the remove_primary_key rule")
    // pre-transform NAMES of the keys that are still merge keys after the
    // pipeline (renames preserve values, so checking the pre-name is exact)
    val renamedPre = cfg.transforms.sortBy(_.priority).foldLeft(cfg.keyCols) {
      case (ks, ModifyColumnName(from, to, _)) => ks.map(k => if (k == from) to else k)
      case (ks, _)                             => ks
    }
    // A pre-transform key REMOVED by remove_primary_key is NOT a key of the
    // table: its null is data, not corruption — the reference keys rows by
    // the FINAL key set only, so quarantining on it would silently diverge.
    // Keys the pipeline INTRODUCES are step 2b's check.
    val checkedKeys = cfg.keyCols.zip(renamedPre).collect {
      case (pre, post) if keys.contains(post) => pre
    }

    // ── 1. quarantine split (DLX analogue): bad op, or payload invariant broken ──
    val opCol = col(ChangeEvent.OP)
    // the tokens/n_tok consistency check only applies to payloads that carry them;
    // branch in Scala — a Column disjunct would still analyze col("tokens")
    val hasTokens = batch.columns.contains("tokens") && batch.columns.contains("n_tok")
    // every disjunct/conjunct below must be DETERMINATE (never NULL): a
    // three-valued invariant silently VANISHES rows — filter(NULL) drops them
    // from `good`, filter(NOT NULL) drops them from `bad`, and the when-sum
    // counts them 0 — neither applied nor quarantined nor failing the batch
    // under quarantine=false. Hence the explicit isNotNull guards: a null op
    // and a null n_tok beside non-null tokens are exactly the malformed-feed
    // rows this split exists to catch.
    val payloadOk =
      if (!hasTokens || !cfg.validatePayload) lit(true)
      else opCol === ChangeEvent.DELETE ||
        (col("tokens").isNotNull && col("n_tok").isNotNull &&
          col("n_tok") === size(col("tokens")))
    val opOk = opCol.isNotNull && opCol.isin(ChangeEvent.OPS.toSeq: _*)
    // a NULL LSN has no place in the LWW order (max_by over a null is
    // engine-defined, not replay semantics) — it is a malformed feed row
    // (a corrupt envelope whose message-level fields nulled out, a hand-made
    // parquet feed missing the column) and quarantines like the rest
    val lsnOk = col(ChangeEvent.LSN).isNotNull
    // a NULL merge key names no row: an INSERT/UPDATE carrying one is
    // malformed input, and its rows would land in the table as a key no
    // lookup can address and no well-formed DELETE can remove. Quarantine.
    // Only the SURVIVING keys (checkedKeys) are checked; when the pipeline
    // replaces the whole key set the raw split has nothing to check.
    val keyOk =
      if (checkedKeys.isEmpty) lit(true)
      else checkedKeys.map(col(_).isNotNull).reduce(_ && _)
    val invariantOk = opOk && lsnOk && keyOk && payloadOk
    // A DELETE carrying NO key at all is a WELL-FORMED protocol message, not
    // a malformed row: logical decoding emits key-less tombstones when the
    // source lacks replica identity, and the reference skips them
    // (no-tuple-data, CDCManager.py:305-307). Skip-and-COUNT here — the one
    // shared choke point for every ingest path (file feed, wal, envelope,
    // kafka) — so the delivery audit still accounts for them; quarantining
    // would pollute the DLX with valid messages, dropping them pre-merge
    // (the old wire-starter filter) made every published tombstone a
    // permanent false positive in deliveryGap. A PARTIAL composite key stays
    // a quarantined invariant violation (null_merge_key) — that row is
    // malformed, not protocol.
    val keylessDelete =
      if (checkedKeys.isEmpty) lit(false)
      else opCol.isNotNull && opCol === ChangeEvent.DELETE &&
        checkedKeys.map(col(_).isNull).reduce(_ && _)
    val isBad = !invariantOk && !keylessDelete
    // Bad-row detection piggybacks on the first scan via observe(): no extra
    // pass over the batch when the feed is clean (the common case). Only when
    // the observed count is non-zero does the quarantine path re-scan.
    val obs = new org.apache.spark.sql.Observation(s"graft-bad-$epoch-${System.nanoTime()}")
    val good = batch
      .observe(obs,
        sum(when(isBad, 1L).otherwise(0L)).as("n_bad"),
        sum(when(keylessDelete, 1L).otherwise(0L)).as("n_skipped"),
        // received = every event entering the merge, BEFORE rule filters and
        // reduction — the consumer half of the reference's published/received/
        // processed counters (stats_message, MessageProducer.py:18-62); the
        // producer half (EnvelopeSource.writeFeed page manifests) diffs
        // against the cumulative metric to detect in-transit loss
        count(lit(1)).as("n_received"))
      .filter(invariantOk)
    lazy val bad = batch.filter(isBad)
    // invoked after the mode's first action (observation complete, pre-commit);
    // returns (quarantined, received, skipped) for metrics. Rare path re-scans
    // the batch.
    val onStats: () => (Long, Long, Long) = () => {
      val observed = obs.get
      // AQE reads observed metrics from the FINAL physical plan: when EVERY
      // row of the batch quarantines/filters away, empty-stage propagation can
      // replace the subtree holding the CollectMetrics node and the metrics
      // vanish (empty map) even though the rows were scanned — which would
      // silently drop an all-bad batch with no quarantine and undercount
      // events_received in the delivery audit. Recount directly in that case;
      // the batch reduced to nothing, so one extra scan is the audit's cost.
      val (nReceived, nBad, nSkipped) =
        if (observed.nonEmpty) (
          observed.get("n_received").collect { case v: Long => v }.getOrElse(0L),
          // n_bad/n_skipped are null for an empty batch (sum over zero rows)
          observed.get("n_bad").collect { case v: Long => v }.getOrElse(0L),
          observed.get("n_skipped").collect { case v: Long => v }.getOrElse(0L))
        else {
          val r = batch.agg(
            count(lit(1)).as("n_received"),
            sum(when(isBad, 1L).otherwise(0L)).as("n_bad"),
            sum(when(keylessDelete, 1L).otherwise(0L)).as("n_skipped")).head()
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
            if (r.isNullAt(2)) 0L else r.getLong(2))
        }
      if (nBad > 0) {
        // quarantine=false means "bad rows fail the batch" (JobConfig contract),
        // NOT "skip detection" — detection always runs, only routing differs
        if (!cfg.quarantine)
          throw new IllegalStateException(
            s"$nBad invalid event(s) in epoch $epoch and quarantine is disabled")
        val badByOp = timed("quarantine-scan")(bad.groupBy(ChangeEvent.OP).count().collect())
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        // per-row failure reason rides with the quarantined row (the
        // reference's apply_exceptions stores the row + exception message,
        // Metadata/Query.py:66-81) — when 3 ops fail for 3 different reasons,
        // the operator can tell which was which and fix selectively
        val reason = when(!opOk,
            concat(lit("unknown_op: "), coalesce(opCol, lit("null"))))
          .when(!lsnOk, lit("null_lsn: every change event must carry an LSN " +
            "(LWW ordering is undefined without one)"))
          .when(!keyOk, lit("null_merge_key: " +
            s"key column(s) ${checkedKeys.mkString(",")} must be non-null"))
          .otherwise(lit("payload_invariant: tokens null or n_tok != size(tokens)"))
        lake.writeQuarantine(bad.withColumn(QUARANTINE_REASON, reason), epoch)
        // per-op stop-or-continue flags — reference: stop_if_*_error
        // (trempy/Tasks/Task.py:43-99, CDCOperationsHandler.py:783-801)
        val p = cfg.errorPolicy
        def stop(op: String, flag: Boolean): Unit =
          if (flag && badByOp.getOrElse(op, 0L) > 0)
            throw new IllegalStateException(
              s"stop_if_error: ${badByOp(op)} bad $op event(s) in epoch $epoch " +
                s"(quarantined at ${lake.quarantineDir(epoch)})")
        stop(ChangeEvent.INSERT, p.stopOnInsertError || p.stopOnUpsertError || p.stopOnScd2Error)
        stop(ChangeEvent.UPDATE, p.stopOnUpdateError || p.stopOnUpsertError || p.stopOnScd2Error)
        stop(ChangeEvent.DELETE, p.stopOnDeleteError)
        // deliberate timeout evictions (ORPHANED_OP_PREFIX) never escalate —
        // see the constant's doc: stopping on one wedges the stream forever.
        // (the key set can hold null: corrupt rows group under op = NULL)
        val unknownOps = (badByOp.keySet -- ChangeEvent.OPS)
          .filterNot(op => op != null && op.startsWith(ORPHANED_OP_PREFIX))
        if (unknownOps.nonEmpty && p.stopsOnAnyError)
          throw new IllegalStateException(
            s"stop_if_error: unknown op(s) $unknownOps in epoch $epoch")
      }
      (nBad, nReceived, nSkipped)
    }

    // ── 2. rule pipeline: filters (DELETE passthrough) then transforms ──
    // (compiled above, ahead of step 1, so the split knows the key fate)
    val filtered =
      if (cfg.filters.isEmpty) good
      else good.filter(FilterCompiler.cdcPredicate(cfg.filters, good.schema, opCol))
    val transformed = compiled.apply(filtered)

    // ── 2b. post-transform key check: (a) keys INTRODUCED by the rule
    // pipeline (add_primary_key, a created key) escape the step-1 split,
    // which can only check the PRE-transform key set; (b) a SURVIVING key
    // whose VALUE a modifier nulled (math_expression 1/0 under non-ANSI
    // Divide, a format miss) escapes it too — "renames preserve values"
    // covers renames only. A null key on INSERT/UPDATE is malformed input
    // for the same reason as the raw null_merge_key guard: it names no row.
    // DELETEs keep flowing: the routing contract folds key-only DELETEs by
    // whatever key they carry, and a null-key tombstone is invisible to
    // public reads on every storage strategy (driver-oracled by
    // q_multitable_routing's remove/add_primary_key route). Checking every
    // final key costs nothing extra (one fused observe scan) and cannot
    // double-quarantine: raw nulls on pre-checked keys already left in
    // step 1, so this predicate only fires on transform-produced nulls.
    val introduced = if (cfg.transforms.isEmpty) Nil else keys
    // Like step 1, detection piggybacks on the merge's first scan via
    // observe() — an eager count() here would re-evaluate the whole batch
    // pipeline once per epoch just to learn n==0 in the common clean case.
    // The filter always applies (fused into the same scan); only a non-zero
    // count pays the quarantine re-scan. Resolution happens pre-commit via
    // the by-name extraMetrics the modes thread into mergeChanges.
    val (mergeInput, postStats) =
      if (introduced.isEmpty)
        (transformed, () => Map.empty[String, Long])
      else {
        val nullKey = introduced.map(col(_).isNull).reduce(_ || _) &&
          opCol =!= ChangeEvent.DELETE
        val postObs = new org.apache.spark.sql.Observation(
          s"graft-postbad-$epoch-${System.nanoTime()}")
        val observed = transformed.observe(postObs,
          // count(when), not sum(when): count never returns null on an empty
          // frame, so the clean-empty case needs no special-casing
          count(when(nullKey, lit(1))).as("n_post_bad"))
        val resolve = () => {
          // same AQE caveat as step 1: an all-pruned plan can drop the
          // CollectMetrics node — recount directly in that rare case
          val n = postObs.get.get("n_post_bad").collect { case v: Long => v }
            .getOrElse(transformed.filter(nullKey).count())
          if (n == 0) Map.empty[String, Long]
          else {
            if (!cfg.quarantine)
              throw new IllegalStateException(
                s"$n event(s) with null post-transform merge key(s) " +
                  s"${introduced.mkString(",")} in epoch $epoch and quarantine " +
                  "is disabled")
            // POST-transform rows can't share the raw quarantine dir (different
            // schema); a marker-offset epoch keeps them browsable + drainable,
            // and the marker file (written marker-first, see
            // LakeTable.writeQuarantine) tells the drain NOT to re-run the
            // rules. During a replay, `epoch` here is a replay epoch and this
            // composite value is arithmetically ambiguous — the marker is the
            // ONLY signal for these dirs (see postTransformLineage in
            // replayQuarantine).
            lake.writeQuarantine(transformed.filter(nullKey)
              .withColumn(QUARANTINE_REASON, lit("null_merge_key: " +
                s"post-transform key(s) ${introduced.mkString(",")} must " +
                "be non-null for INSERT/UPDATE (rows are POST-transform)")),
              POST_TRANSFORM_EPOCH_BASE + epoch, postTransform = true)
            Map("events_quarantined_post_transform" -> n)
          }
        }
        (observed.filter(!nullKey), resolve)
      }

    mergeEvents(spark, lake, mergeInput, epoch, cfg, keys, onStats,
      postStats() ++ extraMetrics)
  }

  /** Adaptive-salt sizing for a copy-on-write rewrite of `affectedC`: merged
    * rows per bucket ≤ base rows (exact manifest footer counts) + change
    * rows (the stats collect); a stats-less file (rows = -1) degrades to
    * unknown = full salt. */
  private def mergedMaxRows(mAt: Manifest, affectedC: Set[Int],
      changeRowsByBucket: Map[Int, Long]): Long = {
    val fs = mAt.files.filter(f => affectedC.exists(b => b % f.spec == f.bucket))
    if (fs.exists(_.rows < 0)) Long.MaxValue
    else {
      val baseRows = scala.collection.mutable.Map.empty[Int, Long]
        .withDefaultValue(0L)
      fs.foreach(f => f.coveredBuckets(mAt.buckets).foreach { b =>
        if (affectedC.contains(b)) baseRows(b) += f.rows })
      affectedC.iterator
        .map(b => baseRows(b) + changeRowsByBucket.getOrElse(b, 0L)).max
    }
  }

  /**
   * Both merge modes' prefix: align the events to the table's payload, then
   * per-key LWW reduction (dedup by (key, lsn), keep the max-lsn record) for
   * a last-writer-wins table. An SCD2 table keeps every event, each one a
   * version row: the copy-on-write merge rebuilds the chain of every key in
   * the affected buckets from the union of stored rows and new events, so a
   * late event splices into its correct historical position instead of
   * corrupting the chain (the reference's row-serial close-then-insert,
   * CDCOperationsHandler.py:216-277, assumes ordered arrival).
   *
   * The reduce's groupBy does map-side partial aggregation: a hot key
   * contributes at most one row per map task to the shuffle (skew-safe
   * without salting).
   */
  private def mergeEvents(
      spark: SparkSession,
      lake: LakeTable,
      events: DataFrame,
      epoch: Long,
      cfg: JobConfig,
      keys: Seq[String],
      onStats: () => (Long, Long, Long),
      extraMetrics: => Map[String, Long]): BatchResult = {
    val m = lake.manifest
    val aligned = StoredRows.align(events, m)
    val changes =
      if (m.tableMode == Manifest.SCD2) aligned
      else {
        val packed = struct(aligned.columns.filterNot(keys.contains).map(col): _*)
        aligned
          .groupBy(keys.map(col): _*)
          .agg(max_by(packed, col(ChangeEvent.LSN)).as("_r"))
          .select(keys.map(col) :+ col("_r.*"): _*)
      }
    val bucketed = changes.withColumn("_bucket", lake.bucketExpr(keys, m.buckets))
    mergeChanges(spark, lake, m, bucketed, epoch, cfg, keys, onStats, extraMetrics)
  }

  /**
   * The tail both modes share after their prefix: `events` is the mode's
   * bucketed change set (the LWW reduction, or the aligned SCD2 events), and
   * its stored rows ([[StoredRows.fromEvents]]) are the merge-on-read delta
   * commit, the copy-on-write change sidecar and the copy-on-write merge's
   * incoming side alike.
   *
   * The copy-on-write merge is one rule for both modes: union the pinned
   * base rows of the affected buckets with the change rows, hash them ONCE
   * on the write's (bucket, salt) key — both functions of the merge keys, so
   * every partition is key-complete — fold each partition with the stored-row
   * fold reads use ([[LakeTable.resolveStored]]: the max-`_lsn` winner, or
   * the SCD2 chain rebuild), and write. The LSN decides, so re-ordered or
   * re-delivered batches cannot regress the table to an older version, and a
   * DELETE's tombstone (`_deleted`) out-ranks a late older INSERT instead of
   * letting it resurrect the key. Public reads filter tombstones
   * (LakeTable.read); compaction/vacuum carry them until GC'd.
   *
   * OPTIMISTIC AND PINNED: the base is read at the SAME snapshot the commit
   * declares as its readVersion, so a concurrent DATA commit into an
   * overlapping bucket (a quarantine drain, a maintenance rewrite, another
   * sync job from a second JVM) raises ConcurrentCommitException instead of
   * being silently folded over — [[retryCow]] then recomputes the attempt
   * from the fresh head (bounded), exactly the published lake formats'
   * optimistic write loop.
   */
  private def mergeChanges(
      spark: SparkSession,
      lake: LakeTable,
      m: Manifest,
      events: DataFrame,
      epoch: Long,
      cfg: JobConfig,
      keys: Seq[String],
      onStats: () => (Long, Long, Long),
      extraMetrics: => Map[String, Long]): BatchResult = {
    val cached = events.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // one small job on the cached change set yields op metrics AND affected
      // buckets — the FIRST action, on the original frame, so the fused
      // observe() metrics resolve here
      val stats = timed("reduce+stats")(
        cached.groupBy("_bucket", ChangeEvent.OP).count().collect())
      def sums[K](key: Row => K): Map[K, Long] =
        stats.groupBy(key).map { case (k, rows) => k -> rows.map(_.getLong(2)).sum }
      val opCounts = sums(_.getString(1))
      // its keys are the affected buckets; its values size the adaptive salt
      val changeRowsByBucket = sums(_.getInt(0))
      // every FURTHER consumer (delta/sidecar write, the CoW merge) plans over
      // the compiled change set instead of re-analyzing the whole
      // source→parse→rules tree per action
      val changes = planOnce(spark, cached)
      def changeRows = StoredRows.fromEvents(changes, m, keys)

      // LAZY, evaluated once, always PRE-commit: onStats blocks on the
      // observation listener, and the shared listener bus lags behind the
      // thousands of task events a bulk epoch just posted — resolving it
      // AFTER the epoch's write job lets the bus drain in the shadow of real
      // work instead of stalling the driver between jobs (a fixed cost that
      // taxes exactly the high-core wall the scaling pair divides by).
      // extraMetrics is by-name: it carries the post-transform quarantine
      // resolution, which may only run after the first action above.
      lazy val metrics: Map[String, Long] = timed("stats-resolve") {
        val (nQuarantined, nReceived, nSkipped) = onStats()
        val extra = extraMetrics
        Map(
          "batches" -> 1L,
          "events_quarantined" -> nQuarantined,
          "events_received" -> receivedDelta(epoch, nReceived),
          "applied_inserts" -> opCounts.getOrElse(ChangeEvent.INSERT, 0L),
          "applied_updates" -> opCounts.getOrElse(ChangeEvent.UPDATE, 0L),
          "applied_deletes" -> opCounts.getOrElse(ChangeEvent.DELETE, 0L)) ++
          // key present only when non-zero: a clean feed's manifests stay lean
          (if (nSkipped > 0) Map("skipped_keyless_deletes" -> nSkipped)
           else Map.empty[String, Long]) ++
          extra
      }
      if (changeRowsByBucket.isEmpty) {
        // an empty batch still commits (and still carries extraMetrics): a
        // sync window whose changes all reduce away must advance its cursor.
        // A feed-recording CoW table still plants the durable `changes/_feed`
        // marker — it must exist from the FIRST feed-enabled epoch, or an
        // all-quarantined first batch leaves recordsChangeFeed false and the
        // later drain defaults to a sidecar-less commit that wedges every
        // changeLog window spanning it. Marker only, no sidecar: changeLog
        // never demands a sidecar from a file-less commit.
        if (cfg.changeFeed && cfg.merge != MergeStrategy.MergeOnRead)
          lake.enableChangeFeed()
        lake.commit(epoch, Nil, Set.empty, metrics)
        return BatchResult(epoch, skipped = false, metrics)
      }
      if (cfg.merge == MergeStrategy.MergeOnRead) {
        // merge-on-read: the change rows ARE the commit — per-bucket delta
        // files, no base read, no fold, no bucket rewrite; O(batch) bytes per
        // epoch regardless of how many buckets the batch touches
        val files = timed("delta-write")(
          writeEpoch(spark, lake, changeRows, epoch, m, kind = DataFile.DELTA,
            maxRowsPerBucket = changeRowsByBucket.values.max))
        val morMetrics = metrics + ("delta_commits" -> 1L)
        timed("commit")(lake.commit(epoch, files, Set.empty, morMetrics))
        return BatchResult(epoch, skipped = false, morMetrics)
      }
      // a stop_if_*_error flag can fail the batch from its stats: resolve
      // them now, so a poisoned batch throws before the copy-on-write
      // merge+write, the epoch's most expensive job (see `metrics` for why
      // a clean run resolves them only after that write)
      if (cfg.errorPolicy.stopsOnAnyError) metrics

      // CoW change sidecar (LakeTable.changeLog's CDC-out source for CoW
      // tables) — written BEFORE the commit so a committed epoch always has
      // its change set; a crash in between leaves an orphan sidecar the
      // retried epoch overwrites
      if (cfg.changeFeed)
        timed("change-sidecar")(
          lake.writeChangeSet(changeRows.drop("_bucket"), epoch, m.currentSchemaId))

      def cowAttempt(mAt: Manifest): BatchResult = {
        // closure-expanded: after a rescale a coarser pre-split file covers
        // sibling buckets too, which must be read and rewritten together
        val affectedC = lake.bucketClosure(mAt, changeRowsByBucket.keySet)
        val incoming = changeRows
        val base = lake.readBuckets(spark, affectedC, Some(mAt))
          .withColumn("_bucket", lake.bucketExpr(keys, m.buckets))
        val merged = base.select(incoming.columns.map(col): _*).unionByName(incoming)
        val files = timed("merge+write")(writeEpoch(spark, lake, merged, epoch, mAt,
          maxRowsPerBucket = mergedMaxRows(mAt, affectedC, changeRowsByBucket),
          foldKeys = Some(keys)))
        // metrics resolve HERE, after the epoch's write job — the observe
        // listener lag drains in the shadow of the write (see `metrics`)
        val resolved = metrics
        beforeCowCommit()
        timed("commit")(lake.commit(epoch, files, affectedC, resolved,
          readVersion = Some(mAt.version)))
        BatchResult(epoch, skipped = false, resolved)
      }
      retryCow(lake, m, epoch)(cowAttempt)
    } finally cached.unpersist()
  }

  /** Bounded optimistic retry around one pinned CoW merge attempt: on
    * [[graft.lake.ConcurrentCommitException]] the attempt is recomputed from
    * the fresh head — UNLESS the conflict changed something the cached
    * reduction itself depends on (bucket spec, schema), where a retry would
    * mis-bucket or mis-name the rows; those rethrow and the stream replays
    * the batch from the checkpoint against the new table shape. */
  private def retryCow(lake: LakeTable, m0: Manifest, epoch: Long)(
      attempt: Manifest => BatchResult): BatchResult = {
    var mAt = m0
    var tries = 0
    while (true) {
      try return attempt(mAt)
      catch {
        case e: graft.lake.ConcurrentCommitException =>
          tries += 1
          if (tries > 3) throw e
          val fresh = lake.manifest
          if (fresh.buckets != m0.buckets)
            throw new graft.lake.ConcurrentCommitException(
              s"commit(epoch=$epoch): a concurrent rescale changed the bucket " +
                s"spec ${m0.buckets} -> ${fresh.buckets} mid-batch; the batch " +
                s"reduction is bucketed at the old spec — replay the batch " +
                s"(cause: ${e.getMessage})")
          if (fresh.currentSchemaId != m0.currentSchemaId)
            throw new graft.lake.ConcurrentCommitException(
              s"commit(epoch=$epoch): the schema evolved concurrently " +
                s"(id ${m0.currentSchemaId} -> ${fresh.currentSchemaId}) " +
                s"mid-batch; the merge frame carries the old column set — " +
                s"replay the batch (cause: ${e.getMessage})")
          mAt = fresh
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Test seam: runs after a CoW attempt's files are written, right before
    * its pinned commit — specs use it to interleave a conflicting external
    * commit deterministically. No-op in production. */
  private[graft] var beforeCowCommit: () => Unit = () => ()

  /** Bucket-partitioned epoch write. The epoch dir is overwritten wholesale on a
    * task/batch retry, keeping (epoch, partition) file sets idempotent.
    *
    * The shuffle key is (bucket, small salt): a plain repartition(bucket) hashes
    * whole buckets onto shuffle.partitions slots — at low bucket:core ratios the
    * Poisson collisions leave cores idle and a hot (zipf) bucket becomes one
    * straggler task. The salt splits each bucket across up to WRITE_SALT tasks
    * (bounded: ≤ WRITE_SALT files per bucket per epoch).
    *
    * Salt input = ALL merge-key columns (hashing only the first schema field
    * would collapse the salt whenever that field isn't part of a composite
    * key), plus `_lsn` for scd2 version rows so one hot key's version HISTORY
    * — many rows, same key — spreads across salt tasks too.
    *
    * `foldKeys` (the copy-on-write merge) folds each partition with
    * [[LakeTable.resolveStored]] between the exchange and the write. The
    * salt then hashes those keys only — never `_lsn` — so every partition
    * holds all of a key's rows: the exchange that spreads the write is also
    * the one that groups the fold. Only writes that do not fold (SCD2 delta
    * writes, a sync mirror) spread a key's history over salt tasks.
    *
    * `maxRowsPerBucket` (when the caller knows it — merge stats + manifest
    * footer counts) sizes the salt ADAPTIVELY: a bucket under
    * [[writeSaltRowsPerTask]] rows needs no splitting, so a small epoch
    * writes one file per bucket instead of WRITE_SALT — 4× fewer files to
    * write, footer-read, track in manifests and later compact — while a
    * bucket past the threshold still fans out to the full salt. Unknown
    * (Long.MaxValue) keeps the conservative full salt: the full load — the
    * biggest write of a table's life — stays maximally spread. */
  private val WRITE_SALT = 4
  /** Rows one write task is allowed before the salt splits its bucket. */
  private val WRITE_SALT_ROWS_PER_TASK = 2000000L
  /** Test seam: the threshold [[writeEpoch]] salts against — specs lower it
    * so a tiny batch still fans out to the full salt. Always
    * [[WRITE_SALT_ROWS_PER_TASK]] in production. */
  private[graft] var writeSaltRowsPerTask: Long = WRITE_SALT_ROWS_PER_TASK
  private[graft] def writeEpoch(
      spark: SparkSession,
      lake: LakeTable,
      rows: DataFrame,
      epoch: Long,
      m: Manifest,
      kind: String = DataFile.BASE,
      maxRowsPerBucket: Long = Long.MaxValue,
      foldKeys: Option[Seq[String]] = None): Seq[DataFile] = {
    val keyCols =
      if (m.keyCols.nonEmpty) m.keyCols else Seq(m.currentSchema.fields.head.name)
    val saltCols = foldKeys.getOrElse(keyCols ++
      (if (m.tableMode == Manifest.SCD2 && rows.columns.contains("_lsn"))
        Seq("_lsn") else Nil))
    val salt =
      if (maxRowsPerBucket >= writeSaltRowsPerTask * WRITE_SALT) WRITE_SALT
      else math.max(1L,
        (maxRowsPerBucket + writeSaltRowsPerTask - 1) / writeSaltRowsPerTask).toInt
    val keyed =
      if (salt <= 1) rows.repartition(col("_bucket"))
      else rows
        // extra lit distinguishes the salt hash from the bucket hash (which
        // also hashes the keys — salt would otherwise be a pure function of
        // bucket)
        .withColumn("_wsalt",
          pmod(xxhash64(saltCols.map(col) :+ lit(7919): _*), lit(salt)))
        .repartition(col("_bucket"), col("_wsalt"))
        .drop("_wsalt")
    lake.writeEpochFiles(foldKeys.fold(keyed)(lake.resolveStored(keyed, m, _)), epoch, m, kind)
  }
}
