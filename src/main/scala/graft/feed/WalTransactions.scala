package graft.feed

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Reassembles test_decoding transactions across micro-batches in Spark's
 * per-key operator state, versioned with the offset log. A producer may cut
 * files mid-transaction and `maxFilesPerTrigger` can cut a micro-batch
 * between them, so a line waits here, keyed by its transaction
 * ([[WalParser.txnOf]]), until its COMMIT arrives.
 *
 * A transaction still uncommitted `maxAge` batches after its first line is
 * evicted whole: its lines leave flagged `_orphan`, with a synthesized COMMIT
 * (lsn −1) so the parse decodes them and marks their op for quarantine. The
 * xid then keeps an evicted mark for [[markBatches]] batches, and its later
 * lines, the COMMIT included, leave flagged too: never torn across lake state
 * and quarantine. Age counts batches because the processing-time timeout is
 * re-armed at 1 ms on every visit, and the runner turns no-data batches off
 * (`CdcRunner.launch`), so each data batch visits every xid holding state.
 */
object WalTransactions {

  /** A raw slot row as the operator carries it: file sources read every
    * column nullable, and a corrupt slot row does carry nulls. */
  case class Line(lsn: Option[Long], xid: Option[Long], data: String)

  case class Keyed(txn: Long, line: Line)

  /** Buffered lines and their age in batches, or an evicted mark and its
    * age (`lines` empty). */
  case class TxnState(lines: Seq[Line], age: Int, evicted: Boolean)

  /** A line released to the parse; `_orphan` marks an evicted transaction. */
  case class Released(lsn: Option[Long], xid: Option[Long], data: String, _orphan: Boolean)

  /** Group key of lines with no recoverable transaction (a null xid on
    * anything but a `COMMIT <xid>` line): they never wait. */
  val NoTxn: Long = Long.MinValue

  /** Batches an evicted mark is kept: 64 orphan windows, past any plausible
    * straggler and far before a wrapped 32-bit xid reuses the number. */
  def markBatches(maxAge: Int): Long = if (maxAge > 0) maxAge.toLong * 64 else 1024L

  /** One visit of transaction `txn`: its state before this batch and the
    * lines this batch brought it (none on a timeout visit) give its state
    * after the batch and the lines released to the parse. */
  def step(maxAge: Int)(txn: Long, state: Option[TxnState], lines: Seq[Line])
      : (Option[TxnState], Seq[Released]) = {
    def release(ls: Seq[Line], orphan: Boolean) =
      ls.map(l => Released(l.lsn, l.xid, l.data, orphan))
    def orphaned(ls: Seq[Line]) =
      if (ls.isEmpty) Nil
      else release(ls :+ Line(Some(-1L), Some(txn), s"COMMIT $txn"), orphan = true)
    // a null-data line is a corrupt slot row the parse quarantines as it is
    val (unreadable, waiting) = lines.partition(_.data == null)
    val committed = waiting.exists(l => WalParser.isCommitLine(l.data))
    def arrive: (Option[TxnState], Seq[Released]) =
      if (waiting.isEmpty || committed || txn == NoTxn) (None, release(waiting, orphan = false))
      else (Some(TxnState(waiting, 0, evicted = false)), Nil)
    val (next, out) = state match {
      case None => arrive
      case Some(s) if s.evicted =>
        if (s.age + 1L >= markBatches(maxAge)) arrive
        else (Some(s.copy(age = s.age + 1)), orphaned(waiting))
      case Some(s) =>
        val all = s.lines ++ waiting
        if (committed) (None, release(all, orphan = false))
        else if (maxAge > 0 && s.age + 1 >= maxAge)
          (Some(TxnState(Nil, 0, evicted = true)), orphaned(all))
        else (Some(TxnState(all, s.age + 1, evicted = false)), Nil)
    }
    (next, release(unreadable, orphan = false) ++ out)
  }

  /** The raw `(lsn, xid, data)` stream with every line held until its
    * transaction commits or is evicted: `(lsn, xid, data, _orphan)`. */
  def assemble(raw: DataFrame, maxAge: Int): DataFrame = {
    import raw.sparkSession.implicits._
    raw.select(coalesce(WalParser.txnOf, lit(NoTxn)).as("txn"),
        struct(col("lsn"), col("xid"), col("data")).as("line"))
      .as[Keyed].groupByKey(_.txn)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (txn: Long, keyed: Iterator[Keyed], gs: GroupState[TxnState]) =>
          val (next, out) = step(maxAge)(txn, gs.getOption, keyed.map(_.line).toSeq)
          next match {
            case Some(s) => gs.update(s); gs.setTimeoutDuration(1L)
            case None    => if (gs.exists) gs.remove()
          }
          out.iterator
      }.toDF()
  }
}
