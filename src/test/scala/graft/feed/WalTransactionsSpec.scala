package graft.feed

import org.scalatest.funsuite.AnyFunSuite

import graft.feed.WalTransactions.{Line, NoTxn, Released, TxnState}

/** The per-transaction transition of [[WalTransactions]], driven as a pure
  * function: no stream, no state store. `visit` folds one batch per element
  * of `batches` (an empty batch is a timeout visit) and returns the state
  * after each batch with the lines it released. */
class WalTransactionsSpec extends AnyFunSuite {

  private val xid = 7L
  private def dml(lsn: Long) = Line(Some(lsn), Some(xid), s"table s.t: INSERT: id[integer]:$lsn")
  private val begin = Line(Some(1L), Some(xid), s"BEGIN $xid")
  private val commit = Line(Some(99L), Some(xid), s"COMMIT $xid")

  private def visit(maxAge: Int, batches: Seq[Seq[Line]], from: Option[TxnState] = None)
      : Seq[(Option[TxnState], Seq[Released])] =
    batches.scanLeft((from, Seq.empty[Released])) { case ((s, _), ls) =>
      WalTransactions.step(maxAge)(xid, s, ls)
    }.tail

  private def synthCommit = Released(Some(-1L), Some(xid), s"COMMIT $xid", _orphan = true)

  test("a transaction first seen in batch k is evicted whole in batch k + N") {
    val n = 3
    val runs = visit(n, Seq(Seq(begin, dml(2)), Seq(dml(3)), Nil, Nil, Nil))
    // batches k .. k+N-1 release nothing and keep the lines waiting
    runs.take(n).foreach { case (s, out) =>
      assert(out.isEmpty)
      assert(s.exists(!_.evicted))
    }
    assert(runs(1)._1.get.lines == Seq(begin, dml(2), dml(3)))
    val (s, out) = runs(n)
    assert(s.contains(TxnState(Nil, 0, evicted = true)))
    assert(out == Seq(begin, dml(2), dml(3)).map(l =>
      Released(l.lsn, l.xid, l.data, _orphan = true)) :+ synthCommit)
    // a mark releases nothing on a visit that brings no lines
    assert(runs(n + 1) == ((Some(TxnState(Nil, 1, evicted = true)), Nil)))
  }

  test("a COMMIT arriving in the eviction batch wins: the txn applies") {
    val runs = visit(2, Seq(Seq(begin, dml(2)), Nil, Seq(dml(3), commit)))
    val (s, out) = runs(2)
    assert(s.isEmpty)
    assert(out.map(_.data) == Seq(begin, dml(2), dml(3), commit).map(_.data))
    assert(out.forall(!_._orphan))
  }

  test("a late line of an evicted txn, its COMMIT included, is released orphan") {
    val mark = Some(TxnState(Nil, 5, evicted = true))
    val (s, out) = WalTransactions.step(2)(xid, mark, Seq(dml(3), commit))
    assert(s.contains(TxnState(Nil, 6, evicted = true)))
    assert(out == Seq(dml(3), commit).map(l =>
      Released(l.lsn, l.xid, l.data, _orphan = true)) :+ synthCommit)
  }

  test("an evicted mark expires after N × 64 visits; then a new line waits normally") {
    val n = 2
    val keep = WalTransactions.markBatches(n)
    assert(keep == 128L)
    val last = Some(TxnState(Nil, (keep - 2).toInt, evicted = true))
    // visit keep-1 still honours the mark ...
    val (s1, out1) = WalTransactions.step(n)(xid, last, Seq(dml(3)))
    assert(s1.contains(TxnState(Nil, (keep - 1).toInt, evicted = true)))
    assert(out1.nonEmpty && out1.forall(_._orphan))
    // ... visit keep drops it: the line waits as a fresh transaction
    val (s2, out2) = WalTransactions.step(n)(xid, s1, Seq(dml(4)))
    assert(s2.contains(TxnState(Seq(dml(4)), 0, evicted = false)))
    assert(out2.isEmpty)
    // an expiring mark with no lines leaves no state
    assert(WalTransactions.step(n)(xid, s1, Nil) == ((None, Nil)))
  }

  test("null-data lines never wait, whatever the txn's state") {
    val corrupt = Line(Some(5L), Some(xid), null)
    val fresh = WalTransactions.step(2)(xid, None, Seq(corrupt, dml(2)))
    assert(fresh == ((Some(TxnState(Seq(dml(2)), 0, evicted = false)),
      Seq(Released(Some(5L), Some(xid), null, _orphan = false)))))
    val alone = WalTransactions.step(2)(xid, None, Seq(corrupt))
    assert(alone == ((None, Seq(Released(Some(5L), Some(xid), null, _orphan = false)))))
    val pending = Some(TxnState(Seq(dml(2)), 0, evicted = false))
    val (s, out) = WalTransactions.step(2)(xid, pending, Seq(corrupt))
    assert(s.contains(TxnState(Seq(dml(2)), 1, evicted = false)))
    assert(out == Seq(Released(Some(5L), Some(xid), null, _orphan = false)))
    // lines with no recoverable transaction pass straight through
    val stray = Line(Some(6L), None, "table s.t: INSERT: id[integer]:6")
    assert(WalTransactions.step(2)(NoTxn, None, Seq(stray)) ==
      ((None, Seq(Released(Some(6L), None, stray.data, _orphan = false)))))
  }

  test("walOrphanEpochs = 0 never evicts but honours an existing mark") {
    val runs = visit(0, Seq(Seq(begin, dml(2))) ++ Seq.fill(2000)(Nil))
    assert(runs.forall(_._2.isEmpty))
    assert(runs.last._1.contains(TxnState(Seq(begin, dml(2)), 2000, evicted = false)))
    assert(WalTransactions.markBatches(0) == 1024L)
    val mark = Some(TxnState(Nil, 3, evicted = true))
    val (s, out) = WalTransactions.step(0)(xid, mark, Seq(dml(3), commit))
    assert(s.contains(TxnState(Nil, 4, evicted = true)))
    assert(out.nonEmpty && out.forall(_._orphan))
  }
}
