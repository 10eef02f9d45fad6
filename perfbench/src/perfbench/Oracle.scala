package perfbench

import graft.model.{ChangeEvent, FileState, Op}
import graft.state.FileStateFSM

/** Driver-side reference for the correctness checks: a plain sequential
  * loop of `FileStateFSM.transition` over the generated events. It shares
  * no Spark plan, state store, decoder or persistence with the paths under
  * test. */
object Oracle {

  /** Fold events, in the order given, per path. */
  def fold(events: Iterator[ChangeEvent]): Map[String, FileState] = {
    val m = new java.util.HashMap[String, FileState]()
    events.foreach { e =>
      val st = m.get(e.path) match {
        case null => FileState(e.path)
        case s => s
      }
      m.put(e.path, FileStateFSM.transition(st, e))
    }
    import scala.jdk.CollectionConverters._
    m.asScala.toMap
  }

  /** The rename rewrite the batch replay applies, restated here: every
    * txId moves to a ×4 grid; a rename becomes delete(src) @4t,
    * add(dst) @4t+1, append(dst, size) @4t+2, close(dst) @4t+3. */
  def renameRewrite(events: Seq[ChangeEvent]): Seq[ChangeEvent] =
    events.flatMap { e =>
      if (e.op == Op.RenameFile && e.srcPath.nonEmpty) Seq(
        e.copy(op = Op.DeleteFile, path = e.srcPath, srcPath = "", sizeCents = 0,
          txId = 4 * e.txId),
        e.copy(op = Op.AddFile, srcPath = "", sizeCents = 0, txId = 4 * e.txId + 1),
        e.copy(op = Op.AppendFile, srcPath = "", txId = 4 * e.txId + 2),
        e.copy(op = Op.CloseFile, srcPath = "", sizeCents = 0, txId = 4 * e.txId + 3))
      else Seq(e.copy(txId = 4 * e.txId))
    }

  /** Batch-replay reference: rename rewrite, then a per-path fold in txId
    * order (a stable sort keeps equal-txId duplicates in arrival order). */
  def replay(events: Seq[ChangeEvent]): Map[String, FileState] =
    fold(renameRewrite(events).sortBy(_.txId).iterator)

  /** Compare an observed state table with the reference; returns the
    * number of paths that differ (missing, extra or unequal). */
  def mismatches(observed: Iterable[FileState],
      expected: Map[String, FileState]): Long = {
    val obs = observed.map(s => s.path -> s).toMap
    val keys = obs.keySet ++ expected.keySet
    keys.count { k =>
      (obs.get(k), expected.get(k)) match {
        case (Some(a), Some(b)) => !same(a, b)
        case _ => true
      }
    }.toLong
  }

  private def same(a: FileState, b: FileState): Boolean =
    a.copy(blocks = Nil) == b.copy(blocks = Nil) &&
      Option(a.blocks).getOrElse(Nil).toVector ==
        Option(b.blocks).getOrElse(Nil).toVector
}
