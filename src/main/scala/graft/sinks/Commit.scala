package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * The one replace-and-recover protocol behind every in-place swap:
 * TableSink mutations, Snapshot manifest/tag flips and erasures, and
 * ANN index-cell vacuums. Each target (file or directory) has ONE fixed
 * residue pair `tmp`/`bak`, chosen by its caller. [[replace]]: the
 * caller has fully written `tmp`; `target` moves to `bak` (when there
 * is one), `tmp` moves to `target` (on failure `bak` moves back), and
 * `bak` is dropped. A crash anywhere leaves a state [[recover]] maps to
 * exactly the pre- or the post-state by one rule:
 *  - `target` present: the swap finished or never started — drop any
 *    `tmp`/`bak`;
 *  - `target` absent, `tmp` present: roll FORWARD — `tmp` is complete
 *    by construction, being fully written before `target` moved;
 *  - `target` absent, only `bak` present: roll BACK.
 * Callers recover before they look at the target, so the call after a
 * crash sees the target, never its absence; with the pair fixed, that
 * costs a few metadata calls on known paths, no listing, no Spark job.
 * The target always moves aside first: Hadoop's local filesystem
 * refuses a rename onto an existing file and nests one onto an existing
 * directory. Renames are atomic on HDFS and local filesystems; object
 * stores emulate them by copy.
 */
object Commit {

  /** What [[recover]] found and did. */
  sealed trait Outcome
  object Outcome {
    /** Target present; which residue halves were dropped. */
    final case class Kept(droppedTmp: Boolean, droppedBak: Boolean) extends Outcome
    case object RolledForward extends Outcome
    case object RolledBack extends Outcome
    /** Neither the target nor any residue exists. */
    case object Absent extends Outcome
  }

  /** Move `from` to the absent `to`, or fail loudly. */
  private[graft] def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"commit: rename $from -> $to failed")

  /** Swap the fully written `tmp` into `target`; [[recover]] the same
   * triple first, since a leftover `bak` would break the first move. */
  def replace(fs: FileSystem, target: Path, tmp: Path, bak: Path): Unit = {
    val had = fs.exists(target)
    if (had) move(fs, target, bak)
    if (!fs.rename(tmp, target)) {
      if (had) fs.rename(bak, target): Unit // roll back; the original is untouched
      throw new java.io.IOException(s"commit: rename $tmp -> $target failed (rolled back)")
    }
    if (had) fs.delete(bak, true): Unit // a leftover bak is dropped by recover
  }

  def recover(fs: FileSystem, target: Path, tmp: Path, bak: Path): Outcome =
    if (fs.exists(target)) Outcome.Kept(fs.delete(tmp, true), fs.delete(bak, true))
    else if (fs.exists(tmp)) {
      move(fs, tmp, target)
      fs.delete(bak, true): Unit
      Outcome.RolledForward
    } else if (fs.exists(bak)) {
      move(fs, bak, target)
      Outcome.RolledBack
    } else Outcome.Absent
}
