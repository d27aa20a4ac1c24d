package graft.io.lake

import org.apache.hadoop.fs.{FileSystem, Path}

/** The optimistic-commit loop of the Delta and Iceberg write protocols
  * and the UniForm mirror, in one place. A commit attempt reads the
  * head, writes the files only its own commit would reference
  * (manifests, manifest lists, statistics files) and publishes the next
  * version put-if-absent ([[Staging.putIfAbsent]]). Losing that version
  * to another writer is the one signal [[LostRace]]; everything else
  * an attempt throws is the caller's error and passes through
  * untouched. On a lost race [[optimistic]] deletes the attempt's
  * declared files, then either returns a duplicate writer's result,
  * refuses (an operation whose input the winner invalidated), or
  * re-runs the attempt against the new head: at most
  * 1 + [[MaxCommitRetries]] attempts in all. */
object Commit {

  /** Version races one commit may lose and still retry. */
  val MaxCommitRetries = 10

  /** Another writer published the version this attempt meant to
    * publish. One thrown by an exhausted [[optimistic]] loop is final:
    * an enclosing loop (a Delta commit whose UniForm sync gave up after
    * the Delta version had landed) must not retry it. */
  final class LostRace private[lake] (msg: String, private[lake] val exhausted: Boolean)
      extends IllegalStateException(msg) {
    def this(msg: String) = this(msg, false)
  }

  /** One attempt of an optimistic commit: `n` counts from 0. */
  final class Attempt private[lake] (val n: Int) {
    private val files = new java.util.concurrent.ConcurrentLinkedQueue[Path]

    /** Register `p`, a file only this attempt's commit will reference,
      * so that losing the race deletes it. Returns `p`. */
    def declare(p: Path): Path = { files.add(p); p }

    private[lake] def drop(f: FileSystem): Unit = files.forEach(p => f.delete(p, false))
  }

  /** Run `attempt` until it publishes. On [[LostRace]] the attempt's
    * declared files are deleted, then, in order:
    *   1. `replayed` (re-read after every loss) returns the result of a
    *      duplicate writer that already committed this work;
    *   2. `conflict(lost)` returns the error of an operation that must
    *      not rebase onto the new head;
    *   3. after 1 + [[MaxCommitRetries]] attempts, a final [[LostRace]]
    *      naming `what`, `table` and the limit;
    *   4. otherwise the next attempt runs.
    * The first three also delete `staged`: data files written once
    * before the loop, which only a winning attempt would reference. */
  def optimistic[A](f: FileSystem, what: String, table: String,
                    staged: => Seq[Path] = Nil,
                    replayed: => Option[A] = None,
                    conflict: LostRace => Option[Throwable] = (_: LostRace) => None)(
      attempt: Attempt => A): A = {
    def dropStaged(): Unit = staged.foreach(f.delete(_, false))
    @annotation.tailrec def run(n: Int): A = {
      val at = new Attempt(n)
      val outcome =
        try Right(attempt(at))
        catch { case lost: LostRace if !lost.exhausted => Left(lost) }
      outcome match {
        case Right(a) => a
        case Left(lost) =>
          at.drop(f)
          replayed match {
            case Some(a) => dropStaged(); a
            case None =>
              conflict(lost).foreach { e => dropStaged(); throw e }
              if (n == MaxCommitRetries) {
                dropStaged()
                throw new LostRace(s"$what on $table lost ${n + 1} version races " +
                  s"to concurrent commits (retry limit $MaxCommitRetries)", exhausted = true)
              }
              run(n + 1)
          }
      }
    }
    run(0)
  }
}
