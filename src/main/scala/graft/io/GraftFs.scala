package graft.io

import java.nio.file.{Files, LinkOption, Path, StandardCopyOption}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** The one home of the file protocols graft runs on its own files
  * (table manifests and logs, index and view metadata, sidecar
  * publishes): a closing listing, a recursive delete, an atomic move,
  * a temp-then-rename publish, and the crash-safe multi-piece
  * [[AtomicSwap]]. Every operation is java.nio on the local filesystem
  * and every failure throws — none reports failure through a return
  * value a caller could ignore. Data files written through Hadoop's
  * checksummed local filesystem carry a `.<name>.crc` twin; the move
  * and the delete here keep the twin with its file, as Hadoop's own
  * rename and delete do. */
object GraftFs {

  /** The entries of `dir`, the directory stream closed (a bare
    * Files.list holds one directory fd until GC — a long-lived writer
    * listing on every commit creeps toward the ulimit); a missing dir
    * is empty. */
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList
      finally s.close()
    }

  /** Delete `p` and everything under it, symlinks not followed; a file
    * takes its checksum twin along. True when `p` existed. */
  def delete(p: Path): Boolean = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) list(p).foreach(delete)
    Files.deleteIfExists(crcOf(p))
    Files.deleteIfExists(p)
  }

  /** Atomic rename of `src` onto `dest` (`replace` adds
    * REPLACE_EXISTING). Without `replace` this is still `rename(2)`,
    * which replaces an existing file target on POSIX: callers move onto
    * fresh names, and a name that must never be replaced goes through
    * [[publish]] with `replace = false`. A checksum twin of `src` moves
    * along; a replaced `dest`'s twin is dropped when `src` has none, so
    * no stale checksum outlives the file it described. */
  def move(src: Path, dest: Path, replace: Boolean = false): Unit = {
    if (replace) Files.move(src, dest, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    else Files.move(src, dest, StandardCopyOption.ATOMIC_MOVE)
    if (Files.exists(crcOf(src)))
      Files.move(crcOf(src), crcOf(dest), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    else if (replace) Files.deleteIfExists(crcOf(dest))
  }

  /** Publish `text` at `dest`: written to a hidden temp beside it,
    * then [[move]]d over it, so a reader sees the old content or the
    * new, never a torn file, and a crash leaves at most the hidden
    * `.<name>.tmp.<nanotime>` temp. Creates the parent dirs.
    *
    * Without `replace` the publish is a put-if-absent: the temp is
    * hard-linked onto `dest`, which POSIX creates atomically or
    * refuses, so of two writers racing one name exactly one wins and
    * the other gets `FileAlreadyExistsException` with `dest`'s bytes
    * untouched. The temp is deleted either way. */
  def publish(dest: Path, text: String, replace: Boolean = true): Unit = {
    Files.createDirectories(dest.getParent)
    val tmp = dest.resolveSibling(s".${dest.getFileName}.tmp.${System.nanoTime()}")
    Files.writeString(tmp, text)
    if (replace) move(tmp, dest, replace = true)
    else try Files.createLink(dest, tmp) finally Files.deleteIfExists(tmp)
  }

  /** Start `p`'s [[sweep]] grace window now (its mtime becomes the
    * current time), when `p` exists — called the moment `p` becomes
    * unreferenced, so a long-lived entry does not die the instant it
    * is dropped. */
  def touch(p: Path): Unit =
    if (Files.exists(p)) Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))

  /** Delete the entries of `dir` whose name `dead` accepts and whose
    * mtime is at or before `cutoffMs` — the grace window readers still
    * holding an older pointer get, which runs from the [[touch]] an
    * entry receives when it is unreferenced. Returns what it deleted. */
  def sweep(dir: Path, cutoffMs: Long)(dead: String => Boolean): Seq[Path] = {
    val gone = list(dir).filter(p => dead(p.getFileName.toString) &&
      Files.getLastModifiedTime(p).toMillis <= cutoffMs)
    gone.foreach(delete)
    gone
  }

  /** Matches an exception that says a file is missing or unreadable:
    * Spark's missing path or failed file read, or an IO failure
    * anywhere in its causes. The one classifier for callers that treat
    * such a file as absent or corrupt (`catch { case
    * GraftFs.Unreadable(e) => … }`); any other failure (a cancelled
    * job, a bug, an Error) does not match and propagates. */
  object Unreadable {
    def unapply(e: Throwable): Option[Throwable] =
      Some(e).filter(_.isInstanceOf[Exception]).filter(
        Iterator.iterate(_)(_.getCause).takeWhile(_ != null).exists {
          case _: java.io.IOException => true
          case s: org.apache.spark.SparkThrowable => Option(s.getCondition).exists(c =>
            c == "PATH_NOT_FOUND" || c.startsWith("FAILED_READ_FILE") ||
              c == "CANNOT_READ_FILE_FOOTER")
          case _ => false
        })
  }

  private def crcOf(p: Path): Path = p.resolveSibling(s".${p.getFileName}.crc")

  /** The crash-safe replacement of several pieces (dirs or files) under
    * `root` by staged ones, as one commit. [[run]] puts up `marker`,
    * moves every present live piece aside to its `<piece><asideSuffix>`
    * twin, moves each present staged piece onto its live name, runs the
    * caller's in-window writes, clears the marker (the commit point)
    * and drops the asides. Every step before the commit point keeps the
    * pre-swap state on disk — moved aside, never deleted — so a death
    * anywhere inside the window is undone by [[rollback]]: each piece
    * with an aside twin is restored from it, each piece the marker names
    * as absent before the swap is deleted (a staged piece moved onto it,
    * or an in-window write created it), staging is dropped, the marker
    * clears. Readers must refuse service while [[inflight]]:
    * inside the window the pieces may come from different commits.
    * Staging runs before [[run]], into paths no reader addresses, so a
    * death there leaves only stale staging for the next run. The names
    * are the caller's, so a swap left by an older binary under the same
    * names recovers the same way. */
  final class AtomicSwap(val root: Path, markerName: String,
      asideSuffix: String, pieces: Seq[String], staged: Seq[(String, String)]) {

    val marker: Path = root.resolve(markerName)

    def inflight: Boolean = Files.exists(marker)

    private def aside(piece: String) = root.resolve(piece + asideSuffix)

    /** The swap (see the class doc). Runs with no marker up — a caller
      * rolls a leftover one back first — and drops stale asides of a
      * completed swap whose cleanup died before its own marker goes up,
      * so a rollback can never mix asides of two different swaps. The
      * marker is published naming the pieces absent before the swap,
      * one a line. A failure leaves the marker up. */
    def run(inWindow: => Unit): Unit = {
      require(!inflight, s"a swap is in flight at $root (marker $marker)")
      pieces.foreach(p => delete(aside(p)))
      publish(marker, pieces.filterNot(p => Files.exists(root.resolve(p))).mkString("\n"),
        replace = false)
      val crashAt = AtomicSwap.crashBeforeMove(root)
      var moves = 0
      def rename(a: Path, b: Path): Unit = {
        if (crashAt >= 0 && moves >= crashAt)
          throw new RuntimeException(s"forged crash before swap rename #$moves")
        moves += 1
        move(a, b)
      }
      pieces.map(root.resolve).filter(Files.exists(_))
        .foreach(p => rename(p, aside(p.getFileName.toString)))
      staged.filter { case (_, s) => Files.exists(root.resolve(s)) }
        .foreach { case (live, s) => rename(root.resolve(s), root.resolve(live)) }
      inWindow
      delete(marker)
      pieces.foreach(p => delete(aside(p)))
    }

    /** Undo an interrupted [[run]] (see the class doc); requires the
      * marker. An empty marker (an older binary's) names no absent
      * piece. */
    def rollback(): Unit = {
      require(inflight, s"no interrupted swap at $root (marker $marker)")
      val absent = Files.readString(marker).split("\n").toSet
      pieces.reverse.filter(p => Files.exists(aside(p))).foreach { p =>
        delete(root.resolve(p)) // the staged piece that moved in, if any
        move(aside(p), root.resolve(p))
      }
      pieces.filter(absent).foreach(p => delete(root.resolve(p)))
      staged.foreach { case (_, s) => delete(root.resolve(s)) }
      delete(marker)
    }
  }

  object AtomicSwap {
    private val faults = TrieMap.empty[Path, Int]
    private def key(root: Path) = root.toAbsolutePath.normalize

    /** Forged-crash seam, scoped to one swap root: when set to n ≥ 0,
      * a [[AtomicSwap.run]] at `root` throws before its rename number n
      * (0-based, counted per run) — how specs kill a swap inside its
      * window. -1 (the default) is off. */
    private[graft] def crashBeforeMove(root: Path): Int = faults.getOrElse(key(root), -1)

    private[graft] def crashBeforeMove(root: Path, n: Int): Unit =
      if (n < 0) faults -= key(root) else faults(key(root)) = n
  }
}
