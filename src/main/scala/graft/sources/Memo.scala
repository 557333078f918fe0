package graft.sources

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardOpenOption}

/** The one on-disk protocol for cross-JVM fixture memos under tmpdir
  * (derived tables, compaction/bucket/partition layouts, the document
  * store, stream replays, lake fixture state).
  *
  * A memo `tmpdir/name` is published iff `tmpdir/name/_PUBLISHED`
  * exists. The marker belongs to this helper alone: Spark's committer
  * writes its own completion file as soon as a write finishes, before a
  * builder's later steps (mtime restamps, file moves) ran, so that file
  * says nothing about the memo.
  *
  * Building takes a per-name JVM monitor plus a blocking OS `FileLock`
  * on `tmpdir/name.lock` (two layers, as in
  * [[GraftLakeIO.withCommitLock]]: threads of one JVM would otherwise
  * hit OverlappingFileLockException), re-checks the marker, clears any
  * marker-less debris a crashed builder left, runs the build in place
  * and writes the marker last. So a crash anywhere before the marker
  * leaves a memo the next caller rebuilds, and two JVMs build it once.
  * The OS drops a dead holder's lock; the lock file itself is never
  * deleted (a fresh inode would break mutual exclusion with a process
  * still holding the old one).
  */
object Memo {

  private val Marker = "_PUBLISHED"

  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The published memo dir `tmpdir/name`, built by `build` (handed the
    * empty target dir) on first use. `name` may hold a `/`-nested path. */
  def publish(name: String)(build: File => Unit): File = {
    val tmp = System.getProperty("java.io.tmpdir")
    val target = new File(tmp, name)
    val marker = new File(target, Marker)
    val built = !marker.exists() &&
      monitors.computeIfAbsent(name, _ => new Object).synchronized {
        val lockFile = new File(tmp, s"$name.lock")
        lockFile.getParentFile.mkdirs()
        val ch = FileChannel.open(lockFile.toPath,
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try {
          val lock = ch.lock()
          try !marker.exists() && {
            rmTree(target)
            target.mkdirs()
            Tables.timedMemo(name)(build(target))
            Files.createFile(marker.toPath)
            true
          } finally lock.release()
        } finally ch.close()
      }
    // stdout: progress, not a failure (see Tables.timedMemo)
    if (!built) System.out.println(s"[graft-memo] $name reused")
    target
  }

  /** Delete a file or directory tree. Symlinks are removed, never
    * followed, so a link into the harness data cannot take it along. */
  def rmTree(f: File): Unit = {
    if (!Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }
}
