package graft.queries

import java.nio.file.{Files, Path, Paths}

/** Shared build-once fixture discipline for driver queries that stage
  * data under /tmp/graft_fixtures (streaming replays, clustered layouts).
  *
  * Safety model: a `_DONE` marker written only after the builder's own
  * verification gates completion (a partial build can never masquerade as
  * finished), an OS file lock on a sibling lockfile serializes builders
  * across JVMs (one process's deleteRecursively can never destroy another
  * process's live checkpoint or half-read files), and the in-JVM
  * `synchronized` serializes threads within a process (file locks are
  * per-JVM, not per-thread).
  */
object Fixtures {

  /** The fixture root of `name` built from `$d/$table.parquet`:
    * `/tmp/graft_fixtures/<name>_<mtime>_<size>` of that source file, so
    * regenerated testdata never reuses a build of the old one.
    */
  def root(d: String, table: String, name: String): Path = {
    val src = new java.io.File(s"$d/$table.parquet")
    Paths.get(s"/tmp/graft_fixtures/${name}_${src.lastModified}_${src.length}")
  }

  def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally walk.close()
    }
  }

  /** Run `build` exactly once per `root` across all local JVMs; `build`
    * must create the `_DONE` marker itself after verifying its output.
    * Losers of the lock race see the winner's marker and return. Once the
    * marker exists the lockfile is deleted, still under the lock: a later
    * caller returns at the marker check before it opens the lockfile, and
    * one already waiting on the deleted file finds the marker once it
    * holds the lock.
    */
  def ensure(root: Path)(build: => Unit): Unit = {
    val marker = root.resolve("_DONE")
    if (Files.exists(marker)) return
    synchronized { // in-JVM serialization; the file lock handles cross-JVM
      Files.createDirectories(root.getParent)
      val lockPath = root.resolveSibling(root.getFileName.toString + ".lock")
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          if (!Files.exists(marker)) { deleteRecursively(root); build }
          if (Files.exists(marker)) Files.deleteIfExists(lockPath)
        } finally lock.release()
      } finally ch.close()
    }
  }
}
