package graft.spark

import java.nio.file.{Files, Path, Paths}

/** Scratch directories for harness I/O (streaming checkpoints, staged
  * inputs, delivery tables). Prefers tmpfs (/dev/shm): checkpoint and
  * state-store commits are many small fsynced files whose latency dominates
  * micro-batch startup on a disk-backed /tmp — measured as the bulk of the
  * events_windowed_stream wall time in round 1.
  *
  * Every created directory is registered for recursive deletion at JVM exit
  * (one shutdown hook for all of them): tmpfs is memory, and a directory
  * left behind by each run would pile up there.
  */
object TmpDirs {
  private val registered = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  private lazy val cleanupAtExit: Unit = {
    sys.addShutdownHook(registered.forEach(p => deleteRecursively(p)))
    ()
  }

  def create(prefix: String): String = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) shm.toPath
      else Paths.get(System.getProperty("java.io.tmpdir"))
    val dir = Files.createTempDirectory(base, prefix)
    cleanupAtExit
    registered.add(dir)
    dir.toString
  }

  /** Whether `dir` was made by [[create]] and will be deleted at exit. */
  private[graft] def isRegistered(dir: String): Boolean = registered.contains(Paths.get(dir))

  /** Best-effort recursive delete (what the exit hook runs per directory);
    * files that vanish or resist deletion meanwhile are skipped.
    */
  private[graft] def deleteRecursively(dir: Path): Unit =
    try {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => scala.util.Try(Files.deleteIfExists(p)))
      finally walk.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
}
