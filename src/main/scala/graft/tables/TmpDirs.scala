package graft.tables

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

/** Process-scoped temp-dir factory for every session-lifetime scratch
  * table the engine materializes (SQL-surface seeds, storage-feature
  * tables, persisted ANN indexes, the bucketed SCD1 table, …).
  *
  * Why this exists: those dirs must outlive the query that created them
  * (views and memoized frames read them for the rest of the session) but
  * are dead the moment the JVM exits — and `Files.createTempDirectory`
  * alone leaves them behind forever. The r16 sf1 bench adjudication
  * traced a 106× per-entry anomaly to exactly this: ~60 GB of dead
  * staging accumulated across runs was degrading the box's IO before
  * any code ran (BASELINE.md r16). The streamed order_stream build got
  * a targeted fix;
  * this helper closes the remaining ~45 call sites mechanically.
  *
  * Mechanism, two halves:
  *   - every dir is created under one per-process root
  *     (`graft-run-<pid>`), removed by a JVM shutdown hook — the normal
  *     exit path leaks nothing;
  *   - at first use the factory reclaims roots whose owning pid is no
  *     longer alive — so runs that died without running hooks (kill -9,
  *     OOM kill, a driver timeout) are swept by the NEXT run instead of
  *     accumulating. A recycled pid parks a root until that pid dies;
  *     it is reclaimed eventually, never leaked forever.
  *
  * Both sweeps are best-effort: scratch cleanup must never fail a query.
  */
object TmpDirs {

  private val RootPrefix = "graft-run-"

  /** Create a fresh scratch dir under this process's root. Drop-in for
    * `Files.createTempDirectory(prefix)` — same uniqueness contract,
    * plus the lifecycle above. */
  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)

  private lazy val root: Path = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    sweepOrphans(tmp)
    val r = Files.createDirectories(
      tmp.resolve(RootPrefix + ProcessHandle.current().pid()))
    Runtime.getRuntime.addShutdownHook(new Thread(
      () => deleteRecursively(r), "graft-tmp-sweep"))
    r
  }

  /** Delete sibling roots whose owning process is dead. Visible for the
    * spec, which exercises it against a scratch "tmp" dir. */
  private[graft] def sweepOrphans(tmp: Path): Unit =
    try {
      val entries = Files.list(tmp)
      try {
        entries.forEach { p =>
          try {
            val name = p.getFileName.toString
            if (name.startsWith(RootPrefix)) {
              name.stripPrefix(RootPrefix).toLongOption.foreach { pid =>
                val alive = ProcessHandle.of(pid)
                  .map[java.lang.Boolean](h => h.isAlive)
                  .orElse(java.lang.Boolean.FALSE)
                if (!alive && pid != ProcessHandle.current().pid())
                  deleteRecursively(p)
              }
            }
          } catch { case NonFatal(_) => () } // one bad sibling ≠ no sweep
        }
      } finally entries.close()
    } catch { case NonFatal(_) => () }

  private[graft] def deleteRecursively(p: Path): Unit =
    try {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val entries = Files.list(p)
        try entries.forEach(deleteRecursively(_))
        finally entries.close()
      }
      Files.deleteIfExists(p)
      ()
    } catch { case NonFatal(_) => () }
}
