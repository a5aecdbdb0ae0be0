package graft

/** The one recursive delete and the one JVM-exit sweeper for every
  * scratch dir the library makes. Per-(session, fixture) artifacts get
  * their dirs from [[SessionCache.Artifact]]; per-call dirs from
  * [[scratchDir]]. Both are named `graft_<kind>_…` directly under
  * `java.io.tmpdir` and both are registered here, so nothing the
  * queries write outlives the JVM. A per-call dir whose contents are
  * not needed after the call is still deleted in the caller's
  * `finally`; the exit sweep is the backstop for dirs a returned
  * DataFrame reads lazily. */
private[graft] object Fs {
  def deleteRecursively(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(deleteRecursively)
    f.delete(); ()
  }

  private val exitDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      exitDirs.forEach(p => deleteRecursively(new java.io.File(p)))))
  }

  /** Register `p` for recursive deletion at JVM exit; returns `p`. */
  def deleteOnExit(p: String): String = { exitDirs.add(p); p }

  /** A fresh per-call dir `graft_<kind>_<random>` under
    * `java.io.tmpdir`, registered for deletion at JVM exit. */
  def scratchDir(kind: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(s"graft_${kind}_")
    deleteOnExit(p.toString); p
  }
}
