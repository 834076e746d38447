package graft

/** Per-PROCESS scratch roots under java.io.tmpdir — the one shared
  * implementation of the pattern two subsystems need (the raw-JSON fixture
  * tree and the quality-gate weights hand-off): a pid-keyed directory so
  * concurrent JVMs can never race each other's files, a liveness touch so
  * a long-lived JVM's tree is never swept from under it, and a bounded
  * sweep of dead siblings so /tmp growth is capped at roughly one tree per
  * JVM-day instead of forever.
  *
  * Trees must OUTLIVE the JVM (the driver's DuckDB oracle replays paths
  * out of oracle_sql.json after Verify exits), so nothing deletes on exit;
  * the sweep horizon is the deliberate compromise. Liveness is the root
  * directory's mtime: [[root]] refreshes it on every call, so any JVM
  * actively using its tree keeps it young, and a JVM idle past the horizon
  * merely rebuilds on its next use (the content is derived, never
  * precious). */
object TmpRoots {

  private val HorizonMs = 24L * 3600 * 1000

  /** This process's root for `prefix` (created, mtime-touched), sweeping
    * sibling roots of the same prefix untouched for > 24 h — the pid-keyed
    * `<prefix>_*` ones and the bare `<prefix>` root that builds before
    * per-process roots shared. `tmp` defaults to java.io.tmpdir. */
  def root(prefix: String,
      tmp: java.io.File = new java.io.File(System.getProperty("java.io.tmpdir"))): String = {
    val self = new java.io.File(tmp, s"${prefix}_${ProcessHandle.current().pid()}")
    val horizon = System.currentTimeMillis() - HorizonMs
    Option(tmp.listFiles()).foreach(_.foreach { f =>
      if ((f.getName.startsWith(prefix + "_") || f.getName == prefix) &&
          f.getName != self.getName && f.lastModified() < horizon)
        org.apache.commons.io.FileUtils.deleteQuietly(f)
    })
    self.mkdirs()
    self.setLastModified(System.currentTimeMillis())
    self.getAbsolutePath
  }
}
