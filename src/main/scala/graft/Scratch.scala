package graft

/** Per-process scratch directories with ONE registered JVM shutdown
  * hook for cleanup — shared by the format round-trip queries
  * (q_scan_orc / q_scan_text) and the specs that need self-cleaning
  * temp output. Replaces the four hand-rolled hook + recursive-rm
  * copies that had drifted into NormalizeQueries, EmptyInputSpec and
  * ScaleTechniquesSpec.
  */
object Scratch {

  /** Recursively delete a file tree (best-effort, idempotent). */
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(); ()
  }

  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val hooked =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Register `root` for deletion at JVM exit — one hook total no
    * matter how many roots; registering the same root twice is a
    * no-op. Exit-time (not eager) deletion is required because the
    * DataFrames built over these dirs are lazy: the caller's read may
    * run long after the query constructor returns. */
  def deleteOnExit(root: String): String = {
    registered.add(root)
    if (hooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        registered.forEach(r => rm(new java.io.File(r)))
      }))
    root
  }

  /** RAM-backed base (/dev/shm) when available, else the JVM tmpdir. */
  def base: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) "/dev/shm"
    else sys.props.getOrElse("java.io.tmpdir", "/tmp")
  }

  /** Per-process scratch dir `<base>/graft-<kind>-<pid>`, registered
    * for deletion at JVM exit. Per-PROCESS so verify + bench (or two
    * worktree runs) sharing /dev/shm can't overwrite each other
    * mid-read; same-process re-runs still overwrite
    * deterministically. */
  def dir(kind: String): String =
    deleteOnExit(s"$base/graft-$kind-${ProcessHandle.current.pid}")

  /** [[dir]]`(kind)`'s subdirectory for data dir `d` (every character
    * outside `[A-Za-z0-9.]` of its path becomes `_`), so runs over two
    * data dirs in one process keep apart. */
  def dirFor(kind: String, d: String): String =
    dir(kind) + "/" + d.replaceAll("[^A-Za-z0-9.]", "_")
}
