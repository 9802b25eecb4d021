package graft.core

/**
 * The per-JVM store of derived artifacts (key-sorted warehouses, FSO
 * tables, snapshot checkpoints, CDC logs and view state, index
 * artifacts). Every dir registers for deletion at JVM shutdown —
 * repeated sbt invocations (tests, verify, bench, probes) used to leave
 * hundreds of orphaned `/tmp/graft_*` dirs behind per round.
 */
object TempDirs {
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[String]

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    created.forEach { p =>
      try graft.streaming.ChangeStream.deleteRecursively(
        java.nio.file.Paths.get(p))
      catch { case _: Throwable => () } // best-effort cleanup
    }
  }))

  def create(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    created.add(p)
    p
  }

  private final class Slot { var path: String = _ }

  private val artifacts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Slot]

  /**
   * The path of artifact `kind` derived from source `dir`. The first call
   * per JVM runs `build` into a fresh `graft_<kind>_*` dir; later calls
   * return that dir. A build that throws stores nothing and the next call
   * retries it.
   *
   * Only paths are stored, so a stopped-and-recreated SparkSession never
   * sees a DataFrame bound to a dead session, and nothing stays pinned in
   * the block cache. Each key locks on its own slot, never on a shared
   * monitor: a build may call another kind's accessor (pairs read bands),
   * and a build may block on other threads (the CDC bootstrap waits on the
   * view-merge pool) without stalling unrelated keys. No kind needs
   * itself, directly or through another kind, so threads waiting on
   * per-key locks cannot form a cycle.
   */
  def artifact(kind: String, dir: String)(build: String => Unit): String = {
    val slot = artifacts.computeIfAbsent((kind, dir), _ => new Slot)
    slot.synchronized {
      if (slot.path == null) {
        val out = create(s"graft_${kind}_")
        build(out)
        slot.path = out
      }
      slot.path
    }
  }
}
