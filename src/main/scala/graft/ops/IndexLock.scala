package graft.ops

/** Writer fence for the six persisted index families (LshIndex,
  * SimHashIndex, IvfIndex, PqIndex, GraphIndex, InvertedIndex): every
  * MUTATION of one index — `probeAndAppend` (probe + append must see one
  * stable pre-batch state), `markDeleted`, and the fold (GenTable.fold,
  * behind each family's `compact`) — runs
  * under a per-path reentrant lock, so a compaction interleaving with an
  * append can no longer lose the append (the rename-aside commit
  * replaces the table AFTER the compaction's read, silently dropping a
  * generation written in between) or expose the swap window's
  * transiently-missing path to the probe's scans.
  *
  * Scope is deliberately the DRIVER JVM: every supported orchestration
  * runs all writers of one index from one driver (the streaming ingests
  * mutate inside foreachBatch; ad-hoc compact/takedown calls share the
  * session), so a JVM lock gives real serialization where the race
  * actually exists. Multi-DRIVER writers need a storage-level commit —
  * the manifest upgrade path Layout.swapInto's scaladoc names; a
  * filesystem lock file cannot distinguish a crashed holder from a slow
  * one and would either deadlock recovery or reintroduce the race on
  * expiry. Locks are keyed by the normalized path string and reentrant
  * (a mutation may call another under the same fence on its thread).
  */
object IndexLock {
  private val locks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantLock]()

  private def keyOf(path: String): String =
    new org.apache.hadoop.fs.Path(path).toString

  def withWriter[A](path: String)(f: => A): A = {
    val l = locks.computeIfAbsent(keyOf(path),
      _ => new java.util.concurrent.locks.ReentrantLock())
    l.lock()
    try f finally l.unlock()
  }
}
