package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

/** JVM-scoped staging-directory factory. Every gate/bench staging location —
  * staged corpus copies, stream input chunks, streaming checkpoints — and
  * every state-store provider's local working dir is created under ONE
  * root that a single shutdown hook deletes recursively, so repeated JVM
  * runs no longer accumulate full table copies or RocksDB dirs in the
  * system temp dir. Use [[Memo]] for once-per-key staging work.
  */
object Staging {
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-staging-")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(r), "graft-staging-cleanup"))
    r
  }

  /** A fresh directory under the managed root; deleted at JVM exit. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  private def deleteRecursively(p: Path): Unit =
    try {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(q => try { Files.deleteIfExists(q); () } catch { case _: Throwable => () })
      finally walk.close()
    } catch { case _: Throwable => () } // best-effort: exit cleanup must never throw
}

/** Atomic once-per-key memoizer for staging work. `TrieMap.getOrElseUpdate`
  * evaluates its thunk OUTSIDE the map's internal CAS, so two first callers
  * racing on the same key both run the staging job (two full table copies,
  * one orphaned). Here the race is reduced to allocating an empty cell —
  * `putIfAbsent` picks one winner and BOTH callers then block on the same
  * cell's `lazy val`, so the staging body runs exactly once per key.
  */
final class Memo[V] {
  private final class Cell(body: () => V) { lazy val value: V = body() }
  private val cells = scala.collection.concurrent.TrieMap.empty[String, Cell]
  def getOrStage(key: String)(body: => V): V =
    cells.getOrElseUpdate(key, new Cell(() => body)).value
}
