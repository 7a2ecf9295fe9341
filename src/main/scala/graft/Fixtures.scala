package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

/** The harness's one fixture store: memoized fixture builds and the
  * scratch directories they write to.
  *
  * Contract:
  *   - [[memo]] values live for the JVM's lifetime, keyed on (kind, sf
  *     dir). A dataset regenerated in place mid-JVM would be served a
  *     stale fixture; the harness never does that.
  *   - A build that throws is not memoized: the next caller builds again.
  *   - Concurrent callers of one key build it once; a build may call
  *     [[memo]] for another key (nested builds are allowed).
  *   - Every [[dir]] lies under one per-JVM root, deleted at exit.
  */
private[graft] object Fixtures {

  // one cell per key; its monitor serializes that key's build, and the
  // build runs outside the map so a nested memo is not a recursive update
  private final class Cell { var value: Option[Any] = None }
  private val cells = new ConcurrentHashMap[(String, String), Cell]()

  /** The value `build` returns for (kind, sfDir), built by the first caller.
    * Each `kind` names exactly one builder, so every caller sees one type.
    * A build prints `[fixture] <kind> <sfDir>: X s` on stderr: the query
    * run that paid for it reads that much slower than the next one.
    */
  def memo[T](kind: String, sfDir: String)(build: => T): T = {
    val cell = cells.computeIfAbsent((kind, sfDir), _ => new Cell)
    cell.synchronized {
      if (cell.value.isEmpty) {
        val t0 = System.nanoTime()
        cell.value = Some(build)
        System.err.println(f"[fixture] $kind $sfDir: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      cell.value.get.asInstanceOf[T]
    }
  }

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-fixtures")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try delete(r) catch { case _: Exception => () }))
    r
  }

  /** A fresh scratch directory under the per-JVM root. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** Delete `path` and everything under it (children before parents). */
  def delete(path: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(path)
    try walk.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(p => Files.deleteIfExists(p))
    finally walk.close()
  }
}
