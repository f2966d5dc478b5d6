package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

/** The process-wide memo behind every fit-once-and-persist fixture
  * (persisted indexes, fitted vocabularies and LMs, streaming sinks'
  * output dirs). A fixture is keyed by (tag, dir): the query's tag
  * (`idx_q45`, `bm25_q143`, `q287`, …) and the sf dir it reads. The memo
  * derives the fixture's NAME from that key once, so table names and
  * scratch dirs follow the key by construction: two dirs never share a
  * name (`/x/a-b` and `/x/a_b` differ in the name's hash suffix), and a
  * replicated sf dir gets its own fixtures.
  *
  * Guarantees:
  *  - at most one build per key, also under concurrent first calls:
  *    the map stores a per-key [[Cell]] and callers run the build under
  *    that cell's lock, never inside `computeIfAbsent` — so a build may
  *    itself resolve another fixture;
  *  - a build that throws publishes nothing and is retried by the next
  *    call for its key.
  */
private[graft] object SavedOnce {
  private final class Cell { var value: Option[Any] = None }
  private val cells = new ConcurrentHashMap[(String, String), Cell]()

  /** The fixture name of (tag, dir): `graft_<tag>_<dir sanitized>_<hash>`,
    * a valid table identifier and path component. The hash covers the
    * unsanitized key, so keys that sanitize alike still differ.
    */
  private[graft] def name(tag: String, dir: String): String =
    s"graft_${tag}_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
      f"_${s"$tag/$dir".hashCode}%08x"

  /** The value built for (tag, dir), running `build(name)` on the first
    * call (and again after a failed one).
    */
  def apply[V](tag: String, dir: String)(build: String => V): V = {
    val cell = cells.computeIfAbsent((tag, dir), _ => new Cell)
    cell.synchronized {
      cell.value.getOrElse {
        val v = build(name(tag, dir))
        cell.value = Some(v)
        v
      }
    }.asInstanceOf[V]
  }

  /** [[apply]] for a fixture whose build writes files (a streaming
    * sink's input, output and checkpoint dirs): `build` receives a fresh
    * scratch dir under [[root]] instead of the name.
    */
  def scratch[V](tag: String, dir: String)(build: String => V): V =
    apply(tag, dir)(n => build(scratchDir(n)))

  /** A fresh dir under [[root]] named after a fixture; a retried build
    * gets a new one.
    */
  def scratchDir(name: String): String =
    Files.createTempDirectory(root, name + "_").toString

  /** One scratch root per process, deleted by Spark's shutdown hook
    * after the SparkContext stops.
    */
  private lazy val root: Path = {
    val p = Files.createTempDirectory("graft_fixtures_")
    org.apache.spark.sql.graftbridge.ShutdownBridge.deleteAtExit(p.toFile)
    p
  }
}
