package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

/** The one owner of on-disk scratch: staged fixtures, per-call layout
  * bases, stream sinks and checkpoint dirs all live under ONE per-JVM
  * directory in `java.io.tmpdir`, deleted recursively by a single
  * shutdown hook. conduino leaves a handle's lifetime to its caller
  * (`sourceHandle`/`sinkHandle`); here the caller is the JVM, so no
  * file outlives the process that wrote it.
  *
  * The root is per-JVM (createTempDirectory), so two concurrent
  * processes never share — or tear — each other's fixtures.
  */
object Scratch {

  /** Created on first use. `java.io.tmpdir` itself is created first: a
    * tmpfs directory removed since the launcher picked it must not break
    * staging.
    */
  lazy val root: Path = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(tmp)
    val r = Files.createTempDirectory(tmp, "graft_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r)))
    r
  }

  /** A new, empty directory under [[root]] — for per-call bases that a
    * rerun must rebuild rather than reuse.
    */
  def fresh(prefix: String): Path = Files.createTempDirectory(root, prefix)

  private final class Slot { var dir: Path = _ }
  private val slots = new ConcurrentHashMap[String, Slot]()

  /** The per-JVM fixture of `kind` for data dir `sfDir`: a [[fresh]]
    * directory filled by `write` on first call, the same path after.
    * The directory is recorded only after `write` returns, so a failed
    * write is retried into a new directory instead of serving a torn
    * one. Each key has its own lock (not computeIfAbsent on one shared
    * map), so a `write` may stage another fixture.
    */
  def once(kind: String, sfDir: String)(write: Path => Unit): Path = {
    val slot = slots.computeIfAbsent(s"$kind|$sfDir", _ => new Slot)
    slot.synchronized {
      if (slot.dir == null) {
        val d = fresh(s"${kind}_")
        write(d)
        slot.dir = d
      }
      slot.dir
    }
  }

  /** Best effort: runs at exit, when nothing can act on a failure. */
  private def deleteRecursively(dir: Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally walk.close()
    } catch { case _: Throwable => () }
}
