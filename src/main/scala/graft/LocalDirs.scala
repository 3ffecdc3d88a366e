package graft

import java.nio.file.{Files, LinkOption, Path, Paths}
import scala.jdk.CollectionConverters._

/** Local directory housekeeping shared by the copy pipeline, the
  * persisted indexes and the dev tools. Every listing is closed before
  * it returns: an unclosed `Files.list` stream keeps its directory
  * handle open until the JVM exits (garbage collection never releases
  * it), so a scheduler that lists per run would grow its open-file count
  * without bound. */
object LocalDirs {

  /** The entries of `dir`, listed and closed. */
  def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.toList finally s.close()
  }

  /** Delete `p` and everything under it; an absent path is a no-op.
    * Symbolic links are removed, never followed. */
  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS))
      list(p).foreach(deleteRecursively)
    Files.deleteIfExists(p); ()
  }

  private val onExit = scala.collection.mutable.HashSet.empty[String]

  /** Delete `path` recursively when the JVM exits, registered once per
    * path however often it is called — per-process scratch (index
    * copies, tool work dirs) would otherwise accumulate one copy per
    * invocation. Best effort: a path that cannot be removed at exit is
    * left behind. */
  def deleteOnExit(path: String): Unit = onExit.synchronized {
    if (onExit.add(path)) Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteRecursively(Paths.get(path))
      catch { case _: java.io.IOException => () }))
  }
}
