package graft.pipeline

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.LocalDirs

/** Versioned publish / view switch / retention GC (SURVEY.md §2.E).
  *
  * The reference's signature capability: load into a versioned table
  * `name_<yyyy_MM_dd_HH_mm_ss>` (`MonetDBTable.java:31-43`), then repoint
  * a stable view at the newest version in one transaction
  * (`MonetDBUtil.java:442-529`), keeping the current + one backup version
  * (`CopyTool.java:554-602`).
  *
  * Spark-native layout: each target table is a directory of immutable
  * snapshot subdirs plus an atomically-replaced CURRENT pointer file —
  * readers resolve the pointer then read an immutable snapshot, which
  * gives the same near-zero-downtime switch without any table lock:
  * {{{
  *   <root>/<table>/v=<version>/   (immutable parquet snapshots)
  *   <root>/<table>/CURRENT        (pointer: the published version)
  * }}}
  *
  * A snapshot dir is filled under a hidden name and renamed into place
  * with one ATOMIC_MOVE, so it appears whole or not at all. The copy job
  * fills it by hard-linking the staged parquet files ([[linkSnapshot]]):
  * the staged bytes are published as written, not decoded and encoded a
  * second time.
  */
object Publish {

  private val VersionFmt = DateTimeFormatter.ofPattern("yyyy_MM_dd_HH_mm_ss")
  /** Same shape the reference stamps (`CopyTool.java:216-224`) and
    * discovers by regex (`CopyTool.java:64,513-548`). */
  val VersionPattern = "[0-9]{4}(_[0-9]{2}){5}".r

  /** Pure stamp in the reference's version shape — format only, no
    * issue-order guarantee (that's [[newVersion]]'s job). */
  def versionStamp(now: LocalDateTime): String = now.format(VersionFmt)

  /** Strictly-increasing version issue. The second-granular stamp means
    * two runs inside one wall-clock second would mint the SAME version
    * (the reference has the identical gap, `CopyTool.java:216-224`) —
    * the second run would then overwrite the first's "immutable"
    * snapshot dir in place while readers may hold the pointer to it.
    * On collision the version bumps one second past the last issued
    * (lexicographic order == time order for this format, so
    * monotonicity is preserved); JVM-global, since the fleet runner
    * drives every config through one driver process. */
  private var lastIssued = ""
  def newVersion(now: LocalDateTime = LocalDateTime.now()): String = synchronized {
    val stamped = versionStamp(now)
    val v =
      if (stamped > lastIssued) stamped
      else LocalDateTime.parse(lastIssued, VersionFmt).plusSeconds(1).format(VersionFmt)
    lastIssued = v
    v
  }

  private def tableDir(root: String, table: String): Path = Paths.get(root, table)
  def snapshotDir(root: String, table: String, version: String): String =
    tableDir(root, table).resolve(s"v=$version").toString
  private def currentPtr(root: String, table: String): Path =
    tableDir(root, table).resolve("CURRENT")

  /** Load a snapshot version (phase 2) by writing `df`. Immutable once
    * written. */
  def writeSnapshot(df: DataFrame, root: String, table: String, version: String): Unit =
    install(Paths.get(snapshotDir(root, table, version)))(tmp => df.write.parquet(tmp.toString))

  /** Load a snapshot version (phase 2) from the parquet files in `files`
    * (a staged dataset), by hard link. */
  def linkSnapshot(files: Path, root: String, table: String, version: String): Unit =
    install(Paths.get(snapshotDir(root, table, version)))(linkFiles(files, _))

  /** Fill a hidden sibling of `dest`, then rename it onto `dest` with one
    * ATOMIC_MOVE. An existing `dest` is dropped first. A leftover of a
    * crashed fill is dropped before the next one. */
  private def install(dest: Path)(fill: Path => Unit): Unit = {
    val tmp = dest.resolveSibling(s".${dest.getFileName}.tmp")
    LocalDirs.deleteRecursively(tmp)
    fill(tmp)
    LocalDirs.deleteRecursively(dest)
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Hard-link every file of `src` into a new dir `dst`, or copy its bytes
    * where a link cannot be made (`src` on another file system). Spark
    * never rewrites a written file in place: a re-stage or a cleanup
    * unlinks the staged names, so the linked snapshot keeps its bytes. */
  private def linkFiles(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    LocalDirs.list(src).filter(Files.isRegularFile(_)).foreach { f =>
      val to = dst.resolve(f.getFileName)
      try Files.createLink(to, f)
      catch { case _: FileSystemException => Files.copy(f, to) }
    }
  }

  /** E4 newest-version discovery: list + lexicographic max (version string
    * ordering == timestamp ordering for this format). Lazy listing — only
    * directory names, never file contents. */
  def findNewestVersion(root: String, table: String): Option[String] =
    listVersions(root, table).sorted(Ordering[String].reverse).headOption

  def listVersions(root: String, table: String): Seq[String] = {
    val dir = tableDir(root, table)
    if (!Files.isDirectory(dir)) Seq.empty
    else LocalDirs.list(dir)
      .map(_.getFileName.toString)
      .filter(_.startsWith("v="))
      .map(_.stripPrefix("v="))
      .filter(v => VersionPattern.pattern.matcher(v).matches)
  }

  /** E3/D11 view switch: atomically repoint CURRENT (write-temp + ATOMIC_MOVE
    * — the analogue of the reference's single-transaction view swap). */
  def publishVersion(root: String, table: String, version: String): Unit = {
    val dir = tableDir(root, table)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".CURRENT.tmp")
    Files.writeString(tmp, version)
    Files.move(tmp, currentPtr(root, table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** `--switch-only` (E6): discover newest loaded version and publish it
    * without touching data. */
  def publishNewest(root: String, table: String): Option[String] = {
    val newest = findNewestVersion(root, table)
    newest.foreach(publishVersion(root, table, _))
    newest
  }

  def currentVersion(root: String, table: String): Option[String] = {
    val p = currentPtr(root, table)
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  /** Read the published snapshot (what a view resolves to). */
  def readCurrent(spark: SparkSession, root: String, table: String): DataFrame = {
    val v = currentVersion(root, table).getOrElse(
      throw new IllegalStateException(s"table '$table' has no published version"))
    spark.read.parquet(snapshotDir(root, table, v))
  }

  /** Register the published snapshot as a stable-name temp view (the
    * catalog face of E3). */
  def registerView(spark: SparkSession, root: String, table: String): Unit =
    readCurrent(spark, root, table).createOrReplaceTempView(table)

  /** E5 retention GC: keep the newest `keep` versions (reference default:
    * current + 1 backup, `CopyTool.java:578-580`), never delete the
    * published one. Returns dropped versions. */
  def gcOldVersions(root: String, table: String, keep: Int = 2): Seq[String] = {
    val versions = listVersions(root, table)
    val keepSet = versions.sorted(Ordering[String].reverse)
      .take(keep).toSet ++ currentVersion(root, table).toSet
    val drop = versions.filterNot(keepSet.contains)
    drop.foreach(v => LocalDirs.deleteRecursively(Paths.get(snapshotDir(root, table, v))))
    drop.sorted
  }

  /** E2 temp-swap publish (the non-versioned mode): link the staged
    * parquet files in `files` into a hidden temp dir, then swap it into
    * the stable data dir. Same drop-then-swap window as the reference
    * (`CopyTool.java:1107-1124`) — documented, and the versioned+pointer
    * mode above is the preferred atomic path. */
  def tempSwapPublish(files: Path, root: String, table: String): Unit =
    install(tableDir(root, table).resolve("data"))(linkFiles(files, _))
}
