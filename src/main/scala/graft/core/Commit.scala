package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** The one durable-commit primitive: every way staged bytes become the
  * durable state goes through here — the reference's double-buffered
  * `_hashes_0/_hashes_1` table plus staging swap (download.py:572-604)
  * reduced to three operations on the local filesystem:
  *
  *  - [[replaceFile]] / [[publish]]: a file (the VERSION pointer, a bench
  *    record) is replaced whole or not at all;
  *  - [[swap]] / [[recover]]: a staged directory replaces a set of
  *    superseded sibling directories (changelog and index compaction);
  *  - [[replaceDir]]: a staged directory replaces one directory.
  *
  * java.nio throughout. A root with a URI scheme other than `file` is
  * rejected: `Paths.get("hdfs://nn/x")` would silently name a relative
  * local path.
  */
object Commit {
  private val Aside = ".compact_aside"
  private val Staging = ".compact_staging"
  private val SchemePrefix = "^([a-zA-Z][a-zA-Z0-9+.-]*):".r

  /** `path` as a local filesystem path; a `file:` URI is accepted. */
  private[graft] def local(path: String): Path =
    SchemePrefix.findPrefixMatchOf(path).map(_.group(1)) match {
      case None => Paths.get(path)
      case Some(s) if s.equalsIgnoreCase("file") => Paths.get(java.net.URI.create(path))
      case Some(s) => throw new IllegalArgumentException(
        s"durable commit needs a local path, got scheme '$s' in $path")
    }

  /** Replace `path` with `content` atomically: the bytes go to a unique
    * temp file in the same directory and are forced to disk, then the temp
    * is renamed over `path`. A reader sees the old content or the new, never
    * a truncated file; a failure before the rename lands deletes the temp.
    */
  def replaceFile(path: Path, content: String): Unit = {
    val dir = path.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, path.getFileName.toString, ".tmp")
    var moved = false
    try {
      val ch = java.nio.channels.FileChannel.open(tmp, StandardOpenOption.WRITE)
      try {
        val buf = java.nio.ByteBuffer.wrap(content.getBytes("UTF-8"))
        while (buf.hasRemaining) ch.write(buf)
        ch.force(true)
      } finally ch.close()
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      moved = true
    } finally if (!moved) Files.deleteIfExists(tmp)
  }

  /** The version the VERSION pointer of `baseDir` names, if any. */
  def currentVersion(baseDir: String): Option[Long] = {
    val p = local(baseDir).resolve("VERSION")
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  /** Commit `version` under `baseDir`: `writeData` lays down the version's
    * data (it receives the version currently in effect, 0 if none), then
    * the VERSION pointer moves to `version` — readers follow the pointer
    * and never observe a half-written version. A `version` at or below the
    * current one is a replay: nothing is written and the current version
    * is returned. Returns the version in effect.
    */
  def publish(baseDir: String, version: Long)(writeData: Long => Unit): Long = {
    val current = currentVersion(baseDir).getOrElse(0L)
    if (version <= current) return current
    writeData(current)
    replaceFile(local(baseDir).resolve("VERSION"), version.toString)
    version
  }

  /** Where the caller writes the replacement before [[swap]], as a `file:`
    * URI so the write lands on the local disk whatever the default
    * filesystem. Dot-prefixed, so Spark's partition discovery never lists it.
    */
  def staging(root: String): String = local(root).resolve(Staging).toUri.toString

  /** Replace the `superseded` directories under `root` (names, which must
    * include `target`) by the staged directory, landing it as `target`:
    * each superseded directory moves into a dot-prefixed aside, `target`
    * last; staging moves in as `target`; the aside is deleted. Call
    * [[recover]] before writing the staging directory.
    */
  def swap(root: String, superseded: Seq[String], target: String): Unit = {
    val renames = swapRenames(root, superseded, target)
    Files.createDirectories(local(root).resolve(Aside))
    renames.foreach { case (from, to) => Files.move(from, to, StandardCopyOption.ATOMIC_MOVE) }
    recover(root)
  }

  /** The renames of [[swap]], in order. Until the last one, every name sits
    * either in `root` or in the aside; only the last puts `target` in both.
    */
  private[graft] def swapRenames(root: String, superseded: Seq[String],
                                 target: String): Seq[(Path, Path)] = {
    require(superseded.contains(target),
      s"swap target $target must be among the superseded directories of $root")
    val r = local(root)
    (superseded.filterNot(_ == target) :+ target).map(n => r.resolve(n) -> r.resolve(Aside).resolve(n)) :+
      (r.resolve(Staging) -> r.resolve(target))
  }

  /** Finish or undo a [[swap]] cut short at any step. The swap landed iff
    * some name is present both in `root` and in the aside: then the aside
    * is deleted, the name(s) held in both places last, so a crash here
    * leaves the same decision for the next call. Otherwise every aside
    * entry moves back and staging is dropped. Idempotent; a no-op when no
    * swap was in flight.
    */
  def recover(root: String): Unit = {
    val r = local(root)
    val aside = r.resolve(Aside)
    if (Files.isDirectory(aside)) {
      val (inBoth, asideOnly) = list(aside).partition(n => Files.exists(r.resolve(n)))
      if (inBoth.isEmpty)
        asideOnly.foreach(n => Files.move(aside.resolve(n), r.resolve(n), StandardCopyOption.ATOMIC_MOVE))
      else (asideOnly ++ inBoth).foreach(n => Pipeline.deleteRecursively(aside.resolve(n)))
      Pipeline.deleteRecursively(aside)
    }
    Pipeline.deleteRecursively(r.resolve(Staging))
  }

  /** Replace directory `dst` by `staged`: delete `dst`, then move `staged`
    * in atomically. A crash between the two leaves `dst` absent and
    * `staged` complete; callers detect that window themselves.
    */
  def replaceDir(staged: String, dst: String): Unit = {
    val d = local(dst)
    Pipeline.deleteRecursively(d)
    Files.move(local(staged), d, StandardCopyOption.ATOMIC_MOVE)
  }

  private def list(dir: Path): Seq[String] = {
    val l = Files.list(dir)
    try l.iterator().asScala.map(_.getFileName.toString).toVector finally l.close()
  }
}
