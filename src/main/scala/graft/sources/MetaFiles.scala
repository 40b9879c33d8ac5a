package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** How the program publishes its small metadata files — IceTable's
  * `snapshots/v<id>.json` and `CURRENT`, and the tier store's
  * `_checkpoints/day-*.json` markers and `expired.json` tombstones. Every
  * read, replace and claim of one goes through here, and a reader only
  * ever sees a complete file.
  *
  * Each write first puts the whole content in a hidden temp file beside
  * `dst` (`.<name>.tmp-<uuid>`, skipped by every listing that looks for
  * metadata), then publishes it in one step:
  *   - on the local filesystem, with `java.nio` alone, so no Hadoop `.crc`
  *     sidecar is written or checked: a CLAIM hard-links the temp file to
  *     `dst` (POSIX `link(2)` fails atomically when `dst` exists, so it is
  *     a put-if-absent across threads and processes) and then deletes the
  *     temp file; a REPLACE renames it over `dst` (`rename(2)`), after
  *     deleting any stale `.crc` an older Hadoop writer left beside `dst`;
  *   - on any other filesystem, with `FileContext.rename` of the temp file,
  *     without overwrite for a claim (atomic on HDFS) and with `OVERWRITE`
  *     for a replace.
  * A crash leaves at most a hidden temp file, never a partial `dst`. */
final class MetaFiles(fs: FileSystem) {
  private val local = "file" == fs.getUri.getScheme
  private lazy val fc: FileContext = FileContext.getFileContext(fs.getUri, fs.getConf)

  private def nio(p: Path): java.nio.file.Path = Paths.get(fs.makeQualified(p).toUri)

  private def tmpFor(dst: Path): Path =
    new Path(dst.getParent, s".${dst.getName}.tmp-${java.util.UUID.randomUUID()}")

  private def stageLocal(dst: Path, content: String): java.nio.file.Path =
    Files.writeString(nio(tmpFor(dst)), content)

  private def stageHadoop(dst: Path, content: String): Path = {
    val tmp = tmpFor(dst)
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    tmp
  }

  /** The content of `p`, or None when there is no such file. */
  def read(p: Path): Option[String] =
    if (local)
      try Some(Files.readString(nio(p)))
      catch { case _: NoSuchFileException => None }
    else
      try {
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }

  /** Publish `content` at `dst` unless a file is already there. True iff
    * this call published it; false when another writer holds `dst`. */
  def claim(dst: Path, content: String): Boolean =
    if (local) {
      val tmp = stageLocal(dst, content)
      try { Files.createLink(nio(dst), tmp); true }
      catch { case _: FileAlreadyExistsException => false }
      finally Files.delete(tmp)
    } else {
      val tmp = stageHadoop(dst, content)
      try { fc.rename(tmp, dst); true }
      catch {
        case e: java.io.IOException =>
          // claim lost (or storage refused) — if dst now exists someone
          // else holds it; surface anything else as a real failure
          fs.delete(tmp, false): Unit
          if (fs.exists(dst)) false
          else throw new IllegalStateException(s"claim of $dst failed without a competing file", e)
      }
    }

  /** Publish `content` at `dst`, replacing any file there. On the local
    * filesystem this first deletes the `.<name>.crc` sidecar that Hadoop's
    * checksummed local FS wrote beside an older `dst`, if one is there: it
    * would not match the new content, and a reader going through Hadoop
    * would fail with a ChecksumException. */
  def replace(dst: Path, content: String): Unit =
    if (local) {
      val tmp = stageLocal(dst, content)
      Files.deleteIfExists(nio(new Path(dst.getParent, s".${dst.getName}.crc")))
      Files.move(tmp, nio(dst), StandardCopyOption.ATOMIC_MOVE): Unit
    } else fc.rename(stageHadoop(dst, content), dst, Options.Rename.OVERWRITE)
}
