package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus,
  LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The engine's one small-file reader and writer. Every streaming
  * offset, commit, source and sink log and every state-store file comes
  * here through Spark's `spark.sql.streaming.checkpointFileManagerClass`
  * hook, set in [[GraftSession.builder]]. The engine's own metadata
  * comes through the companion's three helpers:
  *  - [[LocalCheckpointFileManager.writeAtomic]]: `PackStream`'s
  *    `pack_state.json` and `stats.json`; `IndexStore`'s
  *    `manifest.json`, encode `stats.json`, `_GC_SIGHTED` marker and GC
  *    clock probe; `CurateStream`'s DSIR `stats.json`; `Maintenance`'s
  *    `_compact_inprogress` plan;
  *  - [[LocalCheckpointFileManager.readString]]: every read of those;
  *  - [[LocalCheckpointFileManager.ensureMarked]]: the build-once
  *    `_graft_fingerprint` markers of `Bucketing.ensureBucketed` and
  *    `IndexStore.ensureArtifactFor`.
  *
  * On the local filesystem a file is written with java.nio to a
  * dot-prefixed temp file in its target directory and published in one
  * atomic step. That publish is why this class stays now that the
  * engine's `file:` FileSystem ([[NioLocalFileSystem]]) no longer forks
  * `chmod`: Spark's default manager renames through `FileContext`, which
  * forks `readlink` for every link-status lookup without Hadoop's native
  * library, and its FileSystem-based manager checks for the target and
  * then renames, which is not atomic against a second writer (BENCHNOTES
  * "Checkpoint files without forks"). Files written here carry no `.crc`
  * sidecar; the checksummed reader accepts a file without one.
  *  - no overwrite (`HDFSMetadataLog`'s second-writer detection): the
  *    temp file is hard-linked to the target, which fails atomically
  *    with Hadoop's `FileAlreadyExistsException` when the target exists
  *    and leaves its bytes alone;
  *  - overwrite: an atomic rename over the target, after deleting the
  *    old file's `.crc` sidecar, whose stale checksum the checksummed
  *    reader would otherwise reject.
  * Neither path fsyncs, the same as Spark's default manager.
  *
  * Every other scheme gets Spark's default manager, unchanged. */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  private val localFile: Option[Path => java.io.File] = path.getFileSystem(conf) match {
    case fs: LocalFileSystem => Some(fs.pathToFile _)
    case fs: RawLocalFileSystem => Some(fs.pathToFile _)
    case _ => None
  }

  private val fm: CheckpointFileManager =
    if (localFile.isDefined) new FileSystemBasedCheckpointFileManager(path, conf)
    else {
      val c = new Configuration(conf)
      c.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, c)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    localFile match {
      case Some(file) => LocalCheckpointFileManager.createAtomic(file(p).toPath, overwriteIfPossible)
      case None => fm.createAtomic(p, overwriteIfPossible)
    }

  override def mkdirs(p: Path): Unit = fm.mkdirs(p)
  override def open(p: Path): FSDataInputStream = fm.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = fm.list(p, filter)
  override def exists(p: Path): Boolean = fm.exists(p)
  override def delete(p: Path): Unit = fm.delete(p)
  override def isLocal: Boolean = fm.isLocal
  override def createCheckpointDirectory(): Path = fm.createCheckpointDirectory()
  override def close(): Unit = fm.close()
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Replace `dst` with `bytes` in one atomic step, creating its
    * directory if needed: readers see the old file or the new one, never
    * a torn one. Atomicity rides the filesystem's rename (POSIX, HDFS);
    * a store without one (S3's copy+delete) needs a conditional PUT. */
  def writeAtomic(dst: Path, conf: Configuration, bytes: Array[Byte]): Unit = {
    val fm = new LocalCheckpointFileManager(dst.getParent, conf)
    fm.mkdirs(dst.getParent)
    val out = fm.createAtomic(dst, overwriteIfPossible = true)
    try out.write(bytes) catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  /** The UTF-8 text of `p`, or `None` when it does not exist. */
  def readString(p: Path, conf: Configuration): Option[String] =
    try {
      val in = p.getFileSystem(conf).open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Build-once: unless `marker` already holds `expected`, run `build`
    * and then publish `expected` to `marker` with [[writeAtomic]]. A
    * crash inside `build` or before the marker lands leaves the old
    * marker or none, neither of which holds `expected`, so the next call
    * builds again. */
  def ensureMarked(marker: Path, conf: Configuration, expected: String)(build: => Unit): Unit =
    if (!readString(marker, conf).contains(expected)) {
      build
      writeAtomic(marker, conf, expected.getBytes(StandardCharsets.UTF_8))
    }

  private def createAtomic(dst: java.nio.file.Path,
      overwrite: Boolean): CancellableFSDataOutputStream = {
    val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp")
    val file = new java.io.BufferedOutputStream(
      Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
    new CancellableFSDataOutputStream(file) {
      private var terminated = false

      override def close(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try { file.close(); publish(tmp, dst, overwrite) }
          finally Files.deleteIfExists(tmp)
        }
      }

      override def cancel(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try file.close() catch { case NonFatal(_) => }
          finally Files.deleteIfExists(tmp)
        }
      }
    }
  }

  private def publish(tmp: java.nio.file.Path, dst: java.nio.file.Path, overwrite: Boolean): Unit =
    if (overwrite) {
      Files.deleteIfExists(dst.resolveSibling(s".${dst.getFileName}.crc"))
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } else {
      try Files.createLink(dst, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"$dst already exists")
      }
    }
}
