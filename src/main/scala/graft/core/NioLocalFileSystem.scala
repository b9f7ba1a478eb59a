package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` FileSystem, set through `spark.hadoop.fs.file.impl`
  * in [[GraftSession.builder]]: Hadoop's checksummed `LocalFileSystem`
  * (`.crc` sidecars written and verified as before) over a raw local
  * filesystem that sets permissions with java.nio.
  *
  * Hadoop's `RawLocalFileSystem` calls `setPermission` for every file it
  * creates (a part file and its `.crc` sidecar alike) and every directory
  * it makes, and without its native library that forks `chmod`: about two
  * forks per part file on executor task threads, for the ingest JSON
  * sink, every parquet store `Maintenance.land` writes and every
  * `FileOutputCommitter` directory (BENCHNOTES "Part files without
  * forks"). Here the nine rwx bits, already masked by the umask as
  * before, are set with `Files.setPosixFilePermissions`. A mode nio
  * cannot express (the sticky bit) and a store without POSIX attributes
  * take Hadoop's own path. Hadoop caches one `file:` FileSystem per user
  * for the whole JVM, so the session's conf must be the first to resolve
  * `file:` (`EngineWritesSpec` checks it for the test session). */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  val ConfKey = "spark.hadoop.fs.file.impl"

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  // in mode-bit order: OWNER_READ is 0400, OTHERS_EXECUTE is 0001
  private val Bits = PosixFilePermission.values.toIndexedSeq

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- Bits.indices if (mode & (0x100 >> i)) != 0) s.add(Bits(i))
    s
  }
}
