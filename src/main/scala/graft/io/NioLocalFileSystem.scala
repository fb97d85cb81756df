package graft.io

import java.net.URI
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local-filesystem shims that do chmod/stat through java.nio instead
  * of FORKING SHELL PROCESSES.
  *
  * Hadoop's `RawLocalFileSystem` falls back to `Shell.execCommand`
  * (fork+exec of `chmod`, `readlink`, `ls -ld`, `stat`) for permission
  * and link-status operations whenever the libhadoop native library is
  * absent — which it is in this image (`hadoop-client-api` ships no
  * `libhadoop.so`). Measured impact (r14, thread dumps + a per-stage profile):
  * every created file — each parquet part file AND its `.crc` twin,
  * every streaming state-store delta — pays one `chmod` fork in
  * `LocalFSFileOutputStream.<init>`, and the FileContext rename path
  * pays `readlink` forks per checkpoint-file commit; streaming
  * micro-batch tasks showed ~30 s of summed task run time against
  * ~0.5 s of CPU, all parked in `Shell.runCommand`.
  *
  * [[NioRawLocalFileSystem]] overrides exactly the two forking
  * operations with their `java.nio.file` equivalents (same POSIX
  * semantics, no process): `setPermission` →
  * `Files.setPosixFilePermissions`, and `getFileLinkStatus` →
  * `getFileStatus` (the repo's local trees contain no symlinks; the
  * File-based status never forks). Results are byte-identical — these
  * are metadata syscalls, not data paths.
  *
  * Registration (per session, `file://` scheme only):
  *   spark.hadoop.fs.file.impl = graft.io.NioLocalFileSystem
  *   spark.hadoop.fs.AbstractFileSystem.file.impl = graft.io.NioLocalFs
  *
  * On a production cluster checkpoints and sinks live on HDFS/S3 whose
  * clients never shell out — this shim is a local-mode fix, and it is
  * scheme-scoped so any non-file filesystem is untouched.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import java.nio.file.attribute.PosixFilePermission._
  import java.nio.file.attribute.PosixFilePermission

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    val m = permission.toShort.toInt
    val set = EnumSet.noneOf(classOf[PosixFilePermission])
    def add(bit: Int, perm: PosixFilePermission): Unit =
      if ((m & bit) != 0) { set.add(perm); () }
    add(0x100, OWNER_READ); add(0x80, OWNER_WRITE); add(0x40, OWNER_EXECUTE)
    add(0x20, GROUP_READ); add(0x10, GROUP_WRITE); add(0x8, GROUP_EXECUTE)
    add(0x4, OTHERS_READ); add(0x2, OTHERS_WRITE); add(0x1, OTHERS_EXECUTE)
    java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, set)
    ()
  }

  override def getFileLinkStatus(f: Path): FileStatus = getFileStatus(f)
}

/** `FileSystem`-API registration point (`fs.file.impl`): the standard
  * checksummed local filesystem over the no-fork raw layer.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `AbstractFileSystem`/FileContext registration points
  * (`fs.AbstractFileSystem.file.impl`): mirrors Hadoop's own
  * `local.LocalFs` = ChecksumFs(RawLocalFs) layering over the no-fork
  * raw filesystem. Constructor shapes are what Hadoop instantiates
  * reflectively.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false)

class NioLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new NioRawLocalFs(uri, conf))
