package graft.sources

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.LocalFileSystem

/** Hadoop `file://` filesystem with the CRC sidecar layer disabled.
  *
  * Hadoop's default `LocalFileSystem` is a `ChecksumFileSystem`: every file
  * written through it gets a hidden `.<name>.crc` sidecar, and every read
  * verifies it. On a cluster store (HDFS/S3) integrity is the store's job
  * and this layer is never in play; on a LOCAL posix fs it doubles the file
  * count of every write, and — because this sandbox has no libhadoop
  * native library — each extra file drags a `fork+exec` tail behind it
  * (Hadoop shells out `chmod`/`readlink`/`stat` per permission/status call
  * when NativeIO is unavailable). Measured on the r17 streaming rows: the
  * checkpoint + sink file traffic of ONE bounded-stream bench rep forks
  * thousands of such processes, and the per-task state-store commit stalls
  * (~0.5 s of non-CPU wait per task in the jstack profile) sit exactly on
  * that path.
  *
  * Subclassing `LocalFileSystem` (rather than rebinding `fs.file.impl` to
  * `RawLocalFileSystem`) matters: `FileSystem.getLocal` hard-casts to
  * `LocalFileSystem`, and RocksDB state uploads
  * (`RocksDBFileManager.saveImmutableFilesToDfs` → `copyFromLocalFile`) go
  * through that cast — a raw rebinding fails every RocksDB-backed row with
  * `ClassCastException`. This class IS a `LocalFileSystem`, just with both
  * checksum directions off, so data bytes and rename atomicity are
  * untouched.
  *
  * Wired via `spark.hadoop.fs.file.impl` by `graft.GraftSession`.
  */
class NoCrcLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem) {
  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(false)
    setVerifyChecksum(false)
  }
}

/** `RawLocalFileSystem` whose `setPermission` is pure-Java: without
  * NativeIO, stock Hadoop shells out one `chmod` per
  * `create(path, permission)` / `mkdirs(path, permission)` — and
  * `FileSystem.create` always passes a permission, so every file a job
  * commit touches costs a fork+exec (`LocalFSFileOutputStream` and the
  * mkdirs path both dispatch `setPermission` virtually, which is what
  * makes this override reach them). `java.nio` sets the identical POSIX
  * permission bits in-process; anything NIO cannot express falls back to
  * the stock shell path.
  */
class NoForkRawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def setPermission(
      p: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission): Unit = {
    try {
      val perms = new java.util.HashSet[java.nio.file.attribute.PosixFilePermission]()
      import java.nio.file.attribute.PosixFilePermission._
      val m = permission.toShort.toInt
      if ((m & 0x100) != 0) perms.add(OWNER_READ)
      if ((m & 0x080) != 0) perms.add(OWNER_WRITE)
      if ((m & 0x040) != 0) perms.add(OWNER_EXECUTE)
      if ((m & 0x020) != 0) perms.add(GROUP_READ)
      if ((m & 0x010) != 0) perms.add(GROUP_WRITE)
      if ((m & 0x008) != 0) perms.add(GROUP_EXECUTE)
      if ((m & 0x004) != 0) perms.add(OTHERS_READ)
      if ((m & 0x002) != 0) perms.add(OTHERS_WRITE)
      if ((m & 0x001) != 0) perms.add(OTHERS_EXECUTE)
      java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      ()
    } catch {
      case scala.util.control.NonFatal(_) => super.setPermission(p, permission)
    }
  }
}
