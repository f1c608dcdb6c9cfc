package graft.sources

import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission

/** Fork-free local filesystem (r20; found via guide §7.3 driver
  * thread dumps).
  *
  * Without the libhadoop native library — absent from this Spark
  * distribution, and from most — `RawLocalFileSystem` shells out for
  * two metadata calls:
  *
  *   - `setPermission` falls back to `Shell.execCommand`: it FORKS a
  *     `chmod` process. Every local file create and every mkdir calls
  *     setPermission (`createOutputStreamWithMode` /
  *     `mkOneDirWithMode`), so a commit that writes a handful of tiny
  *     parquet files pays several fork+exec rounds (~5–30 ms each) per
  *     file, on executors and — for streaming offsets/commits logs —
  *     on the driver. Thread samples during the streaming-view keys
  *     caught write tasks inside `ProcessImpl.forkAndExec` under
  *     `RawLocalFileSystem.setPermission` in 6 of 14 dumps.
  *   - `getFileLinkStatus` runs `FileUtil.readLink`, which FORKS a
  *     `readlink` process. `FileContext.rename` (through
  *     `ChecksumFs.renameInternal` and the default
  *     `AbstractFileSystem.renameInternal`) asks twice for the link
  *     status of source and destination, for the data file and again
  *     for its `.crc`, so every streaming offsets/commits/source log
  *     write forked `readlink` eight times on the driver — 24 forks
  *     per micro-batch, about 3 ms apart. The r20 version of this
  *     class covered only `chmod`, so renames kept forking until the
  *     override below.
  *
  * This subclass answers both through java.nio (one syscall, no fork;
  * only a path that really is a symlink still takes the stock
  * `readlink` route). Everything else — including the checksummed
  * LocalFileSystem wrapper some consumers downcast to, and whose
  * create/rename behavior streaming state stores expect — stays
  * stock. Scale posture: this is a local-FS deployment fix; on
  * HDFS/S3 the `file:` scheme serves only scratch I/O and the conf is
  * harmless.
  */
class NioRawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    java.nio.file.Files.setPosixFilePermissions(
      pathToFile(p).toPath, NioLocalFileSystem.posixOf(permission.toShort))
  }

  /** A path that is not a symlink gets `getFileStatus` — the branch
    * stock Hadoop takes when `readlink` prints nothing — so a missing
    * path still throws `FileNotFoundException`. A real symlink,
    * dangling or not, goes to the stock implementation unchanged. */
  override def getFileLinkStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    if (java.nio.file.Files.isSymbolicLink(pathToFile(f).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Drop-in for the stock `fs.file.impl` (LocalFileSystem): the same
  * checksummed wrapper — several consumers downcast the `file:` FS to
  * LocalFileSystem (Avro/SequenceFile sinks), and the checksum layer's
  * create/rename behavior is what streaming state stores were
  * validated against — with ONLY the raw layer swapped for the
  * fork-free one. */
class NioLocalFileSystem
  extends org.apache.hadoop.fs.LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {
  import PosixFilePermission._
  // bit 8 (owner read) … bit 0 (others execute); setuid/sticky bits
  // above bit 8 are not representable in NIO and never requested by
  // Spark's writers — masked off exactly like `chmod 0xxx` would
  private val order = Array(
    OWNER_READ, OWNER_WRITE, OWNER_EXECUTE,
    GROUP_READ, GROUP_WRITE, GROUP_EXECUTE,
    OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)

  def posixOf(bits: Short): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    var i = 0
    while (i < 9) {
      if ((bits & (1 << (8 - i))) != 0) s.add(order(i))
      i += 1
    }
    s
  }
}

/** The `AbstractFileSystem` twin (`fs.AbstractFileSystem.file.impl`):
  * streaming checkpoint managers go through `FileContext`, whose
  * default local binding builds its own `RawLocalFileSystem` — the
  * driver forked a `chmod` per offsets/commits log write per trigger,
  * and eight `readlink`s per log rename, until this delegate routed
  * both through the NIO implementation. */
class NioRawLocalFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, "file", false)

/** Mirrors the stock `fs.AbstractFileSystem.file.impl` (LocalFs =
  * ChecksumFs over RawLocalFs) with the raw layer swapped. */
class NioLocalFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.ChecksumFs(new NioRawLocalFs(uri, conf))
