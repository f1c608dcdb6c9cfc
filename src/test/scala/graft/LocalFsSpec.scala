package graft

import java.io.FileNotFoundException
import java.net.URI

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.NioRawLocalFileSystem

/** Focused coverage for the r20 fork-free local FS: the session must
  * actually bind `file:` to the NIO implementation, permissions set
  * via java.nio must land byte-identically to what `chmod` would do,
  * link status must answer exactly like stock `RawLocalFileSystem`
  * without forking `readlink`, and the checksummed wrapper contract
  * (downcast to LocalFileSystem) must survive — the Avro/SequenceFile
  * sinks rely on it. */
class LocalFsSpec extends SparkSpec {

  test("session file: FS is the NIO LocalFileSystem wrapper") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[graft.sources.NioLocalFileSystem])
    // the downcast the sink formats perform
    assert(fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem])
  }

  test("setPermission matches the requested POSIX bits without forking") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val f = java.io.File.createTempFile("graft_nio_perm", ".tmp")
    f.deleteOnExit()
    val p = new Path(f.getAbsolutePath)
    for (bits <- Seq("644", "600", "755", "640")) {
      fs.setPermission(p, new FsPermission(Integer.parseInt(bits, 8).toShort))
      val got = java.nio.file.Files.getPosixFilePermissions(f.toPath)
      val want = graft.sources.NioLocalFileSystem.posixOf(
        Integer.parseInt(bits, 8).toShort)
      assert(got === want, s"bits $bits")
    }
    f.delete()
  }

  test("posixOf decodes every bit position") {
    import java.nio.file.attribute.PosixFilePermission._
    assert(graft.sources.NioLocalFileSystem.posixOf(0x1ff.toShort).size === 9)
    assert(graft.sources.NioLocalFileSystem.posixOf(0.toShort).isEmpty)
    val rw = graft.sources.NioLocalFileSystem.posixOf(
      Integer.parseInt("640", 8).toShort)
    assert(rw === java.util.EnumSet.of(OWNER_READ, OWNER_WRITE, GROUP_READ))
  }

  test("parquet write/read roundtrip through the NIO FS") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nio_rt")
    dir.toFile.deleteOnExit()
    val out = dir.resolve("t").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(out)
    val back = spark.read.parquet(out).orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b")))
  }

  private def conf = spark.sparkContext.hadoopConfiguration

  test("session FileContext for file: is the NIO ChecksumFs") {
    // streaming checkpoint logs write through FileContext, not FileSystem
    val fc = FileContext.getFileContext(new URI("file:///"), conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[graft.sources.NioLocalFs])
  }

  test("getFileLinkStatus matches stock RawLocalFileSystem, missing path included") {
    def init(fs: RawLocalFileSystem): RawLocalFileSystem = {
      fs.initialize(new URI("file:///"), conf); fs
    }
    val stock = init(new RawLocalFileSystem)
    val nio = init(new NioRawLocalFileSystem)
    val dir = java.nio.file.Files.createTempDirectory("graft_nio_link")
    val file = java.nio.file.Files.write(dir.resolve("f"), "hello".getBytes)
    val sub = java.nio.file.Files.createDirectory(dir.resolve("d"))
    val link = java.nio.file.Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = java.nio.file.Files.createSymbolicLink(
      dir.resolve("x"), dir.resolve("missing"))
    // the fields rename and checkpoint managers read, or the exception
    def outcome(fs: FileSystem, p: Path): Either[Class[_], Any] =
      try {
        val st = fs.getFileLinkStatus(p)
        Right((st.getLen, st.isDirectory, st.isSymlink,
          if (st.isSymlink) Some(st.getSymlink) else None))
      } catch { case e: java.io.IOException => Left(e.getClass) }
    val missing = dir.resolve("missing")
    for (f <- Seq(file, sub, link, dangling, missing);
         p <- Seq(new Path(f.toString), new Path(f.toUri))) {
      assert(outcome(nio, p) === outcome(stock, p), s"path $p")
    }
    // the plain-path cases must really exercise each branch
    assert(outcome(nio, new Path(missing.toString)) ===
      Left(classOf[FileNotFoundException]))
    assert(outcome(nio, new Path(file.toString)) === Right((5L, false, false, None)))
    assert(nio.getFileLinkStatus(new Path(sub.toString)).isDirectory)
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    Seq(link, dangling, file, sub, dir).foreach(java.nio.file.Files.delete)
  }

  test("FileContext rename with OVERWRITE moves the file and its .crc") {
    val fc = FileContext.getFileContext(new URI("file:///"), conf)
    val dir = java.nio.file.Files.createTempDirectory("graft_nio_rename")
    def write(p: Path, body: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(
        org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      try out.write(body.getBytes) finally out.close()
    }
    def crc(p: Path) = dir.resolve(s".${p.getName}.crc").toFile
    val src = new Path(dir.resolve("src").toUri)
    val dst = new Path(dir.resolve("dst").toUri)
    write(src, "new body")
    write(dst, "old")
    assert(crc(src).exists && crc(dst).exists)
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(src) && !crc(src).exists)
    assert(crc(dst).exists)
    // the read verifies the moved checksum against the moved data
    val in = fc.open(dst)
    val got = try new String(in.readAllBytes()) finally in.close()
    assert(got === "new body")
  }
}
