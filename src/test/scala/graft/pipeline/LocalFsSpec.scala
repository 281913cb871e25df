package graft.pipeline

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The in-process `file:` filesystem `Sessions.tune` registers: it must be
  * what a graft session's Hadoop conf resolves, behave as the stock local
  * filesystem does (permission bits, link status, no-overwrite rename, CRC
  * files), and write checkpoint files without a process spawn each. */
class LocalFsSpec extends AnyFunSuite {
  private def hadoopConf = TestSpark.spark.sessionState.newHadoopConf()
  private val local = new URI("file:///")

  private def initialized(fs: FileSystem): FileSystem = {
    fs.initialize(local, hadoopConf)
    fs
  }

  test("file: resolves to the in-process classes through both Hadoop APIs") {
    val fs = FileSystem.newInstance(local, hadoopConf)
    try {
      assert(fs.isInstanceOf[NioLocalFileSystem])
      assert(fs.asInstanceOf[NioLocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    } finally fs.close()
    val fc = FileContext.getFileContext(local, hadoopConf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("setPermission leaves the same on-disk bits as the stock filesystem") {
    val dir = Files.createTempDirectory("graft_localfs_perm")
    val stock = initialized(new RawLocalFileSystem)
    val nio = initialized(new NioRawLocalFileSystem)
    for (mode <- Seq("600", "644", "755"); isDir <- Seq(false, true)) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val modes = Seq(stock, nio).map { fs =>
        val p = dir.resolve(s"${fs.getClass.getSimpleName}_${mode}_$isDir")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        fs.setPermission(new Path(p.toString), perm)
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }
      assert(modes.head == perm.toString, s"stock $mode dir=$isDir")
      assert(modes(1) == modes.head, s"$mode dir=$isDir")
    }
  }

  test("getFileLinkStatus is getFileStatus on a regular file and still sees a symlink") {
    val dir = Files.createTempDirectory("graft_localfs_link")
    val file = dir.resolve("data")
    Files.write(file, "abc".getBytes("UTF-8"))
    val fs = initialized(new NioRawLocalFileSystem)
    def fields(s: FileStatus) = (s.getPath, s.isDirectory, s.isSymlink, s.getLen,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    val p = new Path(file.toString)
    assert(fields(fs.getFileLinkStatus(p)) == fields(fs.getFileStatus(p)))

    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val ls = fs.getFileLinkStatus(new Path(link.toString))
    assert(ls.isSymlink)
    assert(ls.getSymlink.toUri.getPath == file.toString)
  }

  test("FileContext no-overwrite rename onto an existing file still throws") {
    val dir = Files.createTempDirectory("graft_localfs_rename")
    val fc = FileContext.getFileContext(local, hadoopConf)
    val Seq(src, dst) = Seq("src", "dst").map { n =>
      val p = new Path(dir.resolve(n).toUri)
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
      out.write(n.getBytes("UTF-8"))
      out.close()
      p
    }
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(new String(Files.readAllBytes(dir.resolve("dst")), "UTF-8") == "dst")
  }

  test("FileSystem rename onto an existing file behaves as the stock-registered file: class") {
    val dir = Files.createTempDirectory("graft_localfs_fsrename")
    val outcomes = Seq(new Configuration(), hadoopConf).map { conf =>
      val fs = FileSystem.newInstance(local, conf)
      try {
        val Seq(src, dst) = Seq("src", "dst").map { n =>
          val p = new Path(dir.resolve(s"${fs.getClass.getSimpleName}_$n").toString)
          val out = fs.create(p)
          out.write(n.getBytes("UTF-8"))
          out.close()
          p
        }
        val renamed = fs.rename(src, dst)
        val in = fs.open(dst)
        try (renamed, fs.exists(src), new String(in.readAllBytes(), "UTF-8")) finally in.close()
      } finally fs.close()
    }
    assert(outcomes(1) == outcomes.head)
    assert(outcomes.head == ((false, true, "dst")))
  }

  test("a .crc is written and a flipped data byte fails the checked read") {
    val dir = Files.createTempDirectory("graft_localfs_crc")
    val fc = FileContext.getFileContext(local, hadoopConf)
    val p = new Path(dir.resolve("data").toUri)
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
    out.write(Array.tabulate[Byte](4096)(_.toByte))
    out.close()
    assert(Files.exists(dir.resolve(".data.crc")))

    val raf = new RandomAccessFile(dir.resolve("data").toFile, "rw")
    try { raf.seek(100); val b = raf.read(); raf.seek(100); raf.write(b ^ 0xff) }
    finally raf.close()
    // Read through the FileSystem API: FileContext's one-argument `open`
    // skips ChecksumFs's verifying stream in stock Hadoop as well.
    val fs = FileSystem.newInstance(local, hadoopConf)
    try intercept[ChecksumException] {
      val in = fs.open(p)
      try in.readFully(new Array[Byte](4096)) finally in.close()
    } finally fs.close()
  }

  test("200 atomic checkpoint-file writes finish in under 2 s") {
    val dir = new Path(Files.createTempDirectory("graft_localfs_ckpt").toUri)
    val fm = CheckpointFileManager.create(dir, hadoopConf)
    val t0 = System.nanoTime()
    for (i <- 0 until 200) {
      val out = fm.createAtomic(new Path(dir, i.toString), overwriteIfPossible = false)
      out.write(i)
      out.close()
    }
    val ms = (System.nanoTime() - t0) / 1000000
    assert(fm.list(dir).length == 200)
    assert(ms < 2000, s"200 createAtomic writes took $ms ms")
  }
}
