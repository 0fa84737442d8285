package graft.stream

import java.nio.file.Files
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FsConstants, Options, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalCheckpointFs]] against Hadoop's stock `LocalFs`: each case runs
  * the same FileContext calls through both, in temp dirs, and compares
  * what lands on disk. */
class LocalCheckpointFsSpec extends AnyFunSuite {

  private def fileContext(engine: Boolean): FileContext = {
    val conf = new Configuration()
    if (engine) LocalCheckpointFs.install(conf)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
  }

  /** (stock, engine) each with its own fresh temp dir. */
  private def both[T](f: (FileContext, java.nio.file.Path) => T): (T, T) = {
    def one(engine: Boolean) = {
      val dir = Files.createTempDirectory("graft_ckptfs")
      val fc = fileContext(engine)
      assert(fc.getDefaultFileSystem.isInstanceOf[LocalCheckpointFs] === engine)
      f(fc, dir)
    }
    (one(engine = false), one(engine = true))
  }

  private def path(p: java.nio.file.Path) = new Path(p.toUri)

  private def write(fc: FileContext, p: java.nio.file.Path, text: String,
      perm: Option[FsPermission] = None): Unit = {
    val opts = perm.map(CreateOpts.perms).toSeq
    val out = fc.create(path(p),
      EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE), opts: _*)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Reads with a buffer size, the call stock `LocalFs` checksums.
    * Without one (`bufferSize = None`), stock `LocalFs` hands back the raw
    * stream (`FilterFs.open` skips `ChecksumFs`). */
  private def read(fc: FileContext, p: java.nio.file.Path,
      bufferSize: Option[Int] = Some(4096)): String = {
    val in = bufferSize.fold(fc.open(path(p)))(fc.open(path(p), _))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def crc(p: java.nio.file.Path) = p.resolveSibling(s".${p.getFileName}.crc")

  /** Permission and special bits, as octal. */
  private def mode(p: java.nio.file.Path) =
    (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff).toOctalString

  test("created files and mkdirs get the stock permission bits") {
    val (stock, engine) = both { (fc, dir) =>
      write(fc, dir.resolve("a"), "x")
      write(fc, dir.resolve("b"), "x", Some(new FsPermission("640")))
      fc.mkdir(path(dir.resolve("d")), FsPermission.getDirDefault, true)
      fc.mkdir(path(dir.resolve("e/f")), new FsPermission("750"), true)
      fc.setPermission(path(dir.resolve("a")), new FsPermission("604"))
      // a mkdir under a setgid directory inherits the bit, which chmod(1)
      // keeps and a bare chmod(2) would clear
      Files.setAttribute(Files.createDirectory(dir.resolve("g")), "unix:mode",
        Integer.valueOf(Integer.parseInt("2775", 8)))
      fc.mkdir(path(dir.resolve("g/h")), FsPermission.getDirDefault, true)
      Seq("a", "b", "d", "e", "e/f", "g/h", ".b.crc").map(n => n -> mode(dir.resolve(n)))
    }
    assert(engine === stock)
    // the non-default modes really were applied, not left at the umask's
    assert(stock.toMap.apply("a") === "604")
    assert(stock.toMap.apply("e/f") === "750")
    assert(stock.toMap.apply("g/h") === "2755")
  }

  test(".crc sidecars are byte-identical") {
    val text = "offsets v1\n" * 200
    val (stock, engine) = both { (fc, dir) =>
      write(fc, dir.resolve("log"), text)
      Files.readAllBytes(crc(dir.resolve("log"))).toSeq
    }
    assert(stock.nonEmpty)
    assert(engine === stock)
  }

  test("rename with OVERWRITE replaces the target's data and its .crc") {
    val (stock, engine) = both { (fc, dir) =>
      val (src, dst) = (dir.resolve("tmp"), dir.resolve("1.delta"))
      write(fc, dst, "old")
      write(fc, src, "new contents")
      fc.rename(path(src), path(dst), Options.Rename.OVERWRITE)
      val ls = Files.list(dir)
      val names = try ls.toArray.map(_.asInstanceOf[java.nio.file.Path]
        .getFileName.toString).sorted.toSeq finally ls.close()
      (names, read(fc, dst), Files.readAllBytes(crc(dst)).toSeq)
    }
    assert(stock._1 === Seq(".1.delta.crc", "1.delta"))
    assert(stock._2 === "new contents")
    assert(engine === stock)
  }

  test("getFileLinkStatus on a real symlink matches stock") {
    val (stock, engine) = both { (fc, dir) =>
      val target = dir.resolve("target")
      write(fc, target, "0123456789")
      val link = Files.createSymbolicLink(dir.resolve("link"), target)
      // qualified (file:) and bare absolute spellings of the same link
      Seq(path(link), new Path(link.toString)).map { p =>
        val st = fc.getFileLinkStatus(p)
        (st.isSymlink, if (st.isSymlink) st.getSymlink.toUri.getPath else "",
          st.getLen)
      } :+ {
        val st = fc.getFileLinkStatus(path(target))
        (st.isSymlink, "", st.getLen)
      }
    }
    // Hadoop sees the link through the bare spelling
    assert(stock(1)._1)
    assert(stock(1)._2.endsWith("/target"))
    assert(engine.map(s => (s._1, s._2.replaceAll(".*/", ""), s._3)) ===
      stock.map(s => (s._1, s._2.replaceAll(".*/", ""), s._3)))
  }

  test("a flipped byte fails the read with ChecksumException") {
    both { (fc, dir) =>
      val f = dir.resolve("commit")
      write(fc, f, "batch 7 committed\n" * 40)
      val raf = new java.io.RandomAccessFile(f.toFile, "rw")
      try { raf.seek(100); val b = raf.read(); raf.seek(100); raf.write(b ^ 1) }
      finally raf.close()
      intercept[ChecksumException](read(fc, f))
      // on the engine, also through the one-argument open that Spark's
      // checkpoint file manager calls (stock LocalFs does not check it)
      if (fc.getDefaultFileSystem.isInstanceOf[LocalCheckpointFs])
        intercept[ChecksumException](read(fc, f, None))
    }
  }
}
