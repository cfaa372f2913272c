package graft

import java.nio.file.{Files, Path}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.table.NioRawLocalFileSystem

class NioLocalFileSystemSpec extends AnyFunSuite {
  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val nio = initialized(new NioRawLocalFileSystem)

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def modeOf(p: Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  /** Modes of a fresh file and a fresh dir after `fs.setPermission(mode)`;
    * `dirMode`, if given, is set on the dir first.
    */
  private def modesAfter(fs: RawLocalFileSystem, mode: String,
      dirMode: Option[String] = None): (Int, Int) = {
    val root = SparkTestSession.tmpDir("perm-")
    val f = Files.createFile(root.resolve("f"))
    val d = Files.createDirectory(root.resolve("d"))
    dirMode.foreach(m => Files.setAttribute(d, "unix:mode", Integer.valueOf(octal(m))))
    Seq(f, d).foreach(p =>
      fs.setPermission(new HPath(p.toUri), new FsPermission(octal(mode).toShort)))
    (modeOf(f), modeOf(d))
  }

  test("setPermission gives the mode the default local FS gives") {
    for (mode <- Seq("644", "755", "600")) {
      assert(modesAfter(nio, mode) == (octal(mode), octal(mode)), mode)
      assert(modesAfter(nio, mode) == modesAfter(stock, mode), mode)
    }
  }

  test("a sticky-bit mode takes the inherited chmod path") {
    // nio cannot set the sticky bit: the dir carrying it shows the fallback ran
    assert(modesAfter(nio, "1755") == modesAfter(stock, "1755"))
    assert(modesAfter(nio, "1755")._2 == octal("1755"))
  }

  test("a set-group-ID dir keeps the bit, as with chmod") {
    val got = modesAfter(nio, "755", dirMode = Some("2755"))
    assert(got == modesAfter(stock, "755", dirMode = Some("2755")))
    assert(got == (octal("755"), octal("2755")))
  }
}
