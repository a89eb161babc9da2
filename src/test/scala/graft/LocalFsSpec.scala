package graft

import java.net.URI
import java.nio.file.{FileSystems, Files, Path => NioPath}
import java.nio.file.attribute.PosixFileAttributeView
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] sets the bits the stock `chmod` path sets, falls back to
  * it where java.nio cannot, and is what `file:` resolves to under
  * [[LocalFs.conf]] through both the FileSystem and the FileContext
  * entry points. The stock `RawLocalFileSystem` is the reference. */
class LocalFsSpec extends AnyFunSuite {
  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def withTmp[A](f: NioPath => A): A = {
    val d = Files.createTempDirectory("graft-localfs")
    try f(d) finally Scratch.rm(d.toFile)
  }

  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def localFsConf: Configuration = {
    val c = new Configuration()
    LocalFs.conf.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def o(octal: String): Int = Integer.parseInt(octal, 8)
  private def perm(octal: Int) = new FsPermission(octal.toShort)

  /** Apply `octal` to a fresh file or directory with each class and
    * return (stock mode, graft mode). */
  private def both(d: NioPath, octal: Int, dir: Boolean): (Int, Int) = {
    val stock = init(new RawLocalFileSystem)
    val graft = init(new LocalFs.Raw)
    val modes = Seq("stock" -> stock, "graft" -> graft).map { case (tag, fs) =>
      val p = d.resolve(f"$tag-$octal%o-$dir")
      if (dir) Files.createDirectory(p) else Files.createFile(p)
      fs.setPermission(new Path(p.toUri), perm(octal))
      mode(p)
    }
    (modes(0), modes(1))
  }

  test("setPermission sets the bits the stock chmod sets, on files and directories") {
    withTmp { d =>
      for (octal <- Seq("644", "755", "600", "700", "750", "444").map(o);
           dir <- Seq(false, true)) {
        val (stock, graft) = both(d, octal, dir)
        assert(stock == octal, f"stock $octal%o dir=$dir")
        assert(graft == stock, f"graft $graft%o vs stock $stock%o dir=$dir")
        // ...and set through java.nio, not the stock exec
        assert(LocalFs.setPosix(d.resolve(f"graft-$octal%o-$dir"), perm(octal)))
      }
    }
  }

  test("a mode beyond 0777 takes the stock call") {
    withTmp { d =>
      val sticky = o("1755")
      assert(!LocalFs.setPosix(d, perm(sticky)))
      val (stock, graft) = both(d, sticky, dir = true)
      assert(stock == sticky && graft == stock, f"graft $graft%o vs stock $stock%o")
    }
  }

  test("a file store without a POSIX view takes the stock call") {
    withTmp { d =>
      val zip = FileSystems.newFileSystem(d.resolve("store.zip"),
        java.util.Map.of("create", "true"))
      try {
        val f = Files.createFile(zip.getPath("/f"))
        assert(Files.getFileAttributeView(f, classOf[PosixFileAttributeView]) == null)
        assert(!LocalFs.setPosix(f, perm(o("644"))))
      } finally zip.close()
    }
  }

  test("getFileLinkStatus equals the stock call's on a file, a directory and a symlink") {
    withTmp { d =>
      val file = Files.writeString(d.resolve("f"), "abc")
      val dir = Files.createDirectory(d.resolve("d"))
      val link = Files.createSymbolicLink(d.resolve("l"), file)
      val stock = init(new RawLocalFileSystem)
      val graft = init(new LocalFs.Raw)
      // a scheme-less path is the one the stock readlink can resolve
      for (p <- Seq(file, dir, link); path <- Seq(new Path(p.toUri), new Path(p.toString))) {
        val (a, b) = (stock.getFileLinkStatus(path), graft.getFileLinkStatus(path))
        assert(b == a && b.isSymlink == a.isSymlink && b.isDirectory == a.isDirectory &&
          b.getLen == a.getLen, s"$path: $b vs $a")
        if (a.isSymlink) assert(b.getSymlink == a.getSymlink)
      }
      assert(stock.getFileLinkStatus(new Path(link.toString)).isSymlink)
      intercept[java.io.FileNotFoundException](
        graft.getFileLinkStatus(new Path(d.resolve("missing").toUri)))
    }
  }

  test("getFileSystem under LocalFs.conf is graft's class even with the stock one cached") {
    val root = new Path("file:///")
    val cached = root.getFileSystem(new Configuration())
    assert(cached.isInstanceOf[LocalFileSystem] && !cached.isInstanceOf[LocalFs.Checked])
    // the cache key ignores the conf: fs.file.impl alone gets the stock one back
    val implOnly = new Configuration()
    implOnly.set("fs.file.impl", LocalFs.conf("fs.file.impl"))
    assert(root.getFileSystem(implOnly) eq cached)
    val fs = root.getFileSystem(localFsConf)
    assert(fs.isInstanceOf[LocalFs.Checked])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[LocalFs.Raw])
  }

  test("rename never replaces an existing file, as the stock class's") {
    withTmp { d =>
      val fs = new Path("file:///").getFileSystem(localFsConf)
      val Seq(a, b) = Seq("a", "b").map { n =>
        Files.writeString(d.resolve(n), n)
        new Path(d.resolve(n).toUri)
      }
      assert(!fs.rename(a, b))
      assert(Files.readString(d.resolve("b")) == "b")
      assert(fs.rename(a, new Path(d.resolve("c").toUri)))
      assert(Files.readString(d.resolve("c")) == "a")
    }
  }

  test("FileContext under LocalFs.conf resolves to the twin and writes checksums") {
    withTmp { d =>
      val fc = FileContext.getFileContext(localFsConf)
      assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.Fs])
      val dir = new Path(d.resolve("ckpt").toUri)
      fc.mkdir(dir, FsPermission.getDirDefault, true)
      val out = fc.create(new Path(dir, "0"),
        java.util.EnumSet.of(CreateFlag.CREATE))
      out.write(Array[Byte](1, 2, 3))
      out.close()
      assert(Files.exists(d.resolve("ckpt/.0.crc")))
      assert(fc.getFileStatus(new Path(dir, "0")).getLen == 3)
    }
  }

  test("a writeKeyedJson output still has one .crc file per part file") {
    val s = SparkTestBase.spark
    import s.implicits._
    val out = Scratch.deleteOnExit(
      Files.createTempDirectory("graft-localfs-sink").toString)
    sources.Normalize.writeKeyedJson(
      Seq(("a", 1), ("b", 2), ("c", 3)).toDF("chapter", "x"), out)
    val chapters = new java.io.File(out).listFiles().filter(_.isDirectory)
    assert(chapters.length == 3)
    chapters.foreach { ch =>
      val names = ch.list().toSet
      val parts = names.filter(n => n.startsWith("part-") && n.endsWith(".json"))
      assert(parts.size == 1, s"${ch.getName}: $names")
      assert(names.filter(_.endsWith(".crc")) == parts.map(p => s".$p.crc"),
        s"${ch.getName}: $names")
    }
  }

  test("q_join_bucketed's writes leave no LocalFs key on the session") {
    val s = SparkTestBase.spark.newSession()
    // drop the layout an earlier suite may have written, so both
    // saveAsTable writes run inside this test
    s.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_bkt_")).foreach(t => s.sql(s"DROP TABLE $t"))
    assert(SparkEntry.queries("q_join_bucketed")(s, SparkTestBase.sfDir)
      .collect().nonEmpty)
    assert(s.catalog.listTables().collect().count(_.name.startsWith("graft_bkt_")) == 2)
    for (k <- LocalFs.conf.keys)
      assert(s.conf.getOption(k).isEmpty, s"$k left on the session")
  }
}
