package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The session's `file` scheme is [[ForkFreeLocalFileSystem]] /
  * [[ForkFreeLocalFs]], and they leave the disk as Hadoop's stock local
  * filesystems do: the same calls on the graft and the stock classes, in
  * sibling directories under the same conf (hence the same umask), give
  * the same POSIX permissions and the same link statuses. */
class ForkFreeLocalFsSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  private def graftConf: Configuration =
    new Configuration(spark.sparkContext.hadoopConfiguration)

  private def stockConf: Configuration = {
    val c = graftConf
    c.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl",
      classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    c
  }

  // newInstance: the FileSystem cache is keyed by scheme and user, not conf
  private def withFs[T](conf: Configuration)(f: FileSystem => T): T = {
    val fs = FileSystem.newInstance(new URI("file:///"), conf)
    try f(fs) finally fs.close()
  }

  /** Relative path → POSIX permission string of every entry under `root`. */
  private def perms(root: String): Map[String, String] = {
    val r = Paths.get(root)
    val walk = Files.walk(r)
    try walk.iterator.asScala.filter(_ != r).map(p =>
      r.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toMap
    finally walk.close()
  }

  /** mkdirs, FileSystem create, and FileContext create + rename(OVERWRITE),
    * with default and explicit permissions, under `root`. */
  private def exercise(conf: Configuration, root: String): Unit = {
    withFs(conf) { fs =>
      assert(fs.mkdirs(new Path(s"$root/d/plain")))
      assert(fs.mkdirs(new Path(s"$root/d/explicit"), new FsPermission("750")))
      fs.create(new Path(s"$root/d/plain/f")).close()
      fs.create(new Path(s"$root/d/explicit/f"), new FsPermission("640"), true,
        4096, 1.toShort, 1L << 20, null).close()
    }
    val fc = FileContext.getFileContext(conf)
    val tmp = new Path(s"$root/log/.0.tmp")
    fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.createParent()).close()
    fc.create(new Path(s"$root/log/0"), java.util.EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.perms(new FsPermission("600"))).close()
    fc.rename(tmp, new Path(s"$root/log/0"), Options.Rename.OVERWRITE)
  }

  test("the session resolves file: to the fork-free classes in both Hadoop APIs") {
    withFs(graftConf)(fs => assert(fs.isInstanceOf[ForkFreeLocalFileSystem]))
    assert(FileContext.getFileContext(graftConf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
  }

  test("mkdirs, create and FileContext create + rename leave stock permissions") {
    val (mine, stock) = (tempDir("graft_fs_mine"), tempDir("graft_fs_stock"))
    exercise(graftConf, mine)
    exercise(stockConf, stock)
    val (got, want) = (perms(mine), perms(stock))
    assert(want.keySet.exists(_.endsWith(".crc")), s"fixture: no checksum files: $want")
    assert(want.contains("log/0") && !want.contains("log/.0.tmp"), s"fixture: $want")
    assert(got == want)
  }

  test("getFileLinkStatus of a symlink and of a plain file equals stock's") {
    val dir = tempDir("graft_fs_link")
    val target = Paths.get(dir, "target")
    Files.write(target, "twelve bytes".getBytes("UTF-8"))
    Files.createSymbolicLink(Paths.get(dir, "link"), target)
    val (mine, stock) = (new ForkFreeRawLocalFileSystem, new RawLocalFileSystem)
    Seq(mine, stock).foreach(_.initialize(new URI("file:///"), graftConf))
    try {
      // readlink's view: an unqualified path names the file, a qualified
      // one ("file:/…") is never a link
      val cases = for {
        name <- Seq("link", "target")
        p <- Seq(new Path(s"$dir/$name"), new Path(s"file://$dir/$name"))
      } yield p
      val linkSeen = cases.map { p =>
        val (g, s) = (mine.getFileLinkStatus(p), stock.getFileLinkStatus(p))
        assert(g.isSymlink == s.isSymlink, p)
        if (s.isSymlink) assert(g.getSymlink == s.getSymlink, p)
        assert(g.getLen == s.getLen && g.getPath == s.getPath, p)
        s.isSymlink
      }
      assert(linkSeen == Seq(true, false, false, false),
        "fixture: exactly the unqualified link path is a link")
    } finally Seq(mine, stock).foreach(_.close())
  }

  test("a sticky-bit mode takes the forked fallback and still applies") {
    val dir = new Path(tempDir("graft_fs_sticky"), "d")
    withFs(graftConf) { fs =>
      assert(fs.mkdirs(dir))
      fs.setPermission(dir, new FsPermission("1755"))
    }
    val mode = Files.getAttribute(Paths.get(dir.toString), "unix:mode").asInstanceOf[Int]
    assert((mode & 0xfff) == Integer.parseInt("1755", 8), f"mode ${mode & 0xfff}%o")
  }

  test("posixBits maps every rwx mode as chmod does") {
    (0 until 512).foreach { m =>
      val rwx = (8 to 0 by -1).map(i => if ((m >> i & 1) == 1) "rwx"(2 - i % 3) else '-')
      assert(ForkFreeRawLocalFileSystem.posixBits(m) ==
        PosixFilePermissions.fromString(rwx.mkString), f"$m%o")
    }
  }
}
