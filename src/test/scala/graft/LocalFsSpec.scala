package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** graft's in-process local file system (`graft.io`) leaves the same
  * files with the same mode bits and answers link-status calls as
  * Hadoop's stock local file system does, on both Hadoop APIs. */
class LocalFsSpec extends AnyFunSuite {
  private val root = URI.create("file:///")
  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  private def conf(stock: Boolean, umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c.set("fs.AbstractFileSystem.file.impl",
      if (stock) "org.apache.hadoop.fs.local.LocalFs" else classOf[graft.io.LocalFs].getName)
    c
  }
  private def fileSystem(stock: Boolean, umask: String): FileSystem = {
    val fs = if (stock) new org.apache.hadoop.fs.LocalFileSystem else new graft.io.LocalFileSystem
    fs.initialize(root, conf(stock, umask))
    fs
  }
  private def fileContext(stock: Boolean, umask: String): FileContext =
    FileContext.getFileContext(root, conf(stock, umask))

  /** relative path -> mode bits (sticky, setuid and setgid included) of every entry under `dir` */
  private def modes(dir: String): Map[String, Int] = {
    val base = Paths.get(dir)
    val walk = Files.walk(base)
    try walk.iterator.asScala.filter(_ != base).map { p =>
      base.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff)
    }.toMap finally walk.close()
  }

  /** runs `ops` under a fresh root with stock and with graft's classes; the trees must match */
  private def sameTrees(ops: (Boolean, String) => Unit): Map[String, Int] = {
    val Seq(stock, ours) = Seq(true, false).map { s =>
      val dir = Files.createTempDirectory("localfs").toString
      ops(s, dir)
      modes(dir)
    }
    assert(ours == stock)
    stock
  }

  private def write(out: java.io.OutputStream): Unit =
    try out.write("0123456789".getBytes) finally out.close()

  test("FileSystem create, mkdirs, setPermission and rename leave the stock mode bits under each umask") {
    Seq("022", "077", "002").foreach { umask =>
      val tree = sameTrees { (stock, dir) =>
        val fs = fileSystem(stock, umask)
        // a setgid parent: chmod keeps the bit on the directories made in it
        fs.mkdirs(new Path(s"$dir/g"))
        assert(new ProcessBuilder("chmod", "g+s", s"$dir/g").start().waitFor() == 0)
        write(fs.create(new Path(s"$dir/a/b/f1")))
        fs.mkdirs(new Path(s"$dir/d1"))
        fs.mkdirs(new Path(s"$dir/d2/e"), octal("750"))
        fs.mkdirs(new Path(s"$dir/g/h"))
        write(fs.create(new Path(s"$dir/f2"), octal("600"), true, 4096, 1.toShort, 1L << 25, null))
        fs.setPermission(new Path(s"$dir/d1"), octal("1777"))
        fs.setPermission(new Path(s"$dir/a/b/f1"), octal("640"))
        assert(fs.rename(new Path(s"$dir/f2"), new Path(s"$dir/f3")))
        fs.close()
      }
      assert(tree.contains("a/b/.f1.crc") && tree.contains("f3") && !tree.contains("f2"))
      assert(tree("d1") == Integer.parseInt("1777", 8), s"umask $umask: sticky bit")
      assert((tree("g/h") & 0xe00) != 0, s"umask $umask: setgid kept")
    }
  }

  test("FileContext create then rename(OVERWRITE), the checkpoint-log commit, leaves the stock mode bits") {
    Seq("022", "077").foreach { umask =>
      val tree = sameTrees { (stock, dir) =>
        val fc = fileContext(stock, umask)
        Seq(0, 0, 1).foreach { id =>
          val tmp = new Path(s"$dir/ck/offsets/.$id.tmp")
          write(fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
            Options.CreateOpts.createParent()))
          fc.rename(tmp, new Path(s"$dir/ck/offsets/$id"), Options.Rename.OVERWRITE)
        }
        fc.mkdir(new Path(s"$dir/state/0/1"), FsPermission.getDirDefault, true)
        fc.setPermission(new Path(s"$dir/state/0"), octal("1755"))
      }
      assert(tree.keySet == Set("ck", "ck/offsets", "ck/offsets/0", "ck/offsets/.0.crc",
        "ck/offsets/1", "ck/offsets/.1.crc", "state", "state/0", "state/0/1"))
      assert(tree("state/0") == Integer.parseInt("1755", 8))
    }
  }

  test("getFileLinkStatus answers symlinks, plain paths and missing paths as stock does") {
    val dir = Files.createTempDirectory("localfs-link").toString
    Files.writeString(Paths.get(s"$dir/target"), "abc")
    Files.createDirectory(Paths.get(s"$dir/tdir"))
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/target"))
    Files.createSymbolicLink(Paths.get(s"$dir/dlink"), Paths.get(s"$dir/tdir"))
    Files.createSymbolicLink(Paths.get(s"$dir/dangling"), Paths.get(s"$dir/gone"))
    // stock's answer or the class of what it throws: a qualified path to a
    // dangling link is a missing file to stock, which never sees the link
    def view(st: => FileStatus) = scala.util.Try(st).map(st => (st.getPath, st.isSymlink,
      if (st.isSymlink) st.getSymlink else null, st.isDirectory, st.getLen)).toEither.left.map(_.getClass)
    val names = Seq("target", "tdir", "link", "dlink", "dangling")
    val paths = names.flatMap(n => Seq(new Path(s"$dir/$n"), new Path(s"file:$dir/$n")))
    val Seq(stock, ours) = Seq(true, false).map { s =>
      val fs = fileSystem(s, "022")
      val fc = fileContext(s, "022")
      try paths.map(p => (view(fs.getFileLinkStatus(p)), view(fc.getFileLinkStatus(p))))
      finally fs.close()
    }
    assert(ours == stock)
    val link = stock(names.indexOf("link") * 2)._1.toOption.get
    assert(link._2 && link._3 == new Path(s"file:$dir/target"), link)
    Seq(true, false).foreach { s =>
      val fs = fileSystem(s, "022")
      val fc = fileContext(s, "022")
      try {
        intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(s"$dir/missing")))
        intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(s"$dir/missing")))
        intercept[FileNotFoundException](fs.getFileStatus(new Path(s"$dir/missing")))
      } finally fs.close()
    }
  }

  test("a session from Engine.session resolves the file scheme to graft's classes on both APIs") {
    val c = TestSession.spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.newInstance(root, c)
    try assert(fs.getClass == classOf[graft.io.LocalFileSystem]) finally fs.close()
    assert(FileContext.getFileContext(root, c).getDefaultFileSystem.getClass ==
      classOf[graft.io.LocalFs])
  }
}
