package graft

import graft.tables.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

/** The fork-free local filesystem against the stock classes it replaces:
  * the same modes on disk, the same statuses, the same renames and the
  * same checksum sidecars.
  */
class ForkFreeLocalFsSpec extends SparkSpec {

  private val local = URI.create("file:///")

  /** (stock, fork-free) FileSystem and FileContext, built outside the
    * FileSystem cache, under a 027 umask.
    */
  private def both(): Seq[(String, FileSystem, FileContext)] = {
    def conf(afs: String) = {
      val c = new Configuration()
      c.set("fs.permissions.umask-mode", "027")
      c.set("fs.AbstractFileSystem.file.impl", afs)
      c
    }
    val stockConf = conf("org.apache.hadoop.fs.local.LocalFs")
    val ourConf = conf(classOf[ForkFreeLocalFs].getName)
    val stock = new LocalFileSystem()
    stock.initialize(local, stockConf)
    val ours = new ForkFreeLocalFileSystem()
    ours.initialize(local, ourConf)
    Seq(("stock", stock, FileContext.getFileContext(local, stockConf)),
      ("fork-free", ours, FileContext.getFileContext(local, ourConf)))
  }

  private def mode(p: String): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  private def view(st: FileStatus) =
    (st.getPath.toString, st.getLen, st.isDirectory, st.isSymlink,
      if (st.isSymlink) st.getSymlink.toString else "", st.getModificationTime,
      st.getPermission, st.getOwner, st.getGroup)

  private def write(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  test("created files and directories get the same mode bits and the same .crc sidecars") {
    val results = both().map { case (name, fs, fc) =>
      val root = tmpDir(s"ffl-mode-$name")
      write(fs, new Path(s"$root/a/b/f.txt"), "hello")
      fs.mkdirs(new Path(s"$root/m/n"))
      val out = fc.create(new Path(s"file:$root/fc/g.txt"), EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.createParent())
      try out.write("world".getBytes(StandardCharsets.UTF_8)) finally out.close()
      fc.mkdir(new Path(s"file:$root/fcdir/x"), null, true)
      val paths = Seq("a", "a/b", "a/b/f.txt", "a/b/.f.txt.crc", "m", "m/n",
        "fc", "fc/g.txt", "fc/.g.txt.crc", "fcdir", "fcdir/x")
      paths.foreach(q => assert(Files.exists(Paths.get(s"$root/$q")), s"$name: $q missing"))
      (paths.map(q => q -> mode(s"$root/$q")),
        Seq("a/b/.f.txt.crc", "fc/.g.txt.crc").map(q => Files.readAllBytes(Paths.get(s"$root/$q")).toSeq))
    }
    assert(results(0)._1 == results(1)._1)
    assert(results(0)._2 == results(1)._2, "checksum sidecars must be byte-identical")
    assert(results(1)._1.toMap.apply("a/b/f.txt") == "rw-r-----", "the 027 umask applies to files")
    assert(results(1)._1.toMap.apply("m/n") == "rwxr-x---", "the 027 umask applies to directories")
  }

  test("file, directory, missing path and symlink statuses match, qualified and unqualified") {
    val root = tmpDir("ffl-status")
    Files.writeString(Paths.get(s"$root/f.txt"), "12345")
    Files.createDirectory(Paths.get(s"$root/d"))
    Files.writeString(Paths.get(s"$root/d/in.txt"), "x")
    Files.setPosixFilePermissions(Paths.get(s"$root/d"), PosixFilePermissions.fromString("rwx--x---"))
    Files.createSymbolicLink(Paths.get(s"$root/link"), Paths.get(s"$root/f.txt"))
    val names = Seq("f.txt", "d", "link", "missing")
    val paths = names.flatMap(n => Seq(new Path(s"$root/$n"), new Path(s"file:$root/$n")))
    def outcome[A](f: => A): Either[String, A] =
      try Right(f) catch { case e: FileNotFoundException => Left(e.getClass.getSimpleName) }
    val seen = both().map { case (_, fs, fc) =>
      paths.map { p =>
        (outcome(view(fs.getFileStatus(p))), outcome(view(fs.getFileLinkStatus(p))),
          outcome(fs.listStatus(p).map(view).toSeq.sortBy(_._1)),
          outcome(view(fc.getFileStatus(fc.makeQualified(p)))),
          outcome(view(fc.getFileLinkStatus(fc.makeQualified(p)))))
      }
    }
    paths.indices.foreach(i => assert(seen(0)(i) == seen(1)(i), paths(i)))
    // the cases the comparison must cover: a resolved link (unqualified)
    // and an unresolved one (qualified), a missing path, a directory's mode
    val byPath = paths.zip(seen(1)).toMap
    assert(byPath(new Path(s"$root/link"))._2.exists(_._4), "unqualified link resolves")
    assert(byPath(new Path(s"file:$root/link"))._2.exists(!_._4), "qualified link is a plain status")
    assert(byPath(new Path(s"$root/missing"))._1.isLeft)
    assert(byPath(new Path(s"$root/d"))._1.exists(_._7.toString == "rwx--x---"))
  }

  test("FileContext rename: OVERWRITE replaces, NONE refuses with FileAlreadyExistsException") {
    val results = both().map { case (name, fs, fc) =>
      val root = tmpDir(s"ffl-rename-$name")
      def at(n: String) = fc.makeQualified(new Path(s"$root/$n"))
      write(fs, at("tmp1"), "one")
      write(fs, at("target"), "zero")
      fc.rename(at("tmp1"), at("target"), Options.Rename.OVERWRITE)
      write(fs, at("tmp2"), "two")
      val refused = intercept[FileAlreadyExistsException](
        fc.rename(at("tmp2"), at("target"), Options.Rename.NONE))
      fc.rename(at("tmp2"), at("fresh"), Options.Rename.NONE)
      val listing = new java.io.File(root).list().toSeq.sorted
      val content = Seq("target", "fresh").map(n => Files.readString(Paths.get(s"$root/$n")))
      assert(refused.getMessage.contains("target"), name)
      (listing, content)
    }
    assert(results(0) == results(1))
    assert(results(1) == (Seq(".fresh.crc", ".target.crc", "fresh", "target"), Seq("one", "two")))
  }
}
