package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import graft.engine.{InProcessLocalFileSystem, InProcessLocalFs, InProcessRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The in-process `file:` filesystem (engine/LocalFs.scala) is what the
  * session resolves, and it answers exactly like Hadoop's stock local
  * filesystem: the same modes on created files and directories through
  * both Hadoop APIs, the same link status for every kind of path. */
class LocalFsSpec extends AnyFunSuite with SparkFixture {
  private val Root = new URI("file:///")

  /** The session's Hadoop conf with `fs.*` impls put back to stock. */
  private def stockConf(umask: String): Configuration = {
    val c = conf(umask)
    c.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    c
  }

  private def conf(umask: String): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("file: resolves to the in-process classes through FileSystem and FileContext") {
    val c = spark.sessionState.newHadoopConf()
    // getFileSystem goes through FileSystem.CACHE: a stock instance put
    // there before the session existed would be handed back here.
    assert(new Path(s"file:${tmp("localfs-resolve")}").getFileSystem(c)
      .isInstanceOf[InProcessLocalFileSystem])
    assert(FileContext.getFileContext(Root, c).getDefaultFileSystem.isInstanceOf[InProcessLocalFs])
    assert(FileContext.getFileContext(c).getDefaultFileSystem.isInstanceOf[InProcessLocalFs])
  }

  test("created files and directories get the stock modes through both APIs") {
    val dir = tmp("localfs-modes")
    for (umask <- Seq("022", "077"); m <- Seq("644", "600", "755", "700")) {
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      val expected = perm.applyUMask(new FsPermission(umask)).toString
      def viaFs(c: Configuration, tag: String): (String, String) = {
        val fs = FileSystem.newInstance(Root, c)
        try {
          val f = s"$dir/fs-$tag-$umask-$m.bin"
          fs.create(new Path(f), perm, false, 4096, 1.toShort, 1L << 20, null).close()
          val d = s"$dir/fs-$tag-$umask-$m.d"
          assert(fs.mkdirs(new Path(d), perm))
          (mode(f), mode(d))
        } finally fs.close()
      }
      def viaFc(c: Configuration, tag: String): (String, String) = {
        val fc = FileContext.getFileContext(Root, c)
        val f = s"$dir/fc-$tag-$umask-$m.bin"
        fc.create(new Path(f), java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(perm)).close()
        val d = s"$dir/fc-$tag-$umask-$m.d"
        fc.mkdir(new Path(d), perm, true)
        (mode(f), mode(d))
      }
      for ((api, run) <- Seq[(String, (Configuration, String) => (String, String))](
             "FileSystem" -> viaFs, "FileContext" -> viaFc)) {
        val got = run(conf(umask), "ours")
        val stock = run(stockConf(umask), "stock")
        withClue(s"$api umask=$umask mode=$m: ") {
          assert(got == stock)
          assert(got == ((expected, expected)))
        }
      }
    }
  }

  test("getFileLinkStatus answers like stock for files, dirs, missing paths and links") {
    val dir = tmp("localfs-links")
    val file = Files.write(Paths.get(dir, "file"), "x".getBytes)
    val sub = Files.createDirectory(Paths.get(dir, "sub"))
    val link = Files.createSymbolicLink(Paths.get(dir, "link"), file)
    val dangling = Files.createSymbolicLink(Paths.get(dir, "dangling"), Paths.get(dir, "gone"))
    val c = spark.sessionState.newHadoopConf()
    val ours = new InProcessRawLocalFileSystem
    val stock = new RawLocalFileSystem
    Seq(ours, stock).foreach(_.initialize(Root, c))
    def answer(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
      try {
        val s: FileStatus = fs.getFileLinkStatus(p)
        Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else null, s.getLen,
          s.getModificationTime, s.getPermission))
      } catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    val cases = Seq("file" -> file, "dir" -> sub, "missing" -> Paths.get(dir, "nope"),
      "symlink" -> link, "dangling" -> dangling)
    for ((kind, p) <- cases; path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      withClue(s"$kind $path: ") {
        assert(answer(ours, path) == answer(stock, path))
      }
    }
    // The unqualified form is the one stock reads links through.
    val l = ours.getFileLinkStatus(new Path(link.toString))
    assert(l.isSymlink && l.getSymlink.toUri.getPath == file.toString)
    assert(ours.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    assert(answer(ours, new Path(dir, "nope")).isLeft)
    Seq(ours, stock).foreach(_.close())
  }
}
