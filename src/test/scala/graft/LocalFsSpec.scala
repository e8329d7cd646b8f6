package graft

import java.io.{IOException, InputStream, OutputStream}
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import java.util.EnumSet

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

import graft.tables.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem, TmpDirs}

/** The java.nio local filesystem (graft.tables.NioLocalFs) behaves as
  * Hadoop's stock one: one script of FileSystem and FileContext
  * operations, run once on each, leaves the same mode bits, the same
  * files (`.crc` included) and the same FileStatus answers. */
class LocalFsSpec extends SparkSuite {

  /** A conf naming the filesystem classes for `file:`. The FileSystem is
    * made by `newInstance`, outside Hadoop's shared cache, and a
    * FileContext makes a new AbstractFileSystem each time. */
  private def conf(fsImpl: Class[_], afsImpl: Class[_]): Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", fsImpl.getName)
    c.set("fs.AbstractFileSystem.file.impl", afsImpl.getName)
    c
  }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def write(out: OutputStream, n: Int): Unit =
    try out.write(Array.tabulate[Byte](n)(i => (i * 31).toByte)) finally out.close()

  private def readAll(in: InputStream): Int =
    try in.readAllBytes().length finally in.close()

  /** Runs the script under a fresh directory with the filesystem classes
    * `c` names; returns each step's answer, the directory written as
    * `<root>`. */
  private def script(c: Configuration): Seq[String] = {
    val root = TmpDirs.create("graft-localfs")
    val fs = FileSystem.newInstance(URI.create("file:///"), c)
    val fc = FileContext.getFileContext(URI.create("file:///"), c)
    val out = mutable.ArrayBuffer[String]()
    def norm(s: String) = s.replace(root.toString, "<root>")
    def p(rel: String) = new Path(root.resolve(rel).toString)
    def q(rel: String) = fs.makeQualified(p(rel))
    def step(label: String)(body: => Any): Unit =
      out += s"$label: " + (try norm(body.toString) catch {
        case e: IOException => s"${e.getClass.getSimpleName}(${norm(String.valueOf(e.getMessage))})"
      })
    def status(st: FileStatus): String =
      s"${st.getPath} len=${st.getLen} dir=${st.isDirectory} link=${st.isSymlink}" +
        (if (st.isSymlink) s" -> ${st.getSymlink}" else "")
    /** Every entry under the root: name, mode bits (special bits
      * included), type, and length of regular files. */
    def tree(): String = scala.util.Using.resource(Files.walk(root)) { paths =>
      paths.iterator().asScala.toSeq.sortBy(_.toString).map { e =>
        val mode = Files.getAttribute(e, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]
        val kind =
          if (Files.isSymbolicLink(e)) "link"
          else if (Files.isDirectory(e)) "dir"
          else s"file ${Files.size(e)}"
        f"${root.relativize(e)} $mode%o $kind"
      }.mkString("\n  ", "\n  ", "")
    }
    try {
      // Through FileSystem.
      step("mkdirs 750")(fs.mkdirs(p("fs/a/b"), perm("750")))
      step("create")(write(fs.create(p("fs/a/f1")), 1000))
      step("create 600")(write(fs.create(p("fs/a/f2"), perm("600"), true, 4096,
        1.toShort, 64L << 20, null), 700))
      step("rename")(fs.rename(p("fs/a/f1"), p("fs/a/b/f1")))
      step("setPermission file 640")(fs.setPermission(p("fs/a/b/f1"), perm("640")))
      step("setPermission dir 700")(fs.setPermission(p("fs/a/b"), perm("700")))
      step("delete file")(fs.delete(p("fs/a/f2"), false))
      step("create under tmp")(write(fs.create(p("fs/tmp/x/f")), 10))
      step("delete dir")(fs.delete(p("fs/tmp"), true))
      step("tree")(tree())

      // Through FileContext, with the .crc files present.
      def fcWrite(rel: String, n: Int): Unit =
        write(fc.create(q(rel), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)), n)
      step("fc mkdir 755")(fc.mkdir(q("fc"), perm("755"), true))
      step("fc create")(fcWrite("fc/src1", 500))
      step("fc rename NONE")(fc.rename(q("fc/src1"), q("fc/dst"), Options.Rename.NONE))
      step("fc create")(fcWrite("fc/src2", 600))
      step("fc rename NONE onto a file")(fc.rename(q("fc/src2"), q("fc/dst"), Options.Rename.NONE))
      step("fc rename OVERWRITE")(fc.rename(q("fc/src2"), q("fc/dst"), Options.Rename.OVERWRITE))
      step("fc rename unqualified")(fc.rename(p("fc/dst"), p("fc/dst2"), Options.Rename.NONE))
      step("fc status")(status(fc.getFileStatus(q("fc/dst2"))))
      step("fc read")(readAll(fc.open(q("fc/dst2"))))
      step("tree")(tree())

      // Links, read both by plain path and by file: URI; the latter
      // never reads as a link, in Hadoop's code as in the nio one.
      write(fs.create(p("links/target")), 300)
      Files.createSymbolicLink(root.resolve("links/rel"), Paths.get("target"))
      Files.createSymbolicLink(root.resolve("links/abs"), root.resolve("links/target"))
      Files.createSymbolicLink(root.resolve("links/dangling"), Paths.get("missing"))
      for (name <- Seq("target", "rel", "abs", "dangling");
           (how, path) <- Seq("path" -> p(s"links/$name"), "uri" -> q(s"links/$name"))) {
        step(s"fs link status $how $name")(status(fs.getFileLinkStatus(path)))
        step(s"fs link target $how $name")(fs.getLinkTarget(path))
        step(s"fc link status $how $name")(status(fc.getFileLinkStatus(path)))
        step(s"fc link target $how $name")(fc.getLinkTarget(path))
      }
      step("fc rename a link")(fc.rename(p("links/rel"), p("links/rel2"), Options.Rename.NONE))
      step("fc rename onto a dangling link")(
        fc.rename(p("links/rel2"), p("links/dangling"), Options.Rename.OVERWRITE))
      step("tree")(tree())

      // Special bits: nio cannot set the sticky bit, and a four-digit
      // chmod keeps a directory's setgid bit.
      step("mkdirs 1777")(fs.mkdirs(p("sticky"), perm("1777")))
      step("setPermission 1755")(fs.setPermission(p("sticky"), perm("1755")))
      step("tree")(tree())
      step("setPermission 755 on a sticky dir")(fs.setPermission(p("sticky"), perm("755")))
      step("mkdirs 755")(fs.mkdirs(p("setgid"), perm("755")))
      new ProcessBuilder("chmod", "g+s", root.resolve("setgid").toString).start().waitFor()
      step("setPermission 750 on a setgid dir")(fs.setPermission(p("setgid"), perm("750")))
      step("mkdirs in a setgid dir")(fs.mkdirs(p("setgid/sub"), perm("750")))
      step("create in a setgid dir")(write(fs.create(p("setgid/f")), 10))
      step("tree")(tree())

      // Reads check the .crc. FileSystem.open wraps the data in a
      // checksum checker; a corrupted file fails it, read here through
      // FileContext with a buffer size (stock FileContext.open(path)
      // skips the check, through FilterFs, and a failed FileSystem read
      // moves the file to a bad_files directory at the top of its mount).
      write(fs.create(p("crc/f")), 2000)
      step("fs open")(scala.util.Using.resource(fs.open(p("crc/f")))(_.getWrappedStream.getClass.getName))
      val data = Files.readAllBytes(root.resolve("crc/f"))
      data(100) = (data(100) ^ 1).toByte
      Files.write(root.resolve("crc/f"), data)
      step("fc read a corrupted file")(readAll(fc.open(q("crc/f"), 4096)))
      out.toSeq
    } finally { fs.close(); TmpDirs.deleteRecursively(root) }
  }

  test("java.nio local filesystem: same modes, files and statuses as Hadoop's") {
    val stock = script(conf(classOf[LocalFileSystem], classOf[LocalFs]))
    val nio = script(conf(classOf[NioLocalFileSystem], classOf[NioLocalFs]))
    assert(stock.exists(_.contains(".f1.crc")), "the script writes .crc files")
    assert(stock.exists(_.contains("ChecksumFSInputChecker")), "reads check the .crc")
    assert(stock.exists(_.contains("ChecksumException")), "a corrupted file fails its check")
    stock.zipAll(nio, "", "").foreach { case (s, n) => assert(n == s) }
  }

  test("FileContext.open(path) verifies the .crc, as the checkpoint logs read") {
    val root = TmpDirs.create("graft-localfs-crc")
    val c = conf(classOf[NioLocalFileSystem], classOf[NioLocalFs])
    val fs = FileSystem.newInstance(URI.create("file:///"), c)
    try {
      val fc = FileContext.getFileContext(URI.create("file:///"), c)
      val f = fs.makeQualified(new Path(root.resolve("f").toString))
      write(fs.create(f), 2000)
      assert(readAll(fc.open(f)) == 2000)
      val data = Files.readAllBytes(root.resolve("f"))
      data(100) = (data(100) ^ 1).toByte
      Files.write(root.resolve("f"), data)
      intercept[ChecksumException](readAll(fc.open(f)))
    } finally { fs.close(); TmpDirs.deleteRecursively(root) }
  }

  test("SparkSessions.builder routes file: paths to the java.nio filesystem") {
    // Hadoop caches FileSystem instances by scheme and user, not by conf;
    // this holds because nothing makes a file: FileSystem from a plain
    // Configuration before the session starts.
    val hadoopConf = spark.sessionState.newHadoopConf()
    assert(new Path("file:///").getFileSystem(hadoopConf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(hadoopConf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(hadoopConf).getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), hadoopConf)
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }
}
