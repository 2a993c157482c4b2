package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file://` filesystem: local file operations fork no
  * `chmod` or `readlink` process, the session serves `file` with the
  * engine's classes through both Hadoop APIs, and permission bits and
  * file statuses are those Hadoop's own local filesystem gives.
  */
class LocalFsSpec extends SparkSpec {

  private def hadoopConf: Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  private def withDir[T](f: NioPath => T): T = {
    val dir = Files.createTempDirectory("graft_localfs")
    try f(dir) finally Artifacts.deleteTree(dir)
  }

  /** The command lines of the processes `body` started. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft_localfs", ".jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  test("a warm st41 and st3 call starts no chmod or readlink process") {
    val names = Seq("st41_stream_hier_rollup", "st3_windowed_agg_stream")
    names.foreach(n => SparkEntry.queries(n)(spark, sf).count())
    val cmds = processStarts {
      names.foreach(n => assert(SparkEntry.queries(n)(spark, sf).count() > 0, n))
      // the recording sees process starts at all
      new ProcessBuilder("true").start().waitFor()
    }
    assert(cmds.exists(_.startsWith("true")), s"no start recorded: $cmds")
    val forks = cmds.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
    assert(forks.size == 0, s"first forks: ${forks.take(3)}")
  }

  test("the session serves file:// with the engine's classes through both APIs") {
    val conf = hadoopConf
    assert(FileSystem.get(new URI("file:///"), conf).getClass == classOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass ==
      classOf[GraftLocalFs])
  }

  test("files and directories get the permission bits Hadoop's local filesystem gives") {
    val plainConf = new Configuration()
    val plain = new RawLocalFileSystem()
    plain.initialize(new URI("file:///"), plainConf)
    val plainFc = FileContext.getFileContext(plainConf)
    assert(plainFc.getDefaultFileSystem.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
    val fs = FileSystem.get(new URI("file:///"), hadoopConf)
    val fc = FileContext.getFileContext(hadoopConf)
    def mode(p: Path): Int =
      Files.getAttribute(java.nio.file.Paths.get(p.toUri.getPath), "unix:mode")
        .asInstanceOf[Int] & 0xfff
    def made(root: NioPath, tag: String, viaFs: FileSystem, viaFc: FileContext): Seq[Int] = {
      val file = new Path(root.toString, s"$tag.file")
      val dir = new Path(root.toString, s"$tag.dir/sub")
      val fcFile = new Path(root.toString, s"$tag.fcfile")
      val fcDir = new Path(root.toString, s"$tag.fcdir/sub")
      viaFs.create(file).close()
      viaFs.mkdirs(dir)
      viaFc.create(fcFile, java.util.EnumSet.of(CreateFlag.CREATE)).close()
      viaFc.mkdir(fcDir, FsPermission.getDirDefault, true)
      val set = Seq("640", "750", "600", "777", "1777").map { m =>
        val p = new Path(root.toString, s"$tag.set$m")
        viaFs.mkdirs(p)
        viaFs.setPermission(p, new FsPermission(Integer.parseInt(m, 8).toShort))
        mode(p)
      }
      Seq(file, dir, dir.getParent, fcFile, fcDir, fcDir.getParent).map(mode) ++ set
    }
    withDir { root =>
      val ours = made(root, "ours", fs, fc)
      assert(ours == made(root, "plain", plain, plainFc))
      assert(ours.last == Integer.parseInt("1777", 8), "the sticky bit must be applied")
    }
  }

  test("getFileLinkStatus: a symlink's target, a plain file's status, a missing path's error") {
    val fs = FileSystem.get(new URI("file:///"), hadoopConf)
    val plain = new RawLocalFileSystem()
    plain.initialize(new URI("file:///"), new Configuration())
    def fields(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    withDir { root =>
      val target = Files.write(root.resolve("target"), "abc".getBytes)
      val link = Files.createSymbolicLink(root.resolve("link"), target)
      val linkSt = fs.getFileLinkStatus(new Path(link.toString))
      assert(linkSt.isSymlink && linkSt.getSymlink.toUri.getPath == target.toString)
      assert(fields(linkSt) == fields(plain.getFileLinkStatus(new Path(link.toString))))
      val file = new Path(target.toString)
      assert(fields(fs.getFileLinkStatus(file)) == fields(fs.getFileStatus(file)))
      assert(fields(fs.getFileLinkStatus(file)) == fields(plain.getFileLinkStatus(file)))
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(root.resolve("gone").toString)))
    }
  }
}
