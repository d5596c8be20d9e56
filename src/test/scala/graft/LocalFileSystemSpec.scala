package graft

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader

import graft.domain.SpotifyPipeline
import graft.sources.{PosixLocalFileSystem, PosixLocalFs, PosixRawLocalFileSystem}
import graft.streaming.EventStreams

/** The `file:` binding of [[Sessions.local]]: every way Spark and graft
  * reach the local filesystem resolves to the in-process-chmod classes,
  * permission bits and symlink statuses match stock Hadoop's, and the
  * local writers and streaming checkpoints fork no process. */
class LocalFileSystemSpec extends SparkSuite {

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: JPath): String =
    Integer.toOctalString(Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777"))

  private def initialized(fs: FileSystem, conf: Configuration): FileSystem = {
    fs.initialize(new URI("file:///"), conf)
    fs
  }

  test("file: resolves to the in-process-chmod classes through every session path") {
    val hconf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new URI("file:///"), hconf).getClass == classOf[PosixLocalFileSystem])
    assert(FileSystem.getLocal(hconf).getRaw.getClass == classOf[PosixRawLocalFileSystem])
    val sessionConf = spark.sessionState.newHadoopConf()
    assert(new Path("file:/tmp").getFileSystem(sessionConf).getClass == classOf[PosixLocalFileSystem])
    assert(FileContext.getFileContext(new URI("file:///"), sessionConf)
      .getDefaultFileSystem.getClass == classOf[PosixLocalFs])
  }

  /** Modes of a nested directory pair, a written file and its `.crc`, as
    * `fs` leaves them under `root`. */
  private def treeModes(fs: FileSystem, root: JPath): Seq[String] = {
    assert(fs.mkdirs(new Path(s"$root/a/b")))
    val out = fs.create(new Path(s"$root/a/b/part-0"), true)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    Seq("a", "a/b", "a/b/part-0", "a/b/.part-0.crc").map(r => mode(root.resolve(r)))
  }

  test("permission bits match stock LocalFileSystem's under the default and a 077 umask") {
    for (umask <- Seq(None, Some("077"))) {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val stock = treeModes(initialized(new LocalFileSystem(), conf), Files.createTempDirectory("graft_fs"))
      val ours = treeModes(initialized(new PosixLocalFileSystem, conf), Files.createTempDirectory("graft_fs"))
      assert(ours == stock, s"umask $umask")
      assert(stock == (if (umask.isEmpty) Seq("755", "755", "644", "644") else Seq("700", "700", "600", "600")),
        s"umask $umask")
    }
  }

  test("explicit setPermission matches stock; sticky and setgid targets take the stock path") {
    val conf = new Configuration()
    def apply(fs: FileSystem): Seq[String] = {
      val root = Files.createTempDirectory("graft_fs")
      val file = root.resolve("f")
      val dir = root.resolve("d")
      val sticky = root.resolve("t")
      val setgid = root.resolve("g")
      Files.write(file, Array[Byte](1))
      Seq(dir, sticky, setgid).foreach(Files.createDirectory(_))
      Files.setAttribute(setgid, "unix:mode", Integer.valueOf(oct("2700")))
      fs.setPermission(new Path(file.toString), new FsPermission(oct("600").toShort))
      fs.setPermission(new Path(dir.toString), new FsPermission(oct("750").toShort))
      fs.setPermission(new Path(sticky.toString), new FsPermission(oct("1777").toShort))
      fs.setPermission(new Path(setgid.toString), new FsPermission(oct("755").toShort))
      assert(fs.mkdirs(new Path(s"$setgid/sub")))
      Seq(file, dir, sticky, setgid, setgid.resolve("sub")).map(mode)
    }
    val stock = apply(initialized(new LocalFileSystem(), conf))
    assert(apply(initialized(new PosixLocalFileSystem, conf)) == stock)
    assert(stock.take(3) == Seq("600", "750", "1777"))
  }

  /** The command lines of the processes started through Hadoop's `Shell`
    * while `f` runs, from a JFR recording of `jdk.ProcessStart`. */
  private def shellForks(f: => Unit): Seq[String] = {
    Class.forName("org.apache.hadoop.util.Shell") // its initializer forks once to probe for setsid
    jfrEvents("jdk.ProcessStart")(f)
      .filter(onStack(_, "org.apache.hadoop.util.Shell")).map(_.getString("command"))
  }

  test("getFileLinkStatus of a file, a live and a dangling symlink matches stock's") {
    val root = Files.createTempDirectory("graft_fs")
    val target = Files.write(root.resolve("target"), Array[Byte](1))
    Files.createSymbolicLink(root.resolve("live"), target)
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    def links(fs: FileSystem): Seq[(Boolean, Boolean, Option[Path])] =
      Seq("target", "live", "dangling").map { name =>
        val st = fs.getFileLinkStatus(new Path(root.resolve(name).toString))
        (st.isFile, st.isSymlink, if (st.isSymlink) Some(st.getSymlink) else None)
      }
    val conf = new Configuration()
    val stock = links(initialized(new RawLocalFileSystem(), conf))
    val ours = initialized(new PosixRawLocalFileSystem, conf)
    assert(links(ours) == stock)
    assert(stock == Seq((true, false, None),
      (false, true, Some(new Path(s"file:$target"))),
      (false, true, Some(new Path(s"file:${root.resolve("gone")}")))))
    intercept[java.io.FileNotFoundException](ours.getFileLinkStatus(new Path(root.resolve("gone").toString)))
  }

  test("the recorder sees stock LocalFileSystem's chmod forks") {
    assume(!NativeCodeLoader.isNativeCodeLoaded, "native Hadoop chmod does not fork")
    val stock = initialized(new LocalFileSystem(), new Configuration())
    assert(shellForks(treeModes(stock, Files.createTempDirectory("graft_fs"))).count(_.startsWith("chmod")) >= 4)
  }

  test("runDaily over a landed day starts no process through Hadoop's Shell") {
    val raw = landTinyDay()
    val out = Files.createTempDirectory("graft_out").toString
    val session = spark // created outside the recording
    assert(shellForks(SpotifyPipeline.runDaily(session, raw, out, "2024-06-01")).isEmpty)
    assert(spark.read.parquet(s"$out/track_artists").count() == 1)
  }

  test("a streaming micro-batch with a checkpoint starts no Shell process") {
    val in = Files.createTempDirectory("graft_stream")
    Files.copy(Paths.get(s"$SF/events.parquet"), in.resolve("events_0.parquet"))
    val out = Files.createTempDirectory("graft_sink").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val events = EventStreams.readEventsStream(spark, in.toString, s"$SF/events.parquet")
    val forks = shellForks(EventStreams.writeParquetIdempotent(events.select("event_id"), out, ckpt))
    assert(forks.isEmpty, forks)
    assert(Files.exists(Paths.get(s"$ckpt/commits/0")))
  }
}
