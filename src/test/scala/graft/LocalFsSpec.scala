package graft
package core

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.{EventStreams, Replay}

/** The fork-free `file:` filesystem: a stateful streaming fold plus a
  * parquet write start no Hadoop shell command once installed, and each
  * overridden call answers as Hadoop's stock `RawLocalFileSystem` does.
  * Every install runs on a `newSession()`, so it stays in this suite. */
class LocalFsSpec extends SparkSpec {

  private def tempDir(name: String): String =
    TempPaths.registered(Files.createTempDirectory(name)).toString

  private def installed(): SparkSession = {
    val s = spark.newSession()
    LocalFs.install(s)
    s
  }

  /** The child processes `body` starts that Hadoop's code started (a
    * JFR `jdk.ProcessStart` with an `org.apache.hadoop` frame), by
    * command line. JVM-wide one-time probes on Spark's own threads (the
    * executor-metrics `getconf PAGESIZE`) are not per-file costs. */
  private def hadoopForks(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft_localfs", ".jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop."))))
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(out)
    }
  }

  /** A replayed stream through streaming state (update-mode max per
    * key) into the log-structured fold (two compactions), and the folded
    * table written as parquet. Returns the folded rows. */
  private def foldAndWrite(s: SparkSession): Seq[(String, Long)] = {
    import s.implicits._
    val events = (0 until 64).map(i => (s"k${i % 5}", i.toLong)).toDF("key", "ver")
    val stream = Replay.of(events, "graft_localfs", 4).stream()
      .groupBy("key").agg(max("ver").as("ver"))
    val served = EventStreams.runUpsertLogToCompletion(s, stream,
      tempDir("graft_localfs_serve"), "graft_localfs_fold", compactEvery = 2,
      mode = "update")(graft.operators.Cdc.compactLatest(_, "key", "ver"))
    served.write.parquet(tempDir("graft_localfs_out") + "/t")
    served.as[(String, Long)].collect().toSeq.sorted
  }

  private val expected = (0 until 64).groupBy(_ % 5).toSeq
    .map { case (k, is) => (s"k$k", is.max.toLong) }.sorted

  test("an installed session's fold and parquet write fork no Hadoop shell command") {
    val s = installed()
    var rows = Seq.empty[(String, Long)]
    val cmds = hadoopForks { rows = foldAndWrite(s) }
    assert(rows == expected)
    assert(cmds.isEmpty, s"Hadoop forked: ${cmds.mkString("; ")}")
    assert(LocalFs.resolved(s) == classOf[LocalFs.FileSystemImpl].getName)
  }

  test("without the install the same run forks (Hadoop's shell fallback)") {
    assume(!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded,
      "Hadoop's native library chmods in-process")
    val s = spark.newSession()
    var rows = Seq.empty[(String, Long)]
    val cmds = hadoopForks { rows = foldAndWrite(s) }
    assert(rows == expected)
    assert(cmds.exists(c => c.contains("chmod")) && cmds.exists(c => c.contains("readlink")),
      s"Hadoop forked: ${cmds.mkString("; ")}")
  }

  private val stock = FileSystem.newInstance(new URI("file:///"), new Configuration())

  private def ours(s: SparkSession): FileSystem =
    new Path("file:///").getFileSystem(s.sessionState.newHadoopConf())

  test("setPermission sets the bits Hadoop's default filesystem sets") {
    val fs = ours(installed())
    assert(fs.isInstanceOf[LocalFs.FileSystemImpl])
    val dir = tempDir("graft_localfs_perm")
    for (mode <- Seq("644", "755", "640", "1755")) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val modes = Seq(stock -> "stock", fs -> "ours").map { case (f, tag) =>
        val file = new Path(s"$dir/f_${mode}_$tag")
        f.create(file).close()
        f.setPermission(file, perm)
        val sub = new Path(s"$dir/d_${mode}_$tag")
        assert(f.mkdirs(sub))
        f.setPermission(sub, perm)
        // read back through the stock filesystem: `ls -ld` sees the sticky bit
        (stock.getFileStatus(file).getPermission, stock.getFileStatus(sub).getPermission)
      }
      assert(modes.head == modes(1), s"mode $mode")
      assert(modes.head._1 == perm, s"mode $mode")
    }
  }

  test("getFileLinkStatus matches RawLocalFileSystem on files, dirs, links and missing paths") {
    val dir = tempDir("graft_localfs_link")
    val file = Files.write(Paths.get(dir, "file"), "x".getBytes)
    Files.createDirectory(Paths.get(dir, "dir"))
    Files.createSymbolicLink(Paths.get(dir, "link"), file)
    Files.createSymbolicLink(Paths.get(dir, "dangling"), Paths.get(dir, "gone"))
    val conf = new Configuration()
    val raw = new RawLocalFileSystem()
    raw.initialize(new URI("file:///"), conf)
    val mine = new LocalFs.Raw()
    mine.initialize(new URI("file:///"), conf)
    def view(fs: RawLocalFileSystem, p: Path): Either[String, Seq[Any]] =
      try {
        val st: FileStatus = fs.getFileLinkStatus(p)
        Right(Seq(st.getPath, st.getLen, st.isDirectory, st.isSymlink,
          if (st.isSymlink) st.getSymlink else null, st.getModificationTime,
          st.getPermission, st.getOwner, st.getGroup))
      } catch { case e: java.io.IOException => Left(e.getClass.getName) }
    for (name <- Seq("file", "dir", "link", "dangling", "missing");
         p <- Seq(new Path(s"$dir/$name"), new Path(s"file://$dir/$name"))) {
      assert(view(mine, p) == view(raw, p), s"$p")
    }
    assert(view(mine, new Path(s"$dir/link")).exists(_(3) == true))
    assert(view(mine, new Path(s"$dir/missing")).isLeft)
  }

  test("FileContext.rename with OVERWRITE replaces the target") {
    val fc = FileContext.getFileContext(new URI("file:///"),
      installed().sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.FileContextImpl])
    val dir = tempDir("graft_localfs_rename")
    def put(name: String, body: String): Path = {
      val p = new Path(s"file://$dir/$name")
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      try out.write(body.getBytes) finally out.close()
      p
    }
    val (src, dst) = (put("src", "new"), put("dst", "old"))
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(src))
    assert(new String(Files.readAllBytes(Paths.get(dir, "dst"))) == "new")
  }
}
