package graft.fs

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Paths}
import java.util.EnumSet
import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import graft.SparkSpec
import graft.sinks.SinkRegistry
import graft.streaming.CdcStream
import graft.subscribe.{BackendConfig, EmitFlags, SinkConfig}

/** The sessions' `file:` filesystem (`SparkEntry.requiredConfs`) keeps
  * the stock `LocalFileSystem`/`LocalFs` semantics, each case run on
  * both and compared, and a CDC daemon's triggers on it start no
  * `chmod` or `readlink` process. */
class LocalFsSpec extends SparkSpec {

  private val root = URI.create("file:///")
  private def octal(s: String) =
    new FsPermission(Integer.parseInt(s, 8).toShort)

  /** The session's Hadoop conf with `umask`. */
  private def conf(umask: String): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** A `FileSystem` of the session's class and a stock one, on `umask`,
    * both outside the cache. */
  private def fileSystems(umask: String): (FileSystem, FileSystem) = {
    val n = FileSystem.newInstance(root, conf(umask))
    assert(n.getClass == classOf[NioLocalFileSystem])
    val stock = new LocalFileSystem()
    stock.initialize(root, conf(umask))
    (n, stock)
  }

  /** A `FileContext` of the session's class and a stock one, on `umask`. */
  private def fileContexts(umask: String): (FileContext, FileContext) = {
    val nio = conf(umask)
    val stock = new Configuration(nio)
    stock.set("fs.AbstractFileSystem.file.impl",
      "org.apache.hadoop.fs.local.LocalFs")
    val n = FileContext.getFileContext(root, nio)
    assert(n.getDefaultFileSystem.getClass == classOf[NioLocalFs])
    val s = FileContext.getFileContext(root, stock)
    assert(s.getDefaultFileSystem.getClass ==
      classOf[org.apache.hadoop.fs.local.LocalFs])
    (n, s)
  }

  /** Name → octal mode (sticky bit included) of every entry under `dir`. */
  private def modes(dir: String): Map[String, String] =
    Files.walk(Paths.get(dir)).iterator.asScala.drop(1).map { p =>
      Paths.get(dir).relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
          .asInstanceOf[Int] & 0xfff).toOctalString
    }.toMap

  test("the sessions' file: filesystem is the nio class, for FileSystem " +
      "and FileContext") {
    val hadoop = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, hadoop).getClass ==
      classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(hadoop).getRawFileSystem.getClass ==
      classOf[NioRawLocalFileSystem])
    assert(FileContext.getFileContext(root, hadoop).getDefaultFileSystem
      .getClass == classOf[NioLocalFs])
  }

  test("files and directories made through FileSystem and FileContext " +
      "get the stock classes' modes, after the umask") {
    val perms = Seq("640", "751", "700", "777")
    for (umask <- Seq("022", "027", "077")) {
      val (nioFs, stockFs) = fileSystems(umask)
      val (nioFc, stockFc) = fileContexts(umask)
      def viaFs(fs: FileSystem): Map[String, String] = {
        val dir = tempDir("graft-fs-modes")
        fs.create(new Path(dir, "default")).close()
        fs.mkdirs(new Path(dir, "d-default/nested"))
        for (p <- perms) {
          fs.create(new Path(dir, s"f$p"), octal(p), false, 4096,
            1.toShort, 1L << 25, null).close()
          fs.mkdirs(new Path(dir, s"d$p/nested"), octal(p))
          fs.create(new Path(dir, s"s$p")).close()
          fs.setPermission(new Path(dir, s"s$p"), octal(p))
        }
        modes(dir)
      }
      def viaFc(fc: FileContext): Map[String, String] = {
        val dir = tempDir("graft-fc-modes")
        fc.create(new Path(dir, "default"), EnumSet.of(CreateFlag.CREATE))
          .close()
        for (p <- perms) {
          fc.create(new Path(dir, s"f$p"), EnumSet.of(CreateFlag.CREATE),
            Options.CreateOpts.perms(octal(p))).close()
          fc.mkdir(new Path(dir, s"d$p/nested"), octal(p), true)
        }
        modes(dir)
      }
      val fsModes = viaFs(nioFs)
      assert(fsModes == viaFs(stockFs), s"FileSystem, umask $umask")
      assert(fsModes.contains(".f640.crc") && fsModes("s640") == "640")
      val fcModes = viaFc(nioFc)
      assert(fcModes == viaFc(stockFc), s"FileContext, umask $umask")
      assert(fcModes.contains(".f751.crc"))
      nioFs.close(); stockFs.close()
    }
  }

  test("a FileContext rename with OVERWRITE lands onto a missing target " +
      "and over an existing one, its checksum with it") {
    val (nioFc, stockFc) = fileContexts("022")
    def renames(fc: FileContext): (Map[String, String], String, String) = {
      val dir = tempDir("graft-fc-rename")
      val (src, dst) = (new Path(dir, "src"), new Path(dir, "dst"))
      def write(text: String): Unit = {
        val out = fc.create(src, EnumSet.of(CreateFlag.CREATE))
        out.write(text.getBytes(UTF_8))
        out.close()
      }
      def read(): String = {
        val in = fc.open(dst) // verifies the renamed checksum
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      write("onto missing")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val first = read()
      write("over existing")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      write("refused")
      val refused = Try(fc.rename(src, dst, Options.Rename.NONE)).failed
        .map(_.getClass.getSimpleName).getOrElse("renamed")
      (modes(dir), first + " / " + read(), refused)
    }
    val nio = renames(nioFc)
    assert(nio == renames(stockFc))
    assert(nio._1.keySet == Set("dst", ".dst.crc", "src", ".src.crc"))
    assert(nio._2 == "onto missing / over existing")
    assert(nio._3 == "FileAlreadyExistsException")
  }

  test("a symbolic link's link status carries its target, a dangling one " +
      "too; a plain file's is no link") {
    val (nioFs, stockFs) = fileSystems("022")
    val (nioFc, stockFc) = fileContexts("022")
    val dir = tempDir("graft-fs-links")
    val target = Paths.get(dir, "target")
    Files.write(target, "x".getBytes(UTF_8))
    Files.createSymbolicLink(Paths.get(dir, "link"), target)
    Files.createSymbolicLink(Paths.get(dir, "dangling"),
      Paths.get(dir, "gone"))
    def status(get: Path => org.apache.hadoop.fs.FileStatus, name: String) = {
      val st = get(new Path(dir, name))
      (st.isSymlink, if (st.isSymlink) st.getSymlink.toUri.getPath else "",
        st.getPath.toUri.getPath, st.getLen)
    }
    for (name <- Seq("link", "dangling", "target")) {
      val nio = status(nioFs.getFileLinkStatus, name)
      assert(nio == status(stockFs.getFileLinkStatus, name), name)
      assert(status(nioFc.getFileLinkStatus, name) ==
        status(stockFc.getFileLinkStatus, name), name)
      assert(nio._1 == (name != "target"), name)
    }
    assert(status(nioFs.getFileLinkStatus, "link")._2 == target.toString)
    assert(status(nioFc.getFileLinkStatus, "dangling")._2 == s"$dir/gone")
    nioFs.close(); stockFs.close()
  }

  test("a missing path throws FileNotFoundException") {
    val (nioFs, stockFs) = fileSystems("022")
    val (nioFc, stockFc) = fileContexts("022")
    val missing = new Path(tempDir("graft-fs-missing"), "none")
    for (fs <- Seq(nioFs, stockFs)) {
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fs.getFileStatus(missing))
    }
    for (fc <- Seq(nioFc, stockFc)) {
      intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fc.getFileStatus(missing))
    }
    intercept[FileNotFoundException](nioFs.setPermission(missing, octal("644")))
    intercept[IOException](stockFs.setPermission(missing, octal("644")))
    nioFs.close(); stockFs.close()
  }

  test("a sticky-bit permission takes Hadoop's own path and sets the bit") {
    val (nioFs, stockFs) = fileSystems("022")
    def sticky(fs: FileSystem): Map[String, String] = {
      val dir = tempDir("graft-fs-sticky")
      fs.mkdirs(new Path(dir, "shared"))
      fs.setPermission(new Path(dir, "shared"), octal("1777"))
      assert(fs.getFileStatus(new Path(dir, "shared")).getPermission
        .getStickyBit)
      modes(dir)
    }
    val nio = sticky(nioFs)
    assert(nio == Map("shared" -> "1777"))
    assert(nio == sticky(stockFs))
    nioFs.close(); stockFs.close()
  }

  test("three triggers of a file backend into parquet-exactly-once and " +
      "snapshot start no chmod or readlink process") {
    import spark.implicits._
    val dir = tempDir("graft-fs-guard")
    val files = Seq(
      Seq("""{"schema": {"id": "integer", "v": "1"}, "table": "t"}""",
        """{"begin": 1}""",
        """{"insert": {"id": 1, "x": "a"}, "table": "t"}""",
        """{"commit": 1, "t": "2024-01-01 00:00:00"}"""),
      Seq("""{"begin": 2}""",
        """{"update": {"id": 1, "x": "b"}, "table": "t"}""",
        """{"insert": {"id": 2, "x": "c"}, "table": "t"}""",
        """{"commit": 2, "t": "2024-01-01 00:00:01"}"""),
      Seq("""{"begin": 3}""",
        """{"delete": true, "@": {"id": 2}, "table": "t"}""",
        """{"commit": 3, "t": "2024-01-01 00:00:02"}"""))
    files.zipWithIndex.foreach { case (lines, i) =>
      lines.zipWithIndex.map { case (l, j) => ("pg1", i * 10L + j, l) }
        .toDF("backend", "seq", "line")
        .coalesce(1).write.mode("append").json(s"$dir/in")
    }
    val cfg = BackendConfig("pg1", "file", "jsoncdc",
      Map("path" -> s"$dir/in", "maxFilesPerTrigger" -> "1"),
      emit = EmitFlags(emitEvent = Some(false)),
      sinks = Seq(
        SinkConfig("parquet-exactly-once", Map("path" -> s"$dir/out")),
        SinkConfig("snapshot", Map("path" -> s"$dir/snap"))))
    // the daemon's state store (the CLI profile's)
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass", "org.apache." +
      "spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val q = try {
      val q = SinkRegistry.attach(CdcStream.forBackend(s, cfg), cfg.emit,
          cfg.sinks.map(SinkRegistry.create))
        .option("checkpointLocation", s"$dir/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      // the recording sees a process this thread starts
      new ProcessBuilder("true").start().waitFor()
      q
    } finally rec.stop()
    val jfr = Paths.get(dir, "starts.jfr")
    rec.dump(jfr)
    rec.close()
    val commands = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command")).toSeq
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    assert(commands.contains("true"), commands)
    val forks = commands.filter(c => c.split(" ").headOption.exists(p =>
      p.endsWith("chmod") || p.endsWith("readlink")))
    assert(forks.isEmpty, s"${forks.size} of ${commands.size} process " +
      s"starts: ${forks.take(5).mkString("; ")}")
  }
}
