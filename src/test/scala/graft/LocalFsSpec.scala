package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The process-free local FileSystem that [[Sessions.tuned]] installs:
  * the test session resolves `file:` to it through both client APIs
  * (checked in every test), it matches stock Hadoop on permissions,
  * renames and link status, and a TxTable append plus a checkpointed
  * streaming micro-batch start no process. Every test reaches the
  * FileSystem through the session's Hadoop configuration, so each fails
  * if the session recipe drops it. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Local = URI.create("file:///")

  /** `body` given an uncached FileSystem and a FileContext built from the
    * session's Hadoop configuration (`graft`; checked to be the graft
    * classes) or from a copy that names stock Hadoop's classes. */
  private def withClients[T](graft: Boolean, umask: String = "022")(
      body: (FileSystem, FileContext) => T): T = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.permissions.umask-mode", umask)
    if (!graft) {
      conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
      conf.set("fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.LocalFs")
    }
    val fs = FileSystem.newInstance(Local, conf)
    val fc = FileContext.getFileContext(Local, conf)
    try {
      if (graft) assertGraft(fs, fc)
      body(fs, fc)
    } finally fs.close()
  }

  private def assertGraft(fs: FileSystem, fc: FileContext): Unit = {
    assert(fs.getClass == classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ==
      classOf[NioRawLocalFileSystem])
    assert(fc.getDefaultFileSystem.getClass == classOf[NioLocalFs])
  }

  /** `body`'s value; when `check`, asserts through a JFR recording that
    * the JVM started no process while it ran. */
  private def spawnFree[T](check: Boolean)(body: => T): T =
    if (!check) body
    else {
      val rec = new jdk.jfr.Recording()
      try {
        rec.enable("jdk.ProcessStart")
        rec.start()
        val v = try body finally rec.stop()
        val out = Files.createTempFile("graft_jfr_", ".jfr")
        val cmds = try {
          rec.dump(out)
          jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
            .map(_.getString("command"))
        } finally Files.deleteIfExists(out)
        assert(cmds.isEmpty, s"processes started: $cmds")
        v
      } finally rec.close()
    }

  /** Mode bits (with sticky, setuid, setgid) of every entry under `base`,
    * checksum files included, by path relative to `base`. */
  private def modes(base: JPath): Map[String, String] =
    Files.walk(base).iterator.asScala.filter(_ != base).map { p =>
      base.relativize(p).toString -> (Files.getAttribute(p, "unix:mode")
        .asInstanceOf[Int] & 0xfff).toOctalString
    }.toMap

  /** Name → content of every entry under `base` (`<dir>` for dirs). */
  private def tree(base: JPath): Map[String, String] =
    Files.walk(base).iterator.asScala.filter(_ != base).map { p =>
      base.relativize(p).toString ->
        (if (Files.isDirectory(p)) "<dir>"
         else new String(Files.readAllBytes(p), UTF_8))
    }.toMap

  private def outcome(op: => Any): String =
    Try(op).fold(_.getClass.getSimpleName, {
      case () => "ok"
      case v => String.valueOf(v)
    })

  test("created files and directories get stock Hadoop's permission bits") {
    val root = Files.createTempDirectory("graft_localfs_perm_")
    for (umask <- Seq("077", "022", "002")) {
      def scenario(graft: Boolean): Map[String, String] =
        withClients(graft, umask) { (fs, fc) =>
          val base = Files.createDirectories(root.resolve(s"$umask-$graft"))
          def p(rel: String) = new Path(base.toUri.toString, rel)
          spawnFree(graft) {
            fs.create(p("f_default")).close()
            fs.create(p("f_0640"), new FsPermission("640"), true, 4096,
              1.toShort, 1L << 20, null).close()
            assert(fs.mkdirs(p("d_default/nested")))
            assert(fs.mkdirs(p("d_0711/nested"), new FsPermission("711")))
            fs.setPermission(p("f_default"), new FsPermission("604"))
            fc.create(p("c_default/file"), java.util.EnumSet.of(CreateFlag.CREATE),
              Options.CreateOpts.createParent()).close()
            fc.create(p("c_0600"), java.util.EnumSet.of(CreateFlag.CREATE),
              Options.CreateOpts.perms(new FsPermission("600"))).close()
            fc.mkdir(p("cd_default/nested"), FsPermission.getDirDefault, true)
            fc.setPermission(p("c_0600"), new FsPermission("444"))
            fs.setPermission(p("d_default"), new FsPermission("1775"))
          }
          modes(base)
        }
      val stock = scenario(graft = false)
      assert(scenario(graft = true) == stock, s"umask $umask")
      assert(stock("d_default") == "1775" && stock("f_default") == "604")
    }
  }

  test("rename with and without overwrite matches stock Hadoop") {
    val root = Files.createTempDirectory("graft_localfs_rename_")
    def scenario(graft: Boolean): (Seq[String], Map[String, String]) =
      withClients(graft) { (fs, fc) =>
        val base = Files.createDirectories(root.resolve(s"$graft"))
        def p(rel: String) = new Path(base.toUri.toString, rel)
        def write(rel: String, text: String): Unit = {
          val out = fs.create(p(rel))
          try out.write(text.getBytes(UTF_8)) finally out.close()
        }
        write("a", "A"); write("b", "B"); write("dir/x", "X")
        val log = spawnFree(graft)(Seq(
          outcome(fc.rename(p("a"), p("c"))),
          outcome(fc.rename(p("c"), p("b"))),
          outcome(fc.rename(p("c"), p("b"), Options.Rename.OVERWRITE)),
          outcome(fc.rename(p("missing"), p("e"))),
          outcome(fc.rename(p("dir"), p("dir2"))),
          outcome(fs.rename(p("b"), p("d"))),
          outcome(fs.rename(p("missing"), p("e"))),
          outcome(fs.rename(p("d"), p("dir2")))))
        (log, tree(base).map { case (k, v) =>
          k -> (if (k.endsWith(".crc")) "<crc>" else v) })
      }
    val stock = scenario(graft = false)
    assert(scenario(graft = true) == stock)
    assert(stock._1.take(3) == Seq("ok", "FileAlreadyExistsException", "ok"))
    assert(stock._2("dir2/d") == "A" && !stock._2.contains("b"))
  }

  test("getFileLinkStatus on a file, a directory, a symlink and a dangling symlink matches stock") {
    val root = Files.createTempDirectory("graft_localfs_link_")
    def scenario(graft: Boolean): Seq[String] =
      withClients(graft) { (fs, fc) =>
        val base = Files.createDirectories(root.resolve(s"$graft"))
        Files.write(base.resolve("file"), "12345".getBytes(UTF_8))
        Files.createDirectory(base.resolve("dir"))
        Files.createSymbolicLink(base.resolve("link"), base.resolve("file"))
        Files.createSymbolicLink(base.resolve("dangling"), base.resolve("gone"))
        def rel(p: Path) = p.toUri.getPath.stripPrefix(base.toString)
        def show(st: FileStatus): String =
          s"${rel(st.getPath)} dir=${st.isDirectory} link=${st.isSymlink} " +
            s"len=${st.getLen}" +
            (if (st.isSymlink) s" target=${rel(st.getSymlink)}" else "")
        // each name plain and qualified, through both client APIs
        def statuses(names: String*): Seq[String] = for {
          n <- names
          p <- Seq(new Path(base.resolve(n).toString),
            new Path(base.resolve(n).toUri.toString))
          st <- Seq(Try(fs.getFileLinkStatus(p)), Try(fc.getFileLinkStatus(p)))
        } yield st.fold(_.getClass.getSimpleName, show)
        // links take the stock path, which starts a `readlink`
        spawnFree(graft)(statuses("file", "dir")) ++
          statuses("link", "dangling")
      }
    val stock = scenario(graft = false)
    assert(scenario(graft = true) == stock)
    assert(stock.head == "/file dir=false link=false len=5")
  }

  test("a TxTable append and a checkpointed appendTx micro-batch start no process") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val conf = spark.sparkContext.hadoopConfiguration
    // the cached instances Spark and TxTable use
    assertGraft(FileSystem.get(Local, conf), FileContext.getFileContext(Local, conf))
    assert(new Path("/tmp").getFileSystem(conf) eq FileSystem.get(Local, conf))
    val tmp = Files.createTempDirectory("graft_localfs_tx_").toString
    val table = s"$tmp/t"
    ops.TxTable.init(spark, table, Seq((0L, "init")).toDF("k", "v"), "k", 4)
    val in = MemoryStream[(Long, String)]
    // a running query: stopping one deletes the session's artifact dir
    // with `rm -rf`, which is Spark's, not the FileSystem's
    val q = stream.Pipelines.appendTx(in.toDF().toDF("k", "v"), table, "k",
      s"$tmp/ckpt", appId = "stream", nBuckets = 4).start()
    def round(i: Int): Unit = {
      ops.TxTable.appendOnce(spark, table,
        Seq((10L * i + 1, "direct"), (10L * i + 2, "direct")).toDF("k", "v"),
        "k", 4, appId = "direct", batchId = i.toLong)
      in.addData((10L * i + 3, "stream"), (10L * i + 4, "stream"))
      q.processAllAvailable()
    }
    try {
      round(1) // first touch of the table and the checkpoint
      // Spark's ArtifactManager Cleaner runs `rm -rf` on the artifact dir
      // of every session the GC collects: let earlier suites' dropped
      // sessions go before the window, not during it
      System.gc()
      Thread.sleep(1000)
      spawnFree(check = true)(round(2))
    } finally q.stop()
    assert(ops.TxTable.read(spark, table).count() == 9)
  }
}
