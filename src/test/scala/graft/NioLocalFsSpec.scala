package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.io.{MergeOnRead, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem, Sinks, Tables, Upsert}
import graft.model.{FirstSeen, KeyDay}
import graft.streaming.Stateful

/** The session's `file:` filesystem ([[graft.io.NioLocalFs]]) against the
  * stock Hadoop local filesystem it replaces: the same statuses, modes
  * and rename outcomes, and no process started for any of them.
  */
class NioLocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val local = URI.create("file:///")
  private def conf = spark.sparkContext.hadoopConfiguration

  private def stockConf(c: Configuration = conf): Configuration = {
    val s = new Configuration(c)
    s.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    s
  }
  private def init[F <: FileSystem](fs: F, c: Configuration = conf): F = {
    fs.initialize(local, c); fs
  }

  private def fields(s: FileStatus): Seq[Any] =
    Seq(s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getModificationTime, s.getAccessTime,
      s.getPermission, s.getOwner, s.getGroup, s.getReplication, s.getBlockSize,
      if (s.isSymlink) s.getSymlink else null)

  private def outcome(f: => FileStatus): Either[String, Seq[Any]] =
    try Right(fields(f)) catch { case e: IOException => Left(e.getClass.getName) }

  test("file statuses equal the stock filesystem's: file, dir, symlink, dangling link, missing path") {
    val root = Files.createTempDirectory("niofs")
    val file = Files.write(root.resolve("f"), "abc".getBytes)
    val dir = Files.createDirectory(root.resolve("d"))
    val sticky = Files.createDirectory(root.resolve("t"))
    Files.setAttribute(sticky, "unix:mode", Int.box(0x3ff)) // 01777, like /tmp
    val link = Files.createSymbolicLink(root.resolve("l"), file)
    val relLink = Files.createSymbolicLink(root.resolve("r"), Paths.get("d"))
    val dangling = Files.createSymbolicLink(root.resolve("x"), root.resolve("gone"))
    val stock = init(new RawLocalFileSystem)
    val nio = init(new NioRawLocalFileSystem)

    for (p <- Seq(file, dir, sticky, link, relLink, dangling, root.resolve("missing"),
                  file.resolve("under-a-file"))) {
      val path = new Path(p.toString)
      val status = outcome(nio.getFileStatus(path))
      assert(status == outcome(stock.getFileStatus(path)), s"getFileStatus $p")
      val link = outcome(nio.getFileLinkStatus(path))
      assert(link == outcome(stock.getFileLinkStatus(path)), s"getFileLinkStatus $p")
      if (link.exists(_(3) == true))
        assert(nio.getLinkTarget(path) == stock.getLinkTarget(path), s"getLinkTarget $p")
    }
    // the cases that matter are the ones above, not vacuous passes
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    assert(nio.getFileStatus(new Path(sticky.toString)).getPermission.getStickyBit)
    intercept[FileNotFoundException](nio.getFileStatus(new Path(root.resolve("missing").toString)))
    intercept[FileNotFoundException](nio.getFileLinkStatus(new Path(dangling.toString + "-no")))

    // listing goes through the same status, for a directory and for a single file
    for (p <- Seq(root, file)) {
      def list(fs: RawLocalFileSystem) = fs.listStatus(new Path(p.toString)).sortBy(_.getPath.getName).map(fields).toSeq
      assert(list(nio) == list(stock), s"listStatus $p")
      def located(fs: RawLocalFileSystem) = {
        val it = fs.listFiles(new Path(p.toString), true)
        Iterator.continually(it).takeWhile(_.hasNext).map(i => fields(i.next())).toSeq.sortBy(_.head.toString)
      }
      assert(located(nio) == located(stock), s"listFiles $p")
    }
  }

  test("create and mkdirs apply the umask, setPermission sets the mode, as stock does") {
    val root = Files.createTempDirectory("niofs-perm")
    def mode(p: Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri.getPath)))
    for ((umask, fileMode, dirMode) <- Seq((None, "rw-r--r--", "rwxr-xr-x"),
                                          (Some("077"), "rw-------", "rwx------"))) {
      val c = new Configuration(conf)
      umask.foreach(c.set("fs.permissions.umask-mode", _))
      val sides = Seq(
        "stock" -> (init(new LocalFileSystem, c), FileContext.getFileContext(stockConf(c))),
        "nio" -> (init(new NioLocalFileSystem, c), FileContext.getFileContext(c)))
      val modes = sides.map { case (name, (fs, fc)) =>
        val base = new Path(s"$root/${umask.getOrElse("session")}-$name")
        fs.create(new Path(base, "fs/a/file")).close()
        fs.mkdirs(new Path(base, "fs/dir"), FsPermission.getDirDefault)
        fs.mkdirs(new Path(base, "fs/plain")) // no mode asked: the process umask, not chmod
        fc.create(new Path(base, "fc/file"), java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent()).close()
        fc.mkdir(new Path(base, "fc/dir"), FsPermission.getDirDefault, true)
        val got = Seq("fs/a/file", "fs/dir", "fc/file", "fc/dir", "fs/a", "fs/plain", "fc")
          .map(s => mode(new Path(base, s)))
        assert(got.take(4) == Seq(fileMode, dirMode, fileMode, dirMode), s"$name umask $umask")
        // the .crc sidecar is written like any other file
        assert(Files.exists(Paths.get(s"$base/fs/a/.file.crc")) && Files.exists(Paths.get(s"$base/fc/.file.crc")))
        got
      }
      assert(modes.distinct.size == 1)
    }
    val stock = init(new RawLocalFileSystem)
    val nio = init(new NioRawLocalFileSystem)
    for (octal <- Seq("644", "755", "700", "1777")) {
      val perm = new FsPermission(octal)
      val byMode = Seq(stock, nio).map { fs =>
        val p = new Path(Files.createTempFile(root, "set", "").toString)
        fs.setPermission(p, perm)
        (fs.getFileStatus(p).getPermission, Files.getAttribute(Paths.get(p.toString), "unix:mode"))
      }
      assert(byMode.head == byMode.last, octal)
      assert(byMode.head._1 == perm, octal)
    }
  }

  test("FileContext.rename(OVERWRITE) replaces a file and refuses a non-empty directory, as stock does") {
    val root = Files.createTempDirectory("niofs-rename")
    def run(name: String, fc: FileContext): (String, Option[(String, String)]) = {
      val base = new Path(s"$root/$name")
      def write(p: String, s: String) = {
        val out = fc.create(new Path(base, p), java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(s.getBytes) finally out.close()
      }
      write("src", "new"); write("dst", "old")
      fc.rename(new Path(base, "src"), new Path(base, "dst"), Options.Rename.OVERWRITE)
      assert(!fc.util.exists(new Path(base, "src")))
      val in = fc.open(new Path(base, "dst"))
      val content = try new String(in.readAllBytes()) finally in.close()
      write("srcdir/a", "a"); write("dstdir/b", "b")
      val refused =
        try { fc.rename(new Path(base, "srcdir"), new Path(base, "dstdir"), Options.Rename.OVERWRITE); None }
        catch { case e: IOException => Some(e.getClass.getName -> e.getMessage.replace(base.toString, "")) }
      (content, refused)
    }
    val stock = run("stock", FileContext.getFileContext(stockConf()))
    val nio = run("nio", FileContext.getFileContext(conf))
    assert(nio == stock)
    assert(nio._1 == "new" && nio._2.isDefined)
  }

  test("the session resolves file: to the graft classes through FileSystem and FileContext") {
    for (c <- Seq(conf, spark.sessionState.newHadoopConf())) {
      assert(FileSystem.get(local, c).isInstanceOf[NioLocalFileSystem])
      assert(FileSystem.getLocal(c).getRaw.isInstanceOf[NioRawLocalFileSystem])
      assert(new Path("/tmp").getFileSystem(c).isInstanceOf[NioLocalFileSystem])
      assert(FileContext.getFileContext(c).getDefaultFileSystem.isInstanceOf[NioLocalFs])
      assert(FileContext.getFileContext(local, c).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    }
  }

  /** Process starts during `body`, each as the class names on its stack. */
  private def processStarts(body: => Unit): Seq[Seq[String]] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq.map { e =>
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.map(_.getMethod.getType.getName))
      }
    } finally { rec.close(); Files.delete(file) }
  }
  private def throughHadoopFs(stack: Seq[String]) = stack.exists(_.startsWith("org.apache.hadoop.fs."))

  test("table commits, a batch sink, a file listing and a stateful query start no process through org.apache.hadoop.fs") {
    // the probe sees what it looks for: stock chmod forks under the recording
    val control = Files.createTempFile("niofs-control", "")
    val seen = processStarts(init(new RawLocalFileSystem).setPermission(new Path(control.toString),
      new FsPermission("600")))
    val controlForks = seen.count(throughHadoopFs)
    assert(controlForks == 1)

    val root = Files.createTempDirectory("niofs-forks").toString
    val rows = Seq(("d1", "p1", 1L, 1000L, "insert"), ("d2", "p2", 1L, 550L, "insert"))
      .toDF("id", "province_id", "ver", "amount_cents", "op")
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[KeyDay]
    val starts = processStarts {
      assert(Sinks.exactlyOnceBatch(rows, s"$root/sink", batchId = 0L))
      Upsert.merge(spark, s"$root/cow", rows, Seq("id"), versionCol = "ver", deleteFlagCol = Some("op"))
      MergeOnRead.merge(spark, s"$root/mor", rows)
      Tables.sourceKey(spark, Files.write(Paths.get(s"$root/source.csv"), "k\n1\n".getBytes).toString)
      val q = Stateful.firstSeenPerDay(ms.toDS()).writeStream.format("memory").queryName("niofs_fsd")
        .option("checkpointLocation", s"$root/ckpt").outputMode("append").start()
      try for (day <- Seq("2024-01-01", "2024-01-02", "2024-01-03")) {
        ms.addData(KeyDay("u1", day), KeyDay("u2", day))
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(spark.table("niofs_fsd").as[FirstSeen].count() == 6)
    assert(Files.walk(Paths.get(s"$root/ckpt/state")).iterator.asScala
      .exists(_.getFileName.toString.endsWith(".delta")), "the state store wrote its deltas")
    val hadoop = starts.filter(throughHadoopFs)
    val forks = hadoop.size
    assert(forks == 0, s"of ${starts.size} process starts through " +
      s"org.apache.hadoop.fs, first: ${hadoop.headOption.map(_.take(12).mkString(" < "))}")
  }
}
