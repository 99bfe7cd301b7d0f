package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext,
  FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.functions.TextFunctions
import graft.streaming.{CraneStream, NearDupIngest}

/** [[LocalFs]] answers as Hadoop's stock local filesystem does, writes the
  * same files with the same modes, and forks no process for the streaming
  * path's calls. */
class LocalFsSpec extends SparkSpec {
  import LocalFsSpec._

  private val Local = URI.create("file:///")

  private def hadoopConf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }
  private def init[F <: FileSystem](fs: F, conf: Configuration): F = {
    fs.initialize(Local, conf)
    fs
  }
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer].intValue & 0xfff
  private def tree(root: JPath): Seq[(String, Int)] =
    Files.walk(root).iterator().asScala.toSeq
      .map(p => root.relativize(p).toString -> mode(p)).sortBy(_._1)

  test("routing selects LocalFs for file: in the factory session") {
    val conf = spark.sparkContext.hadoopConfiguration
    LocalFs.routing.foreach { case (k, v) => conf.get(k) shouldBe v }
    new Path("file:///tmp").getFileSystem(conf) shouldBe a[LocalFs.Checksummed]
    FileContext.getFileContext(Local, LocalFs.conf(new Configuration()))
      .getDefaultFileSystem shouldBe a[LocalFs.Fc]
  }

  test("files and directories get the stock modes under the same umask, sticky bit included") {
    for (umask <- Seq("022", "077")) {
      val root = Files.createTempDirectory("modes")
      def write(fs: FileSystem, side: String): Unit = {
        val d = new Path(root.toString, side)
        fs.mkdirs(new Path(d, "a/b"), new FsPermission("750"))
        fs.mkdirs(new Path(d, "plain"))
        val out = fs.create(new Path(d, "a/b/f.txt"), true)
        out.write("x".getBytes(UTF_8))
        out.close()
        fs.create(new Path(d, "g.txt"), new FsPermission("640"), true, 4096,
          1.toShort, 1L << 20, null).close()
        fs.setPermission(new Path(d, "plain"), new FsPermission("1755"))
        fs.setPermission(new Path(d, "a/b/f.txt"), new FsPermission("600"))
      }
      val conf = hadoopConf(umask)
      write(init(new LocalFileSystem(), conf), "stock")
      write(init(new LocalFs.Checksummed, conf), "graft")
      val stock = tree(root.resolve("stock"))
      stock.map(_._1) should contain allOf ("a/b/.f.txt.crc", ".g.txt.crc")
      stock.find(_._1 == "plain").get._2 shouldBe 0x3ed // 01755
      tree(root.resolve("graft")) shouldBe stock
    }
  }

  test("getFileLinkStatus answers as stock for a file, a missing path and a symlink") {
    val conf = hadoopConf("022")
    val stock = init(new RawLocalFileSystem(), conf)
    val graft = init(new LocalFs.Raw, conf)
    val root = Files.createTempDirectory("links")
    val file = Files.write(root.resolve("f.txt"), "abc".getBytes(UTF_8))
    val link = Files.createSymbolicLink(root.resolve("l"), file)
    def answer(fs: FileSystem, p: Path) =
      try {
        val s = fs.getFileLinkStatus(p)
        Right((s.getPath, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
          s.isDirectory, s.getLen, s.getModificationTime))
      } catch { case e: FileNotFoundException => Left(e.getClass) }
    val paths = Seq(file.toString, root.resolve("missing").toString,
      link.toString, link.toUri.toString, s"file:$link")
    paths.foreach { s =>
      withClue(s) { answer(graft, new Path(s)) shouldBe answer(stock, new Path(s)) }
    }
    // the unqualified link path is a link; its qualified form is not,
    // for the stock readlink and for NIO alike
    answer(graft, new Path(link.toString)).map(_._2) shouldBe Right(true)
    answer(graft, new Path(s"file:$link")).map(_._2) shouldBe Right(false)
    answer(graft, new Path(root.resolve("missing").toString)) shouldBe
      Left(classOf[FileNotFoundException])
  }

  test("FileContext rename with and without OVERWRITE matches stock") {
    def run(fc: FileContext, dir: Path): (Seq[(String, String)], Seq[String]) = {
      def put(name: String, body: String): Unit = {
        val out = fc.create(new Path(dir, name),
          EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        out.write(body.getBytes(UTF_8))
        out.close()
      }
      val errors = Seq.newBuilder[String]
      def rename(a: String, b: String, opts: Options.Rename*): Unit =
        try fc.rename(new Path(dir, a), new Path(dir, b), opts: _*)
        catch { case _: FileAlreadyExistsException => errors += s"$a->$b exists" }
      put("a", "one")
      put("b", "two")
      put("c", "three")
      rename("a", "x")
      rename("b", "x")
      rename("b", "x", Options.Rename.NONE)
      rename("b", "x", Options.Rename.OVERWRITE)
      rename("c", "y", Options.Rename.OVERWRITE)
      val local = java.nio.file.Paths.get(dir.toUri)
      val files = Files.list(local).iterator().asScala.toSeq.sortBy(_.toString)
        .map(p => p.getFileName.toString ->
          (if (p.getFileName.toString.endsWith(".crc")) ""
           else new String(Files.readAllBytes(p), UTF_8)))
      (files, errors.result())
    }
    val root = Files.createTempDirectory("rename")
    val stock = run(FileContext.getFileContext(Local, new Configuration()),
      new Path(root.resolve("stock").toUri))
    val graft = run(FileContext.getFileContext(Local, LocalFs.conf(new Configuration())),
      new Path(root.resolve("graft").toUri))
    stock._2 shouldBe Seq("b->x exists", "b->x exists")
    stock._1.map(_._1) shouldBe Seq(".x.crc", ".y.crc", "x", "y")
    graft shouldBe stock
  }

  test("CraneStream triggers and VersionedStore reads start no Hadoop Shell process") {
    val root = Files.createTempDirectory("forks")
    val in = Files.createDirectory(root.resolve("in"))
    val store = VersionedStore(root.resolve("store").toString)
    def feed(i: Int): Unit = {
      val tmp = Files.write(root.resolve(s"stage$i"), s"a b $i\nb c".getBytes(UTF_8))
      Files.move(tmp, in.resolve(s"part$i.txt"))
    }
    // only the entry points' own routing counts: a session built without
    // GraftSession (as a benchmark harness might) has none of its own
    withoutContextRouting {
      val q = CraneStream.start(CraneStream.fileLines(spark, in.toString),
        "wordCount", store, root.resolve("ckpt").toString, k = 3,
        period = "0 seconds")
      try {
        // one file, one batch: wait for its version, not for a trigger
        // that may have listed the directory before the file landed
        def trigger(i: Int): Unit = {
          feed(i)
          while (!store.versions(spark, "wordCount_result").contains(i.toLong))
            q.processAllAvailable()
        }
        trigger(0) // the first trigger pays JIT and class loading
        val (_, starts) = processStarts {
          (1 to 4).foreach(trigger)
          q.processAllAvailable()
          store.get(spark, "wordCount_result").collect()
          store.versions(spark, "wordCount_result") shouldBe (0L to 4L)
          new ProcessBuilder("true").start().waitFor()
        }
        // the recording sees process starts at all
        starts.map(_.command) should contain("true")
        starts.filter(_.fromShell).map(_.command) shouldBe empty
      } finally q.stop()
    }
  }

  test("NearDupIngest.startDelta triggers start no Hadoop Shell process") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("forks-neardup")
    val store = VersionedStore(root.resolve("store").toString)
    def doc(i: Int) = s"the quick brown fox number $i jumps over the lazy dog " +
      s"and then the fox $i runs all the way back home to the den"
    val corpus = Seq((0L, doc(0))).toDF("doc_id", "text")
    NearDupIngest.seed(spark, store, "corpus", corpus, "doc_id", "text")
    val corpusFps = corpus.select(TextFunctions.fingerprint(col("text")).as("fp"))
    val in = MemoryStream[(Long, Timestamp, String)]
    // as for CraneStream.start: only the entry point's own routing counts
    withoutContextRouting {
      val q = NearDupIngest.startDelta(in.toDF().toDF("doc_id", "ts", "text"),
        corpusFps, store, "corpus", "ts", "doc_id", "text",
        root.resolve("ckpt").toString, lateness = "10 minutes", compactEvery = 2)
      try {
        def trigger(i: Int): Unit = {
          in.addData((i.toLong, new Timestamp(86400000L + i * 1000L), doc(i)))
          q.processAllAvailable()
        }
        trigger(1) // the first trigger pays JIT and class loading
        val (_, starts) = processStarts {
          (2 to 5).foreach(trigger)
          NearDupIngest.acceptedDocs(spark, store, "corpus").collect()
          new ProcessBuilder("true").start().waitFor()
        }
        starts.map(_.command) should contain("true")
        starts.filter(_.fromShell).map(_.command) shouldBe empty
      } finally q.stop()
    }
  }

  /** Runs `body` with the factory's routing taken out of the context's
    * Hadoop configuration. */
  private def withoutContextRouting[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val prior = LocalFs.routing.keys.map(k => k -> Option(conf.getRaw(k)))
    LocalFs.routing.keys.foreach(conf.unset)
    try body
    finally prior.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

object LocalFsSpec {

  final case class ProcessStart(command: String, fromShell: Boolean)

  /** `body`'s result and every process the JVM started while it ran (a
    * JFR recording of `jdk.ProcessStart`), with whether Hadoop's `Shell`
    * started it. */
  def processStarts[T](body: => T): (T, Seq[ProcessStart]) = {
    // Shell's static initializer probes for setsid once per JVM
    Class.forName("org.apache.hadoop.util.Shell")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val out = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.start()
      val result = try body finally rec.stop()
      rec.dump(out)
      result -> RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map { e =>
          val frames = Option(e.getStackTrace).map(_.getFrames.asScala.toSeq)
            .getOrElse(Seq.empty)
          ProcessStart(e.getString("command"), frames.exists(
            _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))
        }
    } finally {
      rec.close()
      Files.deleteIfExists(out)
    }
  }
}
