package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Grep provenance (reference parity: matches tagged VM file + line
  * number). Cross-checked against a direct JVM read of the same files, so
  * the Spark plumbing (wholetext scan, posexplode numbering, basename
  * extraction) is verified bit-for-bit, not just shape-checked. */
class LogFilesSpec extends SparkSpec {

  private val logsDir = graft.queries.RefQueries.logsDir

  private def fileLines: Seq[(String, Seq[String])] =
    Files.list(Paths.get(logsDir)).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".log")).sortBy(_.getFileName.toString)
      .map { p =>
        // grep/wc accounting: a newline-terminated file has no phantom
        // final empty line (drop exactly one trailing empty element)
        val all = new String(Files.readAllBytes(p), "UTF-8").split("\n", -1)
        val lines: Seq[String] =
          if (all.nonEmpty && all.last.isEmpty) all.dropRight(1).toSeq
          else all.toSeq
        (p.getFileName.toString, lines)
      }

  private def expectedMatches(pattern: String): Seq[(String, Long, String)] = {
    val re = pattern.r
    fileLines.flatMap { case (f, lines) =>
      lines.zipWithIndex.collect {
        case (l, i) if re.findFirstIn(l).isDefined => (f, (i + 1).toLong, l)
      }
    }
  }

  test("lines() reports wc-accurate per-file line counts (no phantom line)") {
    val got = LogFiles.lines(spark, logsDir)
      .groupBy("file").count().orderBy("file").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = fileLines.map { case (f, ls) => (f, ls.size.toLong) }
    want should not be empty
    got shouldBe want
  }

  test("grep reports exact file + line-number provenance") {
    val pattern = "(ERROR|WARN) (connection reset|slow query)"
    val got = LogFiles.grep(spark, logsDir, pattern)
      .orderBy("file", "line_no").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val want = expectedMatches(pattern)
    want should not be empty
    got shouldBe want
  }

  test("grepCounts matches per-file tallies of the raw files") {
    val pattern = "http (GET|POST) .* 500 "
    val got = LogFiles.grepCounts(spark, logsDir, pattern)
      .orderBy("file").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = expectedMatches(pattern)
      .groupBy(_._1).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    want should not be empty
    got shouldBe want
  }

  test("lines() reads only files matching the glob") {
    val dir = Files.createTempDirectory("logfiles_glob")
    try {
      Files.writeString(dir.resolve("a.log"), "one\ntwo\n")
      Files.writeString(dir.resolve("notes.txt"), "stray\n")
      val got = LogFiles.lines(spark, dir.toString)
        .orderBy("line_no").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      got shouldBe Seq(("a.log", 1L, "one"), ("a.log", 2L, "two"))
    } finally {
      Files.list(dir).iterator().asScala.foreach(Files.delete)
      Files.delete(dir)
    }
  }
}
