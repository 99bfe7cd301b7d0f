package graft.tools

import org.apache.spark.sql.functions._

/** Generation-time ground truth for `text_compression_ratio` (the r10
  * JPEG-oracle pattern, applied to deflate): compressed sizes are
  * implementation-defined, so no SQL replay exists — instead the
  * expected sizes are pinned ONCE, beside the corpus they were computed
  * from, and the DuckDB oracle joins the fixture by text digest. The
  * fixture is computed through an INDEPENDENT call path from the
  * operator under test (`Corpus.deflateRatio` drives a reused
  * `Deflater` via reset/finish/deflate-loop; this walks a fresh
  * single-shot `DeflaterOutputStream` per document into a byte
  * counter), so a behavioral drift in either path breaks parity
  * loudly instead of both sides drifting together.
  *
  * Keyed by md5(text), NOT doc_id: the three SF corpora overlap ids,
  * and keying on the digest makes staleness self-announcing — if the
  * driver ever regenerates documents with different text, the oracle
  * join drops rows and the row-count check fails visibly rather than
  * comparing stale sizes. Re-run after any TESTDATA regeneration:
  *
  *   sbt "runMain graft.tools.GenDeflateTruth"
  */
object GenDeflateTruth {
  def main(args: Array[String]): Unit = {
    val out =
      if (args.nonEmpty) args(0) else "data/deflate/expected.parquet"
    val spark = graft.GraftSession()
    import spark.implicits._

    val texts = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(sf => graft.core.Tables
        .documents(spark, s"/root/testdata/$sf").select("text"))
      .reduce(_ unionByName _)
      .distinct()
      .as[String]

    val truth = texts.map { text =>
      val raw =
        if (text == null) Array.empty[Byte] else text.getBytes("UTF-8")
      val counter = new java.io.OutputStream {
        var n = 0L
        override def write(b: Int): Unit = n += 1
        override def write(b: Array[Byte], off: Int, len: Int): Unit =
          n += len
      }
      val z = new java.util.zip.DeflaterOutputStream(
        counter, new java.util.zip.Deflater(6))
      z.write(raw)
      z.close()
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(raw).map("%02x".format(_)).mkString
      (md5hex, raw.length.toLong, counter.n)
    }.toDF("text_md5", "raw_bytes", "deflate_bytes")

    // one row per digest, or the oracle join would fan out
    val dup = truth.groupBy("text_md5").count().filter(col("count") > 1)
    require(dup.isEmpty, "duplicate text_md5 in deflate truth")

    truth.coalesce(1).write.mode("overwrite").parquet(out)
    println(s"[gen-deflate-truth] ${truth.count()} distinct texts -> $out")
    spark.stop()
  }
}
