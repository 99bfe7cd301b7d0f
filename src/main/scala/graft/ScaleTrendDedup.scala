package graft

import graft.Harness.{num, sentinel, timed}

/** Scale-exponent evidence for the DOCUMENT dedup/text heavy tail —
  * the families the sf0.1 bench is blind to (r15 verdict: the 8-core
  * total BEATS the 32-core total at sf0.1, so the suite is
  * scheduling-bound there and only ladder exponents speak to 100 TB).
  * Runs the REGISTERED queries unchanged (SparkEntry.queries — the
  * exact plans the driver times) over suffix-disjoint synthetic
  * document rungs a decade apart (5k → 50k → 500k docs, the
  * [[ScaleTrendDeep]] corpus construction and materialized dirs), so
  * the ladder yields per-decade exponents per query.
  *
  * Honesty discipline: the session memo is CLEARED before every
  * (query, rung) measurement, so each point times the query's full
  * chain cold — a warm shingle index at one rung and cold at another
  * would corrupt the slope.
  *
  * dedup_containment's 500k rung is gated behind
  * SPARK_GRAFT_DEDUP_DECADE3=1: its verify fan-out is ~linear in
  * candidate pairs but the absolute row count (~1.9B) makes the rung
  * minutes, and the 5k→50k decade already measures the trend.
  * text_bm25_topk's query split is a fixed FRACTION of the corpus
  * (doc_id % 20), so its rungs measure corpus and query growth
  * together — the registered RAG shape's declared contract.
  *
  * Output: markdown to /tmp/scale_dedup.md and one JSON line (fitted
  * ln-ln exponents per rung pair) to /tmp/scale_dedup.json, committed
  * as scaletrend_dedup_r16.json.
  */
object ScaleTrendDedup {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()

    val sf01 = "/root/testdata/sf0.1"

    lazy val d50k =
      ScaleTrendDeep.docsDir(spark, sf01, "/tmp/graft_deep_media_10x", 10)
    lazy val d500k =
      ScaleTrendDeep.docsDir(spark, sf01, "/tmp/graft_deep_docs_100x", 100)

    val decade3 = sys.env.get("SPARK_GRAFT_DEDUP_DECADE3").contains("1")

    // (query, rung labels) — every rung reads documents.parquet only,
    // which is all these registered queries touch
    val all = Seq("docs_5k", "docs_50k", "docs_500k")
    val qs: Seq[(String, Seq[String])] = Seq(
      ("dedup_minhash_lsh", all),
      ("dedup_minhash_calibration", all),
      ("dedup_winnowing", all),
      ("dedup_containment",
        if (decade3) all else Seq("docs_5k", "docs_50k")),
      ("text_bm25_topk", Seq("docs_5k", "docs_50k")),
      ("text_postings", all))

    def dirOf(label: String): String = label match {
      case "docs_5k" => sf01
      case "docs_50k" => d50k
      case "docs_500k" => d500k
    }

    val only = sys.env.get("SPARK_GRAFT_DEDUP_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    def wanted(q: String): Boolean = only.forall(_.exists(q.startsWith))

    // warmup: every selected shape once at sf0.001 (codegen/JIT)
    qs.collect { case (q, _) if wanted(q) =>
      try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count()
      catch { case e: Throwable => System.err.println(s"[warm] $q: $e") }
    }

    val sentinelStart = sentinel()
    case class Pt(q: String, rung: String, rows: Long, secs: Double,
                  out: Long)
    val pts = scala.collection.mutable.ArrayBuffer.empty[Pt]
    val sb = new StringBuilder
    sb.append("| query | rung | docs | secs | rows out |\n")
    sb.append("|---|---|---:|---:|---:|\n")
    for ((q, rungs) <- qs if wanted(q); label <- rungs) {
      val dir = dirOf(label)
      spark.catalog.clearCache()
      // cold chain per point: drop every session memo so the rung pays
      // the query's full derivation (see scaladoc)
      graft.core.Memo.clearKeys(spark, graft.core.Memo.keys(spark))
      System.gc()
      val nIn = spark.read.parquet(s"$dir/documents.parquet").count()
      val (secs, nOut) = timed(SparkEntry.queries(q)(spark, dir).count())
      pts.append(Pt(q, label, nIn, secs, nOut))
      val row = f"| $q | $label | $nIn | $secs%.2f | $nOut |"
      println(row)
      sb.append(row).append('\n')
    }
    val sentinelEnd = sentinel()

    java.nio.file.Files.write(
      java.nio.file.Paths.get("/tmp/scale_dedup.md"),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // fitted per-decade exponents: slope of ln(secs) on ln(rows) per
    // consecutive rung pair, plus the overall least-squares slope
    val perQ = pts.groupBy(_.q).map { case (q, ps0) =>
      val ps = ps0.sortBy(_.rows)
      val pairs = ps.zip(ps.drop(1)).map { case (a, b) =>
        val e = math.log(b.secs / a.secs) / math.log(b.rows.toDouble / a.rows)
        s"""{"from":"${a.rung}","to":"${b.rung}","exponent":${num(e)}}"""
      }.mkString("[", ",", "]")
      val xs = ps.map(p => math.log(p.rows.toDouble))
      val ys = ps.map(p => math.log(p.secs))
      val n = xs.length
      val slope =
        if (n < 2) 0.0
        else {
          val mx = xs.sum / n; val my = ys.sum / n
          val den = xs.map(x => (x - mx) * (x - mx)).sum
          if (den == 0) 0.0
          else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / den
        }
      val series = ps.map(p =>
        s"""{"rung":"${p.rung}","rows":${p.rows},"secs":${num(p.secs)},""" +
          s""""rows_out":${p.out}}""").mkString("[", ",", "]")
      s""""$q":{"points":$series,"pair_exponents":$pairs,""" +
        s""""fit_exponent":${num(slope)}}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"scaletrend_dedup","queries":$perQ,""" +
      s""""sentinel_sec":[${num(sentinelStart)},${num(sentinelEnd)}],""" +
      s""""decade3":$decade3}"""
    println(line)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("/tmp/scale_dedup.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
