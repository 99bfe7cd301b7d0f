package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Harness.timed
import graft.core.Tables
import graft.operators.{Ann, Dedup, Joins}
import graft.plans.AsOfNative

/** Scale-trend evidence runner: times the dedup / ANN / as-of operator
  * families across a ~10x input ladder and prints a markdown table, so
  * "bucketed, never all-pairs" is a measured trend rather than a plan
  * shape. The driver testdata only grows documents/embeddings at sf0.1
  * (500 -> 500 -> 5,000 docs), so the top rung is SYNTHETIC:
  *
  *  - documents x10: ten copies of sf0.1 with every token suffixed by the
  *    copy id. Cross-copy shingle vocabularies are disjoint, so the
  *    near-dup pair structure replicates per copy (output grows ~10x,
  *    like a real corpus), instead of every doc gaining nine >0.8 twins
  *    (output growing ~100x, which would measure result-size explosion,
  *    not pipeline scaling).
  *  - embeddings x10: ten copies with a deterministic per-(copy, index)
  *    component perturbation — copies point in genuinely different
  *    directions, so cosine-pair output scales like a grown corpus.
  *  - events x10: ten copies in disjoint user-id spaces — as-of key
  *    cardinality grows 10x at constant per-key history, the 100 TB
  *    growth mode.
  *
  * Methodology mirrors Bench: one warmup pass absorbs codegen/JIT, each
  * measurement clears caches and GCs first, count() forces execution.
  */
object ScaleTrend {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()

    val sf001 = "/root/testdata/sf0.01"
    val sf01 = "/root/testdata/sf0.1"

    /** Ten suffix-disjoint copies of the sf0.1 documents (see scaladoc). */
    def docs10x: DataFrame = (0 until 10).map { i =>
      val base = Tables.documents(spark, sf01).select("doc_id", "text")
      if (i == 0) base
      else base.select(
        (col("doc_id") + i * 10000000L).as("doc_id"),
        array_join(
          transform(split(col("text"), "\\s+"), t => concat(t, lit(s"_$i"))),
          " ").as("text"))
    }.reduce(_ unionByName _)

    def emb10x: DataFrame = (0 until 10).map { i =>
      val base = Tables.embeddings(spark, sf01).select("vec_id", "embedding")
      if (i == 0) base
      else base.select(
        (col("vec_id") + i * 10000000L).as("vec_id"),
        transform(col("embedding"),
          (x, j) => x + ((lit(i) * 31 + j) % 7).cast("float") * lit(0.03f)
            - lit(0.09f)).as("embedding"))
    }.reduce(_ unionByName _)

    def events10x: DataFrame = (0 until 10).map { i =>
      val base = Tables.events(spark, sf01)
        .select("event_id", "user_id", "ts", "event_type")
      if (i == 0) base
      else base.select(
        (col("event_id") + i * 1000000000L).as("event_id"),
        (col("user_id") + i * 1000000000L).as("user_id"),
        col("ts"), col("event_type"))
    }.reduce(_ unionByName _)

    val docInputs = Seq(
      ("docs_500", Tables.documents(spark, sf001).select("doc_id", "text")),
      ("docs_5k", Tables.documents(spark, sf01).select("doc_id", "text")),
      ("docs_50k", docs10x))
    val embInputs = Seq(
      ("emb_500", Tables.embeddings(spark, sf001).select("vec_id", "embedding")),
      ("emb_2k", Tables.embeddings(spark, sf01).select("vec_id", "embedding")),
      ("emb_20k", emb10x))
    val evInputs = Seq(
      ("events_10k", Tables.events(spark, sf001)
        .select("event_id", "user_id", "ts", "event_type")),
      ("events_100k", Tables.events(spark, sf01)
        .select("event_id", "user_id", "ts", "event_type")),
      ("events_1m", events10x))

    def jaccard(d: DataFrame) =
      Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.8)
    def minhash(d: DataFrame) =
      Dedup.minhashLshPairs(d, "doc_id", "text", n = 3, numPerms = 32,
        bands = 8, threshold = 0.8)
    def simhash(d: DataFrame) = Dedup.simhashPairs(d, "doc_id", "text", 3)
    def cosine(e: DataFrame) =
      Dedup.embeddingCosinePairs(e, "vec_id", "embedding", threshold = 0.2)
    def annQ(e: DataFrame) = e.filter(col("vec_id") < 10)
    def brute(e: DataFrame) =
      Ann.bruteForceTopK(e, annQ(e), "vec_id", "embedding", k = 10)
    def lsh(e: DataFrame) =
      Ann.lshTopK(e, annQ(e), "vec_id", "embedding", k = 10)
    def ivf(e: DataFrame) =
      Ann.ivfTopK(e, annQ(e), "vec_id", "embedding", k = 10)
    def purchases(ev: DataFrame) = ev
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    def clicks(ev: DataFrame) = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    def asofComposed(ev: DataFrame) =
      Joins.asOf(purchases(ev), clicks(ev), Seq("user_id"), "ts", "ts",
        Seq("click_id"))
    def asofNative(ev: DataFrame) =
      AsOfNative.join(purchases(ev), clicks(ev), Seq("user_id"), "ts", "ts",
        Seq("click_id"))
    def cdc(d: DataFrame) =
      Dedup.cdcRetention(d, "doc_id", "text", divisor = 8)
    def heavyTokens(d: DataFrame) = {
      val terms = d.select(explode(
        graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      val mg = udaf(new graft.functions.CraneAggregators.FreqItemsMG(999))
      val cands = terms.agg(mg(xxhash64(col("term"))).as("cand"))
        .select(explode(col("cand")).as("h"))
      val tot = terms.agg(count(lit(1)).as("n_total"))
      terms.join(broadcast(cands),
          xxhash64(col("term")) === col("h"), "left_semi")
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .filter(col("cnt") * 1000 > col("n_total"))
    }
    def cosLsh(e: DataFrame) =
      Ann.cosinePairsLsh(e, "vec_id", "embedding", threshold = 0.2,
        bits = Ann.autoBits(e.count(), targetBucket = 64))
    def cdcBytes(d: DataFrame) =
      Dedup.cdcBytesRetention(d, "doc_id", "text", w = 16, divisor = 64)
    def postings(d: DataFrame) = {
      val mink = udaf(new graft.functions.CraneAggregators.TopKByScore(20))
      d.select(col("doc_id"), explode(
          graft.functions.TextFunctions.tokens(col("text"))).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tfp"))
        .groupBy("term").agg(count(lit(1)).as("df"), sum("tfp").as("tf"),
          mink(-col("doc_id"), col("doc_id")).as("top"))
    }
    // the dedup_contamination_pairs shape: df-capped 5-gram inverted-
    // index join between the 5% eval split and the train side
    def contamination(d: DataFrame) = {
      val inv = Dedup.shingleIndex(d, "doc_id", "text", n = 5)
      val keep = inv.join(
        inv.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") <= 256).select("shingle"), "shingle")
      keep.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id").as("train_id"), col("shingle"))
        .join(keep.filter(col("doc_id") % 20 === 0)
          .select(col("doc_id").as("eval_id"), col("shingle")), "shingle")
        .groupBy("train_id", "eval_id").agg(count(lit(1)).as("shared"))
    }
    def pq(e: DataFrame) =
      Ann.pqTopK(e, annQ(e), "vec_id", "embedding", k = 10)
    def minhashDet(d: DataFrame) =
      Dedup.minhashDetPairs(d, "doc_id", "text", n = 3, numPerms = 16,
        rowsPerBand = 4)
    def simhashDet(d: DataFrame) =
      Dedup.simhashDetPairs(d, "doc_id", "text", maxHamming = 3)
    def covariance(e: DataFrame) =
      Ann.covarianceStats(e, "vec_id", "embedding")
    def rangeCosine(e: DataFrame) =
      e.select(col("vec_id").as("cand_id"),
          col("embedding").cast("array<double>").as("cv"))
        .join(broadcast(annQ(e).select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))),
          col("query_id") =!= col("cand_id"))
        .filter(round(graft.functions.HashExprs.cosine_sim(col("qv"),
          col("cv")) * 10000) >= 1500)

    // warmup: smallest input through every op once (codegen/JIT)
    val wd = docInputs.head._2.limit(200)
    val we = embInputs.head._2.limit(200)
    val wv = evInputs.head._2.limit(500)
    Seq(jaccard(wd), minhash(wd), simhash(wd), cosine(we), brute(we),
      lsh(we), ivf(we), asofComposed(wv), asofNative(wv), cdc(wd),
      heavyTokens(wd), cosLsh(we), cdcBytes(wd), postings(wd),
      contamination(wd), rangeCosine(we), pq(we), minhashDet(wd),
      simhashDet(wd), covariance(we))
      .foreach(df => try df.count() catch { case _: Throwable => () })

    val ops: Seq[(String, Seq[(String, DataFrame)], DataFrame => DataFrame)] =
      Seq(
        ("dedup_ngram_jaccard", docInputs, jaccard),
        ("dedup_minhash_lsh", docInputs, minhash),
        ("dedup_simhash", docInputs, simhash),
        ("dedup_embedding_cosine", embInputs, cosine),
        ("ann_brute_topk", embInputs, brute),
        ("ann_lsh_topk", embInputs, lsh),
        ("ann_ivf_topk", embInputs, ivf),
        ("join_asof_composed", evInputs, asofComposed),
        ("join_asof_native", evInputs, asofNative),
        ("dedup_cdc_chunks", docInputs, cdc),
        ("corpus_heavy_tokens", docInputs, heavyTokens),
        ("dedup_cosine_lsh", embInputs, cosLsh),
        ("dedup_cdc_bytes", docInputs, cdcBytes),
        ("text_postings", docInputs, postings),
        ("dedup_contamination", docInputs, contamination),
        ("ann_range_cosine", embInputs, rangeCosine),
        ("ann_pq_topk", embInputs, pq),
        ("dedup_minhash_det", docInputs, minhashDet),
        ("dedup_simhash_det", docInputs, simhashDet),
        ("embed_covariance", embInputs, covariance))

    val sb = new StringBuilder
    sb.append("| operator | input | rows in | secs | rows out |\n")
    sb.append("|---|---|---:|---:|---:|\n")
    for ((opName, inputs, op) <- ops; (label, in) <- inputs) {
      spark.catalog.clearCache()
      System.gc()
      val nIn = in.count()
      val (secs, nOut) = timed(op(in).count())
      val row = f"| $opName | $label | $nIn | $secs%.2f | $nOut |"
      println(row)
      sb.append(row).append('\n')
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get("/tmp/scale_trend.md"),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
