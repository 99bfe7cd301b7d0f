package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** Corpus-preparation operators for the training-data pipeline: fixed-size
  * token chunking (the step that turns documents into model-ready windows)
  * and TF-IDF term scoring (the classic quality/relevance signal).
  *
  * Both are pure Column-function plans — tokenization happens once per
  * row inside whole-stage codegen, rows fan out via explode, and every
  * aggregation is map-side partial. Nothing here holds per-document state
  * outside the row, so the operators scale with partition count.
  */
object Corpus {

  /** Split each document into overlapping windows of `chunkTokens`
    * whitespace tokens, stepping by `chunkTokens - overlap` (the standard
    * sliding-window chunker for LLM context preparation). Every document
    * produces at least one chunk (the tail chunk may be short); documents
    * with no tokens produce none.
    *
    * Output: (id, chunk_id, chunk_text, n_tokens), totally ordered.
    */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            chunkTokens: Int, overlap: Int): DataFrame =
    chunkUnordered(docs, idCol, textCol, chunkTokens, overlap)
      .orderBy(col(idCol), col("chunk_id"))

  /** `chunk` without the final total order — for consumers that reshuffle
    * anyway (e.g. passage dedup keys by fingerprint next), where the sort's
    * range-partition exchange would be pure wasted shuffle. */
  def chunkUnordered(docs: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(overlap >= 0 && overlap < chunkTokens,
      "overlap must be in [0, chunkTokens)")
    val stride = chunkTokens - overlap
    docs
      .select(col(idCol), TF.tokens(col(textCol)).as("toks"))
      .withColumn("ntok", size(col("toks")).cast("long"))
      .filter(col("ntok") > 0)
      // ceil((ntok - overlap) / stride) starts, minimum 1 — integer
      // arithmetic so engines can't disagree on the boundary
      .withColumn("n_chunks", greatest(lit(1L),
        expr(s"(ntok - $overlap + ${stride - 1}) DIV $stride")))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("n_chunks") - 1)))
      .select(col(idCol), col("chunk_id"),
        array_join(slice(col("toks"),
          (col("chunk_id") * stride + 1).cast("int"), lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(lit(chunkTokens.toLong), col("ntok") - col("chunk_id") * stride)
          .as("n_tokens"))
  }

  /** Concat-and-cut sequence packing: rows (documents or chunks) are laid
    * end-to-end in a deterministic order within each `groupCol` partition
    * and cut into bins of `contextTokens` — each row lands in the bin
    * holding its first token. This is the packing pretraining pipelines
    * actually use (concatenate, then split at the context length), and
    * unlike greedy first-fit it is a pure window cumsum: parallel across
    * groups, one sort per group, no sequential bin state.
    *
    * Returns the input with a `bin` column appended. */
  def pack(rows: DataFrame, groupCol: String, orderCols: Seq[String],
           tokenCol: String, contextTokens: Int): DataFrame = {
    require(contextTokens > 0, "contextTokens must be positive")
    require(orderCols.nonEmpty, "need a deterministic order")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(orderCols.map(col(_).asc): _*)
      .rowsBetween(Long.MinValue, -1)
    rows
      .withColumn("__cum_before",
        coalesce(sum(col(tokenCol)).over(w), lit(0L)))
      .withColumn("bin", expr(s"__cum_before DIV $contextTokens"))
      .drop("__cum_before")
  }

  /** Deterministic shard assignment for training-data export: shard =
    * (first 16 bits of md5(key || salt)) mod nShards. Stateless and
    * layout-independent — no global sort or row_number barrier, so a
    * write partitioned by this column produces identical shards on any
    * cluster size, and re-runs are reproducible (the property a training
    * job needs to resume mid-corpus). Balanced in expectation like any
    * hash partitioner; 16 bits of entropy caps nShards at 65536.
    */
  def shardExpr(key: org.apache.spark.sql.Column, nShards: Int,
                salt: String = "graft"): org.apache.spark.sql.Column = {
    require(nShards > 0 && nShards <= 65536, s"nShards out of range: $nShards")
    (conv(substring(md5(concat(key.cast("string"), lit(salt))
      .cast("binary")), 1, 4), 16, 10).cast("long") % nShards).cast("int")
  }

  /** Deterministic global training-order shuffle: every doc gets a
    * position 1..N under the order md5(seed:id) — reproducible across
    * engines, runs, and physical layouts (the property a training job
    * needs to resume or re-shard mid-epoch), and changing the seed
    * re-shuffles without touching the data.
    *
    * Global enumeration WITHOUT a global window: a single row_number over
    * the full order would drag the corpus into one partition. Instead the
    * hex key's first byte splits the order into 256 contiguous ranges;
    * positions are per-range row_numbers plus broadcast range offsets (a
    * 256-row aggregate — the only driver-scale state). The expensive part
    * is one hash-partitioned window per range, exactly a distributed
    * sort's shape. */
  def shuffleOrder(docs: DataFrame, idCol: String, seed: Long): DataFrame = {
    val tiny = org.apache.spark.sql.expressions.Window
      .orderBy("bkt").rowsBetween(Long.MinValue, -1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bkt").orderBy(col("skey"), col(idCol))
    val keyed = docs.select(col(idCol),
        md5(concat(lit(s"$seed:"), col(idCol).cast("string"))
          .cast("binary")).as("skey"))
      .withColumn("bkt", substring(col("skey"), 1, 2))
    val offs = keyed.groupBy("bkt").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum("cnt").over(tiny), lit(0L)))
      .select("bkt", "off")
    keyed.join(broadcast(offs), "bkt")
      .withColumn("pos", (col("off") + row_number().over(w)).cast("long"))
      .select("pos", idCol, "skey")
      .orderBy("pos")
  }

  /** Frequency-ranked vocabulary: (token_id, term, ctf) with contiguous
    * ids assigned by corpus term frequency (descending, term ascending on
    * ties — a total, engine-portable order). Ids start at 1; 0 is reserved
    * for out-of-vocabulary tokens in `encode`.
    *
    * The corpus-wide term count is a partial-aggregated groupBy (shuffle
    * volume = distinct terms, not token instances). The id assignment is a
    * global row_number — deliberately: contiguous ids REQUIRE a total
    * order, and the sort runs over the post-min-count VOCABULARY (at most
    * a few million rows for real corpora), never over the corpus. */
  def vocab(docs: DataFrame, textCol: String, minCount: Long = 1L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ctf").desc, col("term").asc)
    docs
      .select(explode(TF.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("ctf"))
      .filter(col("ctf") >= minCount)
      .withColumn("token_id", row_number().over(w).cast("long"))
      .select("token_id", "term", "ctf")
      .orderBy("token_id")
  }

  /** Weighted log-log Zipf fit of the corpus token-frequency
    * distribution: slope ≈ -1 is the Zipf signature; a flat slope flags
    * synthetic/templated text, a steep one a degenerate vocabulary — the
    * corpus-health summary statistic next to [[vocab]]'s full listing.
    *
    * Scale shape: NOT a regression over per-token ranks (a global sort
    * of the vocabulary). Frequencies reduce to their (ctf, n_terms)
    * histogram first — the Audit.keySkew recipe — every term in a
    * frequency class shares the class's AVERAGE rank (the standard
    * treatment of rank ties), and the weighted least squares runs over
    * the bounded class relation: a cumulative window plus one single-row
    * aggregate. Output: (n_vocab, n_classes, slope, intercept). */
  def zipfFit(docs: DataFrame, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ctf").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val classes = docs
      .select(explode(TF.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("ctf"))
      .groupBy("ctf").agg(count(lit(1)).as("nk"))
    val pts = classes
      .withColumn("cumk", sum("nk").over(w))
      .select(col("nk").cast("double").as("wt"),
        log(col("cumk") - col("nk") + (col("nk") + 1) / 2.0).as("x"),
        log(col("ctf")).as("y"))
    pts
      .agg(sum("wt").as("sw"), count(lit(1)).as("n_classes"),
        sum(col("wt") * col("x")).as("swx"),
        sum(col("wt") * col("y")).as("swy"),
        sum(col("wt") * col("x") * col("y")).as("swxy"),
        sum(col("wt") * col("x") * col("x")).as("swxx"))
      .select(
        col("sw").cast("long").as("n_vocab"),
        col("n_classes"),
        round((col("swxy") - col("swx") * col("swy") / col("sw")) /
          (col("swxx") - col("swx") * col("swx") / col("sw")), 4).as("slope"),
        round(col("swy") / col("sw") -
          (col("swxy") - col("swx") * col("swy") / col("sw")) /
            (col("swxx") - col("swx") * col("swx") / col("sw")) *
            col("swx") / col("sw"), 4).as("intercept"))
  }

  /** Encode each document as its token-id sequence under `vocabDf` (the
    * output of `vocab`): (id, n_tokens, n_oov, ids) where `ids` is the
    * space-joined id string in document order and OOV tokens map to 0.
    *
    * With `broadcastVocab` (the default) the vocabulary joins BROADCAST
    * onto the exploded (doc, pos, term) stream — no shuffle of the corpus
    * for the lookup; the only shuffle is the per-document reassembly,
    * carrying (id, pos, token_id) triples (~16 bytes/token) rather than
    * text. `vocab()` can reach millions of rows on a real corpus, where a
    * forced broadcast blows the driver/executor broadcast limit — pass
    * broadcastVocab = false there and the lookup becomes a plain shuffle
    * hash join on `term` (AQE still downgrades to broadcast at runtime if
    * the vocabulary turns out small). Documents with zero tokens produce
    * no row, matching `chunk`. */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             vocabDf: DataFrame, broadcastVocab: Boolean = true): DataFrame = {
    val v = vocabDf.select("term", "token_id")
    docs
      .select(col(idCol),
        posexplode(TF.tokens(col(textCol))).as(Seq("pos", "term")))
      .join(if (broadcastVocab) broadcast(v) else v, Seq("term"), "left")
      .withColumn("tid", coalesce(col("token_id"), lit(0L)))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tid") === 0L, 1L).otherwise(0L)).as("n_oov"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tid")))),
          x => x.getField("tid").cast("string")), " ").as("ids"))
      .orderBy(idCol)
  }

  /** TF-IDF term scores: term frequency per document, document frequency
    * per term, score = tf * ln(N / df), rounded to 6 places.
    *
    * The corpus size N reaches every row via a broadcast of the 1-row
    * count aggregate (no driver-side action); df comes from a second
    * partial-aggregated pass over the distinct (doc, term) pairs. Shuffle
    * volume is bounded by distinct pairs, never raw token instances.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pairs = docs
      .select(col(idCol).as("doc_id"),
        explode(TF.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val docFreq = pairs.groupBy("term").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    pairs.join(docFreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .select("doc_id", "term", "tf", "df", "tfidf")
      .orderBy("doc_id", "term")
  }

  /** CDC compaction / upsert-latest: collapse a change stream to one row
    * per key — the row with the largest `ordCols` tuple (lexicographic).
    * The materialized-view step every ingestion pipeline runs between an
    * append-only event log and a queryable current-state table.
    *
    * Execution shape: `max_by` over a struct, NOT a row_number window.
    * The aggregate is partial-aggregable — each map task reduces its
    * partition to ONE candidate row per key before the shuffle, so
    * shuffle volume is bounded by (keys x partitions), not by the update
    * count; a window formulation shuffles and sorts EVERY update. At
    * 100 TB of events with a 100 M-key state that is the difference
    * between a bounded merge and a full-log sort.
    *
    * `ordCols` must totally order each key's updates (e.g. (ts,
    * unique_id)) and contain no nulls: ties or null ordering keys would
    * make the winner partition-order-dependent — the caller owns
    * providing a real version tuple.
    *
    * Output: keys, then ordCols, then payloadCols, one row per key. */
  def latestSnapshot(updates: DataFrame, keys: Seq[String],
                     ordCols: Seq[String],
                     payloadCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty && ordCols.nonEmpty,
      "latestSnapshot needs keys and ordering columns")
    val carried = ordCols ++ payloadCols
    val ord = struct(ordCols.map(col): _*)
    val payload = struct(carried.map(col): _*)
    updates.groupBy(keys.map(col): _*)
      .agg(max_by(payload, ord).as("__last"))
      .select(keys.map(col) ++
        carried.map(c => col(s"__last.`$c`").as(c)): _*)
  }

  /** Pointwise mutual information over adjacent token pairs — the classic
    * collocation/phrase-mining signal (Church & Hanks 1990): bigrams
    * whose observed rate beats the independence assumption. pmi =
    * ln(p(xy) / (p(x)p(y))) with p(xy) = c_xy/n_bi and p(w) = c_w/n_uni,
    * rounded to 6 places; `minCount` drops the unstable low-count tail
    * (PMI's known bias toward hapax pairs).
    *
    * One tokenize pass feeds both count relations; bigrams fan out via a
    * single bound transform (no O(L²) re-tokenization), all counts are
    * map-side partial aggregates, and the two corpus totals reach rows as
    * broadcast 1-row aggregates. The ratio is computed entirely in
    * double (cast-first, left-associated identically in the oracle) —
    * the integer product c_xy*n_uni² would overflow Long on a corpus of
    * ~10⁹ tokens.
    *
    * Output: (w1, w2, c_xy, c1, c2, pmi), ordered by (w1, w2). */
  def pmiBigrams(docs: DataFrame, textCol: String,
                 minCount: Long = 5L): DataFrame = {
    val toks = docs.select(TF.tokens(col(textCol)).as("t"))
    val bi = toks.filter(size(col("t")) >= 2)
      .select(explode(TF.bind(col("t")) { t =>
        transform(sequence(lit(1), size(t) - 1),
          i => struct(element_at(t, i).as("w1"),
            element_at(t, i + 1).as("w2")))
      }).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val nUni = uni.agg(sum("c").as("n_uni"))
    val nBi = bi.agg(sum("c_xy").as("n_bi"))
    bi.filter(col("c_xy") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .withColumn("pmi", round(log(
        (col("c_xy").cast("double") * col("n_uni") * col("n_uni")) /
          (col("n_bi").cast("double") * col("c1") * col("c2"))), 6))
      .select("w1", "w2", "c_xy", "c1", "c2", "pmi")
      .orderBy("w1", "w2")
  }

  /** Per-document bigram-LM surprisal — the perplexity-filter stage of a
    * corpus pipeline (CCNet/Gopher score against a KenLM; this is the
    * engine-exact equivalent: an add-one-smoothed bigram model trained on
    * the corpus itself). Cost of one bigram occurrence is the INTEGER bit
    * count bits = floor(log2((c1 + V) / (c12 + 1))), computed as
    * length(bin((c1 + V) DIV (c12 + 1))) - 1 — pure integer arithmetic,
    * so every engine agrees to the last bit; the only double op is the
    * final round(sum_bits / n_bigrams, 4).
    *
    * Plan shape: bigram instances collapse to per-doc (w1, w2, tf) counts
    * BEFORE joining the model tables, so join input is bounded by
    * distinct-bigrams-per-doc, not token count; the model tables (c12,
    * c1) build one row per key — Zipf-skewed keys cost partition
    * imbalance (AQE's skew split handles it) but never row blowup; the
    * 1-row vocabulary size broadcasts. */
  def bigramSurprisal(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val t = docs.select(col(idCol), TF.tokens(col(textCol)).as("t"))
    val inst = t.filter(size(col("t")) >= 2)
      .select(col(idCol), explode(TF.bind(col("t")) { tt =>
        transform(sequence(lit(1), size(tt) - 1),
          i => struct(element_at(tt, i).as("w1"),
            element_at(tt, i + 1).as("w2")))
      }).as("b"))
      .select(col(idCol), col("b.w1"), col("b.w2"))
    val dtf = inst.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
    val bc = inst.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val cc = inst.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vs = t.select(explode(col("t")).as("w"))
      .agg(countDistinct("w").as("v"))
    dtf.join(bc, Seq("w1", "w2")).join(cc, Seq("w1"))
      .crossJoin(broadcast(vs))
      .withColumn("bits",
        (length(bin(expr("(c1 + v) DIV (c12 + 1)"))) - 1).cast("long"))
      .groupBy(idCol)
      .agg(sum("tf").cast("long").as("n_bigrams"),
        sum(col("tf") * col("bits")).cast("long").as("sum_bits"))
      .withColumn("avg_bits",
        round(col("sum_bits").cast("double") / col("n_bigrams"), 4))
      .orderBy(idCol)
  }

  /** Compression-ratio quality signal (the Gopher-family "too repetitive
    * or too degenerate" filter): deflate each document body and report
    * compressed vs raw byte sizes. Highly repetitive text compresses far
    * below normal prose; binary junk or high-entropy noise barely
    * compresses — both tails get filtered.
    *
    * No Catalyst expression computes zlib and a per-row UDF would pay
    * native Deflater setup per call, so this is the legitimate
    * `mapPartitions` case: ONE Deflater per partition, reset per row,
    * released on task completion. Map-only at 100 TB — no shuffle; the
    * final orderBy is presentational and belongs to the caller's sink.
    * Engine-internal (no SQL oracle — deflate output is implementation-
    * defined): the spec asserts structural properties instead. */
  def deflateRatio(docs: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](64 * 1024)
        it.map { case (id, text) =>
          val raw =
            if (text == null) Array.empty[Byte] else text.getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var n = 0L
          while (!deflater.finished()) n += deflater.deflate(buf)
          (id, raw.length.toLong, n)
        }
      }
      .toDF(idCol, "raw_bytes", "deflate_bytes")
      .withColumn("ratio", round(col("deflate_bytes").cast("double") /
        greatest(col("raw_bytes"), lit(1L)), 4))
      .orderBy(idCol)
  }

  /** Okapi BM25 retrieval (k1 = 1.2, b = 0.75): documents with
    * id % evalMod == 0 form the query split, the rest the searchable
    * corpus; each query retrieves its top-`k` corpus docs.
    *
    * Float-parity discipline (oracle-checkable): each (doc, term)
    * contribution — which is QUERY-INDEPENDENT (idf × tf-norm) — is
    * computed once over the postings relation with a fixed operand
    * order and snapped to integer micro-units BEFORE the per-pair sum,
    * so aggregation order cannot drift the score; ranking is integer.
    *
    * Scale shape: the ln/divisions run over postings, never the
    * (query × doc × term) fan-out; postings are then clustered by doc
    * so the map-side combine collapses every (query, doc) group locally
    * and only n_q × n_d pre-summed rows cross the scoring shuffle
    * (measured 7.1 s → 1.5 s at sf0.1, where the synthetic ~31-term
    * vocabulary makes the fan-out ~21M rows). The two corpus-
    * proportional relations — the per-term document frequencies and
    * the query term set (which in the RAG shape is a fixed FRACTION of
    * the corpus, so it grows without bound) — carry NO broadcast hint:
    * AQE runtime-broadcasts them while their measured post-shuffle size
    * is small and falls back to a shuffled (skew-splittable) join when
    * it isn't, so no plan hint can OOM the driver at 100× the data.
    * Only the 1-row corpus-stats relation is hint-broadcast.
    *
    * Output: (query_id, rank 1..k, doc_id, score_u), in total order. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 5, evalMod: Int = 20): DataFrame =
    bm25Retrieve(
      docs.filter(col(idCol) % evalMod =!= 0), idCol, textCol,
      docs.filter(col(idCol) % evalMod === 0), idCol, textCol, k)

  /** The general form of [[bm25TopK]]: any (id, text) corpus searched by
    * any (id, text) query set — e.g. whole-document queries over a
    * CHUNKED corpus, the RAG retrieval shape. Scale/parity notes above
    * apply unchanged. */
  def bm25Retrieve(corpus: DataFrame, idCol: String, textCol: String,
                   queries: DataFrame, qidCol: String, qtextCol: String,
                   k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val train = corpus
      .select(col(idCol).as("doc_id"),
        explode(TF.tokens(col(textCol))).as("term"))
    // tf feeds the doc-length roll-up, the document frequencies AND
    // the contribution join (3 plan references) with no lineage cut
    // between them, so the corpus tokenize+explode scan runs once per
    // reference. dlen = Σ_term tf per doc is identical to counting the
    // token stream directly (same doc set: a doc appears in tf iff it
    // has ≥ 1 token).
    val tf = train.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dlen = tf.groupBy("doc_id").agg(sum("tf").as("len"))
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dlen.agg(count(lit(1)).as("n_docs"),
      sum("len").as("tot_len"))
    val qterms = queries
      .select(col(qidCol).as("query_id"),
        explode(TF.tokens(col(qtextCol))).as("term"))
      .distinct()
    val contribDt = tf
      .join(dlen, "doc_id")
      .join(dfr, "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs").cast("double") - col("df") + lit(0.5))
          / (col("df").cast("double") + lit(0.5)) + lit(1.0)))
      .withColumn("norm", lit(1.2) * (lit(0.25)
        + lit(0.75) * col("len").cast("double")
          / (col("tot_len").cast("double") / col("n_docs"))))
      .withColumn("c_u",
        floor(col("idf") * (col("tf").cast("double") * lit(2.2))
          / (col("tf").cast("double") + col("norm"))
          * 1000000.0 + 0.5).cast("long"))
      .select("doc_id", "term", "c_u")
      // explicit partition count: the postings relation is only a few
      // MB, so an AQE-optimizable exchange would coalesce it to one
      // task — and the (query x doc x term) fan-out downstream of it
      // would run single-threaded
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_u").desc, col("doc_id").asc)
    contribDt.join(qterms, "term")
      .groupBy("query_id", "doc_id")
      .agg(sum("c_u").as("score_u"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_u"))
      .orderBy("query_id", "rank")
  }

  /** Deterministic MIXED-SCRIPT corpus derived from an ASCII corpus:
    * appends to each document a closed-form non-ASCII suffix — one
    * space, then `id%5` CJK ideographs (U+4E00+(id+j)%100), `id%7`
    * Cyrillic capitals (U+0410+(id+j)%32), `id%3` Arabic letters
    * (U+0627+(id+j)%20), `id%4` ASCII digits — so the per-document
    * script-class COUNTS replay in SQL (ASCII regex over the original
    * text + the modular arithmetic) without the oracle ever
    * constructing a non-ASCII string. The multilingual fixture the
    * text family was missing: every character stays in the BMP, so
    * char counts agree across Spark (UTF8String code points), DuckDB,
    * and Java Strings. */
  def withScriptSuffix(docs: DataFrame, idCol: String, textCol: String,
                       repeat: Int = 1): DataFrame = {
    require(repeat >= 1, s"repeat $repeat must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        val sb = new StringBuilder(text)
        sb.append(' ')
        // class counts scale as repeat x (id mod m): repeat = 1 keeps
        // the suffix a trace amount (profiling fixtures); a large
        // repeat makes non-Latin classes genuinely dominate some
        // documents (routing fixtures)
        var r = 0
        while (r < repeat) {
          var j = 0
          while (j < (id % 5).toInt) {
            sb.append((0x4e00 + ((id + j) % 100)).toChar); j += 1
          }
          j = 0
          while (j < (id % 7).toInt) {
            sb.append((0x0410 + ((id + j) % 32)).toChar); j += 1
          }
          j = 0
          while (j < (id % 3).toInt) {
            sb.append((0x0627 + ((id + j) % 20)).toChar); j += 1
          }
          j = 0
          while (j < (id % 4).toInt) {
            sb.append(('0' + ((id + j) % 10)).toChar); j += 1
          }
          r += 1
        }
        (id, sb.toString)
      }
      .toDF(idCol, textCol)
  }

  /** Per-document script-mix profile: counts of characters in six
    * codepoint classes — Latin letters, ASCII digits, CJK ideographs
    * (U+4E00–U+9FFF), Cyrillic (U+0400–U+04FF), Arabic (U+0600–U+06FF),
    * ASCII whitespace — plus `other` for everything unclassified. The
    * language-realism screen an LLM corpus pipeline runs before
    * routing documents to per-script tokenizers; pure column algebra
    * (codegen'd regexp_replace length differences), no UDF. BMP-only
    * by contract: counts are in code POINTS, and the class ranges here
    * are all in the basic plane (supplementary-plane scripts would
    * need `\x{...}` surrogate-aware classes). */
  def scriptProfile(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val len = length(col(textCol)).cast("long")
    def cnt(cls: String) =
      len - length(regexp_replace(col(textCol), cls, "")).cast("long")
    val latin = cnt("[A-Za-z]")
    val digit = cnt("[0-9]")
    val cjk = cnt("[\\u4e00-\\u9fff]")
    val cyr = cnt("[\\u0400-\\u04ff]")
    val arab = cnt("[\\u0600-\\u06ff]")
    val ws = cnt("[ \t\n\r]")
    docs.select(col(idCol),
      latin.as("latin"), digit.as("digit"), cjk.as("cjk"),
      cyr.as("cyrillic"), arab.as("arabic"), ws.as("whitespace"),
      (len - latin - digit - cjk - cyr - arab - ws).as("other"))
  }

  /** Deterministic canonical-equivalence fixture: appends to each
    * document a space and then `id%3` decomposed e+U+0301 pairs, `id%2`
    * decomposed o+U+0308 pairs, and `id%4` PREcomposed U+00E9 — so NFC
    * composes exactly `id%3 + id%2` pairs into single code points and
    * must leave the precomposed run untouched. Mirrors
    * [[withScriptSuffix]]'s design: the oracle replays the length
    * arithmetic from the modular formulas without ever constructing a
    * non-ASCII string, while the engine path normalizes real combining
    * marks. BMP-only, so code-point counts agree across Spark, DuckDB,
    * and Java Strings. */
  def withCombiningSuffix(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        val sb = new StringBuilder(text)
        sb.append(' ')
        var j = 0
        while (j < (id % 3).toInt) { sb.append('e'); sb.append('\u0301'); j += 1 }
        j = 0
        while (j < (id % 2).toInt) { sb.append('o'); sb.append('\u0308'); j += 1 }
        j = 0
        while (j < (id % 4).toInt) { sb.append('\u00e9'); j += 1 }
        (id, sb.toString)
      }
      .toDF(idCol, textCol)
  }

  /** Per-document NFC normalization audit: code-point length before and
    * after [[graft.functions.HashExprs.nfc_normalize]], and the
    * composed-pair count (delta). The screen a multilingual corpus
    * pipeline runs before content hashing — decomposed and precomposed
    * spellings of the same text must collapse to one canonical form or
    * every downstream dedup treats them as distinct documents. Pure
    * map-side column algebra over a codegen'd expression. */
  def nfcAudit(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      length(col(textCol)).cast("long").as("len"),
      length(graft.functions.HashExprs.nfc_normalize(col(textCol)))
        .cast("long").as("nfc_len"))
      .withColumn("delta", col("len") - col("nfc_len"))

  /** Unicode-aware token profile: tokens are maximal `[\p{L}\p{N}]+`
    * runs (letters and digits of ANY script — the tokenizer CJK/RTL
    * text needs, where the ASCII `\s+` split sees one giant "word"),
    * each classified by the script class of its first code point.
    * Output: per class, token count and total token code points. The
    * routing statistic a multilingual pipeline reads before choosing
    * per-script tokenizers; regexp extraction and classification are
    * codegen'd column algebra, no UDF. BMP-only classes like
    * [[scriptProfile]]. */
  def unicodeTokenProfile(docs: DataFrame, textCol: String): DataFrame = {
    val toks = docs.select(
      explode(expr(s"regexp_extract_all($textCol, '[\\\\p{L}\\\\p{N}]+', 0)"))
        .as("tok"))
    val first = substring(col("tok"), 1, 1)
    toks
      .withColumn("script",
        when(first.rlike("[A-Za-z]"), lit("latin"))
          .when(first.rlike("[0-9]"), lit("digit"))
          .when(first.rlike("[\\u4e00-\\u9fff]"), lit("cjk"))
          .when(first.rlike("[\\u0400-\\u04ff]"), lit("cyrillic"))
          .when(first.rlike("[\\u0600-\\u06ff]"), lit("arabic"))
          .otherwise(lit("other")))
      .groupBy("script")
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("tok")).cast("long")).as("total_chars"))
      .orderBy("script")
  }
}
