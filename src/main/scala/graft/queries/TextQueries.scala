package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Lineage, Tables}
import graft.functions.{TextFunctions => TF}
import graft.functions.TopKAgg.topk_longs
import graft.operators.Corpus

/** Text-analysis queries over the documents table: fingerprinting, token
  * statistics, language ID, quality scoring. Each has an exact DuckDB
  * oracle (md5 and arithmetic are engine-portable; rounding applied on
  * both sides).
  */
object TextQueries extends Registry {

  /** Generation-time deflate ground truth (tools/GenDeflateTruth) —
    * the checked-in fixture the text_compression_ratio oracle joins.
    * Default resolves the fixture's RELATIVE checked-in path against
    * the working directory (the same default GenDeflateTruth writes
    * to), so any checkout location works; GRAFT_DEFLATE_TRUTH
    * overrides. */
  private val deflateTruth = sys.env.getOrElse("GRAFT_DEFLATE_TRUTH",
    new java.io.File("data/deflate/expected.parquet").getAbsolutePath)

  /** BM25 eval-split retrieval ranked to depth 20, memoized per
    * (session, dir) — r15: text_bm25_topk (k=5) and pipeline_hybrid_rrf
    * (k=20) each built the full ~10-stage BM25 plan (two tokenization
    * scans, four aggregations, scoring join, rank window). Rank is
    * assigned BEFORE the depth cut (row_number over score_u desc,
    * doc_id asc), so the k=5 result is exactly this relation filtered
    * to rank <= 5 — same rows, same oracle. */
  private def bm25Top20(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame =
    graft.core.Memo.dataFrame(s, s"bm25_top20:$d") {
      Corpus.bm25TopK(Tables.documents(s, d), "doc_id", "text", k = 20)
    }

  val defs: Map[String, QueryFn] = Map(
    // Feature hashing (the hashing trick, Weinberger et al. 2009):
    // project each source's bag-of-words into a FIXED 64-dim signed
    // profile — dim = md5(token) % 64, sign = md5 parity — then compare
    // sources by integer cosine. The point at 100 TB: a vocabulary-free
    // text embedding with constant-size per-group state (64 longs, like
    // the KMV sketch) and no vocabulary shuffle — the profile build is
    // one partial-aggregated groupBy over (source, dim), and the
    // pairwise stage touches #sources × 64 rows, never tokens. Every
    // step is md5/integer so the oracle replays the cosines exactly
    // (the ann_label_similarity float pattern: integer dots + one
    // final floor(1e4·dot/√·√)).
    "text_hashing_trick" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(TF.tokens(col("text"))).as("tok"))
      val f = tok.select(col("source"),
          conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
            .as("h"))
        .select(col("source"), (col("h") % 64).as("dim"),
          when(col("h") % 2 === 0, 1L).otherwise(-1L).as("sgn"))
      val prof = f.groupBy("source", "dim").agg(sum("sgn").as("v"))
      // nn = 0 (every signed count cancelling) would divide by zero —
      // NaN->0L here but a CAST error in DuckDB; filter symmetrically
      val norms = prof.groupBy("source")
        .agg(sum(col("v") * col("v")).as("nn")).filter(col("nn") > 0)
      val a = prof.select(col("source").as("sa"), col("dim"),
        col("v").as("va"))
      val b = prof.select(col("source").as("sb"), col("dim"),
        col("v").as("vb"))
      a.join(b, Seq("dim")).filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(sum(col("va") * col("vb")).as("dot"))
        .join(broadcast(norms.select(col("source").as("sa"),
          col("nn").as("na"))), "sa")
        .join(broadcast(norms.select(col("source").as("sb"),
          col("nn").as("nb"))), "sb")
        .select(col("sa").as("source_a"), col("sb").as("source_b"),
          floor(lit(10000.0) * col("dot") /
            (sqrt(col("na")) * sqrt(col("nb")))).cast("long")
            .as("sim_bp"))
        .orderBy("source_a", "source_b")
    }),

    "text_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    "text_token_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          TF.tokenCount(col("text")).as("n_tokens"),
          round(TF.typeTokenRatio(col("text")), 4).as("ttr"),
          round(TF.alphaRatio(col("text")), 4).as("alpha_ratio"))
        .orderBy("doc_id")),

    "text_lang_id" -> ((s, d) =>
      Tables.documents(s, d)
        .select(TF.langId(col("text")).as("lang_pred"))
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang_pred")),

    // Language-ID confusion matrix: predicted language crossed with the
    // labeled lang column — the classifier-evaluation rollup that turns
    // text_lang_id's marginal counts into per-class precision/recall
    // inputs. Same stopword-argmax predictor, one partial aggregation.
    "text_lang_confusion" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), TF.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "lang_pred")),

    "text_quality" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TF.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    // Script-mix profile over a MIXED-SCRIPT corpus: the ASCII documents
    // get a closed-form non-ASCII suffix (CJK/Cyrillic/Arabic/digit
    // counts by modular arithmetic on doc_id), then the codepoint-range
    // classifier counts each class. The oracle never builds a non-ASCII
    // string: it replays the original-text classes with ASCII regex and
    // adds the suffix arithmetic — a classifier range/UTF-8 bug on the
    // Spark side breaks the hash.
    "text_script_mix" -> ((s, d) =>
      Corpus.scriptProfile(
          Corpus.withScriptSuffix(Tables.documents(s, d), "doc_id", "text"),
          "doc_id", "text")
        .orderBy("doc_id")),

    // Unicode-aware tokenization over the same mixed corpus: tokens are
    // [\p{L}\p{N}]+ runs (any script), classified by the script of
    // their first code point. The ASCII whitespace tokenizer sees the
    // whole non-Latin suffix as part of one "word"; this is the token
    // surface CJK/RTL text actually needs. Oracle: base text is pure
    // [a-z ] (verified corpus-wide), so its tokens replay with an
    // ASCII regex, and the suffix contributes exactly one token per
    // document with closed-form class and length.
    "text_unicode_tokens" -> ((s, d) =>
      Corpus.unicodeTokenProfile(
        Corpus.withScriptSuffix(Tables.documents(s, d), "doc_id", "text"),
        "text")),

    // NFC canonical-equivalence audit over a corpus with deterministic
    // decomposed (e+U+0301, o+U+0308) and precomposed (U+00E9) runs:
    // the engine path runs the real JDK normalizer (codegen'd
    // expression), the oracle replays the composed-pair arithmetic.
    // delta > 0 rows are the documents whose content hash would change
    // under canonicalization — the pre-dedup normalization gate.
    "text_nfc_audit" -> ((s, d) =>
      Corpus.nfcAudit(
          Corpus.withCombiningSuffix(Tables.documents(s, d), "doc_id",
            "text"),
          "doc_id", "text")
        .orderBy("doc_id")),

    // Dominant-script routing over the mixed corpus: each document goes
    // to the script class with the most characters (whitespace is
    // layout, not language — excluded; ties break to the alphabetically
    // smallest class via an array_min over (-count, class) structs, the
    // engine-portable argmax). The routing step before per-script
    // tokenizers in a multilingual pipeline.
    "text_script_route" -> ((s, d) => {
      // repeat = 128: suffix classes reach ~768 chars vs a ~250-char
      // median Latin body, so the corpus routes to a genuine MIX of
      // scripts (repeat = 1 would trivially route everything latin)
      val prof = Corpus.scriptProfile(
        Corpus.withScriptSuffix(Tables.documents(s, d), "doc_id", "text",
          repeat = 128),
        "doc_id", "text")
      val pick = array_min(array(
        struct((-col("latin")).as("neg"), lit("latin").as("script")),
        struct((-col("digit")).as("neg"), lit("digit").as("script")),
        struct((-col("cjk")).as("neg"), lit("cjk").as("script")),
        struct((-col("cyrillic")).as("neg"), lit("cyrillic").as("script")),
        struct((-col("arabic")).as("neg"), lit("arabic").as("script")),
        struct((-col("other")).as("neg"), lit("other").as("script"))))
      prof.select(pick.getField("script").as("script"))
        .groupBy("script").agg(count(lit(1)).as("n_docs"))
        .orderBy("script")
    }),

    // total token volume per source — the "how big is my corpus" query
    "text_token_volume" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy("source")
        .agg(
          sum(TF.tokenCount(col("text"))).as("total_tokens"),
          sum(length(col("text"))).as("total_chars"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")),

    // Corpus n-gram statistics: top-20 3-grams by document frequency (the
    // "what phrases dominate my corpus" data-quality query).
    "text_ngram_freq" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(TF.shingles(col("text"), 3)).as("shingle"))
        .groupBy("shingle").agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), asc("shingle")).limit(20)),

    // BPE-ish subword counting: alpha runs / single digits / punctuation
    // runs, the usual pre-tokenizer shape — a cheap, portable proxy for
    // an LLM tokenizer's token count (both engines run the same RE).
    "text_bpe_tokens" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(regexp_extract_all(lower(col("text")),
            lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).as("n_bpe"),
          length(col("text")).as("n_chars"))
        .withColumn("chars_per_tok",
          round(col("n_chars").cast("double") /
            greatest(col("n_bpe"), lit(1)).cast("double"), 4))
        .orderBy("doc_id")),
    // Sliding-window token chunking (operators.Corpus.chunk): 64-token
    // windows, 16-token overlap — documents become model-ready contexts.
    "text_chunk" -> ((s, d) =>
      graft.operators.Corpus.chunk(Tables.documents(s, d), "doc_id", "text",
        chunkTokens = 64, overlap = 16)),

    // TF-IDF term scores (operators.Corpus.tfidf).
    "text_tfidf" -> ((s, d) =>
      graft.operators.Corpus.tfidf(Tables.documents(s, d), "doc_id", "text")),

    // Okapi BM25 retrieval (operators.Corpus.bm25TopK): the eval split
    // (doc_id%20=0, the contamination-family query set) retrieves top-5
    // train docs — the RAG / retrieval-eval primitive over the postings
    // the tfidf family already builds. Scale + float-parity rationale on
    // the operator; at 100 TB the same shape runs off the sharded
    // postings (text_postings) with high-df terms blocked.
    "text_bm25_topk" -> ((s, d) =>
      bm25Top20(s, d).filter(col("rank") <= 5)
        .orderBy("query_id", "rank")),

    // The RAG retrieval pipeline as one plan: the train split chunks
    // into 32-token passages (Corpus.chunkUnordered, stride 32 — the
    // dedup_passage arithmetic), whole-document queries retrieve their
    // top-3 passages via BM25 over the CHUNK corpus
    // (Corpus.bm25Retrieve) — retrieval granularity decoupled from
    // storage granularity, which is the entire point of chunked RAG.
    // Chunk key packs as doc_id*1000 + chunk_id (docs are far below
    // 1000 chunks; the output unpacks it). Both stages are operators
    // proven above; the oracle replays chunking + BM25 end to end.
    "pipeline_rag_retrieve" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val chunks = graft.operators.Corpus.chunkUnordered(
          docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
          chunkTokens = 32, overlap = 0)
        .select((col("doc_id") * 1000 + col("chunk_id")).as("cid"),
          col("chunk_text"))
      val queries = docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("text"))
      graft.operators.Corpus.bm25Retrieve(chunks, "cid", "chunk_text",
          queries, "doc_id", "text", k = 3)
        .select(col("query_id"), col("rank"),
          expr("doc_id DIV 1000").as("doc_id"),
          (col("doc_id") % 1000).as("chunk_id"), col("score_u"))
        .orderBy("query_id", "rank")
    }),

    // Intra-document repetition (RefinedWeb-style quality signal): the
    // most-repeated bigram's share of all bigrams. Non-distinct bigrams
    // via transform over positions (shingles() dedups, so not usable).
    "text_repetition" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", TF.tokens(col("text")))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(toks) - 1),
                       i -> concat(element_at(toks, i), ' ',
                                   element_at(toks, i + 1)))""")).as("gram"))
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"), max("c").as("max_bigram"))
        .withColumn("rep_ratio",
          round(col("max_bigram").cast("double") / col("n_bigrams"), 4))
        .orderBy("doc_id")),

    // The filter pipeline's end product: per source, how many docs
    // survive the composed quality gates (score, language, length) — the
    // clean-corpus selection a training run would actually consume.
    "text_clean_corpus" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"),
          TF.qualityScore(col("text")).as("q"),
          TF.langId(col("text")).as("lang"),
          TF.tokenCount(col("text")).as("nt"))
        .filter(col("q") >= 0.63 && col("lang") === "en" &&
          col("nt").between(20, 90))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")),

    // Domain-mix sampling (operators.Sampling.weightedMix): down-sample
    // each language toward target mix weights under a 40%-of-corpus
    // budget — the data-mixture step before a training run. The oracle
    // replays the integer rate arithmetic and the md5 membership rule.
    "sample_weighted_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val kept = graft.operators.Sampling.weightedMix(docs, "doc_id", "lang",
        weightsBp = Map("en" -> 4000, "es" -> 2500, "de" -> 2000,
          "fr" -> 1000, "zh" -> 500),
        budgetNum = 4, budgetDen = 10)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(TF.tokenCount(col("text"))).cast("long").as("kept_tokens"))
      docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
        .join(kept, Seq("lang"), "left")
        .na.fill(0L, Seq("n_kept", "kept_tokens"))
        .orderBy("lang")
    }),

    // Unigram-surprisal quality score (the CCNet-perplexity-filter idea
    // with an exact-arithmetic twist): each token costs
    // floor(log2(N / ctf)) bits under the corpus unigram model —
    // computed as bit_length(N DIV ctf) - 1, pure integer ops, so both
    // engines agree bit-for-bit where a float ln() would risk rounding
    // flips. High avg bits/token = rare-word-heavy (or garbage) doc; low
    // = common-word doc. Shuffle volume bounded by distinct (doc, term)
    // pairs, the tfidf shape; corpus totals broadcast from a 1-row agg.
    "text_unigram_surprisal" -> ((s, d) => {
      val pairs = Tables.documents(s, d)
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val vocab = pairs.groupBy("term").agg(sum("tf").as("ctf"))
      val total = vocab.agg(sum("ctf").as("n_total"))
      pairs.join(vocab, "term")
        .crossJoin(broadcast(total))
        .withColumn("bits",
          (length(bin(expr("n_total DIV ctf"))) - 1).cast("long"))
        .groupBy("doc_id")
        .agg(sum(col("tf") * col("bits")).as("sum_bits"),
          sum("tf").as("ntok"))
        .withColumn("avg_bits",
          round(col("sum_bits").cast("double") / col("ntok"), 4))
        .orderBy("doc_id")
    }),

    // Upsampling plan to an equal-token-share target: the complement of
    // corpus_mix_weights' capped downsampling — sources BELOW the
    // per-source target get weight > 10000 bp, decomposed into full
    // epoch repeats (w DIV 10000) plus one fractional epoch drawn with
    // the samplers' portable md5-prefix rule (frac256 threshold, the
    // Sampling.hashPrefix recipe verbatim so the oracle replays doc
    // membership exactly). Per source: observed tokens, weight, epochs,
    // fractional-pass docs/tokens, and the planned token total the
    // schedule would feed the trainer. Two partial aggregations + one
    // broadcast of the 20-row plan — no shuffle of doc bodies.
    "corpus_upsample_plan" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        col("source"), TF.tokenCount(col("text")).cast("long").as("nt"))
      val counts = docs.groupBy("source")
        .agg(sum("nt").as("n_tokens"), count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum("n_tokens").as("total"),
        count(lit(1)).as("n_sources"))
      val plan = counts.crossJoin(broadcast(tot))
        .withColumn("w_bp",
          expr("(10000 * (total DIV n_sources)) DIV n_tokens"))
        .withColumn("full_epochs", expr("w_bp DIV 10000"))
        .withColumn("thr", format_string("%02x",
          expr("(256 * (w_bp % 10000)) DIV 10000")))
      val fracKept = docs
        .join(broadcast(plan.select("source", "thr")), "source")
        .filter(substring(md5(concat(col("doc_id").cast("string"),
          lit("graft")).cast("binary")), 1, 2) < col("thr"))
        .groupBy("source")
        .agg(count(lit(1)).as("frac_docs"), sum("nt").as("frac_tokens"))
      plan.join(fracKept, Seq("source"), "left")
        .na.fill(0L, Seq("frac_docs", "frac_tokens"))
        .select(col("source"), col("n_tokens"), col("w_bp"),
          col("full_epochs"), col("frac_docs"), col("frac_tokens"),
          (col("full_epochs") * col("n_tokens") + col("frac_tokens"))
            .as("planned_tokens"))
        .orderBy("source")
    }),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    // doc by unigram-LM surprisal per token, split the corpus into
    // head / middle / tail at the global terciles, report the
    // (source, bucket) composition a mixture designer reads before
    // up/down-sampling. Exact integers end-to-end: per-token cost in
    // centibits ((100 * sum_bits) DIV ntok), terciles picked by a
    // cumulative walk over the bounded (centibits -> count) histogram
    // (ceil ranks as (n+2) DIV 3, (2n+2) DIV 3), thresholds broadcast
    // back as one row. No global sort of docs anywhere.
    "corpus_perplexity_buckets" -> ((s, d) => {
      // pairs feeds the vocabulary and the scoring join, perDoc the
      // histogram and the bucket join (uncut: 20 parquet scans)
      val pairs = Lineage.cut(Tables.documents(s, d)
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      val vocab = pairs.groupBy("term").agg(sum("tf").as("ctf"))
      val total = vocab.agg(sum("ctf").as("n_total"))
      val perDoc = Lineage.cut(pairs.join(vocab, "term")
        .crossJoin(broadcast(total))
        .withColumn("bits",
          (length(bin(expr("n_total DIV ctf"))) - 1).cast("long"))
        .groupBy("doc_id")
        .agg(sum(col("tf") * col("bits")).as("sum_bits"),
          sum("tf").as("ntok"))
        .withColumn("cb", expr("(100 * sum_bits) DIV ntok")))
      val hist = perDoc.groupBy("cb").agg(count(lit(1)).as("nk"))
      val wc = org.apache.spark.sql.expressions.Window.orderBy("cb")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      val nDocs = hist.agg(sum("nk").as("n"))
      val thr = hist.withColumn("cum", sum("nk").over(wc))
        .crossJoin(broadcast(nDocs))
        .agg(min(when(col("cum") >= expr("(n + 2) DIV 3"), col("cb")))
          .as("t1"),
          min(when(col("cum") >= expr("(2 * n + 2) DIV 3"), col("cb")))
            .as("t2"))
      perDoc
        .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
        .crossJoin(broadcast(thr))
        .withColumn("bucket",
          when(col("cb") <= col("t1"), "head")
            .when(col("cb") <= col("t2"), "middle").otherwise("tail"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
        .orderBy("source", "bucket")
    }),

    // Exactly-30-docs-per-language sample (Sampling.exactPerStratum):
    // guaranteed sample size via hash-rank — id_sum is a membership
    // checksum the oracle must reproduce exactly.
    "sample_exact_stratified" -> ((s, d) =>
      graft.operators.Sampling.exactPerStratum(Tables.documents(s, d),
          "doc_id", "lang", n = 30)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
        .orderBy("lang")),

    // Length-weighted deterministic sample (Sampling.weightedTopK):
    // inclusion odds proportional to n_chars, selection replayed exactly
    // by the oracle through the shared md5-uniform recipe.
    "sample_weighted_topk" -> ((s, d) =>
      graft.operators.Sampling.weightedTopK(Tables.documents(s, d),
          "doc_id", "n_chars", k = 50)
        .orderBy(col("score").desc, col("doc_id"))),

    // Deterministic content-hash shard assignment (Corpus.shardExpr):
    // 16 shards summarized — the training-export layout query.
    "corpus_shards" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("shard",
          graft.operators.Corpus.shardExpr(col("doc_id"), 16))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(TF.tokenCount(col("text"))).cast("long").as("n_tokens"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("shard")),

    // Deterministic training-order shuffle (operators.Corpus
    // .shuffleOrder): global positions under md5(seed:id), engine- and
    // layout-independent.
    "corpus_shuffle" -> ((s, d) =>
      graft.operators.Corpus.shuffleOrder(Tables.documents(s, d),
        "doc_id", seed = 42L)),

    // Frequency-ranked vocabulary (operators.Corpus.vocab): the
    // token -> id table a tokenizer-training / encoding step consumes.
    "text_vocab" -> ((s, d) =>
      graft.operators.Corpus.vocab(Tables.documents(s, d), "text")),

    // Zipf-law fit (Corpus.zipfFit): weighted log-log regression over
    // the frequency-class histogram with average ranks for ties — the
    // corpus-health statistic, no vocabulary sort.
    "text_zipf" -> ((s, d) =>
      graft.operators.Corpus.zipfFit(Tables.documents(s, d), "text")),

    // Per-source corpus report — the "which sources to keep" table a
    // mixing decision reads: volume, mean quality, English share,
    // token mass, exact-dup ratio, all from ONE pass over the corpus
    // (codegen'd per-row metrics + partial aggregation per source).
    "corpus_source_report" -> ((s, d) => {
      val TF = graft.functions.TextFunctions
      Tables.documents(s, d)
        .select(col("source"),
          TF.qualityScore(col("text")).as("q"),
          (TF.langId(col("text")) === "en").cast("long").as("is_en"),
          TF.tokenCount(col("text")).cast("long").as("nt"),
          TF.fingerprint(col("text")).as("fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("q"), 4).as("avg_quality"),
          expr("sum(is_en) * 10000 DIV count(1)").as("en_bp"),
          sum("nt").as("n_tokens"),
          countDistinct("fp").as("n_distinct"))
        .orderBy("source")
    }),

    // Corpus encoding under the top-20 vocabulary (operators.Corpus
    // .encode): documents become id sequences, everything below the
    // vocab cut maps to the OOV id 0. The top-20 cut is deliberate —
    // it exercises the OOV path at every scale factor.
    "text_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val v = graft.operators.Corpus.vocab(docs, "text")
        .filter(col("token_id") <= 20)
      graft.operators.Corpus.encode(docs, "doc_id", "text", v)
    }),

    // Concat-and-cut packing into 2048-token bins per source
    // (operators.Corpus.pack), summarized per bin.
    "text_pack_bins" -> ((s, d) => {
      val withTok = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          TF.tokenCount(col("text")).cast("long").as("ntok"))
      graft.operators.Corpus.pack(withTok, "source", Seq("doc_id"),
          "ntok", contextTokens = 2048)
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
        .orderBy("source", "bin")
    }),

    // PMI collocations (operators.Corpus.pmiBigrams): adjacent-pair
    // mutual information over the whole corpus, the phrase-mining
    // signal. Same accepted float-parity class as text_tfidf (one ln,
    // identical double expression order on both sides, rounded to 6).
    // Perplexity filtering (Corpus.bigramSurprisal): per-doc average bit
    // cost under an add-one bigram LM trained on the corpus itself —
    // integer bit costs, engine-exact.
    "text_bigram_surprisal" -> ((s, d) =>
      graft.operators.Corpus.bigramSurprisal(
        Tables.documents(s, d), "doc_id", "text")),

    // Doc-length distribution in log2 buckets — the shape report behind
    // chunk-size and packing decisions (and the quick tell for truncated
    // or degenerate scrapes). floor(log2) via the integer bin-length
    // trick, so buckets are engine-exact; one partial-aggregated rollup.
    "corpus_length_histogram" -> ((s, d) =>
      Tables.documents(s, d)
        .select((length(bin(greatest(
          TF.tokenCount(col("text")).cast("long"), lit(1L)))) - 1)
          .cast("long").as("log2_tokens"))
        .groupBy("log2_tokens").agg(count(lit(1)).as("n_docs"))
        .orderBy("log2_tokens")),

    // Mix planning: per-source token share and cumulative share in
    // volume order — the table a data-mixture decision reads (which
    // sources cover 90% of the corpus?). Integer token counts are exact;
    // the shares divide identical integers on both engines. The window
    // runs over the ~sources rows of the rollup, never the corpus.
    "corpus_token_share" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val per = Tables.documents(s, d)
        .groupBy("source")
        .agg(sum(TF.tokenCount(col("text"))).cast("long").as("n_tokens"))
      val total = per.agg(sum("n_tokens").as("t"))
      val w = Window.orderBy(col("n_tokens").desc, col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per.crossJoin(broadcast(total))
        .withColumn("cum", sum("n_tokens").over(w))
        .select(col("source"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("t"), 4).as("share"),
          round(col("cum").cast("double") / col("t"), 4).as("cum_share"))
        .orderBy(col("n_tokens").desc, col("source"))
    }),

    // Tokenizer vocabulary coverage: per-source token volume and OOV
    // rate under the top-20 vocabulary — the coverage report a tokenizer
    // rollout reads before switching vocabs. Vocab is dictionary-sized
    // (broadcast); the token fan-out aggregates partially per source.
    // Same deliberate top-20 cut as text_encode so the OOV path is
    // exercised at every scale factor.
    "text_oov_rate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val v = graft.operators.Corpus.vocab(docs, "text")
        .filter(col("token_id") <= 20)
        .select(col("term"), lit(1).as("iv"))
      docs.select(col("source"), explode(TF.tokens(col("text"))).as("term"))
        .join(broadcast(v), Seq("term"), "left")
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).cast("long")
            .as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens"), 4))
        .orderBy("source")
    }),

    // Compression-ratio quality filter (Corpus.deflateRatio). Deflate
    // output is implementation-defined — no SQL replay — so the oracle
    // is GENERATION-TIME ground truth: expected sizes pinned beside the
    // corpus by tools/GenDeflateTruth through an independent
    // single-shot codec path, joined by md5(text). CorpusSpec asserts
    // the structural properties and the fixture's freshness.
    "text_compression_ratio" -> ((s, d) =>
      graft.operators.Corpus.deflateRatio(
        Tables.documents(s, d), "doc_id", "text")),

    // PII scrubbing: the synthetic corpus is PII-free, so deterministic
    // fake PII (email, IPv4, SSN-shaped id, all derived from doc_id) is
    // injected first — on BOTH sides — and the query proves the masking
    // fires (counts = 1 each) and the masked text agrees byte-for-byte
    // (md5). Map-only at 100 TB: no shuffle, regexes in the
    // Java-RE2-common subset.
    "text_pii_scrub" -> ((s, d) => {
      val dirty = concat(
        col("text"), lit(" reach user"), col("doc_id").cast("string"),
        lit("@example.com via 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), ((col("doc_id") * 7) % 256).cast("string"),
        lit(" id "), (lit(100) + col("doc_id") % 900).cast("string"),
        lit("-"), (lit(10) + col("doc_id") % 90).cast("string"),
        lit("-"), (lit(1000) + col("doc_id") % 9000).cast("string"))
      Tables.documents(s, d).select(
          col("doc_id"),
          md5(TF.scrubPii(dirty)).as("clean_fp"),
          TF.matchCount(dirty, TF.emailPattern).cast("long").as("n_emails"),
          TF.matchCount(dirty, TF.ipv4Pattern).cast("long").as("n_ips"),
          TF.matchCount(dirty, TF.ssnPattern).cast("long").as("n_ids"))
        .orderBy("doc_id")
    }),

    "text_pmi_bigrams" -> ((s, d) =>
      graft.operators.Corpus.pmiBigrams(
        Tables.documents(s, d), "text", minCount = 5L)),

    // The distributed inner loop of BPE tokenizer TRAINING: corpus-wide
    // counts of adjacent symbol pairs inside words, weighted by word
    // frequency (Sennrich et al. 2016). The driver's merge loop
    // consumes the argmax pair per iteration; this relation is the
    // piece that must scale — word fan-out partial-aggregates to
    // (word, freq) first, so the pair explosion runs over the DISTINCT
    // vocabulary, not the raw token stream.
    "text_bpe_pair_counts" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(TF.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
      words
        .withColumn("cs", filter(split(col("w"), ""), c => c =!= lit("")))
        .withColumn("pair", explode(expr(
          """CASE WHEN size(cs) >= 2 THEN
               transform(sequence(1, size(cs) - 1),
                 i -> concat(element_at(cs, i), element_at(cs, i + 1)))
             ELSE array() END""")))
        .groupBy("pair").agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), asc("pair")).limit(20)
    }),

    // Mixture rebalancing: the per-source downsampling weight that
    // equalizes token share across sources (the data-mixing step before
    // training). target = total DIV n_sources; weight_bp =
    // min(10000, 10000*target DIV source_tokens) — integer basis points
    // end-to-end, so the plan is one token-count rollup (partial-
    // aggregated) plus a broadcast 1-row total; the weights replay
    // exactly in any engine.
    "corpus_mix_weights" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select(col("source"), explode(TF.tokens(col("text"))).as("t"))
        .groupBy("source").agg(count(lit(1)).as("n_tokens"))
      val tot = counts.agg(sum("n_tokens").as("total"),
        count(lit(1)).as("n_sources"))
      counts.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          expr("least(10000L, (10000 * (total DIV n_sources)) DIV n_tokens)")
            .as("weight_bp"))
        .withColumn("kept_tokens",
          expr("(n_tokens * weight_bp) DIV 10000"))
        .orderBy("source")
    }),

    // Heavy-hitter vocabulary via Misra-Gries + exact recount (the
    // token-frequency twin of events_freq_items, where zipfian token
    // mass guarantees a non-trivial answer at every scale). The sketch
    // runs over xxhash64(term) so its state is fixed-width longs; hash
    // collisions cannot corrupt the answer because the recount groups
    // by the TERM and applies the exact threshold — a colliding light
    // term is recounted exactly and filtered out, while a heavy term's
    // hash count only overcounts, so its candidacy always survives.
    // k=999 counters makes the n/(k+1) guarantee exactly the 0.1%
    // output threshold.
    "corpus_heavy_tokens" -> ((s, d) => {
      val terms = Tables.documents(s, d)
        .select(explode(TF.tokens(col("text"))).as("term"))
      val mg = udaf(new graft.functions.CraneAggregators.FreqItemsMG(999))
      val cands = terms.agg(mg(xxhash64(col("term"))).as("cand"))
        .select(explode(col("cand")).as("h"))
      val tot = terms.agg(count(lit(1)).as("n_total"))
      terms.join(broadcast(cands),
          xxhash64(col("term")) === col("h"), "left_semi")
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .filter(col("cnt") * 1000 > col("n_total"))
        .select("term", "cnt")
        .orderBy("term")
    }),

    // Corpus drift audit: total-variation distance between the unigram
    // token distributions of two corpus halves (sources 0-9 vs 10-19)
    // — the pre-mixing check that a new crawl snapshot hasn't shifted
    // the token mix. Integer basis points end-to-end (10000*cnt DIV
    // total), so TV = (Σ|p_bp - q_bp|) DIV 2 over the union vocabulary
    // is hash-exact in any engine. Shuffles carry (token, count) pairs
    // only; the two totals broadcast as 1-row aggregates.
    "corpus_drift_tv" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcNum = substring(col("source"), 4, 10).cast("int")
      val terms = docs
        .select((srcNum < 10).as("old_half"),
          explode(TF.tokens(col("text"))).as("term"))
      val freq = terms.groupBy("term").agg(
        sum(when(col("old_half"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("old_half"), 1L).otherwise(0L)).as("cb"))
      val tots = freq.agg(sum("ca").as("ta"), sum("cb").as("tb"))
      freq.crossJoin(broadcast(tots))
        .select(col("ta"), col("tb"),
          expr("CAST(10000 * ca AS BIGINT) DIV ta").as("p_bp"),
          expr("CAST(10000 * cb AS BIGINT) DIV tb").as("q_bp"))
        // ta/tb are the same 1-row broadcast on every row, so a GLOBAL
        // aggregate with max() carries them through — unlike
        // groupBy(ta, tb), this shape PROVES <= 1 output row
        // (maxRows = 1), which is what exempts the oracle from the
        // ORDER BY rule structurally instead of by name
        .agg(
          max(col("ta")).as("ta"),
          max(col("tb")).as("tb"),
          count(lit(1)).as("vocab"),
          sum(abs(col("p_bp") - col("q_bp"))).as("l1_bp"))
        .select(col("ta"), col("tb"), col("vocab"),
          expr("l1_bp DIV 2").as("tv_bp"))
    }),

    // Inverted-index build: term -> document frequency, total term
    // frequency, and a bounded sample of the posting list (the 20
    // smallest doc_ids, comma-joined). The sample goes through the
    // k-bounded TopK aggregator (score = -doc_id), NOT a collect_list:
    // a stop-word's full posting list is corpus-sized at 100 TB, but
    // the min-k buffer crosses the shuffle with <= 20 entries per
    // (term, map partition). df/tf aggregate from the same pre-grouped
    // (term, doc) relation, so one shuffle on term serves all three.
    // Per-document keyword extraction: top-3 terms by in-doc frequency
    // (ties to the lexicographically first term). The ranking window
    // partitions by doc_id, so its state is one document's vocabulary —
    // per-key bounded like events_sessionize, never corpus-shaped.
    "text_top_terms" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tf").desc, col("term"))
      tf.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf")
        .orderBy("doc_id", "rank")
    }),

    "text_postings" -> ((s, d) => {
      val pairs = Tables.documents(s, d)
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
        .groupBy("term", "doc_id")
        .agg(count(lit(1)).as("tfp"))
      pairs.groupBy("term")
        .agg(count(lit(1)).as("df"), sum("tfp").as("tf"),
          topk_longs(-col("doc_id"), col("doc_id"), 20).as("top"))
        .select(col("term"), col("df"), col("tf"),
          concat_ws(",",
            transform(col("top"), x => x.getField("_2").cast("string")))
            .as("postings_20"))
        .orderBy("term")
    }),

    // Gopher-style quality gates (the Rae et al. 2021 rule shapes) with
    // exact integer arithmetic: token-count bounds, mean-token-length in
    // [3,10] tested as the cross-product 3n <= L <= 10n (no division, so
    // empty docs can't fault), >= 80% of tokens containing a letter
    // (5*alpha >= 4*n), and >= 2 distinct English stopwords present.
    // Output is the per-source rule-attribution report a corpus-cleaning
    // run reads: docs in, per-rule failure counts, survivors. One bound
    // tokens() evaluation per doc (map-only) + one partial aggregation —
    // at 100 TB this is a single scan with a 20-row result.
    "corpus_gopher_gates" -> ((s, d) => {
      val stops = TF.stopwords("en")
      val flags = Tables.documents(s, d).select(col("source"),
        TF.bind(TF.tokens(col("text"))) { t =>
          val n = size(t).cast("long")
          val sumLen = aggregate(t, lit(0L),
            (acc, x) => acc + length(x).cast("long"))
          val alphaAny = size(filter(t, x => x.rlike("[A-Za-z]"))).cast("long")
          val stopDistinct = size(filter(
            array(stops.map(lit): _*), w => array_contains(t, w))).cast("long")
          struct(
            (n >= 10L && n <= 150L).as("g_len"),
            (sumLen >= n * 3L && sumLen <= n * 10L).as("g_wordlen"),
            (alphaAny * 5L >= n * 4L).as("g_alpha"),
            (stopDistinct >= 2L).as("g_stop"))
        }.as("g"))
      flags.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(!col("g.g_len"), 1L).otherwise(0L)).as("fail_len"),
        sum(when(!col("g.g_wordlen"), 1L).otherwise(0L)).as("fail_wordlen"),
        sum(when(!col("g.g_alpha"), 1L).otherwise(0L)).as("fail_alpha"),
        sum(when(!col("g.g_stop"), 1L).otherwise(0L)).as("fail_stop"),
        sum(when(col("g.g_len") && col("g.g_wordlen") &&
          col("g.g_alpha") && col("g.g_stop"), 1L).otherwise(0L)).as("n_pass"))
        .orderBy("source")
    }),

    // DSIR-style data selection (Xie et al. 2023's importance-resampling
    // shape) with the integer bit-cost trick: each doc scores
    // delta_bits = bits under the whole-pool unigram LM minus bits under
    // the target-domain LM (target = lang='en' docs), add-one smoothed
    // over the joint vocabulary so unseen-in-target terms cost
    // bit_length((N+V) DIV 1) rather than dividing by zero. Positive
    // delta = the doc compresses better under the target model = keep
    // candidate. All integer ops — both engines agree bit-for-bit where
    // the float log-likelihood ratio would risk rounding flips. Shape is
    // the tfidf/surprisal plan: shuffle bounded by distinct (doc, term)
    // pairs, model tables broadcast from one-row/vocab-sized aggregates.
    "text_dsir_weights" -> ((s, d) => {
      val pairs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(TF.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("tf"))
      val vocab = pairs.groupBy("term").agg(
        sum("tf").as("ctf_all"),
        sum(when(col("lang") === "en", col("tf")).otherwise(0L)).as("ctf_tgt"))
      val tot = vocab.agg(sum("ctf_all").as("n_all"),
        sum("ctf_tgt").as("n_tgt"), count(lit(1)).as("v"))
      pairs.join(vocab, "term")
        .crossJoin(broadcast(tot))
        .withColumn("bits_pool",
          (length(bin(expr("(n_all + v) DIV (ctf_all + 1)"))) - 1).cast("long"))
        .withColumn("bits_tgt",
          (length(bin(expr("(n_tgt + v) DIV (ctf_tgt + 1)"))) - 1).cast("long"))
        .groupBy("doc_id", "lang")
        .agg(sum(col("tf") * (col("bits_pool") - col("bits_tgt")))
          .as("delta_bits"),
          sum("tf").as("ntok"))
        .orderBy("doc_id")
    }),

    // Heaps-law vocabulary growth: per source, cumulative (docs seen,
    // tokens seen, distinct terms seen) at every 16-doc checkpoint — the
    // curve that tells a tokenizer/corpus audit whether vocabulary is
    // saturating. Never recounts prefixes: each term's FIRST-occurrence
    // rank is a groupBy-min, both ranks and first occurrences collapse
    // to 16-doc-bucket histograms, and one cumulative walk over the
    // bounded checkpoint domain (n_docs/16 rows per source) yields every
    // prefix count. The per-source row_number walks the doc dimension of
    // one source — bounded, and the only ordered pass in the plan.
    "text_vocab_growth" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
      val ranked = Tables.documents(s, d)
        .select(col("source"), col("doc_id"), TF.tokens(col("text")).as("t"))
        .withColumn("r", row_number().over(w).cast("long"))
      val docH = ranked
        .withColumn("ck", expr("(r + 15) DIV 16"))
        .groupBy("source", "ck")
        .agg(count(lit(1)).as("docs_in"),
          sum(size(col("t")).cast("long")).as("toks_in"))
      val vocH = ranked
        .select(col("source"), col("r"),
          explode(array_distinct(col("t"))).as("term"))
        .groupBy("source", "term").agg(min("r").as("fo"))
        .withColumn("ck", expr("(fo + 15) DIV 16"))
        .groupBy("source", "ck").agg(count(lit(1)).as("vocab_in"))
      val cw = Window.partitionBy("source").orderBy("ck")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docH.join(vocH, Seq("source", "ck"), "left")
        .na.fill(0L, Seq("vocab_in"))
        .select(col("source"), col("ck"),
          sum("docs_in").over(cw).as("docs_seen"),
          sum("toks_in").over(cw).as("tokens_seen"),
          sum("vocab_in").over(cw).as("vocab_size"))
        .orderBy("source", "ck")
    }),

    // Lexical diversity: global type-token ratio is length-biased
    // (longer docs repeat more), so the robust measure is the chunked
    // moving-average TTR (MATTR-style): distinct/total over
    // NON-OVERLAPPING full 16-token chunks, averaged per doc — all in
    // integer basis points with truncating division over non-negative
    // operands. Docs shorter than one full chunk drop out (no MATTR is
    // defined for them). Shape: the posexplode fan-out is the linear
    // token relation; both distinct-counts are two-phase aggregates
    // with map-side partials; no window at all.
    "text_ttr_mattr" -> ((s, d) => {
      val C = 16
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("ntok"),
          posexplode(col("toks")).as(Seq("pos", "tok")))
      val cst = tok.withColumn("chunk_id", expr(s"pos DIV $C"))
        .groupBy("doc_id", "ntok", "chunk_id")
        .agg(count(lit(1)).as("clen"), countDistinct("tok").as("nd"))
      val gl = tok.groupBy("doc_id")
        .agg(countDistinct("tok").as("nd_all"))
      cst.filter(col("clen") === C)
        .groupBy("doc_id", "ntok")
        .agg(count(lit(1)).as("n_chunks"), sum("nd").as("snd"))
        .join(gl, "doc_id")
        .select(col("doc_id"), col("ntok"), col("n_chunks"),
          expr("(nd_all * 10000) DIV ntok").as("ttr_bp"),
          expr(s"(snd * 10000) DIV (${C}L * n_chunks)").as("mattr_bp"))
        .orderBy("doc_id")
    }),

    // Hybrid retrieval with reciprocal-rank fusion (Cormack et al.
    // 2009): lexical BM25 and embedding-cosine rankings over the same
    // eval/train split, each truncated at 20, fused by
    // rrf = sum(1000000 DIV (60 + rank)) and re-ranked top-5 — the
    // standard hybrid-search shape behind RAG stacks (sparse catches
    // exact terms, dense catches paraphrase; RRF needs no score
    // calibration because it only consumes RANKS, which also makes it
    // integer-exact). Docs without an embedding (sf0.1 has 5k docs,
    // 2k vectors) simply lack dense contributions — union semantics,
    // no inner join. The dense branch ranks on round(sim*10000) — the
    // knnGraph/marginBitext integer-snap — so the fused ranks never
    // hinge on cross-engine double comparison order; the BM25 branch
    // already ranks on floor'd integer micro-scores. The fusion adds
    // one (query, doc) aggregate and a per-query top-5 window.
    "pipeline_hybrid_rrf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val bm = bm25Top20(s, d)
        .select(col("query_id"), col("doc_id"),
          expr("CAST(1000000 DIV (60 + rank) AS LONG)").as("c"))
      val e = Tables.embeddings(s, d)
      val qv = e.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
      val cvs = e.filter(col("vec_id") % 20 =!= 0)
        .select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("cv"))
      val wd = Window.partitionBy("query_id")
        .orderBy(col("sim_bp").desc, col("doc_id").asc)
      val cos = cvs.join(broadcast(qv))
        .withColumn("sim_bp", round(graft.functions.HashExprs
          .cosine_sim(col("qv"), col("cv")) * 10000).cast("long"))
        .withColumn("rank", row_number().over(wd))
        .filter(col("rank") <= 20)
        .select(col("query_id"), col("doc_id"),
          expr("CAST(1000000 DIV (60 + rank) AS LONG)").as("c"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("rrf_u").desc, col("doc_id"))
      bm.unionAll(cos)
        .groupBy("query_id", "doc_id").agg(sum("c").as("rrf_u"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("query_id", "rank", "doc_id", "rrf_u")
        .orderBy("query_id", "rank")
    }),

    // Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; the
    // standard n-gram smoothing), EXACT: with discount D = 3/4,
    // P_KN(w|u) = max(c(u,w)-D,0)/c(u) + D*N1+(u,.)/c(u) * Pcont(w),
    // Pcont(w) = N1+(.,w)/N1+(.,.). Multiplying through by 4 clears
    // the only fraction, so the probability is one exact rational
    // emitted in integer parts-per-billion by a single floor division
    // of non-negative operands — the MLE text_bigram_surprisal's
    // smoothed upgrade, hash-checkable where float KN never could be.
    // Output: the 30 most frequent bigrams with their count relations
    // and P_KN. Shape: one lead() window per doc (bounded partitions),
    // three partial-aggregated rollups of the bigram-TYPE relation,
    // TakeOrdered for the top-30 (no global window); at larger corpora
    // the two products widen to decimal(38).
    "text_kn_bigram" -> ((s, d) => {
      val (cuw, cu, cw, tt) = knStats(bigramsOf(s, d))
      cuw.join(cu, "u").join(cw, "w").crossJoin(broadcast(tt))
        .withColumn("p_kn_ppb", expr(
          """((greatest(4 * c_uw - 3, 0) * t_types + 3 * n1_u * n1c_w)
             * 1000000000) DIV (4 * c_u * t_types)"""))
        .orderBy(col("c_uw").desc, col("u"), col("w")).limit(30)
        .select("u", "w", "c_uw", "c_u", "n1_u", "n1c_w", "p_kn_ppb")
    }),

    // Simpson concentration per source: the probability two tokens
    // drawn WITHOUT replacement are the same type — an exact rational
    // (sum c_i(c_i-1)) / (N(N-1)) emitted in parts-per-billion by one
    // floor division, so unlike Shannon diversity it needs no log
    // anywhere. High values = a source dominated by few token types
    // (boilerplate/templating) — the corpus-level complement of the
    // per-doc MATTR signal. One (source, term) rollup, one per-source
    // reduce; no windows. rep_pairs * 1e9 holds to ~3M repeated
    // tokens per source; past that the product widens to decimal(38).
    "corpus_simpson_diversity" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"), explode(TF.tokens(col("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("c"))
        .groupBy("source").agg(
          sum("c").as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(col("c") * (col("c") - 1)).as("rep_pairs"))
        .withColumn("simpson_ppb", expr(
          "(rep_pairs * 1000000000) DIV (n_tokens * (n_tokens - 1))"))
        .orderBy("source")),

    // The KN model doing its actual job: held-out perplexity scoring.
    // Eval docs (doc_id%20=0, the standard split) score every bigram
    // against the TRAIN split's KN statistics — unseen bigrams (where
    // MLE surprisal is undefined and the smoothing earns its keep) get
    // the continuation mass; a fully unseen context backs off to the
    // 30-bit cap. Surprisal stays integer via the floor-log2 bit-length
    // trick on the exact rational den/num (P <= 1, so den DIV num >= 1)
    // — the CCNet-style quality signal, engine-replayable. Shape: the
    // three train rollups broadcast onto the eval bigram stream; one
    // per-doc partial aggregate.
    "text_kn_surprisal" -> ((s, d) => {
      val big = bigramsOf(s, d)
      val (cuw, cu, cw, tt) =
        knStats(big.filter(col("doc_id") % 20 =!= 0))
      big.filter(col("doc_id") % 20 === 0)
        .join(cuw, Seq("u", "w"), "left")
        .join(cu, Seq("u"), "left")
        .join(cw, Seq("w"), "left")
        .crossJoin(broadcast(tt))
        .withColumn("bits", expr(
          """CASE WHEN c_u IS NULL THEN 30L ELSE least(30L,
               CASE WHEN greatest(4 * coalesce(c_uw, 0L) - 3, 0L)
                      * t_types
                    + 3 * n1_u * coalesce(n1c_w, 0L) = 0 THEN 30L
               ELSE length(bin((4 * c_u * t_types) DIV
                 (greatest(4 * coalesce(c_uw, 0L) - 3, 0L) * t_types
                  + 3 * n1_u * coalesce(n1c_w, 0L)))) - 1 END) END"""))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum("bits").as("sum_bits"),
          sum(when(col("c_uw").isNull, 1L).otherwise(0L)).as("n_unseen"))
        .withColumn("avg_bits",
          round(col("sum_bits").cast("double") / col("n_bigrams"), 4))
        .orderBy("doc_id")
    }),
  )

  /** Doc-tagged bigram relation (doc_id, u, w): one lead() window per
    * doc (bounded partitions). Shared by the two KN queries so the
    * tokenization and pairing live in one place. */
  private def bigramsOf(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wn = Window.partitionBy("doc_id").orderBy("pos")
    Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(TF.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("w", lead("tok", 1).over(wn))
      .filter(col("w").isNotNull)
      .select(col("doc_id"), col("tok").as("u"), col("w"))
  }

  /** The KN count relations over a (u, w) bigram stream: bigram counts,
    * left-context totals + distinct continuations, right continuation
    * counts, and the bigram-type total — the D = 3/4 discount
    * arithmetic (4x / -3) lives at the two call sites' scoring
    * expressions, the COUNTS live here, once. */
  private def knStats(big: org.apache.spark.sql.DataFrame):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
       org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val cuw = big.groupBy("u", "w").agg(count(lit(1)).as("c_uw"))
    val cu = cuw.groupBy("u")
      .agg(sum("c_uw").as("c_u"), count(lit(1)).as("n1_u"))
    val cw = cuw.groupBy("w").agg(count(lit(1)).as("n1c_w"))
    val tt = cuw.agg(count(lit(1)).as("t_types"))
    (cuw, cu, cw, tt)
  }

  private val toks =
    """list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"""

  val oracles: Map[String, String] = Map(
    "text_hashing_trick" ->
      s"""WITH t AS (SELECT source, unnest($toks) AS tok FROM documents),
          hh AS (SELECT source,
                   ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
                 FROM t),
          f AS (SELECT source, h % 64 AS dim,
                  CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END AS sgn
                FROM hh),
          prof AS (SELECT source, dim, CAST(sum(sgn) AS BIGINT) AS v
                   FROM f GROUP BY 1, 2),
          norms AS (SELECT source, sum(v * v) AS nn
                    FROM prof GROUP BY 1 HAVING sum(v * v) > 0),
          dots AS (SELECT a.source AS sa, b.source AS sb,
                     sum(a.v * b.v) AS dot
                   FROM prof a
                   JOIN prof b ON a.dim = b.dim AND a.source < b.source
                   GROUP BY 1, 2)
          SELECT sa AS source_a, sb AS source_b,
                 CAST(floor(10000.0 * dot /
                   (sqrt(na.nn) * sqrt(nb.nn))) AS BIGINT) AS sim_bp
          FROM dots
          JOIN norms na ON dots.sa = na.source
          JOIN norms nb ON dots.sb = nb.source
          ORDER BY source_a, source_b""",

    "text_ngram_freq" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          sh AS (SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
                 FROM t)
          SELECT shingle, count(*) AS df FROM sh
          GROUP BY shingle ORDER BY df DESC, shingle ASC LIMIT 20""",

    "text_bpe_tokens" ->
      """SELECT doc_id,
                len(regexp_extract_all(lower(text),
                  '[a-z]+|[0-9]|[^a-z0-9\s]')) AS n_bpe,
                length(text) AS n_chars,
                round(CAST(length(text) AS DOUBLE) /
                  greatest(len(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]|[^a-z0-9\s]')), 1), 4) AS chars_per_tok
         FROM documents ORDER BY doc_id""",

    // chunk windows: 64 tokens, stride 48 (= 64 - 16 overlap); DuckDB
    // slices are 1-based inclusive, ceil via integer arithmetic as in
    // the Spark plan.
    "text_chunk" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          n AS (SELECT doc_id, toks, len(toks)::BIGINT AS ntok FROM t
                WHERE len(toks) > 0),
          c AS (SELECT doc_id, toks, ntok,
                       unnest(range(0, greatest(1, (ntok - 16 + 47) // 48)))
                         AS chunk_id
                FROM n)
          SELECT doc_id, chunk_id,
                 array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64],
                                 ' ') AS chunk_text,
                 least(64, ntok - chunk_id * 48) AS n_tokens
          FROM c ORDER BY doc_id, chunk_id""",

    "text_tfidf" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          e AS (SELECT doc_id, unnest(toks) AS term FROM t),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY 1, 2),
          dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS n_docs FROM documents)
          SELECT doc_id, term, tf, df,
                 round(tf * ln(n_docs::DOUBLE / df), 6) AS tfidf
          FROM tf JOIN dfr USING (term), n
          ORDER BY doc_id, term""",

    // contribution arithmetic mirrors the Spark expression operand-for-
    // operand; integer-column operands are cast to DOUBLE before any
    // decimal literal touches them (DuckDB decimal x integer is exact
    // decimal arithmetic, which would diverge from Spark's doubles)
    "text_bm25_topk" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          e AS (SELECT doc_id, unnest(toks) AS term FROM t),
          train AS (SELECT * FROM e WHERE doc_id % 20 <> 0),
          tf AS (SELECT doc_id, term, count(*) AS tf
                 FROM train GROUP BY 1, 2),
          dlen AS (SELECT doc_id, count(*) AS len FROM train GROUP BY 1),
          dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          stats AS (SELECT count(*) AS n_docs, sum(len) AS tot_len
                    FROM dlen),
          q AS (SELECT DISTINCT doc_id AS query_id, term
                FROM e WHERE doc_id % 20 = 0),
          contrib AS (
            SELECT q.query_id, tf.doc_id,
              CAST(floor(
                ln((n_docs::DOUBLE - df + 0.5) / (df::DOUBLE + 0.5) + 1)
                * (tf::DOUBLE * 2.2)
                / (tf::DOUBLE + 1.2 * (0.25 + 0.75 * len::DOUBLE
                    / (tot_len::DOUBLE / n_docs)))
                * 1000000 + 0.5) AS BIGINT) AS c_u
            FROM q JOIN tf USING (term)
            JOIN dlen ON tf.doc_id = dlen.doc_id
            JOIN dfr USING (term), stats),
          scores AS (SELECT query_id, doc_id,
                       CAST(sum(c_u) AS BIGINT) AS score_u
                     FROM contrib GROUP BY 1, 2),
          ranked AS (SELECT query_id, doc_id, score_u,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY score_u DESC, doc_id ASC) AS rank
                     FROM scores)
          SELECT query_id, rank, doc_id, score_u
          FROM ranked WHERE rank <= 5
          ORDER BY query_id, rank""",

    "text_pack_bins" ->
      s"""WITH t AS (SELECT source, doc_id, len($toks)::BIGINT AS ntok
                     FROM documents),
          c AS (SELECT source, ntok,
                       coalesce(sum(ntok) OVER (PARTITION BY source
                         ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS cum_before
                FROM t)
          SELECT source, CAST(cum_before // 2048 AS BIGINT) AS bin,
                 count(*) AS n_docs,
                 CAST(sum(ntok) AS BIGINT) AS n_tokens
          FROM c GROUP BY 1, 2 ORDER BY 1, 2""",

    "sample_weighted_mix" ->
      s"""WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
          t AS (SELECT count(*) AS total FROM documents),
          r AS (SELECT lang, n,
                  least(256, (256 * ((total * 4) // 10) *
                    CASE lang WHEN 'en' THEN 4000 WHEN 'es' THEN 2500
                              WHEN 'de' THEN 2000 WHEN 'fr' THEN 1000
                              WHEN 'zh' THEN 500 ELSE 0 END)
                    // (10000 * n)) AS frac256
                FROM n, t),
          k AS (SELECT d.lang, len($toks) AS nt
                FROM documents d JOIN r USING (lang)
                WHERE substring(md5(d.doc_id::VARCHAR || 'graft'), 1, 2) <
                  CASE WHEN r.frac256 >= 256 THEN 'g'
                       ELSE printf('%02x', r.frac256) END),
          kk AS (SELECT lang, count(*) AS n_kept,
                        CAST(sum(nt) AS BIGINT) AS kept_tokens
                 FROM k GROUP BY 1)
          SELECT r.lang, r.n AS n_total,
                 coalesce(kk.n_kept, 0) AS n_kept,
                 coalesce(kk.kept_tokens, 0) AS kept_tokens
          FROM r LEFT JOIN kk USING (lang) ORDER BY lang""",

    "text_unigram_surprisal" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          e AS (SELECT doc_id, unnest(toks) AS term FROM t),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY 1, 2),
          v AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf
                FROM tf GROUP BY 1),
          n AS (SELECT CAST(sum(ctf) AS BIGINT) AS n_total FROM v)
          SELECT doc_id,
                 CAST(sum(tf * (length(printf('%b', n_total // ctf)) - 1))
                   AS BIGINT) AS sum_bits,
                 CAST(sum(tf) AS BIGINT) AS ntok,
                 round(CAST(sum(tf * (length(printf('%b', n_total // ctf))
                   - 1)) AS DOUBLE) / sum(tf), 4) AS avg_bits
          FROM tf JOIN v USING (term), n
          GROUP BY doc_id ORDER BY doc_id""",

    "corpus_upsample_plan" ->
      s"""WITH docs AS (SELECT doc_id, source,
                               CAST(len($toks) AS BIGINT) AS nt
                        FROM documents),
          c AS (SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens,
                       count(*) AS n_docs
                FROM docs GROUP BY source),
          t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
                       CAST(count(*) AS BIGINT) AS n_sources FROM c),
          plan AS (SELECT source, n_tokens,
                          CAST((10000 * (total // n_sources)) // n_tokens
                            AS BIGINT) AS w_bp
                   FROM c, t),
          p2 AS (SELECT source, n_tokens, w_bp,
                        CAST(w_bp // 10000 AS BIGINT) AS full_epochs,
                        printf('%02x', (256 * (w_bp % 10000)) // 10000)
                          AS thr
                 FROM plan),
          fk AS (SELECT d.source, count(*) AS frac_docs,
                        CAST(sum(d.nt) AS BIGINT) AS frac_tokens
                 FROM docs d JOIN p2 ON d.source = p2.source
                 WHERE substring(md5(CAST(d.doc_id AS VARCHAR) || 'graft'),
                                 1, 2) < p2.thr
                 GROUP BY d.source)
          SELECT p2.source, n_tokens, w_bp, full_epochs,
                 coalesce(frac_docs, 0) AS frac_docs,
                 CAST(coalesce(frac_tokens, 0) AS BIGINT) AS frac_tokens,
                 CAST(full_epochs * n_tokens + coalesce(frac_tokens, 0)
                   AS BIGINT) AS planned_tokens
          FROM p2 LEFT JOIN fk ON p2.source = fk.source
          ORDER BY p2.source""",

    "corpus_perplexity_buckets" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          e AS (SELECT doc_id, unnest(toks) AS term FROM t),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY 1, 2),
          v AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf
                FROM tf GROUP BY 1),
          n AS (SELECT CAST(sum(ctf) AS BIGINT) AS n_total FROM v),
          pd AS (SELECT doc_id,
                        CAST(sum(tf * (length(printf('%b', n_total // ctf))
                          - 1)) AS BIGINT) AS sum_bits,
                        CAST(sum(tf) AS BIGINT) AS ntok
                 FROM tf JOIN v USING (term), n GROUP BY doc_id),
          pc AS (SELECT doc_id, ntok,
                        CAST((100 * sum_bits) // ntok AS BIGINT) AS cb
                 FROM pd),
          h AS (SELECT cb, count(*) AS nk FROM pc GROUP BY cb),
          nd AS (SELECT CAST(sum(nk) AS BIGINT) AS n FROM h),
          w AS (SELECT cb, sum(nk) OVER (ORDER BY cb
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM h),
          thr AS (SELECT
                    CAST(min(CASE WHEN cum >= (n + 2) // 3
                                  THEN cb END) AS BIGINT) AS t1,
                    CAST(min(CASE WHEN cum >= (2 * n + 2) // 3
                                  THEN cb END) AS BIGINT) AS t2
                  FROM w, nd)
          SELECT d.source,
                 CASE WHEN pc.cb <= t1 THEN 'head'
                      WHEN pc.cb <= t2 THEN 'middle'
                      ELSE 'tail' END AS bucket,
                 count(*) AS n_docs,
                 CAST(sum(pc.ntok) AS BIGINT) AS n_tokens
          FROM pc JOIN documents d USING (doc_id), thr
          GROUP BY 1, 2 ORDER BY 1, 2""",

    "corpus_shuffle" ->
      """SELECT row_number() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)),
                                            doc_id) AS pos,
                doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS skey
         FROM documents ORDER BY pos""",

    "text_vocab" ->
      s"""WITH e AS (SELECT unnest($toks) AS term FROM documents),
          c AS (SELECT term, count(*) AS ctf FROM e GROUP BY 1)
          SELECT row_number() OVER (ORDER BY ctf DESC, term ASC) AS token_id,
                 term, ctf
          FROM c ORDER BY token_id""",

    // the per-source rollup of the proven per-doc metric formulas (the
    // quality/lang arithmetic is the pipeline_corpus_prep sig CTE)
    "corpus_source_report" ->
      s"""WITH t0 AS (SELECT source, text, $toks AS toks FROM documents),
          sig AS (SELECT source, text, toks, len(toks)::BIGINT AS n,
                   len(list_filter(toks,
                     x -> regexp_full_match(x, '[a-z]+')))::BIGINT AS a,
                   len(list_distinct(toks))::BIGINT AS d,
                   least(len(toks), 200)::BIGINT AS m,
                   len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS s_en,
                   len(list_filter(toks, x -> x IN ('el','la','de','los','que','y','en'))) AS s_es,
                   len(list_filter(toks, x -> x IN ('der','die','das','und','ist','von','mit'))) AS s_de,
                   len(list_filter(toks, x -> x IN ('le','les','des','et','est','dans','une'))) AS s_fr
                  FROM t0),
          q AS (SELECT source,
                  ((2 * (4000 * a + 3000 * d + 15 * m * n) + n)
                    // (2 * n)) / 10000.0 AS q,
                  CASE WHEN NOT (s_en = 0 AND s_es = 0 AND s_de = 0
                                 AND s_fr = 0)
                        AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                       THEN 1 ELSE 0 END AS is_en,
                  n AS nt,
                  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                    AS fp
                FROM sig)
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 round(avg(q), 4) AS avg_quality,
                 CAST(sum(is_en) * 10000 // count(*) AS BIGINT) AS en_bp,
                 CAST(sum(nt) AS BIGINT) AS n_tokens,
                 CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct
          FROM q GROUP BY source ORDER BY source""",

    // same average-rank-per-frequency-class weighted OLS as the Spark
    // side, term by term
    "text_zipf" ->
      s"""WITH e AS (SELECT unnest($toks) AS term FROM documents),
          c AS (SELECT term, count(*) AS ctf FROM e GROUP BY 1),
          k AS (SELECT ctf, CAST(count(*) AS BIGINT) AS nk FROM c GROUP BY 1),
          r AS (SELECT ctf, nk,
                       sum(nk) OVER (ORDER BY ctf DESC
                                     ROWS UNBOUNDED PRECEDING)
                         - nk + (nk + 1) / 2.0 AS avg_rank
                FROM k),
          p AS (SELECT CAST(nk AS DOUBLE) AS w, ln(avg_rank) AS x,
                       ln(ctf) AS y
                FROM r),
          a AS (SELECT sum(w) AS sw,
                       CAST(count(*) AS BIGINT) AS n_classes,
                       sum(w * x) AS swx, sum(w * y) AS swy,
                       sum(w * x * y) AS swxy, sum(w * x * x) AS swxx
                FROM p)
          SELECT CAST(sw AS BIGINT) AS n_vocab, n_classes,
                 round((swxy - swx * swy / sw)
                       / (swxx - swx * swx / sw), 4) AS slope,
                 round(swy / sw - (swxy - swx * swy / sw)
                       / (swxx - swx * swx / sw) * swx / sw, 4) AS intercept
          FROM a""",

    "sample_weighted_topk" ->
      """WITH u AS (SELECT doc_id, n_chars,
              (CAST(('0x' || substring(md5(doc_id::VARCHAR || 'wtk'), 1, 8))
                    AS BIGINT) + 1) / 4294967297.0 AS uu
           FROM documents)
         SELECT doc_id, n_chars,
                round(pow(uu, 1.0 / greatest(CAST(n_chars AS DOUBLE), 1.0)),
                      6) AS score
         FROM u ORDER BY score DESC, doc_id LIMIT 50""",

    "text_bigram_surprisal" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          bi AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
                 FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                       FROM t)),
          dtf AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
                  FROM bi GROUP BY 1, 2, 3),
          bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                 FROM bi GROUP BY 1, 2),
          cc AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
                 FROM bi GROUP BY 1),
          vs AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
                 FROM (SELECT unnest(toks) AS w FROM t)),
          scored AS (SELECT dtf.doc_id, tf,
                            CAST(length(bin((c1 + v) // (c12 + 1))) - 1
                                 AS BIGINT) AS bits
                     FROM dtf JOIN bc USING (w1, w2) JOIN cc USING (w1), vs)
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
                 CAST(sum(tf * bits) AS BIGINT) AS sum_bits,
                 round(CAST(sum(tf * bits) AS DOUBLE) /
                       CAST(sum(tf) AS BIGINT), 4) AS avg_bits
          FROM scored GROUP BY doc_id ORDER BY doc_id""",

    "corpus_length_histogram" ->
      s"""SELECT CAST(length(bin(greatest(CAST(len($toks) AS BIGINT), 1)))
                 - 1 AS BIGINT) AS log2_tokens,
                 CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY 1 ORDER BY 1""",

    "corpus_token_share" ->
      s"""WITH per AS (SELECT source, CAST(sum(len($toks)) AS BIGINT)
                              AS n_tokens
                       FROM documents GROUP BY source),
          t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM per)
          SELECT source, n_tokens,
                 round(CAST(n_tokens AS DOUBLE) / t, 4) AS share,
                 round(CAST(sum(n_tokens) OVER (
                         ORDER BY n_tokens DESC, source
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS DOUBLE) / t, 4) AS cum_share
          FROM per, t ORDER BY n_tokens DESC, source""",

    "text_oov_rate" ->
      s"""WITH e AS (SELECT unnest($toks) AS term FROM documents),
          c AS (SELECT term, count(*) AS ctf FROM e GROUP BY 1),
          v AS (SELECT term FROM
                  (SELECT term, row_number() OVER
                     (ORDER BY ctf DESC, term ASC) AS token_id FROM c)
                WHERE token_id <= 20),
          t AS (SELECT source, unnest($toks) AS term FROM documents)
          SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_oov,
                 round(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                       AS DOUBLE) / count(*), 4) AS oov_rate
          FROM t LEFT JOIN v ON t.term = v.term
          GROUP BY source ORDER BY source""",

    // Generation-time ground truth (the r10 JPEG-oracle pattern):
    // deflate sizes are implementation-defined, so the expected bytes
    // were pinned ONCE beside the corpus by tools/GenDeflateTruth
    // (through an INDEPENDENT single-shot DeflaterOutputStream path)
    // and the oracle joins them by md5(text). Digest-keyed so a
    // regenerated corpus drops join rows and fails the row-count check
    // loudly instead of comparing stale sizes.
    "text_compression_ratio" ->
      s"""SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                 CAST(f.raw_bytes AS BIGINT) AS raw_bytes,
                 CAST(f.deflate_bytes AS BIGINT) AS deflate_bytes,
                 round(CAST(f.deflate_bytes AS DOUBLE)
                       / greatest(CAST(f.raw_bytes AS DOUBLE), 1.0), 4)
                   AS ratio
          FROM documents d
          JOIN read_parquet('$deflateTruth/*.parquet') f
            ON md5(d.text) = f.text_md5
          ORDER BY doc_id""",

    "text_pii_scrub" ->
      """WITH dirty AS (
           SELECT doc_id,
                  text || ' reach user' || doc_id::VARCHAR ||
                  '@example.com via 10.' || (doc_id % 256)::VARCHAR ||
                  '.0.' || ((doc_id * 7) % 256)::VARCHAR ||
                  ' id ' || (100 + doc_id % 900)::VARCHAR || '-' ||
                  (10 + doc_id % 90)::VARCHAR || '-' ||
                  (1000 + doc_id % 9000)::VARCHAR AS d
           FROM documents)
         SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(d,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '<ID>', 'g')) AS clean_fp,
           len(regexp_extract_all(d,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             AS n_emails,
           len(regexp_extract_all(d,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
           len(regexp_extract_all(d, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ids
         FROM dirty ORDER BY doc_id""",

    "text_pmi_bigrams" ->
      s"""WITH t AS (SELECT $toks AS toks FROM documents),
          bi AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
                 FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t)),
          bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
                 FROM bi GROUP BY w1, w2),
          uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c
                 FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uc),
          btot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bi FROM bc)
          SELECT bc.w1, bc.w2, c_xy, u1.c AS c1, u2.c AS c2,
                 round(ln((CAST(c_xy AS DOUBLE) * n_uni * n_uni) /
                          (CAST(n_bi AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
          FROM bc
          JOIN uc u1 ON bc.w1 = u1.w
          JOIN uc u2 ON bc.w2 = u2.w, tot, btot
          WHERE c_xy >= 5
          ORDER BY w1, w2""",

    "text_encode" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          e0 AS (SELECT unnest(toks) AS term FROM t),
          c AS (SELECT term, count(*) AS ctf FROM e0 GROUP BY 1),
          v AS (SELECT row_number() OVER (ORDER BY ctf DESC, term ASC)
                         AS token_id, term FROM c),
          v20 AS (SELECT * FROM v WHERE token_id <= 20),
          e AS (SELECT doc_id, unnest(toks) AS term,
                       unnest(range(1, len(toks) + 1)) AS pos
                FROM t WHERE len(toks) > 0),
          j AS (SELECT e.doc_id, e.pos, coalesce(v20.token_id, 0) AS tid
                FROM e LEFT JOIN v20 USING (term))
          SELECT doc_id, count(*) AS n_tokens,
                 CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov,
                 string_agg(tid::VARCHAR, ' ' ORDER BY pos) AS ids
          FROM j GROUP BY doc_id ORDER BY doc_id""",

    "sample_exact_stratified" ->
      """WITH r AS (SELECT lang, doc_id,
                      row_number() OVER (PARTITION BY lang
                        ORDER BY md5(doc_id::VARCHAR || 'graft') ASC,
                                 doc_id ASC) AS rn
                    FROM documents)
         SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM r WHERE rn <= 30 GROUP BY lang ORDER BY lang""",

    "corpus_shards" ->
      s"""SELECT CAST(('0x' || substring(md5(doc_id::VARCHAR || 'graft'),
                                         1, 4))::BIGINT % 16 AS INT) AS shard,
                 count(*) AS n_docs,
                 CAST(sum(len($toks)) AS BIGINT) AS n_tokens,
                 min(doc_id) AS min_doc, max(doc_id) AS max_doc
          FROM documents GROUP BY 1 ORDER BY 1""",

    "text_fingerprint" ->
      """SELECT doc_id,
                md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents ORDER BY doc_id""",

    "text_token_stats" ->
      s"""SELECT doc_id, len(toks) AS n_tokens,
                 round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS ttr,
                 round(CAST(len(list_filter(toks,
                     x -> regexp_full_match(x, '[a-z]+'))) AS DOUBLE) / len(toks), 4)
                   AS alpha_ratio
          FROM (SELECT doc_id, $toks AS toks FROM documents) t
          ORDER BY doc_id""",

    "text_lang_id" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          sc AS (SELECT doc_id,
                   len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS s_en,
                   len(list_filter(toks, x -> x IN ('el','la','de','los','que','y','en'))) AS s_es,
                   len(list_filter(toks, x -> x IN ('der','die','das','und','ist','von','mit'))) AS s_de,
                   len(list_filter(toks, x -> x IN ('le','les','des','et','est','dans','une'))) AS s_fr
                 FROM t)
          SELECT lang_pred, count(*) AS cnt FROM (
            SELECT CASE
              WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
              WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
              WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
              WHEN s_de >= s_fr THEN 'de'
              ELSE 'fr' END AS lang_pred
            FROM sc) GROUP BY lang_pred ORDER BY lang_pred""",

    "text_lang_confusion" ->
      s"""WITH t AS (SELECT lang, $toks AS toks FROM documents),
          sc AS (SELECT lang,
                   len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS s_en,
                   len(list_filter(toks, x -> x IN ('el','la','de','los','que','y','en'))) AS s_es,
                   len(list_filter(toks, x -> x IN ('der','die','das','und','ist','von','mit'))) AS s_de,
                   len(list_filter(toks, x -> x IN ('le','les','des','et','est','dans','une'))) AS s_fr
                 FROM t)
          SELECT lang, lang_pred, count(*) AS cnt FROM (
            SELECT lang, CASE
              WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
              WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
              WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
              WHEN s_de >= s_fr THEN 'de'
              ELSE 'fr' END AS lang_pred
            FROM sc) GROUP BY lang, lang_pred ORDER BY lang, lang_pred""",

    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          g AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS gram
                FROM t WHERE len(toks) >= 2),
          c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                 CAST(max(c) AS BIGINT) AS max_bigram,
                 round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS rep_ratio
          FROM c GROUP BY doc_id ORDER BY doc_id""",

    // composed gates: integer quality form + stopword-argmax lang +
    // token-count bounds — one pass, same CTE bases as the per-signal
    // oracles above
    "text_clean_corpus" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          sig AS (SELECT doc_id, len(toks)::BIGINT AS n,
                   len(list_filter(toks,
                     x -> regexp_full_match(x, '[a-z]+')))::BIGINT AS a,
                   len(list_distinct(toks))::BIGINT AS d,
                   least(len(toks), 200)::BIGINT AS m,
                   len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS s_en,
                   len(list_filter(toks, x -> x IN ('el','la','de','los','que','y','en'))) AS s_es,
                   len(list_filter(toks, x -> x IN ('der','die','das','und','ist','von','mit'))) AS s_de,
                   len(list_filter(toks, x -> x IN ('le','les','des','et','est','dans','une'))) AS s_fr
                  FROM t),
          keep AS (SELECT doc_id FROM sig
                   WHERE ((2 * (4000 * a + 3000 * d + 15 * m * n) + n)
                            // (2 * n)) / 10000.0 >= 0.63
                     AND NOT (s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0)
                     AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                     AND n BETWEEN 20 AND 90)
          SELECT source, count(*) AS n_kept
          FROM documents JOIN keep USING (doc_id)
          GROUP BY source ORDER BY source""",

    // same exact-integer form as TextFunctions.qualityScore:
    // score·10⁴ = (4000a + 3000d + 15mn) / n, rounded half-up
    "text_quality" ->
      s"""SELECT doc_id,
                 ((2 * (4000 * a + 3000 * d + 15 * m * n) + n) // (2 * n))
                   / 10000.0 AS quality
          FROM (SELECT doc_id, len(toks)::BIGINT AS n,
                       len(list_filter(toks,
                         x -> regexp_full_match(x, '[a-z]+')))::BIGINT AS a,
                       len(list_distinct(toks))::BIGINT AS d,
                       least(len(toks), 200)::BIGINT AS m
                FROM (SELECT doc_id, $toks AS toks FROM documents) t) s
          ORDER BY doc_id""",

    // Expected counts: ASCII classes from the original text (the corpus
    // is pure ASCII — MultimodalSpec's fixture gate), suffix classes
    // from the generation arithmetic (1 space + id%5 CJK + id%7
    // Cyrillic + id%3 Arabic + id%4 digits), other untouched.
    "text_script_mix" ->
      """WITH c AS (SELECT doc_id, length(text) AS len0,
                 length(text) - length(regexp_replace(text,
                   '[A-Za-z]', '', 'g')) AS latin0,
                 length(text) - length(regexp_replace(text,
                   '[0-9]', '', 'g')) AS digit0,
                 length(text) - length(regexp_replace(text,
                   '[ \t\n\r]', '', 'g')) AS ws0
          FROM documents)
          SELECT doc_id, CAST(latin0 AS BIGINT) AS latin,
                 CAST(digit0 + doc_id % 4 AS BIGINT) AS digit,
                 CAST(doc_id % 5 AS BIGINT) AS cjk,
                 CAST(doc_id % 7 AS BIGINT) AS cyrillic,
                 CAST(doc_id % 3 AS BIGINT) AS arabic,
                 CAST(ws0 + 1 AS BIGINT) AS whitespace,
                 CAST(len0 - latin0 - digit0 - ws0 AS BIGINT) AS other
          FROM c ORDER BY doc_id""",

    // Base tokens replay with an ASCII regex (text is pure [a-z ],
    // verified corpus-wide at generation); the suffix is one
    // all-letters-and-digits run per document whose class and length
    // are modular arithmetic on doc_id. The oracle never constructs a
    // non-ASCII string.
    "text_unicode_tokens" ->
      """WITH b AS (SELECT doc_id, regexp_extract_all(text, '[a-z]+')
                      AS ts
                    FROM documents),
          lat AS (SELECT CAST(sum(len(ts)) AS BIGINT) AS n_tokens,
                    CAST(sum(list_sum(list_transform(ts,
                      t -> length(t)))) AS BIGINT) AS total_chars
                  FROM b),
          sfx AS (SELECT doc_id,
                    doc_id % 5 + doc_id % 7 + doc_id % 3 + doc_id % 4
                      AS l,
                    CASE WHEN doc_id % 5 > 0 THEN 'cjk'
                         WHEN doc_id % 7 > 0 THEN 'cyrillic'
                         WHEN doc_id % 3 > 0 THEN 'arabic'
                         WHEN doc_id % 4 > 0 THEN 'digit' END AS cls
                  FROM documents),
          s2 AS (SELECT cls AS script,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(l) AS BIGINT) AS total_chars
                 FROM sfx WHERE l > 0 GROUP BY cls)
          SELECT script, n_tokens, total_chars FROM (
            SELECT 'latin' AS script, n_tokens, total_chars FROM lat
            UNION ALL SELECT script, n_tokens, total_chars FROM s2)
          ORDER BY script""",

    // Replays withCombiningSuffix's arithmetic: the suffix adds one
    // space, id%3 two-code-point e+U+0301 pairs, id%2 o+U+0308 pairs,
    // id%4 precomposed U+00E9; NFC composes exactly the decomposed
    // pairs (delta = id%3 + id%2) and must not touch the rest.
    "text_nfc_audit" ->
      """SELECT doc_id,
                CAST(length(text) + 1 + 2 * (doc_id % 3)
                     + 2 * (doc_id % 2) + (doc_id % 4) AS BIGINT) AS len,
                CAST(length(text) + 1 + (doc_id % 3)
                     + (doc_id % 2) + (doc_id % 4) AS BIGINT) AS nfc_len,
                CAST((doc_id % 3) + (doc_id % 2) AS BIGINT) AS delta
         FROM documents ORDER BY doc_id""",

    // Same expected counts as text_script_mix, then per-document argmax
    // (count DESC, class ASC — the array_min struct order) and a group
    // count per winning class.
    "text_script_route" ->
      """WITH c AS (SELECT doc_id,
                 length(text) - length(regexp_replace(text,
                   '[A-Za-z]', '', 'g')) AS latin0,
                 length(text) - length(regexp_replace(text,
                   '[0-9]', '', 'g')) AS digit0,
                 length(text) - length(regexp_replace(text,
                   '[ \t\n\r]', '', 'g')) AS ws0,
                 length(text) AS len0
          FROM documents),
          x AS (SELECT doc_id, latin0 AS latin,
                       digit0 + 128 * (doc_id % 4) AS digit,
                       128 * (doc_id % 5) AS cjk,
                       128 * (doc_id % 7) AS cyrillic,
                       128 * (doc_id % 3) AS arabic,
                       len0 - latin0 - digit0 - ws0 AS other
                FROM c),
          s AS (SELECT doc_id, 'latin' AS cls, latin AS cnt FROM x
                UNION ALL SELECT doc_id, 'digit', digit FROM x
                UNION ALL SELECT doc_id, 'cjk', cjk FROM x
                UNION ALL SELECT doc_id, 'cyrillic', cyrillic FROM x
                UNION ALL SELECT doc_id, 'arabic', arabic FROM x
                UNION ALL SELECT doc_id, 'other', other FROM x),
          r AS (SELECT doc_id, cls, row_number() OVER (
                  PARTITION BY doc_id ORDER BY cnt DESC, cls ASC) AS rk
                FROM s)
          SELECT cls AS script, count(*) AS n_docs
          FROM r WHERE rk = 1 GROUP BY 1 ORDER BY 1""",

    "text_token_volume" ->
      s"""SELECT source, CAST(sum(len($toks)) AS BIGINT) AS total_tokens,
                 CAST(sum(length(text)) AS BIGINT) AS total_chars,
                 count(*) AS n_docs
          FROM documents GROUP BY source ORDER BY source""",

    "corpus_heavy_tokens" ->
      s"""WITH t AS (SELECT unnest($toks) AS term FROM documents)
          SELECT term, count(*) AS cnt FROM t GROUP BY term
          HAVING count(*) * 1000 > (SELECT count(*) FROM t)
          ORDER BY term""",

    "text_bpe_pair_counts" ->
      s"""WITH w AS (SELECT unnest($toks) AS w FROM documents),
          f AS (SELECT w, count(*) AS freq FROM w GROUP BY w),
          cs AS (SELECT freq, regexp_extract_all(w, '.') AS c FROM f),
          p AS (SELECT freq,
                       unnest(CASE WHEN len(c) >= 2 THEN
                         list_transform(range(1, len(c)),
                           i -> c[i] || c[i+1])
                         ELSE []::VARCHAR[] END) AS pair
                FROM cs)
          SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p
          GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""",

    "corpus_mix_weights" ->
      s"""WITH c AS (SELECT source, CAST(sum(len($toks)) AS BIGINT)
                       AS n_tokens
                     FROM documents GROUP BY source),
          t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
                       count(*) AS n_sources
                FROM c)
          SELECT source, n_tokens,
                 least(10000, (10000 * (total // n_sources)) // n_tokens)
                   AS weight_bp,
                 (n_tokens *
                  least(10000, (10000 * (total // n_sources)) // n_tokens))
                   // 10000 AS kept_tokens
          FROM c CROSS JOIN t ORDER BY source""",

    "corpus_drift_tv" ->
      s"""WITH t AS (SELECT CAST(substring(source, 4, 10) AS INT) < 10
                       AS old_half,
                     unnest($toks) AS term
              FROM documents),
          f AS (SELECT term,
                       sum(CASE WHEN old_half THEN 1 ELSE 0 END) AS ca,
                       sum(CASE WHEN old_half THEN 0 ELSE 1 END) AS cb
                FROM t GROUP BY term),
          tot AS (SELECT sum(ca) AS ta, sum(cb) AS tb FROM f),
          bp AS (SELECT ta, tb,
                        CAST(10000 * ca AS BIGINT) // CAST(ta AS BIGINT)
                          AS p_bp,
                        CAST(10000 * cb AS BIGINT) // CAST(tb AS BIGINT)
                          AS q_bp
                 FROM f CROSS JOIN tot)
          SELECT CAST(ta AS BIGINT) AS ta, CAST(tb AS BIGINT) AS tb,
                 count(*) AS vocab,
                 CAST(sum(abs(p_bp - q_bp)) AS BIGINT) // 2 AS tv_bp
          FROM bp GROUP BY ta, tb""",

    "text_top_terms" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          e AS (SELECT doc_id, unnest(toks) AS term FROM t),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY 1, 2),
          r AS (SELECT doc_id, term, tf,
                       CAST(row_number() OVER (PARTITION BY doc_id
                         ORDER BY tf DESC, term) AS BIGINT) AS rank
                FROM tf)
          SELECT doc_id, rank, term, CAST(tf AS BIGINT) AS tf
          FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",

    // chunking replayed with dedup_passage's 32/0 slice arithmetic, then
    // the bm25 CTEs verbatim over the chunk corpus (cid = doc*1000+chunk)
    "pipeline_rag_retrieve" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents
                     WHERE doc_id % 20 <> 0),
          n AS (SELECT doc_id, toks, len(toks)::BIGINT AS ntok FROM t
                WHERE len(toks) > 0),
          ch AS (SELECT doc_id * 1000 + chunk_id AS cid,
                   toks[chunk_id * 32 + 1 : chunk_id * 32 + 32] AS ctoks
                 FROM (SELECT doc_id, toks, ntok,
                         unnest(range(0, greatest(1, (ntok + 31) // 32)))
                           AS chunk_id
                       FROM n)),
          e AS (SELECT cid, unnest(ctoks) AS term FROM ch),
          tf AS (SELECT cid, term, count(*) AS tf FROM e GROUP BY 1, 2),
          dlen AS (SELECT cid, count(*) AS len FROM e GROUP BY 1),
          dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          stats AS (SELECT count(*) AS n_docs, sum(len) AS tot_len
                    FROM dlen),
          q AS (SELECT DISTINCT doc_id AS query_id, term
                FROM (SELECT doc_id, unnest($toks) AS term
                      FROM documents WHERE doc_id % 20 = 0)),
          contrib AS (
            SELECT q.query_id, tf.cid,
              CAST(floor(
                ln((n_docs::DOUBLE - df + 0.5) / (df::DOUBLE + 0.5) + 1)
                * (tf::DOUBLE * 2.2)
                / (tf::DOUBLE + 1.2 * (0.25 + 0.75 * len::DOUBLE
                    / (tot_len::DOUBLE / n_docs)))
                * 1000000 + 0.5) AS BIGINT) AS c_u
            FROM q JOIN tf USING (term)
            JOIN dlen ON tf.cid = dlen.cid
            JOIN dfr USING (term), stats),
          scores AS (SELECT query_id, cid,
                       CAST(sum(c_u) AS BIGINT) AS score_u
                     FROM contrib GROUP BY 1, 2),
          ranked AS (SELECT query_id, cid, score_u,
                       CAST(row_number() OVER (PARTITION BY query_id
                         ORDER BY score_u DESC, cid ASC) AS BIGINT)
                         AS rank
                     FROM scores)
          SELECT query_id, rank, CAST(cid // 1000 AS BIGINT) AS doc_id,
                 CAST(cid % 1000 AS BIGINT) AS chunk_id, score_u
          FROM ranked WHERE rank <= 3
          ORDER BY query_id, rank""",

    "text_postings" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          e AS (SELECT doc_id, unnest(toks) AS term FROM t),
          p AS (SELECT term, doc_id, count(*) AS tfp FROM e GROUP BY 1, 2)
          SELECT term, CAST(count(*) AS BIGINT) AS df,
                 CAST(sum(tfp) AS BIGINT) AS tf,
                 array_to_string(list(doc_id ORDER BY doc_id)[1:20], ',')
                   AS postings_20
          FROM p GROUP BY term ORDER BY term""",

    "corpus_gopher_gates" ->
      s"""WITH t AS (SELECT source, $toks AS toks FROM documents),
          f AS (SELECT source,
                       len(toks)::BIGINT AS n,
                       CAST(coalesce(list_sum(list_transform(toks,
                         x -> length(x))), 0) AS BIGINT) AS L,
                       len(list_filter(toks,
                         x -> regexp_matches(x, '[A-Za-z]')))::BIGINT AS a,
                       len(list_filter(['the','a','of','and','to','in','is'],
                         w -> list_contains(toks, w)))::BIGINT AS sd
                FROM t),
          g AS (SELECT source,
                       (n >= 10 AND n <= 150) AS g_len,
                       (L >= n * 3 AND L <= n * 10) AS g_wordlen,
                       (a * 5 >= n * 4) AS g_alpha,
                       (sd >= 2) AS g_stop
                FROM f)
          SELECT source, count(*) AS n_docs,
                 CAST(sum(CASE WHEN NOT g_len THEN 1 ELSE 0 END)
                   AS BIGINT) AS fail_len,
                 CAST(sum(CASE WHEN NOT g_wordlen THEN 1 ELSE 0 END)
                   AS BIGINT) AS fail_wordlen,
                 CAST(sum(CASE WHEN NOT g_alpha THEN 1 ELSE 0 END)
                   AS BIGINT) AS fail_alpha,
                 CAST(sum(CASE WHEN NOT g_stop THEN 1 ELSE 0 END)
                   AS BIGINT) AS fail_stop,
                 CAST(sum(CASE WHEN g_len AND g_wordlen AND g_alpha
                   AND g_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
          FROM g GROUP BY source ORDER BY source""",

    "text_dsir_weights" ->
      s"""WITH t AS (SELECT doc_id, lang, $toks AS toks FROM documents),
          e AS (SELECT doc_id, lang, unnest(toks) AS term FROM t),
          tf AS (SELECT doc_id, lang, term, count(*) AS tf
                 FROM e GROUP BY 1, 2, 3),
          v AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf_all,
                       CAST(sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END)
                         AS BIGINT) AS ctf_tgt
                FROM tf GROUP BY 1),
          n AS (SELECT CAST(sum(ctf_all) AS BIGINT) AS n_all,
                       CAST(sum(ctf_tgt) AS BIGINT) AS n_tgt,
                       CAST(count(*) AS BIGINT) AS v FROM v)
          SELECT doc_id, lang,
                 CAST(sum(tf * (
                   (length(printf('%b', (n_all + v) // (ctf_all + 1))) - 1)
                   - (length(printf('%b', (n_tgt + v) // (ctf_tgt + 1))) - 1)
                 )) AS BIGINT) AS delta_bits,
                 CAST(sum(tf) AS BIGINT) AS ntok
          FROM tf JOIN v USING (term), n
          GROUP BY doc_id, lang ORDER BY doc_id""",

    "text_vocab_growth" ->
      s"""WITH t AS (SELECT source, doc_id, $toks AS toks FROM documents),
          r AS (SELECT source, doc_id, toks,
                       CAST(row_number() OVER (PARTITION BY source
                         ORDER BY doc_id) AS BIGINT) AS r
                FROM t),
          dh AS (SELECT source, (r + 15) // 16 AS ck,
                        count(*) AS docs_in,
                        CAST(sum(len(toks)) AS BIGINT) AS toks_in
                 FROM r GROUP BY 1, 2),
          fo AS (SELECT source, term, min(r) AS fo
                 FROM (SELECT source, r, unnest(list_distinct(toks)) AS term
                       FROM r)
                 GROUP BY 1, 2),
          vh AS (SELECT source, (fo + 15) // 16 AS ck,
                        count(*) AS vocab_in
                 FROM fo GROUP BY 1, 2)
          SELECT dh.source, CAST(dh.ck AS BIGINT) AS ck,
                 CAST(sum(docs_in) OVER pw AS BIGINT) AS docs_seen,
                 CAST(sum(toks_in) OVER pw AS BIGINT) AS tokens_seen,
                 CAST(sum(coalesce(vocab_in, 0)) OVER pw AS BIGINT)
                   AS vocab_size
          FROM dh LEFT JOIN vh ON dh.source = vh.source AND dh.ck = vh.ck
          WINDOW pw AS (PARTITION BY dh.source ORDER BY dh.ck
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          ORDER BY dh.source, dh.ck""",

    "text_ttr_mattr" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          tok AS (SELECT doc_id, len(toks)::BIGINT AS ntok,
                         (unnest(range(1, len(toks) + 1)) - 1) // 16
                           AS chunk_id,
                         unnest(toks) AS tok
                  FROM t),
          cst AS (SELECT doc_id, ntok, chunk_id, count(*) AS clen,
                         count(DISTINCT tok) AS nd
                  FROM tok GROUP BY 1, 2, 3),
          gl AS (SELECT doc_id, count(DISTINCT tok) AS nd_all
                 FROM tok GROUP BY 1),
          agg AS (SELECT doc_id, ntok, count(*) AS n_chunks,
                         CAST(sum(nd) AS BIGINT) AS snd
                  FROM cst WHERE clen = 16 GROUP BY 1, 2)
          SELECT a.doc_id, a.ntok,
                 CAST(n_chunks AS BIGINT) AS n_chunks,
                 CAST((g.nd_all * 10000) // a.ntok AS BIGINT) AS ttr_bp,
                 CAST((snd * 10000) // (16 * n_chunks) AS BIGINT)
                   AS mattr_bp
          FROM agg a JOIN gl g USING (doc_id) ORDER BY doc_id""",

    "pipeline_hybrid_rrf" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          e AS (SELECT doc_id, unnest(toks) AS term FROM t),
          train AS (SELECT * FROM e WHERE doc_id % 20 <> 0),
          tf AS (SELECT doc_id, term, count(*) AS tf
                 FROM train GROUP BY 1, 2),
          dlen AS (SELECT doc_id, count(*) AS len FROM train GROUP BY 1),
          dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          stats AS (SELECT count(*) AS n_docs, sum(len) AS tot_len
                    FROM dlen),
          q AS (SELECT DISTINCT doc_id AS query_id, term
                FROM e WHERE doc_id % 20 = 0),
          contrib AS (
            SELECT q.query_id, tf.doc_id,
              CAST(floor(
                ln((n_docs::DOUBLE - df + 0.5) / (df::DOUBLE + 0.5) + 1)
                * (tf::DOUBLE * 2.2)
                / (tf::DOUBLE + 1.2 * (0.25 + 0.75 * len::DOUBLE
                    / (tot_len::DOUBLE / n_docs)))
                * 1000000 + 0.5) AS BIGINT) AS c_u
            FROM q JOIN tf USING (term)
            JOIN dlen ON tf.doc_id = dlen.doc_id
            JOIN dfr USING (term), stats),
          scores AS (SELECT query_id, doc_id,
                       CAST(sum(c_u) AS BIGINT) AS score_u
                     FROM contrib GROUP BY 1, 2),
          bmr AS (SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY score_u DESC, doc_id ASC) AS rank
                  FROM scores),
          bmc AS (SELECT query_id, doc_id,
                    CAST(1000000 // (60 + rank) AS BIGINT) AS c
                  FROM bmr WHERE rank <= 20),
          qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS vq
                 FROM embeddings WHERE vec_id % 20 = 0),
          cv AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS vc
                 FROM embeddings WHERE vec_id % 20 <> 0),
          cr AS (SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY CAST(round(list_cosine_similarity(vq, vc)
                         * 10000) AS BIGINT) DESC,
                              doc_id ASC) AS rank
                 FROM qv CROSS JOIN cv),
          cc AS (SELECT query_id, doc_id,
                   CAST(1000000 // (60 + rank) AS BIGINT) AS c
                 FROM cr WHERE rank <= 20),
          fused AS (SELECT query_id, doc_id,
                      CAST(sum(c) AS BIGINT) AS rrf_u
                    FROM (SELECT * FROM bmc
                          UNION ALL SELECT * FROM cc) u
                    GROUP BY 1, 2),
          fr AS (SELECT query_id, doc_id, rrf_u,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY rrf_u DESC, doc_id) AS rank
                 FROM fused)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf_u
          FROM fr WHERE rank <= 5 ORDER BY query_id, rank""",

    "text_kn_bigram" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          big AS (SELECT unnest(toks[1:len(toks) - 1]) AS u,
                         unnest(toks[2:len(toks)]) AS w
                  FROM t),
          cuw AS (SELECT u, w, count(*) AS c_uw FROM big GROUP BY 1, 2),
          cu AS (SELECT u, CAST(sum(c_uw) AS BIGINT) AS c_u,
                        count(*) AS n1_u
                 FROM cuw GROUP BY 1),
          cw AS (SELECT w, count(*) AS n1c_w FROM cuw GROUP BY 1),
          tt AS (SELECT count(*) AS t_types FROM cuw),
          sc AS (SELECT cuw.u, cuw.w, c_uw, c_u, n1_u, n1c_w,
                        ((greatest(4 * c_uw - 3, 0) * t_types
                          + 3 * n1_u * n1c_w) * 1000000000)
                          // (4 * c_u * t_types) AS p_kn_ppb
                 FROM cuw JOIN cu USING (u) JOIN cw USING (w), tt),
          rk AS (SELECT *, row_number() OVER (ORDER BY c_uw DESC, u, w)
                   AS rnk
                 FROM sc)
          SELECT u, w, CAST(c_uw AS BIGINT) AS c_uw, c_u,
                 CAST(n1_u AS BIGINT) AS n1_u,
                 CAST(n1c_w AS BIGINT) AS n1c_w,
                 CAST(p_kn_ppb AS BIGINT) AS p_kn_ppb
          FROM rk WHERE rnk <= 30 ORDER BY c_uw DESC, u, w""",

    "corpus_simpson_diversity" ->
      s"""WITH t AS (SELECT source, $toks AS toks FROM documents),
          e AS (SELECT source, unnest(toks) AS term FROM t),
          c AS (SELECT source, term, count(*) AS c
                FROM e GROUP BY 1, 2),
          agg AS (SELECT source,
                         CAST(sum(c) AS BIGINT) AS n_tokens,
                         CAST(count(*) AS BIGINT) AS vocab,
                         CAST(sum(c * (c - 1)) AS BIGINT) AS rep_pairs
                  FROM c GROUP BY 1)
          SELECT source, n_tokens, vocab, rep_pairs,
                 CAST((rep_pairs * 1000000000) //
                   (n_tokens * (n_tokens - 1)) AS BIGINT) AS simpson_ppb
          FROM agg ORDER BY source""",

    "text_kn_surprisal" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
          big AS (SELECT doc_id,
                         unnest(toks[1:len(toks) - 1]) AS u,
                         unnest(toks[2:len(toks)]) AS w
                  FROM t),
          tr AS (SELECT u, w FROM big WHERE doc_id % 20 <> 0),
          cuw AS (SELECT u, w, count(*) AS c_uw FROM tr GROUP BY 1, 2),
          cu AS (SELECT u, CAST(sum(c_uw) AS BIGINT) AS c_u,
                        count(*) AS n1_u
                 FROM cuw GROUP BY 1),
          cw AS (SELECT w, count(*) AS n1c_w FROM cuw GROUP BY 1),
          tt AS (SELECT count(*) AS t_types FROM cuw),
          ev AS (SELECT big.doc_id, big.u, big.w,
                        cuw.c_uw, cu.c_u, cu.n1_u, cw.n1c_w, t_types
                 FROM big
                 LEFT JOIN cuw ON big.u = cuw.u AND big.w = cuw.w
                 LEFT JOIN cu ON big.u = cu.u
                 LEFT JOIN cw ON big.w = cw.w
                 CROSS JOIN tt
                 WHERE big.doc_id % 20 = 0),
          sc AS (SELECT doc_id, c_uw,
                   CASE WHEN c_u IS NULL THEN 30 ELSE least(30,
                     CASE WHEN greatest(4 * coalesce(c_uw, 0) - 3, 0)
                            * t_types
                          + 3 * n1_u * coalesce(n1c_w, 0) = 0 THEN 30
                     ELSE length(printf('%b',
                       CAST((4 * c_u * t_types) //
                         (greatest(4 * coalesce(c_uw, 0) - 3, 0)
                          * t_types
                          + 3 * n1_u * coalesce(n1c_w, 0)) AS BIGINT)))
                       - 1
                     END) END AS bits
                 FROM ev)
          SELECT doc_id,
                 CAST(count(*) AS BIGINT) AS n_bigrams,
                 CAST(sum(bits) AS BIGINT) AS sum_bits,
                 CAST(count(CASE WHEN c_uw IS NULL THEN 1 END) AS BIGINT)
                   AS n_unseen,
                 round(CAST(sum(bits) AS DOUBLE) / count(*), 4)
                   AS avg_bits
          FROM sc GROUP BY doc_id ORDER BY doc_id""",
  )
}
