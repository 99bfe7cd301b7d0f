package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Lineage
import graft.functions.{HashExprs, TextFunctions => TF}

/** Deduplication operators for the training-data pipeline. Four families:
  *
  *  - exact: group by a 128-bit content fingerprint (md5 of normalized
  *    text). At 100 TB you shuffle 16-byte digests, never document bodies.
  *  - n-gram Jaccard: exact set similarity over word shingles, candidate
  *    pairs generated by an inverted shingle index (join on shingle), so
  *    only docs sharing at least one shingle are ever paired.
  *  - MinHash + LSH (Broder 1997 / Leskovec-Rajaraman-Ullman ch.3):
  *    constant-size signatures (numPerms longs), banded so that only
  *    same-bucket docs meet in the shuffle. The scale path: candidate
  *    generation cost is O(docs × bands), independent of pair count.
  *  - SimHash (Charikar 2002): one 64-bit signature per doc; the 4×16-bit
  *    band split GUARANTEES recall for Hamming distance <= 3 (pigeonhole:
  *    3 differing bits cannot dirty all 4 bands).
  *
  * Every operator returns deterministic, totally-ordered output.
  */
object Dedup {

  /** Spread a narrow input across the cluster before CPU-heavy per-row
    * work. A small table often arrives as one file = one partition, which
    * would serialize shingling/hashing onto a single core; at real scale
    * inputs already have many partitions and this is a no-op. */
  private def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Exact dedup groups: representative id + duplicate count per distinct
    * normalized content. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TF.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("doc_id"), count(lit(1)).as("n_dups"))
      .select("doc_id", "n_dups")

  /** [[exactGroups]] modulo Unicode canonical equivalence: the
    * fingerprint is md5(NFC(normalized text)), so two documents whose
    * only difference is decomposed vs precomposed spelling (e+U+0301
    * vs U+00E9) land in ONE group — the dedup a multilingual corpus
    * needs before content hashing, and the reason the NFC expression
    * exists ([[graft.functions.HashExprs.NfcNormalize]], codegen'd so
    * the whole fingerprint stays inside one stage). Same contract and
    * shape as [[exactGroups]]: one digest-bucketed groupBy. */
  def exactGroupsCanonical(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    // rtrim AFTER the whitespace collapse: trim() strips only spaces,
    // so a base text ending in '\n' would otherwise leave a trailing
    // space behind the collapse and split groups that are canonically
    // identical — the canonical form must not depend on HOW the
    // original text's trailing whitespace was spelled
    docs.groupBy(
        md5(graft.functions.HashExprs.nfc_normalize(
          rtrim(TF.normalize(col(textCol))))).as("fp"))
      .agg(min(col(idCol)).as("doc_id"), count(lit(1)).as("n_dups"))
      .select("doc_id", "n_dups")

  /** Corpus-level dedup stats: total vs distinct docs. */
  def exactStats(docs: DataFrame, textCol: String): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(TF.fingerprint(col(textCol))).as("n_distinct"))

  /** Incremental exact dedup: flag each NEW document whose normalized
    * content already exists in the standing corpus — the daily-ingest
    * pattern, where re-deduplicating the whole corpus per batch would be
    * quadratic over time. Returns (id, is_dup 0/1, n_corpus_matches).
    *
    * Shuffle carries only (16-byte digest, id) from the new batch and
    * pre-aggregated (digest, count) from the corpus — document bodies
    * never cross the wire, and the corpus side collapses to one row per
    * distinct content BEFORE the join, so a heavily-duplicated corpus
    * costs no extra shuffle. At 100 TB the corpus fingerprint table is
    * the thing to persist between batches (bucketed by digest) so each
    * increment joins against it with no corpus re-scan. */
  def incrementalExact(newDocs: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val nf = newDocs.select(col(idCol),
      TF.fingerprint(col(textCol)).as("__fp"))
    val cf = corpus.select(TF.fingerprint(col(textCol)).as("__fp"))
      .groupBy("__fp").agg(count(lit(1)).as("n_corpus_matches"))
    nf.join(cf, Seq("__fp"), "left")
      .select(col(idCol),
        when(col("n_corpus_matches").isNotNull, 1).otherwise(0)
          .cast("int").as("is_dup"),
        coalesce(col("n_corpus_matches"), lit(0L)).as("n_corpus_matches"))
  }

  /** Passage-level exact dedup (the C4/RefinedWeb line-dedup generalized):
    * split each document into fixed non-overlapping token windows
    * (Corpus.chunk with overlap 0), fingerprint each window, keep only
    * the globally-first occurrence of each fingerprint (smallest
    * (doc_id, chunk_id)), and report per-document retention.
    *
    * One shuffle, keyed by the 16-byte digest: passage TEXT never crosses
    * the wire — only (fp, id, chunk_id) — so shuffle volume is ~32 bytes
    * per passage regardless of passage length. The keep-first rule is a
    * row_number window over fp, the same partial-safe shape as exact doc
    * dedup. */
  def passageRetention(docs: DataFrame, idCol: String, textCol: String,
                       passageTokens: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy(col(idCol), col("chunk_id"))
    Corpus.chunkUnordered(docs, idCol, textCol, passageTokens, overlap = 0)
      .select(col(idCol), col("chunk_id"),
        md5(col("chunk_text").cast("binary")).as("fp"))
      .withColumn("rn", row_number().over(w))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
      .withColumn("retention",
        round(col("n_kept").cast("double") / col("n_passages"), 4))
      .orderBy(idCol)
  }

  /** Exact n-gram Jaccard near-dup pairs (jac >= threshold), via the
    * AllPairs/PPJoin prefix filter (Bayardo et al. 2007; Xiao et al. 2008):
    * under a global shingle order (rarest first), any pair with
    * J(A,B) >= t shares its smallest common shingle within the first
    * |X| - ceil(t*|X|) + 1 shingles of BOTH docs — so only those prefixes
    * are indexed and joined, then candidates are verified exactly with a
    * full intersection. Lossless at the threshold, and the join volume is
    * proportional to prefix collisions (rare shingles), not to every
    * co-occurrence: the difference between O(pairs-sharing-any-shingle)
    * and O(near-duplicate pairs) — the 100 TB path.
    *
    * Similarity is reported in integer basis points (jac_bp =
    * 10000*|A∩B| DIV |A∪B|): intersection/union are exact integer counts,
    * so the result is bit-identical across engines — no float rounding. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    // threshold 0 would make every pair qualify — including pairs with an
    // EMPTY shingle intersection, which the inverted-index verify never
    // sees (no shared shingle ⇒ no join row). Such a degenerate request
    // is an all-pairs cartesian in disguise; refuse it loudly.
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    ngramJaccardPairsIdx(shingleIndex(docs, idCol, textCol, n),
      math.round(threshold * 10000).toInt)
  }

  /** Exploded shingle postings (doc_id, nsh, shingle) for docs with at
    * least one shingle — the primitive BOTH Jaccard-family pipelines
    * ([[ngramJaccardPairsIdx]], [[containmentPairsIdx]]) derive
    * everything from: postings, sizes, document frequencies, prefixes.
    * Exposed so a registry can materialize it once and fan it out
    * (DedupQueries memoizes it per session — the shingling/explode scan
    * then runs once for the whole dedup family).
    *
    * NOT cached as array columns: materializing array<string> into the
    * in-memory columnar cache costs ~60x more than recomputing the
    * shingles from the scan (measured: 18.5 s cache vs 0.3 s recompute
    * at sf0.1); the EXPLODED long/string rows here are cache-friendly. */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame =
    spread(docs).select(col(idCol).as("doc_id"),
        TF.shingles(col(textCol), n).as("sh"))
      .withColumn("nsh", size(col("sh")).cast("long"))
      .filter(col("nsh") > 0)
      .select(col("doc_id"), col("nsh"), explode(col("sh")).as("shingle"))

  /** Rarest-first prefix of every document's shingle set at threshold
    * `thresholdBp` — the shared candidate-generation relation of BOTH
    * index-based pipelines (identical bound; Jaccard joins it against
    * itself, containment against full postings). Prefix bound in INTEGER
    * arithmetic (ceil(nsh*t) via basis points): a float ceil could round
    * one ulp past an exact integer, shortening the prefix below the
    * lossless bound and silently dropping a pair. Global order:
    * document frequency asc, shingle asc (total, stable). */
  def shinglePrefix(inv: DataFrame, thresholdBp: Int): DataFrame = {
    val freq = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df").asc, col("shingle").asc)
    inv.join(freq, "shingle")
      .withColumn("pos", row_number().over(w))
      .filter(expr(s"pos <= nsh - ((nsh * $thresholdBp + 9999) div 10000) + 1"))
      .select("doc_id", "shingle")
  }

  /** [[ngramJaccardPairs]] over a prebuilt [[shingleIndex]] (and
    * optionally a prebuilt [[shinglePrefix]] at the SAME threshold). */
  def ngramJaccardPairsIdx(inv: DataFrame, thresholdBp: Int,
                           prebuiltPrefix: Option[DataFrame] = None)
      : DataFrame = {
    val sizes = inv.select("doc_id", "nsh").distinct()
    val prefix = prebuiltPrefix.getOrElse(shinglePrefix(inv, thresholdBp))
    val candidates = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(candidates, inv.select("doc_id", "shingle"),
      sizes, thresholdBp)
  }

  /** Exact-Jaccard verification of candidate pairs; shared by the
    * prefix-filter and MinHash-LSH candidate generators.
    *
    * Intersection sizes are computed from the inverted index — candidates
    * joined to their doc_a postings, matched against doc_b postings on
    * (doc_b, shingle), then counted per pair. Only (id, id, shingle)
    * tuples ever cross the shuffle, proportional to Σ|A| over candidate
    * pairs; the previous form joined full array<string> shingle sets onto
    * every candidate row — at 100 TB that shuffles every document's
    * shingle set once per candidate pair it appears in. */
  private def verifyJaccard(candidates: DataFrame, inv: DataFrame,
                            sizes: DataFrame, thresholdBp: Int): DataFrame =
    candidates
      .join(inv.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(inv.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), "doc_b")
      .withColumn("union_sz", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 10000 >= col("union_sz") * thresholdBp)
      .withColumn("jac_bp", expr("CAST(10000 * inter AS BIGINT) DIV union_sz"))
      .select("doc_a", "doc_b", "jac_bp")
      .orderBy("doc_a", "doc_b")

  /** MinHash+LSH near-dup pairs, verified with exact Jaccard (so output is
    * a subset of ngramJaccardPairs; LSH only prunes candidates). */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, numPerms: Int, bands: Int,
                      threshold: Double): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    require(threshold > 0 && threshold <= 1, // see ngramJaccardPairs
      s"threshold must be in (0, 1], got $threshold")
    val rows = numPerms / bands
    val withSets = spread(docs).select(col(idCol).as("doc_id"),
        TF.shingles(col(textCol), n).as("sh"))
      .withColumn("nsh", size(col("sh")).cast("long"))
      .filter(col("nsh") > 0)
      .withColumn("sig", HashExprs.minhash(col("sh"), numPerms))
    // NOT cached — see ngramJaccardPairs: array-column caching is far
    // slower than recomputing signatures (0.1 s at sf0.1).
    // band key = (band index, hash of that signature slice); bands is a
    // compile-time constant so the per-band structs are unrolled statically
    val bandStructs = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        hash(slice(col("sig"), b * rows + 1, rows)).as("bh")))
    // both sides of the bucket self-join read the 32-perm signatures
    val banded = Lineage.cut(withSets.select(col("doc_id"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bh")))
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val thresholdBp = math.round(threshold * 10000).toInt
    verifyJaccard(candidates,
      withSets.select(col("doc_id"), explode(col("sh")).as("shingle")),
      withSets.select("doc_id", "nsh"), thresholdBp)
  }

  /** MinHash-LSH with ENGINE-PORTABLE permutations: permutation p of a
    * shingle is the first 15 hex digits of md5(p ":" shingle) read as a
    * 60-bit integer, so the full signature/band/candidate/estimate
    * pipeline replays bit-for-bit in any engine with md5 — this is the
    * oracle-checkable twin of [[minhashLshPairs]] (whose seeded in-JVM
    * hashes are faster but engine-internal). Output per candidate pair
    * (shares >= 1 of `numPerms/rowsPerBand` bands): the band hit count
    * and the MinHash Jaccard estimate in basis points
    * (agreeing perms * 10000 / numPerms — exact integer arithmetic).
    *
    * Scale shape: the explode to (doc, shingle, perm) feeds a partial
    * `min` aggregate, so the shuffle carries docs x numPerms rows, not
    * the expansion; band signatures group those same rows; the bucket
    * self-join touches only co-bucketed pairs; the estimate join fans
    * candidate pairs x numPerms. No stage sees an all-pairs relation. */
  def minhashDetPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, numPerms: Int, rowsPerBand: Int,
                      prebuiltPostings: Option[DataFrame] = None)
      : DataFrame = {
    require(numPerms % rowsPerBand == 0, "rowsPerBand must divide numPerms")
    require(10000 % numPerms == 0,
      s"numPerms must divide 10000 for exact integer basis points")
    // postings optionally ride in prebuilt (a [[shingleIndex]], typically
    // the session-memoized one — empty-shingle docs explode to no rows
    // either way, so the relations are identical)
    val sh = prebuiltPostings
      .map(_.select(col("doc_id"), col("shingle")))
      .getOrElse(spread(docs).select(col(idCol).as("doc_id"),
        explode(TF.shingles(col(textCol), n)).as("shingle")))
    val (mh, bandHits) = minhashDetBandChain(sh, numPerms, rowsPerBand)
    bandHits.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("bands_hit"))
      .join(mh.select(col("doc_id").as("doc_a"), col("p"),
        col("mh").as("mha")), "doc_a")
      .join(mh.select(col("doc_id").as("doc_b"), col("p"),
        col("mh").as("mhb")), Seq("doc_b", "p"))
      .groupBy("doc_a", "doc_b", "bands_hit")
      .agg((sum(when(col("mha") === col("mhb"), 1L).otherwise(0L))
        * (10000 / numPerms)).cast("long").as("est_bp"))
      .select("doc_a", "doc_b", "bands_hit", "est_bp")
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash with ENGINE-PORTABLE bits — the oracle-checkable twin of
    * [[simhashPairs]] (same banded-pigeonhole structure; the codegen'd
    * simhash64 expression stays the fast engine path). The 60-bit
    * signature's bit j is the sign of the sum over token OCCURRENCES of
    * (+1 if bit j of the token's md5-derived 60-bit hash else -1) —
    * frequency-weighted voting and the strict votes>0 sign rule, both
    * mirroring simhashKernel; one md5 per occurrence, every downstream
    * step exact integer arithmetic, so the pair relation replays
    * bit-for-bit in SQL. Pairs with Hamming <= 3 are exact by the
    * pigeonhole over 4 bands of 15 bits. (60 bits, not 32: a narrow
    * signature over a small synthetic vocabulary flags >10% of ALL
    * pairs — measured 1.5M pairs at sf0.1.)
    *
    * Scale shape mirrors [[simhashPairs]]: token rows fan out x60 into
    * a partial sum (shuffle carries docs x 60 rows), bands bucket the
    * self-join, and only co-banded pairs reach the Hamming check. */
  def simhashDetPairs(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole is exact only to Hamming 3")
    val toks = spread(docs).select(col(idCol).as("doc_id"),
        explode(TF.tokens(col(textCol))).as("tok"))
      .withColumn("h",
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val sig = toks
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(59))).as("j"))
      // h is a positive 60-bit value in a long, so plain shiftright ==
      // unsigned shift and matches DuckDB's `>>` exactly
      .withColumn("v", expr("CASE WHEN (shiftright(h, j) & 1) = 1 " +
        "THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END"))
      .groupBy("doc_id", "j")
      .agg(sum("v").as("s"))
      .groupBy("doc_id")
      .agg(sum(expr("CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT)," +
        " j) ELSE CAST(0 AS BIGINT) END")).as("sig"))
    simhashBandPairs(sig, bandBits = 15, maxHamming)
  }

  /** [[minhashLshPairs]] with ENGINE-PORTABLE permutations — the
    * registered dedup_minhash_lsh form: the same banded-LSH candidate
    * structure and the same exact-Jaccard verification, with the md5
    * permutation recipe of [[minhashDetPairs]] (permutation p of a
    * shingle = first 15 hex digits of md5(p ":" shingle)) so band
    * membership replays bit-for-bit in any engine. The seeded in-JVM
    * variant above stays the fastest path when oracle replay is not
    * needed. Output is a band-collision-filtered subset of
    * [[ngramJaccardPairs]] at the same threshold; scale shape matches
    * [[minhashDetPairs]] (shuffle carries docs × numPerms rows, the
    * bucket self-join touches only co-banded pairs). */
  def minhashLshDetPairs(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, numPerms: Int, rowsPerBand: Int,
                         threshold: Double,
                         prebuiltIndex: Option[DataFrame] = None)
      : DataFrame = {
    require(numPerms % rowsPerBand == 0, "rowsPerBand must divide numPerms")
    require(threshold > 0 && threshold <= 1, // see ngramJaccardPairs
      s"threshold must be in (0, 1], got $threshold")
    // postings/sizes optionally ride in as a prebuilt [[shingleIndex]]
    // (the session-memoized one): identical relations — the index
    // filters nsh > 0 exactly like the inline withSets gate, and
    // shingles() dedups so nsh is the set size on both paths
    val (sh, sizes) = prebuiltIndex match {
      case Some(inv) =>
        (inv.select(col("doc_id"), col("shingle")),
          inv.select("doc_id", "nsh").distinct())
      case None =>
        val withSets = spread(docs).select(col(idCol).as("doc_id"),
            TF.shingles(col(textCol), n).as("sh"))
          .withColumn("nsh", size(col("sh")).cast("long"))
          .filter(col("nsh") > 0)
        (withSets.select(col("doc_id"), explode(col("sh")).as("shingle")),
          withSets.select("doc_id", "nsh"))
    }
    val (_, bandHits) = minhashDetBandChain(sh, numPerms, rowsPerBand)
    val thresholdBp = math.round(threshold * 10000).toInt
    verifyJaccard(bandHits.distinct(), sh, sizes, thresholdBp)
  }

  /** The shared det-MinHash chain over an exploded (doc_id, shingle)
    * relation: md5-permutation minhash values per (doc_id, p) and one
    * (doc_a, doc_b) row per band a candidate pair shares.
    * [[minhashDetPairs]], [[minhashLshDetPairs]] and [[minhashBbitAudit]]
    * all consume this, so the sketch the banding produces and the
    * sketch the audit measures cannot drift (the audit's contract is
    * "over the SAME banded candidate pairs"). */
  private def minhashDetBandChain(sh: DataFrame, numPerms: Int,
                                  rowsPerBand: Int)
      : (DataFrame, DataFrame) = {
    // mh feeds the banding and the estimate joins; bands is self-joined
    val mh = Lineage.cut(minhashDetValues(sh, numPerms))
    val bands = Lineage.cut(minhashBandsOf(mh, rowsPerBand))
    (mh, bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")))
  }

  /** md5-permutation minhash values (doc_id, p, mh) over an exploded
    * (doc_id, shingle) relation: permutation p of a shingle is the
    * first 15 hex digits of md5(p ":" shingle). */
  private def minhashDetValues(sh: DataFrame, numPerms: Int): DataFrame =
    sh
      .select(col("doc_id"), col("shingle"),
        explode(sequence(lit(0), lit(numPerms - 1))).as("p"))
      .groupBy("doc_id", "p")
      .agg(min(conv(substring(
          md5(concat(col("p").cast("string"), lit(":"), col("shingle"))),
          1, 15), 16, 10).cast("long")).as("mh"))

  /** Band rows (doc_id, band, sig) over a (doc_id, p, mh) minhash
    * relation — the banding step of [[minhashDetBandChain]], shared
    * with [[minhashBandRelation]] so the persisted index and the
    * in-query banding cannot drift. */
  private def minhashBandsOf(mh: DataFrame, rowsPerBand: Int): DataFrame =
    mh
      .withColumn("band", expr(s"p DIV $rowsPerBand"))
      .groupBy("doc_id", "band")
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(p, mh))), x -> cast(x.mh as string)), ',')").as("sig"))

  /** The banded MinHash signature RELATION (doc_id, band, sig) of a
    * corpus — the near-dup INDEX a long-running ingest persists and
    * maintains ([[graft.streaming.NearDupIngest]]): two docs are
    * near-dup candidates iff they share a (band, sig) row. Same md5
    * permutation recipe and banding as [[minhashLshDetPairs]], so
    * collisions against the persisted relation are exactly the
    * collisions the batch dedup would have found. Empty-shingle docs
    * (shorter than the shingle width) produce no bands — they can
    * never band-collide, matching the batch path's nsh > 0 gate. */
  def minhashBandRelation(docs: DataFrame, idCol: String, textCol: String,
                          n: Int, numPerms: Int,
                          rowsPerBand: Int): DataFrame = {
    require(numPerms % rowsPerBand == 0, "rowsPerBand must divide numPerms")
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(TF.shingles(col(textCol), n)).as("shingle"))
    minhashBandsOf(minhashDetValues(sh, numPerms), rowsPerBand)
  }

  /** b-bit MinHash audit (Li & Konig 2010, "b-Bit Minwise Hashing"):
    * over the SAME banded candidate pairs as [[minhashLshDetPairs]],
    * compare the full-width MinHash Jaccard estimate against the
    * estimate from keeping only the b LOWEST BITS of each permutation
    * value — the sketch a 100 TB pipeline actually stores (b=4 cuts
    * per-doc sketch state 15x vs 60-bit values at a quantified
    * variance cost). Estimator: E[eq_frac_b] = J + (1-J)/2^b, so
    * J_hat = (eq_b·2^b − P) / (P·(2^b − 1)); in basis points with the
    * +10000 offset trick so the numerator stays non-negative (Spark
    * DIV truncates, DuckDB // floors — they differ on negatives).
    * Everything is md5/integer, so the audit replays bit-for-bit in
    * SQL. Scale shape: the mh relation is docs x numPerms rows, the
    * bucket self-join touches only co-banded pairs, and the per-pair
    * compare is numPerms rows. */
  def minhashBbitAudit(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, numPerms: Int, rowsPerBand: Int,
                       b: Int,
                       prebuiltPostings: Option[DataFrame] = None)
      : DataFrame = {
    require(numPerms % rowsPerBand == 0, "rowsPerBand must divide numPerms")
    require(b >= 1 && b <= 15, s"b out of range: $b")
    val twoB = 1L << b
    // prebuilt = a [[shingleIndex]] (size-gated exactly like the inline
    // form; explode of an empty set yields no rows either way)
    val sh = prebuiltPostings
      .map(_.select(col("doc_id"), col("shingle")))
      .getOrElse(spread(docs).select(col(idCol).as("doc_id"),
          TF.shingles(col(textCol), n).as("shs"))
        .filter(size(col("shs")) > 0)
        .select(col("doc_id"), explode(col("shs")).as("shingle")))
    val (mh, bandHits) = minhashDetBandChain(sh, numPerms, rowsPerBand)
    val mha = mh.select(col("doc_id").as("doc_a"), col("p"),
      col("mh").as("mh_a"))
    val mhb = mh.select(col("doc_id").as("doc_b"), col("p"),
      col("mh").as("mh_b"))
    bandHits.distinct().join(mha, "doc_a").join(mhb, Seq("doc_b", "p"))
      .groupBy("doc_a", "doc_b")
      .agg(
        sum(when(col("mh_a") === col("mh_b"), 1L).otherwise(0L))
          .as("eq_full"),
        sum(when(expr(s"(mh_a & ${twoB - 1}) = (mh_b & ${twoB - 1})"),
          1L).otherwise(0L)).as("eq_bbit"))
      .select(col("doc_a"), col("doc_b"), col("eq_full"), col("eq_bbit"),
        expr(s"10000 * eq_full DIV $numPerms").as("est_full_bp"),
        (expr(s"(10000 * ($twoB * eq_bbit + ${twoB - 2} * $numPerms))" +
          s" DIV (${twoB - 1} * $numPerms)") - 10000).as("est_bbit_bp"))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming (exact for
    * maxHamming <= 3 thanks to the 4-band pigeonhole). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int): DataFrame = {
    val sigs = spread(docs).select(col(idCol).as("doc_id"),
      HashExprs.simhash64(TF.tokens(col(textCol))).as("sig"))
    simhashBandPairs(sigs, bandBits = 16, maxHamming)
  }

  /** [[simhashPairs]] over md5-derived 60-bit signatures, computed by
    * the codegen'd [[HashExprs.simhashMd5Kernel]] — one pass per row,
    * only the final signature crosses the shuffle (the production
    * execution shape), AND engine-replayable because the token hash is
    * md5. This is the registered dedup_simhash path; the relational
    * ×60 fan-out twin [[simhashDetPairs]] computes the identical
    * signature as pure SQL-shaped dataflow and pins this kernel
    * against the oracle. */
  def simhashMd5Pairs(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole is exact only to Hamming 3")
    // token-less docs drop BEFORE signing: the kernel would give them
    // sig = 0, but the relational twin and the shared oracle explode
    // tokens (an empty doc yields no rows there), and "identical
    // output, identical oracle" must hold for every corpus
    val sigs = spread(docs)
      .select(col(idCol).as("doc_id"),
        TF.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), HashExprs.simhash_md5_60(col("toks")).as("sig"))
    simhashBandPairs(sigs, bandBits = 15, maxHamming)
  }

  /** Shared banded-pigeonhole pairing over a (doc_id, sig) signature
    * relation: 4 bands of `bandBits`, co-banded candidate self-join,
    * exact Hamming verify — exact to Hamming <= 3 by pigeonhole. */
  private def simhashBandPairs(sigs: DataFrame, bandBits: Int,
                               maxHamming: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * bandBits).bitwiseAND(lit(mask))
          .as("bv")))
    val banded = sigs.select(col("doc_id"), col("sig"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band"), col("bk.bv"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"),
        col("hamming").cast("long").as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Benchmark decontamination: flag every candidate document sharing at
    * least one word n-gram with the eval corpus (the standard n-gram
    * overlap rule for scrubbing test-set leakage from training data;
    * n = 8 in most published setups). Returns (doc_id, n_overlap) for
    * flagged docs — anti-join the corpus against it to keep clean docs.
    *
    * Scale shape: both sides reduce to distinct grams before the join, so
    * the shuffle carries (gram, id) pairs bounded by corpus gram volume,
    * and the eval side — distinct grams of a benchmark, tiny next to a
    * training corpus — broadcasts. Overlap counting is a partial-agg
    * groupBy on ids, never materializing matched text. */
  def contaminatedDocs(candidates: DataFrame, eval: DataFrame,
                       idCol: String, textCol: String, n: Int): DataFrame = {
    val evalGrams = spread(eval)
      .select(explode(TF.shingles(col(textCol), n)).as("gram"))
      .distinct()
    val candGrams = spread(candidates)
      .select(col(idCol).as("doc_id"),
        explode(TF.shingles(col(textCol), n)).as("gram"))
    candGrams.join(broadcast(evalGrams), "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .orderBy("doc_id")
  }

  /** Cross-source contamination matrix: for every ordered pair of corpus
    * groups (source datasets, domains, splits), the number of DISTINCT
    * word n-grams they share — the curation artifact that answers "how
    * much does source A duplicate source B" before mixing sources into a
    * training run. The diagonal is each group's own distinct-shingle
    * count, so off-diagonal cells read directly as overlap fractions.
    *
    * Scale shape: one shingle pass, reduced to the DISTINCT (group,
    * shingle) relation up front — the self-join is over the inverted
    * index, so a shingle appearing in g groups contributes g² matrix
    * increments, bounded by groups², never by document count. Shuffles
    * carry (group, shingle) then (group, group) pairs; full texts and
    * shingle arrays never move. Output: (src_a, src_b, n_shared),
    * ordered. */
  def overlapMatrix(docs: DataFrame, textCol: String, groupCol: String,
                    n: Int): DataFrame =
    overlapMatrixFrom(spread(docs)
      .select(col(groupCol).as("g"),
        explode(TF.shingles(col(textCol), n)).as("gram")))

  /** [[overlapMatrix]] over a prebuilt [[shingleIndex]] at the same n
    * (typically the session-memoized one) plus a (doc_id, g) group
    * mapping: identical relation — empty-shingle docs contribute no
    * (g, gram) rows on either path, and the distinct collapses the
    * per-doc postings to the same per-group gram sets. */
  def overlapMatrixIdx(inv: DataFrame, groups: DataFrame): DataFrame =
    overlapMatrixFrom(inv.select(col("doc_id"), col("shingle").as("gram"))
      .join(groups, "doc_id")
      .select("g", "gram"))

  /** Shared tail: distinct (g, gram), then the inverted self-join. The
    * distinct relation is cut — the self-join otherwise re-runs the
    * whole upstream shingle pass once per side (guide §2.4). */
  private def overlapMatrixFrom(rows: DataFrame): DataFrame = {
    val sh = Lineage.cut(rows.distinct())
    sh.select(col("g").as("src_a"), col("gram"))
      .join(sh.select(col("g").as("src_b"), col("gram")), "gram")
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      .orderBy("src_a", "src_b")
  }

  /** Connected components over an undirected near-dup pair relation:
    * label propagation to the minimum reachable id (the standard
    * large-graph approach — O(diameter) rounds of a join + min-aggregate,
    * each shuffling only (id, label) pairs). Returns (doc_id, component)
    * for every id that appears in a pair; the component id is the smallest
    * doc_id in the cluster, which makes it the canonical representative a
    * dedup pipeline keeps.
    *
    * Rounds run under [[Lineage.untilStable]].
    *
    * Why min-label and not alternating large-star/small-star (Kiveris et
    * al. 2014): near-dup graphs are unions of near-cliques, so label
    * propagation converges in 2-3 rounds (1 propagation + 1 confirming
    * no-change pass — measured at sf0.1); the star algorithm's O(log²)
    * round bound only wins on chain-like graphs that dedup relations
    * don't produce, and each of its rounds costs an extra distinct()
    * shuffle. If an input ever does have diameter > maxIter, the guard
    * below logs loudly and FALLS BACK to [[componentsTwoStar]] (same
    * contract, O(log² n) rounds) instead of failing — registered
    * consumers stay diameter-robust without caller changes. */
  def components(pairs: DataFrame, aCol: String, bCol: String,
                 maxIter: Int = 50): DataFrame = {
    // `pairs` is typically an expensive pipeline (the prefix-filter
    // Jaccard join); both halves of the symmetrized union read it
    val p = Lineage.cut(pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    val edges = p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
    // seed comp = min(id, min direct neighbor): the first propagation
    // round fused into initialization — one groupBy replaces the
    // distinct-ids job plus a full join+agg+check round. Every node
    // appears as src in the symmetrized relation, so coverage is total.
    val seed = Lineage.cut(edges.groupBy("src")
      .agg(least(min(col("dst")), first(col("src"))).as("comp"))
      .select(col("src").as("id"), col("comp")))
    // each round carries old + new label in one frame: the convergence
    // check is then a scan of materialized rows, not another join pass
    Lineage.untilStable(seed, maxIter) { state =>
      val labels = state.select("id", "comp")
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("ncomp")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("ncomp").as("nmin"))
      labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("old"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
    }((_, merged) => merged.filter(col("comp") =!= col("old"))) match {
      case Some(labels) =>
        labels.select(col("id").as("doc_id"), col("comp").as("component"))
          .orderBy("doc_id")
      case None =>
        // clusters of diameter > maxIter: rather than return split
        // components, hand the already-cut pair relation to the star
        // contraction, whose round bound is logarithmic in n
        System.err.println(
          s"[components] min-label propagation did not converge in " +
            s"$maxIter rounds (cluster diameter exceeds it) -- falling " +
            "back to the O(log^2 n) two-star contraction")
        // its OWN round budget: a caller's small propagation cap would
        // make the fallback fail exactly where it exists to succeed
        componentsTwoStar(p, "src", "dst", math.max(maxIter, 50))
    }
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) — the O(log² n)-round alternative to
    * [[components]]'s O(diameter) min-label propagation. Same contract:
    * (doc_id, component = smallest id in the cluster) for every id in
    * the pair relation, totally ordered.
    *
    * When to prefer which: near-dup graphs are unions of near-cliques
    * (diameter 2-3), where plain propagation wins — that is why it is
    * the registered default everywhere. On chain-like graphs (event
    * sessions, citation trails) diameter grows with the data and the
    * star contraction's logarithmic round bound is the 100 TB-safe
    * choice. Registered as `dedup_components_twostar` against the SAME
    * closure oracle as `dedup_components`, so the equivalence is
    * hash-checked, and ComponentsSpec asserts equality with
    * [[components]] on deep-chain graphs propagation needs 50+ rounds
    * for.
    *
    * Each round shuffles (node, node) ids only — never payloads. The
    * convergence test is the symmetric difference of successive edge
    * sets; a count-of-changes accumulator would be cheaper per round at
    * extreme scale but set equality is exact and the round count is
    * logarithmic, so the audit cost is bounded. */
  def componentsTwoStar(pairs: DataFrame, aCol: String, bCol: String,
                        maxIter: Int = 50): DataFrame = {
    val raw = Lineage.cut(pairs.select(col(aCol).as("u"), col(bCol).as("v")))
    // every id in the input keeps a label even if its only pair is a
    // self-pair (dropped below as a self-loop) — parity with components()
    val nodes = Lineage.cut(raw.select(col("u").as("id"))
      .union(raw.select(col("v").as("id"))).distinct())
    // canonical simple edges u < v
    val edges0 = Lineage.cut(raw
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    // both orientations of each edge, and each node's min(N(u)∪{u})
    def sym(e: DataFrame) = e.union(e.select(col("v").as("u"), col("u").as("v")))
    def starMin(e: DataFrame, as: String) =
      sym(e).groupBy("u").agg(least(min(col("v")), first(col("u"))).as(as))
    val stars = Lineage.untilStable(edges0, maxIter) { edges =>
      // large-star: every edge (u, v>u) rewires v to m(u) = min(N(u)∪{u}).
      // m(u) <= u < v, so the emitted (m, v) is already canonical.
      val lsMin = starMin(edges, "m")
      val afterLarge = Lineage.cut(sym(edges).filter(col("v") > col("u"))
        .join(lsMin, "u")
        .select(col("m").as("u"), col("v"))
        .filter(col("u") =!= col("v")).distinct())
      // small-star: group the canonical edges by their LARGER endpoint v;
      // m = min of v's smaller neighbors; rewire v and each smaller
      // neighbor to m. Emitted edges are (m, x) with m < x — canonical.
      val ssMin = afterLarge.groupBy("v").agg(min(col("u")).as("m"))
      afterLarge.join(ssMin, "v")
        .select(col("m").as("u"), col("u").as("v"))
        .filter(col("u") =!= col("v"))
        .union(ssMin.select(col("m").as("u"), col("v")))
        .distinct()
    } { (prev, next) =>
      // fixed point of both stars == the graph is a union of min-rooted
      // stars; set equality, not count equality (equal sizes can differ)
      next.except(prev).union(prev.except(next))
    }.getOrElse(
      throw new IllegalStateException(
        s"componentsTwoStar() did not converge in $maxIter rounds — " +
          "raise maxIter (the bound is logarithmic, so this indicates " +
          "a bug, not a deep graph)"))
    // at convergence every node is a star endpoint: leaf label = its
    // root (only neighbor), root label = itself (< all leaves);
    // self-pair-only ids fall through the left join to themselves
    val labels = starMin(stars, "component")
    nodes.join(labels, nodes("id") === labels("u"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("component"), col("id")).as("component"))
      .orderBy("doc_id")
  }

  /** Embedding-cosine near-dup pairs above a similarity threshold — exact,
    * via the triangle block scheme for distributed all-pairs.
    *
    * Why not LSH candidates here: the operator's contract is EXACT (every
    * qualifying pair), and at a loose threshold like 0.2 (a 78° angle) a
    * sign-bit hyperplane agrees on a qualifying pair with probability only
    * ~0.56, so no finite band/table count reaches recall 1 — banding would
    * silently drop pairs. Sound geometric filters don't help either: on
    * diffuse unit vectors (cluster angular radii ~80°, center separations
    * ~90° — measured on this corpus) the triangle-inequality cluster bound
    * never fires, and ~5% of ALL pairs qualify, so any exact algorithm is
    * Ω(n²) compute. For high thresholds where selectivity is real, use
    * banded candidates (minhashLshPairs / Ann.lshTopK) instead.
    *
    * What CAN be fixed is the execution shape. The naive `a.id < b.id`
    * theta-join is one BroadcastNestedLoopJoin: the whole table broadcast
    * to every executor, compute split by the driver's chunking, no
    * horizontal scale. Instead: hash every vector to one of B blocks,
    * replicate it to the B unordered block-pairs containing its block, and
    * equi-join on the block-pair key. Each pair of rows meets in EXACTLY
    * one task (same-block pairs only on the diagonal key), a task holds
    * 2n/B rows and does (n/B)² comparisons, and shuffle volume is n·B
    * rows — all bounded by B, which grows with the cluster, not the
    * driver. */
  def embeddingCosinePairs(embs: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, blocks: Int = 0): DataFrame =
    blockPairSims(embs, idCol, vecCol, blocks)
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
      .orderBy("id_a", "id_b")

  /** The block-pair execution shape itself (see [[embeddingCosinePairs]]'
    * scaladoc): every unordered vector pair meets in exactly one task,
    * emitted once as (id_a < id_b, raw cosine). Shared by the
    * threshold-pair relation above and [[Ann.knnGraph]]'s top-k
    * reduction. */
  private[operators] def blockPairSims(embs: DataFrame, idCol: String,
                                       vecCol: String, blocks: Int): DataFrame = {
    // B(B+1)/2 tasks ≈ 2× parallelism by default, so the quadratic work
    // spreads over every core with headroom for stragglers
    val b = if (blocks > 0) blocks
            else math.max(4, math.ceil(math.sqrt(
              4.0 * embs.sparkSession.sparkContext.defaultParallelism)).toInt)
    val v = embs.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("blk", pmod(hash(col("id")), lit(b)))
    val rep = v.withColumn("other", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("k1", least(col("blk"), col("other")))
      .withColumn("k2", greatest(col("blk"), col("other")))
      .drop("other")
    rep.as("a").join(rep.as("b"), Seq("k1", "k2"))
      // same-block pairs co-occur in every block-pair touching their
      // block: count them only on the diagonal key
      .filter(col("a.id") < col("b.id") &&
        (col("a.blk") =!= col("b.blk") || col("k1") === col("k2")))
      .withColumn("sim", HashExprs.cosine_sim(col("a.v"), col("b.v")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("sim"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup that
    * trades the Ω(n²) exact cosine relation (see embeddingCosinePairs'
    * scaladoc for why no exact filter helps at loose thresholds) for
    * within-cluster pruning: cluster the embeddings with a coarse k-means,
    * then inside each cluster rank members by similarity to their centroid
    * (most prototypical first, ids as tie-break) and DROP every member
    * that is >= eps-similar to an earlier-ranked member — the paper's
    * upper-triangular rule, which needs no iteration: a member is dropped
    * iff ANY earlier member is near it, whether or not that member was
    * itself dropped. Cross-cluster near-dups are not examined, by design —
    * that approximation is the entire cost model.
    *
    * Scale shape: cells auto-size to ~targetCell members (k = n/targetCell,
    * the paper's knob), so the quadratic verify is k * (n/k)² = n²/k and
    * SHRINKS as the corpus grows k — `maxCells` (default 4096, raiseable)
    * only guards the centroid-literal assignment form, which is pure
    * codegen'd Column work and fine to ~10⁴ cells; past that the centroids
    * belong in a broadcast long-form table (Ann.centroids shape). The only
    * shuffles are the per-cell window and the cell-keyed self-join, both
    * on (cell) — the same key, so AQE reuses the exchange. The k-means
    * sample is a bounded driver-side collect (max(sampleSize, 4 seeds per
    * cell), hard-capped at 65536 rows regardless of maxCells — same policy
    * as Ann.ivfTopK's coarse quantizer), drawn in deterministic md5(seed:id)
    * order — a representative pseudo-random sample, not the lowest ids,
    * which on a sorted corpus would all come from one neighborhood.
    *
    * Returns every input row flagged: (id, cell, rnk, cent_sim, keep) —
    * the corpus filter is `.filter(col("keep"))`, and the flags table
    * itself is the audit artifact a data-curation run wants. */
  /** [[semdedupFlags]]' oracle-checkable twin: cells come from ONE
    * det-LSH sign-bit table ([[Ann.lshDetBuckets]], bits sized by the
    * integer-exact autoBits so cells average `targetCell` vectors at
    * any corpus size) instead of the engine-internal k-means
    * quantizer; the within-cell ranking is affinity to the CELL's own
    * integer micro-unit centroid (floor(1e4·dot/(√·√)) — the proven
    * ann_label_similarity float pattern on exact integer dots); the
    * keep/drop rule is identical (a vector drops iff a better-ranked
    * cellmate is within eps cosine, compared in exact basis points).
    * Same Σ cell² within-cell pair structure — the 100 TB SemDeDup
    * shape — but every step replays in SQL. */
  def semdedupDetFlags(embs: DataFrame, idCol: String, vecCol: String,
                       eps: Double, targetCell: Int = 128): DataFrame = {
    val v = spread(embs).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val n = v.count()
    require(n > 0, "semdedup needs a non-empty corpus")
    val bits = Ann.autoBitsExact(n, targetCell)
    val cells = Ann.lshDetBuckets(v, bits, tables = 1)
      .select(col("id"), col("bucket").as("cell"))
    val withCell = v.join(cells, "id")
    // dims feeds the centroid, norm and dot branches; ranked feeds both
    // drop self-join sides and the flag join
    val dims = Lineage.cut(withCell
      .select(col("id"), col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      .withColumn("xi", floor(col("x") * 1000000.0 + 0.5).cast("long")))
    // order-free integer centroid + zero-norm guard — see
    // [[Ann.ivfDetTopK]]'s centroid comment (same recipe, same oracle)
    val cent = dims.groupBy("cell", "dim")
      .agg(expr("CAST((2 * (sum(xi) + 2000000 * count(1)) + count(1))" +
        " DIV (2 * count(1)) - 2000000 AS BIGINT)").as("ci"))
    val cn = cent.groupBy("cell").agg(sum(col("ci") * col("ci")).as("nc"))
    val vn = dims.groupBy("id").agg(sum(col("xi") * col("xi")).as("nv"))
    val dot = dims.select("id", "cell", "dim", "xi")
      .join(broadcast(cent), Seq("cell", "dim"))
      .groupBy("id", "cell").agg(sum(col("xi") * col("ci")).as("dot"))
    val affinity = dot.join(broadcast(cn), "cell").join(vn, "id")
      .select(col("id"), col("cell"),
        when(col("nv") > 0 && col("nc") > 0,
          floor(lit(10000.0) * col("dot") /
            (sqrt(col("nv")) * sqrt(col("nc")))).cast("long"))
          .otherwise(0L).as("cent_sim_bp"))
    val ranked = Lineage.cut(withCell.join(affinity, Seq("id", "cell"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("cell")
          .orderBy(col("cent_sim_bp").desc, col("id").asc))))
    val epsBp = math.round(eps * 10000)
    val drops = ranked.as("a").join(ranked.as("b"),
        col("a.cell") === col("b.cell") && col("a.rnk") < col("b.rnk"))
      .filter(round(HashExprs.cosine_sim(col("a.v"), col("b.v")) * 10000)
        >= epsBp)
      .select(col("b.id").as("id")).distinct()
    ranked
      .join(drops.withColumn("dropped", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"),
        col("rnk").cast("long").as("rnk"), col("cent_sim_bp"),
        when(col("dropped").isNull, 1L).otherwise(0L).as("keep"))
      .orderBy(idCol)
  }

  def semdedupFlags(embs: DataFrame, idCol: String, vecCol: String,
                    eps: Double, targetCell: Int = 128,
                    sampleSize: Int = 2000, iters: Int = 10,
                    seed: Long = 42L, maxCells: Int = 4096): DataFrame = {
    val v = spread(embs).select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val n = v.count()
    require(n > 0, "semdedup needs a non-empty corpus")
    val k = math.max(4, math.min(maxCells,
      math.ceil(n.toDouble / targetCell).toInt))
    // the sample grows with k (>= 4 seeds per cell) but the collect has an
    // independent HARD cap: raising maxCells must never scale a
    // driver-side collect with the corpus (65536 x ~1-4 KB vectors is a
    // bounded few hundred MB worst case; past that, cells just share
    // seed-sample coverage — k-means quality degrades gracefully, the
    // driver does not OOM)
    val collectCap = 65536
    val sampleN = math.min(math.max(sampleSize, 4 * k), collectCap)
    val sample = v
      .orderBy(md5(concat(lit(s"$seed:"), col("id").cast("string"))
        .cast("binary")), col("id"))
      .limit(sampleN)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    val cents = Ann.kmeans(sample, math.min(k, sample.length), iters, seed)
    val centLit = array(cents.map(c => typedLit(c.toSeq)): _*)
    // nearest centroid by L2 (k-means' own metric); both the vector and
    // the distance array bound once per row — unbound, Catalyst would
    // re-evaluate the k-distance array per comparison
    val assigned = v.withColumn("cell",
        TF.bind(col("v")) { vec =>
          TF.bind(transform(centLit, c =>
            aggregate(zip_with(vec, c, (x, y) => (x - y) * (x - y)),
              lit(0.0), (a, s) => a + s))) { dists =>
            element_at(array_sort(transform(
              sequence(lit(0), lit(cents.length - 1)),
              i => struct(element_at(dists, i + 1).as("d"), i.as("cell")))),
              1).getField("cell")
          }
        })
      .withColumn("cent_sim",
        HashExprs.cosine_sim(col("v"), element_at(centLit, col("cell") + 1)))
    val ranked = assigned.withColumn("rnk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("cell").orderBy(col("cent_sim").desc, col("id").asc)))
    val drops = ranked.as("a").join(ranked.as("b"),
        col("a.cell") === col("b.cell") && col("a.rnk") < col("b.rnk"))
      .filter(HashExprs.cosine_sim(col("a.v"), col("b.v")) >= eps)
      .select(col("b.id").as("id")).distinct()
    ranked
      .join(drops.withColumn("dropped", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"), col("rnk").cast("long").as("rnk"),
        round(col("cent_sim"), 4).as("cent_sim"),
        col("dropped").isNull.as("keep"))
      .orderBy(idCol)
  }

  /** Position-aware shared-run detection (the exact-substring dedup
    * family, Lee et al. 2022 arXiv:2107.06499): for every doc pair
    * sharing at least one n-token gram, the length in tokens of their
    * LONGEST shared consecutive token run plus the count of maximal
    * runs. [[passageRetention]] catches aligned fixed windows; this
    * catches arbitrary-offset overlap — quotes, boilerplate headers,
    * wholesale paragraph reuse — with exact run boundaries.
    *
    * Shape: each doc explodes to positioned n-grams (id, pos, gram); the
    * self-join on gram yields matched occurrence pairs; a run of L
    * shared tokens appears as exactly L-n+1 consecutive matches on one
    * DIAGONAL (posA - posB), recovered with the islands trick (pos minus
    * its rank is constant within a consecutive stretch). Shuffles carry
    * (id, pos) pairs keyed by gram — hot boilerplate grams skew like the
    * decontamination join and answer to the same remedies — and the
    * island windows partition by (pair, diagonal): bounded by each
    * pair's actual overlap, never by corpus size. */
  def sharedRunPairs(docs: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    val grams = spread(docs)
      .select(col(idCol).as("doc_id"), TF.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(toks) - $n), " +
          s"i -> array_join(slice(toks, i + 1, $n), ' '))")))
      .select(col("doc_id"), col("pos"), col("col").as("gram"))
    val m = grams.as("a").join(grams.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    m.withColumn("diag", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg((count(lit(1)) + lit(n - 1)).as("run_len"))
      .groupBy("doc_a", "doc_b")
      .agg(max("run_len").as("max_run"), count(lit(1)).as("n_runs"))
      .orderBy("doc_a", "doc_b")
  }

  /** Asymmetric n-gram containment pairs (|A∩B| / |A| >= threshold): the
    * passage-in-document detector — a quote, a boilerplate block, or a
    * wholesale inclusion scores high even when Jaccard is low because the
    * container B is much larger. Directed output: (doc_a contained-in
    * doc_b, cont_bp = 10000*|A∩B| DIV |A|), integer basis points so the
    * result is bit-identical across engines.
    *
    * The prefix filter is one-sided (containment has no bound on B): if
    * none of A's first |A| - ceil(t*|A|) + 1 shingles under the global
    * rarest-first order hit B, fewer than ceil(t*|A|) can match at all —
    * so only A-prefixes are joined, against B's FULL postings. Candidate
    * volume is prefix×postings collisions on globally-rare shingles; the
    * verify computes intersections from the inverted index, so only
    * (id, id, shingle) tuples ever cross the shuffle (verifyJaccard's
    * rationale applies unchanged). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, // see ngramJaccardPairs
      s"threshold must be in (0, 1], got $threshold")
    containmentPairsIdx(shingleIndex(docs, idCol, textCol, n),
      math.round(threshold * 10000).toInt)
  }

  /** [[containmentPairs]] over a prebuilt [[shingleIndex]] (and
    * optionally a prebuilt [[shinglePrefix]] at the SAME threshold). */
  def containmentPairsIdx(inv: DataFrame, thresholdBp: Int,
                          prebuiltPrefix: Option[DataFrame] = None)
      : DataFrame = {
    val sizes = inv.select("doc_id", "nsh").distinct()
    val prefix = prebuiltPrefix.getOrElse(shinglePrefix(inv, thresholdBp))
    val candidates = prefix.as("a")
      .join(inv.select("doc_id", "shingle").as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    candidates
      .join(inv.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(inv.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")),
        "doc_a")
      .filter(col("inter") * 10000 >= col("na") * thresholdBp)
      .withColumn("cont_bp", expr("CAST(10000 * inter AS BIGINT) DIV na"))
      .select("doc_a", "doc_b", "cont_bp")
      .orderBy("doc_a", "doc_b")
  }

  /** Content-defined chunking (token-level Rabin-style): a token OPENS a
    * new chunk when its polynomial content hash is divisible by
    * `divisor`, so expected chunk length is `divisor` tokens. Boundaries
    * depend only on the token's own bytes — an insertion re-chunks only
    * the chunk it lands in, where fixed windows ([[passageRetention]])
    * shift every window after the edit; this is the property that makes
    * CDC the dedup-friendly chunker for drifting crawl snapshots
    * (Muthitacharoen et al., LBFS, SOSP 2001 — same idea at byte level).
    *
    * The per-token hash is the same base-31 polynomial as
    * [[graft.functions.TextFunctions.rollingHash]] but mod 1e9+7 (small
    * enough that acc*31+code stays far inside a Long), evaluated with
    * higher-order functions — no UDF, replayable in ANSI SQL. The chunk
    * assembly windows partition by document: per-task state is bounded
    * by one document's tokens, never by corpus size.
    *
    * Output: (doc_id, chunk_id, n_tokens, chunk_text), totally ordered. */
  private def cdcChunksUnordered(docs: DataFrame, idCol: String,
                                 textCol: String, divisor: Int): DataFrame = {
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    import org.apache.spark.sql.expressions.Window
    val toks = spread(docs).select(col(idCol).as("doc_id"),
      posexplode(TF.tokens(col(textCol))).as(Seq("pos", "tok")))
    val code = aggregate(
      filter(split(col("tok"), ""), c => c =!= lit("")),
      lit(0L),
      (acc, c) => pmod(acc * 31L + ascii(c).cast("long"), lit(1000000007L)))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    toks
      .withColumn("flag",
        when(pmod(code, lit(divisor.toLong)) === 0L, 1L).otherwise(0L))
      .withColumn("chunk_id", sum("flag").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("chunk_text"))
  }

  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                divisor: Int): DataFrame =
    cdcChunksUnordered(docs, idCol, textCol, divisor)
      .orderBy("doc_id", "chunk_id")

  /** Chunk-level dedup retention over [[cdcChunks]]: global keep-first
    * per chunk fingerprint (first = smallest (doc_id, chunk_id)), then
    * per-doc counts — the same report shape as [[passageRetention]], so
    * the two chunkers' dedup power is directly comparable. The shuffle
    * carries 16-byte fingerprints keyed per chunk. */
  /** BYTE-level (code-point-level) content-defined chunking dedup — the
    * LBFS/Rabin recipe the token chunker approximates: a w-code-point
    * rolling polynomial hash (HashExprs.RollingChunkBounds, true O(n)
    * Rabin-Karp update in one codegen'd pass) cuts after every window
    * whose hash divides `divisor`, independent of any tokenization, so
    * boundaries survive byte-level edits and insertions that re-flow
    * tokens. Operates on the canonical form (tokens joined by one
    * space) to keep whitespace noise out of the fingerprints. Chunk
    * fingerprints are md5 over the chunk's comma-joined code points —
    * computed via slice HOFs on the codes array, so chunk BODIES never
    * materialize as strings and only (doc_id, chunk_id, 16-byte fp)
    * crosses the keyed shuffle. Report shape mirrors [[cdcRetention]]
    * (plus n_cp, the per-doc code-point total, which proves the chunks
    * partition the document). At 100 TB the real-world upgrade is
    * min/max chunk-size clamps (FastCDC); that needs boundary-
    * suppression state the windowed form deliberately omits — both
    * engines here replay the same unclamped rule. */
  def cdcBytesRetention(docs: DataFrame, idCol: String, textCol: String,
                        w: Int, divisor: Int): DataFrame = {
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val M = 1000000007L
    val canon = concat_ws(" ", TF.tokens(col(textCol)))
    val base = spread(docs).select(col(idCol).as("doc_id"),
        HashExprs.code_points(canon).as("codes"),
        HashExprs.rolling_chunk_bounds(canon, w, 257L, M, divisor.toLong)
          .as("bounds"))
      .filter(size(col("codes")) > 0)
    // chunk k spans (starts(k), ends(k)]: starts = 0 ++ bounds,
    // ends = bounds ++ [n] — built per row with array HOFs, no explode
    // of per-position rows
    val starts = concat(array(lit(0)), col("bounds"))
    val ends = concat(col("bounds"), array(size(col("codes"))))
    val chunks = transform(sequence(lit(0), size(ends) - 1), i => {
      val from = element_at(starts, i + 1)
      val len = element_at(ends, i + 1) - from
      struct(
        md5(array_join(transform(slice(col("codes"), from + 1, len),
          c => c.cast("string")), ",").cast("binary")).as("fp"),
        len.cast("long").as("clen"))
    })
    val wfp = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy(col("doc_id"), col("chunk_id"))
    base.select(col("doc_id"), posexplode(chunks).as(Seq("idx", "ch")))
      .select(col("doc_id"), (col("idx") + 1).cast("long").as("chunk_id"),
        col("ch.fp").as("fp"), col("ch.clen").as("clen"))
      .withColumn("rn", row_number().over(wfp))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum("clen").as("n_cp"))
      .withColumn("retention",
        round(col("n_kept").cast("double") / col("n_chunks"), 4))
      .select("doc_id", "n_chunks", "n_kept", "retention", "n_cp")
      .orderBy("doc_id")
  }

  def cdcRetention(docs: DataFrame, idCol: String, textCol: String,
                   divisor: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy(col("doc_id"), col("chunk_id"))
    // the UNORDERED chunk relation: fingerprints are taken before any
    // further shuffle, so chunk bodies never leave their assembly stage
    cdcChunksUnordered(docs, idCol, textCol, divisor)
      .select(col("doc_id"), col("chunk_id"),
        md5(col("chunk_text").cast("binary")).as("fp"))
      .withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
      .withColumn("retention",
        round(col("n_kept").cast("double") / col("n_chunks"), 4))
      .orderBy("doc_id")
  }
}
