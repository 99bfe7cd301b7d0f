package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Lineage, Tables}
import graft.functions.HashExprs
import graft.operators.Ann
import graft.sources.AnnIndexStore.{Ivf, Pq, Sq8}

/** Similarity-search queries over the embeddings table (operators.Ann).
  *
  * Query set = every 50th vector (broadcastable small side); candidates =
  * the whole table. Brute-force cosine top-k is replayed exactly in DuckDB
  * (list_cosine_similarity). The seeded LSH / IVF / PQ families depend on
  * engine-side hyperplanes / quantizers with no closed-form SQL replay —
  * since r13 they hash-check against generation-time fixtures
  * (tools/GenSeededTruth, the deflate pattern), with ScalaTest still
  * asserting recall against the brute-force baseline.
  */
object AnnQueries extends Registry {

  private def queriesOf(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d)
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)

  /** The det indexes the det-ANN queries serve, built ONCE per
    * (session, dir, family, subcells): the quantizers are collected at
    * build, and the routing table and code words are cut, so their
    * first reader materializes them and every other reader (the det
    * queries, [[ensureIvfStore]]'s persists) reads the same blocks
    * instead of re-homing or re-encoding the corpus. Same session-memo
    * contract as the DataFrame memos: Bench's retry/min-of-2 evicts an
    * entry for the query that built it. */
  private def detIvf(s: org.apache.spark.sql.SparkSession, d: String,
                     subcells: Int = 1): Ann.IvfIndexRelations =
    graft.core.Memo.value(s, s"ann_det_ivf:$d:s=$subcells") {
      val b = Ann.buildDetIvfIndex(Tables.embeddings(s, d), "vec_id",
        "embedding", "label", subcells)
      b.copy(home = Lineage.cut(b.home))
    }

  /** [[detIvf]]'s coarse level plus the det-PQ half at ks = 16 (the
    * IVF-PQ queries, and the flat ann_pq_det_topk over its codes). */
  private def detIvfPq(s: org.apache.spark.sql.SparkSession,
                       d: String): Ann.IvfPqIndexRelations =
    graft.core.Memo.value(s, s"ann_det_ivfpq:$d:ks=16") {
      val b = Ann.addDetPq(detIvf(s, d), Tables.embeddings(s, d), "vec_id",
        "embedding", ks = 16)
      b.copy(codes = Lineage.cut(b.codes))
    }

  private def detSq8(s: org.apache.spark.sql.SparkSession,
                     d: String): Ann.Sq8IndexRelations =
    graft.core.Memo.value(s, s"ann_det_sq8:$d") {
      val b = Ann.buildSq8Index(Tables.embeddings(s, d), "vec_id",
        "embedding")
      Ann.Sq8IndexRelations(Lineage.cut(b.ranges), Lineage.cut(b.codes))
    }

  /** The √n policy's subcells for `d` (two count jobs, once per
    * session). */
  private def nlistSubcells(s: org.apache.spark.sql.SparkSession,
                            d: String): Int =
    graft.core.Memo.value(s, s"ann_nlist_subcells:$d") {
      val c = Tables.embeddings(s, d)
      Ann.autoSubcellsExact(c.count(), c.select("label").distinct().count())
    }

  /** Version number the consistent-snapshot query pins (version 0 = the
    * real index; version 1 is a decoy that must never be read). */
  private val PinnedVersion = 0L

  private val storeCleanup =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Process-private store root for the served-index lifecycle queries.
    * The pid component keeps concurrent processes (Bench and Verify on
    * the same SF) from pruning versions the other lazily loaded — the
    * shared-tmpdir race; the shutdown hook bounds tmp garbage (a
    * crashed process leaks one small metadata dir). */
  private def annStoreRoot(d: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_ann_store_" +
      s"p${ProcessHandle.current().pid()}_" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    if (storeCleanup.add(root))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(root))
      }))
    root
  }

  /** One-time persist of every index artifact the lifecycle queries
    * serve from, memoized per (session, dir): the session's det builds
    * ([[detIvf]], [[detIvfPq]], [[detSq8]]), written once — serve queries
    * measure load + serve; the build is the memo miss, the one-time
    * ingest cost a deployment amortizes (exactly like Bucketed's
    * layout copies). Persisted under the process-private store:
    *
    *   - "ivf": the det-IVF index (newest-version serve), pruned to 3
    *   - "ivfpq": all four FAISS IVF-PQ artifacts
    *   - "ivf_pinned": version 0 = the real index, version 1 = a DECOY
    *     with an EMPTY routing table (a newest-version reader would
    *     return zero rows) — the pinned query proves version-0 reads
    *     ignore everything that lands after the pin
    *   - "ivf_delta": the routing table ingested as three per-batch
    *     DELTA versions (Ivf.foldBatchDelta), versions 0-1 compacted into
    *     a snapshot, version 2 left as a trailing delta — the chain
    *     reader exercises snapshot ∪ delta reconstruction
    *
    * An LRU eviction or `Memo.clearKeys` runs the build again over the
    * same store; every served query then answers the same rows
    * (AnnStoreRebuildSpec).
    */
  private def ensureIvfStore(s: org.apache.spark.sql.SparkSession,
                             d: String): graft.sources.VersionedStore =
    graft.core.Memo.value(s, s"ann_store:$d") {
      val store = graft.sources.VersionedStore(annStoreRoot(d))
      val built = detIvf(s, d)
      Ivf.persist(s, store, "ivf", built)
      Ivf.prune(s, store, "ivf", keep = 3)
      // the √n-POLICY index ("ivf_nlist"): same machinery, coarse
      // cells refined per Ann.autoSubcellsExact so nlist ~ √n — the
      // quantizer sizing a 100 TB deployment uses (label-only cells
      // fatten linearly with the corpus; the policy keeps probed-list
      // length ~√n). Persisted through the same lifecycle so the
      // served query proves policy-built indexes round-trip
      // persist → load → serve hash-identically to the inline chain.
      Ivf.persist(s, store, "ivf_nlist", detIvf(s, d, nlistSubcells(s, d)))
      val builtPq = detIvfPq(s, d)
      Pq.persist(s, store, "ivfpq", builtPq)
      Pq.prune(s, store, "ivfpq", keep = 3)
      val builtSq8 = detSq8(s, d)
      Sq8.persist(s, store, "sq8", builtSq8)
      Sq8.prune(s, store, "sq8", keep = 3)
      Ivf.persistVersion(store, "ivf_pinned", PinnedVersion, built)
      Ivf.persistVersion(store, "ivf_pinned", PinnedVersion + 1,
        built.copy(home = built.home.limit(0)))
      (0L until 3L).foreach { b =>
        Ivf.foldBatchDelta(store, "ivf_delta", -1L, built.centroids)(
          built.home.filter(col("id") % 3 === b)
            .select(col("id").as("vec_id"), col("cell")), b)
      }
      Ivf.compact(s, store, "ivf_delta", upTo = 1L)
      // the same three-trigger delta ingest + partial compaction for
      // the two COMPRESSED families — per-vector relations (routing
      // rows, code words) land as O(batch) deltas, the static quantizer
      // halves ride along as completeness markers
      val pqBatch = builtPq.ivf.home
        .join(builtPq.codes.withColumnRenamed("id", "cid"),
          col("id") === col("cid"))
        .select(col("id").as("vec_id"), col("cell"), col("codes"))
      (0L until 3L).foreach { b =>
        Pq.foldBatchDelta(store, "ivfpq_delta", -1L, builtPq.codebook,
          builtPq.ivf.centroids)(
          pqBatch.filter(col("vec_id") % 3 === b), b)
      }
      Pq.compact(s, store, "ivfpq_delta", upTo = 1L)
      (0L until 3L).foreach { b =>
        Sq8.foldBatchDelta(store, "sq8_delta", -1L, builtSq8.ranges)(
          builtSq8.codes.filter(col("id") % 3 === b)
            .select(col("id").as("vec_id"), col("codes")), b)
      }
      Sq8.compact(s, store, "sq8_delta", upTo = 1L)
      store
    }

  /** Pre-warm every memoized store artifact the `*_served` / `*_delta`
    * lifecycle queries load from — Bench runs this in an explicit setup
    * band so the one-time build+persist cost is its own labeled line
    * instead of landing on whichever served query runs first
    * (alphabetically `ann_ivf_delta_served_topk`, which read 20.6 s in
    * r12 for a ~1.2 s serve). */
  def warmIndexStore(s: org.apache.spark.sql.SparkSession,
                     d: String): Unit = { ensureIvfStore(s, d); () }

  /** The exact k=5 kNN graph, materialized once per (session, dir) —
    * the eval oracle (ann_knn_graph_exact), also consumed by the
    * label-propagation and kNN-classify oracle replays. */
  private def knn5(s: org.apache.spark.sql.SparkSession,
                   d: String): org.apache.spark.sql.DataFrame =
    graft.core.Memo.dataFrame(s, s"knn_graph:$d:k=5") {
      Ann.knnGraph(Tables.embeddings(s, d), "vec_id", "embedding", k = 5)
    }

  /** The DEFAULT k=5 kNN graph — deterministic-LSH candidates
    * (md5-Rademacher planes, integer micro-unit dots) into the same
    * top-k reduction, so the 100 TB-shaped path is ALSO the
    * hash-checked one. bits scales with the corpus via the
    * integer-exact autoBits twin (the oracle recomputes the same b
    * from count(*)); materialized once per (session, dir) — shared by
    * ann_knn_graph and ann_knn_components. */
  private def knn5Det(s: org.apache.spark.sql.SparkSession,
                      d: String): org.apache.spark.sql.DataFrame =
    graft.core.Memo.dataFrame(s, s"knn_graph_det:$d:k=5") {
      val c = Tables.embeddings(s, d)
      Ann.knnGraphLshDet(c, "vec_id", "embedding", k = 5,
        bits = Ann.autoBitsExact(c.count()))
    }

  /** Integer covariance triangle (Ann.covarianceTri), materialized once
    * per (session, dir) — shared by embed_covariance, embed_pca_power
    * and embed_linear_probe. The latter two collect it once to the
    * driver, where their fixed-step iterations run (Ann.pcaPower,
    * Ann.linearProbe); the DuckDB CTEs replay those steps. */
  private def covTri(s: org.apache.spark.sql.SparkSession,
                     d: String): org.apache.spark.sql.DataFrame =
    graft.core.Memo.dataFrame(s, s"cov_tri:$d") {
      Ann.covarianceTri(Tables.embeddings(s, d), "vec_id", "embedding")
    }

  /** The LSH-bucketed k=5 kNN graph, materialized once per (session, dir)
    * — shared by ann_knn_graph_lsh and ann_knn_components_lsh. This is
    * the 100 TB twin of [[knn5]]: candidate pairs come from sign-bit
    * buckets (constant bucket size via Ann.autoBits) instead of all
    * block pairs, so the similarity work is linear-ish in n. */
  private def knn5Lsh(s: org.apache.spark.sql.SparkSession,
                      d: String): org.apache.spark.sql.DataFrame =
    graft.core.Memo.dataFrame(s, s"knn_graph_lsh:$d:k=5") {
      val c = Tables.embeddings(s, d)
      Ann.knnGraphLsh(c, "vec_id", "embedding", k = 5,
        bits = Ann.autoBits(c.count()))
    }

  /** The deterministic (md5-hyperplane) LSH top-5 — the hash-checked
    * twin of ann_lsh_topk; shared by its registered query and the
    * ann_recall_eval harness. Fixed P = 6 sign planes; per-dim signs
    * come from one md5 bit so the tiny d x P sign table broadcasts
    * instead of re-hashing per vector. */
  private def lshDetTopK(s: org.apache.spark.sql.SparkSession,
                         d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val P = 6
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dims = e
      .select(col("vec_id"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        floor(col("x") * 1000000.0 + 0.5).cast("long").as("xi"))
    // the sign depends only on (dim, plane): materialize the tiny
    // d x P table once and broadcast it, instead of re-hashing the
    // same 384 strings for every vector (n x d x P md5 calls)
    val signs = dims.select("dim").distinct()
      .select(col("dim"), explode(sequence(lit(0), lit(P - 1))).as("p"))
      .withColumn("sgn",
        when(substring(md5(concat(col("p").cast("string"), lit(":"),
          col("dim").cast("string"))), 1, 1) >= "8", lit(1L))
          .otherwise(lit(-1L)))
    val dots = dims.join(broadcast(signs), "dim")
      .groupBy("vec_id", "p").agg(sum(col("sgn") * col("xi")).as("dot"))
    val buckets = dots.groupBy("vec_id")
      .agg(sum(expr("CASE WHEN dot >= 0 THEN shiftleft(CAST(1 AS BIGINT)" +
        ", p) ELSE CAST(0 AS BIGINT) END")).as("bucket"))
    val withB = e.join(buckets, "vec_id")
    val q = withB.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("bucket"))
    val c = withB.select(col("vec_id").as("cand_id"), col("v").as("cv"),
      col("bucket"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim_bp").desc, col("cand_id").asc)
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim_bp",
        round(HashExprs.cosine_sim(col("qv"), col("cv")) * 10000)
          .cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("sim_bp"))
      .orderBy("query_id", "rank")
  }

  /** 60-bit md5 SimHash codes over the documents table — the binary
    * signatures the Hamming-ANN pair retrieves over. Token-less docs
    * drop BEFORE signing (the dedup_simhash contract: the kernel would
    * give them sig = 0, the relational oracle explodes tokens and never
    * sees them). */
  private def simhashCodes(s: org.apache.spark.sql.SparkSession,
                           d: String): org.apache.spark.sql.DataFrame = {
    import graft.functions.{TextFunctions => TF}
    Tables.documents(s, d)
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), HashExprs.simhash_md5_60(col("toks")).as("sig"))
  }

  /** Shared replay of the md5-60 SimHash code relation over documents
    * (the dedup_simhash signature CTE, verbatim semantics): token
    * explode → per-occurrence md5-60 hash → ±1 bit votes → sign
    * signature. Both Hamming-ANN oracles build on `ssg`. */
  private val simhashCodeCtes: String =
    """st AS (SELECT doc_id,
                list_filter(string_split_regex(trim(text), '\s+'),
                  x -> x <> '') AS toks
              FROM documents),
        stok AS (SELECT doc_id, unnest(toks) AS tok FROM st),
        sth AS (SELECT doc_id,
                  CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT)
                    AS h
                FROM stok),
        sbits AS (SELECT doc_id, j,
                    sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)
                      AS s
                  FROM sth, range(0, 60) r(j) GROUP BY doc_id, j),
        ssg AS (SELECT doc_id,
                  sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                      ELSE 0 END) AS sig
                FROM sbits GROUP BY doc_id)"""

  val defs: Map[String, QueryFn] = Map(
    "ann_brute_topk" -> ((s, d) =>
      Ann.bruteForceTopK(Tables.embeddings(s, d), queriesOf(s, d),
        "vec_id", "embedding", k = 5)),

    // Binary-code ANN over md5-60 SimHash document signatures: the
    // brute form is the declared-quadratic eval oracle (every query
    // scans every code — one XOR+popcount per pair), the banded form
    // the registered scale path (4x15-bit pigeonhole candidates,
    // k-bounded rerank). Both replay bit-for-bit in SQL because the
    // signature is the md5-60 kernel and Hamming is bit_count(xor).
    "ann_hamming_topk" -> ((s, d) =>
      Ann.hammingTopK(simhashCodes(s, d), "doc_id", "sig", k = 5)),

    "ann_hamming_lsh_topk" -> ((s, d) =>
      Ann.hammingBandedTopK(simhashCodes(s, d), "doc_id", "sig", k = 5)),

    // bits scale with the corpus (Ann.autoBits: ~log2(n/targetBucket)),
    // so bucket size — and with it per-bucket compute and recall — stays
    // constant as the table grows instead of buckets bloating linearly;
    // the count is a parquet-metadata read, not a scan
    // Bucketed-LSH top-5 — re-seeded (round 7) onto the det planes
    // (Ann.lshTopKDet) so the bucket probe structure replays in SQL and
    // the query hash-checks; bits scales with the corpus via the
    // integer-exact autoBits twin, which the oracle recomputes from
    // count(*). The seeded Gaussian Ann.lshTopK stays the library path
    // when engine-internal planes are fine (AnnSpec recall bound).
    "ann_lsh_topk" -> ((s, d) => {
      val c = Tables.embeddings(s, d)
      Ann.lshTopKDet(c, queriesOf(s, d), "vec_id", "embedding", k = 5,
        bits = Ann.autoBitsExact(c.count()))
    }),

    "ann_ivf_topk" -> ((s, d) =>
      Ann.ivfTopK(Tables.embeddings(s, d), queriesOf(s, d),
        "vec_id", "embedding", k = 5)),

    // The oracle-checkable IVF twin (ann_ivf_topk's k-means codebook is
    // engine-internal): coarse cells from per-label integer-micro-unit
    // centroids, nprobe=2, exact integer-bp re-ranking — the identical
    // inverted-file probe structure, fully SQL-replayable.
    "ann_ivf_det_topk" -> ((s, d) =>
      Ann.ivfIndexTopK(detIvf(s, d), Tables.embeddings(s, d), "vec_id",
        "embedding", col("id") % 50 === 0 && col("id") < 2000, k = 5)),

    // The det-IVF routing table as its own relation: every vector's
    // rank-1 cell under the integer-exact affinity ranking. The batch
    // ground truth the streaming cell assignment (AnnIngest) agrees
    // with, and the relation a vector store materializes for routing.
    "ann_ivf_home_cells" -> ((s, d) =>
      detIvf(s, d).home.withColumnRenamed("id", "vec_id").orderBy("vec_id")),

    // The index LIFECYCLE query — build ONCE per (session, dir) behind
    // the memo (like Bucketed's layout copies: build cost is the memo
    // miss, the one-time ingest work a deployment amortizes), persist
    // as a versioned artifact (AnnIndexStore over VersionedStore), then
    // per invocation LOAD the newest version back from parquet and
    // serve top-k from the loaded relations without rebuilding the
    // quantizer — so the registered timing measures load + serve, the
    // recurring cost the lifecycle exists to minimize. Output-identical
    // to ann_ivf_det_topk by construction (same integers round-tripped
    // through parquet longs, same tie rules), so it shares that
    // oracle — what the hash check proves is that persist → load →
    // serve loses nothing. Retention keeps the 3 newest versions.
    "ann_ivf_served_topk" -> ((s, d) => {
      val store = ensureIvfStore(s, d)
      val loaded = Ivf.load(s, store, "ivf")
      Ann.ivfIndexTopK(loaded, Tables.embeddings(s, d), "vec_id",
        "embedding", col("id") % 50 === 0 && col("id") < 2000, k = 5)
    }),

    // The consistent-snapshot PROOF: serve from an explicitly PINNED
    // version while a newer version has already landed on the same
    // index name (the setup persists a decoy newer version whose
    // routing table is EMPTY — reading it would return zero rows). The
    // pinned reader's results hash-match the det oracle, so pinned
    // reads really do ignore everything that lands after the pin — the
    // property that lets a long-running query stream stay on one
    // snapshot while ingest folds new versions concurrently.
    "ann_ivf_pinned_topk" -> ((s, d) => {
      val store = ensureIvfStore(s, d)
      val pinned = Ivf.loadVersion(s, store, "ivf_pinned", PinnedVersion)
      Ann.ivfIndexTopK(pinned, Tables.embeddings(s, d), "vec_id",
        "embedding", col("id") % 50 === 0 && col("id") < 2000, k = 5)
    }),

    // The DELTA-maintenance round trip: the setup ingests the routing
    // table as three per-trigger DELTA versions (Ivf.foldBatchDelta — each
    // write O(batch), not O(index)), compacts the first two into a
    // snapshot, and leaves the third as an uncompacted delta; the query
    // reconstructs the chain view (snapshot ∪ trailing delta) and
    // serves from it. Hash-green on the same det oracle = delta
    // ingestion + compaction + chain reconstruction lose nothing vs the
    // one-shot build.
    "ann_ivf_delta_served_topk" -> ((s, d) => {
      val store = ensureIvfStore(s, d)
      val chain = Ivf.loadChain(s, store, "ivf_delta")
      Ann.ivfIndexTopK(chain, Tables.embeddings(s, d), "vec_id",
        "embedding", col("id") % 50 === 0 && col("id") < 2000, k = 5)
    }),

    // The √n QUANTIZER-SIZING POLICY queries (r14 verdict #1/#3): the
    // det-IVF cells come from the label column, so with labels fixed
    // the cells fatten linearly as the corpus grows — the measured
    // superlinear 2M chain serve. Ann.autoSubcellsExact picks the
    // smallest power-of-two refinement s with (labels·s)² >= n
    // (nlist ~ √n, the FAISS guideline), Ann.detRefineLabels splits
    // each cell on the sign pattern of the first log2(s) coordinates
    // against the cell's own centroid, and the standard det chain runs
    // over the refined cells. Everything stays integer-exact, so the
    // oracle recomputes the SAME s from count(*)/count(DISTINCT label)
    // and replays the refined quantizer in SQL. The inline form and
    // the persist→load→serve form share one oracle (output-identical
    // by construction, like the ivf_det/ivf_served pair).
    "ann_ivf_nlist_topk" -> ((s, d) =>
      Ann.ivfIndexTopK(detIvf(s, d, nlistSubcells(s, d)),
        Tables.embeddings(s, d), "vec_id", "embedding",
        col("id") % 50 === 0 && col("id") < 2000, k = 5)),

    "ann_ivf_nlist_served_topk" -> ((s, d) => {
      val store = ensureIvfStore(s, d)
      val loaded = Ivf.load(s, store, "ivf_nlist")
      Ann.ivfIndexTopK(loaded, Tables.embeddings(s, d), "vec_id",
        "embedding", col("id") % 50 === 0 && col("id") < 2000, k = 5)
    }),

    // The oracle-checkable PQ twin (ann_pq_topk's per-subspace k-means
    // codebooks are engine-internal): md5-sampled codebook, exact
    // integer squared-distance assignment and ADC LUT sums, exact-bp
    // rerank of the shortlist — the full memory-bound structure,
    // SQL-replayable.
    "ann_pq_det_topk" -> ((s, d) => {
      val ix = detIvfPq(s, d)
      Ann.pqIndexTopK(ix.codebook, ix.codes, Tables.embeddings(s, d),
        "vec_id", "embedding", col("id") % 50 === 0 && col("id") < 2000,
        k = 5)
    }),

    // The third FAISS compression family next to PQ and IVF-PQ: the
    // 8-bit SCALAR quantizer (per-dimension trained [min, max], one
    // byte per coordinate, no codebook). Train is a 64-row aggregate;
    // the asymmetric-distance scan is the same broadcast-LUT pipelined
    // map as the PQ ADC path. Exact integer arithmetic end to end —
    // SQL-replayable.
    "ann_sq8_det_topk" -> ((s, d) =>
      Ann.sq8IndexTopK(detSq8(s, d), Tables.embeddings(s, d), "vec_id",
        "embedding", col("id") % 50 === 0 && col("id") < 2000, k = 5)),

    // The SQ8 lifecycle query — same contract as ann_ivf_served_topk:
    // build + persist once behind the memo, then per invocation LOAD
    // the newest version (trained ranges + byte codes) and serve
    // without re-training the quantizer. Output-identical to
    // ann_sq8_det_topk by construction, so it shares that oracle — the
    // hash proves persist → load → serve loses nothing for the third
    // FAISS family too.
    "ann_sq8_served_topk" -> ((s, d) => {
      val store = ensureIvfStore(s, d)
      val loaded = Sq8.load(s, store, "sq8")
      Ann.sq8IndexTopK(loaded, Tables.embeddings(s, d), "vec_id",
        "embedding", col("id") % 50 === 0 && col("id") < 2000, k = 5)
    }),

    // DELTA maintenance for the SQ8 family — the byte-code relation
    // ingested as three O(batch) delta versions (Sq8.foldBatchDelta),
    // versions 0-1 compacted, version 2 left as a trailing delta; the
    // query reconstructs the chain view and serves from it. Hash-green
    // on ann_sq8_det_topk's oracle = delta ingestion + compaction +
    // chain reconstruction lose nothing for the compressed family
    // either.
    "ann_sq8_delta_served_topk" -> ((s, d) => {
      val store = ensureIvfStore(s, d)
      val chain = Sq8.loadChain(s, store, "sq8_delta")
      Ann.sq8IndexTopK(chain, Tables.embeddings(s, d), "vec_id",
        "embedding", col("id") % 50 === 0 && col("id") < 2000, k = 5)
    }),

    // Coarse-to-fine Matryoshka FUNNEL retrieval: shortlist by the
    // 16-dim prefix's integer-bp cosine (a quarter of the bytes per
    // candidate), exact full-width integer-bp rerank of the 32-deep
    // shortlist — the production serving pattern for truncated MRL
    // embeddings, SQL-replayable end to end.
    "ann_matryoshka_funnel_topk" -> ((s, d) =>
      Ann.matryoshkaFunnelTopK(Tables.embeddings(s, d), "vec_id",
        "embedding", col("id") % 50 === 0 && col("id") < 2000, k = 5)),

    // Matryoshka truncation-recall eval: overlap between the exact
    // full-width top-5 and the top-5 ranked on only the first m
    // coordinates (m = 8/16/32) — the measurement behind serving
    // truncated MRL embeddings. One corpus scan computes every
    // prefix's ranking; the fixed eval panel keeps the scan linear in
    // the corpus at any SF.
    "embed_matryoshka_recall" -> ((s, d) =>
      Ann.matryoshkaRecall(Tables.embeddings(s, d), "vec_id",
        "embedding", col("id") % 50 === 0 && col("id") < 2000, k = 5)),

    // IVF-PQ composition (Ann.ivfPqTopK): coarse cells restrict the
    // scan, PQ codes make the per-cell scoring m lookups per pair, exact
    // cosine refines the shortlist — the FAISS production index shape
    // and the registry's flagship 100 TB ANN path. Quantizer state is
    // engine-internal -> hash-checked via the generation-time fixture
    // (seeded, so output is a pure corpus function); AnnSpec bounds
    // recall.
    "ann_ivf_pq_topk" -> ((s, d) =>
      Ann.ivfPqTopK(Tables.embeddings(s, d), queriesOf(s, d),
        "vec_id", "embedding", k = 5)),

    // The oracle-checkable IVF-PQ composition (closes the last
    // seeded-only index family): det-IVF label cells restrict the scan,
    // det-PQ integer ADC ranks within the probed candidates only, exact
    // integer-bp cosine reranks the shortlist — the full two-level
    // FAISS shape, every step SQL-replayable.
    "ann_ivf_pq_det_topk" -> ((s, d) =>
      Ann.ivfPqIndexTopK(detIvfPq(s, d), Tables.embeddings(s, d),
        "vec_id", "embedding", col("id") % 50 === 0 && col("id") < 2000,
        k = 5)),

    // The FULL index lifecycle for the flagship two-level index: all
    // four FAISS-IVFPQ artifacts (coarse quantizer, routing table, PQ
    // codebook, per-vector codes) persisted as one version (memoized
    // build, as above), then loaded back and served per invocation —
    // the only per-query quantizer work is the query's own ADC LUT
    // against the LOADED codebook. Shares ann_ivf_pq_det_topk's
    // oracle: the hash proves the round trip loses nothing.
    "ann_ivf_pq_served_topk" -> ((s, d) => {
      val store = ensureIvfStore(s, d)
      val loaded = Pq.load(s, store, "ivfpq")
      Ann.ivfPqIndexTopK(loaded, Tables.embeddings(s, d), "vec_id",
        "embedding", col("id") % 50 === 0 && col("id") < 2000, k = 5)
    }),

    // DELTA maintenance for the flagship compressed family: BOTH
    // per-vector relations (routing rows AND PQ code words) ingested as
    // three O(batch) delta versions (Pq.foldBatchDelta), versions 0-1
    // compacted into full snapshots, version 2 left as a trailing
    // delta on each chain; the query reconstructs both chains plus the
    // static quantizer pair and serves. Hash-green on
    // ann_ivf_pq_det_topk's oracle = the O(batch) write contract
    // extends to IVF-PQ with nothing lost.
    "ann_ivf_pq_delta_served_topk" -> ((s, d) => {
      val store = ensureIvfStore(s, d)
      val chain = Pq.loadChain(s, store, "ivfpq_delta")
      Ann.ivfPqIndexTopK(chain, Tables.embeddings(s, d), "vec_id",
        "embedding", col("id") % 50 === 0 && col("id") < 2000, k = 5)
    }),

    // The residual-encoding construction (the actual FAISS IVF-PQ):
    // vectors PQ-coded as integer residuals against their home-cell
    // centroid, one ADC LUT per (query, probed cell). Hash-checked like
    // the raw-vector det twin — the residual geometry is still exact
    // integer arithmetic over md5-deterministic structure.
    "ann_ivf_pq_residual_det_topk" -> ((s, d) =>
      Ann.ivfPqResidualIndexTopK(detIvf(s, d), Tables.embeddings(s, d),
        "vec_id", "embedding", col("id") % 50 === 0 && col("id") < 2000,
        k = 5)),

    // Multi-probe LSH (Lv et al. 2007): each query probes its own bucket
    // plus every Hamming-distance-1 neighbor bucket, buying back the
    // recall that extra bits cost WITHOUT more tables — the knob that
    // keeps bucket size constant at 100 TB (autoBits) while holding
    // recall. Re-seeded (round 7) onto the det planes like
    // ann_lsh_topk, so the probe fan-out itself replays in SQL and the
    // query hash-checks; AnnSpec bounds recall >= the single-probe
    // variant's.
    "ann_lsh_multiprobe" -> ((s, d) => {
      val c = Tables.embeddings(s, d)
      Ann.lshTopKDet(c, queriesOf(s, d), "vec_id", "embedding", k = 5,
        bits = Ann.autoBitsExact(c.count()), multiProbe = true)
    }),

    // The oracle-checkable LSH twin (ann_lsh_topk's seeded hyperplanes
    // are engine-internal; this pins the bucketed-ANN semantics against
    // SQL): 6 Rademacher hyperplanes whose per-dimension sign is an md5
    // bit (md5(p ":" dim) first hex >= '8' -> +1), dot products in
    // integer micro-units (floor(x*1e6+0.5)) so the sign decision is
    // exact integer arithmetic with no accumulation-order drift, bucket
    // = the 6-bit sign word, then exact integer-bp cosine top-5 among
    // co-bucketed candidates. Fixed 6 bits is the ORACLE parameter —
    // the registered 100 TB path stays ann_lsh_topk with autoBits.
    "ann_lsh_det_topk" -> ((s, d) => lshDetTopK(s, d)),

    // Retrieval-recall evaluation harness, fully hash-checked: per
    // query, how many of the exact cosine top-5 the deterministic-LSH
    // path recovered (both inputs are themselves oracle-verified
    // queries, so the eval metric is engine-replayable end-to-end —
    // the seeded engine paths get their recall bounds in AnnSpec,
    // this is the REGISTERED eval shape those bounds instantiate).
    // recall_bp divides by the PER-QUERY brute list size (counted from
    // the brute relation, not a literal k — a tiny corpus or k change
    // can make the exact list shorter than 5, and a hardcoded
    // denominator would silently understate); n_lsh < n_brute happens
    // when a query's bucket is thin — visible in the output rather
    // than silently padded.
    "ann_recall_eval" -> ((s, d) => {
      val brute = Ann.bruteForceTopK(Tables.embeddings(s, d),
          queriesOf(s, d), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("cand_id"))
      val lsh = lshDetTopK(s, d).select("query_id", "cand_id")
      val nLsh = lsh.groupBy("query_id").agg(count(lit(1)).as("n_lsh"))
      val nHit = brute.join(lsh, Seq("query_id", "cand_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      brute.groupBy("query_id").agg(count(lit(1)).as("n_brute"))
        .join(nLsh, Seq("query_id"), "left")
        .join(nHit, Seq("query_id"), "left")
        .na.fill(0L, Seq("n_lsh", "n_hit"))
        .withColumn("recall_bp", expr("(n_hit * 10000) DIV n_brute"))
        .select("query_id", "n_lsh", "n_hit", "recall_bp")
        .orderBy("query_id")
    }),

    // Product-quantization ADC search (Ann.pqTopK): the memory-bound
    // scale path — 8 nibble codes per vector instead of 64 floats, m
    // LUT lookups per pair instead of a dot product, exact-cosine
    // refinement of the shortlist. Codebooks are engine-internal →
    // hash-checked via the generation-time fixture; AnnSpec bounds
    // recall vs ann_brute_topk.
    "ann_pq_topk" -> ((s, d) =>
      Ann.pqTopK(Tables.embeddings(s, d), queriesOf(s, d),
        "vec_id", "embedding", k = 5)),

    // Corpus-wide kNN graph, DEFAULT form: deterministic-LSH candidate
    // pairs (Σ bucket² compute, linear shuffle — the 100 TB shape) into
    // the k-bounded TopK reduction, with md5-Rademacher planes and
    // integer micro-unit dots so DuckDB replays the bucket geometry
    // and the exact integer-bp ranking end-to-end. Memoized
    // (core.Memo): the clusters query below consumes the same graph.
    // AnnSpec additionally bounds its edge recall vs the exact graph.
    "ann_knn_graph" -> ((s, d) =>
      knn5Det(s, d).orderBy("vec_id", "rank")),

    // Embedding-quality diagnostic: the distribution of nearest-neighbor
    // similarity across the corpus (rank-1 edges of the registered
    // det-LSH kNN graph, memoized — this query reads the same relation
    // the graph queries share), bucketed to 500-bp bins. A healthy
    // embedding space shows a right-shifted unimodal histogram; a
    // collapsed one piles into the top bin. Bucket floor is computed on
    // the +10000-shifted value so Spark DIV (truncate) and DuckDB //
    // (floor) agree for negative cosines.
    "ann_sim_histogram" -> ((s, d) =>
      knn5Det(s, d).filter(col("rank") === 1)
        .withColumn("bucket_lo_bp",
          expr("((sim_bp + 10000) DIV 500) * 500 - 10000"))
        .groupBy("bucket_lo_bp")
        .agg(count(lit(1)).as("n_vecs"),
          min("sim_bp").as("min_bp"), max("sim_bp").as("max_bp"))
        .orderBy("bucket_lo_bp")),

    // The exact n² baseline (Ann.knnGraph: block-pair sims, every
    // unordered pair computed once) — the EVAL ORACLE the approximate
    // paths' recall bounds are measured against, like ann_brute_topk
    // for the top-k family. Quadratic by definition; the registered
    // default above is the scale path.
    "ann_knn_graph_exact" -> ((s, d) =>
      knn5(s, d).orderBy("vec_id", "rank")),

    // The seeded Gaussian-hyperplane variant (production path when
    // engine-internal planes are fine): same candidate structure with
    // autoBits bucket sizing. Hash-checked against the generation-time
    // fixture (tools/GenSeededTruth — the planes are engine-internal,
    // but seeded, so the output is a pure function of the corpus);
    // AnnSpec additionally bounds recall vs the exact graph.
    "ann_knn_graph_lsh" -> ((s, d) =>
      knn5Lsh(s, d).orderBy("vec_id", "rank")),

    // Hard-negative mining for contrastive training: each probe's top-5
    // most-similar candidates whose LABEL DIFFERS — the "close but
    // wrong" examples a retrieval/embedding trainer needs. Same
    // broadcast-probe brute shape as ann_brute_topk with the label
    // inequality fused into the join predicate (filtered before any
    // similarity is computed); the LSH/IVF/PQ paths are the 100 TB
    // candidate generators for the identical predicate.
    "ann_hard_negatives" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"),
          col("label").as("q_label"))
      val c = e.select(col("vec_id").as("cand_id"),
        col("embedding").cast("array<double>").as("cv"),
        col("label").as("neg_label"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("cand_id").asc)
      c.join(broadcast(q), col("query_id") =!= col("cand_id") &&
          col("neg_label") =!= col("q_label"))
        .withColumn("sim", HashExprs.cosine_sim(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("cand_id"),
          col("neg_label").cast("long").as("neg_label"),
          round(col("sim"), 4).as("sim"))
        .orderBy("query_id", "rank")
    }),

    // Semantic clusters: weakly connected components over the DEFAULT
    // (det-LSH) kNN graph's >= 0.2-cosine edges — the composition
    // SemDeDup-style pipelines run (kNN edges -> clusters -> keep
    // policy), stitched from two already-verified operators
    // (Ann.knnGraphLshDet + Dedup.components' label propagation), and
    // the composition a 100 TB run would actually execute. Oracle
    // replays the det-LSH bucketing, the kNN ranking, and a recursive
    // closure; AnnSpec bounds co-cluster agreement vs the exact
    // composition.
    "ann_knn_components" -> ((s, d) => {
      val edges = knn5Det(s, d)
        .filter(col("sim_bp") >= 2000)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      graft.operators.Dedup.components(edges, "src", "dst")
        .select(col("doc_id").as("node"), col("component"))
        .orderBy("node")
    }),

    // The same SemDeDup-style cluster composition over the LSH graph —
    // the composition a 100 TB run would actually execute (the exact
    // n² graph above is the audited baseline). Engine-internal
    // hyperplanes → hash-checked via the generation-time fixture;
    // AnnSpec asserts cluster agreement vs the exact composition
    // (pairs co-clustered exactly stay mostly co-clustered here).
    "ann_knn_components_lsh" -> ((s, d) => {
      val edges = knn5Lsh(s, d)
        .filter(col("sim_bp") >= 2000)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      graft.operators.Dedup.components(edges, "src", "dst")
        .select(col("doc_id").as("node"), col("component"))
        .orderBy("node")
    }),

    // Semi-supervised label propagation over the kNN graph (Zhu &
    // Ghahramani 2002-style diffusion): the 20% seed nodes
    // (vec_id % 5 = 0) push similarity-weighted label mass along kNN
    // edges for 3 fixed steps; every step re-adds the seed mass
    // (clamping) and rescales the weights to ~1e5 max with the same
    // sign-safe integer truncation as embed_pca_power (weights are
    // non-negative so Spark DIV == DuckDB //). Everything is exact
    // integer arithmetic over the memoized exact graph, so the oracle
    // replays the full diffusion; fixed step count makes it a
    // deterministic function, not a convergence loop. This is the
    // multi-hop weak-labeling pass (ann_knn_classify is the 1-hop
    // vote); the 100 TB composition swaps in the LSH graph.
    // NOTE on the `correct` column: the synthetic testdata's labels are
    // RANDOM w.r.t. embedding geometry (measured 1-NN accuracy 0.096 at
    // sf0.01), so ~10% accuracy here is the right answer, not a defect —
    // the oracle pins the diffusion arithmetic; AnnSpec proves the
    // semantics on a constructed clustered dataset where propagation
    // must label every node correctly.
    "ann_label_propagation" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val edges = knn5(s, d).select(col("vec_id").as("src"),
        col("neighbor_id").as("dst"), col("sim_bp"))
      val emb = Tables.embeddings(s, d)
      val seeds = emb.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("label").cast("long").as("l"),
          lit(100000L).as("w"))
      def rescale(acc: org.apache.spark.sql.DataFrame) = {
        val scale = acc.agg(max(col("w")).as("m"))
          .select(expr(
            "CAST(greatest((m + 99999) DIV 100000, 1) AS BIGINT)").as("s"))
        // sign-split like embed_pca_power: kNN edges can carry NEGATIVE
        // sim_bp (a node whose top-5 includes an anti-correlated
        // neighbor), making diffusion weights negative — and Spark DIV
        // truncates while DuckDB // floors, so an unsplit division
        // diverges by 1 on exactly those rows
        acc.crossJoin(scale)
          .select(col("vec_id"), col("l"),
            expr("CASE WHEN w < 0 THEN -(CAST(abs(w) AS BIGINT) DIV s) " +
              "ELSE CAST(w DIV s AS BIGINT) END").as("w"))
      }
      // rounds carry the accumulated weights; round 1 diffuses the seeds
      val accK = Lineage.rounds(seeds, 3) { (acc, i) =>
        val w = if (i == 1) acc else rescale(acc)
        edges
          .join(w.select(col("vec_id").as("u"), col("l"), col("w")),
            col("dst") === col("u"))
          .groupBy(col("src").as("vec_id"), col("l"))
          .agg(sum(col("sim_bp") * col("w")).as("w"))
          .unionByName(seeds)
          .groupBy("vec_id", "l").agg(sum("w").as("w"))
      }
      val wK = rescale(accK)
      val truth = emb.select(col("vec_id"),
        col("label").cast("long").as("true_label"))
      val win = Window.partitionBy("vec_id")
        .orderBy(col("w").desc, col("l").asc)
      wK.withColumn("rn", row_number().over(win)).filter(col("rn") === 1)
        .join(truth, "vec_id")
        .select(col("vec_id"), col("l").as("pred_label"),
          col("w").as("weight"),
          (col("l") === col("true_label")).cast("long").as("correct"))
        .orderBy("vec_id")
    }),

    // Personalized PageRank over the kNN graph, seeded by the probe set
    // (vec_id % 50 = 0): ranks every vector by walk-proximity to the
    // probes — the "expand the query neighborhood" primitive for
    // retrieval-seeded curation (grow a selection from examples), and a
    // composition of two already-verified pieces: the memoized exact
    // kNN graph and Graph.pagerankInt's seeded integer fixed point.
    // 4 unrolled rounds, damp 8500; oracle replays graph + diffusion.
    "ann_ppr_expand" -> ((s, d) => {
      // SEMANTICS CHANGE (round 12): diffuses over the det-LSH kNN
      // graph (knn5Det — the SAME memoized relation ann_knn_graph
      // registers, SQL-replayable) instead of the exact n² graph. The
      // 50k-vector ladder rung measured the exact-graph form at
      // 1,856 s / exponent 1.54 — the memoized exact graph made this
      // the one registered query still paying n² at scale. Seeds
      // outside the graph's node set are ignored by pagerankInt, so
      // the embeddings-panel seed set matches the oracle's
      // graph-node % 50 seeds exactly.
      val edges = knn5Det(s, d).select(col("vec_id").as("src"),
        col("neighbor_id").as("dst"))
      val seeds = Tables.embeddings(s, d)
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("node"))
      graft.operators.Graph.personalizedPagerankInt(
        edges, "src", "dst", seeds, iters = 4, dampBp = 8500)
    }),

    // Full-corpus per-label centroids (the distributed IVF-build /
    // cluster-audit reduction): long form (label, dim, c).
    "ann_centroids" -> ((s, d) =>
      Ann.centroids(Tables.embeddings(s, d), "label", "embedding")),

    // Cosine RANGE search (radius query): every candidate within the
    // similarity threshold of each probe, not just the top-k — the
    // "find everything similar enough" primitive retrieval-filtering
    // and duplicate-radius audits need. Similarity compares in integer
    // basis points (round(sim*10000)) so the threshold predicate is the
    // same integer test on both engines. The probe side broadcasts
    // (every 50th vector); this brute pass is the exact baseline, and
    // the LSH/IVF bucketed paths (ann_lsh_topk / ann_ivf_topk) are the
    // 100 TB candidate generators for the identical predicate.
    "ann_range_cosine" -> ((s, d) => {
      val c = Tables.embeddings(s, d).select(col("vec_id").as("cand_id"),
        col("embedding").cast("array<double>").as("cv"))
      val q = queriesOf(s, d).select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      c.join(broadcast(q), col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"),
          round(HashExprs.cosine_sim(col("qv"), col("cv")) * 10000)
            .cast("long").as("sim_bp"))
        .filter(col("sim_bp") >= 1500)
        .orderBy("query_id", "cand_id")
    }),

    // Dimension-pair covariance of the embedding cloud — the whitening /
    // PCA-prep / drift-detection primitive a training pipeline runs
    // before transforming embeddings. Coordinates snap to integer
    // micro-units FIRST (floor(x*1e6+0.5)), so the sufficient statistics
    // are exact (decimal-summed — see Ann.covarianceStats' overflow
    // note) and the final covariance divides identical operands in
    // identical order on both engines. Shared with embed_pca_power via
    // the covTri memo.
    "embed_covariance" -> ((s, d) =>
      covTri(s, d)
        .select(col("dim_a").cast("long").as("dim_a"),
          col("dim_b").cast("long").as("dim_b"), col("cov_u"))
        .orderBy("dim_a", "dim_b")),

    // Top principal direction of the embedding cloud by POWER ITERATION
    // over the integer covariance matrix — the eigen-step behind
    // whitening / PCA-pruning / drift monitors, made oracle-checkable:
    // every iterate is exact integer arithmetic (matrix-vector products
    // over the micro-unit covariance, then a sign-split truncating
    // rescale back to ~1e5 max). 6 fixed iterations from a constant
    // vector is a deterministic function, not a convergence loop. The
    // heavy part is the covariance reduction, shared with
    // embed_covariance via the covTri memo and collected once (64x64);
    // the iteration runs on the driver (Ann.pcaPower). The DuckDB
    // oracle unrolls the six steps as CTEs, which is what makes the
    // result replayable.
    "embed_pca_power" -> ((s, d) => Ann.pcaPower(covTri(s, d), iters = 6)),

    // Int8 quantization summarized per vector in integers (scale in
    // micro-units, sum/min/max of the quantized codes) — the oracle
    // replays the exact floor(+0.5) arithmetic.
    "embed_quantize_int8" -> ((s, d) =>
      Ann.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")
        .select(col("vec_id"),
          floor(col("scale") * 1000000.0 + 0.5).cast("long").as("scale_e6"),
          aggregate(col("q"), lit(0L), _ + _).as("q_sum"),
          array_min(col("q")).as("q_min"),
          array_max(col("q")).as("q_max"))
        .orderBy("vec_id")),

    // Cluster-to-cluster geometry: cosine similarity between every pair
    // of label centroids. Centroids are snapped to integer micro-units
    // FIRST (floor(avg*1e6+0.5), the PageRank-micro-units trick), so
    // dot products and norms are exact integer arithmetic and the final
    // ratio divides identical operands on both engines — no float
    // accumulation order in the comparison path. Plan: one partial agg
    // to a (labels x dims)-sized relation, then a broadcast-scale
    // self-join; the fact table is read once.
    "ann_label_similarity" -> ((s, d) => {
      val cent = Tables.embeddings(s, d)
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(avg(col("x").cast("double")).as("c"))
        .select(col("label"), col("dim"),
          floor(col("c") * 1000000.0 + 0.5).cast("long").as("ci"))
      val norms = cent.groupBy("label")
        .agg(sum(col("ci") * col("ci")).as("nn"))
      val a = cent.select(col("label").as("la"), col("dim"),
        col("ci").as("ca"))
      val b = cent.select(col("label").as("lb"), col("dim"),
        col("ci").as("cb"))
      a.join(b, Seq("dim")).filter(col("la") < col("lb"))
        .groupBy("la", "lb").agg(sum(col("ca") * col("cb")).as("dot"))
        .join(broadcast(norms.select(col("label").as("la"),
          col("nn").as("na"))), "la")
        .join(broadcast(norms.select(col("label").as("lb"),
          col("nn").as("nb"))), "lb")
        .select(col("la").as("label_a"), col("lb").as("label_b"),
          floor(lit(10000.0) * col("dot") /
            (sqrt(col("na")) * sqrt(col("nb")))).cast("long").as("sim_bp"))
        .orderBy("label_a", "label_b")
    }),

    // kNN majority-vote classification: each probe's label predicted by
    // its 10 nearest neighbors (vote count desc, label asc tie-break) —
    // the standard label-propagation / weak-labeling pass over an
    // embedding store, and the evaluation harness for the ANN indexes
    // (swap the brute candidate generator for LSH/IVF/PQ at 100 TB; the
    // vote reduction is identical). Same broadcast-probe brute shape as
    // ann_brute_topk; the vote rollup and argmax walk the 10-row
    // neighbor lists per probe, never the corpus.
    "ann_knn_classify" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"),
          col("label").cast("long").as("true_label"))
      val c = e.select(col("vec_id").as("cand_id"),
        col("embedding").cast("array<double>").as("cv"),
        col("label").cast("long").as("cand_label"))
      val wN = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("cand_id").asc)
      val votes = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
        .withColumn("sim", HashExprs.cosine_sim(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(wN))
        .filter(col("rank") <= 10)
        .groupBy("query_id", "true_label", "cand_label")
        .agg(count(lit(1)).as("votes"))
      val wV = Window.partitionBy("query_id")
        .orderBy(col("votes").desc, col("cand_label").asc)
      votes.withColumn("vr", row_number().over(wV))
        .filter(col("vr") === 1)
        .select(col("query_id"), col("true_label"),
          col("cand_label").as("pred_label"), col("votes"),
          (col("cand_label") === col("true_label")).cast("long").as("correct"))
        .orderBy("query_id")
    }),

    // MMR diversified retrieval (Ann.mmrTopK): greedy top-5 from the
    // 20-candidate pool, each pick maximizing 7·rel_bp − 3·max-sim-to-
    // selected — the RAG answer-diversity primitive. All-integer greedy
    // selection; DuckDB unrolls the 4 greedy steps as CTEs.
    "ann_mmr_rerank" -> ((s, d) =>
      Ann.mmrTopK(Tables.embeddings(s, d), queriesOf(s, d),
        "vec_id", "embedding", k = 5, pool = 20)),

    // Per-dimension PSI drift monitor between two embedding cohorts
    // (vec_id parity as the ref/cur split stand-in): 10 fixed value
    // buckets on [-1, 1], Laplace-smoothed shares, PSI = Σ_b
    // (p_ref − p_cur)·ln(p_ref/p_cur) — the population-stability check
    // an embedding store runs before trusting a re-embedded corpus.
    // Float parity: each BUCKET term is snapped to integer nano-units
    // before the per-dim sum (10-term float sums would drift with
    // aggregation order); the ln runs on identical operands on both
    // engines (the bm25/surprisal precedent). One exploded pass,
    // partial-aggregated to dims × 10 × 2 cells; the grid join is
    // broadcast-scale.
    "embed_drift_psi" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cells = e
        .select((col("vec_id") % 2).as("grp"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("dim", "x")))
        .select(col("grp"), col("dim"),
          least(lit(9L), greatest(lit(0L),
            floor((col("x") + 1.0) * 5.0).cast("long"))).as("b"))
        .groupBy("dim", "b", "grp").agg(count(lit(1)).as("cnt"))
      val g = e.select((col("vec_id") % 2).as("grp"))
        .groupBy("grp").agg(count(lit(1)).as("n"))
      val grid = cells.select("dim").distinct()
        .select(col("dim"), explode(sequence(lit(0L), lit(9L))).as("b"))
        .select(col("dim"), col("b"),
          explode(sequence(lit(0L), lit(1L))).as("grp"))
      val p = grid
        .join(cells, Seq("dim", "b", "grp"), "left")
        .select(col("dim"), col("b"), col("grp"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
        .join(broadcast(g), "grp")
        .groupBy("dim", "b")
        .agg(
          max(when(col("grp") === 0,
            (col("cnt") + 1).cast("double") / (col("n") + 10))).as("p0"),
          max(when(col("grp") === 1,
            (col("cnt") + 1).cast("double") / (col("n") + 10))).as("p1"))
      p.select(col("dim").cast("long").as("dim"),
          floor((col("p0") - col("p1")) * log(col("p0") / col("p1"))
            * 1000000000.0 + 0.5).cast("long").as("term_n"))
        .groupBy("dim").agg(sum("term_n").as("psi_n"))
        .orderBy("dim")
    }),

    // Linear quality-classifier probe (Ann.linearProbe): the fastText/
    // CCNet-style "train a cheap linear filter on embeddings" primitive —
    // least squares of y = (label == 0 ? +1 : -1) on the centered
    // embedding cloud via 8 FIXED Richardson steps in exact integer
    // arithmetic (reusing the covTri memo for the heavy reduction).
    // Output: the 64 probe weights. DuckDB unrolls the 8 steps as CTEs.
    "embed_linear_probe" -> ((s, d) => probeW(s, d).orderBy("dim")),

    // The trained probe applied back to the corpus as a balanced
    // (prior-free, threshold-0) gate — the recall-oriented decision rule
    // a data-quality filter runs (on THIS testdata labels are random
    // w.r.t. geometry, yet the probe still recovers 45/50 of the
    // positive class at sf0.01 from the weak linear signal). Weights and
    // means broadcast; the corpus is read once. Output: 2x2 confusion.
    "embed_probe_eval" -> ((s, d) => {
      val e = Tables.embeddings(s, d).withColumn("y",
        when(col("label") === 0, 1L).otherwise(-1L))
      Ann.linearProbeScores(e, "vec_id", "embedding", "y", probeW(s, d))
        .select(col("y").as("true_y"),
          when(col("score") >= 0, 1L).otherwise(-1L).as("pred_y"))
        .groupBy("true_y", "pred_y").agg(count(lit(1)).as("n"))
        .orderBy("true_y", "pred_y")
    }),

    // Embedding-hygiene audit: per-label L2-norm profile in EXACT
    // integer micro-units-squared (norms far from the cohort band mean
    // truncated/garbage vectors; a degenerate all-zero cluster shows as
    // min = 0). sqrt never runs — the SQUARED norm is order-isomorphic
    // and stays integer; p50 is the lower median via the rank recipe.
    // One aggregate-lambda pass per vector, windows partition by label.
    "embed_norm_profile" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          expr("""aggregate(transform(CAST(embedding AS ARRAY<DOUBLE>),
            x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)),
            CAST(0 AS BIGINT), (a, xi) -> a + xi * xi)""").as("nrm2_u"))
      val w = Window.partitionBy("label").orderBy("nrm2_u", "vec_id")
      val wp = Window.partitionBy("label")
      e.select(col("label"), col("nrm2_u"),
          row_number().over(w).cast("long").as("rn"),
          count(lit(1)).over(wp).as("n"))
        .groupBy("label")
        .agg(max("n").as("n"), min("nrm2_u").as("min_nrm2_u"),
          min(when(col("rn") * 2 >= col("n"), col("nrm2_u")))
            .as("p50_nrm2_u"),
          max("nrm2_u").as("max_nrm2_u"))
        .orderBy("label")
    }),

    // Margin-based bitext mining (Ann.marginBitext): the two "languages"
    // are the vec_id parity cohorts, k = 4 cross-cohort neighbors feed
    // each side's hubness denominator, and the output is the mutual
    // best-margin pairs — the parallel-corpus mining primitive. Exact
    // integer scoring end-to-end, so DuckDB replays the whole pipeline.
    "ann_margin_bitext" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
      Ann.marginBitext(
        e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("a_id"), col("embedding").as("va")),
        e.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("b_id"), col("embedding").as("vb")),
        k = 4)
    }),

    // The scale path for the same miner: cross-cohort candidates from
    // the det-LSH bucketing of the cohort union (the cohorts are the
    // vec_id parity split, so the union is exactly the embeddings
    // table and the oracle reuses the det-graph bucket replay) into
    // the identical mutual best-margin scoring. Σ bucket² compute
    // instead of |A|×|B|; hash-checked end-to-end; AnnSpec bounds
    // recovered-pair recall vs the exact miner on planted dups.
    "ann_margin_bitext_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
      Ann.marginBitextLshDet(
        e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("a_id"), col("embedding").as("va")),
        e.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("b_id"), col("embedding").as("vb")),
        k = 4, bits = Ann.autoBitsExact(e.count()), tables = 16)
    }),
  )

  /** The trained probe weights, materialized once per (session, dir) —
    * shared by embed_linear_probe and embed_probe_eval. */
  private def probeW(s: org.apache.spark.sql.SparkSession,
                     d: String): org.apache.spark.sql.DataFrame =
    graft.core.Memo.dataFrame(s, s"linear_probe:$d") {
      val e = Tables.embeddings(s, d).withColumn("y",
        when(col("label") === 0, 1L).otherwise(-1L))
      Ann.linearProbe(e, "vec_id", "embedding", "y", iters = 8,
        covTri = Some(covTri(s, d)))
    }

  /** Six unrolled power-iteration steps as CTEs (the independent replay
    * of the driver kernel Ann.pcaPower). Sign-split `//` keeps division
    * semantics identical (the kernel truncates, DuckDB // floors —
    * operands here are always non-negative). Sums are cast back to
    * BIGINT because DuckDB widens sum(BIGINT) to HUGEINT, which pandas
    * would render as float and break the value-hash compare. */
  private val pcaPowerSql: String = {
    val base =
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
          d AS (SELECT vec_id, i - 1 AS dim,
                  CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xi
                FROM e, range(1, 4097) r(i) WHERE i <= len(v)),
          tri AS (SELECT a.dim AS dim_a, b.dim AS dim_b,
                    CAST(floor(sum(a.xi * b.xi)::DOUBLE / count(*)
                      - (sum(a.xi)::DOUBLE / count(*))
                        * (sum(b.xi)::DOUBLE / count(*))) AS BIGINT) AS a
                  FROM d a JOIN d b
                    ON a.vec_id = b.vec_id AND a.dim <= b.dim
                  GROUP BY 1, 2),
          mat AS (SELECT dim_a AS i, dim_b AS j, a FROM tri
                  UNION ALL
                  SELECT dim_b, dim_a, a FROM tri WHERE dim_a <> dim_b),
          v0 AS (SELECT DISTINCT i AS dim, CAST(100000 AS BIGINT) AS v
                 FROM mat)"""
    val iters = (1 to 6).map { k =>
      s"""u$k AS (SELECT mat.i, CAST(sum(mat.a * p.v) AS BIGINT) AS u
                  FROM mat JOIN v${k - 1} p ON mat.j = p.dim
                  GROUP BY mat.i),
          s$k AS (SELECT CAST(greatest(
                    (max(abs(u)) + 99999) // 100000, 1) AS BIGINT)
                    AS s FROM u$k),
          v$k AS (SELECT i AS dim,
                    CAST(CASE WHEN u < 0 THEN -(abs(u) // s)
                         ELSE u // s END AS BIGINT) AS v
                  FROM u$k, s$k)"""
    }.mkString(",\n")
    base + ",\n" + iters +
      "\nSELECT dim, v FROM v6 ORDER BY dim"
  }

  /** Three unrolled label-diffusion steps (the Spark side is the same
    * fixed-step fold over the memoized graph). Weights stay
    * non-negative, so plain `//` matches Spark DIV; sums cast back to
    * BIGINT for the HUGEINT/pandas reason documented on pcaPowerSql. */
  private val labelPropSql: String = {
    val base =
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
          p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
                  CAST(round(list_cosine_similarity(a.v, b.v) * 10000)
                    AS BIGINT) AS sim_bp
                FROM v a JOIN v b ON a.vec_id <> b.vec_id),
          r AS (SELECT src, dst, sim_bp,
                  row_number() OVER (PARTITION BY src
                    ORDER BY sim_bp DESC, dst ASC) AS rank
                FROM p),
          e AS MATERIALIZED (
                SELECT src, dst, sim_bp FROM r WHERE rank <= 5),
          seeds AS MATERIALIZED (
                SELECT vec_id, CAST(label AS BIGINT) AS l,
                  CAST(100000 AS BIGINT) AS w
                FROM embeddings WHERE vec_id % 5 = 0),
          w0 AS (SELECT * FROM seeds)"""
    val iters = (1 to 3).map { k =>
      s"""d$k AS (SELECT e.src AS vec_id, p.l,
                    CAST(sum(e.sim_bp * p.w) AS BIGINT) AS w
                  FROM e JOIN w${k - 1} p ON e.dst = p.vec_id
                  GROUP BY 1, 2),
          a$k AS MATERIALIZED (
                  SELECT vec_id, l, CAST(sum(w) AS BIGINT) AS w
                  FROM (SELECT * FROM d$k
                        UNION ALL SELECT * FROM seeds) u
                  GROUP BY 1, 2),
          s$k AS (SELECT CAST(greatest((max(w) + 99999) // 100000, 1)
                    AS BIGINT) AS s FROM a$k),
          w$k AS (SELECT vec_id, l,
                    CAST(CASE WHEN w < 0 THEN -(abs(w) // s)
                         ELSE w // s END AS BIGINT) AS w
                  FROM a$k, s$k)"""
    }.mkString(",\n")
    base + ",\n" + iters + """,
          ranked AS (SELECT vec_id, l, w,
                       row_number() OVER (PARTITION BY vec_id
                         ORDER BY w DESC, l ASC) AS rn
                     FROM w3),
          truth AS (SELECT vec_id, CAST(label AS BIGINT) AS true_label
                    FROM embeddings)
          SELECT r.vec_id, r.l AS pred_label, r.w AS weight,
                 CAST(r.l = t.true_label AS BIGINT) AS correct
          FROM ranked r JOIN truth t ON r.vec_id = t.vec_id
          WHERE rn = 1 ORDER BY r.vec_id"""
  }

  /** Four unrolled seeded-PageRank rounds over the kNN graph — the same
    * overflow-safe damping reduction as GraphQueries' pagerankSteps,
    * with restart mass only on the probe seeds (ranks are non-negative
    * throughout, so `//` == Spark DIV). */
  // lazy: references detGraphCtes, which is declared further down the
  // object body (a strict val here would read null at init time)
  private lazy val pprExpandSql: String = {
    val damp = 8500L
    val scale = 1000000L
    val base = scale * (10000 - damp) / 10000
    // round 12: the graph is the det-LSH kNN relation (detGraphCtes —
    // the same replay ann_knn_graph shares), not the exact n² pair
    // relation; seeds stay graph-node % 50
    val baseCtes =
      s"""WITH $detGraphCtes,
          eg AS MATERIALIZED (
                SELECT DISTINCT src, dst FROM r WHERE rank <= 5),
          outd AS MATERIALIZED (
                SELECT src, CAST(count(*) AS BIGINT) AS od
                FROM eg GROUP BY src),
          sn AS MATERIALIZED (
                SELECT node, CAST(CASE WHEN node % 50 = 0 THEN 1 ELSE 0
                  END AS BIGINT) AS is_seed
                FROM (SELECT src AS node FROM eg
                      UNION SELECT dst FROM eg)),""" +
        s"""
          r0 AS (SELECT node, is_seed,
                   CAST(is_seed * $scale AS BIGINT) AS rank FROM sn)"""
    val steps = (1 to 4).map { i =>
      s"""c$i AS (SELECT eg.dst AS node,
                    CAST(sum(r${i - 1}.rank // outd.od) AS BIGINT) AS csum
                  FROM eg
                  JOIN outd ON eg.src = outd.src
                  JOIN r${i - 1} ON r${i - 1}.node = eg.src
                  GROUP BY eg.dst),
          r$i AS MATERIALIZED (
                  SELECT n.node, n.is_seed,
                    CAST(n.is_seed * $base
                       + (coalesce(c.csum, 0) // 10000) * $damp
                       + ((coalesce(c.csum, 0) % 10000) * $damp) // 10000
                     AS BIGINT) AS rank
                  FROM sn n LEFT JOIN c$i c ON n.node = c.node)"""
    }.mkString(",\n")
    baseCtes + ",\n" + steps +
      "\nSELECT node, rank FROM r4 ORDER BY node"
  }

  /** Shared CTE prefix of the linear-probe oracles: labeled micro-unit
    * coords, covariance matrix DIV 100 (sign-split — DuckDB // floors,
    * the kernel truncates), cross-covariance, Gershgorin bound, and the 8
    * unrolled Richardson steps (the independent replay of the driver
    * kernel in Ann.linearProbe). Sums cast back to BIGINT for the
    * HUGEINT/pandas reason documented on pcaPowerSql. */
  private val probeCtes: String = {
    val base =
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  CAST(CASE WHEN label = 0 THEN 1 ELSE -1 END AS BIGINT)
                    AS y
           FROM embeddings),
          d AS (SELECT vec_id, y, i - 1 AS dim,
                  CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xi
                FROM e, range(1, 4097) r(i) WHERE i <= len(v)),
          tri AS (SELECT a.dim AS dim_a, b.dim AS dim_b,
                    CAST(floor(sum(a.xi * b.xi)::DOUBLE / count(*)
                      - (sum(a.xi)::DOUBLE / count(*))
                        * (sum(b.xi)::DOUBLE / count(*))) AS BIGINT) AS cov_u
                  FROM d a JOIN d b
                    ON a.vec_id = b.vec_id AND a.dim <= b.dim
                  GROUP BY 1, 2),
          mat AS MATERIALIZED (
                SELECT i, j, CAST(CASE WHEN cov_u < 0
                      THEN -((-cov_u) // 100)
                      ELSE cov_u // 100 END AS BIGINT) AS a
                FROM (SELECT dim_a AS i, dim_b AS j, cov_u FROM tri
                      UNION ALL
                      SELECT dim_b, dim_a, cov_u FROM tri
                      WHERE dim_a <> dim_b)),
          cvec AS MATERIALIZED (
                SELECT dim, CAST(floor(sum(xi * y)::DOUBLE / count(*)
                    - (sum(xi)::DOUBLE / count(*))
                      * (sum(y)::DOUBLE / count(*))) AS BIGINT) AS c
                FROM d GROUP BY dim),
          gersh AS (SELECT CAST(greatest(max(rs), 1) AS BIGINT) AS s
                    FROM (SELECT i, sum(abs(a)) AS rs FROM mat
                          GROUP BY i)),
          w0 AS (SELECT dim, CAST(0 AS BIGINT) AS w FROM cvec)"""
    val iters = (1 to 8).map { k =>
      s"""cw$k AS (SELECT mat.i AS dim,
                    CAST(sum(mat.a * p.w) AS BIGINT) AS cw
                  FROM mat JOIN w${k - 1} p ON mat.j = p.dim
                  GROUP BY mat.i),
          r$k AS (SELECT c.dim,
                    CAST(c.c * 10000000000 - cw.cw AS BIGINT) AS r
                  FROM cvec c JOIN cw$k cw ON c.dim = cw.dim),
          w$k AS (SELECT r$k.dim,
                    CAST(least(1000000, greatest(-1000000,
                      p.w + CASE WHEN r < 0 THEN -((-r) // s)
                            ELSE r // s END)) AS BIGINT) AS w
                  FROM r$k JOIN w${k - 1} p ON r$k.dim = p.dim, gersh)"""
    }.mkString(",\n")
    base + ",\n" + iters
  }

  private val probeSql: String =
    probeCtes + "\nSELECT dim, w FROM w8 ORDER BY dim"

  private val probeEvalSql: String =
    probeCtes + """,
          mu AS (SELECT dim,
                   CAST(sum(xi) AS BIGINT) // CAST(count(*) AS BIGINT)
                     AS mu
                 FROM d GROUP BY dim),
          sc AS (SELECT d.vec_id, d.y,
                   CAST(sum((d.xi - mu.mu) * w8.w) AS BIGINT) AS score
                 FROM d JOIN mu ON d.dim = mu.dim
                        JOIN w8 ON d.dim = w8.dim
                 GROUP BY d.vec_id, d.y)
          SELECT y AS true_y,
                 CAST(CASE WHEN score >= 0 THEN 1 ELSE -1 END AS BIGINT)
                   AS pred_y,
                 CAST(count(*) AS BIGINT) AS n
          FROM sc GROUP BY 1, 2 ORDER BY 1, 2"""

  /** MMR oracle: pool + pair sims, then the 4 greedy steps unrolled
    * (sel1 is plain top-1 by relevance; each step excludes the selected
    * set, maxes pair similarity against it, and ranks the integer MMR
    * score with the same (mmr desc, cand_id asc) tie rule as the Spark
    * fold). */
  private val mmrSql: String = {
    val base =
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
          q AS (SELECT vec_id AS query_id, v AS qv FROM e
                WHERE vec_id % 50 = 0 AND vec_id < 2000),
          c AS (SELECT vec_id AS cand_id, v AS cv FROM e),
          r0 AS (SELECT query_id, cand_id, cv,
                   CAST(round(list_cosine_similarity(qv, cv) * 10000)
                     AS BIGINT) AS rel_bp,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY CAST(round(list_cosine_similarity(qv, cv)
                       * 10000) AS BIGINT) DESC, cand_id ASC) AS rr
                 FROM q JOIN c ON query_id <> cand_id),
          rel AS MATERIALIZED (
                SELECT query_id, cand_id, rel_bp, cv FROM r0
                WHERE rr <= 20),
          pairs AS MATERIALIZED (
                SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
                  CAST(round(list_cosine_similarity(a.cv, b.cv) * 10000)
                    AS BIGINT) AS pair_bp
                FROM rel a JOIN rel b
                  ON a.query_id = b.query_id
                 AND a.cand_id <> b.cand_id),
          sel1 AS (SELECT query_id, CAST(1 AS BIGINT) AS pick_rank,
                     cand_id, CAST(7 * rel_bp AS BIGINT) AS mmr
                   FROM (SELECT query_id, cand_id, rel_bp,
                           row_number() OVER (PARTITION BY query_id
                             ORDER BY rel_bp DESC, cand_id ASC) AS rn
                         FROM rel)
                   WHERE rn = 1)"""
    val steps = (2 to 5).map { i =>
      s"""ms$i AS (SELECT p.query_id, p.a_id AS cand_id,
                    max(p.pair_bp) AS maxsim
                  FROM pairs p JOIN sel${i - 1} s
                    ON p.query_id = s.query_id AND p.b_id = s.cand_id
                  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
                                    WHERE x.query_id = p.query_id
                                      AND x.cand_id = p.a_id)
                  GROUP BY 1, 2),
          pk$i AS (SELECT query_id, CAST($i AS BIGINT) AS pick_rank,
                     cand_id, CAST(mmr AS BIGINT) AS mmr
                   FROM (SELECT m.query_id, m.cand_id,
                           7 * r.rel_bp - 3 * m.maxsim AS mmr,
                           row_number() OVER (PARTITION BY m.query_id
                             ORDER BY 7 * r.rel_bp - 3 * m.maxsim DESC,
                                      m.cand_id ASC) AS rn
                         FROM ms$i m JOIN rel r
                           ON m.query_id = r.query_id
                          AND m.cand_id = r.cand_id)
                   WHERE rn = 1),
          sel$i AS (SELECT * FROM sel${i - 1}
                    UNION ALL SELECT * FROM pk$i)"""
    }.mkString(",\n")
    base + ",\n" + steps +
      "\nSELECT query_id, pick_rank, cand_id, mmr FROM sel5" +
      "\nORDER BY query_id, pick_rank"
  }

  /** CTE chain replaying deterministic LSH candidate pairs over the
    * embeddings table: integer micro-unit coordinates, md5-Rademacher
    * sign planes (16 tables, bits = integer-exact autoBits recomputed
    * from count(*) via printf('%b') bit length — BIGINT cast required,
    * HUGEINT formats wrong), per-table sign-word buckets, distinct
    * co-bucketed pairs. Ends at `pr` (ia < ib) with `e` (vec_id, v)
    * in scope; shared by the kNN-graph oracles here and
    * DedupQueries' dedup_embedding_cosine. */
  private[queries] val detBucketPairCtes: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          bb AS (SELECT CASE WHEN (count(*) + 255) // 256 <= 1 THEN 1
                   ELSE least(30, length(printf('%b',
                     CAST((count(*) + 255) // 256 - 1 AS BIGINT)))) END
                   AS bits
                 FROM e),
          d AS (SELECT vec_id, i - 1 AS dim,
                  CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xi
                FROM e, range(1, 4097) ri(i) WHERE i <= len(v)),
          pl AS (SELECT vec_id, t, p,
                   sum(CASE WHEN substring(md5(t::VARCHAR || ':'
                         || p::VARCHAR || ':' || dim::VARCHAR), 1, 1)
                         >= '8'
                       THEN xi ELSE -xi END) AS dot
                 FROM d, range(0, 16) rt(t), range(0, 30) rp(p), bb
                 WHERE p < bits
                 GROUP BY vec_id, t, p),
          b AS (SELECT vec_id, t,
                  sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p)
                      ELSE 0 END) AS bucket
                FROM pl GROUP BY vec_id, t),
          pr AS (SELECT DISTINCT a.vec_id AS ia, c.vec_id AS ib
                 FROM b a JOIN b c USING (t, bucket)
                 WHERE a.vec_id < c.vec_id)"""

  /** [[detBucketPairCtes]] extended with exact integer-bp cosines on
    * the candidates and the mirrored ranking — replays [[knn5Det]].
    * Ends at `r` (src, dst, sim_bp, rank); shared by the
    * ann_knn_graph and ann_knn_components oracles. */
  private val detGraphCtes: String =
    detBucketPairCtes + """,
          sm AS (SELECT ia, ib,
                   CAST(round(list_cosine_similarity(ea.v, eb.v) * 10000)
                     AS BIGINT) AS sim_bp
                 FROM pr JOIN e ea ON pr.ia = ea.vec_id
                         JOIN e eb ON pr.ib = eb.vec_id),
          dr AS (SELECT ia AS src, ib AS dst, sim_bp FROM sm
                 UNION ALL SELECT ib, ia, sim_bp FROM sm),
          r AS (SELECT src, dst, sim_bp,
                  row_number() OVER (PARTITION BY src
                    ORDER BY sim_bp DESC, dst ASC) AS rank
                FROM dr)"""

  /** The SQ8 end-to-end replay, shared verbatim by ann_sq8_det_topk
    * and ann_sq8_served_topk (the serve path is output-identical by
    * construction). */
  private val sq8DetTopKSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
          d AS (SELECT vec_id, i - 1 AS dim,
                  CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xi
                FROM e, range(1, 4097) ri(i) WHERE i <= len(v)),
          r AS (SELECT dim, min(xi) AS vmin, max(xi) AS vmax
                FROM d GROUP BY 1),
          c AS (SELECT vec_id, dim,
                  CASE WHEN vmax > vmin
                    THEN ((xi - vmin) * 255) // (vmax - vmin)
                    ELSE CAST(0 AS BIGINT) END AS code
                FROM d JOIN r USING (dim)),
          q AS (SELECT vec_id, dim, xi FROM d
                WHERE vec_id % 50 = 0 AND vec_id < 2000),
          ad AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   sum((q.xi * 255
                        - (r.vmin * 255 + c.code * (r.vmax - r.vmin)))
                     * (q.xi * 255
                        - (r.vmin * 255 + c.code * (r.vmax - r.vmin))))
                     AS adc
                 FROM q JOIN c ON q.dim = c.dim
                        AND q.vec_id <> c.vec_id
                      JOIN r ON r.dim = c.dim
                 GROUP BY 1, 2),
          sh AS (SELECT query_id, cand_id FROM (
                   SELECT query_id, cand_id, row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY adc ASC, cand_id ASC) AS srk
                   FROM ad) x WHERE srk <= 32),
          sc AS (SELECT query_id, cand_id,
                   CAST(round(list_cosine_similarity(eq.v, ec.v) * 10000)
                     AS BIGINT) AS sim_bp
                 FROM sh JOIN e eq ON sh.query_id = eq.vec_id
                         JOIN e ec ON sh.cand_id = ec.vec_id),
          rkp AS (SELECT query_id, cand_id, sim_bp,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY sim_bp DESC, cand_id ASC) AS rank
                  FROM sc)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, sim_bp
          FROM rkp WHERE rank <= 5 ORDER BY query_id, rank"""

  /** The det-IVF end-to-end replay, shared verbatim by
    * ann_ivf_det_topk and ann_ivf_served_topk (the serve path is
    * output-identical by construction). */
  private val ivfDetTopKSql: String =
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                           embedding::DOUBLE[] AS v
                    FROM embeddings),
          d AS (SELECT vec_id, label, i - 1 AS dim,
                  CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xi
                FROM e, range(1, 4097) ri(i) WHERE i <= len(v)),
          cent AS (SELECT label, dim,
                     CAST((2 * (sum(xi) + 2000000 * count(*)) + count(*))
                          // (2 * count(*)) - 2000000 AS BIGINT) AS ci
                   FROM d GROUP BY 1, 2),
          cn AS (SELECT label, sum(ci * ci) AS nc FROM cent GROUP BY 1),
          vn AS (SELECT vec_id, sum(xi * xi) AS nv FROM d GROUP BY 1),
          dt AS (SELECT d.vec_id, cent.label, sum(xi * ci) AS dot
                 FROM d JOIN cent USING (dim) GROUP BY 1, 2),
          smc AS (SELECT vec_id, label,
                    CASE WHEN nv > 0 AND nc > 0
                      THEN CAST(floor(10000.0 * dot
                             / (sqrt(nv) * sqrt(nc))) AS BIGINT)
                      ELSE 0 END AS cell_bp
                  FROM dt JOIN cn USING (label) JOIN vn USING (vec_id)),
          rkc AS (SELECT vec_id, label,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY cell_bp DESC, label ASC) AS rk
                  FROM smc),
          home AS (SELECT vec_id AS cand_id, label AS cell
                   FROM rkc WHERE rk = 1),
          probes AS (SELECT vec_id AS query_id, label AS cell
                     FROM rkc WHERE rk <= 2 AND vec_id % 50 = 0 AND vec_id < 2000),
          cnd AS (SELECT DISTINCT query_id, cand_id
                  FROM probes JOIN home USING (cell)
                  WHERE query_id <> cand_id),
          sc AS (SELECT query_id, cand_id,
                   CAST(round(list_cosine_similarity(eq.v, ec.v) * 10000)
                     AS BIGINT) AS sim_bp
                 FROM cnd JOIN e eq ON cnd.query_id = eq.vec_id
                          JOIN e ec ON cnd.cand_id = ec.vec_id),
          rk2 AS (SELECT query_id, cand_id, sim_bp,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY sim_bp DESC, cand_id ASC) AS rank
                  FROM sc)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, sim_bp
          FROM rk2 WHERE rank <= 5 ORDER BY query_id, rank"""

  /** The √n-policy det-IVF replay, shared verbatim by
    * ann_ivf_nlist_topk and ann_ivf_nlist_served_topk (the serve path
    * is output-identical by construction). Structure: recompute the
    * policy s = 2^g integer-exactly from the same counts (gsel — the
    * autoBitsExact pattern), derive each vector's subkey from the
    * sign pattern of its first g micro-unit coordinates against its
    * LABEL's integer centroid (cent1 restricted to dim < g equals the
    * prefix centroids the engine computes), re-label as label·s +
    * subkey, then the standard det-IVF CTE chain over the refined
    * labels. */
  private val ivfNlistTopKSql: String =
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                           embedding::DOUBLE[] AS v
                    FROM embeddings),
          pol AS (SELECT (SELECT count(*) FROM e) AS n,
                         (SELECT count(DISTINCT label) FROM e) AS nl),
          gsel AS (SELECT CAST(coalesce(min(g), 10) AS BIGINT) AS g
                   FROM pol, range(0, 11) r(g)
                   WHERE CAST(nl * (1 << g) AS BIGINT)
                         * CAST(nl * (1 << g) AS BIGINT) >= n),
          d0 AS (SELECT vec_id, label, i - 1 AS dim,
                   CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xi
                 FROM e, range(1, 4097) ri(i) WHERE i <= len(v)),
          cent1 AS (SELECT label, dim,
                      CAST((2 * (sum(xi) + 2000000 * count(*)) + count(*))
                           // (2 * count(*)) - 2000000 AS BIGINT) AS ci
                    FROM d0 GROUP BY 1, 2),
          sub AS (SELECT d0.vec_id,
                    CAST(sum(CASE WHEN xi > ci
                        THEN (CAST(1 AS BIGINT) << d0.dim)
                        ELSE 0 END) AS BIGINT) AS sub
                  FROM d0 JOIN cent1 USING (label, dim), gsel
                  WHERE d0.dim < gsel.g
                  GROUP BY 1),
          e2 AS (SELECT e.vec_id,
                   e.label * (CAST(1 AS BIGINT) << gsel.g)
                     + coalesce(sub.sub, 0) AS label,
                   e.v
                 FROM e CROSS JOIN gsel
                 LEFT JOIN sub ON e.vec_id = sub.vec_id),
          d AS (SELECT vec_id, label, i - 1 AS dim,
                  CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xi
                FROM e2, range(1, 4097) ri(i) WHERE i <= len(v)),
          cent AS (SELECT label, dim,
                     CAST((2 * (sum(xi) + 2000000 * count(*)) + count(*))
                          // (2 * count(*)) - 2000000 AS BIGINT) AS ci
                   FROM d GROUP BY 1, 2),
          cn AS (SELECT label, sum(ci * ci) AS nc FROM cent GROUP BY 1),
          vn AS (SELECT vec_id, sum(xi * xi) AS nv FROM d GROUP BY 1),
          dt AS (SELECT d.vec_id, cent.label, sum(xi * ci) AS dot
                 FROM d JOIN cent USING (dim) GROUP BY 1, 2),
          smc AS (SELECT vec_id, label,
                    CASE WHEN nv > 0 AND nc > 0
                      THEN CAST(floor(10000.0 * dot
                             / (sqrt(nv) * sqrt(nc))) AS BIGINT)
                      ELSE 0 END AS cell_bp
                  FROM dt JOIN cn USING (label) JOIN vn USING (vec_id)),
          rkc AS (SELECT vec_id, label,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY cell_bp DESC, label ASC) AS rk
                  FROM smc),
          home AS (SELECT vec_id AS cand_id, label AS cell
                   FROM rkc WHERE rk = 1),
          probes AS (SELECT vec_id AS query_id, label AS cell
                     FROM rkc WHERE rk <= 2 AND vec_id % 50 = 0 AND vec_id < 2000),
          cnd AS (SELECT DISTINCT query_id, cand_id
                  FROM probes JOIN home USING (cell)
                  WHERE query_id <> cand_id),
          sc AS (SELECT query_id, cand_id,
                   CAST(round(list_cosine_similarity(eq.v, ec.v) * 10000)
                     AS BIGINT) AS sim_bp
                 FROM cnd JOIN e eq ON cnd.query_id = eq.vec_id
                          JOIN e ec ON cnd.cand_id = ec.vec_id),
          rk2 AS (SELECT query_id, cand_id, sim_bp,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY sim_bp DESC, cand_id ASC) AS rank
                  FROM sc)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, sim_bp
          FROM rk2 WHERE rank <= 5 ORDER BY query_id, rank"""

  /** The det IVF-PQ end-to-end replay, shared verbatim by
    * ann_ivf_pq_det_topk and ann_ivf_pq_served_topk (the serve path
    * is output-identical by construction). */
  private val ivfPqDetTopKSql: String =
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                           embedding::DOUBLE[] AS v
                    FROM embeddings),
          d AS (SELECT vec_id, label, i - 1 AS dim,
                  CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xi
                FROM e, range(1, 4097) ri(i) WHERE i <= len(v)),
          cent AS (SELECT label, dim,
                     CAST((2 * (sum(xi) + 2000000 * count(*)) + count(*))
                          // (2 * count(*)) - 2000000 AS BIGINT) AS ci
                   FROM d GROUP BY 1, 2),
          cn AS (SELECT label, sum(ci * ci) AS nc FROM cent GROUP BY 1),
          vn AS (SELECT vec_id, sum(xi * xi) AS nv FROM d GROUP BY 1),
          dt AS (SELECT d.vec_id, cent.label, sum(xi * ci) AS dot
                 FROM d JOIN cent USING (dim) GROUP BY 1, 2),
          smc AS (SELECT vec_id, label,
                    CASE WHEN nv > 0 AND nc > 0
                      THEN CAST(floor(10000.0 * dot
                             / (sqrt(nv) * sqrt(nc))) AS BIGINT)
                      ELSE 0 END AS cell_bp
                  FROM dt JOIN cn USING (label) JOIN vn USING (vec_id)),
          rkc AS (SELECT vec_id, label,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY cell_bp DESC, label ASC) AS rk
                  FROM smc),
          home AS (SELECT vec_id AS cand_id, label AS cell
                   FROM rkc WHERE rk = 1),
          probes AS (SELECT vec_id AS query_id, label AS cell
                     FROM rkc WHERE rk <= 2 AND vec_id % 50 = 0 AND vec_id < 2000),
          cnd AS (SELECT DISTINCT query_id, cand_id
                  FROM probes JOIN home USING (cell)
                  WHERE query_id <> cand_id),
          pd AS (SELECT vec_id, dim // 8 AS j, dim, xi FROM d),
          seeds AS (SELECT vec_id,
                      CAST(row_number() OVER (
                        ORDER BY md5('pq:' || vec_id::VARCHAR), vec_id)
                        AS BIGINT) AS cw
                    FROM e
                    ORDER BY md5('pq:' || vec_id::VARCHAR), vec_id
                    LIMIT 16),
          cb AS (SELECT cw, j, dim, xi AS ci
                 FROM pd JOIN seeds USING (vec_id)),
          ssd AS (SELECT pd.vec_id, pd.j, cb.cw,
                    sum((xi - ci) * (xi - ci)) AS ssd
                  FROM pd JOIN cb ON pd.j = cb.j AND pd.dim = cb.dim
                  GROUP BY 1, 2, 3),
          codes AS (SELECT vec_id AS cand_id, j, cw FROM (
                      SELECT vec_id, j, cw,
                        row_number() OVER (PARTITION BY vec_id, j
                          ORDER BY ssd ASC, cw ASC) AS rk
                      FROM ssd) x WHERE rk = 1),
          qlut AS (SELECT vec_id AS query_id, j, cw, ssd AS lut
                   FROM ssd WHERE vec_id % 50 = 0 AND vec_id < 2000),
          adc AS (SELECT c.query_id, c.cand_id,
                    CAST(sum(lut) AS BIGINT) AS adc
                  FROM cnd c
                  JOIN codes ON c.cand_id = codes.cand_id
                  JOIN qlut ON c.query_id = qlut.query_id
                           AND codes.j = qlut.j AND codes.cw = qlut.cw
                  GROUP BY 1, 2),
          sh AS (SELECT query_id, cand_id FROM (
                   SELECT query_id, cand_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY adc ASC, cand_id ASC) AS srk
                   FROM adc) x WHERE srk <= 32),
          sc AS (SELECT query_id, cand_id,
                   CAST(round(list_cosine_similarity(eq.v, ec.v) * 10000)
                     AS BIGINT) AS sim_bp
                 FROM sh JOIN e eq ON sh.query_id = eq.vec_id
                         JOIN e ec ON sh.cand_id = ec.vec_id),
          rkp AS (SELECT query_id, cand_id, sim_bp,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY sim_bp DESC, cand_id ASC) AS rank
                  FROM sc)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, sim_bp
          FROM rkp WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Generation-time seeded-ANN ground truth dir (tools/GenSeededTruth)
    * — fixtures for the five seeded families whose quantizer state is
    * engine-internal. Relative checked-in path resolves against the
    * working directory; GRAFT_ANNSEEDED_TRUTH overrides. */
  private val annSeededTruth = sys.env.getOrElse("GRAFT_ANNSEEDED_TRUTH",
    new java.io.File("data/annseeded").getAbsolutePath)

  /** The embeddings-corpus fingerprint the seeded-ANN fixtures key on:
    * md5 of the comma-joined per-vector micro-unit digests in vec_id
    * order (ids AND contents — any regeneration changes it). */
  private val embCorpusMd5Sql =
    """SELECT md5(string_agg(md5(array_to_string(list_transform(
         embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0
           + 0.5) AS BIGINT)), ',')), ',' ORDER BY vec_id))
       FROM embeddings"""

  val oracles: Map[String, String] = Map(
    "embed_drift_psi" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
          d AS (SELECT vec_id % 2 AS grp, i - 1 AS dim,
                  least(9, greatest(0,
                    CAST(floor((v[i] + 1.0) * 5.0) AS BIGINT))) AS b
                FROM e, range(1, 4097) r(i) WHERE i <= len(v)),
          c AS (SELECT dim, b, grp, count(*) AS cnt
                FROM d GROUP BY 1, 2, 3),
          g AS (SELECT vec_id % 2 AS grp, count(*) AS n
                FROM embeddings GROUP BY 1),
          grid AS (SELECT dim, b, grp
                   FROM (SELECT DISTINCT dim FROM c),
                        range(0, 10) r(b), range(0, 2) q(grp)),
          j AS (SELECT grid.dim, grid.b, grid.grp,
                  coalesce(c.cnt, 0) AS cnt
                FROM grid LEFT JOIN c
                  ON grid.dim = c.dim AND grid.b = c.b
                 AND grid.grp = c.grp),
          p AS (SELECT j.dim, j.b,
                  max(CASE WHEN j.grp = 0
                      THEN (cnt + 1)::DOUBLE / (n + 10) END) AS p0,
                  max(CASE WHEN j.grp = 1
                      THEN (cnt + 1)::DOUBLE / (n + 10) END) AS p1
                FROM j JOIN g ON j.grp = g.grp GROUP BY 1, 2),
          t AS (SELECT dim,
                  CAST(floor((p0 - p1) * ln(p0 / p1) * 1000000000
                    + 0.5) AS BIGINT) AS term_n
                FROM p)
          SELECT dim, CAST(sum(term_n) AS BIGINT) AS psi_n
          FROM t GROUP BY dim ORDER BY dim""",

    "ann_mmr_rerank" -> mmrSql,
    "embed_linear_probe" -> probeSql,
    "embed_probe_eval" -> probeEvalSql,
    "ann_ppr_expand" -> pprExpandSql,
    "ann_label_propagation" -> labelPropSql,
    "ann_brute_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000),
          c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv
                FROM embeddings),
          r AS (SELECT query_id, cand_id,
                       list_cosine_similarity(qv, cv) AS s,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY list_cosine_similarity(qv, cv) DESC,
                                  cand_id ASC) AS rank
                FROM q CROSS JOIN c
                WHERE query_id <> cand_id)
          SELECT query_id, rank, cand_id, round(s, 4) AS sim
          FROM r WHERE rank <= 5
          ORDER BY query_id, rank""",

    "ann_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                           label AS q_label
                    FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000),
          c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv,
                       label AS neg_label
                FROM embeddings),
          r AS (SELECT query_id, cand_id,
                       CAST(neg_label AS BIGINT) AS neg_label,
                       list_cosine_similarity(qv, cv) AS s,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY list_cosine_similarity(qv, cv) DESC,
                                  cand_id ASC) AS rank
                FROM q CROSS JOIN c
                WHERE query_id <> cand_id AND neg_label <> q_label)
          SELECT query_id, rank, cand_id, neg_label, round(s, 4) AS sim
          FROM r WHERE rank <= 5
          ORDER BY query_id, rank""",

    "ann_range_cosine" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000),
          c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv
                FROM embeddings),
          r AS (SELECT query_id, cand_id,
                       CAST(round(list_cosine_similarity(qv, cv) * 10000)
                         AS BIGINT) AS sim_bp
                FROM q CROSS JOIN c
                WHERE query_id <> cand_id)
          SELECT query_id, cand_id, sim_bp
          FROM r WHERE sim_bp >= 1500
          ORDER BY query_id, cand_id""",

    // The five seeded ANN families (engine-side k-means quantizers /
    // Gaussian hyperplanes — no closed-form SQL replay exists) are
    // hash-checked against GENERATION-TIME fixtures (tools/
    // GenSeededTruth, the deflate pattern): expected rows pinned once
    // per corpus, keyed by the embeddings-table fingerprint — md5 of
    // the comma-joined per-vector micro-unit digests in vec_id order —
    // so a regenerated corpus drops every fixture row and fails the
    // row-count check loudly. The det twins (ann_ivf_det_topk etc.)
    // remain the closed-form-replay verification surface.
    "ann_knn_graph_lsh" ->
      s"""SELECT f.vec_id, f.rank, f.sim_bp, f.neighbor_id
          FROM read_parquet('$annSeededTruth/knn_graph_lsh.parquet/*.parquet') f
          WHERE f.corpus_md5 = ($embCorpusMd5Sql)
          ORDER BY f.vec_id, f.rank""",

    "ann_knn_components_lsh" ->
      s"""SELECT f.node, f.component
          FROM read_parquet('$annSeededTruth/knn_components_lsh.parquet/*.parquet') f
          WHERE f.corpus_md5 = ($embCorpusMd5Sql)
          ORDER BY f.node""",

    "ann_ivf_topk" ->
      s"""SELECT f.query_id, f.rank, f.cand_id, f.sim
          FROM read_parquet('$annSeededTruth/ivf_topk.parquet/*.parquet') f
          WHERE f.corpus_md5 = ($embCorpusMd5Sql)
          ORDER BY f.query_id, f.rank""",

    "ann_pq_topk" ->
      s"""SELECT f.query_id, f.rank, f.cand_id, f.sim
          FROM read_parquet('$annSeededTruth/pq_topk.parquet/*.parquet') f
          WHERE f.corpus_md5 = ($embCorpusMd5Sql)
          ORDER BY f.query_id, f.rank""",

    "ann_ivf_pq_topk" ->
      s"""SELECT f.query_id, f.rank, f.cand_id, f.sim
          FROM read_parquet('$annSeededTruth/ivf_pq_topk.parquet/*.parquet') f
          WHERE f.corpus_md5 = ($embCorpusMd5Sql)
          ORDER BY f.query_id, f.rank""",

    // Replays the det-PQ index end-to-end: md5-ranked 16-vector sampled
    // codebook, 8-wide subspaces, exact integer squared-distance
    // assignment, ADC via the query's own (j, cw) LUT rows, 32-deep
    // shortlist, exact integer-bp rerank.
    "ann_pq_det_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
          d AS (SELECT vec_id, i - 1 AS dim, (i - 1) // 8 AS j,
                  CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xi
                FROM e, range(1, 4097) ri(i) WHERE i <= len(v)),
          seeds AS (SELECT vec_id,
                      CAST(row_number() OVER (
                        ORDER BY md5('pq:' || vec_id::VARCHAR), vec_id)
                        AS BIGINT) AS cw
                    FROM e
                    ORDER BY md5('pq:' || vec_id::VARCHAR), vec_id
                    LIMIT 16),
          cb AS (SELECT cw, j, dim, xi AS ci
                 FROM d JOIN seeds USING (vec_id)),
          ssd AS (SELECT d.vec_id, d.j, cb.cw,
                    sum((xi - ci) * (xi - ci)) AS ssd
                  FROM d JOIN cb ON d.j = cb.j AND d.dim = cb.dim
                  GROUP BY 1, 2, 3),
          codes AS (SELECT vec_id AS cand_id, j, cw FROM (
                      SELECT vec_id, j, cw,
                        row_number() OVER (PARTITION BY vec_id, j
                          ORDER BY ssd ASC, cw ASC) AS rk
                      FROM ssd) x WHERE rk = 1),
          qlut AS (SELECT vec_id AS query_id, j, cw, ssd AS lut
                   FROM ssd WHERE vec_id % 50 = 0 AND vec_id < 2000),
          adc AS (SELECT query_id, cand_id,
                    CAST(sum(lut) AS BIGINT) AS adc
                  FROM codes JOIN qlut USING (j, cw)
                  WHERE query_id <> cand_id GROUP BY 1, 2),
          sh AS (SELECT query_id, cand_id FROM (
                   SELECT query_id, cand_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY adc ASC, cand_id ASC) AS srk
                   FROM adc) x WHERE srk <= 32),
          sc AS (SELECT query_id, cand_id,
                   CAST(round(list_cosine_similarity(eq.v, ec.v) * 10000)
                     AS BIGINT) AS sim_bp
                 FROM sh JOIN e eq ON sh.query_id = eq.vec_id
                         JOIN e ec ON sh.cand_id = ec.vec_id),
          rkp AS (SELECT query_id, cand_id, sim_bp,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY sim_bp DESC, cand_id ASC) AS rank
                  FROM sc)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, sim_bp
          FROM rkp WHERE rank <= 5 ORDER BY query_id, rank""",

    // Replays the SQ8 scalar-quantizer chain end-to-end: per-dimension
    // [min, max] trained over micro-unit coordinates, byte codes via
    // non-negative integer division (// floors, Spark DIV truncates —
    // identical on non-negative operands), asymmetric distances in
    // 1/(255·10⁶) units (all BIGINT), 32-deep shortlist, exact
    // integer-bp rerank.
    "ann_sq8_det_topk" -> sq8DetTopKSql,

    // The persisted-index SQ8 serve path is output-identical to the
    // inline chain by construction (same integers through a parquet
    // round trip) — the SAME replay checks that persist -> load ->
    // serve loses nothing.
    "ann_sq8_served_topk" -> sq8DetTopKSql,
    "ann_sq8_delta_served_topk" -> sq8DetTopKSql,

    // Replays the Matryoshka funnel: 16-dim micro-unit prefix dots and
    // norms, floor-bp shortlist (sim DESC, cand ASC, 32 deep), exact
    // full-width integer-bp rerank — the same two-stage selection the
    // engine runs.
    "ann_matryoshka_funnel_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
          d AS (SELECT vec_id, i - 1 AS dim,
                  CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xi
                FROM e, range(1, 4097) ri(i)
                WHERE i <= len(v) AND i <= 16),
          nrm AS (SELECT vec_id, sum(xi * xi) AS n2 FROM d GROUP BY 1),
          q AS (SELECT vec_id, dim, xi FROM d
                WHERE vec_id % 50 = 0 AND vec_id < 2000),
          dt AS (SELECT q.vec_id AS query_id, d.vec_id AS cand_id,
                   sum(q.xi * d.xi) AS dot
                 FROM q JOIN d ON q.dim = d.dim AND q.vec_id <> d.vec_id
                 GROUP BY 1, 2),
          sm AS (SELECT query_id, cand_id,
                   CASE WHEN nq.n2 > 0 AND nc.n2 > 0
                     THEN CAST(floor(10000.0 * dot
                            / (sqrt(nq.n2) * sqrt(nc.n2))) AS BIGINT)
                     ELSE 0 END AS sim_pre
                 FROM dt JOIN nrm nq ON nq.vec_id = dt.query_id
                      JOIN nrm nc ON nc.vec_id = dt.cand_id),
          sh AS (SELECT query_id, cand_id FROM (
                   SELECT query_id, cand_id, row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY sim_pre DESC, cand_id ASC) AS srk
                   FROM sm) x WHERE srk <= 32),
          sc AS (SELECT query_id, cand_id,
                   CAST(round(list_cosine_similarity(eq.v, ec.v) * 10000)
                     AS BIGINT) AS sim_bp
                 FROM sh JOIN e eq ON sh.query_id = eq.vec_id
                         JOIN e ec ON sh.cand_id = ec.vec_id),
          rkp AS (SELECT query_id, cand_id, sim_bp,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY sim_bp DESC, cand_id ASC) AS rank
                  FROM sc)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, sim_bp
          FROM rkp WHERE rank <= 5 ORDER BY query_id, rank""",

    // Replays the Matryoshka eval: micro-unit prefix dots and norms,
    // the shared floor-bp affinity form, (sim DESC, cand ASC) top-5
    // per prefix width, overlap vs the full-width top-5, integer mean
    // in basis points. The full ranking is the m = 64 row (the
    // driver's embeddings are 64-dim at every SF).
    "embed_matryoshka_recall" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
          d AS (SELECT vec_id, i - 1 AS dim,
                  CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xi
                FROM e, range(1, 4097) ri(i) WHERE i <= len(v)),
          ms(m) AS (VALUES (8), (16), (32), (64)),
          nrm AS (SELECT ms.m, vec_id, sum(xi * xi) AS n2
                  FROM d JOIN ms ON d.dim < ms.m GROUP BY 1, 2),
          q AS (SELECT vec_id, dim, xi FROM d
                WHERE vec_id % 50 = 0 AND vec_id < 2000),
          dt AS (SELECT ms.m, q.vec_id AS query_id, d.vec_id AS cand_id,
                   sum(q.xi * d.xi) AS dot
                 FROM q JOIN d ON q.dim = d.dim AND q.vec_id <> d.vec_id
                      JOIN ms ON q.dim < ms.m
                 GROUP BY 1, 2, 3),
          sm AS (SELECT dt.m, query_id, cand_id,
                   CASE WHEN nq.n2 > 0 AND nc.n2 > 0
                     THEN CAST(floor(10000.0 * dot
                            / (sqrt(nq.n2) * sqrt(nc.n2))) AS BIGINT)
                     ELSE 0 END AS sim_bp
                 FROM dt JOIN nrm nq ON nq.m = dt.m
                        AND nq.vec_id = dt.query_id
                      JOIN nrm nc ON nc.m = dt.m
                        AND nc.vec_id = dt.cand_id),
          tops AS (SELECT m, query_id, cand_id FROM (
                     SELECT m, query_id, cand_id, row_number() OVER (
                       PARTITION BY m, query_id
                       ORDER BY sim_bp DESC, cand_id ASC) AS rk
                     FROM sm) x WHERE rk <= 5),
          ov AS (SELECT p.m, p.query_id,
                   count(f.cand_id) AS overlap
                 FROM tops p
                 LEFT JOIN tops f ON f.m = 64
                   AND f.query_id = p.query_id
                   AND f.cand_id = p.cand_id
                 WHERE p.m <> 64
                 GROUP BY 1, 2)
          SELECT CAST(m AS BIGINT) AS m,
                 count(*) AS queries,
                 CAST((10000 * sum(overlap)) // (5 * count(*)) AS BIGINT)
                   AS mean_overlap_bp
          FROM ov GROUP BY 1 ORDER BY m""",

    // The home-cell prefix of the det-IVF chain: per-label integer
    // centroids, affinity ranking, rank-1 cell per vector.
    "ann_ivf_home_cells" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                           embedding::DOUBLE[] AS v
                    FROM embeddings),
          d AS (SELECT vec_id, label, i - 1 AS dim,
                  CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xi
                FROM e, range(1, 4097) ri(i) WHERE i <= len(v)),
          cent AS (SELECT label, dim,
                     CAST((2 * (sum(xi) + 2000000 * count(*)) + count(*))
                          // (2 * count(*)) - 2000000 AS BIGINT) AS ci
                   FROM d GROUP BY 1, 2),
          cn AS (SELECT label, sum(ci * ci) AS nc FROM cent GROUP BY 1),
          vn AS (SELECT vec_id, sum(xi * xi) AS nv FROM d GROUP BY 1),
          dt AS (SELECT d.vec_id, cent.label, sum(xi * ci) AS dot
                 FROM d JOIN cent USING (dim) GROUP BY 1, 2),
          smc AS (SELECT vec_id, label,
                    CASE WHEN nv > 0 AND nc > 0
                      THEN CAST(floor(10000.0 * dot
                             / (sqrt(nv) * sqrt(nc))) AS BIGINT)
                      ELSE 0 END AS cell_bp
                  FROM dt JOIN cn USING (label) JOIN vn USING (vec_id)),
          rkc AS (SELECT vec_id, label,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY cell_bp DESC, label ASC) AS rk
                  FROM smc)
          SELECT vec_id, label AS cell FROM rkc WHERE rk = 1
          ORDER BY vec_id""",

    // Replays the det-IVF index end-to-end: per-label micro-unit
    // centroids, cell affinity floor(1e4*dot/(sqrt*sqrt)) on exact
    // integer dots, home cell = rank 1, queries probe rank <= 2, exact
    // integer-bp cosine top-5 on the probed candidates.
    "ann_ivf_det_topk" -> ivfDetTopKSql,
    "ann_ivf_nlist_topk" -> ivfNlistTopKSql,
    "ann_ivf_nlist_served_topk" -> ivfNlistTopKSql,

    // The persisted-index serve path is output-identical to the inline
    // det-IVF chain by construction (same integers through a parquet
    // round trip) — the SAME replay checks that persist → load → serve
    // loses nothing.
    "ann_ivf_served_topk" -> ivfDetTopKSql,

    // Pinned-version serve: version 0 holds the real index, a decoy
    // newer version holds an EMPTY routing table — hash-matching the
    // same replay proves the pinned reader never saw the decoy.
    "ann_ivf_pinned_topk" -> ivfDetTopKSql,

    // Delta-maintained serve: the chain view (compacted snapshot ∪
    // trailing delta) must reconstruct exactly the one-shot index, so
    // it shares the same replay.
    "ann_ivf_delta_served_topk" -> ivfDetTopKSql,


    // Replays the det IVF-PQ composition end-to-end: the det-IVF cell
    // chain (integer centroids, home/probe ranks) restricts the
    // candidate pairs, the det-PQ chain (md5-ranked codebook, integer
    // ssd) assigns codes and builds each query's ADC LUT, the ADC sum
    // runs over probed candidates only, and the shortlist reranks by
    // exact integer-bp cosine.
    "ann_ivf_pq_det_topk" -> ivfPqDetTopKSql,

    // The persisted-index IVF-PQ serve path is output-identical to the
    // inline det chain (quantizer, routing table, codebook, and codes
    // all round-trip as exact longs) — the SAME replay checks that
    // persist -> load -> serve loses nothing.
    "ann_ivf_pq_served_topk" -> ivfPqDetTopKSql,
    "ann_ivf_pq_delta_served_topk" -> ivfPqDetTopKSql,

    // Residual IVF-PQ: the same cell chain, then every vector coded as
    // its integer residual against its HOME centroid, the seed
    // codebook built from seed residuals, and one LUT per
    // (query, probed cell) from the query's residual against THAT
    // centroid; candidates score with the LUT of the cell they live in.
    "ann_ivf_pq_residual_det_topk" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                           embedding::DOUBLE[] AS v
                    FROM embeddings),
          d AS (SELECT vec_id, label, i - 1 AS dim,
                  CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xi
                FROM e, range(1, 4097) ri(i) WHERE i <= len(v)),
          cent AS (SELECT label, dim,
                     CAST((2 * (sum(xi) + 2000000 * count(*)) + count(*))
                          // (2 * count(*)) - 2000000 AS BIGINT) AS ci
                   FROM d GROUP BY 1, 2),
          cn AS (SELECT label, sum(ci * ci) AS nc FROM cent GROUP BY 1),
          vn AS (SELECT vec_id, sum(xi * xi) AS nv FROM d GROUP BY 1),
          dt AS (SELECT d.vec_id, cent.label, sum(xi * ci) AS dot
                 FROM d JOIN cent USING (dim) GROUP BY 1, 2),
          smc AS (SELECT vec_id, label,
                    CASE WHEN nv > 0 AND nc > 0
                      THEN CAST(floor(10000.0 * dot
                             / (sqrt(nv) * sqrt(nc))) AS BIGINT)
                      ELSE 0 END AS cell_bp
                  FROM dt JOIN cn USING (label) JOIN vn USING (vec_id)),
          rkc AS (SELECT vec_id, label,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY cell_bp DESC, label ASC) AS rk
                  FROM smc),
          home AS (SELECT vec_id AS cand_id, label AS cell
                   FROM rkc WHERE rk = 1),
          probes AS (SELECT vec_id AS query_id, label AS pcell
                     FROM rkc WHERE rk <= 2 AND vec_id % 50 = 0 AND vec_id < 2000),
          rd AS (SELECT d.vec_id, home.cell, d.dim // 8 AS j, d.dim,
                        xi - ci AS ri
                 FROM d JOIN home ON d.vec_id = home.cand_id
                 JOIN cent ON cent.label = home.cell
                          AND cent.dim = d.dim),
          seeds AS (SELECT vec_id,
                      CAST(row_number() OVER (
                        ORDER BY md5('pq:' || vec_id::VARCHAR), vec_id)
                        AS BIGINT) AS cw
                    FROM e
                    ORDER BY md5('pq:' || vec_id::VARCHAR), vec_id
                    LIMIT 16),
          cb AS (SELECT cw, j, dim, ri AS ci
                 FROM rd JOIN seeds USING (vec_id)),
          ssdc AS (SELECT rd.vec_id, rd.j, cb.cw,
                     sum((ri - cb.ci) * (ri - cb.ci)) AS ssd
                   FROM rd JOIN cb ON rd.j = cb.j AND rd.dim = cb.dim
                   GROUP BY 1, 2, 3),
          codes AS (SELECT vec_id AS cand_id, j, cw FROM (
                      SELECT vec_id, j, cw,
                        row_number() OVER (PARTITION BY vec_id, j
                          ORDER BY ssd ASC, cw ASC) AS rk
                      FROM ssdc) x WHERE rk = 1),
          qrd AS (SELECT p.query_id, p.pcell, d.dim // 8 AS j, d.dim,
                         xi - ci AS ri
                  FROM d JOIN probes p ON d.vec_id = p.query_id
                  JOIN cent ON cent.label = p.pcell
                           AND cent.dim = d.dim),
          qlut AS (SELECT query_id, pcell, qrd.j, cb.cw,
                     sum((ri - cb.ci) * (ri - cb.ci)) AS lut
                   FROM qrd JOIN cb ON qrd.j = cb.j AND qrd.dim = cb.dim
                   GROUP BY 1, 2, 3, 4),
          cndc AS (SELECT DISTINCT query_id, cand_id, cell
                   FROM probes JOIN home ON pcell = cell
                   WHERE query_id <> cand_id),
          adc AS (SELECT c.query_id, c.cand_id,
                    CAST(sum(lut) AS BIGINT) AS adc
                  FROM cndc c
                  JOIN codes ON c.cand_id = codes.cand_id
                  JOIN qlut ON c.query_id = qlut.query_id
                           AND c.cell = qlut.pcell
                           AND codes.j = qlut.j AND codes.cw = qlut.cw
                  GROUP BY 1, 2),
          sh AS (SELECT query_id, cand_id FROM (
                   SELECT query_id, cand_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY adc ASC, cand_id ASC) AS srk
                   FROM adc) x WHERE srk <= 32),
          sc AS (SELECT query_id, cand_id,
                   CAST(round(list_cosine_similarity(eq.v, ec.v) * 10000)
                     AS BIGINT) AS sim_bp
                 FROM sh JOIN e eq ON sh.query_id = eq.vec_id
                         JOIN e ec ON sh.cand_id = ec.vec_id),
          rkp AS (SELECT query_id, cand_id, sim_bp,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY sim_bp DESC, cand_id ASC) AS rank
                  FROM sc)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, sim_bp
          FROM rkp WHERE rank <= 5 ORDER BY query_id, rank""",

    // Replays the registered det-LSH probe: the shared bucket chain
    // (16 tables, integer-exact autoBits from count(*)), queries =
    // vec_id % 50 = 0 probing their own bucket per table, exact
    // integer-bp cosine top-5 over the deduped candidate set.
    "ann_lsh_topk" ->
      s"""WITH $detGraphCtes,
          cnd AS (SELECT DISTINCT q.vec_id AS query_id,
                    c.vec_id AS cand_id
                  FROM b q JOIN b c USING (t, bucket)
                  WHERE q.vec_id % 50 = 0 AND q.vec_id < 2000
                    AND q.vec_id <> c.vec_id),
          sc AS (SELECT query_id, cand_id,
                   CAST(round(list_cosine_similarity(eq.v, ec.v) * 10000)
                     AS BIGINT) AS sim_bp
                 FROM cnd JOIN e eq ON cnd.query_id = eq.vec_id
                          JOIN e ec ON cnd.cand_id = ec.vec_id),
          rk AS (SELECT query_id, cand_id, sim_bp,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY sim_bp DESC, cand_id ASC) AS rank
                 FROM sc)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, sim_bp
          FROM rk WHERE rank <= 5 ORDER BY query_id, rank""",

    // Same chain with the Hamming-1 probe fan-out: each query probes
    // its base bucket plus every single-bit flip (p < bits), UNION
    // dedups the probe set before the candidate join.
    "ann_lsh_multiprobe" ->
      s"""WITH $detGraphCtes,
          qp AS (SELECT vec_id, t, bucket FROM b WHERE vec_id % 50 = 0 AND vec_id < 2000
                 UNION
                 SELECT vec_id, t,
                        xor(bucket, (CAST(1 AS BIGINT) << p)) AS bucket
                 FROM b, range(0, 30) rp(p), bb
                 WHERE vec_id % 50 = 0 AND vec_id < 2000 AND p < bits),
          cnd AS (SELECT DISTINCT qp.vec_id AS query_id,
                    c.vec_id AS cand_id
                  FROM qp JOIN b c ON qp.t = c.t AND qp.bucket = c.bucket
                  WHERE qp.vec_id <> c.vec_id),
          sc AS (SELECT query_id, cand_id,
                   CAST(round(list_cosine_similarity(eq.v, ec.v) * 10000)
                     AS BIGINT) AS sim_bp
                 FROM cnd JOIN e eq ON cnd.query_id = eq.vec_id
                          JOIN e ec ON cnd.cand_id = ec.vec_id),
          rk AS (SELECT query_id, cand_id, sim_bp,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY sim_bp DESC, cand_id ASC) AS rank
                 FROM sc)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, sim_bp
          FROM rk WHERE rank <= 5 ORDER BY query_id, rank""",

    "ann_hamming_topk" ->
      s"""WITH $simhashCodeCtes,
          r AS (SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
                  CAST(bit_count(xor(q.sig, c.sig)) AS BIGINT) AS hamming,
                  row_number() OVER (PARTITION BY q.doc_id
                    ORDER BY bit_count(xor(q.sig, c.sig)) ASC,
                             c.doc_id ASC) AS rank
                FROM ssg q JOIN ssg c ON c.doc_id <> q.doc_id
                WHERE q.doc_id % 50 = 0)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, hamming
          FROM r WHERE rank <= 5 ORDER BY query_id, rank""",

    "ann_hamming_lsh_topk" ->
      s"""WITH $simhashCodeCtes,
          sbanded AS (SELECT doc_id, sig, b AS band,
                        (sig >> (b * 15)) & 32767 AS bv
                      FROM ssg, range(0, 4) r(b)),
          cand AS (SELECT DISTINCT q.doc_id AS query_id, q.sig AS qsig,
                     c.doc_id AS cand_id, c.sig AS csig
                   FROM sbanded q JOIN sbanded c
                     ON q.band = c.band AND q.bv = c.bv
                       AND c.doc_id <> q.doc_id
                   WHERE q.doc_id % 50 = 0),
          r AS (SELECT query_id, cand_id,
                  CAST(bit_count(xor(qsig, csig)) AS BIGINT) AS hamming,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY bit_count(xor(qsig, csig)) ASC,
                             cand_id ASC) AS rank
                FROM cand)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, hamming
          FROM r WHERE rank <= 5 ORDER BY query_id, rank""",

    "ann_lsh_det_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
          d AS (SELECT vec_id, i - 1 AS dim,
                  CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xi
                FROM e, range(1, 4097) r(i) WHERE i <= len(v)),
          pl AS (SELECT vec_id, p,
                   sum(CASE WHEN substring(
                         md5(p::VARCHAR || ':' || dim::VARCHAR), 1, 1)
                         >= '8' THEN xi ELSE -xi END) AS dot
                 FROM d, range(0, 6) r(p) GROUP BY vec_id, p),
          b AS (SELECT vec_id,
                  sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p)
                      ELSE 0 END) AS bucket
                FROM pl GROUP BY vec_id),
          q AS (SELECT e.vec_id AS query_id, v AS qv, bucket
                FROM e JOIN b USING (vec_id) WHERE e.vec_id % 50 = 0 AND e.vec_id < 2000),
          c AS (SELECT e.vec_id AS cand_id, v AS cv, bucket
                FROM e JOIN b USING (vec_id)),
          r AS (SELECT query_id, cand_id,
                  CAST(round(list_cosine_similarity(qv, cv) * 10000)
                    AS BIGINT) AS sim_bp,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY CAST(round(list_cosine_similarity(qv, cv)
                      * 10000) AS BIGINT) DESC, cand_id ASC) AS rank
                FROM q JOIN c USING (bucket)
                WHERE query_id <> cand_id)
          SELECT query_id, rank, cand_id, sim_bp
          FROM r WHERE rank <= 5
          ORDER BY query_id, rank""",

    "embed_pca_power" -> pcaPowerSql,

    "embed_covariance" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
          d AS (SELECT vec_id, i - 1 AS dim,
                  CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xi
                FROM e, range(1, 4097) r(i) WHERE i <= len(v))
          SELECT a.dim AS dim_a, b.dim AS dim_b,
                 CAST(floor(sum(a.xi * b.xi)::DOUBLE / count(*)
                   - (sum(a.xi)::DOUBLE / count(*))
                     * (sum(b.xi)::DOUBLE / count(*))) AS BIGINT) AS cov_u
          FROM d a JOIN d b ON a.vec_id = b.vec_id AND a.dim <= b.dim
          GROUP BY 1, 2 ORDER BY 1, 2""",

    "ann_knn_components" ->
      s"""WITH RECURSIVE
          $detGraphCtes,
          eg AS (SELECT src AS a, dst AS b FROM r
                 WHERE rank <= 5 AND sim_bp >= 2000),
          und AS (SELECT a, b FROM eg UNION SELECT b, a FROM eg),
          reach(a, b) AS (
            SELECT a, b FROM und
            UNION SELECT DISTINCT a, a FROM und
            UNION
            SELECT rr.a, u.b FROM reach rr JOIN und u ON rr.b = u.a)
          SELECT a AS node, min(b) AS component
          FROM reach GROUP BY a ORDER BY node""",

    "ann_knn_graph" ->
      s"""WITH $detGraphCtes
          SELECT src AS vec_id, CAST(rank AS BIGINT) AS rank, sim_bp,
                 dst AS neighbor_id
          FROM r WHERE rank <= 5
          ORDER BY vec_id, rank""",

    // Nearest-neighbor similarity histogram over the same det-LSH graph
    // relation: +10000 shift keeps the 500-bp bucket floor identical
    // under Spark DIV (truncate) and DuckDB // (floor).
    "ann_sim_histogram" ->
      s"""WITH $detGraphCtes
          SELECT CAST((sim_bp + 10000) // 500 * 500 - 10000 AS BIGINT)
                   AS bucket_lo_bp,
                 CAST(count(*) AS BIGINT) AS n_vecs,
                 min(sim_bp) AS min_bp, max(sim_bp) AS max_bp
          FROM r WHERE rank = 1
          GROUP BY 1 ORDER BY 1""",

    "ann_knn_graph_exact" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
                       CAST(round(list_cosine_similarity(a.v, b.v) * 10000)
                         AS BIGINT) AS sim_bp
                FROM v a JOIN v b ON a.vec_id <> b.vec_id),
          r AS (SELECT src, dst, sim_bp,
                       CAST(row_number() OVER (PARTITION BY src
                         ORDER BY sim_bp DESC, dst ASC) AS BIGINT) AS rank
                FROM p)
          SELECT src AS vec_id, rank, sim_bp, dst AS neighbor_id
          FROM r WHERE rank <= 5
          ORDER BY vec_id, rank""",

    "embed_quantize_int8" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          s AS (SELECT vec_id, v,
                       list_max(list_transform(v, x -> abs(x))) AS s FROM v),
          q AS (SELECT vec_id, s,
                       list_transform(v, x -> CASE WHEN s = 0 THEN 0
                         ELSE CAST(floor(x * 127 / s + 0.5) AS BIGINT) END)
                         AS q
                FROM s)
          SELECT vec_id, CAST(floor(s * 1000000 + 0.5) AS BIGINT) AS scale_e6,
                 CAST(list_sum(q) AS BIGINT) AS q_sum,
                 CAST(list_min(q) AS BIGINT) AS q_min,
                 CAST(list_max(q) AS BIGINT) AS q_max
          FROM q ORDER BY vec_id""",

    // Correlated unnest(range(...)) drives the 1-based element index per
    // row (dimension-generic, not pinned to 64); Spark's posexplode is
    // 0-based, hence i - 1. Both engines widen FLOAT to DOUBLE before
    // averaging.
    "ann_centroids" ->
      """SELECT label, i - 1 AS dim,
                round(avg(embedding[i]::DOUBLE), 4) + 0 AS c
         FROM (SELECT label, embedding,
                      unnest(range(1, len(embedding) + 1)) AS i
               FROM embeddings) t
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "ann_label_similarity" ->
      """WITH c0 AS (SELECT label, embedding,
                            unnest(range(1, len(embedding) + 1)) AS i
                     FROM embeddings),
          cent AS (SELECT CAST(label AS BIGINT) AS label, i - 1 AS dim,
                          CAST(floor(avg(embedding[i]::DOUBLE) * 1000000
                            + 0.5) AS BIGINT) AS ci
                   FROM c0 GROUP BY 1, 2),
          norms AS (SELECT label, sum(ci * ci) AS nn FROM cent GROUP BY 1),
          dots AS (SELECT a.label AS la, b.label AS lb,
                          sum(a.ci * b.ci) AS dot
                   FROM cent a
                   JOIN cent b ON a.dim = b.dim AND a.label < b.label
                   GROUP BY 1, 2)
          SELECT la AS label_a, lb AS label_b,
                 CAST(floor(10000.0 * dot /
                   (sqrt(na.nn) * sqrt(nb.nn))) AS BIGINT) AS sim_bp
          FROM dots
          JOIN norms na ON dots.la = na.label
          JOIN norms nb ON dots.lb = nb.label
          ORDER BY label_a, label_b""",

    "ann_knn_classify" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                           CAST(label AS BIGINT) AS true_label
                    FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000),
          c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv,
                       CAST(label AS BIGINT) AS cand_label
                FROM embeddings),
          r AS (SELECT query_id, true_label, cand_label,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY list_cosine_similarity(qv, cv) DESC,
                                  cand_id ASC) AS rank
                FROM q CROSS JOIN c
                WHERE query_id <> cand_id),
          v AS (SELECT query_id, true_label, cand_label,
                       count(*) AS votes
                FROM r WHERE rank <= 10 GROUP BY 1, 2, 3),
          p AS (SELECT query_id, true_label, cand_label, votes,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY votes DESC, cand_label ASC) AS vr
                FROM v)
          SELECT query_id, true_label, cand_label AS pred_label,
                 CAST(votes AS BIGINT) AS votes,
                 CAST(cand_label = true_label AS BIGINT) AS correct
          FROM p WHERE vr = 1 ORDER BY query_id""",

    "embed_norm_profile" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                           embedding::DOUBLE[] AS v
                    FROM embeddings),
          nr AS (SELECT vec_id, label,
                   list_sum(list_transform(v, x ->
                     CAST(floor(x * 1000000 + 0.5) AS BIGINT)
                     * CAST(floor(x * 1000000 + 0.5) AS BIGINT)))
                     AS nrm2_u
                 FROM e),
          rk AS (SELECT label, nrm2_u,
                   row_number() OVER (PARTITION BY label
                     ORDER BY nrm2_u, vec_id) AS rn,
                   count(*) OVER (PARTITION BY label) AS n
                 FROM nr)
          SELECT label, CAST(max(n) AS BIGINT) AS n,
                 CAST(min(nrm2_u) AS BIGINT) AS min_nrm2_u,
                 CAST(min(CASE WHEN rn * 2 >= n THEN nrm2_u END)
                   AS BIGINT) AS p50_nrm2_u,
                 CAST(max(nrm2_u) AS BIGINT) AS max_nrm2_u
          FROM rk GROUP BY label ORDER BY label""",

    "ann_recall_eval" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
          br AS (SELECT query_id, cand_id FROM (
                   SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                          row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY list_cosine_similarity(q.v, c.v)
                              DESC, c.vec_id ASC) AS rank
                   FROM e q CROSS JOIN e c
                   WHERE q.vec_id % 50 = 0 AND q.vec_id < 2000
                    AND q.vec_id <> c.vec_id) x
                 WHERE rank <= 5),
          d AS (SELECT vec_id, i - 1 AS dim,
                  CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xi
                FROM e, range(1, 4097) r(i) WHERE i <= len(v)),
          pl AS (SELECT vec_id, p,
                   sum(CASE WHEN substring(
                         md5(p::VARCHAR || ':' || dim::VARCHAR), 1, 1)
                         >= '8' THEN xi ELSE -xi END) AS dot
                 FROM d, range(0, 6) r(p) GROUP BY vec_id, p),
          b AS (SELECT vec_id,
                  sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p)
                      ELSE 0 END) AS bucket
                FROM pl GROUP BY vec_id),
          eb AS (SELECT e.vec_id, v, bucket FROM e JOIN b USING (vec_id)),
          lsh AS (SELECT query_id, cand_id FROM (
                    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                           row_number() OVER (PARTITION BY q.vec_id
                             ORDER BY CAST(round(
                               list_cosine_similarity(q.v, c.v) * 10000)
                               AS BIGINT) DESC, c.vec_id ASC) AS rank
                    FROM eb q JOIN eb c USING (bucket)
                    WHERE q.vec_id % 50 = 0 AND q.vec_id < 2000
                      AND q.vec_id <> c.vec_id) x
                  WHERE rank <= 5),
          nl AS (SELECT query_id, count(*) AS n_lsh
                 FROM lsh GROUP BY 1),
          nh AS (SELECT br.query_id, count(*) AS n_hit
                 FROM br JOIN lsh USING (query_id, cand_id)
                 GROUP BY 1),
          qs AS (SELECT query_id, count(*) AS n_brute
                 FROM br GROUP BY 1)
          SELECT qs.query_id,
                 CAST(coalesce(n_lsh, 0) AS BIGINT) AS n_lsh,
                 CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
                 CAST((coalesce(n_hit, 0) * 10000) // n_brute AS BIGINT)
                   AS recall_bp
          FROM qs LEFT JOIN nl USING (query_id)
                  LEFT JOIN nh USING (query_id)
          ORDER BY query_id""",

    "ann_margin_bitext" ->
      """WITH a AS (SELECT vec_id AS a_id, embedding::DOUBLE[] AS va
                    FROM embeddings WHERE vec_id % 2 = 0),
          b AS (SELECT vec_id AS b_id, embedding::DOUBLE[] AS vb
                FROM embeddings WHERE vec_id % 2 = 1),
          p AS (SELECT a_id, b_id,
                       CAST(round(list_cosine_similarity(va, vb) * 10000)
                         AS BIGINT) AS sim_bp
                FROM a CROSS JOIN b),
          r AS (SELECT *,
                       row_number() OVER (PARTITION BY a_id
                         ORDER BY sim_bp DESC, b_id) AS ra,
                       row_number() OVER (PARTITION BY b_id
                         ORDER BY sim_bp DESC, a_id) AS rb
                FROM p),
          da AS (SELECT a_id, CAST(sum(sim_bp) AS BIGINT) AS den_a
                 FROM r WHERE ra <= 4 GROUP BY 1),
          db AS (SELECT b_id, CAST(sum(sim_bp) AS BIGINT) AS den_b
                 FROM r WHERE rb <= 4 GROUP BY 1),
          sc AS (SELECT p.a_id, p.b_id, p.sim_bp,
                        (p.sim_bp * 80000) // (den_a + den_b)
                          AS margin_bp
                 FROM p JOIN da USING (a_id) JOIN db USING (b_id)
                 WHERE p.sim_bp > 0 AND den_a + den_b > 0),
          m AS (SELECT *,
                       row_number() OVER (PARTITION BY a_id
                         ORDER BY margin_bp DESC, b_id) AS rka,
                       row_number() OVER (PARTITION BY b_id
                         ORDER BY margin_bp DESC, a_id) AS rkb
                FROM sc)
          SELECT a_id, b_id, sim_bp,
                 CAST(margin_bp AS BIGINT) AS margin_bp
          FROM m WHERE rka = 1 AND rkb = 1 ORDER BY a_id""",

    // Replays the det-LSH bucket chain (the cohort union IS the
    // embeddings table), keeps only cross-parity candidate pairs
    // oriented as (even a_id, odd b_id), then the same margin CTEs as
    // the exact oracle — but over the candidate relation, so the
    // denominators are each side's top-4 among candidates.
    "ann_margin_bitext_lsh" ->
      s"""WITH $detGraphCtes,
          cp AS (SELECT CASE WHEN ia % 2 = 0 THEN ia ELSE ib END AS a_id,
                        CASE WHEN ia % 2 = 0 THEN ib ELSE ia END AS b_id,
                        sim_bp
                 FROM sm WHERE (ia % 2) <> (ib % 2)),
          rr AS (SELECT *,
                        row_number() OVER (PARTITION BY a_id
                          ORDER BY sim_bp DESC, b_id) AS ra,
                        row_number() OVER (PARTITION BY b_id
                          ORDER BY sim_bp DESC, a_id) AS rb
                 FROM cp),
          da AS (SELECT a_id, CAST(sum(sim_bp) AS BIGINT) AS den_a
                 FROM rr WHERE ra <= 4 GROUP BY 1),
          db AS (SELECT b_id, CAST(sum(sim_bp) AS BIGINT) AS den_b
                 FROM rr WHERE rb <= 4 GROUP BY 1),
          sc AS (SELECT cp.a_id, cp.b_id, cp.sim_bp,
                        (cp.sim_bp * 80000) // (den_a + den_b)
                          AS margin_bp
                 FROM cp JOIN da USING (a_id) JOIN db USING (b_id)
                 WHERE cp.sim_bp > 0 AND den_a + den_b > 0),
          mm AS (SELECT *,
                        row_number() OVER (PARTITION BY a_id
                          ORDER BY margin_bp DESC, b_id) AS rka,
                        row_number() OVER (PARTITION BY b_id
                          ORDER BY margin_bp DESC, a_id) AS rkb
                 FROM sc)
          SELECT a_id, b_id, sim_bp,
                 CAST(margin_bp AS BIGINT) AS margin_bp
          FROM mm WHERE rka = 1 AND rkb = 1 ORDER BY a_id""",
  )
}
