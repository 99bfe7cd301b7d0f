package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.core.Lineage
import graft.operators.Ann.CentroidCell

/** Streaming ANN ingest: incremental det-IVF cell assignment of
  * arriving embeddings against a STATIC centroid plane — the vector-side
  * mirror of [[EventTimeOps.corpusIngestIncremental]] (text ingest
  * deduped against a static corpus). A production vector store ingests
  * this way: the coarse quantizer is built offline (batch), ships to
  * every executor as index metadata, and arriving vectors route through
  * it statelessly; only the (vec_id, cell) routing row continues
  * downstream — never the vector through a shuffle.
  *
  * Spark shape: watermark + dropDuplicatesWithinWatermark for
  * exactly-once ingest of re-delivered vector ids (state = ids inside
  * one lateness horizon), then a map-only assignment against the
  * closure-captured plane — append mode, no further state, so the
  * topology scales with partition count and the state store holds ids,
  * not vectors.
  *
  * The assignment arithmetic is bit-identical to the batch index
  * ([[graft.operators.Ann.ivfDetTopK]]'s cell ranking): micro-unit
  * snapping floor(x·10⁶ + 0.5), exact integer dot and norms, affinity
  * floor(10⁴·dot/(√nv·√nc)) with the zero-norm guard, ties to the
  * smallest cell — asserted stream-vs-batch in AnnIngestSpec.
  */
object AnnIngest {

  /** Arriving embedding row. */
  final case class VecIn(vec_id: Long, ts: Timestamp,
                         embedding: Array[Float])

  /** Routed vector: home cell + its affinity in basis points. */
  final case class CellAssign(vec_id: Long, ts: Timestamp, cell: Long,
                              affinity_bp: Long)

  /** One probed cell of an arriving query vector (the stream side of
    * the stream-static candidate join). */
  final case class ProbeRow(query_id: Long, ts: Timestamp, cell: Long,
                            qv: Array[Double])

  /** Streaming similarity SEARCH against the static det-IVF index: each
    * arriving query vector probes its `nprobe` nearest cells (computed
    * against the closure-captured plane, map-only), the probe rows join
    * the STATIC home-cell relation on cell — a stateless stream-static
    * hash join that Spark re-plans per micro-batch — and a
    * watermark-windowed topk_longs aggregation emits each query's
    * exact-cosine top-k once its window closes. The query-side mirror
    * of [[assignCells]]; candidates, scoring (integer-bp cosine), and
    * selection (sim DESC, cand ASC, k-bounded) are identical to the
    * batch index [[graft.operators.Ann.ivfDetTopK]] — asserted
    * stream-vs-batch in AnnIngestSpec.
    *
    * Scale shape: only (query_id, cand_id, sim_bp) rows reach the
    * aggregation shuffle — the vectors are consumed by the codegen'd
    * cosine right after the join; aggregation state is k rows per
    * in-flight query window. `corpus` is the (id, vector, label)
    * relation the index is built over. `query_id` must be unique per
    * query within one lateness horizon — see [[probeTopKFrom]] for the
    * redelivery-dedup contract. */
  def probeTopK(queries: Dataset[VecIn], corpus: DataFrame, idCol: String,
                vecCol: String, labelCol: String,
                plane: Array[CentroidCell], k: Int, nprobe: Int = 2,
                windowLen: String = "1 minute", lateness: String)
               (implicit spark: SparkSession): DataFrame = {
    require(plane.nonEmpty, "empty centroid plane")
    require(k > 0 && nprobe > 0, s"bad k=$k / nprobe=$nprobe")
    import org.apache.spark.sql.functions._
    // materialize the static index ONCE at topology build: a
    // stream-static join re-executes the static side every micro-batch,
    // and the home-cell derivation is a multi-stage windowed DAG —
    // recomputing it per batch made retrieval batch-planning-bound
    val e = corpus.select(col(idCol).cast("long").as("cand_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val home = Lineage.pin(graft.operators.Ann
      .ivfDetHomeCells(corpus, idCol, vecCol, labelCol)
      .select(col(idCol).cast("long").as("cand_id"), col("cell"))
      .join(e, "cand_id"))
    probeTopKFrom(queries, home, plane, k, nprobe, windowLen, lateness)
  }

  /** [[probeTopK]] against an ALREADY-BUILT (cand_id, cell, cv) probe
    * relation — the serve-from-PERSISTED-index path: a retrieval tier
    * loads a pinned index version (AnnIndexStore), joins the routing
    * table to the corpus vectors once at topology build, and every
    * micro-batch of queries probes that static relation. Nothing about
    * the index is recomputed per batch; a new index version means
    * restarting the topology against the new load — versions are
    * immutable, the topology pins one.
    *
    * CONTRACT: `query_id` must be unique per query within one lateness
    * horizon. The exactly-once pair dedup below keeps the FIRST-seen
    * delivery of each (query_id, cand_id), so a DIFFERENT query that
    * reuses a recent query_id (new vector, new ts) would have its
    * pairs silently collapsed into the earlier query's results. Callers
    * minting ids from a sequence or UUID satisfy this for free; callers
    * recycling ids must keep the recycle interval above `lateness`. */
  def probeTopKFrom(queries: Dataset[VecIn], home: DataFrame,
                    plane: Array[CentroidCell], k: Int, nprobe: Int = 2,
                    windowLen: String = "1 minute", lateness: String)
                   (implicit spark: SparkSession): DataFrame = {
    require(plane.nonEmpty, "empty centroid plane")
    require(k > 0 && nprobe > 0, s"bad k=$k / nprobe=$nprobe")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cells = plane.sortBy(_.cell)
    val probes = queries.flatMap { v =>
      val xi = new Array[Long](v.embedding.length)
      var nv = 0L
      var i = 0
      while (i < xi.length) {
        val s = math.floor(v.embedding(i).toDouble * 1000000.0 + 0.5).toLong
        xi(i) = s; nv += s * s; i += 1
      }
      val qv = new Array[Double](v.embedding.length)
      i = 0
      while (i < qv.length) { qv(i) = v.embedding(i).toDouble; i += 1 }
      // rank every cell by (bp DESC, cell ASC) — the batch tie rule —
      // and keep the nprobe best
      cells.map { cell =>
        val n = math.min(xi.length, cell.ci.length)
        var dot = 0L
        var j = 0
        while (j < n) { dot += xi(j) * cell.ci(j); j += 1 }
        val bp =
          if (nv > 0 && cell.nc > 0)
            math.floor(10000.0 * dot
              / (math.sqrt(nv.toDouble) * math.sqrt(cell.nc.toDouble)))
              .toLong
          else 0L
        (bp, cell.cell)
      }.sortBy { case (bp, c) => (-bp, c) }
        .take(nprobe)
        .map { case (_, c) => ProbeRow(v.vec_id, v.ts, c, qv) }
    }
    probes.toDF()
      // the watermark must be (re)declared on the post-flatMap ts
      // attribute — a typed transform mints new attributes, and the
      // event-time tag does not transfer through it
      .withWatermark("ts", lateness)
      .join(home, "cell")
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("ts"),
        round(graft.functions.HashExprs.cosine_sim(col("qv"), col("cv"))
          * 10000).cast("long").as("sim_bp"),
        col("cand_id"))
      // exactly-once on the QUERY side: a re-delivered query id would
      // duplicate its (query, cand) pairs into the topk_longs state,
      // letting one candidate occupy several top-k slots and displace
      // the true k-th neighbor. Each candidate has exactly one home
      // cell and a query's probed cells are distinct, so (query_id,
      // cand_id) appears once per delivery — deduping the pair under
      // the SAME watermark collapses redelivery exactly (a pre-fan-out
      // dropDuplicates would need a second watermark declaration, which
      // Spark's watermark propagation disallows in one query). The
      // extra state is the in-flight pair set inside one lateness
      // horizon — the same magnitude the aggregation reads anyway.
      .dropDuplicatesWithinWatermark("query_id", "cand_id")
      .groupBy(window(col("ts"), windowLen), col("query_id"))
      .agg(graft.functions.TopKAgg
        .topk_longs(col("sim_bp"), col("cand_id"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("cand_id"), col("col._1").as("sim_bp"))
  }

  /** Assign each arriving vector its det-IVF home cell. `lateness`
    * bounds both the dedup state and admissible event-time disorder.
    * The plane must be non-empty — routing against no cells is a
    * configuration bug, not an empty result. */
  def assignCells(vecs: Dataset[VecIn], plane: Array[CentroidCell],
                  lateness: String, dedup: Boolean = true)
                 (implicit spark: SparkSession): Dataset[CellAssign] = {
    require(plane.nonEmpty, "empty centroid plane")
    import spark.implicits._
    // sorted copy: the tie rule is "smallest cell wins", which a plane
    // scanned in ascending cell order gives with a strict > compare
    val cells = plane.sortBy(_.cell)
    val watermarked = vecs.withWatermark("ts", lateness)
    val deduped =
      if (dedup) watermarked.dropDuplicatesWithinWatermark("vec_id")
      else watermarked
    deduped.map { v =>
      val xi = new Array[Long](v.embedding.length)
      var nv = 0L
      var i = 0
      while (i < xi.length) {
        val s = math.floor(v.embedding(i).toDouble * 1000000.0 + 0.5).toLong
        xi(i) = s
        nv += s * s
        i += 1
      }
      var bestCell = cells(0).cell
      var bestBp = Long.MinValue
      var c = 0
      while (c < cells.length) {
        val cell = cells(c)
        val n = math.min(xi.length, cell.ci.length)
        var dot = 0L
        var j = 0
        while (j < n) { dot += xi(j) * cell.ci(j); j += 1 }
        val bp =
          if (nv > 0 && cell.nc > 0)
            math.floor(10000.0 * dot
              / (math.sqrt(nv.toDouble) * math.sqrt(cell.nc.toDouble))).toLong
          else 0L
        if (bp > bestBp) { bestBp = bp; bestCell = cell.cell }
        c += 1
      }
      CellAssign(v.vec_id, v.ts, bestCell, bestBp)
    }
  }

  /** The complete long-running ANN INGEST topology: [[assignCells]]
    * routing + per-trigger DELTA index maintenance + periodic chain
    * compaction — [[NearDupIngest.startDelta]]'s contract on the
    * vector index. Each micro-batch lands as an O(batch) delta version
    * (AnnIndexStore.Ivf.foldBatchDelta); every `compactEvery` triggers the
    * covered deltas fold into a snapshot, so an UNBOUNDED ingest keeps
    * a BOUNDED reconstruction fan-in (1 snapshot + < compactEvery
    * trailing deltas) — without this, a week of 1-second triggers
    * would make every reader union ~600k delta relations. `centroids`
    * is the static quantizer relation (persisted once, rides along as
    * the completeness marker). */
  def startFoldDelta(vecs: Dataset[VecIn], plane: Array[CentroidCell],
                     store: graft.sources.VersionedStore, name: String,
                     centroids: DataFrame, checkpointDir: String,
                     lateness: String, compactEvery: Int = 8,
                     baseVersion: Long = -1L)
                    (implicit spark: SparkSession)
      : org.apache.spark.sql.streaming.StreamingQuery =
    CraneStream.startBatches(assignCells(vecs, plane, lateness).toDF(),
        checkpointDir)(graft.sources.AnnIndexStore.Ivf
      .foldBatchDeltaCompacting(store, name, baseVersion, compactEvery,
        centroids))
}
