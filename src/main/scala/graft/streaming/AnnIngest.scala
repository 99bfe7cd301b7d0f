package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Lineage
import graft.operators.Ann
import graft.operators.Ann.IvfIndexRelations

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
  * index's collected plane — append mode, no further state, so the
  * topology scales with partition count and the state store holds ids,
  * not vectors.
  *
  * Every entry point takes the index VALUE the batch path builds,
  * memoizes or loads ([[graft.operators.Ann.IvfIndexRelations]]), and
  * ranks cells with the batch kernel ([[graft.operators.Ann.kernelCells]]):
  * one plane collect per index value and one affinity ranking, so
  * stream and batch agree by construction — asserted stream-vs-batch in
  * AnnIngestSpec.
  */
object AnnIngest {

  /** Arriving embedding row. */
  final case class VecIn(vec_id: Long, ts: Timestamp,
                         embedding: Array[Float])

  /** Routed vector: its home cell. */
  final case class CellAssign(vec_id: Long, ts: Timestamp, cell: Long)

  /** Streaming similarity SEARCH against a static det-IVF index: each
    * arriving query vector probes its `nprobe` nearest cells (map-only,
    * against the index's plane), the probe rows join the STATIC
    * (cand_id, cell, cv) relation on cell — a stateless stream-static
    * hash join that Spark re-plans per micro-batch — and a
    * watermark-windowed topk_longs aggregation emits each query's
    * exact-cosine top-k once its window closes. The query-side mirror
    * of [[assignCells]]; candidates, scoring (integer-bp cosine), and
    * selection (sim DESC, cand ASC, k-bounded) are identical to the
    * batch [[graft.operators.Ann.ivfIndexTopK]] — asserted
    * stream-vs-batch in AnnIngestSpec.
    *
    * `index` is freshly built, memoized or LOADED from a pinned
    * AnnIndexStore version, over `corpus` (id, vector). Its routing
    * table joins the corpus vectors ONCE at topology build — a
    * stream-static join re-executes the static side every micro-batch
    * — and every micro-batch probes that static relation. A new index
    * version means restarting the topology against the new load —
    * versions are immutable, the topology pins one.
    *
    * Scale shape: only (query_id, cand_id, sim_bp) rows reach the
    * aggregation shuffle — the vectors are consumed by the codegen'd
    * cosine right after the join; aggregation state is k rows per
    * in-flight query window.
    *
    * CONTRACT: `query_id` must be unique per query within one lateness
    * horizon. The exactly-once pair dedup below keeps the FIRST-seen
    * delivery of each (query_id, cand_id), so a DIFFERENT query that
    * reuses a recent query_id (new vector, new ts) would have its
    * pairs silently collapsed into the earlier query's results. Callers
    * minting ids from a sequence or UUID satisfy this for free; callers
    * recycling ids must keep the recycle interval above `lateness`. */
  def probeTopK(queries: Dataset[VecIn], index: IvfIndexRelations,
                corpus: DataFrame, idCol: String, vecCol: String, k: Int,
                nprobe: Int = 2, windowLen: String = "1 minute",
                lateness: String): DataFrame = {
    require(k > 0 && nprobe > 0, s"bad k=$k / nprobe=$nprobe")
    val home = Lineage.pin(index.home
      .select(col("id").cast("long").as("cand_id"), col("cell"))
      .join(corpus.select(col(idCol).cast("long").as("cand_id"),
        col(vecCol).cast("array<double>").as("cv")), "cand_id"))
    queries.withWatermark("ts", lateness)
      .select(col("vec_id").as("query_id"), col("ts"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("cell",
        explode(Ann.kernelCells(index.plane, col("qv"), nprobe)))
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

  /** Assign each arriving vector its det-IVF home cell in `index`.
    * `lateness` bounds both the dedup state and admissible event-time
    * disorder. */
  def assignCells(vecs: Dataset[VecIn], index: IvfIndexRelations,
                  lateness: String)
                 (implicit spark: SparkSession): Dataset[CellAssign] = {
    import spark.implicits._
    vecs.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("vec_id")
      .select(col("vec_id"), col("ts"),
        element_at(Ann.kernelCells(index.plane,
          col("embedding").cast("array<double>"), 1), 1).as("cell"))
      .as[CellAssign]
  }

  /** The complete long-running ANN INGEST topology: [[assignCells]]
    * routing + per-trigger DELTA index maintenance + periodic chain
    * compaction — [[NearDupIngest.startDelta]]'s contract on the
    * vector index. Each micro-batch lands as an O(batch) delta version
    * (AnnIndexStore.Ivf.foldBatchDelta); every `compactEvery` triggers the
    * covered deltas fold into a snapshot, so an UNBOUNDED ingest keeps
    * a BOUNDED reconstruction fan-in (1 snapshot + < compactEvery
    * trailing deltas) — without this, a week of 1-second triggers
    * would make every reader union ~600k delta relations. The index's
    * static quantizer relation rides along as the completeness
    * marker. */
  def startFoldDelta(vecs: Dataset[VecIn], index: IvfIndexRelations,
                     store: graft.sources.VersionedStore, name: String,
                     checkpointDir: String, lateness: String,
                     compactEvery: Int = 8, baseVersion: Long = -1L)
                    (implicit spark: SparkSession)
      : org.apache.spark.sql.streaming.StreamingQuery =
    CraneStream.startBatches(assignCells(vecs, index, lateness).toDF(),
        checkpointDir)(graft.sources.AnnIndexStore.Ivf
      .foldBatchDeltaCompacting(store, name, baseVersion, compactEvery,
        index.centroids))
}
