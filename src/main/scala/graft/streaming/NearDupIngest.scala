package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Lineage
import graft.operators.Dedup
import graft.sources.VersionedStore

/** Streaming NEAR-dup corpus ingest with a MAINTAINED banded-MinHash
  * index — the piece [[EventTimeOps.corpusIngestIncremental]] lacked:
  * that topology dedups arriving docs against a STATIC fingerprint
  * relation, so two near-identical docs arriving in different triggers
  * both pass (the index goes stale until a batch rebuild). Here every
  * trigger appends the accepted survivors' band signatures to a
  * PERSISTED, versioned band relation (the [[graft.sources
  * .AnnIndexStore]] pattern applied to the dedup index), so a later doc
  * collides with earlier STREAMED docs, not just the offline corpus.
  *
  * Exactly-once: the band/docs versions are keyed by the checkpointed
  * micro-batch id (version = 1 + batchId; the offline corpus's bands
  * seed version 0), and a replayed batch recomputes from versions
  * BEFORE its own and overwrites itself — the same idempotent-version
  * contract as AnnIndexStore.Family.foldBatch. One stream (one checkpoint)
  * owns a store name.
  *
  * Scale shape: per trigger the new docs' band rows (docs × bands,
  * ~16-per-doc strings) hash-join the persisted relation on (band,
  * sig) — never document bodies. Two maintenance modes share the
  * filter: [[ingestBatch]] rewrites the band relation as a snapshot
  * per version (one-relation reads, O(index) writes — right for
  * minute-scale triggers), [[ingestBatchDelta]] + [[compactBands]]
  * write O(batch) deltas and periodically fold them
  * ([[graft.sources.DeltaChain]]) — the sub-second-trigger variant.
  * Within one trigger the same banding dedups the batch against itself
  * (smallest doc_id survives a collision group), so trigger size only
  * affects which doc of a near-dup pair wins, never whether one does.
  */
object NearDupIngest {

  private def bandsName(name: String) = s"${name}_bands"
  private def bandsDeltaName(name: String) = s"${name}_bands_delta"
  private def docsName(name: String) = s"${name}_docs"

  /** The core per-trigger filter, shared by both maintenance modes:
    * drop batch docs that band-collide with the persisted view or with
    * a smaller-id doc in the same batch; returns (accepted docs,
    * their band rows). */
  private def filterBatch(batch: DataFrame, persisted: Option[DataFrame],
                          idCol: String, textCol: String, n: Int,
                          numPerms: Int, rowsPerBand: Int)
      : (DataFrame, DataFrame) = {
    // consumed 3x below (persisted join, in-batch self-join, append)
    val newBands = Lineage.pin(Dedup.minhashBandRelation(batch, idCol,
      textCol, n, numPerms, rowsPerBand))
    // collide vs the PERSISTED index (offline corpus + earlier triggers)
    val hitPersisted = persisted.fold(newBands.limit(0)) { p =>
      newBands.join(p.select("band", "sig").distinct(), Seq("band", "sig"))
    }.select("doc_id").distinct()
    // collide INSIDE the batch: of a colliding pair the smallest doc_id
    // survives (the batch form's doc_a < doc_b canonical-winner rule)
    val afterPersisted = newBands
      .join(hitPersisted, Seq("doc_id"), "left_anti")
    val hitInBatch = afterPersisted.as("a")
      .join(afterPersisted.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") > col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id")).distinct()
    val acceptedBands = afterPersisted
      .join(hitInBatch, Seq("doc_id"), "left_anti")
    // anti-join on the REJECTED ids, not semi-join on the banded ids: a
    // doc shorter than the shingle width has no band rows, cannot
    // collide, and must be accepted (the batch path's nsh > 0 gate)
    val rejected = hitPersisted.unionByName(hitInBatch).distinct()
      .withColumnRenamed("doc_id", idCol)
    (batch.join(rejected, Seq(idCol), "left_anti"), acceptedBands)
  }

  /** Seed version 0 of the band index from the OFFLINE corpus (no-op if
    * the store already has versions — restart safety). Returns the
    * seeded/existing newest version. */
  def seed(spark: SparkSession, store: VersionedStore, name: String,
           corpus: DataFrame, idCol: String, textCol: String,
           n: Int = 3, numPerms: Int = 32, rowsPerBand: Int = 4): Long = {
    val vs = store.versions(spark, bandsName(name))
    if (vs.nonEmpty) vs.last
    else {
      store.putVersion(bandsName(name), 0L,
        Dedup.minhashBandRelation(corpus, idCol, textCol, n, numPerms,
          rowsPerBand))
      0L
    }
  }

  /** foreachBatch body: drop batch docs that band-collide with the
    * persisted index (offline corpus + every earlier ACCEPTED streamed
    * doc) or with a smaller-id doc in the same batch, then write
    * version 1+batchId: the accepted docs as a delta relation and the
    * band index as a snapshot including their signatures. */
  def ingestBatch(store: VersionedStore, name: String, idCol: String,
                  textCol: String, n: Int = 3, numPerms: Int = 32,
                  rowsPerBand: Int = 4)
                 (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val v = 1L + batchId
    val prev = store.versions(spark, bandsName(name)).filter(_ < v)
      .lastOption
    val persisted = prev.map(store.getVersion(spark, bandsName(name), _))
    val (acceptedDocs, acceptedBands) = filterBatch(batch, persisted,
      idCol, textCol, n, numPerms, rowsPerBand)
    store.putVersion(docsName(name), v, acceptedDocs)
    store.putVersion(bandsName(name), v,
      persisted.fold(acceptedBands)(_ unionByName acceptedBands))
  }

  /** [[ingestBatch]] in DELTA mode: each trigger writes ONLY the
    * accepted docs' band rows as a delta version — O(batch) per
    * trigger instead of the snapshot mode's O(index) rewrite, the
    * sub-second-trigger variant the snapshot scale note names. The
    * collision filter reads the CHAIN view (seed snapshot ∪ deltas
    * before this version, or the newest compacted snapshot plus the
    * deltas after it); [[compactBands]] is the periodic fold that
    * keeps that view's relation count bounded. Same exactly-once
    * version arithmetic: a replayed batch reads versions before its
    * own and overwrites its own delta. */
  def ingestBatchDelta(store: VersionedStore, name: String, idCol: String,
                       textCol: String, n: Int = 3, numPerms: Int = 32,
                       rowsPerBand: Int = 4)
                      (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val v = 1L + batchId
    val prev = graft.sources.DeltaChain
      .versions(spark, store, bandsName(name), bandsDeltaName(name))
      .filter(_ < v).lastOption
    val persisted = prev.map(graft.sources.DeltaChain
      .read(spark, store, bandsName(name), bandsDeltaName(name), _))
    val (acceptedDocs, acceptedBands) = filterBatch(batch, persisted,
      idCol, textCol, n, numPerms, rowsPerBand)
    store.putVersion(docsName(name), v, acceptedDocs)
    store.putVersion(bandsDeltaName(name), v, acceptedBands)
  }

  /** Fold delta band versions at or below `upTo` into a snapshot at
    * `upTo` (no-op if none) — the periodic compaction that pairs with
    * [[ingestBatchDelta]]. View-preserving: [[bandIndex]] reads the
    * same rows before and after. */
  def compactBands(spark: SparkSession, store: VersionedStore,
                   name: String, upTo: Long): Unit = {
    graft.sources.DeltaChain.compactParts(spark, store, bandsName(name),
      bandsDeltaName(name), upTo)
    ()
  }

  /** The maintained band index's current view — newest snapshot plus
    * any uncompacted deltas. Works for both maintenance modes (the
    * snapshot mode simply has no deltas). */
  def bandIndex(spark: SparkSession, store: VersionedStore,
                name: String): DataFrame =
    graft.sources.DeltaChain.readNewest(spark, store, bandsName(name),
      bandsDeltaName(name))

  /** Wire [[EventTimeOps.corpusIngestIncremental]]'s gated, exact-
    * deduped survivor stream into the maintained near-dup index:
    * quality/language gates + exact-fp dedup (in-stream and vs the
    * offline corpus) run in the streaming graph; the band-collision
    * filter and index append run per trigger in [[ingestBatch]].
    * Call [[seed]] first. */
  def start(docs: DataFrame, corpusFps: DataFrame, store: VersionedStore,
            name: String, tsCol: String, idCol: String, textCol: String,
            checkpointDir: String, lateness: String, n: Int = 3,
            numPerms: Int = 32, rowsPerBand: Int = 4): StreamingQuery =
    CraneStream.startBatches(EventTimeOps.corpusIngestIncremental(docs,
        corpusFps, tsCol, textCol, lateness), checkpointDir)(
      ingestBatch(store, name, idCol, textCol, n, numPerms, rowsPerBand))

  /** [[start]] in delta-band mode ([[ingestBatchDelta]]), compacting
    * the chain every `compactEvery` triggers — the long-running-ingest
    * wiring where per-trigger write cost tracks batch size and the
    * reconstruction fan-in stays bounded. */
  def startDelta(docs: DataFrame, corpusFps: DataFrame,
                 store: VersionedStore, name: String, tsCol: String,
                 idCol: String, textCol: String, checkpointDir: String,
                 lateness: String, compactEvery: Int = 8, n: Int = 3,
                 numPerms: Int = 32,
                 rowsPerBand: Int = 4): StreamingQuery =
    CraneStream.startBatches(EventTimeOps.corpusIngestIncremental(docs,
        corpusFps, tsCol, textCol, lateness), checkpointDir) {
      (batch, batchId) =>
        ingestBatchDelta(store, name, idCol, textCol, n, numPerms,
          rowsPerBand)(batch, batchId)
        if ((batchId + 1) % compactEvery == 0)
          compactBands(batch.sparkSession, store, name, 1L + batchId)
    }

  /** Staleness audit over the maintained index: compare the newest
    * persisted band relation against a FRESH recompute over the given
    * corpus (offline docs ∪ accepted streamed docs). One row:
    * (n_persisted, n_fresh, n_missing, n_extra) — (0, 0) missing/extra
    * means the incremental maintenance reproduced the batch rebuild
    * exactly; anything else is the staleness a rebuild would repair. */
  def stalenessAudit(spark: SparkSession, store: VersionedStore,
                     name: String, corpus: DataFrame, idCol: String,
                     textCol: String, n: Int = 3, numPerms: Int = 32,
                     rowsPerBand: Int = 4): DataFrame = {
    val persisted = bandIndex(spark, store, name)
    val fresh = Dedup.minhashBandRelation(corpus, idCol, textCol, n,
      numPerms, rowsPerBand)
    val key = Seq("doc_id", "band", "sig")
    persisted.agg(count(lit(1)).as("n_persisted"))
      .crossJoin(fresh.agg(count(lit(1)).as("n_fresh")))
      .crossJoin(fresh.join(persisted, key, "left_anti")
        .agg(count(lit(1)).as("n_missing")))
      .crossJoin(persisted.join(fresh, key, "left_anti")
        .agg(count(lit(1)).as("n_extra")))
  }

  /** All accepted streamed docs so far: the union of the per-trigger
    * delta relations. */
  def acceptedDocs(spark: SparkSession, store: VersionedStore,
                   name: String): DataFrame = {
    val vs = store.versions(spark, docsName(name))
    require(vs.nonEmpty, s"no accepted-doc versions under $name")
    store.getVersions(spark, name = docsName(name), n = vs.length)
      .drop("version")
  }
}
