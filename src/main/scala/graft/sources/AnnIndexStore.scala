package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ann.{IvfIndexRelations, IvfPqIndexRelations, Sq8IndexRelations}

/** ANN index LIFECYCLE over [[VersionedStore]] — the missing piece
  * between "ANN queries" and "an ANN system": a real 100 TB pipeline
  * builds the index ONCE, persists it as a versioned artifact, and
  * every later query batch LOADS a version instead of rebuilding the
  * quantizer (the SDFS versioned-blob contract, sdfs.go:276-283,
  * applied to index artifacts instead of raw files).
  *
  * One implementation serves the three index families ([[Ivf]],
  * [[Pq]], [[Sq8]]); a [[Family]] only names its relations. An index
  * version is the family's relations written under one version number
  * as `<name>_<relation>/version=<v>`: the PER-VECTOR relations (one
  * row per vector: routing cell, code words) first, then the STATIC
  * quantizer relations, the last of which is the completeness marker.
  * Each version is SELF-CONTAINED (the quantizer is carried into every
  * version, a few thousand rows of longs), so a reader pins one version
  * number and gets a consistent snapshot — the property that lets serve
  * and ingest proceed concurrently. Versions are immutable once
  * written; [[Family.prune]] is the retention knob.
  *
  * Two maintenance modes converge on that contract. [[Family.foldBatch]]
  * snapshots the FULL per-vector relations every trigger (previous rows
  * ∪ new rows): at 1B vectors a ~16 GB parquet rewrite per version,
  * which amortizes at minute-scale triggers. [[Family.foldBatchDelta]]
  * writes O(batch) instead — each per-vector relation lands only the
  * trigger's rows under `<name>_<relation>_delta` — and
  * [[Family.compact]] folds the delta chain into a snapshot AT THE SAME
  * version number ([[DeltaChain]]), so after compaction a reader's view
  * is identical to what the snapshot fold would have produced.
  *
  * Family-distinct names (r15; FORMAT BREAK): the PQ and SQ8 code
  * relations are `_pqcodes` and `_sq8codes` (and their `_delta`
  * chains), so one index name serving both families never intersects
  * one family's version set with the other's codes. A store persisted
  * before r15 under the shared "<name>_codes" would need a one-time
  * rename; no loader fallback is kept, so a legacy layout fails loudly
  * as "no complete versions" instead of serving the wrong codes.
  */
object AnnIndexStore {

  /** One index family's persisted layout. `perVector` maps each
    * per-vector relation's name suffix to its payload column (the
    * column carried next to `vec_id` in a fold's batch); `static` lists
    * the quantizer relations in write order, the last one the
    * completeness marker. `parts` and `of` convert the family's
    * relations value to and from its relations in `perVector ++
    * static` order. Every fold takes the quantizer relations in
    * `static` order. */
  final class Family[R](perVector: Seq[(String, String)],
                        static: Seq[String],
                        parts: R => Seq[DataFrame],
                        of: Seq[DataFrame] => R) {

    private def rels(name: String, suffixes: Seq[String]) =
      suffixes.map(s => s"${name}_$s")
    private def vecRels(name: String) = rels(name, perVector.map(_._1))
    private def deltaRels(name: String) =
      rels(name, perVector.map(_._1 + "_delta"))
    private def staticRels(name: String) = rels(name, static)
    /** A full version's relations in write order. */
    private def fullRels(name: String) = vecRels(name) ++ staticRels(name)

    private def complete(spark: SparkSession, store: VersionedStore,
                         names: Seq[String]): Seq[Long] =
      names.map(store.versions(spark, _)).reduce(_ intersect _)

    /** Write `dfs` at version `v`, in order — per-vector halves first,
      * the completeness marker last, so a version becomes visible only
      * complete. */
    private def write(store: VersionedStore, names: Seq[String], v: Long,
                      dfs: Seq[DataFrame]): Unit = {
      require(names.length == dfs.length,
        s"expected ${names.length} relations for ${names.mkString(", ")}")
      names.zip(dfs).foreach { case (n, df) => store.putVersion(n, v, df) }
    }

    /** One row per id and per-vector relation: (id, payload). */
    private def batchRows(batch: DataFrame): Seq[DataFrame] =
      perVector.map { case (_, c) =>
        batch.select(col("vec_id").as("id"), col(c)).distinct() }

    /** Versions COMMITTED for every relation, ascending — a version
      * missing any half (a writer died between two puts) is invisible
      * to readers. Each half's own visibility is the store's per-version
      * commit marker, so a concurrent reader never lists a half whose
      * part files are still in flight. */
    def versions(spark: SparkSession, store: VersionedStore,
                 name: String): Seq[Long] =
      complete(spark, store, fullRels(name))

    /** Persist `index` as the next version; returns the version written. */
    def persist(spark: SparkSession, store: VersionedStore, name: String,
                index: R): Long = {
      val v = versions(spark, store, name).lastOption.fold(0L)(_ + 1)
      persistVersion(store, name, v, index)
      v
    }

    /** Persist at an EXPLICIT version — idempotent per version (a
      * replayed writer overwrites its own version), the exactly-once
      * contract streaming folds rely on. */
    def persistVersion(store: VersionedStore, name: String, v: Long,
                       index: R): Unit =
      write(store, fullRels(name), v, parts(index))

    /** Load the newest complete version. */
    def load(spark: SparkSession, store: VersionedStore, name: String): R = {
      val vs = versions(spark, store, name)
      require(vs.nonEmpty, s"no complete versions of index $name")
      loadVersion(spark, store, name, vs.last)
    }

    /** Load one pinned version — consistent-snapshot reads while newer
      * versions land. */
    def loadVersion(spark: SparkSession, store: VersionedStore,
                    name: String, v: Long): R =
      of(fullRels(name).map(store.getVersion(spark, _, v)))

    /** Retention: keep the newest `keep` complete versions, delete the
      * rest in REVERSE write order (marker first), so every surviving
      * version stays complete at all times. */
    def prune(spark: SparkSession, store: VersionedStore, name: String,
              keep: Int): Unit =
      versions(spark, store, name).dropRight(keep).foreach { v =>
        fullRels(name).reverse.foreach(store.deleteVersion(spark, _, v))
      }

    /** foreachBatch body for SNAPSHOT maintenance: micro-batch `b` folds
      * into version `baseVersion + 1 + b` = (previous version's rows ∪
      * this batch's rows, quantizer carried forward). `batch` carries
      * `vec_id` plus each per-vector payload column (e.g.
      * [[graft.streaming.AnnIngest.assignCells]] output for IVF). Version
      * arithmetic follows Spark's checkpointed batchId, so a replayed
      * batch recomputes FROM VERSIONS BEFORE ITS OWN and overwrites
      * itself — exactly-once versions on at-least-once delivery.
      *
      * The merge is LATEST-WINS ([[latestById]]), not distinct-over-
      * union: an id RE-INGESTED with a changed payload (legal beyond the
      * lateness horizon) must keep only the batch's row. */
    def foldBatch(store: VersionedStore, name: String, baseVersion: Long,
                  quantizer: DataFrame*)
                 (batch: DataFrame, batchId: Long): Unit = {
      val spark = batch.sparkSession
      val v = baseVersion + 1 + batchId
      val fresh = batchRows(batch)
      val merged = versions(spark, store, name).filter(_ < v).lastOption
        .fold(fresh) { pv =>
          vecRels(name).zip(fresh).map { case (n, df) =>
            latestById(Seq((pv, store.getVersion(spark, n, pv)), (v, df)))
          }
        }
      write(store, fullRels(name), v, merged ++ quantizer)
    }

    /** Complete DELTA versions (every delta half + every static half),
      * ascending. */
    def deltaVersions(spark: SparkSession, store: VersionedStore,
                      name: String): Seq[Long] =
      complete(spark, store, deltaRels(name) ++ staticRels(name))

    /** Every version a delta-chain reader may pin: full snapshots plus
      * uncompacted deltas, ascending. (Tighter than
      * [[DeltaChain.versions]]: a pinnable version here also needs its
      * static halves.) */
    def chainVersions(spark: SparkSession, store: VersionedStore,
                      name: String): Seq[Long] =
      (versions(spark, store, name) ++ deltaVersions(spark, store, name))
        .distinct.sorted

    /** foreachBatch body for DELTA maintenance — [[foldBatch]]'s O(batch)
      * twin: same version arithmetic, same commit order (delta halves
      * first, the marker last). Exactly-once is stronger here: a delta is
      * a pure function of its own batch against the static quantizer, so
      * a replayed batch rewrites an identical delta without reading prior
      * state. */
    def foldBatchDelta(store: VersionedStore, name: String,
                       baseVersion: Long, quantizer: DataFrame*)
                      (batch: DataFrame, batchId: Long): Unit =
      write(store, deltaRels(name) ++ staticRels(name),
        baseVersion + 1 + batchId, batchRows(batch) ++ quantizer)

    /** [[foldBatchDelta]] with PERIODIC COMPACTION — the long-running
      * ingest form (NearDupIngest.startDelta's contract, mirrored): every
      * `compactEvery` triggers the covered deltas fold into a snapshot at
      * the newest version, so a reader's reconstruction fan-in stays at
      * 1 snapshot + at most `compactEvery` trailing deltas however long
      * the ingest runs. Retention of old snapshots stays [[prune]]'s job. */
    def foldBatchDeltaCompacting(store: VersionedStore, name: String,
                                 baseVersion: Long, compactEvery: Int,
                                 quantizer: DataFrame*)
                                (batch: DataFrame, batchId: Long): Unit = {
      // skip EMPTY batches (watermark-advance triggers emit them between
      // every data batch) — a 1-second-trigger ingest would otherwise
      // double its version count with empty deltas
      if (!batch.isEmpty)
        foldBatchDelta(store, name, baseVersion, quantizer: _*)(batch, batchId)
      if ((batchId + 1) % compactEvery == 0) {
        // compact at the newest COMPLETE chain version, not at this
        // batchId — empty batches leave version-number gaps, and a
        // snapshot at a version with no static halves would be invisible
        // to chain readers
        val spark = batch.sparkSession
        chainVersions(spark, store, name).lastOption
          .foreach(compact(spark, store, name, _))
      }
    }

    /** Reconstruct the view at pinned chain version `v`: each per-vector
      * relation is the newest snapshot at or below `v` ∪ the deltas
      * after it, deduped by [[latestById]]; the static halves read
      * directly at `v`. */
    def loadDeltaChain(spark: SparkSession, store: VersionedStore,
                       name: String, v: Long): R = {
      require(chainVersions(spark, store, name).contains(v),
        s"no complete chain version $v of index $name")
      of(vecRels(name).zip(deltaRels(name)).map { case (b, d) =>
        latestById(DeltaChain.readParts(spark, store, b, d, v))
      } ++ staticRels(name).map(store.getVersion(spark, _, v)))
    }

    /** Load the newest chain version. */
    def loadChain(spark: SparkSession, store: VersionedStore,
                  name: String): R = {
      val vs = chainVersions(spark, store, name)
      require(vs.nonEmpty, s"no chain versions of index $name")
      loadDeltaChain(spark, store, name, vs.last)
    }

    /** Fold every delta at or below `upTo` into a full snapshot AT
      * version `upTo` (readers at `upTo` switch from chain reconstruction
      * to snapshot reads with no visible change), then delete the covered
      * deltas. Each snapshot commits BEFORE any delta it covers is
      * deleted, and the static halves at `upTo` are never touched. The
      * per-vector chains carry identical version sets (the delta fold
      * writes them together). Static halves of covered delta-only
      * versions below `upTo` are dropped, marker first: compaction
      * collapses pinnable history at or below its high-water mark, the
      * retention semantics [[prune]] established. */
    def compact(spark: SparkSession, store: VersionedStore, name: String,
                upTo: Long): Unit = {
      val covered = vecRels(name).zip(deltaRels(name)).map { case (b, d) =>
        DeltaChain.compactParts(spark, store, b, d, upTo, latestById)
      }.head
      val bases = versions(spark, store, name).toSet
      covered.filter(dv => dv != upTo && !bases.contains(dv)).foreach { dv =>
        staticRels(name).reverse.foreach(store.deleteVersion(spark, _, dv))
      }
    }
  }

  /** Det-IVF: routing table `home` (id, cell); quantizer `centroids`. */
  val Ivf = new Family[IvfIndexRelations](
    Seq("home" -> "cell"), Seq("centroids"),
    r => Seq(r.home, r.centroids),
    { case Seq(home, centroids) => IvfIndexRelations(centroids, home) })

  /** IVF-PQ: routing table and code words per vector; quantizer
    * `codebook`, then `centroids`. */
  val Pq = new Family[IvfPqIndexRelations](
    Seq("home" -> "cell", "pqcodes" -> "codes"),
    Seq("codebook", "centroids"),
    r => Seq(r.ivf.home, r.codes, r.codebook, r.ivf.centroids),
    { case Seq(home, codes, codebook, centroids) =>
      IvfPqIndexRelations(IvfIndexRelations(centroids, home), codebook,
        codes) })

  /** SQ8: byte codes per vector; the trained `ranges` quantizer. */
  val Sq8 = new Family[Sq8IndexRelations](
    Seq("sq8codes" -> "codes"), Seq("ranges"),
    r => Seq(r.codes, r.ranges),
    { case Seq(codes, ranges) => Sq8IndexRelations(ranges, codes) })

  /** Enforce one row per id with LATEST-VERSION-WINS: an id re-ingested
    * with a CHANGED payload (legal beyond the streaming lateness horizon
    * — the watermark dedup only suppresses replays inside it) lands rows
    * in several versions, and a distinct() would keep BOTH — a stale
    * routing/code row then duplicates (query, cand) pairs and lets one
    * candidate occupy two TopK slots. Ties within a version break by
    * payload max (deterministic — within-version rows are already
    * distinct at write). One partial-agg shuffle over the per-vector
    * relation, the same cost class as a distinct(). */
  private def latestById(parts: Seq[(Long, DataFrame)]): DataFrame = {
    val tagged = parts
      .map { case (v, df) => df.withColumn("_chain_v", lit(v)) }
      .reduce(_ unionByName _)
    val payload = tagged.columns
      .filterNot(c => c == "id" || c == "_chain_v")
    tagged.groupBy(col("id"))
      .agg(max(struct((col("_chain_v") +: payload.map(col)): _*))
        .as("_s"))
      .select(col("id") +: payload.map(c => col(s"_s.$c").as(c)): _*)
  }
}
