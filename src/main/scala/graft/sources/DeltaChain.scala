package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Base + delta version chains over [[VersionedStore]] — the shared
  * mechanics under the two MAINTAINED indexes (AnnIndexStore's routing
  * table, NearDupIngest's band index): full snapshots live under the
  * `base` name, per-trigger deltas under the `delta` name, and the
  * readable view at version v is
  *
  *     (newest base snapshot at or below v) ∪ (deltas after it, up to v)
  *
  * [[compactParts]] folds covered deltas into a snapshot AT the same
  * version number, so a reader's view never changes across a
  * compaction — only how many relations produce it. Per-trigger WRITE cost is what the
  * split buys: a delta write is O(batch) where a snapshot rewrite is
  * O(index) — the difference between minute-scale and sub-second
  * triggers at a 1B-row index (AnnIndexStore's scale note).
  *
  * Content policy (duplicates across versions, tie rules) belongs to
  * the caller: [[read]] unions verbatim and [[compactParts]] takes the
  * fold over the version-tagged parts (AnnIndexStore passes its
  * latest-version-wins `latestById`; NearDupIngest keeps the verbatim
  * union).
  */
object DeltaChain {

  /** Every version a chain reader may pin: snapshots ∪ deltas,
    * ascending. */
  def versions(spark: SparkSession, store: VersionedStore,
               base: String, delta: String): Seq[Long] =
    (store.versions(spark, base) ++ store.versions(spark, delta))
      .distinct.sorted

  /** The chain view at pinned version `v` as VERSION-TAGGED parts
    * (base snapshot first, then deltas ascending) — for readers whose
    * content policy needs version order, e.g. AnnIndexStore's
    * latest-version-wins dedup of re-ingested ids. */
  def readParts(spark: SparkSession, store: VersionedStore,
                base: String, delta: String,
                v: Long): Seq[(Long, DataFrame)] = {
    require(versions(spark, store, base, delta).contains(v),
      s"no chain version $v of $base/$delta")
    val b = store.versions(spark, base).filter(_ <= v).lastOption
    val deltas = store.versions(spark, delta)
      .filter(dv => dv <= v && b.forall(dv > _))
      .map(dv => (dv, store.getVersion(spark, delta, dv)))
    val parts = b.map(bv => (bv, store.getVersion(spark, base, bv)))
      .toSeq ++ deltas
    require(parts.nonEmpty, s"empty chain at version $v of $base/$delta")
    parts
  }

  /** The chain view at pinned version `v`. */
  def read(spark: SparkSession, store: VersionedStore,
           base: String, delta: String, v: Long): DataFrame =
    union(readParts(spark, store, base, delta, v))

  private def union(parts: Seq[(Long, DataFrame)]): DataFrame =
    parts.map(_._2).reduce(_ unionByName _)

  /** The chain view at the newest version. */
  def readNewest(spark: SparkSession, store: VersionedStore,
                 base: String, delta: String): DataFrame = {
    val vs = versions(spark, store, base, delta)
    require(vs.nonEmpty, s"no chain versions of $base/$delta")
    read(spark, store, base, delta, vs.last)
  }

  /** Fold every delta at or below `upTo` into a snapshot at `upTo`,
    * then delete the covered deltas; returns the covered versions. The
    * snapshot commits BEFORE any covered delta is deleted, so concurrent
    * readers reconstruct a consistent view throughout. No-op when
    * nothing is covered (also the guard against overwriting a snapshot
    * from a plan that reads it). `fold` receives the version-tagged
    * parts ([[readParts]]), so a content policy that depends on version
    * order (latest-version-wins) survives compaction — a fold over the
    * untagged union could not tell a stale row from the row that
    * superseded it. The default keeps the verbatim union ([[read]]). */
  def compactParts(spark: SparkSession, store: VersionedStore,
                   base: String, delta: String, upTo: Long,
                   fold: Seq[(Long, DataFrame)] => DataFrame = union)
      : Seq[Long] = {
    val b = store.versions(spark, base).filter(_ <= upTo).lastOption
    val covered = store.versions(spark, delta)
      .filter(dv => dv <= upTo && b.forall(dv > _))
    if (covered.isEmpty) return Seq.empty
    store.putVersion(base, upTo,
      fold(readParts(spark, store, base, delta, upTo)))
    covered.foreach(store.deleteVersion(spark, delta, _))
    covered
  }
}
