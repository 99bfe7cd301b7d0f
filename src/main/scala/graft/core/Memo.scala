package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.graft.shims

/** Session-scoped memo for what several registered queries share: one
  * store, one entry point ([[value]]), entries keyed by
  * (session UUID, key).
  *
  * The dedup family (`dedup_ngram_jaccard`, `dedup_components`,
  * `dedup_cluster_sizes`, `dedup_keep_representatives`,
  * `dedup_edit_distance`, `pipeline_corpus_prep`) all build on the same
  * prefix-filter candidate pipeline — by far the most expensive plan in
  * the registry. Re-deriving it per query is pure waste: the pair
  * relation is tiny (one row per near-dup pair) while the pipeline that
  * produces it scans and shuffles the whole shingle index. [[dataFrame]]
  * materializes it once per (session, key) behind a [[Lineage.cut]] and
  * hands every later query the truncated-lineage handle. The same store
  * holds the session's det ANN index builds and the handles of one-time
  * layout writes (bucketed and day-partitioned copies, the served ANN
  * index store).
  *
  * Keys embed every parameter the entry depends on (table dir, n,
  * threshold). The session part is Spark's session UUID, never reused,
  * so a session never sees another session's RDD handles and a new
  * session never inherits a stopped one's dead handles or skipped
  * setup.
  *
  * Concurrency: the map's monitor guards only map operations; a build
  * runs under its own entry's latch. Two callers of one key build it
  * once, callers of other keys never wait on it, and nested builds of
  * different keys (`shingle_prefix` → `shingle_idx`) follow the
  * acyclic dependency order, so they cannot deadlock. A build that
  * throws leaves no entry; the next call rebuilds.
  *
  * The structure — compute shared candidates once, fan out consumers —
  * is the shape a reliable checkpoint needs at 100 TB; see
  * [[Lineage]]'s note on swapping the storage call.
  */
object Memo {

  /** Cap on live memo entries: a long-lived session touching many
    * (table, parameter) combinations must not pin executor block-store
    * memory without bound. Eviction drops the oldest-touched entry; the
    * checkpointed blocks behind a DataFrame handle are reclaimed
    * asynchronously by Spark's ContextCleaner once the RDD is
    * unreferenced (there is no synchronous free for checkpointed
    * blocks). A full `graft.Verify` leaves 25 entries for its one
    * table dir (sf0.001 and sf0.01 alike), so 64 keeps two dirs'
    * working sets resident. */
  private[core] val MaxEntries = 64

  /** One entry; its monitor is the key's latch. `v` is written once,
    * under the latch. */
  private final class Cell { var v: Option[Any] = None }

  // access-ordered LinkedHashMap = LRU. Its monitor is held only for map
  // operations, never while a build runs: under AQE a build executes
  // Spark jobs (a checkpoint runs the plan's shuffle stages, a value
  // build collects), and those must not block other keys.
  private val cells =
    new java.util.LinkedHashMap[(String, String), Cell](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Cell]): Boolean =
        size() > MaxEntries
    }

  /** Build `build` once per (session, key) and reuse the result. Builds
    * typically EXECUTE Spark jobs; only callers of the same key wait. */
  def value[T](s: SparkSession, key: String)(build: => T): T = {
    val k = (shims.sessionUUID(s), key)
    val cell = cells.synchronized(cells.computeIfAbsent(k, _ => new Cell))
    cell.synchronized {
      if (cell.v.isEmpty)
        try cell.v = Some(build)
        catch {
          case e: Throwable =>
            cells.synchronized(cells.remove(k, cell))
            throw e
        }
      cell.v.get.asInstanceOf[T]
    }
  }

  /** [[value]] for a relation: materialized behind [[Lineage.cut]], the
    * one memo boundary. A root global `Sort` is dropped first: inside
    * a larger fused plan the optimizer removes a sort its consumer does
    * not need, but a checkpoint EXECUTES it — the range-partition
    * sampling pass recomputes the whole child.
    * Operators therefore always return their total order, and
    * order-sensitive memo consumers re-sort the (small) result. */
  def dataFrame(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    value(s, key) {
      val df = build
      Lineage.cut(shims.analyzed(df) match {
        case sort: Sort if sort.global => shims.ofRows(s, sort.child)
        case _ => df
      })
    }

  private[core] def liveEntries: Int = cells.synchronized(cells.size())

  /** Keys currently memoized for `s` (Bench snapshots these around each
    * timed query to find what the query built). */
  def keys(s: SparkSession): Set[String] = {
    val sid = shims.sessionUUID(s)
    cells.synchronized {
      cells.keySet().asScala.collect { case (`sid`, k) => k }.toSet
    }
  }

  /** Drop exactly `which` for `s` — Bench's outlier retry clears only
    * the entries the retried query itself built, so a memo-building
    * query re-measures its honest cold cost WITHOUT also evicting
    * intermediates that unrelated later queries' history medians assume
    * warm (a whole-session clear made one noisy query cascade cold
    * rebuilds into every subsequent memo consumer). Blocks are
    * reclaimed asynchronously by the ContextCleaner once
    * unreferenced. */
  def clearKeys(s: SparkSession, which: Set[String]): Unit = {
    val sid = shims.sessionUUID(s)
    cells.synchronized(which.foreach(k => cells.remove((sid, k))))
  }
}
