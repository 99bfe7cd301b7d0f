package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped materialization memo for intermediate relations several
  * registered queries share.
  *
  * The dedup family (`dedup_ngram_jaccard`, `dedup_components`,
  * `dedup_cluster_sizes`, `dedup_keep_representatives`,
  * `dedup_edit_distance`, `pipeline_corpus_prep`) all build on the same
  * prefix-filter candidate pipeline — by far the most expensive plan in
  * the registry. Re-deriving it per query is pure waste: the pair
  * relation is tiny (one row per near-dup pair) while the pipeline that
  * produces it scans and shuffles the whole shingle index. The memo
  * materializes it once per (session, key) via `localCheckpoint` and
  * hands every later query the truncated-lineage handle.
  *
  * Keys embed every parameter the relation depends on (table dir, n,
  * threshold); entries are keyed by session identity so independent test
  * sessions never see another session's RDD handles.
  *
  * 100 TB note: `localCheckpoint` stores blocks on the executors that
  * computed them (lost on executor failure — Spark recomputes, which at
  * that scale means re-running the pipeline). A production deployment
  * would swap the storage call for a reliable checkpoint or a persisted
  * intermediate table; the memo's structure — compute shared candidates
  * once, fan out consumers — is exactly the shape that swap needs.
  */
object Memo {

  /** Cap on live memo entries: a long-lived session touching many
    * (table, parameter) combinations must not pin executor block-store
    * memory without bound. Eviction drops the oldest-touched handle; the
    * checkpointed blocks behind it are reclaimed asynchronously by
    * Spark's ContextCleaner once the RDD is unreferenced (there is no
    * synchronous free for localCheckpoint blocks). 64 entries is ~10x
    * the registry's working set. */
  private[core] val MaxEntries = 64

  // access-ordered LinkedHashMap = LRU; all access under `cache`'s lock.
  // The lock is NOT cheap: under AQE, `localCheckpoint(eager = false)`
  // runs the build's shuffle stages right away, so Spark jobs execute
  // while it is held (embed_covariance's triangle: 4 jobs). A per-key
  // latch instead of this global lock is ROADMAP direction 3.
  private val cache =
    new java.util.LinkedHashMap[(Int, String), DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, String), DataFrame]): Boolean =
        size() > MaxEntries
    }

  /** Materialize `build` once per (session, key) and reuse the handle. */
  def dataFrame(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    cache.synchronized {
      val k = (System.identityHashCode(s), key)
      val hit = cache.get(k)
      if (hit != null) hit
      else {
        val df = build.localCheckpoint(eager = false)
        cache.put(k, df)
        df
      }
    }

  private[core] def liveEntries: Int = cache.synchronized(cache.size())

  /** Session-keyed DRIVER-SIDE object memo for collected index metadata
    * (e.g. the det-IVF centroid plane kernel — a few KB of longs): the
    * ANN det families re-collected the same plane per query, paying the
    * aggregation job + driver round trip each time. Same lifecycle and
    * anti-gaming contract as the DataFrame memo: session-scoped, never
    * persisted across JVMs, enumerated by [[keys]] and evicted by
    * [[clearKeys]] so Bench's outlier/min-of-2 reruns re-measure
    * memo-building queries cold. */
  private val values =
    new java.util.LinkedHashMap[(Int, String), Any](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, String), Any]): Boolean =
        size() > MaxEntries
    }

  /** NOTE: like [[dataFrame]] (whose checkpoint runs the build's
    * shuffle stages under AQE), a value build typically EXECUTES Spark
    * jobs (an aggregation + collect). The lock is held across the
    * build — the single-threaded Bench/Verify drivers never contend,
    * and holding it keeps the build exactly-once; a concurrent caller
    * of a DIFFERENT key waits rather than double-building (the lock is
    * reentrant, so nested memo builds are fine). Replacing both global
    * locks with a per-key latch is ROADMAP direction 3. */
  def value[T](s: SparkSession, key: String)(build: => T): T =
    values.synchronized {
      val k = (System.identityHashCode(s), key)
      val hit = values.get(k)
      if (hit != null) hit.asInstanceOf[T]
      else {
        val v = build
        values.put(k, v)
        v
      }
    }

  /** Keys currently memoized for `s` (Bench snapshots these around each
    * timed query to find what the query built) — BOTH memo kinds, so a
    * retried query's plane-kernel builds are evicted exactly like its
    * DataFrame builds. */
  def keys(s: SparkSession): Set[String] = {
    val sid = System.identityHashCode(s)
    val a = cache.synchronized {
      scala.jdk.CollectionConverters.SetHasAsScala(cache.keySet()).asScala
        .collect { case (`sid`, k) => k }.toSet
    }
    val b = values.synchronized {
      scala.jdk.CollectionConverters.SetHasAsScala(values.keySet()).asScala
        .collect { case (`sid`, k) => k }.toSet
    }
    a ++ b
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
    val sid = System.identityHashCode(s)
    cache.synchronized {
      which.foreach(k => cache.remove((sid, k)))
    }
    values.synchronized {
      which.foreach(k => values.remove((sid, k)))
    }
  }

  private val done = TrieMap.empty[(Int, String), Unit]

  /** Run a side-effecting setup (e.g. writing a bucketed table copy) once
    * per (session, key). */
  def once(s: SparkSession, key: String)(body: => Unit): Unit =
    done.getOrElseUpdate((System.identityHashCode(s), key), body)
}
