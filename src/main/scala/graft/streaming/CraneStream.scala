package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

import graft.operators.TextOps
import graft.sources.{LocalFs, VersionedStore}

/** End-to-end streaming lifecycle: source → app transform → running
  * aggregate → periodic versioned top-K snapshot. This is the Spark
  * rebuild of `start <app> <file> [period sendPeriod]`
  * (client.go:286-291 → Crane.StartApp, SURVEY.md §3.1):
  *
  *  - the rate-limited spout (Crane.go:63-99: one line per SendPeriod)
  *    becomes a file/socket/rate source with a processing-time trigger;
  *  - the XOR-acker + replay machinery (acker.go, Crane.go:106-128) is
  *    subsumed by checkpointed offsets + state store (exactly-once);
  *  - the 10 s snapshot ticker (Crane.go:30,193-204) becomes
  *    Trigger.ProcessingTime(period);
  *  - writeToSDFS's versioned top-5 put (wordCount.go:99-137) becomes a
  *    foreachBatch write of the top-K into a VersionedStore, one version
  *    per micro-batch (batchId as the version — deterministic across
  *    restarts, unlike wall-clock; SURVEY.md §7.5).
  */
object CraneStream {

  /** The reference's three stream topologies ("apps", server/wordCount.go,
    * server/twitter.go, server/hothttp.go + Crane.go:219-232's name
    * registry; any registered name can be started,
    * failure-detector.go:131-133): name → (key column, transform) over a
    * single-column `value: string` line stream.
    *
    * Each app is (transform → keyed running count): the reference's
    * `transform` emits 0..n key tuples per line (wordCount.go:75-84,
    * twitter.go:59-67, hothttp.go:59-73) and its sink `join`/`mergeCache`
    * pair is a running `result[key] += count` (wordCount.go:33-74). Here
    * the transform is one of [[graft.operators.TextOps]]' row steps and
    * the running count a streaming `groupBy(key).count()` in
    * [[counts]] — Structured Streaming's state store replaces the
    * ack/replay/staging machinery (exactly-once, strictly stronger than
    * the reference's at-least-once XOR acker, acker.go:51-74).
    *
    * The DuckDB-checked `wordcount_top5`, `twitter_top5` and
    * `hothttp_top5` (graft.queries.RefQueries) run the same TextOps
    * operators and the same [[TextOps.topK]] in batch, which mirrors the
    * reference's own dual-implementation oracle methodology
    * (cs425_mp4.pdf §4):
    *  - wordCount: one `word` row per whitespace token;
    *  - twitter: edge line "follower followee" → followee, dropping
    *    malformed lines (field count != 2);
    *  - hothttp: lines containing "200" with >= 10 fields, keyed on
    *    field 7 (the requested resource; Go index 6). */
  val apps: Map[String, (String, DataFrame => DataFrame)] = Map(
    "wordCount" -> ("word" -> (TextOps.words(_, "value"))),
    "twitter" -> ("followee" -> (lines =>
      TextOps.projectToken(lines, "value", 2, 2).toDF("followee"))),
    "hothttp" -> ("resource" -> (lines =>
      TextOps.filterProjectToken(lines, "value", "200", 10, 7)
        .toDF("resource"))),
  )

  /** `app`'s running count over `lines`: one (key, `count`) row per key. */
  def counts(app: String, lines: DataFrame): DataFrame = {
    val (key, transform) = apps(app)
    transform(lines).groupBy(key).count()
  }

  /** The built-in RocksDB state store provider — the 100 TB streaming
    * story. The default (HDFS-backed) provider keeps EVERY key's state
    * on the executor heap between checkpoints, so running counts or
    * open sessions over a high-cardinality key space are memory-bound;
    * RocksDB keeps state on local disk behind a bounded block cache,
    * so state size is disk-bound and the executor heap holds only the
    * working set. Provider choice is recorded in the checkpoint and
    * must stay consistent across restarts of the same query — the
    * stateful entry points below pin it BEFORE start so a restarted
    * query always reopens the same store format. */
  // the provider class is private[spark]; its FQCN is the public
  // configuration surface (Structured Streaming programming guide)
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Pin the session's streaming state store to RocksDB (see
    * [[RocksDbProvider]]); applies to queries STARTED after this call. */
  def useRocksDbStateStore(spark: SparkSession): Unit =
    spark.conf.set(ProviderKey, RocksDbProvider)

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** The one start path of every graft stream: `df`'s micro-batches go
    * to `sink` as (batch, batchId).
    *
    * The query starts with `conf` set on its session WITHOUT leaking it
    * to queries started later: Spark clones the session when the query is
    * created inside `start`, so the query, its checkpoint logs, its
    * sources and its state store keep `conf` for life while the session
    * reverts for everyone else. Every stream routes `file:` through
    * [[graft.sources.LocalFs]]; the stateful Crane paths also pin the
    * RocksDB provider, one of the confs Spark captures into the query's
    * offset metadata at first start (and reapplies on every restart from
    * that checkpoint).
    *
    * The set/start/restore window mutates SESSION-global state, so
    * concurrent `start`s on the same session could capture the wrong
    * provider into a checkpoint for life; the lock serializes every
    * graft entry point that starts a query. (A query started
    * concurrently by code OUTSIDE graft during the window is
    * still exposed — callers sharing a session with foreign streaming
    * code should pin the provider explicitly via
    * [[useRocksDbStateStore]] instead.) */
  private val startLock = new Object
  private[graft] def startBatches(df: DataFrame, checkpointDir: String,
                                  conf: Map[String, String] = LocalFs.routing,
                                  outputMode: String = "append",
                                  period: String = "0 seconds")
                                 (sink: (DataFrame, Long) => Unit): StreamingQuery =
    startLock.synchronized {
      val spark = df.sparkSession
      val prior = conf.keys.map(k => k -> spark.conf.getOption(k))
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val q = df.writeStream
          .outputMode(outputMode)
          .option("checkpointLocation", checkpointDir)
          .trigger(Trigger.ProcessingTime(period))
          .foreachBatch(sink)
          .start()
        // the query's thread builds its sources (the file source and its
        // `sources/` log) from the CALLER's session, after `start`
        // returns: keep `conf` set until it has
        q match {
          case w: StreamingQueryWrapper =>
            try w.streamingQuery.awaitInitialization(Long.MaxValue)
            catch { case _: StreamingQueryException => } // q reports it
          case _ =>
        }
        q
      } finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  private val onRocksDb: Map[String, String] =
    LocalFs.routing + (ProviderKey -> RocksDbProvider)

  /** Unbounded line stream from files appearing under `dir`
    * (the spout's file source, S1). */
  def fileLines(spark: SparkSession, dir: String,
                maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir).withColumnRenamed("text", "value")

  /** TCP line stream (S5, the comparison apps' socketTextStream). */
  def socketLines(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()

  /** Rate-limited replay of a static file's lines — the spout's emit loop
    * (Crane.go:63-99: one line per SendPeriod, line number = messageId).
    * Line i is released when the rate stream reaches sequence number i, so
    * `linesPerSecond` plays the role of 1/SendPeriod and the bench can
    * sweep emit rates like cs425_mp4.pdf Fig. 2A. Implemented as a
    * stream-static broadcast join: the static side is the indexed file,
    * the stream side is Spark's rate source (offset-tracked, replayable —
    * the replay map is subsumed by source offsets). */
  def replayLines(spark: SparkSession, path: String,
                  linesPerSecond: Int): DataFrame = {
    import spark.implicits._
    val indexed = spark.read.textFile(path).rdd.zipWithIndex()
      .map { case (l, i) => (i, l) }.toDF("idx", "value")
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", linesPerSecond).load()
      .withColumnRenamed("value", "seq")
    rate.join(org.apache.spark.sql.functions.broadcast(indexed),
        col("seq") === col("idx"))
      .select(col("value"))
  }

  /** Start an app: running counts in complete mode, top-K snapshot written
    * as a new store version every trigger. Returns the running query.
    *
    * @param lines   streaming single-column `value: string` frame
    * @param app     registered app name ([[apps]])
    * @param store   versioned snapshot sink (the SDFS-put analogue)
    * @param k       snapshot size (reference: 5)
    * @param period  snapshot period (reference Period default 10 s)
    */
  def start(lines: DataFrame, app: String, store: VersionedStore,
            checkpointDir: String, k: Int = 5,
            period: String = "10 seconds"): StreamingQuery = {
    val key = apps(app)._1
    startBatches(counts(app, lines), checkpointDir, outputMode = "complete",
        period = period) { (batch, batchId) =>
      store.putVersion(s"${app}_result", batchId,
        TextOps.topK(batch, k, "count", key))
    }
  }

  /** The foreachBatch body of both update-mode paths: merge the trigger's
    * changed (key, count) rows into the newest version of `name` STRICTLY
    * BELOW `batchId` — changed keys replace their old rows, their counts
    * are newer — and write `snapshot` of the merged rows as version
    * `batchId`. Idempotent across restarts: a replayed batch merges
    * against the same prior version and overwrites its own, so
    * re-execution produces identical output. */
  private def mergeIntoPrior(store: VersionedStore, name: String, key: String)
                            (snapshot: DataFrame => DataFrame)
                            (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // the merge references `batch` twice (anti-join + union); persist
    // so the stateful scan behind it executes once per trigger — the
    // documented foreachBatch pattern, and required under RocksDB's
    // exclusive per-instance acquire (a re-executed state scan would
    // contend for the same store within the trigger)
    batch.persist()
    try {
      val merged = store.versions(spark, name).filter(_ < batchId).lastOption
        .fold(batch)(v => store.getVersion(spark, name, v)
          .join(batch, Seq(key), "left_anti").unionByName(batch))
      store.putVersion(name, batchId, snapshot(merged))
    } finally batch.unpersist()
  }

  /** The scale path for large key spaces (SURVEY.md §7.5): complete mode
    * re-emits EVERY key each trigger — fine for a top-5 demo, fatal when
    * the running state is billions of keys. Update mode emits only keys
    * whose count changed; the sink merges them into the previous snapshot
    * version ([[mergeIntoPrior]]) and writes the merged state as
    * version = batchId. Per-trigger cost is O(changed keys + snapshot
    * rewrite); at scale the rewrite becomes a partitioned upsert
    * (merge-on-write on the key's hash bucket), which this structure maps
    * onto directly.
    */
  def startUpdateMode(lines: DataFrame, app: String, store: VersionedStore,
                      checkpointDir: String,
                      period: String = "10 seconds"): StreamingQuery =
    // update mode exists FOR high-cardinality key spaces — pair it with
    // the disk-backed store or the state itself becomes the memory bound
    startBatches(counts(app, lines), checkpointDir, onRocksDb, "update",
      period)(mergeIntoPrior(store, s"${app}_counts", apps(app)._1)(identity))

  /** Bounded-SNAPSHOT top-K for high-cardinality key spaces (SURVEY §7.5's
    * noted hard part; VERDICT r5 item 8) — the third point on the state/
    * output trade-off:
    *
    *  - `start` (complete mode): snapshot work is O(all keys) EVERY
    *    trigger — the aggregation re-emits the entire key space and
    *    topK re-sorts it;
    *  - `startUpdateMode`: triggers emit only changed keys, but the
    *    merge-on-write snapshot still carries every key ever seen;
    *  - this: per-key running counts live in `mapGroupsWithState` (the
    *    same keyed state the aggregation would hold, checkpointed the
    *    same way), triggers emit only changed (key, count) pairs, and
    *    the sink keeps a K-ROW snapshot — per-trigger sink work is
    *    O(changed + K) and stored bytes are O(K), independent of key
    *    cardinality.
    *
    * Exactness under the bounded snapshot relies on counts being
    * MONOTONE non-decreasing: the new top-K can only contain rows from
    * (previous top-K ∪ this trigger's changed keys) — an unchanged key
    * outside the old top-K was already beaten by all K of its rows and
    * nothing shrank. The same argument is why the candidate union of
    * [[mergeIntoPrior]] never needs the full key space; it is idempotent
    * across restarts the same way.
    */
  def startTopKBounded(lines: DataFrame, app: String, store: VersionedStore,
                       checkpointDir: String, k: Int = 5,
                       period: String = "10 seconds"): StreamingQuery = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val spark0 = lines.sparkSession
    import spark0.implicits._
    val (key, transform) = apps(app)
    val updates = transform(lines)
      .select(col(key).cast("string")).as[String]
      .groupByKey(identity)
      .mapGroupsWithState[Long, (String, Long)](GroupStateTimeout.NoTimeout) {
        (word, rows, state) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (word, n)
      }
    startBatches(updates.toDF(key, "count"), checkpointDir, onRocksDb,
        "update", period)(
      mergeIntoPrior(store, s"${app}_topk", key)(TextOps.topK(_, k, "count", key)))
  }
}
