package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.TextOps
import graft.sources.LogFiles

/** Reference-app parity queries (SURVEY.md §2.2-2.4): the three Crane apps
  * plus distributed grep and the global top-K snapshot, expressed over the
  * shared test tables so the DuckDB oracle can check them.
  */
object RefQueries extends Registry {

  val defs: Map[String, QueryFn] = Map(
    // T1+A1/A2+O1: server/wordCount.go:75-84,99-137
    "wordcount_top5" -> ((s, d) =>
      TextOps.wordCountTopK(Tables.documents(s, d), "text", 5)),

    // T4: server/querier.go:28-41 — regex filter with provenance
    "grep_filter" -> ((s, d) =>
      TextOps.grep(Tables.documents(s, d), "text", "merge (table|row)")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // A3: server/querier.go:25-49 — per-source match counts
    "grep_count" -> ((s, d) =>
      TextOps.grepCount(Tables.documents(s, d), "text", "scan.*join", "source")
        .orderBy("source")),

    // T2: server/twitter.go:59-67 — exactly-2-field lines only (the
    // reference drops malformed edges), project token #2, count, top-5.
    // Edge lines are synthesized from events ("user_id event_type"), with
    // every 10th line malformed (3 fields) to exercise the arity filter.
    "twitter_top5" -> ((s, d) => {
      val lines = Tables.events(s, d).select(
        when(col("event_id") % 10 === 0,
          concat_ws(" ", col("user_id"), col("event_type"), lit("extra")))
          .otherwise(concat_ws(" ", col("user_id"), col("event_type")))
          .as("line"))
      TextOps.topK(
        TextOps.projectToken(lines, "line", 2, 2)
          .groupBy("token").agg(count(lit(1)).as("cnt")),
        5, "cnt", "token")
    }),

    // T3: server/hothttp.go:59-73 — contains + arity filter, project token #7
    "hothttp_top5" -> ((s, d) =>
      TextOps.topK(
        TextOps.filterProjectToken(Tables.documents(s, d), "text", "join", 10, 7)
          .groupBy("token").agg(count(lit(1)).as("cnt")),
        5, "cnt", "token")),

    // T4/A3 with FULL provenance (server/querier.go:28-49): grep over a
    // directory of per-VM log files, every match tagged file + 1-based
    // line number — the reference's `vmN.log:<line>: <text>` output. The
    // fixture is a checked-in deterministic corpus (data/logs, generated
    // by tools/gen_log_fixture.py); the sf dir is irrelevant by design.
    "grep_per_file" -> ((s, _) =>
      LogFiles.grep(s, logsDir, "(ERROR|WARN) (connection reset|slow query)")
        .orderBy("file", "line_no")),

    // A3: per-file (per-VM) match counts, client/client.go:83-89
    "grep_per_file_count" -> ((s, _) =>
      LogFiles.grepCounts(s, logsDir, "http (GET|POST) .* 500 ")
        .orderBy("file")),

    // Structured log parsing: the step after grep — regexp groups pull
    // the http lines apart into typed columns (method, status, latency)
    // and aggregate. Pure codegen'd per-row extraction + partial agg;
    // nothing but the tiny group relation crosses the shuffle.
    "log_http_stats" -> ((s, _) => {
      val pat = "http (\\S+) (\\S+) (\\d+) (\\d+)ms"
      LogFiles.lines(s, logsDir)
        .filter(col("line").rlike(pat))
        .select(
          regexp_extract(col("line"), pat, 1).as("method"),
          regexp_extract(col("line"), pat, 3).cast("long").as("status"),
          regexp_extract(col("line"), pat, 4).cast("long").as("latency_ms"))
        .groupBy("method", "status")
        .agg(count(lit(1)).as("n"),
          round(avg("latency_ms"), 2).as("avg_ms"),
          max("latency_ms").as("max_ms"))
        .orderBy("method", "status")
    }),

    // O1: server/wordCount.go:99-123 — global sort desc + limit K
    // (plans as TakeOrderedAndProject: no full sort at scale)
    "topk_global" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .limit(5)),
  )

  /** The grep fixture: `GRAFT_LOGS_DIR`, else `data/logs` under the
    * working directory (sbt runs and tests fork in the project base).
    * Absolute, because the DuckDB oracle SQL embeds it and the checker
    * may run from another directory. */
  private[graft] val logsDir = sys.env.getOrElse("GRAFT_LOGS_DIR",
    java.nio.file.Paths.get("data/logs").toAbsolutePath.toString)

  /** DuckDB mirror of LogFiles.lines: read_text + positionally-zipped
    * unnest reproduces (file, line_no, line) with the same 1-based
    * numbering, and the same phantom-trailing-empty-line drop (a
    * newline-terminated file reports its true line count, grep/wc
    * accounting). */
  private val logLinesCte =
    s"""f AS (SELECT regexp_extract(filename, '[^/]+$$') AS file,
                     string_split(content, chr(10)) AS lines
              FROM read_text('$logsDir/*.log')),
        l0 AS (SELECT file, len(lines) AS n,
                      unnest(range(1, len(lines) + 1)) AS line_no,
                      unnest(lines) AS line
               FROM f),
        l AS (SELECT file, line_no, line FROM l0
              WHERE NOT (line_no = n AND line = ''))"""

  val oracles: Map[String, String] = Map(
    "log_http_stats" ->
      s"""WITH $logLinesCte
          SELECT regexp_extract(line, 'http (\\S+) (\\S+) (\\d+) (\\d+)ms', 1)
                   AS method,
                 CAST(regexp_extract(line, 'http (\\S+) (\\S+) (\\d+) (\\d+)ms', 3)
                   AS BIGINT) AS status,
                 CAST(count(*) AS BIGINT) AS n,
                 round(avg(CAST(regexp_extract(line,
                   'http (\\S+) (\\S+) (\\d+) (\\d+)ms', 4) AS BIGINT)), 2)
                   AS avg_ms,
                 CAST(max(CAST(regexp_extract(line,
                   'http (\\S+) (\\S+) (\\d+) (\\d+)ms', 4) AS BIGINT))
                   AS BIGINT) AS max_ms
          FROM l
          WHERE regexp_matches(line, 'http (\\S+) (\\S+) (\\d+) (\\d+)ms')
          GROUP BY method, status
          ORDER BY method, status""",

    "grep_per_file" ->
      s"""WITH $logLinesCte
          SELECT file, line_no, line FROM l
          WHERE regexp_matches(line, '(ERROR|WARN) (connection reset|slow query)')
          ORDER BY file, line_no""",

    "grep_per_file_count" ->
      s"""WITH $logLinesCte
          SELECT file, count(*) AS cnt FROM l
          WHERE regexp_matches(line, 'http (GET|POST) .* 500 ')
          GROUP BY file ORDER BY file""",

    "wordcount_top5" ->
      """SELECT word, count(*) AS cnt
         FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                          t -> t <> '')) AS word
               FROM documents) t
         GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 5""",

    "grep_filter" ->
      """SELECT doc_id, source FROM documents
         WHERE regexp_matches(text, 'merge (table|row)')
         ORDER BY doc_id""",

    "grep_count" ->
      """SELECT source, count(*) AS cnt FROM documents
         WHERE regexp_matches(text, 'scan.*join')
         GROUP BY source ORDER BY source""",

    "twitter_top5" ->
      """SELECT token, count(*) AS cnt
         FROM (SELECT toks[2] AS token
               FROM (SELECT list_filter(string_split_regex(trim(line), '\s+'),
                                        t -> t <> '') AS toks
                     FROM (SELECT CASE WHEN event_id % 10 = 0
                             THEN user_id::VARCHAR || ' ' || event_type || ' extra'
                             ELSE user_id::VARCHAR || ' ' || event_type END AS line
                           FROM events))
               WHERE len(toks) = 2)
         GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 5""",

    "hothttp_top5" ->
      """SELECT token, count(*) AS cnt
         FROM (SELECT toks[7] AS token
               FROM (SELECT list_filter(string_split_regex(trim(text), '\s+'),
                                        t -> t <> '') AS toks
                     FROM documents
                     WHERE contains(text, 'join'))
               WHERE len(toks) >= 10)
         GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 5""",

    "topk_global" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
         LIMIT 5""",
  )
}
