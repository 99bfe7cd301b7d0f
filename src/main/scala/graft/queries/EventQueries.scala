package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TopKAgg.topk_longs
import graft.operators.Sampling

/** Event-pipeline queries over the events table: JSON property
  * extraction, gap-based sessionization (the batch form of
  * streaming.EventTimeOps.sessionize — same 30-minute gap rule), and a
  * salt-then-merge aggregation demonstrating the skew-mitigation shape
  * (identical results to the direct group-by, which is exactly what the
  * oracle checks).
  */
object EventQueries extends Registry {

  private val gapSec = 1800L // 30-minute session gap

  val defs: Map[String, QueryFn] = Map(
    "events_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          round(avg("k"), 4).as("avg_k"))
        .orderBy("event_type")),

    "events_sessionize" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val w = Window.partitionBy("user_id").orderBy("ts")
      val sessions = ev
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapSec,
            1L).otherwise(0L))
        .withColumn("session_id", sum("new_session")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (unix_timestamp(max("ts")) - unix_timestamp(min("ts")))
            .as("duration_sec"))
      sessions.groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum("n_events").as("n_events"),
          sum("duration_sec").as("total_duration_sec"))
        .orderBy("user_id")
    }),

    // Concurrency from intervals: how many sessions are ACTIVE in each
    // hour — the load-profile / capacity-planning analytic over the same
    // 30-minute-gap sessions as events_sessionize. Each session interval
    // explodes to the hour buckets it overlaps (sequence + explode;
    // fan-out bounded by session duration, which the gap rule keeps
    // short), then a partial-aggregated count per bucket — no
    // interval-vs-interval join anywhere. Output hours as epoch seconds
    // (engines serialize timestamps differently).
    "events_concurrency_hourly" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts")
      Tables.events(s, d)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))
              > gapSec, 1L).otherwise(0L))
        .withColumn("session_id", sum("new_session")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(min("ts").as("st"), max("ts").as("en"))
        .select(explode(sequence(date_trunc("hour", col("st")),
          date_trunc("hour", col("en")), expr("INTERVAL 1 HOUR")))
          .as("hour"))
        .groupBy(unix_timestamp(col("hour")).as("hour_epoch"))
        .agg(count(lit(1)).as("n_active"))
        .orderBy("hour_epoch")
    }),

    // HLL sketch distinct: at 100 TB you count distinct users with a
    // bounded-memory sketch, not an exact shuffle of every key. The raw
    // estimate is engine-internal, so the hash-checked output is the
    // exact distinct count plus an integer within-5% verdict computed
    // AGAINST the sketch (rsd 1%, so 5% is generous) — the oracle
    // asserts the verdict is 1, graduating the old rows-only check.
    // The exact column is the verification yardstick, not the 100 TB
    // plan; the sketch is what a production rollup would keep.
    "events_approx_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), rsd = 0.01)
            .as("approx"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx") - col("exact_users")) * 100
            <= col("exact_users") * 5).cast("long").as("within_5pct"))
        .orderBy("event_type")),

    // KMV (k-minimum-values) distinct sketch (Bar-Yossef et al. 2002):
    // keep the k=64 smallest 60-bit md5 hashes of the distinct keys per
    // group; the estimator (k-1)·2^60 DIV h_(k) is replayed BIT-FOR-BIT
    // by the DuckDB oracle — a hash-checked sketch, where the HLL in
    // events_approx_distinct can only be flag-checked (Spark's HLL
    // internals aren't portable). Scale shape: the distinct pass is the
    // same shuffle countDistinct pays; the k minima come from the
    // topk_longs PARTIAL aggregate (score = -hash), so at most k rows
    // per (group, partition) reach the reducer and per-group final
    // state is 64 longs — no per-group sort of the full hash set. The
    // numerator 63·2^60 overflows Int64, so the division runs in
    // decimal(38,0) here and HUGEINT in the oracle, truncating
    // identically (both operands non-negative).
    "events_kmv_distinct" -> ((s, d) => {
      val k = 64
      val ev = Tables.events(s, d)
      val h = ev
        .select(col("event_type"),
          conv(substring(md5(col("user_id").cast("string")), 1, 15),
            16, 10).cast("long").as("h"))
        .distinct()
      val sk = h.groupBy("event_type")
        .agg(count(lit(1)).as("n_hashes"),
          topk_longs(-col("h"), col("h"), k).as("mins"))
        // mins is sorted by score desc = hash asc; element k is h_(k).
        // greatest(·,1): a hash of exactly 0 (p = 2^-60 per key) must
        // not crash either engine's division
        .withColumn("hk",
          greatest(try_element_at(col("mins"), lit(k))("_2"), lit(1L)))
        .withColumn("kmv_est",
          when(col("n_hashes") < k, col("n_hashes"))
            .otherwise(expr(
              s"CAST(CAST(${k - 1} AS DECIMAL(38,0)) * " +
                "CAST(1152921504606846976 AS DECIMAL(38,0)) AS " +
                "DECIMAL(38,0)) div hk"))
            // cast the decimal(38,0) quotient back to long so the Spark
            // schema agrees with the oracle's BIGINT by construction
            .cast("long"))
      // the audit baseline is TRUE distinct users (like the weekly
      // twin), not distinct 60-bit hashes — an md5 collision must show
      // up as estimator error, not silently deflate the ground truth
      val nd = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      sk.join(nd, "event_type")
        .withColumn("err_bp",
          expr("abs(kmv_est - exact_users) * 10000 div exact_users"))
        .select("event_type", "exact_users", "kmv_est", "err_bp")
        .orderBy("event_type")
    }),

    // MERGEABLE sketch rollup — the pre-aggregated distinct-count
    // pattern at 100 TB: build one DataSketches HLL per day ONCE
    // (hll_sketch_agg), then answer any date range by UNIONING the
    // day sketches (hll_union_agg) without touching raw events again.
    // approx_count_distinct above answers one grouping; this relation
    // is reusable across all groupings that compose from days. Sketch
    // binaries are engine-internal, so the hash-checked output is the
    // exact weekly distinct plus an integer within-5% verdict computed
    // AGAINST the unioned day sketches (EventQueriesSpec keeps the
    // tighter per-week bound); the exact column is the verification
    // yardstick — the sketch union is the 100 TB answer path.
    "events_hll_weekly_rollup" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val daily = ev
        .groupBy(to_date(date_trunc("week", col("ts"))).as("week"),
          to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val weekly = daily.groupBy("week")
        .agg(count(lit(1)).as("n_days"),
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_users"))
      val exact = ev
        .groupBy(to_date(date_trunc("week", col("ts"))).as("week"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      weekly.join(exact, "week")
        .select(col("week").cast("string").as("week"), col("n_days"),
          col("exact_users"),
          (abs(col("est_users") - col("exact_users")) * 100
            <= col("exact_users") * 5).cast("long").as("within_5pct"))
        .orderBy("week")
    }),

    // KMV mergeability — the pre-aggregated distinct-count pattern with
    // a BIT-EXACT oracle: build one 64-minimum sketch per (week, day),
    // merge the day sketches into a weekly sketch (union the min-sets,
    // re-take the 64 smallest — exactly the k smallest of the union,
    // since any union minimum is a minimum of its own day), estimate
    // from the merged kth minimum. events_hll_weekly_rollup is this
    // rollup on DataSketches HLL (engine-internal, flag-checked); here
    // every intermediate is md5-deterministic so the oracle replays the
    // merged ESTIMATE itself. State: 64 longs per day, 64 per week —
    // at 100 TB the day sketches are what you persist, and re-deriving
    // a week / month / all-time estimate never rescans events.
    // When the union carries < 64 hashes every contributing day was
    // exhaustive, so the union IS the exact weekly hash set — the
    // estimator degrades to exact, identically in both engines.
    "events_kmv_weekly_union" -> ((s, d) => {
      val k = 64
      val ev = Tables.events(s, d)
      val h = ev.select(
          to_date(date_trunc("week", col("ts"))).as("week"),
          to_date(col("ts")).as("day"),
          conv(substring(md5(col("user_id").cast("string")), 1, 15),
            16, 10).cast("long").as("h"))
        .distinct()
      val daily = h.groupBy("week", "day")
        .agg(topk_longs(-col("h"), col("h"), k).as("mins"))
      val nDays = daily.groupBy("week").agg(count(lit(1)).as("n_days"))
      val unioned = daily
        .select(col("week"), explode(col("mins")).as("m"))
        .select(col("week"), col("m._2").as("h"))
        .distinct() // same user on several days = same hash in >1 sketch
      val wk = unioned.groupBy("week")
        .agg(count(lit(1)).as("n_union"),
          topk_longs(-col("h"), col("h"), k).as("mins"))
        .withColumn("hk",
          greatest(try_element_at(col("mins"), lit(k))("_2"), lit(1L)))
      val exact = ev
        .groupBy(to_date(date_trunc("week", col("ts"))).as("week"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      wk.join(exact, "week").join(nDays, "week")
        .withColumn("kmv_est",
          when(col("n_union") < k, col("n_union"))
            .otherwise(expr(
              s"CAST(CAST(${k - 1} AS DECIMAL(38,0)) * " +
                "CAST(1152921504606846976 AS DECIMAL(38,0)) AS " +
                "DECIMAL(38,0)) div hk"))
            // cast the decimal(38,0) quotient back to long so the Spark
            // schema agrees with the oracle's BIGINT by construction
            .cast("long"))
        .withColumn("err_bp",
          expr("abs(kmv_est - exact_users) * 10000 div exact_users"))
        .select(col("week").cast("string").as("week"), col("n_days"),
          col("exact_users"), col("kmv_est"), col("err_bp"))
        .orderBy("week")
    }),

    // Deterministic hash sampling (operators.Sampling): the sample itself
    // is reproduced by the oracle — same md5-threshold rule in SQL.
    "events_sample_bernoulli" -> ((s, d) =>
      Sampling.bernoulli(Tables.events(s, d), "event_id", frac256 = 64)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("event_type")),

    "events_sample_stratified" -> ((s, d) =>
      Sampling.stratified(Tables.events(s, d), "event_id", "event_type",
        fractions = Map("click" -> 64, "view" -> 32), default256 = 128)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")),

    // Pivot: long->wide reshape, one column per event type. Explicit value
    // list so the plan is a single pass (no distinct-values pre-query).
    "events_pivot_daily" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .groupBy("day")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .count().na.fill(0L)
        .orderBy("day")),

    // Dense hourly resample: every hour between the corpus bounds (gap
    // hours filled with 0) — the time-series densification a dashboard
    // needs before charting. The hour spine is generated from the 1-row
    // bounds aggregate (sequence + explode), not collected to the driver.
    "events_hourly_dense" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("hour", date_trunc("hour", col("ts")))
      val spine = ev.agg(min("hour").as("lo"), max("hour").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 HOUR"))).as("hour"))
      spine.join(ev.groupBy("hour").agg(count(lit(1)).as("cnt")),
          Seq("hour"), "left")
        .na.fill(0L, Seq("cnt"))
        .select(date_format(col("hour"), "yyyy-MM-dd HH").as("hour"),
          col("cnt"))
        .orderBy("hour")
    }),

    // Exponentially-weighted moving average of the daily event count per
    // type (alpha = 1/2 over a 20-day trailing window), in EXACT integer
    // arithmetic: weights are powers of two (shiftleft), the normalizer
    // is the sum of the weights actually present, and the final milli-
    // scaled division runs on identical non-negative operands on both
    // engines. The heavy work is the partial-aggregated daily rollup;
    // the smoothing self-join runs over the dense (types x days) grid —
    // dimension-sized at any corpus scale, never the fact table.
    "events_ewma_daily" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("day", to_date(col("ts")))
      val daily = ev.groupBy("event_type", "day")
        .agg(count(lit(1)).as("cnt"))
      val spine = ev.agg(min("day").as("lo"), max("day").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 DAY"))).as("day"))
      val dense = ev.select("event_type").distinct()
        .crossJoin(spine)
        .join(daily, Seq("event_type", "day"), "left")
        .na.fill(0L, Seq("cnt"))
      val hist = dense.select(col("event_type").as("t2"),
        col("day").as("d2"), col("cnt").as("c2"))
      dense.join(hist, col("event_type") === col("t2") &&
          datediff(col("day"), col("d2")).between(0, 19))
        .groupBy("event_type", "day")
        .agg(
          sum(expr("shiftleft(CAST(1 AS BIGINT)," +
            " 19 - datediff(day, d2)) * c2")).as("wsum"),
          sum(expr("shiftleft(CAST(1 AS BIGINT)," +
            " 19 - datediff(day, d2))")).as("norm"))
        .select(col("event_type"), col("day").cast("string").as("day"),
          expr("(1000 * wsum) DIV norm").as("ewma_milli"))
        .orderBy("event_type", "day")
    }),

    // Gap-filled hourly series with LINEAR interpolation: missing hours
    // take the value interpolated between the nearest non-missing
    // neighbors (leading/trailing gaps stay null) — the time-series
    // repair step before feature extraction. The heavy work is the
    // partial-aggregated hourly rollup; the spine and the interpolation
    // windows run over (types x hours), a dimension-sized frame, never
    // the fact table. Neighbor lookup = last/first ignoreNulls windows.
    // The interpolated metric is the hourly COUNT: every input to the
    // interpolation quotient is an exact integer, so both engines divide
    // the identical numerator/denominator and the rounded result cannot
    // sit on differing sides of a half-up boundary (a sum-of-doubles
    // metric flipped the 4th decimal at sf0.001 — ulp from summation
    // order).
    "events_hourly_interp" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val base = ev.filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("v"))
      val hours = ev
        .agg(date_trunc("hour", min("ts")).as("lo"),
          date_trunc("hour", max("ts")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 HOUR"))).as("hour"))
      val spine = base.select("event_type").distinct().crossJoin(hours)
      val wPrev = Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(base, Seq("event_type", "hour"), "left")
        .withColumn("hi_idx", expr("unix_timestamp(hour) DIV 3600"))
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
        .withColumn("ph", last(when(col("v").isNotNull, col("hi_idx")),
          ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
        .withColumn("nh", first(when(col("v").isNotNull, col("hi_idx")),
          ignoreNulls = true).over(wNext))
        .select(
          date_format(col("hour"), "yyyy-MM-dd HH").as("hour"),
          col("event_type"),
          round(
            when(col("v").isNotNull, col("v"))
              .when(col("pv").isNull || col("nv").isNull, lit(null))
              .otherwise((col("pv") * (col("nh") - col("hi_idx")) +
                col("nv") * (col("hi_idx") - col("ph"))) /
                (col("nh") - col("ph"))), 4).as("val"),
          when(col("v").isNull && col("pv").isNotNull &&
            col("nv").isNotNull, 1).otherwise(0).cast("int").as("filled"))
        .orderBy("event_type", "hour")
    }),

    // Time-based rolling window: events per user in the trailing hour.
    // The frame is anchored on FLOORED epoch seconds on both engines —
    // a raw-timestamp RANGE INTERVAL frame would disagree across engines
    // wherever a sub-second difference pushes a pair across the exact
    // one-hour boundary (ns vs us precision).
    "events_rolling_1h" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("sec"))
        .rangeBetween(-3600, 0)
      Tables.events(s, d)
        .withColumn("sec", unix_timestamp(col("ts")))
        .withColumn("cnt_1h", count(lit(1)).over(w))
        .select(col("event_id"), col("user_id"), col("cnt_1h"))
        .orderBy("event_id")
    }),

    // Unpivot (wide -> long reshape, the inverse of events_pivot_daily):
    // stack() re-melts the per-type columns; zero-filled combinations
    // survive the round trip, so the output is the dense day x type grid.
    "events_unpivot" -> ((s, d) => {
      val wide = Tables.events(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .groupBy("day")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .count().na.fill(0L)
      wide.select(col("day"), expr(
        """stack(5, 'click', click, 'error', error, 'purchase', purchase,
                    'signup', signup, 'view', view) AS (event_type, cnt)"""))
        .orderBy("day", "event_type")
    }),

    // Median inter-event gap per type (rank-picked exact integer
    // seconds): the cadence baseline sessionization gap thresholds and
    // rate-limit rules are tuned against. One keyed window for the lag;
    // the median is NOT a per-type sort of every gap (~5 types would pin
    // n/5 rows on one reducer each at 100x) — gaps are integer seconds,
    // so they reduce to a (gap_sec -> count) histogram first and the
    // rank pick is a cumulative scan over that bounded histogram, the
    // Audit.keySkew recipe. Same rank-ceil(n*0.5) value either way:
    // the gap at rank r equals the smallest gap whose cumulative count
    // reaches r.
    "events_inter_event_gap" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wLag = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      val gaps = Tables.events(s, d)
        .withColumn("prev", lag(col("ts"), 1).over(wLag))
        .filter(col("prev").isNotNull)
        .select(col("event_type"),
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev")))
            .as("gap_sec"))
      val hist = gaps.groupBy("event_type", "gap_sec")
        .agg(count(lit(1)).as("nk"))
      val cum = hist
        .withColumn("ck", sum("nk").over(
          Window.partitionBy("event_type").orderBy("gap_sec")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum("nk").over(Window.partitionBy("event_type")))
      cum.groupBy("event_type")
        .agg(max(col("n")).cast("long").as("n_gaps"),
          min(when(col("ck") >= ceil(col("n") * 0.5), col("gap_sec")))
            .as("median_gap_sec"))
        .orderBy("event_type")
    }),

    // DAU / trailing-7-day WAU / stickiness — the engagement headline.
    // Exact distinct over a sliding window WITHOUT re-scanning 7 days per
    // day: (day, user) pairs dedup once (partial-aggregated), each pair
    // fans out to the 7 window anchors it covers, and one distinct-count
    // per anchor finishes it. Fan-out is x7 on the deduped pair relation,
    // not the event stream.
    "events_dau_wau" -> ((s, d) => {
      val du = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = du.groupBy("day")
        .agg(countDistinct("user_id").as("dau"))
      val wau = du
        .select(explode(sequence(col("day"), date_add(col("day"), 6)))
          .as("day"), col("user_id"))
        .groupBy("day").agg(countDistinct("user_id").as("wau"))
      dau.join(wau, Seq("day"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("dau"), col("wau"),
          round(col("dau").cast("double") / col("wau"), 4).as("stickiness"))
        .orderBy("day")
    }),

    // Daily volume anomaly scores: z-score of each day's event count
    // against its type's mean/stddev — the monitoring primitive for
    // ingest-volume regressions. Two partial-aggregated rollups (daily
    // counts, then per-type moments over ~days rows) + a broadcast-size
    // join back; raw z-scores, not a thresholded flag, so a boundary day
    // cannot flip the output between engines.
    "events_daily_zscore" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val stats = daily.groupBy("event_type")
        .agg(avg("n").as("mu"), stddev("n").as("sd"))
      daily.join(broadcast(stats), "event_type")
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
          round((col("n") - col("mu")) / col("sd"), 4).as("z"))
        .orderBy("event_type", "day")
    }),

    // Event-type transition matrix (first-order Markov): P(next | cur)
    // over consecutive per-user events — the behavioral model behind
    // next-action prediction and anomalous-session scoring. Same bounded
    // per-user sequence fold as path mining; probabilities divide exact
    // integer counts.
    "events_markov_transitions" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val pairs = ev.groupBy("user_id")
        .agg(array_sort(collect_list(struct(
          col("ts"), col("event_id"), col("event_type")))).as("seq"))
        .select(expr("transform(seq, x -> x.event_type)").as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(t) - 1),
             i -> struct(t[i - 1] AS cur, t[i] AS nxt))""")).as("p"))
        .select(col("p.cur"), col("p.nxt"))
      val counts = pairs.groupBy("cur", "nxt")
        .agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy("cur").agg(count(lit(1)).as("n_cur"))
      counts.join(broadcast(totals), "cur")
        .select(col("cur"), col("nxt"), col("n"),
          round(col("n").cast("double") / col("n_cur"), 4).as("p"))
        .orderBy("cur", "nxt")
    }),

    // Top user journeys: most common 3-step event-type paths over
    // time-ordered per-user sequences — the product-analytics sequence
    // mining staple. Per-user state is bounded by that user's activity
    // (the sessionize bound); path counting is a partial-aggregated
    // groupBy; top-10 is TakeOrdered. Sequences order by (ts, event_id)
    // — a total order both engines replay exactly.
    "events_paths_top" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.groupBy("user_id")
        .agg(array_sort(collect_list(struct(
          col("ts"), col("event_id"), col("event_type")))).as("seq"))
        .select(expr("transform(seq, x -> x.event_type)").as("t"))
        .filter(size(col("t")) >= 3)
        .select(explode(expr(
          """transform(sequence(1, size(t) - 2),
             i -> concat_ws('>', t[i - 1], t[i], t[i + 1]))"""))
          .as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("path")).limit(10)
    }),

    // Exponential time-decay activity score (1-hour e-folding anchored at
    // the corpus max timestamp): the recency-weighted user feature an
    // engagement model consumes. One broadcast 1-row anchor + one keyed
    // aggregation — partial-aggregable, so each map task folds its own
    // exp() terms before the shuffle. Same accepted float-parity class as
    // text_tfidf (identical per-row double expression on both engines;
    // sum order differs but the error is ~1e-13 against a 5e-5 rounding
    // boundary).
    "events_time_decay" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val anchor = ev.agg(max("ts").as("t_end"))
      ev.crossJoin(broadcast(anchor))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(exp((unix_timestamp(col("ts")) -
            unix_timestamp(col("t_end"))).cast("double") / 3600.0)), 4)
            .as("decay_score"))
        .orderBy("user_id")
    }),

    // Per-user top-3 events WITHOUT a window sort: the bounded top-k
    // aggregate crosses the shuffle with <= 3 rows per (user, map
    // partition) instead of sorting the whole fact table per group — at
    // 100 TB the window formulation (the oracle's) shuffles and sorts
    // everything; this one is partial-aggregated like min/max. Integer
    // cent scores (floor of the same IEEE double product both engines
    // compute from identical parquet bits) keep comparisons exact; ties
    // break by event_id ascending on both sides.
    "events_topk_per_user" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("user_id"),
          floor(col("value") * 100).cast("long").as("score"),
          col("event_id"))
        .groupBy("user_id")
        .agg(topk_longs(col("score"), col("event_id"), 3).as("top"))
        .select(col("user_id"), posexplode(col("top")))
        .select(col("user_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col._1").as("score_cents"), col("col._2").as("event_id"))
        .orderBy("user_id", "rank")
    }),

    "events_salted_agg" -> ((s, d) =>
      // two-phase skew-resistant aggregation: pre-aggregate on
      // (key, salt) so one hot key spreads over 8 reducers, then merge.
      // Results are identical to the direct group-by (the oracle).
      Tables.events(s, d)
        .withColumn("salt", pmod(col("user_id"), lit(8)))
        .groupBy("event_type", "salt")
        .agg(count(lit(1)).as("pn"), sum("value").as("pv"))
        .groupBy("event_type")
        .agg(sum("pn").as("n"), round(sum("pv"), 2).as("sum_value"))
        .orderBy("event_type")),

    // Ordered funnel: how many users progressed view -> click -> purchase
    // with strictly increasing timestamps, matched greedily on the
    // earliest qualifying event (greedy-earliest is complete: if any
    // increasing match exists, the earliest-first chain finds one). ONE
    // shuffle: the per-user event sequence folds to a (stage, ts) struct
    // inside a single aggregation — no join chain, no repeated scans;
    // per-user state is bounded by that user's activity, the same bound
    // sessionize already carries. The oracle proves identical counts from
    // an independent formulation (a min-timestamp join chain).
    "events_funnel" -> ((s, d) => {
      val init = struct(lit(0).as("stage"),
        lit(null).cast("timestamp").as("t"))
      val staged = Tables.events(s, d)
        .groupBy("user_id")
        .agg(array_sort(collect_list(
          struct(col("ts"), col("event_type").as("et")))).as("evs"))
        .withColumn("st", aggregate(col("evs"), init, (a, x) => {
          val stage = a.getField("stage")
          val t = a.getField("t")
          val ts = x.getField("ts")
          val et = x.getField("et")
          when(stage === 0 && et === lit("view"),
              struct(lit(1).as("stage"), ts.as("t")))
            .when(stage === 1 && et === lit("click") && ts > t,
              struct(lit(2).as("stage"), ts.as("t")))
            .when(stage === 2 && et === lit("purchase") && ts > t,
              struct(lit(3).as("stage"), ts.as("t")))
            .otherwise(a)
        }).getField("stage"))
      staged.agg(
          sum(when(col("st") >= 1, 1L).otherwise(0L)).as("n_view"),
          sum(when(col("st") >= 2, 1L).otherwise(0L)).as("n_click"),
          sum(when(col("st") >= 3, 1L).otherwise(0L)).as("n_purchase"))
        .select(expr(
          """stack(3, 1, 'view', n_view, 2, 'click', n_click,
                   3, 'purchase', n_purchase) AS (step, step_name, n_users)"""))
        .select(col("step").cast("long").as("step"), col("step_name"),
          col("n_users"))
        .orderBy("step")
    }),

    // Cohort retention: users bucketed by first-activity day, distinct
    // actives counted at each day offset from the cohort day. The join
    // back onto events reuses the user_id hash partitioning from the
    // min-aggregate shuffle, and the distinct count partial-aggregates on
    // (cohort, offset, user) before the final merge.
    "events_retention" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val cohorts = ev.groupBy("user_id").agg(min("day").as("cohort"))
      ev.join(cohorts, "user_id")
        .withColumn("day_offset",
          datediff(col("day"), col("cohort")).cast("long"))
        .groupBy("cohort", "day_offset")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
          col("day_offset"), col("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // Growth accounting: each day's active users decomposed into
    // new (first day ever), retained (also active yesterday) and
    // resurrected (active before, but not yesterday), plus churned =
    // yesterday's actives who didn't return (actives(d-1) - retained(d)).
    // The classification is a single lag window PER USER (bounded state),
    // the per-day rollup a partial aggregation, and churn attribution a
    // self-join on the DAY domain — no global sort anywhere. The
    // identity actives = new + retained + resurrected is spec-pinned.
    "events_growth_accounting" -> ((s, d) => {
      val ud = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      val cls = ud.withColumn("prev", lag("day", 1).over(w))
        .groupBy("day").agg(
          count(lit(1)).as("actives"),
          sum(when(col("prev").isNull, 1L).otherwise(0L)).as("new_users"),
          sum(when(datediff(col("day"), col("prev")) === 1, 1L)
            .otherwise(0L)).as("retained"),
          sum(when(col("prev").isNotNull &&
            datediff(col("day"), col("prev")) > 1, 1L).otherwise(0L))
            .as("resurrected"))
      val prevA = cls.select(date_add(col("day"), 1).as("day"),
        col("actives").as("prev_actives"))
      cls.join(prevA, Seq("day"), "left")
        .select(col("day").cast("string").as("day"), col("actives"),
          col("new_users"), col("retained"), col("resurrected"),
          (coalesce(col("prev_actives"), lit(0L)) - col("retained"))
            .as("churned"))
        .orderBy("day")
    }),

    // CDC compaction (operators.Corpus.latestSnapshot): the event log
    // collapsed to each user's latest state via a partial-aggregable
    // max_by — one candidate per key leaves each map task, vs the
    // full-log sort a row_number window would shuffle. (ts, event_id) is
    // a unique version tuple, so the winner is total-order determined;
    // the oracle replays it as the window formulation, proving the two
    // are equivalent relations.
    "cdc_latest_state" -> ((s, d) =>
      graft.operators.Corpus.latestSnapshot(
        Tables.events(s, d)
          .withColumn("ts_us", unix_micros(col("ts"))).drop("ts"),
        keys = Seq("user_id"), ordCols = Seq("ts_us", "event_id"),
        payloadCols = Seq("event_type", "value"))
        .orderBy("user_id")),

    // Incremental view maintenance shape: the last 7 days are the DELTA,
    // everything before is the BASE; each side pre-aggregates to
    // mergeable partials (count + exact cents sum) and the published
    // total is the MERGE of partials — never a rescan of base rows. In a
    // lakehouse the base partials persist and only the delta partition
    // is read per refresh; here both sides scan the same file, but the
    // plan is the IVM plan (two partial aggregations + a
    // dimension-sized full-outer merge). The oracle recomputes the
    // total from scratch, so the hash check IS the merge-equals-
    // recompute proof.
    "cdc_incremental_agg" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      val cut = ev.agg(date_sub(max("day"), 6).as("cut"))
      val tagged = ev.crossJoin(broadcast(cut))
      val base = tagged.filter(col("day") < col("cut"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_base"), sum("cents").as("c_base"))
      val delta = tagged.filter(col("day") >= col("cut"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_delta"), sum("cents").as("c_delta"))
      base.join(delta, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_delta"), lit(0L)).as("n_delta"),
          (coalesce(col("n_base"), lit(0L))
            + coalesce(col("n_delta"), lit(0L))).as("n_total"),
          (coalesce(col("c_base"), lit(0L))
            + coalesce(col("c_delta"), lit(0L))).as("cents_total"))
        .orderBy("event_type")
    }),

    // Z-order layout index (operators.Layout.zorderStats): events
    // clustered on the (user_id, value-bucket) Morton curve into 64
    // target files; the output is each file's row count and min/max
    // envelope in BOTH dimensions — the data-skipping manifest. The
    // oracle replays the bit-twiddling integer-exactly.
    "layout_zorder_stats" -> ((s, d) =>
      graft.operators.Layout.zorderStats(
        Tables.events(s, d).select(col("user_id").as("u"),
          floor(col("value")).cast("long").as("vbin")),
        "u", "vbin", files = 64)),

    // Key-skew audit (operators.Audit.keySkew): per-key count
    // distribution of the prospective join key, percentiles via the
    // bounded count-histogram (no global sort of keys).
    "events_key_skew" -> ((s, d) =>
      graft.operators.Audit.keySkew(Tables.events(s, d), Seq("user_id"))),

    // Data-skipping effectiveness of the Z-order manifest: for the five
    // smallest (user, value-bucket) point probes, how many of the 64
    // Morton-clustered files does the min/max envelope admit, how many
    // rows would be scanned, and what share of files is SKIPPED (bp).
    // This is the query that justifies layout_zorder_stats: the audit
    // runs entirely on the FILES-bounded manifest (64 rows) crossed with
    // a 5-row probe set — the fact table is read once to build the
    // manifest and never again.
    "layout_skipping_audit" -> ((s, d) => {
      val pts = Tables.events(s, d).select(col("user_id").as("u"),
        floor(col("value")).cast("long").as("vbin"))
      val man = graft.operators.Layout.zorderStats(pts, "u", "vbin",
        files = 64)
      val probes = pts.distinct().orderBy("u", "vbin").limit(5)
        .select(col("u").as("pu"), col("vbin").as("pv"))
      val tot = man.agg(count(lit(1)).as("n_files"))
      man.crossJoin(broadcast(probes))
        .filter(col("min_a") <= col("pu") && col("pu") <= col("max_a") &&
          col("min_b") <= col("pv") && col("pv") <= col("max_b"))
        .groupBy("pu", "pv")
        .agg(count(lit(1)).as("files_touched"),
          sum("n_rows").as("rows_scanned"))
        .crossJoin(broadcast(tot))
        .select(col("pu"), col("pv"), col("files_touched"),
          col("rows_scanned"),
          expr("((n_files - files_touched) * 10000) DIV n_files")
            .as("skip_bp"))
        .orderBy("pu", "pv")
    }),

    // Small-file compaction plan: the events table written one file per
    // (day, hour) partition — the classic streaming-ingest small-file
    // pathology — packed into ~2000-row output files WITHOUT breaking
    // time order (so time-range pruning survives compaction). A file's
    // bin is its cumulative starting offset DIV target: pure integer,
    // engine-portable, and the greedy sequential pack every table
    // compactor (Delta OPTIMIZE, Iceberg rewrite) performs. The plan is
    // computed on the FILE MANIFEST (calendar-bounded: days x 24 rows),
    // never on raw events after the first partial aggregation; the
    // manifest walk is one bounded-domain cumulative window.
    "layout_compaction_plan" -> ((s, d) => {
      val files = Tables.events(s, d)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("part_hour"))
        .agg(count(lit(1)).as("n_rows"))
      val w = Window.orderBy("part_hour")
        .rowsBetween(Window.unboundedPreceding, -1)
      files
        .withColumn("cum0", coalesce(sum("n_rows").over(w), lit(0L)))
        .withColumn("bin", expr("cum0 DIV 2000"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_files"), sum("n_rows").as("n_rows"),
          min("part_hour").as("first_hour"),
          max("part_hour").as("last_hour"))
        .orderBy("bin")
    }),

    // Dynamic partition pruning through the DATE-PARTITIONED fact copy
    // (core.Partitioned): the pruning day set — the 5 top-revenue days —
    // exists only at runtime, so no literal predicate can prune the
    // scan; Catalyst instead injects the broadcast join's key set into
    // the fact scan as a dynamicpruning PartitionFilter
    // (spec-asserted in ScaleMechanicsSpec). The 100 TB shape: scan 5
    // day-directories, not the full history, when the driving filter is
    // itself a query result. Oracle replays the same aggregation over
    // the flat table — layout must not change results.
    "join_partition_pruned" -> ((s, d) => {
      val ev = graft.core.Partitioned.eventsByDay(s, d)
        .withColumn("cents", round(col("value") * 100).cast("long"))
      val hot = ev.filter(col("event_type") === "purchase")
        .groupBy("day").agg(sum("cents").as("rev"))
        .orderBy(col("rev").desc, col("day")).limit(5)
        .select("day")
      ev.join(broadcast(hot), "day")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("rev_cc"))
        .orderBy("event_type")
    }),

    // Conversion-window funnel: the greedy-earliest fold of
    // events_funnel with a DEADLINE per step — each stage must fire
    // within 1 hour of the previous one (the product-analytics form:
    // "clicked within an hour of viewing"). Because per-user events are
    // folded in timestamp order, "first qualifying click" and "minimum
    // click ts inside (t, t+1h]" are the same event, which is exactly
    // the min-ts chain the oracle replays. Same single grouped fold,
    // no window functions, no self-joins on the Spark side.
    "events_funnel_windowed" -> ((s, d) => {
      val init = struct(lit(0).as("stage"),
        lit(null).cast("timestamp").as("t"))
      val hour = expr("INTERVAL 1 HOUR")
      val staged = Tables.events(s, d)
        .groupBy("user_id")
        .agg(array_sort(collect_list(
          struct(col("ts"), col("event_type").as("et")))).as("evs"))
        .withColumn("st", aggregate(col("evs"), init, (a, x) => {
          val stage = a.getField("stage")
          val t = a.getField("t")
          val ts = x.getField("ts")
          val et = x.getField("et")
          when(stage === 0 && et === lit("view"),
              struct(lit(1).as("stage"), ts.as("t")))
            .when(stage === 1 && et === lit("click") && ts > t &&
                ts <= t + hour,
              struct(lit(2).as("stage"), ts.as("t")))
            .when(stage === 2 && et === lit("purchase") && ts > t &&
                ts <= t + hour,
              struct(lit(3).as("stage"), ts.as("t")))
            .otherwise(a)
        }).getField("stage"))
      staged.agg(
          sum(when(col("st") >= 1, 1L).otherwise(0L)).as("n_view"),
          sum(when(col("st") >= 2, 1L).otherwise(0L)).as("n_click"),
          sum(when(col("st") >= 3, 1L).otherwise(0L)).as("n_purchase"))
        .select(expr(
          """stack(3, 1, 'view', n_view, 2, 'click', n_click,
                   3, 'purchase', n_purchase) AS (step, step_name, n_users)"""))
        .select(col("step").cast("long").as("step"), col("step_name"),
          col("n_users"))
        .orderBy("step")
    }),

    // Association rules over session baskets (support / confidence /
    // lift, Agrawal-Srikant style with 1-item antecedents): which event
    // types co-occur in a 30-minute session beyond chance. Baskets are
    // per-session DISTINCT type sets; the co-occurrence self-join is
    // keyed on the session, so its fan-out is bounded by basket size
    // (<= |event types|), never corpus size; item counts and the
    // session total broadcast back. All ratios in integer basis points.
    "events_assoc_rules" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts")
      val items = Tables.events(s, d)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))
              > gapSec, 1L).otherwise(0L))
        .withColumn("session_id", sum("new_session")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("user_id", "session_id", "event_type").distinct()
      val nSess = items.select("user_id", "session_id").distinct()
        .agg(count(lit(1)).as("n_sessions"))
      val ic = items.groupBy("event_type").agg(count(lit(1)).as("n_item"))
      val co = items.as("a").join(items.as("b"), Seq("user_id", "session_id"))
        .filter(col("a.event_type") =!= col("b.event_type"))
        .groupBy(col("a.event_type").as("ant"),
          col("b.event_type").as("cons"))
        .agg(count(lit(1)).as("co"))
      co.join(broadcast(ic.select(col("event_type").as("ant"),
          col("n_item").as("n_ant"))), "ant")
        .join(broadcast(ic.select(col("event_type").as("cons"),
          col("n_item").as("n_cons"))), "cons")
        .crossJoin(broadcast(nSess))
        .select(col("ant"), col("cons"), col("co"),
          expr("(10000 * co) DIV n_ant").as("conf_bp"),
          expr("(10000 * co * n_sessions) DIV (n_ant * n_cons)")
            .as("lift_bp"))
        .orderBy("ant", "cons")
    }),

    // Heavy-hitter keys via a bounded sketch + exact recount: a
    // Misra-Gries summary (199 counters, CraneAggregators.FreqItemsMG)
    // finds every key that COULD exceed 0.5% of the stream in one
    // partial-aggregated pass with O(k) state per partition — no
    // per-key shuffle of the full table. The <=199 candidates broadcast
    // back for an exact recount and the exact threshold test, so the
    // output is identical to the exact GROUP BY/HAVING — which is the
    // oracle. At 100 TB the recount's shuffle carries only candidate
    // keys; the sketch guarantees no heavy key is missed.
    "events_freq_items" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val mg = udaf(new graft.functions.CraneAggregators.FreqItemsMG(199))
      val cands = ev.agg(mg(col("user_id")).as("cand"))
        .select(explode(col("cand")).as("user_id"))
      val tot = ev.agg(count(lit(1)).as("n_total"))
      ev.join(broadcast(cands), "user_id")
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .filter(col("cnt") * 200 > col("n_total"))
        .select("user_id", "cnt")
        .orderBy("user_id")
    }),

    // Per-type linear trend of value over time: single-pass co-moment
    // aggregates (regr_*), the same mergeable-partials shape as
    // stats_corr. x is hours since 2024-01-01 from exact integer
    // microseconds, so the moments stay well conditioned and both
    // engines divide identical operands. Slope reported in micro-units
    // per hour so the rounded value carries signal.
    "events_linreg_trend" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("x_h",
          (unix_micros(col("ts")) - lit(1704067200000000L)) / 3.6e9)
        .groupBy("event_type")
        .agg(
          regr_count(col("value"), col("x_h")).as("n"),
          round(regr_slope(col("value"), col("x_h")) * 1000000.0, 2)
            .as("slope_e6_per_h"),
          round(regr_intercept(col("value"), col("x_h")), 4).as("intercept"),
          round(regr_r2(col("value"), col("x_h")), 6).as("r2"))
        .orderBy("event_type")),

    // Chi-squared independence test, event_type x ISO weekday: the
    // category-drift significance primitive. Observed counts partial-
    // aggregate once; marginals are two rollups of that tiny cell
    // relation, broadcast back — nothing but (type, dow, count) ever
    // shuffles. dow = weekday(ts)+1 == DuckDB's isodow (Monday=1).
    // CONVENTION (shared with events_cramers_v, and replayed verbatim
    // by both oracles): the sum runs over OBSERVED cells only — an
    // absent (type, dow) combination contributes no E term, so on a
    // table with empty cells the statistic understates the textbook
    // chi2 (which adds E for each zero cell). Deliberate: the cell
    // relation stays the aggregation output with no domain cross-join,
    // and the driver's event generator populates all type x dow cells
    // at every SF, where the two definitions coincide.
    "events_chi2_type_dow" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"),
          (expr("weekday(ts)") + 1).cast("long").as("dow"))
      val obs = ev.groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
      val rowT = obs.groupBy("event_type").agg(sum("o").as("rt"))
      val colT = obs.groupBy("dow").agg(sum("o").as("ct"))
      val tot = obs.agg(sum("o").as("n"))
      obs.join(broadcast(rowT), "event_type").join(broadcast(colT), "dow")
        .crossJoin(broadcast(tot))
        .agg(
          countDistinct(col("event_type")).as("n_types"),
          countDistinct(col("dow")).as("n_dows"),
          round(sum(pow(col("o") - col("rt") * col("ct") / col("n"), 2) /
            (col("rt") * col("ct") / col("n"))), 4).as("chi2"))
        .select(col("chi2"),
          ((col("n_types") - 1) * (col("n_dows") - 1)).as("df"))
    }),

    // Cramér's V over the same type x day-of-week contingency: the
    // chi-squared statistic normalized to [0, 1] effect size
    // (sqrt(chi2 / (n * min(r-1, c-1)))) — the comparable-across-
    // tables association strength a profiling pass reports. Same
    // broadcast-joined expected-count relation as events_chi2_type_dow;
    // identical double arithmetic on both engines before one rounding.
    // Inherits the chi2 query's OBSERVED-CELLS-ONLY convention (see the
    // comment there): zero-count (type, dow) cells contribute no E
    // term, exact on fully-populated tables (which the generator
    // guarantees at every SF), understated otherwise.
    "events_cramers_v" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"),
          (expr("weekday(ts)") + 1).cast("long").as("dow"))
      val obs = ev.groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
      val rowT = obs.groupBy("event_type").agg(sum("o").as("rt"))
      val colT = obs.groupBy("dow").agg(sum("o").as("ct"))
      val tot = obs.agg(sum("o").as("n"))
      obs.join(broadcast(rowT), "event_type").join(broadcast(colT), "dow")
        .crossJoin(broadcast(tot))
        .agg(
          countDistinct(col("event_type")).as("n_types"),
          countDistinct(col("dow")).as("n_dows"),
          max(col("n")).as("n"),
          sum(pow(col("o") - col("rt") * col("ct") / col("n"), 2) /
            (col("rt") * col("ct") / col("n"))).as("chi2raw"))
        .select(
          round(sqrt(col("chi2raw") / (col("n") *
            least(col("n_types") - 1, col("n_dows") - 1))), 4)
            .as("cramers_v"),
          col("n"),
          least(col("n_types") - 1, col("n_dows") - 1).as("min_dim"))
    }),

    // Data-profiling audit: per-column null counts + exact distinct
    // cardinalities in one statement (Spark plans the multi-distinct
    // aggregate as a single Expand — one shuffle). The 100 TB form
    // swaps countDistinct for the HLL sketch (events_approx_distinct is
    // that query); here exactness is the point because the oracle
    // replays each column's profile.
    "events_profile" -> ((s, d) =>
      Tables.events(s, d)
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("nu_user"),
          countDistinct(col("user_id")).as("nd_user"),
          sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("nu_et"),
          countDistinct(col("event_type")).as("nd_et"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("nu_val"),
          countDistinct(col("value")).as("nd_val"),
          sum(when(col("props").isNull, 1L).otherwise(0L)).as("nu_props"),
          countDistinct(col("props")).as("nd_props"))
        .select(expr(
          """stack(4,
               'event_type', nu_et, nd_et,
               'props', nu_props, nd_props,
               'user_id', nu_user, nd_user,
               'value', nu_val, nd_val) AS (col_name, n_nulls, n_distinct)"""),
          col("n_rows"))
        .orderBy("col_name")),

    // Seasonal anomaly detection: each observed (event_type, hour)
    // count is scored against its seasonal cohort — all hours sharing
    // the same (dow, hour-of-day) slot — via the robust median/MAD
    // recipe, and the top-5 most anomalous hours per type surface.
    // Everything is integer: med and mad are LOWER medians (min value
    // whose rank clears 2*rn >= n), and the score is the truncating
    // integer division (dev*100) DIV (mad+1) — mad-units in percent,
    // +1 so a zero-MAD cohort cannot divide by zero; operands are
    // non-negative so Spark DIV (truncate) and DuckDB // (floor)
    // agree. The windows partition by the 168-slot seasonal cohort —
    // never a global order — and the hourly rollup is one shuffle with
    // map-side combine; at 100 TB only the (type, 168-slot, day) cube
    // reaches the windows, bounded by the calendar.
    "events_seasonal_anomaly" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
          (expr("weekday(ts)") + 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"))
        .groupBy("event_type", "h", "dow", "hr")
        .agg(count(lit(1)).as("cnt"))
      val grp = Seq("event_type", "dow", "hr")
      val wN = Window.partitionBy(grp.map(col): _*)
      val wMed = wN.orderBy("cnt", "h")
      val med = hourly
        .select(col("event_type"), col("dow"), col("hr"), col("cnt"),
          row_number().over(wMed).cast("long").as("rn"),
          count(lit(1)).over(wN).as("n"))
        .filter(col("rn") * 2 >= col("n"))
        .groupBy(grp.map(col): _*).agg(min("cnt").as("med"))
      val dev = hourly.join(med, grp)
        .withColumn("dev", abs(col("cnt") - col("med")))
      val wMad = wN.orderBy("dev", "h")
      val mad = dev
        .select(col("event_type"), col("dow"), col("hr"), col("dev"),
          row_number().over(wMad).cast("long").as("rn"),
          count(lit(1)).over(wN).as("n"))
        .filter(col("rn") * 2 >= col("n"))
        .groupBy(grp.map(col): _*).agg(min("dev").as("mad"))
      val scored = dev.join(mad, grp)
        .withColumn("score",
          expr("(dev * 100) DIV (mad + 1)"))
      val wTop = Window.partitionBy("event_type")
        .orderBy(col("score").desc, col("h"))
      scored
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH").as("hour"),
          col("cnt"), col("med"), col("mad"), col("score"))
        .orderBy("event_type", "hour")
    }),

    // Survival life table over per-activity user lifetimes (the
    // Kaplan-Meier input relation), one cohort per event_type: lifetime
    // = days between a user's first and last event of that type; a user
    // whose last such event falls inside the final 3 observed days is
    // right-CENSORED (still alive at cutoff), not dead. For each
    // (type, lifetime day t): users still at risk (reverse cumulative
    // sum over the lifetime histogram), deaths, censored exits, and the
    // integer hazard (deaths*10000) DIV at_risk. The KM survival curve
    // is the running product of (1 - hazard) — left to the consumer
    // because a float product can never hash-match; the life table
    // itself is the exact, mergeable artifact. Facts reduce to one row
    // per (type, user), the histogram to one row per (type, lifetime
    // day) — calendar-bounded — and the only window is PARTITIONED BY
    // TYPE over that day domain.
    "events_survival_lifetable" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val gmax = ev.agg(max(col("ts").cast("date")).as("obs_end"))
      val users = ev.groupBy("event_type", "user_id").agg(
          min(col("ts").cast("date")).as("first_d"),
          max(col("ts").cast("date")).as("last_d"))
        .crossJoin(broadcast(gmax))
        // a censored user was observed ALIVE through the cutoff, so
        // their time at risk runs to obs_end - first_d, not to the
        // last event (proper KM right-censoring; the two differ by at
        // most the 3-day censoring window)
        .select(col("event_type"),
          when(datediff(col("obs_end"), col("last_d")) < 3,
            datediff(col("obs_end"), col("first_d")))
            .otherwise(datediff(col("last_d"), col("first_d")))
            .cast("long").as("t"),
          when(datediff(col("obs_end"), col("last_d")) < 3, 1L)
            .otherwise(0L).as("cens"))
      val hist = users.groupBy("event_type", "t").agg(
        sum(when(col("cens") === 0, 1L).otherwise(0L)).as("deaths"),
        sum(col("cens")).as("censored"))
      val wRev = Window.partitionBy("event_type").orderBy("t")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      hist.select(col("event_type"), col("t"), col("deaths"),
          col("censored"),
          sum(col("deaths") + col("censored")).over(wRev).as("at_risk"))
        .withColumn("hazard_bp", expr("(deaths * 10000) DIV at_risk"))
        .select("event_type", "t", "at_risk", "deaths", "censored",
          "hazard_bp")
        .orderBy("event_type", "t")
    }),

    // Concentration profile of each type's hour-of-day distribution:
    // plug-in Shannon entropy in integer-floor BITS via the same
    // log2-by-bit-length trick as text_unigram_surprisal
    // (bits_i = len(bin(N DIV c_i)) - 1 — no float log touches the
    // data path, so both engines bucket identically). A type firing
    // uniformly across the day scores ~log2(24); a bursty type scores
    // low — the drift/regularity signal schedulers and anomaly gates
    // key off. One 120-row histogram, no windows.
    "events_type_hour_entropy" -> ((s, d) => {
      val h = Tables.events(s, d)
        .select(col("event_type"), hour(col("ts")).cast("long").as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("c"))
      val tot = h.groupBy("event_type").agg(sum("c").as("n"))
      h.join(tot, "event_type")
        .withColumn("bits", (length(bin(expr("n DIV c"))) - 1).cast("long"))
        .groupBy("event_type", "n")
        .agg(count(lit(1)).as("n_bins"),
          sum(col("c") * col("bits")).as("sum_bits"))
        .withColumn("avg_bits",
          round(col("sum_bits").cast("double") / col("n"), 4))
        .select("event_type", "n", "n_bins", "sum_bits", "avg_bits")
        .orderBy("event_type")
    }),

    // Sequence-motif mining: each user's event history compresses to an
    // ordered initial string (v/c/p/s/e, tie-broken by event_id), and
    // the view->click->purchase conversion motif is counted with pure
    // string arithmetic — (len(s) - len(replace(s,'vcp',''))) / 3 —
    // the non-overlapping occurrence count with NO regex engine in the
    // path (Java vs RE2 greedy semantics can diverge; replace cannot).
    // Output: users per motif-count bucket. Per-user sequences build
    // in one sort-free aggregate (array_sort of (ts,id,initial)
    // structs — map-side partial, no window); the histogram is the
    // only shuffle after it.
    "events_motif_vcp" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("user_id"),
          struct(col("ts"), col("event_id"),
            substring(col("event_type"), 1, 1).as("ini")).as("e"))
        .groupBy("user_id")
        .agg(array_join(expr("transform(array_sort(collect_list(e)), " +
          "x -> x.ini)"), "").as("seq"))
        .select(((length(col("seq")) -
          length(expr("replace(seq, 'vcp', '')"))) / 3)
          .cast("long").as("n_vcp"))
        .groupBy("n_vcp").agg(count(lit(1)).as("n_users"))
        .orderBy("n_vcp")),

    // Longest consecutive-day activity streak per user (gaps-and-
    // islands): consecutive days share a constant (epoch-day - rank),
    // so one window + two aggregates find every streak without
    // self-joins or recursion. Output is the users-per-max-streak
    // histogram — the engagement-depth curve retention reports key
    // off. The window partitions by user (bounded); everything
    // downstream is map-side-combining aggregation.
    "events_streak_lengths" -> ((s, d) => {
      val days = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      days
        .withColumn("grp",
          expr("datediff(day, DATE '1970-01-01')").cast("long") -
            row_number().over(w))
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
        .groupBy("user_id").agg(max("len").as("max_streak"))
        .groupBy("max_streak").agg(count(lit(1)).as("n_users"))
        .orderBy("max_streak")
    }),
  )

  /** SQL form of Layout.spread16's mask-spread chain (fully
    * parenthesized; plain shifts and masks, identical in any engine). */
  private def spreadSql(x: String): String = {
    val x0 = s"($x & 65535)"
    val x1 = s"(($x0 | ($x0 << 8)) & 16711935)"
    val x2 = s"(($x1 | ($x1 << 4)) & 252645135)"
    val x3 = s"(($x2 | ($x2 << 2)) & 858993459)"
    s"(($x3 | ($x3 << 1)) & 1431655765)"
  }

  val oracles: Map[String, String] = Map(
    // the within_5pct flag asserts the Spark HLL estimate landed within
    // 5% of exact — DuckDB states the expected verdict, Spark earns it
    "events_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
                CAST(1 AS BIGINT) AS within_5pct
         FROM events GROUP BY event_type ORDER BY event_type""",

    "events_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type,
                      ('0x' || substring(md5(user_id::VARCHAR), 1, 15))
                        ::BIGINT AS h
                    FROM events),
          nh AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hashes
                 FROM h GROUP BY 1),
          rk AS (SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY h) AS r
                 FROM h),
          kk AS (SELECT event_type, greatest(max(h), 1) AS hk
                 FROM rk WHERE r <= 64 GROUP BY 1),
          nd AS (SELECT event_type,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
                 FROM events GROUP BY 1),
          es AS (SELECT n.event_type, nd.exact_users,
                   CAST(CASE WHEN n.n_hashes < 64 THEN n.n_hashes
                        ELSE (63::HUGEINT * 1152921504606846976::HUGEINT)
                             // k.hk END AS BIGINT) AS kmv_est
                 FROM nh n
                 JOIN kk k ON n.event_type = k.event_type
                 JOIN nd ON n.event_type = nd.event_type)
          SELECT event_type, exact_users, kmv_est,
                 CAST(abs(kmv_est - exact_users) * 10000 // exact_users
                   AS BIGINT) AS err_bp
          FROM es ORDER BY event_type""",

    "events_hll_weekly_rollup" ->
      """SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
                count(DISTINCT ts::DATE) AS n_days,
                count(DISTINCT user_id) AS exact_users,
                CAST(1 AS BIGINT) AS within_5pct
         FROM events GROUP BY 1 ORDER BY 1""",

    "events_kmv_weekly_union" ->
      """WITH h AS (SELECT DISTINCT date_trunc('week', ts)::DATE AS week,
                      ts::DATE AS day,
                      ('0x' || substring(md5(user_id::VARCHAR), 1, 15))
                        ::BIGINT AS h
                    FROM events),
          rk AS (SELECT week, day, h,
                   row_number() OVER (PARTITION BY week, day
                     ORDER BY h) AS r
                 FROM h),
          dm AS (SELECT DISTINCT week, h FROM rk WHERE r <= 64),
          nu AS (SELECT week, CAST(count(*) AS BIGINT) AS n_union
                 FROM dm GROUP BY 1),
          r2 AS (SELECT week, h,
                   row_number() OVER (PARTITION BY week ORDER BY h) AS r
                 FROM dm),
          kk AS (SELECT week, greatest(max(h), 1) AS hk
                 FROM r2 WHERE r <= 64 GROUP BY 1),
          nd AS (SELECT date_trunc('week', ts)::DATE AS week,
                   CAST(count(DISTINCT ts::DATE) AS BIGINT) AS n_days,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
                 FROM events GROUP BY 1),
          es AS (SELECT nd.week, nd.n_days, nd.exact_users,
                   CAST(CASE WHEN nu.n_union < 64 THEN nu.n_union
                        ELSE (63::HUGEINT * 1152921504606846976::HUGEINT)
                             // kk.hk END AS BIGINT) AS kmv_est
                 FROM nd JOIN nu ON nd.week = nu.week
                         JOIN kk ON nd.week = kk.week)
          SELECT strftime(week, '%Y-%m-%d') AS week, n_days, exact_users,
                 kmv_est,
                 CAST(abs(kmv_est - exact_users) * 10000 // exact_users
                   AS BIGINT) AS err_bp
          FROM es ORDER BY week""",

    // the oracle recomputes the published totals from scratch — equality
    // with the Spark side's merged partials is the IVM correctness proof
    "cdc_incremental_agg" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(round("value" * 100) AS BIGINT) AS cents
                 FROM events),
          cut AS (SELECT max(day) - 6 AS cut FROM ev),
          b AS (SELECT event_type, count(*) AS n_base,
                  CAST(sum(cents) AS BIGINT) AS c_base
                FROM ev, cut WHERE day < cut GROUP BY 1),
          dl AS (SELECT event_type, count(*) AS n_delta,
                   CAST(sum(cents) AS BIGINT) AS c_delta
                 FROM ev, cut WHERE day >= cut GROUP BY 1)
          SELECT coalesce(b.event_type, dl.event_type) AS event_type,
                 coalesce(n_base, 0) AS n_base,
                 coalesce(n_delta, 0) AS n_delta,
                 coalesce(n_base, 0) + coalesce(n_delta, 0) AS n_total,
                 coalesce(c_base, 0) + coalesce(c_delta, 0)
                   AS cents_total
          FROM b FULL OUTER JOIN dl ON b.event_type = dl.event_type
          ORDER BY 1""",

    "cdc_latest_state" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn
               FROM events) t
         WHERE rn = 1 ORDER BY user_id""",

    "layout_zorder_stats" ->
      s"""WITH r AS (SELECT user_id AS a, CAST(floor(value) AS BIGINT) AS b
                     FROM events),
          z AS (SELECT a, b,
                  (${spreadSql("a")} | (${spreadSql("b")} << 1)) AS zk
                FROM r),
          tot AS (SELECT max(zk) AS zmax FROM z)
          SELECT zk * 64 // (zmax + 1) AS file_id,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 min(a) AS min_a, max(a) AS max_a,
                 min(b) AS min_b, max(b) AS max_b
          FROM z, tot GROUP BY file_id ORDER BY file_id""",

    "layout_skipping_audit" ->
      s"""WITH r AS (SELECT user_id AS a, CAST(floor(value) AS BIGINT) AS b
                     FROM events),
          z AS (SELECT a, b,
                  (${spreadSql("a")} | (${spreadSql("b")} << 1)) AS zk
                FROM r),
          tot0 AS (SELECT max(zk) AS zmax FROM z),
          man AS (SELECT zk * 64 // (zmax + 1) AS file_id,
                         CAST(count(*) AS BIGINT) AS n_rows,
                         min(a) AS min_a, max(a) AS max_a,
                         min(b) AS min_b, max(b) AS max_b
                  FROM z, tot0 GROUP BY file_id),
          probes AS (SELECT DISTINCT a AS pu, b AS pv FROM r
                     ORDER BY pu, pv LIMIT 5),
          nf AS (SELECT CAST(count(*) AS BIGINT) AS n_files FROM man),
          hit AS (SELECT pu, pv,
                         CAST(count(*) AS BIGINT) AS files_touched,
                         CAST(sum(n_rows) AS BIGINT) AS rows_scanned
                  FROM man CROSS JOIN probes
                  WHERE min_a <= pu AND pu <= max_a
                    AND min_b <= pv AND pv <= max_b
                  GROUP BY pu, pv)
          SELECT pu, pv, files_touched, rows_scanned,
                 CAST(((n_files - files_touched) * 10000) // n_files
                   AS BIGINT) AS skip_bp
          FROM hit CROSS JOIN nf ORDER BY pu, pv""",

    "join_partition_pruned" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day,
                            CAST(round("value" * 100) AS BIGINT) AS cents
                     FROM events),
          hot AS (SELECT day FROM (
                    SELECT day, sum(cents) AS rev FROM ev
                    WHERE event_type = 'purchase'
                    GROUP BY day ORDER BY rev DESC, day LIMIT 5))
          SELECT event_type, count(*) AS n_events,
                 CAST(sum(cents) AS BIGINT) AS rev_cc
          FROM ev JOIN hot USING (day)
          GROUP BY event_type ORDER BY event_type""",

    "layout_compaction_plan" ->
      """WITH files AS (SELECT strftime(ts, '%Y-%m-%d %H') AS part_hour,
                               count(*) AS n_rows
                        FROM events GROUP BY 1),
          c AS (SELECT part_hour, n_rows,
                       coalesce(sum(n_rows) OVER (ORDER BY part_hour
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS cum0
                FROM files)
          SELECT CAST(cum0 // 2000 AS BIGINT) AS bin,
                 count(*) AS n_files,
                 CAST(sum(n_rows) AS BIGINT) AS n_rows,
                 min(part_hour) AS first_hour,
                 max(part_hour) AS last_hour
          FROM c GROUP BY 1 ORDER BY 1""",

    "events_key_skew" ->
      """WITH counts AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
                         FROM events GROUP BY user_id),
          hist AS (SELECT cnt, CAST(count(*) AS BIGINT) AS nk
                   FROM counts GROUP BY cnt),
          cum AS (SELECT cnt, sum(nk) OVER (ORDER BY cnt) AS ck FROM hist),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                         CAST(sum(cnt) AS BIGINT) AS n_rows,
                         CAST(max(cnt) AS BIGINT) AS max_cnt FROM counts),
          agg AS (SELECT max(n_keys) AS n_keys, max(n_rows) AS n_rows,
                    max(max_cnt) AS max_cnt,
                    CAST(min(CASE WHEN ck >= ceil(n_keys * 0.5)
                             THEN cnt END) AS BIGINT) AS p50_cnt,
                    CAST(min(CASE WHEN ck >= ceil(n_keys * 0.9)
                             THEN cnt END) AS BIGINT) AS p90_cnt,
                    CAST(min(CASE WHEN ck >= ceil(n_keys * 0.99)
                             THEN cnt END) AS BIGINT) AS p99_cnt
                  FROM cum, tot)
          SELECT n_keys, n_rows, max_cnt, p50_cnt, p90_cnt, p99_cnt,
                 max_cnt * 10000 // n_rows AS max_share_bp
          FROM agg""",

    "events_json_extract" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
                round(avg(CAST(props->>'k' AS BIGINT)), 4) AS avg_k
         FROM events GROUP BY event_type ORDER BY event_type""",

    "events_sessionize" ->
      s"""WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          IS NULL
                        OR date_diff('second',
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts),
                             ts) > $gapSec
                        THEN 1 ELSE 0 END AS new_session
            FROM events),
          sess AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS session_id
            FROM marked),
          agg AS (
            SELECT user_id, session_id, count(*) AS n_events,
                   date_diff('second', min(ts), max(ts)) AS duration_sec
            FROM sess GROUP BY user_id, session_id)
          SELECT user_id, count(*) AS n_sessions,
                 CAST(sum(n_events) AS BIGINT) AS n_events,
                 CAST(sum(duration_sec) AS BIGINT) AS total_duration_sec
          FROM agg GROUP BY user_id ORDER BY user_id""",

    // same session construction as events_sessionize, then each
    // [start, end] interval unnests to its overlapped hour buckets
    "events_concurrency_hourly" ->
      s"""WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          IS NULL
                        OR date_diff('second',
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts),
                             ts) > $gapSec
                        THEN 1 ELSE 0 END AS new_session
            FROM events),
          sess AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS session_id
            FROM marked),
          iv AS (
            SELECT user_id, session_id, min(ts) AS st, max(ts) AS en
            FROM sess GROUP BY user_id, session_id),
          h AS (
            SELECT unnest(generate_series(date_trunc('hour', st),
                     date_trunc('hour', en), INTERVAL 1 HOUR)) AS hour
            FROM iv)
          SELECT CAST(epoch(hour) AS BIGINT) AS hour_epoch,
                 count(*) AS n_active
          FROM h GROUP BY 1 ORDER BY 1""",

    "events_sample_bernoulli" ->
      """SELECT event_type, count(*) AS n, round(sum("value"), 2) AS sum_value
         FROM events
         WHERE substring(md5(event_id::VARCHAR || 'graft'), 1, 2) < '40'
         GROUP BY event_type ORDER BY event_type""",

    "events_sample_stratified" ->
      """SELECT event_type, count(*) AS n
         FROM events
         WHERE substring(md5(event_id::VARCHAR || 'graft'), 1, 2) <
               CASE event_type WHEN 'click' THEN '40'
                               WHEN 'view' THEN '20'
                               ELSE '80' END
         GROUP BY event_type ORDER BY event_type""",

    "events_pivot_daily" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
                count(*) FILTER (event_type = 'click') AS click,
                count(*) FILTER (event_type = 'error') AS error,
                count(*) FILTER (event_type = 'purchase') AS purchase,
                count(*) FILTER (event_type = 'signup') AS signup,
                count(*) FILTER (event_type = 'view') AS "view"
         FROM events GROUP BY 1 ORDER BY 1""",

    "events_hourly_dense" ->
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                           date_trunc('hour', max(ts)) AS hi FROM events),
          h AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                  AS hour FROM b),
          c AS (SELECT date_trunc('hour', ts) AS hour, count(*) AS cnt
                FROM events GROUP BY 1)
          SELECT strftime(h.hour, '%Y-%m-%d %H') AS hour,
                 coalesce(c.cnt, 0) AS cnt
          FROM h LEFT JOIN c ON h.hour = c.hour
          ORDER BY 1""",

    "events_ewma_daily" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day
                     FROM events),
          daily AS (SELECT event_type, day, count(*) AS cnt
                    FROM ev GROUP BY 1, 2),
          b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
          spine AS (SELECT unnest(generate_series(lo, hi,
                      INTERVAL 1 DAY))::DATE AS day FROM b),
          grid AS (SELECT t.event_type, s.day
                   FROM (SELECT DISTINCT event_type FROM ev) t
                   CROSS JOIN spine s),
          dense AS (SELECT g.event_type, g.day, coalesce(d.cnt, 0) AS cnt
                    FROM grid g LEFT JOIN daily d
                      ON d.event_type = g.event_type AND d.day = g.day),
          j AS (SELECT a.event_type, a.day,
                  sum((1::BIGINT << (19 - datediff('day', h.day, a.day)))
                    * h.cnt) AS wsum,
                  sum(1::BIGINT << (19 - datediff('day', h.day, a.day)))
                    AS norm
                FROM dense a JOIN dense h
                  ON a.event_type = h.event_type
                 AND datediff('day', h.day, a.day) BETWEEN 0 AND 19
                GROUP BY 1, 2)
          SELECT event_type, CAST(day AS VARCHAR) AS day,
                 CAST((1000 * wsum) // norm AS BIGINT) AS ewma_milli
          FROM j ORDER BY event_type, day""",

    "events_hourly_interp" ->
      """WITH base AS (
           SELECT event_type, date_trunc('hour', ts) AS hour,
                  CAST(count(*) AS BIGINT) AS v
           FROM events WHERE event_type IN ('click', 'purchase')
           GROUP BY 1, 2),
          b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                       date_trunc('hour', max(ts)) AS hi FROM events),
          spine AS (SELECT t.event_type, h.hour
                    FROM (SELECT DISTINCT event_type FROM base) t,
                         (SELECT unnest(generate_series(lo, hi,
                            INTERVAL 1 HOUR)) AS hour FROM b) h),
          j AS (SELECT s.event_type, s.hour,
                       CAST(epoch(s.hour) AS BIGINT) // 3600 AS hi_idx,
                       base.v
                FROM spine s LEFT JOIN base
                  ON s.event_type = base.event_type
                 AND s.hour = base.hour),
          w AS (SELECT event_type, hour, hi_idx, v,
                  last_value(v IGNORE NULLS) OVER (
                    PARTITION BY event_type ORDER BY hour
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                  last_value(CASE WHEN v IS NOT NULL THEN hi_idx END
                             IGNORE NULLS) OVER (
                    PARTITION BY event_type ORDER BY hour
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
                  first_value(v IGNORE NULLS) OVER (
                    PARTITION BY event_type ORDER BY hour
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                  first_value(CASE WHEN v IS NOT NULL THEN hi_idx END
                              IGNORE NULLS) OVER (
                    PARTITION BY event_type ORDER BY hour
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
                FROM j)
         SELECT strftime(hour, '%Y-%m-%d %H') AS hour, event_type,
                round(CASE WHEN v IS NOT NULL THEN v
                           WHEN pv IS NULL OR nv IS NULL THEN NULL
                           ELSE (pv * (nh - hi_idx) + nv * (hi_idx - ph))
                                / (nh - ph) END, 4) AS val,
                CAST(CASE WHEN v IS NULL AND pv IS NOT NULL
                           AND nv IS NOT NULL THEN 1 ELSE 0 END AS INT)
                  AS filled
         FROM w ORDER BY event_type, hour""",

    "events_rolling_1h" ->
      """SELECT event_id, user_id, cnt_1h FROM (
           SELECT event_id, user_id,
                  count(*) OVER (PARTITION BY user_id
                    ORDER BY epoch(date_trunc('second', ts))
                    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS cnt_1h
           FROM events) t
         ORDER BY event_id""",

    "events_unpivot" ->
      """WITH d AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day
                    FROM events),
          ty AS (SELECT unnest(['click','error','purchase','signup','view'])
                   AS event_type),
          c AS (SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                       count(*) AS cnt
                FROM events GROUP BY 1, 2)
          SELECT d.day, ty.event_type, coalesce(c.cnt, 0) AS cnt
          FROM d CROSS JOIN ty
          LEFT JOIN c ON c.day = d.day AND c.event_type = ty.event_type
          ORDER BY 1, 2""",

    "events_inter_event_gap" ->
      """WITH g AS (SELECT event_type,
                           date_diff('second',
                             lag(ts) OVER (PARTITION BY user_id, event_type
                                           ORDER BY ts, event_id),
                             ts) AS gap_sec
                    FROM events),
          gg AS (SELECT event_type, gap_sec,
                        row_number() OVER (PARTITION BY event_type
                                           ORDER BY gap_sec) AS rn,
                        count(*) OVER (PARTITION BY event_type) AS n
                 FROM g WHERE gap_sec IS NOT NULL)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
                max(CASE WHEN rn = ceil(0.5 * n) THEN gap_sec END)
                  AS median_gap_sec
         FROM gg GROUP BY event_type ORDER BY event_type""",

    "events_dau_wau" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                     FROM events),
          dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT)
                         AS dau
                  FROM du GROUP BY 1),
          cover AS (SELECT day + CAST(i AS INTEGER) AS wday, user_id
                    FROM du, (SELECT unnest(range(0, 7)) AS i)),
          wau AS (SELECT wday AS day,
                         CAST(count(DISTINCT user_id) AS BIGINT) AS wau
                  FROM cover GROUP BY 1)
         SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau, wau,
                round(CAST(dau AS DOUBLE) / wau, 4) AS stickiness
         FROM dau JOIN wau ON dau.day = wau.day ORDER BY day""",

    "events_daily_zscore" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                               CAST(count(*) AS BIGINT) AS n
                        FROM events GROUP BY 1, 2),
          st AS (SELECT event_type, avg(n) AS mu, stddev(n) AS sd
                 FROM daily GROUP BY 1)
         SELECT daily.event_type, strftime(day, '%Y-%m-%d') AS day, n,
                round((n - mu) / sd, 4) AS z
         FROM daily JOIN st ON daily.event_type = st.event_type
         ORDER BY daily.event_type, day""",

    "events_markov_transitions" ->
      """WITH s AS (SELECT user_id,
                           list(event_type ORDER BY ts, event_id) AS t
                    FROM events GROUP BY user_id),
          pr AS (SELECT unnest(list_transform(range(1, len(t)),
                          i -> struct_pack(cur := t[i], nxt := t[i+1])))
                   AS p
                 FROM s WHERE len(t) >= 2),
          pairs AS (SELECT p.cur AS cur, p.nxt AS nxt FROM pr),
          c AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
                FROM pairs GROUP BY 1, 2),
          tot AS (SELECT cur, CAST(count(*) AS BIGINT) AS n_cur
                  FROM pairs GROUP BY 1)
         SELECT c.cur, c.nxt, n,
                round(CAST(n AS DOUBLE) / n_cur, 4) AS p
         FROM c JOIN tot ON c.cur = tot.cur
         ORDER BY c.cur, c.nxt""",

    "events_paths_top" ->
      """WITH s AS (SELECT user_id,
                           list(event_type ORDER BY ts, event_id) AS t
                    FROM events GROUP BY user_id),
          p AS (SELECT unnest(list_transform(range(1, len(t) - 1),
                         i -> t[i] || '>' || t[i+1] || '>' || t[i+2]))
                  AS path
                FROM s WHERE len(t) >= 3)
         SELECT path, CAST(count(*) AS BIGINT) AS n
         FROM p GROUP BY 1 ORDER BY n DESC, path LIMIT 10""",

    "events_time_decay" ->
      """WITH anchor AS (SELECT max(ts) AS t_end FROM events)
         SELECT user_id, count(*) AS n_events,
                round(sum(exp(date_diff('second', t_end, ts) / 3600.0)), 4)
                  AS decay_score
         FROM events, anchor GROUP BY user_id ORDER BY user_id""",

    // the window formulation the Aggregator avoids — structurally
    // different, so agreement is a real cross-check
    "events_topk_per_user" ->
      """WITH ranked AS (
           SELECT user_id, event_id,
                  CAST(floor("value" * 100) AS BIGINT) AS score_cents,
                  CAST(row_number() OVER (PARTITION BY user_id
                    ORDER BY CAST(floor("value" * 100) AS BIGINT) DESC,
                             event_id) AS BIGINT) AS rank
           FROM events)
         SELECT user_id, rank, score_cents, event_id
         FROM ranked WHERE rank <= 3 ORDER BY user_id, rank""",

    "events_salted_agg" ->
      """SELECT event_type, count(*) AS n,
                round(sum("value"), 2) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",

    // independent formulation of the funnel: greedy-earliest as a
    // min-timestamp join chain (t1 = first view, t2 = first click after
    // t1, t3 = first purchase after t2) — structurally unlike the Spark
    // fold, so agreement is a real cross-check
    "events_funnel" ->
      """WITH t1 AS (SELECT user_id, min(ts) AS ts1 FROM events
                     WHERE event_type = 'view' GROUP BY 1),
          t2 AS (SELECT e.user_id, min(e.ts) AS ts2 FROM events e
                 JOIN t1 ON e.user_id = t1.user_id
                 WHERE e.event_type = 'click' AND e.ts > t1.ts1 GROUP BY 1),
          t3 AS (SELECT e.user_id, min(e.ts) AS ts3 FROM events e
                 JOIN t2 ON e.user_id = t2.user_id
                 WHERE e.event_type = 'purchase' AND e.ts > t2.ts2 GROUP BY 1)
         SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
                (SELECT count(*) FROM t1) AS n_users
         UNION ALL SELECT 2, 'click', (SELECT count(*) FROM t2)
         UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM t3)
         ORDER BY step""",

    // the windowed chain: each min-ts step bounded to one hour after
    // the previous step's timestamp
    "events_funnel_windowed" ->
      """WITH t1 AS (SELECT user_id, min(ts) AS ts1 FROM events
                     WHERE event_type = 'view' GROUP BY 1),
          t2 AS (SELECT e.user_id, min(e.ts) AS ts2 FROM events e
                 JOIN t1 ON e.user_id = t1.user_id
                 WHERE e.event_type = 'click' AND e.ts > t1.ts1
                   AND e.ts <= t1.ts1 + INTERVAL 1 HOUR GROUP BY 1),
          t3 AS (SELECT e.user_id, min(e.ts) AS ts3 FROM events e
                 JOIN t2 ON e.user_id = t2.user_id
                 WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
                   AND e.ts <= t2.ts2 + INTERVAL 1 HOUR GROUP BY 1)
         SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
                (SELECT count(*) FROM t1) AS n_users
         UNION ALL SELECT 2, 'click', (SELECT count(*) FROM t2)
         UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM t3)
         ORDER BY step""",

    "events_retention" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort
                    FROM events GROUP BY 1)
         SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
                date_diff('day', f.cohort, CAST(e.ts AS DATE)) AS day_offset,
                count(DISTINCT e.user_id) AS n_users
         FROM events e JOIN f ON e.user_id = f.user_id
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "events_growth_accounting" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                     FROM events),
          m AS (SELECT user_id, day,
                       lag(day) OVER (PARTITION BY user_id ORDER BY day)
                         AS prev
                FROM ud),
          cls AS (SELECT day,
                         CAST(count(*) AS BIGINT) AS actives,
                         CAST(count(CASE WHEN prev IS NULL THEN 1 END)
                           AS BIGINT) AS new_users,
                         CAST(count(CASE WHEN date_diff('day', prev, day)
                             = 1 THEN 1 END) AS BIGINT) AS retained,
                         CAST(count(CASE WHEN prev IS NOT NULL AND
                             date_diff('day', prev, day) > 1 THEN 1 END)
                           AS BIGINT) AS resurrected
                  FROM m GROUP BY day)
          SELECT CAST(c.day AS VARCHAR) AS day, c.actives, c.new_users,
                 c.retained, c.resurrected,
                 CAST(coalesce(p.actives, 0) - c.retained AS BIGINT)
                   AS churned
          FROM cls c LEFT JOIN cls p ON p.day = c.day - 1
          ORDER BY day""",

    "events_assoc_rules" ->
      s"""WITH marked AS (
            SELECT user_id, ts, event_type,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          IS NULL
                        OR date_diff('second',
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts),
                             ts) > $gapSec
                        THEN 1 ELSE 0 END AS new_session
            FROM events),
          sess AS (
            SELECT user_id, event_type,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS session_id
            FROM marked),
          items AS (SELECT DISTINCT user_id, session_id, event_type
                    FROM sess),
          n AS (SELECT count(*) AS n_sessions FROM
                  (SELECT DISTINCT user_id, session_id FROM items)),
          ic AS (SELECT event_type, count(*) AS n_item
                 FROM items GROUP BY 1),
          pr AS (SELECT a.event_type AS ant, b.event_type AS cons,
                        count(*) AS co
                 FROM items a JOIN items b
                   USING (user_id, session_id)
                 WHERE a.event_type <> b.event_type
                 GROUP BY 1, 2)
          SELECT ant, cons, CAST(co AS BIGINT) AS co,
                 CAST((10000 * co) // ia.n_item AS BIGINT) AS conf_bp,
                 CAST((10000 * co * n.n_sessions) //
                      (ia.n_item * ib.n_item) AS BIGINT) AS lift_bp
          FROM pr
          JOIN ic ia ON pr.ant = ia.event_type
          JOIN ic ib ON pr.cons = ib.event_type
          CROSS JOIN n
          ORDER BY ant, cons""",

    // the exact relation the sketch+recount pipeline must reproduce:
    // keys above 0.5% of the stream, exact counts
    "events_freq_items" ->
      """SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
         HAVING count(*) * 200 > (SELECT count(*) FROM events)
         ORDER BY user_id""",

    "events_linreg_trend" ->
      """WITH e AS (SELECT event_type, "value",
                           (epoch_us(ts) - 1704067200000000) / 3.6e9 AS x_h
                    FROM events)
         SELECT event_type,
                CAST(regr_count("value", x_h) AS BIGINT) AS n,
                round(regr_slope("value", x_h) * 1000000, 2)
                  AS slope_e6_per_h,
                round(regr_intercept("value", x_h), 4) AS intercept,
                round(regr_r2("value", x_h), 6) AS r2
         FROM e GROUP BY event_type ORDER BY event_type""",

    "events_chi2_type_dow" ->
      """WITH obs AS (SELECT event_type, isodow(ts) AS dow,
                             count(*) AS o
                      FROM events GROUP BY 1, 2),
          rt AS (SELECT event_type, sum(o) AS rt FROM obs GROUP BY 1),
          ct AS (SELECT dow, sum(o) AS ct FROM obs GROUP BY 1),
          n AS (SELECT sum(o) AS n FROM obs)
         SELECT round(sum(pow(o - rt.rt * ct.ct / n.n, 2) /
                          (rt.rt * ct.ct / n.n)), 4) AS chi2,
                CAST((count(DISTINCT obs.event_type) - 1) *
                     (count(DISTINCT obs.dow) - 1) AS BIGINT) AS df
         FROM obs JOIN rt USING (event_type) JOIN ct USING (dow)
         CROSS JOIN n""",

    // same contingency CTEs; chi2 left unrounded until the one final
    // rounded effect-size
    "events_cramers_v" ->
      """WITH obs AS (SELECT event_type, isodow(ts) AS dow,
                             count(*) AS o
                      FROM events GROUP BY 1, 2),
          rt AS (SELECT event_type, sum(o) AS rt FROM obs GROUP BY 1),
          ct AS (SELECT dow, sum(o) AS ct FROM obs GROUP BY 1),
          n AS (SELECT sum(o) AS n FROM obs),
          x AS (SELECT sum(pow(o - rt.rt * ct.ct / n.n, 2) /
                           (rt.rt * ct.ct / n.n)) AS chi2raw,
                       max(n.n) AS n,
                       least(count(DISTINCT obs.event_type) - 1,
                             count(DISTINCT obs.dow) - 1) AS min_dim
                FROM obs JOIN rt USING (event_type)
                JOIN ct USING (dow) CROSS JOIN n)
         SELECT round(sqrt(chi2raw / (n * min_dim)), 4) AS cramers_v,
                CAST(n AS BIGINT) AS n,
                CAST(min_dim AS BIGINT) AS min_dim
         FROM x""",

    "events_profile" ->
      """SELECT * FROM (
           SELECT 'event_type' AS col_name,
                  CAST(count(CASE WHEN event_type IS NULL THEN 1 END)
                    AS BIGINT) AS n_nulls,
                  CAST(count(DISTINCT event_type) AS BIGINT) AS n_distinct,
                  CAST(count(*) AS BIGINT) AS n_rows
           FROM events
           UNION ALL
           SELECT 'props',
                  CAST(count(CASE WHEN props IS NULL THEN 1 END) AS BIGINT),
                  CAST(count(DISTINCT props) AS BIGINT),
                  CAST(count(*) AS BIGINT) FROM events
           UNION ALL
           SELECT 'user_id',
                  CAST(count(CASE WHEN user_id IS NULL THEN 1 END) AS BIGINT),
                  CAST(count(DISTINCT user_id) AS BIGINT),
                  CAST(count(*) AS BIGINT) FROM events
           UNION ALL
           SELECT 'value',
                  CAST(count(CASE WHEN "value" IS NULL THEN 1 END) AS BIGINT),
                  CAST(count(DISTINCT "value") AS BIGINT),
                  CAST(count(*) AS BIGINT) FROM events)
         ORDER BY col_name""",

    "events_seasonal_anomaly" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS h,
                  isodow(ts) AS dow, hour(ts) AS hr, count(*) AS cnt
           FROM events GROUP BY 1, 2, 3, 4),
          rmed AS (
           SELECT event_type, dow, hr, cnt,
                  row_number() OVER (PARTITION BY event_type, dow, hr
                    ORDER BY cnt, h) AS rn,
                  count(*) OVER (PARTITION BY event_type, dow, hr) AS n
           FROM hourly),
          med AS (SELECT event_type, dow, hr, min(cnt) AS med
                  FROM rmed WHERE rn * 2 >= n GROUP BY 1, 2, 3),
          dv AS (SELECT hourly.*, med.med, abs(cnt - med) AS dev
                 FROM hourly JOIN med USING (event_type, dow, hr)),
          rmad AS (
           SELECT event_type, dow, hr, dev,
                  row_number() OVER (PARTITION BY event_type, dow, hr
                    ORDER BY dev, h) AS rn,
                  count(*) OVER (PARTITION BY event_type, dow, hr) AS n
           FROM dv),
          mad AS (SELECT event_type, dow, hr, min(dev) AS mad
                  FROM rmad WHERE rn * 2 >= n GROUP BY 1, 2, 3),
          sc AS (SELECT dv.*, mad.mad,
                        (dv.dev * 100) // (mad.mad + 1) AS score
                 FROM dv JOIN mad USING (event_type, dow, hr)),
          tp AS (SELECT *, row_number() OVER (PARTITION BY event_type
                   ORDER BY score DESC, h) AS rk FROM sc)
          SELECT event_type, strftime(h, '%Y-%m-%d %H') AS hour,
                 CAST(cnt AS BIGINT) AS cnt, CAST(med AS BIGINT) AS med,
                 CAST(mad AS BIGINT) AS mad,
                 CAST(score AS BIGINT) AS score
          FROM tp WHERE rk <= 5 ORDER BY event_type, hour""",

    "events_survival_lifetable" ->
      """WITH ge AS (SELECT max(CAST(ts AS DATE)) AS obs_end FROM events),
          u AS (SELECT event_type, user_id,
                       min(CAST(ts AS DATE)) AS first_d,
                       max(CAST(ts AS DATE)) AS last_d
                FROM events GROUP BY 1, 2),
          uc AS (SELECT event_type,
                        CASE WHEN date_diff('day', last_d, obs_end) < 3
                          THEN date_diff('day', first_d, obs_end)
                          ELSE date_diff('day', first_d, last_d)
                        END AS t,
                        CASE WHEN date_diff('day', last_d, obs_end) < 3
                          THEN 1 ELSE 0 END AS cens
                 FROM u CROSS JOIN ge),
          h AS (SELECT event_type, t,
                       count(CASE WHEN cens = 0 THEN 1 END) AS deaths,
                       CAST(sum(cens) AS BIGINT) AS censored
                FROM uc GROUP BY 1, 2),
          lt AS (SELECT event_type, t, deaths, censored,
                        CAST(sum(deaths + censored) OVER (
                          PARTITION BY event_type ORDER BY t
                          ROWS BETWEEN CURRENT ROW AND
                          UNBOUNDED FOLLOWING) AS BIGINT) AS at_risk
                 FROM h)
          SELECT event_type, CAST(t AS BIGINT) AS t, at_risk,
                 CAST(deaths AS BIGINT) AS deaths, censored,
                 CAST((deaths * 10000) // at_risk AS BIGINT) AS hazard_bp
          FROM lt ORDER BY event_type, t""",

    "events_type_hour_entropy" ->
      """WITH h AS (SELECT event_type, hour(ts) AS hr, count(*) AS c
                    FROM events GROUP BY 1, 2),
          tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n
                  FROM h GROUP BY 1)
          SELECT h.event_type, n,
                 CAST(count(*) AS BIGINT) AS n_bins,
                 CAST(sum(c * (length(printf('%b', n // c)) - 1))
                   AS BIGINT) AS sum_bits,
                 round(CAST(sum(c * (length(printf('%b', n // c)) - 1))
                   AS DOUBLE) / n, 4) AS avg_bits
          FROM h JOIN tot USING (event_type)
          GROUP BY h.event_type, n ORDER BY h.event_type""",

    "events_motif_vcp" ->
      """WITH sq AS (SELECT user_id,
                            string_agg(substring(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS seq
                     FROM events GROUP BY user_id),
          m AS (SELECT (length(seq) - length(replace(seq, 'vcp', '')))
                         // 3 AS n_vcp
                FROM sq)
          SELECT CAST(n_vcp AS BIGINT) AS n_vcp,
                 CAST(count(*) AS BIGINT) AS n_users
          FROM m GROUP BY n_vcp ORDER BY n_vcp""",

    "events_streak_lengths" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                       FROM events),
          isl AS (SELECT user_id,
                         date_diff('day', DATE '1970-01-01', day)
                           - row_number() OVER (PARTITION BY user_id
                               ORDER BY day) AS grp
                  FROM days),
          st AS (SELECT user_id, grp, count(*) AS len
                 FROM isl GROUP BY 1, 2),
          mx AS (SELECT user_id, max(len) AS max_streak
                 FROM st GROUP BY 1)
          SELECT CAST(max_streak AS BIGINT) AS max_streak,
                 CAST(count(*) AS BIGINT) AS n_users
          FROM mx GROUP BY 1 ORDER BY 1""",
  )
}
