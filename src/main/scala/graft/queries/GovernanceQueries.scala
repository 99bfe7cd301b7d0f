package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Lineage, Tables}

/** Data-governance and audit-statistics queries: k-anonymity profiling,
  * Benford first-digit conformance, time-weighted averages, SCD2 interval
  * construction from change events, and within-group distribution ranks.
  *
  * Scale notes (100 TB): every query here is either a pure two-level
  * partial aggregation (k-anonymity, Benford) or a window partitioned by
  * a bounded key (user_id / type-day) — the same per-key-bounded shape as
  * events_sessionize. Nothing sorts a whole column on one reducer.
  */
object GovernanceQueries extends Registry {

  val defs: Map[String, QueryFn] = Map(

    // k-anonymity audit over quasi-identifier cells
    // (event_type, iso-weekday, hour, value-bucket): per event_type,
    // how close to re-identifiable is the table? Two partial
    // aggregations — rows collapse to cells at the first groupBy, cells
    // collapse to a 5-row profile at the second; only (cell, count)
    // crosses the shuffle.
    "events_k_anonymity" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          (expr("weekday(ts)") + 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"),
          floor(col("value") / 10.0).cast("long").as("vb"))
        .groupBy("event_type", "dow", "hr", "vb")
        .agg(count(lit(1)).as("k"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_cells"),
          min("k").as("min_k"),
          sum(when(col("k") < 5, 1L).otherwise(0L)).as("cells_lt5"),
          sum(when(col("k") < 5, col("k")).otherwise(0L))
            .as("rows_suppressed"))
        .orderBy("event_type")),

    // l-diversity audit over the same quasi-identifier cells as
    // events_k_anonymity: k bounds re-identification, but a cell whose
    // rows all belong to ONE user still leaks (homogeneity attack) —
    // l = distinct sensitive values (user_id) per cell must clear a
    // floor too. Per event_type: cell count, worst l, cells below
    // l = 3 and the rows they expose. Same two-level partial-agg shape
    // as k-anonymity (cells shuffle once on the QI key; the per-type
    // rollup rides map-side combine), so it scales identically.
    "events_l_diversity" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          (expr("weekday(ts)") + 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"),
          floor(col("value") / 10.0).cast("long").as("vb"),
          col("user_id"))
        .groupBy("event_type", "dow", "hr", "vb")
        .agg(countDistinct("user_id").as("l"), count(lit(1)).as("k"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_cells"),
          min("l").as("min_l"),
          sum(when(col("l") < 3, 1L).otherwise(0L)).as("cells_lt3"),
          sum(when(col("l") < 3, col("k")).otherwise(0L))
            .as("rows_at_risk"))
        .orderBy("event_type")),

    // A/B experiment plumbing: deterministic hash assignment (md5 of
    // the user key -> arm, the reproducible-bucketing recipe the
    // sampling family uses) plus the SAMPLE-RATIO-MISMATCH guard every
    // experiment platform runs before reading results: a one-dof
    // chi-square of observed arm counts vs 50/50, collapsed to the
    // integer comparison (nT - nC)^2 * 100 > 384 * (nT + nC)
    // (chi2 > 3.84 = p < .05) — a flagged split means the assignment
    // or logging pipeline is broken and the experiment is void. One
    // distinct-users aggregate; no windows.
    "events_ab_srm" -> ((s, d) => {
      val arms = Tables.events(s, d)
        .select(col("user_id")).distinct()
        .withColumn("arm",
          conv(substring(md5(concat(lit("ab:"),
            col("user_id").cast("string"))), 1, 15), 16, 10)
            .cast("long") % 2)
      arms.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_c"))
        .select(col("n_t"), col("n_c"),
          (col("n_t") - col("n_c")).as("delta"),
          when((col("n_t") - col("n_c")) * (col("n_t") - col("n_c"))
            * 100 > lit(384L) * (col("n_t") + col("n_c")), 1L)
            .otherwise(0L).as("srm_flag"))
    }),

    // Difference-in-differences lift estimate over purchase values:
    // treatment = even user_id, periods split at the observation
    // midpoint (integer date comparison), and the DiD estimate is
    // (T.post - T.pre) - (C.post - C.pre) of cell means. Values snap
    // to integer micro-units per row BEFORE any aggregation and cell
    // means are truncating integer divisions, so the estimate is
    // engine-exact (a float mean could never hash). On this synthetic
    // data the true lift is ~0 — the query's value is the verified
    // causal-analysis shape: facts reduce to 4 cohort cells in one
    // partial aggregate, then a broadcast-size pivot.
    "events_did_lift" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
      val bounds = ev.agg(min(col("ts").cast("date")).as("lo"),
        max(col("ts").cast("date")).as("hi"))
      val cell = ev.crossJoin(broadcast(bounds))
        .select(
          when(col("user_id") % 2 === 0, lit("T")).otherwise(lit("C"))
            .as("cohort"),
          when(expr(
            "2 * datediff(cast(ts as date), lo) >= datediff(hi, lo) + 1"),
            lit("post")).otherwise(lit("pre")).as("period"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_u"))
        .groupBy("cohort", "period")
        .agg(count(lit(1)).as("n"), sum("v_u").as("sum_u"))
        .withColumn("mean_u", expr("sum_u DIV n"))
      cell.agg(
          max(when(col("cohort") === "T" && col("period") === "pre",
            col("mean_u"))).as("t_pre_u"),
          max(when(col("cohort") === "T" && col("period") === "post",
            col("mean_u"))).as("t_post_u"),
          max(when(col("cohort") === "C" && col("period") === "pre",
            col("mean_u"))).as("c_pre_u"),
          max(when(col("cohort") === "C" && col("period") === "post",
            col("mean_u"))).as("c_post_u"))
        .select(col("t_pre_u"), col("t_post_u"), col("c_pre_u"),
          col("c_post_u"),
          ((col("t_post_u") - col("t_pre_u")) -
            (col("c_post_u") - col("c_pre_u"))).as("did_u"))
    }),

    // Benford's-law conformance of lineitem prices: observed
    // first-significant-digit share (integer basis points) vs the
    // Benford expectation. Digit extraction goes through exact integer
    // cents and decimal string length — no floating log on the data
    // path, so both engines bucket identically; log10 appears only in
    // the 9 expectation constants.
    "stats_benford" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(floor(col("l_extendedprice") * 100).cast("long").as("v"))
        .select((col("v") / pow(lit(10.0),
            length(col("v").cast("string")) - 1)).cast("long").as("digit"))
        .groupBy("digit")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("obs_bp", expr("(cnt * 10000) DIV sum(cnt) OVER ()"))
        .select(col("digit"), col("cnt"), col("obs_bp"),
          floor(log10(lit(1.0) + lit(1.0) / col("digit")) * 10000)
            .cast("long").as("benford_bp"))
        .orderBy("digit")),

    // Time-weighted average value per event_type: each event's value
    // holds until the user's next event (piecewise-constant signal), so
    // the mean is duration-weighted, not row-weighted. The window is
    // partitioned by user (bounded per key); the weighted moments then
    // partial-aggregate by type.
    "events_twap" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("dur_sec",
          (unix_timestamp(lead(col("ts"), 1).over(w)) -
            unix_timestamp(col("ts"))).cast("long"))
        .filter(col("dur_sec").isNotNull)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum("dur_sec").as("held_sec"),
          round(sum(col("value") * col("dur_sec")) / sum(col("dur_sec")), 4)
            .as("twap"))
        .orderBy("event_type")
    }),

    // SCD2 validity intervals from the event stream: collapse each
    // user's consecutive same-type runs to state-change rows, then each
    // change holds [its ts, next change ts). The current (open) state
    // carries a NULL valid_to. Classic CDC-to-dimension build; both
    // windows are per-user bounded.
    "cdc_scd2_intervals" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val changes = Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"))
      val byChange = Window.partitionBy("user_id").orderBy("ts", "event_id")
      changes
        .select(col("user_id"), col("event_type"),
          row_number().over(byChange).cast("long").as("version"),
          unix_timestamp(col("ts")).as("from_sec"),
          unix_timestamp(lead(col("ts"), 1).over(byChange)).as("to_sec"))
        .orderBy("user_id", "version")
    }),

    // Distribution-free confidence interval for the mean price by
    // DETERMINISTIC subsampling (the distributed cousin of the
    // bootstrap): 32 half-sample replicas, each replica's mean kept in
    // integer centi-cents, CI = the 2nd and 31st order statistics of
    // the replica means. ONE md5 digest per row supplies all 32
    // half-sample membership bits (hex digit b of md5(key) < '8' = the
    // digit's top bit). r15 shape: the digest's 32 hex digits are read
    // as four 32-bit integer chunks once per row (conv is codegen'd)
    // and each replica's membership is an integer shift-and-mask inside
    // the whole-stage-codegen'd filter — the previous
    // filter(sequence, lambda) higher-order form evaluated an
    // INTERPRETED lambda with a substring allocation 32x per row; and
    // the 2nd/31st order statistics now come from ONE pass over the
    // ranked replicas (conditional aggregates) where the previous
    // lo/hi cross-join pair duplicated the whole md5+explode+aggregate
    // subtree (plan showed operators 6-16 twice). Same rows, same
    // oracle.
    "stats_subsample_ci" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("k"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val reps = li
        .withColumn("h", md5(col("k").cast("binary")))
        .select(col("cents"),
          expr("cast(conv(substring(h, 1, 8), 16, 10) as bigint)")
            .as("c0"),
          expr("cast(conv(substring(h, 9, 8), 16, 10) as bigint)")
            .as("c1"),
          expr("cast(conv(substring(h, 17, 8), 16, 10) as bigint)")
            .as("c2"),
          expr("cast(conv(substring(h, 25, 8), 16, 10) as bigint)")
            .as("c3"))
        .select(col("cents"), col("c0"), col("c1"), col("c2"), col("c3"),
          explode(expr("sequence(0, 31)")).as("b"))
        // digit b < '8' == top bit of the b-th nibble clear; nibble b%8
        // of chunk b DIV 8, counted from the most significant nibble
        .filter(expr(
          "(shiftright(CASE b DIV 8 WHEN 0 THEN c0 WHEN 1 THEN c1 " +
            "WHEN 2 THEN c2 ELSE c3 END, (7 - b % 8) * 4) & 8) = 0"))
        .groupBy("b")
        .agg(expr("(100 * sum(cents)) DIV count(1)").as("mean_cc"))
      val wr = Window.orderBy("mean_cc", "b")
      val ranked = reps.select(col("mean_cc"),
        row_number().over(wr).as("rn"))
      // degenerate-input note (r15 ADVICE): with fewer than 31 replica
      // groups (tiny/empty input) this conditional aggregate emits ONE
      // row with NULL ci bounds where the old empty-broadcast cross-join
      // emitted ZERO rows. The replica count is structurally 32 on any
      // non-empty lineitem (md5 nibbles over row keys), the oracle
      // replays the same aggregate, and the driver never runs the query
      // on an empty table — so the edge is documented, not guarded.
      val ci = ranked.filter(col("rn") === 2 || col("rn") === 31)
        .agg(max(when(col("rn") === 2, col("mean_cc"))).as("ci_lo_cc"),
          max(when(col("rn") === 31, col("mean_cc"))).as("ci_hi_cc"))
      li.agg(count(lit(1)).as("n"),
          expr("(100 * sum(cents)) DIV count(1)").as("mean_cc"))
        .crossJoin(broadcast(ci))
    }),

    // Seasonal-naive forecast backtest: predict each day's event count
    // with the value 7 rows earlier in the per-type day series and
    // report integer MAE x100 and WAPE basis points. The lag window is
    // per-type over the calendar-bounded day relation.
    "events_forecast_naive" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily.withColumn("pred", lag("cnt", 7).over(w))
        .filter(col("pred").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("cnt") - col("pred"))).as("sum_abs_err"),
          sum("cnt").as("sum_actual"))
        .select(col("event_type"), col("n_days"),
          expr("(100 * sum_abs_err) DIV n_days").as("mae_x100"),
          expr("(10000 * sum_abs_err) DIV sum_actual").as("wape_bp"))
        .orderBy("event_type")
    }),

    // Weekly seasonality profile: activity share per (iso-weekday,
    // hour) cell as an integer basis-point index against the uniform
    // expectation (10000 = neutral). Two partial aggregations; the
    // index divides integer cross-products, so both engines bucket and
    // divide identically.
    "events_seasonality" -> ((s, d) => {
      val cells = Tables.events(s, d)
        .select((expr("weekday(ts)") + 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"))
        .groupBy("dow", "hr").agg(count(lit(1)).as("cnt"))
      val tot = cells.agg(sum("cnt").as("total"),
        count(lit(1)).as("n_cells"))
      cells.crossJoin(broadcast(tot))
        .select(col("dow"), col("hr"), col("cnt"),
          expr("(cnt * n_cells * 10000) DIV total").as("index_bp"))
        .orderBy("dow", "hr")
    }),

    // Change-point evidence: CUSUM of daily event counts against the
    // period mean, kept in exact integers by scaling — the running
    // deviation sum(cnt_d - T/N) over the first t days is
    // (N*c_t - t*T)/N, so N*c_t - t*T is reported verbatim. Max |value|
    // marks the most likely level-shift day. The cumulative window
    // walks the DAY domain (calendar-bounded), not raw events.
    "events_change_points" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val tot = daily.agg(sum("cnt").as("t"), count(lit(1)).as("n"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(tot))
        .select(col("day").cast("string").as("day"), col("cnt"),
          (sum("cnt").over(w) * col("n") -
            row_number().over(Window.orderBy("day")).cast("long") * col("t"))
            .as("cusum_scaled"))
        .orderBy("day")
    }),

    // Two-sample Kolmogorov-Smirnov distance between the value
    // distributions of two event types, computed EXACTLY on the
    // integer-cents histogram: D = max |ECDF_a - ECDF_b| over distinct
    // cents, as the integer max of |ca*nb - cb*na| (no float division
    // until the final basis-point report). The cumulative window runs
    // over the HISTOGRAM (bounded by the value domain, ~33k cents),
    // never over raw rows — the Audit.keySkew recipe — so the
    // single-partition window stays constant-size at any corpus scale.
    // Cross-products like ca*nb need 128-bit decimals once counts pass
    // ~3e9; at this harness's scale longs are exact.
    "stats_ks_test" -> ((s, d) => {
      val e = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select((col("event_type") === "click").as("is_a"),
          round(col("value") * 100).cast("long").as("cents"))
      val h = e.groupBy("cents").agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
      val w = Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = h.agg(sum("na").as("ta"), sum("nb").as("tb"))
      val scored = h
        .select(col("cents"), sum("na").over(w).as("ca"),
          sum("nb").over(w).as("cb"))
        .crossJoin(broadcast(tot))
        .select(col("cents"), col("ta"), col("tb"),
          abs(col("ca") * col("tb") - col("cb") * col("ta")).as("dnum"))
      val dm = scored.agg(max("dnum").as("dmax"))
      scored.crossJoin(broadcast(dm))
        .filter(col("dnum") === col("dmax"))
        .groupBy("ta", "tb", "dmax")
        .agg(min("cents").as("d_at_cents"))
        .select(col("ta").as("n_a"), col("tb").as("n_b"),
          expr("(10000 * dmax) DIV (ta * tb)").as("d_bp"),
          col("d_at_cents"))
    }),

    // Cohort lifetime value: users grouped by first-seen week, purchase
    // revenue accumulated over cohort age in weeks. Both week floors
    // are Monday-truncated on both engines, so the day difference is an
    // exact multiple of 7. The cumulative window partitions by cohort
    // and walks at most the observation span in weeks — bounded state.
    "events_cohort_ltv" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val firstw = ev.groupBy("user_id")
        .agg(min(date_trunc("week", col("ts"))).as("cw"))
      val w = Window.partitionBy("cohort_week").orderBy("age_w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.filter(col("event_type") === "purchase")
        .join(firstw, "user_id")
        .groupBy(col("cw"),
          (datediff(date_trunc("week", col("ts")).cast("date"),
            col("cw").cast("date")) / 7).cast("long").as("age_w"))
        .agg(sum(round(col("value") * 100).cast("long")).as("rev_cents"),
          countDistinct(col("user_id")).as("buyers"))
        .select(col("cw").cast("date").cast("string").as("cohort_week"),
          col("age_w"), col("buyers"), col("rev_cents"))
        .withColumn("cum_cents", sum("rev_cents").over(w))
        .orderBy("cohort_week", "age_w")
    }),

    // Gini coefficient of daily event volume — "how unequally is
    // traffic spread across days?" — via the exact rank formula on the
    // ascending-sorted daily counts: gini_bp = 10000*(2S - (n+1)T) /
    // (n*T) with S = sum(i * cnt_i), all integer (ties contribute the
    // same S under any tie order, and the numerator is provably
    // nonnegative, so DIV and // agree). The rank window walks the DAY
    // domain (calendar-bounded), never raw events; counts above ~1e12/
    // day would need the decimal widening documented at stats_ks_test.
    "stats_gini" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col("cnt"), col("day"))
      daily.select(col("cnt"), row_number().over(w).cast("long").as("i"))
        .agg(count(lit(1)).as("n_days"), sum("cnt").as("total"),
          sum(col("i") * col("cnt")).as("s"))
        .select(col("n_days"), col("total"),
          expr("(10000 * (2*s - (n_days+1)*total)) DIV (n_days * total)")
            .as("gini_bp"))
    }),

    // Within-group distribution position: each user's daily purchase
    // volume ranked against the same (event_type, day) cohort via
    // percent_rank / cume_dist. Ranking is on exact integer cents (an
    // order-independent integer sum), never on a float sum whose
    // accumulation order could flip near-ties between engines. The
    // window partitions on (type, day) — thousands of small cohorts, no
    // global sort.
    "window_percent_rank" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"),
          col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val w = Window.partitionBy("event_type", "day")
        .orderBy("cents", "user_id")
      daily
        .select(col("event_type"), col("day").cast("string").as("day"),
          col("user_id"), col("cents"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cum_dist"))
        .orderBy("event_type", "day", "user_id")
    }),

    // Bot/scripted-traffic audit: the 20 users with the most REGULAR
    // event cadence. Regularity = normalized gap variance held entirely
    // in integers — var_num = n*Σg² - (Σg)² (the machine-friendly
    // variance numerator, no float co-moments), normalized by n² with
    // truncating DIV so cross-user comparison is engine-exact. A human's
    // gaps are bursty (large nvar); a cron-driven client's collapse
    // toward 0. One per-user lag window (bounded per key) + one partial
    // aggregation; n >= 5 gaps to qualify.
    "events_regularity_audit" -> ((s, d) => {
      val wLag = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gaps = Tables.events(s, d)
        .withColumn("prev", lag(col("ts"), 1).over(wLag))
        .filter(col("prev").isNotNull)
        .select(col("user_id"),
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev")))
            .as("g"))
      gaps.groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"), sum("g").as("sg"),
          sum(col("g") * col("g")).as("sg2"))
        .filter(col("n_gaps") >= 5)
        .select(col("user_id"), col("n_gaps"),
          expr("sg DIV n_gaps").as("mean_gap_sec"),
          expr("(n_gaps * sg2 - sg * sg) DIV (n_gaps * n_gaps)")
            .as("nvar"))
        .orderBy(col("nvar"), col("user_id"))
        .limit(20)
    }),

    // Mann-Whitney U (Wilcoxon rank-sum) between English and German doc
    // lengths — the nonparametric location test a curation pipeline runs
    // before trusting a per-source length gate across languages. Exact
    // integer arithmetic throughout: ranks are computed on the (value →
    // per-group count) HISTOGRAM (the length domain is bounded, never a
    // global sort of raw docs), and tied ranks use DOUBLED average ranks
    // (avg rank of a tie block starting after c rows with t members is
    // c + (t+1)/2, so 2x it is the integer 2c + t + 1) — no .5 floats to
    // round. U1 + U2 = n1*n2 holds by construction; both are emitted
    // doubled so the identity is checkable on the output row.
    "stats_mannwhitney_u" -> ((s, d) => {
      val e = Tables.documents(s, d)
        .filter(col("lang").isin("en", "de"))
        .select((col("lang") === "en").as("is_a"), col("n_chars"))
      val h = e.groupBy("n_chars").agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
      val w = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, -1)
      h.select(col("na"), col("nb"), (col("na") + col("nb")).as("t"),
          coalesce(sum(col("na") + col("nb")).over(w), lit(0L)).as("c"))
        .agg(sum("na").as("n_a"), sum("nb").as("n_b"),
          sum(col("na") * (lit(2L) * col("c") + col("t") + 1L))
            .as("r1x2"))
        .select(col("n_a"), col("n_b"), col("r1x2"),
          (col("r1x2") - col("n_a") * (col("n_a") + 1L)).as("u1x2"),
          (lit(2L) * col("n_a") * col("n_b")
            - (col("r1x2") - col("n_a") * (col("n_a") + 1L))).as("u2x2"))
    }),

    // Winsorized mean of doc length per source — the outlier-robust
    // center a mixture-weighting step should use instead of a raw mean
    // one giant document can drag. Thresholds are the p05/p95 ORDER
    // STATISTICS picked by a cumulative walk over the per-source length
    // histogram (ceil ranks in pure integers: (n+19) DIV 20 and
    // (19n+19) DIV 20), values clipped to [lo, hi] on the histogram
    // itself (never re-touching raw rows), mean kept in centi-chars.
    // Every window partitions by source and walks the bounded length
    // domain.
    "stats_winsorized_mean" -> ((s, d) => {
      val h = Tables.documents(s, d)
        .groupBy("source", "n_chars").agg(count(lit(1)).as("cnt"))
      val wc = Window.partitionBy("source").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = h
        .withColumn("cum", sum("cnt").over(wc))
        .withColumn("n", sum("cnt").over(Window.partitionBy("source")))
      val thr = cum.groupBy("source", "n").agg(
        min(when(col("cum") >= expr("(n + 19) DIV 20"), col("n_chars")))
          .as("lo"),
        min(when(col("cum") >= expr("(19 * n + 19) DIV 20"),
          col("n_chars"))).as("hi"))
      h.join(thr, "source")
        .groupBy(col("source"), col("n"), col("lo"), col("hi"))
        .agg(sum(least(greatest(col("n_chars"), col("lo")), col("hi"))
          * col("cnt")).as("wsum"))
        .select(col("source"), col("n").as("n_docs"), col("lo"),
          col("hi"),
          expr("(100 * wsum) DIV n").as("wmean_cc"))
        .orderBy("source")
    }),

    // Theil-Sen robust trend of the daily event count per type: the
    // MEDIAN of all pairwise day-slopes — outlier days move the OLS
    // slope (events_linreg_trend) but barely move this one; shipping
    // both is the standard robustness cross-check. Slopes are exact
    // sign-split integer milli-units; the median walks a cumulative
    // rank over the (type, slope) histogram (the inter-event-gap
    // pattern), so nothing sorts raw pairs. The pair relation is
    // (days per type)² — dimension-sized at any corpus scale; the only
    // corpus-sized work is the partial-aggregated daily rollup.
    "stats_theilsen_trend" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val a = daily.select(col("event_type"), col("day").as("d1"),
        col("cnt").as("c1"))
      val b = daily.select(col("event_type").as("t2"),
        col("day").as("d2"), col("cnt").as("c2"))
      val slopes = a.join(b, col("event_type") === col("t2") &&
          col("d1") < col("d2"))
        .select(col("event_type"),
          expr("""CASE WHEN (c2 - c1) < 0
                  THEN -((-(c2 - c1)) * 1000 DIV datediff(d2, d1))
                  ELSE (c2 - c1) * 1000 DIV datediff(d2, d1)
                  END""").as("slope_milli"))
      val hist = slopes.groupBy("event_type", "slope_milli")
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy("event_type").orderBy("slope_milli")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy("event_type")
      hist
        .withColumn("cum", sum("cnt").over(wCum))
        .withColumn("n", sum("cnt").over(wTot))
        .groupBy(col("event_type"), col("n").as("n_pairs"))
        .agg(min(when(col("cum") >= expr("(n + 1) DIV 2"),
          col("slope_milli"))).as("med_slope_milli"))
        .orderBy("event_type")
    }),

    // Count-Min sketch audit with ENGINE-PORTABLE hashes: a 4x256
    // counter sketch over the token stream (bucket = md5(row:term) mod
    // width — fully replayable, unlike library CM implementations), then
    // each of the top-20 exact tokens is point-queried against it. The
    // sketch is a 1,024-row mergeable partial-aggregate — the bounded-
    // memory heavy-hitter shape a 100 TB pipeline keeps per shard and
    // merges by cell addition — and the output carries the exact count,
    // the estimate, the (always >= 0) overcount, and the est <= exact +
    // 2N/width verdict, so the hash check pins the CM guarantee itself.
    "corpus_countmin_audit" -> ((s, d) => {
      // ONE tokenization pass: every downstream relation (sketch, total,
      // top-20) is a pure function of the per-term exact counts — the
      // bucket hash depends only on the term, so the per-(r, b) cell
      // count over OCCURRENCES equals the cnt-weighted sum over the
      // (vocabulary-sized) count relation, total tokens = Σ exact, and
      // the top-20 ranks the same relation. The previous form re-ran
      // the tokenize+explode scan per branch (3 scans) and md5'd every
      // occurrence x4; this one hashes each distinct term x4 over a
      // vocabulary-sized cut.
      val counts = Lineage.cut(Tables.documents(s, d)
        .select(explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("term"))
        .groupBy("term").agg(count(lit(1)).as("exact")))
      val bucketed = counts
        .withColumn("r", explode(sequence(lit(0L), lit(3L))))
        .withColumn("b",
          conv(substring(md5(concat(col("r").cast("string"), lit(":"),
            col("term"))), 1, 15), 16, 10).cast("long") % 256)
      val sketch = bucketed.groupBy("r", "b").agg(sum("exact").as("c"))
      val total = counts.agg(sum("exact").as("n"))
      // top-20 via global orderBy+limit (planned as TakeOrderedAndProject
      // — a k-bounded per-partition reduction) instead of a global
      // row_number window, which moves the whole VOCABULARY to one
      // partition; the rank window then runs over 20 rows. Same rows:
      // row_number <= 20 under (exact desc, term asc) IS the first 20 of
      // that total order.
      val w = Window.orderBy(col("exact").desc, col("term").asc)
      val top = counts
        .orderBy(col("exact").desc, col("term").asc).limit(20)
        .withColumn("rank", row_number().over(w).cast("long"))
      top
        .withColumn("r", explode(sequence(lit(0L), lit(3L))))
        .withColumn("b",
          conv(substring(md5(concat(col("r").cast("string"), lit(":"),
            col("term"))), 1, 15), 16, 10).cast("long") % 256)
        .join(broadcast(sketch), Seq("r", "b"))
        .groupBy("rank", "term", "exact").agg(min("c").as("est"))
        .crossJoin(broadcast(total))
        .select(col("rank"), col("term"), col("exact"), col("est"),
          (col("est") - col("exact")).as("overcount"),
          (col("est") <= col("exact") + expr("(2 * n) DIV 256"))
            .cast("long").as("within_eps"))
        .orderBy("rank")
    }),

    // Noisy vocabulary release, DP-release SHAPE: global token counts
    // perturbed with bounded per-token pseudo-noise (md5-seeded integer
    // in [-1000, 1000] — a deterministic, replayable stand-in for the
    // Laplace draw; real differential privacy needs true randomness,
    // this pins the release PIPELINE: perturb, threshold small counts,
    // publish top-20 noisy counts only, never exact ones). One token
    // count reduction (partial-aggregated) + a 20-row global top-k.
    "corpus_dp_topk" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select(explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      // top-20 via orderBy+limit, not a vocabulary-wide global window —
      // see corpus_countmin_audit's note (identical rows by definition)
      val w = Window.orderBy(col("noisy").desc, col("term").asc)
      counts
        .withColumn("noise",
          conv(substring(md5(concat(lit("dp:"), col("term"))), 1, 15),
            16, 10).cast("long") % 2001 - 1000)
        .select(col("term"), (col("cnt") + col("noise")).as("noisy"))
        .filter(col("noisy") >= 1000)
        .orderBy(col("noisy").desc, col("term").asc).limit(20)
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(col("rank"), col("term"), col("noisy"))
        .orderBy("rank")
    }),
  )

  val oracles: Map[String, String] = Map(

    "corpus_countmin_audit" ->
      """WITH t AS (SELECT list_filter(string_split_regex(trim(text),
                      '\s+'), x -> x <> '') AS toks FROM documents),
          e AS (SELECT unnest(toks) AS term FROM t),
          en AS (SELECT term, r,
                   ('0x' || substring(md5(r::VARCHAR || ':' || term),
                     1, 15))::BIGINT % 256 AS b
                 FROM e, range(0, 4) q(r)),
          sk AS (SELECT r, b, count(*) AS c FROM en GROUP BY 1, 2),
          tot AS (SELECT count(*) AS n FROM e),
          ex AS (SELECT term, count(*) AS exact FROM e GROUP BY term),
          top AS (SELECT term, exact,
                    CAST(row_number() OVER (ORDER BY exact DESC, term ASC)
                      AS BIGINT) AS rank
                  FROM ex),
          pq AS (SELECT rank, t.term, t.exact, min(sk.c) AS est
                 FROM top t, range(0, 4) q(r)
                 JOIN sk ON sk.r = q.r
                        AND sk.b = ('0x' || substring(
                          md5(q.r::VARCHAR || ':' || t.term), 1, 15))
                          ::BIGINT % 256
                 WHERE t.rank <= 20
                 GROUP BY 1, 2, 3)
          SELECT rank, term, exact, CAST(est AS BIGINT) AS est,
                 CAST(est - exact AS BIGINT) AS overcount,
                 CAST(est <= exact + (2 * n) // 256 AS BIGINT)
                   AS within_eps
          FROM pq, tot ORDER BY rank""",

    "stats_theilsen_trend" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                   count(*) AS cnt
                 FROM events GROUP BY 1, 2),
          sl AS (SELECT a.event_type,
                   CASE WHEN (b.cnt - a.cnt) < 0
                   THEN -((-(b.cnt - a.cnt)) * 1000
                          // datediff('day', a.day, b.day))
                   ELSE (b.cnt - a.cnt) * 1000
                        // datediff('day', a.day, b.day)
                   END AS slope_milli
                 FROM daily a JOIN daily b
                   ON a.event_type = b.event_type AND a.day < b.day),
          h AS (SELECT event_type, slope_milli, count(*) AS cnt
                FROM sl GROUP BY 1, 2),
          c AS (SELECT event_type, slope_milli,
                  sum(cnt) OVER (PARTITION BY event_type
                    ORDER BY slope_milli
                    ROWS UNBOUNDED PRECEDING) AS cum,
                  sum(cnt) OVER (PARTITION BY event_type) AS n
                FROM h)
          SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
                 CAST(min(CASE WHEN cum >= (n + 1) // 2
                   THEN slope_milli END) AS BIGINT) AS med_slope_milli
          FROM c GROUP BY 1, 2 ORDER BY event_type""",

    "corpus_dp_topk" ->
      """WITH t AS (SELECT list_filter(string_split_regex(trim(text),
                      '\s+'), x -> x <> '') AS toks FROM documents),
          e AS (SELECT unnest(toks) AS term FROM t),
          c AS (SELECT term, count(*) AS cnt FROM e GROUP BY term),
          z AS (SELECT term,
                  cnt + (('0x' || substring(md5('dp:' || term), 1, 15))
                    ::BIGINT % 2001 - 1000) AS noisy
                FROM c),
          r AS (SELECT term, noisy,
                  CAST(row_number() OVER (ORDER BY noisy DESC, term ASC)
                    AS BIGINT) AS rank
                FROM z WHERE noisy >= 1000)
          SELECT rank, term, CAST(noisy AS BIGINT) AS noisy
          FROM r WHERE rank <= 20 ORDER BY rank""",

    "events_k_anonymity" ->
      """WITH cells AS (
           SELECT event_type, isodow(ts) AS dow, hour(ts) AS hr,
                  CAST(floor("value" / 10.0) AS BIGINT) AS vb,
                  count(*) AS k
           FROM events GROUP BY 1, 2, 3, 4)
         SELECT event_type,
                CAST(count(*) AS BIGINT) AS n_cells,
                CAST(min(k) AS BIGINT) AS min_k,
                CAST(count(CASE WHEN k < 5 THEN 1 END) AS BIGINT)
                  AS cells_lt5,
                CAST(coalesce(sum(CASE WHEN k < 5 THEN k END), 0) AS BIGINT)
                  AS rows_suppressed
         FROM cells GROUP BY event_type ORDER BY event_type""",

    "events_l_diversity" ->
      """WITH cells AS (
           SELECT event_type, isodow(ts) AS dow, hour(ts) AS hr,
                  CAST(floor("value" / 10.0) AS BIGINT) AS vb,
                  count(DISTINCT user_id) AS l, count(*) AS k
           FROM events GROUP BY 1, 2, 3, 4)
         SELECT event_type,
                CAST(count(*) AS BIGINT) AS n_cells,
                CAST(min(l) AS BIGINT) AS min_l,
                CAST(count(CASE WHEN l < 3 THEN 1 END) AS BIGINT)
                  AS cells_lt3,
                CAST(coalesce(sum(CASE WHEN l < 3 THEN k END), 0)
                  AS BIGINT) AS rows_at_risk
         FROM cells GROUP BY event_type ORDER BY event_type""",

    "events_ab_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
          arms AS (SELECT (('0x' || substring(md5('ab:' ||
                     user_id::VARCHAR), 1, 15))::BIGINT) % 2 AS arm
                   FROM u),
          c AS (SELECT
                  CAST(count(CASE WHEN arm = 0 THEN 1 END) AS BIGINT)
                    AS n_t,
                  CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT)
                    AS n_c
                FROM arms)
          SELECT n_t, n_c, n_t - n_c AS delta,
                 CAST(CASE WHEN (n_t - n_c) * (n_t - n_c) * 100
                        > 384 * (n_t + n_c)
                      THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
          FROM c""",

    "events_did_lift" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d, "value"
                     FROM events WHERE event_type = 'purchase'),
          b AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
          cells AS (
            SELECT CASE WHEN user_id % 2 = 0 THEN 'T' ELSE 'C' END
                     AS cohort,
                   CASE WHEN 2 * date_diff('day', lo, d) >=
                          date_diff('day', lo, hi) + 1
                        THEN 'post' ELSE 'pre' END AS period,
                   CAST(floor("value" * 1000000.0 + 0.5) AS BIGINT)
                     AS v_u
            FROM ev CROSS JOIN b),
          agg AS (SELECT cohort, period, count(*) AS n,
                         CAST(sum(v_u) AS BIGINT) AS sum_u
                  FROM cells GROUP BY 1, 2),
          m AS (SELECT cohort, period, sum_u // n AS mean_u FROM agg),
          p AS (SELECT
                  max(CASE WHEN cohort = 'T' AND period = 'pre'
                    THEN mean_u END) AS t_pre_u,
                  max(CASE WHEN cohort = 'T' AND period = 'post'
                    THEN mean_u END) AS t_post_u,
                  max(CASE WHEN cohort = 'C' AND period = 'pre'
                    THEN mean_u END) AS c_pre_u,
                  max(CASE WHEN cohort = 'C' AND period = 'post'
                    THEN mean_u END) AS c_post_u
                FROM m)
          SELECT CAST(t_pre_u AS BIGINT) AS t_pre_u,
                 CAST(t_post_u AS BIGINT) AS t_post_u,
                 CAST(c_pre_u AS BIGINT) AS c_pre_u,
                 CAST(c_post_u AS BIGINT) AS c_post_u,
                 CAST((t_post_u - t_pre_u) - (c_post_u - c_pre_u)
                   AS BIGINT) AS did_u
          FROM p""",

    "stats_benford" ->
      """WITH v AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
                    FROM lineitem),
           d AS (SELECT CAST(floor(v / power(10,
                          length(CAST(v AS VARCHAR)) - 1)) AS BIGINT) AS digit
                 FROM v),
           c AS (SELECT digit, count(*) AS cnt FROM d GROUP BY digit)
         SELECT digit, cnt,
                CAST(cnt * 10000 // (SELECT sum(cnt) FROM c) AS BIGINT)
                  AS obs_bp,
                CAST(floor(log10(1.0 + 1.0 / digit) * 10000) AS BIGINT)
                  AS benford_bp
         FROM c ORDER BY digit""",

    "events_twap" ->
      """WITH nxt AS (
           SELECT event_type, "value",
                  date_diff('second', ts,
                    lead(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id)) AS dur_sec
           FROM events)
         SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(dur_sec) AS BIGINT) AS held_sec,
                round(sum("value" * dur_sec) / sum(dur_sec), 4) AS twap
         FROM nxt WHERE dur_sec IS NOT NULL
         GROUP BY event_type ORDER BY event_type""",

    "cdc_scd2_intervals" ->
      """WITH marked AS (
           SELECT user_id, event_type, ts, event_id,
                  lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS prev_type
           FROM events),
           changes AS (
             SELECT user_id, event_type, ts, event_id FROM marked
             WHERE prev_type IS NULL OR prev_type <> event_type)
         SELECT user_id, event_type,
                CAST(row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS BIGINT)
                  AS version,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS from_sec,
                CAST(epoch(date_trunc('second',
                  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))
                  AS BIGINT) AS to_sec
         FROM changes ORDER BY user_id, version""",

    "stats_subsample_ci" ->
      """WITH li AS (SELECT l_orderkey::VARCHAR || '-' ||
                            l_linenumber::VARCHAR AS k,
                            CAST(round(l_extendedprice * 100) AS BIGINT)
                              AS cents
                     FROM lineitem),
          reps AS (SELECT b,
                          CAST((100 * sum(cents)) // count(*) AS BIGINT)
                            AS mean_cc
                   FROM (SELECT cents,
                                unnest(list_filter(range(0, 32),
                                  b -> substring(md5(k), b + 1, 1) < '8'))
                                  AS b
                         FROM li)
                   GROUP BY b),
          r AS (SELECT mean_cc,
                       row_number() OVER (ORDER BY mean_cc, b) AS rn
                FROM reps),
          t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST((100 * sum(cents)) // count(*) AS BIGINT)
                         AS mean_cc
                FROM li)
          SELECT t.n, t.mean_cc,
                 (SELECT mean_cc FROM r WHERE rn = 2) AS ci_lo_cc,
                 (SELECT mean_cc FROM r WHERE rn = 31) AS ci_hi_cc
          FROM t ORDER BY 1""",

    "events_forecast_naive" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                               count(*) AS cnt
                        FROM events GROUP BY 1, 2),
          p AS (SELECT event_type, cnt,
                       lag(cnt, 7) OVER (PARTITION BY event_type
                                         ORDER BY day) AS pred
                FROM daily),
          f AS (SELECT event_type,
                       CAST(count(*) AS BIGINT) AS n_days,
                       CAST(sum(abs(cnt - pred)) AS BIGINT) AS sum_abs_err,
                       CAST(sum(cnt) AS BIGINT) AS sum_actual
                FROM p WHERE pred IS NOT NULL GROUP BY event_type)
          SELECT event_type, n_days,
                 CAST((100 * sum_abs_err) // n_days AS BIGINT) AS mae_x100,
                 CAST((10000 * sum_abs_err) // sum_actual AS BIGINT)
                   AS wape_bp
          FROM f ORDER BY event_type""",

    "events_seasonality" ->
      """WITH cells AS (SELECT isodow(ts) AS dow, hour(ts) AS hr,
                               count(*) AS cnt
                        FROM events GROUP BY 1, 2),
          t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
                       CAST(count(*) AS BIGINT) AS n_cells FROM cells)
          SELECT CAST(dow AS BIGINT) AS dow, CAST(hr AS BIGINT) AS hr,
                 CAST(cnt AS BIGINT) AS cnt,
                 CAST((cnt * n_cells * 10000) // total AS BIGINT)
                   AS index_bp
          FROM cells CROSS JOIN t ORDER BY dow, hr""",

    "events_change_points" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
                        FROM events GROUP BY 1),
          t AS (SELECT CAST(sum(cnt) AS BIGINT) AS t,
                       CAST(count(*) AS BIGINT) AS n FROM daily)
          SELECT CAST(day AS VARCHAR) AS day, CAST(cnt AS BIGINT) AS cnt,
                 CAST(sum(cnt) OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   * t.n
                   - row_number() OVER (ORDER BY day) * t.t AS BIGINT)
                   AS cusum_scaled
          FROM daily CROSS JOIN t ORDER BY day""",

    "stats_ks_test" ->
      """WITH e AS (SELECT event_type = 'click' AS is_a,
                           CAST(round("value" * 100) AS BIGINT) AS cents
                    FROM events
                    WHERE event_type IN ('click', 'purchase')),
          h AS (SELECT cents,
                       sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS na,
                       sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS nb
                FROM e GROUP BY cents),
          t AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
                       CAST(sum(nb) AS BIGINT) AS tb FROM h),
          c AS (SELECT cents,
                       sum(na) OVER (ORDER BY cents
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS ca,
                       sum(nb) OVER (ORDER BY cents
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS cb
                FROM h),
          s AS (SELECT cents, abs(ca * tb - cb * ta) AS dnum
                FROM c CROSS JOIN t),
          d AS (SELECT CAST(max(dnum) AS BIGINT) AS dmax FROM s)
          SELECT ta AS n_a, tb AS n_b,
                 CAST((10000 * dmax) // (ta * tb) AS BIGINT) AS d_bp,
                 CAST((SELECT min(cents) FROM s WHERE s.dnum = d.dmax)
                   AS BIGINT) AS d_at_cents
          FROM d CROSS JOIN t ORDER BY n_a""",

    "events_cohort_ltv" ->
      """WITH fw AS (SELECT user_id,
                            CAST(min(date_trunc('week', ts)) AS DATE) AS cw
                     FROM events GROUP BY user_id),
          r AS (SELECT CAST(cw AS VARCHAR) AS cohort_week,
                       date_diff('day', cw,
                         CAST(date_trunc('week', ts) AS DATE)) // 7 AS age_w,
                       CAST(count(DISTINCT e.user_id) AS BIGINT) AS buyers,
                       CAST(sum(CAST(round("value" * 100) AS BIGINT))
                         AS BIGINT) AS rev_cents
                FROM events e JOIN fw ON e.user_id = fw.user_id
                WHERE event_type = 'purchase'
                GROUP BY 1, 2)
          SELECT cohort_week, CAST(age_w AS BIGINT) AS age_w, buyers,
                 rev_cents,
                 CAST(sum(rev_cents) OVER (PARTITION BY cohort_week
                   ORDER BY age_w ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS cum_cents
          FROM r ORDER BY cohort_week, age_w""",

    "stats_gini" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                               CAST(count(*) AS BIGINT) AS cnt
                        FROM events GROUP BY 1),
          r AS (SELECT cnt,
                       CAST(row_number() OVER (ORDER BY cnt, day)
                         AS BIGINT) AS i
                FROM daily),
          a AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                       CAST(sum(cnt) AS BIGINT) AS total,
                       CAST(sum(i * cnt) AS BIGINT) AS s
                FROM r)
          SELECT n_days, total,
                 CAST((10000 * (2*s - (n_days+1)*total))
                   // (n_days * total) AS BIGINT) AS gini_bp
          FROM a ORDER BY n_days""",

    "window_percent_rank" ->
      """WITH daily AS (
           SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                  user_id,
                  CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT)
                    AS cents
           FROM events GROUP BY 1, 2, 3)
         SELECT event_type, day, user_id, cents,
                round(percent_rank() OVER
                  (PARTITION BY event_type, day
                   ORDER BY cents, user_id), 6) AS pct_rank,
                round(cume_dist() OVER
                  (PARTITION BY event_type, day
                   ORDER BY cents, user_id), 6) AS cum_dist
         FROM daily ORDER BY event_type, day, user_id""",

    "events_regularity_audit" ->
      """WITH g AS (SELECT user_id,
                           date_diff('second',
                             lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id),
                             ts) AS g
                    FROM events),
          a AS (SELECT user_id, count(*) AS n_gaps,
                       CAST(sum(g) AS BIGINT) AS sg,
                       CAST(sum(g * g) AS BIGINT) AS sg2
                FROM g WHERE g IS NOT NULL GROUP BY user_id
                HAVING count(*) >= 5)
          SELECT user_id, n_gaps,
                 CAST(sg // n_gaps AS BIGINT) AS mean_gap_sec,
                 CAST((n_gaps * sg2 - sg * sg) // (n_gaps * n_gaps)
                   AS BIGINT) AS nvar
          FROM a ORDER BY nvar, user_id LIMIT 20""",

    "stats_mannwhitney_u" ->
      """WITH e AS (SELECT lang = 'en' AS is_a, n_chars
                    FROM documents WHERE lang IN ('en', 'de')),
          h AS (SELECT n_chars,
                       sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS na,
                       sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS nb
                FROM e GROUP BY n_chars),
          c AS (SELECT na, nb, na + nb AS t,
                       coalesce(sum(na + nb) OVER (ORDER BY n_chars
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS c
                FROM h),
          a AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
                       CAST(sum(nb) AS BIGINT) AS n_b,
                       CAST(sum(na * (2 * c + t + 1)) AS BIGINT) AS r1x2
                FROM c)
          SELECT n_a, n_b, r1x2,
                 CAST(r1x2 - n_a * (n_a + 1) AS BIGINT) AS u1x2,
                 CAST(2 * n_a * n_b - (r1x2 - n_a * (n_a + 1)) AS BIGINT)
                   AS u2x2
          FROM a ORDER BY n_a""",

    "stats_winsorized_mean" ->
      """WITH h AS (SELECT source, n_chars, count(*) AS cnt
                    FROM documents GROUP BY 1, 2),
          c AS (SELECT source, n_chars, cnt,
                       sum(cnt) OVER (PARTITION BY source ORDER BY n_chars
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS cum,
                       sum(cnt) OVER (PARTITION BY source) AS n
                FROM h),
          thr AS (SELECT source, CAST(n AS BIGINT) AS n,
                         CAST(min(CASE WHEN cum >= (n + 19) // 20
                                       THEN n_chars END) AS BIGINT) AS lo,
                         CAST(min(CASE WHEN cum >= (19 * n + 19) // 20
                                       THEN n_chars END) AS BIGINT) AS hi
                  FROM c GROUP BY source, n)
          SELECT h.source, thr.n AS n_docs, lo, hi,
                 CAST((100 * sum(least(greatest(n_chars, lo), hi) * cnt))
                   // thr.n AS BIGINT) AS wmean_cc
          FROM h JOIN thr ON h.source = thr.source
          GROUP BY h.source, thr.n, lo, hi
          ORDER BY h.source""",
  )
}
