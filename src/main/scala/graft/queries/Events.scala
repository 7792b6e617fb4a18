package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/** Event-stream operators over `events` in batch form, shaped so the same
  * plans lift to Structured Streaming (`graft.streaming`): JSON extraction,
  * event-time tumbling windows, sessionization by inactivity gap.
  */
object Events {

  /** Hourly calendar spine of `events`: one `hour_ts` row per hour from
    * the hour of the first event to the hour of the last. A 1-row
    * aggregate is exploded, so the spine's length is the TIME RANGE,
    * independent of event volume. `extra` columns may read the bounds
    * `h0`/`h1`; each caller joins its own panel onto the spine.
    */
  private def hourSpine(e: DataFrame, extra: Column*): DataFrame =
    e.agg(
        date_trunc("HOUR", min(col("ts"))).as("h0"),
        date_trunc("HOUR", max(col("ts"))).as("h1"))
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour_ts")
        +: extra: _*)

  /** The gap-filled (type × hour) panel over [[hourSpine]]: every hour
    * crossed with every event type, `c` = that hour's event count, 0
    * where none, plus the `extra` columns (which may read `hour_ts`). Its
    * SQL twin is [[hourlyPanelSql]].
    */
  private def hourlyPanel(e: DataFrame, extra: Column*): DataFrame = {
    val hourly = e
      .groupBy(date_trunc("HOUR", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    hourSpine(e)
      .crossJoin(e.select("event_type").distinct())
      .join(hourly, Seq("hour_ts", "event_type"), "left")
      .select(Seq(col("hour_ts"), col("event_type"),
        coalesce(col("c"), lit(0L)).as("c")) ++ extra: _*)
  }

  val queries: Map[String, Q] = Map(
    // JSON extraction from the props column (get_json_object ~ E-extension).
    "e_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")),

    // Event-time tumbling window (1 hour) — date_trunc form matches the
    // streaming window(ts, "1 hour") semantics on hour boundaries.
    "e_hourly_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("HOUR", col("ts")).as("hour_ts"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
        .orderBy("hour_ts", "event_type")),

    // Sessionization: new session when gap from previous event > 30 min;
    // per-user session counts. Window lag + running conditional sum.
    "e_sessionize" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull, 1)
            .when(unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1)
            .otherwise(0))
        .groupBy("user_id")
        .agg(sum("new_session").cast("bigint").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // Batch form of the STREAMING interval join (EventStreams.clickToPurchase
    // — the same function, same plan shape) so stream-plan parity is
    // hash-checked against DuckDB, not just spec-checked: purchases
    // attributed to same-user clicks within the preceding hour, aggregated
    // per user. Gap arithmetic is exact microseconds on both sides.
    "e_click_attrib" -> ((s, d) =>
      graft.streaming.EventStreams.clickToPurchase(Tables.events(s, d))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct("purchase_id").as("n_purchases"),
          round(sum("value"), 2).as("attributed_value"),
          max(unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("max_gap_us"))
        .orderBy("user_id")),

    // Daily top event type by count (window over aggregate).
    "e_daily_top_type" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("day").orderBy(col("cnt").desc, col("event_type"))
      daily.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("day", "event_type", "cnt")
        .orderBy("day")
    }),

    // Conversion funnel view → click → purchase: ONE conditional-min
    // aggregation per user computes every stage timestamp (no per-stage
    // join), then a single global roll-up counts strictly-ordered
    // completions. Stage comparisons are exact microseconds on both
    // engines (events.ts is ns in parquet; Spark truncates to µs, so the
    // oracle must compare in the µs domain too, not raw ns).
    "e_funnel" -> ((s, d) => {
      val stages = Tables.events(s, d).groupBy("user_id").agg(
        min(when(col("event_type") === "view", unix_micros(col("ts")))).as("t_view"),
        min(when(col("event_type") === "click", unix_micros(col("ts")))).as("t_click"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("t_purchase"))
      stages.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).cast("bigint").as("n_view"),
        sum(when(col("t_view").isNotNull && col("t_click") > col("t_view"), 1L)
          .otherwise(0L)).cast("bigint").as("n_view_click"),
        sum(when(col("t_view").isNotNull && col("t_click") > col("t_view") &&
            col("t_purchase") > col("t_click"), 1L)
          .otherwise(0L)).cast("bigint").as("n_full_funnel"))
        .select(col("n_users"), col("n_view"), col("n_view_click"), col("n_full_funnel"),
          round(col("n_full_funnel").cast("double") /
            nullif(col("n_view").cast("double"), lit(0.0)), 6).as("conv_rate"))
    }),

    // Cohort retention: day-offset activity counts relative to each user's
    // first-seen day. Two aggregations — per-user first day and distinct
    // (user, day) activity — so the fact stream is scanned once and never
    // self-joined row-to-row. The join is UNHINTED: first-day cardinality
    // is the USER count, which grows with the stream, so the planner must
    // be free to shuffle both sides on user_id at scale (AQE broadcasts
    // it at test SFs where it is small — asserted on the executed plan).
    "e_cohort_retention" -> ((s, d) => {
      val e = Tables.events(s, d)
      val firstDay = e.groupBy("user_id").agg(min(to_date(col("ts"))).as("first_day"))
      val active = e.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      active.join(firstDay, "user_id")
        .select(datediff(col("day"), col("first_day")).cast("bigint").as("day_offset"))
        .groupBy("day_offset")
        .agg(count(lit(1)).as("n_user_days"))
        .orderBy("day_offset")
    }),

    // Z-score anomaly detection on event values: per-type mean/stddev (one
    // tiny aggregate, broadcast back), flag |z| > 3. The mean/stddev are
    // order-dependent double aggregates, so z is rounded to 6 dp on BOTH
    // engines before the threshold test and the max — the same
    // boundary-absorbing discipline as the kmeans/IVF argmaxes. sd = 0
    // (constant-valued group) divides by nullif(sd, 0) on BOTH engines:
    // Spark's double x/0 yields NaN/±Inf and NaN sorts ABOVE every number
    // (so abs(z) > 3 would flag every row), while DuckDB diverges — NULL
    // z-scores are absorbed identically by both aggregates instead.
    "e_anomaly" -> ((s, d) => {
      val e = Tables.events(s, d)
      val stats = e.groupBy("event_type")
        .agg(avg("value").as("mu"), stddev_samp("value").as("sd"))
      e.join(broadcast(stats), "event_type")
        .select(col("event_type"),
          round((col("value") - col("mu")) / nullif(col("sd"), lit(0)), 6).as("z6"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"),
          sum(when(abs(col("z6")) > 3, 1L).otherwise(0L)).cast("bigint").as("n_anom"),
          round(max(abs(col("z6"))), 3).as("max_abs_z"))
        .orderBy("event_type")
    }),

    // Time-series gap filling: generate the complete hourly spine between
    // the stream's bounds (a 1-row aggregate exploded into the spine —
    // spine length is the TIME RANGE, independent of data volume) and
    // left-join sparse per-hour counts onto it, zero-filling the gaps.
    // Here the sparse series is 'error' events, which do skip hours.
    "e_gap_fill" -> ((s, d) => {
      val e = Tables.events(s, d)
      val hourly = e.filter(col("event_type") === "error")
        .groupBy(date_trunc("HOUR", col("ts")).as("hour_ts"))
        .agg(count(lit(1)).as("n_err"))
      val spine = hourSpine(e)
      spine.join(hourly, Seq("hour_ts"), "left")
        .select(col("hour_ts"),
          coalesce(col("n_err"), lit(0L)).as("n_err"),
          col("n_err").isNull.as("was_gap"))
        .orderBy("hour_ts")
    }),

    // Markov transition matrix over the per-user event stream: lag() gives
    // the previous event type, then one partial-agg'd groupBy over at most
    // |types|² = 25 pairs plus a window over those 25 rows for the
    // row-normalized transition probability. The lag window partitions by
    // user_id (per-user event counts are bounded, never a global sort);
    // probabilities are bigint/bigint → double on both engines, rounded to
    // 6 dp for hash stability.
    "e_transition_matrix" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p",
          round(col("n") / sum("n").over(Window.partitionBy("prev_type")), 6))
        .orderBy("prev_type", "next_type")
    }),

    // Batch form of the streaming dedup-within-watermark: keep the FIRST
    // event per (user_id, event_type) inside each 10-minute tumbling
    // window, report kept/dropped per type. The window id is integer
    // microsecond arithmetic (floor(unix_micros/6e8)) so both engines
    // bucket identically; row_number partitions by the dedup key — at
    // 100 TB that's one shuffle on a high-cardinality composite key with
    // bounded per-partition sort runs.
    "e_dedup_window" -> ((s, d) => {
      val winId = floor(unix_micros(col("ts")) / lit(600000000L)).cast("bigint")
      val w = Window.partitionBy(col("user_id"), col("event_type"), col("win_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("win_id", winId)
        .withColumn("rn", row_number().over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).cast("bigint").as("n_kept"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).cast("bigint").as("n_dupes"))
        .orderBy("event_type")
    }),

    // Out-of-orderness profile — the measurement that PICKS a streaming
    // watermark delay: an event is late by (event-time high-water mark at
    // its arrival) − (its own event time). The corpus records no arrival
    // time (events are perfectly ordered), so arrival order is simulated
    // by a DETERMINISTIC hash permutation of event_id (md5 — same bytes
    // both engines, the c_hash_sample discipline), which models uniform
    // network jitter. Running max over each user's arrival sequence
    // (bounded partitions, never global), then exact per-type lateness
    // percentiles — Spark `percentile` ≡ DuckDB `quantile_cont`, the
    // q_percentile parity.
    "e_lateness_profile" -> ((s, d) => {
      val arrOrd = md5(col("event_id").cast("string"))
      val wPrev = Window.partitionBy("user_id").orderBy(arrOrd, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("tsus", unix_micros(col("ts")))
        .withColumn("hwm", max("tsus").over(wPrev))
        .filter(col("hwm").isNotNull)
        .withColumn("late_us", greatest(lit(0L), col("hwm") - col("tsus")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("late_us") > 0, 1L).otherwise(0L)).cast("bigint").as("n_late"),
          round(expr("percentile(late_us, 0.5)"), 1).as("p50_late_us"),
          round(expr("percentile(late_us, 0.95)"), 1).as("p95_late_us"),
          max("late_us").as("max_late_us"))
        .orderBy("event_type")
    }),

    // Top event-type trigram paths — the product-analytics "common
    // journeys" query: two lags over each user's stream (one window, both
    // offsets share the sort), concat to a path key, partial-agg'd count,
    // top-10 via TakeOrdered (never a global sort of the path space —
    // |types|³ = 125 keys here, but real property paths are unbounded).
    "e_path_trigrams" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("e2", lag("event_type", 1).over(w))
        .withColumn("e1", lag("event_type", 2).over(w))
        .filter(col("e1").isNotNull)
        .select(concat_ws(">", col("e1"), col("e2"), col("event_type")).as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(10)
    }),

    // Linear multi-touch attribution — each purchase's value splits
    // EQUALLY across the same-user clicks in its preceding hour (the
    // last-touch form is e_click_attrib; this is the fairness variant).
    // Reuses the STREAMING interval-join plan (clickToPurchase — same
    // function, same shape); the touch count per purchase is a window
    // partitioned by purchase_id (high-cardinality, bounded per key).
    "e_multi_touch" -> ((s, d) => {
      val pairs = graft.streaming.EventStreams.clickToPurchase(Tables.events(s, d))
      val w = Window.partitionBy("purchase_id")
      pairs
        .withColumn("n_touch", count(lit(1)).over(w))
        .select(col("user_id"), col("click_id"),
          round(col("value") / col("n_touch"), 6).as("credit"))
        .groupBy("user_id")
        .agg(countDistinct("click_id").as("n_credited_clicks"),
          round(sum("credit"), 4).as("attributed_value"))
        .orderBy("user_id")
    }),

    // Time-decay attribution — the classic recency-weighted multi-touch
    // model (completes the attribution family: first/last/linear/U-shape/
    // Markov/Shapley). Each click preceding a purchase gets weight
    // 2^-floor(Δt / 10min); with the 1-hour pairing window the exponent is
    // 0..6, so every weight is an EXACT binary double (1 … 1/64) — window
    // sums of such weights are exact (multiples of 1/64, far inside the
    // 53-bit mantissa), making the per-purchase normalization
    // order-independent with NO transcendentals and NO rounding tricks
    // (the e_ewma exact-binary-weights discipline). Credited value goes
    // through the decimal money-sum discipline (order-independent).
    "e_time_decay_attrib" -> ((s, d) => {
      val pairs = graft.streaming.EventStreams.clickToPurchase(Tables.events(s, d))
      val w = Window.partitionBy("purchase_id")
      pairs
        .withColumn("bucket",
          expr("(unix_micros(purchase_ts) - unix_micros(click_ts)) div 600000000"))
        .withColumn("wt",
          expr("1.0D / cast(shiftleft(1, cast(bucket as int)) as double)"))
        .withColumn("credit", col("wt") / sum("wt").over(w))
        .select(col("user_id"), col("click_id"),
          round(col("credit") * col("value"), 6).cast("decimal(18,6)").as("cv"))
        .groupBy("user_id")
        .agg(countDistinct("click_id").as("n_credited_clicks"),
          round(sum("cv").cast("double"), 4).as("attributed_value"))
        .orderBy("user_id")
    }),

    // Exponentially-weighted moving average over the gap-filled hourly
    // error series (the smoothed form of e_gap_fill, as an alerting
    // baseline would consume it). True EWMA is a recurrence; this is the
    // TRUNCATED 8-tap form — weights 0.5^j, j=0..7, renormalized — which
    // is expressible as a fixed lag kernel on BOTH engines with a
    // deterministic left-to-right fold (no order-dependent aggregation at
    // all: every term is a window lag, so the result is bit-stable before
    // the 6-dp round). Rows before a full kernel are dropped rather than
    // partially renormalized. The un-partitioned window sorts the SPINE,
    // whose length is the time range (e_gap_fill's argument), independent
    // of event volume — bounded at any data scale.
    "e_ewma" -> ((s, d) => {
      val e = Tables.events(s, d)
      val hourly = e.filter(col("event_type") === "error")
        .groupBy(date_trunc("HOUR", col("ts")).as("hour_ts"))
        .agg(count(lit(1)).as("n_err"))
      val spine = hourSpine(e)
      val filled = spine.join(hourly, Seq("hour_ts"), "left")
        .select(col("hour_ts"), coalesce(col("n_err"), lit(0L)).as("v"))
      val w = Window.orderBy("hour_ts")
      // exact binary weights: 1, 0.5, ..., 0.0078125; norm = 1.9921875
      val taps = (0 until 8).map { j =>
        (if (j == 0) col("v") else lag(col("v"), j).over(w)) * lit(math.pow(0.5, j))
      }
      filled
        .withColumn("v7", lag(col("v"), 7).over(w))
        .withColumn("ewma", round(taps.reduce(_ + _) / lit(1.9921875), 6))
        .filter(col("v7").isNotNull)
        .select(col("hour_ts"), col("v").as("n_err"), col("ewma"))
        .orderBy("hour_ts")
    }),

    // PageRank over the event-type transition graph — the iterative
    // power-method shape (the d_dup_clusters/s_kmeans family) expressed
    // entirely as joins, with a DuckDB oracle (3 unrolled iterations in
    // CTEs). The scale split: edge extraction scans the full stream (lag
    // window over bounded per-user partitions, one partial-agg'd groupBy —
    // the e_transition_matrix stage), while the iteration runs on the
    // aggregated GRAPH, whose size is |types|², independent of stream
    // volume. Damping 0.85; nodes with no inbound edges get the teleport
    // floor via the left join + coalesce. Only the FINAL rank is rounded
    // (6 dp); intermediates stay raw so both engines walk the same
    // trajectory.
    "e_pagerank" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val ev = Tables.events(s, d)
      // ONE stream-sized pass: the lag window + a (src, dst) count whose
      // null-src groups retain each user's FIRST event, so the aggregate
      // carries BOTH the edge list and the full node vocabulary (distinct
      // dst over all groups). The aggregate is |types|²-bounded at any
      // data volume, so collecting it is a bounded scalar extract — the
      // Markov precedent (e_markov_attribution above): the previous
      // all-DataFrame power method scheduled ~9 tiny stages over <20-row
      // graphs and needed a persist + a SECOND stream scan for the node
      // set; driver-side iteration eliminates both. Only the final rank
      // is rounded (6 dp, HALF_UP = Spark round), matching the oracle's
      // raw-intermediate trajectory.
      val cells = ev
        .withColumn("src", lag("event_type", 1).over(w))
        .groupBy(col("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r0 => (Option(r0.getString(0)), r0.getString(1), r0.getLong(2)))
      // fail-fast vocabulary guard (the e_shapley discipline): the
      // driver-side iteration is licensed by the |types|² bound, so
      // enforce it rather than assume it — a grown event_type vocabulary
      // must error loudly, not silently materialize a large graph here
      require(cells.length <= 4160, // 64 types: 64² edges + 64 null-src groups
        s"e_pagerank: (src,dst) aggregate has ${cells.length} cells; the " +
          "bounded-scalar-extract contract assumes an event_type " +
          "vocabulary of at most 64 — use a distributed power method " +
          "for larger vocabularies")
      val nodes = cells.map(_._2).distinct.sorted
      val edges = cells.collect { case (Some(src), dst, n) => (src, dst, n) }
      val tot = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
      val p = edges.map { case (src, dst, n) => (src, dst, n.toDouble / tot(src)) }
      val nn = nodes.length.toDouble
      var r: Map[String, Double] = nodes.map(v => v -> 1.0 / nn).toMap
      for (_ <- 1 to 3) {
        // deterministic (sorted-src) addition order per dst
        val inr = p.groupBy(_._2).map { case (dst, v) =>
          dst -> v.sortBy(_._1).map(t => t._3 * r(t._1)).sum
        }
        r = nodes.map(v => v -> (0.15 / nn + 0.85 * inr.getOrElse(v, 0.0))).toMap
      }
      val rows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
      nodes.foreach { v =>
        rows.add(org.apache.spark.sql.Row(v,
          BigDecimal(r(v)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
      import org.apache.spark.sql.types._
      s.createDataFrame(rows, StructType(Seq(
        StructField("event_type", StringType, nullable = true),
        StructField("pagerank", DoubleType, nullable = true))))
    }),

    // Sliding-rate detector — each event annotated with the count of
    // same-user events in its trailing 24 h (a RANGE frame over exact µs,
    // the rate-limit / burst-abuse primitive; the ROWS-frame cousin is
    // e_lateness_profile). RANGE frames include peers (identical ties
    // semantics on both engines, exact integer order key). Per-user
    // partitions are bounded; the roll-up is one partial-agg'd groupBy.
    // Threshold 5-in-24h flags the bursty tail of the synthetic stream.
    "e_rate_window" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("tsus"))
        .rangeBetween(-86400000000L, 0)
      Tables.events(s, d)
        .withColumn("tsus", unix_micros(col("ts")))
        .withColumn("c24", count(lit(1)).over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          max("c24").as("max_c24"),
          round(avg("c24"), 4).as("avg_c24"),
          sum(when(col("c24") >= 5, 1L).otherwise(0L)).cast("bigint").as("n_flagged"))
        .orderBy("event_type")
    }),

    // Session DURATION statistics — the dwell-time report e_sessionize
    // stops short of: the same gap>30min session-break flag, turned into a
    // session id by a running sum over each user's stream (two window
    // passes over the SAME partitioning+sort — one shuffle, Spark reuses
    // the sorted partition), then per-session spans and exact global
    // percentiles (`percentile` ≡ `quantile_cont`, the q_percentile
    // parity). Only multi-event sessions have nonzero span; singletons are
    // reported separately rather than dragging the median to 0.
    "e_session_stats" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val sess = Tables.events(s, d)
        .withColumn("tsus", unix_micros(col("ts")))
        .withColumn("prev_ts", lag("tsus", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull, 1)
            .when(col("tsus") - col("prev_ts") > 1800L * 1000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum("new_session").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (max("tsus") - min("tsus")).as("dur_us"))
      sess.agg(
        count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).cast("bigint").as("n_singleton"),
        round(avg("n_events"), 4).as("avg_events"),
        round(expr("percentile(dur_us, 0.5)"), 1).as("p50_dur_us"),
        round(expr("percentile(dur_us, 0.95)"), 1).as("p95_dur_us"),
        max("dur_us").as("max_dur_us"))
    }),

    // Two-proportion z-test — the A/B readout: users split by id parity
    // (the deterministic stand-in for an assignment column), conversion =
    // purchase share above 20% of the user's events (an "any purchase"
    // flag saturates — every synthetic user buys eventually — giving the
    // degenerate p=1 pool whose zero variance divides by zero under ANSI),
    // pooled-variance z on the rate difference. One per-user aggregate
    // (single shuffle on user_id), then a 1-row conditional roll-up; the z
    // statistic is one fixed-order double expression over exact integer
    // counts, rounded to 4 dp BEFORE the 1.96 significance threshold
    // (boundary-absorbing, the e_anomaly discipline). nullif guards the
    // degenerate all-convert/none-convert pool: z comes back NULL instead
    // of an ANSI divide-by-zero.
    "e_ab_test" -> ((s, d) => {
      val per = Tables.events(s, d).groupBy("user_id")
        .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) /
          count(lit(1)) > 0.2).cast("int").as("conv"))
        .withColumn("variant", pmod(col("user_id"), lit(2)))
      val g = per.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).cast("bigint").as("n0"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L)).cast("bigint").as("k0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).cast("bigint").as("n1"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0L)).cast("bigint").as("k1"))
      g.select(col("n0"), col("k0"), col("n1"), col("k1"),
          round(col("k0") / col("n0"), 6).as("p0"),
          round(col("k1") / col("n1"), 6).as("p1"),
          round((col("k1") / col("n1") - col("k0") / col("n0")) /
            nullif(sqrt(((col("k0") + col("k1")) / (col("n0") + col("n1"))) *
              (lit(1.0) - (col("k0") + col("k1")) / (col("n0") + col("n1"))) *
              (lit(1.0) / col("n0") + lit(1.0) / col("n1"))), lit(0.0)), 4).as("z"))
        .withColumn("significant", abs(col("z")) > 1.96)
    }),

    // Chi-square independence test — is event type independent of weekday?
    // The contingency table is |types| × 7 (bounded however large the
    // stream), built by ONE partial-agg'd groupBy over the scan — the only
    // pass over the stream. Margins, the grand total, the df dims, and the
    // statistic all derive from the 35-row AGGREGATE via window sums and
    // one final countDistinct roll-up (a join-back formulation re-executes
    // the cell subplan once per margin — measured 12 stream scans before
    // this shape). The empty-partition windows are SinglePartition over
    // the bounded cell table, never the stream. Margins cast to double
    // BEFORE multiplying: a long rt·ct product overflows at data scale.
    // Weekday numbering differs across engines (Spark 1–7 Sunday-first,
    // DuckDB 0–6) but is a private grouping key — any bijective labeling
    // partitions rows identically, and the statistic is label-invariant;
    // only label-free totals are output. The 35-term sum is rounded to
    // 3 dp (summation order).
    "e_chi_square" -> ((s, d) => {
      val cell = Tables.events(s, d)
        .select(dayofweek(col("ts")).as("dw"), col("event_type"))
        .groupBy("dw", "event_type")
        .agg(count(lit(1)).as("o"))
      // the windows (incl. the global partitionBy()) run over the
      // CONTINGENCY TABLE — 7 weekdays × the event-type vocabulary, a
      // panel whose size is volume-invariant (pinned in WindowBoundSpec)
      val m = cell
        .withColumn("rt", sum("o").over(Window.partitionBy("dw")).cast("double"))
        .withColumn("ct", sum("o").over(Window.partitionBy("event_type")).cast("double"))
        .withColumn("n", sum("o").over(Window.partitionBy()).cast("double"))
      m.select(col("dw"), col("event_type"),
          ((col("o") - col("rt") * col("ct") / col("n")) *
            (col("o") - col("rt") * col("ct") / col("n")) /
            (col("rt") * col("ct") / col("n"))).as("term"))
        .agg(count(lit(1)).as("n_cells"),
          ((countDistinct("dw") - 1) * (countDistinct("event_type") - 1)).as("df"),
          round(sum("term"), 3).as("chi2"))
    }),

    // Robust dispersion statistics — per-type median + MAD (median absolute
    // deviation) and a robust-z outlier count, the heavy-tail-safe cousin
    // of e_anomaly (whose mean/stddev a single spike drags). Exact
    // percentiles are order statistics (no summation-order hazard —
    // `percentile` ≡ `quantile_cont` interpolation on identical sorted
    // data); both tiny per-type aggregates broadcast back onto the stream,
    // which is scanned twice but shuffled only on the bounded type key.
    // The robust z is rounded to 6 dp before the 3.5 threshold; MAD = 0
    // groups get NULL z via nullif (absorbed identically, e_anomaly).
    "e_robust_stats" -> ((s, d) => {
      val e = Tables.events(s, d)
      val med = e.groupBy("event_type").agg(expr("percentile(value, 0.5)").as("med"))
      val dev = e.join(broadcast(med), "event_type")
        .select(col("event_type"), col("value"), col("med"),
          abs(col("value") - col("med")).as("ad"))
      val mad = dev.groupBy("event_type").agg(expr("percentile(ad, 0.5)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .select(col("event_type"), col("med"), col("mad"),
          round(col("ad") / (lit(1.4826) * nullif(col("mad"), lit(0))), 6).as("rz6"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(max(col("med")), 4).as("median"),
          round(max(col("mad")), 4).as("mad"),
          sum(when(col("rz6") > 3.5, 1L).otherwise(0L)).cast("bigint").as("n_outliers"))
        .orderBy("event_type")
    }),

    // Time-to-conversion distribution — each user's delay from FIRST view
    // to the first purchase strictly after it, summarized as exact
    // percentiles. ONE conditional-min aggregation per user computes both
    // anchors (the e_funnel trick — no self-join): min view time
    // unconditionally, and min purchase-after-view via a conditional on
    // the per-user running comparison — expressed as min(purchase ts) >
    // t_view in a second conditional using the already-grouped values.
    // Exact µs arithmetic end to end; `percentile` ≡ `quantile_cont`.
    "e_conversion_lag" -> ((s, d) => {
      val per = Tables.events(s, d).groupBy("user_id").agg(
        min(when(col("event_type") === "view", unix_micros(col("ts")))).as("t_view"),
        collect_list(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("purchases"))
      per
        .filter(col("t_view").isNotNull)
        .select(col("user_id"),
          expr("array_min(filter(purchases, p -> p > t_view))").as("t_conv"),
          col("t_view"))
        .withColumn("lag_us", col("t_conv") - col("t_view"))
        .agg(count(lit(1)).as("n_viewers"),
          count(col("lag_us")).as("n_converted"),
          round(expr("percentile(lag_us, 0.5)"), 1).as("p50_lag_us"),
          round(expr("percentile(lag_us, 0.9)"), 1).as("p90_lag_us"),
          max("lag_us").as("max_lag_us"))
    }),

    // Cumulative distinct users by day — the growth-curve query. A naive
    // COUNT(DISTINCT) OVER a running frame doesn't exist in Spark (and
    // would hold per-day distinct state everywhere it does); the scalable
    // rewrite is FIRST-TOUCH: each user contributes once, on their first
    // day (one shuffle on user_id), daily new-user counts join onto the
    // calendar spine (zero-filled), and a running sum over the
    // CALENDAR-BOUNDED spine — the e_gap_fill argument — turns increments
    // into the cumulative census.
    "e_cumulative_users" -> ((s, d) => {
      val e = Tables.events(s, d)
      val firstDay = e.groupBy("user_id").agg(min(to_date(col("ts"))).as("day"))
      val newDaily = firstDay.groupBy("day").agg(count(lit(1)).as("n_new"))
      val spine = e.agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      spine.join(newDaily, Seq("day"), "left")
        .select(col("day"), coalesce(col("n_new"), lit(0L)).as("n_new"))
        .withColumn("cum_users", sum("n_new").over(
          Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("day")
    }),

    // Rolling 7-day active users (WAU) by day, EXACTLY — a rolling
    // COUNT(DISTINCT) window doesn't exist in Spark, and approximations
    // (HLL merge) trade accuracy; the scalable exact rewrite is the
    // CONTRIBUTION EXPLODE: each (user, active-day) pair contributes to
    // the 7 window-END days it falls inside, distinct (user, end-day)
    // collapses multi-day activity inside one window, and a count per end
    // day reads off WAU. Fan-out is a fixed ×7 on the already-distinct
    // user-day stream — bounded, shuffle-friendly, no quadratic anything.
    // DAU joins from the same user-day stream for contrast.
    "e_rolling_wau" -> ((s, d) => {
      val e = Tables.events(s, d)
      val userDays = e.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val dau = userDays.groupBy("day").agg(count(lit(1)).as("dau"))
      val bounds = e.agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      val wau = userDays
        .select(col("user_id"),
          explode(expr("sequence(day, date_add(day, 6), interval 1 day)")).as("wday"))
        .distinct()
        .crossJoin(broadcast(bounds))
        .filter(col("wday") <= col("d1"))
        .groupBy(col("wday").as("day")).agg(count(lit(1)).as("wau_7d"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau_7d"))
        .orderBy("day")
    }),

    // Rolling 7-day distinct users by MERGEABLE SKETCH — the production
    // answer to e_rolling_wau's exact contribution-explode once per-day
    // uniques outgrow it: each day builds a bottom-k KMV sketch of its
    // user-hash set (k smallest md5-48 draws), and any trailing window is
    // answered by MERGING the ≤ 7 day sketches (theta-sketch union:
    // theta = min of day thetas, estimate = |merged hashes < theta| ·
    // 2⁴⁸ / theta — exact automatically whenever no sketch was full).
    // This is the Druid/ClickHouse rolling-uniques shape: day sketches are
    // tiny, reusable for ANY window length, and the merge never touches
    // the raw stream again. Both engines replay the identical integer
    // draw, so estimate AND referee are hash-oracled.
    //
    // Scale shape: the per-day bottom-k runs behind the q_quantile_sketch
    // integer theta PRE-filter (expected 4k survivors/day, so the rank
    // window input is O(k) — WindowBoundSpec-guarded — never the day's
    // distinct-user volume); the merge window is a calendar-bounded global
    // range frame over ≤ #days sketch rows. Estimator ACCURACY vs the
    // exact e_rolling_wau contribution-explode referee (with the 3σ
    // tolerance column) is SketchRefereeSpec's assert — in-span through
    // round 13; the entry now measures the production sketch path alone.
    "e_kmv_rolling_du" -> ((s, d) => {
      val P = 281474976710656L // 2^48, the md5-48 draw space
      // k = 64 so the estimator path (full sketches, theta < 2^48) engages
      // already at the correctness-gate SFs; rsd ~ 1/sqrt(k-2) ~ 12.7%
      val k = 64
      val e = Tables.events(s, d)
      val dh = e.select(to_date(col("ts")).as("day"),
          conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
            .cast("bigint").as("h")).distinct()
      val dayN = dh.groupBy("day").agg(count(lit(1)).as("n_day"))
        .select(col("day"),
          least(lit(P), expr(s"(${4L * k}L * ${P}L) div n_day")).as("pre"))
      val wd = Window.partitionBy("day").orderBy("h")
      val daySk = dh.join(broadcast(dayN), "day")
        .filter(col("h") < col("pre"))
        .withColumn("rn", row_number().over(wd)).filter(col("rn") <= k)
        .groupBy("day")
        .agg(sort_array(collect_list("h")).as("hs"),
          count(lit(1)).as("cnt"), max("pre").as("pre"))
        .select(col("day"), col("hs"),
          when(col("cnt") === k, element_at(col("hs"), k))
            .otherwise(col("pre")).as("theta_d"))
      // trailing 7 CALENDAR days: integer-day range frame, ≤ #days rows
      val wm = Window.orderBy(expr("datediff(day, DATE '1970-01-01')"))
        .rangeBetween(-6, 0)
      daySk
        .withColumn("mh", flatten(collect_list("hs").over(wm)))
        .withColumn("theta", min("theta_d").over(wm))
        .select(col("day"),
          expr(s"(size(filter(array_distinct(mh), x -> x < theta)) * ${P}L) div theta")
            .as("est_du"))
        .orderBy("day")
    }),

    // Rolling EXACT percentiles (p50/p95 of hourly event counts over the
    // trailing 24 h, per type) — the rolling-latency-percentile shape every
    // ops dashboard runs. Spark has no percentile window function; the
    // exact rewrite for a FIXED-width window is collect_list over the
    // 24-row frame + array_sort + positional pick — per-row state is
    // bounded by the window width (24 longs), NOT the stream, so the
    // rewrite scales with the panel (types × calendar hours), never the
    // event volume. Windows partition by type over the gap-filled panel
    // (the e_forecast_baseline spine discipline: missing hours count 0 and
    // the frame is always 24 REAL hours); only full windows are reported.
    // Integer counts → positional picks are exact on both engines.
    "e_moving_percentile" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("hour_ts")
        .rowsBetween(-23, 0)
      hourlyPanel(Tables.events(s, d))
        .withColumn("win", array_sort(collect_list("c").over(w)))
        .filter(size(col("win")) === 24)
        // ceil(0.5·24) = 12, ceil(0.95·24) = 23 — fixed 1-based positions
        .select(col("hour_ts"), col("event_type"),
          element_at(col("win"), 12).as("p50"),
          element_at(col("win"), 23).as("p95"))
        .orderBy("hour_ts", "event_type")
    }),

    // Seasonal-naive forecast evaluation — predict each hour's per-type
    // count by the count 24 h earlier, score with MAPE and mean bias: the
    // baseline every real forecaster must beat, and the cheapest anomaly
    // context after e_ewma. The gap-filled (type × hour) panel comes from
    // the e_gap_fill spine crossed with the BOUNDED type set; the 24-tap
    // lag partitions by type over the calendar-bounded panel. Zero-actual
    // hours get NULL APE via nullif (absorbed identically by both
    // engines' avg — the e_anomaly discipline); MAPE/bias round their
    // order-dependent averages.
    "e_forecast_baseline" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("hour_ts")
      hourlyPanel(Tables.events(s, d))
        .withColumn("pred", lag("c", 24).over(w))
        .filter(col("pred").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"),
          round(avg(abs(col("c") - col("pred")) / nullif(col("c"), lit(0))), 6).as("mape"),
          round(avg(col("c") - col("pred")), 4).as("bias"))
        .orderBy("event_type")
    }),

    // Kaplan–Meier survival of time-to-first-purchase, with censoring —
    // the estimator behind every retention/conversion curve that must not
    // pretend non-converters converted. Per-user duration in whole days
    // from first event to first purchase (censored at last observed event
    // otherwise) is ONE groupBy over the stream; the life table is a
    // second bounded aggregate; at-risk counts and the survival product
    // are windows over the DAY-GRAINED life table — calendar-bounded by
    // the observation horizon, so the SinglePartition window is fine at
    // any stream size (the e_cumulative_users argument). Cross-engine
    // determinism: the product Π(1 − dᵢ/nᵢ) is exp of a running sum of
    // per-row ln factors rounded to 9 dp and summed as DECIMAL — exact
    // and order-independent (the money-sum discipline); the d=n terminal
    // row (everyone remaining converts) short-circuits to 0 via an
    // integer flag instead of ln(0), which the engines disagree on.
    "e_survival_km" -> ((s, d) => {
      val per = Tables.events(s, d).groupBy("user_id").agg(
        min(unix_micros(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("tp"),
        max(unix_micros(col("ts"))).as("tmax"))
      val durs = per.select(
        // integer µs→day division (`div` ≡ DuckDB `//`) — no double detour
        when(col("tp").isNotNull, expr("(tp - t0) div 86400000000"))
          .otherwise(expr("(tmax - t0) div 86400000000"))
          .cast("bigint").as("dur_day"),
        when(col("tp").isNotNull, 1L).otherwise(0L).as("ev"))
      val km = durs.groupBy("dur_day").agg(
        sum(col("ev")).cast("bigint").as("n_events"),
        sum(lit(1L) - col("ev")).cast("bigint").as("n_censored"))
      // at-risk = everyone whose duration is >= this day (deaths and
      // censors at the same day count as at risk — standard KM)
      // Both global windows run over the per-DURATION-DAY aggregate: integer
      // days inside the observation window, so the grid is bounded by the
      // event-calendar span (not by users or events) — it grows with
      // tracking HISTORY, never with volume (pinned in WindowBoundSpec).
      val wRisk = Window.orderBy("dur_day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val wCum = Window.orderBy("dur_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      km
        .withColumn("n_risk",
          sum(col("n_events") + col("n_censored")).over(wRisk).cast("bigint"))
        .withColumn("lnf",
          when(col("n_events") === 0 || col("n_events") === col("n_risk"),
            lit(BigDecimal(0)).cast("decimal(28,9)"))
            .otherwise(round(log(lit(1.0) -
              col("n_events").cast("double") / col("n_risk")), 9)
              .cast("decimal(28,9)")))
        .withColumn("zf",
          max(when(col("n_events") === col("n_risk"), 1).otherwise(0)).over(wCum))
        .withColumn("survival",
          when(col("zf") === 1, lit(0.0))
            .otherwise(round(exp(sum(col("lnf")).over(wCum).cast("double")), 6)))
        .select("dur_day", "n_risk", "n_events", "n_censored", "survival")
        .orderBy("dur_day")
    }),

    // Seasonality-aware anomaly detection — e_anomaly's z-score applied to
    // RESIDUALS after subtracting each (type, hour-of-day) mean, so a
    // nightly traffic trough stops masquerading as an anomaly and a spike
    // AT the trough stops hiding inside the global variance. The
    // gap-filled panel (e_forecast_baseline construction) keeps absent
    // hours as honest zeros; the hour-of-day profile is a types×24
    // BOUNDED aggregate (broadcast by construction); the per-hour mean of
    // INTEGER counts is exact-sum-then-divide on both engines, so only
    // the final z needs the 6-dp round (the e_anomaly discipline).
    "e_seasonal_anomaly" -> ((s, d) => {
      val panel = hourlyPanel(Tables.events(s, d), hour(col("hour_ts")).as("hod"))
      val profile = panel.groupBy("event_type", "hod")
        .agg(avg("c").as("mu_hod"))
      val resid = panel.join(broadcast(profile), Seq("event_type", "hod"))
        .select(col("event_type"), (col("c") - col("mu_hod")).as("r"))
      val stats = resid.groupBy("event_type")
        .agg(avg("r").as("mu"), stddev_samp("r").as("sd"))
      resid.join(broadcast(stats), "event_type")
        .select(col("event_type"),
          round((col("r") - col("mu")) / nullif(col("sd"), lit(0)), 6).as("z6"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"),
          sum(when(abs(col("z6")) > 3, 1L).otherwise(0L)).cast("bigint").as("n_anom"),
          round(max(abs(col("z6"))), 3).as("max_abs_z"))
        .orderBy("event_type")
    }),

    // Markov removal-effect attribution — the principled upgrade over
    // e_multi_touch's positional split: model each user's pre-purchase
    // journey as an absorbing Markov chain (start → channels → conv/drop),
    // then credit each channel by how much conversion probability
    // DISAPPEARS when it is removed (its inbound mass redirected to drop).
    // Every scenario (full + one per channel) is a SLICE of one
    // scenario-keyed transition matrix, so the six unrolled mass
    // iterations run ONCE for all scenarios simultaneously — the matrix is
    // (|channels|+1)·|states|² rows, BOUNDED by the event-type vocabulary,
    // never by users or events. The only stream-sized work is the journey
    // truncation (one window) and the transition count (one groupBy).
    // Removing a channel can only destroy conversion paths, so effects are
    // provably ≥ 0. Per-iteration mass sums round to 9 dp (the pagerank
    // trajectory discipline); P(conv) is read after 6 steps.
    "e_markov_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("tsus"),
          col("event_id"), col("event_type"))
      val fp = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(min(struct(col("tsus"), col("event_id"))).as("fpk"))
      // journey = events up to and including the FIRST purchase (struct
      // comparison is lexicographic on both engines); non-converters keep
      // their whole history and terminate in 'drop'
      val j = ev.join(fp, Seq("user_id"), "left")
        .filter(col("fpk").isNull ||
          struct(col("tsus"), col("event_id")) <= col("fpk"))
      // ONE window pass (lag and lead share the WindowExec) emits both the
      // step edge and — for a non-converter's final event — the 'drop'
      // terminal, via a 2-element explode instead of a second
      // descending-sort window + union (the original two-window form cost
      // a second data-sized sort)
      val w = Window.partitionBy("user_id").orderBy("tsus", "event_id")
      val steps = j
        .withColumn("prev", lag("event_type", 1).over(w))
        .withColumn("nxt", lead("event_type", 1).over(w))
        .select(explode(array(
          struct(coalesce(col("prev"), lit("start")).as("src"),
            when(col("event_type") === "purchase", lit("conv"))
              .otherwise(col("event_type")).as("dst")),
          struct(col("event_type").as("src"),
            when(col("nxt").isNull && col("fpk").isNull, lit("drop"))
              .as("dst")))).as("sd"))
        .filter(col("sd.dst").isNotNull)
        .select(col("sd.src").as("src"), col("sd.dst").as("dst"))
      // The transition aggregate is bounded by the TYPE VOCABULARY
      // ((|types|+2)² cells at any data volume), so collecting it is a
      // bounded scalar extract — the A1 min/max pattern, NOT a data
      // collect. The absorbing-chain math then runs driver-side for free:
      // the previous all-DataFrame formulation scheduled ~12 tiny stages
      // for the six iterations and spent ~5 s of pure stage latency on
      // <50 rows at sf0.1 (25.6 s before the branch-dedup fix). The
      // data-sized journey pipeline above is unchanged and runs once.
      // Every per-iteration sum still rounds at 9 dp in deterministic
      // (sorted-source) order — the trajectory the DuckDB oracle replays.
      val trans = steps.groupBy("src", "dst").agg(count(lit(1)).as("n"))
      def r9(x: Double) = BigDecimal(x)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      def r6d(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val cells = trans.collect()
        .map(r0 => (r0.getString(0), r0.getString(1), r0.getLong(2)))
      // same fail-fast vocabulary guard as e_pagerank/e_shapley: the
      // driver-side absorbing-chain solve is licensed by the bounded
      // (channels+start)×(channels+conv+drop) transition lattice
      require(cells.length <= 4422, // 64 channels (+start)×(+conv,drop)
        s"e_markov_attribution: transition aggregate has ${cells.length} " +
          "cells; the bounded-scalar-extract contract assumes a channel " +
          "vocabulary of at most 64 — use a distributed chain solve for " +
          "larger vocabularies")
      val tot = cells.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
      val base = cells.map { case (src, dst, n) => (src, dst, n.toDouble / tot(src)) }
      val channels = (cells.map(_._2).filter(c => c != "conv" && c != "drop") ++
        cells.map(_._1).filter(_ != "start")).distinct.sorted
      // removal(c): c's outgoing rows deleted, inbound mass redirected to
      // drop; at most TWO rows merge per (src,'drop') key — exact 2-term add
      val pconv: Map[String, Option[Double]] = (channels :+ "full").map { scen =>
        val m = base.flatMap { case (src, dst, p) =>
          if (scen != "full" && src == scen) None
          else Some((src, if (scen != "full" && dst == scen) "drop" else dst, p))
        }.groupBy(t => (t._1, t._2))
          .map { case ((src, dst), v) => (src, dst, v.map(_._3).sum) }
          .toSeq ++ Seq(("conv", "conv", 1.0), ("drop", "drop", 1.0))
        var mass = Map("start" -> 1.0)
        for (_ <- 1 to 6) {
          mass = m.filter(t => mass.contains(t._1)).groupBy(_._2)
            .map { case (dst, v) =>
              dst -> r9(v.toSeq.sortBy(_._1).map(t => mass(t._1) * t._3).sum)
            }
        }
        scen -> mass.get("conv")
      }.toMap
      val out = for {
        pfull <- pconv.getOrElse("full", None).toSeq
        c <- channels
        pc <- pconv.getOrElse(c, None)
      } yield {
        val eff: java.lang.Double =
          if (pfull == 0.0) null else r6d(1.0 - pc / pfull)
        (c, r6d(pc), eff)
      }
      val te = out.flatMap(o => Option(o._3).map(_.doubleValue)).sum
      val rows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
      out.foreach { case (c, cv, eff) =>
        val share: java.lang.Double =
          if (eff == null || te == 0.0) null
          else BigDecimal(eff.doubleValue / te)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        rows.add(org.apache.spark.sql.Row(c, cv, eff, share))
      }
      import org.apache.spark.sql.types._
      s.createDataFrame(rows, StructType(Seq(
          StructField("channel", StringType, nullable = true),
          StructField("conv_if_removed", DoubleType, nullable = true),
          StructField("removal_effect", DoubleType, nullable = true),
          StructField("attribution_share", DoubleType, nullable = true))))
        .orderBy("channel")
    }),

    // Position-based (U-shaped) attribution — the 40/20/40 rule: first and
    // last touch before the first purchase get 0.4 each, middles split the
    // remaining 0.2 evenly (k=1 → 1.0, k=2 → 0.5/0.5). Complements the
    // linear (e_multi_touch), Markov-removal and Shapley views. ONE window
    // pass per user (row_number + count share the per-user partition);
    // credits are fixed-order rationals per row, so only the per-channel
    // sum needs its 6-dp rounding. Journey truncation reuses the
    // e_markov_attribution first-purchase struct key.
    "e_position_attrib" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("tsus"),
          col("event_id"), col("event_type"))
      val fp = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(min(struct(col("tsus"), col("event_id"))).as("fpk"))
      val w = Window.partitionBy("user_id").orderBy("tsus", "event_id")
      val touches = ev.join(fp, Seq("user_id"))
        .filter(col("event_type") =!= "purchase" &&
          struct(col("tsus"), col("event_id")) < col("fpk"))
        .withColumn("rn", row_number().over(w))
        .withColumn("k", count(lit(1)).over(Window.partitionBy("user_id")))
      val credited = touches.select(col("event_type").as("channel"),
        when(col("k") === 1, lit(1.0))
          .when(col("k") === 2, lit(0.5))
          .when(col("rn") === 1 || col("rn") === col("k"), lit(0.4))
          .otherwise(lit(0.2) / (col("k") - 2)).as("credit"))
      val agg = credited.groupBy("channel")
        .agg(round(sum("credit"), 6).as("total_credit"))
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      agg
        .withColumn("share",
          round(col("total_credit") / sum("total_credit").over(wAll), 4))
        .orderBy("channel")
    }),

    // Bot/automation detection by inter-event-time REGULARITY: humans
    // produce bursty, high-variance gaps; schedulers produce metronomic
    // ones, so a low coefficient of variation (sd/mean of a user's gap
    // distribution) over enough events is the classic automation
    // signature. One window pass computes gaps (per-user partitions,
    // bounded); per-user mean/sd are the only double aggregates and the
    // CV rounds to 6 dp before the threshold (the e_anomaly discipline) —
    // the flag is reproducible bit-for-bit on both engines. The roll-up
    // row reports the censored population honestly (users under 20 gaps
    // are not classifiable, not "human").
    "e_bot_detect" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("tsus", "event_id")
      val gaps = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("tsus"), col("event_id"))
        .withColumn("prev", lag("tsus", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("user_id"), (col("tsus") - col("prev")).cast("double").as("gap"))
      val per = gaps.groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          avg("gap").as("mu"), stddev_samp("gap").as("sd"))
        .filter(col("n_gaps") >= 20)
        .select(round(col("sd") / nullif(col("mu"), lit(0.0)), 6).as("cv6"))
      per.agg(count(lit(1)).as("n_users"),
        sum(when(col("cv6") < 0.3, 1L).otherwise(0L)).cast("bigint").as("n_bots"),
        round(min("cv6"), 6).as("min_cv"),
        round(expr("percentile(cv6, 0.5)"), 6).as("p50_cv"))
    }),

    // Count-Min Sketch frequency estimation (depth 4 × width 64, md5-keyed
    // buckets so both engines draw identical hashes) with the exact counts
    // alongside — the classic streaming-sketch accuracy report. The ONLY
    // data-sized pass is the exact per-key aggregate; because a CMS cell is
    // additive and a key's bucket is a pure function of the key, summing
    // per-key counts into cells is bit-identical to sketching the raw
    // stream, so the sketch itself is built over the vocab-sized aggregate
    // (4 rows per key, never 4× the event count). est >= exact always —
    // CMS only overcounts (collisions add, never subtract).
    "e_cms_freq" -> ((s, d) => {
      val exact = Tables.events(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("exact_n"))
      val cells = exact
        .select(col("event_type"), col("exact_n"),
          explode(expr("sequence(0, 3)")).as("seed"))
        .withColumn("bucket", expr(
          "pmod(cast(conv(substring(md5(concat('cms', seed, '|', event_type)), " +
            "1, 12), 16, 10) as bigint), 64)"))
      val counters = cells.groupBy("seed", "bucket")
        .agg(sum("exact_n").as("cell_n"))
      val est = cells.join(broadcast(counters), Seq("seed", "bucket"))
        .groupBy("event_type").agg(min("cell_n").as("cms_est"))
      exact.join(broadcast(est), "event_type")
        .select(col("event_type"), col("exact_n"), col("cms_est"),
          (col("cms_est") - col("exact_n")).as("overcount"))
        .orderBy("event_type")
    }),

    // Panel forward-fill (LOCF): per-type hourly mean value over the full
    // calendar spine, missing hours carried forward from the last observed
    // hour. The hourly mean rounds to 4 dp BEFORE the fill so the carried
    // value is bit-identical on both engines; hours before a type's first
    // observation stay NULL (nothing to carry — coalesce-to-zero would
    // invent data). The fill window partitions by event_type, which is
    // low-cardinality, but each partition is the CALENDAR-BOUNDED hour
    // spine (grows with time, not data volume) — the one shape where a
    // handful of window partitions is the right plan at any SF.
    "e_forward_fill" -> ((s, d) => {
      val e = Tables.events(s, d)
      // The hourly mean is computed in EXACT integer arithmetic: values
      // are 2-dp by construction, so sum their cents as BIGINT (order-
      // independent, unlike a double sum) and take the 4-dp half-up mean
      // with the integer identity round(p/q) = (2p+q) div (2q). A double
      // round(avg(...)) here sat exactly on 4-dp half-way points for
      // small per-(type,hour) groups, where summation ORDER (e.g. a
      // different file layout of the same rows) flipped the last digit —
      // caught by the sf1 multi-file layout gate.
      val hourly = e
        .groupBy(col("event_type"), date_trunc("HOUR", col("ts")).as("hour_ts"))
        .agg(sum(round(col("value") * 100).cast("bigint")).as("cents"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("hour_ts"),
          (expr("(200 * cents + n) div (2 * n)") / 10000.0).as("v"))
      val spine = hourSpine(e)
      val types = e.select("event_type").distinct()
      val w = Window.partitionBy("event_type").orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      types.crossJoin(broadcast(spine))
        .join(hourly, Seq("event_type", "hour_ts"), "left")
        .select(col("event_type"), col("hour_ts"), col("v"),
          last("v", ignoreNulls = true).over(w).as("filled"),
          col("v").isNull.as("was_gap"))
        .orderBy("event_type", "hour_ts")
    }),

    // CUPED variance reduction (Deng et al. 2013): adjust each user's
    // experiment-period metric by their PRE-period metric, adj = post −
    // θ·(pre − mean(pre)), θ = cov(pre,post)/var(pre) — same means, much
    // tighter variance, so A/B tests need fewer users. Pre/post split at
    // the integer-microsecond midpoint of the stream; per-user sums round
    // to 4 dp and θ/mean(pre) to 6 dp BEFORE the per-row adjustment, so
    // both engines adjust with bit-identical scalars. Two data-sized
    // passes (the per-user aggregate, then the per-variant roll-up); the
    // θ aggregate is one row, broadcast back. var_reduction is the
    // measured CUPED win, per variant.
    "e_cuped" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("t"), col("value"))
      val mid = ev.agg(expr("min(t) + (max(t) - min(t)) div 2").as("mid"))
      val per = ev.crossJoin(broadcast(mid))
        .groupBy("user_id")
        .agg(
          round(sum(when(col("t") < col("mid"), col("value"))
            .otherwise(0.0)), 4).as("pre"),
          round(sum(when(col("t") >= col("mid"), col("value"))
            .otherwise(0.0)), 4).as("post"))
        .withColumn("variant", pmod(col("user_id"), lit(2)))
      val g = per.agg(
        round(covar_samp(col("pre"), col("post")) /
          nullif(var_samp(col("pre")), lit(0.0)), 6).as("theta"),
        round(avg("pre"), 6).as("pre_mean"))
      per.crossJoin(broadcast(g))
        .select(col("variant"), col("post"),
          (col("post") - col("theta") * (col("pre") - col("pre_mean")))
            .as("adj"))
        .groupBy("variant")
        .agg(count(lit(1)).as("n_users"),
          round(avg("post"), 6).as("mean_post"),
          round(avg("adj"), 6).as("mean_adj"),
          round(lit(1.0) - var_samp(col("adj")) /
            nullif(var_samp(col("post")), lit(0.0)), 4).as("var_reduction"))
        .orderBy("variant")
    }),

    // Per-type OLS trend over the hourly panel: slope/intercept/R² of
    // count-vs-hour-index, the regression behind every "is this metric
    // drifting" monitor. All five moment sums (Σx, Σx², Σy, Σy², Σxy) are
    // BIGINT — x is the hour index, y a count, so every sum is exact on
    // both engines regardless of accumulation order; doubles appear only
    // in the final slope/intercept/R² divisions, rounded at 6 dp. Missing
    // hours count as y=0 via the calendar spine (a trend fitted only to
    // busy hours would be biased up). One data-sized aggregate; the spine
    // cross product is calendar × type-vocab sized.
    "e_trend_ols" -> ((s, d) => {
      val e = Tables.events(s, d)
      val hourly = e
        .groupBy(col("event_type"), date_trunc("HOUR", col("ts")).as("hour_ts"))
        .agg(count(lit(1)).as("y"))
      val spine = hourSpine(e, unix_micros(col("h0")).as("t0"))
      val types = e.select("event_type").distinct()
      val m = types.crossJoin(broadcast(spine))
        .join(hourly, Seq("event_type", "hour_ts"), "left")
        .select(col("event_type"),
          expr("(unix_micros(hour_ts) - t0) div 3600000000").as("x"),
          coalesce(col("y"), lit(0L)).as("y"))
        .groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum("x").as("sx"), sum(expr("x * x")).as("sxx"),
          sum("y").as("sy"), sum(expr("y * y")).as("syy"),
          sum(expr("x * y")).as("sxy"))
      m.select(col("event_type"), col("n").as("n_hours"),
          expr("round(cast(n * sxy - sx * sy as double) / " +
            "cast(n * sxx - sx * sx as double), 6)").as("slope"),
          expr("round((cast(sy as double) - cast(n * sxy - sx * sy as double) " +
            "/ cast(n * sxx - sx * sx as double) * cast(sx as double)) " +
            "/ cast(n as double), 6)").as("intercept"),
          expr("round(cast(n * sxy - sx * sy as double) * " +
            "cast(n * sxy - sx * sy as double) / " +
            "nullif(cast(n * sxx - sx * sx as double) * " +
            "cast(n * syy - sy * sy as double), 0d), 6)").as("r2"))
        .orderBy("event_type")
    }),

    // EXACT Shapley-value attribution — the order-free complement of
    // e_markov_attribution. Characteristic function v(T) = conversions
    // (e_ab_test's >20%-purchase-share flag) among users whose distinct
    // non-purchase channel set ⊆ T; φ_i = Σ_{T∌i} |T|!(n−1−|T|)!/n! ·
    // (v(T∪{i}) − v(T)). The only data-sized work is two per-user
    // aggregates (conversion flag, channel bitmask); everything after
    // lives on the ≤2ⁿ-row coalition lattice (n = channel vocab, 4 here)
    // — masks enumerate via sequence(), subset containment is one AND,
    // weights are exact factorial ratios, and v() is integer until the
    // final weighted sum (rounded 6 dp). The row_number that assigns
    // channel bit indexes runs over the |channels|-row vocab — bounded,
    // so its SinglePartition window is the right plan at any SF. φ sums
    // to v(full) = total attributable conversions (asserted in spec);
    // share normalizes by that total.
    "e_shapley_attrib" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val conv = ev.groupBy("user_id").agg(
        (sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) /
          count(lit(1)) > 0.2).cast("int").as("conv"))
      val ch = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_type").as("channel")).distinct()
        .withColumn("idx",
          row_number().over(Window.orderBy("channel")) - 1)
      val userMask = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type").as("channel")).distinct()
        .join(broadcast(ch), "channel")
        .groupBy("user_id")
        .agg(sum(expr("shiftleft(1, idx)")).as("emask"))
      val setConv = userMask.join(conv, "user_id")
        .groupBy("emask").agg(sum("conv").cast("bigint").as("cv"))
      // The 2^n lattice (and factorial(nch), and shiftleft(1, idx)) is
      // only valid for a small channel vocabulary: factorial overflows
      // null past 20, shiftleft wraps past 31, and the lattice itself
      // explodes. Fail fast in-plan rather than silently mis-attribute.
      val coal = ch.agg(count(lit(1)).cast("int").as("nch"))
        .select(expr(
          "case when nch > 20 then cast(raise_error(concat(" +
            "'e_shapley_attrib: 2^n coalition lattice requires channel " +
            "vocab <= 20, got ', nch)) as int) else nch end").as("nch"))
        .select(col("nch"),
          explode(expr("sequence(0, shiftleft(1, nch) - 1)")).as("tmask"))
      val vt = coal.crossJoin(broadcast(setConv))
        .groupBy("tmask", "nch")
        .agg(sum(when(expr("(emask & tmask) = emask"), col("cv"))
          .otherwise(0L)).cast("bigint").as("v"))
      val vt2 = vt.select(col("tmask").as("tmask2"), col("v").as("v2"))
      val phi = ch.crossJoin(broadcast(vt))
        .filter(expr("(tmask & shiftleft(1, idx)) = 0"))
        .withColumn("tmask2", expr("tmask | shiftleft(1, idx)"))
        .join(broadcast(vt2), "tmask2")
        .withColumn("w", expr(
          "cast(factorial(bit_count(tmask)) as double) * " +
            "cast(factorial(nch - 1 - bit_count(tmask)) as double) / " +
            "cast(factorial(nch) as double)"))
        .groupBy("channel")
        .agg(round(sum(col("w") * (col("v2") - col("v")).cast("double")), 6)
          .as("shapley"))
      val tot = phi.agg(sum("shapley").as("tot"))
      phi.crossJoin(broadcast(tot))
        .select(col("channel"), col("shapley"),
          round(col("shapley") / col("tot"), 4).as("share"))
        .orderBy("channel")
    }),

    // CUSUM change-point detection per event type: the split t maximizing
    // |n·CumSum_t − t·ΣY| over the gap-filled hourly panel — the scaled
    // form keeps the whole search in EXACT BIGINT (counts × calendar
    // indexes never overflow), so the argmax needs no double rounding at
    // all; doubles appear only in the reported pre/post means and shift
    // (6 dp). Argmax ties break to the EARLIEST hour via one
    // max(struct(peak, −t)) aggregate — no second window pass, no sort.
    // The cumulative-sum window partitions by event_type over the
    // calendar-bounded spine (the documented bounded-spine exception);
    // t stops at n−1 so the post-segment is never empty.
    "e_changepoint" -> ((s, d) => {
      val e = Tables.events(s, d)
      val hourly = e
        .groupBy(col("event_type"), date_trunc("HOUR", col("ts")).as("hour_ts"))
        .agg(count(lit(1)).as("y"))
      val spine = hourSpine(e, unix_micros(col("h0")).as("t0"))
      val types = e.select("event_type").distinct()
      val w = Window.partitionBy("event_type").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val panel = types.crossJoin(broadcast(spine))
        .join(hourly, Seq("event_type", "hour_ts"), "left")
        .select(col("event_type"), col("hour_ts"),
          expr("(unix_micros(hour_ts) - t0) div 3600000000 + 1").as("t"),
          coalesce(col("y"), lit(0L)).as("y"))
        .withColumn("cum", sum("y").over(w))
      val totals = panel.groupBy(col("event_type").as("ty"))
        .agg(max("t").as("n"), sum("y").as("sy"))
      panel.join(totals, col("event_type") === col("ty"))
        .filter(col("t") < col("n"))
        .select(col("event_type"), col("hour_ts"), col("t"), col("cum"),
          col("n"), col("sy"),
          abs(col("n") * col("cum") - col("t") * col("sy")).as("peak"))
        .groupBy("event_type")
        .agg(max(struct(col("peak"), (-col("t")).as("negt"), col("t"),
          col("hour_ts"), col("cum"), col("n"), col("sy"))).as("m"))
        .select(col("event_type"),
          col("m.t").as("cp_idx"), col("m.hour_ts").as("cp_hour_ts"),
          round(col("m.cum").cast("double") / col("m.t"), 6).as("pre_mean"),
          round((col("m.sy") - col("m.cum")).cast("double") /
            (col("m.n") - col("m.t")), 6).as("post_mean"),
          round((col("m.sy") - col("m.cum")).cast("double") /
            (col("m.n") - col("m.t")) -
            col("m.cum").cast("double") / col("m.t"), 6).as("shift"))
        .orderBy("event_type")
    })
  )

  /** hourSpine in SQL: the bounds CTE `b(h0, h1)` and
    * `spine(hour_ts$extra)`; each caller joins its own panel. */
  private def hourSpineSql(extra: String = ""): String =
    s"""b AS (
       |  SELECT CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS h0,
       |         CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS h1
       |  FROM events),
       |spine AS (
       |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts$extra FROM b)""".stripMargin

  /** hourlyPanel in SQL: [[hourSpineSql]], then CTE `panel` of
    * (hour_ts, event_type, c) and the `extra` select items — every spine
    * hour crossed with every event type, `c` = that hour's event count, 0
    * where none. */
  private def hourlyPanelSql(extra: String = ""): String =
    s"""${hourSpineSql()},
       |types AS (SELECT DISTINCT event_type FROM events),
       |hourly AS (
       |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, event_type,
       |         count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |panel AS (
       |  SELECT spine.hour_ts, types.event_type,
       |         CAST(coalesce(c, 0) AS BIGINT) AS c$extra
       |  FROM spine CROSS JOIN types
       |  LEFT JOIN hourly USING (hour_ts, event_type))""".stripMargin

  val oracles: Map[String, String] = Map(
    "e_json_extract" ->
      """SELECT event_type, count(*) AS cnt,
        |CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e_hourly_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, event_type,
        |count(*) AS cnt, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin,
    "e_sessionize" ->
      """WITH l AS (
        |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (SELECT user_id,
        |  CASE WHEN prev_ts IS NULL THEN 1
        |       WHEN epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM l)
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
        |count(*) AS n_events
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin,
    // µs-domain comparisons (not raw ns) mirror Spark's timestamp precision
    // after the ns→µs downcast in Tables.events
    "e_click_attrib" ->
      """WITH c AS (SELECT user_id AS cu, epoch_us(ts) AS cus FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS pu, epoch_us(ts) AS pus, event_id AS pid, value FROM events WHERE event_type = 'purchase')
        |SELECT pu AS user_id, count(*) AS n_pairs,
        |  count(DISTINCT pid) AS n_purchases,
        |  round(sum(value), 2) AS attributed_value,
        |  CAST(max(pus - cus) AS BIGINT) AS max_gap_us
        |FROM p JOIN c ON pu = cu AND pus >= cus AND pus - cus <= 3600000000
        |GROUP BY pu ORDER BY user_id""".stripMargin,
    "e_daily_top_type" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT day, event_type, cnt,
        |  row_number() OVER (PARTITION BY day ORDER BY cnt DESC, event_type) AS rn
        |  FROM daily)
        |SELECT day, event_type, cnt FROM r WHERE rn = 1 ORDER BY day""".stripMargin,
    "e_funnel" ->
      """WITH s AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
        |  FROM events GROUP BY user_id),
        |f AS (
        |  SELECT count(*) AS n_users,
        |    CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |    CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
        |    CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        |  FROM s)
        |SELECT n_users, n_view, n_view_click, n_full_funnel,
        |  round(CAST(n_full_funnel AS DOUBLE) / nullif(CAST(n_view AS DOUBLE), 0.0), 6) AS conv_rate
        |FROM f""".stripMargin,
    "e_cohort_retention" ->
      """WITH fd AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT CAST(date_diff('day', first_day, day) AS BIGINT) AS day_offset,
        |  count(*) AS n_user_days
        |FROM a JOIN fd USING (user_id)
        |GROUP BY 1 ORDER BY day_offset""".stripMargin,
    "e_anomaly" ->
      """WITH st AS (
        |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        |  FROM events GROUP BY 1),
        |z AS (SELECT e.event_type, round((value - mu) / nullif(sd, 0), 6) AS z6
        |      FROM events e JOIN st USING (event_type))
        |SELECT event_type, count(*) AS n_total,
        |  CAST(sum(CASE WHEN abs(z6) > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_anom,
        |  round(max(abs(z6)), 3) AS max_abs_z
        |FROM z GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e_gap_fill" ->
      s"""WITH ${hourSpineSql()},
        |hourly AS (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, count(*) AS n_err
        |  FROM events WHERE event_type = 'error' GROUP BY 1)
        |SELECT spine.hour_ts,
        |  CAST(coalesce(n_err, 0) AS BIGINT) AS n_err,
        |  n_err IS NULL AS was_gap
        |FROM spine LEFT JOIN hourly USING (hour_ts)
        |ORDER BY hour_ts""".stripMargin,
    "e_transition_matrix" ->
      """WITH t AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type, event_type AS next_type, count(*) AS n
        |      FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  round(n / sum(n) OVER (PARTITION BY prev_type), 6) AS p
        |FROM c ORDER BY prev_type, next_type""".stripMargin,
    "e_dedup_window" ->
      """WITH x AS (
        |  SELECT event_type,
        |    row_number() OVER (
        |      PARTITION BY user_id, event_type,
        |        CAST(floor(epoch_us(ts) / 600000000) AS BIGINT)
        |      ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dupes
        |FROM x GROUP BY 1 ORDER BY event_type""".stripMargin,
    "e_lateness_profile" ->
      """WITH x AS (
        |  SELECT event_type, epoch_us(ts) AS tsus,
        |    max(epoch_us(ts)) OVER (
        |      PARTITION BY user_id
        |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM events),
        |l AS (SELECT event_type, greatest(0, hwm - tsus) AS late_us
        |      FROM x WHERE hwm IS NOT NULL)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  round(quantile_cont(late_us, 0.5), 1) AS p50_late_us,
        |  round(quantile_cont(late_us, 0.95), 1) AS p95_late_us,
        |  max(late_us) AS max_late_us
        |FROM l GROUP BY 1 ORDER BY event_type""".stripMargin,
    "e_path_trigrams" ->
      """WITH x AS (
        |  SELECT event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
        |    lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e1
        |  FROM events)
        |SELECT e1 || '>' || e2 || '>' || event_type AS path, count(*) AS n
        |FROM x WHERE e1 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin,
    "e_multi_touch" ->
      """WITH c AS (SELECT user_id AS cu, epoch_us(ts) AS cus, event_id AS click_id
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS pu, epoch_us(ts) AS pus, event_id AS pid, value
        |      FROM events WHERE event_type = 'purchase'),
        |pairs AS (
        |  SELECT pu AS user_id, pid, click_id, value
        |  FROM p JOIN c ON pu = cu AND pus >= cus AND pus - cus <= 3600000000),
        |cr AS (SELECT user_id, click_id,
        |         round(value / (count(*) OVER (PARTITION BY pid)), 6) AS credit
        |       FROM pairs)
        |SELECT user_id, CAST(count(DISTINCT click_id) AS BIGINT) AS n_credited_clicks,
        |  round(sum(credit), 4) AS attributed_value
        |FROM cr GROUP BY user_id ORDER BY user_id""".stripMargin,
    // same exact-binary weights (1 << bucket is integer on both engines),
    // same decimal money sum
    "e_time_decay_attrib" ->
      """WITH c AS (SELECT user_id AS cu, epoch_us(ts) AS cus, event_id AS click_id
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS pu, epoch_us(ts) AS pus, event_id AS pid, value
        |      FROM events WHERE event_type = 'purchase'),
        |pairs AS (
        |  SELECT pu AS user_id, pid, click_id, value,
        |    (pus - cus) // 600000000 AS bucket
        |  FROM p JOIN c ON pu = cu AND pus >= cus AND pus - cus <= 3600000000),
        |wts AS (
        |  SELECT user_id, pid, click_id, value,
        |    CAST(1 AS DOUBLE) / CAST((1 << CAST(bucket AS INT)) AS DOUBLE) AS wt
        |  FROM pairs),
        |cr AS (
        |  SELECT user_id, click_id,
        |    round(wt / sum(wt) OVER (PARTITION BY pid) * value, 6) AS cv
        |  FROM wts)
        |SELECT user_id, CAST(count(DISTINCT click_id) AS BIGINT) AS n_credited_clicks,
        |  round(CAST(sum(CAST(cv AS DECIMAL(18,6))) AS DOUBLE), 4) AS attributed_value
        |FROM cr GROUP BY user_id ORDER BY user_id""".stripMargin,
    // same 8-tap kernel, same left-to-right fold, same exact binary weights
    "e_ewma" ->
      s"""WITH ${hourSpineSql()},
        |hourly AS (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, count(*) AS n_err
        |  FROM events WHERE event_type = 'error' GROUP BY 1),
        |filled AS (
        |  SELECT spine.hour_ts, CAST(coalesce(n_err, 0) AS BIGINT) AS v
        |  FROM spine LEFT JOIN hourly USING (hour_ts)),
        |k AS (
        |  SELECT hour_ts, v,
        |    lag(v, 1) OVER (ORDER BY hour_ts) AS l1,
        |    lag(v, 2) OVER (ORDER BY hour_ts) AS l2,
        |    lag(v, 3) OVER (ORDER BY hour_ts) AS l3,
        |    lag(v, 4) OVER (ORDER BY hour_ts) AS l4,
        |    lag(v, 5) OVER (ORDER BY hour_ts) AS l5,
        |    lag(v, 6) OVER (ORDER BY hour_ts) AS l6,
        |    lag(v, 7) OVER (ORDER BY hour_ts) AS l7
        |  FROM filled)
        |SELECT hour_ts, v AS n_err,
        |  round((v * 1.0 + l1 * 0.5 + l2 * 0.25 + l3 * 0.125 + l4 * 0.0625 +
        |         l5 * 0.03125 + l6 * 0.015625 + l7 * 0.0078125) / 1.9921875, 6) AS ewma
        |FROM k WHERE l7 IS NOT NULL ORDER BY hour_ts""".stripMargin,
    // 3 unrolled power-method iterations; only the final rank is rounded
    "e_pagerank" ->
      """WITH lg AS (
        |  SELECT event_type AS dst,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        |  FROM events),
        |ed AS (SELECT src, dst, count(*) AS n FROM lg WHERE src IS NOT NULL GROUP BY 1, 2),
        |ot AS (SELECT src, sum(n) AS tot FROM ed GROUP BY 1),
        |p AS (SELECT ed.src, dst, n / tot AS p FROM ed JOIN ot USING (src)),
        |nodes AS (SELECT DISTINCT event_type AS v FROM events),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM nodes),
        |r0 AS (SELECT v, 1.0 / nn AS r FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT dst, sum(p.p * r0.r) AS inr FROM p JOIN r0 ON p.src = r0.v GROUP BY dst),
        |r1 AS (SELECT v, 0.15 / nn + 0.85 * coalesce(inr, 0.0) AS r
        |       FROM nodes CROSS JOIN nn LEFT JOIN c1 ON v = c1.dst),
        |c2 AS (SELECT dst, sum(p.p * r1.r) AS inr FROM p JOIN r1 ON p.src = r1.v GROUP BY dst),
        |r2 AS (SELECT v, 0.15 / nn + 0.85 * coalesce(inr, 0.0) AS r
        |       FROM nodes CROSS JOIN nn LEFT JOIN c2 ON v = c2.dst),
        |c3 AS (SELECT dst, sum(p.p * r2.r) AS inr FROM p JOIN r2 ON p.src = r2.v GROUP BY dst),
        |r3 AS (SELECT v, 0.15 / nn + 0.85 * coalesce(inr, 0.0) AS r
        |       FROM nodes CROSS JOIN nn LEFT JOIN c3 ON v = c3.dst)
        |SELECT v AS event_type, round(r, 6) AS pagerank
        |FROM r3 ORDER BY event_type""".stripMargin,
    // same exact-µs RANGE frame; peers included identically
    "e_rate_window" ->
      """WITH x AS (
        |  SELECT event_type,
        |    count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |      RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS c24
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(max(c24) AS BIGINT) AS max_c24,
        |  round(avg(c24), 4) AS avg_c24,
        |  CAST(sum(CASE WHEN c24 >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e_session_stats" ->
      """WITH l AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsus,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (SELECT user_id, event_id, tsus,
        |  CASE WHEN prev_ts IS NULL THEN 1
        |       WHEN tsus - prev_ts > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM l),
        |sid AS (SELECT user_id, tsus,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY tsus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM f),
        |sess AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |    max(tsus) - min(tsus) AS dur_us
        |  FROM sid GROUP BY user_id, session_id)
        |SELECT count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singleton,
        |  round(avg(n_events), 4) AS avg_events,
        |  round(quantile_cont(dur_us, 0.5), 1) AS p50_dur_us,
        |  round(quantile_cont(dur_us, 0.95), 1) AS p95_dur_us,
        |  max(dur_us) AS max_dur_us
        |FROM sess""".stripMargin,
    // same fixed-order z expression over exact integer counts
    "e_ab_test" ->
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |         / count(*) > 0.2 AS INT) AS conv,
        |    user_id % 2 AS variant
        |  FROM events GROUP BY user_id),
        |g AS (
        |  SELECT
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS k0,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS k1
        |  FROM per)
        |SELECT n0, k0, n1, k1,
        |  round(k0 / n0, 6) AS p0,
        |  round(k1 / n1, 6) AS p1,
        |  round((k1 / n1 - k0 / n0) /
        |        nullif(sqrt(((k0 + k1) / (n0 + n1)) * (1.0 - (k0 + k1) / (n0 + n1)) *
        |             (1.0 / n0 + 1.0 / n1)), 0.0), 4) AS z,
        |  abs(round((k1 / n1 - k0 / n0) /
        |        nullif(sqrt(((k0 + k1) / (n0 + n1)) * (1.0 - (k0 + k1) / (n0 + n1)) *
        |             (1.0 / n0 + 1.0 / n1)), 0.0), 4)) > 1.96 AS significant
        |FROM g""".stripMargin,
    // weekday labels are private grouping keys; the statistic is
    // label-invariant, so each engine's own numbering is fine
    "e_chi_square" ->
      """WITH cell AS (
        |  SELECT dayofweek(ts) AS dw, event_type, count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT dw, event_type, o,
        |    CAST(sum(o) OVER (PARTITION BY dw) AS DOUBLE) AS rt,
        |    CAST(sum(o) OVER (PARTITION BY event_type) AS DOUBLE) AS ct,
        |    CAST(sum(o) OVER () AS DOUBLE) AS n
        |  FROM cell),
        |t AS (
        |  SELECT dw, event_type,
        |    (o - rt * ct / n) * (o - rt * ct / n) / (rt * ct / n) AS term
        |  FROM m)
        |SELECT count(*) AS n_cells,
        |  CAST((count(DISTINCT dw) - 1) * (count(DISTINCT event_type) - 1) AS BIGINT) AS df,
        |  round(sum(term), 3) AS chi2
        |FROM t""".stripMargin,
    "e_robust_stats" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type, med, abs(value - med) AS ad
        |  FROM events e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1)
        |SELECT event_type, count(*) AS n,
        |  round(max(med), 4) AS median,
        |  round(max(dev.mad), 4) AS mad,
        |  CAST(sum(CASE WHEN round(ad / (1.4826 * nullif(dev.mad, 0)), 6) > 3.5
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM (SELECT dev.event_type, dev.med, dev.ad, mad.mad
        |      FROM dev JOIN mad USING (event_type)) dev
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // list() FILTER mirrors collect_list's null-skipping; list_min of an
    // empty/NULL list and array_min of an empty array both yield NULL
    "e_conversion_lag" ->
      """WITH per AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
        |    list(epoch_us(ts)) FILTER (WHERE event_type = 'purchase') AS purchases
        |  FROM events GROUP BY user_id),
        |l AS (
        |  SELECT user_id, t_view,
        |    list_min(list_filter(purchases, p -> p > t_view)) AS t_conv
        |  FROM per WHERE t_view IS NOT NULL)
        |SELECT count(*) AS n_viewers,
        |  count(t_conv - t_view) AS n_converted,
        |  round(quantile_cont(t_conv - t_view, 0.5), 1) AS p50_lag_us,
        |  round(quantile_cont(t_conv - t_view, 0.9), 1) AS p90_lag_us,
        |  CAST(max(t_conv - t_view) AS BIGINT) AS max_lag_us
        |FROM l""".stripMargin,
    "e_cumulative_users" ->
      """WITH fd AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id),
        |nd AS (SELECT day, count(*) AS n_new FROM fd GROUP BY day),
        |b AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events),
        |spine AS (
        |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |f AS (SELECT spine.day, CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
        |      FROM spine LEFT JOIN nd USING (day))
        |SELECT day, n_new,
        |  CAST(sum(n_new) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM f ORDER BY day""".stripMargin,
    // same contribution-explode rewrite of the rolling distinct
    "e_rolling_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        |b AS (SELECT max(CAST(ts AS DATE)) AS d1 FROM events),
        |w AS (
        |  SELECT DISTINCT user_id,
        |    CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
        |      CAST(day AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS wday
        |  FROM ud),
        |wau AS (SELECT wday AS day, count(*) AS wau_7d
        |        FROM w, b WHERE wday <= d1 GROUP BY 1)
        |SELECT day, dau, wau_7d FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,
    // identical md5-48 draw, theta pre-filter, bottom-k per day, and the
    // theta-sketch union algebra (the exact e_rolling_wau referee is
    // SketchRefereeSpec's assert, not part of the entry)
    "e_kmv_rolling_du" ->
      """WITH dh AS (SELECT DISTINCT CAST(ts AS DATE) AS day,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT) AS h
        |  FROM events),
        |dn AS (SELECT day,
        |    least(281474976710656, (256 * 281474976710656) // count(*)) AS pre
        |  FROM dh GROUP BY day),
        |fs AS (SELECT dh.day, h, pre,
        |    row_number() OVER (PARTITION BY dh.day ORDER BY h) AS rn
        |  FROM dh JOIN dn USING (day) WHERE h < pre),
        |sk AS (SELECT day, list_sort(list(h)) AS hs, count(*) AS cnt, max(pre) AS pre
        |  FROM fs WHERE rn <= 64 GROUP BY day),
        |sk2 AS (SELECT day, hs,
        |    CASE WHEN cnt = 64 THEN hs[64] ELSE pre END AS theta_d FROM sk),
        |m AS (SELECT day,
        |    flatten(list(hs) OVER w) AS mh,
        |    min(theta_d) OVER w AS theta
        |  FROM sk2 WINDOW w AS (ORDER BY day - DATE '1970-01-01'
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT day,
        |  (len(list_filter(list_distinct(mh), x -> x < theta))
        |   * 281474976710656) // theta AS est_du FROM m ORDER BY day""".stripMargin,
    // the identical panel + 24-row sorted-list window, same 1-based picks
    "e_moving_percentile" ->
      s"""WITH ${hourlyPanelSql()},
        |wl AS (
        |  SELECT hour_ts, event_type,
        |    list_sort(list(c) OVER (PARTITION BY event_type ORDER BY hour_ts
        |      ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)) AS win
        |  FROM panel)
        |SELECT hour_ts, event_type, win[12] AS p50, win[23] AS p95
        |FROM wl WHERE len(win) = 24
        |ORDER BY hour_ts, event_type""".stripMargin,
    "e_forecast_baseline" ->
      s"""WITH ${hourlyPanelSql()},
        |lg AS (
        |  SELECT event_type, c,
        |    lag(c, 24) OVER (PARTITION BY event_type ORDER BY hour_ts) AS pred
        |  FROM panel)
        |SELECT event_type, count(*) AS n_hours,
        |  round(avg(abs(c - pred) / nullif(c, 0)), 6) AS mape,
        |  round(avg(c - pred), 4) AS bias
        |FROM lg WHERE pred IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // same life table; the survival product is exp of a DECIMAL running
    // sum of 9-dp-rounded ln factors (exact, order-independent), d=n
    // short-circuits via the integer flag, never ln(0)
    "e_survival_km" ->
      """WITH per AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t0,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp,
        |    max(epoch_us(ts)) AS tmax
        |  FROM events GROUP BY user_id),
        |durs AS (
        |  SELECT CASE WHEN tp IS NOT NULL THEN (tp - t0) // 86400000000
        |         ELSE (tmax - t0) // 86400000000 END AS dur_day,
        |         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM per),
        |km AS (
        |  SELECT dur_day, CAST(sum(ev) AS BIGINT) AS n_events,
        |         CAST(sum(1 - ev) AS BIGINT) AS n_censored
        |  FROM durs GROUP BY dur_day),
        |r AS (
        |  SELECT dur_day, n_events, n_censored,
        |    CAST(sum(n_events + n_censored) OVER
        |      (ORDER BY dur_day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS BIGINT) AS n_risk
        |  FROM km),
        |f AS (
        |  SELECT dur_day, n_events, n_censored, n_risk,
        |    CASE WHEN n_events = 0 OR n_events = n_risk
        |         THEN CAST(0 AS DECIMAL(28,9))
        |         ELSE CAST(round(ln(1 - CAST(n_events AS DOUBLE) / n_risk), 9)
        |              AS DECIMAL(28,9)) END AS lnf,
        |    CASE WHEN n_events = n_risk THEN 1 ELSE 0 END AS zf
        |  FROM r)
        |SELECT dur_day, n_risk, n_events, n_censored,
        |  CASE WHEN max(zf) OVER
        |         (ORDER BY dur_day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
        |       THEN 0.0
        |       ELSE round(exp(CAST(sum(lnf) OVER
        |         (ORDER BY dur_day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS DOUBLE)), 6) END AS survival
        |FROM f ORDER BY dur_day""".stripMargin,
    // same gap-filled panel as e_forecast_baseline, hour-of-day profile
    // subtraction, z rounded to 6 dp before the threshold (e_anomaly)
    "e_seasonal_anomaly" ->
      s"""WITH ${hourlyPanelSql(", hour(spine.hour_ts) AS hod")},
        |prof AS (SELECT event_type, hod, avg(c) AS mu_hod
        |         FROM panel GROUP BY 1, 2),
        |resid AS (
        |  SELECT p.event_type, p.c - mu_hod AS r
        |  FROM panel p JOIN prof USING (event_type, hod)),
        |st AS (SELECT event_type, avg(r) AS mu, stddev_samp(r) AS sd
        |       FROM resid GROUP BY 1),
        |z AS (SELECT r.event_type, round((r.r - mu) / nullif(sd, 0), 6) AS z6
        |      FROM resid r JOIN st USING (event_type))
        |SELECT event_type, count(*) AS n_hours,
        |  CAST(sum(CASE WHEN abs(z6) > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_anom,
        |  round(max(abs(z6)), 3) AS max_abs_z
        |FROM z GROUP BY event_type ORDER BY event_type""".stripMargin,
    // same chain: struct-keyed journey truncation, scenario-keyed matrix,
    // six unrolled iterations with 9-dp mass rounding
    "e_markov_attribution" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id, epoch_us(ts) AS tsus, event_id, event_type FROM events),
        |fp AS MATERIALIZED (
        |  SELECT user_id, min({'t': tsus, 'e': event_id}) AS fpk
        |  FROM ev WHERE event_type = 'purchase' GROUP BY user_id),
        |j AS MATERIALIZED (
        |  SELECT ev.user_id, tsus, event_id, event_type, fpk
        |  FROM ev LEFT JOIN fp USING (user_id)
        |  WHERE fpk IS NULL OR {'t': tsus, 'e': event_id} <= fpk),
        |st AS MATERIALIZED (
        |  SELECT coalesce(lag(event_type) OVER
        |      (PARTITION BY user_id ORDER BY tsus, event_id), 'start') AS src,
        |    CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END AS dst
        |  FROM j),
        |ld AS MATERIALIZED (
        |  SELECT event_type AS src, 'drop' AS dst FROM (
        |    SELECT event_type, fpk,
        |      row_number() OVER (PARTITION BY user_id ORDER BY tsus DESC, event_id DESC) AS rn
        |    FROM j) WHERE rn = 1 AND fpk IS NULL),
        |tr AS MATERIALIZED (SELECT src, dst, count(*) AS n
        |       FROM (SELECT * FROM st UNION ALL SELECT * FROM ld) GROUP BY 1, 2),
        |tt AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot FROM tr GROUP BY 1),
        |base AS MATERIALIZED (SELECT tr.src, tr.dst, CAST(n AS DOUBLE) / tot AS p
        |         FROM tr JOIN tt USING (src)),
        |ch AS MATERIALIZED (SELECT DISTINCT ch FROM (
        |  SELECT dst AS ch FROM tr WHERE dst NOT IN ('conv', 'drop')
        |  UNION ALL SELECT src AS ch FROM tr WHERE src <> 'start')),
        |scens AS (SELECT ch AS scen FROM ch UNION ALL SELECT 'full' AS scen),
        |m0 AS MATERIALIZED (
        |  SELECT scen, src,
        |    CASE WHEN scen <> 'full' AND dst = scen THEN 'drop' ELSE dst END AS dst,
        |    sum(p) AS p
        |  FROM base CROSS JOIN scens
        |  WHERE NOT (scen <> 'full' AND src = scen)
        |  GROUP BY 1, 2, 3),
        |mat AS MATERIALIZED (
        |  SELECT * FROM m0
        |  UNION ALL SELECT scen, 'conv' AS src, 'conv' AS dst, 1.0 AS p FROM scens
        |  UNION ALL SELECT scen, 'drop' AS src, 'drop' AS dst, 1.0 AS p FROM scens),
        |r0 AS (SELECT scen, 'start' AS state, 1.0 AS mass FROM scens),
        |r1 AS (SELECT m.scen, m.dst AS state, round(sum(mass * p), 9) AS mass
        |       FROM mat m JOIN r0 r ON m.scen = r.scen AND m.src = r.state GROUP BY 1, 2),
        |r2 AS (SELECT m.scen, m.dst AS state, round(sum(mass * p), 9) AS mass
        |       FROM mat m JOIN r1 r ON m.scen = r.scen AND m.src = r.state GROUP BY 1, 2),
        |r3 AS (SELECT m.scen, m.dst AS state, round(sum(mass * p), 9) AS mass
        |       FROM mat m JOIN r2 r ON m.scen = r.scen AND m.src = r.state GROUP BY 1, 2),
        |r4 AS (SELECT m.scen, m.dst AS state, round(sum(mass * p), 9) AS mass
        |       FROM mat m JOIN r3 r ON m.scen = r.scen AND m.src = r.state GROUP BY 1, 2),
        |r5 AS (SELECT m.scen, m.dst AS state, round(sum(mass * p), 9) AS mass
        |       FROM mat m JOIN r4 r ON m.scen = r.scen AND m.src = r.state GROUP BY 1, 2),
        |r6 AS (SELECT m.scen, m.dst AS state, round(sum(mass * p), 9) AS mass
        |       FROM mat m JOIN r5 r ON m.scen = r.scen AND m.src = r.state GROUP BY 1, 2),
        |conv AS MATERIALIZED (SELECT scen, mass AS pconv FROM r6 WHERE state = 'conv'),
        |fullp AS (SELECT pconv AS pfull FROM conv WHERE scen = 'full'),
        |eff AS MATERIALIZED (
        |  SELECT scen AS channel, round(pconv, 6) AS conv_if_removed,
        |    round(1.0 - pconv / nullif(pfull, 0.0), 6) AS removal_effect
        |  FROM conv CROSS JOIN fullp WHERE scen <> 'full'),
        |te AS MATERIALIZED (SELECT sum(removal_effect) AS te FROM eff)
        |SELECT channel, conv_if_removed, removal_effect,
        |  round(removal_effect / nullif(te, 0.0), 4) AS attribution_share
        |FROM eff CROSS JOIN te ORDER BY channel""".stripMargin,
    // same U-shape: fixed-order rational credits, 6-dp channel sums
    "e_position_attrib" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id, epoch_us(ts) AS tsus, event_id, event_type FROM events),
        |fp AS MATERIALIZED (
        |  SELECT user_id, min({'t': tsus, 'e': event_id}) AS fpk
        |  FROM ev WHERE event_type = 'purchase' GROUP BY user_id),
        |touches AS MATERIALIZED (
        |  SELECT ev.user_id, event_type,
        |    row_number() OVER (PARTITION BY ev.user_id ORDER BY tsus, event_id) AS rn,
        |    count(*) OVER (PARTITION BY ev.user_id) AS k
        |  FROM ev JOIN fp USING (user_id)
        |  WHERE event_type <> 'purchase'
        |    AND {'t': tsus, 'e': event_id} < fpk),
        |credited AS (
        |  SELECT event_type AS channel,
        |    CASE WHEN k = 1 THEN 1.0
        |         WHEN k = 2 THEN 0.5
        |         WHEN rn = 1 OR rn = k THEN 0.4
        |         ELSE CAST(0.2 AS DOUBLE) / (k - 2) END AS credit
        |  FROM touches),
        |agg AS MATERIALIZED (
        |  SELECT channel, round(sum(credit), 6) AS total_credit
        |  FROM credited GROUP BY channel)
        |SELECT channel, total_credit,
        |  round(total_credit / sum(total_credit) OVER (), 4) AS share
        |FROM agg ORDER BY channel""".stripMargin,
    // CV rounded to 6 dp before the threshold on both engines
    "e_bot_detect" ->
      """WITH g AS (
        |  SELECT user_id,
        |    CAST(tsus - lag(tsus) OVER
        |      (PARTITION BY user_id ORDER BY tsus, event_id) AS DOUBLE) AS gap
        |  FROM (SELECT user_id, epoch_us(ts) AS tsus, event_id FROM events)),
        |per AS (
        |  SELECT round(stddev_samp(gap) / nullif(avg(gap), 0.0), 6) AS cv6
        |  FROM g WHERE gap IS NOT NULL
        |  GROUP BY user_id HAVING count(*) >= 20)
        |SELECT count(*) AS n_users,
        |  CAST(sum(CASE WHEN cv6 < 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_bots,
        |  round(min(cv6), 6) AS min_cv,
        |  round(quantile_cont(cv6, 0.5), 6) AS p50_cv
        |FROM per""".stripMargin,
    // same md5 bucket draw both engines; sum(BIGINT) is HUGEINT in DuckDB
    "e_cms_freq" ->
      """WITH exact AS (
        |  SELECT event_type, count(*) AS exact_n FROM events GROUP BY event_type),
        |cells AS (
        |  SELECT event_type, exact_n, seed,
        |    CAST('0x' || substr(md5('cms' || seed || '|' || event_type), 1, 12)
        |      AS BIGINT) % 64 AS bucket
        |  FROM exact CROSS JOIN (SELECT unnest(range(4)) AS seed)),
        |counters AS (
        |  SELECT seed, bucket, CAST(sum(exact_n) AS BIGINT) AS cell_n
        |  FROM cells GROUP BY seed, bucket),
        |est AS (
        |  SELECT event_type, min(cell_n) AS cms_est
        |  FROM cells JOIN counters USING (seed, bucket) GROUP BY event_type)
        |SELECT exact.event_type, exact_n, cms_est, cms_est - exact_n AS overcount
        |FROM exact JOIN est USING (event_type) ORDER BY event_type""".stripMargin,
    // 4-dp rounding happens BEFORE the fill on both engines
    "e_forward_fill" ->
      s"""WITH hourly AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
        |    CAST((200 * sum(CAST(round(value * 100) AS BIGINT)) + count(*))
        |      // (2 * count(*)) AS BIGINT) / 10000.0 AS v
        |  FROM events GROUP BY 1, 2),
        |${hourSpineSql()},
        |types AS (SELECT DISTINCT event_type FROM events),
        |panel AS (SELECT event_type, hour_ts FROM types CROSS JOIN spine)
        |SELECT panel.event_type, panel.hour_ts, v,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY panel.event_type
        |    ORDER BY panel.hour_ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
        |  v IS NULL AS was_gap
        |FROM panel LEFT JOIN hourly USING (event_type, hour_ts)
        |ORDER BY event_type, hour_ts""".stripMargin,
    // per-user 4-dp sums, 6-dp theta/pre_mean scalars, then the fixed-order
    // per-row adjustment — identical rounding boundaries both engines
    "e_cuped" ->
      """WITH ev AS MATERIALIZED (SELECT user_id, epoch_us(ts) AS t, value FROM events),
        |mid AS (SELECT min(t) + (max(t) - min(t)) // 2 AS mid FROM ev),
        |per AS MATERIALIZED (
        |  SELECT user_id, user_id % 2 AS variant,
        |    round(sum(CASE WHEN t < mid THEN value ELSE 0.0 END), 4) AS pre,
        |    round(sum(CASE WHEN t >= mid THEN value ELSE 0.0 END), 4) AS post
        |  FROM ev CROSS JOIN mid GROUP BY user_id),
        |g AS MATERIALIZED (
        |  SELECT round(covar_samp(pre, post) / nullif(var_samp(pre), 0.0), 6)
        |           AS theta,
        |         round(avg(pre), 6) AS pre_mean
        |  FROM per),
        |adj AS (
        |  SELECT variant, post, post - theta * (pre - pre_mean) AS adj
        |  FROM per CROSS JOIN g)
        |SELECT variant, count(*) AS n_users,
        |  round(avg(post), 6) AS mean_post,
        |  round(avg(adj), 6) AS mean_adj,
        |  round(1.0 - var_samp(adj) / nullif(var_samp(post), 0.0), 4)
        |    AS var_reduction
        |FROM adj GROUP BY variant ORDER BY variant""".stripMargin,
    // exact BIGINT moment sums; doubles only in the final divisions
    "e_trend_ols" ->
      s"""WITH hourly AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |${hourSpineSql(", epoch_us(h0) AS t0")},
        |types AS (SELECT DISTINCT event_type FROM events),
        |pts AS (
        |  SELECT t.event_type,
        |    (epoch_us(s.hour_ts) - s.t0) // 3600000000 AS x,
        |    coalesce(h.y, 0) AS y
        |  FROM types t CROSS JOIN spine s
        |  LEFT JOIN hourly h ON h.event_type = t.event_type
        |    AND h.hour_ts = s.hour_ts),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM pts GROUP BY event_type)
        |SELECT event_type, n AS n_hours,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |        CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
        |  round((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE) /
        |        CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
        |        CAST(n AS DOUBLE), 6) AS intercept,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) *
        |        CAST(n * sxy - sx * sy AS DOUBLE) /
        |        nullif(CAST(n * sxx - sx * sx AS DOUBLE) *
        |               CAST(n * syy - sy * sy AS DOUBLE), 0.0), 6) AS r2
        |FROM m ORDER BY event_type""".stripMargin,
    // same coalition lattice: integer v(), exact factorial-ratio weights
    "e_shapley_attrib" ->
      """WITH conv AS (
        |  SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      / CAST(count(*) AS DOUBLE) > 0.2 THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY user_id),
        |ch AS (
        |  SELECT channel,
        |    CAST(row_number() OVER (ORDER BY channel) - 1 AS INT) AS idx
        |  FROM (SELECT DISTINCT event_type AS channel FROM events
        |        WHERE event_type <> 'purchase')),
        |um AS (
        |  SELECT user_id, CAST(sum(1 << idx) AS BIGINT) AS emask
        |  FROM (SELECT DISTINCT user_id, event_type AS channel FROM events
        |        WHERE event_type <> 'purchase') u
        |  JOIN ch USING (channel) GROUP BY user_id),
        |sc AS (
        |  SELECT emask, CAST(sum(conv) AS BIGINT) AS cv
        |  FROM um JOIN conv USING (user_id) GROUP BY emask),
        |nn AS (SELECT CAST(count(*) AS INT) AS nch FROM ch),
        |coal AS (SELECT nch, unnest(range(0, 1 << nch)) AS tmask FROM nn),
        |vt AS (
        |  SELECT tmask, nch,
        |    CAST(sum(CASE WHEN (emask & tmask) = emask THEN cv ELSE 0 END)
        |      AS BIGINT) AS v
        |  FROM coal CROSS JOIN sc GROUP BY tmask, nch),
        |phi AS (
        |  SELECT channel,
        |    round(sum(CAST(factorial(bit_count(t.tmask)) AS DOUBLE) *
        |      CAST(factorial(t.nch - 1 - bit_count(t.tmask)) AS DOUBLE) /
        |      CAST(factorial(t.nch) AS DOUBLE) *
        |      CAST(t2.v - t.v AS DOUBLE)), 6) AS shapley
        |  FROM ch CROSS JOIN vt t
        |  JOIN vt t2 ON t2.tmask = (t.tmask | (1 << ch.idx))
        |  WHERE (t.tmask & (1 << ch.idx)) = 0
        |  GROUP BY channel),
        |tot AS (SELECT sum(shapley) AS tot FROM phi)
        |SELECT channel, shapley, round(shapley / tot, 4) AS share
        |FROM phi CROSS JOIN tot ORDER BY channel""".stripMargin,
    // exact-BIGINT CUSUM search; struct-max with -t breaks ties earliest
    "e_changepoint" ->
      s"""WITH hourly AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |${hourSpineSql(", epoch_us(h0) AS t0")},
        |types AS (SELECT DISTINCT event_type FROM events),
        |panel AS (
        |  SELECT ty.event_type, s.hour_ts,
        |    (epoch_us(s.hour_ts) - s.t0) // 3600000000 + 1 AS t,
        |    coalesce(h.y, 0) AS y
        |  FROM types ty CROSS JOIN spine s
        |  LEFT JOIN hourly h ON h.event_type = ty.event_type
        |    AND h.hour_ts = s.hour_ts),
        |c AS (
        |  SELECT event_type, hour_ts, t,
        |    CAST(sum(y) OVER (PARTITION BY event_type ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM panel),
        |tot AS (
        |  SELECT event_type, CAST(max(t) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS sy
        |  FROM panel GROUP BY event_type),
        |sc AS (
        |  SELECT c.event_type, hour_ts, t, cum, n, sy,
        |    abs(n * cum - t * sy) AS peak
        |  FROM c JOIN tot USING (event_type) WHERE t < n),
        |mx AS (
        |  SELECT event_type,
        |    max({'peak': peak, 'negt': -t, 't': t, 'h': hour_ts,
        |         'cum': cum, 'n': n, 'sy': sy}) AS m
        |  FROM sc GROUP BY event_type)
        |SELECT event_type, (m).t AS cp_idx, (m).h AS cp_hour_ts,
        |  round(CAST((m).cum AS DOUBLE) / (m).t, 6) AS pre_mean,
        |  round(CAST((m).sy - (m).cum AS DOUBLE) / ((m).n - (m).t), 6)
        |    AS post_mean,
        |  round(CAST((m).sy - (m).cum AS DOUBLE) / ((m).n - (m).t)
        |        - CAST((m).cum AS DOUBLE) / (m).t, 6) AS shift
        |FROM mx ORDER BY event_type""".stripMargin
  )
}
