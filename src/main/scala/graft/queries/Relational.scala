package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/** Standard relational operator corpus over the star schema: scans, filters,
  * joins (broadcast/sort-merge/semi/anti/outer), aggregations, rollup/cube,
  * windows, sort/limit/top-k, set ops (SURVEY §7.4 phase 3).
  *
  * Scale notes baked into each plan:
  * - dimension joins (`part`, `customer`) are explicitly `broadcast()` — at
  *   100 TB the fact side never shuffles for those;
  * - fact-fact joins rely on sort-merge + AQE;
  * - every aggregate is expressed so map-side partial aggregation applies;
  * - every output is deterministically ordered and rounded so the DuckDB
  *   oracle hash-matches.
  */
object Relational {

  /** Morton/Z-order value: interleave the low `bits` bits of `x` (even
    * positions) and `y` (odd positions). Non-overlapping shifted bits, so
    * plain addition assembles the key exactly (no overflow below 32
    * interleaved bits).
    */
  def zValue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
      bits: Int): org.apache.spark.sql.Column =
    (0 until bits).map { b =>
      shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b) +
        shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1)
    }.reduce(_ + _)

  /** The same interleave as SQL text (for the DuckDB oracle). */
  private def zValueSql(x: String, y: String, bits: Int): String =
    (0 until bits).map { b =>
      s"((($x >> $b) & 1) << ${2 * b}) + ((($y >> $b) & 1) << ${2 * b + 1})"
    }.mkString(" + ")

  /** Catalog name of the layout table `name` that `q_bucketed_join`
    * writes for corpus `d`; its parquet lives in the corpus dir
    * [[graft.util.Dirs]] owns and removes.
    */
  private[graft] def layoutTable(d: String, name: String): String =
    s"graft_bkt_${name}_${graft.util.Dirs.corpusKey(d)}"

  /** Drop the catalog tables `q_bucketed_join` registers for `d`.
    * Idempotent; call after its results are MATERIALIZED (the returned
    * DataFrames read through the catalog, so dropping earlier would break
    * them).
    */
  private[graft] def dropLayoutTables(s: org.apache.spark.sql.SparkSession,
      d: String): Unit =
    Seq("orders", "customer").foreach(n =>
      s.sql(s"DROP TABLE IF EXISTS ${layoutTable(d, n)}"))

  val queries: Map[String, Q] = Map(
    // TPC-H-Q1-shaped pricing summary: scan → filter → partial+final agg.
    "q1_agg" -> ((s, d) => {
      // EXACT integer-cent accumulation (every input is 2-dp by
      // construction): at sf10 the double formulation's 60 M-term sums
      // drifted ~1e-2 absolute at 1e11 magnitudes, making the rounded
      // cent summation-order-dependent — the same class the sf1
      // multi-file gate caught in e_forward_fill. Integer sums are
      // order-free and engine-exact; the rounded outputs use the integer
      // half-up identity round(p/q) = (2p+q) div (2q), then ONE
      // deterministic division back to double (same bits both engines).
      // Beyond ~1e9 rows the disc-price cent-product sum approaches
      // int64 range — swap its accumulator to decimal(38,0) there.
      t(s, d, "lineitem")
        .filter(to_date(col("l_shipdate")) <= lit("2000-12-01"))
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("l_quantity") * 100).cast("bigint").as("qc"),
          round(col("l_extendedprice") * 100).cast("bigint").as("pc"),
          round(col("l_discount") * 100).cast("bigint").as("dc"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("qc").as("sq"), sum("pc").as("sp"),
          sum(col("pc") * (lit(100L) - col("dc"))).as("spd"),
          sum("dc").as("sd"), count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("l_linestatus"),
          (col("sq").cast("double") / 100.0).as("sum_qty"),
          (col("sp").cast("double") / 100.0).as("sum_base_price"),
          (expr("(2 * spd + 100) div 200") / 100.0).as("sum_disc_price"),
          (expr("(200 * sq + n) div (2 * n)") / 10000.0).as("avg_qty"),
          (expr("(200 * sd + n) div (2 * n)") / 10000.0).as("avg_disc"),
          col("n").as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // TPC-H-Q3-shaped: selective dim filter → 3-way join → top-k revenue.
    "q3_join_topk" -> ((s, d) => {
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders").filter(to_date(col("o_orderdate")) < lit("1999-01-01"))
      val l = t(s, d, "lineitem")
      broadcast(c).join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(o("o_orderkey").as("o_orderkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // Broadcast dim join: fact side never shuffles.
    "q_join_broadcast" -> ((s, d) => {
      val l = t(s, d, "lineitem")
      val p = t(s, d, "part")
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("p_brand")
    }),

    // Left-semi join: existence check without materializing the right side.
    "q_semi_join" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_totalprice") > 100000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // Left-anti join: customers with no pending ('P') orders, by segment.
    "q_anti_join" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_orderstatus") === "P")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")
    }),

    // Left-outer join preserving match-less rows; null-safe aggregation.
    "q_outer_join" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(c("c_custkey").as("c_custkey"))
        .agg(
          count(o("o_orderkey")).as("n_orders"),
          round(sum(coalesce(o("o_totalprice"), lit(0.0))), 2).as("total_spent"))
        .orderBy("c_custkey")
    }),

    "q_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")),

    // Hierarchical totals in one pass (partial-agg friendly).
    "q_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    "q_cube" -> ((s, d) =>
      // exact integer-cent accumulation (the q1_agg class): the grand-
      // total cell re-sums every order — 3.75e12 cents at sf10, where a
      // double sum's rounded cent flips with summation order
      t(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          (sum(round(col("o_totalprice") * 100).cast("bigint"))
            .cast("double") / 100.0).as("sum_price"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),

    // Ranked top-3 per group; unique tiebreak key keeps it deterministic.
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rn")
    }),

    // Moving sum + lag over an event-ordered per-key window.
    "q_window_moving" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("mv_sum3",
          round(sum("o_totalprice").over(w.rowsBetween(-2, 0)), 2))
        .withColumn("prev_price",
          round(coalesce(lag("o_totalprice", 1).over(w), lit(0.0)), 2))
        .select("o_custkey", "o_orderkey", "mv_sum3", "prev_price")
        .orderBy("o_custkey", "o_orderkey")
    }),

    // RANGE window frame (value-based, vs q_window_moving's ROWS frame):
    // 30-day sliding spend per customer — the frame is defined by the ORDER
    // expression's VALUE distance, so gaps in order dates behave correctly
    // (a ROWS frame would silently span arbitrary time). Same single
    // shuffle on the partition key as any window.
    "q_window_range" -> ((s, d) => {
      val withDay = t(s, d, "orders")
        .withColumn("day_n",
          datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01"))))
      val w = Window.partitionBy("o_custkey").orderBy(col("day_n"))
        .rangeBetween(-30, 0)
      withDay
        .withColumn("sum_30d", round(sum("o_totalprice").over(w), 2))
        .select("o_orderkey", "o_custkey", "day_n", "sum_30d")
        .orderBy("o_orderkey")
    }),

    // Top-k: Catalyst plans orderBy+limit as TakeOrderedAndProject (no full sort).
    "q_topk" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    "q_intersect" -> ((s, d) => {
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "MACHINERY")
        .select(col("c_custkey").as("k"))
      val o = t(s, d, "orders").select(col("o_custkey").as("k"))
      c.intersect(o).orderBy("k")
    }),

    "q_except" -> ((s, d) => {
      val c = t(s, d, "customer").select(col("c_custkey").as("k"))
      val o = t(s, d, "orders").filter(col("o_orderstatus") === "P")
        .select(col("o_custkey").as("k"))
      c.except(o).orderBy("k")
    }),

    // As-of (point-in-time) join — an operator Spark lacks natively,
    // composed per the preference order (SURVEY §7.5a): tag + UNION the two
    // sides on (key, time), one window pass carrying the last non-null
    // right-side payload forward, filter back to left rows. ONE shuffle on
    // the key — no range cross-join, no per-row subquery — so it scales
    // like any windowed aggregation. Right side is pre-aggregated to one
    // row per (key, time) so ties are deterministic. DuckDB oracle uses its
    // native ASOF LEFT JOIN.
    "q_asof_join" -> ((s, d) => {
      val od = t(s, d, "orders")
        .groupBy(col("o_custkey").as("k"), to_date(col("o_orderdate")).as("t"))
        .agg(max("o_totalprice").as("p"))
      val ev = Tables.events(s, d)
        .select(col("user_id").as("k"), to_date(col("ts")).as("t"), col("event_id"))
      val tagged = od.select(col("k"), col("t"), lit(null).cast("bigint").as("event_id"),
          col("p"), lit(0).as("tag"))
        .unionByName(ev.select(col("k"), col("t"), col("event_id"),
          lit(null).cast("double").as("p"), lit(1).as("tag")))
      val w = Window.partitionBy("k").orderBy(col("t"), col("tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("last_price", last("p", ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(col("event_id"), col("k").as("user_id"), col("last_price"))
        .orderBy("event_id")
    }),

    // Range join (same-customer orders within ±7 days of each other) —
    // composed as a bucket equi-join (SURVEY §7.5a): days bin into 7-day
    // buckets, the probe side explodes to its 3 candidate buckets, the join
    // is an equi-join on (key, bucket) with the exact range predicate as a
    // cheap post-filter. Spark would plan the naive inequality join as a
    // broadcast nested loop — this scales as a 3× fan-out hash join.
    "q_range_join" -> ((s, d) => {
      val base = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey").as("k"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01"))).as("ed"))
      val probe = base.withColumn("b",
        explode(array(floor(col("ed") / 7) - 1, floor(col("ed") / 7), floor(col("ed") / 7) + 1)))
      val build = base.select(col("k").as("k2"), col("o_orderkey").as("ok2"),
        col("ed").as("ed2"), floor(col("ed") / 7).as("b2"))
      val matched = probe.join(build,
          probe("k") === build("k2") && probe("b") === build("b2") &&
            probe("o_orderkey") =!= build("ok2") && abs(probe("ed") - build("ed2")) <= 7)
        .groupBy(probe("o_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("n_within"))
      base.join(matched, Seq("o_orderkey"), "left")
        .select(coalesce(col("n_within"), lit(0L)).as("n_within"))
        .groupBy("n_within")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("n_within")
    }),

    // Pivot: status columns per priority (conditional-aggregation form —
    // fixed value list, so no extra distinct-values job at scale).
    "q_pivot" -> ((s, d) =>
      // exact integer-cent cells (the q1_agg class: 15 cells re-sum the
      // whole orders table — 1e12 cents per cell at sf10)
      t(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint"))
          .cast("double") / 100.0)
        .orderBy("o_orderpriority")),

    // Exact percentiles (median / p90) per group — single-pass sort-based
    // aggregation; the approximate path at extreme scale is
    // approx_percentile (same API shape).
    "q_percentile" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 2).as("median_price"),
          round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90_price"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")),

    // Correlated subquery through the SQL surface — Catalyst decorrelates
    // it into an aggregate + join (no per-row subquery execution).
    "q_correlated_subquery" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o_custkey, count(*) AS n_big
          |FROM orders_v o
          |WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders_v i
          |                          WHERE i.o_custkey = o.o_custkey)
          |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
    }),

    // GROUPING SETS through the SQL surface (finer-grained than rollup/cube).
    "q_grouping_sets" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
          |round(sum(l_quantity), 2) AS sum_qty
          |FROM lineitem_v
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    }),

    // Sketch-based distinct (HLL++), SELF-VERIFYING: the sketch value is
    // approximation-specific, so the OUTPUT is the exact distinct count plus
    // a within-tolerance boolean (|approx−exact|/exact ≤ 3×rsd) — which makes
    // the check fully DuckDB-oracle-checkable. NOTE the exact countDistinct
    // here exists only to GRADE the sketch and is the expensive side (it
    // plans an Expand + distinct shuffle); a production caller at 100 TB
    // uses approx_count_distinct alone — one pass, bounded sketch memory.
    // Column profiler (the Deequ/"analyze table" shape): one summary row
    // per column — null count, exact distinct count, typed min/max (numeric
    // columns as rounded doubles; string/date columns as strings, so no
    // engine-specific float formatting leaks into the hash). Each branch is
    // a one-column pruned scan + partial-agg; the 6-branch union is how a
    // profiler keeps per-column pushdown at 100 TB (columnar scans make the
    // extra passes cheap; a single unpivot pass would read every column to
    // profile any of them).
    "q_profile" -> ((s, d) => {
      val o = t(s, d, "orders")
      def num(c: String, scale: Int) = o.agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col(c))).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        round(min(col(c)).cast("double"), scale).as("min_num"),
        round(max(col(c)).cast("double"), scale).as("max_num"),
        lit(null).cast("string").as("min_s"),
        lit(null).cast("string").as("max_s"))
        .select(lit(c).as("col_name"), col("*"))
      // n_nulls counts on the RAW column: the oracle profiles the varchar as
      // stored, and a non-castable value would null out (or throw under
      // ANSI) only on the Spark side if counted after the cast.
      def str(c: org.apache.spark.sql.Column, name: String,
              raw: org.apache.spark.sql.Column) = o.agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(raw)).as("n_nulls"),
        countDistinct(c).as("n_distinct"),
        lit(null).cast("double").as("min_num"),
        lit(null).cast("double").as("max_num"),
        min(c).cast("string").as("min_s"),
        max(c).cast("string").as("max_s"))
        .select(lit(name).as("col_name"), col("*"))
      num("o_orderkey", 0)
        .union(num("o_custkey", 0))
        .union(str(col("o_orderstatus"), "o_orderstatus", col("o_orderstatus")))
        .union(num("o_totalprice", 2))
        .union(str(col("o_orderdate").cast("date"), "o_orderdate", col("o_orderdate")))
        .union(str(col("o_orderpriority"), "o_orderpriority", col("o_orderpriority")))
        .orderBy("col_name")
    }),

    // Z-order layout: interleave the bits of two cluster keys into one
    // sort key, so range filters on EITHER key prune contiguous runs —
    // the data-layout primitive behind multi-column file skipping. The
    // query buckets orders by high z-bits and shows each bucket spans a
    // bounded range of BOTH keys (locality proof). At scale: write with
    // repartitionByRange(zValue) + sortWithinPartitions so parquet
    // min/max stats prune on both columns.
    "q_zorder" -> ((s, d) => {
      val x = pmod(col("o_custkey"), lit(65536L))
      val y = datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
        .cast("bigint")
      t(s, d, "orders")
        .select(x.as("x"), y.as("y"))
        .select(col("x"), col("y"), zValue(col("x"), col("y"), 16).as("z"))
        .groupBy(shiftright(col("z"), 18).as("z_bucket"))
        .agg(count(lit(1)).as("n"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .orderBy("z_bucket")
    }),

    "q_approx_count_distinct" -> ((s, d) => {
      val rsd = 0.05
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct("l_partkey", rsd).as("approx_parts"),
          countDistinct(col("l_partkey")).as("n_parts"))
        .select(col("l_returnflag"), col("n_parts"),
          (abs(col("approx_parts") - col("n_parts")).cast("double") /
            col("n_parts").cast("double") <= 3 * rsd).as("within_tol"))
        .orderBy("l_returnflag")
    }),

    // Approximate percentile — the mergeable bounded-memory sketch that
    // replaces exact `percentile` at 100 TB (exact needs every group
    // value materialized on one task; the GK sketch merges map-side).
    // Self-grading, engine-neutral output (the q_approx_count_distinct
    // discipline): the sketch estimate itself never leaves the plan — the
    // output carries the EXACT p50 (hash-checkable in DuckDB) plus a
    // boolean that the estimate lands inside the exact p45–p55 rank band,
    // far looser than the sketch's 1/1000-rank accuracy bound.
    "q_approx_percentile" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_orderpriority")
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 2).as("exact_p50"),
          expr("approx_percentile(o_totalprice, 0.5, 1000)").as("ap"),
          expr("percentile(o_totalprice, array(0.45, 0.55))").as("band"))
        .select(col("o_orderpriority"), col("exact_p50"),
          (col("ap") >= col("band").getItem(0) &&
            col("ap") <= col("band").getItem(1)).as("within_band"))
        .orderBy("o_orderpriority")),

    // SCD2 merge — the incremental-ingest primitive: a stream of per-key
    // change events (here: each customer's orders as status observations)
    // becomes a slowly-changing-dimension version table with
    // valid_from/valid_to ranges. Change detection via lag(), range close
    // via lead() — BOTH windows share one (partition, order) spec, so the
    // whole operator is a single shuffle + sort per key at any scale; the
    // order includes the unique orderkey so same-day events are
    // deterministic. No MERGE loop, no driver state.
    "q_scd2_merge" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, d, "orders").select(
        col("o_custkey").as("k"), col("o_orderdate").cast("date").as("dt"),
        col("o_orderkey").as("ok"), col("o_orderstatus").as("st"))
      val w = Window.partitionBy("k").orderBy(col("dt"), col("ok"))
      val changes = o.withColumn("prev", lag(col("st"), 1).over(w))
        .filter(col("prev").isNull || col("st") =!= col("prev"))
      val vers = changes.withColumn("valid_to", lead(col("dt"), 1).over(w))
      vers.groupBy("st").agg(
        count(lit(1)).as("n_versions"),
        sum(when(col("valid_to").isNull, 1L).otherwise(0L)).cast("bigint").as("n_current"),
        min(col("dt")).cast("string").as("first_from"),
        max(coalesce(col("valid_to"), lit("9999-12-31").cast("date"))).cast("string").as("last_to"))
        .orderBy("st")
    }),

    // Incremental aggregation — materialized-view maintenance: a daily 100 TB
    // pipeline never re-aggregates history; it keeps mergeable PARTIAL state
    // (count/sum/min/max — every algebraic aggregate) per group and folds
    // each new partition in. Here the "existing view" is pre-1996 orders and
    // the "arriving partition" is the rest; the query merges the two states,
    // and the DuckDB oracle is the plain single-pass group-by — so the gate
    // itself proves merged state == full recompute, which is the correctness
    // invariant incremental maintenance depends on.
    "q_incr_agg" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderpriority").as("prio"),
        col("o_totalprice").as("price"),
        (col("o_orderdate").cast("date") < lit("1996-01-01").cast("date")).as("is_old"))
      // partial sums carry exact integer cents (the q1_agg class:
      // priority-level sums reach 7.5e11 at sf10, summation-order-
      // dependent as doubles); min/max merge is exact in any type
      def state(df: org.apache.spark.sql.DataFrame) = df.groupBy("prio").agg(
        count(lit(1)).as("n"),
        sum(round(col("price") * 100).cast("bigint")).as("sc"),
        min("price").as("mn"), max("price").as("mx"))
      val merged = state(o.filter(col("is_old")))
        .unionByName(state(o.filter(!col("is_old"))))
        .groupBy("prio").agg(
          sum("n").as("n_orders"), sum("sc").as("sum_c"),
          min("mn").as("min_price"), max("mx").as("max_price"))
      merged.select(col("prio"), col("n_orders").cast("bigint").as("n_orders"),
        (col("sum_c").cast("double") / 100.0).as("sum_price"),
        round(col("min_price"), 2).as("min_price"),
        round(col("max_price"), 2).as("max_price"))
        .orderBy("prio")
    }),

    // Misra-Gries heavy hitters (Spark's stat.freqItems): the sketch's
    // membership is partition-order specific, but its GUARANTEE is not —
    // every item with frequency > n/k MUST appear. The query asserts that
    // guarantee against the exact heavy-hitter set, so an approximate
    // sketch gets a deterministic, DuckDB-checkable output (the
    // q_approx_count_distinct discipline).
    "q_freq_items" -> ((s, d) => {
      val k = 20
      val o = t(s, d, "orders")
      val total = o.agg(count(lit(1)).as("n_total"))
      val sketch = o.stat.freqItems(Seq("o_orderpriority"), 1.0 / k)
        .select(explode(col("o_orderpriority_freqItems")).as("item"))
      val exactHeavy = o.groupBy(col("o_orderpriority").as("item"))
        .agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt").cast("double") > col("n_total").cast("double") / k)
      exactHeavy.join(broadcast(sketch), Seq("item"), "left_semi")
        .agg(count(lit(1)).as("n_found"))
        .crossJoin(broadcast(exactHeavy.agg(count(lit(1)).as("n_heavy"))))
        .select(col("n_heavy"), col("n_found"),
          (col("n_found") === col("n_heavy")).as("pass"))
    }),

    // Distribution windows: ntile / percent_rank / cume_dist per priority.
    // All three share ONE (partition, order) spec — a single shuffle +
    // sort; the unique orderkey tiebreak makes tile assignment
    // deterministic. Both engines hand remainder rows to the first tiles,
    // so quartile membership is bit-identical cross-engine. NOTE the
    // parallelism ceiling: ranking windows materialize each partition on
    // one task, so it equals the partition key's cardinality (5 here) —
    // at 100 TB you partition by a higher-cardinality key, or trade
    // exactness for approx_percentile when only quantile BOUNDARIES are
    // needed.
    "q_window_ntile" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"),
          ntile(4).over(w).cast("bigint").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .groupBy("prio", "quartile")
        .agg(count(lit(1)).as("n"),
          round(min("price"), 2).as("min_price"),
          round(max("price"), 2).as("max_price"),
          round(avg("pr"), 6).as("avg_pct_rank"),
          round(avg("cd"), 6).as("avg_cume_dist"))
        .orderBy("prio", "quartile")
    }),

    // Unpivot (melt): wide per-priority aggregate → long (prio, metric,
    // value) triples via Dataset.unpivot — Catalyst's Expand node, a
    // narrow row-multiplying map with NO shuffle beyond the feeding
    // aggregation. Metrics are cast to a common double before melting
    // (unpivot requires a single value type).
    "q_unpivot" -> ((s, d) => {
      // exact integer-cent accumulation (the q1_agg class: priority-level
      // price sums reach 7.5e11 at sf10); avg via the half-up identity
      val wide = t(s, d, "orders").groupBy(col("o_orderpriority").as("prio"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("pc"),
          count(lit(1)).as("n"))
        .select(col("prio"),
          (col("pc").cast("double") / 100.0).as("sum_price"),
          (expr("(200 * pc + n) div (2 * n)") / 10000.0).as("avg_price"),
          col("n").cast("double").as("n_orders"))
      wide.unpivot(
          Array(col("prio")),
          Array(col("sum_price"), col("avg_price"), col("n_orders")),
          "metric", "value")
        .orderBy("prio", "metric")
    }),

    // Salted two-phase aggregation (util.Skew.saltedSum) as a corpus entry:
    // the oracle is the PLAIN group-by, so the gate proves the salt →
    // partial-agg → merge rewrite is semantics-preserving. This is the
    // shape that keeps one hot group key from pinning a single reducer at
    // 100 TB — the hot key spreads over `salts` partitions in phase 1 and
    // phase 2 merges `salts` tiny rows per key.
    "q_salted_agg" -> ((s, d) =>
      graft.util.Skew.saltedSum(t(s, d, "lineitem"), "l_returnflag", "l_quantity", 8)
        .select(col("l_returnflag"),
          round(col("sum_l_quantity"), 2).as("sum_qty"),
          col("cnt").cast("bigint").as("cnt"))
        .orderBy("l_returnflag")),

    // Mergeable HLL sketches — incremental maintenance for DISTINCT counts
    // (the q_incr_agg pattern where plain sum/min/max state is not enough):
    // per-era sketches built independently (pre-/post-1996 orders), merged
    // with hll_union_agg, estimate checked against the exact distinct. A
    // daily 100 TB pipeline stores one ~4 KB sketch per partition and
    // unions them at query time instead of re-scanning history. HLL is
    // deterministic (no RNG), so the within-2% pass is stable per dataset
    // and the output oracle-checkable (the q_approx_count_distinct
    // discipline).
    "q_hll_incr" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_custkey"),
        (col("o_orderdate").cast("date") < lit("1996-01-01").cast("date")).as("is_old"))
      val sketches = o.groupBy("is_old").agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      val merged = sketches.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = o.agg(countDistinct(col("o_custkey")).as("n_exact"))
      // the estimate itself is sketch-config specific, so the comparable
      // output is exact + the tolerance verdict (q_approx_count_distinct
      // discipline)
      merged.crossJoin(broadcast(exact))
        .select(col("n_exact"),
          (abs(col("est").cast("double") - col("n_exact").cast("double")) /
            col("n_exact").cast("double") <= 0.02).as("within_tol"))
    }),

    // Latest-record-per-key compaction (the CDC upsert materialization):
    // ONE max-of-struct aggregation — lexicographic struct comparison on
    // (date, orderkey) picks the newest record deterministically, with
    // map-side partial aggregation and no window sort. Same max-of-struct
    // argmax discipline as the kmeans/IVF ties; DuckDB compares structs
    // field-order-lexicographically exactly like Spark.
    "q_latest_by_key" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_custkey"),
          struct(col("o_orderdate").cast("date").as("dt"),
            col("o_orderkey").as("ok"),
            col("o_orderstatus").as("st"),
            col("o_totalprice").as("price")).as("rec"))
        .groupBy("o_custkey")
        .agg(max(col("rec")).as("r"))
        .select(col("o_custkey"),
          col("r.dt").cast("string").as("last_date"),
          col("r.ok").as("last_orderkey"),
          col("r.st").as("last_status"),
          round(col("r.price"), 2).as("last_price"))
        .orderBy("o_custkey"))
,

    // Full star-schema join (TPC-H Q5 shape): fact lineitem meets orders
    // (fact-fact, sort-merge + AQE), then the dimension chain
    // customer→nation→region. nation (25 rows) and region (5 rows) are
    // bounded by the TPC-H spec regardless of SF, so they carry explicit
    // broadcast hints; customer scales LINEARLY with SF (150k rows/SF) so
    // it gets NO hint — an explicit broadcast() overrides every size
    // threshold and would OOM the driver at large scale. At small SFs AQE
    // broadcasts customer on its own (asserted on the executed plan in
    // PlanSpec); at 100 TB it degrades gracefully to a shuffle join.
    "q_star_join" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      val r = t(s, d, "region").filter(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"), year(col("o_orderdate").cast("date")).as("yr"))
        // revenue sums in EXACT decimal: each item's price×(1−disc) is an
        // exact 4-dp number (2-dp price × 2-dp discount), so the
        // decimal(18,4) cast is lossless and the sum is order-independent
        // — a double sum of 34k items at sf1 landed a group exactly on a
        // round-half boundary (…857.485) and the two engines' summation
        // orders rounded it apart. Output stays double for the schema.
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")), 2).cast("double")
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .select(col("n_name"), col("yr").cast("bigint").as("yr"),
          col("revenue"), col("n_items"))
        .orderBy("n_name", "yr")
    }),

    // Fixed-width histogram (data-profiling op): 20 buckets over a LITERAL
    // [0, 600k) range, bucket id by floor division — one partial-agg'd
    // groupBy over ≤21 groups, no data-dependent bounds pass, no sort
    // until the 21-row result. Spelled as explicit floor arithmetic (not
    // width_bucket) so both engines share one IEEE double expression.
    "q_histogram" -> ((s, d) =>
      t(s, d, "orders")
        .select(least(floor(col("o_totalprice") / 30000.0).cast("bigint"),
          lit(19L)).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .withColumn("lo", round(lit(30000.0) * col("bucket"), 1))
        .orderBy("bucket"))
,

    // Interval-overlap via sweep line — max items simultaneously in
    // transit, per year. The naive form is an interval self-join (O(n²)
    // pairs); the scalable form is +1/−1 boundary events → per-day
    // partial-agg'd deltas → ONE running sum over the per-day series.
    // The running-sum window is ordered globally, but its input is the
    // per-DAY aggregate: cardinality = the calendar span (~2.5k rows
    // regardless of SF) — the t_zipf_slope bounded-window discipline,
    // never a window over raw lineitem. Transit duration is derived
    // deterministically from l_linenumber (the testdata carries no
    // receipt date): linenumber is 1..7 in TPC-H, so durations span
    // 3–9 days (the mod-30 keeps the formula meaningful for data where
    // the line counter runs higher).
    "q_interval_overlap" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val deltas = li.select(to_date(col("l_shipdate")).as("day"), lit(1L).as("delta"))
        .unionAll(li.select(
          date_add(to_date(col("l_shipdate")),
            (pmod(col("l_linenumber"), lit(30)) + lit(2)).cast("int")).as("day"),
          lit(-1L).as("delta")))
        .groupBy("day").agg(sum("delta").as("d"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas.withColumn("concurrent", sum("d").over(w))
        .groupBy(year(col("day")).cast("bigint").as("yr"))
        .agg(max("concurrent").as("peak_concurrent"),
          round(avg("concurrent"), 2).as("avg_concurrent"),
          count(lit(1)).as("n_days"))
        .orderBy("yr")
    }),

    // RFM customer segmentation — recency / frequency / monetary quintile
    // scores without any global window: per-customer aggregates (one
    // partial-agg'd shuffle), quintile BREAKPOINTS from a 1-row exact
    // percentile aggregate broadcast back (the q_percentile parity:
    // Spark `percentile` ≡ DuckDB `quantile_cont`), scores by comparison
    // against the broadcast thresholds. ntile() would drag every
    // customer into one sorted partition — the shape PlanSpec forbids.
    "q_rfm_segment" -> ((s, d) => {
      val o = t(s, d, "orders")
      val maxDay = o.agg(max(to_date(col("o_orderdate"))).as("as_of"))
      val rfm = o.groupBy("o_custkey")
        .agg(max(to_date(col("o_orderdate"))).as("last_day"),
          count(lit(1)).as("freq"),
          // rounded to 2 dp BEFORE the quantile cut: the double sum is
          // partition-order-dependent, and a score compares each value
          // against a threshold interpolated from these same values —
          // rounding makes value and threshold bit-identical cross-engine
          round(sum(col("o_totalprice")), 2).as("monetary"))
        .crossJoin(broadcast(maxDay))
        .select(col("o_custkey"),
          datediff(col("as_of"), col("last_day")).cast("double").as("rec"),
          col("freq").cast("double").as("freq"), col("monetary"))
      val cuts = rfm.agg(
        expr("percentile(rec, array(0.2, 0.4, 0.6, 0.8))").as("rc"),
        expr("percentile(freq, array(0.2, 0.4, 0.6, 0.8))").as("fc"),
        expr("percentile(monetary, array(0.2, 0.4, 0.6, 0.8))").as("mc"))
      def score(v: Column, cutsCol: Column, reversed: Boolean): Column = {
        // 1 + number of breakpoints strictly below the value (5 = best)
        val q = lit(1) +
          (0 until 4).map(i => when(v > cutsCol.getItem(i), 1).otherwise(0))
            .reduce(_ + _)
        if (reversed) lit(6) - q else q // low recency = good
      }
      rfm.crossJoin(broadcast(cuts))
        .select(col("o_custkey"),
          score(col("rec"), col("rc"), reversed = true).as("r"),
          score(col("freq"), col("fc"), reversed = false).as("f"),
          score(col("monetary"), col("mc"), reversed = false).as("m"))
        .groupBy("r", "f", "m")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("r", "f", "m")
    }),

    // Join-key skew profiler — the measurement behind the salt-or-not
    // decision (util.Skew): per-key counts (one partial-agg'd shuffle over
    // the key), then a single aggregate over the per-key histogram: key
    // count, max share, p99 count, Shannon entropy of the key
    // distribution (uniform keys → entropy ≈ ln n_keys; a hot key drives
    // max_share up and entropy down). Never sorts, never windows.
    "q_skew_detect" -> ((s, d) => {
      val counts = t(s, d, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum("cnt").as("tot"))
      val entropy = counts.crossJoin(broadcast(tot))
        .select((col("cnt") / col("tot")).as("p"))
        .agg(round(-sum(col("p") * log(col("p"))) + lit(0.0), 6).as("entropy"))
      counts.agg(
          count(lit(1)).as("n_keys"),
          sum("cnt").cast("bigint").as("n_rows"),
          max("cnt").as("max_cnt"),
          round(expr("percentile(cnt, 0.99)"), 2).as("p99_cnt"))
        .crossJoin(broadcast(entropy))
        .select(col("n_keys"), col("n_rows"),
          round(col("max_cnt") / col("n_rows"), 6).as("max_share"),
          col("p99_cnt"), col("entropy"))
    }),

    // Revenue concentration (Pareto report) — share of total revenue held
    // by the top 1% / 5% / 20% of customers, WITHOUT sorting customers:
    // per-customer revenue (partial-agg'd, rounded to 2 dp so value and
    // threshold are bit-identical cross-engine — the q_rfm_segment
    // discipline), exact percentile thresholds from a 1-row broadcast,
    // then one conditional-sum pass. A rank/cumsum formulation would drag
    // every customer into one sorted partition; this never sorts at all.
    "q_pareto_share" -> ((s, d) => {
      // per-customer revenue in exact integer cents (2-dp data): the
      // global re-sum reaches 3.75e12 at sf10, where a double sum's
      // accumulated ulp flips the rounded cent with summation order (the
      // q1_agg class). Integer cent sums are order-free; per-customer
      // cents stay < 2^53, so rev-as-double is exact too.
      val rev = t(s, d, "orders").groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("revc"))
        .select(col("revc"), (col("revc").cast("double") / 100.0).as("rev"))
      val cuts = rev.agg(
        expr("percentile(rev, array(0.99, 0.95, 0.80))").as("c"))
      rev.crossJoin(broadcast(cuts))
        .agg(count(lit(1)).as("n_customers"),
          (sum("revc").cast("double") / 100.0).as("total_rev"),
          round(sum(when(col("rev") >= col("c").getItem(0), col("revc"))
            .otherwise(0L)).cast("double") / sum("revc").cast("double"), 6).as("share_top1"),
          round(sum(when(col("rev") >= col("c").getItem(1), col("revc"))
            .otherwise(0L)).cast("double") / sum("revc").cast("double"), 6).as("share_top5"),
          round(sum(when(col("rev") >= col("c").getItem(2), col("revc"))
            .otherwise(0L)).cast("double") / sum("revc").cast("double"), 6).as("share_top20"))
    }),

    // Distribution-position windows — percent_rank + cume_dist of each
    // supplier's revenue within its nation (the "where does this vendor sit
    // in its market" query). Revenue is summed in EXACT decimal (the
    // q_star_join discipline) so the window ORDER BY key is bit-identical
    // cross-engine — rank functions are discontinuous in their sort key, so
    // a rounded double would risk rank flips near ties. Plan shape at
    // scale: partial-agg'd revenue per supplier (one shuffle on l_suppkey),
    // an UNHINTED join to supplier (AQE broadcasts at test SFs; both sides
    // shuffle on suppkey at 100 TB), then windows partitioned by nation —
    // 25 bounded partitions of |suppliers|/25 rows each, never a global
    // sort.
    "q_window_dist" -> ((s, d) => {
      val rev = t(s, d, "lineitem").groupBy("l_suppkey")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).as("rev"))
      rev.join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_nationkey").cast("bigint").as("nationkey"),
          col("s_suppkey").as("suppkey"), col("rev"))
        .withColumn("pr", round(percent_rank().over(
          Window.partitionBy("nationkey").orderBy("rev")), 6))
        .withColumn("cd", round(cume_dist().over(
          Window.partitionBy("nationkey").orderBy("rev")), 6))
        .select(col("nationkey"), col("suppkey"),
          round(col("rev"), 2).cast("double").as("revenue"), col("pr"), col("cd"))
        .orderBy("nationkey", "suppkey")
    }),

    // Market-basket association rules — co-purchased part pairs ranked by
    // lift, with a min-support gate. The pair stream comes from a
    // self-join ON THE ORDER KEY, whose fan-out is bounded by the max
    // basket size (≤ n(n−1)/2 per order — never corpus-quadratic; the
    // TPC-H cap is 7 items, here 13). Item supports and the order count
    // derive from their own partial-agg'd passes; the support joins stay
    // UNHINTED (item cardinality scales with the catalog — AQE broadcasts
    // at test SFs). Lift is per-row double arithmetic in one fixed
    // expression order, rounded to 6 dp as the rank key; top-15 via
    // TakeOrdered, never a global sort of the pair space.
    "q_assoc_rules" -> ((s, d) => {
      val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey").distinct()
      // order count derives from the SAME distinct stream (no second
      // lineitem scan; the distinct's exchange is shared)
      val nOrders = li.agg(countDistinct("l_orderkey").cast("double").as("n_orders"))
      val item = li.groupBy("l_partkey").agg(count(lit(1)).as("ci"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        // min-support 2: the synthetic baskets are near-uniform (pair
        // supports don't concentrate — max support is 3–5 at every SF), so
        // a production-style high gate would return nothing; the PLAN is
        // identical whatever the literal
        .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
        .agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 2)
      pairs
        .join(item.withColumnRenamed("l_partkey", "pa").withColumnRenamed("ci", "ca"), "pa")
        .join(item.withColumnRenamed("l_partkey", "pb").withColumnRenamed("ci", "cb"), "pb")
        .crossJoin(broadcast(nOrders))
        .select(col("pa"), col("pb"), col("cab"),
          round((col("cab") / col("n_orders")) /
            ((col("ca") / col("n_orders")) * (col("cb") / col("n_orders"))), 6).as("lift"))
        .orderBy(col("lift").desc, col("pa"), col("pb"))
        .limit(15)
    }),

    // Blocked fuzzy self-join — near-identical part names via Levenshtein
    // distance ≤ 2, the record-linkage primitive. The O(n²) name space is
    // cut by BLOCKING on the head noun (last token): candidate pairs only
    // form inside a block, so the edit-distance predicate — which no join
    // algorithm can index — runs on a bounded candidate set; at catalog
    // scale the block key is the join's shuffle key. Both engines compute
    // the same integer metric (`levenshtein` ≡ `levenshtein`), and the
    // name inequality dedups the symmetric pair.
    "q_fuzzy_join" -> ((s, d) => {
      val names = t(s, d, "part").select(col("p_name")).distinct()
        .withColumn("blk", element_at(split(col("p_name"), " "), -1))
      names.as("a").join(names.as("b"),
          col("a.blk") === col("b.blk") && col("a.p_name") < col("b.p_name"))
        .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
          levenshtein(col("a.p_name"), col("b.p_name")).as("dist"))
        .filter(col("dist") <= 2)
        .orderBy("name_a", "name_b")
    }),

    // CDC changelog compaction — apply an ordered upsert/delete log to
    // produce the current snapshot, the core of every Delta/Hudi-style
    // MERGE pipeline. The log is derived deterministically from orders
    // (key = orderkey % 1000 so every key sees many versions; every 10th
    // change is a delete). Compaction is ONE hash aggregate with
    // max_by(col, seq) — no row_number window, no sort: partial max_by
    // merges map-side, so at 100 TB the shuffle carries one candidate row
    // per (key, partition), not the whole changelog. A key whose LATEST
    // op is a delete vanishes from the snapshot; earlier deletes are
    // overridden by later upserts, exactly like replayed CDC.
    "q_cdc_apply" -> ((s, d) => {
      val log = t(s, d, "orders").select(
        (col("o_orderkey") % 1000).as("k"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 10 === 0, lit("D")).otherwise(lit("U")).as("op"),
        col("o_totalprice"), col("o_orderstatus"))
      log.groupBy("k").agg(
          count(lit(1)).as("n_changes"),
          max_by(col("op"), col("seq")).as("last_op"),
          max_by(col("o_totalprice"), col("seq")).as("price"),
          max_by(col("o_orderstatus"), col("seq")).as("status"))
        .filter(col("last_op") =!= "D")
        .select(col("k"), col("n_changes"),
          round(col("price"), 2).as("price"), col("status"))
        .orderBy("k")
    }),

    // Benford first-digit audit — the forensic data-QA check: naturally
    // occurring amounts follow P(d) = log10(1 + 1/d); fabricated or
    // truncated feeds don't. The first significant digit comes from the
    // INTEGER part (floor → bigint → string), never from double
    // formatting or log10-of-boundary games, so both engines bucket
    // identically; one partial-agg'd pass over the scan, 9-row output.
    // obs_share is exact integer arithmetic rounded at 4 dp; the only
    // cross-engine double is log10 on 9 constants, rounded at 6 dp.
    "q_benford_qa" -> ((s, d) => {
      val digits = t(s, d, "lineitem")
        .select(substring(floor(col("l_extendedprice")).cast("bigint")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = digits.agg(sum("n").as("total"))
      digits.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          round(col("n") / col("total"), 4).as("obs_share"),
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("exp_share"))
        .orderBy("digit")
    }),

    // Bucketed co-located join — the write-once/join-many layout that
    // removes the fact-side shuffle entirely at 100 TB: both sides are
    // written `bucketBy(16, join_key).sortBy(join_key)`, so a later
    // sort-merge join needs NO exchange and NO sort on either side (each
    // bucket pair streams merged directly). The query performs the full
    // cycle — write both bucketed tables, then join through the catalog —
    // because the LAYOUT is the operator here; results are identical to a
    // plain join, which is exactly what the oracle checks. At test SF the
    // dimension side auto-broadcasts (also shuffle-free); the SMJ
    // zero-exchange shape is pinned by LayoutSpec with broadcast disabled.
    // Money sums go through decimal(18,4) (order-independent — the
    // q_star_join discipline).
    "q_bucketed_join" -> ((s, d) => {
      val base = new java.io.File(graft.util.Dirs.corpus(d), "bucketed")
        .getAbsolutePath
      val ot = layoutTable(d, "orders")
      val ct = layoutTable(d, "customer")
      s.sql(s"DROP TABLE IF EXISTS $ot")
      s.sql(s"DROP TABLE IF EXISTS $ct")
      t(s, d, "orders").select("o_custkey", "o_totalprice")
        .write.mode("overwrite").option("path", s"$base/orders")
        .bucketBy(16, "o_custkey").sortBy("o_custkey").saveAsTable(ot)
      t(s, d, "customer").select("c_custkey", "c_mktsegment")
        .write.mode("overwrite").option("path", s"$base/customer")
        .bucketBy(16, "c_custkey").sortBy("c_custkey").saveAsTable(ct)
      val o = s.table(ot)
      val c = s.table(ct)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_price"))
        .orderBy("c_mktsegment")
    }),

    // Partition-pruned scan — the other half of the layout story: the
    // fact table is written `partitionBy(o_orderpriority)` and read back
    // with a partition-column filter, so the scan OPENS only the 2
    // matching directories out of 5 (no row-level filtering, no I/O on
    // the other 60% of the data — at 100 TB this is the difference
    // between reading 40 TB and reading 100 TB). LayoutSpec pins the
    // pruning (selectedPartitions == 2 of 5); the oracle checks the same
    // aggregate as a WHERE over the unpartitioned table.
    "q_partition_prune" -> ((s, d) => {
      val base = new java.io.File(graft.util.Dirs.corpus(d), "part/orders")
        .getAbsolutePath
      t(s, d, "orders").write.mode("overwrite")
        .partitionBy("o_orderpriority").parquet(base)
      s.read.parquet(base)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_price"),
          round(avg("o_totalprice"), 4).as("avg_price"))
        .orderBy("o_orderpriority")
    }),

    // Hierarchy resolution + rollup by POINTER DOUBLING — the BOM/category-
    // tree/org-chart primitive: every node resolves its ROOT and DEPTH in
    // O(log depth) self-joins (never a per-level loop), then the rollup is
    // one aggregate over the resolved table. The synthetic forest is the
    // decimal-prefix tree over customer keys (parent = node div 10, closed
    // under the generated prefix-ancestor node set), whose chains replay as
    // a recursive CTE in DuckDB. Each doubling round starts from a
    // localCheckpoint (the connectedComponents discipline — otherwise the
    // plan re-reads the scan 2^rounds times); 5 rounds cover 2^5 = 32 hops,
    // past the 18-step maximum any 64-bit key can have. An unconverged run
    // cannot pass silently: anc would sit above 9 and every root row would
    // differ from the oracle's.
    "q_hierarchy_rollup" -> ((s, d) => {
      val keys = t(s, d, "customer").select(col("c_custkey").as("node"))
      val nodes = keys.select(explode(expr(
          "transform(sequence(1, length(cast(node as string))), " +
            "i -> cast(substring(cast(node as string), 1, i) as bigint))"))
          .as("node"))
        .distinct()
      val p0 = nodes.select(col("node"),
          when(col("node") < 10, col("node"))
            .otherwise(expr("node div 10")).as("anc"),
          when(col("node") < 10, 0L).otherwise(1L).as("dist"))
        .localCheckpoint()
      val fin = (1 to 5).foldLeft(p0) { (tb, _) =>
        val a = tb.as("a")
        val b = tb.as("b")
        a.join(b, col("a.anc") === col("b.node"))
          .select(col("a.node").as("node"), col("b.anc").as("anc"),
            (col("a.dist") + col("b.dist")).as("dist"))
          .localCheckpoint()
      }
      fin.groupBy(col("anc").as("root"))
        .agg(count(lit(1)).as("n_nodes"), max("dist").as("max_depth"))
        .orderBy("root")
    }),

    // KMV ("bottom-k" / theta) distinct sketch with SET-OPERATION algebra —
    // the mergeable-summary device for cross-shard cardinality at 100 TB:
    // each executor ships its k smallest distinct key hashes (a fixed
    // k-row summary) instead of its raw key set, sketches merge by
    // keep-k-smallest-of-the-union, and union/intersection cardinalities
    // come from sketch algebra with NO join over raw keys. Here: distinct
    // customers of two order-priority segments, their union and their
    // theta-intersection (θ = min of the segment thetas; common sketch
    // hashes below θ scale by 2⁴⁸/θ). Every draw is the repo-standard
    // md5-48 and every estimator is integer arithmetic ((k−1)·2⁴⁸ div
    // h_k — no float rounding to discipline), so DuckDB replays the
    // sketch bit-for-bit. A sketch with fewer than k members IS its key
    // set (θ = 2⁴⁸, estimate = member count — exact), which keeps the
    // entry green at SFs where a segment has < k customers. The distinct
    // per segment is the one data-sized shuffle; each bottom-k is
    // TakeOrderedAndProject (never a global sort); everything downstream
    // is ≤ 2k rows. Estimator ACCURACY vs the exact conditional-distinct
    // referee is SketchRefereeSpec's assert (the referee ran in-span
    // through round 13; the bench entry now measures the production
    // sketch path alone).
    "q_kmv_setops" -> ((s, d) => {
      val P = 281474976710656L // 2^48, the md5-48 draw space
      val k = 256
      val pa = "1-URGENT"
      val pb = "5-LOW"
      val o = t(s, d, "orders").select("o_orderpriority", "o_custkey")
      def sketch(p: String): org.apache.spark.sql.DataFrame =
        o.filter(col("o_orderpriority") === p)
          .select(col("o_custkey")).distinct()
          .select(conv(substring(md5(col("o_custkey").cast("string")), 1, 12),
            16, 10).cast("bigint").as("h"))
          .orderBy("h").limit(k)
      // ≤ k rows each; persisted because stats/union/intersection all read
      // them (Verify/Bench clearCache() after the query's final consumer)
      val ska = sketch(pa).persist()
      val skb = sketch(pb).persist()
      val sku = ska.union(skb).distinct().orderBy("h").limit(k)
      def stats(sk: org.apache.spark.sql.DataFrame, nc: String, tc: String): org.apache.spark.sql.DataFrame =
        sk.agg(count(lit(1)).as(nc),
          // theta: k-th smallest hash when full, else the whole draw space
          when(count(lit(1)) < k, lit(P)).otherwise(max(col("h"))).as(tc))
      val ta = stats(ska, "na", "tha")
      val tb = stats(skb, "nb", "thb")
      val tu = stats(sku, "nu", "thu")
      val th = ta.crossJoin(tb).select(least(col("tha"), col("thb")).as("theta"))
      val common = ska.join(skb, "h").crossJoin(broadcast(th))
        .filter(col("h") < col("theta"))
        .agg(count(lit(1)).as("c"))
      def est(n: String, hk: String) =
        when(col(n) < k, col(n)).otherwise(expr(s"(${k - 1}L * ${P}L) div $hk"))
      ta.crossJoin(tb).crossJoin(tu).crossJoin(th)
        .crossJoin(common)
        .select(lit(k.toLong).as("k"),
          est("na", "tha").as("est_a"),
          est("nb", "thb").as("est_b"),
          est("nu", "thu").as("est_union"),
          expr(s"(c * ${P}L) div theta").as("est_inter"))
    }),

    // Bitmap-index segment overlap — the Druid/ClickHouse audience-overlap
    // device: per segment, customer presence packs into 63-bit words
    // (slot = key div 63, bit = key mod 63 — 63 not 64 keeps the sign bit
    // clear so `1 << bit` is overflow-free on BOTH engines' signed
    // BIGINT), segment cardinality is Σ popcount(word), and every pairwise
    // EXACT intersection is Σ popcount(a & b) over a slot-co-partitioned
    // join of the word tables — the customer dimension is 63× compressed
    // before any join, and no distinct pair-set ever shuffles. At 100 TB
    // the word tables are |keys|/63 rows per segment and the pair join is
    // an equi-join on slot; contrast with the naive distinct-intersect
    // self-join this replaces. Output: the 10 priority-pair overlaps with
    // bitmap-derived counts and Jaccard.
    "q_bitmap_overlap" -> ((s, d) => {
      // the word table is the 63×-compressed index (|keys|/63 rows per
      // segment); persisted because totals and both pair-join sides read
      // it (Verify/Bench clearCache() after the query's final consumer)
      val w = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("p"),
          expr("o_custkey div 63").as("slot"))
        .agg(expr("bit_or(shiftleft(1L, cast(o_custkey % 63 as int)))").as("word"))
        .persist()
      val n = w.groupBy("p")
        .agg(sum(expr("bit_count(word)")).cast("bigint").as("n_seg"))
      val a = w.select(col("p").as("pa"), col("slot").as("slot_a"), col("word").as("wa"))
      val b = w.select(col("p").as("pb"), col("slot").as("slot_b"), col("word").as("wb"))
      val pairs = a.join(b, col("slot_a") === col("slot_b") && col("pa") < col("pb"))
        .groupBy("pa", "pb")
        .agg(sum(expr("bit_count(wa & wb)")).cast("bigint").as("n_inter"))
      pairs
        .join(broadcast(n.select(col("p").as("pa"), col("n_seg").as("n_a"))), "pa")
        .join(broadcast(n.select(col("p").as("pb"), col("n_seg").as("n_b"))), "pb")
        .select(col("pa"), col("pb"), col("n_a"), col("n_b"), col("n_inter"),
          round(col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")), 6).as("jaccard"))
        .orderBy("pa", "pb")
    }),

    // Mergeable bottom-k QUANTILE sketch — the KMV idea pointed at ranks
    // instead of distinct counts: every row draws the repo-standard md5-48
    // hash of its unique (orderkey, linenumber) key, each SEGMENT (the
    // merge unit a shard would ship) keeps its k hash-smallest rows as a
    // uniform value sample, and sketches merge by keep-k-smallest-of-the-
    // union — so a 1000-executor deployment ships k rows per shard, never
    // a global sort. Quantile q is read off the merged sample at position
    // ceil(q·n_s) in (value, h) order; estimator ACCURACY vs the exact
    // `percentile` referee is SketchRefereeSpec's assert (the referee ran
    // in-span through round 13 and dominated the entry's bench cost —
    // ~2.2 s of the 3.7 s; the entry now measures the production sketch
    // path alone). The per-segment bottom-k is NOT a per-segment full
    // sort: a first cheap count pass sets an integer hash threshold
    // θ_seg = min(P, (4k·P) div n_seg) whose expected survivor count is
    // 4k, the window ranks only survivors (O(k) rows per segment), and
    // because the md5 draw is data-deterministic both engines replay the
    // identical filter — n_sample in the output (asserted == k in
    // SelfCheckSpec) would expose a θ-starved sketch. All sketch
    // arithmetic is integer.
    "q_quantile_sketch" -> ((s, d) => {
      val P = 281474976710656L // 2^48, the md5-48 draw space
      val k = 256
      val li = t(s, d, "lineitem").select(
        col("l_returnflag").as("seg"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"),
        conv(substring(md5(concat_ws("_",
          col("l_orderkey"), col("l_linenumber"))), 1, 12), 16, 10)
          .cast("bigint").as("h"))
      val segN = li.groupBy("seg").agg(count(lit(1)).as("n_seg"))
        .select(col("seg"),
          least(lit(P), expr(s"(${4L * k}L * ${P}L) div n_seg")).as("theta"))
      val wseg = Window.partitionBy("seg").orderBy("h", "cents")
      val segSk = li.join(broadcast(segN), "seg")
        .filter(col("h") < col("theta"))
        .withColumn("rn", row_number().over(wseg)).filter(col("rn") <= k)
        .select("cents", "h")
      // merge: k smallest of the ≤ 3k-row union; stats/rank/pick all read it
      // (Verify/Bench clearCache() after the query's final consumer)
      val merged = segSk.orderBy("h", "cents").limit(k).persist()
      val ns = merged.agg(count(lit(1)).as("n_s"))
      val ranked = merged.withColumn("rn",
        row_number().over(Window.orderBy("cents", "h"))) // ≤ k literal rows
      val qs = s.createDataFrame(java.util.Arrays.asList(
          org.apache.spark.sql.Row(0.25), org.apache.spark.sql.Row(0.5),
          org.apache.spark.sql.Row(0.9), org.apache.spark.sql.Row(0.99)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("q",
            org.apache.spark.sql.types.DoubleType, nullable = false))))
      qs.crossJoin(broadcast(ns))
        .withColumn("pos",
          greatest(lit(1L), ceil(col("q") * col("n_s")).cast("bigint")))
        .join(ranked, col("rn") === col("pos"))
        .select(col("q"), col("n_s").as("n_sample"),
          col("cents").as("est_cents"))
        .orderBy("q")
    }),

    // Skyline / Pareto frontier (Börzsönyi et al. 2001): the orders that
    // are not dominated on (price MINIMIZED, order recency MAXIMIZED) —
    // "no strictly cheaper-and-newer order exists". The classic 2-D sweep
    // (sort by x, keep rows whose y beats the running max) is exact but
    // collapses to ONE sorted partition; this plan keeps the sweep
    // KEY-PARTITIONED: x is cut into B=256 value-range buckets (bucket id
    // is monotone in x, so every cross-bucket comparison is decided by the
    // bucket order alone), a 256-row per-bucket max(y) table yields each
    // bucket's STRICT-PREFIX max — the only cross-bucket state a bucket
    // needs, broadcast to it — and the in-bucket sweep runs as a window
    // PARTITIONED BY bucket. No single-partition pass ever touches data-
    // sized input (the prefix window ranks 256 literal rows). Dominance on
    // DISTINCT points: x' <= x, y' >= y, one strict; the kept frontier is
    // strictly y-increasing in x. Integer cents/days, so every comparison
    // replays exactly in DuckDB.
    "q_skyline" -> ((s, d) => {
      val B = 256L
      val pts = t(s, d, "orders").select(
        expr("cast(round(o_totalprice * 100) as bigint)").as("x"),
        datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
          .cast("bigint").as("y")).distinct()
      val mm = pts.agg(min("x").as("minx"), max("x").as("maxx"))
      val bk = pts.crossJoin(broadcast(mm))
        .select(col("x"), col("y"),
          expr(s"((x - minx) * ${B}L) div (maxx - minx + 1)").as("b"))
      val bmax = bk.groupBy("b").agg(max("y").as("ym"))
      val pre = bmax.withColumn("pre", max("ym").over(Window.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1))) // ≤ B literal rows
        .select("b", "pre")
      val sw = Window.partitionBy("b").orderBy(col("x").asc, col("y").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      bk.join(broadcast(pre), "b")
        .withColumn("cm", greatest(
          coalesce(max("y").over(sw), lit(-1L)),
          coalesce(col("pre"), lit(-1L)))) // y >= 0: -1 = "no dominator yet"
        .filter(col("y") > col("cm"))
        .select(col("x").as("price_cents"), col("y").as("order_day"))
        .orderBy("price_cents")
    })
  )

  val oracles: Map[String, String] = Map(
    // the sketch is graded in-query; expected output is exact + pass=true
    "q_profile" ->
      """WITH
        |k AS (SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
        |  CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        |  round(CAST(min(o_orderkey) AS DOUBLE), 0) AS min_num,
        |  round(CAST(max(o_orderkey) AS DOUBLE), 0) AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s FROM orders),
        |c AS (SELECT 'o_custkey', count(*),
        |  CAST(count(*) - count(o_custkey) AS BIGINT),
        |  CAST(count(DISTINCT o_custkey) AS BIGINT),
        |  round(CAST(min(o_custkey) AS DOUBLE), 0),
        |  round(CAST(max(o_custkey) AS DOUBLE), 0),
        |  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM orders),
        |s AS (SELECT 'o_orderstatus', count(*),
        |  CAST(count(*) - count(o_orderstatus) AS BIGINT),
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  min(o_orderstatus), max(o_orderstatus) FROM orders),
        |p AS (SELECT 'o_totalprice', count(*),
        |  CAST(count(*) - count(o_totalprice) AS BIGINT),
        |  CAST(count(DISTINCT o_totalprice) AS BIGINT),
        |  round(CAST(min(o_totalprice) AS DOUBLE), 2),
        |  round(CAST(max(o_totalprice) AS DOUBLE), 2),
        |  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM orders),
        |d AS (SELECT 'o_orderdate', count(*),
        |  CAST(count(*) - count(o_orderdate) AS BIGINT),
        |  CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR),
        |  CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) FROM orders),
        |pr AS (SELECT 'o_orderpriority', count(*),
        |  CAST(count(*) - count(o_orderpriority) AS BIGINT),
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  min(o_orderpriority), max(o_orderpriority) FROM orders)
        |SELECT * FROM k UNION ALL SELECT * FROM c UNION ALL SELECT * FROM s
        |UNION ALL SELECT * FROM p UNION ALL SELECT * FROM d UNION ALL SELECT * FROM pr
        |ORDER BY col_name""".stripMargin,
    "q_zorder" -> {
      val z = zValueSql("x", "y", 16)
      s"""WITH xy AS (
         |  SELECT o_custkey % 65536 AS x,
         |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS y
         |  FROM orders),
         |z AS (SELECT x, y, ($z) AS z FROM xy)
         |SELECT z >> 18 AS z_bucket, count(*) AS n,
         |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY z_bucket ORDER BY z_bucket""".stripMargin
    },
    "q_approx_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |CAST(1 AS BOOLEAN) AS within_tol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the oracle IS the full recompute: merged partial state must equal it
    "q_incr_agg" ->
      """SELECT o_orderpriority AS prio, CAST(count(*) AS BIGINT) AS n_orders,
        |CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price,
        |round(min(o_totalprice), 2) AS min_price,
        |round(max(o_totalprice), 2) AS max_price
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    // Misra-Gries guarantees no false negatives for items above n/k, so
    // n_found == n_heavy deterministically; the oracle computes the exact
    // heavy-hitter count and hardcodes the guaranteed pass.
    "q_freq_items" ->
      """WITH tot AS (SELECT count(*) AS n FROM orders),
        |h AS (SELECT o_orderpriority AS item, count(*) AS cnt FROM orders GROUP BY 1),
        |hh AS (SELECT count(*) AS n_heavy FROM h, tot
        |       WHERE CAST(cnt AS DOUBLE) > CAST(n AS DOUBLE) / 20)
        |SELECT CAST(n_heavy AS BIGINT) AS n_heavy, CAST(n_heavy AS BIGINT) AS n_found,
        |CAST(1 AS BOOLEAN) AS pass FROM hh""".stripMargin,
    "q_window_ntile" ->
      """WITH w AS (
        |  SELECT o_orderpriority AS prio, o_totalprice AS price,
        |    CAST(ntile(4) OVER win AS BIGINT) AS quartile,
        |    percent_rank() OVER win AS pr,
        |    cume_dist() OVER win AS cd
        |  FROM orders
        |  WINDOW win AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey))
        |SELECT prio, quartile, count(*) AS n,
        |  round(min(price), 2) AS min_price, round(max(price), 2) AS max_price,
        |  round(avg(pr), 6) AS avg_pct_rank, round(avg(cd), 6) AS avg_cume_dist
        |FROM w GROUP BY prio, quartile ORDER BY prio, quartile""".stripMargin,
    "q_unpivot" ->
      """WITH wide AS (
        |  SELECT o_orderpriority AS prio,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price,
        |    CAST((200 * sum(CAST(round(o_totalprice * 100) AS BIGINT)) + count(*))
        |      // (2 * count(*)) AS BIGINT) / 10000.0 AS avg_price,
        |    CAST(count(*) AS DOUBLE) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT prio, 'sum_price' AS metric, sum_price AS value FROM wide
        |UNION ALL SELECT prio, 'avg_price', avg_price FROM wide
        |UNION ALL SELECT prio, 'n_orders', n_orders FROM wide
        |ORDER BY prio, metric""".stripMargin,
    // the oracle is the UNSALTED aggregation: gate-checks the rewrite
    "q_salted_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the sketch estimate is graded in-query; expected = exact + pass
    "q_hll_incr" ->
      """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
        |CAST(1 AS BOOLEAN) AS within_tol
        |FROM orders""".stripMargin,
    "q_star_join" ->
      """SELECT n_name, CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)
        |       AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name, yr ORDER BY n_name, yr""".stripMargin,
    // row_number form, NOT max(struct-with-varchar): DuckDB's struct-max
    // aggregate degraded superlinearly at sf1 (>5 min vs 4 s for the
    // window; orderkey is unique so both pick the identical row)
    "q_latest_by_key" ->
      """WITH m AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS dt, o_orderkey AS ok,
        |    o_orderstatus AS st, o_totalprice AS price,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |SELECT o_custkey, CAST(dt AS VARCHAR) AS last_date,
        |  ok AS last_orderkey, st AS last_status,
        |  round(price, 2) AS last_price
        |FROM m WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q1_agg" ->
      """WITH x AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qc,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |    CAST(round(l_discount * 100) AS BIGINT) AS dc
        |  FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '2000-12-01')
        |SELECT l_returnflag, l_linestatus,
        |CAST(sum(qc) AS BIGINT) / 100.0 AS sum_qty,
        |CAST(sum(pc) AS BIGINT) / 100.0 AS sum_base_price,
        |CAST((2 * sum(pc * (100 - dc)) + 100) // 200 AS BIGINT) / 100.0 AS sum_disc_price,
        |CAST((200 * sum(qc) + count(*)) // (2 * count(*)) AS BIGINT) / 10000.0 AS avg_qty,
        |CAST((200 * sum(dc) + count(*)) // (2 * count(*)) AS BIGINT) / 10000.0 AS avg_disc,
        |count(*) AS count_order
        |FROM x
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join_topk" ->
      """SELECT o_orderkey, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND CAST(o_orderdate AS DATE) < DATE '1999-01-01' AND o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_join_broadcast" ->
      """SELECT p_brand, count(*) AS cnt, round(sum(l_quantity),2) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |round(sum(coalesce(o_totalprice, 0.0)),2) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_window_rank" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,
    "q_window_range" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT) AS day_n
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, day_n,
        |  round(sum(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY day_n
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS sum_30d
        |FROM o ORDER BY o_orderkey""".stripMargin,
    "q_window_moving" ->
      """SELECT o_custkey, o_orderkey,
        |round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),2) AS mv_sum3,
        |round(coalesce(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |                              ORDER BY o_orderdate, o_orderkey), 0.0),2) AS prev_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_percentile" ->
      """SELECT o_orderpriority,
        |round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
        |round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price,
        |count(*) AS cnt
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_correlated_subquery" ->
      """SELECT o_custkey, count(*) AS n_big
        |FROM orders o
        |WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders i
        |                          WHERE i.o_custkey = o.o_custkey)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_asof_join" ->
      """WITH od AS (
        |  SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS t, max(o_totalprice) AS p
        |  FROM orders GROUP BY 1, 2),
        |e AS (SELECT event_id, user_id, CAST(ts AS DATE) AS d FROM events)
        |SELECT e.event_id, e.user_id, od.p AS last_price
        |FROM e ASOF LEFT JOIN od ON e.user_id = od.k AND e.d >= od.t
        |ORDER BY event_id""".stripMargin,
    "q_range_join" ->
      // band predicate (not abs(date_diff)) so DuckDB can plan an efficient
      // join — same result, >100× faster at sf1
      """WITH o AS (SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS dy FROM orders),
        |c AS (SELECT a.o_orderkey, count(b.o_orderkey) AS n_within
        |      FROM o a LEFT JOIN o b ON a.o_custkey = b.o_custkey
        |        AND b.o_orderkey <> a.o_orderkey
        |        AND b.dy >= a.dy - INTERVAL 7 DAY AND b.dy <= a.dy + INTERVAL 7 DAY
        |      GROUP BY 1)
        |SELECT n_within, count(*) AS n_orders FROM c GROUP BY 1 ORDER BY n_within""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        |CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) / 100.0 AS "F",
        |CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) / 100.0 AS "O",
        |CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) / 100.0 AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_intersect" ->
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'MACHINERY'
        |INTERSECT SELECT o_custkey AS k FROM orders ORDER BY k""".stripMargin,
    "q_except" ->
      """SELECT c_custkey AS k FROM customer
        |EXCEPT SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY k""".stripMargin,
    "q_scd2_merge" ->
      """WITH o AS (
        |  SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS dt,
        |         o_orderkey AS ok, o_orderstatus AS st
        |  FROM orders),
        |ch AS (
        |  SELECT k, dt, ok, st, lag(st) OVER (PARTITION BY k ORDER BY dt, ok) AS prev
        |  FROM o),
        |f AS (SELECT k, dt, ok, st FROM ch WHERE prev IS NULL OR st <> prev),
        |v AS (
        |  SELECT k, st, dt, lead(dt) OVER (PARTITION BY k ORDER BY dt, ok) AS valid_to
        |  FROM f)
        |SELECT st, count(*) AS n_versions,
        |  CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
        |  CAST(min(dt) AS VARCHAR) AS first_from,
        |  CAST(max(COALESCE(valid_to, DATE '9999-12-31')) AS VARCHAR) AS last_to
        |FROM v GROUP BY st ORDER BY st""".stripMargin,
    "q_histogram" ->
      """SELECT least(CAST(floor(o_totalprice / 30000.0) AS BIGINT), 19) AS bucket,
        |  count(*) AS n,
        |  round(CAST(30000.0 AS DOUBLE) * least(CAST(floor(o_totalprice / 30000.0) AS BIGINT), 19), 1) AS lo
        |FROM orders GROUP BY 1, 3 ORDER BY bucket""".stripMargin,
    "q_rfm_segment" ->
      """WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS as_of FROM orders),
        |rfm AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', max(CAST(o_orderdate AS DATE)),
        |                   (SELECT as_of FROM mx)) AS DOUBLE) AS rec,
        |    CAST(count(*) AS DOUBLE) AS freq,
        |    round(sum(o_totalprice), 2) AS monetary
        |  FROM orders GROUP BY o_custkey),
        |cuts AS (SELECT quantile_cont(rec, [0.2, 0.4, 0.6, 0.8]) AS rc,
        |                quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fc,
        |                quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mc
        |         FROM rfm),
        |sc AS (SELECT o_custkey,
        |  6 - (1 + (CASE WHEN rec > rc[1] THEN 1 ELSE 0 END)
        |         + (CASE WHEN rec > rc[2] THEN 1 ELSE 0 END)
        |         + (CASE WHEN rec > rc[3] THEN 1 ELSE 0 END)
        |         + (CASE WHEN rec > rc[4] THEN 1 ELSE 0 END)) AS r,
        |  1 + (CASE WHEN freq > fc[1] THEN 1 ELSE 0 END)
        |    + (CASE WHEN freq > fc[2] THEN 1 ELSE 0 END)
        |    + (CASE WHEN freq > fc[3] THEN 1 ELSE 0 END)
        |    + (CASE WHEN freq > fc[4] THEN 1 ELSE 0 END) AS f,
        |  1 + (CASE WHEN monetary > mc[1] THEN 1 ELSE 0 END)
        |    + (CASE WHEN monetary > mc[2] THEN 1 ELSE 0 END)
        |    + (CASE WHEN monetary > mc[3] THEN 1 ELSE 0 END)
        |    + (CASE WHEN monetary > mc[4] THEN 1 ELSE 0 END) AS m
        |  FROM rfm, cuts)
        |SELECT r, f, m, count(*) AS n_customers
        |FROM sc GROUP BY 1, 2, 3 ORDER BY r, f, m""".stripMargin,
    "q_skew_detect" ->
      """WITH c AS (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM c),
        |h AS (SELECT round(-sum(p * ln(p)) + 0.0, 6) AS entropy
        |      FROM (SELECT cnt / CAST(tot AS DOUBLE) AS p FROM c, tot))
        |SELECT count(*) AS n_keys, (SELECT tot FROM tot) AS n_rows,
        |  round(max(cnt) / CAST((SELECT tot FROM tot) AS DOUBLE), 6) AS max_share,
        |  round(quantile_cont(cnt, 0.99), 2) AS p99_cnt,
        |  (SELECT entropy FROM h) AS entropy
        |FROM c""".stripMargin,
    // within_band is TRUE by construction when the sketch honors its
    // accuracy bound — a Spark-side regression pushes the estimate out of
    // the exact p45–p55 band and hash-mismatches here
    "q_approx_percentile" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.5), 2) AS exact_p50,
        |  CAST(1 AS BOOLEAN) AS within_band
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_pareto_share" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revc,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS rev
        |  FROM orders GROUP BY 1),
        |cuts AS (SELECT quantile_cont(rev, [0.99, 0.95, 0.80]) AS c FROM rev)
        |SELECT count(*) AS n_customers,
        |  CAST(sum(revc) AS BIGINT) / 100.0 AS total_rev,
        |  round(CAST(sum(CASE WHEN rev >= c[1] THEN revc ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(revc) AS DOUBLE), 6) AS share_top1,
        |  round(CAST(sum(CASE WHEN rev >= c[2] THEN revc ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(revc) AS DOUBLE), 6) AS share_top5,
        |  round(CAST(sum(CASE WHEN rev >= c[3] THEN revc ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(revc) AS DOUBLE), 6) AS share_top20
        |FROM rev, cuts""".stripMargin,
    "q_interval_overlap" ->
      """WITH deltas AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day, 1 AS delta FROM lineitem
        |  UNION ALL
        |  SELECT CAST(l_shipdate AS DATE) + CAST(l_linenumber % 30 + 2 AS INT), -1
        |  FROM lineitem),
        |g AS (SELECT day, sum(delta) AS d FROM deltas GROUP BY day),
        |r AS (SELECT day, sum(d) OVER (
        |        ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS concurrent
        |      FROM g)
        |SELECT CAST(year(day) AS BIGINT) AS yr,
        |  CAST(max(concurrent) AS BIGINT) AS peak_concurrent,
        |  round(avg(concurrent), 2) AS avg_concurrent,
        |  count(*) AS n_days
        |FROM r GROUP BY 1 ORDER BY yr""".stripMargin,
    // window ORDER BY key is the exact-decimal revenue on both engines
    "q_window_dist" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT CAST(s_nationkey AS BIGINT) AS nationkey, s_suppkey AS suppkey,
        |  CAST(round(rev, 2) AS DOUBLE) AS revenue,
        |  round(percent_rank() OVER (PARTITION BY s_nationkey ORDER BY rev), 6) AS pr,
        |  round(cume_dist() OVER (PARTITION BY s_nationkey ORDER BY rev), 6) AS cd
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY nationkey, suppkey""".stripMargin,
    // same fixed-order lift expression; the rounded lift is the rank key
    "q_assoc_rules" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM lineitem),
        |item AS (SELECT l_partkey, count(*) AS ci FROM li GROUP BY 1),
        |pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS cab
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pa, pb, cab,
        |  round((cab / n_orders) /
        |        ((ia.ci / n_orders) * (ib.ci / n_orders)), 6) AS lift
        |FROM pairs
        |JOIN item ia ON pa = ia.l_partkey
        |JOIN item ib ON pb = ib.l_partkey
        |CROSS JOIN n
        |ORDER BY lift DESC, pa, pb LIMIT 15""".stripMargin,
    "q_fuzzy_join" ->
      """WITH names AS (
        |  SELECT DISTINCT p_name,
        |    string_split(p_name, ' ')[-1] AS blk
        |  FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM names a JOIN names b
        |  ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin,
    // arg_max == max_by; seq (orderkey) is unique per key so no ties
    "q_cdc_apply" ->
      """WITH log AS (
        |  SELECT o_orderkey % 1000 AS k, o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice, o_orderstatus
        |  FROM orders),
        |snap AS (
        |  SELECT k, count(*) AS n_changes,
        |    arg_max(op, seq) AS last_op,
        |    arg_max(o_totalprice, seq) AS price,
        |    arg_max(o_orderstatus, seq) AS status
        |  FROM log GROUP BY k)
        |SELECT k, n_changes, round(price, 2) AS price, status
        |FROM snap WHERE last_op <> 'D' ORDER BY k""".stripMargin,
    // integer-part first digit on both engines; log10 only on constants
    "q_benford_qa" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM lineitem),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT digit, n, round(CAST(n AS DOUBLE) / total, 4) AS obs_share,
        |  round(log10(1.0 + 1.0 / digit), 6) AS exp_share
        |FROM c CROSS JOIN t ORDER BY digit""".stripMargin,
    // the layout round-trip must be value-transparent: the oracle is the
    // plain (unbucketed) join
    "q_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // pruning must not change values: the oracle is a WHERE over the
    // unpartitioned table
    "q_partition_prune" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_price,
        |  round(avg(o_totalprice), 4) AS avg_price
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the identical md5-48 bottom-k sketch and integer theta algebra; a
    // non-full sketch (n < k) is its key set, theta = 2^48
    // same prefix-ancestor closure; the chain walk is a recursive CTE
    // (bounded at 19 steps by 64-bit decimal length) instead of doubling
    "q_hierarchy_rollup" ->
      """WITH RECURSIVE keys AS (SELECT c_custkey AS node FROM customer),
        |nodes AS (
        |  SELECT DISTINCT CAST(substring(CAST(node AS VARCHAR), 1, CAST(i AS INT)) AS BIGINT) AS node
        |  FROM keys, range(1, 20) r(i)
        |  WHERE i <= length(CAST(node AS VARCHAR))),
        |w(node, cur, dist) AS (
        |  SELECT node, node, 0 FROM nodes
        |  UNION ALL
        |  SELECT node, cur // 10, dist + 1 FROM w WHERE cur >= 10)
        |SELECT cur AS root, count(*) AS n_nodes,
        |  CAST(max(dist) AS BIGINT) AS max_depth
        |FROM w WHERE cur < 10 GROUP BY cur ORDER BY root""".stripMargin,
    "q_kmv_setops" ->
      """WITH ha AS (SELECT DISTINCT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12)
        |    AS BIGINT) AS h FROM orders WHERE o_orderpriority = '1-URGENT'),
        |hb AS (SELECT DISTINCT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12)
        |    AS BIGINT) AS h FROM orders WHERE o_orderpriority = '5-LOW'),
        |ska AS (SELECT h FROM ha ORDER BY h LIMIT 256),
        |skb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
        |sku AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb) ORDER BY h LIMIT 256),
        |ta AS (SELECT count(*) AS n,
        |  CASE WHEN count(*) < 256 THEN 281474976710656 ELSE max(h) END AS hk FROM ska),
        |tb AS (SELECT count(*) AS n,
        |  CASE WHEN count(*) < 256 THEN 281474976710656 ELSE max(h) END AS hk FROM skb),
        |tu AS (SELECT count(*) AS n,
        |  CASE WHEN count(*) < 256 THEN 281474976710656 ELSE max(h) END AS hk FROM sku),
        |th AS (SELECT least(ta.hk, tb.hk) AS theta FROM ta, tb),
        |cm AS (SELECT count(*) AS c FROM ska JOIN skb USING (h), th WHERE h < theta)
        |SELECT CAST(256 AS BIGINT) AS k,
        |  CASE WHEN ta.n < 256 THEN ta.n ELSE (255 * 281474976710656) // ta.hk END AS est_a,
        |  CASE WHEN tb.n < 256 THEN tb.n ELSE (255 * 281474976710656) // tb.hk END AS est_b,
        |  CASE WHEN tu.n < 256 THEN tu.n ELSE (255 * 281474976710656) // tu.hk END AS est_union,
        |  (cm.c * 281474976710656) // th.theta AS est_inter
        |FROM ta, tb, tu, th, cm""".stripMargin,
    // the identical 63-bit word packing (sign bit never set, so signed
    // BIGINT shifts agree); counts and intersections are popcount sums
    "q_bitmap_overlap" ->
      """WITH w AS (SELECT o_orderpriority AS p, o_custkey // 63 AS slot,
        |    bit_or(1::BIGINT << CAST(o_custkey % 63 AS INT)) AS word
        |  FROM orders GROUP BY 1, 2),
        |n AS (SELECT p, CAST(sum(bit_count(word)) AS BIGINT) AS n_seg FROM w GROUP BY p),
        |pr AS (SELECT a.p AS pa, b.p AS pb,
        |    CAST(sum(bit_count(a.word & b.word)) AS BIGINT) AS n_inter
        |  FROM w a JOIN w b ON a.slot = b.slot AND a.p < b.p GROUP BY 1, 2)
        |SELECT pa, pb, na.n_seg AS n_a, nb.n_seg AS n_b, n_inter,
        |  round(CAST(n_inter AS DOUBLE) / (na.n_seg + nb.n_seg - n_inter), 6) AS jaccard
        |FROM pr JOIN n na ON na.p = pa JOIN n nb ON nb.p = pb
        |ORDER BY pa, pb""".stripMargin,
    // identical md5-48 draw, integer theta, (h, cents)-ordered bottom-k
    // per segment then of the union; quantile_cont is Spark `percentile`'s
    // exact cross-engine pair (q_percentile precedent)
    "q_quantile_sketch" ->
      """WITH li AS MATERIALIZED (
        |  SELECT l_returnflag AS seg,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_' ||
        |      CAST(l_linenumber AS VARCHAR)), 1, 12) AS BIGINT) AS h
        |  FROM lineitem),
        |segn AS (SELECT seg,
        |    least(281474976710656, (1024 * 281474976710656) // count(*)) AS theta
        |  FROM li GROUP BY seg),
        |segsk AS (SELECT cents, h FROM (
        |    SELECT cents, h,
        |      row_number() OVER (PARTITION BY li.seg ORDER BY h, cents) AS rn
        |    FROM li JOIN segn ON li.seg = segn.seg WHERE h < theta) f
        |  WHERE rn <= 256),
        |merged AS MATERIALIZED (
        |  SELECT cents, h FROM segsk ORDER BY h, cents LIMIT 256),
        |ns AS (SELECT count(*) AS n_s FROM merged),
        |ranked AS (SELECT cents,
        |    row_number() OVER (ORDER BY cents, h) AS rn FROM merged),
        |qs AS (SELECT unnest(CAST([0.25, 0.5, 0.9, 0.99] AS DOUBLE[])) AS q)
        |SELECT q, n_s AS n_sample, cents AS est_cents
        |FROM qs CROSS JOIN ns
        |JOIN ranked ON rn = greatest(1, CAST(ceil(q * n_s) AS BIGINT))
        |ORDER BY q""".stripMargin,
    // identical bucket cut / strict-prefix seed / in-bucket sweep; all
    // integer comparisons, -1 sentinel below the y >= 0 domain
    "q_skyline" ->
      """WITH pts AS MATERIALIZED (
        |  SELECT DISTINCT CAST(round(o_totalprice * 100) AS BIGINT) AS x,
        |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS y
        |  FROM orders),
        |mm AS (SELECT min(x) AS minx, max(x) AS maxx FROM pts),
        |bk AS MATERIALIZED (
        |  SELECT x, y, ((x - minx) * 256) // (maxx - minx + 1) AS b
        |  FROM pts CROSS JOIN mm),
        |bmax AS (SELECT b, max(y) AS ym FROM bk GROUP BY b),
        |pre AS (SELECT b, max(ym) OVER (ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pre FROM bmax),
        |sw AS (SELECT bk.x, bk.y,
        |    greatest(coalesce(max(bk.y) OVER (PARTITION BY bk.b
        |        ORDER BY bk.x ASC, bk.y DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1),
        |      coalesce(pre.pre, -1)) AS cm
        |  FROM bk JOIN pre USING (b))
        |SELECT x AS price_cents, y AS order_day FROM sw WHERE y > cm
        |ORDER BY price_cents""".stripMargin
  )
}
