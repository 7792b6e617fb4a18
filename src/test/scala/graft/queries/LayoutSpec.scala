package graft.queries

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TestSpark}

/** Round-8 layout + span-dedup + time-decay invariants.
  *
  * - q_bucketed_join: the bucketed-table sort-merge join must need NO
  *   shuffle exchange on either side (that is the operator's point); values
  *   must equal the plain join's.
  * - q_partition_prune: the partition-column filter must prune at the scan
  *   (2 of 5 directories selected), not as a row-level filter.
  * - d_dup_spans: planted twins (identical text) must each be ONE span
  *   covering the whole normalized text — dup_frac exactly 1.0 — and the
  *   twin rows must be identical.
  * - e_time_decay_attrib: full local referee — the exact-binary weights,
  *   per-purchase normalization, 6-dp HALF_UP credit rounding, decimal
  *   money sum and 4-dp final round are all replayed in plain Scala and
  *   compared for exact equality.
  */
class LayoutSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  private val sf = TestSpark.sf0001

  // the layout queries leave catalog tables + corpus-dir parquet behind
  // by design; tear them down once the suite's plan assertions are done
  override def afterAll(): Unit = {
    try graft.SparkEntry.cleanup(spark, sf)
    finally super.afterAll()
  }

  test("q_bucketed_join: SMJ over the bucketed tables has zero shuffle exchanges") {
    // running the corpus query writes both bucketed tables (and checks rows)
    val corpus = Relational.queries("q_bucketed_join")(spark, sf).collect()
    assert(corpus.nonEmpty)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val o = spark.table(Relational.layoutTable(sf, "orders"))
      val c = spark.table(Relational.layoutTable(sf, "customer"))
      val joined = o.join(c, o("o_custkey") === c("c_custkey"))
      val plan = joined.queryExecution.sparkPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      // bucketing is value-transparent: same aggregate as the plain join
      val plain = Tables.t(spark, sf, "orders")
        .join(Tables.t(spark, sf, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_price"))
        .orderBy("c_mktsegment").collect()
      assert(corpus.toSeq == plain.toSeq)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_partition_prune: scan selects only the 2 matching partition dirs of 5") {
    // running the corpus query writes the partitioned layout
    assert(Relational.queries("q_partition_prune")(spark, sf).collect().length == 2)
    val base = new java.io.File(graft.util.Dirs.corpus(sf), "part/orders")
      .getAbsolutePath
    val filtered = spark.read.parquet(base)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select("o_totalprice")
    val scan = filtered.queryExecution.sparkPlan.collectLeaves()
      .collect { case f: FileSourceScanExec => f }.head
    assert(scan.partitionFilters.nonEmpty,
      "partition-column predicate must become a partition filter, not a data filter")
    assert(scan.selectedPartitions.partitionCount == 2,
      s"expected 2 of 5 partition dirs, got ${scan.selectedPartitions.partitionCount}")
    assert(spark.read.parquet(base).queryExecution.sparkPlan.collectLeaves()
      .collect { case f: FileSourceScanExec => f }.head
      .selectedPartitions.partitionCount == 5)
  }

  test("hive lake layout: __p_month prunes at the scan; Tables.t hides layout columns") {
    // build the Hive-partitioned lake layout (ScaleUp `hive` mode) from
    // the base corpus — orders lands as __p_month=YYYY-MM/ directories
    val dst = new java.io.File(sys.props("java.io.tmpdir"), "graft_hive_spec")
    try {
      graft.ScaleUp.scale(spark, sf, dst.getAbsolutePath, 1, 1, hive = true)
      val base = s"${dst.getAbsolutePath}/orders.parquet"
      val raw = spark.read.parquet(base)
      val months = raw.select("__p_month").distinct().collect()
        .map(_.getString(0)).sorted
      assert(months.length > 1, "corpus must span multiple months to prove pruning")

      // the date-filtered query a partitioned lake actually runs: filter
      // on the month partition column → must prune DIRECTORIES at the
      // scan, never run as a row-level filter over all partitions
      val filtered = raw.filter(col("__p_month") === months.head)
        .select("o_totalprice")
      val scan = filtered.queryExecution.sparkPlan.collectLeaves()
        .collect { case f: FileSourceScanExec => f }.head
      assert(scan.partitionFilters.nonEmpty,
        "month predicate must become a partition filter")
      assert(scan.selectedPartitions.partitionCount == 1,
        s"expected 1 of ${months.length} month dirs, got " +
          s"${scan.selectedPartitions.partitionCount}")
      assert(spark.read.parquet(base).queryExecution.sparkPlan.collectLeaves()
        .collect { case f: FileSourceScanExec => f }.head
        .selectedPartitions.partitionCount == months.length)

      // layout invariance of the LOGICAL schema: Tables.t hides __p_* so
      // every corpus query sees the flat-corpus schema and values —
      // q1_agg over the hive tree must hash-equal q1_agg over the flat dir
      val hiveCols = Tables.t(spark, dst.getAbsolutePath, "orders").columns.toSet
      val flatCols = Tables.t(spark, sf, "orders").columns.toSet
      assert(hiveCols == flatCols, s"$hiveCols vs $flatCols")
      val hiveQ1 = Relational.queries("q1_agg")(spark, dst.getAbsolutePath).collect()
      val flatQ1 = Relational.queries("q1_agg")(spark, sf).collect()
      assert(hiveQ1.toSeq == flatQ1.toSeq,
        "q1_agg must be value-identical on the hive-partitioned layout")
    } finally {
      if (dst.exists()) graft.util.Dirs.deleteRecursively(dst)
    }
  }

  test("z-ordered layout: a box-range query reads fewer row groups than the unsorted layout") {
    // The stats-pruning half of lake skipping that partition directories
    // don't cover (q_partition_prune proves the directory half): WRITE
    // orders z-ordered — repartitionByRange on the interleaved
    // (o_custkey, day-offset) Morton key + sortWithinPartitions — so each
    // file's parquet row-group min/max stats span a bounded range of BOTH
    // box dimensions; then run the same box-range query against this and
    // an intentionally order-destroying round-robin layout and read the
    // SCAN's executed numOutputRows metric: rows surviving the parquet
    // reader's row-group stats pruning. On the unsorted layout every row
    // group straddles the full key ranges (zero pruning, all 1500 rows
    // leave the scan); on the z-ordered one most row groups are skipped
    // BEFORE decode. This is exactly the mechanism a 100 TB lake relies
    // on for non-partition-column predicates.
    val root = new java.io.File(sys.props("java.io.tmpdir"), "graft_zorder_spec")
    val rm = graft.util.Dirs.deleteRecursively _
    try {
      // the lake schema stores the order date as DATE (INT32 + usable
      // min/max stats); a TIMESTAMP written back through Spark defaults to
      // INT96, whose parquet stats no reader trusts — measured here as
      // zero pruning on an otherwise perfect z-layout
      val orders = Tables.t(spark, sf, "orders")
        .withColumn("o_orderdate", col("o_orderdate").cast("date"))
      val z = Relational.zValue(
        pmod(col("o_custkey"), lit(65536L)),
        datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
          .cast("bigint"), 16)
      val zDir = new java.io.File(root, "z").getAbsolutePath
      val rrDir = new java.io.File(root, "rr").getAbsolutePath
      orders.withColumn("z", z)
        .repartitionByRange(16, col("z")).sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite").parquet(zDir)
      orders.repartition(16).write.mode("overwrite").parquet(rrDir)

      def boxScan(dir: String): (Long, Long, Seq[org.apache.spark.sql.Row]) = {
        val df = spark.read.parquet(dir)
          .filter(col("o_custkey").between(30L, 59L) &&
            col("o_orderdate").between(
              lit("1996-01-01").cast("date"),
              lit("1997-06-30").cast("date")))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
              .cast("double").as("sum_price"))
          .orderBy("o_orderstatus")
        val rows = df.collect().toSeq
        // the EXECUTED metric lives under AQE's adaptive root and the
        // materialized query stages — recurse through both wrappers
        def scans(p: org.apache.spark.sql.execution.SparkPlan):
            Seq[FileSourceScanExec] = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scans(a.executedPlan)
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scans(qs.plan)
          case f: FileSourceScanExec => Seq(f)
          case other => other.children.flatMap(scans)
        }
        val scan = scans(df.queryExecution.executedPlan).head
        // the box predicates must reach the parquet reader as pushed
        // filters — without that, stats pruning can't happen at all
        assert(scan.metadata("PushedFilters").contains("o_custkey"),
          scan.metadata("PushedFilters"))
        (scan.metrics("numOutputRows").value,
          scan.metrics("numFiles").value, rows)
      }
      val (zRows, zFiles, zVals) = boxScan(zDir)
      val (rrRows, rrFiles, rrVals) = boxScan(rrDir)
      assert(zVals == rrVals, "layout must be value-transparent")
      assert(zFiles == 16 && rrFiles == 16)
      val total = orders.count()
      assert(rrRows == total,
        s"round-robin layout: every row group straddles the box, expected zero pruning ($rrRows vs $total)")
      assert(zRows <= total / 2,
        s"z-ordered layout must prune at least half the row groups before decode: $zRows of $total")
      assert(zRows < rrRows)
    } finally if (root.exists()) rm(root)
  }

  test("d_dup_spans: planted twins are one whole-text span with dup_frac 1.0") {
    val rows = Dedup.queries("d_dup_spans")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val twins = rows.filter(_.getAs[Long]("doc_id") % 10 == 0)
    assert(twins.nonEmpty, "planted duplicate docs must surface spans")
    twins.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_spans") == 1L, s"doc $id")
      assert(r.getAs[Long]("dup_chars") == r.getAs[Long]("len"), s"doc $id")
      assert(r.getAs[Double]("dup_frac") == 1.0, s"doc $id")
      val twin = byId.getOrElse(id + 1, fail(s"missing twin of doc $id"))
      assert(twin.getAs[Long]("n_spans") == 1L &&
        twin.getAs[Long]("dup_chars") == r.getAs[Long]("dup_chars") &&
        twin.getAs[Long]("len") == r.getAs[Long]("len"), s"twin of doc $id")
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("dup_chars") <= r.getAs[Long]("len"),
        s"span cover exceeds doc length for doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("e_time_decay_attrib: exact local referee replay of weights, credits, sums") {
    val result = Events.queries("e_time_decay_attrib")(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_credited_clicks"),
        r.getAs[Double]("attributed_value"))).toSeq
    assert(result.nonEmpty)

    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tsus"), col("value"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("event_type"), r.getAs[Long]("tsus"),
        r.getAs[Double]("value")))
    val clicks = ev.filter(_._3 == "click")
    val purchases = ev.filter(_._3 == "purchase")
    // same pairing predicate as EventStreams.clickToPurchase
    val pairs = for {
      (pu, pid, _, pus, value) <- purchases
      (cu, cid, _, cus, _) <- clicks
      if pu == cu && pus >= cus && pus - cus <= 3600000000L
    } yield (pu, pid, cid, pus - cus, value)
    assert(pairs.nonEmpty)
    def round6(d: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP)
    val credits = pairs.groupBy(_._2).toSeq.flatMap { case (_, ps) =>
      val wts = ps.map { case (u, _, cid, dt, v) =>
        (u, cid, 1.0 / (1L << (dt / 600000000L)), v)
      }
      val sumWt = wts.map(_._3).sum // exact: multiples of 1/64
      wts.map { case (u, cid, wt, v) => (u, cid, round6(wt / sumWt * v)) }
    }
    val expected = credits.groupBy(_._1).toSeq.map { case (u, cs) =>
      val total = cs.map(_._3).reduce(_.add(_)) // exact decimal sum
      val rounded = java.math.BigDecimal.valueOf(total.doubleValue)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
      (u, cs.map(_._2).distinct.size.toLong, rounded)
    }.sortBy(_._1)
    assert(result == expected)
  }
}
