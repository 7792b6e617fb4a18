package graft.io

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.{SparkSpec, TestSpark}
import graft.queries.{Similarity, Tables}

/** The persisted IVF-PQ index's operational contract (VERDICT r13 ask #1):
  * build-once artifacts on disk, a query side with ZERO train work that
  * reads ONLY the probed cell partitions (static pruning proven from
  * executed scan metrics — the LayoutSpec device), and a recall floor vs
  * brute force. Value-level correctness of both entries is the DuckDB
  * oracle's job; this spec pins the PLAN and the artifact lifecycle.
  */
class AnnIndexSpec extends SparkSpec with BeforeAndAfterAll {

  private val sf = TestSpark.sf0001

  override def afterAll(): Unit = {
    graft.util.Dirs.cleanup(sf)
    graft.util.Dirs.cleanup(TestSpark.sf001)
  }

  private def scans(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scans(a.executedPlan)
    case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      scans(qs.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  test("build persists the artifacts; census covers every vector") {
    val rows = Similarity.queries("s_index_build")(spark, sf).collect()
    val root = AnnIndex.rootFor(sf)
    for (a <- Seq("centroids", "codebook", "vectors"))
      assert(new java.io.File(root, a).exists(), s"missing artifact $a")
    val total = Tables.t(spark, sf, "embeddings").count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == total,
      "every vector must land in exactly one cell")
    // one cell=N directory per census row — the layout the query prunes
    val cellDirs = Option(new java.io.File(root, "vectors").listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs == rows.length)
  }

  test("query side: literal cell filter prunes partitions; zero train work in-span") {
    AnnIndex.ensure(spark, sf)
    val nCells = Option(new java.io.File(AnnIndex.rootFor(sf), "vectors")
      .listFiles()).getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    val df = Similarity.queries("s_index_query")(spark, sf)
    val out = df.collect()
    assert(out.length == AnnIndex.batch * AnnIndex.topK)
    val all = scans(df.queryExecution.executedPlan)
    // the MAIN query span reads ONLY the index artifacts — no other input
    // means no train work can hide. The 4-row query batch is read from
    // the base table exactly once, in the bounded probe extract (r20
    // optimization: it used to re-enter this plan as 3-4 redundant
    // base-table scans feeding the probe/LUT/refine broadcasts); its
    // values re-enter here as local relations, so a base-table scan in
    // this span would be a regression.
    val locs = all.map(_.metadata("Location"))
    val root = AnnIndex.rootFor(sf).getAbsolutePath + "/"
    assert(locs.forall(_.contains(root)), locs.mkString("; "))
    assert(!locs.exists(_.contains("embeddings")),
      "query span re-scans the base table; the batch is probe-extract-local")
    val vecScans = all.filter(_.metadata("Location").contains("vectors"))
    assert(vecScans.nonEmpty, "no scan over the persisted coded vectors")
    vecScans.foreach { sc =>
      // the probe list reached the scan as a LITERAL partition filter …
      assert(sc.metadata("PartitionFilters").contains("cell"),
        sc.metadata("PartitionFilters"))
      // … and the EXECUTED metric shows partitions were actually skipped
      // (probe unions cover 7 of 10 label cells at sf0.001 — measured,
      // deterministic)
      val read = sc.metrics("numPartitions").value
      assert(read > 0 && read < nCells,
        s"vectors scan read $read of $nCells partitions — no pruning")
    }
  }

  test("build-once: a second query reuses the artifacts without rebuilding") {
    AnnIndex.ensure(spark, sf)
    val marker = new java.io.File(
      new java.io.File(AnnIndex.rootFor(sf), "vectors"), "_SUCCESS")
    val t0 = marker.lastModified()
    Similarity.queries("s_index_query")(spark, sf).collect()
    assert(marker.lastModified() == t0,
      "query-many must not rewrite the index")
  }

  test("delta ingest: frozen-parameter segment, base tree untouched") {
    AnnIndex.ensure(spark, sf)
    val baseMarker = new java.io.File(
      new java.io.File(AnnIndex.rootFor(sf), "vectors"), "_SUCCESS")
    val t0 = baseMarker.lastModified()
    val rows = Similarity.queries("s_index_delta")(spark, sf).collect()
    // the base segment is NEVER rewritten by a delta ingest (concurrent
    // queries keep their snapshot — the segment-growth contract)
    assert(baseMarker.lastModified() == t0)
    assert(new java.io.File(AnnIndex.rootFor(sf), "vectors_delta").exists())
    val emb = Tables.t(spark, sf, "embeddings")
    assert(rows.map(_.getAs[Long]("n_base")).sum == emb.count())
    assert(rows.map(_.getAs[Long]("n_delta")).sum ==
      emb.filter(col("vec_id") % 7 === 3).count())
    // every delta vector landed in an EXISTING cell (assignment is an
    // argmax over the frozen centroids, so no new cells can appear)
    assert(rows.forall(_.getAs[Long]("n_base") > 0))
  }

  test("compaction: one file per cell; census spans both segments") {
    AnnIndex.ensure(spark, sf)
    val rows = Similarity.queries("s_index_compact")(spark, sf).collect()
    val emb = Tables.t(spark, sf, "embeddings")
    assert(rows.map(_.getAs[Long]("n_vecs")).sum ==
      emb.count() + emb.filter(col("vec_id") % 7 === 3).count())
    // the delta's re-keyed ids made it through the fold
    assert(rows.map(_.getAs[Long]("max_vec")).max > 1000000L)
    // the physical point of compaction: per-probe cost back to ONE file
    // open per cell (the delta segment had added a second tree)
    val compact = new java.io.File(AnnIndex.rootFor(sf), "vectors_compact")
    val cellDirs = Option(compact.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { cd =>
      val parts = cd.listFiles().count(_.getName.startsWith("part-"))
      assert(parts == 1, s"${cd.getName}: $parts part files after compaction")
    }
  }

  test("merged query: BOTH segment trees probe-pruned; delta competes in the shortlist") {
    AnnIndex.ensure(spark, sf)
    val df = Similarity.queries("s_index_query_merged")(spark, sf)
    val out = df.collect()
    assert(out.length == AnnIndex.batch * AnnIndex.topK)
    val all = scans(df.queryExecution.executedPlan)
    val locs = all.map(_.metadata("Location"))
    val root = AnnIndex.rootFor(sf).getAbsolutePath + "/"
    assert(locs.forall(l => l.contains(root) ||
      l.contains("embeddings")), locs.mkString("; "))
    // the probe list lands as a literal partition filter on EVERY
    // segment scan — base and delta alike (per-probe cost = one
    // directory open per segment, the tax compaction undoes)
    for (seg <- Seq("vectors/", "vectors_delta/")) {
      val segScans = all.filter(_.metadata("Location").contains(
        seg.stripSuffix("/")))
      val mine = if (seg == "vectors/")
        segScans.filterNot(_.metadata("Location").contains("vectors_delta"))
      else segScans
      assert(mine.nonEmpty, s"no scan over $seg")
      val nCells = Option(new java.io.File(AnnIndex.rootFor(sf),
        seg.stripSuffix("/")).listFiles()).getOrElse(Array.empty)
        .count(f => f.isDirectory && f.getName.startsWith("cell="))
      val (pruned, unpruned) =
        mine.partition(_.metadata("PartitionFilters").contains("cell"))
      assert(pruned.nonEmpty, s"no pruned candidate scan over $seg")
      pruned.foreach { sc =>
        val read = sc.metrics("numPartitions").value
        assert(read > 0 && read < nCells,
          s"$seg scan read $read of $nCells partitions — no pruning")
      }
      // the ONLY unpruned scan allowed is the shadow-id read feeding the
      // latest-wins mask (r17 ADVICE: it must see ALL cells, else an
      // update that moved its id out of the probe set can't shadow) —
      // and it reads vec_id alone, never the embedding/code columns
      unpruned.foreach { sc =>
        val schema = sc.metadata("ReadSchema")
        assert(schema.contains("vec_id") && !schema.contains("embedding") &&
          !schema.contains("c0"),
          s"$seg: unpruned scan reads more than the shadow id set: $schema")
      }
    }
  }

  test("compaction invariance: query(base+delta) == query(compacted) row-for-row") {
    // the property a segment fold exists to guarantee: folding the
    // segments must not change a single answer. s_index_compact
    // materializes vectors_compact; the SAME querySegments plan then
    // runs once over the two live segments and once over the folded
    // tree.
    val root = AnnIndex.ensure(spark, sf)
    Similarity.queries("s_index_compact")(spark, sf).collect()
    val merged = AnnIndex.querySegments(spark, sf, root,
      Seq("vectors", "vectors_delta")).collect().toSeq
    val compacted = AnnIndex.querySegments(spark, sf, root,
      Seq("vectors_compact")).collect().toSeq
    assert(merged == compacted,
      s"fold changed answers:\nmerged   = $merged\ncompacted = $compacted")
    // and the merged answer is not vacuous: the full panel is there
    assert(merged.length == AnnIndex.batch * AnnIndex.topK)
  }

  test("delta segment is ensure-cached: the merged QUERY never re-pays the write") {
    val root = AnnIndex.ensure(spark, sf)
    AnnIndex.ensureDelta(spark, sf, root)
    val marker = new java.io.File(
      new java.io.File(root, "vectors_delta"), "_SUCCESS")
    assert(marker.exists())
    val t0 = marker.lastModified()
    Similarity.queries("s_index_query_merged")(spark, sf).collect()
    assert(marker.lastModified() == t0,
      "read-path entry rewrote the delta segment (r15/r16 attribution ask)")
  }

  test("tombstones: masked query == query over delete-honoring compaction; deleted ids gone") {
    val root = AnnIndex.ensure(spark, sf)
    AnnIndex.ensureDelta(spark, sf, root)
    AnnIndex.ensureTombstones(spark, sf, root, Seq("vectors", "vectors_delta"))
    val masked = AnnIndex.querySegments(spark, sf, root,
      Seq("vectors", "vectors_delta"), tombstones = Some("tombstones"))
      .collect().toSeq
    assert(masked.length == AnnIndex.batch * AnnIndex.topK)
    // no deleted id survives the mask
    assert(masked.forall(_.getAs[Long]("vec_id") % 11 != 5))
    // and the mask is LIVE, not vacuous: the unmasked merged query
    // answers differently (deleted ids held shortlist/refine slots)
    val unmasked = AnnIndex.querySegments(spark, sf, root,
      Seq("vectors", "vectors_delta")).collect().toSeq
    assert(masked != unmasked, "tombstone batch removed nothing")
    // compaction HONORS deletes: folding with the tombstone list gives
    // a tree whose plain query equals the masked segmented query —
    // the invariance that lets a deployment fold deletes away online
    AnnIndex.compact(spark, root, Seq("vectors", "vectors_delta"),
      "vectors_compact_live", Some("tombstones"))
    val compacted = AnnIndex.querySegments(spark, sf, root,
      Seq("vectors_compact_live")).collect().toSeq
    assert(masked == compacted,
      s"delete-fold changed answers:\nmasked    = $masked\ncompacted = $compacted")
    // and the rows are PHYSICALLY gone from the folded tree
    val live = spark.read.parquet(s"$root/vectors_compact_live")
    assert(live.filter(col("vec_id") % 11 === 5).count() == 0)
    assert(live.count() > 0)
  }

  test("duplicate ids across segments: latest segment wins, never double-counts") {
    val root = AnnIndex.ensure(spark, sf)
    // a synthetic v2 segment re-adds EVERY id with reversed embeddings
    // (an update written as a later segment — the overlap class the r16
    // advisory flagged: without masking, duplicate (qid, vec_id) refine
    // rows take distinct ranks and corrupt the top-5)
    val v2 = spark.read.parquet(s"$root/vectors")
      .withColumn("embedding", reverse(col("embedding")))
    v2.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/vectors_v2")
    val only2 = AnnIndex.querySegments(spark, sf, root,
      Seq("vectors_v2")).collect().toSeq
    val both = AnnIndex.querySegments(spark, sf, root,
      Seq("vectors", "vectors_v2")).collect().toSeq
    assert(both == only2,
      "latest-segment-wins violated: base rows leaked through the update")
    // non-vacuous: the update genuinely changes answers
    val base = AnnIndex.querySegments(spark, sf, root,
      Seq("vectors")).collect().toSeq
    assert(base != only2)
    // order matters: reversed segment list masks the other way
    val rev = AnnIndex.querySegments(spark, sf, root,
      Seq("vectors_v2", "vectors")).collect().toSeq
    assert(rev == base)
    graft.util.Dirs.deleteRecursively(new java.io.File(root, "vectors_v2"))
  }

  test("update moving ids to DIFFERENT cells still shadows the stale base rows") {
    // the r17 ADVICE-high class: writeUpdateSegment re-assigns each
    // re-added row to the cell nearest its NEW embedding, so the update
    // row can land OUTSIDE the probe list while the stale base row sits
    // inside it. A dedup computed after probe pruning never sees the
    // update row and serves the stale one; latest-wins must therefore
    // shadow against UNPRUNED later-segment ids. Deterministic driver:
    // re-add EVERY id one cell over ((cell+1) mod nCells), so a fixed
    // fraction of re-adds leaves any probe set.
    val root = AnnIndex.ensure(spark, sf)
    val base = spark.read.parquet(s"$root/vectors")
    val nCells = base.select("cell").distinct().count().toInt
    base.withColumn("embedding", reverse(col("embedding")))
      .withColumn("cell", ((col("cell") + 1) % nCells).cast("int"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/vectors_v2m")
    val both = AnnIndex.querySegments(spark, sf, root,
      Seq("vectors", "vectors_v2m")).collect().toSeq
    val only2 = AnnIndex.querySegments(spark, sf, root,
      Seq("vectors_v2m")).collect().toSeq
    assert(both == only2,
      "stale base rows leaked: the shadow mask must use UNPRUNED " +
        "later-segment id sets, not the probe-pruned rows")
    graft.util.Dirs.deleteRecursively(new java.io.File(root, "vectors_v2m"))
  }

  test("compaction under upserts: latest-wins fold == masked segmented query") {
    // the r17 VERDICT gap: compact() used to union segments verbatim, so
    // folding an update segment materialized duplicate vec_ids that the
    // single-segment query path then served unmasked — resurrecting the
    // stale rows the query-time mask shadows
    val root = AnnIndex.ensure(spark, sf)
    AnnIndex.ensureUpdates(spark, sf, root)
    AnnIndex.writeTombstones(spark, sf, root, Seq("vectors", "vectors_updates"))
    val masked = AnnIndex.querySegments(spark, sf, root,
      Seq("vectors", "vectors_updates"), tombstones = Some("tombstones"))
      .collect().toSeq
    assert(masked.length == AnnIndex.batch * AnnIndex.topK)
    AnnIndex.compact(spark, root, Seq("vectors", "vectors_updates"),
      "vectors_compact_upsert", Some("tombstones"))
    val compacted = AnnIndex.querySegments(spark, sf, root,
      Seq("vectors_compact_upsert")).collect().toSeq
    assert(masked == compacted,
      s"upsert-fold changed answers:\nmasked    = $masked\ncompacted = $compacted")
    // the folded tree carries ONE row per id — the update won, the
    // stale base twin is physically gone
    val folded = spark.read.parquet(s"$root/vectors_compact_upsert")
    assert(folded.groupBy("vec_id").count()
      .filter(col("count") > 1).count() == 0,
      "compaction materialized duplicate vec_ids")
    assert(folded.count() > 0)
    graft.util.Dirs.deleteRecursively(
      new java.io.File(root, "vectors_compact_upsert"))
  }

  test("tombstone cache regenerates when the segments list changes (marker carries args)") {
    // the r17 ADVICE low: the old marker held only the corpus
    // fingerprint, so tombstones computed over one segment list were
    // silently reused for another
    val root = AnnIndex.ensure(spark, sf)
    AnnIndex.ensureDelta(spark, sf, root)
    val success = new java.io.File(new java.io.File(root, "tombstones"), "_SUCCESS")
    AnnIndex.ensureTombstones(spark, sf, root, Seq("vectors", "vectors_delta"))
    val t1 = success.lastModified()
    // same list: served from cache, no rewrite
    AnnIndex.ensureTombstones(spark, sf, root, Seq("vectors", "vectors_delta"))
    assert(success.lastModified() == t1, "same-args ensure rewrote the cache")
    // different list: the marker mismatch forces a regeneration
    AnnIndex.ensureTombstones(spark, sf, root, Seq("vectors"))
    assert(success.lastModified() != t1,
      "ensureTombstones reused tombstones computed over a DIFFERENT segment list")
    // and the regenerated content matches the new list: no re-keyed
    // delta ids (>1,000,000) can appear in a base-only tombstone set
    val ids = spark.read.parquet(s"$root/tombstones")
    assert(ids.filter(col("vec_id") > 1000000L).count() == 0)
    // restore the canonical merged-list cache for later tests
    AnnIndex.ensureTombstones(spark, sf, root, Seq("vectors", "vectors_delta"))
  }

  test("reinsert after delete: a tombstoned id re-added later STAYS masked") {
    // pins the documented writeTombstones precondition: deletes are
    // GLOBAL, not segment-scoped — re-adding a tombstoned id in a later
    // segment does NOT resurrect it (Lucene would scope the delete to
    // older segments; here the mask runs after the latest-wins union, so
    // reinsert requires compacting the tombstones away first)
    val root = AnnIndex.ensure(spark, sf)
    AnnIndex.ensureDelta(spark, sf, root)
    AnnIndex.ensureTombstones(spark, sf, root, Seq("vectors", "vectors_delta"))
    val base = spark.read.parquet(s"$root/vectors")
    base.withColumn("embedding", reverse(col("embedding")))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/vectors_v2r")
    // the re-add segment genuinely contains tombstoned ids
    assert(spark.read.parquet(s"$root/vectors_v2r")
      .filter(col("vec_id") % 11 === 5).count() > 0)
    val out = AnnIndex.querySegments(spark, sf, root,
      Seq("vectors", "vectors_v2r"), tombstones = Some("tombstones"))
      .collect().toSeq
    assert(out.length == AnnIndex.batch * AnnIndex.topK)
    assert(out.forall(_.getAs[Long]("vec_id") % 11 != 5),
      "a re-added tombstoned id resurfaced — deletes must stay global")
    graft.util.Dirs.deleteRecursively(new java.io.File(root, "vectors_v2r"))
  }

  test("tombstone mask plan: broadcast LEFT-ANTI, never a shuffle of the candidates") {
    val root = AnnIndex.ensure(spark, sf)
    AnnIndex.ensureDelta(spark, sf, root)
    AnnIndex.ensureTombstones(spark, sf, root, Seq("vectors", "vectors_delta"))
    val df = AnnIndex.querySegments(spark, sf, root,
      Seq("vectors", "vectors_delta"), tombstones = Some("tombstones"))
    df.collect()
    def antiJoins(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        antiJoins(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        antiJoins(qs.plan)
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if b.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti =>
        Seq(b) ++ b.children.flatMap(antiJoins)
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti =>
        fail("tombstone mask planned as a SHUFFLED anti-join — the id " +
          "list is bounded and must broadcast")
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti =>
        fail("tombstone mask planned as a SORT-MERGE anti-join — the id " +
          "list is bounded and must broadcast")
      case other => other.children.flatMap(antiJoins)
    }
    assert(antiJoins(df.queryExecution.executedPlan).nonEmpty,
      "no broadcast anti-join in the tombstoned query plan")
  }

  test("upsert entry: the update segment shadows base rows and changes answers") {
    val upd = Similarity.queries("s_index_query_updated")(spark, sf)
      .collect().toSeq
    assert(upd.length == AnnIndex.batch * AnnIndex.topK)
    // non-vacuous: reversed re-adds of the %13 batch must move answers
    val base = Similarity.queries("s_index_query")(spark, sf).collect().toSeq
    assert(upd != base, "update batch changed no answer")
    // and the shadow is exactly latest-segment-wins: the same query over
    // a tree where the update rows REPLACE their base rows agrees
    val root = AnnIndex.ensure(spark, sf)
    val cols = Seq("cell", "vec_id", "embedding", "c0", "c1", "c2", "c3")
      .map(col)
    spark.read.parquet(s"$root/vectors").select(cols: _*)
      .join(spark.read.parquet(s"$root/vectors_updates").select("vec_id"),
        Seq("vec_id"), "left_anti")
      .select(cols: _*)
      .unionByName(spark.read.parquet(s"$root/vectors_updates")
        .select(cols: _*))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/vectors_substituted")
    val substituted = AnnIndex.querySegments(spark, sf, root,
      Seq("vectors_substituted")).collect().toSeq
    assert(upd == substituted,
      s"latest-wins mask diverges from physical substitution:\n$upd\nvs\n$substituted")
    graft.util.Dirs.deleteRecursively(
      new java.io.File(root, "vectors_substituted"))
  }

  test("recall census entry: one row per query, recall consistent with the floor") {
    val rows = Similarity.queries("s_index_recall")(spark, sf).collect()
    assert(rows.length == AnnIndex.batch)
    rows.foreach { r =>
      val nHit = r.getAs[Long]("n_hit")
      // the same floor the brute-force test below asserts, as a value
      assert(nHit >= 1L && nHit <= AnnIndex.topK)
      assert(r.getAs[Double]("recall_at_5") == nHit / 5.0)
    }
  }

  test("recall curve entry: one row per nprobe, recall monotone non-decreasing") {
    val rows = Similarity.queries("s_index_recall_curve")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq == Seq(3L, 5L, 10L))
    val rec = rows.map(_.getAs[Double]("recall_at_5")).toSeq
    // larger probe sets are supersets of smaller ones, but with the
    // refine depth scaled to the probe budget monotonicity is NOT
    // mathematically guaranteed (a wider ADC shortlist over a superset
    // pool can displace a smaller pool's hits — shortlist displacement);
    // on the pinned testdata the curve is empirically monotone, and a
    // small tolerance keeps corpus regeneration from flaking the suite
    // (r18 ADVICE)
    rec.sliding(2).foreach { w =>
      assert(w(1) >= w(0) - 0.05,
        s"recall fell past tolerance in nprobe: $rec")
    }
    // …and the EXPECTED curve is pinned on the fixed sf0.001 testdata
    // (r19 ADVICE: the pairwise tolerance alone would let a systematic
    // 0.05-per-step drop through; the corpus is generator-deterministic
    // — index-entry hashes have matched across regenerations for many
    // rounds — so the exact values are assertable)
    assert(rec == Seq(0.45, 0.6, 0.85),
      s"recall curve moved off the pinned sf0.001 values: $rec")
    rows.foreach { r =>
      assert(r.getAs[Double]("recall_at_5") ==
        r.getAs[Long]("n_hit") / (AnnIndex.batch * AnnIndex.topK).toDouble)
    }
    // nprobe = 10 probes every cell at the testdata layouts, so the top
    // row is the refine ceiling — at least the 3-probe recall and > 0
    assert(rec.last >= rec.head && rec.last > 0.0)
  }

  test("probe-cost entry: scanned rows monotone in nprobe; full sweep = whole index") {
    val rows = Similarity.queries("s_index_probe_cost")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq == Seq(3L, 5L, 10L))
    val scanned = rows.map(_.getAs[Long]("n_scanned")).toSeq
    // larger probe sets are supersets — scanned cost strictly orders
    assert(scanned == scanned.sorted && scanned.distinct == scanned,
      s"scan cost not strictly monotone: $scanned")
    // nprobe = 10 probes every cell at the testdata layouts: the cost
    // ceiling is the whole index per query (frac_scanned = 1.0)
    val total = Tables.t(spark, sf, "embeddings").count()
    assert(scanned.last == AnnIndex.batch * total)
    assert(rows.last.getAs[Double]("frac_scanned") == 1.0)
  }

  test("refine recall floor: each query's top-5 overlaps brute force") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val idx = Similarity.queries("s_index_query")(spark, sf).collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val emb = Tables.t(spark, sf, "embeddings")
    val qs = emb.filter(col("vec_id") < AnnIndex.batch)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    val bf = emb.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(graft.functions.GraftFunctions.cosineSim(
          col("embedding"), col("qv")), 4).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= AnnIndex.topK)
      .collect().groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    assert(idx.keySet == bf.keySet && idx.size == AnnIndex.batch)
    idx.foreach { case (qid, ids) =>
      assert(ids.size == AnnIndex.topK)
      // crude 8-code sample codebook + nprobe 3/10 — the floor catches a
      // broken probe/ADC/refine chain, not codebook quality (measured
      // overlap 2-3 of 5 per query at sf0.001/sf0.01)
      assert(ids.intersect(bf(qid)).size >= 1,
        s"query $qid: index top-5 disjoint from brute force")
    }
  }

  test("shadow-set bound: an oversized later segment fails loudly toward compact") {
    // r18 VERDICT advisory #1: broadcast() is a hint the planner honors
    // regardless of size, so the bounded-update-batch precondition must
    // be ENFORCED — a deployment whose delta grows to base scale gets a
    // typed error naming the remedy, not a silent driver OOM
    val root = AnnIndex.ensure(spark, sf)
    AnnIndex.ensureDelta(spark, sf, root)
    val err = intercept[IllegalArgumentException] {
      AnnIndex.querySegments(spark, sf, root,
        Seq("vectors", "vectors_delta"), maxShadow = 1L)
    }
    assert(err.getMessage.contains("compact"),
      s"guard must point at compaction: ${err.getMessage}")
    // the bound is on the SHADOW sources (later segments) only: a
    // single-segment read never shadows, so it passes any bound
    AnnIndex.querySegments(spark, sf, root, Seq("vectors"), maxShadow = 1L)
  }

  test("external queries: re-keyed qids, full top-5 per query, no self rows") {
    val rows = Similarity.queries("s_index_query_external")(spark, sf).collect()
    val qids = rows.map(_.getAs[Long]("qid")).toSet
    assert(qids == (0 until AnnIndex.batch).map(_ + 2000000L).toSet)
    assert(rows.length == AnnIndex.batch * AnnIndex.topK)
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rs) =>
      assert(rs.map(_.getAs[Long]("rnk")).sorted.toSeq ==
        (1L to AnnIndex.topK).toSeq)
      // results come from the index, never echo the external qid
      rs.foreach(r => assert(r.getAs[Long]("vec_id") != qid))
    }
  }

  test("held-out external queries hit the stratum index they were excluded from") {
    val rows =
      Similarity.queries("s_index_query_external_s41")(spark, sf).collect()
    val strat = Tables.t(spark, sf, "embeddings")
      .filter(Tables.stratum(col("vec_id"), 41))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      // query ids are OUTSIDE the stratum; answers are INSIDE it
      assert(!strat.contains(r.getAs[Long]("qid")))
      assert(strat.contains(r.getAs[Long]("vec_id")))
    }
    assert(rows.map(_.getAs[Long]("qid")).distinct.length == AnnIndex.batch)
  }

  test("kmeans build: trained tree next to the label tree, same corpus coverage") {
    val rows = Similarity.queries("s_index_build_kmeans")(spark, sf).collect()
    val root = AnnIndex.rootFor(sf, None, Some("km"))
    for (a <- Seq("centroids", "codebook", "vectors", "vectors_stats"))
      assert(new java.io.File(root, a).exists(), s"missing artifact $a")
    val total = Tables.t(spark, sf, "embeddings").count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == total,
      "every vector must land in exactly one trained cell")
    // cells are Lloyd clusters seeded from the first 8 vectors — at most
    // 8 survive (empty clusters drop out of the census)
    assert(rows.length <= 8)
    // the label tree is untouched by the variant build
    assert(new java.io.File(AnnIndex.rootFor(sf), "vectors").exists())
  }

  test("quantizer A/B recall: one row per quantizer, shared denominator") {
    val rows =
      Similarity.queries("s_index_recall_quantizers")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("quantizer")).toSeq ==
      Seq("kmeans", "label"))
    rows.foreach { r =>
      val nHit = r.getAs[Long]("n_hit")
      assert(nHit >= 0L && nHit <= (AnnIndex.batch * AnnIndex.topK).toLong)
      assert(r.getAs[Double]("recall_at_5") ==
        nHit / (AnnIndex.batch * AnnIndex.topK).toDouble)
    }
  }

  test("quantizer A/B stratum twin: same shape over the 1-in-41 trees") {
    val rows =
      Similarity.queries("s_index_recall_quantizers_s41")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("quantizer")).toSeq ==
      Seq("kmeans", "label"))
    rows.foreach { r =>
      val nHit = r.getAs[Long]("n_hit")
      assert(nHit >= 0L && nHit <= (AnnIndex.batch * AnnIndex.topK).toLong)
    }
  }

  test("matched-k quantizer A/B: trained cells = label cells, shared denominator") {
    val rows =
      Similarity.queries("s_index_recall_quantizers_matched")(spark, sf)
        .collect()
    assert(rows.map(_.getAs[String]("quantizer")).toSeq ==
      Seq("kmeans", "label"))
    rows.foreach { r =>
      val nHit = r.getAs[Long]("n_hit")
      assert(nHit >= 0L && nHit <= (AnnIndex.batch * AnnIndex.topK).toLong)
      assert(r.getAs[Double]("recall_at_5") ==
        nHit / (AnnIndex.batch * AnnIndex.topK).toDouble)
    }
    // the matched tree really trains as many cells as the corpus has
    // labels (empty Lloyd clusters may drop, so <=), unlike the 8-seed
    // km control
    val k = Tables.t(spark, sf, "embeddings")
      .select("label").distinct().count().toInt
    val root = AnnIndex.rootFor(sf, None, Some(AnnIndex.kmVariant(k)))
    val cells = spark.read.parquet(
      new java.io.File(root, "centroids").getAbsolutePath).count()
    assert(cells > AnnIndex.nCodes && cells <= k,
      s"matched-k tree has $cells cells for $k labels")
  }

  test("residual build: same cells as the raw tree, codes differ") {
    val rows =
      Similarity.queries("s_index_build_residual")(spark, sf).collect()
    val root = AnnIndex.rootFor(sf, None, Some("res"))
    for (a <- Seq("centroids", "codebook", "vectors", "vectors_stats"))
      assert(new java.io.File(root, a).exists(), s"missing artifact $a")
    val total = Tables.t(spark, sf, "embeddings").count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == total)
    // cells are the SAME label cells as the raw tree (coding is the
    // only moving axis) …
    AnnIndex.ensure(spark, sf)
    val rawCells = spark.read.parquet(
        s"${AnnIndex.rootFor(sf).getAbsolutePath}/vectors")
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val resCells = spark.read.parquet(s"${root.getAbsolutePath}/vectors")
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rawCells == resCells, "residual build moved cell assignments")
    // … and the residual codes genuinely differ from the raw codes
    val raw = spark.read.parquet(
        s"${AnnIndex.rootFor(sf).getAbsolutePath}/vectors")
      .select(col("vec_id"), col("c0").as("r0"))
    val res = spark.read.parquet(s"${root.getAbsolutePath}/vectors")
      .select(col("vec_id"), col("c0"))
    assert(raw.join(res, "vec_id")
      .filter(col("r0") =!= col("c0")).count() > 0,
      "residual coding produced identical codes — the subtraction is dead")
  }

  test("residual A/B recall: one row per coding, shared denominator") {
    val rows =
      Similarity.queries("s_index_recall_residual")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("coding")).toSeq ==
      Seq("raw", "residual"))
    rows.foreach { r =>
      val nHit = r.getAs[Long]("n_hit")
      assert(nHit >= 0L && nHit <= (AnnIndex.batch * AnnIndex.topK).toLong)
      assert(r.getAs[Double]("recall_at_5") ==
        nHit / (AnnIndex.batch * AnnIndex.topK).toDouble)
    }
  }

  test("external qid colliding with an indexed id fails loudly") {
    // r19 ADVICE: with an external batch the self-exclusion filter is
    // dropped, so a colliding qid would silently return the query row
    // as its own neighbor — the disjointness precondition is enforced
    val root = AnnIndex.ensure(spark, sf)
    val colliding = Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") < AnnIndex.batch)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val err = intercept[IllegalArgumentException] {
      AnnIndex.querySegments(spark, sf, root, Seq("vectors"),
        queries = Some(colliding)).collect()
    }
    assert(err.getMessage.contains("disjoint"), err.getMessage)
    // disjoint external qids still pass (the enforced precondition is
    // collision, not externality)
    val disjoint = colliding.select((col("qid") + 5000000L).as("qid"),
      col("qv"))
    assert(AnnIndex.querySegments(spark, sf, root, Seq("vectors"),
      queries = Some(disjoint)).collect()
      .length == AnnIndex.batch * AnnIndex.topK)
  }

  test("shadow guard reads segment stats, not a count scan") {
    // r19 VERDICT ask #2: the guard must price later segments from the
    // <seg>_stats catalog metadata. Contract: segmentRows agrees with
    // the tree for a stats-backed segment, and still answers (by the
    // count fallback) for a segment written without stats.
    val root = AnnIndex.ensure(spark, sf)
    AnnIndex.ensureDelta(spark, sf, root)
    val viaStats = AnnIndex.segmentRows(spark, root, "vectors_delta")
    val actual = spark.read.parquet(s"$root/vectors_delta").count()
    assert(viaStats == actual)
    // memoized: a second read answers from the driver-side cache even
    // if the stats files are deleted out from under it (same mtime key)
    assert(AnnIndex.segmentRows(spark, root, "vectors_delta") == actual)
    // fallback: a raw segment with no stats directory still counts
    spark.read.parquet(s"$root/vectors").limit(7).write
      .mode("overwrite").parquet(s"$root/vectors_nostats")
    assert(AnnIndex.segmentRows(spark, root, "vectors_nostats") == 7L)
    graft.util.Dirs.deleteRecursively(
      new java.io.File(root, "vectors_nostats"))
  }

  test("nprobe selector picks the smallest budget meeting the floor at the sf0.01 ledger") {
    // r19 VERDICT ask #7 acceptance: at the pinned sf0.01 ledger the
    // curve reads ~0.55 / 0.75 / … over nprobe {3, 5, 10}, so with the
    // 0.7 floor the selector must land on nprobe = 5 — more recall than
    // the floor demands is wasted scan, less fails it
    val row = Similarity.queries("s_index_nprobe_select")(
      spark, TestSpark.sf001).collect()
    assert(row.length == 1, "selector must emit exactly one operating point")
    val r = row.head
    assert(r.getAs[Long]("nprobe") == 5L, r.toString)
    assert(r.getAs[Long]("meets_floor") == 1L)
    assert(r.getAs[Double]("recall_at_5") >= AnnIndex.recallFloor)
    // the point of the selector: the chosen budget scans a FRACTION of
    // the index, not all of it
    assert(r.getAs[Double]("frac_scanned") < 1.0)
  }

  test("nprobe selector falls back to the max-recall point when nothing meets the floor") {
    // same ledgers, floor forced above the curve ceiling: the rule's
    // fallback arm picks the LARGEST nprobe (max recall) instead of
    // returning an empty operating point
    val pick = Similarity.selectOperatingPoint(
      Similarity.queries("s_index_recall_curve")(spark, sf)
        .join(Similarity.queries("s_index_probe_cost")(spark, sf), "nprobe"),
      floor = 2.0).collect().head
    assert(pick.getAs[Long]("meets_floor") == 0L)
    assert(pick.getAs[Long]("nprobe") == 10L,
      s"fallback must pick the max-recall sweep point: $pick")
  }

  test("cell stats are build-time catalog metadata matching the tree census") {
    Similarity.queries("s_index_build")(spark, sf).collect()
    val root = AnnIndex.rootFor(sf).getAbsolutePath
    val stats = spark.read.parquet(s"$root/vectors_stats")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val actual = spark.read.parquet(s"$root/vectors")
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(stats == actual, "stats must mirror the vectors tree exactly")
  }

  test("live probe-cost ledger: segmented scan cost plus fixed mask overheads") {
    val rows =
      Similarity.queries("s_index_probe_cost_live")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq == Seq(3L, 5L, 10L))
    val scanned = rows.map(_.getAs[Long]("n_scanned")).toSeq
    assert(scanned == scanned.sorted && scanned.distinct == scanned)
    // full sweep = base + delta rows, per query
    val root = AnnIndex.ensure(spark, sf)
    val base = spark.read.parquet(s"$root/vectors").count()
    val delta = spark.read.parquet(s"$root/vectors_delta").count()
    assert(scanned.last == AnnIndex.batch * (base + delta))
    assert(rows.last.getAs[Double]("frac_scanned") == 1.0)
    // the shadow and tombstone overheads are nprobe-INDEPENDENT (the
    // ledger's point: the masks are per-batch fixed costs)
    assert(rows.map(_.getAs[Long]("n_shadow_ids")).distinct.length == 1)
    assert(rows.head.getAs[Long]("n_shadow_ids") == delta)
    val tomb = spark.read.parquet(s"$root/tombstones").count()
    assert(rows.map(_.getAs[Long]("n_tombstoned")).distinct.length == 1)
    assert(rows.head.getAs[Long]("n_tombstoned") == tomb)
  }
}
