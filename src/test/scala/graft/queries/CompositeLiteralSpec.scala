package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TestSpark}

/** Referee for the r21 literal-quantizer rewrites of the one-shot
  * similarity composites (s_kmeans, s_ivf_topk, s_ivfpq_topk, s_pq_topk,
  * s_semdedup, s_cluster_balance_sample): each former formulation —
  * broadcast crossJoin + groupBy(vec_id) max-of-struct argmax, the
  * exploded-subspace PQ coding, the ADC LUT join — is reconstructed
  * VERBATIM here and compared row for row against the rewritten entry on
  * the real corpus, so a tie-break, rounding, or LUT drift in the
  * literal form is a red suite, not a silent result change. (Value-level
  * correctness stays the DuckDB oracle's job; this pins NEW == OLD.)
  */
class CompositeLiteralSpec extends SparkSpec {

  private val sf = TestSpark.sf0001

  private def entry(name: String): DataFrame =
    Similarity.queries(name)(spark, sf)

  private def assertSameRows(got: DataFrame, ref: DataFrame, tag: String): Unit = {
    assert(got.columns.toSeq == ref.columns.toSeq, s"$tag: column names differ")
    assert(got.exceptAll(ref).isEmpty, s"$tag: new rows not in the former formulation")
    assert(ref.exceptAll(got).isEmpty, s"$tag: former rows not in the new formulation")
  }

  test("s_kmeans: literal Lloyd rounds == broadcast-join formulation") {
    val s = spark
    val k = 8
    val emb = Tables.t(s, sf, "embeddings")
    val vecMean = graft.functions.VectorMean(64)
    def assign(cents: DataFrame) =
      emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("cl"),
          round(graft.functions.GraftFunctions.cosineSim(
            col("embedding"), col("cent")), 9).as("c"))
        .groupBy("vec_id")
        .agg(first("embedding").as("embedding"),
          max(struct(col("c"), col("cl"))).getField("cl").as("cl"))
    val seeds = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cl"), col("embedding").as("cent"))
    val cent1 = assign(seeds).groupBy("cl").agg(vecMean(col("embedding")).as("c0"))
      .select(col("cl"), transform(col("c0"), x => round(x, 9)).as("cent"))
    val ref = assign(cent1).groupBy("cl")
      .agg(count(lit(1)).as("n_members"), vecMean(col("embedding")).as("cent2"))
      .select(col("cl"), col("n_members"),
        round(Similarity.norm(col("cent2")), 4).as("centroid_norm"))
      .orderBy("cl")
    assertSameRows(entry("s_kmeans"), ref, "s_kmeans")
  }

  test("s_ivf_topk: literal assignment + probe == broadcast formulation") {
    val s = spark
    val nprobe = 3
    val emb = Tables.t(s, sf, "embeddings")
    val vecMean = graft.functions.VectorMean(64)
    val cents = emb.groupBy(col("label").as("cell"))
      .agg(vecMean(col("embedding")).as("c0"))
      .select(col("cell"), transform(col("c0"), x => round(x, 9)).as("centroid"))
    val assigned = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cell"),
        round(graft.functions.GraftFunctions.cosineSim(
          col("embedding"), col("centroid")), 9).as("c2c"))
      .groupBy("vec_id")
      .agg(first("embedding").as("embedding"),
        max(struct(col("c2c"), col("cell"))).getField("cell").as("cell"))
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val probed = cents.crossJoin(broadcast(q))
      .select(col("cell"), round(graft.functions.GraftFunctions.cosineSim(
        col("centroid"), col("qvec")), 9).as("qc"))
      .orderBy(col("qc").desc, col("cell"))
      .limit(nprobe)
      .select("cell")
    val ref = assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(probed), "cell")
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.GraftFunctions.cosineSim(col("embedding"), col("qvec")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
    assertSameRows(entry("s_ivf_topk"), ref, "s_ivf_topk")
  }

  test("s_pq_topk: literal codes + ADC map == exploded-subspace formulation") {
    val s = spark
    val dot = graft.functions.GraftFunctions.dotProduct _
    val emb = Tables.t(s, sf, "embeddings")
    val M = 4; val sub = 16
    def subspaces(v: Column, out: String): Column =
      explode(array((0 until M).map(m =>
        struct(lit(m).as("m"), slice(v, m * sub + 1, sub).as(out))): _*))
    val cb = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("code"),
        subspaces(col("embedding"), "cw").as("x"))
      .select(col("x.m").as("m"), col("code"), col("x.cw").as("cw"))
    val codes = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), subspaces(col("embedding"), "sv").as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))
      .join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("code"),
        round(dot(col("sv"), col("cw")), 9).as("dp"))
      .groupBy("vec_id", "m")
      .agg(max(struct(col("dp"), col("code"))).getField("code").as("code"))
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val qlut = cb.crossJoin(broadcast(q))
      .select(col("m"), col("code"),
        round(dot(slice(col("qv"), col("m") * sub + 1, lit(sub)), col("cw")), 9).as("qd"))
    val ref = codes.join(broadcast(qlut), Seq("m", "code"))
      .groupBy("vec_id")
      .agg(max(when(col("m") === 0, col("qd"))).as("d0"),
        max(when(col("m") === 1, col("qd"))).as("d1"),
        max(when(col("m") === 2, col("qd"))).as("d2"),
        max(when(col("m") === 3, col("qd"))).as("d3"))
      .select(col("vec_id"),
        round(col("d0") + col("d1") + col("d2") + col("d3"), 4).as("approx_dot"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
      .limit(10)
    assertSameRows(entry("s_pq_topk"), ref, "s_pq_topk")
  }

  test("s_ivfpq_topk: literal assign/code/ADC == broadcast formulation") {
    val s = spark
    val cos = graft.functions.GraftFunctions.cosineSim _
    val dotN = graft.functions.GraftFunctions.dotProduct _
    val nprobe = 3; val M = 4; val sub = 16; val shortlist = 20
    val emb = Tables.t(s, sf, "embeddings")
    val vecMean = graft.functions.VectorMean(64)
    val cents = emb.groupBy(col("label").as("cell"))
      .agg(vecMean(col("embedding")).as("c0"))
      .select(col("cell"), transform(col("c0"), x => round(x, 9)).as("centroid"))
    val assigned = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cell"),
        round(cos(col("embedding"), col("centroid")), 9).as("c2c"))
      .groupBy("vec_id")
      .agg(first("embedding").as("embedding"),
        max(struct(col("c2c"), col("cell"))).getField("cell").as("cell"))
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val probed = cents.crossJoin(broadcast(q))
      .select(col("cell"), round(cos(col("centroid"), col("qv")), 9).as("qc"))
      .orderBy(col("qc").desc, col("cell")).limit(nprobe).select("cell")
    val cand = assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(probed), "cell")
    def subspaces(v: Column, out: String): Column =
      explode(array((0 until M).map(m =>
        struct(lit(m).as("m"), slice(v, m * sub + 1, sub).as(out))): _*))
    val cb = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("code"),
        subspaces(col("embedding"), "cw").as("x"))
      .select(col("x.m").as("m"), col("code"), col("x.cw").as("cw"))
    val codes = cand
      .select(col("vec_id"), subspaces(col("embedding"), "sv").as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))
      .join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("code"),
        round(dotN(col("sv"), col("cw")), 9).as("dp"))
      .groupBy("vec_id", "m")
      .agg(max(struct(col("dp"), col("code"))).getField("code").as("code"))
    val qlut = cb.crossJoin(broadcast(q))
      .select(col("m"), col("code"),
        round(dotN(slice(col("qv"), col("m") * sub + 1, lit(sub)), col("cw")), 9)
          .as("qd"))
    val short = codes.join(broadcast(qlut), Seq("m", "code"))
      .groupBy("vec_id")
      .agg(max(when(col("m") === 0, col("qd"))).as("d0"),
        max(when(col("m") === 1, col("qd"))).as("d1"),
        max(when(col("m") === 2, col("qd"))).as("d2"),
        max(when(col("m") === 3, col("qd"))).as("d3"))
      .select(col("vec_id"),
        round(col("d0") + col("d1") + col("d2") + col("d3"), 4).as("adc"))
      .orderBy(col("adc").desc, col("vec_id")).limit(shortlist)
    val ref = cand.select(col("vec_id"), col("embedding"))
      .join(broadcast(short), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("adc"),
        round(cos(col("embedding"), col("qv")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
    assertSameRows(entry("s_ivfpq_topk"), ref, "s_ivfpq_topk")
  }

  test("s_cluster_balance_sample: literal assignment == broadcast formulation") {
    val s = spark
    val k = 8
    val emb = Tables.t(s, sf, "embeddings")
    val seeds = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cl"), col("embedding").as("cent"))
    val assigned = emb.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("cl"),
        round(graft.functions.GraftFunctions.cosineSim(
          col("embedding"), col("cent")), 9).as("c"))
      .groupBy("vec_id")
      .agg(max(struct(col("c"), col("cl"))).getField("cl").as("cl"))
    val rates = assigned.groupBy("cl").agg(count(lit(1)).as("n_members"))
      .select(col("cl"), col("n_members"),
        least(lit(1.0), lit(40.0) / col("n_members")).as("rate"))
    val u = (conv(substring(md5(col("vec_id").cast("string")), 1, 12),
      16, 10).cast("double") + 1.0) / 281474976710656.0
    val ref = assigned.join(broadcast(rates), "cl")
      .select(col("cl"), col("n_members"), col("rate"),
        (col("rate") >= 1.0 || u < col("rate")).as("keep"))
      .groupBy("cl", "n_members")
      .agg(round(max("rate"), 6).as("rate6"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast("bigint").as("n_kept"))
      .orderBy("cl")
    assertSameRows(entry("s_cluster_balance_sample"), ref, "s_cluster_balance_sample")
  }

  test("s_semdedup (flat path): literal Lloyd rounds == broadcast formulation") {
    val s = spark
    val emb = Tables.t(s, sf, "embeddings")
    val n = emb.count()
    val k = math.max(8L, (n + 249L) / 250L)
    assume(k <= 256L, "corpus not on the flat path at this SF")
    val vecMean = graft.functions.VectorMean(64)
    def cos9(a: Column, b: Column) =
      round(graft.functions.GraftFunctions.cosineSim(a, b), 9)
    val seeds = emb.orderBy("vec_id").limit(k.toInt)
      .select(col("vec_id").as("cl"), col("embedding").as("cent"))
    def assignFlat(cents: DataFrame) =
      emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("cl"),
          cos9(col("embedding"), col("cent")).as("c"))
        .groupBy("vec_id")
        .agg(first("embedding").as("embedding"),
          max(struct(col("c"), col("cl"))).getField("cl").as("cl"))
    val cent1 = assignFlat(seeds).groupBy("cl")
      .agg(vecMean(col("embedding")).as("c0"))
      .select(col("cl"), transform(col("c0"), x => round(x, 9)).as("cent"))
    val asg = assignFlat(cent1)
    val a = asg.select(col("cl"), col("vec_id").as("id_a"),
      col("embedding").as("ea"))
    val b = asg.select(col("cl"), col("vec_id").as("id_b"),
      col("embedding").as("eb"))
    val dropped = a.join(b, Seq("cl"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(graft.functions.GraftFunctions.cosineSim(
        col("ea"), col("eb")), 4) >= 0.32)
      .select(col("id_b").as("vec_id")).distinct()
    val ref = asg.select(col("cl"), col("vec_id"))
      .join(dropped.withColumn("dr", lit(1)), Seq("vec_id"), "left")
      .groupBy("cl")
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("dr").isNotNull, 1L).otherwise(0L)).cast("bigint")
          .as("n_dropped"))
      .select(col("cl"), col("n_members"), col("n_dropped"),
        (col("n_members") - col("n_dropped")).as("n_kept"))
      .orderBy("cl")
    assertSameRows(entry("s_semdedup"), ref, "s_semdedup")
  }
}
