package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.{SparkSpec, TestSpark}
import graft.functions.Quantizer
import graft.queries.Tables

/** Referee for the r20 literal-quantizer build (AnnIndex.assignAndCode):
  * the per-row `greatest`-over-(metric, id)-structs argmax must equal the
  * formulation it replaced — the broadcast crossJoin + groupBy(vec_id)
  * max-of-struct — row for row on the real corpus. The former shape is
  * reconstructed VERBATIM here from the persisted artifacts and compared
  * against the written tree, so a tie-break or rounding drift in the
  * literal form is a red suite, not a silent index change. (Value-level
  * correctness of the build censuses stays the DuckDB oracle's job.)
  */
class LiteralQuantizerSpec extends SparkSpec with BeforeAndAfterAll {

  private val sf = TestSpark.sf0001

  override def afterAll(): Unit = graft.util.Dirs.cleanup(sf)

  test("literal-form build == broadcast-join argmax formulation, every row") {
    val s = spark
    val cos = graft.functions.GraftFunctions.cosineSim _
    val dotN = graft.functions.GraftFunctions.dotProduct _
    val root = AnnIndex.ensure(s, sf)
    val cents = s.read.parquet(s"$root/centroids")
    val cb = s.read.parquet(s"$root/codebook")
    val emb = Tables.t(s, sf, "embeddings")
    // the pre-r20 assignment pass, verbatim
    val refCell = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cell"),
        round(cos(col("embedding"), col("centroid")), 9).as("c2c"))
      .groupBy("vec_id")
      .agg(max(struct(col("c2c"), col("cell"))).getField("cell").as("cell"))
    // the pre-r20 coding pass, verbatim
    val refCodes = emb
      .select(col("vec_id"), Quantizer.subspaces(col("embedding"), "sv").as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))
      .join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("code"),
        round(dotN(col("sv"), col("cw")), 9).as("dp"))
      .groupBy("vec_id", "m")
      .agg(max(struct(col("dp"), col("code"))).getField("code").as("code"))
      .groupBy("vec_id")
      .agg(max(when(col("m") === 0, col("code"))).as("c0"),
        max(when(col("m") === 1, col("code"))).as("c1"),
        max(when(col("m") === 2, col("code"))).as("c2"),
        max(when(col("m") === 3, col("code"))).as("c3"))
    val ref = refCell.join(refCodes, "vec_id")
      .select("vec_id", "cell", "c0", "c1", "c2", "c3")
    val got = s.read.parquet(s"$root/vectors")
      .select("vec_id", "cell", "c0", "c1", "c2", "c3")
    val n = emb.count()
    assert(got.count() == n, "tree row count != corpus")
    // exact row-set equality in both directions
    assert(got.exceptAll(ref).isEmpty, "tree rows not in the reference")
    assert(ref.exceptAll(got).isEmpty, "reference rows not in the tree")
  }

  test("residual tree: rv when-chain == broadcast-join subtraction, every row") {
    val s = spark
    val cos = graft.functions.GraftFunctions.cosineSim _
    val dotN = graft.functions.GraftFunctions.dotProduct _
    val root = AnnIndex.ensureResidual(s, sf)
    val cents = s.read.parquet(s"$root/centroids")
    val rcb = s.read.parquet(s"$root/codebook")
    val emb = Tables.t(s, sf, "embeddings")
    // pre-r20 residual pipeline, verbatim: broadcast assignment →
    // broadcast centroid join subtraction → broadcast codebook coding
    val assigned = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cell"),
        round(cos(col("embedding"), col("centroid")), 9).as("c2c"))
      .groupBy("vec_id")
      .agg(first("embedding").as("embedding"),
        max(struct(col("c2c"), col("cell"))).getField("cell").as("cell"))
    val resid = assigned.join(broadcast(cents), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding").cast("array<double>"), col("centroid"),
          (x, c) => round(x - c, 9)).as("rv"))
    val refCodes = resid
      .select(col("vec_id"), Quantizer.subspaces(col("rv"), "sv").as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))
      .join(broadcast(rcb), "m")
      .select(col("vec_id"), col("m"), col("code"),
        round(dotN(col("sv"), col("cw")), 9).as("dp"))
      .groupBy("vec_id", "m")
      .agg(max(struct(col("dp"), col("code"))).getField("code").as("code"))
      .groupBy("vec_id")
      .agg(max(when(col("m") === 0, col("code"))).as("c0"),
        max(when(col("m") === 1, col("code"))).as("c1"),
        max(when(col("m") === 2, col("code"))).as("c2"),
        max(when(col("m") === 3, col("code"))).as("c3"))
    val ref = resid.select("vec_id", "cell").join(refCodes, "vec_id")
      .select("vec_id", "cell", "c0", "c1", "c2", "c3")
    val got = s.read.parquet(s"$root/vectors")
      .select("vec_id", "cell", "c0", "c1", "c2", "c3")
    assert(got.exceptAll(ref).isEmpty, "residual tree rows not in the reference")
    assert(ref.exceptAll(got).isEmpty, "reference rows not in the residual tree")
  }
}
