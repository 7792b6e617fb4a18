package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Pins the shared ANN-index ground-truth helper and the stratum-twin
  * registry rule: [[Similarity.exactTopK]] against a Scala brute-force
  * top-5 on a small in-memory frame, and every `_s41` entry against its
  * base.
  */
class ExactTopKSpec extends SparkSpec {

  // dim-4 vectors; cosines vs the query (1,0,0,0) sit ≥ 1e-5 away from
  // every 4-dp rounding boundary except where a tie is wanted
  private def unit(c: Double): Array[Float] =
    Array(c.toFloat, math.sqrt(1 - c * c).toFloat, 0f, 0f)
  private val vecs: Seq[(Long, Array[Float])] = Seq(
    0L -> Array(1f, 0f, 0f, 0f), // the query
    1L -> unit(0.99504),
    2L -> unit(0.95783),
    3L -> unit(0.89443),
    // 5th-place tie: both round to 0.7000, and the HIGHER id has the
    // higher raw cosine — the rounded rule must keep the lower id
    5L -> unit(0.69998),
    6L -> unit(0.70002),
    7L -> Array(1f, 2f, 0f, 0f),
    // same direction as the query under another id: cos 1.0, kept —
    // self-exclusion is by id, not by similarity
    8L -> Array(2f, 0f, 0f, 0f))

  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v.toSeq) }: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))

  private def panel(emb: DataFrame, qids: Long*): DataFrame =
    emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  private def cos4(a: Array[Float], b: Array[Float]): Double = {
    def dot(x: Array[Float], y: Array[Float]) =
      x.indices.map(i => x(i).toDouble * y(i).toDouble).sum
    val c = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  private def brute(rows: Seq[(Long, Array[Float])], qids: Seq[Long]): Set[(Long, Long)] =
    qids.flatMap { q =>
      val qv = rows.find(_._1 == q).get._2
      rows.filter(_._1 != q)
        .map { case (id, v) => (id, cos4(v, qv)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(graft.io.AnnIndex.topK)
        .map { case (id, _) => (q, id) }
    }.toSet

  private def run(emb: DataFrame, qs: DataFrame): Set[(Long, Long)] = {
    val rows = Similarity.exactTopK(emb, qs).collect()
    assert(rows.forall(_.getLong(2) == 1L), "every ground-truth row is a hit")
    rows.map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("exactTopK equals a Scala brute-force top-5 (rounded tie, self-exclusion)") {
    val emb = frame(vecs)
    val got = run(emb, panel(emb, 0L, 7L))
    assert(got == brute(vecs, Seq(0L, 7L)))
    val q0 = got.collect { case (0L, id) => id }
    assert(q0 == Set(8L, 1L, 2L, 3L, 5L),
      "rounded-cosine tie keeps the lower vec_id; the self row is excluded")
  }

  test("exactTopK returns every neighbour when a query has fewer than 5") {
    val small = vecs.take(3)
    val emb = frame(small)
    val got = run(emb, panel(emb, 0L))
    assert(got == Set((0L, 1L), (0L, 2L)))
    assert(got == brute(small, Seq(0L)))
  }

  test("every _s41 entry has its base, an oracle exactly when the base does") {
    val queries = graft.SparkEntry.queries.keySet
    val oracles = graft.SparkEntry.oracleSql.keySet
    val twins = queries.filter(_.endsWith("_s41"))
    assert(twins.nonEmpty)
    for (twin <- twins) {
      val base = twin.stripSuffix("_s41")
      assert(queries.contains(base), s"$twin has no base entry $base")
      assert(oracles.contains(twin) == oracles.contains(base),
        s"$twin and $base disagree on having an oracle")
    }
    assert(queries.size == 252)
  }
}
