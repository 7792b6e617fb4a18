package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The literal quantizer: every IVF/PQ/k-means decision of the
  * similarity composites and the persisted ANN index, in one place.
  *
  * A bounded candidate table (seed vectors, label centroids, the PQ
  * codebook, the query batch) is collected once and re-enters the plan
  * (a) as the native [[ArgmaxSim]] literal — the exact round(metric, 9)
  * max-of-struct argmax, larger id on ties — so assignment and coding
  * are one narrow codegen'd projection instead of a
  * crossJoin(broadcast) + groupBy(vec_id) shuffle of the corpus payload,
  * and (b) as a LocalRelation ([[Collected.local]]), so scalar subplans
  * (probe ranking, ADC LUT, artifact writes) compute the identical
  * engine expressions over the identical values with no rescan.
  *
  * Input contract (the bench corpus holds it; a corpus that breaks it is
  * a known divergence from the max-of-struct oracles, not a silent one):
  *   - `vec_id` is unique — the per-row argmax keeps every row, where a
  *     groupBy(vec_id) argmax would have merged duplicates;
  *   - embeddings are non-null with non-null elements — a null corpus
  *     vector gets a NULL cell/code (the row then drops out of IN filters
  *     and ADC sums) where max-of-struct picked the largest id.
  * Candidate tables are checked when they are widened: an empty table, a
  * null id, a null vector or a null element raises an
  * `IllegalArgumentException` that names the table. A label past
  * `Int.MaxValue` fails in [[labelCentroids]]' ANSI cast
  * (`CAST_OVERFLOW`), never wraps.
  */
object Quantizer {
  /** PQ subspaces per 64-dim vector, dims per subspace, codes per subspace. */
  val M = 4
  val sub = 16
  val nCodes = 8

  /** Literal candidates: (id, vector widened to double), ascending by id
    * so ArgmaxSim's later-candidate-wins tie rule IS max-of-struct's
    * larger-id rule. */
  type Cands = Seq[(Int, Seq[Double])]

  /** One collected bounded table, named for error messages. */
  final case class Collected(table: String, rows: Array[Row], schema: StructType) {
    /** The rows re-entered as a LocalRelation with the plan's schema. */
    def local(s: SparkSession): DataFrame =
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

    /** Rows (id, vector) as literal candidates. */
    def cands: Cands = candidates(table, rows.toSeq)

    /** Rows (m, code, codeword) as one literal candidate list per
      * subspace 0 until M. */
    def codebook: Map[Int, Cands] = {
      if (rows.isEmpty) invalid(table, "empty candidate set")
      if (rows.exists(_.isNullAt(0))) invalid(table, "null subspace")
      val bySub = rows.toSeq.groupBy(_.getInt(0)).map { case (m, rs) =>
        m -> candidates(table, rs.map(r => Row(r.get(1), r.get(2))))
      }
      (0 until M).find(m => !bySub.contains(m))
        .foreach(m => invalid(table, s"no codewords for subspace $m"))
      bySub
    }
  }

  def collect(table: String, df: DataFrame): Collected =
    Collected(table, df.collect(), df.schema)

  private def invalid(table: String, what: String): Nothing =
    throw new IllegalArgumentException(s"literal quantizer table '$table': $what")

  /** The collect-and-widen step over rows (id int|bigint, vector
    * array<float|double>): float components widen to double exactly (the
    * metric arithmetic is double either way); ids must fit an Int. */
  private[graft] def candidates(table: String, rows: Seq[Row]): Cands = {
    if (rows.isEmpty) invalid(table, "empty candidate set")
    rows.map { r =>
      val id = r.get(0) match {
        case null => invalid(table, "null candidate id")
        case i: java.lang.Integer => i.intValue
        case l: java.lang.Long if l.longValue == l.intValue => l.intValue
        case other => invalid(table, s"candidate id $other is not an Int")
      }
      val xs = r.getAs[scala.collection.Seq[Any]](1)
      if (xs == null) invalid(table, s"null vector for candidate $id")
      if (xs.contains(null)) invalid(table, s"null element in the vector of candidate $id")
      val v: Seq[Double] = xs match {
        case s if s.nonEmpty && s.head.isInstanceOf[java.lang.Float] =>
          s.asInstanceOf[scala.collection.Seq[Float]].toVector.map(_.toDouble)
        case s => s.asInstanceOf[scala.collection.Seq[Double]].toVector
      }
      (id, v)
    }.sortBy(_._1)
  }

  /** Nearest candidate of vector column `v`: 9-dp cosine argmax, larger
    * id on ties. */
  def cellOf(v: Column, cands: Cands): Column =
    GraftFunctions.argmaxSim(v, cosine = true, offset = 0,
      cands.map(_._1), cands.map(_._2))

  /** PQ code of subspace `m` of vector column `v`: 9-dp dot argmax over
    * the subspace slice, larger code on ties. */
  def codeOf(v: Column, m: Int, codes: Cands): Column =
    GraftFunctions.argmaxSim(v, cosine = false, offset = m * sub,
      codes.map(_._1), codes.map(_._2))

  /** The four PQ code columns c0..c3 of vector column `v`. */
  def codeCols(v: Column, codebook: Map[Int, Cands]): Seq[Column] =
    (0 until M).map(m => codeOf(v, m, codebook(m)).as(s"c$m"))

  /** `v` split into its M subspaces: one (m, `out`) struct row each. */
  def subspaces(v: Column, out: String): Column =
    explode(array((0 until M).map(m =>
      struct(lit(m).as("m"), slice(v, m * sub + 1, sub).as(out))): _*))

  /** PQ codebook rows (m, code, cw) from seed rows with code column
    * `code` and vector column `v`. */
  def codewords(seeds: DataFrame, code: Column, v: Column): DataFrame =
    seeds.select(code.as("code"), subspaces(v, "cw").as("x"))
      .select(col("x.m").as("m"), col("code"), col("x.cw").as("cw"))

  /** The label-centroid frame (cell int, centroid array<double>): per
    * label the component-wise mean, each component rounded to 9 dp so
    * both engines' assignment inputs are bit-identical (averaging is
    * summation-order-dependent). The label→cell cast is ANSI: a label
    * past Int.MaxValue raises CAST_OVERFLOW. */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.groupBy(col("label").cast("int").as("cell"))
      .agg(VectorMean(64)(col("embedding")).as("c0"))
      .select(col("cell"), transform(col("c0"), x => round(x, 9)).as("centroid"))

  /** (vec_id, embedding, cl bigint): every row of `emb` assigned to its
    * nearest candidate. */
  def assign(emb: DataFrame, cands: Cands): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      cellOf(col("embedding"), cands).cast("bigint").as("cl"))

  /** One Lloyd round: assign, 9-dp-rounded VectorMean per cluster,
    * collect (≤ |cands| vectors — bounded driver metadata). */
  def lloydRound(table: String, emb: DataFrame, cands: Cands): Cands =
    collect(table, assign(emb, cands).groupBy("cl")
      .agg(VectorMean(64)(col("embedding")).as("c0"))
      .select(col("cl").cast("int"), transform(col("c0"), x => round(x, 9))))
      .cands

  /** The `nprobe` centroids (rows (cell, centroid)) nearest the local
    * query frame `q` (vector column `qCol`): 9-dp cosine descending,
    * smaller cell first on ties. */
  def probe(s: SparkSession, cents: Collected, q: DataFrame, qCol: String,
      nprobe: Int): Seq[Int] =
    cents.local(s).crossJoin(broadcast(q))
      .select(col("cell"),
        round(GraftFunctions.cosineSim(col("centroid"), col(qCol)), 9).as("qc"))
      .orderBy(col("qc").desc, col("cell"))
      .limit(nprobe)
      .collect().map(_.getInt(0)).toSeq

  /** The one-shot ADC score of vector column `v` against the one-row
    * local query frame `q` (vector column `qv`), unrounded: per subspace
    * the literal code argmax looked up in a literal (code → qd) map,
    * summed in fixed m-order. The LUT (9-dp query·codeword dots over
    * the codebook's LocalRelation) is one bounded collect. */
  def adc(s: SparkSession, cb: Collected, q: DataFrame, v: Column): Column = {
    val codebook = cb.codebook
    val lut: Map[(Int, Int), java.lang.Double] = cb.local(s)
      .crossJoin(broadcast(q))
      .select(col("m"), col("code"),
        round(GraftFunctions.dotProduct(
          slice(col("qv"), col("m") * sub + 1, lit(sub)), col("cw")), 9).as("qd"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        if (r.isNullAt(2)) null else Double.box(r.getDouble(2)): java.lang.Double))
      .toMap
    (0 until M).map { m =>
      element_at(map(codebook(m).flatMap { case (c, _) =>
        val qd = lut((m, c))
        Seq(lit(c),
          (if (qd == null) lit(null) else lit(qd.doubleValue())).cast("double"))
      }: _*), codeOf(v, m, codebook(m)))
    }.reduce(_ + _)
  }
}
