package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** s_rag_pipeline's DOC-granularity fusion contract (VERDICT r14 ask #5):
  * the lexical tower reduces max-over-chunks BEFORE ranking, so a doc
  * whose best BM25 chunk does NOT start at 0 still fuses with its dense
  * hit — the exact case the previous (doc_id, start)-keyed fusion
  * structurally missed (dense hits were keyed at start 0). The planted
  * corpus makes the expected fused score closed-form: exactly one doc
  * carries the query terms (only inside its SECOND chunk) and the same
  * doc's embedding is the nearest to the query vector, so it is rank 1
  * in BOTH towers and its RRF must be 2/61 — under the old fusion it
  * could collect at most one tower's 1/61 per key.
  */
class RagFusionSpec extends SparkSpec {

  test("both towers' evidence fuses for a doc whose best chunk starts past 0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rag-fusion").toString
    try {
      // doc 1: 400 chars; query terms ONLY in positions ~210-290 — inside
      // the start-150 window (chars 151-350), outside windows 0 and 300
      val junk = "x" * 200
      val mid = (" hash join filter" * 5).padTo(100, 'y') // 100 chars, terms
      val doc1 = junk + "z" * 10 + mid + "z" * 90 // 400 chars total
      require(doc1.length == 400)
      val docs = Seq((1L, doc1)) ++ (2L to 9L).map(i => (i, "w" * 120))
      docs.map { case (id, tx) => (id, tx, "en", "web", tx.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // embeddings: vec 0 = the query; vec 1 = near-identical (dense
      // rank 1); the rest orthogonal-ish. One label → one cell → every
      // vector lands in the probed cell.
      def unit(axis: Int, eps: Float): Array[Float] = {
        val v = Array.fill(64)(0.001f)
        v(axis) = 1.0f
        v(63) = eps
        v
      }
      val embs = Seq(
        (0L, 0L, unit(0, 0.0f).toSeq),
        (1L, 0L, unit(0, 0.2f).toSeq)) ++
        (2L to 9L).map(i => (i, 0L, unit(1 + i.toInt % 60, 0.0f).toSeq))
      embs.toDF("vec_id", "label", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      val out = Similarity.queries("s_rag_pipeline")(spark, dir).collect()
      assert(out.nonEmpty)
      val doc1Row = out.find(_.getAs[Long]("doc_id") == 1L)
        .getOrElse(fail("doc 1 missing from the fused output"))
      // the reported chunk is the BEST lexical chunk — start 150, not 0
      assert(doc1Row.getAs[Long]("start") == 150L,
        s"expected best-chunk start 150, got ${doc1Row.getAs[Long]("start")}")
      // rank 1 in both towers → RRF = 1/61 + 1/61; one tower alone
      // (the old fusion's ceiling for this doc) caps at 1/61 + 1/110
      val expected = BigDecimal(2.0 / 61.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(doc1Row.getAs[Double]("rrf") == expected,
        s"expected fused rrf $expected, got ${doc1Row.getAs[Double]("rrf")}")
    } finally {
      graft.util.Dirs.cleanup(dir)
      graft.util.Dirs.deleteRecursively(new java.io.File(dir))
    }
  }
}
