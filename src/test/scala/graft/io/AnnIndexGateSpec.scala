package graft.io

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.scalatest.BeforeAndAfterAll

import graft.{SparkSpec, TestSpark}

/** The one build-once gate (AnnIndex.gate) over each of the six persisted
  * artifacts — the label, k-means and residual trees and the delta,
  * update and tombstone segments: a second ensure with the same key
  * rewrites nothing, a changed key rewrites, and a write that throws
  * inside the gate leaves the artifact stale, so the next ensure rewrites
  * it and the query answers exactly as before the failure.
  */
class AnnIndexGateSpec extends SparkSpec with BeforeAndAfterAll {

  private val sf = TestSpark.sf0001

  override def afterAll(): Unit = graft.util.Dirs.cleanup(sf)

  private val merged = Seq("vectors", "vectors_delta")

  private def query(segments: Seq[String], tombstones: Option[String] = None,
      residual: Boolean = false)(root: String): Seq[Row] =
    AnnIndex.querySegments(spark, sf, root, segments,
      tombstones = tombstones, residual = residual).collect().toSeq

  private def base(): String = AnnIndex.ensure(spark, sf)

  /** Artifact directory `name` under the root `ensure` returns, read by
    * `answer`; `rekeyed` ensures the same artifact for a different
    * argument list. */
  private case class Artifact(name: String, ensure: () => String,
      answer: String => Seq[Row], rekeyed: Seq[String => Unit] = Nil)

  private val artifacts = Seq(
    "label tree" -> Artifact("vectors", base, query(Seq("vectors"))),
    "k-means tree" -> Artifact("vectors",
      () => AnnIndex.ensureKMeans(spark, sf), query(Seq("vectors"))),
    "residual tree" -> Artifact("vectors",
      () => AnnIndex.ensureResidual(spark, sf),
      query(Seq("vectors"), residual = true)),
    "delta segment" -> Artifact("vectors_delta",
      () => { val r = base(); AnnIndex.ensureDelta(spark, sf, r); r },
      query(merged),
      Seq(r => AnnIndex.ensureDelta(spark, sf, r, Some(41)))),
    "update segment" -> Artifact("vectors_updates",
      () => { val r = base(); AnnIndex.ensureUpdates(spark, sf, r); r },
      query(Seq("vectors", "vectors_updates"))),
    "tombstones" -> Artifact("tombstones",
      () => {
        val r = base()
        AnnIndex.ensureDelta(spark, sf, r)
        AnnIndex.ensureTombstones(spark, sf, r, merged)
        r
      },
      query(merged, Some("tombstones")),
      Seq(r => AnnIndex.ensureTombstones(spark, sf, r, Seq("vectors")))))

  private def written(root: String, name: String): Long =
    new File(new File(root, name), "_SUCCESS").lastModified()

  for ((label, a) <- artifacts) {
    test(s"$label: a second ensure with the same key rewrites nothing") {
      val root = a.ensure()
      val t0 = written(root, a.name)
      assert(a.ensure() == root)
      assert(written(root, a.name) == t0, "same-key ensure rewrote the artifact")
    }

    test(s"$label: a changed key rewrites the artifact") {
      val root = a.ensure()
      val before = a.answer(root)
      val marker = AnnIndex.marker(root, a.name)
      // a marker that stands for a different corpus
      var t = written(root, a.name)
      Files.writeString(marker, "fingerprint-of-another-corpus")
      a.ensure()
      assert(written(root, a.name) != t, "stale corpus key served")
      // a different argument list, then back to the canonical one
      for (other <- a.rekeyed) {
        t = written(root, a.name)
        other(root)
        assert(written(root, a.name) != t, "changed argument list served")
        t = written(root, a.name)
        a.ensure()
        assert(written(root, a.name) != t, "canonical argument list served stale")
      }
      assert(a.answer(root) == before)
    }

    test(s"$label: a write that throws inside the gate leaves the artifact stale") {
      val root = a.ensure()
      val before = a.answer(root)
      val dir = new File(root, a.name)
      val e = intercept[IllegalStateException] {
        AnnIndex.gate(sf, root, a.name, Nil, reuse = false) {
          // part of the artifact is rewritten (here: lost), then the
          // write dies
          dir.listFiles().map(_.getName)
            .filter(n => n.startsWith("cell=") || n.startsWith("part-"))
            .sorted.headOption
            .foreach(n => graft.util.Dirs.deleteRecursively(new File(dir, n)))
          throw new IllegalStateException("write died part-way")
        }
      }
      assert(e.getMessage == "write died part-way")
      assert(!Files.exists(AnnIndex.marker(root, a.name)),
        "a failed write left a valid marker")
      val t = written(root, a.name)
      a.ensure()
      assert(written(root, a.name) != t, "ensure served the half-written artifact")
      assert(a.answer(root) == before)
    }
  }
}
