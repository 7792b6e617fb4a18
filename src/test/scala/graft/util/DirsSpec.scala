package graft.util

import java.io.File
import java.nio.file.Files

import graft.{SparkSpec, TestSpark}
import graft.io.AnnIndex

/** The one owner of the corpus artifacts: a dead process's root is swept
  * whole, `cleanup(d)` removes exactly `d`'s artifacts (never a neighbour
  * whose path sanitizes alike or extends it), and a staged stream input
  * is re-staged after a cleanup instead of being served from a deleted
  * tree.
  */
class DirsSpec extends SparkSpec {

  private def touch(f: File): File = {
    f.getParentFile.mkdirs()
    Files.writeString(f.toPath, "x")
    f
  }

  /** One file per artifact kind of corpus `d` in this process. */
  private def artifacts(d: String): Seq[File] = Seq(
    touch(new File(AnnIndex.rootFor(d), "vectors/_SUCCESS")),
    touch(new File(AnnIndex.rootFor(d, Some(41), Some("km")), "vectors/_SUCCESS")),
    new File(Dirs.staged(d, "spec")(dir => touch(new File(dir, "part-0"))), "part-0"),
    touch(new File(Dirs.corpus(d), "part/orders/_SUCCESS")))

  test("a dead process's root is swept whole; live roots stay") {
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    val dead = new File(Dirs.root.getParentFile, s"graft_p${child.pid()}")
    // the same artifact kinds a live run leaves, rebased onto the dead root
    val mine = artifacts("/spec/sf_dead") :+
      touch(new File(Dirs.root, "graft_ingest_0123456789ab/ck/0"))
    val theirs = mine.map(f => dead.toPath.resolve(
      Dirs.root.toPath.relativize(f.toPath)).toFile)
    theirs.foreach(touch)
    val parent = ProcessHandle.current().parent().get().pid()
    val live = touch(new File(Dirs.root.getParentFile, s"graft_p$parent/x"))
    try {
      Dirs.sweepDead()
      assert(!dead.exists(), "the dead process's root was not swept")
      assert(live.exists(), "a live process's root was swept")
      assert(mine.forall(_.exists()), "this process's root was swept")
    } finally {
      Dirs.deleteRecursively(live.getParentFile)
      Dirs.deleteRecursively(new File(Dirs.root, "graft_ingest_0123456789ab"))
      Dirs.cleanup("/spec/sf_dead")
    }
  }

  test("cleanup(d) removes every artifact of d and none of a neighbour's") {
    val ds = Seq("/spec/sf1", "/spec/sf1h", "/spec/sf0.1", "/spec/sf0_1")
    assert(ds.map(Dirs.corpusKey).distinct.size == ds.size)
    val made = ds.map(d => d -> artifacts(d)).toMap
    try {
      for ((gone, kept) <- Seq("/spec/sf1" -> "/spec/sf1h",
          "/spec/sf0.1" -> "/spec/sf0_1")) {
        Dirs.cleanup(gone)
        assert(!Dirs.corpus(gone).exists(), s"$gone: corpus dir left")
        assert(made(kept).forall(_.exists()), s"$gone's cleanup touched $kept")
      }
    } finally ds.foreach(Dirs.cleanup)
  }

  test("a staging that throws leaves no tree and no key; the next call stages") {
    val d = "/spec/sf_fail"
    var runs = 0
    try {
      intercept[IllegalStateException] {
        Dirs.staged(d, "spec") { dir =>
          runs += 1
          touch(new File(dir, "half"))
          throw new IllegalStateException("staging failed")
        }
      }
      assert(!new File(Dirs.corpus(d), "stage_spec").exists())
      val dir = Dirs.staged(d, "spec") { dir => runs += 1; touch(new File(dir, "part-0")) }
      assert(runs == 2 && dir.list().toSeq == Seq("part-0"))
    } finally Dirs.cleanup(d)
  }

  test("an st_* entry run after cleanup(d) re-stages its input") {
    val sf = TestSpark.sf0001
    val q = graft.streaming.EventStreams.queries("st_ingest_shards")
    val staged = new File(Dirs.corpus(sf), "stage_ingest")
    try {
      val first = q(spark, sf).collect().toSeq
      assert(staged.isDirectory)
      Dirs.cleanup(sf)
      assert(!staged.exists())
      assert(q(spark, sf).collect().toSeq == first)
      assert(staged.isDirectory, "the input was not re-staged")
    } finally Dirs.cleanup(sf)
  }
}
