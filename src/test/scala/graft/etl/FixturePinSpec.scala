package graft.etl

import org.scalatest.funsuite.AnyFunSuite

/** Checksum pin of the `fixtures/` CSV corpus (VERDICT r14 ask #8): the
  * five reference-pipeline oracles replay these files through DuckDB
  * `read_csv`, so a silent fixture edit would move BOTH engines together
  * and the cross-engine hash compare could not catch it. This spec is the
  * tripwire — any content change must arrive as a deliberate edit of the
  * pinned MD5 table below, reviewed next to the transcription it claims
  * to preserve (fixtures transcribe the reference pipelines' input
  * shapes; see FIXTURES.md).
  */
class FixturePinSpec extends AnyFunSuite {

  private val pinned = Map(
    "apsl/meta.csv" -> "e384c7755e15c04b3487661dd4df9769",
    "apsl/meta_lead.csv" -> "aa6e71cf6c48fd25cd63016c63255349",
    "apsl/meta_olive.csv" -> "8ce9750d31aad14157b7ba16630eff56",
    "apsl/tiktok.csv" -> "8e836cfa1f4985f5fb1bbd41bf34050f",
    "apsl/x.csv" -> "eda33853c2daa7e80340f67d9cfa6e5d",
    "kcon/meta.csv" -> "64789791a5f69adc1adec9524d13c29c",
    "kcon/tiktok.csv" -> "3d6c729516d63cb094eabdeabcf44e95",
    "kcon/x.csv" -> "bc1a8b2d08fa98c549876d7a7ed2480c",
    "like_eat/meta_naver.csv" -> "74b724ab92cf3d519571afb1694e363a",
    "like_eat/naver_gfa.csv" -> "8ffbb1deed9b09de0c5b2656e19364cb",
    "mnb/meta.csv" -> "768d55625a458ae1d8c03a943c766787",
    "mnb/x.csv" -> "908a9b83b645c97c79aa5c88c114d59b",
    "podl/meta.csv" -> "52c890534117f7c64e5022ace3e7459d",
    "podl/tiktok.csv" -> "332f71286d03e3ef9acbfaff01203500")

  private def md5(f: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(java.nio.file.Files.readAllBytes(f.toPath))
    md.digest().map("%02x".format(_)).mkString
  }

  test("fixture corpus is byte-identical to the pinned transcription") {
    val root = new java.io.File(
      java.nio.file.Paths.get(sys.props("user.dir"), "fixtures").toString)
    assert(root.isDirectory, s"fixtures/ missing at $root")
    val actual = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
        else Seq(f)
      walk(root).map(f =>
        root.toPath.relativize(f.toPath).toString -> md5(f)).toMap
    }
    assert(actual.keySet == pinned.keySet,
      s"fixture FILE SET drifted: extra=${actual.keySet -- pinned.keySet}, " +
        s"missing=${pinned.keySet -- actual.keySet}")
    val drifted = pinned.collect {
      case (name, want) if actual(name) != want =>
        s"$name: ${actual(name)} != $want"
    }
    assert(drifted.isEmpty,
      s"fixture CONTENT drifted (edit the pin deliberately if intended):\n" +
        drifted.mkString("\n"))
  }
}
