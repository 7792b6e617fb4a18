package graft

/** `graft.util.Dirs` is the one owner of the scratch artifacts under
  * `java.io.tmpdir`: no other file under `src/main` may read it, neither
  * by name nor through the tmpdir-default `Files.createTemp*` overloads
  * (the ones whose first argument is a string prefix, not a directory).
  */
class TmpdirGuardSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val Owner = "src/main/scala/graft/util/Dirs.scala"
  private val Read = """java\.io\.tmpdir|Files\.createTemp(Directory|File)\(\s*"""".r

  private def sources(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(sources)
    else if (f.getName.endsWith(".scala") || f.getName.endsWith(".java")) Seq(f)
    else Nil

  test("the guard sees a tmpdir read in either form") {
    assert(Read.findFirstIn("""sys.props("java.io.tmpdir")""").nonEmpty)
    assert(Read.findFirstIn("""Files.createTempDirectory("x")""").nonEmpty)
    assert(Read.findFirstIn("""Files.createTempDirectory(out.getParent, ".s")""").isEmpty)
  }

  test("only util/Dirs.scala reads java.io.tmpdir under src/main") {
    val main = new java.io.File("src/main")
    val files = sources(main)
    assert(files.exists(_.getPath == Owner), s"no $Owner under ${main.getAbsolutePath}")
    val readers = files.filter(f => f.getPath != Owner &&
      Read.findFirstIn(java.nio.file.Files.readString(f.toPath)).nonEmpty)
    assert(readers.isEmpty, readers.map(_.getPath).mkString("\n", "\n", ""))
  }
}
