package graft.etl

import java.nio.file.{Files, Paths}

/** The checked-in raw ad-report CSV corpus under `fixtures/`, one directory
  * per shipped pipeline in [[Configs.all]] (FIXTURES.md — the reference
  * ships no test data). The directory is the only copy and is read-only:
  * nothing here writes to it, and `FixturePinSpec` pins every byte.
  */
object Fixtures {

  /** Root of the fixture sets. Repo-resident rather than tmpdir-resident:
    * the pipeline oracles replay these CSVs through DuckDB `read_csv` by
    * ABSOLUTE PATH, so the files must be visible to the oracle process even
    * if it never ran the Spark side. It derives from the runtime working
    * directory (sbt runs from the checkout root), so a checkout anywhere on
    * disk reads ITS OWN `fixtures/` and bakes matching absolute paths into
    * the oracle SQL.
    */
  val root: String = Paths.get(sys.props("user.dir"), "fixtures").toAbsolutePath.toString

  /** The directory of fixture set `name`; fails naming the path when `name`
    * is not a shipped pipeline or its directory is missing. */
  def dir(name: String): String = {
    val d = Paths.get(root, name)
    require(Configs.all.contains(name) && Files.isDirectory(d),
      s"no fixture set '$name' at $d")
    d.toString
  }
}
