package graft

/** Shared bookkeeping for the specs that assert nonce-work-dir cleanup
  * (the Dirs.withNonceDir sites): snapshot the matching dir names under
  * the process root before the exercise, diff after. One body, one prefix
  * parameter — the PretrainBuild/NearDupStream copies had already
  * started to drift.
  *
  * The snapshot/diff tolerates nonce dirs that PREDATE the test (a
  * concurrent driver round's in-flight dir). A concurrent round that
  * STARTS mid-test can still collide with the diff — accepted residual:
  * one driver round per corpus is the documented operating norm, and
  * the check stays strict for the leak it exists to catch.
  */
object TestDirs {
  /** Runs `body` on an edge corpus: a fresh `Dirs.withNonceDir` dir that
    * holds one table, sf0.001's `table` cut to the rows `keep` selects,
    * with its schema. The dir is deleted on every exit path.
    */
  def withEdgeCorpus[A](table: String, keep: org.apache.spark.sql.Column)(
      body: String => A): A =
    graft.util.Dirs.withNonceDir(s"graft_edge_${table}_") { dir =>
      graft.queries.Tables.t(TestSpark.spark, TestSpark.sf0001, table).filter(keep)
        .write.parquet(s"$dir/$table.parquet")
      body(dir.getPath)
    }

  def nonceDirs(prefix: String): Set[String] =
    Option(graft.util.Dirs.root.listFiles())
      .getOrElse(Array.empty)
      .collect { case f if f.getName.startsWith(prefix) => f.getName }
      .toSet
}
