package graft.util

import java.io.File

/** The one owner of every scratch artifact the corpus entries leave on
  * disk, and the only reader of `java.io.tmpdir` for them. Layout:
  *
  *   tmpdir/graft_p<pid>/            this process's root ([[root]])
  *     <prefix><nonce>/              [[withNonceDir]] work dirs
  *     <corpus key>/                 one dir per corpus ([[corpus]]):
  *       index[_s<p>][-<variant>]/   the persisted ANN trees (AnnIndex)
  *       stage_<name>/               staged stream inputs ([[staged]])
  *       bucketed/, part/            the layout entries' parquet
  *
  * Lifetime is one rule: the first use in a JVM removes every root whose
  * pid no longer names a live process (a killed run leaks until then, and
  * no longer), and [[cleanup]] removes one corpus's artifacts. Keying the
  * root by pid keeps two concurrent runs on the same corpus from reading
  * each other's half-written trees; within one JVM the paths are stable,
  * which is what build-once/query-many needs.
  */
object Dirs {

  private val tmp = new File(sys.props("java.io.tmpdir"))
  private val RootName = "graft_p(\\d{1,18})".r

  /** Removes every process root whose pid names no live process. */
  private[util] def sweepDead(): Unit =
    Option(tmp.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      f.getName match {
        case RootName(p) if !ProcessHandle.of(p.toLong).filter(_.isAlive).isPresent =>
          deleteRecursively(f)
        case _ =>
      }
    }

  private val own = new File(tmp, s"graft_p${ProcessHandle.current().pid()}")

  // first use in this JVM: the dead roots go, and so does a root under
  // this pid — nothing of this JVM exists yet, so a dead process with the
  // same (reused) pid left it
  private lazy val firstUse: Unit = { sweepDead(); deleteRecursively(own) }

  /** This process's root, `tmpdir/graft_p<pid>`; the first call runs the
    * sweep. Not created here: writers create what they need.
    */
  def root: File = { firstUse; own }

  /** Collision-free key of corpus `d`: its sanitized path, readable in a
    * listing, plus 12 hex of the raw path's md5 — `sf0.1` and `sf0_1`
    * sanitize alike but never share a key. Also a valid SQL identifier
    * suffix (the layout entries' catalog table names).
    */
  def corpusKey(d: String): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      md5.take(6).map("%02x".format(_)).mkString
  }

  /** The dir that holds every artifact of corpus `d` in this process. */
  def corpus(d: String): File = new File(root, corpusKey(d))

  /** Best-effort recursive delete: `listFiles()` returns null on IO or
    * permission errors — cleanup degrades to deleting what it can see,
    * never an NPE.
    */
  def deleteRecursively(p: File): Unit = {
    if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(deleteRecursively))
    p.delete(); ()
  }

  /** Nonce-keyed work dir scope: creates a fresh `root/<prefix><12-hex>`
    * name (never colliding with another invocation on the same corpus),
    * runs `f` on it, and deletes the tree on every exit path. Wrapping the
    * WHOLE body — staging writes included — is deliberate: a failure while
    * staging must not leak the dir either.
    */
  def withNonceDir[A](prefix: String)(f: File => A): A = {
    val dir = new File(root,
      s"$prefix${java.util.UUID.randomUUID().toString.take(12)}")
    try f(dir) finally deleteRecursively(dir)
  }

  /** Runs `body` under the lock [[cleanup]] holds, so a build-once write
    * (AnnIndex's gate) never interleaves with the teardown of its corpus.
    */
  def locked[A](body: => A): A = synchronized(body)

  // per-(corpus, name) LATCH map for [[staged]], not a coarse lock around
  // the staging job: the Spark write runs OUTSIDE any monitor (holding a
  // lock through a Spark action would serialize staging of unrelated keys
  // and could deadlock if a stage callback re-entered), and the finished
  // dir is published through the promise
  private val stagedInputs = scala.collection.mutable.HashMap
    .empty[(String, String), scala.concurrent.Promise[File]]

  /** Staged input tree `corpus(d)/stage_<name>`, written by `stage` once
    * per key per JVM: concurrent callers of the same key block on the
    * first caller's future, different keys stage in parallel. A staging
    * that throws removes its partial tree and its key, so a later caller
    * retries; [[cleanup]] drops the keys of `d`, so a deleted tree is
    * never served.
    */
  def staged(d: String, name: String)(stage: File => Unit): File = {
    val key = (d, name)
    val fresh = scala.concurrent.Promise[File]()
    val p = stagedInputs.synchronized { stagedInputs.getOrElseUpdate(key, fresh) }
    if (p eq fresh) {
      val dir = new File(corpus(d), s"stage_$name")
      try {
        dir.mkdirs()
        stage(dir)
        p.success(dir)
      } catch {
        case e: Throwable =>
          stagedInputs.synchronized { stagedInputs.remove(key) }
          deleteRecursively(dir)
          p.failure(e)
          throw e
      }
    }
    scala.concurrent.Await.result(p.future,
      scala.concurrent.duration.Duration(10, "min"))
  }

  /** Drop every artifact of corpus `d` in this process: its staged-input
    * keys, then its dir (and the process root, once it is empty).
    * Idempotent; call once every result that reads them is materialized.
    */
  def cleanup(d: String): Unit = synchronized {
    stagedInputs.synchronized { stagedInputs.filterInPlace((k, _) => k._1 != d) }
    deleteRecursively(corpus(d))
    root.delete(); ()
  }
}
