package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a public call into a layer, timed from the benchmark's side.
  * `parent` is the index of the enclosing span in [[Tracer.spans]], -1 at
  * the root; `iter` is the iteration the span belongs to.
  */
final case class Span(name: String, parent: Int, iter: Int, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long, fileBytesRead: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span. */
final class SparkCounts {
  var jobs = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Records spans in memory and attributes Spark jobs, tasks,
  * shuffle and spill to the innermost open span. The span key travels to
  * the scheduler as a SparkContext local property set around each call;
  * queries are attributed by the wall-clock start of their analysis.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Key = "perfbench.span"

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var iter = 0

  private val counts = mutable.Map.empty[String, SparkCounts]
  private val stageKey = mutable.Map.empty[Int, String]
  private val queries = mutable.ArrayBuffer.empty[(Long, Long)] // (analysis start ms, phases ms)

  private def key(iter: Int, idx: Int) = s"$iter/$idx"
  private def countsFor(k: String) = counts.getOrElseUpdate(k, new SparkCounts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val k = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).getOrElse("unattributed")
      countsFor(k).jobs += 1
      e.stageIds.foreach(stageKey(_) = k)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = countsFor(stageKey.getOrElse(e.stageId, "unattributed"))
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) synchronized {
        queries += ((phases.values.map(_.startTimeMs).min, phases.values.map(_.durationMs).sum))
      }
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def stop(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def newIteration(): Int = { iter += 1; iter }

  /** Runs `body` as span `name`, child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val idx = spans.size
    val parent = open.headOption.getOrElse(-1)
    val startMs = System.currentTimeMillis()
    val read0 = Tracer.fileBytesRead()
    val t0 = System.nanoTime()
    spans += Span(name, parent, iter, t0, t0, startMs, startMs)
    open.push(idx)
    val previous = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, key(iter, idx))
    try body
    finally {
      sc.setLocalProperty(Key, previous)
      open.pop()
      spans(idx) = spans(idx).copy(endNs = System.nanoTime(), endMs = System.currentTimeMillis(),
        fileBytesRead = Tracer.fileBytesRead() - read0)
    }
  }

  /** Waits until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Spark counts of span `idx`. Call after [[drain]]. */
  def sparkCounts(idx: Int): SparkCounts =
    synchronized(counts.getOrElse(key(spans(idx).iter, idx), new SparkCounts))

  /** Analysis + optimization + planning time of the queries span `idx`
    * ran: a query belongs to the innermost span open when its analysis
    * began. Call after [[drain]].
    */
  def planMs(idx: Int): Long = synchronized {
    def innermost(ms: Long) =
      spans.indices.filter(i => spans(i).startMs <= ms && ms <= spans(i).endMs).lastOption
    queries.collect { case (start, ms) if innermost(start).contains(idx) => ms }.sum
  }

  /** Jobs that ran while no span was open (none are expected). */
  def unattributedJobs: Long = synchronized(counts.get("unattributed").map(_.jobs).getOrElse(0L))

  /** A span's duration minus the part its children cover. */
  def selfSeconds(idx: Int): Double =
    spans(idx).seconds - spans.iterator.filter(_.parent == idx).map(_.seconds).sum
}

object Tracer {

  /** Bytes read so far through Hadoop's local file system by every thread
    * of this JVM: raw files and written outputs, not cached blocks or
    * shuffle files.
    */
  def fileBytesRead(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesRead"))).map(_.longValue).getOrElse(0L)
}
