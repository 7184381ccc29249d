package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is -1 for a pass root; `traced`
  * marks spans of passes that collect listener counts. Times are
  * wall-clock milliseconds (epoch) so listener events, which carry their
  * own epoch timestamps, can be attached to the span open when they fired.
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    startMs: Double, var endMs: Double, traced: Boolean)

/** Counts a listener event carried: attached afterwards to the innermost
  * traced span whose interval holds `atMs`. */
final case class Counts(atMs: Double, values: Map[String, Double])

/** Span recorder for one single-client run. Every call into a layer goes
  * through [[span]]; the outermost span of a pass is the pass itself, the
  * spans directly under it are the pass's operations, and a call an
  * operation makes into another layer is a span under that operation.
  * Spans stay in memory and are written out when the run ends.
  */
final class Recorder {
  private val nanoOrigin = System.nanoTime()
  private val msOrigin = System.currentTimeMillis().toDouble
  def nowMs: Double = msOrigin + (System.nanoTime() - nanoOrigin) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  /** Whether listener counts are collected: from the start of a traced
    * pass until the listener bus has been drained after it. */
  @volatile var tracing = false

  def span[A](name: String, pass: Int = -1)(body: => A): A = {
    val parent = stack.headOption
    val s = Span(spans.length, name, parent.map(_.id).getOrElse(-1),
      parent.map(_.pass).getOrElse(pass), nowMs, Double.NaN, tracing)
    spans += s
    stack = s :: stack
    try body
    finally {
      s.endMs = nowMs
      stack = stack.tail
    }
  }

  def durS(s: Span): Double = (s.endMs - s.startMs) / 1e3

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Span time minus the part of it its child spans cover. */
  def selfS(s: Span): Double = {
    val covered = children(s).map(c => (c.startMs, c.endMs)).sortBy(_._1)
      .foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, reach), (a, b)) =>
        val lo = math.max(a, reach)
        (acc + math.max(0.0, b - lo), math.max(reach, b))
      }._1
    durS(s) - covered / 1e3
  }

  def passes: Seq[Span] = spans.filter(_.parent == -1).toSeq

  /** Every span under a pass. */
  def within(pass: Span): Seq[Span] =
    spans.filter(s => s.pass == pass.pass && s.parent >= 0).toSeq
}

/** Listener-side counters for traced passes, registered from the
  * benchmark through Spark's public listener interfaces only. Events are
  * delivered asynchronously on the listener bus, so callers drain the bus
  * ([[org.apache.spark.perfbench.ListenerBus.drain]]) before reading. */
final class Probe(rec: Recorder) {
  val counts = ArrayBuffer.empty[Counts]
  private def add(atMs: Double, kv: (String, Double)*): Unit =
    if (rec.tracing) counts.synchronized { counts += Counts(atMs, kv.toMap) }

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      add(e.time.toDouble, "jobs" -> 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
        .toDouble, "stages" -> 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) add(info.finishTime.toDouble,
        "tasks" -> 1,
        "task_busy_s" -> m.executorRunTime / 1e3,
        "gc_s" -> m.jvmGCTime / 1e3,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.values
      if (ps.nonEmpty)
        add(ps.map(_.startTimeMs).min.toDouble,
          "planning_s" -> ps.map(_.durationMs).sum / 1e3)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def g(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      val at = java.time.Instant.parse(e.progress.timestamp).toEpochMilli.toDouble
      // progress is also posted for idle triggers; count only triggers
      // that ran a batch
      if (d.containsKey("addBatch"))
        add(at, "triggers" -> 1, "trigger_s" -> g("triggerExecution") / 1e3,
          "add_batch_s" -> g("addBatch") / 1e3)
    }
  }

  def register(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(queries)
    s.streams.addListener(streams)
  }

  /** Listener counts summed per innermost traced span that held them. */
  def bySpan(): Map[Int, Map[String, Double]] = {
    val traced = rec.spans.filter(_.traced).toSeq
    counts.synchronized(counts.toList).flatMap { c =>
      traced.filter(s => s.startMs <= c.atMs && c.atMs <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption.map(_.id -> c.values)
    }.groupMapReduce(_._1)(_._2) { (a, b) =>
      (a.keySet ++ b.keySet).map(k =>
        k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap
    }
  }
}
