package lakebench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are seconds since the run's clock origin;
  * `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      start: Double, end: Double)

/** Run clock plus the in-memory span and counter store. Spans are only
  * recorded while `on` is set (the traced passes of a `--trace 1` run). */
final class Tracer {
  private val originNano = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, Long]
  @volatile var on = false

  def now(): Double = (System.nanoTime() - originNano) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - originEpochMs) / 1e3
  def newId(): Long = ids.incrementAndGet()

  def span(id: Long, parent: Long, op: Long, name: String, start: Double, end: Double): Unit =
    if (on) synchronized { spans += Span(id, parent, op, name, start, end) }

  /** Spans built after the fact (e.g. from listener events). */
  def add(more: Seq[Span]): Unit = synchronized { spans ++= more }

  def count(name: String, n: Long = 1L): Unit =
    if (on) synchronized { counts(name) = counts.getOrElse(name, 0L) + n }

  def snapshot(): (Seq[Span], Map[String, Long]) = synchronized((spans.toList, counts.toMap))

  /** Duration minus the union of the children's intervals (clipped). */
  def selfTimes(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Stats.covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)), s.start, s.end)
      s.id -> math.max(0.0, (s.end - s.start) - covered)
    }.toMap
  }
}

object Props {
  val Op = "lakebench.op"
  val Span = "lakebench.span"
}

/** Spark jobs, stages and tasks, attributed to the op (and span) that
  * was current on the submitting thread via two local properties. */
final class JobProbe(tr: Tracer) extends SparkListener {
  final case class Job(op: Long, parent: Long, spanId: Long, start: Double, var end: Double)
  final class OpTasks {
    var tasks = 0L; var small = 0L; var runMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val tasks = mutable.HashMap.empty[Long, OpTasks]

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tr.on) synchronized {
    val op = prop(e.properties, Props.Op)
    jobs(e.jobId) = Job(op, prop(e.properties, Props.Span), tr.newId(), tr.fromEpochMs(e.time), Double.NaN)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    tr.count("spark.job")
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (tr.on) synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = tr.fromEpochMs(e.time)
      tr.span(j.spanId, j.parent, j.op, "spark.job", j.start, j.end)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (tr.on) synchronized {
    val si = e.stageInfo
    for (jid <- stageJob.get(si.stageId); j <- jobs.get(jid);
         s <- si.submissionTime; c <- si.completionTime) {
      tr.span(tr.newId(), j.spanId, j.op, "spark.stage", tr.fromEpochMs(s), tr.fromEpochMs(c))
      tr.count("spark.stage")
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tr.on) synchronized {
    val op = stageJob.get(e.stageId).flatMap(jobs.get).map(_.op).getOrElse(0L)
    val t = tasks.getOrElseUpdate(op, new OpTasks)
    t.tasks += 1
    if (e.taskInfo.duration < 10L) t.small += 1
    Option(e.taskMetrics).foreach { m =>
      t.runMs += m.executorRunTime
      t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    tr.count("spark.task")
  }

  def jobsOf(op: Long): Seq[Job] = synchronized(jobs.values.filter(_.op == op).toList)
}

/** Catalyst phase times of every query execution reported to the
  * session's listener manager. */
final class PlanProbe(tr: Tracer) extends QueryExecutionListener {
  val phaseMs = mutable.LinkedHashMap("analysis" -> 0L, "optimization" -> 0L, "planning" -> 0L)

  def add(qe: QueryExecution): Unit = if (tr.on) synchronized {
    qe.tracker.phases.foreach { case (k, v) =>
      if (phaseMs.contains(k)) phaseMs(k) += v.durationMs
    }
    tr.count("catalyst.execution")
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Every micro-batch progress event. Recorded in untraced runs too:
  * batch latency is an end-to-end figure of the streaming workload. */
final class StreamProbe(tr: Tracer) extends StreamingQueryListener {
  final case class Batch(start: Double, durMs: Map[String, Long], stateCommitMs: Long)
  val batches = mutable.ArrayBuffer.empty[Batch]
  @volatile var recording = false

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (recording) {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = tr.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
    synchronized {
      batches += Batch(start, dur, p.stateOperators.map(_.commitTimeMs).sum)
    }
    tr.count("streaming.batch")
  }
}
