package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Epoch-microsecond clock with `nanoTime` resolution, so harness spans
  * and Spark's epoch-millisecond listener times share one time base. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds this process has used, all threads. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU nanoseconds of each live Java thread (driver, scheduler and task
    * threads; not the JVM's own compiler and GC threads). */
  def threadCpuNs: Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 > 0).toMap
  }
  /** CPU seconds the Java threads used since `before`; a thread that ended
    * in between is missing. */
  def threadCpuSince(before: Map[Long, Long]): Double =
    threadCpuNs.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9
}

/** One span: `trace` groups the spans of one operation, `parent` is the
  * span that caused this one (0 for a root). Times are epoch micros. */
final case class Span(trace: Long, id: Long, parent: Long, name: String, start_us: Long, end_us: Long)

/** In-memory span recorder. Spans are kept until the run ends and are
  * written out with the run's raw record; with tracing off nothing is
  * kept and no Spark listener is attached. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = if (enabled) Some(new JobRecorder(this)) else None
  jobs.foreach(sc.addSparkListener)
  @volatile private var paused = false

  /** Execution counters per harness span (traced runs only). */
  def counters: Map[Long, ExecCounters] = jobs.map(_.counters.toMap).getOrElse(Map.empty)

  /** Run `body` with tracing fully off (no spans, no job listener): the
    * reference for the tracing overhead. */
  def untraced[T](body: => T): T = {
    jobs.foreach(sc.removeSparkListener)
    paused = true
    try body finally {
      paused = false
      jobs.foreach(sc.addSparkListener)
    }
  }

  private def on = enabled && !paused

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (on) synchronized { spans += s; () }
  def all: Seq[Span] = synchronized(spans.toList)

  /** Time `body` as span `name`. While it runs, jobs submitted from this
    * thread carry the span in the `perfbench.span` local property, which
    * is how [[JobRecorder]] parents Spark jobs under the open span.
    * Returns the result and the wall seconds, traced or not. */
  def span[T](trace: Long, parent: Long, name: String, id: Long = nextId())(
      body: => T): (T, Double) = {
    val prev = sc.getLocalProperty(Tracer.Prop)
    val tag = on
    if (tag) sc.setLocalProperty(Tracer.Prop, s"$trace:$id")
    val t0 = Clock.nowUs
    val n0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - n0) / 1e9)
    } finally {
      add(Span(trace, id, parent, name, t0, Clock.nowUs))
      if (tag) sc.setLocalProperty(Tracer.Prop, prev)
    }
  }
}

object Tracer { val Prop = "perfbench.span" }

/** Execution counters of the jobs that ran under one harness span. */
final case class ExecCounters(
    var jobs: Long = 0, var stages: Long = 0, var tasks: Long = 0,
    var executor_run_ms: Long = 0, var executor_cpu_ns: Long = 0,
    var shuffle_read_bytes: Long = 0, var shuffle_write_bytes: Long = 0,
    var spill_bytes: Long = 0)

/** SparkListener for the traced run: every job becomes a span whose
  * parent is the harness span open on the submitting thread when the job
  * started; every stage becomes a child span of its job; task metrics
  * are summed per parent harness span. */
final class JobRecorder(tracer: Tracer) extends SparkListener {
  private case class JobRef(trace: Long, span: Long, parent: Long, startUs: Long)
  private val jobs = TrieMap.empty[Int, JobRef]
  private val stageJob = TrieMap.empty[Int, Int]
  val counters = TrieMap.empty[Long, ExecCounters]

  private def forSpan(parent: Long) = counters.getOrElseUpdate(parent, ExecCounters())

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val tag = Option(js.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
    val (trace, parent) = tag.map(_.split(":")) match {
      case Some(Array(t, p)) => (t.toLong, p.toLong)
      case _ => (0L, 0L)
    }
    jobs(js.jobId) = JobRef(trace, tracer.nextId(), parent, js.time * 1000)
    js.stageIds.foreach(stageJob(_) = js.jobId)
    val c = forSpan(parent)
    c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    jobs.get(je.jobId).foreach { j =>
      tracer.add(Span(j.trace, j.span, j.parent, "job", j.startUs, je.time * 1000))
    }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    stageJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
      tracer.add(Span(j.trace, tracer.nextId(), j.span, "stage",
        si.submissionTime.getOrElse(0L) * 1000, si.completionTime.getOrElse(0L) * 1000))
      val tm = si.taskMetrics
      val c = forSpan(j.parent)
      c.synchronized {
        c.stages += 1
        c.tasks += si.numTasks
        if (tm != null) {
          c.executor_run_ms += tm.executorRunTime
          c.executor_cpu_ns += tm.executorCpuTime
          c.shuffle_read_bytes += tm.shuffleReadMetrics.totalBytesRead
          c.shuffle_write_bytes += tm.shuffleWriteMetrics.bytesWritten
          c.spill_bytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
        }
      }
    }
  }
}

/** One streaming progress event, reduced to the fields the metrics use.
  * `timestamp_ms` is the trigger's start; the trigger (and, for the
  * foreachBatch sinks, its store commit) ended `duration_ms.triggerExecution`
  * later. */
final case class Progress(
    query: String, run_id: String, batch_id: Long, timestamp_ms: Long, input_rows: Long,
    duration_ms: Map[String, Long], state_rows_total: Long,
    state_memory_bytes: Long, state_commit_ms: Long, received_us: Long)

/** Records every progress event of every streaming query in the session. */
final class ProgressRecorder extends StreamingQueryListener {
  private val events = mutable.ArrayBuffer.empty[Progress]

  def all: Seq[Progress] = synchronized(events.toList)
  def ofRun(q: StreamingQuery): Seq[Progress] = all.filter(_.run_id == q.runId.toString)

  /** Wait until the (asynchronous) listener has seen `q`'s last batch. */
  def settle(q: StreamingQuery): Seq[Progress] = {
    val last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val deadline = System.nanoTime() + 10000000000L
    while (!ofRun(q).exists(_.batch_id >= last) && System.nanoTime() < deadline) Thread.sleep(5)
    ofRun(q)
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val ops = p.stateOperators
    val rec = Progress(
      query = Option(p.name).getOrElse(p.id.toString),
      run_id = p.runId.toString,
      batch_id = p.batchId,
      timestamp_ms = java.time.Instant.parse(p.timestamp).toEpochMilli,
      input_rows = p.numInputRows,
      duration_ms = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      state_rows_total = ops.map(_.numRowsTotal).sum,
      state_memory_bytes = ops.map(_.memoryUsedBytes).sum,
      state_commit_ms = ops.map(_.commitTimeMs).sum,
      received_us = Clock.nowUs)
    synchronized { events += rec; () }
  }
}
