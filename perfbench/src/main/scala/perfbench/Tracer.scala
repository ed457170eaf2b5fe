package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` names the enclosing span (the phase for
  * listener events), so a trace reads as a tree per run.
  */
final case class Span(name: String, start: Long, end: Long, parent: String,
                      attrs: Map[String, Any] = Map.empty)

/** Traced-run instrumentation, attached from outside the engine: a
  * SparkListener (jobs, tasks), a StreamingQueryListener (micro-batch
  * progress), a QueryExecutionListener (QueryExecution.tracker phase
  * timings) and timers around the harness's calls into the engine.
  * Everything stays in memory and is written once, at the end of the run.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val phases = new ConcurrentLinkedQueue[Span]()

  /** Harness phase boundaries; listener events are assigned to the phase
    * whose interval holds their timestamp.
    */
  def phase[T](name: String)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    try f finally {
      val s = Span(name, t0, System.currentTimeMillis(), "run")
      phases.add(s); spans.add(s)
    }
  }

  def phaseAt(ms: Long): String =
    phases.asScala.find(p => ms >= p.start && ms <= p.end).map(_.name).getOrElse("other")

  def timed[T](name: String, parent: String)(f: => T): T = {
    val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
    try f finally {
      val dtMs = (System.nanoTime() - t0) / 1e6
      spans.add(Span(name, w0, w0 + dtMs.round, parent, Map("ms" -> dtMs)))
    }
  }

  // ---- Spark jobs and tasks ------------------------------------------------
  final case class Job(id: Int, start: Long, end: Long, callSite: String,
                       queryId: String, batchId: String)
  private val jobStarts =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String, String)]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  final case class TaskRec(finish: Long, runMs: Long, cpuNs: Long,
                           schedDelayMs: Long, shuffleW: Long, shuffleR: Long)
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) =
        Option(e.properties).flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val site = Option(prop("callSite.short")).filter(_.nonEmpty)
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
      jobStarts.put(e.jobId, (e.time, site, prop("sql.streaming.queryId"),
        prop("streaming.sql.batchId")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, cs, qid, bid) =>
        jobs.add(Job(e.jobId, t0, e.time, cs, qid, bid))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val info = e.taskInfo
        val overhead = m.executorDeserializeTime + m.resultSerializationTime +
          m.executorRunTime + info.gettingResultTime
        tasks.add(TaskRec(info.finishTime, m.executorRunTime, m.executorCpuTime,
          math.max(0L, info.duration - overhead),
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead))
      }
  }

  // ---- micro-batch progress ------------------------------------------------
  val progress = new ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  // ---- Catalyst phases (QueryExecution.tracker) ---------------------------
  final case class PlanRec(start: Long, analysisMs: Long, optimizationMs: Long,
                           planningMs: Long)
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      plans.add(PlanRec(start, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
    spark.listenerManager.register(qeListener)
  }

  /** The listener bus is asynchronous: give it a moment to deliver the
    * last events, then detach.
    */
  def detach(): Unit = {
    Thread.sleep(1500)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
    spark.listenerManager.unregister(qeListener)
    jobs.asScala.foreach(j => spans.add(Span(s"job:${j.callSite}", j.start, j.end,
      phaseAt(j.start), Map("job" -> j.id, "query" -> j.queryId, "batch" -> j.batchId))))
    progress.asScala.foreach { p =>
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      spans.add(Span(s"batch:${p.batchId}", start, end, phaseAt(start),
        Map("query" -> p.id.toString, "rows" -> p.numInputRows)))
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val out = java.nio.file.Files.newBufferedWriter(path)
    val seq = new AtomicLong(0)
    try spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      out.write(Json.write(Map("run" -> runId, "id" -> seq.incrementAndGet(),
        "name" -> s.name, "start" -> s.start, "end" -> s.end,
        "parent" -> s.parent) ++ s.attrs))
      out.write('\n')
    } finally out.close()
  }
}
