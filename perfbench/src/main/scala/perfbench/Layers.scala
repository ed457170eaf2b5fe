package perfbench

import scala.jdk.CollectionConverters._

/** Reduces a traced run's raw listener records to per-layer figures.
  * Lists (per-batch or per-call samples) are summarized by run.py.
  */
object Layers {
  private val timed = Set("pass2", "catchup", "live")

  def reduce(tr: Tracer, live: LiveResult, pass2: Seq[QueryRun]): Map[String, Any] = {
    val jobQuery = live.layers("job_query_id").toString
    val jobs = tr.jobs.asScala.toSeq.map(j => (j, tr.phaseAt(j.start)))
    val tasks = tr.tasks.asScala.toSeq.filter(t => timed(tr.phaseAt(t.finish)))

    // in the live phase the harness runs no Spark work of its own, so every
    // job outside a streaming query is a /publish ingest
    val publishJobs = jobs.collect { case (j, "live") if j.queryId.isEmpty => j }
    // streaming jobs all carry the query's call site; within one batch of
    // the job's foreachBatch the last job is Analytics.update's collect and
    // the ones before it compute the aggregation and write T4
    val (analyticsJobs, t4Jobs) = jobs.collect { case (j, _) if j.queryId == jobQuery => j }
      .groupBy(_.batchId).values.map(_.sortBy(_.id))
      .foldLeft((Seq.empty[tr.Job], Seq.empty[tr.Job])) { case ((a, t), js) =>
        (a :+ js.last, t ++ js.init)
      }
    def ms(js: Seq[tr.Job]) = js.map(j => j.end - j.start).sum

    val progress = tr.progress.asScala.toSeq
      .filter(p => p.id.toString == jobQuery).sortBy(_.batchId)
    def startMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
      java.time.Instant.parse(p.timestamp).toEpochMilli
    def dur(k: String) = progress.map(_.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0))
    val nonEmpty = progress.filter(_.numInputRows > 0)
    val ops = progress.flatMap(_.stateOperators.headOption)

    // consumer lag: events on T2 at each batch start minus events consumed
    val appended = live.layers("appended").asInstanceOf[Seq[Seq[Long]]]
    val consumedBefore = progress.scanLeft(0L)(_ + _.numInputRows)
    val backlogMax = progress.zip(consumedBefore).map { case (p, used) =>
      appended.filter(_(0) <= startMs(p)).map(_(1)).sum - used
    }.maxOption.getOrElse(0L)

    val plans = tr.plans.asScala.toSeq.filter(p => tr.phaseAt(p.start) == "pass2")
    val replayRows = pass2.filter(_.replay)

    Map(
      "sources.publish_jobs" ->
        (if (live.publishes > 0) publishJobs.size.toDouble / live.publishes else 0.0),
      "sources.publish_job_ms" -> publishJobs.map(j => (j.end - j.start).toDouble),
      "sources.backlog_max_events" -> backlogMax,
      "sources.t2_files" -> live.layers("sources.t2_files"),
      "sources.t2_bytes" -> live.layers("sources.t2_bytes"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.get_batch_ms" -> dur("getBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.batches" -> nonEmpty.size,
      "streaming.empty_batches" -> (progress.size - nonEmpty.size),
      "streaming.rows_per_batch" ->
        (if (nonEmpty.isEmpty) 0.0 else nonEmpty.map(_.numInputRows).sum.toDouble / nonEmpty.size),
      "state.rows_total" -> ops.map(_.numRowsTotal).maxOption.getOrElse(0L),
      "state.rows_updated" -> ops.map(_.numRowsUpdated).sum,
      "state.commit_ms" -> ops.map(_.commitTimeMs).sum,
      "state.memory_bytes" -> ops.map(_.memoryUsedBytes).maxOption.getOrElse(0L),
      "state.rows_dropped_late" -> ops.map(_.numRowsDroppedByWatermark).sum,
      "sink.t4_ms" -> ms(t4Jobs),
      "sink.t4_files" -> live.layers("sink.t4_files"),
      "sink.analytics_update_ms" -> ms(analyticsJobs),
      // update-mode output rows are exactly what Analytics.update collects
      "sink.analytics_update_rows" -> ops.map(_.numRowsUpdated).sum,
      "serve.snapshot_ms" -> live.layers("serve.snapshot_ms"),
      "serve.store_entries" -> live.layers("serve.store_entries"),
      "serve.frames" -> live.layers("serve.frames"),
      "plan.analysis_ms" -> plans.map(_.analysisMs).sum,
      "plan.optimization_ms" -> plans.map(_.optimizationMs).sum,
      "plan.planning_ms" -> plans.map(_.planningMs).sum,
      "exec.jobs" -> jobs.count { case (_, ph) => timed(ph) },
      "exec.tasks" -> tasks.size,
      "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.task_run_s" -> tasks.map(_.runMs).sum / 1e3,
      "exec.scheduler_delay_ms" -> tasks.map(_.schedDelayMs).sum,
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleW).sum / 1048576.0,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleR).sum / 1048576.0,
      "replay.engine_s" -> replayRows.map(_.engineSec).sum,
      "replay.harness_s" -> replayRows.map(r => r.sec - r.engineSec).sum)
  }
}
