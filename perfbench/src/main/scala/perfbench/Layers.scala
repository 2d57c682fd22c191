package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters, fed by Spark's public listener interfaces.
  *
  * Every listener below runs on Spark's asynchronous listener bus, so
  * readers call [[drain]] first. The counters are cumulative; the
  * harness takes a [[snapshot]] at the start and end of the measured
  * region and reports the difference. One process runs one workload, so
  * a process-wide object is the simplest owner.
  */
object Layers {
  @volatile var traced = false

  private val c = mutable.LinkedHashMap.empty[String, Double]
  private var events = 0L
  /** (start ms, end ms) of every finished job, for driver-gap attribution. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val seenCached = mutable.Set.empty[Int]
  /** Every streaming micro-batch: (start ms, triggerExecution seconds).
    * The start lets the harness keep the batches of the passes it reports. */
  val microbatches = mutable.ArrayBuffer.empty[(Long, Double)]
  /** Timestamped events for per-call attribution (traced passes only):
    * (layer, end ms, seconds). */
  val timeline = mutable.ArrayBuffer.empty[(String, Long, Double)]
  private def at(layer: String, endMs: Long, s: Double): Unit =
    synchronized { timeline += ((layer, endMs, s)) }

  def add(k: String, v: Double): Unit = synchronized {
    c(k) = c.getOrElse(k, 0.0) + v; events += 1
  }
  def snapshot(): Map[String, Double] = synchronized { c.toMap }
  def jobsSnapshot(): Seq[(Long, Long)] = synchronized { jobIntervals.toList }
  def microbatchSnapshot(): Seq[(Long, Double)] = synchronized { microbatches.toList }
  def timelineSnapshot(): Seq[(String, Long, Double)] = synchronized { timeline.toList }

  /** Wait until no listener event has arrived for `quietMs` (max 10 s). */
  def drain(quietMs: Long = 300): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = synchronized(events)
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() - quietSince < quietMs &&
           System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val now = synchronized(events)
      if (now != last) { last = now; quietSince = System.currentTimeMillis() }
    }
  }

  /** Scheduler and task layer (`operators`, `tables`, `sourcesinks`,
    * and the cached-block builds of `materialized`). */
  final class Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
      Layers.synchronized(jobStart(e.jobId) = e.time); add("operators.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) Layers.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
      events += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced) {
      val si = e.stageInfo
      add("operators.stages", 1)
      add("operators.stage_tasks", si.numTasks)
      // A stage that computes a persisted RDD for the first time is a
      // cache build: MaterializedTable builds and in-query persists.
      val fresh = Layers.synchronized {
        si.rddInfos.filter(r => r.storageLevel.isValid && seenCached.add(r.id))
      }
      if (fresh.nonEmpty) {
        add("materialized.builds", fresh.size)
        for (s <- si.submissionTime; f <- si.completionTime)
          add("materialized.build_s", (f - s) / 1e3)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (traced && m != null) {
        at("task", e.taskInfo.finishTime, m.executorRunTime / 1e3)
        add("operators.task_cpu_s", m.executorCpuTime / 1e9)
        add("operators.task_run_s", m.executorRunTime / 1e3)
        add("operators.gc_s", m.jvmGCTime / 1e3)
        add("operators.shuffle_read_bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        add("operators.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("operators.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        if (m.inputMetrics.bytesRead > 0) {
          add("tables.bytes_read", m.inputMetrics.bytesRead)
          add("tables.rows_read", m.inputMetrics.recordsRead)
          add("tables.scan_tasks", 1)
        }
        add("sourcesinks.bytes_written", m.outputMetrics.bytesWritten)
      }
    }
  }

  /** Catalyst layer (`plans`) plus the plan-level counts of the cache
    * and sink layers. Loaded per session through
    * `spark.sql.queryExecutionListeners`. */
  final class Plans extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)

    private def record(qe: QueryExecution): Unit = if (traced) {
      val ph = qe.tracker.phases
      def sec(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      add("plans.analysis_s", sec("analysis"))
      add("plans.optimizer_s", sec("optimization"))
      add("plans.physical_s", sec("planning"))
      add("plans.executions", 1)
      if (ph.nonEmpty) at("planning", ph.values.map(_.endTimeMs).max,
        sec("analysis") + sec("optimization") + sec("planning"))
      val nodes = flatten(qe.executedPlan)
      add("materialized.inmemory_scans",
        nodes.count(_.nodeName.contains("InMemoryTableScan")))
      add("sourcesinks.files_written", nodes.flatMap(_.metrics.get("numFiles"))
        .map(_.value.toDouble).sum)
    }

    private def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children ++ o.subqueries
      }
      p +: kids.flatMap(flatten)
    }
  }

  /** Structured Streaming layer. Loaded per session through
    * `spark.sql.streaming.streamingQueryListeners`; the untraced run
    * keeps only the micro-batch latencies, an end-to-end metric. */
  final class Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Double =
        Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      Layers.synchronized { microbatches += ((startMs, ms("triggerExecution"))) }
      if (traced) {
        add("streaming.batches", 1)
        add("streaming.add_batch_s", ms("addBatch"))
        add("streaming.query_planning_s", ms("queryPlanning"))
        add("streaming.wal_commit_s", ms("walCommit") + ms("commitOffsets"))
        add("streaming.input_rows", p.numInputRows.toDouble)
        val commit = p.stateOperators.map(_.commitTimeMs).sum / 1e3
        add("streaming.state_commit_s", commit)
        at("stream_commit", startMs +
          p.durationMs.getOrDefault("triggerExecution", 0L).longValue,
          commit + ms("walCommit") + ms("commitOffsets"))
        add("streaming.state_rows", p.stateOperators.map(_.numRowsUpdated).sum.toDouble)
      }
    }
  }
}
