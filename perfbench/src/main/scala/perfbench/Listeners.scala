package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A record the harness writes to its result file: field name -> value. */
final class Rec extends java.util.LinkedHashMap[String, Any] {
  def add(k: String, v: Any): Rec = { put(k, v); this }
}

/** Micro-batch progress of every stream, from the public
  * StreamingQueryListener. Registered in every run: it is the only source
  * of per-trigger latency. Idle progress reports (no batch executed) carry
  * no `addBatch` duration and are skipped. */
final class BatchListener extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Rec]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    if (d.contains("addBatch")) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val trigger = d.getOrElse("triggerExecution", 0L)
      val states = p.stateOperators.toSeq
      batches.add(new Rec()
        .add("stream", Option(p.name).getOrElse(p.id.toString))
        .add("start_ms", start.toDouble)
        .add("end_ms", (start + trigger).toDouble)
        .add("trigger_ms", trigger)
        .add("input_rows", p.numInputRows)
        .add("add_batch_ms", d.getOrElse("addBatch", 0L))
        .add("query_planning_ms", d.getOrElse("queryPlanning", 0L))
        .add("wal_commit_ms", d.getOrElse("walCommit", 0L))
        .add("commit_offsets_ms", d.getOrElse("commitOffsets", 0L))
        .add("state_rows", states.map(_.numRowsTotal).sum)
        .add("state_memory_bytes", states.map(_.memoryUsedBytes).sum)
        .add("state_commit_ms", states.map(_.commitTimeMs).sum))
    }
  }
}

/** Planner phases and scheduler/executor work, from the public
  * QueryExecutionListener and SparkListener. Registered only on traced
  * passes. Events are stamped with Spark's own epoch-ms times; the
  * benchmark attributes them to query spans by time, since one client
  * runs one query at a time. */
final class TraceListener extends SparkListener with QueryExecutionListener {
  val phases = new ConcurrentLinkedQueue[Rec]()
  private val jobs = mutable.LinkedHashMap.empty[Int, Rec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private def phasesOf(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, s) =>
      phases.add(new Rec().add("phase", name)
        .add("start_ms", s.startTimeMs.toDouble).add("end_ms", s.endTimeMs.toDouble))
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phasesOf(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phasesOf(qe)

  private def bump(r: Rec, k: String, by: Long): Unit =
    r.put(k, r.get(k).asInstanceOf[Long] + by)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a job's result stage (its highest stage id) is named by the job's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val r = new Rec().add("job", e.jobId).add("call_site", site)
      .add("start_ms", e.time.toDouble).add("end_ms", e.time.toDouble).add("succeeded", false)
    Seq("stages", "tasks", "task_failures", "run_ms", "cpu_ns", "gc_ms", "shuffle_read_bytes",
      "shuffle_write_bytes", "spill_bytes", "output_bytes").foreach(r.put(_, 0L))
    jobs(e.jobId) = r
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { r =>
      r.put("end_ms", e.time.toDouble)
      r.put("succeeded", e.jobResult == JobSucceeded)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(bump(_, "stages", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { r =>
      bump(r, "tasks", 1)
      if (e.reason != Success || e.taskInfo.attemptNumber > 0) bump(r, "task_failures", 1)
      Option(e.taskMetrics).foreach { m =>
        bump(r, "run_ms", m.executorRunTime)
        bump(r, "cpu_ns", m.executorCpuTime)
        bump(r, "gc_ms", m.jvmGCTime)
        bump(r, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        bump(r, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        bump(r, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        bump(r, "output_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  /** Jobs seen so far, in start order. Call after draining the bus. */
  def jobRecords: Seq[Rec] = synchronized(jobs.values.toSeq)
}
