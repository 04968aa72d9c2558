package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One key's timed interval inside a pass (epoch milliseconds, the clock
  * Spark's listener events use).
  */
final case class KeyWindow(span: String, key: String, startMs: Long, buildEndMs: Long, endMs: Long)

/** Always-on work counter: jobs and micro-batches per pass. It feeds the
  * guard that every timed pass did the same work, so a pass that skipped
  * work through a memo cache fails the run instead of reading as fast.
  */
final class WorkCounter extends SparkListener {
  @volatile var jobs: Long    = 0L
  @volatile var batches: Long = 0L
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = batches += 1
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

/** The traced run's recorder for one pass. It is registered with Spark's
  * public listener interfaces (scheduler, query execution, streaming)
  * for the pass only, keeps spans in memory, and turns them into the
  * per-layer numbers when the pass is over.
  */
final class PassTrace(pass: Int, cores: Int) extends SparkListener with QueryExecutionListener {
  import PassTrace._

  private val jobs       = mutable.LinkedHashMap[Int, Job]()
  private val stageJob   = mutable.HashMap[Int, Int]()
  private val stages     = mutable.ArrayBuffer[Stage]()
  private val taskMs     = mutable.HashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val blocks     = mutable.HashMap[String, Long]()
  private val batches    = mutable.ArrayBuffer[Batch]()
  private var blockBytes = 0L
  var blockPeak          = 0L

  var tasks, failedTasks, taskTimeMs, cpuNs, gcMs = 0L
  var inBytes, inRecords, outBytes, outRecords   = 0L
  var shReadBytes, shWriteBytes, fetchWaitMs, spillBytes = 0L
  var planningNs, graftRuleNs, graftInvocations, graftEffective = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Harness.SpanProperty)))
    jobs(e.jobId) = Job(e.jobId, span, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += Stage(i.stageId, i.attemptNumber(), stageJob.getOrElse(i.stageId, -1),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.taskInfo.failed) failedTasks += 1
    taskTimeMs += e.taskInfo.duration
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer()) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inBytes += m.inputMetrics.bytesRead
      inRecords += m.inputMetrics.recordsRead
      outBytes += m.outputMetrics.bytesWritten
      outRecords += m.outputMetrics.recordsWritten
      shReadBytes += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  // RDD blocks only: localCheckpoint and persisted intermediates
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id   = info.blockManagerId.executorId + "/" + info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      blockBytes += size - blocks.getOrElse(id, 0L)
      if (size == 0L) blocks.remove(id) else blocks(id) = size
      blockPeak = math.max(blockPeak, blockBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = recordPlan(qe)

  /** Planning phases and `graft.*` optimizer-rule time of one query. The
    * harness calls it for each key's top-level plan; the listener calls
    * it for every action a key runs while it builds.
    */
  def recordPlan(qe: QueryExecution): Unit = synchronized {
    val t = qe.tracker
    planningNs += Seq("analysis", "optimization", "planning")
      .flatMap(t.phases.get).map(_.durationMs * 1000000L).sum
    t.rules.foreach { case (name, r) =>
      if (name.startsWith("graft.")) {
        graftRuleNs += r.totalTimeNs
        graftInvocations += r.numInvocations
        graftEffective += r.numEffectiveInvocations
      }
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = PassTrace.this.synchronized {
      val p   = e.progress
      val ops = p.stateOperators
      batches += Batch(p.runId.toString, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
    }
  }

  private def keyAt(windows: Seq[KeyWindow], ms: Long): Option[KeyWindow] =
    windows.find(w => ms >= w.startMs && ms <= w.endMs)
      .orElse(windows.filter(_.startMs <= ms).lastOption)

  /** Spans of the pass (key → build/exec → job → stage, plus
    * micro-batches) as JSON lines; every span of a key carries its id.
    */
  def spans(windows: Seq[KeyWindow]): Seq[String] = synchronized {
    val out = mutable.ArrayBuffer[String]()
    def phase(w: KeyWindow, ms: Long) = if (ms <= w.buildEndMs) "build" else "exec"
    windows.foreach { w =>
      out += Json.obj("id" -> w.span, "parent" -> null, "key" -> w.span, "kind" -> "key", "name" -> w.key,
        "pass" -> pass, "start_ms" -> w.startMs, "end_ms" -> w.endMs)
      out += Json.obj("id" -> s"${w.span}/build", "parent" -> w.span, "key" -> w.span, "kind" -> "build",
        "name" -> w.key, "start_ms" -> w.startMs, "end_ms" -> w.buildEndMs)
      out += Json.obj("id" -> s"${w.span}/exec", "parent" -> w.span, "key" -> w.span, "kind" -> "exec",
        "name" -> w.key, "start_ms" -> w.buildEndMs, "end_ms" -> w.endMs)
    }
    val jobKey = jobs.values.map { j =>
      j.id -> j.span.flatMap(s => windows.find(_.span == s)).orElse(keyAt(windows, j.startMs))
    }.toMap
    jobs.values.foreach { j =>
      val w = jobKey(j.id)
      out += Json.obj("id" -> s"p$pass/job${j.id}", "parent" -> w.map(x => s"${x.span}/${phase(x, j.startMs)}"),
        "key" -> w.map(_.span), "kind" -> "job", "name" -> s"job ${j.id}", "start_ms" -> j.startMs, "end_ms" -> j.endMs)
    }
    stages.foreach { s =>
      val w = jobKey.get(s.jobId).flatten
      out += Json.obj("id" -> s"p$pass/stage${s.id}.${s.attempt}", "parent" -> s"p$pass/job${s.jobId}",
        "key" -> w.map(_.span), "kind" -> "stage", "name" -> s"stage ${s.id}", "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "tasks" -> s.tasks)
    }
    batches.foreach { b =>
      val w = keyAt(windows, b.startMs)
      out += Json.obj("id" -> s"p$pass/batch ${b.query}:${b.batchId}", "parent" -> w.map(x => s"${x.span}/build"),
        "key" -> w.map(_.span), "kind" -> "batch", "name" -> s"batch ${b.batchId}", "start_ms" -> b.startMs,
        "end_ms" -> (b.startMs + b.durations.getOrElse("triggerExecution", 0L)), "input_rows" -> b.inputRows,
        "duration_ms" -> b.durations)
    }
    out.toSeq
  }

  /** Per-layer numbers of the pass. */
  def metrics(windows: Seq[KeyWindow], buildS: Double, execS: Double): Map[String, Double] = synchronized {
    val wallS = windows.map(w => (w.endMs - w.startMs) / 1000.0).sum
    // driver gap: each key's window minus the union of its jobs' intervals
    val gapMs = windows.map { w =>
      val ivs = jobs.values.toSeq
        .map(j => (math.max(j.startMs, w.startMs), math.min(if (j.endMs < 0) w.endMs else j.endMs, w.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      ivs.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b } else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      (w.endMs - w.startMs) - covered
    }.sum
    // skew of each key's longest stage: longest task / median task
    val skews = windows.flatMap { w =>
      val mine = stages.filter(s => jobs.get(s.jobId).exists(j =>
        j.span.contains(w.span) || (j.span.isEmpty && j.startMs >= w.startMs && j.startMs <= w.endMs)))
      mine.sortBy(s => -(s.endMs - s.startMs)).headOption.flatMap { s =>
        taskMs.get((s.id, s.attempt)).filter(_.nonEmpty).map { ds =>
          val med = Harness.quantile(ds.map(_.toDouble).toSeq, 0.5)
          if (med > 0) ds.max / med else 1.0
        }
      }
    }
    val trig     = batches.map(_.durations.getOrElse("triggerExecution", 0L))
    def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
    val streamKeys = windows.filter(w => batches.exists(b => b.startMs >= w.startMs && b.startMs <= w.endMs))
    val streamBuildS = streamKeys.map(w => (w.buildEndMs - w.startMs) / 1000.0).sum
    // state rows: the last batch of each query, summed over queries
    val stateRows = batches.groupBy(_.query).values.map(_.maxBy(_.batchId).stateRows).sum
    Map(
      "sources.input_bytes"               -> inBytes.toDouble,
      "sources.input_records"             -> inRecords.toDouble,
      "sources.output_bytes"              -> outBytes.toDouble,
      "sources.output_records"            -> outRecords.toDouble,
      "operators.build_s"                 -> buildS,
      "operators.exec_s"                  -> execS,
      "operators.jobs"                    -> jobs.size.toDouble,
      "operators.stages"                  -> stages.size.toDouble,
      "operators.tasks"                   -> tasks.toDouble,
      "operators.driver_gap_s"            -> gapMs / 1000.0,
      "operators.task_s"                  -> taskTimeMs / 1000.0,
      "operators.task_cpu_s"              -> cpuNs / 1e9,
      "operators.gc_s"                    -> gcMs / 1000.0,
      "operators.core_util"               -> (if (wallS > 0) taskTimeMs / 1000.0 / (wallS * cores) else 0.0),
      "operators.shuffle_read_bytes"      -> shReadBytes.toDouble,
      "operators.shuffle_write_bytes"     -> shWriteBytes.toDouble,
      "operators.shuffle_fetch_wait_s"    -> fetchWaitMs / 1000.0,
      "operators.spill_bytes"             -> spillBytes.toDouble,
      "operators.stage_skew"              -> Harness.quantile(skews, 0.5),
      "operators.block_bytes_peak"        -> blockPeak.toDouble,
      "operators.failed_task_frac"        -> (if (tasks > 0) failedTasks.toDouble / tasks else 0.0),
      "plans.planning_s"                  -> planningNs / 1e9,
      "plans.graft_rule_s"                -> graftRuleNs / 1e9,
      "plans.graft_rule_effective_frac"   -> (if (graftInvocations > 0) graftEffective.toDouble / graftInvocations else 0.0),
      "streaming.batches"                 -> batches.size.toDouble,
      "streaming.input_rows"              -> batches.map(_.inputRows).sum.toDouble,
      "streaming.trigger_s"               -> trig.sum / 1000.0,
      "streaming.batch_p50_ms"            -> Harness.quantile(trig.map(_.toDouble).toSeq, 0.5),
      "streaming.batch_p90_ms"            -> Harness.quantile(trig.map(_.toDouble).toSeq, 0.9),
      "streaming.add_batch_s"             -> dur("addBatch"),
      "streaming.query_planning_s"        -> dur("queryPlanning"),
      "streaming.wal_commit_s"            -> dur("walCommit"),
      "streaming.commit_offsets_s"        -> dur("commitOffsets"),
      "streaming.latest_offset_s"         -> dur("latestOffset"),
      "streaming.state_commit_s"          -> batches.map(_.stateCommitMs).sum / 1000.0,
      "streaming.state_rows_total"        -> stateRows.toDouble,
      "streaming.state_memory_bytes"      -> (if (batches.isEmpty) 0.0 else batches.map(_.stateMem).max.toDouble),
      "streaming.outside_trigger_s"       -> (if (streamKeys.isEmpty) 0.0 else streamBuildS - trig.sum / 1000.0),
    )
  }
}

object PassTrace {
  private final case class Job(id: Int, span: Option[String], startMs: Long, var endMs: Long = -1L)
  private final case class Stage(id: Int, attempt: Int, jobId: Int, startMs: Long, endMs: Long, tasks: Int)
  private final case class Batch(query: String, batchId: Long, startMs: Long, durations: Map[String, Long],
                                 inputRows: Long, stateCommitMs: Long, stateRows: Long, stateMem: Long)
}
