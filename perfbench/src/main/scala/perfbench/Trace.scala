package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** The traced run's recorder: Spark's public listener APIs only. Spans are
  * kept in memory and written out when the run ends:
  *  - one micro-batch span per (query, batchId) — the trace id — from its
  *    progress event (trigger start + triggerExecution);
  *  - a job span per Spark job the micro-batch ran (the job's
  *    `streaming.sql.batchId` property names its parent);
  *  - a stage span per stage of those jobs, with its tasks' metrics summed.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageSpan]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Tracer.this.synchronized(progress += e.progress)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    val query = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    for (b <- batch; q <- query) {
      jobs(e.jobId) = Job(e.jobId, q, b.toLong, e.time, -1L)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    if (stageJob.contains(i.stageId))
      stages(i.stageId) = StageSpan(i.stageId, stageJob(i.stageId),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && stageJob.contains(e.stageId)) {
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      tasks += TaskRec(e.stageId, e.taskInfo.index, m.executorRunTime,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        sw.bytesWritten, sw.writeTime, sr.totalBytesRead, sr.recordsRead)
    }
  }

  /** True once every traced job has ended and `expectedProgress` progress
    * events of `queryIds` arrived (the listener bus is asynchronous).
    */
  def settled(queryIds: Set[String], expectedProgress: Int): Boolean = synchronized {
    jobs.values.forall(j => j.end >= 0 || !queryIds(j.queryId)) &&
      progress.count(p => queryIds(p.id.toString)) >= expectedProgress
  }

  /** Per-layer metrics over the micro-batches of `queryIds`; extensive
    * quantities are divided by `runs` (per drain), ratios use the totals.
    */
  def layers(queryIds: Set[String], runs: Int): Map[String, Double] = synchronized {
    val prog = progress.filter(p => queryIds(p.id.toString)).toVector
    val js = jobs.values.filter(j => queryIds(j.queryId)).toVector
    val jobIds = js.map(_.id).toSet
    val ts = tasks.filter(t => stageJob.get(t.stageId).exists(jobIds)).toVector
    val byStage = ts.groupBy(_.stageId)
    // the shuffle map stage (scan + map + exchange write) writes shuffle
    // output; the stateful stage reads it (and runs the sink's write)
    val mapStages = byStage.filter { case (_, t) => t.exists(_.swBytes > 0) }.keySet
    val stateStages = byStage.filter { case (_, t) => t.exists(_.srRecords > 0) }.keySet
    val mapTasks = ts.filter(t => mapStages(t.stageId))
    val stateTasks = ts.filter(t => stateStages(t.stageId))
    val allRun = ts.map(_.runMs).sum.toDouble
    val n = math.max(1, runs).toDouble

    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def durSum(k: String): Double = prog.map(dur(_, k)).sum
    val ops = prog.flatMap(_.stateOperators.headOption)
    def custom(k: String): Double =
      ops.map(o => Option(o.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)).sum

    // batch span = [trigger start, + triggerExecution]; job spans inside it
    val spansByBatch = js.groupBy(j => (j.queryId, j.batchId))
    val jobCover = prog.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val end = start + dur(p, "triggerExecution").toLong
      val ivs = spansByBatch.getOrElse((p.id.toString, p.batchId), Vector.empty)
        .map(j => (math.max(j.start, start), math.min(j.end, end)))
      union(ivs)
    }
    val triggerMs = durSum("triggerExecution")
    val addBatchMs = durSum("addBatch")
    val sinkSelf = prog.zip(jobCover).map { case (p, c) =>
      math.max(0.0, dur(p, "addBatch") - c) }.sum
    val driverSelf = prog.zip(jobCover).map { case (p, c) =>
      math.max(0.0, dur(p, "triggerExecution") - c) }.sum
    val stateCommit = ops.map(_.commitTimeMs.toDouble).sum
    val hits = custom("rocksdbReadBlockCacheHitCount")
    val misses = custom("rocksdbReadBlockCacheMissCount")
    val rowsPeak = if (ops.isEmpty) 0.0 else ops.map(_.numRowsTotal).max.toDouble
    val memPeak = if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes).max.toDouble

    def maxOverMedian(perPartition: Map[Int, Double]): Double = {
      val v = perPartition.values.toVector.sorted
      if (v.isEmpty) 0.0 else v.last / math.max(1e-9, median(v))
    }
    val readByPartition = stateTasks.groupBy(_.index).map { case (i, t) => i -> t.map(_.srRecords).sum.toDouble }
    val runByPartition = stateTasks.groupBy(_.index).map { case (i, t) => i -> t.map(_.runMs).sum.toDouble }

    Map(
      "sources.rows" -> prog.map(_.numInputRows).sum / n,
      "sources.bytes_read" -> mapTasks.map(_.inBytes).sum / n,
      "sources.latest_offset_ms" -> durSum("latestOffset") / n,
      "sources.get_batch_ms" -> durSum("getBatch") / n,
      "blob.map_stage_task_ms" -> mapTasks.map(_.runMs).sum / n,
      "blob.map_stage_share" -> mapTasks.map(_.runMs).sum / math.max(1.0, allRun),
      "exchange.shuffle_write_bytes" -> mapTasks.map(_.swBytes).sum / n,
      "exchange.shuffle_write_ms" -> mapTasks.map(_.swNs).sum / 1e6 / n,
      "exchange.shuffle_read_bytes" -> stateTasks.map(_.srBytes).sum / n,
      "exchange.skew_max_over_median" -> maxOverMedian(readByPartition),
      "state.stage_task_ms" -> stateTasks.map(_.runMs).sum / n,
      "state.stage_share" -> stateTasks.map(_.runMs).sum / math.max(1.0, allRun),
      "state.task_skew_max_over_median" -> maxOverMedian(runByPartition),
      "state.rows_total_peak" -> rowsPeak,
      "state.rows_updated" -> ops.map(_.numRowsUpdated).sum / n,
      "state.rows_removed" -> ops.map(_.numRowsRemoved).sum / n,
      "state.rows_dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark).sum / n,
      "state.memory_bytes_peak" -> memPeak,
      "state.bytes_per_row" -> (if (rowsPeak > 0) memPeak / rowsPeak else 0.0),
      "state.all_updates_ms" -> ops.map(_.allUpdatesTimeMs).sum / n,
      "state.commit_ms" -> stateCommit / n,
      "state.rocksdb_get_count" -> custom("rocksdbGetCount") / n,
      "state.rocksdb_put_count" -> custom("rocksdbPutCount") / n,
      "state.rocksdb_bytes_written" -> custom("rocksdbTotalBytesWritten") / n,
      "state.block_cache_hit_ratio" -> (if (hits + misses > 0) hits / (hits + misses) else 0.0),
      "sink.rows" -> stateTasks.map(_.outRecords).sum / n,
      "sink.bytes_written" -> stateTasks.map(_.outBytes).sum / n,
      "sink.self_ms" -> sinkSelf / n,
      "driver.batches" -> prog.size / n,
      "driver.trigger_ms" -> triggerMs / n,
      "driver.query_planning_ms" -> durSum("queryPlanning") / n,
      "driver.wal_commit_ms" -> durSum("walCommit") / n,
      "driver.commit_offsets_ms" -> durSum("commitOffsets") / n,
      "driver.add_batch_ms" -> addBatchMs / n,
      "driver.self_ms" -> driverSelf / n,
      "driver.overhead_share" -> (triggerMs - addBatchMs) / math.max(1.0, triggerMs),
      // per-batch fixed costs: every driver phase but addBatch, plus the
      // sink's job-free part of addBatch and the state store commit
      "driver.fixed_cost_share" ->
        (triggerMs - addBatchMs + sinkSelf + stateCommit) / math.max(1.0, triggerMs))
  }

  /** All spans as JSON lines: kind, id, parent, start, end (epoch ms). */
  def spans(queryIds: Set[String]): Vector[String] = synchronized {
    val prog = progress.filter(p => queryIds(p.id.toString)).toVector
    val js = jobs.values.filter(j => queryIds(j.queryId)).toVector.sortBy(_.id)
    val batchSpans = prog.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val end = start + Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      s"""{"kind":"batch","id":"${p.id}/${p.batchId}","parent":null,"start":$start,"end":$end,""" +
        s""""rows":${p.numInputRows}}"""
    }
    val jobSpans = js.map(j =>
      s"""{"kind":"job","id":"job-${j.id}","parent":"${j.queryId}/${j.batchId}",""" +
        s""""start":${j.start},"end":${j.end}}""")
    val jobIds = js.map(_.id).toSet
    val stageSpans = stages.values.filter(s => jobIds(s.jobId)).toVector.sortBy(_.id).map { s =>
      val t = tasks.filter(_.stageId == s.id)
      s"""{"kind":"stage","id":"stage-${s.id}","parent":"job-${s.jobId}","start":${s.start},""" +
        s""""end":${s.end},"tasks":${t.size},"task_ms":${t.map(_.runMs).sum},""" +
        s""""shuffle_read_records":${t.map(_.srRecords).sum},""" +
        s""""shuffle_write_bytes":${t.map(_.swBytes).sum}}"""
    }
    batchSpans ++ jobSpans ++ stageSpans
  }
}

object Tracer {
  final case class Job(id: Int, queryId: String, batchId: Long, start: Long, end: Long)
  final case class StageSpan(id: Int, jobId: Int, start: Long, end: Long)
  final case class TaskRec(stageId: Int, index: Int, runMs: Long, inBytes: Long,
      outBytes: Long, outRecords: Long, swBytes: Long, swNs: Long, srBytes: Long,
      srRecords: Long)

  /** Length of the union of [start, end) intervals. */
  def union(ivs: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered.toDouble
  }

  def median(v: Seq[Double]): Double = {
    val s = v.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def percentile(v: Seq[Double], p: Double): Double = {
    val s = v.sorted
    if (s.isEmpty) 0.0
    else {
      val rank = p * (s.size - 1)
      val lo = rank.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
  }
}
