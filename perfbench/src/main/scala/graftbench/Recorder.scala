package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, so
  * harness timestamps line up with the epoch-millisecond times Spark
  * puts on its listener events. */
object Clock {
  private val baseEpoch = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def now: Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6
}

/** One operation the harness timed: a query (SparkEntry call, then
  * `.count()`) or, for the stream, the whole streaming query. Spark
  * jobs are attributed to it by its job group. */
final class Op(val id: Int, val name: String, val timed: Boolean) {
  val group: String = s"graftbench-op-$id"
  var start, buildEnd, end = 0.0
  var rows = -1L
  var error: Option[String] = None
  var filesWritten, bytesWritten = 0L
  def wallMs: Double = end - start
}

final case class Span(id: Int, trace: String, parent: Int, name: String,
    layer: String, start: Double, end: Double)

/** Per job-group sums of task metrics. */
final class TaskAgg {
  var tasks, emptyTasks = 0L
  var runMs, cpuNs, gcMs, waitMs = 0L
  var shuffleWrite, shuffleRead, spill, scanBytes, scanRecords = 0L
}

/** The benchmark's own instruments for the traced run: a SparkListener
  * (jobs, stages, task metrics), a QueryExecutionListener (Catalyst
  * phases of every QueryExecution) and a StreamingQueryListener
  * (micro-batch progress). Nothing is recorded inside the library;
  * every span is placed from these events and the harness's own
  * timestamps, kept in memory, and written when the run ends. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val aggs = mutable.Map.empty[String, TaskAgg]
  private val qes = mutable.ArrayBuffer.empty[Qe]
  private val aliases = mutable.Map.empty[String, String]
  /** Group of the operation now running; QueryExecution callbacks carry
    * no job group, and the harness drains the bus after each operation,
    * so the callback arrives while its operation is still current. */
  @volatile var current: String = "none"

  def alias(sparkGroup: String, group: String): Unit = synchronized { aliases(sparkGroup) = group }
  private def groupOf(g: String): String = aliases.getOrElse(g, g)
  def agg(group: String): TaskAgg = synchronized { aggs.getOrElseUpdate(group, new TaskAgg) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .map(groupOf).getOrElse("none")
    jobs(e.jobId) = Job(e.jobId, g, e.time.toDouble, e.time.toDouble, e.stageIds)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val t = i.submissionTime.map(_.toDouble).getOrElse(Clock.now)
    stages(i.stageId) = Stage(i.stageId, t, t)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach(_.completed = i.completionTime.map(_.toDouble).getOrElse(Clock.now))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val g = stageJob.get(e.stageId).flatMap(jobs.get).map(_.group).getOrElse("none")
    val a = aggs.getOrElseUpdate(g, new TaskAgg)
    val in = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
    a.tasks += 1
    if (in == 0) a.emptyTasks += 1
    a.runMs += m.executorRunTime
    a.cpuNs += m.executorCpuTime
    a.gcMs += m.jvmGCTime
    stages.get(e.stageId).foreach(s =>
      a.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitted.toLong))
    a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    a.spill += m.diskBytesSpilled
    a.scanBytes += m.inputMetrics.bytesRead
    a.scanRecords += m.inputMetrics.recordsRead
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordQe(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordQe(qe)
  private def recordQe(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> ((p.startTimeMs.toDouble, p.endTimeMs.toDouble)) }
    val end = Clock.now
    synchronized { qes += Qe(current, phases, end) }
  }

  // ---- per-group rollups ----------------------------------------------

  def jobsOf(group: String): Seq[Job] = synchronized { jobs.values.filter(_.group == group).toSeq }
  def stagesOf(group: String): Seq[Stage] = synchronized {
    val ids = jobs.values.filter(_.group == group).flatMap(_.stages).toSet
    stages.values.filter(s => ids(s.id) && stageJob.get(s.id).exists(j => jobs(j).group == group)).toSeq
  }
  def qesOf(group: String): Seq[Qe] = synchronized { qes.filter(_.group == group).toSeq }

  // ---- spans ----------------------------------------------------------

  /** Build the span tree: op -> build/action -> job -> stage; each
    * QueryExecution -> its Catalyst phases (under build or action by
    * when it finished); each micro-batch -> its durationMs phases. */
  def spans(ops: Seq[Op], batches: Seq[StreamBatch], streamOp: Option[Op]): Seq[Span] = synchronized {
    val out = mutable.ArrayBuffer.empty[Span]
    var next = 0
    def add(trace: String, parent: Int, name: String, layer: String, s: Double, e: Double): Int = {
      next += 1; out += Span(next, trace, parent, name, layer, s, math.max(s, e)); next
    }
    def attach(group: String, lookup: Double => Int): Unit = {
      jobs.values.filter(_.group == group).foreach { j =>
        val p = lookup(j.start)
        val js = add(group, p, s"job ${j.id}", "exec.job", j.start, j.end)
        j.stages.filter(s => stageJob.get(s).contains(j.id)).flatMap(stages.get).foreach { s =>
          add(group, js, s"stage ${s.id}", "exec.stage", s.submitted, s.completed)
        }
      }
    }
    ops.filter(_.timed).foreach { op =>
      val root = add(op.group, 0, op.name, "bench.op", op.start, op.end)
      val b = add(op.group, root, "build", "operators.build", op.start, op.buildEnd)
      val a = add(op.group, root, "action", "operators.action", op.buildEnd, op.end)
      val pick = (t: Double) => if (t < op.buildEnd) b else a
      attach(op.group, pick)
      qes.filter(_.group == op.group).foreach { q =>
        addQe(q, pick(q.phases.values.map(_._1).minOption.getOrElse(q.end)), add) }
    }
    streamOp.foreach { op =>
      val root = add(op.group, 0, op.name, "bench.op", op.start, op.end)
      // (start, end, span id) of every batch and of every batch phase
      val placed = mutable.ArrayBuffer.empty[(Double, Double, Int)]
      batches.foreach { b =>
        val id = add(op.group, root, s"batch ${b.id}", "stream.batch", b.start, b.end)
        placed += ((b.start, b.end, id))
        var t = b.start
        StreamBatch.PhaseOrder.foreach { ph =>
          val d = b.durations.getOrElse(ph, 0L).toDouble
          if (d > 0) {
            placed += ((t, t + d, add(op.group, id, ph, s"stream.$ph", t, t + d)))
            t += d
          }
        }
      }
      // the innermost placed span (a phase, else its batch) holding t
      val pick = (t: Double) => placed.filter(p => t >= p._1 && t <= p._2)
        .sortBy(p => p._2 - p._1).headOption.map(_._3).getOrElse(root)
      attach(op.group, pick)
      qes.filter(_.group == op.group).foreach { q => addQe(q, pick(q.end), add) }
    }
    out.toSeq
  }

  private def addQe(q: Qe, parent: Int,
      add: (String, Int, String, String, Double, Double) => Int): Unit = {
    if (q.phases.isEmpty) return
    val id = add(q.group, parent, "query execution", "plans.execution",
      q.phases.values.map(_._1).min, q.phases.values.map(_._2).max)
    q.phases.foreach { case (k, (ps, pe)) => add(q.group, id, k, s"plans.$k", ps, pe) }
  }
}

object Recorder {
  final case class Job(id: Int, group: String, start: Double, var end: Double, stages: Seq[Int])
  final case class Stage(id: Int, var submitted: Double, var completed: Double)
  final case class Qe(group: String, phases: Map[String, (Double, Double)], end: Double)

  /** Layers that only group their children: a QueryExecution's phases
    * can sit apart in time (analysis when the DataFrame is built,
    * optimization and planning at the action), and the time between
    * them belongs to whatever ran there, not to planning. */
  val Grouping = Set("plans.execution")

  /** Self time per layer: a span's duration minus the part of its
    * interval its children cover (looking through grouping spans).
    * Rows: layer, spans, total, self. */
  def rollup(spans: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val kids = spans.groupBy(_.parent)
    def cover(id: Int): Seq[Span] = kids.getOrElse(id, Nil).flatMap(c =>
      if (Grouping(c.layer)) cover(c.id) else Seq(c))
    val self = spans.map { s =>
      val iv = cover(s.id).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s -> (if (Grouping(s.layer)) 0.0 else (s.end - s.start) - unionMs(iv))
    }
    self.groupBy(_._1.layer).toSeq.map { case (layer, xs) =>
      (layer, xs.size, xs.map(x => x._1.end - x._1.start).sum, xs.map(_._2).sum)
    }.sortBy(-_._4)
  }

  /** Length of the union of the given intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

}

/** One micro-batch as reported by StreamingQueryProgress. */
final case class StreamBatch(id: Long, start: Double, end: Double, durations: Map[String, Long],
    inputRows: Long, ordersEnd: Long, ratesEnd: Long, watermark: String, stateRows: Long, stateMem: Long,
    stateCommitMs: Long, droppedByWatermark: Long)

object StreamBatch {
  /** The order MicroBatchExecution runs its phases in. */
  val PhaseOrder: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
}

/** Collects micro-batch progress of one streaming query; the two
  * sources are told apart by their descriptions. */
final class ProgressLog(ordersSource: () => String, ratesSource: () => String)
    extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[StreamBatch]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val trig = d.getOrElse("triggerExecution", 0L)
    def end(desc: String) = p.sources.find(_.description == desc).flatMap(s => Option(s.endOffset))
      .flatMap(o => scala.util.Try(o.trim.stripPrefix("\"").stripSuffix("\"").toLong).toOption)
      .getOrElse(-1L)
    val st = p.stateOperators
    batches.add(StreamBatch(p.batchId, start, start + trig, d, p.numInputRows,
      end(ordersSource()), end(ratesSource()),
      Option(p.eventTime.get("watermark")).getOrElse(""),
      st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
      st.map(_.commitTimeMs).sum, st.map(_.numRowsDroppedByWatermark).sum))
  }
  def all: Seq[StreamBatch] = batches.asScala.toSeq.sortBy(_.id)
}
