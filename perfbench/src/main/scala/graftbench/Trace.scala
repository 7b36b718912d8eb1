package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One timed interval around a layer call. `counters` collects the
  * listener counts attributed to it (jobs, tasks, bytes, ...).
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Int, val start: Long) {
  var end: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit =
    counters(k) = counters.getOrElse(k, 0.0) + v
}

/** Spans around the benchmark's calls into graft, plus the listeners that
  * attribute Spark, SQL and streaming counts to them.
  *
  * Jobs are attributed exactly: the innermost open span's id rides the
  * job's local properties. SQL executions and streaming progress reports
  * carry only timestamps, so they go to the innermost span whose interval
  * holds that time. Everything stays in memory until [[dump]].
  */
final class Tracer(sc: SparkContext) {
  private val PropKey = "graftbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile var enabled = false
  private var op = -1

  def currentOp(o: Int): Unit = op = o

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        op, System.nanoTime())
      lock.synchronized(spans += s)
      stack = s :: stack
      val prev = sc.getLocalProperty(PropKey)
      sc.setLocalProperty(PropKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(PropKey, prev)
      }
    }

  // ---- listener state (written on the listener-bus thread) ----
  import Tracer.JobInfo
  private val jobs = mutable.Map.empty[Int, JobInfo]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** (wall-clock ms, counters) records, placed by time in [[settle]]. */
  private val timed = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]
  private val lock = new Object
  private val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private def spanOf(jobId: Int): Option[(Span, JobInfo)] =
    jobs.get(jobId).flatMap(j => lock.synchronized(
      if (j.span >= 0 && j.span < spans.size) Some((spans(j.span), j)) else None))

  private def addTo(s: Span, kv: (String, Double)*): Unit =
    lock.synchronized(kv.foreach { case (k, v) => s.add(k, v) })

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val sid = Option(p).flatMap(x => Option(x.getProperty(PropKey)))
        .map(_.toInt).getOrElse(-1)
      val label = Option(p).flatMap(x =>
        Option(x.getProperty("spark.job.description"))).getOrElse("")
      jobs(e.jobId) = JobInfo(sid, e.time, label)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      spanOf(e.jobId).foreach { case (s, _) =>
        addTo(s, "jobs" -> 1, "stages" -> e.stageIds.size.toDouble)
        if (label.startsWith("graft: lake:land-files")) addTo(s, "land_jobs" -> 1)
        if (Tracer.PinLabels.exists(l => label.startsWith(s"graft: $l")))
          addTo(s, "pin_jobs" -> 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      spanOf(e.jobId).foreach { case (s, j) =>
        addTo(s, "job_s" -> (e.time - j.submit) / 1000.0)
        if (j.firstTask > 0)
          addTo(s, "sched_wait_s" -> (j.firstTask - j.submit) / 1000.0)
        if (j.label.startsWith("graft: lake:land-files"))
          addTo(s, "land_s" -> (e.time - j.submit) / 1000.0)
      }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        if (j.firstTask < 0) j.firstTask = e.taskInfo.launchTime
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).flatMap(spanOf).foreach { case (s, j) =>
        val m = e.taskMetrics
        val kv = mutable.ArrayBuffer[(String, Double)](
          "tasks" -> 1, "task_busy_s" -> e.taskInfo.duration / 1000.0)
        if (m != null) {
          kv += "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble
          kv += "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble
          kv += "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
          kv += "input_bytes" -> m.inputMetrics.bytesRead.toDouble
          kv += "input_rows" -> m.inputMetrics.recordsRead.toDouble
          kv += "output_bytes" -> m.outputMetrics.bytesWritten.toDouble
          kv += "output_rows" -> m.outputMetrics.recordsWritten.toDouble
          m.updatedBlockStatuses.foreach {
            case (RDDBlockId(rdd, _), st) if st.isCached =>
              kv += "pin_bytes" -> (st.memSize + st.diskSize).toDouble
              kv += s"pin_rdd:$rdd" -> 1
            case _ =>
          }
        }
        if (j.label.startsWith("graft: lake:land-files")) kv += "land_tasks" -> 1
        addTo(s, kv.toSeq: _*)
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def secs(p: String) = ph.get(p).map(x => (x.endTimeMs - x.startTimeMs) / 1000.0)
        .getOrElse(0.0)
      val at = ph.get("planning").orElse(ph.get("analysis")).map(_.endTimeMs)
        .getOrElse(System.currentTimeMillis())
      val plan = Tracer.planStats(qe.executedPlan)
      lock.synchronized {
        timed += at -> (Map("analysis_s" -> secs("analysis"),
          "optimization_s" -> secs("optimization"),
          "planning_s" -> secs("planning"), "executions" -> 1.0) ++ plan)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String) = Option(d.get(k)).map(_.doubleValue / 1000.0).getOrElse(0.0)
      val st = p.stateOperators
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      lock.synchronized {
        timed += at -> Map(
          "stream_batches" -> 1.0,
          "stream_batch_s" -> ms("triggerExecution"),
          "stream_add_batch_s" -> ms("addBatch"),
          "stream_query_planning_s" -> ms("queryPlanning"),
          "stream_offset_s" -> (ms("latestOffset") + ms("getBatch")),
          "stream_wal_commit_s" -> (ms("walCommit") + ms("commitOffsets")),
          "stream_state_rows" -> st.map(_.numRowsTotal.toDouble).sum,
          "stream_state_bytes" -> st.map(_.memoryUsedBytes.toDouble).sum,
          "stream_state_commit_s" -> st.map(_.commitTimeMs / 1000.0).sum,
          "stream_state_partitions" -> st.map(_.numShufflePartitions.toDouble).sum)
      }
    }
  }

  /** Place the time-stamped records into their innermost enclosing span.
    * Call after the listener bus has drained.
    */
  def settle(): Unit = lock.synchronized {
    val done = spans.filter(_.end > 0)
    timed.foreach { case (ms, kv) =>
      val t = ms * 1000000L - nanoOffset
      val hit = done.filter(s => s.start <= t && t <= s.end)
      if (hit.nonEmpty) {
        val s = hit.maxBy(_.start)
        kv.foreach { case (k, v) => s.add(k, v) }
      }
    }
    timed.clear()
  }

  def dump(): Seq[Any] = lock.synchronized(spans.toSeq.map { s =>
    val pins = s.counters.keys.count(_.startsWith("pin_rdd:"))
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9,
      "c" -> (s.counters.filterNot(_._1.startsWith("pin_rdd:")).toMap +
        ("pinned_rdds" -> pins.toDouble)))
  })
}

object Tracer {
  private final case class JobInfo(span: Int, submit: Long, label: String,
      var firstTask: Long = -1L)

  val PinLabels = Seq("ivm:pin", "ivm:applyTo-pin", "splice:view-pin")

  /** Exchanges and file-scan SQL metrics of an executed plan (AQE stages
    * included, reused exchanges counted once).
    */
  def planStats(root: SparkPlan): Map[String, Double] = {
    var exchanges, files, bytes, rows = 0.0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case q: QueryStageExec => walk(q.plan); return
        case _: ReusedExchangeExec => return
        case _: Exchange => exchanges += 1
        case s: FileSourceScanExec =>
          files += metric(s, "numFiles"); bytes += metric(s, "filesSize")
          rows += metric(s, "numOutputRows")
        case s: BatchScanExec => rows += metric(s, "numOutputRows")
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    Map("exchanges" -> exchanges, "scan_files" -> files,
      "scan_bytes" -> bytes, "scan_rows" -> rows)
  }

  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
}
