package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A span the benchmark opens around one call into the program. Times are
  * epoch milliseconds, the clock Spark stamps its own events with. */
final case class Span(id: Int, parent: Int, name: String, query: String,
    startMs: Double, endMs: Double) {
  def sec: Double = (endMs - startMs) / 1000
}

/** Traced passes: spans at the boundaries the benchmark owns (pass → query →
  * `build`, the query function call, and `action`, the noop write), plus the
  * Spark work each span caused. Jobs and stages find their span through a
  * local property the client thread sets, which Spark copies to every job
  * the thread launches, including broadcast and subquery jobs. Catalyst
  * phase times come from the public `QueryExecutionListener`. A sampler
  * reads the client thread's stack every millisecond to split build time
  * into the share spent inside `graft.Tables`.
  *
  * Everything is kept in memory; [[endPass]] returns one pass's per-layer
  * figures and [[spanRows]] the spans with their self times. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val client = Thread.currentThread()

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val spanKind = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private var passSpan: Span = _
  private var passStartedAt = 0
  @volatile private var buildOpen = false

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val allJobs = mutable.ArrayBuffer.empty[Job]
  private val jobStarts = mutable.Map.empty[Int, Job]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmitMs = mutable.Map.empty[(Int, Int), Long]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var peakTaskBytes = 0L

  private val buildSamples = new java.util.concurrent.atomic.AtomicLong()
  private val tablesSamples = new java.util.concurrent.atomic.AtomicLong()
  @volatile private var sampling = false
  private var sampler: Thread = _
  private var gcAtStart = 0L

  // Epoch ms with sub-millisecond resolution: a fixed epoch/nano offset
  // taken once, so spans are comparable with Spark's millisecond stamps.
  private val epochAtNano0 = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  private def epochMs: Double = epochAtNano0 + System.nanoTime() / 1e6

  def startPass(pass: Int): Unit = {
    synchronized {
      jobs.clear(); jobStarts.clear(); stageSpan.clear(); stageSubmitMs.clear()
      phases.clear(); counts.clear(); peakTaskBytes = 0L
    }
    buildSamples.set(0); tablesSamples.set(0)
    passStartedAt = spans.length
    passSpan = Span(spans.length, -1, "pass", s"pass$pass", epochMs, Double.NaN)
    spans += passSpan
    gcAtStart = gcMillis()
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    sampling = true
    sampler = new Thread(() => sample(), "perfbench-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  /** Runs `body` inside a span named `name` under `parent`; `body` gets
    * the new span's id. */
  def span[T](name: String, query: String, parent: Int)(body: Int => T): T = {
    val id = spans.length
    spans += Span(id, parent, name, query, epochMs, Double.NaN)
    spanKind.put(id, name)
    sc.setLocalProperty(SpanKey, id.toString)
    buildOpen = name == "build"
    try body(id)
    finally {
      buildOpen = false
      sc.setLocalProperty(SpanKey, parent.toString)
      spans(id) = spans(id).copy(endMs = epochMs)
    }
  }

  def passId: Int = passSpan.id

  /** Closes the pass, waits for its events, stops listening and returns its
    * per-layer figures by metric name. */
  def endPass(): Map[String, Double] = {
    spans(passSpan.id) = passSpan.copy(endMs = epochMs)
    sampling = false
    sampler.join()
    sc.setLocalProperty(SpanKey, null)
    PerfbenchBus.drain(sc)
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
    val gcMs = gcMillis() - gcAtStart
    synchronized(figures(spans.slice(passStartedAt, spans.length).toSeq, gcMs))
  }

  private def figures(pass: Seq[Span], gcMs: Long): Map[String, Double] = {
    val byId = pass.map(s => s.id -> s).toMap
    val builds = pass.filter(_.name == "build")
    val actions = pass.filter(_.name == "action")
    val wall = pass.filter(_.name == "query").map(_.sec).sum
    def jobsIn(s: Span): Seq[(Double, Double)] =
      jobs.filter(_.span == s.id).map(j => (j.startMs.toDouble, j.endMs.toDouble)).toSeq
    def jobUnion(ss: Seq[Span]): Double = ss.map(s => covered(jobsIn(s), s.startMs, s.endMs)).sum
    val buildS = builds.map(_.sec).sum
    val phaseIn = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val planInAction = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    phases.foreach { case (phase, start, end) =>
      actions.find(a => start >= a.startMs - 1 && start <= a.endMs + 1).foreach { a =>
        phaseIn(phase) += (end - start) / 1000.0
        planInAction(a.id) += (end - start) / 1000.0
      }
    }
    val planS = phaseIn.values.sum
    val execJobS = jobUnion(actions)
    val gapS = actions.map { a =>
      math.max(0.0, a.sec - planInAction(a.id) - covered(jobsIn(a), a.startMs, a.endMs))
    }.sum
    val kindOf = (j: Job) => byId.get(j.span).map(_.name).getOrElse("")
    val tasks = counts("tasks")
    val samples = buildSamples.get
    Map(
      "tables.load_s" -> (if (samples == 0) 0.0 else buildS * tablesSamples.get / samples),
      "tables.infer_jobs" -> jobs.count(_.tables).toDouble,
      "build.s" -> buildS,
      "build.jobs" -> jobs.count(kindOf(_) == "build").toDouble,
      "build.job_s" -> jobUnion(builds),
      "plan.analysis_s" -> phaseIn("analysis"),
      "plan.optimization_s" -> phaseIn("optimization"),
      "plan.planning_s" -> phaseIn("planning"),
      "exec.jobs" -> jobs.count(kindOf(_) == "action").toDouble,
      "exec.stages" -> counts("action_stages"),
      "exec.tasks" -> counts("action_tasks"),
      "exec.job_s" -> execJobS,
      "exec.gap_s" -> gapS,
      "exec.slot_wait_s" -> counts("slot_wait_ms") / 1000,
      "exec.task_run_s" -> counts("run_ms") / 1000,
      "exec.task_cpu_s" -> counts("cpu_ns") / 1e9,
      "exec.gc_s" -> counts("gc_ms") / 1000,
      "shuffle.read_bytes" -> counts("shuffle_read_bytes"),
      "shuffle.write_bytes" -> counts("shuffle_write_bytes"),
      "shuffle.records_written" -> counts("shuffle_records_written"),
      "shuffle.fetch_wait_s" -> counts("fetch_wait_ms") / 1000,
      "shuffle.write_s" -> counts("shuffle_write_ns") / 1e9,
      "mem.peak_task_bytes" -> peakTaskBytes.toDouble,
      "mem.spill_bytes" -> counts("spill_bytes"),
      "mem.spill_disk_bytes" -> counts("spill_disk_bytes"),
      "jvm.gc_s" -> gcMs / 1000.0,
      "scan.bytes_read" -> counts("scan_bytes"),
      "scan.records_read" -> counts("scan_records"),
      "sink.bytes_written" -> counts("sink_bytes"),
      "sink.records_written" -> counts("sink_records"),
      "exec.failed_tasks" -> counts("failed_tasks"),
      "exec.stage_retries" -> counts("stage_retries"),
      "exec.task_success_ratio" -> (if (tasks == 0) 1.0 else (tasks - counts("failed_tasks")) / tasks),
      "trace.pass_s" -> wall,
      "trace.unattributed_s" -> (wall - buildS - planS - execJobS - gapS))
  }

  /** Every span so far, plus each Spark job as a child of the span that
    * launched it, with self time: duration minus the part of it that child
    * spans cover. */
  def spanRows: Seq[Map[String, Any]] = {
    val jobRows = synchronized(allJobs.toSeq)
    val children = (spans.map(s => s.parent -> (s.startMs, s.endMs)) ++
      jobRows.map(j => j.span -> (j.startMs.toDouble, j.endMs.toDouble))).groupMap(_._1)(_._2)
    spans.toSeq.map { s =>
      val self = s.sec - covered(children.getOrElse(s.id, Nil).toSeq, s.startMs, s.endMs)
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "query" -> s.query,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "sec" -> s.sec, "self_s" -> self)
    } ++ jobRows.map { j =>
      Map("id" -> s"job${j.id}", "parent" -> j.span, "name" -> "job", "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "sec" -> (j.endMs - j.startMs) / 1000.0, "tables" -> j.tables)
    }
  }
  private def sample(): Unit =
    while (sampling) {
      if (buildOpen) {
        buildSamples.incrementAndGet()
        if (client.getStackTrace.exists(_.getClassName.startsWith("graft.Tables")))
          tablesSamples.incrementAndGet()
      }
      Thread.sleep(1)
    }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tables = e.stageInfos.exists(s => s.name.contains("Tables.scala"))
    jobStarts(e.jobId) = Job(e.jobId, spanOf(e.properties), e.time, e.time, tables)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { j =>
      val done = j.copy(endMs = e.time)
      jobs += done; allJobs += done
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    stageSpan(s.stageId) = spanOf(e.properties)
    stageSubmitMs((s.stageId, s.attemptNumber())) = s.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    if (s.attemptNumber() > 0) counts("stage_retries") += 1
    if (isAction(stageSpan.getOrElse(s.stageId, -1))) counts("action_stages") += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    counts("tasks") += 1
    if (isAction(stageSpan.getOrElse(e.stageId, -1))) counts("action_tasks") += 1
    if (e.reason != org.apache.spark.Success) counts("failed_tasks") += 1
    stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach { t =>
      counts("slot_wait_ms") += math.max(0L, e.taskInfo.launchTime - t)
    }
    val m = e.taskMetrics
    if (m != null) {
      counts("run_ms") += m.executorRunTime
      counts("cpu_ns") += m.executorCpuTime
      counts("gc_ms") += m.jvmGCTime
      counts("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      counts("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      counts("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      counts("shuffle_records_written") += m.shuffleWriteMetrics.recordsWritten
      counts("shuffle_write_ns") += m.shuffleWriteMetrics.writeTime
      counts("spill_bytes") += m.memoryBytesSpilled
      counts("spill_disk_bytes") += m.diskBytesSpilled
      counts("scan_bytes") += m.inputMetrics.bytesRead
      counts("scan_records") += m.inputMetrics.recordsRead
      counts("sink_bytes") += m.outputMetrics.bytesWritten
      counts("sink_records") += m.outputMetrics.recordsWritten
      peakTaskBytes = math.max(peakTaskBytes, m.peakExecutionMemory)
    }
  }

  private def isAction(span: Int): Boolean = spanKind.get(span) == "action"

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (phase, p) => phases += ((phase, p.startTimeMs, p.endTimeMs)) }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)
}

object Tracer {
  val SpanKey = "perfbench.span"

  private final case class Job(id: Int, span: Int, startMs: Long, endMs: Long, tables: Boolean)

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Seconds of [from, to] (epoch ms) covered by the union of `intervals`. */
  def covered(intervals: Seq[(Double, Double)], from: Double, to: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curEnd.isNaN || a > curEnd) {
        if (!curEnd.isNaN) total += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (!curEnd.isNaN) total += curEnd - curStart
    total / 1000
  }
}
