package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a boundary the benchmark crosses. `trace` is
  * shared by every span of one operation (a query or a micro-batch);
  * times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, trace: String, kind: String,
    name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Task counters summed over the tasks of one job. */
final class TaskSums {
  var tasks, runMs, cpuNs, gcMs, schedMs, shWriteBytes, shWriteRecords,
    shReadBytes, spillBytes, inBytes, inRecords, outBytes = 0L
  var peakExecMem = 0L
  def add(o: TaskSums): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    schedMs += o.schedMs; shWriteBytes += o.shWriteBytes
    shWriteRecords += o.shWriteRecords; shReadBytes += o.shReadBytes
    spillBytes += o.spillBytes; inBytes += o.inBytes; inRecords += o.inRecords
    outBytes += o.outBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

final case class JobRec(jobId: Int, parentSpan: Long, trace: String,
    phase: String, batchId: Option[Long], startMs: Long, var endMs: Long,
    stageIds: Seq[Int], sums: TaskSums)

final case class StageRec(stageId: Int, attempt: Int, jobId: Int,
    startMs: Long, endMs: Long)

/** Catalyst phase timings of one query execution, as its
  * `QueryPlanningTracker` recorded them. */
final case class PlanRec(startMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long)

/** In-memory span and counter recorder. Spans the benchmark opens itself
  * are recorded directly; job, stage and task data come from a
  * `SparkListener` and Catalyst phases from a `QueryExecutionListener`;
  * the chat workload adds micro-batch spans from its
  * `StreamingQueryListener`. Nothing is written until the run ends. With
  * `enabled = false` every method is a pass-through and no listener is
  * registered. */
final class Tracer(val enabled: Boolean) {
  private val SpanProp = "perfbench.span"
  private val TraceProp = "perfbench.trace"
  private val PhaseProp = "perfbench.phase"
  private val BatchIdProp = "streaming.sql.batchId"

  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val warnLines = new LongAdder()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  @volatile private var markerSeen = new java.util.concurrent.CountDownLatch(1)
  private val MarkerTrace = "perfbench-drain-marker"

  def now(): Double = System.currentTimeMillis().toDouble

  /** Runs `body` inside a span; jobs it submits carry the span's id. */
  def span[T](spark: SparkSession, parent: Long, trace: String, kind: String,
      name: String, phase: String = null)(body: Long => T): T = {
    val id = nextId.getAndIncrement()
    if (!enabled) return body(id)
    val sc = spark.sparkContext
    val saved = (sc.getLocalProperty(SpanProp), sc.getLocalProperty(TraceProp),
      sc.getLocalProperty(PhaseProp))
    sc.setLocalProperty(SpanProp, id.toString)
    sc.setLocalProperty(TraceProp, trace)
    sc.setLocalProperty(PhaseProp, Option(phase).getOrElse(saved._3))
    val t0 = now()
    try body(id)
    finally {
      spans.add(Span(id, parent, trace, kind, name, t0, now()))
      sc.setLocalProperty(SpanProp, saved._1)
      sc.setLocalProperty(TraceProp, saved._2)
      sc.setLocalProperty(PhaseProp, saved._3)
    }
  }

  def record(s: Span): Unit = if (enabled) spans.add(s)
  def newId(): Long = nextId.getAndIncrement()

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    installWarnCounter()
  }

  /** Blocks until every listener event posted so far has been delivered:
    * a marker job is submitted and the listener bus, which delivers in
    * order, reaches it. */
  def drain(spark: SparkSession): Unit = if (enabled) {
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty(TraceProp)
    markerSeen = new java.util.concurrent.CountDownLatch(1)
    sc.setLocalProperty(TraceProp, MarkerTrace)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(TraceProp, saved)
    if (!markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain in 60 s")
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      if (prop(TraceProp).contains(MarkerTrace)) { markerJobs.add(e.jobId); return }
      val rec = JobRec(e.jobId, prop(SpanProp).map(_.toLong).getOrElse(0L),
        prop(TraceProp).getOrElse(""), prop(PhaseProp).getOrElse(""),
        prop(BatchIdProp).map(_.toLong), e.time, e.time, e.stageIds, new TaskSums)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageToJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markerJobs.remove(e.jobId)) markerSeen.countDown()
      else Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(stageToJob.get(i.stageId)).foreach { j =>
        stages.add(StageRec(i.stageId, i.attemptNumber(), j,
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        val info = e.taskInfo
        val t = new TaskSums
        t.tasks = 1
        t.runMs = m.executorRunTime
        t.cpuNs = m.executorCpuTime
        t.gcMs = m.jvmGCTime
        // the web UI's scheduler delay: task wall time not spent
        // deserializing, running, serializing or fetching the result
        t.schedMs = math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        t.shWriteBytes = m.shuffleWriteMetrics.bytesWritten
        t.shWriteRecords = m.shuffleWriteMetrics.recordsWritten
        t.shReadBytes = m.shuffleReadMetrics.totalBytesRead
        t.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
        t.peakExecMem = m.peakExecutionMemory
        t.inBytes = m.inputMetrics.bytesRead
        t.inRecords = m.inputMetrics.recordsRead
        t.outBytes = m.outputMetrics.bytesWritten
        j.sums.synchronized(j.sums.add(t))
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
      plans.add(PlanRec(start, d("analysis"), d("optimization"), d("planning")))
    }
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = rec(qe)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  }

  /** Counts the engine's WARN log events through a log4j2 appender on
    * the root logger. */
  private def installWarnCounter(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-warn-counter", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) warnLines.increment()
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
  }

  /** Jobs whose submitting span lies in `ids`. */
  def jobsUnder(ids: Set[Long]): Seq[JobRec] =
    jobs.values.asScala.filter(j => ids.contains(j.parentSpan)).toSeq

  /** The child spans of every span, including the job and stage spans
    * the listener saw. */
  def withSparkSpans: Seq[Span] = {
    val own = spans.asScala.toSeq
    // listener-derived spans get negative ids, disjoint from the
    // benchmark's own positive ones
    def jobSpanId(jobId: Int): Long = -1L - jobId
    val recorded = jobs.values.asScala.toSeq.filter(_.parentSpan != 0)
    val jobSpans = recorded.map { j =>
      Span(jobSpanId(j.jobId), j.parentSpan, j.trace, "job", s"job ${j.jobId}",
        j.startMs.toDouble, j.endMs.toDouble)
    }
    val traceOf = recorded.map(j => j.jobId -> j.trace).toMap
    val stageSpans = stages.asScala.toSeq.flatMap { st =>
      traceOf.get(st.jobId).map { trace =>
        Span(-1000000000L - st.stageId * 100L - st.attempt, jobSpanId(st.jobId),
          trace, "stage", s"stage ${st.stageId}.${st.attempt}",
          st.startMs.toDouble, st.endMs.toDouble)
      }
    }
    own ++ jobSpans ++ stageSpans
  }
}

object Tracer {
  /** A span's self time: its duration minus the part of its interval
    * that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { covered += curB - curA; curA = a; curB = b }
      }
      if (!curA.isNaN) covered += curB - curA
      s.id -> (s.durMs - covered)
    }.toMap
  }
}

/** Layer metrics shared by every workload, derived from the spans of one
  * traced run. `leaf` are the benchmark's innermost spans around calls
  * into the program (construct / execute / drain); everything is summed
  * over them and divided by the number of passes. */
object Layers {
  def common(tracer: Tracer, spans: Seq[Span], leaf: Seq[Span],
      passes: Int): Map[String, Double] = {
    val n = passes.toDouble
    val leafIds = leaf.map(_.id).toSet
    val js = tracer.jobsUnder(leafIds)
    val sums = new TaskSums
    js.foreach(j => sums.add(j.sums))
    val jobIds = js.map(_.jobId).toSet
    val stageRecs = tracer.stages.asScala.toSeq.filter(s => jobIds.contains(s.jobId))
    // an execution belongs to the leaf span its Catalyst phases started in
    val plans = tracer.plans.asScala.toSeq.filter(p =>
      leaf.exists(s => p.startMs >= s.startMs && p.startMs <= s.endMs))
    val self = Tracer.selfTimes(spans)
    def selfS(ids: Iterable[Long]) = ids.map(i => self.getOrElse(i, 0.0)).sum / 1e3
    val jobSpanIds = js.map(j => -1L - j.jobId)
    Map(
      "jobs" -> js.size / n,
      "construct_jobs" -> js.count(_.phase == "construct") / n,
      "stages" -> stageRecs.size / n,
      "tasks" -> sums.tasks / n,
      "sched_delay_s" -> sums.schedMs / 1e3 / n,
      "exec_run_s" -> sums.runMs / 1e3 / n,
      "exec_cpu_s" -> sums.cpuNs / 1e9 / n,
      "gc_s" -> sums.gcMs / 1e3 / n,
      "shuffle_write_bytes" -> sums.shWriteBytes / n,
      "shuffle_write_records" -> sums.shWriteRecords / n,
      "shuffle_read_bytes" -> sums.shReadBytes / n,
      "spill_bytes" -> sums.spillBytes / n,
      "peak_exec_mem_bytes" -> sums.peakExecMem.toDouble,
      "input_bytes" -> sums.inBytes / n,
      "input_records" -> sums.inRecords / n,
      "output_bytes" -> sums.outBytes / n,
      "analysis_s" -> plans.map(_.analysisMs).sum / 1e3 / n,
      "optimization_s" -> plans.map(_.optimizationMs).sum / 1e3 / n,
      "planning_s" -> plans.map(_.planningMs).sum / 1e3 / n,
      "self.construct_s" -> selfS(leaf.filter(_.kind == "construct").map(_.id)) / n,
      "self.execute_s" -> selfS(leaf.filter(_.kind != "construct").map(_.id)) / n,
      "self.job_s" -> selfS(jobSpanIds) / n,
      "stage_s" -> stageRecs.map(s => (s.endMs - s.startMs).toDouble).sum / 1e3 / n)
  }
}
