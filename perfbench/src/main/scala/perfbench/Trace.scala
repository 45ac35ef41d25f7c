package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. Times are epoch milliseconds (fractional), the
  * clock Spark's listener events use, so benchmark calls and Spark jobs
  * share one axis. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startMs: Double, endMs: Double, gcMs: Double = 0) {
  def ms: Double = endMs - startMs
}

/** A finished Spark job: its job group (the span that caused it, or the
  * stream's run id), the micro-batch id when a stream ran it, and its
  * stages. */
final case class JobRec(id: Int, group: String, batchId: Long, startMs: Long,
                        endMs: Long, stageIds: Seq[Int], executionId: Long)

/** Accumulated task metrics of one completed stage, plus the call site
  * Spark recorded for it and the names of its RDD operation scopes. */
final case class StageRec(id: Int, name: String, details: String,
                          scopes: String, taskMs: Long, gcMs: Long,
                          bytesRead: Long, recordsRead: Long,
                          bytesWritten: Long, shuffleWrite: Long,
                          shuffleRead: Long, spill: Long)

/** One micro-batch's progress report. */
final case class Trigger(runId: String, batchId: Long, rows: Long,
                         endMs: Double, durations: Map[String, Long])

/** One SQL execution: the job group it ran under (the span that
  * caused it, or the stream's run id), its physical plan text as first
  * posted, and the broadcast-hash and sort-merge joins of its latest
  * (after adaptive execution, final) plan. */
final case class ExecRec(group: String, plan: String, bhj: Int, smj: Int)

/** Benchmark-side tracing. Every call the benchmark makes into a layer
  * goes through [[call]], which always returns its wall time. While
  * tracing is on, the call also becomes a span, Spark jobs it starts
  * are tagged with the span's id as their job group, and two
  * listeners registered here record jobs, stages, SQL executions and
  * stream progress. Nothing inside the engine is instrumented. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(1)
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  val executions = new java.util.concurrent.ConcurrentHashMap[Long, ExecRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()

  @volatile private var on = false
  private var parents = List.empty[Long]

  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null) {
        val p = Option(s.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        jobs.add(JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
          prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
          s.time, e.time, s.stageIds,
          prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        val (bhj, smj) = Tracer.joins(x.sparkPlanInfo)
        executions.put(x.executionId,
          ExecRec(x.jobGroupId.getOrElse(""), x.physicalPlanDescription, bhj, smj))
      case x: SparkListenerSQLAdaptiveExecutionUpdate =>
        val (bhj, smj) = Tracer.joins(x.sparkPlanInfo)
        executions.computeIfPresent(x.executionId, (_: Long, r: ExecRec) => r.copy(bhj = bhj, smj = smj))
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(StageRec(i.stageId, i.name, i.details,
        i.rddInfos.flatMap(r => Seq(r.name) ++ r.scope.map(_.name)).mkString("|"),
        m.executorRunTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
        d.getOrElse("triggerExecution", 0L)
      triggers.add(Trigger(p.runId.toString, p.batchId, p.numInputRows, end, d))
    }
  }

  def tracing: Boolean = on

  /** Turn the listeners on or off. Events already posted are delivered
    * before a listener is removed. */
  def trace(enable: Boolean): Unit = if (enable != on) {
    if (enable) {
      sc.addSparkListener(jobListener)
      spark.streams.addListener(streamListener)
    } else {
      drain()
      sc.removeSparkListener(jobListener)
      spark.streams.removeListener(streamListener)
    }
    on = enable
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Run `f` as one call into `layer`; returns its result and wall ms. */
  def call[A](layer: String, name: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    if (!on) {
      val r = f
      (r, (System.nanoTime() - t0) / 1e6)
    } else {
      val id = nextId.getAndIncrement()
      val gc0 = Tracer.gcMs
      val start = nowMs
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(id.toString, name)
      val parent = parents.headOption.getOrElse(0L)
      parents = id :: parents
      try {
        val r = f
        (r, (System.nanoTime() - t0) / 1e6)
      } finally {
        parents = parents.tail
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc)
        spans.add(Span(id, parent, layer, name, start, nowMs, Tracer.gcMs - gc0))
      }
    }
  }

  /** The jobs each span caused, including those of nested spans. */
  def jobsBySpan: Map[Long, Seq[JobRec]] = {
    val direct = jobs.asScala.toSeq.filter(_.group.nonEmpty)
      .flatMap(j => j.group.toLongOption.map(_ -> j)).groupMap(_._1)(_._2)
    val kids = spans.asScala.toSeq.groupMap(_.parent)(_.id)
    def all(id: Long): Seq[JobRec] =
      direct.getOrElse(id, Nil) ++ kids.getOrElse(id, Nil).flatMap(all)
    spans.asScala.map(s => s.id -> all(s.id)).toMap
  }

  def stageById: Map[Int, StageRec] = stages.asScala.map(s => s.id -> s).toMap

  /** Physical plan text of a SQL execution ("" if none was recorded). */
  def planOf(executionId: Long): String =
    Option(executions.get(executionId)).fold("")(_.plan)

  /** Spans, micro-batch triggers and Spark jobs, one JSON object per
    * line. A job's parent is the span whose job group it carried, or
    * the trigger that ran it; a trigger's parent is the benchmark call
    * that was waiting for it. */
  def write(path: java.nio.file.Path): Unit = {
    val out = new StringBuilder
    def line(id: String, parent: String, layer: String, name: String,
             s: Double, e: Double): Unit =
      out ++= s"""{"id":"$id","parent":"$parent","layer":"$layer","name":${Json.str(name)},"start_ms":${Json.num(s)},"end_ms":${Json.num(e)}}""" + "\n"
    val ss = spans.asScala.toSeq
    ss.foreach(s => line(s.id.toString, s.parent.toString, s.layer, s.name, s.startMs, s.endMs))
    triggers.asScala.foreach { t =>
      val start = t.endMs - t.durations.getOrElse("triggerExecution", 0L)
      val parent = ss.find(s => s.startMs <= t.endMs && t.endMs <= s.endMs + 1).fold("0")(_.id.toString)
      line(s"trigger-${t.runId}-${t.batchId}", parent, "graft.streaming",
        s"trigger ${t.batchId}", start, t.endMs)
    }
    jobs.asScala.foreach { j =>
      val parent = if (j.batchId >= 0) s"trigger-${j.group}-${j.batchId}" else j.group
      line(s"job-${j.id}", parent, "spark", s"job ${j.id}", j.startMs.toDouble, j.endMs.toDouble)
    }
    java.nio.file.Files.write(path, out.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  /** Broadcast-hash and sort-merge joins in a plan tree. A cached
    * relation's plan is not descended into: its joins ran in the
    * execution that built the cache. */
  def joins(p: SparkPlanInfo): (Int, Int) =
    if (p.nodeName == "InMemoryTableScan") (0, 0)
    else p.children.map(joins).foldLeft((
      if (p.nodeName == "BroadcastHashJoin") 1 else 0,
      if (p.nodeName == "SortMergeJoin") 1 else 0)) { case ((a, b), (c, d)) => (a + c, b + d) }

  /** Collection time of every garbage collector in this JVM, which in
    * local mode includes the executors. */
  def gcMs: Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
}

object Trace {
  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Per-call counters of one span name: mean jobs, stages, task ms,
    * bytes, and self (driver) ms = wall minus the time its jobs cover. */
  final case class CallStats(calls: Int, jobs: Double, stages: Double,
                             taskMs: Double, gcMs: Double, bytesRead: Double,
                             recordsRead: Double, bytesWritten: Double,
                             shuffleBytes: Double, spillBytes: Double,
                             driverMs: Double, wallMs: Double)

  def callStats(t: Tracer, name: String): CallStats = {
    val byId = t.jobsBySpan
    val st = t.stageById
    val calls = t.spans.asScala.toSeq.filter(_.name == name)
    if (calls.isEmpty) return CallStats(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val n = calls.size.toDouble
    def per(f: Span => Double) = calls.map(f).sum / n
    def stagesOf(s: Span) = byId(s.id).flatMap(_.stageIds).flatMap(st.get)
    CallStats(calls.size,
      per(s => byId(s.id).size),
      per(s => stagesOf(s).size),
      per(s => stagesOf(s).map(_.taskMs).sum),
      per(s => stagesOf(s).map(_.gcMs).sum),
      per(s => stagesOf(s).map(_.bytesRead).sum),
      per(s => stagesOf(s).map(_.recordsRead).sum),
      per(s => stagesOf(s).map(_.bytesWritten).sum),
      per(s => stagesOf(s).map(_.shuffleWrite).sum),
      per(s => stagesOf(s).map(_.spill).sum),
      per(s => s.ms - covered(byId(s.id).map(j => (j.startMs.toDouble, j.endMs.toDouble)), s.startMs, s.endMs)),
      per(_.ms))
  }
}
