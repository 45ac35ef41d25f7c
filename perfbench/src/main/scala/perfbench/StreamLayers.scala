package perfbench

import scala.jdk.CollectionConverters._

/** graft.streaming and graft.operators metrics of the traced triggers
  * of one streaming query. */
object StreamLayers {
  val Phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets")
  val Ops = Seq("source", "gopher", "dedup_probe", "dedup_within", "winnow",
    "sink_write", "sig_append", "funnel", "other")

  /** The pipeline step each stage of the streaming jobs belongs to.
    * Stages inside `foreachBatch` all carry the stream's start call
    * site, so the step is read from the physical plan of the SQL
    * execution that ran the stage: its top operator, the output path of
    * a write, and the engine expressions it evaluates (`gopher_stats`,
    * `minhash_band_hashes`, `winnow_fps`). Within the dedup step, stages
    * that scan the signature table are the probe; within the sink
    * write, the stage that writes files is the sink and the stages
    * before it run the winnow gate. */
  def classify(jobs: Seq[JobRec], stages: Map[Int, StageRec],
               plans: Long => String, sigTable: String): Map[Int, String] =
    jobs.flatMap { j =>
      val kind = step(plans(j.executionId))
      j.stageIds.flatMap(stages.get).map { st =>
        st.id -> (kind match {
          case "dedup" =>
            if (st.scopes.contains(s"Scan parquet spark_catalog.default.$sigTable")) "dedup_probe"
            else "dedup_within"
          case "sink" => if (st.scopes.contains("WriteFiles")) "sink_write" else "winnow"
          case k => k
        })
      }
    }.toMap

  /** The pipeline step of one SQL execution, from its plan text. The
    * three pins (source, gopher, dedup) come first in a trigger. */
  def step(plan: String): String = {
    val top = plan.linesIterator.map(_.trim)
      .find(l => l.nonEmpty && !l.startsWith("AdaptiveSparkPlan") && !l.startsWith("=="))
      .getOrElse("")
    if (top.contains("InsertIntoHadoopFsRelationCommand")) {
      if (plan.contains("/funnel/batch=")) "funnel"
      else if (plan.contains("/data/batch=")) "sink"
      else "sig_append"
    } else if (top.contains("HashAggregate")) "funnel"
    else if (plan.contains("winnow_fps")) "winnow"
    else if (plan.contains("minhash_band_hashes")) "dedup"
    else if (plan.contains("gopher_stats")) "gopher"
    else if (plan.isEmpty) "other"
    else "source"
  }

  /** `tracedBatches`: the stream batch ids of the traced triggers (one
    * trigger per pushed batch, so a batch's index). */
  def report(c: Ctx, runId: String, tracedBatches: Set[Long], lag: Seq[Double],
             filesPerTrigger: Seq[Double], sigTable: String): Unit = {
    val t = c.tracer
    val r = c.report
    val trig = t.triggers.asScala.toSeq.filter(x => x.runId == runId && x.rows > 0 && tracedBatches(x.batchId))
    val n = trig.size
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    r.put("stream.triggers", n, "count")
    r.put("stream.rows_per_trigger", mean(trig.map(_.rows.toDouble)), "rows", n)
    r.put("stream.files_per_trigger", mean(filesPerTrigger), "count", filesPerTrigger.size)
    Phases.foreach(p => r.put(s"stream.${p}_ms", mean(trig.map(_.durations.getOrElse(p, 0L).toDouble)), "ms", n))
    r.put("stream.lag_rows", mean(lag), "rows", lag.size)
    val wall = trig.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    r.put("stream.trigger_ms", mean(wall), "ms", n)
    r.put("stream.breakdown_coverage",
      if (wall.sum == 0) 0 else trig.map(x => Phases.map(x.durations.getOrElse(_, 0L)).sum).sum / wall.sum,
      "ratio", n)

    val batchIds = trig.map(_.batchId).toSet
    val jobs = t.jobs.asScala.toSeq.filter(j => j.group == runId && batchIds(j.batchId))
    val stages = t.stageById
    val ops = classify(jobs, stages, t.planOf, sigTable)
    val perTrigger = math.max(n, 1).toDouble
    Ops.foreach { op =>
      val ms = ops.collect { case (id, o) if o == op => stages(id).taskMs }.sum
      r.put(s"ops.$op.task_ms", ms / perTrigger, "ms", n)
    }
    val opStages = jobs.flatMap(_.stageIds).flatMap(stages.get)
    r.put("ops.shuffle_bytes", opStages.map(_.shuffleWrite).sum / perTrigger, "bytes", n)
    r.put("ops.spill_bytes", opStages.map(_.spill).sum / perTrigger, "bytes", n)
    r.put("ops.jobs_per_trigger", jobs.size / perTrigger, "count", n)
    r.put("ops.pin.jobs", jobs.count(j => Set("source", "gopher", "dedup")(step(t.planOf(j.executionId))))
      / perTrigger, "count", n)
    // self time: trigger wall not covered by any of its jobs
    val byBatch = jobs.groupBy(_.batchId)
    val jobMs = trig.map { x =>
      val end = x.endMs
      val start = end - x.durations.getOrElse("triggerExecution", 0L)
      Trace.covered(byBatch.getOrElse(x.batchId, Nil).map(j => (j.startMs.toDouble, j.endMs.toDouble)), start, end)
    }
    r.put("ops.job_ms", mean(jobMs), "ms", n)
    r.put("stream.self_ms", mean(wall) - mean(jobMs), "ms", n)
  }
}
