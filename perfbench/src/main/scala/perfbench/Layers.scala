package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

object Layout {
  /** Bytes of the regular files under `p` (0 if it does not exist). */
  def bytes(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
      finally s.close()
    }
}

/** Per-layer metrics computed from the tracer after a traced run. */
object QueueLayers {
  /** (segments, parquet files per segment) of a queue root. */
  def segmentFiles(root: String): Option[(Double, Double)] = {
    val data = Paths.get(root, "data")
    if (!Files.isDirectory(data)) None
    else {
      val segs = list(data).filter(_.getFileName.toString.startsWith("batch="))
      val files = segs.map(d => list(d).count(_.getFileName.toString.endsWith(".parquet")))
      if (segs.isEmpty) None else Some((segs.size.toDouble, files.sum.toDouble / segs.size))
    }
  }

  private def list(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator.asScala.toList finally s.close()
  }

  /** The graft.queue and graft.schema metrics of traced units. */
  def report(c: Ctx, validateMs: Seq[Double], popBySegments: Seq[(Double, Double)],
             tracedPopRows: Double, segments: Double, filesPerSegment: Double,
             tracedUnits: Int): Unit = {
    val t = c.tracer
    val r = c.report
    val push = Trace.callStats(t, "queue.push")
    val pop = Trace.callStats(t, "queue.pop")
    val latest = Trace.callStats(t, "queue.latest")
    val size = Trace.callStats(t, "queue.size")
    r.put("queue.push.jobs", push.jobs, "count", push.calls)
    r.put("queue.push.stages", push.stages, "count", push.calls)
    r.put("queue.push.driver_ms", push.driverMs, "ms", push.calls)
    r.put("queue.push.task_ms", push.taskMs, "ms", push.calls)
    r.put("queue.push.bytes_written", push.bytesWritten, "bytes", push.calls)
    r.put("queue.pop.jobs", pop.jobs, "count", pop.calls)
    r.put("queue.pop.driver_ms", pop.driverMs, "ms", pop.calls)
    r.put("queue.pop.task_ms", pop.taskMs, "ms", pop.calls)
    r.put("queue.pop.bytes_read", pop.bytesRead, "bytes", pop.calls)
    r.put("queue.pop.rows_read_per_row",
      if (tracedPopRows > 0) pop.recordsRead * pop.calls / tracedPopRows else 0, "ratio", pop.calls)
    r.put("queue.pop.ms_per_100_segments", 100 * Stats.slope(popBySegments), "ms",
      popBySegments.size)
    r.put("queue.latest.jobs", latest.jobs, "count", latest.calls)
    r.put("queue.latest.driver_ms", latest.driverMs, "ms", latest.calls)
    r.put("queue.segments", segments, "count")
    r.put("queue.files_per_segment", filesPerSegment, "count")
    val queueSpans = t.spans.asScala.toSeq.filter(_.layer == "graft.queue")
    r.put("queue.gc_ms", if (queueSpans.isEmpty) 0 else queueSpans.map(_.gcMs).sum / queueSpans.size,
      "ms", queueSpans.size)
    val calls = Seq(push, pop, latest, size)
    r.put("queue.self_ms",
      if (tracedUnits == 0) 0 else calls.map(s => s.driverMs * s.calls).sum / tracedUnits,
      "ms", tracedUnits)
    r.put("schema.validate_ms", if (validateMs.isEmpty) 0 else Stats.median(validateMs), "ms",
      validateMs.size)
  }
}
