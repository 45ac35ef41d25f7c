package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

import graft.queue.ParquetQueue
import graft.schema.{GraftSchema, GraftType}

/** The two queue workloads: one closed-loop caller that pushes a batch,
  * waits, pops the same count, waits, and repeats.
  *
  *  - queue_small_ops: ~8 rows x 256 B per batch, 24 rounds per pass
  *    from an empty queue (retained segments grow 0 -> 24), `latest`
  *    and `size` every 10th round. Per-call fixed cost dominates.
  *  - queue_bulk: ~20k rows x 1 kB (~20 MB) per batch, 8 steps per pass.
  *    Parquet encode/decode and the persist/count pass dominate.
  *
  * A pass always starts from an empty queue, so the segment range is
  * part of the workload; passes repeat until the run's time is up. */
object QueueWorkloads {
  val Schema = GraftSchema(("id", GraftType.INTEGER), ("body", GraftType.TEXT))

  final case class Shape(rounds: Int, rowsLo: Int, rowsHi: Int, bodyLen: Int,
                         latestEvery: Int, warmRounds: Int, cacheInput: Boolean)

  def small(c: Ctx): Unit = run(c,
    if (c.smoke) Shape(4, 2, 4, 256, 2, 2, cacheInput = false)
    else Shape(16, 6, 10, 256, 8, 8, cacheInput = false))

  def bulk(c: Ctx): Unit = run(c,
    if (c.smoke) Shape(2, 200, 300, 1000, 2, 1, cacheInput = true)
    else Shape(8, 18000, 22000, 1000, 4, 3, cacheInput = true))

  private final class Samples {
    val push, pop, latest, size, round, rate, unit, unitTraced = ArrayBuffer.empty[Double]
    val popBySegments = ArrayBuffer.empty[(Double, Double)]
    var payloadBytes, segments, filesPerSegment, tracedPopRows = 0.0
    val spaceAmp = ArrayBuffer.empty[Double]
    val validate = ArrayBuffer.empty[Double]
  }

  private def run(c: Ctx, shape: Shape): Unit = {
    import c.spark.implicits._
    val rng = new SplittableRandom(c.seed)
    var nextId = 0L

    def input(n: Int): (IndexedSeq[(Long, String)], DataFrame) = {
      val rows = Gen.queueRows(c.seed, nextId, n, shape.bodyLen)
      nextId += n
      val df = rows.toDF("id", "body")
      if (shape.cacheInput) {
        df.persist(StorageLevel.MEMORY_ONLY).count()
      }
      (rows, df)
    }

    def samePayload(got: Seq[Row], want: IndexedSeq[(Long, String)]): Boolean =
      got.size == want.size && got.iterator.zip(want.iterator).forall {
        case (r, (id, body)) => r.getLong(0) == id && r.getString(1) == body
      }

    /** One pass: `shape.rounds` push/pop rounds on a fresh queue. */
    def pass(root: String, s: Samples, rounds: Int, unitOffset: Int,
             measured: Boolean): ParquetQueue = {
      val q = new ParquetQueue(c.spark, root, Schema)
      var pushed, popped = 0L
      var bytes = 0.0
      var last: Option[(Long, String)] = None
      val sizes = Gen.sizes(rng, shape.rowsLo, shape.rowsHi, rounds)
      for (r <- 0 until rounds) {
        val (rows, df) = input(sizes(r))
        val traced = measured && c.traceUnit(unitOffset + r)
        if (traced) s.validate += c.tracer.call("graft.schema", "schema.validate")(
          Schema.validate(df).write.format("noop").mode("overwrite").save())._2
        val (n, pushMs) = c.tracer.call("graft.queue", "queue.push")(q.push(df))
        c.report.check(n == rows.size, s"push returned $n, expected ${rows.size}")
        pushed += n
        last = rows.lastOption
        val (got0, popMs) = c.tracer.call("graft.queue", "queue.pop")(q.pop(rows.size))
        val got = if (c.fault == "drop_row") got0.drop(1) else got0
        c.report.check(samePayload(got, rows),
          s"pop of round $r returned ${got.size} rows, not the ${rows.size} pushed in order")
        popped += got.size
        var unitMs = pushMs + popMs
        if (r % shape.latestEvery == shape.latestEvery - 1) {
          val (l, latestMs) = c.tracer.call("graft.queue", "queue.latest")(q.latest)
          c.report.check(l.map(x => (x.getLong(0), x.getString(1))) == last,
            s"latest after round $r is not the last row pushed")
          val (sz, sizeMs) = c.tracer.call("graft.queue", "queue.size")(q.size())
          c.report.check(sz == pushed - popped, s"size $sz != pushed - popped ${pushed - popped}")
          s.latest += latestMs; s.size += sizeMs
          unitMs += latestMs + sizeMs
        }
        if (shape.cacheInput) df.unpersist()
        s.push += pushMs; s.pop += popMs; s.round += pushMs + popMs
        s.rate += rows.size / (unitMs / 1000)
        s.popBySegments += (((r + 1).toDouble, popMs))
        (if (traced) s.unitTraced else s.unit) += unitMs
        if (traced) s.tracedPopRows += got.size
        bytes += rows.map(x => 8 + x._2.length).sum
      }
      c.tracer.trace(false)
      s.payloadBytes += bytes
      s.spaceAmp += q.diskSpace / bytes
      QueueLayers.segmentFiles(root).foreach { case (segs, files) =>
        s.segments = segs; s.filesPerSegment = files }
      q
    }

    // warm-up: one untimed pass, so JIT and codegen are warm
    val warm = c.phase("warm")(pass(c.dir("warm"), new Samples, shape.warmRounds, 0,
      measured = false))
    val hw = warm.highwater
    warm.close()

    // set-up: a caller restarting against a queue with retained segments
    // reopens it and reads its restart position (`latest`) and backlog
    c.setups(3) { _ =>
      val q = new ParquetQueue(c.spark, warm.root, Schema)
      val ok = q.latest.exists(_.getLong(0) == nextId - 1) && q.size() == 0 && q.highwater == hw
      c.report.check(ok, "reopened queue lost its latest row or backlog")
      q.close()
    }

    val s = new Samples
    c.startClock()
    var passes = 0
    while (passes == 0 || c.elapsed < c.seconds) {
      pass(c.dir(s"pass$passes"), s, shape.rounds, passes * shape.rounds,
        measured = true).dispose()
      passes += 1
    }
    c.noteMeasure()
    c.report.note("passes", passes.toString)
    c.report.note("series.round_ms", s.round.map(x => math.round(x)).mkString(","))
    c.report.note("rounds_per_pass", shape.rounds.toString)

    val r = c.report
    r.put("unit_ms_p50", Stats.median(s.round), "ms", s.round.size)
    r.put("items_s", Stats.median(s.rate), "1/s", s.rate.size)
    r.put("space_amp", Stats.median(s.spaceAmp), "ratio", s.spaceAmp.size)
    val mb = s.payloadBytes / 1e6
    Seq("queue.push.ms_p50" -> Stats.median(s.push), "queue.push.ms_p95" -> Stats.quantile(s.push, 0.95),
      "queue.pop.ms_p50" -> Stats.median(s.pop), "queue.pop.ms_p95" -> Stats.quantile(s.pop, 0.95))
      .foreach { case (k, v) => r.put(k, v, "ms", s.push.size) }
    r.put("queue.latest.ms_p50", Stats.median(s.latest), "ms", s.latest.size)
    r.put("queue.size.ms_p50", Stats.median(s.size), "ms", s.size.size)
    r.put("queue.push.mb_s", mb / (s.push.sum / 1000), "MB/s", s.push.size)
    r.put("queue.pop.mb_s", mb / (s.pop.sum / 1000), "MB/s", s.pop.size)
    if (c.trace) {
      c.overhead(s.unitTraced.toSeq, s.unit.toSeq)
      QueueLayers.report(c, s.validate.toSeq, s.popBySegments.toSeq,
        s.tracedPopRows, s.segments, s.filesPerSegment, s.unitTraced.size)
    }
  }
}
