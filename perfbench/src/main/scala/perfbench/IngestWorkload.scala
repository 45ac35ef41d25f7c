package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, Lineage}
import graft.queue.ParquetQueue
import graft.schema.{GraftSchema, GraftType}
import graft.streaming.QueueStreaming

/** ingest_stream: the system's real ingest path. A producer pushes
  * document batches (in doc_id order) into a ParquetQueue and, after
  * each push, waits until `QueueStreaming.pipelineStream` over the
  * queue's `readStream` has committed that batch (one closed-loop
  * caller). The eval suite is `doc_id % 23 = 0`, as in q_pipeline_e2e;
  * the signature table starts empty. At the end the survivors and the
  * funnel must equal a one-trigger run over the same documents. */
object IngestWorkload {
  val Schema = GraftSchema(("doc_id", GraftType.INTEGER), ("text", GraftType.TEXT))
  val StopWords = Seq("the", "a")

  /** The `checked` warm-up batches hold `warm` documents each; the timed
    * batches cycle through `cycle` sizes spread over [batchLo, batchHi],
    * so `cycle` timed batches hold the same number of documents for every
    * seed. The warm-up batches are pushed untimed (the first also starts
    * the stream, the second is the first to probe a non-empty signature
    * table), and a one-trigger run over their documents must agree with
    * the stream's first `checked` triggers. */
  final case class Shape(docs: Int, warm: Int, batchLo: Int, batchHi: Int, cycle: Int,
                         checked: Int)

  private def docsDf(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame =
    Gen.documentsDf(spark, docs).select("doc_id", "text")

  private def emptySigs(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Dedup.buildSignatureTable(docsDf(spark, Nil), "doc_id", "text", table)
  }

  private def start(c: Ctx, q: ParquetQueue, eval: DataFrame, sigs: String,
                    name: String, maxFiles: Int): StreamingQuery =
    QueueStreaming.pipelineStream(q.readStream(maxFiles).select("doc_id", "text"),
      "doc_id", "text", eval, sigs, c.dir(s"$name-out"), c.dir(s"$name-ckpt"),
      stopWords = StopWords)

  /** Survivor ids and per-stage funnel totals of a pipeline output's
    * first `triggers` micro-batches. */
  private def outcome(c: Ctx, name: String, triggers: Int): (Set[Long], Map[String, Long]) = {
    val out = c.work.resolve(s"$name-out").toString
    val ids = c.spark.read.parquet(s"$out/data").filter(col("batch") < triggers)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val funnel = c.spark.read.parquet(s"$out/funnel").filter(col("batch") < triggers)
      .groupBy("stage").agg(sum("n_docs")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (ids, funnel)
  }

  private def committed(sq: StreamingQuery): Long = sq.recentProgress.map(_.numInputRows).sum

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val shape = if (c.smoke) Shape(400, 40, 40, 60, 2, 2) else Shape(6000, 400, 360, 440, 4, 2)
    val docs = Gen.documents(c.seed, shape.docs)
    val evalDocs = docs.filter(_.docId % 23 == 0)
    val rng = new SplittableRandom(c.seed ^ 0x5DEECE66DL)
    val batches = ArrayBuffer.empty[IndexedSeq[Gen.Doc]]
    locally {
      var rest = docs.filter(_.docId % 23 != 0)
      val sizes = Iterator.fill(shape.checked)(shape.warm) ++ Iterator.continually(
        Gen.sizes(rng, shape.batchLo, shape.batchHi, shape.cycle)).flatten
      while (rest.nonEmpty) {
        val n = sizes.next()
        batches += rest.take(n); rest = rest.drop(n)
      }
    }

    // set-up: empty signature table, pinned eval suite, empty queue
    val setups = c.setups(5) { k =>
      val sigs = s"perfbench_sigs_$k"
      emptySigs(spark, sigs)
      val eval = Lineage.pin(docsDf(spark, evalDocs))
      (sigs, eval, new ParquetQueue(spark, c.dir(s"queue$k"), Schema))
    }
    setups.init.foreach { case (sigs, _, q) =>
      spark.sql(s"DROP TABLE IF EXISTS $sigs"); q.dispose()
    }
    val (sigs, eval, q) = setups.last

    // the reference outcome: the first `checked` batches through one
    // trigger (this also warms the pipeline's code paths)
    val twinDocs = batches.take(shape.checked).flatten.toSeq
    val (twinTriggers, twinIds, twinFunnel) = c.phase("reference") {
      val twinSigs = "perfbench_sigs_twin"
      emptySigs(spark, twinSigs)
      val tq = new ParquetQueue(spark, c.dir("twin-queue"), Schema)
      tq.push(docsDf(spark, twinDocs))
      val tsq = start(c, tq, eval, twinSigs, "twin", Int.MaxValue)
      tsq.processAllAvailable()
      val triggers = tsq.recentProgress.count(_.numInputRows > 0)
      tsq.stop()
      tq.dispose()
      spark.sql(s"DROP TABLE IF EXISTS $twinSigs")
      val (ids, funnel) = outcome(c, "twin", 1)
      (triggers, ids, funnel)
    }

    // warm-up: the first batch also starts the stream (a file-stream
    // source started on an empty queue fails once the first segment
    // arrives, so the queue must hold data first)
    val sq = c.phase("warm") {
      q.push(docsDf(spark, batches(0)))
      val sq = start(c, q, eval, sigs, "main", 8)
      sq.processAllAvailable()
      (1 until shape.checked).foreach { w =>
        q.push(docsDf(spark, batches(w)))
        sq.processAllAvailable()
      }
      sq
    }

    val push, deliver, commit, unit, unitTraced, lag, validate = ArrayBuffer.empty[Double]
    val tracedSegments = ArrayBuffer.empty[Long]
    val tracedBatches = ArrayBuffer.empty[Long]
    // a trigger takes ~5 s; a traced run times one traced and one
    // untraced batch at least
    val timedBatches = math.max(c.units(5), if (c.trace) 2 else 1)
    var i = shape.checked
    c.startClock()
    while (i < batches.size && i < shape.checked + timedBatches) {
      val df = docsDf(spark, batches(i))
      val traced = c.traceUnit(i - shape.checked)
      if (traced) validate += c.tracer.call("graft.schema", "schema.validate")(
        Schema.validate(df).write.format("noop").mode("overwrite").save())._2
      val first = q.highwater
      val (n, pushMs) = c.tracer.call("graft.queue", "queue.push")(q.push(df))
      c.report.check(n == batches(i).size, s"push $i returned $n, expected ${batches(i).size}")
      lag += (q.highwater - committed(sq)).toDouble
      val (_, waitMs) = c.tracer.call("graft.streaming", "stream.commit")(sq.processAllAvailable())
      c.report.check(sq.exception.isEmpty && sq.isActive, s"stream failed at batch $i")
      push += pushMs; deliver += waitMs; commit += pushMs + waitMs
      (if (traced) unitTraced else unit) += pushMs + waitMs
      if (traced) { tracedSegments += first; tracedBatches += i }
      i += 1
    }
    val pushedBatches = i
    c.tracer.trace(false)
    c.noteMeasure()
    val runId = sq.runId.toString
    sq.stop()
    def payload(ds: Iterable[Gen.Doc]) = ds.map(d => 8.0 + d.text.getBytes("UTF-8").length).sum
    val timed = batches.slice(shape.checked, pushedBatches)
    val spaceAmp = q.diskSpace / payload(batches.take(pushedBatches).flatten)
    val files = tracedSegments.map(parquetFiles(q.root, _))
    val segs = QueueLayers.segmentFiles(q.root)

    // correctness. Only documents that pass every stage enter the
    // signature table, so a near duplicate of a document an earlier
    // trigger rejected survives, while within one trigger it is dropped:
    // split triggers keep a superset of the one-trigger survivors, with
    // the same ingest and gopher counts.
    val (ids0, funnel) = outcome(c, "main", shape.checked)
    val ids = if (c.fault == "drop_row") ids0 -- (ids0 & twinIds).headOption else ids0
    def stage(f: Map[String, Long], st: String) = f.getOrElse(st, -1L)
    c.report.check(twinTriggers == 1, s"one-trigger run took $twinTriggers triggers")
    c.report.check(stage(funnel, "ingest") == twinDocs.size && stage(twinFunnel, "ingest") == twinDocs.size,
      s"ingested ${stage(funnel, "ingest")} and ${stage(twinFunnel, "ingest")} of ${twinDocs.size} documents")
    c.report.check(stage(funnel, "gopher") == stage(twinFunnel, "gopher"),
      s"gopher kept ${stage(funnel, "gopher")}, one trigger ${stage(twinFunnel, "gopher")}")
    c.report.check(stage(funnel, "dedup_ingest") >= stage(twinFunnel, "dedup_ingest"),
      s"dedup kept ${stage(funnel, "dedup_ingest")} < one trigger ${stage(twinFunnel, "dedup_ingest")}")
    c.report.check(twinIds.subsetOf(ids),
      s"${(twinIds -- ids).size} one-trigger survivors are missing")
    c.report.check(stage(funnel, "decontam_winnow") == ids0.size &&
      stage(twinFunnel, "decontam_winnow") == twinIds.size, "funnel does not count the survivors")
    spark.sql(s"DROP TABLE IF EXISTS $sigs")

    val r = c.report
    r.note("batches_timed", timed.size.toString)
    r.note("series.push_ms", push.map(math.round).mkString(","))
    r.note("series.deliver_ms", deliver.map(math.round).mkString(","))
    r.note("survivors_checked", s"${ids0.size} (one trigger: ${twinIds.size})")
    r.put("unit_ms_p50", Stats.median(commit), "ms", commit.size)
    // documents committed over the time their pushes and commits took
    r.put("items_s", timed.map(_.size).sum / (commit.sum / 1000), "1/s", commit.size)
    r.put("space_amp", spaceAmp, "ratio")
    r.put("queue.push.ms_p50", Stats.median(push), "ms", push.size)
    r.put("queue.push.ms_p95", Stats.quantile(push, 0.95), "ms", push.size)
    r.put("queue.push.mb_s", payload(timed.flatten) / 1e6 / (push.sum / 1000), "MB/s", push.size)
    r.put("stream.deliver_ms_p50", Stats.median(deliver), "ms", deliver.size)
    if (c.trace) {
      c.overhead(unitTraced.toSeq, unit.toSeq)
      QueueLayers.report(c, validate.toSeq, Nil, 0,
        segs.fold(0.0)(_._1), segs.fold(0.0)(_._2), unitTraced.size)
      StreamLayers.report(c, runId, tracedBatches.toSet, lag.toSeq, files.toSeq, sigs)
    }
  }

  private def parquetFiles(root: String, first: Long): Double = {
    val d = java.nio.file.Paths.get(root, "data", s"batch=$first")
    val s = java.nio.file.Files.list(d)
    try s.filter(_.getFileName.toString.endsWith(".parquet")).count().toDouble
    finally s.close()
  }
}
