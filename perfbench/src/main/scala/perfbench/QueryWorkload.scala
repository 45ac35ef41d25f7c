package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** batch_queries: a fixed set of registry queries over generated
  * star-schema, documents and embeddings tables (sf 0.01). Set-up primes
  * the registry's shared artifacts; one untimed pass writes every output
  * (checked against the query's DuckDB oracle afterwards); timed passes,
  * as many as fill the run's seconds, run each query into a noop sink.
  *
  * The set spans four operator families and holds three of the engine's
  * six `n <= 1e6 -> broadcast` guard sites (LinkRank.pageRank,
  * Dedup.labelPropagation, Observe.groupedMedianMad) plus q_ann_ivf.
  * The pipeline operators behind q_pipeline_e2e run in ingest_stream. */
object QueryWorkload {
  val Names = Seq("q_link_rank", "q_dup_communities", "q_median_mad", "q_ann_ivf")

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val data = c.dir("data")
    c.phase("generate")(Gen.tables(spark, c.seed, if (c.smoke) 0.005 else 0.01, data))

    // set-up: prime the shared artifacts for a corpus path not seen
    // before (the registry memoizes per path)
    val dirs = c.setups(if (c.smoke) 1 else 2) { k =>
      val d = c.work.resolve(s"corpus$k")
      Files.createSymbolicLink(d, Paths.get(data))
      SparkEntry.prime(spark, d.toString, Names.toSet)
      d.toString
    }
    val dir = dirs.last

    val outs = c.dir("out")
    c.phase("warm")(Names.foreach { n =>
      val ok = scala.util.Try(SparkEntry.queries(n)(spark, dir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outs/$n"))
      c.report.check(ok.isSuccess, s"$n failed: ${ok.failed.map(_.toString).getOrElse("")}")
    })
    val oracle = Names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    Files.write(c.work.resolve("oracle.json"), oracle.map { case (n, q) =>
      s"${Json.str(n)}:${Json.str(q)}" }.mkString("{", ",", "}").getBytes("UTF-8"))
    c.report.note("oracle_data", data)
    c.report.note("oracle_out", outs)

    val perQuery = Names.map(_ -> ArrayBuffer.empty[Double]).toMap
    val passes, passesTraced = ArrayBuffer.empty[Double]
    c.startClock()
    var p = 0
    // a pass takes ~10 s; a traced run needs an untraced pass too, for
    // the tracing overhead
    val timedPasses = math.max(c.units(10), if (c.trace) 2 else 1)
    while (p < timedPasses) {
      val traced = c.traceUnit(p)
      val ms = Names.map { n =>
        val (ok, dt) = c.tracer.call("graft.queries", s"query.$n")(scala.util.Try(
          SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()))
        c.report.check(ok.isSuccess, s"$n failed in pass $p")
        perQuery(n) += dt
        dt
      }.sum
      (if (traced) passesTraced else passes) += ms
      p += 1
    }
    c.tracer.trace(false)
    c.noteMeasure()
    val all = passes ++ passesTraced
    val r = c.report
    r.put("unit_ms_p50", Stats.median(all.toSeq), "ms", all.size)
    r.put("items_s", Stats.median(all.map(ms => Names.size / (ms / 1000))), "1/s", all.size)
    r.put("space_amp", Layout.bytes(c.work.resolve("spark-warehouse")) /
      Layout.bytes(java.nio.file.Paths.get(data)), "ratio")
    r.put("query_set_s", Stats.median(all.toSeq) / 1000, "s", all.size)
    Names.foreach(n => r.put(s"query.$n.s", Stats.median(perQuery(n).toSeq) / 1000, "s", perQuery(n).size))
    if (c.trace) {
      c.overhead(passesTraced.toSeq, passes.toSeq)
      val spans = c.tracer.spans.asScala.toSeq
      val execs = c.tracer.executions.values.asScala.toSeq
      Names.foreach { n =>
        val st = Trace.callStats(c.tracer, s"query.$n")
        // the SQL executions each call ran, by the job group it set
        val mine = spans.filter(_.name == s"query.$n").map(_.id.toString).toSet
        val ps = execs.filter(e => mine(e.group))
        val k = math.max(mine.size, 1).toDouble
        r.put(s"query.$n.jobs", st.jobs, "count", st.calls)
        r.put(s"query.$n.stages", st.stages, "count", st.calls)
        r.put(s"query.$n.task_ms", st.taskMs, "ms", st.calls)
        r.put(s"query.$n.shuffle_bytes", st.shuffleBytes, "bytes", st.calls)
        r.put(s"query.$n.spill_bytes", st.spillBytes, "bytes", st.calls)
        r.put(s"query.$n.gc_ms", st.gcMs, "ms", st.calls)
        r.put(s"query.$n.driver_ms", st.driverMs, "ms", st.calls)
        r.put(s"query.$n.bhj", ps.map(_.bhj).sum / k, "count", st.calls)
        r.put(s"query.$n.smj", ps.map(_.smj).sum / k, "count", st.calls)
      }
    }
  }
}
