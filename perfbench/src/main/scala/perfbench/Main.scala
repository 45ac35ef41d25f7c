package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Everything a workload needs: the session, the tracer, where to put
  * its files, and what to measure. */
final case class Ctx(spark: SparkSession, tracer: Tracer, report: Report,
                     seed: Long, seconds: Double, trace: Boolean,
                     smoke: Boolean, fault: String, work: Path) {
  private val t0 = System.nanoTime()

  /** A fresh directory under the run's working directory. */
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }

  /** Seconds since the workload started measuring (see [[startClock]]). */
  private var clock0 = t0
  private var cpu0, runq0 = 0.0
  def startClock(): Unit = {
    clock0 = System.nanoTime(); cpu0 = Ctx.cpuS; runq0 = Ctx.runqS
  }
  def elapsed: Double = (System.nanoTime() - clock0) / 1e9

  /** Note the measured phase's wall, CPU and run-queue seconds: CPU
    * time that stays put while wall time moves points at waiting, and
    * run-queue time at other processes holding the cores. */
  def noteMeasure(): Unit = {
    report.note("phase.measure_s", elapsed.toString)
    report.note("phase.measure_cpu_s", (Ctx.cpuS - cpu0).toString)
    report.note("phase.measure_runq_s", (Ctx.runqS - runq0).toString)
  }

  /** How many units of `nominalS` seconds (a unit's time on a 4-core
    * VM) fill the run's measuring time. A workload whose units change
    * along the run (over a growing table, say) times this fixed count
    * rather than until the time is up, so that two runs, or a change
    * and its parent, time the same units. */
  def units(nominalS: Double): Int = math.max(1, math.round(seconds / nominalS).toInt)

  /** Traced runs alternate: even units run with the listeners on, odd
    * units with them off, so one run yields both the per-layer counters
    * and the tracing overhead. */
  def traceUnit(i: Int): Boolean = {
    val on = trace && i % 2 == 0
    tracer.trace(on)
    on
  }

  /** Time `f` without any tracing. */
  def timed[A](f: => A): (A, Double) = {
    val s = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - s) / 1e6)
  }

  /** Run `f` and note its wall seconds as `phase.<name>_s`. */
  def phase[A](name: String)(f: => A): A = {
    val (r, ms) = timed(f)
    report.note(s"phase.${name}_s", (ms / 1000).toString)
    r
  }

  /** Median of `n` set-ups, reported as setup_s. */
  def setups[A](n: Int)(f: Int => A): Seq[A] = {
    val rs = (0 until n).map(i => timed(f(i)))
    report.put("setup_s", Stats.median(rs.map(_._2 / 1000)), "s", n)
    rs.map(_._1)
  }

  /** Traced-minus-untraced median of the unit latency. */
  def overhead(traced: Seq[Double], untraced: Seq[Double]): Unit =
    if (trace) {
      val d = Stats.median(traced) - Stats.median(untraced)
      report.put("trace.overhead_ms", d, "ms", traced.size + untraced.size)
      report.put("trace.overhead_pct", 100 * d / Stats.median(untraced), "%",
        traced.size + untraced.size)
    }
}

object Ctx {
  /** CPU seconds this JVM has used. */
  def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Seconds this JVM's live threads have waited for a core (Linux
    * schedstat; 0 where it is missing). */
  def runqS: Double = try {
    val s = Files.list(Paths.get("/proc/self/task"))
    try s.iterator.asScala.map { t =>
      try new String(Files.readAllBytes(t.resolve("schedstat")), "UTF-8").trim.split(" ")(1).toDouble / 1e9
      catch { case _: java.io.IOException => 0.0 }
    }.sum finally s.close()
  } catch { case _: java.io.IOException => 0.0 }
}

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * [--smoke 1] --out FILE`: runs one workload in this JVM and writes its
  * report as JSON to FILE. The working directory is the run's scratch
  * space (warehouse, queues, outputs). */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "queue_small_ops" -> (c => QueueWorkloads.small(c)),
    "queue_bulk" -> (c => QueueWorkloads.bulk(c)),
    "ingest_stream" -> (c => IngestWorkload.run(c)),
    "batch_queries" -> (c => QueryWorkload.run(c)),
    // every workload at smoke size in one JVM: records the classes runs
    // load into the class-data archive the runner builds
    "all" -> (c => Seq("queue_small_ops", "ingest_stream", "batch_queries")
      .foreach(w => Workloads(w)(c.copy(smoke = true)))))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val work = Paths.get("").toAbsolutePath
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cpus, s"perfbench-$workload")
    val report = new Report(workload)
    report.note("session_start_s", ((System.nanoTime() - t0) / 1e9).toString)
    report.note("jvm_to_session_s", ((System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3).toString)
    report.note("spark_version", spark.version)
    report.note("spark_master", spark.sparkContext.master)
    val tracer = new Tracer(spark)
    val ctx = Ctx(spark, tracer, report, opts.getOrElse("seed", "1").toLong,
      opts.getOrElse("seconds", "10").toDouble, opts.getOrElse("trace", "0") == "1",
      opts.getOrElse("smoke", "0") == "1", sys.env.getOrElse("PERFBENCH_FAULT", ""),
      work)
    try {
      run(ctx)
      tracer.trace(false)
      if (ctx.trace) tracer.write(work.resolve("spans.jsonl"))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        report.check(ok = false, s"workload aborted: $e")
    } finally {
      Files.write(Paths.get(opts("out")), report.toJson.getBytes("UTF-8"))
      spark.stop()
    }
  }
}
