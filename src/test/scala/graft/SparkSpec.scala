package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, reused). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def sfDir: String = "/root/testdata/sf0.001"

  /** Testdata loader via the engine's canonical table reader, so specs
    * see the same normalized schema (ts as Long nanos) as the queries.
    */
  def table(name: String): org.apache.spark.sql.DataFrame =
    graft.queries.RelationalQueries.t(spark, sfDir, name)

  /** `body`'s result and the job and SQL-execution starts (and the
    * executions' adaptive plan updates) posted while it ran, from every thread and suite (callers filter them, e.g. by
    * job group). A marker job in its own group runs after `body`; a
    * listener receives events in post order, so the marker's arrival
    * means every earlier start has been seen. */
  def startsDuring[T](body: => T): (T, Seq[SparkListenerEvent]) = {
    val sc = spark.sparkContext
    val marker = s"marker-${java.util.UUID.randomUUID}"
    def isMarker(e: SparkListenerEvent) = e match {
      case j: SparkListenerJobStart =>
        Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == marker)
      case _ => false
    }
    val seen = new LinkedBlockingQueue[SparkListenerEvent]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.put(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => seen.put(x)
        case x: SparkListenerSQLAdaptiveExecutionUpdate => seen.put(x)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val got = Seq.newBuilder[SparkListenerEvent]
      var e = seen.poll(120, TimeUnit.SECONDS)
      while (e != null && !isMarker(e)) { got += e; e = seen.poll(120, TimeUnit.SECONDS) }
      assert(e != null, "listener bus did not deliver the marker job")
      (out, got.result())
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result, with every Spark file write into one of the
    * managed `tables` (or its `<t>_swap` sibling) failing at job commit,
    * after its tasks have written: the failure a cancelled job or a
    * lost commit leaves. Writes elsewhere commit as usual. */
  def failingCommitsTo[T](tables: String*)(body: => T): T = {
    val key = "spark.sql.sources.commitProtocolClass"
    val prev = spark.conf.getOption(key)
    FailingCommitProtocol.armed = tables.map(_.toLowerCase).toSet
    spark.conf.set(key, classOf[FailingCommitProtocol].getName)
    try body finally {
      FailingCommitProtocol.armed = Set.empty
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  /** Whether `e` or one of its causes is a [[FailingCommitProtocol]] failure. */
  def isInjectedCommitFailure(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == FailingCommitProtocol.Message)
}

/** The default SQL commit protocol, except that a job whose output
  * directory is named after an armed table (or its `_swap` sibling)
  * throws in `commitJob`; see [[SparkSpec.failingCommitsTo]]. */
class FailingCommitProtocol(jobId: String, outPath: String, dynamicPartitionOverwrite: Boolean)
    extends org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol(
      jobId, outPath, dynamicPartitionOverwrite) {
  override def commitJob(job: org.apache.hadoop.mapreduce.JobContext,
                         taskCommits: Seq[org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage]): Unit = {
    val name = new org.apache.hadoop.fs.Path(outPath).getName.toLowerCase
    if (FailingCommitProtocol.armed.exists(t => name == t || name == s"${t}_swap"))
      throw new java.io.IOException(FailingCommitProtocol.Message)
    super.commitJob(job, taskCommits)
  }
}

object FailingCommitProtocol {
  val Message = "injected job-commit failure"
  @volatile private[graft] var armed: Set[String] = Set.empty
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.local("4", "graft-test")
    // suites run concurrently in one JVM; per-test conf toggling races,
    // so the RocksDB provider (required by transformWithState, fine
    // for every other stateful op) is set once for the whole session
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }
}
