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
