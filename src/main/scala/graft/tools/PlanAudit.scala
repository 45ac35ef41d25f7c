package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}

/** Print the formatted physical plan for one or more queries — the
  * audit loop for shuffle/pushdown/broadcast review — then run each
  * query into a noop sink and print, for every SQL execution it ran
  * (pins and loop rounds included), the broadcast-hash joins, sort-
  * merge joins and shuffles of its final (adaptive) plan, and a total
  * line with the query's Spark jobs.
  * `sbt "runMain graft.tools.PlanAudit q_dedup_jaccard [sfDir]"`
  */
object PlanAudit extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args(0).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.local("4", "plan-audit")
    val jobs = new AtomicInteger(0)
    val execs = new ConcurrentLinkedQueue[(String, Int, Int, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        def count(pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Unit]) =
          collectWithSubqueries(qe.executedPlan)(pf).size
        execs.add((f, count { case _: BroadcastHashJoinExec => },
          count { case _: SortMergeJoinExec => },
          count { case _: ShuffleExchangeLike => }))
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    names.foreach { n =>
      println(s"\n========== $n ==========")
      jobs.set(0)
      execs.clear()
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      df.write.format("noop").mode("overwrite").save()
      // the listener buses are asynchronous: deliver every posted event
      org.apache.spark.sql.graft.Bridge.drainListeners(spark)
      val ex = execs.asScala.toSeq
      ex.foreach { case (f, b, m, x) => println(s"exec $f: bhj=$b smj=$m shuffles=$x") }
      println(s"audit: jobs=${jobs.get} executions=${ex.size} " +
        s"bhj=${ex.map(_._2).sum} smj=${ex.map(_._3).sum}")
    }
    spark.stop()
  }
}
