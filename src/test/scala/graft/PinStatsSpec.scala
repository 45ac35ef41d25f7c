package graft

import scala.concurrent.duration.Duration

import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.operators.Lineage

/** Pinned frames carry exact statistics, so Spark's own broadcast rule
  * sizes joins against them. */
class PinStatsSpec extends SparkSpec {

  // 50k rows whose optimizer estimate (a join product, then an
  // explode) is orders of magnitude above the broadcast threshold
  private def joinExplode(s: SparkSession): DataFrame = {
    val a = s.range(0, 25000, 1, 4).select(col("id").as("k"), (col("id") % 97).as("g"))
    val b = s.range(0, 25000, 1, 4).select(col("id").as("k"), (col("id") * 3).as("v"))
    a.join(b, "k")
      .select(col("k"), col("g"), explode(array(col("v"), col("v") + 1)).as("v"))
  }

  private def assertExact(p: DataFrame, rows: Long): Unit = {
    val stats = p.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(rows)), s"rowCount ${stats.rowCount}")
    val width = EstimationUtils.getSizePerRow(p.queryExecution.analyzed.output)
    assert(stats.sizeInBytes == width * rows, s"sizeInBytes ${stats.sizeInBytes}")
  }

  test("a pin carries its exact row count and row-width size") {
    val raw = joinExplode(spark)
    assert(raw.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold))
    val p = Lineage.pin(raw)
    assertExact(p, 50000L)
    assert(p.count() == 50000L)
    // a pinned frame is a leaf: pinDerived passes it through
    assert(Lineage.pinDerived(p) eq p)
  }

  test("the fallback aggregate also yields the pin's row count") {
    val (p, vals) = Lineage.pinAggWithin(Duration.Zero, joinExplode(spark),
      "s" -> sum(col("v")))
    assertExact(p, 50000L)
    assert(vals.keySet == Set("s"))
  }

  test("reliable checkpoint pins carry exact stats too") {
    val s2 = spark.newSession()
    s2.conf.set("graft.checkpoint.reliable", "true")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-stats")
    s2.sparkContext.setCheckpointDir(dir.toString)
    val (p, vals) = Lineage.pinAgg(joinExplode(s2), "n" -> count(lit(1)))
    assert(vals("n") == 50000L)
    assertExact(p, 50000L)
    // observed delivery on this path too: no fallback job
    assert(jobsOf(Lineage.pin(joinExplode(s2))) ==
      jobsOf(joinExplode(s2).checkpoint(eager = true)))
    p.queryExecution.logical match {
      case l: LogicalRDD =>
        assert(l.rdd.getCheckpointFile.isDefined, "not a reliable checkpoint")
      case other => fail(s"pinned plan is not a LogicalRDD leaf: $other")
    }
  }

  test("a join against a pinned frame plans a broadcast hash join") {
    val p = Lineage.pin(joinExplode(spark))
    // 2M rows: estimated above the threshold, so only the pin can build
    val big = spark.range(0, 2000000, 1, 4).select(col("id").as("k"))
    val plan = big.join(p, "k").queryExecution.sparkPlan
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.size == 1, plan)
    assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty, plan)
  }

  // 20k rows of 1000-char texts (~20 MB, twice the broadcast
  // threshold; the default 20 B string width would call it ~1 MB) with
  // one value of every variable-width shape beside them
  private def longTexts: DataFrame =
    spark.range(0, 20000, 1, 4).select(col("id").as("k"),
      repeat(lit("x"), 1000).as("text"),
      array(col("id"), col("id") + 1).as("fps"),
      array(lit("ab"), lit("cde")).as("toks"),
      struct(lit("abcd").as("s"), col("id").as("i")).as("st"),
      map(lit("k"), lit("vv")).as("m"))

  // per row: 8 row overhead + 8 for k, then the measured values:
  // text 1000, fps 2×8, toks 2+3, st 4+8, m 1+2
  private val longTextBytes = BigInt(20000) * (16 + 1000 + 16 + 5 + 12 + 3)

  test("a pin's size is its measured bytes, on the fallback path too") {
    val p = Lineage.pin(longTexts)
    assert(p.queryExecution.optimizedPlan.stats.sizeInBytes == longTextBytes)
    val (q, _) = Lineage.pinAggWithin(Duration.Zero, longTexts)
    assert(q.queryExecution.optimizedPlan.stats.sizeInBytes == longTextBytes)
    assert(q.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(20000)))
  }

  test("a pinned frame of long texts above the threshold is not broadcast") {
    val p = Lineage.pin(longTexts)
    val big = spark.range(0, 2000000, 1, 4).select(col("id").as("k"))
    val plan = big.join(p, "k").queryExecution.sparkPlan
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.isEmpty, plan)
  }

  // Spark jobs `body` starts on this thread. A pin whose observed
  // metrics missed delivery would add its fallback aggregate job here.
  private def jobsOf(body: => DataFrame): Int = {
    val g = s"pin-jobs-${java.util.UUID.randomUUID}"
    val (_, ev) = startsDuring {
      spark.sparkContext.setJobGroup(g, "pin")
      try body finally spark.sparkContext.clearJobGroup()
    }
    ev.count {
      case j: SparkListenerJobStart =>
        Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == g)
      case _ => false
    }
  }

  test("a pin fires one Spark job, as many as a bare checkpoint") {
    val narrow = spark.range(0, 50000, 1, 4)
      .select(explode(array(col("id"), col("id") + 1)).as("v"))
    assert(jobsOf(Lineage.pin(narrow)) == 1)
    val bare = jobsOf(joinExplode(spark).localCheckpoint(eager = true))
    assert(jobsOf(Lineage.pin(joinExplode(spark))) == bare)
  }
}
