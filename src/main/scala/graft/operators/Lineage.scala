package graft.operators

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.concurrent.Await
import scala.concurrent.duration.{Duration, FiniteDuration}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Attribute, GetStructField}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project, SubqueryAlias, View}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions.{aggregate, coalesce, count, greatest, lit, map_keys, map_values, octet_length, size, sum}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, StringType, StructType}

/** Lineage guard for multi-reference operators.
  *
  * [[Dedup.containmentPairs]], [[Curate.shingleNovelty]] and
  * [[Dedup.sampledDupRate]] reference their input frame several times
  * (df table, size table, rank window, verify sets): Spark re-executes
  * the input's WHOLE upstream plan per reference, so a long uncached
  * lineage (a composed pipeline) multiplies its own cost — observed
  * wedging the composed demo until the caller cut the lineage. The
  * contract used to be documentation; this makes it structural: inputs
  * whose plan is scan-shaped (projections/filters over a leaf — the
  * re-execution is just a re-read, which is exactly what those
  * operators are designed around) pass through untouched, anything
  * derived (joins, aggregates, windows, generates…) is pinned ONCE via
  * eager `localCheckpoint`.
  *
  * Cluster caveat (applies to every localCheckpoint in the engine,
  * incl. the iterative CC/LPA/k-core/SGNS/Lloyd rounds): checkpoint
  * blocks live on executors and die with them — lineage is truncated,
  * so an executor loss fails the job instead of recomputing. On a real
  * cluster prefer reliable `checkpoint()` for long-running jobs by
  * setting the session conf `graft.checkpoint.reliable=true`
  * (requires `spark.sparkContext.setCheckpointDir`). local[32] has no
  * executor loss, so the default stays local.
  *
  * Stats contract: every pin (plain, [[pinAgg]], [[pinDerived]], either
  * checkpoint path) returns a leaf carrying the EXACT row count of the
  * materialization and its MEASURED size, both counted during the pin's
  * own action: `sizeInBytes = rows × getSizePerRow(fixed-width columns)
  * + the summed bytes of every variable-width value` (string and binary
  * octets; array, map and struct contents at their element widths). So
  * Spark's own `autoBroadcastJoinThreshold` (and AQE above it) sizes
  * joins against pinned frames — a frame of long texts is as large as
  * its texts, not 20 B a string — and no operator hand-sizes a
  * broadcast.
  */
object Lineage {

  /** Round pin for the engine's iterative operators (LPA, k-core,
    * Lloyd, SGNS, PageRank, MW reweight, greedy packing…): cut
    * lineage eagerly so round t+1 never re-executes round t. One Spark
    * job; the leaf carries exact stats (see the stats contract above).
    * Honors `graft.checkpoint.reliable`: when the session conf sets it
    * true, rounds checkpoint RELIABLY to the configured checkpoint dir,
    * so on a real cluster an executor loss recomputes the round from
    * storage instead of failing the job — localCheckpoint blocks live
    * on executors and die with them. local[*] keeps the
    * localCheckpoint default (no executor loss, no distributed-FS
    * round-trip per round). */
  def pin(df: DataFrame): DataFrame = pinAgg(df)._1

  private def checkpoint(df: DataFrame): DataFrame = {
    val reliable = df.sparkSession.conf.getOption("graft.checkpoint.reliable")
      .exists(_.equalsIgnoreCase("true"))
    if (reliable) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "graft.checkpoint.reliable=true requires " +
          "sparkContext.setCheckpointDir(<reliable storage path>)")
      // Retention: superseded round checkpoints are reclaimed by the
      // ContextCleaner once the round's RDD is unreachable — but ONLY
      // under spark.cleaner.referenceTracking.cleanCheckpoints=true
      // (GraftSession sets it; it must be set before the context
      // starts). Warn loudly when a foreign session forgot it, since
      // a long iterative job then accumulates one checkpoint dir per
      // round forever (r14 ADVICE).
      if (!df.sparkSession.sparkContext.getConf.getBoolean(
          "spark.cleaner.referenceTracking.cleanCheckpoints", false))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "reliable round pins without spark.cleaner.referenceTracking." +
            "cleanCheckpoints=true: superseded round checkpoints are " +
            "never deleted — set it before the SparkContext starts")
      df.checkpoint(eager = true)
    } else df.localCheckpoint(eager = true)
  }

  /** r17: pin + read GLOBAL aggregates of the SAME materialization.
    * The engine's iterative loops all follow "pin the round, then run
    * one scalar action over the pinned blocks" (convergence count,
    * renormalizer total, setup cardinality); that trailing action is
    * a whole extra job of pure scheduler latency per round (~0.2-0.35
    * s measured locally). `Dataset.observe` computes the aggregates
    * DURING the pin's own action, so the scalar is free. Aggregates
    * must be aliased, global and distinct-free (the observe
    * contract). The pin's row count rides the same observation.
    * Metric delivery rides an async listener (verified on
    * localCheckpoint and reliable checkpoint paths for this Spark);
    * if it has not arrived within [[observeWait]] the values come
    * from an explicit aggregate over the pinned frame instead — always
    * correct, one job dearer — and [[pinAggFallbacks]] counts it. */
  def pinAgg(df: DataFrame,
             aggs: (String, org.apache.spark.sql.Column)*): (DataFrame, Map[String, Any]) =
    pinAggWithin(observeWait, df, aggs: _*)

  /** Longest wait for a pin's observed aggregates before [[pinAgg]]
    * falls back: bounds the stall per call (a loop round or a
    * streaming trigger) if observe delivery ever fails. */
  val observeWait: FiniteDuration = FiniteDuration(10, "s")

  private val fallbacks = new AtomicLong(0L)
  private val fallbackLogged = new AtomicBoolean(false)

  /** Number of [[pinAgg]] calls (process-wide) whose observed metrics
    * missed [[observeWait]] and were recomputed over the pinned frame. */
  def pinAggFallbacks: Long = fallbacks.get()

  private val Rows = "__pin_rows"
  private val Bytes = "__pin_bytes"

  private def fixedWidth(dt: DataType): Boolean = dt match {
    case _: StringType | BinaryType | _: ArrayType | _: MapType => false
    case StructType(fs) => fs.forall(f => fixedWidth(f.dataType))
    case _ => true
  }

  /** Data bytes of one value of `dt` (a null counts 0). */
  private def bytesOf(c: Column, dt: DataType): Column = dt match {
    case _: StringType | BinaryType => coalesce(octet_length(c).cast("long"), lit(0L))
    case ArrayType(et, _) if fixedWidth(et) =>
      greatest(size(c), lit(0)).cast("long") * et.defaultSize
    case ArrayType(et, _) =>
      coalesce(aggregate(c, lit(0L), (acc, x) => acc + bytesOf(x, et)), lit(0L))
    case MapType(kt, vt, _) =>
      bytesOf(map_keys(c), ArrayType(kt)) + bytesOf(map_values(c), ArrayType(vt))
    case StructType(fs) => fs.indices
      .map(i => bytesOf(Bridge.column(GetStructField(Bridge.expression(c), i)), fs(i).dataType))
      .reduceOption(_ + _).getOrElse(lit(0L))
    case other => lit(other.defaultSize.toLong)
  }

  /** Summed bytes of the variable-width columns of `out`, if any. */
  private def variableBytes(out: Seq[Attribute]): Option[Column] =
    out.filterNot(a => fixedWidth(a.dataType))
      .map(a => bytesOf(Bridge.column(a), a.dataType))
      .reduceOption(_ + _).map(sum)

  /** [[pinAgg]] with the delivery wait as a parameter. A zero wait
    * never looks at the observation and always takes the fallback. */
  private[graft] def pinAggWithin(wait: FiniteDuration, df: DataFrame,
      aggs: (String, org.apache.spark.sql.Column)*): (DataFrame, Map[String, Any]) = {
    val out = df.queryExecution.analyzed.output
    // the size aggregate references the plan's attributes; the fallback
    // rebuilds it over the pinned leaf's
    def all(plan: Seq[Attribute]) =
      aggs ++ Seq(Rows -> count(lit(1))) ++ variableBytes(plan).map(Bytes -> _)
    val names = all(out).map(_._1)
    val aliased = all(out).map { case (n, c) => c.as(n) }
    val obs = org.apache.spark.sql.Observation()
    val pinned = checkpoint(df.observe(obs, aliased.head, aliased.tail: _*))
    val delivered = wait > Duration.Zero &&
      (try { Await.ready(obs.future, wait); true }
       catch { case _: TimeoutException => false })
    val vals: Map[String, Any] =
      if (delivered) names.map(n => (n, obs.get(n))).toMap
      else {
        fallbacks.incrementAndGet()
        if (fallbackLogged.compareAndSet(false, true))
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"pinAgg: observed metrics not delivered within $wait; " +
              "aggregating the pinned frame instead (logged once, " +
              "counted in Lineage.pinAggFallbacks)")
        val again = all(pinned.queryExecution.analyzed.output)
          .map { case (n, c) => c.as(n) }
        val r = pinned.agg(again.head, again.tail: _*).head()
        names.zipWithIndex.map { case (n, i) => (n, r.get(i)) }.toMap
      }
    val rows = vals(Rows).asInstanceOf[Long]
    val bytes = EstimationUtils.getSizePerRow(out.filter(a => fixedWidth(a.dataType))) * rows +
      Option(vals.getOrElse(Bytes, null)).fold(BigInt(0))(v => BigInt(v.asInstanceOf[Long]))
    (Bridge.withStats(pinned, rows, bytes), vals - Rows - Bytes)
  }

  private def scanShaped(p: LogicalPlan): Boolean = p match {
    case _: LeafNode => true
    case Project(_, c)        => scanShaped(c)
    case Filter(_, c)         => scanShaped(c)
    case SubqueryAlias(_, c)  => scanShaped(c)
    case v: View              => scanShaped(v.child)
    case _                    => false
  }

  /** The input frame, pinned iff its plan is more than a (possibly
    * filtered/projected) scan. Idempotent on already-pinned frames
    * (a checkpointed frame is a leaf). */
  def pinDerived(df: DataFrame): DataFrame =
    if (scanShaped(df.queryExecution.analyzed)) df
    else pin(df)
}
