package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}

/** r16 optimization helpers: partition-shape decisions derived from
  * input size and core count, never constants (guide §2 — partitioning
  * must be scale-adaptive; a knob tuned for local[32] is a bug).
  *
  * Two distinct serialization failure modes exist for CPU-dense
  * operators at low data volume, with two different fixes:
  *
  *  1. SCAN-side: a table small enough to fit one input split (or a
  *     single parquet row group, which cannot split at all) feeds its
  *     whole row count to ONE task, so a seconds-long per-row kernel
  *     (profiling Expand, text shingling, image decode) runs serially
  *     while the rest of the machine idles. [[fan]] repartitions to
  *     the session's core parallelism, but ONLY when the optimizer's
  *     size estimate says the scan cannot reach that parallelism by
  *     itself — on a 100 TB input the estimate is far past the
  *     threshold and fan is a no-op (no shuffle added at scale).
  *
  *  2. SHUFFLE-side: AQE coalescing targets
  *     max(totalShuffleBytes/defaultParallelism, minPartitionSize)
  *     with a 1 MB floor — correct when bytes track work, but a
  *     CPU-dense verify stage whose input is a few hundred KB of
  *     candidate keys coalesces to ONE reducer and serializes seconds
  *     of merge-kernel work (q_dup_triangles: 5.6 s of task time on a
  *     single task). [[cpuDense]] scopes a lower floor to one query
  *     via an isolated-session-conf clone; every other query keeps
  *     the default (a global floor measured 1.3-8x WORSE on
  *     broadcast- and sketch-heavy paths, where per-task constant
  *     costs dominate). At production volume totalBytes/parallelism
  *     exceeds any floor, so the knob is inert there.
  */
object Scale {

  /** Repartition `df` to the session's default parallelism iff its
    * optimizer-estimated size is below `maxPartitionBytes * cores` —
    * i.e. iff the scan could not supply that many splits anyway.
    * Use immediately upstream of CPU-dense per-row kernels. The
    * round-robin exchange moves est bytes once; by assumption the
    * kernel it unblocks costs far more. */
  def fan[T](df: Dataset[T]): Dataset[T] = {
    val sess = df.sparkSession
    val cores = sess.sparkContext.defaultParallelism
    val maxPB = sess.sessionState.conf.filesMaxPartitionBytes
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est < BigInt(maxPB) * cores) df.repartition(cores) else df
  }

  /** `df` coalesced (no shuffle) to max(1, ⌈est / maxPartitionBytes⌉)
    * partitions, so a write of it produces files of about the size a
    * scan reads as one split: a small append (a streaming trigger's
    * survivors or signatures) is one file, not one per upstream task.
    * The estimate is measured for a pinned frame (see [[Lineage]]).
    * Use where the rows are already computed, e.g. on a pin: the
    * coalesced tasks also run everything upstream of it. */
  def toFileSize[T](df: Dataset[T]): Dataset[T] = {
    val maxPB = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    df.coalesce(((est + maxPB - 1) / maxPB).max(1).min(Int.MaxValue).toInt)
  }

  /** A session-conf-isolated clone of `s` whose AQE coalescing floor
    * is lowered so that low-byte/high-CPU post-shuffle stages keep the
    * cores busy (failure mode 2 above). Shares the SparkContext,
    * warehouse and cached data; affects ONLY plans built against the
    * returned session. */
  def cpuDense(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "16k")
    s2
  }
}
