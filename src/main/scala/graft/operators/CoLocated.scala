package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Co-located (bucketed) joins — the pre-shuffle strategy for keys that
  * are joined repeatedly at scale. Writing both sides `bucketBy(n, key)
  * .sortBy(key)` pays the shuffle ONCE at write time; every subsequent
  * join on that key is exchange-free AND sort-free (SortMergeJoin reads
  * bucket files already hash-partitioned and sorted). At 100 TB this is
  * the difference between re-shuffling the fact table per query and
  * never shuffling it again — the bucket count is chosen once for the
  * cluster (e.g. 4096) and both sides must agree on it.
  */
object CoLocated {

  /** Persist `df` as a bucketed+sorted catalog table on `key`. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    key: String): Unit =
    writeBucketedKeys(df, table, buckets, Seq(key))

  /** Multi-key form of [[writeBucketed]] — the tenant-scoped layout:
    * bucketing on (tenant, entity) co-locates every tenant's history
    * with its probes, so [[asOfJoinBucketed]] with composite keys
    * stays exchange-free per tenant too. */
  def writeBucketedKeys(df: DataFrame, table: String, buckets: Int,
                        keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "at least one bucket key")
    // fresh catalog over an old warehouse dir: clear the leftover
    // managed location or this rebuild trips LOCATION_ALREADY_EXISTS
    ManagedTable.drop(df.sparkSession, table)
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Join two bucketed tables on their bucket keys. When both were
    * written with the same bucket count, the plan contains no Exchange
    * and no Sort — verify with `explain("formatted")` (BucketingSpec
    * asserts it). */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   leftKey: String, rightKey: String): DataFrame = {
    // build the condition from the SAME Dataset instances being
    // joined — fresh spark.table() calls inside the condition are
    // ambiguous for self-joins (left == right)
    val l = spark.table(left)
    val r = spark.table(right)
    l.join(r, l(leftKey) === r(rightKey))
  }

  /** R21b: co-located as-of join — [[graft.operators.AsOf.join]]
    * semantics (most recent right row with rightTs <= leftTs per key;
    * ties to largest tieCol; optional merge_asof tolerance; left-outer)
    * over tables BOTH bucketed on the key, with a plan that contains
    * NO Exchange. The union+window formulation can't exploit buckets
    * (Union discards the children's partitioning), so the co-located
    * form uses join-then-rank:
    *
    *   1. left-outer SortMergeJoin on the bucket key with the
    *      `rightTs <= leftTs` (and tolerance) bound in the join
    *      condition — exchange-free because both scans report the
    *      bucket HashPartitioning;
    *   2. keep the newest candidate per LEFT ROW with one window
    *      ranked inside (keys…, left-row-id). `HashPartitioning(keys)`
    *      already satisfies the wider `ClusteredDistribution(keys,
    *      left-row-id)` (partitioning expressions are a subset of the
    *      clustering), so the window adds a sort but NO shuffle.
    *
    * Cost model vs AsOf.join: the SMJ materializes every (left row ×
    * earlier right row) candidate within a key before the rank prunes
    * it — per-key right history must be bounded (cap it with
    * `tolerance`, which prunes INSIDE the join). In exchange, REPEATED
    * probes never re-shuffle either side: the write-once bucket layout
    * is the whole shuffle budget, which is the point at 100 TB of
    * history probed daily. BucketingSpec asserts both the zero-Exchange
    * plan and row parity with AsOf.join. */
  def asOfJoinBucketed(spark: SparkSession, leftTable: String,
                       rightTable: String, keys: Seq[String],
                       leftTs: String, rightTs: String, tieCol: String,
                       payloadCols: Seq[String], outPrefix: String = "asof_",
                       tolerance: Long = -1L): DataFrame = {
    val l = spark.table(leftTable)
      .withColumn("__lid", monotonically_increasing_id())
    // rename every right column so nothing collides with left names;
    // ProjectExec is alias-aware, so the bucket partitioning survives
    val r = spark.table(rightTable).select(
      keys.map(k => col(k).as(s"__rk_$k")) ++ Seq(
        col(rightTs).as("__rts"), col(tieCol).as("__rtie")) ++
        payloadCols.map(c => col(c).as(s"__p_$c")): _*)
    val keyEq = keys.map(k => l(k) === r(s"__rk_$k")).reduce(_ && _)
    // tolerance is in the timestamp columns' OWN numeric unit. Only
    // TimestampType sides are cast to long (epoch SECONDS) — there a
    // raw subtraction yields an interval, not a number, and comparing
    // it to a Long fails analysis. Numeric ts columns subtract
    // NATIVELY: a blanket long cast would floor fractional values and
    // widen the tolerance band (l=10.9, r=10.0, tolerance=0 must be
    // excluded, not admitted), diverging from AsOf.join's semantics.
    def tsNum(c: Column, t: org.apache.spark.sql.types.DataType): Column =
      t match {
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => c.cast("long")
        case _ => c
      }
    val bound: Column =
      if (tolerance < 0) r("__rts") <= l(leftTs)
      else r("__rts") <= l(leftTs) &&
        tsNum(l(leftTs), l.schema(leftTs).dataType) -
          tsNum(r("__rts"), r.schema("__rts").dataType) <= tolerance
    val w = Window
      .partitionBy(keys.map(l(_)) :+ col("__lid"): _*)
      .orderBy(col("__rts").desc_nulls_last, col("__rtie").desc_nulls_last)
    l.join(r, keyEq && bound, "left_outer")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(spark.table(leftTable).columns.toIndexedSeq.map(col) ++
        payloadCols.map(c => col(s"__p_$c").as(s"$outPrefix$c")): _*)
  }
}
