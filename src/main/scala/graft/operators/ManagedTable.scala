package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.col

/** How a managed catalog table holding persisted state (lexical index,
  * DSIR counts, dedup signature / pair / probe state) is dropped and
  * rewritten. A rewrite is write-then-swap: the replacement rows are
  * committed to a `<t>_swap` sibling in `<t>`'s own layout, and only
  * then is `<t>` dropped and the sibling renamed over it — the data is
  * written before the pointer to it moves, so a failed or cancelled
  * write leaves `<t>` exactly as it was. The rename is a metadata and
  * directory move, not a data rewrite. Because the rows land in a
  * different table than they are read from, a rewrite may read its own
  * target and needs no pin to survive the drop. */
private[graft] object ManagedTable {

  /** Drop a managed table AND its warehouse directory: a fresh session
    * (new in-memory catalog) over an old warehouse dir would otherwise
    * hit LOCATION_ALREADY_EXISTS on the next write of that name. */
  def drop(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val path = new Path(spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** Replace the rows of `table` with `rows`, keeping the table's
    * column order, bucketing (bucket and sort columns) and partition
    * columns as the catalog records them. `check` runs on the written
    * swap table before the swap; if the write or the check throws, the
    * swap is dropped, `table` is untouched, and the error propagates. */
  def replace(spark: SparkSession, table: String, rows: DataFrame,
              check: DataFrame => Unit = _ => ()): Unit = {
    // read first: it throws when `table` is missing, so a swap left by a
    // run that died between the drop and the rename (then the only copy)
    // is never dropped here as stale
    val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
    val swap = s"${table}_swap"
    drop(spark, swap) // stale leftover from a dead run
    try {
      val w0 = rows.select(meta.schema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*)
        .write.mode("overwrite").format("parquet")
      val w1 = meta.bucketSpec.fold(w0) { b =>
        val wb = w0.bucketBy(b.numBuckets, b.bucketColumnNames.head,
          b.bucketColumnNames.tail: _*)
        if (b.sortColumnNames.isEmpty) wb
        else wb.sortBy(b.sortColumnNames.head, b.sortColumnNames.tail: _*)
      }
      val w = if (meta.partitionColumnNames.isEmpty) w1
        else w1.partitionBy(meta.partitionColumnNames: _*)
      w.saveAsTable(swap)
      check(spark.table(swap))
    } catch {
      case e: Throwable =>
        try drop(spark, swap) catch { case d: Throwable => e.addSuppressed(d) }
        throw e
    }
    drop(spark, table)
    spark.sql(s"ALTER TABLE $swap RENAME TO $table")
  }
}
