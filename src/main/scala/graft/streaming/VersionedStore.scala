package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `batch=N` layout behind every state-keeping stream in
  * [[QueueStreaming]]: a store is a directory of versions
  * `path/batch=N`, one per micro-batch id, each written whole by one
  * Spark write job. Two disciplines share it:
  *
  *  - '''snapshot chain''' ([[advance]], [[latest]]): version N is the
  *    full state after batch N. The trigger for batch N folds its delta
  *    into the newest version BELOW N and writes N, so a replay of N
  *    re-reads the same prior and rewrites its own version: the
  *    at-least-once `foreachBatch` never folds a batch twice. Retention
  *    (every `compactEvery` batches) keeps 2 versions: the one just
  *    written and the one a replay of it would read.
  *  - '''per-batch deltas''' ([[write]], [[deltas]]): version N holds
  *    only batch N's contribution and the running state is the fold of
  *    the versions up to N. A replay overwrites its own delta.
  *
  * A version counts once its write job has committed: its directory
  * holds the `_SUCCESS` marker Spark's default committer writes last
  * (Hadoop's `mapreduce.fileoutputcommitter.marksuccessfuljobs`, on by
  * default). A directory holding only `_temporary` (a write in flight
  * or one that crashed) is no version, so no read follows it. One
  * listing of the store decides which versions a read touches, and
  * every read names exact version paths: no partition discovery, no
  * `batch` column, no row filter, no Spark action to find a version.
  *
  * A committed EMPTY version is a version: it reads as an empty frame.
  * For every fold in [[QueueStreaming]] an empty snapshot implies that
  * every earlier snapshot is empty too, so a fold starting from it
  * equals a fresh start.
  */
private[graft] object VersionedStore {

  private val Version = "batch=(\\d+)".r

  private def fileSystem(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed versions in id order; None when the store is missing. */
  private def listing(spark: SparkSession, path: String): Option[Seq[(Long, Path)]] = {
    val root = new Path(path)
    val fs = fileSystem(spark, root)
    if (!fs.exists(root)) None
    else Some(fs.listStatus(root).toSeq
      .filter(_.isDirectory).map(_.getPath)
      .flatMap(p => p.getName match {
        case Version(id) if fs.exists(new Path(p, "_SUCCESS")) => Some((id.toLong, p))
        case _ => None
      })
      .sortBy(_._1))
  }

  /** Committed `(id, path)` versions of the store, oldest first; empty
    * when the store does not exist. */
  def versions(spark: SparkSession, path: String): Seq[(Long, Path)] =
    listing(spark, path).getOrElse(Nil)

  /** Version `id` of the store, read by its path. */
  def read(spark: SparkSession, path: String, id: Long): DataFrame =
    spark.read.parquet(s"$path/batch=$id")

  /** Write `df` as version `id` (overwrite: a replay rewrites it).
    * Fails when the committer left no `_SUCCESS` marker: every read
    * would skip the version, and a fold would silently start over. */
  def write(df: DataFrame, path: String, id: Long): Unit = {
    val dir = new Path(path, s"batch=$id")
    df.write.mode("overwrite").parquet(dir.toString)
    if (!fileSystem(df.sparkSession, dir).exists(new Path(dir, "_SUCCESS")))
      throw new IllegalStateException(
        s"version $dir committed without a _SUCCESS marker — versioned " +
          "stores need mapreduce.fileoutputcommitter.marksuccessfuljobs=true")
  }

  /** The retention cadence: every `compactEvery`-th batch after the
    * first; `compactEvery = 0` turns automatic retention off. */
  def compactionDue(batchId: Long, compactEvery: Int): Boolean =
    compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0

  /** One snapshot-chain step: `fold` gets the newest committed version
    * below `batchId` (None when there is none, e.g. before the store
    * exists), its result is written as version `batchId`, then the
    * retention cadence prunes to 2 versions. A listing or read failure
    * fails the trigger; it never degrades to a fresh start. */
  def advance(spark: SparkSession, path: String, batchId: Long, compactEvery: Int)
             (fold: Option[DataFrame] => DataFrame): Unit = {
    val prior = versions(spark, path).takeWhile(_._1 < batchId).lastOption
    write(fold(prior.map(v => spark.read.parquet(v._2.toString))), path, batchId)
    if (compactionDue(batchId, compactEvery)) prune(spark, path, keep = 2)
  }

  /** The newest committed version, read by its path. Throws a named
    * IllegalStateException when the store is missing or holds no
    * committed version yet. */
  def latest(spark: SparkSession, path: String): DataFrame = listing(spark, path) match {
    case None => throw new IllegalStateException(
      s"snapshot store $path does not exist yet — the stream has " +
        "not committed its first batch (or the path is wrong)")
    case Some(vs) if vs.isEmpty => throw new IllegalStateException(
      s"snapshot store $path holds no committed version yet — the " +
        "stream has not committed its first batch")
    case Some(vs) => spark.read.parquet(vs.last._2.toString)
  }

  /** The committed versions up to `upTo` (below it, or up to and
    * including it with `inclusive`) as one frame; None when there are
    * none. */
  def deltas(spark: SparkSession, path: String, upTo: Long,
             inclusive: Boolean): Option[DataFrame] = {
    val ps = versions(spark, path)
      .collect { case (id, p) if id < upTo || (inclusive && id == upTo) => p.toString }
    if (ps.isEmpty) None else Some(spark.read.parquet(ps: _*))
  }

  /** Delete all but the newest `keep` committed versions; returns how
    * many went. Spark caches per-path listings, so a delete refreshes
    * the store's path before the next read. */
  def prune(spark: SparkSession, path: String, keep: Int): Int = {
    require(keep >= 1, s"must keep at least the latest version, got $keep")
    val stale = versions(spark, path).dropRight(keep)
    if (stale.nonEmpty) {
      val fs = fileSystem(spark, new Path(path))
      stale.foreach { case (_, p) => fs.delete(p, true) }
      spark.catalog.refreshByPath(path)
    }
    stale.length
  }
}
