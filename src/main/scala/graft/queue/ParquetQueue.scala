package graft.queue

import java.nio.channels.{FileChannel, FileLock, OverlappingFileLockException}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.schema.GraftSchema

/** Durable FIFO queue on parquet segments — the Spark-native
  * re-expression of the reference's double-stack journaling queue
  * (reference: Queue.scala, JournaledFile.scala).
  *
  * Mapping of semantics (see SURVEY.md §2 C4-C12):
  *  - journal append      → append-only parquet segment dirs
  *                          `data/batch=<firstSeq>/`, rows carry a
  *                          totally-ordered `seq`, `enq_ts`,
  *                          `lifetime_ms` envelope + payload columns.
  *  - double-stack + migration → unnecessary: `seq` gives a total FIFO
  *                          order directly; "migration" is free.
  *  - pop                 → offset checkpoint per consumer (Kafka-style);
  *                          segments are pruned by the `batch` partition
  *                          column, so a pop never scans consumed data.
  *  - latest (survives empty queue) → segments are retained after
  *                          consumption (offsets move, data stays),
  *                          `latest` = row at highwater-1.
  *  - lifetime/TTL        → read-side filter `enq_ts + lifetime > now`.
  *  - capacity + tryPush  → highwater - offset bound before append.
  *  - crash recovery      → two-phase segment visibility: data is
  *                          written under `_staging`, the atomic
  *                          highwater rename is the commit point, and
  *                          an atomic dir rename into `data/` publishes
  *                          the files (so even the streaming file
  *                          source never sees uncommitted rows). A
  *                          crash before commit leaves a staging orphan
  *                          the next push overwrites; a crash after
  *                          commit is finished by completeStaged() at
  *                          reopen/next use (the analog of the
  *                          reference's magic-number skip,
  *                          JournaledFile.scala:562).
  *  - 1:1 locking         → single-writer protocol; readers are
  *                          lock-free snapshot scans.
  *
  * At 100 TB scale: segments land on an object store; batch-partition
  * pruning bounds every pop/size scan to the unconsumed tail; the
  * streaming subscriber is an ordinary Structured Streaming file
  * source over the same layout.
  */
class ParquetQueue(
    val spark: SparkSession,
    val root: String,
    val schema: GraftSchema,
    val capacity: Long = Long.MaxValue,
    val codec: String = "snappy",
    exclusiveWriter: Boolean = false) {

  private val dataDir = s"$root/data"
  private val metaDir = Paths.get(root, "_meta")
  private val stagingDir = Paths.get(root, "_staging")
  private val highwaterFile = metaDir.resolve("highwater")
  Files.createDirectories(metaDir)
  Files.createDirectories(Paths.get(dataDir))
  Files.createDirectories(stagingDir)

  // The envelope and the partition column are reserved: a payload
  // field with one of these names would collide on read (duplicate
  // column or shadowed partition value) AFTER the push durably
  // accepted it — refuse at open instead.
  locally {
    val reserved = Set("seq", "enq_ts", "lifetime_ms", "batch")
    val bad = schema.fields.map(_._1).filter(reserved)
    if (bad.nonEmpty) throw new graft.schema.IncompatibleSchemaException(
      s"payload field names ${bad.mkString(", ")} collide with the queue " +
        s"envelope/partition columns (${reserved.mkString(", ")})")
  }

  /** 1:1 writer lock (reference holds `FileLock`s on the journal,
    * JournaledFile.scala): an OS-level lock on `_meta/writer.lock`,
    * auto-released on process death, so a crashed writer never wedges
    * the queue. Readers stay lock-free (snapshot scans of committed
    * batches). Opt-in via `exclusiveWriter=true`; acquisition failure
    * throws immediately rather than silently sharing the seq space. */
  private val writerLock: Option[(FileChannel, FileLock)] =
    if (!exclusiveWriter) None
    else {
      val ch = FileChannel.open(metaDir.resolve("writer.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      val lock =
        try ch.tryLock()
        catch { case _: OverlappingFileLockException => null }
      if (lock == null) {
        ch.close()
        throw new IllegalStateException(
          s"queue $root already has an exclusive writer")
      }
      Some((ch, lock))
    }

  /** Intra-process mutation lock (the reference synchronizes every
    * journal/queue operation, Queue.scala:80-100): pushes serialize so
    * seq assignment is atomic, pops/consumes serialize so one entry is
    * delivered to exactly one caller per consumer. Cross-process
    * exclusion is the `exclusiveWriter` file lock; readers of
    * committed history stay lock-free. */
  private val mutex = new Object

  /** Closed flag (reference Queue.scala:139-146): close() is
    * idempotent; data operations on a closed queue throw. Data is left
    * durable on disk — reopen by constructing a new ParquetQueue. */
  @volatile private var closed = false

  private def ensureOpen(): Unit =
    if (closed) throw new IllegalStateException(s"queue $root is closed")

  def isClosed: Boolean = closed

  def close(): Unit = synchronized {
    // release the lock only on the first close — a second close (or a
    // dispose after close) would hit ClosedChannelException on the
    // already-closed channel, breaking the documented idempotency
    if (!closed) {
      closed = true
      writerLock.foreach { case (ch, lock) => lock.release(); ch.close() }
    }
  }

  // Persisted schema contract (reference Schema.toByteArray header in
  // every journal file): the first handle writes the schema descriptor;
  // any later handle with a different schema is refused up front, the
  // analog of the reference's IncompatibleSchemaException at read time.
  locally {
    val schemaFile = metaDir.resolve("schema")
    val desc = schema.toString
    if (Files.exists(schemaFile)) {
      val stored = new String(Files.readAllBytes(schemaFile), StandardCharsets.UTF_8)
      if (stored != desc)
        throw new graft.schema.IncompatibleSchemaException(
          s"queue $root was created with schema $stored, not $desc")
    } else {
      val tmp = metaDir.resolve("schema.tmp")
      Files.write(tmp, desc.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, schemaFile, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  // Reopen recovery: finish any predecessor's commit→move window so a
  // committed-but-unmoved segment becomes visible before first use.
  completeStaged()

  private val envelope: StructType = StructType(
    StructField("seq", LongType, nullable = false) ::
    StructField("enq_ts", LongType, nullable = false) ::
    StructField("lifetime_ms", LongType, nullable = false) ::
    schema.sparkSchema.fields.toList)

  /** Envelope + the `batch` (segment first-seq) partition column: the
    * schema every read of `data/` returns. */
  private val partitioned: StructType = envelope.add(StructField("batch", LongType))

  /** A metadata counter file's value, 0 when it does not exist yet. */
  private def readLong(f: Path): Long =
    if (Files.exists(f))
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8).trim.toLong
    else 0L

  /** Commit a metadata counter: write a sibling `.tmp`, then an atomic
    * rename over the file, so a reader never sees a torn value. */
  private def writeLong(f: Path, v: Long): Unit = {
    val tmp = f.resolveSibling(s"${f.getFileName}.tmp")
    Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Next sequence number to be assigned (== total rows ever pushed). */
  def highwater: Long = readLong(highwaterFile)

  /** Append a batch (the journal-append primitive, unbounded like the
    * reference's `JournaledFile.push`; the capacity-honoring publisher
    * API is [[tryPush]]/[[pushWait]]). Two Spark jobs, no global
    * shuffle, any batch size: the validated payload is persisted and
    * one job collects its per-partition row counts, which give both
    * the number pushed and each partition's first seq; the write then
    * numbers each partition's rows from its offset over the same
    * cached rows (zipWithIndex's algorithm with its count reused).
    * The source is computed exactly once, so a non-deterministic
    * source can't disagree between the count and the written rows.
    * A payload no larger than `spark.sql.files.maxPartitionBytes`
    * (the size a scan reads as one split) is written as one file.
    * Returns the number pushed.
    */
  def push(df: DataFrame, lifetimeMs: Long = -1L,
           nowMs: Long = System.currentTimeMillis()): Long = mutex.synchronized {
    ensureOpen()
    completeStaged()
    val payload = schema.validate(df).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val first = highwater
      val rows = payload.rdd
      // materializes the cache; one source pass
      val counts = rows.mapPartitions(it => Iterator.single(it.foldLeft(0L)((c, _) => c + 1)))
        .collect()
      val n = counts.sum
      if (n > 0) {
        val starts = counts.scanLeft(first)(_ + _)
        val numbered = rows.mapPartitionsWithIndex { (p, it) =>
          it.zip(Iterator.iterate(starts(p))(_ + 1)).map { case (row, seq) =>
            Row.fromSeq(seq +: nowMs +: lifetimeMs +: row.toSeq)
          }
        }
        // one file up to one read split: `select` plans a fresh read
        // of the cache, whose size is measured now it is materialized
        val rdd =
          if (payload.select("*").queryExecution.optimizedPlan.stats.sizeInBytes <=
              spark.sessionState.conf.filesMaxPartitionBytes) numbered.coalesce(1)
          else numbered
        // Two-phase visibility: the segment is written under _staging
        // (overwrite clears any orphan of a crashed predecessor at the
        // same seq — it is uncommitted by definition), the highwater
        // commit is the transaction point, and only THEN does the
        // atomic rename make the files visible under data/. Readers —
        // including the Structured Streaming file source, which tracks
        // files by path and cannot re-read a path it has already seen —
        // can therefore never observe uncommitted rows.
        // per-segment codec = the reference's per-entry Codec (PLAIN/GZIP)
        // generalized: parquet page compression (snappy/gzip/zstd/none)
        val staged = stagingDir.resolve(s"batch=$first")
        spark.createDataFrame(rdd, envelope)
          .write.mode("overwrite").option("compression", codec)
          .parquet(staged.toString)
        writeLong(highwaterFile, first + n)
        val target = Paths.get(dataDir, s"batch=$first")
        // a directory already at the target is a pre-staging-era torn
        // write (its seqs start at the OLD highwater, so it was never
        // committed) — clear it rather than failing the move
        if (Files.exists(target)) deleteRecursively(target)
        Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
      }
      n
    } finally payload.unpersist()
  }

  /** Crash recovery for the commit→move window: a staged segment whose
    * first seq is below the highwater was committed but never made
    * visible — finish its move. Uncommitted staged orphans (first >=
    * highwater) are left for the next push at that seq to overwrite.
    * Runs at open and before each push; safe under races (a lost
    * atomic move means someone else completed it). */
  private def completeStaged(): Unit =
    if (Files.exists(stagingDir)) {
      listDir(stagingDir)
        .filter(_.getFileName.toString.startsWith("batch="))
        .foreach { d =>
          val first = d.getFileName.toString.stripPrefix("batch=").toLong
          if (first < highwater) {
            val target = Paths.get(dataDir, s"batch=$first")
            try {
              if (Files.exists(target)) deleteRecursively(d)
              else Files.move(d, target, StandardCopyOption.ATOMIC_MOVE)
            } catch { case _: java.io.IOException => () }
          }
        }
    }

  private def deleteRecursively(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** tryPush semantics (reference Queue.scala:152): refuse when the
    * unconsumed backlog for `consumer` has reached capacity. The
    * payload is persisted across the count AND the push, so the
    * admission decision and the written rows come from one evaluation
    * of the source (a non-deterministic source can't sneak past
    * capacity between the two). */
  def tryPush(df: DataFrame, consumer: String = "default",
              lifetimeMs: Long = -1L): Boolean = {
    ensureOpen()
    val payload = df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = payload.count() // Spark job outside the monitor
      mutex.synchronized {
        if (highwater - offsetOf(consumer) + n > capacity) false
        else { push(payload, lifetimeMs); true } // reentrant
      }
    } finally payload.unpersist()
  }

  /** Blocking publisher push (reference Queue.scala:186-206): when the
    * unconsumed backlog is at capacity, poll until room frees up (the
    * capacity check is a metadata read — no Spark job per poll) or
    * `timeoutMs` elapses. Negative timeout waits forever. Returns
    * whether the batch was accepted. */
  def pushWait(df: DataFrame, timeoutMs: Long = -1L,
               consumer: String = "default", lifetimeMs: Long = -1L,
               pollMs: Long = 200L): Boolean = {
    val t0 = System.nanoTime()
    val payload = df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = payload.count()
      while (true) {
        ensureOpen()
        // capacity check + push atomic; the wait happens lock-free
        val accepted = mutex.synchronized {
          if (highwater - offsetOf(consumer) + n <= capacity) {
            push(payload, lifetimeMs); true
          } else false
        }
        if (accepted) return true
        if (timeoutMs >= 0 && (System.nanoTime() - t0) / 1000000L >= timeoutMs)
          return false
        Thread.sleep(pollMs)
      }
      false
    } finally payload.unpersist()
  }

  /** pushAll semantics (reference Queue.scala:216): accept as many
    * entries as capacity permits, in `orderCols` order, and report how
    * many were accepted — the caller retries the remainder. */
  def pushAll(df: DataFrame, orderCols: Seq[String],
              consumer: String = "default", lifetimeMs: Long = -1L): Long = mutex.synchronized {
    ensureOpen()
    val room = capacity - (highwater - offsetOf(consumer))
    if (room <= 0) 0L
    else {
      val permitted =
        if (room >= df.count()) df
        else df.orderBy(orderCols.map(col): _*).limit(room.toInt)
      push(permitted, lifetimeMs)
    }
  }

  private def offsetFile(consumer: String): Path = metaDir.resolve(s"offset-$consumer")
  private val floorFile = metaDir.resolve("floor")

  /** Compaction floor: seqs below it have been physically reclaimed;
    * new consumers start here instead of 0. */
  def floor: Long = readLong(floorFile)

  def offsetOf(consumer: String): Long =
    math.max(readLong(offsetFile(consumer)), floor)

  private def commitOffset(consumer: String, v: Long): Unit =
    writeLong(offsetFile(consumer), v)

  private def hasData: Boolean = highwater > 0

  /** All live (uncommitted-batches excluded) rows with envelope. */
  def journal: DataFrame =
    if (!hasData) spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      partitioned)
    else spark.read.option("basePath", dataDir).parquet(dataDir)
      .filter(col("seq") < highwater) // ignore torn/uncommitted appends

  /** Largest committed segment first-seq <= `seq` (metadata listing):
    * the `batch >= coveringBatch` partition filter that makes seq-range
    * reads actually prune — `seq >= off` alone cannot derive a
    * partition predicate, so without this every pop would list and
    * read footers of ALL historical segments. */
  private def coveringBatch(seq: Long): Long = {
    val firsts = listDir(Paths.get(dataDir))
      .map(_.getFileName.toString)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)
      .filter(_ <= seq)
    if (firsts.isEmpty) 0L else firsts.max
  }

  /** Committed rows from seq `off` on, pruned to the segments that
    * can hold them. */
  private def unconsumed(off: Long): DataFrame =
    journal.filter(col("batch") >= coveringBatch(off) && col("seq") >= off)

  private def notExpired(nowMs: Long) =
    col("lifetime_ms") < 0 || (col("enq_ts") + col("lifetime_ms")) > nowMs

  /** Row-level twin of [[notExpired]] for collected journal rows. */
  private def live(r: Row, nowMs: Long): Boolean = {
    val lt = r.getAs[Long]("lifetime_ms")
    lt < 0 || r.getAs[Long]("enq_ts") + lt > nowMs
  }

  /** The payload of a collected journal row: the envelope's three
    * leading columns and the trailing `batch` stripped. */
  private def payloadOf(r: Row): Row = Row.fromSeq(r.toSeq.drop(3).dropRight(1))

  /** Unconsumed, unexpired view for a consumer; batch-partition pruned. */
  def pending(consumer: String = "default",
              nowMs: Long = System.currentTimeMillis()): DataFrame =
    unconsumed(offsetOf(consumer)).filter(notExpired(nowMs))

  /** Number of unconsumed entries (expired included, as the reference's
    * `size` counts journal+queue bytes-resident items). O(metadata). */
  def size(consumer: String = "default"): Long = highwater - offsetOf(consumer)

  def isEmpty(consumer: String = "default"): Boolean = size(consumer) == 0

  /** Monitoring view: every consumer that ever committed an offset,
    * with its committed position and lag behind the highwater — the
    * ops surface a shared queue needs (who is falling behind; what the
    * compaction floor is waiting on). Metadata-only, no Spark job. */
  def consumerLags(): Seq[(String, Long, Long)] = {
    val hw = highwater
    listDir(metaDir)
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("offset-") && !n.endsWith(".tmp"))
      .map(_.stripPrefix("offset-")).sorted.toSeq
      // hw is snapshotted once; a consumer committing past it between
      // the two reads (racing a concurrent push) would otherwise show
      // a negative lag — clamp to 0 (the consumer is caught up).
      .map { c => val off = offsetOf(c); (c, off, math.max(0L, hw - off)) }
  }

  /** Directory listing that closes the underlying stream (Files.list
    * leaks a directory fd per call otherwise). */
  private def listDir(dir: Path): Array[Path] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path])
    finally s.close()
  }

  /** Bytes on disk across segment + meta files (reference diskSpace). */
  def diskSpace: Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
  }

  /** FIFO pop of up to `n` entries: reads only batches past the offset,
    * advances the checkpoint past everything seen (consumed or
    * expired), returns payload rows in seq order.
    *
    * ==Shared-consumer-name contract==
    * The reference's 1:1 FileLock made "two subscribers, one name"
    * impossible; the Spark analog allows it and states the semantics
    * explicitly:
    *  - WITHIN one ParquetQueue instance, callers sharing a consumer
    *    name are competing consumers: the instance mutex makes
    *    read-offset → pop → commit one atomic step, so every entry is
    *    delivered to exactly ONE of them (spec: "multi-threaded
    *    pushers and poppers").
    *  - ACROSS instances/processes sharing a name, the offset file is
    *    the only coordination: commits are atomic (tmp + ATOMIC_MOVE,
    *    never torn) and progress is shared, but the read→commit window
    *    is NOT cross-process atomic — two concurrent pops may both
    *    read offset k and deliver overlapping entries. Delivery
    *    degrades to AT-LEAST-ONCE (each committed offset is 1 + the
    *    last seq its committer actually delivered, so entries are
    *    re-delivered, never skipped). Callers needing cross-process
    *    exactly-once should either give each process its own consumer
    *    name and partition upstream, or guard pops with an external
    *    lock the way `exclusiveWriter` guards pushes.
    *  - DISTINCT consumer names are fully independent cursors
    *    (fan-out), as in the reference and Kafka groups. */
  def pop(n: Int, consumer: String = "default",
          nowMs: Long = System.currentTimeMillis()): Seq[Row] = mutex.synchronized {
    ensureOpen()
    completeStaged() // finish a crashed writer's commit→move window
    val off = offsetOf(consumer)
    if (off >= highwater) return Seq.empty
    val taken = unconsumed(off)
      .orderBy("seq")
      .limit(n + 1) // +1 to learn whether more remain without a count
      .collect()
      .toSeq
    val popped = taken.take(n)
    if (popped.nonEmpty) commitOffset(consumer, popped.last.getAs[Long]("seq") + 1)
    popped.filter(live(_, nowMs)).map(payloadOf)
  }

  /** Non-blocking single-entry pop (reference Subscriber.tryPop,
    * Queue.scala:252-264): `Some(payload)` or `None` immediately. */
  def tryPop(consumer: String = "default"): Option[Row] =
    pop(1, consumer).headOption

  /** Blocking subscriber pop (reference Queue.scala:266-293): when the
    * queue is empty, poll the highwater metadata (cheap file read — no
    * Spark job fires until data actually arrives) until entries show up
    * or `timeoutMs` elapses. Negative timeout waits forever; timeout
    * yields an empty batch (the reference's `None`). */
  def popWait(n: Int, timeoutMs: Long = -1L, consumer: String = "default",
              pollMs: Long = 200L): Seq[Row] = {
    // a zero-row request can never produce a non-empty pop — without
    // this guard the wait loop below would poll forever
    if (n <= 0) return Seq.empty
    val t0 = System.nanoTime()
    while (true) {
      ensureOpen()
      if (size(consumer) > 0) {
        // the size check and the pop are not one atomic step: a
        // concurrent consumer may drain the queue in between, so an
        // empty pop means "keep waiting", not "return early"
        val got = pop(n, consumer)
        if (got.nonEmpty) return got
      }
      if (timeoutMs >= 0 && (System.nanoTime() - t0) / 1000000L >= timeoutMs)
        return Seq.empty
      Thread.sleep(pollMs)
    }
    Seq.empty
  }

  /** Consume-with-error-permits (reference JournaledFile.scala:182-229,
    * `pop(errorPermitCount)`): feed up to `n` pending entries one at a
    * time through `f` in seq order, committing the offset after each, so
    * a crash re-delivers only the in-flight entry (at-least-once). An
    * entry that still throws after `errorPermit` attempts is quarantined
    * — its seq is appended to `_meta/quarantine-<consumer>` for audit —
    * and the queue advances past it instead of wedging. Expired entries
    * are skipped. Returns the results of the successful applications. */
  def consume[T](n: Int, consumer: String = "default", errorPermit: Int = 3,
                 nowMs: Long = System.currentTimeMillis())(f: Row => T): Seq[T] = mutex.synchronized {
    ensureOpen()
    completeStaged()
    val off = offsetOf(consumer)
    if (off >= highwater) return Seq.empty
    val taken = unconsumed(off)
      .orderBy("seq")
      .limit(n)
      .collect()
      .toSeq
    val out = Seq.newBuilder[T]
    taken.foreach { r =>
      val seq = r.getAs[Long]("seq")
      if (live(r, nowMs)) {
        val payload = payloadOf(r)
        var attempts = 0
        var done = false
        var lastErr: Throwable = null
        while (!done && attempts < math.max(1, errorPermit)) {
          try { out += f(payload); done = true }
          catch { case e: Exception => lastErr = e; attempts += 1 }
        }
        if (!done) quarantine(consumer, seq, lastErr)
      }
      commitOffset(consumer, seq + 1)
    }
    out.result()
  }

  private def quarantine(consumer: String, seq: Long, err: Throwable): Unit = {
    // the audit file is line/tab framed — a multi-line exception
    // message (AnalysisException is routinely multi-line) would
    // corrupt it and break quarantined()'s parse
    val msg = Option(err).map(_.toString).getOrElse("")
      .replaceAll("[\\n\\r\\t]", " ")
    val line = s"$seq\t$msg\n"
    Files.write(metaDir.resolve(s"quarantine-$consumer"),
      line.getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  /** Seqs quarantined for `consumer` by [[consume]]. */
  def quarantined(consumer: String = "default"): Seq[Long] = {
    val f = metaDir.resolve(s"quarantine-$consumer")
    if (!Files.exists(f)) Seq.empty
    else new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).map(_.split("\t")(0).toLong).toSeq
  }

  /** Reclaim segments every registered consumer has moved past (the
    * reference reclaims space implicitly at journal→queue migration;
    * here retention is explicit because retained segments are what
    * make `latest`, replay, and late consumers work). A batch is
    * deleted only when its LAST seq is below every consumer offset,
    * and the newest batch is always retained so `latest` survives.
    * New consumers start at the compaction floor. Returns bytes
    * freed — metadata-only work, no Spark job. */
  def compact(): Long = mutex.synchronized {
    ensureOpen()
    val dirs = listDir(Paths.get(dataDir))
      .filter(_.getFileName.toString.startsWith("batch="))
      .sortBy(_.getFileName.toString.stripPrefix("batch=").toLong)
    if (dirs.length <= 1) return 0L
    val offs = listDir(metaDir)
      .map(_.getFileName.toString)
      // in-flight .tmp files are NOT committed offsets: an empty or
      // torn one would crash the parse (wedging compaction forever) or
      // silently pin the floor — same filter consumerLags uses
      .filter(n => n.startsWith("offset-") && !n.endsWith(".tmp"))
      .map(n => readLong(metaDir.resolve(n))) // raw: not floored
    if (offs.isEmpty) return 0L
    val minOff = offs.min
    // batch i covers [first_i, first_{i+1}); the last batch never goes
    val firsts = dirs.map(_.getFileName.toString.stripPrefix("batch=").toLong)
    var freed = 0L
    dirs.zipWithIndex.dropRight(1).foreach { case (dir, i) =>
      if (firsts(i + 1) <= minOff) {
        val s = Files.walk(dir)
        val files = try s.sorted(Comparator.reverseOrder[Path]()).toArray
          .map(_.asInstanceOf[Path]) finally s.close()
        files.foreach { f =>
          if (Files.isRegularFile(f)) freed += Files.size(f)
          Files.delete(f)
        }
        if (firsts(i + 1) > floor) writeLong(floorFile, firsts(i + 1))
      }
    }
    freed
  }

  /** The most recently pushed entry — survives full consumption, like
    * the reference's `Publisher.latest` (Queue.scala:248): offsets
    * advance but segments are retained. Prunes to the last batch. */
  def latest: Option[Row] = {
    ensureOpen()
    if (!hasData) return None
    val hw = highwater
    unconsumed(hw - 1).filter(col("seq") === hw - 1).collect().headOption
      .map(payloadOf)
  }

  /** Structured Streaming subscriber over the same segment layout —
    * the reference's consume-process loop (Subscriber.pop in a while
    * loop) becomes a declarative stream. A trigger reads at most
    * `maxBatchesPerTrigger` parquet files; a push of up to one read
    * split is one file, so for such pushes that is the number of
    * segments and a trigger never splits one. */
  def readStream(maxBatchesPerTrigger: Int = 8): DataFrame =
    spark.readStream
      // the `batch` partition column is declared too: a stream started
      // on an empty queue cannot infer it, and would then fail on the
      // first segment's (envelope + batch) rows
      .schema(partitioned)
      .option("basePath", dataDir)
      .option("maxFilesPerTrigger", maxBatchesPerTrigger)
      .parquet(dataDir)

  /** Drop everything; implicitly closes first (reference dispose,
    * Queue.scala:148-156). */
  def dispose(): Unit = {
    close()
    val p = Paths.get(root)
    if (Files.exists(p)) deleteRecursively(p)
  }
}
