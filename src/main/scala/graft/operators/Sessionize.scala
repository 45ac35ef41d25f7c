package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gaps-and-islands sessionization (SURVEY.md §2 R20), in two shapes:
  *
  *  - [[plain]]: the textbook two-window formulation. Correct, but a
  *    window partitioned by user alone serializes a hot key: one user
  *    with 50% of the events means one task sorts half the table.
  *  - [[salted]]: the skew-resistant formulation. Events are windowed
  *    inside `(user, timeBucket)` partitions — a hot user's events
  *    spread across buckets, so no task ever sees more than one
  *    bucket's worth. Cross-bucket session stitching happens on a
  *    per-(user, bucket) summary table (one narrow row per non-empty
  *    bucket), which is joined back by `(user, bucket)` — a key that
  *    stays well-distributed even when `user` alone is hot.
  *
  * Both produce identical session ids (verified by a shared DuckDB
  * oracle and SessionizeSpec), so the salted plan is a drop-in.
  */
object Sessionize {

  /** Per-session aggregate rows `(user, sess_id, n_events, sum_value,
    * duration_ms)` — the shared output contract of both shapes.
    * `tsCol` is event-time in nanos (Long). */
  private def finish(withSess: DataFrame, userCol: String): DataFrame = {
    import graft.queries.RelationalQueries.dsum
    withSess
      .groupBy(col(userCol), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"),
        floor((max("ts") - min("ts")) / 1000000.0).as("duration_ms"))
      .orderBy(userCol, "sess_id")
  }

  /** [[withSessionIds]] generalized to a composite partition key —
    * the r17 one-pass split form: sessionizing inside (user, half)
    * with a per-user time-boundary split equals sessionizing each
    * half alone, at one scan and one window shuffle instead of two. */
  private def withSessionIdsKeys(events: DataFrame, keys: Seq[String],
                                 gapNs: Long): DataFrame = {
    val byTime = Window.partitionBy(keys.map(col): _*).orderBy("ts", "event_id")
    val run = Window.partitionBy(keys.map(col): _*).orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("new_sess",
        when(col("ts") - lag("ts", 1).over(byTime) > gapNs, 1L)
          .when(lag("ts", 1).over(byTime).isNull, 1L).otherwise(0L))
      .withColumn("sess_id", sum("new_sess").over(run))
  }

  /** Events + assigned `sess_id` (textbook lag + running-sum shape) —
    * the reusable core of [[plain]]; also feeds interval derivations
    * like per-session bounds (see q_range_join). */
  def withSessionIds(events: DataFrame, userCol: String, gapNs: Long): DataFrame =
    withSessionIdsKeys(events, Seq(userCol), gapNs)

  /** Textbook formulation: lag + running sum over a per-user window. */
  def plain(events: DataFrame, userCol: String, gapNs: Long): DataFrame =
    finish(withSessionIds(events, userCol, gapNs), userCol)

  /** Skew-resistant formulation. `bucketNs` bounds the widest window
    * partition; sessions spanning buckets are stitched through the
    * per-bucket summary:
    *   1. window inside (user, bucket): within-bucket lag flags;
    *   2. per-bucket summary (first_ts, last_ts, inner session starts);
    *   3. tiny per-user window over bucket summaries decides whether
    *      each bucket's first event starts a session and how many
    *      sessions started before the bucket;
    *   4. join the summary back on (user, bucket) and emit
    *      sess_id = starts_before_bucket + running starts within.
    */
  def salted(events: DataFrame, userCol: String, gapNs: Long,
             bucketNs: Long): DataFrame = {
    val u = col(userCol)
    val ev = events.withColumn("bkt", expr(s"ts div ${bucketNs}L"))

    val inBkt = Window.partitionBy(u, col("bkt")).orderBy("ts", "event_id")
    val flagged = ev.withColumn("prev_ts", lag("ts", 1).over(inBkt))
      // within-bucket starts; the bucket's first event is decided later
      .withColumn("inner_new",
        when(col("prev_ts").isNotNull && col("ts") - col("prev_ts") > gapNs, 1L)
          .otherwise(0L))

    val perBkt = flagged.groupBy(u, col("bkt"))
      .agg(min("ts").as("first_ts"), max("ts").as("last_ts"),
        sum("inner_new").as("inner_starts"))

    val byBkt = Window.partitionBy(u).orderBy("bkt")
    val ctx = perBkt
      .withColumn("prev_last_ts", lag("last_ts", 1).over(byBkt))
      .withColumn("first_is_new",
        when(col("prev_last_ts").isNull ||
          col("first_ts") - col("prev_last_ts") > gapNs, 1L).otherwise(0L))
      .withColumn("starts_before",
        coalesce(sum(col("inner_starts") + col("first_is_new"))
          .over(byBkt.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(u, col("bkt"), col("first_is_new"), col("starts_before"))

    val runInBkt = Window.partitionBy(u, col("bkt")).orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withSess = flagged
      .join(ctx, Seq(userCol, "bkt")) // (user, bkt) key: skew-free
      .withColumn("new_sess",
        when(col("prev_ts").isNull, col("first_is_new")).otherwise(col("inner_new")))
      .withColumn("sess_id", col("starts_before") + sum("new_sess").over(runInBkt))
    finish(withSess, userCol)
  }

  /** Internal mergeable per-session frame `(user, start_ts, end_ts,
    * n_events, sum_dec)` — the state the incremental path persists.
    * `sum_dec` stays DECIMAL(38,4) so merging two frames' sums is
    * exact (double partials would re-associate and break the
    * ≡-full-recompute hash gate); [[finishFrames]] casts once at the
    * end, exactly like `dsum`. */
  def sessionFrames(events: DataFrame, userCol: String, gapNs: Long): DataFrame =
    withSessionIdsKeys(events, Seq(userCol), gapNs)
      .groupBy(col(userCol), col("sess_id"))
      .agg(min("ts").as("start_ts"), max("ts").as("end_ts"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,4)")).as("sum_dec"))
      .drop("sess_id")

  /** r17 (§2.4 one pass instead of two): session frames for BOTH
    * halves of a time-split log from ONE scan and ONE window shuffle.
    * `batchSide` marks the batch half and must split at a per-user
    * time boundary (every batch event at-or-after every prior event
    * of the same user — q_sessionize_inc's cutoff contract), so
    * windowing inside (user, half) equals sessionizing each filtered
    * half alone: no session of one half can span the split within
    * that half's own sessionization. Returns the union of the two
    * halves' frames with `__side` = the batchSide value; filter and
    * drop it to recover each half (pin first — the two consumers
    * would otherwise re-run the pass). A null batchSide (e.g. a null
    * `ts` compared with the cutoff) counts as the prior half: null
    * timestamps sort first, before every batch event, so every event
    * lands in exactly one half and no row is dropped. */
  def sessionFramesSplit(events: DataFrame, userCol: String, gapNs: Long,
                         batchSide: Column): DataFrame =
    withSessionIdsKeys(events.withColumn("__side", coalesce(batchSide, lit(false))),
        Seq(userCol, "__side"), gapNs)
      .groupBy(col(userCol), col("__side"), col("sess_id"))
      .agg(min("ts").as("start_ts"), max("ts").as("end_ts"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,4)")).as("sum_dec"))
      .drop("sess_id")

  /** R20f: incremental sessionization — merge a NEW event batch into
    * previously-built session frames WITHOUT re-sessionizing history.
    * Contract (the daily-append ingest shape): every batch event's ts
    * is >= every prior event's ts for the same user. Under it, only
    * each user's LAST prior session can interact with the batch, and
    * only with the batch's FIRST new session for that user (prior
    * sessions are >gap apart; batch-internal cuts are already final) —
    * so the merge is ONE join between two one-row-per-user slices,
    * while the full history's frames pass through untouched. At 100 TB
    * that is the difference between re-shuffling the complete event
    * log every day and shuffling one day's batch plus a narrow
    * per-user boundary row.
    *
    * A batch session continues the prior session iff the silence at
    * the seam is NOT > gap — the same rule [[withSessionIds]] applies
    * between adjacent events, so incremental ≡ full recompute exactly
    * (hash-gated by q_sessionize_inc against the full-log oracle). */
  def incremental(priorFrames: DataFrame, batch: DataFrame, userCol: String,
                  gapNs: Long, validate: Boolean = false): DataFrame =
    incrementalFrames(priorFrames, sessionFrames(batch, userCol, gapNs),
      userCol, gapNs, validate)

  /** [[incremental]] with the batch's session frames PRECOMPUTED —
    * the entry point for callers that already built both halves'
    * frames in one pass ([[sessionFramesSplit]]); the merge logic is
    * identical. */
  def incrementalFrames(priorFrames: DataFrame, newF: DataFrame,
                        userCol: String, gapNs: Long,
                        validate: Boolean = false): DataFrame = {
    val u = col(userCol)

    val lastW = Window.partitionBy(u).orderBy(col("start_ts").desc)
    val priorT = priorFrames.withColumn("__last", row_number().over(lastW) === 1)
    val firstW = Window.partitionBy(u).orderBy(col("start_ts"))
    val newT = newF.withColumn("__first", row_number().over(firstW) === 1)

    def slice(df: DataFrame, flag: String, p: String) = df.filter(col(flag))
      .select(u, col("start_ts").as(s"${p}start"), col("end_ts").as(s"${p}end"),
        col("n_events").as(s"${p}n"), col("sum_dec").as(s"${p}sum"))
    val boundary = slice(priorT, "__last", "p_")
      .join(slice(newT, "__first", "b_"), Seq(userCol), "full")
      // null-safe: a user present on only one side never merges
      .withColumn("__merge", coalesce(
        col("b_start") - col("p_end") <= gapNs, lit(false)))
    // opt-in contract check (one extra bounded action on the per-user
    // boundary frame): a batch event BEFORE a user's last prior event
    // breaks the append-only assumption and would merge WRONG — with
    // validate the violation fails loudly instead of corrupting state
    if (validate) {
      val bad = boundary
        .filter(col("b_start").isNotNull && col("p_end").isNotNull &&
          col("b_start") < col("p_end"))
        .limit(5).select(u).collect().map(_.get(0))
      require(bad.isEmpty,
        s"incremental sessionize contract violated: batch contains events " +
          s"older than the prior frames for users ${bad.mkString(", ")} — " +
          s"late data must be re-sessionized from source, not merged")
    }

    val mergedF = boundary.filter(col("__merge"))
      .select(u, col("p_start").as("start_ts"), col("b_end").as("end_ts"),
        (col("p_n") + col("b_n")).as("n_events"),
        (col("p_sum") + col("b_sum")).cast("decimal(38,4)").as("sum_dec"))
    def keep(p: String) = boundary
      .filter(!col("__merge") && col(s"${p}start").isNotNull)
      .select(u, col(s"${p}start").as("start_ts"), col(s"${p}end").as("end_ts"),
        col(s"${p}n").as("n_events"), col(s"${p}sum").as("sum_dec"))
    val untouched = priorT.filter(!col("__last")).drop("__last")
      .unionByName(newT.filter(!col("__first")).drop("__first"))

    untouched.unionByName(mergedF).unionByName(keep("p_")).unionByName(keep("b_"))
  }

  /** Session frames → the shared output contract `(user, sess_id,
    * n_events, sum_value, duration_ms)`: sess_id renumbered per user
    * by start order (frames are time-disjoint per user, so the order
    * is total), decimal sum surfaced as double exactly like `dsum`. */
  def finishFrames(frames: DataFrame, userCol: String): DataFrame = {
    val byStart = Window.partitionBy(col(userCol)).orderBy("start_ts")
    frames
      .withColumn("sess_id", row_number().over(byStart).cast("long"))
      .select(col(userCol), col("sess_id"), col("n_events"),
        col("sum_dec").cast("double").as("sum_value"),
        floor((col("end_ts") - col("start_ts")) / 1000000.0).as("duration_ms"))
      .orderBy(userCol, "sess_id")
  }

  /** Remap that manufactures a hot key for the skew demo: all even
    * user ids collapse onto user 0 (~50% of events on one key). */
  def hotKeyed(events: DataFrame, userCol: String): DataFrame =
    events.withColumn(userCol,
      when(col(userCol) % 2 === 0, 0L).otherwise(col(userCol)))

  /** R37: ordered funnel progression — for each user the earliest
    * event-time at which each stage of `stages` completes IN ORDER
    * (stage i counts only strictly after stage i−1's completion time:
    * the classic view→click→purchase conversion question, which a
    * per-stage count can't answer because it ignores ordering).
    *
    * One pass, one user shuffle: per user a single min-aggregate per
    * stage over a conditional running computation is impossible
    * declaratively, so the chain is S mins — but all S groupBys
    * cluster on the SAME user key, so Catalyst reuses one partitioning
    * (no re-shuffle between stages; narrow (user, ts) frames). Events
    * whose type is outside `stages` never survive the first filter.
    * Returns one row per user that completed ≥ 1 stage:
    * (user, stage_1_ts … stage_n_ts) with nulls from the first
    * uncompleted stage on.
    *
    * With a finite `withinNs` the semantics are GREEDY-EARLIEST (the
    * convention funnel products use): each stage anchors at the
    * earliest completion of the previous stage — a user whose only
    * in-bound chain runs through a LATER stage-k occurrence does not
    * convert. The oracle replays the same chaining. */
  def funnelTimes(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, stages: Seq[String],
                  withinNs: Long = Long.MaxValue): DataFrame = {
    require(stages.nonEmpty && stages.distinct == stages,
      s"stages must be non-empty and distinct, got $stages")
    val base = events.select(col(userCol).as("user"),
      col(tsCol).as("ts"), col(typeCol).as("tp"))
      .filter(col("tp").isin(stages: _*))
    val first = base.filter(col("tp") === stages.head)
      .groupBy("user").agg(min(col("ts")).as("stage_1_ts"))
    stages.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (stage, i)) =>
        val prev = s"stage_${i}_ts"
        val cur = s"stage_${i + 1}_ts"
        // withinNs bounds the stage-to-stage delay (R37b: "purchase
        // within an hour of the click" — the product question an
        // unbounded funnel over-counts). ts > prev keeps the diff
        // positive, so the bound never overflows at the default.
        val nxt = base.filter(col("tp") === stage)
          .join(acc.select(col("user"), col(prev).as("__prev")), "user")
          .filter(col("ts") > col("__prev") &&
            col("ts") - col("__prev") <= withinNs)
          .groupBy("user").agg(min(col("ts")).as(cur))
        acc.join(nxt.select(col("user"), col(cur)), Seq("user"), "left")
    }
  }

  /** Funnel conversion report over [[funnelTimes]]: per stage the
    * number of users who completed it in order, plus the integer
    * per-mille conversion vs the FIRST stage — the one-line funnel
    * summary (S rows). */
  def funnelReport(events: DataFrame, userCol: String, tsCol: String,
                   typeCol: String, stages: Seq[String],
                   withinNs: Long = Long.MaxValue): DataFrame = {
    val times = funnelTimes(events, userCol, tsCol, typeCol, stages, withinNs)
    val counts = times.agg(
      count(col("stage_1_ts")).as("n_1"),
      (2 to stages.size).map(i =>
        count(col(s"stage_${i}_ts")).as(s"n_$i")): _*)
    counts.select(explode(array(stages.zipWithIndex.map { case (s, i) =>
        struct(lit(i + 1).cast("long").as("stage_idx"), lit(s).as("stage"),
          col(s"n_${i + 1}").as("n_users"))
      }: _*)).as("r"))
      .select(col("r.stage_idx"), col("r.stage"), col("r.n_users"))
      .withColumn("n_first", first("n_users").over(
        org.apache.spark.sql.expressions.Window.orderBy("stage_idx")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .withColumn("conv_per_mille",
        expr("n_users * 1000L div greatest(n_first, 1L)"))
      .drop("n_first")
  }
}
