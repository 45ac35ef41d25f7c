package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Sessionize

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Double, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3), r.getLong(4))).toSeq

  test("salted equals plain: sessions crossing bucket boundaries") {
    // gap=100, bucket=1000 (nanos): a session continues across the
    // 990->1010 boundary; a mid-bucket gap starts a new session
    val ev = Seq(
      (1L, 1L, 990L, 1.0), (1L, 2L, 1010L, 2.0),   // one session, spans buckets
      (1L, 3L, 1500L, 3.0),                          // gap 490 > 100: new session
      (1L, 4L, 1550L, 4.0),
      (2L, 5L, 5L, 9.0))                             // other user untouched
      .toDF("user_id", "event_id", "ts", "value")
    val p = rows(Sessionize.plain(ev, "user_id", 100L))
    val s = rows(Sessionize.salted(ev, "user_id", 100L, 1000L))
    assert(p == s)
    assert(p.map(t => (t._1, t._2, t._3)) ==
      Seq((1L, 1L, 2L), (1L, 2L, 2L), (2L, 1L, 1L)))
  }

  test("salted equals plain: session spanning entirely empty buckets") {
    // gap=2500 > bucket=1000: events in buckets 0 and 2 stay one
    // session while buckets 1 is empty; a wider silence still splits
    val ev = Seq(
      (7L, 1L, 500L, 1.0), (7L, 2L, 2900L, 1.0),    // diff 2400 < 2500: same session
      (7L, 3L, 9000L, 1.0))                          // diff 6100 > 2500: new session
      .toDF("user_id", "event_id", "ts", "value")
    val p = rows(Sessionize.plain(ev, "user_id", 2500L))
    val s = rows(Sessionize.salted(ev, "user_id", 2500L, 1000L))
    assert(p == s)
    assert(p.map(t => (t._1, t._2, t._3)) == Seq((7L, 1L, 2L), (7L, 2L, 1L)))
  }

  test("salted equals plain on the hot-keyed events table") {
    val ev = Sessionize.hotKeyed(table("events"), "user_id")
    val p = rows(Sessionize.plain(ev, "user_id", 60000000000L))
    val s = rows(Sessionize.salted(ev, "user_id", 60000000000L, 3600000000000L))
    assert(p.nonEmpty && p == s)
  }

  test("funnel: stage order matters, conversions count in-order users only") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"), // full
      (2L, 10L, "view"), (2L, 20L, "purchase"), (2L, 30L, "click"), // no s3
      (3L, 50L, "view"),                                            // s1 only
      (4L, 10L, "click"), (4L, 20L, "purchase")                     // no view
    ).toDF("user_id", "ts", "event_type")
    val times = Sessionize.funnelTimes(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getAs[Long]("user") -> r).toMap
    assert(times.keySet == Set(1L, 2L, 3L), "no-view users never enter")
    assert(times(1L).getAs[Long]("stage_3_ts") == 30L)
    // user 2's purchase precedes its click: stage 2 completes at ts 30
    // but stage 3 never does (no purchase after 30)
    assert(times(2L).getAs[Long]("stage_2_ts") == 30L)
    assert(times(2L).isNullAt(times(2L).fieldIndex("stage_3_ts")),
      "out-of-order purchase must not complete the funnel")
    assert(times(3L).isNullAt(times(3L).fieldIndex("stage_2_ts")))
    val rep = Sessionize.funnelReport(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getAs[Long]("stage_idx") ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("conv_per_mille"))).toMap
    assert(rep(1L) == (3L, 1000L))
    assert(rep(2L) == (2L, 666L))
    assert(rep(3L) == (1L, 333L))
  }

  test("bounded funnel: a conversion outside the window doesn't count") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"), // tight
      (2L, 10L, "view"), (2L, 500L, "click"),                       // click late
      (3L, 10L, "view"), (3L, 20L, "click"), (3L, 900L, "purchase") // buy late
    ).toDF("user_id", "ts", "event_type")
    val stages = Seq("view", "click", "purchase")
    val un = Sessionize.funnelReport(ev, "user_id", "ts", "event_type", stages)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val bd = Sessionize.funnelReport(ev, "user_id", "ts", "event_type", stages,
        withinNs = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(un == Map(1L -> 3L, 2L -> 3L, 3L -> 2L))
    // bounded: user 2's click at +490 and user 3's purchase at +880
    // fall outside the 100ns window
    assert(bd == Map(1L -> 3L, 2L -> 2L, 3L -> 1L))
  }

  test("debounce keeps chain re-starts a naive lag filter would drop") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // events at 0, 50, 100 with a 60ns window: a lag filter drops BOTH
    // 50 and 100 (each within 60 of its predecessor); true debounce
    // keeps 0 and... the chain extends the burst, so only 0 survives —
    // while 0, 50, 200 must keep 0 AND 200 (gap 150 > 60 reopens)
    val ev = Seq(
      (1L, 1L, 0L, 0.0), (1L, 2L, 50L, 0.0), (1L, 3L, 100L, 0.0),
      (2L, 4L, 0L, 0.0), (2L, 5L, 50L, 0.0), (2L, 6L, 200L, 0.0))
      .toDF("user_id", "event_id", "ts", "value")
    val kept = Sessionize.withSessionIds(ev, "user_id", 60L)
      .groupBy("user_id").agg(max("sess_id").as("n_kept"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept == Map(1L -> 1L, 2L -> 2L),
      s"burst chains collapse to one, a true gap reopens: $kept")
  }

  private def incVsFull(ev: DataFrame, cutoff: Long, gap: Long) = {
    val full = rows(Sessionize.plain(ev, "user_id", gap))
    val prior = Sessionize.sessionFrames(
      ev.filter($"ts" < cutoff), "user_id", gap)
    val inc = rows(Sessionize.finishFrames(
      Sessionize.incremental(prior, ev.filter($"ts" >= cutoff),
        "user_id", gap), "user_id"))
    (full, inc)
  }

  test("incremental: seam merge, seam split, and one-sided users") {
    // gap=100. user 1: batch first event 30ns after prior end -> the
    // seam merges; its later in-batch gap still splits. user 2: seam
    // silence 500 > gap -> prior session stays closed. user 3 is
    // prior-only, user 4 batch-only.
    val ev = Seq(
      (1L, 1L, 100L, 1.0), (1L, 2L, 150L, 2.0),  // prior
      (1L, 3L, 180L, 3.0), (1L, 4L, 400L, 4.0),  // batch: merge, then split
      (2L, 5L, 100L, 5.0), (2L, 6L, 660L, 6.0),  // seam 560 > 100: no merge
      (3L, 7L, 50L, 7.0),
      (4L, 8L, 900L, 8.0))
      .toDF("user_id", "event_id", "ts", "value")
    val (full, inc) = incVsFull(ev, 160L, 100L)
    assert(inc == full)
    assert(inc.filter(_._1 == 1L).map(_._3) == Seq(3L, 1L),
      "merged seam session has prior 2 + batch 1 events")
  }

  test("incremental: exact-gap silence at the seam continues the session") {
    // the continuation rule is diff NOT > gap, so diff == gap merges —
    // in lockstep with withSessionIds' lag rule
    val ev = Seq(
      (9L, 1L, 1000L, 1.0),   // prior
      (9L, 2L, 1100L, 2.0))   // batch, exactly gap=100 later
      .toDF("user_id", "event_id", "ts", "value")
    val (full, inc) = incVsFull(ev, 1050L, 100L)
    assert(inc == full)
    assert(inc.map(_._3) == Seq(2L), "one session of 2 events")
  }

  test("incremental through a persisted frame store equals full recompute") {
    // the production shape: frames live in a parquet table between
    // daily runs — the merge must survive the write/read round trip
    // (incl. the DECIMAL sum column's exactness)
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val ev = table("events").select("user_id", "event_id", "ts", "value")
    val b = ev.agg(fmin("ts"), fmax("ts")).head
    val cutoff = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
    val store = java.nio.file.Files
      .createTempDirectory("graft_frames").toString + "/frames"
    Sessionize.sessionFrames(ev.filter($"ts" < cutoff), "user_id", 60000000000L)
      .write.parquet(store)
    val prior = spark.read.parquet(store)
    val inc = rows(Sessionize.finishFrames(
      Sessionize.incremental(prior, ev.filter($"ts" >= cutoff),
        "user_id", 60000000000L), "user_id"))
    val full = rows(Sessionize.plain(ev, "user_id", 60000000000L))
    assert(inc.nonEmpty && inc == full)
  }

  test("incremental validate=true rejects an out-of-order batch loudly") {
    val prior = Sessionize.sessionFrames(
      Seq((1L, 1L, 1000L, 1.0)).toDF("user_id", "event_id", "ts", "value"),
      "user_id", 100L)
    val lateBatch = Seq((1L, 2L, 500L, 2.0)) // BEFORE the prior frame
      .toDF("user_id", "event_id", "ts", "value")
    val ex = intercept[IllegalArgumentException] {
      Sessionize.incremental(prior, lateBatch, "user_id", 100L,
        validate = true).collect()
    }
    assert(ex.getMessage.contains("contract violated"))
    // same call without validate is the documented caller-beware path
    Sessionize.incremental(prior, lateBatch, "user_id", 100L).collect()
  }

  test("incremental equals full re-sessionization on the events table") {
    val ev = table("events")
      .select("user_id", "event_id", "ts", "value")
    val b = ev.agg(org.apache.spark.sql.functions.min("ts"),
      org.apache.spark.sql.functions.max("ts")).head
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    for (frac <- Seq(1L, 2L, 4L)) { // 20%, 40%, 80% cutoffs
      val cutoff = mn + (mx - mn) / 5L * frac
      val (full, inc) = incVsFull(ev, cutoff, 60000000000L)
      assert(inc.nonEmpty && inc == full, s"cutoff at $frac/5")
    }
  }

  test("sessionFramesSplit equals per-half sessionFrames (r17 one-pass form)") {
    import org.apache.spark.sql.functions._
    val ev = table("events").select("user_id", "event_id", "ts", "value")
    val b = ev.agg(min("ts"), max("ts")).head
    val cutoff = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 5L * 4L
    val gap = 60000000000L
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDecimal(4).toPlainString)
    val split = Sessionize.sessionFramesSplit(ev, "user_id", gap,
      col("ts") >= cutoff)
    val gotPrior = split.filter(!col("__side")).drop("__side")
      .collect().map(key).toSet
    val gotBatch = split.filter(col("__side")).drop("__side")
      .collect().map(key).toSet
    val wantPrior = Sessionize.sessionFrames(
      ev.filter(col("ts") < cutoff), "user_id", gap).collect().map(key).toSet
    val wantBatch = Sessionize.sessionFrames(
      ev.filter(col("ts") >= cutoff), "user_id", gap).collect().map(key).toSet
    assert(gotPrior.nonEmpty && gotPrior == wantPrior)
    assert(gotBatch.nonEmpty && gotBatch == wantBatch)
  }

  test("sessionFramesSplit keeps events whose batch side is null (counted as prior)") {
    import org.apache.spark.sql.functions._
    // null ts makes `ts >= cutoff` null; both halves' filters must
    // still see every event exactly once
    val ev = Seq((1L, 1L, Option.empty[Long], 1.0), (1L, 2L, Some(100L), 2.0),
        (1L, 3L, Some(5000L), 3.0), (2L, 4L, None, 4.0))
      .toDF("user_id", "event_id", "ts", "value")
    val split = Sessionize.sessionFramesSplit(ev, "user_id", 1000L,
      col("ts") >= 1000L)
    def events(half: org.apache.spark.sql.Column) =
      split.filter(half).agg(coalesce(sum("n_events"), lit(0L))).head.getLong(0)
    val (prior, batch) = (events(!col("__side")), events(col("__side")))
    assert(prior + batch == 4L, s"split kept $prior + $batch of 4 events")
    assert(prior == 3L && batch == 1L, s"null-ts events count as prior: $prior/$batch")
  }
}
