package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.QueueStreaming
import graft.streaming.QueueStreaming.{Event, Session}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("windowed stats with watermark aggregate the stream") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "key", "value")
    val out = QueueStreaming.windowedStats(df, "ts", "key", "value",
      "10 minutes", "5 minutes")
    val ckpt = Files.createTempDirectory("wstats").toString
    val q = out.writeStream.format("memory").queryName("wstats")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt).start()
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    mem.addData((t(1), "a", 1.0), (t(2), "a", 2.0), (t(11), "b", 5.0))
    q.processAllAvailable()
    // advance watermark far enough to close the first windows
    mem.addData((t(40), "a", 9.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT key, n_events, sum_value FROM wstats ORDER BY key")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    assert(rows.contains(("a", 2L, 3.0)))
    assert(rows.contains(("b", 1L, 5.0)))
  }

  test("trending terms: windowed space-saving sketch merges across triggers") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "text")
    val out = QueueStreaming.trendingTerms(df, "ts", "text",
      k = 2, capacity = 64, windowDur = "10 minutes", watermarkDelay = "5 minutes")
    val ckpt = Files.createTempDirectory("trending").toString
    val q = out.writeStream.format("memory").queryName("trending")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt).start()
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // same window, two triggers: the sketch must merge across them
    mem.addData((t(1), "spark spark join"), (t(2), "spark join scan"))
    q.processAllAvailable()
    mem.addData((t(3), "join spark"))
    q.processAllAvailable()
    mem.addData((t(40), "late window closer"))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT rank, term, est FROM trending WHERE term IN ('spark','join') ORDER BY rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    q.stop()
    assert(rows.toSeq == Seq((1, "spark", 4L), (2, "join", 3L)))
  }

  test("sessionize closes sessions after the gap and keeps state within it") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = QueueStreaming.sessionize(mem.toDS(), gapMs = 1000L,
      wallClockTimeout = false)
    val ckpt = Files.createTempDirectory("sess").toString
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt).start()
    // one user, two bursts separated by > gap
    mem.addData(Event(7L, 1L, 0L, 1.0), Event(7L, 2L, 500L, 2.0))
    q.processAllAvailable()
    mem.addData(Event(7L, 3L, 10000L, 5.0)) // 9.5s later: closes burst 1
    q.processAllAvailable()
    val sessions = spark.sql("SELECT * FROM sessions").as[Session].collect()
    q.stop()
    assert(sessions.length == 1)
    assert(sessions.head == Session(7L, 2L, 3.0, 500L))
  }

  test("transformWithState sessionize matches the flatMapGroups version") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = QueueStreaming.sessionizeTws(mem.toDS(), gapMs = 1000L,
      useTimers = false)
    val ckpt = Files.createTempDirectory("sesstws").toString
    val q = out.writeStream.format("memory").queryName("sessions_tws")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt).start()
    mem.addData(Event(7L, 1L, 0L, 1.0), Event(7L, 2L, 500L, 2.0))
    q.processAllAvailable()
    mem.addData(Event(7L, 3L, 10000L, 5.0)) // 9.5s later: closes burst 1
    q.processAllAvailable()
    mem.addData(Event(7L, 4L, 30000L, 1.0)) // closes burst 2 (the single event)
    q.processAllAvailable()
    val sessions = spark.sql("SELECT * FROM sessions_tws ORDER BY duration_ms")
      .as[Session].collect()
    q.stop()
    assert(sessions.toSeq == Seq(Session(7L, 1L, 5.0, 0L), Session(7L, 2L, 3.0, 500L)))
  }

  test("far-past straggler becomes its own session, never drags the open one back") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = QueueStreaming.sessionizeTws(mem.toDS(), gapMs = 1000L,
      useTimers = false)
    val ckpt = Files.createTempDirectory("sessstrag").toString
    val q = out.writeStream.format("memory").queryName("sessions_strag")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt).start()
    mem.addData(Event(7L, 1L, 100000L, 1.0), Event(7L, 2L, 100500L, 2.0))
    q.processAllAvailable()
    // a straggler 100s older than the open session's reach: absorbing
    // it would create one 100s session spanning pure silence
    mem.addData(Event(7L, 3L, 0L, 9.0))
    q.processAllAvailable()
    mem.addData(Event(7L, 4L, 300000L, 1.0)) // closes the open session
    q.processAllAvailable()
    val sessions = spark.sql(
        "SELECT * FROM sessions_strag ORDER BY duration_ms, sum_value")
      .as[Session].collect()
    q.stop()
    // straggler emitted alone (duration 0); open session kept its
    // bounds (500ms, events 1+2)
    assert(sessions.toSeq == Seq(Session(7L, 1L, 9.0, 0L), Session(7L, 2L, 3.0, 500L)))
  }

  private def planNodes(p: SparkPlanInfo): Seq[SparkPlanInfo] =
    p +: p.children.flatMap(planNodes)

  test("queue subscriber started on an empty queue receives later pushes") {
    import graft.queue.ParquetQueue
    import graft.schema.{GraftSchema, GraftType}
    val schema = GraftSchema(("id", GraftType.INTEGER), ("text", GraftType.TEXT))
    val q = new ParquetQueue(spark,
      Files.createTempDirectory("qempty").toString, schema)
    val name = s"qempty_${System.nanoTime()}"
    val s = q.readStream().writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("qempty_ckpt").toString)
      .start()
    try {
      q.push(Seq((1L, "a"), (2L, "b")).toDF("id", "text"))
      s.processAllAvailable()
      val got = spark.sql(s"SELECT id, batch FROM $name ORDER BY seq")
        .as[(Long, Long)].collect().toSeq
      assert(got == Seq((1L, 0L), (2L, 0L)), s"rows pushed after start: $got")
    } finally { s.stop(); q.dispose() }
  }

  test("queue subscriber is exactly-once across stream restarts") {
    import graft.queue.ParquetQueue
    import graft.schema.{GraftSchema, GraftType}
    val schema = GraftSchema(("id", GraftType.INTEGER), ("text", GraftType.TEXT))
    val q = new ParquetQueue(spark,
      Files.createTempDirectory("qeo").toString, schema)
    val outDir = Files.createTempDirectory("qeo_out").toString
    val ckpt = Files.createTempDirectory("qeo_ckpt").toString
    def drain(): Unit = {
      val s = q.readStream(1).writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      s.awaitTermination(120000)
    }
    q.push(Seq((1L, "a"), (2L, "b")).toDF("id", "text"))
    drain()
    q.push(Seq((3L, "c")).toDF("id", "text"))
    drain() // restarted from the same checkpoint: only the new batch lands
    val got = spark.read.parquet(outDir).select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L), "each entry delivered exactly once")
    q.dispose()
  }

  test("compaction coexists with a mid-stream subscriber: no loss, no reread") {
    import graft.queue.ParquetQueue
    import graft.schema.{GraftSchema, GraftType}
    val schema = GraftSchema(("id", GraftType.INTEGER), ("text", GraftType.TEXT))
    val root = Files.createTempDirectory("qcompstream").toString
    val q = new ParquetQueue(spark, root, schema)
    val outDir = Files.createTempDirectory("qcs_out").toString
    val ckpt = Files.createTempDirectory("qcs_ckpt").toString
    def drain(): Unit = {
      val s = q.readStream(1).writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      s.awaitTermination(120000)
    }
    q.push(Seq((1L, "a"), (2L, "b")).toDF("id", "text"))
    q.push(Seq((3L, "c"), (4L, "d")).toDF("id", "text"))
    drain() // subscriber has committed batches 0 and 2 in its checkpoint
    // a batch consumer drains too, so every registered offset is past
    // batch 0 and compact() may reclaim segments the SUBSCRIBER already
    // processed (the subscriber's progress lives in its checkpoint, not
    // in a consumer offset file — compaction must not disturb it)
    assert(q.pop(10).map(_.getLong(0)) == Seq(1L, 2L, 3L, 4L))
    assert(q.compact() > 0L, "batch 0 should be reclaimed")
    assert(!Files.exists(java.nio.file.Paths.get(root, "data", "batch=0")),
      "compacted segment gone from disk")
    q.push(Seq((5L, "e"), (6L, "f")).toDF("id", "text"))
    drain() // resumes over a directory missing already-processed files
    val got = spark.read.parquet(outDir).select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L),
      "every entry exactly once: nothing lost to compaction, nothing reread")
    assert(q.latest.map(_.getLong(0)) == Some(6L), "latest survives compaction")
    q.dispose()
  }

  test("queue feeds the transformWithState sessionizer end-to-end") {
    import graft.queue.ParquetQueue
    import graft.schema.{GraftSchema, GraftType}
    val schema = GraftSchema(("user_id", GraftType.INTEGER),
      ("event_id", GraftType.INTEGER), ("ts_ms", GraftType.INTEGER),
      ("value", GraftType.REAL))
    val q = new ParquetQueue(spark,
      Files.createTempDirectory("qsess").toString, schema)
    val ckpt = Files.createTempDirectory("qsess_ckpt").toString
    val outDir = Files.createTempDirectory("qsess_out").toString
    def drain(): Unit = {
      val events = q.readStream(1)
        .selectExpr("user_id", "event_id", "ts_ms", "value")
        .as[Event]
      val s = QueueStreaming.sessionizeTws(events, gapMs = 1000L,
          useTimers = false)
        .writeStream.format("parquet")
        .option("path", outDir)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      s.awaitTermination(120000)
      ()
    }
    // burst 1, then a late event that closes it — via the queue,
    // with a stream restart (checkpointed state survives) in between
    q.push(Seq((7L, 1L, 0L, 1.0), (7L, 2L, 500L, 2.0))
      .toDF("user_id", "event_id", "ts_ms", "value"))
    drain()
    q.push(Seq((7L, 3L, 10000L, 5.0)).toDF("user_id", "event_id", "ts_ms", "value"))
    drain()
    val sessions = spark.read.parquet(outDir).as[Session].collect()
    assert(sessions.toSeq == Seq(Session(7L, 2L, 3.0, 500L)))
    q.dispose()
  }

  test("queue feeds the streaming CDC upsert view end-to-end") {
    import graft.queue.ParquetQueue
    import graft.schema.{GraftSchema, GraftType}
    import graft.streaming.QueueStreaming.{Change, Upserted}
    // "cseq": the queue's journal owns the "seq" column name
    val schema = GraftSchema(("user_id", GraftType.INTEGER),
      ("cseq", GraftType.INTEGER), ("change_type", GraftType.TEXT),
      ("value", GraftType.REAL))
    val q = new ParquetQueue(spark,
      Files.createTempDirectory("qcdc").toString, schema)
    val ckpt = Files.createTempDirectory("qcdc_ckpt").toString
    val outDir = Files.createTempDirectory("qcdc_out").toString
    def drain(): Unit = {
      val changes = q.readStream(1)
        .selectExpr("user_id", "cseq AS seq", "change_type", "value").as[Change]
      val s = QueueStreaming.upsertStream(changes, tombstone = "error")
        .writeStream.format("parquet").option("path", outDir)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      s.awaitTermination(120000)
      ()
    }
    // two pushes with a stream restart between: the view's last_seq
    // and n_changes must survive via the state checkpoint
    q.push(Seq((9L, 1L, "signup", 1.0)).toDF("user_id", "cseq", "change_type", "value"))
    drain()
    q.push(Seq((9L, 2L, "purchase", 3.5)).toDF("user_id", "cseq", "change_type", "value"))
    drain()
    val last = spark.read.parquet(outDir).as[Upserted].collect()
      .maxBy(_.last_seq)
    assert(last == Upserted(9L, "purchase", 3.5, 2L, 2L, deleted = false))
    q.dispose()
  }

  test("session_window streaming stats close sessions past the watermark") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val df = mem.toDF().toDF("ts", "user", "value")
    val out = QueueStreaming.sessionWindowStats(df, "ts", "user", "value",
      gapDur = "1 minute", watermarkDelay = "1 minute")
    val ckpt = Files.createTempDirectory("swstats").toString
    val q = out.writeStream.format("memory").queryName("swstats")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt).start()
    def t(m: Int, s: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:$s%02d")
    // one burst (2 events 30s apart), then silence past gap + watermark
    mem.addData((t(0, 0), 9L, 1.0), (t(0, 30), 9L, 2.0))
    q.processAllAvailable()
    mem.addData((t(10, 0), 9L, 5.0)) // advances watermark; closes burst 1
    q.processAllAvailable()
    val rows = spark.sql(
        "SELECT user, n_events, sum_value FROM swstats")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    q.stop()
    assert(rows == Seq((9L, 2L, 3.0)))
  }

  test("streaming retrieval over the persisted IVF index matches the batch probe") {
    import graft.operators.Ann
    implicit val sq = spark.sqlContext
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idx = Files.createTempDirectory("sret_idx").toString
    Ann.buildIvfIndex(e, "vec_id", "embedding", idx, nClusters = 8)
    val qvecs = e.select(col("vec_id"), col("embedding")).limit(8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val outDir = Files.createTempDirectory("sret_out").toString
    val ckpt = Files.createTempDirectory("sret_ckpt").toString
    val q = QueueStreaming.retrievalStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      idx, outDir, ckpt, k = 3, nProbe = 2)
    mem.addData(qvecs.take(5).toSeq) // trigger 1
    q.processAllAvailable()
    mem.addData(qvecs.drop(5).toSeq) // trigger 2: separate batch dir
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(outDir)
      .select("query_id", "rank", "nn_id", "sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Ann.searchIvfIndex(spark, idx,
        e.filter(col("vec_id").isin(qvecs.map(_._1).toSeq: _*)),
        "vec_id", "embedding", k = 3, nProbe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch, "per-trigger probes must equal the batch probe")
    assert(streamed.map(_._1) == qvecs.map(_._1).toSet, "every query answered")
  }

  test("streaming BM25 retrieval matches single-query probes per trigger") {
    import graft.operators.Lexical
    implicit val sq = spark.sqlContext
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    try {
      Lexical.buildIndex(d, "doc_id", "text", "lexidx_stream", buckets = 16)
      val mem = MemoryStream[(Long, String)]
      val outDir = Files.createTempDirectory("lret_out").toString
      val ckpt = Files.createTempDirectory("lret_ckpt").toString
      val q = QueueStreaming.lexicalRetrievalStream(
        mem.toDF().toDF("qid", "qtext"), "qid", "qtext",
        "lexidx_stream", outDir, ckpt, k = 5)
      mem.addData((201L, "spark join"))
      q.processAllAvailable()
      mem.addData((202L, "merge vector stream")) // second trigger
      q.processAllAvailable()
      q.stop()
      val got = spark.read.parquet(outDir)
        .select("query_id", "rank", "doc_id", "score_q").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
      for ((qid, qtext) <- Seq((201L, "spark join"), (202L, "merge vector stream"))) {
        val single = Lexical.searchBm25(spark, "lexidx_stream",
            qtext.split(" ").toSeq, k = 5)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(got(qid) == single, s"streamed result for query $qid diverges")
      }
    } finally {
      Seq("postings", "doclen", "termdf", "stats").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS lexidx_stream_$s"))
    }
  }

  test("streaming hybrid retrieval equals batch-side RRF of both probes") {
    import graft.functions.{hashed_bow, tokenize_ws}
    import graft.operators.{Ann, Lexical, Retrieval}
    implicit val sq = spark.sqlContext
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val idx = Files.createTempDirectory("hret_idx").toString
    try {
      Lexical.buildIndex(d, "doc_id", "text", "lexidx_hyb", buckets = 16)
      val vecs = d.select(col("doc_id"),
        hashed_bow(tokenize_ws(col("text")), 64).as("emb"))
      Ann.buildIvfIndex(vecs, "doc_id", "emb", idx, nClusters = 8,
        trainFraction = 1.0)
      val mem = MemoryStream[(Long, String)]
      val outDir = Files.createTempDirectory("hret_out").toString
      val ckpt = Files.createTempDirectory("hret_ckpt").toString
      val q = QueueStreaming.hybridRetrievalStream(
        mem.toDF().toDF("qid", "qtext"), "qid", "qtext",
        "lexidx_hyb", idx, outDir, ckpt, k = 5, nProbe = 4)
      mem.addData((9001L, "spark join"))
      q.processAllAvailable()
      mem.addData((9002L, "merge vector stream")) // second trigger
      q.processAllAvailable()
      q.stop()
      val got = spark.read.parquet(outDir)
        .select("query_id", "rank", "doc_id", "rrf_score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      // batch-side reference: same two probes + same fusion
      val qdf = Seq((9001L, "spark join"), (9002L, "merge vector stream"))
        .toDF("qid", "qtext")
      val lex = Lexical.searchBm25Batch(qdf, "qid", "qtext", "lexidx_hyb", 5)
      val dense = Ann.searchIvfIndex(spark, idx,
          qdf.select(col("qid"),
            hashed_bow(tokenize_ws(col("qtext")), 64).as("emb")),
          "qid", "emb", k = 5, nProbe = 4)
        .withColumnRenamed("nn_id", "doc_id")
      val ref = Retrieval.rrfFuse(Seq(lex, dense), 5).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == ref, "per-trigger fusion must equal the batch fusion")
      assert(got.map(_._1) == Set(9001L, 9002L), "every query answered")
    } finally {
      Seq("postings", "doclen", "termdf", "stats").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS lexidx_hyb_$s"))
    }
  }

  test("near-dup ingest drops stream rows duplicating the corpus") {
    import graft.operators.Dedup
    implicit val sq = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely different corpus document about spark engines"))
      .toDF("doc_id", "text")
    try {
      Dedup.buildSignatureTable(corpus, "doc_id", "text", "ingest_sigs")
      val mem = MemoryStream[(Long, String)]
      val outDir = Files.createTempDirectory("ingest_out").toString
      val ckpt = Files.createTempDirectory("ingest_ckpt").toString
      val q = QueueStreaming.nearDupIngest(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        "ingest_sigs", outDir, ckpt)
      mem.addData(
        (10L, "the quick brown fox jumps over the lazy dog again and again"),
        (11L, "completely fresh content that matches nothing in the corpus"),
        (12L, "completely fresh content that matches nothing in the corpus"))
      q.processAllAvailable()
      // a later trigger redelivers content accepted at trigger 1: the
      // appended signatures must now flag it
      mem.addData(
        (13L, "completely fresh content that matches nothing in the corpus"),
        (14L, "some genuinely new material arriving in the second batch"))
      q.processAllAvailable()
      q.stop()
      val kept = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // 10 dups the corpus; 12 dups 11 within the batch; 13 dups the
      // trigger-1 acceptance of 11
      assert(kept == Set(11L, 14L),
        s"corpus/within-batch/cross-trigger dups dropped, got $kept")
    } finally spark.sql("DROP TABLE IF EXISTS ingest_sigs")
  }

  test("composed pipeline stream: gopher -> dedup ingest -> winnow gate, funnel accounted") {
    import graft.operators.Dedup
    implicit val sq = spark.sqlContext
    // gopher-passing filler: 60 distinct 5-8 char words incl. both
    // stop words; per-prefix vocab so no accidental near-dups
    def gopherOk(p: String): String =
      (s"the a" +: (1 to 58).map(i => s"${p}w$i")).mkString(" ")
    val evalPassage = (1 to 40).map(i => s"evalpass$i").mkString(" ")
    val aText = gopherOk("alpha")
    val corpus = Seq((1L, gopherOk("corp"))).toDF("doc_id", "text")
    try {
      Dedup.buildSignatureTable(corpus, "doc_id", "text", "pipe_sigs")
      val sigDir = new java.io.File(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("pipe_sigs")).location)
      def sigFiles() = sigDir.listFiles().count(_.getName.endsWith(".parquet"))
      val files = scala.collection.mutable.ArrayBuffer(sigFiles())
      val eval = Seq((9001L, evalPassage)).toDF("doc_id", "text")
      val mem = MemoryStream[(Long, String)]
      val out = Files.createTempDirectory("pipe_out").toString
      val ckpt = Files.createTempDirectory("pipe_ckpt").toString
      val (q, starts) = startsDuring {
        val q = QueueStreaming.pipelineStream(
          mem.toDF().toDF("doc_id", "text"), "doc_id", "text", eval,
          "pipe_sigs", out, ckpt, stopWords = Seq("the", "a"))
        mem.addData(
          (10L, aText),                 // clean: survives all stages
          (11L, "too short"),           // gopher-fail (< 50 words)
          (12L, aText),                 // within-batch dup of 10
          (13L, gopherOk("corp")))      // dup of the accepted corpus
        q.processAllAvailable()
        files += sigFiles()
        mem.addData(
          (20L, aText),                 // cross-trigger dup of 10
          // gopher-passing text QUOTING the eval passage verbatim:
          // the winnow gate must flag it even though it near-dups
          // nothing (shared-passage, not resemblance)
          (21L, gopherOk("quoter").split(" ").take(30).mkString(" ") +
            " " + evalPassage + " the a tailword1 tailword2"),
          (22L, gopherOk("fresh")))     // clean: survives
        q.processAllAvailable()
        files += sigFiles()
        q.stop()
        q
      }
      val kept = spark.read.parquet(s"$out/data")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(10L, 22L),
        s"composed gates: expected {10, 22}, got $kept")
      // funnel accounting per trigger: every stage statistic a count
      val funnel = spark.read.parquet(s"$out/funnel")
        .select(col("batch").cast("int").as("b"), col("stage"), col("n_docs"))
        .collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(funnel((0, "ingest")) == 4 && funnel((0, "gopher")) == 3 &&
        funnel((0, "dedup_ingest")) == 1 &&
        funnel((0, "decontam_winnow")) == 1,
        s"trigger-1 funnel: $funnel")
      assert(funnel((1, "ingest")) == 3 && funnel((1, "gopher")) == 3 &&
        funnel((1, "dedup_ingest")) == 2 &&
        funnel((1, "decontam_winnow")) == 1,
        s"trigger-2 funnel: $funnel")
      // the winnow-rejected doc must NOT have claimed signatures: a
      // later redelivery of its content still reaches the winnow
      // stage (drops there), never the dedup stage
      val sigIds = spark.table("pipe_sigs")
        .select("id").distinct().collect().map(_.getLong(0)).toSet
      assert(!sigIds.contains(21L),
        "rejected docs must not extend the signature state")
      // structure: the stream's executions (job group = its run id,
      // trigger from the job description) scan the signature table
      // once per trigger, and none is a standalone global count
      val mine = starts.collect {
        case e: SparkListenerSQLExecutionStart
          if e.jobGroupId.contains(q.runId.toString) => e
      }
      def trigger(e: SparkListenerSQLExecutionStart) =
        "batch = (\\d+)".r.findFirstMatchIn(e.description).map(_.group(1).toInt)
      val sigScans = mine.filter(e => planNodes(e.sparkPlanInfo).exists(n =>
          n.nodeName.contains("Scan") && n.simpleString.contains("pipe_sigs")))
        .groupBy(trigger).map { case (t, es) => t -> es.size }
      assert(sigScans == Map(Some(0) -> 1, Some(1) -> 1),
        s"signature-table scans per trigger: $sigScans")
      val counts = mine.filter(e => planNodes(e.sparkPlanInfo).exists(n =>
        n.nodeName == "HashAggregate" &&
          n.simpleString.contains("keys=[], functions=[count(1)]")))
      assert(counts.size == 0, "standalone count executions")
      // each document's kernels run in one execution per trigger (the
      // batch pin), and the probe, pairs and append read its columns
      def computing(fn: String) = mine.filter(_.physicalPlanDescription.contains(fn))
        .groupBy(trigger).map { case (t, es) => t -> es.map(_.executionId).toSet }
      val sigExecs = computing("minhash_band_hashes")
      assert(sigExecs.keySet == Set(Some(0), Some(1)) && sigExecs.values.forall(_.size == 1),
        s"executions computing signatures per trigger: $sigExecs")
      assert(computing("gopher_stats") == sigExecs,
        "the Gopher stats and the signatures share the batch pin")
      // every join of the stream is planned as a broadcast or hash
      // join, initially and after adaptive re-planning
      val ids = mine.map(_.executionId).toSet
      val smj = mine.filter(_.physicalPlanDescription.contains("SortMergeJoin")).map(_.executionId) ++
        starts.collect { case u: SparkListenerSQLAdaptiveExecutionUpdate
          if ids(u.executionId) && u.physicalPlanDescription.contains("SortMergeJoin") => u.executionId }
      assert(smj.isEmpty, s"sort-merge joins in executions ${smj.distinct}")
      // each trigger's survivors extend the signature state by one file
      assert(files.sliding(2).map(w => w(1) - w(0)).toSeq == Seq(1, 1),
        s"signature-table data files after build and each trigger: $files")
    } finally spark.sql("DROP TABLE IF EXISTS pipe_sigs")
  }

  /** `n` seeded words, none shared with other draws (2^30 choices). */
  private def draw(rng: java.util.SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)("w" + rng.nextInt(1 << 30).toHexString)

  /** A Gopher-passing text (both stop words, then `ws`). */
  private def doc(ws: Seq[String]): String = ("the a" +: ws).mkString(" ")

  test("pipeline stream trigger: three executions, then concurrent sinks") {
    import graft.operators.Dedup
    import graft.queue.ParquetQueue
    import graft.schema.{GraftSchema, GraftType}
    import org.apache.spark.scheduler.SparkListenerJobStart
    val rng = new java.util.SplittableRandom(7L)
    val passage = draw(rng, 40)
    val corpus = Seq.tabulate(4)(i => (i.toLong + 1, doc(draw(rng, 60))))
    def batch(lo: Int): Seq[(Long, String)] = {
      val fresh = Seq.tabulate(36)(i => (lo + i.toLong, doc(draw(rng, 60))))
      fresh ++ Seq(
        (lo + 36L, corpus(lo % 4)._2),                      // corpus dup
        (lo + 37L, fresh.head._2 + " tail"),                // within-batch dup
        (lo + 38L, doc(draw(rng, 30) ++ passage)),          // quotes the eval doc
        (lo + 39L, "too short"))                            // Gopher fail
    }
    val schema = GraftSchema(("doc_id", GraftType.INTEGER), ("text", GraftType.TEXT))
    val q = new ParquetQueue(spark, Files.createTempDirectory("pipe_q").toString, schema)
    try {
      Dedup.buildSignatureTable(corpus.toDF("doc_id", "text"), "doc_id", "text", "pipe3_sigs")
      val eval = Seq((9001L, doc(passage))).toDF("doc_id", "text")
      val out = Files.createTempDirectory("pipe3_out").toString
      val ckpt = Files.createTempDirectory("pipe3_ckpt").toString
      val (sq, starts) = startsDuring {
        q.push(batch(100).toDF("doc_id", "text"))
        val sq = QueueStreaming.pipelineStream(q.readStream().select("doc_id", "text"),
          "doc_id", "text", eval, "pipe3_sigs", out, ckpt, stopWords = Seq("the", "a"))
        sq.processAllAvailable()
        q.push(batch(200).toDF("doc_id", "text"))
        sq.processAllAvailable()
        sq.stop()
        sq
      }
      val group = sq.runId.toString
      val execs = starts.collect {
        case e: SparkListenerSQLExecutionStart if e.jobGroupId.contains(group) => e
      }
      def trigger(e: SparkListenerSQLExecutionStart) =
        "batch = (\\d+)".r.findFirstMatchIn(e.description).map(_.group(1).toInt)
      val byTrigger = execs.groupBy(trigger)
      assert(byTrigger.keySet == Set(Some(0), Some(1)), s"triggers: ${byTrigger.keySet}")
      // a sink is a write command (an append is three nested ones);
      // the trigger's own root execution runs no job
      def sink(e: SparkListenerSQLExecutionStart) =
        "Execute \\w+Command".r.findFirstIn(e.physicalPlanDescription).isDefined
      byTrigger.foreach { case (t, es) =>
        val before = es.takeWhile(!sink(_)).filterNot(e => e.rootExecutionId.contains(e.executionId))
        assert(before.size <= 3, s"trigger $t: ${before.size} executions before its sinks")
        val winnow = es.filter(_.physicalPlanDescription.contains("winnow_fps"))
        assert(winnow.size == 1 && winnow.head.physicalPlanDescription.contains("gopher_stats") &&
          winnow.head.physicalPlanDescription.contains("minhash_band_hashes"),
          s"trigger $t: winnow_fps computed in executions ${winnow.map(_.executionId)}, not only the batch pin")
      }
      val jobs = starts.collect {
        case j: SparkListenerJobStart if j.properties.getProperty("spark.jobGroup.id") == group =>
          j.properties.getProperty("streaming.sql.batchId")
      }.groupBy(identity).map { case (b, js) => b -> js.size }
      // batch pin 2 (its fan shuffle), removed ids 4, flagged ids 8, sinks 3
      assert(jobs.keySet == Set("0", "1") && jobs.values.forall(_ <= 18), s"jobs per trigger: $jobs")
      // both sinks landed: the clean docs survive, the planted ones do not
      val kept = spark.read.parquet(s"$out/data").select("doc_id").as[Long].collect().toSet
      assert(kept == (Seq(100L, 200L).flatMap(lo => lo until lo + 36)).toSet, s"survivors: $kept")
    } finally {
      spark.sql("DROP TABLE IF EXISTS pipe3_sigs")
      q.dispose()
    }
  }

  test("pipeline stream stopped during its sinks writes nothing after stop returns") {
    import graft.operators.Dedup
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    implicit val sq = spark.sqlContext
    val rng = new java.util.SplittableRandom(5L)
    val corpus = Seq((1L, doc(draw(rng, 60)))).toDF("doc_id", "text")
    val eval = Seq((9001L, doc(draw(rng, 60)))).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("pipe_stop_out").toString
    val ckpt = Files.createTempDirectory("pipe_stop_ckpt").toString
    @volatile var group = ""
    val stopper = new java.util.concurrent.atomic.AtomicReference[Thread]()
    try {
      Dedup.buildSignatureTable(corpus, "doc_id", "text", "pipe_stop_sigs")
      val sigDir = new java.io.File(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("pipe_stop_sigs")).location)
      val sq = QueueStreaming.pipelineStream(mem.toDF().toDF("doc_id", "text"), "doc_id",
        "text", eval, "pipe_stop_sigs", out, ckpt, stopWords = Seq("the", "a"))
      group = sq.runId.toString
      // stop the query as soon as a sink's write command starts
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case x: SparkListenerSQLExecutionStart if x.jobGroupId.contains(group) &&
              x.physicalPlanDescription.contains("Execute InsertIntoHadoopFsRelationCommand") =>
            val t = new Thread(() => sq.stop())
            if (stopper.compareAndSet(null, t)) t.start()
          case _ =>
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        mem.addData(Seq.tabulate(40)(i => (10L + i, doc(draw(rng, 60)))): _*)
        sq.awaitTermination(120000)
        assert(stopper.get != null, "no sink started")
        stopper.get.join(120000)
        assert(!sq.isActive, "the query did not stop")
      } finally spark.sparkContext.removeSparkListener(listener)
      def written(): Map[String, Long] = Seq(new java.io.File(out), sigDir).flatMap { d =>
        Files.walk(d.toPath).toArray.map(_.asInstanceOf[java.nio.file.Path].toFile)
          .map(f => f.getPath -> (if (f.isFile) f.length else -1L))
      }.toMap
      val atStop = written()
      Thread.sleep(3000)
      assert(written() == atStop, "files changed after stop() returned")
    } finally spark.sql("DROP TABLE IF EXISTS pipe_stop_sigs")
  }

  test("pipeline stream equals the public operators composed per trigger") {
    import graft.operators.{Curate, Dedup}
    implicit val sq = spark.sqlContext
    val rng = new java.util.SplittableRandom(11L)
    val maxDf = 2L
    val passage = draw(rng, 40)
    def edit(ws: Seq[String], at: Seq[Int]): Seq[String] =
      ws.zipWithIndex.map { case (w, i) => if (at.contains(i)) draw(rng, 1).head else w }
    val c = Seq.fill(3)(draw(rng, 60))
    val cp = draw(rng, 30) ++ passage // a corpus doc quoting the eval doc
    val corpus = (c :+ cp).zipWithIndex.map { case (ws, i) => (i.toLong + 1, doc(ws)) }
    val v = edit(c(1), Seq(1, 2, 3))  // J(v, c1) = 57/63
    val w = edit(v, Seq(10, 11, 12))  // J(w, v) = 57/63, J(w, c1) = 54/66
    val d100 = draw(rng, 60)
    val d203 = draw(rng, 60)
    val q301 = draw(rng, 30) ++ passage
    def fill(lo: Long, n: Int) = Seq.tabulate(n)(i => (lo + i, doc(draw(rng, 60))))
    val batches = Seq(
      Seq((100L, doc(d100)),
        (101L, "too short"),                      // Gopher fail
        (102L, doc(c(0))),                        // corpus dup
        (103L, doc(edit(d100, Seq(5, 6)))),       // within-batch dup of 100
        (104L, doc(v)),                           // corpus hit
        (105L, doc(w)),                           // dup of the hit 104 only: stays
        (106L, doc(draw(rng, 30) ++ passage)),    // eval quote; its passage fps have
        (107L, doc(cp)),                          // df 3 with these two corpus hits
        (108L, doc(cp))) ++ fill(110L, 8),        // and df 1 without them
      Seq((200L, doc(edit(d100, Seq(40)))),       // dup of a trigger-0 survivor
        (201L, doc(draw(rng, 30) ++ passage)),
        (202L, doc(edit(d100, Seq(5, 6)))),       // another near-dup of 100
        (203L, doc(d203)),
        (204L, doc(edit(d203, Seq(7)))),          // within-batch dups of 203
        (205L, doc(edit(d203, Seq(8))))) ++ fill(210L, 8),
      Seq((300L, doc(w)),                         // dup of the trigger-0 survivor 105
        (301L, doc(q301)),                        // eval quote ...
        (302L, doc(edit(q301, Seq(0)))),          // ... and its within-batch dup
        (303L, "the a short")) ++ fill(310L, 8))
    val eval = Seq((9001L, doc(passage))).toDF("doc_id", "text")
    val stop = Seq("the", "a")
    try {
      Seq("exact_sigs", "exact_ref_sigs").foreach(t =>
        Dedup.buildSignatureTable(corpus.toDF("doc_id", "text"), "doc_id", "text", t))
      // the reference: the parent's composition of the public operators
      val ref = batches.map { rows =>
        val batch = rows.toDF("doc_id", "text")
        def ids(df: org.apache.spark.sql.DataFrame) = df.as[Long].collect().toSet
        def only(s: Set[Long]) = batch.filter(col("doc_id").isin(s.toSeq: _*))
        val g = ids(Curate.gopherFlags(batch, "doc_id", "text", stopWords = stop)
          .filter(col("keep") === 1).select("doc_id"))
        val hits = ids(Dedup.minhashAgainstTable(only(g), "doc_id", "text", "exact_ref_sigs")
          .filter(col("incoming_id") =!= col("corpus_id")).select("incoming_id"))
        val pairs = Dedup.minhashPairs(only(g), "doc_id", "text", minJaccard = 0.9)
          .select("doc_id1", "doc_id2").as[(Long, Long)].collect()
        val deduped = g -- hits -- pairs.collect { case (a, b) if !hits(a) => b }
        val flagged = ids(Dedup.winnowedAgainst(only(deduped), "doc_id", "text", eval,
          "doc_id", "text", maxDf = maxDf).select("id"))
        val kept = deduped -- flagged
        Dedup.appendSignatures(only(kept), "doc_id", "text", "exact_ref_sigs")
        (kept, Map("ingest" -> rows.size.toLong, "gopher" -> g.size.toLong,
          "dedup_ingest" -> deduped.size.toLong, "decontam_winnow" -> kept.size.toLong))
      }
      // the planted cases do what they are planted for
      assert(ref(0)._1 == Set(100L, 105L) ++ (110L until 118L), s"trigger 0: ${ref(0)._1}")
      assert(ref(1)._1 == Set(203L) ++ (210L until 218L), s"trigger 1: ${ref(1)._1}")
      assert(ref(2)._1 == (310L until 318L).toSet, s"trigger 2: ${ref(2)._1}")
      val mem = MemoryStream[(Long, String)]
      val out = Files.createTempDirectory("exact_out").toString
      val ckpt = Files.createTempDirectory("exact_ckpt").toString
      val q = QueueStreaming.pipelineStream(mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        eval, "exact_sigs", out, ckpt, stopWords = stop, maxDf = maxDf)
      batches.foreach { rows => mem.addData(rows: _*); q.processAllAvailable() }
      q.stop()
      batches.indices.foreach { t =>
        val kept = spark.read.parquet(s"$out/data/batch=$t").select("doc_id").as[Long].collect().toSet
        assert(kept == ref(t)._1, s"trigger $t survivors")
        val funnel = spark.read.parquet(s"$out/funnel/batch=$t").select("stage", "n_docs")
          .as[(String, Long)].collect().toMap
        assert(funnel == ref(t)._2, s"trigger $t funnel")
      }
      def sigRows(t: String) = spark.table(t).select("id", "band", "bucket", "ids")
        .as[(Long, Int, Long, Seq[Long])].collect().toSeq.sortBy(r => (r._1, r._2))
      assert(sigRows("exact_sigs") == sigRows("exact_ref_sigs"), "signature tables differ")
    } finally Seq("exact_sigs", "exact_ref_sigs").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("containment ingest drops quoted excerpts, keeps supersets") {
    import graft.operators.Dedup
    implicit val sq = spark.sqlContext
    def words(p: String, a: Int, b: Int) = (a to b).map(i => s"$p$i").mkString(" ")
    val corpus = Seq(
      (1L, words("p", 1, 20)),
      (2L, words("q", 1, 8)))
      .toDF("doc_id", "text")
    try {
      Dedup.buildContainTable(corpus, "doc_id", "text", "ingest_contain")
      val mem = MemoryStream[(Long, String)]
      val outDir = Files.createTempDirectory("cingest_out").toString
      val ckpt = Files.createTempDirectory("cingest_ckpt").toString
      val q = QueueStreaming.containmentIngest(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        "ingest_contain", outDir, ckpt)
      mem.addData(
        (10L, words("p", 3, 12)),              // excerpt of corpus 1: drop
        (11L, words("f", 1, 10)),              // fresh: keep
        (12L, words("f", 2, 9)),               // excerpt of 11, same trigger: drop
        (15L, words("q", 1, 8) + " r1 r2 r3")) // SUPERSET of corpus 2: keep
      q.processAllAvailable()
      mem.addData(
        (13L, words("f", 3, 10)),              // excerpt of trigger-1's 11: drop
        (14L, words("g", 1, 8)))               // fresh: keep
      q.processAllAvailable()
      q.stop()
      val kept = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(11L, 14L, 15L),
        s"corpus/within-batch/cross-trigger excerpts dropped, " +
          s"supersets kept; got $kept")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ingest_contain")
      spark.sql("DROP TABLE IF EXISTS ingest_contain_sets")
    }
  }

  test("streaming winnow gate flags verbatim eval quotes across triggers") {
    import graft.operators.Dedup
    implicit val sq = spark.sqlContext
    val passage = "0123456789abcdefghijklm" // w + k - 1
    val eval = Seq((100L, s"EVAL $passage MORE EVAL TEXT HERE"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val outDir = Files.createTempDirectory("wdg_out").toString
    val ckpt = Files.createTempDirectory("wdg_ckpt").toString
    val q = QueueStreaming.winnowDecontaminationGateStream(
      mem.toDF().toDF("doc_id", "text"), eval, "doc_id", "text",
      outDir, ckpt, minShared = 1L, maxDf = 100L)
    mem.addData(
      (1L, s"pppp qqqq $passage rrrr ssss"), // quotes: must flag
      (2L, "uuuu vvvv wwww xxxx yyyy zzzz"))
    q.processAllAvailable()
    mem.addData((3L, s"aaaa bbbb cccc $passage dddd"))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(outDir)
      .select("doc_id", "contaminated", "n_shared")
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2))))
      .toMap
    assert(got(1L)._1 && got(1L)._2 >= 1L, "trigger-1 quote must flag")
    assert(!got(2L)._1 && got(2L)._2 == 0L, "clean doc must land unflagged")
    assert(got(3L)._1, "the guarantee must hold on every trigger")
    // streamed verdicts equal the batch L105 probe over the union
    val union = Seq((1L, s"pppp qqqq $passage rrrr ssss"),
      (2L, "uuuu vvvv wwww xxxx yyyy zzzz"),
      (3L, s"aaaa bbbb cccc $passage dddd")).toDF("doc_id", "text")
    val batchFlagged = Dedup.winnowedAgainst(union, "doc_id", "text",
        eval, "doc_id", "text", minShared = 1L, maxDf = 100L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got.filter(_._2._1).keySet == batchFlagged)
  }

  test("streaming content drift equals the batch diff; replay adds nothing") {
    import graft.operators.Dedup
    implicit val sq = spark.sqlContext
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val baseline = Dedup.contentInventory(base, "text", "source")
      .localCheckpoint(true)
    // the "next release" arrives as a stream: half the docs, in two
    // triggers, some edited
    val rows = base.filter(col("doc_id") % 2 === 0)
      .withColumn("text", when(col("doc_id") % 6 === 0,
        concat(col("text"), lit(" new release content"))).otherwise(col("text")))
      .select("text", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(String, String)]
    val store = Files.createTempDirectory("cds_store").toString + "/s"
    val ckpt = Files.createTempDirectory("cds_ckpt").toString
    val q = QueueStreaming.contentDriftStream(
      mem.toDF().toDF("text", "source"), "text", "source", store, ckpt)
    mem.addData(b1.toIndexedSeq: _*)
    q.processAllAvailable()
    // a REPLAYED batch must add nothing to the inventory
    val n1 = spark.read.parquet(s"$store/batch=0").count()
    mem.addData(b1.toIndexedSeq: _*)
    q.processAllAvailable()
    assert(spark.read.parquet(s"$store/batch=1").count() == n1,
      "replaying trigger-1's rows must not grow the inventory")
    mem.addData(b2.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = QueueStreaming.contentDriftFromStore(spark, store, baseline)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val relB = b1.concat(b2).toSeq.zipWithIndex
      .map { case ((t, s), i) => (i.toLong, t, s) }
      .toDF("doc_id", "text", "source")
    val batch = Dedup.contentDiff(base, relB, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(streamed == batch, "streamed drift diverged from the batch diff")
  }

  test("streaming AUC monitor equals batch AUC after every trigger") {
    import graft.operators.Curate
    implicit val sq = spark.sqlContext
    // scores with cross-batch TIES (both batches contribute to the
    // same mv rows) — the fold must merge, not append
    val b1 = Seq((10L, true), (20L, false), (30L, true), (20L, true))
    val b2 = Seq((20L, false), (30L, false), (40L, true), (10L, false))
    val mem = MemoryStream[(Long, Boolean)]
    val store = Files.createTempDirectory("auc_store").toString + "/s"
    val ckpt = Files.createTempDirectory("auc_ckpt").toString
    val q = QueueStreaming.aucMonitorStream(
      mem.toDF().toDF("sc", "lab"), "sc", "lab", store, ckpt)
    def batchAuc(rows: Seq[(Long, Boolean)]): Long =
      Curate.aucExact(rows.zipWithIndex
          .map { case ((s, l), i) => (i.toLong, s, l) }
          .toDF("id", "sc", "lab"), "sc", "lab")
        .head().getAs[Long]("auc_micro")
    mem.addData(b1: _*)
    q.processAllAvailable()
    val auc1 = QueueStreaming.aucFromStore(spark, store)
      .head().getAs[Long]("auc_micro")
    assert(auc1 == batchAuc(b1), "trigger-1 AUC diverged")
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val auc2 = QueueStreaming.aucFromStore(spark, store)
      .head().getAs[Long]("auc_micro")
    assert(auc2 == batchAuc(b1 ++ b2), "folded AUC diverged from batch")
    // the state is score-distinct-bounded, not event-bounded
    val state = spark.read.parquet(s"$store/batch=1")
    assert(state.count() == 4, "state must be one row per distinct score")
  }

  test("snapshot-chain trigger and store read find their version without a Spark action") {
    // a version is found by one listing of the store: neither a
    // steady-state fold nor a latest-snapshot read runs a max(batch)
    // aggregate over every retained version
    import org.apache.spark.scheduler.SparkListenerJobStart
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Boolean)]
    val store = Files.createTempDirectory("aucjobs_store").toString + "/s"
    val ckpt = Files.createTempDirectory("aucjobs_ckpt").toString
    val q = QueueStreaming.aucMonitorStream(
      mem.toDF().toDF("sc", "lab"), "sc", "lab", store, ckpt)
    def jobs(starts: Seq[org.apache.spark.scheduler.SparkListenerEvent],
             group: String, batchId: Option[String]) = starts.count {
      case j: SparkListenerJobStart =>
        val p = j.properties
        p != null && p.getProperty("spark.jobGroup.id") == group &&
          batchId.forall(_ == p.getProperty("streaming.sql.batchId"))
      case _ => false
    }
    try {
      mem.addData((10L, true), (20L, false)); q.processAllAvailable()
      mem.addData((30L, true), (20L, true)); q.processAllAvailable()
      // batch 2 folds into an existing prior version
      val (_, fold) = startsDuring {
        mem.addData((40L, true), (10L, false)); q.processAllAvailable()
      }
      val group = s"auc-read-${java.util.UUID.randomUUID}"
      val (_, read) = startsDuring {
        spark.sparkContext.setJobGroup(group, "aucFromStore")
        try QueueStreaming.aucFromStore(spark, store).collect()
        finally spark.sparkContext.clearJobGroup()
      }
      val foldJobs = jobs(fold, q.runId.toString, Some("2"))
      val readJobs = jobs(read, group, None)
      // a max(batch) lookup was 2 jobs (its aggregate's shuffle stage
      // and the result), on top of a schema-inference job per read of
      // the whole store: 6 and 16 jobs when versions were found that way
      assert((foldJobs, readJobs) == ((4, 13)),
        s"jobs (steady-state trigger, aucFromStore): ($foldJobs, $readJobs)")
    } finally q.stop()
  }

  test("snapshot-chain auto-retention: 6-trigger AUC store stays bounded, parity intact") {
    // r14 verdict item 5: an UNATTENDED snapshot-chain monitor must
    // not retain one full state copy per batch forever. Drive 6
    // triggers with compactEvery=2 and assert (a) the store's version
    // count stays <= keep + compactEvery (the bound between two
    // compaction points), (b) the folded statistic still equals the
    // batch twin over the full history — compaction must never eat
    // state a later fold reads.
    import graft.operators.Curate
    implicit val sq = spark.sqlContext
    val batches: Seq[Seq[(Long, Boolean)]] = Seq(
      Seq((10L, true), (20L, false)), Seq((30L, true), (20L, true)),
      Seq((20L, false), (40L, true)), Seq((10L, false), (30L, false)),
      Seq((50L, true), (20L, true)), Seq((40L, false), (10L, true)))
    val mem = MemoryStream[(Long, Boolean)]
    val store = Files.createTempDirectory("aucr_store").toString + "/s"
    val ckpt = Files.createTempDirectory("aucr_ckpt").toString
    val q = QueueStreaming.aucMonitorStream(
      mem.toDF().toDF("sc", "lab"), "sc", "lab", store, ckpt,
      compactEvery = 2)
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch="))
    assert(versions.length <= 4,
      s"store must stay bounded under auto-compaction, found " +
        s"${versions.sorted.mkString(", ")}")
    // the newest version must be among the survivors and fold exactly
    val all = batches.flatten
    val batchAuc = Curate.aucExact(all.zipWithIndex
        .map { case ((s, l), i) => (i.toLong, s, l) }
        .toDF("id", "sc", "lab"), "sc", "lab")
      .head().getAs[Long]("auc_micro")
    val streamAuc = QueueStreaming.aucFromStore(spark, store)
      .head().getAs[Long]("auc_micro")
    assert(streamAuc == batchAuc,
      "compacted 6-trigger AUC diverged from the batch twin")
  }

  test("streaming calibration monitor equals batch reliability after every trigger") {
    import graft.operators.Curate
    implicit val sq = spark.sqlContext
    // scores spread over bins, with cross-batch contributions to the
    // SAME bins (the fold must merge n/n_pos/Σp, not append rows)
    val b1 = Seq((150000L, false), (150000L, true), (950000L, true),
      (1000000L, true))
    val b2 = Seq((180000L, false), (990000L, true), (1000000L, false))
    val mem = MemoryStream[(Long, Boolean)]
    val store = Files.createTempDirectory("cal_store").toString + "/s"
    val ckpt = Files.createTempDirectory("cal_ckpt").toString
    val q = QueueStreaming.calibrationMonitorStream(
      mem.toDF().toDF("p", "y"), "p", "y", store, ckpt)
    def batchBins(rows: Seq[(Long, Boolean)]): Map[Long, Seq[Any]] =
      Curate.calibrationBins(rows.toDF("p", "y"), "p", "y")
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    mem.addData(b1: _*)
    q.processAllAvailable()
    val s1 = QueueStreaming.calibrationFromStore(spark, store)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(s1 == batchBins(b1), "trigger-1 diagram diverged")
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val s2 = QueueStreaming.calibrationFromStore(spark, store)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(s2 == batchBins(b1 ++ b2), "folded diagram diverged from batch")
    // ECE derives off the same store rows
    val ece = Curate.calibrationSummary(
      spark.read.parquet(s"$store/batch=1")
        .select("bin", "n", "n_pos", "sp")
        .transform(Curate.calibrationFromStats)).head()
    val eceB = Curate.calibrationSummary(
      Curate.calibrationBins((b1 ++ b2).toDF("p", "y"), "p", "y")).head()
    assert(ece.getLong(1) == eceB.getLong(1), "streamed ECE diverged")
    // state is bin-bounded, never event-bounded
    assert(spark.read.parquet(s"$store/batch=1").count() <= 10)
  }

  test("streaming isotonic calibrator: store-derived fit + apply equal the batch twins") {
    import graft.operators.Curate
    implicit val sq = spark.sqlContext
    // violator-rich scores so the PAV fit actually pools across bins,
    // with both triggers contributing to shared bins
    val b1 = Seq((50000L, true), (150000L, false), (250000L, true),
      (350000L, false), (650000L, true), (950000L, true))
    val b2 = Seq((80000L, false), (320000L, true), (680000L, false),
      (980000L, true), (990000L, true))
    val mem = MemoryStream[(Long, Boolean)]
    val store = Files.createTempDirectory("iso_store").toString + "/s"
    val ckpt = Files.createTempDirectory("iso_ckpt").toString
    val q = QueueStreaming.calibrationMonitorStream(
      mem.toDF().toDF("p", "y"), "p", "y", store, ckpt)
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // the store-derived PAV fit equals the batch fit on ALL traffic
    val fromStore = QueueStreaming.isotonicFromStore(spark, store)
      .orderBy("bin").collect().map(_.toSeq)
    val batch = Curate.isotonicCalibrate((b1 ++ b2).toDF("p", "y"),
        "p", "y").orderBy("bin").collect().map(_.toSeq)
    assert(fromStore.toSeq == batch.toSeq,
      "store-derived isotonic fit diverged from the batch twin")
    // ...and the serve-time apply through the store fit matches the
    // batch-fit apply row for row
    val serve = Seq((1L, 120000L), (2L, 480000L), (3L, 870000L))
      .toDF("id", "p")
    val aStore = Curate.isotonicApply(serve, "p",
        QueueStreaming.isotonicFromStore(spark, store))
      .orderBy("id").collect().map(_.toSeq)
    val aBatch = Curate.isotonicApply(serve, "p",
        Curate.isotonicCalibrate((b1 ++ b2).toDF("p", "y"), "p", "y"))
      .orderBy("id").collect().map(_.toSeq)
    assert(aStore.toSeq == aBatch.toSeq,
      "store-derived serve apply diverged from the batch twin")
  }

  test("streaming conformal calibrator: store thresholds equal the batch scan") {
    import graft.operators.Curate
    implicit val sq = spark.sqlContext
    // both triggers hit shared nonconformity values (the fold must
    // merge counts) and leave class sizes where alpha=400 has a real
    // threshold while alpha=100's k exceeds the neg class
    val b1 = Seq((900000L, true), (800000L, true), (700000L, true),
      (100000L, false), (200000L, false))
    val b2 = Seq((600000L, true), (500000L, true), (100000L, false))
    val mem = MemoryStream[(Long, Boolean)]
    val store = Files.createTempDirectory("conf_store").toString + "/s"
    val ckpt = Files.createTempDirectory("conf_ckpt").toString
    val q = QueueStreaming.conformalStream(
      mem.toDF().toDF("p", "y"), "p", "y", store, ckpt)
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // store-derived thresholds == the batch count-table scan on ALL
    // calibration traffic
    val all = (b1 ++ b2).toDF("p", "y")
    val batchCounts = all.select(
        when(col("y"), lit("pos")).otherwise(lit("neg")).as("cls"),
        when(col("y"), lit(1000000L) - col("p")).otherwise(col("p"))
          .cast("long").as("s"))
      .groupBy("cls", "s").agg(count(lit(1)).as("c"))
    val batch = Curate.conformalThresholdsFromCounts(batchCounts,
        Seq(100, 400)).orderBy("alpha_pm", "cls").collect().map(_.toSeq)
    val stream = QueueStreaming.conformalFromStore(spark, store,
        Seq(100, 400)).orderBy("alpha_pm", "cls").collect().map(_.toSeq)
    assert(stream.toSeq == batch.toSeq,
      "store-derived conformal thresholds diverged from the batch twin")
    // hand value: neg class n=3, alpha=400 → k = ceil(4·0.6) = 3 →
    // threshold = 3rd smallest neg nonconformity = 200000; alpha=100
    // → k = 4 > 3 → include-always
    val m = stream.map(r => (r(0), r(1)) -> r(3)).toMap
    assert(m((400L, "neg")) == 200000L, s"$m")
    assert(m((100L, "neg")) == 1000001L, s"$m")
    // state is value-bounded: counts merged, not appended
    val st = spark.read.parquet(s"$store/batch=1")
    assert(st.count() == st.select("cls", "s").distinct().count())
  }

  test("streaming PII monitor folds per-source counts exactly") {
    import graft.operators.Curate
    implicit val sq = spark.sqlContext
    val b1 = Seq(("a", "mail x@y.de now"), ("a", "clean text"),
      ("b", "host 10.1.2.3 up"))
    val b2 = Seq(("a", "call +4930123456"), ("b", "from 8.8.8.8 and 9.9.9.9"),
      ("b", "mail z@w.org"))
    val mem = MemoryStream[(String, String)]
    val store = Files.createTempDirectory("pii_store").toString + "/s"
    val ckpt = Files.createTempDirectory("pii_ckpt").toString
    val q = QueueStreaming.piiMonitorStream(
      mem.toDF().toDF("source", "text"), "source", "text", store, ckpt)
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val got = QueueStreaming.piiRatesFromStore(spark, store)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // batch twin over the union
    val all = (b1 ++ b2).zipWithIndex
      .map { case ((s, t), i) => (i.toLong, s, t) }.toDF("id", "source", "text")
    val batch = Curate.piiScan(all, "id", "text")
      .join(all.select(col("id").as("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_email").as("e"),
        sum("n_ip").as("i"), sum("n_phone").as("p"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == batch, s"streamed $got diverged from batch $batch")
    // rates render off the folded state
    val rates = QueueStreaming.piiRatesFromStore(spark, store)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("email_pm")).toMap
    assert(rates("a") == 333L, s"a: 1 email / 3 docs -> 333 pm, got $rates")
  }

  test("streaming embedding moments fold exactly; derived model aligns with batch fit") {
    import graft.operators.Whiten
    implicit val sq = spark.sqlContext
    // planted dominant direction u = (0.6, 0.8, 0, 0) — same corpus
    // shape as WhitenSpec, split across two triggers
    def vec(i: Int): (Long, Seq[Float]) = {
      val a = (i - 20.5) / 20.0
      (i.toLong, Seq(a * 0.6 + 0.001 * (i % 3), a * 0.8 - 0.001 * (i % 2),
        0.002, -0.002).map(_.toFloat))
    }
    val all = (1 to 40).map(vec)
    val (b1, b2) = all.splitAt(20)
    val mem = MemoryStream[(Long, Seq[Float])]
    val store = Files.createTempDirectory("mom_store").toString + "/s"
    val ckpt = Files.createTempDirectory("mom_ckpt").toString
    val q = QueueStreaming.embedMomentStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      store, ckpt)
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // folded state == one-shot batch moments, EXACTLY (additivity)
    val batchDf = all.toDF("vec_id", "embedding")
    val folded = spark.read.parquet(s"$store/batch=1")
      .select("i", "j", "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> BigDecimal(r.getDecimal(2)))
      .toMap
    val direct = Whiten.momentStats(batchDf, "vec_id", "embedding")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> BigDecimal(r.getDecimal(2)))
      .toMap
    assert(folded == direct, "streamed moment state diverged from batch")
    // derived model: mean exact vs batch fit, direction aligned
    val (n, muS, vS) = QueueStreaming.whitenModelFromStore(spark, store,
      rounds = 4)
    val (nB, muB, vB) = Whiten.fit(batchDf, "vec_id", "embedding",
      rounds = 4)
    assert(n == nB && muS.toSeq == muB.toSeq, "mean must match exactly")
    val dot = vS.zip(vB).map { case (a, b) => a.toDouble * b }.sum
    val cos = dot / (math.sqrt(vS.map(x => x.toDouble * x).sum) *
      math.sqrt(vB.map(x => x.toDouble * x).sum))
    assert(cos > 0.999,
      s"store-derived direction off batch fit: cos=$cos")
  }

  test("streaming mixture reweight folds stats exactly; weights match batch twin") {
    import graft.operators.Mix
    implicit val sq = spark.sqlContext
    val ref = spark.read.parquet(s"$sfDir/documents.parquet")
    val modelPath = Files.createTempDirectory("mw_model").toString + "/m"
    Mix.freezeBigramModel(ref, "text", modelPath)
    val half = ref.select("text", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val (b1, b2) = half.splitAt(half.length / 2)
    val mem = MemoryStream[(String, String)]
    val store = Files.createTempDirectory("mw_store").toString + "/s"
    val ckpt = Files.createTempDirectory("mw_ckpt").toString
    val q = QueueStreaming.mixtureReweightStream(
      mem.toDF().toDF("text", "source"), "text", "source", modelPath,
      store, ckpt)
    mem.addData(b1.toIndexedSeq: _*)
    q.processAllAvailable()
    // trigger-1 isolation: snapshot 0 covers only the first batch
    val snap0 = spark.read.parquet(s"$store/batch=0")
      .agg(sum("nb")).head().getLong(0)
    mem.addData(b2.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val batchStats = Mix.domainLossStats(ref, "text", "source", modelPath)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(snap0 < batchStats.values.map(_._2).sum,
      "snapshot 0 must cover only trigger 1")
    // folded streaming stats == one-shot batch stats (additivity)
    val folded = spark.read.parquet(s"$store/batch=1")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(folded == batchStats, "streamed sufficient stats diverged")
    // derived weights == the L100 batch operator on the same loss
    val streamW = QueueStreaming.reweightFromStore(spark, store, rounds = 6)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    val batchW = Mix.mixtureReweight(
        Mix.domainLossFromStats(Mix.domainLossStats(ref, "text", "source",
          modelPath)), "domain", "loss", rounds = 6)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(streamW == batchW, "streaming weights diverged from batch twin")
  }

  test("winnow ingest drops shared-passage dups across corpus, batch, triggers") {
    import graft.operators.Dedup
    implicit val sq = spark.sqlContext
    def words(p: String, a: Int, b: Int) = (a to b).map(i => s"$p$i").mkString(" ")
    // corpus doc 1 carries passage P; an incoming doc that QUOTES P
    // inside otherwise-fresh text is neither a resemblance dup nor
    // contained — the winnow gate still drops it
    val corpus = Seq((1L, words("a", 1, 12) + " " + words("s", 1, 30)))
      .toDF("doc_id", "text")
    try {
      Dedup.buildWinnowTable(corpus, "doc_id", "text", "ingest_winnow")
      val mem = MemoryStream[(Long, String)]
      val outDir = Files.createTempDirectory("wingest_out").toString
      val ckpt = Files.createTempDirectory("wingest_ckpt").toString
      val q = QueueStreaming.winnowIngest(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        "ingest_winnow", outDir, ckpt, minShared = 4L)
      mem.addData(
        (10L, words("b", 1, 12) + " " + words("s", 1, 30)), // quotes P: drop
        (11L, words("c", 1, 12) + " " + words("f", 1, 30)), // fresh: keep
        (12L, words("d", 1, 12) + " " + words("f", 5, 25))) // quotes 11, same trigger: drop
      q.processAllAvailable()
      mem.addData(
        (13L, words("e", 1, 12) + " " + words("f", 3, 28)), // quotes trigger-1's 11: drop
        (14L, words("g", 1, 12) + " " + words("h", 1, 30))) // fresh: keep
      q.processAllAvailable()
      q.stop()
      val kept = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(11L, 14L),
        s"corpus/within-batch/cross-trigger passage dups dropped, got $kept")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ingest_winnow")
      spark.sql("DROP TABLE IF EXISTS ingest_winnow_sets")
    }
  }

  test("streaming pack cuts budget shards that persist across triggers") {
    import graft.streaming.QueueStreaming.{Doc, PackedDoc}
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Doc]
    val out = QueueStreaming.packStream(mem.toDS(), budgetTokens = 6)
    val ckpt = Files.createTempDirectory("packst").toString
    val q = out.writeStream.format("memory").queryName("packst")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt).start()
    // source a: 3-token docs, budget 6 -> two docs per shard;
    // source b gets its own independent numbering
    mem.addData(Doc("a", 1L, 3L), Doc("a", 2L, 3L), Doc("b", 1L, 6L))
    q.processAllAvailable()
    // the next trigger continues the prefix: doc 3 starts shard 1
    mem.addData(Doc("a", 3L, 3L), Doc("a", 4L, 3L), Doc("b", 2L, 5L))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM packst").as[PackedDoc].collect()
      .map(p => (p.source, p.doc_id) -> p.shard).toMap
    q.stop()
    assert(rows == Map(
      ("a", 1L) -> 0L, ("a", 2L) -> 0L, ("a", 3L) -> 1L, ("a", 4L) -> 1L,
      ("b", 1L) -> 0L, ("b", 2L) -> 1L))
  }

  test("dedup stream drops redelivered ids") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "id")
    val out = QueueStreaming.dedupStream(df, "ts", "id", "10 seconds")
    val ckpt = Files.createTempDirectory("dedup").toString
    val q = out.writeStream.format("memory").queryName("dedupst")
      .option("checkpointLocation", ckpt).start()
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    mem.addData((t0, 1L), (t0, 2L), (t0, 1L))
    q.processAllAvailable()
    mem.addData((t0, 2L), (t0, 3L))
    q.processAllAvailable()
    val n = spark.sql("SELECT count(DISTINCT id) c, count(*) n FROM dedupst").collect().head
    q.stop()
    assert(n.getLong(0) == 3 && n.getLong(1) == 3)
  }

  test("streaming upsert view: latest wins, tombstones delete, state survives triggers") {
    import graft.streaming.QueueStreaming.{Change, Upserted}
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Change]
    val out = QueueStreaming.upsertStream(mem.toDS(), tombstone = "error")
    val ckpt = Files.createTempDirectory("upsertst").toString
    val q = out.writeStream.format("memory").queryName("upsertst")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt).start()
    mem.addData(Change(1L, 1L, "signup", 1.0), Change(2L, 1L, "view", 2.0))
    q.processAllAvailable()
    // trigger 2: user 1 tombstoned (latest seq), user 2 updated; a
    // stale seq-0 change counts but must not regress user 2's view
    mem.addData(Change(1L, 3L, "error", 0.0),
      Change(2L, 2L, "purchase", 9.5), Change(2L, 0L, "click", 7.0))
    q.processAllAvailable()
    // trigger 3: the tombstoned key revives — its state was CLEARED
    // (O(live keys) contract), so the new version starts a fresh
    // change count
    mem.addData(Change(1L, 4L, "signup", 5.0))
    q.processAllAvailable()
    // the changelog's LAST row per key (max last_seq) is the current view
    val rows = spark.sql(
      """SELECT user_id, last_type, last_value, last_seq, n_changes, deleted
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                   ORDER BY last_seq DESC) AS rn
        |      FROM upsertst) WHERE rn = 1""".stripMargin)
      .collect()
      .map(r => r.getLong(0) ->
        Upserted(r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5))).toMap
    val tomb = spark.sql(
      "SELECT * FROM upsertst WHERE user_id = 1 AND last_seq = 3").collect()
    q.stop()
    assert(tomb.length == 1 && tomb.head.getBoolean(5), "tombstone row missing")
    assert(rows(1L) == Upserted(1L, "signup", 5.0, 4L, 1L, deleted = false))
    assert(rows(2L) == Upserted(2L, "purchase", 9.5, 2L, 3L, deleted = false))
  }

  test("stream-stream interval join attributes clicks within the window") {
    implicit val sq = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long)]
    val clicks = MemoryStream[(Timestamp, Long)]
    val out = QueueStreaming.intervalJoin(
      imps.toDF().toDF("imp_ts", "ad_id"),
      clicks.toDF().toDF("click_ts", "ad_id"),
      "ad_id", "imp_ts", "click_ts", withinMs = 5000L, delay = "2 seconds")
    val ckpt = Files.createTempDirectory("ssjoin").toString
    val q = out.writeStream.format("memory").queryName("attributed")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt).start()
    def t(s: Int) = Timestamp.valueOf(f"2024-01-01 10:00:${s}%02d")
    imps.addData((t(0), 1L), (t(0), 2L), (t(10), 3L))
    // ad 1 clicked in-window (3s), ad 2 clicked out-of-window (8s),
    // ad 3 clicked in-window, wrong key 9 never impressed
    clicks.addData((t(3), 1L), (t(8), 2L), (t(12), 3L), (t(3), 9L))
    q.processAllAvailable()
    val got = spark.sql("SELECT ad_id FROM attributed ORDER BY ad_id")
      .collect().map(_.getLong(0)).toSeq
    q.stop()
    assert(got == Seq(1L, 3L), s"expected ads 1 and 3 attributed, got $got")
  }

  test("streaming sketch monitor: running state equals the batch twin per trigger") {
    implicit val sq = spark.sqlContext
    import graft.operators.Dedup
    import spark.implicits._
    val corpus = table("documents")
    val rows = corpus.select("doc_id", "text", "source").orderBy("doc_id")
      .limit(40)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val mem = MemoryStream[(Long, String, String)]
    val out = Files.createTempDirectory("sk_out").toString
    val ckpt = Files.createTempDirectory("sk_ck").toString
    val sketches = Files.createTempDirectory("sk_state").toString
    val k = 8
    val q = QueueStreaming.sketchMonitorStream(
      mem.toDF().toDF("doc_id", "text", "source"), "text", "source",
      k, sketches, out, ckpt)
    mem.addData(rows.take(20).toSeq: _*)
    q.processAllAvailable()
    mem.addData(rows.drop(20).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    def df(rs: Seq[(Long, String, String)]) = rs.toDF("doc_id", "text", "source")
    // after trigger 1 the reported matrix equals the batch twin over
    // ALL streamed rows (bottom-k mergeability end-to-end)
    val cols = Seq("g1", "g2", "m", "n_common", "j_est_ppm",
      "c_ab_est_ppm", "c_ba_est_ppm")
    val streamed = spark.read.parquet(s"$out/batch=1")
      .select(cols.map(col): _*)
      .collect().map(_.toSeq).toSet
    val twin = Dedup.sketchResemblance(
        Dedup.corpusSketch(df(rows.toSeq), "text", "source", k), k)
      .select(cols.map(col): _*)
      .collect().map(_.toSeq).toSet
    assert(streamed == twin,
      s"streamed matrix diverged from the batch twin")
    assert(streamed.nonEmpty)
  }

  test("streaming profile monitor: running profile equals the batch twin") {
    implicit val sq = spark.sqlContext
    import graft.operators.Observe
    import spark.implicits._
    val src = table("orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey").limit(60)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val mem = MemoryStream[(Long, String, Double)]
    val out = Files.createTempDirectory("prof_out").toString
    val ckpt = Files.createTempDirectory("prof_ck").toString
    val state = Files.createTempDirectory("prof_state").toString
    val cols = Seq("o_orderkey", "o_orderstatus", "o_totalprice")
    val q = QueueStreaming.profileMonitorStream(
      mem.toDF().toDF("o_orderkey", "o_orderstatus", "o_totalprice"),
      cols, state, out, ckpt)
    mem.addData(src.take(30).toSeq: _*)
    q.processAllAvailable()
    mem.addData(src.drop(30).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    def df(rs: Seq[(Long, String, Double)]) =
      rs.toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    // after trigger 1 the running profile equals the batch twin built
    // from the SAME per-batch partitioning (sketch states identical)
    val twin = Observe.mergeProfiles(
        Observe.profileByPartition(df(src.take(30).toSeq), lit("0"), cols)
          .unionByName(
            Observe.profileByPartition(df(src.drop(30).toSeq), lit("1"), cols)))
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val got = spark.read.parquet(s"$out/batch=1").drop("batch_id")
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(got === twin, "streamed running profile diverged from batch twin")
    // counts/min/max are exact vs a direct profile of all streamed rows
    val direct = Observe.profileTable(df(src.toSeq), cols).collect()
      .map(r => r.getString(0) -> r.toSeq).toMap
    cols.foreach { c =>
      assert(got(c).updated(3, direct(c)(3)) === direct(c),
        s"streamed non-NDV fields must equal the direct profile: $c")
    }
    // replay safety: rewriting a batch's own partition leaves the
    // running profile unchanged
    Observe.profileByPartition(df(src.drop(30).toSeq), lit("1"), cols)
      .write.mode("overwrite").parquet(s"$state/batch=1")
    val replayed = Observe.mergeProfiles(spark.read.parquet(state))
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(replayed === twin, "a replayed batch must not double-count")
  }

  test("streaming priority sample: running sample equals the batch twin") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val src = table("documents")
      .select("doc_id", "n_chars").orderBy("doc_id").limit(200)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val mem = MemoryStream[(Long, Long)]
    val out = Files.createTempDirectory("psamp_out").toString
    val ckpt = Files.createTempDirectory("psamp_ck").toString
    val state = Files.createTempDirectory("psamp_state").toString
    val q = QueueStreaming.prioritySampleStream(
      mem.toDF().toDF("doc_id", "n_chars"), "doc_id", "n_chars",
      k = 30, state, out, ckpt)
    mem.addData(src.take(120).toSeq: _*)
    q.processAllAvailable()
    mem.addData(src.drop(120).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    // trigger-2 running sample = the batch twin over everything
    // streamed (priorities are deterministic functions of the key)
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("key") ->
        (r.getAs[Long]("rk"), r.getAs[Double]("est"))).toMap
    val got = asMap(spark.read.parquet(s"$out/batch=1")
      .drop("batch_id").collect())
    val twin = asMap(graft.operators.Mix.prioritySample(
      src.toSeq.toDF("doc_id", "n_chars"), "doc_id", "n_chars", 30)
      .collect())
    assert(got == twin, "streamed sample diverged from the batch twin")
    assert(got.size == 30)
    // trigger-1 output only saw the first batch
    val t1 = asMap(spark.read.parquet(s"$out/batch=0")
      .drop("batch_id").collect())
    val twin1 = asMap(graft.operators.Mix.prioritySample(
      src.take(120).toSeq.toDF("doc_id", "n_chars"), "doc_id", "n_chars", 30)
      .collect())
    assert(t1 == twin1)
  }

  test("streaming theta monitor: running overlap matrix equals the batch twin") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val base = table("documents")
      .select(col("source"),
        explode(graft.functions.shingles(col("text"), 3)).as("sh"))
    val rows = Seq("src0", "src1", "src2").flatMap { src =>
      base.filter(col("source") === src).orderBy("sh").limit(100)
        .collect().map(r => (r.getString(0), r.getString(1)))
    }.toArray
    val mem = MemoryStream[(String, String)]
    val out = Files.createTempDirectory("theta_out").toString
    val ckpt = Files.createTempDirectory("theta_ck").toString
    val state = Files.createTempDirectory("theta_state").toString
    val q = QueueStreaming.thetaMonitorStream(
      mem.toDF().toDF("source", "sh"), "source", "sh", state, out, ckpt)
    mem.addData(rows.take(150).toSeq: _*)
    q.processAllAvailable()
    mem.addData(rows.drop(150).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    // trigger-2 running matrix = the batch twin over the union corpus
    // (exact regime: distinct shingles << 2^14)
    val got = spark.read.parquet(s"$out/batch=1").drop("batch_id")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("n_union"), r.getAs[Long]("n_inter"))).toMap
    val twin = graft.operators.Sketch.overlapMatrix(
        rows.toSeq.toDF("source", "sh"), "source", "sh")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("n_union"), r.getAs[Long]("n_inter"))).toMap
    assert(got == twin, "streamed matrix diverged from the batch twin")
    assert(got.nonEmpty)
    // replay safety: rewriting batch 1's own partition changes nothing
    rows.drop(150).toSeq.toDF("source", "sh")
      .groupBy(col("source").as("grp"))
      .agg(graft.functions.theta_agg(col("sh").cast("string"), 14).as("sk"))
      .write.mode("overwrite").parquet(s"$state/batch=1")
    val refolded = spark.read.parquet(state)
      .groupBy("grp")
      .agg(graft.functions.theta_union_agg(col("sk"), 14).as("sk"))
      .select(col("grp"), graft.functions.theta_estimate(col("sk")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case ((ga, _), (na, _, _, _)) =>
      assert(refolded(ga) == na, s"replayed fold changed $ga") }
  }

  test("streaming quantile monitor: running quantiles equal whole-corpus order statistics") {
    implicit val sq = spark.sqlContext
    import graft.operators.Observe
    import spark.implicits._
    val src = table("orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey").limit(80)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val mem = MemoryStream[(Long, Double)]
    val out = Files.createTempDirectory("qprof_out").toString
    val ckpt = Files.createTempDirectory("qprof_ck").toString
    val state = Files.createTempDirectory("qprof_state").toString
    val cols = Seq("o_totalprice")
    val probs = Seq(250000L, 500000L, 950000L)
    val q = QueueStreaming.kllMonitorStream(
      mem.toDF().toDF("o_orderkey", "o_totalprice"),
      cols, probs, state, out, ckpt)
    mem.addData(src.take(50).toSeq: _*)
    q.processAllAvailable()
    mem.addData(src.drop(50).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    // exact regime (80 values << k): trigger-2 running quantiles are
    // the order statistics of EVERYTHING streamed so far
    val got = spark.read.parquet(s"$out/batch=1")
      .collect().map(r => r.getAs[Long]("p_ppm") ->
        (r.getAs[Double]("q"), r.getAs[Long]("n"))).toMap
    val vs = src.map(_._2).sorted
    probs.foreach { p =>
      val pos = ((p * vs.length + 999999L) / 1000000L).toInt
      assert(got(p) == ((vs(pos - 1), vs.length.toLong)),
        s"p=$p: streamed ${got(p)} vs exact ${vs(pos - 1)}")
    }
    // trigger-1 output only saw the first 50 (no retro-contamination)
    val t1 = spark.read.parquet(s"$out/batch=0")
      .collect().map(r => r.getAs[Long]("p_ppm") -> r.getAs[Long]("n")).toMap
    assert(t1.values.forall(_ == 50L))
    // replay safety: rewriting batch 1's own partition changes nothing
    Observe.quantilesByPartition(
        src.drop(50).toSeq.toDF("o_orderkey", "o_totalprice"),
        lit("1"), cols)
      .write.mode("overwrite").parquet(s"$state/batch=1")
    val replayed = Observe.mergeQuantileProfiles(
        spark.read.parquet(state), probs)
      .collect().map(r => r.getAs[Long]("p_ppm") -> r.getAs[Double]("q")).toMap
    probs.foreach(p => assert(replayed(p) == got(p)._1,
      "a replayed batch must not perturb the running quantiles"))
  }

  test("streaming drift monitor: first batch zero, history folds exactly") {
    implicit val sq = spark.sqlContext
    import graft.operators.Curate
    val corpus = table("documents")
    val rows = corpus.select("doc_id", "text").orderBy("doc_id").limit(8)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("drift_out").toString
    val ckpt = Files.createTempDirectory("drift_ck").toString
    val profiles = Files.createTempDirectory("drift_prof").toString
    val q = QueueStreaming.driftMonitorStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      profiles, out, ckpt)
    mem.addData(rows.take(4).toSeq: _*)
    q.processAllAvailable()
    mem.addData(rows.drop(4).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val b0 = spark.read.parquet(s"$out/batch=0").head()
    assert(b0.getAs[Long]("tv_q") == 0L,
      "first batch seeds the history and drifts zero against itself")
    // batch 1's reported drift equals the batch-side computation
    // against batch 0's profile
    import spark.implicits._
    def df(rs: Seq[(Long, String)]) = rs.toDF("doc_id", "text")
    val expect = Curate.profileDrift(
        Curate.corpusProfile(df(rows.drop(4).toSeq), "doc_id", "text"),
        Curate.corpusProfile(df(rows.take(4).toSeq), "doc_id", "text"))
      .head().getAs[Long]("tv_q")
    val b1 = spark.read.parquet(s"$out/batch=1").head()
    assert(b1.getAs[Long]("tv_q") == expect,
      s"streamed drift ${b1.getAs[Long]("tv_q")} != batch twin $expect")
    // the per-batch partitions sum to the profile of ALL streamed rows
    def dirSum() = spark.read.parquet(profiles)
      .groupBy("f").agg(sum("cnt").as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Curate.corpusProfile(df(rows.toSeq), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dirSum() == full, "batch partitions must sum to the union profile")
    // replay safety: rewriting a batch's own partition (what a
    // foreachBatch replay does) leaves the running profile unchanged —
    // a mutable merged table would have double-counted here
    Curate.corpusProfile(df(rows.drop(4).toSeq), "doc_id", "text")
      .write.mode("overwrite").parquet(s"$profiles/batch=1")
    assert(dirSum() == full, "a replayed batch must not double-count")
  }

  test("streaming quantile monitor folds batches into running percentiles") {
    implicit val sq = spark.sqlContext
    import graft.operators.Sketch
    import spark.implicits._
    val mem = MemoryStream[(String, Long)]
    val out = Files.createTempDirectory("qmon_out").toString
    val sk = Files.createTempDirectory("qmon_sk").toString
    val ckpt = Files.createTempDirectory("qmon_ck").toString
    val q = QueueStreaming.quantileMonitorStream(
      mem.toDF().toDF("key", "v"), "key", "v", sk, out, ckpt,
      perMille = Seq(500, 990))
    val batch0 = (1 to 400).map(i => ("svc_a", (i.toLong * 17) % 9001))
    val batch1 = (1 to 400).map(i => ("svc_a", (i.toLong * 31) % 300000)) ++
      (1 to 100).map(i => ("svc_b", i.toLong))
    mem.addData(batch0: _*)
    q.processAllAvailable()
    mem.addData(batch1: _*)
    q.processAllAvailable()
    q.stop()
    // batch 1's report equals the batch-side quantiles over the UNION
    def df(rs: Seq[(String, Long)]) = rs.toDF("key", "v")
    val expect = Sketch.quantilesBy(
        Sketch.logHistogramBy(df(batch0 ++ batch1), "key", "v"),
        Seq(500, 990))
      .collect().map(r => (r.getString(0), r.getAs[Long]("q")) ->
        (r.getAs[Long]("bucket"), r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .toMap
    val got = spark.read.parquet(s"$out/batch=1")
      .collect().map(r => (r.getAs[String]("key"), r.getAs[Long]("q")) ->
        (r.getAs[Long]("bucket"), r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .toMap
    assert(got == expect,
      s"streamed running quantiles diverged from the union batch twin")
    // replay safety: rewriting batch 1's own sketch partition leaves
    // the summed state unchanged
    def stateSum() = spark.read.parquet(sk)
      .groupBy("key", "bucket").agg(sum("n").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val before = stateSum()
    Sketch.logHistogramBy(df(batch1), "key", "v")
      .write.mode("overwrite").parquet(s"$sk/batch=1")
    assert(stateSum() == before, "a replayed batch must not double-count")
  }

  test("streaming curation gate equals the batch operators per trigger") {
    implicit val sq = spark.sqlContext
    import graft.operators.Curate
    val corpus = table("documents")
    // frozen model trained batch-side on the corpus
    val model = Curate.dsirModel(corpus, "doc_id", "text",
      col("lang") === "en").localCheckpoint(true)
    val stops = Seq("the", "a")
    val mem = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("curgate_out").toString
    val ckpt = Files.createTempDirectory("curgate_ck").toString
    val q = QueueStreaming.curationGateStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", model,
      out, ckpt, stopWords = stops)
    // two triggers drawn from the corpus (ids are corpus doc_ids)
    val rows = corpus.select("doc_id", "text").orderBy("doc_id").limit(6)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    mem.addData(rows.take(3).toSeq: _*)
    q.processAllAvailable()
    mem.addData(rows.drop(3).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$out/batch=0", s"$out/batch=1")
    // batch twin over the same 6 docs, same frozen model
    val six = corpus.select("doc_id", "text").orderBy("doc_id").limit(6)
    val expected = Curate.gopherFlags(six, "doc_id", "text", stopWords = stops)
      .join(Curate.dsirApply(six, "doc_id", "text", model),
        Seq("doc_id"), "left")
    val key = (r: org.apache.spark.sql.Row) =>
      expected.columns.map(c => String.valueOf(r.getAs[Any](c))).mkString("|")
    assert(streamed.count() == 6)
    assert(streamed.select(expected.columns.map(col): _*).collect().map(key).sorted.toSeq ==
      expected.collect().map(key).sorted.toSeq,
      "streamed gate diverged from the batch twin")
  }

  test("streaming decontamination gate flags eval overlap per trigger") {
    implicit val sq = spark.sqlContext
    import graft.operators.Decontaminate
    val corpus = table("documents")
    // frozen eval suite: two real corpus docs (their shingles ARE in
    // the stream when those docs arrive — guaranteed contamination)
    val eval = corpus.select("doc_id", "text").orderBy("doc_id").limit(2)
      .localCheckpoint(true)
    val mem = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("decon_out").toString
    val ckpt = Files.createTempDirectory("decon_ck").toString
    val q = QueueStreaming.decontaminationGateStream(
      mem.toDF().toDF("doc_id", "text"), eval, "doc_id", "text",
      out, ckpt)
    // 6 stream docs: the 2 eval docs (dirty) + 4 others, split so the
    // seam separates a dirty doc from its suite-mate
    val rows = corpus.select("doc_id", "text").orderBy("doc_id").limit(6)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    mem.addData(rows.take(3).toSeq: _*)
    q.processAllAvailable()
    mem.addData(rows.drop(3).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$out/batch=0", s"$out/batch=1")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("contaminated"), r.getAs[Long]("n_matched"))).toMap
    // batch twin: same 6 docs against the same frozen suite
    val six = corpus.select("doc_id", "text").orderBy("doc_id").limit(6)
    val hits = Decontaminate.contaminated(six, eval, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_matched"))
      .toMap
    assert(streamed.size == 6, s"all docs must land: ${streamed.size}")
    streamed.foreach { case (id, (flag, n)) =>
      assert(flag == hits.contains(id) && n == hits.getOrElse(id, 0L),
        s"doc $id diverged from the batch twin: ($flag, $n) vs ${hits.get(id)}")
    }
    // non-vacuous: the eval docs flag, at least one other doc is clean
    assert(streamed.count(_._2._1) >= 2 && streamed.exists(!_._2._1),
      s"gate must exercise both routes: $streamed")
  }

  test("streaming novelty ingest equals the batch twin under id-ordered arrival") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val owner = Files.createTempDirectory("novel_own").toString
    val out = Files.createTempDirectory("novel_out").toString
    val ckpt = Files.createTempDirectory("novel_ck").toString
    val q = QueueStreaming.noveltyIngestStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      owner, out, ckpt)
    // trigger 1: an original + its verbatim repeat; trigger 2: a doc
    // sharing one shingle with doc 1 (cross-trigger attribution) +
    // a repeat WITHIN the trigger
    val rows = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"),
      (3L, "c d e f g"), (4L, "c d e f g"))
    mem.addData(rows.take(2): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$out/batch=0", s"$out/batch=1")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"),
          r.getAs[Long]("novelty_ppm"))).toMap
    val batchTwin = graft.operators.Curate
      .shingleNovelty(rows.toDF("doc_id", "text"), "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(streamed == batchTwin,
      s"streamed novelty diverged from the batch twin:\n" +
        s"  stream: $streamed\n  batch : $batchTwin")
    // the cross-trigger attribution really happened: doc 3's "c d e"
    // shingle is owned by doc 1 from the PREVIOUS trigger
    assert(streamed(3L) == ((3L, 2L, 666666L)), s"doc 3: ${streamed(3L)}")
    assert(streamed(4L) == ((3L, 0L, 0L)), "within-trigger repeat owns nothing")
  }

  test("session store stream: per-trigger merge equals one-shot sessionization") {
    implicit val sq = spark.sqlContext
    import graft.operators.Sessionize
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val df = mem.toDF().toDF("user_id", "event_id", "ts", "value")
    val store = Files.createTempDirectory("sessstore").toString + "/frames"
    val ckpt = Files.createTempDirectory("sessstore_ck").toString
    val q = QueueStreaming.sessionStoreStream(df, "user_id", 100L, store, ckpt)
    // trigger 1: two users, one session each so far
    mem.addData((1L, 1L, 100L, 1.0), (1L, 2L, 150L, 2.0), (2L, 3L, 50L, 5.0))
    q.processAllAvailable()
    // trigger 2: user 1 extends its session across the trigger seam
    // (180-150 <= gap) then opens a new one; user 3 appears
    mem.addData((1L, 4L, 180L, 3.0), (1L, 5L, 500L, 4.0), (3L, 6L, 900L, 6.0))
    q.processAllAvailable()
    q.stop()
    val all = Seq((1L, 1L, 100L, 1.0), (1L, 2L, 150L, 2.0), (2L, 3L, 50L, 5.0),
      (1L, 4L, 180L, 3.0), (1L, 5L, 500L, 4.0), (3L, 6L, 900L, 6.0))
      .toDF("user_id", "event_id", "ts", "value")
    def fin(f: org.apache.spark.sql.DataFrame) =
      Sessionize.finishFrames(f, "user_id").collect().map(_.toSeq).toSeq
    val streamed = fin(QueueStreaming.latestSessionFrames(spark, store))
    val batch = fin(Sessionize.sessionFrames(all, "user_id", 100L))
    assert(streamed.nonEmpty && streamed == batch,
      "the continuously-merged store must equal one-shot sessionization")
    // the cross-seam session really merged: user 1 has sessions
    // {100,150,180} and {500}
    val u1 = streamed.filter(_.head == 1L)
    assert(u1.map(r => r(2)) == Seq(3L, 1L), s"seam merge: $u1")

    // compaction drops stale versions, keeps the newest readable
    val removed = QueueStreaming.compactSessionStore(spark, store, keep = 1)
    assert(removed == 1, s"two versions existed, one should go: $removed")
    val after = fin(QueueStreaming.latestSessionFrames(spark, store))
    assert(after == batch, "the surviving version is the newest")
  }

  test("session store stream: automatic compaction keeps the store bounded") {
    implicit val sq = spark.sqlContext
    import graft.operators.Sessionize
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val df = mem.toDF().toDF("user_id", "event_id", "ts", "value")
    val store = Files.createTempDirectory("sessauto").toString + "/frames"
    val ckpt = Files.createTempDirectory("sessauto_ck").toString
    // compactEvery=2: an unattended long-running stream must bound its
    // own version set with NO external operator action (r10 verdict
    // item: the manual compactors existed but nothing called them)
    val q = QueueStreaming.sessionStoreStream(df, "user_id", 100L, store,
      ckpt, compactEvery = 2)
    val events = (0 until 6).map(i =>
      (1L + i % 2, i.toLong, i * 300L, 1.0)) // every event its own session
    events.zipWithIndex.foreach { case (e, _) =>
      mem.addData(e)
      q.processAllAvailable()
    }
    q.stop()
    // 6 triggers ran; the every-2 cadence fired at batches 2 and 4 with
    // keep=2, so at most 2 + (batches since last compaction) versions
    // remain — NOT 6
    val versions = new java.io.File(store).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(versions.length <= 3,
      s"auto-compaction must bound the store, found ${versions.length} versions")
    // and the surviving newest version still equals one-shot batch
    val all = events.toDF("user_id", "event_id", "ts", "value")
    def fin(f: org.apache.spark.sql.DataFrame) =
      Sessionize.finishFrames(f, "user_id").collect().map(_.toSeq).toSeq
    assert(fin(QueueStreaming.latestSessionFrames(spark, store)) ==
      fin(Sessionize.sessionFrames(all, "user_id", 100L)),
      "compacted store must still merge to the batch twin")
  }

  test("rolling-actives monitor: trailing windows equal the batch exact twin") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.{col, countDistinct, explode, expr, sequence}
    val mem = MemoryStream[(Long, Long)] // (ts nanos, user_id)
    val df = mem.toDF().toDF("ts", "user_id")
    val base = Files.createTempDirectory("actives").toString
    val q = QueueStreaming.rollingActivesStream(df, "ts", "user_id",
      s"$base/sk", s"$base/out", s"$base/ck", windowDays = 3)
    val day = 86400000000000L
    // trigger 1: day 0 users {1,2}, day 1 user {2}
    mem.addData((5L, 1L), (10L, 2L), (day + 1L, 2L))
    q.processAllAvailable()
    // trigger 2: day 1 gains user 3, day 3 user {4} (day 2 silent)
    mem.addData((day + 2L, 3L), (3 * day + 1L, 4L))
    q.processAllAvailable()
    q.stop()
    val latest = spark.read.parquet(s"$base/out")
      .filter(col("batch_id") === 1L)
      .collect().map(r => r.getAs[Long]("w_day") -> r.getAs[Long]("n_users"))
      .toMap
    // exact twin over the union (sketch exact regime at this size)
    val all = Seq((5L, 1L), (10L, 2L), (day + 1L, 2L), (day + 2L, 3L),
      (3 * day + 1L, 4L)).toDF("ts", "user_id")
    val du = all.select(expr("ts div 86400000000000L").as("d"), col("user_id"))
      .distinct()
    val days = du.select(col("d").as("w")).distinct()
    val exact = du.select(explode(sequence(col("d"), col("d") + 2)).as("w"),
        col("user_id"))
      .join(days, "w")
      .groupBy("w").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(latest == exact, s"stream $latest vs exact $exact")
    // windows genuinely trail: day 1 sees day 0's users, day 3 sees day 1's
    assert(latest(1L) == 3L && latest(3L) == 3L)
  }

  test("streaming funnel: progress rows match the batch chained-min funnel") {
    implicit val sq = spark.sqlContext
    import graft.operators.Sessionize
    import graft.streaming.QueueStreaming.FunnelEvent
    val stages = Seq("view", "click", "purchase")
    val mem = MemoryStream[FunnelEvent]
    val out = QueueStreaming.funnelStream(mem.toDS(), stages)
    val ckpt = Files.createTempDirectory("funnelstream").toString
    val q = out.writeStream.format("memory").queryName("funnelprog")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt).start()
    // trigger 1: user 1 views+clicks; user 2 clicks first (no credit)
    mem.addData(FunnelEvent(1L, 10L, "view"), FunnelEvent(1L, 20L, "click"),
      FunnelEvent(2L, 10L, "click"), FunnelEvent(2L, 20L, "view"))
    q.processAllAvailable()
    // trigger 2: user 1 purchases (completes ACROSS triggers); user 2
    // clicks after its view; user 3 appears and fully converts
    mem.addData(FunnelEvent(1L, 30L, "purchase"), FunnelEvent(2L, 30L, "click"),
      FunnelEvent(3L, 40L, "view"), FunnelEvent(3L, 50L, "click"),
      FunnelEvent(3L, 60L, "purchase"))
    q.processAllAvailable()
    q.stop()
    val prog = spark.sql("SELECT * FROM funnelprog")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // batch twin over the union of both triggers
    val all = Seq((1L, 10L, "view"), (1L, 20L, "click"), (2L, 10L, "click"),
      (2L, 20L, "view"), (1L, 30L, "purchase"), (2L, 30L, "click"),
      (3L, 40L, "view"), (3L, 50L, "click"), (3L, 60L, "purchase"))
      .toDF("user_id", "ts", "event_type")
    val twin = Sessionize.funnelTimes(all, "user_id", "ts", "event_type", stages)
      .collect().flatMap { r =>
        (1 to stages.size).flatMap { i =>
          val f = s"stage_${i}_ts"
          if (r.isNullAt(r.fieldIndex(f))) None
          else Some((r.getAs[Long]("user"), i, r.getAs[Long](f)))
        }
      }.toSet
    assert(prog == twin,
      s"stream: $prog\nbatch: $twin")
    // the cross-trigger completion really happened
    assert(prog.contains((1L, 3, 30L)))
    // user 2's pre-view click never counted; its post-view click did
    assert(prog.contains((2L, 2, 30L)) && !prog.contains((2L, 2, 10L)))
  }

  test("streaming A/B monitor equals the batch two-proportion z per trigger") {
    implicit val sq = spark.sqlContext
    import graft.operators.Observe
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("user_id", "event_type")
    val base = Files.createTempDirectory("abmon").toString
    val q = QueueStreaming.abMonitorStream(df, "user_id", "event_type",
      "purchase", convThreshold = 2L, s"$base/store", s"$base/out", s"$base/ck")
    // trigger 1: user 0 converts (2 purchases); users 1, 2 don't yet
    val t1 = Seq((0L, "purchase"), (0L, "purchase"), (1L, "purchase"),
      (2L, "view"), (3L, "view"))
    mem.addData(t1: _*)
    q.processAllAvailable()
    // trigger 2: user 1 converts ACROSS the trigger seam; user 5 joins
    val t2 = Seq((1L, "purchase"), (2L, "purchase"), (5L, "purchase"),
      (5L, "purchase"), (4L, "view"))
    mem.addData(t2: _*)
    q.processAllAvailable()
    q.stop()
    def batchRow(evts: Seq[(Long, String)]) = {
      val per = evts.toDF("user_id", "event_type")
        .groupBy((col("user_id") % 2).as("variant"), col("user_id"))
        .agg(when(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)) >= 2, 1L).otherwise(0L).as("conv"))
        .groupBy("variant")
        .agg(count(lit(1)).as("n"), sum("conv").as("c"))
      Observe.twoProportionZ(per).collect().head.toSeq
    }
    def streamRow(b: Long) = spark.read.parquet(s"$base/out/batch=$b")
      .drop("batch_id").select("n_a", "n_b", "conv_a", "conv_b",
        "rate_a_pm", "rate_b_pm", "z_q", "significant")
      .collect().head.toSeq
    // every trigger's readout equals the batch operator over the
    // events streamed SO FAR — cross-seam conversion credited
    assert(streamRow(0L) == batchRow(t1), "trigger-1 readout diverged")
    assert(streamRow(1L) == batchRow(t1 ++ t2), "trigger-2 readout diverged")
  }

  test("streaming debounce equals batch sessionization's burst firsts") {
    implicit val sq = spark.sqlContext
    import graft.operators.Sessionize
    val mem = MemoryStream[(Long, Long)] // (user_id, ts)
    val out = QueueStreaming.debounceStream(mem.toDS(), gapNs = 100L)
    val ckpt = Files.createTempDirectory("debstream").toString
    val q = out.writeStream.format("memory").queryName("debounced")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt).start()
    // trigger 1: user 1 bursts at 0 (0,50,90); user 2 single
    mem.addData((1L, 0L), (1L, 50L), (1L, 90L), (2L, 10L))
    q.processAllAvailable()
    // trigger 2: user 1's 150 continues the burst ACROSS the seam
    // (150-90 <= 100), 400 starts a new one; user 2's 111 is a new
    // burst (111-10 > 100); user 3 appears
    mem.addData((1L, 150L), (1L, 400L), (2L, 111L), (3L, 7L))
    q.processAllAvailable()
    q.stop()
    val kept = spark.sql("SELECT * FROM debounced")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch twin: burst firsts = rows where new_sess = 1
    val all = Seq((1L, 1L, 0L), (1L, 2L, 50L), (1L, 3L, 90L), (2L, 4L, 10L),
      (1L, 5L, 150L), (1L, 6L, 400L), (2L, 7L, 111L), (3L, 8L, 7L))
      .toDF("user_id", "event_id", "ts")
    val twin = Sessionize.withSessionIds(all, "user_id", 100L)
      .filter(col("new_sess") === 1L)
      .select("user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept == twin, s"stream: $kept\nbatch: $twin")
    // the cross-seam suppression really happened
    assert(!kept.contains((1L, 150L)) && kept.contains((1L, 400L)))
  }

  test("streaming scorecard equals the batch scorecard per trigger") {
    implicit val sq = spark.sqlContext
    import graft.operators.Curate
    val mem = MemoryStream[(Long, String, String)]
    val df = mem.toDF().toDF("doc_id", "text", "source")
    val base = Files.createTempDirectory("scstream").toString
    val q = QueueStreaming.scorecardStream(df, "doc_id", "text", "source",
      Seq("the", "a"), Seq("slow", "stream"), s"$base/store", s"$base/ck")
    val long = ("the data " * 40).trim // passes the 50-word gopher gate
    val t1 = Seq((1L, s"$long table", "s1"), (2L, "slow short", "s1"),
      (3L, s"$long hash", "s2"))
    val t2 = Seq((4L, s"$long merge", "s1"), (5L, "tiny", "s2"))
    mem.addData(t1: _*); q.processAllAvailable()
    mem.addData(t2: _*); q.processAllAvailable()
    q.stop()
    def batchCard(rows: Seq[(Long, String, String)]) =
      Curate.scorecard(rows.toDF("doc_id", "text", "source"), "doc_id",
          "text", "source", Seq("the", "a"), Seq("slow", "stream"))
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    def streamCard(b: Long) = spark.read.parquet(s"$base/store/batch=$b")
      .select("grp", "n_docs", "pass_gopher", "pass_repetition",
        "pass_blocklist", "pass_all")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(streamCard(0L) == batchCard(t1), "trigger-1 scorecard diverged")
    assert(streamCard(1L) == batchCard(t1 ++ t2), "running scorecard diverged")
  }

  test("streaming corpus card equals the batch card (exact-regime HLL)") {
    implicit val sq = spark.sqlContext
    import graft.operators.CorpusCard
    val mem = MemoryStream[(Long, String, String, String)]
    val df = mem.toDF().toDF("doc_id", "text", "lang", "source")
    val base = Files.createTempDirectory("cardstream").toString
    val q = QueueStreaming.cardStream(df, "doc_id", "text", "lang", "source",
      Seq("the", "a"), Seq("slow", "stream"), s"$base/store", s"$base/ck")
    val long = ("the data " * 40).trim
    val t1 = Seq((1L, s"$long table", "en", "s1"),
      (2L, "slow short", "en", "s1"), (3L, s"$long hash", "de", "s2"))
    val t2 = Seq((4L, s"$long merge", "en", "s1"),
      (5L, s"$long hash", "de", "s2"), // exact dup of doc 3's text
      (6L, "tiny", "de", "s1"))
    mem.addData(t1: _*); q.processAllAvailable()
    mem.addData(t2: _*); q.processAllAvailable()
    q.stop()
    val streamed = QueueStreaming.latestCardRows(spark, s"$base/store")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet
    val batch = CorpusCard.cardRows(
        (t1 ++ t2).toDF("doc_id", "text", "lang", "source"),
        "doc_id", "text", "lang", "source",
        Seq("the", "a"), Seq("slow", "stream"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        // at spec cardinality the HLL runs in exact list mode, so the
        // estimate must EQUAL the batch's exact distinct count
        if (r.getString(3) == "n_distinct") "n_distinct_est" else r.getString(3),
        r.getLong(4))).toSet
    assert(streamed == batch,
      s"stream: ${streamed -- batch}\nbatch only: ${batch -- streamed}")
    // the cross-trigger dup really deduplicated in the distinct est
    assert(streamed.contains(("stats", "de", "s2", "n_distinct_est", 1L)))
  }

  test("rolling-actives compaction folds deltas exactly (idempotent union)") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val mem = MemoryStream[(Long, Long)] // (ts nanos, user_id)
    val df = mem.toDF().toDF("ts", "user_id")
    val base = Files.createTempDirectory("activescomp").toString
    val q = QueueStreaming.rollingActivesStream(df, "ts", "user_id",
      s"$base/sk", s"$base/out", s"$base/ck", windowDays = 2)
    val day = 86400000000000L
    mem.addData((5L, 1L), (10L, 2L)); q.processAllAvailable()
    mem.addData((day + 1L, 3L)); q.processAllAvailable()
    mem.addData((day + 2L, 1L)); q.processAllAvailable()
    mem.addData((2 * day + 1L, 4L)); q.processAllAvailable()
    q.stop()
    val before = spark.read.parquet(s"$base/out")
      .filter(col("batch_id") === 3L)
      .collect().map(r => r.getAs[Long]("w_day") -> r.getAs[Long]("n_users"))
      .toMap
    // fold batches 0,1 into one consolidated delta (keep latest 2)
    val removed = QueueStreaming.compactRollingActives(spark, s"$base/sk",
      keep = 2)
    assert(removed == 1, s"expected one folded version, got $removed")
    // re-derive the batch-3 report from the compacted store: the
    // trailing-window estimates must be unchanged
    import org.apache.spark.sql.functions.{explode, hll_sketch_estimate, hll_union_agg, sequence}
    val daily = spark.read.parquet(s"$base/sk")
      .groupBy("day_idx")
      .agg(hll_union_agg(col("sk")).as("sk"))
    val days = daily.select(col("day_idx").as("w_day")).distinct()
    val after = daily.select(
        explode(sequence(col("day_idx"), col("day_idx") + 1)).as("w_day"),
        col("sk"))
      .join(days, "w_day")
      .groupBy("w_day")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_users"))
      .collect().map(r => r.getAs[Long]("w_day") -> r.getAs[Long]("n_users"))
      .toMap
    assert(after == before, s"compaction changed estimates: $after vs $before")
  }

  test("late-data accounting: dropped-late rows surface per trigger") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "key", "value")
    val out = QueueStreaming.windowedStats(df, "ts", "key", "value",
      "10 minutes", "5 minutes")
    val ckpt = Files.createTempDirectory("latedrop").toString
    val q = out.writeStream.format("memory").queryName("latedrop")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt).start()
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // trigger 1 advances the watermark to 10:55
    mem.addData((t(1), "a", 1.0))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2024-01-01 11:00:00"), "a", 1.0))
    q.processAllAvailable()
    // now a row far below the 10:55 watermark must be counted as dropped
    mem.addData((t(2), "a", 99.0))
    q.processAllAvailable()
    val report = QueueStreaming.lateDataReport(q)
    q.stop()
    assert(report.map(_._3).sum == 1L,
      s"exactly the one late row is dropped: $report")
    val withWm = report.filter(_._2.nonEmpty)
    assert(withWm.nonEmpty, "watermark surfaces in the report")
    assert(report.forall(_._4 >= 0L))
  }

  test("walk continuation stream equals the batch rebuild per trigger") {
    implicit val sq = spark.sqlContext
    import graft.operators.Walk
    val mem = MemoryStream[(String, String)]
    val df = mem.toDF().toDF("src", "dst")
    val store = Files.createTempDirectory("walkstore").toString + "/store"
    val ckpt = Files.createTempDirectory("walkstore_ck").toString
    val q = QueueStreaming.walkStoreStream(df, "src", "dst",
      nWalks = 2, len = 5, storePath = store, checkpoint = ckpt)
    def latest() = QueueStreaming
      .latestSessionFrames(spark, s"$store/walks")
      .orderBy("start", "walk", "step").collect().map(_.toSeq).toSeq
    def rebuild(all: Seq[(String, String)]) = Walk
      .deterministicWalks(all.toDF("src", "dst"), "src", "dst", 2, 5)
      .orderBy("start", "walk", "step").collect().map(_.toSeq).toSeq
    // trigger 1: base graph with a dangling node d
    val b1 = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("b", "c"),
      ("c", "a"), ("c", "d"))
    mem.addData(b1: _*)
    q.processAllAvailable()
    assert(latest() == rebuild(b1), "first trigger = fresh build")
    // trigger 2: d gains out-edges (stopped walks resume through the
    // seam) and a new source e appears
    val b2 = Seq(("d", "a"), ("d", "e"), ("e", "a"))
    mem.addData(b2: _*)
    q.processAllAvailable()
    assert(latest() == rebuild(b1 ++ b2),
      "continuation across the dangling seam must equal the rebuild")
    // trigger 3: an existing node's neighbor list grows — walks
    // re-route from their first visit of it
    val b3 = Seq(("a", "e"), ("b", "e"))
    mem.addData(b3: _*)
    q.processAllAvailable()
    q.stop()
    assert(latest() == rebuild(b1 ++ b2 ++ b3),
      "adjacency change mid-walk must equal the rebuild")
    // retention: compaction keeps the newest version readable
    QueueStreaming.compactSessionStore(spark, s"$store/walks", keep = 1)
    assert(latest() == rebuild(b1 ++ b2 ++ b3))
  }
}
