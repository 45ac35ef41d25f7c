package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.operators.Observe

class ObserveSpec extends SparkSpec {

  test("funnel metrics equal per-stage counts, from one terminal action") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val stages: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "ingest" -> identity,
      "lang_en" -> (_.filter(col("lang") === "en")),
      "min_len" -> (_.filter(length(col("text")) >= 200)))
    // independent truth: one count() per stage
    val expected = stages.scanLeft(d) { case (df, (_, f)) => f(df) }
      .drop(1).map(_.count())

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (fin, obs) = Observe.funnel(d, stages)
      fin.write.format("noop").mode("overwrite").save()
      // listener delivery is async; wait for the count to go stable
      var last = -1
      while (jobs.get() != last) { last = jobs.get(); Thread.sleep(200) }
      // all three stage metrics were populated by the single write —
      // the noop sink runs O(1) jobs, nowhere near one scan per stage
      assert(jobs.get() <= 2, s"expected a single-action funnel, saw ${jobs.get()} jobs")
      val rep = Observe.report(spark, obs).orderBy("stage_idx").collect()
      assert(rep.map(_.getString(1)).toSeq === stages.map(_._1))
      assert(rep.map(_.getLong(2)).toSeq === expected)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("pinAgg fallback aggregates the pinned frame: same values, counted") {
    import graft.operators.Lineage
    val d = spark.range(0, 100, 1, 4).toDF("x")
    val aggs = Seq("n" -> count(lit(1)), "s" -> sum(col("x")))
    val (p1, observed) = Lineage.pinAgg(d, aggs: _*)
    val before = Lineage.pinAggFallbacks
    // a zero wait skips the observation: the fallback path
    val (p2, fallback) = Lineage.pinAggWithin(
      scala.concurrent.duration.Duration.Zero, d, aggs: _*)
    assert(observed == Map("n" -> 100L, "s" -> 4950L))
    assert(fallback == observed)
    assert(Lineage.pinAggFallbacks >= before + 1, "fallback not counted")
    assert(p2.collect().toSet == p1.collect().toSet)
  }

  test("extra aggregate columns ride the same pass") {
    import spark.implicits._
    val d = Seq(("a", 2L), ("b", 3L), ("c", 5L)).toDF("k", "v")
    val (out, obs) = Observe.stage(d, "sums",
      sum(col("v")).as("v_sum"), max(col("v")).as("v_max"))
    out.write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("rows") === 3L && m("v_sum") === 10L && m("v_max") === 5L)
  }

  test("report fails loudly when no action ran; duplicate stage names rejected") {
    import spark.implicits._
    val d = Seq(1, 2).toDF("x")
    val (_, obs) = Observe.funnel(d, Seq("only" -> identity))
    val e = intercept[IllegalArgumentException](
      Observe.report(spark, obs, scala.concurrent.duration.Duration(2, "s")))
    assert(e.getMessage.contains("never populated"))
    intercept[IllegalArgumentException](
      Observe.funnel(d, Seq("dup" -> identity, "dup" -> identity)))
  }

  test("profileTable: nulls, exact NDV, portable min/max reprs") {
    import spark.implicits._
    val d = Seq[(java.lang.Long, String, java.lang.Double)](
      (1L, "a", 1.5), (2L, "b", null), (2L, null, 2.25), (3L, "a", -0.5))
      .toDF("k", "s", "x")
    val p = Observe.profileTable(d, Seq("k", "s", "x"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(p.keySet === Set("k", "s", "x"))
    val k = p("k")
    assert(k.getLong(1) === 4L && k.getLong(2) === 0L && k.getLong(3) === 3L)
    assert(k.getString(4) === "1" && k.getString(5) === "3")
    val s = p("s")
    assert(s.getLong(2) === 1L && s.getLong(3) === 2L)
    assert(s.getString(4) === "a" && s.getString(5) === "b")
    val x = p("x") // doubles render micro-quantized: floor(v*1e6 + 0.5)
    assert(x.getLong(2) === 1L && x.getLong(3) === 3L)
    assert(x.getString(4) === "-500000" && x.getString(5) === "2250000")
  }

  test("profileTableApprox: exact-regime parity, single pass, no Expand") {
    val o = table("orders")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
    val exact = Observe.profileTable(o, cols).collect()
      .map(r => r.getString(0) -> r.toSeq).toMap
    // Spark's HLL++ has no sparse-exact mode (unlike DataSketches), so
    // even 1500 distincts estimate with noise: gate NDV at ±2% and
    // everything else (counts, nulls, reprs) exactly.
    val approx = Observe.profileTableApprox(o, cols, rsd = 0.005)
    val ap = approx.collect().map(r => r.getString(0) -> r.toSeq).toMap
    cols.foreach { c =>
      val e = exact(c); val a = ap(c)
      assert(a.updated(3, e(3)) === e, s"non-NDV fields must be exact: $c")
      val (en, an) = (e(3).asInstanceOf[Long], a(3).asInstanceOf[Long])
      assert(math.abs(an - en) <= math.max(1L, en / 50),
        s"NDV estimate for $c off by >2%: $an vs $en")
    }
    // the scale contract: the approx profile plans without Expand
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      "approx profiler must be a single pass with no Expand")
  }

  test("mergeable profiles: merged partitions equal the direct profile") {
    val o = table("orders")
    val cols = Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    val exact = Observe.profileTable(o, cols).collect()
      .map(r => r.getString(0) -> r.toSeq).toMap
    val parts = Observe.profileByPartition(o,
      date_format(col("o_orderdate").cast("timestamp"), "yyyy-MM"), cols)
    val merged = Observe.mergeProfiles(parts).collect()
      .map(r => r.getString(0) -> r.toSeq).toMap
    assert(merged.keySet === exact.keySet)
    cols.foreach { c =>
      val e = exact(c); val m = merged(c)
      // counts/nulls/min/max merge EXACTLY; NDV is the HLL estimate
      assert(m.updated(3, e(3)) === e, s"non-NDV merge must be exact: $c")
      val (en, mn) = (e(3).asInstanceOf[Long], m(3).asInstanceOf[Long])
      assert(math.abs(mn - en) <= math.max(1L, en / 50),
        s"merged NDV for $c off by >2%: $mn vs $en")
    }
    // low-cardinality NDV sits in the sketch-exact coupon regime —
    // the property the q_profile_merged oracle banks on
    assert(merged("o_orderstatus")(3) === exact("o_orderstatus")(3))
  }

  test("mergeable profiles: delta batches fold in without a rescan") {
    val o = table("orders")
    val cols = Seq("o_orderstatus", "o_totalprice")
    val part = date_format(col("o_orderdate").cast("timestamp"), "yyyy-MM")
    val whole = Observe.mergeProfiles(
        Observe.profileByPartition(o, part, cols))
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    // profile two disjoint slices independently (yesterday's store +
    // today's delta), merge the UNION of the profile rows
    val a = Observe.profileByPartition(
      o.filter(col("o_orderkey") % 2 === 0), part, cols)
    val b = Observe.profileByPartition(
      o.filter(col("o_orderkey") % 2 === 1), part, cols)
    val folded = Observe.mergeProfiles(a.unionByName(b))
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    // counts/min/max fold EXACTLY; HLL NDV is estimate-stable only in
    // the coupon regime (split sketches promote LIST->SET->HLL at
    // different points, so dense estimates can drift by ~1 in 1500)
    cols.foreach { c =>
      val w = whole(c); val f = folded(c)
      assert(f.updated(3, w(3)) === w,
        s"non-NDV delta fold must be exact: $c")
      val (wn, fn) = (w(3).asInstanceOf[Long], f(3).asInstanceOf[Long])
      assert(math.abs(fn - wn) <= math.max(1L, wn / 50),
        s"folded NDV for $c off by >2%: $fn vs $wn")
    }
    assert(folded("o_orderstatus")(3) === whole("o_orderstatus")(3),
      "coupon-regime NDV folds exactly")
  }

  test("ksDrift: hand-computed sup, disjoint ranges, tie rule, partition invariance") {
    import spark.implicits._
    // A={1,2,3,4}, B={3,4,5,6}: |ca·nb − cb·na| over the support is
    // 4,8,8,8,4,0 → sup 8/16 = 0.5, first attained at v=2 (tie rule)
    val a = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val b = Seq(3.0, 4.0, 5.0, 6.0).toDF("y")
    val r = Observe.ksDrift(a, "x", b, "y").collect().head
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("n_b") == 4L)
    assert(r.getAs[Long]("d_ppm") == 500000L)
    assert(r.getAs[Double]("at_value") == 2.0)
    // disjoint ranges: D = 1 exactly
    val hi = Seq(11.0, 12.0, 13.0).toDF("y")
    val full = Observe.ksDrift(a, "x", hi, "y").collect().head
    assert(full.getAs[Long]("d_ppm") == 1000000L)
    // identical inputs: D = 0
    val same = Observe.ksDrift(a, "x", a, "x").collect().head
    assert(same.getAs[Long]("d_ppm") == 0L)
    // partitioning must not change the sup or its arg
    val o = table("orders")
    val d1 = Observe.ksDrift(
      o.filter(col("o_orderkey") % 2 === 0), "o_totalprice",
      o.filter(col("o_orderkey") % 2 === 1), "o_totalprice").collect().head
    val d2 = Observe.ksDrift(
      o.filter(col("o_orderkey") % 2 === 0).repartition(13), "o_totalprice",
      o.filter(col("o_orderkey") % 2 === 1).repartition(7), "o_totalprice")
      .collect().head
    assert(d1.toSeq === d2.toSeq)
    // same-distribution halves: small D (DKW-ish sanity, not a proof)
    assert(d1.getAs[Long]("d_ppm") < 100000L,
      s"parity halves drifted ${d1.getAs[Long]("d_ppm")} ppm")
  }

  test("rankSumDrift: textbook U with ties, symmetry, null control, partition invariance") {
    import spark.implicits._
    // a={1,2,2}, b={2,3}: midranks 1, 3, 3 → R_a = 7, U_a = 1 → u2 = 2;
    // auc = 1/6 → 166666 ppm; ties Σ(t³−t) = 24, per-pair var =
    // (6·5·4−24)/(12·5·4) = 0.4 → 400 000 micro (Var(U) = 0.4·6 = 2.4)
    val a = Seq(1.0, 2.0, 2.0).toDF("x")
    val b = Seq(2.0, 3.0).toDF("y")
    val r = Observe.rankSumDrift(a, "x", b, "y").collect().head
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Long]("u2") == 2L, s"u2=${r.getAs[Long]("u2")}")
    assert(r.getAs[Long]("auc_ppm") == 166666L)
    assert(r.getAs[Long]("varpp_micro") == 400000L)
    // symmetry: U_a + U_b = n_a·n_b, so swapping sides gives 2·3·2 − 2
    val sw = Observe.rankSumDrift(b, "y", a, "x").collect().head
    assert(sw.getAs[Long]("u2") == 10L, s"u2'=${sw.getAs[Long]("u2")}")
    // total dominance: every b above every a → auc exactly 0 / 10⁶
    val hi = Seq(11.0, 12.0).toDF("y")
    assert(Observe.rankSumDrift(a, "x", hi, "y").collect().head
      .getAs[Long]("auc_ppm") == 0L)
    assert(Observe.rankSumDrift(hi, "y", a, "x").collect().head
      .getAs[Long]("auc_ppm") == 1000000L)
    // identical inputs: exact coin-flip AUC (ties contribute ½ each)
    assert(Observe.rankSumDrift(a, "x", a, "x").collect().head
      .getAs[Long]("auc_ppm") == 500000L)
    // partition invariance + null control on real data
    val o = table("orders")
    val d1 = Observe.rankSumDrift(
      o.filter(col("o_orderkey") % 2 === 0), "o_totalprice",
      o.filter(col("o_orderkey") % 2 === 1), "o_totalprice").collect().head
    val d2 = Observe.rankSumDrift(
      o.filter(col("o_orderkey") % 2 === 0).repartition(13), "o_totalprice",
      o.filter(col("o_orderkey") % 2 === 1).repartition(7), "o_totalprice")
      .collect().head
    assert(d1.toSeq === d2.toSeq)
    assert(math.abs(d1.getAs[Long]("auc_ppm") - 500000L) < 50000L,
      s"parity halves should sit near the coin flip: ${d1.toSeq}")
  }

  test("chiSquareDrift: textbook 2x2, identical-input zero, partition invariance") {
    import spark.implicits._
    // a: X=10 Y=10, b: X=5 Y=15 — the classic 2x2: chi2 =
    // 40·(10·15 − 10·5)²/(20·20·15·25) = 8/3; per-category D = ±100:
    // X: 100²/(400·15) = 5/3 → 1666666 micro, Y: 100²/(400·25) = 1
    // → 1000000 micro; total 2666666
    val a = (Seq.fill(10)("X") ++ Seq.fill(10)("Y")).toDF("c")
    val b = (Seq.fill(5)("X") ++ Seq.fill(15)("Y")).toDF("c")
    val r = Observe.chiSquareDrift(a, "c", b, "c").collect()
      .map(x => x.getString(0) -> x.toSeq).toMap
    assert(r("X") == Seq("X", 10L, 5L, 1666666L), s"${r("X")}")
    assert(r("Y") == Seq("Y", 10L, 15L, 1000000L), s"${r("Y")}")
    assert(r("__total") == Seq("__total", 20L, 20L, 2666666L),
      s"${r("__total")}")
    // identical inputs: every contribution exactly zero
    val z = Observe.chiSquareDrift(a, "c", a, "c").collect()
    assert(z.forall(_.getLong(3) == 0L), z.mkString(";"))
    // a category present on one side only still contributes (D = o·N)
    val c1 = Seq("X", "X", "Z").toDF("c")
    val only = Observe.chiSquareDrift(c1, "c", a.limit(4), "c").collect()
      .map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(only("Z") > 0L, s"one-sided category must contribute: $only")
    // partition invariance on real data
    val d = table("documents")
    val p1 = Observe.chiSquareDrift(
      d.filter(col("doc_id") % 2 === 0), "lang",
      d.filter(col("doc_id") % 2 === 1), "lang").collect().map(_.toSeq)
    val p2 = Observe.chiSquareDrift(
      d.filter(col("doc_id") % 2 === 0).repartition(13), "lang",
      d.filter(col("doc_id") % 2 === 1).repartition(7), "lang")
      .collect().map(_.toSeq)
    assert(p1.toSeq == p2.toSeq, "chi2 changed under repartitioning")
  }

  test("equi-depth histogram: straddling hot values split exactly, masses sum to n") {
    import spark.implicits._
    import graft.operators.Observe
    // 1..10, B=2: clean halves
    val d = (1 to 10).map(i => ("g", i.toLong)).toDF("grp", "v")
    val h = Observe.groupedEquiDepth(d, "grp", "v", buckets = 2)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(h == Map(0L -> (5L, 1L, 5L), 1L -> (5L, 6L, 10L)), s"$h")
    // hot values straddle: {1,1,1,2,2,2}, B=3 → row buckets 0,0,1,1,2,2
    // so v=1 splits 2+1 and v=2 splits 1+2
    val hot = Seq(1L, 1L, 1L, 2L, 2L, 2L).map(("g", _)).toDF("grp", "v")
    val hh = Observe.groupedEquiDepth(hot, "grp", "v", buckets = 3)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(hh == Map(0L -> (2L, 1L, 1L), 1L -> (2L, 1L, 2L),
      2L -> (2L, 2L, 2L)), s"$hh")
    // real data: per-group masses sum to the group size and equal the
    // one-window reference; deterministic under repartitioning
    val o = table("orders").select(col("o_orderpriority").as("grp"),
      expr("cast(floor(o_totalprice * 100) as bigint)").as("v"))
    val eq = Observe.groupedEquiDepth(o, "grp", "v", buckets = 8)
    val masses = eq.groupBy("grp").agg(sum("n_rows").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = o.groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(masses == sizes, s"bucket masses must sum to group sizes")
    val w = org.apache.spark.sql.expressions.Window
    val ref = o.withColumn("rk", row_number().over(
        w.partitionBy("grp").orderBy("v")))
      .withColumn("n", count(lit(1)).over(w.partitionBy("grp")))
      .withColumn("bucket", expr("(rk - 1) * 8 div n"))
      .groupBy("grp", "bucket")
      .agg(count(lit(1)).as("n_rows"), min("v").as("lo"), max("v").as("hi"))
      .orderBy("grp", "bucket").collect().map(_.toSeq)
    assert(eq.orderBy("grp", "bucket").collect().map(_.toSeq).toSeq ==
      ref.toSeq, "split arithmetic must equal the one-window reference")
    val rep = Observe.groupedEquiDepth(o.repartition(13), "grp", "v",
        buckets = 8).orderBy("grp", "bucket").collect().map(_.toSeq)
    assert(rep.toSeq == eq.orderBy("grp", "bucket").collect()
      .map(_.toSeq).toSeq)
  }

  test("weighted median: textbook mass, unit-weight degeneracy, invariance") {
    import spark.implicits._
    import graft.operators.Observe
    // values (1,w5), (2,w1), (3,w1), (10,w1): W=8, k=4 → cum at v=1
    // is 5 ≥ 4 → weighted median 1 (the ROW median would be 2.5-ish)
    val d = Seq(("g", 1L, 5L), ("g", 2L, 1L), ("g", 3L, 1L), ("g", 10L, 1L))
      .toDF("grp", "v", "w")
    val r = Observe.groupedWeightedMedian(d, "grp", "v", "w").head()
    assert(r.getLong(1) == 8L && r.getLong(2) == 1L, s"${r.toSeq}")
    // unit weights degrade to the R53 lower median exactly
    val o = table("orders").select(col("o_orderpriority"),
      expr("cast(floor(o_totalprice * 100) as bigint)").as("cents"))
    val unit = Observe.groupedWeightedMedian(
        o.withColumn("one", lit(1L)), "o_orderpriority", "cents", "one")
      .collect().map(x => x.getString(0) -> x.getLong(2)).toMap
    val plain = Observe.groupedMedianMad(o, "o_orderpriority", "cents")
      .collect().map(x => x.getString(0) -> x.getLong(2)).toMap
    assert(unit == plain, "unit-weight median must equal R53's")
    // partition invariance
    val l = table("lineitem").select(col("l_returnflag"),
      expr("cast(floor(l_extendedprice * 100) as bigint)").as("c"),
      expr("cast(l_quantity as bigint)").as("q"))
    val a = Observe.groupedWeightedMedian(l, "l_returnflag", "c", "q")
      .orderBy("grp").collect().map(_.toSeq)
    val b = Observe.groupedWeightedMedian(l.repartition(13),
        "l_returnflag", "c", "q").orderBy("grp").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("quantile store: exact regime reproduces order statistics through the merge") {
    val o = table("orders")
    val cols = Seq("o_totalprice", "o_custkey")
    val probs = Seq(250000L, 500000L, 750000L, 950000L)
    val parts = Observe.quantilesByPartition(o,
      date_format(col("o_orderdate").cast("timestamp"), "yyyy-MM"), cols)
    val merged = Observe.mergeQuantileProfiles(parts, probs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    // independent truth: sorted order statistic at position ceil(p·n)
    cols.foreach { c =>
      val vs = o.select(col(c).cast("double")).collect()
        .map(_.getDouble(0)).sorted
      val n = vs.length.toLong
      probs.foreach { p =>
        val pos = ((p * n + 999999L) / 1000000L).toInt // 1-based
        val (q, qn) = merged((c, p))
        assert(qn == n, s"$c n")
        assert(q == vs(pos - 1),
          s"$c p=$p: sketch ${q} vs exact ${vs(pos - 1)}")
      }
    }
    // delta fold: disjoint slices' sketch rows union to the same
    // answers (exact regime: merged n still <= k)
    val part = date_format(col("o_orderdate").cast("timestamp"), "yyyy-MM")
    val a = Observe.quantilesByPartition(
      o.filter(col("o_orderkey") % 2 === 0), part, cols)
    val b = Observe.quantilesByPartition(
      o.filter(col("o_orderkey") % 2 === 1), part, cols)
    val folded = Observe.mergeQuantileProfiles(a.unionByName(b), probs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    assert(folded === merged, "delta fold must reproduce the store")
    // approximate regime stays honest: k=64 over 15k rows answers
    // within the published ~1.65/sqrt(k) normalized-rank error
    val small = Observe.mergeQuantileProfiles(
      Observe.quantilesByPartition(o, part, Seq("o_totalprice"), k = 64),
      Seq(500000L), k = 64).collect().head
    val vs = o.select(col("o_totalprice").cast("double")).collect()
      .map(_.getDouble(0)).sorted
    val approxMedian = small.getDouble(2)
    val rank = vs.count(_ <= approxMedian).toDouble / vs.length
    assert(math.abs(rank - 0.5) < 0.25,
      s"k=64 median rank $rank out of tolerance")
  }

  test("incremental agg table: partition splice, replace semantics, untouched siblings") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("aggincr").toString + "/t"
    def facts(rows: Seq[(String, String, Long)]) =
      rows.toDF("day", "k", "v")
    val base = facts(Seq(
      ("d1", "a", 10L), ("d1", "a", 20L), ("d1", "b", 5L),
      ("d2", "a", 7L), ("d2", "b", 9L)))
    Observe.buildAggTable(base, dir, col("day"), Seq("k"), "v")
    def snapshot(part: String): Map[String, Long] = {
      val p = Paths.get(dir, s"part=$part")
      Files.list(p).iterator().asScala
        .map(f => f.getFileName.toString -> Files.getLastModifiedTime(f).toMillis)
        .toMap
    }
    val d1Before = snapshot("d1")
    // day 3 arrives; refresh twice (replayed retry must be a no-op)
    val d3 = facts(Seq(("d3", "a", 100L), ("d3", "b", 1L)))
    Observe.refreshAggPartitions(d3, dir, col("day"), Seq("k"), "v")
    Observe.refreshAggPartitions(d3, dir, col("day"), Seq("k"), "v")
    def read() = Observe.readAggTable(spark, dir, Seq("k"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val merged = read()
    // merged read == from-scratch aggregation over base + d3
    assert(merged("a") == ((4L, 137L, 7L, 100L)), s"got ${merged("a")}")
    assert(merged("b") == ((3L, 15L, 1L, 9L)), s"got ${merged("b")}")
    // untouched sibling partitions keep their exact files
    assert(snapshot("d1") == d1Before,
      "refreshing d3 must not rewrite d1's files")
    // a FIXED day-2 replaces its partials (never accumulates)
    Observe.refreshAggPartitions(
      facts(Seq(("d2", "a", 70L))), dir, col("day"), Seq("k"), "v")
    val fixed = read()
    assert(fixed("a") == ((4L, 200L, 10L, 100L)), s"got ${fixed("a")}")
    assert(fixed("b") == ((2L, 6L, 1L, 5L)), "d2's old b-partial must be gone")
  }

  test("coarse-grain rollup read equals direct aggregation (partials payoff)") {
    import spark.implicits._
    import java.nio.file.Files
    val dir = Files.createTempDirectory("aggroll").toString + "/t"
    val facts = Seq(
      ("2024-01", "a", 10L), ("2024-02", "a", 20L), ("2024-02", "b", 5L),
      ("2025-01", "a", 7L), ("2025-03", "b", 9L), ("2025-03", "b", 1L))
      .toDF("day", "k", "v")
    Observe.buildAggTable(facts, dir, col("day"), Seq("k"), "v")
    val got = Observe.readAggTableAt(spark, dir,
        substring(col("part"), 1, 4), Seq("k"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got(("2024", "a")) == ((2L, 30L, 10L, 20L)))
    assert(got(("2024", "b")) == ((1L, 5L, 5L, 5L)))
    assert(got(("2025", "b")) == ((2L, 10L, 1L, 9L)))
    assert(got.size == 4)
  }

  test("grouped median + MAD: exact lower-median semantics") {
    val sp = spark
    import sp.implicits._
    // odd group: median of (1,3,9) = 3; deviations (2,0,6) -> MAD 2
    // even group: (10,20,30,40) lower median = 20; devs (10,0,10,20)
    //   -> lower median of sorted (0,10,10,20) at rank 2 = 10
    // constant group: median 7, MAD 0
    val rows = Seq(("odd", 1L), ("odd", 3L), ("odd", 9L),
      ("even", 10L), ("even", 20L), ("even", 30L), ("even", 40L),
      ("const", 7L), ("const", 7L)).toDF("g", "v")
    val out = Observe.groupedMedianMad(rows, "g", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("odd") == ((3L, 3L, 2L)))
    assert(out("even") == ((4L, 20L, 10L)))
    assert(out("const") == ((2L, 7L, 0L)))
    // duplicate values across the median boundary: (5,5,5,8,9) ->
    // median 5 (rank 3 inside the 5-run), devs (0,0,0,3,4) -> MAD 0
    val dup = Seq.fill(3)(("d", 5L)).concat(Seq(("d", 8L), ("d", 9L)))
      .toDF("g", "v")
    val od = Observe.groupedMedianMad(dup, "g", "v").head()
    assert(od.getLong(2) == 5L && od.getLong(3) == 0L)
    // partition invariance
    val rep = Observe.groupedMedianMad(rows.repartition(5), "g", "v")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rep == out.view.mapValues(_._2).toMap)
  }

  test("grouped winsorize: exact ppm order-statistic bounds + clip") {
    val sp = spark
    import sp.implicits._
    // group a: 1..100 -> p5 rank ceil(5) = 5 (lo=5), p95 rank 95
    // (hi=95); 4 values clip up, 5 clip down
    // group b: all equal -> lo = hi = 7, nothing clips
    val rows = ((1 to 100).map(i => ("a", i.toLong)) ++
      Seq.fill(10)(("b", 7L))).toDF("g", "v")
    val w = Observe.groupedWinsorize(rows, "g", "v", 50000L, 950000L)
    val sum = w.groupBy("grp").agg(
        max("lo").as("lo"), max("hi").as("hi"),
        org.apache.spark.sql.functions.sum(
          when(col("v") =!= col("v_clip"), 1L).otherwise(0L)).as("nc"),
        org.apache.spark.sql.functions.sum("v_clip").as("sc"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // clipped sum for a: Σ1..100 = 5050, minus (1+2+3+4)=10 plus 4·5,
    // minus (96..100)=490 plus 5·95 -> 5050 - 10 + 20 - 490 + 475 = 5045
    assert(sum("a") == ((5L, 95L, 9L, 5045L)), s"group a: ${sum("a")}")
    assert(sum("b") == ((7L, 7L, 0L, 70L)), s"group b: ${sum("b")}")
    // rank-1 floor: loPpm so small every group keeps its min as lo
    val tiny = Observe.groupedWinsorize(rows, "g", "v", 1L, 999999L)
      .filter(col("grp") === "a")
      .agg(max("lo"), max("hi")).head()
    assert(tiny.getLong(0) == 1L && tiny.getLong(1) == 100L)
    // partition invariance
    val rep = Observe.groupedWinsorize(rows.repartition(7), "g", "v",
        50000L, 950000L)
      .groupBy("grp").agg(org.apache.spark.sql.functions.sum("v_clip").as("sc"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("a") == 5045L && rep("b") == 70L)
    // misuse is loud
    intercept[IllegalArgumentException] {
      Observe.groupedWinsorize(rows, "g", "v", 990000L, 10000L)
    }
  }
}
