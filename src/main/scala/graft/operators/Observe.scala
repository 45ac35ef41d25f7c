package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** L44: single-action pipeline observability. A curation funnel needs
  * per-stage accounting (rows surviving, bytes, nulls) — but a
  * `count()` per stage re-executes the lineage prefix once per stage:
  * at 100 TB a 14-stage funnel would read the corpus 14 times for its
  * metrics alone. `Dataset.observe` attaches named aggregates to a
  * point IN the plan; they are computed as accumulators DURING the one
  * terminal action (map-side, no extra shuffle, no extra scan), so the
  * whole funnel report costs zero additional passes.
  *
  * Contract notes: metrics ride the NEXT completed action on the
  * returned frame — run exactly one terminal action, then read the
  * observations. Aggregates must be global (no grouping) and
  * distinct-free (Spark enforces this at `observe` time). Stage names
  * double as observation names and must be unique within the funnel
  * (enforced here; Spark would fail the action otherwise).
  */
object Observe {

  /** Attach a named observation after `df`. Always records `rows`
    * (row count at this point in the plan); `extras` are additional
    * global aggregate columns riding the same pass — alias each
    * (`sum(length($"text")).as("bytes")`).
    */
  /** R41: two-proportion z-statistic from per-variant counts — input
    * one row per variant in {0, 1} with columns (variant, n, c); output
    * ONE row (n_a, n_b, conv_a, conv_b, rate_a_pm, rate_b_pm, z_q,
    * significant). z_q is the z-statistic in 1e-4 units (half-up
    * floor-quantized, engine-portable); significant at |z| >= 1.96.
    * Shared by the batch q_ab_test and the streaming A/B monitor so
    * the two can never drift. */
  def twoProportionZ(perVariant: DataFrame): DataFrame =
    perVariant.agg(
        max(when(col("variant") === 0, col("n"))).as("n_a"),
        max(when(col("variant") === 1, col("n"))).as("n_b"),
        max(when(col("variant") === 0, col("c"))).as("conv_a"),
        max(when(col("variant") === 1, col("c"))).as("conv_b"))
      .withColumn("rate_a_pm", expr("conv_a * 1000 div n_a"))
      .withColumn("rate_b_pm", expr("conv_b * 1000 div n_b"))
      .withColumn("z_q", expr(
        """CAST(FLOOR((conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
          | / NULLIF(sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
          |   * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
          |   * (1.0 / n_a + 1.0 / n_b)), 0.0)
          | * 10000 + 0.5) AS BIGINT)""".stripMargin))
      .withColumn("significant", abs(col("z_q")) >= 19600L)
      .select("n_a", "n_b", "conv_a", "conv_b", "rate_a_pm", "rate_b_pm",
        "z_q", "significant")

  def stage(df: DataFrame, name: String, extras: Column*): (DataFrame, Observation) = {
    val obs = Observation(name)
    (df.observe(obs, count(lit(1)).as("rows"), extras: _*), obs)
  }

  /** Thread `input` through named transforms, observing the row count
    * surviving each. Returns the final frame plus the observations in
    * stage order; run ONE action on the frame, then [[report]].
    */
  def funnel(input: DataFrame,
             stages: Seq[(String, DataFrame => DataFrame)]): (DataFrame, Seq[(String, Observation)]) = {
    val names = stages.map(_._1)
    require(names.distinct == names,
      s"stage names must be unique, got: ${names.mkString(", ")}")
    stages.foldLeft((input, Vector.empty[(String, Observation)])) {
      case ((df, acc), (name, f)) =>
        val (out, obs) = stage(f(df), name)
        (out, acc :+ (name -> obs))
    }
  }

  /** Post-action funnel report: (stage_idx, stage, rows_out) in stage
    * order. Call after the terminal action — metric delivery rides an
    * async QueryExecutionListener, so each observation is awaited up
    * to `timeout`; when no action ever ran through the observe node
    * this fails loudly rather than hanging forever or reporting a
    * silent zero.
    */
  def report(spark: org.apache.spark.sql.SparkSession,
             observed: Seq[(String, Observation)],
             timeout: scala.concurrent.duration.Duration =
               scala.concurrent.duration.Duration(60, "s")): DataFrame = {
    import spark.implicits._
    val rows = observed.zipWithIndex.map { case ((name, obs), i) =>
      try scala.concurrent.Await.ready(obs.future, timeout)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          throw new IllegalArgumentException(
            s"observation '$name' was never populated: run the terminal action first")
      }
      (i.toLong, name, obs.get("rows").asInstanceOf[Long])
    }
    rows.toDF("stage_idx", "stage", "rows_out")
  }

  /** Portable min/max rendering for [[profileTable]]: integers and
    * strings as-is, doubles micro-quantized (floor(x·10⁶ + 0.5) —
    * raw double→string differs across engines), timestamps as epoch
    * micros. Lossless enough for profiling, bit-identical on any
    * engine. */
  private def repr(c: Column, dt: org.apache.spark.sql.types.DataType): Column =
    if (dt == org.apache.spark.sql.types.StringType) c
    else reprNum(c, dt).cast("string")

  /** R45: one-pass column profiler — the table-level data-quality
    * sweep (Deequ/Great-Expectations territory) every ingest runs
    * before a 100 TB table joins the corpus: per column the null
    * count, distinct count, and portable min/max rendering, ALL
    * columns in one job. This is the audit/exact twin: multi-column
    * `count_distinct` plans through one Expand (shuffle volume ×
    * (cols+1) of the PROJECTED columns, not the table) — right for
    * gate-scale audits and for oracling. The 100 TB daily path is
    * [[profileTableApprox]]: HLL NDVs, single pass, no Expand.
    *
    * Returns one row per column: (column_name, n_rows, n_null,
    * n_distinct, min_repr, max_repr), long-form so a fleet of tables
    * lands in ONE profile store regardless of schema. */
  def profileTable(df: DataFrame, cols: Seq[String]): DataFrame =
    profiled(df, cols, c => count_distinct(c))

  /** The 100 TB profiler: same contract as [[profileTable]] but NDV
    * via HLL (`approx_count_distinct`) — every statistic is then a
    * plain partial aggregate, so the whole profile is ONE map-side
    * combined pass with no Expand and B-bounded shuffle rows. rsd
    * defaults to Spark's 5%. Gated against the exact twin in
    * ObserveSpec (the R3c exact-regime discipline). */
  def profileTableApprox(df: DataFrame, cols: Seq[String],
                         rsd: Double = 0.05): DataFrame =
    profiled(df, cols, c => approx_count_distinct(c, rsd))

  /** R45b: MERGEABLE profile store — the R17c mergeable-rollup
    * discipline applied to profiling. [[profileTable]] answers "what
    * does this table look like today" with a full pass; a 100 TB
    * table ingested daily needs "what does it look like over ANY
    * grain" without rescanning: per-partition profile rows whose NDV
    * state is a DataSketches HLL sketch (binary, union-able) and
    * whose min/max live in TYPED slots (numeric-μ/string — merging
    * the rendered strings would order "9" > "10"). Per-day profiles
    * persist; [[mergeProfiles]] folds any subset to one profile with
    * sums + sketch unions + slot min/max — delta-priced forever.
    *
    * Sketch input is the value cast to string (injective per type, so
    * string-NDV = value-NDV; double→string is injective in the JVM).
    * Returns (part, column_name, n_rows, n_null, ndv_sketch,
    * mn_num, mx_num, mn_str, mx_str). */
  def profileByPartition(df: DataFrame, partCol: Column,
                         cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileByPartition needs >= 1 column")
    val aggs = count(lit(1)).as("__rows") +: cols.flatMap { c =>
      val dt = df.schema(c).dataType
      val isStr = dt == org.apache.spark.sql.types.StringType
      val (mnN, mxN) =
        if (isStr) (lit(null).cast("long"), lit(null).cast("long"))
        else (reprNum(min(col(c)), dt), reprNum(max(col(c)), dt))
      val (mnS, mxS) =
        if (isStr) (min(col(c)), max(col(c)))
        else (lit(null).cast("string"), lit(null).cast("string"))
      Seq(count(col(c)).as(s"__nn_$c"),
        hll_sketch_agg(col(c).cast("string")).as(s"__sk_$c"),
        mnN.as(s"__mnn_$c"), mxN.as(s"__mxn_$c"),
        mnS.as(s"__mns_$c"), mxS.as(s"__mxs_$c"))
    }
    val wide = df.groupBy(partCol.as("part")).agg(aggs.head, aggs.tail: _*)
    val stacked = cols
      .map(c => s"'$c', `__nn_$c`, `__sk_$c`, `__mnn_$c`, `__mxn_$c`, " +
        s"`__mns_$c`, `__mxs_$c`")
      .mkString(", ")
    wide.selectExpr("part", "__rows",
        s"stack(${cols.length}, $stacked) AS " +
          "(column_name, __nn, ndv_sketch, mn_num, mx_num, mn_str, mx_str)")
      .select(col("part"), col("column_name"),
        col("__rows").as("n_rows"), (col("__rows") - col("__nn")).as("n_null"),
        col("ndv_sketch"), col("mn_num"), col("mx_num"),
        col("mn_str"), col("mx_str"))
  }

  /** Fold [[profileByPartition]] rows (any subset of partitions, any
    * number of appended delta batches) into one profile per column —
    * same output contract as [[profileTable]]. Counts sum, sketches
    * union, typed slots min/max; the portable repr re-renders from
    * whichever slot the column's type populated. Never touches the
    * base table. */
  def mergeProfiles(profiles: DataFrame): DataFrame =
    profiles.groupBy("column_name")
      .agg(sum("n_rows").as("n_rows"), sum("n_null").as("n_null"),
        hll_sketch_estimate(hll_union_agg(col("ndv_sketch")))
          .as("n_distinct"),
        min("mn_num").as("mn_num"), max("mx_num").as("mx_num"),
        min("mn_str").as("mn_str"), max("mx_str").as("mx_str"))
      .select(col("column_name"), col("n_rows"), col("n_null"),
        col("n_distinct"),
        coalesce(col("mn_num").cast("string"), col("mn_str")).as("min_repr"),
        coalesce(col("mx_num").cast("string"), col("mx_str")).as("max_repr"))

  /** R45c: mergeable QUANTILE profile store — the R45b discipline
    * extended to order statistics, the profile piece min/max/NDV
    * cannot cover (median, p95, quantile drift between releases).
    * Per-(partition, column) rows carry a serialized KLL doubles
    * sketch ([[graft.functions.kll_agg]]); any subset of partitions +
    * appended delta batches folds with [[mergeQuantileProfiles]] —
    * sums and sketch unions, never rescanning the base table. One
    * map-side-combined pass builds every column's sketch (plain
    * partial aggregates, no Expand).
    *
    * k defaults to the KLL format max (65535): profile rows are
    * per-(partition, column) — thousands, not billions — and a sketch
    * that has absorbed n ≤ k values retains ALL of them, so
    * gate-scale chains reproduce exact order statistics and
    * hash-oracle (the R3c exact-regime trick); at 100 TB the same
    * code degrades gracefully to ~0.01% rank error. Columns cast to
    * double (the sketch's value domain — integer columns below 2⁵³
    * are exact). */
  def quantilesByPartition(df: DataFrame, partCol: Column,
                           cols: Seq[String], k: Int = 65535): DataFrame = {
    require(cols.nonEmpty, "quantilesByPartition needs >= 1 column")
    val aggs = cols.map(c =>
      graft.functions.kll_agg(col(c).cast("double"), k).as(s"__q_$c"))
    val wide = df.groupBy(partCol.as("part")).agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c => s"'$c', `__q_$c`").mkString(", ")
    wide.selectExpr("part",
      s"stack(${cols.length}, $stacked) AS (column_name, qsketch)")
  }

  /** Fold [[quantilesByPartition]] rows into per-column quantiles at
    * the requested integer-ppm ranks (portability rule: 0.95 is not
    * exactly representable, 950000 is) — long-form (column_name,
    * p_ppm, q, n) so any rank set lands in one store. INCLUSIVE rank:
    * in the exact regime the answer is the order statistic at 1-based
    * position ceil(p·n), which is what the oracle replays. */
  def mergeQuantileProfiles(profiles: DataFrame, probsPpm: Seq[Long],
                            k: Int = 65535): DataFrame = {
    val merged = profiles.groupBy("column_name")
      .agg(graft.functions.kll_union_agg(col("qsketch"), k).as("sk"))
      .withColumn("n", graft.functions.kll_n(col("sk")))
      .withColumn("qs", graft.functions.kll_quantiles(col("sk"),
        probsPpm))
    merged.select(col("column_name"), col("n"),
        posexplode(col("qs")).as(Seq("i", "q")))
      .select(col("column_name"),
        element_at(typedLit(probsPpm), col("i") + 1).as("p_ppm"),
        col("q"), col("n"))
  }

  /** R47: two-sample Kolmogorov–Smirnov drift — the statistically
    * sharp "did this column's DISTRIBUTION move between corpus
    * releases / sources" gate. Profile stores (R45*) compare summary
    * points; KS is the sup-norm distance between the two empirical
    * CDFs, D = max over v of |F_a(v) − F_b(v)| — it sees a
    * mid-distribution shift that leaves min/max/median untouched.
    * Computed EXACTLY and all-integer: with cumulative counts ca, cb
    * and totals na, nb, D·(na·nb) = max |ca·nb − cb·na| over the
    * merged support, so d_ppm = floor(max|ca·nb − cb·na|·10⁶/(na·nb))
    * replays bit-exactly in any engine (decimal(38,0)-widened — no
    * float CDFs to disagree on).
    *
    * Scale shape: one (value) groupBy over both inputs (map-side
    * combined), then TWO [[PrefixSum.bucketed]] scans over the
    * DISTINCT-value frame — the sup over a total order is the exact
    * regime an unpartitioned ORDER BY window would serialize, and the
    * two-level scan spreads it over ~|V|/B tasks (B = `buckets`
    * range cells from a 1-row min/max frame). Final max is a plain
    * aggregate; ties on the max break to the SMALLEST attaining value
    * (deterministic `at_value`). Returns one row:
    * (n_a, n_b, d_ppm, at_value). */
  def ksDrift(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
              buckets: Int = 256): DataFrame = {
    val va = a.select(col(aCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .select(col("v"), lit(1L).as("da"), lit(0L).as("db"))
    val vb = b.select(col(bCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .select(col("v"), lit(0L).as("da"), lit(1L).as("db"))
    // pinned: min/max, both PrefixSum scans and the totals each act on
    // this frame — unpinned, every action re-runs the corpus groupBy
    // (the profileDrift redundant-pass lesson); pinned, the corpus is
    // read once and the narrow (v, da, db) support replays from blocks
    val support = Lineage.pinDerived(va.unionByName(vb)
      .groupBy("v").agg(sum("da").as("da"), sum("db").as("db")))
    // order-aligned range cells for the two-level scans (1-row frame;
    // the cell ids never reach the result — only the prefix sums do).
    // One head() for all four setup scalars, one two-sided prefix pass
    // (r16: the former min/max + totals + 2 single-value scans paid
    // five driver actions and two window ladders per call).
    val Row(mn: Double, mx: Double, na: Long, nb: Long) =
      support.agg(min("v"), max("v"), sum("da"), sum("db")).head()
    require(na > 0 && nb > 0,
      s"ksDrift needs non-empty sides, got n_a=$na n_b=$nb")
    val w = if (mx > mn) (mx - mn) / buckets else 1.0
    def cell = least(floor((col("v") - lit(mn)) / lit(w)),
      lit(buckets - 1).cast("double")).cast("long")
    val cum = PrefixSum.bucketed2(support, Seq("v"),
      col("da"), "ca", col("db"), "cb", cell)
    val diff = cum.withColumn("__d",
      abs(col("ca").cast("decimal(38,0)") * nb -
        col("cb").cast("decimal(38,0)") * na))
    diff.orderBy(col("__d").desc, col("v").asc).limit(1)
      .select(lit(na).as("n_a"), lit(nb).as("n_b"),
        expr(s"cast(__d * 1000000 div " +
          s"(cast($na as decimal(38,0)) * $nb) as long)").as("d_ppm"),
        col("v").as("at_value"))
  }

  /** L115: Mann–Whitney rank-sum drift — the LOCATION-shift companion
    * to [[ksDrift]]: KS's sup-norm sees any CDF gap, the rank-sum
    * statistic is the sharpest nonparametric test for "did this
    * column's values systematically move up/down between releases /
    * sources", and its normalized form U/(n_a·n_b) IS the
    * common-language effect size P(a > b) + ½P(a = b) — the same AUC
    * semantics the L103 eval family speaks.
    *
    * All-integer via the DOUBLED-midrank trick: with per-value counts
    * (da, db, t = da+db) and the inclusive cumulative count c over the
    * value order, the tie block at v occupies positions (c−t+1)..c, so
    * twice its midrank is 2(c−t) + t + 1 — an integer where the
    * midrank itself is not. Then 2R_a = Σ da·(2(c−t)+t+1),
    * U2 = 2U_a = 2R_a − n_a(n_a+1), auc_ppm = ⌊U2·5·10⁵/(n_a·n_b)⌋,
    * and the tie-corrected null variance reported PER PAIR (×10⁶):
    * varpp_micro = ⌊10⁶·((n+1)·n·(n−1) − Σ(t³−t)) / (12·n·(n−1))⌋,
    * so Var(U) = varpp·n_a·n_b/10⁶ — the n_a·n_b factor is divided
    * OUT before widening precisely so the worst term is 10⁶·n³
    * (decimal(38,0)-safe to n ≈ 3·10¹⁰ rows, where the naïve
    * n_a·n_b·n³ product blows 38 digits at n ≈ 3·10⁶). All terms
    * non-negative, so trunc-div needs no sign split. E[U2] = n_a·n_b,
    * so the z-score is (u2 − n_a·n_b)/(2·sqrt(varpp·n_a·n_b/10⁶))
    * for any consumer with a sqrt.
    *
    * Scale shape (the ksDrift recipe): one (value) groupBy over both
    * inputs → the pinned distinct-value support, ONE
    * [[PrefixSum.bucketed]] two-level scan (KS needs two), and a
    * 1-row final aggregate. Returns one row:
    * (n_a, n_b, u2, auc_ppm, varpp_micro). */
  def rankSumDrift(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
                   buckets: Int = 256): DataFrame = {
    val va = a.select(col(aCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .select(col("v"), lit(1L).as("da"), lit(0L).as("db"))
    val vb = b.select(col(bCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .select(col("v"), lit(0L).as("da"), lit(1L).as("db"))
    val support = Lineage.pinDerived(va.unionByName(vb)
      .groupBy("v").agg(sum("da").as("da"), sum("db").as("db")))
    // one head() for all four setup scalars (the ksDrift r16 trim)
    val Row(mn: Double, mx: Double, na: Long, nb: Long) =
      support.agg(min("v"), max("v"), sum("da"), sum("db")).head()
    require(na > 0 && nb > 0,
      s"rankSumDrift needs non-empty sides, got n_a=$na n_b=$nb")
    val w = if (mx > mn) (mx - mn) / buckets else 1.0
    val cell = least(floor((col("v") - lit(mn)) / lit(w)),
      lit(buckets - 1).cast("double")).cast("long")
    val cum = PrefixSum.bucketed(support, Seq("v"),
      col("da") + col("db"), cell, "c")
    val n = na + nb
    cum
      .withColumn("t", col("da") + col("db"))
      .agg(
        sum((col("da").cast("decimal(38,0)") *
          (lit(2L) * (col("c") - col("t")) + col("t") + 1L)).cast("decimal(38,0)"))
          .as("__r2a"),
        sum((col("t").cast("decimal(38,0)") * col("t") * col("t") - col("t"))
          .cast("decimal(38,0)")).as("__ties"))
      .select(
        lit(na).as("n_a"), lit(nb).as("n_b"),
        expr(s"cast(__r2a - cast($na as decimal(38,0)) * ${na + 1}L as long)")
          .as("u2"),
        expr(s"cast((__r2a - cast($na as decimal(38,0)) * ${na + 1}L) " +
          s"* 500000 div (cast($na as decimal(38,0)) * $nb) as long)")
          .as("auc_ppm"),
        expr(s"cast(cast(1000000 as decimal(38,0)) " +
          s"* (cast(${n + 1} as decimal(38,0)) * $n * ${n - 1} - __ties) " +
          s"div (cast(12 as decimal(38,0)) * $n * ${n - 1}) as long)")
          .as("varpp_micro"))
  }

  /** R56: two-sample chi-square drift over a CATEGORICAL column — the
    * member of the drift family ([[ksDrift]] / [[rankSumDrift]] cover
    * ordered values) for lang / source / status distributions, where
    * CDFs don't exist. The 2×C homogeneity statistic in the
    * cross-multiplied form that needs no expected-count division:
    * chi² = Σ_c (o_ac·N_b − o_bc·N_a)² / (N_a·N_b·(o_ac+o_bc))
    * (the (O−E)²/E sum over both rows collapses to this — no expected
    * counts, no leading N),
    * emitted per category (×10⁶, the attribution a drift alarm needs:
    * WHICH category moved) plus a `__total` row carrying (N_a, N_b)
    * and the summed statistic — the total is the sum of the QUANTIZED
    * per-category contributions (well-defined and replayable; dof is
    * the per-category row count minus one).
    *
    * All-integer (decimal(38,0) widened; every numerator non-negative
    * after the square, so div needs no sign split). Width: the
    * per-category numerator is 10⁶·(o_a·N_b − o_b·N_a)² ≤ 10⁶·N⁴/16
    * worst-case (a fully one-sided category) — safe to N ≈ 2·10⁸
    * rows adversarially;
    * beyond that, pre-scale the COUNTS, not the rows: the (category,
    * o_a, o_b) state is exactly additive across shards/batches, so
    * the corpus pass is one mergeable C-row groupBy and only the
    * bounded C-row tail arithmetic carries the width at all.
    *
    * Scale shape: one (category) groupBy over both inputs (map-side
    * combined) → C bounded rows; totals ride a 1-row head() like
    * ksDrift; the contribution math and total fold never touch the
    * corpus again. Returns (category, o_a, o_b, contrib_micro) rows
    * ordered by category, then ('__total', N_a, N_b, chi2_micro). */
  def chiSquareDrift(a: DataFrame, aCol: String,
                     b: DataFrame, bCol: String): DataFrame = {
    val va = a.select(col(aCol).cast("string").as("category"))
      .filter(col("category").isNotNull)
      .select(col("category"), lit(1L).as("da"), lit(0L).as("db"))
    val vb = b.select(col(bCol).cast("string").as("category"))
      .filter(col("category").isNotNull)
      .select(col("category"), lit(0L).as("da"), lit(1L).as("db"))
    val counts = Lineage.pinDerived(va.unionByName(vb)
      .groupBy("category").agg(sum("da").as("o_a"), sum("db").as("o_b")))
    val Row(na: Long, nb: Long) =
      counts.agg(sum("o_a"), sum("o_b")).head()
    require(na > 0 && nb > 0,
      s"chiSquareDrift needs non-empty sides, got n_a=$na n_b=$nb")
    val n = na + nb
    val per = counts.select(col("category"), col("o_a"), col("o_b"),
      expr(s"cast(cast(1000000 as decimal(38,0)) " +
        s"* (cast(o_a as decimal(38,0)) * $nb - cast(o_b as decimal(38,0)) * $na) " +
        s"* (cast(o_a as decimal(38,0)) * $nb - cast(o_b as decimal(38,0)) * $na) " +
        s"div (cast($na as decimal(38,0)) * $nb * (o_a + o_b)) as long)")
        .as("contrib_micro"))
    val total = per.agg(
        count(lit(1)).as("__c"), sum("contrib_micro").as("__chi2"))
      .select(lit("__total").as("category"), lit(na).as("o_a"),
        lit(nb).as("o_b"), col("__chi2").cast("long").as("contrib_micro"))
    per.orderBy("category").unionByName(total)
  }

  /** The numeric slot of the portable rendering (see [[repr]]):
    * integers verbatim, doubles micro-quantized, timestamps
    * epoch-micros — all as comparable longs so min/max MERGE
    * correctly across partition profiles. */
  private def reprNum(c: Column, dt: org.apache.spark.sql.types.DataType): Column =
    dt match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType =>
        floor(c * 1e6 + 0.5).cast("long")
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(c.cast("timestamp"))
      case _ => c.cast("long")
    }

  private def profiled(df: DataFrame, cols: Seq[String],
                       ndv: Column => Column): DataFrame = {
    require(cols.nonEmpty, "profileTable needs >= 1 column")
    val aggs = count(lit(1)).as("__rows") +: cols.flatMap { c =>
      val dt = df.schema(c).dataType
      Seq(count(col(c)).as(s"__nn_$c"),
        ndv(col(c)).as(s"__nd_$c"),
        repr(min(col(c)), dt).as(s"__mn_$c"),
        repr(max(col(c)), dt).as(s"__mx_$c"))
    }
    // project to the profiled columns, then fan: the Expand multiplies
    // every input row ×(cols+1) BEFORE the partial aggregate, so a
    // table that fits one scan split would push the whole multiplied
    // stream through one core (guide §2.3 project-early + §8.3);
    // Scale.fan is a no-op once the scan itself supplies parallelism
    val wide = Scale.fan(df.select(cols.map(col): _*))
      .agg(aggs.head, aggs.tail: _*)
    val stacked = cols
      .map(c => s"'$c', `__nn_$c`, `__nd_$c`, `__mn_$c`, `__mx_$c`")
      .mkString(", ")
    wide.selectExpr("__rows",
        s"stack(${cols.length}, $stacked) AS " +
          "(column_name, __nn, n_distinct, min_repr, max_repr)")
      .select(col("column_name"), col("__rows").as("n_rows"),
        (col("__rows") - col("__nn")).as("n_null"), col("n_distinct"),
        col("min_repr"), col("max_repr"))
  }

  // --- R52: partition-incremental aggregate table -------------------

  /** Partial decomposable aggregates of one fact slice, keyed by
    * (partition value, key columns): cnt/sum/mn/mx — the algebra that
    * merges by (sum, sum, min, max). Averages are NEVER stored
    * (stored averages don't merge); [[readAggTable]] derives them at
    * read time. */
  private def aggPartials(slice: DataFrame, partCol: Column,
                          keyCols: Seq[String], valCol: String): DataFrame =
    slice.groupBy(partCol.as("part") +: keyCols.map(col): _*)
      .agg(count(col(valCol)).as("cnt"), sum(col(valCol)).as("sum"),
        min(col(valCol)).as("mn"), max(col(valCol)).as("mx"))

  /** R52: build the partition-incremental aggregate table — the
    * delta-priced rollup-maintenance pattern: a 100 TB fact table's
    * daily rollup must never be recomputed whole because one day
    * arrived late or was fixed. State = a parquet table PARTITIONED BY
    * the partition value, holding per-(part, keys) partials. The state
    * is rollup-sized (parts x keys), not fact-sized. */
  def buildAggTable(facts: DataFrame, path: String, partCol: Column,
                    keyCols: Seq[String], valCol: String): Unit =
    // File sizing audited r17 (guide §6): a REBALANCE-by-part hint was
    // tried and REVERTED — AQE already coalesces the rollup-sized
    // aggregate output (one file per month dir locally, byte-sized
    // reducers at volume), so the hint only added an exchange per
    // write (+0.6 s over the query's three writes, no file-count
    // change). The remaining cost of this operator is the dynamic-
    // partition commit protocol itself, which is the contract.
    aggPartials(facts, partCol, keyCols, valCol)
      .write.mode("overwrite").partitionBy("part").parquet(path)

  /** R52: refresh ONLY the partitions present in `slice` — recompute
    * their partials and splice via dynamic partition overwrite (the
    * R24c backfill move): other partitions' files are untouched, and
    * re-running the same refresh rewrites the same directories to the
    * same content (idempotent). `slice` must be the COMPLETE fact data
    * for the partitions it covers — partials replace, they never
    * accumulate (accumulating on replay would double-count; replace
    * semantics make retries safe). */
  def refreshAggPartitions(slice: DataFrame, path: String, partCol: Column,
                           keyCols: Seq[String], valCol: String): Unit =
    aggPartials(slice, partCol, keyCols, valCol)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("part").parquet(path)

  /** R52: fold the stored partials to the rollup at any grouping that
    * keeps `keyCols` (partition pruning applies when a part filter is
    * pushed by the caller): sum-of-sums / min-of-mins, with the
    * average DERIVED from (sum, cnt). One scan of the rollup-sized
    * table; the fact table is out of the cost model entirely. */
  def readAggTable(spark: org.apache.spark.sql.SparkSession, path: String,
                   keyCols: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .groupBy(keyCols.map(col): _*)
      .agg(sum("cnt").as("n_rows"), sum("sum").as("sum_val"),
        min("mn").as("min_val"), max("mx").as("max_val"))

  /** R52b: fold the stored partials at a COARSER grain than the
    * partition value (month partials → quarter/year rollups) — the
    * whole point of storing decomposable partials rather than
    * finished aggregates: any grain at or above the partition grain
    * reads rollup-sized data, the fact table never re-scans.
    * `grainCol` must be a function of the `part` column (e.g.
    * substring(part, 1, 4) for year-of-month). */
  def readAggTableAt(spark: org.apache.spark.sql.SparkSession, path: String,
                     grainCol: Column, keyCols: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .groupBy(grainCol.as("grain") +: keyCols.map(col): _*)
      .agg(sum("cnt").as("n_rows"), sum("sum").as("sum_val"),
        min("mn").as("min_val"), max("mx").as("max_val"))

  /** R53 (r14): grouped EXACT median + MAD (median absolute
    * deviation) — the robust center/spread pair that a mean/stddev
    * profile (R45) misreports on heavy-tailed pipeline metrics (doc
    * lengths, prices, latencies), and the basis of the standard
    * "|x − median| > k·MAD" robust outlier rule (Hampel). Exact and
    * integer-only, so it hash-oracles: per (group, value) counts,
    * rank via TWO [[PrefixSum.keyed]] passes (value pass, then
    * |v − median| deviation pass) — the widest window task anywhere
    * is one 64-cell slice of one group, never a per-group global
    * sort. Even group sizes take the LOWER median (rank ⌊(n+1)/2⌋ —
    * keeps the statistic a corpus value and avoids the .5 average;
    * documented, and the SQL twin replays the same rank). Returns
    * (grp, n, median, mad). */
  /** R54 (r15): grouped EXACT winsorization — clip each group's values
    * at its own ⌈n·lo⌉-th / ⌈n·hi⌉-th order statistics (ppm ranks),
    * the robust-preprocessing step that bounds heavy-tail influence
    * before means/regressions without dropping rows. Exact and
    * integer-only like R53: per-(group, value) counts ranked via
    * [[PrefixSum.keyed]] — the widest window task anywhere is one
    * 64-cell slice of one group, never a per-group global sort; the
    * G-row bounds table broadcasts back onto the rows. Returns
    * (grp, v, lo, hi, v_clip). Rank k = max(1, ⌈n·ppm/10⁶⌉) — the
    * same lower-order-statistic convention as R53's median (k at
    * 500000 ppm IS that median). */
  def groupedWinsorize(df: DataFrame, grpCol: String, valCol: String,
                       loPpm: Long, hiPpm: Long): DataFrame = {
    require(0L <= loPpm && loPpm < hiPpm && hiPpm <= 1000000L,
      s"need 0 <= loPpm < hiPpm <= 1e6, got ($loPpm, $hiPpm)")
    val vals = df.select(col(grpCol).as("grp"),
      col(valCol).cast("long").as("v"))
    // ONE count-table build + ONE PrefixSum pass, pinned; both ppm
    // ranks are then cheap filters over the pinned ranked frame
    // (pin-once discipline — the two-orderStat form re-executed the
    // whole input lineage and the groupBy twice, r15 ADVICE). r17:
    // the count table itself also pins — bounds + keyed's two
    // references re-executed the fact scan + aggregate per reference.
    val g = Lineage.pin(vals.groupBy("grp", "v").agg(count(lit(1)).as("c")))
    val bounds = g.groupBy("grp").agg(min("v").as("mn"), max("v").as("mx"))
    val cells = g.join(bounds, "grp")
      .withColumn("cell",
        expr("cast((cast(v as decimal(38,0)) - mn) * 64 div " +
          "(cast(mx as decimal(38,0)) - mn + 1) as bigint)"))
      .drop("mn", "mx")
    val ranked = Lineage.pin(PrefixSum.keyed(cells, Seq("grp"), Seq("v"),
      col("c"), col("cell"), "cum", "tot"))
    def orderStat(ppm: Long, out: String): DataFrame =
      ranked
        .withColumn("k", greatest(lit(1L),
          expr(s"(tot * ${ppm}L + 999999) div 1000000")))
        .filter(col("cum") >= col("k") && col("cum") - col("c") < col("k"))
        .select(col("grp"), col("v").as(out))
    val b = orderStat(loPpm, "lo").join(orderStat(hiPpm, "hi"), "grp")
    vals.join(broadcast(b), "grp")
      .withColumn("v_clip",
        when(col("v") < col("lo"), col("lo"))
          .when(col("v") > col("hi"), col("hi"))
          .otherwise(col("v")))
      .select("grp", "v", "lo", "hi", "v_clip")
  }

  /** R57 (r16): grouped EQUI-DEPTH histogram — R28's fixed-width bins
    * answer "how many rows per value range"; the optimizer/skew
    * question is the transpose: "which value ranges hold equal row
    * mass" (DB2/Postgres-style depth-bounded histograms, the
    * boundary table a range-partitioner or a skew diagnosis reads).
    * Row r (1-based, per group, values ascending) belongs to bucket
    * (r−1)·B div n — the portable spelling (NTILE's remainder
    * distribution differs across engines); a hot value's rank span
    * may straddle buckets, so each (grp, v) count row SPLITS across
    * the ≤ B buckets it overlaps with exact interval arithmetic
    * (bucket b covers ranks ⌈b·n/B⌉+1 .. ⌈(b+1)·n/B⌉).
    *
    * Scale shape: the R53/R54 machinery — (grp, v) count table +
    * ONE [[PrefixSum.keyed]] two-level scan, then a bounded
    * explode (≤ B rows per distinct value, only for straddlers) and
    * a (grp, bucket) groupBy. Never a per-group global sort; widest
    * window task = one 64-cell slice of one group.
    *
    * Returns (grp, bucket, n_rows, lo, hi): per-bucket row mass and
    * inclusive value bounds; Σ n_rows = n per group exactly. */
  def groupedEquiDepth(df: DataFrame, grpCol: String, valCol: String,
                       buckets: Int = 8): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      s"equi-depth wants 2..1000 buckets, got $buckets")
    val vals = df.select(col(grpCol).as("grp"),
      col(valCol).cast("long").as("v"))
    // r17: pin-once — same §2.4 rationale as the median/winsorize
    // count tables (bounds + keyed's two references re-executed the
    // fact scan + aggregate per reference)
    val g = Lineage.pin(vals.groupBy("grp", "v").agg(count(lit(1)).as("c")))
    val bounds = g.groupBy("grp").agg(min("v").as("mn"), max("v").as("mx"))
    val cells = g.join(bounds, "grp")
      .withColumn("cell",
        expr("cast((cast(v as decimal(38,0)) - mn) * 64 div " +
          "(cast(mx as decimal(38,0)) - mn + 1) as bigint)"))
      .drop("mn", "mx")
    val ranked = PrefixSum.keyed(cells, Seq("grp"), Seq("v"), col("c"),
      col("cell"), "cum", "tot")
    ranked
      .withColumn("b1", expr(s"(cum - c) * $buckets div tot"))
      .withColumn("b2", expr(s"(cum - 1) * $buckets div tot"))
      .withColumn("bucket", explode(sequence(col("b1"), col("b2"))))
      .withColumn("__lo_r",
        expr(s"(bucket * tot + ${buckets - 1}) div $buckets + 1"))
      .withColumn("__hi_r",
        expr(s"((bucket + 1) * tot + ${buckets - 1}) div $buckets"))
      .withColumn("__rows",
        least(col("cum"), col("__hi_r")) -
          greatest(col("cum") - col("c") + 1, col("__lo_r")) + 1)
      .groupBy("grp", "bucket")
      .agg(sum("__rows").as("n_rows"), min("v").as("lo"), max("v").as("hi"))
  }

  /** R59 (r16): grouped WEIGHTED median — the R53 lower-median
    * semantics with per-row weights: the smallest value whose
    * cumulative weight reaches ⌈(W+1)/2⌉ (integer weights; with all
    * weights 1 this IS R53's median, asserted in the spec). The
    * weighted median is the robust center under importance — "the
    * price half the QUANTITY trades at or below", "the quality score
    * half the TOKENS sit under" — the question a row-median answers
    * wrongly whenever rows carry unequal mass.
    *
    * Scale shape: identical to R53 — (grp, v) weight-sum table + ONE
    * [[PrefixSum.keyed]] two-level scan; widest window task = one
    * 64-cell slice of one group. Returns (grp, w_total, wmedian). */
  def groupedWeightedMedian(df: DataFrame, grpCol: String, valCol: String,
                            weightCol: String): DataFrame = {
    val vals = df.select(col(grpCol).as("grp"),
      col(valCol).cast("long").as("v"),
      col(weightCol).cast("long").as("w"))
    // r17: pinned once — the count table is referenced by bounds AND
    // both sides of PrefixSum.keyed, which re-executed the fact scan +
    // weight aggregate per reference (§2.4). Count-table-sized state.
    val g = Lineage.pin(vals.groupBy("grp", "v").agg(sum("w").as("c")))
    val bounds = g.groupBy("grp").agg(min("v").as("mn"), max("v").as("mx"))
    val cells = g.join(bounds, "grp")
      .withColumn("cell",
        expr("cast((cast(v as decimal(38,0)) - mn) * 64 div " +
          "(cast(mx as decimal(38,0)) - mn + 1) as bigint)"))
      .drop("mn", "mx")
    PrefixSum.keyed(cells, Seq("grp"), Seq("v"), col("c"), col("cell"),
        "cum", "tot")
      .withColumn("k", expr("(tot + 1) div 2"))
      .filter(col("cum") >= col("k") && col("cum") - col("c") < col("k"))
      .select(col("grp"), col("tot").as("w_total"), col("v").as("wmedian"))
  }

  def groupedMedianMad(df: DataFrame, grpCol: String,
                       valCol: String): DataFrame = {
    // r17 (§2.3/§2.4): ONE fact scan builds the (grp, v) count table;
    // the deviation pass re-aggregates THAT table (counts of
    // |v − median| are sums of the value counts), so the fact input is
    // never scanned a second time and the rank ladders run over
    // count-table-sized frames. Both the count table and the median
    // row are multi-referenced, so they pin (the old lazy form
    // re-executed the fact groupBy per reference).
    def lowerMedianCounts(g: DataFrame, out: String): DataFrame = {
      // g: (grp, v, c); exact k-th order statistic from the
      // count-table rank: the row where cum first reaches k
      val bounds = g.groupBy("grp").agg(min("v").as("mn"), max("v").as("mx"))
      val cells = g.join(bounds, "grp")
        .withColumn("cell",
          // widen the divisor too: a group spanning more than
          // Long.MaxValue (values near both extremes) would wrap
          // (mx - mn + 1) negative in BIGINT (r14 ADVICE)
          expr("cast((cast(v as decimal(38,0)) - mn) * 64 div " +
            "(cast(mx as decimal(38,0)) - mn + 1) as bigint)"))
        .drop("mn", "mx")
      PrefixSum.keyed(cells, Seq("grp"), Seq("v"), col("c"), col("cell"),
          "cum", "tot")
        .withColumn("k", expr("(tot + 1) div 2"))
        .filter(col("cum") >= col("k") && col("cum") - col("c") < col("k"))
        .select(col("grp"), col("tot").as("n"), col("v").as(out))
    }
    val vals = df.select(col(grpCol).as("grp"),
      col(valCol).cast("long").as("v"))
    val g = Lineage.pin(vals.groupBy("grp", "v").agg(count(lit(1)).as("c")))
    val med = Lineage.pin(lowerMedianCounts(g, "median"))
    val devCounts = g.join(med.select("grp", "median"), "grp")
      .groupBy(col("grp"), abs(col("v") - col("median")).as("v"))
      .agg(sum("c").as("c"))
    val mad = lowerMedianCounts(devCounts, "mad").select("grp", "mad")
    mad.join(med, "grp").select("grp", "n", "median", "mad")
  }
}
