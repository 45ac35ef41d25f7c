package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared curation primitives (SURVEY.md §2 L31/L33) — the single
  * implementation behind `CurationQueries` and `tools.PipelineDemo`
  * (the two used to carry verbatim copies; a fix to either diverged
  * silently).
  */
object Curate {

  /** Pin a B-row bucket table without funneling a wide profile into a
    * single task: at the default B ≤ 1024 the table collapses to one
    * block (cheapest to cache and re-read), wider profiles keep
    * ~1024 rows per task — a 100×-wider bucket schema degrades to
    * more small tasks instead of serializing one (r14 verdict item:
    * the old unconditional `coalesce(1)` was a hidden width ceiling).
    * Package-visible so the spec can plan-assert the partition scaling
    * directly. */
  private[graft] def pinBuckets(df: DataFrame, buckets: Int): DataFrame =
    df.coalesce(math.max(1, buckets / 1024))
      .transform(graft.operators.Lineage.pin)

  /** L33c: UniMax water-filling budget allocation (Chung et al. 2023)
    * over a per-group token-size table `(groupCol, t_tok)`. Each group
    * is capped at `maxEpochs` passes over its own tokens; the budget
    * `totalTokens * budNum / budDen` fills small groups to their cap
    * and splits the remainder equally among the rest. The sequential
    * water-fill collapses to a closed-form split point (caps sorted
    * ascending, k = last index whose cap fits when granted to it and
    * everyone after), so the whole allocation is ONE window pass over
    * the L-row size table — all integer arithmetic, value-exact in the
    * DuckDB replay. Returns
    * `(groupCol, t_tok, cap, alloc, epochs_per_mille)`. */
  def unimaxAlloc(sizes: DataFrame, groupCol: String, maxEpochs: Long,
                  budNum: Long, budDen: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val caps = sizes.withColumn("cap", col("t_tok") * maxEpochs)
    val w = Window.orderBy("cap", groupCol)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val idx = caps
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("pfx", sum("cap").over(cum))
      .withColumn("l", count(lit(1)).over(all))
      .withColumn("tot", sum("t_tok").over(all))
      .withColumn("bud", expr(s"tot * ${budNum}L div ${budDen}L"))
      // group i (and, caps ascending, every smaller one) fits its full
      // cap iff granting >= cap_i to it and all later groups stays
      // within budget
      .withColumn("capped",
        col("cap") * (col("l") - col("i") + 1) + (col("pfx") - col("cap"))
          <= col("bud"))
    val kf = idx.agg(
      max(when(col("capped"), col("i")).otherwise(0L)).as("k"),
      max(when(col("capped"), col("pfx")).otherwise(0L)).as("pk"))
    idx.crossJoin(broadcast(kf))
      .withColumn("alloc", when(col("i") <= col("k"), col("cap"))
        .otherwise(expr("(bud - pk) div (l - k)")))
      .withColumn("epochs_per_mille", expr("alloc * 1000 div t_tok"))
      .select(groupCol, "t_tok", "cap", "alloc", "epochs_per_mille")
  }

  /** L33d: MATERIALIZE a UniMax allocation — each group's documents
    * replicate `alloc div t_tok` times (full epochs) plus one
    * fractional-epoch copy kept by the deterministic md5-prefix
    * threshold (the [[Mix]] scheme: content-hash sampling, so re-runs,
    * engines, and partitionings agree; the fractional keep rate
    * quantizes to 1/65536). Row growth is exactly the epoch factor —
    * the explode is bounded by maxEpochs+1, never data-dependent
    * unbounded. Output = input rows + an `epoch` copy index; a doc
    * appears full_ep or full_ep+1 times. NOTE: the join is inner —
    * a group present in `docs` but absent from `alloc` contributes
    * NOTHING (allocation zero); compute `alloc` from the same corpus
    * slice you apply it to. */
  def unimaxApply(docs: DataFrame, contentCol: String, groupCol: String,
                  alloc: DataFrame): DataFrame = {
    val a = alloc.select(col(groupCol), col("t_tok"), col("alloc"))
      .withColumn("full_ep", expr("alloc div t_tok"))
      .withColumn("frac_num", expr("alloc % t_tok"))
      .withColumn("thr", when(col("frac_num") === 0L, lit("0000"))
        .otherwise(lpad(lower(hex(expr("frac_num * 65536 div t_tok"))), 4, "0")))
      .select(groupCol, "full_ep", "thr")
    docs.join(broadcast(a), groupCol)
      .withColumn("epoch", explode(sequence(lit(0L), col("full_ep"))))
      .filter(col("epoch") < col("full_ep") ||
        substring(md5(col(contentCol)), 1, 4) < col("thr"))
      .drop("full_ep", "thr")
  }

  /** Exact per-group median of an integer score: the rank-(n+1)/2
    * element under (score, tiebreaker) order — integer rank on integer
    * values, no interpolation, engine-exact. One window shuffle on the
    * group; the result is group-cardinality rows (broadcast it back).
    */
  def groupMedian(df: DataFrame, groupCol: String, scoreCol: String,
                  tieCol: String, outCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(scoreCol), col(tieCol))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(groupCol)))
      .filter(col("__rn") === floor((col("__n") + 1) / lit(2.0)).cast("int"))
      .select(col(groupCol), col(scoreCol).as(outCol))
  }

  /** Per-group md5-prefix keep thresholds hitting a target output
    * share: rate = min(1, share · total/group), threshold = the
    * four-hex-digit prefix bound (rate 1.0 → 'zzzz', above every hex
    * quad). Membership test downstream: `substring(md5(content),1,4) <
    * thr` — a pure function of content, identical at any parallelism.
    * `shareExpr` may reference the group column (e.g. en 40%, others
    * 15%). Returns (groupCol, thr), group-cardinality rows.
    *
    * Granularity: realized rates quantize DOWN to 1/65536 steps
    * (floor keeps the sample at-or-under target, never over), so a
    * group's effective rate can undershoot by up to 1/65536 — and a
    * computed rate below 1/65536 rounds to a keep-nothing threshold.
    * At that point the target share asks for less than one row in
    * 65536; if that group still matters, raise its share rather than
    * relying on sub-ulp sampling. */
  def mixThresholds(df: DataFrame, groupCol: String, shareExpr: Column): DataFrame =
    df.groupBy(groupCol).agg(count(lit(1)).as("__nl"))
      .crossJoin(broadcast(df.agg(count(lit(1)).as("__tt"))))
      .withColumn("__rate", least(lit(1.0), shareExpr * col("__tt") / col("__nl")))
      .withColumn("thr", when(col("__rate") >= 1.0, lit("zzzz"))
        .otherwise(lpad(lower(hex(floor(col("__rate") * 65536).cast("int"))), 4, "0")))
      .select(col(groupCol), col("thr"))

  /** L33b: temperature-flattened source mixing (the multilingual /
    * multi-source rebalance of XLM-R and mT5): sampling shares follow
    * n_g^0.5 instead of n_g, lifting low-resource groups toward parity
    * while keeping high-resource ones dominant. The exponent is FIXED
    * at 0.5 — sqrt is IEEE-correctly-rounded in every engine, unlike
    * pow/log whose last-ulp behavior varies across libms, so the
    * resulting thresholds are engine-portable (DuckDB-oracled).
    * `targetFraction` caps total output at that share of the corpus.
    *
    * Arithmetic contract: group weights quantize to
    * floor(sqrt(n)·2^20) BIGINTs (summed exactly), the per-group rate
    * is one fixed-order double expression over those integers, and
    * thresholds quantize to 1/65536 like [[mixThresholds]] — same
    * granularity floor, same `substring(md5(content),1,4) < thr`
    * membership test downstream. One count aggregate + a broadcast
    * scalar; group-cardinality output. */
  def temperatureThresholds(df: DataFrame, groupCol: String,
                            targetFraction: Double): DataFrame = {
    require(targetFraction > 0 && targetFraction <= 1,
      s"targetFraction must be in (0, 1], got $targetFraction")
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("__nl"))
      .withColumn("__w",
        floor(sqrt(col("__nl").cast("double")) * 1048576.0).cast("long"))
    val tot = counts.agg(sum(col("__w")).as("__sw"), sum(col("__nl")).as("__tt"))
    counts.crossJoin(broadcast(tot))
      .withColumn("__rate", least(lit(1.0),
        lit(targetFraction) * col("__tt") / col("__sw") * col("__w") / col("__nl")))
      .withColumn("thr", when(col("__rate") >= 1.0, lit("zzzz"))
        .otherwise(lpad(lower(hex(floor(col("__rate") * 65536).cast("int"))), 4, "0")))
      .select(col(groupCol), col("thr"))
  }

  /** L26b: leakage-safe (cluster-atomic) dataset split — the split
    * primitive a dedup-aware pipeline actually needs: a plain
    * hash-of-id split lets two near-duplicate documents land in train
    * AND test, leaking eval content into training. Here the split key
    * is the document's near-dup CLUSTER (connected component of
    * `pairs` via [[Dedup.clusters]]; docs with no pair are their own
    * singleton cluster), so a whole duplicate family moves as one
    * unit. Assignment is the md5-prefix-threshold scheme of
    * [[mixThresholds]] on the cluster key — a pure function of the
    * key, partitioning-independent and engine-portable (DuckDB-
    * oracled). `splits` are (name, fraction) with fractions summing to
    * 1; realized fractions quantize to 1/65536 AT CLUSTER grain (and
    * sway with cluster sizes — a split fraction is a probability over
    * clusters, not an exact row count).
    *
    * Scale shape: clusters() ships one row per node per round of the
    * pair graph only; the assignment join broadcasts nothing and
    * shuffles docs once on the id equi-join. Reserves columns
    * `cluster` and `split` on the output. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                       splits: Seq[(String, Double)],
                       id1Col: String = "doc_id1",
                       id2Col: String = "doc_id2"): DataFrame =
    leakageSafeSplitLabels(docs, idCol, Dedup.clusters(pairs, id1Col, id2Col),
      splits)

  /** [[leakageSafeSplit]] over PRECOMPUTED (id, cluster) labels — the
    * amortized form for pipelines that already ran label propagation
    * (see [[Dedup.removeNearDupsClusteredLabels]]). */
  def leakageSafeSplitLabels(docs: DataFrame, idCol: String,
                             labels: DataFrame,
                             splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got $splits")
    require(!docs.columns.contains("cluster") && !docs.columns.contains("split"),
      "leakageSafeSplit reserves output columns 'cluster' and 'split'")
    val cl = labels
    val withCl = docs.join(cl, docs(idCol) === cl("id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), docs(idCol)))
      .drop("id")
    val bucket = substring(md5(col("cluster").cast("string")), 1, 4)
    // cumulative upper thresholds; the last split is the `otherwise`
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val thr = cum.map(f => f"${math.min(65535L, math.floor(f * 65536).toLong)}%04x")
    val assign = splits.init.zip(thr.init).foldRight(lit(splits.last._1): Column) {
      case (((name, _), t), acc) => when(bucket < t, name).otherwise(acc)
    }
    withCl.withColumn("split", assign)
  }

  /** L46: DSIR-style importance scoring (Xie et al., "Data Selection
    * for Language Models via Importance Resampling", NeurIPS 2023):
    * score every document by how much more likely its hashed n-gram
    * features are under a TARGET distribution (the rows where
    * `isTarget` holds — a trusted/high-quality exemplar set) than
    * under the raw corpus. Features are hashed unigrams AND bigrams
    * (the paper's hashed n-gram feature space) in `buckets` buckets.
    *
    * The target model smooths with a Dirichlet prior centered on the
    * RAW distribution — p_T(f) = (ct + α·cr/NR)/(NT + α), α = B —
    * not an add-one prior: under add-one, a feature absent from BOTH
    * distributions gets ratio ≈ NR/(2·NT) > 1, so off-distribution
    * garbage ranks as target-like purely from the prior. Centered on
    * raw, a feature whose target share equals its raw share scores
    * exactly 10⁶ (neutral), an unseen-in-target feature damps toward
    * α/(NT+α), and target-enriched features score above 10⁶.
    *
    * Arithmetic contract: the paper's log-ratio weight is replaced by
    * the mean QUANTIZED probability ratio — per feature occurrence
    *   qf = floor((ct·NR + α·cr)·10⁶ / (cr·(NT + α)))
    * (a floor of products/ratios of non-negative integers widened
    * through decimal(38,0); no libm log, whose last ulp varies across
    * engines), and the document score is the integer-div mean of qf
    * over its feature occurrences. Bit-identical at any parallelism
    * and on any engine — which is what lets an importance-model
    * selection carry a DuckDB hash oracle. Ranking agrees with
    * log-weights when per-doc ratio spreads are moderate; a heavy-
    * tailed feature can dominate the mean where the log-sum would
    * damp it (documented divergence, not a defect). Documents with
    * zero tokens have no features and drop out.
    *
    * Scale shape: both models are B-row aggregates — the qf table
    * BROADCASTS, so scoring is a map-side join of the corpus feature
    * stream against B rows plus one groupBy(doc) integer sum; the
    * corpus never shuffles against the model. Returns
    * (doc_id, n_feats, score_q); selection on top is a TakeOrdered
    * (`importance top-k`, the paper's deterministic baseline). */
  /** The hashed uni+bigram feature stream of a document frame:
    * (doc_id, f) with f in [0, buckets). */
  private def dsirFeatures(docs: DataFrame, idCol: String, textCol: String,
                           buckets: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      graft.functions.tokenize_ws(coalesce(col(textCol), lit(""))).as("t"))
    val unis = toks.select(col("doc_id"), explode(col("t")).as("g"))
    val bis = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => concat_ws(" ", element_at(col("t"), i),
            element_at(col("t"), i + 1)))).as("g"))
    unis.union(bis).select(col("doc_id"),
      pmod(graft.functions.rolling_hash(col("g")), lit(buckets.toLong)).as("f"))
  }

  /** Train the importance model only: the B-row (f, qf) quantized
    * ratio table — the build-once artifact a pipeline persists and
    * then applies to any number of batches (or a stream) via
    * [[dsirApply]]. */
  def dsirModel(docs: DataFrame, idCol: String, textCol: String,
                isTarget: Column, buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"need >= 2 feature buckets, got $buckets")
    // pinned B-row counts: the totals below are Σ over the counts, so
    // deriving them from cnt instead of feats costs a B-row re-read —
    // the unpinned form ran the corpus feature explode TWICE (counts
    // pass + totals pass)
    val cnt = pinBuckets(dsirCounts(docs, idCol, textCol, isTarget, buckets), buckets)
    // totals land driver-side: two scalars become plan literals (no
    // 1-row cross join in every downstream plan), and an importance
    // model with an EMPTY target can fail loudly instead of silently
    // scoring every feature neutral
    val tot = cnt.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr")).head()
    val (nt, nr) = (Option(tot.get(0)).fold(0L)(_ => tot.getLong(0)),
      tot.getLong(1))
    require(nt > 0, "dsirModel: target set selects no feature mass " +
      "(isTarget matches no docs, or only empty docs)")
    cnt.select(col("f"),
      expr(s"CAST((CAST(ct AS DECIMAL(38,0)) * ${nr}L + $buckets * cr) * 1000000" +
        s" div (CAST(cr AS DECIMAL(38,0)) * (${nt}L + $buckets)) AS BIGINT)")
        .as("qf"))
  }

  /** Score a document frame against an already-trained (f, qf) model:
    * broadcast join of the feature stream against B rows + one
    * groupBy(doc) integer sum — the map-side apply half of DSIR.
    * Features absent from the model (a bucket the training corpus
    * never populated) are scored at the unseen-feature floor 0 rather
    * than dropped, so out-of-vocabulary mass lowers the mean instead
    * of silently shrinking the denominator. */
  def dsirApply(docs: DataFrame, idCol: String, textCol: String,
                model: DataFrame, buckets: Int = 1024): DataFrame =
    dsirFeatures(docs, idCol, textCol, buckets)
      .join(broadcast(model), Seq("f"), "left")
      .withColumn("qf", coalesce(col("qf"), lit(0L)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        expr("CAST(CAST(SUM(qf) AS DECIMAL(38,0)) div COUNT(1) AS BIGINT)")
          .as("score_q"))

  /** Train on `docs` and score the same corpus — the batch one-shot
    * ([[dsirModel]] + [[dsirApply]] composed). */
  def dsirScores(docs: DataFrame, idCol: String, textCol: String,
                 isTarget: Column, buckets: Int = 1024): DataFrame =
    dsirApply(docs, idCol, textCol,
      dsirModel(docs, idCol, textCol, isTarget, buckets), buckets)

  /** L46c: INCREMENTAL DSIR model maintenance — the build-once /
    * append-many discipline (signature table, `Lexical.appendDocs`)
    * applied to the importance model: persist the raw (f, ct, cr)
    * bucket counts once, then fold each new corpus batch in with a
    * B-row merge instead of a from-scratch retrain. Counts are plain
    * integer sums, so build+appends lands EXACTLY the model a full
    * rebuild over the union would (spec-gated equality, not
    * approximate drift). The persisted artifact is two tiny tables —
    * `<t>_dsir_counts` (f, ct, cr) and `<t>_dsir_totals`
    * (nt, nr) — and the ratio table derives from them on demand via
    * [[dsirModelFromCounts]]. Appending a batch costs one aggregation
    * of THAT batch plus a B-row rewrite; the existing corpus is never
    * rescanned. */
  def buildDsirCounts(docs: DataFrame, idCol: String, textCol: String,
                      isTarget: Column, table: String,
                      buckets: Int = 1024): Unit = {
    require(buckets >= 2, s"need >= 2 feature buckets, got $buckets")
    val spark = docs.sparkSession
    Seq("counts", "totals").foreach(p =>
      ManagedTable.drop(spark, s"${table}_dsir_$p"))
    dsirCounts(docs, idCol, textCol, isTarget, buckets)
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_dsir_counts")
    dsirTotals(spark, table)
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_dsir_totals")
  }

  /** The (f, ct, cr) bucket counts of a document frame: ct its target
    * rows, cr all its rows, per feature bucket. */
  private def dsirCounts(docs: DataFrame, idCol: String, textCol: String,
                         isTarget: Column, buckets: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), isTarget.as("is_t"))
      .join(dsirFeatures(docs, idCol, textCol, buckets), Seq("doc_id"))
      .groupBy("f").agg(
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))

  /** The one-row (nt, nr) totals, derived from the COMMITTED counts (no
    * second corpus pass). */
  private def dsirTotals(spark: SparkSession, table: String): DataFrame =
    spark.table(s"${table}_dsir_counts")
      .agg(coalesce(sum("ct"), lit(0L)).as("nt"),
        coalesce(sum("cr"), lit(0L)).as("nr"))

  /** The committed counts full-outer merged with a batch's counts `inc`
    * bucket by bucket, combined by `op` (+ to append, − to remove). */
  private def dsirMerged(spark: SparkSession, table: String, inc: DataFrame,
                         op: (Column, Column) => Column): DataFrame =
    spark.table(s"${table}_dsir_counts")
      .select(col("f"), col("ct").as("ct0"), col("cr").as("cr0"))
      .join(inc.select(col("f"), col("ct").as("ct1"), col("cr").as("cr1")),
        Seq("f"), "full_outer")
      .select(col("f"),
        op(coalesce(col("ct0"), lit(0L)), coalesce(col("ct1"), lit(0L))).as("ct"),
        op(coalesce(col("cr0"), lit(0L)), coalesce(col("cr1"), lit(0L))).as("cr"))

  /** Fold a new batch into the persisted counts: aggregate the BATCH
    * only, full-outer merge with the committed B rows, rewrite both
    * tiny tables by [[ManagedTable.replace]]. After the append,
    * [[dsirModelFromCounts]] equals a from-scratch [[buildDsirCounts]]
    * over the union exactly. */
  def appendDsirCounts(batch: DataFrame, idCol: String, textCol: String,
                       isTarget: Column, table: String,
                       buckets: Int = 1024): Unit = {
    val spark = batch.sparkSession
    ManagedTable.replace(spark, s"${table}_dsir_counts", dsirMerged(spark, table,
      dsirCounts(batch, idCol, textCol, isTarget, buckets), _ + _))
    ManagedTable.replace(spark, s"${table}_dsir_totals", dsirTotals(spark, table))
  }

  /** L46d: remove a batch from the persisted counts — the ERASURE twin
    * of [[appendDsirCounts]] (GDPR/retraction: the importance model
    * must forget deleted documents without a corpus rebuild). The
    * batch's feature counts SUBTRACT through the same B-row full-outer
    * merge (counts are plain integer sums, so build(all) − remove(X) ≡
    * build(all \ X) bit-exactly — spec-gated); rows whose counts reach
    * zero are dropped so no empty-bucket residue accumulates.
    * Subtracting a batch that was never added fails loudly (a negative
    * count means the model would be corrupted silently). */
  def removeDsirCounts(batch: DataFrame, idCol: String, textCol: String,
                       isTarget: Column, table: String,
                       buckets: Int = 1024): Unit = {
    val spark = batch.sparkSession
    // read twice: the negative-count check and the rewrite
    val merged = dsirMerged(spark, table,
        dsirCounts(batch, idCol, textCol, isTarget, buckets), _ - _)
      .transform(graft.operators.Lineage.pin)
    val bad = merged.filter(col("ct") < 0 || col("cr") < 0).count()
    require(bad == 0,
      s"$table: removing a batch that exceeds the committed counts " +
        s"($bad buckets would go negative) — was this batch ever added?")
    ManagedTable.replace(spark, s"${table}_dsir_counts", merged.filter(col("cr") > 0))
    ManagedTable.replace(spark, s"${table}_dsir_totals", dsirTotals(spark, table))
  }

  /** Derive the (f, qf) ratio model from the persisted counts — same
    * arithmetic as [[dsirModel]], same loud empty-target contract. */
  def dsirModelFromCounts(spark: SparkSession, table: String,
                          buckets: Int = 1024): DataFrame = {
    val tot = spark.table(s"${table}_dsir_totals").head()
    val (nt, nr) = (tot.getLong(0), tot.getLong(1))
    require(nt > 0, s"$table: persisted counts hold no target feature mass")
    spark.table(s"${table}_dsir_counts")
      .select(col("f"),
        expr(s"CAST((CAST(ct AS DECIMAL(38,0)) * ${nr}L + $buckets * cr) * 1000000" +
          s" div (CAST(cr AS DECIMAL(38,0)) * (${nt}L + $buckets)) AS BIGINT)")
          .as("qf"))
  }

  /** L50: corpus distribution profile — the B-row (f, cnt) hashed
    * uni+bigram bucket histogram of a document frame: the lightweight
    * statistical fingerprint for drift monitoring. Mergeable by plain
    * addition (profiles of shards sum to the profile of the union —
    * integer counts), tiny (B rows), and shareable across runs. */
  def corpusProfile(docs: DataFrame, idCol: String, textCol: String,
                    buckets: Int = 1024): DataFrame =
    dsirFeatures(docs, idCol, textCol, buckets)
      .groupBy("f").agg(count(lit(1)).as("cnt"))

  /** L50: distribution drift between two corpus profiles — the total
    * variation distance TV = ½ Σ_f |p_a(f) − p_b(f)| over the hashed
    * n-gram buckets, the "did my pipeline change the data" monitor a
    * 100 TB ingest runs per batch/day. Computed integer-exactly:
    * each term |ca·NB − cb·NA| is an exact integer (widened through
    * decimal(38,0)), the sum divides once by 2·NA·NB and quantizes to
    * 10⁶ units — engine-portable, hash-oracle-able. Missing buckets
    * count 0 (full-outer join). Returns one row
    * (n_a, n_b, tv_q ∈ [0, 10⁶]); symmetric by construction. The
    * inputs are B-row profiles, so the whole comparison is a
    * broadcast-size job regardless of corpus size — and profiles
    * merge by addition, so drift-over-time needs one stored B-row
    * frame per epoch, never a corpus re-read. */
  def profileDrift(a0: DataFrame, b0: DataFrame,
                   widthHint: Int = 1024): DataFrame = {
    // Pin the B-row profiles ONCE: the totals .head() and the
    // full-outer join below would otherwise each re-execute the
    // profile lineage — a full corpus pass per re-execution when the
    // caller hands a fresh corpusProfile (r12's q_corpus_drift ran 8
    // corpus passes for 4 profiles). Width-scaled coalesce first
    // (pinBuckets): profiles at the default B ≤ 1024 collapse to one
    // block, wider ones keep ~1024 rows/task — pass the profile's
    // bucket count as widthHint when it exceeds the default.
    // (Cluster note: localCheckpoint blocks die with their executor —
    // see SURVEY §4 iterative-ops caveat; for B-row frames a
    // recompute-on-loss is a non-event.)
    val a = pinBuckets(a0, widthHint)
    val b = pinBuckets(b0, widthHint)
    val na = a.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
    val nb = b.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
    require(na > 0 && nb > 0,
      s"profileDrift needs non-empty profiles, got totals ($na, $nb)")
    a.select(col("f"), col("cnt").as("ca"))
      .join(b.select(col("f"), col("cnt").as("cb")), Seq("f"), "full_outer")
      .select(
        abs(coalesce(col("ca"), lit(0L)).cast("decimal(38,0)") * nb -
          coalesce(col("cb"), lit(0L)).cast("decimal(38,0)") * na).as("d"))
      .agg(expr(s"CAST(CAST(SUM(d) AS DECIMAL(38,0)) * 1000000" +
        s" div (2 * CAST(${na}L AS DECIMAL(38,0)) * ${nb}L) AS BIGINT)")
        .as("tv_q"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"), col("tv_q"))
  }

  /** L46b: GROUPED (multi-tenant) DSIR — one importance model per
    * group (domain, source, language), all trained in ONE (grp, f)
    * shuffle over the shared feature stream: the per-tenant model-
    * training discipline of [[Ann.trainGroupedCentroids]] applied to
    * importance models. Each group's ratios use ITS OWN target/raw
    * totals (a G-row aggregate, broadcast back), so a tenant's model
    * never sees another tenant's distribution; a group whose target
    * slice is empty fails loudly, listing the groups. Returns the
    * (grp, f, qf) model table — G·B rows, broadcastable for moderate
    * G. */
  def dsirModelGrouped(docs: DataFrame, idCol: String, textCol: String,
                       groupCol: String, isTarget: Column,
                       buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"need >= 2 feature buckets, got $buckets")
    val base = docs.select(col(idCol).as("doc_id"),
      col(groupCol).as("grp"), isTarget.as("is_t"))
    val feats = base.join(dsirFeatures(docs, idCol, textCol, buckets),
      Seq("doc_id"))
    // pinned G·B-row counts; per-group totals are Σ over them, so the
    // corpus feature explode runs ONCE (it used to run for the counts
    // AND again for the totals, plus the empty-group probe)
    val cnt = feats.groupBy("grp", "f").agg(
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
      .transform(graft.operators.Lineage.pin)
    val tot = cnt.groupBy("grp").agg(
      sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val empty = tot.filter(col("nt") === 0).select("grp")
      .collect().map(_.get(0).toString).sorted
    require(empty.isEmpty,
      s"dsirModelGrouped: groups with no target feature mass: ${empty.mkString(", ")}")
    cnt.join(broadcast(tot), "grp")
      .select(col("grp"), col("f"),
        expr(s"CAST((CAST(ct AS DECIMAL(38,0)) * nr + $buckets * cr) * 1000000" +
          s" div (CAST(cr AS DECIMAL(38,0)) * (nt + $buckets)) AS BIGINT)")
          .as("qf"))
  }

  /** Score docs against their OWN group's model: broadcast (grp, f)
    * join + one groupBy(doc) integer mean — the grouped twin of
    * [[dsirApply]] (same unseen-bucket 0 floor). */
  def dsirApplyGrouped(docs: DataFrame, idCol: String, textCol: String,
                       groupCol: String, model: DataFrame,
                       buckets: Int = 1024): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(groupCol).as("grp"))
      .join(dsirFeatures(docs, idCol, textCol, buckets), Seq("doc_id"))
      .join(broadcast(model), Seq("grp", "f"), "left")
      .withColumn("qf", coalesce(col("qf"), lit(0L)))
      .groupBy("doc_id", "grp")
      .agg(count(lit(1)).as("n_feats"),
        expr("CAST(CAST(SUM(qf) AS DECIMAL(38,0)) div COUNT(1) AS BIGINT)")
          .as("score_q"))

  /** L47: Gopher document-quality rules (Rae et al., "Scaling Language
    * Models: ... Gopher", 2021, §A1.1) — the published rule battery
    * that became the de-facto web-corpus pre-filter (reused by
    * MassiveText, RefinedWeb, Dolma): word-count band, mean-word-length
    * band, symbol-to-word ratio, bullet/ellipsis line shares, alphabetic
    * word share, and a minimum stop-word presence. Emits one flag per
    * rule plus the conjunction, so a pipeline can audit WHICH rule
    * rejected a document (the flags are the observability surface; the
    * `keep` column is the filter).
    *
    * Every threshold is evaluated as a CROSS-MULTIPLIED integer
    * comparison (e.g. mean word length in [3,10] ⇔ 3·n ≤ Σlen ≤ 10·n),
    * never a double division — the flags are bit-exact on any engine
    * and carry a DuckDB hash oracle. Map-side only: one pass, no
    * shuffle, codegen'd builtins (split/filter/aggregate) end to end.
    */
  def gopherFlags(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000,
                  stopWords: Seq[String] =
                    Seq("the", "be", "to", "of", "and", "that", "have", "with"))
      : DataFrame = {
    val checks = gopherChecks(col("__gs"), minWords, maxWords)
    withGopherStats(docs, textCol, stopWords)
      .select(col(idCol).as("doc_id") +: element_at(col("__gs"), 1).as("n_words") +:
        checks.map { case (n, ok) => ok.cast("long").as(n) }: _*)
      .withColumn("keep",
        (checks.map(c => col(c._1)).reduce(_ * _) === 1).cast("long"))
  }

  /** `docs` plus a boolean `keepCol`: the [[gopherFlags]] `keep`
    * verdict without the per-rule flags, for pipelines that only
    * filter on it (the streaming ingest pin computes it beside the
    * MinHash signatures in one pass over the batch). */
  private[graft] def withGopherKeep(docs: DataFrame, textCol: String, keepCol: String,
                                    stopWords: Seq[String], minWords: Int = 50,
                                    maxWords: Int = 100000): DataFrame =
    withGopherStats(docs, textCol, stopWords)
      .withColumn(keepCol,
        gopherChecks(col("__gs"), minWords, maxWords).map(_._2).reduce(_ && _))
      .drop("__gs")

  private def withGopherStats(docs: DataFrame, textCol: String,
                              stopWords: Seq[String]): DataFrame = {
    require(stopWords.nonEmpty, "gopherFlags needs a non-empty stop list")
    // ONE fused codegen'd pass computes all eight statistics: the
    // equivalent higher-order builtins (filter/transform/aggregate
    // lambdas) are CodegenFallback in Spark — eight interpreted walks
    // over every token array, which is real CPU at corpus scale.
    // Kernel parity with the builtin composition is spec-gated.
    docs.withColumn("__gs", graft.functions.gopher_stats(
      coalesce(col(textCol), lit("")), array(stopWords.map(lit): _*)))
  }

  /** The Gopher rules over one `gopher_stats` array `gs` (n_words,
    * Σ word length, alphabetic words, symbols, stop words, lines,
    * bullet lines, ellipsis lines), as (flag name, passes) pairs. */
  private def gopherChecks(gs: Column, minWords: Int, maxWords: Int): Seq[(String, Column)] = {
    def stat(i: Int) = element_at(gs, i)
    val nWords = stat(1)
    Seq(
      "ok_words" -> (nWords >= minWords && nWords <= maxWords),
      // 3 <= mean word length <= 10, cross-multiplied
      "ok_wordlen" -> (stat(2) >= nWords * 3 && stat(2) <= nWords * 10),
      // symbol-to-word ratio < 0.1
      "ok_symbols" -> (stat(4) * 10 < nWords),
      // < 90% bullet lines, < 30% ellipsis lines
      "ok_lines" -> (stat(7) * 10 < stat(6) * 9 && stat(8) * 10 < stat(6) * 3),
      // >= 80% of words contain an alphabetic character
      "ok_alpha" -> (stat(3) * 5 >= nWords * 4),
      // at least two distinct stop words present
      "ok_stopwords" -> (stat(5) >= 2))
  }

  /** L52: token-blocklist filter — the C4 "bad words" pre-filter
    * (Raffel et al. 2020 §2.2, the List-of-Dirty-Naughty-Obscene-and-
    * Otherwise-Bad-Words rule reused by every Common Crawl curation
    * since): flag every document containing any blocklisted token,
    * with enough per-doc accounting (total hits, distinct terms hit,
    * integer hits-per-mille) that downstream policies other than C4's
    * zero-tolerance `keep` can be derived without a second corpus pass.
    *
    * Map-side single pass, zero shuffles: the blocklist rides the plan
    * as a broadcast literal array, so the corpus never shuffles against
    * it. Per-token membership is O(|blocklist|) — the published lists
    * are O(10²–10³) terms, well inside map-task budget; for a
    * vocabulary-scale list, switch to explode + broadcast hash join +
    * per-doc count re-agg (one narrow map-side-combined shuffle) — the
    * decontaminate shape, not this one. All outputs are integers /
    * integer divisions (hash-oracle-safe on any engine).
    *
    * Returns (doc_id, n_tokens, n_hits, n_distinct_hits,
    * hits_per_mille, keep) with keep = 1 iff no hit (the C4 rule). */
  def blocklistFlags(docs: DataFrame, idCol: String, textCol: String,
                     terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "blocklistFlags needs a non-empty blocklist")
    // ONE fused codegen'd pass (blocklist_stats): the higher-order
    // filter/intersect composition is CodegenFallback and
    // O(tokens·|blocklist|); the kernel probes a per-executor hash set.
    // Kernel ≡ builtins parity is spec-gated in CurationSpec.
    docs
      .withColumn("__bs", graft.functions.blocklist_stats(
        coalesce(col(textCol), lit("")), terms.distinct))
      .select(col(idCol).as("doc_id"),
        element_at(col("__bs"), 1).as("n_tokens"),
        element_at(col("__bs"), 2).as("n_hits"),
        element_at(col("__bs"), 3).as("n_distinct_hits"))
      .withColumn("hits_per_mille",
        expr("n_hits * 1000L div greatest(n_tokens, 1L)"))
      .withColumn("keep", (col("n_hits") === 0).cast("long"))
  }

  /** L51c: blocklist accounting for VOCABULARY-SCALE term tables —
    * the documented scale path of [[blocklistFlags]] made concrete:
    * a plan-embedded literal set is right for the published O(10³)
    * lists, but a derived table of millions of banned
    * terms/URLs/hashes belongs in a DataFrame. Explode + broadcast
    * hash join + per-doc re-agg: the corpus's tokens stream through
    * the broadcast membership probe map-side, and only HIT tokens
    * (rare by construction) reach the doc-keyed count shuffle —
    * shuffle volume follows the hits, not the corpus. Output contract
    * identical to [[blocklistFlags]] (parity spec-gated), clean docs
    * included via the left join. */
  def blocklistFlagsJoin(docs: DataFrame, idCol: String, textCol: String,
                         terms: DataFrame, termCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        graft.functions.tokenize_ws(coalesce(col(textCol), lit("")))
          .as("__t"))
      .withColumn("n_tokens", size(col("__t")).cast("long"))
    val hits = toks
      .select(col("doc_id"), explode(col("__t")).as("__tok"))
      .join(broadcast(terms.select(col(termCol).as("__tok")).distinct()),
        Seq("__tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"),
        count_distinct(col("__tok")).as("n_distinct_hits"))
    toks.select("doc_id", "n_tokens")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_distinct_hits"), lit(0L)).as("n_distinct_hits"))
      .withColumn("hits_per_mille",
        expr("n_hits * 1000L div greatest(n_tokens, 1L)"))
      .withColumn("keep", (col("n_hits") === 0).cast("long"))
  }

  /** L51b: per-language blocklists — the C4 practice (the published
    * bad-words lists ARE per-language: an English list over-flags
    * romance languages and misses everything else). One fused
    * [[graft.functions.blocklist_stats]] kernel per language inside a
    * lazy CASE chain on the group column — only the matching branch
    * evaluates, so each row pays exactly one kernel pass against ITS
    * OWN language's set (all sets plan-embedded, built once per
    * executor). Languages absent from `lists` fall back to `default`
    * (empty default = clean pass-through with full token accounting).
    * Same output contract as [[blocklistFlags]] plus the lang column;
    * map-side, zero shuffles. */
  def blocklistFlagsByLang(docs: DataFrame, idCol: String, textCol: String,
                           langCol: String,
                           lists: Map[String, Seq[String]],
                           default: Seq[String] = Nil): DataFrame = {
    require(lists.nonEmpty, "blocklistFlagsByLang needs at least one list")
    val textc = coalesce(col(textCol), lit(""))
    val statsCol = lists.toSeq.sortBy(_._1).foldRight(
        graft.functions.blocklist_stats(textc, default.distinct)) {
      case ((lang, terms), acc) =>
        when(col(langCol) === lang,
          graft.functions.blocklist_stats(textc, terms.distinct))
          .otherwise(acc)
    }
    docs
      .select(col(idCol).as("doc_id"), col(langCol).as("lang"),
        statsCol.as("__bs"))
      .select(col("doc_id"), col("lang"),
        element_at(col("__bs"), 1).as("n_tokens"),
        element_at(col("__bs"), 2).as("n_hits"),
        element_at(col("__bs"), 3).as("n_distinct_hits"))
      .withColumn("hits_per_mille",
        expr("n_hits * 1000L div greatest(n_tokens, 1L)"))
      .withColumn("keep", (col("n_hits") === 0).cast("long"))
  }

  /** L87: SUBSTRING blocklist via Aho–Corasick (Aho & Corasick, CACM
    * 1975) — what [[blocklistFlags]] (whole-token equality) cannot
    * express: published unsafe-content lists are largely multi-word
    * PHRASES and sub-token strings ("how to build a …", leetspeak
    * fragments), and the naive per-pattern `contains` costs
    * O(len · Σ|pattern|) per row — real CPU at 10³ patterns × 100 TB.
    * The plan-embedded automaton ([[graft.functions.ac_match_stats]])
    * matches every pattern in ONE O(len + matches) pass; matches are
    * counted at every end position (overlapping + nested all count),
    * which an engine-neutral SQL replay reproduces as "count of start
    * offsets i with substring(text, i, |p|) = p".
    *
    * Map-side, zero shuffles; all outputs integer. Returns (doc_id,
    * n_chars, n_matches, n_patterns, matches_per_10k, keep) with
    * keep = 1 iff no match (the C4 zero-tolerance rule). */
  def substringBlocklist(docs: DataFrame, idCol: String, textCol: String,
                         patterns: Seq[String]): DataFrame = {
    require(patterns.nonEmpty, "substringBlocklist needs >= 1 pattern")
    docs
      .withColumn("__as", graft.functions.ac_match_stats(
        coalesce(col(textCol), lit("")), patterns.distinct))
      .select(col(idCol).as("doc_id"),
        length(coalesce(col(textCol), lit(""))).cast("long").as("n_chars"),
        element_at(col("__as"), 1).as("n_matches"),
        element_at(col("__as"), 2).as("n_patterns"))
      .withColumn("matches_per_10k",
        expr("n_matches * 10000L div greatest(n_chars, 1L)"))
      .withColumn("keep", (col("n_matches") === 0).cast("long"))
  }

  /** L87 attribution twin: per-PATTERN corpus accounting from the same
    * single scan — which blocklist entries actually fire, on how many
    * docs, how often (the evidence that keeps a 10³-entry list
    * maintained instead of cargo-culted). One generator over the
    * kernel's count slice (the array is produced once per row — the
    * posexplode child is a single kernel reference, no CollapseProject
    * re-evaluation), then a patterns-bounded aggregate: the shuffle
    * carries ≤ P rows per map task after partial agg, never the
    * corpus. Returns (pid, pattern, n_docs, n_matches) for every
    * pattern, zero-hit entries included. */
  def substringMatchProfile(docs: DataFrame, textCol: String,
                            patterns: Seq[String]): DataFrame = {
    require(patterns.nonEmpty, "substringMatchProfile needs >= 1 pattern")
    val pats = patterns.distinct
    val spark = docs.sparkSession
    val counts = docs
      .select(slice(graft.functions.ac_match_stats(
        coalesce(col(textCol), lit("")), pats), 3, pats.length).as("__cs"))
      .select(posexplode(col("__cs")).as(Seq("pid", "c")))
      .groupBy("pid")
      .agg(sum(when(col("c") > 0, 1L).otherwise(0L)).as("n_docs"),
        sum(col("c")).as("n_matches"))
    import spark.implicits._
    val names = pats.zipWithIndex
      .map { case (p, i) => (i, p) }.toDF("pid", "pattern")
    names.join(counts, Seq("pid"), "left")
      .select(col("pid").cast("long").as("pid"), col("pattern"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
  }

  /** L96: memorization-canary injection (Carlini et al., "The Secret
    * Sharer", USENIX Security 2019) — plant known-synthetic sequences
    * at CONTROLLED frequencies so post-training extraction probes
    * measure memorization against a ground truth ("the canary that
    * appeared 13 times extracts, the 1-timer doesn't"). Selection is a
    * pure function of the doc key — `doc_id mod (everyN·|canaries|)`
    * picks slot i·everyN for canary i — so task retries can't skew the
    * plant rate, a re-run reproduces the exact corpus, and a second
    * engine replays it (hash-oracled). Map-side, zero shuffles.
    * Returns (doc_id, text [canary appended], canary_id, -1 = none). */
  def injectCanaries(docs: DataFrame, idCol: String, textCol: String,
                     canaries: Seq[String], everyN: Long): DataFrame = {
    require(canaries.nonEmpty && everyN >= 1,
      s"injectCanaries needs canaries and everyN >= 1, got " +
        s"${canaries.size}/$everyN")
    val k = canaries.size
    val slot = pmod(col(idCol), lit(everyN * k))
    val cid = when(slot % everyN === 0, (slot / everyN).cast("long"))
      .otherwise(lit(-1L))
    docs
      .withColumn("canary_id", cid)
      .withColumn("__t", coalesce(col(textCol), lit("")))
      .withColumn(textCol,
        when(col("canary_id") >= 0,
          concat(col("__t"), lit(" "),
            element_at(typedLit(canaries), col("canary_id").cast("int") + 1)))
          .otherwise(col("__t")))
      .drop("__t")
  }

  /** L96 audit twin: per-canary corpus accounting from ONE
    * Aho–Corasick scan ([[substringMatchProfile]] — the L87
    * machinery pointed at the canary inventory): how many documents
    * carry each canary and how often, as planted-rate evidence on the
    * release corpus and as the ZERO-LEAK gate on a corpus that claims
    * to be canary-free (the decontamination direction). Returns
    * (canary_id, canary, n_docs, n_matches, docs_ppm, clean). */
  def canaryAudit(docs: DataFrame, textCol: String,
                  canaries: Seq[String]): DataFrame = {
    val total = math.max(1L, docs.count())
    substringMatchProfile(docs, textCol, canaries)
      .select(col("pid").as("canary_id"), col("pattern").as("canary"),
        col("n_docs"), col("n_matches"),
        expr(s"n_docs * 1000000L div ${total}L").as("docs_ppm"),
        (col("n_matches") === 0).as("clean"))
  }

  /** L91: n-gram diversity audit — per-group distinct/total n-gram
    * ratios for n = 1..maxN, the MODE-COLLAPSE signal for
    * synthetic-data pipelines (the corpus-level cousin of Self-BLEU,
    * Zhu et al. '18): a source whose distinct-trigram ratio collapses
    * between releases is a generator repeating itself, invisible to
    * per-doc repetition rules (L29) because each DOCUMENT still looks
    * fine. Shingle semantics follow the engine-wide rule (< n tokens
    * → the whole text as one shingle, the q_novelty CASE), so every
    * oracle replays verbatim.
    *
    * One explode + one (grp, shingle)-keyed count per n — map-side
    * partial agg absorbs hot shingles; nothing corpus-sized collects.
    * Returns (grp, n, n_total, n_distinct, diversity_ppm). */
  def ngramDiversity(docs: DataFrame, textCol: String, groupCol: String,
                     maxN: Int = 3): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"need 1 <= maxN <= 8, got $maxN")
    val textc = coalesce(col(textCol), lit(""))
    (1 to maxN).map { n =>
      docs.select(col(groupCol).as("grp"),
          explode(graft.functions.shingles(textc, n)).as("sh"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n_total"),
          count_distinct(col("sh")).as("n_distinct"))
        .select(col("grp"), lit(n.toLong).as("n"), col("n_total"),
          col("n_distinct"),
          expr("n_distinct * 1000000L div greatest(n_total, 1L)")
            .as("diversity_ppm"))
    }.reduce(_.unionByName(_))
  }

  /** L92: intra-document language-mixture audit (code-switching
    * detection) — page-level lang-id (L8) mislabels MIXED documents:
    * an en page with a zh block gets one label, the zh block either
    * pollutes the en corpus or vanishes. Chunk the text into fixed
    * token windows, lang-id each chunk with the L8 marker scorer
    * ('und' when no markers hit — unlike the doc-level argmax, a
    * zero-evidence chunk must not default to a language), and roll up
    * per doc: chunk counts, distinct detected languages, the dominant
    * language and its share. `mixed = n_langs >= 2` is the routing
    * flag (split / dual-label / drop).
    *
    * One explode + two doc-keyed aggregations; the per-(doc, lang)
    * rank rides WindowGroupLimit shapes (row_number per doc over a
    * ≤ |langs|+1-row group). All integer; oracle replays the chunk
    * grid, marker counts, and tie rules verbatim.
    *
    * Returns (doc_id, n_chunks, n_langs, dom_lang, dom_chunks,
    * dom_share_pm, mixed). */
  def langMixture(docs: DataFrame, idCol: String, textCol: String,
                  chunkTokens: Int = 16): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    import graft.functions.LangMarkers
    val chunks = docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.chunk_windows(
          coalesce(col(textCol), lit("")), chunkTokens, 0)).as("c"))
      .select(col("doc_id"), col("c.chunk_text").as("__txt"))
    val scores = LangMarkers.toSeq.sortBy(_._1)
    // all lists in ONE fused marker_counts pass per chunk (the
    // per-list HOF filters are CodegenFallback, interpreted per row)
    val mc = graft.functions.marker_counts(col("__txt"), scores.map(_._2))
    val counted = scores.zipWithIndex.foldLeft(chunks) {
      case (df, ((lang, _), i)) =>
        df.withColumn(s"c_$lang", element_at(mc, i + 1))
    }
    val m = greatest(scores.map { case (l, _) => col(s"c_$l") }: _*)
    val argmax = scores.foldRight(lit("und")) { case ((lang, _), acc) =>
      when(col(s"c_$lang") === m, lit(lang)).otherwise(acc)
    }
    val pred = counted.select(col("doc_id"),
      when(m === 0, lit("und")).otherwise(argmax).as("pred"))
    val perLang = pred.groupBy("doc_id", "pred")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("cnt").desc, col("pred").asc)
    perLang
      .withColumn("n_chunks", sum(col("cnt")).over(Window.partitionBy("doc_id")))
      .withColumn("n_langs", sum(when(col("pred") =!= "und", 1L).otherwise(0L))
        .over(Window.partitionBy("doc_id")))
      .filter(col("pred") =!= "und" ||
        col("n_langs") === 0) // keep one 'und' row only for all-und docs
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("n_chunks"), col("n_langs"),
        col("pred").as("dom_lang"), col("cnt").as("dom_chunks"),
        expr("cnt * 1000000L div n_chunks").as("dom_share_pm"),
        (col("n_langs") >= 2).as("mixed"))
  }

  /** L94: character-distribution concentration — the gibberish /
    * binary-noise filter (C4-adjacent: single-character floods,
    * decode-garbage runs and base64/hex blobs all concentrate or
    * flatten their CHARACTER distribution in ways token-level rules
    * (L9 quality, L29 repetition) never see, because the offending
    * rows often tokenize into one huge "word"). Concentration is the
    * Simpson collision index floor(Σc²·10⁶/n²) over code points — the
    * RATIONAL entropy surrogate (Rényi order 2): Shannon entropy
    * needs a libm log no cross-engine oracle replays exactly, while
    * this is pure integer arithmetic, widened through decimal(38,0)
    * so documents up to 10⁹ chars can't overflow. One fused
    * [[graft.functions.char_dist_stats]] kernel pass, map-side, zero
    * shuffles. keep = concentration ≤ `maxSimpsonPpm` AND distinct
    * code points ≥ `minDistinctCp` (flat floors of junk: "aaaa…" has
    * simpson 10⁶; binary noise has huge distinct counts but healthy
    * prose sits near 10⁶/alphabet with 20-60 distinct chars). */
  def charConcentration(docs: DataFrame, idCol: String, textCol: String,
                        maxSimpsonPpm: Long, minDistinctCp: Long): DataFrame =
    docs
      .withColumn("__c", graft.functions.char_dist_stats(
        coalesce(col(textCol), lit(""))))
      .select(col(idCol).as("doc_id"),
        col("__c")(0).as("n_cp"),
        col("__c")(1).as("n_distinct_cp"),
        col("__c")(2).as("sum_sq"),
        col("__c")(3).as("max_count"))
      .withColumn("simpson_ppm",
        expr("""cast(cast(sum_sq as decimal(38,0)) * 1000000
               |  div greatest(cast(n_cp as decimal(38,0)) * n_cp, 1)
               |  as bigint)""".stripMargin))
      .withColumn("top_char_pm",
        expr("cast(max_count * 1000 div greatest(n_cp, 1L) as bigint)"))
      .withColumn("keep",
        col("simpson_ppm") <= maxSimpsonPpm &&
          col("n_distinct_cp") >= minDistinctCp)
      .drop("sum_sq", "max_count")

  /** L103: exact AUC (Mann–Whitney with tie correction) — the
    * threshold-free quality number for any gating classifier, computed
    * WITHOUT a global sort: scores collapse to the distinct-value
    * count table, the cumulative count rides a bucketed PrefixSum
    * (range cells off one broadcast bounds frame), and tied scores
    * take their average rank via the grouped closed form
    * Σ p·(2F + c + 1) = 2·ΣR⁺ (F = count below the tie group, c its
    * size). AUC = (2ΣR⁺ − P(P+1)) / (2PN), emitted in integer
    * micro-units through decimal(38,0) widening (2PN·10⁶ overflows
    * a BIGINT past ~2M rows — the L94 overflow discipline). Exact,
    * so it doubles as the oracle for any sampled/approximate AUC. */
  def aucExact(scored: DataFrame, scoreCol: String,
               labelCol: String): DataFrame =
    aucFromScoreCounts(scoreCounts(scored, scoreCol, labelCol))

  /** The ADDITIVE sufficient statistic behind [[aucExact]]: per
    * distinct score value, (total count, positive count). Tables from
    * disjoint batches fold by (mv, sum, sum) — which is what lets a
    * STREAMING monitor (C13af) maintain exact AUC incrementally. */
  def scoreCounts(scored: DataFrame, scoreCol: String,
                  labelCol: String): DataFrame =
    scored.groupBy(col(scoreCol).as("mv"))
      .agg(count(lit(1)).as("c"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("p"))

  /** Exact tie-corrected AUC from a (mv, c, p) count table. */
  def aucFromScoreCounts(g: DataFrame): DataFrame = {
    val bounds = g.agg(min("mv").as("mn"), max("mv").as("mx"))
    val cells = g.crossJoin(broadcast(bounds))
      .withColumn("cell", expr("cast((cast(mv as decimal(38,0)) - mn) * 64 div (cast(mx as decimal(38,0)) - mn + 1) as bigint)"))
      .drop("mn", "mx")
    val cum = PrefixSum.bucketed(cells, Seq("mv"), col("c"), col("cell"),
      "cumc")
    cum.agg(
        sum("p").as("n_pos"),
        sum(expr("c - p")).as("n_neg"),
        // s2r is summed in decimal(38,0): the per-term product stays
        // under 2^63 (audited), but the SUM across distinct scores
        // passes ~2^63 near 3e9 rows and a BIGINT sum would wrap
        // silently while the DuckDB twin sums in HUGEINT — the exact
        // oracle must widen where the oracle widens.
        sum(expr("cast(p as decimal(38,0)) * (2 * (cumc - c) + c + 1)"))
          .as("s2r"))
      .select(col("n_pos"), col("n_neg"),
        expr("cast((s2r - cast(n_pos as decimal(38,0)) * (n_pos + 1))" +
          " * 1000000 div (cast(n_pos as decimal(38,0)) * 2 * n_neg)" +
          " as bigint)").as("auc_micro"))
  }

  /** L104: per-group exact AUC — the grouped twin of [[aucExact]]
    * (the engine's multi-tenant discipline: one call, per-group
    * results identical to per-group solo runs). Same grouped
    * average-rank tie form; the cumulative count rides
    * [[PrefixSum.keyed]] (fully distributed, no driver collect, the
    * widest window = one range cell of one group). Groups that are
    * all-positive or all-negative have no ranking to score and emit a
    * null auc_micro (the degenerate-denominator guard). */
  def aucExactGrouped(scored: DataFrame, groupCol: String, scoreCol: String,
                      labelCol: String): DataFrame = {
    val g = scored.groupBy(col(groupCol).as("grp"), col(scoreCol).as("mv"))
      .agg(count(lit(1)).as("c"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("p"))
    val bounds = g.groupBy("grp").agg(min("mv").as("mn"), max("mv").as("mx"))
    val cells = g.join(bounds, "grp")
      .withColumn("cell", expr("cast((cast(mv as decimal(38,0)) - mn) * 64 div (cast(mx as decimal(38,0)) - mn + 1) as bigint)"))
      .drop("mn", "mx")
    val cum = PrefixSum.keyed(cells, Seq("grp"), Seq("mv"), col("c"),
      col("cell"), "cumc")
    cum.groupBy("grp")
      .agg(sum("p").as("n_pos"), sum(expr("c - p")).as("n_neg"),
        // decimal(38,0) sum — same HUGEINT-parity widening as
        // [[aucFromScoreCounts]].
        sum(expr("cast(p as decimal(38,0)) * (2 * (cumc - c) + c + 1)"))
          .as("s2r"))
      .select(col("grp"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("cast((s2r - cast(n_pos as decimal(38,0)) * (n_pos + 1))" +
            " * 1000000 div (cast(n_pos as decimal(38,0)) * 2 * n_neg)" +
            " as bigint)")).as("auc_micro"))
  }

  /** L116 (r16): K-fold cross-validated AUC with jackknife spread —
    * one AUC number (L103) says nothing about its stability; the
    * standard answer is K-fold CV: score each fold as a held-out
    * set, report the fold AUCs, their mean, and a dispersion. All
    * integer: per-fold AUCs come from [[aucExactGrouped]] with the
    * fold id as the group (ONE keyed pass over the corpus, never K
    * passes), and the spread is the SCALED squared deviation
    * dev2_q(i) = (K·auc_i − S)² with S = Σ auc_i — integer where
    * (auc_i − mean)² is not; Var(auc) = Σ dev2_q / (K²(K−1)) and the
    * jackknife SE of the mean is sqrt(Var/K) for any consumer with a
    * sqrt (dev2_q ≤ K·10¹² · K — long-safe for K ≤ 1000).
    *
    * Scale shape: the corpus cost IS aucExactGrouped's (one (fold,
    * score) count table + keyed two-level scan); everything after
    * operates on the K bounded fold rows (pinned). Degenerate folds
    * (single-class) make AUC undefined — rejected loudly.
    *
    * Returns K rows (fold, n_pos, n_neg, auc_micro, dev2_q) plus a
    * summary row (-1, Σpos, Σneg, ⌊S/K⌋, Σ dev2_q). */
  def aucCrossValidated(scored: DataFrame, scoreCol: String,
                        labelCol: String, foldCol: Column): DataFrame = {
    val perFold = Lineage.pin(
      aucExactGrouped(scored.withColumn("__fold", foldCol),
        "__fold", scoreCol, labelCol)
        .withColumnRenamed("grp", "fold"))
    require(perFold.filter(col("auc_micro").isNull).isEmpty,
      "every CV fold needs both classes (degenerate fold found)")
    val tot = perFold.agg(count(lit(1)).as("__k"),
      sum("auc_micro").as("__s"))
    val dev = perFold.crossJoin(broadcast(tot))
      .withColumn("dev2_q",
        (col("__k") * col("auc_micro") - col("__s")) *
          (col("__k") * col("auc_micro") - col("__s")))
    val summary = dev.groupBy()
      .agg(first("__k").as("k"), sum("n_pos").as("n_pos"),
        sum("n_neg").as("n_neg"), first("__s").as("s"),
        sum("dev2_q").as("dev2_q"))
      .select(lit(-1L).as("fold"), col("n_pos"), col("n_neg"),
        expr("s div k").as("auc_micro"), col("dev2_q"))
    dev.select(col("fold").cast("long").as("fold"), col("n_pos"),
        col("n_neg"), col("auc_micro"), col("dev2_q"))
      .unionByName(summary)
  }

  /** L103b: precision/recall curve at rank-decile cutoffs — the
    * "what does gating at the top X% cost" table. Global rank without
    * a global sort (bucketed PrefixSum under (score DESC, id) — the
    * id tiebreak makes decile boundaries deterministic across ties),
    * deciles fold to a `buckets`-row frame (pinned, then the
    * cumulative window runs on those rows only — the prioritySample
    * discipline). Returns (decile, cum_n, cum_pos, precision_ppm,
    * recall_ppm). */
  def prCurve(scored: DataFrame, idCol: String, scoreCol: String,
              labelCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      s"buckets must be in [2, 1000], got $buckets")
    val s0 = scored.select(col(idCol).as("id"), col(scoreCol).as("mv"),
      when(col(labelCol), 1L).otherwise(0L).as("y"))
    val bounds = s0.agg(min("mv").as("mn"), max("mv").as("mx"),
      count(lit(1)).as("n"), sum("y").as("np"))
    val cells = s0.crossJoin(broadcast(bounds))
      .withColumn("negm", -col("mv"))
      .withColumn("cell", expr("cast((cast(mx as decimal(38,0)) - mv) * 64 div (cast(mx as decimal(38,0)) - mn + 1) as bigint)"))
    val rk = PrefixSum.bucketed(cells, Seq("negm", "id"), lit(1L),
      col("cell"), "rk")
    val dec = rk.withColumn("decile", expr(s"(rk - 1) * $buckets div n"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_bucket"), sum("y").as("pos_bucket"),
        max("n").as("n"), max("np").as("np"))
      .transform(graft.operators.Lineage.pin) // <= buckets rows; the window runs on these
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec.withColumn("cum_n", sum("n_bucket").over(w))
      .withColumn("cum_pos", sum("pos_bucket").over(w))
      .select(col("decile"), col("cum_n"), col("cum_pos"),
        expr("cum_pos * 1000000 div cum_n").as("precision_ppm"),
        expr("cum_pos * 1000000 div np").as("recall_ppm"))
  }

  /** L107: calibration audit — the reliability diagram behind every
    * "gate the corpus at classifier score p" decision: a classifier
    * can RANK perfectly (AUC 1) while its scores are meaningless as
    * probabilities, and a pipeline that thresholds on score value
    * (not rank) inherits exactly that gap. Input scores are
    * probabilities in ppm (micro-units, [0, 10⁶]); B fixed-width bins
    * bin = min(B−1, p·B div 10⁶) (the standard equal-width ECE
    * binning, Naeini et al. AAAI'15 / Guo et al. ICML'17). Per bin:
    * count, positives, observed rate obs_ppm = pos·10⁶ div n,
    * mean predicted pred_ppm = Σp div n, gap_ppm = |obs − pred|.
    * ONE groupBy over ≤ B keys (map-side partials absorb the corpus),
    * Σp widened to decimal(38,0) (10⁶ · 3e12 rows passes 2⁶³). All
    * integer-exact → hash-oracled. */
  def calibrationBins(scored: DataFrame, scorePpmCol: String,
                      labelCol: String, buckets: Int = 10): DataFrame =
    calibrationFromStats(
      calibrationStats(scored, scorePpmCol, labelCol, buckets))

  /** The ADDITIVE sufficient statistic behind [[calibrationBins]]:
    * per bin (count, positives, Σp). Tables from disjoint batches
    * fold by (sum, sum, sum) — what lets a STREAMING monitor (C13ai)
    * maintain the reliability diagram incrementally, the
    * [[scoreCounts]] discipline. */
  def calibrationStats(scored: DataFrame, scorePpmCol: String,
                       labelCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      s"buckets must be in [2, 1000], got $buckets")
    scored
      .select(col(scorePpmCol).cast("long").as("p"),
        when(col(labelCol), 1L).otherwise(0L).as("y"))
      .withColumn("bin",
        least(lit(buckets - 1L), expr(s"p * $buckets div 1000000")))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
        sum(expr("cast(p as decimal(38,0))")).as("sp"))
  }

  /** L114 (r15): isotonic calibration fit — the PAV (pool-adjacent-
    * violators) monotone regression of observed positive rates on
    * score bins, computed via the exact CLOSED FORM
    * iso(i) = max_{j≤i} min_{k≥i} rate(j..k) (equivalent to PAV —
    * Barlow et al. '72), which replays in plain SQL where the
    * sequential pooling loop would not. Rates are ppm-quantized
    * BEFORE the max/min (identical quantization in both engines
    * preserves the argmax and keeps the fit monotone: the j-range
    * grows and the k-range shrinks with i for ANY fixed q(j,k)).
    * Distributed shape: ONE corpus aggregate to B-bin sufficient
    * stats, then the O(B³) max-min on the driver over bounded rows
    * (B ≤ 64 — the Lloyd-centroid state discipline). Returns
    * (bin, n, n_pos, raw_ppm, iso_ppm), iso_ppm monotone
    * non-decreasing in bin. */
  def isotonicCalibrate(scored: DataFrame, scorePpmCol: String,
                        labelCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 64,
      s"isotonic fit wants 2..64 bins (driver O(B^3) closed form), got $buckets")
    isotonicFromStats(
      calibrationStats(scored, scorePpmCol, labelCol, buckets))
  }

  /** The fit off an already-aggregated (bin, n, n_pos) stats frame —
    * the entry the C13am streaming calibrator uses: the bin store is
    * additive state, so the PAV fit derives any time from the ≤B-row
    * snapshot without replaying scored traffic. */
  def isotonicFromStats(statsDf: DataFrame): DataFrame = {
    val spark = statsDf.sparkSession
    val stats = statsDf
      .select("bin", "n", "n_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(stats.length <= 64,
      s"isotonic fit wants <= 64 bins, got ${stats.length}")
    val fit = isotonicFit(stats.toIndexedSeq)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      fit.map { case (bin, n, npos, raw, iso) =>
        org.apache.spark.sql.Row(bin, n, npos, raw, iso) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bin",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_pos",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("raw_ppm",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("iso_ppm",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** The pure max-min isotonic fit over (bin, n, n_pos) rows (sorted
    * ascending, n > 0): per bin the quantized pooled rate
    * floor(ΣP·10⁶ / ΣN) maximin'd over covering ranges. Exposed for
    * direct textbook specs. */
  def isotonicFit(bins: IndexedSeq[(Long, Long, Long)])
      : IndexedSeq[(Long, Long, Long, Long, Long)] = {
    val b = bins.length
    require(b > 0 && bins.forall(_._2 > 0), "bins must be non-empty with n > 0")
    val w = bins.map(_._2)
    val p = bins.map(_._3)
    val cw = w.scanLeft(0L)(_ + _) // cw(i) = Σ w before index i
    val cp = p.scanLeft(0L)(_ + _)
    def q(j: Int, k: Int): Long = // pooled ppm rate over bins j..k
      (cp(k + 1) - cp(j)) * 1000000L / (cw(k + 1) - cw(j))
    bins.indices.map { i =>
      val iso = (0 to i).map { j =>
        (i until b).map(k => q(j, k)).min
      }.max
      (bins(i)._1, bins(i)._2, bins(i)._3, q(i, i), iso)
    }
  }

  /** L114b: serve-time isotonic APPLY — the surface a production gate
    * actually consumes: map each row's ppm score through the fitted
    * (bin → iso_ppm) step function. The fit table is bounded (B ≤ 64
    * rows, already driver-sized by [[isotonicCalibrate]]), so the
    * lookup DENSIFIES driver-side — a score landing in a bin the
    * calibration fold never populated takes the nearest FITTED bin
    * below (step functions extend right), and scores below the first
    * fitted bin take the first fitted value — then broadcasts the
    * B-row dense table back onto the rows as a map-side equi-join.
    * Cost: one broadcast of ≤64 rows; no shuffle of the scored table.
    * Returns the input plus (bin, cal_ppm); cal_ppm is monotone in
    * the score by the fit's monotonicity. */
  def isotonicApply(scored: DataFrame, scorePpmCol: String,
                    fit: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 64,
      s"isotonic apply wants 2..64 bins, got $buckets")
    val spark = scored.sparkSession
    val fitted = fit.select("bin", "iso_ppm").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    require(fitted.nonEmpty, "empty isotonic fit table")
    val first = fitted.head._2
    val dense = Array.ofDim[Long](buckets)
    var cur = first
    var fi = 0
    for (b <- 0 until buckets) {
      while (fi < fitted.length && fitted(fi)._1 <= b) {
        cur = fitted(fi)._2; fi += 1
      }
      dense(b) = cur
    }
    import spark.implicits._
    val lookup = dense.zipWithIndex
      .map { case (iso, b) => (b.toLong, iso) }.toSeq
      .toDF("bin", "cal_ppm")
    scored
      .withColumn("bin",
        least(lit(buckets - 1L), expr(s"$scorePpmCol * $buckets div 1000000")))
      .join(broadcast(lookup), "bin")
  }

  /** L115 (r16): split-conformal calibration audit (Vovk et al.;
    * Mondrian / class-conditional form) — the distribution-free
    * coverage guarantee a production gate wants on top of the L114
    * calibrator: from a held-out CALIBRATION fold, the per-class
    * nonconformity threshold t_y = the k-th smallest nonconformity
    * among calibration rows of class y, k = ⌈(n_y+1)(1−α)⌉; on the
    * TEST fold, the prediction set of a row includes class y iff its
    * nonconformity for y is ≤ t_y, and marginal class-conditional
    * coverage ≥ 1−α holds by exchangeability alone — no calibration
    * assumption at all. Nonconformity here is the ppm complement of
    * the class pseudo-probability: s_en = 10⁶ − p_ppm, s_other =
    * p_ppm — all-integer, so every threshold and count replays.
    *
    * Scale shape: the k-th order statistic per class comes from the
    * (cls, s) COUNT table + a [[PrefixSum.keyed]] two-level scan
    * (never a per-class global sort); thresholds are a ≤2·|alphas|
    * row frame broadcast onto the test fold; coverage is one grouped
    * aggregate. k > n_y (tiny class) yields threshold 10⁶+1 =
    * include-always, the conservative conformal convention.
    *
    * Returns one row per (alpha_pm, cls): (alpha_pm, cls, n_cal,
    * thresh_ppm, n_test, n_cov, coverage_ppm, n_incl) where n_incl
    * counts ALL test rows whose set includes cls — Σ_cls n_incl /
    * n_test is the mean prediction-set size (the efficiency metric
    * paired with the coverage guarantee). */
  def conformalAudit(scored: DataFrame, scorePpmCol: String,
                     labelCol: String, calFold: Column,
                     alphasPm: Seq[Int] = Seq(100, 200)): DataFrame = {
    require(alphasPm.nonEmpty && alphasPm.forall(a => a > 0 && a < 1000),
      s"alphas are per-mille in (0, 1000), got $alphasPm")
    val base = Lineage.pin(scored.select(
      col(scorePpmCol).cast("long").as("p"),
      when(col(labelCol), lit("pos")).otherwise(lit("neg")).as("y"),
      calFold.as("cal")))
    // calibration nonconformity of the TRUE class, per class
    val cal = base.filter(col("cal"))
      .select(col("y").as("cls"),
        when(col("y") === "pos", lit(1000000L) - col("p"))
          .otherwise(col("p")).as("s"))
    val counts = cal.groupBy("cls", "s").agg(count(lit(1)).as("c"))
    val thrFull = conformalThresholdsFromCounts(counts, alphasPm)
    // test fold: both-class nonconformities against the broadcast grid
    val test = base.filter(!col("cal"))
    val joined = test.crossJoin(broadcast(thrFull))
      .withColumn("s_cls",
        when(col("cls") === "pos", lit(1000000L) - col("p"))
          .otherwise(col("p")))
      .withColumn("incl", col("s_cls") <= col("thresh_ppm"))
    joined.groupBy("alpha_pm", "cls")
      .agg(first("n_cal").as("n_cal"),
        first("thresh_ppm").as("thresh_ppm"),
        sum(when(col("y") === col("cls"), 1L).otherwise(0L)).as("n_test"),
        sum(when(col("y") === col("cls") && col("incl"), 1L).otherwise(0L))
          .as("n_cov"),
        sum(when(col("incl"), 1L).otherwise(0L)).as("n_incl"))
      .withColumn("coverage_ppm",
        expr("n_cov * 1000000 div greatest(n_test, 1)"))
      .select("alpha_pm", "cls", "n_cal", "thresh_ppm", "n_test",
        "n_cov", "coverage_ppm", "n_incl")
  }

  /** Conformal thresholds off an ADDITIVE (cls, s, c) nonconformity
    * count frame — the shared core of [[conformalAudit]] and the
    * C13an streaming store (per-class counts fold across
    * shards/triggers, so thresholds derive any time from the
    * value-bounded state). k = ⌈(n+1)(1000−α)/1000⌉ via exact
    * ceil-div; k > n yields the include-always 10⁶+1. Returns
    * (alpha_pm, cls, n_cal, thresh_ppm). */
  def conformalThresholdsFromCounts(counts: DataFrame,
                                    alphasPm: Seq[Int]): DataFrame = {
    require(alphasPm.nonEmpty && alphasPm.forall(a => a > 0 && a < 1000),
      s"alphas are per-mille in (0, 1000), got $alphasPm")
    val cum = PrefixSum.keyed(counts, Seq("cls"), Seq("s"), col("c"),
      expr("s div 16384"), "cum", "n_cal")
    val spark = counts.sparkSession
    import spark.implicits._
    val alphas = alphasPm.map(_.toLong).toDF("alpha_pm")
    // k = ceil((n+1)(1000-alpha)/1000), positive → (x+999) div 1000
    val thrs = cum.crossJoin(broadcast(alphas))
      .withColumn("k",
        expr("((n_cal + 1) * (1000 - alpha_pm) + 999) div 1000"))
      .filter(col("cum") >= col("k"))
      .groupBy("alpha_pm", "cls")
      .agg(min("s").as("thresh_ppm"))
    // every (alpha, cls) must emit a row even when k > n_cal: rebuild
    // the full grid off the bounded per-class totals and left-join
    val grid = counts.groupBy("cls").agg(sum("c").as("n_cal"))
      .crossJoin(broadcast(alphas))
    grid.join(thrs, Seq("alpha_pm", "cls"), "left")
      .withColumn("thresh_ppm", coalesce(col("thresh_ppm"), lit(1000001L)))
      .select("alpha_pm", "cls", "n_cal", "thresh_ppm")
  }

  /** L118 (r16): vocabulary completeness — "how much of this corpus
    * slice's vocabulary have we actually seen?", the coverage
    * question behind tokenizer training and corpus-size planning.
    * Two closed forms off the frequency-of-frequencies alone:
    * Good–Turing unseen probability mass P₀ = f₁/N (the chance the
    * NEXT token is a new type — Gale & Sampson's missing-mass
    * estimator) and the bias-corrected Chao1 richness floor
    * V + f₁(f₁−1)/(2(f₂+1)) (Chao '84/'87: a lower bound on the true
    * type count; always defined — no f₂ = 0 special case). Both
    * integer-exact: ppm floor-div for the mass, exact div for the
    * estimator.
    *
    * Scale shape: one (grp, token) count pass (map-side combined),
    * one vocab-bounded (grp) fold — the f₁/f₂/V/N statistics are
    * plain conditional sums, additive across shards. Returns one row
    * per group: (grp, n_tokens, vocab, f1, f2, unseen_ppm,
    * chao1_vocab). */
  def vocabCompleteness(docs: DataFrame, grpCol: String,
                        textCol: String): DataFrame =
    docs
      .select(col(grpCol).as("grp"),
        explode(graft.functions.tokenize_ws(
          coalesce(col(textCol), lit("")))).as("tok"))
      .groupBy("grp", "tok").agg(count(lit(1)).as("c"))
      .groupBy("grp")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .withColumn("unseen_ppm", expr("f1 * 1000000 div n_tokens"))
      .withColumn("chao1_vocab",
        expr("vocab + f1 * (f1 - 1) div (2 * (f2 + 1))"))

  /** Reliability rows from a (bin, n, n_pos, sp) stats table. */
  def calibrationFromStats(stats: DataFrame): DataFrame =
    stats
      .select(col("bin"), col("n"), col("n_pos"),
        expr("n_pos * 1000000 div n").as("obs_ppm"),
        expr("cast(sp div n as bigint)").as("pred_ppm"))
      .withColumn("gap_ppm",
        abs(col("obs_ppm") - col("pred_ppm")))

  /** Expected calibration error (ppm) + sharpness summary off the
    * [[calibrationBins]] table: ECE = Σ n_b·gap_b div N — the single
    * number a drifting classifier moves first. B-row aggregate. */
  def calibrationSummary(bins: DataFrame): DataFrame =
    bins.agg(
        sum("n").as("n"),
        expr("sum(cast(n as decimal(38,0)) * gap_ppm)").as("__g"))
      .select(col("n"),
        expr("cast(__g div n as bigint)").as("ece_ppm"))

  /** L108: inter-annotator agreement (Cohen's κ, Cohen 1960) — the
    * label-QA primitive for any human-labeled or weak-supervision
    * corpus: raw percent agreement rewards raters who spam the
    * majority class; κ subtracts the agreement their marginal label
    * rates would produce by chance. Input is the long (item, rater,
    * label) shape; the two raters' labels join on item (items missing
    * either rater drop — the standard pairwise-complete rule).
    * po = agreements/n, pe = Σ_k rateA_k·rateB_k, κ = (po − pe)/(1 −
    * pe), all in exact micro-units: pe's Σ cA_k·cB_k and the n²
    * denominator widen through decimal(38,0) (n ≥ 3e9 wraps BIGINT),
    * κ_micro = (po_ppm − pe_ppm)·10⁶ div (10⁶ − pe_ppm), null when
    * pe = 1 (degenerate single-label marginals — κ undefined).
    * Cost: one item-keyed equi-join + a ≤|labels|-row marginal
    * aggregate; no corpus² anywhere. Returns 1 row
    * (n_items, po_ppm, pe_ppm, kappa_micro). */
  def annotatorAgreement(labels: DataFrame, itemCol: String,
                         raterCol: String, labelCol: String,
                         raterA: String, raterB: String): DataFrame = {
    val a = labels.filter(col(raterCol) === raterA)
      .select(col(itemCol).as("item"), col(labelCol).as("la"))
    val b = labels.filter(col(raterCol) === raterB)
      .select(col(itemCol).as("item"), col(labelCol).as("lb"))
    val j = a.join(b, "item")
    val marg = j.groupBy("la", "lb").agg(count(lit(1)).as("c"))
      .transform(Lineage.pin) // ≤ |labels|² rows; referenced 3× below
    val n = marg.agg(sum("c").as("n"),
      sum(when(col("la") === col("lb"), col("c")).otherwise(0L)).as("agree"))
    val ca = marg.groupBy("la").agg(sum("c").as("ca"))
    val cb = marg.groupBy("lb").agg(sum("c").as("cb"))
    val pe = ca.join(cb, col("la") === col("lb"))
      .agg(sum(expr("cast(ca as decimal(38,0)) * cb")).as("__pe_raw"))
    n.crossJoin(pe)
      .select(col("n").as("n_items"),
        expr("agree * 1000000 div n").as("po_ppm"),
        expr("cast(coalesce(__pe_raw, 0) * 1000000" +
          " div (cast(n as decimal(38,0)) * n) as bigint)").as("pe_ppm"))
      .withColumn("kappa_micro",
        // κ can be negative (worse-than-chance raters); divide the
        // ABSOLUTE numerator and re-apply the sign so Spark's
        // toward-zero `div` and DuckDB's flooring `//` agree
        when(col("pe_ppm") < 1000000L,
          when(col("po_ppm") >= col("pe_ppm"), 1L).otherwise(-1L) *
            expr("abs(po_ppm - pe_ppm) * 1000000" +
              " div (1000000 - pe_ppm)")))
  }

  /** L109: exact stratified split — the train/val/test assignment
    * that holds the requested proportions EXACTLY within every
    * stratum (language, source, quality tier…), not just in
    * expectation: hash-threshold splits ([[leakageSafeSplit]]'s rule)
    * are unbiased but binomially noisy per stratum, and a rare
    * stratum (200 docs of a low-resource language) can easily land
    * 0 validation docs. Here each stratum's rows take a deterministic
    * total order (md5(id), id — engine-replayable, no rand()), rank
    * via [[PrefixSum.keyed]] (two-level scan: the widest window task
    * is one 256-cell slice of one stratum — a 10⁹-row stratum never
    * serializes), and split on exact rank boundaries:
    * train = rk ≤ ⌊tot·trainPm/1000⌋, val = next ⌊tot·valPm/1000⌋,
    * test = rest. Deterministic, partition-invariant, exact to ±1
    * per stratum, and the md5 order makes each prefix itself an
    * unbiased sample. Returns (id, stratum, rk, tot, split). */
  def stratifiedSplit(docs: DataFrame, idCol: String, stratumCol: String,
                      trainPm: Int, valPm: Int): DataFrame = {
    require(trainPm >= 0 && valPm >= 0 && trainPm + valPm <= 1000,
      s"per-mille fractions must satisfy 0 <= train+val <= 1000, " +
        s"got $trainPm + $valPm")
    val keyed = docs.select(col(idCol).as("id"),
        col(stratumCol).as("stratum"))
      .withColumn("__h", md5(col("id").cast("string")))
      // 256 order-aligned cells: the bucket is the md5 string's first
      // byte, so cell order == order-column order (the keyed scan's
      // alignment requirement)
      .withColumn("__cell", expr("conv(substring(__h, 1, 2), 16, 10)")
        .cast("int"))
    PrefixSum.keyed(keyed, Seq("stratum"), Seq("__h", "id"), lit(1L),
        col("__cell"), "rk", "tot")
      .select(col("id"), col("stratum"), col("rk"), col("tot"),
        when(col("rk") <= expr(s"tot * $trainPm div 1000"), "train")
          .when(col("rk") <= expr(s"tot * ${trainPm + valPm} div 1000"),
            "val")
          .otherwise("test").as("split"))
  }

  /** L110 (r14): structured-PII scan — the pattern-shaped complement
    * of the entropy-shaped L101 secret scan and the L66 PAN/Luhn
    * detector: emails, dotted-quad IPv4s, and E.164-style +phones,
    * counted and redacted in three SEQUENTIAL stages (emails first,
    * then IPs on the email-redacted text, then phones) so counts are
    * consistent with the redacted output even when patterns nest (a
    * +digits run inside an email local part is the email's, not a
    * phone). All three passes are codegen'd builtin regex — the
    * character classes are chosen to mean the same thing in Java
    * regex and RE2, so the SQL twin replays verbatim. Map-side, zero
    * shuffles. Returns (doc_id, n_email, n_ip, n_phone, redacted). */
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re: String =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe: String = "\\+[0-9]{7,15}"

  def piiScan(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        graft.functions.pii_scan(col(textCol)).as("__p"))
      .select(col("doc_id"), col("__p.n_email").as("n_email"),
        col("__p.n_ip").as("n_ip"), col("__p.n_phone").as("n_phone"),
        col("__p.redacted").as("redacted"))

  /** The builtin-regex formulation of [[piiScan]] — six codegen'd
    * regexp passes with Java-backtracking semantics. Kept as the
    * PARITY TWIN for the fused kernel (CurationSpec pins kernel ≡
    * regex on pathological plants and a corpus sample): the kernel's
    * three linear scans measured ~3.5x faster at bench SF, and any
    * divergence between the hand matchers and the published patterns
    * fails a readable spec instead of drifting silently. */
  def piiScanRegex(docs: DataFrame, idCol: String,
                   textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__t0"))
      .withColumn("n_email",
        size(regexp_extract_all(col("__t0"), lit(EmailRe), lit(0)))
          .cast("long"))
      .withColumn("__t1", regexp_replace(col("__t0"), EmailRe, "<EMAIL>"))
      .withColumn("n_ip",
        size(regexp_extract_all(col("__t1"), lit(Ipv4Re), lit(0)))
          .cast("long"))
      .withColumn("__t2", regexp_replace(col("__t1"), Ipv4Re, "<IP>"))
      .withColumn("n_phone",
        size(regexp_extract_all(col("__t2"), lit(PhoneRe), lit(0)))
          .cast("long"))
      .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
        regexp_replace(col("__t2"), PhoneRe, "<PHONE>").as("redacted"))

  /** L102: readability scoring — Flesch–Kincaid grade and Flesch
    * reading ease in exact integer milli-units. Syllables use the
    * vowel-run heuristic: runs of [aeiouy] per lowercased token
    * (case-insensitive — 'Every' counts its capital E), floored at 1
    * per token — and "Σ_w max(1, runs_w) = total runs + vowel-free
    * tokens" turns the per-word floor into three corpus-wide regex
    * counts (no per-word explode). Sentences = [.!?]+ runs floored at
    * 1 (a no-punctuation doc is one long sentence — on such corpora
    * FK is dominated by the words/sentence term, which is the honest
    * reading). Both formulas are rational in (w, sy, s), so the
    * integer-div milli rendering replays bit-for-bit cross-engine;
    * all counting is codegen'd builtin regex, map-side, zero
    * shuffles. Returns (doc_id, n_words, n_syllables, n_sentences,
    * fk_milli, ease_milli) — milli formulas: fk = 0.39·w/s +
    * 11.8·sy/w − 15.59, ease = 206.835 − 1.015·w/s − 84.6·sy/w. */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        graft.functions.token_count(col(textCol)).as("w"),
        size(regexp_extract_all(lower(col(textCol)), lit("[aeiouy]+"),
          lit(0))).cast("long").as("runs"),
        size(regexp_extract_all(lower(col(textCol)),
          lit("[^ ]*[aeiouy][^ ]*"), lit(0))).cast("long").as("wv"),
        greatest(lit(1L),
          size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0)))
            .cast("long")).as("sents"))
      .select(col("doc_id"), col("w").as("n_words"),
        (col("runs") + (col("w") - col("wv"))).as("n_syllables"),
        col("sents").as("n_sentences"))
      .withColumn("fk_milli",
        when(col("n_words") > 0,
          expr("(390 * n_words) div n_sentences" +
            " + (11800 * n_syllables) div n_words - 15590")))
      .withColumn("ease_milli",
        when(col("n_words") > 0,
          expr("206835 - (10150 * n_words) div n_sentences" +
            " - (84600 * n_syllables) div n_words")))

  /** L93: deterministic text augmentation — seeded word dropout, the
    * denoising / contrastive-views data op (BART-style corruption,
    * SimCSE-style views) at corpus scale. Every kept/dropped decision
    * is a pure function of (doc key, token position, seed)
    * ([[graft.functions.dropout_tokens]]): task retries can't skew
    * the corpus, a re-run reproduces the exact epoch views, and a
    * second engine replays them (hash-oracled). Map-side single
    * kernel pass, zero shuffles. Returns (doc_id, aug_text, n_tokens,
    * n_dropped, drop_pm_actual). */
  def augmentDropout(docs: DataFrame, idCol: String, textCol: String,
                     dropPm: Int, seed: Long): DataFrame =
    docs
      .withColumn("__d", graft.functions.dropout_tokens(
        coalesce(col(textCol), lit("")), col(idCol), dropPm, seed))
      .select(col(idCol).as("doc_id"),
        col("__d.aug_text").as("aug_text"),
        col("__d.n_tokens").as("n_tokens"),
        col("__d.n_dropped").as("n_dropped"))
      .withColumn("drop_pm_actual",
        expr("n_dropped * 1000L div greatest(n_tokens, 1L)"))

  /** L75: preference-pair construction — the RLHF/DPO data-prep
    * primitive: from a pool of scored candidates per prompt/group,
    * emit (chosen, rejected) = (argmax score, argmin score) with ties
    * to the lowest id, kept only when the score margin clears
    * `minMargin` (near-tied pools make noisy preference labels and
    * are dropped). One shuffle on the pool key + two same-partition
    * window ranks; no per-pool collect, no cross join of candidates
    * (a pairwise-all construction would be O(pool²) — the max/min
    * pair is the standard margin-filtered DPO shape). Score must be
    * integer-valued for the exact oracle. */
  def preferencePairs(df: DataFrame, poolCol: String, idCol: String,
                      scoreCol: String, minMargin: Long): DataFrame = {
    val s = df.select(col(poolCol).as("pool"), col(idCol).as("id"),
      col(scoreCol).cast("long").as("sc"))
    val wTop = Window.partitionBy("pool").orderBy(col("sc").desc, col("id").asc)
    val wBot = Window.partitionBy("pool").orderBy(col("sc").asc, col("id").asc)
    val ranked = s
      .withColumn("rt", row_number().over(wTop))
      .withColumn("rb", row_number().over(wBot))
    val top = ranked.filter(col("rt") === 1)
      .select(col("pool"), col("id").as("chosen_id"),
        col("sc").as("chosen_score"))
    val bot = ranked.filter(col("rb") === 1)
      .select(col("pool"), col("id").as("rejected_id"),
        col("sc").as("rejected_score"))
    top.join(bot, "pool")
      .withColumn("margin", col("chosen_score") - col("rejected_score"))
      .filter(col("chosen_id") =!= col("rejected_id") &&
        col("margin") >= minMargin)
      .select("pool", "chosen_id", "rejected_id", "chosen_score",
        "rejected_score", "margin")
  }

  /** L54: per-group tokenizer fertility / compression diagnostics —
    * the multilingual tokenizer-equity report (how many subword
    * pre-tokens a language pays per word, and how many characters each
    * token carries): fertility = pre-tokens/word, the signal that a
    * tokenizer under-serves a language (XLM-R/NLLB tokenizer audits);
    * chars/token = the compression side. Pre-tokens are the GPT-2-shape
    * pre-tokenizer ([[graft.functions.tokenize_bpe]] — letter runs,
    * digit runs, single other chars), so the diagnostic needs no
    * trained merge table and stays engine-replayable; character counts
    * come from a caller-supplied column (NOT `length()` — Java counts
    * UTF-16 units where other engines count codepoints, a silent CJK
    * divergence).
    *
    * Ratios are integer µ-units (floor-div) — engine-exact. Map-side
    * kernels + ONE low-cardinality groupBy (map-side partials absorb
    * any skew); the corpus is read once. */
  def tokenizerFertility(docs: DataFrame, textCol: String,
                         groupCol: String, charsCol: String): DataFrame =
    docs
      .select(col(groupCol).as("grp"),
        graft.functions.token_count(col(textCol)).as("__ws"),
        size(graft.functions.tokenize_bpe(col(textCol)))
          .cast("long").as("__bpe"),
        col(charsCol).cast("long").as("__ch"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_docs"), sum("__ws").as("ws_tokens"),
        sum("__bpe").as("bpe_tokens"), sum("__ch").as("n_chars"))
      .withColumn("fertility_q",
        expr("bpe_tokens * 1000000L div greatest(ws_tokens, 1L)"))
      .withColumn("chars_per_token_q",
        expr("n_chars * 1000000L div greatest(bpe_tokens, 1L)"))

  /** L55: curation scorecard — per-source attrition across the rule
    * families (Gopher quality battery, repetition, token blocklist) in
    * ONE corpus pass: every flag is a map-side kernel over the same
    * row, so the whole report costs one scan plus one low-cardinality
    * groupBy — never a per-rule corpus re-read (the [[Observe]] 1-vs-14
    * economics applied to rule attribution) and never a doc-keyed join
    * between flag frames. This is the "which sources lose mass to
    * which filter" ops report that drives crawl/source budgeting.
    *
    * Keep rules are IN LOCKSTEP with [[gopherFlags]], q_repetition and
    * [[blocklistFlags]] — the per-row parity is spec-gated in
    * CurationSpec, so a threshold drifting in one place fails a test
    * rather than silently skewing the report. */
  def scorecard(docs: DataFrame, idCol: String, textCol: String,
                groupCol: String, stopWords: Seq[String],
                blocklist: Seq[String],
                minWords: Int = 50, maxWords: Int = 100000): DataFrame =
    scorecardBy(docs, idCol, textCol, Seq(groupCol), stopWords, blocklist,
      minWords, maxWords).withColumnRenamed(groupCol, "grp")

  /** [[scorecard]] generalized to a composite grouping key (e.g.
    * (tenant, lang) for the per-tenant corpus card) — same fused
    * map-side rule kernels, one shuffle on the full key. Output keeps
    * the original group column names. */
  def scorecardBy(docs: DataFrame, idCol: String, textCol: String,
                  groupCols: Seq[String], stopWords: Seq[String],
                  blocklist: Seq[String],
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    import graft.functions._
    val textc = coalesce(col(textCol), lit(""))
    val stopArr = array(stopWords.map(lit): _*)
    val stats = docs
      .withColumn("__gs", gopher_stats(textc, stopArr))
      .withColumn("__t", tokenize_ws(textc))
      .withColumn("__n", size(col("__t")))
      .withColumn("__nb", greatest(col("__n") - 1, lit(0)))
      .withColumn("__ntri",
        when(col("__n") >= 3, col("__n") - 2).otherwise(lit(1)))
    val nW = element_at(col("__gs"), 1)
    val gopherKeep =
      nW >= minWords && nW <= maxWords &&
        element_at(col("__gs"), 2) >= nW * 3 &&
        element_at(col("__gs"), 2) <= nW * 10 &&
        element_at(col("__gs"), 4) * 10 < nW &&
        element_at(col("__gs"), 7) * 10 < element_at(col("__gs"), 6) * 9 &&
        element_at(col("__gs"), 8) * 10 < element_at(col("__gs"), 6) * 3 &&
        element_at(col("__gs"), 3) * 5 >= nW * 4 &&
        element_at(col("__gs"), 5) >= 2
    val repKeep =
      round_portable((col("__n") - size(token_id_set(col("__t"))))
        .cast("double") / greatest(col("__n"), lit(1)), 4) <= 0.65 &&
        when(col("__nb") === 0, lit(0.0)).otherwise(
          round_portable(max_adjacent_pair_count(col("__t")).cast("double") /
            col("__nb"), 4)) <= 0.08 &&
        round_portable((col("__ntri") - size(shingle_id_set(col("__t"), 3)))
          .cast("double") / greatest(col("__ntri"), lit(1)), 4) <= 0.0
    val blockKeep =
      element_at(blocklist_stats(textc, blocklist.distinct), 2) === 0
    stats
      .select(groupCols.map(col) ++ Seq(
        gopherKeep.cast("long").as("__g"),
        repKeep.cast("long").as("__r"),
        blockKeep.cast("long").as("__b")): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum("__g").as("pass_gopher"),
        sum("__r").as("pass_repetition"),
        sum("__b").as("pass_blocklist"),
        sum(col("__g") * col("__r") * col("__b")).as("pass_all"))
  }

  /** L26c: split-leakage matrix — counts near-dup pairs whose
    * endpoints landed in each (group, group) cell of a train/val/test
    * (or fold) assignment. The off-diagonal mass IS the leakage a
    * naive per-doc hash split causes when a dup cluster straddles the
    * boundary (train member ≈ test member ⇒ memorized eval), and the
    * number [[leakageSafeSplitLabels]] exists to drive to zero — this
    * audit makes the comparison measurable instead of asserted.
    * `assign` must carry (id, grp). Scale: two id-keyed hash joins of
    * the (already-bounded) pair table against the assignment, then a
    * groupBy onto a groups²-sized matrix — the corpus never moves. */
  def splitLeakageMatrix(pairs: DataFrame, assign: DataFrame,
                         id1Col: String = "doc_id1",
                         id2Col: String = "doc_id2"): DataFrame =
    pairs
      .join(assign.select(col("id").as("__i1"), col("grp").as("__g1")),
        col(id1Col) === col("__i1"))
      .join(assign.select(col("id").as("__i2"), col("grp").as("__g2")),
        col(id2Col) === col("__i2"))
      .select(least(col("__g1"), col("__g2")).as("grp_a"),
        greatest(col("__g1"), col("__g2")).as("grp_b"))
      .groupBy("grp_a", "grp_b").agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_cross", col("grp_a") =!= col("grp_b"))

  /** L78: k-anonymity generalization ladder — the privacy release
    * gate. A row is k-anonymous when at least k rows share its
    * quasi-identifier tuple; the standard fix for a lonely tuple is
    * LOCAL GENERALIZATION (Sweeney '02): coarsen the identifier along
    * a fixed ladder (narrow bucket → wide bucket → suppress field →
    * …) and release each row at the FIRST level whose group already
    * holds ≥ k rows. `ladder(i)` defines level i as (outName, expr)
    * pairs — every level must emit the same field names, with
    * generalized levels substituting wider buckets or an 'ANY'
    * literal. Rows that stay under k even at the last level come back
    * `safe = false` (the residual the release review must suppress).
    *
    * Scale shape: one narrow projection (quasi columns only — text
    * never loads), then per level one partial-aggregating groupBy
    * (group table bounded by distinct keys) joined back on the key —
    * no windows, no row explosion; levels are independent so AQE
    * pipelines them. The choice per row is a pure CASE over the
    * joined counts. */
  def kAnonymize(docs: DataFrame, idCol: String,
                 ladder: Seq[Seq[(String, Column)]], k: Long): DataFrame = {
    require(ladder.nonEmpty && k >= 1, "need a non-empty ladder and k >= 1")
    val fields = ladder.head.map(_._1)
    require(ladder.forall(_.map(_._1) == fields),
      "every ladder level must emit the same field names, in order")
    var cur = docs.select(col(idCol) +:
      ladder.zipWithIndex.flatMap { case (lvl, i) =>
        lvl.map { case (n, c) => c.as(s"__l${i}_$n") } }: _*)
    ladder.indices.foreach { i =>
      val keys = fields.map(n => s"__l${i}_$n")
      val cnt = cur.select(keys.map(col): _*).groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as(s"__c$i"))
      cur = cur.join(cnt, keys)
    }
    val lastI = ladder.size - 1
    val level = ladder.indices.init.foldRight(lit(lastI)) { (i, acc) =>
      when(col(s"__c$i") >= k, lit(i)).otherwise(acc)
    }
    val withLevel = cur.withColumn("level", level)
    val nGroup = ladder.indices.init.foldRight(col(s"__c$lastI")) { (i, acc) =>
      when(col("level") === i, col(s"__c$i")).otherwise(acc)
    }
    val outFields = fields.map { n =>
      ladder.indices.init.foldRight(col(s"__l${lastI}_$n")) { (i, acc) =>
        when(col("level") === i, col(s"__l${i}_$n")).otherwise(acc)
      }.as(n)
    }
    withLevel.select(col(idCol) +: col("level") +: outFields :+
      nGroup.as("n_group") :+ (nGroup >= k).as("safe"): _*)
  }

  /** L77: quality-signal rank ensemble (Borda fusion) — the
    * multi-signal curation cut. Single-signal thresholds (L31's
    * calibrated cut, L36's classifier margin) each mis-rank where
    * their signal saturates; production corpus blends (FineWeb-style)
    * therefore fuse SEVERAL weak signals by RANK, not by score — ranks
    * need no cross-signal scale calibration (the same argument as
    * L41's RRF, applied to curation instead of retrieval). Here each
    * doc gets three map-side integer signals — token count, lexical
    * diversity (distinct-token ppm), mean token length (milli-chars) —
    * is ranked per language on each (dense total order, ties by id so
    * the fusion is deterministic), and the Borda score = sum of
    * descending ranks picks the per-language top quartile.
    *
    * Scale shape: every rank is a [[PrefixSum.keyed]] two-level scan
    * (value-bucket window + per-group B-row offsets — the widest task
    * anywhere is one bucket of one language, never a whole language),
    * so the plan carries NO unpartitioned WindowExec and no
    * whole-group sort; signals are one map-side pass. The oracle
    * replays the naive ROW_NUMBER formulation — identical values by
    * the PrefixSum equivalence. At 100 TB the same code holds: rank
    * passes shuffle (lang, value-bucket) keys, and a hot language
    * spreads over ~rows/width tasks. */
  def bordaQuality(docs: DataFrame, idCol: String, textCol: String,
                   langCol: String): DataFrame = {
    import graft.functions._
    // r17: pinned — the signal frame feeds a 4-level PrefixSum.keyed
    // ladder and keyed references its input twice (window pass +
    // offsets aggregate), so the lazy form re-ran the tokenize kernel
    // up to 2⁴ times (§2.4; the before-plan is 1349 lines of
    // duplicated subtrees). Narrow per-doc metadata — the same class
    // of pin as winsorize's ranked frame.
    val base = Lineage.pin(
      docs.select(col(idCol).as("__id"), col(langCol).as("lang"),
          tokenize_ws(coalesce(col(textCol), lit(""))).as("__t"),
          length(coalesce(col(textCol), lit(""))).cast("long").as("__nc"))
        .withColumn("s_len", size(col("__t")).cast("long"))
        .withColumn("s_div",
          expr("cast(size(array_distinct(__t)) as bigint) * 1000000" +
            " div greatest(s_len, 1L)"))
        .withColumn("s_wlen", expr("__nc * 1000 div greatest(s_len, 1L)"))
        .drop("__t", "__nc"))
    // descending rank per (lang, signal): the keyed prefix-sum of 1
    // under (signal asc, id asc) is the ascending row number; the
    // reversed order's row number is tot − asc + 1 (ties land on
    // id DESC in the descending view — the oracle ranks the same way).
    // each level pins (r17): level i's output is level i+1's
    // double-referenced keyed input — without the pin the ladder's
    // plan doubles per level
    def descRank(df: DataFrame, sig: String, width: Long,
                 out: String): DataFrame =
      Lineage.pin(
        PrefixSum.keyed(df, Seq("lang"), Seq(sig, "__id"), lit(1L),
            expr(s"$sig div ${width}L"), outCol = "__rn", totCol = "__tot")
          .withColumn(out, col("__tot") - col("__rn") + lit(1L))
          .withColumn("n_lang", col("__tot"))
          .drop("__rn", "__tot"))
    val ranked = descRank(descRank(descRank(base,
      "s_len", 16L, "d_len"), "s_div", 16384L, "d_div"),
      "s_wlen", 256L, "d_wlen")
      .withColumn("borda", col("d_len") + col("d_div") + col("d_wlen"))
    // final selection rank over the fused score — bucket width scales
    // with the group (borda ∈ [3, 3n]), so ~64 buckets per language at
    // any corpus size; keep = per-language top ⌈n/4⌉.
    PrefixSum.keyed(ranked, Seq("lang"), Seq("borda", "__id"), lit(1L),
        expr("borda div greatest(1L, (3 * n_lang) div 64)"),
        outCol = "r_final", totCol = "__tf")
      .withColumn("keep", col("r_final") <= expr("(n_lang + 3) div 4"))
      .select(col("__id").as(idCol), col("lang"), col("s_len"),
        col("s_div"), col("s_wlen"), col("d_len"), col("d_div"),
        col("d_wlen"), col("borda"), col("r_final"), col("keep"))
  }

  /** L81: cross-source quantile normalization of an integer quality
    * score — the batch-effect correction standard in expression
    * analysis (Bolstad et al. '03), applied to corpus curation: when
    * each source's scorer drifts (different crawls, different judges,
    * different length profiles), raw-score thresholds over- or
    * under-select whole sources. Quantile normalization maps every
    * row to the GLOBAL score distribution's value at the row's
    * within-source quantile, so "top 20% of each source" and "top 20%
    * globally" agree by construction.
    *
    * All integer: within-source mid-rank position ppm =
    * (2r−1)·500000 div n_src ∈ [0, 1e6); the normalized score is the
    * global order statistic at rank 1 + (ppm·N div 1e6). Both rank
    * tables build via [[PrefixSum]] (keyed for the per-source rank,
    * bucketed for the global one) — no unpartitioned WindowExec, a
    * hot source spreads over ~rows/width tasks, and the global
    * N-row order statistics never sort through one task. The ppm→rank
    * lookup is a plain equi-join on the integer rank. Ties order by
    * (score, id) on BOTH sides, so the mapping is a pure function of
    * the table. N (one scalar) is the only driver-side value. */
  def quantileNormalize(df: DataFrame, idCol: String, groupCol: String,
                        scoreCol: String): DataFrame = {
    // five references below (empty probe, min/max, count, both
    // PrefixSum scans) — scan-shaped inputs re-read by design, derived
    // inputs auto-pinned
    val base = Lineage.pinDerived(
      df.select(col(idCol).as("__id"), col(groupCol).as("__g"),
        col(scoreCol).cast("long").as("__s")))
    if (base.isEmpty)
      return base.select(col("__id").as(idCol), col("__g").as(groupCol),
        col("__s").as("score"), lit(0L).as("ppm"), lit(0L).as("norm_score"))
      .limit(0)
    // order-aligned score bucket: ~256 range cells over [min, max]
    val mm = base.agg(min("__s"), max("__s")).head()
    val lo = mm.getLong(0)
    val width = math.max(1L, (mm.getLong(1) - lo) / 256 + 1)
    val bkt = expr(s"(__s - ${lo}L) div ${width}L")
    val n = base.count()
    val perSrc = PrefixSum.keyed(base, Seq("__g"), Seq("__s", "__id"),
        lit(1L), bkt, outCol = "__r", totCol = "__n")
      .withColumn("ppm", expr("(2 * __r - 1) * 500000 div __n"))
      .withColumn("__tr", expr(s"1 + ppm * ${n}L div 1000000"))
    val global = PrefixSum.bucketed(base, Seq("__s", "__id"), lit(1L),
        bkt, outCol = "__gr")
      .select(col("__gr"), col("__s").as("norm_score"))
    perSrc.join(global, col("__tr") === col("__gr"))
      .select(col("__id").as(idCol), col("__g").as(groupCol),
        col("__s").as("score"), col("ppm"), col("norm_score"))
  }

  /** L83: shingle novelty — per doc, the fraction of its distinct
    * n-gram shingles whose FIRST corpus owner (minimum doc id) is the
    * doc itself. The signal behind Lee et al.'s dedup-curves applied
    * row-wise: a doc scoring near 0 is assembled entirely from
    * passages the corpus already has (mirror, digest, template farm)
    * even when no single pair-detector threshold fires; near 1e6 is
    * genuinely new text. Deterministic (min-id attribution, no
    * ordering dependence), so the whole table hash-oracles.
    *
    * Scale: NO shingle-keyed join back — a doc's owned count is the
    * owner table grouped by owner (owner = min id over docs
    * CONTAINING the shingle, so every shingle a doc owns is one of
    * its own), and its shingle count is a doc-keyed aggregate; the
    * two meet in a doc-count-sized join. Two map-side-combining
    * aggregates over the exploded pairs, no windows, no pair
    * materialization (the novelty question answered WITHOUT the
    * quadratic pair graph). Both aggregates re-derive the shingle
    * explode from `docs` (recompute beats materializing a
    * corpus-sized explode at scale) — derived inputs are auto-pinned
    * via [[Lineage.pinDerived]] so a long composed lineage can't
    * multiply its own upstream cost; scan-shaped inputs pass through
    * (re-reading a table is the designed cost model). */
  def shingleNovelty(docs0: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3): DataFrame = {
    import graft.functions._
    val docs = graft.operators.Lineage.pinDerived(docs0)
    val sh = docs
      .filter(size(tokenize_ws(col(textCol))) > 0)
      .select(col(idCol).as("id"),
        explode(array_distinct(shingles(col(textCol), shingleN))).as("sh"))
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n_shingles"))
    val owned = sh.groupBy("sh").agg(min(col("id")).as("owner"))
      .groupBy("owner").agg(count(lit(1)).as("__novel"))
    counts.join(owned, col("id") === col("owner"), "left")
      .withColumn("n_novel", coalesce(col("__novel"), lit(0L)))
      .withColumn("novelty_ppm",
        expr("n_novel * 1000000 div n_shingles"))
      .select(col("id").as(idCol), col("n_shingles"), col("n_novel"),
        col("novelty_ppm"))
  }

  /** L23b: vocabulary coverage curve — for each coverage target (ppm
    * of all token OCCURRENCES), the minimum number of vocabulary
    * types (taken in descending frequency order) that reaches it: the
    * number that sizes a tokenizer's vocab from the corpus instead of
    * folklore. Ties order (freq DESC, token DESC) on both engines.
    *
    * The descending cumulative table derives from ONE ascending
    * [[PrefixSum]] scan (cum_desc = total − cum_asc + freq, rank_desc
    * = V − rank_asc + 1 — exact under the shared tie order), so the
    * type table — which GROWS with the corpus — never sorts through a
    * single task; targets broadcast as a literal frame. */
  def vocabCoverageCurve(docs: DataFrame, textCol: String,
                         targetsPpm: Seq[Long]): DataFrame = {
    import graft.functions._
    require(targetsPpm.nonEmpty && targetsPpm.forall(t => t > 0 && t <= 1000000),
      s"targets must be ppm values in (0, 1e6], got $targetsPpm")
    // pinned once: the empty probe, the min/max/total aggregate, and
    // the two stacked PrefixSum passes (each referencing its input
    // twice) would otherwise re-run the corpus explode up to ~6×; the
    // pinned frame is vocabulary-sized, not corpus-sized
    val tf = Lineage.pinDerived(
      docs.select(explode(tokenize_ws(col(textCol))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq")))
    if (tf.isEmpty)
      return docs.sparkSession.emptyDataFrame
        .select(lit(0L).as("target_ppm"), lit(0L).as("vocab_needed"))
        .limit(0)
    val mm = tf.agg(min("freq"), max("freq"), sum("freq"), count(lit(1))).head()
    val width = math.max(1L, (mm.getLong(1) - mm.getLong(0)) / 256 + 1)
    val bkt = expr(s"(freq - ${mm.getLong(0)}L) div ${width}L")
    val tot = mm.getLong(2)
    val v = mm.getLong(3)
    val cum = PrefixSum.bucketed(
      PrefixSum.bucketed(tf, Seq("freq", "tok"), col("freq"), bkt,
        outCol = "__cum"),
      Seq("freq", "tok"), lit(1L), bkt, outCol = "__rk")
    val curve = cum
      .withColumn("rk_desc", lit(v) - col("__rk") + 1)
      .withColumn("cov_ppm",
        expr(s"(${tot}L - __cum + freq) * 1000000 div ${tot}L"))
    val targets = docs.sparkSession
      .createDataFrame(targetsPpm.map(Tuple1(_)))
      .toDF("target_ppm")
    curve.join(broadcast(targets), col("cov_ppm") >= col("target_ppm"))
      .groupBy("target_ppm")
      .agg(min(col("rk_desc")).as("vocab_needed"))
  }
}
