package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2 L6-L7).
  */
object Ann {

  /** Shared exact-cosine ranking core: broadcast query set, one
    * codegen'd cosine per (query, vector), per-query window top-k.
    * Inputs pre-shaped to (nn_id, nn_vec) / (query_id, q_vec).
    * `excludeSameId` suits SELF-search (a corpus row must not match
    * itself); retrieval over a separate query namespace passes false.
    * Sim quantizes via round_portable (floor(x·1e4+0.5)/1e4 — the
    * engine-portable tie rule every oracle replays verbatim). */
  private[operators] def cosineTopK(c: DataFrame, q: DataFrame, k: Int,
                                    excludeSameId: Boolean): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    // fan the STREAM side: a corpus that fits one scan split would
    // push every (query, vector) kernel through one core; no-op at
    // production scan parallelism (guide §8.3)
    val joined = Scale.fan(c).crossJoin(broadcast(q))
    (if (excludeSameId) joined.filter(col("nn_id") =!= col("query_id"))
     else joined)
      .withColumn("sim",
        round_portable(cosine_sim(col("q_vec"), col("nn_vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "nn_id", "sim")
  }

  /** L6: brute-force cosine top-k — the exact baseline. The query set
    * is broadcast (small by contract), the corpus streams through one
    * codegen'd cosine per (query, vector): O(|corpus|·|queries|) work,
    * zero shuffle on the corpus side, top-k via per-query window. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame =
    cosineTopK(
      corpus.select(col(idCol).as("nn_id"),
        as_double_array(col(vecCol)).as("nn_vec")),
      queries.select(col(idCol).as("query_id"),
        as_double_array(col(vecCol)).as("q_vec")),
      k, excludeSameId = true)

  /** L6d (r11): MMR diversity rerank (Carbonell & Goldstein, SIGIR
    * '98 — the standard RAG/context-selection post-step): from each
    * query's top-`nCandidates` exact-cosine candidates, greedily pick
    * `k` maximizing λ·relevance − (1−λ)·max-similarity-to-already-
    * picked, so near-duplicate contexts don't crowd the window.
    *
    * All scoring is INTEGER: sims quantize to 1e-4 units
    * (floor(c·10⁴+0.5) — the portable-round kernel), λ = lamNum/
    * lamDen, score×lamDen = lamNum·rel_q − (lamDen−lamNum)·pen_q,
    * ties by nn_id — so the k greedy rounds replay as unrolled SQL
    * CTEs bit-for-bit (the quantized-training trick applied to an
    * iterative SELECTION instead of k-means).
    *
    * Scale: the candidate and pair frames are (queries × C) and
    * (queries × C²) rows — query-set-bounded by the broadcast-queries
    * contract, never corpus-sized; both localCheckpoint once and the
    * k rounds are joins on those small frames (per-round work
    * independent of the corpus). */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, nCandidates: Int, k: Int,
                lamNum: Long = 7L, lamDen: Long = 10L): DataFrame = {
    require(k >= 1 && nCandidates >= k, s"need nCandidates >= k >= 1")
    require(lamNum >= 0 && lamNum <= lamDen, s"lambda must be in [0,1]")
    val cand = bruteForceTopK(corpus, queries, idCol, vecCol, nCandidates)
      .select(col("query_id"), col("nn_id"),
        floor(col("sim") * 10000 + 0.5).cast("long").as("rel_q"))
      .transform(graft.operators.Lineage.pin)
    val vecs = corpus.select(col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("v"))
    val withV = cand.join(vecs, "nn_id")
    val pair = withV.as("x")
      .join(withV.select(col("query_id"), col("nn_id").as("other_id"),
        col("v").as("vo")).as("y"), Seq("query_id"))
      .filter(col("nn_id") =!= col("other_id"))
      .select(col("query_id"), col("nn_id"), col("other_id"),
        floor(cosine_sim(col("v"), col("vo")) * 10000 + 0.5)
          .cast("long").as("psim_q"))
      .transform(graft.operators.Lineage.pin)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score10_q").desc, col("nn_id").asc)
    // round 1: pure relevance (no penalty yet). Ranked by rel_q, NOT
    // by score10_q = rel_q·lamNum: for lamNum > 0 the two orders are
    // identical (positive scaling), but at lamNum = 0 every score10_q
    // ties and the pick would degrade to min nn_id — the oracle (and
    // MMR's definition) order round 1 by relevance regardless of λ.
    val w1 = Window.partitionBy("query_id")
      .orderBy(col("rel_q").desc, col("nn_id").asc)
    var selected = cand
      .withColumn("score10_q", col("rel_q") * lamNum)
      .withColumn("rn", row_number().over(w1))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("nn_id"), lit(1).as("mmr_rank"),
        col("score10_q"))
    for (r <- 2 to k) {
      val pen = pair
        .join(selected.select(col("query_id"), col("nn_id").as("other_id")),
          Seq("query_id", "other_id"))
        .groupBy("query_id", "nn_id")
        .agg(max(col("psim_q")).as("pen_q"))
      val pick = cand
        .join(selected.select("query_id", "nn_id"), Seq("query_id", "nn_id"),
          "left_anti")
        .join(pen, Seq("query_id", "nn_id"), "left")
        .withColumn("score10_q",
          col("rel_q") * lamNum -
            coalesce(col("pen_q"), lit(0L)) * (lamDen - lamNum))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("nn_id"), lit(r).as("mmr_rank"),
          col("score10_q"))
      selected = selected.unionByName(pick).transform(graft.operators.Lineage.pin)
    }
    selected
  }

  /** L6b: grouped (per-tenant / per-label) exact top-k — the
    * multi-tenant search shape. The cross join becomes an equi-join on
    * the group column, so each query's scan is bounded by its OWN
    * group's rows, not the corpus: per-group work is |group|·|group
    * queries|, groups search in parallel, and a new tenant's queries
    * never touch another tenant's vectors. Queries stay broadcast
    * (small by contract); ranking is per (group, query). */
  def groupedTopK(corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, groupCol: String,
                  k: Int): DataFrame = {
    val c = corpus.select(col(groupCol).as("grp"), col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("nn_vec"))
    val q = queries.select(col(groupCol).as("grp"), col(idCol).as("query_id"),
      as_double_array(col(vecCol)).as("q_vec"))
    // rank within (grp, query_id): query ids may collide across tenants
    val w = Window.partitionBy("grp", "query_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    c.join(broadcast(q), "grp")
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round_portable(cosine_sim(col("q_vec"), col("nn_vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "grp", "rank", "nn_id", "sim")
  }

  /** L7: the scale path — hyperplane-LSH bucketed search. Corpus is
    * bucketed once (reusable, like an IVF index); each query probes
    * its own bucket only, so per-query cost is |corpus|/2^bits. Recall
    * traded via `bits`; verified against brute force in AnnSpec. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, bits: Int = 8): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("nn_vec"))
      .withColumn("bucket", hyperplane_lsh(col("nn_vec"), bits))
    val q = queries.select(col(idCol).as("query_id"),
      as_double_array(col(vecCol)).as("q_vec"))
      .withColumn("bucket", hyperplane_lsh(col("q_vec"), bits))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    c.join(broadcast(q), "bucket")
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round_portable(cosine_sim(col("q_vec"), col("nn_vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "nn_id", "sim")
  }

  /** L7f: multi-probe hyperplane LSH (Lv et al., VLDB 2007) — the
    * recall lever that does NOT require more tables or a re-bucketed
    * corpus: the corpus keeps its single [[lshTopK]] bucket per row,
    * and each QUERY additionally probes the nProbe−1 neighboring
    * buckets across its lowest-margin hyperplanes (where a
    * near-boundary vector's true neighbors most likely landed).
    * Per-query scan cost is ~nProbe·|corpus|/2^bits; candidates are
    * never duplicated (a corpus row lives in exactly one bucket, and
    * a query's probe buckets are distinct). Recall ≥ single-probe by
    * construction — gated in AnnSpec. */
  def lshMultiProbeTopK(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        bits: Int = 8, nProbe: Int = 4): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("nn_vec"))
      .withColumn("bucket", hyperplane_lsh(col("nn_vec"), bits))
    val q = queries.select(col(idCol).as("query_id"),
      as_double_array(col(vecCol)).as("q_vec"))
      .withColumn("bucket",
        explode(hyperplane_probes(col("q_vec"), bits, nProbe)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    c.join(broadcast(q), "bucket")
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round_portable(cosine_sim(col("q_vec"), col("nn_vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "nn_id", "sim")
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix, row-major
    * [outDim][inDim]: entry (j, i) is +1 iff the first hex digit of
    * md5("i:j") < '8'. A pure, engine-portable function (DuckDB's md5
    * agrees byte-for-byte), so an oracle REBUILDS the matrix instead
    * of trusting an opaque literal — no RNG state anywhere. Rademacher
    * ±1 entries satisfy the JL distance-preservation lemma
    * (Achlioptas '03: database-friendly random projections) with the
    * same guarantees as Gaussian entries. */
  def jlSignMatrix(inDim: Int, outDim: Int): Array[Array[Double]] =
    graft.functions.Kernels.jlSigns(inDim, outDim)

  /** L7i: JL random projection — reduce `vecCol` (inDim floats) to
    * outDim INTEGER coordinates: p[j] = Σ_i q[i]·s(i,j) over the
    * 2^16-quantized input (|p[j]| ≤ inDim·2^17 ≪ 2^53 — every value
    * integral and exact in any engine, in any summation order). One
    * map-side pass: the matrix rides the plan as outDim literal rows
    * feeding the codegen'd [[graft.functions.dot_product]] — zero
    * shuffle, zero training, and downstream distance work drops by
    * inDim/outDim (64→16 = 4× less bandwidth per comparison).
    * Composes with IVF: project first, then train/probe cells in the
    * reduced space. */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
                inDim: Int, outDim: Int): DataFrame = {
    require(inDim >= 1 && outDim >= 1 && outDim <= inDim,
      s"need 1 <= outDim <= inDim, got $inDim -> $outDim")
    // One fused kernel for all outDim coordinates: the previous
    // outDim-sibling dot_product(vq, literalRow) projection shared the
    // `vq` input, and CollapseProject re-evaluated quantize per sibling
    // (the r12 q_ann_jl 0.47→0.85 regression that was absorbed by a
    // re-pin instead of fixed).
    df.select(col(idCol), quantized(col(vecCol)).as("vq"),
      jl_project_q16(col(vecCol), inDim, outDim).as("pvec"))
  }

  /** Reduced-space exact top-k with a per-row RECALL audit against the
    * full-space quantized-L2 ranking: returns the projected-space
    * top-k per query with `hit` = 1 iff that neighbor is also in the
    * full-space top-k. Both rankings are integer squared-L2 computed
    * as ‖a‖² + ‖b‖² − 2·a·b over three codegen'd dot products
    * (projected dots ≤ outDim·(inDim·2^17)² ≪ 2^53 — exact), ties
    * broken by nn_id, so the whole audit carries a hash oracle. The
    * audit is the honest contract for a LOSSY reduction: mean(hit)
    * IS measured recall@k, the number a 100 TB deployment tunes
    * outDim against (vs. trusting the JL bound). Corpus side streams
    * through twice (full + projected ranking) with the query set
    * broadcast — no corpus shuffle in either pass. */
  def jlTopKAudit(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, inDim: Int,
                  outDim: Int): DataFrame = {
    val c = jlProject(corpus, idCol, vecCol, inDim, outDim)
      .select(col(idCol).as("nn_id"), col("vq").as("nn_vq"),
        col("pvec").as("nn_pv"))
    val q = jlProject(queries, idCol, vecCol, inDim, outDim)
      .select(col(idCol).as("query_id"), col("vq").as("q_vq"),
        col("pvec").as("q_pv"))
    def sq(a: Column, b: Column): Column =
      dot_product(a, a) + dot_product(b, b) - lit(2.0) * dot_product(a, b)
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("nn_id").asc)
    // fan the STREAM side: a corpus that fits one scan split would
    // push every (query, vector) kernel through one core; no-op at
    // production scan parallelism (guide §8.3)
    val joined = Scale.fan(c).crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
    val full = joined.withColumn("dist", sq(col("nn_vq"), col("q_vq")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("query_id", "nn_id")
    val proj = joined.withColumn("dist", sq(col("nn_pv"), col("q_pv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("rk").as("rank"), col("nn_id"),
        col("dist").cast("long").as("dist_proj"))
    proj.join(full.withColumn("hit", lit(1)), Seq("query_id", "nn_id"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(0)))
      .select("query_id", "rank", "nn_id", "dist_proj", "hit")
  }

  /** L7b: IVF (inverted-file) ANN — the other scale path. The coarse
    * k-means quantizer is trained on a deterministic hash-sample of the
    * corpus (bounded training work at any corpus size — the faiss
    * recipe). Each Lloyd iteration is: map-side cell assignment via the
    * codegen'd `nearest_centroid` against a literal centroid table
    * (zero shuffle), then a `vector_sum` native aggregate whose partial
    * aggregation ships one partial sum per (partition, cluster) — C
    * rows through the shuffle, never n·C or n·d. The trained centroid
    * table is driver-resident (C·d doubles, tiny) and would be a
    * persisted index table at 100 TB: train once, reuse every search.
    * Each query probes its `nProbe` nearest cells, so per-query scan
    * cost is ~nProbe/nClusters of the corpus.
    */
  /** Train the coarse k-means quantizer on a deterministic hash-sample
    * of the corpus (bounded work at any corpus size). Each Lloyd
    * iteration: map-side `nearest_centroid` assignment against a
    * literal centroid table (zero shuffle) + a `vector_sum` native
    * aggregate (C rows through the shuffle). The sample is persisted
    * for the loop, so training touches the corpus parquet exactly
    * once. Returns the C·d centroid table (driver-resident, tiny). */
  def trainCentroids(v: DataFrame, nClusters: Int, iters: Int,
                     trainFraction: Double): Array[Array[Double]] = {
    val pct = math.max(1, math.min(100, math.round(trainFraction * 100).toInt))
    val train = v.filter(pmod(xxhash64(col("nn_id")), lit(100)) < pct)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // seed centroids: lowest-id sampled vectors (deterministic)
      var seed = train.orderBy("nn_id").limit(nClusters).select("vec").collect()
      if (seed.length < nClusters)
        seed = v.orderBy("nn_id").limit(nClusters).select("vec").collect()
      var cs: Array[Array[Double]] = seed.map(_.getSeq[Double](0).toArray)
      (1 to iters).foreach { _ =>
        val sums = train
          .groupBy(nearest_centroid(col("vec"), typedLit(cs.map(_.toSeq).toSeq)).as("cluster"))
          .agg(vector_sum(col("vec")).as("vsum"), count(lit(1)).as("cnt"))
          .collect()
        val next = cs.map(_.clone()) // empty cells keep their centroid
        sums.foreach { r =>
          val c = r.getInt(0)
          val s = r.getSeq[Double](1)
          val n = r.getLong(2).toDouble
          next(c) = s.map(_ / n).toArray
        }
        cs = next
      }
      cs
    } finally train.unpersist()
  }

  /** Integer-quantized Lloyd training — the ORACLE-EXACT k-means
    * variant: inputs are quantized to `floor(x·Q + 0.5)` with Q a
    * power of two (the scaling is then exact in IEEE double), every
    * per-iteration quantity (squared-L2 assignment distances, the
    * `vector_sum` partials, the floor-of-mean centroid update) is an
    * integer below 2^53 represented in double, so the whole training
    * run is EXACT integer arithmetic: partitioning-independent on
    * Spark AND bit-replayable as an unrolled SQL CTE in any engine —
    * this is what converts the IVF family from rows-only gates to
    * full hash oracles. Quantization at Q=2^16 moves each coordinate
    * by <2^-17: geometrically irrelevant for cell assignment (recall
    * gates unchanged — AnnSpec). The training sample is selected by a
    * portable md5-prefix threshold (NOT xxhash64, which the oracle
    * engine lacks): `md5(id)[0:2] < hex(frac·256)`.
    *
    * Same scale shape as [[trainCentroids]]: per iteration one
    * map-side assignment against a literal centroid table + one
    * C-row `vector_sum` shuffle; the sample is persisted so the
    * corpus parquet is touched once. */
  def trainCentroidsIntL2(v: DataFrame, nClusters: Int, iters: Int,
                          trainFraction: Double): Array[Array[Double]] = {
    // persist only (nn_id, vq): the raw vec never enters training, so
    // caching it would double the pinned volume for nothing
    val train = md5Sample(v.select("nn_id", "vq"), trainFraction)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seed = train.orderBy("nn_id").limit(nClusters).select("vq").collect()
      // no silent fallback: the SQL oracle replay (Shared.
      // ivfTrainCoreCtesSql) seeds ONLY from the md5 sample, so a
      // re-seed from the full corpus here would hash-diverge without
      // an error. A regime whose sample can't seed C clusters must
      // fail loudly (raise trainFraction or lower nClusters).
      require(seed.length >= nClusters,
        s"md5 sample yields ${seed.length} rows < nClusters=$nClusters; " +
          "raise trainFraction or lower nClusters (oracle replay seeds " +
          "from the sample only)")
      var cs: Array[Array[Double]] = seed.map(_.getSeq[Double](0).toArray)
      (1 to iters).foreach { _ =>
        val sums = train
          .groupBy(nearest_centroid_l2(col("vq"),
            typedLit(cs.map(_.toSeq).toSeq)).as("cluster"))
          .agg(vector_sum(col("vq")).as("vsum"), count(lit(1)).as("cnt"))
          .collect()
        val next = cs.map(_.clone()) // empty cells keep their centroid
        sums.foreach { r =>
          val c = r.getInt(0)
          val s = r.getSeq[Double](1)
          val n = r.getLong(2).toDouble
          // floor-of-mean stays integer-valued; floor(double(s/n)) ==
          // floorDiv exactly while ulp(s/n) < 1/n — holds for every
          // |s/n| < 2^52/n, far above any quantized coordinate
          next(c) = s.map(x => math.floor(x / n)).toArray
        }
        cs = next
      }
      cs
    } finally train.unpersist()
  }

  /** Quantization scale for the oracle-exact IVF path: a power of two
    * so `x · Q` is exact in IEEE double for every float/double x. */
  val QuantScale = 65536.0

  /** Portable md5-prefix sampling threshold for `trainFraction`:
    * 2 lowercase-hex chars, or "g0" (above every hex prefix — sample
    * everything) when the fraction rounds to 1. Shared verbatim by the
    * oracle SQL, so keep the rounding rule in lockstep. */
  def md5Thr(frac: Double): String = {
    val t = math.round(frac * 256).toInt
    if (t >= 256) "g0" else f"${math.max(1, t)}%02x"
  }

  /** The portable training sample. Full-train ("g0" — the threshold
    * every hex prefix clears) elides the filter entirely: an md5 per
    * corpus row for an always-true predicate is pure waste, and the
    * oracle side keeps the WHERE (trivially true there, and the SQL
    * stays one shape for every fraction). */
  private def md5Sample(v: DataFrame, trainFraction: Double): DataFrame = {
    val thr = md5Thr(trainFraction)
    if (thr == "g0") v
    else v.filter(substring(md5(col("nn_id").cast("string")), 1, 2) < thr)
  }

  private[graft] def quantized(vec: Column): Column = quantize_q16(vec)

  /** L86: prototypicality curation (the SSL-prototypes / DataComp
    * cluster-pruning policy — Sorscher et al. '22 "Beyond neural
    * scaling laws"): every vector is assigned to its nearest trained
    * centroid by integer squared-L2 and RANKED within its cell by
    * (distance asc, id) — rank 1 is the cell's prototype. The band
    * column applies the published keep policy: the closest
    * `headPermille`/1000 of each cell is `head` (near-duplicates of
    * the prototype — little marginal information), the farthest
    * `tailPermille`/1000 is `tail` (outliers/noise), the middle band
    * is `keep`. Everything is integer (quantized vectors, exact
    * integral distances, cross-multiplied permille bounds), so the
    * full output — training included — hash-oracles.
    *
    * Scale: one map-side fused assign+dist kernel against the literal
    * centroid table (zero shuffle), one per-cell ranking window (cell
    * sizes bounded by the adaptive C ∝ n contract — full ranking is
    * required, so the bound IS the skew defense), one broadcast C-row
    * size join. */
  def prototypicality(df: DataFrame, idCol: String, vecCol: String,
                      nClusters: Int, iters: Int = 2,
                      trainFraction: Double = 1.0,
                      headPermille: Long = 100,
                      tailPermille: Long = 100): DataFrame = {
    require(headPermille >= 0 && tailPermille >= 0 &&
      headPermille + tailPermille < 1000,
      s"head + tail permille must leave a keep band, got " +
        s"$headPermille + $tailPermille")
    val v = df.select(col(idCol).as("nn_id"), quantized(col(vecCol)).as("vq"))
    val cents = trainCentroidsIntL2(v, nClusters, iters, trainFraction)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val assigned = v
      .select(col("nn_id"),
        nearest_centroid_dist_l2(col("vq"), centsLit).as("ad"))
      .select(col("nn_id"),
        element_at(col("ad"), 1).cast("int").as("cluster"),
        element_at(col("ad"), 2).cast("long").as("dist_q"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("dist_q").asc, col("nn_id").asc)
    val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("n_cell"))
    assigned.withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(sizes), "cluster")
      .withColumn("band",
        when(col("rk") * 1000 <= lit(headPermille) * col("n_cell"),
          lit("head"))
          .when((col("n_cell") - col("rk")) * 1000 <
            lit(tailPermille) * col("n_cell"), lit("tail"))
          .otherwise(lit("keep")))
      .select(col("nn_id").as(idCol), col("cluster").cast("long").as("cluster"),
        col("dist_q"), col("rk"), col("n_cell"), col("band"))
  }

  /** IVF top-k with integer-quantized training and squared-L2 cell
    * assignment/probe order — identical search shape to [[ivfTopK]]
    * (map-side cell assignment, broadcast probe join, exact cosine
    * re-rank over the ORIGINAL vectors) but every nondeterministic or
    * engine-divergent step is integer-exact, so the full result
    * carries a hash oracle. See [[trainCentroidsIntL2]]. */
  def ivfTopKQuantized(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, nClusters: Int = 16,
                       nProbe: Int = 2, iters: Int = 2,
                       trainFraction: Double = 0.25): DataFrame = {
    val v = corpus.select(col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("vec"), quantized(col(vecCol)).as("vq"))
    val cents = trainCentroidsIntL2(v, nClusters, iters, trainFraction)
    ivfSearchQuantized(v, queries, idCol, vecCol, k, cents, nProbe)
  }

  private def ivfSearchQuantized(v: DataFrame, queries: DataFrame,
                                 idCol: String, vecCol: String, k: Int,
                                 cents: Array[Array[Double]],
                                 nProbe: Int): DataFrame = {
    def centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val indexed = v.withColumn("cluster", nearest_centroid_l2(col("vq"), centsLit))
    val q = queries.select(col(idCol).as("query_id"),
      as_double_array(col(vecCol)).as("q_vec"), quantized(col(vecCol)).as("q_vq"))
    val probes = q.withColumn("cluster",
      explode(top_centroids_l2(col("q_vq"), centsLit, nProbe)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    indexed.join(broadcast(probes), "cluster")
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round_portable(cosine_sim(col("q_vec"), col("vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "nn_id", "sim")
  }

  /** Probe-depth tuner on the quantized path — [[tuneNProbe]] with
    * every engine-divergent step made replayable: the held-out sample
    * orders by the PORTABLE md5 hex (not xxhash64), the home-cell and
    * probe-order ranks are integer-exact, and the floor compare is
    * integer per-mille arithmetic (`cum·1000 >= total·floor‰`) so no
    * floating ratio ever meets a threshold. `v` carries
    * (nn_id, vec, vq). */
  def tuneNProbeQuantized(v: DataFrame, k: Int,
                          cents: Array[Array[Double]],
                          recallPerMille: Int = 900,
                          sampleSize: Int = 64): Int = {
    val nC = cents.length
    def centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val sampleQ = v
      .orderBy(md5(col("nn_id").cast("string")), col("nn_id"))
      .limit(sampleSize)
      .select(col("nn_id").as("query_id"), col("vec").as("q_vec"),
        col("vq").as("q_vq"))
      .transform(graft.operators.Lineage.pin)
    val truth = cosineTopK(v.select(col("nn_id"), col("vec").as("nn_vec")),
      sampleQ.select("query_id", "q_vec"), k, excludeSameId = true)
    val cellOf = v.select(col("nn_id"),
      nearest_centroid_l2(col("vq"), centsLit).as("nn_cell"))
    val hist = truth.join(cellOf, "nn_id")
      .join(broadcast(sampleQ.select("query_id", "q_vq")), "query_id")
      .select(array_position(
        top_centroids_l2(col("q_vq"), centsLit, nC), col("nn_cell"))
        .as("probe_rank"))
      .groupBy("probe_rank").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = math.max(1L, hist.values.sum)
    (1 to nC).find { p =>
      val cum = (1 to p).map(r => hist.getOrElse(r.toLong, 0L)).sum
      cum * 1000L >= total * recallPerMille
    }.getOrElse(nC)
  }

  /** [[ivfTopKAuto]] on the quantized path — trained cells AND the
    * measured probe-depth choice both replay in the oracle. */
  def ivfTopKAutoQuantized(corpus: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String, k: Int,
                           nClusters: Int = 16, iters: Int = 2,
                           trainFraction: Double = 0.25,
                           recallPerMille: Int = 900,
                           sampleSize: Int = 64): DataFrame = {
    val v = corpus.select(col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("vec"), quantized(col(vecCol)).as("vq"))
    val cents = trainCentroidsIntL2(v, nClusters, iters, trainFraction)
    val nProbe = tuneNProbeQuantized(v, k, cents, recallPerMille, sampleSize)
    ivfSearchQuantized(v, queries, idCol, vecCol, k, cents, nProbe)
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nClusters: Int = 16, nProbe: Int = 2,
              iters: Int = 2, trainFraction: Double = 0.25): DataFrame = {
    val v = corpus.select(col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("vec"))
    val cents = trainCentroids(v, nClusters, iters, trainFraction)
    ivfSearch(v, queries, idCol, vecCol, k, cents, nProbe)
  }

  /** IVF probe join against already-trained centroids (shared by
    * [[ivfTopK]] and [[ivfTopKAuto]] — at scale the centroid table is a
    * persisted artifact, trained once and searched many times). */
  private def ivfSearch(v: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, k: Int,
                        cents: Array[Array[Double]], nProbe: Int): DataFrame = {
    def centsLit = typedLit(cents.map(_.toSeq).toSeq)
    // index build: map-only cell assignment (reusable, like the
    // centroids — at scale this is a write-once partitioned table)
    val indexed = v.withColumn("cluster", nearest_centroid(col("vec"), centsLit))
    val q = queries.select(col(idCol).as("query_id"),
      as_double_array(col(vecCol)).as("q_vec"))
    val probes = q.withColumn("cluster",
      explode(top_centroids(col("q_vec"), centsLit, nProbe)))

    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    indexed.join(broadcast(probes), "cluster")
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round_portable(cosine_sim(col("q_vec"), col("vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "nn_id", "sim")
  }

  /** L7h: empirical probe-depth recall curve — the embedding-side
    * analog of [[Dedup.lshParams]]. Minhash banding has a closed-form
    * S-curve; IVF recall depends on the trained cell geometry, so the
    * curve is MEASURED on a held-out sample: take `sampleSize` corpus
    * rows by deterministic hash order, compute their exact top-k once
    * (one corpus pass — the cost of one brute-force search over S
    * queries), and record, for every true neighbor, the rank of its
    * home cell in the query's full centroid ordering. A neighbor is
    * reachable at probe depth p iff that rank <= p, so the cumulative
    * histogram IS recall@p for every p simultaneously — the entire
    * curve from one pass, no per-depth re-search. Returns a C-entry
    * driver array (index p-1 = expected recall at nProbe = p; last
    * entry is 1.0 by construction).
    */
  def probeRecallCurve(corpus: DataFrame, idCol: String, vecCol: String,
                       k: Int, cents: Array[Array[Double]],
                       sampleSize: Int = 64): Array[Double] = {
    val nC = cents.length
    def centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val v = corpus.select(col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("vec"))
    val sampleQ = v.orderBy(xxhash64(col("nn_id")), col("nn_id"))
      .limit(sampleSize)
      .select(col("nn_id").as("query_id"), col("vec").as("q_vec"))
    val truth = cosineTopK(v.select(col("nn_id"), col("vec").as("nn_vec")),
      sampleQ, k, excludeSameId = true)
    val cellOf = v.select(col("nn_id"),
      nearest_centroid(col("vec"), centsLit).as("nn_cell"))
    // S·k narrow rows → C-bucket histogram: driver artifact is C longs
    val hist = truth.join(cellOf, "nn_id")
      .join(broadcast(sampleQ), "query_id")
      .select(array_position(
        top_centroids(col("q_vec"), centsLit, nC), col("nn_cell"))
        .as("probe_rank"))
      .groupBy("probe_rank").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = math.max(1L, hist.values.sum).toDouble
    (1 to nC).map { p =>
      (1 to p).map(r => hist.getOrElse(r.toLong, 0L)).sum / total
    }.toArray
  }

  /** Smallest nProbe whose measured sample recall clears `recallFloor`
    * (falls back to probing every cell — exhaustive — if none does). */
  def tuneNProbe(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
                 cents: Array[Array[Double]], recallFloor: Double = 0.9,
                 sampleSize: Int = 64): Int =
    probeRecallCurve(corpus, idCol, vecCol, k, cents, sampleSize)
      .indexWhere(_ >= recallFloor) match {
      case -1 => cents.length
      case i  => i + 1
    }

  /** [[ivfTopK]] with the probe depth chosen from a measured recall
    * floor instead of a hand-picked constant — "give me ≥ floor recall
    * at minimum scan cost". Trains the quantizer once and reuses it for
    * both the tuning pass and the search. */
  def ivfTopKAuto(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, nClusters: Int = 16,
                  iters: Int = 2, trainFraction: Double = 0.25,
                  recallFloor: Double = 0.9, sampleSize: Int = 64): DataFrame = {
    val v = corpus.select(col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("vec"))
    val cents = trainCentroids(v, nClusters, iters, trainFraction)
    val nProbe = tuneNProbe(corpus, idCol, vecCol, k, cents,
      recallFloor, sampleSize)
    ivfSearch(v, queries, idCol, vecCol, k, cents, nProbe)
  }

  /** Train product-quantization codebooks (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search"): split each vector into
    * `m` subspaces of dsub = d/m dims and k-means each subspace to
    * `ksub` L2 cells. Rides [[trainGroupedCentroids]] with the subspace
    * index as the group — one explode of the SAMPLE (never the corpus)
    * and one (sub, cluster) shuffle per Lloyd round covers all m
    * codebooks. Returns m blocks, each a flat ksub×dsub row-major
    * array — a driver-bounded artifact (m·ksub·dsub doubles). */
  def trainPqCodebooks(v: DataFrame, m: Int, ksub: Int, iters: Int,
                       trainFraction: Double): Array[Array[Double]] = {
    val d = v.select(size(col("vec"))).limit(1).collect().headOption
      .map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        "trainPqCodebooks: empty vector frame"))
    require(d % m == 0, s"vector dim $d must be divisible by m=$m subspaces")
    val dsub = d / m
    val subv = v.select(col("nn_id"),
        explode(transform(sequence(lit(0), lit(m - 1)),
          s => struct(s.as("grp"),
            slice(col("vec"), s * dsub + 1, lit(dsub)).as("vec")))).as("e"))
      .select(col("e.grp"), col("nn_id"), col("e.vec"))
    val cents = trainGroupedCentroids(subv, ksub, iters, trainFraction,
      metric = "l2")
    val blocks = cents.collect()
      .map(r => (r.getInt(0), r.getSeq[scala.collection.Seq[Double]](1)
        .flatten.toArray))
      .sortBy(_._1).map(_._2)
    require(blocks.length == m, s"expected $m codebooks, got ${blocks.length}")
    // every subspace sees the same training rows, so cell counts agree
    require(blocks.map(_.length).distinct.length == 1,
      "ragged codebooks: subspaces trained different cell counts")
    blocks
  }

  /** L7d: PQ-compressed ANN — the complement of [[ivfTopK]]: instead of
    * scanning fewer vectors (coarse cells), scan ALL candidates but
    * read m small ints each instead of the d-dim vector (d=64 float64,
    * m=8 ⇒ 64× less scan volume). Query side precomputes an ADC lookup
    * table once; each candidate scores via m array lookups, map-side
    * against the broadcast query set. The ADC shortlist (refine·k per
    * query) is broadcast BACK against the corpus, so only shortlist
    * rows ever fetch their raw vector for the exact cosine re-rank —
    * the faiss IVFPQ+refine recipe, minus the coarse cells (compose
    * with [[ivfTopK]]'s cluster equi-join for both cuts at once).
    * Vectors are L2-normalized before encoding so the ADC inner
    * product approximates cosine. Approximate ⇒ rows-only; recall vs
    * [[bruteForceTopK]] gated in AnnSpec. */
  /** L2-normalize an array<double> column (zero vectors pass through),
    * so inner products downstream equal cosines. */
  private def normalizedCol(vec: Column): Column = {
    val n = sqrt(dot_product(vec, vec))
    when(n === 0.0, vec).otherwise(transform(vec, x => x / n))
  }

  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 8, ksub: Int = 32,
             iters: Int = 2, trainFraction: Double = 1.0,
             refine: Int = 4): DataFrame = {
    val v = corpus.select(col(idCol).as("nn_id"),
        as_double_array(col(vecCol)).as("vec"))
      .withColumn("nvec", normalizedCol(col("vec")))
    val books = trainPqCodebooks(v.select(col("nn_id"), col("nvec").as("vec")),
      m, ksub, iters, trainFraction)
    val booksLit = typedLit(books.map(_.toSeq).toSeq)
    val q = queries.select(col(idCol).as("query_id"),
      as_double_array(col(vecCol)).as("q_vec"))
    val probes = q.withColumn("dtable",
      pq_dtable(normalizedCol(col("q_vec")), booksLit))

    // compressed scan: (id, codes) only — at scale this is the
    // persisted 8-bytes-per-vector index, not a projection of the scan
    val codes = v.select(col("nn_id"), pq_encode(col("nvec"), booksLit).as("codes"))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("nn_id").asc)
    val shortlist = codes
      .crossJoin(broadcast(probes.select(col("query_id"), col("dtable"))))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("adc", pq_adc(col("codes"), col("dtable")))
      .withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= math.max(k, refine * k))
      .select("query_id", "nn_id")

    // exact re-rank: shortlist (Q·refine·k rows) broadcasts against the
    // corpus, so raw vectors are read map-side for shortlist rows only
    val wSim = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    v.select("nn_id", "vec").join(broadcast(shortlist), "nn_id")
      .join(broadcast(q), "query_id")
      .withColumn("sim", round_portable(cosine_sim(col("q_vec"), col("vec")), 4))
      .withColumn("rank", row_number().over(wSim))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "nn_id", "sim")
  }

  /** [[pqTopK]] on the integer-quantized path: vectors L2-normalize
    * per row (a fixed-order chain both engines replay bit-identically)
    * then quantize, sub-codebooks train via
    * [[trainGroupedCentroidsIntL2]] with the SUBSPACE as the group, and
    * encode/dtable/ADC all run over integer-valued doubles — exact, so
    * the shortlist ORDER (not just the set) replays in the oracle and
    * the whole compressed-scan chain carries a hash gate. Search shape
    * identical to [[pqTopK]] (broadcast dtables, codes-only candidate
    * scan, raw vectors fetched for the shortlist re-rank only). */
  def pqTopKQuantized(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int, m: Int = 8, ksub: Int = 32,
                      iters: Int = 2, trainFraction: Double = 1.0,
                      refine: Int = 4): DataFrame = {
    val v = corpus.select(col(idCol).as("nn_id"),
        as_double_array(col(vecCol)).as("vec"))
      .withColumn("nvq", quantized(normalizedCol(col("vec"))))
    val d = v.select(size(col("vec"))).limit(1).collect().headOption
      .map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        "pqTopKQuantized: empty vector frame"))
    require(d % m == 0, s"vector dim $d must be divisible by m=$m subspaces")
    val dsub = d / m
    val subv = v.select(col("nn_id"),
        explode(transform(sequence(lit(0), lit(m - 1)),
          s => struct(s.as("grp"),
            slice(col("nvq"), s * dsub + 1, lit(dsub)).as("vq")))).as("e"))
      .select(col("e.grp").as("grp"), col("nn_id"), col("e.vq").as("vq"))
    val cents = trainGroupedCentroidsIntL2(subv, ksub, iters, trainFraction)
    val blocks = cents.collect()
      .map(r => (r.getInt(0), r.getSeq[scala.collection.Seq[Double]](1)
        .flatten.toArray))
      .sortBy(_._1).map(_._2)
    require(blocks.length == m, s"expected $m codebooks, got ${blocks.length}")
    require(blocks.map(_.length).distinct.length == 1,
      "ragged codebooks: subspaces trained different cell counts")
    val booksLit = typedLit(blocks.map(_.toSeq).toSeq)
    val q = queries.select(col(idCol).as("query_id"),
      as_double_array(col(vecCol)).as("q_vec"))
    val probes = q.withColumn("dtable",
      pq_dtable(quantized(normalizedCol(col("q_vec"))), booksLit))
    val codes = v.select(col("nn_id"), pq_encode(col("nvq"), booksLit).as("codes"))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("nn_id").asc)
    val shortlist = codes
      .crossJoin(broadcast(probes.select(col("query_id"), col("dtable"))))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("adc", pq_adc(col("codes"), col("dtable")))
      .withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= math.max(k, refine * k))
      .select("query_id", "nn_id")
    val wSim = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    v.select("nn_id", "vec").join(broadcast(shortlist), "nn_id")
      .join(broadcast(q), "query_id")
      .withColumn("sim", round_portable(cosine_sim(col("q_vec"), col("vec")), 4))
      .withColumn("rank", row_number().over(wSim))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "nn_id", "sim")
  }

  /** L76: cluster-purity audit — quantize the embedding space into
    * `nClusters` cells ([[trainCentroidsIntL2]] — oracle-exact) and
    * report, per cell, its corpus share and how label-pure it is
    * (majority label, ties to lowest). The embedding-space QA report:
    * high-purity cells mean the space separates the label structure
    * (topic clusters are usable for stratified ops); a low-purity hot
    * cell is where embedding-based dedup/selection will cross labels.
    * One training pass + one map-side assignment + two low-cardinality
    * aggregates. */
  def clusterPurity(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, nClusters: Int = 8, iters: Int = 2,
                    trainFraction: Double = 1.0): DataFrame = {
    val v = corpus.select(col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("vec"), quantized(col(vecCol)).as("vq"),
      col(labelCol).as("label"))
    val cents = trainCentroidsIntL2(v, nClusters, iters, trainFraction)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val perLab = v
      .withColumn("cluster", nearest_centroid_l2(col("vq"), centsLit))
      .groupBy("cluster", "label").agg(count(lit(1)).as("n"))
    val perCl = perLab.groupBy("cluster").agg(sum("n").as("n_vecs"))
    val wTop = Window.partitionBy("cluster")
      .orderBy(col("n").desc, col("label").asc)
    val top = perLab.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("label").as("top_label"),
        col("n").as("n_top"))
    val total = perCl.agg(sum("n_vecs").as("total"))
    perCl.join(top, "cluster").crossJoin(broadcast(total))
      .withColumn("share_pm", expr("n_vecs * 1000 div total"))
      .withColumn("purity_pm", expr("n_top * 1000 div n_vecs"))
      .select("cluster", "n_vecs", "share_pm", "top_label", "n_top",
        "purity_pm")
  }

  /** Per-group k-means training for [[groupedIvfTopK]]. One persisted
    * hash-sample pass; per Lloyd round a SINGLE (grp, cluster)
    * `vector_sum` shuffle covers every group's update (G·C rows), and
    * the per-group centroid tables live in one small (grp, cents)
    * frame — never collected per group, localCheckpoint'ed per round
    * so the loop's plan stays constant-size. Groups smaller than
    * `nClusters` simply train fewer cells (cents length varies per
    * group; the argmax kernels take the array length as truth). */
  def trainGroupedCentroids(v: DataFrame, nClusters: Int, iters: Int,
                            trainFraction: Double,
                            metric: String = "cosine"): DataFrame = {
    require(metric == "cosine" || metric == "l2", s"unknown metric $metric")
    def assign(vec: org.apache.spark.sql.Column, cents: org.apache.spark.sql.Column) =
      if (metric == "l2") nearest_centroid_l2(vec, cents)
      else nearest_centroid(vec, cents)
    val pct = math.max(1, math.min(100, math.round(trainFraction * 100).toInt))
    val train = v.filter(pmod(xxhash64(col("nn_id")), lit(100)) < pct)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // seed: each group's nClusters lowest-id sampled vectors.
      // superseded rounds' checkpoint blocks are reclaimed by the
      // ContextCleaner when the driver reference drops (weak-ref GC);
      // reliable-mode checkpoint FILES need cleanCheckpoints=true
      // (GraftSession sets it)
      val wSeed = Window.partitionBy("grp").orderBy("nn_id")
      var cents = train.withColumn("rn", row_number().over(wSeed) - 1)
        .filter(col("rn") < nClusters)
        .groupBy("grp")
        .agg(array_sort(collect_list(struct(col("rn"), col("vec")))).as("s"))
        .select(col("grp"), transform(col("s"), x => x("vec")).as("cents"))
        .transform(graft.operators.Lineage.pin)
      (1 to iters).foreach { _ =>
        val updated = train.join(broadcast(cents), "grp")
          .withColumn("cluster", assign(col("vec"), col("cents")))
          .groupBy("grp", "cluster")
          .agg(vector_sum(col("vec")).as("vsum"), count(lit(1)).as("cnt"))
          .select(col("grp"), col("cluster"),
            transform(col("vsum"), x => x / col("cnt")).as("newc"))
        // empty cells keep their previous centroid
        val old = cents.select(col("grp"),
          posexplode(col("cents")).as(Seq("cluster", "oldc")))
        cents = old.join(updated, Seq("grp", "cluster"), "left")
          .select(col("grp"), col("cluster"),
            coalesce(col("newc"), col("oldc")).as("c"))
          .groupBy("grp")
          .agg(array_sort(collect_list(struct(col("cluster"), col("c")))).as("s"))
          .select(col("grp"), transform(col("s"), x => x("c")).as("cents"))
          .transform(graft.operators.Lineage.pin)
      }
      // a group can miss the hash-sample entirely (tiny tenants):
      // give it its lowest-id corpus vector as a 1-cell quantizer so
      // the inner joins downstream never silently drop the tenant.
      // The union is checkpointed: callers use cents several times
      // (index + probes) and must not re-run the fallback corpus scan
      val missing = v.join(cents.select("grp"), Seq("grp"), "left_anti")
        .groupBy("grp").agg(min_by(col("vec"), col("nn_id")).as("c0"))
        .select(col("grp"), array(col("c0")).as("cents"))
      cents.union(missing).transform(graft.operators.Lineage.pin)
    } finally train.unpersist()
  }

  /** [[trainGroupedCentroids]] on the integer-quantized path — fully
    * DataFrame-side (no driver collect: G·C centroid rows stay
    * distributed), every step exact integer arithmetic in doubles
    * (see [[trainCentroidsIntL2]]): the per-iteration floor-of-mean
    * runs as a codegen'd `transform(vsum, x -> floor(x/cnt))`.
    * `v` must carry (grp, nn_id, vq). Returns (grp, cents). */
  def trainGroupedCentroidsIntL2(v: DataFrame, nClusters: Int, iters: Int,
                                 trainFraction: Double): DataFrame = {
    val train = md5Sample(v, trainFraction)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val wSeed = Window.partitionBy("grp").orderBy("nn_id")
      var cents = train.withColumn("rn", row_number().over(wSeed) - 1)
        .filter(col("rn") < nClusters)
        .groupBy("grp")
        .agg(array_sort(collect_list(struct(col("rn"), col("vq")))).as("s"))
        .select(col("grp"), transform(col("s"), x => x("vq")).as("cents"))
        .transform(graft.operators.Lineage.pin)
      (1 to iters).foreach { _ =>
        val updated = train.join(broadcast(cents), "grp")
          .withColumn("cluster", nearest_centroid_l2(col("vq"), col("cents")))
          .groupBy("grp", "cluster")
          .agg(vector_sum(col("vq")).as("vsum"), count(lit(1)).as("cnt"))
          .select(col("grp"), col("cluster"),
            transform(col("vsum"),
              x => floor(x / col("cnt")).cast("double")).as("newc"))
        val old = cents.select(col("grp"),
          posexplode(col("cents")).as(Seq("cluster", "oldc")))
        cents = old.join(updated, Seq("grp", "cluster"), "left")
          .select(col("grp"), col("cluster"),
            coalesce(col("newc"), col("oldc")).as("c"))
          .groupBy("grp")
          .agg(array_sort(collect_list(struct(col("cluster"), col("c")))).as("s"))
          .select(col("grp"), transform(col("s"), x => x("c")).as("cents"))
          .transform(graft.operators.Lineage.pin)
      }
      // tenants that missed the hash sample get a 1-cell quantizer
      // (lowest-id corpus vector) — same fallback as the double path
      val missing = v.join(cents.select("grp"), Seq("grp"), "left_anti")
        .groupBy("grp").agg(min_by(col("vq"), col("nn_id")).as("c0"))
        .select(col("grp"), array(col("c0")).as("cents"))
      cents.union(missing).transform(graft.operators.Lineage.pin)
    } finally train.unpersist()
  }

  /** [[groupedIvfTopK]] on the integer-quantized path — per-tenant
    * trained cells replay in the oracle; search shape unchanged
    * (broadcast (grp, cents), equi-join on (grp, cluster)). */
  def groupedIvfTopKQuantized(corpus: DataFrame, queries: DataFrame,
                              idCol: String, vecCol: String,
                              groupCol: String, k: Int, nClusters: Int = 8,
                              nProbe: Int = 2, iters: Int = 2,
                              trainFraction: Double = 0.25): DataFrame = {
    val v = corpus.select(col(groupCol).as("grp"), col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("vec"), quantized(col(vecCol)).as("vq"))
    val cents = trainGroupedCentroidsIntL2(v, nClusters, iters, trainFraction)
    val indexed = v.join(broadcast(cents), "grp")
      .withColumn("cluster", nearest_centroid_l2(col("vq"), col("cents")))
      .select("grp", "cluster", "nn_id", "vec")
    val probes = queries
      .select(col(groupCol).as("grp"), col(idCol).as("query_id"),
        as_double_array(col(vecCol)).as("q_vec"), quantized(col(vecCol)).as("q_vq"))
      .join(broadcast(cents), "grp")
      .withColumn("cluster",
        explode(top_centroids_l2(col("q_vq"), col("cents"), nProbe)))
      .select("grp", "cluster", "query_id", "q_vec")
    val w = Window.partitionBy("grp", "query_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    indexed.join(broadcast(probes), Seq("grp", "cluster"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round_portable(cosine_sim(col("q_vec"), col("vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "grp", "rank", "nn_id", "sim")
  }

  /** L7c: per-group (tenant) IVF — one coarse quantizer per group, the
    * scale path for multi-tenant similarity search: assignment and
    * probing are map-side against a broadcast (grp, cents) table, the
    * cell join is an equi-join on (grp, cluster), and a query never
    * scans outside its own group's probed cells. */
  def groupedIvfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, groupCol: String, k: Int,
                     nClusters: Int = 8, nProbe: Int = 2, iters: Int = 2,
                     trainFraction: Double = 0.25): DataFrame = {
    val v = corpus.select(col(groupCol).as("grp"), col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("vec"))
    val cents = trainGroupedCentroids(v, nClusters, iters, trainFraction)
    val indexed = v.join(broadcast(cents), "grp")
      .withColumn("cluster", nearest_centroid(col("vec"), col("cents")))
      .drop("cents")
    val probes = queries
      .select(col(groupCol).as("grp"), col(idCol).as("query_id"),
        as_double_array(col(vecCol)).as("q_vec"))
      .join(broadcast(cents), "grp")
      .withColumn("cluster",
        explode(top_centroids(col("q_vec"), col("cents"), nProbe)))
      .drop("cents")
    // rank within (grp, query_id): query ids may collide across tenants
    val w = Window.partitionBy("grp", "query_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    indexed.join(broadcast(probes), Seq("grp", "cluster"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round_portable(cosine_sim(col("q_vec"), col("vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "grp", "rank", "nn_id", "sim")
  }

  /** Persist a GROUPED (per-tenant) IVF index: `<path>/centroids`
    * holds one (grp, cents) row per tenant; `<path>/assignments` is
    * written `partitionBy(grp, cluster)` so a search reads only the
    * probed `grp=.../cluster=...` directories — tenant isolation AND
    * cell pruning from the same layout. Build = one training pass +
    * one map-only assignment write, same as the ungrouped index. */
  def buildGroupedIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                           groupCol: String, path: String,
                           nClusters: Int = 8, iters: Int = 2,
                           trainFraction: Double = 0.25): Unit = {
    val v = corpus.select(col(groupCol).as("grp"), col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("vec"))
    val cents = trainGroupedCentroids(v, nClusters, iters, trainFraction)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    v.join(broadcast(cents), "grp")
      .withColumn("cluster", nearest_centroid(col("vec"), col("cents")))
      .drop("cents")
      .write.mode("overwrite").partitionBy("grp", "cluster")
      .parquet(s"$path/assignments")
  }

  /** Append a batch to a persisted GROUPED IVF index — per-tenant
    * add-after-train: each row is assigned map-side against its own
    * tenant's fixed quantizer (broadcast (grp, cents) table) and
    * appended into its `grp=/cluster=` directory. A tenant present in
    * the batch but absent from the trained centroid table would be
    * silently dropped by the assignment join, so that case throws:
    * onboarding a NEW tenant is a (per-tenant) build, not an append. */
  def appendToGroupedIvfIndex(batch: DataFrame, idCol: String, vecCol: String,
                              groupCol: String, path: String): Unit = {
    val spark = batch.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
    val v = batch.select(col(groupCol).as("grp"), col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("vec"))
    val newTenants = v.select("grp").distinct()
      .join(cents.select("grp"), Seq("grp"), "left_anti")
      .limit(5).collect().map(_.get(0))
    require(newTenants.isEmpty,
      s"append batch contains tenants with no trained quantizer " +
        s"(${newTenants.mkString(", ")}${if (newTenants.length == 5) ", ..." else ""}) " +
        "— rebuild the index to onboard new tenants")
    v.join(broadcast(cents), "grp")
      .withColumn("cluster", nearest_centroid(col("vec"), col("cents")))
      .drop("cents")
      .write.mode("append").partitionBy("grp", "cluster")
      .parquet(s"$path/assignments")
  }

  /** Search a persisted grouped IVF index. Probed (grp, cluster)
    * cells are computed driver-side from the (tiny) centroid table
    * and pushed as partition filters, so the scan lists and reads
    * only those tenants' probed cell directories. */
  def searchGroupedIvfIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String, queries: DataFrame, idCol: String,
                            vecCol: String, groupCol: String, k: Int,
                            nProbe: Int = 2): DataFrame = {
    import org.apache.spark.sql.types._
    val cents = spark.read.parquet(s"$path/centroids")
    // probes are checkpointed (blocks GC-reclaimed, no CacheManager
    // pin): the cell collect below and the final join must see the
    // SAME probe rows (a nondeterministic query frame could otherwise
    // probe cells the prune filter excluded). Bounded: |queries| x
    // nProbe narrow rows.
    val probes = queries
      .select(col(groupCol).as("grp"), col(idCol).as("query_id"),
        as_double_array(col(vecCol)).as("q_vec"))
      .join(broadcast(cents), "grp")
      .withColumn("cluster",
        explode(top_centroids(col("q_vec"), col("cents"), nProbe)))
      .drop("cents")
      .transform(graft.operators.Lineage.pin)
    val cells = probes.select("grp", "cluster").distinct().collect()
    // empty query frame (or none of its groups indexed) is a normal
    // empty result, matching searchIvfIndex
    if (cells.isEmpty)
      return probes.select(col("query_id"), col("grp"), lit(0).as("rank"),
        col("query_id").as("nn_id"), lit(0.0).as("sim")).limit(0)
    // one predicate per TENANT (grp = g && cluster IN (...)), so the
    // prune expression grows with tenants, not tenants x probes
    val prune = cells.groupBy(_.get(0)).map { case (g, rs) =>
      col("grp") === lit(g) &&
        col("cluster").isin(rs.map(_.getInt(1)).distinct.toIndexedSeq: _*)
    }.reduce(_ || _)
    // explicit schema: partition-directory type inference would
    // collapse numeric-looking string tenant ids ("007" -> 7) and
    // break tenant isolation. Data-column types (nn_id in the
    // caller's id type, vec) come from the parquet footers; only grp
    // is pinned to the centroid table's type.
    val fileSchema = spark.read.parquet(s"$path/assignments").schema
    val schema = StructType(fileSchema.map {
      case f if f.name == "grp" => f.copy(dataType = cents.schema("grp").dataType)
      case f => f
    })
    val indexed = spark.read.schema(schema).parquet(s"$path/assignments")
      .where(prune)
    val w = Window.partitionBy("grp", "query_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    indexed.join(broadcast(probes), Seq("grp", "cluster"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round_portable(cosine_sim(col("q_vec"), col("vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "grp", "rank", "nn_id", "sim")
  }

  /** Persist an IVF index: `<path>/centroids` (cluster, cvec) and
    * `<path>/assignments` written `partitionBy(cluster)` — the
    * train-once / search-many contract. At 100 TB the build is one
    * training pass plus one map-only assignment write; every
    * subsequent search reads ONLY the probed cells (static partition
    * pruning on the `cluster=` directories, ~nProbe/nClusters of the
    * bytes). */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, nClusters: Int = 16, iters: Int = 2,
                    trainFraction: Double = 0.25): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val v = corpus.select(col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("vec"))
    val cents = trainCentroids(v, nClusters, iters, trainFraction)
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "cvec")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    v.withColumn("cluster",
        nearest_centroid(col("vec"), typedLit(cents.map(_.toSeq).toSeq)))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/assignments")
  }

  /** Append a batch of vectors to a persisted IVF index — the faiss
    * add-after-train contract: centroids stay FIXED (the quantizer was
    * trained once; retrain only when drift degrades recall), new
    * vectors are assigned map-side against the broadcast centroid
    * table and appended into their `cluster=` directories. Cost is one
    * map-only pass over the batch — the index is never rewritten, and
    * searches see the union corpus immediately. The vector ingest twin
    * of [[graft.operators.Dedup.appendSignatures]], with one layout
    * difference: the signature append writes one file per target size,
    * while this one writes a file per (write task, cluster touched),
    * which a cluster's probe then opens. */
  def appendToIvfIndex(batch: DataFrame, idCol: String, vecCol: String,
                       path: String): Unit = {
    val spark = batch.sparkSession
    val cents: Array[Array[Double]] = spark.read.parquet(s"$path/centroids")
      .orderBy("cluster").collect().map(_.getSeq[Double](1).toArray)
    batch.select(col(idCol).as("nn_id"),
        as_double_array(col(vecCol)).as("vec"))
      .withColumn("cluster",
        nearest_centroid(col("vec"), typedLit(cents.map(_.toSeq).toSeq)))
      .write.mode("append").partitionBy("cluster")
      .parquet(s"$path/assignments")
  }

  /** Delete a batch of ids from a persisted IVF index (faiss
    * remove_ids semantics: centroids stay FIXED — retrain only when
    * drift degrades recall). Only the `cluster=` partitions that
    * actually HOLD a deleted id are rewritten (dynamic partition
    * overwrite — the deletion twin of the search path's partition
    * pruning); untouched cells stay untouched bytes. Dynamic
    * overwrite skips partitions with zero surviving rows, so fully
    * emptied cells are removed explicitly — no stale data can
    * outlive its delete. Unknown ids are a no-op. Same batching
    * economics as [[Lexical.deleteDocs]]. */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, ids: DataFrame, idCol: String): Unit = {
    val del = ids.select(col(idCol).as("nn_id"))
    val asg = spark.read.parquet(s"$path/assignments")
    val cells = asg.join(broadcast(del), Seq("nn_id"), "left_semi")
      .select("cluster").distinct().collect().map(_.getInt(0)).toSeq
    if (cells.isEmpty) return
    // deleting the LAST row would leave an unreadable empty table (the
    // next read can't infer a schema) — that's an index drop, not a
    // delete; refuse loudly
    require(asg.join(broadcast(del), Seq("nn_id"), "left_anti")
        .limit(1).count() > 0,
      s"delete batch covers every id in $path — drop the index instead")
    // materialize survivors BEFORE overwriting their source partitions
    val survivors = asg.where(col("cluster").isin(cells: _*))
      .join(broadcast(del), Seq("nn_id"), "left_anti")
      .transform(graft.operators.Lineage.pin)
    val kept = survivors.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSet
    withDynamicOverwrite(spark) {
      survivors.write.mode("overwrite").partitionBy("cluster")
        .parquet(s"$path/assignments")
    }
    dropCellDirs(spark, s"$path/assignments", cells.filterNot(kept))
  }

  /** Delete a batch of ids from a persisted IVF+PQ index: `codes`
    * partitions rewrite cell-pruned exactly like
    * [[deleteFromIvfIndex]]; the unpartitioned `vectors` (refine)
    * table rewrites whole. Centroids and codebooks stay fixed. */
  def deleteFromIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                           path: String, ids: DataFrame, idCol: String): Unit = {
    val del = ids.select(col(idCol).as("nn_id"))
    val codes = spark.read.parquet(s"$path/codes")
    val cells = codes.join(broadcast(del), Seq("nn_id"), "left_semi")
      .select("cluster").distinct().collect().map(_.getInt(0)).toSeq
    // the `vectors` (refine) side is checked INDEPENDENTLY of codes:
    // after a crash between the codes overwrite and the vectors
    // rewrite, a re-run finds no deleted id in codes but must still
    // finish erasing the raw vectors — an early return keyed on codes
    // alone would leave right-to-erasure content behind forever
    val vecs = spark.read.parquet(s"$path/vectors")
    val vecsHit = vecs.join(broadcast(del), Seq("nn_id"), "left_semi")
      .limit(1).count() > 0
    if (cells.isEmpty && !vecsHit) return
    require(vecs.join(broadcast(del), Seq("nn_id"), "left_anti")
        .limit(1).count() > 0,
      s"delete batch covers every id in $path — drop the index instead")
    if (cells.nonEmpty) {
      val survivors = codes.where(col("cluster").isin(cells: _*))
        .join(broadcast(del), Seq("nn_id"), "left_anti")
        .transform(graft.operators.Lineage.pin)
      val kept = survivors.select("cluster").distinct()
        .collect().map(_.getInt(0)).toSet
      withDynamicOverwrite(spark) {
        survivors.write.mode("overwrite").partitionBy("cluster")
          .parquet(s"$path/codes")
      }
      dropCellDirs(spark, s"$path/codes", cells.filterNot(kept))
    }
    if (vecsHit) {
      val v2 = vecs.join(broadcast(del), Seq("nn_id"), "left_anti")
        .transform(graft.operators.Lineage.pin)
      v2.write.mode("overwrite").parquet(s"$path/vectors")
    }
  }

  private def withDynamicOverwrite(spark: org.apache.spark.sql.SparkSession)
                                  (body: => Unit): Unit = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def dropCellDirs(spark: org.apache.spark.sql.SparkSession,
                           base: String, cells: Seq[Int]): Unit = {
    if (cells.nonEmpty) {
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      cells.foreach { c =>
        val dir = new org.apache.hadoop.fs.Path(basePath, s"cluster=$c")
        if (fs.exists(dir)) fs.delete(dir, true)
      }
    }
  }

  /** Search a persisted IVF index. The probed cell ids are computed
    * driver-side from the (tiny) centroid table and pushed as an
    * `isin` filter on the partition column, so the scan lists and
    * reads only those `cluster=` directories. */
  def searchIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, idCol: String, vecCol: String,
                     k: Int, nProbe: Int = 2): DataFrame = {
    val cents: Array[Array[Double]] = spark.read.parquet(s"$path/centroids")
      .orderBy("cluster").collect().map(_.getSeq[Double](1).toArray)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    // checkpointed so the cell collect and the final join see the same
    // probe rows (nondeterministic query frames), without pinning a
    // cache entry per search call — |queries| x nProbe
    val probes = queries
      .select(col(idCol).as("query_id"), as_double_array(col(vecCol)).as("q_vec"))
      .withColumn("cluster", explode(top_centroids(col("q_vec"), centsLit, nProbe)))
      .transform(graft.operators.Lineage.pin)
    val cells = probes.select("cluster").distinct().collect().map(_.getInt(0)).toSeq
    val indexed = spark.read.parquet(s"$path/assignments")
      .where(col("cluster").isin(cells: _*))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    indexed.join(broadcast(probes), "cluster")
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round_portable(cosine_sim(col("q_vec"), col("vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "nn_id", "sim")
  }

  /** Persist an IVF+PQ index — the full faiss IVFPQ recipe: coarse
    * k-means cells for partition pruning (read ~nProbe/nClusters of
    * the index) AND PQ codes for scan compression (read m ints per
    * candidate, not the vector). Vectors are L2-normalized; PQ encodes
    * the RESIDUAL r = x̂ - c(x̂) against its cell centroid (residuals
    * are small ⇒ finer quantization at the same ksub), so a
    * candidate's approximate score decomposes as dot(q̂, c) — exact,
    * one value per probed cell — plus the ADC residual lookup.
    * Layout: `centroids` + `codebooks` (driver-bounded artifacts),
    * `codes` partitioned by `cluster=` (the pruned scan), `vectors`
    * (id → raw vector, read only for the refine shortlist). */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      path: String, nClusters: Int = 16, m: Int = 16,
                      ksub: Int = 32, iters: Int = 2,
                      trainFraction: Double = 0.25): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val v = corpus.select(col(idCol).as("nn_id"),
        as_double_array(col(vecCol)).as("vec"))
      .withColumn("nvec", normalizedCol(col("vec")))
    val cents = trainCentroids(v.select(col("nn_id"), col("nvec").as("vec")),
      nClusters, iters, trainFraction)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val assigned = v
      .withColumn("cluster", nearest_centroid(col("nvec"), centsLit))
      .withColumn("resid", zip_with(col("nvec"),
        element_at(centsLit, col("cluster") + 1), (a, b) => a - b))
    val books = trainPqCodebooks(
      assigned.select(col("nn_id"), col("resid").as("vec")),
      m, ksub, iters, trainFraction)
    val booksLit = typedLit(books.map(_.toSeq).toSeq)
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "cvec").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    books.zipWithIndex.map { case (b, s) => (s, b.toSeq) }.toSeq
      .toDF("sub", "block").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebooks")
    assigned
      .select(col("nn_id"), col("cluster"),
        pq_encode(col("resid"), booksLit).as("codes"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/codes")
    v.select("nn_id", "vec")
      .write.mode("overwrite").parquet(s"$path/vectors")
  }

  /** [[buildIvfPqIndex]] on the integer-quantized path: coarse cells
    * train via [[trainCentroidsIntL2]] over the quantized normalized
    * vectors, residuals are integer differences (exact), and the
    * residual sub-codebooks train via [[trainGroupedCentroidsIntL2]]
    * with the subspace as the group — the ENTIRE two-stage index
    * (coarse + PQ) becomes engine-replayable, converting the persisted
    * IVF+PQ search to a full hash oracle. Same on-disk layout as the
    * double path (centroids / codebooks / cluster-partitioned codes /
    * raw vectors). */
  def buildIvfPqIndexQuantized(corpus: DataFrame, idCol: String,
                               vecCol: String, path: String,
                               nClusters: Int = 16, m: Int = 16,
                               ksub: Int = 32, iters: Int = 2,
                               trainFraction: Double = 0.25): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val v = corpus.select(col(idCol).as("nn_id"),
        as_double_array(col(vecCol)).as("vec"))
      .withColumn("vq", quantized(normalizedCol(col("vec"))))
    val cents = trainCentroidsIntL2(v, nClusters, iters, trainFraction)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val assigned = v
      .withColumn("cluster", nearest_centroid_l2(col("vq"), centsLit))
      .withColumn("resid", zip_with(col("vq"),
        element_at(centsLit, col("cluster") + 1), (a, b) => a - b))
    val d = cents.head.length
    require(d % m == 0, s"vector dim $d must be divisible by m=$m subspaces")
    val dsub = d / m
    val subv = assigned.select(col("nn_id"),
        explode(transform(sequence(lit(0), lit(m - 1)),
          s => struct(s.as("grp"),
            slice(col("resid"), s * dsub + 1, lit(dsub)).as("vq")))).as("e"))
      .select(col("e.grp").as("grp"), col("nn_id"), col("e.vq").as("vq"))
    val bookRows = trainGroupedCentroidsIntL2(subv, ksub, iters, trainFraction)
    val blocks = bookRows.collect()
      .map(r => (r.getInt(0), r.getSeq[scala.collection.Seq[Double]](1)
        .flatten.toArray))
      .sortBy(_._1).map(_._2)
    require(blocks.length == m && blocks.map(_.length).distinct.length == 1,
      s"ragged codebooks: expected $m equal blocks")
    val booksLit = typedLit(blocks.map(_.toSeq).toSeq)
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "cvec").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    blocks.zipWithIndex.map { case (b, s) => (s, b.toSeq) }.toSeq
      .toDF("sub", "block").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebooks")
    assigned
      .select(col("nn_id"), col("cluster"),
        pq_encode(col("resid"), booksLit).as("codes"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/codes")
    v.select("nn_id", "vec")
      .write.mode("overwrite").parquet(s"$path/vectors")
  }

  /** Search a [[buildIvfPqIndexQuantized]] index — the quantized twin
    * of [[searchIvfPqIndex]]: probes and ADC run over integer-valued
    * doubles (probe order AND shortlist order exact), exact-cosine
    * re-rank over the raw vectors. */
  def searchIvfPqIndexQuantized(spark: org.apache.spark.sql.SparkSession,
                                path: String, queries: DataFrame,
                                idCol: String, vecCol: String, k: Int,
                                nProbe: Int = 2, refine: Int = 4): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy("cluster").collect().map(_.getSeq[Double](1).toArray)
    val books = spark.read.parquet(s"$path/codebooks")
      .orderBy("sub").collect().map(_.getSeq[Double](1).toArray)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val booksLit = typedLit(books.map(_.toSeq).toSeq)
    val q0 = queries
      .select(col(idCol).as("query_id"), as_double_array(col(vecCol)).as("q_vec"))
      .withColumn("q_nvq", quantized(normalizedCol(col("q_vec"))))
      .transform(graft.operators.Lineage.pin)
    val probes = q0
      .withColumn("cluster",
        explode(top_centroids_l2(col("q_nvq"), centsLit, nProbe)))
      .withColumn("dtable", pq_dtable(col("q_nvq"), booksLit))
      .withColumn("coff",
        dot_product(col("q_nvq"), element_at(centsLit, col("cluster") + 1)))
      .select("query_id", "cluster", "dtable", "coff")
    val cells = probes.select("cluster").distinct().collect()
      .map(_.getInt(0)).toSeq
    val codes = spark.read.parquet(s"$path/codes")
      .where(col("cluster").isin(cells: _*))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("nn_id").asc)
    val shortlist = codes.join(broadcast(probes), "cluster")
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("adc", col("coff") + pq_adc(col("codes"), col("dtable")))
      .withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= math.max(k, refine * k))
      .select("query_id", "nn_id")
    val wSim = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    spark.read.parquet(s"$path/vectors")
      .join(broadcast(shortlist), "nn_id")
      .join(broadcast(q0.select("query_id", "q_vec")), "query_id")
      .withColumn("sim", round_portable(cosine_sim(col("q_vec"), col("vec")), 4))
      .withColumn("rank", row_number().over(wSim))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "nn_id", "sim")
  }

  /** Add-after-train append to a persisted IVF+PQ index: quantizers
    * stay fixed; the batch is assigned, residual-encoded, and appended
    * map-side — one pass over the batch, the index never rewrites. */
  def appendToIvfPqIndex(batch: DataFrame, idCol: String, vecCol: String,
                         path: String): Unit = {
    val spark = batch.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy("cluster").collect().map(_.getSeq[Double](1).toArray)
    val books = spark.read.parquet(s"$path/codebooks")
      .orderBy("sub").collect().map(_.getSeq[Double](1).toArray)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val booksLit = typedLit(books.map(_.toSeq).toSeq)
    val v = batch.select(col(idCol).as("nn_id"),
        as_double_array(col(vecCol)).as("vec"))
      .withColumn("nvec", normalizedCol(col("vec")))
      .withColumn("cluster", nearest_centroid(col("nvec"), centsLit))
      .withColumn("resid", zip_with(col("nvec"),
        element_at(centsLit, col("cluster") + 1), (a, b) => a - b))
    v.select(col("nn_id"), col("cluster"),
        pq_encode(col("resid"), booksLit).as("codes"))
      .write.mode("append").partitionBy("cluster").parquet(s"$path/codes")
    v.select("nn_id", "vec").write.mode("append").parquet(s"$path/vectors")
  }

  /** Search a persisted IVF+PQ index: probed cell ids push a
    * `cluster=` partition filter (reads nProbe/nClusters of the codes
    * bytes); candidates score via `coff + pq_adc` (cell offset + m
    * residual lookups); the ADC shortlist broadcasts against the
    * `vectors` table so only refine·k rows/query read a raw vector for
    * the exact cosine re-rank. */
  def searchIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, nProbe: Int = 2, refine: Int = 4): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy("cluster").collect().map(_.getSeq[Double](1).toArray)
    val books = spark.read.parquet(s"$path/codebooks")
      .orderBy("sub").collect().map(_.getSeq[Double](1).toArray)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val booksLit = typedLit(books.map(_.toSeq).toSeq)
    // checkpointed once: the probe explode, the driver cell collect,
    // and the final hydrate all see the same query rows
    val q0 = queries
      .select(col(idCol).as("query_id"), as_double_array(col(vecCol)).as("q_vec"))
      .withColumn("q_nvec", normalizedCol(col("q_vec")))
      .transform(graft.operators.Lineage.pin)
    val probes = q0
      .withColumn("cluster",
        explode(top_centroids(col("q_nvec"), centsLit, nProbe)))
      .withColumn("dtable", pq_dtable(col("q_nvec"), booksLit))
      .withColumn("coff",
        dot_product(col("q_nvec"), element_at(centsLit, col("cluster") + 1)))
      .select("query_id", "cluster", "dtable", "coff")
    val cells = probes.select("cluster").distinct().collect()
      .map(_.getInt(0)).toSeq
    val codes = spark.read.parquet(s"$path/codes")
      .where(col("cluster").isin(cells: _*))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("nn_id").asc)
    val shortlist = codes.join(broadcast(probes), "cluster")
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("adc", col("coff") + pq_adc(col("codes"), col("dtable")))
      .withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= math.max(k, refine * k))
      .select("query_id", "nn_id")
    val wSim = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    spark.read.parquet(s"$path/vectors")
      .join(broadcast(shortlist), "nn_id")
      .join(broadcast(q0.select("query_id", "q_vec")), "query_id")
      .withColumn("sim", round_portable(cosine_sim(col("q_vec"), col("vec")), 4))
      .withColumn("rank", row_number().over(wSim))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "nn_id", "sim")
  }

  /** L38c: BULK cross-corpus kNN — k nearest corpus neighbors for
    * EVERY row of a large query set (semantic bulk join: RAG pair
    * mining, cross-corpus linking). Unlike [[ivfTopK]], the query side
    * is NOT broadcast: corpus rows carry their single quantizer cell,
    * queries multi-probe their top-`nProbe` cells, and the two meet in
    * a cluster-keyed equi-join — both sides scale out, shuffle volume
    * is rows×1 (corpus) + rows×nProbe (queries). Size `nClusters` ∝
    * corpus so cells stay constant; per-query ranking is
    * WindowGroupLimit-pushed. Ids live in separate namespaces (no
    * self-exclusion — queries are a different table). */
  def bulkTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
               vecCol: String, k: Int, nClusters: Int = 16, nProbe: Int = 2,
               iters: Int = 2, trainFraction: Double = 0.25): DataFrame = {
    val v = corpus.select(col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("vec"))
    val cents = trainCentroids(v, nClusters, iters, trainFraction)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val indexed = v.withColumn("cluster", nearest_centroid(col("vec"), centsLit))
    val probes = queries
      .select(col(idCol).as("query_id"), as_double_array(col(vecCol)).as("q_vec"))
      .withColumn("cluster", explode(top_centroids(col("q_vec"), centsLit, nProbe)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    indexed.join(probes, "cluster")
      .withColumn("sim", round_portable(cosine_sim(col("q_vec"), col("vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "nn_id", "sim")
  }

  /** L38: approximate kNN GRAPH — every corpus row's k nearest
    * neighbors (the all-pairs analog of top-k search; feeds diversity
    * sampling, hard-negative mining, graph-based dedup). Brute force is
    * O(n²) at any k; here candidates come from shared top-`nAssign`
    * quantizer cells (the SemDeDup blocking), so work is
    * O(n · cellSize · nAssign²) — size `nClusters` ∝ n to hold
    * cellSize constant. Per-id ranking is WindowGroupLimit-pushed
    * (each map task keeps ≤ k candidates per id before the shuffle).
    * Approximate: a true neighbor sharing no cell is missed — recall
    * vs brute force is gated in AnnSpec. */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
               nClusters: Int = 16, iters: Int = 2,
               trainFraction: Double = 0.25, nAssign: Int = 2): DataFrame = {
    val v = df.select(col(idCol).as("nn_id"), as_double_array(col(vecCol)).as("vec"))
    val cents = trainCentroids(v, nClusters, iters, trainFraction)
    knnGraphSearch(v, cents, k, nAssign)
  }

  /** [[knnGraph]] on the integer-quantized training/assignment path
    * (see [[trainCentroidsIntL2]]): multi-assignment cells come from
    * `top_centroids_l2` over quantized vectors, so candidate
    * generation — the approximate part — is engine-replayable and the
    * whole graph carries a hash oracle. Search shape unchanged:
    * cell-keyed self-join, exact-cosine rank, WindowGroupLimit top-k. */
  def knnGraphQuantized(df: DataFrame, idCol: String, vecCol: String,
                        k: Int, nClusters: Int = 16, iters: Int = 2,
                        trainFraction: Double = 0.25,
                        nAssign: Int = 2): DataFrame = {
    val v = df.select(col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("vec"), quantized(col(vecCol)).as("vq"))
    val cents = trainCentroidsIntL2(v, nClusters, iters, trainFraction)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val indexed = v
      .withColumn("cluster", explode(top_centroids_l2(col("vq"), centsLit, nAssign)))
      .select("cluster", "nn_id", "vec")
    val cand = indexed.as("a").join(indexed.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.nn_id") =!= col("b.nn_id"))
      .select(col("a.nn_id").as("id"), col("b.nn_id").as("nb"),
        round_portable(cosine_sim(col("a.vec"), col("b.vec")), 6).as("cos"))
      .distinct()
    val w = Window.partitionBy("id").orderBy(col("cos").desc, col("nb").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("id"), col("rk").cast("long").as("rk"), col("nb"), col("cos"))
  }

  /** [[bulkTopK]] on the integer-quantized path — cluster-keyed
    * equi-join (neither side broadcasts), hash-oracle-able. */
  def bulkTopKQuantized(queries: DataFrame, corpus: DataFrame, idCol: String,
                        vecCol: String, k: Int, nClusters: Int = 16,
                        nProbe: Int = 2, iters: Int = 2,
                        trainFraction: Double = 0.25): DataFrame = {
    val v = corpus.select(col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("vec"), quantized(col(vecCol)).as("vq"))
    val cents = trainCentroidsIntL2(v, nClusters, iters, trainFraction)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val indexed = v.withColumn("cluster", nearest_centroid_l2(col("vq"), centsLit))
    val probes = queries
      .select(col(idCol).as("query_id"), as_double_array(col(vecCol)).as("q_vec"),
        quantized(col(vecCol)).as("q_vq"))
      .withColumn("cluster", explode(top_centroids_l2(col("q_vq"), centsLit, nProbe)))
      .select("cluster", "query_id", "q_vec")
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("nn_id").asc)
    indexed.join(probes, "cluster")
      .withColumn("sim", round_portable(cosine_sim(col("q_vec"), col("vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "nn_id", "sim")
  }

  private def knnGraphSearch(v: DataFrame, cents: Array[Array[Double]],
                             k: Int, nAssign: Int): DataFrame = {
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val indexed = v.withColumn("cluster",
      explode(top_centroids(col("vec"), centsLit, nAssign)))
    val cand = indexed.as("a").join(indexed.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.nn_id") =!= col("b.nn_id"))
      .select(col("a.nn_id").as("id"), col("b.nn_id").as("nb"),
        round_portable(cosine_sim(col("a.vec"), col("b.vec")), 6).as("cos"))
      .distinct()
    val w = Window.partitionBy("id").orderBy(col("cos").desc, col("nb").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("id"), col("rk").cast("long").as("rk"), col("nb"), col("cos"))
  }

  /** Measured recall curve for [[knnGraph]]'s multi-assignment depth —
    * the SYMMETRIC analog of [[probeRecallCurve]]. A true neighbor pair
    * (q, nb) is generated at depth a iff their top-a cell sets
    * intersect, and the minimal such a is computable from the two FULL
    * centroid orderings alone: min over ordering position i of
    * max(i, position of q's i-th cell in nb's ordering). One exact
    * top-k pass over a hash-held-out sample + an O(C²) array expression
    * per truth row (S·k rows total) yields recall@a for every a at
    * once. Returns a C-entry curve (index a-1 = recall at nAssign = a;
    * last entry 1.0 — full assignment shares every cell).
    */
  def assignRecallCurve(df: DataFrame, idCol: String, vecCol: String,
                        k: Int, cents: Array[Array[Double]],
                        sampleSize: Int = 64): Array[Double] = {
    val nC = cents.length
    def centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val v = df.select(col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("vec"))
    val sampleQ = v.orderBy(xxhash64(col("nn_id")), col("nn_id"))
      .limit(sampleSize)
      .select(col("nn_id").as("query_id"), col("vec").as("q_vec"))
    val truth = cosineTopK(v.select(col("nn_id"), col("vec").as("nn_vec")),
      sampleQ, k, excludeSameId = true)
    val orderOf = v.select(col("nn_id"),
      top_centroids(col("vec"), centsLit, nC).as("nb_order"))
    // min_i max(i, pos_nb(q_order[i])): both arrays are permutations of
    // the same C cells, so array_position never misses
    val minDepth = aggregate(
      transform(sequence(lit(1), lit(nC)),
        i => greatest(i.cast("long"),
          array_position(col("nb_order"), element_at(col("q_order"), i)))),
      lit(nC.toLong), (acc, x) => least(acc, x))
    val hist = truth.join(orderOf, "nn_id")
      .join(broadcast(sampleQ.select(col("query_id"),
        top_centroids(col("q_vec"), centsLit, nC).as("q_order"))), "query_id")
      .select(minDepth.as("min_depth"))
      .groupBy("min_depth").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = math.max(1L, hist.values.sum).toDouble
    (1 to nC).map { a =>
      (1 to a).map(d => hist.getOrElse(d.toLong, 0L)).sum / total
    }.toArray
  }

  /** Smallest nAssign whose measured sample recall clears the floor
    * (falls back to assigning every cell if none does). */
  def tuneNAssign(df: DataFrame, idCol: String, vecCol: String, k: Int,
                  cents: Array[Array[Double]], recallFloor: Double = 0.9,
                  sampleSize: Int = 64): Int =
    assignRecallCurve(df, idCol, vecCol, k, cents, sampleSize)
      .indexWhere(_ >= recallFloor) match {
      case -1 => cents.length
      case i  => i + 1
    }

  /** [[knnGraph]] with the assignment depth chosen from a measured
    * recall floor — closes the last hand-picked constant in the ANN
    * stack (L3b tunes minhash banding, [[tuneNProbe]] the IVF probe,
    * this the graph multi-assignment). */
  def knnGraphAuto(df: DataFrame, idCol: String, vecCol: String, k: Int,
                   nClusters: Int = 16, iters: Int = 2,
                   trainFraction: Double = 0.25, recallFloor: Double = 0.9,
                   sampleSize: Int = 64): DataFrame = {
    val v = df.select(col(idCol).as("nn_id"), as_double_array(col(vecCol)).as("vec"))
    val cents = trainCentroids(v, nClusters, iters, trainFraction)
    val nAssign = tuneNAssign(df, idCol, vecCol, k, cents, recallFloor, sampleSize)
    knnGraphSearch(v, cents, k, nAssign)
  }

  /** L49: hard-negative mining for contrastive training (the
    * retrieval-training data-prep step of DPR/SimCSE-style pipelines):
    * for each anchor, the k MOST-similar corpus rows carrying a
    * DIFFERENT label — the near-miss negatives that actually move a
    * contrastive loss, where random negatives are trivially separable.
    * Exact cosine over the broadcast anchor set with the label
    * exclusion applied before ranking; per-anchor top-k window
    * (WindowGroupLimit-pushed). For corpus-sized anchor sets, swap
    * the broadcast for [[bulkTopK]]'s cluster-keyed equi-join and keep
    * the same exclusion predicate. Returns
    * (query_id, rank, neg_id, neg_label, sim). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neg_id"),
      col(labelCol).as("neg_label"),
      as_double_array(col(vecCol)).as("nn_vec"))
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("q_label"),
      as_double_array(col(vecCol)).as("q_vec"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neg_id").asc)
    Scale.fan(c).crossJoin(broadcast(q)) // fan: see cosineTopK
      .filter(col("neg_label") =!= col("q_label"))
      .withColumn("sim", round_portable(cosine_sim(col("q_vec"), col("nn_vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neg_id", "neg_label", "sim")
  }

  /** L43: kNN classification — label each query vector by MAJORITY
    * VOTE of its k nearest labeled neighbors (exact cosine; vote ties
    * break (votes desc, label asc), so the prediction is deterministic
    * at any parallelism). The label-spreading primitive of a curation
    * pipeline: propagate a small set of human/classifier labels
    * (quality tiers, domains, topics) onto unlabeled corpus slices.
    * Returns (query_id, pred_label, n_votes).
    *
    * Scale shape: the query set rides [[bruteForceTopK]]'s broadcast
    * contract (bounded holdout); only queries×k narrow rows reach the
    * label join and the vote. To classify a corpus-sized query side,
    * swap the search for [[bulkTopK]]'s cluster-keyed equi-join and
    * keep the identical vote tail. */
  def knnClassify(labeled: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int): DataFrame = {
    val nn = bruteForceTopK(labeled, queries, idCol, vecCol, k)
    val lbl = labeled.select(col(idCol).as("nn_id"), col(labelCol).as("nn_label"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("n_votes").desc, col("nn_label").asc)
    nn.join(lbl, "nn_id")
      .groupBy("query_id", "nn_label")
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("nn_label").as("pred_label"), col("n_votes"))
  }

  /** L53: margin-based bitext mining (Artetxe & Schwenk, ACL 2019 —
    * the LASER/CCMatrix criterion): mine aligned cross-corpus pairs
    * (translation candidates, parallel data, duplicate articles across
    * snapshots) by RATIO margin rather than raw cosine — a "hub"
    * vector is near everything, so absolute similarity over-mines it;
    * the margin normalizes each candidate by the mean similarity of
    * BOTH endpoints' k-neighborhoods and keeps only pairs that stand
    * out of their local density:
    *
    *   margin(x,y) = cos(x,y) / ((avgF(x) + avgB(y)) / 2)
    *               = cos(x,y) · (kF + kB) / (sumF(x) + sumB(y))
    *
    * computed entirely in integers from the 1e4-quantized sims (the
    * quantum cancels in the ratio; µ-unit floor-div through
    * decimal(38,0)) — no double division, so the mining decision is
    * engine-exact and carries a hash oracle. Candidates whose
    * neighborhood sums are ≤ 0 (possible only on adversarial
    * anti-correlated data) have no meaningful margin and are dropped.
    *
    * Output: each source's single BEST candidate (per-source argmax,
    * the paper's mining rule) with margin_q ≥ `minMarginQ` µ-units —
    * (src_id, tgt_id, sim, margin_q).
    *
    * Scale shape: the two directional top-k frames are k-bounded
    * (|A|·k + |B|·k narrow rows); neighborhood sums are map-side-
    * combined groupBys on those frames, and the scoring joins are
    * id-keyed equi-joins — nothing quadratic survives past the search.
    * `exact = true` (default) ranks via the broadcast brute-force core
    * (right when either side fits a broadcast, and for the oracle
    * twin); at corpus×corpus scale pass false to route both directions
    * through [[bulkTopK]]'s cluster-keyed equi-join — neither side
    * broadcasts, margins then score the approximate candidate set. */
  def marginPairs(a: DataFrame, b: DataFrame, idCol: String,
                  vecCol: String, k: Int = 4,
                  minMarginQ: Long = 1000000L,
                  exact: Boolean = true,
                  nClusters: Int = 16, nProbe: Int = 2): DataFrame = {
    val av = a.select(col(idCol).as("id"), as_double_array(col(vecCol)).as("v"))
    val bv = b.select(col(idCol).as("id"), as_double_array(col(vecCol)).as("v"))
    def topk(qs: DataFrame, cs: DataFrame): DataFrame =
      if (exact) cosineTopK(
        cs.select(col("id").as("nn_id"), col("v").as("nn_vec")),
        qs.select(col("id").as("query_id"), col("v").as("q_vec")),
        k, excludeSameId = false)
      else bulkTopK(qs, cs, "id", "v", k, nClusters, nProbe)
    val simQ = floor(col("sim") * 10000 + 0.5).cast("long")
    val fwd = topk(av, bv) // candidates: every x∈A's k nearest in B
    val bwd = topk(bv, av) // backward neighborhoods for margin only
    val sumF = fwd.groupBy(col("query_id").as("__fid"))
      .agg(sum(simQ).as("sum_f"), count(lit(1)).as("k_f"))
    val sumB = bwd.groupBy(col("query_id").as("__bid"))
      .agg(sum(simQ).as("sum_b"), count(lit(1)).as("k_b"))
    val wBest = Window.partitionBy("query_id")
      .orderBy(col("margin_q").desc, col("nn_id").asc)
    fwd
      .join(sumF, col("query_id") === col("__fid"))
      .join(sumB, col("nn_id") === col("__bid"))
      // sim > 0 keeps the µ-div numerator positive (integral div
      // truncates in Spark but floors in DuckDB — they only agree on
      // non-negatives) and is the semantics anyway: an aligned pair
      // has high positive cosine, anti-correlated candidates are noise
      .filter(col("sum_f") + col("sum_b") > 0 && col("sim") > 0)
      .withColumn("margin_q", expr(
        "CAST(CAST(floor(sim * 10000 + 0.5) AS DECIMAL(38,0)) * (k_f + k_b)" +
          " * 1000000 div (sum_f + sum_b) AS BIGINT)"))
      .withColumn("__best", row_number().over(wBest))
      .filter(col("__best") === 1 && col("margin_q") >= minMarginQ)
      .select(col("query_id").as("src_id"), col("nn_id").as("tgt_id"),
        col("sim"), col("margin_q"))
  }
}
