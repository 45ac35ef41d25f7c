package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** L45: link-graph centrality — weighted PageRank, the link-based
  * source-quality signal of web-corpus curation (Common Crawl ranks
  * hosts by centrality over the hyperlink graph; quality-weighted
  * crawl frontiers and per-domain sampling budgets start from the same
  * score). Given a directed weighted edge list, ranks every node by
  * the stationary-ish mass after `iters` damped power-iteration
  * rounds.
  *
  * INTEGER-EXACT by construction, like the rest of the surface
  * (`Train.logisticGd`, the bigram LM): ranks live in fixed-point
  * `scale` units (longs), each edge ships
  * `floor(rank(src) * w / outw(src))` (the product widened through
  * decimal(38,0) so a hot page's rank times a heavy edge weight cannot
  * overflow), and the damping update is
  * `base + floor(dampNum * in / dampDen)` with
  * `base = floor(scale * (dampDen - dampNum) / (dampDen * n))`. Every
  * step is a floor of a product/ratio of non-negative integers plus an
  * order-insensitive integer sum, so the result is bit-identical on
  * any engine, any partitioning, any summation order — which is what
  * lets an iterative graph algorithm carry a DuckDB hash oracle
  * (`CurationQueries.linkRankSql` unrolls the rounds into chained
  * CTEs, the same trick as the classifier trainer).
  *
  * Dangling nodes (no out-edges) leak their mass — the "sink loss"
  * PageRank variant — rather than teleporting it; both sides of the
  * oracle replay the same rule. Parallel edges are pre-summed into one
  * weight so edge-list multiplicity cannot change the fixpoint (a
  * caller whose graph construction already ends in a groupBy(src, dst)
  * asserts `assumeSummed` and skips the redundant shuffle).
  *
  * Shape at scale: the edge list is the big table and it never
  * re-materializes — `(src, dst, w, outw)` is checkpointed once and
  * each round is ONE equi-join of the n-row rank frame against it plus
  * ONE groupBy(dst) integer sum (map-side partial — a page with 10⁸
  * in-links is absorbed by partial aggregation, never a single
  * reducer's row list). Rank frames are `localCheckpoint`ed per round
  * so the plan stays constant-size over any iteration count (the
  * `Dedup.clusters` discipline). No driver-side state beyond the two
  * scalars n and base.
  */
object LinkRank {

  /** Rank every node of the (pre-summed) weighted digraph. Returns
    * `(node: string, rank_micro: long)` — fixed-point ranks in
    * `scale` units, NOT normalized (floor losses and sink leakage make
    * the column sum slightly under `scale`; relative order is the
    * signal). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, iters: Int = 5,
               dampNum: Long = 85L, dampDen: Long = 100L,
               scale: Long = 1000000000000L,
               assumeSummed: Boolean = false): DataFrame =
    ranked(edges, srcCol, dstCol, weightCol, None, iters,
      dampNum, dampDen, scale, assumeSummed)

  /** L45b: TrustRank (Gyöngyi et al., "Combating Web Spam with
    * TrustRank") — PageRank whose teleport mass lands ONLY on a
    * trusted seed set, so rank measures proximity to vetted sources:
    * the seed-propagated quality score used to damp spam domains and
    * boost crawl/sampling budgets near curated allowlists. Seeds not
    * present in the graph are ignored (teleport renormalizes over the
    * seeds that exist); same integer-exact arithmetic, broadcast
    * regime, and sink-loss rule as [[pageRank]], which is exactly
    * TrustRank with every node a seed. */
  def trustRank(edges: DataFrame, srcCol: String, dstCol: String,
                weightCol: String, seeds: DataFrame, seedCol: String,
                iters: Int = 5,
                dampNum: Long = 85L, dampDen: Long = 100L,
                scale: Long = 1000000000000L,
                assumeSummed: Boolean = false): DataFrame =
    ranked(edges, srcCol, dstCol, weightCol, Some((seeds, seedCol)), iters,
      dampNum, dampDen, scale, assumeSummed)

  /** L89: HITS hubs & authorities (Kleinberg, "Authoritative Sources
    * in a Hyperlinked Environment", JACM 1999) — the second classic
    * link-quality signal, orthogonal to [[pageRank]]: a HUB is a page
    * whose out-links concentrate on good authorities (curated link
    * lists, survey pages), an AUTHORITY is a page good hubs point at.
    * Corpus curation uses the pair to find seed lists (high-hub) and
    * canonical sources (high-authority) that raw centrality conflates.
    *
    * Same integer-exact discipline as [[pageRank]] so the iterative
    * algorithm carries a DuckDB hash oracle (unrolled CTEs): scores in
    * fixed-point `scale` units; each round computes
    * `authRaw(i) = Σ_{j→i} hub(j)·w` then L1-renormalizes to
    * `auth(i) = floor(authRaw(i) · scale / Σ authRaw)` (products
    * widened through decimal(38,0) — hub ≤ scale=10¹², edge sums
    * bounded well inside 38 digits), then the mirror-image hub
    * update off the fresh authorities. Floors of non-negative integer
    * ratios plus order-insensitive integer sums: bit-identical on any
    * engine/partitioning.
    *
    * Shape at scale: the (pre-summed) edge list materializes once and
    * each round is TWO n-row-frame joins against it plus two partial-
    * agg integer sums; the L1 normalizer is a 1-row aggregate
    * collected per half-round (2·iters driver scalars — the price of
    * normalized HITS; PageRank's damping avoids it, HITS's spectral
    * form requires it). Score frames localCheckpoint per round
    * (constant plan size; see the cluster caveat in SURVEY §4).
    *
    * Returns (node, hub_micro, auth_micro) for EVERY node (0 where a
    * node has no out-/in-edges). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           weightCol: String, iters: Int = 4,
           scale: Long = 1000000000000L,
           assumeSummed: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 64, s"need 1 <= iters <= 64, got $iters")
    require(scale >= 1000000L, s"scale too coarse for stable scores: $scale")
    val raw = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"),
        col(weightCol).cast("long").as("w"))
    // max(w) rides the edge pin and gates the same narrow-arithmetic
    // fast path as [[ranked]] (r17): scores are renormalized to
    // ≤ scale every half-round, so the per-edge product score·w runs
    // in LONG when scale·max(w) fits — value-identical to the
    // decimal(38,0) product (exact integers either way); only the
    // cross-edge SUM stays decimal, because in-degree × scale·w is
    // not mass-bounded before renormalization.
    val (e, ev) = graft.operators.Lineage.pinAgg(
      if (assumeSummed) raw
      else raw.groupBy("src", "dst").agg(sum("w").as("w")),
      ("__wmax", max("w")), ("__wmin", min("w")))
    val wMax = weightBound(ev, "hits")
    val longSafe = BigInt(scale) * wMax <= BigInt(Long.MaxValue)
    val prodExpr =
      if (longSafe) "v * w" else "CAST(v AS DECIMAL(38,0)) * w"
    val nodes = graft.operators.Lineage.pin(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct())
    // L1-renormalize a raw (node, v) frame to sum exactly ~scale.
    // Pin the RAW frame first, THEN read its total off the pinned
    // blocks: summing the lazy frame and then checkpointing it would
    // execute the edge join twice per half-round (measured 6.7 s vs
    // 3.4 s for 3 rounds at sf0.1). The renormed projection itself
    // stays lazy — it is n-row work riding the next round's join.
    // (r16: a broadcast-1-row-aggregate formulation of this total —
    // no driver head() per half-round — measured consistently WORSE,
    // 2.8 -> ~4 s: every reference to the renormed frame re-executes
    // the agg+crossJoin, and the extra broadcast exchanges cost more
    // than the driver sync they replaced. The head() stays.)
    def renorm(rawScores: DataFrame): DataFrame = {
      // r17: the L1 total rides the pin's own action (Lineage.pinAgg)
      // — the separate per-half-round aggregate job is gone, while
      // the pin-then-read-total structure (measured optimal in r16
      // against the no-sync broadcast form) is unchanged.
      val (pinned, tv) = graft.operators.Lineage.pinAgg(rawScores,
        ("__t", sum(col("v").cast("decimal(38,0)"))))
      val d = tv("__t").asInstanceOf[java.math.BigDecimal]
      require(d != null && d.signum() > 0,
        "hits: a round produced zero total mass (all edge weights 0?)")
      val total = d.toBigInteger.toString
      pinned.select(col("node"),
        expr(s"CAST(v AS DECIMAL(38,0)) * ${scale}L div " +
          s"CAST('$total' AS DECIMAL(38,0))").as("v"))
    }
    var hub = nodes.select(col("node"), lit(scale).as("v"))
    var auth = nodes.select(col("node"), lit(0L).as("v"))
    for (_ <- 1 to iters) {
      val ar = e.join(hub, col("src") === hub("node"))
        .select(col("dst"), expr(prodExpr).as("c"))
        .groupBy("dst")
        .agg(sum(col("c").cast("decimal(38,0)")).cast("decimal(38,0)").as("v"))
        .select(col("dst").as("node"), col("v"))
      auth = renorm(ar)
      val hr = e.join(auth, col("dst") === auth("node"))
        .select(col("src"), expr(prodExpr).as("c"))
        .groupBy("src")
        .agg(sum(col("c").cast("decimal(38,0)")).cast("decimal(38,0)").as("v"))
        .select(col("src").as("node"), col("v"))
      hub = renorm(hr)
    }
    nodes
      .join(hub.withColumnRenamed("v", "hub_micro"), Seq("node"), "left")
      .join(auth.withColumnRenamed("v", "auth_micro"), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub_micro"), lit(0L)).cast("long").as("hub_micro"),
        coalesce(col("auth_micro"), lit(0L)).cast("long").as("auth_micro"))
  }

  /** max(w) of the pinned edge list, after the two conditions every
    * rank path (long or decimal) relies on: at least one weighted edge,
    * and no negative weight (mass conservation — rank ≤ scale, which
    * also bounds the long path's products — assumes w ≥ 0). */
  private def weightBound(ev: Map[String, Any], op: String): Long = {
    require(ev("__wmax") != null,
      s"$op on an empty edge list (no edge with a non-null weight)")
    require(ev("__wmin").asInstanceOf[Long] >= 0,
      s"$op needs non-negative edge weights, got min ${ev("__wmin")}")
    ev("__wmax").asInstanceOf[Long]
  }

  private def ranked(edges: DataFrame, srcCol: String, dstCol: String,
                     weightCol: String, seeds: Option[(DataFrame, String)],
                     iters: Int, dampNum: Long, dampDen: Long,
                     scale: Long, assumeSummed: Boolean): DataFrame = {
    require(iters >= 1 && iters <= 64, s"need 1 <= iters <= 64, got $iters")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping must satisfy 0 <= dampNum <= dampDen, got $dampNum/$dampDen")
    require(scale >= 1000000L, s"scale too coarse for stable ranks: $scale")
    val raw = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"),
        col(weightCol).cast("long").as("w"))
    // `assumeSummed` lets a caller whose graph construction already
    // ends in a groupBy(src, dst) skip a redundant full re-shuffle of
    // the edge list; the fixpoint is identical either way.
    // the edge list is the reused big table: materialize it ONCE (the
    // upstream graph construction — at web scale a multi-TB join —
    // must not replay under nodes/outw/every round's lineage). It is
    // the only edge-sized materialization in the operator. max(w)
    // rides the pin action and gates the narrow-arithmetic fast path
    // below (r17).
    val (e, ev) = graft.operators.Lineage.pinAgg(
      if (assumeSummed) raw
      else raw.groupBy("src", "dst").agg(sum("w").as("w")),
      ("__wmax", max("w")), ("__wmin", min("w")))
    val wMax = weightBound(ev, "pageRank")
    // r17 (§1.2 per-task work): the per-edge contribution
    // floor(rank·w/outw) ran as DECIMAL(38,0) multiply+divide — a
    // BigDecimal op per edge per round that dominated task time
    // (q_link_rank: ~16 s of task time at sf0.1, nearly all here).
    // rank ≤ scale by mass conservation (sink loss only shrinks it),
    // so when scale·max(w) fits a long the same floor-division runs in
    // LONG arithmetic — truncating non-negative integer division is
    // value-identical, only representation changes; the inflow sum is
    // bounded by total mass ≤ scale, so it stays long too. Graphs with
    // weights past the bound keep the widened decimal path.
    val longSafe =
      BigInt(scale) * wMax <= BigInt(Long.MaxValue) &&
      BigInt(dampNum) * BigInt(scale) <= BigInt(Long.MaxValue)
    val contribExpr =
      if (longSafe) "rank * w div outw"
      else "CAST(rank AS DECIMAL(38,0)) * w div outw"
    val allNodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    // `seed` rides the checkpointed node frame: 1 = receives teleport
    // mass (every node for PageRank, the trusted set for TrustRank).
    // both setup scalars ride the node-table pin (Lineage.pinAgg,
    // r17 — was one aggregate action, before that two)
    val (nodes, nv) = graft.operators.Lineage.pinAgg(
      seeds match {
        case None => allNodes.withColumn("seed", lit(1))
        case Some((sdf, scol)) =>
          val s = sdf.select(col(scol).cast("string").as("node"))
            .distinct().withColumn("seed", lit(1))
          allNodes.join(s, Seq("node"), "left")
            .select(col("node"), coalesce(col("seed"), lit(0)).as("seed"))
      },
      ("__n", count(lit(1))), ("__ns", sum("seed")))
    val n = nv("__n").asInstanceOf[Long]
    val nTeleport = if (seeds.isEmpty) n else nv("__ns").asInstanceOf[Long]
    require(nTeleport > 0, "no seed node present in the graph")
    // out-weights attach ONCE, in a pinned (src, dst, w, outw) copy
    // of the edge list; the pinned ranks carry exact stats, so while
    // they fit the broadcast threshold each round is one map-side pass
    // over that copy plus one narrow partial-agg shuffle, and past it
    // Spark plans the round's join as a shuffle join on src
    val ew = graft.operators.Lineage.pin(
      e.join(e.groupBy("src").agg(sum("w").as("outw")), "src"))
    val base = (scale * (dampDen - dampNum)) / (dampDen * nTeleport)
    var r = nodes.select(col("node"),
      when(col("seed") === 1, lit(scale / nTeleport)).otherwise(lit(0L))
        .as("rank"))
    for (_ <- 1 to iters) {
      // each node's inflow and its seed flag meet in ONE aggregation:
      // the node rows ride a union branch (null c), so nodes without
      // in-edges keep their row and no join back onto nodes is needed
      r = ew.join(r, col("src") === r("node"))
        .select(col("dst").as("node"), expr(contribExpr).as("c"))
        .unionByName(nodes, allowMissingColumns = true)
        .groupBy("node").agg(sum("c").as("inm"), max("seed").as("seed"))
        .select(col("node"),
          (when(col("seed") === 1, lit(base)).otherwise(lit(0L)) +
            expr(s"${dampNum}L * coalesce(inm, 0L) div ${dampDen}L"))
            .as("rank"))
        .transform(graft.operators.Lineage.pin)
    }
    r.select(col("node"), col("rank").as("rank_micro"))
  }
}
