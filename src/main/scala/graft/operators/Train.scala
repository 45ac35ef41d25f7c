package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** L52: distributed classifier TRAINING (SURVEY.md §2) — full-batch
  * gradient descent for a logistic-shaped linear model over hashed
  * features, where every round is ONE aggregation pass and the model
  * stays a driver-bounded broadcast artifact (dims+1 integer weights
  * incl. bias). The training-side complement of the closed-form
  * discriminant (L36) and the inference pass (q_classifier_margin).
  *
  * Determinism contract (the reason this trainer can be ORACLED, which
  * iterative ML training normally can't): the model lives in integer
  * micro-units (2^-20), per-row gradients are floor-quantized to
  * integers BEFORE the sum (order-insensitive — partitioning and
  * engine invariant), the squashing function is the RATIONAL fast
  * sigmoid σ(m) = 0.5 + m/(2(1+|m|)) (no libm exp/log — IEEE-exact
  * division only, same bits in every engine), and the weight update is
  * floor(lrNum·S / (lrDen·n)). Every round's weights are therefore a
  * pure integer function of the corpus.
  *
  * Scale shape: per round one scan + one `vector_sum` aggregate
  * (map-side partials, a dims-length array through the shuffle);
  * the corpus never shuffles against the model. Rounds are a driver
  * loop over broadcast weights — R × one job, like Dedup.clusters.
  */
object Train {

  /** Overflow guards: |g| ≤ 2^20 per row, so |S_b| ≤ 2^20 · Σ|x_b| must
    * stay under 2^53 for the exact-double vector aggregate; margins
    * Σ x_b·w_b must stay in the same bound. Holds for bow-scale counts
    * (x ≤ thousands) and corpus rows ≤ ~10^9 per aggregate; beyond
    * that, shrink the quantization scale. */
  private val Scale = 1048576.0 // 2^20

  /** Train integer micro-weights (bias at index `dims`) on
    * (vecCol: numeric array of length `dims`, labelCol: 0/1).
    * Returns the weight vector after `rounds` full-batch updates. */
  def logisticGd(feats: DataFrame, vecCol: String, labelCol: String,
                 dims: Int, rounds: Int, lrNum: Long = 1L,
                 lrDen: Long = 1L): Array[Long] = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    require(lrNum >= 1 && lrDen >= 1, s"need a positive rational lr")
    // bias column appended once; materialized so R rounds scan the
    // featurized frame, not the upstream plan
    val x = feats.select(
        concat(as_double_array(col(vecCol)), array(lit(1.0))).as("x"),
        col(labelCol).cast("double").as("y"))
      .transform(graft.operators.Lineage.pin)
    val w = Array.fill(dims + 1)(0L)
    var r = 0
    while (r < rounds) {
      val wLit = typedLit(w.map(_.toDouble).toSeq)
      // m in natural units; the double chain below is replayed
      // verbatim by the oracle — keep the op order in LOCKSTEP
      val m = dot_product(col("x"), wLit) / lit(Scale)
      val sig = lit(0.5) + m / (lit(2.0) * (lit(1.0) + abs(m)))
      val g = floor((col("y") - sig) * lit(Scale))
      val row = x.agg(
          vector_sum(transform(col("x"), e => e * g)).as("s"),
          count(lit(1)).as("n"))
        .head()
      val s = row.getSeq[Double](0)
      val n = row.getLong(1)
      var b = 0
      while (b <= dims) {
        // exact: lrNum·S and lrDen·n are integers < 2^53; floor of the
        // same double division the oracle runs
        w(b) += math.floor(lrNum * s(b) / (lrDen * n.toDouble)).toLong
        b += 1
      }
      r += 1
    }
    w
  }

  /** Margin of the trained model in micro-units (integer): the
    * inference pass for [[logisticGd]] weights. Predict positive when
    * the margin is > 0 (σ > 0.5). */
  def marginMicro(vec: Column, w: Array[Long]): Column =
    dot_product(concat(as_double_array(vec), array(lit(1.0))),
      typedLit(w.map(_.toDouble).toSeq)).cast("long")

  /** L63f (r11, renamed from the duplicate id L65 in r15): distributed skip-gram-with-negative-sampling
    * embedding TRAINING (word2vec SGNS, Mikolov et al. '13) — the
    * model is NODE-COUNT-sized ((node, dim) rows), so unlike
    * [[logisticGd]] the weights never collect: each full-batch round
    * is a pair of distributed joins + per-(node, dim) gradient sums,
    * applied in place. Same determinism contract as the classifier
    * trainer (integer 2^10-unit vectors, rational fast sigmoid,
    * floor-quantized per-example gradients summed order-insensitively,
    * floor damping), so the trained EMBEDDING TABLE itself carries a
    * hash oracle — full-batch (synchronous) SGD is what makes an
    * iterative embedding trainer engine-replayable at all.
    *
    * Init is hash-seeded (rolling_hash(node|d) mod 513 − 256): no RNG
    * state, reproducible at any partitioning.
    *
    * Scale shape per round: two joins of the E example rows against
    * the embedding table (one (node, vs: array[dims]) row per node),
    * then ONE groupBy(node) that sums both sides' gradient vectors and
    * folds in the model rows as a union branch, so the update needs no
    * join back onto the model. Rounds localCheckpoint so the plan
    * stays bounded (the k-means/label-spread discipline). */
  def skipgramSgd(examples: DataFrame, centerCol: String, otherCol: String,
                  yCol: String, dims: Int, rounds: Int,
                  dampDen: Long = 65536L): DataFrame = {
    require(dims >= 1 && rounds >= 1 && dampDen >= 1, "bad trainer params")
    val ex = examples.select(col(centerCol).as("center"),
        col(otherCol).as("x"), col(yCol).cast("double").as("y"))
      .distinct().transform(graft.operators.Lineage.pin)
    val nodes = ex.select(col("center").as("node"))
      .unionByName(ex.select(col("x").as("node"))).distinct()
      .transform(graft.operators.Lineage.pin)
    // r16 shape rewrite, value-identical by integer re-association:
    // the model rides as ONE (node, vs: array[dims]) row instead of
    // dims (node, d, v) rows, so each round joins E example rows (not
    // E·dims), the per-example dot is a zip_with/aggregate over longs
    // (the same dims products and the same long sum the old
    // groupBy(center,x,y) computed), and the gradient step reuses the
    // forward pass's arrays instead of re-joining the model — two
    // model joins per round instead of four and one groupBy(node)
    // instead of groupBy over E·dims rows. Overflow contract (same
    // role as logisticGd's): |g·v| ≤ 2^10·|v|max per element and the
    // per-node contribution sum must stay < 2^53 for the exact-double
    // vector aggregate — bow-scale corpora sit orders of magnitude
    // inside it.
    var emb = nodes.select(col("node"),
        transform(sequence(lit(0L), lit(dims - 1L)),
          d => pmod(rolling_hash(concat_ws("|", col("node"), d)),
            lit(513L)) - lit(256L)).as("vs"))
      .transform(graft.operators.Lineage.pin)
    for (_ <- 1 to rounds) {
      val ec = emb.select(col("node").as("cn"), col("vs").as("cvs"))
      val exv = emb.select(col("node").as("xn"), col("vs").as("xvs"))
      // dot in 2^20-unit integers (each side 2^10); the natural-unit
      // double chain below is replayed VERBATIM by the oracle
      val g = ex
        .join(ec, col("center") === col("cn"))
        .join(exv, col("x") === col("xn"))
        .withColumn("m_int", aggregate(
          zip_with(col("cvs"), col("xvs"), (a, b) => a * b),
          lit(0L), (acc, e) => acc + e))
        .withColumn("mnat", col("m_int") / lit(1048576.0))
        .withColumn("sig", lit(0.5) +
          col("mnat") / (lit(2.0) * (lit(1.0) + abs(col("mnat")))))
        .select(col("center"), col("x"), col("cvs"), col("xvs"),
          floor((col("y") - col("sig")) * 1024).cast("long").as("g"))
      // NOT pinned: both gradient branches re-run the forward pass,
      // but it is two broadcast map-side joins over the pinned ex —
      // strictly cheaper than materializing E rows × two dims-arrays
      // per round (the old E·dims SMJ plan did need the pin)
      // one gradient aggregation for BOTH sides: the update only ever
      // uses gs_c + gs_x, and integer sums re-associate freely, so
      // summing the unioned per-side contributions is value-identical
      // to the two separate aggregates the oracle replays. The model
      // rows ride the same aggregation as a union branch (one non-null
      // vs per node), so the update needs no join back onto the model.
      emb = g.select(explode(array(
          struct(col("center").as("node"),
            transform(col("xvs"), e => (col("g") * e).cast("double"))
              .as("contrib")),
          struct(col("x").as("node"),
            transform(col("cvs"), e => (col("g") * e).cast("double"))
              .as("contrib")))).as("s"))
        .select(col("s.node").as("node"), col("s.contrib").as("contrib"))
        .unionByName(emb, allowMissingColumns = true)
        .groupBy("node")
        .agg(max(col("vs")).as("vs"), vector_sum(col("contrib")).as("gs"))
        .select(col("node"),
          zip_with(col("vs"),
            coalesce(col("gs"), array_repeat(lit(0.0), dims)),
            (v, b) => v + floor(b / lit(dampDen.toDouble)).cast("long"))
            .as("vs"))
        .transform(graft.operators.Lineage.pin)
    }
    // long form (node, d, v) — the operator's output contract
    emb.select(col("node"), posexplode(col("vs")))
      .select(col("node"), col("pos").cast("long").as("d"),
        col("col").as("v"))
  }
}
