package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/** Deduplication operators for training-data pipelines (SURVEY.md §2
  * L1-L5). Scale contract:
  *  - candidate generation never materializes O(n²): banded LSH keys
  *    (minhash/simhash/hyperplane) or salted block joins bound every
  *    shuffle partition;
  *  - candidate pairs travel as NARROW (id1, id2) rows — token sets /
  *    vectors are joined back only after pair-level dedup, so wide
  *    payloads never pass through the exploded join or the distinct;
  *  - verification (exact jaccard / cosine / hamming) runs once per
  *    distinct pair, codegen'd.
  */
object Dedup {

  /** L1: exact dedup by content hash — one shuffle on md5(text),
    * map-side partial agg. Returns (keep_id, n_copies) per distinct
    * content. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Sorted FNV-64 token-id set: set size and intersections are
    * identical to the string set (collisions negligible), but the
    * verify kernel is a codegen'd merge pass instead of generic
    * string-array intersect/union (~100x cheaper per pair). */
  private def tokenIdSet(textCol: String): Column =
    token_id_set(tokenize_ws(col(textCol)))

  private val jacCol: Column =
    round_portable(jaccard_sorted(col("ids1"), col("ids2")), 4)

  /** Join narrow (id1, id2) candidate pairs back to a feature table and
    * keep both sides' features. Two hash-partitioned joins on ids —
    * the only place wide payloads move, once per distinct pair. */
  private def attachFeatures(pairs: DataFrame, features: DataFrame,
                             feat: String): DataFrame =
    pairs
      .join(features.select(col("id").as("id1"), col(feat).as(s"${feat}1")), "id1")
      .join(features.select(col("id").as("id2"), col(feat).as(s"${feat}2")), "id2")

  /** L2: exact set-Jaccard within explicit blocks (e.g. language),
    * over word sets (`shingleN=1`) or word n-gram shingle sets
    * (`shingleN>=2` — the n-gram Jaccard variant: order-sensitive, so
    * reordered text stops matching). Low-cardinality blocks would
    * serialize the self-join, so each block is salted into
    * `parallelBuckets` id-buckets and pairs are generated per
    * bucket-pair cell: parallelism = |blocks| × B(B+1)/2 regardless of
    * block count, result set unchanged. */
  /** L5c: exact-threshold similarity join via PREFIX FILTERING (the
    * AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    * WWW'08): distinct tokens per doc are globally ordered by
    * ascending document frequency (ties by token), and any pair with
    * jaccard ≥ t must share one of each side's first
    * |x| − ⌈t·|x|⌉ + 1 RAREST tokens — so candidates come from a join
    * on prefix tokens only. Two properties the LSH/banding path
    * doesn't have: (1) NO false negatives — exactness is a theorem,
    * not a recall curve; (2) the frequent-token explosion is avoided
    * by construction (prefixes live at the rare end of the Zipf
    * curve, where df is small, so per-token join fan-out is bounded).
    *
    * The threshold is a RATIONAL num/den and every bound is integer
    * arithmetic (⌈n·sz/d⌉ = (n·sz + d − 1) div d; ratio and verify as
    * cross-multiplies), so the prefix-length theorem holds exactly
    * and the whole chain replays bit-for-bit in the SQL oracle — a
    * float ⌈t·sz⌉ could round across the boundary and silently
    * shorten a prefix.
    *
    * Scale: one df aggregate + one per-doc rank window + a prefix
    * self-join whose fan-out is Σ_prefix-tokens df² over rare tokens
    * + one verify count per DISTINCT candidate pair over narrow
    * (id, tok) rows. The size-ratio filter (min ≥ t·max) prunes
    * inside the join. */
  def prefixJaccardPairs(docs0: DataFrame, idCol: String, textCol: String,
                         num: Long, den: Long): DataFrame = {
    require(num > 0 && num <= den, s"threshold num/den must be in (0,1], got $num/$den")
    // input-level lineage guard only (scan-shaped inputs pass through;
    // the INTERNAL ordered table measurably prefers branch rebuild
    // over an eager cut — see the r12 note below)
    val docs = Lineage.pinDerived(docs0)
    val toks = docs.select(col(idCol).as("id"),
      explode(array_distinct(tokenize_ws(col(textCol)))).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val sized = toks.groupBy("id").agg(count(lit(1)).as("sz"))
    val ordered = toks.join(dfreq, "tok").join(sized, "id")
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy("df", "tok")))
    // bucket-salt the prefix join (the jaccardPairs two-sided role
    // scheme): the raw join key is the TOKEN, and on a small-vocab
    // corpus one frequent token's df² candidates land in a single
    // reducer — salting spreads each token over B×(B+1)/2 (bu, bv)
    // cells while still generating every unordered pair exactly once.
    // Salting only redistributes work; the pair SET is unchanged, so
    // the (unsalted) SQL oracle replays the same result.
    // salt width: replication cost grows ~B/2 per prefix row while a
    // hot token spreads over B(B+1)/2 reducer cells — 8 (36 cells)
    // measured 25% faster than 16 (136 cells) at the bench SF where
    // replication dominates; a 1000-executor deployment with extreme
    // token skew raises graft.dedup.saltBuckets to buy more spread
    val B = docs.sparkSession.conf
      .getOption("graft.dedup.saltBuckets").map(_.toInt).getOrElse(8)
    require(B >= 1 && B <= 256, s"graft.dedup.saltBuckets in [1,256], got $B")
    // (measured r12: checkpointing this table for branch reuse LOST
    // ~25% — the rebuild-per-branch pipelines inside the join stages,
    // while an eager cut serializes materialize-then-join)
    val prefix = ordered.filter(
        col("rk") <= col("sz") -
          expr(s"($num * sz + $den - 1) div $den") + 1)
      .withColumn("bkt", pmod(xxhash64(col("id")), lit(B.toLong)).cast("int"))
    val a = prefix.withColumn("bv", explode(sequence(col("bkt"), lit(B - 1))))
      .withColumnRenamed("bkt", "bu").as("a")
    val b = prefix.withColumn("bu", explode(sequence(lit(0), col("bkt"))))
      .withColumnRenamed("bkt", "bv").as("b")
    // positional filter (PPJoin): a match at prefix positions (pa, pb)
    // caps the possible overlap at 1 + min(sz1−pa, sz2−pb); jac ≥ t
    // needs overlap ≥ ⌈t/(1+t)·(sz1+sz2)⌉ — prune occurrences that
    // can't reach it. Exact (a theorem, like the prefix bound) and the
    // big candidate cutter on dense corpora where every token is
    // frequent and the df² fan-out would otherwise dominate.
    // the pair-dedup groupBy (was a distinct()) ALSO aggregates the
    // evidence the pair-level positional filter needs: c = number of
    // shared PREFIX tokens, (pamax, pbmax) = componentwise-max match
    // positions. Both docs' token lists are sorted by the same global
    // (df, tok) order, so positions are order-homomorphic across the
    // pair: any shared token at position <= pamax in one doc sits
    // before the pamax-token's position in the OTHER doc too, hence
    // inside both prefixes, hence already counted in c. Every shared-
    // but-uncounted token therefore lies past BOTH maxima, giving the
    // exact (suffix-side) bound overlap <= c + min(sza−pamax,
    // szb−pbmax) — the match-count form of PPJoin's positional/suffix
    // prune, one more exactness-preserving cut before the verify
    // joins, at zero extra shuffles (the groupBy replaces distinct).
    val cand = a.join(b,
        col("a.tok") === col("b.tok") &&
          col("a.bu") === col("b.bu") && col("a.bv") === col("b.bv") &&
          (col("a.bu") < col("a.bv") || col("a.id") < col("b.id")) &&
          least(col("a.sz"), col("b.sz")) * den >=
            greatest(col("a.sz"), col("b.sz")) * num &&
          expr(s"1 + least(a.sz - a.rk, b.sz - b.rk) >= " +
            s"($num * (a.sz + b.sz) + ${num + den - 1}) div ${num + den}"))
      .select(least(col("a.id"), col("b.id")).as("id1"),
        greatest(col("a.id"), col("b.id")).as("id2"),
        col("a.sz").as("sza"), col("b.sz").as("szb"),
        col("a.rk").as("pa"), col("b.rk").as("pb"))
      .groupBy("id1", "id2")
      .agg(max(col("sza")).as("sza"), max(col("szb")).as("szb"),
        count(lit(1)).as("c"),
        max(col("pa")).as("pamax"), max(col("pb")).as("pbmax"))
      .filter(expr(s"c + least(sza - pamax, szb - pbmax) >= " +
        s"($num * (sza + szb) + ${num + den - 1}) div ${num + den}"))
      .select(col("id1"), col("id2"), (col("sza") + col("szb")).as("szsum"))
    // verify map-side over compact token-ID sets (the jaccardPairs
    // kernel): joining candidate pairs back to exploded token ROWS
    // would shuffle |pairs|·|set| rows (65M at the bench SF); two
    // joins against the doc-count-sized set table + ONE early-abort
    // merge per pair (inter_ge_sorted: stops the moment the required
    // overlap H is unreachable — the suffix filter's bound applied
    // online) shuffle only the pairs. jac >= num/den <=> inter >= H =
    // ceil(num·szsum/(num+den)) (integer cross-multiply), so the
    // kernel's -1 early exits and true sub-H counts filter
    // identically. No broadcast hint — the set table grows with the
    // corpus, so stats/AQE pick (the q_join_multi rule).
    val sets = docs.select(col(idCol).as("id"),
      token_id_set(tokenize_ws(col(textCol))).as("ids"))
    cand
      .join(sets.select(col("id").as("id1"), col("ids").as("ids1")), "id1")
      .join(sets.select(col("id").as("id2"), col("ids").as("ids2")), "id2")
      .withColumn("minh",
        expr(s"($num * szsum + ${num + den - 1}) div ${num + den}"))
      .withColumn("inter",
        inter_ge_sorted(col("ids1"), col("ids2"), col("minh")))
      .filter(col("inter") >= col("minh"))
      .select(col("id1"), col("id2"),
        expr("inter * 1000000 div (szsum - inter)").as("jac_micro"))
  }

  /** L82: CONTAINMENT (asymmetric) near-dup pairs — flag every
    * ordered pair where doc A's token set is ≥ num/den inside doc B's
    * (C(A→B) = |A∩B| / |A|, Broder '97's containment measure). This
    * is the duplication the symmetric Jaccard family is structurally
    * blind to: a paragraph quoted whole inside a long page, a feed
    * item republished inside a digest, a doc re-uploaded with a large
    * appendix — |A∩B|/|A∪B| vanishes as |B| grows while A is still
    * 100% duplicated content.
    *
    * Same exactness discipline as [[prefixJaccardPairs]]: the
    * CONTAINED side joins on its |A| − ⌈t·|A|⌉ + 1 rarest tokens
    * (global (df, tok) order; if |A∩B| ≥ ⌈t·|A|⌉ =: H then some
    * shared token sits in that prefix — the theorem is one-sided, so
    * only A is prefixed), the CONTAINER side exposes ALL its tokens
    * (its overlap bound depends on |A|, which it cannot know — this
    * is the inverted-index probe shape of set-containment joins).
    * In-join exact prunes: |B|·den ≥ num·|A| (overlap ≤ |B|) and the
    * first-shared-occurrence positional bound 1 + |B| − rk_B ≥ H
    * (both lists share the global order, so the first shared token
    * minimizes BOTH ranks). Verify = one early-abort merge per
    * distinct ordered pair over the narrow token-ID-set table.
    * All bounds are integer cross-multiplies of the rational num/den,
    * so the chain replays bit-for-bit in the SQL oracle.
    *
    * Scale: candidates are spread over `B` cells by CONTAINER id
    * hash (the contained side's prefix rows replicate ×B — prefix
    * rows are the rare-token sliver, so the replication is cheap
    * while a hot token's df·df_prefix fan-out splits across B
    * reducers). Near-exact-dup pairs qualify in BOTH directions and
    * emit two rows — direction is information here (who is quotable
    * from whom), not redundancy.
    *
    * `shingleN > 1` runs the join over word n-gram shingles — Broder
    * '97's actual resemblance/containment universe, and the setting
    * that matters on dense small-vocabulary corpora: with a 31-word
    * vocabulary (this testbed at any SF) nearly every WORD set is
    * ≥90% inside some longer doc by chance (measured 2.7 M set-level
    * pairs at sf0.1) while 3-shingle containment keeps only genuine
    * shared-passage inclusions (505 pairs) AND restores the prefix
    * filter's selectivity (shingle df is small where word df is not).
    * Docs with zero tokens are excluded on both sides (an empty set
    * is vacuously contained everywhere — noise, and the SQL twin
    * would divide by zero).
    *
    * The probe references `docs` several times (df table, size table,
    * rank window, verify sets): a long uncached lineage re-executes
    * its whole upstream per reference — observed wedging a composed
    * pipeline until the caller cut the lineage. Derived inputs are now
    * auto-pinned via [[Lineage.pinDerived]]; scan-shaped inputs pass
    * through (re-reading a table is the designed cost model). */
  def containmentPairs(docs0: DataFrame, idCol: String, textCol: String,
                       num: Long, den: Long, shingleN: Int = 1,
                       blockCols: Seq[String] = Nil,
                       keepBlocks: Boolean = false): DataFrame = {
    require(num > 0 && num <= den,
      s"threshold num/den must be in (0,1], got $num/$den")
    val docs = Lineage.pinDerived(docs0)
    val base = docs.select(col(idCol).as("id") +: col(textCol).as("__txt") +:
        blockCols.map(col): _*)
      .filter(size(tokenize_ws(col("__txt"))) > 0)
    val tokArr =
      if (shingleN <= 1) array_distinct(tokenize_ws(col("__txt")))
      else array_distinct(shingles(col("__txt"), shingleN))
    val toks = base.select(col("id") +: explode(tokArr).as("tok") +:
      blockCols.map(col): _*)
    // df stays GLOBAL under blocking: the prefix theorem is exact for
    // ANY |A|−⌈t·|A|⌉+1 member choice, so the block key only needs to
    // ride the join — per-block dfs would buy selectivity at the cost
    // of a per-block shuffle and a harder oracle, for nothing exactness
    // needs
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val sized = toks.groupBy("id").agg(count(lit(1)).as("sz"))
    val ordered = toks.join(dfreq, "tok").join(sized, "id")
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy("df", "tok")))
    val B = 16
    val a = ordered.filter(
        col("rk") <= col("sz") -
          expr(s"($num * sz + $den - 1) div $den") + 1)
      .withColumn("cell", explode(sequence(lit(0), lit(B - 1))))
      .as("a")
    val b = ordered
      .withColumn("cell", pmod(xxhash64(col("id")), lit(B.toLong)).cast("int"))
      .as("b")
    val blockEq = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(lit(true))(_ && _)
    val cand = a.join(b,
        col("a.tok") === col("b.tok") && col("a.cell") === col("b.cell") &&
          blockEq &&
          col("a.id") =!= col("b.id") &&
          col("b.sz") * den >= col("a.sz") * num &&
          expr(s"1 + b.sz - b.rk >= ($num * a.sz + $den - 1) div $den"))
      .select(Seq(col("a.id").as("contained_id"),
        col("b.id").as("container_id"), col("a.sz").as("sza")) ++
        (if (keepBlocks) blockCols.map(c => col(s"a.$c")) else Nil): _*)
      .distinct()
    val setCol =
      if (shingleN <= 1) token_id_set(tokenize_ws(col("__txt")))
      else shingle_id_set(tokenize_ws(col("__txt")), shingleN)
    val sets = base.select(col("id"), setCol.as("ids"))
    cand
      .join(sets.select(col("id").as("contained_id"), col("ids").as("ids1")),
        "contained_id")
      .join(sets.select(col("id").as("container_id"), col("ids").as("ids2")),
        "container_id")
      .withColumn("h", expr(s"($num * sza + $den - 1) div $den"))
      .withColumn("inter", inter_ge_sorted(col("ids1"), col("ids2"), col("h")))
      .filter(col("inter") >= col("h"))
      .select(col("contained_id") +: col("container_id") +:
        expr("inter * 1000000 div sza").as("cont_micro") +:
        (if (keepBlocks) blockCols.map(col) else Nil): _*)
  }

  /** L82b: containment-based removal — drop every doc that is ≥
    * num/den contained in some OTHER doc, keeping the containers
    * (subset/quote removal: the digest survives, the items quoted
    * whole inside it go). Mutual containment (near-exact duplicates —
    * both directions qualify) keeps the smallest id, the L19 survivor
    * convention, so an exact-dup pair never double-drops; mutual
    * CYCLES (all-equal sets) likewise reduce to min-id-survives.
    * Non-mutual drops are unconditional — "contained in anything
    * goes" is the standard subset-removal policy (a doc contained in
    * a doc that itself drops is still redundant WITH the survivor's
    * container chain). Cost over [[containmentPairs]]: one self-join
    * of the pair table (mutuality flag) + one anti-join of the
    * corpus. */
  def removeContained(df: DataFrame, idCol: String, textCol: String,
                      num: Long, den: Long, shingleN: Int = 1): DataFrame =
    removeContainedPairs(df, idCol,
      containmentPairs(df, idCol, textCol, num, den, shingleN)
        .transform(graft.operators.Lineage.pin))

  /** [[removeContained]] over a PRECOMPUTED containment pair table —
    * the amortized form (the [[removeNearDupsClusteredLabels]]
    * contract): the prefix-probe join runs once per corpus and every
    * consumer (pair listing, removal, future survivorship variants)
    * probes the same narrow table. */
  def removeContainedPairs(df: DataFrame, idCol: String,
                           pairs: DataFrame): DataFrame = {
    val rev = pairs.select(col("contained_id").as("r_container"),
      col("container_id").as("r_contained"))
    val drops = pairs.join(rev,
        pairs("contained_id") === rev("r_contained") &&
          pairs("container_id") === rev("r_container"), "left")
      .filter(col("r_contained").isNull ||
        col("contained_id") > col("container_id"))
      .select(col("contained_id").as("__drop_id"))
      .distinct()
    df.join(drops, col(idCol) === col("__drop_id"), "left_anti")
  }

  def jaccardPairs(df0: DataFrame, idCol: String, textCol: String,
                   blockCols: Seq[String], minJaccard: Double,
                   parallelBuckets: Int = 16, shingleN: Int = 1,
                   keepBlocks: Boolean = false): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    val df = Lineage.pinDerived(df0)
    val B = parallelBuckets
    val idSet =
      if (shingleN <= 1) token_id_set(tokenize_ws(col(textCol)))
      else shingle_id_set(tokenize_ws(col(textCol)), shingleN)
    // PPJoin-style length filter: jac >= t needs a size ratio >= t, so
    // docs carry a log-band of their set size (base 1/(t-0.001)) and
    // probe ±D neighboring bands. A valid pair's log-size gap is at
    // most log(1/t), so its band indices (floors) differ by at most
    // floor(log(1/t)/logR) + 1 = D — exactness preserved for ANY t,
    // including t below the 0.05 clamp where one band width no longer
    // covers the ratio bound (D grows instead of pairs being dropped).
    val logR = math.log(1.0 / math.max(0.05, minJaccard - 0.001))
    val bandDelta = math.floor(math.log(1.0 / minJaccard) / logR).toInt + 1
    // fan below the set kernel (serial on a one-split corpus), and pin
    // the featurized frame: BOTH salted roles below re-execute this
    // subtree, so unpinned the shingle/token kernel ran twice (r16)
    val toks = Lineage.pin(Scale.fan(df)
      .select(col(idCol).as("id") +:
        idSet.as("ids") +: blockCols.map(col): _*)
      // hash-salt (not pmod on the raw id): works for ANY id type —
      // pmod on a string id nulls out and silently drops every row
      .withColumn("bkt", pmod(xxhash64(col("id")), lit(B.toLong)).cast("int"))
      .withColumn("band",
        floor(log(greatest(size(col("ids")), lit(1)).cast("double")) / logR).cast("int")))
    // role by bucket: the smaller-bucket doc is "a"; ties broken by id
    val a = toks.withColumn("bv", explode(sequence(col("bkt"), lit(B - 1))))
      .withColumnRenamed("bkt", "bu").as("a")
    val b = toks
      .withColumn("bu", explode(sequence(lit(0), col("bkt"))))
      .withColumnRenamed("bkt", "bv")
      .withColumn("bandm",
        explode(sequence(col("band") - bandDelta, col("band") + bandDelta)))
      .as("b")
    val blockEq = blockCols.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)
    a.join(b, blockEq && col("a.bu") === col("b.bu") && col("a.bv") === col("b.bv") &&
        col("a.band") === col("b.bandm") &&
        (col("a.bu") < col("a.bv") || col("a.id") < col("b.id")))
      .select(Seq(least(col("a.id"), col("b.id")).as("doc_id1"),
        greatest(col("a.id"), col("b.id")).as("doc_id2"),
        col("a.ids").as("ids1"), col("b.ids").as("ids2")) ++
        // blocks are EQUAL across the pair (blockEq), so a-side values
        // are the pair's values — kept for the grouped (multi-tenant)
        // pair table, where consumers filter per tenant
        (if (keepBlocks) blockCols.map(c => col(s"a.$c")) else Nil): _*)
      .withColumn("jac", jacCol)
      .filter(col("jac") >= minJaccard)
      .select("doc_id1" +: "doc_id2" +: "jac" +:
        (if (keepBlocks) blockCols else Nil) map col: _*)
  }

  /** L3b: LSH parameter auto-tuner — choose (bands, rowsPerBand) for a
    * k-permutation signature and a target Jaccard threshold t. The
    * candidate-collision S-curve of a b·r = k split is
    * P(s) = 1-(1-s^r)^b (MMDS ch.3 banding analysis). A missed TRUE
    * pair is unrecoverable, while a sub-threshold candidate only costs
    * shuffle + the exact verify minhashPairs runs anyway — so the
    * criterion is lexicographic: among splits whose collision
    * probability AT the threshold clears `recallFloor` (the worst-case
    * per-pair recall, since P is increasing in s), take the one with
    * the smallest false-candidate mass ∫₀ᵗ P. If no split clears the
    * floor (k too small for the threshold), fall back to max P(t).
    * Driver-side pure math: fixed-grid deterministic integration, no
    * data touched.
    */
  def lshParams(k: Int, minJaccard: Double, recallFloor: Double = 0.95): (Int, Int) = {
    require(k >= 2, s"need k >= 2 permutations, got $k")
    require(minJaccard > 0 && minJaccard < 1,
      s"threshold must be in (0,1), got $minJaccard")
    val splits = (1 to k).filter(k % _ == 0).map(b => (b, k / b))
    def pAt(b: Int, r: Int, s: Double): Double =
      1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
    def fpMass(b: Int, r: Int): Double = {
      val n = 2048
      var fp = 0.0
      var i = 0
      while ({ val s = (i + 0.5) / n; s < minJaccard && i < n }) {
        fp += pAt(b, r, (i + 0.5) / n); i += 1
      }
      fp / n
    }
    val cleared = splits.filter { case (b, r) => pAt(b, r, minJaccard) >= recallFloor }
    if (cleared.nonEmpty) cleared.minBy { case (b, r) => fpMass(b, r) }
    else splits.maxBy { case (b, r) => pAt(b, r, minJaccard) }
  }

  /** [[minhashPairs]] with [[lshParams]]-chosen banding for the given
    * threshold — the "just give me near-dups at t" entry point. */
  def minhashPairsAuto(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 64, minJaccard: Double = 0.5): DataFrame = {
    val (bands, _) = lshParams(k, minJaccard)
    minhashPairs(df, idCol, textCol, k, bands, minJaccard)
  }

  /** L3: MinHash-LSH near-dup. k-perm signature → `bands` band-bucket
    * keys → narrow candidate pairs → distinct → exact-Jaccard verify.
    * rows-per-band = k/bands sets selectivity: p(candidate) =
    * 1-(1-j^rows)^bands — k=64, bands=8 keeps jac≈0.7 collisions ~5%
    * per band while catching jac≥0.9 with p≈0.99. Each banded row also
    * carries its set SIZE (one int): jac ≥ t forces a size ratio ≥ t,
    * so size-incompatible collisions are dropped BEFORE the distinct
    * shuffle and the feature joins — exactness preserved (the dropped
    * pairs cannot round up past the final jac filter). */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 64, bands: Int = 8, minJaccard: Double = 0.5): DataFrame = {
    requireBanding(k, bands)
    // fan below both kernels (serial on a one-split corpus); pin the
    // banded frame — the a/b candidate roles re-execute its subtree
    val docs = Scale.fan(df).select(col(idCol).as("id"),
      tokenIdSet(textCol).as("ids"))
    // minhash_band_hashes fuses sig + per-band bucket hashing into one
    // kernel call (and a min is duplicate-insensitive, so it runs on
    // raw tokens — no array_distinct needed); the unfused 8-sibling
    // xxhash64(slice(sig,…)) form re-evaluated the tokenize→sig chain
    // per band after CollapseProject (r12's 1.85× regression).
    val banded = Lineage.pin(Scale.fan(df)
      .select(col(idCol).as("id"), size(tokenIdSet(textCol)).as("sz"),
        posexplode(minhash_band_hashes(tokenize_ws(col(textCol)), k, bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket"))
    bandedPairs(banded, docs, minJaccard)
  }

  private def requireBanding(k: Int, bands: Int): Unit =
    require(k % bands == 0,
      s"bands ($bands) must divide k ($k): a remainder would silently " +
        "truncate the signature and change the collision curve")

  /** Candidate and verify halves of [[minhashPairs]]: `banded` rows
    * (id, sz, band, bucket) that collide in a band and pass the size
    * prune become distinct (id1 < id2) candidates, verified by exact
    * Jaccard over `docs`' (id, ids) token-id sets. */
  private def bandedPairs(banded: DataFrame, docs: DataFrame,
                          minJaccard: Double): DataFrame = {
    val rt = math.round(math.max(0.0, minJaccard - 0.001) * 10000)
    val cand = banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id") &&
        // sz is a 32-bit size(); widen before scaling or >214k-token
        // docs wrap the multiply negative and drop true pairs
        least(col("a.sz"), col("b.sz")).cast("long") * 10000L >=
          greatest(col("a.sz"), col("b.sz")).cast("long") * rt)
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    attachFeatures(cand, docs, "ids")
      .select(col("id1").as("doc_id1"), col("id2").as("doc_id2"),
        col("ids1"), col("ids2"))
      .withColumn("jac", jacCol)
      .filter(col("jac") >= minJaccard)
      .select("doc_id1", "doc_id2", "jac")
  }

  /** L99: winnowed-fingerprint overlap pairs — the MOSS matcher
    * (Schleimer, Wilkerson & Aiken, SIGMOD '03), the LOCAL-match
    * member of the dedup family: MinHash/SimHash see whole-document
    * resemblance and containment sees set inclusion, but none of them
    * guarantees detection of a shared PASSAGE inside two otherwise
    * different documents. Winnowing does: each doc keeps the distinct
    * window-min character-k-gram hashes ([[graft.functions.winnow_fps]],
    * one codegen kernel pass), and any substring match of length
    * ≥ w + k − 1 forces a shared fingerprint — a positive detection
    * guarantee with density ~2/(w+1) of the gram count (the paper's
    * bound), independent of document length ratio.
    *
    * Two phases, the house candidate/verify split: candidates come
    * from the inverted fingerprint postings SELF-JOIN restricted to
    * fingerprints with df ≤ `maxDf` (a fingerprint shared by half the
    * corpus is boilerplate — a header, a license block — and its df²
    * fan-out is exactly the pair blow-up the cap exists to stop; MOSS
    * drops over-common fingerprints for the same reason). Verify then
    * counts the EXACT shared-fingerprint total over the full sorted
    * sets with the early-abort merge kernel — so reported counts are
    * maxDf-independent; the cap only gates which pairs are surfaced
    * (pairs whose every shared fingerprint is corpus-boilerplate stay
    * below the radar BY DESIGN). Returns (id1 < id2, n_shared,
    * overlap_pm = n_shared·10⁶ div min(|fps1|,|fps2|)).
    *
    * Scale: postings are (doc, fp) distinct rows (fingerprint density
    * ~2/(w+1) per gram keeps them a small fraction of text size); the
    * df table folds with map-side partials; the self-join cost is
    * Σ_rare df² — bounded by maxDf² per fingerprint; the verify joins
    * are narrow sorted-long-array lookups. No all-pairs path at any
    * corpus size. */
  def winnowedPairs(docs0: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, w: Int = 16, minShared: Long = 2,
                    maxDf: Long = Long.MaxValue,
                    blockCols: Seq[String] = Nil): DataFrame = {
    require(k >= 1 && w >= 1, s"winnow needs k,w >= 1, got k=$k w=$w")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val docs = Lineage.pinDerived(docs0)
    // no size() filter on the kernel output: explode drops empty
    // arrays by itself, and a pushed-down filter would re-evaluate the
    // kernel inside the Filter condition (predicate pushdown
    // substitutes through the producing Project)
    val fps = docs.select(col(idCol).as("id") +:
        winnow_fps(coalesce(col(textCol), lit("")), k, w).as("fps") +:
        blockCols.map(col): _*)
    val posts = fps.select(col("id") +: explode(col("fps")).as("fp") +:
      blockCols.map(col): _*)
    // df stays GLOBAL under blocking (the L82d rule: the cap's job —
    // bounding fan-out and hiding boilerplate — is corpus-wide; the
    // block key only rides the candidate join for free selectivity)
    val dfreq = posts.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf && col("df") >= 2)
    val kept = posts.join(dfreq, "fp")
    val blockEq = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(lit(true))(_ && _)
    val cand = kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && blockEq && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    cand
      .join(fps.select(col("id").as("id1"), col("fps").as("fps1"),
        size(col("fps")).as("n1")), "id1")
      .join(fps.select(col("id").as("id2"), col("fps").as("fps2"),
        size(col("fps")).as("n2")), "id2")
      .withColumn("n_shared",
        inter_ge_sorted(col("fps1"), col("fps2"), lit(minShared)))
      .filter(col("n_shared") >= minShared)
      .select(col("id1"), col("id2"), col("n_shared"),
        expr("n_shared * 1000000 div least(n1, n2)").as("overlap_pm"))
  }

  /** L4: SimHash near-dup. The 64-bit fingerprint splits into
    * `maxHamming + 1` bands (pigeonhole: ≤ maxHamming differing bits
    * leave at least one band untouched), so the band join is a
    * COMPLETE candidate generator for the radius — for any radius,
    * not just the default 3. The fingerprint is 8 bytes — carried
    * through the join directly. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(df.select(col(idCol).as("id"),
      simhash64(tokenize_ws(col(textCol))).as("fp")), "id", "fp", maxHamming)

  /** Generic pigeonhole-banded Hamming-radius self-join over ANY
    * 64-bit fingerprint column (SimHash text prints, perceptual image
    * hashes, …): the fingerprint splits into `maxHamming + 1` bands,
    * so ≤ maxHamming differing bits leave at least one band equal —
    * the band join is a COMPLETE candidate generator for the radius.
    * Fingerprints are 8 bytes and ride the join directly. */
  def hammingPairs(fps: DataFrame, idCol: String, fpCol: String,
                   maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    require(nBands <= 64, s"maxHamming $maxHamming leaves empty bands")
    // nearly-equal band widths summing to 64 (first `rem` get +1 bit)
    val base = 64 / nBands
    val rem = 64 % nBands
    val offsets = (0 until nBands).map(i => i * base + math.min(i, rem))
    val widths = (0 until nBands).map(i => base + (if (i < rem) 1 else 0))
    val fp = fps.select(col(idCol).as("id"), col(fpCol).as("fp"))
    def mask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1
    val banded = fp.select(col("id"), col("fp"),
      posexplode(array((0 until nBands).map(i =>
        shiftright(col("fp"), offsets(i))
          .bitwiseAND(lit(mask(widths(i))))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_id1"), col("b.id").as("doc_id2"),
        col("a.fp").as("fp1"), col("b.fp").as("fp2"))
      .distinct()
      .withColumn("hamming", hamming64(col("fp1"), col("fp2")))
      .filter(col("hamming") <= maxHamming)
      .select("doc_id1", "doc_id2", "hamming")
  }

  /** L5: embedding near-dup — random-hyperplane cosine LSH in an
    * OR-of-ANDs construction (`bands` bands of `bitsPerBand` sign
    * bits): narrow candidates collide in ≥1 band, vectors join back
    * once per distinct pair for exact cosine ≥ threshold. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     bands: Int = 8, bitsPerBand: Int = 4,
                     minCosine: Double = 0.95): DataFrame = {
    val mask = (1L << bitsPerBand) - 1
    val v = df.select(col(idCol).as("id"), as_double_array(col(vecCol)).as("vec"))
    val banded = v
      .withColumn("sig", hyperplane_lsh(col("vec"), bands * bitsPerBand))
      .select(col("id"), posexplode(array((0 until bands).map(i =>
        shiftright(col("sig"), i * bitsPerBand).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val cand = banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    attachFeatures(cand, v, "vec")
      .withColumn("cos", round_portable(cosine_sim(col("vec1"), col("vec2")), 4))
      .filter(col("cos") >= minCosine)
      .select("id1", "id2", "cos")
  }

  /** L5b: SemDeDup-style semantic dedup — k-means-cluster the embedding
    * space (bounded sample training, map-side assignment: the
    * `Ann.trainCentroids` machinery), then verify exact cosine only
    * WITHIN clusters. The cluster join is the blocking step: per-cell
    * all-pairs is the SemDeDup contract, with cell sizes ~n/C bounded
    * by the centroid count, so no O(n^2) global pair set ever forms.
    * Vectors ride the cell join inline (all-pairs verify inline is
    * cheaper than attach-after-distinct when every in-cell pair is
    * verified — the same measured exception as the exact-Jaccard twin).
    * Recall vs exact all-pairs is traded via nClusters and gated in
    * DedupSpec. */
  def semanticPairs(df: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int = 16, minCosine: Double = 0.95,
                    iters: Int = 2, trainFraction: Double = 0.25,
                    nAssign: Int = 2): DataFrame = {
    val v = df.select(col(idCol).as("nn_id"), as_double_array(col(vecCol)).as("vec"))
    val cents = Ann.trainCentroids(v, nClusters, iters, trainFraction)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    // multi-assignment (top-nAssign cells per vector) is the recall
    // lever: pairs straddling a cell boundary still co-occur in one of
    // the overlapping assignments. Work scales by ~nAssign^2 within
    // cells; the distinct below dedups pairs caught in several cells
    // (narrow rows: two ids + the verified cosine).
    val indexed = v.withColumn("cluster",
      explode(top_centroids(col("vec"), centsLit, nAssign)))
    indexed.as("a").join(indexed.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.nn_id") < col("b.nn_id"))
      .withColumn("cos", round_portable(cosine_sim(col("a.vec"), col("b.vec")), 4))
      .filter(col("cos") >= minCosine)
      .select(col("a.nn_id").as("id1"), col("b.nn_id").as("id2"), col("cos"))
      .distinct()
  }

  /** [[semanticPairs]] on the integer-quantized training/assignment
    * path ([[Ann.trainCentroidsIntL2]] + `top_centroids_l2` over
    * quantized vectors): the blocking step — the only probabilistic
    * part — becomes engine-replayable, so the pair set carries a full
    * hash oracle. Verification (exact cosine over the ORIGINAL
    * vectors, portable rounding) is unchanged. */
  def semanticPairsQuantized(df: DataFrame, idCol: String, vecCol: String,
                             nClusters: Int = 16, minCosine: Double = 0.95,
                             iters: Int = 2, trainFraction: Double = 0.25,
                             nAssign: Int = 2): DataFrame = {
    // pin once: the featurized frame is re-read by every Lloyd pass
    // plus BOTH sides of the verify self-join, and when vecCol is a
    // computed feature (hashed_bow over text) each re-read re-runs the
    // kernel (r16: q_semantic_dedup_text measured 3.7 s of single-task
    // kernel time across the re-reads). Callers with a computed vecCol
    // over a one-split corpus should Scale.fan BELOW the kernel.
    val v = Lineage.pin(df.select(col(idCol).as("nn_id"),
      as_double_array(col(vecCol)).as("vec"),
      Ann.quantized(col(vecCol)).as("vq")))
    val cents = Ann.trainCentroidsIntL2(v, nClusters, iters, trainFraction)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val indexed = v
      .withColumn("cluster", explode(top_centroids_l2(col("vq"), centsLit, nAssign)))
      .select("cluster", "nn_id", "vec")
    indexed.as("a").join(indexed.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.nn_id") < col("b.nn_id"))
      .withColumn("cos", round_portable(cosine_sim(col("a.vec"), col("b.vec")), 4))
      .filter(col("cos") >= minCosine)
      .select(col("a.nn_id").as("id1"), col("b.nn_id").as("id2"), col("cos"))
      .distinct()
  }

  /** Apply semantic dedup: drop the larger id of every within-cluster
    * cosine duplicate (greedy representative, same policy as
    * [[removeNearDups]]). */
  def semanticRemove(df: DataFrame, idCol: String, vecCol: String,
                     nClusters: Int = 16, minCosine: Double = 0.95,
                     iters: Int = 2, trainFraction: Double = 0.25,
                     nAssign: Int = 2): DataFrame = {
    val drop = semanticPairs(df, idCol, vecCol, nClusters, minCosine,
        iters, trainFraction, nAssign)
      .select(col("id2").as("__drop_id")).distinct()
    df.join(drop, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** L35: block-level exact dedup (the within-corpus repeated-span
    * remover of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", at fixed block granularity): split every
    * document into consecutive `blockTokens`-token blocks, drop every
    * block whose exact content already occurred earlier in the corpus
    * (first occurrence by (doc_id, block_idx) survives), and reassemble
    * each document from its surviving blocks in order. Catches the
    * boilerplate/quote mass that document-level dedup can't touch.
    *
    * Shape at scale: one md5-keyed groupBy (map-side partial min) to
    * elect each block's first occurrence, one hash-keyed join back —
    * block payloads move once; a corpus-wide hot block (a license
    * header in millions of docs) is absorbed by the partial aggregate,
    * never a single reducer's row list. Returns one row per input doc:
    * (doc_id, n_blocks, n_kept, kept_frac, dedup_md5) where dedup_md5
    * fingerprints the reassembled text (md5("") for fully-deduped
    * docs). */
  def dedupBlocks(df: DataFrame, idCol: String, textCol: String,
                  blockTokens: Int = 16): DataFrame = {
    val bt = blockTokens
    val toks = tokenize_ws(col(textCol))
    val nBlocks = greatest(lit(1L),
      ceil(size(toks).cast("double") / bt).cast("long"))
    val blocks = df
      .select(col(idCol).as("id"), toks.as("t"), nBlocks.as("nb"))
      .select(col("id"), col("nb"), posexplode(transform(
        sequence(lit(0L), col("nb") - 1),
        i => concat_ws(" ", slice(col("t"), (i * bt + 1).cast("int"), lit(bt))))))
      .select(col("id"), col("nb"), col("pos").as("bidx"), md5(col("col")).as("h"),
        col("col").as("btext"))
    val first = blocks.groupBy("h")
      .agg(min(struct(col("id"), col("bidx"))).as("k"))
    val kept = blocks.join(first, "h")
      .filter(col("id") === col("k.id") && col("bidx") === col("k.bidx"))
    kept.groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("bidx"), col("btext")))),
          s => s.getField("btext")))).as("dedup_md5"))
      .join(df.select(col(idCol).as("id"), nBlocks.as("n_blocks")), Seq("id"), "right")
      .select(col("id").as("doc_id"), col("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round_portable(coalesce(col("n_kept"), lit(0L)).cast("double") /
          col("n_blocks"), 4).as("kept_frac"),
        coalesce(col("dedup_md5"), md5(lit(""))).as("dedup_md5"))
  }

  /** L35c: exact duplicated-SPAN removal at sliding L-gram granularity
    * — the ExactSubstr dedup of Lee et al. ("Deduplicating Training
    * Data Makes Language Models Better" §4.1), hash-anchored instead of
    * suffix-array-built. Pigeonhole completeness: every duplicated span
    * of ≥ `spanTokens` tokens contains a duplicated `spanTokens`-gram,
    * and every duplicated gram IS a duplicated span — so the token
    * positions covered by corpus-duplicated sliding grams, merged into
    * maximal intervals per doc, are EXACTLY the union of duplicated
    * spans. Unlike [[dedupBlocks]]' fixed blocks, this catches spans at
    * ANY alignment, including ones straddling a block boundary. The
    * globally-first occurrence of each gram (min (doc_id, pos)) is
    * retained, so one copy of every span survives the corpus.
    *
    * Shape at scale: grams never explode as strings — one narrow
    * (id, pos, xxhash64) row per token position through a single
    * hash-keyed window shuffle (count + row_number share the shuffle);
    * only non-first duplicated positions (typically ≪ n) reach the
    * per-doc interval merge; reassembly filters each doc's token array
    * in place against its broadcast-size span list (no token explode,
    * no range join). Gram identity is the hash — id/string agreement is
    * the standing w.h.p. contract (see L29b); the oracle replays the
    * chain on gram STRINGS.
    *
    * A removal can splice previously-distant tokens together and form
    * NEW duplicated grams; like the reference algorithm this is a
    * single pass (iterate to fixpoint externally if required).
    *
    * Returns one row per input doc: (doc_id, n_tokens, n_removed,
    * kept_frac, dedup_md5) where dedup_md5 fingerprints the
    * single-space rejoined surviving tokens (md5("") when everything
    * was removed). Docs shorter than `spanTokens` pass through whole. */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
                 spanTokens: Int = 8): DataFrame = {
    val L = spanTokens
    require(L >= 2, s"need spanTokens >= 2, got $L")
    // fan below the tokenize kernel (serial on a one-split corpus).
    // NOT pinned: a stats-free pinned leaf forced the gram/first join
    // off the broadcast fast path (measured 2.9 -> 5.7 s); re-running
    // tokenize per reference at fanned parallelism is the cheaper arm
    val toks = Scale.fan(df)
      .select(col(idCol).as("id"), tokenize_ws(col(textCol)).as("t"))
      .withColumn("n", size(col("t")).cast("long"))
    // one (id, pos, h) row per sliding window; docs with n < L emit none
    val grams = toks
      .select(col("id"), posexplode(when(col("n") >= L,
        transform(sequence(lit(0L), col("n") - L),
          i => xxhash64(concat_ws(" ", slice(col("t"), (i + 1).cast("int"), lit(L))))))
        .otherwise(array().cast("array<bigint>"))))
      .select(col("id"), col("pos").cast("long").as("pos"), col("col").as("h"))
    // first-occurrence election via partial-min aggregate + join back
    // (the dedupBlocks shape), NOT a window over h: a corpus-hot gram
    // (boilerplate in millions of docs) is absorbed map-side by the
    // partial min/count, and the skewed probe side of the join is
    // AQE-splittable — a window partitioned by h would pin every copy
    // of the hot gram to one task with no runtime remedy
    val first = grams.groupBy("h")
      .agg(min(struct(col("id"), col("pos"))).as("k"), count(lit(1)).as("c"))
    val dup = grams.join(first, "h")
      .filter(col("c") >= 2 &&
        !(col("id") === col("k.id") && col("pos") === col("k.pos")))
      .select("id", "pos")
    // classic islands merge: a window starts a new span iff it begins
    // past every earlier duplicated window's end (adjacent merges too)
    val wD = Window.partitionBy("id").orderBy("pos")
    val prevEnd = max(col("pos") + L)
      .over(wD.rowsBetween(Window.unboundedPreceding, -1))
    val spans = dup
      .withColumn("sNew", when(col("pos") > coalesce(prevEnd, lit(-1L)), 1L).otherwise(0L))
      .withColumn("sid", sum(col("sNew")).over(wD.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("id", "sid")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + L).as("e"))
    val docSpans = spans.groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"),
        sum(col("e") - col("s")).as("n_removed"))
    toks.join(docSpans, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        col("n").as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        round_portable((col("n") - coalesce(col("n_removed"), lit(0L))).cast("double") /
          greatest(col("n"), lit(1L)), 4).as("kept_frac"),
        md5(concat_ws(" ",
          when(col("spans").isNull, col("t")).otherwise(
            filter(col("t"), (tok, i) => !exists(col("spans"),
              sp => i.cast("long") >= sp.getField("s") &&
                i.cast("long") < sp.getField("e")))))).as("dedup_md5"))
  }

  /** Apply near-dup removal: keep the smaller id of every duplicate
    * pair (greedy cluster representative), anti-join the rest away.
    * One shuffle on the pair ids; composes with any pair generator
    * above. */
  def removeNearDups(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = pairs.select(col("doc_id2").as("__drop_id")).distinct()
    df.join(drop, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** L19: connected-components clustering of near-dup pairs — the
    * transitive-closure step greedy pair-removal lacks (a ~ b ~ c must
    * collapse to ONE survivor even when (a, c) never met a pair
    * threshold). Cluster id = minimum member id, computed by iterative
    * min-label propagation: each round is one join + one groupBy (both
    * map-side-combining on well-spread ids); rounds needed = component
    * diameter, which for near-dup graphs is small (dup clusters are
    * near-cliques). Each round's labels are eagerly localCheckpoint'ed
    * so the plan stays constant-size across iterations and the pair
    * generator upstream (often an O(m²)-ish verify) is evaluated
    * exactly once. Returns (id, cluster) for every id in `pairs`;
    * the result is materialized small (one row per clustered doc). */
  def clusters(pairs: DataFrame, id1Col: String = "doc_id1",
               id2Col: String = "doc_id2", maxIter: Int = 50): DataFrame = {
    // r17 (§2.4 remove shuffles + §2.3 fewer bytes): the round is ONE
    // edge join + ONE groupBy — the node's own previous label rides a
    // UNION branch of the (pinned, node-sized) label table, so the old
    // second join (labels left-join pulled, for the min/moved flags)
    // and its exchanges are gone. Both edge orientations come out of
    // one explode pass over `pairs` (the upstream is often an
    // expensive verify join) with NO distinct: min-aggregation is
    // duplicate-insensitive, so deduplicating the edge list bought
    // nothing but a full shuffle of it (measured 1.6 s of the old
    // setup at sf0.1). The persist is a map-only pass.
    val edges = pairs.select(explode(array(
        struct(col(id1Col).as("src"), col(id2Col).as("dst")),
        struct(col(id2Col).as("src"), col(id1Col).as("dst")))).as("r"))
      .select(col("r.src"), col("r.dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // label(v) starts at min(v, neighbors(v)) — one hop for free;
      // the node count rides the init pin's own action (pinAgg)
      val (labels0, initVals) = graft.operators.Lineage.pinAgg(
        edges.groupBy("src").agg(min(col("dst")).as("m"))
          .select(col("src").as("id"), least(col("src"), col("m")).as("lbl")),
        ("__n", count(lit(1))))
      var labels = labels0
      var iter = 0
      val nNodes = initVals("__n").asInstanceOf[Long]
      var converged = nNodes == 0L
      // superseded rounds' checkpoint blocks are reclaimed by the
      // ContextCleaner once the driver reference drops (weak-ref GC);
      // localCheckpoint blocks unconditionally, reliable checkpoint
      // FILES only under cleanCheckpoints=true (GraftSession sets it);
      // only the final (small) label table stays resident
      while (!converged && iter < maxIter) {
        iter += 1
        // one hop: min label over neighbors ∪ self = the new label;
        // the self vote (the node's own previous label, which is also
        // the moved-flag reference) arrives through the union branch
        // of the pinned label table — no second edge-table join, no
        // synthetic self-loop rows inflating the edge list.
        val cand = edges.join(labels, edges("dst") === labels("id"))
          .select(col("src"), col("lbl"), lit(false).as("__self"))
          .unionAll(labels.select(col("id").as("src"), col("lbl"),
            lit(true).as("__self")))
          .groupBy("src").agg(min(col("lbl")).as("nlbl"),
            min(when(col("__self"), col("lbl"))).as("olbl"))
        // pointer compression (the halving half of large-star/small-
        // star): chase the pulled label one more step through the SAME
        // pinned round table — lbl(nlbl) rides a second reference to
        // the already-built broadcast (exchange reuse), so a round
        // covers two hops for one extra node-sized join and ZERO extra
        // actions. Converges in O(log diameter) rounds; the fixpoint
        // (component min) is unchanged, and so is the exact-count
        // convergence rule.
        val lbl2 = labels.select(col("id").as("__cid"), col("lbl").as("__clbl"))
        // the changed flag is an exact per-row comparison (works for
        // ANY orderable id type — a numeric label-sum detector would
        // silently mis-converge on string ids), and its max rides the
        // round pin's own action (pinAgg) instead of a trailing
        // count job
        val (next, roundVals) = graft.operators.Lineage.pinAgg(
          cand.join(lbl2, cand("nlbl") === lbl2("__cid"), "left")
            .select(col("src").as("id"),
              least(col("nlbl"), coalesce(col("__clbl"), col("nlbl"))).as("lbl"),
              (least(col("nlbl"), coalesce(col("__clbl"), col("nlbl")))
                < col("olbl")).as("__moved")),
          ("__mv", coalesce(max(col("__moved")), lit(false))))
        labels = next.drop("__moved")
        converged = !roundVals("__mv").asInstanceOf[Boolean]
      }
      // an iteration-capped exit means labels are mid-propagation —
      // returning them would split components silently
      if (!converged)
        throw new IllegalStateException(
          s"clusters() did not converge in $maxIter rounds; a component's " +
            s"diameter exceeds maxIter — raise maxIter")
      labels.select(col("id"), col("lbl").as("cluster"))
    } finally edges.unpersist()
  }

  /** L61: per-node triangle counts and clustering coefficient over an
    * undirected pair graph (doc_id1 < doc_id2 rows) — the cliquishness
    * audit of a near-dup graph: coefficient ≈ 1 marks true duplicate
    * cliques (safe to collapse), low coefficients mark chain-shaped
    * components where transitive collapse (L19) is merging documents
    * that never directly matched.
    *
    * Scale shape: edges are re-oriented low-degree → high-degree
    * (ties by id) — the standard compact-forward trick, which bounds
    * every node's OUT-degree by O(√m) regardless of hub degrees, so
    * the wedge self-join never explodes on a hub the way an id-ordered
    * orientation can. Each triangle is found exactly once (at its
    * unique two-out-edge apex) and credited to all three corners.
    * Returns (id, deg, n_tri, clus_per_mille) for every node with an
    * edge; coefficient = 2000·tri div (deg·(deg−1)), 0 for deg < 2. */
  def triangleStats(pairs: DataFrame, id1Col: String = "doc_id1",
                    id2Col: String = "doc_id2"): DataFrame = {
    val e0 = pairs.select(col(id1Col).as("u"), col(id2Col).as("v"))
    val deg = e0.select(col("u").as("n"))
      .unionAll(e0.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val withDeg = e0
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("s"),
      when(uFirst, col("v")).otherwise(col("u")).as("d"))
    // fan the PROBE side only: the wedge probe is CPU-dense per edge
    // row, and a pair table that fits one scan split would stream all
    // wedges through one core. The BUILD side stays the raw (stats-
    // carrying) frame so the planner's broadcast-vs-SMJ choice is
    // unchanged at any scale (fanning both sides measurably forced the
    // join off the broadcast fast path: 5.8 -> 9.2 s).
    val wedges = Scale.fan(oriented).as("x")
      .join(oriented.as("y"),
        col("x.s") === col("y.s") && col("x.d") < col("y.d"))
      .select(col("x.s").as("apex"), col("x.d").as("d1"), col("y.d").as("d2"))
    // closing edge checked against the CANONICAL (id-ordered) edge set
    // — orientation of the third edge is unknown at the wedge
    val tri = wedges.join(e0,
        least(col("d1"), col("d2")) === col("u") &&
          greatest(col("d1"), col("d2")) === col("v"))
      .select("apex", "d1", "d2")
    val nodeTri = tri
      .select(explode(array(col("apex"), col("d1"), col("d2"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_tri"))
    deg.join(nodeTri, Seq("n"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .withColumn("clus_per_mille",
        when(col("deg") >= 2, expr("n_tri * 2000 div (deg * (deg - 1))"))
          .otherwise(0L))
      .select(col("n").as("id"), col("deg"), col("n_tri"), col("clus_per_mille"))
  }

  /** L79: k-core of the duplicate graph — iterative peeling (drop
    * every node with degree < k, repeat to fixpoint). The k-core is
    * the standard dense-community extractor: a near-dup cluster that
    * is a true re-upload clique survives a high k, while chains and
    * stars that connected-components would happily merge peel away —
    * so the 3-core is the "template farm / mirror ring" detector that
    * triangle counting (L61) hints at but doesn't decide. Returns
    * every surviving node with its IN-CORE degree.
    *
    * Scale shape: each round is one map-side-combining degree
    * aggregate plus two semi-joins on well-spread id keys — no wedge
    * or pair explosion anywhere, and the edge set only shrinks.
    * Rounds = peel depth: near-dup graphs are near-cliques (depth a
    * few), while the pathological O(n)-depth case (a long path) dies
    * entirely in round one for k >= 2. Each round localCheckpoints so
    * the plan stays constant-size and the upstream pair generator runs
    * once; a capped non-converged exit throws loudly rather than
    * returning a half-peeled core. */
  def kCore(pairs: DataFrame, k: Long, id1Col: String = "doc_id1",
            id2Col: String = "doc_id2", maxIter: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
    // r17: the per-round edge count (the peel-fixpoint detector) rides
    // each pin's own action via Lineage.pinAgg — one job per round
    // instead of two
    val (e0, v0) = graft.operators.Lineage.pinAgg(
      pairs.select(col(id1Col).as("u"), col(id2Col).as("v")),
      ("__n", count(lit(1))))
    var e = e0
    var prev = v0("__n").asInstanceOf[Long]
    var iter = 0
    var done = prev == 0L
    while (!done && iter < maxIter) {
      iter += 1
      val alive = degrees(e).filter(col("deg") >= k).select("n")
      val (next, vr) = graft.operators.Lineage.pinAgg(
        e.join(alive.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
          .join(alive.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
          .select("u", "v"),
        ("__n", count(lit(1))))
      val cnt = vr("__n").asInstanceOf[Long]
      done = cnt == prev || cnt == 0L
      prev = cnt
      e = next
    }
    if (!done)
      throw new IllegalStateException(
        s"kCore() did not converge in $maxIter rounds (peel depth " +
          s"exceeds the cap) — raise maxIter")
    degrees(e).select(col("n").as("id"), col("deg").as("core_deg"))
  }

  /** L80: label-propagation communities over the duplicate graph
    * (Raghavan et al. '07, the synchronous deterministic variant) —
    * the community detector BETWEEN the two extremes already in the
    * toolbox: connected components (L19) merge everything reachable
    * (a single bridge edge fuses two template farms), while k-core
    * (L79) only keeps the dense interior and discards the fringe.
    * LPA assigns EVERY node to a community and lets dense regions
    * outvote bridges.
    *
    * Vote rule, fully deterministic: each round, every node adopts
    * the most frequent label among its neighbors PLUS its own current
    * label (the self-vote damps the 2-cycle oscillation plain sync
    * LPA exhibits on bipartite-ish regions), ties broken by the
    * smallest label. The result is defined as the labels after
    * EXACTLY `rounds` rounds — no convergence race, no RNG order — so
    * a second engine replays it bit-for-bit by unrolling the same
    * number of rounds (the oracle's shape; peeling-style fixpoint
    * detection would make the round count data-dependent and the SQL
    * twin unexpressible).
    *
    * Scale shape per round: one id-keyed equi-join of the edge list
    * against the label table (labels are 1 row per node, edges carry
    * the corpus's pair volume), one (node, label) count aggregate
    * (map-side combining), and the type-agnostic two-step argmax
    * (max count per node, then min label at that count — no struct
    * negation tricks, string ids work too). localCheckpoint per round
    * keeps the plan constant-size. Rounds is a small constant (4 by
    * default: near-dup communities are low-diameter), so total cost
    * is ~4 edge-table joins — same budget as a CC run on the same
    * graph. */
  def labelPropagation(pairs: DataFrame, id1Col: String = "doc_id1",
                       id2Col: String = "doc_id2",
                       rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = pairs.select(col(id1Col).as("u"), col(id2Col).as("v"))
    // distinct is REQUIRED here, unlike clusters(): vote multiplicity
    // is the semantics, so duplicate edge rows would change counts
    val edges = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      .distinct().transform(graft.operators.Lineage.pin)
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("lab", col("id")).transform(graft.operators.Lineage.pin)
    for (_ <- 1 to rounds) {
      val nbr = edges
        .join(labels.withColumnRenamed("id", "v"), Seq("v"))
        .select(col("u").as("id"), col("lab"))
      val votes = nbr.unionAll(labels.select("id", "lab"))
        .groupBy("id", "lab").agg(count(lit(1)).as("c"))
      // r17 (§2.4): the two-step argmax ran as a votes self-reference
      // (groupBy cmax + join back) — the votes subtree, including the
      // edge join, executed TWICE per round. A max window over the
      // (id, lab) vote table computes the same cmax in one chain; the
      // trailing per-id min reuses the window's id partitioning.
      val wMax = org.apache.spark.sql.expressions.Window.partitionBy("id")
      labels = votes
        .withColumn("cmax", max(col("c")).over(wMax))
        .filter(col("c") === col("cmax"))
        .groupBy("id").agg(min(col("lab")).as("lab"))
        .transform(graft.operators.Lineage.pin)
    }
    labels.select(col("id"), col("lab").as("community"))
  }

  /** Clustered near-dup removal: one survivor per connected component
    * (the minimum id), everything else anti-joined away. Strictly
    * stronger than [[removeNearDups]]: transitive duplicates collapse
    * even when their direct pair never passed the threshold. */
  def removeNearDupsClustered(df: DataFrame, idCol: String,
                              pairs: DataFrame): DataFrame =
    removeNearDupsClusteredLabels(df, idCol, clusters(pairs))

  /** [[removeNearDupsClustered]] over PRECOMPUTED (id, cluster) labels
    * — the amortized form: label propagation runs once per corpus and
    * every consumer (apply, best-member apply, savings report) probes
    * the same small table instead of re-deriving it. */
  def removeNearDupsClusteredLabels(df: DataFrame, idCol: String,
                                    labels: DataFrame): DataFrame = {
    val drop = labels.filter(col("id") =!= col("cluster"))
      .select(col("id").as("__drop_id"))
    df.join(drop, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** Quality-aware clustered removal: one survivor per connected
    * component, chosen as the member with the HIGHEST score (ties →
    * lowest id) instead of the lowest id — the curation pattern where
    * near-dup clusters keep their best-quality document, not an
    * arbitrary representative. Cost over [[removeNearDupsClustered]]:
    * one extra broadcast-sized join of the (small) label table against
    * the scored rows plus a per-cluster max — the corpus itself still
    * moves through exactly one anti-join. `scoreCol` must be a column
    * of `df`. */
  def removeNearDupsClusteredBest(df: DataFrame, idCol: String,
                                  scoreCol: String,
                                  pairs: DataFrame): DataFrame =
    removeNearDupsClusteredBestLabels(df, idCol, scoreCol, clusters(pairs))

  /** [[removeNearDupsClusteredBest]] over precomputed labels — see
    * [[removeNearDupsClusteredLabels]] for the amortization contract. */
  def removeNearDupsClusteredBestLabels(df: DataFrame, idCol: String,
                                        scoreCol: String,
                                        labels: DataFrame): DataFrame = {
    // survivor per cluster: max score, ties to the lowest id. Two
    // small aggregations over the label-sized frame — type-agnostic
    // (negating the id for a struct-max would null out string ids and
    // overflow Long.MinValue)
    val scored = df.select(col(idCol).as("id"), col(scoreCol).as("__s"))
      .join(labels, "id")
    val smax = scored.groupBy("cluster").agg(max(col("__s")).as("__smax"))
    val keep = scored.join(smax, "cluster")
      .filter(col("__s") === col("__smax"))
      .groupBy("cluster").agg(min(col("id")).as("__keep_id"))
      .select("__keep_id")
    val drop = labels.select(col("id").as("__drop_id"))
      .join(keep, col("__drop_id") === col("__keep_id"), "left_anti")
    df.join(drop, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** Dedup-at-ingest, exact: drop incoming docs whose content already
    * exists in the corpus (anti join on the content hash — at scale
    * the corpus side is a persisted hash TABLE, not a rescan), then
    * drop within-batch copies (keep min id). Two shuffles on the
    * 16-byte hash, both sides narrow. */
  def incrementalExact(incoming: DataFrame, existing: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val seen = existing.select(md5(col(textCol)).as("__seen_hash")).distinct()
    val fresh = incoming.withColumn("__hash", md5(col(textCol)))
      .join(seen, col("__hash") === col("__seen_hash"), "left_anti")
    val keep = fresh.groupBy("__hash").agg(min(col(idCol)).as("__keep_id"))
    fresh.join(keep, col(idCol) === col("__keep_id"))
      .drop("__hash", "__keep_id")
  }

  /** Banded MinHash signature rows (id, ids, band, bucket) — the
    * probe-side representation shared by [[minhashAgainst]] and the
    * persisted signature table. */
  private def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
                               k: Int, bands: Int): DataFrame = {
    requireBanding(k, bands)
    // fan below the signature kernel (serial on a one-split corpus)
    Scale.fan(df).select(col(idCol).as("id"), tokenIdSet(textCol).as("ids"),
        posexplode(minhash_band_hashes(tokenize_ws(col(textCol)), k, bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Dedup-at-ingest, near-dup: MinHash-banded join of the incoming
    * batch AGAINST the existing corpus only (no corpus self-pairs —
    * at scale use [[buildSignatureTable]] + [[minhashAgainstTable]] so
    * the corpus side is read, not recomputed). Returns incoming ids
    * with at least one verified near-duplicate in the corpus. */
  def minhashAgainst(incoming: DataFrame, existing: DataFrame,
                     idCol: String, textCol: String,
                     k: Int = 64, bands: Int = 8,
                     minJaccard: Double = 0.9): DataFrame =
    probeJoin(bandedSignatures(incoming, idCol, textCol, k, bands),
      bandedSignatures(existing, idCol, textCol, k, bands), minJaccard)

  private def probeJoin(incoming: DataFrame, corpus: DataFrame,
                        minJaccard: Double): DataFrame =
    collisions(incoming, corpus, minJaccard).distinct()

  /** (incoming_id, corpus_id, jac, `carry`…) for every band in which
    * an `incoming` and a `corpus` signature row (id, ids, band, bucket)
    * collide and whose token sets verify at ≥ `minJaccard`, with the
    * corpus row's `carry` columns: a pair colliding in several bands
    * repeats. */
  private def collisions(incoming: DataFrame, corpus: DataFrame,
                         minJaccard: Double, carry: String*): DataFrame =
    incoming.as("a")
      .join(corpus.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(Seq(col("a.id").as("incoming_id"), col("b.id").as("corpus_id"),
        col("a.ids").as("ids1"), col("b.ids").as("ids2")) ++ carry.map(c => col(s"b.$c")): _*)
      .withColumn("jac", jacCol)
      .filter(col("jac") >= minJaccard)
      .select(("incoming_id" +: "corpus_id" +: "jac" +: carry).map(col): _*)

  /** Persist the corpus's banded signature table (id, ids, band,
    * bucket): build once per corpus, then every ingest batch probes it
    * with zero recompute of corpus signatures. The table is plain
    * parquet, one file per write task: the probe broadcasts the (small)
    * batch side, so a layout keyed on (band, bucket) would save no
    * shuffle, and its one-file-per-bucket appends made every later
    * probe open more files. The incremental-ingest twin of
    * `Ann.buildIvfIndex`. Probes and appends must use the SAME k/bands
    * the table was built with (mismatched banding probes silently
    * match nothing). */
  def buildSignatureTable(corpus: DataFrame, idCol: String, textCol: String,
                          table: String, k: Int = 64, bands: Int = 8): Unit = {
    ManagedTable.drop(corpus.sparkSession, table)
    bandedSignatures(corpus, idCol, textCol, k, bands)
      .write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** Append a batch's banded signatures to an existing signature table
    * (same k/bands as the build), so subsequent probes also see these
    * docs — the "accepted rows extend the corpus" half of
    * dedup-at-ingest. Writes one file per `spark.sql.files.maxPartitionBytes`
    * of the batch ([[Scale.toFileSize]]). */
  def appendSignatures(docs: DataFrame, idCol: String, textCol: String,
                       table: String, k: Int = 64, bands: Int = 8): Unit =
    appendSigned(withSignatures(docs.select(col(idCol), col(textCol)),
      textCol, k, bands), idCol, table)

  // --- ingest over precomputed signature columns --------------------

  /** Column names of [[withSignatures]]. */
  private[graft] val SigBands = "__sig_bands"
  private[graft] val SigIds = "__sig_ids"

  /** `docs` plus its signature columns, computed once: [[SigBands]],
    * the `bands` band-bucket hashes of the k-permutation MinHash
    * signature, and [[SigIds]], the token-id set the verify reads. Both
    * are null where `where` is not true. The ingest path pins this
    * frame, so its probe ([[ingestRemovals]]) and its append
    * ([[appendSigned]]) read the columns instead of rerunning the
    * kernels. */
  private[graft] def withSignatures(docs: DataFrame, textCol: String, k: Int,
                                    bands: Int, where: Column = lit(true)): DataFrame = {
    requireBanding(k, bands)
    docs
      .withColumn(SigBands, when(where, minhash_band_hashes(tokenize_ws(col(textCol)), k, bands)))
      .withColumn(SigIds, when(where, tokenIdSet(textCol)))
  }

  /** Signature rows (id, ids, band, bucket) of a [[withSignatures]] frame. */
  private def signatureRows(docs: DataFrame, idCol: String): DataFrame =
    docs.select(col(idCol).as("id"), col(SigIds).as("ids"), posexplode(col(SigBands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** The near-dup ingest removals of a [[withSignatures]] frame: the
    * distinct ids (`id`) of its rows with a verified ≥ `minJaccard`
    * near-duplicate in the signature `table` (a corpus hit, as
    * [[minhashAgainstTable]] finds it) or with a smaller-id one among
    * the rows that are not corpus hits ([[minhashPairs]], then
    * [[removeNearDups]] over the probe's survivors), all over the
    * precomputed columns. One row per removed id, so a pin of the
    * result counts the stage exactly. A corpus hit on the row's own id
    * is its own earlier append (ids are unique across stream and
    * corpus), so a replayed batch still finds itself fresh.
    *
    * The probe and the within-batch pairs are ONE band join: the
    * batch's rows against the signature table's rows and their own, so
    * the table is scanned once and the batch side is the one
    * broadcast. The smaller-id rule is one grouping by each removal's
    * cause: a corpus hit keys its own id, a within-batch pair keys its
    * smaller id, and a key's group removes the key if it holds a hit,
    * else its pairs' larger ids. */
  private[graft] def ingestRemovals(batch: DataFrame, idCol: String, table: String,
                                    minJaccard: Double): DataFrame = {
    val rows = signatureRows(batch, idCol)
    val corpus = batch.sparkSession.table(table).select("id", "ids", "band", "bucket")
      .withColumn("in_batch", lit(false))
      .unionByName(rows.withColumn("in_batch", lit(true)))
    val inBatch = col("in_batch")
    collisions(rows, corpus, minJaccard, "in_batch")
      .filter(when(inBatch, col("incoming_id") > col("corpus_id"))
        .otherwise(col("incoming_id") =!= col("corpus_id")))
      .groupBy(when(inBatch, col("corpus_id")).otherwise(col("incoming_id")).as("key"))
      .agg(count(when(!inBatch, 1)).as("hits"),
        collect_set(when(inBatch, col("incoming_id"))).as("larger"))
      .select(explode(when(col("hits") > 0, array(col("key")))
        .otherwise(col("larger"))).as("id"))
      .distinct()
  }

  /** Append the signature rows of a [[withSignatures]] frame to
    * `table`, one file per `spark.sql.files.maxPartitionBytes` of the
    * frame ([[Scale.toFileSize]]): a trigger's append is one file, so
    * the probe's scan grows by one file per trigger. */
  private[graft] def appendSigned(docs: DataFrame, idCol: String, table: String): Unit =
    signatureRows(Scale.toFileSize(docs), idCol)
      .write.mode("append").format("parquet").saveAsTable(table)

  /** Persist the exact Jaccard pair graph as a table (build once /
    * probe many — the graph twin of [[buildSignatureTable]]): graph
    * consumers like [[clusters]] and [[removeNearDupsClustered]] then
    * read committed narrow (doc_id1, doc_id2, jac) rows instead of
    * each re-running the pair verify. */
  def buildPairTable(df: DataFrame, idCol: String, textCol: String,
                     blockCols: Seq[String], table: String,
                     minJaccard: Double, parallelBuckets: Int = 16,
                     shingleN: Int = 1): Unit =
    buildPairs(df, idCol, textCol, blockCols, table, minJaccard,
      parallelBuckets, shingleN, partCol = None)

  /** The pair table `table` and its token-set sidecar `<table>_toks`
    * of [[buildPairTable]] (`partCol` None) and
    * [[buildGroupedPairTable]] (the tenant column, kept on every pair
    * row and partitioning both tables). */
  private def buildPairs(df: DataFrame, idCol: String, textCol: String,
                         blockCols: Seq[String], table: String,
                         minJaccard: Double, parallelBuckets: Int,
                         shingleN: Int, partCol: Option[String]): Unit = {
    // REBALANCE before the write (guide §6 output sizing): the pair
    // frame's final stage inherits the salted join's partitioning —
    // r16's fanned kernel left a 1 MB table in 15 shards, and every
    // pinned-edge consumer (kCore's 8 peel rounds especially) then
    // inherited that fragmentation in every round frame. AQE sizes the
    // rebalanced output to advisoryPartitionSizeInBytes, so the same
    // line writes few-hundred-MB shards at production volume.
    def write(rows: DataFrame, t: String): Unit = {
      // a fresh session over an old warehouse dir must not trip
      // LOCATION_ALREADY_EXISTS on the leftover managed location
      ManagedTable.drop(df.sparkSession, t)
      val w = rows.hint("rebalance", partCol.map(col).toSeq: _*)
        .write.mode("overwrite").format("parquet")
      partCol.fold(w)(w.partitionBy(_)).saveAsTable(t)
    }
    write(jaccardPairs(df, idCol, textCol, blockCols, minJaccard,
      parallelBuckets, shingleN, keepBlocks = partCol.isDefined), table)
    // the token-set sidecar makes the graph APPENDABLE: incremental
    // maintenance needs the corpus side's exact sets, not its text
    write(pairToks(df, idCol, textCol, blockCols, shingleN), s"${table}_toks")
  }

  private def pairToks(df: DataFrame, idCol: String, textCol: String,
                       blockCols: Seq[String], shingleN: Int): DataFrame = {
    val idSet =
      if (shingleN <= 1) token_id_set(tokenize_ws(col(textCol)))
      else shingle_id_set(tokenize_ws(col(textCol)), shingleN)
    df.select(col(idCol).as("id") +: idSet.as("ids") +: blockCols.map(col): _*)
  }

  /** L19d: incremental connected components — advance a prior label
    * fixpoint across an APPENDED pair slice without re-propagating
    * the whole graph. The prior labels are a star compression of the
    * old components (every node points at its component min), so
    * feeding them back as edges `(id → cluster)` preserves old
    * connectivity at diameter ≤ 2; [[clusters]] over stars + the new
    * pairs then converges in O(diameter of the MERGE graph) rounds —
    * for a daily delta that is 2-3 rounds, not the full corpus
    * graph's diameter. Fixpoint equality with a from-scratch rebuild
    * is exact (same connected components ⇒ same min labels; DedupSpec
    * chains appends to prove it), which closes the incremental dedup
    * loop: L66 maintains the pair graph per batch, this maintains the
    * labels, and the cluster-apply family reads them unchanged. */
  def clustersIncremental(newPairs: DataFrame, prior: DataFrame,
                          id1Col: String = "doc_id1",
                          id2Col: String = "doc_id2",
                          maxIter: Int = 50): DataFrame = {
    val stars = prior.filter(col("id") =!= col("cluster"))
      .select(col("id").as(id1Col), col("cluster").as(id2Col))
    // singleton prior nodes (cluster == id) re-enter only if the new
    // slice touches them — same visibility rule as clusters() itself
    clusters(newPairs.select(col(id1Col), col(id2Col)).unionByName(stars),
      id1Col, id2Col, maxIter)
  }

  /** L66: incremental pair-graph maintenance — extend a persisted pair
    * table with a NEW batch without re-verifying the corpus against
    * itself. New pairs decompose exactly: within-batch (the standard
    * [[jaccardPairs]] self-join on the batch alone) plus batch×corpus
    * (an exact banded join of the batch's token sets against the
    * `_toks` sidecar — same block + PPJoin size-band pruning as the
    * self-join, so the incremental graph is IDENTICAL to a from-scratch
    * rebuild, not an LSH approximation of it). Daily cost: |batch|²
    * within + |batch|·corpus-candidates cross; the corpus never
    * self-joins again. Contract: batch ids are new (same uniqueness
    * rule as [[appendSignatures]]), and `minJaccard`/`shingleN` match
    * the build. */
  def appendToPairTable(batch: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[String], table: String,
                        minJaccard: Double, parallelBuckets: Int = 16,
                        shingleN: Int = 1): Unit =
    appendPairs(batch, idCol, textCol, blockCols, table, minJaccard,
      parallelBuckets, shingleN, partCol = None)

  /** [[appendToPairTable]] (`partCol` None) and
    * [[appendToGroupedPairTable]] (the tenant column, kept on every new
    * pair row and partitioning both appends). */
  private def appendPairs(batch: DataFrame, idCol: String, textCol: String,
                          blockCols: Seq[String], table: String,
                          minJaccard: Double, parallelBuckets: Int,
                          shingleN: Int, partCol: Option[String]): Unit = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    val spark = batch.sparkSession
    // reconcile: the pair append commits before the sidecar append, so
    // a failure between the two leaves pair rows whose token sets never
    // reached `_toks` — every LATER append would silently miss
    // batch×corpus pairs against those docs, breaking the documented
    // "identical to a from-scratch rebuild" guarantee. Detect the
    // desync here (one narrow anti-join per append) and refuse.
    val desynced = spark.table(table)
      .select(explode(array(col("doc_id1"), col("doc_id2"))).as("id"))
      .distinct()
      .join(spark.table(s"${table}_toks").select("id"), Seq("id"), "left_anti")
      .limit(1).count()
    val builder = if (partCol.isEmpty) "buildPairTable" else "buildGroupedPairTable"
    require(desynced == 0L,
      s"$table has pair rows missing from ${table}_toks (a prior append " +
        s"failed between its two writes) — rebuild with $builder")
    val logR = math.log(1.0 / math.max(0.05, minJaccard - 0.001))
    val bandDelta = math.floor(math.log(1.0 / minJaccard) / logR).toInt + 1
    def banded(t: DataFrame) = t.withColumn("band",
      floor(log(greatest(size(col("ids")), lit(1)).cast("double")) / logR)
        .cast("int"))
    // evaluated twice (cross pairs + sidecar append): pin it
    val bToks = pairToks(batch, idCol, textCol, blockCols, shingleN)
      .transform(graft.operators.Lineage.pin)
    // the BATCH side explodes the ±D band probes (it's the small side;
    // exploding the corpus would triple the big scan on every append)
    val a = banded(bToks)
      .withColumn("bandm",
        explode(sequence(col("band") - bandDelta, col("band") + bandDelta)))
      .as("a")
    val b = banded(spark.table(s"${table}_toks")).as("b")
    val blockEq = blockCols.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)
    val cross = a.join(b, blockEq && col("a.bandm") === col("b.band"))
      .select(Seq(least(col("a.id"), col("b.id")).as("doc_id1"),
        greatest(col("a.id"), col("b.id")).as("doc_id2"),
        col("a.ids").as("ids1"), col("b.ids").as("ids2")) ++
        partCol.map(c => col(s"a.$c")): _*)
      .withColumn("jac", jacCol)
      .filter(col("jac") >= minJaccard)
      .select((Seq("doc_id1", "doc_id2", "jac") ++ partCol).map(col): _*)
    val within = jaccardPairs(batch, idCol, textCol, blockCols, minJaccard,
      parallelBuckets, shingleN, keepBlocks = partCol.isDefined)
    def append(rows: DataFrame, t: String): Unit = {
      val w = rows.write.mode("append").format("parquet")
      partCol.fold(w)(w.partitionBy(_)).saveAsTable(t)
    }
    append(within.unionByName(cross), table)
    append(bToks, s"${table}_toks")
  }

  /** L66b: grouped (multi-tenant) pair graph — [[buildPairTable]] with
    * the tenant column PERSISTED on every pair row and both tables
    * `partitionBy(groupCol)`, so per-tenant reads prune to one
    * partition and a tenant's erasure is a partition drop (the L46b
    * grouped-model discipline applied to the pair graph). Pairs never
    * cross tenants (the group is a block column), so each partition IS
    * that tenant's complete exact graph. */
  def buildGroupedPairTable(df: DataFrame, idCol: String, textCol: String,
                            groupCol: String, table: String,
                            minJaccard: Double, parallelBuckets: Int = 16,
                            shingleN: Int = 1): Unit =
    buildPairs(df, idCol, textCol, Seq(groupCol), table, minJaccard,
      parallelBuckets, shingleN, partCol = Some(groupCol))

  /** Incremental maintenance of a [[buildGroupedPairTable]] graph —
    * [[appendToPairTable]] semantics (within-batch + batch×corpus via
    * the sidecar, exact-equal to a rebuild) with the tenant threading:
    * a mixed-tenant batch splits into its partitions on write, and the
    * cross join's block equality keeps every candidate inside its
    * tenant. Same reconcile-on-entry desync check. */
  def appendToGroupedPairTable(batch: DataFrame, idCol: String,
                               textCol: String, groupCol: String,
                               table: String, minJaccard: Double,
                               parallelBuckets: Int = 16,
                               shingleN: Int = 1): Unit =
    appendPairs(batch, idCol, textCol, Seq(groupCol), table, minJaccard,
      parallelBuckets, shingleN, partCol = Some(groupCol))

  /** Erase ids from a persisted pair table (+ its `_toks` sidecar):
    * the pair graph holds DERIVED content of erased docs (their exact
    * token sets in the sidecar, their similarity relations in the pair
    * rows), so a takedown that skips it leaks through every dedup
    * report and through future appends' cross joins. Drops every pair
    * touching an erased id and the sidecar rows, each table rewritten
    * by [[ManagedTable.replace]] (write-then-swap, partitioning kept)
    * so a failure mid-erasure never destroys the only copy. The result
    * is exactly the table a from-scratch build over the survivors would produce
    * (pairs are per-edge rows — no aggregate to decrement). Works for
    * plain and grouped tables (extra columns carry through). */
  def removeFromPairTable(spark: org.apache.spark.sql.SparkSession,
                          table: String, ids: DataFrame,
                          idCol: String): Unit = {
    val del = ids.select(col(idCol).as("__del_id"))
    ManagedTable.replace(spark, table, spark.table(table)
      .join(broadcast(del), col("doc_id1") === col("__del_id"), "left_anti")
      .join(broadcast(del), col("doc_id2") === col("__del_id"), "left_anti"))
    ManagedTable.replace(spark, s"${table}_toks", spark.table(s"${table}_toks")
      .join(broadcast(del), col("id") === col("__del_id"), "left_anti"))
  }

  /** One tenant's complete pair graph — a partition-pruned scan. */
  def tenantPairs(spark: org.apache.spark.sql.SparkSession, table: String,
                  groupCol: String, tenant: String): DataFrame =
    spark.table(table).filter(col(groupCol) === tenant)
      .select("doc_id1", "doc_id2", "jac")

  /** Erase one tenant from a grouped pair graph — a metadata-level
    * partition drop on BOTH tables (no rewrite of surviving tenants:
    * the erasure cost is independent of corpus size). */
  def removeTenantPairs(spark: org.apache.spark.sql.SparkSession,
                        table: String, groupCol: String,
                        tenant: String): Unit = {
    val esc = tenant.replace("'", "''")
    Seq(table, s"${table}_toks").foreach { t =>
      spark.sql(
        s"ALTER TABLE $t DROP IF EXISTS PARTITION ($groupCol = '$esc')")
    }
  }

  /** Delete ids from a persisted signature table — the dedup-at-ingest
    * erasure path (an erased document must stop matching future ingest
    * probes, or its content leaks through dedup decisions). Anti-join
    * + [[ManagedTable.replace]] (write-then-swap, so a failed delete
    * never destroys the only copy of the ingest state); the rewrite
    * also compacts the one-file-per-append layout into the scan's read
    * splits. Refuses to empty the table (that's a drop, not a delete). */
  def removeSignatures(spark: org.apache.spark.sql.SparkSession,
                       table: String, ids: DataFrame, idCol: String): Unit = {
    val del = ids.select(col(idCol).as("id"))
    ManagedTable.replace(spark, table,
      spark.table(table).join(broadcast(del), Seq("id"), "left_anti"),
      check = swap => require(swap.limit(1).count() > 0L,
        s"delete batch covers every id in $table — drop the table instead"))
  }

  /** Probe a persisted signature table with an incoming batch. */
  def minhashAgainstTable(incoming: DataFrame, idCol: String, textCol: String,
                          table: String, k: Int = 64, bands: Int = 8,
                          minJaccard: Double = 0.9): DataFrame = {
    val corpus = incoming.sparkSession.table(table)
    probeJoin(bandedSignatures(incoming, idCol, textCol, k, bands),
      corpus, minJaccard)
  }

  /** L84: sampled near-dup rate — the dedup QA answer at 100 TB,
    * where "did the dedup work" cannot be verified exhaustively: draw
    * a deterministic id-hash sample (inclusion independent of
    * content, so the per-doc Bernoulli is unbiased for the has-dup
    * trait), probe ONLY the sampled docs against the whole corpus for
    * a word-set Jaccard ≥ num/den partner in the same block, and
    * report the measured rate. Run it on the raw corpus to size the
    * dedup problem; run it on the deduped output and the rate is the
    * RESIDUAL — zero by theorem for clustered removal under the same
    * blocking, which the spec pins.
    *
    * The probe is the one-sided prefix filter again (jac ≥ t ⟹
    * overlap ≥ ⌈t·|A|⌉, so A's |A|−⌈t·|A|⌉+1 rarest tokens must hit
    * B): sample-side prefixes join ALL corpus tokens — cost follows
    * the SAMPLE, never sample × corpus — with the two-sided size
    * ratio pruned in-join and one early-abort merge per distinct
    * candidate. Returns one row: (n_sampled, n_dup, dup_ppm). */
  def sampledDupRate(docs0: DataFrame, idCol: String, textCol: String,
                     blockCols: Seq[String], num: Long, den: Long,
                     sampleHexLt: String = "20"): DataFrame = {
    require(num > 0 && num <= den,
      s"threshold num/den must be in (0,1], got $num/$den")
    val docs = Lineage.pinDerived(docs0)
    val base = docs.select(col(idCol).as("id") +: col(textCol).as("__txt") +:
        blockCols.map(col): _*)
      .filter(size(tokenize_ws(col("__txt"))) > 0)
    val toks = base.select(col("id") +:
      explode(array_distinct(tokenize_ws(col("__txt")))).as("tok") +:
      blockCols.map(col): _*)
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val sized = toks.groupBy("id").agg(count(lit(1)).as("sz"))
    val ordered = toks.join(dfreq, "tok").join(sized, "id")
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy("df", "tok")))
    val inSample = substring(md5(col("id").cast("string")), 1, 2) < sampleHexLt
    val a = ordered.filter(inSample)
      .filter(col("rk") <= col("sz") -
        expr(s"($num * sz + $den - 1) div $den") + 1)
      .as("a")
    val b = ordered.as("b")
    val blockEq = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(lit(true))(_ && _)
    val cand = a.join(b,
        col("a.tok") === col("b.tok") && blockEq &&
          col("a.id") =!= col("b.id") &&
          least(col("a.sz"), col("b.sz")) * den >=
            greatest(col("a.sz"), col("b.sz")) * num)
      .select(col("a.id").as("sid"), col("b.id").as("cid"),
        col("a.sz").as("sza"), col("b.sz").as("szb"))
      .distinct()
    val sets = base.select(col("id"), token_id_set(tokenize_ws(col("__txt")))
      .as("ids"))
    val dups = cand
      .join(sets.select(col("id").as("sid"), col("ids").as("ids1")), "sid")
      .join(sets.select(col("id").as("cid"), col("ids").as("ids2")), "cid")
      .withColumn("h",
        expr(s"($num * (sza + szb) + ${num + den - 1}) div ${num + den}"))
      .withColumn("inter", inter_ge_sorted(col("ids1"), col("ids2"), col("h")))
      .filter(col("inter") * den >= (col("sza") + col("szb") - col("inter")) * num)
      .select("sid").distinct()
    val nS = base.filter(inSample).count()
    val nD = dups.count()
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((nS, nD, if (nS > 0) nD * 1000000L / nS else 0L))
      .toDF("n_sampled", "n_dup", "dup_ppm")
  }

  // ---- L82c: containment-at-ingest state tables ----

  private def containSets(docs: DataFrame, idCol: String,
                          textCol: String, shingleN: Int): DataFrame = {
    val setCol =
      if (shingleN <= 1) token_id_set(tokenize_ws(col(textCol)))
      else shingle_id_set(tokenize_ws(col(textCol)), shingleN)
    docs.select(col(idCol).as("corpus_id"), setCol.as("ids"))
      .filter(size(col("ids")) >= 1)
  }

  private def writeContainState(docs: DataFrame, idCol: String,
                                textCol: String, table: String,
                                shingleN: Int, buckets: Int,
                                mode: String): Unit =
    writeProbeState(containSets(docs, idCol, textCol, shingleN),
      sets => sets.select(col("corpus_id"), explode(col("ids")).as("sid"),
        size(col("ids")).cast("long").as("csz")),
      "sid", table, buckets, mode)

  /** One writer for the ingest probe states (containment, winnow):
    * `sets` (corpus_id, set) goes to the `<table>_sets` verify
    * sidecar bucketed on corpus_id, and `postings(sets)`, one row per
    * set member keyed by `key`, to the probe table `<table>` bucketed
    * on `key`. Overwrite drops both tables first. */
  private def writeProbeState(sets: DataFrame, postings: DataFrame => DataFrame,
                              key: String, table: String, buckets: Int,
                              mode: String): Unit = {
    if (mode == "overwrite") Seq(table, s"${table}_sets")
      .foreach(ManagedTable.drop(sets.sparkSession, _))
    postings(sets).write.mode(mode).bucketBy(buckets, key)
      .format("parquet").saveAsTable(table)
    sets.write.mode(mode).bucketBy(buckets, "corpus_id")
      .format("parquet").saveAsTable(s"${table}_sets")
  }

  /** Persist the corpus's containment-probe state: an inverted
    * shingle-id postings table `<table>` (sid, corpus_id, csz)
    * bucketed on the probe key, plus the set sidecar `<table>_sets`
    * (corpus_id, ids) bucketed on the verify key — the asymmetric
    * twin of [[buildSignatureTable]]: build once per corpus, every
    * ingest batch probes with zero corpus recompute and no corpus-
    * side shuffle. Probes and appends must use the SAME
    * shingleN/buckets as the build. */
  def buildContainTable(corpus: DataFrame, idCol: String, textCol: String,
                        table: String, shingleN: Int = 3,
                        buckets: Int = 32): Unit =
    writeContainState(corpus, idCol, textCol, table, shingleN, buckets,
      "overwrite")

  /** Append accepted rows to the containment state (same layout and
    * shingleN/buckets as the build). */
  def appendContainState(docs: DataFrame, idCol: String, textCol: String,
                         table: String, shingleN: Int = 3,
                         buckets: Int = 32): Unit =
    writeContainState(docs, idCol, textCol, table, shingleN, buckets,
      "append")

  /** L82c: containment probe of an incoming batch against the
    * persisted state — (incoming_id, corpus_id, cont_micro) for every
    * incoming doc ≥ num/den contained in a corpus doc. Exactness
    * does NOT depend on a document-frequency order here: the prefix
    * theorem only needs SOME |A| − ⌈t·|A|⌉ + 1 of A's shingles probed
    * (if |A∩B| ≥ H, any subset of A excluding H−1 members intersects
    * B), so the batch side probes its first prefixLen ids in the
    * set's ascending-hash order — stable, no corpus df pass, and
    * pseudo-random (FNV) so prefix shingles spread uniformly over the
    * postings buckets. Candidates are distinct'd before verify, which
    * also absorbs duplicate postings from a replayed append. */
  def containedAgainstTable(incoming: DataFrame, idCol: String,
                            textCol: String, table: String,
                            num: Long, den: Long,
                            shingleN: Int = 3): DataFrame = {
    require(num > 0 && num <= den,
      s"threshold num/den must be in (0,1], got $num/$den")
    val spark = incoming.sparkSession
    val posts = spark.table(table)
    // A replayed append duplicates sidecar rows; candidate distinct
    // absorbs the postings side but the verify join would emit one
    // output row PER sidecar copy. Dedup on read — deterministic
    // min-pick, and the sidecar is bucketed on corpus_id so the
    // groupBy rides the bucketing with no shuffle. This makes the
    // replay-idempotence claim hold for every consumer, not just
    // containmentIngest (which re-distincts downstream).
    val csets = spark.table(s"${table}_sets")
      .groupBy(col("corpus_id")).agg(min(col("ids")).as("cids"))
    val bs = containSets(incoming, idCol, textCol, shingleN)
      .select(col("corpus_id").as("incoming_id"), col("ids"))
      .withColumn("sz", size(col("ids")).cast("long"))
    val probe = bs.select(col("incoming_id"), col("sz"),
        posexplode(col("ids")).as(Seq("pos", "sid")))
      .filter(col("pos") <
        col("sz") - expr(s"($num * sz + $den - 1) div $den") + 1)
    val cand = probe.join(posts, "sid")
      .filter(col("csz") * den >= col("sz") * num)
      .select(col("incoming_id"), col("corpus_id"), col("sz"))
      .distinct()
    cand
      .join(bs.select(col("incoming_id"), col("ids")), "incoming_id")
      .join(csets, "corpus_id")
      .withColumn("h", expr(s"($num * sz + $den - 1) div $den"))
      .withColumn("inter", inter_ge_sorted(col("ids"), col("cids"), col("h")))
      .filter(col("inter") >= col("h"))
      .select(col("incoming_id"), col("corpus_id"),
        expr("inter * 1000000 div sz").as("cont_micro"))
  }

  /** L99d: span localization for winnowed pairs — WHERE the shared
    * material sits. [[winnowedPairs]] says two docs share passages;
    * this joins their POSITIONAL anchors ([[graft.functions
    * .winnow_spans]], the paper's rightmost-min selection with
    * per-position de-dup) on fingerprint value and reports, per pair,
    * the matched-anchor count and the anchor extent in each document
    * (from/to codepoint positions, extent = to − from + k). The
    * audit/attribution layer of the MOSS pipeline: "doc B duplicates
    * doc A's chars ~120–300", which drives span-level removal (L35c)
    * or quotation whitelisting without re-scanning text. Cost: the
    * verified pair table × shared-fp anchors — pair-bounded, never
    * corpus². */
  def winnowedSpanPairs(docs0: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, w: Int = 16, minShared: Long = 2,
                        maxDf: Long = Long.MaxValue): DataFrame = {
    val docs = Lineage.pinDerived(docs0)
    val pairs = winnowedPairs(docs, idCol, textCol, k, w, minShared, maxDf)
    val emptyA = "cast(array() as array<struct<fp:bigint,pos:bigint>>)"
    val spans = docs.select(col(idCol).as("id"),
        winnow_spans(coalesce(col(textCol), lit("")), k, w).as("sp"))
      .select(col("id"), explode(coalesce(
        when(size(col("sp")) >= 2, expr(
          "transform(sequence(0, size(sp) div 2 - 1)," +
            " i -> struct(sp[i*2] as fp, sp[i*2+1] as pos))")),
        expr(emptyA))).as("a"))
      .select(col("id"), col("a.fp").as("fp"), col("a.pos").as("pos"))
    val s1 = spans.select(col("id").as("id1"), col("fp"),
      col("pos").as("pos1"))
    val s2 = spans.select(col("id").as("id2"), col("fp"),
      col("pos").as("pos2"))
    pairs.join(s1, "id1").join(s2, Seq("id2", "fp"))
      .groupBy("id1", "id2", "n_shared", "overlap_pm")
      .agg(count(lit(1)).as("n_anchor_pairs"),
        min("pos1").as("from1"), max("pos1").as("to1"),
        min("pos2").as("from2"), max("pos2").as("to2"))
      .select(col("id1"), col("id2"), col("n_shared"), col("overlap_pm"),
        col("n_anchor_pairs"),
        col("from1"), (col("to1") - col("from1") + k).as("extent1"),
        col("from2"), (col("to2") - col("from2") + k).as("extent2"))
  }

  /** L105: cross-table winnow probe — winnow decontamination: flag
    * every doc sharing ≥ minShared fingerprints with a reference
    * (benchmark) document. The GUARANTEED member of the
    * decontamination family: the n-gram (L21) and semantic (L21b)
    * modes sample or embed, while winnowing certifies that any
    * verbatim overlap of length ≥ w + k − 1 contributes a shared
    * fingerprint — a contaminated doc cannot hide a long quoted
    * passage from this gate. Candidates join the TRAIN-side postings
    * (df ≤ maxDf: corpus-boilerplate fingerprints are excluded from
    * matching, which also bounds the join) against the full reference
    * postings (the suite is bounded by construction); verify is the
    * exact merge over both fingerprint sets — counts maxDf-
    * independent, the L99b discipline. Returns (id, ref_id, n_shared,
    * overlap_pm). */
  def winnowedAgainst(docs0: DataFrame, idCol: String, textCol: String,
                      ref0: DataFrame, refIdCol: String, refTextCol: String,
                      k: Int = 8, w: Int = 16, minShared: Long = 8L,
                      maxDf: Long = 16L): DataFrame = {
    val docs = Lineage.pinDerived(docs0)
    winnowedAgainstFps(docs, idCol, textCol,
      winnowRef(Lineage.pinDerived(ref0), refIdCol, refTextCol, k, w),
      k, w, minShared, maxDf)
  }

  /** The reference side of [[winnowedAgainst]]: (ref_id, rfps), the
    * sorted winnow fingerprints of every reference document. A caller
    * that probes the same frozen suite many times (a stream, once per
    * trigger) pins it once and passes it to [[winnowedAgainstFps]]. */
  private[graft] def winnowRef(ref: DataFrame, refIdCol: String, refTextCol: String,
                               k: Int, w: Int): DataFrame =
    ref.select(col(refIdCol).as("ref_id"), winnowFps(refTextCol, k, w).as("rfps"))

  private def winnowFps(textCol: String, k: Int, w: Int): Column =
    winnow_fps(coalesce(col(textCol), lit("")), k, w)

  /** [[winnowedAgainst]] over a precomputed [[winnowRef]] frame `b`
    * (same k/w). */
  private[graft] def winnowedAgainstFps(docs0: DataFrame, idCol: String, textCol: String,
                                        b: DataFrame, k: Int, w: Int, minShared: Long,
                                        maxDf: Long): DataFrame = {
    val docs = Lineage.pinDerived(docs0)
    winnowMatches(docs.select(col(idCol).as("id"), winnowFps(textCol, k, w).as("fps")),
      b, minShared, maxDf)
  }

  /** Column name of [[withWinnowFps]]. */
  private[graft] val WinFps = "__win_fps"

  /** `docs` plus [[WinFps]], the winnow fingerprints [[winnowedAgainst]]
    * computes for a document, null where `where` is not true. The
    * ingest path pins it beside the signature columns, so its winnow
    * probe ([[winnowFlagged]]) reads the column instead of rerunning
    * the kernel. */
  private[graft] def withWinnowFps(docs: DataFrame, textCol: String, k: Int, w: Int,
                                   where: Column = lit(true)): DataFrame =
    docs.withColumn(WinFps, when(where, winnowFps(textCol, k, w)))

  /** The distinct ids (`id`) of the rows of a [[withWinnowFps]] frame
    * that [[winnowedAgainst]] flags against a [[winnowRef]] frame `b`
    * (same k/w): the same candidates and verify, over the column, with
    * the df cap counted over `docs`. */
  private[graft] def winnowFlagged(docs: DataFrame, idCol: String, b: DataFrame,
                                   minShared: Long, maxDf: Long): DataFrame =
    winnowMatches(docs.select(col(idCol).as("id"), col(WinFps).as("fps")), b,
        minShared, maxDf)
      .select("id").distinct()

  /** Candidates and verify of [[winnowedAgainst]]: document fingerprint
    * sets `a` (id, fps) against reference sets `b` (ref_id, rfps). */
  private def winnowMatches(a: DataFrame, b: DataFrame, minShared: Long,
                            maxDf: Long): DataFrame = {
    require(minShared >= 1 && maxDf >= 1,
      s"minShared/maxDf must be >= 1, got $minShared/$maxDf")
    val pa = a.select(col("id"), explode(col("fps")).as("fp"))
    val pb = b.select(col("ref_id"), explode(col("rfps")).as("fp"))
    val dfa = pa.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    val cand = pa.join(dfa, "fp").join(pb, "fp")
      .select("id", "ref_id").distinct()
    cand
      .join(a.select(col("id"), col("fps"),
        size(col("fps")).cast("long").as("na")), "id")
      .join(b.select(col("ref_id"), col("rfps"),
        size(col("rfps")).cast("long").as("nb")), "ref_id")
      .withColumn("n_shared",
        inter_ge_sorted(col("fps"), col("rfps"), lit(minShared)))
      .filter(col("n_shared") >= minShared)
      .select(col("id"), col("ref_id"), col("n_shared"),
        expr("n_shared * 1000000 div least(na, nb)").as("overlap_pm"))
  }

  /** L106: content-level release diff — what CONTENT changed between
    * two corpus releases, independent of how documents were re-split:
    * the row-level diff (R30 snapshot CDC) reports a re-chunked
    * release as 100% changed while the actual text is identical; the
    * winnow fingerprint INVENTORY is chunking-robust (re-splitting a
    * doc loses only the ~w+k−1 boundary-straddling grams per cut).
    * Per group (e.g. source), the distinct fingerprint inventories of
    * both releases full-outer-join and fold to (n_a, n_b, n_common,
    * added_pm, removed_pm, jaccard_pm) — integer per-mille-of-union
    * rates. Inventory size is distinct-fingerprint-bounded (~2/(w+1)
    * of the gram count); the diff never reads text twice. */
  def contentDiff(relA: DataFrame, relB: DataFrame, idCol: String,
                  textCol: String, groupCol: String,
                  k: Int = 8, w: Int = 16): DataFrame =
    inventoryDiff(contentInventory(relA, textCol, groupCol, k, w),
      contentInventory(relB, textCol, groupCol, k, w))

  /** The distinct (grp, fp) winnow inventory of a release — the
    * DISTINCT union is idempotent and mergeable, which is what lets
    * the streaming monitor (C13ah) accumulate it per trigger. */
  def contentInventory(rel: DataFrame, textCol: String, groupCol: String,
                       k: Int = 8, w: Int = 16): DataFrame =
    rel.select(col(groupCol).as("grp"),
        explode(winnow_fps(coalesce(col(textCol), lit("")), k, w)).as("fp"))
      .distinct()

  /** Fold two (grp, fp) inventories to the per-group diff — see
    * [[contentDiff]] for the semantics. */
  def inventoryDiff(aInv: DataFrame, bInv: DataFrame): DataFrame = {
    val a = aInv.withColumn("in_a", lit(1L))
    val b = bInv.withColumn("in_b", lit(1L))
    a.join(b, Seq("grp", "fp"), "full_outer")
      .groupBy("grp")
      .agg(sum(coalesce(col("in_a"), lit(0L))).as("n_a"),
        sum(coalesce(col("in_b"), lit(0L))).as("n_b"),
        sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L)
          .otherwise(0L)).as("n_common"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_common"))
      .select(col("grp"), col("n_a"), col("n_b"), col("n_common"),
        expr("(n_b - n_common) * 1000000 div n_union").as("added_pm"),
        expr("(n_a - n_common) * 1000000 div n_union").as("removed_pm"),
        expr("n_common * 1000000 div n_union").as("jaccard_pm"))
  }

  // --- L99c winnow fingerprint state (streaming ingest probe) -------

  private def winnowSets(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), winnowFps(textCol, k, w).as("fps"))

  private def writeWinnowState(docs: DataFrame, idCol: String,
                               textCol: String, table: String, k: Int,
                               w: Int, buckets: Int, mode: String): Unit =
    writeProbeState(
      winnowSets(docs, idCol, textCol, k, w).withColumnRenamed("doc_id", "corpus_id"),
      sets => sets.select(col("corpus_id"), explode(col("fps")).as("fp")),
      "fp", table, buckets, mode)

  /** Persist the corpus's winnow-probe state: an inverted fingerprint
    * postings table `<table>` (fp, corpus_id) bucketed on the probe
    * key, plus the full-set sidecar `<table>_sets` (corpus_id, fps)
    * bucketed on the verify key — the local-match sibling of
    * [[buildSignatureTable]]/[[buildContainTable]]: build once, every
    * ingest batch probes with zero corpus recompute. Probes and
    * appends must use the SAME k/w/buckets as the build. */
  def buildWinnowTable(corpus: DataFrame, idCol: String, textCol: String,
                       table: String, k: Int = 8, w: Int = 16,
                       buckets: Int = 32): Unit =
    writeWinnowState(corpus, idCol, textCol, table, k, w, buckets,
      "overwrite")

  /** Append accepted rows to the winnow state (same layout and
    * k/w/buckets as the build). */
  def appendWinnowState(docs: DataFrame, idCol: String, textCol: String,
                        table: String, k: Int = 8, w: Int = 16,
                        buckets: Int = 32): Unit =
    writeWinnowState(docs, idCol, textCol, table, k, w, buckets, "append")

  /** L99c: winnow probe of an incoming batch against the persisted
    * state — (incoming_id, corpus_id, n_shared, overlap_pm) for every
    * incoming doc sharing ≥ minShared fingerprints with a corpus doc.
    * Candidates come from the postings join with the df cap computed
    * over the MATCHED slice on distinct corpus ids (batch-bounded;
    * duplicate postings from a replayed append can't inflate it, so
    * replay-idempotence holds structurally — the containment-family
    * lesson); verify is the exact merge over min-picked sidecar sets,
    * maxDf-independent like the batch matcher. */
  def winnowAgainstTable(incoming: DataFrame, idCol: String,
                         textCol: String, table: String, k: Int = 8,
                         w: Int = 16, minShared: Long = 8L,
                         maxDf: Long = 64L): DataFrame = {
    require(minShared >= 1 && maxDf >= 1,
      s"minShared/maxDf must be >= 1, got $minShared/$maxDf")
    val spark = incoming.sparkSession
    val posts = spark.table(table)
    val bs = winnowSets(incoming, idCol, textCol, k, w)
    val iposts = bs.select(col("doc_id").as("incoming_id"),
      explode(col("fps")).as("fp"))
    val cand0 = iposts.join(posts, "fp")
      .select(col("incoming_id"), col("corpus_id"), col("fp"))
      .distinct()
    val dfreq = cand0.groupBy("fp")
      .agg(countDistinct("corpus_id").as("df"))
      .filter(col("df") <= maxDf)
    val cand = cand0.join(dfreq.select("fp"), "fp")
      .select("incoming_id", "corpus_id").distinct()
    val csets = spark.table(s"${table}_sets")
      .groupBy(col("corpus_id")).agg(min(col("fps")).as("cfps"))
    cand
      .join(bs.select(col("doc_id").as("incoming_id"),
        col("fps").as("ifps"), size(col("fps")).cast("long").as("ni")),
        "incoming_id")
      .join(csets, "corpus_id")
      .withColumn("n_shared",
        inter_ge_sorted(col("ifps"), col("cfps"), lit(minShared)))
      .filter(col("n_shared") >= minShared)
      .select(col("incoming_id"), col("corpus_id"), col("n_shared"),
        expr("n_shared * 1000000 div least(ni, cast(size(cfps) as bigint))")
          .as("overlap_pm"))
  }

  /** L85: per-group BOTTOM-K sketch of the shingle inventory — the
    * k smallest signed FNV-64 shingle-string hashes per group
    * (Broder '97 bottom-k minhash). THE corpus-level overlap state
    * for 100 TB: S·k rows summarize every source's content universe,
    * the sketch of a union is the bottom-k of the merged sketches
    * (so per-source sketches persist and daily deltas fold in without
    * a corpus rescan), and pairwise resemblance estimation
    * ([[sketchResemblance]]) never touches the corpus again. One
    * linear explode + one (grp, sid) distinct shuffle; the per-group
    * bottom-k rank filter pushes WindowGroupLimit, so a map task
    * ships ≤ k rows per group. Returns (grp, sid, rk), rk ≤ k,
    * ascending by sid. */
  def corpusSketch(docs: DataFrame, textCol: String, groupCol: String,
                   k: Int, shingleN: Int = 3): DataFrame = {
    require(k >= 1, s"sketch size k must be >= 1, got $k")
    val sids = corpusShingleIds(docs, textCol, groupCol, shingleN)
    val w = Window.partitionBy("grp").orderBy("sid")
    sids.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Distinct (grp, sid) shingle inventory behind [[corpusSketch]] and
    * [[corpusResemblanceExact]] — sid is the SIGNED FNV-64 of the
    * w-shingle string, so the ascending order replays in any engine. */
  private def corpusShingleIds(docs: DataFrame, textCol: String,
                               groupCol: String, shingleN: Int): DataFrame =
    docs.filter(size(tokenize_ws(col(textCol))) > 0)
      .select(col(groupCol).as("grp"),
        explode(array_distinct(shingles(col(textCol), shingleN))).as("sh"))
      .select(col("grp"), fnv64(col("sh")).as("sid"))
      .distinct()

  /** L85: pairwise corpus resemblance from the SKETCHES ALONE — the
    * Broder bottom-k estimator: for each group pair, take the k
    * smallest sids of the merged sketches (m = that count, = k once
    * both sketches are full) and count how many live in BOTH; J ≈
    * n_common / m. Every frame is sketch-sized (S·k and S²·k rows) —
    * corpus size is gone from the cost model, which is the whole
    * point: comparing two 50 TB sources costs a 2k-row merge. When a
    * group's inventory is ≤ k the sketch is exhaustive and the
    * estimate is EXACT (DedupSpec pins this). Returns
    * (g1, g2, m, n_common, j_est_ppm) for every unordered pair. */
  def sketchResemblance(sketches: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"sketch size k must be >= 1, got $k")
    val sk = sketches.select(col("grp"), col("sid"))
    val grps = sk.select("grp").distinct()
    // G² pair frame (G = #groups, driver-bounded): broadcast the
    // right side so the inequality join is a bounded BNLJ, never a
    // shuffled cartesian
    val pairs = grps.select(col("grp").as("g1"))
      .join(broadcast(grps.select(col("grp").as("g2"))), col("g1") < col("g2"))
    val tagged = pairs
      .join(sk.select(col("grp").as("g1"), col("sid")), "g1")
      .select(col("g1"), col("g2"), col("sid"),
        lit(1L).as("in1"), lit(0L).as("in2"))
      .unionByName(pairs
        .join(sk.select(col("grp").as("g2"), col("sid")), "g2")
        .select(col("g1"), col("g2"), col("sid"),
          lit(0L).as("in1"), lit(1L).as("in2")))
    // per (pair, sid): side membership flags (sids are distinct within
    // a sketch, so max is exact)
    val merged = tagged.groupBy("g1", "g2", "sid")
      .agg(max("in1").as("in1"), max("in2").as("in2"))
    val w = Window.partitionBy("g1", "g2").orderBy("sid")
    merged.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .groupBy("g1", "g2")
      .agg(count(lit(1)).as("m"),
        sum(col("in1") * col("in2")).as("n_common"),
        sum(col("in1")).as("n_a"), sum(col("in2")).as("n_b"))
      // containment estimators (Broder's conditional form over the
      // merged bottom-k X): |X∩A∩B| / |X∩A| ≈ |A∩B|/|A|. A side can
      // be absent from X entirely (all its hashes above the other
      // side's k-th) — the estimate is undefined there; report 0.
      .select(col("g1"), col("g2"), col("m"), col("n_common"),
        expr("n_common * 1000000 div m").as("j_est_ppm"),
        when(col("n_a") > 0, expr("n_common * 1000000 div n_a"))
          .otherwise(0L).as("c_ab_est_ppm"),
        when(col("n_b") > 0, expr("n_common * 1000000 div n_b"))
          .otherwise(0L).as("c_ba_est_ppm"))
  }

  /** L85 audit twin: EXACT corpus-level Jaccard per group pair over
    * the full shingle-id inventory — what the sketch estimates. Three
    * inventory references (sizes + both self-join sides), so the
    * inventory re-derives per reference; at audit scale that is the
    * designed recompute-over-materialize trade, and at 100 TB you run
    * the sketch alone — this exists so the estimator's error is a
    * MEASURED column, not a trusted bound (the L7i recall-audit
    * discipline). Pairs sharing nothing are absent (join the
    * estimator output and coalesce to 0). */
  def corpusResemblanceExact(docs: DataFrame, textCol: String,
                             groupCol: String,
                             shingleN: Int = 3): DataFrame = {
    val inv = corpusShingleIds(docs, textCol, groupCol, shingleN)
    val sizes = inv.groupBy("grp").agg(count(lit(1)).as("sz"))
    inv.as("a")
      .join(inv.as("b"),
        col("a.sid") === col("b.sid") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("g1"), col("b.grp").as("g2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("grp").as("g1"), col("sz").as("sz1")), "g1")
      .join(sizes.select(col("grp").as("g2"), col("sz").as("sz2")), "g2")
      .select(col("g1"), col("g2"),
        expr("inter * 1000000 div (sz1 + sz2 - inter)").as("j_exact_ppm"),
        expr("inter * 1000000 div sz1").as("c_ab_exact_ppm"),
        expr("inter * 1000000 div sz2").as("c_ba_exact_ppm"))
  }
}
