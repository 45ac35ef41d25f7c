package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/** L24b: persisted inverted index for lexical (BM25) retrieval — the
  * build-once / probe-many twin of `Ann.buildIvfIndex` on the text
  * side. The index is four tables:
  *  - `<t>_postings` (term, doc_id, tf), bucketed AND sorted by term:
  *    a probe for k query terms reads only the buckets those terms
  *    hash to (bucket pruning) and within them skips row groups by the
  *    sorted term's min/max — the scan cost follows the query, not the
  *    corpus;
  *  - `<t>_doclen` (doc_id, dl), bucketed by doc_id: the candidate
  *    join shuffles only candidates (the corpus side pre-paid its
  *    shuffle at build);
  *  - `<t>_termdf` (term, df): per-term document frequencies;
  *  - `<t>_stats`: one row (n_docs, sum_dl).
  * [[appendDocs]] and [[deleteDocs]] rewrite tables only through
  * [[ManagedTable.replace]] (write-then-swap), so a failed maintenance
  * call never drops the only copy of a table. Scoring replicates the
  * rational-idf BM25 of `q_bm25` bit-exactly, so the from-index search
  * hash-matches the from-scratch oracle.
  */
object Lexical {

  private val Parts = Seq("postings", "doclen", "termdf", "stats")

  /** The positional postings (term, doc_id, tf, positions) and doc
    * lengths (doc_id, dl) of a document frame: 1-based token positions
    * per (term, doc) — tf is their count, phrase search intersects
    * adjacent positions. */
  private def postingsAndLengths(docs: DataFrame, idCol: String,
                                 textCol: String): (DataFrame, DataFrame) = {
    val toks = docs.select(col(idCol).as("doc_id"),
      tokenize_ws(col(textCol)).as("toks"))
    val tf = toks.select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), col("col").as("term"), (col("pos") + 1).as("p"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("p"))).as("positions"))
    (tf, toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl")))
  }

  /** The derived tables by part name: `termdf` aggregates the
    * COMMITTED postings, `stats` the committed doclen — never the
    * upstream frame, so the corpus is tokenized exactly twice (postings
    * + doclen writes) and maintenance never rescans it. */
  private def derived(spark: SparkSession, table: String): Seq[(String, DataFrame)] = Seq(
    "termdf" -> spark.table(s"${table}_postings")
      .groupBy("term").agg(count(lit(1)).as("df")),
    "stats" -> spark.table(s"${table}_doclen")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")))

  private def replaceDerived(spark: SparkSession, table: String): Unit =
    derived(spark, table).foreach { case (p, rows) =>
      ManagedTable.replace(spark, s"${table}_$p", rows)
    }

  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
                 table: String, buckets: Int = 32): Unit = {
    val spark = docs.sparkSession
    Parts.foreach(p => ManagedTable.drop(spark, s"${table}_$p"))
    val (tf, dl) = postingsAndLengths(docs, idCol, textCol)
    tf.write.mode("overwrite").bucketBy(buckets, "term").sortBy("term")
      .format("parquet").saveAsTable(s"${table}_postings")
    dl.write.mode("overwrite").bucketBy(buckets, "doc_id")
      .format("parquet").saveAsTable(s"${table}_doclen")
    derived(spark, table).foreach { case (p, rows) =>
      rows.write.mode("overwrite").format("parquet").saveAsTable(s"${table}_$p")
    }
  }

  /** Incremental index maintenance: append a batch's postings and doc
    * lengths (same bucket layout the build used — appends land in the
    * matching buckets), then rebuild the derived term-df and stats
    * tables FROM the committed postings/doclen (aggregates over the
    * index, never a corpus rescan) by [[ManagedTable.replace]]. After
    * the append, searches see the union corpus exactly as a full
    * rebuild would. */
  def appendDocs(docs: DataFrame, idCol: String, textCol: String,
                 table: String, buckets: Int = 32): Unit = {
    val spark = docs.sparkSession
    // re-appending an existing doc_id would split its (term, doc_id)
    // postings across rows — inflating df and double-counting the
    // nonlinear tfn, silently diverging from a full rebuild. Fail
    // loudly (same contract as appendToGroupedIvfIndex): dedup or
    // rebuild instead.
    val dup = docs.select(col(idCol).as("doc_id"))
      .join(spark.table(s"${table}_doclen"), Seq("doc_id"), "left_semi")
      .limit(5).collect().map(_.get(0))
    require(dup.isEmpty,
      s"appendDocs batch contains doc ids already in $table " +
        s"(${dup.mkString(", ")}${if (dup.length == 5) ", ..." else ""}) " +
        "— searches would diverge from a rebuild; dedup the batch first")
    val (tf, dl) = postingsAndLengths(docs, idCol, textCol)
    tf.write.mode("append").bucketBy(buckets, "term").sortBy("term")
      .format("parquet").saveAsTable(s"${table}_postings")
    dl.write.mode("append").bucketBy(buckets, "doc_id")
      .format("parquet").saveAsTable(s"${table}_doclen")
    replaceDerived(spark, table)
  }

  /** Index-lifecycle deletion: drop a batch of doc ids from the
    * persisted index (retraction / right-to-erasure). Postings and
    * doclen are rewritten WITHOUT the deleted ids in their original
    * bucket layout; the derived term-df and stats tables rebuild from
    * the committed survivors — so after the delete, searches are
    * exactly a from-scratch index over the remaining corpus (df drops
    * when a term's last holder goes, avgdl shifts; spec-gated).
    *
    * Scale contract: a delete is a bulk rewrite of both bucketed
    * tables — BATCH retraction sets and apply them together (the same
    * amortize-the-rewrite economics as queue compaction). A workload
    * needing frequent row-level erasure at 100 TB wants a tombstone
    * table consulted at probe time instead, at the price of an
    * anti-join on every search. Unknown ids are a no-op. Each table is
    * rewritten by [[ManagedTable.replace]], which takes the bucket
    * layout from the CATALOG, not a parameter — a caller-supplied
    * count that disagreed with the build would silently re-bucket the
    * index and break later appendDocs — and swaps only after the new
    * rows are committed, so a failed delete loses no table, and
    * repeating it completes it (an id already gone is a no-op). */
  def deleteDocs(spark: SparkSession, table: String, ids: DataFrame,
                 idCol: String): Unit = {
    val del = ids.select(col(idCol).as("doc_id"))
    Seq("postings", "doclen").foreach { p =>
      val t = s"${table}_$p"
      ManagedTable.replace(spark, t,
        spark.table(t).join(broadcast(del), Seq("doc_id"), "left_anti"))
    }
    replaceDerived(spark, table)
  }

  /** Shared BM25 contribution pipeline: postings restricted to the
    * probe terms, joined to df/doclen/stats, scored with the rational
    * idf and integer-quantized per-term contributions. ONE definition
    * so the single-query and batched paths cannot drift (the batch ≡
    * single parity tests and the oracle both depend on bit-equality).
    */
  private def scoredContribs(spark: SparkSession, table: String,
                             terms: Seq[String]): DataFrame = {
    val postings = spark.table(s"${table}_postings")
      .filter(col("term").isin(terms: _*))
    val dfT = spark.table(s"${table}_termdf")
      .filter(col("term").isin(terms: _*))
    val dl = spark.table(s"${table}_doclen")
    val stats = spark.table(s"${table}_stats")
    postings.join(broadcast(dfT), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
      .withColumn("tfn",
        col("tf") * 2.2 /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))))
      .withColumn("contrib",
        floor(col("idf") * col("tfn") * 1e6 + 0.5).cast("long"))
  }

  /** BM25 top-k against a persisted index. Postings/termdf scans carry
    * `term IN (...)` (bucket-pruned + sorted row-group skipping); the
    * term-df table is broadcast; corpus stats ride a 1-row crossJoin;
    * the doclen join is bucket-co-located on doc_id. */
  def searchBm25(spark: SparkSession, table: String, terms: Seq[String],
                 k: Int): DataFrame =
    scoredContribs(spark, table, terms)
      .groupBy("doc_id").agg(sum(col("contrib")).as("score_q"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(k)

  /** BM25 top-k for a BATCH of queries — the multi-query serving shape
    * (and the per-trigger body of streaming lexical retrieval). The
    * batch's distinct terms are collected driver-side (bounded: the
    * batch's vocabulary, the same driver-artifact contract as the IVF
    * probe's cell list) and pushed as `term IN (...)`, so postings and
    * term-df scans stay bucket-pruned — the read follows the batch's
    * vocabulary, never the corpus. Each posting row then joins the
    * broadcast (query_id, term) pairs, so shared terms between queries
    * are read ONCE and scored per query. Scoring is bit-identical to
    * [[searchBm25]] (rational idf, integer-quantized contributions);
    * per-query ranking rides WindowGroupLimit. */
  def searchBm25Batch(queries: DataFrame, idCol: String, textCol: String,
                      table: String, k: Int): DataFrame = {
    val spark = queries.sparkSession
    // checkpointed so the driver-side terms collect and the final join
    // see the SAME probe rows (a nondeterministic query frame would
    // otherwise score terms excluded from the postings scan) — the
    // same hazard Ann.searchIvfIndex guards its probes against
    val qTerms = queries.select(col(idCol).as("query_id"),
        explode(array_distinct(tokenize_ws(col(textCol)))).as("term"))
      .transform(graft.operators.Lineage.pin)
    val terms = qTerms.select("term").distinct()
      .collect().map(_.getString(0)).toSeq
    // empty batch vocabulary: same shape (column order AND types) as
    // the scored path so callers can union/append either result;
    // query_id keeps the caller's id type, doc_id the index's
    if (terms.isEmpty) return queries.limit(0)
      .select(col(idCol).as("query_id"), lit(0).as("rank"),
        lit(null).cast(spark.table(s"${table}_postings").schema("doc_id").dataType)
          .as("doc_id"),
        lit(0L).as("score_q"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_q").desc, col("doc_id"))
    scoredContribs(spark, table, terms)
      .join(broadcast(qTerms), Seq("term"))
      .groupBy("query_id", "doc_id").agg(sum(col("contrib")).as("score_q"),
        count(lit(1)).as("n_terms"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score_q")
  }

  /** Exact phrase search against the positional postings: docs where
    * the phrase's tokens occur at consecutive positions, with the
    * occurrence count. One bucket-pruned postings read per phrase term
    * and |phrase|-1 narrow doc_id joins, each intersecting shifted
    * position lists — the scan and the joins follow the phrase, not
    * the corpus. Returns (doc_id, n_matches). */
  def searchPhrase(spark: SparkSession, table: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val p = spark.table(s"${table}_postings")
    var cur = p.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("positions").as("pos"))
    phrase.tail.foreach { t =>
      val nxt = p.filter(col("term") === t)
        .select(col("doc_id"), col("positions").as("npos"))
      // positions where the phrase-so-far ends adjacent to the next term
      cur = cur.join(nxt, Seq("doc_id"))
        .select(col("doc_id"),
          array_intersect(transform(col("pos"), x => x + 1), col("npos")).as("pos"))
        .filter(size(col("pos")) > 0)
    }
    cur.select(col("doc_id"), size(col("pos")).cast("long").as("n_matches"))
  }

  /** L90: KWIC concordance (keyword-in-context) — the corpus
    * inspection tool behind every blocklist/quality-rule decision:
    * "show me how this term is actually used" with ±`width` tokens of
    * context. Occurrences come from the positional POSTINGS (inverted
    * probe — the corpus is never scanned for the terms); the per-term
    * top-`perTerm` cap rides WindowGroupLimit in deterministic
    * (doc_id, pos) order, and ONLY the matched documents join back
    * (broadcast of the ≤ terms·perTerm hit list) to tokenize and
    * slice context — at 100 TB the text pass follows the hits, not
    * the corpus. Returns (term, rk, doc_id, pos, context), pos
    * 1-based in tokens. */
  def concordance(docs: DataFrame, idCol: String, textCol: String,
                  table: String, terms: Seq[String], width: Int = 3,
                  perTerm: Int = 5): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      s"terms must be non-empty and distinct, got $terms")
    require(width >= 0, s"width must be >= 0, got $width")
    require(perTerm >= 1, s"perTerm must be >= 1, got $perTerm")
    val spark = docs.sparkSession
    val occ = spark.table(s"${table}_postings")
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), explode(col("positions")).as("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy("doc_id", "pos")
    val top = occ.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= perTerm)
      .transform(graft.operators.Lineage.pin) // ≤ terms·perTerm rows, referenced twice below
    val hitDocs = top.select("doc_id").distinct()
    val toks = docs
      .join(broadcast(hitDocs), docs(idCol) === hitDocs("doc_id"))
      .select(docs(idCol).as("doc_id"),
        graft.functions.tokenize_ws(col(textCol)).as("__t"))
    val start = greatest(lit(1), col("pos") - width)
    val stop = least(size(col("__t")), col("pos") + width)
    top.join(toks, Seq("doc_id"))
      .select(col("term"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("pos").cast("long").as("pos"),
        concat_ws(" ", slice(col("__t"), start.cast("int"),
          (stop - start + 1).cast("int"))).as("context"))
  }
}
