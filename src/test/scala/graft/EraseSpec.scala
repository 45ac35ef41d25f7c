package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Curate, Dedup, Erase, Lexical}

/** L65 composed erasure: after one `Erase.erase` call the erased ids
  * stop answering on EVERY persisted surface, survivors keep working,
  * and the DSIR model forgets the erased content. */
class EraseSpec extends SparkSpec {
  import spark.implicits._

  test("erase removes the ids from lexical, IVF, signatures, and DSIR at once") {
    val docs = table("documents").localCheckpoint(true)
    val emb = table("embeddings").localCheckpoint(true)
    val erasedIds = Seq(3L, 7L, 11L)
    val idsDf = erasedIds.toDF("doc_id")

    // build all four surfaces
    val lex = "erase_spec_lex"
    Lexical.buildIndex(docs, "doc_id", "text", lex)
    val ivf = java.nio.file.Files.createTempDirectory("erase_ivf").toString + "/idx"
    Ann.buildIvfIndex(emb.withColumnRenamed("vec_id", "doc_id"),
      "doc_id", "embedding", ivf, nClusters = 4, iters = 1, trainFraction = 1.0)
    val sig = "erase_spec_sig"
    Dedup.buildSignatureTable(docs, "doc_id", "text", sig)
    val dsir = "erase_spec_dsir"
    Curate.buildDsirCounts(docs, "doc_id", "text", col("lang") === "en", dsir)

    // the erased docs are visible everywhere beforehand
    val probeText = docs.filter(col("doc_id") === 3L)
      .select("text").head().getString(0)
    val probeTerm = probeText.split("\\s+").head
    assert(Lexical.searchBm25(spark, lex, Seq(probeTerm), k = 1000)
      .filter(col("doc_id").isin(erasedIds: _*)).count() > 0)
    // synthetic query id: searchIvfIndex excludes self-matches, so the
    // probe must not share an id with the target
    val probeVec = emb.filter(col("vec_id") === 3L)
      .select(lit(900000L).as("qid"), col("embedding"))
    assert(Ann.searchIvfIndex(spark, ivf, probeVec, "qid", "embedding",
        k = 3, nProbe = 4)
      .filter(col("nn_id") === 3L).count() == 1,
      "the erased doc's vector matches itself before erase")
    assert(Dedup.minhashAgainstTable(
        docs.filter(col("doc_id") === 3L)
          .select(col("doc_id") + 100000L as "doc_id", col("text")),
        "doc_id", "text", sig)
      .filter(col("corpus_id") === 3L).count() > 0, "signature hit before erase")

    // one call
    Erase.erase(spark, idsDf, "doc_id", Erase.Surfaces(
      lexIndex = Some(lex), ivfIndexPath = Some(ivf),
      signatureTable = Some(sig)))
    Erase.eraseDsir(docs.filter(col("doc_id").isin(erasedIds: _*)),
      "doc_id", "text", col("lang") === "en", dsir)

    // gone from every surface; survivors still answer
    val lexAfter = Lexical.searchBm25(spark, lex, Seq(probeTerm), k = 1000)
    assert(lexAfter.filter(col("doc_id").isin(erasedIds: _*)).isEmpty)
    assert(lexAfter.count() > 0, "survivors still searchable")
    val ivfAfter = Ann.searchIvfIndex(spark, ivf, probeVec, "qid",
      "embedding", k = 3, nProbe = 4)
    assert(ivfAfter.filter(col("nn_id").isin(erasedIds: _*)).isEmpty)
    assert(ivfAfter.count() > 0)
    assert(Dedup.minhashAgainstTable(
        docs.filter(col("doc_id") === 3L)
          .select(col("doc_id") + 100000L as "doc_id", col("text")),
        "doc_id", "text", sig)
      .filter(col("corpus_id").isin(erasedIds: _*)).isEmpty,
      "an erased doc must stop matching future ingest probes")

    // DSIR model equals one trained WITHOUT the erased docs
    val expected = {
      val t2 = "erase_spec_dsir_ref"
      Curate.buildDsirCounts(docs.filter(!col("doc_id").isin(erasedIds: _*)),
        "doc_id", "text", col("lang") === "en", t2)
      spark.table(s"${t2}_dsir_counts").orderBy("f")
        .collect().map(_.toSeq).toSeq
    }
    val got = spark.table(s"${dsir}_dsir_counts").orderBy("f")
      .collect().map(_.toSeq).toSeq
    assert(got == expected, "erased counts ≡ never-ingested counts")
  }

  test("erase removes the ids from the containment and winnow ingest state") {
    val docs = table("documents").select("doc_id", "text").localCheckpoint(true)
    val erased = Seq(3L, 7L, 11L)
    val survivors = docs.filter(!col("doc_id").isin(erased: _*))
    val (ct, wt) = ("erase_spec_contain", "erase_spec_winnow")
    val (ctRef, wtRef) = ("erase_spec_contain_ref", "erase_spec_winnow_ref")
    // every document's copy under a fresh id: each one fully contains,
    // and shares every fingerprint with, its original
    val probe = docs.select(col("doc_id") + 100000L as "doc_id", col("text"))
    def contained(t: String) = Dedup.containedAgainstTable(probe, "doc_id", "text", t,
        num = 9, den = 10)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    def winnowed(t: String) = Dedup.winnowAgainstTable(probe, "doc_id", "text", t,
        minShared = 2L)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    def corpusIds(hits: Seq[Seq[Any]]) = hits.map(_(1).asInstanceOf[Long]).toSet
    try {
      Dedup.buildContainTable(docs, "doc_id", "text", ct)
      Dedup.buildWinnowTable(docs, "doc_id", "text", wt)
      assert(erased.toSet.subsetOf(corpusIds(contained(ct))), "containment hits before erase")
      assert(erased.toSet.subsetOf(corpusIds(winnowed(wt))), "winnow hits before erase")

      Erase.erase(spark, erased.toDF("doc_id"), "doc_id",
        Erase.Surfaces(containTable = Some(ct), winnowTable = Some(wt)))

      Dedup.buildContainTable(survivors, "doc_id", "text", ctRef)
      Dedup.buildWinnowTable(survivors, "doc_id", "text", wtRef)
      val (c, w) = (contained(ct), winnowed(wt))
      assert((corpusIds(c) ++ corpusIds(w)).intersect(erased.toSet).isEmpty,
        "an erased doc must stop matching containment and winnow probes")
      assert(c == contained(ctRef), "erased containment state ≡ a build over the survivors")
      assert(w == winnowed(wtRef), "erased winnow state ≡ a build over the survivors")
    } finally Seq(ct, wt, ctRef, wtRef).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_sets")
    }
  }

  test("removeSignatures erases ids from a table grown by several appends") {
    val docs = table("documents").select("doc_id", "text").localCheckpoint(true)
    val sig = "erase_spec_sig_appended"
    def part(r: Int) = docs.filter(col("doc_id") % 3 === r)
    try {
      Dedup.buildSignatureTable(part(0), "doc_id", "text", sig)
      Dedup.appendSignatures(part(1), "doc_id", "text", sig)
      Dedup.appendSignatures(part(2), "doc_id", "text", sig)
      // one erased id from the build and one from each append
      val erased = (0 to 2).map(r => part(r).agg(min("doc_id")).head.getLong(0))
      val probe = docs.filter(col("doc_id").isin(erased: _*))
        .select(col("doc_id") + 100000L as "doc_id", col("text"))
      def hits() = Dedup.minhashAgainstTable(probe, "doc_id", "text", sig)
        .select("corpus_id").distinct().collect().map(_.getLong(0)).toSet
      assert(erased.toSet.subsetOf(hits()), "every erased id matches before erase")
      Dedup.removeSignatures(spark, sig, erased.toDF("doc_id"), "doc_id")
      val after = hits()
      assert((after & erased.toSet).isEmpty, s"erased ids still match: ${after & erased.toSet}")
      assert(spark.table(sig).select("id").distinct().count() == docs.count() - erased.size,
        "every other document keeps its signatures")
    } finally spark.sql(s"DROP TABLE IF EXISTS $sig")
  }
}
