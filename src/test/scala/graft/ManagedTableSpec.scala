package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curate, Dedup, Lexical}

/** Every rewrite of a persisted state table is write-then-swap
  * (`ManagedTable.replace`): when a maintenance entry's write fails at
  * job commit, every table it touches still reads its pre-call rows,
  * no `<t>_swap` table or directory is left behind, and repeating the
  * call completes it. */
class ManagedTableSpec extends SparkSpec {
  import spark.implicits._

  private def rows(t: String): Seq[String] =
    spark.table(t).collect().map(_.toString).sorted.toSeq

  private def swapLeft(t: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"${t}_swap".toLowerCase)
    spark.catalog.tableExists(s"${t}_swap") ||
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  /** `call` with writes into `armed` failing: it throws the injected
    * failure, and `tables` read their pre-call rows with no swap left. */
  private def failsCleanly(tables: Seq[String], armed: String)(call: => Unit): Unit = {
    val before = tables.map(t => t -> rows(t)).toMap
    val e = intercept[Exception](failingCommitsTo(armed)(call))
    assert(isInjectedCommitFailure(e), s"failed for another reason: $e")
    tables.foreach { t =>
      assert(spark.catalog.tableExists(t), s"$t is gone after a failed write")
      assert(rows(t) == before(t), s"$t changed after a failed write")
      assert(!swapLeft(t), s"${t}_swap left behind")
    }
  }

  private def dropAll(tables: Seq[String]): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private lazy val docs = table("documents").select("doc_id", "lang", "text")
    .localCheckpoint(true)
  private val LexParts = Seq("postings", "doclen", "termdf", "stats")

  test("deleteDocs: a failed rewrite keeps every index table") {
    val lex = "mt_lex_del"
    val tables = LexParts.map(p => s"${lex}_$p")
    val del = docs.filter($"doc_id" % 2 =!= 0).select("doc_id")
    try {
      Lexical.buildIndex(docs, "doc_id", "text", lex, buckets = 4)
      failsCleanly(tables, s"${lex}_postings") {
        Lexical.deleteDocs(spark, lex, del, "doc_id")
      }
      Lexical.deleteDocs(spark, lex, del, "doc_id")
      Lexical.buildIndex(docs.filter($"doc_id" % 2 === 0), "doc_id", "text",
        s"${lex}_ref", buckets = 4)
      LexParts.foreach(p => assert(rows(s"${lex}_$p") == rows(s"${lex}_ref_$p"), p))
    } finally dropAll(tables ++ LexParts.map(p => s"${lex}_ref_$p"))
  }

  test("appendDocs: a failed append or derived-table rewrite keeps every index table") {
    val lex = "mt_lex_app"
    val tables = LexParts.map(p => s"${lex}_$p")
    val odd = docs.filter($"doc_id" % 2 =!= 0)
    try {
      Lexical.buildIndex(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", lex,
        buckets = 4)
      failsCleanly(tables, s"${lex}_postings") {
        Lexical.appendDocs(odd, "doc_id", "text", lex, buckets = 4)
      }
      // the postings and doclen appends commit; the term-df rewrite fails
      failsCleanly(Seq(s"${lex}_termdf", s"${lex}_stats"), s"${lex}_termdf") {
        Lexical.appendDocs(odd, "doc_id", "text", lex, buckets = 4)
      }
    } finally dropAll(tables)
  }

  private val isEn = col("lang") === "en"
  private def dsirTables(t: String) = Seq(s"${t}_dsir_counts", s"${t}_dsir_totals")

  test("appendDsirCounts: a failed rewrite keeps the counts") {
    val t = "mt_dsir_app"
    val odd = docs.filter($"doc_id" % 2 =!= 0)
    try {
      Curate.buildDsirCounts(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", isEn, t)
      failsCleanly(dsirTables(t), s"${t}_dsir_counts") {
        Curate.appendDsirCounts(odd, "doc_id", "text", isEn, t)
      }
      Curate.appendDsirCounts(odd, "doc_id", "text", isEn, t)
      Curate.buildDsirCounts(docs, "doc_id", "text", isEn, s"${t}_ref")
      dsirTables(t).zip(dsirTables(s"${t}_ref"))
        .foreach { case (got, ref) => assert(rows(got) == rows(ref), got) }
    } finally dropAll(dsirTables(t) ++ dsirTables(s"${t}_ref"))
  }

  test("removeDsirCounts: a failed rewrite keeps the counts") {
    val t = "mt_dsir_rm"
    val odd = docs.filter($"doc_id" % 2 =!= 0)
    try {
      Curate.buildDsirCounts(docs, "doc_id", "text", isEn, t)
      failsCleanly(dsirTables(t), s"${t}_dsir_counts") {
        Curate.removeDsirCounts(odd, "doc_id", "text", isEn, t)
      }
      Curate.removeDsirCounts(odd, "doc_id", "text", isEn, t)
      Curate.buildDsirCounts(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", isEn,
        s"${t}_ref")
      dsirTables(t).zip(dsirTables(s"${t}_ref"))
        .foreach { case (got, ref) => assert(rows(got) == rows(ref), got) }
    } finally dropAll(dsirTables(t) ++ dsirTables(s"${t}_ref"))
  }

  test("removeSignatures / removeFromPairTable: a failed rewrite keeps the state") {
    val (sig, pairs) = ("mt_sig", "mt_pairs")
    val tables = Seq(sig, pairs, s"${pairs}_toks")
    val erased = docs.filter($"doc_id" % 5 === 0).select("doc_id")
    try {
      Dedup.buildSignatureTable(docs, "doc_id", "text", sig)
      Dedup.buildGroupedPairTable(docs, "doc_id", "text", "lang", pairs,
        minJaccard = 0.9, parallelBuckets = 4)
      failsCleanly(Seq(sig), sig) {
        Dedup.removeSignatures(spark, sig, erased, "doc_id")
      }
      failsCleanly(Seq(pairs, s"${pairs}_toks"), pairs) {
        Dedup.removeFromPairTable(spark, pairs, erased, "doc_id")
      }
      Dedup.removeFromPairTable(spark, pairs, erased, "doc_id")
      // the rewrite keeps the tenant partitioning
      assert(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(pairs)).partitionColumnNames == Seq("lang"))
      assert(!swapLeft(pairs) && !swapLeft(s"${pairs}_toks"))
    } finally dropAll(tables)
  }
}
