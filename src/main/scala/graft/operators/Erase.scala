package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** L65: right-to-be-forgotten across EVERY persisted surface
  * (SURVEY.md §2). A takedown that only deletes corpus rows is not an
  * erasure: the document keeps answering retrieval queries through the
  * lexical and ANN indexes, keeps suppressing look-alike ingests
  * through the dedup signature, containment and winnow state, and
  * keeps biasing selection through the DSIR model counts. This is the
  * one entry point that drives the per-artifact deletion APIs
  * together — each of which is individually spec-gated as
  * delete ≡ rebuild-from-survivors:
  *
  *  - [[Lexical.deleteDocs]] — postings + doclen + df (bucketed rewrite)
  *  - [[Ann.deleteFromIvfIndex]] / [[Ann.deleteFromIvfPqIndex]] —
  *    cell-pruned partition rewrites, emptied cells dropped
  *  - [[Dedup.removeSignatures]] — banded MinHash signatures
  *  - [[Dedup.removeFromPairTable]] — exact pair graph + token sets
  *  - the containment and winnow ingest state
  *    ([[Dedup.buildContainTable]], [[Dedup.buildWinnowTable]]) —
  *    postings + `_sets` sidecar, by `corpus_id`
  *  - [[Curate.removeDsirCounts]] — importance-model count decrement
  *    (needs the erased rows' CONTENT, hence the separate entry point)
  *
  * Every catalog-table surface is rewritten by
  * [[ManagedTable.replace]] (write-then-swap), so a failed erasure
  * leaves each table readable and can be repeated. Cost model at
  * 100 TB: each surface rewrites only what indexes the erased ids
  * (pruned cells / bucketed tables / B-row counts) — never the corpus,
  * never a full index.
  */
object Erase {

  /** The persisted surfaces a deployment actually built; None = not
    * present, skipped. */
  case class Surfaces(lexIndex: Option[String] = None,
                      ivfIndexPath: Option[String] = None,
                      ivfPqIndexPath: Option[String] = None,
                      signatureTable: Option[String] = None,
                      pairTable: Option[String] = None,
                      containTable: Option[String] = None,
                      winnowTable: Option[String] = None)

  /** Erase `ids` from every surface in `s`. Id-keyed surfaces only —
    * DSIR counts need the erased rows' text: call [[eraseDsir]] with
    * the full rows as well when a DSIR model is deployed. */
  def erase(spark: SparkSession, ids: DataFrame, idCol: String,
            s: Surfaces): Unit = {
    s.lexIndex.foreach(t => Lexical.deleteDocs(spark, t, ids, idCol))
    s.ivfIndexPath.foreach(p => Ann.deleteFromIvfIndex(spark, p, ids, idCol))
    s.ivfPqIndexPath.foreach(p => Ann.deleteFromIvfPqIndex(spark, p, ids, idCol))
    s.signatureTable.foreach(t => Dedup.removeSignatures(spark, t, ids, idCol))
    // the pair graph holds DERIVED content (exact token sets + dup
    // relations) — r10 closes the takedown gap
    s.pairTable.foreach(t => Dedup.removeFromPairTable(spark, t, ids, idCol))
    (s.containTable ++ s.winnowTable).foreach(t => eraseProbeState(spark, t, ids, idCol))
  }

  /** Erase ids from an ingest probe state (containment or winnow): its
    * postings `<t>` and its `_sets` sidecar both key documents by
    * `corpus_id`, and both hold the erased documents' shingle sets or
    * fingerprints. */
  private def eraseProbeState(spark: SparkSession, table: String,
                              ids: DataFrame, idCol: String): Unit = {
    val del = ids.select(col(idCol).as("corpus_id"))
    Seq(table, s"${table}_sets").foreach { t =>
      ManagedTable.replace(spark, t,
        spark.table(t).join(broadcast(del), Seq("corpus_id"), "left_anti"))
    }
  }

  /** Decrement the DSIR model counts for erased rows (content-keyed:
    * pass the rows being erased, with the same isTarget expression the
    * model was built with). */
  def eraseDsir(rows: DataFrame, idCol: String, textCol: String,
                isTarget: Column, table: String): Unit =
    Curate.removeDsirCounts(rows, idCol, textCol, isTarget, table)
}
