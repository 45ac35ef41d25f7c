package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed gives the same inputs; the
  * engine only ever sees what is generated here. */
object Gen {
  private val Alphabet =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789+/"

  /** Random printable payload: 6 bits per character, so parquet's page
    * compression cannot shrink it much and on-disk bytes track payload
    * bytes. */
  def payload(rng: SplittableRandom, len: Int): String = {
    val cs = new Array[Char](len)
    var i = 0
    while (i < len) { cs(i) = Alphabet.charAt(rng.nextInt(64)); i += 1 }
    new String(cs)
  }

  /** `n` batch sizes spread evenly over [lo, hi] in a seeded order: the
    * order varies with the seed, the total does not, so seeds change
    * which batch is large but not how much work a run does. */
  def sizes(rng: SplittableRandom, lo: Int, hi: Int, n: Int): IndexedSeq[Int] = {
    val mix = Array.tabulate(n)(j => lo + math.round(j * (hi - lo).toDouble / math.max(n - 1, 1)).toInt)
    for (i <- mix.indices.reverse) {
      val k = rng.nextInt(i + 1)
      val t = mix(i); mix(i) = mix(k); mix(k) = t
    }
    mix.toIndexedSeq
  }

  /** Rows `(id, body)`: ids continue from `firstId`; a body's length
    * (0.75 to 1.25 x `len`) and content depend only on (seed, id). */
  def queueRows(seed: Long, firstId: Long, n: Int, len: Int): IndexedSeq[(Long, String)] =
    (0 until n).map { i =>
      val id = firstId + i
      val rng = new SplittableRandom(seed * 1000003L + id)
      (id, payload(rng, len * 3 / 4 + rng.nextInt(len / 2 + 1)))
    }

  // the vocabulary, length range, language mix and duplicate share of
  // the engine's sf-scaled `documents` test table
  private val Vocab = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "de", "es", "fr", "zh")

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** `n` documents, ids 0 until n: 10-99 words drawn uniformly from the
    * vocabulary; every 20th document (5%) is a copy of a random earlier
    * one with one word appended (a near duplicate); language mix 41% en. */
  def documents(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rng = new SplittableRandom(seed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val text =
        if (i >= 20 && i % 20 == 0) texts(rng.nextInt(i)) + " dup"
        else (0 until 10 + rng.nextInt(90)).map(_ => Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      texts(i) = text
      val lang = if (rng.nextInt(100) < 41) "en" else Langs(1 + rng.nextInt(4))
      Doc(i.toLong, text, lang, s"src${i % 20}")
    }
  }

  def documentsDf(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** The tables the batch queries read (orders, lineitem, supplier,
    * documents, embeddings) at scale factor `sf` (sf 1 = 1.5M orders),
    * written as parquet under `dir` with the column names and types of
    * the engine's test tables. */
  def tables(spark: SparkSession, seed: Long, sf: Double, dir: String): Unit = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = 4 * nOrd
    val nDocs = n(50000).toInt; val nVec = n(20000)
    def r(k: Int) = rand(seed * 31 + k)
    def pick(xs: Seq[String], k: Int) =
      element_at(array(xs.map(lit): _*), (floor(r(k) * xs.size) + 1).cast("int"))
    def money(k: Int, scale: Double) = round(r(k) * scale, 2)
    def day(k: Int, base: String, days: Int) = timestamp_seconds(
      lit(java.time.LocalDate.parse(base).toEpochDay * 86400L) +
        floor(r(k) * days).cast("long") * 86400L)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def range(m: Long) = spark.range(0, m, 1, 4)

    write(range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      floor(r(4) * 25).cast("int").as("s_nationkey"),
      money(5, 10000).as("s_acctbal")), "supplier")
    write(range(nOrd).select(col("id").as("o_orderkey"),
      floor(r(11) * nCust).cast("long").as("o_custkey"),
      pick(Seq("F", "O", "P"), 12).as("o_orderstatus"),
      money(13, 400000).as("o_totalprice"),
      day(14, "1995-01-01", 2404).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15)
        .as("o_orderpriority")), "orders")
    write(range(nLine).select(
      floor(r(16) * nOrd).cast("long").as("l_orderkey"),
      floor(r(17) * nPart).cast("long").as("l_partkey"),
      floor(r(18) * nSupp).cast("long").as("l_suppkey"),
      (col("id") % 7 + 1).cast("int").as("l_linenumber"),
      (floor(r(19) * 50) + 1).cast("double").as("l_quantity"),
      money(20, 100000).as("l_extendedprice"),
      (floor(r(21) * 11) / 100).as("l_discount"),
      (floor(r(22) * 9) / 100).as("l_tax"),
      pick(Seq("A", "N", "R"), 23).as("l_returnflag"),
      pick(Seq("O", "F"), 24).as("l_linestatus"),
      day(25, "1995-01-02", 2500).as("l_shipdate")), "lineitem")
    write(documentsDf(spark, documents(seed, nDocs)).repartition(1), "documents")
    // ten labelled clusters in 64 dimensions
    write(range(nVec).select(col("id").as("vec_id"),
      (floor(r(26) * 10)).cast("int").as("label")).select(col("vec_id"),
      array((0 until 64).map(j =>
        (sin(col("label") * 7 + j) * 0.2 + randn(seed * 31 + 100 + j) * 0.1)
          .cast("float")): _*).as("embedding"), col("label")), "embeddings")
  }
}
