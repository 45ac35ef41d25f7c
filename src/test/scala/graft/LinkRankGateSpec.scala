package graft

import graft.operators.LinkRank

/** The long-arithmetic fast path of PageRank/HITS is exact only for
  * non-negative weights (mass conservation bounds rank·w by scale·w),
  * so a negative weight or an edge list with no weight at all is a
  * named error, never a silently wrong rank. */
class LinkRankGateSpec extends SparkSpec {
  import spark.implicits._

  private val Scale = 1000000000000L
  // |w| small enough that scale·|w| fits a long: a max(w)-only gate
  // takes the long path and runs
  private val neg = Seq(("a", "b", 1L), ("a", "c", 1L), ("c", "b", 2L),
    ("b", "a", -(Long.MaxValue / Scale))).toDF("src", "dst", "w")

  test("pageRank rejects a negative edge weight by name") {
    val e = intercept[IllegalArgumentException](
      LinkRank.pageRank(neg, "src", "dst", "w", iters = 3).collect())
    assert(e.getMessage.contains("non-negative"), e.getMessage)
  }

  test("hits rejects a negative edge weight by name") {
    val e = intercept[IllegalArgumentException](
      LinkRank.hits(neg, "src", "dst", "w", iters = 3).collect())
    assert(e.getMessage.contains("non-negative"), e.getMessage)
  }

  test("an edge list without weights is a named empty-graph error") {
    val empty = Seq.empty[(String, String, Long)].toDF("src", "dst", "w")
    Seq[() => Unit](
      () => LinkRank.pageRank(empty, "src", "dst", "w", iters = 2).collect(),
      () => LinkRank.hits(empty, "src", "dst", "w", iters = 2).collect()
    ).foreach { run =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("empty edge list"), e.getMessage)
    }
  }
}
