package graft

import org.apache.spark.sql.functions._

import graft.operators.LinkRank

/** L45 weighted PageRank: parity with a sequential integer reference,
  * centrality ordering on a known topology, determinism under
  * repartitioning, parallel-edge pre-summing, and sink-loss dangling
  * semantics. */
class LinkRankSpec extends SparkSpec {
  import spark.implicits._

  private val Scale = 1000000000000L

  /** Sequential replay of the operator's integer arithmetic; `seeds`
    * None = uniform teleport (PageRank), Some = TrustRank. */
  private def refRank(edges: Seq[(String, String, Long)], iters: Int,
                      dampNum: Long = 85L, dampDen: Long = 100L,
                      scale: Long = Scale,
                      seeds: Option[Set[String]] = None): Map[String, Long] = {
    val summed = edges.groupBy(e => (e._1, e._2))
      .map { case ((s, d), es) => (s, d, es.map(_._3).sum) }.toSeq
    val nodes = summed.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val inGraph = nodes.toSet
    val seedSet = seeds.fold(inGraph)(_.intersect(inGraph))
    val nt = seedSet.size.toLong
    val outw = summed.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val base = scale * (dampDen - dampNum) / (dampDen * nt)
    def teleport(nd: String, v: Long): Long = if (seedSet(nd)) v else 0L
    var r = nodes.map(nd => nd -> teleport(nd, scale / nt)).toMap
    for (_ <- 1 to iters) {
      val in = summed
        .map { case (s, d, w) =>
          d -> (BigInt(r(s)) * w / outw(s)).toLong }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      r = nodes.map(nd => nd ->
        (teleport(nd, base) + dampNum * in.getOrElse(nd, 0L) / dampDen)).toMap
    }
    r
  }

  private val diamond = Seq(
    ("a", "b", 3L), ("a", "c", 1L), ("b", "d", 1L),
    ("c", "d", 2L), ("d", "a", 1L))

  test("ranks equal the sequential integer reference, bit for bit") {
    val got = LinkRank.pageRank(
        diamond.toDF("src", "dst", "w"), "src", "dst", "w", iters = 6)
      .as[(String, Long)].collect().toMap
    assert(got === refRank(diamond, 6))
  }

  test("star hub out-ranks its satellites") {
    // 5 satellites all point at the hub; hub points back at one.
    val star = Seq.tabulate(5)(i => (s"s$i", "hub", 1L)) :+ (("hub", "s0", 1L))
    val r = LinkRank.pageRank(star.toDF("src", "dst", "w"),
        "src", "dst", "w", iters = 5)
      .as[(String, Long)].collect().toMap
    assert(r("hub") > r("s0"), "hub must out-rank the linked satellite")
    assert((1 to 4).forall(i => r("s0") > r(s"s$i")),
      "the satellite receiving the hub's mass must out-rank the others")
  }

  test("ranks are invariant to input partitioning") {
    val df = diamond.toDF("src", "dst", "w")
    val a = LinkRank.pageRank(df, "src", "dst", "w", iters = 4)
      .as[(String, Long)].collect().toMap
    val b = LinkRank.pageRank(df.repartition(13, col("dst")),
        "src", "dst", "w", iters = 4)
      .as[(String, Long)].collect().toMap
    assert(a === b)
  }

  test("parallel edges pre-sum: split weights equal the summed edge") {
    val split = diamond.flatMap { case (s, d, w) =>
      if (w > 1) Seq((s, d, 1L), (s, d, w - 1)) else Seq((s, d, w)) }
    val a = LinkRank.pageRank(split.toDF("src", "dst", "w"),
        "src", "dst", "w", iters = 4)
      .as[(String, Long)].collect().toMap
    val b = LinkRank.pageRank(diamond.toDF("src", "dst", "w"),
        "src", "dst", "w", iters = 4)
      .as[(String, Long)].collect().toMap
    assert(a === b)
    val c = LinkRank.pageRank(diamond.toDF("src", "dst", "w"),
        "src", "dst", "w", iters = 4, assumeSummed = true)
      .as[(String, Long)].collect().toMap
    assert(c === b, "assumeSummed fast path must not change the fixpoint")
  }

  test("trustRank with every node seeded equals pageRank") {
    val df = diamond.toDF("src", "dst", "w")
    val allNodes = diamond.flatMap(e => Seq(e._1, e._2)).distinct
      .toDF("node")
    val pr = LinkRank.pageRank(df, "src", "dst", "w", iters = 5)
      .as[(String, Long)].collect().toMap
    val tr = LinkRank.trustRank(df, "src", "dst", "w", allNodes, "node",
        iters = 5)
      .as[(String, Long)].collect().toMap
    assert(tr === pr)
  }

  test("trustRank matches the seeded sequential reference and decays with distance") {
    // ring a -> b -> c -> d -> a, seed {a}: trust decays along the walk
    val ring = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L),
      ("d", "a", 1L))
    val got = LinkRank.trustRank(ring.toDF("src", "dst", "w"),
        "src", "dst", "w",
        Seq("a", "ghost").toDF("node"), "node", iters = 3)
      .as[(String, Long)].collect().toMap
    // "ghost" is not in the graph: teleport renormalizes over {a} only
    assert(got === refRank(ring, 3, seeds = Some(Set("a"))))
    assert(!got.contains("ghost"), "absent seeds must not materialize nodes")
    // distance decay is a property of the CONVERGED walk (at few
    // rounds the initial mass pulse is still circulating the ring)
    val conv = LinkRank.trustRank(ring.toDF("src", "dst", "w"),
        "src", "dst", "w", Seq("a").toDF("node"), "node", iters = 20)
      .as[(String, Long)].collect().toMap
    assert(conv === refRank(ring, 20, seeds = Some(Set("a"))))
    assert(conv("a") > conv("b") && conv("b") > conv("c") &&
      conv("c") > conv("d"),
      s"converged trust must decay with distance from the seed: $conv")
  }

  test("trustRank refuses a seed set disjoint from the graph") {
    val ex = intercept[IllegalArgumentException] {
      LinkRank.trustRank(diamond.toDF("src", "dst", "w"), "src", "dst", "w",
        Seq("zz").toDF("node"), "node", iters = 2)
    }
    assert(ex.getMessage.contains("no seed node present"))
  }

  test("dangling node keeps teleport mass only (sink loss)") {
    // b has no out-edges: after any round its received mass leaks and
    // it holds base + damped inflow; a holds the teleport floor only.
    val r = LinkRank.pageRank(Seq(("a", "b", 1L)).toDF("src", "dst", "w"),
        "src", "dst", "w", iters = 3)
      .as[(String, Long)].collect().toMap
    val base = Scale * 15L / (100L * 2L)
    assert(r("a") === base, "source with no inflow sits at the teleport floor")
    assert(r("b") === base + 85L * base / 100L,
      "sink holds base + damped inflow from a's floor")
    assert(r === refRank(Seq(("a", "b", 1L)), 3))
  }

  /** Sequential replay of the HITS integer arithmetic (BigInt —
    * mirrors the operator's decimal(38,0) widening). */
  private def refHits(edges: Seq[(String, String, Long)], iters: Int,
                      scale: Long = Scale): Map[String, (Long, Long)] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var hub = nodes.map(_ -> BigInt(scale)).toMap
    var auth = Map.empty[String, BigInt]
    for (_ <- 1 to iters) {
      val ar = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => hub.getOrElse(e._1, BigInt(0)) * e._3).sum
      }
      val asum = ar.values.sum
      auth = ar.map { case (n, v) => n -> v * scale / asum }
      val hr = edges.groupBy(_._1).map { case (s, es) =>
        s -> es.map(e => auth.getOrElse(e._2, BigInt(0)) * e._3).sum
      }
      val hsum = hr.values.sum
      hub = hr.map { case (n, v) => n -> v * scale / hsum }
    }
    nodes.map(n => n -> (
      hub.getOrElse(n, BigInt(0)).toLong,
      auth.getOrElse(n, BigInt(0)).toLong)).toMap
  }

  test("hits: planted bipartite star ranks hubs and authorities; parity with reference") {
    // h1 links to 3 authorities, h2 to one; a1 has both hubs' mass
    val edges = Seq(("h1", "a1", 1L), ("h1", "a2", 1L), ("h1", "a3", 1L),
      ("h2", "a1", 1L))
    val r = LinkRank.hits(edges.toDF("src", "dst", "w"), "src", "dst", "w",
        iters = 3, assumeSummed = true)
      .as[(String, Long, Long)].collect()
      .map { case (n, h, a) => n -> (h, a) }.toMap
    assert(r === refHits(edges, 3), "bit-parity with the sequential replay")
    assert(r("h1")._1 > r("h2")._1, "the broad linker is the better hub")
    assert(r("a1")._2 > r("a2")._2, "the doubly-cited page is the top authority")
    assert(r("a2")._2 === r("a3")._2, "symmetric authorities tie exactly")
    assert(r("a1")._1 === 0L && r("h1")._2 === 0L,
      "pure authorities carry no hub mass and vice versa")
    // per-round L1 renorm: each score family sums to scale minus floors
    val hsum = r.values.map(_._1).sum
    val asum = r.values.map(_._2).sum
    assert(hsum <= Scale && hsum > Scale - 10)
    assert(asum <= Scale && asum > Scale - 10)
  }

  test("hits: determinism under repartitioning and parallel-edge pre-summing") {
    val edges = Seq(("x", "y", 1L), ("x", "y", 1L), ("x", "z", 3L),
      ("w", "y", 2L), ("z", "w", 1L))
    val base = LinkRank.hits(edges.toDF("src", "dst", "w"),
        "src", "dst", "w", iters = 2)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val reparted = LinkRank.hits(edges.toDF("src", "dst", "w").repartition(7),
        "src", "dst", "w", iters = 2)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(base === reparted)
    // parallel edges pre-sum: duplicating (x,y,1)+(x,y,1) as (x,y,2)
    val summed = Seq(("x", "y", 2L), ("x", "z", 3L), ("w", "y", 2L), ("z", "w", 1L))
    val s = LinkRank.hits(summed.toDF("src", "dst", "w"),
        "src", "dst", "w", iters = 2, assumeSummed = true)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(base === s)
  }

  test("long and decimal rank paths both equal the reference at the weight bound") {
    // the long path runs while scale * max(w) fits a long: max(w) =
    // Long.MaxValue / scale takes it, one more unit of weight takes the
    // decimal(38,0) path; at the bound scale * max(w), the largest
    // per-edge product, is within `scale` of Long.MaxValue
    val bound = Long.MaxValue / Scale
    assert(BigInt(Scale) * bound <= BigInt(Long.MaxValue) &&
      BigInt(Scale) * (bound + 1) > BigInt(Long.MaxValue))
    for (wMax <- Seq(bound, bound + 1)) {
      val edges = Seq(("a", "b", wMax), ("a", "c", 1L), ("b", "d", wMax - 1),
        ("c", "d", 2L), ("d", "a", wMax), ("e", "a", 3L))
      val df = edges.toDF("src", "dst", "w")
      val pr = LinkRank.pageRank(df, "src", "dst", "w", iters = 6)
        .as[(String, Long)].collect().toMap
      assert(pr === refRank(edges, 6), s"pageRank at max(w) = $wMax")
      val h = LinkRank.hits(df, "src", "dst", "w", iters = 3)
        .as[(String, Long, Long)].collect()
        .map { case (n, hub, auth) => n -> (hub, auth) }.toMap
      assert(h === refHits(edges, 3), s"hits at max(w) = $wMax")
    }
  }
}
