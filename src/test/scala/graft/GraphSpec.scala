package graft

import graft.operators.Graph

class GraphSpec extends SparkSuite {
  import spark.implicits._

  // Most specs pin allowDriverFastPath=false: tiny test graphs would all
  // take the driver union-find shortcut, leaving the distributed
  // propagation loop — the branch a 100 TB pair graph actually runs —
  // untested. The fast path gets its own equivalence test below.

  test("connected components: chains, cliques, isolated vertices (both paths)") {
    // components: {1,2,3,4} (path), {10,11,12} (triangle), {20} isolated
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L),
      (12L, 10L)).toDF("src", "dst")
    val verts = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("id")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L)
    val fast = Graph.connectedComponents(edges, verts)
      .as[(Long, Long)].collect().toMap
    val dist = Graph.connectedComponents(edges, verts,
      allowDriverFastPath = false).as[(Long, Long)].collect().toMap
    assert(fast === expected)
    assert(dist === expected)
  }

  test("connected components bind edge columns by name, not position") {
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L))
    val verts = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("id")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L)
    val dstSrc = pairs.map(_.swap).toDF("dst", "src")
    assert(Graph.connectedComponents(dstSrc, verts).as[(Long, Long)].collect().toMap
      === expected)
    // the driver path itself, handed a frame whose leading column is
    // neither endpoint: positional binding would union the weights
    val weighted = pairs.map { case (a, b) => (a * 100, b, a) }.toDF("w", "dst", "src")
    assert(Graph.driverComponents(weighted, verts).as[(Long, Long)].collect().toMap
      === expected)
  }

  test("driver fast path and distributed propagation agree on a mixed graph") {
    // chains + cliques + isolated, with min ids NOT at chain heads, so a
    // wrong union-find root choice or a missed path compression shows up
    val chain = (100L until 150L).map(i => (i + 1, i))
    val clique = for (a <- 0L until 8L; b <- (a + 1) until 8L) yield (a + 200L, b + 200L)
    val cross = Seq((149L, 207L)) // merge chain into clique
    val edges = (chain ++ clique ++ cross).toDF("src", "dst")
    val verts = ((100L to 150L) ++ (200L until 208L) ++ Seq(999L)).toDF("id")
    val fast = Graph.connectedComponents(edges, verts)
      .as[(Long, Long)].collect().sorted.toSeq
    val dist = Graph.connectedComponents(edges, verts,
      allowDriverFastPath = false).as[(Long, Long)].collect().sorted.toSeq
    assert(fast === dist)
    assert(fast.toMap.apply(999L) === 999L)
    assert(fast.toMap.apply(207L) === 100L, "merged component min is the chain tail")
  }

  test("edge count past the broadcast cap falls through to the distributed path") {
    // cap forced to 0 via the shared conf: the fast path must NOT engage
    // even for a tiny graph — this exercises the cap check itself
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val verts = Seq(1L, 2L).toDF("id")
    spark.conf.set("spark.graft.broadcastMaxRows", "0")
    try {
      val got = Graph.connectedComponents(edges, verts)
        .as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 1L, 2L -> 1L))
    } finally spark.conf.unset("spark.graft.broadcastMaxRows")
  }

  test("converged labels are partition-invariant") {
    val edges = (0L until 21L).map(i => (i, (i + 1) % 21)).toDF("src", "dst")
    val verts = (0L until 21L).toDF("id")
    val a = Graph.connectedComponents(edges.repartition(1), verts.repartition(1),
      allowDriverFastPath = false).as[(Long, Long)].collect().sorted.toSeq
    val b = Graph.connectedComponents(edges.repartition(5), verts.repartition(3),
      allowDriverFastPath = false).as[(Long, Long)].collect().sorted.toSeq
    assert(a === b)
    assert(a.forall(_._2 === 0L), "ring must collapse to vertex 0")
  }

  test("a 300-vertex path converges in O(log L) passes (pointer jumping)") {
    // Plain propagation needs L passes for a length-L path and would throw
    // at the default maxIters=50; with the per-pass pointer jump, reach
    // doubles each pass, so ~log2(300) + slack passes suffice. maxIters=12
    // pins the asymptotic, not just the outcome. Fast path disabled or the
    // test is vacuous (the driver path has no passes at all).
    val edges = (0L until 299L).map(i => (i, i + 1)).toDF("src", "dst")
    val verts = (0L until 300L).toDF("id")
    val got = Graph.connectedComponents(edges, verts, maxIters = 12,
      allowDriverFastPath = false).as[(Long, Long)].collect()
    assert(got.length === 300)
    assert(got.forall(_._2 == 0L), "path must collapse to vertex 0")
  }

  test("null edge endpoints are dropped identically on both paths") {
    val edges = Seq((Option(1L), Option(2L)), (Option(3L), Option.empty[Long]),
      (Option.empty[Long], Option(4L))).toDF("src", "dst")
    val verts = Seq(1L, 2L, 3L, 4L).toDF("id")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L)
    assert(Graph.connectedComponents(edges, verts)
      .as[(Long, Long)].collect().toMap === expected)
    assert(Graph.connectedComponents(edges, verts, allowDriverFastPath = false)
      .as[(Long, Long)].collect().toMap === expected)
  }

  test("empty vertex set returns an empty result, not an error") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val verts = Seq.empty[Long].toDF("id")
    assert(Graph.connectedComponents(edges, verts).count() == 0)
    assert(Graph.connectedComponents(edges, verts,
      allowDriverFastPath = false).count() == 0)
  }
}
