package graft

import graft.ops.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: sinks keep base rank, popular nodes accumulate") {
    // star: 1->3, 2->3 plus a self-contained hop 3->4; 4 is a sink
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iterations = 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // N=4, r0=0.25 each: sources keep (1-d)/N = 0.0375; node 3 gets
    // 0.0375 + 0.85*(0.25+0.25) = 0.4625; node 4 gets 0.0375+0.85*0.25
    assert(math.abs(r(1L) - 0.0375) < 1e-12)
    assert(math.abs(r(2L) - 0.0375) < 1e-12)
    assert(math.abs(r(3L) - 0.4625) < 1e-12)
    assert(math.abs(r(4L) - 0.25) < 1e-12)
  }

  test("pageRank: duplicate edges collapse, ranks sum stays bounded") {
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iterations = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // symmetric 2-cycle: both nodes stay at 1/N = 0.5 every iteration
    assert(math.abs(r(1L) - 0.5) < 1e-12)
    assert(math.abs(r(2L) - 0.5) < 1e-12)
  }

  test("pageRank: edgesDistinct is bit-identical to the deduping default") {
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L), (4L, 1L), (3L, 1L))
      .toDF("src", "dst")
    def ranks(dedup: Boolean) =
      Graph.pageRank(
          if (dedup) edges.distinct() else edges,
          iterations = 5, edgesDistinct = dedup)
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(ranks(dedup = true) === ranks(dedup = false))
  }

  test("triangleStats: K4 has 4 triangles; direction/dups/loops ignored") {
    // complete graph on {1,2,3,4} with noisy input: reversed duplicates
    // and a self-loop must not change the count
    val k4 = for {
      a <- 1L to 4L; b <- 1L to 4L if a != b
    } yield (a, b)
    val edges = (k4 :+ ((2L, 2L))).toDF("src", "dst")
    val r = Graph.triangleStats(edges).collect().head
    assert(r.getAs[Long]("n_nodes") === 4L)
    assert(r.getAs[Long]("n_edges") === 6L)
    assert(r.getAs[Long]("n_triangles") === 4L)
  }

  test("triangleStats: path graph has none; one closing edge adds one") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(Graph.triangleStats(path).collect().head
      .getAs[Long]("n_triangles") === 0L)
    val closed = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("src", "dst")
    assert(Graph.triangleStats(closed).collect().head
      .getAs[Long]("n_triangles") === 1L)
  }

  test("neighborJaccard: twins share everything, strangers nothing") {
    // 1 and 2 both link to {10, 11}; 3 links to 10 only
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L))
      .toDF("src", "dst")
    val r = Graph.neighborJaccard(edges)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getAs[Double]("jaccard"))
      .toMap
    assert(math.abs(r((1L, 2L)) - 1.0) < 1e-12)
    // 1 vs 3: common {10}, union {10, 11} => 0.5
    assert(math.abs(r((1L, 3L)) - 0.5) < 1e-12)
    // 10 and 11 share neighbors {1, 2}; 10 also has 3 => 2/3
    assert(math.abs(r((10L, 11L)) - (2.0 / 3.0)) < 1e-12)
    // pairs with no shared neighbor are absent, not zero
    assert(!r.contains((1L, 10L)))
  }

  test("neighborJaccard: hub cap bounds fan-out, scores lower-bound truth") {
    // hub 99 is linked by everyone; 1 and 2 also share private neighbor
    // 10. Capping below the hub's degree removes hub-generated wedges:
    // (1,2) survives via 10 with a conservative score, pairs connected
    // ONLY through the hub disappear.
    val edges = (Seq((1L, 10L), (2L, 10L)) ++
      Seq(1L, 2L, 3L, 4L).map(n => (n, 99L))).toDF("src", "dst")
    val capped = Graph.neighborJaccard(edges, maxHubDegree = Some(3))
      .collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getAs[Double]("jaccard"))
      .toMap
    // deg(1)={10,99}=2, deg(2)=2, common counted via 10 only => 1;
    // union = 2+2-1 = 3 — but TRUE common is 2 ({10,99}), so the capped
    // score undercounts common, never overcounts: 1/3
    assert(math.abs(capped((1L, 2L)) - (1.0 / 3.0)) < 1e-12)
    // (3,4) share only the hub: pruned entirely
    assert(!capped.contains((3L, 4L)))
    // uncapped: (3,4) present, (1,2) counts both shared neighbors
    val full = Graph.neighborJaccard(edges)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getAs[Double]("jaccard"))
      .toMap
    assert(full.contains((3L, 4L)))
    assert(math.abs(full((1L, 2L)) - 1.0) < 1e-12)
  }

  test("labelPropagation separates bridged cliques that connected " +
      "components merge") {
    import spark.implicits._
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ ((4L, 10L)))
      .toDF("src", "dst")
    val labels = Graph.labelPropagation(edges, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each clique converges to an internal label; the single bridge
    // never carries a majority across
    val aLabels = Seq(1L, 2L, 3L).map(labels).toSet
    val bLabels = Seq(11L, 12L, 13L).map(labels).toSet
    assert(aLabels.size === 1 && bLabels.size === 1)
    assert(aLabels != bLabels, s"cliques merged: $labels")
    assert(aLabels.head <= 4L && bLabels.head >= 4L)
    // connected components DO merge them — the contrast LPA exists for
    val cc = graft.ops.Dedup.resolveClusters(
        edges.select($"src".as("id_a"), $"dst".as("id_b")))
      .select("cluster_id").distinct().count()
    assert(cc === 1L)
    // deterministic under re-layout
    val again = Graph.labelPropagation(edges.repartition(5), iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === labels)
  }

  test("labelPropagation: string node ids keep the smallest-label " +
      "tie-break (no silent numeric cast)") {
    import spark.implicits._
    // node x sees labels "a" and "b" once each after one round — the
    // documented tie-break must pick "a"; the earlier -label tie-break
    // cast string labels to double (null), making the pick arbitrary
    val edges = Seq(("a", "x"), ("b", "x")).toDF("src", "dst")
    val labels = Graph.labelPropagation(edges, iterations = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels("x") === "a", s"tie not broken to smallest: $labels")
    assert(labels("a") === "x" && labels("b") === "x")
    // deterministic under re-layout, same property on a larger graph
    def clique(ids: Seq[String]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val big = (clique(Seq("n1", "n2", "n3", "n4")) ++
      clique(Seq("p1", "p2", "p3", "p4")) :+ (("n4", "p1")))
      .toDF("src", "dst")
    val l1 = Graph.labelPropagation(big, iterations = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val l2 = Graph.labelPropagation(big.repartition(5), iterations = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(l1 === l2)
    assert(Seq("n1", "n2", "n3").map(l1).toSet.size === 1)
    assert(Seq("p2", "p3", "p4").map(l1).toSet.size === 1)
  }
}
