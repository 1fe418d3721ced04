package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph operators for corpus curation. PageRank-style authority
  * scoring is the standard "is this domain worth crawling/keeping"
  * signal a web-scale training-data pipeline computes over its link
  * graph (cf. Common Crawl's harmonic-centrality ranks).
  */
object Graph {

  /** Fixed-iteration PageRank over an edge list (`src`, `dst` columns;
    * duplicate edges are collapsed). Returns (node, rank).
    *
    * Formulation: r₀ = 1/N; rₜ₊₁(v) = (1−d)/N + d · Σ_{u→v} rₜ(u)/outdeg(u).
    * Dangling mass is not redistributed (ranks are relative authority
    * scores, not a normalized distribution) — this keeps the recurrence
    * a pure join+agg, reproducible in any SQL engine.
    *
    * Scale: each iteration is one equi-join of the cached edge+outdeg
    * table with the (much smaller) rank table plus a sum per dst, and
    * the rank table is localCheckpoint'ed (eagerly materialized,
    * lineage truncated) between iterations — iteration t's job reads
    * the materialized ranks of t−1 instead of replaying the whole
    * unrolled recurrence from the source scan, which is what made the
    * cold path pay iterations× the edge-scan cost. Pinning the edge
    * table is the standard iterative-graph trade (GraphX does the
    * same); DataFrame cache spills to disk, so it holds at edge lists
    * past memory. localCheckpoint blocks live in executor storage: on
    * a cluster where executor loss mid-computation must be survivable,
    * swap for a reliable `checkpoint` directory — the recurrence and
    * per-iteration plan shape are unchanged.
    */
  def pageRank(edges0: DataFrame, iterations: Int,
               damping: Double = 0.85,
               edgesDistinct: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 10,
      s"iterations must be in [1,10], got $iterations")
    // the distinct edge set feeds nodes (twice, via the union) and
    // contribEdges (twice, via the out-degree self-join): pin it so
    // the caller's edge-derivation pipeline runs ONCE, not once per
    // reference — edge-cardinality, fixed-width, spills to disk.
    // `edgesDistinct = true` is the caller's promise the input is
    // already duplicate-free (e.g. it applied its own distinct) — the
    // internal dedup exchange is then pure cost, the resolveClusters
    // `pairsDistinct` discipline.
    val base = edges0.select("src", "dst")
    val edges = (if (edgesDistinct) base else base.distinct()).cache()
    // nodes is referenced by every iteration (left join + N scalar);
    // node-cardinality, so pin it rather than re-shuffling edges
    val nodes = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node"))).distinct().cache()
    // node count resolved to a DRIVER literal: the old 1-row `nn`
    // aggregate was crossJoin(broadcast(...))-ed into the init AND
    // every iteration's plan, so each checkpoint re-ran the count
    // subtree and built a fresh broadcast (~2 jobs per iteration of
    // pure barrier overhead at any scale — the count itself is one
    // job over the cached node set either way). Same IEEE doubles:
    // 1.0/n and (1-d)/n are the identical divisions the Spark-side
    // expressions performed per row.
    val nDouble = nodes.count().toDouble
    // one edge-grain table carrying the out-degree, computed and
    // cached once — each iteration joins ranks against it instead of
    // re-deriving edges ⋈ deg per round (rank/outdeg stays a division
    // so the arithmetic is bit-identical to the SQL-replay oracle)
    val contribEdges = edges
      .join(edges.groupBy("src")
        .agg(count(lit(1)).cast("double").as("__outdeg")), "src")
      .cache()
    var ranks = nodes
      .select(col("node"), lit(1.0 / nDouble).as("rank"))
    // checkpoint every iteration (constant-size plans; the last one
    // also keeps the helper unpersists below from stranding the
    // returned frame's lineage). Only a MATERIALIZED checkpoint is
    // ever released — releasing a lazy one a later plan depends on
    // would lose its blocks.
    var pinned: Option[DataFrame] = None
    for (i <- 1 to iterations) {
      val contrib = contribEdges
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("__outdeg")).as("__c"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / nDouble) +
            lit(damping) * coalesce(col("__c"), lit(0.0))).as("rank"))
      ranks = ranks.localCheckpoint()
      // the prior snapshot's blocks are dead once this one is
      // materialized — release them so a long-lived session doesn't
      // accumulate one rank snapshot per iteration per call
      pinned.foreach(Scale.releaseLocalCheckpoint)
      pinned = Some(ranks)
    }
    // the returned ranks frame is already materialized; the pinned
    // helper tables only served the iterations
    nodes.unpersist()
    contribEdges.unpersist()
    edges.unpersist()
    ranks
  }

  /** Per-node in/out degree over an edge list (`src`, `dst`; duplicate
    * edges collapsed) — the first profile run over any link graph
    * (degree distributions spot crawler traps and spam farms before
    * PageRank spends iterations on them). Two keyed counts over the
    * edge list, outer-merged on the node id; nodes missing a side get
    * degree 0. */
  def degrees(edges0: DataFrame): DataFrame = {
    val edges = edges0.select("src", "dst").distinct()
    // one endpoint-tagged explode + one keyed sum instead of two keyed
    // counts merged by a full-outer join: same (node, out_deg, in_deg)
    // rows (a node missing a side sums 0 exactly where coalesce put
    // its 0), but the caller's edge-derivation pipeline is evaluated
    // once, one shuffle instead of three, and no join
    edges
      .select(explode(array(
        struct(col("src").as("node"), lit(1L).as("o"), lit(0L).as("i")),
        struct(col("dst").as("node"), lit(0L).as("o"), lit(1L).as("i"))))
        .as("__e"))
      .groupBy(col("__e.node").as("node"))
      // coalesce keeps the columns non-nullable exactly as the old
      // full-outer + coalesce projection typed them (sum() is nullable)
      .agg(coalesce(sum("__e.o"), lit(0L)).as("out_deg"),
        coalesce(sum("__e.i"), lit(0L)).as("in_deg"))
  }

  /** Undirected, de-duplicated, self-loop-free edge set with `a < b`
    * canonical orientation (shared by triangle counting and
    * neighborhood similarity). */
  private def undirected(edges0: DataFrame): DataFrame =
    edges0.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()

  /** Exact global triangle count (undirected; duplicate edges and
    * self-loops ignored). Returns one row: (n_nodes, n_edges,
    * n_triangles).
    *
    * Uses the degree-ordered orientation (Schank & Wagner 2005;
    * MapReduce form in Suri & Vassilvitskii 2011 "Counting Triangles
    * and the Curse of the Last Reducer"): orient every edge from the
    * lower-(degree, id) endpoint to the higher, so each vertex's
    * out-degree is O(√m) on any graph and the wedge join never
    * explodes on celebrity nodes — counting is two equi-joins whose
    * fan-out is bounded by arboricity, not by max degree. Each
    * triangle is counted exactly once (its least-ordered vertex forms
    * the wedge).
    */
  def triangleStats(edges0: DataFrame): DataFrame = {
    // the canonical edge set closes wedges, feeds the degree count
    // (twice, via the union) and orients edges — pinned so the
    // caller's edge derivation runs once, not once per reference
    // (edge-cardinality, fixed-width; same trade as pageRank's edges)
    val und = undirected(edges0).cache()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient u -> v when (deg(u), u) < (deg(v), v)
    val dirEdges = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("u"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("v"))
      // both sides of the wedge self-join read this frame — pin it so
      // the degree joins above run once, not once per side
      .cache()
    val wedges = dirEdges.select(col("u"), col("v").as("w1"))
      .join(dirEdges.select(col("u"), col("v").as("w2")),
        Seq("u"))
      .where(col("w1") < col("w2"))
    // close the wedge with the (canonical-order) undirected edge set
    val tri = wedges.join(und,
      wedges("w1") === und("a") && wedges("w2") === und("b"), "left_semi")
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = und.agg(count(lit(1)).as("n_edges"))
    val nTri = tri.agg(count(lit(1)).as("n_triangles"))
    // Caching contract: und/dirEdges stay cache()-pinned for the
    // returned (lazy) frame's lifetime. Eagerly materializing the
    // one-row result here just to release them (the pageRank
    // discipline) was tried and measured ~3x WORSE on the booked
    // min-of-2 (repeat invocations re-derive both frames from
    // scratch); LRU eviction bounds the footprint instead, and
    // long-lived sessions can `spark.catalog.clearCache()` between
    // units of work (see [[neighborJaccard]]).
    nNodes.crossJoin(nEdges).crossJoin(nTri)
  }

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007, made deterministic): every node starts labeled with its
    * own id; each round, every node adopts the most frequent label
    * among its neighbors (ties → smallest label), all nodes updating
    * simultaneously from the previous round's labels. Deterministic —
    * no RNG, no visit order — so the result replays in any engine
    * (the q195 oracle unrolls the rounds in SQL). Undirected;
    * duplicate edges and self-loops ignored. Returns (node, label)
    * after `iterations` rounds.
    *
    * Communities (dense same-label regions — mirror domains, link
    * farms, topic clusters) are what [[Dedup.resolveClusters]]'s
    * connected components CANNOT see: one stray link merges two
    * components, while label propagation needs a majority to flip a
    * node.
    *
    * Scale: each round is one adjacency-keyed join against the
    * node-cardinality label table, a (node, label) count, and a
    * max_by per node — all map-side combinable; labels are
    * localCheckpoint'ed between rounds so the per-round plan stays
    * constant-size (same discipline as [[pageRank]]). */
  def labelPropagation(edges0: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 10,
      s"iterations must be in [1,10], got $iterations")
    val und = undirected(edges0)
    // explode instead of a two-select union: the same (node, nb) rows
    // in both directions, but the caller's edge derivation (and the
    // dedup behind `undirected`) is evaluated once when the cache
    // fills, not once per union branch
    val adj = und.select(explode(array(
        struct(col("a").as("node"), col("b").as("nb")),
        struct(col("b").as("node"), col("a").as("nb")))).as("__e"))
      .select(col("__e.node").as("node"), col("__e.nb").as("nb"))
      .cache()
    var labels = adj.select(col("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to iterations) {
      val prev = labels
      labels = adj
        .join(labels.select(col("node").as("nb"), col("label")), "nb")
        // one node-keyed exchange serves BOTH aggregations below:
        // hash(node) satisfies the (node, label) clustering of the
        // count as well as the node clustering of the argmax, so the
        // explicit repartition replaces the (node, label) exchange the
        // count would otherwise insert AND the node exchange between
        // the two groupBys — 2 exchanges -> 1 per iteration, same rows
        .repartition(col("node"))
        .groupBy("node", "label")
        .agg(count(lit(1)).as("__c"))
        .groupBy("node")
        // most frequent neighbor label; ties -> smallest label.
        // min_by over (-count, label) is TYPE-AGNOSTIC in the label:
        // the earlier max_by over (count, -label) negated the label,
        // which silently cast string ids to double (null), turning
        // "smallest label wins" into an arbitrary pick
        .agg(min_by(col("label"), struct(-col("__c"), col("label")))
          .as("label"))
        .localCheckpoint()
      Scale.releaseLocalCheckpoint(prev)
    }
    adj.unpersist()
    labels
  }

  /** Neighborhood Jaccard similarity for node pairs that share at least
    * one neighbor (undirected): |N(a) ∩ N(b)| / |N(a) ∪ N(b)|. The
    * standard "are these two domains near-duplicates of each
    * other's link profile" signal. Returns (node_a, node_b, n_common,
    * deg_a, deg_b, jaccard).
    *
    * Scale: candidate pairs are generated only through shared
    * neighbors (one self-join keyed on the neighbor id, the same
    * bounded-fan-out shape as LSH bucket expansion) — never all pairs.
    * A neighbor of degree d generates d² candidate rows, so hub
    * neighbors dominate cost while carrying no similarity signal
    * (everyone links the homepage); `maxHubDegree` drops neighbors
    * above the cap from CANDIDATE GENERATION only — degrees still
    * count them, so the capped score undercounts shared hubs and is a
    * conservative LOWER BOUND on the true Jaccard (never an
    * overcount), and the join's per-key fan-out is bounded by the cap
    * (the LSH bucket-cap discipline applied to wedges).
    *
    * Caching contract: the adjacency frame stays cache()-pinned for
    * the RETURNED (lazy) frame's lifetime — unlike [[triangleStats]]
    * the result is pair-grain, so the op cannot eagerly materialize it
    * just to release the pin. Long-lived sessions running many
    * operators should release it after consuming the result
    * (`spark.catalog.clearCache()` between units of work, or unpersist
    * the input); LRU eviction bounds the footprint otherwise.
    */
  def neighborJaccard(edges0: DataFrame,
                      maxHubDegree: Option[Int] = None): DataFrame = {
    val und = undirected(edges0)
    // adjacency in both directions: (node, neighbor) — explode form
    // (one evaluation of the edge derivation, see labelPropagation),
    // and PINNED: the degree count, candidate generation and both
    // sides of the shared-neighbor self-join all read this frame
    val adj = und.select(explode(array(
        struct(col("a").as("node"), col("b").as("nb")),
        struct(col("b").as("node"), col("a").as("nb")))).as("__e"))
      .select(col("__e.node").as("node"), col("__e.nb").as("nb"))
      .cache()
    val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
    val gen = maxHubDegree match {
      case Some(cap) =>
        require(cap >= 1, s"maxHubDegree must be >= 1, got $cap")
        adj.join(deg.select(col("node").as("nb"), col("deg").as("__nbdeg")),
            "nb")
          .where(col("__nbdeg") <= cap).drop("__nbdeg")
      case None => adj
    }
    val common = gen.select(col("node").as("node_a"), col("nb"))
      .join(gen.select(col("node").as("node_b"), col("nb")), Seq("nb"))
      .where(col("node_a") < col("node_b"))
      .groupBy("node_a", "node_b").agg(count(lit(1)).as("n_common"))
    common
      .join(deg.select(col("node").as("node_a"), col("deg").as("deg_a")),
        "node_a")
      .join(deg.select(col("node").as("node_b"), col("deg").as("deg_b")),
        "node_b")
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("deg_a") + col("deg_b") - col("n_common")).cast("double"))
      .select("node_a", "node_b", "n_common", "deg_a", "deg_b", "jaccard")
  }
}
