package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over DataFrame edge lists — the link-analysis surface a
  * corpus-curation pipeline runs on its document/co-occurrence graphs
  * (connectivity quality signals, hub detection, PageRank-style propagation
  * as used in web-corpus filtering). Pure DataFrame formulations: edges are
  * rows, never driver-side collections, so every operator here is a
  * composition of shuffles that scales horizontally.
  *
  * Edge-list contract: columns `a`, `b` with `a < b` (undirected, distinct
  * pairs). `SimilarityOps.connectedComponents` consumes the same shape.
  */
object GraphOps {

  /** Undirected co-occurrence edges from an (group, item) incidence list:
    * items sharing a group are linked; `weight` counts incidence-row
    * PAIRS (an item appearing twice in a group contributes multiplicity,
    * exactly like the raw a<b self-join it replaces). Shape: group to a
    * sorted basket array (one shuffle), emit the strictly-increasing
    * value pairs map-side, aggregate (second shuffle). The self-join
    * formulation ([[coOccurrenceEdgesBySelfJoin]]) was faster on the
    * pre-round-9 testdata (bounded 7-line baskets, ReuseExchange folding
    * its two scans); on the regenerated data (baskets to 17, ~2× pair
    * volume) the basket shape wins at every probe factor — 68 s vs 81 s
    * at 30× sf0.1 — because the pair stream is generated narrow instead
    * of riding a sorted join. Pair fan-out per group stays quadratic in
    * GROUP size, not table size; for heavy-tailed groups, cap or sample
    * the basket first. */
  def coOccurrenceEdges(incidence: DataFrame, groupCol: String,
      itemCol: String, minWeight: Long = 1L): DataFrame =
    incidence
      .groupBy(col(groupCol).as("g"))
      .agg(sort_array(collect_list(col(itemCol))).as("items"))
      // positions i<j of the sorted basket; the strict value filter drops
      // equal-value pairs (duplicate item in a group), so each (a, b) with
      // a<b surfaces multiplicity(a)·multiplicity(b) times — the exact
      // count the raw self-join produces
      .select(explode(flatten(transform(col("items"), (x, i) =>
        filter(transform(slice(col("items"), i + 2, size(col("items"))),
          y => struct(x.as("a"), y.as("b"))),
          p => p("a") < p("b"))))).as("p"))
      .select(col("p.a"), col("p.b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("weight"))
      .filter(col("weight") >= minWeight)

  /** The self-join formulation of [[coOccurrenceEdges]] — identical
    * semantics (incidence-row pair counts), kept as the contrast case
    * measured in round 6 and for engines/data where ReuseExchange +
    * codegen joins beat array generation. */
  def coOccurrenceEdgesBySelfJoin(incidence: DataFrame, groupCol: String,
      itemCol: String, minWeight: Long = 1L): DataFrame = {
    val l = incidence.select(col(groupCol).as("g"), col(itemCol).as("a"))
    val r = incidence.select(col(groupCol).as("g"), col(itemCol).as("b"))
    l.join(r, "g")
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("weight"))
      .filter(col("weight") >= minWeight)
  }

  /** DISTINCT-counting variant of [[coOccurrenceEdges]]: baskets are
    * DEDUPLICATED (collect_set), so weight counts DISTINCT shared groups —
    * a part appearing twice in an order adds 1 here, multiplicity in the
    * primary. Same two-shuffle basket shape as the primary (which was
    * measured slower than the self-join on the pre-round-9 7-line-basket
    * data, 36.6 s vs 29.9 s at 10×, and faster on the regenerated
    * 17-line-basket data — see coOccurrenceEdges' scaladoc). GraphOpsSpec
    * pins this variant to the primary on duplicate-free incidence; if the
    * basket bound grows (heavy-tailed groups), the collect here is where
    * a per-basket cap/sample would slot in. */
  def coOccurrenceEdgesByBasket(incidence: DataFrame, groupCol: String,
      itemCol: String, minWeight: Long = 1L): DataFrame = {
    val baskets = incidence
      .groupBy(col(groupCol).as("g"))
      .agg(sort_array(collect_set(col(itemCol))).as("items"))
    baskets
      .select(explode(flatten(transform(col("items"), (x, i) =>
        transform(slice(col("items"), i + 2, size(col("items"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a"), col("p.b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("weight"))
      .filter(col("weight") >= minWeight)
  }

  /** Per-node degree of an undirected edge list: symmetrize, one count
    * aggregate. Output: (id, degree). */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("a").as("id"))
      .union(edges.select(col("b").as("id")))
      .groupBy("id")
      .agg(count(lit(1)).as("degree"))

  /** Exact triangle count via degree-ordered edge orientation (the
    * node-iterator++ algorithm): orient each undirected edge from its
    * lower-(degree, id) endpoint to its higher one, enumerate wedges at
    * the lowest vertex only, and close them against oriented edges.
    * Every triangle is counted exactly once, and — the scale property —
    * out-degree is bounded by O(sqrt(m)) on any graph, so the wedge join
    * never explodes on hubs the way the naive a<b self-join does (a
    * degree-d hub contributes d² naive wedges but only O(m) oriented
    * ones). GraphOpsSpec pins equality with the naive count.
    * Returns one row: (n_edges, n_wedges, n_triangles, clustering_coeff)
    * where n_wedges is the undirected wedge count Σ d(d-1)/2 and
    * clustering_coeff = 3·triangles / wedges (rounded to 6). */
  def triangleStats(edges: DataFrame): DataFrame = {
    // Materialize the edge list once: it feeds the degree aggregate, the
    // orientation join, and the edge count — without this pin, an
    // expensive upstream (the co-occurrence self-join) recomputes per
    // consumer (measured 15.7 s → 3.4 s on x101 at sf0.1).
    val e = edges.localCheckpoint()
    // The edge count is needed for the result row anyway; counting it
    // FIRST (free on the materialized checkpoint) lets the driver pick
    // the join strategy: a thinned affinity graph (x101: ~4k edges from
    // 1.2M raw pairs) broadcasts its degree table and oriented edge list,
    // collapsing every downstream join into a narrow map-side probe —
    // measured 5.1 s → ~3 s at sf0.1, where checkpointed LogicalRDDs
    // otherwise default to sort-merge (no size stats for AQE to demote).
    // Past the threshold (~150 MB of long-pair rows) the shuffle
    // formulation stands: that is the 100 TB path, where the O(sqrt(m))
    // orientation bound is what keeps the wedge join finite.
    val nEdges = e.count()
    val small = nEdges <= 5000000L
    def maybeBroadcast(df: DataFrame) = if (small) broadcast(df) else df
    val deg = degrees(e).localCheckpoint()
    // (deg, id) lexicographic order as a comparable struct; ids alone are
    // not enough — the degree order is what bounds the out-degree.
    def ord(d: String, i: String) = struct(col(d), col(i))
    val da = maybeBroadcast(deg.select(col("id").as("a"), col("degree").as("da")))
    val db = maybeBroadcast(deg.select(col("id").as("b"), col("degree").as("db")))
    val oriented = e.join(da, "a").join(db, "b")
      .select(
        when(ord("da", "a") < ord("db", "b"), col("a")).otherwise(col("b")).as("u"),
        when(ord("da", "a") < ord("db", "b"), col("b")).otherwise(col("a")).as("v"),
        when(ord("da", "a") < ord("db", "b"), col("db")).otherwise(col("da")).as("dv"))
      .localCheckpoint()
    val w1 = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val w2 = maybeBroadcast(
      oriented.select(col("u"), col("v").as("y"), col("dv").as("dy")))
    val wedges = w1.join(w2, "u")
      .filter(struct(col("dx"), col("x")) < struct(col("dy"), col("y")))
    val closed = wedges.join(
      maybeBroadcast(oriented.select(col("u").as("x"), col("v").as("y"))),
      Seq("x", "y"))
    val nTri = closed.count()
    // `div` (integral division) before the sum, not `/`: true division
    // produces per-row doubles and a double-accumulated sum — exact only
    // below 2^53 — while the oracle's `//` stays integral throughout.
    // degree*(degree-1) is even, so div 2 is exact; the sum stays a long.
    val nWedges = deg.agg(
      sum(expr("(degree * (degree - 1)) div 2"))).head.getLong(0)
    RelOps.releaseCheckpoint(e)
    RelOps.releaseCheckpoint(deg)
    RelOps.releaseCheckpoint(oriented)
    val spark = edges.sparkSession
    import spark.implicits._
    Seq((nEdges, nWedges, nTri)).toDF("n_edges", "n_wedges", "n_triangles")
      .withColumn("clustering_coeff",
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
  }

  /** Fixed-iteration PageRank on an undirected edge list (uniform init,
    * standard damping): r'(v) = (1-d)/N + d·Σ_{u~v} r(u)/deg(u). Iterative
    * Pregel-on-DataFrames: each round is one join (ranks onto edges) + one
    * aggregate (contributions by destination), checkpointed so the lineage
    * stays flat — on a real cluster the per-round localCheckpoint becomes a
    * table persist, exactly as in connectedComponents. No dangling-node
    * term: every node in an edge list has degree ≥ 1.
    *
    * Cross-engine determinism (the oracle unrolls the same rounds in
    * DuckDB): double addition is not associative and Spark/DuckDB sum in
    * different orders, so each contribution r/deg is cast to
    * DECIMAL(38,15) — exact, order-free summation ~9 digits below the
    * data — and each round's result is rounded to 12 decimals, so ranks
    * are bit-identical in both engines. Returns (id, deg, r). */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    // pin the edge list before symmetrizing: the union reads it twice, and
    // an expensive upstream would otherwise recompute per branch
    val e = edges.localCheckpoint()
    val sym = e.select(col("a"), col("b"))
      .union(e.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    RelOps.releaseCheckpoint(e)
    val deg = sym.groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val n = deg.count()
    // The oracle emits the SAME double expression (1.0 - 0.85) / n — not the
    // literal 0.15/n, which differs from 1.0-0.85 by 1 ulp — so the base
    // term is bit-equal by construction, not by round-to-12 absorption.
    val base = (1.0 - damping) / n
    var ranks = deg.select(col("id"), col("deg"), lit(1.0 / n).as("r"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val contribs = sym.join(ranks, sym("a") === ranks("id"))
        .select(sym("b").as("id"),
          (col("r") / col("deg")).cast("decimal(38,15)").as("c"))
      val next = contribs.groupBy("id")
        .agg(round(lit(base) + lit(damping) * sum(col("c")).cast("double"), 12).as("r"))
        .join(deg, "id")
        .select(col("id"), col("deg"), col("r"))
        .localCheckpoint()
      RelOps.releaseCheckpoint(ranks)
      ranks = next
    }
    RelOps.releaseCheckpoint(sym)
    RelOps.releaseCheckpoint(deg)
    ranks
  }

  /** Multi-source BFS: minimum hop distance from any source to every node
    * reachable within `maxHops`, over the undirected a<b edge list.
    * Returns (id, hops) with hops 0 for the sources themselves.
    *
    * Frontier expansion, not reachability closure: each round joins only
    * the FRONTIER (nodes first discovered last round) against the
    * symmetrized edges and anti-joins out the visited set, so per-round
    * work is O(edges incident to the frontier) — on a small-world graph
    * the frontier saturates in a few rounds and later rounds touch
    * nothing, where a naive k-hop self-join would pay |E|^k. First
    * discovery IS minimum distance (BFS invariant), so no min-aggregate
    * over paths is ever needed. Per-round localCheckpoint + release keeps
    * the lineage flat (the pageRank/connectedComponents discipline); the
    * per-round emptiness probe is one count on the (small) frontier, and
    * the loop is bounded by maxHops regardless. */
  def shortestHops(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val e = edges.localCheckpoint()
    val sym = e.select(col("a"), col("b"))
      .union(e.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    RelOps.releaseCheckpoint(e)
    var visited = sources.select(col("id")).distinct()
      .withColumn("hops", lit(0)).localCheckpoint()
    var frontier = visited.select("id")
    var frontierCp: Option[DataFrame] = None // round h-1's `next`, released once unreferenced
    var h = 1
    while (h <= maxHops && !frontier.isEmpty) {
      val next = sym.join(frontier, sym("a") === frontier("id"))
        .select(sym("b").as("id")).distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
        .withColumn("hops", lit(h))
        .localCheckpoint()
      val grown = visited.union(next).localCheckpoint()
      RelOps.releaseCheckpoint(visited)
      frontierCp.foreach(RelOps.releaseCheckpoint)
      visited = grown
      frontier = next.select("id")
      frontierCp = Some(next)
      h += 1
    }
    frontierCp.foreach(RelOps.releaseCheckpoint)
    RelOps.releaseCheckpoint(sym)
    visited
  }
}
