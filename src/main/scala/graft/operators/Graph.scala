package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge tables — PageRank (Brin & Page
  * 1998, public paper; independent DataFrame realization).
  *
  * Web-corpus role: rank hosts/pages by link structure for crawl
  * prioritization and quality weighting — the classic companion to the
  * dedup/quality pipeline (a near-dup cluster's canonical pick can prefer
  * the highest-ranked URL instead of the min id).
  *
  * Scale design: each iteration is ONE equi-join (edges ⋈ ranks on src,
  * both sides partitioned by the join key after the first iteration —
  * Catalyst reuses the exchange) plus one map-side-combined groupBy(dst).
  * Rank state is one (id, rank) row per node, never materialized on the
  * driver; `localCheckpoint` every `checkpointEvery` iterations truncates
  * the growing lineage exactly as [[Dedup.connectedComponents]] does.
  * Dangling nodes (outdegree 0) would leak mass — callers must close the
  * graph first (the q199 construction has outdegree exactly 3 everywhere);
  * a `require`d invariant, not silent redistribution, so the oracle's
  * recursion and the engine agree term-for-term.
  */
object Graph {

  /** The undirected simple projection of `edges(src, dst)`: self loops
    * dropped, each edge once as (x, y) with x < y.
    */
  private def undirected(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("x"),
        greatest(col("src"), col("dst")).as("y"))
      .distinct()

  /** Both orientations (v, n) of undirected edges (x, y): each vertex `v`
    * with one row per neighbor `n`.
    */
  private def adjacency(und: DataFrame): DataFrame =
    und.select(col("x").as("v"), col("y").as("n"))
      .unionByName(und.select(col("y").as("v"), col("x").as("n")))

  /** PageRank over `edges(src, dst)` (long ids, duplicates = parallel
    * edges that contribute twice). Returns (id, rank) after `iterations`
    * synchronous updates of
    *   rank'(v) = (1−d)/n + d · Σ_{(u,v)∈E} rank(u)/outdeg(u),
    * starting uniform at 1/n. Every node must have outdegree ≥ 1.
    */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double = 0.85,
               checkpointEvery: Int = 5): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val nodes = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id"))).distinct()
      .localCheckpoint()
    val outdegs = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // ONE bounded action for both validation scalars (node count + sink
    // count) instead of two separate jobs — never the rows
    val nstat = nodes.join(outdegs, nodes("id") === col("src"), "left")
      .agg(count(lit(1)).as("n"),
        count(when(col("outdeg").isNull, 1)).as("sinks")).first()
    val n = nstat.getLong(0)
    val sinks = nstat.getLong(1)
    require(sinks == 0L, s"$sinks dangling node(s) (outdegree 0) — close the graph first")
    val withDeg = edges.join(outdegs, "src")
      .localCheckpoint() // reused every iteration; lineage cut once
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (i <- 1 to iterations) {
      // no-inlink nodes re-enter via an explicit zero-contribution row
      // (union into the SAME aggregation) instead of a second per-iteration
      // join against the node table — one fewer join/broadcast per
      // iteration (guide §2.4), and adding 0.0 to an IEEE sum is exact, so
      // every rank value is bit-identical to the join+coalesce formulation
      ranks = withDeg
        .join(ranks, withDeg("src") === ranks("id"))
        .select(col("dst").as("id"), (col("rank") / col("outdeg")).as("c"))
        .unionByName(nodes.select(col("id"), lit(0.0).as("c")))
        .groupBy("id").agg(sum(col("c")).as("s"))
        .select(col("id"), (lit((1.0 - damping) / n) +
          lit(damping) * col("s")).as("rank"))
      if (i % checkpointEvery == 0) ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** HITS hubs & authorities (Kleinberg 1999) over `edges(src, dst)`.
    *
    * Alternating power iteration h ← A·(Aᵀ·h) run UN-normalized — starting
    * from all-ones, every intermediate score is a sum of integers, so the
    * whole recursion stays integer-EXACT in doubles (the growth factor is
    * ~‖AAᵀ‖ per iteration; with out-degree ~3 and 10 iterations the values
    * stay far below 2^53, asserted below) and the oracle's recursion
    * reproduces it bit-for-bit. Normalization to mean 1.0 happens once at
    * the end (hub/auth each divided by their sum × n — two exact-integer
    * sums, one double division). Per iteration: two equi-joins + two
    * map-side-combined groupBys; score state never touches the driver;
    * lineage cut by periodic localCheckpoint.
    *
    * Returns (id, hub_norm, auth_norm) for every node, where auth is the
    * post-iteration Aᵀ·h_T pass (nodes without in/out edges score 0).
    */
  def hits(edges: DataFrame, iterations: Int, checkpointEvery: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val nodes = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id"))).distinct()
      .localCheckpoint()
    val n = nodes.count()
    require(n > 0, "HITS needs a non-empty edge set")
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    def auth(h: DataFrame): DataFrame = e.join(h, e("src") === h("id"))
      .groupBy(col("dst").as("aid")).agg(sum(col("h")).as("a"))
      .withColumnRenamed("aid", "id")
    var h = nodes.withColumn("h", lit(1.0))
    for (i <- 1 to iterations) {
      val a = auth(h)
      // nodes whose hub score drained to no contribution keep an explicit 0
      // — via a zero row unioned into the SAME aggregation instead of a
      // second join against the node table (one fewer join per iteration;
      // summing an extra exact 0.0 leaves the integer-exact recursion
      // bit-identical)
      h = e.join(a, e("dst") === a("id"))
        .select(col("src").as("id"), col("a").as("h"))
        .unionByName(nodes.select(col("id"), lit(0.0).as("h")))
        .groupBy("id").agg(sum(col("h")).as("h"))
      if (i % checkpointEvery == 0) h = h.localCheckpoint()
    }
    val aFinal = auth(h)
    val scored = h.join(aFinal, Seq("id"), "left")
      .select(col("id"), col("h"), coalesce(col("a"), lit(0.0)).as("a"))
      .localCheckpoint()
    val sums = scored.agg(sum(col("h")).as("sh"), sum(col("a")).as("sa"))
    val s = sums.collect()(0) // one bounded row
    // scores are non-negative, so the TOTALS bound every partial sum and
    // every individual score: totals < 2^53 proves the whole recursion
    // (including shuffle-order-dependent partial aggregation) was exact
    require(math.max(s.getDouble(0), s.getDouble(1)) < 9.0e15,
      s"HITS score totals exceeded the exact-integer double range " +
      s"(sum_h=${s.getDouble(0)}, sum_auth=${s.getDouble(1)}); reduce iterations")
    scored.select(col("id"),
      (col("h") / s.getDouble(0) * n).as("hub_norm"),
      (col("a") / s.getDouble(1) * n).as("auth_norm"))
  }

  /** Multi-source BFS hop distance (crawl depth) over `edges(src, dst)`:
    * the minimum number of link hops from any seed to each reachable node,
    * capped at `maxHops`. Returns (id, hop) for REACHED nodes only.
    *
    * Frontier-style iteration: each level joins only the NEWLY discovered
    * nodes against the edge table (never the full visited set), then
    * anti-joins visited — per-level cost is O(out-edges of the frontier),
    * the textbook distributed BFS. `visited` is localCheckpoint'ed per
    * level, so lineage stays flat across deep traversals.
    */
  def hopDistance(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    var visited = seeds.select(col("id").cast("long").as("id"))
      .distinct().withColumn("hop", lit(0)).localCheckpoint()
    var frontier = visited
    var level = 0
    while (level < maxHops) {
      level += 1
      val next = frontier.join(edges, frontier("id") === edges("src"))
        .select(col("dst").as("id")).distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
        .withColumn("hop", lit(level))
      frontier = next.localCheckpoint() // materializes: empty check is free
      if (frontier.isEmpty) return visited
      visited = visited.unionByName(frontier).localCheckpoint()
    }
    visited
  }

  /** Per-node triangle count and local clustering coefficient over an
    * UNDIRECTED simple graph given as directed `edges(src, dst)` (self
    * loops dropped, parallel/reverse duplicates collapsed).
    *
    * Compact-forward enumeration (Latapy 2008): orient every undirected
    * edge from the lower-(degree, id) endpoint to the higher, so each
    * triangle is generated exactly once from its lowest-ordered vertex and
    * a hub's join fan-out is bounded by its FORWARD degree — O(E^1.5) work
    * total instead of Σ deg² on skewed (web-shaped) degree distributions.
    * Returns (id, degree, tri_cnt, clustering_coeff) for every endpoint,
    * coeff = 2·T / (deg·(deg−1)) (0 when deg < 2).
    */
  def triangles(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    val deg = und.select(col("x").as("id")).unionByName(und.select(col("y").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    // orient x→y iff (deg(x), x) < (deg(y), y): lexicographic struct compare
    val dx = und.join(deg.withColumnRenamed("id", "x").withColumnRenamed("degree", "dxv"), "x")
      .join(deg.withColumnRenamed("id", "y").withColumnRenamed("degree", "dyv"), "y")
    val fwd = dx.select(
      when(struct(col("dxv"), col("x")) < struct(col("dyv"), col("y")), col("x")).otherwise(col("y")).as("lo"),
      when(struct(col("dxv"), col("x")) < struct(col("dyv"), col("y")), col("y")).otherwise(col("x")).as("hi"))
      .localCheckpoint() // reused three times below; cut the two-join lineage
    // wedge (a, b, c) centered at a = the triangle's minimum-order vertex;
    // the b–c closing edge sits in fwd in exactly ONE orientation, so
    // joining both wedge orders against fwd counts each triangle once
    val e1 = fwd.select(col("lo").as("a"), col("hi").as("b"))
    val e2 = fwd.select(col("lo").as("a"), col("hi").as("c"))
    val wedges = e1.join(e2, "a").filter(col("b") =!= col("c"))
    val tri = wedges.join(
      fwd.select(col("lo").as("b"), col("hi").as("c")), Seq("b", "c"))
    val perNode = tri.select(col("a").as("id"))
      .unionByName(tri.select(col("b").as("id")))
      .unionByName(tri.select(col("c").as("id")))
      .groupBy("id").agg(count(lit(1)).as("tri_cnt"))
    deg.join(perNode, Seq("id"), "left")
      .withColumn("tri_cnt", coalesce(col("tri_cnt"), lit(0L)))
      .withColumn("clustering_coeff",
        when(col("degree") < 2, lit(0.0))
          .otherwise(col("tri_cnt") * 2.0 / (col("degree") * (col("degree") - 1))))
  }

  /** Common-neighbors link prediction over the undirected simple projection
    * of `edges(src, dst)`: for every NON-adjacent pair {a, b} sharing at
    * least `minCommon` neighbors, the common-neighbor count and the
    * neighborhood Jaccard |Γa∩Γb| / |Γa∪Γb| — the classic "should these
    * pages be linked / same-site candidates" score (Liben-Nowell & Kleinberg
    * 2003, public paper) feeding crawl frontier expansion.
    *
    * Plan: one wedge self-join centered on the shared neighbor (the same
    * shape as [[triangles]]' wedge stage) → count per pair → anti-join
    * against existing edges. The wedge join is quadratic in the hottest
    * vertex's degree — `maxDegree` drops hub centers first (the df-cap
    * guard of [[Dedup.ngramJaccardPairs]] in graph form): for prediction,
    * a hub that neighbors everything carries no signal anyway.
    */
  def commonNeighbors(edges: DataFrame, minCommon: Long = 1L,
                      maxDegree: Option[Long] = None): DataFrame = {
    val und = undirected(edges)
      .localCheckpoint() // consumed 4× below (both adj sides, anti, degrees)
    val adj = adjacency(und)
    val deg = adj.groupBy("v").agg(count(lit(1)).as("degree"))
    val centers = maxDegree.fold(adj.select(col("n"), col("v")))(cap =>
      adj.join(deg.filter(col("degree") <= cap).select(col("v").as("n")), "n")
        .select(col("n"), col("v")))
    val pairs = centers.toDF("c", "a")
      .join(centers.toDF("c", "b"), "c")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
      .join(und.select(col("x").as("a"), col("y").as("b")), Seq("a", "b"), "left_anti")
    pairs
      .join(deg.select(col("v").as("a"), col("degree").as("deg_a")), "a")
      .join(deg.select(col("v").as("b"), col("degree").as("deg_b")), "b")
      .select(col("a"), col("b"), col("common"),
        (col("common").cast("double") /
          (col("deg_a") + col("deg_b") - col("common")).cast("double")).as("nbr_jaccard"))
  }

  /** Adamic-Adar link prediction (Adamic & Adar 2003, public paper) over
    * the undirected simple projection of `edges(src, dst)`: for every
    * NON-adjacent pair {a, b} with at least `minCommon` common neighbors,
    *   AA(a,b) = Σ_{z ∈ Γa∩Γb} 1 / ln(deg z)
    * — common neighbors weighted down by how promiscuous they are (a hub
    * that links everything predicts nothing; a rare shared neighbor is
    * strong evidence two pages belong together).
    *
    * Cross-engine determinism: each term is computed as the exact integer
    * `floor(1e12 / ln(deg) + 0.5)` (deg is an exact integer; JVM and DuckDB
    * `ln` are ulp-identical over the integer domain — exhaustively probed
    * for the q192 bucket oracle — so the scaled term is the same BIGINT in
    * both engines) and the pair score is an order-independent integer SUM.
    * The double `aa_score` is derived from that one integer at the end.
    * A common neighbor has degree ≥ 2 by construction, so ln(deg) > 0.
    *
    * Plan: same wedge self-join as [[commonNeighbors]] (one shuffle on the
    * shared-neighbor id, `maxDegree` caps hub fan-out) with the per-center
    * term attached BEFORE the wedge join — the join carries one extra long
    * column, the aggregate is a map-side-combined integer sum.
    */
  def adamicAdar(edges: DataFrame, minCommon: Long = 1L,
                 maxDegree: Option[Long] = None): DataFrame = {
    val und = undirected(edges)
      .localCheckpoint() // consumed 3× (adjacency, anti-join, degrees)
    val adj = adjacency(und)
    val deg = adj.groupBy("v").agg(count(lit(1)).as("degree"))
    val centers0 = maxDegree.fold(deg)(cap => deg.filter(col("degree") <= cap))
      .filter(col("degree") >= 2L) // a 1-degree node is never a common neighbor
      .select(col("v").as("n"),
        floor(lit(1e12) / log(col("degree").cast("double")) + 0.5)
          .cast("long").as("term"))
    val centers = adj.join(centers0, "n").select(col("n"), col("v"), col("term"))
    centers.toDF("c", "a", "term")
      .join(centers.toDF("c", "b", "term2"), "c")
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common"), sum(col("term")).as("aa_pico"))
      .filter(col("common") >= minCommon)
      .join(und.select(col("x").as("a"), col("y").as("b")), Seq("a", "b"), "left_anti")
      .withColumn("aa_score", col("aa_pico").cast("double") / 1e12)
  }

  /** Personalized PageRank (the random walk restarts to a seed set instead
    * of the whole graph — Haveliwala 2002 "Topic-Sensitive PageRank",
    * public paper) over `edges(src, dst)`:
    *   ppr'(v) = (1−d)·s(v) + d · Σ_{(u,v)∈E} ppr(u)/outdeg(u),
    * where s(v) = 1/|S| for v ∈ seeds and 0 otherwise; start ppr = s.
    * The result ranks the whole graph by proximity to the seeds — the
    * crawl-frontier scorer for "more pages like these trusted ones".
    *
    * Same plan shape as [[pageRank]]: one equi-join + one map-side-combined
    * groupBy per iteration, seed indicator attached once to the node frame,
    * lineage cut by periodic localCheckpoint. Every node must have
    * outdegree ≥ 1 (required, as in pageRank — dangling mass would leak).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iterations: Int,
                           damping: Double = 0.85, checkpointEvery: Int = 5): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val nodes = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id"))).distinct()
      .localCheckpoint()
    val outdegs = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val sinks = nodes.join(outdegs, nodes("id") === col("src"), "left")
      .agg(count(when(col("outdeg").isNull, 1)).as("sinks")).first().getLong(0)
    require(sinks == 0L, s"$sinks dangling node(s) (outdegree 0) — close the graph first")
    val seedIds = seeds.select(col(seeds.columns.head).cast("long").as("id")).distinct()
      .localCheckpoint()
    val nSeeds = seedIds.count() // bounded scalar: seed-set size
    require(nSeeds >= 1, "seed set is empty")
    val seeded = nodes.join(seedIds.withColumn("s", lit(1.0 / nSeeds)), Seq("id"), "left")
      .select(col("id"), coalesce(col("s"), lit(0.0)).as("s"))
      .localCheckpoint() // reused every iteration
    val withDeg = edges.join(outdegs, "src")
      .localCheckpoint()
    var ranks = seeded.select(col("id"), col("s").as("ppr"))
    for (i <- 1 to iterations) {
      // the restart indicator rides the union as a second carrier column
      // (one s row + zeros per node), so the per-iteration rebuild is one
      // aggregation instead of aggregation + join — and since the extra
      // terms are exact zeros and s appears exactly once per node, both
      // m and s come out bit-identical to the join+coalesce formulation
      ranks = withDeg
        .join(ranks, withDeg("src") === ranks("id"))
        .select(col("dst").as("id"), (col("ppr") / col("outdeg")).as("c"),
          lit(0.0).as("sc"))
        .unionByName(seeded.select(col("id"), lit(0.0).as("c"),
          col("s").as("sc")))
        .groupBy("id").agg(sum(col("c")).as("m"), sum(col("sc")).as("s"))
        .select(col("id"), (lit(1.0 - damping) * col("s") +
          lit(damping) * col("m")).as("ppr"))
      if (i % checkpointEvery == 0) ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Synchronous label propagation communities (Raghavan et al. 2007,
    * public paper) over the undirected simple projection of
    * `edges(src, dst)`: labels start as vertex ids; each round every vertex
    * adopts the MOST FREQUENT label among its neighbors, ties broken by
    * the smallest label — a fully deterministic variant of LPA (the
    * classic one randomizes tie-breaks; determinism is what lets an
    * unrolled SQL recursion replay the identical state, and what makes
    * re-runs reproducible at 100 TB).
    *
    * Runs a FIXED number of synchronous `rounds` (the bounded-round oracle
    * contract, as in [[kCore]]). Per round: one equi-join of the adjacency
    * against the label frame + one integer count + one per-vertex argmax
    * window (partitioned by the vertex — state bounded by its degree).
    * Lineage cut by localCheckpoint every round.
    *
    * Returns (id, label) after the final round.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = undirected(edges)
      .localCheckpoint()
    val adj = adjacency(und)
    var labels = und.select(col("x").as("id")).unionByName(und.select(col("y").as("id")))
      .distinct().withColumn("label", col("id")).localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("v").orderBy(col("cnt").desc, col("label"))
    for (_ <- 1 to rounds) {
      labels = adj.join(labels, adj("n") === labels("id"))
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("cnt"))
        .withColumn("_r", row_number().over(w))
        .filter(col("_r") === 1)
        .select(col("v").as("id"), col("label"))
        .localCheckpoint()
    }
    labels
  }

  /** k-truss peel (Cohen 2008 "Trusses: cohesive subgraphs for social
    * network analysis", public paper): repeatedly remove every edge whose
    * SUPPORT (number of triangles through it) is below k−2 — the
    * edge-level strengthening of [[kCore]]: a k-truss is a subgraph where
    * every tie is reinforced by at least k−2 mutual contacts, which
    * separates genuinely knit communities (link farms, mutual-citation
    * rings) from hub-made stars that survive a degree peel.
    *
    * Bounded synchronous `rounds` (the [[kCore]] oracle contract — an
    * unrolled SQL recursion replays the identical edge sets). Per round:
    * support of edge (x,y) = |Γx ∩ Γy| counted by TWO adjacency
    * equi-joins (a wedge join — Σ deg² fan-out, the [[triangles]] cost
    * law), then a semi-join keeps supported edges; lineage cut per round,
    * the edge set only shrinks. Returns surviving (x, y, support) with
    * support measured INSIDE the final subgraph.
    */
  def kTruss(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var e = undirected(edges)
      .localCheckpoint()
    def support(ed: DataFrame): DataFrame = {
      val adj = adjacency(ed)
      // cn adjacent to BOTH endpoints: join x's neighbor list, then require
      // the same cn in y's — the (y, cn) using-join is the triangle close
      ed.join(adj.toDF("x", "cn"), "x")
        .join(adj.toDF("y", "cn"), Seq("y", "cn"))
        .groupBy("x", "y").agg(count(lit(1)).as("support"))
    }
    for (_ <- 1 to rounds) {
      val keep = support(e).filter(col("support") >= k - 2).select("x", "y")
      e = e.join(keep, Seq("x", "y"), "left_semi").localCheckpoint()
    }
    e.join(support(e), Seq("x", "y"), "left")
      .withColumn("support", coalesce(col("support"), lit(0L)))
      .filter(col("support") >= k - 2)
      .select(col("x"), col("y"), col("support"))
  }

  /** k-core peel (Seidman 1983): repeatedly remove vertices of degree < k
    * from the undirected simple projection of `edges(src, dst)` — the
    * surviving dense core is the link-farm / tightly-knit-community
    * detector for web graphs (spam cores have high coreness, organic
    * leaves peel immediately).
    *
    * Runs a FIXED number of synchronous peel `rounds` (not to fixpoint):
    * the bounded-round semantics is the oracle parity contract — an
    * unrolled SQL recursion computes the identical set — and the vertex
    * set only shrinks, so `rounds ≥ max peel depth` IS the fixpoint in
    * practice. Per round: one map-side-combined degree count + one semi-join
    * of the edge set against survivors on EACH endpoint — all equi-joins
    * on the vertex id, lineage cut by localCheckpoint every round (the
    * edge set only shrinks, so each checkpoint is cheaper than the last).
    *
    * Returns surviving (id, degree) — degree measured INSIDE the final
    * surviving subgraph.
    */
  def kCore(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = undirected(edges)
    var e = und.localCheckpoint()
    for (_ <- 1 to rounds) {
      val adj = e.select(col("x").as("v")).unionByName(e.select(col("y").as("v")))
      val keep = adj.groupBy("v").agg(count(lit(1)).as("degree"))
        .filter(col("degree") >= k).select("v")
      e = e.join(keep.withColumnRenamed("v", "x"), Seq("x"), "left_semi")
        .join(keep.withColumnRenamed("v", "y"), Seq("y"), "left_semi")
        .select("x", "y").localCheckpoint()
    }
    e.select(col("x").as("v")).unionByName(e.select(col("y").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= k)
  }

  /** Directed degree assortativity (Newman 2002, "Assortative mixing in
    * networks" — out→in flavor): the Pearson correlation, over EDGES, of
    * the source's out-degree with the target's in-degree. Positive =
    * hubs link to hubs (social-web shape); negative = hubs link to leaves
    * (hierarchical/crawl-tree shape) — a one-number structure summary that
    * complements [[triangles]]/[[kCore]] density measures.
    *
    * Scale: two map-side-combined degree aggregates over the edge table,
    * joined back on src then dst (degree tables are node-cardinality —
    * re-partitioned equi-joins, broadcast when small), one corr() pass.
    * Self-loops are kept (they contribute to both degrees, per Newman);
    * parallel edges weight the correlation naturally. Dedup upstream if
    * simple-graph semantics are wanted.
    * Output: one row (assortativity, n_edges) — null when degenerate
    * (constant degree on either side).
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("_od"))
    val inDeg = edges.groupBy(col("dst")).agg(count(lit(1)).as("_id"))
    // Pearson from the five moment sums, not corr(): Spark 4's Corr
    // aggregate divides by the merged count inside its partial-MERGE step,
    // which ANSI mode turns into DIVIDE_BY_ZERO whenever a shuffle
    // partition is empty (observed on an 8-partition local run). The
    // moment-sum form is also what the DuckDB oracle can replay exactly.
    val x = col("_od").cast("double"); val y = col("_id").cast("double")
    edges.join(outDeg, "src").join(inDeg, "dst")
      .agg(count(lit(1)).as("n_edges"), sum(x).as("_sx"), sum(y).as("_sy"),
        sum(x * x).as("_sxx"), sum(y * y).as("_syy"), sum(x * y).as("_sxy"))
      .withColumn("_n", col("n_edges").cast("double"))
      .withColumn("_den",
        sqrt(greatest(col("_n") * col("_sxx") - col("_sx") * col("_sx"), lit(0.0))) *
          sqrt(greatest(col("_n") * col("_syy") - col("_sy") * col("_sy"), lit(0.0))))
      .withColumn("assortativity",
        when(col("_den") > 0,
          (col("_n") * col("_sxy") - col("_sx") * col("_sy")) / col("_den")))
      .select(col("assortativity"), col("n_edges"))
  }

  /** Edge reciprocity of a directed graph: the share of (distinct,
    * non-self) edges whose reverse edge also exists — 1.0 for symmetric
    * link graphs, near 0 for tree/feed-forward crawls. One distinct pass +
    * one left-semi self-join on the swapped key (partitioned equi-join,
    * no cross product). Output: (n_edges, n_reciprocal, reciprocity).
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val mutual = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(mutual.agg(count(lit(1)).as("n_reciprocal")))
      .withColumn("reciprocity",
        when(col("n_edges") > 0,
          col("n_reciprocal").cast("double") / col("n_edges")))
  }

  /** Discrete power-law exponent by MLE (Clauset, Shalizi & Newman 2009,
    * eq. 3.7 approximation): over the IN-degree distribution with k ≥ kmin,
    *   α ≈ 1 + n / Σ ln(k / (kmin − 0.5))
    * — the one-number heavy-tail summary of a web link graph (α ≈ 2.1 for
    * real in-link distributions). One degree aggregate + one log
    * aggregate; cross-engine-safe because each term is ln of an
    * integer-over-literal ratio (the q192 integer-domain-log precedent).
    * Output: (kmin, n_nodes, alpha).
    */
  def powerlawAlpha(edges: DataFrame, kmin: Long = 1L): DataFrame = {
    require(kmin >= 1, s"kmin must be >= 1, got $kmin")
    edges.groupBy(col("dst")).agg(count(lit(1)).as("_k"))
      .filter(col("_k") >= kmin)
      .agg(count(lit(1)).as("n_nodes"),
        sum(log(col("_k").cast("double") / (kmin - 0.5))).as("_ls"))
      .withColumn("kmin", lit(kmin))
      .withColumn("alpha",
        when(col("_ls") > 0, lit(1.0) + col("n_nodes").cast("double") / col("_ls")))
      .select(col("kmin"), col("n_nodes"), col("alpha"))
  }

  /** Newman–Girvan modularity (Newman 2006) of a GIVEN node partition over
    * the undirected simple graph:
    *   Q = Σ_c ( e_c/m − (d_c/2m)² )
    * with m total edges, e_c within-community edges, d_c the community's
    * degree sum — how much denser the communities are than a degree-
    * preserving random rewiring (Q ≈ 0 random, 0.3+ real structure). The
    * quality readout for [[labelPropagation]]'s output or any deterministic
    * partition. Two label equi-joins + two bounded aggregates; the final
    * Σ_c is community-cardinality-sized.
    * Output: one row (m, n_communities, modularity).
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = undirected(edges)
    val lx = labels.select(col("id").as("x"), col("community").as("_cx"))
    val ly = labels.select(col("id").as("y"), col("community").as("_cy"))
    val tagged = und.join(lx, "x").join(ly, "y")
    val m = tagged.agg(count(lit(1)).as("m"))
    val within = tagged.filter(col("_cx") === col("_cy"))
      .groupBy(col("_cx").as("community")).agg(count(lit(1)).as("_ec"))
    val degrees = tagged.select(col("x").as("id"), col("_cx").as("community"))
      .unionByName(tagged.select(col("y").as("id"), col("_cy").as("community")))
      .groupBy(col("community")).agg(count(lit(1)).as("_dc"))
    degrees.join(within, Seq("community"), "left")
      .crossJoin(m)
      .withColumn("_term",
        coalesce(col("_ec"), lit(0L)).cast("double") / col("m") -
          (col("_dc").cast("double") / (lit(2.0) * col("m"))) *
          (col("_dc").cast("double") / (lit(2.0) * col("m"))))
      .agg(max(col("m")).as("m"), count(lit(1)).as("n_communities"),
        sum(col("_term")).as("modularity"))
  }

  /** Average-neighbor-degree spectrum knn(k) (Pastor-Satorras et al. 2001)
    * over the undirected simple graph: for each degree k, the mean over
    * degree-k nodes of their mean neighbor degree — the CURVE behind
    * [[degreeAssortativity]]'s single number (decreasing knn(k) =
    * disassortative hub-to-leaf wiring, the usual web shape). Per-node
    * mean neighbor degree is an exact integer ratio; only the final
    * per-bucket mean is a float sum. One adjacency build + two bounded
    * aggregates. Output: (degree, n_nodes, avg_nbr_degree).
    */
  def avgNeighborDegree(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    val adj = adjacency(und)
    val deg = adj.groupBy("v").agg(count(lit(1)).as("degree"))
    val perNode = adj
      .join(deg.select(col("v").as("n"), col("degree").as("_nd")), "n")
      .groupBy("v").agg(sum(col("_nd")).as("_s"), count(lit(1)).as("_k"))
      .withColumn("_and", col("_s").cast("double") / col("_k"))
    perNode.join(deg, "v")
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_nodes"), avg(col("_and")).as("avg_nbr_degree"))
  }

  /** Rich-club coefficient (Zhou & Mondragón 2004) at the literal degree
    * cuts `ks`: among nodes with degree > k,
    *   φ(k) = 2·E_{>k} / (N_{>k}·(N_{>k}−1))
    * — do the best-connected hosts link to EACH OTHER more than a random
    * graph would? (Rising φ(k) = an elite core; the hub-interconnection
    * readout [[kCore]]'s peel doesn't give.) Entirely integer counts + one
    * division per k, so cross-engine exact. Degree-tag the edge endpoints
    * once; each k is two conditional sums over the same pass.
    * Output: one row per k: (k, n_nodes, n_edges, phi).
    */
  def richClub(edges: DataFrame, ks: Seq[Long]): DataFrame = {
    require(ks.nonEmpty, "richClub needs at least one degree cut")
    val und = undirected(edges)
    val adj = adjacency(und)
    val deg = adj.groupBy("v").agg(count(lit(1)).as("degree"))
    val tagged = und
      .join(deg.select(col("v").as("x"), col("degree").as("_dx")), "x")
      .join(deg.select(col("v").as("y"), col("degree").as("_dy")), "y")
    val edgeAggs = ks.map(k =>
      sum(when(col("_dx") > k && col("_dy") > k, 1L).otherwise(0L)).as(s"_e$k"))
    val e = tagged.agg(edgeAggs.head, edgeAggs.tail: _*)
    val nodeAggs = ks.map(k =>
      sum(when(col("degree") > k, 1L).otherwise(0L)).as(s"_n$k"))
    val nn = deg.agg(nodeAggs.head, nodeAggs.tail: _*)
    val rows = ks.map(k =>
      struct(lit(k).as("k"), col(s"_n$k").as("n_nodes"),
        col(s"_e$k").as("n_edges"),
        when(col(s"_n$k") >= 2,
          lit(2.0) * col(s"_e$k") /
            (col(s"_n$k") * (col(s"_n$k") - 1)).cast("double")).as("phi")))
    e.crossJoin(nn)
      .select(explode(array(rows: _*)).as("d")).select("d.*")
  }
}
