package graft.ops

import graft.core.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph computation as DataFrame loops — the operator class
  * (fixed-point style jobs: PageRank, label propagation, connected
  * components) that stresses Spark differently from any single query:
  * per-iteration shuffles and unbounded lineage growth.
  *
  * Discipline encoded here:
  *  - edge table (with out-weights) is built ONCE and cached — every
  *    iteration joins against the same materialized edges;
  *  - each iteration's rank table is cached via [[Caches]] so the next
  *    iteration reads partials, not a re-derivation chain (at cluster
  *    scale with tens of iterations, swap the cache for
  *    `localCheckpoint()` to truncate lineage outright — same seam);
  *  - ALL arithmetic is integer (micro-scaled ranks, floor division),
  *    so the fixed iteration count yields bit-identical results on any
  *    engine, partitioning, or re-run — the determinism rule every
  *    operator here follows.
  */
object Graph {

  /** Weighted PageRank, `iters` fixed iterations, ranks in micro units
    * (node starts at 1 000 000). Per iteration:
    * `pr' = (1e6 − d) + (d · Σ_in floor(pr·w / out_w)) div 1e6` with
    * damping `d` in ppm — floor at both steps, Long-exact while
    * `d · Σ in-contributions` < 2⁶³ (holds through ~10⁹-node graphs at
    * micro scale; switch the accumulator to decimal(38,0) past that).
    * Dangling-node mass is dropped (the simple variant) — identically
    * on both engines.
    *
    * Scale: iterations shuffle (a) the contribution agg keyed by dst
    * and (b) the rank join keyed by node — both line-rate in edges;
    * the edge table is shuffled once at build and reused.
    */
  def pagerankMicro(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iters: Int,
      dampingPpm: Long = 850000L,
      broadcastRanks: Boolean = false): DataFrame = {
    val basePpm = 1000000L - dampingPpm
    // cache the edge PROJECTION first: `ew` and `nodes` both derive
    // from it, and caching only the derived tables would materialize
    // the caller's edge subtree twice (measured 2× the transition-count
    // build on q87 — the dominant cost, not the iterations)
    val e = Caches.cache(
      edges.select(
        col(srcCol).as("src"),
        col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w")))
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("out_w"))
    val ew = Caches.cache(e.join(outW, Seq("src")))
    val nodes = Caches.cache(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct())
    // The rank and contribution tables are NODE-sized — one row per
    // vertex — while the join work is EDGE-sized. When the vertex set
    // is broadcastable (item/vocabulary graphs: bounded by the catalog,
    // not the corpus), `broadcastRanks` replaces both per-iteration
    // rank-side shuffles with broadcasts, leaving only the contribution
    // aggregation exchange (map-side combined, ≤ |V| rows out per
    // partition). Web-scale graphs (|V| ~ corpus) keep the default
    // shuffle joins — same regime split as the co-visitation prefilter.
    def side(df: DataFrame): DataFrame = if (broadcastRanks) broadcast(df) else df
    var pr = nodes.select(col("id"), lit(1000000L).as("pr_micro"))
    for (_ <- 1 to iters) {
      val contrib = ew
        .join(side(pr), ew("src") === pr("id"))
        .select(col("dst"), expr("(pr_micro * w) div out_w").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("in_c"))
      pr = Caches.cache(
        nodes
          .join(side(contrib), nodes("id") === contrib("dst"), "left")
          .select(
            col("id"),
            expr(s"$basePpm + ($dampingPpm * coalesce(in_c, 0L)) div 1000000")
              .as("pr_micro")))
    }
    pr
  }

  /** Personalized PageRank / random-walk-with-restart, `iters` fixed
    * iterations in micro units — [[pagerankMicro]] with the teleport
    * mass concentrated on `seeds` instead of spread uniformly: the
    * item-conditioned neighborhood operator behind "recommend around
    * THIS item / this user's anchors". Each seed injects
    * `1e6 − dampingPpm` micro of restart mass per iteration (per-seed
    * mass 1e6, so the result is the sum of per-seed PPR vectors);
    * non-seed nodes get mass only through in-edges, and nodes
    * unreachable from the seed set stay at exactly 0. All arithmetic
    * is floor-division integer, bit-identical cross-engine — the
    * oracle unrolls the iterations as CTEs exactly like q87's.
    *
    * Seed rows whose id is not a graph node are ignored (the seed
    * attach is a left join from the node table), so callers may pass
    * any cheap superset — e.g. the item catalog filtered by a
    * predicate — without intersecting it against the edge set first.
    *
    * Scale shape: identical to [[pagerankMicro]] — edge table shuffled
    * once and cached, per-iteration one edge-sized contribution agg
    * (map-side combined) + one node-sized rank join, `broadcastRanks`
    * for catalog-bounded vertex sets. The seed flag rides the cached
    * node table; no extra exchange anywhere.
    */
  def personalizedPagerankMicro(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      seeds: DataFrame,
      iters: Int,
      dampingPpm: Long = 850000L,
      broadcastRanks: Boolean = false): DataFrame = {
    val basePpm = 1000000L - dampingPpm
    val e = Caches.cache(
      edges.select(
        col(srcCol).as("src"),
        col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w")))
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("out_w"))
    val ew = Caches.cache(e.join(outW, Seq("src")))
    val nodes = Caches.cache(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
        .join(
          broadcast(seeds.select(col("id")).distinct().withColumn("__s", lit(1L))),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("__s"), lit(0L)).as("is_seed")))
    def side(df: DataFrame): DataFrame = if (broadcastRanks) broadcast(df) else df
    var pr = nodes.select(col("id"), (col("is_seed") * 1000000L).as("ppr_micro"))
    for (_ <- 1 to iters) {
      val contrib = ew
        .join(side(pr), ew("src") === pr("id"))
        .select(col("dst"), expr("(ppr_micro * w) div out_w").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("in_c"))
      pr = Caches.cache(
        nodes
          .join(side(contrib), nodes("id") === contrib("dst"), "left")
          .select(
            col("id"),
            expr(s"is_seed * $basePpm + ($dampingPpm * coalesce(in_c, 0L)) div 1000000")
              .as("ppr_micro")))
    }
    pr
  }

  /** HITS hubs & authorities (Kleinberg 1999), `iters` fixed
    * alternations in micro units — the DIRECTED companion to
    * [[pagerankMicro]] on transition graphs: an authority is an item
    * sessions converge ON (a(v) = Σ_in h·w), a hub is one they fan out
    * FROM (h(u) = Σ_out a·w). Each half-step renormalizes to total
    * mass 1e6 by exact integer floor division (`x·1e6 div Σx`), so
    * every score is a pure integer function of the edge multiset —
    * bit-identical cross-engine, oracle-expressible as unrolled CTEs.
    *
    * Scale: per half-step one edge-sized contribution aggregation
    * (map-side combined, keyed by the receiving vertex) + one
    * broadcast of the single-row mass total; score tables are
    * node-sized. Same regime as pagerankMicro; ranks localCheckpoint
    * each round so lineage stays flat over the iteration.
    */
  def hitsMicro(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iters: Int): DataFrame = {
    val e = Caches.cache(
      edges.select(
        col(srcCol).as("src"),
        col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w")))
    val nodes = Caches.cache(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct())
    def normalize(raw: DataFrame, c: String): DataFrame = {
      val tot = raw.agg(sum(col(c)).as("__tot"))
      nodes
        .join(raw, Seq("id"), "left")
        .crossJoin(broadcast(tot))
        .select(
          col("id"),
          expr(s"coalesce($c, 0L) * 1000000 div __tot").as(c))
    }
    var h = nodes.select(col("id"), lit(1000000L).as("h"))
    var a = nodes.select(col("id"), lit(0L).as("a"))
    for (_ <- 1 to iters) {
      a = normalize(
        e.join(h, e("src") === h("id"))
          .groupBy(col("dst").as("id"))
          .agg(sum(col("h") * col("w")).as("a")),
        "a").localCheckpoint(true)
      h = normalize(
        e.join(a, e("dst") === a("id"))
          .groupBy(col("src").as("id"))
          .agg(sum(col("a") * col("w")).as("h")),
        "h").localCheckpoint(true)
    }
    nodes
      .join(h, Seq("id"), "left")
      .join(a, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("h"), lit(0L)).as("hub_micro"),
        coalesce(col("a"), lit(0L)).as("auth_micro"))
  }

  /** SALSA hubs & authorities (Lempel–Moran 2001), `iters` fixed
    * alternations in micro units — [[hitsMicro]] with the mutual
    * reinforcement DEGREE-NORMALIZED on the sending side: an authority
    * receives `h·w div out_w(hub)`, a hub receives `a·w div in_w
    * (authority)` — the alternating forward/backward random walk, so a
    * high-degree hub no longer floods every neighbor with its full
    * mass (TKC effect), the known HITS failure mode on commercial
    * graphs. No global normalizer at all: every update is a local
    * floor division, pure integer, bit-identical cross-engine and
    * oracle-expressible as unrolled CTEs.
    *
    * Scale: identical shape to [[pagerankMicro]] — the edge table gets
    * its two degree attaches once and is cached; each half-step is one
    * edge-sized map-side-combined aggregation + one node-sized left
    * join. Scores localCheckpoint each round to keep lineage flat.
    */
  def salsaMicro(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iters: Int): DataFrame = {
    val e = Caches.cache(
      edges.select(
        col(srcCol).as("src"),
        col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w")))
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("out_w"))
    val inW = e.groupBy(col("dst")).agg(sum(col("w")).as("in_w"))
    val ew = Caches.cache(e.join(outW, Seq("src")).join(inW, Seq("dst")))
    val nodes = Caches.cache(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct())
    var h = nodes.select(col("id"), lit(1000000L).as("h"))
    var a = nodes.select(col("id"), lit(0L).as("a"))
    for (_ <- 1 to iters) {
      a = nodes
        .join(
          ew.join(h, ew("src") === h("id"))
            .select(col("dst"), expr("(h * w) div out_w").as("c"))
            .groupBy(col("dst"))
            .agg(sum(col("c")).as("a")),
          nodes("id") === col("dst"), "left")
        .select(col("id"), coalesce(col("a"), lit(0L)).as("a"))
        .localCheckpoint(true)
      h = nodes
        .join(
          ew.join(a, ew("dst") === a("id"))
            .select(col("src"), expr("(a * w) div in_w").as("c"))
            .groupBy(col("src"))
            .agg(sum(col("c")).as("h")),
          nodes("id") === col("src"), "left")
        .select(col("id"), coalesce(col("h"), lit(0L)).as("h"))
        .localCheckpoint(true)
    }
    nodes
      .join(h, Seq("id"), "left")
      .join(a, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("h"), lit(0L)).as("hub_micro"),
        coalesce(col("a"), lit(0L)).as("auth_micro"))
  }

  /** Bradley–Terry strength scores from pairwise win counts, `iters`
    * fixed minorize–maximize iterations in micro units — "aggregate
    * noisy pairwise preferences into one global ranking", the model
    * behind chess Elo and RLHF preference aggregation. Input: directed
    * `winsCol` wins of `winnerCol` over `loserCol` (one row per
    * ordered pair). MM update sᵢ' = Wᵢ / Σⱼ mᵢⱼ/(sᵢ+sⱼ) with Wᵢ = total
    * wins of i and mᵢⱼ = games between i and j, computed as nested
    * exact floor divisions at pico precision (the documented
    * quantization: d_pico = Σⱼ mᵢⱼ·1e12 div (sᵢ+sⱼ), s' = Wᵢ·1e12 div
    * d_pico) — bit-identical cross-engine, oracle-expressible as
    * unrolled CTEs. Items with zero wins go to 0 and stay there (the
    * MM fixed point); the overall scale is arbitrary (BT is
    * scale-invariant) and pinned only by the 1e6 start.
    *
    * Scale: per iteration one edge-sized join + map-side-combined agg
    * keyed by item (the [[pagerankMicro]] shape); the symmetric game
    * table is built once and cached. Int64 bound: mᵢⱼ·1e12 needs
    * mᵢⱼ < 9.2e6 per pair — per-pair counts, not totals; loud past it.
    */
  def bradleyTerryMicro(
      wins: DataFrame,
      winnerCol: String,
      loserCol: String,
      winsCol: String,
      iters: Int): DataFrame = {
    val w = Caches.cache(
      wins.select(
        col(winnerCol).as("win"), col(loserCol).as("lose"),
        col(winsCol).cast("long").as("nw")))
    val games = Caches.cache(
      w.select(col("win").as("a"), col("lose").as("b"), col("nw"))
        .unionByName(
          w.select(col("lose").as("a"), col("win").as("b"), col("nw")))
        .groupBy(col("a"), col("b"))
        .agg(sum(col("nw")).as("m")))
    val totW = w.groupBy(col("win").as("id")).agg(sum(col("nw")).as("w_total"))
    val nodes = Caches.cache(
      games.select(col("a").as("id")).distinct()
        .join(totW, Seq("id"), "left")
        .na.fill(0L, Seq("w_total")))
    var s = nodes.select(col("id"), lit(1000000L).as("s_micro"))
    for (_ <- 1 to iters) {
      val d = games
        .join(s.select(col("id").as("a"), col("s_micro").as("sa")), Seq("a"))
        .join(s.select(col("id").as("b"), col("s_micro").as("sb")), Seq("b"))
        .withColumn("__ovf_ok", expr(
          """assert_true(m <= 9223372036854775807 div 1000000000000,
            |  'bradleyTerryMicro: per-pair game count overflows the pico scale')"""
            .stripMargin))
        .select(col("a").as("id"),
          when(col("__ovf_ok").isNull,
            // a pair of two zero-strength items contributes 0 (their
            // games are unmodelable) rather than dividing by zero
            expr("CASE WHEN sa + sb = 0 THEN 0 ELSE m * 1000000000000 div (sa + sb) END"))
            .as("term"))
        .groupBy(col("id"))
        .agg(sum(col("term")).as("d_pico"))
      s = nodes
        .join(d, Seq("id"), "left")
        .select(
          col("id"),
          expr("""CASE WHEN d_pico IS NULL OR d_pico = 0 THEN 0
                 | ELSE w_total * 1000000000000 div d_pico END""".stripMargin)
            .as("s_micro"))
        .localCheckpoint(true)
    }
    s
  }

  /** Deterministic weighted random walks over a directed edge set —
    * the walk-corpus generator behind node2vec/DeepWalk-style
    * embedding training: each start node emits one walk of up to
    * `steps` hops, each hop choosing an out-edge with probability
    * proportional to its weight. "Random" is a pure integer function
    * of (walk_id, step): the hash `md5(walk_id || '_' || step)`
    * (15 hex chars → 60-bit int, the q121 hex-cast pattern) taken
    * `mod out_w(node)` selects the unique out-edge whose cumulative
    * weight interval contains it — bit-identical on any engine,
    * partitioning, or re-run, and exactly mirrorable in SQL as
    * unrolled CTEs. Walks stop early at sink nodes (no out-edges).
    *
    * Output: (walk_id, step, node), step 0 = the start node.
    *
    * Scale shape: the edge table gets its cumulative-weight windows
    * once (one exchange keyed by src) and is cached; each step is one
    * equi-join of the walk frontier (|walks| rows) against the edges
    * keyed by node, with per-row fan-out bounded by out-degree before
    * the interval filter collapses it back to exactly one row.
    * Σ walks·deg(node) work per step — the hub-cap lever upstream
    * (covis session cap) bounds deg. For catalog-bounded graphs the
    * edge side broadcasts (`broadcastEdges`), making every step
    * shuffle-free.
    */
  def randomWalks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      starts: DataFrame,
      steps: Int,
      broadcastEdges: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = Window.partitionBy(col("src"))
      .orderBy(col("dst")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val e0 = Caches.cache(
      edges
        .select(
          col(srcCol).as("src"),
          col(dstCol).as("dst"),
          col(weightCol).cast("long").as("w"))
        .withColumn("cum_w", sum(col("w")).over(cum))
        .withColumn("out_w",
          sum(col("w")).over(Window.partitionBy(col("src")))))
    val e = if (broadcastEdges) broadcast(e0) else e0
    var cur = starts.select(
      col("id").as("walk_id"), col("id").as("node"), lit(0L).as("step"))
    val legs = Seq.newBuilder[DataFrame]
    legs += cur
    for (s <- 1 to steps) {
      val r = conv(
        substring(md5(concat_ws("_", col("walk_id"), lit(s))), 1, 15), 16, 10)
        .cast("long") % col("out_w")
      // cache each frontier: the final union references every leg, and
      // leg s would otherwise re-run the whole join chain 1..s
      cur = Caches.cache(
        cur
          .join(e, cur("node") === e("src"))
          .filter(col("cum_w") - col("w") <= r && r < col("cum_w"))
          .select(col("walk_id"), col("dst").as("node"), lit(s.toLong).as("step")))
      legs += cur
    }
    legs.result().reduce(_ unionByName _)
  }

  /** Bounded-hop harmonic centrality of a SEED slice: for each seed s,
    * Σ_{v: 0 < d(s,v) ≤ hops} 1e6 div d(s,v) over exact BFS distances —
    * the reach-weighted influence score that (unlike closeness) is
    * well-defined on disconnected graphs, truncated at `hops` so the
    * work is the seed neighborhood, never all-pairs shortest paths.
    * Pure integer: distances are hop counts, 1e6 div d is exact, so the
    * oracle unrolls the hops as CTEs and matches bit-for-bit.
    *
    * Shape: one frontier-join per hop with a per-hop DISTINCT (the
    * frontier is (seed, node) pairs — never wider than seeds × |V|),
    * each frontier cached (the [[randomWalks]] rule: the final union
    * references every leg), then one min-dist agg + one per-seed agg.
    * At 100×: cost is Σ_h |frontier_h| ≈ seeds × avg h-hop
    * neighborhood; the levers are the seed slice width and `hops` —
    * both caller-bounded. Output per seed:
    * `(seed, n_reached, harmonic_micro)`.
    */
  def harmonicCentralityMicro(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      hops: Int): DataFrame = {
    require(hops >= 1)
    val e = Caches.cache(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    var frontier = Caches.cache(
      seeds.select(col(seedCol).as("seed"), col(seedCol).as("node")).distinct())
    val legs = Seq.newBuilder[DataFrame]
    legs += frontier.select(col("seed"), col("node"), lit(0L).as("step"))
    for (h <- 1 to hops) {
      frontier = Caches.cache(
        frontier
          .join(e, frontier("node") === e("src"))
          .select(col("seed"), col("dst").as("node"))
          .distinct())
      legs += frontier.select(col("seed"), col("node"), lit(h.toLong).as("step"))
    }
    legs.result()
      .reduce(_ unionByName _)
      .groupBy(col("seed"), col("node"))
      .agg(min(col("step")).as("dist"))
      .filter(col("dist") > 0)
      .groupBy(col("seed"))
      .agg(
        count(lit(1)).as("n_reached"),
        sum(expr("1000000 div dist")).as("harmonic_micro"))
  }

  /** k-truss peeling over CANONICAL undirected edges (src < dst,
    * deduplicated): each round counts per-edge triangle support with
    * the same id-oriented two-join as [[triangleCounts]] and drops
    * edges supporting < k−2 triangles — the cohesive-subgraph miner
    * one notch stronger than triangles (an edge survives the 4-truss
    * only if it sits in ≥ 2 triangles among SURVIVING edges, so
    * bridge edges between communities peel away even when each closes
    * one triangle). FIXED `rounds` synchronized rounds — the
    * oracle-checkable contract (the LPA/HITS fixed-iteration
    * adjudication); production convergence adds a cheap fixpoint
    * check (`count` unchanged → stop), identical per-round plan.
    *
    * Returns the edges surviving round `rounds` with the support they
    * had in that round's input graph: `(a, b, support)`.
    *
    * Shape: per round, one wedge self-join + one closure semi-join +
    * one edge-ref agg — the triangle regime (Σ deg² wedge work,
    * id-orientation; AQE skew-split covers moderate hubs, the covis
    * session cap bounds them upstream). Each round's edge set is
    * cached: it drives all three join sides of the next round.
    */
  def kTrussEdges(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1)
    // each round's edge table is EAGERLY localCheckpoint'ed, not merely
    // cached: a cache leaves the LOGICAL plan intact, and this loop
    // references the previous round 3+ times per round, so the analyzed
    // tree grows ~9× per round and Catalyst re-analysis explodes
    // (measured on the 443-edge sf0.01 covis graph: rounds 1/2/3 =
    // 2 s / 20 s / 843 s cached-only vs flat after checkpointing).
    // The checkpoint also truncates executor-side lineage — the same
    // seam [[pagerankMicro]] documents for tens-of-iteration jobs.
    var e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .localCheckpoint(true)
    var result: DataFrame = null
    for (_ <- 1 to rounds) {
      val tri = e.as("ab")
        .join(e.as("bc"), col("ab.b") === col("bc.a"))
        .join(e.as("ac"),
          col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
        .select(col("ab.a").as("a"), col("ab.b").as("b"), col("bc.b").as("c"))
        .localCheckpoint(true)
      val edgeRefs = tri.select(col("a"), col("b"))
        .unionByName(tri.select(col("b").as("a"), col("c").as("b")))
        .unionByName(tri.select(col("a"), col("c").as("b")))
      result = edgeRefs
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= k - 2)
        .localCheckpoint(true)
      e = result.select(col("a"), col("b"))
    }
    result
  }

  /** Exact per-vertex TRIANGLE counts on an undirected graph given as
    * canonical edges (src < dst, deduplicated). Triangle counting is
    * the clustering-coefficient numerator — community density on the
    * co-visitation item graph, mutual-link strength on reference
    * graphs.
    *
    * Shape: the textbook two-join enumeration over id-ORIENTED edges —
    * wedges a<b<c from (a,b)⋈(b,c), closed by (a,c) — so every
    * triangle is produced exactly once, then exploded to its 3
    * vertices and counted. Orienting by vertex id (not degree) keeps
    * the plan deterministic and oracle-identical; the classic
    * degree-orientation refinement bounds wedge fan-out by √|E| on
    * power-law graphs at the cost of a degree-attach join — worth it
    * when a hub vertex's id-ordered out-neighborhood is huge (AQE
    * skew-split covers the moderate case here). Edge table is cached:
    * it drives all three join sides.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = Caches.cache(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.dst") === col("bc.src"))
      .join(
        e.as("ac"),
        col("ac.src") === col("ab.src") && col("ac.dst") === col("bc.dst"))
      .select(col("ab.src").as("a"), col("ab.dst").as("b"), col("bc.dst").as("c"))
    tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("tri_count"))
  }

  /** Local clustering coefficient in exact integer ppm:
    * cc = 2·triangles / (deg·(deg−1)) per vertex with deg ≥ 2 — how
    * clique-like each vertex's neighborhood is (1e6 = all neighbors
    * pairwise adjacent). Output: (id, degree, tri_count, cc_ppm).
    *
    * Degrees are one explode+agg over the edge list; triangles via
    * [[triangleCounts]] on the SAME select — Spark's cache manager
    * keys InMemoryRelations on the analyzed plan, so both passes read
    * one cached edge set. Zero-triangle vertices survive via the left
    * join (cc 0), degree-1 vertices are dropped (cc undefined).
    */
  /** Bounded-round k-core peeling over an undirected canonical
    * (src < dst, deduplicated) edge set: `rounds` synchronous rounds of
    * "drop every vertex with degree < k, keep only edges with both
    * endpoints alive". The k-core (maximal subgraph of min-degree ≥ k)
    * is the classic dense-community / spam-farm detector on item and
    * link graphs; the full decomposition iterates the peel to a
    * fixpoint, and a FIXED round count keeps the stage graph static
    * (plannable, resumable, oracle-expressible as a chained CTE) while
    * each round strictly shrinks the graph — small k converges in a few
    * rounds on real graphs (spec pins a converged case). Output:
    * (id, degree) of the surviving subgraph's vertices.
    *
    * Scale shape per round: one map-side-combined degree aggregation
    * (edge-sized in, vertex-sized out) and two semi-joins re-keying the
    * edge table on src then dst; the alive set is vertex-sized
    * (catalog-bounded on item graphs) so AQE broadcasts both semi-joins
    * and the edge table is never exchanged. Each round's edge table is
    * cached via [[graft.core.Caches]] so round r+1 peels materialized
    * edges, not a 2r-join lineage chain.
    */
  def kCorePeel(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Int): DataFrame = {
    def degrees(e: DataFrame): DataFrame = e
      .select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("degree"))
    // eager localCheckpoint, not cache: `e` feeds THREE plan branches
    // per round (degree agg + both semi-joins) and the next round, so a
    // cache-only loop compounds the ANALYZED plan ~3× per round — the
    // kTrussEdges Catalyst-reanalysis blowup class (measured there:
    // 843 s -> 1.5 s at 3 rounds)
    var e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val alive = degrees(e).filter(col("degree") >= k).select(col("id"))
      e = e.join(alive.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint(true)
    }
    degrees(e)
  }

  /** Degree-oriented triangle counting — the hub-resistant sibling of
    * [[triangleCounts]]. Edges are re-oriented from the (degree, id)-
    * SMALLER endpoint to the larger (total order: degree first, id
    * tie-break), which caps every out-neighborhood at O(√m): a hub of
    * degree d keeps only out-edges to higher-degree vertices, so the
    * wedge self-join does Σ outdeg² ≪ Σ deg² work on power-law graphs.
    * Identical triangle set and per-vertex counts as the id-oriented
    * plan (orientation is internal; each triangle has exactly one
    * (deg,id)-minimal apex) — same oracle. Costs one extra
    * degree-attach join per side; ProbeTriangles measured when that
    * premium pays (hub regime) and when it doesn't (flat-degree covis
    * at test SFs, where [[triangleCounts]] stays the default) — DESIGN.md
    * "Asymmetric dedup & graph metrics",
    * `git show 519ff36:src/main/scala/graft/ProbeTriangles.scala`.
    */
  def triangleCountsDegreeOriented(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val deg = e0
      .select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("deg"))
    // orient by (deg, id): u→v iff (deg_u, u) < (deg_v, v)
    val dirE = Caches.cache(
      e0.join(deg.select(col("id").as("src"), col("deg").as("ds")), Seq("src"))
        .join(deg.select(col("id").as("dst"), col("deg").as("dd")), Seq("dst"))
        .select(
          when(
            col("ds") < col("dd") ||
              (col("ds") === col("dd") && col("src") < col("dst")),
            struct(col("src").as("a"), col("dst").as("b"),
              col("ds").as("da"), col("dd").as("db")))
            .otherwise(struct(col("dst").as("a"), col("src").as("b"),
              col("dd").as("da"), col("ds").as("db")))
            .as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"),
          col("e.da").as("da"), col("e.db").as("db")))
    // wedges at the (deg,id)-minimal apex: pair the apex's out-edges
    // with (deg,id)-ordered endpoints, close with a directed edge b→c
    val wedges = dirE.as("ab")
      .join(dirE.as("ac"), col("ab.a") === col("ac.a"))
      .filter(
        col("ab.db") < col("ac.db") ||
          (col("ab.db") === col("ac.db") && col("ab.b") < col("ac.b")))
      .select(col("ab.a").as("a"), col("ab.b").as("b"), col("ac.b").as("c"))
    val tri = wedges.join(
      dirE.select(col("a").as("b"), col("b").as("c")),
      Seq("b", "c"),
      "left_semi")
    tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("tri_count"))
  }

  /** Self-inclusive synchronized label propagation (Raghavan et al.
    * 2007 with the node-inclusive neighborhood), `rounds` fixed
    * rounds — community detection, the coarser sibling of connected
    * components (components merge anything reachable; LPA communities
    * stop at dense cores, so two cliques sharing one bridge edge keep
    * distinct labels). Every vertex starts labeled with its own id;
    * each round it adopts the MOST FREQUENT label among its neighbors
    * PLUS its own current label (one self-vote), ties → smallest
    * label — fully deterministic, so a fixed round count is
    * oracle-checkable (the async/random variants are not).
    *
    * The self-vote is the oscillation breaker: pure synchronized LPA
    * 2-colors bipartite-ish sparse structure (both endpoints of an
    * isolated edge swap labels forever — after an even round count no
    * edge is intra-community and modularity goes NEGATIVE, the q287
    * regime the round-9 audit caught at sf0.01). With the self-vote a
    * degree-1 vertex ties its own label against its neighbor's and the
    * min wins for BOTH endpoints, so sparse components converge
    * instead of oscillating — measured on the real covis graphs
    * (ProbeLpa — DESIGN.md "Round-9 continuation block", q287 finding;
    * `git show 519ff36:src/main/scala/graft/ProbeLpa.scala`):
    * Q −0.037 → +0.926 at sf0.01, unchanged at sf0.1
    * (whose 100-node/1212-edge quasi-clique genuinely is one
    * community; a semi-async md5-parity schedule was also measured
    * and wins nothing over the self-vote while costing 2× the steps).
    * Consumers should still gate on modularity before trusting the
    * partition at a new data scale — [[labelPropagationGated]] wires
    * that check into the plan.
    *
    * Scale shape per round: one edge-keyed join (labels onto the
    * static cached undirected edge table) + one (vertex, label) count
    * agg (map-side combinable, the self-votes unioned in at vertex
    * rate) + one top-1 window keyed by vertex — all line-rate in |E|.
    * The label frame is referenced twice per round (neighbor join +
    * self-vote), so each round is eagerly localCheckpoint'd per the
    * multi-self-reference rule (lineage would otherwise double every
    * round, the kTruss analyzer blowup); the final frame is therefore
    * already materialized for fan-out consumers (q215/q227/q287).
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int): DataFrame = {
    // e0 eager: the undirected union references it twice inside the
    // init-labels checkpoint job, re-running the caller's edge subtree
    // (covis self-join for q157) once per side under a lazy entry; und
    // itself stays lazy — the init job populates it sequentially
    val e0 = Caches.materialized(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val und = Caches.cache(
      e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst"))))
    var labels = und.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val votes = und
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .select(col("src").as("id"), col("label"))
        .unionByName(labels.select(col("id"), col("label")))
      labels = Windows.topKPerGroup(
        votes.groupBy(col("id"), col("label")).agg(count(lit(1)).as("cnt")),
        Seq("id"), col("cnt"), Seq("label"), 1)
        .select(col("id"), col("label"))
        .localCheckpoint(true)
    }
    labels
  }

  /** [[labelPropagation]] with the q287 modularity audit wired into
    * the returned plan as a release gate: the labels only flow if the
    * partition's modularity Q exceeds `minQPpm` (ppm), else the query
    * FAILS LOUD via `assert_true` — the suite's overflow-guard
    * convention applied to partition quality. This encodes the
    * round-9 finding as a library contract: LPA output is only
    * meaningful between two failure regimes (sparse oscillation
    * Q < 0, dense single-label collapse Q = 0), and a cluster
    * consumer at a NEW data scale must not silently ingest a
    * degenerate partition (q287 is the cheap standalone reading of
    * the same score).
    *
    * Cost: one extra modularity pass (edge-rate join + 1-row agg)
    * broadcast onto the vertex-rate label frame — the gate row is a
    * 1-row aggregate so the crossJoin is safe (never empty).
    */
  def labelPropagationGated(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int,
      minQPpm: Long = 1L): DataFrame = {
    val labels = labelPropagation(edges, srcCol, dstCol, rounds)
    val q = modularityPpm(edges, srcCol, dstCol, labels)
      .agg(coalesce(sum(col("contrib_ppm")), lit(Long.MinValue)).as("q_ppm"))
    labels
      .crossJoin(broadcast(q))
      .withColumn("__gate", expr(
        s"""assert_true(q_ppm >= $minQPpm,
           |  concat('labelPropagationGated: partition modularity ', q_ppm,
           |         ' ppm below the $minQPpm ppm gate -- degenerate regime',
           |         ' (Q<0 oscillation / Q=0 single-label collapse);',
           |         ' do not consume these communities at this scale'))"""
          .stripMargin))
      .where(col("__gate").isNull)
      .select(col("id"), col("label"))
  }

  /** Common-neighbor link prediction over an undirected canonical
    * (src < dst, deduplicated) edge set: for every NON-adjacent vertex
    * pair sharing at least one neighbor, three classic scores —
    * `cn` (common-neighbor count), `ra_micro` (resource allocation,
    * Adamic–Adar's rational sibling: Σ_z 1e6 div deg(z) — no
    * transcendental, so exact integer and oracle-identical), and
    * `jaccard_ppm` (|Γu∩Γv| / |Γu∪Γv|). The "which items WILL
    * co-occur" question behind complement recommendation and graph
    * densification.
    *
    * Shape: one wedge self-join through the shared neighbor z (the
    * triangle-counting regime: Σ deg(z)² work, hub-capped upstream by
    * the covis session cap), one anti-join against existing edges, one
    * degree attach. Candidate pairs are emitted canonical (u < v).
    */
  def linkPredictionScores(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val e = Caches.cache(
      edges.select(col(srcCol).as("a"), col(dstCol).as("b")))
    val und = e.select(col("a").as("z"), col("b").as("n"))
      .unionByName(e.select(col("b").as("z"), col("a").as("n")))
    val deg = und.groupBy(col("z").as("id")).agg(count(lit(1)).as("deg"))
    val undD = Caches.cache(
      und.join(deg.withColumnRenamed("id", "z"), Seq("z")))
    val wedges = undD.as("l")
      .join(
        undD.select(col("z"), col("n")).as("r"),
        col("l.z") === col("r.z") && col("l.n") < col("r.n"))
      .select(
        col("l.n").as("u"), col("r.n").as("v"),
        expr("1000000 div deg").as("ra_c"))
    val cand = wedges
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"), sum(col("ra_c")).as("ra_micro"))
      .join(
        e.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
    cand
      .join(broadcast(deg.select(col("id").as("u"), col("deg").as("du"))), Seq("u"))
      .join(broadcast(deg.select(col("id").as("v"), col("deg").as("dv"))), Seq("v"))
      .select(
        col("u"), col("v"), col("cn"), col("ra_micro"),
        expr("cn * 1000000 div (du + dv - cn)").as("jaccard_ppm"))
  }

  /** Degree assortativity of an undirected canonical edge set — the
    * Pearson correlation of endpoint degrees over directed edge stubs
    * (Newman 2002): positive = hubs attach to hubs (social nets),
    * negative = hubs attach to leaves (catalogs, the web). All five
    * moments are exact integer sums over the 2|E| stubs; `r_micro` is
    * the one double chain, micro-rounded identically in the oracle.
    * Long-exact while n·Σxy < 2⁶³ (~10⁹ edge-stubs·deg²) — ENFORCED:
    * an `assert_true` guard in the plan fails loud on the Spark side
    * the moment any `n·moment` or `Σx·Σy` product would wrap, instead
    * of silently wrapping while the DuckDB oracle errors. Past that
    * scale, switch the moment accumulators to decimal(38,0), same note
    * as [[pagerankMicro]]. Zero-variance inputs (degree-regular graphs:
    * perfect matchings, single cycles) yield NULL `r_micro` on both
    * engines via the shared template's CASE guard, not NaN.
    *
    * Shape: one degree agg + two broadcast degree attaches + one
    * global agg — line-rate in |E|, no quadratic anywhere.
    */
  def degreeAssortativityMicro(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val e = Caches.cache(
      edges.select(col(srcCol).as("a"), col(dstCol).as("b")))
    val deg = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val stubs = e.select(col("a").as("x_id"), col("b").as("y_id"))
      .unionByName(e.select(col("b").as("x_id"), col("a").as("y_id")))
    stubs
      .join(broadcast(deg.select(col("id").as("x_id"), col("deg").as("x"))), Seq("x_id"))
      .join(broadcast(deg.select(col("id").as("y_id"), col("deg").as("y"))), Seq("y_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"),
        sum(col("y") * col("y")).as("sy2"))
      // Loud int64-overflow guard: every product the template forms
      // (n·sxy, n·sx2, n·sy2, sx·sy, sx·sx, sy·sy) must fit a Long.
      // assert_true returns NULL on success, so gating r_micro on its
      // null-ness forces evaluation without adding an output column.
      .withColumn("__ovf_ok", expr(
        """assert_true(
          |  n = 0 OR (
          |    greatest(abs(sxy), sx2, sy2)
          |      <= 9223372036854775807 div n
          |    AND greatest(abs(sx), abs(sy)) <= 3037000499),
          |  'degreeAssortativityMicro: int64 moment overflow -- switch accumulators to decimal(38,0)')"""
          .stripMargin))
      .withColumn("r_micro",
        when(col("__ovf_ok").isNull, expr(pearsonMicroSql)))
      .drop("__ovf_ok")
  }

  /** Oracle-SQL twin of [[degreeAssortativityMicro]]'s `r_micro` (and
    * any integer-moment Pearson): generated from one template so the
    * Spark expression and the oracle cannot drift. Expects columns
    * `n, sx, sy, sxy, sx2, sy2`.
    */
  val pearsonMicroSql: String =
    """CASE WHEN n * sx2 - sx * sx = 0 OR n * sy2 - sy * sy = 0 THEN NULL
      | ELSE CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
      |   / sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)
      |          * CAST(n * sy2 - sy * sy AS DOUBLE))
      |   * 1000000) AS BIGINT) END""".stripMargin

  /** Per-group reciprocity of a DIRECTED edge set (each (src,dst) pair
    * distinct): the fraction of edges whose reverse edge also exists —
    * on transition graphs, "is A→B traffic a two-way relationship or a
    * one-way funnel". `groupCols` are edge attributes for reporting
    * (e.g. source category); reciprocation is always checked against
    * the FULL graph. Output per group: n_edges, n_recip, recip_ppm.
    *
    * Shape: one self-semi-join keyed on the reversed pair + one
    * map-side-combinable agg — line-rate in |E|.
    */
  def reciprocityPpm(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      groupCols: Seq[String]): DataFrame = {
    val e = Caches.cache(edges.select(
      (groupCols.map(col) :+ col(srcCol).as("src") :+ col(dstCol).as("dst")): _*))
    val rev = e
      .select(col("dst").as("src"), col("src").as("dst"))
      .distinct()
      .withColumn("__r", lit(1L))
    e.join(rev, Seq("src", "dst"), "left")
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_edges"),
        sum(coalesce(col("__r"), lit(0L))).as("n_recip"))
      .withColumn("recip_ppm", expr("n_recip * 1000000 div n_edges"))
  }

  def clusteringCoefficientMicro(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val e = Caches.cache(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val deg = e
      .select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("degree"))
    deg
      .join(triangleCounts(e, "src", "dst"), Seq("id"), "left")
      .na.fill(0L, Seq("tri_count"))
      .filter(col("degree") >= 2)
      .withColumn("cc_ppm", expr("2 * tri_count * 1000000 div (degree * (degree - 1))"))
      .select(col("id"), col("degree"), col("tri_count"), col("cc_ppm"))
  }

  /** Newman modularity of a node partition, per community and exact in
    * ppm — the quality score that tells you whether a community
    * structure (LPA q157, or any label column) beats random wiring:
    *   Q = Σ_c [ L_c/m − (D_c/2m)² ]
    * over UNDIRECTED unweighted edges (m edges, L_c intra-community,
    * D_c degree mass of c). Per-community contribution is computed on
    * the common denominator 4m²:
    *   contrib_ppm = (4·m·L_c − D_c²)·10⁶ div (4·m²)
    * — pure integer arithmetic (truncating div matches DuckDB `//` on
    * both signs; a fragmented community's contribution is legitimately
    * negative). Σ contrib_ppm ≈ Q·10⁶ (within one ulp·|C| of
    * truncation).
    *
    * A loud assert_true guard fails past m = 1.5M edges, where the
    * numerator·10⁶ (bounded by 4m²·10⁶) would overflow int64 — switch
    * the two products to decimal(38,0) accumulators beyond that (the
    * assortativity convention). Community-graph edge lists here are
    * session-capped covis tables, well under the bound; the guard is
    * the loud upgrade reminder, not a silent cap.
    *
    * Shape: edges join labels twice (node-keyed line-rate shuffles; at
    * scale the label table co-partitions with the edge endpoints), two
    * group-rate aggregates, and a 1-row broadcast of m.
    *
    * `edges` must be the DISTINCT undirected pair list (a < b),
    * `labels` a total (id, label) map of the endpoints.
    */
  def modularityPpm(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      labels: DataFrame): DataFrame = {
    val e = Caches.cache(edges.select(col(aCol).as("a"), col(bCol).as("b")))
    val lab = Caches.cache(labels.select(col("id"), col("label")))
    val m = e.agg(count(lit(1)).as("m"))
    val deg = e
      .select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("deg"))
    val dsum = lab
      .join(deg, Seq("id"))
      .groupBy(col("label").as("community"))
      .agg(sum(col("deg")).as("degree_sum"), count(lit(1)).as("n_nodes"))
    val intra = e
      .join(lab.select(col("id").as("a"), col("label").as("la")), Seq("a"))
      .join(lab.select(col("id").as("b"), col("label").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    dsum
      .join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("intra_edges"))
      .crossJoin(broadcast(m))
      .withColumn("__ovf_ok", expr(
        """assert_true(m <= 1500000,
          |  'modularityPpm: 4*m*m*1e6 would overflow int64 -- switch to decimal(38,0) accumulators')"""
          .stripMargin))
      .withColumn(
        "contrib_ppm",
        when(col("__ovf_ok").isNull,
          expr("(4 * m * intra_edges - degree_sum * degree_sum) * 1000000 div (4 * m * m)")))
      .select(
        col("community"), col("n_nodes"), col("intra_edges"),
        col("degree_sum"), col("contrib_ppm"))
  }
}
