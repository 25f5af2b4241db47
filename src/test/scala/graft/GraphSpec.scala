package graft

import graft.ops.Graph
import org.apache.spark.sql.functions._

/** PageRank invariants: rank floor, source-node base rank, sink
  * accumulation, and bit-determinism across partitionings.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edges = Seq(
    // a tiny chain+fan graph: 1 -> 2 (x3), 1 -> 3, 2 -> 3, 4 isolated-source
    (1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 4L), (4L, 2L, 2L)
  ).toDF("src", "dst", "w")

  test("ranks respect the base floor; pure sources sit exactly at base") {
    val pr = Graph.pagerankMicro(edges, "src", "dst", "w", iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr.values.forall(_ >= 150000L), "rank below the (1-d) base")
    assert(pr(1L) == 150000L && pr(4L) == 150000L, "no-in-edge nodes must hold the base rank")
    assert(pr(3L) > pr(2L), "the sink fed by everything must out-rank its feeders")
  }

  test("bit-identical under repartitioning and re-run") {
    val a = Graph.pagerankMicro(edges.repartition(7), "src", "dst", "w", iters = 3)
      .orderBy("id").collect().toSeq
    val b = Graph.pagerankMicro(edges.coalesce(1), "src", "dst", "w", iters = 3)
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("zero iterations returns the uniform start vector") {
    val pr = Graph.pagerankMicro(edges, "src", "dst", "w", iters = 0)
    assert(pr.select("pr_micro").distinct().collect().map(_.getLong(0)).toSeq == Seq(1000000L))
  }

  test("broadcast-rank regime is bit-identical to the shuffle regime") {
    val shuffled = Graph.pagerankMicro(edges, "src", "dst", "w", iters = 3)
      .orderBy("id").collect().toSeq
    val bcast = Graph
      .pagerankMicro(edges, "src", "dst", "w", iters = 3, broadcastRanks = true)
      .orderBy("id").collect().toSeq
    assert(bcast == shuffled, "broadcast mode must not change a single rank")
  }

  test("personalizedPagerankMicro: hand-computed chain, unreachable component stays exactly 0") {
    // chain 1 -> 2 -> 3 seeded at 1; disjoint edge 8 -> 9 carries no
    // seed so both its nodes must hold exactly 0 through every
    // iteration. 2 iterations, damping 850000:
    //   p1 = (150000, 850000, 0);  p2 = (150000, 127500, 722500)
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L), (8L, 9L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("id")
    val got = graft.core.Caches.withScope {
      Graph.personalizedPagerankMicro(e, "src", "dst", "w", seeds, iters = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got == Map(
      1L -> 150000L, 2L -> 127500L, 3L -> 722500L, 8L -> 0L, 9L -> 0L))
  }

  test("personalizedPagerankMicro: zero damping puts the full teleport mass on the seeds, nothing anywhere else") {
    val seeds = Seq(2L).toDF("id")
    val got = graft.core.Caches.withScope {
      Graph.personalizedPagerankMicro(edges, "src", "dst", "w", seeds,
        iters = 3, dampingPpm = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got(2L) == 1000000L)
    assert((got - 2L).values.forall(_ == 0L))
  }

  test("personalizedPagerankMicro: seed ids outside the graph are ignored; bit-identical under repartitioning and broadcast regime") {
    val seeds = Seq(1L, 999L).toDF("id") // 999 is not a node
    def run(e: org.apache.spark.sql.DataFrame, bc: Boolean) =
      graft.core.Caches.withScope {
        Graph.personalizedPagerankMicro(e, "src", "dst", "w", seeds,
          iters = 3, broadcastRanks = bc).orderBy("id").collect().toSeq
      }
    val one = run(edges.coalesce(1), bc = false)
    val many = run(edges.repartition(7), bc = true)
    assert(one == many)
    assert(one.map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L), "no phantom node from seed 999")
  }

  test("randomWalks: single-path chain is followed exactly; sinks stop the walk; one successor per step") {
    import spark.implicits._
    // chain 1 -> 2 -> 3 -> 4: every node has exactly one out-edge, so
    // the weighted choice is forced regardless of the hash draw
    val chain = Seq((1L, 2L, 5L), (2L, 3L, 1L), (3L, 4L, 7L)).toDF("s", "d", "w")
    val starts = Seq(1L, 4L).toDF("id")
    val got = graft.core.Caches.withScope {
      Graph.randomWalks(chain, "s", "d", "w", starts, steps = 4)
        .as[(Long, Long, Long)].collect().toSet // (walk_id, node, step)
    }
    assert(got == Set(
      (1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 3L), // stops at sink 4
      (4L, 4L, 0L))) // start with no out-edges: step 0 only
  }

  test("randomWalks: weighted fan-out picks exactly one successor per step, always an existing edge, bit-identical across regimes") {
    import spark.implicits._
    // fan graph with skewed weights and several hops available
    val e = Seq(
      (1L, 2L, 10L), (1L, 3L, 1L), (2L, 1L, 3L), (2L, 3L, 3L),
      (3L, 1L, 5L), (3L, 2L, 2L)).toDF("s", "d", "w")
    val starts = Seq(1L, 2L, 3L).toDF("id")
    def run(ed: org.apache.spark.sql.DataFrame, bc: Boolean) =
      graft.core.Caches.withScope {
        Graph.randomWalks(ed, "s", "d", "w", starts, steps = 5, broadcastEdges = bc)
          .orderBy("walk_id", "step").collect().toSeq
      }
    val one = run(e.coalesce(1), bc = false)
    val many = run(e.repartition(7), bc = true)
    assert(one == many, "walks must be a pure function of (walk_id, step)")
    // every walk visits exactly one node per step 0..5 (no sink here)
    val byWalk = one.map(r => (r.getLong(0), r.getLong(2))).groupBy(identity)
    assert(byWalk.values.forall(_.size == 1), "duplicate (walk, step) row")
    assert(one.size == 3 * 6)
    // every hop is an existing edge
    val edges = Set((1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 2L))
    val hops = one.groupBy(_.getLong(0)).values.flatMap { rows =>
      rows.sortBy(_.getLong(2)).sliding(2).map {
        case Seq(a, b) => (a.getLong(1), b.getLong(1))
      }
    }
    assert(hops.forall(edges.contains), "walk used a non-existent edge")
  }

  test("hitsMicro: co-cited authority takes all mass, its two hubs split it exactly") {
    // a -> b, c -> b: b is the sole authority (1e6), a and c are equal
    // hubs (500000 each) — exact under the integer renormalization
    val e = Seq((10L, 20L, 1L), (30L, 20L, 1L)).toDF("s", "d", "w")
    val out = Graph.hitsMicro(e, "s", "d", "w", iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((10L, 500000L, 0L), (30L, 500000L, 0L), (20L, 0L, 1000000L)))
  }

  test("hitsMicro: bit-identical under repartitioning") {
    val e = edges
    val one = Graph.hitsMicro(e.coalesce(1), "src", "dst", "w", iters = 2)
      .orderBy("id").collect().toSeq
    val many = Graph.hitsMicro(e.repartition(7), "src", "dst", "w", iters = 2)
      .orderBy("id").collect().toSeq
    assert(one == many)
  }

  test("triangleCounts: K4 plus a pendant edge — 3 triangles per clique vertex, pendant absent") {
    // K4 on {1,2,3,4} (canonical src<dst) + pendant 4-5: C(4,3)=4 triangles,
    // every clique vertex sits in exactly 3; vertex 5 closes none.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("item_a", "item_b")
    val got = graft.core.Caches.withScope {
      Graph.triangleCounts(e, "item_a", "item_b")
        .as[(Long, Long)].collect().toMap
    }
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: low-id hub over a sparse graph matches brute-force enumeration") {
    // the hub has the lowest id: the id-oriented worst case
    val rnd = new scala.util.Random(11)
    val hub = (2L to 40L).map(i => (1L, i))
    val sparse = (1 to 60).map { _ =>
      val a = 2L + rnd.nextInt(39); val b = 2L + rnd.nextInt(39)
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }
    val edges = (hub ++ sparse).distinct
    val adj = edges.toSet
    val vs = edges.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val expected = (for {
      a <- vs; b <- vs if a < b && adj((a, b)); c <- vs if b < c && adj((b, c)) && adj((a, c))
      v <- Seq(a, b, c)
    } yield v).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = graft.core.Caches.withScope {
      Graph.triangleCounts(edges.toDF("item_a", "item_b"), "item_a", "item_b")
        .as[(Long, Long)].collect().toMap
    }
    assert(expected.nonEmpty && got == expected)
  }

  test("labelPropagation: two cliques with a bridge keep distinct communities; components would merge them") {
    // K4 on {1..4}, K4 on {11..14}, bridge 4—11
    val k4a = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val k4b = k4a.map { case (a, b) => (a + 10L, b + 10L) }
    val e = (k4a ++ k4b :+ (4L, 11L)).toDF("s", "t")
    val labels = graft.core.Caches.withScope {
      Graph.labelPropagation(e, "s", "t", rounds = 4).as[(Long, Long)].collect().toMap
    }
    // each clique converges onto its min id; the bridge does not merge
    assert(Set(1L, 2L, 3L, 4L).map(labels) == Set(1L))
    assert(Set(11L, 12L, 13L, 14L).map(labels) == Set(11L))
  }

  test("labelPropagation: self-vote converges an isolated edge (no 2-color oscillation)") {
    // pure sync LPA swaps the two labels forever (Q < 0 after even
    // rounds); the self-vote ties own-vs-neighbor and min wins for both
    val e = Seq((7L, 3L)).toDF("s", "t")
    val labels = graft.core.Caches.withScope {
      Graph.labelPropagation(e, "s", "t", rounds = 4).as[(Long, Long)].collect().toMap
    }
    assert(labels == Map(7L -> 3L, 3L -> 3L))
  }

  test("labelPropagationGated: passes a modular graph, fails loud on a degenerate partition") {
    // two K4s + bridge: Q well above 0 -> gate passes, labels unchanged
    val k4a = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val k4b = k4a.map { case (a, b) => (a + 10L, b + 10L) }
    val good = (k4a ++ k4b :+ (4L, 11L)).toDF("s", "t")
    val (gated, plain) = graft.core.Caches.withScope {
      (Graph.labelPropagationGated(good, "s", "t", rounds = 4).as[(Long, Long)].collect().toMap,
        Graph.labelPropagation(good, "s", "t", rounds = 4).as[(Long, Long)].collect().toMap)
    }
    assert(gated == plain)
    // one clique: single-label collapse, Q = 0 -> the assert fires
    val degen = k4a.toDF("s", "t")
    val ex = intercept[Exception] {
      graft.core.Caches.withScope {
        Graph.labelPropagationGated(degen, "s", "t", rounds = 4).collect()
      }
    }
    assert(ex.getMessage.contains("labelPropagationGated") ||
      Option(ex.getCause).exists(_.getMessage.contains("labelPropagationGated")))
  }

  test("labelPropagation: bit-identical under repartitioning") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 80).map { _ =>
      val a = 1L + rnd.nextInt(30); val b = 1L + rnd.nextInt(30)
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }.distinct
    val e = edges.toDF("s", "t")
    val (l1, l2) = graft.core.Caches.withScope {
      (Graph.labelPropagation(e, "s", "t", rounds = 4).as[(Long, Long)].collect().toMap,
        Graph.labelPropagation(e.repartition(13), "s", "t", rounds = 4)
          .as[(Long, Long)].collect().toMap)
    }
    assert(l1 == l2)
  }

  test("triangleCounts: triangle-free graph (path + star) yields no rows") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (1L, 6L)).toDF("s", "d")
    val n = graft.core.Caches.withScope {
      Graph.triangleCounts(e, "s", "d").count()
    }
    assert(n == 0L)
  }

  test("clusteringCoefficientMicro: K4 vertices at 1.0, bridge diluted, pendant dropped") {
    // K4 on {1,2,3,4} + pendant 4-5: cc(1..3) = 2*3/(3*2) = 1e6,
    // cc(4) = 2*3/(4*3) = 5e5, vertex 5 has degree 1 -> excluded
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("item_a", "item_b")
    val got = graft.core.Caches.withScope {
      Graph.clusteringCoefficientMicro(e, "item_a", "item_b")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    }
    assert(got == Map(
      1L -> ((3L, 3L, 1000000L)),
      2L -> ((3L, 3L, 1000000L)),
      3L -> ((3L, 3L, 1000000L)),
      4L -> ((4L, 3L, 500000L))))
  }

  test("clusteringCoefficientMicro: triangle-free vertices report cc 0, not absent") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val got = graft.core.Caches.withScope {
      Graph.clusteringCoefficientMicro(e, "s", "d")
        .as[(Long, Long, Long, Long)].collect().toSet
    }
    assert(got == Set((2L, 2L, 0L, 0L)))
  }

  test("kCorePeel: K4 plus a pendant chain — 3-core is exactly the K4, converged") {
    // K4 on {1,2,3,4} + chain 4-5, 5-6: the 3-core is the K4 alone.
    // Round 1 drops 5 and 6 (degree ≤ 2); rounds 2-3 are no-ops —
    // pins that extra rounds past the fixpoint change nothing.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("item_a", "item_b")
    val got = graft.core.Caches.withScope {
      Graph.kCorePeel(e, "item_a", "item_b", k = 3, rounds = 3)
        .as[(Long, Long)].collect().toMap
    }
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCorePeel: cascading peel needs the later round (chain collapses one hop per round)") {
    // Triangle {1,2,3} with a tail 3-4, 4-5 under k=2: round 1 drops 5
    // (degree 1), round 2 drops the now-degree-1 vertex 4 — the
    // cascade that makes peeling iterative, not a single filter.
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val after1 = graft.core.Caches.withScope {
      Graph.kCorePeel(e, "a", "b", k = 2, rounds = 1).as[(Long, Long)].collect().toMap
    }
    val after2 = graft.core.Caches.withScope {
      Graph.kCorePeel(e, "a", "b", k = 2, rounds = 2).as[(Long, Long)].collect().toMap
    }
    assert(after1 == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L), "round 1 keeps the dangling 3-4 edge")
    assert(after2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), "round 2 peels the cascade")
  }

  test("kCorePeel: bit-identical under repartitioning") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (1L, 4L), (4L, 6L), (5L, 6L))
      .toDF("a", "b")
    val one = graft.core.Caches.withScope {
      Graph.kCorePeel(e.coalesce(1), "a", "b", k = 2, rounds = 2).orderBy("id").collect().toSeq
    }
    val many = graft.core.Caches.withScope {
      Graph.kCorePeel(e.repartition(7), "a", "b", k = 2, rounds = 2).orderBy("id").collect().toSeq
    }
    assert(one == many)
  }

  test("triangleCounts: bit-identical under repartitioning") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (1L, 4L), (4L, 6L), (5L, 6L))
      .toDF("a", "b")
    val one = graft.core.Caches.withScope {
      Graph.triangleCounts(e.coalesce(1), "a", "b").orderBy("id").collect().toSeq
    }
    val many = graft.core.Caches.withScope {
      Graph.triangleCounts(e.repartition(7), "a", "b").orderBy("id").collect().toSeq
    }
    assert(one == many)
  }

  test("linkPredictionScores: open wedge scores its endpoints, closed pairs excluded") {
    // path 1-2-3 plus edge 3-4: candidates are the OPEN pairs only.
    // (1,3) share z=2 (deg 2): cn=1, ra=500000, jaccard=1/(1+2-1).
    // (2,4) share z=3 (deg 2): same scores. (1,4),(1,2) etc. absent.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("item_a", "item_b")
    val got = graft.core.Caches.withScope {
      Graph.linkPredictionScores(e, "item_a", "item_b")
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    }
    assert(got == Map(
      (1L, 3L) -> ((1L, 500000L, 500000L)),
      (2L, 4L) -> ((1L, 500000L, 500000L))))
  }

  test("linkPredictionScores: adjacent pairs never appear even with many common neighbors") {
    // K4: every pair is adjacent AND shares 2 neighbors -> no candidates
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val n = graft.core.Caches.withScope {
      Graph.linkPredictionScores(e, "a", "b").count()
    }
    assert(n == 0L)
  }

  test("linkPredictionScores: RA favors the pair sharing a LOW-degree neighbor") {
    // star center 10 (high degree) closes (1,2); private vertex 20
    // (degree 2) closes (3,4): RA must rank (3,4) above (1,2)
    val e = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L), (5L, 10L),
      (3L, 20L), (4L, 20L)).toDF("a", "b")
    val got = graft.core.Caches.withScope {
      Graph.linkPredictionScores(e, "a", "b")
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._4).toMap
    }
    // (3,4): z=10 (deg 5 -> 200000) + z=20 (deg 2 -> 500000) = 700000
    assert(got((3L, 4L)) == 700000L)
    assert(got((1L, 2L)) == 200000L)
    assert(got((3L, 4L)) > got((1L, 2L)))
  }

  test("degreeAssortativityMicro: perfect disassortativity on a star, perfect assortativity on disjoint uniform cliques") {
    // star K1,4: every edge joins deg 4 to deg 1 -> r = -1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("a", "b")
    val rStar = graft.core.Caches.withScope {
      Graph.degreeAssortativityMicro(star, "a", "b")
        .select("r_micro").as[Long].head()
    }
    assert(rStar == -1000000L)
    // K3 + disjoint edge: degrees {2,2,2} and {1,1} — every edge joins
    // equal degrees -> r = +1
    val mix = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L)).toDF("a", "b")
    val rMix = graft.core.Caches.withScope {
      Graph.degreeAssortativityMicro(mix, "a", "b")
        .select("r_micro").as[Long].head()
    }
    assert(rMix == 1000000L)
  }

  test("degreeAssortativityMicro: degree-regular graph (zero variance) yields NULL r_micro, not NaN/0") {
    // 6-cycle: every vertex has degree 2 -> both stub-degree variances
    // are 0. Before the shared-template CASE guard this was 0/sqrt(0):
    // NaN in Spark (cast -> silent 0) but a cast ERROR in DuckDB.
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 1L)).toDF("a", "b")
    val row = graft.core.Caches.withScope {
      Graph.degreeAssortativityMicro(cycle, "a", "b")
        .select("n", "r_micro").collect().head
    }
    assert(row.getLong(0) == 12L) // 2|E| stubs reached the agg
    assert(row.isNullAt(1))
  }

  test("reciprocityPpm: mutual pair counts on both edges, one-way does not") {
    // 1->2, 2->1 (mutual), 1->3 (one-way); group = src parity
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("s", "d")
      .withColumn("g", col("s") % 2)
    val got = graft.core.Caches.withScope {
      Graph.reciprocityPpm(e, "s", "d", Seq("g"))
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    }
    assert(got == Map(
      1L -> ((2L, 1L, 500000L)), // src 1: edges ->2 (recip), ->3 (not)
      0L -> ((1L, 1L, 1000000L)))) // src 2: ->1 reciprocated
  }

  test("linkPredictionScores: bit-identical under repartitioning") {
    val rnd = new scala.util.Random(13)
    val edges = (1 to 60).map { _ =>
      val a = 1L + rnd.nextInt(25); val b = 1L + rnd.nextInt(25)
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }.distinct
    val e = edges.toDF("a", "b")
    val one = graft.core.Caches.withScope {
      Graph.linkPredictionScores(e.coalesce(1), "a", "b")
        .orderBy("u", "v").collect().toSeq
    }
    val many = graft.core.Caches.withScope {
      Graph.linkPredictionScores(e.repartition(9), "a", "b")
        .orderBy("u", "v").collect().toSeq
    }
    assert(one == many)
  }

  test("harmonicCentralityMicro: chain distances, hop truncation, min-dist on shortcuts") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst").withColumn("w", lit(1L))
    val seeds = Seq(1L, 4L).toDF("id")
    val out = graft.core.Caches.withScope {
      Graph.harmonicCentralityMicro(chain, "src", "dst", seeds, "id", hops = 3)
        .collect().map(r => r.getAs[Long]("seed") ->
          (r.getAs[Long]("n_reached"), r.getAs[Long]("harmonic_micro"))).toMap
    }
    // seed 1 reaches 2@1, 3@2, 4@3 (5 is 4 hops away - truncated)
    assert(out(1L) == ((3L, 1000000L + 500000L + 333333L)))
    // seed 4 reaches only 5@1
    assert(out(4L) == ((1L, 1000000L)))
    // shortcut: direct edge wins over the 2-hop path
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val o2 = graft.core.Caches.withScope {
      Graph.harmonicCentralityMicro(tri, "src", "dst", Seq(1L).toDF("id"), "id", hops = 3)
        .head()
    }
    assert(o2.getAs[Long]("n_reached") == 2 && o2.getAs[Long]("harmonic_micro") == 2000000L)
  }

  test("harmonicCentralityMicro: unreachable seed emits no row; bit-identical under repartitioning") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (5L, 6L)).toDF("src", "dst")
    val seeds = Seq(1L, 9L).toDF("id") // 9 has no out-edges
    val one = graft.core.Caches.withScope {
      Graph.harmonicCentralityMicro(e, "src", "dst", seeds, "id", hops = 3)
        .orderBy("seed").collect().toSeq
    }
    assert(one.map(_.getAs[Long]("seed")) == Seq(1L))
    val many = graft.core.Caches.withScope {
      Graph.harmonicCentralityMicro(e.repartition(7), "src", "dst", seeds.repartition(3), "id", hops = 3)
        .orderBy("seed").collect().toSeq
    }
    assert(one == many)
  }

  test("kTrussEdges: K4 survives the 4-truss with support 2, a pendant triangle peels") {
    // K4 on 1..4 plus triangle {4,5,6}
    val e = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("a", "b")
    val out = graft.core.Caches.withScope {
      Graph.kTrussEdges(e, "a", "b", k = 4, rounds = 3)
        .orderBy("a", "b").collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("support")))
    }
    assert(out.toSeq == Seq(
      (1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)))
  }

  test("kTrussEdges: peel cascades -- a triangle chain unravels over rounds") {
    // triangles {1,2,3} and {2,3,4}: only edge (2,3) has support 2, but
    // after the others peel it closes nothing -> empty by round 2
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val out = graft.core.Caches.withScope {
      Graph.kTrussEdges(e, "a", "b", k = 4, rounds = 2).collect()
    }
    assert(out.isEmpty, "the shared edge must lose its triangles once its neighbors peel")
  }

  test("salsaMicro: hand-computed 2-iteration scores on the A->B, A->C, B->C triangle") {
    // out_w: A=2, B=1; in_w: B=1, C=2
    // a1 = (A:0, B:500000, C:1500000); h1 = (A:1250000, B:750000, C:0)
    // a2 = (A:0, B:625000, C:1375000); h2 = (A:1312500, B:687500, C:0)
    val e = Seq(("A", "B", 1L), ("A", "C", 1L), ("B", "C", 1L)).toDF("s", "d", "w")
    val out = graft.core.Caches.withScope {
      Graph.salsaMicro(e, "s", "d", "w", iters = 2).collect()
        .map(r => r.getString(0) -> (r.getAs[Long]("hub_micro"), r.getAs[Long]("auth_micro")))
        .toMap
    }
    assert(out("A") == (1312500L, 0L))
    assert(out("B") == (687500L, 625000L))
    assert(out("C") == (0L, 1375000L))
  }

  test("bradleyTerryMicro: 3-1 head-to-head converges to the 3:1 strength ratio") {
    // W_A=3, W_B=1, m_AB=4: MM fixed point s_A = 1.5e6, s_B = 0.5e6
    val wins = Seq(("A", "B", 3L), ("B", "A", 1L)).toDF("win", "lose", "nw")
    val out = graft.core.Caches.withScope {
      Graph.bradleyTerryMicro(wins, "win", "lose", "nw", iters = 2).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("s_micro")).toMap
    }
    assert(out("A") == 1500000L && out("B") == 500000L)
    // a never-winning item pins to exactly 0
    val shut = Seq(("A", "B", 2L)).toDF("win", "lose", "nw")
    val s = graft.core.Caches.withScope {
      Graph.bradleyTerryMicro(shut, "win", "lose", "nw", iters = 2).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("s_micro")).toMap
    }
    assert(s("B") == 0L && s("A") > 0L)
  }

  test("bradleyTerryMicro: transitive 2-0 chain orders A > B > C; partition-invariant") {
    val wins = Seq(("A", "B", 2L), ("B", "C", 2L), ("A", "C", 1L), ("C", "A", 1L))
      .toDF("win", "lose", "nw")
    val run = (df: org.apache.spark.sql.DataFrame) => graft.core.Caches.withScope {
      Graph.bradleyTerryMicro(df, "win", "lose", "nw", iters = 2).orderBy("id").collect().toSeq
    }
    val out = run(wins)
    val byId = out.map(r => r.getString(0) -> r.getAs[Long]("s_micro")).toMap
    assert(byId("A") > byId("B") && byId("B") > byId("C"))
    assert(run(wins.repartition(5)) == out)
  }

  test("salsaMicro: a mega-hub's mass splits by degree (TKC resistance) and results are partition-invariant") {
    // hub H points at 10 sinks: each authority gets exactly 1e6/10,
    // where HITS (un-normalized) would give each the hub's FULL mass
    val e = (1L to 10L).map(i => ("H", s"s$i", 1L)).toDF("s", "d", "w")
    val out = graft.core.Caches.withScope {
      Graph.salsaMicro(e, "s", "d", "w", iters = 1).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("auth_micro")).toMap
    }
    (1 to 10).foreach(i => assert(out(s"s$i") == 100000L))
    val a = graft.core.Caches.withScope {
      Graph.salsaMicro(edges, "src", "dst", "w", iters = 2).orderBy("id").collect().toSeq
    }
    val b = graft.core.Caches.withScope {
      Graph.salsaMicro(edges.repartition(7), "src", "dst", "w", iters = 2)
        .orderBy("id").collect().toSeq
    }
    assert(a == b)
  }
}
