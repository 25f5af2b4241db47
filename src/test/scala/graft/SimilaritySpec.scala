package graft

import graft.similarity.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f)),
    (2L, Seq(0.9f, 0.1f, 0.0f)), // close to 1
    (3L, Seq(0.0f, 1.0f, 0.0f)), // orthogonal to 1
    (4L, Seq(-1.0f, 0.0f, 0.0f))) // opposite of 1
    .toDF("vec_id", "embedding")

  test("quantize/qdot/qnorm2: exact integer arithmetic") {
    val df = Seq((Seq(0.5f, -0.5f), Seq(1.0f, 1.0f))).toDF("a", "b")
    val (dot, n2) = df
      .select(
        Similarity.qdot(Similarity.quantize(col("a")), Similarity.quantize(col("b"))),
        Similarity.qnorm2(Similarity.quantize(col("a"))))
      .as[(Long, Long)].head()
    assert(dot == 5000L * 10000L + (-5000L) * 10000L) // = 0
    assert(n2 == 2L * 5000L * 5000L)
  }

  test("bruteForceTopK: ranks by cosine, excludes self") {
    val out = Similarity
      .bruteForceTopK(vecs.filter(col("vec_id") === 1), vecs, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "rn").as[(Long, Long, Int)].collect()
      .sortBy(_._3)
    assert(out.map(_._2).toSeq == Seq(2L, 3L, 4L)) // by descending cosine
    assert(!out.exists(_._2 == 1L))
  }

  test("bruteForceTopK: maxComparisons guard fails loud, passes at the bound") {
    // 1 query x 4 corpus rows = 4 comparisons: 3 is under, 4 is at bound.
    val q = vecs.filter(col("vec_id") === 1)
    val ex = intercept[Exception] {
      Similarity.bruteForceTopK(q, vecs, "vec_id", "embedding", 3, maxComparisons = 3L).collect()
    }
    assert(ex.getMessage.contains("bruteForceTopK"))
    val ok = Similarity
      .bruteForceTopK(q, vecs, "vec_id", "embedding", 3, maxComparisons = 4L)
    assert(ok.count() == 3L)
  }

  test("lshBucketedTopK: self-similar bucket finds the near neighbor") {
    val out = Similarity
      .lshBucketedTopK(
        vecs.filter(col("vec_id") === 1), vecs, "vec_id", "embedding",
        k = 3, planes = 4, dim = 3)
      .select("neighbor_id").as[Long].collect().toSet
    // vector 2 is nearly identical to 1 -> same bucket with overwhelming prob
    assert(out.contains(2L))
  }

  test("cosine of identical vectors is 1.0 exactly (quantized ints)") {
    val two = Seq((1L, Seq(0.3f, 0.4f)), (2L, Seq(0.3f, 0.4f))).toDF("vec_id", "embedding")
    val sim = Similarity
      .bruteForceTopK(two.filter(col("vec_id") === 1), two, "vec_id", "embedding", 1)
      .select("cosine_sim").as[Double].head()
    assert(sim == 1.0)
  }

  test("semanticDedup: exact-duplicate embeddings drop to the lowest id, distinct ones survive") {
    // 1 and 2 identical (cosine exactly 1), 5 identical to both; 3 and 4
    // far from everything. Single cell (nCentroids=1) removes quantizer
    // luck: first-wins must keep 1, drop 2 and 5, keep 3 and 4.
    val vecs = Seq(
      (1L, Seq(0.3f, 0.4f, 0.0f)),
      (2L, Seq(0.3f, 0.4f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f)),
      (4L, Seq(-1.0f, 0.2f, 0.0f)),
      (5L, Seq(0.3f, 0.4f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.core.Caches.withScope {
      Similarity.semanticDedup(vecs, "vec_id", "embedding", nCentroids = 1, threshold = 0.9)
        .select("vec_id", "is_kept").as[(Long, Boolean)].collect().toMap
    }
    assert(got == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true, 5L -> false))
  }

  test("semanticDedup: bit-identical under repartitioning") {
    val vecs = (1L to 40L)
      .map(i => (i, Seq((i % 7).toFloat / 7f, (i % 3).toFloat / 3f, 1.0f)))
      .toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame) = graft.core.Caches.withScope {
      Similarity.semanticDedup(df, "vec_id", "embedding", nCentroids = 4, threshold = 0.99)
        .orderBy("vec_id").collect().toSeq
    }
    assert(run(vecs.repartition(7)) == run(vecs.coalesce(1)))
  }

  test("labelCentroids: exact integer floor-mean per dim, partitioning-invariant") {
    val vecs = Seq(
      (1, Seq(0.1f, 0.2f)), (1, Seq(0.2f, 0.3f)),  // label 1: mean of (1000,2000),(2000,3000)
      (2, Seq(-0.15f, 0.05f)))
      .toDF("label", "embedding")
    def run(df: org.apache.spark.sql.DataFrame) = Similarity
      .labelCentroids(df, "label", "embedding")
      .as[(Long, Seq[Long], Long)].collect().toSet
    val out = run(vecs)
    assert(out == Set(
      (1L, Seq(1500L, 2500L), 2L),
      (2L, Seq(-1500L, 500L), 1L)))
    assert(run(vecs.repartition(7)) == out)
  }

  test("kMeansDeterministic: converges to planted cluster means, partitioning-invariant") {
    val pts = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(1.1f, -0.1f)),
      (4L, Seq(-1.0f, 0.0f)), (5L, Seq(-0.9f, 0.1f)), (6L, Seq(-1.1f, -0.1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity
      .kMeansDeterministic(pts, "vec_id", "embedding", nCentroids = 2, rounds = 3)
      .orderBy("cid", "pos")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length == 4) // 2 centroids x 2 dims
    // whatever the md5 seeds, 3 Lloyd rounds settle on the planted 3/3
    // split with EXACT integer floor-means: dim-0 components ±10000
    // (means of {10000, 9000, 11000} and the negatives), dim-1 exactly 0
    assert(out.map(_._4).toSeq == Seq(3L, 3L, 3L, 3L),
      s"member counts: ${out.mkString(",")}")
    assert(out.filter(_._2 == 0L).map(_._3).sorted.toSeq == Seq(-10000L, 10000L))
    assert(out.filter(_._2 == 1L).map(_._3).toSeq == Seq(0L, 0L))
    // bit-identical under repartitioning (exact-integer Lloyd)
    val rep = Similarity
      .kMeansDeterministic(pts.repartition(7), "vec_id", "embedding", 2, 3)
      .orderBy("cid", "pos").as[(Long, Long, Long, Long)].collect()
    assert(rep.toSeq == out.toSeq)
  }

  test("ANN recall@5 vs brute force: LSH and IVF clear measured floors") {
    val emb = graft.core.Tables.embeddings(spark, sf("sf0.001"))
    val queries = emb.filter(col("vec_id") < 64)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = df
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = topSets(
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5))
    def recallOf(approx: Map[Long, Set[Long]]): Double = {
      val per = exact.map { case (q, truth) =>
        approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      per.sum / per.size
    }
    // the q36/q41 production configs: 8 tables × 3 planes measured
    // 0.884, 16-cell/6-probe/2-assign IVF measured 0.884 (round-6
    // recall sweep; 4×4 LSH was 0.41, 8/2/1 IVF 0.50 — DESIGN.md
    // "Observability & measured index quality")
    val lsh = recallOf(topSets(
      Similarity.lshBucketedTopK(queries, emb, "vec_id", "embedding",
        k = 5, planes = 3, dim = 64, tables = 8)))
    val ivf = recallOf(topSets(
      Similarity.ivfTopKDeterministic(queries, emb, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 6, nAssign = 2)))
    info(f"recall@5 lsh=$lsh%.3f ivf=$ivf%.3f (corpus=500, queries=64)")
    // floors below the measured values to catch REGRESSIONS in the
    // bucketing/probing logic; ≥ 0.7 is the library's quality claim
    assert(lsh >= 0.70, f"LSH recall collapsed: $lsh%.3f")
    assert(ivf >= 0.70, f"IVF recall collapsed: $ivf%.3f")
    // q36's production config adds 2 Hamming-1 probe bits per table:
    // measured 0.997 (ProbeLsh sweep, DESIGN.md "Observability & measured
    // index quality", `git show 519ff36:src/main/scala/graft/ProbeLsh.scala`);
    // floor well above the no-probe
    // 0.884 so a probing regression cannot hide
    val lshMp = recallOf(topSets(
      Similarity.lshBucketedTopK(queries, emb, "vec_id", "embedding",
        k = 5, planes = 3, dim = 64, tables = 8, probeBits = 2)))
    assert(lshMp >= 0.95, f"multi-probe LSH recall collapsed: $lshMp%.3f")
    // determinism: the approximate result is bit-stable across re-runs
    val lsh2 = recallOf(topSets(
      Similarity.lshBucketedTopK(queries, emb, "vec_id", "embedding",
        k = 5, planes = 3, dim = 64, tables = 8)))
    assert(lsh2 == lsh)
  }

  test("pq_adc: gathers lut[j*ksub + codes[j]] exactly") {
    val df = Seq((Seq(0L, 2L, 1L), Seq(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L, 90L)))
      .toDF("codes", "lut")
    // ksub=3: 10 (j=0,c=0) + 60 (j=1,c=2) + 80 (j=2,c=1)
    val got = df.select(
      org.apache.spark.sql.graft.VectorExpressions
        .pqAdcScore(col("codes"), col("lut"), 3).as("s"))
      .head().getLong(0)
    assert(got == 150L)
  }

  test("pqTopK: recall@5 vs brute force clears the floor, bit-stable re-run") {
    val emb = graft.core.Tables.embeddings(spark, sf("sf0.001"))
    val queries = emb.filter(col("vec_id") < 64)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = df
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the q155 production config: 16×32 measured 0.928 (ProbePq sweep,
    // DESIGN.md "Observability & measured index quality",
    // `git show 519ff36:src/main/scala/graft/ProbePq.scala`; 8×16 was 0.53 — too coarse
    // for cosine on this corpus)
    val (exact, pq, pq2) = graft.core.Caches.withScope {
      val e = topSets(Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5))
      val p = topSets(Similarity.pqTopK(queries, emb, "vec_id", "embedding",
        k = 5, m = 16, ksub = 32, rerank = 32))
      val p2 = topSets(Similarity.pqTopK(queries, emb, "vec_id", "embedding",
        k = 5, m = 16, ksub = 32, rerank = 32))
      (e, p, p2)
    }
    val per = exact.map { case (q, truth) =>
      pq.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val recall = per.sum / per.size
    info(f"recall@5 pq=$recall%.3f (m=16, ksub=32, rerank=32, corpus=500)")
    assert(recall >= 0.85, f"PQ recall collapsed: $recall%.3f")
    assert(pq2 == pq)
  }

  test("opq permutation: true permutation; permuted pqTopK deterministic and within floor") {
    val emb = graft.core.Tables.embeddings(spark, sf("sf0.001"))
    val perm = Similarity.varianceBalancedPerm(
      emb.select(Similarity.quantize(col("embedding")).as("__qe")), "__qe", dim = 64, m = 16)
    assert(perm.sorted == (0 until 64), s"not a permutation: $perm")
    val queries = emb.filter(col("vec_id") < 64)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = df
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def run() = graft.core.Caches.withScope {
      topSets(Similarity.pqTopK(queries, emb, "vec_id", "embedding",
        k = 5, m = 16, ksub = 32, rerank = 32, opqPermute = true))
    }
    val (a, b) = (run(), run())
    assert(a == b, "permuted PQ must stay bit-stable")
    val exact = graft.core.Caches.withScope {
      topSets(Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5))
    }
    val per = exact.map { case (q, truth) =>
      a.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val recall = per.sum / per.size
    // measured 0.897 on this corpus (vs 0.928 identity — the DESIGN.md
    // "measured, NOT adopted" table); floor guards the machinery only
    info(f"recall@5 pq+opq=$recall%.3f")
    assert(recall >= 0.80, f"permuted-PQ machinery broke: $recall%.3f")
  }

  test("ivfPqTopK: recall@5 clears the floor, bit-stable re-run") {
    val emb = graft.core.Tables.embeddings(spark, sf("sf0.001"))
    val queries = emb.filter(col("vec_id") < 64)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = df
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def run() = graft.core.Caches.withScope {
      topSets(Similarity.ivfPqTopK(queries, emb, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 6, m = 16, ksub = 32,
        rerank = 32, nAssign = 3))
    }
    val exact = graft.core.Caches.withScope {
      topSets(Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5))
    }
    val (a, b) = (run(), run())
    val per = exact.map { case (q, truth) =>
      a.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val recall = per.sum / per.size
    // the q160 production config measured 0.881 (ProbePq sweep)
    info(f"recall@5 ivfpq=$recall%.3f (cells=16, probe=6, assign=3, rerank=32)")
    assert(recall >= 0.80, f"IVFPQ recall collapsed: $recall%.3f")
    assert(a == b)
  }

  test("randomProjection: exact integer projections, sign matrix deterministic, JL shape") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = graft.core.Caches.withScope {
      graft.similarity.Similarity.randomProjection(vecs, "vec_id", "embedding", outDims = 4)
        .orderBy("vec_id").collect()
    }
    assert(out.length == 3)
    val p1 = out(0).getAs[scala.collection.Seq[Long]]("proj")
    val p3 = out(2).getAs[scala.collection.Seq[Long]]("proj")
    assert(p1.length == 4)
    // a one-hot 1.0 projects to the +-1e4 sign column for that coordinate
    assert(p1.forall(v => v == 10000L || v == -10000L))
    // identical inputs -> bit-identical projections (determinism)
    assert(p1 == p3 && out(0).getAs[Long]("norm2") == out(2).getAs[Long]("norm2"))
    // different coordinates see different sign columns (md5 parity varies)
    val p2 = out(1).getAs[scala.collection.Seq[Long]]("proj")
    assert(p1 != p2 || p1.toSet != p2.toSet)
    assert(out(0).getAs[Long]("norm2") == p1.map(v => v * v).sum)
  }

  test("centroidSilhouette: separated clusters score high, mixed label low") {
    // label 0 tight around e1, label 1 tight around e2, label 2 ON label 0's
    // centroid (its own members split across both) -> 0 and 1 near +1, 2 low
    val labeled = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(0.99f, 0.01f), 0),
      (3L, Seq(0.0f, 1.0f), 1),
      (4L, Seq(0.01f, 0.99f), 1),
      (5L, Seq(1.0f, 0.02f), 2),
      (6L, Seq(0.02f, 1.0f), 2)).toDF("vec_id", "embedding", "label")
    val out = graft.core.Caches.withScope {
      Similarity.centroidSilhouette(labeled, "vec_id", "label", "embedding")
        .collect()
    }
    assert(out.length == 3)
    val byLabel = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byLabel(0L) > 800000L && byLabel(1L) > 800000L)
    // label 2's members each sit on ANOTHER label's centroid -> negative
    assert(byLabel(2L) < 0L)
    assert(out.forall(r => r.getLong(3) >= -1000000L && r.getLong(4) <= 1000000L))
  }

  test("powerIterationPc1: recovers the dominant variance axis, sign-fixed") {
    // variance overwhelmingly along e1 (values spread +-1), tiny noise on e2
    val vs = (0 until 40).map { i =>
      val a = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Seq(a, 0.01f * (i % 3)))
    }.toDF("vec_id", "embedding")
    val out = graft.core.Caches.withScope {
      Similarity.powerIterationPc1(vs, "vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(out.map(_._1).toSeq == Seq(0L, 1L))
    val m = out.toMap
    // dominant axis positive (sign convention) and at full scale
    assert(m(0L) == 1000000L)
    // the near-constant axis carries a tiny loading
    assert(math.abs(m(1L)) < 100000L)
  }

  test("conformalCentroidCoverage: test coverage honors the 1-alpha promise") {
    // 600 ids, one label, component values a deterministic pseudo-noise
    // function of (id, dim) -> calib/test exchangeable by construction
    val vs = (0 until 600).map { i =>
      (i.toLong, (0 until 8).map(j => (((i * 31 + j * 17) % 97) / 97.0f) - 0.5f), 0)
    }.toDF("vec_id", "embedding", "label")
    val row = graft.core.Caches.withScope {
      Similarity.conformalCentroidCoverage(vs, "vec_id", "label", "embedding")
        .collect().head
    }
    val coverage = row.getAs[Long]("coverage_ppm")
    // finite-sample: >= 1 - alpha minus small slack, and not degenerate-1
    assert(coverage >= 850000L, s"coverage $coverage below promised level")
    assert(row.getAs[Long]("n_cal") > 150 && row.getAs[Long]("n_test") > 150)
  }

  test("labelNoiseSuspects: flags the planted mislabel, not clean points") {
    // two tight clusters; vec 5 carries label 0 but sits in cluster 1
    val labeled = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.98f, 0.02f), 0),
      (3L, Seq(0.0f, 1.0f), 1), (4L, Seq(0.02f, 0.98f), 1),
      (5L, Seq(0.01f, 0.99f), 0)).toDF("vec_id", "embedding", "label")
    val out = graft.core.Caches.withScope {
      Similarity.labelNoiseSuspects(labeled, "vec_id", "label", "embedding")
        .collect()
    }
    assert(out.map(_.getLong(0)).contains(5L))
    val r5 = out.find(_.getLong(0) == 5L).get
    assert(r5.getAs[Long]("nearest_label") == 1L)
    assert(r5.getAs[Long]("noise_ppm") > 0L)
  }

  test("centroidDrift: identical halves drift zero, cosine one") {
    // ids i and i+100 land in the same md5 half only by chance, so use
    // a constant per-label embedding: any split gives identical centroids
    val labeled = (0 until 40).map { i =>
      val lab = i % 2
      (i.toLong, Seq(if (lab == 0) 1.0f else 0.0f, if (lab == 0) 0.0f else 1.0f), lab)
    }.toDF("vec_id", "embedding", "label")
    val out = graft.core.Caches.withScope {
      Similarity.centroidDrift(labeled, "vec_id", "label", "embedding")
        .collect()
    }
    assert(out.length == 2)
    assert(out.forall(r => r.getAs[Long]("d2") == 0L))
    assert(out.forall(r => r.getAs[Long]("cos_micro") == 1000000L))
    assert(out.forall(r => r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == 20L))
  }

  test("prefixDimFidelity: identical prefix-heavy vectors agree fully") {
    // all mass in the first 2 dims -> prefix cosine == full cosine
    val vs = Seq(
      (1L, Seq(1.0f, 0.5f, 0.0f, 0.0f)),
      (2L, Seq(0.5f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = Similarity.prefixDimFidelity(vs, "vec_id", "embedding", 2)
      .collect().head
    assert(r.getAs[Long]("n_pairs") == 2L)
    assert(r.getAs[Long]("mean_abs_diff_micro") == 0L)
    assert(r.getAs[Long]("sign_agree_ppm") == 1000000L)
  }

  test("powerIterationPc1: maxRows guard fails loud") {
    val vs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      graft.core.Caches.withScope {
        Similarity.powerIterationPc1(vs, "vec_id", "embedding", maxRows = 1L)
      }
    }
    assert(ex.getMessage.contains("powerIterationPc1"))
  }
}
