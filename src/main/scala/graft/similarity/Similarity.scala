package graft.similarity

import graft.ops.Windows
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  * Determinism design: embeddings are QUANTIZED to integers
  * (round(x * 10000) as long) before any arithmetic. Integer dot
  * products and norms are exact in IEEE double regardless of summation
  * order (all partials < 2^53), so similarity scores are bit-identical
  * across engines, partitionings, and re-runs — which also makes top-k
  * cuts stable. Cosine = dot / sqrt(na) / sqrt(nb) on those exact
  * integers (correctly-rounded double ops ⇒ still deterministic).
  *
  * Scale notes:
  *  - `bruteForceTopK` broadcasts the (small) query set and streams the
  *    corpus once: cost O(|corpus| × |queries| × dim) with no shuffle
  *    except the final per-query top-k (tiny). Right answer for
  *    |queries| ≪ |corpus|.
  *  - `lshBucketedTopK` is the scale path: random-hyperplane signs
  *    bucket the corpus; queries only score their own bucket(s). The
  *    hyperplanes are pseudo-random but DERIVED deterministically from
  *    md5 so the index is reproducible.
  */
object Similarity {

  /** Quantized embedding: array<long> of round(x*10000) — a native
    * codegen'd kernel ([[org.apache.spark.sql.graft.FloatVectorQuantize]]),
    * bit-identical to the `transform(..., round(...))` HOF it replaced.
    * The HOF form is interpreted AND, when a posexplode consumes it
    * after projection collapse, re-evaluated per output element —
    * O(dim²) per row (measured 5.3 → 134.6 s on 100k → 1M vectors for
    * q58's centroids; the q134 generator pathology).
    */
  def quantize(emb: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.floatVectorQuantize(emb)

  /** Exact integer dot product of two quantized vectors — a native
    * codegen'd Catalyst expression (single fused loop; the
    * `aggregate(zip_with(...))` formulation is interpreted per element
    * and breaks whole-stage codegen).
    */
  def qdot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.longVectorDot(a, b)

  /** Squared L2 norm of a quantized vector. */
  def qnorm2(a: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.longVectorNorm2(a)

  /** Cosine similarity on quantized vectors (exact-int inputs ⇒
    * deterministic double).
    */
  def qcosine(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / sqrt(n2a.cast("double")) / sqrt(n2b.cast("double"))

  /** Brute-force top-k cosine neighbors for each query vector.
    * `queries`/`corpus`: (idCol, embCol). Self-matches excluded.
    * Output: (query_id, neighbor_id, cosine_sim, rn).
    *
    * The exact baseline for a BOUNDED query set — the bound is
    * ENFORCED: an `assert_true` guard fails the job loud when
    * |queries|·|corpus| exceeds `maxComparisons` instead of silently
    * running an unbounded scan-per-query. Scale paths:
    * [[lshBucketedTopK]] (multi-probe) / [[ivfTopKDeterministic]].
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      maxComparisons: Long = 1000000000L): DataFrame = {
    val q = broadcast(
      queries.select(
        col(idCol).as("query_id"),
        quantize(col(embCol)).as("q_emb")))
    val nq = queries.agg(count(lit(1)).as("__nq"))
    val nc = corpus.agg(count(lit(1)).as("__nc"))
    // Overflow-safe product bound (nq*nc can wrap int64 before the
    // comparison); assert_true is NULL on success — gating c_emb on
    // its null-ness forces evaluation without changing the output.
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      quantize(col(embCol)).as("c_emb"))
      .crossJoin(broadcast(nq)).crossJoin(broadcast(nc))
      .withColumn("__guard", expr(
        s"""assert_true(__nq = 0 OR __nc <= ${maxComparisons}L div __nq,
           |  'bruteForceTopK: ' || __nq || ' x ' || __nc
           |  || ' comparisons exceeds maxComparisons=$maxComparisons'
           |  || ' -- use lshBucketedTopK / ivfTopK')""".stripMargin))
      .select(
        col("neighbor_id"),
        when(col("__guard").isNull, col("c_emb")).as("c_emb"))
    val scored = c
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        qcosine(
          qdot(col("q_emb"), col("c_emb")),
          qnorm2(col("q_emb")),
          qnorm2(col("c_emb"))).as("cosine_sim"))
    Windows.topKPerGroup(scored, Seq("query_id"), col("cosine_sim"), Seq("neighbor_id"), k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dim i): md5-derived integer in [-500, 500). Shared with the
    * DuckDB oracle generator (SparkEntry), which embeds the same
    * constants as literal plane vectors.
    */
  /** Nearest-cell assignment by exact integer L2 — top `top` cells per
    * vector by maximizing `2·v·c − ||c||²`, tie → min cid. Centroid
    * table is broadcast; the "scan" is a catalog×k codegen'd dot
    * product, no exchange beyond the top-k window's.
    */
  /** Top-`top` nearest centroids per vector (argmax exact-integer
    * `2·v·cq − ||cq||²`, tie → min cid). The centroid table is
    * ≤ nCentroids rows by construction, so it's collected and the
    * assignment runs ROW-LOCALLY through the codegen'd centroid_top_k
    * kernel — zero exchanges (the former crossJoin+window shuffled
    * every vector with its winning centroids: ~1.7 GB at 1M×64d for
    * the IVFPQ index+probe assignments).
    */
  private[graft] def assignTo(
      vecs: DataFrame,
      idC: String,
      embC: String,
      cents: DataFrame,
      top: Int): DataFrame =
    assignCells(vecs, embC, cents, top).drop("cells")

  /** vecs + one row per assigned cell: `(cells, cid)` where `cells` is
    * the full best-first top-`top` array riding along each row — IVF
    * scans use it to collapse spill-list pair duplicates ROW-LOCALLY
    * (keep only the minimum-shared-cell instance) instead of paying a
    * pair-grain dropDuplicates exchange. The centroid table is
    * collected (≤ nCentroids rows by construction) and the assignment
    * runs through the centroid_cells_explode GENERATOR — one kernel
    * evaluation per row, zero exchanges (the former crossJoin+window
    * shuffled ~1.7 GB at 1M×64d, and an explode-of-expression form
    * triple-evaluates the kernel via InferFiltersFromGenerate's
    * size/isnotnull guards).
    */
  private[graft] def assignCells(
      vecs: DataFrame,
      embC: String,
      cents: DataFrame,
      top: Int): DataFrame = {
    val rows = cents.collect()
    val dim = if (rows.isEmpty) 0 else rows.head.getSeq[Long](1).length
    val flat = new Array[Long](rows.length * dim)
    val cids = new Array[Long](rows.length)
    rows.sortBy(_.getLong(0)).zipWithIndex.foreach { case (r, i) =>
      cids(i) = r.getLong(0)
      val cq = r.getSeq[Long](1)
      var p = 0
      while (p < dim) { flat(i * dim + p) = cq(p); p += 1 }
    }
    vecs.select(
      col("*"),
      org.apache.spark.sql.graft.VectorExpressions.centroidCellsExplode(
        col(embC),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(flat),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(cids),
        dim, top).as(Seq("cells", "cid")))
  }

  /** The fully deterministic coarse quantizer shared by
    * [[ivfTopKDeterministic]] and [[semanticDedup]]: `nCentroids` seed
    * vectors picked by md5-rank of the id (deterministic pseudo-random
    * sample, planned as TakeOrderedAndProject — no global sort), then
    * ONE Lloyd refinement where every arithmetic step is exact
    * (integer L2 assignment with min-cid tie-break; per-dimension
    * `floor(sum/count)` update on integer sums — associative, so
    * bit-identical under any partitioning, engine, or re-run). The k
    * collected seed rows are the same bounded driver materialization
    * every coarse quantizer makes; the result is broadcast back out.
    * Input must be (id, quantized emb); returns (cid, cq).
    */
  private[graft] def deterministicCentroids(
      c: DataFrame,
      idC: String,
      embC: String,
      nCentroids: Int): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    val seedPool = c
      .withColumn("h", md5(col(idC).cast("string")))
      .orderBy(col("h"), col(idC))
      .limit(nCentroids)
      .select(col("h"), col(idC).cast("string").as("nid"), col(embC))
      .collect()
    val seeds0 = seedPool
      .sortBy(r => (r.getString(0), r.getString(1)))
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Long](2)) }
      .toSeq
      .toDF("cid", "cq")
    val a0 = assignTo(c, idC, embC, seeds0, 1)
      .select(col(idC), col(embC), col("cid"))
    a0
      .select(col("cid"), posexplode(col(embC)).as(Seq("pos", "val")))
      .groupBy(col("cid"), col("pos"))
      .agg(floor(sum(col("val")).cast("double") / count(lit(1))).cast("long").as("cv"))
      .groupBy(col("cid"))
      .agg(graft.ops.Aggregates.sortedList(Seq(col("pos")), col("cv")).as("cq"))
  }

  /** Distributed fixed-round integer k-means (q313) — the clustering
    * backbone for corpus organization / semantic dedup, promoted from
    * the one-step coarse quantizer ([[deterministicCentroids]]) to a
    * k-round Lloyd (Lloyd 1982): md5-rank pseudo-random seeds, then
    * `rounds` updates where every arithmetic step is exact — integer-L2
    * argmin assignment (argmax 2·v·c − ||c||², min-cid tie-break) and a
    * per-dimension `floor(sum/count)` centroid update on integer sums
    * (component sums stay < 2⁵³, so the one double division is exact
    * enough to floor identically on any engine). Bit-identical under
    * any partitioning, engine, or re-run ⇒ oracle-checkable as
    * AS-MATERIALIZED chained CTEs (the q193 lesson).
    *
    * Scale shape: each round is ONE corpus scan — the ≤ `nCentroids`
    * updated centroid rows are collected at the driver (the bounded
    * materialization every coarse quantizer makes) and re-enter the
    * next assignment as driver-literal kernel arguments
    * (centroid_cells_explode: zero-exchange assignment, the r10 rule),
    * and the update agg is map-side combinable at (cid, pos) grain —
    * ≤ nCentroids·dim tiny rows shuffled per round, never a vector.
    * The per-round collect severs lineage, so the logical plan does
    * NOT compound across rounds (the kTruss localCheckpoint rule,
    * satisfied by construction). A cell that empties drops out of
    * subsequent rounds on both engines alike.
    * Output grain (cid, pos): final centroid components + the member
    * count of the assignment that produced them.
    */
  def kMeansDeterministic(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      nCentroids: Int,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "kMeansDeterministic: rounds >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(
      col(idCol).cast("long").as("vec_id"), quantize(col(embCol)).as("q_emb"))
    val seedPool = c
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id"))
      .limit(nCentroids)
      .select(col("h"), col("vec_id").cast("string").as("nid"), col("q_emb"))
      .collect()
    var cents = seedPool
      .sortBy(r => (r.getString(0), r.getString(1)))
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Long](2)) }
      .toSeq.toDF("cid", "cq")
    def exploded(assigned: DataFrame): DataFrame =
      assigned.select(col("cid"),
        org.apache.spark.sql.graft.VectorExpressions
          .longArrayPosExplode(col("q_emb")).as(Seq("pos", "val")))
    for (_ <- 1 until rounds) {
      cents = exploded(assignTo(c, "vec_id", "q_emb", cents, 1))
        .groupBy(col("cid"), col("pos"))
        .agg(floor(sum(col("val")).cast("double") / count(lit(1)))
          .cast("long").as("cv"))
        .groupBy(col("cid"))
        .agg(graft.ops.Aggregates.sortedList(Seq(col("pos")), col("cv")).as("cq"))
    }
    exploded(assignTo(c, "vec_id", "q_emb", cents, 1))
      .groupBy(col("cid"), col("pos"))
      .agg(
        floor(sum(col("val")).cast("double") / count(lit(1)))
          .cast("long").as("cv"),
        count(lit(1)).as("n_members"))
      .select(col("cid"), col("pos").cast("long").as("pos"),
        col("cv"), col("n_members"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): drop documents
    * whose EMBEDDINGS nearly coincide with a kept document's — the
    * semantic sibling of MinHash near-dup (catches paraphrases and
    * re-renderings that share no shingles). Pairwise cosine is computed
    * only WITHIN each deterministic quantizer cell (the paper's
    * k-means-then-intra-cluster trick), so the pair work is
    * Σ|cell|² — bounded by the coarse quantizer, never corpus². Keep
    * rule: a vector is dropped iff a LOWER-id vector in its cell is
    * cosine-≥-threshold similar (first-wins survivorship, matching the
    * suite's dedup convention).
    *
    * Scale shape: one corpus scan for the quantizer (+ its broadcast
    * centroid table), one cell-keyed exchange for the self-join; the
    * per-cell quadratic is the documented hot-cell failure mode —
    * at 100 TB, bound cell size by raising nCentroids (cells track
    * corpus/k) and salt or cap outlier cells, same playbook as the LSH
    * band-bucket cap.
    * Output: (vec_id, cell_id, is_kept) for every corpus vector.
    */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      nCentroids: Int,
      threshold: Double): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), quantize(col(embCol)).as("q_emb"))
    val cent = deterministicCentroids(c, "vec_id", "q_emb", nCentroids)
    // assigned is referenced twice (both self-join sides) — cache so the
    // quantizer's corpus scan + assignment window runs once
    val assigned = graft.core.Caches.cache(
      assignTo(c, "vec_id", "q_emb", cent, 1)
        .select(col("vec_id"), col("q_emb"), col("cid")))
    val dropped = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .filter(
        qcosine(
          qdot(col("a.q_emb"), col("b.q_emb")),
          qnorm2(col("a.q_emb")),
          qnorm2(col("b.q_emb"))) >= threshold)
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
    assigned
      .join(dropped.withColumn("is_dropped", lit(true)), Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        col("cid").as("cell_id"),
        col("is_dropped").isNull.as("is_kept"))
  }

  private[graft] def planeComponent(p: Int, i: Int): Long = {
    val hex = java.security.MessageDigest
      .getInstance("MD5")
      .digest(s"plane$p|dim$i".getBytes("UTF-8"))
      .take(4)
      .map("%02x".format(_))
      .mkString
    java.lang.Long.parseLong(hex, 16) % 1000 - 500
  }

  /** IVF (inverted-file) ANN with a fully DETERMINISTIC coarse
    * quantizer: `nCentroids` cells partition the corpus; each query
    * probes its `nProbe` nearest cells and scores exact cosine only
    * there. The second scale path next to [[lshBucketedTopK]]. Unlike
    * an MLlib k-means quantizer (seeded but not bit-stable across
    * partitionings), it is oracle-checkable.
    *
    * Quantizer: `nCentroids` seed vectors picked by md5-rank of the id
    * (a deterministic pseudo-random sample), then ONE Lloyd refinement
    * where every arithmetic step is exact — integer L2 assignment with
    * a min-cid tie-break, and per-dimension centroid update
    * `floor(sum/count)` on integer sums (associative ⇒ identical under
    * any partitioning). The result is bit-identical across engines,
    * re-runs, and cluster layouts.
    *
    * Scale notes: the seed pick is `orderBy(md5(id), id).limit(k)` —
    * Spark plans it as TakeOrderedAndProject (per-partition top-k, then
    * a k-row merge on the driver), so no global sort and no
    * single-partition window touches the corpus. The k seed vectors are
    * collected to the driver to stamp their rank as `cid`; that is the
    * same bounded k-row materialization every coarse quantizer does
    * (MLlib exposes `clusterCenters` the same way) and the table is
    * broadcast right back out. Everything else is one corpus shuffle
    * (the final cell assignment join) + broadcast centroid tables.
    */
  def ivfTopKDeterministic(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      nCentroids: Int,
      nProbe: Int,
      nAssign: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(idCol).as("neighbor_id"), quantize(col(embCol)).as("c_emb"))
    // cent is collected by BOTH assignTo calls (index + probes) — cache
    // so the seed+Lloyd subtree runs once
    val cent = graft.core.Caches.cache(
      deterministicCentroids(c, "neighbor_id", "c_emb", nCentroids))

    // spill lists: index each corpus vector in its nAssign nearest
    // cells — the standard recall lever that keeps the PROBE side
    // selective (a boundary vector is reachable from both adjacent
    // cells at the cost of an nAssign× bigger index, not a wider scan)
    val assigned = assignCells(c, "c_emb", cent, nAssign)
    val q = queries.select(col(idCol).as("query_id"), quantize(col(embCol)).as("q_emb"))
    val probes = assignCells(q, "q_emb", cent, nProbe)
      .withColumnRenamed("cells", "probe_cells")

    // spill lists surface one pair once per SHARED cell: keep only the
    // instance at the minimum shared cell — a row-local filter on the
    // two tiny cell arrays riding the row, replacing the former
    // pair-grain dropDuplicates EXCHANGE (~1.7 GB of 24-byte scalar
    // rows at 1M corpus × 64 queries). Bit-identical survivors: the
    // cosine is a pure function of the pair, so which instance lives
    // never shows in the output. The probe side is |Q|·nProbe rows —
    // broadcast it EXPLICITLY: the filtered-parquet size estimate
    // makes Spark plan a sort-merge join that shuffles the whole
    // corpus onto nCentroids keys (514 MB + 16-key skew measured).
    val scored = broadcast(probes)
      .join(assigned, Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .filter(col("cid") === org.apache.spark.sql.graft.VectorExpressions
        .minSharedCell(col("cells"), col("probe_cells")))
      .select(
        col("query_id"),
        col("neighbor_id"),
        qcosine(
          qdot(col("q_emb"), col("c_emb")),
          qnorm2(col("q_emb")),
          qnorm2(col("c_emb"))).as("cosine_sim"))
    Windows.topKPerGroup(scored, Seq("query_id"), col("cosine_sim"), Seq("neighbor_id"), k)
  }

  /** One row per (vector, subspace): `sv` = the `j`-th length-`dsub`
    * slice of `embC`. Literal-argument slices compose into a plain
    * array (no HOF ⇒ no CodegenFallback, no explode-re-evaluation
    * trap), then posexplode fans out the m subspaces.
    */
  private def subRows(df: DataFrame, embC: String, m: Int, dsub: Int): DataFrame =
    df.select(
      col("*"),
      posexplode(array((0 until m).map(j =>
        slice(col(embC), j * dsub + 1, dsub)): _*)).as(Seq("j", "sv")))

  /** Collect a (j, cid, cq) codebook into the pq_encode kernel's flat
    * arrays — ≤ m·ksub rows by operator construction, the bounded-
    * collect pattern (like the md5-rank seed pool). The kernel's
    * assignment rule (argmax exact-integer `2·sv·cq − ||cq||²`, tie →
    * min cid, absent cells skipped) is bit-identical to the
    * join+window form it replaced.
    */
  private def cbArrays(cb: DataFrame, m: Int, dsub: Int, ksub: Int)
      : (IndexedSeq[Long], IndexedSeq[Boolean]) = {
    val flat = new Array[Long](m * ksub * dsub)
    val pres = new Array[Boolean](m * ksub)
    cb.collect().foreach { r =>
      val slot = r.getInt(0) * ksub + r.getLong(1).toInt
      pres(slot) = true
      val cq = r.getSeq[Long](2)
      var p = 0
      while (p < dsub) { flat(slot * dsub + p) = cq(p); p += 1 }
    }
    (scala.collection.immutable.ArraySeq.unsafeWrapArray(flat),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(pres))
  }

  /** OPQ-style deterministic pre-permutation (the cheap cousin of the
    * learned OPQ rotation, Ge et al. 2013): per-dimension variance is
    * computed EXACTLY on the quantized ints (n·Σx² − (Σx)², one
    * dim-sized aggregate), dimensions are ranked by descending variance
    * (tie → dim asc) and dealt ROUND-ROBIN into the m subspaces, so
    * every subspace mixes high- and low-variance coordinates instead of
    * inheriting whatever correlated block the original layout put
    * adjacent. Returns perm where output position p reads original
    * coordinate perm(p). Deterministic and corpus-derived — the same
    * construction is reproducible in SQL, and norms/dots of permuted
    * vectors are unchanged (permutations are orthogonal), so only the
    * candidate quality shifts, never the rerank arithmetic.
    */
  private[graft] def varianceBalancedPerm(
      c: DataFrame,
      embC: String,
      dim: Int,
      m: Int): Seq[Int] = {
    val dsub = dim / m
    val ranked = c
      .select(posexplode(col(embC)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("pos"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("var_n2"))
      .collect() // dim rows — bounded by the embedding width
      .map(r => (r.getLong(1), r.getInt(0)))
      .sortBy { case (v, p) => (-v, p) }
      .map(_._2)
    (0 until dim).map(p => ranked((p % dsub) * m + p / dsub))
  }

  /** Literal-index projection applying a [[varianceBalancedPerm]] —
    * stays inside whole-stage codegen (no HOF).
    */
  private def permuteArray(emb: Column, perm: Seq[Int]): Column =
    array(perm.map(i => emb.getItem(i)): _*)

  /** The embedding preparation both PQ entry points share: quantize,
    * plus the OPQ permutation when opted in (one corpus-side dim-sized
    * aggregate to learn it; both sides must apply the SAME perm).
    */
  private def permPrep(
      corpus: DataFrame,
      embCol: String,
      dim: Int,
      m: Int,
      opqPermute: Boolean): Column => Column =
    if (!opqPermute) quantize
    else {
      val perm = varianceBalancedPerm(
        corpus.select(quantize(col(embCol)).as("__qe")), "__qe", dim, m)
      e => permuteArray(quantize(e), perm)
    }

  /** Deterministic per-subspace PQ codebook: the `ksub` md5-rank seed
    * vectors' j-th slices seed subspace j, then ONE exact-integer Lloyd
    * refinement per subspace (same arithmetic contract as
    * [[deterministicCentroids]] — integer L2 assignment, min-cid
    * tie-break, floor-mean update — so the codebook is bit-identical
    * across engines/partitionings). Returns (j, cid, cq); cells left
    * empty by the refinement drop out (consistently on both engine and
    * oracle sides — codes never reference them).
    */
  private[graft] def pqCodebook(
      c: DataFrame,
      idC: String,
      embC: String,
      m: Int,
      dsub: Int,
      ksub: Int): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    val seedPool = c
      .withColumn("h", md5(col(idC).cast("string")))
      .orderBy(col("h"), col(idC))
      .limit(ksub)
      .select(col("h"), col(idC).cast("string").as("nid"), col(embC))
      .collect()
    // seed codebook as a driver literal (≤ m·ksub·dsub longs by
    // construction): the Lloyd assignment is then the row-local
    // pq_encode kernel — the former join+window assignment shuffled
    // every (vector, subspace) row with its sv and winning centroid
    // (~1.5 GB at 1M×64d). The update means still aggregate, but the
    // (j, cid, pos) key space is ≤ m·ksub·dsub, so map-side partial
    // combine collapses the exploded rows before the wire.
    val seedFlat = new Array[Long](m * ksub * dsub)
    val seedPres = new Array[Boolean](m * ksub)
    seedPool
      .sortBy(r => (r.getString(0), r.getString(1)))
      .zipWithIndex
      .foreach { case (r, i) =>
        val v = r.getSeq[Long](2)
        var j = 0
        while (j < m) {
          seedPres(j * ksub + i) = true
          var p = 0
          while (p < dsub) {
            seedFlat((j * ksub + i) * dsub + p) = v(j * dsub + p)
            p += 1
          }
          j += 1
        }
      }
    c.select(
        col(embC).as("__emb"),
        org.apache.spark.sql.graft.VectorExpressions.pqEncode(
          col(embC),
          scala.collection.immutable.ArraySeq.unsafeWrapArray(seedFlat),
          scala.collection.immutable.ArraySeq.unsafeWrapArray(seedPres),
          m, dsub, ksub).as("codes"))
      .select(col("__emb"), org.apache.spark.sql.graft.VectorExpressions
        .longArrayPosExplode(col("codes")).as(Seq("j", "cid")))
      .select(col("j"), col("cid"),
        posexplode(slice(col("__emb"), col("j") * dsub + 1, lit(dsub)))
          .as(Seq("pos", "val")))
      .groupBy(col("j"), col("cid"), col("pos"))
      .agg(floor(sum(col("val")).cast("double") / count(lit(1))).cast("long").as("cv"))
      .groupBy(col("j"), col("cid"))
      .agg(graft.ops.Aggregates.sortedList(Seq(col("pos")), col("cv")).as("cq"))
  }

  /** Product-quantization ANN (Jégou et al. 2011): the corpus is
    * compressed to m sub-quantizer codes per vector (m·⌈log2 ksub⌉
    * bits ≈ 8 bytes vs dim·8 — the representation that still fits in
    * memory when full vectors don't), queries scan the CODES with an
    * ADC lookup table, and the top-`rerank` candidates are re-scored
    * with exact cosine on full vectors. The ADC score targets COSINE:
    * the gathered integer approximates only the dot product (LUT part
    * = q_j · cent_j), divided by the corpus vector's EXACT norm stored
    * with its codes — so quantization error never touches the norms.
    * Fully deterministic (md5 seeds + exact-integer Lloyd + integer
    * gather + correctly-rounded IEEE division, ties → min id) ⇒
    * oracle-checkable.
    *
    * Scale shape: codebook learning is one corpus×m sub-row exchange;
    * encoding and the ADC scan are broadcast-join scans (the corpus
    * never shuffles — the scan reads codes only, and `pq_adc` is a
    * native codegen'd gather); candidate top-N is a window over
    * |Q|·corpus scalar rows (map-side prunable at higher k via
    * partial top-k); the exact rerank touches |Q|·rerank rows. At
    * 100 TB the ADC scan composes with the IVF cell filter
    * ([[ivfTopKDeterministic]]) so each query scans codes of its probe
    * cells only — the standard IVFPQ layout.
    */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      m: Int,
      ksub: Int,
      rerank: Int,
      dim: Int = 64,
      opqPermute: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val prep = permPrep(corpus, embCol, dim, m, opqPermute)
    val c = graft.core.Caches.cache(
      corpus.select(col(idCol).as("neighbor_id"), prep(col(embCol)).as("c_emb")))
    val cb = graft.core.Caches.cache(pqCodebook(c, "neighbor_id", "c_emb", m, dsub, ksub))

    // corpus → m codes per vector (ordered by subspace) + the EXACT
    // squared norm (integer): the ADC ranking targets COSINE, so only
    // the dot is approximated — the norm is part of the
    // 8-byte-per-vector index, standard cosine-PQ layout. Encoding is
    // the row-local pq_encode kernel against the driver-literal
    // codebook: ZERO exchanges (the former per-subspace join+window
    // shuffled ~1.5 GB at 1M×64d).
    val (cbFlat, cbPres) = cbArrays(cb, m, dsub, ksub)
    // cnorm2 = qnorm2 over the FULL vector is sound only because the
    // codes cover every component: dsub = dim/m with dim % m == 0 pins
    // dim == m*dsub, and pq_encode's kernel throws on any row whose
    // actual length differs — so the ADC denominator never includes
    // components the codes don't cover.
    val enc = c.select(
      col("neighbor_id"),
      org.apache.spark.sql.graft.VectorExpressions
        .pqEncode(col("c_emb"), cbFlat, cbPres, m, dsub, ksub).as("codes"),
      qnorm2(col("c_emb")).as("cnorm2"))

    // per-query DENSE m×ksub ADC table, flat-indexed j·ksub + cid:
    // parts exist only for surviving codebook cells; the full grid
    // left-join densifies (filler 0 is never gathered — codes only
    // reference surviving cells)
    val q = queries.select(col(idCol).as("query_id"), prep(col(embCol)).as("q_emb"))
    val parts = subRows(q, "q_emb", m, dsub)
      .join(broadcast(cb), Seq("j"))
      .select(col("query_id"), col("j"), col("cid"),
        qdot(col("sv"), col("cq")).as("part"))
    val grid = spark.range(m.toLong * ksub).select(
      (col("id") / ksub).cast("int").as("j"),
      (col("id") % ksub).as("cid"))
    val lut = q.select(col("query_id")).crossJoin(broadcast(grid))
      .join(parts, Seq("query_id", "j", "cid"), "left")
      .groupBy(col("query_id"))
      .agg(graft.ops.Aggregates
        .sortedList(Seq(col("j"), col("cid")), coalesce(col("part"), lit(0L))).as("lut"))

    // ADC scan over (codes, cnorm2) only: approx cosine = gathered
    // approximate dot / exact corpus norm (query norm is constant per
    // query — rank-irrelevant); top-`rerank` candidates per query.
    // The scan rows carry ONLY (query_id, neighbor_id, adc): q_emb (a
    // dim-long array, ~20× the scalar row weight) previously rode
    // through every |Q|·corpus scan row and the partial top-k for a
    // column the scan never reads — at 1M vectors that was most of the
    // operator's wall. It's re-joined at rerank from the |Q|-row query
    // table instead.
    val qTab = broadcast(lut)
    val cand = Windows.topKPerGroup(
      enc.crossJoin(qTab)
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          (org.apache.spark.sql.graft.VectorExpressions
            .pqAdcScore(col("codes"), col("lut"), ksub).cast("double") /
            sqrt(col("cnorm2").cast("double"))).as("adc")),
      Seq("query_id"), col("adc"), Seq("neighbor_id"), rerank)

    // exact-cosine rerank of the candidate set on full vectors
    val rescored = c
      .join(broadcast(cand.select(col("query_id"), col("neighbor_id"))
          .join(broadcast(q), Seq("query_id"))),
        Seq("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        qcosine(
          qdot(col("q_emb"), col("c_emb")),
          qnorm2(col("q_emb")),
          qnorm2(col("c_emb"))).as("cosine_sim"))
    Windows.topKPerGroup(rescored, Seq("query_id"), col("cosine_sim"), Seq("neighbor_id"), k)
  }

  /** IVFPQ (Jégou et al. 2011, §IV): the coarse IVF quantizer prunes
    * the scan to `nProbe` cells per query and the scan itself reads
    * PQ CODES, not vectors — the composition that holds at 100 TB,
    * where [[ivfTopKDeterministic]]'s full-vector cells no longer fit
    * memory and [[pqTopK]]'s whole-corpus code scan is still
    * corpus-sized per query. Index = (cell, codes, exact norm) per
    * corpus vector (nAssign spill lists as in IVF); query side probes
    * cells and ADC-scores only their codes; exact-cosine rerank of the
    * top `rerank`. Deterministic end-to-end (both quantizers are the
    * md5-seed + exact-integer-Lloyd construction) ⇒ oracle-checkable.
    */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      nCentroids: Int,
      nProbe: Int,
      m: Int,
      ksub: Int,
      rerank: Int,
      nAssign: Int = 1,
      dim: Int = 64,
      opqPermute: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    // the permutation is orthogonal: coarse L2 assignment and every
    // norm/dot are unchanged, so IVF cells are identical and only the
    // PQ sub-codebooks see the rebalanced layout
    val prep = permPrep(corpus, embCol, dim, m, opqPermute)
    val c = graft.core.Caches.cache(
      corpus.select(col(idCol).as("neighbor_id"), prep(col(embCol)).as("c_emb")))
    // cent is collected by BOTH assignTo calls (index + probes) — cache
    // so the seed+Lloyd subtree runs once
    val cent = graft.core.Caches.cache(
      deterministicCentroids(c, "neighbor_id", "c_emb", nCentroids))
    val cb = graft.core.Caches.cache(pqCodebook(c, "neighbor_id", "c_emb", m, dsub, ksub))
    // the scan-side index: spill-cell ids + codes + exact norm, no
    // vectors. Cells (centroid_top_k), codes (pq_encode) and the norm
    // are all ROW-LOCAL kernels over the same corpus scan — the index
    // build has ZERO exchanges (formerly: a per-subspace assignment
    // window plus an index-side corpus join).
    val (cbFlat, cbPres) = cbArrays(cb, m, dsub, ksub)
    // codes + norm are computed BEFORE the cells generator so the
    // pq_encode kernel runs once per vector, not once per spill cell
    val index = graft.core.Caches.cache(
      assignCells(
        c.select(
          col("neighbor_id"),
          col("c_emb"),
          org.apache.spark.sql.graft.VectorExpressions
            .pqEncode(col("c_emb"), cbFlat, cbPres, m, dsub, ksub).as("codes"),
          qnorm2(col("c_emb")).as("cnorm2")),
        "c_emb", cent, nAssign)
        .drop("c_emb"))

    val q = queries.select(col(idCol).as("query_id"), prep(col(embCol)).as("q_emb"))
    val probes = assignCells(q, "q_emb", cent, nProbe)
      .withColumnRenamed("cells", "probe_cells")
      .select(col("query_id"), col("probe_cells"), col("cid"))
    val parts = subRows(q, "q_emb", m, dsub)
      .join(broadcast(cb), Seq("j"))
      .select(col("query_id"), col("j"), col("cid"),
        qdot(col("sv"), col("cq")).as("part"))
    val grid = spark.range(m.toLong * ksub).select(
      (col("id") / ksub).cast("int").as("j"),
      (col("id") % ksub).as("cid"))
    val lut = q.select(col("query_id")).crossJoin(broadcast(grid))
      .join(parts, Seq("query_id", "j", "cid"), "left")
      .groupBy(col("query_id"))
      .agg(graft.ops.Aggregates
        .sortedList(Seq(col("j"), col("cid")), coalesce(col("part"), lit(0L))).as("lut"))

    // probe cells → ADC over that cell's codes only. Scan rows carry
    // ONLY (query_id, neighbor_id, adc) — q_emb is re-joined at rerank
    // (see pqTopK). Spill lists surface one pair once per SHARED cell:
    // keep only the minimum-shared-cell instance — a row-local filter
    // on the two tiny cell arrays riding the row, replacing the former
    // pair-grain dropDuplicates EXCHANGE (~1.2 GB at 1M corpus).
    // Bit-identical survivors: adc is a pure function of the pair.
    val qTab = broadcast(lut)
    val cand = Windows.topKPerGroup(
      broadcast(probes.join(qTab, Seq("query_id")))
        .join(index, Seq("cid"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .filter(col("cid") === org.apache.spark.sql.graft.VectorExpressions
          .minSharedCell(col("cells"), col("probe_cells")))
        .select(col("query_id"), col("neighbor_id"),
          (org.apache.spark.sql.graft.VectorExpressions
            .pqAdcScore(col("codes"), col("lut"), ksub).cast("double") /
            sqrt(col("cnorm2").cast("double"))).as("adc")),
      Seq("query_id"), col("adc"), Seq("neighbor_id"), rerank)

    val rescored = c
      .join(broadcast(cand.select(col("query_id"), col("neighbor_id"))
          .join(broadcast(q), Seq("query_id"))),
        Seq("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        qcosine(
          qdot(col("q_emb"), col("c_emb")),
          qnorm2(col("q_emb")),
          qnorm2(col("c_emb"))).as("cosine_sim"))
    Windows.topKPerGroup(rescored, Seq("query_id"), col("cosine_sim"), Seq("neighbor_id"), k)
  }

  /** Random-hyperplane LSH bucket id: `planes` sign bits packed into a
    * long. Vectors in the same bucket are similar with high prob.
    * Each plane projection is one fused `long_vector_dot` against a
    * literal plane vector (not a `dim`-term expression tree — at
    * 64 dims × 8 planes that tree blows past codegen method limits).
    */
  def lshBucket(qemb: Column, planes: Int, dim: Int, planeOffset: Int = 0): Column =
    (0 until planes)
      .map { p =>
        val plane = typedlit((0 until dim).map(i => planeComponent(planeOffset + p, i)))
        when(qdot(qemb, plane) > 0, shiftleft(lit(1L), p)).otherwise(0L)
      }
      .reduce(_ + _)

  /** Multi-table LSH-bucketed ANN: `tables` independent hyperplane
    * hash tables (table t uses global planes [t·planes, (t+1)·planes)),
    * candidates = union of same-bucket pairs across tables, deduped,
    * then EXACT cosine rerank and top-k per query.
    *
    * Recall engineering: a single table with P planes partitions into
    * 2^P buckets — collision probability for true neighbors falls
    * exponentially in P, and recall@5 measured 0.02 on the 500-vector
    * fixture (planes=8, one table). Standard banding fixes it: T tables
    * of fewer planes each; a true neighbor is found if it collides in
    * ANY table (recall 1-(1-p^P)^T). SimilaritySpec measures the floor.
    *
    * Scale shape: candidate generation is an equi-join on the
    * (table, bucket) key — posexplode fans each vector into T rows,
    * the join output is bounded by per-bucket occupancy × T, and the
    * exact rerank touches candidates only. No all-pairs stage.
    */
  def lshBucketedTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      planes: Int,
      dim: Int,
      tables: Int = 1,
      probeBits: Int = 0): DataFrame = {
    require(probeBits >= 0 && probeBits <= planes,
      s"probeBits must be in [0, planes]; got $probeBits with planes=$planes")
    // Corpus side: the per-table bucket ARRAY is computed once (the
    // LongArrayPosExplode generator — an ExplodeBase here would pay
    // InferFiltersFromGenerate's guards, re-running all tables×planes
    // dot products twice more per corpus row) and rides along each
    // exploded (tbl, bucket) row for the row-local cross-table dedup.
    def withBuckets(df: DataFrame, emb: String) = df
      .select(
        col("*"),
        array((0 until tables).map(t =>
          lshBucket(col(emb), planes, dim, planeOffset = t * planes)): _*)
          .as("c_buckets"))
      .select(col("*"),
        org.apache.spark.sql.graft.VectorExpressions
          .longArrayPosExplode(col("c_buckets")).as(Seq("tbl", "bucket")))
    // Multi-probe (opt-in, QUERY side only): besides its own bucket,
    // each query probes the `probeBits` buckets at Hamming distance 1
    // (one sign bit flipped) per table — the classic recall lever that
    // costs query-side fanout ×(1+probeBits) but leaves the corpus at
    // one row per table (the side that matters: queries are broadcast,
    // the corpus is the big side and never re-fans or shuffles). The
    // flat table-major variants array rides along for the dedup.
    val perTable = 1 + probeBits
    def withProbedBuckets(df: DataFrame, emb: String) = df
      .select(
        col("*"),
        flatten(array((0 until tables).map { t =>
          val b = lshBucket(col(emb), planes, dim, planeOffset = t * planes)
          array(b +: (0 until probeBits).map(p =>
            b.bitwiseXOR(shiftleft(lit(1L), p))): _*)
        }: _*)).as("q_variants"))
      .select(col("*"),
        org.apache.spark.sql.graft.VectorExpressions
          .longArrayPosExplode(col("q_variants")).as(Seq("__vp", "bucket")))
      .select(col("*"), expr(s"cast(__vp div $perTable as int)").as("tbl"))
      .drop("__vp")
    val q = broadcast(withProbedBuckets(
      queries.select(col(idCol).as("query_id"), quantize(col(embCol)).as("q_emb")), "q_emb"))
    val c = withBuckets(
      corpus.select(col(idCol).as("neighbor_id"), quantize(col(embCol)).as("c_emb")), "c_emb")
    // A pair collides at most once per table (one corpus bucket, and a
    // query's per-table probe variants are distinct XORs), so keeping
    // only the MINIMUM colliding table keeps exactly one instance —
    // a row-local filter on the two bucket arrays riding the row,
    // replacing the former pair-grain dropDuplicates EXCHANGE (the
    // dominant shuffle at 1M corpus: ~1 GB of scored collisions).
    // Bit-identical survivors: cosine is a pure function of the pair.
    val scored = c
      .join(q, Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .filter(col("tbl") === org.apache.spark.sql.graft.VectorExpressions
        .lshMinSharedTable(col("c_buckets"), col("q_variants"), perTable))
      .select(
        col("query_id"),
        col("neighbor_id"),
        qcosine(
          qdot(col("q_emb"), col("c_emb")),
          qnorm2(col("q_emb")),
          qnorm2(col("c_emb"))).as("cosine_sim"))
    Windows.topKPerGroup(scored, Seq("query_id"), col("cosine_sim"), Seq("neighbor_id"), k)
  }

  /** Per-label centroid of quantized embeddings: element-wise
    * `floor(sum/count)` on integer components (the same exact-integer
    * mean as the IVF Lloyd step — associative, so bit-identical under
    * any partitioning). The class-centroid primitive behind
    * nearest-class-mean classification and embedding-drift monitoring.
    *
    * Scale shape: posexplode fans each vector into `dim` rows, but the
    * (label, pos) aggregation is map-side combinable — partial sums per
    * partition, one shuffle of |labels|·dim tiny rows, then a
    * |labels|-row reassembly. No vector ever crosses the wire whole.
    */
  def labelCentroids(vecs: DataFrame, labelCol: String, embCol: String): DataFrame =
    vecs
      .select(col(labelCol).cast("long").as("label"), quantize(col(embCol)).as("v"))
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "val")))
      .groupBy(col("label"), col("pos"))
      .agg(
        floor(sum(col("val")).cast("double") / count(lit(1))).cast("long").as("cv"),
        count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(
        graft.ops.Aggregates.sortedList(Seq(col("pos")), col("cv")).as("centroid"),
        max(col("n")).as("n_vectors"))

  /** Deterministic ±1 random projection (Achlioptas/JL) of the
    * quantized embeddings down to `outDims` dimensions: proj[j] =
    * Σᵢ sgn(j,i)·q[i] with sgn a pure md5-parity function of the
    * coordinate pair — the dimensionality-reduction step that makes
    * downstream LSH/ANN cheap at scale (JL: pairwise distances are
    * preserved within 1±ε for outDims = O(log n / ε²)). Exact integer
    * end-to-end (quantized inputs, ±1 weights), so projections are
    * bit-identical on any engine and the oracle replays the same
    * md5-derived matrix — the q36 planes / q181 walk-hash pattern.
    *
    * Shape: one posexplode over vectors, a broadcast join against the
    * (d × outDims)-row sign matrix (derived relationally — no driver
    * collect), one (vec, j) agg, one per-vec reassembly. Each vector
    * contributes d·outDims multiply-adds; nothing quadratic.
    * Output: (vec_id, proj array<long> of length outDims, norm2).
    */
  /** Centroid-based (simplified) silhouette per label — cluster
    * cohesion/separation audit of a labeled embedding table: for each
    * vector, `a` = squared distance to its OWN label centroid, `b` =
    * min squared distance to any OTHER centroid, and the silhouette
    * `s = (√b − √a) / √max(a,b)` summarizes how cleanly the label
    * structure separates in embedding space (s→1 tight and far from
    * neighbors, s<0 closer to another class than its own). The
    * centroid form is the standard large-scale surrogate for the
    * O(n²) pairwise silhouette.
    *
    * Determinism: distances are exact int64 on quantized components
    * (`d² = |v|² + |c|² − 2⟨v,c⟩`, all partials < 2⁵³); the one double
    * chain (sqrt/divide on exact ints) is micro-rounded identically
    * on both engines.
    *
    * Scale shape: centroids are |labels|·dim tiny (broadcast); the
    * fan-out is |labels| rows per vector with a line-rate
    * (vec, label)-keyed agg — no pairwise term, one shuffle keyed by
    * vec, one |labels|-sized final agg.
    * Output: (label, n_vectors, mean_sil_micro, min_sil_micro,
    * max_sil_micro), one row per label.
    */
  def centroidSilhouette(
      vecs: DataFrame,
      idCol: String,
      labelCol: String,
      embCol: String): DataFrame = {
    val cents = labelCentroids(vecs, labelCol, embCol)
      .select(col("label").as("c_label"), col("centroid"),
        qnorm2(col("centroid")).as("c_n2"))
    val v = vecs.select(
      col(idCol).as("vec_id"),
      col(labelCol).cast("long").as("label"),
      quantize(col(embCol)).as("q"))
      .withColumn("v_n2", qnorm2(col("q")))
    val sil = v
      .crossJoin(broadcast(cents))
      .withColumn("d2",
        col("v_n2") + col("c_n2") - lit(2L) * qdot(col("q"), col("centroid")))
      .groupBy(col("vec_id"), col("label"))
      .agg(
        min(when(col("label") === col("c_label"), col("d2"))).as("a2"),
        min(when(col("label") =!= col("c_label"), col("d2"))).as("b2"))
      .withColumn("s_micro",
        when(greatest(col("a2"), col("b2")) === 0L, lit(0L)).otherwise(
          round(
            (sqrt(col("b2").cast("double")) - sqrt(col("a2").cast("double"))) /
              sqrt(greatest(col("a2"), col("b2")).cast("double")) * 1000000)
            .cast("long")))
    sil
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(col("s_micro")).as("__ssum"),
        min(col("s_micro")).as("min_sil_micro"),
        max(col("s_micro")).as("max_sil_micro"))
      // integer trunc-div mean — same toward-zero rule as DuckDB //
      .withColumn("mean_sil_micro", expr("__ssum div n_vectors"))
      .select(col("label"), col("n_vectors"), col("mean_sil_micro"),
        col("min_sil_micro"), col("max_sil_micro"))
      .orderBy(col("label"))
  }

  /** Label-noise audit (confident-learning lite): vectors whose
    * embedding sits closer to ANOTHER label's centroid than their own
    * are probable mislabels — the curation step that catches annotation
    * noise before it trains in. Reuses the silhouette geometry (exact
    * int d² to every centroid, |labels|-bounded fan-out); a vector is
    * flagged when b² < a² and scored `(a²−b²)·10⁶ div (a²+b²)` (bounded
    * ±10⁶, symmetric). The nearest other label is the lexicographic
    * (distance, label) minimum — deterministic under ties. Output: the
    * `topK` worst suspects (score desc, vec_id tie-break) —
    * TakeOrderedAndProject, never a global sort.
    */
  def labelNoiseSuspects(
      vecs: DataFrame,
      idCol: String,
      labelCol: String,
      embCol: String,
      topK: Int = 50): DataFrame = {
    val cents = labelCentroids(vecs, labelCol, embCol)
      .select(col("label").as("c_label"), col("centroid"),
        qnorm2(col("centroid")).as("c_n2"))
    vecs
      .select(col(idCol).as("vec_id"), col(labelCol).cast("long").as("label"),
        quantize(col(embCol)).as("q"))
      .withColumn("v_n2", qnorm2(col("q")))
      .crossJoin(broadcast(cents))
      .withColumn("d2",
        col("v_n2") + col("c_n2") - lit(2L) * qdot(col("q"), col("centroid")))
      .groupBy(col("vec_id"), col("label"))
      .agg(
        min(when(col("label") === col("c_label"), col("d2"))).as("a2"),
        min(when(col("label") =!= col("c_label"),
          struct(col("d2"), col("c_label")))).as("bmin"))
      .select(col("vec_id"), col("label"),
        col("a2"), col("bmin.d2").as("b2"), col("bmin.c_label").as("nearest_label"))
      .filter(col("b2") < col("a2"))
      .withColumn("noise_ppm",
        expr("(a2 - b2) * 1000000 div greatest(a2 + b2, 1L)"))
      .orderBy(col("noise_ppm").desc, col("vec_id"))
      .limit(topK)
  }

  /** Per-label centroid drift between two deterministic md5-parity
    * halves of the table — the embedding-drift monitor run between
    * corpus snapshots ("did this label's region move"): exact-int
    * squared centroid displacement, displacement relative to the
    * half-A centroid norm in ppm, and the inter-centroid cosine in
    * micro. Two broadcast-sized centroid passes, zero pairwise work.
    * Output: (label, n_a, n_b, d2, shift_ppm, cos_micro).
    */
  def centroidDrift(
      vecs: DataFrame,
      idCol: String,
      labelCol: String,
      embCol: String): DataFrame = {
    val withHalf = vecs.withColumn(
      "__half",
      shiftright(org.apache.spark.sql.graft.VectorExpressions.md5Prefix60(col(idCol).cast("string")), 28) % 2)
    def half(h: Int) = labelCentroids(
      withHalf.filter(col("__half") === h), labelCol, embCol)
    val a = half(0).select(col("label"), col("centroid").as("ca"),
      col("n_vectors").as("n_a"))
    val b = half(1).select(col("label"), col("centroid").as("cb"),
      col("n_vectors").as("n_b"))
    a.join(b, Seq("label"))
      .withColumn("n2a", qnorm2(col("ca")))
      .withColumn("n2b", qnorm2(col("cb")))
      .withColumn("dp", qdot(col("ca"), col("cb")))
      .withColumn("d2", col("n2a") + col("n2b") - lit(2L) * col("dp"))
      .withColumn("shift_ppm", expr("d2 * 1000000 div greatest(n2a, 1L)"))
      .withColumn("cos_micro",
        when(col("n2a") > 0 && col("n2b") > 0,
          round(qcosine(col("dp"), col("n2a"), col("n2b")) * 1000000)
            .cast("long")))
      .select(col("label"), col("n_a"), col("n_b"), col("d2"),
        col("shift_ppm"), col("cos_micro"))
      .orderBy(col("label"))
  }

  /** Matryoshka/prefix-dimension fidelity audit: how well do the
    * first `prefixDims` coordinates preserve full-dimension cosine —
    * the measurement behind "can we store/search at half the dims"
    * (MRL-style truncation, PQ/IVF memory halving). Pairs are the
    * line-rate DETERMINISTIC chain (id, id+1) — a fixed, replayable
    * probe set that costs one self equi-join, never a pair sample that
    * needs an n² candidate space. Per pair both cosines compute on
    * exact ints and micro-round identically on both engines; the audit
    * reports mean |Δcos|, sign agreement, and the two means.
    * Output: one row (n_pairs, mean_abs_diff_micro, sign_agree_ppm,
    * mean_full_micro, mean_prefix_micro).
    */
  def prefixDimFidelity(
      vecs: DataFrame,
      idCol: String,
      embCol: String,
      prefixDims: Int): DataFrame = {
    val q = vecs.select(col(idCol).cast("long").as("id"),
      quantize(col(embCol)).as("q"))
    val pairs = q.as("a")
      .join(q.select((col("id") - 1).as("id"), col("q").as("qb")), Seq("id"))
      .select(col("id"), col("q"), col("qb"),
        slice(col("q"), 1, prefixDims).as("p"),
        slice(col("qb"), 1, prefixDims).as("pb"))
      .withColumn("n2a", qnorm2(col("q")))
      .withColumn("n2b", qnorm2(col("qb")))
      .withColumn("p2a", qnorm2(col("p")))
      .withColumn("p2b", qnorm2(col("pb")))
      .filter(col("n2a") > 0 && col("n2b") > 0 && col("p2a") > 0 && col("p2b") > 0)
      .select(
        round(qcosine(qdot(col("q"), col("qb")), col("n2a"), col("n2b")) * 1000000)
          .cast("long").as("cf"),
        round(qcosine(qdot(col("p"), col("pb")), col("p2a"), col("p2b")) * 1000000)
          .cast("long").as("cp"))
    pairs
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(abs(col("cf") - col("cp"))).as("__sdiff"),
        graft.ops.Aggregates.countIf(signum(col("cf")) === signum(col("cp")))
          .as("__agree"),
        sum(col("cf")).as("__sf"),
        sum(col("cp")).as("__sp"))
      .select(col("n_pairs"),
        expr("__sdiff div n_pairs").as("mean_abs_diff_micro"),
        expr("__agree * 1000000 div n_pairs").as("sign_agree_ppm"),
        expr("__sf div n_pairs").as("mean_full_micro"),
        expr("__sp div n_pairs").as("mean_prefix_micro"))
  }

  /** Split-conformal coverage audit of a nearest-class-mean scorer —
    * the distribution-free calibration check a training pipeline runs
    * before trusting model "confidence". A deterministic md5 mod-3
    * split carves TRAIN / CALIB / TEST: centroids fit on train only
    * (fitting and calibrating on the same rows biases calib scores
    * small in-sample and silently breaks the guarantee — measured
    * 31.5% coverage at α=0.1 before this three-way split), the
    * nonconformity score is the exact-int squared distance to the own-
    * label centroid, q̂ is the ⌈(n_cal+1)(1−α)⌉-th smallest calib
    * score, and with calib/test exchangeable conformal theory promises
    * test coverage ≥ 1−α. The rank is pure integer ppm math
    * (`(n+1)·(1−α)ppm` ceil-divided — the cross-engine float-rank
    * trap), selection runs on the COUNT-compressed score support via a
    * sharded cumsum (never a global window), and coverage emits in
    * ppm.
    *
    * Scale shape: two broadcast-centroid passes (score calib, score
    * test), one support-sized cumsum for the order statistic, one
    * broadcast of the single-row q̂. Nothing pairwise, nothing
    * driver-side.
    * Output: one row (n_cal, n_test, qhat, n_covered, coverage_ppm).
    */
  def conformalCentroidCoverage(
      vecs: DataFrame,
      idCol: String,
      labelCol: String,
      embCol: String,
      alphaPpm: Long = 100000L): DataFrame = {
    val withSplit = vecs.withColumn(
      "__part",
      shiftright(org.apache.spark.sql.graft.VectorExpressions.md5Prefix60(col(idCol).cast("string")), 28) % 3)
    val cents = labelCentroids(
      withSplit.filter(col("__part") === 0), labelCol, embCol)
      .select(col("label").as("c_label"), col("centroid"),
        qnorm2(col("centroid")).as("c_n2"))
    val scored = withSplit
      .filter(col("__part") =!= 0)
      .select((col("__part") === 1).as("__calib"),
        col(labelCol).cast("long").as("label"),
        quantize(col(embCol)).as("q"))
      .withColumn("v_n2", qnorm2(col("q")))
      .join(broadcast(cents), col("label") === col("c_label"))
      .select(col("__calib"),
        (col("v_n2") + col("c_n2") - lit(2L) * qdot(col("q"), col("centroid")))
          .as("score"))
      .transform(graft.core.Caches.cache)
    val calCounts = scored.filter(col("__calib"))
      .groupBy(col("score")).agg(count(lit(1)).as("c"))
    val nCal = scored.filter(col("__calib")).agg(count(lit(1)).as("n_cal"))
    val qhat = Windows
      .shardedCumsum(calCounts, "score", Seq("c"), expr("score div 1000000000"))
      .crossJoin(broadcast(nCal))
      // rank k = ceil((n_cal+1)·(1−α)) in exact ppm integer math,
      // capped at n_cal (k > n_cal means q̂ = max score: cover-all)
      .filter(col("cum_c") >= expr(
        s"least(((n_cal + 1) * ${1000000L - alphaPpm} + 999999) div 1000000, n_cal)"))
      .groupBy(col("n_cal"))
      .agg(min(col("score")).as("qhat"))
    scored.filter(!col("__calib"))
      .crossJoin(broadcast(qhat))
      .groupBy(col("n_cal"), col("qhat"))
      .agg(
        count(lit(1)).as("n_test"),
        graft.ops.Aggregates.countIf(col("score") <= col("qhat")).as("n_covered"))
      .withColumn("coverage_ppm", expr("n_covered * 1000000 div n_test"))
      .select(col("n_cal"), col("n_test"), col("qhat"), col("n_covered"),
        col("coverage_ppm"))
  }

  /** Leading principal direction of the embedding table by `iters`
    * steps of QUANTIZED power iteration on the mean-centered data —
    * the "which way does this corpus mostly vary" diagnostic (PC1
    * loadings), kept exact-integer so both engines replay the
    * identical iteration: v₀ = 1; sᵢ = ⟨xᵢ, v⟩ div 64;
    * y_j = Σᵢ xᵢⱼ·sᵢ; v' = y·1024 div max|y| (trunc division — same
    * toward-zero rule in Spark `div` and DuckDB `//`). The final
    * loadings emit as `y_j·sgn·10⁶ div max|y|`, sign-fixed so the
    * largest-|loading| component (min pos on ties) is positive.
    *
    * Scale shape: per iteration ONE scan of the cached centered
    * corpus — v is a dim-length LITERAL (driver-bounded: each round
    * collects `dim` longs, never corpus rows), sᵢ is a row-local
    * native dot, and y is a map-side-combinable dim-keyed agg (dim
    * rows cross the wire per partition, never a vector). The int64
    * headroom (|x|≤2·10⁴ quantized, |v|≤1024, s div 64) is guarded
    * LOUD at 2·10⁷ rows — past that, rescale or go to double partials.
    * Output: (pos, loading_ppm), `dim` rows.
    */
  def powerIterationPc1(
      vecs: DataFrame,
      idCol: String,
      embCol: String,
      iters: Int = 2,
      maxRows: Long = 20000000L): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val q = vecs.select(col(idCol).as("vec_id"), quantize(col(embCol)).as("q"))
    val meanRows = q
      .select(posexplode(col("q")).as(Seq("pos", "val")))
      .groupBy(col("pos"))
      .agg(floor(sum(col("val")).cast("double") / count(lit(1))).cast("long").as("m"),
        count(lit(1)).as("n"))
      .orderBy(col("pos"))
      .collect()
    require(meanRows.nonEmpty, "powerIterationPc1: empty input")
    require(meanRows.head.getLong(2) <= maxRows,
      "powerIterationPc1: row count exceeds int64 iteration headroom — " +
        "rescale (larger s divisor / smaller v scale) before running")
    val mean: Array[Long] = meanRows.map(_.getLong(1))
    val dim = mean.length
    val x = graft.core.Caches.cache(
      q.select(col("vec_id"),
        zip_with(col("q"), typedLit(mean), (a, b) => a - b).as("x")))
    var v: Array[Long] = Array.fill(dim)(1L)
    var y: Array[Long] = v
    for (_ <- 1 to iters) {
      y = x
        .withColumn("s_raw", qdot(col("x"), typedLit(v)))
        .withColumn("s", expr("s_raw div 64"))
        .select(posexplode(col("x")).as(Seq("pos", "xv")), col("s"))
        .groupBy(col("pos"))
        .agg(sum(col("xv") * col("s")).as("y"))
        .orderBy(col("pos"))
        .collect()
        .map(_.getLong(1))
      val maxabs = math.max(y.map(math.abs).max, 1L)
      // e·1024 can pass int64 near the headroom bound — widen like the
      // final ppm step (HUGEINT on the oracle side)
      v = y.map(e => (BigInt(e) * 1024 / BigInt(maxabs)).toLong)
    }
    val maxabs = math.max(y.map(math.abs).max, 1L)
    val pivot = y.indices.minBy(i => (-math.abs(y(i)), i))
    val sgn = if (y(pivot) < 0) -1L else 1L
    y.toSeq.zipWithIndex
      // y·10⁶ can pass int64 — widen (BigInt here, HUGEINT in the
      // oracle), truncate-divide, and the result is back under 10⁶
      .map { case (yj, j) =>
        (j.toLong, (BigInt(yj) * sgn * 1000000 / BigInt(maxabs)).toLong)
      }
      .toDF("pos", "loading_ppm")
      .orderBy(col("pos"))
  }

  def randomProjection(
      vecs: DataFrame,
      idCol: String,
      embCol: String,
      outDims: Int): DataFrame = {
    val d = vecs.agg(max(size(col(embCol))).as("d"))
    val signs = d
      .select(explode(sequence(lit(0), col("d") - 1)).as("i"))
      .crossJoin(d.select(explode(sequence(lit(0), lit(outDims - 1))).as("j")))
      .withColumn(
        "sgn",
        lit(1L) - lit(2L) *
          (conv(substring(md5(concat_ws("_", col("j"), col("i"))), 1, 1), 16, 10)
            .cast("long") % 2))
    vecs
      .select(col(idCol).as("vec_id"),
        org.apache.spark.sql.graft.VectorExpressions
          .longArrayPosExplode(quantize(col(embCol))).as(Seq("i", "qv")))
      .join(broadcast(signs), Seq("i"))
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(col("sgn") * col("qv")).as("p"))
      .groupBy(col("vec_id"))
      .agg(
        graft.ops.Aggregates.sortedList(Seq(col("j")), col("p")).as("proj"),
        sum(col("p") * col("p")).as("norm2"))
  }

  /** Symmetric-int8 quantization audit (q266) — the serving-layer
    * question "what does int8 compression cost THIS corpus": each
    * vector is quantized to `c_i = round(v_i·127 / max|v|)` (the
    * per-tensor symmetric scheme every int8 ANN/inference stack uses)
    * and the audit reports, per label, the worst per-element
    * reconstruction error (ppm of full scale, exact integers:
    * `|v_i·127 − c_i·m|·10⁶ div (m·127)`) and the cosine between the
    * int8 vector and the original (micro, the one IEEE-deterministic
    * double chain). Rule of thumb it verifies: symmetric int8 holds
    * ~0.5%/element worst-case (½ ULP of 1/127) and cosines stay
    * ≥0.999 unless the corpus has pathological dynamic range.
    *
    * Scale shape: all per-element work happens in ONE posexplode of
    * the corpus with codegen'd per-row scale lookup
    * ([[org.apache.spark.sql.graft.LongVectorAbsMax]]); aggregations
    * are (vec)- then (label)-keyed, both map-side combinable. No
    * pairwise stage, nothing superlinear.
    */
  def int8QuantAudit(
      vecs: DataFrame,
      idCol: String,
      labelCol: String,
      embCol: String): DataFrame = {
    val v = vecs
      .select(col(idCol).as("vec_id"), col(labelCol).cast("long").as("label"),
        quantize(col(embCol)).as("q"))
      .withColumn("m",
        org.apache.spark.sql.graft.VectorExpressions.longVectorAbsMax(col("q")))
      .filter(col("m") > 0L)
    val ex = v
      .select(col("vec_id"), col("label"), col("m"),
        posexplode(col("q")).as(Seq("pos", "val")))
      // (val·127)/m evaluated in doubles in this exact order on both
      // engines — mult and div are IEEE exactly-rounded, so the round()
      // input is bit-identical and the code deterministic
      .withColumn("c",
        round(col("val").cast("double") * lit(127.0) / col("m").cast("double"))
          .cast("long"))
    val per = ex
      .groupBy(col("vec_id"), col("label"))
      .agg(
        max(expr("abs(val * 127 - c * m) * 1000000 div (m * 127)")).as("max_err_ppm"),
        sum(col("c") * col("val")).as("dp"),
        sum(col("c") * col("c")).as("n2c"),
        sum(col("val") * col("val")).as("n2v"))
      .withColumn("cos_micro",
        round(col("dp").cast("double") /
          sqrt(col("n2c").cast("double")) / sqrt(col("n2v").cast("double")) *
          1000000).cast("long"))
    per
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(col("max_err_ppm")).as("__esum"),
        max(col("max_err_ppm")).as("max_err_ppm"),
        sum(col("cos_micro")).as("__csum"),
        min(col("cos_micro")).as("min_cos_micro"))
      .withColumn("mean_err_ppm", expr("__esum div n_vectors"))
      .withColumn("mean_cos_micro", expr("__csum div n_vectors"))
      .select(col("label"), col("n_vectors"), col("mean_err_ppm"),
        col("max_err_ppm"), col("mean_cos_micro"), col("min_cos_micro"))
      .orderBy(col("label"))
  }

  /** Greedy k-center (farthest-point traversal) coreset selection
    * (q269) — the diversity-sampling primitive behind coreset
    * construction and active-learning seed picks (Sener & Savarese
    * 2018): start from the max-norm vector, then repeatedly take the
    * point FARTHEST from everything chosen so far. The selection
    * trace's `radius_d2` sequence is the classic 2-approximation
    * certificate of the k-center cover radius — monotone
    * non-increasing, and every unchosen point is within `radius_d2(k)`
    * of some center after round k.
    *
    * Determinism: distances are exact int64 on quantized components;
    * ties break to the smallest vec_id at every argmax.
    *
    * Scale shape: each round is one scan of the corpus against a
    * ≤k-row broadcast-literal center set (TakeOrderedAndProject cut,
    * never a global sort) plus a 1-row driver collect — k scans total,
    * nothing pairwise. The k dim-length arrays on the driver are the
    * same bounded-collect contract as exactMedian.
    */
  def kCenterGreedy(
      vecs: DataFrame,
      idCol: String,
      embCol: String,
      k: Int = 4): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64]; got $k")
    val v = graft.core.Caches.cache(
      vecs.select(col(idCol).cast("long").as("vec_id"), quantize(col(embCol)).as("q"))
        .withColumn("n2", qnorm2(col("q"))))
    val spark0 = vecs.sparkSession
    import spark0.implicits._
    val first = v.orderBy(col("n2").desc, col("vec_id")).limit(1)
      .select(col("vec_id"), col("q"), col("n2")).head(1)
    if (first.isEmpty)
      return Seq.empty[(Int, Long, Long)].toDF("round", "vec_id", "radius_d2")
    // (round, vec_id, radius_d2, center vector, center norm2)
    var chosen = Vector[(Int, Long, Long, Seq[Long], Long)](
      (1, first(0).getLong(0), 0L, first(0).getSeq[Long](1), first(0).getLong(2)))
    var r = 2
    var exhausted = false
    while (r <= k && !exhausted) {
      val minD2 = chosen
        .map { case (_, _, _, cq, cn2) =>
          col("n2") + lit(cn2) - lit(2L) * qdot(col("q"), typedlit(cq))
        }
        .reduce((a, b) => least(a, b))
      val nxt = v
        .filter(!col("vec_id").isin(chosen.map(_._2): _*))
        .withColumn("md", minD2)
        .orderBy(col("md").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("md"), col("q"), col("n2")).head(1)
      // corpus smaller than k: the trace simply ends (mirrors q268's
      // exhaustion rule) instead of throwing on the empty argmax
      if (nxt.isEmpty) exhausted = true
      else {
        chosen = chosen :+ ((r, nxt(0).getLong(0), nxt(0).getLong(1),
          nxt(0).getSeq[Long](2), nxt(0).getLong(3)))
        r += 1
      }
    }
    chosen.map { case (rd, id, rad, _, _) => (rd, id, rad) }
      .toDF("round", "vec_id", "radius_d2")
      .orderBy(col("round"))
  }

  /** Embedding variance decomposition (q273) — one-way ANOVA in vector
    * space: total squared deviation around the global centroid splits
    * into within-label (WSS) and between-label (BSS) parts, and
    * `r2 = BSS/TSS` is the share of embedding variance the labels
    * explain — the clusterability number that says whether a label
    * scheme carries geometric signal BEFORE anyone trains a probe on
    * it (complements q254: silhouette scores per-point assignment
    * quality; this scores the partition as a whole). Centroids are
    * floor-int means, so WSS+BSS ≈ TSS up to quantization; all three
    * are reported as computed.
    *
    * Determinism: all sums are exact int64 on quantized components
    * (|v−c|² ≤ 64·(2·10⁴)² ≈ 2.6·10¹⁰ per vector ⇒ headroom to
    * ~3·10⁸ vectors; beyond that the per-label partial sums shard
    * first). r2 is ppm by integer division.
    *
    * Scale shape: three line-rate aggregations (per-vector terms
    * against broadcast centroids) — map-side combinable, no pairwise
    * stage, no fact-table window.
    */
  def embeddingAnova(
      vecs: DataFrame,
      idCol: String,
      labelCol: String,
      embCol: String): DataFrame = {
    val v = vecs.select(col(idCol).as("vec_id"),
      col(labelCol).cast("long").as("label"), quantize(col(embCol)).as("q"))
      .withColumn("v_n2", qnorm2(col("q")))
    val cents = labelCentroids(vecs, labelCol, embCol)
      .select(col("label"), col("centroid"),
        qnorm2(col("centroid")).as("c_n2"), col("n_vectors"))
    val g = vecs
      .select(org.apache.spark.sql.graft.VectorExpressions
        .longArrayPosExplode(quantize(col(embCol))).as(Seq("pos", "val")))
      .groupBy(col("pos"))
      .agg(floor(sum(col("val")).cast("double") / count(lit(1))).cast("long").as("gv"))
      .agg(graft.ops.Aggregates.sortedList(Seq(col("pos")), col("gv")).as("gc"))
      .withColumn("g_n2", qnorm2(col("gc")))
    val perVec = v
      .join(broadcast(cents), Seq("label"))
      .crossJoin(broadcast(g))
      .select(
        (col("v_n2") + col("c_n2") - lit(2L) * qdot(col("q"), col("centroid")))
          .as("w_d2"),
        (col("v_n2") + col("g_n2") - lit(2L) * qdot(col("q"), col("gc")))
          .as("t_d2"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("w_d2")).as("wss"),
        sum(col("t_d2")).as("tss"))
    val between = cents
      .crossJoin(broadcast(g))
      .select((col("n_vectors") *
        (col("c_n2") + col("g_n2") - lit(2L) * qdot(col("centroid"), col("gc"))))
        .as("b_d2"))
      .agg(count(lit(1)).as("n_labels"), sum(col("b_d2")).as("bss"))
    perVec.crossJoin(broadcast(between))
      .select(col("n_vectors"), col("n_labels"), col("wss"), col("bss"),
        col("tss"), expr("bss * 1000000 div tss").as("r2_micro"))
  }

  /** Mutual nearest-neighbor pair mining (q270) — the bitext/alignment
    * pattern (margin-based mining, Artetxe & Schwenk 2019, simplified
    * to reciprocity): a pair qualifies when each vector is the other's
    * top-1 neighbor. Reciprocity is the cheap high-precision filter —
    * one-directional top-1 lists are full of hubs (a few central
    * vectors that are "nearest" to everything); requiring the edge
    * both ways removes hubs without any density estimate.
    *
    * Determinism: top-1 by (cos_micro desc, neighbor_id asc); output
    * pairs oriented id_a < id_b.
    *
    * Scale shape: neighbor lists come from the LSH bucket join (the
    * q40 both-sides-corpus shape — per-bucket quadratic, occupancy-
    * bounded), top-1 per vector is a bucket-partitioned window, and
    * the reciprocity check is a self-join of the |corpus|-row top-1
    * table on the oriented pair key. Nothing global, nothing
    * all-pairs.
    */
  def mutualKnn(
      vecs: DataFrame,
      idCol: String,
      embCol: String,
      planes: Int = 6,
      dim: Int = 64): DataFrame = {
    val base = vecs.select(col(idCol).as("id"), quantize(col(embCol)).as("emb"))
      .withColumn("bucket", lshBucket(col("emb"), planes, dim))
    val pairs = base.as("a")
      .join(base.select(col("id").as("b_id"), col("emb").as("b_emb"),
        col("bucket")).as("b"), Seq("bucket"))
      .filter(col("id") =!= col("b_id"))
      .select(col("id"), col("b_id"),
        round(qcosine(
          qdot(col("emb"), col("b_emb")),
          qnorm2(col("emb")),
          qnorm2(col("b_emb"))) * 1000000).cast("long").as("cos_micro"))
    val top1 = graft.core.Caches.cache(
      Windows.topKPerGroup(pairs, Seq("id"), col("cos_micro"), Seq("b_id"), 1)
        .select(col("id"), col("b_id"), col("cos_micro")))
    top1.as("x")
      .join(top1.select(col("id").as("y_id"), col("b_id").as("y_nb")).as("y"),
        col("b_id") === col("y_id") && col("y_nb") === col("id"))
      .filter(col("id") < col("b_id"))
      .select(col("id").as("id_a"), col("b_id").as("id_b"), col("cos_micro"))
      .orderBy(col("id_a"))
  }

  /** kNN-isolation OOD audit (q277) — the embedding-space
    * out-of-distribution detector (kNN-OOD, Sun et al. 2022,
    * simplified to nearest-in-bucket): a vector whose NEAREST
    * neighbor is far away sits outside the corpus's dense regions —
    * mislabeled scrape, decode garbage, or genuine novelty; either
    * way the curation queue wants eyes on it. Reports the `topK` most
    * isolated vectors by lowest nearest-neighbor cosine; vectors
    * ALONE in their LSH bucket rank first (nearest_cos −10⁶ sentinel)
    * — no bucket-mate within the index's collision radius is itself
    * the strongest isolation signal the index can emit.
    *
    * Scale shape: the q270 bucket join (occupancy-bounded), a
    * bucket-partitioned top-1 window, a left join back to the corpus
    * grain, TakeOrderedAndProject cut. `planes` scales with corpus
    * occupancy as for [[mutualKnn]].
    */
  def knnOutliers(
      vecs: DataFrame,
      idCol: String,
      embCol: String,
      planes: Int = 6,
      dim: Int = 64,
      topK: Int = 20): DataFrame = {
    val base = graft.core.Caches.cache(
      vecs.select(col(idCol).as("vec_id"), quantize(col(embCol)).as("emb"))
        .withColumn("bucket", lshBucket(col("emb"), planes, dim)))
    val pairs = base.as("a")
      .join(base.select(col("vec_id").as("b_id"), col("emb").as("b_emb"),
        col("bucket")).as("b"), Seq("bucket"))
      .filter(col("vec_id") =!= col("b_id"))
      .select(col("vec_id"), col("b_id"),
        round(qcosine(
          qdot(col("emb"), col("b_emb")),
          qnorm2(col("emb")),
          qnorm2(col("b_emb"))) * 1000000).cast("long").as("cos_micro"))
    val top1 = Windows
      .topKPerGroup(pairs, Seq("vec_id"), col("cos_micro"), Seq("b_id"), 1)
      .select(col("vec_id"), col("b_id").as("nearest_id"),
        col("cos_micro").as("nearest_cos_micro"))
    base
      .join(top1, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("nearest_id"), lit(-1L)).as("nearest_id"),
        coalesce(col("nearest_cos_micro"), lit(-1000000L)).as("nearest_cos_micro"))
      .orderBy(col("nearest_cos_micro"), col("vec_id"))
      .limit(topK)
  }

  /** Semantic decontamination report (q276) — the embedding-space leg
    * of the benchmark-leakage defense: n-gram decontamination
    * (q48/q76) misses PARAPHRASED benchmark items; this surfaces the
    * `topK` train/held-out pairs with the highest embedding cosine,
    * each carrying a `flagged` bit at `thresholdMicro` — the review
    * list a release gate consumes (top-k rather than
    * threshold-filtered, so a CLEAN corpus still yields the
    * closest-call evidence instead of an empty, silently-vacuous
    * report). Train/held-out halves are the md5-parity split (the
    * q261 snapshot idiom); candidates come from shared LSH buckets,
    * so the check is occupancy-bounded, never train×bench.
    *
    * Scale shape: identical to [[mutualKnn]]'s bucket join with one
    * side filtered — at deployment the bench set is tiny and
    * broadcast, `planes` scales with corpus occupancy, and the top-k
    * is TakeOrderedAndProject.
    */
  def semanticDecontam(
      vecs: DataFrame,
      idCol: String,
      embCol: String,
      planes: Int = 6,
      dim: Int = 64,
      thresholdMicro: Long = 995000L,
      topK: Int = 20): DataFrame = {
    val base = vecs.select(col(idCol).as("id"), quantize(col(embCol)).as("emb"))
      .withColumn("half",
        shiftright(org.apache.spark.sql.graft.VectorExpressions.md5Prefix60(col("id").cast("string")), 28) % 2)
      .withColumn("bucket", lshBucket(col("emb"), planes, dim))
    val train = base.filter(col("half") === 0L)
      .select(col("id").as("train_id"), col("emb").as("t_emb"), col("bucket"))
    val bench = base.filter(col("half") === 1L)
      .select(col("id").as("bench_id"), col("emb").as("b_emb"), col("bucket"))
    train
      .join(bench, Seq("bucket"))
      .select(col("train_id"), col("bench_id"),
        round(qcosine(
          qdot(col("t_emb"), col("b_emb")),
          qnorm2(col("t_emb")),
          qnorm2(col("b_emb"))) * 1000000).cast("long").as("cos_micro"))
      .orderBy(col("cos_micro").desc, col("train_id"), col("bench_id"))
      .limit(topK)
      .withColumn("flagged",
        (col("cos_micro") >= thresholdMicro).cast("long"))
  }

  /** Hard-negative mining for contrastive/metric training (q271): for
    * each anchor vector, the most-similar vectors of a DIFFERENT
    * label — the "looks identical, labeled differently" pairs a
    * triplet/InfoNCE trainer needs and random negatives never surface.
    * Candidates come from the anchor's LSH bucket (the q36 index), so
    * mining stays sublinear: the label filter applies BEFORE the
    * top-k, and the exact cosine reranks bucket-mates only.
    *
    * Scale shape: identical to [[lshBucketedTopK]] — anchors broadcast
    * with their buckets, the corpus computes one bucket per table and
    * never re-fans; candidate volume is bucket-occupancy-bounded.
    * Output: (query_id, query_label, neighbor_id, neighbor_label,
    * cos_micro, rn ≤ k), cosine micro-rounded for a deterministic
    * cross-engine ordering.
    */
  def hardNegatives(
      vecs: DataFrame,
      idCol: String,
      labelCol: String,
      embCol: String,
      k: Int = 3,
      planes: Int = 8,
      dim: Int = 64,
      queryMod: Long = 50L): DataFrame = {
    val base = vecs.select(col(idCol).as("id"),
      col(labelCol).cast("long").as("lbl"), quantize(col(embCol)).as("emb"))
    val q = broadcast(
      base.filter(pmod(col("id"), lit(queryMod)) === 0L)
        .select(col("id").as("query_id"), col("lbl").as("query_label"),
          col("emb").as("q_emb"),
          lshBucket(col("emb"), planes, dim).as("bucket")))
    val c = base.select(col("id").as("neighbor_id"),
      col("lbl").as("neighbor_label"), col("emb").as("c_emb"),
      lshBucket(col("emb"), planes, dim).as("bucket"))
    val scored = c
      .join(q, Seq("bucket"))
      .filter(col("neighbor_label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"),
        col("neighbor_id"), col("neighbor_label"),
        round(qcosine(
          qdot(col("q_emb"), col("c_emb")),
          qnorm2(col("q_emb")),
          qnorm2(col("c_emb"))) * 1000000).cast("long").as("cos_micro"))
    graft.ops.Windows
      .topKPerGroup(scored, Seq("query_id"), col("cos_micro"), Seq("neighbor_id"), k)
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("cos_micro"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Embedding-space isotropy audit (q293) — mean pairwise cosine of
    * the corpus via the sum-vector identity
    * `Σ_{i≠j} u_i·u_j = ‖Σu‖² − Σ‖u‖²`, collapsing the O(n²) pair
    * metric to ONE O(n) aggregate (per-dim column sums). Vectors are
    * unit-normalized in quantized integers (scale 10⁴; sqrt is
    * IEEE-exact, so the normalization is bit-identical cross-engine);
    * `avg_pair_cos_micro = (‖Σu‖² − Σ‖u‖²) div (n·(n−1)·100)`.
    *
    * A loud assert_true guards n ≤ 70k where a per-dim sum's square
    * would overflow int64 — past it, audit on a sample (the q279/q280
    * convention) or switch the square accumulator to decimal(38,0).
    * Output (one row): (n, sum_norm2, sum_s2, avg_pair_cos_micro).
    */
  def isotropyAudit(emb: DataFrame, embCol: String): DataFrame = {
    // materialize BEFORE the posexplode: u is an interpreted HOF and an
    // explode over a collapsed HOF re-evaluates it per output element
    // (the q134 pathology); the checkpoint also feeds two aggregates.
    val un = emb
      .select(quantize(col(embCol)).as("q"))
      .withColumn("qn2", qnorm2(col("q")))
      .filter(col("qn2") > 0)
      .select(
        expr("transform(q, x -> cast(round(x * 10000.0 / sqrt(qn2)) as bigint))").as("u"))
      .withColumn("un2", qnorm2(col("u")))
      .localCheckpoint(true)
    val norms = un.agg(count(lit(1)).as("n"), sum(col("un2")).as("sum_norm2"))
    val cross = un
      .select(posexplode(col("u")).as(Seq("dim", "ud")))
      .groupBy(col("dim"))
      .agg(sum(col("ud")).as("sd"))
      .agg(sum(expr("sd * sd")).as("sum_s2"))
    norms
      .crossJoin(broadcast(cross))
      .withColumn("__ovf_ok", expr(
        """assert_true(n <= 70000,
          |  'isotropyAudit: per-dim sum squares overflow int64 past ~70k vectors -- sample or use decimal(38,0)')"""
          .stripMargin))
      .withColumn(
        "avg_pair_cos_micro",
        when(col("__ovf_ok").isNull,
          expr("(sum_s2 - sum_norm2) div (n * (n - 1) * 100)")))
      .select(col("n"), col("sum_norm2"), col("sum_s2"), col("avg_pair_cos_micro"))
  }
}
