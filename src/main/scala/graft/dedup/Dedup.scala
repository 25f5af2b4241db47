package graft.dedup

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH near-dup, SimHash, and n-gram Jaccard.
  *
  * Cross-engine determinism: all hashing goes through `md5` (identical
  * everywhere) rather than Spark's murmur3 `hash()`, and MinHash
  * signatures are the LEXICOGRAPHIC min of salted md5 hex strings — a
  * valid min-wise permutation family that any SQL engine reproduces.
  *
  * Scale notes:
  *  - Exact dedup = one hash aggregation on the fingerprint (shuffle
  *    carries (fp, min_id) partials only).
  *  - MinHash LSH: signatures are computed per-doc via a single
  *    explode→groupBy (shuffle keyed by doc); banding turns near-dup
  *    search into an equi-join on (band_idx, band_key) — no pairwise
  *    blowup. Bucket skew (a band key shared by many docs) is the risk;
  *    cap candidates per bucket upstream if corpus is adversarial.
  *  - n-gram Jaccard verification only runs on LSH candidate pairs.
  */
object Dedup {

  /** Exact dedup: keep the lowest-`idCol` row per normalized-text
    * fingerprint. Returns (fingerprint, survivor_id, dup_count).
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(fingerprint(col(textCol)).as("fp"), col(idCol).as("id"))
      .groupBy(col("fp"))
      .agg(min(col("id")).as("survivor_id"), count(lit(1)).as("dup_count"))

  /** Distinct word shingles per doc: (id, shingle). The dedup happens
    * ROW-LOCALLY (array_distinct before the explode), not with a
    * cluster-wide DISTINCT — per-doc shingle sets are small, so this
    * removes an entire shuffle of the exploded corpus.
    */
  def shingles(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    docs
      .select(
        col(idCol).as("id"),
        explode(array_distinct(wordShingles(col(textCol), n))).as("shingle"))

  /** MinHash signature per doc: `numHashes` lexicographic-min md5
    * values of salted shingles. Output: (id, sig: array<string>).
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"s$i|"), col("shingle")))).as(s"h$i"))
    sh.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Row-local MinHash: identical result to
    * [[shingles]]+[[minhashSignatures]] but computed per-row with array
    * expressions — ZERO shuffles (explode→groupBy needs one), fully
    * whole-stage-codegen. The scale path: signature cost is O(shingles
    * × hashes) CPU on the scan, no exchange at all.
    */
  def minhashSignaturesInline(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      numHashes: Int): DataFrame =
    // native one-pass expression (see MinHashSignature scaladoc): same
    // salted-md5 family as the HOF/oracle formulation, one array
    // traversal, reused MessageDigest
    docs.select(
      col(idCol).as("id"),
      org.apache.spark.sql.graft.MinHashSignature(
        wordShingles(col(textCol), n), numHashes).as("sig"))

  /** LSH banding: signature → (id, band_idx, band_key=md5(joined band
    * rows)). Docs sharing any (band_idx, band_key) are candidates.
    */
  def lshBands(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(
      col("id"),
      explode(
        array((0 until bands).map { b =>
          struct(
            lit(b).as("band_idx"),
            md5(concat_ws("|", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))
              .as("band_key"))
        }: _*)).as("band"))
      .select(col("id"), col("band.band_idx"), col("band.band_key"))

  /** Candidate near-dup pairs from LSH buckets (id_a < id_b, distinct).
    *
    * `maxBucketSize` drops buckets holding more docs than the bound
    * before the quadratic in-bucket pairing — the standard guard
    * against degenerate buckets (boilerplate-heavy corpora collapse
    * thousands of docs into one band key, and a b-doc bucket costs
    * b²/2 pairs). Docs sharing such a bucket almost always share a
    * healthier bucket in another band, so recall loss is minimal;
    * None disables the guard.
    */
  def lshCandidatePairs(bands: DataFrame, maxBucketSize: Option[Int] = Some(100)): DataFrame = {
    // bands is referenced three times below (cap agg + both self-join
    // sides); without a materialization the whole upstream signature
    // computation re-runs per reference (measured 4.5 s -> 1.5 s at
    // sf0.1)
    val bandsM = graft.core.Caches.cache(bands)
    val kept = maxBucketSize match {
      case Some(cap) =>
        val ok = bandsM.groupBy(col("band_idx"), col("band_key")).count()
          .filter(col("count") <= cap).select("band_idx", "band_key")
        bandsM.join(ok, Seq("band_idx", "band_key"), "left_semi")
      case None => bandsM
    }
    val a = kept.select(col("band_idx"), col("band_key"), col("id").as("id_a"))
    val b = kept.select(col("band_idx"), col("band_key"), col("id").as("id_b"))
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Exact Jaccard similarity (×1e6, floored to long — engine-stable)
    * for given candidate pairs over the shingle sets.
    * Returns (id_a, id_b, inter_count, union_count, jaccard_ppm).
    */
  def jaccardOnPairs(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter_count"))
    pairs
      .join(inter, Seq("id_a", "id_b"), "left")
      .withColumn("inter_count", coalesce(col("inter_count"), lit(0L)))
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("union_count", col("n_a") + col("n_b") - col("inter_count"))
      .withColumn("jaccard_ppm", floor(col("inter_count") * 1000000L / col("union_count")))
      .select("id_a", "id_b", "inter_count", "union_count", "jaccard_ppm")
  }

  /** All-pairs n-gram Jaccard ≥ threshold (ppm) via inverted index on
    * shingles — exact near-dup, quadratic only within shared-shingle
    * groups. Prefer MinHash LSH at scale; this is the oracle-exact
    * variant for modest corpora / verification.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      minJaccardPpm: Long): DataFrame = {
    // One-pass inverted index, postings-list form: group the exploded
    // shingles by shingle (ONE shuffle of the shingle table — the
    // equality self-join shape shuffles it twice), emit every in-bucket
    // (a,b) pair from the sorted posting list, and count pair
    // occurrences — each (a,b) appears exactly once per SHARED shingle,
    // so the count IS the intersection size. Set sizes come row-locally
    // from the distinct-shingle array (no aggregation at all).
    // Skew note: a corpus-wide stop-shingle makes one posting list huge
    // (f² pairs); cap posting lists upstream if the corpus is
    // boilerplate-heavy — for exact top-k output the cap must stay off.
    val shArr = docs
      .select(col(idCol).as("id"), array_distinct(wordShingles(col(textCol), n)).as("__sh"))
    val sizes = shArr.select(col("id"), size(col("__sh")).cast("long").as("n"))
    val post = shArr
      .select(explode(col("__sh")).as("shingle"), col("id"))
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    // all i<j pairs of the sorted posting list ⇒ id_a < id_b by
    // construction. Lazy custom generator, NOT the explode-of-HOF form:
    // InferFiltersFromGenerate re-evaluates an ExplodeBase's interpreted
    // f²-array expression up to 3× per posting row, and even one
    // evaluation materializes a stop-shingle's whole pair array — the
    // q279 hot-task class (r10/r16 rule).
    val inter = post
      .select(org.apache.spark.sql.graft.VectorExpressions
        .sortedPairsExplode(col("ids")).as(Seq("id_a", "id_b")))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter_count"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("union_count", col("n_a") + col("n_b") - col("inter_count"))
      .withColumn("jaccard_ppm", floor(col("inter_count") * 1000000L / col("union_count")))
      .select("id_a", "id_b", "inter_count", "union_count", "jaccard_ppm")
      .filter(col("jaccard_ppm") >= minJaccardPpm)
  }

  /** Embedding-cosine near-duplicates: pairs (id_a < id_b) whose
    * quantized-integer cosine similarity ≥ `minCosine`. Exact and
    * engine-deterministic (integer dot/norms, see graft.similarity).
    *
    * This brute-force form is O(n²) — right for a bounded candidate
    * set. At corpus scale, block first (LSH buckets via
    * [[graft.similarity.Similarity.lshBucket]]) and run this inside
    * buckets: [[embeddingNearDupLsh]].
    *
    * The bound is ENFORCED, not doc-only: an `assert_true` row-count
    * guard (the suite's loud-overflow pattern) fails the job the
    * moment the input exceeds `maxRows`, instead of silently
    * cartesian-ing an unbounded corpus. Raise it deliberately for a
    * known-bounded candidate set; never for a raw corpus.
    */
  def embeddingNearDupPairs(
      embs: DataFrame,
      idCol: String,
      embCol: String,
      minCosine: Double,
      maxRows: Long = 100000L): DataFrame = {
    import graft.similarity.Similarity._
    val q0 = embs.select(col(idCol).as("id"), quantize(col(embCol)).as("emb"))
    val n = q0.agg(count(lit(1)).as("__n"))
    // assert_true returns NULL on success; gating emb on its null-ness
    // forces the guard to evaluate without changing the output.
    val q = q0.crossJoin(broadcast(n))
      .withColumn("__guard", expr(
        s"""assert_true(__n <= ${maxRows}L,
           |  'embeddingNearDupPairs: ' || __n || ' rows exceeds maxRows=$maxRows'
           |  || ' -- O(n^2) path; block first (embeddingNearDupLsh)')""".stripMargin))
      .select(col("id"), when(col("__guard").isNull, col("emb")).as("emb"))
    val a = q.select(col("id").as("id_a"), col("emb").as("emb_a"))
    val b = q.select(col("id").as("id_b"), col("emb").as("emb_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        qcosine(qdot(col("emb_a"), col("emb_b")), qnorm2(col("emb_a")), qnorm2(col("emb_b")))
          .as("cosine_sim"))
      .filter(col("cosine_sim") >= minCosine)
  }

  /** Scale path for embedding near-dup: random-hyperplane LSH buckets
    * block the corpus, exact cosine verifies within buckets. Recall < 1
    * (pairs split across buckets are missed) — the standard trade.
    */
  def embeddingNearDupLsh(
      embs: DataFrame,
      idCol: String,
      embCol: String,
      minCosine: Double,
      planes: Int,
      dim: Int): DataFrame = {
    import graft.similarity.Similarity._
    val q = embs.select(
      col(idCol).as("id"),
      quantize(col(embCol)).as("emb"))
      .withColumn("bucket", lshBucket(col("emb"), planes, dim))
    val a = q.select(col("bucket"), col("id").as("id_a"), col("emb").as("emb_a"))
    val b = q.select(col("bucket"), col("id").as("id_b"), col("emb").as("emb_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        qcosine(qdot(col("emb_a"), col("emb_b")), qnorm2(col("emb_a")), qnorm2(col("emb_b")))
          .as("cosine_sim"))
      .filter(col("cosine_sim") >= minCosine)
      .distinct()
  }

  /** Hybrid CC: the verified near-dup graph is orders of magnitude
    * smaller than the corpus (only docs with a confirmed ≥-threshold
    * pair appear), so up to `driverEdgeLimit` edges it is solved with
    * an exact driver-side union-find (microseconds, zero extra jobs)
    * and broadcast back. Larger graphs fall through to the distributed
    * [[connectedComponentsStar]]. The limit bounds driver memory at
    * ~16 B/edge.
    *
    * Input: pairs (id_a, id_b). Output: (id, component) for every id
    * present in any pair; component = the component's minimum id.
    */
  def connectedComponentsAuto(
      pairs: DataFrame,
      driverEdgeLimit: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)]
    val local = edges.limit((driverEdgeLimit + 1).toInt).collect()
    if (local.length > driverEdgeLimit) return connectedComponentsStar(pairs)
    val parent = collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    local.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val ids = local.flatMap { case (a, b) => Seq(a, b) }.distinct
    ids.map(id => (id, find(id))).toSeq.toDF("id", "component")
  }

  /** Large-star/small-star connected components (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond") — the web-scale
    * path of [[connectedComponentsAuto]], which runs it past its
    * driver edge limit: converges in O(log² n) rounds REGARDLESS of
    * graph diameter, where min-label propagation needs diameter rounds.
    *
    * Edges are kept canonical (u, v) with u > v and deduplicated.
    * Large-star rewires every strictly-larger neighbor of a node to the
    * minimum of its closed neighborhood; small-star then rewires the
    * smaller-or-equal neighbors (and the node itself) to that minimum.
    * Both steps are one groupBy(node) + one equi-join — no diameter
    * dependence, per-round shuffle bounded by the (shrinking) edge set.
    * Component labels are the component-minimum id, identical to the
    * union-find path of [[connectedComponentsAuto]], so the two routes
    * are interchangeable. Convergence is an EXACT edge-set equality
    * check (count + except — no probabilistic checksum), once per
    * round; a graph still changing after `maxIter` rounds throws
    * IllegalStateException rather than return a partial labelling.
    *
    * Output contract matches [[connectedComponentsAuto]]: (id,
    * component) for every id present in any input pair, self-labeled
    * when its pairs were all self-loops.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val nodes = pairs.select(col("id_a").cast("long").as("id"))
      .union(pairs.select(col("id_b").cast("long").as("id")))
      .distinct()
    // round-local caches (adjacency, min-join) are freed as soon as the
    // round's output is materialized — 50 iterations must not pin 100
    // intermediate edge sets
    var roundCaches = List.empty[DataFrame]
    def largeStar(e: DataFrame): DataFrame = {
      val adj = e.union(e.select(col("v").as("u"), col("u").as("v")))
        .transform(graft.core.Caches.cache)
      roundCaches ::= adj
      val m = adj.groupBy(col("u"))
        .agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("u"), col("__mn")).as("m"))
      // every (u, v) with v > u becomes (v, m(u)); m(u) <= u < v keeps
      // the canonical direction and precludes self-loops
      adj.filter(col("v") > col("u"))
        .join(m, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // canonical input (u > v): the open neighborhood grouped by u IS
      // the smaller-side neighborhood, so m = min(v) < u directly
      val withM = e
        .join(e.groupBy(col("u")).agg(min(col("v")).as("m")), Seq("u"))
        .transform(graft.core.Caches.cache)
      roundCaches ::= withM
      withM.select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // each round's output is localCheckpoint'ed: without lineage
    // truncation the logical plan multiplies ~8x per round (union +
    // self-join both reference the previous round twice) and plan
    // stringification alone OOMs after ~8 rounds. Dropped round
    // snapshots are reclaimed by the ContextCleaner once unreferenced.
    var e = pairs
      .select(col("id_a").cast("long").as("a"), col("id_b").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint(true)
    var eCount = e.count()
    var converged = eCount == 0L
    var i = 0
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      val nextCount = next.count()
      // exact set equality: same cardinality and no edge in next \ e
      converged =
        nextCount == eCount && next.except(e).isEmpty
      roundCaches.foreach(_.unpersist())
      roundCaches = Nil
      e = next
      eCount = nextCount
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar: not converged after $i rounds, $eCount edges left")
    // at the star fixpoint every non-minimum node carries exactly one
    // edge to its component minimum; minima and self-loop-only nodes
    // label themselves
    nodes
      .join(e.select(col("u").as("id"), col("v").as("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** End-to-end near-duplicate dedup: MinHash-LSH blocking → exact
    * n-gram-Jaccard verification ≥ `minJaccardPpm` → transitive
    * grouping → survivor = min doc id per group. Returns every input
    * doc with (doc_id, component, is_survivor) — filter
    * `is_survivor` to materialize the deduplicated corpus.
    */
  def nearDupDedup(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int,
      numHashes: Int,
      bands: Int,
      minJaccardPpm: Long): DataFrame =
    nearDupComponents(docs, textCol, idCol, shingleN, numHashes, bands, minJaccardPpm)
      .withColumn("is_survivor", col(idCol) === col("component"))

  /** The cluster stage shared by the survivorship policies: every input
    * doc labeled with its verified near-dup component (own id when
    * unpaired). MinHash-LSH blocking → exact-Jaccard verify →
    * transitive grouping.
    */
  private def nearDupComponents(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int,
      numHashes: Int,
      bands: Int,
      minJaccardPpm: Long): DataFrame = {
    // one shingle-array pass feeds BOTH the signatures (row-local
    // array_min lanes) and the exact-verify shingle rows (explode)
    val shArrays = docs
      .select(
        col(idCol).as("id"),
        array_distinct(graft.functions.TextFunctions.wordShingles(col(textCol), shingleN))
          .as("__sh"))
      .transform(graft.core.Caches.cache)
    val sh = shArrays.select(col("id"), explode(col("__sh")).as("shingle"))
    val sigs = shArrays.select(
      col("id"),
      org.apache.spark.sql.graft.MinHashSignature(col("__sh"), numHashes).as("sig"))
    val candidates = lshCandidatePairs(lshBands(sigs, bands, numHashes / bands))
    val verified = jaccardOnPairs(candidates, sh)
      .filter(col("jaccard_ppm") >= minJaccardPpm)
      .select("id_a", "id_b")
    val components = connectedComponentsAuto(verified)
    docs
      .select(col(idCol).as("id"))
      .join(components, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        coalesce(col("component"), col("id")).as("component"))
  }

  /** Survivorship-POLICY near-dup dedup (the curation pattern of
    * CCNet/RefinedWeb-style pipelines: when near-duplicates cluster,
    * keep the BEST copy, not an arbitrary one): same clusters as
    * [[nearDupDedup]], survivor = the cluster row with the highest
    * `scoreCol` (tie → lowest id). `docs` must carry `scoreCol`
    * precomputed (any integer quality signal — stopword ppm, length,
    * model score). Output: (idCol, component, scoreCol, is_survivor)
    * for every input doc.
    *
    * Scale shape: adds ONE window exchange keyed by component on top of
    * the cluster stage — the same key the components table already
    * groups by; cluster sizes are the hot-bucket concern and inherit
    * the LSH path's per-bucket caps.
    */
  def bestOfCluster(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      scoreCol: String,
      shingleN: Int,
      numHashes: Int,
      bands: Int,
      minJaccardPpm: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comps = nearDupComponents(docs, textCol, idCol, shingleN, numHashes, bands, minJaccardPpm)
    val w = Window.partitionBy(col("component"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    docs
      .select(col(idCol), col(scoreCol))
      .join(comps, Seq(idCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("is_survivor", col("__rn") === 1)
      .drop("__rn")
      .select(col(idCol), col("component"), col(scoreCol), col("is_survivor"))
  }

  /** Leakage-free train/valid split: assign near-dup COMPONENTS, not
    * documents, to splits — a doc and its near-duplicate can never
    * straddle the boundary (the eval-leakage failure mode of naive
    * per-doc hashing: the model "memorizes" a valid doc from its train
    * twin). Split is a pure function of the component id (md5 permille,
    * the engine's hash-sampling pattern), so it reproduces across
    * engines and re-runs. Output: every doc with (component, split).
    */
  def leakageFreeSplit(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      validPermille: Int,
      shingleN: Int,
      numHashes: Int,
      bands: Int,
      minJaccardPpm: Long): DataFrame =
    nearDupComponents(docs, textCol, idCol, shingleN, numHashes, bands, minJaccardPpm)
      .withColumn(
        "split",
        when(
          graft.ops.Sampling.hashBucketPermille(col("component")) < validPermille,
          "valid").otherwise("train"))

  /** Benchmark decontamination — the LLM-training-pipeline staple:
    * which corpus documents share any word `n`-gram with a benchmark/
    * eval set? Inverted-index join on shingles with the benchmark side
    * BROADCAST (eval sets are orders of magnitude smaller than training
    * corpora), so the corpus streams through scan-side with no shuffle;
    * the per-doc aggregation shuffles only matching rows.
    * Returns one row per CONTAMINATED corpus doc:
    * (id, n_shared_shingles, n_bench_docs).
    */
  def contamination(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      n: Int): DataFrame = {
    val c = shingles(corpus, textCol, idCol, n)
    val b = shingles(benchmark, textCol, idCol, n)
      .select(col("id").as("bench_id"), col("shingle"))
    c.join(broadcast(b), Seq("shingle"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_shared_shingles"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** Decontaminated training set — [[contamination]]'s complement,
    * built for the scale where the benchmark's SHINGLE SET no longer
    * fits in a broadcast (a few hundred eval suites × thousands of
    * n-grams each is gigabytes of strings): aggregate a compact
    * mergeable bloom filter over the benchmark shingle hashes
    * (map-side partials, one `numBits/8`-byte binary to the driver),
    * probe every corpus shingle scan-side with a codegen'd
    * `might_contain`, and run the exact verification join ONLY on the
    * survivors. The bloom admits false positives — removed by the
    * verify join — and no false negatives, so the output is EXACTLY
    * the anti-join against [[contamination]]'s doc set: the prefilter
    * is a pure cost optimization, same contract as LSH banding.
    *
    * Scale shape: corpus shingles never shuffle unless they hit the
    * bloom; the verify join's left side shrinks from |corpus shingles|
    * to |hits| ≈ |true matches| / (1 − fpp).
    */
  def decontaminateBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      expectedShingles: Long = 1L << 20,
      numBits: Long = 1L << 23): DataFrame = {
    import org.apache.spark.sql.graft.BloomFunctions._
    val bench = shingles(benchmark, textCol, idCol, n).select(col("shingle"))
    // one bounded row: the serialized sketch (null when benchmark is empty)
    val bf = bench
      .agg(bloomFilterAgg(xxhash64(col("shingle")), expectedShingles, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    if (bf == null) corpus
    else {
      val hits = shingles(corpus, textCol, idCol, n)
        .filter(mightContain(bf, xxhash64(col("shingle"))))
      val contaminatedIds = hits
        .join(bench, Seq("shingle"), "left_semi")
        .select(col("id")).distinct()
      corpus.join(contaminatedIds, corpus(idCol) === contaminatedIds("id"), "left_anti")
    }
  }

  /** SimHash near-dup pairs with banded blocking: split the 32-bit
    * fingerprint into `bands` exact-match bands — any pair within
    * Hamming distance `maxHamming` ≤ bands−1 differs in at most
    * bands−1 bands, so by pigeonhole it collides on at least one and
    * recall is EXACTLY 1.0 (banding here is a pure cost optimization,
    * not an approximation — the banded result equals brute force, which
    * is what the oracle computes). Verification is one integer
    * `bit_count(xor)` per candidate pair.
    */
  def simhashNearDupPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int,
      bands: Int = 4): DataFrame = {
    require(maxHamming < bands, "full recall needs maxHamming <= bands - 1")
    val bitsPerBand = 32 / bands
    val sims = graft.core.Caches.cache(simhash32(docs, textCol, idCol))
    val banded = sims.select(
      col("id"),
      col("simhash"),
      explode(array((0 until bands).map { b =>
        struct(
          lit(b).as("band_idx"),
          shiftright(col("simhash"), b * bitsPerBand)
            .bitwiseAND(lit((1L << bitsPerBand) - 1)).as("band_val"))
      }: _*)).as("band"))
      .select(col("id"), col("simhash"), col("band.band_idx"), col("band.band_val"))
    val a = banded.select(col("band_idx"), col("band_val"),
      col("id").as("id_a"), col("simhash").as("sim_a"))
    val b = banded.select(col("band_idx"), col("band_val"),
      col("id").as("id_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sim_a"), col("sim_b"))
      .distinct()
      .select(
        col("id_a"),
        col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash (32-bit, from md5-derived token hashes): per doc, for each
    * bit, majority vote of token-frequency-weighted ±1; bit set iff the
    * weighted sum is > 0. Integer-exact and engine-portable.
    * Output: (id, simhash: long).
    */
  def simhash32(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = docs.select(
      col(idCol).as("id"),
      explode(tokens(col(textCol))).as("tok"))
    val weighted = toks
      .groupBy(col("id"), col("tok"))
      .agg(count(lit(1)).as("w"))
      .withColumn("h", shiftright(org.apache.spark.sql.graft.VectorExpressions.md5Prefix60(col("tok")), 28))
    val bitVotes = (0 until 32).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, col("w")).otherwise(-col("w")))
        .as(s"v$b")
    }
    weighted
      .groupBy(col("id"))
      .agg(bitVotes.head, bitVotes.tail: _*)
      .select(
        col("id"),
        (0 until 32)
          .map(b => when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
          .reduce(_ + _)
          .as("simhash"))
  }

  /** Incremental-ingest dedup: fingerprint the NEW batch, dedup within
    * it (min-id survivor, [[exact]]'s rule), then anti-join against the
    * already-ingested corpus's fingerprint set — only genuinely novel
    * documents survive. The continuous-crawl counterpart of the
    * one-shot [[exact]].
    *
    * Scale shape: one hash agg over the batch + one shuffled LEFT ANTI
    * join on the 32-char fp key. In production the corpus side is a
    * maintained fingerprint INDEX table (append the survivors back
    * each batch), not a re-scan of corpus text — pass that table as
    * `corpus` with `textCol` = the stored fp. Spark's runtime bloom
    * filter (spark.sql.optimizer.runtime.bloomFilter.enabled) prunes
    * most non-matching batch rows before the anti-join shuffle.
    */
  def incrementalNew(
      newDocs: DataFrame,
      corpus: DataFrame,
      textCol: String,
      idCol: String): DataFrame = {
    val batch = newDocs
      .select(fingerprint(col(textCol)).as("fp"), col(idCol).as("id"))
      .groupBy(col("fp"))
      .agg(min(col("id")).as("survivor_id"), count(lit(1)).as("batch_dup_count"))
    val seen = corpus.select(fingerprint(col(textCol)).as("fp")).distinct()
    batch.join(seen, Seq("fp"), "left_anti")
  }

  /** Per-document n-gram novelty: the share of a doc's DISTINCT word
    * n-grams that appear in no other document, as an exact integer
    * ppm ratio. High novelty = original text; low novelty = boilerplate
    * / template / near-duplicate content — the corpus-level quality
    * signal complementing the pairwise dedup operators (a doc can be
    * 40% boilerplate yet near-duplicate of nothing).
    *
    * Scale shape: the same postings-list plan as [[jaccardPairs]]'s
    * index WITHOUT the pair fan-out — shingle document-frequencies are
    * a word-count agg, the ppm roll-up is a second agg on doc_id.
    * Nothing quadratic.
    */
  def noveltyScores(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int): DataFrame = {
    val sh = shingles(docs, textCol, idCol, n)
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    sh.join(df, Seq("shingle"))
      .groupBy(col("id").as("doc_id"))
      .agg(
        count(lit(1)).as("n_distinct_ngrams"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique_ngrams"))
      .select(
        col("doc_id"),
        col("n_distinct_ngrams"),
        expr("n_unique_ngrams * 1000000 div n_distinct_ngrams").as("novelty_ppm"))
  }

  /** Exact all-pairs n-gram Jaccard ≥ threshold via PREFIX FILTERING
    * (the AllPairs/PPJoin family) — the third scale path next to the
    * postings-list index ([[ngramJaccardPairs]], best for top-k with no
    * threshold) and MinHash LSH ([[lshCandidatePairs]], approximate).
    *
    * The filter: order every doc's shingle set by ascending global
    * document frequency (ties by shingle text — one total order for the
    * whole corpus), and keep only the first `L − ⌈τ·L⌉ + 1` shingles as
    * the doc's PREFIX. Any pair with Jaccard ≥ τ has intersection
    * ≥ ⌈τ·L⌉ on both sides, so the two prefixes must share a shingle —
    * joining on prefix shingles is LOSSLESS for the thresholded output
    * while indexing only the rarest ~(1−τ) of each doc's shingles.
    * Frequent shingles (the f² posting-list blowup in the plain
    * inverted index) never enter the join.
    *
    * Shuffles: postings agg (by fingerprint), per-doc re-sort agg (by
    * id), prefix self-join (by rare fingerprint — short posting lists
    * by construction), two set-attach joins (by id; the pair side is
    * output-sized, AQE broadcasts it when small). Verification is
    * row-local `array_intersect` on the candidate pair, exact integer
    * ppm math. All shuffles are line-rate in corpus size; no step is
    * quadratic outside shared-RARE-fingerprint groups.
    */
  def jaccardPrefixFilterPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      minJaccardPpm: Long): DataFrame = {
    // Set elements are 60-bit INTEGER shingle fingerprints (hex-cast
    // md5 prefix — the engine-portable pattern), not shingle strings:
    // every shuffle in this operator then carries 8-byte longs instead
    // of n-word strings (~80% fewer key bytes at n = 4; was 16-char hex
    // strings through round 6, −35% again on the two heaviest bench
    // queries). A corpus-wide collision merges two shingles
    // consistently for all docs — Jaccard over fp-sets, the documented
    // semantics here; p(any collision) ≈ m²/2⁶¹ for m distinct
    // shingles, still ~1e-5 at 10¹¹ shingles.
    val shArr = docs
      .select(
        col(idCol).as("id"),
        array_distinct(transform(wordShingles(col(textCol), n), s =>
          org.apache.spark.sql.graft.VectorExpressions.md5Prefix60(s)))
          .as("sh"))
    val cached = graft.core.Caches.cache(shArr) // used 2×: postings, verify
    // dfreq comes FROM the postings table (size of each posting list)
    // instead of a separate count-agg + freq-attach join — one fewer
    // full-table shuffle. Skew note as in ngramJaccardPairs: a
    // corpus-wide stop-shingle makes one posting row wide; unlike the
    // pair-enumeration there, this list only re-explodes to (id, fp)
    // rows, so a hot shingle costs O(f) rows, never O(f²).
    val postings = cached
      .select(explode(col("sh")).as("fp"), col("id"))
      .groupBy(col("fp"))
      .agg(collect_list(col("id")).as("ids"))
    // per-doc fingerprints ordered by (dfreq, fp); prefix = L − ⌈τL⌉ + 1
    val ordered = postings
      .select(col("fp"), size(col("ids")).cast("long").as("dfreq"), explode(col("ids")).as("id"))
      .groupBy(col("id"))
      .agg(
        sort_array(collect_list(struct(col("dfreq"), col("fp")))).as("ordered"),
        count(lit(1)).as("sz"))
    val prefLen =
      (col("sz") - floor((col("sz") * minJaccardPpm + 999999L) / 1000000L) + 1L).cast("int")
    val prefix = ordered
      .select(col("id"), explode(slice(col("ordered"), lit(1), prefLen)).as("t"))
      .select(col("id"), col("t.fp").as("fp"))
    val cand = prefix
      .as("a")
      .join(prefix.as("b"), col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(cached.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(cached.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter_count"),
        (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("sz_sum"))
      .withColumn("union_count", col("sz_sum") - col("inter_count"))
      .withColumn("jaccard_ppm", floor(col("inter_count") * 1000000L / col("union_count")))
      .filter(col("jaccard_ppm") >= minJaccardPpm)
      .select("id_a", "id_b", "inter_count", "union_count", "jaccard_ppm")
  }

  /** Exact duplicated-SPAN detection: slide a `spanLen`-char window at
    * `stride` over every document, fingerprint each span (md5), and
    * flag spans whose fingerprint occurs ≥ 2 times in the corpus
    * (including within-doc repeats). The substring-level complement to
    * set-based near-dup — the op behind exact substring dedup /
    * decontamination of training corpora (long verbatim repeats
    * survive shingle-set Jaccard but not this).
    *
    * Scale shape: spans ≈ (corpus chars / stride) rows — line-rate.
    * One exchange keyed by fingerprint for the occurrence count (a
    * count-only window, so a corpus-wide boilerplate span costs O(f)
    * rows in one partition, no pair blowup), then one hash agg back to
    * doc_id. Returns (doc_id, n_spans, n_dup_spans, dup_ppm) for every
    * doc with at least one full window.
    */
  def duplicatedSpans(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      spanLen: Int,
      stride: Int): DataFrame = {
    val spans = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .filter(length(col("text")) >= spanLen)
      .select(
        col("doc_id"),
        col("text"),
        explode(sequence(
          lit(0L),
          expr(s"(length(text) - $spanLen) div $stride").cast("long")))
          .as("i"))
      .select(
        col("doc_id"),
        md5(col("text").substr(
          (col("i") * stride + 1).cast("int"), lit(spanLen))).as("fp"))
    val counted = spans.withColumn(
      "occ",
      count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
    counted
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(
        col("doc_id"),
        col("n_spans"),
        col("n_dup_spans"),
        expr("n_dup_spans * 1000000 div n_spans").as("dup_ppm"))
  }

  /** Exact substring dedup at ARBITRARY length and alignment: the
    * maximal character ranges of each document that appear (≥ minLen
    * chars, verbatim) at least twice in the corpus — the training-data
    * curation primitive behind "cut every repeated passage", which
    * [[duplicatedSpans]]' fixed 64-char/32-stride windows approximate
    * but miss for shorter-than-window or misaligned repeats.
    *
    * Suffix-array-free exactness: a repeat of length M ≥ minLen exists
    * at position i iff at least one of its stride-1 minLen-windows is
    * duplicated corpus-wide, and the union of those windows covers the
    * full M characters. So: fingerprint EVERY minLen-window (stride 1),
    * count occurrences per fingerprint (the count-only window — a
    * corpus-wide boilerplate fp costs O(f) rows in one partition, never
    * O(f²) pairs), keep positions with occ ≥ 2, and merge per doc into
    * maximal ranges (gaps-and-islands: equal-length intervals sorted by
    * start merge while start − prev_start ≤ minLen). Same result set as
    * an LCP-array sweep over a corpus suffix array, via two hash
    * exchanges (fp, then doc) instead of a distributed sort.
    *
    * Scale shape: positions ≈ corpus chars, each shuffled once as a
    * ~32-byte (doc, pos, fp16) row. The md5-per-window scan is O(L)
    * work per position — at petabyte scale swap the scan-side
    * fingerprint for an O(1)-per-position polynomial rolling hash (the
    * contract here keeps md5 because the DuckDB oracle reproduces it
    * bit-for-bit; the plan shape is identical).
    *
    * Returns (doc_id, start_pos, end_pos, rep_len): 0-based [start,
    * end) character ranges, ordered, one row per maximal range.
    */
  def maximalRepeatRanges(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      minLen: Int): DataFrame = {
    val pos = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .filter(length(col("text")) >= minLen)
      .select(
        col("doc_id"),
        col("text"),
        explode(sequence(lit(0L), (length(col("text")) - minLen).cast("long"))).as("i"))
      .select(
        col("doc_id"),
        col("i"),
        // 60-bit integer fingerprint (15 hex chars of the md5 — the
        // q121 hex-cast pattern, bit-identical in DuckDB): an 8-byte
        // shuffle key instead of a 16-char string, ~35% less q128
        // shuffle; collisions (≈ m²/2^61 corpus-wide) can only ADD a
        // spurious duplicate range, same accepted class as the 16-hex
        // keys elsewhere
        org.apache.spark.sql.graft.VectorExpressions.md5Prefix60(
          col("text").substr((col("i") + 1).cast("int"), lit(minLen))).as("fp"))
    mergeDupPositions(pos, minLen)
  }

  /** [[maximalRepeatRanges]] with the 100 TB knob (the q279/q297
    * sampled-audit treatment): `sampleMod` > 1 restricts the corpus to
    * the deterministic md5 doc sample `md5(doc_id) % sampleMod = 0`
    * BEFORE the stride-1 position scan, and computes the EXACT repeat
    * ranges of that induced sub-corpus — positions (and both hash
    * exchanges, the suite's top shuffle at mod=1) scale by 1/mod.
    * Ranges are exact FOR THE SAMPLE: a cross-doc repeat surfaces iff
    * a witness occurrence is co-sampled, so per-doc repeat-burden
    * aggregates over the sample are slight UNDERestimates of the
    * full-corpus burden (sampling can only lose witnesses, never
    * invent ranges) — the conservative direction for a duplication
    * audit. SampledAuditSpec pins the estimator band at test scale;
    * the contract rows (q128/q179) keep sampleMod = 1 (exact,
    * oracle-hashed).
    */
  def maximalRepeatRangesAudit(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      minLen: Int,
      sampleMod: Long): DataFrame = {
    val sampled =
      if (sampleMod <= 1L) docs
      else docs.filter(
        shiftright(org.apache.spark.sql.graft.VectorExpressions.md5Prefix60(col(idCol).cast("string")), 28) % sampleMod === 0)
    maximalRepeatRanges(sampled, textCol, idCol, minLen)
  }

  /** [[maximalRepeatRanges]] with the O(1)-per-position rolling-hash
    * scan (`rolling_window_fps`, one fused pass per doc) instead of the
    * O(minLen) md5-per-window scan — the petabyte path, same plan shape
    * and, collision risk aside (≈ m²/2^65, can only add a spurious
    * range), the SAME output ranges: the merge depends only on window
    * EQUALITY, not on which fingerprint family witnessed it
    * (DedupSpec pins path equality on the fixture corpus). Offsets are
    * BYTE offsets — identical to character offsets on ASCII corpora;
    * not oracle-checked because DuckDB cannot reproduce the rolled
    * 64-bit arithmetic.
    */
  def maximalRepeatRangesRolling(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      minLen: Int): DataFrame = {
    val pos = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .filter(length(col("text")) >= minLen)
      .select(
        col("doc_id"),
        posexplode(
          org.apache.spark.sql.graft.RollingWindowFps(col("text"), minLen))
          .as(Seq("i", "fp")))
    mergeDupPositions(pos, minLen)
  }

  /** Per-document longest-repeated-substring stats (q314) — arbitrary
    * length and alignment, the suffix-automaton closure of the
    * substring-dedup family: the window operators ([[duplicatedSpans]]
    * ≥64, [[maximalRepeatRanges]] at its q128/q179 ≥48/≥16 floors)
    * provably miss any repeat SHORTER than their window, and report
    * coverage ranges rather than an exact repeat length. One
    * suffix-automaton pass per row ([[org.apache.spark.sql.graft
    * .LongestRepeat]], O(n·log σ), code-point offsets), entirely
    * scan-side — a per-document statistic never leaves the row (the
    * RepetitionStats rule), vs the relational window ladder's
    * Θ(n·maxLen) corpus blowup.
    *
    * `cap` bounds the REPORTED length (`least(lrs, cap)`): the
    * downward-closed "some L-window repeats" property makes the capped
    * value oracle-checkable as COUNT(DISTINCT dup'd L ≤ cap), a
    * window-ladder formulation DuckDB can afford exactly because the
    * cap bounds it. Output: (doc_id, doc_len, lrs_len).
    */
  def longestRepeatStats(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      cap: Int): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      length(col(textCol)).cast("long").as("doc_len"),
      // least() SKIPS nulls, so least(kernel(null), cap) would report
      // cap for a NULL text while the oracle's window ladder finds no
      // duplicated window and reports 0 — guard the null case explicitly
      when(col(textCol).isNull, lit(0L))
        .otherwise(least(
          org.apache.spark.sql.graft.LongestRepeat(col(textCol)),
          lit(cap.toLong)).cast("long")).as("lrs_len"))

  /** Content-defined chunking (CDC): split each document at positions
    * where the fingerprint of the `window`-char run ENDING there is
    * ≡ 0 (mod `divisor`) — boundaries are a function of local CONTENT,
    * not offsets, so inserting one char early in a document shifts at
    * most the chunk containing the edit while byte-offset chunking
    * (q50) shifts every subsequent chunk. This is the rsync/LBFS
    * primitive that makes chunk-level dedup robust to edits; expected
    * chunk length ≈ `divisor` + `window`.
    *
    * Cut rule, exactly: a boundary at offset b ∈ [window, len) iff
    * fp(text[b−window, b)) % divisor == 0, where fp is the 60-bit md5
    * window fingerprint shared with [[maximalRepeatRanges]] (the
    * DuckDB-reproducible contract; swap in the rolling-hash kernel at
    * petabyte scale — identical plan shape). Chunks are the intervals
    * between consecutive boundaries plus the tail to len; a document
    * with no qualifying position is one chunk.
    *
    * Shape: one stride-1 fingerprint scan (positions ≈ corpus chars,
    * filtered to ~1/divisor on the map side before any exchange), then
    * ONE doc-partitioned window pass (lag + row_number — never an
    * unpartitioned window) and a row-local chunk re-hash. Returns
    * (doc_id, chunk_idx, start_pos, end_pos, chunk_len, chunk_fp),
    * 0-based [start, end) offsets.
    */
  def cdcChunks(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      window: Int,
      divisor: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(
      col(idCol).as("doc_id"), col(textCol).as("text"),
      length(col(textCol)).cast("long").as("len"))
    val cuts = base
      .filter(col("len") > window)
      .select(
        col("doc_id"), col("text"),
        explode(sequence(lit(0L), col("len") - window - 1)).as("i"))
      .filter(
        org.apache.spark.sql.graft.VectorExpressions.md5Prefix60(
          col("text").substr((col("i") + 1).cast("int"), lit(window))) % divisor === 0)
      .select(col("doc_id"), col("text"), (col("i") + window).as("b"))
    val bounds = cuts.unionByName(
      base.select(col("doc_id"), col("text"), col("len").as("b")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("b"))
    bounds
      .withColumn("start_pos", coalesce(lag(col("b"), 1).over(w), lit(0L)))
      .withColumn("chunk_idx", (row_number().over(w) - 1).cast("long"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        col("start_pos"),
        col("b").as("end_pos"),
        (col("b") - col("start_pos")).as("chunk_len"),
        org.apache.spark.sql.graft.VectorExpressions.md5Prefix60(
          col("text").substr(
            (col("start_pos") + 1).cast("int"),
            (col("b") - col("start_pos")).cast("int"))).as("chunk_fp"))
  }

  /** Shared tail of the substring-dedup paths: corpus-wide occurrence
    * count per fingerprint (count-only window — a hot span costs O(f)
    * rows, never pairs), then per-doc gaps-and-islands merge of the
    * occ ≥ 2 positions into maximal [start, end) ranges.
    */
  private def mergeDupPositions(pos: DataFrame, minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dup = pos
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("occ") >= 2)
      .select(col("doc_id"), col("i").cast("long").as("i"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    dup
      .withColumn("brk",
        when(col("i") - lag(col("i"), 1).over(w) > minLen, 1L).otherwise(0L))
      .withColumn("grp",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("i")).as("start_pos"), (max(col("i")) + minLen).as("end_pos"))
      .select(
        col("doc_id"),
        col("start_pos"),
        col("end_pos"),
        (col("end_pos") - col("start_pos")).as("rep_len"))
      .orderBy(col("doc_id"), col("start_pos"))
  }

  /** Asymmetric CONTAINMENT similarity: C(A→B) = |A∩B| / |A| over
    * n-gram shingle sets. Jaccard misses quote-inclusion — a short doc
    * fully embedded in a long one has tiny Jaccard but containment 1.0;
    * this is the dedup signal for "B wraps A in boilerplate" and for
    * quotation/aggregator detection in training corpora.
    *
    * Returns every ORDERED pair (id, contained_in) with
    * containment_ppm ≥ `minContainPpm` and |A| ≥ `minShingles` (tiny
    * shingle sets make containment meaningless). Output columns:
    * (id, contained_in, inter_count, n_id, containment_ppm).
    *
    * Scale shape: identical to [[ngramJaccardPairs]] — ONE postings
    * exchange (each shared shingle contributes one canonical a<b pair
    * row), one pair-count agg, then two catalog-sized size-attach
    * joins; the two directions are emitted row-locally from the
    * canonical pair, so asymmetry costs nothing. Same stop-shingle
    * skew note as Jaccard: posting lists are f²-pair generators — cap
    * upstream for boilerplate-heavy corpora when exactness isn't
    * contractual.
    */
  def containmentPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      minContainPpm: Long,
      minShingles: Long = 5L): DataFrame = {
    val shArr = docs
      .select(col(idCol).as("id"), array_distinct(wordShingles(col(textCol), n)).as("__sh"))
    val sizes = shArr.select(col("id"), size(col("__sh")).cast("long").as("n"))
    val post = shArr
      .select(explode(col("__sh")).as("shingle"), col("id"))
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val inter = post
      .select(org.apache.spark.sql.graft.VectorExpressions
        .sortedPairsExplode(col("ids")).as(Seq("id_a", "id_b")))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter_count"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
    // both directions from the canonical pair, row-locally
    inter
      .select(
        explode(
          array(
            struct(
              col("id_a").as("id"), col("id_b").as("contained_in"),
              col("inter_count"), col("n_a").as("n_id")),
            struct(
              col("id_b").as("id"), col("id_a").as("contained_in"),
              col("inter_count"), col("n_b").as("n_id")))).as("d"))
      .select(col("d.*"))
      .filter(col("n_id") >= minShingles)
      .withColumn("containment_ppm", floor(col("inter_count") * 1000000L / col("n_id")))
      .filter(col("containment_ppm") >= minContainPpm)
      .select("id", "contained_in", "inter_count", "n_id", "containment_ppm")
  }

  /** Row-local distinct selected fingerprint SET per doc (no
    * positions): (id, fps array<long>). Winnowing selection
    * (Schleimer–Wilkerson–Aiken, the MOSS algorithm): hash every
    * positional word `n`-shingle to a 60-bit integer, slide a
    * `w`-window over the hash sequence and keep each window's minimum,
    * so any shared run of ≥ w+n−1 words between two docs shares ≥ 1
    * selected fingerprint while only ~2/(w+1) of positions are kept.
    * The distinct happens inside the row, so downstream postings need
    * no corpus-wide DISTINCT exchange. Native one-pass kernel
    * (WinnowedFps scaladoc: the composed-HOF form re-evaluated per
    * postings-explode output element — 14×).
    */
  private def winnowedFpSets(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      w: Int): DataFrame =
    docs.select(
      col(idCol).as("id"),
      org.apache.spark.sql.graft.WinnowedFps(wordShingles(col(textCol), n), w).as("fps"))

  /** Winnowing overlap matrix: doc pairs ranked by the number of
    * DISTINCT shared selected fingerprints — the MOSS similarity
    * report. Postings-shaped like [[ngramJaccardPairs]] (one exchange
    * keyed by fp; each shared fp emits its canonical pairs from a
    * sorted posting list), so cost is line-rate in selected
    * fingerprints — which winnowing already thinned to ~2/(w+1) of
    * shingle positions; the fingerprint table a full-content postings
    * join would shuffle is ~(w+1)/2× larger.
    */
  def winnowingOverlapPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      w: Int,
      minShared: Long): DataFrame = {
    val post = winnowedFpSets(docs, textCol, idCol, n, w)
      .select(explode(col("fps")).as("fp"), col("id"))
      .groupBy(col("fp"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    post
      .select(org.apache.spark.sql.graft.VectorExpressions
        .sortedPairsExplode(col("ids")).as(Seq("id_a", "id_b")))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }
}
