package graft.queries

import graft.core.Tables
import graft.dedup.{Dedup, MinHashSketch}
import graft.functions.{TextFunctions => TF, TextRanking}
import graft.multimodal.Multimodal
import graft.pipeline.{Embeddings, Pipeline}
import graft.similarity.Similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline queries: dedup (exact / n-gram Jaccard /
  * MinHash-LSH / SimHash), similarity search, text analysis,
  * multimodal plumbing, Word2Vec.
  */
object TextQueries {

  /** Marker-word lists for the heuristic language ID. The synthetic
    * corpus is a closed vocabulary, so markers are drawn from it; what
    * matters is the deterministic argmax, mirrored in the oracle.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "de" -> Seq("table", "row"),
    "fr" -> Seq("fast", "slow"),
    "es" -> Seq("value", "key"),
    "zh" -> Seq("scan", "batch"))

  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup
      .exact(Tables.documents(s, d), "text", "doc_id")

  /** Top-50 most similar doc pairs by exact 4-gram Jaccard. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup
      .ngramJaccardPairs(Tables.documents(s, d), "text", "doc_id", n = 4, minJaccardPpm = 0L)
      .orderBy(col("jaccard_ppm").desc, col("id_a"), col("id_b"))
      .limit(50)

  /** MinHash signatures → LSH band keys per doc (8 hashes, 4 bands).
    * Row-local signature computation: zero shuffles before banding.
    */
  def minhashBands(s: SparkSession, d: String): DataFrame =
    Dedup
      .lshBands(
        Dedup.minhashSignaturesInline(Tables.documents(s, d), "text", "doc_id",
          n = 3, numHashes = 8),
        bands = 4, rowsPerBand = 2)
      .withColumnRenamed("id", "doc_id")
      .withColumn("band_idx", col("band_idx").cast("long"))

  /** SimHash32 fingerprints per doc. */
  def simhash(s: SparkSession, d: String): DataFrame =
    Dedup
      .simhash32(Tables.documents(s, d), "text", "doc_id")
      .withColumnRenamed("id", "doc_id")

  /** Brute-force cosine top-5 neighbors for query vectors vec_id<8. */
  def knnCosine(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity
      .bruteForceTopK(emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", k = 5)
      .select(
        col("query_id"),
        col("neighbor_id"),
        col("cosine_sim"),
        col("rn").cast("long").as("rn"))
  }

  /** LSH-bucketed ANN (scale path) — deterministic md5-derived
    * hyperplanes; oracle replicates the buckets with literal plane
    * vectors.
    */
  def knnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // 8 tables × 3 planes + 2 Hamming-1 probe bits: recall@5 0.997
    // measured vs brute force on the sf0.001 fixture (0.884 without
    // probes, 0.41 at 4×4 — ProbeLsh sweep, DESIGN.md "Observability &
    // measured index quality", `git show 519ff36:src/main/scala/graft/ProbeLsh.scala`;
    // probing beats adding tables at the same index size).
    // SimilaritySpec pins the floors.
    Similarity
      .lshBucketedTopK(
        emb.filter(col("vec_id") < 64), emb, "vec_id", "embedding",
        k = 5, planes = 3, dim = 64, tables = 8, probeBits = 2)
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"))
  }

  /** Embedding-cosine near-dup pairs (vec_id < 300). Threshold 0.4 is
    * calibrated to the synthetic corpus (max pairwise cosine ≈ 0.51) so
    * the oracle checks a real pair set, not a vacuous empty one.
    */
  def embeddingNearDup(s: SparkSession, d: String): DataFrame =
    Dedup
      .embeddingNearDupPairs(
        Tables.embeddings(s, d).filter(col("vec_id") < 300),
        "vec_id", "embedding", minCosine = 0.4)

  /** IVF coarse-quantized ANN — the deterministic quantizer variant
    * (md5-rank seeds + one exact-integer Lloyd step), bit-identical
    * across engines and therefore oracle-checkable.
    */
  def knnIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // 16 cells, 6 probes, 2-cell spill lists: recall@5 0.88 measured
    // (8/2/1 was 0.50) — SimilaritySpec pins the 0.7 floor
    Similarity
      .ivfTopKDeterministic(
        emb.filter(col("vec_id") < 64), emb, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 6, nAssign = 2)
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"))
  }

  /** Fixed-round integer k-means over the embedding corpus (q313):
    * 8 md5-seeded centroids, 3 exact-integer Lloyd rounds — one
    * corpus scan per round, centroids re-entering as driver-literal
    * kernel arguments (zero-exchange assignment). Output grain
    * (cid, pos): every final centroid component plus member counts,
    * so the oracle hash checks the whole iteration bit-for-bit.
    */
  def kmeansClusters(s: SparkSession, d: String): DataFrame =
    Similarity.kMeansDeterministic(
      Tables.embeddings(s, d), "vec_id", "embedding",
      nCentroids = 8, rounds = 3)

  /** Product-quantization ANN (q155): 16 subspaces × 32 cells compress
    * each 64-dim vector to 16 codes (~10 bytes vs 256 — the index that
    * still fits in memory at corpus sizes where full vectors don't);
    * ADC scans the codes, exact cosine reranks the top 32. recall@5
    * 0.93 measured vs brute force (ProbePq sweep; 8×16 was 0.53 —
    * DESIGN.md "Observability & measured index quality",
    * `git show 519ff36:src/main/scala/graft/ProbePq.scala`).
    * Deterministic (md5 seeds + exact-integer Lloyd + integer ADC
    * gather) ⇒ oracle-checkable like q41.
    */
  def knnPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity
      .pqTopK(
        emb.filter(col("vec_id") < 64), emb, "vec_id", "embedding",
        k = 5, m = 16, ksub = 32, rerank = 32)
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"))
  }

  /** IVFPQ ANN (q160): IVF cell pruning (16 cells, 6 probes, 3-cell
    * spill lists) over a PQ code scan (16×32, ~10-byte codes + exact
    * norm — no vectors in the scanned index), exact-cosine rerank of
    * the top 32. recall@5 0.88 measured (ProbePq, cited above). The
    * layout that holds at 100 TB: the scan is probe-cell-bounded AND
    * reads codes only.
    */
  def knnIvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity
      .ivfPqTopK(
        emb.filter(col("vec_id") < 64), emb, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 6, m = 16, ksub = 32,
        rerank = 32, nAssign = 3)
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"))
  }

  /** LSH-blocked embedding near-dup (scale path; deterministic
    * buckets ⇒ oracle-checkable).
    */
  def embeddingNearDupLsh(s: SparkSession, d: String): DataFrame =
    Dedup
      .embeddingNearDupLsh(
        Tables.embeddings(s, d), "vec_id", "embedding",
        minCosine = 0.4, planes = 6, dim = 64)

  /** End-to-end near-dup dedup: LSH blocking → Jaccard verify →
    * transitive components → survivors. Every stage is md5/integer
    * deterministic; the oracle mirrors it down to a recursive-CTE
    * connected components.
    */
  def nearDupDedup(s: SparkSession, d: String): DataFrame =
    Dedup
      .nearDupDedup(Tables.documents(s, d), "text", "doc_id",
        shingleN = 4, numHashes = 16, bands = 4, minJaccardPpm = 500000L)

  def langId(s: SparkSession, d: String): DataFrame =
    Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        TF.langId(col("text"), langMarkers, "und").as("pred_lang"),
        TF.langScore(col("text"), langMarkers.head._2).as("en_score"))

  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "and", "of")
    Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"),
        TF.punctCount(col("text")).as("n_punct"),
        TF.meanTokenLenMilli(col("text")).as("mean_token_len_milli"),
        TF.langScore(col("text"), stop).as("n_stopwords"),
        floor(TF.langScore(col("text"), stop) * 1000000L / TF.tokenCount(col("text")))
          .cast("long").as("stopword_ppm"))
  }

  def tokenStats(s: SparkSession, d: String): DataFrame =
    Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).cast("long")
          .as("n_alpha_tokens"),
        TF.bpeishTokenCount(col("text")).as("n_bpeish_tokens"),
        size(array_distinct(TF.tokens(col("text")))).cast("long").as("n_distinct_tokens"))

  def fingerprints(s: SparkSession, d: String): DataFrame =
    Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        TF.fingerprint(col("text")).as("fp"),
        TF.fingerprint32(col("text")).as("fp32"))

  /** Word2Vec vocabulary on per-session category sequences. The
    * VECTORS are seeded but thread-nondeterministic (SURVEY.md §7,
    * invariants in Word2VecSpec); the VOCABULARY — words with corpus
    * count ≥ minCount — is exact, so this query exposes the checkable
    * part and the oracle recomputes it relationally.
    */
  def word2vecVocab(s: SparkSession, d: String): DataFrame = {
    val seqs = Embeddings.sessionSequences(
      Pipeline.enrichedEvents(s, d), "category_id")
    Embeddings
      .trainWord2Vec(seqs)
      .select(col("word").cast("long").as("category_id"), lit(16L).as("dims"))
      .orderBy(col("category_id"))
  }

  /** Benchmark decontamination: train docs (doc_id % 7 ≠ 3) sharing
    * any 8-gram with the held-out benchmark stratum (doc_id % 7 = 3).
    */
  def contamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup
      .contamination(
        docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3L),
        docs.filter(pmod(col("doc_id"), lit(7L)) === 3L),
        "text", "doc_id", n = 8)
      .withColumnRenamed("id", "doc_id")
  }

  /** Bloom-prefiltered decontamination — the retained (clean) training
    * set under the same strata as q48: the bloom sketch replaces
    * broadcasting the benchmark shingle strings, the exact verify join
    * removes its false positives, so the output equals a plain
    * anti-join (which is what the oracle computes).
    */
  def bloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup
      .decontaminateBloom(
        docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3L),
        docs.filter(pmod(col("doc_id"), lit(7L)) === 3L),
        "text", "doc_id", n = 8)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** SimHash near-dup pairs (Hamming ≤ 3 via 4-band blocking — exact
    * recall, see Dedup.simhashNearDupPairs; oracle brute-forces the
    * identical pair set).
    */
  def simhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup
      .simhashNearDupPairs(Tables.documents(s, d), "text", "doc_id", maxHamming = 3)

  /** TF-IDF top-5 terms per document (micro-quantized scores; see
    * TextRanking determinism note).
    */
  def tfidfTopTerms(s: SparkSession, d: String): DataFrame =
    TextRanking
      .tfidfTopTerms(Tables.documents(s, d), "text", "doc_id", k = 5)

  /** BM25 relevance of every document against a fixed query term set
    * drawn from the corpus vocabulary.
    */
  def bm25(s: SparkSession, d: String): DataFrame =
    TextRanking
      .bm25Scores(Tables.documents(s, d), "text", "doc_id",
        queryTerms = Seq("table", "scan", "fast", "key"))

  /** Mergeable MinHash sketch (typed Aggregator UDAF): per doc-id
    * stratum, the element-wise-min merge of per-doc signatures — equal
    * by construction to the sketch of the stratum's unioned shingle
    * set, which is exactly what the oracle recomputes relationally.
    */
  def sketchUnion(s: SparkSession, d: String): DataFrame = {
    val sigs = Dedup
      .minhashSignaturesInline(Tables.documents(s, d), "text", "doc_id", n = 3, numHashes = 8)
      .withColumn("grp", pmod(col("id"), lit(10L)))
    val merged = sigs
      .groupBy(col("grp"))
      .agg(MinHashSketch.merge(8)(col("sig")).as("sketch"))
    merged
      .select(
        col("grp") +: (0 until 8).map(i => element_at(col("sketch"), i + 1).as(s"h$i")): _*)
      .orderBy(col("grp"))
  }

  /** Unigram-LM surprisal (perplexity-filter primitive). */
  def surprisal(s: SparkSession, d: String): DataFrame =
    TextRanking
      .unigramSurprisal(Tables.documents(s, d), "text", "doc_id")

  /** Multimodal frame sampling: every 2nd 32-byte frame of each
    * payload, fingerprinted — oracles the mapPartitions slicing
    * (ASCII corpus ⇒ byte slices equal substring bytes).
    */
  def frameSample(s: SparkSession, d: String): DataFrame =
    Multimodal
      .sampleFrames(
        Multimodal.asMediaTable(Tables.documents(s, d), "doc_id", "text"),
        frameBytes = 32, stride = 2)
      .select(
        col("id").as("doc_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        length(col("frame")).cast("long").as("n_bytes"),
        md5(col("frame")).as("frame_md5"))

  /** Context-window chunking: every doc split into 16-token chunks. */
  def chunkDocs(s: SparkSession, d: String): DataFrame =
    graft.functions.Chunking
      .chunkDocs(Tables.documents(s, d), "text", "doc_id", chunkTokens = 16)

  /** Greedy sequence packing: docs sharded by doc_id % 8, packed into
    * 256-token bins by running-sum assignment.
    */
  def packDocs(s: SparkSession, d: String): DataFrame =
    graft.functions.Chunking
      .packGreedy(
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            pmod(col("doc_id"), lit(8L)).as("shard"),
            TF.tokenCount(col("text")).cast("long").as("n_tokens")),
        "shard", "doc_id", col("n_tokens"), capacity = 256L)
      .select(col("shard"), col("doc_id"), col("n_tokens"), col("bin_idx"))

  /** Multimodal plumbing: binary payload → stub feature extraction.
    * The decode is a documented deterministic fake (byte-histogram
    * moments, Multimodal.decodeStub), so the oracle can recompute it:
    * `f0_count` un-normalizes features[0] back to the exact histogram
    * count (float32 round-trip is exact for counts < 2^24), keeping the
    * comparison integer-exact.
    */
  def multimodalFeatures(s: SparkSession, d: String): DataFrame =
    Multimodal
      .extractFeatures(
        Multimodal.asMediaTable(Tables.documents(s, d), "doc_id", "text"))
      .select(
        col("id").as("doc_id"),
        col("meta.n_bytes").as("n_bytes"),
        size(col("features")).cast("long").as("n_dims"),
        round(element_at(col("features"), 1).cast("double") * col("meta.n_bytes"))
          .cast("long").as("f0_count"))

  /** Tokenizer-prep vocabulary: global word-bigram counts, top 200 by
    * (count DESC, bigram ASC — deterministic cut). Word-count shape:
    * the explode fans out executor-side, partial counts combine
    * map-side, and only the merged (bigram, count) table crosses the
    * wire into a TakeOrderedAndProject — no global sort of the corpus.
    */
  def bigramVocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(graft.functions.TextFunctions.wordShingles(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram").asc)
      .limit(200)

  /** Per-label exact-integer embedding centroids (nearest-class-mean /
    * drift-monitoring primitive; same quantized Lloyd-step arithmetic
    * as q41's IVF, so the oracle replicates it bit-for-bit). The
    * centroid vector is serialized to a comma-joined string at the
    * contract boundary — the array itself is the library's return type
    * ([[graft.similarity.Similarity.labelCentroids]]), but the oracle
    * compare hashes scalar cells only.
    */
  def labelCentroids(s: SparkSession, d: String): DataFrame =
    graft.similarity.Similarity
      .labelCentroids(Tables.embeddings(s, d), "label", "embedding")
      .select(
        col("label"),
        array_join(col("centroid"), ",").as("centroid"),
        col("n_vectors"))
      .orderBy(col("label"))

  /** Gopher-style repetition quality signals (the LLM-corpus filter
    * family next to q33's surface stats): duplicate-token fraction and
    * most-frequent-bigram fraction per doc, as exact integer
    * micro-ratios (`x * 1e6 div denom` — no float division, so the
    * oracle matches bit-for-bit). Docs with < 2 tokens are excluded
    * (no bigram denominator).
    */
  def repetitionScore(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      // inline(array(struct)) is a generator: the one-pass expression
      // runs exactly once per row, and neither the filter pushdown nor
      // project collapsing can inline a second copy per field
      // reference (PlanSpec pins evals == 1 — the naive
      // select-struct-then-field form evaluated it 3x per row)
      .select(col("doc_id"), inline(array(TF.repetitionStats(col("text"), 2))))
      .filter(col("n_tokens") >= 2)
      .select(
        col("doc_id"),
        col("n_tokens"),
        expr("(n_tokens - n_distinct_tokens) * 1000000 div n_tokens")
          .as("dup_token_micro"),
        expr("top_ngram_count * 1000000 div (n_tokens - 1)").as("top_bigram_micro"))

  /** PMI collocations over the document corpus (ln micro-quantized;
    * the oracle replicates the integer pipeline bit-for-bit).
    */
  def pmiPairs(s: SparkSession, d: String): DataFrame =
    TextRanking
      .pmiPairs(Tables.documents(s, d), "text", "doc_id", minCoDocs = 5L)

  /** Hard-negative mining for contrastive/metric training: per query
    * vector (vec_id < 32), the top-5 most-cosine-similar corpus vectors
    * with a DIFFERENT label — the "looks like a positive but isn't"
    * examples a triplet/InfoNCE loss needs. Composition of the
    * quantized-integer cosine kernel and the top-k window with a label
    * anti-filter; brute force here, and at scale the filter composes
    * unchanged with the IVF/LSH candidate generators (filter the
    * candidate list, not the corpus).
    */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 32).select(
      col("vec_id").as("query_id"),
      Similarity.quantize(col("embedding")).as("q_emb"),
      col("label").as("q_label"))
    val c = emb.select(
      col("vec_id").as("neighbor_id"),
      Similarity.quantize(col("embedding")).as("c_emb"),
      col("label").as("c_label"))
    val scored = q.join(c, col("q_label") =!= col("c_label"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        Similarity.qcosine(
          Similarity.qdot(col("q_emb"), col("c_emb")),
          Similarity.qnorm2(col("q_emb")),
          Similarity.qnorm2(col("c_emb"))).as("cosine_sim"))
    graft.ops.Windows
      .topKPerGroup(scored, Seq("query_id"), col("cosine_sim"), Seq("neighbor_id"), k = 5)
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"))
  }

  /** Cohen's kappa of the heuristic language-ID against the gold
    * `lang` label — chance-corrected agreement, the honest version of
    * raw accuracy when the class balance is skewed (a classifier that
    * always predicts the majority language scores high accuracy and
    * kappa ≈ 0). Entirely integer from the confusion marginals:
    * `κ = (A·N − Σ_l row_l·col_l) / (N² − Σ_l row_l·col_l)`, emitted
    * in ppm via plain integer division: Spark's `div` and DuckDB's
    * integer `//` BOTH truncate toward zero (measured: −7//2 = −3 in
    * DuckDB), so a worse-than-chance negative κ matches exactly. (A
    * hand-rolled floor here would DIVERGE on negatives — the r07
    * sf0.001 fixture exercises that branch.)
    *
    * Scale: one corpus scan for predictions; marginals are
    * class-count-sized aggregates; the kappa arithmetic is one row.
    */
  def langIdKappa(s: SparkSession, d: String): DataFrame = {
    val preds = graft.core.Caches.cache(
      Tables.documents(s, d).select(
        col("lang"),
        TF.langId(col("text"), langMarkers, "und").as("pred_lang")))
    val t = preds.agg(
      count(lit(1)).as("n_docs"),
      graft.ops.Aggregates.countIf(col("lang") === col("pred_lang")).as("n_agree"))
    val rows = preds.groupBy(col("lang").as("lbl")).agg(count(lit(1)).as("rc"))
    val cols = preds.groupBy(col("pred_lang").as("lbl")).agg(count(lit(1)).as("cc"))
    val sm = rows.join(cols, Seq("lbl"))
      .agg(coalesce(sum(col("rc") * col("cc")), lit(0L)).as("marginal_product_sum"))
    t.crossJoin(broadcast(sm))
      .select(
        col("n_docs"),
        col("n_agree"),
        col("marginal_product_sum"),
        expr("""CAST((n_agree * n_docs - marginal_product_sum) * 1000000
               | div (n_docs * n_docs - marginal_product_sum) AS BIGINT)""".stripMargin)
          .as("kappa_ppm"))
  }

  /** Jensen–Shannon divergence of each source's unigram distribution
    * against the REST of the corpus — which sources are lexical
    * outliers (the per-source drift diagnostic behind mixture-weight
    * debugging; symmetric and bounded at ln 2, unlike KL). Terms with
    * corpus count < 5 are pruned (hapax noise); zero-count sides
    * contribute their exact `p·ln 2` branch. Per-(source, term)
    * contributions are quantized to NANO units before the exact long
    * sum (the suite's ln rule at a resolution fit for sub-ppm
    * divergences).
    *
    * Scale shape: two word-count aggregations (per-source and corpus
    * term counts), corpus totals broadcast back; the divergence sum is
    * a source-keyed aggregation over the vocabulary×sources table. No
    * pairwise source×source work — each source compares against the
    * complement, computed by subtraction from broadcast corpus totals.
    */
  def jsDivergence(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(
      col("source"),
      explode(TF.tokens(col("text"))).as("term"))
    val bySrc = toks.groupBy(col("source"), col("term")).agg(count(lit(1)).as("c_s"))
    val corpus = toks.groupBy(col("term")).agg(count(lit(1)).as("c_all"))
      .filter(col("c_all") >= 5)
    val srcTotals = toks.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val allTotal = toks.agg(count(lit(1)).as("n_all"))
    // full source×term grid (a source ABSENT from a term still owes its
    // q-branch); complement counts by subtraction from broadcast corpus
    // totals — no second scan, no source×source pairing
    val cells = corpus
      .crossJoin(broadcast(srcTotals))
      .join(bySrc, Seq("source", "term"), "left")
      .na.fill(0L, Seq("c_s"))
      .crossJoin(broadcast(allTotal))
      .select(
        col("source"), col("term"),
        col("c_s").cast("double").as("cs"),
        (col("c_all") - col("c_s")).cast("double").as("cr"),
        col("n_s").cast("double").as("ns"),
        (col("n_all") - col("n_s")).cast("double").as("nr"))
      .withColumn("p", col("cs") / col("ns"))
      .withColumn("q", col("cr") / col("nr"))
      .withColumn("m", (col("p") + col("q")) / lit(2.0))
      .withColumn(
        "contrib_nano",
        round((when(col("p") > 0, col("p") * log(col("p") / col("m"))).otherwise(lit(0.0)) +
          when(col("q") > 0, col("q") * log(col("q") / col("m"))).otherwise(lit(0.0))) *
          lit(500000000L)).cast("long"))
    cells
      .groupBy(col("source"))
      .agg(
        graft.ops.Aggregates.countIf(col("cs") > 0).as("n_terms"),
        sum(col("contrib_nano")).as("jsd_nano"))
      .orderBy(col("source"))
  }

  /** First 4 learned BPE merges over the corpus vocabulary — the
    * tokenizer-training primitive. See
    * [[graft.functions.Bpe.learnMerges]].
    */
  def bpeMerges(s: SparkSession, d: String): DataFrame =
    graft.functions.Bpe
      .learnMerges(Tables.documents(s, d), "text", rounds = 4)
      .orderBy(col("round"))

  /** χ²-discriminative terms per language: the classic feature-
    * selection statistic over the document-level term×class incidence
    * table — which words are most characteristic of each language
    * stratum (the corpus-diagnostic behind "did my lang-id leak" and
    * supervised vocabulary pruning). For each (term, lang) with
    * df ≥ 5: `χ² = N(ad−bc)² / ((a+b)(c+d)(a+c)(b+d))` on exact
    * counts; the squared numerator leaves long range (~3·10¹⁹ even at
    * 500 docs), so it's computed in DECIMAL(38,0) and only the final
    * integral-divided micro score is a BIGINT. Terms present in every
    * document are excluded (zero denominator, zero information). Top 5
    * per language, term tie-break. At extreme corpus scale the counts
    * themselves rescale to ppm before squaring — same statistic, same
    * ordering, bounded digits.
    *
    * Scale shape: explode + two word-count aggregations; class sizes
    * and the corpus total are broadcast 1-row/class-sized aggregates;
    * the χ² arithmetic is row-local over the vocabulary-sized
    * (term, lang) table.
    */
  def chi2Terms(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val incidence = docs.select(
      col("doc_id"), col("lang"),
      explode(array_distinct(TF.tokens(col("text")))).as("term"))
    val byLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val termLang = incidence.groupBy(col("term"), col("lang")).agg(count(lit(1)).as("a"))
    val termTotal = termLang.groupBy(col("term")).agg(sum(col("a")).as("df"))
      .filter(col("df") >= 5)
    val scored = termLang
      .join(termTotal, Seq("term"))
      .join(broadcast(byLang), Seq("lang"))
      .crossJoin(broadcast(n))
      .filter(col("df") < col("n_docs"))
      .withColumn("b", col("df") - col("a"))
      .withColumn("c", col("n_lang") - col("a"))
      .withColumn("dd", col("n_docs") - col("df") - col("c"))
      .withColumn("delta", expr("CAST(a AS DECIMAL(38,0)) * dd - CAST(b AS DECIMAL(38,0)) * c"))
      .withColumn(
        "chi2_micro",
        expr("""CAST((delta * delta * n_docs * 1000000) div
               |(CAST(df AS DECIMAL(38,0)) * (n_docs - df) * n_lang * (n_docs - n_lang))
               |AS BIGINT)""".stripMargin))
    graft.ops.Windows
      .topKPerGroup(scored, Seq("lang"), col("chi2_micro"), Seq("term"), k = 5)
      .select(col("lang"), col("term"), col("a").as("n_docs_in_lang"),
        col("df"), col("chi2_micro"), col("rn").cast("long").as("rn"))
      .orderBy(col("lang"), col("rn"))
  }

  /** SemDeDup over the embeddings table: within-cell cosine near-
    * coincidence under the deterministic 16-cell quantizer, first-wins
    * survivorship. See [[graft.similarity.Similarity.semanticDedup]].
    */
  def semanticDedup(s: SparkSession, d: String): DataFrame =
    Similarity
      .semanticDedup(
        Tables.embeddings(s, d), "vec_id", "embedding",
        nCentroids = 16, threshold = 0.4)

  /** DSIR data selection: top-50 documents by importance log-weight
    * toward the English-language target distribution — which crawl
    * docs "look most like" the target domain. See
    * [[graft.functions.TextRanking.dsirLogWeights]].
    */
  def dsirSelect(s: SparkSession, d: String): DataFrame =
    TextRanking
      .dsirLogWeights(Tables.documents(s, d), "text", "doc_id", col("lang") === "en")
      .orderBy(col("logweight_micro").desc, col("doc_id").asc)
      .limit(50)

  /** Incremental-ingest dedup: batch sources src0-2 against the rest
    * of the corpus as the already-seen index.
    */
  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isBatch = col("source").isin("src0", "src1", "src2")
    Dedup
      .incrementalNew(docs.filter(isBatch), docs.filter(!isBatch), "text", "doc_id")
  }

  /** Corpus-level 4-gram novelty / boilerplate share per document. */
  def noveltyScore(s: SparkSession, d: String): DataFrame =
    Dedup
      .noveltyScores(Tables.documents(s, d), "text", "doc_id", n = 4)

  /** Higher-order array-function battery over the tokenized docs:
    * filter (long tokens), aggregate (total token length), transform +
    * slice (first-3 tokens of the SORTED array — deterministic).
    */
  def arrayOps(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(filter(col("toks"), t => length(t) > 3)).cast("long").as("n_long_tokens"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t).cast("long"))
          .as("sum_token_len"),
        concat_ws("|", transform(slice(array_sort(col("toks")), 1, 3), t => upper(t)))
          .as("first3_sorted_upper"))

  /** Per-domain contribution cap over parse_url-extracted hosts (the
    * crawl-curation staple): synthesize each document's canonical URL
    * from its source/lang/id columns, parse host + query params back
    * out with codegen'd `parse_url`, and keep the top-5 docs per
    * registrable domain by length with a unique tie-break. The oracle
    * re-parses the same strings with regexes.
    */
  def urlDomainCap(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      col("doc_id"), col("n_chars"),
      concat(
        lit("https://www."), col("source"), lit("-site.com/"), col("lang"),
        lit("/doc-"), col("doc_id"),
        lit("?ref=r"), pmod(col("doc_id"), lit(5L)),
        lit("&page="), pmod(col("doc_id"), lit(3L))).as("url"))
    graft.functions.UrlFunctions
      .capPerDomain(docs, "url", col("n_chars"), "doc_id", k = 5)
      .select(
        col("doc_id"), col("host"), col("domain"),
        graft.functions.UrlFunctions.urlPath(col("url")).as("path"),
        graft.functions.UrlFunctions.urlQueryParam(col("url"), "ref").as("ref"),
        col("n_chars"), col("rn").cast("long").as("rn"))
  }

  /** Hashing-trick representation of the corpus vocabulary: 64
    * md5-derived signed buckets over whitespace tokens
    * ([[graft.ops.FeatureEng.featureHash]]).
    */
  def featureHashing(s: SparkSession, d: String): DataFrame =
    graft.ops.FeatureEng
      .featureHash(Tables.documents(s, d).select(col("text")), "text",
        nBuckets = 64)
      .orderBy(col("bucket"))

  /** Exact duplicated-span rates, 64-char windows at stride 32
    * ([[Dedup.duplicatedSpans]]).
    */
  def dupSpans(s: SparkSession, d: String): DataFrame =
    Dedup
      .duplicatedSpans(Tables.documents(s, d), "text", "doc_id",
        spanLen = 64, stride = 32)

  /** Survivorship-policy near-dup dedup ([[Dedup.bestOfCluster]]):
    * q42's clusters, but the survivor is the highest-stopword-ppm copy
    * (the q33 quality signal; tie → lowest id) — keep the BEST
    * duplicate, not an arbitrary one.
    */
  def bestOfClusterDedup(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "and", "of")
    val docs = Tables.documents(s, d).select(
      col("doc_id"),
      col("text"),
      floor(TF.langScore(col("text"), stop) * 1000000L / TF.tokenCount(col("text")))
        .cast("long").as("quality_ppm"))
    Dedup
      .bestOfCluster(docs, "text", "doc_id", "quality_ppm",
        shingleN = 4, numHashes = 16, bands = 4, minJaccardPpm = 500000L)
  }

  /** Per-source token-budget cap ([[graft.ops.Sampling
    * .tokenBudgetCap]]): each source keeps its longest documents
    * (doc_id tie-break) until 3 000 whitespace tokens — mixture
    * specification by token budget, the LLM-pipeline form of q77's
    * row-count domain cap.
    */
  def tokenBudget(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling
      .tokenBudgetCap(
        Tables.documents(s, d).select(
          col("doc_id"), col("source"),
          TF.tokenCount(col("text")).cast("long").as("n_tokens")),
        "source", col("n_tokens"), "doc_id", col("n_tokens"),
        budgetTokens = 3000L)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"), col("kept"))

  /** Token-weighted temperature-flattened source mixture
    * ([[graft.ops.Sampling.temperatureMixSqrt]], α = 0.5): big sources
    * sampled down toward the smallest's token mass, md5-stable rows.
    */
  def temperatureMix(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling
      .temperatureMixSqrt(
        Tables.documents(s, d).select(
          col("doc_id"), col("source"),
          TF.tokenCount(col("text")).cast("long").as("n_tokens")),
        "source", col("n_tokens"), "doc_id")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("keep_permille"))

  /** Leakage-free split ([[Dedup.leakageFreeSplit]]): q42's near-dup
    * components hashed to train/valid (20% valid) as WHOLE clusters —
    * no near-duplicate pair ever straddles the split.
    */
  def leakageSplit(s: SparkSession, d: String): DataFrame =
    Dedup
      .leakageFreeSplit(Tables.documents(s, d), "text", "doc_id",
        validPermille = 200, shingleN = 4, numHashes = 16, bands = 4,
        minJaccardPpm = 500000L)

  /** Maximal duplicated character ranges, exact at any length ≥ 48 and
    * any alignment ([[Dedup.maximalRepeatRanges]]) — the
    * arbitrary-length exact-substring complement to [[dupSpans]]'
    * fixed-window rates.
    */
  def substringRepeats(s: SparkSession, d: String): DataFrame =
    Dedup.maximalRepeatRanges(Tables.documents(s, d), "text", "doc_id",
      minLen = 48)

  /** [[substringRepeats]] at minLen = 16 — the short-repeat band
    * (16–47 chars) that q102's 64/32 fixed windows and q128's ≥ 48
    * floor both miss: short verbatim boilerplate (bylines, disclaimers,
    * navigation crumbs) that survives every longer-window pass. Same
    * stride-1 fingerprint machinery, ~1 position-row per corpus char
    * either way, so the band costs what q128 costs.
    */
  def shortRepeats(s: SparkSession, d: String): DataFrame =
    Dedup.maximalRepeatRanges(Tables.documents(s, d), "text", "doc_id",
      minLen = 16)

  /** Per-doc longest repeated substring (q314) — arbitrary length and
    * alignment via a row-local suffix automaton
    * ([[Dedup.longestRepeatStats]]): the exact repeat LENGTH the
    * fixed-floor window passes (q128 ≥48, q179 ≥16) cannot report,
    * capped at 48 for the oracle's window-ladder formulation.
    */
  def longestRepeat(s: SparkSession, d: String): DataFrame =
    Dedup.longestRepeatStats(Tables.documents(s, d), "text", "doc_id", cap = 48)

  /** Held-out bigram-LM surprisal (train even doc_ids, score odd —
    * [[TextRanking.bigramSurprisal]]).
    */
  def bigramSurprisalScores(s: SparkSession, d: String): DataFrame =
    TextRanking
      .bigramSurprisal(Tables.documents(s, d), "text", "doc_id")

  /** Vocabulary-growth curve (the Heaps'-law corpus diagnostic): for
    * each document in id order, the cumulative distinct-term count and
    * cumulative token count — how fast the vocabulary grows as the
    * corpus is consumed. Exact and shuffle-light: each term contributes
    * one first-occurrence row (min doc_id per term — a word-count-shaped
    * agg), per-doc new-term counts re-aggregate, and the global running
    * sums use [[graft.ops.Windows.shardedCumsum]] — no global window,
    * no sequential scan.
    */
  def vocabGrowth(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(
      col("doc_id"),
      explode(TF.tokens(col("text"))).as("term"))
    val firstSeen = toks
      .groupBy(col("term"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_new_terms"))
    val perDoc = docs
      .select(col("doc_id"), TF.tokenCount(col("text")).cast("long").as("n_tokens"))
      .join(firstSeen, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("n_new_terms"), lit(0L)).as("n_new_terms"))
    graft.ops.Windows
      .shardedCumsum(perDoc, "doc_id", Seq("n_tokens", "n_new_terms"),
        expr("doc_id div 1000"))
      .select(
        col("doc_id"),
        col("cum_n_tokens").as("cum_tokens"),
        col("cum_n_new_terms").as("cum_vocab"))
  }

  /** Cross-source duplication matrix: exact near-dup pairs (the q85
    * prefix-filter path, τ = 0.5 over 4-gram fingerprints) grouped by
    * canonicalized source pair — the curation diagnostic that shows
    * which corpus sources copy from each other (within-source rows are
    * the diagonal). Pair table joins two broadcastable doc→source
    * projections.
    */
  def crossSourceDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.jaccardPrefixFilterPairs(
      docs, "text", "doc_id", n = 4, minJaccardPpm = 500000L)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), Seq("id_b"))
      .select(
        least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_dup_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Quality-based survivor selection over the q42 near-dup clusters:
    * production dedup keeps the BEST document per duplicate cluster,
    * not the lowest id — here the longest (n_chars desc, doc_id asc
    * tie-break). Same verified LSH→Jaccard→connected-components
    * machinery; only the per-cluster argmax changes (a partitioned
    * rank over cluster-sized groups).
    */
  def qualitySurvivors(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    Dedup
      .nearDupDedup(docs, "text", "doc_id",
        shingleN = 4, numHashes = 16, bands = 4, minJaccardPpm = 500000L)
      .select(col("doc_id"), col("component"))
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .withColumn(
        "keep",
        row_number().over(
          Window.partitionBy(col("component"))
            .orderBy(col("n_chars").desc, col("doc_id").asc)) === 1)
      .select(col("doc_id"), col("component"), col("n_chars"), col("keep"))
  }

  /** Asymmetric containment dedup (quote-inclusion detection): ordered
    * doc pairs where ≥ 60% of the smaller side's 4-gram shingles
    * appear in the other doc — the near-dup class Jaccard structurally
    * misses (a tweet quoted inside an article has Jaccard ≈ 0 but
    * containment ≈ 1).
    */
  def containmentDedup(s: SparkSession, d: String): DataFrame =
    Dedup
      .containmentPairs(
        Tables.documents(s, d), "text", "doc_id",
        n = 4, minContainPpm = 600000L, minShingles = 5L)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("containment_ppm").desc, col("doc_id"), col("contained_in"))
      .limit(100)

  /** Winnowing (MOSS) fingerprint overlap: top doc pairs by DISTINCT
    * shared window-min fingerprints (3-gram shingles, window 4 — any
    * shared run of ≥ 6 words guarantees a shared fingerprint while
    * keeping only ~2/5 of positions).
    */
  def winnowingPairs(s: SparkSession, d: String): DataFrame =
    Dedup
      .winnowingOverlapPairs(
        Tables.documents(s, d), "text", "doc_id",
        n = 3, w = 4, minShared = 2L)
      .orderBy(col("shared_fps").desc, col("id_a"), col("id_b"))
      .limit(50)

  /** Johnson–Lindenstrauss ±1 random projection (q199) of the
    * embeddings table to 16 dimensions — the dim-reduction front end
    * for ANN at scale (project first, THEN index: q36's LSH and q41's
    * IVF both get cheaper per vector). Deterministic md5-parity sign
    * matrix, exact integer projections, serialized at the contract
    * boundary like q58's centroids
    * ([[graft.similarity.Similarity.randomProjection]]).
    */
  def randomProjection(s: SparkSession, d: String): DataFrame =
    Similarity
      .randomProjection(Tables.embeddings(s, d), "vec_id", "embedding", outDims = 16)
      .select(
        col("vec_id"),
        array_join(col("proj"), ",").as("proj"),
        col("norm2"))

  /** The three heuristic lang-id "raters" of the Fleiss κ query
    * (q194): rater 1 is the q32 marker map; raters 2 and 3 each see
    * only one marker per language (the first / the second), so they
    * genuinely disagree on documents where the halves of a marker
    * pair point different ways. Shared with the oracle so the rater
    * definitions cannot drift.
    */
  val raterMarkers: Seq[Seq[(String, Seq[String])]] = Seq(
    langMarkers,
    langMarkers.map { case (l, ms) => l -> ms.take(1) },
    langMarkers.map { case (l, ms) => l -> ms.drop(1) })

  /** Fleiss' κ (q194) across the three lang-id raters: chance-
    * corrected agreement for MORE than two raters — the labeling-
    * pipeline QA statistic q149's Cohen κ (two raters) cannot express.
    * All aggregates exact integers (Σ n_ij², Σ C_j², N); the κ chain
    * is the one shared template ([[graft.ops.Stats.fleissKappaSql]]).
    *
    * Shape: one pass over documents computing 3 predictions row-
    * locally, one (doc × category)-sized agg, two scalar aggs — no
    * joins on the fact side.
    */
  def fleissKappa(s: SparkSession, d: String): DataFrame = {
    // One projection evaluates every (rater, lang) marker score ONCE
    // per document, materialized before the explode. The previous
    // explode(array(3 × langId)) form hit the r10 generator rule:
    // InferFiltersFromGenerate's size/isnotnull guards rebuilt the
    // whole 3-langId battery up to 3× per row, and each langId itself
    // re-references its 5 langScore subtrees ~3× (greatest + the
    // when-chain) past codegen CSE — ~270 regex evaluations per row
    // where 20 suffice (measured 4.8 s → this form ~1 s at sf0.1).
    val scoreCols = raterMarkers.zipWithIndex.flatMap { case (rater, r) =>
      rater.zipWithIndex.map { case ((_, markers), i) =>
        TF.langScore(col("text"), markers).as(s"__s_${r}_$i")
      }
    }
    val scores = graft.core.Caches.materialized(
      Tables.documents(s, d).select(col("doc_id") +: scoreCols: _*))
    // identical argmax-first-wins tie logic as TF.langId, over the
    // materialized score COLUMNS (cheap to re-evaluate under guards)
    def rater(r: Int): Column = {
      val scored = raterMarkers(r).zipWithIndex.map { case ((lang, _), i) =>
        (lang, col(s"__s_${r}_$i"))
      }
      val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
      scored.foldRight(lit("und"): Column) { case ((lang, sc), acc) =>
        when(sc === best && best > 0, lit(lang)).otherwise(acc)
      }
    }
    val preds = scores.select(
      col("doc_id"),
      explode(array(raterMarkers.indices.map(rater): _*)).as("cat"))
    // feeds BOTH marginal aggregates (per-doc and the per-cat
    // broadcast) — cached or the scan replays per side
    val nij = graft.core.Caches.cache(
      preds.groupBy(col("doc_id"), col("cat")).agg(count(lit(1)).as("nij")))
    val perDoc = nij.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      sum(col("nij") * col("nij")).as("s2"))
    val perCat = nij
      .groupBy(col("cat")).agg(sum(col("nij")).as("cj"))
      .agg(sum(col("cj") * col("cj")).as("sc2"))
    perDoc.crossJoin(broadcast(perCat))
      .withColumn("kappa_micro", expr(graft.ops.Stats.fleissKappaSql(3)))
  }

  /** RAKE keyphrase extraction (q186): corpus top-25 stopword-bounded
    * phrases by the deg/freq co-occurrence score — the unsupervised
    * keyword miner next to q43's TF-IDF (TF-IDF ranks single terms by
    * rarity; RAKE surfaces multi-word phrases by how consistently
    * their words travel together). Same q33 stopword list; pure
    * integer scores ([[graft.functions.TextRanking.rakeKeyphrases]]).
    */
  def rakeKeyphrases(s: SparkSession, d: String): DataFrame =
    TextRanking.rakeKeyphrases(
      Tables.documents(s, d), "text", "doc_id",
      stopwords = Seq("the", "a", "and", "of"), maxPhraseLen = 4, k = 25)

  /** Content-defined chunking (q187): every document split at
    * content-determined boundaries (16-char window fp ≡ 0 mod 64 —
    * expected chunk ≈ 80 chars), each chunk re-fingerprinted, with the
    * corpus-wide occurrence count attached per chunk fingerprint (the
    * q128 count-only window) — the shift-robust chunk-level dedup
    * table: an edit early in a copied document leaves every chunk
    * after the edited one still matching, where q50's fixed-offset
    * chunks all shift ([[graft.dedup.Dedup.cdcChunks]]).
    */
  def cdcChunks(s: SparkSession, d: String): DataFrame =
    Dedup
      .cdcChunks(Tables.documents(s, d), "text", "doc_id",
        window = 16, divisor = 64)
      .withColumn("occ",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("chunk_fp"))))

  /** Near-dup cluster census (q236): the size histogram of q42's
    * connected components — the "how much of the corpus is duplicate"
    * report a dedup run is judged by (n_docs at cluster_size 1 =
    * unique mass; Σ(size−1) over the rest = removable mass). Same
    * candidate-pair machinery and component contract as q42; the
    * census is two support-sized aggregations on top.
    */
  def dupClusterStats(s: SparkSession, d: String): DataFrame =
    Dedup
      .nearDupDedup(Tables.documents(s, d), "text", "doc_id",
        shingleN = 4, numHashes = 16, bands = 4, minJaccardPpm = 500000L)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** Flesch reading-ease (q247) in exact integer micro units — the
    * classic readability gate a curation pipeline runs next to the
    * quality score (q33): 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words). Words = alpha tokens; sentences =
    * [.!?]+ runs (min 1); syllables = vowel groups ([aeiouy]+) plus
    * one per vowel-less word (the ≥1-per-word convention) — all
    * regexp counts, scan-side, identical in both engines.
    */
  def fleschReadability(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        regexp_count(lower(col("text")), lit("[a-z]+")).cast("long").as("words"),
        greatest(lit(1L),
          regexp_count(col("text"), lit("[.!?]+")).cast("long")).as("sentences"),
        (regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long") +
          regexp_count(lower(col("text")), lit("[a-z]+")).cast("long") -
          regexp_count(lower(col("text")), lit("[a-z]*[aeiouy][a-z]*")).cast("long"))
          .as("syllables"))
      .filter(col("words") > 0)
      .select(
        col("doc_id"), col("words"), col("sentences"), col("syllables"),
        (lit(206835000L)
          - expr("1015000 * words div sentences")
          - expr("84600000 * syllables div words")).as("flesch_micro"))

  /** Tokenizer out-of-vocabulary rate (q248): share of each document's
    * whitespace tokens outside the corpus top-1000 vocabulary (by
    * count desc, term asc — deterministic cut) — the coverage check
    * run before committing to a tokenizer/vocab size. The vocabulary
    * is ranked once and broadcast; per-doc stats are one conditional
    * aggregation over the token explode.
    */
  def oovRate(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
    // top-k cut via TakeOrderedAndProject (distributed partial top-k,
    // k rows to the driver) — never a global rank window over the
    // vocabulary support, which is corpus-vocabulary-sized at scale
    val vocab = toks
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc)
      .limit(1000)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        graft.ops.Aggregates.countIf(col("in_vocab").isNull).as("n_oov"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 1000000 div n_tokens").as("oov_ppm"))
  }

  /** Good–Turing frequency-of-frequencies (q249): the 10 RAREST
    * occupancy classes — how many terms occur exactly r times and the
    * token mass they carry, for the 10 smallest r present — the table
    * behind GT smoothing and the unseen-mass estimate p₀ ≈ N₁/N (the
    * smallest-r row's mass). "Smallest present" rather than a fixed
    * r ≤ 10 cut keeps the check non-vacuous on corpora whose rarest
    * term still occurs often (dense synthetic vocabularies). Two
    * support-sized aggregations + a top-k reduction; the corpus total
    * attaches as a 1-row broadcast.
    */
  def goodTuringFreqs(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .select(explode(TF.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("r"))
      .transform(graft.core.Caches.cache)
    val total = counts.agg(sum(col("r")).as("n_total"))
    counts
      .groupBy(col("r")).agg(count(lit(1)).as("n_terms"))
      .orderBy(col("r").asc)
      .limit(10)
      .crossJoin(broadcast(total))
      .select(
        col("r"), col("n_terms"),
        expr("r * n_terms * 1000000 div n_total").as("mass_ppm"))
      .orderBy(col("r"))
  }

  /** Distinct-n diversity (q250): corpus-level distinct/total ratio of
    * word 1/2/3-grams — the standard "is this corpus repetitive"
    * diversity metric (Li et al.'s distinct-n) quoted for generated
    * training data. Per n: one scan-side shingle explode (the
    * codegen'd WordShingles kernel) into a count+distinct aggregate;
    * the three rows union.
    */
  def distinctNgramDiversity(s: SparkSession, d: String): DataFrame = {
    val docs = graft.core.Caches.cache(
      Tables.documents(s, d).select(col("text")))
    (1 to 3)
      .map { n =>
        docs
          .select(explode(TF.wordShingles(col("text"), n)).as("g"))
          .agg(
            count(lit(1)).as("total_ngrams"),
            countDistinct(col("g")).as("distinct_ngrams"))
          .select(
            lit(n.toLong).as("n"),
            col("total_ngrams"), col("distinct_ngrams"),
            expr("distinct_ngrams * 1000000 div total_ngrams")
              .as("distinct_ppm"))
      }
      .reduce(_ unionByName _)
      .orderBy(col("n"))
  }

  /** Cross-source shingle overlap matrix (q251): exact pairwise
    * Jaccard between the sources' 4-gram shingle SETS — the
    * contamination/provenance diagnostic run before mixing corpora
    * (high overlap = one source scraped another; q48 asks "does doc X
    * touch the benchmark", this asks "how much do the corpora overlap
    * wholesale"). Shape: one distinct to (source, shingle) grain, a
    * shingle-keyed self-join whose fan-out per shingle is bounded by
    * the SOURCE count (dozens) — line-rate in corpus shingles, never
    * doc-pair-quadratic.
    */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    // eager: consumed by TWO broadcast `sizes` builds plus both self-
    // join sides, all starting concurrently — a lazy cache lets every
    // consumer re-run the shingle explode+distinct (round-8 rule)
    val sh = graft.core.Caches.materialized(
      Tables.documents(s, d)
        .select(col("source"), explode(TF.wordShingles(col("text"), 4)).as("shingle"))
        .distinct())
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter_count"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("na"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("nb"))), Seq("src_b"))
      .select(
        col("src_a"), col("src_b"), col("inter_count"),
        (col("na") + col("nb") - col("inter_count")).as("union_count"),
        expr("inter_count * 1000000 div (na + nb - inter_count)").as("jaccard_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Centroid-based silhouette per embedding label (q254,
    * [[graft.similarity.Similarity.centroidSilhouette]]) — the
    * cluster-quality audit of the labeled embedding table: does the
    * label structure actually separate in vector space.
    */
  def silhouette(s: SparkSession, d: String): DataFrame =
    graft.similarity.Similarity
      .centroidSilhouette(Tables.embeddings(s, d), "vec_id", "label", "embedding")

  /** Stratified k-fold assignment audit (q255): the deterministic
    * md5-bucket fold split a training pipeline uses for cross-
    * validation, reported per (fold, label) with each fold's share of
    * its label in ppm — the balance check that catches a skewed split
    * before a model trains on it. Pure scan-side hashing plus one
    * support-sized agg and a broadcast label-totals join; the split is
    * a pure function of the id (replayable on any engine, any
    * partitioning, any epoch).
    */
  def stratifiedKfold(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(s, d)
      .withColumn("fold",
        conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % k)
      .select(col("fold"), col("label").cast("long").as("label"))
    val totals = e.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
    e.groupBy(col("fold"), col("label"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(totals), Seq("label"))
      .withColumn("share_ppm", expr("n * 1000000 div n_label"))
      .select(col("fold"), col("label"), col("n"), col("n_label"), col("share_ppm"))
      .orderBy(col("fold"), col("label"))
  }

  /** PC1 loadings of the embedding table by quantized power iteration
    * (q256, [[graft.similarity.Similarity.powerIterationPc1]]) — the
    * corpus-variance direction, exact-integer iteration on both
    * engines.
    */
  def powerIteration(s: SparkSession, d: String): DataFrame =
    graft.similarity.Similarity
      .powerIterationPc1(Tables.embeddings(s, d), "vec_id", "embedding")

  /** Split-conformal coverage of the nearest-class-mean scorer (q257,
    * [[graft.similarity.Similarity.conformalCentroidCoverage]]) at
    * α = 0.1 — calibration-set quantile, leakage-free centroids, test
    * coverage in ppm.
    */
  def conformalCoverage(s: SparkSession, d: String): DataFrame =
    graft.similarity.Similarity
      .conformalCentroidCoverage(Tables.embeddings(s, d), "vec_id", "label",
        "embedding")

  /** Matryoshka prefix-dimension fidelity (q258,
    * [[graft.similarity.Similarity.prefixDimFidelity]]): how much
    * cosine structure the first 32 of 64 dims preserve, on the
    * deterministic (id, id+1) pair chain.
    */
  def matryoshkaFidelity(s: SparkSession, d: String): DataFrame =
    graft.similarity.Similarity
      .prefixDimFidelity(Tables.embeddings(s, d), "vec_id", "embedding", 32)

  /** Label-noise suspects (q260,
    * [[graft.similarity.Similarity.labelNoiseSuspects]]): top-50
    * probable mislabels — vectors closer to another label's centroid
    * than their own.
    */
  def labelNoise(s: SparkSession, d: String): DataFrame =
    graft.similarity.Similarity
      .labelNoiseSuspects(Tables.embeddings(s, d), "vec_id", "label", "embedding")

  /** Per-label centroid drift between md5-parity halves (q261,
    * [[graft.similarity.Similarity.centroidDrift]]) — the embedding
    * drift monitor between corpus snapshots.
    */
  def embeddingDrift(s: SparkSession, d: String): DataFrame =
    graft.similarity.Similarity
      .centroidDrift(Tables.embeddings(s, d), "vec_id", "label", "embedding")

  /** IVF recall self-audit (q280): recall@5 of the q41 IVF index
    * (16 cells, 6 probes, 2-cell spill) against bounded brute-force
    * ground truth on the same 64-query set — the index-quality number
    * (previously spec-measured: 0.88) elevated to an oracle-checked
    * query, so any regression in the IVF chain fails the CONTRACT,
    * not just a test. One row: (n_queries, n_hits, n_exact,
    * recall_ppm, min_recall_ppm).
    *
    * Scale shape: ground truth is the guarded bounded brute force
    * (64 × |corpus|, the audit-on-a-sample regime); the IVF side is
    * the production index itself.
    */
  def ivfRecallAudit(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 64)
    val exact = graft.similarity.Similarity
      .bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = graft.similarity.Similarity
      .ivfTopKDeterministic(queries, emb, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 6, nAssign = 2)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_hit"))
      .withColumn("recall_row_ppm", expr("n_hit * 1000000 div n_exact"))
      .agg(
        count(lit(1)).as("n_queries"),
        sum(col("n_hit")).as("n_hits"),
        sum(col("n_exact")).as("n_exact"),
        min(col("recall_row_ppm")).as("min_recall_ppm"))
      .select(col("n_queries"), col("n_hits"), col("n_exact"),
        expr("n_hits * 1000000 div n_exact").as("recall_ppm"),
        col("min_recall_ppm"))
  }

  /** kNN-isolation OOD audit (q277,
    * [[graft.similarity.Similarity.knnOutliers]]): the most isolated
    * vectors by nearest-in-bucket cosine — the embedding-space outlier
    * queue.
    */
  def knnOutliers(s: SparkSession, d: String): DataFrame =
    graft.similarity.Similarity
      .knnOutliers(Tables.embeddings(s, d), "vec_id", "embedding")

  /** Embedding-space semantic decontamination (q276,
    * [[graft.similarity.Similarity.semanticDecontam]]): train vectors
    * cosine-near a held-out vector via shared LSH buckets — the
    * paraphrase-leakage check n-gram decontamination misses.
    */
  def semanticDecontam(s: SparkSession, d: String): DataFrame =
    graft.similarity.Similarity
      .semanticDecontam(Tables.embeddings(s, d), "vec_id", "embedding")

  /** Embedding-space one-way ANOVA (q274,
    * [[graft.similarity.Similarity.embeddingAnova]]): how much vector
    * variance the labels explain (clusterability r² in ppm).
    */
  def embeddingAnova(s: SparkSession, d: String): DataFrame =
    graft.similarity.Similarity
      .embeddingAnova(Tables.embeddings(s, d), "vec_id", "label", "embedding")

  /** Symmetric-int8 quantization audit (q266,
    * [[graft.similarity.Similarity.int8QuantAudit]]): per-label worst
    * reconstruction error and int8-vs-float cosine.
    */
  def int8Quant(s: SparkSession, d: String): DataFrame =
    graft.similarity.Similarity
      .int8QuantAudit(Tables.embeddings(s, d), "vec_id", "label", "embedding")

  /** Greedy k-center coreset trace (q269,
    * [[graft.similarity.Similarity.kCenterGreedy]]): farthest-point
    * selection with the cover-radius certificate sequence.
    */
  def kcenterCoreset(s: SparkSession, d: String): DataFrame =
    graft.similarity.Similarity
      .kCenterGreedy(Tables.embeddings(s, d), "vec_id", "embedding", k = 4)

  /** Mutual top-1 neighbor pairs (q270,
    * [[graft.similarity.Similarity.mutualKnn]]): reciprocity-filtered
    * pair mining over the LSH bucket graph.
    */
  def mutualKnnPairs(s: SparkSession, d: String): DataFrame =
    graft.similarity.Similarity
      .mutualKnn(Tables.embeddings(s, d), "vec_id", "embedding")

  /** LSH-bucketed hard negatives (q271,
    * [[graft.similarity.Similarity.hardNegatives]]): the sublinear
    * scale sibling of q146's bounded brute-force miner.
    */
  def hardNegativesLsh(s: SparkSession, d: String): DataFrame =
    graft.similarity.Similarity
      .hardNegatives(Tables.embeddings(s, d), "vec_id", "label", "embedding")

  /** TextRank keyword extraction (q208): PageRank over the token
    * ADJACENCY graph (Mihalcea & Tarau 2004) — unlike q43's TF-IDF
    * (frequency vs corpus) or q186's RAKE (within-phrase degree),
    * TextRank scores a word by the words it keeps company with,
    * corpus-wide. Edges = adjacent token pairs (both orders, weight =
    * adjacency count) over the ≥5-occurrence vocabulary; 2 exact
    * integer PageRank iterations ([[graft.ops.Graph.pagerankMicro]],
    * vocabulary-bounded so ranks broadcast); top 20 by (score, term).
    */
  def textrankKeywords(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // toks feeds the vocab agg AND the bigram window; und feeds both
    // union sides — cached or the tokenize explode / bigram pipeline
    // replays per consumer
    val toks = graft.core.Caches.cache(Tables.documents(s, d)
      .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("pos", "tok"))))
    // eager: vocab feeds TWO concurrent broadcast semi-join builds —
    // lazy, each would re-run the tokenize explode + vocab agg; the one
    // materialization job also populates the toks cache en route
    val vocab = graft.core.Caches.materialized(toks
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 5).select(col("tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val und = graft.core.Caches.cache(toks
      .withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull && col("tok") =!= col("nxt"))
      .join(broadcast(vocab), Seq("tok"), "left_semi")
      .join(broadcast(vocab.select(col("tok").as("nxt"))), Seq("nxt"), "left_semi")
      .select(
        least(col("tok"), col("nxt")).as("wa"),
        greatest(col("tok"), col("nxt")).as("wb"))
      .groupBy(col("wa"), col("wb"))
      .agg(count(lit(1)).as("cw")))
    val edges = und.union(und.select(col("wb"), col("wa"), col("cw")))
    graft.ops.Graph
      .pagerankMicro(edges, "wa", "wb", "cw", iters = 2, broadcastRanks = true)
      .orderBy(col("pr_micro").desc, col("id").asc)
      .limit(20)
      .select(col("id").as("term"), col("pr_micro"))
  }

  /** Multinomial Naive Bayes lang-separability audit
    * ([[graft.functions.TextClassify.nbConfusion]]): train-and-score
    * on the corpus, label × predicted-label confusion counts.
    */
  def naiveBayesConfusion(s: SparkSession, d: String): DataFrame =
    graft.functions.TextClassify
      .nbConfusion(Tables.documents(s, d), "text", "doc_id", "lang")
      .orderBy(col("label"), col("pred_label"))

  /** Frame-fingerprint near-dup pairs over the multimodal media table
    * ([[Multimodal.frameNearDupPairs]]): payloads are the ASCII-
    * sanitized document bytes (printable-ASCII projection keeps SQL
    * char positions == payload byte offsets, so the oracle can slice
    * the same frames with `substring`), 32-byte frames, fingerprints
    * kept when shared by 2–20 docs, top-10 pairs by shared count.
    */
  def frameNearDup(s: SparkSession, d: String): DataFrame =
    Multimodal.frameNearDupPairs(
      Multimodal.asMediaTable(
        Tables.documents(s, d)
          .withColumn("ascii_text", regexp_replace(col("text"), "[^ -~]", "")),
        "doc_id", "ascii_text"),
      frameBytes = 32, maxDf = 20, k = 10)
      .withColumnRenamed("doc_a", "doc_id_a")
      .withColumnRenamed("doc_b", "doc_id_b")

  /** q312: perceptual near-dup pairs over the documents-as-media
    * fixture ([[Multimodal.perceptualHash64]] — sign bits of an
    * integer 8×8 DCT over the hashed-4-gram histogram, the image
    * pHash recipe on the deterministic payload stand-in), banded
    * LOSSLESSLY at Hamming ≤ 3 (q49's pigeonhole rule on 64 bits) so
    * the banded engine result equals the brute force the oracle
    * computes.
    */
  def phashNearDup(s: SparkSession, d: String): DataFrame =
    Multimodal.phashNearDupPairs(
      Multimodal.asMediaTable(Tables.documents(s, d), "doc_id", "text"),
      maxHamming = 3, bands = 4)
      .select(col("id_a"), col("id_b"), col("hamming"))

  /** Crawl-URL canonical dedup ([[graft.functions.UrlFunctions
    * .canonicalizeUrl]]): deterministic messy-variant synthesis (the
    * q77 convention — scheme/host case, `www.`, utm/gclid params,
    * fragments, trailing slashes), then group by the canonical form.
    * One exchange on the canonical key.
    */
  def urlCanonicalDedup(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.documents(s, d).select(
      col("doc_id"),
      col("source"),
      // variant selector must be INDEPENDENT of the canonical key
      // (source, doc_id%10, doc_id%3) — i.e. of doc_id mod 60 — or every
      // canonical group degenerates to one raw shape and the
      // canonicalizer is never exercised; div 60 cycles across a group.
      expr("""CASE CAST((doc_id div 60) % 4 AS INT)
             | WHEN 0 THEN 'https://WWW.' || source || '.example.com/p/' ||
             |   CAST(doc_id % 10 AS STRING) || '/?utm_source=feed&id=' || CAST(doc_id % 3 AS STRING)
             | WHEN 1 THEN 'https://www.' || source || '.example.com/p/' ||
             |   CAST(doc_id % 10 AS STRING) || '?id=' || CAST(doc_id % 3 AS STRING) || '&utm_campaign=x#frag'
             | WHEN 2 THEN 'HTTPS://' || source || '.EXAMPLE.com/p/' ||
             |   CAST(doc_id % 10 AS STRING) || '/?id=' || CAST(doc_id % 3 AS STRING) || '&gclid=abc123'
             | ELSE 'https://' || source || '.example.com/p/' ||
             |   CAST(doc_id % 10 AS STRING) || '?id=' || CAST(doc_id % 3 AS STRING)
             |END""".stripMargin).as("url"))
    raw
      .select(
        graft.functions.UrlFunctions.canonicalizeUrl(col("url")).as("canonical_url"),
        col("url"),
        col("doc_id"))
      .groupBy(col("canonical_url"))
      .agg(
        count(lit(1)).as("n_variants"),
        countDistinct(col("url")).as("n_distinct_raw"),
        min(col("doc_id")).as("survivor_id"))
  }

  /** Tokenizer fertility by language — the multilingual tokenizer
    * budget audit (how many BPE-ish subword tokens per whitespace word
    * / per character each language pays). All ratios are exact integer
    * ppm (`x·10⁶ div y`); one map-side-combined exchange on lang.
    */
  def tokenizerFertility(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("lang"),
        length(col("text")).cast("long").as("chars"),
        TF.tokenCount(col("text")).cast("long").as("ws"),
        TF.bpeishTokenCount(col("text")).as("bpe"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("chars")).as("n_chars"),
        sum(col("ws")).as("n_ws_tokens"),
        sum(col("bpe")).as("n_bpe_tokens"))
      .select(
        col("lang"),
        col("n_docs"),
        col("n_chars"),
        col("n_ws_tokens"),
        col("n_bpe_tokens"),
        expr("n_bpe_tokens * 1000000 div n_ws_tokens").as("fertility_ppm"),
        expr("n_chars * 1000000 div n_bpe_tokens").as("chars_per_bpe_ppm"))
      .orderBy(col("lang"))

  /** Embedding-space isotropy audit (q293) — the mean pairwise cosine
    * of the corpus embeddings (Mu & Viswanath 2018 / Ethayarajh 2019:
    * anisotropic spaces squash all similarities toward a common
    * direction and degrade every cosine-based op in this library).
    * The O(n²) pair definition collapses to ONE O(n) aggregate:
    *   Σ_{i≠j} u_i·u_j = ‖Σu‖² − Σ‖u‖²
    * so the audit is a per-dim column sum + two scalars — no pair
    * join at any scale. Vectors are unit-normalized in quantized
    * integers (scale 10⁴; sqrt is IEEE-exact, so the normalization is
    * bit-identical cross-engine), and
    * avg_pair_cos_micro = (‖Σu‖² − Σ‖u‖²) div (n·(n−1)·100).
    *
    * A loud assert_true guards n ≤ 70k where a per-dim sum's square
    * would overflow int64 — past it, run on a sample (the q279/q280
    * audit-on-sample convention) or switch the square accumulator to
    * decimal(38,0).
    */
  def embeddingIsotropy(s: SparkSession, d: String): DataFrame =
    Similarity.isotropyAudit(Tables.embeddings(s, d), "embedding")

  /** Apply the learned BPE tokenizer (q148's merge table, 4 rounds) to
    * the corpus and report per-language compression — the
    * tokenizer-application half that closes the q148 → q284 loop:
    * encode the VOCABULARY once ([[graft.functions.Bpe.encodeVocab]]),
    * then one token-rate join attaches subword counts to the corpus
    * (1-char words, excluded from BPE training, encode as 1 symbol).
    * compression_ppm = subword symbols ·10⁶ div characters.
    */
  def bpeCompression(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val enc = graft.functions.Bpe.encodeVocab(docs, "text", rounds = 4)
    docs
      .select(col("lang"), explode(TF.tokens(col("text"))).as("w"))
      .join(enc.select(col("w"), col("n_symbols")), Seq("w"), "left")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(coalesce(col("n_symbols"), lit(1L))).as("n_symbols"))
      .select(
        col("lang"),
        col("n_tokens"),
        col("n_chars"),
        col("n_symbols"),
        expr("n_symbols * 1000000 div n_chars").as("compression_ppm"))
      .orderBy(col("lang"))
  }
}
