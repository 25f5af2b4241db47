package graft.queries

import graft.core.Tables
import graft.dedup.Dedup
import graft.functions.{Pii, TextFunctions => TF}
import graft.ops.{Fuzzy, Lines, Sampling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation queries: vocabulary statistics, deterministic
  * shuffle-sharding, domain mixing, PII scrubbing, prefix-filtered
  * exact near-dup, and the end-to-end curation pipeline that composes
  * the filter → dedup → decontaminate stages.
  */
object CurationQueries {

  /** Zipf profile of the corpus vocabulary: frequency-of-frequency
    * histogram, bucketed by decimal magnitude of the token count
    * (length of the count's decimal representation — exact integer
    * bucketing, no float log). Two map-side-combinable aggs; the
    * second one's input is one row per DISTINCT token, already small.
    * The standard pre-flight check before choosing tokenizer vocab
    * size or min-count cutoffs on a new corpus.
    */
  def zipfHistogram(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(TF.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(length(col("cnt").cast("string")).cast("long").as("magnitude"))
      .agg(
        count(lit(1)).as("n_distinct_tokens"),
        sum(col("cnt")).as("total_occurrences"),
        min(col("cnt")).as("min_cnt"),
        max(col("cnt")).as("max_cnt"))
      .orderBy(col("magnitude"))

  /** Deterministic global shuffle + sharding for training order:
    * shard = md5-derived bucket, position = rank of the md5 key within
    * the shard. The full-corpus "random" order is a pure function of
    * the ids — reproducible across engines, re-runs and partitionings
    * — and materializes with 32 INDEPENDENT window partitions, never a
    * global sort / single-partition window. At 100 TB: shard count
    * scales with the cluster, each shard sorts locally, and
    * `shard, pos` is a stable global address every epoch can replay.
    */
  def shuffleShards(s: SparkSession, d: String, nShards: Int = 32): DataFrame = {
    val k = md5(col("doc_id").cast("string"))
    val w = Window.partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), k.as("k"))
      .withColumn("shard", conv(substring(col("k"), 1, 8), 16, 10).cast("long") % nShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Domain-mixture sampling: per-source keep-rates (permille) derived
    * from the source id, applied with the deterministic md5-bucket
    * rule. The corpus-assembly knob: upweight rare domains, downweight
    * crawl bulk — scan-side filter, zero shuffles.
    */
  def mixtureSample(s: SparkSession, d: String): DataFrame = {
    val rate = (substring(col("source"), 4, 10).cast("long") % 4L + 1L) * 125L
    Sampling
      .mixtureSample(
        Tables.documents(s, d).withColumn("rate_permille", rate),
        "doc_id",
        col("rate_permille"))
      .select(
        col("doc_id"),
        col("source"),
        col("rate_permille"),
        Sampling.hashBucketPermille(col("doc_id")).as("bucket"))
  }

  /** PII scrubbing report. The synthetic corpus carries no PII, so the
    * query plants one email / IP / phone per row — DERIVED from table
    * values, so both engines construct the identical string — and then
    * redacts them; the redacted text and per-class counts are the
    * checked output. Redaction itself is a codegen'd regexp chain,
    * scan-side, zero shuffle ([[graft.functions.Pii]]).
    */
  def piiRedact(s: SparkSession, d: String): DataFrame = {
    val synth = concat(
      col("text").substr(1, 40),
      lit(" contact user"),
      col("doc_id").cast("string"),
      lit("@example.com from 10."),
      (col("doc_id") % 200L).cast("string"),
      lit(".0.7 call 555-"),
      lpad((col("doc_id") % 10000L).cast("string"), 4, "0"))
    Tables.documents(s, d)
      .select(col("doc_id"), synth.as("synth"))
      .select(
        col("doc_id"),
        Pii.redact(col("synth")).as("redacted"),
        Pii.countEmails(col("synth")).cast("long").as("n_emails"),
        Pii.countIps(col("synth")).cast("long").as("n_ips"),
        Pii.countPhones(col("synth")).cast("long").as("n_phones"))
  }

  /** Prefix-filtered exact Jaccard pairs at τ = 0.5 over 4-gram
    * shingles ([[graft.dedup.Dedup.jaccardPrefixFilterPairs]]) — same
    * pair set a full quadratic scan would produce, computed by
    * indexing only each doc's rarest shingles.
    */
  def jaccardPrefixPairs(s: SparkSession, d: String): DataFrame =
    Dedup
      .jaccardPrefixFilterPairs(
        Tables.documents(s, d), "text", "doc_id", n = 4, minJaccardPpm = 500000L)

  /** Line-level boilerplate removal ([[graft.ops.Lines.stripBoilerplate]]).
    * The synthetic corpus is single-line, so the query builds the
    * multi-line shape a crawl would have — a per-source navigation
    * header and a corpus-wide copyright footer (both DERIVED from
    * table values, so each engine constructs identical lines) above
    * two content lines — then strips every line shared by ≥ 20
    * documents. Nav + copyright go; content stays, order preserved.
    */
  def lineBoilerplate(s: SparkSession, d: String): DataFrame = {
    val lined = concat(
      lit("NAV "), col("source"), lit(" HOME\n"),
      lit("(c) retail corp all rights reserved\n"),
      substring(col("text"), 1, 80), lit("\n"),
      substring(col("text"), 81, 80))
    Lines
      .stripBoilerplate(
        Tables.documents(s, d).select(col("doc_id"), lined.as("text")),
        "text", "doc_id", minDocs = 20L)
  }

  /** Paragraph-level exact dedup, first occurrence wins
    * ([[Lines.paragraphDedup]]): the synthesized corpus gives every doc
    * a per-source banner paragraph plus two content paragraphs — the
    * banner survives only in its source's earliest doc, content stays
    * unless the generator emitted verbatim duplicates (it does — the
    * same dups q27 exact-dedup finds, here deduped at paragraph grain).
    */
  def paragraphDedup(s: SparkSession, d: String): DataFrame = {
    val paraed = concat(
      lit("SOURCE "), col("source"), lit(" BANNER\n\n"),
      substring(col("text"), 1, 100), lit("\n\n"),
      substring(col("text"), 101, 100))
    Lines
      .paragraphDedup(
        Tables.documents(s, d).select(col("doc_id"), paraed.as("text")),
        "text", "doc_id")
  }

  /** Typo-variant fuzzy dedup over the part-name vocabulary
    * ([[graft.ops.Fuzzy.levenshteinPairs]], blocked on the noun
    * token). The query plants one first-character typo per 40th part
    * and the operator must recover the (original, variant) pairs —
    * plus any natural ≤2-edit neighbours — without an all-pairs scan.
    */
  def fuzzyNames(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d)
    val names = parts.select(col("p_name").as("name"))
    val variants = parts
      .filter(pmod(col("p_partkey"), lit(40L)) === 0L)
      .select(concat(lit("x"), substring(col("p_name"), 2, 1000)).as("name"))
    Fuzzy
      .levenshteinPairs(
        names.unionByName(variants),
        "name",
        element_at(split(col("name"), " "), 2),
        maxDist = 2)
  }

  /** Unicode text cleanup: NFC composition (native
    * [[org.apache.spark.sql.graft.NormalizeNfc]] expression — Spark
    * has no built-in) plus control-character stripping
    * ([[graft.functions.TextFunctions.cleanText]]). The corpus is
    * ASCII, so the query plants decomposed sequences (e +  ́, i +  ̈)
    * and control bytes (BEL, ESC), then checks the composed, stripped
    * text byte-for-byte along with both per-row counts. Scan-side,
    * zero shuffle.
    */
  def unicodeClean(s: SparkSession, d: String): DataFrame = {
    val synth = concat(
      substring(col("text"), 1, 30),
      lit(" cafe\u0301 nai\u0308ve \u0007bell\u001Besc "),
      col("doc_id").cast("string"))
    Tables.documents(s, d)
      .select(col("doc_id"), synth.as("synth"))
      .select(
        col("doc_id"),
        TF.controlCharCount(col("synth")).as("n_control"),
        (length(col("synth")) - length(TF.normalizeNfc(col("synth")))).cast("long")
          .as("n_composed"),
        TF.cleanText(col("synth")).as("clean_text"))
  }

  /** End-to-end curation: language filter → length filter → exact-dup
    * survivor → benchmark decontamination, composed from the library
    * operators exactly as a user would chain them. Output is the
    * surviving training set with its token count and duplicate
    * multiplicity. Every stage is one of the independently-verified
    * operators; what this query checks is the COMPOSITION (filter
    * ordering, join keys, survivor semantics).
    */
  def curationPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val train = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3L)
    val bench = docs.filter(pmod(col("doc_id"), lit(7L)) === 3L)
    val kept = train
      .select(
        col("doc_id"),
        TF.langId(col("text"), TextQueries.langMarkers, "und").as("pred_lang"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"))
      .filter(col("pred_lang") === "en" && col("n_tokens") >= 40L)
    // exact-dup survivors WITHIN the training split (benchmark rows
    // must not decide survivorship of training rows)
    val survivors = Dedup
      .exact(train, "text", "doc_id")
      .select(col("survivor_id").as("doc_id"), col("dup_count"))
    val contaminated = Dedup
      .contamination(train, bench, "text", "doc_id", n = 8)
      .select(col("id").as("doc_id"))
    kept
      .join(survivors, Seq("doc_id"))
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"), col("dup_count"))
  }

  /** Temperature-scaled token-budget apportionment across sources
    * (q267) — the mixture-design step of multi-corpus training: raw
    * per-source token counts are tempered to `w = ⌊√n⌋` (τ = 0.5, the
    * standard up-weighting of small sources vs proportional sampling;
    * UniMax/mT5 lineage) and a fixed token budget is split by
    * LARGEST-REMAINDER apportionment — `base = ⌊budget·w/W⌋` plus one
    * extra token to the `budget − Σbase` sources with the largest
    * remainders (ties → lexicographic source). Σalloc == budget
    * EXACTLY, by construction — the invariant a downstream sampler
    * relies on, and floats can't promise.
    *
    * Scale shape: one corpus scan to source-grain counts; everything
    * after lives on the |sources|-row table (the remainder rank is a
    * support-sized self-join, never a global window).
    */
  def temperatureMixture(
      s: SparkSession,
      d: String,
      budget: Long = 1000000L): DataFrame = {
    val src = Tables.documents(s, d)
      .select(col("source"), TF.tokenCount(col("text")).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(sum(col("nt")).as("n_tokens"))
      .withColumn("weight", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = src.agg(sum(col("weight")).as("sum_w"))
    val based = src.crossJoin(broadcast(tot))
      .withColumn("base_alloc", expr(s"${budget}L * weight div sum_w"))
      .withColumn("rem", expr(s"${budget}L * weight % sum_w"))
    val leftover = based.agg((lit(budget) - sum(col("base_alloc"))).as("leftover"))
    val ahead = based.as("a")
      .join(based.select(col("source").as("b_src"), col("rem").as("b_rem")).as("b"),
        col("b_rem") > col("rem") ||
          (col("b_rem") === col("rem") && col("b_src") < col("source")),
        "left")
      .groupBy(col("source"), col("n_tokens"), col("weight"), col("sum_w"),
        col("base_alloc"))
      .agg(count(col("b_src")).as("n_ahead"))
    ahead.crossJoin(broadcast(leftover))
      .select(
        col("source"), col("n_tokens"), col("weight"),
        expr("weight * 1000000 div sum_w").as("share_ppm"),
        (col("base_alloc") +
          when(col("n_ahead") < col("leftover"), 1L).otherwise(0L))
          .as("alloc_tokens"))
      .orderBy(col("source"))
  }

  /** Greedy maximum-coverage document selection (q268) — the
    * submodular coreset pick ("which k documents cover the most
    * corpus vocabulary"): each round selects the document adding the
    * most NOT-YET-COVERED 3-gram shingles (the classic 1−1/e greedy
    * guarantee for monotone submodular objectives). The selection
    * trace reports each pick's marginal gain and the cumulative
    * corpus coverage in ppm — the diminishing-returns curve that
    * tells a curator where coverage sampling stops paying.
    *
    * Determinism: ties at every argmax break to the smallest doc_id.
    *
    * Scale shape: each round is one anti-join of the (doc, shingle)
    * table against the covered-shingle set, a doc-grain count, and a
    * TakeOrderedAndProject(1) — `rounds` line-rate passes, no pair
    * table. The covered set is re-materialized per round with
    * `localCheckpoint` (it is referenced twice per round and would
    * otherwise compound the plan — the q87/q193 iterative rule);
    * driver traffic is one scalar row per round.
    */
  /** One greedy-coverage round's gain table: per doc, its
    * not-yet-covered shingles. `covered` is ≤ rounds·(shingles/doc)
    * rows by construction, but the per-round localCheckpoint erases
    * its size stats — without the broadcast hint Spark plans a
    * sort-merge anti and shuffles the WHOLE (doc, shingle) table
    * every round (measured 1.0 GB / 61 s at 500k docs;
    * broadcast-anti: 23.5 MB / 42 s — what remains is the doc-grain
    * count exchange, the corpus rows never move). PlanSpec pins the
    * broadcast-anti shape.
    */
  private[graft] def coverageGain(
      sh: DataFrame,
      covered: DataFrame): DataFrame =
    sh.join(broadcast(covered), Seq("shingle"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("gain"))

  def greedyCoverage(
      s: SparkSession,
      d: String,
      rounds: Int = 5): DataFrame = {
    val sh = graft.core.Caches.cache(
      Dedup.shingles(Tables.documents(s, d), "text", "doc_id", 3))
    val total = sh.select(col("shingle")).distinct().count()
    var covered = sh.select(col("shingle")).filter(lit(false))
    var cum = 0L
    val picks = Vector.newBuilder[(Int, Long, Long, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = coverageGain(sh, covered)
        .orderBy(col("gain").desc, col("id"))
        .limit(1)
        .head(1)
      if (top.isEmpty) exhausted = true
      else {
        val id = top(0).getLong(0)
        val gain = top(0).getLong(1)
        cum += gain
        picks += ((r, id, gain, cum, cum * 1000000L / total))
        covered = covered
          .union(sh.filter(col("id") === id).select(col("shingle")))
          .distinct()
          .localCheckpoint(true)
        r += 1
      }
    }
    val spark = s
    import spark.implicits._
    picks.result()
      .toDF("round", "doc_id", "gain", "cum_covered", "coverage_ppm")
      .orderBy(col("round"))
  }

  /** LSH blocking-quality audit (q279) — the record-linkage meta-audit
    * (pairs completeness + reduction ratio, Christen 2012): how many
    * of the TRUE near-dup pairs (exact 4-gram Jaccard ≥ 0.5) does the
    * production MinHash-LSH blocking (16 lanes, 4 bands, bucket cap
    * 100 — the q42 configuration) actually surface as candidates, and
    * how much of the n² pair space does it prune. One row:
    * (n_docs, n_true, n_candidates, n_hits, pairs_recall_ppm,
    * reduction_ppm). The number that justifies — or retires — a
    * banding configuration before anyone trusts its dedup output.
    *
    * Scale shape: the candidate side is the production blocking
    * itself (line-rate); the ground-truth side is the exact postings
    * join (q28's shape) — at corpus scale this audit runs on a
    * sample, exactly as a linkage evaluation would; reduction is
    * computed division-first so nothing crosses int64 even at 10⁹
    * docs.
    */
  def blockingQuality(s: SparkSession, d: String): DataFrame = {
    // Auto-escalation (VERDICT r15 item 2): the exact ground-truth side
    // is the suite's one deliberate exact-by-design quadratic-ish
    // surface (712 s at 500k docs measured pre-sampling, DESIGN.md) —
    // the shipped DEFAULT must not be the scale-killer. Below
    // `exactAuditDocBound` docs the audit runs exact (sampleMod = 1 —
    // both gate SFs: 500 and 5000 docs, oracle-hashed); above it the
    // md5 doc-sample mod doubles until the sampled side fits the bound,
    // a deterministic function of corpus size (SampledAuditSpec pins
    // the estimator's error against exact at test scale).
    val docs = Tables.documents(s, d)
    val n = docs.count()
    var mod = 1L
    while (n / mod > exactAuditDocBound) mod *= 2
    blockingQualityAudit(docs, sampleMod = mod, knownCount = n)
  }

  /** Docs ceiling for the EXACT (sampleMod = 1) ground-truth side of
    * [[blockingQuality]]: ~20k docs keeps the exact postings join
    * around a minute worst-case on one node (interpolating the 500k →
    * 712 s probe), far under it on healthy data. [[blockingQualityAudit]]
    * refuses mod = 1 above this bound rather than silently stalling.
    */
  val exactAuditDocBound: Long = 20000L

  /** [[blockingQuality]]'s engine with the 100 TB knob: `sampleMod` > 1
    * restricts the EXACT ground-truth side (and the hit intersection)
    * to the deterministic md5 doc sample `md5(doc_id) % sampleMod = 0`
    * — pairs completeness is then ESTIMATED on the sampled pair
    * space, exactly how a linkage evaluation samples at corpus scale
    * (Christen 2012 §7.2: completeness is a pair-space proportion, so
    * a doc sample yields an unbiased estimate on its induced pairs).
    * The candidate/reduction side stays the FULL production blocking —
    * it's line-rate and is the thing being audited. The contract query
    * keeps sampleMod=1 (exact, oracle-hashed); SampledAuditSpec pins
    * the estimator against the exact answer at test scale, and
    * `Probe scale-docs` carries the bounded-shuffle evidence at 500k docs.
    */
  def blockingQualityAudit(
      docs: DataFrame, sampleMod: Long, knownCount: Long = -1L): DataFrame = {
    // knownCount: caller-supplied corpus count (blockingQuality already
    // counted for the escalation loop — don't run the job twice per
    // plan construction); < 0 means count here
    val nDocs = if (knownCount >= 0L) knownCount else docs.count()
    // loud refusal instead of a silent stall: the exact ground-truth
    // side is the one deliberately quadratic-ish surface in the suite
    // (712 s at 500k docs) — callers wanting exactness above the bound
    // must sample ([[blockingQuality]] escalates automatically)
    require(sampleMod > 1L || nDocs <= exactAuditDocBound,
      s"blockingQualityAudit: $nDocs docs exceeds the exact-mode bound " +
        s"$exactAuditDocBound; pass sampleMod > 1 (blockingQuality " +
        "auto-escalates)")
    val gtDocs =
      if (sampleMod <= 1L) docs
      else docs.filter(
        expr(s"conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) % $sampleMod = 0"))
    // eager, not lazy: the final row is tT × broadcast(tC) × broadcast
    // (tH) — the two broadcast builds and the main aggregate all start
    // concurrently and race past lazy entries, re-running the exact
    // postings join (truePairs: tT + tH) and the LSH pipeline (cand:
    // tC + tH) once per consumer — the suite's recurring q279 stall
    // class ran its most expensive subtrees twice
    val truePairs = graft.core.Caches.materialized(
      Dedup.ngramJaccardPairs(gtDocs, "text", "doc_id", n = 4, minJaccardPpm = 500000L)
        .select(col("id_a"), col("id_b")))
    val sh = Dedup.shingles(docs, "text", "doc_id", 4)
    val cand = graft.core.Caches.materialized(
      Dedup.lshCandidatePairs(
        Dedup.lshBands(Dedup.minhashSignatures(sh, numHashes = 16),
          bands = 4, rowsPerBand = 4)))
    val totalPairs = nDocs * (nDocs - 1L) / 2L
    val tT = truePairs.agg(count(lit(1)).as("n_true"))
    val tC = cand.agg(count(lit(1)).as("n_candidates"))
    val tH = truePairs.join(cand, Seq("id_a", "id_b")).agg(count(lit(1)).as("n_hits"))
    // driverLit, not lit: nDocs/totalPairs are corpus counts computed on
    // the driver — data, not plan shape — and a raw Literal prints its
    // value into the plan text, breaking cross-SF fingerprint linkage
    tT.crossJoin(broadcast(tC)).crossJoin(broadcast(tH))
      .withColumn("__total_pairs",
        org.apache.spark.sql.graft.VectorExpressions.driverLit(totalPairs))
      .select(
        org.apache.spark.sql.graft.VectorExpressions.driverLit(nDocs).as("n_docs"),
        col("n_true"), col("n_candidates"), col("n_hits"),
        expr("n_hits * 1000000 div greatest(n_true, 1L)").as("pairs_recall_ppm"),
        (lit(1000000L) -
          expr("n_candidates * 1000000 div greatest(__total_pairs, 1L)"))
          .as("reduction_ppm"))
  }

  /** Per-source dedup impact ledger (q278) — the mixture-design view
    * of exact dedup: for each source, raw vs surviving docs and
    * tokens under GLOBAL exact dedup (survivor = min doc_id per
    * normalized-text fingerprint, the q27 rule). A source whose text
    * also appears elsewhere under a smaller id LOSES those docs to
    * the other source — exactly the cross-source cannibalization a
    * mixture designer needs to see before trusting raw per-source
    * token counts (q122 reports the pairs; this reports the ledger).
    *
    * Scale shape: fingerprint agg (one exchange keyed by fp), a
    * fp-grain semi-join back, two source-grain aggs — all line-rate,
    * no pair table.
    */
  def dedupBySource(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        TF.tokenCount(col("text")).cast("long").as("nt"),
        TF.fingerprint(col("text")).as("fp"))
    val surv = docs.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("survivor_id"))
      .select(col("survivor_id"))
    val all = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val kept = docs
      .join(surv, docs("doc_id") === surv("survivor_id"), "left_semi")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept_docs"), sum(col("nt")).as("kept_tokens"))
    all.join(kept, Seq("source"), "left")
      .na.fill(0L, Seq("n_kept_docs", "kept_tokens"))
      .withColumn("removed_ppm",
        expr("(n_tokens - kept_tokens) * 1000000 div n_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_kept_docs"), col("kept_tokens"), col("removed_ppm"))
      .orderBy(col("source"))
  }

  /** Curriculum admission schedule (q275) — range-paced curriculum
    * learning prep (Bengio et al. 2009 lineage): difficulty = mean
    * token length (milli), normalized to ppm of the corpus range, and
    * a linear pacing function admits documents whose difficulty sits
    * within the first e/E of the range at epoch e — so epoch 1 trains
    * on the easiest slice and the tail unlocks late. Admission epoch
    * is the exact integer ceil `(d_ppm·E + 999999) div 10⁶` clamped
    * to ≥1 (the ppm ceil-rank rule — float ceil flips on exact
    * multiples). Output per epoch: newly admitted docs, cumulative
    * docs, and the mean difficulty of the new slice.
    *
    * Scale shape: one corpus scan against a broadcast (min, max)
    * range row, one epoch-grain agg; the cumulative runs on the
    * E-row table via a support self-join — no fact-table window.
    */
  def curriculumSchedule(
      s: SparkSession,
      d: String,
      epochs: Int = 5): DataFrame = {
    val diff = Tables.documents(s, d)
      .select(col("doc_id"), TF.meanTokenLenMilli(col("text")).as("d_milli"))
    val range = diff.agg(min(col("d_milli")).as("d_min"), max(col("d_milli")).as("d_max"))
    val epoch = diff.crossJoin(broadcast(range))
      .withColumn("d_ppm",
        expr("(d_milli - d_min) * 1000000 div greatest(d_max - d_min, 1L)"))
      .withColumn("epoch",
        greatest(lit(1L), expr(s"(d_ppm * $epochs + 999999) div 1000000")))
    val per = epoch.groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_new"), sum(col("d_milli")).as("__dsum"))
      .withColumn("mean_diff_milli", expr("__dsum div n_new"))
    per.as("a")
      .join(per.select(col("epoch").as("b_epoch"), col("n_new").as("b_new")).as("b"),
        col("b_epoch") <= col("epoch"))
      .groupBy(col("epoch"), col("n_new"), col("mean_diff_milli"))
      .agg(sum(col("b_new")).as("n_cum"))
      .select(col("epoch"), col("n_new"), col("n_cum"), col("mean_diff_milli"))
      .orderBy(col("epoch"))
  }

  /** Tail-vocabulary document mining (q272) — the long-tail
    * up-weighting selector: documents ranked by the share of their
    * token OCCURRENCES drawn from the corpus's `tailVocab`
    * least-frequent tokens (count asc, token asc — rank-based, so the
    * definition survives any frequency profile, unlike an absolute
    * freq-≤-k cutoff). High-tail-share documents carry the corpus's
    * tail knowledge; a data mixer over-samples them, and a quality
    * pipeline eyeballs them for OCR noise (the two live reasons to
    * mine this list). Distinct from q248's OOV rate (which measures
    * tokenizer coverage against a FIXED top-1000 vocabulary).
    *
    * Scale shape: vocabulary counts are one token-grain agg with a
    * TakeOrderedAndProject cut (broadcastable tail set); the tail set
    * semi-joins back token-grain (the q28 postings shape); the final
    * cut is TakeOrderedAndProject — never a global sort.
    */
  def rareTokenDocs(
      s: SparkSession,
      d: String,
      tailVocab: Int = 5,
      topK: Int = 20): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
    val rare = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c"), col("tok"))
      .limit(tailVocab)
      .select(col("tok"))
    toks
      .join(rare, Seq("tok"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_rare"))
      .join(
        Tables.documents(s, d)
          .select(col("doc_id"), TF.tokenCount(col("text")).cast("long").as("n_tokens")),
        Seq("doc_id"))
      .withColumn("rare_ppm", expr("n_rare * 1000000 div n_tokens"))
      .orderBy(col("rare_ppm").desc, col("doc_id"))
      .limit(topK)
      .select(col("doc_id"), col("n_tokens"), col("n_rare"), col("rare_ppm"))
  }

  /** Blocked Fellegi–Sunter record linkage audit
    * ([[graft.ops.Linkage]]): link a keyless, degraded second "source"
    * of the customer file (every 3rd customer, name dropped, balance
    * floored to the $100 grid — the q77-style deterministic synthesis
    * of the messy-source scenario) back to the master file.
    *
    * Blocking on nationkey bounds candidates to Σ|A_n|·|B_n|; each
    * pair scores two field comparisons with precomputed micro-nat
    * log-likelihood weights:
    *   - mktsegment equality: m=.95, u=.20 (5 uniform segments) →
    *     agree ln(.95/.20)·1e6 = 1558145, disagree ln(.05/.80)·1e6 =
    *     −2772589;
    *   - balance within the $100 grid step (|cents diff| < 10000 —
    *     the floor guarantees a TRUE match always agrees): m=.98,
    *     u=.02 → ±ln(49)·1e6 = ±3891820.
    * Best master record per degraded record (score DESC, custkey ASC),
    * aggregated into the score → (n_pairs, n_correct) precision
    * profile — `n_correct` is recoverable because the degraded source
    * keeps its key for evaluation only.
    */
  def recordLinkage(s: SparkSession, d: String): DataFrame = {
    import graft.ops.Linkage
    val cust = Tables.customer(s, d).select(
      col("c_custkey"),
      col("c_nationkey"),
      col("c_mktsegment"),
      round(col("c_acctbal") * 100).cast("long").as("cents"))
    val master = cust.select(
      col("c_custkey").as("a_id"),
      col("c_nationkey").as("nation"),
      col("c_mktsegment").as("a_seg"),
      col("cents").as("a_cents"))
    val degraded = cust
      .filter(col("c_custkey") % 3 === 0)
      .select(
        col("c_custkey").as("b_id"),
        col("c_nationkey").as("nation"),
        col("c_mktsegment").as("b_seg"),
        // $100-grid floor, sign-safe: offset keeps the dividend
        // non-negative so Spark `div` (trunc) == DuckDB `//` exactly.
        expr("(cents + 1000000) div 10000 * 10000 - 1000000").as("b_cents"))
    // Closed-form best match instead of the Σ|A_n|·|B_n| block-pair
    // enumeration (guide §3, avoid exploding joins): the F-S score over
    // TWO binary field comparisons takes only 4 values, strictly
    // ordered C1(seg✓,bal✓)=5449965 > C2(✗,✓)=1119231 > C3(✓,✗)=
    // −2333675 > C4(✗,✗)=−6664409, so "max score then min custkey" is
    // the min a_id of the best non-empty CLASS — derivable from
    // per-(nation, segment, $100-bucket) minima without scoring any
    // pair. Bal-agree means a_cents ∈ (b_cents−10⁴, b_cents+10⁴) with
    // b_cents on the offset grid, i.e. bucket((a_cents+10⁶) div 10⁴)
    // ∈ {bb, bb−1} where bb = (b_cents+10⁶) div 10⁴ — bucket bb
    // qualifies entirely, bucket bb−1 except its exact lower edge
    // ((a_cents+10⁶) ≡ 0 mod 10⁴, the one value at distance exactly
    // 10⁴). C3/C4 use nation×segment minima: they only win when the
    // window is EMPTY across all segments, so every remaining master
    // bal-disagrees. Old pair-scored plan ran 3M pair evaluations in
    // the single input-layout scan task (3.9 s max task at sf0.1);
    // this is two catalog-bounded aggs + broadcast lookups, and stays
    // linear in |master| at any scale. Was: master.join(degraded,
    // "nation") × Linkage.fsScoreMicro × Linkage.bestMatch — the
    // generic operators remain in graft.ops.Linkage; bit-identity is
    // gate-verified against the unchanged pair-join oracle SQL.
    val segs = master.select(col("a_seg").as("seg")).distinct()
    val cellAgg = master
      .groupBy(col("nation"), col("a_seg").as("seg"),
        expr("(a_cents + 1000000) div 10000").as("bucket"))
      .agg(
        min(col("a_id")).as("mn"),
        min(when(expr("(a_cents + 1000000) % 10000 != 0"), col("a_id")))
          .as("mn_ne"))
    val segAgg = master
      .groupBy(col("nation"), col("a_seg").as("seg"))
      .agg(min(col("a_id")).as("mn_seg"))
    val withBB = degraded
      .crossJoin(broadcast(segs))
      .withColumn("bb", expr("(b_cents + 1000000) div 10000"))
      .withColumn("bb1", col("bb") - 1L)
    val perB = withBB
      .join(
        broadcast(cellAgg.select(
          col("nation"), col("seg"), col("bucket").as("bb"), col("mn"))),
        Seq("nation", "seg", "bb"), "left")
      .join(
        broadcast(cellAgg.select(
          col("nation"), col("seg"), col("bucket").as("bb1"), col("mn_ne"))),
        Seq("nation", "seg", "bb1"), "left")
      .join(broadcast(segAgg), Seq("nation", "seg"), "left")
      .groupBy(col("b_id"), col("nation"), col("b_seg"))
      .agg(
        min(when(col("seg") === col("b_seg"), least(col("mn"), col("mn_ne"))))
          .as("c1"),
        min(when(col("seg") =!= col("b_seg"), least(col("mn"), col("mn_ne"))))
          .as("c2"),
        min(when(col("seg") === col("b_seg"), col("mn_seg"))).as("c3"),
        min(when(col("seg") =!= col("b_seg"), col("mn_seg"))).as("c4"))
    perB
      .select(
        col("nation"),
        col("b_id"),
        when(col("c1").isNotNull, lit(1558145L + 3891820L))
          .when(col("c2").isNotNull, lit(-2772589L + 3891820L))
          .when(col("c3").isNotNull, lit(1558145L - 3891820L))
          .otherwise(lit(-2772589L - 3891820L)).as("score_micro"),
        coalesce(col("c1"), col("c2"), col("c3"), col("c4")).as("a_id"))
      .filter(col("a_id").isNotNull) // nation with zero masters (inner-join parity)
      .groupBy(col("nation"), col("score_micro"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("a_id") === col("b_id"), 1L).otherwise(0L)).as("n_correct"))
      .orderBy(col("nation"), col("score_micro").desc)
  }

  /** Dataset release card (q290) — the one-query "datasheet" stamp a
    * curation run publishes next to its output: corpus size, token
    * budget, vocabulary, exact-dup rate, language-mix entropy,
    * source concentration, short-doc share. Each metric is an exact
    * integer (ppm / micro-nat conventions), so the card is
    * hash-reproducible across engines — a release gate, not a report.
    *
    * Shape: ONE per-doc projection (token count, char count, text
    * fingerprint — no raw text) is eagerly materialized and feeds all
    * single-row aggregates; only the vocabulary count re-touches raw
    * text (token explode). Nothing after the first pass is
    * corpus-sized.
    */
  def datasetCard(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(
        col("lang"),
        col("source"),
        TF.tokenCount(col("text")).cast("long").as("nt"),
        length(col("text")).cast("long").as("nc"),
        md5(col("text")).as("fp"))
      .localCheckpoint(true)
    val coreRows = base
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        sum(col("nc")).as("n_chars"),
        countDistinct(col("fp")).as("n_distinct_texts"),
        sum(when(col("nt") < 16, 1L).otherwise(0L)).as("n_short"))
      .select(expr(
        """stack(6,
          |  'exact_dup_ppm', (n_docs - n_distinct_texts) * 1000000 div n_docs,
          |  'mean_tokens_ppm', n_tokens * 1000000 div n_docs,
          |  'n_chars', n_chars,
          |  'n_docs', n_docs,
          |  'n_tokens', n_tokens,
          |  'short_doc_ppm', n_short * 1000000 div n_docs) AS (metric, value)"""
          .stripMargin))
    val vocab = Tables.documents(s, d)
      .select(explode(TF.tokens(col("text"))).as("w"))
      .agg(countDistinct(col("w")).as("v"))
      .select(lit("n_distinct_tokens").as("metric"), col("v").as("value"))
    val srcShare = base
      .groupBy(col("source")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("mx"), sum(col("c")).as("tot"))
      .select(
        lit("top_source_share_ppm").as("metric"),
        expr("mx * 1000000 div tot").as("value"))
    val langCounts = base.groupBy(col("lang")).agg(count(lit(1)).as("ni"))
    val langEnt = langCounts
      .crossJoin(broadcast(langCounts.agg(sum(col("ni")).as("n"))))
      .select(expr(
        """CAST(round(CAST(ni AS DOUBLE) / CAST(n AS DOUBLE)
          | * ln(CAST(n AS DOUBLE) / CAST(ni AS DOUBLE)) * 1000000) AS BIGINT)"""
          .stripMargin).as("cell"))
      .agg(sum(col("cell")).as("e"))
      .select(lit("lang_entropy_micro").as("metric"), col("e").as("value"))
    coreRows
      .unionByName(vocab)
      .unionByName(srcShare)
      .unionByName(langEnt)
      .orderBy(col("metric"))
  }

  /** Per-feature univariate signal screen (q298;
    * [[graft.ops.Eval.labelSignalAucPpm]]): the tie-corrected rank-AUC
    * of each candidate feature against a binary curation label — the
    * fast filter-method feature screen, and (diffed across splits) the
    * target-leakage detector RankerSpec runs on the reference's own
    * shipped matrix. Here: does a document's length/space profile
    * predict lang='en', with doc_id%97 as the planted no-signal
    * control (auc ≈ 0.5)?
    *
    * Scale: one corpus scan → ×3 unpivot → ONE map-side-combined
    * exchange to (feature, score-support) grain; the cumulative window
    * is partitioned per feature.
    */
  def featureSignalScreen(s: SparkSession, d: String): DataFrame = {
    val f = Tables.documents(s, d).select(
      when(col("lang") === "en", 1L).otherwise(0L).as("y"),
      col("n_chars"),
      expr("length(text) - length(replace(text, ' ', ''))").as("n_spaces"),
      (col("doc_id") % 97).as("noise"))
    graft.ops.Eval
      .labelSignalAucPpm(f, Seq("n_chars", "n_spaces", "noise"), "y")
  }

  /** Calibration audit (q300; [[graft.ops.Eval.calibrationBins]]): the
    * reliability diagram of a min-max-scaled document-length
    * "confidence" against the lang='en' label — the standard check
    * before any model score gates a data-selection decision (a score
    * can rank well and still be badly calibrated; the per-bin
    * |conf − acc| gaps are what a selection threshold actually feels).
    * One broadcast of the 1-row max, one bin-grain exchange.
    */
  def calibrationAudit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val mx = docs.agg(max(col("n_chars")).as("mx"))
    graft.ops.Eval.calibrationBins(
      docs.crossJoin(broadcast(mx)).select(
        expr("n_chars * 1000000 div mx").as("conf_ppm"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y")),
      col("conf_ppm"), "y", bins = 10)
  }
}
