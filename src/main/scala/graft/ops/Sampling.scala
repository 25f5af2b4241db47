package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data pipelines.
  *
  * `sample(fraction)` is seed-dependent AND partitioning-dependent —
  * useless when a pipeline must reproduce its training set or when two
  * engines must agree. Hash sampling decides per ROW from a stable key
  * (md5 of the id), so the sample is a pure function of the data:
  * re-runs, repartitions, and other engines (the DuckDB oracle) pick
  * the exact same rows, and the filter runs scan-side with zero
  * shuffles at any scale.
  */
object Sampling {

  /** Stable per-row bucket in [0, 1000): first 8 md5 hex chars of the
    * key, mod 1000. Native kernel, not the composed
    * conv(substring(md5(...))) chain — first-8-hex == top 32 of the
    * 60-bit md5 prefix, so `md5Prefix60 >> 28` is bit-identical and
    * skips the per-row hex round trip (~75% of the chain's cost,
    * ProbeLevelSample — DESIGN.md "Md5Prefix60",
    * `git show 519ff36:src/main/scala/graft/ProbeLevelSample.scala`);
    * the SQL twins keep the conv form.
    */
  def hashBucketPermille(key: Column): Column =
    shiftright(
      org.apache.spark.sql.graft.VectorExpressions.md5Prefix60(key.cast("string")),
      28) % 1000

  /** Keep a row iff its bucket < the stratum's keep-rate (permille).
    * The standard class-rebalancing primitive: e.g. keep all rare
    * `purchase` rows but 10% of `view` rows.
    */
  def stratifiedHashSample(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      permille: Map[String, Int],
      defaultPermille: Int): DataFrame = {
    val rate = permille.foldLeft(lit(defaultPermille): Column) {
      case (acc, (stratum, p)) => when(col(strataCol) === stratum, lit(p)).otherwise(acc)
    }
    df.filter(hashBucketPermille(col(keyCol)) < rate)
  }

  /** Mixture sampling: per-row keep-rate as an EXPRESSION (permille),
    * so domain-mixing ratios can come from data — a joined config
    * table, a computed column — rather than a hardcoded map. This is
    * the "30% web / 25% code / 3× books" knob of corpus assembly:
    * deterministic (same md5-bucket rule as [[hashBucketPermille]]),
    * scan-side when the rate is computable scan-side, and exactly
    * reproducible by any engine given the same rate rule.
    */
  def mixtureSample(df: DataFrame, keyCol: String, ratePermille: Column): DataFrame =
    df.filter(hashBucketPermille(col(keyCol)) < ratePermille)

  /** Deterministic per-group sample: the k rows per group with the
    * smallest md5(id) — a fixed-size "reservoir" whose membership is a
    * pure function of the ids (reproducible across engines, re-runs,
    * and partitionings; same philosophy as [[hashBucketPermille]], but
    * exact-k per group rather than rate-based). One exchange + sort on
    * the group key. Output keeps `rn` (1-based hash rank) for
    * downstream subsampling: `rn <= j` for any j <= k is the SAME
    * sample a direct j-sample would pick — nested samples for free.
    */
  def deterministicGroupSample(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Skew diagnostic: the `k` hottest keys with their counts and an
    * integer skew ratio vs the mean key count
    * (`cnt · n_keys · 1e6 div n_rows` — how many times hotter than
    * average, in micros). The pre-flight check before shuffling 100 TB
    * on a key: a handful of 1000×-mean keys means salting or AQE skew
    * handling, BEFORE the job runs, not after it hangs.
    *
    * Scale shape: one map-side-combined count per key, a broadcast
    * 1-row global aggregate, and TakeOrderedAndProject for the top-k —
    * no global sort, no driver-side counting.
    */
  def skewTopKeys(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("cnt")).as("n_rows"))
    counts
      .crossJoin(broadcast(totals))
      .select(
        col(keyCol),
        col("cnt"),
        // decimal128 intermediate: cnt*n_keys*1e6 overflows Long at
        // exactly the 100 TB scale this diagnostic targets
        floor(col("cnt").cast("decimal(38,0)") * col("n_keys") * lit(1000000L) / col("n_rows"))
          .cast("long").as("skew_micro"))
      .orderBy(col("cnt").desc, col(keyCol).asc)
      .limit(k)
  }

  /** Per-group TOKEN-budget cap — how LLM training mixtures are
    * actually specified ("at most N tokens from source X"), vs the
    * row-count caps of `capPerDomain`: rank each group's rows by
    * `priority` (descending, `idCol` tie-break), take the inclusive
    * running token sum, and keep rows while it fits `budgetTokens`.
    * Greedy-prefix semantics: a row is kept iff the budget survives
    * THROUGH it, so one oversized row can block later smaller ones —
    * the deterministic contract (knapsack-style backfill would depend
    * on solver order). Returns every row with (cum_tokens, kept 0/1);
    * filter kept=1 to materialize the capped mixture.
    *
    * Scale shape: one exchange keyed by group for the running-sum
    * window. Rows-per-group is the skew axis — for a source carrying
    * billions of docs, swap the window for the [[graft.ops.Windows]]
    * sharded-cumsum pattern keyed (group, shard) exactly as q119/q127
    * do globally; the greedy-prefix semantics are unchanged because
    * the shard offsets are exact.
    */
  def tokenBudgetCap(
      df: DataFrame,
      groupCol: String,
      priority: Column,
      idCol: String,
      tokens: Column,
      budgetTokens: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(priority.desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum(tokens).over(w))
      .withColumn("kept", when(col("cum_tokens") <= budgetTokens, 1L).otherwise(0L))
  }

  /** Temperature-flattened multi-source sampling at α = 0.5 — the
    * standard "sample source s ∝ size_s^α" mixture flattening that
    * up-weights small sources relative to proportional sampling.
    * Per-source keep rate = ⌊1000·√(size_min/size_s)⌋ permille (the
    * smallest source keeps everything), applied with the stable md5
    * row hash, so the sample is a pure function of the data.
    *
    * α is FIXED at 0.5 because IEEE sqrt/division are correctly
    * rounded — identical expression shape reproduces bit-for-bit in
    * the DuckDB oracle (the Wilson-bound precedent). A general-α
    * variant needs pow(), which differs across libm at ULP and would
    * break the floor at rate boundaries; quantize upstream if needed.
    *
    * Scale shape: one map-side-combined size aggregation, rates
    * broadcast back; the filter runs scan-side — zero corpus shuffles.
    */
  def temperatureMixSqrt(
      df: DataFrame,
      groupCol: String,
      weight: Column,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizes = df.groupBy(col(groupCol)).agg(sum(weight).as("__sz"))
    // min via a global window over the |groups|-row agg output (bounded
    // by group count) instead of a second aggregation — a separate
    // `sizes.agg(min)` subtree would re-scan and re-aggregate the whole
    // corpus because `sizes` is referenced twice (PlanSpec pins ONE
    // corpus-side exchange)
    val rates = sizes
      .withColumn("__minsz", min(col("__sz")).over(Window.partitionBy()))
      .select(
        col(groupCol),
        floor(lit(1000) * sqrt(col("__minsz").cast("double") / col("__sz").cast("double")))
          .cast("long").as("keep_permille"))
    df.join(broadcast(rates), Seq(groupCol))
      .filter(hashBucketPermille(col(idCol)) < col("keep_permille"))
  }

  /** Efraimidis–Spirakis weighted sampling WITHOUT replacement (A-ES,
    * "Weighted random sampling with a reservoir", IPL 2006): the k
    * rows with the smallest priority −ln(uᵢ)/wᵢ — equivalently the
    * largest uᵢ^(1/wᵢ) — where uᵢ ∈ (0,1] is the md5-uniform of the
    * id: heavier rows draw systematically smaller priorities, giving
    * EXACTLY the successive weighted-without-replacement distribution,
    * while staying a pure function of the data (the suite's sampling
    * contract: re-runs, repartitions, and the oracle agree
    * bit-for-bit). The ln is quantized to NANO before the integer
    * floor division by the weight (the suite's ln rule), ties broken
    * by id. Weights must be ≥ 1.
    *
    * Scale shape: scan-side hash + two arithmetic columns, then
    * `TakeOrderedAndProject` for the k smallest — no global sort, no
    * shuffle beyond the top-k reduction.
    */
  def weightedSampleTopK(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int): DataFrame = {
    val h = conv(
      substring(md5(concat(col(idCol).cast("string"), lit("_ws"))), 1, 15),
      16, 10).cast("long")
    df.select(col(idCol), col(weightCol).as("weight"), h.as("__h"))
      // The weights-must-be->=1 contract is ENFORCED, not doc-only: a
      // 0/null weight would make priority NULL, which Spark sorts
      // NULLS FIRST ascending (row silently selected first) while
      // DuckDB sorts NULLS LAST — a silent cross-engine divergence.
      .withColumn("__wok", expr(
        """assert_true(weight >= 1,
          |  'weightedSampleTopK: weights must be >= 1 (got a null/zero/negative weight)')"""
          .stripMargin))
      .withColumn(
        "priority",
        when(col("__wok").isNull, expr(
          """cast(round(-ln((cast(__h as double) + 1) / 1152921504606846976.0)
            | * 1000000000) as bigint) div weight""".stripMargin)))
      .orderBy(col("priority").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("weight"), col("priority"))
  }

  /** Deterministic Poisson bootstrap: all B resample replicates of a
    * weighted mean in ONE pass. Each (row, replicate) gets an integer
    * multiplicity drawn from a fixed ≈Poisson(1) pmf via the md5
    * bucket of (id, b) — a pure function of the data, so every
    * replicate reproduces across engines/partitionings/re-runs (the
    * distributed bootstrap: no per-replicate shuffles, no sampling with
    * replacement; Chamandy et al.'s estimator shape). The row-side
    * explode is ×B scan-side fan-out feeding a B-group hash agg with
    * map-side combine — the shuffle carries B partial states total.
    * Output: (replicate, n_eff, mean_micro) — exact integer mean of
    * `valueCol` per resample; quantiles of the B means give the CI.
    */
  def bootstrapMeans(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      nReplicates: Int): DataFrame = {
    val fan = df
      .select(col(idCol).cast("string").as("__id"), col(valueCol).as("__v"))
      .select(col("__id"), col("__v"),
        explode(sequence(lit(0), lit(nReplicates - 1))).as("replicate"))
    val u = conv(
      substring(md5(concat(col("__id"), lit("|"), col("replicate"))), 1, 8),
      16, 10).cast("long") % 1000
    // ≈Poisson(1): P(0)=.368, P(1)=.368, P(2)=.184, P(3)=.080
    val w = when(u < 368, 0L).when(u < 736, 1L).when(u < 920, 2L).otherwise(3L)
    fan
      .select(col("replicate"), w.as("w"), col("__v"))
      .groupBy(col("replicate"))
      .agg(
        sum(col("w")).as("n_eff"),
        sum(col("w") * col("__v")).as("wsum"))
      // an all-zero-multiplicity replicate (P ≈ e^-n, only plausible on
      // near-empty inputs) has no defined mean — drop it rather than
      // emit a NULL row
      .filter(col("n_eff") > 0)
      .select(
        col("replicate"),
        col("n_eff"),
        // decimal128 intermediate: wsum*1e6 overflows Long once wsum
        // passes ~9.2e12 — i.e. billions of rows at thousands of cents,
        // exactly the scale this estimator targets
        expr("(cast(wsum as decimal(38,0)) * 1000000) div n_eff")
          .as("mean_micro"))
  }
}
