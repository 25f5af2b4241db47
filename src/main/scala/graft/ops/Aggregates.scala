package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregation operators (reference A1–A10, SURVEY.md §2.4). All are
  * plain `groupBy().agg()` — two-phase hash aggregation with map-side
  * partials, which is the scalable shape (shuffle carries partial
  * states, not rows).
  *
  * Float discipline: sums over `double` columns are order-dependent at
  * the ULP level, which breaks cross-engine reproducibility and makes
  * re-runs non-bit-identical at scale. Helpers therefore aggregate
  * money-like doubles as exact `decimal` and cast the final result back
  * to double — same cost (decimal128 partials), deterministic answer.
  */
object Aggregates {

  /** Exact sum of a double column, returned as double. Deterministic
    * under any partitioning / AQE re-plan.
    *
    * Value-identical recast of the original `sum(cast(c as
    * decimal(28,scale))).cast(double)`: Spark's Sum over DecimalType
    * pays a per-row java.math.BigDecimal round-trip in the aggregation
    * buffer (~750 ns/row measured at sf0.1 — q101's ten decimal sums
    * were 4.6 s of a 4.6 s query; a bigint sum is ~25 ns/row), so the
    * decimal cast is moved OUT of the hot sum: each row contributes
    * its exact scaled-integer value `u = round(c · 10^scale)` split
    * into hi/lo halves (`u = (u >> 23)·2^23 + (u & (2^23−1))`, exact
    * for negatives too — arithmetic shift floors, the mask is
    * non-negative), both halves summed as plain bigint, and the exact
    * decimal is reassembled once per GROUP from the two sums.
    *
    * Why the per-row value is identical to the decimal cast: both
    * `cast(x as decimal(28,s))` and `round(x · 10^s)` round the
    * shortest-decimal representation of a double HALF_UP at scale s
    * (both go through BigDecimal.valueOf). They can only disagree when
    * the ×10^s binary multiply moves a value across a .5·10^-s
    * boundary — impossible for the money/quantity domains these sums
    * run on (exact ≤2dp inputs and their pairwise products: the true
    * value IS a ≤4dp rational and the double sits within 2^-53
    * relative of it, orders of magnitude inside the boundary for
    * |u| ≤ 2^47). The DuckDB oracle hash-verifies this per query.
    *
    * Overflow headroom (sums are bigint): |u| ≤ 2^47 (the largest
    * money-squared term) gives ≥ 7·10^11 rows per group for the hi
    * half and 10^12 for lo — beyond 100 TB lineitem row counts; plain
    * scale-4 money values (|u| ≤ 2^33) give ~10^15 rows.
    */
  def exactSum(c: Column, scale: Int = 4): Column =
    // NaN discipline (ADVICE r16): the old `cast(c as decimal)` turned
    // NaN into null (sum skips it); `round(NaN·10^s).cast(long)` would
    // contribute a silent 0. nanvl nulls the NaN rows — a branch-free
    // linear chain the aggregate codegen CSEs across the hi/lo inputs
    // at ZERO measured cost (q101 taskSum 1.11 s vs 1.13 baseline; the
    // CASE-WHEN form of the same fix measured +45% there). ±Infinity
    // saturates the long cast and lands far outside the 2^47 headroom
    // (see exactSumOfScaled's contract note).
    exactSumOfScaled(
      round(nanvl(c, lit(null).cast("double")) * lit(math.pow(10.0, scale))).cast("long"),
      scale)

  /** [[exactSum]] over a column already expressed in exact integer
    * units of 10^-scale (hi/lo-split bigint sums, decimal reassembled
    * per group). For per-row values that are exact integer products
    * (e.g. cents × hundredths), this skips the double round-trip
    * entirely.
    *
    * CONTRACT (ADVICE r16, adjudicated by measurement): callers must
    * keep |u| ≤ 2^47 per row — beyond it the bigint half-sums can wrap
    * SILENTLY where the old decimal sum widened. Both runtime-guard
    * forms were built and measured at sf0.1 and REJECTED for the hot
    * path: a `max(abs(u))` guard aggregate adds a buffer + widens every
    * partial-agg shuffle row (q101 1.8→2.9 s, q12 shuffle 9.0→12.2 MB),
    * and a per-row fused `assert_true` gate doubles the aggregate input
    * cost (q101 taskSum 1.13→2.46 s — raise_error defeats the codegen
    * CSE that makes the hi/lo split cheap). The bound is therefore a
    * documented construction-side contract: every call site's domain
    * must bound |c|·10^scale ≤ 2^47 (money/quantity ≤4dp domains sit
    * orders of magnitude inside it), and AggregatesSpec pins split-sum
    * == decimal-sum exactly AT the ±2^47 boundary and on negatives.
    */
  def exactSumOfScaled(u: Column, scale: Int): Column = {
    require(scale >= 0 && scale <= 6, s"exactSumOfScaled: scale $scale outside [0,6]")
    val hi = sum(shiftright(u, 23))
    val lo = sum(u.bitwiseAND(lit(8388607L)))
    // group-grain decimal reassembly: (Σhi)·2^23 + Σlo = Σu exactly;
    // the ÷10^scale lands at decimal scale ≥ 6 ≥ scale, so the
    // quotient is the exact rational the old decimal sum held, and
    // the final double cast is the identical correctly-rounded double
    ((hi.cast("decimal(38,0)") * lit(8388608L) + lo.cast("decimal(38,0)")) /
      lit(math.pow(10.0, scale).toLong)).cast("double")
  }

  /** Deterministic average = exactSum / count over the same rows. */
  def exactAvg(c: Column, scale: Int = 4): Column =
    (exactSum(c, scale) / count(c)).cast("double")

  /** Conditional count: number of rows in the group satisfying cond
    * (reference A4 `sum(when(...,1).otherwise(0))`).
    */
  def countIf(cond: Column): Column = sum(when(cond, 1L).otherwise(0L))

  /** Conditional max (reference `max(when(cond, x))` recency pattern). */
  def maxIf(cond: Column, value: Column): Column = max(when(cond, value))

  /** Order-safe collect_list: collect (orderKey, value) structs, sort
    * by the full struct, project values. Unlike bare
    * `orderBy().groupBy().collect_list()` (reference A7 hazard,
    * `prepare_training_data_pyspark.py:396-400`), this is correct under
    * any physical plan because the ordering travels WITH the data.
    */
  def sortedList(orderKeys: Seq[Column], value: Column): Column = {
    val structed = struct(orderKeys :+ value.as("__v"): _*)
    transform(sort_array(collect_list(structed)), s => s.getField("__v"))
  }

  /** Order-safe concatenated string of `value` per group, ordered by
    * `orderKeys` — the cross-engine-checkable form of A7.
    */
  def sortedStringAgg(orderKeys: Seq[Column], value: Column, sep: String): Column =
    concat_ws(sep, sortedList(orderKeys, value.cast("string")))

  /** Exact positional (type-1) quantiles per group: for each (name, q),
    * the value at sorted position `floor(q*(n-1)) + 1` of the group
    * (ascending by value, then `tieCols` for a total order). Unlike
    * `percentile_approx` (approximate) or interpolating definitions
    * (float-blend, engine-varying), the picked VALUE is an actual data
    * point and is deterministic even among duplicates — any engine that
    * sorts the same way returns the identical row.
    *
    * Cost: one map-side-combined exchange to the (group, value, count)
    * support, sharded cumsum windows on the support, and broadcast
    * joins bounded by the value domain — never a corpus-rate rank
    * window. `valueCol` must be numeric (shard bucketing divides it).
    * For 100 TB sketch-grade quantiles use percentile_approx; this is
    * the exact, auditable variant.
    */
  def positionalQuantiles(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: Column,
      tieCols: Seq[Column],
      quantiles: Seq[(String, Double)]): DataFrame = {
    // Support-grain, not a rank window over rows: the corpus collapses
    // map-side to (group, value, count) before any exchange, the rank
    // is read off the sharded cumulative sum (value at rank r = min
    // value with cum ≥ r — tie-break-independent, so `tieCols` is
    // retained only for API stability), and every exchange is bounded
    // by the VALUE DOMAIN, not the corpus. The previous rank-window
    // form shuffled full rows onto a |groups|-key partitioning — a
    // skewed corpus-rate exchange at scale (q114's 17.5 MB / 3 active
    // partitions at sf0.1). `valueCol` must be NUMERIC: the shard
    // bucket below is `floor(__v / 64)` (a string coerces to one NULL
    // shard — correct but unsharded; date/timestamp fails analysis).
    // The support feeds THREE consumers, two of them broadcasts
    // (cumsum offsets, totals) — materialized eagerly, or concurrent
    // broadcast builds race past a lazy cache and replay the corpus
    // groupBy per consumer (the q227 rule).
    val _ = tieCols
    val counts = df
      .groupBy((groupCols.map(col) :+ valueCol.as("__v")): _*)
      .agg(count(lit(1)).as("__c"))
      .transform(graft.core.Caches.materialized)
    val cums = graft.ops.Windows.shardedCumsumBy(
      counts, groupCols, "__v", Seq("__c"),
      expr("cast(floor(__v / 64) as long)"))
    val tot = counts
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("__c")).as("__n"))
    val joined =
      if (groupCols.isEmpty) cums.crossJoin(broadcast(tot))
      else cums.join(broadcast(tot), groupCols)
    val aggs = max(col("__n")).as("n_rows") +: quantiles.map { case (name, q) =>
      min(when(col("cum___c") >= floor(lit(q) * (col("__n") - 1)) + 1, col("__v")))
        .as(name)
    }
    joined.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Cohort retention matrix: bucket each user by their FIRST-seen
    * `bucketCol` value (the cohort), then count distinct users active
    * at each (cohort, offset) cell. The standard analytics rollup over
    * an event log — weekly retention when `bucketCol` is an epoch-week.
    *
    * Scale shape: one shuffle on `userCol` shared by the first-seen agg
    * and the (user, bucket) dedup (both cluster by user), the cohort
    * join is co-partitioned on that same key, and the final cell count
    * is a map-side-combinable exact count over ALREADY-DEDUPED
    * (user, bucket) rows — no countDistinct shuffle of raw events.
    * Output rows are bounded by buckets², independent of input size.
    */
  def cohortRetention(df: DataFrame, userCol: String, bucketCol: String): DataFrame = {
    val perUserBucket = df.select(col(userCol), col(bucketCol)).distinct()
    val firstSeen = perUserBucket
      .groupBy(col(userCol))
      .agg(min(col(bucketCol)).as("cohort"))
    perUserBucket
      .join(firstSeen, Seq(userCol))
      .groupBy(col("cohort"), (col(bucketCol) - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("active_users"))
  }

  /** Sequential conversion funnel: stage 1 users are those with any
    * `stages(0)` event; stage i+1 users are stage-i users with a
    * `stages(i)` event STRICTLY after their stage-i completion time
    * (min-ts semantics — the classic ordered funnel, not mere
    * presence). Returns one row per stage: (stage, stage_name,
    * n_users).
    *
    * Scale shape: one shuffle on `userCol` per stage over a
    * monotonically SHRINKING user set (stage tables are min-ts
    * aggregates, one row per surviving user); each stage table is
    * scope-cached because its lineage feeds both its own count and the
    * next stage's join. Stage count is small and fixed — the driver
    * loop builds the plan, it never touches data.
    */
  def funnelCounts(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    def stageRow(reached: DataFrame, idx: Int, name: String): DataFrame =
      reached
        .agg(count(lit(1)).as("n_users"))
        .select(lit(idx.toLong).as("stage"), lit(name).as("stage_name"), col("n_users"))
    var reached = graft.core.Caches.cache(
      df.filter(col(typeCol) === stages.head)
        .groupBy(col(userCol))
        .agg(min(col(tsCol)).as("__t")))
    var out = stageRow(reached, 1, stages.head)
    stages.tail.zipWithIndex.foreach { case (st, i) =>
      val prev = reached.select(col(userCol), col("__t").as("__pt"))
      reached = graft.core.Caches.cache(
        df.filter(col(typeCol) === st)
          .join(prev, Seq(userCol))
          .filter(col(tsCol) > col("__pt"))
          .groupBy(col(userCol))
          .agg(min(col(tsCol)).as("__t")))
      out = out.unionAll(stageRow(reached, i + 2, st))
    }
    out
  }

  /** EXACT global median of an integer column in TWO distributed
    * passes — the 100 TB answer to "exact quantile without a global
    * sort": [[positionalQuantiles]] is exact per GROUP (one exchange on
    * the group key), but a GLOBAL exact quantile through a window means
    * a single-partition sort of the corpus. Here instead:
    *
    *  pass 0  min/max/count (one aggregate);
    *  pass 1  histogram over `buckets` fixed-width value ranges — only
    *          `buckets` rows reach the driver, which locates the bucket
    *          containing rank floor((n−1)/2) by cumulative count;
    *  pass 2  value-counts WITHIN that bucket only (≤ bucket-width rows
    *          collected, integers) — walk to the exact rank.
    *
    * Hot-bucket guard: pass 2's driver collect is bounded by the
    * bucket's VALUE WIDTH, which for a wide value range (width =
    * range/buckets) can still exceed any sane driver budget when the
    * data concentrates into one bucket. When the selected bucket is
    * wider than `collectBound`, RECURSE into it instead of collecting:
    * re-histogram just that bucket's range, shrinking width by a factor
    * of `buckets` per pass (≤ log_buckets(range) ≈ 6 extra scans worst
    * case over the full 64-bit range), until the terminal bucket holds
    * ≤ `collectBound` distinct values.
    *
    * Every pass is a map-side-combined aggregation; nothing is sorted
    * globally and driver traffic is bounded by `buckets` histogram rows
    * per pass + `collectBound` terminal rows, independent of row count
    * AND of value distribution. Deterministic: type-1 median (the
    * lower-middle VALUE, an actual data point).
    */
  /** Exact integer Gini coefficient in ppm over a non-negative long
    * `valueCol` (zeros included — concentration is only meaningful
    * against the full population): one row
    * `(n, total, gini_ppm)` from the rank identity
    * `G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)`. Within a tied-value
    * block Σ i·x_i is permutation-invariant, so the whole block
    * collapses: for a value v with c occurrences and C rows strictly
    * below, Σ i·x over the block = v·(c·C + c(c+1)/2) — no per-row
    * ranking exists at all. `tieCol` is retained for API stability
    * but no longer consulted (the identity is tie-free).
    * `gini_ppm` is NULL when Σx = 0 (undefined).
    *
    * Scale: one map-side-combinable aggregation to distinct-value
    * counts, then [[graft.ops.Windows.shardedCumsum]] over the
    * distinct-VALUE support (never the input rows, never one task) —
    * survives catalog-sized inputs with any value distribution.
    * Σ i·x_i ≤ n·Σx stays in long through ~10⁸ rows of 10-ish counts.
    */
  def giniPpm(df: DataFrame, valueCol: String, tieCol: String): DataFrame = {
    val byValue = df.groupBy(col(valueCol).as("__v")).agg(count(lit(1)).as("__c"))
    Windows
      .shardedCumsum(byValue, "__v", Seq("__c"), expr("__v div 4096"))
      .select(
        col("__v"), col("__c"),
        (col("cum___c") - col("__c")).as("__cb"))
      .agg(
        sum(col("__c")).as("n"),
        sum(col("__v") * col("__c")).as("total"),
        sum(expr("__v * (__c * __cb + (__c * (__c + 1)) div 2)")).as("__s1"))
      .select(
        col("n"),
        col("total"),
        when(col("total") > 0,
          expr("(2 * __s1 - (n + 1) * total) * 1000000 div (n * total)"))
          .as("gini_ppm"))
  }

  /** Shannon entropy in micro-nats of each key's discrete distribution,
    * given pre-aggregated `(key, count)` rows: per-outcome surprisal is
    * quantized to micro BEFORE the weighted sum (the suite's ln rule),
    * so `H = Σ c·round(−ln(c/total)·1e6) div total` is exact integer
    * arithmetic — bit-deterministic cross-engine. Keys with total <
    * `minTotal` are dropped (entropy of a handful of observations is
    * noise). Output: key cols + (n_outcomes, total, entropy_micro).
    *
    * Scale shape: one key-sized aggregation for totals, broadcast back
    * onto the (key, outcome) table, one final key-sized aggregation —
    * word-count shape, no per-fact work.
    */
  def entropyMicroPerKey(
      df: DataFrame,
      keyCols: Seq[String],
      countCol: String,
      minTotal: Long): DataFrame = {
    val keys = keyCols.map(col)
    val totals = df
      .groupBy(keys: _*)
      .agg(sum(col(countCol)).as("total"), count(lit(1)).as("n_outcomes"))
      .filter(col("total") >= minTotal)
    df.join(broadcast(totals), keyCols)
      .withColumn(
        "__s_micro",
        round(-log(col(countCol).cast("double") / col("total")) * lit(1000000)).cast("long"))
      .groupBy((keys :+ col("total")) :+ col("n_outcomes"): _*)
      .agg(expr(s"sum($countCol * __s_micro) div total").as("entropy_micro"))
      .select((keys :+ col("n_outcomes")) :+ col("total") :+ col("entropy_micro"): _*)
  }
}
