package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cardinality sketches (Apache DataSketches HLL via Spark's built-in
  * `hll_sketch_agg` family) — the approximate side of the exact
  * `countDistinct` operators, and the third sketch next to the
  * MinHash signature/Aggregator pair.
  *
  * Why it matters at 100 TB: exact distinct counts shuffle every
  * distinct key once (two-phase distinct agg); an HLL sketch is a
  * FIXED-SIZE (2^lgK registers) mergeable state — partials combine
  * map-side, the shuffle carries kilobytes per group regardless of
  * cardinality, and sketches persisted per partition/day can be
  * re-unioned later without touching raw data (the same
  * merge-across-strata contract MinHashSketchAggregator proves for
  * Jaccard).
  *
  * Determinism: HLL register updates are a pure function of the input
  * VALUE SET (hash-based, order- and partitioning-independent), so
  * estimates are bit-stable across re-runs and cluster layouts —
  * SkewAndSketchSpec pins estimate equality under repartitioning and
  * sketch-union vs union-sketch equivalence. Not DuckDB-oracle-checked
  * (different HLL implementations estimate differently); the spec
  * asserts relative-error bounds against the exact count instead.
  */
object Sketches {

  /** Count-min sketch as a RELATION (Cormode & Muthukrishnan 2005):
    * `depth` hash rows × `width` buckets of exact counts — the
    * frequency sketch next to the HLL cardinality sketch and the
    * Misra–Gries top-k. Unlike MG, the CMS state is a pure SUM per
    * (row, bucket): associative and order-independent, so the sketch
    * table is bit-identical under any partitioning AND
    * oracle-checkable (q164). Point estimate = min over rows of the
    * probed cell — never an undercount, overshoots by at most the
    * collision mass (≤ N/width expected per row).
    *
    * Why it matters at 100 TB: the sketch is `depth·width` cells
    * regardless of key cardinality — heavy-key frequency questions
    * (abuse detection, hot-key diagnosis) answered from kilobytes of
    * mergeable map-side-combinable state instead of a full distinct
    * aggregation; per-day sketch tables ADD cell-wise.
    */
  def cmsBucket(item: Column, r: Column, width: Int): Column =
    // first-8-hex == top 32 bits of the md5 prefix: the native kernel
    // skips the hex round trip at (row x depth) rate; SQL twin keeps conv
    shiftright(org.apache.spark.sql.graft.VectorExpressions.md5Prefix60(
      concat(lit("r"), r.cast("string"), lit("|"), item.cast("string"))), 28) % width

  /** The (r, bucket, cnt) sketch table over `itemCol`. */
  def cmsTable(df: DataFrame, itemCol: String, depth: Int, width: Int): DataFrame =
    df.select(col(itemCol).as("item"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .groupBy(col("r").cast("long").as("r"),
        cmsBucket(col("item"), col("r"), width).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Point estimates for `probes(item)` against a sketch table:
    * min over rows of the probed cell. Missing cells read 0 (an item
    * hashed to an untouched bucket has true count 0).
    */
  def cmsEstimate(
      sketch: DataFrame,
      probes: DataFrame,
      itemCol: String,
      depth: Int,
      width: Int): DataFrame = {
    val probeCells = probes
      .select(col(itemCol).as("item"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("item"), col("r").cast("long").as("r"),
        cmsBucket(col("item"), col("r"), width).as("bucket"))
    probeCells
      .join(sketch, Seq("r", "bucket"), "left")
      .groupBy(col("item"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Per-group approximate distinct count of `keyCol`. */
  def hllDistinctPerGroup(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      lgConfigK: Int = 12): DataFrame =
    df.groupBy(col(groupCol))
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col(keyCol), lit(lgConfigK))).as("approx_distinct"))

  /** Merge previously-built sketches (e.g. per-day partials) into one
    * estimate per group: union-of-sketches == sketch-of-union.
    */
  def hllMergeEstimate(sketches: DataFrame, groupCol: String): DataFrame =
    sketches.groupBy(col(groupCol))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("approx_distinct"))

  // ——— deterministic log-histogram quantile sketch (DDSketch family) ———
  //
  // Buckets for a non-negative long v: v < 16 is stored exactly
  // (bucket = v); otherwise e = floor(log2 v) (computed EXACTLY as
  // length(bin(v)) − 1 — no float log at bucket boundaries), the top
  // 4 mantissa bits pick a sub-bucket s = v div 2^(e−4) ∈ [16, 32), and
  // bucket = e·16 + s − 16. ≤ 1024 buckets cover the full long range,
  // the bucket lower bound under-estimates its members by < 1/16
  // relative, and everything is integer arithmetic — identical in any
  // engine, so unlike HLL this sketch IS DuckDB-oracle-checkable.
  //
  // Why it matters at 100 TB: exact quantiles need a full sort or a
  // two-pass rank narrowing; the sketch is a ≤1024-counter additive
  // state per group — partials combine map-side, persistable per
  // partition/day, re-mergeable later (same contract as the HLL and
  // MinHash partials, but for rank statistics).

  /** Exact floor-log2 bucket id of a non-negative long column (by
    * name — the expression is pure integer/string ops, no float log).
    */
  def logBucket(vName: String): Column =
    expr(s"""CASE WHEN $vName < 16 THEN CAST($vName AS BIGINT)
            | ELSE CAST(length(bin($vName)) - 1 AS BIGINT) * 16
            |    + ($vName div shiftleft(CAST(1 AS BIGINT),
            |                            cast(length(bin($vName)) - 5 as int))) - 16
            | END""".stripMargin)

  /** Lower bound of a bucket id — the sketch's quantile answer. */
  def bucketLower(bName: String): Column =
    expr(s"""CASE WHEN $bName < 16 THEN CAST($bName AS BIGINT)
            | ELSE shiftleft($bName % 16 + 16, cast($bName div 16 - 4 as int))
            | END""".stripMargin)

  /** The persistable partial: per-(group, bucket) counts. Additive —
    * merging partials is a plain sum, see [[logHistQuantilesFromCounts]].
    */
  def logHistCounts(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.select(col(groupCol), logBucket(valueCol).as("bucket"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Quantile estimates from (group, bucket, cnt) partials: for each
    * requested quantile (in ppm — integer rank math, no float ceil),
    * the lower bound of the bucket holding the ⌈ppm·n/10⁶⌉-th value.
    * One bounded-width window walk per group.
    */
  def logHistQuantilesFromCounts(
      counts: DataFrame,
      groupCol: String,
      qs: Seq[(Long, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val merged = counts
      .groupBy(col(groupCol), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol))
    val walked = merged
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
    val aggs = qs.map { case (ppm, name) =>
      val rank = greatest(expr(s"(n * $ppm + 999999) div 1000000"), lit(1L))
      min(when(col("cum") >= rank, col("bucket"))).as(s"__b_$name")
    }
    val picked = walked
      .groupBy(col(groupCol))
      .agg(max(col("n")).as("n_rows"), aggs: _*)
    qs.foldLeft(picked) { case (d, (_, name)) =>
      d.withColumn(name, bucketLower(s"__b_$name"))
        .drop(s"__b_$name")
    }
  }

  /** One-shot per-group sketch quantiles over a raw value column. */
  def logHistQuantiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      qs: Seq[(Long, String)]): DataFrame =
    logHistQuantilesFromCounts(logHistCounts(df, groupCol, valueCol), groupCol, qs)

  /** Sketch sibling of the exact MAD (q171's
    * [[graft.ops.Stats.medianFromCounts]] two-pass): median and MAD
    * LOWER BOUNDS from the log-histogram, over a COUNT-compressed
    * support `(group, value, n)`. The exact path's state is the full
    * value support per group — fine at cent grain, a shuffle cliff for
    * high-cardinality value domains at 100 TB; this path's per-group
    * state is ≤ 1024 additive bucket counters per pass (persistable,
    * re-mergeable partials). Two passes, same shape as the exact op:
    * median_lb from pass 1, then |v − median_lb| re-bucketed for pass
    * 2. Error: each quantile answer is the holding bucket's lower
    * bound — within 1/16 relative of the true order statistic (exact
    * below 16); the MAD additionally inherits the median_lb shift, so
    * its error is bounded by ~2/16 relative (SkewAndSketchSpec pins
    * the band on real data). All integer, DuckDB-reproducible ⇒
    * oracle-checkable (q301).
    * Output: (group, n_rows, median_lb, mad_lb).
    */
  def madLogHistFromCounts(
      counts: DataFrame,
      groupCol: String,
      valueCol: String,
      cntCol: String): DataFrame = {
    val hist = counts
      .select(col(groupCol), logBucket(valueCol).as("bucket"), col(cntCol).as("c"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(sum(col("c")).as("cnt"))
    // med feeds TWO consumers in one action (the dev-pass broadcast and
    // the final join) — eagerly materialized per the concurrent-broadcast
    // rule, or pass 1 re-runs once per consumer. Group-grain, tiny.
    val med = logHistQuantilesFromCounts(hist, groupCol, Seq((500000L, "median_lb")))
      .localCheckpoint(true)
    val devHist = counts
      .join(broadcast(med.select(col(groupCol), col("median_lb"))), Seq(groupCol))
      .select(
        col(groupCol),
        logBucket(s"abs(`$valueCol` - median_lb)").as("bucket"),
        col(cntCol).as("c"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(sum(col("c")).as("cnt"))
    logHistQuantilesFromCounts(devHist, groupCol, Seq((500000L, "mad_lb")))
      .drop("n_rows")
      .join(med, Seq(groupCol))
      .select(col(groupCol), col("n_rows"), col("median_lb"), col("mad_lb"))
  }

  /** Sketch sibling of the exact Tukey fences (q214's order-statistic
    * narrowing): Q1/Q3 lower bounds from the log-histogram, fences in
    * the doubled-integer form (lo2 = 2·q1 − 3·(q3−q1), hi2 = 2·q3 +
    * 3·(q3−q1) — no halving, no floats), and outlier mass counted
    * map-side against the broadcast fences. Per-group sketch state is
    * ≤ 1024 counters; the tail count pass is one broadcast join over
    * the same compressed support. Fence error inherits the ≤ 1/16
    * bucket bound on each hinge (SkewAndSketchSpec pins the band).
    * Output: (group, n_rows, q1_lb, q3_lb, n_low, n_high).
    */
  def tukeyFencesLogHistFromCounts(
      counts: DataFrame,
      groupCol: String,
      valueCol: String,
      cntCol: String): DataFrame = {
    val hist = counts
      .select(col(groupCol), logBucket(valueCol).as("bucket"), col(cntCol).as("c"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(sum(col("c")).as("cnt"))
    val fences = logHistQuantilesFromCounts(
      hist, groupCol, Seq((250000L, "q1_lb"), (750000L, "q3_lb")))
      .withColumn("lo2", col("q1_lb") * 2 - (col("q3_lb") - col("q1_lb")) * 3)
      .withColumn("hi2", col("q3_lb") * 2 + (col("q3_lb") - col("q1_lb")) * 3)
    counts
      .join(broadcast(fences), Seq(groupCol))
      .groupBy(col(groupCol), col("n_rows"), col("q1_lb"), col("q3_lb"))
      .agg(
        sum(when(col(valueCol) * 2 < col("lo2"), col(cntCol)).otherwise(0L))
          .as("n_low"),
        sum(when(col(valueCol) * 2 > col("hi2"), col(cntCol)).otherwise(0L))
          .as("n_high"))
  }
}
