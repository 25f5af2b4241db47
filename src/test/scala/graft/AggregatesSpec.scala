package graft

import graft.ops.Aggregates
import org.apache.spark.sql.functions._

class AggregatesSpec extends SparkSpec {
  import spark.implicits._

  test("exactSum/exactAvg: decimal-exact over doubles") {
    val df = Seq(0.1, 0.2, 0.3).toDF("v")
    val (s, a) = df
      .agg(Aggregates.exactSum(col("v")).as("s"), Aggregates.exactAvg(col("v")).as("a"))
      .as[(Double, Double)].head()
    assert(s == 0.6) // 0.1+0.2+0.3 in binary doubles is 0.6000000000000001
    assert(a == 0.6 / 3) // decimal-exact sum, then one double division
  }

  test("exactSumOfScaled == decimal sum on negatives and ±2^23-boundary values (ADVICE r16)") {
    // the hi/lo bigint split must agree with the reference decimal sum
    // exactly where the split arithmetic is trickiest: negative values
    // (arithmetic shift + non-negative mask), the 2^23 half boundary,
    // and mixed-sign cancellation
    val us = Seq(0L, 1L, -1L, 8388607L, 8388608L, 8388609L,
      -8388607L, -8388608L, -8388609L, (1L << 47), -(1L << 47),
      123456789L, -987654321L)
    val df = us.toDF("u")
    val (got, ref) = df.agg(
      Aggregates.exactSumOfScaled(col("u"), 4).as("got"),
      (sum(col("u").cast("decimal(38,0)")) / lit(10000L)).cast("double").as("ref"))
      .as[(Double, Double)].head()
    assert(got == ref, s"split sum $got != decimal sum $ref")
    // per-value identity too (each value alone in its own group)
    val per = us.zipWithIndex.map { case (u, i) => (i, u) }.toDF("g", "u")
      .groupBy(col("g"))
      .agg(
        Aggregates.exactSumOfScaled(col("u"), 4).as("got"),
        (sum(col("u").cast("decimal(38,0)")) / lit(10000L)).cast("double").as("ref"))
      .as[(Int, Double, Double)].collect()
    per.foreach { case (g, got, ref) => assert(got == ref, s"group $g: $got != $ref") }
  }

  test("exactSum: NaN rows skipped like the old decimal-cast null (ADVICE r16)") {
    val df = Seq(1.5, Double.NaN, 2.25).toDF("v")
    val s = df.agg(Aggregates.exactSum(col("v")).as("s")).as[Double].head()
    assert(s == 3.75)
    // all-NaN group: sum of no rows = null, not 0
    val allNan = Seq(Double.NaN, Double.NaN).toDF("v")
      .agg(Aggregates.exactSum(col("v"))).collect().head
    assert(allNan.isNullAt(0))
  }

  test("exactSumOfScaled: exact at the full documented ±2^47 headroom (ADVICE r16)") {
    // the runtime guard was measured and rejected (hot-path cost — see
    // exactSumOfScaled's contract note); this pins that the documented
    // bound itself is exact, including a worst-case mixed extreme group
    val us = Seq((1L << 47), -(1L << 47), (1L << 47) - 1L, 8388607L, -8388609L)
    val (got, ref) = us.toDF("u").agg(
      Aggregates.exactSumOfScaled(col("u"), 4).as("got"),
      (sum(col("u").cast("decimal(38,0)")) / lit(10000L)).cast("double").as("ref"))
      .as[(Double, Double)].head()
    assert(got == ref)
  }

  test("countIf / maxIf") {
    val df = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    val (c, m) = df
      .agg(
        Aggregates.countIf(col("v") > 10).as("c"),
        Aggregates.maxIf(col("k") < 3, col("v")).as("m"))
      .as[(Long, Long)].head()
    assert(c == 2L)
    assert(m == 20L)
  }

  test("maxIf: empty condition set yields null") {
    val df = Seq((1L, 10L)).toDF("k", "v")
    val row = df.agg(Aggregates.maxIf(col("k") > 99, col("v"))).collect().head
    assert(row.isNullAt(0))
  }

  test("sortedList / sortedStringAgg: order travels with the data") {
    val df = Seq(("g", 3L, "c"), ("g", 1L, "a"), ("g", 2L, "b"))
      .toDF("g", "ord", "v")
      .repartition(4) // scramble physical order
    val out = df
      .groupBy(col("g"))
      .agg(
        Aggregates.sortedList(Seq(col("ord")), col("v")).as("l"),
        Aggregates.sortedStringAgg(Seq(col("ord")), col("v"), ",").as("s"))
      .as[(String, Seq[String], String)].head()
    assert(out._2 == Seq("a", "b", "c"))
    assert(out._3 == "a,b,c")
  }

  test("cohortRetention: first-seen bucket cohorts, distinct actives per offset") {
    val df = Seq(
      (1L, 10L), (1L, 10L), (1L, 11L), // u1 cohort 10, active offsets 0,1
      (2L, 10L), (2L, 12L),            // u2 cohort 10, offsets 0,2
      (3L, 11L))                       // u3 cohort 11, offset 0
      .toDF("user_id", "week")
    val out = Aggregates.cohortRetention(df, "user_id", "week")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set(
      (10L, 0L, 2L), (10L, 1L, 1L), (10L, 2L, 1L),
      (11L, 0L, 1L)))
  }

  test("funnelCounts: strict inter-stage ordering, shrinking stages") {
    val df = Seq(
      // u1 completes view(1) -> click(2) -> purchase(3)
      (1L, "view", 1L), (1L, "click", 2L), (1L, "purchase", 3L),
      // u2 clicks BEFORE the first view — click must not count
      (2L, "click", 1L), (2L, "view", 2L),
      // u3 views only; u4 has purchase with no view at all
      (3L, "view", 5L), (4L, "purchase", 9L))
      .toDF("user_id", "event_type", "epoch_s")
    val out = Aggregates
      .funnelCounts(df, "user_id", "epoch_s", "event_type", Seq("view", "click", "purchase"))
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set(
      (1L, "view", 3L), (2L, "click", 1L), (3L, "purchase", 1L)))
  }

  test("funnelCounts: same-timestamp stage event does not advance (strict >)") {
    val df = Seq((1L, "view", 5L), (1L, "click", 5L)).toDF("user_id", "event_type", "epoch_s")
    val out = Aggregates
      .funnelCounts(df, "user_id", "epoch_s", "event_type", Seq("view", "click"))
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set((1L, "view", 1L), (2L, "click", 0L)))
  }

  test("giniPpm: uniform is 0, single-holder approaches 1, zeros count, Sx=0 is NULL") {
    def gini(xs: Seq[Long]): Option[Long] = {
      val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      Option(Aggregates.giniPpm(df, "v", "id").select("gini_ppm").head().get(0))
        .map(_.asInstanceOf[Long])
    }
    assert(gini(Seq(5L, 5L, 5L, 5L)) == Some(0L), "equal shares ⇒ zero concentration")
    // one holder of everything among n=4: G = (n-1)/n = 0.75
    assert(gini(Seq(0L, 0L, 0L, 12L)) == Some(750000L))
    // zeros must dilute: {1,1} vs {0,0,1,1} differ
    assert(gini(Seq(1L, 1L)) == Some(0L))
    assert(gini(Seq(0L, 0L, 1L, 1L)) == Some(500000L))
    assert(gini(Seq(0L, 0L, 0L)).isEmpty, "all-zero population ⇒ NULL, not a crash")
  }

  test("giniPpm: tie-break permutation cannot move the result (repartition-stable)") {
    val df = (1L to 100L).map(i => (i, i % 7)).toDF("id", "v")
    val a = Aggregates.giniPpm(df.repartition(13), "v", "id").collect().toSeq
    val b = Aggregates.giniPpm(df.coalesce(1), "v", "id").collect().toSeq
    assert(a == b)
  }

  test("entropyMicroPerKey: uniform hits ln(k) micro, deterministic is 0, minTotal drops sparse keys") {
    val counts = Seq(
      ("u4", "a", 3L), ("u4", "b", 3L), ("u4", "c", 3L), ("u4", "d", 3L), // uniform over 4
      ("det", "only", 9L),                                                // single outcome
      ("thin", "x", 1L), ("thin", "y", 1L))                               // total 2 < minTotal
      .toDF("k", "outcome", "c")
    val got = Aggregates.entropyMicroPerKey(counts, Seq("k"), "c", minTotal = 5L)
      .select("k", "n_outcomes", "total", "entropy_micro")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(!got.contains("thin"))
    assert(got("det") == ((1L, 9L, 0L)), "a deterministic distribution has zero entropy")
    // uniform over 4: H = ln 4 = 1.386294... -> s_micro = 1386294 per outcome, exact mean
    assert(got("u4") == ((4L, 12L, 1386294L)))
  }
}
