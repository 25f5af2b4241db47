package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-statistics and rank-test operators over COUNT-compressED
  * supports: every operator here takes (or builds) a `(key, count)`
  * support table — support-sized, map-side combinable — and runs its
  * one ordered step through [[Windows.shardedCumsum]]/
  * [[Windows.shardedCumsumBy]], so no statistic ever pulls a raw
  * sample (or even a whole support) into one task. The family contract
  * matches the experimentation queries (q154/q158–q165): exact integer
  * moments end-to-end, with at most ONE final double chain written
  * textually identically in the DuckDB oracle (correctly-rounded IEEE
  * ops on identical exact inputs are bit-identical cross-engine).
  */
object Stats {

  /** Kruskal–Wallis H rank test across k classes of `valueCol` — the
    * k-group extension of the Mann–Whitney shape (MWU asks which of
    * TWO samples dominates; KW asks whether ANY of k differs).
    * Tie-corrected midranks are kept integer by DOUBLING (2·midrank =
    * 2·c_before + t + 1), so every per-class rank sum `r<i>_x2` is
    * exact; `h_micro` is the one double chain: tie-corrected
    * `H / (1 − Σ(t³−t)/(N³−N))`, micro-rounded.
    *
    * `shardExpr` must be a monotone bucket of `valueCol` (the
    * [[Windows.shardedCumsum]] contract). Output: one row with
    * `n<i>`, `r<i>_x2` per class (1-based), `ties3`, `h_micro`.
    */
  def kruskalWallisMicro(
      df: DataFrame,
      valueCol: String,
      classCol: String,
      classes: Seq[String],
      shardExpr: Column): DataFrame = {
    require(classes.nonEmpty)
    val k = classes.size
    val cnts = classes.zipWithIndex.map { case (c, i) =>
      Aggregates.countIf(col(classCol) === c).as(s"c$i")
    }
    val counts = df
      .filter(col(classCol).isin(classes: _*))
      .groupBy(col(valueCol))
      .agg(cnts.head, cnts.tail: _*)
      .withColumn("t", (0 until k).map(i => col(s"c$i")).reduce(_ + _))
    val aggs =
      (0 until k).map(i => sum(col(s"c$i")).as(s"n${i + 1}")) ++
        (0 until k).map(i => sum(col(s"c$i") * col("mid2")).as(s"r${i + 1}_x2")) :+
        sum(col("t") * col("t") * col("t") - col("t")).as("ties3")
    Windows
      .shardedCumsum(counts, valueCol, Seq("t"), shardExpr)
      .withColumn("mid2", (col("cum_t") - col("t")) * 2 + col("t") + 1)
      .agg(aggs.head, aggs.tail: _*)
      // H = 12/(N(N+1))·Σ R_j²/n_j − 3(N+1) with R_j = r_x2/2, then the
      // tie-correction divisor — the ONE shared template, so the Spark
      // expression and the oracle SQL cannot drift
      .withColumn("h_micro", expr(kruskalWallisHSql(k)))
  }

  /** Oracle-SQL twin of [[kruskalWallisMicro]]'s `h_micro` expression —
    * generated from the same template so the two sides cannot drift.
    */
  def kruskalWallisHSql(k: Int): String = {
    val nSum = (1 to k).map(i => s"n$i").mkString(" + ")
    val sTerm = (1 to k)
      .map(i =>
        s"CAST(r${i}_x2 AS DOUBLE) * CAST(r${i}_x2 AS DOUBLE) / CAST(n$i AS DOUBLE)")
      .mkString(" + ")
    s"""CAST(round((3.0 * ($sTerm)
       |  / (CAST($nSum AS DOUBLE) * CAST($nSum + 1 AS DOUBLE))
       |  - 3.0 * CAST($nSum + 1 AS DOUBLE))
       | / (1.0 - CAST(ties3 AS DOUBLE)
       |    / (CAST($nSum AS DOUBLE) * CAST($nSum AS DOUBLE)
       |       * CAST($nSum AS DOUBLE) - CAST($nSum AS DOUBLE)))
       | * 1000000) AS BIGINT)""".stripMargin
  }

  /** Type-1 (lower-middle) median per group from a COUNT-compressed
    * support `(partCols..., keyCol, cntCol)`: rank `(n+1) div 2` over
    * the key order — the selected value is an actual data point,
    * deterministic among duplicates. One sharded cumulative pass +
    * one broadcast totals join; never a per-row window.
    * Output: partCols + `(n_total, median)` where median is named
    * `<outName>`.
    */
  /** Per-group exact lower median for BOUNDED-SPAN value domains via a
    * static two-level hot-bucket plan — the q69 histogram recursion
    * UNROLLED into one lazy DataFrame (no driver loop, so plan
    * construction stays pure and the whole query is one DAG):
    *
    *  1. level-1 histogram on `v div 2^shift` — per-group bucket count
    *     is span/2^shift, map-side combined, so the agg exchange
    *     carries bucket-grain partials however many raw rows;
    *  2. one per-group window over the histogram finds the bucket
    *     containing rank `(n+1) div 2` (and the cumulative count below
    *     it) — group×bucket-grain work;
    *  3. level-2 re-scans the fact FILTERED to each group's hot bucket
    *     (≈ rows/2^shift survive), builds the per-value support of just
    *     that slice, and reads the median off its cumsum.
    *
    * This is the right median when values are NEAR-UNIQUE:
    * [[medianFromCounts]]' full support degenerates to a row-grain
    * exchange there (support ≈ rows — the q114 r14 bench-head line),
    * while this never shuffles more than `groups × (span/2^shift +
    * 2^shift)` count rows. Precondition (asserted nowhere — document at
    * call sites): per-group value span ≤ ~2^(shift+20) so the level-1
    * histogram stays ≤ ~1M buckets; a wider span needs a larger
    * `shift`, which grows the level-2 slice with it. Trunc-division
    * bucket ids are monotone in v, so bucket order is value order
    * (bucket 0 spans both signs — harmless here: level 2 filters by
    * bucket MEMBERSHIP, and its width only bounds the slice size).
    * Output: partCols* + (`n_total`, `<outName>`).
    */
  def medianHotBucket(
      df: DataFrame,
      partCols: Seq[String],
      valueCol: String,
      outName: String,
      shift: Int = 16): DataFrame =
    ranksHotBucket(
      df, partCols, valueCol,
      Seq((outName, "(n_total + 1) div 2")),
      expr(s"cast($valueCol as bigint) div ${1L << shift}L"))

  /** [[medianHotBucket]] generalized to ANY set of integer order
    * statistics: `ranks` gives (outName, 1-based rank as an integer SQL
    * expression over `n_total`) pairs — e.g. the lower median is
    * `"(n_total + 1) div 2"`, a ppm threshold is
    * `"greatest((n_total * 50000 + 999999) div 1000000, 1L)"` (the r5
    * pure-integer rank rule). One level-1 histogram serves every rank
    * (each picks its own hot bucket off the same cumulative pass), and
    * level 2 re-scans the fact filtered to the UNION of hot buckets —
    * per-bucket cumsums plus the level-1 below-counts reconstruct each
    * rank's global position. `bucketExpr` must be a MONOTONE
    * non-decreasing integer bucket of `valueCol` (the shardedCumsum
    * contract), sized so per-group bucket count and per-bucket row
    * count both stay bounded (span/width and width·density).
    * Output: partCols* + n_total + one column per rank, typed as
    * `valueCol` (works on double domains too — q99's price thresholds).
    */
  def ranksHotBucket(
      df: DataFrame,
      partCols: Seq[String],
      valueCol: String,
      ranks: Seq[(String, String)],
      bucketExpr: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ranks.nonEmpty)
    val g = partCols.map(col)
    val v = col(valueCol)
    // project to group+value up front: the level-2 self-join re-attaches
    // `n_total`, which must not collide with caller columns.
    // Null group keys are EXCLUDED, consistently at both levels: they
    // would survive the level-1 groupBy but vanish in level 2's
    // equi-join on partCols, silently emitting no ranks for the group
    // (ADVICE r15) — filtering here makes "null keys excluded" the
    // documented contract instead of a level disagreement.
    val dfp = df
      .filter(g.map(_.isNotNull).reduceOption(_ && _).getOrElse(lit(true)))
      .select(g :+ v: _*)
    val h1 = dfp
      .filter(v.isNotNull)
      .groupBy(g :+ bucketExpr.as("__b1"): _*)
      .agg(count(lit(1)).as("__c"))
    // running + total counts in ONE window pass (same partitioning and
    // ordering → a single Window node, one bucket-grain exchange)
    val w = Window.partitionBy(g: _*).orderBy(col("__b1"))
    val cum = h1.select(
      (g :+ col("__b1") :+ col("__c")) ++ Seq(
        sum(col("__c"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("__cum"),
        sum(col("__c"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .as("n_total")): _*)
    // hot bucket per rank = MIN qualifying bucket; __b1 is unique per
    // group, so the struct min carries its below-count along
    val hot = cum
      .groupBy(g :+ col("n_total"): _*)
      .agg(
        ranks.map { case (nm, k) =>
          min(when(col("__cum") >= expr(k),
            struct(col("__b1"), (col("__cum") - col("__c")).as("__below"))))
            .as(s"__hb_$nm")
        }.head,
        ranks.map { case (nm, k) =>
          min(when(col("__cum") >= expr(k),
            struct(col("__b1"), (col("__cum") - col("__c")).as("__below"))))
            .as(s"__hb_$nm")
        }.tail: _*)
    // level 2: per-value support of the UNION of hot-bucket slices
    val hbCols = ranks.map { case (nm, _) => col(s"__hb_$nm") }
    val sup = dfp
      .join(broadcast(hot), partCols)
      .filter(ranks.map { case (nm, _) =>
        bucketExpr === col(s"__hb_$nm.__b1")
      }.reduce(_ || _))
      .groupBy((g :+ col("n_total")) ++ hbCols ++
        Seq(bucketExpr.as("__b1"), v.as("__v")): _*)
      .agg(count(lit(1)).as("__c2"))
    // per-BUCKET cumsum (the slice union is not contiguous across
    // buckets; global cum at v = that bucket's below + within-bucket cum)
    val w2 = Window.partitionBy(g :+ col("__b1"): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sup
      .withColumn("__cum2", sum(col("__c2")).over(w2))
      .groupBy(g :+ col("n_total"): _*)
      .agg(
        ranks.map { case (nm, k) =>
          min(when(
            col(s"__hb_$nm.__b1") === col("__b1") &&
              col(s"__hb_$nm.__below") + col("__cum2") >= expr(k),
            col("__v"))).as(nm)
        }.head,
        ranks.map { case (nm, k) =>
          min(when(
            col(s"__hb_$nm.__b1") === col("__b1") &&
              col(s"__hb_$nm.__below") + col("__cum2") >= expr(k),
            col("__v"))).as(nm)
        }.tail: _*)
  }

  def medianFromCounts(
      counts: DataFrame,
      partCols: Seq[String],
      keyCol: String,
      cntCol: String,
      shardExpr: Column,
      outName: String): DataFrame = {
    // the support feeds the cumsum (whose shard offsets are themselves
    // a broadcast) AND the totals broadcast in one action — broadcast
    // builds race on concurrent threads past a LAZY cache entry (the
    // q227 rule), so the support is materialized EAGERLY before fan-out
    val c = graft.core.Caches.materialized(counts)
    val cums = Windows.shardedCumsumBy(c, partCols, keyCol, Seq(cntCol), shardExpr)
    val tot = c
      .groupBy(partCols.map(col): _*)
      .agg(sum(col(cntCol)).as("n_total"))
    val joined =
      if (partCols.isEmpty) cums.crossJoin(broadcast(tot))
      else cums.join(broadcast(tot), partCols)
    joined
      .filter(col(s"cum_$cntCol") >= expr("(n_total + 1) div 2"))
      .groupBy((partCols.map(col) :+ col("n_total")): _*)
      .agg(min(col(keyCol)).as(outName))
  }

  /** Trimmed mean per group from a COUNT-compressed support: drop the
    * lowest and highest `trimPpm` (floor, in rows) of each group's
    * distribution and average the rest — the outlier-robust mean that
    * DROPS tails where q99's winsorize CLAMPS them. Pure integer: the
    * kept mass of a tied block is its overlap with the kept rank
    * interval `[lo+1, n−lo]` (`lo = n·trimPpm div 1e6` — floor
    * division, identical in both engines), and the mean emits in micro
    * units of the key via integer division. Output: partCols +
    * `(n_total, n_kept, kept_sum, trimmed_mean_micro)`.
    */
  def trimmedMeanMicroFromCounts(
      counts: DataFrame,
      partCols: Seq[String],
      keyCol: String,
      cntCol: String,
      shardExpr: Column,
      trimPpm: Long): DataFrame = {
    // same multi-broadcast fan-out as medianFromCounts — eager support
    val c = graft.core.Caches.materialized(counts)
    val cums = Windows.shardedCumsumBy(c, partCols, keyCol, Seq(cntCol), shardExpr)
    val tot = c
      .groupBy(partCols.map(col): _*)
      .agg(sum(col(cntCol)).as("n_total"))
    val joined =
      if (partCols.isEmpty) cums.crossJoin(broadcast(tot))
      else cums.join(broadcast(tot), partCols)
    joined
      .withColumn("__lo", expr(s"n_total * $trimPpm div 1000000"))
      .withColumn(
        "__kept",
        greatest(
          lit(0L),
          least(col(s"cum_$cntCol"), col("n_total") - col("__lo")) -
            greatest(col(s"cum_$cntCol") - col(cntCol), col("__lo"))))
      .groupBy((partCols.map(col) :+ col("n_total")): _*)
      .agg(
        sum(col("__kept")).as("n_kept"),
        sum(col("__kept") * col(keyCol)).as("kept_sum"))
      .withColumn(
        "trimmed_mean_micro", expr("kept_sum * 1000000 div n_kept"))
  }

  /** Spearman rank correlation ρ between paired series `(xCol, yCol)`:
    * Pearson on tie-averaged midranks, kept exact-integer by DOUBLING
    * (the [[kruskalWallisMicro]] mid2 trick: 2·midrank = 2·c_before +
    * t + 1 — doubling both rank series leaves ρ unchanged), so every
    * rank moment is an exact integer; `rho_micro` is the one shared
    * [[Graph.pearsonMicroSql]] double chain, micro-rounded identically
    * in the oracle, NULL when either rank series is constant.
    *
    * Shape: the fact pass collapses to the JOINT `(x, y)` support
    * (map-side combinable); midranks come from the two marginal
    * supports via [[Windows.shardedCumsum]] (never a single-partition
    * window) and attach back with two broadcast support-sized joins.
    * Int64 bound: doubled ranks reach 2n+…, so n·Σ(mid2²) ~ 4n⁴ —
    * exact to n ≈ 38k observations (daily/bounded series, the q159
    * regime); the same loud assert_true guard as
    * [[Graph.degreeAssortativityMicro]] fails past it.
    *
    * `shardX`/`shardY` must be monotone buckets of the x / y values
    * (the [[Windows.shardedCumsum]] contract), written against the
    * ORIGINAL column names. Output: one row
    * `(n, sx, sy, sxy, sx2, sy2, rho_micro)` of doubled-rank moments.
    */
  def spearmanRhoMicro(
      df: DataFrame,
      xCol: String,
      yCol: String,
      shardX: Column,
      shardY: Column): DataFrame = {
    val joint = df.groupBy(col(xCol), col(yCol)).agg(count(lit(1)).as("cnt"))
    def mid2(c: String, shard: Column): DataFrame = {
      val counts = df.groupBy(col(c)).agg(count(lit(1)).as("t"))
      Windows
        .shardedCumsum(counts, c, Seq("t"), shard)
        .select(col(c), ((col("cum_t") - col("t")) * 2 + col("t") + 1).as(s"mid2_$c"))
    }
    joint
      .join(broadcast(mid2(xCol, shardX)), Seq(xCol))
      .join(broadcast(mid2(yCol, shardY)), Seq(yCol))
      .agg(
        sum(col("cnt")).as("n"),
        sum(col("cnt") * col(s"mid2_$xCol")).as("sx"),
        sum(col("cnt") * col(s"mid2_$yCol")).as("sy"),
        sum(col("cnt") * col(s"mid2_$xCol") * col(s"mid2_$yCol")).as("sxy"),
        sum(col("cnt") * col(s"mid2_$xCol") * col(s"mid2_$xCol")).as("sx2"),
        sum(col("cnt") * col(s"mid2_$yCol") * col(s"mid2_$yCol")).as("sy2"))
      .withColumn("__ovf_ok", expr(
        """assert_true(
          |  n = 0 OR (
          |    greatest(abs(sxy), sx2, sy2)
          |      <= 9223372036854775807 div n
          |    AND greatest(abs(sx), abs(sy)) <= 3037000499),
          |  'spearmanRhoMicro: int64 rank-moment overflow -- bounded-series operator, n <= ~38k')"""
          .stripMargin))
      .withColumn("rho_micro",
        when(col("__ovf_ok").isNull, expr(Graph.pearsonMicroSql)))
      .drop("__ovf_ok")
  }

  /** Welch two-sample t statistic (unequal variances) from a
    * COUNT-compressed integer support `(keyCol, aCntCol, bCntCol)` —
    * "are purchase and view order values drawn from the same mean"
    * without the pooled-variance assumption the classic t test makes.
    * The three moments per sample (n, Σk, Σk²) are exact integers from
    * ONE support-sized aggregation; `t_micro` and the
    * Welch–Satterthwaite `dof_micro` are the one double chain, written
    * by [[welchTSql]]/[[welchDofSql]] so the oracle cannot drift.
    * NULL when either sample has < 2 observations or both variances
    * are 0. Int64 bound on Σk²: guarded loud via max|k| and n (double
    * comparison — a guard, not a contract column).
    *
    * Output: one row `(na, sa, ssa, nb, sb, ssb, t_micro, dof_micro)`.
    */
  def welchTMicroFromCounts(
      counts: DataFrame,
      keyCol: String,
      aCntCol: String,
      bCntCol: String): DataFrame = {
    val k = col(keyCol)
    counts
      .agg(
        sum(col(aCntCol)).as("na"),
        sum(col(aCntCol) * k).as("sa"),
        sum(col(aCntCol) * k * k).as("ssa"),
        sum(col(bCntCol)).as("nb"),
        sum(col(bCntCol) * k).as("sb"),
        sum(col(bCntCol) * k * k).as("ssb"),
        max(abs(k)).as("__max_k"))
      .withColumn("__ovf_ok", expr(
        """assert_true(
          |  coalesce(na, 0) + coalesce(nb, 0) = 0 OR
          |  cast(na + nb as double) * cast(__max_k as double) * cast(__max_k as double)
          |    < 9.1e18,
          |  'welchTMicroFromCounts: int64 sum-of-squares overflow -- rescale the key')"""
          .stripMargin))
      .withColumn("t_micro", when(col("__ovf_ok").isNull, expr(welchTSql)))
      .withColumn("dof_micro", when(col("__ovf_ok").isNull, expr(welchDofSql)))
      .drop("__max_k", "__ovf_ok")
  }

  /** The squared-standard-error term s²ᵢ/nᵢ of one Welch sample —
    * spelled once so every use in [[welchTSql]]/[[welchDofSql]] (and
    * the oracle) is textually identical, which is what makes the IEEE
    * chains bit-identical cross-engine.
    */
  private def welchVn(n: String, s: String, ss: String): String =
    s"((CAST($ss AS DOUBLE) - CAST($s AS DOUBLE) * CAST($s AS DOUBLE) / CAST($n AS DOUBLE))" +
      s" / CAST($n - 1 AS DOUBLE) / CAST($n AS DOUBLE))"

  /** Oracle-SQL twin of [[welchTMicroFromCounts]]'s `t_micro`. Expects
    * columns `na, sa, ssa, nb, sb, ssb`.
    */
  val welchTSql: String = {
    val va = welchVn("na", "sa", "ssa")
    val vb = welchVn("nb", "sb", "ssb")
    s"""CASE WHEN na < 2 OR nb < 2 OR $va + $vb = 0 THEN NULL
       | ELSE CAST(round(
       |   (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
       |   / sqrt($va + $vb) * 1000000) AS BIGINT) END""".stripMargin
  }

  /** Oracle-SQL twin of [[welchTMicroFromCounts]]'s Welch–Satterthwaite
    * `dof_micro`. Expects columns `na, sa, ssa, nb, sb, ssb`.
    */
  val welchDofSql: String = {
    val va = welchVn("na", "sa", "ssa")
    val vb = welchVn("nb", "sb", "ssb")
    s"""CASE WHEN na < 2 OR nb < 2 OR $va + $vb = 0 THEN NULL
       | ELSE CAST(round(
       |   ($va + $vb) * ($va + $vb)
       |   / ($va * $va / CAST(na - 1 AS DOUBLE) + $vb * $vb / CAST(nb - 1 AS DOUBLE))
       |   * 1000000) AS BIGINT) END""".stripMargin
  }

  /** McNemar test on PAIRED binary outcomes `(aCol, bCol)` (one row
    * per subject, values 0/1): did treatment A help on the subjects
    * where B failed, beyond the reverse — the correct test for
    * comparing two retrieval strategies on the SAME anchors, where the
    * two-proportion z test double-counts the concordant mass. Pure
    * integer end-to-end: the statistic `(n10−n01)²·1e6 div (n10+n01)`
    * needs no doubles at all (χ²₁, without continuity correction);
    * NULL when there are no discordant pairs. Output: one row
    * `(n, n11, n10, n01, n00, chi2_micro)`.
    *
    * Shape: one map-side-combinable agg over the paired flags —
    * line-rate, no joins here (building the flags is the caller's
    * semi-join business).
    */
  def mcnemarMicro(df: DataFrame, aCol: String, bCol: String): DataFrame =
    df.agg(
        count(lit(1)).as("n"),
        Aggregates.countIf(col(aCol) === 1 && col(bCol) === 1).as("n11"),
        Aggregates.countIf(col(aCol) === 1 && col(bCol) === 0).as("n10"),
        Aggregates.countIf(col(aCol) === 0 && col(bCol) === 1).as("n01"),
        Aggregates.countIf(col(aCol) === 0 && col(bCol) === 0).as("n00"))
      .withColumn(
        "chi2_micro",
        expr("""CASE WHEN n10 + n01 = 0 THEN NULL
               | ELSE (n10 - n01) * (n10 - n01) * 1000000 div (n10 + n01) END""".stripMargin))

  /** Exact Gini coefficient of a nonnegative integer quantity from its
    * COUNT-compressed support `(valCol, cntCol)` — the inequality
    * measure behind "does the recommender expose a few head items to
    * everyone" (exposure Gini) and any concentration report. Uses the
    * rank-block identity: with items sorted ascending, a tied block of
    * t items at value v and c_before predecessors contributes
    * v·(c_before·t + t(t+1)/2) to Σ rank·x — all exact integers off
    * ONE [[Windows.shardedCumsum]] pass over the support, so
    * G = (2·Σrank·x − (n+1)·Σx) / (n·Σx) needs no sort of the raw
    * rows and no doubles (`gini_micro` is a single integer floor
    * division). NULL when n = 0 or Σx = 0. Int64 bound: Σrank·x ≲
    * n·Σx must stay under 9.2e12 (the ·1e6 scaling) — loud assert
    * past it. Output: one row `(n, total, gini_micro)`.
    */
  def giniMicroFromCounts(
      counts: DataFrame,
      valCol: String,
      cntCol: String,
      shardExpr: Column): DataFrame =
    Windows
      .shardedCumsum(counts, valCol, Seq(cntCol), shardExpr)
      .withColumn(
        "rank_sum",
        expr(s"""$valCol * ((cum_$cntCol - $cntCol) * $cntCol
                | + ($cntCol * ($cntCol + 1)) div 2)""".stripMargin))
      .agg(
        sum(col(cntCol)).as("n"),
        sum(col(valCol) * col(cntCol)).as("total"),
        sum(col("rank_sum")).as("s_rank"))
      .withColumn("__ovf_ok", expr(
        """assert_true(
          |  coalesce(n, 0) = 0 OR
          |  greatest(abs(2 * s_rank - (n + 1) * total), n * total)
          |    <= 9223372036854775807 div 1000000,
          |  'giniMicroFromCounts: int64 overflow in the rank sum -- rescale the value')"""
          .stripMargin))
      .withColumn(
        "gini_micro",
        when(col("__ovf_ok").isNull, expr(
          """CASE WHEN n = 0 OR total = 0 THEN NULL
            | ELSE (2 * s_rank - (n + 1) * total) * 1000000 div (n * total) END"""
            .stripMargin)))
      .select(col("n"), col("total"), col("gini_micro"))

  /** Benford first-digit expected frequencies, ppm: round(log10(1 +
    * 1/d)·1e6) for d = 1..9 — precomputed integer literals (the q138
    * discount-table pattern: no runtime transcendental on either
    * side). They sum to exactly 1,000,000.
    */
  val benfordPpm: Seq[(Long, Long)] = Seq(
    1L -> 301030L, 2L -> 176091L, 3L -> 124939L, 4L -> 96910L,
    5L -> 79181L, 6L -> 66947L, 7L -> 57992L, 8L -> 51153L, 9L -> 45757L)

  /** Oracle-SQL twin of the per-digit Benford χ² cell `(obs − E)²/E`
    * with E = n_values·exp_ppm/1e6, micro-rounded. Expects columns
    * `obs, exp_ppm, n_values`.
    */
  val benfordCellSql: String =
    """CAST(round(
      |  (CAST(obs AS DOUBLE) - CAST(n_values AS DOUBLE) * CAST(exp_ppm AS DOUBLE) / 1000000.0)
      |  * (CAST(obs AS DOUBLE) - CAST(n_values AS DOUBLE) * CAST(exp_ppm AS DOUBLE) / 1000000.0)
      |  / (CAST(n_values AS DOUBLE) * CAST(exp_ppm AS DOUBLE) / 1000000.0)
      |  * 1000000) AS BIGINT)""".stripMargin

  /** Oracle-SQL twin of the variance-to-mean ratio (index of
    * dispersion / Fano factor) from exact integer moments — the
    * Poisson sanity check (VMR ≈ 1 Poisson, ≫ 1 bursty). Expects
    * columns `n, s, ss`; NULL when n < 2 or the mean is 0.
    */
  val vmrMicroSql: String =
    """CASE WHEN n < 2 OR s = 0 THEN NULL
      | ELSE CAST(round(
      |   (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |   / CAST(n - 1 AS DOUBLE)
      |   / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |   * 1000000) AS BIGINT) END""".stripMargin

  /** Two-sample Anderson–Darling A² (Scholz–Stephens k-sample form,
    * midrank/ties version, k = 2) from the COUNT-compressed support
    * `(keyCol, aCntCol, bCntCol)` — the tail-sensitive member of the
    * drift family: KS (q154) sees only the single largest CDF gap,
    * AD integrates the squared gap with 1/(F(1−F)) weights, so
    * divergence IN THE TAILS (where F(1−F) → 0) is exactly what it
    * amplifies. Completes q118 PSI / q119+q154 KS / q151 JS / q165
    * MWU with the statistic practitioners reach for when tail drift
    * matters.
    *
    * Everything up to each block's cell is exact integer off ONE
    * [[Windows.shardedCumsum]] pass: doubled midrank cumulatives
    * B2 = 2·cum − t and per-sample M2 = 2·cum_i − c_i keep the
    * half-ranks integral, and the identity
    * (N·M − n·B)²/(B(N−B) − Nt/4) = (N·M2 − n·B2)²/(B2(2N−B2) − N·t)
    * clears the quarters. Each block's two cells are the one shared
    * double chain ([[adCellSql]]), micro-rounded, then summed as exact
    * integers (the q174 per-cell pattern). Degenerate blocks
    * (denominator ≤ 0 — a single all-value block) drop out. Int64
    * bound: N·M2 ≤ 2N² ⇒ exact to N ≈ 2·10⁹ pooled observations.
    * Output: one row `(na, nb, n_blocks, a2_micro)`.
    */
  def andersonDarlingMicroFromCounts(
      counts: DataFrame,
      keyCol: String,
      aCntCol: String,
      bCntCol: String,
      shardExpr: Column): DataFrame = {
    // feeds the totals BROADCAST and the cumsum — cached or the
    // caller's support subtree replays per consumer
    val base = graft.core.Caches.cache(counts
      .select(col(keyCol), col(aCntCol).as("ca"), col(bCntCol).as("cb"))
      .withColumn("tb", col("ca") + col("cb")))
    val tot = base.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    Windows
      .shardedCumsum(base, keyCol, Seq("ca", "cb", "tb"), shardExpr)
      .crossJoin(broadcast(tot))
      .withColumn("n_total", col("na") + col("nb"))
      .withColumn("b2", col("cum_tb") * 2 - col("tb"))
      .withColumn("m2a", col("cum_ca") * 2 - col("ca"))
      .withColumn("m2b", col("cum_cb") * 2 - col("cb"))
      .withColumn("denom",
        col("b2") * (col("n_total") * 2 - col("b2")) - col("n_total") * col("tb"))
      .filter(col("denom") > 0)
      .withColumn("cell_a", expr(adCellSql("a")))
      .withColumn("cell_b", expr(adCellSql("b")))
      .groupBy(col("na"), col("nb"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(col("cell_a") + col("cell_b")).as("a2_micro"))
  }

  /** Oracle-SQL twin of one sample's per-block Anderson–Darling cell
    * ((N−1)/N · t/(N·nᵢ) · (N·M2ᵢ − nᵢ·B2)²/denom, micro-rounded).
    * Expects columns `n_total, tb, b2, denom, n<s>, m2<s>`; NULL when
    * either sample is empty.
    */
  def adCellSql(sample: String): String = {
    val num = s"CAST(n_total * m2$sample - n$sample * b2 AS DOUBLE)"
    s"""CASE WHEN na = 0 OR nb = 0 THEN NULL
       | ELSE CAST(round(
       |  CAST(n_total - 1 AS DOUBLE) / CAST(n_total AS DOUBLE)
       |  * CAST(tb AS DOUBLE) / (CAST(n_total AS DOUBLE) * CAST(n$sample AS DOUBLE))
       |  * ($num * $num)
       |  / CAST(denom AS DOUBLE)
       |  * 1000000) AS BIGINT) END""".stripMargin
  }

  /** Oracle-SQL twin of the Fleiss κ chain for `nRaters` raters from
    * exact integer aggregates: `s2` = Σᵢⱼ n_ij² (n_ij = raters
    * assigning subject i to category j), `sc2` = Σⱼ(Σᵢ n_ij)²,
    * `n_docs` = N. P̄ = (s2 − N·n)/(N·n(n−1)), P̄ₑ = sc2/(N·n)²,
    * κ = (P̄ − P̄ₑ)/(1 − P̄ₑ) micro-rounded; NULL when N = 0 or the
    * raters are unanimous on one category everywhere (P̄ₑ = 1).
    */
  def fleissKappaSql(nRaters: Int): String = {
    val n = nRaters
    val pbar = s"((CAST(s2 AS DOUBLE) - CAST(n_docs AS DOUBLE) * $n.0)" +
      s" / (CAST(n_docs AS DOUBLE) * ${n * (n - 1)}.0))"
    val pe = s"(CAST(sc2 AS DOUBLE)" +
      s" / (CAST(n_docs AS DOUBLE) * $n.0 * CAST(n_docs AS DOUBLE) * $n.0))"
    s"""CASE WHEN n_docs = 0 OR sc2 = n_docs * n_docs * ${n * n} THEN NULL
       | ELSE CAST(round(($pbar - $pe) / (1.0 - $pe) * 1000000) AS BIGINT) END"""
      .stripMargin
  }

  /** Oracle-SQL twin of the difference-in-differences estimate in
    * micro units of the outcome, from the 8 exact integer cell
    * moments `(n_t1, s_t1, n_t2, s_t2, n_c1, s_c1, n_c2, s_c2)`
    * (t/c = treated/control, 1/2 = pre/post): (Δtreated − Δcontrol)
    * of the cell means; NULL when any cell is empty.
    */
  val didMicroSql: String = {
    def m(c: String) = s"CAST(s_$c AS DOUBLE) / CAST(n_$c AS DOUBLE)"
    s"""CASE WHEN n_t1 = 0 OR n_t2 = 0 OR n_c1 = 0 OR n_c2 = 0 THEN NULL
       | ELSE CAST(round(((${m("t2")} - ${m("t1")}) - (${m("c2")} - ${m("c1")}))
       |   * 1000000) AS BIGINT) END""".stripMargin
  }

  /** Wald SPRT per-observation log-likelihood-ratio increments for a
    * Bernoulli rate test of H1: p = 0.12 vs H0: p = 0.10, and the
    * symmetric decision bound ln((1−β)/α) at α = β = 0.05 —
    * precomputed micro literals (round(ln·1e6), the q138/Benford
    * pattern: no runtime transcendental on either side). A success
    * adds ln(p1/p0), a failure adds ln((1−p1)/(1−p0)); cross +bound →
    * accept H1, cross −bound → accept H0.
    */
  val SprtLlrSuccessMicro = 182322L
  val SprtLlrFailMicro = -22473L
  val SprtBoundMicro = 2944439L

  /** Ordinary-least-squares simple linear regression of `yCol` on
    * `xCol` (both integer-valued; one row per observation) — the
    * parametric trend line next to q159's Theil–Sen: five exact integer
    * moments from ONE map-side-combinable pass, then `slope_micro`
    * (micro y-units per x-unit), `intercept_micro` (micro y at x = 0)
    * and `r2_micro` as the shared double chains
    * ([[olsSlopeSql]]/[[olsInterceptSql]]/[[olsR2Sql]]), NULL when
    * n < 2 or x is constant (r² additionally NULL when y is constant).
    * Int64 bound on n·Σxy / n·Σx² / n·Σy²: guarded loud (the
    * [[spearmanRhoMicro]] pattern) — rescale x/y units past it.
    * Output: one row `(n, sx, sy, sxy, sx2, sy2, slope_micro,
    * intercept_micro, r2_micro)`.
    */
  def olsMicro(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val x = col(xCol)
    val y = col(yCol)
    df.agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"),
        sum(y).as("sy"),
        sum(x * y).as("sxy"),
        sum(x * x).as("sx2"),
        sum(y * y).as("sy2"))
      .withColumn("__ovf_ok", expr(
        """assert_true(
          |  coalesce(n, 0) = 0 OR (
          |    greatest(abs(sxy), sx2, sy2)
          |      <= 9223372036854775807 div greatest(n, 2)
          |    AND greatest(abs(sx), abs(coalesce(sy, 0))) <= 3037000499),
          |  'olsMicro: int64 moment overflow -- rescale x/y units')"""
          .stripMargin))
      .withColumn("slope_micro", when(col("__ovf_ok").isNull, expr(olsSlopeSql)))
      .withColumn("intercept_micro", when(col("__ovf_ok").isNull, expr(olsInterceptSql)))
      .withColumn("r2_micro", when(col("__ovf_ok").isNull, expr(olsR2Sql)))
      .drop("__ovf_ok")
  }

  /** Oracle-SQL twin of [[olsMicro]]'s `slope_micro`: (n·Σxy − Σx·Σy)
    * / (n·Σx² − Σx²), micro-rounded. Expects `n, sx, sy, sxy, sx2`.
    * The NUMERATOR runs in double on identically-cast factors (the
    * [[olsInterceptSql]] pattern): the guard bounds n·Σxy and Σx·Σy
    * each at ~int64max, so their DIFFERENCE can reach ~2·int64max with
    * opposite signs — int64 would wrap silently in Spark while DuckDB
    * promotes to HUGEINT. The denominator subtracts two NONNEGATIVE
    * guarded terms (n·Σx² ≥ 0, Σx² ≥ 0) and cannot wrap, so it stays
    * exact int64.
    */
  val olsSlopeSql: String =
    """CASE WHEN n < 2 OR n * sx2 - sx * sx = 0 THEN NULL
      | ELSE CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |   / CAST(n * sx2 - sx * sx AS DOUBLE) * 1000000) AS BIGINT) END""".stripMargin

  /** Oracle-SQL twin of [[olsMicro]]'s `intercept_micro`:
    * (Σy·Σx² − Σx·Σxy) / (n·Σx² − Σx²), micro-rounded. The numerator
    * products run in DOUBLE (each factor cast first): they are QUARTIC
    * in the value scale and overflow int64 already at micro-log
    * inputs (q241), while correctly-rounded double products on
    * identically-cast inputs stay bit-identical cross-engine.
    */
  val olsInterceptSql: String =
    """CASE WHEN n < 2 OR n * sx2 - sx * sx = 0 THEN NULL
      | ELSE CAST(round((CAST(sy AS DOUBLE) * CAST(sx2 AS DOUBLE)
      |     - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
      |   / CAST(n * sx2 - sx * sx AS DOUBLE) * 1000000) AS BIGINT) END""".stripMargin

  /** Oracle-SQL twin of [[olsMicro]]'s `r2_micro`: (n·Σxy − Σx·Σy)²
    * / ((n·Σx² − Σx²)(n·Σy² − Σy²)), micro-rounded. Numerator in
    * double for the same wrap reason as [[olsSlopeSql]]; both
    * denominator factors are nonnegative-minus-nonnegative and exact.
    */
  val olsR2Sql: String =
    """CASE WHEN n < 2 OR n * sx2 - sx * sx = 0 OR n * sy2 - sy * sy = 0 THEN NULL
      | ELSE CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |   * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |   / (CAST(n * sx2 - sx * sx AS DOUBLE) * CAST(n * sy2 - sy * sy AS DOUBLE))
      |   * 1000000) AS BIGINT) END""".stripMargin

  /** Brown–Forsythe robust variance-homogeneity test (Levene's W on
    * absolute deviations from the GROUP MEDIAN — the outlier-robust
    * variant practitioners default to) across the dynamic classes of
    * `classCol`, on integer `valueCol`. "Do purchase and click order
    * values merely shift, or does their SPREAD differ" — the variance
    * sibling of the location tests (q165 MWU / q183 Welch).
    *
    * Shape: everything runs on the (class × value) COUNT-compressed
    * support — group medians via [[medianFromCounts]] (sharded, never a
    * raw-row window), deviations re-keyed on the support, and per-class
    * integer moments (nᵢ, Σz, Σz²). The between/within double cells are
    * micro-rounded PER CLASS then exactly summed (the q174 per-cell
    * pattern), so no cross-row double accumulation order exists; W is
    * the one final chain ([[bfWSql]]), NULL when k < 2 or the within
    * term is 0. Int64 bound on Σz²·c: guarded loud — rescale units.
    * Output: one row `(k, n_total, num_micro, den_micro, w_micro)`.
    */
  def brownForsytheMicro(
      df: DataFrame,
      valueCol: String,
      classCol: String,
      shardExpr: Column): DataFrame = {
    // support feeds the median pass AND the z join; perClass feeds the
    // totals BROADCAST and the main projection — cache the support,
    // eagerly materialize the class-grain perClass (the q126/q301 rule)
    val support = graft.core.Caches.cache(df
      .groupBy(col(classCol), col(valueCol))
      .agg(count(lit(1)).as("c")))
    val med = medianFromCounts(
      support, Seq(classCol), valueCol, "c", shardExpr, "med")
      .select(col(classCol), col("med"))
    val z = support
      .join(broadcast(med), Seq(classCol))
      .withColumn("z", abs(col(valueCol) - col("med")))
    val perClass = z
      .groupBy(col(classCol))
      .agg(
        sum(col("c")).as("ni"),
        sum(col("z") * col("c")).as("si"),
        sum(col("z") * col("z") * col("c")).as("ssi"),
        max(col("z")).as("__max_z"))
      .localCheckpoint(true)
    val tot = perClass.agg(
      count(lit(1)).as("k"),
      sum(col("ni")).as("n_total"),
      sum(col("si")).as("s_total"))
    perClass
      .crossJoin(broadcast(tot))
      .withColumn("__ovf_ok", expr(
        """assert_true(
          |  coalesce(ni, 0) = 0 OR
          |  cast(ni as double) * cast(__max_z as double) * cast(__max_z as double) < 9.1e18,
          |  'brownForsytheMicro: int64 sum-of-squares overflow -- rescale the value')"""
          .stripMargin))
      .withColumn("cell_num", when(col("__ovf_ok").isNull, expr(bfCellNumSql)))
      .withColumn("cell_den", expr(bfCellDenSql))
      .groupBy(col("k"), col("n_total"))
      .agg(
        sum(col("cell_num")).as("num_micro"),
        sum(col("cell_den")).as("den_micro"))
      .withColumn("w_micro", expr(bfWSql))
  }

  /** One-way ANOVA F across the dynamic classes of `classCol` on
    * integer `valueCol` — the parametric location test completing the
    * k-group family: q170's Kruskal–Wallis compares RANKS, this
    * compares MEANS (efficient when the groups are roughly normal).
    * Identical shape and cell templates as [[brownForsytheMicro]]
    * (which IS this statistic applied to |x − median|): per-class
    * exact integer moments, between/within double cells micro-rounded
    * per class then exactly summed, one final
    * ((N−k)/(k−1))·SSB/SSW chain. Output: one row
    * `(k, n_total, num_micro, den_micro, f_micro)`.
    */
  def anovaFMicro(
      df: DataFrame,
      valueCol: String,
      classCol: String): DataFrame = {
    // class-grain, feeds the totals BROADCAST and the main projection —
    // eagerly materialized or the fact aggregation replays per consumer
    val perClass = df
      .groupBy(col(classCol))
      .agg(
        count(lit(1)).as("ni"),
        sum(col(valueCol)).as("si"),
        sum(col(valueCol) * col(valueCol)).as("ssi"),
        max(abs(col(valueCol))).as("__max_z"))
      .localCheckpoint(true)
    val tot = perClass.agg(
      count(lit(1)).as("k"),
      sum(col("ni")).as("n_total"),
      sum(col("si")).as("s_total"))
    perClass
      .crossJoin(broadcast(tot))
      .withColumn("__ovf_ok", expr(
        """assert_true(
          |  coalesce(ni, 0) = 0 OR
          |  cast(ni as double) * cast(__max_z as double) * cast(__max_z as double) < 9.1e18,
          |  'anovaFMicro: int64 sum-of-squares overflow -- rescale the value')"""
          .stripMargin))
      .withColumn("cell_num", when(col("__ovf_ok").isNull, expr(bfCellNumSql)))
      .withColumn("cell_den", expr(bfCellDenSql))
      .groupBy(col("k"), col("n_total"))
      .agg(
        sum(col("cell_num")).as("num_micro"),
        sum(col("cell_den")).as("den_micro"))
      .withColumn("f_micro", expr(bfWSql))
  }

  /** Oracle-SQL twin of one class's Brown–Forsythe BETWEEN cell
    * nᵢ·(z̄ᵢ − z̄)², micro-rounded. Expects `ni, si, n_total, s_total`.
    */
  val bfCellNumSql: String =
    """CAST(round(CAST(ni AS DOUBLE)
      | * (CAST(si AS DOUBLE) / CAST(ni AS DOUBLE) - CAST(s_total AS DOUBLE) / CAST(n_total AS DOUBLE))
      | * (CAST(si AS DOUBLE) / CAST(ni AS DOUBLE) - CAST(s_total AS DOUBLE) / CAST(n_total AS DOUBLE))
      | * 1000000) AS BIGINT)""".stripMargin

  /** Oracle-SQL twin of one class's Brown–Forsythe WITHIN cell
    * Σz² − (Σz)²/nᵢ, micro-rounded. Expects `ni, si, ssi`.
    */
  val bfCellDenSql: String =
    """CAST(round((CAST(ssi AS DOUBLE)
      | - CAST(si AS DOUBLE) * CAST(si AS DOUBLE) / CAST(ni AS DOUBLE))
      | * 1000000) AS BIGINT)""".stripMargin

  /** Oracle-SQL twin of the final Brown–Forsythe W chain
    * ((N−k)/(k−1)) · num/den, micro-rounded. Expects
    * `k, n_total, num_micro, den_micro`.
    */
  val bfWSql: String =
    """CASE WHEN k < 2 OR den_micro = 0 THEN NULL
      | ELSE CAST(round(CAST(n_total - k AS DOUBLE) / CAST(k - 1 AS DOUBLE)
      |   * CAST(num_micro AS DOUBLE) / CAST(den_micro AS DOUBLE)
      |   * 1000000) AS BIGINT) END""".stripMargin

  /** Friedman rank test (Conover tie-corrected form) on COMPLETE blocks
    * of `(blockCol, treatCol, valueCol)` — one row per (block,
    * treatment), e.g. "does any event type's DAILY volume rank
    * consistently above the others across days": the k-treatment
    * repeated-measures sibling of [[kruskalWallisMicro]] (KW pools all
    * observations; Friedman ranks WITHIN each block, removing the
    * block effect). Blocks missing any treatment are dropped.
    *
    * Pure integer end-to-end via doubled midranks (the mid2 trick,
    * computed per block — a k-row partitioned window, never global):
    * with R2ⱼ = Σ_blocks mid2 and A2 = Σ mid2², Conover's
    * χ² = (k−1)·Σⱼ(Rⱼ − n(k+1)/2)² / (ΣᵢⱼR²ᵢⱼ − nk(k+1)²/4) equals
    * (k−1)·Σⱼ(R2ⱼ − n(k+1))² / (A2 − nk(k+1)²) exactly — one integer
    * floor division, no doubles at all; NULL when the denominator is 0
    * (all treatments tied in every block). Output: one row
    * `(k, n_blocks, a2, num_sq, chi2_micro)`.
    */
  def friedmanMicro(
      df: DataFrame,
      blockCol: String,
      treatCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kTot = df.agg(countDistinct(col(treatCol)).as("k"))
    val complete = df
      .withColumn(
        "__bsz",
        count(lit(1)).over(Window.partitionBy(col(blockCol))))
      .crossJoin(broadcast(kTot))
      .filter(col("__bsz") === col("k"))
    val wRank = Window.partitionBy(col(blockCol)).orderBy(col(valueCol))
    val wTie = Window.partitionBy(col(blockCol), col(valueCol))
    val ranked = complete
      .withColumn("__cb", rank().over(wRank) - 1)
      .withColumn("__t", count(lit(1)).over(wTie))
      .withColumn("mid2", col("__cb") * 2 + col("__t") + 1)
    val perTreat = ranked
      .groupBy(col("k"), col(treatCol))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(col("mid2")).as("r2j"),
        sum(col("mid2") * col("mid2")).as("a2j"))
    perTreat
      .groupBy(col("k"), col("n_blocks"))
      .agg(
        sum(col("a2j")).as("a2"),
        sum((col("r2j") - col("n_blocks") * (col("k") + 1))
          * (col("r2j") - col("n_blocks") * (col("k") + 1))).as("num_sq"))
      .withColumn(
        "chi2_micro",
        expr("""CASE WHEN a2 - n_blocks * k * (k + 1) * (k + 1) = 0 THEN NULL
               | ELSE (k - 1) * num_sq * 1000000
               |   div (a2 - n_blocks * k * (k + 1) * (k + 1)) END""".stripMargin))
  }

  /** Cochran–Armitage trend test from the COUNT-compressed ordered
    * support `(scoreCol, nCol, rCol)` — nᵢ trials and rᵢ successes at
    * integer score wᵢ: "does the purchase RATE rise monotonically with
    * the price band", the dose-response test a k×2 χ² (q174) throws
    * away the ordering for. Five exact integer moments off the
    * support; `z_micro` is the one double chain ([[caZSql]]):
    * T = Σwᵢrᵢ − R·Σwᵢnᵢ/N over √(p̄(1−p̄)(Σwᵢ²nᵢ − (Σwᵢnᵢ)²/N)),
    * NULL when the variance term is 0 (constant score or p̄ ∈ {0,1}).
    * Output: one row `(n, r, swn, swr, sw2n, z_micro)`.
    */
  def cochranArmitageMicro(
      counts: DataFrame,
      scoreCol: String,
      nCol: String,
      rCol: String): DataFrame = {
    val w = col(scoreCol)
    counts
      .agg(
        sum(col(nCol)).as("n"),
        sum(col(rCol)).as("r"),
        sum(w * col(nCol)).as("swn"),
        sum(w * col(rCol)).as("swr"),
        sum(w * w * col(nCol)).as("sw2n"))
      .withColumn("z_micro", expr(caZSql))
  }

  /** Oracle-SQL twin of [[cochranArmitageMicro]]'s `z_micro`. Expects
    * `n, r, swn, swr, sw2n`.
    */
  val caZSql: String = {
    val p = "(CAST(r AS DOUBLE) / CAST(n AS DOUBLE))"
    val varW =
      s"($p * (1.0 - $p) * (CAST(sw2n AS DOUBLE) - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE) / CAST(n AS DOUBLE)))"
    s"""CASE WHEN n = 0 OR r = 0 OR r = n
       |   OR n * sw2n - swn * swn = 0 THEN NULL
       | ELSE CAST(round(
       |   (CAST(swr AS DOUBLE) - CAST(r AS DOUBLE) * CAST(swn AS DOUBLE) / CAST(n AS DOUBLE))
       |   / sqrt($varW) * 1000000) AS BIGINT) END""".stripMargin
  }

  /** Durbin–Watson statistic per `partCols` group on the series
    * `(orderCol, valueCol)` — first-order autocorrelation of the
    * residuals from the group mean: DW ≈ 2 means independent
    * fluctuations, → 0 positively-correlated runs, → 4 alternation.
    * The q162 autocorrelation states the lag-1 correlation itself; DW
    * is the regression-diagnostics form auditors ask for. Consecutive
    * OBSERVED points are differenced (callers gap-fill first if
    * calendar adjacency matters).
    *
    * Pure integer: multiplying numerator and denominator by n turns
    * Σ(eₜ−eₜ₋₁)²/Σeₜ² into n·Σd² / (n·Σv² − s²) exactly (the mean
    * cancels in the differences), so `dw_micro` is one floor division.
    * NULL when n < 2 or the series is constant. The lag-1 difference
    * is a `partCols`-partitioned window — never global. Output: one
    * row per group `(partCols..., n, s, ss, sd2, dw_micro)`.
    */
  def durbinWatsonMicro(
      df: DataFrame,
      partCols: Seq[String],
      orderCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(partCols.map(col): _*)
      .orderBy(col(orderCol))
    val diffed = df
      .withColumn("__d", col(valueCol) - lag(col(valueCol), 1).over(w))
    diffed
      .groupBy(partCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol)).as("s"),
        sum(col(valueCol) * col(valueCol)).as("ss"),
        coalesce(sum(col("__d") * col("__d")), lit(0L)).as("sd2"))
      .withColumn(
        "dw_micro",
        expr("""CASE WHEN n < 2 OR n * ss - s * s = 0 THEN NULL
               | ELSE n * sd2 * 1000000 div (n * ss - s * s) END""".stripMargin))
  }

  /** Cronbach's α internal-consistency reliability of the k-item
    * instrument `(subjectCol, itemCol, valueCol)` (one row per
    * OBSERVED subject×item; absent cells are zeros — correct by
    * construction, since zero cells add nothing to any moment and the
    * subject count comes from the distinct subjects): do the k items
    * measure one underlying trait (α → 1) or unrelated things (α → 0)?
    * The standard pre-check before summing per-type engagement counts
    * into one "activity score".
    *
    * Exact integers end-to-end: with N subjects, Σᵢvarᵢ/var_T =
    * Σᵢ(N·ssᵢ − sᵢ²) / (N·SST − ST²) — the (N−1)N denominators cancel
    * — so both variance masses are exact integer sums
    * (`item_var_mass`, `total_var_mass`) and α = k/(k−1)·(1 − A/B) is
    * the one double chain ([[cronbachAlphaSql]]), NULL when k < 2 or
    * B = 0. Output: one row
    * `(k, n_subjects, item_var_mass, total_var_mass, alpha_micro)`.
    */
  def cronbachAlphaMicro(
      df: DataFrame,
      subjectCol: String,
      itemCol: String,
      valueCol: String): DataFrame = {
    val perItem = df
      .groupBy(col(itemCol))
      .agg(
        sum(col(valueCol)).as("si"),
        sum(col(valueCol) * col(valueCol)).as("ssi"))
    val perSubject = df
      .groupBy(col(subjectCol))
      .agg(sum(col(valueCol)).as("t"))
    val totals = perSubject.agg(
      count(lit(1)).as("n_subjects"),
      sum(col("t")).as("st"),
      sum(col("t") * col("t")).as("sst"))
    perItem
      .crossJoin(broadcast(totals))
      .groupBy(col("n_subjects"), col("st"), col("sst"))
      .agg(
        count(lit(1)).as("k"),
        sum(col("n_subjects") * col("ssi") - col("si") * col("si"))
          .as("item_var_mass"))
      .withColumn("total_var_mass", col("n_subjects") * col("sst") - col("st") * col("st"))
      .withColumn("alpha_micro", expr(cronbachAlphaSql))
      .select(
        col("k"), col("n_subjects"), col("item_var_mass"),
        col("total_var_mass"), col("alpha_micro"))
  }

  /** Oracle-SQL twin of [[cronbachAlphaMicro]]'s `alpha_micro`:
    * k/(k−1)·(1 − A/B), micro-rounded. Expects
    * `k, item_var_mass, total_var_mass`.
    */
  val cronbachAlphaSql: String =
    """CASE WHEN k < 2 OR total_var_mass = 0 THEN NULL
      | ELSE CAST(round(CAST(k AS DOUBLE) / CAST(k - 1 AS DOUBLE)
      |   * (1.0 - CAST(item_var_mass AS DOUBLE) / CAST(total_var_mass AS DOUBLE))
      |   * 1000000) AS BIGINT) END""".stripMargin

  /** Hill estimator of the power-law tail index over the top of a
    * COUNT-compressed popularity table `(idCol, cntCol)`: α̂ = 1 +
    * m / Σᵢ ln(xᵢ/x_min) over the m largest counts, with x_min the
    * (m+1)-th order statistic — "how heavy is the head of the item
    * distribution", the quantitative companion to q81's Zipf
    * HISTOGRAM. Selection is a global top-(m+1) by (count DESC, id
    * ASC) — `TakeOrderedAndProject`, never a global window — and ties
    * AT x_min contribute exactly 0 (ln 1), so keeping them in the sum
    * changes nothing. Per-item ln contributions are quantized to NANO
    * before the exact integer sum (the suite's ln rule), and α lands
    * as pure integer floor math: 1e6 + n_tail·1e15 div Σnano. With
    * fewer than m+2 distinct ids the tail shrinks to what exists
    * (n_tail = rows − 1). NULL when the whole tail ties (Σ = 0).
    * Output: one row `(n_tail, x_min, sum_ln_nano, alpha_micro)`.
    */
  def hillTailAlphaMicro(
      counts: DataFrame,
      idCol: String,
      cntCol: String,
      m: Int): DataFrame = {
    // (m+1)-row head, feeds the x_min BROADCAST and the main projection
    // — eagerly materialized or the counts TakeOrdered replays per
    // consumer
    val top = counts
      .select(col(idCol).as("__id"), col(cntCol).as("__c"))
      .orderBy(col("__c").desc, col("__id").asc)
      .limit(m + 1)
      .localCheckpoint(true)
    val xmin = top.agg(min(col("__c")).as("x_min"))
    top
      .crossJoin(broadcast(xmin))
      .withColumn(
        "__ln_nano",
        round(log(col("__c").cast("double") / col("x_min").cast("double")) *
          lit(1000000000L)).cast("long"))
      .groupBy(col("x_min"))
      .agg(
        (count(lit(1)) - 1L).as("n_tail"),
        sum(col("__ln_nano")).as("sum_ln_nano"))
      .withColumn(
        "alpha_micro",
        expr("""CASE WHEN sum_ln_nano = 0 THEN NULL
               | ELSE 1000000 + n_tail * 1000000000000000 div sum_ln_nano END"""
          .stripMargin))
      .select(col("n_tail"), col("x_min"), col("sum_ln_nano"), col("alpha_micro"))
  }

  /** Isotonic (monotone non-decreasing) calibration fit over a BOUNDED
    * ordered support `(bandCol, nCol, sCol)` — nᵢ trials, sᵢ successes
    * per score band: the calibration map behind "turn the model score
    * into a probability that can only go UP with the score" (q136
    * reports raw per-bin rates; this is the PAVA fit practitioners
    * apply on top). Uses the minimax characterization of isotonic L2
    * regression — fit(b) = max_{j≤b} min_{k≥b} rate(j..k) with
    * rate(j..k) the pooled ppm rate of the contiguous band interval —
    * which is pure integer here: pooled rates are single floor
    * divisions of cumulative-count differences, and min/max over
    * integers is exact. (Interval rates are ppm-FLOORED before the
    * minimax, the documented quantization of this contract.)
    *
    * Scale: the support is CONTRACT-BOUNDED (score bands: tens, never
    * facts) — the interval enumeration is |bands|² rows and the
    * band×interval attach |bands|³, all broadcast-sized; the input
    * aggregation upstream is the only fact-sized work. Output: one row
    * per band `(bandCol, n, s, raw_ppm, iso_ppm)`.
    */
  def isotonicFitPpm(
      counts: DataFrame,
      bandCol: String,
      nCol: String,
      sCol: String): DataFrame = {
    // band-grain (contract-bounded), feeds FOUR consumers (j, k, the
    // fit probe, the final attach) — eagerly materialized or the
    // upstream fact aggregation replays per consumer
    val cums = Windows
      .shardedCumsum(
        counts.select(
          col(bandCol).as("band"), col(nCol).as("n"), col(sCol).as("s")),
        "band", Seq("n", "s"), expr("band div 4"))
      .select(col("band"), col("n"), col("s"), col("cum_n"), col("cum_s"))
      .localCheckpoint(true)
    val j = cums.select(
      col("band").as("jb"),
      (col("cum_n") - col("n")).as("n_before"),
      (col("cum_s") - col("s")).as("s_before"))
    val k = cums.select(
      col("band").as("kb"), col("cum_n").as("n_to"), col("cum_s").as("s_to"))
    // k is band-grain (contract-bounded) but comes off the checkpointed
    // cums, which erased its size stats — hint the broadcast explicitly
    // or the non-equi join can plan as an unpinned BNLJ-over-unknown
    // (the round-9 post-checkpoint rule, matching the joins below)
    val intervals = j
      .join(broadcast(k), col("jb") <= col("kb"))
      .select(
        col("jb"), col("kb"),
        expr("(s_to - s_before) * 1000000 div (n_to - n_before)").as("rate_ppm"))
    val fit = cums
      .select(col("band"))
      .join(broadcast(intervals), col("jb") <= col("band") && col("band") <= col("kb"))
      .groupBy(col("band"), col("jb"))
      .agg(min(col("rate_ppm")).as("mn"))
      .groupBy(col("band"))
      .agg(max(col("mn")).as("iso_ppm"))
    cums
      .join(broadcast(fit), Seq("band"))
      .select(
        col("band").as(bandCol), col("n"), col("s"),
        expr("s * 1000000 div n").as("raw_ppm"), col("iso_ppm"))
  }

  /** Oracle-SQL twin of the classic two-proportion z test from the
    * four exact integer cells `(n1, r1, n2, r2)`:
    * z = (p₁ − p₂) / √(p̄(1−p̄)(1/n₁ + 1/n₂)), micro-rounded; NULL
    * when either group is empty or the pooled rate is degenerate
    * (p̄ ∈ {0,1}). The unpaired sibling of [[mcnemarMicro]] (paired)
    * and the 2-group base case of [[cochranArmitageMicro]].
    */
  val twoPropZSql: String = {
    val p1 = "(CAST(r1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    val p2 = "(CAST(r2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    val pb = "(CAST(r1 + r2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
    s"""CASE WHEN n1 = 0 OR n2 = 0 OR r1 + r2 = 0 OR r1 + r2 = n1 + n2 THEN NULL
       | ELSE CAST(round(($p1 - $p2)
       |   / sqrt($pb * (1.0 - $pb) * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
       |   * 1000000) AS BIGINT) END""".stripMargin
  }

  /** Mann–Kendall trend test on the series `(timeCol, valueCol)` (one
    * row per time point, times unique): S = Σ_{i<j} sign(xⱼ − xᵢ) —
    * "is the series monotonically drifting", the nonparametric trend
    * TEST next to q159's Theil–Sen slope ESTIMATE (literally the same
    * pair enumeration; MK is the significance half Theil–Sen lacks).
    * S and the tie term Σt(t−1)(2t+5) are exact integers off the
    * pairwise join; `z_micro` is the one continuity-corrected double
    * chain ([[mkZSql]]), NULL when the variance term is ≤ 0.
    *
    * Scale: the pair join is |rows|² — BOUNDED series only (daily
    * aggregates, the [[kendallTauBMicro]] adjudication), never facts.
    * Output: one row `(n, s, ties_term, z_micro)`.
    */
  def mannKendallMicro(
      df: DataFrame,
      timeCol: String,
      valueCol: String): DataFrame = {
    // the input feeds both pair-join sides AND the tie aggregate —
    // cached so the caller's subtree runs once across the three pulls
    val base = graft.core.Caches.cache(df)
    val a = base.select(col(timeCol).as("ta"), col(valueCol).as("xa"))
    val b = base.select(col(timeCol).as("tb"), col(valueCol).as("xb"))
    val s = a.join(b, col("ta") < col("tb"))
      .agg((Aggregates.countIf(col("xb") > col("xa")) -
        Aggregates.countIf(col("xb") < col("xa"))).as("s"))
    val ties = base
      .groupBy(col(valueCol)).agg(count(lit(1)).as("t"))
      .agg(
        sum(col("t")).as("n"),
        sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("ties_term"))
    ties
      .crossJoin(broadcast(s))
      .select(col("n"), col("s"), col("ties_term"))
      .withColumn("z_micro", expr(mkZSql))
  }

  /** Oracle-SQL twin of [[mannKendallMicro]]'s continuity-corrected
    * `z_micro`. Expects `n, s, ties_term`.
    */
  val mkZSql: String = {
    val varS =
      "((CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * CAST(2 * n + 5 AS DOUBLE)" +
        " - CAST(ties_term AS DOUBLE)) / 18.0)"
    s"""CASE WHEN $varS <= 0 THEN NULL
       | WHEN s = 0 THEN 0
       | WHEN s > 0 THEN CAST(round(CAST(s - 1 AS DOUBLE) / sqrt($varS) * 1000000) AS BIGINT)
       | ELSE CAST(round(CAST(s + 1 AS DOUBLE) / sqrt($varS) * 1000000) AS BIGINT) END"""
      .stripMargin
  }

  /** Wald–Wolfowitz runs test on the above/below-median sign sequence
    * of `(orderCol, valueCol)` — "are the highs and lows RANDOMLY
    * interleaved, or do they clump" (too few runs = regime clumping,
    * too many = alternation; the q204 DW question asked of signs, not
    * magnitudes). Values EQUAL to the median drop (the standard
    * convention). The kept rows are re-ranked by a sharded cumulative
    * count — never a global window — and adjacency is the rank+1
    * self-join; runs = 1 + sign changes. `z_micro` is the one double
    * chain ([[runsZSql]]), NULL when either sign class is empty.
    * Output: one row `(n_above, n_below, n_runs, z_micro)`.
    *
    * `shardExpr` shards the VALUE support for the median's
    * histogram-collect only; the rank cumsum shards on `orderCol div
    * 8` internally and therefore requires an INTEGRAL `orderCol`
    * (non-integer order keys need a pre-projected integer rank).
    */
  def runsTestMicro(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      shardExpr: Column): DataFrame = {
    val med = medianFromCounts(
      df.groupBy(col(valueCol)).agg(count(lit(1)).as("c")),
      Nil, valueCol, "c", shardExpr, "med")
      .select(col("med"))
    // signed feeds BOTH the cumsum chain (itself self-joined below) and
    // the cnt aggregate, and the cnt path runs concurrently with the
    // broadcast(changes) build — a lazy cache races there (the q227
    // rule), so both multi-referenced frames are eagerly materialized.
    // Input is day-grain (calendar-bounded): the checkpoints are tiny.
    val signed = df
      .crossJoin(broadcast(med))
      .filter(col(valueCol) =!= col("med"))
      .select(
        col(orderCol),
        when(col(valueCol) > col("med"), lit(1L)).otherwise(lit(0L)).as("sgn"),
        lit(1L).as("one"))
      .localCheckpoint(true)
    val ranked = Windows
      .shardedCumsum(signed, orderCol, Seq("one"), shardExpr = expr(
        s"$orderCol div 8"))
      .select(col("cum_one").as("rk"), col("sgn"))
      .localCheckpoint(true)
    val changes = ranked
      .join(
        // checkpointing erased size stats — hint the shifted side or
        // Spark plans a sort-merge and shuffles both (round-9 rule).
        broadcast(ranked.select((col("rk") - 1).as("rk"), col("sgn").as("sgn_next"))),
        Seq("rk"))
      // coalesce mirrors the oracle's COALESCE(SUM(...), 0): with a
      // single non-median row the adjacency join is EMPTY and the
      // sum-based countIf would yield NULL n_changes / NULL n_runs
      // while the oracle emits n_runs = 1.
      .agg(coalesce(
        Aggregates.countIf(col("sgn") =!= col("sgn_next")), lit(0L))
        .as("n_changes"))
    val cnt = signed.agg(
      Aggregates.countIf(col("sgn") === 1).as("n_above"),
      Aggregates.countIf(col("sgn") === 0).as("n_below"))
    cnt
      .crossJoin(broadcast(changes))
      .select(
        col("n_above"), col("n_below"),
        (col("n_changes") + 1).as("n_runs"))
      .withColumn("z_micro", expr(runsZSql))
  }

  /** Oracle-SQL twin of [[runsTestMicro]]'s `z_micro`:
    * μ = 2n₁n₂/(n₁+n₂) + 1, σ² = 2n₁n₂(2n₁n₂−n₁−n₂)/((n₁+n₂)²(n₁+n₂−1)),
    * z = (R−μ)/σ. Expects `n_above, n_below, n_runs`.
    */
  val runsZSql: String = {
    val m = "(2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE))"
    val nt = "(CAST(n_above + n_below AS DOUBLE))"
    s"""CASE WHEN n_above = 0 OR n_below = 0 OR n_above + n_below < 2 THEN NULL
       | ELSE CAST(round(
       |   (CAST(n_runs AS DOUBLE) - ($m / $nt + 1.0))
       |   / sqrt($m * ($m - $nt) / ($nt * $nt * ($nt - 1.0)))
       |   * 1000000) AS BIGINT) END""".stripMargin
  }

  /** Simple-exponential-smoothing weights α(1−α)^i at α = 0.3,
    * nano-quantized literals for lags 0..n−1 — computed ONCE here and
    * injected as constants into BOTH the engine plan and the oracle
    * SQL (the Benford/discount-table pattern: no runtime pow() on
    * either side, so no libm drift). Callers normalize by the INCLUDED
    * weight mass, which makes missing days and the finite window
    * self-correcting.
    */
  def sesWeightsNano(n: Int = 30): Seq[(Long, Long)] =
    (0 until n).map(i =>
      (i.toLong, math.round(0.3 * math.pow(0.7, i) * 1e9)))

  /** Holt linear-trend smoothing as LITERAL coefficients (the
    * [[sesWeightsNano]] pattern, one level up): because the level/trend
    * recursions l_t = αy_t + (1−α)(l_{t−1}+b_{t−1}),
    * b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1} (init l₁ = y₁, b₁ = y₂−y₁)
    * are LINEAR in the observations, the final l_n and b_n are fixed
    * linear combinations of y₁..y_n — unrolled symbolically here once,
    * nano-quantized, and injected as constants into BOTH engines. No
    * runtime pow()/recursion; a ZERO-FILLED fixed n-day window makes
    * the coefficient vector data-independent.
    * Returns (lag, c_level_nano, c_trend_nano) for lag 0 (newest) …
    * n−1 (oldest). Forecast h steps out: l_n + h·b_n.
    */
  def holtCoeffsNano(
      n: Int = 28,
      alpha: Double = 0.5,
      beta: Double = 0.3): Seq[(Long, Long, Long)] = {
    require(n >= 2, "holt needs at least 2 observations")
    var lPrev = Array.tabulate(n)(i => if (i == 0) 1.0 else 0.0)
    var bPrev = Array.tabulate(n)(i =>
      if (i == 1) 1.0 else if (i == 0) -1.0 else 0.0)
    for (t <- 2 to n) {
      val lNext = Array.tabulate(n)(i =>
        (if (i == t - 1) alpha else 0.0) + (1 - alpha) * (lPrev(i) + bPrev(i)))
      val bNext = Array.tabulate(n)(i =>
        beta * (lNext(i) - lPrev(i)) + (1 - beta) * bPrev(i))
      lPrev = lNext
      bPrev = bNext
    }
    (0 until n).map(i =>
      ((n - 1 - i).toLong, math.round(lPrev(i) * 1e9), math.round(bPrev(i) * 1e9)))
  }

  /** Oracle-SQL twin of the seasonality-strength double chain
    * (Hyndman's F_s): max(0, 1 − VarR/VarD) on exact integer moments,
    * micro-rounded. Expects `n, sd, sd2, sr, sr2` (detrended and
    * residual components, identically quantized on both sides). Both
    * variance terms subtract NONNEGATIVE guarded products — no int64
    * wrap (the olsSlopeSql denominator argument).
    */
  val seasonalStrengthSql: String =
    """CASE WHEN n < 2 OR n * sd2 - sd * sd = 0 THEN NULL
      | ELSE CAST(round(greatest(0.0,
      |   1.0 - CAST(n * sr2 - sr * sr AS DOUBLE)
      |     / CAST(n * sd2 - sd * sd AS DOUBLE)) * 1000000) AS BIGINT) END""".stripMargin

  /** Kendall rank correlation τ-b between paired series `(xCol, yCol)`
    * (one row per observation; `tieCol` must be unique — pairs are
    * enumerated once as tie < tie). Concordant/discordant/tied pair
    * counts are exact integers from the pairwise join; `tau_b_micro`
    * is the one double chain (÷ √((n0−n1)(n0−n2))), micro-rounded
    * identically in the oracle.
    *
    * Scale: the pair join is |rows|² — intended for BOUNDED series
    * (daily aggregates: the q159 Theil–Sen regime), never facts.
    */
  def kendallTauBMicro(
      df: DataFrame,
      xCol: String,
      yCol: String,
      tieCol: String): DataFrame = {
    val a = df.select(
      col(tieCol).as("ka"), col(xCol).as("xa"), col(yCol).as("ya"))
    val b = df.select(
      col(tieCol).as("kb"), col(xCol).as("xb"), col(yCol).as("yb"))
    a.join(b, col("ka") < col("kb"))
      .agg(
        count(lit(1)).as("n0"),
        Aggregates
          .countIf((col("xa") - col("xb")) * (col("ya") - col("yb")) > 0)
          .as("n_c"),
        Aggregates
          .countIf((col("xa") - col("xb")) * (col("ya") - col("yb")) < 0)
          .as("n_d"),
        Aggregates.countIf(col("xa") === col("xb")).as("ties_x"),
        Aggregates.countIf(col("ya") === col("yb")).as("ties_y"))
      .withColumn(
        "tau_b_micro",
        expr("""CAST(round(CAST(n_c - n_d AS DOUBLE)
               | / sqrt(CAST(n0 - ties_x AS DOUBLE) * CAST(n0 - ties_y AS DOUBLE))
               | * 1000000) AS BIGINT)""".stripMargin))
  }

  /** Mutual information between two categorical columns, in quantized
    * nano-nats — the information-theoretic sibling of Cramér's V
    * (q174) and the strength measure behind the FD audit (q286): how
    * many bits of one column the other actually carries (feature
    * selection, leakage screening, redundant-metadata detection).
    *
    * Determinism: the q227 NMI conventions exactly — per-cell /
    * per-margin contributions are `round(p·ln(…)·10⁹)` longs summed
    * exactly; `nmi_micro = round(2·MI/(H_x+H_y)·10⁶)` as the one final
    * double division.
    *
    * Shape: one map-side-combined exchange on the (x, y) cell key —
    * after it everything is contingency-table-rate. The cell table is
    * eagerly materialized (it fans out into the margin/total broadcast
    * jobs — the q227 concurrent-broadcast rule).
    *
    * Output (one row): (pair, n, mi_nano, h_x_nano, h_y_nano,
    * nmi_micro).
    */
  def mutualInfoNano(
      df: DataFrame,
      xCol: String,
      yCol: String,
      pairName: String): DataFrame = {
    val cells = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).cast("string").as("x"), col(yCol).cast("string").as("y"))
      .agg(count(lit(1)).as("nij"))
      .localCheckpoint(true)
    val nt = cells.agg(sum(col("nij")).as("n"))
    // margins are margin-grain (bounded by column cardinality) and each
    // fans out into TWO broadcast builds (the MI join side and the
    // marginal-entropy aggregate) — broadcasts build on concurrent
    // threads and race past a lazy cache (the q227 rule), so
    // materialize eagerly like the cell table.
    val rws =
      cells.groupBy(col("x")).agg(sum(col("nij")).as("ni")).localCheckpoint(true)
    val cls =
      cells.groupBy(col("y")).agg(sum(col("nij")).as("nj")).localCheckpoint(true)
    val mi = cells
      .join(broadcast(rws), Seq("x"))
      .join(broadcast(cls), Seq("y"))
      .crossJoin(broadcast(nt))
      .select(expr(
        """CAST(round(CAST(nij AS DOUBLE) / CAST(n AS DOUBLE)
          | * ln(CAST(n AS DOUBLE) * CAST(nij AS DOUBLE)
          |      / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE)))
          | * 1000000000) AS BIGINT)""".stripMargin).as("cell"))
      .agg(sum(col("cell")).as("mi_nano"))
    def marginalH(m: DataFrame, c: String, out: String) = m
      .crossJoin(broadcast(nt))
      .select(expr(
        s"""CAST(round(CAST($c AS DOUBLE) / CAST(n AS DOUBLE)
           | * ln(CAST(n AS DOUBLE) / CAST($c AS DOUBLE))
           | * 1000000000) AS BIGINT)""".stripMargin).as("cell"))
      .agg(sum(col("cell")).as(out))
    nt.select(col("n"))
      .crossJoin(broadcast(mi))
      .crossJoin(broadcast(marginalH(rws, "ni", "h_x_nano")))
      .crossJoin(broadcast(marginalH(cls, "nj", "h_y_nano")))
      .select(
        lit(pairName).as("pair"),
        col("n"),
        col("mi_nano"),
        col("h_x_nano"),
        col("h_y_nano"),
        expr(
          """CASE WHEN h_x_nano + h_y_nano = 0 THEN NULL
            | ELSE CAST(round(2.0 * CAST(mi_nano AS DOUBLE)
            |   / CAST(h_x_nano + h_y_nano AS DOUBLE) * 1000000) AS BIGINT) END"""
            .stripMargin).as("nmi_micro"))
  }
}
