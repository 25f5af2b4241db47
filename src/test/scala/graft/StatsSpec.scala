package graft

import graft.ops.Stats
import org.apache.spark.sql.functions._

/** Known-value tests for the count-compressed statistics operators —
  * the oracle compare only proves Spark == DuckDB; these prove the
  * statistics equal their textbook values on hand-computed fixtures.
  */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("kruskalWallisMicro: perfectly separated groups hit the textbook H = 7.2") {
    val df = Seq(
      ("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 4L), ("b", 5L), ("b", 6L),
      ("c", 7L), ("c", 8L), ("c", 9L)).toDF("cls", "v")
    val r = Stats
      .kruskalWallisMicro(df, "v", "cls", Seq("a", "b", "c"), expr("v div 4"))
      .head()
    assert(r.getAs[Long]("n1") == 3 && r.getAs[Long]("n2") == 3 && r.getAs[Long]("n3") == 3)
    assert(r.getAs[Long]("r1_x2") == 12) // ranks 1+2+3 doubled
    assert(r.getAs[Long]("r3_x2") == 48) // ranks 7+8+9 doubled
    assert(r.getAs[Long]("ties3") == 0)
    assert(r.getAs[Long]("h_micro") == 7200000L,
      s"H for fully separated 3x3 groups is exactly 7.2, got ${r.getAs[Long]("h_micro")}")
  }

  test("kruskalWallisMicro: tie correction — H = 2.4 / (1 - 12/60) = 3.0 exactly") {
    val df = Seq(("a", 1L), ("a", 1L), ("b", 2L), ("b", 2L)).toDF("cls", "v")
    val r = Stats
      .kruskalWallisMicro(df, "v", "cls", Seq("a", "b"), expr("v div 10"))
      .head()
    assert(r.getAs[Long]("r1_x2") == 6) // 2 x doubled midrank 3 (= 2*1.5)
    assert(r.getAs[Long]("r2_x2") == 14) // 2 x doubled midrank 7 (= 2*3.5)
    assert(r.getAs[Long]("ties3") == 12)
    assert(r.getAs[Long]("h_micro") == 3000000L)
  }

  test("medianFromCounts: type-1 lower-middle value, per group, across shards") {
    val counts = Seq(
      ("g", 1L, 2L), ("g", 5L, 1L), ("g", 9L, 1L), // n=4 -> rank 2 -> 1
      ("h", 10L, 1L), ("h", 20L, 1L), ("h", 30L, 1L)) // n=3 -> rank 2 -> 20
      .toDF("grp", "k", "n")
    val out = Stats
      .medianFromCounts(counts, Seq("grp"), "k", "n", expr("k div 7"), "med")
      .collect().map(r => (r.getString(0), r.getAs[Long]("n_total"), r.getAs[Long]("med")))
      .toSet
    assert(out == Set(("g", 4L, 1L), ("h", 3L, 20L)))
  }

  test("medianHotBucket: per-group type-1 medians match the sort definition (raw rows)") {
    def expect(vals: Seq[Long]) = ((vals.length.toLong, vals.sorted.apply((vals.length - 1) / 2)))
    val rnd = new scala.util.Random(23)
    // shapes crossing level-1 bucket boundaries at shift=4 (width 16):
    // near-unique wide, duplicate run straddling a boundary, negatives
    // straddling bucket 0, single value, singleton group
    val a = Seq.fill(301)(rnd.nextInt(100000).toLong)
    val b = Seq.fill(40)(15L) ++ Seq.fill(40)(16L) ++ Seq(1L, 2L, 99L)
    val c = Seq.fill(21)(-30L) ++ Seq(-2L, 0L, 3L) ++ Seq.fill(20)(40L)
    val d = Seq.fill(7)(5L)
    val e = Seq(-9L)
    val rows = rnd.shuffle(
      a.map(("a", _)) ++ b.map(("b", _)) ++ c.map(("c", _)) ++
        d.map(("d", _)) ++ e.map(("e", _))).toDF("g", "x")
    def run(df: org.apache.spark.sql.DataFrame) = Stats
      .medianHotBucket(df, Seq("g"), "x", "med", shift = 4)
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val got = run(rows)
    assert(got == Map(
      "a" -> expect(a), "b" -> expect(b), "c" -> expect(c),
      "d" -> expect(d), "e" -> expect(e)))
    // pure function of the row set: partitioning-invariant
    assert(run(rows.repartition(7)) == got)
    // agrees with the support-cumsum sibling on its own fixture
    val sib = Stats.medianHotBucket(
      Seq(("g", 1L), ("g", 1L), ("g", 5L), ("g", 9L),
        ("h", 10L), ("h", 20L), ("h", 30L)).toDF("grp", "k"),
      Seq("grp"), "k", "med", shift = 2)
      .as[(String, Long, Long)].collect().toSet
    assert(sib == Set(("g", 4L, 1L), ("h", 3L, 20L)))
    // empty partCols: one global median
    val global = Stats.medianHotBucket(
      Seq(5L, 1L, 9L, 3L, 7L).toDF("x"), Seq.empty, "x", "med", shift = 2)
      .as[(Long, Long)].collect().toSeq
    assert(global == Seq((5L, 5L)))
  }

  test("ranksHotBucket: ppm thresholds on a DOUBLE domain match the sort definition") {
    // the q99 shape: p05/p95 ranks (pure-integer ppm ranks) over
    // near-unique doubles, buckets of width 64
    val rnd = new scala.util.Random(31)
    val a = Seq.fill(400)(rnd.nextDouble() * 100000.0)
    val b = Seq.fill(37)(rnd.nextDouble() * 500.0) ++ Seq(250.0, 250.0, 250.0)
    val rows = rnd.shuffle(a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v")
    def kOf(ppm: Long) = s"greatest((n_total * $ppm + 999999) div 1000000, 1L)"
    val got = Stats.ranksHotBucket(
      rows, Seq("g"), "v",
      Seq(("p_lo", kOf(50000L)), ("p_hi", kOf(950000L))),
      expr("cast(floor(v / 64) as long)"))
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def expect(vals: Seq[Double]) = {
      val s = vals.sorted
      def at(ppm: Long) =
        s(((vals.length.toLong * ppm + 999999L) / 1000000L).max(1L).toInt - 1)
      ((vals.length.toLong, at(50000L), at(950000L)))
    }
    assert(got == Map("a" -> expect(a), "b" -> expect(b)))
    // both ranks landing in the SAME hot bucket must still resolve
    val tiny = Seq.fill(10)(("t", 5.0)) ++ Seq(("t", 6.0), ("t", 7.0))
    val gt = Stats.ranksHotBucket(
      tiny.toDF("g", "v"), Seq("g"), "v",
      Seq(("p_lo", kOf(50000L)), ("p_hi", kOf(950000L))),
      expr("cast(floor(v / 64) as long)"))
      .as[(String, Long, Double, Double)].head()
    val tv = tiny.map(_._2)
    assert((gt._2, gt._3, gt._4) == expect(tv))
  }

  test("ranksHotBucket: Zipf hot bucket (one value = 60% of rows) stays exact") {
    // the VERDICT r15 item-5 failure-mode guard: row skew must not
    // become rank error. One hot VALUE (60% of all rows → its level-1
    // bucket holds >half the corpus) + a near-unique tail across many
    // buckets. The hot value is ONE support row however many raw rows
    // carry it — the level-2 window partition stays ≤ 2^shift support
    // rows by construction — and the ranks must match the sort
    // definition bit-for-bit, including ranks that land ON the hot
    // value and just past it.
    val rnd = new scala.util.Random(47)
    val tail = Seq.fill(400)(rnd.nextInt(1000000).toLong)
    val hot = Seq.fill(600)(500000L)
    val rows = rnd.shuffle(
      (hot ++ tail).map(("z", _))).toDF("g", "x")
    def kOf(ppm: Long) = s"greatest((n_total * $ppm + 999999) div 1000000, 1L)"
    def run(df: org.apache.spark.sql.DataFrame) = Stats.ranksHotBucket(
      df, Seq("g"), "x",
      Seq(("p25", kOf(250000L)), ("p50", kOf(500000L)), ("p75", kOf(750000L))),
      expr("cast(x as bigint) div 16"))
      .as[(String, Long, Long, Long, Long)].head()
    val got = run(rows)
    val s = (hot ++ tail).sorted
    def at(ppm: Long) = s(((s.length.toLong * ppm + 999999L) / 1000000L).max(1L).toInt - 1)
    assert(got == (("z", s.length.toLong, at(250000L), at(500000L), at(750000L))))
    assert(run(rows.repartition(11)) == got)
  }

  test("ranksHotBucket: null group keys are excluded, non-null groups unaffected") {
    // the documented contract (ADVICE r15): a null partCols group is
    // dropped consistently at BOTH levels instead of surviving level 1
    // and silently vanishing from level 2's equi-join
    val rows = Seq((Option("a"), 1L), (Option("a"), 2L), (Option("a"), 3L),
      (Option.empty[String], 7L), (Option.empty[String], 8L))
      .toDF("g", "x")
    val out = Stats.medianHotBucket(rows, Seq("g"), "x", "med", shift = 2)
      .as[(String, Long, Long)].collect().toSet
    assert(out == Set(("a", 3L, 2L)))
  }

  test("trimmedMeanMicroFromCounts: 10% trim of 1..10 keeps ranks 2-9, mean 5.5") {
    val counts = (1L to 10L).map(v => ("g", v, 1L)).toDF("grp", "k", "n")
    val r = Stats
      .trimmedMeanMicroFromCounts(
        counts, Seq("grp"), "k", "n", expr("k div 4"), trimPpm = 100000L)
      .head()
    assert(r.getAs[Long]("n_kept") == 8)
    assert(r.getAs[Long]("kept_sum") == 44)
    assert(r.getAs[Long]("trimmed_mean_micro") == 5500000L)
  }

  test("trimmedMeanMicroFromCounts: tied block keeps only its in-interval overlap") {
    // 1 x4, 2 x4: n=8, 25% trim -> lo=2, keep ranks 3..6 = two 1s + two 2s
    val counts = Seq(("g", 1L, 4L), ("g", 2L, 4L)).toDF("grp", "k", "n")
    val r = Stats
      .trimmedMeanMicroFromCounts(
        counts, Seq("grp"), "k", "n", expr("k div 10"), trimPpm = 250000L)
      .head()
    assert(r.getAs[Long]("n_kept") == 4)
    assert(r.getAs[Long]("kept_sum") == 6)
    assert(r.getAs[Long]("trimmed_mean_micro") == 1500000L)
  }

  test("kendallTauBMicro: perfect agreement is 1.0; y-ties hit the exact tau-b") {
    val perfect = Seq((1L, 1L, 10L), (2L, 2L, 20L), (3L, 3L, 30L))
      .toDF("k", "x", "y")
      .select(col("k"), col("x"), col("y"))
    val r1 = Stats.kendallTauBMicro(perfect, "x", "y", "k").head()
    assert(r1.getAs[Long]("tau_b_micro") == 1000000L)
    // x=[1,2,3,4], y=[1,1,2,2]: n0=6, C=4, D=0, ties_y=2
    // tau-b = 4/sqrt(6*4) = 0.81649658... -> 816497
    val tied = Seq((1L, 1L, 1L), (2L, 2L, 1L), (3L, 3L, 2L), (4L, 4L, 2L))
      .toDF("k", "x", "y")
    val r2 = Stats.kendallTauBMicro(tied, "x", "y", "k").head()
    assert(r2.getAs[Long]("n_c") == 4 && r2.getAs[Long]("n_d") == 0)
    assert(r2.getAs[Long]("ties_x") == 0 && r2.getAs[Long]("ties_y") == 2)
    assert(r2.getAs[Long]("tau_b_micro") == 816497L)
  }

  test("spearmanRhoMicro: monotone series hit exactly +/-1e6; ties match the textbook 0.866") {
    val up = Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L)).toDF("k", "x", "y")
    val r1 = Stats.spearmanRhoMicro(up, "x", "y", expr("x div 16"), expr("y div 16")).head()
    assert(r1.getAs[Long]("rho_micro") == 1000000L)
    val down = Seq((1L, 10L, 300L), (2L, 20L, 200L), (3L, 30L, 100L)).toDF("k", "x", "y")
    val r2 = Stats.spearmanRhoMicro(down, "x", "y", expr("x div 16"), expr("y div 16")).head()
    assert(r2.getAs[Long]("rho_micro") == -1000000L)
    // x=[1,1,2] (midranks 1.5,1.5,3 -> doubled 3,3,6), y=[10,20,30]:
    // rho = 18/sqrt(18*24) = 0.8660254... -> 866025
    val tied = Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 2L, 30L)).toDF("k", "x", "y")
    val r3 = Stats.spearmanRhoMicro(tied, "x", "y", expr("x div 16"), expr("y div 16")).head()
    assert(r3.getAs[Long]("n") == 3 && r3.getAs[Long]("sx") == 12 && r3.getAs[Long]("sy") == 12)
    assert(r3.getAs[Long]("rho_micro") == 866025L)
  }

  test("spearmanRhoMicro: a constant series yields NULL, not NaN/0") {
    val flat = Seq((1L, 5L, 10L), (2L, 5L, 20L), (3L, 5L, 30L)).toDF("k", "x", "y")
    val r = Stats.spearmanRhoMicro(flat, "x", "y", expr("x div 16"), expr("y div 16")).head()
    assert(r.isNullAt(r.fieldIndex("rho_micro")))
  }

  test("welchTMicroFromCounts: textbook t and Welch-Satterthwaite dof on 1..5 vs evens") {
    // A = {1..5}: ma=3, va=2.5; B = {2,4,6,8,10}: mb=6, vb=10
    // t = -3/sqrt(0.5+2) = -1.8973666 -> -1897367
    // dof = 2.5^2/(0.25^2... ) = 6.25/1.0625 = 5.8823529 -> 5882353
    val counts = Seq(
      (1L, 1L, 0L), (2L, 1L, 1L), (3L, 1L, 0L), (4L, 1L, 1L), (5L, 1L, 0L),
      (6L, 0L, 1L), (8L, 0L, 1L), (10L, 0L, 1L)).toDF("cents", "ca", "cb")
    val r = Stats.welchTMicroFromCounts(counts, "cents", "ca", "cb").head()
    assert(r.getAs[Long]("na") == 5 && r.getAs[Long]("sa") == 15 && r.getAs[Long]("ssa") == 55)
    assert(r.getAs[Long]("nb") == 5 && r.getAs[Long]("sb") == 30 && r.getAs[Long]("ssb") == 220)
    assert(r.getAs[Long]("t_micro") == -1897367L)
    assert(r.getAs[Long]("dof_micro") == 5882353L)
  }

  test("welchTMicroFromCounts: n<2 on either side or zero total variance yields NULL") {
    val tiny = Seq((1L, 1L, 0L), (2L, 0L, 5L), (3L, 0L, 5L)).toDF("cents", "ca", "cb")
    val r = Stats.welchTMicroFromCounts(tiny, "cents", "ca", "cb").head()
    assert(r.isNullAt(r.fieldIndex("t_micro")) && r.isNullAt(r.fieldIndex("dof_micro")))
    val flat = Seq((7L, 3L, 3L)).toDF("cents", "ca", "cb")
    val r2 = Stats.welchTMicroFromCounts(flat, "cents", "ca", "cb").head()
    assert(r2.isNullAt(r2.fieldIndex("t_micro")))
  }

  test("mcnemarMicro: chi2 = (b-c)^2*1e6/(b+c) on the discordant mass only") {
    val flags = Seq(
      (1L, 1L), (1L, 1L), // n11 = 2
      (1L, 0L), (1L, 0L), (1L, 0L), // n10 = 3
      (0L, 1L), // n01 = 1
      (0L, 0L), (0L, 0L), (0L, 0L), (0L, 0L)) // n00 = 4
      .toDF("hit_a", "hit_b")
    val r = Stats.mcnemarMicro(flags, "hit_a", "hit_b").head()
    assert(r.getAs[Long]("n") == 10 && r.getAs[Long]("n11") == 2 &&
      r.getAs[Long]("n10") == 3 && r.getAs[Long]("n01") == 1 && r.getAs[Long]("n00") == 4)
    assert(r.getAs[Long]("chi2_micro") == 1000000L) // (3-1)^2 * 1e6 / 4
    val concordant = Seq((1L, 1L), (0L, 0L)).toDF("hit_a", "hit_b")
    val r2 = Stats.mcnemarMicro(concordant, "hit_a", "hit_b").head()
    assert(r2.isNullAt(r2.fieldIndex("chi2_micro")))
  }

  test("giniMicroFromCounts: 0 on perfect equality, textbook values on hand supports") {
    // all equal: G = 0
    val eq = Seq((5L, 4L)).toDF("e", "t")
    assert(Stats.giniMicroFromCounts(eq, "e", "t", expr("e div 4"))
      .head().getAs[Long]("gini_micro") == 0L)
    // values 1,2,3,4: G = 0.25
    val ramp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)).toDF("e", "t")
    val r = Stats.giniMicroFromCounts(ramp, "e", "t", expr("e div 2")).head()
    assert(r.getAs[Long]("n") == 4 && r.getAs[Long]("total") == 10)
    assert(r.getAs[Long]("gini_micro") == 250000L)
    // 0,0,0,10: G = 0.75
    val head = Seq((0L, 3L), (10L, 1L)).toDF("e", "t")
    assert(Stats.giniMicroFromCounts(head, "e", "t", expr("e div 4"))
      .head().getAs[Long]("gini_micro") == 750000L)
  }

  test("vmrMicroSql: Poisson-like VMR=1, constant series VMR=0, n<2 NULL") {
    val r = Seq((2L, 4L, 10L)).toDF("n", "s", "ss")
      .withColumn("vmr_micro", expr(Stats.vmrMicroSql)).head()
    assert(r.getAs[Long]("vmr_micro") == 1000000L) // [1,3]: var 2, mean 2
    val flat = Seq((3L, 6L, 12L)).toDF("n", "s", "ss")
      .withColumn("vmr_micro", expr(Stats.vmrMicroSql)).head()
    assert(flat.getAs[Long]("vmr_micro") == 0L) // [2,2,2]
    val tiny = Seq((1L, 2L, 4L)).toDF("n", "s", "ss")
      .withColumn("vmr_micro", expr(Stats.vmrMicroSql)).head()
    assert(tiny.isNullAt(tiny.fieldIndex("vmr_micro")))
  }

  test("benfordPpm: the nine expected frequencies sum to exactly 1e6") {
    assert(Stats.benfordPpm.map(_._1) == (1L to 9L))
    assert(Stats.benfordPpm.map(_._2).sum == 1000000L)
  }

  test("fleissKappaSql: hand example kappa = -0.2 exactly; unanimity yields NULL") {
    // 2 docs x 3 raters: doc1 aaa, doc2 aab -> s2 = 9 + 5 = 14, C = (a:5, b:1) -> sc2 = 26
    val r = Seq((2L, 14L, 26L)).toDF("n_docs", "s2", "sc2")
      .withColumn("kappa_micro", expr(Stats.fleissKappaSql(3))).head()
    assert(r.getAs[Long]("kappa_micro") == -200000L)
    val unan = Seq((2L, 18L, 36L)).toDF("n_docs", "s2", "sc2")
      .withColumn("kappa_micro", expr(Stats.fleissKappaSql(3))).head()
    assert(unan.isNullAt(unan.fieldIndex("kappa_micro")))
  }

  test("didMicroSql: (delta-treated - delta-control) of cell means; empty cell NULL") {
    val r = Seq((1L, 10L, 1L, 15L, 1L, 8L, 1L, 9L))
      .toDF("n_t1", "s_t1", "n_t2", "s_t2", "n_c1", "s_c1", "n_c2", "s_c2")
      .withColumn("did_micro", expr(Stats.didMicroSql)).head()
    assert(r.getAs[Long]("did_micro") == 4000000L)
    val e = Seq((1L, 10L, 1L, 15L, 0L, 0L, 1L, 9L))
      .toDF("n_t1", "s_t1", "n_t2", "s_t2", "n_c1", "s_c1", "n_c2", "s_c2")
      .withColumn("did_micro", expr(Stats.didMicroSql)).head()
    assert(e.isNullAt(e.fieldIndex("did_micro")))
  }

  test("SPRT constants are the micro-rounded Wald LLR increments and ln(19) bound") {
    assert(math.round(math.log(0.12 / 0.10) * 1e6) == Stats.SprtLlrSuccessMicro)
    assert(math.round(math.log(0.88 / 0.90) * 1e6) == Stats.SprtLlrFailMicro)
    assert(math.round(math.log(0.95 / 0.05) * 1e6) == Stats.SprtBoundMicro)
    // a success must push toward H1, a failure toward H0
    assert(Stats.SprtLlrSuccessMicro > 0 && Stats.SprtLlrFailMicro < 0)
  }

  test("andersonDarlingMicroFromCounts: hand values -- disjoint singletons 1.0, shifted pairs 1.25") {
    // A={1}, B={2}: blocks give cells 0.25 each -> A2 = 1.0
    val s1 = Seq((1L, 1L, 0L), (2L, 0L, 1L)).toDF("v", "ca", "cb")
    val r1 = Stats.andersonDarlingMicroFromCounts(s1, "v", "ca", "cb", expr("v div 2")).head()
    assert(r1.getAs[Long]("a2_micro") == 1000000L)
    // A={1,2}, B={2,3}: cells 2x(0.125+0.375+0.125) -> A2 = 1.25
    val s2 = Seq((1L, 1L, 0L), (2L, 1L, 1L), (3L, 0L, 1L)).toDF("v", "ca", "cb")
    val r2 = Stats.andersonDarlingMicroFromCounts(s2, "v", "ca", "cb", expr("v div 2")).head()
    assert(r2.getAs[Long]("na") == 2 && r2.getAs[Long]("nb") == 2 && r2.getAs[Long]("n_blocks") == 3)
    assert(r2.getAs[Long]("a2_micro") == 1250000L)
  }

  test("andersonDarlingMicroFromCounts: identical distributions score 0; partitioning-invariant") {
    val same = Seq((1L, 1L, 1L), (2L, 1L, 1L)).toDF("v", "ca", "cb")
    val r = Stats.andersonDarlingMicroFromCounts(same, "v", "ca", "cb", expr("v div 2")).head()
    assert(r.getAs[Long]("a2_micro") == 0L)
    val s2 = Seq((1L, 1L, 0L), (2L, 1L, 1L), (3L, 0L, 1L)).toDF("v", "ca", "cb")
    val one = Stats.andersonDarlingMicroFromCounts(s2, "v", "ca", "cb", expr("v div 2")).collect().toSeq
    val many = Stats.andersonDarlingMicroFromCounts(
      s2.repartition(7), "v", "ca", "cb", expr("v div 2")).collect().toSeq
    assert(one == many)
  }

  test("olsMicro: perfect line y = 2x + 1 -> slope 2, intercept 1, r2 = 1") {
    val df = Seq((0L, 1L), (1L, 3L), (2L, 5L)).toDF("x", "y")
    val r = Stats.olsMicro(df, "x", "y").head()
    assert(r.getAs[Long]("n") == 3 && r.getAs[Long]("sxy") == 13 && r.getAs[Long]("sx2") == 5)
    assert(r.getAs[Long]("slope_micro") == 2000000L)
    assert(r.getAs[Long]("intercept_micro") == 1000000L)
    assert(r.getAs[Long]("r2_micro") == 1000000L)
  }

  test("olsMicro: constant x -> NULL slope; constant y -> slope 0, NULL r2") {
    val cx = Stats.olsMicro(Seq((2L, 1L), (2L, 5L)).toDF("x", "y"), "x", "y").head()
    assert(cx.isNullAt(cx.fieldIndex("slope_micro")))
    val cy = Stats.olsMicro(Seq((0L, 7L), (1L, 7L)).toDF("x", "y"), "x", "y").head()
    assert(cy.getAs[Long]("slope_micro") == 0L)
    assert(cy.getAs[Long]("intercept_micro") == 7000000L)
    assert(cy.isNullAt(cy.fieldIndex("r2_micro")))
  }

  test("brownForsytheMicro: hand fixture -- W = 1 exactly (up to cell micro-rounding)") {
    // a = {1,1,5}: median 1, z = {0,0,4}; b = {2,2,2}: median 2, z = {0,0,0}
    // between = 3*(4/3-2/3)^2 * 2 = 8/3; within = 16 - 16/3 = 32/3; W = 4*(8/3)/(32/3) = 1
    val df = Seq(("a", 1L), ("a", 1L), ("a", 5L), ("b", 2L), ("b", 2L), ("b", 2L))
      .toDF("cls", "v")
    val r = Stats.brownForsytheMicro(df, "v", "cls", expr("v div 3")).head()
    assert(r.getAs[Long]("k") == 2 && r.getAs[Long]("n_total") == 6)
    assert(r.getAs[Long]("num_micro") == 2666666L)
    assert(r.getAs[Long]("den_micro") == 10666667L)
    assert(r.getAs[Long]("w_micro") == 1000000L)
  }

  test("brownForsytheMicro: equal spreads -> W = 0; zero within -> NULL") {
    val eq = Seq(("a", 0L), ("a", 2L), ("b", 10L), ("b", 12L)).toDF("cls", "v")
    val r = Stats.brownForsytheMicro(eq, "v", "cls", expr("v div 7")).head()
    assert(r.getAs[Long]("w_micro") == 0L)
    val const = Seq(("a", 1L), ("a", 1L), ("b", 2L), ("b", 2L)).toDF("cls", "v")
    val c = Stats.brownForsytheMicro(const, "v", "cls", expr("v div 7")).head()
    assert(c.isNullAt(c.fieldIndex("w_micro")))
  }

  test("friedmanMicro: perfectly consistent ordering over 3 blocks hits chi2 = n(k-1) = 6") {
    val df = Seq(
      (1L, "A", 1L), (1L, "B", 2L), (1L, "C", 3L),
      (2L, "A", 4L), (2L, "B", 5L), (2L, "C", 6L),
      (3L, "A", 7L), (3L, "B", 8L), (3L, "C", 9L)).toDF("blk", "trt", "v")
    val r = Stats.friedmanMicro(df, "blk", "trt", "v").head()
    assert(r.getAs[Long]("k") == 3 && r.getAs[Long]("n_blocks") == 3)
    assert(r.getAs[Long]("a2") == 168 && r.getAs[Long]("num_sq") == 72)
    assert(r.getAs[Long]("chi2_micro") == 6000000L)
  }

  test("friedmanMicro: incomplete blocks drop; all-tied blocks -> NULL") {
    val df = Seq(
      (1L, "A", 1L), (1L, "B", 2L), (1L, "C", 3L),
      (2L, "A", 4L), (2L, "B", 5L), (2L, "C", 6L),
      (3L, "A", 7L), (3L, "B", 8L), (3L, "C", 9L),
      (4L, "A", 1L), (4L, "B", 2L)).toDF("blk", "trt", "v") // block 4 incomplete
    val r = Stats.friedmanMicro(df, "blk", "trt", "v").head()
    assert(r.getAs[Long]("n_blocks") == 3 && r.getAs[Long]("chi2_micro") == 6000000L)
    val tied = Seq(
      (1L, "A", 5L), (1L, "B", 5L), (2L, "A", 9L), (2L, "B", 9L)).toDF("blk", "trt", "v")
    val t = Stats.friedmanMicro(tied, "blk", "trt", "v").head()
    assert(t.isNullAt(t.fieldIndex("chi2_micro")))
  }

  test("durbinWatsonMicro: trend DW < 2, alternation DW > 2, constant NULL; per group") {
    val df = Seq(
      ("trend", 1L, 1L), ("trend", 2L, 2L), ("trend", 3L, 3L), ("trend", 4L, 4L),
      ("alt", 1L, 1L), ("alt", 2L, 3L), ("alt", 3L, 1L), ("alt", 4L, 3L),
      ("const", 1L, 5L), ("const", 2L, 5L)).toDF("g", "t", "v")
    val out = Stats.durbinWatsonMicro(df, Seq("g"), "t", "v")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(r.fieldIndex("dw_micro"))) -1L else r.getAs[Long]("dw_micro"))).toMap
    // trend 1,2,3,4: 4*3*1e6/(4*30-100) = 0.6; alt 1,3,1,3: 4*12*1e6/(80-64) = 3.0
    assert(out("trend") == 600000L)
    assert(out("alt") == 3000000L)
    assert(out("const") == -1L)
  }

  test("cronbachAlphaMicro: perfectly parallel items alpha = 1; absent cells are zeros") {
    val perfect = Seq(
      (1L, "A", 1L), (1L, "B", 1L), (2L, "A", 2L), (2L, "B", 2L),
      (3L, "A", 3L), (3L, "B", 3L)).toDF("subj", "item", "v")
    val r = Stats.cronbachAlphaMicro(perfect, "subj", "item", "v").head()
    assert(r.getAs[Long]("k") == 2 && r.getAs[Long]("n_subjects") == 3)
    assert(r.getAs[Long]("item_var_mass") == 12 && r.getAs[Long]("total_var_mass") == 24)
    assert(r.getAs[Long]("alpha_micro") == 1000000L)
    // subject 1 has no B row -> behaves exactly as B = 0 for subject 1
    val sparse = Seq(
      (1L, "A", 1L), (2L, "A", 2L), (2L, "B", 2L),
      (3L, "A", 3L), (3L, "B", 3L)).toDF("subj", "item", "v")
    val sp = Stats.cronbachAlphaMicro(sparse, "subj", "item", "v").head()
    assert(sp.getAs[Long]("item_var_mass") == 20 && sp.getAs[Long]("total_var_mass") == 38)
    assert(sp.getAs[Long]("alpha_micro") == math.round(2.0 * (1.0 - 20.0 / 38.0) * 1e6))
    val oneItem = Stats.cronbachAlphaMicro(
      Seq((1L, "A", 1L), (2L, "A", 5L)).toDF("subj", "item", "v"), "subj", "item", "v").head()
    assert(oneItem.isNullAt(oneItem.fieldIndex("alpha_micro")))
  }

  test("hillTailAlphaMicro: geometric counts give the hand-summed nano ln mass") {
    val pop = Seq((1L, 8L), (2L, 4L), (3L, 2L), (4L, 1L)).toDF("id", "c")
    val r = Stats.hillTailAlphaMicro(pop, "id", "c", m = 2).head()
    val sumLn = math.round(math.log(4.0) * 1e9) + math.round(math.log(2.0) * 1e9)
    assert(r.getAs[Long]("n_tail") == 2 && r.getAs[Long]("x_min") == 2)
    assert(r.getAs[Long]("sum_ln_nano") == sumLn)
    assert(r.getAs[Long]("alpha_micro") == 1000000L + 2L * 1000000000000000L / sumLn)
    // fewer ids than m+1: tail shrinks; all-tied tail -> NULL
    val small = Stats.hillTailAlphaMicro(
      Seq((1L, 4L), (2L, 2L)).toDF("id", "c"), "id", "c", m = 200).head()
    assert(small.getAs[Long]("n_tail") == 1 && small.getAs[Long]("x_min") == 2)
    val tied = Stats.hillTailAlphaMicro(
      Seq((1L, 3L), (2L, 3L), (3L, 3L)).toDF("id", "c"), "id", "c", m = 1).head()
    assert(tied.isNullAt(tied.fieldIndex("alpha_micro")))
  }

  test("isotonicFitPpm: PAVA pools the violating pair; monotone input is untouched") {
    // rates 0, 1, 0.5 -> PAVA pools bands 1,2 to 3/4
    val counts = Seq((0L, 2L, 0L), (1L, 2L, 2L), (2L, 2L, 1L)).toDF("band", "n", "s")
    val out = Stats.isotonicFitPpm(counts, "band", "n", "s")
      .collect().map(r => r.getAs[Long]("band") ->
        (r.getAs[Long]("raw_ppm"), r.getAs[Long]("iso_ppm"))).toMap
    assert(out(0L) == (0L, 0L))
    assert(out(1L) == (1000000L, 750000L))
    assert(out(2L) == (500000L, 750000L))
    // already monotone -> fit == raw everywhere
    val mono = Seq((0L, 4L, 1L), (1L, 4L, 2L), (2L, 4L, 3L)).toDF("band", "n", "s")
    val m = Stats.isotonicFitPpm(mono, "band", "n", "s").collect()
    assert(m.forall(r => r.getAs[Long]("iso_ppm") == r.getAs[Long]("raw_ppm")))
  }

  test("isotonicFitPpm: global violation pools everything to the grand rate") {
    // strictly decreasing rates -> one block at the pooled mean 3/6
    val counts = Seq((0L, 2L, 2L), (1L, 2L, 1L), (2L, 2L, 0L)).toDF("band", "n", "s")
    val out = Stats.isotonicFitPpm(counts, "band", "n", "s")
      .collect().map(_.getAs[Long]("iso_ppm")).distinct
    assert(out.toSeq == Seq(500000L))
  }

  test("mannKendallMicro: strictly rising series S = n(n-1)/2; flat series NULL variance guard off, z = 0 path") {
    val rising = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)).toDF("t", "x")
    val r = Stats.mannKendallMicro(rising, "t", "x").head()
    assert(r.getAs[Long]("n") == 4 && r.getAs[Long]("s") == 6 && r.getAs[Long]("ties_term") == 0)
    val varS = 4.0 * 3 * 13 / 18.0
    assert(r.getAs[Long]("z_micro") == math.round(5.0 / math.sqrt(varS) * 1e6))
    // all-tied series: ties_term kills the variance -> NULL
    val flat = Seq((1L, 7L), (2L, 7L), (3L, 7L)).toDF("t", "x")
    val f = Stats.mannKendallMicro(flat, "t", "x").head()
    assert(f.getAs[Long]("s") == 0 && f.isNullAt(f.fieldIndex("z_micro")))
  }

  test("runsTestMicro: alternating signs give R = 4 on 2+2; one-sided sequence NULL") {
    // values vs median 5: kept days 3..6 signs 0,1,0,1 -> 4 runs
    val df = Seq((1L, 5L), (2L, 5L), (3L, 1L), (4L, 9L), (5L, 1L), (6L, 9L)).toDF("day", "x")
    val r = Stats.runsTestMicro(df, "day", "x", expr("x div 4")).head()
    assert(r.getAs[Long]("n_above") == 2 && r.getAs[Long]("n_below") == 2)
    assert(r.getAs[Long]("n_runs") == 4)
    val sigma = math.sqrt(8.0 * (8 - 4) / (16.0 * 3))
    assert(r.getAs[Long]("z_micro") == math.round((4.0 - 3.0) / sigma * 1e6))
    val oneSided = Seq((1L, 1L), (2L, 9L), (3L, 9L)).toDF("day", "x") // med 1 -> all above
    val o = Stats.runsTestMicro(oneSided, "day", "x", expr("x div 4")).head()
    assert(o.isNullAt(o.fieldIndex("z_micro")))
  }

  test("twoPropZSql: equal rates z = 0, degenerate pooled rate NULL, sign follows group 1") {
    import org.apache.spark.sql.Row
    def z(n1: Long, r1: Long, n2: Long, r2: Long): Option[Long] = {
      val row = Seq((n1, r1, n2, r2)).toDF("n1", "r1", "n2", "r2")
        .withColumn("z_micro", expr(Stats.twoPropZSql)).head()
      if (row.isNullAt(row.fieldIndex("z_micro"))) None else Some(row.getAs[Long]("z_micro"))
    }
    assert(z(10, 5, 20, 10).contains(0L))
    assert(z(10, 10, 10, 10).isEmpty) // pooled rate 1
    assert(z(10, 0, 10, 0).isEmpty) // pooled rate 0
    assert(z(100, 60, 100, 40).exists(_ > 0))
    assert(z(100, 40, 100, 60).exists(_ < 0))
  }

  test("anovaFMicro: textbook separated groups F = 13.5; equal means F = 0") {
    val df = Seq(
      ("a", 1L), ("a", 2L), ("a", 3L), ("b", 4L), ("b", 5L), ("b", 6L)).toDF("cls", "v")
    val r = Stats.anovaFMicro(df, "v", "cls").head()
    assert(r.getAs[Long]("k") == 2 && r.getAs[Long]("n_total") == 6)
    assert(r.getAs[Long]("num_micro") == 13500000L)
    assert(r.getAs[Long]("den_micro") == 4000000L)
    assert(r.getAs[Long]("f_micro") == 13500000L)
    val eq = Seq(("a", 1L), ("a", 3L), ("b", 1L), ("b", 3L)).toDF("cls", "v")
    assert(Stats.anovaFMicro(eq, "v", "cls").head().getAs[Long]("f_micro") == 0L)
  }

  test("sesWeightsNano: alpha(1-alpha)^i literals — start at 0.3, geometric decay, mass < 1") {
    val w = Stats.sesWeightsNano()
    assert(w.size == 30 && w.head == (0L, 300000000L))
    assert(w.map(_._2).sliding(2).forall { case Seq(a, b) => b < a })
    // each weight is the rounded 0.7x of its predecessor's exact value
    assert(w(1)._2 == math.round(0.3 * 0.7 * 1e9))
    assert(w.map(_._2).sum < 1000000000L)
  }

  test("holtCoeffsNano: constant series -> level=c/trend=0; linear series tracked exactly") {
    val co = Stats.holtCoeffsNano() // n=28, alpha=0.5, beta=0.3
    assert(co.size == 28)
    assert(co.map(_._1).sorted == (0L until 28L))
    // y_t = c for all t: l_n = c, b_n = 0 => level coeffs sum to 1, trend to 0
    assert(math.abs(co.map(_._2).sum - 1000000000L) <= 28)
    assert(math.abs(co.map(_._3).sum) <= 28)
    // y_t = t (t = n - lag): Holt is exact on a line with l1=y1, b1=y2-y1:
    // l_n = n, b_n = 1
    val level = co.map { case (lag, cl, _) => cl * (28L - lag) }.sum
    val trend = co.map { case (lag, _, ct) => ct * (28L - lag) }.sum
    assert(math.abs(level - 28L * 1000000000L) <= 28 * 28)
    assert(math.abs(trend - 1000000000L) <= 28 * 28)
  }

  test("Privacy.kAnonymity / lDiversity: hand-computed class audit") {
    // QI classes: (A: 3 rows, sens {1,1,2}), (B: 1 row, sens {9})
    val df = Seq(("A", 1L), ("A", 1L), ("A", 2L), ("B", 9L)).toDF("qi", "sens")
    val k = graft.ops.Privacy.kAnonymity(df, Seq(col("qi")), k = 3).head()
    assert(k.getAs[Long]("n_classes") == 2L)
    assert(k.getAs[Long]("min_class_size") == 1L)
    assert(k.getAs[Long]("rows_below_k") == 1L) // only B's single row
    assert(k.getAs[Long]("rows_below_k_ppm") == 250000L)
    val l = graft.ops.Privacy
      .lDiversity(df, Seq(col("qi")), col("sens"), l = 2).head()
    assert(l.getAs[Long]("n_classes") == 2L)
    assert(l.getAs[Long]("min_l") == 1L) // B has one sensitive value
    assert(l.getAs[Long]("classes_below_l") == 1L)
    assert(l.getAs[Long]("rows_below_l_ppm") == 250000L)
  }

  test("cochranArmitageMicro: linear dose-response z = 6/sqrt(5); flat trend z = 0") {
    val sup = Seq((0L, 10L, 2L), (1L, 10L, 5L), (2L, 10L, 8L)).toDF("w", "n_i", "r_i")
    val r = Stats.cochranArmitageMicro(sup, "w", "n_i", "r_i").head()
    assert(r.getAs[Long]("n") == 30 && r.getAs[Long]("r") == 15)
    assert(r.getAs[Long]("swr") == 21 && r.getAs[Long]("sw2n") == 50)
    assert(r.getAs[Long]("z_micro") == math.round(6.0 / math.sqrt(5.0) * 1e6))
    val flat = Seq((0L, 10L, 4L), (1L, 10L, 4L), (2L, 10L, 4L)).toDF("w", "n_i", "r_i")
    assert(Stats.cochranArmitageMicro(flat, "w", "n_i", "r_i").head().getAs[Long]("z_micro") == 0L)
    val degenerate = Seq((0L, 10L, 10L), (1L, 10L, 10L)).toDF("w", "n_i", "r_i")
    val dg = Stats.cochranArmitageMicro(degenerate, "w", "n_i", "r_i").head()
    assert(dg.isNullAt(dg.fieldIndex("z_micro")))
  }
}
