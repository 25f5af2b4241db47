package graft

import graft.dedup.{Dedup, MinHashSketch}
import graft.ops.{Joins, Sketches}
import org.apache.spark.sql.functions._

class SkewAndSketchSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin: same result as plain join, salt spread across keys") {
    val fact = Seq.tabulate(500)(i => (if (i % 10 == 0) 1L else i.toLong, i.toLong))
      .toDF("k", "v")
    val dim = Seq((1L, "hot"), (7L, "seven"), (99L, "x")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).select("k", "v", "name")
      .as[(Long, Long, String)].collect().toSet
    val salted = Joins.saltedJoin(fact, dim, "k", saltFactor = 8)
      .select("k", "v", "name").as[(Long, Long, String)].collect().toSet
    assert(salted == plain)
  }

  test("saltedJoin left: unmatched fact rows survive with nulls") {
    val fact = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val dim = Seq((1L, "one")).toDF("k", "name")
    val out = Joins.saltedJoin(fact, dim, "k", 4, "left")
      .select("k", "name").collect()
    assert(out.length == 2)
    assert(out.find(_.getLong(0) == 2L).get.isNullAt(1))
  }

  test("MinHash sketch merge == signature of the unioned shingle set") {
    val docs = Seq(
      (1L, "g1", "alpha beta gamma delta"),
      (2L, "g1", "delta epsilon zeta eta"),
      (3L, "g2", "one two three four"))
      .toDF("doc_id", "grp", "text")
    val perDoc = Dedup.minhashSignaturesInline(docs, "text", "doc_id", n = 2, numHashes = 6)
      .join(docs.select(col("doc_id").as("id"), col("grp")), Seq("id"))
    val merged = perDoc
      .groupBy(col("grp"))
      .agg(MinHashSketch.merge(6)(col("sig")).as("sig"))
      .as[(String, Seq[String])].collect().toMap

    // oracle: true shingle-SET union per group, signed via the
    // independent explode->groupBy-min path — must equal the merged
    // sketch (min is union-stable)
    val unionShingles = Dedup
      .shingles(docs, "text", "doc_id", n = 2)
      .join(docs.select(col("doc_id").as("id"), col("grp")), Seq("id"))
      .select(col("grp").as("id"), col("shingle"))
      .distinct()
    val expected = Dedup.minhashSignatures(unionShingles, numHashes = 6)
      .as[(String, Seq[String])].collect().toMap
    assert(merged == expected)
  }

  test("bpeish token count segments letters/digits/symbols") {
    import graft.functions.TextFunctions
    val n = Seq("It's 42 degrees, really!").toDF("text")
      .select(TextFunctions.bpeishTokenCount(col("text"))).as[Long].head()
    // it / 's / 42 / degrees / , / really / ! = 7
    assert(n == 7L)
  }

  test("HLL: error bound vs exact, partitioning-invariant, union==merge") {
    import graft.ops.Sketches
    val ev = graft.core.Tables.events(spark, sf("sf0.01"))
      .select(col("event_type"), col("user_id"))
    val exact = ev.groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .as[(String, Long)].collect().toMap
    val approx = Sketches.hllDistinctPerGroup(ev, "event_type", "user_id")
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n).toDouble / n < 0.05, s"$k: approx $a vs exact $n")
    }
    // deterministic under repartitioning (register state is a pure
    // function of the value set)
    val approx2 = Sketches.hllDistinctPerGroup(ev.repartition(17), "event_type", "user_id")
      .as[(String, Long)].collect().toMap
    assert(approx2 == approx)
    // mergeability: per-(type, half) partial sketches merged across
    // halves == whole-data estimate
    val withHalf = ev.withColumn("half", pmod(col("user_id"), lit(2)))
    val parts = withHalf
      .groupBy(col("event_type"), col("half"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sketch"))
    val merged = Sketches.hllMergeEstimate(parts, "event_type")
      .as[(String, Long)].collect().toMap
    assert(merged == approx, "union of partial sketches must equal the whole-data sketch")
  }

  test("level-sample rank sketch: partitioning-invariant, union==merge, bounded rank error") {
    import graft.ops.LevelSample
    val ev = graft.core.Tables.events(spark, sf("sf0.01"))
      .select(col("event_id"), round(col("value") * 100).cast("long").as("cents"))
    val k = 256
    def state(df: org.apache.spark.sql.DataFrame) =
      LevelSample.sketchPerGroup(df, Nil, "event_id", "cents", k)
        .select(col("level"), col("n_kept"), col("values"))
        .as[(Long, Long, Seq[Long])].head()

    val whole = state(ev)
    assert(whole._1 > 0, "fixture should force at least one compaction at k=256")
    assert(whole._2 <= k)

    // bit-identical under any partitioning: the kept set is a pure
    // function of the row set (per-row level vs global threshold)
    assert(state(ev.repartition(17)) == whole)
    assert(state(ev.repartition(3)) == whole)

    // union of partial sketches == whole-data sketch: aggregate per
    // md5-half, then merge the two finished states by re-running the
    // aggregator over BOTH halves' kept rows... the Aggregator's merge
    // path itself is exercised by the map-side partials above; here we
    // pin the SET-FUNCTION property end-to-end: disjoint splits, any
    // grouping, same final state
    val withHalf = ev.withColumn("half", pmod(col("event_id"), lit(2)))
    val halves = LevelSample.sketchPerGroup(
      withHalf, Seq("half"), "event_id", "cents", k)
    assert(halves.count() == 2)
    // rebuild from the union of surviving halves' kept rows is NOT the
    // contract (levels below a half's threshold are gone); instead pin
    // that each half's state matches the direct sketch of that half
    val half0 = state(withHalf.filter(col("half") === 0)
      .select(col("event_id"), col("cents")))
    val fromGrouped = halves.filter(col("half") === 0)
      .select(col("level"), col("n_kept"), col("values"))
      .as[(Long, Long, Seq[Long])].head()
    assert(fromGrouped == half0)

    // rank error: the estimated quantile's TRUE rank is within ~4/sqrt(k)
    // of the target (uniform-sample order statistic; deterministic here
    // because md5 is fixed on a fixed fixture)
    val n = ev.count()
    val sorted = ev.select(col("cents")).as[Long].collect().sorted
    Seq(500000L, 900000L).foreach { ppm =>
      val idx = ((whole._2 * ppm + 999999L) / 1000000L).max(1L).toInt
      val est = whole._3(idx - 1)
      val trueRank = sorted.count(_ <= est).toDouble / n
      assert(math.abs(trueRank - ppm / 1e6) < 4.0 / math.sqrt(k),
        s"p=$ppm est=$est landed at true rank $trueRank")
    }
  }

  test("level-sample rank sketch: null uid/value rows are skipped, not an executor NPE") {
    import graft.ops.LevelSample
    val df = Seq(
      (Some("a"), Some(10L)), (Some("b"), Some(20L)), (Some("c"), Some(30L)),
      (None, Some(99L)), (Some("d"), None), (None: Option[String], None: Option[Long]))
      .toDF("uid", "v")
    val st = LevelSample.sketchPerGroup(df, Nil, "uid", "v", k = 16)
      .select(col("n_kept"), col("values")).as[(Long, Seq[Long])].head()
    // SQL-aggregate semantics: the 3 fully-non-null rows participate,
    // null uid or value rows are dropped (ADVICE r14 — previously a
    // null hit the Seq[Long] buffer encoder and threw far from cause)
    assert(st._1 == 3L && st._2.sorted == Seq(10L, 20L, 30L))
  }

  test("HLL rolling window: daily partials re-merged per 3-day window == direct estimate") {
    // the incremental-analytics pattern: persist ONE sketch per day,
    // answer any later window by merging partials — never rescan raw
    val ev = graft.core.Tables.events(spark, sf("sf0.01"))
      .select(expr("cast(ts as long) div 86400").as("day"), col("user_id"))
    val daily = ev.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sketch"))
      .cache()
    val days = daily.select("day").as[Long].collect().sorted
    val win3 = days.drop(2).take(3) // three 3-day windows
    win3.foreach { end =>
      val merged = daily.filter(col("day").between(end - 2, end))
        .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("n"))
        .as[Long].head()
      val direct = ev.filter(col("day").between(end - 2, end))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("n"))
        .as[Long].head()
      assert(merged == direct,
        s"window ending $end: merged partials $merged != direct $direct")
    }
  }

  test("CMS: never undercounts any item, bounded overcount, partitioning-invariant") {
    // zipf-ish multiset: item i appears ~200/i times
    val items = (1 to 40).flatMap(i => Seq.fill(200 / i)(i.toLong))
    val df = items.toDF("item")
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val allItems = truth.keys.toSeq.toDF("item")
    val (est, est13) = graft.core.Caches.withScope {
      val s = Sketches.cmsTable(df, "item", depth = 4, width = 64)
      val s13 = Sketches.cmsTable(df.repartition(13), "item", depth = 4, width = 64)
      (Sketches.cmsEstimate(s, allItems, "item", 4, 64)
        .as[(Long, Long)].collect().toMap,
        Sketches.cmsEstimate(s13, allItems, "item", 4, 64)
          .as[(Long, Long)].collect().toMap)
    }
    assert(est == est13) // sums are associative — sketch is exactly partition-invariant
    truth.foreach { case (i, t) =>
      assert(est(i) >= t, s"CMS undercounted item $i: ${est(i)} < $t")
    }
    // total overcount bounded by collision mass: each row spreads
    // n=${items.size} counts over 64 buckets; min-of-4 stays well under
    // one row's expected collision share for every probe
    val n = items.size.toLong
    truth.foreach { case (i, t) =>
      assert(est(i) - t <= n / 8,
        s"CMS overcount for $i implausibly large: ${est(i)} vs $t (n=$n)")
    }
  }

  test("log-histogram sketch: bucket round-trip brackets the value, < 1/16 relative") {
    val vals = Seq(0L, 1L, 15L, 16L, 17L, 31L, 32L, 100L, 1023L, 1024L,
      123456789L, Long.MaxValue / 2)
    val df = vals.toDF("v").select(col("v"), Sketches.logBucket("v").as("b"))
      .select(col("v"), col("b"), Sketches.bucketLower("b").as("lo"))
    df.collect().foreach { r =>
      val (v, lo) = (r.getLong(0), r.getLong(2))
      assert(lo <= v, s"lower bound $lo above value $v")
      if (v < 16) assert(lo == v, "small values must be exact")
      else assert((v - lo).toDouble / v < 1.0 / 16, s"v=$v lo=$lo relative error too big")
    }
  }

  test("log-histogram quantiles: exact k-th bracket + merge/partition invariance") {
    val vals = (1 to 2000).map(i => (i * i).toLong) // skewed spread
    val df = vals.map(v => ("g", v)).toDF("g", "v")
    val qs = Seq((500000L, "p50"), (950000L, "p95"), (990000L, "p99"))
    val out = Sketches.logHistQuantiles(df, "g", "v", qs).collect().head
    val sorted = vals.sorted
    def exactK(ppm: Long): Long =
      sorted(((sorted.size * ppm + 999999L) / 1000000L).toInt.max(1) - 1)
    for ((ppm, name) <- qs) {
      val lb = out.getAs[Long](name)
      val ex = exactK(ppm)
      assert(lb <= ex && (ex - lb).toDouble / ex < 1.0 / 16,
        s"$name: sketch $lb vs exact $ex")
    }
    // additive partials: sketch(half1) ∪ sketch(half2) == sketch(whole)
    val h1 = Sketches.logHistCounts(df.filter(col("v") % 2 === 0), "g", "v")
    val h2 = Sketches.logHistCounts(df.filter(col("v") % 2 =!= 0), "g", "v")
    val mergedOut = Sketches
      .logHistQuantilesFromCounts(h1.unionByName(h2), "g", qs)
      .collect().head
    assert(mergedOut == out, "merged partials must reproduce the whole-data sketch")
    // partitioning invariance
    val repart = Sketches.logHistQuantiles(df.repartition(13), "g", "v", qs)
      .collect().head
    assert(repart == out)
  }

  test("MAD / Tukey-fence sketch siblings track the exact q171/q214 answers") {
    import graft.queries.EventQueries
    val d = sf("sf0.01")
    // MAD: median_lb within the 1/16 bucket bound of the exact median;
    // mad_lb within ~2/16 (bucket bound + the median_lb shift it inherits)
    val exactMad = EventQueries.madCents(spark, d).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("median_cents"), r.getAs[Long]("mad_cents"))).toMap
    val sketchMad = EventQueries.madCentsSketch(spark, d).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("median_lb"), r.getAs[Long]("mad_lb"))).toMap
    assert(sketchMad.keySet == exactMad.keySet)
    // guard the relative-error denominators: below the sketch's
    // exact-below-16 threshold the bucket IS the value, so demand
    // equality instead of dividing by a (possibly zero) exact stat
    def withinBucketBound(lb: Long, ex: Long, relBound: Double): Boolean =
      if (ex < 16L) lb == ex
      else math.abs(ex - lb).toDouble / ex < relBound
    exactMad.foreach { case (g, (exMed, exMad)) =>
      val (lbMed, lbMad) = sketchMad(g)
      assert(lbMed <= exMed && withinBucketBound(lbMed, exMed, 1.0 / 16),
        s"$g median: sketch $lbMed vs exact $exMed")
      assert(withinBucketBound(lbMad, exMad, 2.0 / 16),
        s"$g mad: sketch $lbMad vs exact $exMad")
    }
    // Fences: each hinge within the 1/16 bound of the exact quartile
    val exactF = EventQueries.tukeyOutliers(spark, d).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("q1_cents"), r.getAs[Long]("q3_cents"))).toMap
    val sketchF = EventQueries.tukeyOutliersSketch(spark, d).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("q1_lb"), r.getAs[Long]("q3_lb"),
          r.getAs[Long]("n_low"), r.getAs[Long]("n_high"))).toMap
    assert(sketchF.keySet == exactF.keySet)
    exactF.foreach { case (g, (exQ1, exQ3)) =>
      val (lbQ1, lbQ3, nLow, nHigh) = sketchF(g)
      assert(lbQ1 <= exQ1 && withinBucketBound(lbQ1, exQ1, 1.0 / 16),
        s"$g q1: sketch $lbQ1 vs exact $exQ1")
      assert(lbQ3 <= exQ3 && withinBucketBound(lbQ3, exQ3, 1.0 / 16),
        s"$g q3: sketch $lbQ3 vs exact $exQ3")
      assert(nLow >= 0L && nHigh >= 0L)
    }
  }
}
