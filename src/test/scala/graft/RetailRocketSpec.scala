package graft

import graft.pipeline.RetailRocket
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Golden end-to-end test of the RetailRocket-shape pipeline on a
  * hand-computed CSV fixture (FIXTURES.md §1/§3/§4): CSV scans with
  * explicit schemas, gap-rule boundary (exactly 1800 s stays), latest
  * category wins, half-open point-in-time split, candidate union,
  * exact 38-column output schema, label correctness.
  */
class RetailRocketSpec extends SparkSpec {
  import spark.implicits._

  // 2015-05-02 10:00:00 UTC (train window) / 2015-07-05 00:00:00 (valid)
  private val t0 = 1430560800L
  private val t1 = 1436054400L

  // events.csv rows: user 1 = two-session run with an in-train ATC;
  // user 2 = valid-window ATC; user 3 = exact-1800s boundary pair.
  private val eventRows = Seq(
    s"${t0 * 1000},1,view,101,",
    s"${(t0 + 600) * 1000},1,addtocart,102,",
    s"${(t0 + 600 + 1801) * 1000},1,view,103,", // new session (gap 1801)
    s"${t1 * 1000},2,view,101,",
    s"${(t1 + 100) * 1000},2,addtocart,101,",
    s"${t0 * 1000},3,view,101,",
    s"${(t0 + 1800) * 1000},3,view,102,") // gap == 1800: SAME session

  private lazy val fixtureDir: String = writeFixture(eventRows)

  private def writeFixture(events: Seq[String]): String = {
    val dir = Files.createTempDirectory("rr-fixture")
    def write(name: String, lines: Seq[String]): Unit =
      Files.write(dir.resolve(name), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    write("events.csv", "timestamp,visitorid,event,itemid,transactionid" +: events)
    // item 101: categoryid changes 10 -> 11 (latest wins, split across parts)
    write("item_properties_part1.csv",
      Seq("timestamp,itemid,property,value") ++ Seq(
        s"${(t0 - 86400) * 1000},101,categoryid,10",
        s"${(t0 - 86400) * 1000},102,categoryid,20",
        s"${(t0 - 86400) * 1000},101,available,1")) // non-category prop dropped
    write("item_properties_part2.csv",
      Seq("timestamp,itemid,property,value") ++ Seq(
        s"${(t0 - 3600) * 1000},101,categoryid,11")) // later snapshot wins
    dir.toString
  }

  private def propsParts(dir: String): Seq[String] =
    Seq(s"$dir/item_properties_part1.csv", s"$dir/item_properties_part2.csv")

  private lazy val rawEvents = RetailRocket.readEventsCsv(spark, s"$fixtureDir/events.csv")
  private lazy val rawProps = RetailRocket.readPropsCsv(spark, propsParts(fixtureDir))
  private lazy val result = RetailRocket.buildAll(spark, rawEvents, rawProps)

  test("sessionization: gap rule incl. exact-1800 boundary") {
    val sessions = RetailRocket
      .sessionizeEvents(rawEvents)
      .groupBy(col("user_id"))
      .agg(countDistinct(col("session_id")).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(sessions == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("inferSchema passthrough: same rows and compatible types as the explicit schema") {
    val inferred = RetailRocket.readEventsCsv(spark, s"$fixtureDir/events.csv", inferSchema = true)
    assert(inferred.count() == rawEvents.count())
    // downstream contract holds regardless of which reader fed it
    val s1 = RetailRocket.sessionizeEvents(inferred).orderBy("session_id", "ts", "item_id")
    val s2 = RetailRocket.sessionizeEvents(rawEvents).orderBy("session_id", "ts", "item_id")
    assert(s1.collect().toSeq == s2.collect().toSeq)
    val props = RetailRocket.readPropsCsv(
      spark, Seq(s"$fixtureDir/item_properties_part1.csv"), inferSchema = true)
    assert(props.count() > 0)
  }

  test("item category: latest snapshot wins across csv parts") {
    val cats = RetailRocket.itemCategory(rawProps)
      .as[(Long, Long)].collect().toMap
    assert(cats == Map(101L -> 11L, 102L -> 20L)) // 101: 10 superseded by 11
  }

  test("ATC split: half-open train/valid windows") {
    val events = RetailRocket.sessionizeEvents(rawEvents)
    val itemCat = RetailRocket.itemCategory(rawProps)
    val atc = RetailRocket.atcEvents(events, itemCat)
    val train = RetailRocket.splitByWindow(atc, RetailRocket.TrainStart, RetailRocket.TrainEnd)
    val valid = RetailRocket.splitByWindow(atc, RetailRocket.TrainEnd, RetailRocket.ValidEnd)
    assert(train.count() == 1 && valid.count() == 1)
    assert(train.select("category_id").as[Long].head() == 20L) // item 102
    assert(valid.select("category_id").as[Long].head() == 11L) // item 101, latest cat
  }

  test("golden: exact 38-column schema (FIXTURES.md §3)") {
    val expected = Seq(
      "session_id", "atc_ts", "category_id",
      "n_prefix_items", "n_prefix_events", "cat_count_in_prefix",
      "cat_share_in_prefix", "recency_sec", "log_recency",
      "hour_of_day", "day_of_week", "is_weekend",
      "time_since_session_start", "session_cat_diversity",
      "cat_popularity", "log_cat_pop",
      "user_cat_hist", "log_user_cat_hist", "user_cat_sessions",
      "user_total_sessions", "user_avg_session_dur", "y") ++
      (0 until 16).map(i => s"cat_emb_$i")
    assert(result.train.columns.toSeq == expected)
    assert(result.valid.columns.toSeq == expected)
    val t = result.train.schema
    assert(t("session_id").dataType.typeName == "string")
    assert(t("atc_ts").dataType.typeName == "timestamp")
    assert(t("cat_share_in_prefix").dataType.typeName == "double")
    assert(t("cat_emb_0").dataType.typeName == "float")
  }

  test("golden: schema matches the reference's shipped parquet artifact") {
    // The reference ships its real outputs (data/processed/X_train_spark
    // .parquet, 970,995 rows — BASELINE.md). Our pipeline must produce
    // the identical column names, order, and types.
    val ref = spark.read.parquet("/root/reference/data/processed/X_train_spark.parquet")
    val refFields = ref.schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq
    val ourFields = result.train.schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq
    assert(ourFields == refFields)
  }

  test("golden: hand-computed train rows") {
    // Train anchor = user 1's ATC (cat 20). Candidates: prefix {11},
    // popularity {11, 20} (covis/userhist below thresholds or merged).
    val rows = result.train
      .select("category_id", "n_prefix_events", "cat_count_in_prefix", "recency_sec", "y")
      .as[(Long, Long, Long, Long, Int)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(11L, 20L))
    val (c11, c20) = (rows(0), rows(1))
    assert(c11 == ((11L, 1L, 1L, 600L, 0))) // prefix = view of item 101 600 s earlier
    assert(c20 == ((20L, 1L, 0L, 999999L, 1))) // true category, never in prefix
  }

  test("golden: valid rows are point-in-time w.r.t. the train cutoff") {
    // Valid anchor = user 2's ATC of item 101 (cat 11): prefix {11},
    // popularity from TRAIN-window events only {11, 20}.
    val rows = result.valid
      .select("category_id", "y", "user_total_sessions")
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(11L, 20L))
    assert(rows.find(_._1 == 11L).get._2 == 1)
    // user 2 has NO sessions before the cutoff -> default 0, not leakage
    assert(rows.forall(_._3 == 0L))
  }

  test("run: file-level entry writes both matrices with expected counts") {
    val out = Files.createTempDirectory("rr-out").toString
    val counts = RetailRocket.run(
      spark,
      s"$fixtureDir/events.csv",
      propsParts(fixtureDir),
      out)
    assert(counts("train_rows") == 2L && counts("valid_rows") == 2L)
    assert(counts("train_positive") == 1L && counts("valid_positive") == 1L)
    val train = spark.read.parquet(s"$out/X_train_spark.parquet")
    assert(train.count() == 2L && train.columns.length == 38)
  }

  test("run: a split with no anchors reads back as zero rows") {
    // user 2 is the only valid-window activity: without it the valid
    // matrix is empty, and run must count its empty output as zero
    val dir = writeFixture(eventRows.filterNot(_.split(",")(1) == "2"))
    val counts = RetailRocket.run(
      spark,
      s"$dir/events.csv",
      propsParts(dir),
      Files.createTempDirectory("rr-out").toString)
    assert(counts("valid_rows") == 0L && counts("valid_positive") == 0L)
    assert(counts("train_rows") == 2L && counts("train_positive") == 1L)
  }

  // a generated corpus with many anchors in both splits
  private lazy val generatedDir: String = {
    val dir = Files.createTempDirectory("rr-gen").toString
    val winStartMs = 1430438400000L // 2015-05-01
    val winMs = 92L * 86400 * 1000
    spark.range(0L, 6000L, 1L, 2)
      .select(
        (lit(winStartMs) + (rand(1) * winMs).cast("long")).as("timestamp"),
        (pow(rand(2), 2.0) * 300).cast("long").as("visitorid"),
        when(rand(3) < 0.85, "view").otherwise("addtocart").as("event"),
        (pow(rand(4), 2.0) * 400).cast("long").as("itemid"),
        lit(null).cast("long").as("transactionid"))
      .write.option("header", "true").csv(s"$dir/events")
    spark.range(0L, 400L, 1L, 1)
      .select(
        lit(winStartMs - 86400000L).as("timestamp"),
        col("id").as("itemid"),
        lit("categoryid").as("property"),
        (col("id") % 30).cast("string").as("value"))
      .write.option("header", "true").csv(s"$dir/props")
    dir
  }

  test("run: counts read back from the written matrices equal counts over the buildAll frames") {
    val dir = generatedDir
    val counts = RetailRocket.run(
      spark, s"$dir/events", Seq(s"$dir/props"), s"$dir/out")
    val direct = graft.core.Caches.withScope {
      val r = RetailRocket.buildAll(
        spark, RetailRocket.readEventsCsv(spark, s"$dir/events"),
        RetailRocket.readPropsCsv(spark, Seq(s"$dir/props")))
      Map(
        "train_rows" -> r.train.count(),
        "valid_rows" -> r.valid.count(),
        "train_positive" -> r.train.filter(col("y") === 1).count(),
        "valid_positive" -> r.valid.filter(col("y") === 1).count())
    }
    assert(counts == direct)
    assert(direct("train_positive") > 0L && direct("valid_positive") > 0L)
    assert(direct("train_rows") > direct("train_positive"))
  }

  // row count + order-independent sum of per-row hashes over the 22
  // relational columns of both written matrices (the Word2Vec dims are
  // not bit-reproducible)
  private def digest(out: String): Seq[(Long, Long)] =
    Seq("train", "valid").map { name =>
      val df = spark.read.parquet(s"$out/X_${name}_spark.parquet")
      val cols = df.columns.filterNot(_.startsWith("cat_emb_")).map(col).toIndexedSeq
      val r = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(cols: _*), lit(1000000007L))), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }

  test("run with a forcing stage hook reads back the same counts and relational-column digest as run without one") {
    def build(stage: (String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame) = {
      val out = Files.createTempDirectory("rr-out").toString
      (RetailRocket.run(spark, s"$generatedDir/events", Seq(s"$generatedDir/props"), out, stage = stage),
        digest(out))
    }
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val forced = build { (name, df) => seen += name; graft.core.Caches.materialized(df) }
    val plain = build((_, df) => df)
    assert(forced == plain)
    assert(plain._1("train_rows") > 0L && plain._1("valid_rows") > 0L)
    assert(seen.toSeq == Seq("load_sessionize", "item_category", "atc_split",
      "word2vec", "candidates", "features"))
  }

  test("run: one anchor pass writes the per-split build's counts and relational digest in fewer stages") {
    import graft.core.{Caches, Sinks}
    import graft.pipeline.Embeddings
    // the per-split wiring from the same public functions: per split a
    // cached prefix, candidates, features and a write, each split read
    // back by its own aggregate
    def perSplit(out: String): Map[String, Long] = Caches.withScope {
      val events = Caches.cache(RetailRocket.sessionizeEvents(
        RetailRocket.readEventsCsv(spark, s"$generatedDir/events")))
      val itemCat = Caches.cache(RetailRocket.itemCategory(
        RetailRocket.readPropsCsv(spark, Seq(s"$generatedDir/props"))))
      val atc = Caches.cache(RetailRocket.atcEvents(events, itemCat))
      val tm = RetailRocket.trainMatrices(events, itemCat, RetailRocket.TrainEnd, Some(1000), cache = true)
      val vectors = Embeddings.trainWord2VecOrEmpty(Embeddings.sessionSequences(
        events
          .filter(col("ts") < lit(RetailRocket.TrainEnd).cast("timestamp"))
          .join(broadcast(itemCat), Seq("item_id"))
          .withColumn("epoch_s", unix_timestamp(col("ts")))
          .withColumn("event_id", col("item_id")),
        "category_id"))
      Seq("train" -> (RetailRocket.TrainStart, RetailRocket.TrainEnd),
        "valid" -> (RetailRocket.TrainEnd, RetailRocket.ValidEnd)).flatMap { case (name, (from, to)) =>
        val split = Caches.cache(RetailRocket.splitByWindow(atc, from, to))
        val prefix = Caches.cache(RetailRocket.prefixWithCategories(split, events, itemCat, None))
        val cands = RetailRocket.candidatesWith(split, events, itemCat, tm, None, Some(prefix))
        val df = Embeddings.attachEmbeddings(
          RetailRocket.featuresWith(split, cands, events, itemCat, tm, None, Some(prefix)),
          vectors, "category_id", dims = 16)
        val path = s"$out/X_${name}_spark.parquet"
        Sinks.writeScanParallelParquet(df, path, maxRecordsPerFile = Some(50000L))
        val r = spark.read.schema(df.schema).parquet(path)
          .agg(count(lit(1)), count(when(col("y") === 1, true))).head()
        Seq(s"${name}_rows" -> r.getLong(0), s"${name}_positive" -> r.getLong(1))
      }.toMap
    }
    val m = graft.core.StageMetrics.on(spark)
    def stages[A](f: => A): (A, Int) = {
      m.drain(); m.reset()
      val a = f
      m.drain()
      (a, m.stages.size)
    }
    try {
      val onePass = Files.createTempDirectory("rr-one").toString
      val (counts, onePassStages) = stages(
        RetailRocket.run(spark, s"$generatedDir/events", Seq(s"$generatedDir/props"), onePass))
      val splitOut = Files.createTempDirectory("rr-split").toString
      val (splitCounts, perSplitStages) = stages(perSplit(splitOut))
      assert(counts == splitCounts)
      assert(digest(onePass) == digest(splitOut))
      assert(counts("train_rows") > 0L && counts("valid_rows") > 0L)
      // fewer by a tenth at least: the order of the same per-split
      // stages alone moves a build by a few stages (127 against 131)
      assert(onePassStages * 10 < perSplitStages * 9,
        s"one pass $onePassStages stages, per split $perSplitStages")
    } finally m.close()
  }

  test("trainMatrices(cache = true): both covis matrices read one cached capped-events relation") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    // every cached relation read below a cached frame's own one
    def below(p: SparkPlan): Seq[InMemoryRelation] = p.flatMap {
      case s: InMemoryTableScanExec => s.relation +: below(s.relation.cacheBuilder.cachedPlan)
      case a: AdaptiveSparkPlanExec => below(a.inputPlan)
      case _ => Nil
    }
    def cachedInputs(df: org.apache.spark.sql.DataFrame): Seq[InMemoryRelation] =
      df.queryExecution.optimizedPlan match {
        case own: InMemoryRelation => below(own.cacheBuilder.cachedPlan)
        case p => fail(s"expected a cached frame, got ${p.nodeName}")
      }
    // inputs read from a fresh copy of the fixture, so no cache left by
    // another test (`result` pins the sessionized events) matches them
    val dir = writeFixture(eventRows)
    graft.core.Caches.withScope {
      val tm = RetailRocket.trainMatrices(
        RetailRocket.sessionizeEvents(RetailRocket.readEventsCsv(spark, s"$dir/events.csv")),
        RetailRocket.itemCategory(RetailRocket.readPropsCsv(spark, propsParts(dir))),
        RetailRocket.TrainEnd, covisSessionCap = Some(1000), cache = true)
      val item = cachedInputs(tm.itemCovis)
      val cat = cachedInputs(tm.catCovis)
      val shared = item.map(_.cacheBuilder).distinct
        .filter(b => cat.exists(_.cacheBuilder eq b))
      assert(shared.size == 1, s"shared cached inputs: ${shared.map(_.cachedName)}")
      assert(shared.head.cachedPlan.output.map(_.name).contains("session_id"))
    }
  }

  test("maxPrefixEvents cap: output schema/rows survive, capped run is a subset-or-equal") {
    val capped = RetailRocket.buildAll(spark, rawEvents, rawProps, maxPrefixEvents = Some(2))
    val full = result
    assert(capped.train.columns.toSeq == full.train.columns.toSeq)
    // candidate sets can only shrink when the prefix shrinks
    val cappedKeys = capped.train.select("session_id", "atc_ts", "category_id")
      .collect().toSet
    val fullKeys = full.train.select("session_id", "atc_ts", "category_id")
      .collect().toSet
    assert(cappedKeys.subsetOf(fullKeys))
    // prefix-derived counts bounded by the cap
    assert(capped.train.agg(max(col("n_prefix_events"))).head().getLong(0) <= 2L)
  }

  test("golden: embeddings attached as 16 zero-filled dims (tiny vocab)") {
    // minCount=3 with a 2-token corpus -> empty vocab -> all dims 0.0
    val embSum = result.train
      .select((0 until 16).map(i => abs(col(s"cat_emb_$i"))).reduce(_ + _).as("s"))
      .agg(sum("s")).as[Double].head()
    assert(embSum == 0.0)
  }

  test("buildAll over a bucketed events table produces identical matrices") {
    try {
      val bucketed = RetailRocket.buildAll(
        spark, rawEvents, rawProps,
        bucketedEventsTable = Some("graft_rr_spec_bucketed"))
      // full-width check: every one of the 38 columns agrees on both splits
      def rows(df: org.apache.spark.sql.DataFrame) = {
        val cols = df.columns.sorted
        df.select(cols.map(col): _*).collect().map(_.toSeq).sortBy(_.toString).toSeq
      }
      assert(rows(bucketed.train) == rows(result.train))
      assert(rows(bucketed.valid) == rows(result.valid))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_rr_spec_bucketed")
    }
  }
}
