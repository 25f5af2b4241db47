package graft.pipeline

import graft.ops.{Joins, Windows}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The complete reference workload over RetailRocket-schema inputs:
  * events CSV + item-properties CSV → sessionization → latest category
  * per item → ATC extraction + point-in-time split → 5-strategy
  * candidate generation → 22 base feature/label columns + 16 Word2Vec
  * embedding dims = the reference's exact 38-column output
  * (reference `prepare_training_data_pyspark.py:30-649`; schema per
  * FIXTURES.md §3). A user of the reference can call [[run]] on the
  * same raw CSVs and get the same-shaped matrices.
  *
  * Spark-first deltas from the reference (semantics-preserving, see
  * SURVEY.md §7):
  *  - explicit CSV schemas (no inferSchema double-scan);
  *  - deterministic tie-breaks on every row_number/ordering;
  *  - `item_category` and top-k dims broadcast at join sites;
  *  - co-visitation self-join capped per session (`covisSessionCap`)
  *    against power-law skew — the reference's uncapped form is
  *    O(Σ n_s²) and dies at 100 TB;
  *  - Word2Vec distributed via MLlib (not driver-side gensim) and
  *    embeddings attached by broadcast join (not a Python UDF).
  */
object RetailRocket {
  val TrainStart = "2015-05-01"
  val TrainEnd = "2015-07-01"
  val ValidEnd = "2015-08-01"
  val SessionGapMinutes = 30

  /** events.csv schema (FIXTURES.md §1). */
  val eventsCsvSchema: StructType = StructType(Seq(
    StructField("timestamp", LongType), // epoch ms
    StructField("visitorid", LongType),
    StructField("event", StringType),
    StructField("itemid", LongType),
    StructField("transactionid", LongType)))

  /** item_properties CSV schema. */
  val propsCsvSchema: StructType = StructType(Seq(
    StructField("timestamp", LongType), // epoch ms
    StructField("itemid", LongType),
    StructField("property", StringType),
    StructField("value", StringType)))

  private def msToTs(c: Column): Column = timestamp_seconds(c / 1000L)

  /** Load + window-filter (`[TrainStart, ValidEnd)`) + sessionize raw
    * events (reference STEP 2, `:68-137`). Accepts any DataFrame in
    * events.csv schema (use [[readEventsCsv]] for files). Output:
    * (session_id, user_id, ts, item_id, event).
    */
  def sessionizeEvents(raw: DataFrame): DataFrame = {
    val filtered = raw
      .select(
        msToTs(col("timestamp")).as("ts"),
        col("visitorid").cast("long").as("user_id"),
        col("itemid").cast("long").as("item_id"),
        col("event"))
      .filter(
        col("ts") >= lit(TrainStart).cast("timestamp") &&
          col("ts") < lit(ValidEnd).cast("timestamp"))
    // Deterministic intra-ties ordering: reference orders by ts only
    // (unstable under ties); we add (item_id, event) — documented
    // deviation, same sessions whenever ts ties don't straddle a gap.
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("item_id"), col("event"))
    filtered
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn(
        "gap_s",
        when(col("prev_ts").isNotNull, unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")))
          .otherwise(0L))
      .withColumn(
        "is_new_session",
        when(col("gap_s") > SessionGapMinutes * 60L || col("prev_ts").isNull, 1L).otherwise(0L))
      .withColumn("session_num", sum(col("is_new_session")).over(w))
      .select(
        concat(col("user_id").cast("string"), lit("_"), col("session_num").cast("string"))
          .as("session_id"),
        col("user_id"),
        col("ts"),
        col("item_id"),
        col("event"))
  }

  /** CSV scan (reference STEP 1/3, `prepare_training_data_pyspark.py:71,149`)
    * with the explicit [[eventsCsvSchema]]: the reference's
    * `inferSchema=True` is a SECOND full pass over the file — at 100 TB
    * a doubled scan for types that are already known.
    */
  def readEventsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(eventsCsvSchema).csv(path)

  /** One-time bucketed materialization of the sessionized events table
    * — the storage-level answer to the session-key shuffles. Written
    * `bucketBy(session_id)` + sorted, every downstream consumer that
    * needs a session_id distribution plans ZERO exchange over the big
    * side: the J3 prefix join (both sides derive from this scan), the
    * J4 covis distinct/self-join, and per-session aggregations.
    * Composite-key operators (distinct on (session_id, atc_ts),
    * groupBy (session_id, item_id)) are covered too — hash partitioning
    * on a PREFIX of the clustering keys satisfies the distribution, so
    * Catalyst keeps the scan partitioning instead of reshuffling.
    *
    * At 100 TB this is the difference between shuffling the event log
    * once at ingest (write-side, amortized over every later query) and
    * shuffling it in every pipeline run. Pair `buckets` with the
    * cluster's target partition size (~128 MB/bucket-file). [[buildAll]]
    * does not use it: on one node the bucketed build measured slower
    * (DESIGN.md "Partitioning strategy"); BucketingSpec pins its rows
    * and its exchange-free joins.
    */
  def bucketizeEvents(
      events: DataFrame,
      tableName: String = "graft_events_bucketed",
      buckets: Int = 32): DataFrame = {
    val spark = events.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    events.write
      .mode("overwrite")
      .bucketBy(buckets, "session_id")
      .sortBy("session_id", "ts")
      .saveAsTable(tableName)
    spark.table(tableName)
  }

  /** The property parts as one scan with the explicit [[propsCsvSchema]]
    * (the reference reads each part with `inferSchema=True` and unions
    * them, `:149-150`).
    */
  def readPropsCsv(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("header", "true").schema(propsCsvSchema).csv(paths: _*)

  /** Latest `categoryid` per item (reference STEP 3, `:144-173`):
    * union parts → filter property → row_number over ts desc.
    * Tie-break on equal ts: lowest category_id (deterministic;
    * reference leaves it unstable).
    */
  def itemCategory(props: DataFrame): DataFrame =
    Windows
      .latestPerKey(
        props
          .filter(col("property") === "categoryid")
          .select(
            col("itemid").cast("long").as("item_id"),
            col("value").cast("long").as("category_id"),
            msToTs(col("timestamp")).as("ts")),
        Seq("item_id"),
        col("ts"),
        Seq("category_id"))
      .select("item_id", "category_id")

  /** ATC anchor extraction (reference STEP 4, `:183-194`). */
  def atcEvents(events: DataFrame, itemCat: DataFrame): DataFrame =
    events
      .filter(col("event") === "addtocart")
      .join(broadcast(itemCat), Seq("item_id"))
      .select(col("session_id"), col("user_id"), col("ts").as("atc_ts"),
        col("item_id"), col("category_id"))

  /** Half-open time-window split on atc_ts (reference `:199-207`). */
  def splitByWindow(atc: DataFrame, start: String, end: String): DataFrame =
    atc.filter(
      col("atc_ts") >= lit(start).cast("timestamp") &&
        col("atc_ts") < lit(end).cast("timestamp"))

  /** The shared J3 subtree: for each anchor, the events strictly
    * before it within its session (range-join shape), LEFT-joined to
    * item categories; consumed by BOTH [[candidatesWith]] (inner form)
    * and [[featuresWith]] (left form). `has_cat = 1` marks rows whose
    * item has a category row, so the inner form is a FILTER over this
    * one lineage instead of a second join — the CacheManager can then
    * dedup both consumers against one cached build instead of running
    * the most expensive shuffle in the pipeline twice. (A plain
    * `category_id IS NOT NULL` filter would be wrong if an item's
    * latest category value is null — the marker keeps inner-join
    * semantics exactly.)
    *
    * `maxPrefixEvents`: keep only the N most recent prefix events per
    * anchor (recency-ranked, deterministic tie-break). The prefix
    * blow-up is the features stage's scale hazard — per-anchor prefix
    * rows grow with session length, which grows super-linearly on
    * power-law users as the event count rises (measured: features
    * 54 s at 10M events → 385 s at 20M on one node). A recency cap
    * bounds it at anchors × N; None = reference-exact.
    */
  def prefixWithCategories(
      atc: DataFrame,
      events: DataFrame,
      itemCat: DataFrame,
      maxPrefixEvents: Option[Int] = None): DataFrame = {
    val all = atc
      .select(col("session_id"), col("atc_ts"))
      .distinct()
      .join(events.select(col("session_id"), col("ts"), col("item_id")), Seq("session_id"))
      .filter(col("ts") < col("atc_ts"))
    val prefix = maxPrefixEvents match {
      case Some(k) =>
        Windows
          .topKPerGroup(all, Seq("session_id", "atc_ts"),
            col("ts").cast("long"), Seq("item_id"), k)
          .drop("rn")
      case None => all
    }
    prefix.join(broadcast(itemCat.withColumn("has_cat", lit(1))), Seq("item_id"), "left")
  }

  /** Split-independent matrices read by the candidate and feature
    * passes of both splits — everything here depends only on
    * (events, itemCat, trainCutoff), never on the anchor split, so
    * [[buildAll]] computes and caches them ONCE instead of twice (the
    * two co-visitation self-joins are the most expensive subtrees in
    * the whole pipeline; the reference recomputes all of this per
    * split, `prepare_training_data_pyspark.py:378-379,629-630`).
    */
  final case class TrainMatrices(
      itemCovis: DataFrame,
      catCovis: DataFrame,
      catPopTop: DataFrame,
      userPastCats: DataFrame,
      catPop: DataFrame,
      userCatAff: DataFrame,
      userStats: DataFrame)

  def trainMatrices(
      events: DataFrame,
      itemCat: DataFrame,
      trainCutoff: String,
      covisSessionCap: Option[Int] = Some(1000),
      cache: Boolean = true): TrainMatrices = {
    def c(df: DataFrame) = if (cache) graft.core.Caches.cache(df) else df
    val cutoff = lit(trainCutoff).cast("timestamp")
    val trainEvents = events.filter(col("ts") < cutoff)
    // both covis matrices read the capped events; separately cached
    // plans share no exchange, so cache their common input too or the
    // count + semi-join runs once per matrix
    val trainEventsCapped = covisSessionCap match {
      case Some(cap) =>
        val keep = trainEvents.groupBy(col("session_id")).count()
          .filter(col("count") <= cap).select("session_id")
        c(trainEvents.join(keep, Seq("session_id"), "left_semi"))
      case None => trainEvents
    }

    // item co-visitation matrix (`:250-260`): raw event-pair counts,
    // covis >= 3 — computed via per-session count pre-aggregation
    // (bit-identical to enumerating raw pairs; see
    // Joins.covisitationPairsWeighted). The session cap is already
    // applied upstream (covisSessionCap), so no inner cap here.
    val te = trainEventsCapped.select(col("session_id"), col("item_id"))
    val itemCovis = graft.ops.Joins
      .covisitationPairsWeighted(te, "session_id", "item_id",
        minCount = 3L, maxGroupSize = None)
      .select(col("item_a"), col("item_b"), col("pair_count").as("covis"))

    // category co-visitation matrix (`:291-303`): distinct-session
    // pairs, cooccur >= 5 — an exact rewrite of the raw self-join +
    // countDistinct form. The lossless frequent-category prefilter is
    // deliberately OFF: ~1000 dense categories nearly all clear the
    // threshold, and the extra frequency agg + semi-join measured as a
    // large regression at 20M events (DESIGN.md, candidates 43 s vs
    // 151 s).
    val tec = trainEventsCapped
      .join(broadcast(itemCat), Seq("item_id"))
      .select(col("session_id"), col("category_id"))
    val catCovis = graft.ops.Joins
      .covisitationPairs(tec, "session_id", "category_id",
        minCount = 5L, maxGroupSize = None)
      .select(col("item_a").as("cat_a"), col("item_b").as("cat_b"),
        col("pair_count").as("cooccur"))

    val trainEnriched = trainEvents.join(broadcast(itemCat), Seq("item_id"))

    // global popularity, top-20 by raw event count (`:332-337`) and the
    // full per-category counts for features (`:499-502`)
    val catPop = trainEnriched
      .groupBy(col("category_id"))
      .agg(count(lit(1)).as("global_pop"))
    val catPopTop = catPop
      .orderBy(col("global_pop").desc, col("category_id").asc)
      .limit(20)
      .select("category_id")

    // user history recency (`:343-347`)
    val userPastCats = trainEnriched
      .groupBy(col("user_id"), col("category_id"))
      .agg(max(col("ts")).as("last_seen"))

    // user-category affinity + user session stats (`:509-529`)
    val userCatAff = trainEnriched
      .groupBy(col("user_id"), col("category_id"))
      .agg(
        count(lit(1)).as("user_cat_interactions"),
        countDistinct(col("session_id")).as("user_cat_sessions"))
    val userStats = trainEvents
      .groupBy(col("user_id"), col("session_id"))
      .agg((max(col("ts")).cast("long") - min(col("ts")).cast("long")).as("session_duration"))
      .groupBy(col("user_id"))
      .agg(
        countDistinct(col("session_id")).as("total_sessions"),
        avg(col("session_duration")).as("avg_session_duration"))

    TrainMatrices(
      c(itemCovis), c(catCovis), c(catPopTop), c(userPastCats),
      c(catPop), c(userCatAff), c(userStats))
  }

  /** 5-strategy candidate generation (reference `build_candidates_spark`,
    * `:225-375`) against precomputed [[TrainMatrices]]. Returns
    * (session_id, atc_ts, category_id) distinct.
    *
    * `sharedPrefix`: a (typically cached) [[prefixWithCategories]]
    * table for these `atc` anchors — pass the same one to
    * [[featuresWith]] so the prefix range-join subtree is computed once.
    * None builds and caches one here.
    */
  def candidatesWith(
      atc: DataFrame,
      events: DataFrame,
      itemCat: DataFrame,
      tm: TrainMatrices,
      maxPrefixEvents: Option[Int] = None,
      sharedPrefix: Option[DataFrame] = None): DataFrame = {
    val prefix = sharedPrefix
      .getOrElse(graft.core.Caches.cache(prefixWithCategories(atc, events, itemCat, maxPrefixEvents)))
      .filter(col("has_cat") === 1).drop("has_cat")

    // 1. prefix categories (`:235-246`)
    val prefixCands = prefix.select("session_id", "atc_ts", "category_id").distinct()

    // 2. item co-visitation candidates: top-15 categories per anchor by
    // max covis (`:264-287`)
    val itemCovisCands = Windows
      .topKPerGroup(
        prefix.select("session_id", "atc_ts", "item_id")
          .join(tm.itemCovis, col("item_id") === col("item_a"))
          .join(broadcast(itemCat.select(col("item_id").as("cand_item"), col("category_id"))),
            col("item_b") === col("cand_item"))
          .groupBy(col("session_id"), col("atc_ts"), col("category_id"))
          .agg(max(col("covis")).as("max_covis")),
        Seq("session_id", "atc_ts"), col("max_covis"), Seq("category_id"), 15)
      .select("session_id", "atc_ts", "category_id")

    // 3. category co-visitation candidates, top-10 per anchor (`:306-329`)
    val catCovisCands = Windows
      .topKPerGroup(
        prefix
          .join(tm.catCovis, col("category_id") === col("cat_a"))
          .groupBy(col("session_id"), col("atc_ts"), col("cat_b"))
          .agg(max(col("cooccur")).as("max_cooccur")),
        Seq("session_id", "atc_ts"), col("max_cooccur"), Seq("cat_b"), 10)
      .select(col("session_id"), col("atc_ts"), col("cat_b").as("category_id"))

    // 4. popularity: global top-20 cross-joined to every anchor (`:339-340`)
    val popCands = atc
      .select("session_id", "atc_ts")
      .crossJoin(broadcast(tm.catPopTop))

    // 5. user history: top-10 categories by last_seen before the
    // anchor (`:343-362`).
    val userHistCands = Windows
      .topKPerGroup(
        atc.select("session_id", "atc_ts", "user_id")
          .join(tm.userPastCats, Seq("user_id"))
          .filter(col("last_seen") < col("atc_ts")),
        Seq("session_id", "atc_ts"), col("last_seen").cast("long"), Seq("category_id"), 10)
      .select("session_id", "atc_ts", "category_id")

    Seq(prefixCands, itemCovisCands, catCovisCands, popCands, userHistCands)
      .reduce(_ union _)
      .distinct()
  }

  /** Feature assembly (reference `build_features_spark`, `:441-594`)
    * against precomputed [[TrainMatrices]]: 22 base/label columns.
    * Embeddings are attached separately ([[Embeddings.attachEmbeddings]])
    * to complete the 38-col matrix. `sharedPrefix`: see [[candidatesWith]].
    */
  def featuresWith(
      atc: DataFrame,
      cands: DataFrame,
      events: DataFrame,
      itemCat: DataFrame,
      tm: TrainMatrices,
      maxPrefixEvents: Option[Int] = None,
      sharedPrefix: Option[DataFrame] = None): DataFrame = {
    val base = atc
      .select(col("session_id"), col("user_id"), col("atc_ts"),
        col("category_id").as("true_category_id"))
      .join(cands.withColumnRenamed("category_id", "cand_category_id"),
        Seq("session_id", "atc_ts"))

    // prefix stats per (anchor, candidate category) — left join so
    // anchors with empty prefixes keep a row (`:466-496`)
    val pe = sharedPrefix
      .getOrElse(graft.core.Caches.cache(prefixWithCategories(atc, events, itemCat, maxPrefixEvents)))
      .drop("has_cat")
    // Prefix stats split by their TRUE grain instead of one
    // candidate-grain multi-distinct agg. The reference (`:466-496`)
    // aggregates the candidate-multiplied prefix join with two
    // countDistincts, which (a) pushes Σ(n_cands × n_prefix) rows
    // through a ×3 Expand — the multiplied corpus is the most
    // expensive frame in the stage — and (b) Catalyst's
    // multi-distinct rewrite lays that Expand out in expression-set
    // hash order, which is plan-text NONDETERMINISTIC (it broke the
    // bench fingerprint). Every stat except the two candidate-
    // conditioned ones is a function of the anchor alone:
    //  - (cat_count_in_prefix, recency_sec) live at (anchor, pcat)
    //    grain — aggregate pe there ONCE, then equi-join candidates
    //    (no candidate multiplication at all);
    //  - (n_prefix_events, session_start) are plain anchor aggs;
    //  - the two distinct counts become distinct-projection + count
    //    (each a deterministic single-distinct shape).
    // pe feeds four branches — cache so the prefix join runs once.
    val pec = graft.core.Caches.cache(
      pe.withColumnRenamed("category_id", "pcat"))
    val pcatStats = pec
      .groupBy(col("session_id"), col("atc_ts"), col("pcat").as("cand_category_id"))
      .agg(
        count(lit(1)).as("cat_count_in_prefix"),
        max(unix_timestamp(col("atc_ts")) - unix_timestamp(col("ts")))
          .as("recency_sec"))
    val anchorBase = pec
      .groupBy(col("session_id"), col("atc_ts"))
      .agg(
        count(col("item_id")).as("n_prefix_events"),
        min(col("ts")).as("session_start"))
    val anchorItems = pec
      .filter(col("item_id").isNotNull)
      .select("session_id", "atc_ts", "item_id").distinct()
      .groupBy(col("session_id"), col("atc_ts"))
      .agg(count(lit(1)).as("n_prefix_items"))
    val anchorDiv = pec
      .filter(col("pcat").isNotNull)
      .select("session_id", "atc_ts", "pcat").distinct()
      .groupBy(col("session_id"), col("atc_ts"))
      .agg(count(lit(1)).as("session_cat_diversity"))

    base
      .join(pcatStats, Seq("session_id", "atc_ts", "cand_category_id"), "left")
      .join(anchorBase, Seq("session_id", "atc_ts"), "left")
      .join(anchorItems, Seq("session_id", "atc_ts"), "left")
      .join(anchorDiv, Seq("session_id", "atc_ts"), "left")
      .join(broadcast(tm.catPop.withColumnRenamed("category_id", "cand_category_id")),
        Seq("cand_category_id"), "left")
      .join(tm.userCatAff.withColumnRenamed("category_id", "cand_category_id"),
        Seq("user_id", "cand_category_id"), "left")
      .join(tm.userStats, Seq("user_id"), "left")
      .select(
        col("session_id"),
        col("atc_ts"),
        col("cand_category_id").as("category_id"),
        coalesce(col("n_prefix_items"), lit(0L)).as("n_prefix_items"),
        coalesce(col("n_prefix_events"), lit(0L)).as("n_prefix_events"),
        coalesce(col("cat_count_in_prefix"), lit(0L)).as("cat_count_in_prefix"),
        (coalesce(col("cat_count_in_prefix"), lit(0L)) /
          greatest(coalesce(col("n_prefix_events"), lit(1L)), lit(1L)))
          .as("cat_share_in_prefix"),
        coalesce(col("recency_sec"), lit(999999L)).as("recency_sec"),
        log1p(coalesce(col("recency_sec"), lit(999999L))).as("log_recency"),
        hour(col("atc_ts")).as("hour_of_day"),
        dayofweek(col("atc_ts")).as("day_of_week"),
        when(dayofweek(col("atc_ts")).isin(1, 7), 1).otherwise(0).as("is_weekend"),
        coalesce(
          unix_timestamp(col("atc_ts")) - unix_timestamp(col("session_start")),
          lit(0L)).as("time_since_session_start"),
        coalesce(col("session_cat_diversity"), lit(0L)).as("session_cat_diversity"),
        coalesce(col("global_pop"), lit(1L)).as("cat_popularity"),
        log1p(coalesce(col("global_pop"), lit(1L))).as("log_cat_pop"),
        coalesce(col("user_cat_interactions"), lit(0L)).as("user_cat_hist"),
        log1p(coalesce(col("user_cat_interactions"), lit(0L))).as("log_user_cat_hist"),
        coalesce(col("user_cat_sessions"), lit(0L)).as("user_cat_sessions"),
        coalesce(col("total_sessions"), lit(0L)).as("user_total_sessions"),
        coalesce(col("avg_session_duration"), lit(0.0)).as("user_avg_session_dur"),
        when(col("true_category_id") === col("cand_category_id"), 1).otherwise(0).as("y"))
  }

  /** Per-(split) result of a full run. */
  final case class RunResult(train: DataFrame, valid: DataFrame)

  /** The split of an [[anchorPass]] row, whose `atc_ts` is in `[TrainStart, ValidEnd)`. */
  private def splitOf: Column =
    when(col("atc_ts") < lit(TrainEnd).cast("timestamp"), "train").otherwise("valid")

  /** End-to-end: raw event/property frames → 38-column train + valid
    * feature matrices (reference STEPs 2–6 + embedding attach). The two
    * are the `train`/`valid` views of [[anchorPass]]'s one frame.
    *
    * `stage` is the one place a caller observes the build: it sees each
    * named stage output once, in pipeline order — `load_sessionize` (the
    * events), `item_category`, `atc_split` (the anchors of both
    * splits), `word2vec` (the vectors), `candidates`, `features` — and
    * what it returns is used downstream. A caller can force, time or
    * label a stage there (BaselineBench forces each with
    * `Caches.materialized`); the default identity leaves every plan as
    * it is.
    *
    * The two views are uncached filters over the one frame, so an action
    * on each runs the both-split candidate and feature joins once per
    * view; a caller that acts on both should cache or force the frame
    * through the `features` hook. [[run]] does not pay this: it writes
    * the frame once and splits it at the sink.
    */
  def buildAll(
      spark: SparkSession,
      rawEvents: DataFrame,
      rawProps: DataFrame,
      maxPrefixEvents: Option[Int] = None,
      stage: (String, DataFrame) => DataFrame = (_, df) => df): RunResult = {
    val all = anchorPass(rawEvents, rawProps, maxPrefixEvents, stage)
    RunResult(all.filter(splitOf === "train"), all.filter(splitOf === "valid"))
  }

  /** The build over every ATC anchor of both splits at once. Each stage
    * from the prefix to the features works per anchor
    * `(session_id, atc_ts)`, and the train and valid windows do not
    * overlap, so one pass gives each split's rows; the split happens at
    * the sink. The reference builds candidates and features once per
    * split (`prepare_training_data_pyspark.py:629-630`).
    */
  private def anchorPass(
      rawEvents: DataFrame,
      rawProps: DataFrame,
      maxPrefixEvents: Option[Int],
      stage: (String, DataFrame) => DataFrame): DataFrame = {
    val events = stage("load_sessionize", graft.core.Caches.cache(sessionizeEvents(rawEvents)))
    val itemCat = stage("item_category", graft.core.Caches.cache(itemCategory(rawProps)))
    val atc = stage("atc_split", graft.core.Caches.cache(
      splitByWindow(atcEvents(events, itemCat), TrainStart, ValidEnd)))

    // split-independent matrices computed ONCE for both splits
    val tm = trainMatrices(events, itemCat, TrainEnd)

    // Word2Vec category embeddings on pre-cutoff sequences (`:390-433`)
    val seqs = Embeddings.sessionSequences(
      events
        .filter(col("ts") < lit(TrainEnd).cast("timestamp"))
        .join(broadcast(itemCat), Seq("item_id"))
        .withColumn("epoch_s", unix_timestamp(col("ts")))
        .withColumn("event_id", col("item_id")), // tie-break within equal ts
      "category_id")
    val vectors = stage("word2vec", Embeddings.trainWord2VecOrEmpty(seqs))

    // ONE cached prefix⋈itemCat subtree, shared by the candidate pass
    // (inner form, via the has_cat filter) and the feature pass (left
    // form) — the J3 range join runs once per build
    val prefix = graft.core.Caches.cache(prefixWithCategories(atc, events, itemCat, maxPrefixEvents))
    val cands = stage("candidates", candidatesWith(atc, events, itemCat, tm, maxPrefixEvents, Some(prefix)))
    stage("features", Embeddings.attachEmbeddings(
      featuresWith(atc, cands, events, itemCat, tm, maxPrefixEvents, Some(prefix)),
      vectors, "category_id", dims = 16))
  }

  /** File-level entry point — the reference's CLI contract
    * (`prepare_training_data_pyspark.py` STEPs 1–8): events.csv +
    * item_properties_part*.csv in, bounded-file snappy parquet
    * matrices out, stage counts returned (the reference's printed
    * checkpoints, README.md:178-185).
    *
    * `maxPrefixEvents`: recency cap on prefix events per anchor
    * (None = reference-exact). At large event counts set ~50: measured
    * at 20M events it cuts the build 533.7 s → 251.2 s while retaining
    * 98% of output rows (DESIGN.md "prefix blow-up").
    *
    * `stage`: see [[buildAll]]; it runs inside this call's cache scope,
    * so caches it creates are dropped on return with the build's own.
    */
  def run(
      spark: SparkSession,
      eventsCsv: String,
      propsCsvs: Seq[String],
      outDir: String,
      maxPrefixEvents: Option[Int] = None,
      stage: (String, DataFrame) => DataFrame = (_, df) => df): Map[String, Long] =
    // every intra-build cache is dropped once the matrices are written
    // and counted — a long-lived session can run() repeatedly without
    // accumulating pinned InMemoryRelations
    graft.core.Caches.withScope {
      val all = anchorPass(readEventsCsv(spark, eventsCsv), readPropsCsv(spark, propsCsvs),
        maxPrefixEvents, stage)
      val tables = Seq("train", "valid").map(s => s -> s"X_${s}_spark.parquet")
      // one write job for both matrices; bounded row groups keep them
      // scan-parallel for the training jobs that read them (DESIGN.md,
      // "Flagship save")
      graft.core.Sinks.writeParquetByKey(all, splitOf, outDir, tables.toMap,
        maxRecordsPerFile = Some(50000L))
      // The counts come from one aggregate over the written files, not
      // from actions on the built frame: every action renders its plan,
      // and this plan expands every nested cached relation of the build,
      // which costs the driver far more than the count's jobs (DESIGN.md,
      // "The RetailRocket build computes its shared subtrees once"). Read
      // back with the known schema; a split with no rows has no group
      // and counts zero.
      val counts = tables
        .map { case (s, t) =>
          spark.read.schema(all.schema).parquet(s"$outDir/$t").withColumn("split", lit(s))
        }
        .reduce(_ union _)
        .groupBy(col("split"))
        .agg(count(lit(1)), count(when(col("y") === 1, true)))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      tables.flatMap { case (s, _) =>
        val (rows, positive) = counts.getOrElse(s, (0L, 0L))
        Seq(s"${s}_rows" -> rows, s"${s}_positive" -> positive)
      }.toMap
    }
}
