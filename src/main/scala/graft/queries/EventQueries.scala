package graft.queries

import graft.core.Tables
import graft.ops.{Aggregates => Ag, Joins, Windows}
import graft.pipeline.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-log / pipeline queries: sessionization (W1/W2), gaps, running
  * sums, co-visitation (J4), prefix joins (J3), popularity cross join
  * (J5), user history (J6), candidate union (U1) and the wide feature
  * assembly — the reference workload's spine re-expressed over the
  * synthetic `events` table.
  */
object EventQueries {

  /** W1+W2+F2+F4: the session table with per-session stats. */
  def sessionize(s: SparkSession, d: String): DataFrame =
    Windows
      .sessionize(Tables.events(s, d).select(
        col("event_id"), col("ts"), col("user_id")))
      .groupBy(col("session_id"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("epoch_s")).as("session_start_s"),
        max(col("epoch_s")).as("session_end_s"),
        (max(col("epoch_s")) - min(col("epoch_s"))).as("session_dur_s"))

  /** A6 over sessions: per-user session stats (re-aggregation). */
  def userSessionStats(s: SparkSession, d: String): DataFrame =
    sessionize(s, d)
      .groupBy(col("user_id"))
      .agg(
        countDistinct(col("session_id")).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        avg(col("session_dur_s")).as("avg_session_dur_s"),
        max(col("session_dur_s")).as("max_session_dur_s"))

  /** W1: per-user previous-event gap. */
  def lagGaps(s: SparkSession, d: String): DataFrame =
    Windows
      .sessionize(Tables.events(s, d).select(col("event_id"), col("ts"), col("user_id")))
      .select(
        col("event_id"),
        col("user_id"),
        col("gap_s"),
        col("is_new_session"))

  /** W2: running sums per user (exact integer cents). */
  def runningSums(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables
      .events(s, d)
      .select(
        col("event_id"),
        col("user_id"),
        unix_timestamp(col("ts")).as("epoch_s"),
        round(col("value") * 100).cast("long").as("value_cents"))
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("epoch_s"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(
        col("event_id"),
        col("user_id"),
        sum(col("value_cents")).over(w).as("cum_value_cents"),
        count(lit(1)).over(w).as("cum_events"))
  }

  /** J4+A1+P5: item co-visitation pairs within sessions. */
  def covisPairs(s: SparkSession, d: String): DataFrame =
    Joins
      .covisitationPairs(
        Pipeline.sessionizedEvents(s, d).select(col("session_id"), col("item_id")),
        "session_id",
        "item_id",
        minCount = 2L)

  /** J4 raw-multiplicity co-visitation (user-level, where repeat
    * visits are common): pair weight = Σ_users cnt(a)·cnt(b), computed
    * by per-user count pre-aggregation so the self-join runs over
    * distinct (user, item) rows. The oracle enumerates raw event
    * pairs — proving the pre-aggregated form is bit-identical to the
    * naive quadratic one on data where the weights genuinely exceed
    * distinct-user counts.
    */
  def covisWeighted(s: SparkSession, d: String): DataFrame =
    Joins
      .covisitationPairsWeighted(
        graft.core.Tables.events(s, d)
          .select(
            col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item_id"))
          .filter(col("item_id").isNotNull),
        "user_id",
        "item_id",
        minCount = 3L)

  /** J3+A2/A1/A3: per-anchor prefix stats via point-in-time join. */
  def prefixStats(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val a = Pipeline.anchors(enriched)
    a.select(col("anchor_id"), col("session_id"), col("anchor_epoch_s"))
      .join(
        enriched.select(col("session_id"), col("epoch_s"), col("item_id")),
        Seq("session_id"))
      .filter(col("epoch_s") < col("anchor_epoch_s"))
      .groupBy(col("anchor_id"))
      .agg(
        count(lit(1)).as("n_prefix_events"),
        countDistinct(col("item_id")).as("n_prefix_items"),
        max(col("epoch_s")).as("last_prefix_epoch_s"))
  }

  /** J5/O1: every purchase anchor × global top-5 categories. */
  def popularityCandidates(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    Pipeline
      .popularityCandidates(Pipeline.anchors(enriched), enriched, topN = 5)
  }

  /** J6+W3: user-history candidates by recency. */
  def userHistory(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    Pipeline
      .userHistoryCandidates(Pipeline.anchors(enriched), enriched, topK = 10)
  }

  /** U1: 4-strategy candidate union + distinct. */
  def candidates(s: SparkSession, d: String): DataFrame =
    Pipeline
      .candidates(s, d)

  /** A7 order-safe: per-session item sequence as a string. */
  def sessionItemSeq(s: SparkSession, d: String): DataFrame =
    Pipeline
      .sessionizedEvents(s, d)
      .groupBy(col("session_id"))
      .agg(
        Ag.sortedStringAgg(
          Seq(col("epoch_s"), col("event_id")),
          col("item_id"),
          ",").as("item_seq"),
        count(lit(1)).as("n_events"))
      .orderBy(col("session_id"))

  /** F1–F11 battery over events. */
  def scalarFunctions(s: SparkSession, d: String): DataFrame =
    Tables
      .events(s, d)
      .select(
        col("event_id"),
        unix_timestamp(col("ts")).as("epoch_s"),
        hour(col("ts")).cast("long").as("hour_of_day"),
        dayofweek(col("ts")).cast("long").as("day_of_week"),
        when(dayofweek(col("ts")).isin(1, 7), 1L).otherwise(0L).as("is_weekend"),
        round(log1p(col("value")), 6).as("log1p_value"),
        greatest(col("value"), lit(50.0)).as("value_floor50"),
        concat(col("user_id").cast("string"), lit("_"), col("event_type")).as("user_event"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"),
        coalesce(get_json_object(col("props"), "$.missing").cast("long"), lit(-1L))
          .as("missing_default"))

  /** The wide feature-assembly query (reference stage 6). */
  def features(s: SparkSession, d: String): DataFrame =
    Pipeline
      .features(s, d)

  /** Deterministic stratified hash sampling by event type — the
    * class-rebalancing primitive (keep all rare purchases, 10% of
    * views); pure scan-side filter, reproducible across engines and
    * partitionings (graft.ops.Sampling).
    */
  def stratifiedSample(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling
      .stratifiedHashSample(
        Tables.events(s, d), "event_id", "event_type",
        Map("purchase" -> 1000, "view" -> 100, "click" -> 250, "error" -> 50),
        defaultPermille = 500)
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        graft.ops.Sampling.hashBucketPermille(col("event_id")).as("bucket"))

  /** W1-family Markov transitions: per-session next-item counts
    * (ordered by (epoch_s, event_id) — unique tie-break), the
    * sequential-recommendation candidate matrix next to q19's unordered
    * co-visitation.
    */
  def itemTransitions(s: SparkSession, d: String): DataFrame =
    Windows
      .transitionCounts(
        Pipeline.enrichedEvents(s, d),
        "session_id",
        Seq(col("epoch_s").asc, col("event_id").asc),
        "item_id")

  /** Cohort retention over epoch-weeks: users bucketed by first-seen
    * week, distinct-active counts per (cohort, week offset).
    */
  def retentionCohorts(s: SparkSession, d: String): DataFrame =
    Ag.cohortRetention(
        Tables.events(s, d)
          .select(col("user_id"), floor(unix_timestamp(col("ts")) / 604800L).as("week")),
        "user_id",
        "week")
      .select(col("cohort"), col("offset").as("week_offset"), col("active_users"))
      .orderBy(col("cohort"), col("week_offset"))

  /** Ordered conversion funnel over the event log: view -> click ->
    * purchase with STRICT inter-stage ordering (graft.ops.Aggregates
    * .funnelCounts).
    */
  def funnel(s: SparkSession, d: String): DataFrame =
    Ag.funnelCounts(
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("epoch_s")),
        "user_id",
        "epoch_s",
        "event_type",
        Seq("view", "click", "purchase"))
      .orderBy(col("stage"))

  /** Deterministic per-type event sample (k smallest md5 ranks). */
  def groupSample(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling
      .deterministicGroupSample(
        Tables.events(s, d).select(col("event_type"), col("event_id")),
        "event_type",
        "event_id",
        k = 20)
      .select(col("event_type"), col("event_id"), col("rn").cast("long").as("rn"))
      .orderBy(col("event_type"), col("rn"))

  /** W2 range-frame: 7-day trailing per-user spend/event counts. */
  def rollingWindow(s: SparkSession, d: String): DataFrame =
    Windows
      .trailingRangeAgg(
        Tables.events(s, d).select(
          col("event_id"),
          col("user_id"),
          unix_timestamp(col("ts")).as("epoch_s"),
          round(col("value") * 100).cast("long").as("value_cents")),
        "user_id",
        "epoch_s",
        precedingRange = 604799L,
        aggs = Seq(
          (sum(col("value_cents")), "win7d_cents"),
          (count(lit(1)), "win7d_events")))
      .select(col("event_id"), col("user_id"), col("epoch_s"),
        col("win7d_cents"), col("win7d_events"))

  /** Skew diagnostic over the event log's user key. */
  def skewKeys(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling
      .skewTopKeys(Tables.events(s, d).select(col("user_id")), "user_id", k = 10)

  /** Interval-containment attribution: assign each error event to the
    * session window (built from the user's non-error activity) that
    * contains it. A session stays OPEN for the 30-minute gap after its
    * last event (the sessionizer's own rule), so the interval is
    * [start, end + gap] — strict [start, end] would orphan errors
    * around single-event sessions.
    */
  def intervalAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("epoch_s"))
    val sessions = Windows
      .sessionize(
        ev.filter(col("event_type") =!= "error")
          .select(col("event_id"), col("user_id"),
            timestamp_seconds(col("epoch_s")).as("ts")))
      .groupBy(col("session_id"), col("user_id").as("s_user"))
      .agg(
        min(col("epoch_s")).as("session_start_s"),
        (max(col("epoch_s")) + 1800L).as("session_open_until_s"))
      .withColumnRenamed("s_user", "user_id")
    Joins
      .intervalJoin(
        ev.filter(col("event_type") === "error").select(col("event_id"), col("user_id"), col("epoch_s")),
        sessions, "user_id", "epoch_s", "session_start_s", "session_open_until_s")
      .select(col("event_id"), col("user_id"), col("session_id"),
        (col("epoch_s") - col("session_start_s")).as("offset_s"))
  }

  /** Reshaping: event counts per user pivoted into one column per
    * event type. Explicit pivot values — at scale, never let pivot
    * infer the column set with a distinct scan; name the columns.
    */
  def pivotCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .select(
        col("user_id"),
        coalesce(col("view"), lit(0L)).as("n_view"),
        coalesce(col("click"), lit(0L)).as("n_click"),
        coalesce(col("purchase"), lit(0L)).as("n_purchase"),
        coalesce(col("signup"), lit(0L)).as("n_signup"),
        coalesce(col("error"), lit(0L)).as("n_error"))

  /** Typed JSON extraction: ONE from_json parse into a struct instead
    * of a get_json_object call per field — at N fields the repeated
    * form parses the payload N times per row; the typed form parses
    * once and projects (the semi-structured-column idiom at scale).
    */
  def jsonTyped(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        from_json(col("props"), lit("k LONG")).as("p"),
        json_object_keys(col("props")).as("ks"))
      .select(
        col("event_id"),
        col("p.k").as("item_id"),
        size(col("ks")).cast("long").as("n_keys"))

  /** Ranking-function battery (W-family beyond row_number/lag/lead):
    * rank with ties, dense_rank, ntile buckets over a deterministic
    * total order, and EXACT percent_rank as an integer micro value
    * ((rank-1)·1e6 div (n-1) — no float division, so it hash-matches
    * across engines).
    */
  def rankFunctions(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byValue = Window.partitionBy(col("user_id"))
      .orderBy(col("value_cents").asc, col("event_id").asc)
    val tiesByValue = Window.partitionBy(col("user_id")).orderBy(col("value_cents").asc)
    val all = Window.partitionBy(col("user_id"))
    Tables.events(s, d)
      .select(
        col("event_id"),
        col("user_id"),
        round(col("value") * 100).cast("long").as("value_cents"))
      .select(
        col("event_id"),
        col("user_id"),
        rank().over(tiesByValue).cast("long").as("rnk"),
        dense_rank().over(tiesByValue).cast("long").as("drnk"),
        ntile(4).over(byValue).cast("long").as("quartile"),
        expr("(rank() over (partition by user_id order by value_cents) - 1) * 1000000")
          .as("__pr_num"),
        count(lit(1)).over(all).as("__n"))
      .select(
        col("event_id"),
        col("user_id"),
        col("rnk"),
        col("drnk"),
        col("quartile"),
        when(col("__n") > 1, expr("__pr_num div (__n - 1)")).otherwise(0L)
          .as("pct_rank_micro"))
  }

  /** Gap-filled daily activity: per user, one row per calendar day
    * between that user's first and last event, zero-filled. Day =
    * `epoch div 86400` — timezone-free integer day numbers, exact in
    * any engine.
    *
    * Scale shape: the dense calendar is NOT built by joining a
    * generated calendar against the counts (three shuffles and a
    * skew-prone join). Instead: one (user, day) count agg, one
    * per-user re-agg that carries the day→count pairs as a map, then a
    * ROW-LOCAL `sequence` explode that emits each user's grid where
    * the user's data already lives — two map-side-combinable shuffles,
    * no join. The map per user is bounded by the user's active-day
    * span, the same bound the output itself has.
    */
  def dailyGapfill(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), expr("cast(ts as long) div 86400").as("day_num"))
      .groupBy(col("user_id"), col("day_num"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(
        map_from_entries(collect_list(struct(col("day_num"), col("n")))).as("m"),
        min(col("day_num")).as("d0"),
        max(col("day_num")).as("d1"))
      .select(
        col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day_num"),
        col("m"))
      .select(
        col("user_id"),
        col("day_num"),
        coalesce(element_at(col("m"), col("day_num")), lit(0L)).as("n_events"))

  /** Integer-deterministic PageRank (3 iterations, micro-scaled) over
    * the session item-transition graph — the iterative-computation
    * operator class ([[graft.ops.Graph]]); the oracle unrolls the same
    * three exact-integer iterations as CTEs.
    */
  /** Run-length / SCD2 compression of each user's event-type stream
    * ([[graft.ops.Windows.scd2Intervals]]): consecutive equal types
    * collapse to (run_seq, type, valid_from, valid_to) intervals — the
    * type-2 dimension-history build, one exchange.
    */
  def scd2History(s: SparkSession, d: String): DataFrame =
    graft.ops.Windows
      .scd2Intervals(
        graft.core.Tables.events(s, d).select(
          col("user_id"),
          col("event_id"),
          col("event_type"),
          unix_timestamp(col("ts")).as("epoch_s")),
        "user_id", "epoch_s", "event_id", "event_type")

  def pagerank(s: SparkSession, d: String): DataFrame =
    graft.ops.Graph
      .pagerankMicro(
        Windows.transitionCounts(
          Pipeline.enrichedEvents(s, d),
          "session_id",
          Seq(col("epoch_s").asc, col("event_id").asc),
          "item_id"),
        "item_a",
        "item_b",
        "transition_count",
        iters = 3,
        // item-transition graph: |V| = catalog size, broadcastable
        broadcastRanks = true)
      .select(col("id").as("item_id"), col("pr_micro"))

  /** Personalized PageRank (3 iterations, micro-scaled) over the same
    * session item-transition graph as q87, restart mass on the
    * deterministic anchor slice `item_id % 97 = 3` —
    * [[graft.ops.Graph.personalizedPagerankMicro]]: the
    * item-conditioned neighborhood ("what does the walk reach from
    * THIS item") vs q87's global importance. Unreachable items stay at
    * exactly 0; the oracle unrolls the same three integer iterations
    * as CTEs with the seed flag in the rank recurrence.
    */
  def personalizedPagerankAnchor(s: SparkSession, d: String): DataFrame = {
    val enr = Pipeline.enrichedEvents(s, d)
    graft.ops.Graph
      .personalizedPagerankMicro(
        Windows.transitionCounts(
          enr,
          "session_id",
          Seq(col("epoch_s").asc, col("event_id").asc),
          "item_id"),
        "item_a",
        "item_b",
        "transition_count",
        // cheap catalog superset off the already-cached enriched table;
        // non-node ids are ignored by the operator's left seed attach
        enr.select(col("item_id").as("id")).distinct()
          .filter(pmod(col("id"), lit(97)) === 3),
        iters = 3,
        broadcastRanks = true)
      .select(col("id").as("item_id"), col("ppr_micro"))
  }

  /** Deterministic weighted random walks (4 hops) over the transition
    * graph from the anchor slice `item_id % 11 = 3` —
    * [[graft.ops.Graph.randomWalks]]: the node2vec/DeepWalk walk-corpus
    * generator, with the hop choice a pure integer function of
    * (walk_id, step) so the corpus is bit-identical on any engine and
    * the oracle unrolls the hops as CTEs.
    */
  def transitionWalks(s: SparkSession, d: String): DataFrame = {
    val enr = Pipeline.enrichedEvents(s, d)
    graft.ops.Graph
      .randomWalks(
        Windows.transitionCounts(
          enr,
          "session_id",
          Seq(col("epoch_s").asc, col("event_id").asc),
          "item_id"),
        "item_a",
        "item_b",
        "transition_count",
        enr.select(col("item_id").as("id")).distinct()
          .filter(pmod(col("id"), lit(11)) === 3),
        steps = 4,
        broadcastEdges = true)
      .select(col("walk_id"), col("step"), col("node"))
  }

  /** Spark-native batch `session_window` aggregation — the built-in
    * session operator (shared with Structured Streaming) applied to the
    * same 30-minute gap rule as [[Windows.sessionize]]. Boundary
    * semantics pinned by FeatureEngSpec: a gap of exactly 1800 s merges
    * (split only when gap > 1800 s), identical to our lag-based rule.
    * One exchange on user_id; no per-user window sort is needed — the
    * session-merge runs on pre-sorted partitions inside the agg.
    */
  def sessionWindowAgg(s: SparkSession, d: String): DataFrame =
    Tables
      .events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_micros(col("w.start")).as("w_start_us"),
        unix_micros(col("w.end")).as("w_end_us"),
        col("n_events"))

  /** Negative sampling for training pairs: for each purchase anchor,
    * the top-5 globally-popular categories the user had NOT interacted
    * with before the anchor (point-in-time-correct negatives — the
    * standard recsys complement to the reference's positive-label
    * candidates). Popularity pool = orderBy+limit (TakeOrderedAndProject,
    * no global window); first-seen table joins on (user, category);
    * final per-anchor rank is a partitioned row_number.
    */
  def negativeSamples(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val anchors = Pipeline.anchors(enriched)
    val pool = enriched
      .groupBy(col("category_id"))
      .agg(count(lit(1)).as("cat_events"))
      .orderBy(col("cat_events").desc, col("category_id").asc)
      .limit(10)
    val firstSeen = enriched
      .groupBy(col("user_id"), col("category_id"))
      .agg(min(col("epoch_s")).as("first_seen_s"))
    val cand = Joins
      .crossWithTop(
        anchors.select("anchor_id", "user_id", "anchor_epoch_s"), pool)
      .join(firstSeen, Seq("user_id", "category_id"), "left")
      .filter(
        col("first_seen_s").isNull ||
          col("first_seen_s") >= col("anchor_epoch_s"))
    Windows
      .topKPerGroup(cand, Seq("anchor_id"), col("cat_events"),
        Seq("category_id"), k = 5)
      .select(col("anchor_id"), col("category_id"), col("rn").as("neg_rank"))
  }

  /** Recall of the 4-strategy candidate union against each anchor's
    * TRUE category — the reference pipeline's own offline metric (its
    * label y=1 marks exactly these hits,
    * `prepare_training_data_pyspark.py:593`). Semi-join of anchors
    * against their candidate rows; exact integer ppm.
    */
  def candidateRecall(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val anchors = Pipeline.anchors(enriched)
      .select(col("anchor_id"), col("category_id"))
    val cands = Pipeline.candidates(s, d)
    val hit = anchors.join(cands, Seq("anchor_id", "category_id"), "left_semi")
    anchors
      .agg(count(lit(1)).as("n_anchors"))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .select(
        col("n_anchors"),
        col("n_hit"),
        expr("n_hit * 1000000 div n_anchors").as("recall_ppm"))
  }

  /** Exact rolling 7-day active users per day (WAU) — each active
    * (user, day) contributes to the 7 windows ending on days d..d+6
    * (row-local explode, ×7 fan-out), then a distinct + count per
    * window day. The exact form of the engagement metric; at extreme
    * scale swap the distinct for the per-day HLL partials
    * (SkewAndSketchSpec's rolling-union pattern) with the same window
    * algebra.
    */
  def rollingActiveUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), expr("cast(ts as long) div 86400").as("day"))
      .distinct()
      .select(
        col("user_id"),
        explode(sequence(col("day"), col("day") + 6L)).as("w_day"))
      .distinct()
      .groupBy(col("w_day"))
      .agg(count(lit(1)).as("wau"))
      .orderBy(col("w_day"))

  /** Frequent 3-itemsets over (user, day) baskets (apriori pruning,
    * [[Joins.frequentTriples]]) — the basket-mining family beside
    * pairwise co-visitation. Daily user baskets are the classic
    * market-basket grain: denser than 30-min sessions, bounded unlike
    * whole-user histories.
    */
  def frequentTriples(s: SparkSession, d: String): DataFrame =
    Joins
      .frequentTriples(
        Tables.events(s, d)
          .select(
            concat(col("user_id").cast("string"), lit("_"),
              expr("cast(ts as long) div 86400").cast("string")).as("basket"),
            get_json_object(col("props"), "$.k").cast("long").as("item_id"))
          .filter(col("item_id").isNotNull)
          .distinct(),
        "basket", "item_id", minCount = 2L)

  /** Two-level sessionization: 30-minute sessions grouped into
    * 7-day-gap VISITS (sessions-of-sessions) — the hierarchical form of
    * the gap rule, applied to the sessionizer's own output. Second
    * exchange reuses the user key; same lag/running-sum shape one level
    * up.
    */
  def visitsOfSessions(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sessions = Pipeline.sessionizedEvents(s, d)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("epoch_s")).as("start_s"),
        max(col("epoch_s")).as("end_s"),
        count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("start_s"), col("session_id"))
    sessions
      .withColumn("prev_end", lag(col("end_s"), 1).over(w))
      .withColumn(
        "is_new",
        when(col("prev_end").isNull ||
          col("start_s") - col("prev_end") > 604800L, 1L).otherwise(0L))
      .withColumn("visit_num", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("visit_num"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        min(col("start_s")).as("visit_start_s"),
        max(col("end_s")).as("visit_end_s"))
  }

  /** Peak session concurrency: the maximum number of simultaneously
    * open sessions (inclusive [start, end] intervals) and the earliest
    * second it is reached — the classic sweep-line interval count, at
    * scale: ±1 deltas per boundary, net delta per distinct second, the
    * global running sum via [[Windows.shardedCumsum]], then one max
    * aggregate with a deterministic earliest-timestamp tie-break.
    */
  def peakConcurrency(s: SparkSession, d: String): DataFrame = {
    // both delta sides pull sessions — cached or the sessionize window
    // replays per union side
    val sessions = graft.core.Caches.cache(Pipeline.sessionizedEvents(s, d)
      .groupBy(col("session_id"))
      .agg(min(col("epoch_s")).as("start_s"), max(col("epoch_s")).as("end_s")))
    // cached: shardedCumsum consumes its input TWICE (per-row windows +
    // shard totals), and this input is the expensive union over the
    // session intervals — uncached, the union+agg subtree ran once per
    // reference (`Inspect <q> jobs`: three ~15 s 64-task stages for a 4 s wall).
    // Support grain (distinct seconds), value-domain-bounded.
    val deltas = graft.core.Caches.cache(sessions
      .select(col("start_s").as("t"), lit(1L).as("d"))
      .unionByName(sessions.select((col("end_s") + 1L).as("t"), lit(-1L).as("d")))
      .groupBy(col("t"))
      .agg(sum(col("d")).as("net")))
    // lazy cache is sufficient here (A/B-measured): the broadcast(peak)
    // build completes before the main filter stage launches, so no
    // concurrent first-use race reaches the unmaterialized entry —
    // task counts and input bytes were identical under an eager
    // materialization, which only added its own job
    val conc = graft.core.Caches.cache(
      Windows
        .shardedCumsum(deltas, "t", Seq("net"), expr("t div 86400"))
        .select(col("t"), col("cum_net").as("concurrency")))
    val peak = conc.agg(max(col("concurrency")).as("peak_concurrency"))
    conc
      .crossJoin(broadcast(peak))
      .filter(col("concurrency") === col("peak_concurrency"))
      .groupBy(col("peak_concurrency"))
      .agg(min(col("t")).as("first_peak_s"))
  }

  /** Deterministic Poisson-bootstrap replicate means of value cents
    * ([[graft.ops.Sampling.bootstrapMeans]], B = 32) — uncertainty
    * quantification in one pass; quantiles of the 32 means give the CI.
    */
  def bootstrapCi(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling
      .bootstrapMeans(
        Tables.events(s, d).select(
          col("event_id"),
          round(col("value") * 100).cast("long").as("cents")),
        "event_id",
        "cents",
        nReplicates = 32)
      .orderBy(col("replicate"))

  /** Exact Mann–Whitney AUC of `value` as a purchase predictor — the
    * ranking-model evaluation metric, computed entirely in integers:
    * AUC = (2·concordant + tied) / (2·n_pos·n_neg) where concordant =
    * Σ_score n_pos(score)·cum_neg(below score) via the sharded global
    * cumsum, tied = Σ n_pos·n_neg at equal scores. Only the final micro
    * division is float (correctly-rounded IEEE).
    */
  def aucEval(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .select(
        round(col("value") * 100).cast("long").as("cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .groupBy(col("cents"))
      .agg(
        sum(col("y")).as("n_pos_c"),
        sum(lit(1L) - col("y")).as("n_neg_c"))
    val cums = Windows.shardedCumsum(
      counts, "cents", Seq("n_pos_c", "n_neg_c"), expr("cents div 5000"))
    val agg = cums
      .select(
        col("n_pos_c"), col("n_neg_c"),
        // cum below this score = running cum minus own count
        (col("cum_n_neg_c") - col("n_neg_c")).as("neg_below"))
      .agg(
        sum(col("n_pos_c")).as("n_pos"),
        sum(col("n_neg_c")).as("n_neg"),
        sum(col("n_pos_c").cast("decimal(19,0)") *
          col("neg_below").cast("decimal(19,0)")).as("concordant"),
        sum(col("n_pos_c").cast("decimal(19,0)") *
          col("n_neg_c").cast("decimal(19,0)")).as("tied"))
    agg.select(
      col("n_pos"), col("n_neg"),
      floor(lit(1000000.0) *
        (lit(2.0) * col("concordant").cast("double") + col("tied").cast("double")) /
        (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")))
        .cast("long").as("auc_micro"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between the even/odd
    * day splits of `value` — drift companion to [[psiDrift]] with NO
    * transcendentals: D is maximized as the integer
    * |cum_ref·n_cur − cum_cur·n_ref| over pooled distinct cents
    * (decimal-exact products), divided out only at the end. The global
    * CDF running sums use [[Windows.shardedCumsum]] (per-shard windows
    * + broadcast prefix offsets), never a single-partition window.
    */
  def ksDrift(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .select(
        (expr("cast(ts as long) div 86400") % 2).as("split"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("cents"))
      .agg(
        Ag.countIf(col("split") === 0).as("c_ref"),
        Ag.countIf(col("split") === 1).as("c_cur"))
    val cums = Windows.shardedCumsum(
      counts, "cents", Seq("c_ref", "c_cur"),
      expr("cents div 5000"))
    val totals = counts.agg(
      sum(col("c_ref")).as("n_ref"), sum(col("c_cur")).as("n_cur"))
    cums
      .crossJoin(broadcast(totals))
      .select(
        col("n_ref"), col("n_cur"),
        abs(col("cum_c_ref").cast("decimal(19,0)") * col("n_cur").cast("decimal(19,0)") -
          col("cum_c_cur").cast("decimal(19,0)") * col("n_ref").cast("decimal(19,0)"))
          .as("d_num"))
      .groupBy(col("n_ref"), col("n_cur"))
      .agg(max(col("d_num")).as("d_num"))
      .select(
        col("n_ref"), col("n_cur"),
        floor(lit(1000000.0) * col("d_num").cast("double") /
          (col("n_ref").cast("double") * col("n_cur").cast("double")))
          .cast("long").as("ks_micro"))
  }

  /** Population-stability-index drift between time splits (even vs odd
    * activity days) over fixed-width value bins — the ML-ops
    * drift-monitoring primitive. Laplace-smoothed dense bins (a bin
    * absent from one split must not zero the ratio), per-bin
    * contribution (p−q)·ln(p/q) micro-quantized (the ln rule), exact
    * integer everywhere else. One fact pass + a 10-row reshape.
    */
  def psiDrift(s: SparkSession, d: String): DataFrame = {
    val nBins = 10
    val binned = Tables.events(s, d)
      .select(
        (expr("cast(ts as long) div 86400") % 2).as("split"),
        least(greatest(floor(col("value") / 50.0), lit(0.0)), lit((nBins - 1).toDouble))
          .cast("long").as("bin"))
    val counts = binned
      .groupBy(col("bin"))
      .agg(
        Ag.countIf(col("split") === 0).as("c_ref"),
        Ag.countIf(col("split") === 1).as("c_cur"))
    // dense 0..9 bins + Laplace +1 so empty bins stay finite
    val dense = s.range(nBins).select(col("id").as("bin"))
      .join(counts, Seq("bin"), "left")
      .select(
        col("bin"),
        (coalesce(col("c_ref"), lit(0L)) + 1L).as("n_ref"),
        (coalesce(col("c_cur"), lit(0L)) + 1L).as("n_cur"))
    val totals = dense.agg(
      sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
    dense
      .crossJoin(broadcast(totals))
      .select(
        col("bin"), col("n_ref"), col("n_cur"),
        round(lit(1000000.0) *
          (col("n_ref").cast("double") / col("t_ref").cast("double") -
            col("n_cur").cast("double") / col("t_cur").cast("double")) *
          log((col("n_ref").cast("double") / col("t_ref").cast("double")) /
            (col("n_cur").cast("double") / col("t_cur").cast("double"))))
          .cast("long").as("psi_contrib_micro"))
      .orderBy(col("bin"))
  }

  /** Per-strategy recall ablation of the candidate generator: which of
    * the four strategies (prefix / covis / popularity / history)
    * actually covers each anchor's true category — the analysis behind
    * the reference's strategy mix. Four semi-join counts over the same
    * cached enriched events.
    *
    * The ablation shares the [[Pipeline.candidatesFrom]] scaffold
    * (VERDICT r14 item 2): the prefix-candidate set and the distinct
    * (session, category) projection are cached ONCE and feed strategy 1,
    * the covis fan-out, and the popularity top-N — previously each
    * strategy re-planned its own subtree (13 scans, the widest contract
    * plan at e22s13), now the covis/popularity branches read the two
    * cached frames. Identical rows by construction:
    * covisCandidatesFromDistinct(prefix, distinct) == covisCandidates,
    * and per-category distinct-session count == the distinct
    * projection's row count per category.
    */
  def strategyRecall(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val a = Pipeline.anchors(enriched)
    val anchors = a.select(col("anchor_id"), col("category_id"))
    // eager, not lazy: the four ablation branches and their broadcast
    // builds all launch concurrently at action start, and every branch
    // races past the unmaterialized scaffolds re-running the enriched/
    // prefix subtrees (measured 97 s task time / ~35 events-scans for a
    // 6 s wall under lazy caches; 1 scan each warm). Materializing
    // prefixC also populates the enrichedEvents cache en route.
    val prefixC = graft.core.Caches.materialized(Pipeline.prefixCandidates(a, enriched))
    val di = graft.core.Caches.materialized(
      enriched.select(col("session_id"), col("category_id")).distinct())
    val catPop = di.groupBy(col("category_id")).agg(count(lit(1)).as("cat_pop"))
    def recallOf(name: String, cand: DataFrame): DataFrame =
      anchors
        .join(cand.select("anchor_id", "category_id"),
          Seq("anchor_id", "category_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(name).as("strategy"), col("n_hit"))
    val perStrategy = Seq(
      recallOf("prefix", prefixC),
      recallOf("covis",
        Pipeline.covisCandidatesFromDistinct(prefixC, di, minPairCount = 2, topK = 10)),
      recallOf("popularity", Pipeline.popularityFromCatPop(a, catPop, topN = 5)),
      recallOf("history", Pipeline.userHistoryCandidates(a, enriched, topK = 10)))
      .reduce(_ unionByName _)
    perStrategy
      .crossJoin(broadcast(anchors.agg(count(lit(1)).as("n_anchors"))))
      .select(
        col("strategy"),
        col("n_anchors"),
        col("n_hit"),
        expr("n_hit * 1000000 div n_anchors").as("recall_ppm"))
      .orderBy(col("strategy"))
  }

  /** CEP-style ordered-sequence detection: purchases preceded by a
    * view→click chain where each hop lands within 1 h (the
    * MATCH_RECOGNIZE shape, expressed with running windows only). The
    * trick that keeps it one window pass: a click is QUALIFIED if the
    * running last-view is within its hour; a purchase matches if the
    * running last-QUALIFIED-click is within its own hour — no joins,
    * no struct carrying, one exchange on user.
    */
  def sequenceDetect(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("epoch_s"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("epoch_s"))
      .withColumn(
        "run_view",
        max(when(col("event_type") === "view", col("epoch_s"))).over(w))
      .withColumn(
        "qual_click",
        when(
          col("event_type") === "click" &&
            col("run_view") >= col("epoch_s") - 3600L,
          col("epoch_s")))
      .withColumn("run_qclick", max(col("qual_click")).over(w))
    ev.filter(col("event_type") === "purchase")
      .agg(
        count(lit(1)).as("n_purchases"),
        Ag.countIf(col("run_qclick") >= col("epoch_s") - 3600L).as("n_matched"))
      .select(
        col("n_purchases"),
        col("n_matched"),
        expr("n_matched * 1000000 div n_purchases").as("match_ppm"))
  }

  /** Offline hit-rate@3 of the co-visitation candidate generator
    * against actual next-item transitions — the evaluation metric that
    * closes the candidates→features→EVAL loop (recall@k for the
    * reference's covis strategy). Each directed transition occurrence
    * (a→b) is a hit iff b ranks in a's top-3 covis neighbors
    * (pair_count desc, unique tie-break). Both inputs reuse the
    * pipeline's cached enriched events; the neighbor table is
    * catalog²-bounded and joins broadcast-style onto the transition
    * aggregate — no per-event work past the two aggregations.
    */
  def hitRateEval(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val trans = Windows.transitionCounts(
      enriched, "session_id",
      Seq(col("epoch_s").asc, col("event_id").asc), "item_id")
    // neighbor table off the SHARED distinct (session, item) scaffold
    // (identical content to the enriched projection — the item-category
    // join is inner on a dimension derived from events, so no non-null
    // item row is dropped; identical PLAN to q111's input, so the
    // cached relation is reused within a scope)
    // eager: the covis self-join references the distinct scaffold twice
    // concurrently — lazy, both sides re-ran sessionize+distinct
    val directed = Joins.covisSymmetricDirected(
      graft.core.Caches.materialized(Pipeline.distinctSessionItems(s, d)),
      "session_id", "item_id", minCount = 2L, alreadyDistinct = true)
    val top3 = Windows
      .topKPerGroup(directed, Seq("src"), col("pair_count"), Seq("dst"), k = 3)
      .select(col("src").as("item_a"), col("dst").as("item_b"), lit(1).as("hit"))
    trans
      .join(top3, Seq("item_a", "item_b"), "left")
      .agg(
        sum(col("transition_count")).as("n_transitions"),
        sum(when(col("hit").isNotNull, col("transition_count")).otherwise(0L))
          .as("n_hits"))
      .select(
        col("n_transitions"),
        col("n_hits"),
        expr("n_hits * 1000000 div n_transitions").as("hit_ppm"))
  }

  /** Per-category conversion rate with the Wilson lower confidence
    * bound (z = 1.96) — the A/B-metrics primitive that orders arms by
    * "how good is this, pessimistically". Unlike ln/exp, sqrt and
    * division are IEEE-correctly-rounded, so the whole bound is
    * bit-deterministic cross-engine from exact counts with identical
    * expression shape — no per-row quantization needed, only the final
    * micro floor. One fact pass, group-sized output.
    */
  def ctrWilson(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.events(s, d)
      .select(
        (get_json_object(col("props"), "$.k").cast("long") %
          Pipeline.NumCategories).as("category_id"),
        col("event_type"))
      .filter(col("category_id").isNotNull)
      .groupBy(col("category_id"))
      .agg(
        count(lit(1)).as("n_events"),
        Ag.countIf(col("event_type") === "purchase").as("purchases"))
      .filter(col("n_events") > 0)
    val nD = col("n_events").cast("double")
    val p = col("purchases").cast("double") / nD
    val z = lit(1.96)
    val denom = lit(1.0) + z * z / nD
    val center = p + z * z / (lit(2.0) * nD)
    val rad = z * sqrt((p * (lit(1.0) - p) + z * z / (lit(4.0) * nD * nD)) / nD)
    agg
      .select(
        col("category_id"), col("n_events"), col("purchases"),
        floor(lit(1000000.0) * p).cast("long").as("ctr_micro"),
        floor(lit(1000000.0) * ((center - rad) / denom)).cast("long")
          .as("wilson_lo_micro"))
      .orderBy(col("category_id"))
  }

  /** Item-item cosine similarity over session co-occurrence sets (the
    * classic item-kNN recommender): sim = c_ab / √(c_a·c_b) with c_*
    * distinct-session counts, micro-quantized (sqrt is correctly
    * rounded — deterministic). Pairs come from the capped covis
    * self-join; per-item counts are a catalog-sized table the optimizer
    * broadcasts back onto the pairs.
    */
  def itemCosine(s: SparkSession, d: String): DataFrame = {
    // the shared item-covis scaffold (one sessionize+distinct serves
    // q111 AND q112's neighbor build within a scope); di is referenced
    // twice inside dik's subtree — both resolve to the cached relation
    val di = Pipeline.distinctSessionItems(s, d)
    val dik = graft.core.Caches.cache(
      di.join(
        di.groupBy(col("session_id")).agg(count(lit(1)).as("sz"))
          .filter(col("sz") <= 200).select(col("session_id")),
        Seq("session_id"), "left_semi"))
    val pairs = Joins.covisitationPairsDistinct(
      dik, "session_id", "item_id",
      minCount = 2L, maxGroupSize = None, materialize = false)
    // item-grain, consumed by BOTH norm-attach joins — those are
    // broadcast builds that start CONCURRENTLY, and a lazy cache lets
    // both race past the unmaterialized entry and re-run the
    // sessionize+distinct subtree (the round-8 q227 class). Eager: one
    // job populates dik's cache en route, every consumer reads warm.
    val base = graft.core.Caches.materialized(
      dik.groupBy(col("item_id")).agg(count(lit(1)).as("c")))
    pairs
      .join(base.select(col("item_id").as("item_a"), col("c").as("c_a")), Seq("item_a"))
      .join(base.select(col("item_id").as("item_b"), col("c").as("c_b")), Seq("item_b"))
      .select(
        col("item_a"), col("item_b"), col("pair_count"),
        floor(lit(1000000.0) * col("pair_count").cast("double") /
          sqrt(col("c_a").cast("double") * col("c_b").cast("double")))
          .cast("long").as("cosine_micro"))
  }

  /** LOCF imputation over a dense per-user daily grid: sparse daily
    * value sums (integer cents — the suite's money convention; final
    * DECIMAL columns hash-diverge across DuckDB builds) gap-filled to
    * every calendar day between the user's first and last activity
    * (the q78 map+sequence shape — no calendar join), then nulls
    * forward-filled with [[Windows.locfFill]]. NULL stays NULL for the
    * pre-first-observation rows. The imputation member of the
    * feature-preparation family.
    */
  def locfImpute(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(
        col("user_id"),
        expr("cast(ts as long) div 86400").as("day_num"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"), col("day_num"))
      .agg(sum(col("cents")).as("day_cents"))
    val grid = daily
      .groupBy(col("user_id"))
      .agg(
        map_from_entries(collect_list(struct(col("day_num"), col("day_cents")))).as("m"),
        min(col("day_num")).as("d0"),
        max(col("day_num")).as("d1"))
      .select(
        col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day_num"),
        col("m"))
      .select(
        col("user_id"),
        col("day_num"),
        element_at(col("m"), col("day_num")).as("day_cents"))
    Windows
      .locfFill(grid, "user_id", "day_num", "day_cents", "filled_cents")
      .withColumn("is_imputed", when(col("day_cents").isNull, 1).otherwise(0))
  }

  /** Exponentially time-decayed category popularity (1-week time
    * constant) — the recency-weighted form of the popularity candidate
    * strategy (`prepare_training_data_pyspark.py:331-338` counts
    * unweighted). Per-event decay weights are micro-quantized BEFORE
    * the sum (the module ln/exp rule: probe-verified that JVM and
    * DuckDB exp agree bit-for-bit post-rounding), so the aggregate is
    * an exact integer sum — deterministic under any partitioning. One
    * fact pass + a broadcast 1-row max; no shuffle carries raw rows.
    */
  def decayedPopularity(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(
        (get_json_object(col("props"), "$.k").cast("long") %
          Pipeline.NumCategories).as("category_id"),
        unix_timestamp(col("ts")).as("epoch_s"))
      .filter(col("category_id").isNotNull)
    val mx = ev.agg(max(col("epoch_s")).as("t_max"))
    ev.crossJoin(broadcast(mx))
      .withColumn(
        "w_micro",
        round(exp((col("t_max") - col("epoch_s")).cast("double") / lit(-604800.0))
          * 1000000).cast("long"))
      .groupBy(col("category_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("w_micro")).as("decayed_pop_micro"))
      .orderBy(col("category_id"))
  }

  /** Smoothed target encoding of category against the purchase label
    * (FeatureEng.targetEncoding over the raw-event projection).
    */
  def targetEncoding(s: SparkSession, d: String): DataFrame =
    graft.ops.FeatureEng
      .targetEncoding(
        Tables.events(s, d)
          .select(
            (get_json_object(col("props"), "$.k").cast("long") %
              Pipeline.NumCategories).as("category_id"),
            when(col("event_type") === "purchase", 1).otherwise(0).as("y"))
          .filter(col("category_id").isNotNull),
        "category_id",
        "y",
        alpha = 20)
      .orderBy(col("category_id"))

  /** Mean reciprocal rank @10 of the covis candidate ranking against
    * actual next-item transitions — the rank-sensitive companion to
    * q112's hit-rate (a recommender that always ranks the true item
    * 10th and one that ranks it 1st have the same hit@10 but 10× the
    * MRR). Entirely integer: each transition occurrence contributes
    * `1e6 div rank` micro-units, the mean is one floor division at the
    * end — bit-deterministic cross-engine.
    *
    * Same scale shape as hitRateEval: two catalog²-bounded aggregates
    * (transitions, covis pairs), a catalog-sized top-k window, one
    * broadcast-sized join — no per-event work past the aggregations.
    */
  def mrrEval(s: SparkSession, d: String): DataFrame =
    transitionsVsCovisTop10(s, d)
      .agg(
        sum(col("transition_count")).as("n_transitions"),
        sum(when(col("rn").isNotNull, col("transition_count")).otherwise(0L))
          .as("n_hits10"),
        sum(when(col("rn").isNotNull,
          col("transition_count") * expr("1000000 div rn")).otherwise(0L))
          .as("rr_sum_micro"))
      .select(
        col("n_transitions"),
        col("n_hits10"),
        expr("rr_sum_micro div n_transitions").as("mrr_micro"))

  /** Shared eval scaffold for q112/q135/q138: every observed next-item
    * transition left-joined to the covis top-10 ranking (rn NULL when
    * the true next item is outside the candidate list). Two
    * catalog²-bounded aggregates, a catalog-sized top-k window, one
    * broadcast-sized join — no per-event work past the aggregations.
    */
  private def transitionsVsCovisTop10(s: SparkSession, d: String): DataFrame = {
    // enriched is materialized inside covisTop10 below (same registry
    // entry), so the transition branch reads it warm at action time
    val enriched = Pipeline.enrichedEvents(s, d)
    val trans = Windows.transitionCounts(
      enriched, "session_id",
      Seq(col("epoch_s").asc, col("event_id").asc), "item_id")
    val top10 = covisTop10(s, d)
      .select(col("src").as("item_a"), col("dst").as("item_b"), col("rn"))
    trans.join(top10, Seq("item_a", "item_b"), "left")
  }

  /** The covis top-10 candidate ranking `(src, dst, rn)` the eval
    * family (q112/q135/q138/q189/q191) scores — min-support-2 pairs,
    * both directions, rank by (pair_count DESC, dst ASC).
    */
  private def covisTop10(s: SparkSession, d: String): DataFrame = {
    // eager: the covis self-join references enriched twice and every
    // caller's other branch a third time, all concurrent at action
    // start — lazy, each re-ran the sessionize+enrich build (q135
    // measured 71 s task time / ~11 events-scans for a 5 s wall)
    val enriched = graft.core.Caches.materialized(Pipeline.enrichedEvents(s, d))
    val directed = Joins.covisSymmetricDirected(
      enriched.select(col("session_id"), col("item_id")),
      "session_id", "item_id", minCount = 2L)
    Windows
      .topKPerGroup(directed, Seq("src"), col("pair_count"), Seq("dst"), k = 10)
      .select(col("src"), col("dst"), col("rn"))
  }

  /** nDCG@10 of the covis ranking against next-item transitions — the
    * graded-discount member of the eval triad (q112 hit@10 is
    * position-blind, q135 MRR is 1/rank, nDCG is 1/log2(rank+1) — the
    * industry-standard report for ranked recommenders). With exactly one
    * relevant item per transition the ideal DCG is 1, so per-transition
    * nDCG IS the discount. The ten discounts are precomputed
    * floor(1e6/log2(r+1)) INTEGER LITERALS identical in both engines —
    * no runtime transcendental anywhere (the libm-ULP trap).
    */
  def ndcgEval(s: SparkSession, d: String): DataFrame = {
    val disc = expr(
      """CASE rn WHEN 1 THEN 1000000 WHEN 2 THEN 630929 WHEN 3 THEN 500000
        | WHEN 4 THEN 430676 WHEN 5 THEN 386852 WHEN 6 THEN 356207
        | WHEN 7 THEN 333333 WHEN 8 THEN 315464 WHEN 9 THEN 301029
        | WHEN 10 THEN 289064 ELSE 0 END""".stripMargin)
    transitionsVsCovisTop10(s, d)
      .agg(
        sum(col("transition_count")).as("n_transitions"),
        sum(col("transition_count") * disc).as("dcg_sum_micro"))
      .select(
        col("n_transitions"),
        col("dcg_sum_micro"),
        expr("dcg_sum_micro div n_transitions").as("ndcg_micro"))
  }

  /** Model-calibration reliability bins: score every eval event with
    * its category's TRAIN-split purchase rate (the simplest well-formed
    * probabilistic model), bucket predictions into 10 fixed bins, and
    * compare mean predicted vs empirical rate per bin — the reliability
    * diagram behind "is this model over/under-confident", and the
    * monitoring primitive for any deployed scorer. Disjoint
    * train/eval halves by event-id parity (deterministic, hash-free).
    *
    * Integer end-to-end: predictions are ppm (floor division),
    * bin = min(pred_ppm·10 div 1e6, 9), per-bin means are floor
    * divisions of exact sums. Two fact-table aggregations (train rates
    * are category-sized and broadcast back onto eval events); one
    * group-sized output exchange.
    */
  def calibrationBins(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(
        col("event_id"),
        (get_json_object(col("props"), "$.k").cast("long") %
          Pipeline.NumCategories).as("category_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .filter(col("category_id").isNotNull)
    val pred = ev
      .filter(pmod(col("event_id"), lit(2L)) === 0L)
      .groupBy(col("category_id"))
      .agg(expr("sum(y) * 1000000 div count(1)").as("pred_ppm"))
    ev.filter(pmod(col("event_id"), lit(2L)) === 1L)
      .join(broadcast(pred), Seq("category_id"))
      .groupBy(least(expr("pred_ppm * 10 div 1000000"), lit(9L)).as("bin"))
      .agg(
        count(lit(1)).as("n_eval"),
        expr("sum(pred_ppm) div count(1)").as("mean_pred_ppm"),
        expr("sum(y) * 1000000 div count(1)").as("emp_ppm"))
      .orderBy(col("bin"))
  }

  /** Triangle census of the co-visitation item graph: the top-10 items
    * by exact triangle membership (community-density hubs). Edges are
    * ALL session-capped covis pairs (support ≥ 1: the support-2 cut
    * leaves this catalog too sparse to close any triangle) — already
    * canonical item_a < item_b — so [[graft.ops.Graph.triangleCounts]]
    * applies directly.
    */
  def covisTriangles(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val pairs = Joins.covisitationPairs(
      enriched.select(col("session_id"), col("item_id")),
      "session_id", "item_id", minCount = 1L)
    graft.ops.Graph
      .triangleCounts(pairs, "item_a", "item_b")
      .select(col("id").as("item_id"), col("tri_count"))
      .orderBy(col("tri_count").desc, col("item_id").asc)
      .limit(10)
  }

  /** Local clustering coefficient of the covis item graph:
    * cc = 2·triangles / (deg·(deg−1)) per vertex with deg ≥ 2 — "how
    * clique-like is this item's neighborhood" (1.0 = its co-visited
    * items are all co-visited with each other; the community-tightness
    * signal behind bundle detection). Exact integer ppm; top 20 with a
    * full (cc, degree, id) tie-break chain. See
    * [[graft.ops.Graph.clusteringCoefficientMicro]] for the shape.
    */
  def covisClustering(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val pairs = Joins.covisitationPairs(
      enriched.select(col("session_id"), col("item_id")),
      "session_id", "item_id", minCount = 1L)
    graft.ops.Graph
      .clusteringCoefficientMicro(pairs, "item_a", "item_b")
      .select(col("id").as("item_id"), col("degree"), col("tri_count"), col("cc_ppm"))
      .orderBy(col("cc_ppm").desc, col("degree").desc, col("item_id").asc)
      .limit(20)
  }

  /** Catalog coverage and Gini concentration of the covis top-10
    * recommendation lists — the aggregate-diversity report card for a
    * recommender (a system can score well on accuracy while
    * recommending 2% of the catalog; Gini says how concentrated the
    * exposure is). Coverage = distinct recommended items / catalog;
    * Gini over per-item recommendation frequency INCLUDING the
    * never-recommended zeros, computed from the exact integer identity
    * `G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)` with items ranked by
    * (freq, item_id) — within a tied-frequency block Σ i·x_i is
    * permutation-invariant, so the tie-break changes nothing and the
    * ppm result is bit-deterministic.
    *
    * Scale: the ranking window runs over the CATALOG-sized frequency
    * table (the same bounded regime as every top-k ranking here), never
    * the fact table; Σ i·x_i ≤ 10·n² stays in long through ~10⁸-item
    * catalogs. Output is one row.
    */
  def recCoverage(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val catalog = enriched.select(col("item_id")).distinct()
    val directed = Joins.covisSymmetricDirected(
      enriched.select(col("session_id"), col("item_id")),
      "session_id", "item_id", minCount = 2L)
    val top10 = Windows
      .topKPerGroup(directed, Seq("src"), col("pair_count"), Seq("dst"), k = 10)
    // freq feeds both the coverage aggregate and the Gini ranking —
    // cache so the covis-pair lineage runs once
    val freq = graft.core.Caches.cache(catalog
      .join(top10.groupBy(col("dst").as("item_id")).agg(count(lit(1)).as("f")),
        Seq("item_id"), "left")
      .na.fill(0L, Seq("f")))
    val cov = freq.agg(
      count(lit(1)).as("catalog_size"),
      Ag.countIf(col("f") > 0).as("n_recommended"))
    cov
      .crossJoin(Ag.giniPpm(freq, "f", "item_id").select(col("gini_ppm")))
      .select(
        col("catalog_size"),
        col("n_recommended"),
        expr("n_recommended * 1000000 div catalog_size").as("coverage_ppm"),
        col("gini_ppm"))
  }

  /** Shannon entropy (micro-nats) of each item's outgoing next-item
    * transition distribution — low entropy = the item determines its
    * successor (a series opener), high = a hub with diffuse follow-ups;
    * the sequence-predictability signal behind "is a Markov recommender
    * even viable for this item". Per-destination surprisal is
    * micro-quantized BEFORE the weighted sum (the suite's ln rule), so
    * `H = Σ c·round(−ln(c/total)·1e6) div total` is exact integer
    * arithmetic. Top 100 highest-entropy items with ≥ 5 outgoing
    * transitions, full (entropy, n_out, item) tie-break chain.
    *
    * Scale shape: transitions are a catalog²-bounded aggregate; totals
    * are catalog-sized and broadcast back; no per-event work after the
    * two aggregations.
    */
  def transitionEntropy(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val trans = Windows.transitionCounts(
      enriched, "session_id",
      Seq(col("epoch_s").asc, col("event_id").asc), "item_id")
    Ag
      .entropyMicroPerKey(trans, Seq("item_a"), "transition_count", minTotal = 5L)
      .select(
        col("item_a").as("item_id"),
        col("n_outcomes").as("n_out"),
        col("total").as("total_out"),
        col("entropy_micro"))
      .orderBy(col("entropy_micro").desc, col("n_out").desc, col("item_id").asc)
      .limit(100)
  }

  /** Sequential 2-patterns over sessions: "item_a then (eventually)
    * item_b" support counts — the order-sensitive mining primitive
    * between transitions (adjacent-only) and co-visitation
    * (order-blind); asymmetric support (a→b ≫ b→a) is the
    * funnel-direction signal. First positions come from a per-session
    * row_number (unique ⇒ strict precedence is well-defined); top 50
    * by support with a full tie-break chain. See
    * [[graft.ops.Joins.precedencePairs]] for the join shape.
    */
  def seqPatterns(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("session_id"))
      .orderBy(col("epoch_s"), col("event_id"))
    val first = enriched
      .select(col("session_id"), col("item_id"), row_number().over(w).as("pos"))
      .groupBy(col("session_id"), col("item_id"))
      .agg(min(col("pos")).as("first_pos"))
    Joins
      .precedencePairs(first, "session_id", "item_id", "first_pos", minCount = 2L)
      .orderBy(col("n_groups").desc, col("item_a").asc, col("item_b").asc)
      .limit(50)
      .withColumnRenamed("n_groups", "n_sessions")
  }

  /** Cross-entity time-proximity histogram via the custom band join:
    * every (purchase, view) event pair within ±30 s — REGARDLESS of
    * user or item, the "what does the site see around a conversion"
    * coincidence window — binned into 10-s signed-gap buckets. No
    * equi-key exists, so Catalyst's only built-in plan is a nested-loop
    * cartesian; [[graft.ops.Joins.bandJoin]] plans it as the
    * range-partitioned sweep-merge instead (one shuffle per side,
    * ε-boundary replication only). All-integer contract: signed gap
    * seconds, floor-div binning on the non-negative shifted gap.
    */
  def bandGapHistogram(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(
      col("event_type"), unix_timestamp(col("ts")).as("epoch_s"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("epoch_s").as("p_s"))
    val v = e.filter(col("event_type") === "view")
      .select(col("epoch_s").as("v_s"))
    Joins.bandJoin(p, v, "p_s", "v_s", 30L)
      .select((col("v_s") - col("p_s")).as("gap"))
      .groupBy(expr("(gap + 30) div 10").as("gap_bin"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("gap")).as("sum_gap_s"))
      .orderBy(col("gap_bin"))
  }

  /** Point-in-time as-of attach: each purchase picks the user's single
    * most recent click at-or-before it ([[graft.ops.Joins.asOfJoin]] —
    * one union+window exchange, no preceding-pair blowup), then the
    * click→purchase latency distribution in 10-minute buckets with
    * never-clicked purchases in bucket −1. The leakage-safe "state as
    * of the anchor" feature shape (same contract DuckDB expresses as
    * `ASOF LEFT JOIN`). Clicks are deduped latest-event_id per
    * (user, second) to satisfy the operator's uniqueness precondition
    * on both engines identically.
    */
  def asOfClickGap(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_timestamp(col("ts")).as("epoch_s"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("epoch_s").as("p_s"))
    val wDedup = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("c_s"))
      .orderBy(col("event_id").desc)
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("epoch_s").as("c_s"), col("event_id"))
      .withColumn("rn", row_number().over(wDedup))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("c_s"))
    Joins.asOfJoin(p, c, Seq("user_id"), "p_s", "c_s")
      .groupBy(coalesce(expr("(p_s - c_s) div 600"), lit(-1L)).as("gap_bin"))
      .agg(
        count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("gap_bin"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between the
    * purchase and view `value` distributions — the distribution-drift
    * companion to CUSUM (q147 localizes WHEN a level shifts; KS says
    * WHETHER two samples draw from one distribution, sensitive to
    * shape, not just mean). All-integer cross-multiplication: D =
    * max|F1−F2| becomes `max |C1(v)·n2 − C2(v)·n1|` over the merged
    * sorted support with cumulative counts C — no division until the
    * final ppm emit (floor div on non-negatives, `//`-identical in
    * DuckDB).
    *
    * Scale shape: one aggregation to per-value counts (support-sized,
    * not sample-sized), then the CDF running sums via
    * [[Windows.shardedCumsum]] (per-shard windows keyed by a monotone
    * cents bucket + broadcast prefix offsets) — no single task ever
    * holds the whole distinct-value support, so the shape survives
    * unbounded money-cents cardinality at 100 TB.
    */
  /** Shared value-support scaffold of the two-sample statistics family
    * (q154 KS, q165 MWU — the shape their oracle SQL shares as the
    * `pvSupportCte`): per distinct raw `value`, purchase and view
    * counts. Support-sized and map-side combinable — the one fact-table
    * pass of the family. The k-class sibling lives in
    * [[graft.ops.Stats.kruskalWallisMicro]] (q170).
    */
  private def purchaseViewSupport(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy(col("value"))
      .agg(
        Ag.countIf(col("event_type") === "purchase").as("ca"),
        Ag.countIf(col("event_type") === "view").as("cb"))

  /** Inclusive cumulative (cum_ca, cum_cb) over the value support via
    * [[Windows.shardedCumsum]], sharded on a monotone cents bucket —
    * the family's one ordered step, never a single-partition window;
    * a new two-sample statistic composes these two factors instead of
    * forking the shape.
    */
  private def valueSupportCums(counts: DataFrame): DataFrame =
    Windows.shardedCumsum(counts, "value", Seq("ca", "cb"),
      expr("cast(round(value * 100) as bigint) div 5000"))

  def ksValueDrift(s: SparkSession, d: String): DataFrame = {
    val counts = purchaseViewSupport(s, d)
    val totals = counts.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    valueSupportCums(counts)
      .select(col("cum_ca").as("cum_a"), col("cum_cb").as("cum_b"))
      .crossJoin(broadcast(totals))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a"))).as("ks_num"))
      .select(
        col("n_a"), col("n_b"), col("ks_num"),
        expr("CAST(ks_num * 1000000 div (n_a * n_b) AS BIGINT)").as("ks_ppm"))
  }

  /** CUSUM changepoint scan over the daily event-count series — the
    * classic "when did the level shift" monitor (PSI/KS say THAT two
    * windows differ; CUSUM localizes WHERE the drift starts: the
    * |cusum| peak). Exact integer arithmetic: deviations are scaled by
    * the day count (`c_d·D − T` instead of `c_d − T/D`), so the
    * cumulative sum needs no division anywhere and ends at exactly 0 —
    * bit-deterministic, and the argmax day is stable. Output: one row
    * per active day `(day_num, n_events, cusum_scaled, is_peak)`.
    *
    * Scale shape: one fact-table aggregation to the day grain; the
    * cumulative window runs over the DAY-sized series (the bounded
    * time dimension — thousands of rows for decade-long logs), with
    * totals broadcast. Never a fact-sized window.
    */
  def cusumDrift(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(expr("unix_timestamp(ts) div 86400").as("day_num"))
      .groupBy(col("day_num"))
      .agg(count(lit(1)).as("n_events"))
    val tot = daily.agg(
      sum(col("n_events")).as("t"), count(lit(1)).as("d_days"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("day_num"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cusum = daily
      .crossJoin(broadcast(tot))
      .withColumn("cusum_scaled", sum(col("n_events") * col("d_days") - col("t")).over(w))
    val peak = cusum.agg(max(abs(col("cusum_scaled"))).as("peak_abs"))
    cusum
      .crossJoin(broadcast(peak))
      .select(
        col("day_num"),
        col("n_events"),
        col("cusum_scaled"),
        (abs(col("cusum_scaled")) === col("peak_abs")).as("is_peak"))
      .orderBy(col("day_num"))
  }

  /** 3-core of the co-visitation item graph via 3 peeling rounds —
    * the dense-community backbone (items that survive are each
    * co-visited with ≥ 3 other survivors: the "always bought together"
    * cluster seeds, and on web/link graphs the spam-farm signal). See
    * [[graft.ops.Graph.kCorePeel]] for the bounded-round semantics and
    * per-round shape.
    */
  def covisKcore(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val pairs = Joins.covisitationPairs(
      enriched.select(col("session_id"), col("item_id")),
      "session_id", "item_id", minCount = 1L)
    graft.ops.Graph
      .kCorePeel(pairs, "item_a", "item_b", k = 3, rounds = 3)
      .select(col("id").as("item_id"), col("degree"))
  }

  /** Reciprocal-rank fusion (q156) of the two item retrievers the
    * suite already ranks separately (q112-family): per anchor item,
    * the covis top-10 (symmetric session co-occurrence) and the
    * transition top-10 (directed next-item frequency) fuse by
    * `Σ floor(1e6 / (60 + rank))` — the Cormack et al. RRF constant —
    * and the top 5 fused candidates are emitted. The standard way a
    * recommender blends heterogeneous candidate generators without
    * score calibration, all-integer ⇒ oracle-exact.
    *
    * Scale shape: both retrievers are catalog²-bounded aggregates
    * (session-capped covis, windowed transitions); the fusion join and
    * final window touch only the 2×10-per-anchor candidate rows —
    * nothing event-sized past the two source aggregations.
    */
  def rrfFusion(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val trans = Windows.transitionCounts(
      enriched, "session_id",
      Seq(col("epoch_s").asc, col("event_id").asc), "item_id")
    val transTop = Windows
      .topKPerGroup(trans, Seq("item_a"), col("transition_count"), Seq("item_b"), 10)
      .select(col("item_a"), col("item_b"), col("rn").cast("long").as("rank_t"))
    val directed = Joins.covisSymmetricDirected(
      enriched.select(col("session_id"), col("item_id")),
      "session_id", "item_id", minCount = 2L)
    val covisTop = Windows
      .topKPerGroup(directed, Seq("src"), col("pair_count"), Seq("dst"), 10)
      .select(col("src").as("item_a"), col("dst").as("item_b"), col("rn").cast("long").as("rank_c"))
    val fused = covisTop
      .join(transTop, Seq("item_a", "item_b"), "full")
      .select(
        col("item_a"), col("item_b"),
        (coalesce(expr("1000000 div (60 + rank_c)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + rank_t)"), lit(0L))).as("rrf_micro"))
    Windows.topKPerGroup(fused, Seq("item_a"), col("rrf_micro"), Seq("item_b"), 5)
      .select(col("item_a"), col("item_b"), col("rrf_micro"), col("rn").cast("long").as("rn"))
  }

  /** Label-propagation communities over the covis graph (q157):
    * 4 self-inclusive synchronized min-tie rounds ([[graft.ops.Graph
    * .labelPropagation]]) — item neighborhoods that co-occur densely
    * converge onto one label (the "theme" clusters a recommender uses
    * for diversification), while bridge edges that would merge
    * everything under connected components do not flip a dense core.
    * The self-vote keeps sparse components from 2-color oscillating
    * (the round-9 q287 finding); consumers at a new scale should
    * pre-gate on q287's modularity ([[graft.ops.Graph
    * .labelPropagationGated]] wires the gate into the plan).
    */
  def covisCommunities(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val pairs = Joins.covisitationPairs(
      enriched.select(col("session_id"), col("item_id")),
      "session_id", "item_id", minCount = 2L)
    val labels = graft.core.Caches.cache(
      graft.ops.Graph.labelPropagation(pairs, "item_a", "item_b", rounds = 4))
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("community_size"))
    labels
      .join(broadcast(sizes), Seq("label"))
      .select(col("id").as("item_id"), col("label").as("community"), col("community_size"))
  }

  /** CUPED variance-reduced A/B uplift (q158; Deng et al. 2013,
    * "Improving the sensitivity of online controlled experiments").
    * Users hash deterministically into two variants (md5 parity);
    * outcome y = post-period spend, covariate x = PRE-period spend
    * (pre-experiment data is independent of assignment, so adjusting
    * y − θ·x removes the covariate's variance share without bias).
    * θ = cov(x,y)/var(x) pooled. All moments are exact integer cents
    * (N and D widened past the Long range before the one double
    * division), so theta and both uplift columns are bit-identical
    * cross-engine — the q146-class IEEE-chain determinism.
    *
    * Scale shape: one (user) aggregation of the events scan (map-side
    * combinable conditional sums), then a single global moment row —
    * nothing after the per-user agg is data-sized.
    */
  def cupedUplift(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(
      col("user_id"),
      expr("unix_timestamp(ts) div 86400").as("day"),
      expr("cast(round(value * 100) as bigint)").as("cents"))
    val mid = e.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val perUser = e
      .crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("day") < col("mid"), col("cents")).otherwise(0L)).as("x"),
        sum(when(col("day") >= col("mid"), col("cents")).otherwise(0L)).as("y"))
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2)
    perUser
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        Ag.countIf(col("variant") === 0).as("n_a"),
        Ag.countIf(col("variant") === 1).as("n_b"),
        sum(when(col("variant") === 0, col("x")).otherwise(0L)).as("sx_a"),
        sum(when(col("variant") === 1, col("x")).otherwise(0L)).as("sx_b"),
        sum(when(col("variant") === 0, col("y")).otherwise(0L)).as("sy_a"),
        sum(when(col("variant") === 1, col("y")).otherwise(0L)).as("sy_b"))
      .withColumn("theta", expr(
        // N/D exact (decimal-widened), then ONE double division
        """cast(cast(n as decimal(38,0)) * cast(sxy as decimal(38,0))
          |     - cast(sx as decimal(38,0)) * cast(sy as decimal(38,0)) as double) /
          |cast(cast(n as decimal(38,0)) * cast(sxx as decimal(38,0))
          |     - cast(sx as decimal(38,0)) * cast(sx as decimal(38,0)) as double)"""
          .stripMargin))
      .withColumn("raw_uplift", expr(
        """(cast(sy_b as double) / cast(n_b as double))
          | - (cast(sy_a as double) / cast(n_a as double))""".stripMargin))
      .withColumn("cuped_uplift", expr(
        """(cast(sy_b as double) / cast(n_b as double)
          |  - theta * (cast(sx_b as double) / cast(n_b as double)))
          | - (cast(sy_a as double) / cast(n_a as double)
          |  - theta * (cast(sx_a as double) / cast(n_a as double)))""".stripMargin))
      .select(col("n_a"), col("n_b"), col("theta"), col("raw_uplift"), col("cuped_uplift"))
  }

  /** Single-split decision stumps (q161): per candidate feature, the
    * binary threshold maximizing the Gini purity gain for predicting
    * purchases — the feature-screening primitive of tree learners
    * (and the explainable "which signal splits converters best"
    * report). Purity score `Σ_side (pos² + neg²) / n_side` (maximizing
    * it ≡ minimizing weighted Gini impurity) is computed as TWO
    * correctly-rounded double divisions on exact integer prefix
    * counts — deterministic cross-engine, ties → min threshold.
    *
    * Scale shape: one (feature, value) pre-aggregation (map-side
    * combinable, catalog-sized output), then prefix sums via
    * [[Windows.shardedCumsumBy]] — per-(feature, value-bucket) windows
    * with broadcast offsets, so a feature whose value support is
    * unbounded (the money axis) never lands in one task; per-feature
    * totals are an aggregate re-attached by broadcast, not a
    * whole-feature window. No event-level window anywhere.
    */
  def giniStumps(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(
      expr("hour(ts)").cast("long").as("hour"),
      expr("dayofweek(ts)").cast("long").as("dow"),
      expr("cast(round(value * 100) as bigint) div 1000").as("vb"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val long = e.select(
      posexplode(array(
        struct(lit("hour").as("feature"), col("hour").as("fval")),
        struct(lit("dow").as("feature"), col("dow").as("fval")),
        struct(lit("value_bucket").as("feature"), col("vb").as("fval"))))
        .as(Seq("i", "f")),
      col("y"))
      .select(col("f.feature").as("feature"), col("f.fval").as("fval"), col("y"))
    val grp = graft.core.Caches.cache(
      long.groupBy(col("feature"), col("fval"))
        .agg(sum(col("y")).as("pos"), count(lit(1)).as("n")))
    val tots = grp.groupBy(col("feature"))
      .agg(sum(col("pos")).as("tp"), sum(col("n")).as("tn"))
    Windows
      .shardedCumsumBy(grp, Seq("feature"), "fval", Seq("pos", "n"),
        expr("fval div 16"))
      .withColumn("cp", col("cum_pos"))
      .withColumn("cn", col("cum_n"))
      .join(broadcast(tots), Seq("feature"))
      .filter(col("cn") < col("tn")) // full-left split carries no information
      .withColumn("score", expr(
        """cast(cp * cp + (cn - cp) * (cn - cp) as double) / cast(cn as double)
          | + cast((tp - cp) * (tp - cp) + ((tn - cn) - (tp - cp)) * ((tn - cn) - (tp - cp)) as double)
          |   / cast(tn - cn as double)""".stripMargin))
      .transform(df => Windows.topKPerGroup(df, Seq("feature"), col("score"), Seq("fval"), 1))
      .select(
        col("feature"), col("fval").as("threshold"),
        col("cn").as("n_left"), (col("tn") - col("cn")).as("n_right"),
        col("cp").as("pos_left"), (col("tp") - col("cp")).as("pos_right"),
        col("score"))
      .orderBy(col("feature"))
  }

  /** Exact sample autocorrelation (q162) of the daily event-count
    * series at lags 1..7 — the serial-dependence companion to the
    * drift family (q118 PSI, q147 CUSUM, q154 KS). Multiplying the
    * textbook estimator through by n² makes numerator and denominator
    * exact integers (Σ(n·x_t − Sx)(n·x_{t+k} − Sx) over the lag-k
    * overlap / Σ(n·x_t − Sx)² over the full series); one double
    * division emits r_k.
    *
    * Scale shape: the series is the daily aggregate (one map-side
    * combinable exchange); lags join the tiny series to itself —
    * days-sized work, never events-sized.
    */
  def autocorrelation(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val daily = Tables.events(s, d)
      .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(count(lit(1)).as("x"))
      .transform(graft.core.Caches.cache)
    val totals = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val den = daily.crossJoin(broadcast(totals))
      .agg(sum(expr("(n * x - sx) * (n * x - sx)")).as("den"))
    val lags = Seq.range(1, 8).toDF("lag")
    val pairs = daily.select(col("day"), col("x"))
      .crossJoin(broadcast(lags))
      .join(
        daily.select(col("day").as("day2"), col("x").as("x2")),
        col("day2") === col("day") + col("lag"))
    pairs
      .crossJoin(broadcast(totals))
      .groupBy(col("lag"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(expr("(n * x - sx) * (n * x2 - sx)")).as("num"))
      .crossJoin(broadcast(den))
      .select(
        col("lag").cast("long").as("lag"), col("n_pairs"),
        col("num"), col("den"),
        expr("cast(num as double) / cast(den as double)").as("acf"))
      .orderBy(col("lag"))
  }

  /** MASE forecast evaluation (q163; Hyndman & Koehler 2006): per
    * event type, the seasonal-naive (lag-7) forecast's mean absolute
    * error scaled by the one-step-naive (lag-1) MAE — the
    * scale-free forecast-quality report (< 1 beats naive). Absolute
    * errors are exact integers; the final ratio is one double chain.
    */
  def maseForecast(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(count(lit(1)).as("x"))
      .transform(graft.core.Caches.cache)
    def lagJoin(k: Int) = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("b.day") === col("a.day") + k)
      .groupBy(col("a.event_type").as("event_type"))
      .agg(
        count(lit(1)).as(s"n$k"),
        sum(abs(col("b.x") - col("a.x"))).as(s"sae$k"))
    lagJoin(7)
      .join(lagJoin(1), Seq("event_type"))
      .select(
        col("event_type"), col("n7"), col("n1"), col("sae7"), col("sae1"),
        expr(
          """(cast(sae7 as double) / cast(n7 as double))
            | / (cast(sae1 as double) / cast(n1 as double))""".stripMargin).as("mase"))
      .orderBy(col("event_type"))
  }

  /** Inverse-propensity-scored CTR (q166): clicks weighted by their
    * session position under the 1/pos examination model (capped at
    * 10) — the standard position-bias correction for logged
    * interaction data (an item clicked at position 8 carries 8× the
    * evidence of one clicked at position 1). All-integer ppm contract;
    * positions come from a per-session window, the only event-sized
    * exchange.
    */
  def ipsCtr(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
      .filter(col("event_type").isin("view", "click"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("session_id"))
      .orderBy(col("epoch_s"), col("event_id"))
    enriched
      .withColumn("pos", least(row_number().over(w).cast("long"), lit(10L)))
      .groupBy(col("item_id"))
      .agg(
        count(lit(1)).as("n_impressions"),
        Ag.countIf(col("event_type") === "click").as("n_clicks"),
        sum(when(col("event_type") === "click", col("pos")).otherwise(0L)).as("ips_num"))
      .filter(col("n_impressions") >= 20)
      .select(
        col("item_id"), col("n_impressions"), col("n_clicks"),
        expr("n_clicks * 1000000 div n_impressions").as("raw_ctr_ppm"),
        col("ips_num"),
        expr("ips_num * 1000000 div n_impressions").as("ips_ctr_ppm"))
  }

  /** Weight-of-evidence decile binning (q167): `value` cents binned
    * into 10 rank deciles with TIES KEPT TOGETHER (bin = 10·c_before
    * div n + 1 over the distinct-value support — every occurrence of a
    * value lands in one bin, deterministically), then per-bin
    * WOE = ln(odds ratio vs global) in micro units — the credit-risk /
    * feature-screening encoding next to q98's target encoding. The ln
    * is micro-rounded on BOTH sides (q43's libm-ULP discipline); all
    * other arithmetic is integer. The cumulative sums run over the
    * value support via [[Windows.shardedCumsum]] (exclusive prefix =
    * inclusive cum minus own count) — never events, never one task.
    */
  def woeBinning(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .select(
        expr("cast(round(value * 100) as bigint)").as("cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .groupBy(col("cents"))
      .agg(sum(col("y")).as("ca"), count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("ca")).as("pos_tot"), sum(col("n")).as("n_tot"))
    Windows
      .shardedCumsum(counts, "cents", Seq("n"), expr("cents div 5000"))
      .withColumn("c_before", col("cum_n") - col("n"))
      .crossJoin(broadcast(tot))
      .withColumn("bin", expr("c_before * 10 div n_tot + 1"))
      .groupBy(col("bin"))
      .agg(
        sum(col("n")).as("n_b"),
        sum(col("ca")).as("pos_b"),
        (sum(col("n")) - sum(col("ca"))).as("neg_b"))
      .crossJoin(broadcast(tot))
      .select(
        col("bin"), col("n_b"), col("pos_b"), col("neg_b"),
        expr(
          """cast(round(ln(cast(pos_b * (n_tot - pos_tot) as double)
            |              / cast(neg_b * pos_tot as double)) * 1000000) as bigint)"""
            .stripMargin).as("woe_micro"))
      .orderBy(col("bin"))
  }

  /** Top collapsed session paths (q168): consecutive repeats dropped
    * (run-length collapse — the standard clickstream cleaning before
    * path analysis), the remaining item sequence serialized per
    * session, top 20 paths by frequency. Deterministic: unique
    * (epoch_s, event_id) order keys make the serialization exact, the
    * top-k is TakeOrderedAndProject with a path tie-break.
    */
  def topSessionPaths(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("session_id")).orderBy(col("epoch_s"), col("event_id"))
    val kept = enriched
      .withColumn("prev", lag(col("item_id"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("item_id"))
    kept
      .groupBy(col("session_id"))
      .agg(
        Ag.sortedStringAgg(Seq(col("epoch_s"), col("event_id")), col("item_id"), "->")
          .as("path"),
        count(lit(1)).as("path_len"))
      .groupBy(col("path"), col("path_len"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(20)
  }

  /** Exact 2-sigma burst days (q169): per event type, the days whose
    * count exceeds mean + 2σ (population σ) — with the comparison
    * cross-multiplied into pure integers: (x−μ)² > k²σ² on both sides
    * ×n² gives (x·n − Sx)² > k²·(n·Sxx − Sx²), positive side only. The
    * anomaly flags are bit-identical cross-engine with no floating
    * point anywhere — the alerting-threshold primitive behind ops
    * dashboards, exact where the usual z-score is float.
    */
  def burstDays(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(count(lit(1)).as("x"))
    val stats = daily.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    daily
      .join(broadcast(stats), Seq("event_type"))
      .filter(expr(
        """x * n - sx > 0 AND
          |(x * n - sx) * (x * n - sx) > 4 * (n * sxx - sx * sx)""".stripMargin))
      .select(
        col("event_type"), col("day"), col("x").as("n_events"),
        col("n").as("n_days"),
        expr("x * n - sx").as("dev_n"),
        expr("n * sxx - sx * sx").as("var_n2"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Mann–Whitney U rank-sum test (q165) between the purchase and view
    * `value` distributions — the nonparametric A/B companion to q154's
    * KS (U asks "does one sample stochastically dominate"; KS asks
    * "same distribution at all"). Tie-corrected midranks are kept
    * integer by DOUBLING: for a value with `c` observations strictly
    * below and `t` ties, 2·midrank = 2c + t + 1, so 2·R₁ and 2·U₁ are
    * exact integers; the common-language effect size emits as ppm
    * (floor division on non-negatives). Same value-support scaffold as
    * q154 — counts per distinct value, cumulative sums via
    * [[Windows.shardedCumsum]] over the value-bounded support (exclusive
    * prefix = inclusive cum minus own count), never the events.
    */
  def mannWhitneyU(s: SparkSession, d: String): DataFrame =
    valueSupportCums(purchaseViewSupport(s, d))
      .withColumn(
        "c_before", col("cum_ca") + col("cum_cb") - col("ca") - col("cb"))
      .agg(
        sum(col("ca")).as("n1"),
        sum(col("cb")).as("n2"),
        sum(col("ca") * (col("c_before") * 2 + col("ca") + col("cb") + 1)).as("r1_x2"))
      .select(
        col("n1"), col("n2"),
        (col("r1_x2") - col("n1") * (col("n1") + 1)).as("u1_x2"),
        (col("n1") * col("n2") * 2 - (col("r1_x2") - col("n1") * (col("n1") + 1))).as("u2_x2"),
        expr("(r1_x2 - n1 * (n1 + 1)) * 1000000 div (2 * n1 * n2)").as("cles_ppm"))

  /** Count-min sketch frequency estimates (q164): the 4×64 CMS table
    * over item ids, probed for the 10 most frequent items — the
    * contract carries the sketch's own guarantee (overcount ≥ 0,
    * never an undercount) as an output column. See
    * [[graft.ops.Sketches.cmsTable]] for the 100 TB role.
    */
  def cmsFrequency(s: SparkSession, d: String): DataFrame = {
    val it = Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("long").as("item"))
      .filter(col("item").isNotNull)
      .transform(graft.core.Caches.cache)
    val sketch = graft.ops.Sketches.cmsTable(it, "item", depth = 4, width = 64)
    val top = it.groupBy(col("item")).agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("item").asc)
      .limit(10)
    val est = graft.ops.Sketches.cmsEstimate(sketch, top, "item", depth = 4, width = 64)
    top.join(est, Seq("item"))
      .select(col("item"), col("true_cnt"), col("est"),
        (col("est") - col("true_cnt")).as("overcount"))
      .orderBy(col("item"))
  }

  /** Kruskal–Wallis H rank test (q170) across the view / click /
    * purchase `value` samples — the k-group member of the rank-test
    * family (q165 MWU asks which of TWO dominates; KW asks whether ANY
    * of k differs). See [[graft.ops.Stats.kruskalWallisMicro]]: doubled
    * tie-corrected midranks on the value-support scaffold, one
    * micro-rounded double chain for H.
    */
  def kruskalWallis(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.kruskalWallisMicro(
      Tables.events(s, d).select(col("event_type"), col("value")),
      "value", "event_type", Seq("view", "click", "purchase"),
      expr("cast(round(value * 100) as bigint) div 5000"))

  /** Median absolute deviation (q171) of value cents per event type —
    * the robust dispersion companion to q159's Theil–Sen location
    * trend (σ blows up on one fat-fingered order; MAD tolerates 50%
    * contamination). Two [[graft.ops.Stats.medianHotBucket]] passes
    * (median, then median of |x − median|) — cent values are
    * near-unique, so the r13 count-compressed support was ≈ the fact
    * (the q114 regression class); the hot-bucket form's exchanges are
    * bucket-grain (shift 8 → span/256 level-1 buckets on the ~50k-cent
    * domain, then the rank bucket's ≈ rows·256/span slice). All
    * integer, type-1 medians, bit-identical output, never a per-row
    * window.
    */
  def madCents(s: SparkSession, d: String): DataFrame = {
    val base = graft.core.Caches.materialized(
      Tables.events(s, d)
        .select(
          col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("cents")))
    val med = graft.core.Caches.materialized(
      graft.ops.Stats.medianHotBucket(
        base, Seq("event_type"), "cents", "median_cents", shift = 8))
    val dev = base
      .join(broadcast(med), Seq("event_type"))
      .select(
        col("event_type"), col("n_total"), col("median_cents"),
        abs(col("cents") - col("median_cents")).as("dev"))
    graft.ops.Stats
      .medianHotBucket(dev, Seq("event_type"), "dev", "mad_cents", shift = 8)
      .select(col("event_type"), col("mad_cents"))
      .join(broadcast(med), Seq("event_type"))
      .select(
        col("event_type"), col("n_total"), col("median_cents"), col("mad_cents"))
      .orderBy(col("event_type"))
  }

  /** Sketch sibling of [[madCents]] (q301): median and MAD lower
    * bounds from the ≤1024-bucket log-histogram
    * ([[graft.ops.Sketches.madLogHistFromCounts]]) — the opt-in path
    * past q171's full-value-support state at 100 TB, same two-pass
    * shape, all integer and oracle-checked. SkewAndSketchSpec pins the
    * error band against the exact q171 answer.
    */
  def madCentsSketch(s: SparkSession, d: String): DataFrame =
    graft.ops.Sketches
      .madLogHistFromCounts(
        Tables.events(s, d)
          .select(
            col("event_type"),
            expr("cast(round(value * 100) as bigint)").as("cents"))
          .groupBy(col("event_type"), col("cents"))
          .agg(count(lit(1)).as("n"))
          // referenced twice (bucket pass + dev pass) — q171's rule
          .transform(graft.core.Caches.cache),
        "event_type", "cents", "n")
      .orderBy(col("event_type"))

  /** Sketch sibling of [[tukeyOutliers]] (q302): Q1/Q3 lower bounds
    * from the log-histogram, doubled-integer fences, tail mass counted
    * against the broadcast fences
    * ([[graft.ops.Sketches.tukeyFencesLogHistFromCounts]]). The
    * bounded-state fence path for value domains whose support doesn't
    * fit q214's exact narrowing at 100 TB.
    */
  def tukeyOutliersSketch(s: SparkSession, d: String): DataFrame =
    graft.ops.Sketches
      .tukeyFencesLogHistFromCounts(
        Tables.events(s, d)
          .select(
            col("event_type"),
            expr("cast(round(value * 100) as bigint)").as("cents"))
          .groupBy(col("event_type"), col("cents"))
          .agg(count(lit(1)).as("n"))
          // referenced twice (bucket pass + tail-count join) — q214's rule
          .transform(graft.core.Caches.cache),
        "event_type", "cents", "n")
      .orderBy(col("event_type"))

  /** 5–95% trimmed mean (q172) of value cents per event type — the
    * robust mean that DROPS the tails where q99's winsorize CLAMPS
    * them. [[graft.ops.Stats.trimmedMeanMicroFromCounts]]: kept mass of
    * each tied cent block is its integer overlap with the kept rank
    * interval; mean in micro-cents by integer division. No floats
    * anywhere.
    */
  def trimmedMean(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats
      .trimmedMeanMicroFromCounts(
        Tables.events(s, d)
          .select(
            col("event_type"),
            expr("cast(round(value * 100) as bigint)").as("cents"))
          .groupBy(col("event_type"), col("cents"))
          .agg(count(lit(1)).as("n")),
        Seq("event_type"), "cents", "n",
        expr("cents div 5000"), trimPpm = 50000L)
      .orderBy(col("event_type"))

  /** HITS hubs & authorities (q173) on the directed session-transition
    * item graph — the directed companion to q87's PageRank: an
    * authority is an item sessions converge ON, a hub one they fan out
    * FROM (a series opener vs a basket staple). Two exact-integer
    * alternations ([[graft.ops.Graph.hitsMicro]]); top 20 authorities
    * with full (auth, hub, item) tie-break.
    */
  def hitsTransitions(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val trans = Windows.transitionCounts(
      enriched, "session_id",
      Seq(col("epoch_s").asc, col("event_id").asc), "item_id")
    graft.ops.Graph
      .hitsMicro(trans, "item_a", "item_b", "transition_count", iters = 2)
      .orderBy(col("auth_micro").desc, col("hub_micro").desc, col("id").asc)
      .limit(20)
      .select(col("id").as("item_id"), col("hub_micro"), col("auth_micro"))
  }

  /** Hour-of-day × event-type contingency chi² and Cramér's V (q174) —
    * "is activity MIX time-of-day dependent, and how strongly" (chi²
    * grows with N; V ∈ [0,1] is the effect size that survives scale).
    * Per-cell contributions are micro-quantized BEFORE the sum (the
    * suite's ln rule applied to chi²), so chi2_micro is an exact
    * integer; V is one sqrt chain on it, micro-rounded identically in
    * the oracle.
    *
    * Scale: one fact pass to the 24×|types| table; everything after is
    * constant-sized with broadcast marginals.
    */
  def contingencyCramersV(s: SparkSession, d: String): DataFrame = {
    val obs = Tables.events(s, d)
      .groupBy(
        expr("hour(ts)").cast("long").as("hr"),
        col("event_type"))
      .agg(count(lit(1)).as("obs"))
      .transform(graft.core.Caches.cache)
    val rows = obs.groupBy(col("hr")).agg(sum(col("obs")).as("rt"))
    val cols_ = obs.groupBy(col("event_type")).agg(sum(col("obs")).as("ct"))
    // n_rows/n_cols = counts OF the marginal tables, not two
    // countDistincts in one agg: Catalyst's multi-distinct rewrite
    // lays out its Expand by expression-set hash order, which is
    // plan-text nondeterministic (breaks the bench fingerprint)
    val tot = obs.agg(sum(col("obs")).as("n_events"))
      .crossJoin(rows.agg(count(lit(1)).as("n_rows")))
      .crossJoin(cols_.agg(count(lit(1)).as("n_cols")))
    obs
      .join(broadcast(rows), Seq("hr"))
      .join(broadcast(cols_), Seq("event_type"))
      .crossJoin(broadcast(tot))
      .select(
        col("n_events"), col("n_rows"), col("n_cols"),
        expr("""CAST(round(CAST(n_events * obs - rt * ct AS DOUBLE)
               | * CAST(n_events * obs - rt * ct AS DOUBLE)
               | / (CAST(n_events AS DOUBLE) * CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
               | * 1000000) AS BIGINT)""".stripMargin).as("cell_micro"))
      .groupBy(col("n_events"), col("n_rows"), col("n_cols"))
      .agg(sum(col("cell_micro")).as("chi2_micro"))
      .select(
        col("n_events"), col("n_rows"), col("n_cols"), col("chi2_micro"),
        expr("""CAST(round(sqrt(CAST(chi2_micro AS DOUBLE) / 1000000.0
               | / CAST(n_events AS DOUBLE)
               | / CAST(least(n_rows, n_cols) - 1 AS DOUBLE)) * 1000000) AS BIGINT)"""
          .stripMargin).as("cramers_v_micro"))
  }

  /** Kendall τ-b (q175) between the daily VIEW and PURCHASE count
    * series — "do busy browse days rank as busy buy days" with a
    * statistic immune to outlier magnitudes (Pearson isn't). Exact
    * integer concordant/discordant/tie counts over day pairs
    * ([[graft.ops.Stats.kendallTauBMicro]] — the days²-bounded q159
    * regime), one micro-rounded sqrt chain for τ-b.
    */
  def kendallDaily(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(
        Ag.countIf(col("event_type") === "view").as("x"),
        Ag.countIf(col("event_type") === "purchase").as("y"))
    graft.ops.Stats.kendallTauBMicro(daily, "x", "y", "day")
  }

  /** Theil–Sen robust trend (q159): per event type, the MEDIAN of all
    * pairwise day-over-day slopes of the daily event count series —
    * the breakdown-resistant alternative to least-squares trend (up to
    * 29% outlier days cannot move it). Slopes are exact-integer ratios
    * compared as correctly-rounded doubles with (dy, dx) integer
    * tie-breaks; the median is the q46 floor-rank order statistic —
    * deterministic cross-engine.
    *
    * Scale shape: the pair join is days², not events² (the series is
    * the daily aggregate), so the quadratic is bounded by the time
    * range; the daily agg itself is one map-side combinable exchange.
    */
  def theilSenTrend(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(count(lit(1)).as("n_events"))
      .transform(graft.core.Caches.cache)
    val slopes = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.day") < col("b.day"))
      .select(
        col("a.event_type").as("event_type"),
        (col("b.n_events") - col("a.n_events")).as("dy"),
        (col("b.day") - col("a.day")).as("dx"))
      .withColumn("slope", expr("cast(dy as double) / cast(dx as double)"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    slopes
      .withColumn("rn", row_number().over(
        w.orderBy(col("slope").asc, col("dy").asc, col("dx").asc)))
      .withColumn("n_pairs", count(lit(1)).over(w))
      .filter(col("rn") === expr("cast(floor(0.5 * (n_pairs - 1)) as bigint) + 1"))
      .select(
        col("event_type"), col("n_pairs"),
        col("dy").as("med_dy"), col("dx").as("med_dx"), col("slope"))
      .orderBy(col("event_type"))
  }

  /** Common-neighbor link prediction (q176) on the covis item graph:
    * the top-20 NON-adjacent item pairs most likely to co-occur next,
    * scored by resource allocation (Adamic–Adar's rational sibling —
    * exact integer, no ln), common-neighbor count, and neighborhood
    * Jaccard. See [[graft.ops.Graph.linkPredictionScores]] — the wedge
    * join is the triangle-counting regime, hub-capped by the covis
    * session cap upstream.
    */
  def covisLinkPrediction(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val pairs = Joins.covisitationPairs(
      enriched.select(col("session_id"), col("item_id")),
      "session_id", "item_id", minCount = 1L)
    graft.ops.Graph
      .linkPredictionScores(pairs, "item_a", "item_b")
      .select(
        col("u").as("item_a"), col("v").as("item_b"),
        col("cn"), col("ra_micro"), col("jaccard_ppm"))
      .orderBy(
        col("ra_micro").desc, col("cn").desc,
        col("item_a").asc, col("item_b").asc)
      .limit(20)
  }

  /** Degree assortativity (q177) of the covis item graph — do
    * frequently-co-visited hub items pair with other hubs (positive r)
    * or with long-tail items (negative r, the catalog norm)? Exact
    * integer degree moments over edge stubs, one micro-rounded double
    * chain ([[graft.ops.Graph.degreeAssortativityMicro]]).
    */
  def covisAssortativity(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val pairs = Joins.covisitationPairs(
      enriched.select(col("session_id"), col("item_id")),
      "session_id", "item_id", minCount = 1L)
    graft.ops.Graph.degreeAssortativityMicro(pairs, "item_a", "item_b")
  }

  /** Transition reciprocity (q178) per source category: what fraction
    * of A→B session transitions have a B→A counterpart — two-way
    * relationships (substitutes browsed back and forth) vs one-way
    * funnels (accessory follows the main item). Reciprocation is
    * checked on the full directed transition graph; the category is a
    * reporting attribute of the edge's source
    * ([[graft.ops.Graph.reciprocityPpm]]).
    */
  def transitionReciprocity(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val trans = Windows.transitionCounts(
      enriched, "session_id",
      Seq(col("epoch_s").asc, col("event_id").asc), "item_id")
    graft.ops.Graph
      .reciprocityPpm(
        trans.withColumn("src_category", pmod(col("item_a"), lit(20L))),
        "item_a", "item_b", Seq("src_category"))
      .orderBy(col("src_category"))
  }

  /** Spearman ρ (q182) between the daily VIEW and PURCHASE count
    * series — the rank-correlation sibling of q175's Kendall τ-b
    * (Spearman weights by rank DISTANCE where Kendall counts
    * inversions) and of q101's Pearson (which outlier days can move;
    * ranks can't). Exact doubled-midrank moments over the joint
    * support, one shared micro-rounded Pearson chain
    * ([[graft.ops.Stats.spearmanRhoMicro]]).
    */
  def spearmanDaily(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(
        Ag.countIf(col("event_type") === "view").as("x"),
        Ag.countIf(col("event_type") === "purchase").as("y"))
    graft.ops.Stats.spearmanRhoMicro(
      daily, "x", "y", expr("x div 64"), expr("y div 64"))
  }

  /** Welch two-sample t statistic (q183) on purchase vs view order
    * values in cents — "do purchases carry a different mean value than
    * views", with the unequal-variance correction (the two event
    * populations have no reason to share a variance). Rides the q154/
    * q165 value-support scaffold regrouped to integer cents; exact
    * integer moments, one shared IEEE chain for t and the
    * Welch–Satterthwaite dof ([[graft.ops.Stats.welchTMicroFromCounts]]).
    */
  def welchValues(s: SparkSession, d: String): DataFrame = {
    val counts = purchaseViewSupport(s, d)
      .withColumn("cents", expr("cast(round(value * 100) as bigint)"))
      .groupBy(col("cents"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    graft.ops.Stats.welchTMicroFromCounts(counts, "cents", "ca", "cb")
  }

  /** Bounded-hop harmonic centrality (q184) of the q181 anchor slice
    * (`item_id % 11 = 3`) over the directed session item-transition
    * graph: which anchor items can reach the most of the catalog in
    * ≤ 3 hops, distance-weighted — the reach/influence complement to
    * q180's PPR mass (PPR says where the walk CONCENTRATES; harmonic
    * says how far it can GET). Exact integer 1e6 div dist over BFS
    * hop distances ([[graft.ops.Graph.harmonicCentralityMicro]]).
    */
  def harmonicCentrality(s: SparkSession, d: String): DataFrame = {
    val enr = Pipeline.enrichedEvents(s, d)
    graft.ops.Graph
      .harmonicCentralityMicro(
        Windows.transitionCounts(
          enr, "session_id",
          Seq(col("epoch_s").asc, col("event_id").asc), "item_id"),
        "item_a", "item_b",
        enr.select(col("item_id").as("id")).distinct()
          .filter(pmod(col("id"), lit(11)) === 3),
        "id",
        hops = 3)
      .select(col("seed").as("item_id"), col("n_reached"), col("harmonic_micro"))
  }

  /** McNemar paired test (q185): covis vs user-history candidate
    * strategies on the SAME purchase anchors — q117 reports each
    * strategy's marginal recall, but marginals can tie while one
    * strategy strictly dominates on the anchors the other misses;
    * McNemar tests exactly that discordant mass. Hit flags are two
    * left marker joins off the q117 candidate sets; the statistic is
    * pure integer ([[graft.ops.Stats.mcnemarMicro]]).
    */
  def mcnemarStrategies(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val a = Pipeline.anchors(enriched)
    val anchors = a.select(col("anchor_id"), col("category_id"))
    def hitFlag(cand: DataFrame, name: String): DataFrame =
      cand.select(col("anchor_id"), col("category_id")).distinct()
        .withColumn(name, lit(1L))
    val flags = anchors
      .join(
        hitFlag(Pipeline.covisCandidates(a, enriched, minPairCount = 2, topK = 10), "hit_a"),
        Seq("anchor_id", "category_id"), "left")
      .join(
        hitFlag(Pipeline.userHistoryCandidates(a, enriched, topK = 10), "hit_b"),
        Seq("anchor_id", "category_id"), "left")
      .select(
        coalesce(col("hit_a"), lit(0L)).as("hit_a"),
        coalesce(col("hit_b"), lit(0L)).as("hit_b"))
    graft.ops.Stats.mcnemarMicro(flags, "hit_a", "hit_b")
  }

  /** Classical additive seasonal decomposition (q188) of the daily
    * event-count series: trend = centered 7-day moving average
    * (interior days only), seasonal = day-of-week mean of the
    * detrended series, residual = the rest — the STL-shaped "is
    * Tuesday really bigger or is it just the trend" decomposition.
    * Pure integer: trend/seasonal are floor divisions of exact sums
    * (the seasonal mean is offset-shifted before dividing so Spark's
    * truncating `div` and DuckDB's `//` agree on negative detrended
    * values).
    *
    * Shape: one fact-table day agg, then everything is days-sized —
    * the ±3-day trend join is a broadcast self-join of the tiny daily
    * table (never a global-order window), the seasonal agg has 7
    * groups.
    */
  def seasonalDecomposition(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(count(lit(1)).as("n_events"))
      .transform(graft.core.Caches.cache)
    val tr = daily.as("a")
      .join(broadcast(daily.as("b")),
        col("b.day").between(col("a.day") - 3, col("a.day") + 3))
      .groupBy(col("a.day").as("day"), col("a.n_events").as("n_events"))
      .agg(count(lit(1)).as("n7"), sum(col("b.n_events")).as("sum7"))
      .filter(col("n7") === 7)
      .withColumn("trend_micro", expr("sum7 * 1000000 div 7"))
      .withColumn("detr_micro", expr("n_events * 1000000 - trend_micro"))
      .withColumn("dow", expr("day % 7"))
      .transform(graft.core.Caches.cache)
    val seas = tr
      .groupBy(col("dow"))
      .agg(expr(
        "(sum(detr_micro) + count(1) * 1000000000000) div count(1) - 1000000000000")
        .as("seasonal_micro"))
    tr.join(broadcast(seas), Seq("dow"))
      .select(
        col("day"), col("n_events"), col("trend_micro"), col("seasonal_micro"),
        (col("detr_micro") - col("seasonal_micro")).as("resid_micro"))
      .orderBy(col("day"))
  }

  /** Robust spike-day detection (q252): daily purchase revenue flagged
    * against the global median ± 3·1.4826·MAD — the outlier rule that
    * survives the spike it is hunting (a mean/stddev gate moves with
    * the anomaly; the median/MAD gate does not). Both medians are
    * exact order statistics on the day-grain support
    * ([[graft.ops.Stats.medianFromCounts]], ~30 rows); the 3σ-
    * equivalent cut is pure integer: 10000·|y−med| > 44478·mad.
    * dev_mad_ppm = deviation in MAD-ppm units (NULL when MAD = 0).
    */
  def spikeDays(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      // eager: consumed by the broadcast(med) build AND the dev path,
      // which start concurrently (round-8 broadcast-race rule)
      .transform(graft.core.Caches.materialized)
    val med = graft.ops.Stats.medianFromCounts(
      daily.groupBy(col("cents")).agg(count(lit(1)).as("c")),
      Nil, "cents", "c", expr("cents div 100000000"), "median_cents")
      .select(col("median_cents"))
    val dev = daily
      .crossJoin(broadcast(med))
      .withColumn("dev", abs(col("cents") - col("median_cents")))
      // eager: consumed by the broadcast(mad) build AND the final
      // projection, concurrent at action start
      .transform(graft.core.Caches.materialized)
    val mad = graft.ops.Stats.medianFromCounts(
      dev.groupBy(col("dev")).agg(count(lit(1)).as("c")),
      Nil, "dev", "c", expr("dev div 100000000"), "mad_cents")
      .select(col("mad_cents"))
    dev
      .crossJoin(broadcast(mad))
      .select(
        col("day"), col("cents"), col("median_cents"), col("mad_cents"), col("dev"),
        when(col("mad_cents") > 0,
          expr("dev * 1000000 div mad_cents")).as("dev_mad_ppm"),
        when(expr("dev * 10000 > 44478 * mad_cents"), lit(1L)).otherwise(lit(0L))
          .as("is_spike"))
      .orderBy(col("day"))
  }

  /** Seasonality strength (q253) of the daily event-count series —
    * Hyndman's F_s = max(0, 1 − Var(resid)/Var(seasonal+resid)) on top
    * of q188's additive decomposition: one number for "how much of the
    * weekly wiggle is real seasonality vs noise". Components are
    * milli-quantized (micro squares would pass int64 at decade×1e6-
    * events scales), moments are exact integers with the olsMicro loud
    * overflow guard, and the one double chain is the shared
    * [[graft.ops.Stats.seasonalStrengthSql]] template.
    */
  def seasonalityStrength(s: SparkSession, d: String): DataFrame =
    seasonalDecomposition(s, d)
      .select(
        expr("(seasonal_micro + resid_micro) div 1000").as("dm"),
        expr("resid_micro div 1000").as("rm"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("dm")).as("sd"),
        sum(col("dm") * col("dm")).as("sd2"),
        sum(col("rm")).as("sr"),
        sum(col("rm") * col("rm")).as("sr2"))
      .withColumn("__ovf_ok", expr(
        """assert_true(
          |  coalesce(n, 0) = 0 OR (
          |    greatest(sd2, sr2) <= 9223372036854775807 div greatest(n, 2)
          |    AND greatest(abs(sd), abs(sr)) <= 3037000499),
          |  'seasonalityStrength: int64 moment overflow -- rescale to centi units')"""
          .stripMargin))
      .withColumn("strength_micro",
        when(col("__ovf_ok").isNull, expr(graft.ops.Stats.seasonalStrengthSql)))
      .drop("__ovf_ok")

  /** Multi-touch attribution (q259): each purchase's revenue credited
    * to the view/click touches in the 30 minutes before it, under the
    * three standard models side by side — LAST touch (all credit to
    * the most recent), FIRST touch, and LINEAR (equal split) — summed
    * per touch type. The marketing-analytics staple that q68's
    * error-session attribution doesn't cover: credit is per-PURCHASE
    * money, not per-event session membership. Purchases with no
    * in-window touch drop (inner interval join), documented as
    * unattributed.
    *
    * Determinism: revenue in integer cents, linear credit in integer
    * micro-cents (`cents·10⁶ div n_touch`), first/last picked by
    * (epoch, event_id) total order — no float, no ties.
    * Scale shape: one user-keyed interval join (per-user windows stay
    * small: 30-min lookback), per-purchase windows partitioned by
    * purchase id (never unpartitioned), one tiny final agg by type.
    */
  def attributionCredit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("epoch_s"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("epoch_s").as("p_s"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .withColumn("w_start", col("p_s") - 1800L)
      .withColumn("w_end", col("p_s") - 1L)
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("event_id").as("t_id"), col("user_id"),
        col("event_type").as("touch_type"), col("epoch_s").as("t_s"))
    val wp = Window.partitionBy(col("p_id"))
    val joined = graft.ops.Joins
      .intervalJoin(touches, purchases, "user_id", "t_s", "w_start", "w_end")
      .withColumn("n_touch", count(lit(1)).over(wp))
      .withColumn("rn_last", row_number().over(
        wp.orderBy(col("t_s").desc, col("t_id").desc)))
      .withColumn("rn_first", row_number().over(
        wp.orderBy(col("t_s").asc, col("t_id").asc)))
    joined
      .groupBy(col("touch_type"))
      .agg(
        count(lit(1)).as("n_touches"),
        sum(expr("cents * 1000000 div n_touch")).as("linear_microcents"),
        sum(when(col("rn_first") === 1, col("cents")).otherwise(lit(0L)))
          .as("first_touch_cents"),
        sum(when(col("rn_last") === 1, col("cents")).otherwise(lit(0L)))
          .as("last_touch_cents"))
      .orderBy(col("touch_type"))
  }

  /** User-embedding segments (q262): each user's profile vector is the
    * interaction-weighted mean of the item embeddings they touched
    * (`item_id = props.$.k`, item vector = embeddings row `k+1`), then
    * the user is segmented by nearest label centroid — the feature-
    * store pattern behind "represent the user as the mean of what they
    * consumed, then bucket users by region of embedding space".
    *
    * Scale shape: the fact table first collapses to (user, item)
    * COUNTS (bounded by users × catalog, map-side combinable), THEN
    * fans out ×dim against the broadcast item-vector table — per-event
    * vector fan-out never happens. Weighted floor-mean is exact int;
    * nearest centroid is the lexicographic (d², label) min. Output is
    * the per-segment summary: (segment_label, n_users, mean_d2).
    */
  def userEmbeddingSegments(s: SparkSession, d: String): DataFrame = {
    import graft.similarity.Similarity
    val counts = Tables.events(s, d)
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"))
      .filter(col("item_id").isNotNull)
      .groupBy(col("user_id"), col("item_id"))
      .agg(count(lit(1)).as("c"))
    val itemVecs = Tables.embeddings(s, d)
      .select((col("vec_id") - 1).as("item_id"),
        Similarity.quantize(col("embedding")).as("v"))
    val profiles = counts
      .join(broadcast(itemVecs), Seq("item_id"))
      .select(col("user_id"), col("c"), posexplode(col("v")).as(Seq("pos", "val")))
      .groupBy(col("user_id"), col("pos"))
      .agg(floor(sum(col("c") * col("val")).cast("double") / sum(col("c")))
        .cast("long").as("pv"))
      .groupBy(col("user_id"))
      .agg(Ag.sortedList(Seq(col("pos")), col("pv")).as("profile"))
    val cents = Similarity
      .labelCentroids(Tables.embeddings(s, d), "label", "embedding")
      .select(col("label").as("c_label"), col("centroid"),
        Similarity.qnorm2(col("centroid")).as("c_n2"))
    profiles
      .withColumn("p_n2", Similarity.qnorm2(col("profile")))
      .crossJoin(broadcast(cents))
      .withColumn("d2",
        col("p_n2") + col("c_n2")
          - lit(2L) * Similarity.qdot(col("profile"), col("centroid")))
      .groupBy(col("user_id"))
      .agg(min(struct(col("d2"), col("c_label"))).as("best"))
      .select(col("user_id"), col("best.c_label").as("segment_label"),
        col("best.d2").as("d2"))
      .groupBy(col("segment_label"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("d2")).as("__sd2"))
      .withColumn("mean_d2", expr("__sd2 div n_users"))
      .select(col("segment_label"), col("n_users"), col("mean_d2"))
      .orderBy(col("segment_label"))
  }

  /** Time-embargo split audit (q263): the purged time split that
    * prevents horizon leakage in temporal models (train ≤ T, a 1-day
    * EMBARGO buffer absorbs events whose features/labels straddle the
    * boundary, test starts after it — the de Prado purge/embargo rule
    * for event data). T is the integer 80%-point of the observed epoch
    * RANGE (pure int arithmetic — not an order statistic, so the split
    * is a constant-time pure function of (min, max), replayable
    * anywhere). Output: one row per split with event/user counts and
    * the epoch extent — the audit that proves the gap exists.
    */
  def embargoSplit(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("epoch_s"))
    val bounds = ev.agg(min(col("epoch_s")).as("t0"), max(col("epoch_s")).as("t1"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("t_cut", expr("t0 + (t1 - t0) * 8 div 10"))
      .withColumn("split",
        when(col("epoch_s") <= col("t_cut"), lit("train"))
          .when(col("epoch_s") <= col("t_cut") + 86400L, lit("embargo"))
          .otherwise(lit("test")))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("epoch_s")).as("min_epoch_s"),
        max(col("epoch_s")).as("max_epoch_s"))
      .orderBy(col("split"))
  }

  /** Leave-last-out eval split (q264): the classic next-item recsys
    * protocol — each user's LAST item interaction (by (ts, event_id)
    * total order) becomes the test point, everything earlier is
    * training history. Users with <2 item events drop (nothing to
    * train on). One user-partitioned window, line-rate.
    * Output: (user_id, test_item, test_epoch_s, n_train).
    */
  def leaveLastOut(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("epoch_s"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"))
      .filter(col("item_id").isNotNull)
    val w = Window.partitionBy(col("user_id"))
    ev
      .withColumn("rn", row_number().over(
        w.orderBy(col("epoch_s").desc, col("event_id").desc)))
      .withColumn("n_items", count(lit(1)).over(w))
      .filter(col("rn") === 1 && col("n_items") >= 2)
      .select(col("user_id"), col("item_id").as("test_item"),
        col("epoch_s").as("test_epoch_s"),
        (col("n_items") - 1).as("n_train"))
  }

  /** Step-decayed implicit-feedback matrix (q265): the (user, item)
    * preference scores an implicit-ALS / sequence-model trainer
    * consumes — event-type base weights (view 1 / click 3 / purchase
    * 10, in micro) halved for every full week of age at snapshot time.
    * The halving is an integer SHIFT (`w·10⁶ div (1 << age_weeks)`),
    * not an exp() — bit-exact on both engines at any scale, unlike
    * float decay (q108's category-level exp decay is the contrast).
    * One map-side-combinable (user, item) agg over the fact scan.
    * Output: (user_id, item_id, n_events, score_micro).
    */
  def implicitMatrix(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("epoch_s"),
        get_json_object(col("props"), "$.k").cast("long").as("item_id"))
      .filter(col("item_id").isNotNull &&
        col("event_type").isin("view", "click", "purchase"))
    val mx = ev.agg(max(col("epoch_s")).as("t_max"))
    ev.crossJoin(broadcast(mx))
      .withColumn("type_w",
        when(col("event_type") === "purchase", 10L)
          .when(col("event_type") === "click", 3L).otherwise(1L))
      // clamp the shift: the weight is already 0 past ~24 weeks
      // (10e6 < 2^24), but Spark MASKS shift amounts to 6 bits, so an
      // unclamped age_weeks=63 yields a NEGATIVE divisor and >=64
      // silently wraps back to FULL weight for the oldest events —
      // while DuckDB's `1 << n` diverges differently. least(.., 30)
      // is lossless and keeps both engines exact at any corpus age.
      .withColumn("age_weeks",
        expr("least((t_max - epoch_s) div 604800, 30)"))
      .withColumn("w_micro",
        expr("type_w * 1000000 div shiftleft(1L, cast(age_weeks as int))"))
      .groupBy(col("user_id"), col("item_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("w_micro")).as("score_micro"))
  }

  /** Exposure Gini (q189) of the covis top-10 recommender: how
    * unequally the candidate lists distribute exposure over the items
    * they recommend — the catalog-health metric behind "the
    * recommender only ever shows the head" (coverage q143 counts WHO
    * gets shown; Gini measures how UNEVENLY). Exposure of an item =
    * number of top-10 lists containing it; the Gini runs on the
    * count-compressed exposure support with exact rank-block integer
    * arithmetic ([[graft.ops.Stats.giniMicroFromCounts]]).
    */
  def exposureGini(s: SparkSession, d: String): DataFrame = {
    val support = covisTop10(s, d)
      .groupBy(col("dst")).agg(count(lit(1)).as("e"))
      .groupBy(col("e")).agg(count(lit(1)).as("t"))
    graft.ops.Stats
      .giniMicroFromCounts(support, "e", "t", expr("e div 4"))
      .select(
        col("n").as("n_items"),
        col("total").as("total_exposure"),
        col("gini_micro"))
  }

  /** Benford first-digit audit (q190) of order values in cents: the
    * classic fabricated-data / instrumentation-bug detector — natural
    * multi-scale quantities follow P(d) = log10(1+1/d); a spike on one
    * digit flags synthetic or truncated values. Expected frequencies
    * are precomputed ppm literals ([[graft.ops.Stats.benfordPpm]] —
    * summing to exactly 1e6); each digit's χ² cell is the one shared
    * double chain, micro-rounded (the q174 per-cell pattern).
    */
  def benfordDigits(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val expected = graft.ops.Stats.benfordPpm.toDF("digit", "exp_ppm")
    val obs = Tables.events(s, d)
      .select(expr("cast(round(value * 100) as bigint)").as("cents"))
      .filter(col("cents") > 0)
      .select(expr("cast(substring(cast(cents as string), 1, 1) as bigint)").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("obs"))
    val totals = obs.agg(sum(col("obs")).as("n_values"))
    broadcast(expected)
      .join(obs, Seq("digit"), "left")
      .na.fill(0L, Seq("obs"))
      .crossJoin(broadcast(totals))
      .withColumn("cell_micro", expr(graft.ops.Stats.benfordCellSql))
      .select(col("digit"), col("obs"), col("exp_ppm"), col("cell_micro"))
      .orderBy(col("digit"))
  }

  /** MAP@10 (q191) of the covis ranking against the FULL per-source
    * next-item set — the multi-relevant member of the eval family:
    * q112/q135/q138 score each transition occurrence independently
    * (one relevant item at a time), MAP scores each SOURCE's whole
    * candidate list against all its observed next items, rewarding
    * rankings that pack several true continuations near the top.
    * Exact integers: precision at each hit is `hits·1e6 div rank`, AP
    * divides by min(10, |relevant|), the mean divides by the query
    * count — floor divisions all the way, bit-deterministic.
    *
    * Shape: the candidate table is catalog-sized (10 rows/src); the
    * running-hit window partitions by src (never global); queries with
    * no candidate hits contribute AP = 0 through the left join.
    */
  def mapEval(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val enriched = Pipeline.enrichedEvents(s, d)
    val trans = Windows.transitionCounts(
      enriched, "session_id",
      Seq(col("epoch_s").asc, col("event_id").asc), "item_id")
      .transform(graft.core.Caches.cache)
    val rel = covisTop10(s, d)
      .join(
        trans.select(col("item_a").as("src"), col("item_b").as("dst"))
          .distinct().withColumn("rel", lit(1L)),
        Seq("src", "dst"), "left")
      .na.fill(0L, Seq("rel"))
    val w = Window.partitionBy(col("src")).orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ap = rel
      .withColumn("hits", sum(col("rel")).over(w))
      .filter(col("rel") === 1)
      .groupBy(col("src"))
      .agg(sum(expr("hits * 1000000 div rn")).as("sum_p_micro"))
    val nrel = trans
      .groupBy(col("item_a").as("src"))
      .agg(countDistinct(col("item_b")).as("n_rel"))
    nrel
      .join(ap, Seq("src"), "left")
      .select(
        when(col("sum_p_micro").isNotNull, 1L).otherwise(0L).as("scored"),
        coalesce(expr("sum_p_micro div least(10, n_rel)"), lit(0L)).as("ap_micro"))
      .agg(
        count(lit(1)).as("n_queries"),
        sum(col("scored")).as("n_scored"),
        expr("sum(ap_micro) div count(1)").as("map_micro"))
  }

  /** 4-truss of the covis item graph (q193), 3 peel rounds: the
    * cohesive cores one notch above q137's triangles — an edge
    * survives only while it closes ≥ 2 triangles among SURVIVING
    * edges, so community bridges peel away round by round where a
    * raw triangle count keeps them ([[graft.ops.Graph.kTrussEdges]];
    * fixed-round contract, the q157 LPA adjudication). Same covis
    * edge set as q137 (support ≥ 1, canonical a < b).
    */
  def covisKTruss(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val pairs = Joins.covisitationPairs(
      enriched.select(col("session_id"), col("item_id")),
      "session_id", "item_id", minCount = 1L)
    graft.ops.Graph
      .kTrussEdges(pairs, "item_a", "item_b", k = 4, rounds = 3)
      .select(col("a").as("item_a"), col("b").as("item_b"), col("support"))
  }

  /** Difference-in-differences (q195): the causal-inference workhorse
    * for "did the change move the metric beyond what the control
    * drifted" — purchase value in cents, treated = odd items, pre/post
    * split at the midpoint day. Eight exact integer cell moments from
    * ONE fact pass; the DiD estimate is the one shared micro chain
    * ([[graft.ops.Stats.didMicroSql]]). The q158 CUPED query reduces
    * variance WITHIN one experiment; DiD removes a common TREND across
    * the boundary — complementary members of the experimentation
    * family.
    */
  def didUplift(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(
        expr("unix_timestamp(ts) div 86400").as("day"),
        expr("cast(round(value * 100) as bigint)").as("cents"),
        (get_json_object(col("props"), "$.k").cast("long") % 2).as("grp"))
      .filter(col("grp").isNotNull)
    val split = ev.agg(expr("(min(day) + max(day) + 1) div 2").as("split_day"))
    def cell(name: String, pred: org.apache.spark.sql.Column) = Seq(
      Ag.countIf(pred).as(s"n_$name"),
      sum(when(pred, col("cents")).otherwise(0L)).as(s"s_$name"))
    val t = col("grp") === 1
    val post = col("day") >= col("split_day")
    val aggs = cell("t1", t && !post) ++ cell("t2", t && post) ++
      cell("c1", !t && !post) ++ cell("c2", !t && post)
    ev.crossJoin(broadcast(split))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("did_micro", expr(graft.ops.Stats.didMicroSql))
  }

  /** Wald SPRT monitor (q196) on the daily purchase rate: sequential
    * testing of H1 p=0.12 vs H0 p=0.10 with ±ln(19) bounds — the
    * "peek every day without inflating α" experimentation primitive
    * (fixed-horizon tests like q183 forbid peeking; SPRT is built for
    * it). LLR increments are precomputed micro literals
    * ([[graft.ops.Stats.SprtLlrSuccessMicro]]), the running sum is
    * exact integer via the day-support [[Windows.shardedCumsum]], and
    * the per-day decision is a pure CASE on the bound. Output one row
    * per day: (day, n_events, n_success, llr_micro, cum_llr_micro,
    * decision).
    */
  def sprtMonitor(s: SparkSession, d: String): DataFrame = {
    import graft.ops.{Stats => St}
    val daily = Tables.events(s, d)
      .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        Ag.countIf(col("event_type") === "purchase").as("n_success"))
      .withColumn(
        "llr_micro",
        col("n_success") * St.SprtLlrSuccessMicro +
          (col("n_events") - col("n_success")) * St.SprtLlrFailMicro)
    Windows
      .shardedCumsum(daily, "day", Seq("llr_micro"), expr("day div 8"))
      .withColumn(
        "decision",
        expr(s"""CASE WHEN cum_llr_micro >= ${St.SprtBoundMicro} THEN 'accept_h1'
                |     WHEN cum_llr_micro <= ${-St.SprtBoundMicro} THEN 'accept_h0'
                |     ELSE 'continue' END""".stripMargin))
      .select(
        col("day"), col("n_events"), col("n_success"),
        col("llr_micro"), col("cum_llr_micro"), col("decision"))
      .orderBy(col("day"))
  }

  /** Two-sample Anderson–Darling (q197) on purchase vs view order
    * values — the tail-weighted drift statistic on the SAME q154/q165
    * value support: KS flags the biggest CDF gap (always mid-
    * distribution), AD's 1/(F(1−F)) weight amplifies tail divergence,
    * the regime where pricing anomalies actually live
    * ([[graft.ops.Stats.andersonDarlingMicroFromCounts]]).
    */
  def andersonDarlingValues(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.andersonDarlingMicroFromCounts(
      purchaseViewSupport(s, d), "value", "ca", "cb",
      expr("cast(round(value * 100) as bigint) div 5000"))

  /** Discrete-time churn hazard (q198): for each between-session gap
    * length t (days), the probability a user who has been away t days
    * returns exactly then — h(t) = #(gap = t) / #(gap ≥ t), the
    * survival-analysis view of retention (q56's cohorts count WHO came
    * back; the hazard says WHEN the risk of never returning
    * concentrates). Complete gaps only (the open gap after a user's
    * last session is right-censored and excluded). Exact integers:
    * at-risk counts come from one [[Windows.shardedCumsum]] over the
    * gap-day support, hazard is a ppm floor division. Output: one row
    * per gap length ≤ 30 days.
    */
  def churnHazard(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val starts = Pipeline.sessionizedEvents(s, d)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("epoch_s")).as("start_s"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("start_s"), col("session_id"))
    val support = starts
      .withColumn("next_s", lead(col("start_s"), 1).over(w))
      .filter(col("next_s").isNotNull)
      .select(expr("(next_s - start_s) div 86400").as("gap_days"))
      .groupBy(col("gap_days")).agg(count(lit(1)).as("c"))
    val tot = support.agg(sum(col("c")).as("n_total"))
    Windows
      .shardedCumsum(support, "gap_days", Seq("c"), expr("gap_days div 8"))
      .crossJoin(broadcast(tot))
      .withColumn("n_at_risk", col("n_total") - (col("cum_c") - col("c")))
      .filter(col("gap_days") <= 30)
      .select(
        col("gap_days"), col("c").as("n_ended"), col("n_at_risk"),
        expr("c * 1000000 div n_at_risk").as("hazard_ppm"))
      .orderBy(col("gap_days"))
  }

  /** Index of dispersion (q192): variance-to-mean ratio of each event
    * type's daily count series — the Poisson overdispersion check
    * behind "are arrivals independent or bursty" (VMR ≈ 1 Poisson;
    * q169's burst days localize WHICH days, this one number says
    * WHETHER the series is bursty at all). Exact integer moments per
    * type, one shared micro-rounded chain
    * ([[graft.ops.Stats.vmrMicroSql]]).
    */
  def dailyDispersion(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("ss"))
      .withColumn("vmr_micro", expr(graft.ops.Stats.vmrMicroSql))
      .orderBy(col("event_type"))

  /** OLS daily-revenue trend (q200): the parametric line through daily
    * purchase revenue (cents) vs day index — slope (micro-cents/day),
    * intercept (micro-cents at the first day) and R² next to q159's
    * Theil–Sen slope (OLS is the efficient estimator when the series
    * is clean; Theil–Sen survives the outlier days). Day index is
    * relative to the observed minimum so the intercept is
    * interpretable and the integer moments stay small
    * ([[graft.ops.Stats.olsMicro]]).
    */
  def olsDailyRevenue(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("y"))
    val minDay = daily.agg(min(col("day")).as("min_day"))
    graft.ops.Stats.olsMicro(
      daily.crossJoin(broadcast(minDay))
        .select((col("day") - col("min_day")).as("x"), col("y")),
      "x", "y")
  }

  /** Brown–Forsythe variance homogeneity (q201) across ALL event types
    * on order value cents — "do the types differ in SPREAD, not just
    * location" ([[graft.ops.Stats.brownForsytheMicro]]; the variance
    * sibling of q165 MWU / q183 Welch, which only see shifts).
    */
  def leveneValues(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.brownForsytheMicro(
      Tables.events(s, d).select(
        col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("cents")),
      "cents", "event_type", expr("cents div 5000"))

  /** Friedman rank test (q202) on daily event-type volumes — blocks =
    * days, treatments = event types: does any type rank consistently
    * above the others day after day, with the day-level volume effect
    * removed ([[graft.ops.Stats.friedmanMicro]]; q170's KW would pool
    * the days and let busy days drown the ordering).
    */
  def friedmanDailyTypes(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.friedmanMicro(
      Tables.events(s, d)
        .groupBy(
          expr("unix_timestamp(ts) div 86400").as("day"), col("event_type"))
        .agg(count(lit(1)).as("c")),
      "day", "event_type", "c")

  /** Cochran–Armitage trend (q203): does the purchase rate (among
    * purchase+view events) trend with the price band — the ORDERED
    * alternative to a k×2 χ² (q174 discards the band ordering). Bands
    * are $50 price buckets capped at 9
    * ([[graft.ops.Stats.cochranArmitageMicro]]).
    */
  def trendPriceBands(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.cochranArmitageMicro(
      Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(
          least(expr("cast(round(value * 100) as bigint) div 5000"), lit(9L))
            .as("band"),
          (col("event_type") === "purchase").cast("long").as("succ"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_i"), sum(col("succ")).as("r_i")),
      "band", "n_i", "r_i")

  /** Durbin–Watson (q204) per event type on the daily count series —
    * are day-to-day fluctuations independent (DW ≈ 2) or do they run
    * in correlated streaks (DW → 0)? The regression-diagnostics form
    * of q162's lag-1 autocorrelation
    * ([[graft.ops.Stats.durbinWatsonMicro]]).
    */
  def durbinWatsonDaily(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.durbinWatsonMicro(
      Tables.events(s, d)
        .groupBy(
          col("event_type"), expr("unix_timestamp(ts) div 86400").as("day"))
        .agg(count(lit(1)).as("c")),
      Seq("event_type"), "day", "c")
      .orderBy(col("event_type"))

  /** Cronbach's α (q205) over the 5 per-type engagement counts as a
    * k-item instrument (subjects = users): is "user activity" one
    * coherent trait across types, the reliability pre-check before
    * collapsing them into a single engagement score
    * ([[graft.ops.Stats.cronbachAlphaMicro]]).
    */
  def cronbachEngagement(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.cronbachAlphaMicro(
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c")),
      "user_id", "event_type", "c")

  /** Daily category-concentration HHI (q206): Σ share² of each day's
    * category mix in ppm — the market-concentration number next to
    * q189's exposure Gini (HHI weights the HEAD quadratically, Gini
    * the whole curve). Pure integer: Σc² and T are exact, one floor
    * division per day.
    */
  def dailyCategoryHhi(s: SparkSession, d: String): DataFrame =
    Pipeline.enrichedEvents(s, d)
      .groupBy(expr("epoch_s div 86400").as("day"), col("category_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("n_categories"),
        sum(col("c")).as("total"),
        sum(col("c") * col("c")).as("sum_sq"))
      .withColumn("hhi_ppm", expr("sum_sq * 1000000 div (total * total)"))
      .orderBy(col("day"))

  /** Hill tail-index (q207) of item popularity: how heavy is the head
    * of the item-frequency distribution, as ONE number next to q81's
    * Zipf histogram — top-201 order statistics, nano-quantized ln
    * contributions, integer α ([[graft.ops.Stats.hillTailAlphaMicro]]).
    */
  def hillPopularityTail(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.hillTailAlphaMicro(
      Pipeline.enrichedEvents(s, d)
        .groupBy(col("item_id"))
        .agg(count(lit(1)).as("c")),
      "item_id", "c", m = 200)

  /** Kaplan–Meier return-survival curve (q209) over between-session
    * gaps, weekly grain: S(w) = Π_{j≤w}(n_j − d_j)/n_j — the
    * cumulative "still away after w weeks" probability whose per-step
    * hazard q198 reports at day grain. Gaps longer than the 5-week
    * horizon stay at risk through every shown week (right-truncated
    * horizon, not censoring — every gap here is complete). The
    * 5-bucket product unrolls as chained exact ppm floor divisions
    * (each step quantizes to ppm — the documented contract), NULL from
    * the first empty risk set on. Output: one row per week 0–4
    * `(week, n_at_risk, n_died, surv_ppm)`.
    */
  def kaplanMeierReturns(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val starts = Pipeline.sessionizedEvents(s, d)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("epoch_s")).as("start_s"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("start_s"), col("session_id"))
    val weeks = starts
      .withColumn("next_s", lead(col("start_s"), 1).over(w))
      .filter(col("next_s").isNotNull)
      .select(expr("(next_s - start_s) div 86400 div 7").as("wk"))
    val aggs = (0 to 4).map(j => Ag.countIf(col("wk") === j).as(s"d$j"))
    val base = weeks
      .agg(count(lit(1)).as("n_total"), aggs: _*)
      .withColumn("n0", col("n_total"))
    val withRisk = (1 to 4).foldLeft(base) { (df, j) =>
      df.withColumn(s"n$j", col(s"n${j - 1}") - col(s"d${j - 1}"))
    }
    val withSurv = (0 to 4).foldLeft(withRisk) { (df, j) =>
      val prev = if (j == 0) "1000000" else s"s${j - 1}"
      df.withColumn(s"s$j",
        expr(s"CASE WHEN n$j = 0 THEN NULL ELSE $prev * (n$j - d$j) div n$j END"))
    }
    withSurv.selectExpr(
      "stack(5, " + (0 to 4).map(j =>
        s"CAST($j AS BIGINT), n$j, d$j, s$j").mkString(", ") +
        ") AS (week, n_at_risk, n_died, surv_ppm)")
  }

  /** Isotonic purchase-rate calibration (q210) over the q203 price
    * bands: the PAVA monotone fit on top of the raw per-band rates —
    * what q136's calibration report feeds into before scores ship
    * ([[graft.ops.Stats.isotonicFitPpm]]).
    */
  def isotonicPriceCalibration(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.isotonicFitPpm(
      Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(
          least(expr("cast(round(value * 100) as bigint) div 5000"), lit(9L))
            .as("band"),
          (col("event_type") === "purchase").cast("long").as("succ"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_i"), sum(col("succ")).as("s_i")),
      "band", "n_i", "s_i")
      .orderBy(col("band"))

  /** Intra-list diversity (q212) of the top-10 covis recommendation
    * lists: the fraction of recommended PAIRS that cross categories —
    * 1 − Σ_c C(m_c,2)/C(n,2), computed line-rate from the per-category
    * multiplicities (never materializing the k² pairs; at k = 10
    * that's algebra, at k = 1000 it's the difference between a scan
    * and a join). The accuracy metrics (q112/q135/q138) say the list
    * is RIGHT; ILD says it isn't ten shades of the same item. Sources
    * with < 2 recommendations have no pairs and drop.
    */
  def intraListDiversity(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val directed = Joins.covisSymmetricDirected(
      enriched.select(col("session_id"), col("item_id")),
      "session_id", "item_id", minCount = 2L)
    Windows
      .topKPerGroup(directed, Seq("src"), col("pair_count"), Seq("dst"), k = 10)
      .select(col("src"), (col("dst") % 20).as("cat"))
      .groupBy(col("src"), col("cat"))
      .agg(count(lit(1)).as("m"))
      .groupBy(col("src"))
      .agg(
        sum(col("m")).as("n_recs"),
        sum(expr("m * (m - 1) div 2")).as("same_pairs"))
      .filter(col("n_recs") >= 2)
      .withColumn(
        "ild_ppm",
        expr("""(n_recs * (n_recs - 1) div 2 - same_pairs) * 1000000
               | div (n_recs * (n_recs - 1) div 2)""".stripMargin))
      .orderBy(col("src"))
  }

  /** Two-sample Q–Q decile table (q213): purchase vs view order values
    * at matching ppm ranks 100k..900k — WHERE the distributions
    * diverge, decile by decile (q154's KS collapses it to one max
    * gap). Order-statistic ranks are pure integer ppm math
    * (`(n·ppm + 999999) div 1e6` on BOTH sides — the suite's
    * ceil-avoidance rule), values emit in cents. One sharded
    * cumulative pass + a 9-row broadcast rank attach per side.
    */
  def qqDeciles(s: SparkSession, d: String): DataFrame = {
    val counts = purchaseViewSupport(s, d)
    val totals = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val cums = graft.core.Caches.cache(
      valueSupportCums(counts)
        .select(
          expr("cast(round(value * 100) as bigint)").as("cents"),
          col("cum_ca"), col("cum_cb")))
    val ranks = totals
      .select(
        explode(array((1 to 9).map(i => lit(i * 100000L)): _*)).as("ppm"),
        col("na"), col("nb"))
      .withColumn("rank_a", expr("(na * ppm + 999999) div 1000000"))
      .withColumn("rank_b", expr("(nb * ppm + 999999) div 1000000"))
    val qa = cums
      .join(broadcast(ranks), col("cum_ca") >= col("rank_a"))
      .groupBy(col("ppm"))
      .agg(min(col("cents")).as("purchase_cents"))
    val qb = cums
      .join(broadcast(ranks), col("cum_cb") >= col("rank_b"))
      .groupBy(col("ppm"))
      .agg(min(col("cents")).as("view_cents"))
    qa.join(qb, Seq("ppm"))
      .withColumn("gap_cents", col("purchase_cents") - col("view_cents"))
      .orderBy(col("ppm"))
  }

  /** Tukey-fence outlier counts (q214) per event type: Q1/Q3 at ppm
    * ranks 250k/750k off the count-compressed cents support, fences at
    * ±1.5·IQR kept integer by DOUBLING (lo2 = 2Q1 − 3·IQR), and the
    * outlier counts by weighted conditional sums — the box-plot
    * complement to q114's MAD outliers (MAD scores each row; fences
    * COUNT the tail mass per segment).
    */
  def tukeyOutliers(s: SparkSession, d: String): DataFrame = {
    // referenced THREE times (cumsum, totals broadcast, final tail
    // count) — cached or the events scan+agg replays per consumer
    val sup = graft.core.Caches.cache(Tables.events(s, d)
      .select(
        col("event_type"), expr("cast(round(value * 100) as bigint)").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("c")))
    val cums = Windows.shardedCumsumBy(
      sup, Seq("event_type"), "cents", Seq("c"), expr("cents div 5000"))
    val tot = sup.groupBy(col("event_type")).agg(sum(col("c")).as("n"))
    val joined = graft.core.Caches.cache(cums.join(broadcast(tot), Seq("event_type")))
    def orderStat(ppm: Long, name: String) = joined
      .filter(col("cum_c") >= expr(s"(n * $ppm + 999999) div 1000000"))
      .groupBy(col("event_type"), col("n"))
      .agg(min(col("cents")).as(name))
    val fences = orderStat(250000L, "q1_cents")
      .join(orderStat(750000L, "q3_cents"), Seq("event_type", "n"))
      .withColumn("lo2", col("q1_cents") * 2 - (col("q3_cents") - col("q1_cents")) * 3)
      .withColumn("hi2", col("q3_cents") * 2 + (col("q3_cents") - col("q1_cents")) * 3)
    sup
      .join(broadcast(fences), Seq("event_type"))
      .groupBy(col("event_type"), col("n"), col("q1_cents"), col("q3_cents"))
      .agg(
        sum(when(col("cents") * 2 < col("lo2"), col("c")).otherwise(0L)).as("n_low"),
        sum(when(col("cents") * 2 > col("hi2"), col("c")).otherwise(0L)).as("n_high"))
      .orderBy(col("event_type"))
  }

  /** Community purity (q215): how well the q157 covis label-prop
    * communities line up with the item CATEGORY dimension — Σ_comm
    * max_cat |comm ∩ cat| / N, the external clustering evaluation that
    * needs no ln at all (max over exact integer cell counts; the NMI
    * sibling trades this exactness for symmetry). Purity 1 = every
    * community is category-pure; 1/k = no alignment.
    */
  def communityPurity(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val pairs = Joins.covisitationPairs(
      enriched.select(col("session_id"), col("item_id")),
      "session_id", "item_id", minCount = 2L)
    val labels = graft.ops.Graph.labelPropagation(pairs, "item_a", "item_b", rounds = 4)
    labels
      .select(col("id"), col("label"), (col("id") % 20).as("cat"))
      .groupBy(col("label"), col("cat"))
      .agg(count(lit(1)).as("m"))
      .groupBy(col("label"))
      .agg(sum(col("m")).as("sz"), max(col("m")).as("top"))
      .agg(
        count(lit(1)).as("n_communities"),
        sum(col("sz")).as("n_items"),
        sum(col("top")).as("top_mass"))
      .withColumn("purity_ppm", expr("top_mass * 1000000 div n_items"))
  }

  /** Partial autocorrelation at lag 2 (q216), Durbin–Levinson closed
    * form φ₂₂ = (ρ₂ − ρ₁²)/(1 − ρ₁²) on the daily-count series — is
    * the lag-2 dependence REAL structure or just lag-1 echoed twice
    * (q162 reports raw ρ₂, which conflates the two)? Built from the
    * exact integer centered moments of the q162 contract (num₁, num₂,
    * den); the ratio chain runs in doubles (den² would overflow int64)
    * written identically in the oracle, NULL when den = 0 or |ρ₁| = 1.
    */
  def pacfLag2(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(count(lit(1)).as("x"))
      .transform(graft.core.Caches.cache)
    val totals = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val den = daily.crossJoin(broadcast(totals))
      .agg(sum(expr("(n * x - sx) * (n * x - sx)")).as("den"))
    def num(lag: Int) = daily
      .crossJoin(broadcast(totals))
      .join(
        daily.select(col("day").as("day2"), col("x").as("x2")),
        col("day2") === col("day") + lag)
      .agg(sum(expr("(n * x - sx) * (n * x2 - sx)")).as(s"num$lag"))
    totals
      .crossJoin(broadcast(num(1)))
      .crossJoin(broadcast(num(2)))
      .crossJoin(broadcast(den))
      .select(col("n"), col("num1"), col("num2"), col("den"))
      .withColumn("pacf2_micro", expr(
        """CASE WHEN den = 0
          |   OR cast(num1 as double) * cast(num1 as double)
          |      = cast(den as double) * cast(den as double) THEN NULL
          | ELSE CAST(round(
          |   (cast(num2 as double) / cast(den as double)
          |    - (cast(num1 as double) / cast(den as double))
          |      * (cast(num1 as double) / cast(den as double)))
          |   / (1.0 - (cast(num1 as double) / cast(den as double))
          |      * (cast(num1 as double) / cast(den as double)))
          |   * 1000000) AS BIGINT) END""".stripMargin))
  }

  /** Recommendation novelty (q217): mean self-information
    * ln(N/popularity) of each top-10 covis list — q212's ILD says the
    * list isn't self-similar; novelty says it isn't just the head of
    * the catalog (popularity bias, the known covis failure mode).
    * Per-item information is nano-quantized before the exact sum (the
    * suite's ln rule); the list mean is one integer floor division.
    */
  def recNovelty(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val directed = Joins.covisSymmetricDirected(
      enriched.select(col("session_id"), col("item_id")),
      "session_id", "item_id", minCount = 2L)
    val pop = enriched.groupBy(col("item_id")).agg(count(lit(1)).as("c"))
    val tot = pop.agg(sum(col("c")).as("n_tot"))
    val info = pop
      .crossJoin(broadcast(tot))
      .select(
        col("item_id").as("dst"),
        round(log(col("n_tot").cast("double") / col("c").cast("double")) *
          lit(1000000000L)).cast("long").as("info_nano"))
    Windows
      .topKPerGroup(directed, Seq("src"), col("pair_count"), Seq("dst"), k = 10)
      .join(broadcast(info), Seq("dst"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_recs"), sum(col("info_nano")).as("info_sum_nano"))
      .withColumn("novelty_nano", expr("info_sum_nano div n_recs"))
      .orderBy(col("src"))
  }

  /** A-ES weighted sample (q218): 100 items drawn without replacement
    * with probability proportional to popularity —
    * [[graft.ops.Sampling.weightedSampleTopK]] over the item count
    * table (q45's hash sample is UNIFORM; training mixtures usually
    * want popularity- or quality-weighted draws).
    */
  def weightedItemSample(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.weightedSampleTopK(
      Pipeline.enrichedEvents(s, d)
        .groupBy(col("item_id"))
        .agg(count(lit(1)).as("c")),
      "item_id", "c", k = 100)

  /** Two-proportion z test (q219): weekend vs weekday purchase rate
    * among purchase+view events — the unpaired A/B workhorse
    * (q185's McNemar needs PAIRED outcomes; this is the independent-
    * groups form). Four exact integer cells, one shared chain
    * ([[graft.ops.Stats.twoPropZSql]]).
    */
  def weekendPurchaseZ(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "view"))
      .select(
        expr("CASE WHEN (unix_timestamp(ts) div 86400 + 3) % 7 >= 5 THEN 1 ELSE 0 END")
          .as("wknd"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("succ"))
      .agg(
        sum(col("wknd")).as("n1"),
        sum(col("wknd") * col("succ")).as("r1"),
        sum(lit(1L) - col("wknd")).as("n2"),
        sum((lit(1L) - col("wknd")) * col("succ")).as("r2"))
      .withColumn("z_micro", expr(graft.ops.Stats.twoPropZSql))

  /** Mann–Kendall trend test (q220) on daily purchase volume — the
    * significance half of q159's Theil–Sen slope (same pair
    * enumeration; MK says whether the drift is real, Theil–Sen how
    * steep) ([[graft.ops.Stats.mannKendallMicro]]).
    */
  def mannKendallDaily(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.mannKendallMicro(
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
        .agg(count(lit(1)).as("x")),
      "day", "x")

  /** Wald–Wolfowitz runs test (q221) on daily total volume vs its
    * median — do high and low days clump into regimes or interleave
    * randomly ([[graft.ops.Stats.runsTestMicro]]; q204's DW asks this
    * of magnitudes, the runs test of bare signs).
    */
  def runsTestDaily(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.runsTestMicro(
      Tables.events(s, d)
        .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
        .agg(count(lit(1)).as("x")),
      "day", "x", expr("x div 64"))

  /** Bradley–Terry item strengths (q222) from session transitions —
    * each a→b hop read as "b preferred over a", aggregated into one
    * global strength ranking by 2 exact MM iterations
    * ([[graft.ops.Graph.bradleyTerryMicro]]): the preference-
    * aggregation primitive behind Elo and RLHF reward data. Top 20 by
    * (strength, item).
    */
  def bradleyTerryItems(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val trans = Windows.transitionCounts(
      enriched, "session_id",
      Seq(col("epoch_s").asc, col("event_id").asc), "item_id")
      .filter(col("item_a") =!= col("item_b"))
    graft.ops.Graph
      .bradleyTerryMicro(
        trans.select(
          col("item_b").as("win"), col("item_a").as("lose"),
          col("transition_count")),
        "win", "lose", "transition_count", iters = 2)
      .orderBy(col("s_micro").desc, col("id").asc)
      .limit(20)
      .select(col("id").as("item_id"), col("s_micro"))
  }

  /** One-way ANOVA F (q223) of daily volume across day-of-week groups
    * — "is there a weekly seasonality in MEANS" as a parametric test
    * (q202's Friedman ranks within day blocks; this pools across
    * weeks), sharing the q201 cell templates exactly
    * ([[graft.ops.Stats.anovaFMicro]]).
    */
  def anovaDowVolume(s: SparkSession, d: String): DataFrame =
    graft.ops.Stats.anovaFMicro(
      Tables.events(s, d)
        .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
        .agg(count(lit(1)).as("x"))
        .select(expr("(day + 3) % 7").as("dow"), col("x")),
      "x", "dow")

  /** Chapman capture–recapture estimate (q224) of the active-item
    * population: items "captured" in the first half of the period,
    * "recaptured" in the second — N̂ = (n₁+1)(n₂+1)/(m+1) − 1
    * estimates how many items EXIST including the never-observed tail
    * (the catalog-size question a plain COUNT DISTINCT can't answer).
    * Pure integer end-to-end.
    */
  def captureRecapture(s: SparkSession, d: String): DataFrame = {
    val enr = Pipeline.enrichedEvents(s, d)
      .select(col("item_id"), expr("epoch_s div 86400").as("day"))
    val mid = enr.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    enr
      .crossJoin(broadcast(mid))
      .groupBy(col("item_id"))
      .agg(
        max(when(col("day") < col("mid"), 1L).otherwise(0L)).as("in1"),
        max(when(col("day") >= col("mid"), 1L).otherwise(0L)).as("in2"))
      .agg(
        sum(col("in1")).as("n1"),
        sum(col("in2")).as("n2"),
        sum(col("in1") * col("in2")).as("m"))
      .withColumn("n_hat", expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1"))
  }

  /** Jackknife variance (q225) of the mean purchase value, days as
    * deletion blocks: leave-one-day-out pseudo-estimates θ₍ᵢ₎ =
    * (S−sᵢ)/(N−nᵢ) micro-quantized per day (the per-cell rule), then
    * exact integer variance — the honest standard error for a metric
    * whose rows CLUSTER within days (the iid bootstrap q121 understates
    * day-level correlation). Output: one row
    * `(n_days, theta_micro, var_jack_micro2, se_micro)`.
    */
  def jackknifeDailyMean(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(
        count(lit(1)).as("ni"),
        sum(expr("cast(round(value * 100) as bigint)")).as("si"))
      .transform(graft.core.Caches.cache)
    val tot = daily.agg(
      count(lit(1)).as("n_days"), sum(col("ni")).as("nn"), sum(col("si")).as("ss"))
    val thetas = daily
      .crossJoin(broadcast(tot))
      .filter(col("nn") > col("ni"))
      .select(
        col("n_days"), col("nn"), col("ss"),
        expr("""CAST(round(CAST(ss - si AS DOUBLE) / CAST(nn - ni AS DOUBLE)
               | * 1000000) AS BIGINT)""".stripMargin).as("theta_i"))
      .transform(graft.core.Caches.cache)
    val mean = thetas.agg(expr("sum(theta_i) div count(1)").as("theta_bar"))
    thetas
      .crossJoin(broadcast(mean))
      .groupBy(col("n_days"), col("nn"), col("ss"))
      .agg(sum((col("theta_i") - col("theta_bar"))
        * (col("theta_i") - col("theta_bar"))).as("sdev2"))
      .select(
        col("n_days"),
        expr("ss * 1000000 div nn").as("theta_micro"),
        expr("(n_days - 1) * sdev2 div n_days").as("var_jack_micro2"))
      .withColumn("se_micro",
        expr("CAST(round(sqrt(CAST(var_jack_micro2 AS DOUBLE))) AS BIGINT)"))
  }

  /** Markov entropy rate (q226) of the session transition chain:
    * Σᵢ πᵢ·Hᵢ / Σᵢ πᵢ with πᵢ the damped stationary mass (the q87
    * 2-iteration PageRank contract) and Hᵢ the per-state next-hop
    * entropy — ONE number for "how predictable is the next item
    * overall" (q145 reports per-state entropies; this weights them by
    * how often sessions actually sit in each state). Per-edge entropy
    * cells are micro-quantized before the exact sums.
    */
  def entropyRate(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val trans = Windows.transitionCounts(
      enriched, "session_id",
      Seq(col("epoch_s").asc, col("event_id").asc), "item_id")
      .transform(graft.core.Caches.cache)
    val pr = graft.ops.Graph.pagerankMicro(
      trans, "item_a", "item_b", "transition_count", iters = 2,
      broadcastRanks = true)
    val outw = trans.groupBy(col("item_a")).agg(sum(col("transition_count")).as("out_w"))
    val h = trans
      .join(outw, Seq("item_a"))
      .select(
        col("item_a").as("id"),
        expr("""CAST(round(
               |  CAST(transition_count AS DOUBLE) / CAST(out_w AS DOUBLE)
               |  * ln(CAST(out_w AS DOUBLE) / CAST(transition_count AS DOUBLE))
               |  * 1000000) AS BIGINT)""".stripMargin).as("cell_micro"))
      .groupBy(col("id"))
      .agg(sum(col("cell_micro")).as("h_micro"))
    pr
      .join(h, Seq("id"), "left")
      .na.fill(0L, Seq("h_micro"))
      .agg(
        count(lit(1)).as("n_states"),
        sum(col("pr_micro")).as("pr_total"),
        sum(col("pr_micro") * col("h_micro")).as("wh"))
      .withColumn("rate_micro", expr("wh div pr_total"))
      .select(col("n_states"), col("pr_total"), col("rate_micro"))
  }

  /** Normalized mutual information (q227) between the q157 covis
    * communities and the category dimension — q215's purity rewards
    * shattering (singleton communities are trivially pure); NMI
    * penalizes it by normalizing shared information against both
    * marginal entropies. Per-cell MI and entropy contributions are
    * nano-quantized before the exact sums (the suite's ln rule);
    * NMI = 2·MI/(H_comm + H_cat) is the one final chain.
    */
  def communityNmi(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val pairs = Joins.covisitationPairs(
      enriched.select(col("session_id"), col("item_id")),
      "session_id", "item_id", minCount = 2L)
    // EAGER materialization, not a lazy cache: cells fans out into the
    // mi/hc/ht BROADCAST jobs, which Spark builds concurrently — with a
    // lazy cache each of them races to compute the LPA subtree
    // redundantly (measured 21 s vs ~6 s at sf0.1)
    val cells = graft.ops.Graph.labelPropagation(pairs, "item_a", "item_b", rounds = 4)
      .select(col("id"), col("label"), (col("id") % 20).as("cat"))
      .groupBy(col("label"), col("cat"))
      .agg(count(lit(1)).as("nij"))
      .localCheckpoint(true)
    val nTot = cells.agg(sum(col("nij")).as("n"))
    val rows = cells.groupBy(col("label")).agg(sum(col("nij")).as("ni"))
      .transform(graft.core.Caches.cache)
    val cols = cells.groupBy(col("cat")).agg(sum(col("nij")).as("nj"))
      .transform(graft.core.Caches.cache)
    val mi = cells
      .join(broadcast(rows), Seq("label"))
      .join(broadcast(cols), Seq("cat"))
      .crossJoin(broadcast(nTot))
      .select(expr(
        """CAST(round(CAST(nij AS DOUBLE) / CAST(n AS DOUBLE)
          | * ln(CAST(n AS DOUBLE) * CAST(nij AS DOUBLE)
          |      / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE)))
          | * 1000000000) AS BIGINT)""".stripMargin).as("cell"))
      .agg(sum(col("cell")).as("mi_nano"))
    def marginalH(m: DataFrame, c: String, out: String) = m
      .crossJoin(broadcast(nTot))
      .select(expr(
        s"""CAST(round(CAST($c AS DOUBLE) / CAST(n AS DOUBLE)
           | * ln(CAST(n AS DOUBLE) / CAST($c AS DOUBLE))
           | * 1000000000) AS BIGINT)""".stripMargin).as("cell"))
      .agg(sum(col("cell")).as(out))
    val hc = marginalH(rows, "ni", "h_comm_nano")
    val ht = marginalH(cols, "nj", "h_cat_nano")
    nTot.select(col("n").as("n_items"))
      .crossJoin(broadcast(mi))
      .crossJoin(broadcast(hc))
      .crossJoin(broadcast(ht))
      .withColumn("nmi_micro", expr(
        """CASE WHEN h_comm_nano + h_cat_nano = 0 THEN NULL
          | ELSE CAST(round(2.0 * CAST(mi_nano AS DOUBLE)
          |   / CAST(h_comm_nano + h_cat_nano AS DOUBLE) * 1000000) AS BIGINT) END"""
          .stripMargin))
  }

  /** Effective sample size (q228) of the q166 IPS position weights on
    * click events: ESS = (Σw)²/Σw² — how many UNWEIGHTED clicks the
    * reweighted estimator is really worth (a tiny ESS/n ratio means a
    * few deep-position clicks dominate and the IPS estimate is noise,
    * the check that belongs next to every q166 readout).
    */
  def ipsEffectiveSampleSize(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("session_id"))
      .orderBy(col("epoch_s"), col("event_id"))
    Pipeline.enrichedEvents(s, d)
      .filter(col("event_type").isin("view", "click"))
      .withColumn("pos", least(row_number().over(w).cast("long"), lit(10L)))
      .filter(col("event_type") === "click")
      .agg(
        count(lit(1)).as("n"),
        sum(col("pos")).as("sw"),
        sum(col("pos") * col("pos")).as("sw2"))
      .withColumn("ess", expr("sw * sw div sw2"))
      .withColumn("ess_ratio_micro", expr(
        """CAST(round(CAST(sw * sw AS DOUBLE) / CAST(sw2 AS DOUBLE)
          | / CAST(n AS DOUBLE) * 1000000) AS BIGINT)""".stripMargin))
  }

  /** One-step SES forecast (q229) of daily purchase revenue at α = 0.3:
    * tomorrow ≈ Σᵢ w_i·y_{T−i} with the geometric weights precomputed
    * as nano literals ([[graft.ops.Stats.sesWeightsNano]] — no runtime
    * pow() on either side) and normalized by the INCLUDED weight mass,
    * so missing days and the 30-day window self-correct. The smoothing
    * complement to q163's MASE (which EVALUATES a forecast; this one
    * makes it).
    */
  def sesForecast(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("y"))
    val tmax = daily.agg(max(col("day")).as("tmax"))
    val wt = graft.ops.Stats.sesWeightsNano().toDF("lag_d", "w_nano")
    daily
      .crossJoin(broadcast(tmax))
      .withColumn("lag_d", col("tmax") - col("day"))
      .join(broadcast(wt), Seq("lag_d"))
      .agg(
        count(lit(1)).as("n_terms"),
        sum(col("w_nano") * col("y")).as("wsum_nano"),
        sum(col("w_nano")).as("w_mass_nano"))
      .withColumn("forecast_cents", expr("wsum_nano div w_mass_nano"))
  }

  /** Holt linear-trend forecast of daily purchase revenue (q246) — the
    * trend-aware step up from [[sesForecast]]'s flat SES. The level and
    * trend recursions are unrolled to FIXED nano coefficient literals
    * over a zero-filled 28-day window anchored at the latest day
    * ([[graft.ops.Stats.holtCoeffsNano]]): both engines evaluate the
    * identical linear combination — no runtime recursion, no libm.
    * Output (one row): level_micro, trend_micro (cents ×1e6), and the
    * 1/7-step-ahead forecasts l + h·b.
    */
  def holtForecast(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("y"))
    val tmax = daily.agg(max(col("day")).as("tmax"))
    val co = graft.ops.Stats.holtCoeffsNano().toDF("lag_d", "cl_nano", "ct_nano")
    val lagged = daily
      .crossJoin(broadcast(tmax))
      .select((col("tmax") - col("day")).as("lag_d"), col("y"))
    co.join(lagged, Seq("lag_d"), "left")
      .agg(
        sum(col("cl_nano") * coalesce(col("y"), lit(0L))).as("level_nano"),
        sum(col("ct_nano") * coalesce(col("y"), lit(0L))).as("trend_nano"))
      .select(
        expr("level_nano div 1000").as("level_micro"),
        expr("trend_nano div 1000").as("trend_micro"),
        expr("(level_nano + 1 * trend_nano) div 1000").as("f1_micro"),
        expr("(level_nano + 7 * trend_nano) div 1000").as("f7_micro"))
  }

  /** Sample-ratio-mismatch check (q230): is the md5 variant split
    * (the q158 assignment) statistically 50/50 — χ²₁ = (n₀−n₁)²/N as
    * one exact integer, flagged against the 3.84 critical value. The
    * first thing to check before reading ANY A/B result; a failed SRM
    * invalidates the experiment regardless of its p-value.
    */
  def srmCheck(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id")).distinct()
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2)
      .agg(
        Ag.countIf(col("variant") === 0).as("n0"),
        Ag.countIf(col("variant") === 1).as("n1"))
      .withColumn("chi2_micro",
        expr("(n0 - n1) * (n0 - n1) * 1000000 div (n0 + n1)"))
      .withColumn("srm_flag", (col("chi2_micro") > 3841459L).cast("long"))

  /** Neyman optimal allocation (q231): split a 10 000-row sampling
    * budget across the event-type strata ∝ N_h·S_h (stratum size ×
    * spread) — the survey-sampling rule that beats proportional
    * allocation whenever strata variances differ. Per-stratum SD is
    * rounded to whole CENTS (the per-cell quantization, and it keeps
    * N_h·sd·10000 inside int64); the allocation is one floor division
    * per stratum.
    */
  def neymanAllocation(s: SparkSession, d: String): DataFrame = {
    val perStratum = Tables.events(s, d)
      .select(col("event_type"), expr("cast(round(value * 100) as bigint)").as("cents"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_h"),
        sum(col("cents")).as("s_h"),
        sum(col("cents") * col("cents")).as("ss_h"))
      .withColumn("sd_cents", expr(
        """CASE WHEN n_h < 2 THEN 0
          | ELSE CAST(round(sqrt(
          |   (CAST(ss_h AS DOUBLE) - CAST(s_h AS DOUBLE) * CAST(s_h AS DOUBLE) / CAST(n_h AS DOUBLE))
          |   / CAST(n_h - 1 AS DOUBLE))) AS BIGINT) END""".stripMargin))
      .withColumn("mass", col("n_h") * col("sd_cents"))
      .transform(graft.core.Caches.cache)
    val tot = perStratum.agg(sum(col("mass")).as("mass_total"))
    perStratum
      .crossJoin(broadcast(tot))
      .select(
        col("event_type"), col("n_h"), col("sd_cents"),
        expr("""CASE WHEN mass_total = 0 THEN 0
               | ELSE mass * 10000 div mass_total END""".stripMargin).as("alloc_10k"))
      .orderBy(col("event_type"))
  }

  /** A/B power calculation (q232): the per-arm sample size needed to
    * detect a +1pp absolute lift on the observed purchase rate at
    * α = 0.05 / power 0.8 — n = (z_{.975}+z_{.8})²·2p̄(1−p̄)/δ², with
    * the z constants as micro literals (no runtime quantile function
    * on either side). The planning half of the q219 test.
    */
  def abPowerSampleSize(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "view"))
      .agg(
        count(lit(1)).as("n"),
        Ag.countIf(col("event_type") === "purchase").as("r"))
      .withColumn("p_ppm", expr("r * 1000000 div n"))
      .withColumn("n_per_arm", expr(
        """CASE WHEN r = 0 OR r = n THEN NULL
          | ELSE CAST(round(2.801585 * 2.801585 * 2.0
          |   * (CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
          |   * (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
          |   / (0.01 * 0.01)) AS BIGINT) END""".stripMargin))

  /** Profile drift (q237): first-half vs second-half data-quality
    * profile of the event stream — row volume, distinct users/items,
    * null-item rate, mean order cents — the "did the upstream feed
    * silently change shape" audit that q94's static rules and q118's
    * single-feature PSI bracket from either side. One fact pass of
    * conditional aggregates, unpivoted to one row per metric.
    */
  def profileDrift(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(
        expr("unix_timestamp(ts) div 86400").as("day"),
        col("user_id"),
        expr("try_cast(get_json_object(props, '$.k') as bigint)").as("item_id"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      // three consumers below (mid, the distinct unpivot, the counts
      // agg) — checkpoint the parsed projection once (single-parse rule)
      .localCheckpoint(true)
    val mid = ev.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    def side(pred: org.apache.spark.sql.Column, tag: String) = Seq(
      Ag.countIf(pred).as(s"n_rows_$tag"),
      sum(when(pred && col("item_id").isNull, 1L).otherwise(0L)).as(s"n_null_$tag"),
      sum(when(pred, col("cents")).otherwise(0L)).as(s"s_cents_$tag"))
    val h1 = col("day") < col("mid")
    val aggs = side(h1, "a") ++ side(!h1, "b")
    // distinct users/items per half via unpivot + ONE single-distinct
    // aggregation, NOT four countDistincts in one agg — the
    // multi-distinct rewrite's Expand layout is hash-ordered and
    // plan-text nondeterministic (breaks the bench fingerprint). The
    // (kind, half)-keyed distinct is the same fan-out the Expand
    // would have paid, with a deterministic plan.
    val dist = ev.crossJoin(broadcast(mid))
      .withColumn("is_a", h1)
      .select(
        expr("stack(2, 'u', cast(user_id as string), 'i', cast(item_id as string)) as (kind, v)"),
        col("is_a"))
      .filter(col("v").isNotNull)
      .groupBy(col("kind"), col("is_a"))
      .agg(count_distinct(col("v")).as("nd"))
      .agg(
        // a global agg over ZERO groups sums to NULL — coalesce keeps
        // the empty-corpus contract at 0 like countDistinct would
        coalesce(sum(when(col("kind") === "u" && col("is_a"), col("nd")).otherwise(0L)), lit(0L)).as("n_users_a"),
        coalesce(sum(when(col("kind") === "u" && !col("is_a"), col("nd")).otherwise(0L)), lit(0L)).as("n_users_b"),
        coalesce(sum(when(col("kind") === "i" && col("is_a"), col("nd")).otherwise(0L)), lit(0L)).as("n_items_a"),
        coalesce(sum(when(col("kind") === "i" && !col("is_a"), col("nd")).otherwise(0L)), lit(0L)).as("n_items_b"))
    ev.crossJoin(broadcast(mid))
      .agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(dist))
      .withColumn("null_ppm_a", expr("n_null_a * 1000000 div n_rows_a"))
      .withColumn("null_ppm_b", expr("n_null_b * 1000000 div n_rows_b"))
      .withColumn("mean_cents_a", expr("s_cents_a div n_rows_a"))
      .withColumn("mean_cents_b", expr("s_cents_b div n_rows_b"))
      .selectExpr(
        """stack(5,
          | 'mean_cents', mean_cents_a, mean_cents_b,
          | 'n_items', n_items_a, n_items_b,
          | 'n_rows', n_rows_a, n_rows_b,
          | 'n_users', n_users_a, n_users_b,
          | 'null_item_ppm', null_ppm_a, null_ppm_b
          |) AS (metric, first_half, second_half)""".stripMargin)
  }

  /** Association-rule lift (q238) over session baskets: for the
    * supported covis pairs, lift = P(ab)/(P(a)P(b)) plus both
    * directional confidences — the market-basket numbers (q19 reports
    * raw co-counts; lift separates "popular with everything" from
    * genuinely associated). Same hub-capped distinct incidence and
    * support-2 pair contract as q19. Top 20 by (lift, pair). Exact
    * integers: c_ab·N·1e6 stays in int64 to ~3M baskets — the
    * bounded-basket adjudication.
    */
  def associationLift(s: SparkSession, d: String): DataFrame = {
    val di = Pipeline.enrichedEvents(s, d)
      .select(col("session_id"), col("item_id")).distinct()
      .localCheckpoint(true)
    val small = di.groupBy(col("session_id")).agg(count(lit(1)).as("sz"))
      .filter(col("sz") <= 200).select(col("session_id"))
    val dik = di.join(small, Seq("session_id"), "left_semi")
      .localCheckpoint(true)
    val pairs = Joins.covisitationPairsDistinct(
      dik, "session_id", "item_id", minCount = 2L,
      maxGroupSize = None, materialize = false)
    val ca = dik.groupBy(col("item_id")).agg(count(lit(1)).as("c"))
    val nb = dik.agg(countDistinct(col("session_id")).as("n_baskets"))
    pairs
      .join(broadcast(ca.select(col("item_id").as("item_a"), col("c").as("c_a"))),
        Seq("item_a"))
      .join(broadcast(ca.select(col("item_id").as("item_b"), col("c").as("c_b"))),
        Seq("item_b"))
      .crossJoin(broadcast(nb))
      .withColumn("lift_ppm",
        expr("pair_count * n_baskets * 1000000 div (c_a * c_b)"))
      .withColumn("conf_ab_ppm", expr("pair_count * 1000000 div c_a"))
      .withColumn("conf_ba_ppm", expr("pair_count * 1000000 div c_b"))
      .orderBy(col("lift_ppm").desc, col("item_a").asc, col("item_b").asc)
      .limit(20)
      .select(
        col("item_a"), col("item_b"), col("pair_count"), col("c_a"), col("c_b"),
        col("lift_ppm"), col("conf_ab_ppm"), col("conf_ba_ppm"))
  }

  /** Cohort LTV curves (q239): cumulative purchase revenue per signup
    * cohort (first-seen week) by week offset — the lifetime-value
    * triangle behind every retention-economics decision (q56 counts
    * WHO comes back; this accumulates what they SPEND). One fact pass
    * to the (user, week) grain (eagerly materialized — both sides of
    * the cohort join derive from it), then support-sized aggregations
    * and a sharded per-cohort cumulative.
    */
  def cohortLtv(s: SparkSession, d: String): DataFrame = {
    val perUserWeek = Tables.events(s, d)
      .select(
        col("user_id"),
        expr("unix_timestamp(ts) div 604800").as("week"),
        when(col("event_type") === "purchase",
          expr("cast(round(value * 100) as bigint)")).otherwise(0L).as("cents"))
      .groupBy(col("user_id"), col("week"))
      .agg(sum(col("cents")).as("cents"))
      .localCheckpoint(true)
    val cohorts = perUserWeek
      .groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
    val sized = cohorts.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_users"))
    val rev = perUserWeek
      .join(cohorts, Seq("user_id"))
      .groupBy(col("cohort"), (col("week") - col("cohort")).as("week_offset"))
      .agg(sum(col("cents")).as("cents"))
    Windows
      .shardedCumsumBy(rev, Seq("cohort"), "week_offset", Seq("cents"),
        expr("week_offset div 4"))
      .join(broadcast(sized), Seq("cohort"))
      .select(
        col("cohort"), col("week_offset"), col("cohort_users"),
        col("cum_cents"))
      .orderBy(col("cohort"), col("week_offset"))
  }

  /** DAU/MAU stickiness (q240): daily actives over rolling-30-day
    * actives in ppm — THE engagement ratio (q127's WAU is the volume
    * curve; stickiness is the habit metric investors quote). The
    * rolling distinct uses the q127 window-membership explode (a user
    * contributes to the 30 w_days after each active day, then one
    * distinct) — never a 30-day window state; truncated at the
    * period's start by construction.
    *
    * Scale note: the explode amplifies the (user, day) grain ×30 —
    * the suite's next shuffle cliff. Merged per-day HLL partials
    * ([[graft.ops.Sketches.hllMergeEstimate]]) would move the fan-out
    * to the sketch grain (days × 30 rows) at ±~2% MAU error; no
    * workload has reached the cliff, so the exact form is the only
    * implementation and the oracle contract.
    */
  def dauMauStickiness(s: SparkSession, d: String): DataFrame = {
    val du = Tables.events(s, d)
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
      .distinct()
      .localCheckpoint(true)
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val mau = du
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 29L)).as("w_day"))
      .distinct()
      .groupBy(col("w_day")).agg(count(lit(1)).as("mau"))
    dau
      .join(mau, col("day") === col("w_day"))
      .select(
        col("day"), col("dau"), col("mau"),
        expr("dau * 1000000 div mau").as("stickiness_ppm"))
      .orderBy(col("day"))
  }

  /** Price elasticity of demand (q241): slope of the log-log demand
    * curve — ln(purchases) regressed on ln(price) across $20 price
    * bands, the one-number "how much does demand fall when price
    * rises" economists ask for. Composes [[graft.ops.Stats.olsMicro]]
    * over MICRO-quantized logs (nano would push Σxy past int64; micro
    * keeps every OLS moment exact): slope_micro ≈ elasticity ×1e6
    * (unit-free, both axes in micro-logs), r2_micro says how
    * log-linear the curve actually is.
    */
  def priceElasticity(s: SparkSession, d: String): DataFrame = {
    val bands = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("cast(round(value * 100) as bigint) div 2000").as("band"))
      .agg(count(lit(1)).as("q"))
      .filter(col("band") >= 0)
      .select(
        expr("""cast(round(ln(cast(band * 2000 + 1000 as double))
               | * 1000000) as bigint)""".stripMargin).as("x"),
        expr("cast(round(ln(cast(q as double)) * 1000000) as bigint)").as("y"))
    graft.ops.Stats.olsMicro(bands, "x", "y")
  }

  /** New vs returning revenue split (q242): per day, order value from
    * users seen for the FIRST time that day vs from returners, with
    * the new-user revenue share — the acquisition-vs-retention revenue
    * mix every growth report opens with. First-seen day per user is
    * one fact-grain aggregation (eagerly materialized — it feeds both
    * sides of the day join), the split one conditional aggregation.
    */
  def newVsReturningRevenue(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(
        col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .localCheckpoint(true)
    val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    ev
      .join(firstDay, Seq("user_id"))
      .groupBy(col("day"))
      .agg(
        Ag.countIf(col("day") === col("first_day")).as("new_events"),
        sum(when(col("day") === col("first_day"), col("cents")).otherwise(0L))
          .as("new_cents"),
        sum(when(col("day") =!= col("first_day"), col("cents")).otherwise(0L))
          .as("returning_cents"))
      .withColumn(
        "new_share_ppm",
        expr("""CASE WHEN new_cents + returning_cents = 0 THEN NULL
               | ELSE new_cents * 1000000 div (new_cents + returning_cents) END"""
          .stripMargin))
      .orderBy(col("day"))
  }

  /** View-to-purchase conversion lag (q243): for every (user, item)
    * purchased after being viewed, the days between FIRST view and
    * FIRST subsequent purchase, as a day histogram — the funnel
    * LATENCY distribution (q60 counts who converts; this says how
    * long deliberation takes, the input to attribution windows).
    * One (user, item, type) aggregation, one support-sized join.
    */
  def conversionLag(s: SparkSession, d: String): DataFrame = {
    val ui = Pipeline.enrichedEvents(s, d)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("user_id"), col("item_id"), col("event_type"))
      .agg(min(col("epoch_s")).as("first_s"))
    val views = ui.filter(col("event_type") === "view")
      .select(col("user_id"), col("item_id"), col("first_s").as("view_s"))
    val buys = ui.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("item_id"), col("first_s").as("buy_s"))
    views
      .join(buys, Seq("user_id", "item_id"))
      .filter(col("buy_s") >= col("view_s"))
      .groupBy(expr("(buy_s - view_s) div 86400").as("lag_days"))
      .agg(count(lit(1)).as("n_conversions"))
      .orderBy(col("lag_days"))
  }

  /** SALSA hubs/authorities (q211) on the session transition graph —
    * q173's HITS with sending-side degree normalization, the
    * TKC-resistant variant: a mega-hub no longer floods its full mass
    * into every successor ([[graft.ops.Graph.salsaMicro]]). Top 20 by
    * (authority, hub, item).
    */
  def salsaTransitions(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val trans = Windows.transitionCounts(
      enriched, "session_id",
      Seq(col("epoch_s").asc, col("event_id").asc), "item_id")
    graft.ops.Graph
      .salsaMicro(trans, "item_a", "item_b", "transition_count", iters = 2)
      .orderBy(col("auth_micro").desc, col("hub_micro").desc, col("id").asc)
      .limit(20)
      .select(col("id").as("item_id"), col("hub_micro"), col("auth_micro"))
  }

  /** Popularity^0.75-weighted negative sampling (q291) — the word2vec
    * / contrastive-training standard (Mikolov et al. 2013 unigram^¾
    * noise distribution): tempering up-weights the tail so negatives
    * aren't only blockbusters, unlike q97's deterministic
    * top-popularity pool. Deterministic "randomness": draw r =
    * md5(user‖draw) mod Σw (the q181 walk convention), mapped through
    * exact cumulative-weight intervals; weights are micro-quantized
    * pow(cnt, 0.75) (quantize-before-cumsum, the transcendental rule).
    * Items the user actually interacted with are anti-joined out
    * (rejection WITHOUT redraw — a production sampler would redraw;
    * the contract keeps the first draw so the output is a pure
    * function of the corpus).
    *
    * Scale shape: popularity + cumsum are item-dimension tables
    * (sharded cumsum, no unpartitioned window); the interval lookup is
    * a broadcast range join against the item dim — the one table in
    * this schema that is broadcastable by construction. Draw
    * generation is row-local explode; the seen-filter is a line-rate
    * anti-join on (user, item).
    */
  def weightedNegatives(s: SparkSession, d: String): DataFrame = {
    // session-free item view: nothing here needs sessionization, and
    // enrichedEvents' user-key exchange was 100% of the 10M-event
    // probe's shuffle (224.9 MB -> ~0 after the swap). Eagerly
    // materialized 2-col projection: three consumers (popularity,
    // user list, seen pairs) would otherwise each re-run the JSON
    // item extraction over the full corpus (3 parses ≈ the whole
    // 65 s probe wall), and two of them sit under broadcasts.
    val enriched = Pipeline.itemEvents(s, d)
      .select(col("user_id"), col("item_id"))
      .localCheckpoint(true)
    val pop = enriched
      .groupBy(col("item_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("item_id"),
        expr("cast(round(pow(cnt, 0.75) * 1000000) as bigint)").as("w"))
    // item-dim-sized, eagerly materialized: cum feeds TWO broadcast
    // exchanges (total + the interval lookup), and shardedCumsum
    // itself evaluates its input twice — without this the popularity
    // groupBy re-scans the checkpointed corpus up to 4x.
    val cum = Windows
      .shardedCumsum(pop, "item_id", Seq("w"), expr("item_id div 64"))
      .select(
        col("item_id"), col("w"),
        (col("cum_w") - col("w")).as("lo"), col("cum_w").as("hi"))
      .localCheckpoint(true)
    val total = cum.agg(max(col("hi")).as("tot"))
    val draws = enriched
      .select(col("user_id")).distinct().filter(col("user_id") < 32)
      .crossJoin(broadcast(total))
      .select(
        col("user_id"),
        explode(sequence(lit(1L), lit(3L))).as("draw_idx"),
        col("tot"))
      .select(
        col("user_id"), col("draw_idx"),
        (conv(
          substring(md5(concat_ws("|", col("user_id"), col("draw_idx"))), 1, 15),
          16, 10).cast("long") % col("tot")).as("r"))
    // the anti-join only ever probes sampled users: filter BEFORE the
    // distinct or the seen-side shuffles the whole corpus's (user,
    // item) set (10M-event probe: 224.9 MB, mostly this distinct —
    // Spark does not infer the filter through a left_anti's right side)
    val seen = enriched
      .filter(col("user_id") < 32)
      .select(col("user_id"), col("item_id")).distinct()
    draws
      .join(broadcast(cum), col("r") >= col("lo") && col("r") < col("hi"))
      .join(seen, Seq("user_id", "item_id"), "left_anti")
      .select(
        col("user_id"), col("draw_idx"),
        col("item_id").as("neg_item"), col("w"))
  }

  /** Exact-integer F1 threshold sweep (q292) — the operating-point
    * picker next to q120's AUC (which is threshold-free): over the
    * same (cents-score, purchase-label) set, every distinct score is a
    * candidate threshold "predict positive if score ≥ t"; tp/fp come
    * from a sharded DESC cumsum, and precision/recall/F1 are PURE
    * INTEGER ppm (F1 = 2·tp / (2·tp + fp + fn) — no float anywhere).
    * Output: top-5 thresholds by (f1 DESC, threshold ASC).
    */
  def f1ThresholdSweep(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .select(
        round(col("value") * 100).cast("long").as("cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .groupBy(col("cents"))
      .agg(
        sum(col("y")).as("n_pos_c"),
        sum(lit(1L) - col("y")).as("n_neg_c"))
      // cumsum from the HIGHEST score down: order by the negated score
      .withColumn("neg_cents", -col("cents"))
    val cums = Windows.shardedCumsum(
      counts, "neg_cents", Seq("n_pos_c", "n_neg_c"), expr("neg_cents div 5000"))
    val totals = cums.agg(sum(col("n_pos_c")).as("n_pos"))
    cums
      .crossJoin(broadcast(totals))
      .select(
        col("cents").as("threshold_cents"),
        col("cum_n_pos_c").as("tp"),
        col("cum_n_neg_c").as("fp"),
        (col("n_pos") - col("cum_n_pos_c")).as("fn"))
      .select(
        col("threshold_cents"), col("tp"), col("fp"), col("fn"),
        expr("tp * 1000000 div (tp + fp)").as("precision_ppm"),
        expr("tp * 1000000 div (tp + fn)").as("recall_ppm"),
        expr("2 * tp * 1000000 div (2 * tp + fp + fn)").as("f1_ppm"))
      .orderBy(col("f1_ppm").desc, col("threshold_cents").asc)
      .limit(5)
  }

  /** Exact p^(d−1) weights for truncated RBO@10 at p = 0.9, micro
    * scale, truncating division: 9^(d−1)·10⁶ div 10^(d−1). Shared
    * with the q295 oracle (SparkEntry builds its VALUES list from this
    * Seq, so the two sides cannot drift) — the md5-constants pattern
    * for transcendental-free cross-engine exactness.
    */
  val rboPpowMicro: Seq[(Long, Long)] = Seq(
    1L -> 1000000L, 2L -> 900000L, 3L -> 810000L, 4L -> 729000L,
    5L -> 656100L, 6L -> 590490L, 7L -> 531441L, 8L -> 478296L,
    9L -> 430467L, 10L -> 387420L)

  /** Rank-Biased Overlap (q295; Webber et al. 2010) between two item
    * rankers — the standard top-weighted similarity of two rankings
    * (here: items by EVENT COUNT vs items by REVENUE — "do my two
    * popularity notions agree where it matters?"). Truncated RBO@10,
    * p = 0.9: per depth d,
    *   term_micro = overlap(d) · p^(d−1)·10⁶ div (10·d)
    * with overlap(d) = |top_d(A) ∩ top_d(B)| via each shared item's
    * max(rank_A, rank_B); Σ term_micro is the truncated RBO in micro.
    * All integers; the p powers are exact precomputed literals
    * ([[rboPpowMicro]]).
    *
    * Ranks are computed windowless (count-of-better self-join over the
    * 10-row top lists) so the no-unpartitioned-window pin holds
    * without an allowlist entry; both ranker aggregates read one
    * checkpointed item projection (one JSON parse).
    */
  def rboRankings(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val ev = Pipeline.itemEvents(s, d)
      .select(col("item_id"), expr("cast(round(value * 100) as bigint)").as("c"))
      .localCheckpoint(true)
    def ranked(metric: DataFrame, out: String): DataFrame = {
      val top = metric
        .orderBy(col("m").desc, col("item_id").asc)
        .limit(10)
        .localCheckpoint(true) // 10 rows; feeds both sides of the rank join
      top.as("a")
        .join(
          top.as("b"),
          col("b.m") > col("a.m") ||
            (col("b.m") === col("a.m") && col("b.item_id") < col("a.item_id")),
          "left")
        .groupBy(col("a.item_id").as("item_id"))
        .agg((count(col("b.item_id")) + 1L).as(out))
    }
    val ra = ranked(ev.groupBy(col("item_id")).agg(count(lit(1)).as("m")), "ra")
    val rb = ranked(ev.groupBy(col("item_id")).agg(sum(col("c")).as("m")), "rb")
    val joint = ra.join(rb, Seq("item_id"))
      .select(col("item_id"), greatest(col("ra"), col("rb")).as("dmin"))
    rboPpowMicro.toDF("d", "ppow_micro")
      .join(joint, col("dmin") <= col("d"), "left")
      .groupBy(col("d"), col("ppow_micro"))
      .agg(count(col("item_id")).as("overlap"))
      .select(
        col("d"), col("overlap"), col("ppow_micro"),
        expr("overlap * ppow_micro div (10 * d)").as("term_micro"))
      .orderBy(col("d"))
  }

  /** Pinball (quantile) loss of an expanding same-day-of-week
    * empirical-quantile forecast (q294) — the QUANTILE-forecast eval
    * next to q163's point-forecast MASE and q246's Holt: for each day,
    * forecast_τ = the τ-quantile of all PRIOR same-DOW daily revenues
    * (exact order statistic, rank = τ·(n−1) div 10⁶ + 1 — the q46
    * floor-rank pattern that cannot flip cross-engine), scored with
    * pinball loss in exact integer ppm-cents:
    * L_τ = max(τ·(y−f), (τ−10⁶)·(y−f)).
    *
    * Scale shape: the event scan collapses to DAY grain immediately
    * (calendar-bounded — this table cannot grow with traffic), so the
    * per-day history self-join is O(days²/7) on a tiny table; the day
    * table is checkpointed once for its two self-join sides.
    */
  def pinballEval(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = s
    import spark.implicits._
    val daily = Tables.events(s, d)
      .select(
        expr("unix_timestamp(ts) div 86400").as("day"),
        expr("cast(round(value * 100) as bigint)").as("c"))
      .groupBy(col("day"))
      .agg(sum(col("c")).as("cents"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
      .localCheckpoint(true)
    val ranked = daily.as("a")
      .join(
        daily.as("b"),
        col("a.dow") === col("b.dow") && col("b.day") < col("a.day"))
      .select(
        col("a.day").as("day"), col("a.cents").as("y"),
        col("b.cents").as("h"), col("b.day").as("hday"))
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy(col("day")).orderBy(col("h"), col("hday"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("day"))))
    val taus = Seq(100000L, 500000L, 900000L).toDF("tau_ppm")
    ranked
      .crossJoin(broadcast(taus))
      .filter(col("rn") === expr("tau_ppm * (n - 1) div 1000000 + 1"))
      .select(
        col("tau_ppm"),
        expr("greatest(tau_ppm * (y - h), (tau_ppm - 1000000) * (y - h))").as("loss"))
      .groupBy(col("tau_ppm"))
      .agg(count(lit(1)).as("n_days"), sum(col("loss")).as("sum_loss_ppm_cents"))
      .withColumn("avg_loss_cents", expr("sum_loss_ppm_cents div n_days div 1000000"))
      .orderBy(col("tau_ppm"))
  }

  /** Newman modularity of the q157 LPA partition over the covis graph
    * ([[graft.ops.Graph.modularityPpm]]) — the quality score for the
    * community structure q157 emits and q215/q227 compare against
    * external labels: does the partition beat random wiring on the
    * graph's own terms? Per-community exact-ppm contributions; their
    * sum is Q·10⁶.
    *
    * In round 9 this audit caught pure synchronized LPA 2-coloring
    * the sparse sf0.01 covis forest (Q = −0.037, worse than random
    * wiring); the operator now casts a self-vote per round (see
    * [[graft.ops.Graph.labelPropagation]]) and the same audit reads
    * Q ≈ +0.93 there. At sf0.1 the 100-node/1212-edge covis core is
    * one genuine quasi-clique, so the single-community partition and
    * Q = 0 are the honest reading — exactly the regime signal a
    * consumer should gate on before trusting clusters at a new scale
    * ([[graft.ops.Graph.labelPropagationGated]] wires this gate into
    * the plan as an assert).
    *
    * The pair list is eagerly materialized: pairs feed modularity's
    * edge scan AND the 1-row m broadcast (concurrent-broadcast rule);
    * the LPA labels arrive already checkpointed from the operator's
    * per-round discipline and feed two endpoint joins plus the
    * degree-mass aggregate.
    */
  def covisModularity(s: SparkSession, d: String): DataFrame = {
    val enriched = Pipeline.enrichedEvents(s, d)
    val pairs = Joins.covisitationPairs(
      enriched.select(col("session_id"), col("item_id")),
      "session_id", "item_id", minCount = 2L)
      .localCheckpoint(true)
    val labels = graft.ops.Graph
      .labelPropagation(pairs, "item_a", "item_b", rounds = 4)
    graft.ops.Graph
      .modularityPpm(pairs, "item_a", "item_b", labels)
      .orderBy(col("community"))
  }

  /** Offline ranking evaluation (q299; [[graft.ops.Eval.rankingEvalPpm]]):
    * score each user's clicked items by click count and measure whether
    * the purchased ones rank high — recall@5 and MRR@10 in one fused
    * window pass, exact integer ppm. The metric side of the
    * candidates→features→model loop (q116/q117 measure the generator;
    * this measures a RANKING against the same implicit labels).
    *
    * Shape: one repartition on user_id serves the (user, item)
    * aggregation (subset partitioning), the rank window, AND the
    * per-user metric aggregation — one exchange total (the q06
    * pattern).
    */
  def rankingEval(s: SparkSession, d: String): DataFrame = {
    val scored = Pipeline.itemEvents(s, d)
      .select(col("user_id"), col("item_id"), col("event_type"))
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("item_id"))
      .agg(
        graft.ops.Aggregates.countIf(col("event_type") === "click").as("n_clicks"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .filter(col("n_clicks") > 0)
    graft.ops.Eval.rankingEvalPpm(
      scored, Seq("user_id"), "y", col("n_clicks"), Seq("item_id"),
      recallK = 5, mrrK = 10)
  }

  /** Accuracy@1 of next-category prediction (q306) — the reference
    * README's remaining headline metric
    * (`/root/reference/README.md:215-216` "Accuracy@1: Predicting the
    * exact category for add-to-cart"): each purchase anchor's category
    * is predicted as the modal category of the user's STRICTLY-PRIOR
    * clicks (point-in-time correct, the J6 history-join discipline),
    * ties broken by category id; accuracy@1 = hits / anchors in exact
    * ppm. Anchors with no prior click history stay in the DENOMINATOR
    * as misses — the metric covers the deployment population, not the
    * scoreable subset.
    *
    * Scale: one checkpointed scan of the (click ∪ purchase) projection
    * feeds both join sides (the single-parse rule — the item JSON
    * decodes once); the history join is user-keyed and UN-hinted —
    * both sides are corpus-rate (purchases are not a bounded
    * dimension), so the shuffle join is the correct 100 TB shape;
    * votes collapse to (anchor, category) grain before the wire. The
    * per-anchor winner is an ARGMAX AGGREGATE (`max(struct(n_votes,
    * −cat, hit))` — lexicographic max ≡ votes DESC, cat ASC; cat is
    * unique within an anchor so the carried hit bit never decides a
    * tie), not a rank window, and `a_cat` rides the votes agg, so the
    * anchors side is never re-shuffled for a final metric join —
    * no-history anchors are counted as misses by differencing against
    * the 1-row global anchor count. user_id rides both grouping key
    * sets so the subset-partitioning rule runs them on the join's own
    * user partitioning (×100 probe: 277.5 → 52.8 MB, −81%).
    * At feed scale the lookback would be bounded exactly as the
    * streaming interval join bounds its state.
    */
  def nextCategoryAccuracy(s: SparkSession, d: String): DataFrame = {
    val ev = Pipeline.itemEvents(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(
        col("event_id"), col("user_id"), col("ts"), col("event_type"),
        pmod(col("item_id"), lit(Pipeline.NumCategories)).cast("long").as("cat"))
      .localCheckpoint(true)
    val anchors = ev.filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("anchor_id"), col("user_id"),
        col("ts").as("a_ts"), col("cat").as("a_cat"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("cat").as("c_cat"))
    // user_id rides the grouping keys (constant per anchor — semantics
    // unchanged): the join output is hash-partitioned by user_id, and
    // HashPartitioning(user) satisfies ClusteredDistribution(user,
    // anchor, cat) by the subset rule, so BOTH aggregations below run
    // exchange-free on the join's partitioning — the whole metric
    // costs exactly the two corpus-side user exchanges plus a 1-row
    // final agg
    val votes = anchors
      .join(clicks, Seq("user_id"))
      .filter(col("c_ts") < col("a_ts"))
      .groupBy(col("user_id"), col("anchor_id"), col("c_cat"))
      // a_cat is constant per anchor (max = that constant): carrying it
      // here is what lets the metric close without re-joining anchors
      .agg(count(lit(1)).as("n_votes"), max(col("a_cat")).as("a_cat"))
    val best = votes
      .groupBy(col("user_id"), col("anchor_id"))
      .agg(max(struct(
        col("n_votes"),
        (-col("c_cat")).as("neg_cat"),
        when(col("c_cat") === col("a_cat"), 1L).otherwise(0L).as("hit"))).as("b"))
      .agg(sum(col("b.hit")).as("n_hit"))
    anchors
      .agg(count(lit(1)).as("n_anchors"))
      .crossJoin(broadcast(best))
      .select(
        col("n_anchors"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("coalesce(n_hit, 0L) * 1000000 div n_anchors").as("acc1_ppm"))
  }

  // ——— streaming batch twins (q303–q305): the SAME streaming
  // functions run on batch frames (withWatermark is a no-op in batch),
  // restricted where aggregation is involved to the closed-window
  // subset append mode would have emitted (window_end ≤ max_ts −
  // watermark, in exact micros). This puts the streaming operators'
  // arithmetic — window bucketing, interval-join bounds, stream-static
  // enrich — under the DuckDB oracle, complementing the parity specs
  // that pin stream-vs-batch agreement.

  /** Batch twin of [[graft.streaming.StreamingDedup.windowedCounts]]
    * (q303): tumbling 1-hour event counts per event type, closed
    * windows only.
    */
  def streamWindowCounts(s: SparkSession, d: String): DataFrame = {
    // one scan feeds both the windowed counts and the watermark max
    // (the single-parse/single-scan rule for multi-consumer twins)
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("ts"))
      .localCheckpoint(true)
    val counts = graft.streaming.StreamingDedup.windowedCounts(
      ev, "event_type", "ts", "1 hour", "1 hour")
    val mx = ev.agg(max(unix_micros(col("ts"))).as("mx"))
    counts
      .crossJoin(broadcast(mx))
      .filter(
        (unix_micros(col("window_start")) + 3600000000L) <= col("mx") - 3600000000L)
      .select(
        col("event_type"),
        expr("unix_micros(window_start) div 1000000").as("w_start_s"),
        col("n_events"))
      .orderBy(col("event_type"), col("w_start_s"))
  }

  /** Batch twin of
    * [[graft.streaming.StreamingIntervalJoin.clickPurchasePairs]]
    * (q304): (purchase, preceding click ≤ 30 min) attribution pairs.
    * Inner stream-stream joins emit on arrival, so the twin needs no
    * window cutoff — bounded-input parity is exact by construction.
    */
  def streamClickAttribution(s: SparkSession, d: String): DataFrame = {
    // one scan (event_type IN (click, purchase) pushed) feeds both join
    // sides. NO broadcast hint: both sides are corpus-rate (clicks and
    // purchases are each ~20% of events here and unbounded at feed
    // scale), so the user-keyed shuffle join is the correct 100 TB
    // shape — a hint would force a corpus-sized broadcast
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .filter(col("event_type").isin("click", "purchase"))
      .localCheckpoint(true)
    graft.streaming.StreamingIntervalJoin
      .clickPurchasePairs(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
      .select(
        col("user_id"), col("purchase_id"), col("click_id"),
        unix_micros(col("p_ts")).as("p_us"),
        unix_micros(col("c_ts")).as("c_us"))
  }

  /** Batch twin of
    * [[graft.streaming.StreamingEnrich.enrichedWindowCounts]] (q305):
    * stream-static dimension enrich + tumbling per-category counts,
    * closed windows only.
    */
  def streamEnrichedCounts(s: SparkSession, d: String): DataFrame = {
    // parse the (ts, item_id) JSON projection ONCE (eager checkpoint)
    // and derive dim, counts, and the watermark max from it — the
    // un-checkpointed form scanned + re-parsed the corpus three times
    // and was the #1 wall line in BENCH_r11 (29.4 s vs <2.7 s quiet)
    val parsed = graft.streaming.StreamingEnrich
      .parsedItems(Tables.events(s, d))
      .localCheckpoint(true)
    val dim = Pipeline.itemCategory(parsed)
    val counts = graft.streaming.StreamingEnrich
      .enrichedWindowCountsParsed(parsed, dim, "1 hour", "1 hour")
    val mx = parsed.agg(max(unix_micros(col("ts"))).as("mx"))
    counts
      .crossJoin(broadcast(mx))
      .filter(unix_micros(col("w.end")) <= col("mx") - 3600000000L)
      .select(
        expr("unix_micros(w.start) div 1000000").as("w_start_s"),
        col("category_id"),
        col("n_events"))
      .orderBy(col("w_start_s"), col("category_id"))
  }

  /** Batch twin of
    * [[graft.streaming.StreamingSessions.mergedSessionAggregates]]
    * (q307): the view feed and the purchase feed sessionized JOINTLY
    * (30-min gap) with per-source counts. Closed-session subset only,
    * and the cutoff mirrors Spark's multi-watermark policy: the union's
    * watermark is the MIN of the two feeds' max event times − delay, so
    * both maxes bound the emitted set.
    */
  def streamMergedSessions(s: SparkSession, d: String): DataFrame = {
    // one scan (event_type IN (view, purchase) pushed) feeds both
    // session inputs and both per-feed watermark maxes
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_type"))
      .filter(col("event_type").isin("view", "purchase"))
      .localCheckpoint(true)
    val merged = graft.streaming.StreamingSessions.mergedSessionAggregates(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "purchase"))
    val mx = ev
      .groupBy()
      .agg(least(
        max(when(col("event_type") === "view", unix_micros(col("ts")))),
        max(when(col("event_type") === "purchase", unix_micros(col("ts")))))
        .as("mx"))
    merged
      .crossJoin(broadcast(mx))
      .filter(unix_micros(col("session.end")) <= col("mx") - 3600000000L)
      .select(
        col("user_id"),
        unix_micros(col("session.start")).as("s_start_us"),
        unix_micros(col("session.end")).as("s_end_us"),
        col("n_a").as("n_view"),
        col("n_b").as("n_purchase"),
        col("n_events"))
  }

  /** Batch twin of
    * [[graft.streaming.StreamingIntervalJoin.clickPurchasePairsLeftOuter]]
    * (q309): purchases with NO click in the preceding 30 minutes — the
    * organic-conversions table the outer interval join exists for.
    * Outer null-row emission is watermark-gated (a purchase is
    * reported unattributed only when no qualifying click can still
    * arrive), so the twin keeps only purchases strictly older than the
    * joint watermark: min(click max − 1h, purchase max − 30min) — the
    * per-side delays of the streaming operator under the MIN
    * multi-watermark policy.
    */
  def streamUnattributedPurchases(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .filter(col("event_type").isin("click", "purchase"))
      .localCheckpoint(true)
    val joined = graft.streaming.StreamingIntervalJoin
      .clickPurchasePairsLeftOuter(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
    val wm = ev
      .groupBy()
      .agg(least(
        max(when(col("event_type") === "click", unix_micros(col("ts")))) - 3600000000L,
        max(when(col("event_type") === "purchase", unix_micros(col("ts")))) - 1800000000L)
        .as("wm"))
    joined
      .filter(col("click_id").isNull)
      .crossJoin(broadcast(wm))
      .filter(unix_micros(col("p_ts")) < col("wm"))
      .select(
        col("user_id"), col("purchase_id"),
        unix_micros(col("p_ts")).as("p_us"))
  }

  /** Batch twin of
    * [[graft.streaming.StreamingIntervalJoin.clickPurchasePairsFullOuter]]
    * (q310): the complete attribution ledger — matched (purchase,
    * click) pairs plus BOTH watermark-closed null sides. Matched rows
    * carry no cutoff (inner emission is prompt, q304 semantics); an
    * unmatched purchase is reported once `p_us < W` (q309's gate); an
    * unmatched click — the browse-no-buy signal this form exists for —
    * once its whole candidate purchase window is below the watermark,
    * `c_us < W − lookback`. W = min(click max − 1h, purchase max −
    * 30min), the per-side delays under the MIN multi-watermark policy.
    */
  def streamAttributionLedger(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .filter(col("event_type").isin("click", "purchase"))
      .localCheckpoint(true)
    val joined = graft.streaming.StreamingIntervalJoin
      .clickPurchasePairsFullOuter(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
    val wm = ev
      .groupBy()
      .agg(least(
        max(when(col("event_type") === "click", unix_micros(col("ts")))) - 3600000000L,
        max(when(col("event_type") === "purchase", unix_micros(col("ts")))) - 1800000000L)
        .as("wm"))
    joined
      .crossJoin(broadcast(wm))
      .filter(
        (col("purchase_id").isNotNull && col("click_id").isNotNull) ||
          (col("click_id").isNull && unix_micros(col("p_ts")) < col("wm")) ||
          (col("purchase_id").isNull &&
            unix_micros(col("c_ts")) + 1800000000L < col("wm")))
      .select(
        col("user_id"), col("purchase_id"), col("click_id"),
        unix_micros(col("p_ts")).as("p_us"),
        unix_micros(col("c_ts")).as("c_us"))
  }

  /** q311: the [[graft.ops.LevelSample]] mergeable rank sketch over
    * event value cents — p50/p90/p99 estimates from the deterministic
    * level sample (k=1024), plus the canonical sketch shape (threshold
    * level, kept count). The kept set is a pure function of the row
    * set (md5-level membership against the minimal ≤k threshold), so
    * the DuckDB oracle replays the identical sample and order
    * statistics — an APPROXIMATE quantile operator under an EXACT
    * hash check (the q29/q181 make-the-randomness-deterministic rule).
    */
  def rankSketchQuantiles(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), round(col("value") * 100).cast("long").as("cents"))
    val sk = graft.ops.LevelSample.sketchPerGroup(
      ev, Nil, "event_id", "cents", k = 1024)
    sk.select(
        explode(array(lit(500000L), lit(900000L), lit(990000L))).as("p_ppm"),
        col("level"), col("n_kept"), col("values"))
      .select(
        col("p_ppm"), col("level"), col("n_kept"),
        element_at(
          col("values"),
          greatest(lit(1L), expr("(n_kept * p_ppm + 999999) div 1000000"))
            .cast("int")).as("est_cents"))
  }

  /** q308: [[graft.ops.Profile.approxDistinctAudit]] over the events
    * table — the profiler's documented exact→HLL swap as an
    * oracle-adjacent audit row (exact counts + a 5-standard-error
    * bounded-error flag; the q297 pattern).
    */
  def approxDistinctAudit(s: SparkSession, d: String): DataFrame =
    graft.ops.Profile
      .approxDistinctAudit(
        Tables.events(s, d).select(
          col("event_id"), col("user_id"), col("event_type")),
        Seq("event_id", "user_id", "event_type"))
      .orderBy(col("column"))
}
