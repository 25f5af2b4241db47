package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Bucketing experiment (SURVEY.md §7 step 8): co-located storage
  * kills the exchange on the session-key joins. At 100 TB the events
  * table would be written bucketed by its join key once, and every
  * prefix/covis join afterwards is exchange-free on the big side.
  */
class BucketingSpec extends SparkSpec {

  /** The layout the J3/J4 case names call `bucketizeEvents`:
    * sessionized events written `bucketBy(session_id)`, sorted by
    * (session_id, ts), and read back as a table.
    */
  private def bucketBySession(
      events: org.apache.spark.sql.DataFrame,
      table: String): org.apache.spark.sql.DataFrame = {
    events.write
      .mode("overwrite")
      .bucketBy(4, "session_id")
      .sortBy("session_id", "ts")
      .saveAsTable(table)
    spark.table(table)
  }

  test("bucketed-by-key tables join without an exchange on the bucketed side") {
    val warehouse = Files.createTempDirectory("graft-warehouse").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bucketing LOCATION '$warehouse'")
    try {
      val events = graft.pipeline.Pipeline
        .sessionizedEvents(spark, sf("sf0.001"))
        .select("session_id", "epoch_s", "item_id", "event_id")
      events.write
        .mode("overwrite")
        .bucketBy(8, "session_id")
        .sortBy("session_id")
        .saveAsTable("graft_bucketing.events_bucketed")

      val t = spark.table("graft_bucketing.events_bucketed")
      val anchors = t.filter(col("event_id") % 10 === 0)
        .select(col("session_id"), col("epoch_s").as("anchor_s"))
      val joined = t.join(anchors, Seq("session_id"))
        .filter(col("epoch_s") < col("anchor_s"))

      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 0,
        s"bucketed self-join should shuffle neither side, found $exchanges exchanges:\n$plan")
      assert(joined.count() > 0)

      // sanity: same join on the unbucketed data needs exchanges
      val flat = events
      val flatJoined = flat.join(
        flat.filter(col("event_id") % 10 === 0)
          .select(col("session_id"), col("epoch_s").as("anchor_s")),
        Seq("session_id"))
      val flatPlan = flatJoined.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(flatPlan).nonEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bucketing.events_bucketed")
      spark.sql("DROP DATABASE IF EXISTS graft_bucketing")
    }
  }

  test("pipeline J3 prefix join over bucketizeEvents plans zero exchanges") {
    import spark.implicits._
    import graft.pipeline.RetailRocket
    val may1 = 1430438400000L // 2015-05-01, inside the pipeline window
    val raw = Seq(
      (may1 + 1000L, 7L, "view", 100L, null.asInstanceOf[java.lang.Long]),
      (may1 + 2000L, 7L, "view", 101L, null.asInstanceOf[java.lang.Long]),
      (may1 + 3000L, 7L, "addtocart", 102L, null.asInstanceOf[java.lang.Long]),
      (may1 + 1000L, 8L, "view", 100L, null.asInstanceOf[java.lang.Long]),
      (may1 + 9000L, 8L, "addtocart", 101L, null.asInstanceOf[java.lang.Long]))
      .toDF("timestamp", "visitorid", "event", "itemid", "transactionid")
    val itemCat = Seq((100L, 1L), (101L, 2L), (102L, 1L))
      .toDF("item_id", "category_id")
    try {
      val events = bucketBySession(RetailRocket.sessionizeEvents(raw), "graft_test_events_bucketed")
      val atc = RetailRocket.atcEvents(events, itemCat)
      val prefix = RetailRocket.prefixWithCategories(atc, events, itemCat)
      val plan = prefix.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      // both join sides derive from the bucketed scan (filter /
      // broadcast-join / distinct on a superset of session_id preserve
      // its partitioning), so the J3 join shuffles NOTHING
      assert(exchanges == 0,
        s"bucketed pipeline prefix join should plan zero exchanges, found $exchanges:\n$plan")
      assert(prefix.count() == 3) // s7: 2 prefix events; s8: 1
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_test_events_bucketed")
    }
  }

  test("pipeline J4 covis distinct+self-join over bucketizeEvents plans zero exchanges") {
    import spark.implicits._
    import graft.pipeline.RetailRocket
    val may1 = 1430438400000L
    val raw = (0 until 40).map { i =>
      (may1 + (i % 7) * 1000L, (i % 5).toLong, "view", (100 + i % 6).toLong,
        null.asInstanceOf[java.lang.Long])
    }.toDF("timestamp", "visitorid", "event", "itemid", "transactionid")
    try {
      val events = bucketBySession(RetailRocket.sessionizeEvents(raw), "graft_test_events_bucketed2")
      val pairs = graft.ops.Joins.covisitationPairs(
        events.select(col("session_id"), col("item_id")),
        "session_id", "item_id", minCount = 1L, materialize = false)
      // the final (item_a, item_b) count agg legitimately shuffles on the
      // pair key; everything keyed by session_id (distinct, group sizes,
      // self-join) must come straight off the bucketed scan
      val plan = pairs.queryExecution.executedPlan.toString
      val sessionExchanges = "Exchange hashpartitioning\\(session_id".r.findAllIn(plan).length
      assert(sessionExchanges == 0,
        s"bucketed covis should not reshuffle on session_id:\n$plan")
      assert(pairs.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_test_events_bucketed2")
    }
  }
}
