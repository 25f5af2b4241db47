package graft

import graft.pipeline.RetailRocket
import org.apache.spark.sql.functions._

/** End-to-end comparison against BASELINE.md: generates a
  * RetailRocket-SHAPED synthetic dataset (same scale as the reference's
  * run of record — ~1.9M windowed events, ~230 K items, ~420 K
  * item-property rows, power-law users, May–Aug 2015) and times the
  * full pipeline (STEPs 2–8 incl. Word2Vec + embedding attach + parquet
  * write). The reference's notebook records 444 s wall on local[*];
  * this prints the comparable number for our engine on the same box.
  *
  * `runMain graft.BaselineBench [nEvents] [outDir]`
  */
object BaselineBench {
  def main(args: Array[String]): Unit = {
    val nEvents = args.headOption.map(_.toLong).getOrElse(1900000L)
    val outDir = args.drop(1).headOption.getOrElse("/tmp/rr-baseline")
    // optional third arg: recency cap on prefix events (scale guard;
    // absent = reference-exact)
    val maxPrefix = args.drop(2).headOption.map(_.toInt)
    val spark = graft.core.LocalSpark(32)

    def t[A](name: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[baseline] $name%-22s $s%8.1f s")
      (r, s)
    }

    // ---- deterministic synthetic RetailRocket-shape data ----
    val nUsers = 500000L
    val nItems = 230000L
    val nCats = 1000L
    val winStartMs = 1430438400000L // 2015-05-01
    val winMs = 92L * 86400 * 1000 // through 2015-08-01

    val (_, genS) = t("generate csv") {
      val ev = spark.range(nEvents)
        .select(
          (lit(winStartMs) + (pow(rand(1), 1.15) * winMs).cast("long")).as("timestamp"),
          (pow(rand(2), 2.0) * nUsers).cast("long").as("visitorid"),
          when(rand(3) < 0.941, "view")
            .when(rand(3) < 0.965, "addtocart")
            .otherwise("transaction").as("event"),
          (pow(rand(4), 3.0) * nItems).cast("long").as("itemid"),
          lit(null).cast("long").as("transactionid"))
      ev.coalesce(8).write.mode("overwrite").option("header", "true")
        .csv(s"$outDir/events_csv")

      // ~420K items carry categoryid (plus superseded snapshots and
      // non-category properties, exercising latest-wins + filtering)
      val props = spark.range(nItems * 2)
        .select(
          (lit(winStartMs) - 86400000L + (col("id") % 7) * 3600000L).as("timestamp"),
          (col("id") % nItems).as("itemid"),
          when(col("id") < nItems, "categoryid").otherwise("available").as("property"),
          when(col("id") < nItems,
            pmod(col("id") * 2654435761L, lit(nCats)).cast("string"))
            .otherwise("1").as("value"))
      props.coalesce(4).write.mode("overwrite").option("header", "true")
        .csv(s"$outDir/props_csv")
    }

    // stage-by-stage, comparable to BASELINE.md's profile
    // (load+sessionize 44 s / candidates 133 s / w2v 22 s /
    //  features 155 s / save 66 s; total 444 s)
    val t0 = System.nanoTime()
    // SPARK_GRAFT_BUCKETED=1: materialize the sessionized events
    // bucketed by session_id (one write-side shuffle) and run every
    // downstream stage on the bucketed scan — the session-key exchanges
    // in the prefix/covis joins disappear (BucketingSpec pins the plan).
    val bucketed = sys.env.get("SPARK_GRAFT_BUCKETED").contains("1")
    val (events, loadS) = t("load+sessionize") {
      val sessionized = RetailRocket
        .sessionizeEvents(RetailRocket.readEventsCsv(spark, s"$outDir/events_csv"))
      val e =
        if (bucketed) RetailRocket.bucketizeEvents(sessionized, "rr_events_bucketed")
        else sessionized.cache()
      e.count(); e
    }
    val (itemCat, _) = t("item categories") {
      val ic = RetailRocket
        .itemCategory(RetailRocket.readPropsCsv(spark, Seq(s"$outDir/props_csv"))).cache()
      ic.count(); ic
    }
    val (splits, _) = t("atc split") {
      val atc = RetailRocket.atcEvents(events, itemCat).cache()
      val tr = RetailRocket.splitByWindow(atc, RetailRocket.TrainStart, RetailRocket.TrainEnd).cache()
      val va = RetailRocket.splitByWindow(atc, RetailRocket.TrainEnd, RetailRocket.ValidEnd).cache()
      tr.count(); va.count(); (tr, va)
    }
    // split-independent co-vis/popularity/user matrices computed ONCE
    // for train+valid (same sharing as RetailRocket.buildAll)
    val tm = RetailRocket.trainMatrices(events, itemCat, RetailRocket.TrainEnd)
    // one cached prefix⋈itemCat subtree per split, shared with the
    // features stage (same sharing as RetailRocket.buildAll). Measured
    // crossover: sharing wins above ~5M events (20M: −34 s) but costs
    // the cache materialization below it (1.9M: +4 s), so the bench
    // picks by size. SPARK_GRAFT_NOSHARE=1 forces it off (A/B).
    val share =
      if (sys.env.get("SPARK_GRAFT_NOSHARE").contains("1")) false
      else nEvents >= 5000000L
    val (prefixes, _) = t("prefix tables") {
      if (!share) (None, None)
      else {
        val p1 = RetailRocket.prefixWithCategories(splits._1, events, itemCat, maxPrefix).cache()
        val p2 = RetailRocket.prefixWithCategories(splits._2, events, itemCat, maxPrefix).cache()
        // materialize inside the timed block so the stage A/B reflects the
        // actual cache-build cost instead of lazily landing in "candidates"
        p1.count(); p2.count()
        (Some(p1), Some(p2))
      }
    }
    val (cands, candS) = t("candidates") {
      val ct = RetailRocket
        .candidatesWith(splits._1, events, itemCat, tm, maxPrefix, prefixes._1).cache()
      val cv = RetailRocket
        .candidatesWith(splits._2, events, itemCat, tm, maxPrefix, prefixes._2).cache()
      ct.count(); cv.count(); (ct, cv)
    }
    val (vectors, w2vS) = t("word2vec") {
      graft.pipeline.Embeddings.trainWord2VecOrEmpty(
        graft.pipeline.Embeddings.sessionSequences(
          events
            .filter(col("ts") < lit(RetailRocket.TrainEnd).cast("timestamp"))
            .join(broadcast(itemCat), Seq("item_id"))
            .withColumn("epoch_s", unix_timestamp(col("ts")))
            .withColumn("event_id", col("item_id")),
          "category_id"))
    }
    val (mats, featS) = t("features+embeddings") {
      def assemble(
          atc: org.apache.spark.sql.DataFrame,
          c: org.apache.spark.sql.DataFrame,
          p: Option[org.apache.spark.sql.DataFrame]) =
        graft.pipeline.Embeddings.attachEmbeddings(
          RetailRocket.featuresWith(atc, c, events, itemCat, tm, maxPrefix, p),
          vectors, "category_id", dims = 16)
      val tr = assemble(splits._1, cands._1, prefixes._1).cache()
      val va = assemble(splits._2, cands._2, prefixes._2).cache()
      tr.count(); va.count(); (tr, va)
    }
    // Row-group-bounded save (VERDICT r14 item 8): the feature matrix
    // is an engine-DERIVED table read back by training jobs — 8 MB row
    // groups make file splits real for downstream scan-rate consumers
    // (`Probe row-groups`: kernel-stage walls halve on group-granular
    // fixtures), where the reference's single default-block output
    // reads back single-task per file.
    val (_, saveS) = t("parquet save") {
      graft.core.Sinks.writeScanParallelParquet(
        mats._1, s"$outDir/processed/X_train_spark.parquet",
        maxRecordsPerFile = Some(50000L))
      graft.core.Sinks.writeScanParallelParquet(
        mats._2, s"$outDir/processed/X_valid_spark.parquet",
        maxRecordsPerFile = Some(50000L))
    }
    val totalS = (System.nanoTime() - t0) / 1e9
    val counts = Map(
      "train_rows" -> mats._1.count(), "valid_rows" -> mats._2.count(),
      "train_positive" -> mats._1.filter(col("y") === 1).count(),
      "valid_positive" -> mats._2.filter(col("y") === 1).count())
    println(
      s"""{"metric":"baseline_e2e","value":$totalS,"unit":"sec","gen_sec":$genS,""" +
        s""""stages":{"load_sessionize":$loadS,"candidates":$candS,"word2vec":$w2vS,""" +
        s""""features":$featS,"save":$saveS},""" +
        s""""events":$nEvents,"counts":{${counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")}},""" +
        s""""reference_sec":444.13,"reference_stages":{"load_sessionize":44,"candidates":133,"word2vec":22,"features":155,"save":66}}""")
    spark.stop()
  }
}
