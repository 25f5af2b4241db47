package graft

import graft.core.LocalSpark
import graft.pipeline.RetailRocket
import org.apache.spark.sql.functions._

/** End-to-end comparison against BASELINE.md: generates a
  * RetailRocket-SHAPED synthetic dataset (same scale as the reference's
  * run of record — ~1.9M windowed events, ~230 K items, ~420 K
  * item-property rows, power-law users, May–Aug 2015) and times the
  * full pipeline through `RetailRocket.run` (STEPs 2–8 incl. Word2Vec +
  * embedding attach + parquet write). The reference's notebook records
  * 444 s wall on local[*]; this prints the comparable number for our
  * engine on the same box.
  *
  * `runMain graft.BaselineBench [nEvents] [outDir] [maxPrefixEvents]`
  */
object BaselineBench {
  def main(args: Array[String]): Unit = {
    val nEvents = args.headOption.map(_.toLong).getOrElse(1900000L)
    val outDir = args.drop(1).headOption.getOrElse("/tmp/rr-baseline")
    // optional third arg: recency cap on prefix events (scale guard;
    // absent = reference-exact)
    val maxPrefix = args.drop(2).headOption.map(_.toInt)
    val spark = LocalSpark(LocalSpark.cores(32))

    // a stage's time is the interval since the previous stamp
    val stageSec = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var last = System.nanoTime()
    def stamp(name: String): Unit = {
      val now = System.nanoTime()
      stageSec(name) = stageSec.getOrElse(name, 0.0) + (now - last) / 1e9
      last = now
    }

    // ---- deterministic synthetic RetailRocket-shape data ----
    val nUsers = 500000L
    val nItems = 230000L
    val nCats = 1000L
    val winStartMs = 1430438400000L // 2015-05-01
    val winMs = 92L * 86400 * 1000 // through 2015-08-01

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
    // the run's structure: stages, tasks and shuffle of the whole build
    val metrics = graft.core.StageMetrics.on(spark)
    metrics.drain() // events of the generation still queued
    metrics.reset()
    stamp("generate csv")

    // RetailRocket.run as users run it, each buildAll stage forced
    // through its hook, so the stamps split the build the way
    // BASELINE.md's profile does (load+sessionize 44 s / candidates
    // 133 s / w2v 22 s / features 155 s / save 66 s; total 444 s).
    // Eager work ahead of a hook call (the Word2Vec fit) lands in that
    // call's stage; save is the write and run's read-back.
    val t0 = last
    val counts = RetailRocket.run(
      spark, s"$outDir/events_csv", Seq(s"$outDir/props_csv"), s"$outDir/processed",
      maxPrefixEvents = maxPrefix,
      stage = (name, df) => { val m = graft.core.Caches.materialized(df); stamp(name); m })
    stamp("save")
    val totalS = (last - t0) / 1e9
    metrics.drain()
    stageSec.foreach { case (name, s) => println(f"[baseline] $name%-22s $s%8.1f s") }
    println(f"[baseline] run: ${metrics.stages.size} stages, ${metrics.tasks} tasks, " +
      f"shuffle write ${metrics.shuffleWriteBytes / 1e6}%.1f MB")
    metrics.close()
    val stages = Seq("load_sessionize", "candidates", "word2vec", "features", "save")
      .map(k => s""""$k":${stageSec(k)}""").mkString(",")
    println(
      s"""{"metric":"baseline_e2e","value":$totalS,"unit":"sec","gen_sec":${stageSec("generate csv")},""" +
        s""""stages":{$stages},""" +
        s""""events":$nEvents,"counts":{${counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")}},""" +
        s""""reference_sec":444.13,"reference_stages":{"load_sessionize":44,"candidates":133,"word2vec":22,"features":155,"save":66}}""")
    spark.stop()
  }
}
