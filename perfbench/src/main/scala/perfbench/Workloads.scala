package perfbench

import java.io.File
import java.nio.file.Files

import scala.util.control.NonFatal

import graft.SparkEntry
import graft.core.{Caches, Sinks}
import graft.pipeline.{Embeddings, RetailRocket}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One request of a pass: a contract query or a pipeline build. */
final case class Req(name: String, family: String, latencyS: Double, ok: Boolean)

/** What a workload's pass needs from the harness. */
final class Ctx(val spark: SparkSession, val tr: Tracer) {
  /** Largest block-manager footprint of cached data seen this pass. */
  var cachePeakMb = 0.0

  /** Sample the cached-RDD footprint (traced passes only). */
  def sampleCache(): Unit = if (tr.enabled) {
    val mb = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
    cachePeakMb = math.max(cachePeakMb, mb)
  }

  /** Catalyst phases and plan shape of `df`, as attributes of span `id`
    * (traced passes only; called after the timed calls).
    */
  def catalyst(id: Long, df: DataFrame): Unit = if (tr.enabled) {
    val ph = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      tr.add(id, s"${p}_ms", ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
    }
    val fp = graft.Bench.planFingerprint(df)
    val m = "e(\\d+)s(\\d+)h.*".r
    fp match {
      case m(e, s) => tr.add(id, "plan_exchanges", e.toDouble); tr.add(id, "plan_scans", s.toDouble)
      case _ => ()
    }
  }
}

/** One content check: `got` must equal the golden `want`. */
final case class Check(name: String, got: String, want: String) {
  def ok: Boolean = got == want
}

trait Workload {
  /** Make this run's inputs (called once per set-up repetition). */
  def prepare(spark: SparkSession): Unit

  /** The untimed first pass: fills JIT, codegen and file caches and
    * checks every output's content digest against its golden.
    */
  def warmup(spark: SparkSession): Seq[Check]

  /** One closed-loop pass; every request waits for the previous one. */
  def pass(ctx: Ctx): Seq[Req]

  /** Parquet bytes the last pass wrote. */
  def outputBytes: Long = 0L

  /** Untimed passes after the warm-up, before the measured ones. */
  def warmPasses: Int = 0

  /** Measured passes a run makes even when `--seconds` ends sooner. */
  def minPasses: Int = 1
}

/** A fixed cohort of contract queries over committed sf0.01 tables,
  * one `Caches.withScope` per pass (the engine's harness convention:
  * cross-query cache reuse inside a pass, nothing pinned across passes).
  * Every pass runs the cohort in the same cyclic order, as a session
  * repeating the same queries would; the seed picks where the cycle
  * starts. A full reshuffle per seed would change which queries follow
  * which, and with it cache reuse and codegen-cache hits, adding spread
  * that is not the program's.
  */
final class Contract(dataDir: String, goldens: Seq[Contract.Golden], seed: Long) extends Workload {
  private val order = {
    val k = java.lang.Math.floorMod(seed, goldens.size.toLong).toInt
    goldens.drop(k) ++ goldens.take(k)
  }

  // after the digest pass, passes keep getting faster for a minute (JIT,
  // and the digest warm-up wraps each plan in an aggregate, so it leaves
  // the plans `toRdd.count()` runs cold): two more untimed passes, then
  // the median of at least four
  override def warmPasses: Int = 2
  override def minPasses: Int = 4

  def prepare(spark: SparkSession): Unit =
    Contract.Tables.foreach(t => graft.core.Tables.table(spark, dataDir, t).count())

  def pass(ctx: Ctx): Seq[Req] = {
    val tr = ctx.tr
    val built = Vector.newBuilder[(Long, DataFrame)]
    val reqs = Caches.withScope {
      order.map { g =>
        val t0 = System.nanoTime()
        val n =
          try {
            tr.span("query", g.query) {
              val id = tr.current
              val df = tr.span("construct", g.query)(SparkEntry.queries(g.query)(ctx.spark, dataDir))
              tr.span("plan", g.query)(df.queryExecution.executedPlan)
              val n = tr.span("execute", g.query)(df.queryExecution.toRdd.count())
              ctx.sampleCache()
              built += id -> df
              n
            }
          } catch {
            case NonFatal(e) => System.err.println(s"[perfbench] ${g.query} failed: $e"); -1L
          }
        val ok = n == g.nRows
        if (n >= 0 && !ok) System.err.println(s"[perfbench] ${g.query}: $n rows, golden ${g.nRows}")
        Req(g.query, g.family, (System.nanoTime() - t0) / 1e9, ok)
      }
    }
    built.result().foreach { case (id, df) => ctx.catalyst(id, df) }
    reqs
  }

  def warmup(spark: SparkSession): Seq[Check] = Caches.withScope {
    order.map { g =>
      val d =
        try Digest.of(SparkEntry.queries(g.query)(spark, dataDir))
        catch { case NonFatal(e) => s"error: $e" }
      Check(g.query, d, g.digest)
    }
  }
}

object Contract {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** `n_rows` is the DuckDB-oracle-verified row count; `digest` is
    * [[Digest.of]] of the same result, so it starts with `n_rows`.
    */
  final case class Golden(query: String, family: String, nRows: Long, digest: String)

  /** Tab-separated: query, family, n_rows, digest; `#` starts a comment. */
  def readGoldens(path: String): Seq[Golden] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t")
        val g = Golden(f(0), f(1), f(2).toLong, f(3))
        require(g.digest.startsWith(s"${g.nRows}:"), s"golden digest of ${g.query} disagrees with n_rows")
        g
      }.toVector
}

/** The paper's batch job through its public entry `RetailRocket.run`:
  * RetailRocket-shaped CSVs (BaselineBench's generator shape, seeded
  * and scaled) to the 38-column train/valid parquet matrices.
  */
final class RrBuild(work: String, seed: Long, nEvents: Long, golden: Option[RrBuild.Golden]) extends Workload {
  private val eventsCsv = s"$work/input/events_csv"
  private val propsCsv = s"$work/input/props_csv"
  private var builds = 0
  private var lastOut = ""
  private var lastBytes = 0L
  // the first build's counts: the reference for later builds of the run
  // when the seed has no stored golden
  private var firstCounts: Option[Map[String, Long]] = golden.map(_.counts)

  override def outputBytes: Long = lastBytes

  // two measured builds: one build samples only ~15 s of a host whose
  // speed drifts over tens of seconds
  override def minPasses: Int = 2

  def prepare(spark: SparkSession): Unit = {
    // BaselineBench's shape (power-law users and items, 94.1% views,
    // May-Aug 2015) scaled from its 1.9M events to nEvents
    val scale = nEvents / 1.9e6
    val nUsers = math.max(1000L, (500000 * scale).toLong)
    val nItems = math.max(1000L, (230000 * scale).toLong)
    val nCats = 1000L
    val winStartMs = 1430438400000L
    val winMs = 92L * 86400 * 1000
    val s = seed * 16
    spark.range(0, nEvents, 1, 4)
      .select(
        (lit(winStartMs) + (pow(rand(s + 1), 1.15) * winMs).cast("long")).as("timestamp"),
        (pow(rand(s + 2), 2.0) * nUsers).cast("long").as("visitorid"),
        when(rand(s + 3) < 0.941, "view").when(rand(s + 3) < 0.965, "addtocart")
          .otherwise("transaction").as("event"),
        (pow(rand(s + 4), 3.0) * nItems).cast("long").as("itemid"),
        lit(null).cast("long").as("transactionid"))
      .write.mode("overwrite").option("header", "true").csv(eventsCsv)
    spark.range(0, nItems * 2, 1, 2)
      .select(
        (lit(winStartMs) - 86400000L + (col("id") % 7) * 3600000L).as("timestamp"),
        (col("id") % nItems).as("itemid"),
        when(col("id") < nItems, "categoryid").otherwise("available").as("property"),
        when(col("id") < nItems, pmod(col("id") * 2654435761L + s, lit(nCats)).cast("string"))
          .otherwise("1").as("value"))
      .write.mode("overwrite").option("header", "true").csv(propsCsv)
  }

  private def nextOut(): String = {
    if (lastOut.nonEmpty) RrBuild.delete(new File(lastOut))
    builds += 1
    lastOut = s"$work/out/$builds"
    lastOut
  }

  def pass(ctx: Ctx): Seq[Req] = {
    val out = nextOut()
    val t0 = System.nanoTime()
    val counts =
      try Some(if (ctx.tr.enabled) tracedBuild(ctx, out) else RetailRocket.run(ctx.spark, eventsCsv, Seq(propsCsv), out))
      catch { case NonFatal(e) => System.err.println(s"[perfbench] build failed: $e"); None }
    val lat = (System.nanoTime() - t0) / 1e9
    lastBytes = RrBuild.parquetBytes(new File(out))
    val ok = counts.exists { c =>
      if (firstCounts.isEmpty) firstCounts = Some(c)
      val same = firstCounts.contains(c)
      if (!same) System.err.println(s"[perfbench] build counts $c, expected ${firstCounts.get}")
      same
    }
    Seq(Req("build", "RetailRocket", lat, ok))
  }

  /** The stages of `RetailRocket.buildAll` in its order, each forced
    * before the next starts (as BaselineBench does), then the same
    * writes and counts as `RetailRocket.run`.
    */
  private def tracedBuild(ctx: Ctx, out: String): Map[String, Long] = Caches.withScope {
    val spark = ctx.spark
    def stage[A](name: String)(build: => A)(frames: A => Seq[DataFrame]): A =
      ctx.tr.span("rr", name) {
        val id = ctx.tr.current
        val a = ctx.tr.span("construct", name)(build)
        val dfs = frames(a)
        ctx.tr.span("plan", name)(dfs.foreach(_.queryExecution.executedPlan))
        ctx.tr.span("execute", name)(dfs.foreach(_.count()))
        ctx.sampleCache()
        dfs.foreach(ctx.catalyst(id, _))
        a
      }
    val events = stage("load_sessionize") {
      Caches.cache(RetailRocket.sessionizeEvents(RetailRocket.readEventsCsv(spark, eventsCsv)))
    }(Seq(_))
    val itemCat = stage("item_category") {
      Caches.cache(RetailRocket.itemCategory(RetailRocket.readPropsCsv(spark, Seq(propsCsv))))
    }(Seq(_))
    val (atcTrain, atcValid) = stage("atc_split") {
      val atc = Caches.cache(RetailRocket.atcEvents(events, itemCat))
      (Caches.cache(RetailRocket.splitByWindow(atc, RetailRocket.TrainStart, RetailRocket.TrainEnd)),
        Caches.cache(RetailRocket.splitByWindow(atc, RetailRocket.TrainEnd, RetailRocket.ValidEnd)))
    }(p => Seq(p._1, p._2))
    val tm = stage("train_matrices") {
      RetailRocket.trainMatrices(events, itemCat, RetailRocket.TrainEnd, Some(1000), cache = true)
    }(m => m.productIterator.collect { case d: org.apache.spark.sql.Dataset[_] => d.toDF() }.toSeq)
    val vectors = stage("word2vec") {
      Embeddings.trainWord2VecOrEmpty(Embeddings.sessionSequences(
        events
          .filter(col("ts") < lit(RetailRocket.TrainEnd).cast("timestamp"))
          .join(broadcast(itemCat), Seq("item_id"))
          .withColumn("epoch_s", unix_timestamp(col("ts")))
          .withColumn("event_id", col("item_id")),
        "category_id"))
    }(Seq(_))
    val splits = Seq(atcTrain, atcValid)
    val prefixed = stage("candidates") {
      splits.map { split =>
        val prefix = Caches.cache(RetailRocket.prefixWithCategories(split, events, itemCat, None))
        (prefix, Caches.cache(RetailRocket.candidatesWith(split, events, itemCat, tm, None, Some(prefix))))
      }
    }(_.map(_._2))
    val Seq(train, valid) = stage("features") {
      splits.zip(prefixed).map { case (split, (prefix, cands)) =>
        Caches.cache(Embeddings.attachEmbeddings(
          RetailRocket.featuresWith(split, cands, events, itemCat, tm, None, Some(prefix)),
          vectors, "category_id", dims = 16))
      }
    }(identity)
    ctx.tr.span("rr", "save") {
      ctx.tr.span("execute", "save") {
        Sinks.writeParquet(train, s"$out/X_train_spark.parquet", maxRecordsPerFile = Some(50000L))
        Sinks.writeParquet(valid, s"$out/X_valid_spark.parquet", maxRecordsPerFile = Some(50000L))
        RrBuild.counts(train, valid)
      }
    }
  }

  /** A first build through `RetailRocket.run`; its counts and output
    * digest are checked against the seed's golden, or become the run's
    * reference when the seed has none.
    */
  def warmup(spark: SparkSession): Seq[Check] = {
    val out = nextOut()
    val c = RetailRocket.run(spark, eventsCsv, Seq(propsCsv), out)
    if (firstCounts.isEmpty) firstCounts = Some(c)
    val got = (RrBuild.CountKeys.map(c) :+ RrBuild.digests(spark, out)).mkString("\t")
    val want = golden.map(g => (RrBuild.CountKeys.map(g.counts) :+ g.digest).mkString("\t")).getOrElse(got)
    Seq(Check(s"rr_build seed $seed", got, want))
  }
}

object RrBuild {
  final case class Golden(counts: Map[String, Long], digest: String)

  val CountKeys = Seq("train_positive", "train_rows", "valid_positive", "valid_rows")

  /** Tab-separated: seed, then the four counts in [[CountKeys]] order,
    * then the output digest.
    */
  def readGoldens(path: String): Map[Long, Golden] =
    if (!new File(path).exists) Map.empty
    else scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t")
        f(0).toLong -> Golden(CountKeys.zip(f.slice(1, 5).map(_.toLong)).toMap, f(5))
      }.toMap

  def counts(train: DataFrame, valid: DataFrame): Map[String, Long] = Map(
    "train_rows" -> train.count(),
    "valid_rows" -> valid.count(),
    "train_positive" -> train.filter(col("y") === 1).count(),
    "valid_positive" -> valid.filter(col("y") === 1).count())

  /** Digest of both written matrices. The Word2Vec dims are left out:
    * MLlib's training is not bit-reproducible across runs, so only the
    * 22 relational columns are compared exactly.
    */
  def digests(spark: SparkSession, out: String): String =
    Seq("X_train_spark", "X_valid_spark").map { t =>
      val df = spark.read.parquet(s"$out/$t.parquet")
      Digest.of(df.select(df.columns.filterNot(_.startsWith("cat_emb_")).map(col).toIndexedSeq: _*))
    }.mkString("/")

  def parquetBytes(dir: File): Long =
    if (!dir.exists) 0L
    else {
      val w = Files.walk(dir.toPath)
      try w.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .mapToLong(p => Files.size(p)).sum()
      finally w.close()
    }

  def delete(f: File): Unit = if (f.exists) {
    val w = Files.walk(f.toPath)
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
    finally w.close()
  }
}
