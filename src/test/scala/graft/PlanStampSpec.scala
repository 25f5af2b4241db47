package graft

import java.nio.file.{Files, Paths}

import graft.core.Caches
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The plan stamp (`Bench.planFingerprint`) ignores environment — session
  * config, the data directory, lambda construction order — and still sees
  * every change of plan shape, including below a cached relation.
  */
class PlanStampSpec extends SparkSpec {

  /** Runs `body` with `conf` set on the shared session, then restores it. */
  private def withConf[T](conf: (String, String)*)(body: => T): T = {
    val old = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `build`'s stamp from the construction-only pre-pass. */
  private def stamp(build: SparkSession => DataFrame): String = {
    val fp = Bench.fingerprints(spark, "", Seq("frame" -> ((s: SparkSession, _: String) => build(s))))
      .head._2
    assert(fp != "-", "construction failed")
    fp
  }

  private def shape(fp: String): String = fp.takeWhile(_ != 'h')

  test("partition and slice counts are config: shuffle partitions 3 vs 5, range slices 3 vs 5") {
    def frame(slices: Option[Int])(s: SparkSession): DataFrame =
      slices.fold(s.range(0, 1000))(k => s.range(0, 1000, 1, k)).toDF()
        .repartition() // round-robin over the session's shuffle partitions
        .groupBy((col("id") % 7).as("k")).count()
        .orderBy("k")
    def at(n: Int)(slices: Option[Int]): (String, String) =
      withConf("spark.sql.shuffle.partitions" -> n.toString,
          "spark.sql.leafNodeDefaultParallelism" -> n.toString) {
        (frame(slices)(spark).queryExecution.executedPlan.toString, stamp(frame(slices)))
      }
    for (slices <- Seq(None, Some(3), Some(5))) {
      val ((raw3, fp3), (raw5, fp5)) = (at(3)(slices), at(5)(slices))
      // the counts really are in the plan the stamp reads
      assert(raw3.contains("RoundRobinPartitioning(3)") && raw5.contains("RoundRobinPartitioning(5)"))
      assert(raw3.contains("hashpartitioning(") && raw3.contains("rangepartitioning("))
      assert(raw3.contains(s"splits=${slices.getOrElse(3)}"))
      assert(fp3 == fp5, s"slices=$slices")
    }
    assert(stamp(frame(Some(3))) == stamp(frame(Some(5))))
  }

  test("an integer literal next to a partitioning spec still changes the stamp (round(x, 2) vs 3)") {
    // the literal inside the spec, then in a project above the exchange
    def inSpec(d: Int)(s: SparkSession): DataFrame =
      s.range(100).toDF().repartition(round(col("id") / 7, d))
    def above(d: Int)(s: SparkSession): DataFrame =
      s.range(100).repartition(col("id")).select(round(col("id") / 3, d).as("r"))
    assert(stamp(inSpec(2)) != stamp(inSpec(3)))
    assert(stamp(above(2)) != stamp(above(3)))
  }

  test("distinct lambda variables stay distinct; an earlier HOF frame does not shift a stamp") {
    def pick(first: Boolean)(s: SparkSession): DataFrame =
      s.range(10).select(aggregate(array(col("id"), col("id") + 1), lit(0L),
        (a: Column, b: Column) => if (first) a else b).as("v"))
    val a = stamp(pick(first = true))
    assert(a != stamp(pick(first = false)))
    // an unrelated HOF advances the session-global lambda-variable counter
    spark.range(3).select(transform(array(col("id")), x => x + 1)).queryExecution.executedPlan
    assert(stamp(pick(first = true)) == a)
  }

  test("the data directory is environment: q03 over sf0.01 and over a symlink to it stamp equal") {
    val link = Files.createTempDirectory("planstamp").resolve("sf")
    Files.createSymbolicLink(link, Paths.get(sf("sf0.01")))
    val q = Seq("q03_join_agg" -> SparkEntry.queries("q03_join_agg"))
    try {
      val direct = Bench.fingerprints(spark, sf("sf0.01"), q)
      assert(direct.head._2 != "-")
      assert(Bench.fingerprints(spark, link.toString, q) == direct)
    } finally {
      Files.delete(link)
      Files.delete(link.getParent)
    }
  }

  test("a plan change below a Caches.cache boundary changes h, not e or s") {
    def frame(mod: Int)(s: SparkSession): DataFrame =
      Caches.cache(s.range(1000).select((col("id") % mod).as("k"))).groupBy("k").count()
    val (a, b) = (stamp(frame(7)), stamp(frame(5)))
    assert(a != b)
    assert(shape(a) == shape(b))
    assert(shape(a).endsWith("s1"), a) // the cache read is the one scan
  }
}
