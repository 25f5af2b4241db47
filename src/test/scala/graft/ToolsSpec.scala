package graft

import graft.core.StageMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The shared tool pieces: the fingerprint pre-pass every tool stamps
  * on, Inspect's `fp` mode, and the stage-metrics listener.
  */
class ToolsSpec extends SparkSpec {

  private val Stamp = "e\\d+s\\d+h[0-9a-f]{8}"

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("pre-pass stamps a throwing query '-' loudly and still stamps the good one") {
    val good = SparkEntry.queries("q01_pricing_summary")
    val bad: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("no such table")
    val err = new java.io.ByteArrayOutputStream
    val fps = Console.withErr(err) {
      Bench.fingerprints(spark, sf("sf0.01"), Seq("q_bad" -> bad, "q01_pricing_summary" -> good))
    }
    assert(fps.map(_._1) == Seq("q01_pricing_summary", "q_bad"), "alphabetical order")
    assert(fps.toMap.apply("q_bad") == "-")
    assert(fps.toMap.apply("q01_pricing_summary").matches(Stamp))
    assert(err.toString.contains("[fp] q_bad fingerprint failed: no such table"))
  }

  test("Inspect fp prints the pre-pass stamp and the text it hashes") {
    val dir = sf("sf0.01")
    val names = Seq("q03_join_agg", "q01_pricing_summary")
    val pre = Bench.fingerprints(spark, dir, names.map(n => n -> SparkEntry.queries(n))).toMap
    names.foreach { n =>
      val (text, stamp) = Inspect.fp(spark, n, dir)
      assert(stamp.matches(Stamp), s"$n: $stamp")
      assert(stamp == pre(n), s"$n: Inspect $stamp vs pre-pass ${pre(n)}")
      assert(stamp.endsWith(md5(text).take(8)), s"$n: printed text is not the hashed text")
    }
  }

  test("StageMetrics totals agree with its stages, and reset zeroes them") {
    val m = StageMetrics.on(spark)
    try {
      m.drain()
      m.reset()
      val t0 = System.nanoTime()
      // one shuffle: a grouped count over a 4-partition range
      spark.range(0L, 20000L, 1L, 4).groupBy(col("id") % 7).count()
        .queryExecution.toRdd.count()
      val wallMs = (System.nanoTime() - t0) / 1e6
      m.drain()
      val stages = m.stages
      assert(stages.nonEmpty)
      assert(m.tasks > 0 && m.tasks == stages.map(_.tasks).sum)
      assert(m.shuffleWriteBytes > 0)
      assert(m.shuffleWriteBytes == stages.map(_.shuffleWriteBytes).sum)
      assert(m.maxTaskMs <= wallMs, s"longest task ${m.maxTaskMs} ms > wall $wallMs ms")
      assert(m.maxTaskMs == stages.map(_.maxTaskMs).max)
      m.reset()
      assert(m.stages.isEmpty)
      assert(m.tasks == 0L && m.maxTaskMs == 0L && m.shuffleWriteBytes == 0L)
    } finally m.close()
  }
}
