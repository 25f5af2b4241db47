package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ArithSpec extends AnyFunSuite {

  test("tail percentile keeps at least ten samples beyond it") {
    assert(Arith.tailPercentile(314).contains(96))
    assert(Arith.tailPercentile(100).contains(90))
    assert(Arith.tailPercentile(60).contains(83))
    assert(Arith.tailPercentile(19).isEmpty)
    for (n <- 20 to 1000; p <- Arith.tailPercentile(n)) {
      val beyond = n - math.ceil(p * n / 100.0).toInt
      assert(beyond >= 10, s"n=$n p=$p")
      if (p < 99) assert(n - math.ceil((p + 1) * n / 100.0).toInt < 10, s"n=$n p=$p not highest")
    }
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Arith.nearestRank(xs, 50) == 5.0)
    assert(Arith.nearestRank(xs, 90) == 9.0)
    assert(Arith.nearestRank(xs, 100) == 10.0)
    assert(Arith.median(xs) == 5.5)
    assert(Arith.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("interval union merges overlaps and ignores empty intervals") {
    assert(Arith.unionLength(Nil) == 0.0)
    assert(Arith.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
    assert(Arith.unionLength(Seq((1.0, 3.0), (0.0, 10.0))) == 10.0)
    assert(Arith.unionLength(Seq((4.0, 4.0), (5.0, 3.0))) == 0.0)
    assert(Arith.unionLength(Seq((0.0, 1.0), (1.0, 2.0))) == 2.0)
  }

  test("self time subtracts the clipped union of children") {
    // children overlap each other and stick out of the parent on both ends
    val kids = Seq((-5.0, 2.0), (1.0, 4.0), (8.0, 15.0))
    assert(Arith.covered(0.0, 10.0, kids) == 6.0)
    assert(Arith.selfTime(0.0, 10.0, kids) == 4.0)
    assert(Arith.selfTime(0.0, 10.0, Nil) == 10.0)
    // a stage gap is the same computation over stage intervals
    assert(Arith.selfTime(0.0, 10.0, Seq((0.0, 10.0))) == 0.0)
  }

  test("steal fraction from two /proc/stat samples") {
    val a = Arith.parseCpuLine("cpu  100 0 50 800 10 0 0 40 7 0")
    val b = Arith.parseCpuLine("cpu  200 0 100 1600 20 0 0 80 99 0")
    // deltas: user 100 system 50 idle 800 iowait 10 steal 40; guest excluded
    assert(math.abs(Arith.stealFrac(a, b) - 40.0 / 1000.0) < 1e-12)
    assert(Arith.stealFrac(a, a) == 0.0)
    assertThrows[IllegalArgumentException](Arith.parseCpuLine("cpu0 1 2 3"))
  }

  test("digest is independent of row order and partitioning, and counts duplicates") {
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val rows = Seq((1L, "a", 0.5, Seq(1.0f, -0.0f)), (2L, "b", -0.0, Seq(2.0f)), (3L, null, Double.NaN, Nil))
      val df = rows.toDF("k", "s", "d", "v")
      val shuffled = rows.reverse.toDF("x", "y", "z", "w").repartition(3)
      assert(Digest.of(df) == Digest.of(shuffled))
      assert(Digest.of(df) == Digest.of(df.withColumn("d", $"d" * 1.0).orderBy($"k".desc)))
      assert(Digest.of(df) != Digest.of(df.union(df.limit(1))))
      assert(Digest.of(df) != Digest.of(df.filter($"k" =!= 3)))
      assert(Digest.of(df.filter($"k" > 10)) == "0:0:0")
      assert(Digest.of(Seq(-0.0).toDF("d")) == Digest.of(Seq(0.0).toDF("d")))
    } finally spark.stop()
  }
}
