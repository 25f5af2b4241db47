package graft

import graft.core.LocalSpark

/** Prints every contract query's plan fingerprint as one JSON line,
  * WITHOUT executing the plans: the [[Bench.fingerprints]] pre-pass,
  * the same basis Verify and Bench stamp on. Purpose: cheap
  * before/after fingerprint diffs proving a targeted change touched
  * only its target queries (VERDICT r12 item 4).
  *
  * Usage: tools/probe.sh graft.FpAll [sfDir]
  */
object FpAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSpark(LocalSpark.cores(32))
    val fps = Bench.fingerprints(spark, sfDir, SparkEntry.queries.toSeq)
    println(fps.map { case (k, fp) => s"\"$k\":\"$fp\"" }
      .mkString("""{"metric":"fp_all","queries":{""", ",", "}}"))
    spark.stop()
  }
}
