package graft

/** Local replica of the driver's t1 smoke: run SparkEntry.entry on
  * sf0.001 and print schema + row count (must be > 0).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.LocalSpark(8)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry() -> $n rows, ${df.columns.length} cols")
    println(s"[smoke] columns: ${df.columns.mkString(",")}")
    assert(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
