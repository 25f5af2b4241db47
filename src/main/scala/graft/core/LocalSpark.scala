package graft.core

import org.apache.spark.sql.SparkSession

/** The one session factory: `local[cores]` with `cores` shuffle
  * partitions, AQE on, UTC and no UI. Every tool main and the test
  * session build through here, so the bench setup cannot drift between
  * entry points.
  */
object LocalSpark {

  /** `SPARK_GRAFT_CPUS` when set, else the caller's default. */
  def cores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** `conf` adds or overrides settings (e.g. a probe's split size). */
  def apply(
      cores: Int,
      logLevel: String = "WARN",
      conf: Map[String, String] = Map.empty): SparkSession = {
    val base = Map(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config(base ++ conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
