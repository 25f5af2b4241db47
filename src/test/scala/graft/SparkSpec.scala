package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, `Test / fork`).
  * The tool session config at small shuffle parallelism.
  */
object TestSpark {
  lazy val spark: SparkSession = graft.core.LocalSpark(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(dir: String): String = s"/root/testdata/$dir"

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq
}
