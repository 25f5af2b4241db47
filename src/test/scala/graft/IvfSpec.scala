package graft

import graft.core.Sinks
import graft.similarity.Similarity
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {
  import spark.implicits._

  test("ivfTopKDeterministic: cluster routing + bit-identical under repartition") {
    def v(base: Float, eps: Float) = Seq.tabulate(8)(i => if (i == 0) base + eps else eps)
    val corpus = (
      (1L to 20L).map(i => (i, v(10f, i * 0.001f))) ++
        (21L to 40L).map(i => (i, v(-10f, i * 0.001f)))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id").isin(1L, 21L))
    val out = Similarity
      .ivfTopKDeterministic(queries, corpus, "vec_id", "embedding",
        k = 3, nCentroids = 2, nProbe = 1)
      .orderBy("query_id", "rn")
    val rows = out.collect().toSeq
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ(1L).forall(_.getAs[Long]("neighbor_id") <= 20L))
    assert(byQ(21L).forall(_.getAs[Long]("neighbor_id") >= 21L))
    assert(byQ(1L).size == 3 && byQ(21L).size == 3)
    // exact same rows (scores included) under a different partitioning
    val again = Similarity
      .ivfTopKDeterministic(queries.repartition(7), corpus.repartition(5),
        "vec_id", "embedding", k = 3, nCentroids = 2, nProbe = 1)
      .orderBy("query_id", "rn")
    assert(again.collect().toSeq == rows)
  }

  test("boundedCollect: passes under the bound, fails fast over it") {
    val df = spark.range(100).toDF("id")
    assert(Sinks.boundedCollect(df, 100).length == 100)
    val e = intercept[IllegalArgumentException](Sinks.boundedCollect(df, 99))
    assert(e.getMessage.contains("exceeds"))
  }
}
