package graft

import graft.pipeline.{Embeddings, Pipeline}
import org.apache.spark.sql.functions._

/** X2 invariants (SURVEY.md §5): Word2Vec is ⊘ non-oracle-checkable,
  * so we pin vocabulary membership, dimensionality, and fixed-seed
  * single-partition determinism instead of vectors.
  */
class Word2VecSpec extends SparkSpec {
  import spark.implicits._

  private lazy val seqs =
    Embeddings.sessionSequences(
      Pipeline.enrichedEvents(spark, sf("sf0.001")), "category_id").cache()

  test("vocabulary = tokens with >= minCount occurrences") {
    val vocab = Embeddings.trainWord2Vec(seqs, minCount = 3)
      .select("word").as[String].collect().toSet
    val counts = seqs.select(explode(col("seq")).as("w"))
      .groupBy("w").count().as[(String, Long)].collect().toMap
    val expected = counts.filter(_._2 >= 3).keySet
    assert(vocab == expected)
  }

  test("vector dimensionality matches vectorSize") {
    val dims = Embeddings.trainWord2Vec(seqs, vectorSize = 16)
      .select(org.apache.spark.ml.functions.vector_to_array(col("vector")).as("arr"))
      .select(size(col("arr"))).as[Int].collect().toSet
    assert(dims == Set(16))
  }

  test("findSynonyms: k ranked neighbors, self excluded, deterministic, cosine-consistent") {
    val model = Embeddings.trainWord2Vec(seqs.coalesce(1), seed = 42L).cache()
    val vocab = model.select("word").as[String].collect().sorted
    val q = vocab.head
    val k = math.min(5, vocab.length - 1)
    def run() = Embeddings.findSynonyms(model, q, k)
      .select("word", "cosine_sim", "rn").as[(String, Double, Int)].collect().toSeq
    val syn = run()
    assert(syn.length == k)
    assert(!syn.exists(_._1 == q), "query word excluded")
    assert(syn.map(_._3) == (1 to k), "rn is 1..k")
    assert(syn.map(_._2) == syn.map(_._2).sorted.reverse, "descending cosine")
    assert(run() == syn, "re-run identical (quantized cosine, unique tie-break)")
    // rank-1 neighbor really is the argmax cosine over the vocabulary
    // (checked against an independent driver-side computation)
    val vecs = model
      .select(col("word"), org.apache.spark.ml.functions.vector_to_array(col("vector")).as("v"))
      .as[(String, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val qa = a.map(x => math.round(x * 10000).toDouble)
      val qb = b.map(x => math.round(x * 10000).toDouble)
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
      dot / math.sqrt(qa.map(x => x * x).sum) / math.sqrt(qb.map(x => x * x).sum)
    }
    val best = vocab.filter(_ != q).maxBy(w => (cos(vecs(q), vecs(w)), w))
    val bestSim = cos(vecs(q), vecs(best))
    assert(math.abs(syn.head._2 - bestSim) < 1e-9)
    model.unpersist()
  }

  test("vocabulary is partition-layout-invariant (vector VALUES are not — documented non-goal)") {
    // DESIGN.md round 15: MLlib Word2Vec's SGD consumes sentences in
    // RDD order, so vector values vary with input layout (measured
    // |delta| <= ~0.08/dim at sf0.01). What IS layout-invariant — and
    // pinned here — is the vocabulary (minCount filter over exact
    // token counts) and the vector dimensionality.
    def vocab(df: org.apache.spark.sql.DataFrame): Set[String] =
      Embeddings.trainWord2Vec(df).select("word").as[String].collect().toSet
    val v1 = vocab(seqs.coalesce(1))
    assert(v1.nonEmpty)
    assert(vocab(seqs.repartition(5)) == v1)
    assert(vocab(seqs.repartition(13)) == v1)
  }

  test("fixed seed + single partition is deterministic") {
    val one = seqs.coalesce(1).cache()
    def train() = Embeddings.trainWord2Vec(one, seed = 42L)
      .select(col("word"),
        org.apache.spark.ml.functions.vector_to_array(col("vector")).as("v"))
      .as[(String, Seq[Double])].collect().toMap
    val (a, b) = (train(), train())
    assert(a.keySet == b.keySet)
    a.keySet.foreach(k => assert(a(k) == b(k), s"vectors differ for $k"))
  }

  test("trainWord2VecOrEmpty runs its corpus' exchange once and leaves nothing cached") {
    // A file-backed corpus: the scan stage on the map side of the
    // per-session exchange is the only stage that reads nRows input
    // records (cached-batch reads count batches, not rows).
    val dir = java.nio.file.Files.createTempDirectory("w2v-corpus").toString
    val nRows = 3000L
    spark.range(0L, nRows, 1L, 2)
      .select(
        (col("id") % 150).cast("string").as("session_id"),
        col("id").as("epoch_s"),
        col("id").as("event_id"),
        (col("id") * 7 % 20).as("category_id"))
      .write.mode("overwrite").parquet(dir)
    val corpus = Embeddings.sessionSequences(spark.read.parquet(dir), "category_id")
    val m = graft.core.StageMetrics.on(spark)
    try {
      m.drain()
      m.reset()
      val vocab = Embeddings.trainWord2VecOrEmpty(corpus).count()
      m.drain()
      assert(vocab == 20L)
      val scans = m.stages.count(_.inputRecords == nRows)
      assert(scans == 1, s"the corpus subtree ran $scans times")
      assert(corpus.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "the operator's corpus cache must not outlive the call")
    } finally m.close()
  }
}
