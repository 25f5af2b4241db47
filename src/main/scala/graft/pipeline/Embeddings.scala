package graft.pipeline

import graft.ops.Aggregates
import org.apache.spark.ml.feature.Word2Vec
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Category-sequence embeddings (reference X2: gensim skip-gram on the
  * driver, `prepare_training_data_pyspark.py:390-433`) — re-expressed
  * as DISTRIBUTED MLlib Word2Vec, removing the reference's
  * `toPandas()` driver bottleneck, and attached via broadcast join
  * instead of a Python UDF (reference X1, `:603-622`).
  *
  * Sequences are built with the order-safe collect (Aggregates
  * .sortedList) so the corpus is deterministic; Word2Vec itself is
  * seeded but (like gensim) only reproducible single-threaded — we
  * match hyperparameters and test invariants, not vectors
  * (SURVEY.md §7).
  */
object Embeddings {

  /** Word2Vec's vocabulary threshold: the fit drops rarer tokens, and
    * [[trainWord2VecOrEmpty]] checks the corpus against the same one.
    */
  val MinCount = 3

  /** Per-session item/category token sequences, time-ordered.
    * Input must have (session_id, epoch_s, event_id, tokenCol).
    */
  def sessionSequences(enriched: DataFrame, tokenCol: String): DataFrame =
    enriched
      .groupBy(col("session_id"))
      .agg(
        Aggregates
          .sortedList(Seq(col("epoch_s"), col("event_id")), col(tokenCol).cast("string"))
          .as("seq"))

  /** Train Word2Vec (skip-gram-equivalent hyperparams as the
    * reference: dim 16, window 5, minCount 3, 10 iters, seed 42) and
    * return the vectors table (word, vector).
    */
  def trainWord2Vec(
      sequences: DataFrame,
      vectorSize: Int = 16,
      windowSize: Int = 5,
      minCount: Int = MinCount,
      maxIter: Int = 10,
      seed: Long = 42L): DataFrame = {
    val w2v = new Word2Vec()
      .setInputCol("seq")
      .setOutputCol("vec")
      .setVectorSize(vectorSize)
      .setWindowSize(windowSize)
      .setMinCount(minCount)
      .setMaxIter(maxIter)
      .setSeed(seed)
    w2v.fit(sequences).getVectors
  }

  /** [[trainWord2Vec]] with its defaults, but an empty/under-[[MinCount]]
    * corpus yields an empty vectors table instead of MLlib's
    * IllegalArgumentException — downstream attach then zero-fills every
    * dim (out-of-vocab path).
    *
    * The vocabulary check and the fit both read `sequences`, whose plan
    * typically ends in a per-session exchange: the corpus is cached for
    * the two reads, so that subtree runs once. Neither returned table
    * reads the corpus (the fitted vectors are a local relation), so the
    * scope drops the cache on return.
    */
  def trainWord2VecOrEmpty(sequences: DataFrame): DataFrame = graft.core.Caches.withScope {
    val spark = sequences.sparkSession
    val corpus = graft.core.Caches.cache(sequences)
    val hasVocab = corpus
      .select(explode(col("seq")).as("w"))
      .groupBy(col("w")).count()
      .filter(col("count") >= MinCount)
      .limit(1).count() > 0
    if (hasVocab) trainWord2Vec(corpus)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("word",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("vector",
            org.apache.spark.ml.linalg.SQLDataTypes.VectorType))))
  }

  /** Top-k cosine neighbors of `word` in a trained vectors table —
    * the reference's `wv.most_similar` demo
    * (`prepare_training_data_pyspark.py:428-433`) as a Spark-first
    * relational operator: the query vector broadcasts, the vocabulary
    * scans once, ranking uses the suite's deterministic quantized
    * cosine (graft.similarity) with a unique word tie-break — so the
    * neighbor list is stable across re-runs and partitionings for a
    * given model. Output: (word, cosine_sim, rn), rn 1..k.
    *
    * Scale shape: the vocabulary is catalog-sized (≪ corpus);
    * |vocab| × 1 comparisons, no shuffle beyond the top-k reduction.
    */
  def findSynonyms(vectors: DataFrame, word: String, k: Int): DataFrame = {
    val arr = vectors.select(
      col("word"),
      vector_to_array(col("vector"), "float32").as("emb"))
    graft.similarity.Similarity
      .bruteForceTopK(arr.filter(col("word") === word), arr, "word", "emb", k)
      .select(
        col("neighbor_id").as("word"),
        col("cosine_sim"),
        col("rn"))
  }

  /** Attach embedding dims as flat float columns via broadcast left
    * join + element_at + coalesce(0.0f) — pure Catalyst, no UDF, no
    * serialization wall (the Spark-first form of reference X1).
    */
  def attachEmbeddings(
      features: DataFrame,
      vectors: DataFrame,
      keyCol: String,
      dims: Int): DataFrame = {
    val emb = vectors.select(
      col("word").cast("long").as(keyCol),
      vector_to_array(col("vector"), "float32").as("emb"))
    val joined = features.join(broadcast(emb), Seq(keyCol), "left")
    val dimCols = (0 until dims).map(i =>
      coalesce(element_at(col("emb"), i + 1), lit(0.0f)).cast("float").as(s"cat_emb_$i"))
    // keep the caller's column order (the equi-join hoists keyCol first)
    joined.select((features.columns.map(col) ++ dimCols).toIndexedSeq: _*)
  }
}
