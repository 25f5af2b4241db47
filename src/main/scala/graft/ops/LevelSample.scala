package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.functions._

/** Mergeable bounded-size RANK sketch with fully deterministic,
  * merge-order-INVARIANT compaction — the quantile family logHist
  * (`Sketches.logHist*`) cannot cover: rank queries on values whose
  * domain is unknown or unbounded, without the log-bucket error floor.
  *
  * Design (KLL-style levels, made set-functional): every row gets a
  * LEVEL from its unique id — `lvl = nlz64(h60) − 4` where `h60` is
  * the first 60 bits of `md5(uid)` (so P[lvl ≥ L] = 2^−L; the md5
  * derivation is the q181 deterministic-randomness rule). The sketch
  * state is the set `{rows : lvl ≥ L}` for the MINIMAL threshold L
  * that brings the kept count ≤ k. Because membership is a pure
  * per-row predicate against a global threshold, the final (L, kept)
  * pair is a function of the ROW SET alone: any insertion order, any
  * partitioning, any merge tree yields bit-identical state — unlike
  * textbook KLL, whose compaction depends on buffer arrival order.
  * That is what makes the sketch oracle-checkable: DuckDB replays the
  * same md5 levels and threshold scan and lands on the same kept set.
  *
  * Estimator: each kept row stands for 2^L rows, so the p-quantile
  * estimate is the kept sample's order statistic at integer ppm rank
  * `(m·ppm + 999999) div 10^6` (the r5 pure-integer rank rule) —
  * standard uniform-sample error ~1/√k on the rank, value-domain-free.
  *
  * Scale: state ≤ 2k longs per group however large the group; map-side
  * partials shuffle one sketch per (group, partition), never rows —
  * the same shuffle shape as [[graft.dedup.MinHashSketchAggregator]].
  */
object LevelSample {

  /** Flat buffer layout: [L, n, h1, v1, ..., hn, vn], capacity 2k
    * pairs (lazy compaction at 2k back down to ≤ k keeps appends
    * amortized O(1); laziness cannot change the final state — the
    * threshold only ever rises to the global minimum, see note above).
    */
  class Agg(k: Int) extends org.apache.spark.sql.expressions.Aggregator[
      Seq[Long], Array[Long], LevelSampleState] {
    private val cap = 2 * k

    override def zero: Array[Long] = {
      val a = new Array[Long](2 + 2 * cap)
      a(0) = 0L // threshold L
      a(1) = 0L // pair count n
      a
    }

    private def lvl(h: Long): Long = java.lang.Long.numberOfLeadingZeros(h) - 4L

    /** In-place filter at the CURRENT threshold. */
    private def filterAt(a: Array[Long]): Unit = {
      val thr = a(0)
      var r = 0
      var w = 0
      val n = a(1).toInt
      while (r < n) {
        if (lvl(a(2 + 2 * r)) >= thr) {
          a(2 + 2 * w) = a(2 + 2 * r)
          a(3 + 2 * w) = a(3 + 2 * r)
          w += 1
        }
        r += 1
      }
      a(1) = w.toLong
    }

    /** Raise L until ≤ target pairs survive; in-place filter. */
    private def compact(a: Array[Long], target: Int): Unit =
      while (a(1) > target) {
        a(0) += 1
        filterAt(a)
      }

    private def add(a: Array[Long], h: Long, v: Long): Array[Long] = {
      if (lvl(h) >= a(0)) {
        if (a(1).toInt == cap) compact(a, k)
        // re-check: compaction may have RAISED the threshold past this
        // row's level — appending unconditionally would make the kept
        // set depend on whether the row arrived before or after a
        // compaction (caught by the partitioning-invariance spec)
        if (lvl(h) >= a(0)) {
          val n = a(1).toInt
          a(2 + 2 * n) = h
          a(3 + 2 * n) = v
          a(1) = n + 1L
        }
      }
      a
    }

    override def reduce(a: Array[Long], in: Seq[Long]): Array[Long] =
      add(a, in(0), in(1))

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      if (b(0) > a(0)) { a(0) = b(0); filterAt(a) } // re-filter at b's L
      val nb = b(1).toInt
      var i = 0
      var acc = a
      while (i < nb) {
        acc = add(acc, b(2 + 2 * i), b(3 + 2 * i))
        i += 1
      }
      acc
    }

    override def finish(a: Array[Long]): LevelSampleState = {
      compact(a, k) // canonical state: minimal L with ≤ k kept
      val n = a(1).toInt
      val vs = new Array[Long](n)
      var i = 0
      while (i < n) { vs(i) = a(3 + 2 * i); i += 1 }
      java.util.Arrays.sort(vs)
      LevelSampleState(a(0), n.toLong, vs.toSeq)
    }

    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[LevelSampleState] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[LevelSampleState]()
  }

  /** The first 60 bits of md5(uid) as a BIGINT — shared with the
    * DuckDB twin (`('0x' || substring(md5(uid), 1, 15))::BIGINT`).
    * Native kernel, not the composed conv(substring(md5(...))) chain:
    * the hex-string round trip was ~90% of the sketch's scan cost at
    * 10M rows (bit-identical — [[org.apache.spark.sql.graft.Md5Prefix60]]).
    */
  def h60(uid: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.md5Prefix60(uid.cast("string"))

  /** Column form: `df.groupBy(g).agg(LevelSample.sketch(k)(array(h, v)))`.
    */
  def sketch(k: Int): Column => Column = {
    val agg = new Agg(k)
    val fn = udaf(agg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    c => fn(c)
  }

  /** Per-group sketch: (groupCols*, level, n_kept, values sorted asc).
    *
    * Null uid/value rows are SKIPPED up front (SQL aggregates skip null
    * inputs; the DuckDB twin's md5/cast chain drops them the same way) —
    * without the filter a null reaching the Seq[Long] buffer encoder is
    * an executor NPE far from its cause (ADVICE r14).
    */
  def sketchPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      uidCol: String,
      valueCol: String,
      k: Int): DataFrame =
    df.filter(col(uidCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(sketch(k)(array(h60(col(uidCol)), col(valueCol).cast("long"))).as("ls"))
      .select(
        groupCols.map(col) ++ Seq(
          col("ls.level").as("level"),
          col("ls.n_kept").as("n_kept"),
          col("ls.values").as("values")): _*)
}

/** Canonical sketch state: threshold level, kept count, kept values
  * sorted ascending (the hash keys are not part of the OUTPUT — two
  * runs agree on the kept row set, so the value multiset suffices).
  */
case class LevelSampleState(level: Long, n_kept: Long, values: Seq[Long])
