package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content digest of a result: row count plus two
  * sums of per-row hashes (each reduced mod a prime, so the sums cannot
  * overflow). Summing makes the digest independent of row order and
  * partitioning while still counting duplicate rows. Columns are hashed
  * by position, so the digest does not depend on column names.
  */
object Digest {
  private val P = 1000000007L

  /** -0.0 and NaN payloads hash like 0.0 and NaN; nested values are
    * normalized element by element, maps after sorting their entries.
    */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(isnan(d), lit(Double.NaN)).otherwise(d + lit(0.0))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType =>
      struct(st.fields.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      transform(array_sort(map_entries(c)), e => struct(norm(e.getField("key"), kt), norm(e.getField("value"), vt)))
    case _ => c
  }

  def of(df: DataFrame): String = {
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = pos.schema.fields.toIndexedSeq.map(f => norm(col(f.name), f.dataType))
    // a zero-column result hashes every row alike
    val h1 = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(P))
    val h2 = if (cols.isEmpty) lit(0L) else pmod(hash(cols: _*).cast(LongType), lit(P))
    val r = pos.select(h1.as("a"), h2.as("b"))
      .agg(count(lit(1)), coalesce(sum("a"), lit(0L)), coalesce(sum("b"), lit(0L)))
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }
}
