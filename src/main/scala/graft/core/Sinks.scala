package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.StructType

/** Parquet sinks (reference S2/S3, SURVEY.md §2.1: overwrite snappy
  * parquet at `prepare_training_data_pyspark.py:640-644`, bounded file
  * size via maxRecordsPerFile at ipynb cell 22).
  *
  * Scale notes: `maxRecordsPerFile` bounds individual files without a
  * repartition; `partitionByCols` gives partition pruning on read
  * (e.g. split=train/valid, or a date column) — at 100 TB the output
  * table should always be partitioned by the downstream filter key.
  */
object Sinks {

  /** Guarded collect (reference S5): the reference `collect()`s
    * label-stats and Word2Vec corpora unbounded — at 100 TB that is a
    * driver OOM. This fails fast with the row count instead.
    */
  def boundedCollect(df: DataFrame, maxRows: Int): Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(maxRows + 1).collect()
    require(
      rows.length <= maxRows,
      s"boundedCollect: result exceeds $maxRows rows — aggregate or write instead")
    rows
  }

  /** The one snappy parquet writer; every layout below ends here.
    *
    * `rowGroupBytes` bounds parquet ROW GROUPS (`parquet.block.size`),
    * not just files. Row groups are the atomic split unit of a parquet
    * file — a table written as ONE file with ONE row group is
    * single-task for every scan no matter how small
    * `spark.sql.files.maxPartitionBytes` is (the r13 finding on the
    * sf* fixtures: every scan-rate kernel pipeline ran one-task
    * locally by input layout). Bounding the group size makes file
    * splits real, so CPU-heavy per-row kernels (CDC chunking,
    * substring fingerprints) parallelize across cores even on a
    * single-file table. At 100 TB the default 128 MB group (HDFS block
    * alignment) is right for multi-file tables; set it
    * ([[ScanParallelRowGroupBytes]]) for engine-DERIVED tables and
    * fixtures where group-granular parallelism beats marginal
    * compression.
    */
  def writeParquet(
      df: DataFrame,
      path: String,
      maxRecordsPerFile: Option[Long] = None,
      partitionByCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite,
      rowGroupBytes: Option[Long] = None): Unit = {
    var w = df.write.mode(mode).option("compression", "snappy")
    rowGroupBytes.foreach(n => w = w.option("parquet.block.size", n.toString))
    maxRecordsPerFile.foreach(n => w = w.option("maxRecordsPerFile", n.toString))
    if (partitionByCols.nonEmpty) w = w.partitionBy(partitionByCols: _*)
    w.parquet(path)
  }

  /** Row-group size for scan-parallel engine-derived tables. */
  val ScanParallelRowGroupBytes: Long = 8L * 1024 * 1024

  /** One write job for several tables: each row of `df` goes to the
    * table `tables` names for its `key` value, at `dir/<name>`, as
    * [[writeParquet]] files with [[ScanParallelRowGroupBytes]] row
    * groups and `maxRecordsPerFile`. The job writes partitioned on `key`
    * into a temporary directory under `dir`, then renames each
    * partition directory to its table, replacing what is there, and
    * marks it `_SUCCESS` like a direct write. A table no row is keyed
    * to is written empty with `df`'s schema, so it still reads back as
    * zero rows; a key outside `tables` fails the call.
    *
    * Writing the tables one by one runs `df`'s plan once per table:
    * every subtree below the split point is recomputed or must be
    * cached, and each write is its own SQL execution with its own plan
    * renderings and AQE re-plans (DESIGN.md, "One anchor pass for both
    * splits").
    */
  def writeParquetByKey(
      df: DataFrame,
      key: Column,
      dir: String,
      tables: Map[String, String],
      maxRecordsPerFile: Option[Long] = None): Unit = {
    val spark = df.sparkSession
    val keyCol = "__table"
    val tmp = new Path(dir, s"_tmp_${java.util.UUID.randomUUID()}")
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      writeParquet(df.withColumn(keyCol, key), tmp.toString, maxRecordsPerFile, Seq(keyCol),
        SaveMode.ErrorIfExists, Some(ScanParallelRowGroupBytes))
      val parts = fs.listStatus(tmp).filter(_.isDirectory).map(_.getPath.getName).toSet
      val unknown = parts -- tables.keys.map(ExternalCatalogUtils.getPartitionPathString(keyCol, _))
      require(unknown.isEmpty, s"writeParquetByKey: rows keyed outside $tables: $unknown")
      tables.foreach { case (value, name) =>
        val part = new Path(tmp, ExternalCatalogUtils.getPartitionPathString(keyCol, value))
        val target = new Path(dir, name)
        fs.delete(target, true)
        if (!fs.exists(part))
          writeParquet(spark.createDataFrame(java.util.List.of[Row](), df.schema), target.toString,
            mode = SaveMode.ErrorIfExists)
        else if (fs.rename(part, target)) fs.create(new Path(target, "_SUCCESS")).close()
        else throw new java.io.IOException(s"writeParquetByKey: cannot move $part to $target")
      }
    } finally fs.delete(tmp, true)
  }

  /** Range-clustered sorted write: `repartitionByRange` on the cluster
    * key(s) + `sortWithinPartitions` before writing. Output files then
    * hold non-overlapping, internally-sorted key ranges, so parquet
    * row-group min/max statistics let any later scan with a predicate
    * on the cluster key skip whole files — partition-pruning-grade
    * selectivity without the directory explosion of `partitionBy` on a
    * high-cardinality key. The layout step for every "big fact table,
    * always filtered by time/id-range" situation at 100 TB.
    *
    * One range-exchange (sampled boundaries) is the entire extra cost;
    * the sort is per-partition, never global.
    */
  def writeClusteredParquet(
      df: DataFrame,
      path: String,
      clusterCols: Seq[String],
      numFiles: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val cols = clusterCols.map(df.col)
    writeParquet(df.repartitionByRange(numFiles, cols: _*).sortWithinPartitions(cols: _*),
      path, mode = mode)
  }

  /** Z-order clustered write: range-cluster on the Morton interleave
    * of two keys ([[org.apache.spark.sql.graft.ZOrder2]]) instead of a
    * single column. `writeClusteredParquet` on one key gives file
    * skipping on that key only; the z-curve splits the skipping power
    * across BOTH dimensions — each output file covers a narrow range
    * of x AND of y, so scans filtered on either (or both) prune files
    * via parquet min/max stats. Same cost shape as the single-key
    * variant: one sampled range exchange + per-partition sort.
    */
  def writeZOrderedParquet(
      df: DataFrame,
      path: String,
      xCol: String,
      yCol: String,
      numFiles: Int,
      bits: Int = 16,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val z = org.apache.spark.sql.graft.ZOrder2(
      df.col(xCol).cast("long"), df.col(yCol).cast("long"), bits)
    writeParquet(
      df.withColumn("__z", z)
        .repartitionByRange(numFiles, org.apache.spark.sql.functions.col("__z"))
        .sortWithinPartitions(org.apache.spark.sql.functions.col("__z"))
        .drop("__z"),
      path, mode = mode)
  }

  /** JSON-lines sink/scan — the interchange format training-data
    * pipelines ingest most. Explicit schema on read (never inferSchema:
    * a schema-inference pass is a second full scan at 100 TB, and
    * inferred types drift between runs).
    */
  def writeJsonl(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("compression", "gzip").json(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC sink/scan — same columnar guarantees as parquet (predicate
    * pushdown, column pruning) for stacks standardized on ORC.
    */
  def writeOrc(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("compression", "snappy").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
