package graft

import graft.core.Sinks
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("writeParquet: roundtrip, bounded file size, partition pruning") {
    val dir = Files.createTempDirectory("sinks").toString + "/out"
    val df = (1L to 1000L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "part")
    Sinks.writeParquet(df, dir, maxRecordsPerFile = Some(100L), partitionByCols = Seq("part"))

    val back = spark.read.parquet(dir)
    assert(back.count() == 1000L)
    assert(back.columns.toSet == Set("id", "part"))

    // maxRecordsPerFile held: each part dir has >= 5 files of <= 100 rows
    val files = new java.io.File(dir + "/part=a").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 5, s"expected >=5 bounded files, got ${files.length}")

    // partition pruning: reading one partition only touches its directory
    val pruned = back.filter(col("part") === "a")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "partition filter did not reach the scan")
    assert(pruned.count() == 500L)
  }

  test("writeScanParallelParquet: bounded row groups make a single file splittable") {
    val dir = Files.createTempDirectory("sinks").toString + "/rg"
    // ~100k rows x ~100B of incompressible-ish text ≈ several MB
    val df = spark.range(100000L)
      .select(col("id"), md5(concat_ws("_", col("id"), lit("pad"))).as("t"))
      .coalesce(1)
    Sinks.writeScanParallelParquet(df, dir, rowGroupBytes = 256L * 1024)
    val back = spark.read.parquet(dir)
    assert(back.count() == 100000L)

    // the written file must carry MULTIPLE row groups (the splittable
    // unit): read the footer directly
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getAbsolutePath),
      spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val nGroups = try reader.getRowGroups.size finally reader.close()
    assert(nGroups > 1, s"expected multiple row groups in one file, got $nGroups")

    // and the scan actually SPLITS: with a small partition-bytes cap the
    // single file yields more than one input partition
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (256L * 1024).toString)
      assert(spark.read.parquet(dir).rdd.getNumPartitions > 1,
        "multi-row-group file still scanned as one partition")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("writeParquetByKey: one job writes every table, replaces an existing one, leaves no temporary directory") {
    val dir = Files.createTempDirectory("sinks-bykey").toString
    // an existing target with other rows and another schema is replaced
    Sinks.writeParquet(spark.range(5L).toDF("old"), s"$dir/rest")
    val df = spark.range(0L, 1000L, 1L, 2).select(col("id"), (col("id") % 3).as("m"))
    val m = graft.core.StageMetrics.on(spark)
    try {
      m.drain(); m.reset()
      Sinks.writeParquetByKey(df, when(col("m") === 0, "zero").otherwise("rest"), dir,
        Map("zero" -> "zero", "rest" -> "rest"), maxRecordsPerFile = Some(100L))
      m.drain()
      // one write job over an exchange-free input is one stage
      assert(m.stages.size == 1, s"stages: ${m.stages.map(_.name)}")
    } finally m.close()
    val zero = spark.read.parquet(s"$dir/zero")
    val rest = spark.read.parquet(s"$dir/rest")
    assert(zero.schema.map(f => (f.name, f.dataType)) == df.schema.map(f => (f.name, f.dataType)))
    assert(rest.columns.toSeq == Seq("id", "m"))
    assert(zero.count() == 334L && zero.filter(col("m") =!= 0).count() == 0L)
    assert(rest.count() == 666L && rest.filter(col("m") === 0).count() == 0L)
    // maxRecordsPerFile still bounds every file
    assert(new java.io.File(s"$dir/rest").listFiles().count(_.getName.endsWith(".parquet")) >= 7)
    assert(new java.io.File(s"$dir/rest/_SUCCESS").exists)
    assert(new java.io.File(dir).list().toSet == Set("zero", "rest"))
  }

  test("writeParquetByKey: a table no row is keyed to reads back empty with the full schema") {
    val dir = Files.createTempDirectory("sinks-bykey").toString
    val df = spark.range(10L).select(col("id"), col("id").cast("string").as("s"))
    Sinks.writeParquetByKey(df, lit("a"), dir, Map("a" -> "ta", "b" -> "tb"))
    val tb = spark.read.parquet(s"$dir/tb")
    assert(tb.count() == 0L)
    assert(tb.schema.map(f => (f.name, f.dataType)) == df.schema.map(f => (f.name, f.dataType)))
    assert(spark.read.parquet(s"$dir/ta").count() == 10L)
    assert(new java.io.File(dir).list().toSet == Set("ta", "tb"))
  }

  test("writeParquetByKey: a key outside the tables fails loud and leaves no temporary directory") {
    val dir = Files.createTempDirectory("sinks-bykey").toString
    val df = spark.range(10L).toDF("id")
    val e = intercept[IllegalArgumentException](
      Sinks.writeParquetByKey(df, when(col("id") < 5, "a").otherwise("c"), dir, Map("a" -> "ta")))
    assert(e.getMessage.contains("keyed outside"))
    assert(new java.io.File(dir).list().isEmpty)
  }

  test("dynamic partition overwrite replaces only the touched partitions") {
    // the incremental-reload contract at 100 TB: rewriting one day/split
    // must not wipe sibling partitions (static overwrite mode does)
    val dir = Files.createTempDirectory("sinks-dyn").toString + "/out"
    val before = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Sinks.writeParquet(
        Seq((1L, "a"), (2L, "b")).toDF("id", "part"), dir,
        partitionByCols = Seq("part"))
      // overwrite ONLY partition a with a new row
      Sinks.writeParquet(
        Seq((99L, "a")).toDF("id", "part"), dir,
        partitionByCols = Seq("part"))
      val back = spark.read.parquet(dir)
        .as[(Long, String)].collect().toSet
      assert(back == Set((99L, "a"), (2L, "b")),
        "partition b must survive the partial overwrite")
    } finally {
      before match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  test("ignoreCorruptFiles: a damaged part file degrades to partial data, not job failure") {
    val dir = Files.createTempDirectory("sinks-corrupt").toString + "/out"
    Seq(1L, 2L, 3L).toDF("id").repartition(1).write.parquet(dir)
    // plant a corrupt sibling part file
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-99999-corrupt.snappy.parquet"),
      "not a parquet file".getBytes)
    val before = spark.conf.getOption("spark.sql.files.ignoreCorruptFiles")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try {
      val n = spark.read.parquet(dir).count()
      assert(n == 3L, "healthy rows must survive a corrupt sibling file")
    } finally {
      before match {
        case Some(v) => spark.conf.set("spark.sql.files.ignoreCorruptFiles", v)
        case None => spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
      }
    }
  }

  test("schema evolution: mergeSchema unifies columns added over time") {
    val dir = Files.createTempDirectory("sinks-evo").toString + "/out"
    // day 1: (id); day 2 adds a column — the additive-evolution contract
    Seq(1L, 2L).toDF("id").write.parquet(dir + "/day=1")
    Seq((3L, "x")).toDF("id", "extra").write.parquet(dir + "/day=2")
    val back = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(back.columns.toSet == Set("id", "extra", "day"))
    // old rows surface the new column as null, no rewrite of day 1
    assert(back.filter(col("day") === 1 && col("extra").isNull).count() == 2)
    assert(back.filter(col("extra") === "x").count() == 1)
  }

  test("jsonl: roundtrip with explicit schema, gzip files") {
    val dir = Files.createTempDirectory("sinks").toString + "/jsonl"
    val df = (1L to 100L).map(i => (i, s"text $i", i * 0.5)).toDF("id", "text", "score")
    Sinks.writeJsonl(df, dir)
    val back = Sinks.readJsonl(spark, dir, df.schema)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".json.gz")))
  }

  test("orc: roundtrip, predicate pushdown reaches the scan") {
    val dir = Files.createTempDirectory("sinks").toString + "/orc"
    val df = (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")
    Sinks.writeOrc(df, dir)
    val back = Sinks.readOrc(spark, dir).filter(col("id") > 900L)
    assert(back.count() == 100L)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,900)]"),
      s"orc scan missing pushed filter:\n$plan")
  }

  test("readJsonl: corrupt lines degrade to null rows, never a job failure") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("jsonl-corrupt")
    Files.writeString(
      dir.resolve("part-0.jsonl"),
      "{\"a\": 1, \"b\": \"x\"}\nnot json at all\n{\"a\": 2, \"b\": \"y\"}\n")
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val df = Sinks.readJsonl(spark, dir.toString, schema)
    // PERMISSIVE ingest: a 100 TB crawl WILL contain garbage lines; one
    // bad record must cost one null row, not the stage (same contract
    // as the MediaDecoder zero-vector rule)
    assert(df.count() == 3)
    assert(df.filter(col("a").isNull && col("b").isNull).count() == 1)
    assert(df.filter(col("a").isNotNull).as[(Long, String)].collect().toSet ==
      Set((1L, "x"), (2L, "y")))
  }

  test("writeClusteredParquet: disjoint sorted key ranges per file, stats-based skipping") {
    val dir = Files.createTempDirectory("sinks").toString + "/clustered"
    val df = (1L to 10000L).map(i => ((i * 7919L) % 10000L, i)).toDF("key", "payload")
    Sinks.writeClusteredParquet(df, dir, Seq("key"), numFiles = 8)

    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length >= 4, s"expected multiple clustered files, got ${files.length}")
    // each file internally sorted; file ranges pairwise disjoint
    val ranges = files.map { f =>
      val keys = spark.read.parquet(f.toString).select("key").as[Long].collect()
      assert(keys.sameElements(keys.sorted), s"${f.getName} not sorted on the cluster key")
      (keys.min, keys.max)
    }
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Array((_, hiA), (loB, _)) => assert(hiA <= loB, "file key ranges overlap")
      case _                         =>
    }
    // roundtrip intact and a point predicate prunes row groups via stats
    val back = spark.read.parquet(dir)
    assert(back.count() == 10000L)
    assert(back.filter(col("key") === 42L).count() == df.filter(col("key") === 42L).count())
  }

  test("zorder2: interleave matches the bit-arithmetic definition and known points") {
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
      .select(org.apache.spark.sql.graft.ZOrder2(col("x"), col("y"), 16).as("z"))
      .as[Long].collect().toSeq
    // z(1,0)=1, z(0,1)=2, z(3,5) = x bits at even, y bits at odd
    //   x=011 -> 0b010101 & even = 1,4 ; y=101 -> odd bits 1,0,1 -> 2+32
    assert(out == Seq(0L, 1L, 2L, 1L + 4L + 2L + 32L, (1L << 32) - 1L))
  }

  test("writeZOrderedParquet: every file is narrow in BOTH dimensions") {
    val dir = Files.createTempDirectory("sinks").toString + "/zordered"
    // a 100x100 grid — single-key clustering on x would leave every
    // file spanning the full y range
    val df = (0L until 10000L).map(i => (i / 100L, i % 100L)).toDF("x", "y")
    Sinks.writeZOrderedParquet(df, dir, "x", "y", numFiles = 16, bits = 8)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length >= 8, s"expected multiple z-ordered files, got ${files.length}")
    val spans = files.map { f =>
      val rows = spark.read.parquet(f.toString).select("x", "y")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val xs = rows.map(_._1); val ys = rows.map(_._2)
      (xs.max - xs.min, ys.max - ys.min)
    }
    // z-curve cells: average per-file span must be well under the full
    // 0..99 extent on BOTH axes (a single-key sort gives ~0 on one and
    // ~99 on the other)
    val avgX = spans.map(_._1).sum.toDouble / spans.length
    val avgY = spans.map(_._2).sum.toDouble / spans.length
    assert(avgX < 60 && avgY < 60, f"files not 2-d clustered: avg x-span $avgX%.1f, y-span $avgY%.1f")
    assert(spark.read.parquet(dir).count() == 10000L)
  }

  test("saltedJoin: identical row set to the plain join, partitioned on (key, salt)") {
    val large = (1L to 5000L).map(i => (if (i % 10 < 8) 1L else i % 50L, i))
      .toDF("k", "row_id") // 80% of rows share key 1 — heavy skew
    val dim = Seq((1L, "hot"), (2L, "a"), (7L, "b"), (49L, "c")).toDF("k", "v")
    val plain = large.join(dim, Seq("k"))
    val salted = graft.ops.Joins.saltedJoin(large, dim, "k", col("row_id"), nSalts = 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
      "salting must not change the join result")
    val p = salted.queryExecution.executedPlan.toString
    assert(p.contains("__salt"), s"join must carry the salt key:\n$p")
  }
}
