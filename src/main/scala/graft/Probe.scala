package graft

import graft.core.{Caches, LocalSpark, Sinks, StageMetrics, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** The scale-evidence probes DESIGN.md cites, one mode each, on
  * `local[32]`: `tools/probe.sh graft.Probe <mode> [args...]`.
  */
object Probe {
  private val DefaultSf = "/root/testdata/sf0.1"

  val usage: String =
    s"""Usage: Probe <mode> [args...]
      |  scale-cohort     <R> [srcSf] [outDir] [queryFilter]  events Rx, the q200-q243 cohort
      |  scale-docs       <R> [srcSf] [outDir] [queryFilter]  documents Rx, curation ops
      |  scale-embeddings <R> [srcSf] [outDir] [queryFilter]  embeddings Rx, ANN + diagnostics
      |  scale-lineitem   <R> [srcSf] [outDir]                lineitem Rx, order statistics
      |  stream-soak      [sfDir] [rep] [filesPerTrigger]     chained stateful stream vs batch twin
      |  row-groups       [srcSf] [outDir]                    scan kernels, 1 vs bounded row groups
      |srcSf/sfDir default to $DefaultSf.""".stripMargin

  def main(args: Array[String]): Unit = {
    val modes: Map[String, Array[String] => Unit] = Map(
      "scale-cohort" -> scaleCohort, "scale-docs" -> scaleDocs,
      "scale-embeddings" -> scaleEmbeddings, "scale-lineitem" -> scaleLineitem,
      "stream-soak" -> streamSoak, "row-groups" -> rowGroups)
    args.headOption.flatMap(modes.get) match {
      case Some(run) => run(args.tail)
      case None =>
        System.err.println(usage)
        sys.exit(2)
    }
  }

  /** `base` replicated R×, the replica index as column `__r`. */
  private def replicate(base: DataFrame, r: Int): DataFrame =
    base.select(explode(sequence(lit(0L), lit(r - 1L))).as("__r"), col("*"))

  /** One `[scale]` line: wall, shuffle written and rows of `count`. */
  private def timed(m: StageMetrics, name: String)(count: => Long): Unit = {
    m.drain()
    m.reset()
    val t0 = System.nanoTime()
    val res = try Right(count) catch { case e: Throwable => Left(e.toString.take(120)) }
    val t = (System.nanoTime() - t0) / 1e9
    m.drain()
    val mb = m.shuffleWriteBytes / 1e6
    res match {
      case Right(rows) => println(f"[scale] $name%-28s $t%8.1f s $mb%8.1f MB $rows%10d rows")
      case Left(err) => println(f"[scale] $name%-28s $t%8.1f s FAILED: $err")
    }
  }

  /** The round-8 statistics/graph cohort (q200–q243) plus the
    * events-backed late block on sf0.1's events replicated R× (fresh
    * user ids per replica, the item catalog and date range fixed — more
    * users on the same shop, the realistic densification). Catches the
    * q193/q227 pathology class (superlinear plan/iteration blowups) that
    * only shows up past the bench scale. R=100 = 10M events.
    */
  private def scaleCohort(args: Array[String]): Unit = {
    val r = args.headOption.map(_.toInt).getOrElse(100)
    val src = args.lift(1).getOrElse(DefaultSf)
    val out = args.lift(2).getOrElse(s"/tmp/scale_x$r")
    val queryFilter = args.lift(3).getOrElse("")
    val spark = LocalSpark(32)
    val base = Tables.events(spark, src)
    val userSpan = base.agg(max(col("user_id"))).head().getLong(0) + 1L
    val idSpan = base.agg(max(col("event_id"))).head().getLong(0) + 1L
    replicate(base, r)
      .select(
        (col("event_id") + col("__r") * idSpan).as("event_id"),
        col("ts"),
        (col("user_id") + col("__r") * userSpan).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val n = spark.read.parquet(s"$out/events.parquet").count()
    println(s"[scale] events x$r = $n rows at $out")

    val m = StageMetrics.on(spark)
    val cohort = SparkEntry.queries.keys.toSeq.sorted
      .filter(k => k.matches("q2[0-4][0-9].*")) ++
      Seq("q291_weighted_negatives", "q292_f1_threshold",
        "q303_stream_wcounts", "q304_stream_attrib", "q305_stream_enrich",
        "q306_accuracy_at1", "q307_stream_merge_sessions",
        "q308_approx_distinct_audit",
        "q309_unattributed_purchases",
        "q310_attribution_ledger",
        "q311_rank_sketch") // events-backed late block + r12-r14 additions
    val skip = Set("q208_textrank", "q233_fk_orphans", "q234_pareto_revenue",
      "q235_rfm_segments", "q236_dup_cluster_stats", "q244_k_anonymity",
      "q245_l_diversity", "q247_flesch", "q248_oov_rate", "q249_good_turing",
      "q250_distinct_n", "q251_source_overlap") // non-events tables
    Caches.withScope {
      cohort.filterNot(skip).filter(_.contains(queryFilter)).foreach { name =>
        timed(m, name)(SparkEntry.queries(name)(spark, out).queryExecution.toRdd.count())
        // the q308 audit's bounded swap: same audit over a deterministic
        // 1/16 md5 value subset — the exact side's distinct exchange
        // shrinks by the mod while the error contract is unchanged
        if (name == "q308_approx_distinct_audit")
          timed(m, "q308_sampled_mod16") {
            graft.ops.Profile.approxDistinctAudit(
                Tables.events(spark, out).select(col("event_id"), col("user_id"), col("event_type")),
                Seq("event_id", "user_id", "event_type"), sampleMod = 16)
              .queryExecution.toRdd.count()
          }
      }
    }
    spark.stop()
  }

  /** The documents-backed curation ops on sf0.1's documents replicated
    * R× with fresh doc_ids and a per-replica marker token appended to the
    * text (so shingle/token sets differ slightly across replicas — exact
    * copies would make every dedup-ish candidate structure degenerate in
    * a way no real corpus is). Catches per-round full-pass blowups
    * (q268's iterative anti-joins) and postings-join amplification that
    * the 5k-doc bench scale cannot. R=100 = 500k docs; reuses outDir if
    * it already holds the replica parquet.
    */
  private def scaleDocs(args: Array[String]): Unit = {
    val r = args.headOption.map(_.toInt).getOrElse(100)
    val src = args.lift(1).getOrElse(DefaultSf)
    val out = args.lift(2).getOrElse(s"/tmp/scale_docs_x$r")
    val queryFilter = args.lift(3).getOrElse("")
    val spark = LocalSpark(32)
    if (!new java.io.File(s"$out/documents.parquet/_SUCCESS").exists()) {
      val base = Tables.documents(spark, src)
      val idSpan = base.agg(max(col("doc_id"))).head().getLong(0) + 1L
      replicate(base, r)
        .select(
          (col("doc_id") + col("__r") * idSpan).as("doc_id"),
          concat(col("text"), lit(" zrep"), col("__r")).as("text"),
          col("lang"), col("source"),
          (col("n_chars") + length(concat(lit(" zrep"), col("__r"))))
            .as("n_chars"))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }
    val n = spark.read.parquet(s"$out/documents.parquet").count()
    println(s"[scale] documents x$r = $n rows at $out")

    val m = StageMetrics.on(spark)
    val cohort = Seq(
      "q267_token_allocation", "q268_coverage_select", "q272_rare_token_docs",
      "q275_curriculum", "q247_flesch", "q248_oov_rate", "q249_good_turing",
      "q250_distinct_n", "q251_source_overlap",
      // round-9 continuation block (doc-backed; q282 runs its contract
      // df cap here — replicas push shared-frame df to ~2R so the join
      // stage empties; ProbeFrameDedup held occupancy for that stage —
      // DESIGN.md "Round-9 continuation block" q282 join-stage row,
      // `git show 519ff36:src/main/scala/graft/ProbeFrameDedup.scala`)
      "q281_naive_bayes", "q282_frame_neardup", "q283_url_canonical",
      "q284_tokenizer_fertility", "q288_bpe_compression", "q290_dataset_card",
      "q312_phash_neardup") // r14: perceptual near-dup
    // q279's exact ground-truth side is support-sized BY DESIGN and
    // cannot run unsampled at corpus scale: the audit mode estimates
    // pairs completeness on a deterministic md5 doc sample. mod is
    // sized to hold the sampled-side doc count ~5k (the contract
    // scale) as the corpus grows.
    val sampleMod = math.max(1L, n / 5000L)
    val direct: Seq[(String, () => DataFrame)] = Seq(
      (s"q279_blocking[mod=$sampleMod]", () =>
        graft.queries.CurationQueries.blockingQualityAudit(
          Tables.documents(spark, out), sampleMod)),
      // q179's stride-1 position scan is corpus-char-rate by design;
      // the audit mode holds the sampled sub-corpus at the contract
      // volume as the corpus grows — expected: shuffle at (R, mod=R)
      // ~= the sf0.1 contract row's 33 MB, corpus-size-independent.
      (s"q179_repeats[mod=$sampleMod]", () =>
        graft.dedup.Dedup.maximalRepeatRangesAudit(
          Tables.documents(spark, out), "text", "doc_id",
          minLen = 16, sampleMod = sampleMod)))
    val runnable = cohort.map(q => (q, () => SparkEntry.queries(q)(spark, out))) ++ direct
    runnable.filter(_._1.contains(queryFilter)).foreach { case (name, mk) =>
      Caches.withScope(timed(m, name)(mk().count()))
    }
    spark.stop()
  }

  /** The embedding cohort (ANN indexes + the round-9 diagnostics
    * q254–q261) on sf0.1's embeddings replicated R× with fresh vec_ids
    * and a small deterministic per-replica perturbation (±0.1 per
    * component, a pure hash of (vec_id, pos)) so replicas do NOT
    * collapse into identical LSH/IVF buckets — duplicated points would
    * manufacture bucket skew no real corpus has. Labels keep their
    * marginal distribution. Catches superlinear pair blowups, broadcast
    * walls, and guard misfires that the 2k-row bench scale cannot.
    * R=500 = 1M vectors; reuses outDir if it already holds the replica
    * parquet.
    */
  private def scaleEmbeddings(args: Array[String]): Unit = {
    val r = args.headOption.map(_.toInt).getOrElse(500)
    val src = args.lift(1).getOrElse(DefaultSf)
    val out = args.lift(2).getOrElse(s"/tmp/scale_emb_x$r")
    val queryFilter = args.lift(3).getOrElse("")
    val spark = LocalSpark(32)
    if (!new java.io.File(s"$out/embeddings.parquet/_SUCCESS").exists()) {
      val base = Tables.embeddings(spark, src)
      val idSpan = base.agg(max(col("vec_id"))).head().getLong(0) + 1L
      replicate(base, r)
        .select(
          (col("vec_id") + col("__r") * idSpan).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x.cast("double") +
              (pmod(xxhash64(col("vec_id"), col("__r"), i), lit(201L)) - 100L)
                .cast("double") * 0.001).cast("float")).as("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }
    val n = spark.read.parquet(s"$out/embeddings.parquet").count()
    println(s"[scale] embeddings x$r = $n rows at $out")

    val m = StageMetrics.on(spark)
    val cohort = Seq(
      "q36_knn_lsh", "q40_embedding_neardup_lsh", "q41_knn_ivf",
      "q58_label_centroids", "q142_semantic_dedup", "q155_knn_pq",
      "q160_knn_ivfpq", "q199_random_projection",
      "q254_silhouette", "q255_stratified_kfold", "q256_power_iteration",
      "q257_conformal_coverage", "q258_matryoshka_fidelity",
      "q260_label_noise", "q261_centroid_drift",
      "q266_int8_quant", "q269_kcenter_coreset", "q274_embedding_anova",
      "q313_kmeans")
    // Bucket-quadratic LSH ops: the contract pins planes for the oracle
    // (6/8 at 500–2k vectors); at scale `planes` is the deployment knob
    // that holds bucket occupancy ~n/2^planes constant. Probe them with
    // scale-matched planes (occupancy ~30) instead of the toy setting.
    val scalePlanes =
      math.max(6, (math.log(n / 30.0) / math.log(2.0)).ceil.toInt)
    val direct: Seq[(String, () => DataFrame)] = Seq(
      (s"q270_mutual_knn[p=$scalePlanes]", () =>
        graft.similarity.Similarity.mutualKnn(
          Tables.embeddings(spark, out), "vec_id", "embedding",
          planes = scalePlanes)),
      (s"q271_hard_negs[p=$scalePlanes]", () =>
        graft.similarity.Similarity.hardNegatives(
          Tables.embeddings(spark, out), "vec_id", "label",
          "embedding", planes = scalePlanes, queryMod = 1000L)),
      (s"q277_knn_outliers[p=$scalePlanes]", () =>
        graft.similarity.Similarity.knnOutliers(
          Tables.embeddings(spark, out), "vec_id", "embedding",
          planes = scalePlanes)))
    val runnable = cohort.map(q => (q, () => SparkEntry.queries(q)(spark, out))) ++ direct
    runnable.filter(_._1.contains(queryFilter)).foreach { case (name, mk) =>
      Caches.withScope(timed(m, name)(mk().count()))
    }
    spark.stop()
  }

  /** The lineitem order-statistics cohort (q46/q99/q114 — the round-12
    * support-grain recasts, VERDICT r12 item 4) on sf0.1's lineitem
    * replicated R× (fresh order keys per replica, the value domain and
    * group keys fixed — more rows over the same ~4-value returnflag
    * dimension, exactly the regime where the old per-row rank windows
    * collapsed to one hot task per group). R=17 = 10.2M rows.
    */
  private def scaleLineitem(args: Array[String]): Unit = {
    val r = args.headOption.map(_.toInt).getOrElse(17)
    val src = args.lift(1).getOrElse(DefaultSf)
    val out = args.lift(2).getOrElse(s"/tmp/scale_li_x$r")
    val spark = LocalSpark(32)
    val base = spark.read.parquet(s"$src/lineitem.parquet")
    val keySpan = base.agg(max(col("l_orderkey"))).head().getLong(0) + 1L
    // bounded row groups (r14 rule): the single-partition explode would
    // otherwise land as one file with default 128 MB groups —
    // single-task for every scan, understating the cohort's map-side
    // parallelism at exactly the scale the probe exists to show
    Sinks.writeParquet(
      replicate(base, r).select(
        (col("l_orderkey") + col("__r") * keySpan).as("l_orderkey") +:
          base.columns.filterNot(_ == "l_orderkey").map(col): _*),
      s"$out/lineitem.parquet", rowGroupBytes = Some(Sinks.ScanParallelRowGroupBytes))
    val n = spark.read.parquet(s"$out/lineitem.parquet").count()
    println(s"[scale] lineitem x$r = $n rows at $out")

    val m = StageMetrics.on(spark)
    val cohort = Seq(
      "q46_group_quantiles", "q99_winsorize", "q114_mad_outliers",
      "q69_exact_median")
      .filter(SparkEntry.queries.contains)
    Caches.withScope {
      cohort.foreach { name =>
        timed(m, name)(SparkEntry.queries(name)(spark, out).queryExecution.toRdd.count())
      }
    }
    spark.stop()
  }

  /** Streaming soak (VERDICT r14 item 7): the CHAINED two-stateful-op
    * topology — q310 full-outer click/purchase interval join feeding a
    * per-user tumbling-window attribution count
    * ([[graft.streaming.StreamingIntervalJoin.attributionWindowCounts]])
    * — driven as a REAL multi-batch stream over ×`rep` events (default
    * ×100 ≈ 4M click/purchase rows from sf0.1), with:
    *
    *  - per-operator STATE sizes read off StreamingQueryProgress
    *    (max rows / bytes across batches — the state-bound evidence);
    *  - ZERO-PHANTOM / ZERO-DROP parity vs the batch twin (the same
    *    function over batch frames): every emitted row must exist in the
    *    batch result, and every batch window the final watermark closed
    *    must have been emitted.
    *
    * Feeds are written time-CLUSTERED (range-partitioned by ts) and read
    * with maxFilesPerTrigger, so AvailableNow replays them as many
    * micro-batches whose watermark advances in event-time order — the
    * soak exercises cross-batch state handoff, not one mega-batch.
    */
  private def streamSoak(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(DefaultSf)
    val rep = args.lift(1).map(_.toInt).getOrElse(100)
    val filesPerTrigger = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = LocalSpark(32)
    import spark.implicits._

    // ×rep: replicate each event per replica index, remapping user_id
    // (and event_id uniqueness) so per-user densities stay realistic
    // while the user population scales — the scale-cohort recipe.
    val ev = replicate(
        Tables.events(spark, sfDir)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
        rep)
      .select(
        (col("user_id") * rep + col("__r")).as("user_id"),
        col("ts"),
        (col("event_id") * rep + col("__r")).as("event_id"),
        col("event_type"))
      .localCheckpoint(true)
    val work = java.nio.file.Files.createTempDirectory("soak").toString
    val (clickDir, purchDir) = (s"$work/clicks", s"$work/purchases")
    Sinks.writeClusteredParquet(
      ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id"), clickDir, Seq("ts"), numFiles = 40)
    Sinks.writeClusteredParquet(
      ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id"), purchDir, Seq("ts"), numFiles = 40)
    // FileStreamSource batches files in MODIFICATION-TIME order, and a
    // parallel write stamps near-identical mtimes — batches then pull
    // arbitrary ts ranges, the watermark jumps ahead, and whole earlier
    // files become late data (first soak run: 3900 false organics,
    // 561k dropped windows at x100). Stamp mtimes in path order ==
    // range-cluster order == event-time order, so the replay is a
    // time-ordered feed (what a production log shipper delivers).
    def orderMtimes(dir: String): Unit = {
      val fs = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      var t = System.currentTimeMillis() - fs.length * 2000L
      fs.foreach { f => f.setLastModified(t); t += 2000L }
    }
    orderMtimes(clickDir)
    orderMtimes(purchDir)
    val nClicks = ev.filter(col("event_type") === "click").count()
    val nPurch = ev.filter(col("event_type") === "purchase").count()
    println(s"[soak] feeds: $nClicks clicks, $nPurch purchases (rep=$rep)")

    def feed(dir: String) = spark.readStream
      .schema("user_id long, ts timestamp, event_id long")
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(dir)
    def windows(clicks: DataFrame, purchases: DataFrame): DataFrame =
      graft.streaming.StreamingIntervalJoin
        .attributionWindowCounts(clicks, purchases)
        .select(
          col("user_id"),
          unix_micros(col("w.start")).as("w_start_us"),
          unix_micros(col("w.end")).as("w_end_us"),
          col("n_attributed"), col("n_organic"))

    val t0 = System.nanoTime()
    val q = windows(feed(clickDir), feed(purchDir))
      .writeStream
      .format("memory")
      .queryName("soak_attrib")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wallS = (System.nanoTime() - t0) / 1e9

    // per-operator state high-water marks across all micro-batches
    val progress = q.recentProgress.toSeq
    val opMax = progress
      .flatMap(_.stateOperators.toSeq)
      .groupBy(_.operatorName)
      .map { case (name, ops) =>
        (name, ops.map(_.numRowsTotal).max, ops.map(_.memoryUsedBytes).max)
      }
    opMax.toSeq.sortBy(_._1).foreach { case (name, rows, bytes) =>
      println(f"[soak] state $name: max $rows rows, ${bytes / 1e6}%.1f MB")
    }
    println(f"[soak] ${progress.length} batches, $wallS%.1f s stream wall")

    val streamed = spark.table("soak_attrib")
      .as[(Long, Long, Long, Long, Long)].collect().toSet

    // batch twin: the SAME operator over batch frames (watermarks are
    // no-ops in batch) — the complete, cutoff-free result
    val batch = windows(spark.read.parquet(clickDir), spark.read.parquet(purchDir))
      .as[(Long, Long, Long, Long, Long)].collect().toSet

    val phantoms = streamed -- batch
    // closed set: the final joint watermark W = min(click max − 1h,
    // purchase max − 30min); the downstream agg's delayed watermark is
    // W − lookback (the join may emit organic rows up to lookback late),
    // so every batch window with end ≤ W − lookback must have emitted.
    val w = spark.read.parquet(clickDir)
      .select(max(unix_micros(col("ts"))) - 3600000000L).as[Long].head()
      .min(spark.read.parquet(purchDir)
        .select(max(unix_micros(col("ts"))) - 1800000000L).as[Long].head())
    val mustEmit = batch.filter(_._3 <= w - 1800000000L)
    val dropped = mustEmit -- streamed
    println(s"[soak] streamed=${streamed.size} batch=${batch.size} " +
      s"closed=${mustEmit.size} phantoms=${phantoms.size} dropped=${dropped.size}")
    val batchByKey = batch.groupBy(r => (r._1, r._2, r._3))
    phantoms.take(3).foreach { r =>
      println(s"[soak] PHANTOM $r batch-side=" +
        batchByKey.getOrElse((r._1, r._2, r._3), Set.empty))
    }
    val streamByKey = streamed.groupBy(r => (r._1, r._2, r._3))
    dropped.take(3).foreach { r =>
      println(s"[soak] DROPPED $r stream-side=" +
        streamByKey.getOrElse((r._1, r._2, r._3), Set.empty))
    }
    assert(phantoms.isEmpty && dropped.isEmpty,
      "soak parity violated — see PHANTOM/DROPPED lines")
    println("[soak] zero-phantom / zero-drop parity PASS")
    spark.stop()
  }

  /** Scan parallelism of the per-row kernel cohort (r13 finding / r13
    * verdict item 5): every sf* fixture is ONE parquet file with ONE row
    * group, and row groups are atomic to readers — so every scan-rate
    * kernel pipeline (CDC chunking, substring fingerprints, readability,
    * bootstrap) runs single-task locally REGARDLESS of
    * `maxPartitionBytes`, and `max_task_frac ≈ 1` on those queries is
    * input layout, not plan skew. Rewrites the heavy tables with bounded
    * row groups (`rowGroupBytes` of [[graft.core.Sinks.writeParquet]]),
    * symlinks the rest, and times the cohort on both layouts. Expected:
    * identical plan fingerprints (paths are normalized out), wall drops
    * roughly by the core multiple, max_task_frac < 0.5.
    */
  private def rowGroups(args: Array[String]): Unit = {
    val rewrite = Seq("documents", "lineitem", "events", "orders")
    val link = Seq("region", "nation", "customer", "supplier", "part", "embeddings")
    // the r13 bench rows where max_task_frac was blind because the scan
    // cannot split (documents kernels, lineitem single-pass stats)
    val cohort = Seq(
      "q01_pricing_summary", "q187_cdc_chunks", "q128_substring_repeats",
      "q179_short_repeats", "q102_dup_spans", "q134_winnowing",
      "q133_containment", "q247_flesch", "q59_repetition",
      "q121_bootstrap_ci", "q101_correlation", "q79_cube",
      "q88_grouping_sets", "q72_rollup", "q69_exact_median")
    val src = args.headOption.getOrElse(DefaultSf)
    val out = args.lift(1).getOrElse("/tmp/rg_" + new java.io.File(src).getName)
    // splits follow row groups: a small cap so a multi-group file fans
    // out even at sf0.1 sizes (the sf* tables are 1-30 MB)
    val spark = LocalSpark(32,
      conf = Map("spark.sql.files.maxPartitionBytes" -> (2L * 1024 * 1024).toString))

    val outDir = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(outDir)
    rewrite.foreach { t =>
      // coalesce(1): keep ONE file so the measured difference is purely
      // row-group count, not file count
      Sinks.writeParquet(
        spark.read.parquet(s"$src/$t.parquet").coalesce(1),
        s"$out/$t.parquet",
        rowGroupBytes = Some(1L * 1024 * 1024))
      println(s"[rg] rewrote $t")
    }
    link.foreach { t =>
      val l = outDir.resolve(s"$t.parquet")
      if (!java.nio.file.Files.exists(l, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        java.nio.file.Files.createSymbolicLink(l, java.nio.file.Paths.get(s"$src/$t.parquet"))
    }

    val m = StageMetrics.on(spark)
    def run(dir: String, label: String): Unit = {
      println(s"[rg] === $label ($dir)")
      Caches.withScope {
        cohort.foreach { name =>
          m.drain()
          m.reset()
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, dir)
          df.queryExecution.toRdd.count()
          val t = (System.nanoTime() - t0) / 1e9
          m.drain()
          val frac = if (t > 0) m.maxTaskMs / 1e3 / t else 0.0
          val fp = Bench.planFingerprint(df)
          println(f"[rg] $name%-26s $t%7.2f s  max_task_frac $frac%4.2f  $fp")
        }
      }
    }
    // warm-up (JIT/codegen): one cheap pass over both layouts
    Seq(src, out).foreach(d => spark.read.parquet(s"$d/lineitem.parquet").count())
    run(src, "baseline 1-row-group")
    run(out, "bounded row groups")
    spark.stop()
  }
}
