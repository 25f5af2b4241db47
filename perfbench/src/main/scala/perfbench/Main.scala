package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. run.py builds it and calls
  *
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --root DIR`
  *
  * Set-up (session start, input preparation) runs three times; then one
  * warm-up pass checks every output against its golden, and the
  * workload's untimed warm passes follow; then
  * closed-loop passes run for `--seconds`: one client thread, each
  * request waits for the previous one. With `--trace 1`, untraced and
  * traced passes alternate; the traced ones give the per-layer numbers
  * and their wall against the untraced ones is the tracing overhead. The
  * last stdout line is the result JSON.
  */
object Main {
  val SetupReps = 3
  // events per rr_build input: small enough that a cold and a warm build
  // fit in one run; the build is then mostly the pipeline's fixed cost
  val RrEvents = 30000L

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, root: String,
      writeGoldens: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.getOrElse("root", "."), m.get("write-goldens").contains("1"))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The fixed bench configuration: local[nproc], nproc shuffle
    * partitions, AQE on; scratch space inside the checkout.
    */
  def session(build: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$build/spark-local")
      .config("spark.sql.warehouse.dir", s"$build/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(a: Args, bench: String, work: String): Workload = a.workload match {
    case "contract_floor" =>
      new Contract(s"$bench/data/sf0.01", Contract.readGoldens(s"$bench/goldens/${a.workload}.tsv"), a.seed)
    case "rr_build" =>
      new RrBuild(work, a.seed, RrEvents, RrBuild.readGoldens(s"$bench/goldens/rr_build.tsv").get(a.seed))
    case w => sys.error(s"unknown workload $w")
  }

  final case class Pass(traced: Boolean, wallS: Double, shuffleBytes: Long, outputBytes: Long,
      reqs: Seq[Req], spanId: Long)

  /** Exits explicitly: a thread Spark leaves behind must not keep the
    * JVM (and the caller's time budget) alive after the result.
    */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  def run(a: Args): Unit = {
    val bench = s"${a.root}/perfbench"
    val build = s"${a.root}/.bench_build"
    val work = s"$build/work/${a.workload}-${a.seed}-${ProcessHandle.current.pid}"
    val jvmStartS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val wl = workload(a, bench, work)

    // ---- set-up, several times: session start + inputs ----
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(build)
      wl.prepare(spark)
      (System.nanoTime() - t0) / 1e9 + (if (i == 1) jvmStartS else 0.0)
    }
    val sc = spark.sparkContext
    val rec = new Recorder(sc, a.trace)
    sc.addSparkListener(rec)
    // the first pass is the workload's warm-up and content check: JIT,
    // codegen and file caches fill here, not in the measured passes
    val t0 = System.nanoTime()
    val checks = wl.warmup(spark)
    val warmReqs = (1 to wl.warmPasses).flatMap(_ => wl.pass(new Ctx(spark, new Tracer(sc, false))))
    val warm = (System.nanoTime() - t0) / 1e9
    val verifyFailures = checks.filterNot(_.ok).map(c => s"${c.name}: got ${c.got}, golden ${c.want}")
    verifyFailures.foreach(f => System.err.println(s"[perfbench] FAIL $f"))
    if (a.writeGoldens) checks.foreach(c => println(s"[golden] ${c.name}\t${c.got}"))
    rec.take()

    // ---- measured passes ----
    val calib0 = Host.calibrate()
    val stat0 = Host.procStat()
    val codegen0 = Host.codegen()
    val passes = mutable.ArrayBuffer.empty[Pass]
    val heaps = mutable.ArrayBuffer.empty[Double]
    val tracers = mutable.ArrayBuffer.empty[(Tracer, Pass, Seq[JobRec], Seq[StageRec])]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    // a traced run needs untraced passes too, for the overhead
    val minPasses = if (a.trace) wl.minPasses + 1 else wl.minPasses
    while (passes.size < minPasses || System.nanoTime() < deadline) {
      // U T T U U T T U ...: traced and untraced passes sit equally
      // early and late, so warming during the run does not bias the
      // tracing overhead
      val traced = a.trace && Set(1, 2).contains(passes.size % 4)
      val tr = new Tracer(sc, traced)
      rec.drain()
      val b0 = rec.shuffleWrite.get
      val t0 = System.nanoTime()
      val ctx = new Ctx(spark, tr)
      val (reqs, id) = tr.span("pass", a.workload)((wl.pass(ctx), tr.current))
      val wall = (System.nanoTime() - t0) / 1e9
      val (jobs, stages) = rec.take()
      val pass = Pass(traced, wall, rec.shuffleWrite.get - b0, wl.outputBytes, reqs, id)
      passes += pass
      heaps += Host.liveHeapMb()
      if (traced) {
        tr.add(id, "cache_mb_peak", ctx.cachePeakMb)
        tracers += ((tr, pass, jobs, stages))
      }
    }
    val codegen1 = Host.codegen()
    val stat1 = Host.procStat()

    // ---- after the timed region ----
    val cacheLeft = sc.getRDDStorageInfo.count(_.numCachedPartitions > 0)
    val calib1 = Host.calibrate()

    val untraced = passes.filter(!_.traced)
    val reqs = untraced.flatMap(_.reqs)
    val attempted = passes.map(_.reqs.size).sum + warmReqs.size + checks.size
    val failed = passes.flatMap(_.reqs).count(!_.ok) + warmReqs.count(!_.ok) + verifyFailures.size
    val lat = reqs.filter(_.ok).map(_.latencyS)
    val tail = Arith.tailPercentile(lat.size)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "wall_s" -> ((Arith.median(untraced.map(_.wallS)), "s")),
      "query_p50_s" -> ((Arith.median(lat), "s")),
      "shuffle_mb" -> ((Arith.median(untraced.map(_.shuffleBytes / 1e6)), "MB")),
      // after the first measured pass: later passes add the engine's
      // retained per-execution metadata, so a later reading would depend
      // on how many passes fit in the run
      "heap_retained_mb" -> ((heaps.head, "MB")),
      "setup_s" -> ((Arith.median(setups) + warm, "s")))
    // reported for reading, not gated: zero on some workloads, or (the
    // tail) too few samples per run to hold the gate's bound
    val extra = mutable.LinkedHashMap[String, (Double, String)](
      "output_mb" -> ((Arith.median(untraced.map(_.outputBytes / 1e6)), "MB")),
      "failed_frac" -> ((failed.toDouble / attempted, "frac")),
      s"query_p${tail.getOrElse(0)}_s" -> ((tail.map(Arith.nearestRank(lat, _)).getOrElse(Double.NaN), "s")),
      "samples" -> ((lat.size.toDouble, "count")),
      "passes" -> ((untraced.size.toDouble, "count")),
      "warmup_s" -> ((warm, "s")))

    // per-layer numbers: `layer` holds the metrics every workload has
    // (BENCHMARK.json's per_layer list); `detail` the per-request,
    // per-stage and per-family ones of the last traced pass
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
    val spansOut = mutable.ArrayBuffer.empty[String]
    if (a.trace) {
      val per = tracers.map { case (tr, p, jobs, stages) =>
        val l = new Layers(tr.spans.toSeq, jobs, stages)
        val kids = l.children(p.spanId)
        val passSpan = tr.spans.find(_.id == p.spanId).get
        val kidShuffle = kids.map(k => l.stageTotals(k.id)("shuffle_write_mb")).sum
        val m = l.passMetrics(p.spanId, tr.attrs, cores) ++ Map(
          "cache_mb_peak" -> tr.attrs(p.spanId)("cache_mb_peak"),
          "trace.children_frac" -> kids.map(_.dur).sum / passSpan.dur,
          "trace.unattributed_shuffle_mb" -> (p.shuffleBytes / 1e6 - kidShuffle),
          "trace.ungrouped_jobs" -> l.ungroupedJobs.toDouble)
        (m, l, tr, kids)
      }
      Layers.PerLayer.foreach { case (k, u) =>
        if (per.head._1.contains(k)) layer(k) = (Arith.median(per.map(_._1(k))), u)
      }
      layer("codegen_compile_s") = ((codegen1._1 - codegen0._1) / 1e9, "s")
      layer("codegen_compiles") = ((codegen1._2 - codegen0._2).toDouble, "count")
      layer("cache_rdds_left") = ((cacheLeft.toDouble, "count"))
      val tw = Arith.median(passes.filter(_.traced).map(_.wallS))
      val uw = Arith.median(untraced.map(_.wallS))
      layer("trace.overhead_frac") = ((tw / uw - 1, "frac"))
      val (_, l, tr, kids) = per.last
      val fam = mutable.LinkedHashMap.empty[String, Double]
      kids.foreach { k =>
        val st = l.stageTotals(k.id)
        val prefix = if (k.kind == "rr") s"rr.${k.name}" else s"query.${k.name}"
        detail(s"$prefix.s") = ((k.dur / 1e3, "s"))
        detail(s"$prefix.task_s") = ((st("task_s"), "s"))
        detail(s"$prefix.shuffle_mb") = ((st("shuffle_write_mb"), "MB"))
        if (k.kind == "query") {
          val f = reqsFamily(passes, k.name)
          fam(f) = fam.getOrElse(f, 0.0) + k.dur / 1e3
        }
      }
      fam.foreach { case (f, v) => detail(s"family.$f.wall_s") = ((v, "s")) }
      if (a.workload == "rr_build") detail("rr.save.files") = ((parquetFiles(work).toDouble, "count"))
      detail("trace.wall_s") = ((tw, "s"))
      detail("trace.untraced_wall_s") = ((uw, "s"))
      // every traced pass's spans: calls, then the jobs and stages under them
      per.zipWithIndex.foreach { case ((_, l, tr, _), i) =>
        def line(kv: (String, String)*) = Json.obj(("pass" -> i.toString) +: kv)
        tr.spans.foreach { s =>
          spansOut += line("id" -> Json.str(s.id.toString), "parent" -> Json.str(s.parent.toString),
            "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
            "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end))
        }
        tracers(i)._3.foreach { j =>
          val (st, en) = l.jobIv(j)
          spansOut += line("id" -> Json.str(s"job${j.jobId}"),
            "parent" -> Json.str(l.jobParent.get(j.jobId).fold("")(_.toString)),
            "kind" -> Json.str("job"), "name" -> Json.str(j.jobId.toString),
            "start_ms" -> Json.num(st), "end_ms" -> Json.num(en))
        }
        tracers(i)._4.foreach { g =>
          spansOut += line("id" -> Json.str(s"stage${g.stageId}.${g.attempt}"),
            "parent" -> Json.str(l.stageJob.get(g).fold("")(j => s"job$j")),
            "kind" -> Json.str("stage"), "name" -> Json.str(g.stageId.toString),
            "start_ms" -> Json.num(g.submit), "end_ms" -> Json.num(g.complete),
            "tasks" -> g.tasks.toString, "task_s" -> Json.num(g.runMs / 1e3),
            "shuffle_write_mb" -> Json.num(g.shuffleWrite / 1e6))
        }
      }
    }
    layer("host.steal_frac") = (Arith.stealFrac(stat0, stat1), "frac")
    layer("host.calib_s") = (Arith.median(calib0 ++ calib1), "s")

    // ---- report ----
    val correct = failed == 0
    (e2e ++ extra).foreach { case (k, (v, u)) => println(f"[perfbench] ${a.workload} $k%-22s $v%.4f $u") }
    if (a.trace) (layer ++ detail).foreach { case (k, (v, u)) =>
      println(f"[perfbench] ${a.workload} layer $k%-34s $v%.4f $u")
    }
    val outDir = new File(s"${a.root}/.bench_out")
    outDir.mkdirs()
    val stem = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    writeFile(new File(outDir, s"$stem.json"), Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString, "cores" -> cores.toString,
      "correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "heap_mb" -> Json.arr(heaps.map(Json.num)),
      "passes" -> Json.arr(passes.map(p => Json.obj(Seq(
        "traced" -> p.traced.toString, "wall_s" -> Json.num(p.wallS),
        "shuffle_mb" -> Json.num(p.shuffleBytes / 1e6),
        "requests" -> Json.arr(p.reqs.map(r => Json.obj(Seq(
          "name" -> Json.str(r.name), "family" -> Json.str(r.family),
          "latency_s" -> Json.num(r.latencyS), "ok" -> r.ok.toString)))))))),
      "metrics" -> metricsJson(e2e ++ extra),
      "layers" -> metricsJson(layer ++ detail),
      "verify_failures" -> Json.arr(verifyFailures.map(Json.str))) ) + "\n")
    if (a.trace) writeFile(new File(outDir, s"$stem-spans.jsonl"), spansOut.mkString("", "\n", "\n"))

    spark.stop()
    RrBuild.delete(new File(work))
    val shown = if (a.trace) Layers.PerLayer.map { case (k, _) => k -> layer(k) } else e2e.toSeq
    println(Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> metricsJson(shown))))
  }

  private def reqsFamily(passes: collection.Seq[Pass], name: String): String =
    passes.iterator.flatMap(_.reqs).find(_.name == name).map(_.family).getOrElse("other")

  private def parquetFiles(work: String): Long = {
    val out = new File(s"$work/out")
    if (!out.exists) 0L
    else {
      val w = java.nio.file.Files.walk(out.toPath)
      try w.filter(_.toString.endsWith(".parquet")).filter(java.nio.file.Files.isRegularFile(_)).count()
      finally w.close()
    }
  }

  private def metricsJson(m: Iterable[(String, (Double, String))]): String =
    Json.obj(m.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })

  private def writeFile(f: File, s: String): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.write(s) finally w.close()
  }
}

/** Minimal JSON rendering for the result line and the report files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: collection.Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Host-side evidence (CPU steal, a fixed CPU calibration kernel) and
  * the codegen compile counters.
  */
object Host {
  def procStat(): Array[Long] = {
    val f = new File("/proc/stat")
    if (!f.exists) Array.fill(8)(0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try Arith.parseCpuLine(src.getLines().next()) finally src.close()
    }
  }

  /** Seconds for a fixed single-thread integer kernel, three times. A
    * uniform host slowdown moves this while the program is unchanged.
    */
  def calibrate(): Seq[Double] = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 1023
      i += 1
    }
    if (acc == 42) println("") // keeps the loop live
    (System.nanoTime() - t0) / 1e9
  }

  /** Live driver heap, outside the timed region: full GC, a pause for
    * Spark's ContextCleaner to drop the broadcast and shuffle blocks the
    * GC made unreachable, full GC again. The GCs also start every pass
    * with the same (empty) collection debt.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** (compile nanoseconds, compile count) since the JVM started. */
  def codegen(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}
