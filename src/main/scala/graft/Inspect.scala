package graft

import graft.core.{Caches, LocalSpark, StageMetrics}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ExplainMode

/** One-query inspection on `local[SPARK_GRAFT_CPUS]` (default 32). The
  * executing modes run the full plan (`toRdd.count()`, the Bench basis:
  * `df.count()` lets the optimizer prune outer-join sides and aggregate
  * values the count does not need).
  */
object Inspect {
  private val DefaultSf = "/root/testdata/sf0.1"

  val usage: String =
    s"""Usage: Inspect <query> <mode> [sfDir] [lazy|tree]
      |  time    wall of one cold full-plan run
      |  tasks   after a discarded warm run: wall and TOTAL task metrics (run
      |          time, input bytes and records, shuffle write)
      |  jobs    after a discarded warm run: every stage in submission order
      |          with tasks, summed task time and input
      |  stages  one cold run: stages that move > 1 MB of shuffle or hold a
      |          task > 0.5 s (write, read, tasks, longest task), then the
      |          executed plan's first 60 lines
      |  plan    the FULL formatted explain (tree + per-node details);
      |          `plan tree` prints the tree only
      |  codegen compiles and compile seconds (summed over threads) of one
      |          cold run, then of one warm run (deltas of
      |          CodeGenerator.compileTime and CodegenMetrics' compilation
      |          histogram)
      |  fp      the stamped text Bench.planFingerprint hashes (the query's
      |          own plan, then each cached subtree's), then the stamp, both
      |          from the construction-only pre-pass (Bench.fingerprints, the
      |          basis Bench, Verify and FpAll use)
      |  lazy    (time/tasks/jobs/stages/codegen) run under Caches.constructionMode:
      |          eager cache sites degrade to lazy caches, the per-site
      |          eager-vs-lazy A/B
      |sfDir defaults to $DefaultSf.""".stripMargin

  /** `name`'s normalized plan text and stamp from the pre-pass basis. */
  def fp(spark: SparkSession, name: String, dir: String): (String, String) = {
    var text = ""
    val stamp = Bench.fingerprints(spark, dir, Seq(name -> SparkEntry.queries(name)),
      (_, df) => text = Bench.normalizedPlan(df)).head._2
    (text, stamp)
  }

  def main(args: Array[String]): Unit = {
    val modes = Set("time", "tasks", "jobs", "stages", "plan", "fp", "codegen")
    if (args.length < 2 || !modes(args(1)) || !SparkEntry.queries.contains(args(0))) {
      System.err.println(usage)
      sys.exit(2)
    }
    val (name, mode) = (args(0), args(1))
    val sfDir = args.lift(2).getOrElse(DefaultSf)
    val lazyMode = args.lift(3).contains("lazy")
    val spark = LocalSpark(LocalSpark.cores(32), logLevel = "ERROR")
    mode match {
      case "plan" =>
        val full = SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        if (args.lift(3).contains("tree"))
          println(full.linesIterator.takeWhile(_ != "").mkString("\n"))
        else println(full)
      case "fp" =>
        val (text, stamp) = fp(spark, name, sfDir)
        println(text)
        println(s"[fp] $name $stamp")
      case "codegen" => codegen(spark, name, sfDir, lazyMode)
      case _ => execute(spark, name, mode, sfDir, lazyMode)
    }
    spark.stop()
  }

  /** One full-plan run of `name` in its own cache scope. */
  private def runOnce(
      spark: SparkSession, name: String, sfDir: String, lazyMode: Boolean): (DataFrame, Long) = {
    def go = Caches.withScope {
      val df = SparkEntry.queries(name)(spark, sfDir)
      (df, df.queryExecution.toRdd.count())
    }
    if (lazyMode) Caches.constructionMode(go) else go
  }

  /** The codegen layer: the first run of the query in this JVM, then a
    * second one, each with the compiles it caused on every thread.
    */
  private def codegen(spark: SparkSession, name: String, sfDir: String, lazyMode: Boolean): Unit = {
    def counters = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val tag = name + (if (lazyMode) "(lazy)" else "")
    Seq("cold", "warm").foreach { pass =>
      val (ns0, n0) = counters
      val t0 = System.nanoTime()
      val (_, rows) = runOnce(spark, name, sfDir, lazyMode)
      val wall = (System.nanoTime() - t0) / 1e9
      val (ns1, n1) = counters
      println(f"[codegen] $tag $pass%-4s compiles=${n1 - n0}%4d compile=${(ns1 - ns0) / 1e9}%.2f s " +
        f"wall=$wall%.2f s rows=$rows")
    }
  }

  private def execute(
      spark: SparkSession, name: String, mode: String, sfDir: String, lazyMode: Boolean): Unit = {
    def run(): (DataFrame, Long) = runOnce(spark, name, sfDir, lazyMode)
    val m = StageMetrics.on(spark)
    spark.range(1000000L).selectExpr("sum(id)").collect() // JIT warm-up
    // a full discarded run: codegen and file caches at steady state, so
    // the measured run reflects the plan, not the JVM
    if (mode == "tasks" || mode == "jobs") run()
    m.drain()
    m.reset()
    val t0 = System.nanoTime()
    val (df, n) = run()
    val wall = (System.nanoTime() - t0) / 1e9
    m.drain()
    val stages = m.stages
    val tag = name + (if (lazyMode) "(lazy)" else "")
    mode match {
      case "time" =>
        println(f"[qtime] $tag: $wall%.2f s, $n rows")
      case "tasks" =>
        println(f"[taskprof] $tag wall=$wall%.2f s taskSum=${stages.map(_.runMs).sum / 1e3}%.2f s " +
          f"tasks=${m.tasks} inMB=${stages.map(_.inputBytes).sum / 1e6}%.1f " +
          f"inRec=${stages.map(_.inputRecords).sum} shufMB=${m.shuffleWriteBytes / 1e6}%.2f rows=$n")
      case "jobs" =>
        println(f"[qjobs] $tag wall=$wall%.2f s stages=${stages.size} rows=$n")
        stages.foreach { st =>
          println(f"[st] ${st.id}%4d tasks=${st.tasks}%4d sum=${st.runMs / 1e3}%7.2f s " +
            f"in=${st.inputBytes / 1e6}%6.1f MB recs=${st.inputRecords}%8d  ${st.name.take(90)}")
        }
      case "stages" =>
        // the skew axis: a stage whose longest task ≈ stage wall has one
        // hot task — post-exchange skew if it reads a shuffle,
        // input-layout concentration if it reads the source
        stages.foreach { st =>
          val (w, r, mt) = (st.shuffleWriteBytes / 1e6, st.shuffleReadBytes / 1e6, st.maxTaskMs / 1e3)
          if (w > 1 || r > 1 || mt > 0.5)
            println(f"[stage] ${st.id}%4d w=$w%9.1f MB r=$r%9.1f MB " +
              f"tasks=${st.tasks}%4d maxTask=$mt%6.2f s  " + st.name.take(80))
        }
        println(f"[stagedump] $tag: $wall%.2f s, $n rows")
        println(df.queryExecution.executedPlan.toString.linesIterator.take(60).mkString("\n"))
    }
  }
}
