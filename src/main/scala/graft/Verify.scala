package graft

import java.nio.file.{Files, Paths}

import graft.core.LocalSpark

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (iteration aid;
    // the driver always calls with two args = full surface)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val spark = LocalSpark(LocalSpark.cores(4))
    new java.io.File(outDir).mkdirs()
    val work0 = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
    val t0 = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"[verify] phase $name at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    // Fingerprint pre-pass BEFORE the harness cache pin and the pool:
    // stamps taken inside the pool drifted with thread timing (r16).
    val fpPre = Bench.fingerprints(spark, sfDir, work0).toMap
    phase("fingerprint pre-pass done")
    // Harness-owned pin: the sessionize+enrich subtree feeds ~15
    // queries; cached OUTSIDE the scopes so per-query unpersists leave
    // it alone (Caches' adoption rule) instead of rebuilding the
    // sessionize shuffle per consumer.
    val pinned =
      try { val p = graft.pipeline.Pipeline.enrichedEvents(spark, sfDir); p.count(); Some(p) }
      catch { case _: Throwable => None }
    phase("pin done")
    // Per-query cache scope: operator-internal caches (LSH bands, covis
    // projections, candidate sets) are unpersisted after each query's
    // write — the full loop leaves no lingering InMemoryRelation behind.
    // Queries run CONCURRENTLY on a fixed pool (VERDICT r14 item 1: the
    // ~7 min serial gate wall invited driver timeouts). Safe because
    // Caches scopes are thread-confined (ThreadLocal), each query writes
    // its own output dir, temp-view names are query-unique, and the
    // pinned enrichedEvents cache is created before the pool starts (the
    // adoption rule keeps per-query scopes from unpersisting it). Most
    // contract queries are single-task scan pipelines locally (one
    // parquet row group), so cross-query concurrency is what fills the
    // cores — measured ~3× on the full surface at sf0.01.
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "8").toInt.max(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val fps =
      try {
        val futures = work0.map { case (name, fn) =>
          pool.submit(new java.util.concurrent.Callable[(String, String)] {
            // On failure: DELETE the query's output dir (a stale parquet
            // from a previous run in the same outDir would otherwise
            // silently PASS the compare — observed masking a q160
            // cache-race failure, r16) and retry once (transient races
            // heal; real failures reproduce and fail loudly with no
            // output left behind).
            def attempt(): Unit = graft.core.Caches.withScope {
              val df = fn(spark, sfDir)
              df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
            }
            def deleteOut(): Unit = {
              val dir = Paths.get(s"$outDir/$name")
              if (Files.exists(dir)) {
                import scala.jdk.CollectionConverters._
                Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
                  .iterator().asScala.foreach(Files.deleteIfExists(_))
              }
            }
            def call(): (String, String) = {
              val ok =
                try { attempt(); true }
                catch { case e1: Throwable =>
                  System.err.println(
                    s"[verify] $name failed (retrying): ${e1.getMessage}")
                  deleteOut()
                  try { attempt(); true }
                  catch { case e2: Throwable =>
                    System.err.println(s"[verify] $name failed: ${e2.getMessage}")
                    deleteOut()
                    false
                  }
                }
              (name, if (ok) fpPre.getOrElse(name, "-") else "-")
            }
          })
        }
        futures.map(_.get())
      } finally pool.shutdown()
    phase("pool done")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // fingerprints: a file next to the parquet outputs for the compare
    // tooling, plus one stdout JSON line for tail-capture parity with
    // the bench artifact
    val fpJson = fps.map { case (k, fp) => s"${q(k)}: ${q(fp)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/fingerprints.json"), fpJson)
    println(s"""{"metric":"verify_fingerprints","queries":$fpJson}""")
    pinned.foreach(_.unpersist(blocking = false))
    spark.stop()
  }
}
