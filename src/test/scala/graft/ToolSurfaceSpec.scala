package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint that pins the tool surface: one session factory, one
  * listener, seven entry points and one RetailRocket build wiring. A
  * new tool becomes a mode of Inspect or Probe, not another main with
  * its own session set-up.
  */
class ToolSurfaceSpec extends AnyFunSuite {

  private val root = Paths.get("src")

  private lazy val sources: Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map((p: Path) => (root.relativize(p).toString, Files.readString(p)))
      .toVector.sortBy(_._1)
    finally walk.close()
  }

  private def offenders(pattern: String, allowed: Set[String]): Seq[String] = {
    val re = pattern.r
    sources.collect { case (path, text) if re.findFirstIn(text).isDefined && !allowed(path) => path }
  }

  test("the source walk sees the whole tree") {
    assert(sources.exists(_._1 == "main/scala/graft/SparkEntry.scala"))
    assert(sources.exists(_._1 == "test/scala/graft/SparkSpec.scala"))
  }

  test("only core.LocalSpark builds a session") {
    val bad = offenders("""SparkSession\s*\.\s*builder""", Set("main/scala/graft/core/LocalSpark.scala"))
    assert(bad.isEmpty, s"build sessions through graft.core.LocalSpark: $bad")
  }

  test("only core.StageMetrics is a SparkListener") {
    val bad = offenders(
      """\b(extends|with|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""",
      Set("main/scala/graft/core/StageMetrics.scala"))
    assert(bad.isEmpty, s"read task and stage metrics through graft.core.StageMetrics: $bad")
  }

  test("exactly the seven tool entry points have a main") {
    val mains = Set("Bench", "Verify", "BaselineBench", "Smoke", "FpAll", "Inspect", "Probe")
      .map(n => s"main/scala/graft/$n.scala")
    val bad = offenders("""\bdef\s+main\s*\(|\bextends\s+App\b""", mains)
    assert(bad.isEmpty, s"add a mode to Inspect or Probe instead of a new main: $bad")
    mains.foreach(p => assert(sources.exists(_._1 == p), s"$p missing"))
  }

  test("only pipeline/RetailRocket.scala wires the build") {
    // tools observe the build's stages through buildAll's stage hook;
    // a hand-wired stage sequence elsewhere measures another program
    val bad = offenders(
      """\b(candidatesWith|featuresWith|prefixWithCategories|trainMatrices)\s*\(""",
      Set("main/scala/graft/pipeline/RetailRocket.scala"))
      .filter(_.startsWith("main/"))
    assert(bad.isEmpty, s"observe the build through RetailRocket.buildAll's stage hook: $bad")
  }
}
