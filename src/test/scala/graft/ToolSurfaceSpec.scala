package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint that pins the tool surface: one session factory, one
  * listener, seven entry points, one RetailRocket build wiring and a
  * non-test caller for every library function. A new tool becomes a
  * mode of Inspect or Probe, not another main with its own session
  * set-up.
  */
class ToolSurfaceSpec extends AnyFunSuite {

  /** Every `.scala` file under `root`: (path relative to `root`, text). */
  private def scalaSources(root: Path): Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map((p: Path) => (root.relativize(p).toString, Files.readString(p)))
      .toVector.sortBy(_._1)
    finally walk.close()
  }

  private lazy val sources = scalaSources(Paths.get("src"))

  /** `text` with its comments blanked; strings and line breaks kept. */
  private def stripComments(text: String): String = {
    val out = new StringBuilder(text.length)
    val n = text.length
    var i = 0
    var depth = 0
    while (i < n) {
      if (depth > 0) {
        if (text.startsWith("*/", i)) { depth -= 1; i += 2 }
        else if (text.startsWith("/*", i)) { depth += 1; i += 2 }
        else { if (text.charAt(i) == '\n') out += '\n'; i += 1 }
      } else if (text.startsWith("\"\"\"", i)) {
        val close = text.indexOf("\"\"\"", i + 3)
        var j = if (close < 0) n else close + 3
        while (j < n && text.charAt(j) == '"') j += 1
        out ++= text.substring(i, j); i = j
      } else if (text.startsWith("'\"'", i)) {
        out ++= "'\"'"; i += 3
      } else if (text.charAt(i) == '"') {
        var j = i + 1
        while (j < n && text.charAt(j) != '"' && text.charAt(j) != '\n')
          j += (if (text.charAt(j) == '\\') 2 else 1)
        j = (j + 1).min(n)
        out ++= text.substring(i, j); i = j
      } else if (text.startsWith("//", i)) {
        val eol = text.indexOf('\n', i)
        i = if (eol < 0) n else eol
      } else if (text.startsWith("/*", i)) { depth = 1; i += 2 }
      else { out += text.charAt(i); i += 1 }
    }
    out.toString
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

  test("only core.Sinks sets parquet writer options") {
    // row-group and file-size options live in the one parquet writer,
    // Sinks.writeParquet; a second writer chain cannot grow back
    val bad = offenders(""""(parquet\.block\.size|maxRecordsPerFile)"""",
      Set("main/scala/graft/core/Sinks.scala"))
    assert(bad.isEmpty, s"write parquet through graft.core.Sinks.writeParquet: $bad")
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

  test("every library function has a non-test caller") {
    // an opt-in sibling that only its own spec runs is a second path no
    // query, pipeline or tool takes; it comes back with a selection the
    // code makes from its input, or on this list on purpose
    val testOnly = """dedup/Dedup.scala: maximalRepeatRangesRolling
      |ops/Eval.scala: poolRecallPpm
      |ops/Graph.scala: labelPropagationGated
      |ops/HeavyHitters.scala: approxTopCoitems
      |ops/Joins.scala: historyJoin
      |ops/Joins.scala: leftJoinWithDefaults
      |ops/Joins.scala: prefixJoin
      |ops/Joins.scala: prefixJoinLeft
      |ops/Joins.scala: saltedJoin
      |ops/Linkage.scala: bestMatch
      |ops/Linkage.scala: fsScoreMicro
      |ops/Sketches.scala: hllDistinctPerGroup
      |ops/Sketches.scala: hllMergeEstimate
      |pipeline/Als.scala: implicitRatings
      |pipeline/Als.scala: recommendTopK
      |pipeline/Embeddings.scala: findSynonyms
      |pipeline/Ranker.scala: championSelect
      |pipeline/Ranker.scala: timeAwareSweep
      |pipeline/RetailRocket.scala: buildAll""".stripMargin.linesIterator.toSet
    val perfbench = Paths.get("perfbench/src/main")
    assert(Files.isDirectory(perfbench), s"$perfbench missing")
    val mainSources = sources.filter(_._1.startsWith("main/"))
      .map { case (path, text) => (path, stripComments(text)) }
    val ident = """[A-Za-z_][A-Za-z0-9_]*""".r
    def tokens(text: String) = ident.findAllIn(text).toVector
    val uses = (mainSources.map(_._2) ++ scalaSources(perfbench).map(src => stripComments(src._2)))
      .flatMap(tokens).groupBy(identity).view.mapValues(_.size).toMap
    val declared = mainSources.map(_._2).flatMap(t => """\bdef\s+(\w+)""".r
      .findAllMatchIn(t).map(_.group(1))).groupBy(identity).view.mapValues(_.size).toMap
    val topLevel = """^(?:(?:private|protected|final|sealed|abstract|case|implicit)\S*\s+)*(object|class|trait)\b.*""".r
    val objectDef = """^  (?:(?:final|override|implicit|@\w+)\s+)*def\s+(\w+).*""".r
    val memberEnd = """^  [})].*""".r
    val libDirs = Seq("ops", "dedup", "similarity", "pipeline", "queries")
      .map(d => s"main/scala/graft/$d/")
    val found = mainSources.filter(src => libDirs.exists(src._1.startsWith)).flatMap {
      case (path, text) =>
        val lines = text.split("\n", -1).toVector
        // whether each line sits in a public top-level object
        val inObject = lines.scanLeft(false) {
          case (_, l @ topLevel(kind)) => kind == "object" && !l.startsWith("private")
          case (in, _) => in
        }.tail
        lines.indices.collect { case at if inObject(at) && objectDef.matches(lines(at)) =>
          val objectDef(name) = lines(at)
          // the definition runs to the next member or the object's end
          val end = lines.indexWhere(
            l => l.trim.nonEmpty && !l.startsWith("   ") && !memberEnd.matches(l), at + 1)
          val ownBody = lines.slice(at, if (end < 0) lines.length else end).flatMap(tokens)
          val calls = uses(name) - declared(name) - (ownBody.count(_ == name) - 1)
          (s"${path.stripPrefix("main/scala/graft/")}: $name", calls)
        }
    }
    val uncalled = found.collect { case (fn, calls) if calls <= 0 => fn }.toSet
    assert((uncalled -- testOnly).isEmpty,
      s"library functions no query, pipeline or tool calls: ${(uncalled -- testOnly).toSeq.sorted}")
    assert((testOnly -- uncalled).isEmpty,
      s"allowlisted as test-only but called or gone: ${(testOnly -- uncalled).toSeq.sorted}")
  }
}
