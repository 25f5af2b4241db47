package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the  quick brown fox  jumps over the lazy dog"), // dup of 1 up to whitespace
    (3L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (4L, "completely different text with no shared words at all here"))
    .toDF("doc_id", "text")

  test("exact: normalized duplicates collapse, lowest id survives") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .as[(String, Long, Long)].collect()
    assert(out.length == 3)
    val dup = out.find(_._3 == 2L).get
    assert(dup._2 == 1L) // survivor is min(doc_id)
  }

  test("minhash signatures: dups identical, near-dups mostly agree") {
    val sh = Dedup.shingles(docs, "text", "doc_id", 3)
    val sigs = Dedup.minhashSignatures(sh, 8)
      .as[(Long, Seq[String])].collect().toMap
    assert(sigs(1L) == sigs(2L)) // identical shingle sets
    val agree13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    val agree14 = sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b }
    assert(agree13 > agree14) // near-dup agrees more than unrelated
  }

  test("lshCandidatePairs: true duplicate pair is found, ordered a<b") {
    val sh = Dedup.shingles(docs, "text", "doc_id", 3)
    val bands = Dedup.lshBands(Dedup.minhashSignatures(sh, 8), bands = 4, rowsPerBand = 2)
    val pairs = Dedup.lshCandidatePairs(bands).as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("jaccard: identical=1e6 ppm, disjoint=0") {
    val sh = Dedup.shingles(docs, "text", "doc_id", 3)
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("id_a", "id_b")
    val j = Dedup.jaccardOnPairs(pairs, sh)
      .select("id_a", "id_b", "jaccard_ppm").as[(Long, Long, Long)].collect().toMap2
    assert(j((1L, 2L)) == 1000000L)
    assert(j((1L, 4L)) == 0L)
  }

  test("ngramJaccardPairs: near-dup scores above threshold, ranked sanely") {
    val out = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, minJaccardPpm = 1L)
      .select("id_a", "id_b", "jaccard_ppm").as[(Long, Long, Long)].collect()
    val m = out.map { case (a, b, p) => ((a, b), p) }.toMap
    assert(m((1L, 2L)) == 1000000L)
    assert(m((1L, 3L)) > 0L && m((1L, 3L)) < 1000000L)
    assert(!m.contains((1L, 4L)))
  }

  test("simhash32: dup bit-identical; near-dup closer than unrelated") {
    val hs = Dedup.simhash32(docs, "text", "doc_id").as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hs(1L) == hs(2L))
    assert(hamming(hs(1L), hs(3L)) < hamming(hs(1L), hs(4L)))
  }

  test("connectedComponents: transitive chain collapses to one group") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponentsAuto(pairs).as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("connectedComponentsStar: deep chain (diameter >> 10) where min-label@10 under-merges") {
    // path graph 0-1-2-...-200: diameter 200. min-label propagation
    // moves labels one hop per round, so maxIter = 10 CANNOT collapse
    // it; large-star/small-star halves chain length per round.
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val star = Dedup.connectedComponentsStar(chain).as[(Long, Long)].collect()
    assert(star.length == 201)
    assert(star.forall(_._2 == 0L), s"star must collapse the chain to component 0")
  }

  test("connectedComponentsStar: a graph not converged at maxIter throws") {
    // one round cannot collapse a 200-chain; a partial labelling would
    // look like plausible components
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsStar(chain, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("after 1 rounds"), e.getMessage)
  }

  test("connectedComponentsStar == union-find on shallow graphs, incl. self-loops") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (7L, 9L), (9L, 7L), (4L, 4L), (3L, 1L))
      .toDF("id_a", "id_b")
    val star = Dedup.connectedComponentsStar(pairs).as[(Long, Long)].collect().toMap
    assert(star == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L, 4L -> 4L))
    val auto = Dedup.connectedComponentsAuto(pairs.filter($"id_a" =!= $"id_b"))
      .as[(Long, Long)].collect().toMap
    assert(star.view.filterKeys(_ != 4L).toMap == auto)
  }

  test("connectedComponentsAuto routes past the driver edge limit to the star path") {
    // 2500 edges > a 2000-edge driver limit -> distributed star path;
    // 50 chains of 50 nodes each collapse to their chain minimum
    val edges = (0L until 50L).flatMap(c =>
      (0L until 49L).map(i => (c * 100 + i, c * 100 + i + 1)))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponentsAuto(edges, driverEdgeLimit = 2000L)
      .as[(Long, Long)].collect()
    assert(cc.length == 50 * 50)
    assert(cc.forall { case (id, comp) => comp == (id / 100) * 100 })
  }

  test("embeddingNearDupPairs: maxRows guard fails loud, passes at the bound") {
    val embs = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.99f, 0.01f)),
      (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Dedup.embeddingNearDupPairs(embs, "vec_id", "embedding", 0.9, maxRows = 2L).collect()
    }
    assert(ex.getMessage.contains("embeddingNearDupPairs"))
    val ok = Dedup
      .embeddingNearDupPairs(embs, "vec_id", "embedding", 0.9, maxRows = 3L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(ok == Set((1L, 2L)))
  }

  test("nearDupDedup: end-to-end survivors, singletons self-labeled") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "the quick brown fox jumps over the lazy dog today"), // near-dup of 10
      (12L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup of 10
      (13L, "unrelated totally different content about spark engines"))
      .toDF("doc_id", "text")
    val out = Dedup
      .nearDupDedup(corpus, "text", "doc_id",
        shingleN = 3, numHashes = 8, bands = 4, minJaccardPpm = 500000L)
      .as[(Long, Long, Boolean)].collect()
      .map { case (id, comp, surv) => id -> ((comp, surv)) }.toMap
    assert(out(10L) == ((10L, true)))
    assert(out(11L) == ((10L, false)))
    assert(out(12L) == ((10L, false)))
    assert(out(13L) == ((13L, true))) // no pair -> own component, survives
  }

  implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[(A, B), C] = rows.map { case (a, b, c) => ((a, b), c) }.toMap
  }

  test("incrementalNew: batch dedups internally, corpus-seen docs dropped") {
    import spark.implicits._
    val batch = Seq(
      (10L, "alpha beta"), (11L, "alpha  beta"), // same normalized fp -> min id 10
      (12L, "fresh text"), (13L, "already known"))
      .toDF("doc_id", "text")
    val corpus = Seq((1L, "ALREADY   known"), (2L, "other doc")).toDF("doc_id", "text")
    val out = Dedup.incrementalNew(batch, corpus, "text", "doc_id")
      .select("survivor_id", "batch_dup_count")
      .as[(Long, Long)].collect().toSet
    // 13 dies (fp seen in corpus, case/whitespace-insensitively); 10 survives for {10,11}
    assert(out == Set((10L, 2L), (12L, 1L)))
  }

  test("bestOfCluster: survivor is the highest-score copy, not the lowest id") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 10/11/12 near-dup cluster (same as the nearDupDedup fixture);
    // scores make the HIGHEST id the best copy — min-id policy would
    // pick 10, the quality policy must pick 12; 13 is its own
    // singleton component and survives regardless of score
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta", 100L),
      (11L, "alpha beta gamma delta epsilon zeta eta", 200L),
      (12L, "alpha beta gamma delta epsilon zeta theta", 300L),
      (13L, "completely different text about nothing shared", 1L))
      .toDF("doc_id", "text", "score")
    val out = Dedup
      .bestOfCluster(corpus, "text", "doc_id", "score",
        shingleN = 3, numHashes = 8, bands = 4, minJaccardPpm = 500000L)
      .as[(Long, Long, Long, Boolean)].collect()
      .map { case (id, comp, score, surv) => id -> ((comp, score, surv)) }.toMap
    assert(out(10L) == ((10L, 100L, false)))
    assert(out(11L) == ((10L, 200L, false)))
    assert(out(12L) == ((10L, 300L, true))) // best score wins, not min id
    assert(out(13L) == ((13L, 1L, true)))
  }

  test("leakageFreeSplit: a near-dup cluster lands WHOLE on one side of the split") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "alpha beta gamma delta epsilon zeta eta"),
      (12L, "alpha beta gamma delta epsilon zeta theta"),
      (13L, "completely different text about nothing shared"))
      .toDF("doc_id", "text")
    val out = Dedup
      .leakageFreeSplit(corpus, "text", "doc_id", validPermille = 500,
        shingleN = 3, numHashes = 8, bands = 4, minJaccardPpm = 500000L)
      .as[(Long, Long, String)].collect()
      .map { case (id, comp, split) => id -> ((comp, split)) }.toMap
    // the {10,11,12} cluster inherits ONE split from its component id
    assert(Set(out(10L), out(11L), out(12L)).size == 1,
      s"near-dup cluster straddles the split: $out")
    assert(out(10L)._1 == 10L && out(13L)._1 == 13L)
    // split is the md5-permille of the component — reproducible
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("10".getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val expected = if (java.lang.Long.parseLong(hex, 16) % 1000 < 500) "valid" else "train"
    assert(out(10L)._2 == expected)
  }

  test("maximalRepeatRanges finds a planted 48-char misaligned repeat that fixed windows miss") {
    import spark.implicits._
    val rep = "the quick brown fox jumps over the lazy dog 1234"
    assert(rep.length == 48)
    // doc 1 carries the repeat at offset 10, doc 2 at offset 3 (misaligned
    // vs any 32-stride grid); both docs are otherwise unique and >= 64
    // chars so q102's 64-char windows exist but never cover the repeat
    // identically in both docs
    val d1 = "B" * 10 + rep + "C" * 30
    val d2 = "xyz" + rep + "D" * 40
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    // fixed 64/32 windows: zero duplicated spans (the op this extends)
    val fixed = Dedup.duplicatedSpans(docs, "text", "doc_id", 64, 32)
      .agg(org.apache.spark.sql.functions.sum("n_dup_spans")).as[Long].head()
    assert(fixed == 0L, "fixed-window op unexpectedly caught the misaligned repeat")
    // arbitrary-alignment ranges: exactly the planted 48 chars in both docs
    val got = Dedup.maximalRepeatRanges(docs, "text", "doc_id", minLen = 48)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 10L, 58L, 48L), (2L, 3L, 51L, 48L)))
  }

  test("minLen=16 pass (q179 band) finds a planted 20-char repeat invisible to both q102 and q128") {
    import spark.implicits._
    val rep = "THE-20-CHAR-REPEAT-Z"
    assert(rep.length == 20)
    // Non-periodic context (no char runs, no shared 16-windows outside
    // the plant — a "C"*30 filler would itself contain 15 identical
    // 16-char windows and pollute the result). Both docs < 64 chars so
    // q102's 64-char windows don't even exist; the repeat is 20 < 48 so
    // q128's floor misses it.
    val d1 = "abcdefghij" + rep + "klmnopqrstuvwxy0123456789"
    val d2 = "ZYXWVUTSRQPONMLKJIHGFEDCBA9876543" + rep + "zz"
    assert(d1.length == 55 && d2.length == 55)
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val q102 = Dedup.duplicatedSpans(docs, "text", "doc_id", 64, 32).count()
    assert(q102 == 0L, "64-char fixed windows should not exist in 55-char docs")
    val q128 = Dedup.maximalRepeatRanges(docs, "text", "doc_id", minLen = 48).count()
    assert(q128 == 0L, ">=48 floor should miss the 20-char repeat")
    val got = Dedup.maximalRepeatRanges(docs, "text", "doc_id", minLen = 16)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 10L, 30L, 20L), (2L, 33L, 53L, 20L)))
  }

  test("longestRepeatStats: exact LRS at arbitrary length; both fixed floors provably miss it") {
    // a 10-char unit repeated once, below even q179's >=16 floor: the
    // window passes return NOTHING while the suffix automaton reports
    // the exact length. Non-periodic fixture (round-6 rule): disjoint
    // filler alphabets, so the planted repeat is the true maximum.
    val text = "abcdefghij" + "KLMNOPQRST" + "abcdefghij" + "UVWXYZ0123"
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    assert(Dedup.maximalRepeatRanges(docs, "text", "doc_id", minLen = 16).count() == 0,
      ">=16 floor must miss the 10-char repeat")
    assert(Dedup.maximalRepeatRanges(docs, "text", "doc_id", minLen = 48).count() == 0)
    val r = Dedup.longestRepeatStats(docs, "text", "doc_id", cap = 48)
      .as[(Long, Long, Long)].head()
    assert(r == ((1L, 40L, 10L)))
    // cap applies: a 30-char repeat reported as min(lrs, cap)
    val rep30 = "qwertyuiopasdfghjklzxcvbnm1234"
    val capped = Dedup.longestRepeatStats(
      Seq((7L, rep30 + "AAAA" + rep30 + "BBBB")).toDF("doc_id", "text"),
      "text", "doc_id", cap = 12)
      .as[(Long, Long, Long)].head()
    assert(capped._3 == 12L)
  }

  test("longestRepeatStats: NULL text reports 0, not the cap (least() skips nulls)") {
    // least(kernel(null), cap) = cap because Spark's least() SKIPS null
    // arguments — the oracle's window ladder reports 0 for a null text.
    val docs = Seq((1L, Option("abab")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val got = Dedup.longestRepeatStats(docs, "text", "doc_id", cap = 48)
      .select(col("doc_id"), col("lrs_len"))
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (2L, 0L)))
  }

  test("LongestRepeat kernel: hand cases incl. overlap and unicode code points") {
    val df = Seq("aaa", "abab", "abc", "", "banana", "x😀y😀z")
      .toDF("t")
    val got = df
      .select(org.apache.spark.sql.graft.LongestRepeat(col("t")).as("l"))
      .as[Long].collect().toSeq
    // banana: overlapping "ana" twice -> 3; the emoji repeat is ONE
    // code point (SQL character), not two UTF-16 units
    assert(got == Seq(2L, 2L, 0L, 0L, 3L, 1L))
  }

  test("maximalRepeatRanges merges overlapping windows of a long repeat into ONE maximal range") {
    import spark.implicits._
    // non-periodic 135-char repeat (pseudo-random chars, no internal
    // 48-gram repeats — a periodic fixture would legitimately extend
    // the duplicated region into matching boundary context)
    val rep = Seq.tabulate(135)(i => ('a' + ((i * 17 + (i * i) % 31) % 26)).toChar).mkString
    assert(rep.length == 135 && rep.sliding(48).toSeq.distinct.size == 135 - 47)
    val docs = Seq(
      (1L, "head--" + rep + "tail-one-abcdefghijklmnop"),
      (2L, "completely different lead-in text " + rep + "x"))
      .toDF("doc_id", "text")
    val got = Dedup.maximalRepeatRanges(docs, "text", "doc_id", minLen = 48)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 6L, 6L + rep.length, rep.length.toLong),
      (2L, 34L, 34L + rep.length, rep.length.toLong)))
  }

  test("rolling-hash scan path produces the same maximal ranges as the md5 path") {
    import spark.implicits._
    // real fixture corpus (ASCII): byte offsets == char offsets, and the
    // merge depends only on window equality — so the O(1)-per-position
    // rolling scan must reproduce the md5 path's ranges exactly
    val docs = graft.core.Tables.documents(spark, sf("sf0.001"))
    def ranges(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect().toSet
    val md5Ranges = ranges(Dedup.maximalRepeatRanges(docs, "text", "doc_id", 48))
    val rollRanges = ranges(Dedup.maximalRepeatRangesRolling(docs, "text", "doc_id", 48))
    assert(md5Ranges.nonEmpty, "fixture corpus has no repeats — test is vacuous")
    assert(rollRanges == md5Ranges)
  }

  test("containmentPairs: full embedding scores 1.0 one way, below threshold the other") {
    import spark.implicits._
    // doc 1 (8 words, 5 distinct 4-shingles) embedded verbatim in doc 2
    // (16 words, 13 shingles): C(1→2)=5/5, C(2→1)=5/13 < 0.6
    val inner = "alpha bravo charlie delta echo foxtrot golf hotel"
    val cdocs = Seq(
      (1L, inner),
      (2L, "zz yy xx " + inner + " ww vv uu tt ss"),
      (3L, "nothing shared with the others at all in this sentence"))
      .toDF("doc_id", "text")
    val got = Dedup
      .containmentPairs(cdocs, "text", "doc_id", n = 4, minContainPpm = 600000L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 5L, 5L, 1000000L)))
    // lowering the threshold surfaces the reverse direction too
    val both = Dedup
      .containmentPairs(cdocs, "text", "doc_id", n = 4, minContainPpm = 100000L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(both == Set(
      (1L, 2L, 5L, 5L, 1000000L),
      (2L, 1L, 5L, 13L, 5L * 1000000L / 13L)))
  }

  test("containmentPairs: minShingles suppresses meaninglessly small sides") {
    import spark.implicits._
    // doc 1 has 4 words -> 1 shingle; fully contained in doc 2, but
    // |A|=1 < minShingles=5 kills the direction (and 2→1 is sub-threshold)
    val cdocs = Seq(
      (1L, "alpha bravo charlie delta"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"))
      .toDF("doc_id", "text")
    val n = Dedup
      .containmentPairs(cdocs, "text", "doc_id", n = 4, minContainPpm = 600000L)
      .count()
    assert(n == 0L)
  }

  test("winnowing: detection guarantee — a shared run of w+n-1 words shares a fingerprint") {
    import spark.implicits._
    // n=3, w=4: any shared run of >= 6 words must share >= 1 selected fp
    val run = "one two three four five six"
    val wdocs = Seq(
      (1L, "aa bb cc dd " + run + " ee ff gg hh"),
      (2L, "pp qq rr " + run + " ss tt uu vv ww"),
      (3L, "xx yy zz completely disjoint tokens here padding words extra"))
      .toDF("doc_id", "text")
    val pairs = Dedup
      .winnowingOverlapPairs(wdocs, "text", "doc_id", n = 3, w = 4, minShared = 1L)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 1L),
      "docs sharing a 6-word run must share a winnowed fingerprint")
    assert(pairs.forall(p => p._1 < p._2), "pairs must be canonical id_a < id_b")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "disjoint doc matched")
  }

  test("winnowing: every window of w hashes has its minimum selected (coverage invariant)") {
    import spark.implicits._
    val text = Seq.tabulate(40)(i => s"w${(i * 13 + 5) % 23}").mkString(" ")
    val wdocs = Seq((1L, text)).toDF("doc_id", "text")
    val fps = wdocs
      .select(org.apache.spark.sql.graft.WinnowedFps(
        graft.functions.TextFunctions.wordShingles(col("text"), 3), 4))
      .as[Seq[Long]].head().toSet
    // recompute the positional hash sequence exactly as the operator does
    val hs = spark.createDataFrame(Seq(Tuple1(text))).toDF("text")
      .select(transform(graft.functions.TextFunctions.wordShingles(col("text"), 3),
        s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")).as("hs"))
      .as[Seq[Long]].head()
    (0 to hs.length - 4).foreach { i =>
      val mn = hs.slice(i, i + 4).min
      assert(fps(mn), s"window at $i: min $mn not selected")
    }
    // density: fewer selected fingerprints than windows
    assert(fps.size < hs.length - 4 + 1)
  }

  test("winnowing: native one-pass kernel matches the composed-HOF selection exactly") {
    import spark.implicits._
    import graft.functions.TextFunctions.wordShingles
    val docs = graft.core.Tables.documents(spark, sf("sf0.001"))
    val native = docs
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graft.WinnowedFps(wordShingles(col("text"), 3), 4)).as("fp"))
      .as[(Long, Long)].collect().toSet
    val hs = transform(wordShingles(col("text"), 3), s =>
      conv(substring(md5(s), 1, 15), 16, 10).cast("long"))
    val hof = docs
      .select(col("doc_id"), hs.as("hs"))
      .filter(size(col("hs")) >= 4)
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(0), size(col("hs")) - 4),
        i => array_min(slice(col("hs"), i + 1, lit(4)))))).as("fp"))
      .as[(Long, Long)].collect().toSet
    assert(native.nonEmpty, "fixture corpus selected no fingerprints — vacuous")
    assert(native == hof)
  }

  test("winnowing: single-word edit still leaves surrounding fingerprints shared") {
    import spark.implicits._
    val base = Seq.tabulate(30)(i => s"t${(i * 7 + 3) % 19}").mkString(" ")
    val toks = base.split(" ")
    val edited = (toks.take(15) ++ Array("EDITED") ++ toks.drop(16)).mkString(" ")
    val wdocs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val shared = Dedup
      .winnowingOverlapPairs(wdocs, "text", "doc_id", n = 3, w = 4, minShared = 1L)
      .as[(Long, Long, Long)].collect()
    assert(shared.length == 1 && shared.head._3 >= 2L,
      "one-word edit must not wipe out winnowed overlap")
  }

  test("cdcChunks: chunks tile each document exactly, short docs are one chunk") {
    val fixtures = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then keeps running through the quiet field until dusk settles"),
      (2L, "tiny"))
    val docs = fixtures.toDF("doc_id", "text")
    val out = Dedup.cdcChunks(docs, "text", "doc_id", window = 16, divisor = 4)
      .orderBy("doc_id", "chunk_idx").collect()
    for ((id, txt) <- fixtures) {
      val ch = out.filter(_.getAs[Long]("doc_id") == id)
      assert(ch.head.getAs[Long]("start_pos") == 0L)
      assert(ch.last.getAs[Long]("end_pos") == txt.length.toLong)
      // contiguous: every start equals the previous end
      ch.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_pos") == a.getAs[Long]("end_pos"))
        case _ =>
      }
      assert(ch.forall(r => r.getAs[Long]("chunk_len") ==
        r.getAs[Long]("end_pos") - r.getAs[Long]("start_pos")))
    }
    assert(out.count(_.getAs[Long]("doc_id") == 2L) == 1L, "short doc = one chunk")
  }

  test("cdcChunks: a prefix edit leaves later chunks byte-identical (the CDC point)") {
    val base = "the quick brown fox jumps over the lazy dog and then keeps running " +
      "through the quiet field until dusk settles on the far hills while birds " +
      "circle slowly above the old barn near the river bend"
    val docs = Seq((1L, base), (2L, "EDITED PREFIX " + base)).toDF("doc_id", "text")
    val out = Dedup.cdcChunks(docs, "text", "doc_id", window = 16, divisor = 4).collect()
    val fps1 = out.filter(_.getAs[Long]("doc_id") == 1L).map(_.getAs[Long]("chunk_fp")).toSet
    val fps2 = out.filter(_.getAs[Long]("doc_id") == 2L).map(_.getAs[Long]("chunk_fp")).toSet
    assert(out.count(_.getAs[Long]("doc_id") == 1L) >= 3,
      "fixture must produce several chunks for the invariant to mean anything")
    assert((fps1 & fps2).nonEmpty,
      "content-defined boundaries must re-align after the edit; offset chunking would share nothing")
  }
}
