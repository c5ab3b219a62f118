package graft.search

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.corpus.CorpusGen
import graft.index.{IndexBuild, IndexConfig}
import graft.rank.MeiliRank

class SearchFeaturesSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val cfg = IndexConfig(docsPerShard = 64, termBuckets = 4, blockSize = 16,
    numPartitions = 4, positions = true)

  test("highlight wraps matches, merges camelCase subtoken spans") {
    val h = Highlighter.highlight("val parseBuffer = readBuffer(x)",
      Set("buffer", "read"))
    assert(h == "val parse<em>Buffer</em> = <em>readBuffer</em>(x)")
    assert(Highlighter.highlight("no match here", Set("zzz")) == "no match here")
  }

  test("highlight supports prefix terms") {
    val h = Highlighter.highlight("sparse spark sparks", Set.empty,
      prefixTerms = Set("spark"))
    assert(h == "sparse <em>spark</em> <em>sparks</em>")
  }

  test("crop centers on the densest match window") {
    val text = (1 to 30).map(i => s"w$i").mkString(" ") + " target target end"
    val c = Highlighter.crop(text, Set("target"), cropLength = 4)
    assert(c.contains("target target"))
    assert(c.startsWith("…"))
    assert(c.length < text.length)
  }

  test("match positions report term, word position and char offsets") {
    val ms = Highlighter.matches("foo barBaz foo", Set("foo", "baz"))
    assert(ms.map(m => (m.term, m.pos)) == Seq(("foo", 0), ("baz", 2), ("foo", 3)))
    assert(ms.head.start == 0 && ms.head.end == 3)
  }

  test("append: delta segments rank identically to a full rebuild") {
    val dirA = tempDir("appendA")
    val dirB = tempDir("appendB")
    val full = CorpusGen.generate(spark, 400).as[graft.corpus.SourceFile]
    val part1 = full.filter($"repo" < "org-00010")
    val part2 = full.filter($"repo" >= "org-00010")
    IndexBuild.build(spark, full, dirA, cfg)
    IndexBuild.build(spark, part1, dirB, cfg)
    IndexBuild.append(spark, part2, dirB, cfg, "batch1")

    val ea = new SearchEngine(spark, dirA)
    val eb = new SearchEngine(spark, dirB)
    assert(ea.docs.count() == eb.docs.count())
    assert(SparkTestBase.dictRows(s"$dirB/dict") == SparkTestBase.dictRows(s"$dirA/dict"),
      "dict df must match after append")
    // base + delta stats sum to the rebuild's, bit for bit
    assert(eb.nDocs == ea.nDocs && eb.avgdl == ea.avgdl,
      s"stats after append (${eb.nDocs}, ${eb.avgdl}) vs rebuild (${ea.nDocs}, ${ea.avgdl})")
    Seq("merge buffer", "return import", "flush").foreach { q =>
      val a = ea.searchHits(q, 10).select("score", "repo", "path")
        .as[(Double, String, String)].collect().toSeq
      val b = eb.searchHits(q, 10).select("score", "repo", "path")
        .as[(Double, String, String)].collect().toSeq
      assert(a.map(x => (x._2, x._3)) == b.map(x => (x._2, x._3)), s"'$q' hits differ")
      a.zip(b).foreach { case (x, y) => assert(math.abs(x._1 - y._1) < 1e-9) }
    }
    // WAND over mixed old+delta blocks stays exact
    val a = ea.searchWand("merge buffer", 10, conjunctive = false)
      .as[(Int, Double)].collect().map(_._2).toSeq
    val b = eb.searchWand("merge buffer", 10, conjunctive = false)
      .as[(Int, Double)].collect().map(_._2).toSeq
    a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
  }

  test("latestByKey keeps the newest version per primary key") {
    val df = Seq(
      ("r", "p", "c1", 1L, "old"), ("r", "p", "c2", 2L, "new"),
      ("r", "q", "c3", 1L, "only")).toDF("repo", "path", "commit", "v", "content")
    val got = IndexBuild.latestByKey(df, Seq("repo", "path"), "v")
      .select("content").as[String].collect().toSet
    assert(got == Set("new", "only"))
  }

  test("pagination and totalHits") {
    val dir = tempDir("page")
    IndexBuild.build(spark, CorpusGen.generate(spark, 300).as[graft.corpus.SourceFile], dir, cfg)
    val e = new SearchEngine(spark, dir)
    val (all, total) = e.searchPage("return", 0, 1000)
    assert(total == all.length)
    val (p1, _) = e.searchPage("return", 0, 5)
    val (p2, _) = e.searchPage("return", 5, 5)
    assert((p1 ++ p2).toSeq == all.take(10).toSeq, "pages tile the full ranking")
    assert(e.fieldDistribution()("lang") == 300)
  }

  test("facet-value search: prefix-filtered value counts over candidates") {
    val dir = tempDir("facetsearch")
    IndexBuild.build(spark, CorpusGen.generate(spark, 300).as[graft.corpus.SourceFile], dir, cfg)
    val e = new SearchEngine(spark, dir)
    val vals = e.facetSearch("return", "lang", "s")
      .as[(String, Long)].collect().toSeq
    assert(vals.nonEmpty && vals.forall(_._1.startsWith("s"))) // scala
    assert(vals.map(_._2) == vals.map(_._2).sorted.reverse)
    // OrderBy::Lexicographic variant sorts by value
    val lex = e.facetSearch("return", "lang", "", orderByLex = true)
      .as[(String, Long)].collect().toSeq
    assert(lex.map(_._1) == lex.map(_._1).sorted)
  }

  test("facet search typo DFA is PREFIX-accepting (diacritic + prefix + typo compose)") {
    val dir = tempDir("facetdfa")
    val docs = Seq(
      (0L, "alpha town", "Café de la Paix"), (1L, "alpha city", "Café Central"),
      (2L, "alpha spot", "Cofe Corner"), (3L, "alpha misc", "Tea House"))
      .toDF("doc_id", "text", "place")
    IndexBuild.buildFromTable(spark,
      docs.withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("source", docs("place")),
      "doc_id", "text", "lang", "source", dir,
      IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
        numPartitions = 2, positions = true))
    val e = new SearchEngine(spark, dir)
    // query 'cafes' (len 5 -> budget 1): 'Café de la Paix' normalizes to
    // 'cafe de la paix' — whole-value distance is huge, but the PREFIX
    // 'cafe' is 1 edit from 'cafes' -> matches (reference
    // build_dfa(is_prefix=true), search/facet/search.rs:152-160).
    // 'Cofe Corner' needs 2 edits (o->a plus the s) — out of budget.
    val got = e.facetSearch("alpha", "repo", "cafes", typoTolerant = true)
      .as[(String, Long)].collect().map(_._1).toSet
    assert(got == Set("Café de la Paix", "Café Central"), s"$got")
    // and at budget 2 ('cafesx', len 6 -> still 1; use a 9-char query
    // for budget 2) the 2-edit prefix is reachable
    assert(Levenshtein.prefixDistance("cofe corner", "cafes") == 2)
    // prefixDistance unit behavior
    assert(Levenshtein.prefixDistance("cafe de la paix", "cafes") == 1)
    assert(Levenshtein.prefixDistance("tea house", "cafes") > 2)
    assert(Levenshtein.prefixDistance("anything", "") == 0)
  }

  test("synonyms expand query-side at zero typo cost, non-exact") {
    val dir = tempDir("syn")
    val docs = Seq((0L, "the quick fox"), (1L, "the fast fox"), (2L, "a dog"))
      .toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    IndexBuild.buildFromTable(spark, docs, "doc_id", "text", "lang", "source",
      dir, IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
        numPartitions = 2, positions = true))
    val e = new SearchEngine(spark, dir)
    val mr = new MeiliRank(e, synonyms = Map("quick" -> Seq("fast")))
    val got = mr.search("quick", 10).collect()
      .map(r => r.getInt(0) -> r.getAs[Int]("exactWords")).toMap
    assert(got.keySet == Set(0, 1))
    assert(got(0) == 1, "direct match is exact")
    assert(got(1) == 0, "synonym match is not exact")
  }
}
