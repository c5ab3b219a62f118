package graft.api

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.index.{IndexBuild, IndexConfig}
import graft.search.SearchEngine

/** The reference-shaped search API facade: one SearchRequest drives
  * filter, sort, paging, matching strategy, attributesToSearchOn, and
  * ranking-rule configuration together. */
class IndexApiSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val docs = Seq(
    (0L, "spark merge batch", "alpha plan spark merge", "en"),
    (1L, "merge tool", "spark merge runs in the batch tier", "en"),
    (2L, "spark merge", "unrelated body text", "fr"),
    (3L, "other title", "spark merge spark merge", "en"),
    (4L, "spark title", "no match here", "en"))

  lazy val idx: Index = {
    val dir = tempDir("apiidx")
    val df = docs.toDF("doc_id", "title", "body", "lang")
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    IndexBuild.buildMultiField(spark, df, "doc_id",
      fields = Seq(("title", 0), ("body", 1)),
      langCol = "lang", sourceCol = "source", indexDir = dir,
      cfg = IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
        numPartitions = 2))
    new Index(new SearchEngine(spark, dir))
  }

  test("plain search ranks title matches first (fid rule)") {
    val rows = idx.search(SearchRequest(q = "spark merge")).collect()
    val ids = rows.map(_.getInt(0)).toSeq
    assert(ids.head == 2 || ids.head == 0, s"title match first: $ids")
    // strategy Last keeps partial-prefix matches: doc 4 ('spark' only)
    // ranks last with wordsRank 1
    assert(ids.toSet == Set(0, 1, 2, 3, 4) && ids.last == 4, s"$ids")
    assert(rows.last.getInt(1) == 1, "doc 4 matches only the first word")
  }

  test("a len filter or len sort pages exactly as the doc lengths in doclen/ order it") {
    val lens = idx.engine.doclen.as[(Int, Int)].collect().toMap
    val all = idx.search(SearchRequest(q = "spark merge", limit = 10)).collect().toSeq
    val cut = all.map(r => lens(r.getInt(0))).sorted.apply(all.size / 2)
    // the filter restricts the universe after scoring: the rows of the
    // unfiltered page whose doc is long enough, every column unchanged
    val filtered = idx.search(SearchRequest(q = "spark merge", limit = 10,
      filter = Some(s"len >= $cut"))).collect().toSeq
    assert(filtered.nonEmpty && filtered.size < all.size, s"cut $cut: $filtered")
    assert(filtered == all.filter(r => lens(r.getInt(0)) >= cut))
    val byLen = idx.search(SearchRequest(q = "spark merge", limit = 10,
      sort = Seq("len:desc"), rankingRules = Seq("sort"))).collect().map(_.getInt(0)).toSeq
    assert(byLen == all.map(_.getInt(0)).sortBy(d => (-lens(d), d)), s"$byLen")
  }

  test("filter + matchingStrategy=all compose") {
    val ids = idx.search(SearchRequest(q = "spark merge batch",
      filter = Some("lang = en"), matchingStrategy = "all"))
      .collect().map(_.getInt(0)).toSet
    assert(ids == Set(0, 1), s"en docs with all three words: $ids")
  }

  test("offset paging slices the ranked stream deterministically") {
    val all = idx.search(SearchRequest(q = "spark merge", limit = 10))
      .collect().map(_.getInt(0)).toSeq
    val page2 = idx.search(SearchRequest(q = "spark merge", limit = 2, offset = 2))
      .collect().map(_.getInt(0)).toSeq
    assert(page2 == all.slice(2, 4), s"$page2 vs $all")
  }

  test("attributesToSearchOn restricts to named fields") {
    val titleOnly = idx.search(SearchRequest(q = "batch",
      attributesToSearchOn = Some(Seq("title"))))
      .collect().map(_.getInt(0)).toSet
    assert(titleOnly == Set(0), s"batch in title only: $titleOnly")
    intercept[IllegalArgumentException] {
      idx.search(SearchRequest(q = "batch",
        attributesToSearchOn = Some(Seq("nope"))))
    }
  }

  test("sort entries slot into the rule cascade at the sort position") {
    // words-only + lang sort: groups by wordsRank, then lang ascending
    val rows = idx.search(SearchRequest(q = "spark merge",
      sort = Seq("lang:asc"),
      rankingRules = Seq("words", "sort"))).collect()
    val langs = rows.map(_.getAs[String]("lang")).toSeq
    val ranks = rows.map(_.getInt(1)).toSeq
    ranks.zip(langs).sliding(2).foreach {
      case Seq((r1, l1), (r2, l2)) =>
        assert(r1 > r2 || (r1 == r2 && l1 <= l2), s"$ranks / $langs")
      case _ =>
    }
  }

  private def fmtMap(rows: Array[org.apache.spark.sql.Row],
                     colName: String = "_formatted"): Map[Int, Map[String, String]] =
    rows.map(r => r.getInt(0) ->
      r.getAs[scala.collection.Map[String, String]](colName).toMap).toMap

  test("highlight + crop produce a per-field _formatted map over matched derivations") {
    // multi-field index: _formatted is field→formatted, each stored
    // field formatted individually (never the concatenation)
    val byId = fmtMap(idx.search(SearchRequest(q = "spark merge",
      highlight = true)).collect())
    assert(byId(0)("title").contains("<em>spark</em>") &&
      byId(0)("title").contains("<em>merge</em>"), s"${byId(0)}")
    assert(byId(0)("body").contains("<em>spark</em>"), s"${byId(0)}")
    // crop shortens long fields to the best window around matches —
    // per field: the body crops around its own match
    val cropped = fmtMap(idx.search(SearchRequest(q = "batch", highlight = true,
      cropLength = Some(3))).collect())
    assert(cropped(1)("body").contains("<em>batch</em>"), s"${cropped(1)}")
    assert(cropped(1)("body").length < docs(1)._3.length,
      s"crop must shorten: ${cropped(1)}")
  }

  test("showMatchesPosition emits per-field term@pos[start,end) spans; cropMarker is configurable") {
    val mp = fmtMap(idx.search(SearchRequest(q = "spark merge",
      showMatchesPosition = true)).collect(), "_matchesPosition")
    // doc 0 title 'spark merge batch': spark at word 0 chars [0,5)
    assert(mp(0)("title").contains("spark@0[0,5)"), s"${mp(0)}")
    assert(mp(0)("body").split(";").forall(s => s.contains("@") && s.contains("[")),
      s"${mp(0)}")
    // doc 4 ('spark title' / 'no match here'): only the title matches →
    // the unmatched field is omitted from the map
    assert(mp(4).keySet == Set("title"), s"${mp(4)}")
    val marked = fmtMap(idx.search(SearchRequest(q = "batch", cropLength = Some(3),
      cropMarker = "[..]")).collect())
    assert(marked(1)("body").contains("[..]") && !marked(1)("body").contains("…"),
      s"${marked(1)}")
  }

  test("attributesToRetrieve projects the hit columns") {
    val df = idx.search(SearchRequest(q = "spark merge",
      attributesToRetrieve = Some(Seq("lang")), highlight = true))
    assert(df.columns.toSeq == Seq("docId", "lang", "_formatted"), df.columns.mkString(","))
    assert(df.collect().nonEmpty)
  }

  test("quoted phrases highlight only at adjacency sites") {
    val byId = fmtMap(idx.search(SearchRequest(q = "\"spark merge\"",
      highlight = true)).collect())
    // doc 1: title 'merge tool', body 'spark merge runs...' — the
    // adjacent pair is wrapped as ONE span, the lone 'merge' is not
    assert(byId(1)("body").contains("<em>spark merge</em>"), s"${byId(1)}")
    assert(byId(1)("title") == "merge tool",
      s"lone word must stay bare: ${byId(1)}")
    // a hard separator breaks adjacency: no phrase match across it
    import graft.search.Highlighter
    assert(Highlighter.matches("spark. merge", Set.empty,
      phrases = Seq(Seq("spark", "merge"))).isEmpty)
    assert(Highlighter.matches("big spark merge day", Set.empty,
      phrases = Seq(Seq("spark", "merge"))).map(m => (m.start, m.end)) == Seq((4, 15)))
    // crop must still center on the phrase site for a pure-phrase query
    // (regression: phrase words were dropped from the crop term set)
    val cropped = fmtMap(idx.search(SearchRequest(q = "\"spark merge\"",
      highlight = true, cropLength = Some(3))).collect())
    assert(cropped(3)("body").contains("<em>spark merge</em>"),
      s"crop centered off the match: ${cropped(3)}")
  }

  test("totalHits counts the filtered universe exhaustively") {
    assert(idx.totalHits(SearchRequest(q = "spark merge",
      filter = Some("lang = en"))) == 4)
  }

  test("facetDistributions returns per-facet counts over query + filter candidates") {
    val fd = idx.facetDistributions(SearchRequest(q = "spark merge"), Seq("lang"))
    val langs = fd("lang").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // universe = words-rule matched docs (keep-order prefix): every
    // fixture doc matches at least slot 0 ('spark'), so all 5 count
    assert(langs == Map("en" -> 4, "fr" -> 1), s"$langs")
    val filtered = idx.facetDistributions(
      SearchRequest(q = "spark merge", filter = Some("lang = en")), Seq("lang"))
    assert(filtered("lang").collect().map(r => r.getString(0)).toSeq == Seq("en"))
    // the facet universe follows the search's derivations: a typo'd
    // query still counts docs matched via its 1-typo derivation
    val typo = idx.facetDistributions(SearchRequest(q = "sparkk merge"), Seq("lang"))
    val typoLangs = typo("lang").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(typoLangs == langs, s"derivation-aware universe: $typoLangs vs $langs")
    // and the matching strategy restricts it: All keeps only full matches
    val all = idx.facetDistributions(
      SearchRequest(q = "spark merge", matchingStrategy = "all"), Seq("lang"))
    val allN = all("lang").collect().map(_.getLong(1)).sum
    assert(allN == 4, s"docs matching BOTH words: $allN") // doc 4 excluded

    // sortFacetValuesBy (reference faceting setting): default is the
    // reference's Alpha — values ascend lexicographically; "count" and
    // the "*" wildcard opt back into decreasing-count order
    val alpha = idx.facetDistributions(SearchRequest(q = "spark merge"),
      Seq("lang"))("lang").collect().map(_.getString(0)).toSeq
    assert(alpha == alpha.sorted, s"default must be alpha order: $alpha")
    val byCount = idx.facetDistributions(SearchRequest(q = "spark merge"),
      Seq("lang"), sortFacetValuesBy = Map("*" -> "count"))("lang")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(byCount.map(_._2).toSeq == byCount.map(_._2).sorted.reverse.toSeq,
      s"count order: $byCount")
    intercept[IllegalArgumentException] {
      idx.facetDistributions(SearchRequest(q = "spark"), Seq("lang"),
        sortFacetValuesBy = Map("lang" -> "bogus"))("lang").collect()
    }
  }

  test("totalHits under distinct counts the collapsed universe (== page walk)") {
    val r = SearchRequest(q = "spark merge", distinct = Some("lang"), limit = 100)
    val pageLen = idx.search(r).collect().length
    assert(pageLen == 2, s"one doc per lang: $pageLen") // en + fr
    assert(idx.totalHits(r) == pageLen,
      "distinct-aware totalHits must agree with what pagination returns")
    // without distinct the raw universe is larger
    assert(idx.totalHits(r.copy(distinct = None)) == 5)
  }

  test("totalHits honors rankingScoreThreshold (== page walk, with and without distinct)") {
    val all = idx.search(SearchRequest(q = "spark merge", limit = 100)).collect()
    val scores = all.map(_.getAs[Double]("rankingScore"))
    val tau = scores.sorted.apply(scores.length / 2) // median: cuts some docs
    val r = SearchRequest(q = "spark merge", limit = 100,
      rankingScoreThreshold = Some(tau))
    assert(idx.totalHits(r) == idx.search(r).collect().length.toLong)
    assert(idx.totalHits(r) < all.length, "threshold must cut the count")
    val rd = r.copy(distinct = Some("lang"))
    assert(idx.totalHits(rd) == idx.search(rd).collect().length.toLong)
  }

  test("placeholder path honors attributesToRetrieve, highlight and sort validation") {
    val proj = idx.search(SearchRequest(q = "", limit = 100,
      attributesToRetrieve = Some(Seq("lang")))).columns.toSet
    assert(proj == Set("docId", "lang"), s"$proj")
    val hl = idx.search(SearchRequest(q = "", limit = 2, highlight = true))
    assert(hl.columns.contains("_formatted"),
      "placeholder must produce the same formatted surface")
    intercept[IllegalArgumentException](
      idx.search(SearchRequest(q = "", sort = Seq("lang"))))
    intercept[IllegalArgumentException](
      idx.search(SearchRequest(q = "spark", sort = Seq("lang:Asc"))))
  }

  test("empty q is a placeholder search: all docs, filter/sort/distinct applied") {
    val all = idx.search(SearchRequest(q = "", limit = 100)).collect()
    assert(all.length == 5, s"placeholder must return every doc: ${all.length}")
    val filtered = idx.search(SearchRequest(q = "", filter = Some("lang = en"),
      limit = 100)).collect()
    assert(filtered.length == 4)
    val sorted = idx.search(SearchRequest(q = "  ", sort = Seq("lang:desc"),
      limit = 100)).collect().map(_.getAs[String]("lang")).toSeq
    assert(sorted == sorted.sortBy(identity).reverse, s"$sorted")
    val dedup = idx.search(SearchRequest(q = "", distinct = Some("lang"),
      limit = 100)).collect()
    assert(dedup.length == 2)
    assert(idx.totalHits(SearchRequest(q = "")) == 5)
    assert(idx.totalHits(SearchRequest(q = "", distinct = Some("lang"))) == 2)
    // facetDistributions over the placeholder universe counts all docs
    val fd = idx.facetDistributions(SearchRequest(q = ""), Seq("lang"))("lang")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fd == Map("en" -> 4, "fr" -> 1), s"$fd")
  }

  test("similar-documents facade: excludes target, filter universe, offset slice, threshold") {
    val vecs: Map[Long, Array[Float]] = (0L to 4L).map(i =>
      i -> Array.tabulate(6)(d => (((i * 13 + d * 5) % 9) - 4).toFloat / 4f)).toMap
    val e = vecs.toSeq.sortBy(_._1).toDF("vec_id", "embedding")
    // independent fixed-point recompute (the file-wide contract)
    def fx(x: Double) = math.floor(x * 1e9 + 0.5).toLong
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => fx(x.toDouble * y.toDouble) }.sum
      val na = a.map(x => fx(x.toDouble * x.toDouble)).sum
      val nb = b.map(x => fx(x.toDouble * x.toDouble)).sum
      BigDecimal(dot / math.sqrt(na.toDouble * nb.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val all = (0L to 4L).filter(_ != 0L)
      .map(i => (i, cos(vecs(0L), vecs(i))))
      .sortBy { case (id, s) => (-s, id) }
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getInt(0).toLong).toSeq

    val got = idx.similar(e, "vec_id", "embedding", 0L, limit = 3)
    assert(ids(got) == all.take(3).map(_._1), s"${ids(got)} vs $all")
    assert(!ids(got).contains(0L))
    // filter: doc 2 is fr -> excluded from the universe, NOT from k
    val gotEn = idx.similar(e, "vec_id", "embedding", 0L, limit = 3,
      filter = Some("lang = en"))
    val wantEn = all.filter(_._1 != 2L).take(3).map(_._1)
    assert(ids(gotEn) == wantEn, s"${ids(gotEn)} vs $wantEn")
    // offset: page 2 continues the same ordering
    val page2 = idx.similar(e, "vec_id", "embedding", 0L, limit = 2, offset = 2)
    assert(ids(page2) == all.map(_._1).slice(2, 4), s"${ids(page2)}")
    // threshold keeps only scores >= t
    val t = all(1)._2
    val gotT = idx.similar(e, "vec_id", "embedding", 0L, limit = 5,
      rankingScoreThreshold = Some(t))
    assert(ids(gotT) == all.takeWhile(_._2 >= t).map(_._1), s"${ids(gotT)}")
    // unknown target fails fast
    intercept[IllegalArgumentException](
      idx.similar(e, "vec_id", "embedding", 99L))
  }

  test("similar ranks through Hybrid's semantic router: with no LSH index a large table is refused") {
    import org.apache.spark.sql.functions.{array, col, lit}
    // 3,000 rows: the plan statistics trip a 10-row cap, the bounded
    // count confirms it
    val big = spark.range(3000).select(col("id").as("vec_id"),
      array(lit(1f), (col("id") % 7).cast("float")).as("embedding"))
    val e = intercept[IllegalArgumentException](
      idx.similar(big, "vec_id", "embedding", 0L, semanticExactMaxRows = 10L))
    assert(e.getMessage.contains("exceeds 10 rows and no LSH index was given"), e.getMessage)
  }

  test("showRankingScoreDetails emits a _rankingScoreDetails JSON column") {
    val rows = idx.search(SearchRequest(q = "spark merge",
      showRankingScoreDetails = true)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val js = r.getString(r.fieldIndex("_rankingScoreDetails"))
      assert(js.contains("\"words\"") && js.contains("\"typo\"") &&
        js.contains("\"order\""), js)
    }
    // attributesToRetrieve keeps the _-prefixed detail column
    val proj = idx.search(SearchRequest(q = "spark merge",
      showRankingScoreDetails = true,
      attributesToRetrieve = Some(Seq("lang")))).columns.toSet
    assert(proj.contains("_rankingScoreDetails"), s"$proj")
  }
}
