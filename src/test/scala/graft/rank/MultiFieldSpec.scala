package graft.rank

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.index.{IndexBuild, IndexConfig}
import graft.search.SearchEngine

/** Multi-field indexing + fid ranking rule (reference positions encode
  * fid<<16|pos, lib.rs:201-208; fid rule cost = field weight,
  * ranking_rule_graph/fid/mod.rs:50-110; lower weight = more important
  * field, searched-attributes order). */
class MultiFieldSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // title (weight 0, most important) + body (weight 1)
  val docs = Seq(
    (0L, "cooking pasta", "a long story about gardens and tools"),
    (1L, "garden tools", "cooking pasta recipes for the family"),
    (2L, "pasta", "pasta"),
    (3L, "unrelated title", "more cooking here with pasta later on"))

  private def multiField(stopWords: Set[String] = Set.empty): SearchEngine = {
    val dir = tempDir("multifield")
    val df = docs.toDF("doc_id", "title", "body")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    IndexBuild.buildMultiField(spark, df, "doc_id",
      fields = Seq(("title", 0), ("body", 1)),
      langCol = "lang", sourceCol = "source", indexDir = dir,
      cfg = IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
        numPartitions = 2, stopWords = stopWords))
    new SearchEngine(spark, dir)
  }
  lazy val engine: SearchEngine = multiField()
  lazy val mr = new MeiliRank(engine)

  test("stop words persist: the query side drops what the index dropped") {
    // doc 1's body holds 'the'; the index drops it, so a query side
    // that kept it would match and rank by a term no posting list has
    val e = multiField(stopWords = Set("the"))
    assert(e.stopWords == Set("the"))
    assert(!e.td.contains("the"))
    val m = new MeiliRank(e)
    def rows(q: String) = m.search(q, 10).collect().map(_.toSeq).toSeq
    assert(rows("pasta").nonEmpty)
    assert(rows("the pasta") == rows("pasta"))
  }

  test("index shape: tf sums across fields, len counts all fields") {
    assert(engine.fieldWeights == Map(0 -> 0, 1 -> 1))
    // doc 2 has 'pasta' in both fields: tf 2, len 2
    val d2 = engine.docs.where($"docId" === 2).select($"len").as[Int].head()
    assert(d2 == 2)
    assert(engine.td.lookup(Seq("pasta")) == Map("pasta" -> 4L), "df counts docs, not fields")
  }

  test("fid rule: title match outranks body match, weights reorder results") {
    // 'cooking pasta': doc 0 has both words in TITLE (weight 0); doc 1
    // has both in BODY (weight 1); equal words/typo/prox otherwise
    val got = mr.search("cooking pasta", 10).collect().map(_.getInt(0)).toSeq
    assert(got.indexOf(0) < got.indexOf(1),
      s"title (weight 0) must outrank body (weight 1): $got")
  }

  test("phrase and proximity never cross field boundaries") {
    // doc 0: 'pasta' ends title, 'a' starts body — encoded positions
    // differ by >= 1<<16, so they are never adjacent
    val ph = engine.phrase(Seq("pasta", "a")).collect().map(_.getInt(0)).toSet
    assert(!ph.contains(0), s"phrase must not span fields: $ph")
    // within-field adjacency still works
    val ph2 = engine.phrase(Seq("cooking", "pasta")).collect().map(_.getInt(0)).toSet
    assert(ph2.contains(0) && ph2.contains(1))
  }

  test("BM25 search works over the multi-field index") {
    val hits = engine.searchDF("pasta", 10).collect()
    assert(hits.map(_.getInt(0)).toSet == Set(0, 1, 2, 3))
  }

  test("attributesToSearchOn: restricting to title drops body-only matches") {
    // 'cooking': title of doc 0 only; body of docs 1 and 3
    val all = mr.search("cooking", 10).collect().map(_.getInt(0)).toSet
    assert(all == Set(0, 1, 3))
    val titleOnly = mr.search("cooking", 10, searchOnFids = Some(Set(0)))
      .collect().map(_.getInt(0)).toSet
    assert(titleOnly == Set(0), s"restricted to title: $titleOnly")
    val bodyOnly = mr.search("cooking", 10, searchOnFids = Some(Set(1)))
      .collect().map(_.getInt(0)).toSet
    assert(bodyOnly == Set(1, 3), s"restricted to body: $bodyOnly")
  }

  test("attributesToSearchOn applies to multi-word queries and positions") {
    // 'cooking pasta' adjacent: title of doc 0, body of doc 1
    val titleOnly = mr.search("cooking pasta", 10, searchOnFids = Some(Set(0)))
      .collect().map(_.getInt(0)).toSeq
    assert(titleOnly.headOption.contains(0) && !titleOnly.contains(1),
      s"body-only doc 1 must not appear: $titleOnly")
  }

  test("negatives and phrases honor attributesToSearchOn (universe restrictions share the field set)") {
    // 'garden' occurs only in doc 1's TITLE; searching the BODY only,
    // the negative must not see it — doc 1 stays (reference routes
    // phrase/negative resolution through restricted_fids)
    val bodyOnly = mr.search("cooking -garden", 10, searchOnFids = Some(Set(1)))
      .collect().map(_.getInt(0)).toSet
    assert(bodyOnly.contains(1), s"title-only negative must not exclude doc 1: $bodyOnly")
    // unrestricted, the same negative excludes doc 1
    val allFields = mr.search("cooking -garden", 10)
      .collect().map(_.getInt(0)).toSet
    assert(!allFields.contains(1), s"$allFields")
    // phrase restriction follows the field set too: "cooking pasta" as
    // a phrase exists in doc 0's TITLE and doc 1's BODY
    val ph = engine.syntaxDocs(
      graft.query.QueryParser.parse("\"cooking pasta\""), Some(Set(0)))
      ._1.get.collect().map(_.getInt(0)).toSet
    assert(ph == Set(0), s"title-restricted phrase universe: $ph")
  }

  test("exactAttributes: typo-derived matches are excluded from typo-disabled fields") {
    // reference exact_attributes (index.rs:125-126): a derived form only
    // resolves through word_docids_without_exact (db_cache.rs:183-205).
    // 'pastq' (budget 1) derives 'pasta' at cost 1. With the TITLE
    // (fid 0) typo-disabled: doc 0 has 'pasta' ONLY in its title -> the
    // typo match disappears; docs 1/2/3 have body occurrences -> stay
    val mrExact = new MeiliRank(engine, typo = TypoSettings(exactFids = Set(0)))
    val unrestricted = mr.search("pastq", 10).collect().map(_.getInt(0)).toSet
    assert(unrestricted == Set(0, 1, 2, 3), s"$unrestricted")
    val restricted = mrExact.search("pastq", 10).collect().map(_.getInt(0)).toSet
    assert(restricted == Set(1, 2, 3),
      s"title-only typo match (doc 0) must drop: $restricted")
    // the EXACT word still matches everywhere, including the exact field
    val exact = mrExact.search("pasta", 10).collect().map(_.getInt(0)).toSet
    assert(exact == Set(0, 1, 2, 3), s"exact form unrestricted: $exact")
    // rank costs ignore typo positions inside the exact field too:
    // doc 2 has 'pasta' at title pos 0 and body pos 0 (fid 1 weight 1) —
    // under exactFids the typo match's fid cost reads the BODY weight
    val fc = mrExact.search("pastq", 10).collect()
      .map(r => r.getAs[Int]("docId") -> r.getAs[Int]("fidCost")).toMap
    assert(fc(2) == 1, s"doc 2's kept position is the body one (weight 1): $fc")
  }

  test("api.Index exactAttributes maps field names to fids") {
    val idx = new graft.api.Index(engine, exactAttributes = Seq("title"))
    val got = idx.search(graft.api.SearchRequest(q = "pastq", limit = 10))
      .collect().map(_.getAs[Int]("docId")).toSet
    assert(got == Set(1, 2, 3), s"$got")
    intercept[IllegalArgumentException] {
      new graft.api.Index(engine, exactAttributes = Seq("nope"))
        .search(graft.api.SearchRequest(q = "pastq"))
    }
  }

  test("per-field _formatted: each retrieved attribute formatted individually") {
    import graft.api.{Index, SearchRequest}
    val idx = new Index(engine)
    def fmt(r: SearchRequest, colName: String = "_formatted"): Map[Int, Map[String, String]] =
      idx.search(r).collect().map(row => row.getAs[Int]("docId") ->
        row.getAs[scala.collection.Map[String, String]](colName).toMap).toMap
    // highlight=true formats EVERY stored field separately — tags land
    // only in the field that actually matches, the other field is the
    // raw stored value (never the "\n\n" concatenation)
    val hl = fmt(SearchRequest(q = "cooking pasta", highlight = true, limit = 10))
    assert(hl(0)("title") == "<em>cooking</em> <em>pasta</em>", hl(0))
    assert(hl(0)("body") == "a long story about gardens and tools", hl(0))
    assert(hl(1)("body").startsWith("<em>cooking</em> <em>pasta</em> recipes"), hl(1))
    assert(!hl(1)("title").contains("<em>"), hl(1))
    // attributesToHighlight restricts the tagged fields; the others
    // still appear in _formatted, unformatted
    val only = fmt(SearchRequest(q = "cooking pasta", limit = 10,
      attributesToHighlight = Some(Seq("title"))))
    assert(only(0)("title").contains("<em>cooking</em>"), only(0))
    assert(!only(1)("body").contains("<em>"), only(1))
    assert(only(1)("title") == "garden tools", only(1))
    // per-field crop length ("body:3"): body cropped around its match,
    // title untouched
    val cr = fmt(SearchRequest(q = "pasta", limit = 10,
      attributesToCrop = Some(Seq("body:3"))))
    assert(cr(3)("body") == "…here with pasta…", cr(3))
    assert(cr(3)("title") == "unrelated title", cr(3))
    // _matchesPosition is a field→spans map; fields with no match are
    // omitted (doc 0 has 'pasta' only in its title)
    val mp = fmt(SearchRequest(q = "pasta", limit = 10,
      showMatchesPosition = true), "_matchesPosition")
    assert(mp(2).keySet == Set("title", "body"), mp(2))
    assert(mp(0).keySet == Set("title"), mp(0))
    assert(mp(0)("title") == "pasta@1[8,13)", mp(0))
  }

  test("ProximityPrecision::ByAttribute: pair cost is same-field(1) or not(8)") {
    val mrAttr = new MeiliRank(engine,
      proximityPrecision = ProximityPrecision.ByAttribute)
    def prox(m: MeiliRank, q: String): Map[Int, Int] =
      m.search(q, 10).collect()
        .map(r => r.getAs[Int]("docId") -> r.getAs[Int]("proxCost")).toMap
    // 'gardens tools': doc 0 has 'gardens'@4 and 'tools'@6 in the body
    // (ByWord prox 2) — same field, so ByAttribute gives 1
    val byWord = prox(mr, "gardens tools")
    val byAttr = prox(mrAttr, "gardens tools")
    assert(byWord(0) == 2, s"byWord: $byWord")
    assert(byAttr(0) == 1, s"byAttr same-field pair must cost 1: $byAttr")
    // 'pasta story': doc 0 has 'pasta' only in the TITLE and 'story'
    // only in the body — different fields: cost 8 in BOTH modes (ByWord
    // clamps the >=1<<16 distance to the cap)
    val w2 = prox(mr, "pasta story")
    val a2 = prox(mrAttr, "pasta story")
    assert(w2(0) == 8 && a2(0) == 8, s"cross-field: $w2 / $a2")
    // ranked output still well-formed and universe identical
    assert(byAttr.keySet == byWord.keySet)
  }
}
