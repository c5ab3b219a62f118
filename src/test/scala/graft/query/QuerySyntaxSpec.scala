package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.index.{IndexBuild, IndexConfig}
import graft.rank.{MeiliRank, TermsMatching}
import graft.search.SearchEngine

/** Query-string syntax (phrases, negatives), 2-gram merges, matching
  * strategies, multi-word synonyms, rankingScoreThreshold — mirroring
  * the reference suites parse_query.rs, ngram_split_words.rs,
  * words_tms.rs. */
class QuerySyntaxSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("QueryParser: words, phrases, negatives, unterminated quote") {
    val p = QueryParser.parse("""batch -stream "spark merge" -"big table" data""")
    assert(p.words == Seq("batch", "data"))
    assert(p.phrases == Seq(Seq("spark", "merge")))
    assert(p.negWords == Seq("stream"))
    assert(p.negPhrases == Seq(Seq("big", "table")))
    assert(p.positiveTerms == Seq("batch", "spark", "merge", "data"))
    // unterminated quote runs to end (reference behavior)
    assert(QueryParser.parse("""a "b c""").phrases == Seq(Seq("b", "c")))
    // in-word hyphen is a separator, not a negation
    val h = QueryParser.parse("well-known")
    assert(h.words == Seq("well", "known") && h.negWords.isEmpty)
    // camelCase subtokens flow through the engine tokenizer
    assert(QueryParser.parse("-parseBuffer").negWords == Seq("parse", "buffer"))
  }

  val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox"),
    (2L, "quick brown fox"),
    (3L, "the fox eats the quick dog"),
    (4L, "quickbrown fox runs"),
    (5L, "the dog sleeps"),
    (6L, "quickbrownfox leaps"))

  lazy val engine: SearchEngine = {
    val dir = tempDir("qsyntax")
    val df = docs.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    IndexBuild.buildFromTable(spark, df, "doc_id", "text", "lang", "source",
      dir, IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
        numPartitions = 2, positions = true))
    new SearchEngine(spark, dir)
  }
  lazy val mr = new MeiliRank(engine)

  test("a quoted or negative phrase on a positions-off index fails with the contract, from every entry point") {
    val dir = tempDir("qsyntax-nopos")
    IndexBuild.buildFromTable(spark, docs.toDF("doc_id", "text")
        .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("source", org.apache.spark.sql.functions.lit("s")),
      "doc_id", "text", "lang", "source", dir,
      IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4, numPartitions = 2))
    val e = new SearchEngine(spark, dir)
    assert(!e.hasPositions)
    val calls: Seq[(String, String => Any)] = Seq(
      "searchDF" -> (q => e.searchDF(q, 10).collect()),
      "searchWand" -> (q => e.searchWand(q, 10).collect()),
      "candidates" -> (q => e.candidates(q).collect()))
    for ((name, call) <- calls; q <- Seq("\"quick brown\" fox", "fox -\"lazy dog\"")) {
      val err = intercept[IllegalArgumentException](call(q))
      assert(err.getMessage.contains("phrases need a positions-enabled index"), s"$name($q): $err")
    }
    // a bag-of-words query still answers
    assert(e.searchDF("quick fox", 10).collect().map(_.getInt(0)).toSet == Set(0, 1, 2, 3))
  }

  test("searchDF: quoted phrase restricts, negative subtracts") {
    // docs with quick AND dog: 0, 3; phrase "quick brown" keeps 0;
    val ids = engine.searchDF("""dog "quick brown"""", 10)
      .collect().map(_.getInt(0)).toSeq
    assert(ids == Seq(0))
    // negative: docs with fox but not dog: 1, 2, 4
    val neg = engine.searchDF("fox -dog", 10).collect().map(_.getInt(0)).toSet
    assert(neg == Set(1, 2, 4))
    // negative phrase
    val np = engine.searchDF("""fox -"quick brown"""", 10)
      .collect().map(_.getInt(0)).toSet
    assert(np == Set(3, 4), s"got $np")
  }

  test("searchWand delegates syntax queries and agrees with searchDF") {
    val a = engine.searchWand("fox -dog", 10).collect().map(_.getInt(0)).toSet
    val b = engine.searchDF("fox -dog", 10).collect().map(_.getInt(0)).toSet
    assert(a == b)
  }

  test("MeiliRank: phrase slots are exact-only and restrict the universe") {
    // 'quick'~'quack' typo would match, but inside quotes no typo slot:
    val got = mr.search("""\"quick brown\" fox""".replace("\\", ""), 10)
      .collect().map(_.getInt(0)).toSet
    assert(got == Set(0, 1, 2), s"got $got")
    // negative word drops docs from the cascade
    val neg = mr.search("fox -lazy", 10).collect().map(_.getInt(0)).toSet
    assert(neg == Set(1, 2, 3, 4))
  }

  test("2-gram merge: adjacent query words match the indexed compound") {
    // 'quickbrown' is indexed in doc 4; query 'quick brown' must reach it
    // via the merged derivation at typo cost 1 (ngram base = n-1)
    val got = mr.search("quick brown", 10).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))) // docId, wordsRank, typo
    val byId = got.map(g => g._1 -> g).toMap
    assert(byId.keySet == Set(0, 1, 2, 3, 4), s"got ${byId.keySet}")
    assert(byId(4)._2 == 2 && byId(4)._3 == 1,
      s"compound doc must match both slots at 1 typo: ${byId(4)}")
    assert(byId(1)._3 == 0, "exact pair stays 0 typos")
    // exact matches rank above the ngram match
    val order = mr.search("quick brown", 10).collect().map(_.getInt(0)).toSeq
    assert(order.indexOf(1) < order.indexOf(4))
  }

  test("3-gram merge: three adjacent query words match the indexed compound") {
    // 'quickbrownfox' (doc 6) via the 3-gram at cost 2 (= n−1); the
    // 2-gram 'quickbrown' (doc 4) still matches slots 0-1 at cost 1
    val got = mr.search("quick brown fox", 10).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    val byId = got.map(g => g._1 -> g).toMap
    assert(byId.contains(6), s"3-gram doc missing: ${byId.keySet}")
    assert(byId(6)._2 == 3 && byId(6)._3 == 2,
      s"compound covers all 3 slots at 2 typos: ${byId(6)}")
    // doc 4: slots 0-1 via 2-gram (cost 1) + slot 2 'fox' exact
    assert(byId(4)._2 == 3 && byId(4)._3 == 1, s"${byId(4)}")
    // exact phrase docs outrank both compounds
    val order = got.map(_._1).toSeq
    assert(order.indexOf(1) < order.indexOf(4) && order.indexOf(4) < order.indexOf(6))
  }

  test("matching strategies: Last vs All vs Frequency (words_tms mirror)") {
    // query: 'fox the quick' — doc 5 matches only 'the', doc 4 only
    // 'fox' (+quickbrown split/ngram none for this order? 'fox'+'the')
    val qLast = mr.search("quick fox dog", 20).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    // Last keeps prefix (quick, fox): doc 1,2 match both but not dog
    assert(qLast(1) == 2 && qLast(2) == 2)
    val qAll = mr.search("quick fox dog", 20, strategy = TermsMatching.All)
      .collect().map(_.getInt(0)).toSet
    assert(qAll == Set(0, 3), s"All returns only full matches: $qAll")
    // Frequency: 'the' (df 3) is most frequent in 'the quick dog' — it is
    // removed first, so docs matching quick+dog but not the still rank 2
    val qf = mr.search("the quick dog", 20, strategy = TermsMatching.Frequency)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(qf(0) == 3 && qf(3) == 3, s"full matches rank 3: $qf")
    // doc 5 ('the dog sleeps'): kept-first slots are dog (rarest? df:
    // quick=4? compute: quick in 0,1,2,3 df=4; dog in 0,3,5 df=3; the in
    // 0,1,3,5 df=4) -> keep order by df asc: dog(3), the(4, slot 0),
    // quick(4, slot 1). doc 5 matches dog+the = keep prefix 2
    assert(qf(5) == 2, s"got $qf")
    // under Last, doc 5 matches only 'the' prefix = 1
    val ql = mr.search("the quick dog", 20).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(ql(5) == 1)
  }

  test("rankingScoreThreshold filters low-quality hits") {
    val all = mr.search("quick brown fox", 20).collect()
    val scores = all.map(_.getAs[Double]("rankingScore"))
    val tau = (scores.max + scores.min) / 2
    val cut = mr.search("quick brown fox", 20, scoreThreshold = Some(tau)).collect()
    assert(cut.length == scores.count(_ >= tau) && cut.length < all.length)
  }

  test("stop words: excluded from index terms, positions preserved") {
    val dir = tempDir("stopw")
    val df = docs.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    IndexBuild.buildFromTable(spark, df, "doc_id", "text", "lang", "source",
      dir, IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
        numPartitions = 2, positions = true, stopWords = Set("the", "over")))
    val e = new SearchEngine(spark, dir)
    assert(e.stopWords == Set("over", "the"))
    assert(!e.td.contains("the"), "stop word must not be indexed")
    // len still counts stop words (doc 1 'the quick brown fox' = 4)
    assert(e.docs.where($"docId" === 1).select($"len").as[Int].head() == 4)
    // query containing the stop word behaves like the query without it
    val a = e.searchDF("the quick", 10).collect().map(_.getInt(0)).toSet
    val b = e.searchDF("quick", 10).collect().map(_.getInt(0)).toSet
    assert(a == b && a.nonEmpty)
    // positions preserved: 'quick brown' still adjacent after 'the'
    val mr2 = new MeiliRank(e)
    val got = mr2.search("the quick brown", 10).collect()
      .map(r => r.getInt(0) -> r.getInt(3)).toMap // proxCost
    assert(got(1) == 1, s"adjacency preserved around stop word: $got")
    // a QUOTED phrase containing a stop word must not empty the
    // universe: the stop word is a position placeholder (reference
    // parse_query.rs:311-318), remaining words keep their offsets
    val ph = e.searchDF("\"the quick brown\"", 10).collect().map(_.getInt(0)).toSet
    val phNoStop = e.searchDF("\"quick brown\"", 10).collect().map(_.getInt(0)).toSet
    assert(ph.nonEmpty && ph == phNoStop, s"$ph vs $phNoStop")
    // and the cascade path agrees
    val mphe = mr2.search("\"the quick brown\"", 10).collect().map(_.getInt(0)).toSet
    assert(mphe == ph, s"cascade phrase universe: $mphe vs $ph")
    // an all-stop-word phrase restricts nothing
    val withAllStop = e.searchDF("quick \"the over\"", 10).collect().map(_.getInt(0)).toSet
    assert(withAllStop == b, s"$withAllStop vs $b")
  }

  test("hybrid merge: ratio endpoints and weighted max ordering") {
    import graft.search.Hybrid
    val kw = Seq((1, 0.9), (2, 0.5)).toDF("docId", "rankingScore")
    val sem = Seq((2, 1.0), (3, 0.8)).toDF("docId", "score")
    // ratio 0: pure keyword — doc 3 (semantic only) scores 0
    val r0 = Hybrid.merge(kw, sem, 0.0, 10).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(r0(1) == 0.9 && r0(2) == 0.5 && r0(3) == 0.0)
    // ratio 1: pure semantic
    val r1 = Hybrid.merge(kw, sem, 1.0, 10).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(r1(2) == 1.0 && r1(3) == 0.8 && r1(1) == 0.0)
    // ratio 0.5: weighted max of the two origins
    val rh = Hybrid.merge(kw, sem, 0.5, 10).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(rh(2) == 0.5 && rh(1) == 0.45 && rh(3) == 0.4)
  }

  test("multi-word synonym expands to an adjacency match at cost 0") {
    val mrSyn = new MeiliRank(engine, synonyms = Map("reynard" -> Seq("quick brown")))
    val got = mrSyn.search("reynard", 10).collect()
      .map(r => (r.getInt(0), r.getAs[Int]("typoCost"), r.getAs[Int]("exactWords")))
    assert(got.map(_._1).toSet == Set(0, 1, 2), s"got ${got.toSeq}")
    assert(got.forall(g => g._2 == 0 && g._3 == 0),
      "synonym phrase: zero typo cost, never exact")
  }

  test("CJK: unigram index + adjacency gives word-level retrieval end to end") {
    val zh = Seq(
      (0L, "我爱北京天安门"),          // contains 北京 adjacently
      (1L, "南京长江大桥"),            // has 京 but not 北京
      (2L, "spark 北京 merge 数据"),  // mixed latin + CJK
      (3L, "天安门广场"))
    val dir = tempDir("qcjk")
    val df = zh.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("zh"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    IndexBuild.buildFromTable(spark, df, "doc_id", "text", "lang", "source",
      dir, IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
        numPartitions = 2, positions = true))
    val e = new SearchEngine(spark, dir)
    // a multi-char query phrase matches only adjacent occurrences
    val beijing = e.phrase(Seq("北", "京")).collect().map(_.getInt(0)).toSet
    assert(beijing == Set(0, 2), s"北京 adjacency: $beijing")
    // bag-of-chars search still reaches every doc containing both chars
    val any = e.searchDF("北京", 10, conjunctive = true)
      .collect().map(_.getInt(0)).toSet
    assert(any == Set(0, 2), s"conjunctive 北+京: $any")
    // the rule cascade ranks the adjacent occurrence above the scattered
    // one via the proximity rule
    val zmr = new MeiliRank(e)
    val ranked = zmr.search("天安门", 10).collect()
    assert(ranked.head.getInt(0) == 0 || ranked.head.getInt(0) == 3)
    val prox = ranked.map(r => r.getInt(0) -> r.getAs[Int]("proxCost")).toMap
    assert(prox.values.forall(_ <= 2), s"adjacent chars, low prox: $prox")
    // mixed-script query spans latin and CJK slots
    val mixed = e.searchDF("spark 北京", 10, conjunctive = true)
      .collect().map(_.getInt(0)).toSet
    assert(mixed == Set(2), s"mixed-script conjunctive: $mixed")
  }
}
