package graft.rank

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.index.{IndexBuild, IndexConfig}
import graft.search.SearchEngine

/** Rule-cascade semantics on a hand-crafted corpus, mirroring the
  * reference's inline-document snapshot tests
  * (crates/milli/src/search/new/tests/{typo,words_tms,exactness,
  * proximity,attribute_position}.rs): expected orderings and rank
  * columns are hand-computed from the documented rule semantics. */
class MeiliRankSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox"),
    (2L, "quick brown fox"),
    (3L, "the quack brown fox"),
    (4L, "the quick brown cat sleeps"),
    (5L, "brown fox quick the"),
    (6L, "the quick red fox"),
    (7L, "fox"),
    (8L, "the nimble quick brown fox"),
    (9L, "the quick brown fox the quick brown fox"))

  lazy val engine: SearchEngine = {
    val dir = tempDir("meilirank")
    val df = docs.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    IndexBuild.buildFromTable(spark, df, "doc_id", "text", "lang", "source",
      dir, IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
        numPartitions = 2, positions = true))
    new SearchEngine(spark, dir)
  }
  lazy val mr = new MeiliRank(engine)

  test("words rule: longest matched prefix, docs without first term excluded") {
    val got = mr.search("the quick brown fox", 20).collect()
    val ids = got.map(_.getInt(0)).toSeq
    // hand-computed cascade: see scaladoc derivation
    assert(ids == Seq(1, 0, 9, 8, 5, 3, 4, 6), s"got $ids")
    val wr = got.map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(wr(1) == 4 && wr(3) == 4 && wr(4) == 3 && wr(6) == 2)
    assert(!ids.contains(2) && !ids.contains(7), "docs missing 'the' are excluded")
  }

  test("typo rule: 1-typo derivation matches with cost, exact words tracked") {
    val got = mr.search("the quick brown fox", 20).collect()
      .map(r => r.getInt(0) -> (r.getAs[Int]("typoCost"), r.getAs[Int]("exactWords"))).toMap
    assert(got(3) == ((1, 3)), "doc 3 matches via quack~quick with 1 typo")
    assert(got(1) == ((0, 4)))
  }

  test("typo budgets: len<5 no typos; first-letter typo counts extra") {
    // 'quicc' (len 5, budget 1) matches 'quick'; 'ruick' would need a
    // first-letter edit (effective cost 2 > budget 1) -> no match
    assert(mr.search("quicc", 10).collect().nonEmpty)
    assert(mr.search("ruick", 10).collect().isEmpty)
    // 'fax' (len 3, budget 0) must not match 'fox'
    assert(mr.search("fax", 10).collect().isEmpty)
  }

  test("proximity rule: scrambled order costs more") {
    val got = mr.search("the quick brown fox", 20).collect()
      .map(r => r.getInt(0) -> r.getInt(3)).toMap
    assert(got(1) == 3, "adjacent pairs cost 1 each")
    assert(got(8) == 4, "one gap adds 1")
    assert(got(5) == 6, "reversed pairs cost d+1")
  }

  test("exactness rule: whole-field exact > starts-with > other") {
    val got = mr.search("the quick brown fox", 20).collect()
      .map(r => r.getInt(0) -> r.getAs[Int]("exactAttr")).toMap
    assert(got(1) == 3)
    assert(got(0) == 2 && got(9) == 2)
    assert(got(5) == 1)
  }

  test("ranking score is monotone along the cascade order and matches mergeRanks") {
    val got = mr.search("the quick brown fox", 20).collect()
    val scores = got.map(_.getAs[Double]("rankingScore")).toSeq
    assert(scores == scores.sorted.reverse, s"scores not monotone: $scores")
    assert(scores.forall(s => s > 0.0 && s <= 1.0))
    // distinct rank tuples must produce distinct scores (mixed radix)
    val tuples = got.map(r => (r.getAs[Int]("wordsRank"), r.getAs[Int]("typoCost"),
      r.getAs[Int]("proxCost"), r.getAs[Int]("posCost"),
      r.getAs[Int]("exactAttr"), r.getAs[Int]("exactWords"))).toSeq
    assert(tuples.distinct.size == scores.distinct.size)
  }

  test("score details: mixed-radix merge of the details alone equals rankingScore exactly") {
    // default rule order AND a reconfigured order (rules re-ordered and
    // one dropped): the details must follow the configured radix order
    Seq(MeiliRank.DefaultRules,
        Seq("typo", "words", "exactness", "proximity", "attribute")).foreach { rules =>
      val got = mr.search("the quick brown fox", 20,
        rankingRules = rules, withScoreDetails = true).collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        val d = r.getStruct(r.fieldIndex("_rankingScoreDetails"))
        def sub(rule: String) = d.getStruct(d.fieldIndex(rule))
        def f(rule: String, field: String): Long = {
          val s = sub(rule)
          s.get(s.fieldIndex(field)) match {
            case i: Int => i.toLong
            case l: Long => l
            case o => fail(s"$rule.$field unexpected type $o")
          }
        }
        // (rank, maxRank) pairs in the rule order the details declare
        val byOrder = rules.filter(Set("words", "typo", "proximity",
            "attribute", "exactness")).sortBy(rule =>
          sub(rule).getInt(sub(rule).fieldIndex("order")))
        val pairs = byOrder.flatMap {
          case "words" => Seq((f("words", "matchingWords"),
            f("words", "maxMatchingWords")))
          case "typo" => Seq((f("typo", "maxTypoCount") + 1 -
            f("typo", "typoCount"), f("typo", "maxTypoCount") + 1))
          case "proximity" => Seq((f("proximity", "rank"),
            f("proximity", "maxRank")))
          case "attribute" => Seq(
            (f("attribute", "fidRank"), f("attribute", "fidMaxRank")),
            (f("attribute", "posRank"), f("attribute", "posMaxRank")))
          case "exactness" => Seq(
            (f("exactness", "exactAttrRank"), f("exactness", "exactAttrMaxRank")),
            (f("exactness", "matchedWords") + 1,
              f("exactness", "maxMatchedWords") + 1))
        }
        val merged = MeiliRank.mergeRanks(pairs)
        val score = r.getDouble(r.fieldIndex("rankingScore"))
        assert(merged == score,
          s"doc ${r.getInt(0)} rules=$rules: details-merge $merged != $score")
        // per-rule local score field = rank/maxRank of that rule's merge
        val w = sub("words")
        assert(w.getDouble(w.fieldIndex("score")) ==
          f("words", "matchingWords").toDouble / f("words", "maxMatchingWords"))
      }
    }
  }

  test("exactFids on a positions-less index fails fast at construction") {
    val dir = tempDir("nopos")
    val df = docs.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    IndexBuild.buildFromTable(spark, df, "doc_id", "text", "lang", "source",
      dir, IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
        numPartitions = 2)) // positions = false
    val e = new SearchEngine(spark, dir)
    val ex = intercept[IllegalArgumentException](
      new MeiliRank(e, typo = TypoSettings(exactFids = Set(0))))
    assert(ex.getMessage.contains("positions-enabled"), ex.getMessage)
    // the positions-enabled fixture accepts the same settings
    new MeiliRank(engine, typo = TypoSettings(exactFids = Set(0))): Unit
  }

  test("prefix search: last word as prefix expands") {
    // with prefix expansion 'qui*' matches 'quick': doc 1 matches both
    // slots (wordsRank 2); without it 'qui' matches nothing (len 3, no
    // typo budget) so every doc with 'the' sits at wordsRank 1
    val withPrefix = mr.search("the qui", 20, lastIsPrefix = true).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(withPrefix(1) == 2)
    val noPrefix = mr.search("the qui", 20).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(noPrefix(1) == 1)
  }

  test("filter and distinct compose with the cascade") {
    val f = mr.search("the quick brown fox", 20, filterExpr = Some("docId < 5"))
      .collect().map(_.getInt(0)).toSeq
    assert(f == Seq(1, 0, 3, 4))
    val d = mr.search("the quick brown fox", 20, distinct = Some("lang"))
      .collect().map(_.getInt(0)).toSeq
    assert(d == Seq(1), "all docs share lang=en; keep only the best")
  }

  test("sort rule slots into the cascade") {
    val sorted = mr.search("the quick brown fox", 20,
      sortBy = Some(("path", false))).collect().map(_.getInt(0)).toSeq
    // within equal (words,typo,prox,pos) groups, path desc reorders:
    // group {0,1,9} all have posCost 6 -> path desc = "9","1","0"
    assert(sorted.take(3) == Seq(9, 1, 0), s"got $sorted")
  }

  test("split-word derivation: unknown compound matches adjacent pair at one typo") {
    assert(mr.splitBest("quickbrown") == Some(("quick", "brown")))
    val got = mr.search("quickbrown", 20).collect()
      .map(r => r.getInt(0) -> r.getInt(2)).toMap // docId -> typoCost
    assert(got.keySet == Set(0, 1, 2, 4, 8, 9), s"got ${got.keySet}")
    assert(got.values.forall(_ == 1), "split words cost one typo")
  }

  test("mergeRanks pure function: known values") {
    assert(MeiliRank.mergeRanks(Seq((1L, 1L))) == 1.0)
    assert(MeiliRank.mergeRanks(Seq((3L, 4L))) == 0.75)
    // merge((2,3),(1,2)) = ((2-1)*2+1)/(3*2) = 3/6
    assert(MeiliRank.mergeRanks(Seq((2L, 3L), (1L, 2L))) == 0.5)
  }

  test("rankingRules: default list reproduces the default cascade exactly") {
    val a = mr.search("the quick brown fox", 20).collect().map(_.toSeq)
    val b = mr.search("the quick brown fox", 20,
      rankingRules = MeiliRank.DefaultRules).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("rankingRules: reordering rules reorders results") {
    // default: doc 5 ("brown fox quick the", words=4, bad proximity)
    // ranks above doc 3 ("the quack brown fox", words=4, 1 typo, perfect
    // proximity) because typo precedes proximity. Swapping them flips it.
    val default = mr.search("the quick brown fox", 20).collect().map(_.getInt(0)).toSeq
    assert(default.indexOf(5) < default.indexOf(3))
    val swapped = mr.search("the quick brown fox", 20,
      rankingRules = Seq("words", "proximity", "typo", "attribute", "sort", "exactness"))
      .collect().map(_.getInt(0)).toSeq
    assert(swapped.indexOf(3) < swapped.indexOf(5),
      s"proximity-before-typo must prefer doc 3: $swapped")
  }

  test("typo settings: exactWords and authorizeTypos=false disable derivations") {
    // default: 'quock' (len 5, budget 1) reaches 'quick' at 1 typo
    val withTypos = mr.search("quock", 20).collect().map(_.getInt(0)).toSet
    assert(withTypos.nonEmpty, "1-typo derivation must match")
    // exact_words: the listed query word gets no typo derivations
    val exact = new MeiliRank(engine,
      typo = TypoSettings(exactWords = Set("quock")))
    assert(exact.search("quock", 20).collect().isEmpty)
    // authorize_typos = false: same
    val off = new MeiliRank(engine, typo = TypoSettings(enabled = false))
    assert(off.search("quock", 20).collect().isEmpty)
    // raised min word size: len-5 word drops below the one-typo bar
    val strict = new MeiliRank(engine, typo = TypoSettings(oneTypo = 6))
    assert(strict.search("quock", 20).collect().isEmpty)
    // exact matches are never affected
    assert(off.search("quick brown", 20).collect().nonEmpty)
  }

  test("rankingRules: custom field:desc rule orders within words buckets") {
    // words-only cascade + docId descending as the custom rule: within
    // each wordsRank bucket docs come back in reverse docId order
    // unknown rule must fail fast (at plan construction)
    intercept[IllegalArgumentException] {
      mr.search("the quick brown fox", 20,
        rankingRules = Seq("words", "doc_id_desc_probe"))
    }
    val rows = mr.search("the quick brown fox", 20,
      rankingRules = Seq("words", "docId:desc")).collect()
    val byRank = rows.groupBy(_.getInt(1)).view.mapValues(_.map(_.getInt(0)).toSeq)
    byRank.foreach { case (_, ids) =>
      assert(ids == ids.sortBy(-_), s"within-bucket ids must be descending: $ids")
    }
  }

  test("bucketPositionCol (codegen CASE) == bucketPosition (scalar) over the full range") {
    import org.apache.spark.sql.functions.col
    val got = spark.range(0, 70000).select(col("id").cast("int").as("p"))
      .select(graft.functions.Tokenizer.bucketPositionCol(col("p")).as("b"))
      .as[Int].collect()
    (0 until 70000).foreach { p =>
      assert(got(p) == graft.functions.Tokenizer.bucketPosition(p),
        s"bucket mismatch at pos $p")
    }
    // and the cascade's hot stage carries no ScalaUDF anymore (typed
    // flatMap adaptors print as UDFAdaptors$...; a ScalaUDF prints
    // as `UDF(...)`). search() returns materialized local rows, so the
    // cascade is checked on the scored universe it ranks.
    val plan = new MeiliRank(engine).scoredUniverse("quick brown")._1
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("UDF("), "cascade plan must be ScalaUDF-free")
  }

  test("cascade scans the positions table exactly once per query") {
    // proximity pairs + the attribute fid/position sub-ranks all derive
    // from ONE (docId -> [(slot, pos)]) aggregation — the previous shape
    // scanned positions three times (two proximity self-join sides +
    // the position rank). search() now materializes the top-k cut
    // before the metadata lookup, so the property is asserted on the
    // scored-universe plan (the plan that contains the cascade).
    val plan = mr.scoredUniverse("the quick brown fox")
      ._1.queryExecution.executedPlan.toString
    val scans = plan.split('\n')
      .count(l => l.contains("FileScan") && l.contains("/positions"))
    assert(scans == 1, s"expected exactly one positions FileScan, got $scans")
  }

  test("hit materialization never joins the full doc store: top-k cut first, docId-pushed metadata lookup") {
    // at corpus scale a wholesale scored-universe ⋈ docs join shuffles
    // the doc store; search() instead cuts to k rows, then reads their
    // metadata on the driver by docId (SearchEngine.docRows, whose
    // parquet reads prune on the ids; DocFetchSpec checks its rows), so
    // the only query that runs is the cascade, captured as it runs.
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = ran.add(qe.executedPlan.toString): Unit
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val df =
      try mr.search("quick brown", 5)
      finally {
        org.apache.spark.TestBus.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    assert(ran.size == 1, s"expected the cascade run alone:\n${ran.toArray.mkString("\n\n")}")
    val cascade = ran.peek()
    assert(!cascade.split('\n').exists(l => l.contains("FileScan") && l.contains("/docs")),
      s"the cascade must not scan the doc store:\n$cascade")
    // the returned page is the merged local rows: collecting it runs
    // no further query
    assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"returned page should be local rows:\n${df.queryExecution.executedPlan}")
    // and the results are identical to the pre-cut join shape
    val viaJoin = mr.scoredUniverse("quick brown")._1
      .join(engine.docsRaw.drop("len"), Seq("docId"))
      .orderBy(mr.scoredUniverse("quick brown")._2: _*).limit(5)
      .select($"docId").collect().map(_.getInt(0)).toSeq
    assert(df.select($"docId").collect().map(_.getInt(0)).toSeq == viaJoin)
  }

  test("k above MaxEagerTopK falls back to the lazy join shape, same ordering") {
    val lazyDf = mr.search("quick brown", MeiliRank.MaxEagerTopK + 1)
    // no driver collect happened: the returned plan still CONTAINS the
    // cascade aggregation (the eager path pre-collects the top rows, so
    // its returned plan is just local rows ⋈ pruned docs)
    val plan = lazyDf.queryExecution.executedPlan.toString
    assert(plan.contains("collect_list"),
      s"above the ceiling the cascade must stay in the returned plan:\n$plan")
    val eager = mr.search("quick brown", 5).select($"docId")
      .collect().map(_.getInt(0)).toSeq
    val viaLazy = lazyDf.select($"docId").collect().map(_.getInt(0)).toSeq
    assert(viaLazy.take(5) == eager)
  }

  test("normalizer version mismatch fails fast at engine load") {
    val dir = tempDir("normver")
    val df = docs.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    IndexBuild.buildFromTable(spark, df, "doc_id", "text", "lang", "source",
      dir, IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
        numPartitions = 2))
    // the build stamped the current version; a matching engine loads
    new SearchEngine(spark, dir)
    // rewrite the stamp's normalizer to a bogus future version -> load
    // must fail fast
    val p = graft.index.Lineage.formatPath(dir)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(s"layout=${IndexBuild.FormatVersion} normalizer=999".getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalArgumentException](new SearchEngine(spark, dir))
    assert(e.getMessage.contains("normalizer version"))
  }
}
