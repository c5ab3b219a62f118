package graft.search

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.corpus.SourceFile
import graft.functions.{BM25, Tokenizer}
import graft.index.{IndexBuild, IndexConfig}
import graft.rank.MeiliRank

/** Ranked search scores from the doc lengths stored in the posting
  * blocks. Every plan must answer bit for bit what the doclen/-join
  * plan answered: `searchDF`, `searchWand`, `search` and
  * `searchDegraded` against [[reference]], and the cascade's
  * `exactAttr` and `rankingScore` against the same rule computed from
  * doclen/, on indexes with and without positions, appended,
  * tombstoned, multi-field, with stop words and with prefix tables. The
  * cascade needs positions, so it is checked on the positions indexes. */
class PostingScoreSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val cfg = IndexConfig(docsPerShard = 16, termBuckets = 3,
    blockSize = 4, numPartitions = 3)

  private val words = Seq("merge", "buffer", "stream", "quick", "brown", "fox",
    "alpha", "window", "table", "index", "the", "a")

  /** Doc lengths 3-15 with skewed term frequencies, plus docs that ARE a
    * query ("merge buffer", "quick brown fox": exactAttr 3) or start
    * with one (exactAttr 2). */
  private val contents: Seq[String] = (0 until 160).map { i =>
    if (i % 17 == 0) "merge buffer"
    else if (i % 19 == 0) "quick brown fox"
    else if (i % 23 == 0) "merge buffer stream window"
    else ((0 until 3 + (i * 7) % 13).map(j => words((i * 5 + j * j + j) % words.length)) :+
      s"w$i").mkString(" ")
  }
  private def corpus(ids: Range) = ids.map(i =>
    SourceFile(f"r${i % 4}", f"p$i%03d.scala", f"c$i%04d", "scala", contents(i))).toDS()

  private val queries = Seq("merge buffer", "quick brown fox", "stream", "alpha window table",
    "the merge", "\"quick brown\" fox", "merge -stream", "brown w37")


  private def build(name: String, c: IndexConfig) = {
    val d = tempDir(s"postscore-$name")
    IndexBuild.build(spark, corpus(contents.indices), d, c)
    d
  }

  /** name -> (index dir, has positions, last word a prefix) */
  private lazy val indexes: Seq[(String, String, Boolean, Boolean)] = Seq(
    ("positions off", build("nopos", cfg), false, false),
    ("positions on", build("pos", cfg.copy(positions = true)), true, false)) ++
    Seq(false, true).map { pos =>
      val d = tempDir(s"postscore-append-$pos")
      val c = cfg.copy(positions = pos)
      IndexBuild.build(spark, corpus(0 until 110), d, c)
      IndexBuild.append(spark, corpus(110 until 160), d, c, "b1")
      (s"built then appended, positions $pos", d, pos, false)
    } ++ Seq({
      val d = build("del", cfg.copy(positions = true))
      IndexBuild.delete(spark, d, Seq(0, 19, 23, 40, 41), "d1")
      ("tombstoned", d, true, false)
    }, {
      val d = tempDir("postscore-mf")
      val df = contents.zipWithIndex.map { case (t, i) =>
        val ws = t.split(" ")
        (i.toLong, ws.take(2).mkString(" "), ws.drop(2).mkString(" "))
      }.toDF("doc_id", "title", "body")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      IndexBuild.buildMultiField(spark, df, "doc_id", Seq(("title", 0), ("body", 1)),
        "lang", "source", d, cfg)
      ("multi-field", d, true, false)
    },
    ("stop-words", build("stop", cfg.copy(positions = true, stopWords = Set("the", "a"))),
      true, false), {
      val c = cfg.copy(positions = true)
      val d = build("prefix", c)
      IndexBuild.buildPrefixIndex(spark, d, c, minDf = 5)
      ("with prefix tables", d, true, true)
    })

  /** The BM25 plan as it stood while doc lengths lived only in doclen/:
    * decoded postings joined with doclen/, each posting scored by the
    * Column expression, then summed in ascending term order. */
  private def reference(e: SearchEngine, q: String, k: Int, conjunctive: Boolean,
                        shardCap: Option[Int] = None): Seq[(Int, Double)] = {
    val pq = e.parseQuery(q)
    val terms = e.termsOf(pq.positiveTerms)
    if (terms.isEmpty) return Nil
    val base = e.decoded(terms, shardCap).toDF()
      .withColumn("idf", element_at(typedLit(terms.map(t => t.term -> t.idf).toMap), $"term"))
    // docs holding every quoted phrase, and docs matching a negative
    val active = (ws: Seq[String]) => ws.exists(w => !e.stopWords.contains(Tokenizer.normalize(w)))
    val phraseDocs = pq.phrases.filter(active).map(e.phrase(_))
      .reduceOption((a, b) => a.join(b, Seq("docId"), "left_semi"))
    val negTerms = e.termsOf(pq.negWords)
    val negDocs = ((if (negTerms.isEmpty) Nil else Seq(e.decoded(negTerms).toDF().select($"docId"))) ++
      pq.negPhrases.filter(active).map(e.phrase(_))).reduceOption(_ unionByName _).map(_.distinct())
    val afterPhrase = phraseDocs.fold(base)(p =>
      base.join(p.select($"docId"), Seq("docId"), "left_semi"))
    val universe = negDocs.fold(afterPhrase)(nd => afterPhrase.join(nd, Seq("docId"), "left_anti"))
    val agg = e.doclenAll.join(universe, Seq("docId"))
      .withColumn("tscore", $"idf" * $"tf" * lit(BM25.K1 + 1.0) /
        ($"tf" + lit(BM25.K1) * (lit(1.0 - BM25.B) + lit(BM25.B) * $"len" / lit(e.avgdl))))
      .groupBy($"docId")
      .agg(count(lit(1)).as("nMatched"),
        aggregate(array_sort(collect_list(struct($"term", $"tscore"))),
          lit(0.0), (acc, x) => acc + x.getField("tscore")).as("score"))
    (if (conjunctive) agg.filter($"nMatched" === terms.size) else agg)
      .select($"docId", $"score").orderBy($"score".desc, $"docId".asc).limit(k)
      .as[(Int, Double)].collect().toSeq
  }

  /** A k above every match count: the whole ranking. */
  private val All = 1000

  /** Hits as (docId, score bits): equal only when bit-identical. */
  private def bits(hits: Seq[(Int, Double)]) =
    hits.map { case (d, s) => (d, java.lang.Double.doubleToRawLongBits(s)) }

  private def hits(df: org.apache.spark.sql.DataFrame) = df.as[(Int, Double)].collect().toSeq

  test("searchDF, searchWand, search and searchDegraded equal the doclen-join plan bit for bit") {
    indexes.foreach { case (name, dir, positions, _) =>
      val e = new SearchEngine(spark, dir)
      val wandRouted = new SearchEngine(spark, dir, broadcastDfCap = 0L)
      val shards = ((e.nDocs + e.docsPerShard - 1) / e.docsPerShard).toInt
      var matched = 0
      // a quoted phrase resolves through positions/
      val qs = if (positions) queries else queries.filterNot(_.contains('"'))
      for (q <- qs; conj <- Seq(true, false)) {
        // the full ranking; a top-k is its first k rows
        val want = reference(e, q, All, conj)
        matched += want.size
        def check(plan: String, k: Int, got: Seq[(Int, Double)]): Unit =
          assert(bits(got) == bits(want.take(k)),
            s"$name, $plan('$q', k=$k, conj=$conj): $got vs ${want.take(k)}")
        check("searchDF", All, hits(e.searchDF(q, All, conj)))
        check("searchWand", All, hits(e.searchWand(q, All, conj)))
        check("searchWand", 3, hits(e.searchWand(q, 3, conj)))
        check("search", All, hits(e.search(q, All, conj)))
        check("search via WAND", 3, hits(wandRouted.search(q, 3, conj)))
        val (all, degraded) = e.searchDegraded(q, All, shards, conj)
        assert(!degraded, s"$name: $shards shards cover the index")
        check("searchDegraded", All, hits(all))
        val (capped, _) = e.searchDegraded(q, All, 2, conj)
        assert(bits(hits(capped)) == bits(reference(e, q, All, conj, Some(2))),
          s"$name, searchDegraded('$q', maxShards=2)")
      }
      assert(matched > 0, s"$name: no query matched")
    }
  }

  test("the cascade's exactAttr and rankingScore equal the doclen/ rule bit for bit") {
    val seen = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    indexes.filter(_._3).foreach { case (name, dir, _, prefix) =>
      val e = new SearchEngine(spark, dir)
      val mr = new MeiliRank(e)
      for (q <- queries :+ "buffer merg") {
        val (uni, _, n) = mr.scoredUniverse(q, lastIsPrefix = prefix)
        if (n > 0) {
          val rows = uni.join(e.doclenAll, Seq("docId"))
            .select($"docId", $"startsWithQuery", $"len", $"exactAttr", $"rankingScore",
              $"_rankingScoreDetails").collect()
          rows.foreach { r =>
            val sw = r.getBoolean(1)
            val want = if (sw && r.getInt(2) == n) 3 else if (sw) 2 else 1
            assert(r.getInt(3) == want, s"$name, '$q', doc ${r.getInt(0)}: exactAttr")
            seen(want) += 1
            // the default rules' (rank, maxRank) digits from the score
            // details, with the doclen/-derived exactAttr
            val d = r.getStruct(5)
            def f(rule: String): Row = d.getAs[Row](rule)
            def i(row: Row, c: String): Long = row.getAs[Int](c).toLong
            val (w, t, p, a, x) =
              (f("words"), f("typo"), f("proximity"), f("attribute"), f("exactness"))
            val digits = Seq(
              (i(w, "matchingWords"), i(w, "maxMatchingWords")),
              (i(t, "maxTypoCount") + 1 - i(t, "typoCount"), i(t, "maxTypoCount") + 1),
              (i(p, "rank"), i(p, "maxRank")),
              (i(a, "fidRank"), i(a, "fidMaxRank")), (i(a, "posRank"), i(a, "posMaxRank")),
              (want.toLong, 3L), (i(x, "matchedWords") + 1, i(x, "maxMatchedWords") + 1))
            val score = r.getDouble(4)
            assert(java.lang.Double.doubleToRawLongBits(score) ==
              java.lang.Double.doubleToRawLongBits(MeiliRank.mergeRanks(digits)),
              s"$name, '$q', doc ${r.getInt(0)}: rankingScore $score")
          }
        }
      }
    }
    info(s"docs checked per exactAttr: ${seen.toSeq.sorted.mkString(", ")}")
    assert(Seq(1, 2, 3).forall(seen(_) > 0), s"every exactAttr value occurs: $seen")
  }
}
