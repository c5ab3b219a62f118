package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.index.{IndexBuild, IndexConfig}
import graft.search.SearchEngine

/** Golden-fixture snapshot suite (reference style: committed expected
  * (documents_ids, scores) per query, crates/milli/src/search/new/tests
  * — here generated by the independent BruteForce reference via
  * FixtureGen and committed under src/test/resources/fixtures/). The
  * engine must be rank- AND score-identical to the committed files. */
class FixtureSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  lazy val engine: SearchEngine = {
    val dir = tempDir("fixidx")
    IndexBuild.build(spark,
      CorpusGen.generate(spark, FixtureGen.NDocs, FixtureGen.Seed)
        .as[graft.corpus.SourceFile],
      dir, IndexConfig(docsPerShard = 64, termBuckets = 4, blockSize = 16,
        numPartitions = 4))
    new SearchEngine(spark, dir)
  }

  lazy val fixtures: Array[org.apache.spark.sql.Row] = {
    val url = getClass.getResource("/fixtures/bm25_fixtures.json")
    assert(url != null, "run `sbt \"Test/runMain graft.FixtureGen\"` first")
    spark.read.json(url.getPath).collect()
  }

  test("engine is rank- and score-identical to all committed fixtures") {
    fixtures.foreach { fx =>
      val name = fx.getAs[String]("name")
      val q = fx.getAs[String]("q")
      val conj = fx.getAs[Boolean]("conjunctive")
      val limit = fx.getAs[Long]("limit").toInt
      val filterLang = Option(fx.getAs[String]("filterLang"))
      val wantIds = fx.getAs[scala.collection.Seq[Long]]("docids").map(_.toInt).toSeq
      val wantScores = fx.getAs[scala.collection.Seq[Double]]("scores").toSeq
      val wantTotal = fx.getAs[Long]("totalHits")

      val cand = filterLang.map(l => engine.docs.filter($"lang" === l))
      val got = engine.searchDF(q, limit, conj, cand)
        .as[(Int, Double)].collect()
      assert(got.map(_._1).toSeq == wantIds, s"[$name] docids")
      got.map(_._2).zip(wantScores).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-6, s"[$name] score $a vs $b") }
      val total = filterLang match {
        case Some(l) => engine.totalHits(q, conj, Some(s"lang = $l"))
        case None => engine.totalHits(q, conj)
      }
      assert(total == wantTotal, s"[$name] totalHits")
      // WAND path pins to the same fixtures (no filter variant)
      if (filterLang.isEmpty) {
        val wand = engine.searchWand(q, limit, conj).as[(Int, Double)].collect()
        assert(wand.map(_._1).toSeq == wantIds, s"[$name] WAND docids")
      }
    }
  }

  test("fixtures are non-trivial (sanity)") {
    assert(fixtures.length >= 10)
    assert(fixtures.count(_.getAs[scala.collection.Seq[Long]]("docids").nonEmpty) >= 8)
    val empty = fixtures.find(_.getAs[String]("name") == "empty-result").get
    assert(empty.getAs[scala.collection.Seq[Long]]("docids").isEmpty)
  }
}
