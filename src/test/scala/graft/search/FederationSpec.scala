package graft.search

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.corpus.CorpusGen
import graft.index.{IndexBuild, IndexConfig}

class FederationSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("federated search merges weighted per-index top-k deterministically") {
    val cfg = IndexConfig(docsPerShard = 64, termBuckets = 2, blockSize = 16,
      numPartitions = 2)
    val dirs = Seq("idxA" -> 200L, "idxB" -> 150L).map { case (uid, n) =>
      val d = tempDir(uid)
      IndexBuild.build(spark,
        CorpusGen.generate(spark, n, seed = n).as[graft.corpus.SourceFile], d, cfg)
      uid -> new SearchEngine(spark, d)
    }
    // equal weights: both indexes contribute, merged order is by score
    val fed = Federation.search(
      Seq((dirs(0)._1, dirs(0)._2, 1.0), (dirs(1)._1, dirs(1)._2, 1.0)),
      "merge buffer", 10, conjunctive = false)
      .as[(String, Int, Double)].collect().toSeq
    assert(fed.size == 10)
    val scores = fed.map(_._3)
    assert(scores == scores.sorted.reverse)
    assert(fed.map(_._1).toSet == Set("idxA", "idxB"))
    // the merged list is exactly the 10 best of the union of both top-10s
    val unionTop = (dirs(0)._2.searchDF("merge buffer", 10, conjunctive = false)
      .as[(Int, Double)].collect().map(r => ("idxA", r._1, r._2)) ++
      dirs(1)._2.searchDF("merge buffer", 10, conjunctive = false)
        .as[(Int, Double)].collect().map(r => ("idxB", r._1, r._2)))
      .sortBy(r => (-r._3, r._1, r._2)).take(10).toSeq
    assert(fed == unionTop)
    // down-weighting an index scales its merged scores
    val fedW = Federation.search(
      Seq((dirs(0)._1, dirs(0)._2, 1.0), (dirs(1)._1, dirs(1)._2, 0.5)),
      "merge buffer", 10, conjunctive = false)
      .as[(String, Int, Double)].collect().toSeq
    val wScores = fedW.map(_._3)
    assert(wScores == wScores.sorted.reverse)
    fedW.filter(_._1 == "idxB").foreach { r =>
      val own = dirs(1)._2.searchDF("merge buffer", 200, conjunctive = false)
        .as[(Int, Double)].collect().find(_._1 == r._2).get._2
      assert(math.abs(r._3 - own * 0.5) < 1e-9)
    }
  }

  test("normalized federation: scores comparable across indexes with different statistics") {
    val cfg = IndexConfig(docsPerShard = 64, termBuckets = 2, blockSize = 16,
      numPartitions = 2, positions = true)
    // the SAME document inside two very different corpora (60 vs 6 docs)
    def corpusWith(n: Int, seed: Long) = {
      import graft.corpus.SourceFile
      (CorpusGen.generate(spark, n, seed = seed).as[SourceFile].collect().toSeq :+
        SourceFile("rX", "zz_pinned.scala", "c0", "scala",
          "merge buffer exact pinned line")).toDS()
    }
    val big = tempDir("fedBig")
    val small = tempDir("fedSmall")
    IndexBuild.build(spark, corpusWith(60, 1L), big, cfg)
    IndexBuild.build(spark, corpusWith(6, 2L), small, cfg)
    val eBig = new SearchEngine(spark, big)
    val eSmall = new SearchEngine(spark, small)
    val fed = Federation.searchNormalized(
      Seq(("big", eBig, 1.0), ("small", eSmall, 1.0)), "merge buffer", 100)
      .as[(String, Int, Double)].collect().toSeq
    // rankingScore ∈ (0,1]: weighted scores bounded by the weight
    assert(fed.nonEmpty && fed.forall(r => r._3 > 0 && r._3 <= 1.0))
    // the pinned doc has the same match pattern in both corpora: its
    // normalized score is IDENTICAL despite 10x different statistics
    // (raw-BM25 federation would diverge — idf/avgdl differ)
    val pinnedBig = eBig.docs.where($"path" === "zz_pinned.scala")
      .select($"docId").as[Int].head()
    val pinnedSmall = eSmall.docs.where($"path" === "zz_pinned.scala")
      .select($"docId").as[Int].head()
    val sBig = fed.find(r => r._1 == "big" && r._2 == pinnedBig).map(_._3)
    val sSmall = fed.find(r => r._1 == "small" && r._2 == pinnedSmall).map(_._3)
    assert(sBig.isDefined && sBig == sSmall,
      s"normalized scores must agree: $sBig vs $sSmall")
  }
}
