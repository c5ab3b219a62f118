package graft.search

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.corpus.CorpusGen
import graft.functions.{BM25, Tokenizer}
import graft.index.{IndexBuild, IndexConfig, Lineage}

/** End-to-end: build index over a deterministic synthetic corpus, then
  * assert the Spark engine is rank-identical to an independent
  * brute-force in-memory reference (the fixture-generation strategy of
  * FIXTURES.md §3: both sides derive from the same published BM25
  * semantics, computed by entirely different code paths). */
class IndexSearchSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val nDocs = 400
  lazy val indexDir: String = {
    val dir = tempDir("graftidx")
    val corpus = CorpusGen.generate(spark, nDocs).as[graft.corpus.SourceFile]
    IndexBuild.build(spark, corpus, dir,
      IndexConfig(docsPerShard = 64, termBuckets = 4, blockSize = 16,
        numPartitions = 4))
    dir
  }
  lazy val engine = new SearchEngine(spark, indexDir)

  /** Brute-force reference: plain Scala, no Spark. */
  lazy val ref: BruteForce = {
    val corpus = CorpusGen.generate(spark, nDocs)
      .select("repo", "path", "commit", "content")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(t => (t._1, t._2, t._3))
    new BruteForce(corpus.map(_._4))
  }

  val queries = Seq("merge buffer", "return import", "parse block segment",
    "row count", "flush", "doesnotexist", "encode decode pack")

  test("doc count and per-row sha256 invariant") {
    val docs = engine.docs
    assert(docs.count() == nDocs)
    import org.apache.spark.sql.functions._
    val bad = docs.filter(sha2(col("content"), 256) =!= col("content_sha256")).count()
    assert(bad == 0, "content_sha256 must equal sha2(content)")
  }

  test("docids are dense 0..N-1 by PK order") {
    val ids = engine.docs.select("docId").as[Int].collect().sorted
    assert(ids.sameElements(0 until nDocs))
  }

  test("dictionary df/cf match brute force") {
    val dict = spark.read.parquet(s"$indexDir/dict")
      .select("term", "df", "cf").as[(String, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(dict == ref.dict)
  }

  test("searchDF AND is rank-identical to brute force") {
    queries.foreach { q =>
      val got = engine.searchDF(q, 10, conjunctive = true)
        .as[(Int, Double)].collect().toSeq
      val want = ref.topK(q, 10, conjunctive = true)
      assert(got.map(_._1) == want.map(_._1), s"docids differ for '$q': got=$got want=$want")
      got.zip(want).foreach { case ((_, s1), (_, s2)) =>
        assert(math.abs(s1 - s2) < 1e-9, s"score drift for '$q'")
      }
    }
  }

  test("searchDF OR is rank-identical to brute force") {
    queries.foreach { q =>
      val got = engine.searchDF(q, 10, conjunctive = false)
        .as[(Int, Double)].collect().toSeq
      val want = ref.topK(q, 10, conjunctive = false)
      assert(got.map(_._1) == want.map(_._1), s"docids differ for '$q'")
    }
  }

  test("block-max WAND == declarative plan (AND and OR)") {
    queries.foreach { q =>
      Seq(true, false).foreach { conj =>
        val a = engine.searchDF(q, 10, conj).as[(Int, Double)].collect().toSeq
        val b = engine.searchWand(q, 10, conj).as[(Int, Double)].collect().toSeq
        assert(a.map(_._1) == b.map(_._1), s"WAND docids differ for '$q' conj=$conj: df=$a wand=$b")
        a.zip(b).foreach { case ((_, s1), (_, s2)) =>
          assert(math.abs(s1 - s2) < 1e-9) }
      }
    }
  }

  test("filtered search restricts the universe") {
    val all = engine.searchHits("merge buffer", 50)
    val scala_ = engine.searchHits("merge buffer", 50, Some("lang = scala"))
    assert(scala_.count() <= all.count())
    assert(scala_.select("lang").distinct().as[String].collect().toSeq == Seq("scala")
      || scala_.count() == 0)
  }

  test("lineage rows committed for every stage") {
    val lin = Lineage.read(spark, indexDir)
    val stages = lin.select("stage").distinct().as[String].collect().toSet
    assert(stages.contains("docs"))
    assert(Lineage.isCommitted(spark, indexDir, "postings"))
    // posting counts in lineage == total (doc,term) pairs
    val linPostings = lin.filter($"stage".startsWith("postings"))
      .agg(org.apache.spark.sql.functions.sum("postingCount")).as[Long].head()
    assert(linPostings == ref.totalPostings)
  }

  test("resume: a re-run build skips committed stages (no-op, same results)") {
    val before = engine.searchDF("merge buffer", 5).as[(Int, Double)].collect().toSeq
    val corpus = CorpusGen.generate(spark, nDocs).as[graft.corpus.SourceFile]
    IndexBuild.build(spark, corpus, indexDir,
      IndexConfig(docsPerShard = 64, termBuckets = 4, blockSize = 16,
        numPartitions = 4))
    val after = new SearchEngine(spark, indexDir)
      .searchDF("merge buffer", 5).as[(Int, Double)].collect().toSeq
    assert(before == after)
  }
}

/** Independent in-memory BM25 reference (no Spark, no shared code with
  * the engine except the tokenizer spec, which *is* the contract). */
final class BruteForce(contents: Array[String],
                       langs: Array[String] = Array.empty) {
  val docTerms: Array[Map[String, Int]] =
    contents.map(c => Tokenizer.terms(c).groupBy(identity).map { case (t, xs) => t -> xs.size })
  val docLens: Array[Int] = contents.map(c => Tokenizer.terms(c).size)
  val n: Long = contents.length.toLong
  val avgdl: Double = docLens.sum.toDouble / n
  val dict: Map[String, (Long, Long)] = {
    val m = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    docTerms.foreach(_.foreach { case (t, tf) =>
      val (df, cf) = m.getOrElse(t, (0L, 0L)); m.update(t, (df + 1, cf + tf))
    })
    m.toMap
  }
  val totalPostings: Long = docTerms.map(_.size.toLong).sum

  def topK(q: String, k: Int, conjunctive: Boolean,
           langFilter: Option[String] = None): Seq[(Int, Double)] = {
    val terms = Tokenizer.terms(q).distinct.filter(dict.contains)
    if (terms.isEmpty) return Nil
    val universe = (0 until n.toInt).filter(d =>
      langFilter.forall(lf => langs.nonEmpty && langs(d) == lf))
    val scored = universe.flatMap { d =>
      val present = terms.filter(docTerms(d).contains)
      if (present.isEmpty || (conjunctive && present.size != terms.size)) None
      else {
        // ascending-term sum order: the engine's determinism contract
        val s = present.sorted.foldLeft(0.0) { (acc, t) =>
          acc + BM25.termScore(docTerms(d)(t), docLens(d), avgdl, dict(t)._1, n)
        }
        Some((d, s))
      }
    }
    scored.sortBy { case (d, s) => (-s, d) }.take(k)
  }
}
