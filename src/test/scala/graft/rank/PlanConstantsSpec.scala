package graft.rank

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.corpus.SourceFile
import graft.functions.BM25
import graft.index.{IndexBuild, IndexConfig}
import graft.search.{QueryTerm, SearchEngine}

/** Query-local constants (idf, term → (slot, cost, exact), term → slot)
  * ride in the decode closures instead of broadcast-joined driver
  * tables, and the eager top-k page is merged on the driver. Every
  * shape here is checked row for row against the broadcast-join shape
  * it replaced, built inline, on an index with tombstones. */
class PlanConstantsSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val deleted = Seq(4, 9, 30)

  lazy val engine: SearchEngine = {
    val dir = tempDir("planconst")
    // 150 "pre<xy>" terms for an on-the-fly prefix expansion; "quack"
    // is absent, so its typo derivation "quick" is shared with the
    // "quick" slot
    val corpus = (0 until 150).map { i =>
      SourceFile(f"r$i%03d", f"p$i%03d.scala", f"c$i%04d", "scala",
        Seq(if (i % 3 == 0) "foo bar foo" else "bar",
          s"pre${('a' + i / 26).toChar}${('a' + i % 26).toChar}",
          if (i % 4 == 0) "quick brown" else "quirk brown",
          if (i % 5 == 0) "foo" else "baz").mkString(" "))
    }.toDS()
    IndexBuild.build(spark, corpus, dir, IndexConfig(docsPerShard = 16,
      termBuckets = 2, blockSize = 4, numPartitions = 2, positions = true))
    IndexBuild.delete(spark, dir, deleted, "d1")
    new SearchEngine(spark, dir)
  }
  lazy val mr = new MeiliRank(engine)

  /** searchDF's shape before the change: the (term, idf) table
    * broadcast-joined onto the decoded postings, live-only doclen. */
  private def oldSearchDF(q: String, k: Int, conj: Boolean): Seq[(Int, Double)] = {
    val terms = engine.analyze(q)
    val idfDf = terms.map(t => (t.term, t.idf)).toDF("term", "idf")
    val joined = engine.decoded(terms).toDF().join(broadcast(idfDf), Seq("term"))
    val agg = engine.doclen.join(broadcast(joined), Seq("docId"))
      .withColumn("tscore", $"idf" * $"tf" * lit(BM25.K1 + 1.0) /
        ($"tf" + lit(BM25.K1) * (lit(1.0 - BM25.B) +
          lit(BM25.B) * $"len" / lit(engine.avgdl))))
      .groupBy($"docId")
      .agg(count(lit(1)).as("nMatched"),
        aggregate(array_sort(collect_list(struct($"term", $"tscore"))),
          lit(0.0), (acc, x) => acc + x.getField("tscore")).as("score"))
    (if (conj) agg.filter($"nMatched" === terms.size) else agg)
      .select($"docId", $"score").orderBy($"score".desc, $"docId".asc).limit(k)
      .as[(Int, Double)].collect().toSeq
  }

  test("searchDF carries idf in the decode: same rows as the idf broadcast join") {
    for ((q, conj) <- Seq(("foo foo", true), ("foo quick", true),
        ("foo quick brown", false), ("bar preah baz", false))) {
      val got = engine.searchDF(q, 50, conj).as[(Int, Double)].collect().toSeq
      assert(got.nonEmpty, q)
      assert(got == oldSearchDF(q, 50, conj), s"'$q' conj=$conj")
      assert(!got.exists(h => deleted.contains(h._1)))
    }
  }

  /** The (term, slot, cost, exact) table slotMatchRows used to
    * broadcast, for the plain derivations of `slots`. */
  private def derivTable(slots: Seq[Slot]): Seq[(String, Int, Int, Int)] =
    slots.flatMap(s => s.derivations.map { case (t, c) =>
      (t, s.idx, c, if (t == s.original) 1 else 0)
    })

  private def sorted4(df: DataFrame): Seq[(Int, Int, Int, Int)] =
    df.as[(Int, Int, Int, Int)].collect().toSeq.sorted

  private def oldMatchRows(slots: Seq[Slot], fids: Option[Set[Int]]): Seq[(Int, Int, Int, Int)] = {
    val rows = derivTable(slots)
    val dt = rows.toDF("term", "slot", "cost", "isExact")
    val terms = rows.map(_._1).distinct
    val occ = fids match {
      case Some(_) => engine.positionRows(terms, fids).select($"term", $"docId")
      case None => engine.decoded(terms.map(t => QueryTerm(t, 0L, 0.0,
        IndexBuild.bucketOf(t, engine.termBuckets)))).toDF().select($"term", $"docId")
    }
    sorted4(occ.join(broadcast(dt), Seq("term"))
      .select($"docId", $"slot", $"cost", $"isExact"))
  }

  private def oldPositions(slots: Seq[Slot], fids: Option[Set[Int]]): Seq[(Int, Int, Int)] = {
    val rows = slots.flatMap(s => s.derivations.map(d => (d._1, s.idx)))
    val dt = rows.toDF("term", "slot")
    engine.positionRows(rows.map(_._1).distinct, fids)
      .join(broadcast(dt), Seq("term")).select($"docId", $"slot", $"pos")
      .as[(Int, Int, Int)].collect().toSeq.sorted
  }

  /** (description, slots) of the cases the closure fan-out must get
    * right: a repeated word, one typo derivation shared by two slots, a
    * 100+-term prefix expansion. */
  private lazy val cases: Seq[(String, Seq[Slot])] = {
    val repeated = mr.analyze("foo foo")
    assert(repeated.size == 2 && repeated.forall(_.derivations.exists(_._1 == "foo")))
    val typo = mr.analyze("quack quick")
    assert(typo.forall(_.derivations.exists(_._1 == "quick")),
      s"'quick' must derive in both slots: $typo")
    assert(typo.head.derivations.find(_._1 == "quick").get._2 == 1)
    val prefix = mr.analyze("foo pre", lastIsPrefix = true)
    assert(prefix.last.derivations.size >= 100,
      s"prefix expansion too small: ${prefix.last.derivations.size}")
    Seq(("repeated word", repeated), ("shared typo derivation", typo),
      ("prefix expansion", prefix))
  }

  test("slot match rows fan out per slot exactly like the term-table broadcast join") {
    for ((what, slots) <- cases; fids <- Seq(None, Some(Set(0)))) {
      assert(slots.forall(s => s.phraseDerivs.isEmpty && s.prefixDerivs.isEmpty))
      val rows = mr.slotMatchRows(slots, fids)
      val got = sorted4(rows.drop("len"))
      assert(got.nonEmpty, what)
      assert(got == oldMatchRows(slots, fids), s"$what, fids=$fids")
      assert(!got.exists(r => deleted.contains(r._1)), what)
      // each row carries its doc's length as stored beside the posting
      val lens = engine.doclen.as[(Int, Int)].collect().toMap
      assert(rows.select($"docId", $"len").as[(Int, Int)].collect()
        .forall { case (d, len) => lens.get(d).contains(len) }, s"$what: len")
    }
  }

  test("slot positions fan out per slot exactly like the term-table broadcast join") {
    for ((what, slots) <- cases; fids <- Seq(None, Some(Set(0)), Some(Set(1)))) {
      val got = mr.slotPositions(slots, fids).as[(Int, Int, Int)].collect().toSeq.sorted
      assert(got.nonEmpty == !fids.contains(Set(1)), s"$what, fids=$fids")
      assert(got == oldPositions(slots, fids), s"$what, fids=$fids")
    }
  }

  test("adjacency counts equal the pair-table broadcast join") {
    val pairs = Seq(("foo", "bar"), ("bar", "foo"), ("quick", "brown"),
      ("foo", "baz"), ("quirk", "brown"))
    val pos = engine.positionsFor(pairs.flatMap(p => Seq(p._1, p._2)).distinct)
      .select($"term", $"docId", explode($"positions").as("p"))
    val old = broadcast(pairs.toDF("l", "r"))
      .join(pos.toDF("l", "docId", "p1"), Seq("l"))
      .join(pos.toDF("r", "docId", "p2"), Seq("r", "docId"))
      .where($"p2" === $"p1" + 1)
      .select($"l", $"r", $"docId").distinct()
      .groupBy($"l", $"r").count()
      .as[(String, String, Long)].collect().map(r => ((r._1, r._2), r._3)).toMap
    val got = engine.adjacencyCounts(pairs)
    assert(got.nonEmpty && got == old)
  }

  test("eager page with showRankingScoreDetails equals the broadcast-joined page") {
    for (q <- Seq("foo quick brown", "quack quick", "foo foo")) {
      val k = 7
      val got = mr.search(q, k, withScoreDetails = true).collect().toSeq
      // the page before the change: local top-k rows broadcast-joined
      // with the docId-pruned doc scan, re-sorted
      val (filtered, sortCols, _) = mr.scoredUniverse(q)
      val top = filtered.orderBy(sortCols: _*).limit(k)
      val rows = top.collect()
      val topDf = spark.createDataFrame(java.util.Arrays.asList(rows: _*), top.schema)
      val old = broadcast(topDf)
        .join(engine.docsRaw.filter($"docId".isin(rows.map(_.getAs[Int]("docId")): _*)),
          Seq("docId"))
        .orderBy(sortCols: _*).limit(k)
        .select(Seq("docId", "wordsRank", "typoCost", "proxCost", "fidCost",
          "posCost", "exactAttr", "exactWords", "rankingScore", "repo", "path",
          "lang", "_rankingScoreDetails").map(col): _*)
        .collect().toSeq
      assert(got.size == k, q)
      assert(got == old, q)
      assert(got.head.getAs[Row]("_rankingScoreDetails") != null)
    }
  }
}
